"""Seeded input generator owned by the benchmark.

Everything a workload reads is made here from ``--seed`` with numpy and
written with pyarrow, so a change to the program cannot change what the
benchmark feeds it. The same seed gives byte-identical files.

Two row shapes share the detections schema of the paper's dataA
(``geographical_location_oid, video_camera_oid, detection_oid,
item_name, timestamp_detected``):

- ``detections``: the combiner job's input. Unclustered, a share of
  exact duplicate rows (same ``detection_oid``), 25 locations with
  location 1 skewed, 40 items with a per-location popularity order.
- ``table_rows``: rows for the versioned-table workloads. Unique,
  ascending ``detection_oid`` and ``timestamp_detected`` (so zone maps
  prune on both), and a high-cardinality ``video_camera_oid`` spread
  over every file (the unclustered key that only bloom filters prune).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_LOCATIONS = 25
SKEWED_LOCATION = 1
SKEW = 5
N_ITEMS = 40
ITEM_NAMES = [f"item_{i:02d}" for i in range(N_ITEMS)]
# dataB names every location but one and adds one no detection uses,
# so the "Unknown" default and the unmatched dim row are both exercised.
MISSING_LOCATION = N_LOCATIONS
EXTRA_LOCATION = N_LOCATIONS + 1
TS0 = 1_700_000_000_000

SCHEMA = pa.schema(
    [
        ("geographical_location_oid", pa.int64()),
        ("video_camera_oid", pa.int64()),
        ("detection_oid", pa.int64()),
        ("item_name", pa.string()),
        ("timestamp_detected", pa.int64()),
    ]
)
COLUMNS = SCHEMA.names


def rng_for(seed: int, *salt: int) -> np.random.Generator:
    """One independent stream per (seed, purpose...) so adding a draw in
    one place never shifts the inputs of another."""
    return np.random.default_rng([seed, *salt])


def _locations(rng: np.random.Generator, n: int) -> np.ndarray:
    w = np.ones(N_LOCATIONS)
    w[SKEWED_LOCATION - 1] = SKEW
    return rng.choice(np.arange(1, N_LOCATIONS + 1), size=n, p=w / w.sum())


def _items(rng: np.random.Generator, loc: np.ndarray) -> pa.Array:
    """Item names with a Zipf-like popularity whose order differs per
    location, so every location has its own top list."""
    w = 1.0 / np.arange(1, N_ITEMS + 1) ** 0.7
    rank = rng.choice(N_ITEMS, size=len(loc), p=w / w.sum())
    perms = np.stack([rng.permutation(N_ITEMS) for _ in range(N_LOCATIONS + 1)])
    idx = perms[loc, rank]
    return pa.array(ITEM_NAMES).take(pa.array(idx))


def detections(
    rng: np.random.Generator, n_rows: int, dup_frac: float, n_cameras: int
) -> pa.Table:
    """dataA rows: ``dup_frac`` of them repeat an earlier detection
    exactly, all shuffled."""
    n_dup = int(round(n_rows * dup_frac))
    n_unique = n_rows - n_dup
    oid = rng.permutation(n_unique).astype(np.int64) * 7 + 1_000_003
    loc = _locations(rng, n_unique)
    cam = rng.integers(1, n_cameras + 1, size=n_unique, dtype=np.int64)
    ts = TS0 + np.sort(rng.integers(0, 86_400_000, size=n_unique))
    base = pa.table(
        [loc.astype(np.int64), cam, oid, _items(rng, loc), ts], schema=SCHEMA
    )
    order = rng.permutation(
        np.concatenate(
            [np.arange(n_unique), rng.integers(0, n_unique, size=n_dup)]
        )
    )
    return base.take(pa.array(order))


def locations() -> pa.Table:
    """dataB: one name per location id, missing one used id and
    carrying one unused id."""
    ids = [i for i in range(1, EXTRA_LOCATION + 1) if i != MISSING_LOCATION]
    return pa.table(
        {
            "geographical_location_oid": pa.array(ids, pa.int64()),
            "geographical_location": pa.array([f"loc_{i:02d}" for i in ids]),
        }
    )


def table_rows(
    rng: np.random.Generator,
    first_oid: int,
    n_rows: int,
    n_cameras: int,
    stride: int = 1,
) -> pa.Table:
    """Unique rows with keys ``first_oid, first_oid + stride, ...``,
    timestamps ascending with the key (ten ms per key step)."""
    oid = first_oid + stride * np.arange(n_rows, dtype=np.int64)
    loc = _locations(rng, n_rows)
    cam = rng.integers(1, n_cameras + 1, size=n_rows, dtype=np.int64)
    ts = TS0 + oid * 10 + rng.integers(0, 10, size=n_rows)
    return pa.table(
        [loc.astype(np.int64), cam, oid, _items(rng, loc), ts], schema=SCHEMA
    )


def write_files(table: pa.Table, directory: str, n_files: int) -> list[str]:
    """Split ``table`` into ``n_files`` contiguous snappy Parquet files."""
    os.makedirs(directory, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    paths = []
    for i in range(n_files):
        path = os.path.join(directory, f"part-{i:05d}.parquet")
        pq.write_table(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            path,
            compression="snappy",
        )
        paths.append(path)
    return paths


def describe(directory: str) -> dict:
    """Rows, bytes, files and content digest of one generated input."""
    files = sorted(
        os.path.join(directory, f)
        for f in os.listdir(directory)
        if f.endswith(".parquet")
    )
    digest = hashlib.sha256()
    for f in files:
        with open(f, "rb") as fh:
            digest.update(fh.read())
    return {
        "rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
        "bytes": sum(os.path.getsize(f) for f in files),
        "files": len(files),
        "sha256": digest.hexdigest()[:16],
    }
