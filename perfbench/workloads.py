"""The three workloads: what each generates, runs per pass, and checks.

A workload has four parts, called by :mod:`run`:

- ``build(b, d)``: generate the inputs into directory ``d``, build
  what the passes start from and forget the outputs of earlier builds.
  Run once in set-up, and once more for a traced run.
- ``prepare(b, p)``: generate pass ``p``'s own inputs, untimed.
- ``run_pass(b, p)``: the timed op mix; every op goes through ``b.op``.
- ``check(b)``: compare every recorded output against an independent
  answer (DuckDB over the generated Parquet, or an unpruned read) and
  mark the ops whose output is wrong.
- ``stored(b)``: bytes and rows the workload keeps on disk.

``headline`` names the op kind whose median is ``op_p50_s``; ``warmups``
is how many passes set-up runs; ``nominal_pass_s`` is about what one
measured pass took on the reference host (4-vCPU VM, see
``baseline.json``), so ``--seconds`` buys ``round(seconds /
nominal_pass_s)`` passes whatever the speed of the program.

Sizes are chosen so one run of each workload, set-up included, stays
under a minute on a 4-core box; ``tiny`` shrinks them for the smoke
test.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen

LOC = "geographical_location_oid"
OID = "detection_oid"
TS = "timestamp_detected"
CAM = "video_camera_oid"


def _files(d: str) -> list[str]:
    return sorted(
        os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
    )


def dir_bytes(d: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(d)
        for f in fs
    )


def _key_range(uri: str) -> tuple[int, int]:
    """Min and max ``detection_oid`` of one data file, from its footer."""
    md = pq.ParquetFile(uri.removeprefix("file:")).metadata
    col = md.schema.names.index(OID)
    stats = [md.row_group(g).column(col).statistics
             for g in range(md.num_row_groups)]
    return min(s.min for s in stats), max(s.max for s in stats)


def _plist(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


def _hash_sql(rel: str) -> str:
    cols = ", ".join(gen.COLUMNS)
    return f"SELECT count(*), coalesce(bit_xor(hash({cols})), 0) FROM {rel}"


def _spark_digest(df):
    """(rows, xor of row hashes) of a DataFrame, reading every column."""
    from pyspark.sql import functions as F

    r = df.agg(
        F.count(F.lit(1)), F.bit_xor(F.xxhash64(*gen.COLUMNS))
    ).first()
    return int(r[0]), int(r[1] or 0)


class Workload:
    """Defaults shared by the workloads below."""

    warmups = 1  # passes run in set-up, before the measured ones

    def prepare(self, b, p: int) -> None:
        pass

    def files_written(self, first_pass: int) -> float:
        """Files per ``write_parquet`` call (only the combiner calls it)."""
        return 0.0


# ---------------------------------------------------------------------------


class CombinerTopx(Workload):
    """The paper's batch job: ``process_parquet_files`` (top-X items per
    location) then ``all_aggregations`` writing its three outputs."""

    name = "combiner_topx"
    headline = "topx"
    # its pass times still fall by a quarter over the three passes after
    # one warm-up, and the median sat on that slope
    warmups = 2
    nominal_pass_s = 4.2

    def __init__(self, tiny: bool) -> None:
        self.rows = 20_000 if tiny else 1_000_000
        self.n_files = 2 if tiny else 8
        self.top_x = 5

    def build(self, b, d: str) -> None:
        self.outputs: list[tuple[str, str, int]] = []  # (kind, dir, op idx)
        rng = gen.rng_for(b.seed, 1)
        gen.write_files(gen.detections(rng, self.rows, 0.15, 200),
                        os.path.join(d, "dataA"), self.n_files)
        gen.write_files(gen.locations(), os.path.join(d, "dataB"), 1)
        self.a = os.path.join(d, "dataA")
        self.b = os.path.join(d, "dataB")
        self.out = os.path.join(d, "out")
        b.inputs = {"dataA": gen.describe(self.a), "dataB": gen.describe(self.b)}

    def run_pass(self, b, p: int) -> None:
        from parquet_combiner_spark import pipeline
        from parquet_combiner_spark.sources import io

        topx = os.path.join(self.out, f"p{p}", "topx")
        i = b.op("topx", pipeline.process_parquet_files,
                 b.spark, self.a, self.b, topx, self.top_x)
        self.outputs.append(("topx", topx, i))

        def all_aggs() -> None:
            res = pipeline.all_aggregations(
                io.read_data_a(b.spark, self.a),
                io.read_data_b(b.spark, self.b), self.top_x)
            for k in ("top_items", "item_count", "location_stats"):
                io.write_parquet(res[k], os.path.join(self.out, f"p{p}", k))
            res["_deduped"].unpersist()

        i = b.op("all_aggs", all_aggs)
        for k in ("top_items", "item_count", "location_stats"):
            self.outputs.append((k, os.path.join(self.out, f"p{p}", k), i))

    def expected(self) -> dict[str, list]:
        a, bb = _plist(_files(self.a)), _plist(_files(self.b))
        con = duckdb.connect()
        con.execute(f"""
            CREATE TEMP VIEW d AS
              SELECT DISTINCT {LOC}, {CAM}, {OID}, item_name FROM read_parquet({a});
            CREATE TEMP VIEW c AS
              SELECT {LOC}, item_name, count(*) AS cnt FROM d GROUP BY ALL;
            CREATE TEMP VIEW r AS
              SELECT *, row_number() OVER (PARTITION BY {LOC}
                  ORDER BY cnt DESC, item_name ASC NULLS FIRST) AS rk FROM c;
        """)
        top = con.execute(f"""
            SELECT coalesce(l.geographical_location, 'Unknown'),
                   CAST(rk AS VARCHAR), item_name
            FROM r LEFT JOIN read_parquet({bb}) l USING ({LOC})
            WHERE rk <= {self.top_x}""").fetchall()
        counts = con.execute(f"SELECT {LOC}, item_name, cnt FROM c").fetchall()
        # mode camera: most detections, then the lowest id
        stats = con.execute(f"""
            SELECT {LOC}, count(*)::BIGINT, count(DISTINCT item_name)::BIGINT,
                (SELECT {CAM} FROM d d2 WHERE d2.{LOC} = d.{LOC}
                 GROUP BY {CAM} ORDER BY count(*) DESC, {CAM} LIMIT 1)
            FROM d GROUP BY {LOC}""").fetchall()
        con.close()
        return {"topx": top, "top_items": top, "item_count": counts,
                "location_stats": stats}

    def check(self, b) -> None:
        want = {k: sorted(v, key=repr) for k, v in self.expected().items()}
        for kind, d, i in self.outputs:
            got = sorted(
                (tuple(r.values()) for r in
                 pq.read_table(_files(d)).to_pylist()), key=repr)
            if got != want[kind]:
                b.fail(i, f"{kind} output in {d} differs from DuckDB "
                          f"({len(got)} vs {len(want[kind])} rows)")

    def files_written(self, first_pass: int) -> float:
        """Files per ``write_parquet`` call from pass ``first_pass`` on."""
        dirs = [d for _, d, _ in self.outputs
                if int(os.path.basename(os.path.dirname(d))[1:]) >= first_pass]
        return sum(len(_files(d)) for d in dirs) / max(1, len(dirs))

    def stored(self, b) -> tuple[int, int]:
        """Bytes and rows of the last pass's four outputs."""
        last = self.outputs[-4:]
        return (sum(dir_bytes(d) for _, d, _ in last),
                sum(pq.read_table(_files(d)).num_rows for _, d, _ in last))


# ---------------------------------------------------------------------------


class TableWrite(Workload):
    """The txlog write path on a table that fits in memory: appends,
    streamed micro-batches, cow/dv deletes, a dv update, a CDF merge
    and a compaction per pass.

    Key layout: base rows hold the even ``detection_oid`` values, so a
    merge can insert odd keys inside the key range it updates; fresh
    appends take keys above the base. The cow delete and the merge each
    hit one base file (a 1,000-row slot that never straddles two), the
    dv delete and dv update hit this pass's appended files. Compaction
    therefore only packs recent small files and never merges base files
    of distant key ranges, so each pass touches the same number of
    files whatever the seed."""

    name = "table_write"
    headline = "append"
    nominal_pass_s = 6.8
    SLOT = 1000  # rows per base-key slot; each op on the base gets its own
    CAMERAS = 5_000_000

    def __init__(self, tiny: bool) -> None:
        self.base_rows = 20_000 if tiny else 250_000
        self.base_files = 2 if tiny else 8
        self.appends, self.append_rows = 4, (500 if tiny else 5_000)
        self.batches, self.batch_rows = (3 if tiny else 8), (200 if tiny else 1_000)
        self.merge_old, self.merge_new = (100, 50) if tiny else (600, 300)

    def build(self, b, d: str) -> None:
        from parquet_combiner_spark.tools import txlog

        self.d = d
        self.table = os.path.join(d, "table")
        base = os.path.join(d, "base")
        rng = gen.rng_for(b.seed, 2)
        gen.write_files(
            gen.table_rows(rng, 0, self.base_rows, self.CAMERAS, stride=2),
            base, self.base_files)
        # sorted, so each table file holds one contiguous key range
        txlog.commit(b.spark.read.parquet(base).orderBy(OID), self.table)
        txlog.set_stats_cols(self.table, [OID, TS])
        self.next_oid = 2 * self.base_rows
        ranges = [_key_range(f) for f in
                  txlog.read_table(b.spark, self.table).inputFiles()]
        span = 2 * self.SLOT
        whole = [k for k in range(self.base_rows // self.SLOT)
                 if sum(lo <= (k + 1) * span - 1 and hi >= k * span
                        for lo, hi in ranges) == 1]
        self.slots = gen.rng_for(b.seed, 3).permutation(whole)
        # model of every op, replayed by check
        self.script: list[tuple] = [("insert", _files(base))]
        b.inputs = {"base": gen.describe(base)}

    def prepare(self, b, p: int) -> None:
        rng = gen.rng_for(b.seed, 4, p)
        pd = os.path.join(self.d, f"pass{p}")
        self.append_files, firsts = [], []
        for k in range(self.appends):
            t = gen.table_rows(rng, self.next_oid, self.append_rows, self.CAMERAS)
            firsts.append(self.next_oid)
            self.next_oid += self.append_rows
            self.append_files += gen.write_files(t, os.path.join(pd, f"a{k}"), 1)
        self.stream_src = os.path.join(pd, "stream")
        os.makedirs(self.stream_src, exist_ok=True)
        for k in range(self.batches):
            t = gen.table_rows(rng, self.next_oid, self.batch_rows, self.CAMERAS)
            self.next_oid += self.batch_rows
            pq.write_table(t, os.path.join(self.stream_src, f"b{k:03d}.parquet"),
                           compression="snappy")
        # cow delete: part of one base slot; dv delete and dv update: part
        # of the first and second file appended in this pass
        n = len(self.slots)
        lo = 2 * int(self.slots[(2 * p) % n]) * self.SLOT
        self.ranges = [(lo, lo + 2 * int(rng.integers(self.SLOT // 2, self.SLOT)))]
        for first in firsts[:2]:
            w = int(rng.integers(self.append_rows // 10, self.append_rows // 5))
            lo = first + int(rng.integers(0, self.append_rows - w))
            self.ranges.append((lo, lo + w - 1))
        # merge: newer versions of even keys in another base slot, plus
        # odd keys in the same slot that the table does not hold yet
        lo = 2 * int(self.slots[(2 * p + 1) % n]) * self.SLOT
        old = gen.table_rows(rng, lo, self.merge_old, self.CAMERAS, stride=2)
        old = old.set_column(4, TS, pc.add(old.column(TS), 10))
        new = gen.table_rows(rng, lo + 1, self.merge_new, self.CAMERAS, stride=2)
        self.merge_file = gen.write_files(
            pa.concat_tables([old, new]), os.path.join(pd, "merge"), 1)[0]
        b.inputs.setdefault("per_pass", {
            "appends": self.appends, "append_rows": self.append_rows,
            "batches": self.batches, "batch_rows": self.batch_rows,
            "merge_rows": self.merge_old + self.merge_new,
        })
        b.user_bytes += sum(os.path.getsize(f) for f in self.append_files)
        b.user_bytes += dir_bytes(self.stream_src) + os.path.getsize(self.merge_file)

    def run_pass(self, b, p: int) -> None:
        from parquet_combiner_spark import schemas
        from parquet_combiner_spark.streaming import txlog_sink
        from parquet_combiner_spark.tools import txlog

        spark, t = b.spark, self.table
        for f in self.append_files:
            b.op("append", lambda f=f: txlog.commit(spark.read.parquet(f), t))
            self.script.append(("insert", [f]))
        b.op("stream", txlog_sink.stream_to_txlog_available_now, spark,
             self.stream_src, t, schemas.DATA_A_SCHEMA, 1, f"bench-{p}")
        self.script.append(("insert", _files(self.stream_src)))
        (d1, d2), (x1, x2), (u1, u2) = self.ranges
        b.op("delete", txlog.delete_where_expr, spark, t,
             f"{OID} BETWEEN {d1} AND {d2}", mode="cow")
        b.op("delete_dv", txlog.delete_where_expr, spark, t,
             f"{OID} BETWEEN {x1} AND {x2}", mode="dv")
        b.op("update_dv", txlog.update_where_expr, spark, t,
             f"{OID} BETWEEN {u1} AND {u2}", {"item_name": f"'upd_{p}'"},
             mode="dv")
        self.script += [("delete", d1, d2), ("delete", x1, x2),
                        ("update", u1, u2, f"upd_{p}")]
        b.op("merge", lambda: txlog.merge_into(
            spark, t, spark.read.parquet(self.merge_file), [OID], [TS],
            cdf=True))
        self.script.append(("merge", self.merge_file))
        # base files (~0.5 MB) stay out; appends, micro-batches, dv
        # updates and every file carrying a deletion vector go in
        b.op("compact", txlog.compact_small_files, spark, t,
             target_file_mb=1, small_file_mb=0.2)
        self.last_op = len(b.ops) - 1

    def model_digest(self) -> tuple[int, int]:
        con = duckdb.connect()
        first = self.script[0][1]
        con.execute(f"CREATE TABLE m AS SELECT * FROM read_parquet({_plist(first)})")
        for step in self.script[1:]:
            if step[0] == "insert":
                con.execute(f"INSERT INTO m SELECT * FROM read_parquet({_plist(step[1])})")
            elif step[0] == "delete":
                con.execute(f"DELETE FROM m WHERE {OID} BETWEEN {step[1]} AND {step[2]}")
            elif step[0] == "update":
                con.execute(f"UPDATE m SET item_name = '{step[3]}' "
                            f"WHERE {OID} BETWEEN {step[1]} AND {step[2]}")
            else:  # merge: every batch row carries a newer version
                con.execute(f"""
                    DELETE FROM m WHERE {OID} IN
                      (SELECT {OID} FROM read_parquet('{step[1]}'));
                    INSERT INTO m SELECT * FROM read_parquet('{step[1]}')""")
        out = con.execute(_hash_sql("m")).fetchone()
        con.close()
        return int(out[0]), int(out[1])

    def snapshot_digest(self, b) -> tuple[int, int]:
        from parquet_combiner_spark.tools import txlog

        arrow = txlog.read_table(b.spark, self.table).select(*gen.COLUMNS).toArrow()
        con = duckdb.connect()
        con.register("s", arrow)
        out = con.execute(_hash_sql("s")).fetchone()
        con.close()
        return int(out[0]), int(out[1])

    def check(self, b) -> None:
        want, got = self.model_digest(), self.snapshot_digest(b)
        if got != want:
            b.fail(self.last_op, f"final snapshot (rows, hash) {got} != "
                                 f"model {want}")

    def stored(self, b) -> tuple[int, int]:
        from parquet_combiner_spark.tools import txlog

        return dir_bytes(self.table), txlog.read_table(b.spark, self.table).count()


# ---------------------------------------------------------------------------


class TableRead(Workload):
    """The txlog read path: pruned point and range reads, time travel,
    change-feed reads and one full aggregate; nothing is committed in
    the measured phase.

    Each commit writes two files (first and second half of its key
    range). The seed picks values, never structure: the dv delete hits
    commit 1's first file and the CDF update commit ``commits - 2``'s;
    point read ``k`` looks up one camera from the first file of each of
    five consecutive commits (starting at commit ``k``); range band
    ``j`` lies inside the second file of commit ``j``. So every seed
    reads the same number of files, with and without deletion
    vectors."""

    name = "table_read"
    headline = "point"
    nominal_pass_s = 2.9
    BANDS = 5
    POINTS = 2
    IN_LIST = 5
    CAMERAS = 50_000_000

    def __init__(self, tiny: bool) -> None:
        self.commits = 6
        self.commit_rows = 2_000 if tiny else 50_000

    def _half(self, rng, commit: int, second: bool, width: int) -> tuple[int, int]:
        """A seeded ``width``-key range inside one half of a commit."""
        half = self.commit_rows // 2
        lo = commit * self.commit_rows + (half if second else 0)
        lo += int(rng.integers(0, half - width))
        return lo, lo + width - 1

    def build(self, b, d: str) -> None:
        from parquet_combiner_spark.tools import txlog

        self.d, self.table = d, os.path.join(d, "table")
        self.reads: list[tuple[int, str, tuple]] = []  # (op, predicate, digest)
        self.travels: list[tuple[int, int, tuple]] = []
        self.cdfs: list[tuple[int, dict]] = []
        self.aggs: list[tuple[int, list]] = []
        rng = gen.rng_for(b.seed, 5)
        self.commit_files, self.versions, self.cams = [], [], []
        for v in range(self.commits):
            t = gen.table_rows(rng, v * self.commit_rows, self.commit_rows,
                               self.CAMERAS)
            self.cams.append(t.column(CAM).to_numpy()[: self.commit_rows // 2])
            files = gen.write_files(t, os.path.join(d, "in", f"c{v:03d}"), 2)
            self.commit_files.append(files)
            kw = {"bloom_cols": {CAM: self.commit_rows * self.commits},
                  "stats_cols": [OID, TS]} if v == 0 else {}
            self.versions.append(
                txlog.commit(b.spark.read.parquet(*files), self.table, **kw))
            if v == 0:
                txlog.set_stats_cols(self.table, [OID, TS])
        self.last_append = self.versions[-1]
        w = self.commit_rows // 20
        self.deleted = self._half(rng, 1, False, w)
        self.updated = self._half(rng, self.commits - 2, False, w // 2)
        txlog.delete_where_expr(
            b.spark, self.table, f"{OID} BETWEEN {self.deleted[0]} AND "
            f"{self.deleted[1]}", mode="dv", cdf=True)
        txlog.update_where_expr(
            b.spark, self.table, f"{OID} BETWEEN {self.updated[0]} AND "
            f"{self.updated[1]}", {"item_name": "'updated'"}, mode="dv",
            cdf=True)
        self.bands = []
        for j in range(self.BANDS):
            lo, hi = self._half(rng, j % self.commits, True, self.commit_rows // 10)
            self.bands.append((gen.TS0 + lo * 10, gen.TS0 + hi * 10 + 9))
        b.inputs = {f"c{v:03d}": gen.describe(os.path.dirname(fs[0]))
                    for v, fs in enumerate(self.commit_files)}

    def prepare(self, b, p: int) -> None:
        rng = gen.rng_for(b.seed, 7, p)
        self.points = []
        for k in range(self.POINTS):
            vals = [int(self.cams[(k + j) % self.commits][
                int(rng.integers(0, self.commit_rows // 2))])
                for j in range(self.IN_LIST)]
            self.points.append(f"{CAM} IN ({', '.join(map(str, vals))})")
        self.travel = self.commits // 2  # commits visible at that version

    def _read(self, b, kind: str, pred: str) -> None:
        from parquet_combiner_spark.tools import txlog

        box = {}

        def run():
            box["df"] = txlog.read_table_where(b.spark, self.table, pred)
            with b.span("bench.read_scan") as s:
                box["d"] = _spark_digest(box["df"])
                if s is not None:
                    s.attrs["rows"] = box["d"][0]

        i = b.op(kind, run)
        self.reads.append((i, pred, box.get("d")))
        if b.tracer and "df" in box:
            b.pruned_reads.append(box["df"])

    def run_pass(self, b, p: int) -> None:
        from pyspark.sql import functions as F

        from parquet_combiner_spark.tools import txlog

        spark, t = b.spark, self.table
        for pred in self.points:
            self._read(b, "point", pred)
        for lo, hi in self.bands:
            self._read(b, "range", f"{TS} BETWEEN {lo} AND {hi}")
        k = self.travel
        box = {}
        i = b.op("time_travel", lambda: box.setdefault("d", _spark_digest(
            txlog.read_table(spark, t, version=self.versions[k]))))
        self.travels.append((i, k, box.get("d")))
        box = {}
        i = b.op("cdf", lambda: box.setdefault("d", {
            r[0]: r[1] for r in txlog.table_changes_cdf(
                spark, t, self.last_append).groupBy("_change_type").count()
            .collect()}))
        self.cdfs.append((i, box.get("d")))
        box = {}
        i = b.op("full_agg", lambda: box.setdefault("d", sorted(
            tuple(r) for r in txlog.read_table(spark, t).groupBy(LOC)
            .agg(F.count(F.lit(1))).collect())))
        self.aggs.append((i, box.get("d")))

    def check(self, b) -> None:
        from pyspark.sql import functions as F

        from parquet_combiner_spark.tools import txlog

        spark = b.spark
        preds = sorted({pred for _, pred, _ in self.reads})
        h = F.xxhash64(*gen.COLUMNS)
        row = txlog.read_table(spark, self.table).agg(*[
            e for k, pr in enumerate(preds) for e in (
                F.sum(F.when(F.expr(pr), 1).otherwise(0)).alias(f"n{k}"),
                F.bit_xor(F.when(F.expr(pr), h).otherwise(F.lit(0).cast("long")))
                .alias(f"h{k}"))
        ]).first()
        want = {pr: (int(row[f"n{k}"] or 0), int(row[f"h{k}"] or 0))
                for k, pr in enumerate(preds)}
        for i, pred, got in self.reads:
            if got != want[pred]:
                b.fail(i, f"pruned read {pred!r} gave {got}, unpruned {want[pred]}")
        exps = {}
        for i, k, got in self.travels:
            if k not in exps:
                files = [f for fs in self.commit_files[: k + 1] for f in fs]
                exps[k] = _spark_digest(spark.read.parquet(*files))
            exp = exps[k]
            if got != exp:
                b.fail(i, f"version {self.versions[k]} read {got} != "
                          f"its input files {exp}")
        nd = self.deleted[1] - self.deleted[0] + 1
        nu = self.updated[1] - self.updated[0] + 1
        exp_cdf = {"delete": nd, "update_preimage": nu, "update_postimage": nu}
        for i, got in self.cdfs:
            if got != exp_cdf:
                b.fail(i, f"change feed {got} != {exp_cdf}")
        all_files = [f for fs in self.commit_files for f in fs]
        con = duckdb.connect()
        exp_agg = sorted(con.execute(f"""
            SELECT {LOC}, count(*) FROM read_parquet({_plist(all_files)})
            WHERE {OID} NOT BETWEEN {self.deleted[0]} AND {self.deleted[1]}
            GROUP BY ALL""").fetchall())
        con.close()
        for i, got in self.aggs:
            if got != exp_agg:
                b.fail(i, "full aggregate differs from DuckDB over the inputs")

    def stored(self, b) -> tuple[int, int]:
        from parquet_combiner_spark.tools import txlog

        return dir_bytes(self.table), txlog.read_table(b.spark, self.table).count()


WORKLOADS = {w.name: w for w in (CombinerTopx, TableWrite, TableRead)}
