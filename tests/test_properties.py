"""Property-based invariants (SURVEY.md §5.3) — hypothesis generates
adversarial small tables; each property must hold for ANY input:

- dedup: one survivor per key; survivors are input rows; keep-min and
  window formulations agree.
- top-K: ranks are exactly 1..min(K, distinct items) per group; ranked
  counts are a subset of the full counts.
- salted aggregation: identical to the plain group-count for any data
  and any salt column (reference UnitTest.scala:528-591 generalized).
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from parquet_combiner_spark.operators.aggregate import group_counts
from parquet_combiner_spark.operators.dedup import (
    dedup_deterministic,
    dedup_first_wins,
    dedup_keep_min,
)
from parquet_combiner_spark.operators.skew import salted_count
from parquet_combiner_spark.operators.topk import top_k_per_group

# (key, group, item, val) rows from tight domains → many collisions,
# nulls in the item column included deliberately.
ROW = st.tuples(
    st.integers(0, 9),
    st.integers(0, 3),
    st.one_of(st.none(), st.sampled_from(["a", "b", "c", ""])),
    st.integers(-5, 5),
)
ROWS = st.lists(ROW, min_size=1, max_size=30)

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "key long, grp long, item string, val long"
    )


@pytest.mark.usefixtures("spark")
class TestProperties:
    @given(rows=ROWS)
    @SETTINGS
    def test_dedup_one_survivor_per_key(self, spark, rows):
        df = _df(spark, rows)
        out = dedup_first_wins(df, ["key"]).collect()
        keys = [r["key"] for r in out]
        assert sorted(set(keys)) == sorted({r[0] for r in rows})
        assert len(keys) == len(set(keys))
        # every survivor is a real input row
        assert all(tuple(r) in set(rows) for r in out)

    @given(rows=ROWS)
    @SETTINGS
    def test_dedup_keep_min_matches_window_form(self, spark, rows):
        df = _df(spark, rows)
        a = dedup_keep_min(df, ["key"], ["val", "grp", "item"])
        b = dedup_deterministic(
            df,
            ["key"],
            [F.asc("val"), F.asc("grp"), F.asc_nulls_first("item")],
        )
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    @given(rows=ROWS, k=st.integers(1, 4))
    @SETTINGS
    def test_topk_ranks_sequential(self, spark, rows, k):
        counts = group_counts(_df(spark, rows), ["grp", "item"], "n")
        ranked = top_k_per_group(
            counts,
            ["grp"],
            [F.desc("n"), F.asc_nulls_first("item")],
            k,
            rank_col="rank",
        )
        per_group: dict = {}
        for r in ranked.collect():
            per_group.setdefault(r["grp"], []).append(r["rank"])
        n_items = {
            g: len({r[2] for r in rows if r[1] == g}) for g in per_group
        }
        for g, ranks in per_group.items():
            assert sorted(ranks) == list(range(1, min(k, n_items[g]) + 1))

    @given(rows=ROWS)
    @SETTINGS
    def test_salted_count_equals_plain(self, spark, rows):
        df = _df(spark, rows)
        plain = {
            (r["grp"],): r["n"]
            for r in group_counts(df, ["grp"], "n").collect()
        }
        salted = {
            (r["grp"],): r["n"]
            for r in salted_count(df, ["grp"], salt_col="key", count_col="n")
            .collect()
        }
        assert plain == salted


# --- exact n-gram Jaccard vs a pure-python reference ---------------------
#
# Documents drawn from a 6-word vocabulary with 1-8 tokens: shingle
# sets collide constantly (shared shingles, sub-k docs, duplicate
# texts), exactly the regime where an inverted-index + inline-sizes
# formulation could drift from the definition.

_VOCAB = ["aa", "bb", "cc", "dd", "ee", "ff"]
_DOC = st.lists(st.sampled_from(_VOCAB), min_size=1, max_size=8)
_CORPUS = st.lists(_DOC, min_size=2, max_size=10)


def _py_shingles(toks: list[str], k: int = 3) -> frozenset:
    if len(toks) <= k:
        return frozenset({" ".join(toks)})
    return frozenset(
        " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
    )


class TestNgramJaccardProperty:
    @given(corpus=_CORPUS)
    @SETTINGS
    def test_pairs_match_python_reference(self, spark, corpus):
        from parquet_combiner_spark.functions.dedup_text import (
            ngram_jaccard_pairs,
        )

        docs = spark.createDataFrame(
            [(i, " ".join(toks)) for i, toks in enumerate(corpus)],
            "doc_id long, text string",
        )
        got = {
            (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(docs, threshold=0.25).collect()
        }
        expected = {}
        sets = [_py_shingles(toks) for toks in corpus]
        for a in range(len(corpus)):
            for b in range(a + 1, len(corpus)):
                inter = len(sets[a] & sets[b])
                if inter == 0:
                    continue
                j = inter / len(sets[a] | sets[b])
                if j >= 0.25:
                    expected[(a, b)] = round(j, 4)
        assert got == expected


class TestMergeUpsertProperties:
    """merge_upsert algebra: idempotence and python-reference parity."""

    CDC_ROWS = st.lists(
        st.tuples(
            st.integers(0, 5),    # key
            st.integers(0, 3),    # version
            st.integers(0, 99),   # payload disambiguator
        ),
        min_size=0,
        max_size=20,
    )

    @staticmethod
    def _frames(spark, rows):
        from pyspark.sql import Row

        # the row index rides the low digits of the version so no two
        # rows of one source share (key, version) — the operator's
        # determinism precondition
        base = [
            Row(k=k, v=v * 1000 + i, val=f"b{i}-{p}")
            for i, (k, v, p) in enumerate(rows[: len(rows) // 2])
        ]
        upd = [
            Row(k=k, v=v * 1000 + i, val=f"u{i}-{p}")
            for i, (k, v, p) in enumerate(rows[len(rows) // 2 :])
        ]
        schema = "k long, v long, val string"
        return (
            spark.createDataFrame(base or [], schema),
            spark.createDataFrame(upd or [], schema),
        )

    @given(rows=CDC_ROWS)
    @settings(max_examples=15, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_idempotent_and_matches_python_reference(self, spark, rows):
        from parquet_combiner_spark.operators.merge import merge_upsert

        base, upd = self._frames(spark, rows)
        once = merge_upsert(base, upd, ["k"], ["v"])
        got = {(r["k"], r["v"], r["val"]) for r in once.collect()}

        # python reference: per key, max (v, priority) wins
        ref = {}
        for prio, df_rows in ((0, base.collect()), (1, upd.collect())):
            for r in df_rows:
                cur = ref.get(r["k"])
                cand = (r["v"], prio, r["val"])
                if cur is None or cand[:2] > cur[:2]:
                    ref[r["k"]] = cand
        assert got == {(k, v, val) for k, (v, _, val) in ref.items()}

        # idempotence: re-applying the same update batch changes nothing
        twice = merge_upsert(once, upd, ["k"], ["v"])
        assert {(r["k"], r["v"], r["val"]) for r in twice.collect()} == got


def _py_levenshtein(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


_WORDS = st.lists(
    st.text(alphabet="abcx", min_size=0, max_size=6),
    min_size=1,
    max_size=12,
)


@pytest.mark.usefixtures("spark")
class TestFuzzyJoinProperties:
    @SETTINGS
    @given(words=_WORDS, d=st.integers(0, 3))
    def test_banded_join_equals_brute_force(self, spark, words, d):
        """The length-banded candidate join must find EXACTLY the
        brute-force pair set (banding is a pure optimization, never a
        recall loss), with correct distances and per-value counts."""
        from collections import Counter

        from parquet_combiner_spark.operators.fuzzy import fuzzy_value_pairs

        df = spark.createDataFrame([(w,) for w in words], "name string")
        got = {
            (r["val_a"], r["val_b"]): (r["dist"], r["n_a"], r["n_b"])
            for r in fuzzy_value_pairs(df, "name", max_dist=d).collect()
        }
        counts = Counter(words)
        vals = sorted(counts)
        want = {}
        for i, a in enumerate(vals):
            for b in vals[i + 1 :]:
                dist = _py_levenshtein(a, b)
                if dist <= d:
                    want[(a, b)] = (dist, counts[a], counts[b])
        assert got == want


def test_floor_div_sql_matches_python_floor_division(spark):
    """The week-bucketing helper must implement FLOOR division (DuckDB
    `//`), not Spark `div`'s truncation toward zero — the two differ
    by one bucket on negative epochs (pre-1970 timestamps). Checked in
    exact int64 territory beyond double's 2^53 mantissa too."""
    from parquet_combiner_spark.queries import _floor_div_sql

    divisor = 7 * 24 * 3600 * 1_000_000_000
    vals = [
        0, 1, -1, divisor, -divisor, divisor - 1, -divisor + 1,
        divisor + 1, -divisor - 1, 1_700_000_000_123_456_789,
        -1_700_000_000_123_456_789, 2**62, -(2**62),
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    got = {
        r["x"]: r["fd"]
        for r in df.selectExpr(
            "x", f"{_floor_div_sql('x', divisor)} as fd"
        ).collect()
    }
    assert got == {v: v // divisor for v in vals}


# (key, version, payload, op) — versions UNIQUE per draw by index
# pairing, ops weighted toward upserts like a real CDC feed
_CDC_OPS = st.lists(
    st.tuples(
        st.integers(0, 4),
        st.sampled_from(["a", "b", "c", None]),
        st.sampled_from(["U", "U", "U", "D"]),
    ),
    min_size=1,
    max_size=24,
)


@pytest.mark.usefixtures("spark")
class TestMergeDeleteProperties:
    @given(ops=_CDC_OPS, split=st.integers(0, 24))
    @SETTINGS
    def test_incremental_tombstone_merge_equals_reference(
        self, spark, ops, split
    ):
        """For ANY op sequence and ANY batch split: the retained-
        tombstone incremental merge, filtered, equals both a pure-
        Python latest-wins fold AND the one-shot merge — and replaying
        the last batch changes nothing."""
        from pyspark.sql import functions as F

        from parquet_combiner_spark.operators.merge import merge_upsert

        rows = [
            (k, i, p, op) for i, (k, p, op) in enumerate(ops)
        ]  # version = index: unique, total order
        schema = "k long, v long, p string, op string"

        def reference():
            state = {}
            for k, v, p, op in sorted(rows, key=lambda r: r[1]):
                if op == "D":
                    state.pop(k, None)
                    state["__dead_%d" % k] = (k, v)  # latest delete ver
                else:
                    dead = state.get("__dead_%d" % k)
                    if dead is None or v > dead[1]:
                        state[k] = (k, v, p)
            return sorted(t for key, t in state.items()
                          if not isinstance(key, str))

        split = min(split, len(rows))
        b1 = spark.createDataFrame(rows[:split] or [], schema)
        b2 = spark.createDataFrame(rows[split:] or [], schema)
        empty = spark.createDataFrame([], "k long, v long, p string")
        seeded = empty.withColumn("__dead", F.lit(False))
        s1 = merge_upsert(
            seeded, b1, ["k"], ["v"], op_col="op", retain_col="__dead"
        )
        s2 = merge_upsert(
            s1, b2, ["k"], ["v"], op_col="op", retain_col="__dead"
        )
        live = sorted(
            map(tuple, s2.where("NOT __dead").drop("__dead").collect())
        )
        assert live == reference()
        # one-shot agrees
        oneshot = merge_upsert(
            empty, spark.createDataFrame(rows, schema), ["k"], ["v"],
            op_col="op",
        )
        assert sorted(map(tuple, oneshot.collect())) == live
        # replaying the second batch is a no-op
        s3 = merge_upsert(
            s2, b2, ["k"], ["v"], op_col="op", retain_col="__dead"
        )
        assert sorted(
            map(tuple, s3.where("NOT __dead").drop("__dead").collect())
        ) == live

    @given(
        pts=st.lists(
            st.tuples(st.integers(0, 3), st.sampled_from(["x", "y", "z"])),
            min_size=1,
            max_size=16,
        ),
        split=st.integers(0, 16),
    )
    @SETTINGS
    def test_scd2_incremental_equals_oneshot(self, spark, pts, split):
        """SCD2 associativity under ANY split: applying the second
        half of the change points to the dimension built from the
        first equals the one-shot derivation."""
        from parquet_combiner_spark.operators.merge import (
            scd2_apply,
            scd2_intervals,
        )

        rows = [(k, a, i) for i, (k, a) in enumerate(pts)]  # unique ts
        schema = "k long, attr string, ts long"
        full = scd2_intervals(
            spark.createDataFrame(rows, schema), ["k"], "ts", ["attr"]
        )
        split = min(split, len(rows))
        d1 = scd2_intervals(
            spark.createDataFrame(rows[:split] or [], schema),
            ["k"], "ts", ["attr"],
        )
        d2 = scd2_apply(
            d1,
            spark.createDataFrame(rows[split:] or [], schema)
            .withColumnRenamed("ts", "valid_from"),
            ["k"],
        )
        assert sorted(map(tuple, d2.collect())) == sorted(
            map(tuple, full.collect())
        )


class TestBloomProperties:
    """Hypothesis coverage for the Bloom machinery: membership has NO
    false negatives at any bitmap size, and the session-less DDL
    normalizer is order/case-insensitive but never conflates distinct
    type parameterizations."""

    @given(
        members=st.sets(
            st.text(
                alphabet="abcdefgh ", min_size=1, max_size=12
            ).filter(str.strip),
            min_size=1,
            max_size=30,
        ),
        num_bits=st.sampled_from([64, 256, 1 << 12]),
        num_hashes=st.integers(1, 6),
    )
    @SETTINGS
    def test_bloom_no_false_negatives(
        self, spark, members, num_bits, num_hashes
    ):
        from pyspark.sql import functions as F

        from parquet_combiner_spark.functions import quality

        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(sorted(members))],
            "doc_id long, text string",
        )
        bm = quality.ngram_bloom_bitmap(
            docs, n=1, num_bits=num_bits, num_hashes=num_hashes
        )
        grams = quality._doc_ngrams(docs, 1, "text")
        total = grams.count()
        kept = grams.where(
            quality.bloom_might_contain(F.col("gram"), bm, num_hashes)
        ).count()
        assert kept == total  # every member passes, always

    @given(
        fields=st.lists(
            st.tuples(
                st.sampled_from(["a", "b", "c", "d"]),
                st.sampled_from(
                    [
                        "bigint",
                        "int",
                        "string",
                        "decimal(10,2)",
                        "decimal(12,4)",
                        "array<string>",
                        "struct<x:int,y:decimal(5,1)>",
                        "map<string,int>",
                    ]
                ),
            ),
            min_size=1,
            max_size=4,
            unique_by=lambda f: f[0],
        )
    )
    @SETTINGS
    def test_normalize_ddl_order_and_case_invariant(self, fields):
        import random
        import re

        from parquet_combiner_spark.tools.txlog import _normalize_ddl

        ddl = ", ".join(f"{n} {t}" for n, t in fields)
        shuffled = list(fields)
        random.Random(0).shuffle(shuffled)

        def keywords_upper(t):
            # every word except a nested field name (followed by ':')
            return re.sub(r"\w+(?!\w|:)", lambda m: m.group().upper(), t)

        upper = ", ".join(
            f"{n.upper()} {keywords_upper(t)}" for n, t in shuffled
        )
        assert _normalize_ddl(ddl) == _normalize_ddl(upper)
        # case-exact nested names: upper-casing them too is a change
        # exactly when the schema has nested struct fields
        all_upper = ", ".join(f"{n.upper()} {t.upper()}" for n, t in shuffled)
        assert (_normalize_ddl(ddl) == _normalize_ddl(all_upper)) == (
            ":" not in ddl
        )
        assert len(_normalize_ddl(ddl)) == len(fields)
        # perturbing any ONE type breaks equality
        n0, t0 = fields[0]
        other = "int" if t0 != "int" else "bigint"
        changed = ", ".join(
            f"{n} {other if n == n0 else t}" for n, t in fields
        )
        assert _normalize_ddl(ddl) != _normalize_ddl(changed)


# ---------------------------------------------------------------------------
# Hidden-partition pruning soundness (r13): for ANY value a file can
# hold, ANY band containing that value, ANY transform era, and ANY
# declared type, _path_band_disjoint must never prune the file. The
# generator renders path segments exactly the way the writer does
# (asserted bit-equal to the JVM expressions in the transform tests),
# so a True here would be a wrong skip in production.
# ---------------------------------------------------------------------------


@st.composite
def _hidden_partition_case(draw):
    from parquet_combiner_spark.tools import txlog

    typed = draw(
        st.sampled_from(
            [
                ("bigint", st.integers(-(2**40), 2**40)),
                (
                    "string",
                    st.text(
                        st.characters(
                            whitelist_categories=("Lu", "Ll", "Nd"),
                            max_codepoint=0x2FF,
                        ),
                        min_size=0,
                        max_size=12,
                    ),
                ),
            ]
        )
    )
    dtype, vs = typed
    v = draw(vs)
    kind = draw(
        st.sampled_from(["identity", "bucket", "truncate"])
    )
    param = draw(st.integers(1, 32))
    if kind == "identity":
        seg = f"k={v}"
    else:
        derived = txlog._transform_value(kind, param, v)
        if derived is None:
            seg = f"k={v}"  # untransformable value: fall back
            kind = "identity"
        else:
            name = "bucket" if kind == "bucket" else "trunc"
            seg = f"k_{name}{param}={derived}"
    # a band that CONTAINS v (point, or widened on each side)
    if dtype == "bigint":
        lo = v - draw(st.integers(0, 1000))
        hi = v + draw(st.integers(0, 1000))
        if draw(st.booleans()):
            lo = float("-inf")
        if draw(st.booleans()):
            hi = float("inf")
    else:
        lo = draw(st.sampled_from([v, v[: max(0, len(v) - 1)], ""]))
        hi = draw(st.sampled_from([v, v + "￿", v + "z"]))
        if lo > v:
            lo = v
        if hi < v:
            hi = v
    return dtype, v, seg, lo, hi


@given(_hidden_partition_case())
@settings(
    max_examples=300,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_path_band_disjoint_never_wrongly_prunes(case):
    """Soundness: the file holds ``v`` (its segment was rendered from
    v with the writer's own arithmetic) and the band contains v — the
    prune must KEEP the file, for every type/transform/edge combo."""
    from parquet_combiner_spark.tools import txlog

    dtype, v, seg, lo, hi = case
    rel = f"data/c/{seg}/part-0.parquet"
    assert (
        txlog._path_band_disjoint(rel, "k", lo, hi, dtype) is False
    ), (dtype, v, seg, lo, hi)
    # the type-unknown path must be at least as conservative
    assert txlog._path_band_disjoint(rel, "k", lo, hi) is False


# --- storage-partitioned aggregation model parity (r15) --------------------

_AGG_KEYS = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(0, 40)),  # key (NULLs ride too)
        st.integers(-5, 5),  # value
    ),
    min_size=1,
    max_size=40,
)


@pytest.mark.txlifecycle
@given(rows=_AGG_KEYS, buckets=st.sampled_from([2, 3, 4, 8]),
       second_era=st.booleans())
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_agg_bucketed_model_parity(spark, rows, buckets, second_era):
    """agg_bucketed == plain groupBy for arbitrary key sets (NULLs
    included), bucket counts, and mixed DIVISIBLE eras: per-bucket
    groups are complete, so count / sum / count-distinct — the
    non-decomposable included — agree exactly."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from parquet_combiner_spark.tools import txlog

    root = tempfile.mkdtemp(prefix="aggfuzz-")
    table = f"{root}/t"
    try:
        half = max(1, len(rows) // 2) if second_era else len(rows)
        df1 = spark.createDataFrame(rows[:half], "k long, v long")
        txlog.commit(df1, table,
                     partition_by=[f"bucket({buckets}, k)"])
        if second_era and rows[half:]:
            txlog.set_partition_spec(
                table, [f"bucket({buckets * 2}, k)"]
            )
            txlog.commit(
                spark.createDataFrame(rows[half:], "k long, v long"),
                table,
            )
        aggs = lambda: [  # noqa: E731 — fresh Columns per plan
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("sv"),
            F.countDistinct("v").alias("nv"),
        ]
        got = sorted(
            (tuple(r) for r in txlog.agg_bucketed(
                spark, table, "k", aggs()).collect()),
            key=lambda t: tuple((x is None, x) for x in t),
        )
        want = sorted(
            (tuple(r) for r in txlog.read_table(spark, table)
             .groupBy("k").agg(*aggs()).collect()),
            key=lambda t: tuple((x is None, x) for x in t),
        )
        assert got == want
    finally:
        shutil.rmtree(root, ignore_errors=True)
