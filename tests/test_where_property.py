"""Property-based soundness for expression-predicate pruning
(`read_table_where`, and therefore the expr DML verbs' shared
`_sql_conjunct_constraints` → `_band_touched` stack): for ANY
predicate the grammar below generates — IN lists, equalities, ranges,
conjunctions, cross-type coercion shapes ('042' = 42), int probes on
decimal bucket layouts — the pruned read must return EXACTLY the
rows a full-scan `.where(pred)` returns. Both paths share the
row-level filter, so any divergence is a wrong file skip: the class
of bug ADVICE r13 found twice (rendering-inconsistent bucket/bloom
probes). The tables are built once with deliberately adversarial
layouts: interleaved keys (envelopes span everything), zero-padded
string keys under a bucket transform + bloom sidecars, and a
decimal-keyed bucket layout whose path rendering ('42.00') never
matches str(42), plus a nullable column whose NULLs sit in a few files
only (null-count pruning).

The four shape readers (`read_table_pruned`, `_multi`, `_in`,
`_null_pruned`) are adapters over the same prune: each must return
exactly the filtered snapshot and keep no file that `read_table_where`
prunes on the equivalent SQL predicate."""

from __future__ import annotations

import pytest

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import Row

from parquet_combiner_spark.tools import txlog

pytestmark = pytest.mark.txlifecycle


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("whereprop")
    rows = [
        Row(
            ik=i, sk=f"{i % 60:03d}", dk=f"{i % 25}.00", v=float(i),
            nk=None if i % 60 < 10 else i,  # NULL iff sk < '010'
        )
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "ik long, sk string, dk string, v double, nk long"
    ).selectExpr(
        "ik", "sk", "cast(dk as decimal(10,2)) as dk", "v", "nk"
    )
    # A: string-bucketed layout, bloom + stats on the int key,
    # interleaved so zone envelopes span everything
    a = str(root / "a")
    txlog.commit(
        df.repartition(8, "sk"), a,
        partition_by=["bucket(4, sk)"],
        stats_cols=["ik", "sk", "nk"],
        bloom_cols={"ik": 1000, "sk": 1000},
    )
    # B: decimal-bucketed layout (the '42.00'-rendering hazard)
    b = str(root / "b")
    txlog.commit(
        df.repartition(8, "ik"), b,
        partition_by=["bucket(4, dk)"],
        stats_cols=["ik", "nk"],
    )
    return a, b


_INT = st.integers(-3, 210)
_STR = st.one_of(
    st.integers(0, 65).map(lambda i: f"{i:03d}"),  # zero-padded hits
    st.integers(0, 65).map(str),                   # unpadded ('42')
)


@st.composite
def _predicate(draw):
    def atom():
        kind = draw(
            st.sampled_from(
                ["ik_eq", "ik_in", "ik_between", "ik_ge",
                 "sk_eq", "sk_in", "sk_eq_int", "dk_eq", "dk_in",
                 "v_lt", "nk_null", "nk_eq"]
            )
        )
        if kind == "ik_eq":
            return f"ik = {draw(_INT)}"
        if kind == "ik_in":
            vals = draw(st.lists(_INT, min_size=1, max_size=6))
            return f"ik IN ({', '.join(map(str, vals))})"
        if kind == "ik_between":
            a, b = draw(_INT), draw(_INT)
            return f"ik BETWEEN {min(a, b)} AND {max(a, b)}"
        if kind == "ik_ge":
            return f"ik >= {draw(_INT)}"
        if kind == "sk_eq":
            return f"sk = '{draw(_STR)}'"
        if kind == "sk_in":
            vals = draw(st.lists(_STR, min_size=1, max_size=5))
            return "sk IN ({})".format(
                ", ".join(f"'{v}'" for v in vals)
            )
        if kind == "sk_eq_int":
            # int literal vs zero-padded string column: row-level
            # numeric coercion matches '042' = 42 — the wrong-skip
            # shape the bloom/bucket type gates exist for (all sk
            # values are numeric-looking, so ANSI coercion is safe)
            return f"sk = {draw(st.integers(0, 65))}"
        if kind == "dk_eq":
            return f"dk = {draw(st.integers(0, 30))}"
        if kind == "dk_in":
            vals = draw(
                st.lists(st.integers(0, 30), min_size=1, max_size=4)
            )
            return f"dk IN ({', '.join(map(str, vals))})"
        if kind == "nk_null":
            return "nk IS NULL"
        if kind == "nk_eq":
            return f"nk = {draw(_INT)}"
        return f"v < {draw(st.integers(-5, 220))}.5"

    return " AND ".join(atom() for _ in range(draw(st.integers(1, 3))))


@given(pred=_predicate(), which=st.sampled_from([0, 1]))
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
def test_read_table_where_never_drops_matching_rows(
    spark, tables, pred, which
):
    table = tables[which]
    got = sorted(
        tuple(r) for r in
        txlog.read_table_where(spark, table, pred).collect()
    )
    want = sorted(
        tuple(r) for r in
        txlog.read_table(spark, table).where(pred).collect()
    )
    assert got == want, (table, pred)


def _sql_lit(v):
    return f"'{v}'" if isinstance(v, str) else str(v)


@st.composite
def _shape(draw):
    """(reader name, reader arguments, equivalent SQL predicate) for
    one of the four shape readers."""
    kind = draw(st.sampled_from(["pruned", "multi", "in", "null"]))
    if kind == "null":
        return "read_table_null_pruned", ("nk",), "nk IS NULL"
    if kind == "in":
        col, vals = draw(
            st.one_of(
                st.tuples(
                    st.just("ik"),
                    st.lists(st.one_of(_INT, st.none()), max_size=6),
                ),
                # mixed-type lists probe each value on its own
                st.tuples(
                    st.just("sk"),
                    st.lists(
                        st.one_of(_STR, st.integers(0, 65)), max_size=5
                    ),
                ),
            )
        )
        lits = [_sql_lit(v) for v in vals if v is not None]
        sql = f"{col} IN ({', '.join(lits)})" if lits else "false"
        return "read_table_pruned_in", (col, vals), sql
    bands = {}
    for col in draw(
        st.lists(
            st.sampled_from(["ik", "sk", "v"]),
            min_size=1,
            max_size=1 if kind == "pruned" else 3,
            unique=True,
        )
    ):
        a, b = draw(_STR if col == "sk" else _INT), draw(
            _STR if col == "sk" else _INT
        )
        bands[col] = (min(a, b), max(a, b))
    sql = " AND ".join(
        f"{c} BETWEEN {_sql_lit(lo)} AND {_sql_lit(hi)}"
        for c, (lo, hi) in bands.items()
    )
    if kind == "pruned":
        [(col, (lo, hi))] = bands.items()
        return "read_table_pruned", (col, lo, hi), sql
    return "read_table_pruned_multi", (bands,), sql


@given(shape=_shape(), which=st.sampled_from([0, 1]))
@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
def test_shape_readers_match_read_table_where(spark, tables, shape, which):
    table = tables[which]
    reader, args, sql = shape
    got = getattr(txlog, reader)(spark, table, *args)
    want = txlog.read_table(spark, table).where(sql)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    ), (table, reader, args)
    kept = set(got.inputFiles())
    where_kept = set(txlog.read_table_where(spark, table, sql).inputFiles())
    assert kept <= where_kept, (table, reader, args, sql)
    if reader == "read_table_null_pruned":
        # the IS NULL shape IS read_table_where's: identical pruning
        assert kept == where_kept
