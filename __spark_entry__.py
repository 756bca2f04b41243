"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The real registries live in :mod:`parquet_combiner_spark.queries`
(reference-parity operators, SURVEY.md §2) and
:mod:`parquet_combiner_spark.functions` (LLM-data-pipeline operators);
this module only re-exports them.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from parquet_combiner_spark import queries as _q

_SMOKE_SF_DIR = "/root/testdata/sf0.001"

# The driver's correctness pass samples the FIRST 50 registry keys in
# insertion order. r13's rotation gave 50 never-checked keys their
# first official hash-MATCH; this r14 rotation finishes the job
# (VERDICT r13 'Next round' #1): the 40 remaining never-driver-checked
# ORACLE-BACKED keys — the entire LLM-pipeline family (doc_*, corpus,
# sampling, graph, BM25/RRF, embeddings) — lead the prefix, followed by
# this round's new keys and 10 high-value re-checks of the r13
# lifecycle family (including events_cdf_feed, the bench mover under
# A/B). Rows-only sketch keys stay OUT of the prefix (they'd burn
# driver slots on no_oracle entries). Everything not listed follows in
# its original registry order, so the registry CONTENT is unchanged —
# only the insertion order moves.
_DRIVER_PRIORITY = [
    # --- r15: the LAST two never-driver-checked oracle-backed keys.
    # Both were lifted from rows-only to oracle MATCH in r14 (MMR: k=5
    # greedy chain unrolled to argmax CTEs; pHash: aHash grid +
    # pigeonhole band join in SQL) AFTER the r14 prefix was frozen, so
    # they are the only oracle-backed keys without an official driver
    # hash signal (VERDICT r14 'Next round' #1). With these two MATCHed,
    # cumulative driver coverage is 192/197 and the only unchecked keys
    # are the 5 rows-only-by-design estimator/sketch keys. ---
    "ann_mmr_topk",
    "doc_payload_phash_pairs",
    # --- r15 lifts: rows-only → hash-MATCH twins (first hash signal).
    # The train key re-derives via the recursive-CTE GD oracle; the
    # BPE key via a 16-round unrolled argmax CTE chain. ---
    "doc_quality_classifier",
    "doc_bpe_train_merges",
    # --- r15 new keys (first-time signal): storage-partitioned
    # aggregation; semantic decontamination under the fixed
    # quantizer ---
    "user_state_agg_bucketed",
    "user_state_join_agg_cobucketed",
    "embedding_decontaminate",
    "user_state_mv_cdf_refresh",
    # --- r16 rotation (VERDICT r15 'Next round' #5): driver coverage
    # closed at 200/200 in r15, so the three rows-only-by-design
    # estimator keys (order_price_quartiles_approx,
    # customer_rfm_segments_approx, embedding_semdedup — no_oracle
    # slots by construction) rotate OUT for three oracle-backed
    # lifecycle re-checks covering exactly the txlog write paths this
    # optimization round touches (CDF change-file publication,
    # merge-on-read UPDATE). Of their hash-gated twins only
    # embedding_semdedup_fixed is in this prefix; the exact
    # order_price_quartiles and customer_rfm_segments keys are not. ---
    "events_cdf_feed",
    "user_state_merge_cdf_feed",
    "events_dv_update_scan",
    # --- r14 prefix follows (now all driver-checked; kept as
    # re-checks). Two r13 lifecycle re-checks were displaced to make
    # room. ---
    "doc_bm25_topk",
    "doc_graph_pagerank",
    "near_dup_clusters_logstar",
    "doc_bpe_tokens",
    "doc_chunks",
    "doc_tfidf_keywords",
    "doc_pii_scrub",
    "doc_clean_text",
    "doc_blocklist_flags",
    "doc_unigram_logprob",
    "doc_bigram_logprob",
    "doc_repetition_stats",
    "doc_decontaminate",
    "doc_decontaminate_bloom",
    "doc_stratified_sample",
    "doc_source_temperature_sample",
    "doc_weighted_sample",
    "doc_token_budget_selection",
    "corpus_prep",
    "doc_corpus_drift",
    "doc_corpus_drift_movers",
    "ngram_containment_pairs",
    "doc_repeated_spans",
    "doc_strip_repeated_spans",
    "near_dup_keepers_longest",
    "doc_graph_ppr",
    "doc_graph_triangles",
    "doc_epoch_shuffle",
    "doc_quality_classifier_scores",
    "doc_payload_energy",
    "embedding_dim_stats",
    "split_leakage_report",
    "doc_split_cluster_safe",
    "doc_bm25_topk_persisted",
    # --- r14 new keys (first-time signal) ---
    "user_state_join_cobucketed",
    "events_point_set_delete_scan",
    "events_where_pruned_scan",
    "embedding_semdedup_fixed",
    "ann_cosine_topk_ivf_fixed",
]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: per-supplier top-5 parts by deduped
    lineitem count, broadcast-joined to the supplier dim
    (scan → dedup → agg → window rank → broadcast join → project)."""
    return _q.top_parts_per_supplier(spark, _SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    registry: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    registry.update(_q.QUERIES)
    # hard import: a broken functions package must fail loudly here,
    # not silently shrink the contract to the base queries
    from parquet_combiner_spark.functions import PIPELINE_QUERIES

    registry.update(PIPELINE_QUERIES)
    ordered = {
        k: registry[k] for k in _DRIVER_PRIORITY if k in registry
    }
    ordered.update(
        (k, v) for k, v in registry.items() if k not in ordered
    )
    return ordered


def oracle_sql() -> dict[str, str]:
    """ANSI-SQL oracle per query key (DuckDB-runnable). Keys absent
    here (LSH/SimHash-style non-SQL-expressible ops) get the driver's
    weaker rows-only check."""
    oracles: dict[str, str] = {}
    oracles.update(_q.ORACLE_SQL)
    from parquet_combiner_spark.functions import PIPELINE_ORACLE_SQL

    oracles.update(PIPELINE_ORACLE_SQL)
    return oracles
