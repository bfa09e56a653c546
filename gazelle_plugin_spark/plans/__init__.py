"""Query-plan registry.

Every implemented operator/query from SURVEY.md §2 registers here as a
``(spark, sf_dir) -> DataFrame`` builder plus (where SQL-expressible)
a DuckDB oracle SQL string over the same tables. The driver contract
(__spark_entry__.py) re-exports these.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query builder and its (optional) DuckDB oracle SQL.

    Aggregate/computed columns must carry identical aliases on both
    sides — the driver's compare sorts columns by name before hashing.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import all plan modules so their @query registrations run."""
    from gazelle_plugin_spark.plans import (  # noqa: F401
        tpch,
        ssb,
        tpcds_patterns,
        relational,
        expressions,
        events,
        text_pipeline,
        similarity_queries,
        multimodal,
        sqltext_tpcds,  # registers every corpus in sqltext_tpcds.CORPORA
        layout,
    )


#: The driver's CORRECTNESS gate verifies the FIRST 50 registered
#: queries (round-2 verdict), so the export order is curated as a
#: cross-section of every operator family rather than import order.
#: Rotation policy (round-4 verdict item 4): rows proven green in
#: ≥1 prior CORRECTNESS_r* rotate OUT to the local oracle gate (which
#: runs the identical compare at the same scale — demotion ≠ removal);
#: never-driver-verified rows rotate IN; freshly-FIXED rows stay in
#: for at least one more round. Stalest-evidence rows also rotate back
#: in so driver evidence ages out within ~2 rounds (round-7 verdict
#: item 7). q1 stays first: entry() depends on it. Every window entry
#: carries a full DuckDB hash oracle.
#: CHANGED-PLAN RULE (round-14 verdict item 1): any query whose plan
#: function changed materially in-round is auto-FRONTED into the next
#: window regardless of its staleness turn — the driver's own hash gate
#: must see the new plan before the round that shipped it is judged
#: done. (Round 14 shipped doc_ngram_jaccard's in-plan DF cap + ppjoin
#: filter while its newest driver evidence was r11; round 15 fronts it.)
DRIVER_WINDOW: tuple[str, ...] = (
    # flagship; first by position, so its sort_small plan is fronted too
    "q1",
    # FRONTED per the changed-plan rule: every builder whose plan
    # changed with the job cuts — the bounded TPC-H/SSB results that
    # now sort in one task (plans/_util.sort_small; orc_ssb2_1 shares
    # ssb2_1's flight-2 plan), q18's reuse of its subquery's per-order
    # sum — and rel_except_all, whose supplier side is now bounded by
    # key so it is non-empty at sf0.1.
    "q4", "q5", "q7", "q8", "q9", "q12", "q16", "q18", "q22",
    "ssb2_1", "ssb2_2", "ssb2_3", "ssb3_1", "ssb3_2", "ssb3_3",
    "ssb3_4", "ssb4_1", "ssb4_2", "ssb4_3", "orc_ssb2_1",
    "rel_except_all",
    # Fronted earlier for the lineage cuts, Expand-elimination
    # pre-aggregates, Arrow vectorizations, candidate-join tightening,
    # rank pruning and salted-join assert relocation; all green in
    # CORRECTNESS_r16.json.
    "emb_semdedup", "emb_pq", "emb_ivfpq_search",
    "ds_band_distinct", "ds_join_chain", "ds_lochierarchy",
    "ds_rollup_rank",
    "doc_minhash_neardup", "doc_neardup_components",
    "doc_incremental_dedup", "doc_cluster_dedup",
    "doc_ngram_jaccard", "ds_dual_rank", "rel_salted_join",
    # The rest of the r10 cohort rotated in for stale evidence (green
    # again in r16). Its 12 dsv27_ rows and q13/q14/q15/q17 rotated out
    # to make room for the fronted rows: their newest green before r16
    # was r10, the stalest of the window, and none of their plans
    # changed since.
    "q20", "rel_collect", "rel_except", "rel_intersect",
    "rel_union_distinct",
    # ... fill with stalest r11 rows, curated for family coverage
    # (events_/expr_ representatives are r11; mm_blob_stats is the
    # stalest mm_ row, r12 — test_sql_entry pins the cross-section).
    "doc_exact_dedup", "doc_winnow_fingerprint", "ds_except_churn",
    "emb_lsh_topk", "events_funnel", "events_hourly",
    "expr_hash", "expr_misc", "mm_blob_stats",
)
# Round-17 rotation plan (computed at r16 open): assuming this window
# goes green, the stalest cohort is the 38 remaining r11 rows (front
# any plan changed in round 16 first, per the changed-plan rule), then
# fill with the stalest r12 rows; recompute at close from
# CORRECTNESS_r*.json newest-green evidence.


def _conditionally_absent() -> frozenset[str]:
    """Window names whose registration is corpus-gated AND whose corpus
    is unavailable on this machine. The corpus rows run the reference's
    literal SQL files, so they only register when the read-only
    reference checkout exists (plans/sqltext.py REF_SQL_ROOT);
    everywhere else the registry must degrade gracefully rather than
    hard-fail on the curated window."""
    from gazelle_plugin_spark.plans.sqltext_tpcds import CORPORA

    gated = tuple(c.prefix for c in CORPORA if not c.available())
    return frozenset(n for n in DRIVER_WINDOW if n.startswith(gated))


def _curated(reg: dict[str, str | QueryFn]) -> dict:
    skip = _conditionally_absent()
    missing = [n for n in DRIVER_WINDOW if n not in QUERIES and n not in skip]
    if missing:
        raise ValueError(f"DRIVER_WINDOW names not registered: {missing}")
    out = {n: reg[n] for n in DRIVER_WINDOW if n in reg}
    out.update((n, f) for n, f in reg.items() if n not in out)
    return out


def all_queries() -> dict[str, QueryFn]:
    load_all()
    return _curated(QUERIES)


def all_oracles() -> dict[str, str]:
    load_all()
    return _curated(ORACLE)
