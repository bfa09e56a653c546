"""Plan-quality regression sweep over EVERY registered query.

The scale gate in test form: a refactor that silently turns a bucketed
join into a cartesian product, drops a broadcast, or loses scan
pushdown should fail here, not at 100 TB.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gazelle_plugin_spark.plans import all_queries
from gazelle_plugin_spark.plans._util import t
from tests.conftest import SF_MED, SF_SMALL

QUERIES = all_queries()

#: Queries where a BroadcastNestedLoopJoin is the intended plan: a
#: BOUNDED broadcast side (query vectors, 16 hyperplanes, 5x25 dims)
#: joined under a non-equi condition.
BNLJ_ALLOWED = {
    "emb_topk_cosine",
    "emb_hard_negatives",
    "emb_lsh_topk",
    "emb_centroid_assign",
    "emb_neardup_pairs",
    "emb_ivf_search",
    # same bounded probe cross-join as emb_ivf_search (N_QUERIES x k
    # broadcast centroids); the candidate scoring itself is keyed
    # joins (cell id, vec_id, (q_id, sub, code)) + a combinable SUM.
    # Also the PQ_K-row codebook replicated per corpus bucket through
    # a broadcast cross-join (the cogrouped code build's analog of
    # the broadcast hash join it replaced, _pq_codes_wide)
    "emb_ivfpq_search",
    # the same bounded codebook-per-bucket broadcast cross-join
    # (PQ_K x shuffle-width rows)
    "emb_pq",
    # k broadcast centroids x corpus with rank-1 pruning (the same
    # bounded assignment cross-join as emb_centroid_assign); the pair
    # join itself is an equi-join on the cluster id
    "emb_semdedup",
    # 1-row supplier-COUNT(*) aggregate broadcast into the synthetic
    # partsupp compatibility view (plans/sqltext.py)
    "sqltext_q9",
    "rel_cross_join",
    # scalar-subquery pattern: a 1-row aggregate (global threshold /
    # average / NAAJ stats) broadcast against the main branch
    "q11",
    "q22",
    "rel_not_in_nullable",
    # 1-row corpus-size / totals aggregates broadcast against the
    # term relations
    "doc_tfidf_topterms",
    "doc_word_pmi",
    # 1-row global max-day aggregate broadcast against the stream
    "events_decay",
    # 1-row corpus-size COUNT(*) aggregate broadcast as the
    # corpus-scaled DF cap (round-14; test_pipelines pins that every
    # BNLJ node in this plan is the df_cap scalar)
    "doc_ngram_jaccard",
    # 1-row exact-total x 1-row union-sketch scalar combine
    "rel_hll_union",
    # k broadcast centroid rows joined to every point (argmin over k)
    "emb_kmeans",
    # TPC-DS q88 TEXT: eight single-row COUNT(*) subqueries cross-
    # joined into one result row — every BNLJ side is a 1-row
    # aggregate by construction (the reference runs the same shape)
    "tpcdsfull_q88",
    # TPC-DS q77 TEXT: the catalog channel is `FROM cs, cr` where cr
    # is an UNGROUPED global aggregate over catalog_returns — a 1-row
    # broadcast side by construction (reference tpcds/q77.sql:86)
    "tpcdsfull_q77",
    # the v2.7.0 UNION-rewrite of the same text keeps the same three
    # 1-row ungrouped-aggregate cross joins (tpcds-v2.7.0/q77a.sql)
    "dsv27_q77a",
}


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_SMALL)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_unbounded_all_pairs(name, spark):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    if name not in BNLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name} plans an unexpected nested-loop join"
        )


@pytest.mark.parametrize("name", ["q3", "q5", "q9", "ssb2_1", "ssb4_1"])
def test_dims_are_broadcast(name, spark):
    """Star-join queries must broadcast their dimension sides — a lost
    broadcast becomes a fact-table shuffle at scale."""
    assert "BroadcastHashJoin" in _plan(spark, name), name


@pytest.mark.parametrize(
    "name", ["q6", "q14", "q19", "ssb1_1", "events_user_topk", "doc_quality"]
)
def test_scan_level_pruning(name, spark):
    """Filter or column pruning must reach the scan node."""
    plan = _plan(spark, name)
    assert "PushedFilters: [" in plan or "ReadSchema: struct<" in plan, name


def test_q6_pushes_predicates_to_parquet(spark):
    """q6 is pure scan+filter+agg: its shipdate/discount/quantity
    predicates must appear in PushedFilters, not only post-scan."""
    plan = _plan(spark, "q6")
    assert "PushedFilters: [IsNotNull" in plan, plan
    scan_part = plan[plan.index("PushedFilters") :]
    assert "l_discount" in scan_part.split("ReadSchema")[0], plan


def test_multimodal_featurizer_is_arrow_batched(spark):
    """mm_byte_features must run Python via MapInPandas (Arrow
    batches), never a row-at-a-time eval."""
    plan = _plan(spark, "mm_byte_features")
    assert "MapInPandas" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_bucketed_scan_prunes_buckets(spark):
    """An equality filter on the bucket key must prune to one bucket
    at the scan (SelectedBucketsCount in the plan)."""
    from gazelle_plugin_spark.sources.io import read
    from gazelle_plugin_spark.sources.bucketing import read_bucketed, write_bucketed
    from gazelle_plugin_spark.catalog import table_path

    li = read(spark, table_path(SF_SMALL, "lineitem")).select("l_orderkey", "l_quantity")
    write_bucketed(li, "b_li_prune", ["l_orderkey"], 8)
    # autoBucketedScan drops the bucketed layout for filter-only scans
    # (no join/agg needs the distribution) — force it to see pruning
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        df = read_bucketed(spark, "b_li_prune").filter(F.col("l_orderkey") == 42)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount: 1 out of 8" in plan, plan
    finally:
        spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")


def test_filter_before_join_in_star_queries(spark):
    """Dim filters must run before the join (filter-then-broadcast,
    not broadcast-then-filter): the broadcast side row count at 100 TB
    is the filtered one."""
    li = t(spark, SF_SMALL, "lineitem")
    p = t(spark, SF_SMALL, "part").filter(F.col("p_type") == "MEDIUM")
    plan = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the part-side scan itself carries the pushed filter
    assert "PushedFilters: [IsNotNull(p_type), EqualTo(p_type,MEDIUM)" in plan, plan


def test_exists_disjunction_plans_existence_join(spark):
    """The EXISTS-disjunction pattern must exercise Catalyst's
    ExistenceJoin (the reference's ColumnarSortMergeJoinExec join-type
    list includes it; SURVEY.md §2 #13) — a semi-join can't express an
    OR of EXISTS."""
    from gazelle_plugin_spark.plans import all_queries
    from tests.conftest import SF_MED

    df = all_queries()["ds_exists_disjunction"](spark, SF_MED)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistenceJoin" in plan, plan


def test_rollup_rank_plans_window_group_limit(spark):
    """ds_rollup_rank (q67 pattern) must trigger Spark's
    WindowGroupLimit — the built-in analog of the reference's
    LocalWindowExec/LocalRankWindow rank-limit pushdown
    (OptimizerOverrides.scala:39-218): the rank<=k filter prunes
    before the window shuffle."""
    from gazelle_plugin_spark.plans import all_queries

    plan = (
        all_queries()["ds_rollup_rank"](spark, SF_MED)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan, plan


def test_sort_small_orders_like_order_by(spark):
    """sort_small over a multi-partition input with tied keys and NULLs
    yields orderBy's key order (NULLs first ascending, last descending)
    from one partition, without orderBy's range exchange."""
    from gazelle_plugin_spark.plans._util import sort_small

    rows = [(k % 3 if k % 5 else None, f"s{k % 4}" if k % 7 else None, k) for k in range(200)]
    df = spark.createDataFrame(rows, "a int, b string, v int").repartition(4, "v")
    keys = ("a", F.desc("b"))
    got = sort_small(df, *keys)
    assert got.rdd.getNumPartitions() == 1
    assert [r[:2] for r in got.collect()] == [r[:2] for r in df.orderBy(*keys).collect()]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan, plan
