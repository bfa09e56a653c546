"""Partitioning-invariance gates: results must be identical whatever
the shuffle width or input split layout — the property that makes a
plan trustworthy when the cluster (not the test) picks partition
counts at 100 TB. Exercises both _maybe_spread paths (narrow input
-> spread; wide input -> pass-through) for the text pipeline."""

from __future__ import annotations

import pytest

from gazelle_plugin_spark.plans import all_queries
from gazelle_plugin_spark.plans.sqltext_tpcds import TPCDS_FULL, TPCDS_V27
from tests.conftest import SF_MED

QUERIES = all_queries()


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=str)


@pytest.mark.parametrize(
    "name",
    [
        "q5",
        "doc_minhash_neardup",
        "events_user_topk",
        # round 6: hash-rank sampling and the k-means round — the avg
        # in the centroid update is the one float reduction whose
        # partial-sum ORDER varies with layout; the round-6dp
        # discipline must absorb it at any width
        "doc_quota_sample",
        "emb_kmeans",
        # round 6 late adds: the distinct-over-window rewrite's
        # first-occurrence flags (tie-exact duplicates), the chunk
        # dedup's corpus-wide argmin, and the min_by/max_by OHLC fold
        # are exactly the kind of logic that could leak layout
        "rel_window_cntd",
        "doc_chunk_dedup",
        "events_ohlc",
        # round 6 final adds: the packing window's running sums, the
        # PageRank iteration's decimal contribution folds, and the
        # decay score's 9dp accumulation must be layout-free
        "doc_pack_sequences",
        "rel_trade_pagerank",
        "events_decay",
        # round 7: the semantic-dedup pair join and centroid argmin,
        # the SCD-2 version numbering over same-microsecond ties, the
        # count-min counters (pure hash slots), and the exact
        # percentile's sort-based interpolation must all be
        # layout-free at any width
        "emb_semdedup",
        "events_scd2",
        "doc_cms_heavyhitters",
        "rel_exact_percentiles",
        # round 10: the newest families — a verbatim TPC-DS text with
        # rank-within-ROLLUP (grouping-level window over Expand), a
        # v2.7 UNION-rewrite variant (N aggregate branches over one
        # exchange), the IVF-ADC candidate scoring's decimal LUT sums,
        # and the incremental-dedup probe whose hot-bucket salting
        # must stay a layout-free no-op on healthy data
        *(
            pytest.param(c.qname(n), marks=pytest.mark.skipif(
                not c.available(), reason=f"reference {c.dir}/ absent"))
            for c, n in ((TPCDS_FULL, "q86"), (TPCDS_V27, "q86a"))
        ),
        "emb_ivfpq_search",
        "doc_incremental_dedup",
    ],
)
def test_result_invariant_to_shuffle_width(spark, name):
    """Same rows at 3 vs 8+ shuffle partitions (map-side combines,
    window partitioning, and band joins must not leak layout)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        narrow = _rows(QUERIES[name](spark, SF_MED))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert narrow == _rows(QUERIES[name](spark, SF_MED))


def test_ngram_jaccard_invariant_to_input_splits(spark, tmp_path):
    """doc_ngram_jaccard gives identical pairs whether the documents
    table arrives as ONE split (the _maybe_spread repartition path) or
    64 splits (the pass-through path)."""
    from pyspark.sql import functions as F

    src = spark.read.parquet(f"{SF_MED}/documents.parquet")
    wide_dir = str(tmp_path / "docs_wide")
    src.repartition(64).write.parquet(wide_dir)
    wide_sf = str(tmp_path)
    # the builders read <sf_dir>/documents.parquet — stage a dir where
    # documents.parquet IS the 64-file layout
    import shutil

    shutil.move(wide_dir, str(tmp_path / "documents.parquet"))

    base = _rows(QUERIES["doc_ngram_jaccard"](spark, SF_MED))
    wide = _rows(QUERIES["doc_ngram_jaccard"](spark, wide_sf))
    assert base == wide and len(base) > 0
