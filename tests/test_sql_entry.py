"""SQL entry surface: views registered, SQL text produces the same
plans/results as the DataFrame builders, and errors.py's typed
fallback discipline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gazelle_plugin_spark.operators import joins
from gazelle_plugin_spark.operators.errors import UnsupportedOperationError
from gazelle_plugin_spark.sql import SqlEngine
from tests.conftest import SF_MED


@pytest.fixture(scope="module")
def engine(spark):
    return SqlEngine(spark, SF_MED)


def test_sql_over_views(engine):
    n = engine.sql("SELECT COUNT(*) AS n FROM lineitem").collect()[0].n
    assert n > 0
    joined = engine.sql(
        """
        SELECT n_name, COUNT(*) AS c
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name ORDER BY n_name
        """
    )
    assert joined.count() == 25


def test_sql_matches_dataframe_builder(engine, spark):
    from gazelle_plugin_spark.plans import all_queries

    df_result = sorted(
        tuple(r) for r in all_queries()["rel_smj"](spark, SF_MED).collect()
    )
    sql_result = sorted(
        tuple(r)
        for r in engine.sql(
            """
            SELECT n_name, COUNT(*) AS n_supp,
                   CAST(SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            GROUP BY n_name ORDER BY n_name
            """
        ).collect()
    )
    assert df_result == sql_result


def test_unsupported_operation_error_discipline(spark):
    """The RowGuard-analog: helpers raise a typed error naming the
    vanilla-Spark escape hatch, never silently degrade."""
    a = spark.range(3)
    with pytest.raises(UnsupportedOperationError, match="df.join"):
        joins.hash_join(a, a, "id", how="left_semi_oops")
    with pytest.raises(UnsupportedOperationError, match="build="):
        joins.broadcast_hash_join(a, a, "id", build="middle")


def test_driver_window_is_a_family_cross_section():
    """The driver verifies only the FIRST 50 exported queries — pin
    that the curated window (a) leads every export, (b) starts with q1
    (entry() depends on it), (c) is fully oracled, and (d) covers one+
    representative per operator family."""
    from gazelle_plugin_spark.plans import (
        DRIVER_WINDOW,
        ROWS_ONLY_WINDOW,
        _conditionally_absent,
        all_oracles,
        all_queries,
    )

    qs, os_ = all_queries(), all_oracles()
    # corpus-gated rows are absent without the reference checkout
    window = [n for n in DRIVER_WINDOW if n not in _conditionally_absent()]
    assert len(DRIVER_WINDOW) == 50
    assert list(qs)[: len(window)] == window
    assert DRIVER_WINDOW[0] == "q1"
    missing_oracle = [
        n for n in window if n not in os_ and n not in ROWS_ONLY_WINDOW
    ]
    assert not missing_oracle, f"window entries without oracle: {missing_oracle}"
    assert ROWS_ONLY_WINDOW <= set(DRIVER_WINDOW)
    assert not (ROWS_ONLY_WINDOW & set(os_)), "rows-only entries grew oracles"
    for family in ("doc_", "emb_", "events_", "rel_", "expr_", "mm_", "ds_"):
        assert any(n.startswith(family) for n in DRIVER_WINDOW), family
    # every registered query is still exported (demotion ≠ removal)
    assert len(qs) >= 100


def test_registry_degrades_without_reference_corpus(monkeypatch):
    """On a machine without the read-only reference checkout, the
    corpus-gated rows never register — the curated window must drop
    them gracefully instead of hard-failing the whole registry
    (round-8 advice)."""
    import gazelle_plugin_spark.plans as P
    from gazelle_plugin_spark.plans.sqltext import Corpus
    from gazelle_plugin_spark.plans.sqltext_tpcds import CORPORA

    P.load_all()
    monkeypatch.setattr(Corpus, "available", lambda self: False)
    gated = tuple(c.prefix for c in CORPORA)
    pruned = {n: f for n, f in P.QUERIES.items() if not n.startswith(gated)}
    monkeypatch.setattr(P, "QUERIES", pruned)
    out = P._curated(pruned)
    assert "q1" in out
    assert not any(n.startswith(gated) for n in out)
    # unconditional names still hard-fail if genuinely unregistered
    monkeypatch.setattr(P, "QUERIES", {n: f for n, f in pruned.items() if n != "q1"})
    with pytest.raises(ValueError, match="q1"):
        P._curated({})
