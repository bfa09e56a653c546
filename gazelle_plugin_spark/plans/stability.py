"""Plan-stability gate.

The reference commits physical-plan goldens and fails CI on drift
(PlanStabilitySuite.scala over
native-sql-engine/core/src/test/resources/tpcds-plan-stability/) so a
broadcast silently flipping to sort-merge, or a new shuffle appearing,
is caught at review time — not as a 100 TB production regression. This
module is the Spark-first analog: a compact per-query *signature* of
the physical plan (operator kinds that matter at scale: join
strategies, shuffle/broadcast exchange counts, scans and their
pushed-filter status, rank-limit and top-k specializations) serialized
to ``tests/plan_goldens.json`` and asserted by
``tests/test_plan_stability.py``.

Signatures deliberately exclude volatile details (expression ids,
statistics, partition counts, codegen ids) so they are stable across
Spark patch versions and testdata regeneration — they drift only when
the plan SHAPE changes, which is exactly the review event we want.

Regenerate after an intentional plan change:

    python -m gazelle_plugin_spark.plans.stability   # rewrites goldens

then eyeball the git diff — every changed line is a plan-shape change
you are claiming on purpose. Goldens of corpus-gated queries whose
corpus is not checked out are carried over unchanged.
"""

from __future__ import annotations

import json
import os
import re
from typing import Any

from pyspark.sql import DataFrame

#: operators whose presence/count defines the scale posture of a plan
_JOIN_OPS = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)
_SPECIAL_OPS = (
    "TakeOrderedAndProject",
    "WindowGroupLimit",
    "Window",
    "Generate",
    "Expand",
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "MapInPandas",
    "ObjectHashAggregate",
    "SortAggregate",
)

_NODE_RE = re.compile(r"^\s*\(\d+\)\s+([A-Za-z][A-Za-z ]*?)(?:\s*\[codegen id.*)?$")

GOLDEN_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests",
    "plan_goldens.json",
)


def plan_signature(df: DataFrame) -> dict[str, Any]:
    """Compact scale-relevant signature of ``df``'s physical plan.

    Parsed from the formatted explain (pre-execution, so under AQE this
    is the statically-planned shape — deterministic for a fixed
    sf_dir). Keys:

    - ``joins``: {join operator: count} for every join strategy present
    - ``shuffle_exchanges`` / ``broadcast_exchanges``: exchange counts
      (the former is the number of shuffles the plan pays)
    - ``scans``: parquet/file scan count;  ``pushed_filter_scans``: how
      many of them reached the reader with a non-empty PushedFilters
    - ``specials``: {operator: count} for rank-limit/top-k/pandas-UDF
      and other posture-defining operators
    """
    explain = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )
    counts: dict[str, int] = {}
    for line in explain.splitlines():
        m = _NODE_RE.match(line)
        if m:
            op = m.group(1).strip()
            counts[op] = counts.get(op, 0) + 1
    pushed = len(re.findall(r"PushedFilters: \[(?!\])", explain))
    scans = sum(v for k, v in counts.items() if k.startswith("Scan "))
    sig: dict[str, Any] = {
        "joins": {op: counts[op] for op in _JOIN_OPS if counts.get(op)},
        "shuffle_exchanges": counts.get("Exchange", 0),
        "broadcast_exchanges": counts.get("BroadcastExchange", 0),
        "scans": scans,
        "pushed_filter_scans": pushed,
        "specials": {op: counts[op] for op in _SPECIAL_OPS if counts.get(op)},
    }
    return sig


def compute_all(spark, sf_dir: str) -> dict[str, dict[str, Any]]:
    """Signature for every registered query. No query's final plan is
    executed, but each builder still runs the eager jobs it starts before
    returning its DataFrame (e.g. emb_semdedup's ``count()`` and the
    connected-components convergence loop), so this is not job-free."""
    from gazelle_plugin_spark.plans import all_queries

    out = {}
    for name, fn in all_queries().items():
        out[name] = plan_signature(fn(spark, sf_dir))
    return out


def main() -> None:
    from gazelle_plugin_spark import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_GOLDEN_SF", "/root/testdata/sf0.01")
    spark = get_spark(
        app_name="plan-goldens", master="local[8]", shuffle_partitions=8
    )
    spark.sparkContext.setLogLevel("ERROR")
    # corpus-gated queries register only where their corpus is checked
    # out; elsewhere their committed goldens are kept, not dropped
    from gazelle_plugin_spark.plans.sqltext_tpcds import CORPORA

    gated = tuple(c.prefix for c in CORPORA if not c.available())
    with open(GOLDEN_PATH) as f:
        sigs = {n: sig for n, sig in json.load(f).items() if n.startswith(gated)}
    sigs.update(compute_all(spark, sf_dir))
    with open(GOLDEN_PATH, "w") as f:
        json.dump(sigs, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(sigs)} plan signatures to {GOLDEN_PATH}")
    spark.stop()


if __name__ == "__main__":
    main()
