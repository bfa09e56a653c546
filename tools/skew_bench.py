"""Hot-key skew stress measurement (SCALE.md round-13, verdict task 5).

One invocation = ONE join variant in ONE fresh JVM (same discipline as
bench.py's recycled workers: later variants must not ride earlier
JIT/GC state). The fixture is planted in-memory at sf1-like fact grain: a
fact table where a single hot key carries 90% of rows (the classic
power-law user/session distribution every 100 TB corpus has) joined
to a dim table big enough that Spark will NOT auto-broadcast it —
the regime where a hash-partitioned join funnels the hot key into one
task.

Variants:
  plain        engine profile as-is (AQE on, skewJoin on) — measures
               what Spark's own OptimizeSkewedJoin does with the key
               (the reference's posture: ShufflePartitionUtils-style
               partition reoptimization, SURVEY.md §4#6)
  plain-noaqe  AQE skew handling OFF — the naked skew baseline (what
               a static planner would do at 100 TB)
  salted       operators/exchange.py salted_join(salt=16) — the key
               itself is split, so even a SINGLE key cannot exceed
               fact/16 rows per task

Metrics per variant: wall time (median of reps), the join stage's
task-duration quantiles (p50/p95/max from the UI REST taskSummary —
task-time SPREAD is the skew signal), and shuffle write bytes.

Usage: python tools/skew_bench.py <out.jsonl> <variant> [rows] [reps]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HOT_SHARE = 0.9
DIM_ROWS = 3_000_000  # ~23 MB of longs+strings: over every broadcast threshold
SALT = 16


def _fact(spark, rows: int):
    # 90% of rows on key 7, the rest uniform over 1M cold keys —
    # deterministic from id, no rand()
    return spark.range(0, rows).selectExpr(
        f"case when id % 10 < {int(HOT_SHARE * 10)} then 7L "
        "else 8 + (id % 1000000) end as k",
        "id as payload",
    )


def _dim(spark):
    return spark.range(0, DIM_ROWS).selectExpr(
        "id as rk", "concat('dim_', id % 97) as label"
    )


def _sink(df) -> int:
    # full-evaluation sink (round-11 lesson: collect() of wide results
    # measures Python serialization; count() lets Catalyst prune)
    return df.selectExpr("sum(hash(k, payload, label)) as h").collect()[0][0]


def _join_stage_spread(spark, seen: set) -> dict:
    """Task-duration quantiles of the heaviest NEW shuffle-read stage
    (the reduce side of the join) + total new shuffle write bytes."""
    from gazelle_plugin_spark import profile

    new = profile.new_stages(spark, seen)
    wbytes = sum(s.get("shuffleWriteBytes", 0) for s in new)
    if not new:
        return {"shuffle_write_bytes": wbytes}
    top, q = profile.heaviest_read_summary(spark, new, "0.5,0.95,1.0")
    dur = q.get("duration", [None, None, None])
    return {
        "shuffle_write_bytes": wbytes,
        "join_stage_id": top["stageId"],
        "join_stage_tasks": top.get("numCompleteTasks"),
        "task_ms_p50": dur[0],
        "task_ms_p95": dur[1],
        "task_ms_max": dur[2],
    }


def main() -> None:
    out_path, variant = sys.argv[1], sys.argv[2]
    rows = int(sys.argv[3]) if len(sys.argv) > 3 else 6_000_000
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 3

    from gazelle_plugin_spark.operators.exchange import salted_join
    from gazelle_plugin_spark.session import get_spark

    spark = get_spark(
        app_name=f"skew-bench-{variant}",
        extra_confs={
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_BENCH_MEM", "8g"),
            "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=512m",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    if variant == "plain-noaqe":
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    # dim must shuffle, not broadcast — the skew regime under study
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

    fact, dim = _fact(spark, rows), _dim(spark)

    def run():
        if variant == "salted":
            return _sink(salted_join(fact, dim, "k", "rk", salt=SALT))
        return _sink(fact.join(dim, fact.k == dim.rk, "inner"))

    run()  # untimed warm-up (JIT + first-plan codegen)
    seen: set = set()
    _join_stage_spread(spark, seen)  # absorb warm-up stages
    times, spread = [], {}
    for _ in range(reps):
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        h = run()
        times.append(time.perf_counter() - t0)
        spread = _join_stage_spread(spark, seen)  # last rep's stages
    line = {
        "variant": variant,
        "rows": rows,
        "hot_share": HOT_SHARE,
        "dim_rows": DIM_ROWS,
        "salt": SALT if variant == "salted" else None,
        "reps": reps,
        "sec": round(statistics.median(times), 4),
        "result_hash": h,
        **spread,
    }
    with open(out_path, "a") as f:
        f.write(json.dumps(line) + "\n")
    print(json.dumps(line))


if __name__ == "__main__":
    main()
