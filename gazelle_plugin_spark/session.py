"""Tuned SparkSession builder.

The reference tunes its sessions via GazellePluginConfig
(reference: native-sql-engine/core/src/main/scala/com/intel/oap/
GazellePluginConfig.scala) and docs/performance.md:
- columnar batch size 20480,
- shuffle partitions = 1-2x total cores,
- off-heap memory, AQE enabled.

Here the same intents map to vanilla Spark confs: Tungsten +
whole-stage codegen already provide vectorized columnar execution, so
the "plugin" surface collapses to this config profile; the plans call
the DataFrame API directly.

Scale posture (100 TB / 1000 executors): everything below is
per-session, cluster-size independent. ``shuffle_partitions`` should
be sized 1-2x total cores at deploy time; AQE coalesces/splits at
runtime so an over-estimate is safe. Skewed joins are handled by AQE
skew-join; known-small dims by explicit ``F.broadcast`` hints in the
plans (the auto threshold stays at Spark's 10 MB default — the
round-13 sf1 bisect showed a raised threshold auto-broadcasting the
fact side and regressing star joins 2x).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Config profile applied to every session. Each entry notes the
#: reference feature it replaces (file refs per SURVEY.md).
ENGINE_CONFS: dict[str, str] = {
    # AQE: runtime partition coalescing + skew-join splitting replaces
    # the reference's CoalesceBatchesExec and ShufflePartitionUtils
    # (reference: ColumnarOverrides.scala:207-217).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Prefer hash joins for equi-joins like the reference's
    # JoinSelectionOverrides (reference: StrategyOverrides.scala:39-78):
    # broadcast when small, shuffled-hash over sort-merge when one side
    # is per-partition-buildable. SMJ still kicks in for huge inputs.
    "spark.sql.join.preferSortMergeJoin": "false",
    # AUTO-broadcast threshold stays at Spark's battle-tested 10 MB.
    # Round 13 measured the previously-raised 64 MB profile at sf1:
    # it auto-broadcast the 26 MB-parquet orders table (1.5M rows,
    # ~10x that deserialized) and q3/q4/q5/q18 ran ~2x SLOWER than
    # with 10 MB (fresh-JVM conf bisect, SCALE.md round-13) — and at
    # 1000 executors a >10 MB broadcast is a driver fan-out storm.
    # Known-small dims keep explicit F.broadcast hints in the plans,
    # which bypass this threshold; AQE still upgrades runtime-small
    # sides. (Threshold set explicitly so the decision is visible.)
    "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
    # Columnar batch sizing per reference docs/performance.md
    # ("Columnar Batch size": 20480).
    "spark.sql.parquet.columnarReaderBatchSize": "20480",
    "spark.sql.inMemoryColumnarStorage.batchSize": "20480",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "20480",
    # Arrow transfer for pandas UDFs / toPandas — the analog of the
    # reference's ColumnarArrowEvalPythonExec (zero row conversion).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timezone so datetime expressions match the oracle.
    "spark.sql.session.timeZone": "UTC",
    # Read parquet TIMESTAMP(NANOS) (the events table) as long —
    # set in the profile so no read path has to mutate session conf
    # (catalog.ensure_nanos_as_long covers foreign sessions).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Reasonable local-mode shuffle width; override per deployment.
    "spark.sql.shuffle.partitions": "32",
    # Read 128 MB splits at scan — keeps 100 TB scans at ~800k tasks,
    # AQE coalesces downstream.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Non-ANSI mode: the engine mirrors classic Spark SQL semantics
    # (the reference is a Spark 3.1/3.2 plugin, pre-ANSI-default) —
    # e.g. x/0 => NULL rather than error, lenient casts.
    "spark.sql.ansi.enabled": "false",
    # Generated-class cache (the reference compiles each fused pipeline
    # once, SURVEY.md §2.11), sized over the working set: distinct
    # classes per pass 90 (perfbench star_queries), 378 (star_full),
    # ~2,050 (all 186 builders, sf0.01); Spark's default 100 recompiled
    # them every warm pass. Static: set only by the JVM's first session.
    "spark.sql.codegen.cache.maxEntries": "4096",
    # The cache key is the class source; AQE numbers codegen stages as
    # concurrent stages finish, so ids in class names made reruns miss.
    "spark.sql.codegen.useIdInClassName": "false",
}


#: The checkout root: the directory holding the ``gazelle_plugin_spark``
#: package, put on the Python workers' path by :func:`get_spark`.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def session_confs() -> dict[str, str]:
    """The engine's session config profile (copy)."""
    return dict(ENGINE_CONFS)


def get_spark(
    app_name: str = "gazelle_plugin_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine profile.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    real cluster leave it None and let spark-submit provide it.

    Python workers unpickle module-level kernels by reference, so they
    must import the package from any working directory: the checkout
    root leads ``spark.executorEnv.PYTHONPATH``, ahead of any value the
    caller passes in ``extra_confs``. On a cluster that path must also
    exist on the executors; otherwise ship the package with
    ``--py-files``.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is None:
        master = "local[*]"
    builder = builder.master(master)
    confs = dict(ENGINE_CONFS)
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_confs:
        confs.update(extra_confs)
    path = "spark.executorEnv.PYTHONPATH"
    confs[path] = os.pathsep.join(p for p in (_PACKAGE_ROOT, confs.get(path)) if p)
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark
