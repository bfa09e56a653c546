"""Unified read/write facade over Spark's DSv2 sources, plus Arrow IPC.

Scale notes (100 TB): reads rely on Catalyst pushdown — predicate
pushdown and column pruning reach the parquet/ORC row groups
(`PushedFilters` / pruned `ReadSchema` in the plan, asserted in
tests/test_sources.py); `spark.sql.files.maxPartitionBytes` (session
profile, 128 MB) bounds scan-task size. Writes partition by the
columns a downstream reader prunes on; CSV/JSON are interchange
formats, not the scale path.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from gazelle_plugin_spark.operators.errors import UnsupportedOperationError

#: Reference parity (ArrowUtils.scala:212-218) is parquet/orc/csv;
#: json is beyond-reference (free in Spark).
SUPPORTED_FORMATS = ("parquet", "orc", "csv", "json")


def _check_format(fmt: str) -> str:
    fmt = fmt.lower()
    if fmt not in SUPPORTED_FORMATS:
        raise UnsupportedOperationError(
            f"format {fmt!r}",
            f"one of {SUPPORTED_FORMATS} (spark.read.format(...) for others)",
        )
    return fmt


def read(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: StructType | str | None = None,
    **options: str,
) -> DataFrame:
    """Read ``path`` as ``fmt``. CSV defaults to header+non-inferring
    (pass an explicit schema for type fidelity — schema inference
    costs an extra full scan at 100 TB)."""
    fmt = _check_format(fmt)
    reader = spark.read.format(fmt)
    if fmt == "csv":
        reader = reader.option("header", options.pop("header", "true"))
    if schema is not None:
        reader = reader.schema(schema)
    if options:
        reader = reader.options(**options)
    return reader.load(path)


def write(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
    **options: str,
) -> None:
    """Write ``df`` to ``path`` as ``fmt`` (ArrowFileFormat sink
    analog). ``partition_by`` produces the hive-style layout partition
    pruning needs."""
    fmt = _check_format(fmt)
    writer = df.write.format(fmt).mode(mode)
    if fmt == "csv":
        writer = writer.option("header", options.pop("header", "true"))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if options:
        writer = writer.options(**options)
    writer.save(path)


def read_arrow_ipc(spark: SparkSession, path: str) -> DataFrame:
    """Distributed Arrow IPC (Feather v2) reader — the engine's analog
    of the reference's Arrow Dataset source (ArrowDataSourceV2 reads
    its formats through Arrow; SURVEY.md §2.1). Spark has no native
    IPC format, so files are listed by the binaryFile source (split
    across executors like any scan) and each is decoded EXECUTOR-SIDE
    with pyarrow inside mapInArrow — blobs never visit the driver;
    per-file parallelism matches the file layout (write one file per
    partition, as write_arrow_ipc does).

    Schema comes from the SMALLEST file via a pyarrow-filesystem
    footer read (no content transfer — an IPC file's schema lives in
    its footer, so the probe is O(KB) however large the file); if no
    pyarrow filesystem handles the scheme, falls back to collecting
    that one file's content through the binaryFile ``content`` column.
    Only ``*.arrow`` files are listed (pathGlobFilter), so a
    crashed-attempt temp file can never be scanned or win the
    smallest-file probe.

    Files above binaryFile's 2 GiB content ceiling are rejected up
    front with a clear error (the ``length`` column is file-status
    metadata — the guard reads no data): this reader pairs with
    write_arrow_ipc's one-file-per-partition layout, so keep write
    partitions under 2 GiB (repartition before writing)."""
    import pyarrow as pa
    import pyarrow.fs  # noqa: F401 - registers pa.fs
    import pyarrow.ipc as ipc
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import from_arrow_schema

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.arrow")
        .load(path)
    )

    # metadata-only probe: smallest file for the schema, largest for the guard
    stats = files.groupBy().agg(
        F.min_by("path", "length").alias("smallest"),
        F.max("length").alias("max_len"),
    ).collect()
    if not stats or stats[0].smallest is None:
        raise UnsupportedOperationError(
            f"no files under {path!r}", "a non-empty IPC directory"
        )
    if stats[0].max_len >= 2**31:
        raise UnsupportedOperationError(
            f"IPC file >2 GiB under {path!r} (binaryFile content ceiling)",
            "files written one-per-partition under 2 GiB "
            "(repartition before write_arrow_ipc)",
        )
    try:
        fs, fs_path = pa.fs.FileSystem.from_uri(stats[0].smallest)
        with fs.open_input_file(fs_path) as f, ipc.open_file(f) as rd:
            schema = rd.schema
    except (pa.ArrowException, ValueError, OSError):
        # scheme pyarrow can't open or recognizes-but-can't-handle
        # (from_uri raises ArrowNotImplementedError for those — a
        # subclass of ArrowException, as is ArrowInvalid); fall back
        # to collecting the one smallest file's content
        probe = (
            files.filter(F.col("path") == stats[0].smallest)
            .select("content")
            .collect()
        )
        with ipc.open_file(pa.BufferReader(probe[0].content)) as rd:
            schema = rd.schema
    spark_schema = from_arrow_schema(schema)

    def decode(batches):
        for batch in batches:  # binaryFile rows: (path, ..., content)
            cols = batch.column_names
            for row in range(batch.num_rows):
                content = batch.column(cols.index("content"))[row].as_py()
                with ipc.open_file(pa.BufferReader(content)) as rd:
                    for i in range(rd.num_record_batches):
                        yield rd.get_batch(i)

    return files.select("path", "content").mapInArrow(decode, spark_schema)


def write_arrow_ipc(df: DataFrame, path: str) -> int:
    """Distributed Arrow IPC (Feather v2) writer — ArrowFileFormat
    sink analog (ArrowWriteExtension.scala:43-108 smuggles Arrow
    batches through the row-writer API; here each PARTITION serializes
    its Arrow batches straight to one IPC file, executor-side; empty
    partitions write nothing). Returns the row count written.

    Commit protocol (task retries/speculation are routine at scale):
    each task writes to a DOT-PREFIXED per-attempt temp name and
    atomically renames to the deterministic
    ``part-<partitionId>.arrow`` on success — a failed/duplicate
    attempt leaves at most a hidden ``.part-*.tmp`` orphan (invisible
    to Spark's file listing AND to read_arrow_ipc's ``*.arrow`` glob),
    never a truncated or double-counted part file, and a re-run of the
    same partition overwrites rather than accumulates. A non-empty
    destination is refused (no silent accumulation across writes).

    Executors write directly to ``path`` — local mode or a shared
    filesystem; an object-store deployment would swap the open() for
    its client the same way any foreachPartition sink does."""
    import os

    import pyarrow as pa
    import pyarrow.ipc as ipc
    from pyspark import TaskContext
    from pyspark.sql.pandas.types import to_arrow_schema

    os.makedirs(path, exist_ok=True)
    existing = [f for f in os.listdir(path) if not f.startswith(".")]
    if existing:
        raise UnsupportedOperationError(
            f"non-empty destination {path!r} ({len(existing)} files)",
            "an empty/new directory (write_arrow_ipc never appends)",
        )
    schema = to_arrow_schema(df.schema)

    def write_part(batches):
        ctx = TaskContext.get()
        writer, n, tmp = None, 0, None
        for batch in batches:
            if writer is None:
                tmp = os.path.join(
                    path,
                    f".part-{ctx.partitionId():05d}.{ctx.taskAttemptId()}.tmp",
                )
                writer = ipc.new_file(tmp, schema)
            writer.write_batch(batch)
            n += batch.num_rows
        if writer is not None:
            writer.close()
            final = os.path.join(path, f"part-{ctx.partitionId():05d}.arrow")
            os.replace(tmp, final)
        yield pa.RecordBatch.from_pylist([{"n": n}], schema=pa.schema([("n", pa.int64())]))

    # one row per partition: summed on the driver, not by a second job
    return sum(r.n for r in df.mapInArrow(write_part, "n long").collect())
