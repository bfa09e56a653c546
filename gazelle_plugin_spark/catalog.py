"""Table catalog for the driver-generated test data (TESTDATA.md).

Parquet scan is the engine's primary source (reference:
arrow-data-source ArrowDataSourceV2 reads parquet/orc/csv through
Arrow Dataset; SURVEY.md §2.1). Spark's vectorized parquet reader is
the direct analog: columnar batches, predicate pushdown, column
pruning — verified by tests/test_sources.py.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
)

EXTENSION_TABLES = ("events", "documents", "embeddings")

ALL_TABLES = TPCH_TABLES + EXTENSION_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: Per session, the schema Spark inferred on its first read of each
#: parquet path. Inference starts a Spark job per read; a known schema
#: starts none. EXPECTED_SCHEMA cannot stand in: it admits alternatives.
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read the engine's parquet table at ``path``: inferred on the
    session's first read, with that schema passed on every later one."""
    known = _SCHEMAS.setdefault(spark, {})
    if path not in known:
        known[path] = spark.read.parquet(path).schema
    return spark.read.schema(known[path]).parquet(path)


#: SQL conf required to read parquet TIMESTAMP(NANOS) columns (one of
#: the encodings the events table has shipped with). Engine sessions
#: get it from session.ENGINE_CONFS; ``ensure_nanos_as_long`` covers
#: foreign sessions (e.g. the driver's). A no-op for MICROS files.
NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def ensure_nanos_as_long(spark: SparkSession) -> None:
    """Enable TIMESTAMP(NANOS)-as-long parquet reads when UNSET.

    Engine-built sessions already carry this conf (session.ENGINE_CONFS);
    for sessions built elsewhere this is the documented capability
    enable for the events table. Only an ABSENT conf is set — a session
    where the caller explicitly chose ``false`` is left alone (their
    other parquet reads keep their timestamp semantics; events reads
    will then surface Spark's native TIMESTAMP(NANOS) error).
    """
    if spark.conf.get(NANOS_CONF, None) is None:
        spark.conf.set(NANOS_CONF, "true")


def ts_us_expr(df: DataFrame, col: str = "ts"):
    """Epoch-microseconds expression for the events ``ts`` column,
    adaptive to the OBSERVED parquet encoding rather than an assumed
    one (the generated testdata has shipped both):

    - ``timestamp`` / ``timestamp_ntz`` (parquet TIMESTAMP(MICROS)):
      cast NTZ to LTZ (identity under the engine's UTC session
      timezone, matching DuckDB's naive-as-UTC ``epoch_us``) and take
      ``unix_micros``.
    - ``bigint`` (parquet TIMESTAMP(NANOS) read via the
      ``nanosAsLong`` legacy conf): INTEGER-divide ns -> us (float
      division rounds at the 1.7e18 ns scale).
    """
    dtype = dict(df.dtypes).get(col)
    if dtype is None:
        raise KeyError(f"column {col!r} not found in events table")
    if dtype.startswith("timestamp"):
        return F.unix_micros(F.col(col).cast("timestamp_ltz"))
    return F.expr(f"{col} div 1000")


def _load_one(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # normalize ts to TIMESTAMP_LTZ micros whatever the file's
        # physical encoding (see ts_us_expr)
        ensure_nanos_as_long(spark)
        df = read_parquet(spark, table_path(sf_dir, name))
        return df.withColumn("ts", F.timestamp_micros(ts_us_expr(df)))
    return read_parquet(spark, table_path(sf_dir, name))


#: Expected raw-scan dtypes per table (tripwire against testdata
#: regeneration drift — the driver owns /root/testdata and has changed
#: an encoding mid-project once: events.ts NANOS -> MICROS, round 4).
#: Values are either one dtype string or a tuple of acceptable ones.
#: Parquet TIMESTAMP(isAdjustedToUTC=false) reads as timestamp_ntz on
#: Spark 4; events.ts additionally admits bigint (nanos-as-long).
_TS = ("timestamp", "timestamp_ntz")
EXPECTED_SCHEMA: dict[str, dict[str, str | tuple[str, ...]]] = {
    "region": {"r_regionkey": "int", "r_name": "string"},
    "nation": {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
    "customer": {
        "c_custkey": "bigint",
        "c_name": "string",
        "c_nationkey": "int",
        "c_acctbal": "double",
        "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "bigint",
        "s_name": "string",
        "s_nationkey": "int",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "bigint",
        "p_name": "string",
        "p_brand": "string",
        "p_type": "string",
        "p_size": "int",
        "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "bigint",
        "o_custkey": "bigint",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderdate": _TS,
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "bigint",
        "l_partkey": "bigint",
        "l_suppkey": "bigint",
        "l_linenumber": "int",
        "l_quantity": "double",
        "l_extendedprice": "double",
        "l_discount": "double",
        "l_tax": "double",
        "l_returnflag": "string",
        "l_linestatus": "string",
        "l_shipdate": _TS,
    },
    "events": {
        "event_id": "bigint",
        "ts": _TS + ("bigint",),
        "user_id": "bigint",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
    "documents": {
        "doc_id": "bigint",
        "text": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "bigint",
    },
    "embeddings": {
        "vec_id": "bigint",
        "embedding": "array<float>",
        "label": "int",
    },
}


def assert_testdata_schema(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Fail fast, naming the drifted column, if the generated testdata
    no longer matches :data:`EXPECTED_SCHEMA`.

    The engine's loaders adapt where they can (events.ts), but silent
    drift elsewhere surfaces as cryptic mid-query analysis errors; this
    turns the next regeneration into a one-line diagnosis. Footer-only
    reads — O(tables), no data scan — and always fresh: never
    :func:`read_parquet`'s memo, which would repeat a stale schema.
    """
    ensure_nanos_as_long(spark)
    problems = []
    for name, want in EXPECTED_SCHEMA.items():
        try:
            got = dict(spark.read.parquet(table_path(sf_dir, name)).dtypes)
        except Exception as exc:  # noqa: BLE001 - report unreadable table
            problems.append(f"{name}: unreadable ({type(exc).__name__}: {exc})")
            continue
        for col, allowed in want.items():
            opts = (allowed,) if isinstance(allowed, str) else allowed
            actual = got.get(col)
            if actual not in opts:
                problems.append(
                    f"{name}.{col}: expected one of {opts}, observed {actual!r}"
                )
    if problems:
        raise AssertionError(
            "testdata schema drift detected:\n  " + "\n  ".join(problems)
        )


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = ALL_TABLES
) -> dict[str, DataFrame]:
    """Load the synthetic tables as DataFrames (lazy scans)."""
    return {name: _load_one(spark, sf_dir, name) for name in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = ALL_TABLES
) -> None:
    """Register each table as a temp view for ``spark.sql`` entry."""
    for name, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)
