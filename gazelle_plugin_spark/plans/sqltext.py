"""Verbatim replay of the reference's SQL-text corpora.

The reference proves parity by running its own query files: TPC-H
``tpch/q1.sql .. q22.sql`` (``TPCHSuite.scala:42-120``), SSB
``ssb/1.1.sql .. 4.3.sql`` (``SSBQuerySuite.scala``) and three TPC-DS
sets (plans/sqltext_tpcds.py). Each set is one :class:`Corpus` record;
one runner executes any of their texts UNMODIFIED through
``spark.sql`` over a compatibility catalog, and one oracle builder
runs the identical text on DuckDB over the same view definitions.

The driver's synthetic schema is reduced TPC-H (no ``partsupp``; no
comment/address/phone/shipmode/commitdate... columns) — so the
adaptation lives in the CATALOG, never in the query text:

- Enriched views synthesize every missing column deterministically
  from existing keys, using the REAL TPC-H value domains
  (``l_shipmode`` in REG AIR/AIR/..., containers in SM CASE/MED
  BOX/..., phone ``<nationkey+10>-ddd-ddd-dddd``), so the texts'
  literals bind to real rows wherever possible.
- A synthetic ``partsupp`` (4 suppliers per part, TPC-H-style) backs
  q2/q9/q11/q16/q20.
- Money doubles are cast to DECIMAL in the views, so the texts' bare
  ``sum(...)`` aggregates are decimal-exact on both engines (the
  repo-wide exact-aggregation convention of plans/_util.py, applied
  at the catalog layer because a verbatim text cannot cast).
- SSB runs over ``lineorder``/``date`` views derived per the same
  retarget as plans/ssb.py (lineitem x orders; lo_discount as integer
  percent; lo_supplycost = 100/unit; city = nation || '_C' || key%10).

Because the driver's synthetic data spans 1995-2001 while the texts'
default substitutions target 1992-1998 (and name nations/brands that
do not exist here), each text runs in TWO variants:

- ``verbatim``: byte-identical reference text. Some are empty on this
  data (a 1993 filter matches nothing) — still a real parity check,
  both engines must agree on the empty/partial result.
- ``fitted``: the same text with ONLY literal parameters re-
  substituted to this dataset's domains (dates +3 years; nation /
  brand / type names mapped). TPC-H queries are parameterized by
  design ("-- using default substitutions"); the fitted variant is a
  legal substitution set, and is required to be non-empty.

The oracle side may differ from the Spark text only by value-
preserving rewrites the record declares: dialect patches (identifier
quoting, SEMI JOIN spelling, alias resolution, Spark's default null
order) and an outer projection that casts or renames output columns
where the engines' physical types or default names diverge. The
oracle prelude defines the views as CTEs, shadowing the base views;
inner references use ``main.<table>`` to bypass the shadow.
"""

from __future__ import annotations

import os
import re
from collections.abc import Mapping, Sequence
from dataclasses import dataclass, field
from functools import partial
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gazelle_plugin_spark.catalog import read_parquet, table_path
from gazelle_plugin_spark.plans import query

#: Where the reference's SQL text corpus lives (read-only checkout).
REF_SQL_ROOT = os.environ.get(
    "SPARK_GRAFT_REF_SQL",
    "/root/reference/native-sql-engine/core/src/test/resources",
)


# ---------------------------------------------------------------------------
# Compatibility catalog: one definition, two dialect renderings.
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class _Dialect:
    dateadd: Callable[[str, str], str]  # add n days to a DATE expr
    s: Callable[[str], str]             # cast to string
    monyear: Callable[[str], str]       # 'Dec1997' rendering


_SPARK = _Dialect(
    dateadd=lambda e, n: f"date_add({e}, CAST({n} AS INT))",
    s=lambda e: f"CAST({e} AS STRING)",
    monyear=lambda e: f"date_format({e}, 'MMMyyyy')",
)
_DUCK = _Dialect(
    dateadd=lambda e, n: f"({e} + CAST({n} AS INT))",
    s=lambda e: f"CAST({e} AS VARCHAR)",
    monyear=lambda e: f"strftime({e}, '%b%Y')",
)


def _tpch_views(d: _Dialect, src: Callable[[str], str]) -> dict[str, str]:
    """Enriched full-TPC-H-surface view bodies. ``src(name)`` renders
    the raw-table reference for the dialect."""
    shipdate = "CAST(l_shipdate AS DATE)"
    return {
        "lineitem": f"""
SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
  CAST(l_quantity AS DECIMAL(14,4)) AS l_quantity,
  CAST(l_extendedprice AS DECIMAL(14,2)) AS l_extendedprice,
  CAST(l_discount AS DECIMAL(6,4)) AS l_discount,
  CAST(l_tax AS DECIMAL(6,4)) AS l_tax,
  l_returnflag, l_linestatus,
  {shipdate} AS l_shipdate,
  {d.dateadd(shipdate, '((l_orderkey * 7 + l_linenumber) % 61) - 30')} AS l_commitdate,
  {d.dateadd(shipdate, '((l_orderkey * 3 + l_linenumber) % 30) + 1')} AS l_receiptdate,
  CASE CAST((l_orderkey * 31 + l_linenumber) % 7 AS INT)
    WHEN 0 THEN 'REG AIR' WHEN 1 THEN 'AIR' WHEN 2 THEN 'RAIL'
    WHEN 3 THEN 'SHIP' WHEN 4 THEN 'TRUCK' WHEN 5 THEN 'MAIL'
    ELSE 'FOB' END AS l_shipmode,
  CASE CAST((l_orderkey * 13 + l_linenumber) % 4 AS INT)
    WHEN 0 THEN 'DELIVER IN PERSON' WHEN 1 THEN 'COLLECT COD'
    WHEN 2 THEN 'NONE' ELSE 'TAKE BACK RETURN' END AS l_shipinstruct
FROM {src('lineitem')}""",
        "orders": f"""
SELECT o_orderkey, o_custkey, o_orderstatus,
  CAST(o_totalprice AS DECIMAL(12,2)) AS o_totalprice,
  CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority,
  0 AS o_shippriority,
  CASE WHEN o_orderkey % 5 = 0
    THEN 'blithely special deposits. special pending requests sleep'
    ELSE 'furiously regular deposits nag quickly' END AS o_comment
FROM {src('orders')}""",
        "customer": f"""
SELECT c_custkey, c_name, c_nationkey,
  CAST(c_acctbal AS DECIMAL(12,2)) AS c_acctbal, c_mktsegment,
  'Address#' || {d.s('c_custkey')} AS c_address,
  {d.s('c_nationkey + 10')} || '-'
    || lpad({d.s('(c_custkey * 7) % 1000')}, 3, '0') || '-'
    || lpad({d.s('(c_custkey * 13) % 1000')}, 3, '0') || '-'
    || lpad({d.s('(c_custkey * 31) % 10000')}, 4, '0') AS c_phone,
  CASE WHEN c_custkey % 7 = 0
    THEN 'slyly ironic complaints about pending accounts'
    ELSE 'quiet final accounts wake carefully' END AS c_comment
FROM {src('customer')}""",
        "supplier": f"""
SELECT s_suppkey, s_name, s_nationkey,
  CAST(s_acctbal AS DECIMAL(12,2)) AS s_acctbal,
  'SupplierAddress#' || {d.s('s_suppkey')} AS s_address,
  {d.s('s_nationkey + 10')} || '-'
    || lpad({d.s('(s_suppkey * 7) % 1000')}, 3, '0') || '-'
    || lpad({d.s('(s_suppkey * 13) % 1000')}, 3, '0') || '-'
    || lpad({d.s('(s_suppkey * 31) % 10000')}, 4, '0') AS s_phone,
  CASE WHEN s_suppkey % 10 = 0
    THEN 'slyly express Customer accounts. Complaints sleep furiously'
    ELSE 'blithely regular deposits nag' END AS s_comment
FROM {src('supplier')}""",
        "part": f"""
SELECT p_partkey, p_name, p_brand, p_type, p_size,
  CAST(p_retailprice AS DECIMAL(12,2)) AS p_retailprice,
  'Manufacturer#' || {d.s('p_partkey % 5 + 1')} AS p_mfgr,
  CASE CAST(p_partkey % 8 AS INT)
    WHEN 0 THEN 'SM CASE' WHEN 1 THEN 'SM BOX' WHEN 2 THEN 'SM PACK'
    WHEN 3 THEN 'MED BAG' WHEN 4 THEN 'MED BOX' WHEN 5 THEN 'MED PKG'
    WHEN 6 THEN 'LG CASE' ELSE 'LG BOX' END AS p_container
FROM {src('part')}""",
        "partsupp": f"""
SELECT p_partkey AS ps_partkey,
  CAST((p_partkey * 7 + quad.i * 13) % sc.ns AS BIGINT) AS ps_suppkey,
  CAST((p_partkey * 13 + quad.i * 7) % 9999 + 1 AS INT) AS ps_availqty,
  CAST((p_partkey * 29 + quad.i * 17) % 80000 + 100 AS DECIMAL(12,2))
    * CAST(0.01 AS DECIMAL(4,2)) AS ps_supplycost
FROM {src('part')}
CROSS JOIN (SELECT 0 AS i UNION ALL SELECT 1 UNION ALL
            SELECT 2 UNION ALL SELECT 3) quad
CROSS JOIN (SELECT COUNT(*) AS ns FROM {src('supplier')}) sc""",
        "nation": f"SELECT n_nationkey, n_name, n_regionkey FROM {src('nation')}",
        "region": f"SELECT r_regionkey, r_name FROM {src('region')}",
    }


def _ssb_views(d: _Dialect, src: Callable[[str], str]) -> dict[str, str]:
    """SSB-surface view bodies over the TPC-H tables, per the same
    retarget as plans/ssb.py."""
    od = "CAST(o_orderdate AS DATE)"
    return {
        "lineorder": f"""
SELECT l.l_orderkey AS lo_orderkey, l.l_partkey AS lo_partkey,
  l.l_suppkey AS lo_suppkey, o.o_custkey AS lo_custkey,
  CAST(o.o_orderdate AS DATE) AS lo_orderdate,
  CAST(l.l_quantity AS INT) AS lo_quantity,
  CAST(l.l_extendedprice AS DECIMAL(12,2)) AS lo_extendedprice,
  CAST(ROUND(l.l_discount * 100) AS INT) AS lo_discount,
  CAST(l.l_extendedprice AS DECIMAL(12,2))
    * CAST(1 - l.l_discount AS DECIMAL(4,2)) AS lo_revenue,
  CAST(l.l_quantity * 100 AS DECIMAL(12,2)) AS lo_supplycost
FROM {src('lineitem')} l JOIN {src('orders')} o
  ON l.l_orderkey = o.o_orderkey""",
        "date": f"""
SELECT DISTINCT {od} AS d_datekey,
  CAST(year({od}) AS INT) AS d_year,
  CAST(year({od}) * 100 + month({od}) AS INT) AS d_yearmonthnum,
  {d.monyear(od)} AS d_yearmonth,
  CAST(weekofyear({od}) AS INT) AS d_weeknuminyear
FROM {src('orders')}""",
        "customer": f"""
SELECT c_custkey, n_name AS c_nation, r_name AS c_region,
  n_name || '_C' || {d.s('c_custkey % 10')} AS c_city
FROM {src('customer')}
JOIN {src('nation')} ON c_nationkey = n_nationkey
JOIN {src('region')} ON n_regionkey = r_regionkey""",
        "supplier": f"""
SELECT s_suppkey, n_name AS s_nation, r_name AS s_region,
  n_name || '_C' || {d.s('s_suppkey % 10')} AS s_city
FROM {src('supplier')}
JOIN {src('nation')} ON s_nationkey = n_nationkey
JOIN {src('region')} ON n_regionkey = r_regionkey""",
        "part": f"""
SELECT p_partkey, p_type AS p_mfgr, p_type AS p_category,
  p_brand AS p_brand1
FROM {src('part')}""",
    }


#: A view family: ``(dialect, src) -> {view name: body}``, where
#: ``src(table)`` renders the raw-table reference for the dialect.
Views = Callable[[_Dialect, Callable[[str], str]], dict[str, str]]


def register_views(spark: SparkSession, sf_dir: str, views: Views) -> None:
    """Create a family's compatibility temp views. Idempotent; the
    families share view names (customer, supplier, part) and shadow
    each other — last registration wins."""
    raws = {}

    def src(name: str) -> str:
        if name not in raws:
            view = f"sqltext_raw_{name}"
            read_parquet(spark, table_path(sf_dir, name)).createOrReplaceTempView(view)
            raws[name] = view
        return raws[name]

    for name, body in views(_SPARK, src).items():
        spark.sql(body).createOrReplaceTempView(name)


def oracle_prelude(views: Views) -> str:
    """DuckDB WITH-prelude defining the same views as CTEs. CTE names
    shadow the driver's base views; inner references go through
    ``main.<table>`` to reach the real tables."""
    ctes = ",\n".join(
        f'"{name}" AS ({body})'
        for name, body in views(_DUCK, lambda n: f"main.{n}").items()
    )
    return f"WITH {ctes}"


_COMMENT = re.compile(r"^\s*--[^\n]*\n")


def merge_prelude(prelude: str, text: str) -> str:
    """Prepend the view CTEs to a query text, folding the text's own
    WITH clause (q15) into the same CTE list."""
    body = text
    while _COMMENT.match(body):
        body = _COMMENT.sub("", body, count=1)
    body = body.strip()
    if re.match(r"(?i)^with\b", body):
        return f"{prelude},\n{body[4:].lstrip()}"
    return f"{prelude}\n{body}"


def sub_literals(text: str, subs: Mapping[str, str]) -> str:
    """Apply literal-only substitutions, longest key first. Quoted
    keys replace verbatim; bare-number keys replace only as WHOLE
    numbers (regex word boundaries) — a plain substring replace would
    silently corrupt unrelated digit runs (e.g. TPC-DS Julian-day
    partition lists contain every short number)."""
    for old, new in sorted(subs.items(), key=lambda kv: -len(kv[0])):
        if old.startswith("'"):
            text = text.replace(old, new)
        else:
            text = re.sub(rf"\b{re.escape(old)}\b", new, text)
    return text


def normalize_output(df: DataFrame) -> DataFrame:
    """Cast DECIMAL -> DOUBLE and DATE -> TIMESTAMP in the result so
    the cross-engine pandas compare sees the same representations
    (DuckDB's client does the identical conversion on its side). The
    underlying values are exact decimals / midnight dates, so the
    conversion is lossless and engine-independent.

    Duplicate-safe: texts that project both sides of a self-join
    (TPC-DS q14/q64: ``select cs1.*, cs2.*``-style output) emit
    DUPLICATE column names, which a name-based select would reject as
    AMBIGUOUS_REFERENCE — so the cast runs under temporary positional
    names and the original names are restored afterwards."""
    names = [f.name for f in df.schema.fields]
    dup = len(set(names)) != len(names)
    if dup:
        df = df.toDF(*[f"_nrm_{i}" for i in range(len(names))])
    cols = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, T.DecimalType):
            c = c.cast("double")
        elif isinstance(f.dataType, T.DateType):
            c = c.cast("timestamp")
        cols.append(c.alias(f.name))
    out = df.select(*cols)
    return out.toDF(*names) if dup else out


# ---------------------------------------------------------------------------
# The corpus record and the one runner over it
# ---------------------------------------------------------------------------

_DATE_LIT = re.compile(r"date '(\d{4})-")

#: A dialect patch: (regex, replacement), applied to the oracle text
#: only. Each must be value-preserving (quoting, spelling, alias
#: resolution, explicit null order).
Patch = tuple[str, str]


@dataclass(frozen=True)
class Corpus:
    """One reference SQL-text corpus and everything needed to replay
    it on Spark and on DuckDB."""

    #: registry name prefix of its driver queries (prefix + name, with
    #: '.' spelled '_')
    prefix: str
    #: directory of ``<name>.sql`` files under ``root``
    dir: str
    #: the compatibility view family its texts run over
    views: Views
    #: the file names; None lists them from the directory
    fixed_names: tuple[str, ...] | None = None
    #: fitted variant: years added to every ``date 'YYYY-`` literal ...
    shift_years: int = 0
    #: ... then per-name literal-only substitutions (sub_literals)
    fitted_subs: Mapping[str, Mapping[str, str]] = field(default_factory=dict)
    #: oracle dialect patches for every text, then per name
    patches: Sequence[Patch] = ()
    name_patches: Mapping[str, Sequence[Patch]] = field(default_factory=dict)
    #: oracle output projection per name: ordered (column, DuckDB cast
    #: type or None) — DuckDB SUM(INTEGER) is HUGEINT where Spark's is
    #: BIGINT, and Spark types grouping()/rank() narrower
    out_casts: Mapping[str, Sequence[tuple[str, str | None]]] = field(default_factory=dict)
    #: oracle output renames per name: (DuckDB name, Spark name) — the
    #: driver compare pairs columns BY NAME (count_star() vs count(1))
    out_renames: Mapping[str, Sequence[tuple[str, str]]] = field(default_factory=dict)
    #: driver-registered (name, fitted) entries: the value-safe subset
    #: (exact sums/counts/attributes; no avg/ratio output columns)
    tranche: tuple[tuple[str, bool], ...] = ()
    root: str = REF_SQL_ROOT

    def available(self) -> bool:
        return os.path.isdir(os.path.join(self.root, self.dir))

    def names(self) -> tuple[str, ...]:
        if self.fixed_names is not None:
            return self.fixed_names
        if not self.available():
            return ()
        files = os.listdir(os.path.join(self.root, self.dir))
        return tuple(sorted(f[:-4] for f in files if f.endswith(".sql")))

    def qname(self, name: str) -> str:
        return self.prefix + name.replace(".", "_")

    def text(self, name: str, fitted: bool = False) -> str:
        """The reference text, or its fitted variant."""
        with open(os.path.join(self.root, self.dir, f"{name}.sql")) as f:
            text = f.read()
        if not fitted:
            return text
        if self.shift_years:
            text = _DATE_LIT.sub(
                lambda m: f"date '{int(m.group(1)) + self.shift_years}-", text
            )
        return sub_literals(text, self.fitted_subs.get(name) or {})


def run(
    spark: SparkSession,
    sf_dir: str,
    corpus: Corpus,
    name: str,
    fitted: bool = False,
    register: bool = True,
) -> DataFrame:
    """Execute one reference text over its compatibility views.

    ``register=False`` skips the (idempotent) view registration for
    callers that registered once up front — e.g. the test sweeps'
    concurrent prewarm, where per-call re-registration would race."""
    if register:
        register_views(spark, sf_dir, corpus.views)
    return normalize_output(spark.sql(corpus.text(name, fitted)))


def _out_projection(corpus: Corpus, name: str, text: str) -> str:
    renames = dict(corpus.out_renames.get(name, ()))
    spec = corpus.out_casts.get(name) or [(c, None) for c in renames]
    if not spec:
        return text
    # one merged projection: cast AND rename per column, so a name in
    # both tables drops neither
    cols = []
    for c, t in spec:
        src = f'CAST("{c}" AS {t})' if t else f'"{c}"'
        cols.append(f'{src} AS "{renames.pop(c, c)}"')
    assert not renames, (
        f"{corpus.dir}/{name}: out_renames columns {sorted(renames)} absent "
        "from its out_casts projection — merge them there"
    )
    return f"SELECT {', '.join(cols)} FROM (\n{text}\n) _out"


def oracle_sql(corpus: Corpus, name: str, fitted: bool = False) -> str:
    """The DuckDB oracle: the same text, dialect-patched and wrapped in
    the family's view prelude."""
    text = corpus.text(name, fitted)
    for pat, rep in (*corpus.patches, *corpus.name_patches.get(name, ())):
        text = re.sub(pat, rep, text)
    return merge_prelude(
        oracle_prelude(corpus.views), _out_projection(corpus, name, text)
    )


def register_tranche(corpus: Corpus) -> None:
    """Register the corpus's driver tranche, if its files are present."""
    if not corpus.available():
        return
    for name, fitted in corpus.tranche:
        impl = partial(run, corpus=corpus, name=name, fitted=fitted)
        query(corpus.qname(name), oracle=oracle_sql(corpus, name, fitted))(impl)


# ---------------------------------------------------------------------------
# TPC-H and SSB
# ---------------------------------------------------------------------------

TPCH = Corpus(
    prefix="sqltext_",
    dir="tpch",
    views=_tpch_views,
    fixed_names=tuple(f"q{i}" for i in range(1, 23)),
    shift_years=3,
    # only parameters whose default values name domains absent from
    # the synthetic data
    fitted_subs={
        "q2": {"'%BRASS'": "'%DARD'"},
        "q7": {"'FRANCE'": "'NATION_4'", "'GERMANY'": "'NATION_5'"},
        "q8": {"'BRAZIL'": "'NATION_6'",
               "'ECONOMY ANODIZED STEEL'": "'ECONOMY'"},
        "q9": {"'%green%'": "'%red%'"},
        "q11": {"'GERMANY'": "'NATION_5'"},
        "q16": {"'Brand#45'": "'Brand#4'", "'MEDIUM POLISHED%'": "'MEDIUM%'"},
        "q19": {"'Brand#34'": "'Brand#14'"},
        "q20": {"'forest%'": "'red%'", "'CANADA'": "'NATION_8'"},
        "q21": {"'SAUDI ARABIA'": "'NATION_7'"},
    },
    # physical width only: DuckDB extract(year) is BIGINT, Spark's INT
    out_casts={"q9": [("nation", None), ("o_year", "INT"), ("sum_profit", None)]},
    # q18 runs verbatim: its default substitutions are non-vacuous here
    tranche=(("q5", True), ("q9", True), ("q18", False)),
)

SSB = Corpus(
    prefix="sqltext_ssb",
    dir="ssb",
    views=_ssb_views,
    fixed_names=(
        "1.1", "1.2", "1.3",
        "2.1", "2.2", "2.3",
        "3.1", "3.2", "3.3", "3.4",
        "4.1", "4.2", "4.3",
    ),
    fitted_subs={
        "1.1": {"1993": "1996"},
        "1.2": {"199401": "199701"},
        "1.3": {"1994": "1997"},
        "2.1": {"'MFGR#12'": "'PROMO'"},
        "2.2": {"'MFGR#2221'": "'Brand#20'", "'MFGR#2228'": "'Brand#24'"},
        "2.3": {"'MFGR#2221'": "'Brand#22'"},
        "3.1": {"1992": "1995", "1997": "2000"},
        "3.2": {"'UNITED STATES'": "'NATION_2'", "1992": "1995", "1997": "2000"},
        "3.3": {"'UNITED KINGDOM'": "'NATION_9'", "'UNITED KI1'": "'NATION_9_C4'",
                "'UNITED KI5'": "'NATION_9_C9'", "1992": "1995", "1997": "2000"},
        "3.4": {"'UNITED KINGDOM'": "'NATION_9'", "'UNITED KI1'": "'NATION_9_C4'",
                "'UNITED KI5'": "'NATION_9_C9'", "'Dec1997'": "'May1995'"},
        "4.1": {"'MFGR#1'": "'ECONOMY'", "'MFGR#2'": "'LARGE'"},
        "4.2": {"'MFGR#1'": "'ECONOMY'", "'MFGR#2'": "'LARGE'",
                "1997": "2000", "1998": "2001"},
        "4.3": {"'MFGR#14'": "'SMALL'", "'UNITED STATES'": "'NATION_2'",
                "1997": "2000", "1998": "2001"},
    },
    tranche=(("1.1", True), ("2.1", True), ("4.2", True)),
)
