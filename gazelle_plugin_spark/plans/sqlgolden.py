"""Golden-file SQL conformance against the reference's forked-Spark corpus.

The reference vendors Apache Spark's SQL query test corpus —
``native-sql-engine/core/src/test/resources/sql-tests/inputs/*.sql``
with expected outputs under ``results/*.sql.out`` (generated by its
forked Spark 3.1 SQLQueryTestSuite; the native engine is validated by
replaying these files, see the reference's
``NativeSQLConvertedSuite.scala`` / ``SQLQueryTestSuite``).  This
module replays the same public corpus through ``spark.sql`` and
compares TYPED values against the pinned goldens:

- ``parse_out`` reads a ``.sql.out`` file into cases of
  (sql, schema-string, raw output).  A case whose schema is
  ``struct<>`` is either a setup statement (empty output) or an
  expected ERROR (output = exception class + message).
- Golden output cells are parsed INTO Python values using the golden
  schema (``parse_schema`` handles the ``struct<...>`` simpleString
  grammar), so the comparison is value-typed, not string-formatted —
  immune to formatting drift between Spark versions.
- Rows compare as a SORTED MULTISET (the corpus mixes ordered and
  unordered queries; value/count equality is the portable contract —
  ORDER BY output order is covered by the TPC-H/SSB/TPC-DS suites).
- Error cases assert only that Spark 4 also errors: exception CLASSES
  and messages were rewritten wholesale between Spark 3.1 and 4.

Spark-4-vs-golden behavior changes are NOT silently skipped: each
lives in ``tests/test_sqlgolden.py``'s per-file skip dict with the
reason, keyed by a normalized SQL prefix.

The DuckDB cross-check (``duck_check``) re-runs every portable SELECT
on DuckDB over the file's temp views (exported via Arrow, so no
dialect translation of the VALUES DDL is needed) and compares to the
Spark result — an independent-engine second opinion on the subset
both dialects express.
"""

from __future__ import annotations

import datetime as _dt
import math
import os
import re
from dataclasses import dataclass
from decimal import Decimal

from gazelle_plugin_spark.plans.sqltext import REF_SQL_ROOT

#: .../native-sql-engine/core/src/test/resources/sql-tests
SQLTESTS_ROOT = os.path.join(REF_SQL_ROOT, "sql-tests")


def corpus_available() -> bool:
    return os.path.isdir(os.path.join(SQLTESTS_ROOT, "results"))


@dataclass
class Case:
    sql: str
    schema: str
    output: str  # raw golden output block (may be empty)

    @property
    def is_setup(self) -> bool:
        return self.schema == "struct<>" and not self.output

    @property
    def is_error(self) -> bool:
        if self.schema != "struct<>" or not self.output:
            return False
        first = self.output.splitlines()[0]
        return bool(re.match(r"^[\w.$]+(Exception|Error)$", first))

    @property
    def key(self) -> str:
        """Stable skip-list key: first 70 chars of whitespace-collapsed SQL."""
        return re.sub(r"\s+", " ", self.sql.strip())[:70]


_UDF_CALL_RE = re.compile(r"\budf\s*\(", re.I)


def wrap_udf_args(sql: str) -> str:
    """Rewrite every ``udf(X)`` call to ``udf(CAST(X AS STRING))``.

    The reference's udf/* goldens were generated with a JVM
    FunctionRegistry builder that expands udf(X) to
    CAST(udf(cast(X as string)) AS <type of X>) (the golden schema
    lines show exactly that form). PySpark cannot register an
    expression BUILDER, so the inner cast is applied here as a SQL
    rewrite — the JVM still does the to-string rendering, and the
    registered pandas string-identity UDF runs the real Arrow python
    path. The missing OUTER back-cast is undone at compare time by
    parsing the string outputs with the golden's column types
    (run_file's udf relaxation)."""
    m = _UDF_CALL_RE.search(sql)
    if not m:
        return sql
    start = m.end()
    # paren depth is counted OUTSIDE quoted literals: a '(' or ')'
    # inside a string argument (udf('a(b')) must not shift the span
    # (round-12 advice; doubled-quote escapes net out as close+reopen)
    depth, i, quote = 1, start, None
    while i < len(sql) and depth:
        ch = sql[i]
        if quote:
            if ch == "\\":
                # Backslash escape ('a\'b'): skip the escaped char so it
                # can't close the quote (r13 advice). This matches
                # Spark's DEFAULT string lexing only — under
                # spark.sql.parser.escapedStringLiterals=true a
                # backslash is literal and 'a\' closes the string, so
                # this scanner would mis-span. Safe because golden
                # sessions never enable that conf (no FILE_CONFS entry
                # sets it); revisit if one ever does (r14 advice).
                i += 2
                continue
            if ch == quote:
                quote = None
        elif ch in ("'", '"'):
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        i += 1
    arg = wrap_udf_args(sql[start : i - 1])
    rest = wrap_udf_args(sql[i - 1 :])
    if not arg.strip():
        return sql[:start] + arg + rest
    return sql[:start] + "CAST(" + arg + " AS STRING)" + rest


def udf_string_relax(
    got: list[tuple], stypes: list[str], gtypes: list[str]
) -> tuple[list[tuple], list[str], list[int]]:
    """Undo the missing outer back-cast for udf/* files: where the
    live schema has STRING (the pandas identity's return type) and the
    golden pins the argument's original type, parse the live string
    cells with the golden type (the string was rendered by the JVM
    inner CAST, i.e. the same renderer the golden text used). Columns
    that can't be reconciled are left as-is and fail the normal
    schema/value compare. The third return value lists the relaxed
    column indexes so over-broad relaxation is VISIBLE in the case
    result (round-12 advice: a non-udf string column that drifted to a
    parseable wrong-typed value would otherwise pass silently)."""
    if len(stypes) != len(gtypes):
        return got, stypes, []
    relax = [
        i
        for i, (s, g) in enumerate(zip(stypes, gtypes))
        if s != g and s == "string"
    ]
    if not relax:
        return got, stypes, []
    out = []
    try:
        for row in got:
            row = list(row)
            for i in relax:
                if row[i] is not None:
                    row[i] = parse_cell(row[i], gtypes[i])
            out.append(tuple(row))
    except Exception:  # noqa: BLE001 - unparseable => real mismatch
        return got, stypes, []
    new_stypes = [gtypes[i] if i in relax else s for i, s in enumerate(stypes)]
    return out, new_stypes, relax


def skip_reason(c: "Case", skips: dict[str, str]) -> str | None:
    """Skip-list lookup: the exact 70-char key, else any LONGER skip
    key the whitespace-collapsed SQL starts with (needed where two
    statements in one file share a 70-char prefix — explain.sql's
    `... WHERE key > 0 GROUP BY key` ORDER BY vs HAVING variants —
    and only one of them diverges), else any ``re:<pattern>`` key
    whose pattern matches the collapsed SQL (for one-divergence-class
    files where dozens of statements share a single structural cause
    — extract.sql's mixed-interval column — and enumerating exact
    keys would only obscure that there is ONE reason)."""
    if c.key in skips:
        return skips[c.key]
    norm = re.sub(r"\s+", " ", c.sql.strip())
    for k, v in skips.items():
        if k.startswith("re:"):
            if re.search(k[3:], norm):
                return v
        elif len(k) > 70 and norm.startswith(k):
            return v
    return None


def parse_out(rel: str) -> list[Case]:
    """Parse results/<rel>.sql.out into cases (rel e.g. 'group-by' or
    'subquery/in-subquery/simple-in')."""
    path = os.path.join(SQLTESTS_ROOT, "results", rel + ".sql.out")
    with open(path, encoding="utf-8") as fh:
        text = fh.read()
    cases = []
    for block in text.split("-- !query\n")[1:]:
        sql, rest = block.split("\n-- !query schema\n", 1)
        schema, out = rest.split("\n-- !query output\n", 1)
        # strip only newlines: a leading tab is a REAL empty first cell
        cases.append(Case(sql=sql.strip(), schema=schema.strip(), output=out.strip("\n")))
    return cases


# ---------------------------------------------------------------- schema


def _split_top(s: str, sep: str = ",") -> list[str]:
    """Split on sep at nesting depth 0.  Parens and angle brackets are
    tracked SEPARATELY, and angles only count at paren depth 0: schema
    field NAMES are rendered expressions that contain comparison
    operators (``count(a) FILTER (WHERE (a >= 0))``) — always inside
    parens — while angle brackets structure TYPES (``map<int,string>``)
    only outside parens."""
    parts, paren, angle, cur = [], 0, 0, []
    for ch in s:
        if ch in "([{":
            paren += 1
        elif ch in ")]}":
            paren -= 1
        elif paren == 0 and ch == "<":
            angle += 1
        elif paren == 0 and ch == ">":
            # clamp: a bare '>' in a rendered NAME (e.g. a backticked
            # `>= 3` alias) must not unbalance later type brackets
            angle = max(angle - 1, 0)
        if ch == sep and paren == 0 and angle == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return parts


def _split_field(field: str) -> tuple[str, str]:
    """name:type — split on the LAST ':' at depth 0: names contain
    depth-0 colons (e.g. a TIMESTAMP literal rendered as the column
    name), while types only nest colons inside angle brackets."""
    paren = angle = 0
    last = -1
    for i, ch in enumerate(field):
        if ch == "(":
            paren += 1
        elif ch == ")":
            paren -= 1
        elif paren == 0 and ch == "<":
            angle += 1
        elif paren == 0 and ch == ">":
            angle = max(angle - 1, 0)
        elif ch == ":" and paren == 0 and angle == 0:
            last = i
    if last < 0:
        raise ValueError(f"no type separator in field {field!r}")
    return field[:last], field[last + 1 :]


def parse_schema(schema: str) -> list[str]:
    """struct<name:type,...> -> top-level field TYPE strings (names
    dropped: Spark 3.1 and 4 render auto-generated column names
    differently; types + values are the conformance contract)."""
    assert schema.startswith("struct<") and schema.endswith(">"), schema
    body = schema[len("struct<") : -1]
    if not body:
        return []
    return [normalize_type(_split_field(f)[1]) for f in _split_top(body)]


def normalize_type(t: str) -> str:
    t = t.strip().lower()
    t = t.replace("null", "void")  # Spark 3.1 simpleString for NullType
    return t


# ---------------------------------------------------------------- values

_TS_RE = re.compile(r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}(\.\d+)?$")


def parse_cell(cell: str, typ: str, inner: bool = False):
    """Golden cell string -> Python value, by normalized type.  Inside
    complex literals (arrays/maps) nulls render lowercase."""
    if cell == "NULL" or (inner and cell == "null"):
        return None
    if typ in ("int", "bigint", "smallint", "tinyint"):
        return int(cell)
    if typ in ("double", "float"):
        if cell == "NaN":
            return float("nan")
        if cell == "Infinity":
            return float("inf")
        if cell == "-Infinity":
            return float("-inf")
        return float(cell)
    if typ.startswith("decimal"):
        return Decimal(cell)
    if typ == "boolean":
        return cell == "true"
    if typ == "binary":
        # toHiveString renders binary via UTF-8 decode; non-UTF-8
        # bytes are not round-trippable (those cases carry skips)
        return cell.encode("utf-8")
    if typ == "date":
        return _dt.date.fromisoformat(cell)
    if typ == "timestamp":
        fmt = "%Y-%m-%d %H:%M:%S.%f" if "." in cell else "%Y-%m-%d %H:%M:%S"
        return _dt.datetime.strptime(cell, fmt)
    if typ.startswith("array<"):
        etyp = typ[len("array<") : -1]
        body = cell.strip()
        assert body.startswith("[") and body.endswith("]"), cell
        body = body[1:-1]
        if not body:
            return []
        return [parse_cell(x.strip(), etyp, inner=True) for x in _split_top(body)]
    if typ.startswith("struct<"):
        ftypes = [normalize_type(_split_field(f)[1]) for f in _split_top(typ[len("struct<") : -1])]
        body = cell.strip()
        assert body.startswith("{") and body.endswith("}"), cell
        vals = []
        for i, kv in enumerate(_split_top(body[1:-1])):
            m = re.match(r'^\s*"[^"]*":(.*)$', kv, re.DOTALL)
            vals.append(parse_cell((m.group(1) if m else kv).strip(), ftypes[i], inner=True))
        return tuple(vals)
    if typ.startswith("map<"):
        ktyp, vtyp = _split_top(typ[len("map<") : -1])
        body = cell.strip()
        assert body.startswith("{") and body.endswith("}"), cell
        body = body[1:-1]
        if not body:
            return {}
        out = {}
        for kv in _split_top(body):
            kv = kv.strip()
            if kv.startswith('"'):  # quoted string key may contain ':'
                end = kv.index('"', 1)
                k, v = kv[: end + 1], kv[end + 2 :]
            else:
                k, v = kv.split(":", 1)
            key = parse_cell(k.strip(), ktyp, inner=True)
            if isinstance(key, list):  # array keys: hashable form
                key = tuple(key)
            out[key] = parse_cell(v.strip(), vtyp, inner=True)
        return out
    # string / interval / anything else: raw text (inside complex
    # literals, golden strings are double-quoted)
    if inner and len(cell) >= 2 and cell[0] == '"' and cell[-1] == '"':
        return cell[1:-1]
    return cell


def parse_rows(c: Case) -> list[tuple]:
    types = parse_schema(c.schema)
    rows = []
    if not c.output:
        return rows
    for line in c.output.splitlines():
        cells = line.split("\t")
        assert len(cells) == len(types), f"{len(cells)} cells vs {len(types)} types: {line!r}"
        rows.append(tuple(parse_cell(cl, t) for cl, t in zip(cells, types)))
    return rows


#: The goldens were generated by SQLQueryTestSuite with session
#: timezone America/Los_Angeles; run_file pins the same session TZ and
#: Spark-side datetimes (rendered by collect() in OS-local time) are
#: converted to LA wall-clock to match the golden text.
GOLDEN_TZ = "America/Los_Angeles"


def _spark_value(v, tz_convert: bool = False):
    """Spark collect() value -> comparison-normal form.  tz_convert
    moves naive OS-local datetimes to GOLDEN_TZ wall-clock (Spark side
    only; DuckDB values are already golden-wall-clock naive)."""
    if isinstance(v, _dt.datetime):
        v = v.replace(tzinfo=None)
        if tz_convert:
            from zoneinfo import ZoneInfo

            v = v.astimezone(ZoneInfo(GOLDEN_TZ)).replace(tzinfo=None)
        return v
    if isinstance(v, list):
        return [_spark_value(x, tz_convert) for x in v]
    if isinstance(v, dict):
        out = {}
        for k, x in v.items():
            k = _spark_value(k, tz_convert)
            if isinstance(k, (list, tuple)):  # array keys: hashable form
                k = tuple(k)
            out[k] = _spark_value(x, tz_convert)
        return out
    if hasattr(v, "asDict"):  # Row
        return tuple(_spark_value(x, tz_convert) for x in v)
    return v


def values_equal(a, b, rtol=1e-6) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        fa, fb = float(a), float(b)
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) and math.isnan(fb)
        if math.isinf(fa) or math.isinf(fb):
            return fa == fb
        return math.isclose(fa, fb, rel_tol=rtol, abs_tol=1e-9)
    if isinstance(a, Decimal) and isinstance(b, Decimal):
        return a == b
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(values_equal(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return set(a) == set(b) and all(values_equal(a[k], b[k]) for k in a)
    return a == b


def _canon(v) -> str:
    """Canonical sort key for multiset comparison (floats rounded so
    tolerably-equal values sort identically on both sides)."""
    if v is None:
        return "\x00"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}"
    if isinstance(v, Decimal):
        return f"{float(v):.6g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(sorted(f"{_canon(k)}:{_canon(x)}" for k, x in v.items())) + "}"
    return f"{type(v).__name__}:{v}"


def sort_rows(rows: list[tuple]) -> list[tuple]:
    return sorted(rows, key=lambda r: tuple(_canon(v) for v in r))


def rows_match(spark_rows: list[tuple], golden_rows: list[tuple]) -> bool:
    if len(spark_rows) != len(golden_rows):
        return False
    if all(
        all(values_equal(a, b) for a, b in zip(s, g))
        for s, g in zip(sort_rows(spark_rows), sort_rows(golden_rows))
    ):
        return True
    # Tolerant multiset fallback: two tolerably-equal floats can
    # straddle a _canon rounding boundary (0.9999994 vs 1.0000005) and
    # sort to different positions, misaligning the pairwise compare.
    # Greedy pair-off with values_equal resolves that without loosening
    # the per-value tolerance (rows are distinct-or-identical under
    # values_equal, so greedy matching is exact here).
    remaining = sort_rows(golden_rows)
    for s in spark_rows:
        for i, g in enumerate(remaining):
            if len(s) == len(g) and all(values_equal(a, b) for a, b in zip(s, g)):
                remaining.pop(i)
                break
        else:
            return False
    return True


# ----------------------------------------- metadata (DDL) line compare
#
# DESCRIBE/SHOW output is rendered text, not typed values, and parts of
# it legitimately change between Spark versions (timestamps, locations,
# owner, provider-added properties). The reference suite already masks
# the non-deterministic parts at GENERATION time
# (SQLQueryTestSuite.replaceNotIncludedMsg — "[not included in
# comparison]", "{warehouse_dir}", "#x" expression ids); this layer
# applies the SAME masks to the live output and additionally restricts
# detail sections to the version-STABLE fields (column names/types,
# partition columns, bucket spec, table type/provider, view text) so
# the compare pins what a user relies on without chasing rendering
# churn. Files opt in via DDL_FILES; only their DESCRIBE/DESC/SHOW
# statements take this path — SELECTs in the same file still compare
# as typed values.

#: Files whose metadata statements compare as masked stable-field
#: line multisets (reference sql-tests/inputs, round-10 verdict item 4).
DDL_FILES = frozenset(
    {
        "describe",
        "describe-part-after-analyze",
        "describe-query",
        "describe-table-after-alter-table",
        "describe-table-column",
        "show-create-table",
        "show-tables",
        "show-tblproperties",
        "show-views",
        "show_columns",
        "charvarchar",
        "change-column",
        "postgreSQL/create_view",
    }
)

_META_RE = re.compile(r"^\s*(DESC|DESCRIBE|SHOW|EXPLAIN)\b", re.I)

#: Stable keys kept inside "# Detailed ... Information" sections —
#: exactly the fields a user relies on (identity, type/provider,
#: bucket spec, partition values/rowcounts, view text).
_DDL_DETAIL_KEEP = (
    "Database",
    "Table",
    "Type",
    "Provider",
    "Num Buckets",
    "Bucket Columns",
    "Sort Columns",
    "Comment",
    "Partition Provider",
    "Partition Values",
    "Partition Statistics",
    "View Text",
    "View Original Text",
)

#: Version-churn detail rows dropped from BOTH sides, checked BEFORE
#: the keep list ("Table Properties" would otherwise match the keep
#: key "Table"). view.* metadata moved from Table Properties rows
#: (3.1) to dedicated View-* rows (Spark 4) — both renderings drop so
#: the stable view fields (View Text) carry the comparison.
_DDL_DETAIL_DROP = (
    "Table Properties",
    "View Catalog and Namespace",
    "View Query Output Columns",
    "View Schema Mode",
    "Created ",
    "Last Access",
    "Location",
    "Owner",
    "Statistics",
    "Storage Properties",
    "InputFormat",
    "OutputFormat",
    "Serde Library",
    "Partition Parameters",
)

#: replaceNotIncludedMsg analogs, applied to BOTH sides: the golden
#: already carries the generation-time masks (#x ids, masked
#: timestamps), and Spark 4's plan rendering adds a catalog qualifier
#: and inlines command output-attribute lists that 3.1 rendered on the
#: Execute wrapper — masked symmetrically, EXPLAIN-of-command output
#: compares stably.
_NOT_INCLUDED = "[not included in comparison]"
_DDL_MASKS: tuple[tuple[re.Pattern, str], ...] = (
    (re.compile(r"#\d+"), "#x"),
    (re.compile(r"\*\(\d+\) "), "*"),
    (re.compile(r"(Partition Statistics[:\s]+)\d+"), rf"\g<1>{_NOT_INCLUDED} "),
    (re.compile(r"`spark_catalog`\."), ""),
    (re.compile(r"\bspark_catalog\."), ""),
    # command output-attribute lists: [col_name#x, data_type#x, ...]
    (re.compile(r",? \[\w+#x(?:, \w+#x)*\]"), ""),
    # SHOW TABLE EXTENDED info blocks carry the churny fields inline
    # (no detail-section marker); same replacements the golden got at
    # generation time — idempotent when re-applied to the golden side.
    # Anchored to line start (masks run per-line, before whitespace
    # collapse) so a data line merely CONTAINING one of these words
    # mid-line — e.g. a view selecting a column named Location — is
    # not silently truncated on both sides.
    (re.compile(r"^\s*Created Time:?.*"), f"Created Time {_NOT_INCLUDED}"),
    (re.compile(r"^\s*Created By:?.*"), f"Created By {_NOT_INCLUDED}"),
    (re.compile(r"^\s*Last Access:?.*"), f"Last Access {_NOT_INCLUDED}"),
    # whole-path mask (the session warehouse root varies: repo
    # spark-warehouse locally, a pytest tmp dir under the fixture);
    # the partition identity stays pinned by the Partition Values row
    (re.compile(r"^\s*Location:?.*"), f"Location {_NOT_INCLUDED}"),
)


def _ddl_cell(v) -> str:
    if v is None:
        return ""  # 3.1 rendered absent DESCRIBE comments as empty
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _ddl_normalize(lines: list[str]) -> list[str]:
    """Mask + whitespace-collapse + stable-field-filter one output side.

    Returns the SORTED surviving lines (multiset compare: DESCRIBE row
    order is stable in practice but SHOW TABLES order is not a
    contract)."""
    out: list[str] = []
    in_detail = False
    for raw in lines:
        line = raw
        for pat, repl in _DDL_MASKS:
            line = pat.sub(repl, line)
        line = re.sub(r"[ \t]+", " ", line.replace("\t", " ")).strip()
        if not line:
            continue
        if line.startswith("# Detailed"):
            in_detail = True
            out.append(line)
            continue
        if line.startswith("#"):  # section headers / column legend
            out.append(line)
            continue
        if in_detail:
            if any(line.startswith(k) for k in _DDL_DETAIL_DROP):
                continue
            if not any(line.startswith(k + " ") or line == k for k in _DDL_DETAIL_KEEP):
                continue
        out.append(line)
    return sorted(out)


_SHOW_BARE_RE = re.compile(r"^\s*SHOW\s+(TABLES|VIEWS)\b", re.I)
_SHOW_PROPKEY_RE = re.compile(r"^\s*SHOW\s+TBLPROPERTIES\s+\w+\s*\(", re.I)
_VIEW_PROP_RE = re.compile(r"^view\.")


def ddl_compare(c: "Case", rows, pre_temps: frozenset = frozenset()) -> tuple[bool, str]:
    """Masked stable-field line compare for one metadata statement.

    Two rendering changes between the goldens' hiveResultString and
    Spark 4's row output are undone on the LIVE side: SHOW TABLES/VIEWS
    rendered only the bare name in 3.1 (vs (namespace, name,
    isTemporary) rows), and SHOW TBLPROPERTIES t('key') rendered only
    the value (vs (key, value) rows). view.* catalog properties are
    dropped from BOTH sides: 3.1 stored view metadata as table
    properties, Spark 4 keeps it out of the user-visible property
    map — same churn class as the detail-section Table Properties."""
    got_rows = [tuple(r) for r in rows]
    if _SHOW_BARE_RE.match(c.sql):
        # a shared long-lived session carries temp views created by
        # OTHER components/tests; the golden lists only the file's own
        # objects — drop temp rows that pre-existed the file
        got_rows = [
            r
            for r in got_rows
            if not (len(r) >= 3 and r[2] is True and r[1] in pre_temps)
        ]
    if _SHOW_BARE_RE.match(c.sql) and "EXTENDED" not in c.sql.upper():
        got_rows = [(r[1],) for r in got_rows if len(r) >= 2]
    elif _SHOW_PROPKEY_RE.match(c.sql):
        got_rows = [r[1:] for r in got_rows]
    got_lines: list[str] = []
    for r in got_rows:
        txt = "\t".join(_ddl_cell(v) for v in r)
        # Spark 4 prepends "Catalog: spark_catalog" (and view binding
        # mode) to EXTENDED info blocks; 3.1 had neither. Strip before
        # the newline split so the leading cells fuse with the same
        # first info line the golden fused with.
        txt = txt.replace("Catalog: spark_catalog\n", "")
        got_lines.extend(txt.split("\n"))
    got_lines = [ln for ln in got_lines if not ln.lstrip().startswith("View Schema Mode:")]
    drop_viewprops = c.sql.upper().lstrip().startswith("SHOW TBLPROPERTIES")
    got = _ddl_normalize(got_lines)
    want = _ddl_normalize(c.output.split("\n") if c.output else [])
    if drop_viewprops:
        got = [x for x in got if not _VIEW_PROP_RE.match(x)]
        want = [x for x in want if not _VIEW_PROP_RE.match(x)]
    if re.match(r"^\s*SHOW CREATE TABLE", c.sql, re.I):
        # SHOW CREATE rendering changed wholesale in Spark 4: no
        # identifier backticks, original identifier CASE not preserved,
        # TBLPROPERTIES as 'k' = 'v' (3.1: `k` 'v'), and views carry a
        # WITH SCHEMA <mode> binding clause. Normalize both sides to
        # the case-folded, quote-free structural form — the pinned
        # contract is columns/types/clauses, not quoting style.
        def _fold(ln: str) -> str:
            # case-fold only OUTSIDE single-quoted string literals:
            # identifier/keyword case is 3.1-vs-4 rendering churn, but
            # a property VALUE or literal that genuinely changed case
            # ('V1' vs 'v1') must still fail loudly.
            parts = re.split(r"('[^']*')", ln)
            return "".join(p if p.startswith("'") else p.lower() for p in parts)

        def _screate(lines: list[str]) -> list[str]:
            out = []
            for ln in lines:
                if ln.upper().startswith("WITH SCHEMA "):
                    continue
                ln = ln.replace("`", "")
                ln = re.sub(r"'([\w.]+)' = ", r"\1 ", ln)
                ln = re.sub(r"\s+\(", "(", ln)
                out.append(_fold(ln))
            return sorted(out)

        got, want = _screate(got), _screate(want)
    if got == want:
        return True, ""
    only_got = [x for x in got if x not in want][:3]
    only_want = [x for x in want if x not in got][:3]
    return False, f"ddl lines differ; live-only={only_got} golden-only={only_want}"


# ---------------------------------------------------------------- runner

#: SQLTestData-equivalent implicit views (the corpus runner pre-registers
#: these; values per the reference's SQLTestData.scala:49-168).  Expressed
#: as SQL so the same statements replay on the DuckDB side of duck_check.
_TESTDATA_VIEW = (
    "CREATE OR REPLACE TEMPORARY VIEW testData AS "
    "SELECT CAST(id AS INT) AS key, CAST(id AS STRING) AS value FROM range(1, 101)"
)
_ARRAYDATA_VIEW = (
    "CREATE OR REPLACE TEMPORARY VIEW arrayData AS SELECT * FROM VALUES "
    "(array(1,2,3), array(array(1,2,3))), (array(2,3,4), array(array(2,3,4))) "
    "AS arrayData(data, nestedData)"
)
_MAPDATA_VIEW = (
    "CREATE OR REPLACE TEMPORARY VIEW mapData AS SELECT * FROM VALUES "
    "(map(1,'a1',2,'b1',3,'c1',4,'d1',5,'e1')), (map(1,'a2',2,'b2',3,'c2',4,'d2')), "
    "(map(1,'a3',2,'b3',3,'c3')), (map(1,'a4',2,'b4')), (map(1,'a5')) AS mapData(data)"
)

#: Per-file implicit-view preludes (files that assume SQLQueryTestSuite's
#: pre-registered test tables instead of creating their own).
PRELUDES: dict[str, tuple[str, ...]] = {
    "limit": (_TESTDATA_VIEW, _ARRAYDATA_VIEW, _MAPDATA_VIEW),
    "operators": (_TESTDATA_VIEW,),
    "subquery/subquery-in-from": (_TESTDATA_VIEW,),
}

_PG_TENK_SCHEMA = (
    "unique1 INT, unique2 INT, two INT, four INT, ten INT, twenty INT, "
    "hundred INT, thousand INT, twothousand INT, fivethous INT, "
    "tenthous INT, odd INT, even INT, stringu1 STRING, stringu2 STRING, "
    "string4 STRING"
)


def _pg_preludes() -> tuple[str, ...]:
    """The pg regression tables SQLQueryTestSuite pre-loads
    (createTestTables, SQLQueryTestSuite.scala:654-714) as CSV-backed
    temp views over the reference's test-data files."""
    data = os.path.join(REF_SQL_ROOT, "test-data", "postgresql")

    def view(name: str, schema: str, fname: str) -> str:
        return (
            f"CREATE OR REPLACE TEMPORARY VIEW {name} ({schema}) USING csv "
            f"OPTIONS (path '{os.path.join(data, fname)}', delimiter '\\t', header 'false')"
        )

    return (
        view("aggtest", "a INT, b FLOAT", "agg.data"),
        view("onek", _PG_TENK_SCHEMA, "onek.data"),
        view("tenk1", _PG_TENK_SCHEMA, "tenk.data"),
    )


def preludes(rel: str) -> tuple[str, ...]:
    if rel.startswith(("postgreSQL/", "udf/postgreSQL/")):
        return _pg_preludes()
    return PRELUDES.get(rel, ())


# ----------------------------------------- EXPLAIN plan-text compare
#
# explain.sql / explain-aqe.sql pin whole plan-tree RENDERS, which no
# cross-version compare can replay verbatim (expression ids, plan ids,
# file-index locations, codegen stage numbers all churn per session
# and per Spark version). Same philosophy as the DDL stable-field
# compare: mask the churn symmetrically, keep what a user debugging a
# slow query actually reads — the operator tree (kinds, order,
# nesting), join types (in the tree line), pushed filters, read
# schemas, conditions, keys and aggregate functions. EXPLAIN FORMATTED
# outputs compare as ORDERED masked lines (plans are trees, not
# multisets); non-FORMATTED (EXTENDED) outputs reduce both sides to
# the physical section's (depth, node-kind) skeleton because 3.1's
# analyzer rendered expression-level differences (e.g. the bigint
# cast it inserted under sum(DISTINCT int)) that Spark 4 no longer
# produces. Statement-level optimizer changes (a plan Spark 4
# genuinely builds differently) are per-case SKIPS with the named
# behavior change, exactly like value-golden skips.

#: Files whose EXPLAIN statements compare as masked plan text.
EXPLAIN_FILES = frozenset({"explain", "explain-aqe"})

_EXPLAIN_LINE_MASKS: tuple[tuple[re.Pattern, str], ...] = (
    (re.compile(r"#\d+"), "#x"),
    # Spark 4 renders exchange ids as [plan_id=N]; the goldens were
    # generated with the [id=#N] form and masked to [id=#x]
    (re.compile(r"\[plan_id=\d+\]"), "[id=#x]"),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : x]"),
    # operator enumeration ids — "(7)" at the END of tree lines and
    # at the START of "(7) Filter" detail headers, plus "Hosting
    # operator id = 2": pure bookkeeping that shifts wholesale when
    # any node count changes anywhere in the plan (the tree still pins
    # kind/order/nesting line by line). ANCHORED to those two
    # positions so a genuine literal difference rendering as "(N)"
    # mid-line is NOT masked away (round-12 advice).
    (re.compile(r"\(\d+\)\s*$"), "(x)"),
    (re.compile(r"^(\s*)\(\d+\)"), r"\g<1>(x)"),
    (re.compile(r"Hosting operator id = \d+"), "Hosting operator id = x"),
    # Spark 4 fully qualifies catalog tables in scans/subquery aliases
    (re.compile(r"\bspark_catalog\."), ""),
    # Spark 4 REUSES a repeated scalar subquery where 3.1 re-planned
    # it; the reuse marker is the only render difference in the
    # hosting expression (the Subqueries section pins the dedup)
    (re.compile(r"ReusedSubquery Subquery"), "Subquery"),
    # the 3.1 analyzer rendered its implicit int->bigint widening
    # under avg/sum explicitly; Spark 4 folds it into the aggregate
    (re.compile(r"cast\((\w+#x) as bigint\)"), r"\1"),
    # file-index locations vary per warehouse AND per mask vintage
    (re.compile(r"^(\s*)Location.*$"), r"\g<1>Location [masked]"),
)

#: Detail lines present in only one version's render, dropped from
#: BOTH sides: Spark 4 added an explicit "Join type:" detail row (the
#: join type is already pinned by the tree line, e.g.
#: "BroadcastHashJoin Inner BuildRight").
_EXPLAIN_DROP_RE = re.compile(r"^\s*Join type:")


def _explain_normalize(text: str) -> list[str]:
    out: list[str] = []
    for raw in text.splitlines():
        line = raw
        for pat, repl in _EXPLAIN_LINE_MASKS:
            line = pat.sub(repl, line)
        line = line.rstrip()
        if not line or _EXPLAIN_DROP_RE.match(line):
            continue
        out.append(line)
    return out


_SKEL_NODE_RE = re.compile(r"^([\s:+|-]*)\*?(?:\(\d+\) )?([A-Za-z][A-Za-z0-9_]*)")


def _plan_skeleton(text: str) -> list[tuple[int, str]]:
    """(tree depth, node kind) pairs of the physical-plan section."""
    lines = text.splitlines()
    start = 0
    for i, ln in enumerate(lines):
        if ln.strip() == "== Physical Plan ==":
            start = i + 1
            break
    out: list[tuple[int, str]] = []
    for ln in lines[start:]:
        if ln.startswith("== "):
            break
        m = _SKEL_NODE_RE.match(ln)
        if m and m.group(2):
            out.append((len(m.group(1)), m.group(2)))
    return out


def explain_compare(c: "Case", rows) -> tuple[bool, str]:
    """Masked plan-text compare for one EXPLAIN statement."""
    live = str(rows[0][0]) if rows and rows[0] else ""
    want = c.output or ""
    if not re.search(r"\bFORMATTED\b", c.sql, re.I):
        a, b = _plan_skeleton(live), _plan_skeleton(want)
        if a == b:
            return True, ""
        return False, f"physical skeleton differs: live={a[:12]} golden={b[:12]}"
    got, exp = _explain_normalize(live), _explain_normalize(want)
    if got == exp:
        return True, ""
    for i, (x, y) in enumerate(zip(got, exp)):
        if x != y:
            return False, f"explain line {i}: live={x!r} golden={y!r}"
    return (
        False,
        f"explain length {len(got)} vs {len(exp)}; "
        f"tail live={got[len(exp):][:2]} golden={exp[len(got):][:2]}",
    )

#: Per-file session confs matching the semantics the goldens were
#: generated under (each names the Spark default that changed since).
FILE_CONFS: dict[str, dict[str, str]] = {
    # cte-nested.sql pins the 3.1 DEFAULT policy (inner-CTE name
    # shadowing is an error); Spark 4 defaults to CORRECTED.
    "cte-nested": {"spark.sql.legacy.ctePrecedencePolicy": "EXCEPTION"},
    # the *-legacy files are --SET/--IMPORT replays of their base file
    # under the named legacy conf (the suite expanded the IMPORT when
    # generating the .out, so only the conf is needed here)
    "cte-legacy": {"spark.sql.legacy.ctePrecedencePolicy": "LEGACY"},
    "datetime-legacy": {"spark.sql.legacy.timeParserPolicy": "LEGACY"},
    "datetime-formatting-legacy": {"spark.sql.legacy.timeParserPolicy": "LEGACY"},
    "datetime-parsing-legacy": {"spark.sql.legacy.timeParserPolicy": "LEGACY"},
    # the explain files' goldens embed the generation session's
    # shuffle width (hashpartitioning(..., 4)) and were produced with
    # the input-header --SET confs (wholeStage on; AQE off for the
    # base file, on for the -aqe replay)
    "explain": {
        "spark.sql.shuffle.partitions": "4",
        "spark.sql.codegen.wholeStage": "true",
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.maxMetadataStringLength": "500",
    },
    "explain-aqe": {
        "spark.sql.shuffle.partitions": "4",
        "spark.sql.codegen.wholeStage": "true",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.maxMetadataStringLength": "500",
    },
}


def file_confs(rel: str) -> dict[str, str]:
    """Session confs for one golden file.  The postgreSQL corpus was
    generated by PgSQLTestCase under ANSI mode (its goldens pin
    divide-by-zero errors); everything else ran the 3.1 defaults."""
    confs = dict(FILE_CONFS.get(rel, {}))
    if rel.startswith("ansi/"):
        # results/ansi/* are the SAME input files replayed by the
        # suite's ANSI test path
        confs.setdefault("spark.sql.ansi.enabled", "true")
    if rel.startswith(("postgreSQL/", "udf/postgreSQL/")):
        # boolean.sql is the exception: its goldens pin 3.1's LENIENT
        # string->boolean casts (ANSI cast coverage reached booleans
        # only in Spark 3.2+), i.e. non-ANSI semantics on Spark 4.
        default_ansi = "false" if rel.endswith("/boolean") else "true"
        confs.setdefault("spark.sql.ansi.enabled", default_ansi)
    return confs


def _register_test_udfs(spark, rel: str) -> None:
    """Test UDFs the corpus assumes pre-registered: PgSQLTestCase's
    helpers for postgreSQL/*, and the identity `udf` for the udf/*
    conversions (SQLQueryTestSuite's UDFTestCase — here a PANDAS
    string-identity UDF, so the whole udf corpus replays through the
    Arrow-vectorized python path; the analyzer inserts the same
    to-string/from-string casts the goldens were generated with)."""
    from pyspark.sql.types import BooleanType, StringType

    if rel.startswith("postgreSQL/") or rel.startswith("udf/postgreSQL/"):

        def _null_safe(op):
            return lambda a, b: None if a is None or b is None else op(a, b)

        spark.udf.register("vol", lambda x: x, StringType())
        spark.udf.register("booleq", _null_safe(lambda a, b: a == b), BooleanType())
        spark.udf.register("boolne", _null_safe(lambda a, b: a != b), BooleanType())
    if rel.startswith("udf/"):
        from pyspark.sql.functions import pandas_udf

        spark.udf.register("udf", pandas_udf(lambda s: s, StringType()))
    if rel in ("udaf", "udf/udf-udaf"):
        # Portable analog of the Scala MyDoubleAvg UDAF (reference
        # test.org.apache.spark.sql.MyDoubleAvg: avg + 100.0) as a
        # pandas GROUPED_AGG aggregate. The CREATE FUNCTION statements
        # themselves are JVM-classpath registration mechanics (skipped,
        # documented); the aggregate VALUES are the portable contract.
        # to_numeric: in udf-udaf the argument arrives through the
        # string-identity udf, so parse it back before averaging.
        import pandas as pd
        from pyspark.sql.functions import PandasUDFType, pandas_udf

        spark.udf.register(
            "myDoubleAvg",
            pandas_udf(
                lambda s: float(pd.to_numeric(s).mean()) + 100.0,
                "double",
                PandasUDFType.GROUPED_AGG,
            ),
        )


#: Per-file regex SQL rewrites applied before execution — ONLY for
#: JVM-classpath mechanics a session analog cannot avoid:
#: - udaf.sql calls its UDAF database-qualified as default.myDoubleAvg;
#:   a session-registered pandas aggregate has no database.
#: - describe.sql creates a view over the test-only DDLScanSource
#:   datasource class (not on any user classpath); substituted with a
#:   typed view carrying the IDENTICAL published schema incl. the
#:   column comment (golden DESC output is the spec) so the DESC
#:   statements stay live. Only metadata statements touch the view.
FILE_SQL_REWRITES: dict[str, tuple[tuple[str, str], ...]] = {
    # extract.sql's setup view binds a MIXED year-month+day-time
    # CalendarInterval literal that no Spark 3.2+ ANSI interval type
    # can represent (SPARK-27790 replaced the legacy system) — the
    # raw statement fails to parse and every statement would cascade.
    # Dropping the `i` column from the view recovers the portable
    # timestamp-column subset (the c-only statements, ~2/5 of the
    # file); statements reading `i` are one re:-class skip.
    "extract": (
        (
            r",\s*interval 10 year 20 month 30 day 40 hour "
            r"50 minute 6\.7890 second as i",
            "",
        ),
    ),
    "udaf": (
        (r"default\.myDoubleAvg", "myDoubleAvg"),
        (r"default\.udaf1", "udaf1"),
        # unqualified DROP resolves to the temp analog (which shadows);
        # qualify so it drops the catalog function the file created
        (r"DROP FUNCTION myDoubleAvg", "DROP FUNCTION default.myDoubleAvg"),
    ),
    # the udf.sql conversion of udaf.sql — same classpath mechanics
    "udf/udf-udaf": (
        (r"default\.myDoubleAvg", "myDoubleAvg"),
        (r"default\.udaf1", "udaf1"),
        (r"DROP FUNCTION myDoubleAvg", "DROP FUNCTION default.myDoubleAvg"),
    ),
    "describe": (
        (
            r"USING org\.apache\.spark\.sql\.sources\.DDLScanSource[\s\S]*\)",
            "(intType COMMENT 'test comment test1', stringType, dateType, "
            "timestampType, doubleType, bigintType, tinyintType, decimalType, "
            "fixedDecimalType, binaryType, booleanType, smallIntType, floatType, "
            "mapType, arrayType, structType) AS SELECT CAST(NULL AS INT), "
            "CAST(NULL AS STRING), CAST(NULL AS DATE), CAST(NULL AS TIMESTAMP), "
            "CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT), CAST(NULL AS TINYINT), "
            "CAST(NULL AS DECIMAL(10,0)), CAST(NULL AS DECIMAL(5,1)), "
            "CAST(NULL AS BINARY), CAST(NULL AS BOOLEAN), CAST(NULL AS SMALLINT), "
            "CAST(NULL AS FLOAT), CAST(NULL AS MAP<STRING,STRING>), "
            "CAST(NULL AS ARRAY<STRING>), CAST(NULL AS STRUCT<f1:STRING,f2:INT>) "
            "WHERE 1=0",
        ),
    ),
}

_VIEW_RE = re.compile(r"CREATE (?:OR REPLACE )?TEMP(?:ORARY)? VIEW (\w+)", re.IGNORECASE)
_TABLE_RE = re.compile(r"CREATE TABLE (?:IF NOT EXISTS )?(\w+)", re.IGNORECASE)
_SET_RE = re.compile(r"^SET\s+([\w.]+)\s*=", re.IGNORECASE)
_FUNC_RE = re.compile(r"CREATE (?:OR REPLACE )?FUNCTION (?:IF NOT EXISTS )?([\w.]+)", re.IGNORECASE)


@dataclass
class CaseResult:
    case: Case
    status: str  # ok | setup | error_ok | skipped | MISMATCH | UNEXPECTED_<...>
    detail: str = ""


def run_file(spark, rel: str, skips: dict[str, str]) -> list[CaseResult]:
    """Replay one golden file in order on the session; restores any
    SET conf and drops created temp views afterwards."""
    cases = parse_out(rel)
    rewrites = FILE_SQL_REWRITES.get(rel, ())
    results: list[CaseResult] = []
    views: list[str] = []
    tables: list[str] = []
    funcs: list[str] = []
    saved_confs: dict[str, str | None] = {"spark.sql.session.timeZone": spark.conf.get("spark.sql.session.timeZone", None)}
    start_db = spark.catalog.currentDatabase()
    # Snapshot pre-existing databases: the session-scoped SparkSession
    # also hosts databases owned by OTHER components (e.g. bktdb, which
    # registers the bucketed-table mirrors — plans/relational.py), so
    # cleanup may only drop databases this file itself created, never a
    # blanket everything-but-default.
    start_dbs = {db.name for db in spark.catalog.listDatabases()}
    pre_temps: frozenset = frozenset()
    if rel in DDL_FILES:
        # temp views owned by the wider session (conftest fixtures,
        # other files) must not surface in this file's SHOW output
        names = {t.name for t in spark.catalog.listTables() if t.isTemporary}
        try:
            names |= {t.name for t in spark.catalog.listTables("global_temp") if t.isTemporary}
        except Exception:  # noqa: BLE001 - no global temp db yet
            pass
        pre_temps = frozenset(names)
    try:
        spark.conf.set("spark.sql.session.timeZone", GOLDEN_TZ)
        for k, v in file_confs(rel).items():
            if k not in saved_confs:
                saved_confs[k] = spark.conf.get(k, None)
            spark.conf.set(k, v)
        _register_test_udfs(spark, rel)
        for pre in preludes(rel):
            views.append(_VIEW_RE.match(pre).group(1))
            spark.sql(pre).collect()
        for c in cases:
            reason = skip_reason(c, skips)
            if reason is not None:
                results.append(CaseResult(c, "skipped", reason))
                continue
            m = _SET_RE.match(c.sql)
            if m:
                k = m.group(1)
                if k not in saved_confs:
                    saved_confs[k] = spark.conf.get(k, None)
            vm = _VIEW_RE.match(c.sql)
            if vm:
                views.append(vm.group(1))
            tm = _TABLE_RE.match(c.sql)
            if tm:
                tables.append(tm.group(1))
            fm = _FUNC_RE.match(c.sql)
            if fm:
                funcs.append(fm.group(1))
            sql = c.sql
            for old, new in rewrites:
                sql = re.sub(old, lambda _m, s=new: s, sql)
            if rel.startswith("udf/"):
                sql = wrap_udf_args(sql)
            if c.is_error:
                try:
                    spark.sql(sql).collect()
                    results.append(CaseResult(c, "UNEXPECTED_SUCCESS", "golden expects an error"))
                except Exception:
                    results.append(CaseResult(c, "error_ok"))
                continue
            try:
                df = spark.sql(sql)
                rows = df.collect()
            except Exception as ex:  # golden expects success
                results.append(
                    CaseResult(c, "UNEXPECTED_ERROR", f"{type(ex).__name__}: {str(ex)[:200]}")
                )
                continue
            if c.is_setup or m:  # DDL / SET: execution is the check
                results.append(CaseResult(c, "setup"))
                continue
            if rel in DDL_FILES and _META_RE.match(c.sql):
                ok, msg = ddl_compare(c, rows, pre_temps)
                results.append(CaseResult(c, "ok" if ok else "MISMATCH", msg))
                continue
            if rel in EXPLAIN_FILES and re.match(r"^\s*EXPLAIN\b", c.sql, re.I):
                ok, msg = explain_compare(c, rows)
                results.append(CaseResult(c, "ok" if ok else "MISMATCH", msg))
                continue
            try:
                golden = parse_rows(c)
            except Exception as ex:
                results.append(
                    CaseResult(c, "GOLDEN_PARSE", f"{type(ex).__name__}: {str(ex)[:120]}")
                )
                continue
            got = [tuple(_spark_value(v, tz_convert=True) for v in r) for r in rows]
            gtypes = parse_schema(c.schema)
            stypes = parse_schema(df.schema.simpleString())
            relaxed: list[int] = []
            if rel.startswith("udf/") and stypes != gtypes:
                got, stypes, relaxed = udf_string_relax(got, stypes, gtypes)
            if stypes != gtypes:
                results.append(CaseResult(c, "MISMATCH", f"schema {stypes} vs golden {gtypes}"))
            elif not golden and len(got) == 1 and all(v == "" for v in got[0]):
                # the .out framing cannot distinguish ONE all-empty-
                # string row from ZERO rows (both render as an empty
                # output body); accept the empty-string row.
                results.append(CaseResult(c, "ok", "empty-string row vs empty golden body"))
            elif not rows_match(got, golden):
                results.append(
                    CaseResult(
                        c,
                        "MISMATCH",
                        f"{len(got)} rows vs golden {len(golden)}; "
                        f"spark={sort_rows(got)[:4]} golden={sort_rows(golden)[:4]}",
                    )
                )
            else:
                results.append(
                    CaseResult(c, "ok", f"udf-relaxed cols {relaxed}" if relaxed else "")
                )
    finally:
        for k, v in saved_confs.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        for v in views:
            spark.catalog.dropTempView(v)
        for tname in tables:
            spark.sql(f"DROP TABLE IF EXISTS {tname}")
        for fname in funcs:
            try:
                spark.sql(f"DROP FUNCTION IF EXISTS {fname}")
            except Exception:  # noqa: BLE001 - already dropped by the file
                pass
        # catalog-state restore: the columnresolution files CREATE
        # DATABASE + USE and never switch back, which would strand the
        # session in a dropped-or-foreign database for the NEXT file
        if spark.catalog.currentDatabase() != start_db:
            spark.catalog.setCurrentDatabase(start_db)
        for db in spark.catalog.listDatabases():
            if db.name not in start_dbs and db.name != "default":
                spark.sql(f"DROP DATABASE IF EXISTS {db.name} CASCADE")
    return results


# ------------------------------------------------------- duckdb cross-check


def duck_check(spark, rel: str, skips: dict[str, str], duck_skips: dict[str, str]):
    """Second-opinion pass: replay the file, exporting each temp view
    to DuckDB via Arrow, and re-run every SELECT that DuckDB's dialect
    accepts, comparing value multisets against the SPARK result.
    Returns (checked, unportable, failures)."""
    import duckdb

    con = duckdb.connect()
    cases = parse_out(rel)
    views: list[str] = []
    tables: list[str] = []
    saved: dict[str, str | None] = {"spark.sql.session.timeZone": spark.conf.get("spark.sql.session.timeZone", None)}
    checked, unportable, failures = 0, 0, []
    try:
        spark.conf.set("spark.sql.session.timeZone", GOLDEN_TZ)
        for k, v in file_confs(rel).items():
            if k not in saved:
                saved[k] = spark.conf.get(k, None)
            spark.conf.set(k, v)
        _register_test_udfs(spark, rel)
        for pre in preludes(rel):
            name = _VIEW_RE.match(pre).group(1)
            views.append(name)
            spark.sql(pre).collect()
            try:
                con.register(name, spark.table(name).toPandas())
            except Exception:
                pass
        for c in cases:
            if skip_reason(c, skips) is not None:
                continue
            if c.is_error:
                continue
            m = _SET_RE.match(c.sql)
            if m and m.group(1) not in saved:
                saved[m.group(1)] = spark.conf.get(m.group(1), None)
            try:
                df = spark.sql(c.sql)
                rows = df.collect()
            except Exception:
                continue
            vm = _VIEW_RE.match(c.sql)
            if vm:
                name = vm.group(1)
                views.append(name)
                con.register(name, spark.table(name).toPandas())
                continue
            tm = _TABLE_RE.match(c.sql)
            if tm:
                tables.append(tm.group(1))
            if c.is_setup or m:
                continue
            if c.key in duck_skips:
                unportable += 1
                continue
            try:
                # managed tables mutate via INSERTs between queries:
                # re-export current contents before each compare
                for tname in tables:
                    con.register(tname, spark.table(tname).toPandas())
                duck = con.sql(c.sql).fetchall()
            except Exception:
                unportable += 1
                continue
            got = [tuple(_spark_value(v, tz_convert=True) for v in r) for r in rows]
            dgot = [tuple(_spark_value(v) for v in r) for r in duck]
            if not rows_match(got, dgot):
                failures.append((c.key, got[:3], dgot[:3]))
            else:
                checked += 1
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        for v in views:
            spark.catalog.dropTempView(v)
        for tname in tables:
            spark.sql(f"DROP TABLE IF EXISTS {tname}")
        con.close()
    return checked, unportable, failures
