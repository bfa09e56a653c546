"""Golden-file SQL conformance sweep (plans/sqlgolden.py).

Replays 194 files of the reference's vendored Spark SQL query test
corpus (sql-tests/inputs + results; the reference validates its native
engine by replaying the same files through SQLQueryTestSuite /
NativeSQLConvertedSuite.scala) against the pinned expected outputs:
~7,800 statements — every SELECT compared as typed values, setup DDL
executed, expected-error statements asserted to error, and (round 11)
DESCRIBE/SHOW metadata output compared through a masked stable-field
line layer (sqlgolden.DDL_FILES).

SKIPS documents every known Spark 3.1 -> 4 behavior divergence — each
entry names the construct and why the golden no longer applies.  The
DuckDB cross-check re-runs the dialect-portable subset on DuckDB and
compares against the Spark results (pinned non-vacuity floor).
"""

from __future__ import annotations

import re

import pytest

from gazelle_plugin_spark.plans import sqlgolden as g

pytestmark = pytest.mark.conformance

#: The replay tests need the reference corpus; the pure-function units
#: at the end of this module do not, and run everywhere.
needs_corpus = pytest.mark.skipif(
    not g.corpus_available(),
    reason="reference sql-tests corpus not present on this machine",
)

#: Tranche 1 (round 9): relational core + subquery family.  These also
#: run the DuckDB cross-check (dialect-portable subset).
DUCK_FILES = [
    "group-by",
    "group-by-filter",
    "group-by-ordinal",
    "group-analytics",
    "grouping_set",
    "having",
    "inner-join",
    "outer-join",
    "natural-join",
    "cross-join",
    "join-empty-relation",
    "union",
    "except",
    "except-all",
    "intersect-all",
    "limit",
    "window",
    "predicate-functions",
    "operators",
    "like-all",
    "like-any",
    "inline-table",
    "order-by-ordinal",
    "cte",
    "count",
    "subquery/in-subquery/simple-in",
    "subquery/in-subquery/in-basic",
    "subquery/in-subquery/in-group-by",
    "subquery/in-subquery/not-in-unit-tests-single-column",
    "subquery/in-subquery/not-in-unit-tests-multi-column",
    "subquery/exists-subquery/exists-basic",
    "subquery/exists-subquery/exists-aggregate",
    "subquery/exists-subquery/exists-joins-and-set-ops",
    "subquery/scalar-subquery/scalar-subquery-select",
    "subquery/scalar-subquery/scalar-subquery-predicate",
    "subquery/subquery-in-from",
    "subquery/in-subquery/in-having",
    "subquery/in-subquery/in-joins",
    "subquery/in-subquery/in-limit",
    "subquery/in-subquery/in-multiple-columns",
    "subquery/in-subquery/in-order-by",
    "subquery/in-subquery/in-set-operations",
    "subquery/in-subquery/in-with-cte",
    "subquery/in-subquery/nested-not-in",
    "subquery/in-subquery/not-in-group-by",
    "subquery/in-subquery/not-in-joins",
    "subquery/in-subquery/not-in-unit-tests-single-column-literal",
    "subquery/in-subquery/not-in-unit-tests-multi-column-literal",
    "subquery/exists-subquery/exists-cte",
    "subquery/exists-subquery/exists-having",
    "subquery/exists-subquery/exists-orderby-limit",
    "subquery/exists-subquery/exists-within-and-or",
    "subquery/negative-cases/invalid-correlation",
    "subquery/negative-cases/subq-input-typecheck",
]

#: Tranche 2 (round 9, late): expressions, literals/typing, the
#: self-contained postgreSQL files, and the typeCoercion/native sweep.
#: Golden-compared only — DuckDB's coercion/decimal rules legitimately
#: diverge across much of this surface, so the cross-check stays on
#: the relational tranche above.
EXPR_FILES = [
    "string-functions",
    "array",
    "bitwise",
    "cast",
    "comparator",
    "cte-nested",
    "cte-nonlegacy",
    "pivot",
    "null-propagation",
    "sql-compatibility-functions",
    "misc-functions",
    "regexp-functions",
    "struct",
    "table-aliases",
    "map",
    "subexp-elimination",
    "higher-order-functions",
    "table-valued-functions",
    "json-functions",
    "csv-functions",
    "literals",
    "postgreSQL/select_having",
    "postgreSQL/select_implicit",
    "postgreSQL/case",
    "postgreSQL/boolean",
    "postgreSQL/window_part4",
    "postgreSQL/with",
    "typeCoercion/native/division",
    "typeCoercion/native/decimalPrecision",
    "typeCoercion/native/booleanEquality",
    "typeCoercion/native/caseWhenCoercion",
    "typeCoercion/native/ifCoercion",
    "typeCoercion/native/implicitTypeCasts",
    "typeCoercion/native/inConversion",
    "typeCoercion/native/binaryComparison",
    "typeCoercion/native/concat",
    "typeCoercion/native/elt",
    "typeCoercion/native/arrayJoin",
    "typeCoercion/native/mapconcat",
    "typeCoercion/native/dateTimeOperations",
    "typeCoercion/native/mapZipWith",
    "typeCoercion/native/promoteStrings",
    "typeCoercion/native/stringCastAndExpressions",
    "typeCoercion/native/widenSetOperationTypes",
    "typeCoercion/native/windowFrameCoercion",
    "datetime",
    "decimalArithmeticOperations",
    "columnresolution",
    "comments",
    "current_database_catalog",
    # round-10 additions (VERDICT r9 item 3)
    "null-handling",
    "order-by-nulls-ordering",
    "pred-pushdown",
    "datetime-parsing",
    "datetime-parsing-invalid",
    "timezone",
    # round-10 late additions (second uncovered-file sweep)
    "parse-schema-string",
    "datetime-formatting",
    "datetime-formatting-invalid",
    "random",
    "tablesample-negative",
    # round-10 legacy-conf replicas: --SET/--IMPORT replays of their
    # base file under the named legacy conf (sqlgolden.FILE_CONFS);
    # their skip lists alias the base files' (same inputs, same
    # documented 3.1->4 divergences — see after the SKIPS literal)
    "cte-legacy",
    "datetime-legacy",
    "datetime-formatting-legacy",
    "datetime-parsing-legacy",
    # round-10 final sweep: the last portable non-DDL/non-udf files
    # (ignored.sql ships no golden; udf/* is non-portable by design;
    # the describe*/show*/charvarchar/change-column metadata files
    # joined in round 11 via the stable-field line compare — see
    # DDL_FILES_T below; explain/explain-aqe joined in round 12 via
    # the masked plan-render compare — see EXPLAIN_FILES_T below)
    "query_regex_column",
    "columnresolution-views",
    "columnresolution-negative",
    # round-13: the PORTABLE SUBSET of extract.sql — the setup view's
    # mixed CalendarInterval column `i` is unrepresentable since Spark
    # 3.2 (SPARK-27790), so FILE_SQL_REWRITES drops it from the view
    # and the i-reading statements are ONE re:-class skip; 35
    # timestamp-column statements (extract/date_part field aliases)
    # value-compare normally and 3 not_supported forms pin errors.
    "extract",
]
#: round-10 exclusions, each structural (not a skip-list candidate):
#: - interval: pins the legacy CalendarInterval system's literal
#:   grammar and rendering wholesale (67/110 statements diverge) —
#:   the same reason ansi/interval is excluded.

#: Tranche 3 (round 9, late): the pg regression files that need the
#: suite's pre-loaded tenk1/onek/aggtest tables (CSV-backed temp views
#: over the reference's test-data/postgresql files; sqlgolden.preludes).
PG_FILES = [
    "postgreSQL/select",
    "postgreSQL/select_distinct",
    "postgreSQL/union",
    "postgreSQL/limit",
    "postgreSQL/int2",
    "postgreSQL/int4",
    "postgreSQL/int8",
    "postgreSQL/float4",
    "postgreSQL/float8",
    "postgreSQL/aggregates_part1",
    "postgreSQL/groupingsets",
    "postgreSQL/window_part1",
    "postgreSQL/window_part2",
    "postgreSQL/window_part3",
    "postgreSQL/join",
    "postgreSQL/text",
    "postgreSQL/date",
    # round-10 additions (VERDICT r9 item 3)
    "postgreSQL/numeric",
    "postgreSQL/strings",
    "postgreSQL/aggregates_part2",
    "postgreSQL/aggregates_part3",
    "postgreSQL/comments",
    "postgreSQL/insert",
]
#: round-10 pg exclusions:
#: - postgreSQL/timestamp: the special datetime strings
#:   ('now'/'today'/'tomorrow'/'epoch') its INSERTs rely on were
#:   removed from casts in Spark 3.2 (SPARK-35581) — the table loads
#:   empty and 18/30 statements cascade.
#: - postgreSQL/aggregates_part4: every statement is commented out
#:   upstream (pending SPARK-27980 ordered-set aggregates) — 0 cases.

#: Tranche 4 (round 9, late): the ansi/ goldens — the SAME input files
#: replayed by the suite's ANSI path (sqlgolden.file_confs turns ANSI
#: on).  ansi/interval is excluded: the legacy CalendarInterval system
#: those goldens pin was replaced wholesale by ANSI interval TYPES in
#: Spark 3.2+ (56/110 statements diverge); ansi/map is excluded as
#: all-skip (Spark 4 relaxed ANSI element_at/[] on a missing key to
#: NULL, which is the file's entire subject).
ANSI_FILES = [
    "ansi/array",
    "ansi/datetime",
    "ansi/decimalArithmeticOperations",
    "ansi/higher-order-functions",
    "ansi/literals",
    "ansi/parse-schema-string",
    "ansi/string-functions",
]

#: Tranche 5 (round 11): DDL/metadata files — DESCRIBE/SHOW/EXPLAIN
#: statements compare through sqlgolden's masked stable-field line
#: layer (DDL_FILES there); SELECTs in the same files compare as typed
#: values like every other file. udaf.sql replays the reference's
#: MyDoubleAvg aggregate VALUES through a pandas GROUPED_AGG analog
#: (the Scala CREATE FUNCTION classpath mechanics are rewritten, see
#: sqlgolden.FILE_SQL_REWRITES).
DDL_FILES_T = [
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
    "udaf",
]

#: Tranche 6 (round 12): EXPLAIN plan-render files — EXPLAIN FORMATTED
#: outputs compare as ORDERED masked plan lines (expression/plan/
#: codegen/operator ids, catalog qualifiers, and locations masked
#: symmetrically — sqlgolden.EXPLAIN_FILES); the one EXPLAIN EXTENDED
#: statement compares the physical section's (depth, node-kind)
#: skeleton. What stays pinned: tree shape, join types, pushed
#: filters, read schemas, conditions, keys, aggregate functions.
EXPLAIN_FILES_T = [
    "explain",
    "explain-aqe",
]

#: Tranche 7 (round 12): the COMPLETE udf/* conversion corpus — all 26
#: files. The reference generated these with a JVM FunctionRegistry
#: builder that expands udf(X) to CAST(udf(cast(X as string)) AS
#: <type of X>) (the golden schema lines show that form). PySpark
#: cannot register an expression builder, so the harness (a) rewrites
#: udf(X) -> udf(CAST(X AS STRING)) in the SQL text (the JVM still
#: renders the string; sqlgolden.wrap_udf_args), (b) runs the REAL
#: pandas string-identity UDF over the Arrow path, and (c) undoes the
#: missing OUTER back-cast at compare time by parsing string outputs
#: with the golden's column types (sqlgolden.udf_string_relax).
#: Statements that need the back-cast BEFORE further computation
#: (aggregates/arithmetic/boolean contexts over the udf output) are
#: per-statement skips of one documented class below.
UDF_FILES_T = [
    "udf/udf-count",
    "udf/udf-cross-join",
    "udf/udf-except",
    "udf/udf-except-all",
    "udf/udf-group-analytics",
    "udf/udf-group-by",
    "udf/udf-having",
    "udf/udf-inline-table",
    "udf/udf-inner-join",
    "udf/udf-intersect-all",
    "udf/udf-join-empty-relation",
    "udf/udf-natural-join",
    "udf/udf-outer-join",
    "udf/udf-pivot",
    "udf/udf-special-values",
    "udf/udf-udaf",
    "udf/udf-union",
    "udf/udf-window",
    "udf/postgreSQL/udf-aggregates_part1",
    "udf/postgreSQL/udf-aggregates_part2",
    "udf/postgreSQL/udf-aggregates_part3",
    # udf-aggregates_part4 is excluded like its base file: every
    # statement is commented out upstream (0 cases in the .out)
    "udf/postgreSQL/udf-case",
    "udf/postgreSQL/udf-join",
    "udf/postgreSQL/udf-select_having",
    "udf/postgreSQL/udf-select_implicit",
]

FILES = (
    DUCK_FILES
    + EXPR_FILES
    + PG_FILES
    + ANSI_FILES
    + DDL_FILES_T
    + EXPLAIN_FILES_T
    + UDF_FILES_T
)

#: Documented Spark 3.1 -> 4 behavior divergences (golden no longer
#: applies on a current Spark).  Key = Case.key (70-char normalized SQL
#: prefix) -> reason.
#: The explain files' genuine 3.1 -> 4 OPTIMIZER/PLANNER changes (the
#: plan Spark 4 builds is structurally different, so no render mask
#: applies). The HAVING key is >70 chars on purpose: it shares its
#: 70-char prefix with the (passing) ORDER BY variant and
#: sqlgolden.skip_reason disambiguates by longer-prefix match.
_EXPLAIN_SKIPS = {
    "EXPLAIN FORMATTED SELECT key, max(val) FROM explain_temp1 WHERE key > 0 GROUP BY key HAVING": (
        "3.1 planned HAVING as Filter+Project over a widened aggregate output "
        "(the agg emitted max(val) twice); Spark 4 filters the named output directly"
    ),
    "EXPLAIN FORMATTED SELECT key, val FROM explain_temp1 WHERE key > 0 UNI": (
        "Spark 4's optimizer collapses the self-UNION's identical branches into "
        "one scan before the distinct aggregate; 3.1 planned Union over two scans"
    ),
    "EXPLAIN FORMATTED SELECT * FROM explain_temp1 WHERE key = (SELECT max(": (
        "Spark 4 pushes scalar-subquery equality predicates into the parquet "
        "PushedFilters and REUSES the repeated subquery plan (one subquery tree "
        "+ a reuse reference); 3.1 kept the predicate post-scan and re-planned "
        "each subquery occurrence"
    ),
    "EXPLAIN FORMATTED CREATE VIEW explain_view AS SELECT key, val FROM exp": (
        "3.1 rendered CreateViewCommand's innerChildren pre-analysis "
        "(UnresolvedRelation); Spark 4 renders the analyzed child (SubqueryAlias "
        "over the resolved relation)"
    ),
}

#: The one divergence class of the udf/* replay: the statement needs
#: the string identity cast BACK to the argument's type BEFORE further
#: computation — an aggregate/arithmetic/boolean context over the udf
#: output — which only the reference's JVM expression builder could
#: insert (sum/max over string promotes to double or compares
#: lexicographically; CASE WHEN / filters / AND need BOOLEAN; every()
#: rejects STRING).
_UDF_BACKCAST = (
    "needs the JVM builder's back-cast of the string identity to the "
    "argument's type before this aggregate/arithmetic/boolean context"
)

SKIPS: dict[str, dict[str, str]] = {
    "udf/udf-count": {
        "SELECT udf(count(a, b)), udf(count(b, a)), udf(count(testData.*)) FROM": (
            "Spark 4 rejects count(tblName.*) (3.1 expanded it to the column list)"
        ),
        "SELECT udf(count(DISTINCT a, b)), udf(count(DISTINCT b, a)), udf(count": (
            "Spark 4 rejects count(tblName.*) (3.1 expanded it to the column list)"
        ),
    },
    "udf/udf-except-all": {
        "SELECT udf(c1) FROM tab1 EXCEPT ALL SELECT udf(c1) FROM tab2 WHERE udf": _UDF_BACKCAST,
    },
    "udf/udf-group-by": {
        "SELECT 'foo', MAX(STRUCT(udf(a))) FROM testData WHERE a = 0 GROUP BY u": _UDF_BACKCAST,
        "SELECT udf(a + 1) + 1, udf(COUNT(b)) FROM testData GROUP BY udf(a + 1)": _UDF_BACKCAST,
        "SELECT udf(every(udf(v))), some(v), any(v) FROM test_agg WHERE k = 4": _UDF_BACKCAST,
    },
    "udf/udf-pivot": {
        # long key: shares its 70-char prefix with 4 PASSING pivots
        "SELECT * FROM ( SELECT year, course, earnings FROM courseSales ) PIVOT ( udf(sum(udf(earnings))), udf(min(year)) FOR cou": _UDF_BACKCAST,
    },
    "udf/udf-window": {
        "SELECT udf(val), cate, max(udf(val)) OVER w AS max, min(udf(val)) OVER": _UDF_BACKCAST,
    },
    "udf/udf-outer-join": {
        "SELECT (udf(SUM(udf(COALESCE(t1.int_col1, t2.int_col0))))), (udf(COALE": _UDF_BACKCAST,
    },
    "udf/postgreSQL/udf-aggregates_part1": {
        "SELECT sum(udf(four)) AS sum_1500 FROM onek": _UDF_BACKCAST,
        "SELECT max(udf(a)) AS max_100 FROM aggtest": _UDF_BACKCAST,
        "select sum(udf(CAST(null AS int))) from range(1,4)": _UDF_BACKCAST,
        "select sum(udf(CAST(null AS long))) from range(1,4)": _UDF_BACKCAST,
        "select sum(udf(CAST(null AS Decimal(38,0)))) from range(1,4)": _UDF_BACKCAST,
        "select avg(udf(CAST(null AS Decimal(38,0)))) from range(1,4)": _UDF_BACKCAST,
        "select ten, udf(count(*)), sum(udf(four)) from onek group by ten order": _UDF_BACKCAST,
    },
    "udf/postgreSQL/udf-case": {
        "SELECT '3' AS `One`, CASE WHEN udf(1 < 2) THEN 3 END AS `Simple WHEN`": _UDF_BACKCAST,
        "SELECT udf('6') AS `One`, CASE WHEN udf(1 > 2) THEN 3 WHEN udf(4) < 5 ": _UDF_BACKCAST,
        "SELECT CASE 1 WHEN 0 THEN 1/udf(0) WHEN 1 THEN 1 ELSE 2/0 END": (
            "golden pins a divide-by-zero error from the dead 2/0 branch; the "
            "string identity makes 1/udf(0) double division (NULL), and Spark "
            "4 folds the un-taken branch without the back-cast"
        ),
        "SELECT * FROM CASE_TBL WHERE udf(COALESCE(f,i)) = 4": _UDF_BACKCAST,
        "SELECT * FROM CASE_TBL WHERE udf(NULLIF(f,i)) = 2": _UDF_BACKCAST,
        "SELECT * FROM CASE_TBL a, CASE2_TBL b WHERE udf(COALESCE(a.f, b.i, b.j": _UDF_BACKCAST,
        "SELECT '' AS `Two`, * FROM CASE_TBL a, CASE2_TBL b WHERE udf(COALESCE(": _UDF_BACKCAST,
    },
    "udf/postgreSQL/udf-join": {
        "select udf(count(*)) from tenk1 x where udf(x.unique1) in (select udf(": _UDF_BACKCAST,
        "select udf(udf(count(*))) from tenk1 x where udf(x.unique1) in (select": _UDF_BACKCAST,
        "select udf(a.f1), udf(b.f1), udf(t.thousand), udf(t.tenthous) from ten": _UDF_BACKCAST,
        "select * from tt5,tt6 where udf(tt5.f1) = udf(tt6.f1) and udf(tt5.f1) ": _UDF_BACKCAST,
        "select udf(t1.q2), udf(count(t2.*)) from int8_tbl t1 left join int8_tb": (
            "Spark 4 rejects count(tblName.*) (3.1 expanded it to the column list)"
        ),
        "select udf(udf(t1.q2)), udf(count(t2.*)) from int8_tbl t1 left join (s": (
            "Spark 4 rejects count(tblName.*) (3.1 expanded it to the column list)"
        ),
        "select udf(t1.q2) as q2, udf(udf(count(t2.*))) from int8_tbl t1 left j": (
            "Spark 4 rejects count(tblName.*) (3.1 expanded it to the column list)"
        ),
        "SELECT * FROM ( SELECT 1 as key1 ) sub1 LEFT JOIN ( SELECT sub3.key3, ": _UDF_BACKCAST,
        "select udf(nt3.id) from nt3 as nt3 left join (select nt2.*, (udf(nt2.b": _UDF_BACKCAST,
        "select * from ( select udf(unique1), udf(q1), udf(udf(coalesce(unique1": _UDF_BACKCAST,
        "select udf(f1), udf(unique2), case when udf(udf(unique2)) is null then": _UDF_BACKCAST,
        "select udf(a.q2), udf(b.q1) from int8_tbl a left join int8_tbl b on ud": _UDF_BACKCAST,
    },
    "explain": dict(
        _EXPLAIN_SKIPS,
        **{
            "EXPLAIN FORMATTED SELECT COUNT(val) + SUM(key) as TOTAL, COUNT(key) FI": (
                "Spark 4 whole-stage-codegens aggregates with FILTER clauses "
                "(tree gains the * marker); 3.1 fell back to non-codegen"
            ),
        },
    ),
    "explain-aqe": dict(_EXPLAIN_SKIPS),
    "describe": {
        # EXPLAIN-of-command rendering changed beyond the masked
        # attribute lists: 4 renders the partition spec as [c=Us, d=2]
        # (3.1: Map(c -> Us, d -> 2)) and catalog-qualifies the column
        # reference in DescribeColumnCommand.
        "EXPLAIN DESCRIBE t b": "Spark 4 renders the DescribeColumnCommand column ref catalog-qualified",
        "EXPLAIN DESCRIBE t PARTITION (c='Us', d=2)": "Spark 4 renders the partition spec as [k=v] (3.1: Map(k -> v))",
    },
    "group-by-filter": {
        # Spark 3.1 rejected aggregate FILTER clauses containing a
        # subquery or an outer-aggregate reference; Spark 4 supports
        # them (the golden pins the old AnalysisException).
        "SELECT emp.dept_id, avg(salary), avg(salary) FILTER (WHERE EXISTS (SEL": "Spark 4 supports EXISTS subqueries in aggregate FILTER (3.1 errored)",
        "SELECT emp.dept_id, Sum(salary), Sum(salary) FILTER (WHERE NOT EXISTS ": "Spark 4 supports NOT EXISTS subqueries in aggregate FILTER (3.1 errored)",
        "SELECT emp.dept_id, avg(salary), avg(salary) FILTER (WHERE emp.dept_id": "Spark 4 supports correlated references in aggregate FILTER (3.1 errored)",
        "SELECT emp.dept_id, Sum(salary), Sum(salary) FILTER (WHERE emp.dept_id": "Spark 4 supports correlated references in aggregate FILTER (3.1 errored)",
    },
    "count": {
        # SPARK-34199: count(tblName.*) is blocked since Spark 3.2
        # (ambiguous under outer joins); golden expects it to work.
        "SELECT count(a, b), count(b, a), count(testData.*) FROM testData": "Spark 4 disallows count(tblName.*) (SPARK-34199; 3.1 allowed it)",
        "SELECT count(DISTINCT a, b), count(DISTINCT b, a), count(DISTINCT *), ": "Spark 4 disallows count(tblName.*) (SPARK-34199; 3.1 allowed it)",
    },
    "array": {
        "select sort_array(array('b', 'd'), cast(NULL as boolean))": "Spark 4 accepts a NULL sort-order flag (3.1 errored)",
    },
    "cast": {
        "DESC FUNCTION EXTENDED boolean": "function-description text was rewritten between Spark versions",
        "SELECT CAST('interval 3 month 1 hour' AS interval)": "pyspark 4 cannot collect CalendarIntervalType (fromInternal not implemented)",
        "SELECT CAST(interval 3 month 1 hour AS string)": "unquoted multi-unit interval literals need ANSI-interval syntax since Spark 3.2",
    },
    "misc-functions": {
        "select typeof(null)": "NullType renders 'void' since Spark 3.2 (golden: 'null')",
        "select typeof(date '1986-05-23'), typeof(timestamp '1986-05-23'), type": "interval literals are typed as ANSI day-time intervals since Spark 3.2 (golden: 'interval')",
    },
    "higher-order-functions": {
        "select aggregate(split('abcdefgh',''), array(array('')), (acc, x) -> a": "split on an empty regex no longer yields a leading empty element (SPARK-36255 area)",
    },
    "json-functions": {
        "select schema_of_json('{\"c1\":0, \"c2\":[1]}')": "schema_of_json stopped backtick-quoting field names after 3.1",
        "select from_json( '{\"d\": \"02-29\"}', 'd date', map('dateFormat', 'MM-dd": "non-existent Feb-29 parses to null since the 3.x parser hardening (golden: exception)",
        "select from_json( '{\"t\": \"02-29\"}', 't timestamp', map('timestampForma": "non-existent Feb-29 parses to null since the 3.x parser hardening (golden: exception)",
        "select schema_of_json('{\"c1\":1}', map('primitivesAsString', 'true'))": "schema_of_json stopped backtick-quoting field names after 3.1",
        "select schema_of_json('{\"c1\":01, \"c2\":0.1}', map('allowNumericLeadingZ": "schema_of_json stopped backtick-quoting field names after 3.1",
    },
    "csv-functions": {
        "select schema_of_csv('1|abc', map('delimiter', '|'))": "schema_of_csv stopped backtick-quoting field names after 3.1",
    },
    "literals": {
        "select '\\'', '\"', '\\n', '\\r', '\\t', 'Z'": "literal TAB characters in the output are indistinguishable from the golden's cell separator",
        "select x'2379ACFe'": "binary golden rendered via lossy UTF-8 (0xAC/0xFE are not valid UTF-8); not round-trippable",
        "select +interval '1 day'": "interval literals are typed as ANSI day-time intervals since Spark 3.2",
    },
    "postgreSQL/case": {
        # Spark 3.1 constant-folded 1/0 inside unreached CASE branches
        # into an error under ANSI; Spark 4 only evaluates taken
        # branches (conditional-branch safety).
        "SELECT CASE WHEN 1=0 THEN 1/0 WHEN 1=1 THEN 1 ELSE 2/0 END": "Spark 4 does not evaluate unreached CASE branches (3.1 folded 1/0 to an error)",
        "SELECT CASE 1 WHEN 0 THEN 1/0 WHEN 1 THEN 1 ELSE 2/0 END": "Spark 4 does not evaluate unreached CASE branches (3.1 folded 1/0 to an error)",
        "SELECT CASE WHEN i > 100 THEN 1/0 ELSE 0 END FROM case_tbl": "Spark 4 does not evaluate unreached CASE branches (3.1 folded 1/0 to an error)",
    },
    "postgreSQL/with": {
        "SELECT count(*) FROM ( WITH q1(x) AS (SELECT rand() FROM (SELECT EXPLO": "nondeterministic CTE inlining changed: 3.1 re-evaluated rand() per reference, Spark 4 evaluates once",
    },
    "typeCoercion/native/mapconcat": {
        "SELECT map_concat(boolean_map1, boolean_map2) boolean_map, map_concat(": "pyspark 4 cannot collect maps with array keys (unhashable in the Python converter)",
    },
    "typeCoercion/native/mapZipWith": {
        "SELECT map_zip_with(decimal_map1, decimal_map2, (k, v1, v2) -> struct(": "map_zip_with coerces mismatched decimal key precisions since 3.x (golden: error)",
        "SELECT map_zip_with(decimal_map2, int_map, (k, v1, v2) -> struct(k, v1": "map_zip_with coerces decimal-vs-int keys since 3.x (golden: error)",
        "SELECT map_zip_with(array_map1, array_map2, (k, v1, v2) -> struct(k, v": "pyspark 4 cannot collect maps with array keys (unhashable in the Python converter)",
        "SELECT map_zip_with(struct_map1, struct_map2, (k, v1, v2) -> struct(k,": "struct-keyed map golden cells are not parseable by the harness cell grammar",
    },
    "typeCoercion/native/promoteStrings": {
        "SELECT '1' - cast('2017-12-11 09:30:00' as date) FROM t": "string-minus-date is typed date arithmetic since 3.2 (golden: legacy double)",
    },
    "ansi/array": {
        "select sort_array(array('b', 'd'), cast(NULL as boolean))": "Spark 4 accepts a NULL sort-order flag (3.1 errored)",
    },
    "ansi/datetime": {
        # 3.1's ANSI parser reserved current_date/current_timestamp as
        # column names and rejected string day-counts in date_add/sub;
        # plus the same ANSI-interval typing family as the non-ansi file.
        "select current_date = current_date(), current_timestamp = current_time": "3.1 ANSI reserved current_date/current_timestamp; Spark 4 resolves them",
        "create temporary view ttf1 as select * from values (1, 2), (2, 3) as t": "3.1 ANSI reserved current_date/current_timestamp as column names",
        "select current_date, current_timestamp from ttf1": "3.1 ANSI reserved current_date/current_timestamp as column names",
        "select date_add('2011-11-11', str) from v": "date_add with a string day count is accepted again (3.1 ANSI errored)",
        "select date_sub('2011-11-11', str) from v": "date_sub with a string day count is accepted again (3.1 ANSI errored)",
        "select date'2011-11-11 11:11:11' + interval '2' second": "date +- sub-day interval keeps DATE under ANSI-interval rules since 3.2 (3.1 errored under ANSI)",
        "select date'2011-11-11 11:11:11' - interval '2' second": "date +- sub-day interval keeps DATE under ANSI-interval rules since 3.2 (3.1 errored under ANSI)",
        "select date'2020-01-01' - timestamp'2019-10-06 10:11:12.345678'": "timestamp-date subtraction is typed INTERVAL DAY TO SECOND since Spark 3.2 (golden: legacy interval)",
        "select timestamp'2019-10-06 10:11:12.345678' - date'2020-01-01'": "timestamp-date subtraction is typed INTERVAL DAY TO SECOND since Spark 3.2 (golden: legacy interval)",
        "select timestamp'2019-10-06 10:11:12.345678' - null": "timestamp-null subtraction is typed INTERVAL DAY TO SECOND since Spark 3.2 (golden: legacy interval)",
        "select null - timestamp'2019-10-06 10:11:12.345678'": "timestamp-null subtraction is typed INTERVAL DAY TO SECOND since Spark 3.2 (golden: legacy interval)",
        "select null + date '2001-09-28'": "null+-date is typed date arithmetic since 3.2 (golden: legacy timestamp/interval result)",
        "select date '2001-09-28' + null": "null+-date is typed date arithmetic since 3.2 (golden: legacy timestamp/interval result)",
        "select date '2001-09-28' - null": "null+-date is typed date arithmetic since 3.2 (golden: legacy timestamp/interval result)",
        "select null - date '2019-10-06'": "null+-date is typed date arithmetic since 3.2 (golden: legacy timestamp/interval result)",
        "select date '2001-10-01' - date '2001-09-28'": "date-date subtraction is typed INTERVAL DAY since Spark 3.2 (golden: legacy interval)",
    },
    "ansi/higher-order-functions": {
        "select transform(ys, all -> all * all) as v from values (array(32, 97)": "'all' is usable as a lambda parameter again (3.1 ANSI reserved it)",
        "select transform(ys, (all, i) -> all + i) as v from values (array(32, ": "'all' is usable as a lambda parameter again (3.1 ANSI reserved it)",
        "select aggregate(split('abcdefgh',''), array(array('')), (acc, x) -> a": "split on an empty regex no longer yields a leading empty element (SPARK-36255 area)",
    },
    "ansi/literals": {
        "select '\\'', '\"', '\\n', '\\r', '\\t', 'Z'": "literal TAB characters in the output are indistinguishable from the golden's cell separator",
        "select x'2379ACFe'": "binary golden rendered via lossy UTF-8 (0xAC/0xFE are not valid UTF-8); not round-trippable",
        "select +interval '1 day'": "interval literals are typed as ANSI day-time intervals since Spark 3.2",
    },
    "ansi/parse-schema-string": {
        "select from_csv('1', 'create INT')": "ANSI-reserved keywords are legal schema field names again (3.1 errored)",
        "select from_json('{\"create\":1}', 'create INT')": "ANSI-reserved keywords are legal schema field names again (3.1 errored)",
    },
    "datetime": {
        # date/timestamp +- interval/null/date arithmetic is typed as
        # ANSI intervals (or day counts) since Spark 3.2; the goldens
        # pin the 3.1 legacy CalendarInterval/timestamp results.
        "select date'2011-11-11 11:11:11' + interval '2' second": "date +- sub-day interval keeps DATE under ANSI-interval rules since 3.2 (3.1 promoted to timestamp)",
        "select date'2011-11-11 11:11:11' - interval '2' second": "date +- sub-day interval keeps DATE under ANSI-interval rules since 3.2 (3.1 promoted to timestamp)",
        "select date'2020-01-01' - timestamp'2019-10-06 10:11:12.345678'": "timestamp-date subtraction is typed INTERVAL DAY TO SECOND since Spark 3.2 (golden: legacy interval)",
        "select timestamp'2019-10-06 10:11:12.345678' - date'2020-01-01'": "timestamp-date subtraction is typed INTERVAL DAY TO SECOND since Spark 3.2 (golden: legacy interval)",
        "select timestamp'2019-10-06 10:11:12.345678' - null": "timestamp-null subtraction is typed INTERVAL DAY TO SECOND since Spark 3.2 (golden: legacy interval)",
        "select null - timestamp'2019-10-06 10:11:12.345678'": "timestamp-null subtraction is typed INTERVAL DAY TO SECOND since Spark 3.2 (golden: legacy interval)",
        "select null + date '2001-09-28'": "null+-date is typed date arithmetic since 3.2 (golden: legacy timestamp/interval result)",
        "select date '2001-09-28' + null": "null+-date is typed date arithmetic since 3.2 (golden: legacy timestamp/interval result)",
        "select date '2001-09-28' - null": "null+-date is typed date arithmetic since 3.2 (golden: legacy timestamp/interval result)",
        "select null - date '2019-10-06'": "null+-date is typed date arithmetic since 3.2 (golden: legacy timestamp/interval result)",
        "select date '2001-10-01' - date '2001-09-28'": "date-date subtraction is typed INTERVAL DAY since Spark 3.2 (golden: legacy interval)",
    },
    "postgreSQL/union": {
        "SELECT cast('3.4' as decimal(38, 18)) UNION SELECT 'foo'": "decimal-vs-string UNION: 3.1 coerced to string; Spark 4 rejects the branch types",
    },
    "postgreSQL/float4": {
        # f1 is FLOAT; 3.1 coerced the string literal to FLOAT
        # (equal), Spark 4 widens both to DOUBLE (1004.3f != 1004.3d).
        "SELECT '' AS four, f.* FROM FLOAT4_TBL f WHERE f.f1 <> '1004.3'": "float-vs-string comparison now widens to double (3.1 compared as float)",
        "SELECT '' AS one, f.* FROM FLOAT4_TBL f WHERE f.f1 = '1004.3'": "float-vs-string comparison now widens to double (3.1 compared as float)",
        "SELECT '' AS three, f.* FROM FLOAT4_TBL f WHERE '1004.3' > f.f1": "float-vs-string comparison now widens to double (3.1 compared as float)",
        "SELECT '' AS three, f.* FROM FLOAT4_TBL f WHERE f.f1 < '1004.3'": "float-vs-string comparison now widens to double (3.1 compared as float)",
    },
    "postgreSQL/window_part2": {
        "select id, f_numeric, first(id) over w, last(id) over w from numerics ": "RANGE frame with a 'NaN' string bound over decimals: 3.1's lenient cast produced a different frame end",
    },
    "postgreSQL/join": {
        "select t1.q2, count(t2.*) from int8_tbl t1 left join int8_tbl t2 on (t": "Spark 4 disallows count(tblName.*) (SPARK-34199)",
        "select t1.q2, count(t2.*) from int8_tbl t1 left join (select * from in": "Spark 4 disallows count(tblName.*) (SPARK-34199)",
        "select t1.q2, count(t2.*) from int8_tbl t1 left join (select q1, case ": "Spark 4 disallows count(tblName.*) (SPARK-34199)",
    },
    "postgreSQL/text": {
        "select concat_ws('#',1,2,3,'hello',true, false, to_date('20100309','yy": "concat_ws rendering of non-string args changed between versions",
        "select format_string('%0$s', 'Hello')": "format_string rejects argument index 0 since Spark 3.3 (JDK behavior pinned)",
    },
    "postgreSQL/date": {
        # date - date returned a CalendarInterval in 3.1; ANSI
        # date subtraction yields an INTERVAL DAY since Spark 3.2+.
        "SELECT f1 - date '2000-01-01' AS `Days From 2K` FROM DATE_TBL": "date-date subtraction is typed INTERVAL DAY since Spark 3.2 (golden: legacy interval)",
        "SELECT f1 - date 'epoch' AS `Days From Epoch` FROM DATE_TBL": "date-date subtraction is typed INTERVAL DAY since Spark 3.2 (golden: legacy interval)",
        "SELECT date 'yesterday' - date 'today' AS `One day`": "date-date subtraction is typed INTERVAL DAY since Spark 3.2 (golden: legacy interval)",
        "SELECT date 'today' - date 'tomorrow' AS `One day`": "date-date subtraction is typed INTERVAL DAY since Spark 3.2 (golden: legacy interval)",
        "SELECT date 'yesterday' - date 'tomorrow' AS `Two days`": "date-date subtraction is typed INTERVAL DAY since Spark 3.2 (golden: legacy interval)",
        "SELECT date 'tomorrow' - date 'today' AS `One day`": "date-date subtraction is typed INTERVAL DAY since Spark 3.2 (golden: legacy interval)",
        "SELECT date 'today' - date 'yesterday' AS `One day`": "date-date subtraction is typed INTERVAL DAY since Spark 3.2 (golden: legacy interval)",
        "SELECT date 'tomorrow' - date 'yesterday' AS `Two days`": "date-date subtraction is typed INTERVAL DAY since Spark 3.2 (golden: legacy interval)",
        "select make_date(-44, 3, 15)": "make_date rejects negative years under ANSI since 3.2 (golden: 0045-03-15 BC)",
    },
    # -------- round-10 additions --------
    "datetime-parsing": {
        # few-digit year inputs under bare 'y' patterns resolve to
        # proleptic year 0 on Spark 4, which python's datetime cannot
        # hold — collect() raises before any compare (golden: 0001).
        "select to_timestamp('1', 'y')": "Spark 4 parses bare 'y' year 1 to proleptic year 0 (unrepresentable in python datetime; golden: 0001)",
        "select to_timestamp('001', 'yyy')": "Spark 4 parses bare 'yyy' year to proleptic year 0 (unrepresentable in python datetime; golden: 0001)",
        "select to_timestamp('0001', 'yyyy')": "Spark 4 parses bare 'yyyy' year to proleptic year 0 (unrepresentable in python datetime; golden: 0001)",
        "select to_timestamp('00001', 'yyyyy')": "Spark 4 parses bare 'yyyyy' year to proleptic year 0 (unrepresentable in python datetime; golden: 0001)",
        "select to_timestamp('000001', 'yyyyyy')": "Spark 4 parses bare 'yyyyyy' year to proleptic year 0 (unrepresentable in python datetime; golden: 0001)",
    },
    "datetime-parsing-invalid": {
        # Spark 3.1's EXCEPTION-mode parser required the exact digit
        # count for yy/DDD segments; Spark 4 accepts fewer digits.
        "select to_timestamp('1', 'yy')": "Spark 4 accepts lenient year digit counts for 'yy' (3.1 errored)",
        "select to_timestamp('123', 'yy')": "Spark 4 accepts lenient year digit counts for 'yy' (3.1 errored)",
        "select to_timestamp('1', 'yyy')": "Spark 4 accepts lenient year digit counts for 'yyy' (3.1 errored)",
        "select to_timestamp('9', 'DD')": "Spark 4 accepts lenient day-of-year digit counts (3.1 errored)",
        "select to_timestamp('9', 'DDD')": "Spark 4 accepts lenient day-of-year digit counts (3.1 errored)",
        "select to_timestamp('99', 'DDD')": "Spark 4 accepts lenient day-of-year digit counts (3.1 errored)",
        "select from_csv('2018-366', 'date Date', map('dateFormat', 'yyyy-DDD')": "Spark 4 parses day-366 of a non-leap year leniently in from_csv (3.1 errored)",
    },
    "timezone": {
        "SET TIME ZONE LOCAL": "LOCAL resolves to the JVM default timezone (this container: UTC); the suite's JVM ran under America/Los_Angeles",
    },
    "postgreSQL/strings": {
        # .out cell framing strips trailing whitespace, so a value
        # that genuinely ends in spaces cannot round-trip the golden.
        "SELECT binary('\\\\x De Ad Be Ef ')": "golden cell framing trims the value's trailing space (harness representation limit)",
        "SELECT rpad('hi', 5)": "golden cell framing trims rpad's trailing spaces (harness representation limit)",
    },
    "postgreSQL/numeric": {
        "SELECT a, ceil(a), ceiling(a), floor(a), round(a) FROM ceil_floor_roun": "ceil/floor/round result precision on DECIMAL(38,18) changed between Spark versions (schema-only divergence)",
    },
    "datetime-formatting": {
        "select col, date_format(col, '') from v": "an all-empty output column is unrepresentable in .out cell framing (harness representation limit)",
    },
}

#: The legacy-conf replicas import their base file's statements, so
#: they inherit the base file's documented divergences verbatim (the
#: legacy confs change parser/CTE behavior, not interval typing).
#: extract.sql portable subset (round 13): every statement that reads
#: the setup view's mixed CalendarInterval column `i` — dropped from
#: the view by FILE_SQL_REWRITES because no Spark 3.2+ ANSI interval
#: type can represent a year-month+day-time value (SPARK-27790) — is
#: one structural skip class; the collapsed forms are
#: `extract(<field> from i)` and `date_part('<field>', i)`.
SKIPS["extract"] = {
    # any SELECT referencing the bare column `i` (extract(x from i),
    # date_part('x', i), date_part(i, i), and the c - i arithmetic
    # tail) — `i` never appears as a standalone word otherwise; the
    # CREATE VIEW setup is excluded (its `as i` is what the
    # FILE_SQL_REWRITES entry removes)
    r"re:(?i)^select .*\bi\b": (
        "mixed year-month+day-time CalendarInterval column is "
        "unrepresentable since Spark 3.2 (SPARK-27790 ANSI interval types)"
    ),
}

SKIPS["datetime-legacy"] = dict(SKIPS["datetime"])
SKIPS["datetime-formatting-legacy"] = dict(SKIPS["datetime-formatting"])
SKIPS["datetime-parsing-legacy"] = dict(SKIPS["datetime-parsing"])

#: Spark-vs-DuckDB known dialect divergences excluded from the
#: cross-check (the golden compare above still covers these queries —
#: Spark's behavior is reference-verified; these entries document where
#: DuckDB's dialect legitimately differs).
DUCK_SKIPS: dict[str, dict[str, str]] = {
    "group-by": {
        "SELECT SKEWNESS(a), KURTOSIS(a), MIN(a), MAX(a), AVG(a), VARIANCE(a), ": "DuckDB skewness/kurtosis are sample-based; Spark's are population-based",
        "SELECT 1 FROM range(10) HAVING true": "Spark: HAVING without GROUP BY implies a global aggregate (1 row); DuckDB treats it as WHERE",
        "SELECT k, v, bool_and(v) OVER (PARTITION BY k ORDER BY v) FROM test_ag": "window ORDER BY null placement differs (Spark NULLS FIRST asc, DuckDB NULLS LAST) -> different running frames",
        "SELECT k, v, bool_or(v) OVER (PARTITION BY k ORDER BY v) FROM test_agg": "window ORDER BY null placement differs -> different running frames",
    },
    "grouping_set": {
        "SELECT a + b, b, sum(c) FROM (VALUES (1,1,1),(2,2,2)) AS t(a,b,c) GROU": "GROUPING SETS over a projected expression: DuckDB binds the output column, Spark the input columns",
    },
    "intersect-all": {
        "SELECT * FROM tab1 EXCEPT SELECT * FROM tab2 UNION ALL SELECT * FROM t": "EXCEPT/UNION ALL chain associativity differs between the dialects",
    },
    "limit": {
        "SELECT * FROM mapdata LIMIT 2": "DuckDB renders Arrow maps as {'key': [...], 'value': [...]} structs",
    },
    "window": {
        "SELECT val, cate, sum(val) OVER(PARTITION BY cate ORDER BY val ROWS BE": "window ORDER BY null placement differs -> different ROWS frames",
    },
    "predicate-functions": {
        "select 1.5 = '1.51'": "decimal-vs-string comparison: Spark widens to double (false), DuckDB casts the string to the decimal's scale (true)",
    },
    "count": {
        "SELECT count() FROM testData": "zero-argument count(): Spark counts zero columns (0), DuckDB aliases count(*)",
    },
    "subquery/in-subquery/in-group-by": {
        "SELECT t1a, t1b FROM t1 WHERE t1c IN (SELECT t2c FROM t2 WHERE t1a = t": "correlated IN + GROUP BY resolution differs between the dialects",
    },
    "subquery/in-subquery/in-having": {
        "SELECT t1a, t1b, t1c FROM t1 WHERE t1b IN (SELECT t2b FROM t2 WHERE t1": "correlated IN null-key semantics differ between the dialects (DuckDB keeps a NULL-key row)",
    },
    "subquery/in-subquery/in-order-by": {
        "SELECT t1a, t1b FROM t1 WHERE t1c IN (SELECT t2c FROM t2 WHERE t1a = t": "correlated IN + GROUP BY resolution differs between the dialects",
    },
    "subquery/in-subquery/in-with-cte": {
        "WITH cte1 AS (SELECT t1a, t1b FROM t1 WHERE t1b IN (SELECT t2b FROM t2": "correlated IN null-key semantics differ between the dialects",
    },
}


def _session_for(spark, rel):
    """DDL/metadata files run in an ISOLATED session (shared context +
    catalog, fresh temp-view registry and current database): the suite
    session's testdata temp views (customer, orders, ...) otherwise
    SHADOW same-named tables these files create — e.g.
    describe-table-column's `INSERT INTO customer` resolves against
    the 8-column testdata view instead of its own 1-column table.
    newSession() inherits the builder-level engine confs (incl.
    ansi=false); run_file sets its own per-file confs on top."""
    return spark.newSession() if rel in g.DDL_FILES or rel == "udaf" else spark


#: Statements that touch the SHARED catalog — persistent tables and
#: views, databases, functions, table writes, the shared cache, global
#: temp views. Files containing any of these must replay serially
#: (their DDL collides across concurrent sessions); everything else
#: only creates session-local temp views / UDFs and is safe in an
#: isolated session per file. DROP VIEW cannot tell a temp view from a
#: persistent one, so it always counts.
_CATALOG_DDL = re.compile(
    r"\bCREATE\s+(?:OR\s+REPLACE\s+)?(?:TABLE|VIEW|DATABASE|SCHEMA|FUNCTION)\b"
    r"|\b(?:DROP|ALTER)\s+(?:TABLE|VIEW|DATABASE|SCHEMA)\b"
    r"|\bINSERT\s+(?:INTO|OVERWRITE)\b"
    r"|\b(?:UN)?CACHE\s+(?:LAZY\s+)?TABLE\b"
    r"|\bGLOBAL\s+TEMP\w*\b",
    re.I,
)


def _parallel_safe(rel: str) -> bool:
    if rel in g.DDL_FILES or rel == "udaf":
        return False
    return not any(_CATALOG_DDL.search(c.sql) for c in g.parse_out(rel))


#: rel -> list[CaseResult] (or the exception its replay raised). One
#: replay per file per suite run: test_golden_file and
#: test_golden_corpus_counts read the same results — the counts test
#: previously re-ran the whole 194-file sweep a second time (~10 min
#: of the suite wall, VERIFY_r15's timeout — r15 verdict item 2).
_RESULTS: dict[str, object] = {}


@pytest.fixture(scope="session")
def golden_results(spark):
    """Accessor for memoized per-file replay results. On first use the
    catalog-safe files replay CONCURRENTLY, each in its own isolated
    newSession() (guide 2.6 overlap-independent-jobs: per-statement
    wall is mostly JVM round-trip latency, which threads hide); files
    whose statements touch the shared catalog replay serially on
    demand, exactly as before."""
    from concurrent.futures import ThreadPoolExecutor

    def _isolated(rel):
        try:
            return g.run_file(spark.newSession(), rel, SKIPS.get(rel, {}))
        except Exception as ex:  # noqa: BLE001 - surfaced in the file's own test
            return ex

    if not _RESULTS:
        safe = [rel for rel in FILES if _parallel_safe(rel)]
        with ThreadPoolExecutor(max_workers=6) as pool:
            for rel, res in zip(safe, pool.map(_isolated, safe)):
                _RESULTS[rel] = res

    def get(rel: str):
        if rel not in _RESULTS:
            try:
                _RESULTS[rel] = g.run_file(
                    _session_for(spark, rel), rel, SKIPS.get(rel, {})
                )
            except Exception as ex:  # noqa: BLE001 - keep for the counts test
                _RESULTS[rel] = ex
        res = _RESULTS[rel]
        if isinstance(res, Exception):
            raise res
        return res

    return get


@needs_corpus
@pytest.mark.parametrize("rel", FILES)
def test_golden_file(golden_results, rel):
    results = golden_results(rel)
    bad = [r for r in results if r.status not in ("ok", "setup", "error_ok", "skipped")]
    assert not bad, [(r.status, r.case.key, r.detail) for r in bad]
    # non-vacuity: every file must compare values somewhere — or, for
    # the negative-cases files, pin expected errors
    assert any(r.status in ("ok", "error_ok") for r in results), (
        f"{rel}: no value-compared or error-pinned case"
    )


@needs_corpus
def test_golden_corpus_counts(golden_results):
    """Pin the sweep's aggregate shape so a silently-shrinking corpus
    or an over-eager skip list is caught: >=4300 value-compared
    statements, >=1200 pinned-error statements, and <=250 documented
    skips across all the registered files (len(FILES) is pinned by
    test_registered_file_count; round-12 measured shape: ~ok=5243,
    setup=1587, err=1511, skipped=176 over ~8,500 statements — the
    explain tranche added 19 ok + 11 skips, the udf tranche ~364 ok +
    73 err + 36 skips; round 13's extract.sql adds 35 ok + 3 err +
    61 one-class skips, the i-column statements)."""
    ok = setup = err = skipped = 0
    for rel in FILES:
        for r in golden_results(rel):
            ok += r.status == "ok"
            setup += r.status == "setup"
            err += r.status == "error_ok"
            skipped += r.status == "skipped"
    assert ok >= 4300, ok
    assert err >= 1200, err
    assert skipped <= 250, skipped


@needs_corpus
def test_registered_file_count():
    """One authoritative corpus-surface number (round-9 verdict item 6
    pinned COVERAGE.md/SCALE.md/README to this count): 194 golden
    files as of round 13 (152 + the 14 DDL/metadata + udaf tranche +
    the 2 EXPLAIN plan-render files + the 25-file udf/* tranche +
    extract.sql's portable subset; the only remaining exclusions of
    the reference's 202 inputs are ignored.sql + the legacy-interval
    family (interval, ansi/interval, ansi/map, postgreSQL/interval) +
    postgreSQL/timestamp + aggregates_part4 + udf-aggregates_part4,
    each upstream-structural — see COVERAGE.md's exclusion table)."""
    assert len(FILES) == 194, len(FILES)
    assert len(FILES) == len(set(FILES))


@needs_corpus
def test_duckdb_cross_check(spark):
    """Independent-engine second opinion: every portable SELECT in the
    corpus re-runs on DuckDB over Arrow-exported views and must match
    the Spark result.  The floor pins non-vacuity (portable statements
    exist in quantity); unportable statements are dialect rejections,
    not failures."""
    total_checked = 0
    for rel in DUCK_FILES:
        checked, unportable, failures = g.duck_check(
            spark, rel, SKIPS.get(rel, {}), DUCK_SKIPS.get(rel, {})
        )
        assert not failures, f"{rel}: {failures[:3]}"
        total_checked += checked
    assert total_checked >= 300, total_checked


# ------------------------------------------------- parallel-replay gate


@pytest.mark.parametrize(
    "sql, shared",
    [
        ("CREATE TABLE t (a INT) USING parquet", True),
        ("create or replace view v as select 1", True),
        ("CREATE VIEW v AS SELECT 1", True),
        ("CREATE DATABASE showdb", True),
        ("CREATE FUNCTION f AS 'x.Y'", True),
        ("CREATE GLOBAL TEMP VIEW g AS SELECT 1", True),
        ("DROP TABLE IF EXISTS t", True),
        ("DROP VIEW v", True),
        ("DROP DATABASE showdb CASCADE", True),
        ("ALTER TABLE t ADD COLUMNS (b INT)", True),
        ("ALTER VIEW v AS SELECT 2", True),
        ("ALTER DATABASE showdb SET DBPROPERTIES ('a'='b')", True),
        ("INSERT INTO t VALUES (1)", True),
        ("INSERT OVERWRITE TABLE t SELECT 1", True),
        ("CACHE TABLE t", True),
        ("CACHE LAZY TABLE c AS SELECT 1", True),
        ("UNCACHE TABLE t", True),
        ("CREATE TEMP VIEW v AS SELECT 1", False),
        ("CREATE OR REPLACE TEMPORARY VIEW v AS SELECT 1", False),
        ("CREATE TEMPORARY FUNCTION f AS 'x.Y'", False),
        ("SELECT * FROM t WHERE dropped_table = 1", False),
    ],
)
def test_catalog_ddl_classifies_statements(sql, shared):
    """Files with a shared-catalog statement replay serially; only
    session-local DDL may join the concurrent pool."""
    assert bool(_CATALOG_DDL.search(sql)) is shared


# ------------------------------------------------- DDL-normalizer units
# Pure-function pins for the round-11 metadata compare layer — these
# encode the traps found during triage so a refactor cannot silently
# reintroduce them (no Spark needed).


def test_ddl_normalize_masks_are_idempotent_on_golden_text():
    """The live-side masks re-apply harmlessly to golden text that
    already carries the generation-time masks."""
    golden = [
        "Created Time [not included in comparison]",
        "Created By [not included in comparison]",
        "Last Access [not included in comparison]",
        "Location [not included in comparison]/{warehouse_dir}/showdb.db/t/c=Us",
        "Partition Statistics\t[not included in comparison] bytes, 3 rows",
    ]
    live = [
        "Created Time: Sat Aug 15 17:49:29 UTC 2026",
        "Created By: Spark 4.1.2",
        "Last Access: UNKNOWN",
        "Location: file:/tmp/pytest-of-root/wh/showdb.db/t/c=Us",
        "Partition Statistics\t1121 bytes, 3 rows",
    ]
    assert g._ddl_normalize(golden) == g._ddl_normalize(live)


def test_ddl_detail_filter_key_collisions():
    """'Table Properties' must drop even though 'Table' is a keep key;
    stable keys survive; unknown detail rows drop on both sides."""
    lines = [
        "# Detailed Table Information",
        "Table\tt",
        "Table Properties\t[transient_lastDdlTime=123]",
        "Num Buckets\t2",
        "View Catalog and Namespace\tspark_catalog.default",
        "SomeFutureSparkRow\tvalue",
    ]
    got = g._ddl_normalize(lines)
    assert got == sorted(["# Detailed Table Information", "Table t", "Num Buckets 2"])


def test_ddl_show_tables_bare_name_rendering():
    """SHOW TABLES rows reduce to the 3.1 hive rendering (bare name);
    SHOW TBLPROPERTIES t('key') reduces to the bare value."""
    c = g.Case(sql="SHOW TABLES", schema="struct<>", output="show_t1\nshow_t2")
    ok, msg = g.ddl_compare(c, [("showdb", "show_t1", False), ("showdb", "show_t2", False)])
    assert ok, msg
    c = g.Case(sql="SHOW TBLPROPERTIES tbl('p1')", schema="struct<>", output="v1")
    ok, msg = g.ddl_compare(c, [("p1", "v1")])
    assert ok, msg


def test_ddl_show_create_structural_normalization():
    """SHOW CREATE compares the case-folded, backtick-free structural
    form: 3.1 goldens vs Spark 4 rendering (no backticks, lowercased
    identifiers, 'k' = 'v' properties, WITH SCHEMA clause) agree."""
    golden = "CREATE TABLE `default`.`tbl` (\n`a` INT,\n`b` STRING)\nUSING parquet\nTBLPROPERTIES (\n`a` '1')"
    live_cell = "CREATE TABLE default.tbl (\na INT,\nb STRING)\nUSING parquet\nTBLPROPERTIES (\n'a' = '1')"
    c = g.Case(sql="SHOW CREATE TABLE tbl", schema="struct<>", output=golden)
    ok, msg = g.ddl_compare(c, [(live_cell,)])
    assert ok, msg
    # a view's WITH SCHEMA binding clause (Spark 4 addition) is dropped
    golden_v = "CREATE VIEW `default`.`v`(\n`a`)\nAS SELECT 1 a"
    live_v = "CREATE VIEW default.v (\na)\nWITH SCHEMA COMPENSATION\nAS SELECT 1 a"
    c = g.Case(sql="SHOW CREATE TABLE v", schema="struct<>", output=golden_v)
    ok, msg = g.ddl_compare(c, [(live_v,)])
    assert ok, msg


def test_ddl_compare_reports_differences():
    """A genuinely different column row still fails loudly."""
    c = g.Case(sql="DESCRIBE t", schema="struct<>", output="a\tint\t\nb\tstring\t")
    ok, msg = g.ddl_compare(c, [("a", "int", None), ("b", "bigint", None)])
    assert not ok and "b bigint" in msg


# --------------------------------------------- round-12 normalizer units
# Pure-function pins for the explain plan-render compare and the udf
# identity-wrapper — the traps found during triage, no Spark needed.


def test_wrap_udf_args_balanced_and_nested():
    """udf(X) -> udf(CAST(X AS STRING)) with balanced-paren spans:
    nested calls wrap inside-out, sibling calls wrap independently,
    and non-udf parens are untouched."""
    assert (
        g.wrap_udf_args("SELECT udf(count(*)) FROM t")
        == "SELECT udf(CAST(count(*) AS STRING)) FROM t"
    )
    assert (
        g.wrap_udf_args("SELECT udf(udf(b)) FROM t")
        == "SELECT udf(CAST(udf(CAST(b AS STRING)) AS STRING)) FROM t"
    )
    assert (
        g.wrap_udf_args("SELECT udf(a), max(b), udf(c + 1) FROM t")
        == "SELECT udf(CAST(a AS STRING)), max(b), "
        "udf(CAST(c + 1 AS STRING)) FROM t"
    )
    # word boundary: a function merely ENDING in 'udf' is not wrapped
    assert g.wrap_udf_args("SELECT myudf(a) FROM t") == "SELECT myudf(a) FROM t"
    assert g.wrap_udf_args("SELECT a FROM t") == "SELECT a FROM t"
    # parens inside QUOTED literals do not shift the argument span
    assert (
        g.wrap_udf_args("SELECT udf(concat(a, '(x')) FROM t")
        == "SELECT udf(CAST(concat(a, '(x') AS STRING)) FROM t"
    )
    assert (
        g.wrap_udf_args("SELECT udf(')') FROM t")
        == "SELECT udf(CAST(')' AS STRING)) FROM t"
    )
    # backslash-escaped quote INSIDE a literal must not end the quote
    # span (round-13 advice): the ')' after \' is still inside the
    # string, so the argument span stays balanced
    assert (
        g.wrap_udf_args(r"SELECT udf('a\')b') FROM t")
        == r"SELECT udf(CAST('a\')b' AS STRING)) FROM t"
    )
    # doubled-quote escape still nets out as close+reopen
    assert (
        g.wrap_udf_args("SELECT udf('a''(b') FROM t")
        == "SELECT udf(CAST('a''(b' AS STRING)) FROM t"
    )


def test_udf_string_relax_parses_by_golden_type():
    """String outputs parse with the golden column's type; columns the
    relaxation cannot reconcile (double vs bigint) leave the row
    untouched so the normal compare still fails loudly."""
    got, st, rx = g.udf_string_relax([("7", 1)], ["string", "int"], ["bigint", "int"])
    assert got == [(7, 1)] and st == ["bigint", "int"] and rx == [0]
    # unparseable string -> unchanged (real mismatch surfaces)
    got, st, rx = g.udf_string_relax([("4.0",)], ["string"], ["bigint"])
    assert got == [("4.0",)] and st == ["string"] and rx == []
    # non-string live type is never coerced
    got, st, rx = g.udf_string_relax([(4.0,)], ["double"], ["bigint"])
    assert got == [(4.0,)] and st == ["double"] and rx == []
    # arity mismatch -> untouched
    got, st, rx = g.udf_string_relax([("7",)], ["string"], ["bigint", "int"])
    assert got == [("7",)] and st == ["string"] and rx == []


def test_explain_normalize_masks():
    """The explain line masks: expression ids, plan ids, codegen ids,
    operator enumeration, catalog qualifier, subquery reuse marker,
    3.1's bigint widening render, and Location lines — while tree art
    and operator names survive."""
    lines = g._explain_normalize(
        "== Physical Plan ==\n"
        "* BroadcastHashJoin Inner BuildRight (8)\n"
        ":- * Filter (3)\n"
        "+- Scan parquet spark_catalog.default.t1 (1)\n"
        "Location: InMemoryFileIndex [file:/x/y/t1]\n"
        "Arguments: hashpartitioning(key#123, 4), ENSURE_REQUIREMENTS, [plan_id=77]\n"
        "Functions [1]: [partial_avg(cast(key#9 as bigint))]\n"
        "Condition : (key#5 = ReusedSubquery Subquery scalar-subquery#3, [id=#x])\n"
        "Join type: Inner\n"
        "(2) ColumnarToRow [codegen id : 4]\n"
    )
    assert lines == [
        "== Physical Plan ==",
        "* BroadcastHashJoin Inner BuildRight (x)",
        ":- * Filter (x)",
        "+- Scan parquet default.t1 (x)",
        "Location [masked]",
        "Arguments: hashpartitioning(key#x, 4), ENSURE_REQUIREMENTS, [id=#x]",
        "Functions [1]: [partial_avg(key#x)]",
        "Condition : (key#x = Subquery scalar-subquery#x, [id=#x])",
        "(x) ColumnarToRow [codegen id : x]",
    ]


def test_plan_skeleton_depth_and_kinds():
    """EXTENDED outputs reduce to the physical section's (depth, node
    kind) pairs — logical sections dropped, codegen stars and argument
    payloads stripped."""
    text = (
        "== Optimized Logical Plan ==\n"
        "Aggregate [sum(x#1)]\n"
        "== Physical Plan ==\n"
        "*(2) HashAggregate(keys=[], functions=[sum(x#1)])\n"
        "+- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=5]\n"
        "   +- *(1) ColumnarToRow\n"
        "      +- FileScan parquet default.t[x#1]\n"
    )
    assert g._plan_skeleton(text) == [
        (0, "HashAggregate"),
        (3, "Exchange"),
        (6, "ColumnarToRow"),
        (9, "FileScan"),
    ]
