"""The reference's verbatim SQL-text corpora vs DuckDB (plans/sqltext.py,
plans/sqltext_tpcds.py).

Every text of every corpus in ``CORPORA`` runs byte-identical through
``spark.sql`` over the compatibility catalog, and the IDENTICAL text
(plus the record's value-preserving oracle patches) through DuckDB
over the same view definitions, in two variants:

- verbatim: the untouched reference text (some are empty on the
  synthetic 1995-2001 data — both engines must agree exactly).
- fitted: literal parameters re-substituted into this dataset's
  domains; required to be NON-empty (except q22, which is
  structurally empty here: every synthetic customer has orders, so
  its NOT EXISTS branch can never hold — both engines agree).
  Fixed-name corpora run every text fitted; listed corpora only the
  texts that carry substitutions.

Compare policy: rows sorted, columns matched positionally (the texts
leave some aggregates unaliased, which the engines name differently,
and q14b/q64 project duplicate names), exact on non-numeric columns,
and tolerance 1e-6 (rel+abs) on numeric columns: the engines
legitimately differ in decimal division/average RESULT SCALE (Spark
rounds a decimal avg/ratio at scale >= 6, DuckDB computes it in
double), which is representation, not semantics.

Documented divergences (each pinned, not silently skipped):

- EMPTY_ROLLUP_DIVERGENT (full-corpus q14a/q27/q36 verbatim): over an
  EMPTY filtered input, DuckDB emits the SQL-standard grand-total row
  of a ROLLUP while Spark emits none.
- LIMIT_TIE (full-corpus q75 fitted): ORDER BY on a heavily-tied key
  + LIMIT truncates an engine-dependent row SET; row count and
  tie-key values are compared instead.
- TOL_OVERRIDE (full q18, v2.7.0 q18a): the texts average columns
  CAST to a LOWER decimal scale; on exact .005 boundaries Spark rounds
  HALF_UP while DuckDB rounds HALF_EVEN, so group averages differ by
  up to 0.01.

Without the reference checkout, ``tests/fixtures/sqltext`` (a tiny
hand-written corpus named after tranche entries) runs the same runner
end to end, and a subprocess registers the full registry over stub
texts.
"""

from __future__ import annotations

import dataclasses
import json
import os
import re
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
import pandas as pd
import pytest

from gazelle_plugin_spark.catalog import ALL_TABLES, table_path
from gazelle_plugin_spark.plans import sqltext as sx
from gazelle_plugin_spark.plans.sqltext_tpcds import (
    CORPORA,
    TPCDS_FULL,
    TPCDS_V27,
    tpcds_views,
)

from .compare import assert_same_pdf
from .conftest import SF_MED

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURES = os.path.join(REPO, "tests", "fixtures", "sqltext")

_EMPTY_OK = {(sx.TPCH.dir, "q22")}
EMPTY_ROLLUP_DIVERGENT = {(TPCDS_FULL.dir, n) for n in ("q14a", "q27", "q36")}
LIMIT_TIE = {(TPCDS_FULL.dir, "q75")}
TOL_OVERRIDE = {
    (TPCDS_FULL.dir, "q18"): {"rtol": 1e-6, "atol": 0.011},
    (TPCDS_V27.dir, "q18a"): {"rtol": 1e-6, "atol": 0.011},
}
#: the long sweeps, deselected by ``-m "not conformance"``
_CONFORMANCE = {TPCDS_FULL.dir, TPCDS_V27.dir}


def _variants(c: sx.Corpus) -> list[tuple[str, bool]]:
    fitted = c.names() if c.fixed_names is not None else sorted(c.fitted_subs)
    return [(n, False) for n in c.names()] + [(n, True) for n in fitted]


def _marks(c: sx.Corpus) -> list:
    marks = [pytest.mark.skipif(not c.available(), reason=f"reference {c.dir}/ absent")]
    if c.dir in _CONFORMANCE:
        marks.append(pytest.mark.conformance)
    return marks


def _sweep():
    for c in CORPORA:
        for n, fitted in _variants(c):
            key = (c.dir, n)
            if key in LIMIT_TIE or (key in EMPTY_ROLLUP_DIVERGENT and not fitted):
                continue
            label = "fitted" if fitted else "verbatim"
            yield pytest.param(c, n, fitted, marks=_marks(c), id=f"{c.dir}-{n}-{label}")


@pytest.fixture(scope="module")
def dsduck():
    """DuckDB session with Spark's null ordering (NULLS FIRST on ASC,
    LAST on DESC). TPC-DS texts like q27 do ``ORDER BY nullable LIMIT
    n`` — under DuckDB's default NULLS LAST the engines pick different
    top-n row SETS, which no post-hoc sort can reconcile. The setting
    is database-global, so it gets its own connection instead of
    mutating the shared ``duck`` fixture."""
    con = duckdb.connect()
    con.execute("SET default_null_order='nulls_first_on_asc_last_on_desc'")
    for name in ALL_TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{table_path(SF_MED, name)}')"
        )
    yield con
    con.close()


@pytest.fixture(scope="module")
def spark_pdf(spark):
    """``(corpus, name, fitted) -> pandas frame``: the Spark side,
    prewarmed concurrently once per view family (guide 2.6). The
    families' views shadow each other (customer, supplier, part), so
    each family registers once and runs in its own phase. A text's
    exception is cached and re-raised in its own test; frames are
    copied on the way out so no test can mutate the cache."""
    cache: dict[tuple[str, str, bool], object] = {}
    warmed: set = set()

    def run(case):
        c, n, fitted = case
        try:
            return sx.run(spark, SF_MED, c, n, fitted=fitted, register=False).toPandas()
        except Exception as ex:  # noqa: BLE001 - surfaced in the text's test
            return ex

    def get(corpus: sx.Corpus, name: str, fitted: bool) -> pd.DataFrame:
        if corpus.views not in warmed:
            warmed.add(corpus.views)
            sx.register_views(spark, SF_MED, corpus.views)
            cases = [
                (c, n, f)
                for c in CORPORA
                if c.views is corpus.views and c.available()
                for n, f in _variants(c)
            ]
            with ThreadPoolExecutor(max_workers=6) as pool:
                for (c, n, f), res in zip(cases, pool.map(run, cases)):
                    cache[(c.dir, n, f)] = res
        res = cache[(corpus.dir, name, fitted)]
        if isinstance(res, Exception):
            raise res
        return res.copy()

    return get


def _compare(corpus: sx.Corpus, name: str, s: pd.DataFrame, d: pd.DataFrame) -> int:
    label = f"{corpus.dir}/{name}"
    assert len(s) == len(d), f"{label}: rows {len(s)} vs {len(d)}"
    assert len(s.columns) == len(d.columns), label
    s.columns = d.columns = [f"c{i}" for i in range(len(s.columns))]
    for frame in (s, d):
        for c in frame.columns:
            if pd.api.types.is_datetime64_any_dtype(frame[c]):
                frame[c] = frame[c].astype("datetime64[us]")
    key = list(s.columns)
    s = s.sort_values(key, kind="mergesort").reset_index(drop=True)
    d = d.sort_values(key, kind="mergesort").reset_index(drop=True)
    tol = TOL_OVERRIDE.get((corpus.dir, name), {"rtol": 1e-6, "atol": 1e-6})
    for c in s.columns:
        if pd.api.types.is_numeric_dtype(s[c]) and pd.api.types.is_numeric_dtype(d[c]):
            a = s[c].astype(float).to_numpy()
            b = d[c].astype(float).to_numpy()
            both_nan = pd.isna(a) & pd.isna(b)
            assert bool(
                np.all(both_nan | np.isclose(a, b, **tol))
            ), f"{label}: numeric column {c!r} differs"
        else:
            assert s[c].equals(d[c]), f"{label}: column {c!r} differs"
    return len(s)


@pytest.mark.parametrize("corpus,name,fitted", _sweep())
def test_text(spark_pdf, request, corpus, name, fitted):
    s = spark_pdf(corpus, name, fitted)
    duck = request.getfixturevalue("dsduck" if corpus.views is tpcds_views else "duck")
    d = duck.sql(sx.oracle_sql(corpus, name, fitted)).df()
    rows = _compare(corpus, name, s, d)
    if fitted and (corpus.dir, name) not in _EMPTY_OK:
        assert rows > 0, f"{corpus.dir}/{name}: fitted substitution is vacuous"


@pytest.mark.parametrize(
    "name",
    [pytest.param(n, marks=_marks(TPCDS_FULL)) for _, n in sorted(EMPTY_ROLLUP_DIVERGENT)],
)
def test_empty_rollup_divergence_pinned(spark_pdf, dsduck, name):
    """Verbatim q14a/q27/q36 filter to an EMPTY input at this scale;
    DuckDB emits the SQL-standard grand-total ROLLUP row, Spark emits
    none. Pin the exact divergence so an engine behavior change (or a
    catalog change that un-empties the input) is caught, not hidden."""
    s = spark_pdf(TPCDS_FULL, name, False)
    d = dsduck.sql(sx.oracle_sql(TPCDS_FULL, name)).df()
    assert len(s) == 0, f"{name}: Spark input no longer empty — re-examine"
    assert len(d) == 1, f"{name}: DuckDB grand-total row behavior changed"


@pytest.mark.parametrize("name", [pytest.param("q75", marks=_marks(TPCDS_FULL))])
def test_limit_tie(spark_pdf, dsduck, name):
    """q75 orders by a heavily-tied delta and LIMITs: the top-100 SET
    is engine-dependent at the tie boundary. Compare the stable parts:
    row count and the sort key's multiset (ties swap rows, not key
    values)."""
    s = spark_pdf(TPCDS_FULL, name, True)
    d = dsduck.sql(sx.oracle_sql(TPCDS_FULL, name, True)).df()
    assert len(s) == len(d) > 0
    assert sorted(s.iloc[:, -2].astype(int)) == sorted(d.iloc[:, -2].astype(int))


@pytest.mark.parametrize("corpus", [pytest.param(c, marks=_marks(c), id=c.dir) for c in CORPORA])
def test_fitted_changes_only_literals(corpus):
    """The fitted variant must differ from the reference text ONLY in
    quoted literals / numbers — never in structure (keywords,
    identifiers, operators)."""

    def strip(t: str) -> list[str]:
        return re.split(r"'[^']*'|\b\d+(?:\.\d+)?\b", t)

    for name, fitted in _variants(corpus):
        if fitted:
            a, b = corpus.text(name), corpus.text(name, fitted=True)
            assert strip(a) == strip(b), f"{corpus.dir}/{name}: non-literal drift"


@pytest.mark.parametrize("corpus", [pytest.param(TPCDS_V27, marks=_marks(TPCDS_V27))])
def test_listed_corpus_is_complete(corpus):
    """All 32 vendored v2.7.0 files are listed, so all are swept."""
    assert len(corpus.names()) == 32, corpus.names()


def _fixture_cases():
    for c in CORPORA:
        fixture = dataclasses.replace(c, root=FIXTURES, fixed_names=None)
        for name, fitted in c.tranche:
            if name in fixture.names():
                yield pytest.param(fixture, name, fitted, id=f"{c.dir}-{name}")


@pytest.mark.parametrize("corpus,name,fitted", _fixture_cases())
def test_fixture_corpus_passes_driver_gate(spark, duck, corpus, name, fitted):
    """A hand-written text named after a tranche entry replays through
    the same runner and oracle as the reference corpus, and passes the
    driver's own compare (column names, dtypes, exact values) against
    a plain DuckDB session — so the fitted substitutions, dialect
    patches, null-order pins and output casts/renames the record
    declares for that name are exercised without the reference."""
    s = sx.run(spark, SF_MED, corpus, name, fitted=fitted).toPandas()
    assert len(s) > 0, f"{corpus.dir}/{name}: fixture is vacuous"
    assert_same_pdf(s, duck.sql(sx.oracle_sql(corpus, name, fitted)), name)


_REGISTRY_DUMP = """
import json
from gazelle_plugin_spark import plans as P
from gazelle_plugin_spark.plans.sqltext_tpcds import CORPORA
print(json.dumps({
    "names": list(P.all_queries()),
    "oracled": sorted(P.all_oracles()),
    "tranche": [c.qname(n) for c in CORPORA for n, _ in c.tranche],
    "window": list(P.DRIVER_WINDOW),
}))
"""


def _registry(ref_root: str) -> dict:
    env = {**os.environ, "SPARK_GRAFT_REF_SQL": ref_root}
    out = subprocess.run(
        [sys.executable, "-c", _REGISTRY_DUMP],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300, check=True,
    )
    return json.loads(out.stdout.splitlines()[-1])


def test_registry_with_every_corpus(tmp_path):
    """With a stub text for every name of every corpus, the registry is
    the full 270 names: 84 corpus-gated tranche rows (exactly the
    names that vanish without the corpus), each with an oracle, and the
    whole DRIVER_WINDOW registered at the head of the export."""
    for c in CORPORA:
        (tmp_path / c.dir).mkdir()
        for name in c.fixed_names or [n for n, _ in c.tranche]:
            (tmp_path / c.dir / f"{name}.sql").write_text("SELECT 1 AS x\n")
    full = _registry(str(tmp_path))
    bare = _registry(str(tmp_path / "absent"))
    gated = set(full["names"]) - set(bare["names"])
    assert len(full["names"]) == 270
    assert len(full["tranche"]) == len(gated) == 84
    assert gated == set(full["tranche"])
    assert gated <= set(full["oracled"])
    assert full["names"][: len(full["window"])] == full["window"]
