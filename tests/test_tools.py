"""Pins for bench.py's measurement and report paths, and for the
package's reachability from its entry points."""

from __future__ import annotations

import json
import os
import re
import sys

import pyarrow.parquet as pq

from tests.conftest import SF_MED

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _report(monkeypatch, *paths):
    """Run ``bench.py --report`` over ``paths``."""
    import bench

    monkeypatch.setattr(sys, "argv", ["bench.py", "--report", *map(str, paths)])
    bench.main()


def test_sf1_report_disjoint_sides(tmp_path, monkeypatch, capsys):
    """Two detail files sharing NO query names (one side errored
    wholesale) must still render the table and emit the flagged JSON
    line instead of dying on a zero-division in the geomean block."""
    a = tmp_path / "sf1.json"
    b = tmp_path / "sf01.json"
    a.write_text(json.dumps({"docs": 10, "ratios": {"q1": 1.2}, "queries": {"q1": 3.0}}))
    b.write_text(json.dumps({"docs": 1, "ratios": {"q6": 1.1}, "queries": {"q6": 0.5}}))
    _report(monkeypatch, a, b)
    out = capsys.readouterr().out
    assert '{"flagged": []}' in out
    assert "uncompared" in out


def test_sf1_report_flags_degraded(tmp_path, monkeypatch, capsys):
    a = tmp_path / "sf1.json"
    b = tmp_path / "sf01.json"
    a.write_text(json.dumps({"docs": 10, "ratios": {"q1": 0.6}, "queries": {"q1": 3.0}}))
    b.write_text(json.dumps({"docs": 1, "ratios": {"q1": 1.0}, "queries": {"q1": 0.5}}))
    _report(monkeypatch, a, b)
    out = capsys.readouterr().out
    assert '{"flagged": ["q1"]}' in out
    assert "geomean" in out


def test_bench_rejects_unknown_flags(monkeypatch, capsys):
    """A typo'd flag must not silently launch a full default compare
    run (round-14 verdict task 4): unknown --* exits 2 with usage;
    -h/--help prints usage and exits 0."""
    import pytest

    import bench

    monkeypatch.setattr(sys, "argv", ["bench.py", "--help"])
    bench.main()
    assert "usage:" in capsys.readouterr().out

    monkeypatch.setattr(sys, "argv", ["bench.py", "--helpp"])
    with pytest.raises(SystemExit) as exc:
        bench.main()
    assert exc.value.code == 2
    assert "unknown flag" in capsys.readouterr().err

    monkeypatch.setattr(sys, "argv", ["bench.py", "-x", "q1"])
    with pytest.raises(SystemExit) as exc:
        bench.main()
    assert exc.value.code == 2


def test_bench_warns_when_profile_class_cache_not_live(spark, capsys):
    """bench.py's JVM check reads the session's live class-cache size: it
    is silent when that matches the engine profile (the suite session
    starts the JVM with the profile) and names both values otherwise."""
    import bench
    from gazelle_plugin_spark import session_confs

    bench._check_jvm_opts(spark, session_confs())
    assert capsys.readouterr().err == ""
    bench._check_jvm_opts(spark, {bench.CODEGEN_CACHE: "100"})
    err = capsys.readouterr().err
    assert f"{bench.CODEGEN_CACHE}=4096 live, not the profile's 100" in err


_R16 = os.path.join(_ROOT, "measurements", "bench_detail_r16_sf01.json")


def _fake_record(name: str) -> dict:
    """The rows/shuffle figures a fake worker answers for ``name``."""
    n = len(name)
    return {"rows": n, "shuffle_bytes": 1000 * n, "shuffle_records": 10 * n}


def _fake_bench(monkeypatch, tmp_path, capsys, *flags, detail="d.json", slower=None, sf_dir=SF_MED):
    """Drive bench.main() at ``sf_dir`` over the 96 queries of the
    committed r16 sf0.1 side file with fake workers that answer that
    run's per-query medians and rep arrays, plus _fake_record's rows
    and shuffle figures, so no JVM starts. ``slower`` multiplies named
    engine medians. Returns (stdout, side file, worker kinds)."""
    import bench

    r16 = json.load(open(_R16))
    secs = {"engine": dict(r16["queries"]), "vanilla": r16["vanilla_queries"]}
    for name, factor in (slower or {}).items():
        secs["engine"][name] *= factor
    kinds = []

    class FakeHandle:
        respawns = 0

        def __init__(self, kind):
            self.kind = kind
            kinds.append(kind)

        def ask(self, name):
            reps = r16["rep_detail"][name][self.kind]
            return {"name": name, "sec": secs[self.kind][name], **reps, **_fake_record(name)}

        def recycle(self):
            pass

        def stop(self):
            pass

    path = tmp_path / detail
    monkeypatch.setattr(bench, "_WorkerHandle", FakeHandle)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_DETAIL", str(path))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setattr(sys, "argv", ["bench.py", *flags, *sorted(r16["queries"])])
    bench.main()
    return capsys.readouterr().out, json.load(open(path)), kinds


def test_bench_compare_line_from_fake_workers(tmp_path, monkeypatch, capsys):
    """Compare mode: the side file carries every query and ratio and
    every key it had in r16 except the removed adjudication/summary
    blocks; stdout is ONE line within the cap that keeps the contract
    keys plus the N slowest queries and N worst ratios for the largest
    N that fits (r16's five-level trim kept only 12)."""
    import pytest

    import bench

    r16 = json.load(open(_R16))
    names = set(r16["queries"])
    assert len(names) == 96
    out, detail, kinds = _fake_bench(monkeypatch, tmp_path, capsys)
    assert kinds == ["engine", "vanilla"]
    assert set(detail["queries"]) == names and set(detail["ratios"]) == names
    assert detail["ratios"] == r16["ratios"]
    assert detail["geomean_speedup_vs_vanilla"] == pytest.approx(
        r16["geomean_speedup_vs_vanilla"], abs=1e-4
    )
    # r16's keys minus its two adjudication blocks and its summary,
    # plus the scale point: its dir and corpus sizes from parquet footers
    assert set(detail) - set(r16) == {"sf_dir", "docs", "vecs"}
    assert len(set(r16) - set(detail)) == 3
    assert not any(k.startswith("adjudications") for k in detail)
    assert detail["sf_dir"] == SF_MED
    assert detail["docs"] == pq.read_metadata(f"{SF_MED}/documents.parquet").num_rows
    assert detail["vecs"] == pq.read_metadata(f"{SF_MED}/embeddings.parquet").num_rows
    # each side's per-query record is the worker's answer minus name and median
    for n, sides in detail["rep_detail"].items():
        for kind in kinds:
            assert sides[kind] == {**r16["rep_detail"][n][kind], **_fake_record(n)}

    lines = out.splitlines()
    assert len(lines) == 1 and len(lines[0]) <= bench.LINE_CAP
    line = json.loads(lines[0])
    for key in ("metric", "unit", "sf", "value", "queries", "geomean_speedup_vs_vanilla"):
        assert key in line, key
    n = len(line["queries"])
    assert n >= 35 and len(line["ratios_worst_first"]) == n
    assert line["queries_truncated_to_slowest"] == n
    secs, ratios = detail["queries"], detail["ratios"]
    kept = set(line["queries"])
    assert min(secs[q] for q in kept) >= max(secs[q] for q in names - kept)
    kept_r = list(line["ratios_worst_first"])
    assert [ratios[q] for q in kept_r] == sorted(ratios.values())[:n]


def test_bench_one_side_modes_ask_only_their_worker(tmp_path, monkeypatch, capsys):
    """--no-compare and --vanilla go through the same worker path and
    start only their own side; a vanilla-only run labels its reps
    "vanilla" in rep_detail (round-13 advice), and neither emits a
    geomean or ratios."""
    r16 = json.load(open(_R16))
    for flag, kind, medians in (
        ("--no-compare", "engine", r16["queries"]),
        ("--vanilla", "vanilla", r16["vanilla_queries"]),
    ):
        out, detail, kinds = _fake_bench(monkeypatch, tmp_path, capsys, flag)
        assert kinds == [kind]
        assert detail["queries"] == medians
        assert all(list(d) == [kind] for d in detail["rep_detail"].values())
        assert len(detail["rep_detail"]) == 96
        line = json.loads(out)
        assert "geomean_speedup_vs_vanilla" not in line
        assert "ratios_worst_first" not in line and "ratios" not in detail


def test_bench_first_execution_is_always_warm_up(monkeypatch):
    """A first execution of 2 s or more is still a warm-up: it is
    reported as ``w`` and kept out of the median (doc_minhash_neardup's
    sf0.1 reps were 6.40/3.54/3.01 s, and the median was the second)."""
    import bench

    clock = [0.0]
    durations = iter([6.40, 3.54, 3.01, 3.20])

    class FakeQuery:
        def collect(self):
            clock[0] += next(durations)
            return [(1,), (2,)]

    monkeypatch.setattr(bench.time, "perf_counter", lambda: clock[0])
    out = bench._time_one(object(), lambda spark, sf_dir: FakeQuery(), SF_MED, reps=3)
    assert out["w"] == 6.40
    assert out["t"] == [3.54, 3.01, 3.20]
    assert (out["sec"], out["rows"]) == (3.20, 2)


def test_sf1_report_reads_bench_side_files(tmp_path, monkeypatch, capsys):
    """``bench.py --report`` renders bench.py side files of two scale
    points: it orders them by their ``docs`` and reads their
    ``queries``, ``ratios`` and per-query records, so this pins that
    contract."""
    larger = os.path.join(os.path.dirname(SF_MED), "sf0.1")  # 10x SF_MED's documents
    _, a, _ = _fake_bench(
        monkeypatch, tmp_path, capsys, detail="sf1.json", slower={"q1": 2.0}, sf_dir=larger
    )
    _, b, _ = _fake_bench(monkeypatch, tmp_path, capsys, detail="sf01.json")
    _report(monkeypatch, tmp_path / "sf1.json", tmp_path / "sf01.json")
    out = capsys.readouterr().out
    rows = [r for r in out.splitlines() if r.startswith("| ") and not r.startswith("| query")]
    assert len(rows) == 96
    assert rows[0].startswith("| q1 |") and "DEGRADED" in rows[0]
    assert out.rstrip().endswith('{"flagged": ["q1"]}')
    assert "geomean over the 96 common queries" in out
    # fake records are non-empty at both points: every query gets a verdict
    assert all("| ok |" in r for r in rows)


def test_scale_bench_growth_report_refuses_vacuous():
    """The vacuity guard (round-14 verdict task 2): growth verdicts
    are refused — not computed — when any scale point's output was
    empty or predates the row-count schema; healthy series carry
    first->last growth factors."""
    import bench as sb

    def pt(docs, name_rows):
        return {
            "sf_dir": f"d{docs}",
            "docs": docs,
            "queries": {n: docs / 1000 for n in name_rows},
            "rep_detail": {
                n: {"engine": {"shuffle_bytes": docs * 10, **extra}}
                for n, extra in name_rows.items()
            },
        }

    lines = [
        pt(3000, {"ok_q": {"rows": 15}, "vac_q": {"rows": 0}, "old_q": {}}),
        pt(1000, {"ok_q": {"rows": 5}, "vac_q": {"rows": 7}, "old_q": {}}),
    ]
    rep = sb.growth_report(lines)
    assert rep["ok_q"]["verdict"] == "ok"
    assert rep["ok_q"]["docs_x"] == 3.0
    assert rep["ok_q"]["bytes_x"] == 3.0
    assert rep["ok_q"]["rows_x"] == 3.0
    # empty output at ANY point -> refused, naming the dir
    assert rep["vac_q"]["verdict"] == "refused: vacuous-at d3000"
    # pre-guard rows can't prove non-vacuity -> refused as well
    assert rep["old_q"]["verdict"].startswith("refused: no-rowcount")
    # a single scale point is never a growth verdict
    rep = sb.growth_report(lines[1:])
    assert rep["ok_q"]["verdict"] == "refused: <2 scale points"


def test_profile_new_stages_reads_each_stage_once(spark):
    """The one stage reader: a shuffling query's new stages report shuffle
    write bytes, and a second call with the same ``seen`` finds nothing new."""
    from gazelle_plugin_spark import profile

    seen: set = set()
    profile.new_stages(spark, seen)
    spark.range(0, 10_000).selectExpr("id % 7 as k").groupBy("k").count().collect()
    stages = profile.new_stages(spark, seen)
    assert sum(s.get("shuffleWriteBytes", 0) for s in stages) > 0
    assert profile.new_stages(spark, seen) == []


#: Package modules no entry point imports, each with its reason.
_UNREACHED_ALLOWED = {
    "gazelle_plugin_spark.plans.sqlgolden": "test harness: replays the sql-tests goldens",
    "gazelle_plugin_spark.plans.stability": "test harness: regenerates tests/plan_goldens.json",
}


def _py_files(*rel_globs):
    import glob

    return sorted(
        p for g in rel_globs for p in glob.glob(os.path.join(_ROOT, g), recursive=True)
    )


def _module_name(path):
    rel = os.path.relpath(path, _ROOT)[: -len(".py")].split(os.sep)
    return ".".join(rel[:-1] if rel[-1] == "__init__" else rel)


def test_every_package_module_and_public_def_is_reached():
    """Regrowth tripwire, ast only: follow imports (function-local ones
    too) from bench.py, __spark_entry__.py, perfbench/*.py and tools/*.py
    through the package. Every package module must be reached, and every
    public top-level def or class of a reached module must be named
    somewhere outside tests/ besides its own definition: as an
    identifier, an attribute, an import, or a word in a string that is
    not a docstring (the registry names builders by string)."""
    import ast

    package = {_module_name(p): p for p in _py_files("gazelle_plugin_spark/**/*.py")}
    entries = _py_files("bench.py", "__spark_entry__.py", "perfbench/*.py", "tools/*.py")
    trees = {p: ast.parse(open(p).read(), p) for p in [*package.values(), *entries]}

    def imported(path):
        for node in ast.walk(trees[path]):
            if isinstance(node, ast.Import):
                yield from (a.name for a in node.names)
            elif isinstance(node, ast.ImportFrom):
                assert not node.level, f"{path}: relative import; the walk reads absolute ones"
                yield node.module
                yield from (f"{node.module}.{a.name}" for a in node.names)

    reached: set[str] = set()
    todo = list(entries)
    while todo:
        for name in imported(todo.pop()):
            parts = name.split(".")
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in package and mod not in reached:
                    reached.add(mod)
                    todo.append(package[mod])

    named: set[str] = set()
    for tree in trees.values():
        docstrings = {
            id(node.body[0].value)
            for node in ast.walk(tree)
            if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef))
            and ast.get_docstring(node, clean=False) is not None
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                named.add(node.id)
            elif isinstance(node, ast.Attribute):
                named.add(node.attr)
            elif isinstance(node, ast.alias):
                named.update(node.name.split("."))
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in docstrings
            ):
                named.update(re.findall(r"\w+", node.value))
    unnamed = [
        f"{mod}.{node.name}"
        for mod in sorted(reached)
        for node in trees[package[mod]].body
        if isinstance(node, (ast.FunctionDef, ast.ClassDef))
        and not node.name.startswith("_")
        and node.name not in named
    ]
    unreached = sorted(set(package) - reached - set(_UNREACHED_ALLOWED))
    stale = sorted(set(_UNREACHED_ALLOWED) - (set(package) - reached))
    assert not unreached + unnamed + stale, (
        f"package modules no entry point imports: {unreached}; "
        f"public defs named only in tests: {unnamed}; "
        f"allowlisted modules that are reached or gone: {stale}"
    )
