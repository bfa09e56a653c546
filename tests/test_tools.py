"""Pins for the measurement/report tooling (round-13 advice)."""

from __future__ import annotations

import importlib.util
import json
import os
import sys

_TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def _load(name: str):
    spec = importlib.util.spec_from_file_location(name, os.path.join(_TOOLS, f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_sf1_report_disjoint_sides(tmp_path, monkeypatch, capsys):
    """Two detail files sharing NO query names (one side errored
    wholesale) must still render the table and emit the flagged JSON
    line instead of dying on a zero-division in the geomean block."""
    a = tmp_path / "sf1.json"
    b = tmp_path / "sf01.json"
    a.write_text(json.dumps({"ratios": {"q1": 1.2}, "queries": {"q1": 3.0}}))
    b.write_text(json.dumps({"ratios": {"q6": 1.1}, "queries": {"q6": 0.5}}))
    monkeypatch.setattr(sys, "argv", ["sf1_report.py", str(a), str(b)])
    _load("sf1_report").main()
    out = capsys.readouterr().out
    assert '{"flagged": []}' in out
    assert "uncompared" in out


def test_sf1_report_flags_degraded(tmp_path, monkeypatch, capsys):
    a = tmp_path / "sf1.json"
    b = tmp_path / "sf01.json"
    a.write_text(json.dumps({"ratios": {"q1": 0.6}, "queries": {"q1": 3.0}}))
    b.write_text(json.dumps({"ratios": {"q1": 1.0}, "queries": {"q1": 0.5}}))
    monkeypatch.setattr(sys, "argv", ["sf1_report.py", str(a), str(b)])
    _load("sf1_report").main()
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


_R16 = os.path.join(
    os.path.dirname(_TOOLS), "measurements", "bench_detail_r16_sf01.json"
)


def _fake_bench(monkeypatch, tmp_path, capsys, *flags, detail="d.json", slower=None):
    """Drive bench.main() over the 96 queries of the committed r16
    sf0.1 side file with fake workers that answer that run's per-query
    medians and rep arrays, so no JVM starts. ``slower`` multiplies
    named engine medians. Returns (stdout, side file, worker kinds)."""
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
            return {"name": name, "sec": secs[self.kind][name], **reps}

        def recycle(self):
            pass

        def stop(self):
            pass

    path = tmp_path / detail
    monkeypatch.setattr(bench, "_WorkerHandle", FakeHandle)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_DETAIL", str(path))
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
    # r16's keys minus its two adjudication blocks and its summary
    assert set(detail) < set(r16) and len(set(r16) - set(detail)) == 3
    assert not any(k.startswith("adjudications") for k in detail)

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


def test_sf1_report_reads_bench_side_files(tmp_path, monkeypatch, capsys):
    """tools/sf1_report.py renders two bench.py side files: it reads
    their ``ratios`` and ``queries`` keys, so this pins that contract."""
    _, a, _ = _fake_bench(
        monkeypatch, tmp_path, capsys, detail="sf1.json", slower={"q1": 2.0}
    )
    _, b, _ = _fake_bench(monkeypatch, tmp_path, capsys, detail="sf01.json")
    monkeypatch.setattr(
        sys, "argv", ["sf1_report.py", str(tmp_path / "sf1.json"), str(tmp_path / "sf01.json")]
    )
    _load("sf1_report").main()
    out = capsys.readouterr().out
    rows = [r for r in out.splitlines() if r.startswith("| ") and not r.startswith("| query")]
    assert len(rows) == 96
    assert rows[0].startswith("| q1 |") and "DEGRADED" in rows[0]
    assert out.rstrip().endswith('{"flagged": ["q1"]}')
    assert "geomean over the 96 common queries" in out


def test_scale_bench_growth_report_refuses_vacuous():
    """The vacuity guard (round-14 verdict task 2): growth verdicts
    are refused — not computed — when any scale point's output was
    empty or predates the row-count schema; healthy series carry
    first->last growth factors."""
    sb = _load("scale_bench")

    def pt(docs, name_rows):
        return {
            "sf_dir": f"d{docs}",
            "docs": docs,
            "queries": {
                n: {"sec": docs / 1000, "shuffle_bytes": docs * 10, **extra}
                for n, extra in name_rows.items()
            },
        }

    lines = [
        pt(1000, {"ok_q": {"rows": 5}, "vac_q": {"rows": 7}, "old_q": {}}),
        pt(3000, {"ok_q": {"rows": 15}, "vac_q": {"rows": 0}, "old_q": {}}),
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
    rep = sb.growth_report(lines[:1])
    assert rep["ok_q"]["verdict"] == "refused: <2 scale points"
