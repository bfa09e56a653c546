"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Modes:
  python bench.py [names...]            compare (default): engine and
      vanilla Spark each in a persistent measurement subprocess,
      INTERLEAVED per query — engine median-of-R then vanilla
      median-of-R for the same query back-to-back, so sandbox load
      shifts hit both sides alike. R = $SPARK_GRAFT_BENCH_REPS
      (default 3, median) after one untimed warm-up execution on
      BOTH sides.
  python bench.py --no-compare [names...]  engine worker only
  python bench.py --vanilla [names...]     vanilla worker only
  python bench.py --worker[=kind]          internal: measurement
      subprocess; reads query names from stdin, answers one JSON line
      per name on stdout.
  python bench.py --report <detail.json> <detail.json> ...
      growth and ratio-drift table over side files of several scale
      points (see growth_report).

All three measuring modes time queries through the same worker path;
the one-side modes simply ask one worker. Each query's side-file
record also carries its result row count and its per-execution
shuffle write bytes/records (Spark's stage metrics, read through
gazelle_plugin_spark.profile). A scale point is one run:
SPARK_GRAFT_SF_DIR=<dir> python bench.py --no-compare <names>.

Crash isolation (round-4 lesson: one broken query zeroed the whole
artifact): every query runs under try/except; failures land in
"errors": {name: message} and the run continues. The JSON always
prints.

The headline set is TPC-H q1-q22, SSB flights 1-4 and the ds_ TPC-DS
patterns PLUS the LLM-pipeline operators (PIPELINE_BENCH), so the ops
whose 100 TB posture matters are measured, not argued. Other queries
run through the same harness when named explicitly.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time

import pyarrow.parquet as pq

#: LLM-pipeline representatives benched by default alongside TPC-H:
#: one per dedup family, both ANN paths, sessionization, as-of join.
PIPELINE_BENCH = [
    "doc_exact_dedup",
    "doc_minhash_neardup",
    "doc_ngram_jaccard",
    "doc_simhash_neardup",
    "emb_lsh_topk",
    "emb_ivf_search",
    "events_sessionize",
    "events_asof_join",
    "doc_curation_pipeline",
    "doc_neardup_components",
    "doc_chunks",
    "emb_pq",
    "doc_chunk_dedup",
    "doc_dup_ngram_coverage",
    "doc_pii_scrub",
    "doc_pack_sequences",
    "emb_semdedup",
    "events_scd2",
    "doc_cms_heavyhitters",
    "doc_bloom_contamination",
    "doc_incremental_dedup",
    "emb_ivfpq_search",
]

REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

#: Timed median (seconds) under which a query is short and extends
#: to SHORT_QUERY_REPS timed reps.
SHORT_QUERY_UNDER = 2.0

#: Queries whose timed median lands under SHORT_QUERY_UNDER extend to
#: this many timed reps (round-12 verdict task 2): the sub-2s class is
#: exactly where median-of-3 was repeatedly too noisy to judge from
#: the driver artifact (ds_dow_pivot 0.437, doc_incremental_dedup
#: 0.598 — both clean on manual re-bench), so short queries buy more
#: reps (cheap) and every rep is EMITTED, not just the median.
SHORT_QUERY_REPS = 5

#: Both workers are recycled to fresh JVMs every this many queries: in
#: a 90+-query session a single long-lived JVM accumulates
#: code-cache/GC aging that shows up as random 2-4x ONE-SIDED
#: per-query outliers (round-6/7 lesson: every full-set "regression"
#: vanished on a clean subset re-run).
RESPAWN_EVERY = 24

#: The stdout line must survive the driver's ~2000-char tail capture
#: (round-9 verdict item 1: every prior artifact had "parsed": null).
LINE_CAP = 1900


def _time_one(spark, fn, sf_dir: str, reps: int = REPS) -> dict:
    """One query's measurement: ``{"sec": median, "t": [timed reps],
    "w": untimed warm-up rep, "rows": result rows}`` — the per-rep
    data makes the artifact SELF-certifying (a weak median carries the
    rep class that caused it: first-plan codegen spike, one GC
    outlier, or uniform).

    An explicit (untimed) JVM GC ahead of the reps keeps heap debt
    from earlier queries out of this query's measurement — over an
    80+-query session, deferred collections otherwise land inside a
    random later query's reps and show up as a spurious 2-4x outlier
    on ONE side (both sides of the compare run this same path).

    The FIRST execution is always an untimed warm-up: it pays the
    query's own whole-stage-codegen compilation on both engines, ~3x
    the steady rep for sub-second queries, and a long query's first
    rep is still warming too (doc_minhash_neardup at sf0.1:
    6.40/3.54/3.01 s). `reps` timed reps follow, extended to
    SHORT_QUERY_REPS when their median is under SHORT_QUERY_UNDER.
    Symmetric: both workers time through this same function."""
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:  # noqa: BLE001 - a GC nudge is best-effort
        pass
    start = time.perf_counter()
    rows = len(fn(spark, sf_dir).collect())
    warm = round(time.perf_counter() - start, 4)
    times: list[float] = []
    target = reps
    while len(times) < target:
        start = time.perf_counter()
        rows = len(fn(spark, sf_dir).collect())
        times.append(time.perf_counter() - start)
        if (
            len(times) == target
            and target < SHORT_QUERY_REPS
            and statistics.median(times) < SHORT_QUERY_UNDER
        ):
            target = SHORT_QUERY_REPS
    return {
        "sec": round(statistics.median(times), 4),
        "t": [round(x, 4) for x in times],
        "w": warm,
        "rows": rows,
    }


def _warm(spark, queries, sf_dir) -> None:
    """Warm the JVM + parquet footer caches with the cheapest query."""
    try:
        queries["q6"](spark, sf_dir).collect()
    except Exception:
        pass


def _machine_state() -> dict:
    """Best-effort host-state snapshot recorded into the artifact so
    cross-round absolute-total swings stop needing manual explanation
    (round-12 verdict task 8): load average, live java process count
    (a concurrent pytest/driver-sim JVM corrupts ratios 3-8x), and
    host uptime."""
    m: dict = {}
    try:
        m["load1"] = round(os.getloadavg()[0], 2)
    except OSError:
        pass
    try:
        n = 0
        for p in os.listdir("/proc"):
            if p.isdigit():
                try:
                    with open(f"/proc/{p}/comm") as fh:
                        n += fh.read().strip() == "java"
                except OSError:
                    continue
        m["java_procs"] = n
    except OSError:
        pass
    try:
        with open("/proc/uptime") as fh:
            m["uptime_h"] = round(float(fh.read().split()[0]) / 3600, 1)
    except (OSError, ValueError):
        pass
    return m


#: Identical JVM heap on BOTH sides — the comparison must not hinge on
#: one side having more memory. 4g headroom stops the round-6 failure
#: mode (vanilla worker OOM'd mid-run at default 1g, taking the
#: remaining comparisons with it).
DRIVER_MEM = os.environ.get("SPARK_GRAFT_BENCH_MEM", "4g")

#: An 84-query session compiles thousands of generated classes; the
#: JVM's default 240 MB code cache fills mid-run and HotSpot silently
#: stops JIT-compiling — later queries then run partially interpreted
#: and show 2x+ one-sided "regressions" that vanish on a clean subset
#: run. Both sides get the same enlarged cache.
JVM_OPTS = "-XX:ReservedCodeCacheSize=512m"

CODEGEN_CACHE = "spark.sql.codegen.cache.maxEntries"  # static, in the engine profile


def _check_jvm_opts(spark, profile: dict[str, str] | None = None) -> None:
    """Warn if the enlarged code cache or the ``profile``'s class cache is not live.

    driver.extraJavaOptions and static confs only apply when this session
    launches the process's FIRST JVM; if another JVM already started
    in-process (e.g. the harness imported from pytest), they are silently
    ignored and the code-cache outlier problem returns undetected
    (ADVICE round 6). Verify against the live JVM, not just the conf."""
    try:
        beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        args = beans.getRuntimeMXBean().getInputArguments()
        live = any("ReservedCodeCacheSize=512m" in str(a) for a in args)
        cache = spark.conf.get(CODEGEN_CACHE)
    except Exception:  # noqa: BLE001 - introspection is best-effort
        return
    if not live:
        print("WARNING: ReservedCodeCacheSize=512m not live in this JVM; "
              "long-session timings may show code-cache outliers", file=sys.stderr)
    want = (profile or {}).get(CODEGEN_CACHE, cache)
    if cache != want:
        print(f"WARNING: {CODEGEN_CACHE}={cache} live, not the profile's {want}; "
              "warm reps may recompile generated classes", file=sys.stderr)


def _engine_session(cpus: str):
    from gazelle_plugin_spark import get_spark, session_confs

    spark = get_spark(
        app_name="gazelle-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_confs={
            "spark.driver.memory": DRIVER_MEM,
            "spark.driver.extraJavaOptions": JVM_OPTS,
        },
    )
    _check_jvm_opts(spark, session_confs())
    return spark


def _vanilla_session(cpus: str):
    """Stock Spark: no engine confs, default shuffle partitions (200),
    default ANSI/broadcast/AQE settings — the BASELINE.md comparator.
    (UTC timezone only, for result identity; same heap as the engine
    side, see DRIVER_MEM.)"""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("vanilla-bench")
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", DRIVER_MEM)
        .config("spark.driver.extraJavaOptions", JVM_OPTS)
        .getOrCreate()
    )
    _check_jvm_opts(spark)
    return spark


def _worker(cpus: str, sf_dir: str, kind: str) -> None:
    """Measurement subprocess (engine OR vanilla session): one query
    name per stdin line, one JSON answer per stdout line. Keeping the
    session alive across queries lets the parent interleave the two
    sides per query without paying ~10 s of JVM startup per
    measurement; the parent recycles workers periodically so neither
    side's timings ride a JVM aged by dozens of earlier queries."""
    from gazelle_plugin_spark import profile
    from gazelle_plugin_spark.plans import all_queries

    spark = _engine_session(cpus) if kind == "engine" else _vanilla_session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    _warm(spark, queries, sf_dir)
    print(json.dumps({"ready": True}), flush=True)
    seen: set = set()
    for line in sys.stdin:
        name = line.strip()
        if not name:
            continue
        try:
            # the warm-up's and any failed query's stages count for no query
            profile.new_stages(spark, seen)
            out = {"name": name, **_time_one(spark, queries[name], sf_dir)}
            # every execution runs the same plan: per-execution shuffle
            # is the stage total over all of them, warm-up included
            runs = len(out["t"]) + 1
            stages = profile.new_stages(spark, seen)
            for key in ("Bytes", "Records"):
                total = sum(s.get(f"shuffleWrite{key}", 0) for s in stages)
                out[f"shuffle_{key.lower()}"] = total // runs
        except Exception as exc:  # noqa: BLE001
            out = {"name": name, "err": f"{type(exc).__name__}: {exc}"[:500]}
        print(json.dumps(out), flush=True)
    spark.stop()


class _WorkerHandle:
    """Parent-side handle: spawn / ask / recycle one measurement
    worker, with a bounded crash-respawn budget shared per side."""

    MAX_RESPAWNS = 3

    def __init__(self, kind: str):
        import subprocess

        self._subprocess = subprocess
        self.kind = kind
        self.respawns = 0
        self.dead = False
        self.proc = None
        try:
            self.proc = self._spawn()
        except Exception:  # noqa: BLE001 - a side that cannot start
            self.dead = True

    def _spawn(self):
        p = self._subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), f"--worker={self.kind}"],
            stdin=self._subprocess.PIPE,
            stdout=self._subprocess.PIPE,
            stderr=self._subprocess.DEVNULL,
            text=True,
            env=os.environ,
        )
        try:
            ready = json.loads(p.stdout.readline())
            assert ready.get("ready"), f"{self.kind} worker failed: {ready}"
        except Exception:
            # never leak a half-started JVM: callers only mark the
            # side dead, so the orphan would keep its 4g heap and add
            # noise to every remaining measurement
            p.kill()
            raise
        return p

    def stop(self):
        if self.proc is None:
            return
        try:
            self.proc.stdin.close()
            self.proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - hung worker: kill
            self.proc.kill()
        self.proc = None

    def recycle(self):
        """Planned fresh-JVM swap (not charged to the crash budget)."""
        if self.dead:
            return
        self.stop()
        try:
            self.proc = self._spawn()
        except Exception:  # noqa: BLE001
            self.dead = True

    def ask(self, name: str) -> dict:
        """(sec|err) for one query; respawns once on a dead pipe."""
        if self.dead:
            return {"err": "worker died"}
        for _attempt in (1, 2):
            try:
                self.proc.stdin.write(name + "\n")
                self.proc.stdin.flush()
                return json.loads(self.proc.stdout.readline())
            except (BrokenPipeError, OSError, json.JSONDecodeError) as exc:
                err = f"worker died: {type(exc).__name__}"
                self.stop()
                if self.respawns >= self.MAX_RESPAWNS:
                    self.dead = True
                    return {"err": err}
                self.respawns += 1
                try:
                    self.proc = self._spawn()
                except Exception:  # noqa: BLE001
                    self.dead = True
                    return {"err": err}
        return {"err": err}


USAGE = """usage: python bench.py [--no-compare | --vanilla] [query ...]
       python bench.py --report <detail.json> <detail.json> ...

Runs the headline query set (TPC-H + SSB + ds_ patterns + the
LLM-pipeline ops) at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON result line. Default mode compares an engine
measurement subprocess against a vanilla-Spark one, interleaved per
query.

  --no-compare     engine worker only
  --vanilla        default-conf Spark worker only
  --worker[=kind]  internal measurement subprocess (engine|vanilla)
  --report         growth/drift table over side files of several scale
                   points (one run per point: SPARK_GRAFT_SF_DIR=<dir>)
  -h, --help       this message

Positional args name specific registered queries (e.g. q1 q6
doc_minhash_neardup); unknown flags are an error — a typo must not
silently launch a full default compare run (round-14 verdict task 4).
"""

KNOWN_FLAGS = {"--no-compare", "--vanilla", "--worker", "--report"}

#: A query whose engine/vanilla ratio at the largest scale point falls
#: below this share of its ratio at the smallest is flagged.
DEGRADED_DRIFT = 0.7


def growth_report(points: list[dict]) -> dict[str, dict]:
    """Per-query growth across bench.py side files of several scale
    points, smallest corpus (``docs``) first.

    A query's ``verdict`` is "ok", with first->last growth factors
    ``docs_x``/``wall_x``/``bytes_x``/``rows_x``, only when it ran at 2+
    points and every point counted a non-empty result. An empty output
    at any point is refused ("refused: vacuous-at <sf_dir>"): an empty
    candidate relation measures window machinery, not the operator
    (SCALE.md round-14 CORRECTION). So is a record without a row count
    ("refused: no-rowcount <sf_dir>"): it cannot prove it measured real
    work. Independently, where 2+ points carry an engine/vanilla ratio
    for the query, ``drift`` is last/first ratio, flagged under
    DEGRADED_DRIFT."""
    pts = sorted(points, key=lambda p: p.get("docs", 0))
    names = list(dict.fromkeys(n for p in pts for n in p.get("queries", {})))

    def x(a, b):
        return round(b / a, 2) if a and b is not None else None

    out: dict[str, dict] = {}
    for n in names:
        # (docs, sf_dir, median sec, the first side's per-query record)
        series = [
            (p.get("docs", 0), p.get("sf_dir", "?"), p["queries"][n],
             next(iter(p.get("rep_detail", {}).get(n, {}).values()), {}))
            for p in pts
            if n in p.get("queries", {})
        ]
        vacuous = [d for _, d, _, r in series if r.get("rows") == 0]
        no_count = [d for _, d, _, r in series if r.get("rows") is None]
        if len(series) < 2:
            e = {"verdict": "refused: <2 scale points"}
        elif vacuous:
            e = {"verdict": f"refused: vacuous-at {','.join(vacuous)}"}
        elif no_count:
            e = {"verdict": f"refused: no-rowcount {','.join(no_count)}"}
        else:
            (d0, _, s0, r0), (d1, _, s1, r1) = series[0], series[-1]
            e = {
                "verdict": "ok",
                "docs_x": x(d0, d1),
                "wall_x": x(s0, s1),
                "bytes_x": x(r0.get("shuffle_bytes"), r1.get("shuffle_bytes")),
                "rows_x": x(r0["rows"], r1["rows"]),
            }
        ratios = [p["ratios"][n] for p in pts if n in p.get("ratios", {})]
        if len(ratios) >= 2:
            drift = ratios[-1] / ratios[0]
            e.update(ratio_first=ratios[0], ratio_last=ratios[-1], drift=round(drift, 3))
            if drift < DEGRADED_DRIFT:
                e["flag"] = "DEGRADED>30%"
        out[n] = e
    return out


def report(paths: list[str]) -> None:
    """Print growth_report over the side files at ``paths`` as a markdown
    table (worst ratio drift first), the geomean ratios of the queries
    compared at both ends, and a last line ``{"flagged": [...]}``."""
    points = []
    for path in paths:
        with open(path) as fh:
            points.append(json.load(fh))
    rep = growth_report(points)
    cols = ("docs_x", "wall_x", "bytes_x", "rows_x", "ratio_first", "ratio_last", "drift", "flag")
    print("| query | verdict | " + " | ".join(cols) + " |")
    print("|---" * (len(cols) + 2) + "|")
    drifted = sorted((n for n in rep if "drift" in rep[n]), key=lambda n: rep[n]["drift"])
    for n in drifted + [n for n in rep if n not in drifted]:
        cells = ("" if rep[n].get(c) is None else str(rep[n][c]) for c in cols)
        print(f"| {n} | {rep[n]['verdict']} | " + " | ".join(cells) + " |")
    uncompared = sorted(set(rep) - set(drifted))
    if uncompared:
        print(f"\nuncompared (a ratio at fewer than 2 points): {' '.join(uncompared)}")
    if drifted:
        def gm(key):
            return math.exp(sum(math.log(rep[n][key]) for n in drifted) / len(drifted))

        print(f"\ngeomean over the {len(drifted)} common queries: "
              f"smallest {gm('ratio_first'):.4f} -> largest {gm('ratio_last'):.4f}")
    print(json.dumps({"flagged": [n for n in drifted if "flag" in rep[n]]}))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    args = sys.argv[1:]
    if "-h" in args or "--help" in args:
        print(USAGE, end="")
        return
    unknown = [
        a
        for a in args
        if a.startswith("-") and a.split("=", 1)[0] not in KNOWN_FLAGS
    ]
    if unknown:
        print(f"bench.py: unknown flag(s): {' '.join(unknown)}\n{USAGE}", file=sys.stderr, end="")
        sys.exit(2)
    if "--report" in args:
        report([a for a in args if a != "--report"])
        return
    for a in args:
        if a.startswith("--worker"):
            kind = a.split("=", 1)[1] if "=" in a else "vanilla"
            _worker(cpus, sf_dir, kind)
            return
    # reps of a one-side run land under that side's own label, so a
    # vanilla-only artifact never reads as "engine" in rep_detail
    # (round-13 advice)
    if "--vanilla" in args:
        kinds = ("vanilla",)
    elif "--no-compare" in args:
        kinds = ("engine",)
    else:
        kinds = ("engine", "vanilla")
    names = [a for a in args if not a.startswith("--")] or _default_names()

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    result = {
        "metric": "total_query_wall_time",
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "reps": REPS,
        "short_query_reps": SHORT_QUERY_REPS,
        "machine": _machine_state(),
        "sf_dir": sf_dir,
    }
    # corpus sizes order a growth report's scale points (footers only, no job)
    for key, table in (("docs", "documents"), ("vecs", "embeddings")):
        path = os.path.join(sf_dir, f"{table}.parquet")
        if os.path.exists(path):
            result[key] = pq.read_metadata(path).num_rows

    # Interleaved SYMMETRIC measurement: each side lives in its own
    # worker subprocess, asked back-to-back per query; crash respawns
    # are budgeted per side.
    workers = {k: _WorkerHandle(k) for k in kinds}
    secs: dict[str, dict[str, float]] = {k: {} for k in kinds}
    errs: dict[str, dict[str, str]] = {k: {} for k in kinds}
    reps: dict[str, dict[str, dict]] = {k: {} for k in kinds}
    for i, name in enumerate(names):
        if i and i % RESPAWN_EVERY == 0:
            for w in workers.values():
                w.recycle()
        for kind, w in workers.items():
            ans = w.ask(name)
            if "sec" in ans:
                secs[kind][name] = ans["sec"]
                reps[kind][name] = {k: v for k, v in ans.items() if k not in ("name", "sec")}
            else:
                errs[kind][name] = ans["err"]
    for w in workers.values():
        w.stop()
    respawns = sum(w.respawns for w in workers.values())
    if respawns:
        result["worker_respawns"] = respawns

    timings, errors = secs[kinds[0]], errs[kinds[0]]
    compare = len(kinds) == 2
    if compare:
        vtimings, verrors = secs["vanilla"], errs["vanilla"]
        # like-for-like totals: only queries BOTH sides completed
        both = [n for n in names if timings.get(n) and vtimings.get(n)]
        ratios = [vtimings[n] / timings[n] for n in both]
        result["compared_queries"] = len(both)
        result["engine_total_compared"] = round(sum(timings[n] for n in both), 4)
        result["vanilla_total"] = round(sum(vtimings[n] for n in both), 4)
        result["vanilla_queries"] = vtimings
        if verrors:
            result["vanilla_errors"] = verrors
        if ratios:
            result["geomean_speedup_vs_vanilla"] = round(
                math.exp(sum(map(math.log, ratios)) / len(ratios)), 4
            )

    result["value"] = round(sum(timings.values()), 4)
    result["queries"] = timings
    # full per-rep record (side file): every timed rep + the excluded
    # warm-up on both sides — the artifact itself shows WHICH rep
    # class (first-plan spike, single GC outlier, uniform shift)
    # produced any weak median, no manual re-bench needed
    result["rep_detail"] = {
        n: {k: reps[k][n] for k in kinds if n in reps[k]}
        for n in sorted(set().union(*reps.values()))
    }
    if errors:
        result["errors"] = errors
    if compare:
        # >1.0 = engine faster; best-first in the side file
        result["ratios"] = dict(
            sorted(
                ((n, round(vtimings[n] / timings[n], 3)) for n in both),
                key=lambda kv: kv[1],
                reverse=True,
            )
        )

    # Full-precision per-query detail goes to a SIDE file; stdout gets
    # ONE compact line of at most LINE_CAP chars.
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"),
    )
    try:
        with open(detail_path, "w") as fh:
            json.dump(result, fh, indent=1)
    except OSError:
        detail_path = None

    compact = {
        k: result[k]
        for k in (
            "metric",
            "unit",
            "sf",
            "reps",
            "value",
            "compared_queries",
            "engine_total_compared",
            "vanilla_total",
            "geomean_speedup_vs_vanilla",
            "worker_respawns",
            "short_query_reps",
            "machine",
        )
        if k in result
    }
    if detail_path:
        compact["detail_file"] = detail_path
    if errors:
        compact["errors"] = {n: e[:120] for n, e in errors.items()}
    if result.get("vanilla_errors"):
        compact["vanilla_errors"] = {
            n: e[:120] for n, e in result["vanilla_errors"].items()
        }

    slowest = sorted(timings, key=timings.get, reverse=True)
    rd = result.get("ratios", {})
    worst = sorted(rd, key=rd.get)

    def _line(n: int) -> str:
        """The compact line with the n slowest queries and, in compare
        mode, the n worst ratios."""
        c = dict(compact)
        if n < len(slowest):
            c["queries_truncated_to_slowest"] = n
        c["queries"] = {q: round(timings[q], 2) for q in slowest[:n]}
        if rd:
            c["ratios_worst_first"] = {q: rd[q] for q in worst[:n]}
        return json.dumps(c, separators=(",", ":"))

    # the largest n whose line fits the cap (line length grows with n)
    n = len(slowest)
    line = _line(n)
    while n and len(line) > LINE_CAP:
        n -= 1
        line = _line(n)
    print(line)


def _default_names() -> list[str]:
    """TPC-H q1-q22 + SSB 1.1-4.3 (BASELINE.md's promised sets) + the
    TPC-DS patterns (the reference's Decision Support Benchmark2
    analog) + the LLM-pipeline representatives."""
    from gazelle_plugin_spark.plans import all_queries

    queries = all_queries()
    return (
        sorted(n for n in queries if n.startswith("q"))
        + sorted(n for n in queries if n.startswith("ssb"))
        + sorted(n for n in queries if n.startswith("ds_"))
        + PIPELINE_BENCH
    )


if __name__ == "__main__":
    main()
