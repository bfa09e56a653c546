"""The engine's benchmark: one client, a closed loop of operations.

    python3 perfbench/run.py --workload star_queries --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The benchmark generates its input
tables once under ``.bench_build/perfbench/`` (sf0.1, with the repo's
fixture generators in ``tools/``), starts one Spark session on
``local[<cores>]`` through ``gazelle_plugin_spark.get_spark``, loads the
tables with ``catalog.load_tables`` and runs the workload's operations
pass after pass. The seed permutes the operation order of every pass
and picks lake_etl's predicate constants. Every result is checked.
Between operations, a fixed piece of pure-Python work (the probe)
measures the host's speed, and timings are scaled by it.

The last line of standard output is the result as JSON; the line before
it is a report with the machine state, the host's speed, the failures,
the wall-time figures and the tail's percentile. See README.md for the
metrics.
"""

from __future__ import annotations

import time

T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

import fingerprint  # noqa: E402
from spans import Procs, Tracer, python_workers  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DATA_NAME = "perfbench-sf0.1"
SCALE = 0.1

STAR_FULL = tuple(f"q{i}" for i in range(1, 23)) + tuple(
    f"ssb{f}_{q}" for f, n in ((1, 3), (2, 3), (3, 4), (4, 3)) for q in range(1, n + 1))

WORKLOADS = {
    # TPC-H and SSB builders: joins, aggregates and exchanges, no Python;
    # a subset of star_full chosen to keep its layer split (README.md)
    "star_queries": ("q7", "q18", "q22", "ssb1_2", "ssb4_1"),
    # all 35 TPC-H q1-q22 and SSB 1.1-4.3 builders; about 48 s a pass
    "star_full": STAR_FULL,
    # a cogroup pandas kernel (FlatMapCoGroupsInPandas) and the
    # iterative connected-components loop of operators.graph
    "llm_pipeline": ("emb_pq", "doc_neardup_components"),
    # writes and pruned read-backs through the sources layer
    "lake_etl": (),
}

#: counted passes a run makes at least, however short --seconds is; the
#: timing metrics are medians over them
MIN_COUNTED_PASSES = 3

#: no pass starts this many seconds after process start, once the
#: MIN_COUNTED_PASSES are done, however long --seconds is
CAP_S = 75

#: end-to-end metrics of the result line (declared in BENCHMARK.json)
END_TO_END_UNITS = {"setup_s": "s", "run_cpu_s": "s"}

#: end-to-end figures printed only in the report line: wall-time figures,
#: which stolen CPU time inflates far more than the share stolen, a tail
#: that is no tail at this run length, peak memory, which jumps with the
#: JVM's heap sizing, and figures that read 0 on some workloads
REPORT_UNITS = {"run_s": "s", "ops_per_min": "1/min", "op_p50_s": "s", "op_tail_s": "s",
                "peak_rss_mb": "MiB", "failed_frac": "ratio", "stored_bytes_ratio": "ratio"}

#: per-pass counters of a traced pass, with units
PASS_COUNTERS = {
    "plans.build_s": "s", "plans.build_jobs": "count",
    "exec.collect_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "spark.driver_gap_s": "s",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "exchange.shuffle_write_bytes": "bytes", "exchange.shuffle_read_bytes": "bytes",
    "exchange.spill_bytes": "bytes", "python.worker_cpu_s": "s",
    "python.boundary_nodes": "count", "plan.c2r_nodes": "count",
    "jvm.cpu_s": "s", "driver.cpu_s": "s",
    "sources.write_s": "s", "sources.read_s": "s",
    "sources.bytes_written": "bytes", "sources.files_written": "count",
    "scan.input_bytes": "bytes", "sources.stored_bytes_ratio": "ratio",
}

PER_LAYER_UNITS = {
    "session.get_spark_s": "s", "catalog.load_tables_s": "s", "catalog.load_jobs": "count",
    **PASS_COUNTERS,
    "trace.run_s": "s", "trace.overhead_s": "s",
}


def prepare() -> str:
    """Check the checkout, set the process environment, and make sure
    the input tables exist; return their directory."""
    missing = [d for d in ("gazelle_plugin_spark", "tools") if not os.path.isdir(os.path.join(ROOT, d))]
    if missing:
        raise SystemExit(f"perfbench: run from a full checkout; missing {missing} under {ROOT}")
    os.environ["TZ"] = "UTC"
    time.tzset()
    # Python workers import the package by module reference, so they
    # need the checkout on their path too (the package ships no
    # pyFiles); the JVM passes this variable on to them.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    data_dir = os.path.join(BUILD, "data", DATA_NAME)
    if not os.path.exists(os.path.join(data_dir, "_SUCCESS")):
        _generate(data_dir)
        # start over in a fresh process image, so that neither set-up
        # time nor this process's peak memory includes the generation
        sys.stdout.flush()
        sys.stderr.flush()
        os.execv(sys.executable, [sys.executable] + sys.argv)
    return data_dir


def _generate(data_dir: str) -> None:
    import importlib.util

    tmp = f"{data_dir}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    for name in ("scale_star_fixtures", "scale_fixtures"):
        spec = importlib.util.spec_from_file_location(name, os.path.join(ROOT, "tools", f"{name}.py"))
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        mod.generate(tmp, SCALE)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(data_dir, ignore_errors=True)
    os.replace(tmp, data_dir)


def tmp_dirs() -> dict[str, str]:
    """A fresh scratch tree for this run: Spark local dirs, the SQL
    warehouse, temp files and lake_etl's output."""
    tmp = os.path.join(BUILD, "tmp")
    for name in os.listdir(tmp) if os.path.isdir(tmp) else []:
        # scratch trees of runs that were killed before their clean-up
        if not os.path.exists(f"/proc/{name.rsplit('-', 1)[-1]}"):
            shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)
    run = os.path.join(tmp, f"run-{os.getpid()}")
    dirs = {k: os.path.join(run, k) for k in ("local", "warehouse", "tmp", "lake")}
    for d in dirs.values():
        os.makedirs(d)
    dirs["run"] = run
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    return dirs


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(dirs: dict[str, str]):
    from gazelle_plugin_spark import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc()}]",
        extra_confs={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": (
                f"-XX:ReservedCodeCacheSize=512m -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
                f"-Djava.io.tmpdir={dirs['tmp']}"),
            "spark.sql.warehouse.dir": dirs["warehouse"],
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and the JVM, and wait until both have ended."""
    gateway = spark.sparkContext._gateway
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    workers = python_workers(jvm_pid)
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    deadline = time.time() + 10
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)


def machine_state() -> dict:
    jvms = 0
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/comm") as fh:
                    jvms += fh.read().strip() == "java"
            except OSError:
                continue
    return {"nproc": nproc(), "load1": round(os.getloadavg()[0], 2), "live_jvms": jvms}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot. Steal is time
    the hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


#: iterations of one probe unit, a fixed piece of pure-Python work
PROBE_ITERS = 50_000

#: CPU seconds one probe unit takes on the reference host: a fixed value
#: near the run medians on the 4-core VM the figures in README.md come from
PROBE_REF_S = 0.0042


def probe(units: list[float], n: int = 3) -> None:
    """Time ``n`` probe units and append their seconds to ``units``.
    Called while the engine is idle, between operations, so that it
    measures how fast the host runs this process right now."""
    for _ in range(n):
        t = time.thread_time()
        x = 0
        for j in range(PROBE_ITERS):
            x += j * j
        units.append(time.thread_time() - t)


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it, or the maximum when there are ten or fewer."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, n
    return xs[n - 11], round(100.0 * (n - 10) / n, 1), n


class Bench:
    def __init__(self, args, data_dir: str, dirs: dict[str, str]):
        import lake

        self.args = args
        self.data_dir = data_dir
        self.dirs = dirs
        self.rng = random.Random(args.seed)
        self.tracer = Tracer() if args.trace else None
        self.store = fingerprint.load()
        self.duck = None  # DuckDB over the source tables, for lake_etl's checks
        self.attempted = 0
        self.failures: list[dict] = []
        self.setup_rec: dict = {}
        self.passes: list[dict] = []
        self.lake = lake if args.workload == "lake_etl" else None
        self.units: list[float] = []  # probe unit times over the run
        self.run_span = None

    # -- set-up ---------------------------------------------------------

    def setup(self) -> None:
        """Build the session, load the tables and warm up with one cold
        pass of the workload's operations; timed from process start."""
        from gazelle_plugin_spark.catalog import load_tables
        from gazelle_plugin_spark.plans import all_queries

        probe(self.units)
        a = time.time()
        self.spark = spark = start_session(self.dirs)
        self.jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        b = time.time()
        sc = spark.sparkContext
        sc.setJobGroup("setup:load", "load_tables")
        self.tables = load_tables(spark, self.data_dir)
        c = time.time()
        probe(self.units)
        self.queries = all_queries()
        if self.tracer:
            self.tracer.bind(spark)
        self.run_pass(0, traced=False)
        # the warm-up's own wall time: its result checks are left out
        d = c + self.passes[0]["wall"]
        self.setup_rec = {"setup_s": d - T0, "session.get_spark_s": b - a,
                          "catalog.load_tables_s": c - b, "warmup_s": d - c}
        if self.tracer:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            self.setup_rec["catalog.load_jobs"] = len(sc.statusTracker().getJobIdsForGroup("setup:load"))
            sid = self.tracer.span("setup", "setup", T0, d, self.run_span)
            self.tracer.span("get_spark", "session", a, b, sid)
            self.tracer.span("load_tables", "catalog", b, c, sid)
            self.tracer.span("warm-up pass", "pass", c, d, sid)

    # -- operations -----------------------------------------------------

    def _fail(self, k: int, op: str, why: str) -> None:
        self.failures.append({"pass": k, "op": op, "error": why[:300]})

    def run_query(self, k, name, build, want, layer, counters, calls):
        """Build a DataFrame with ``build()``, collect it, and compare its
        fingerprint with ``want``. ``layer`` is "plans" for a registered
        builder and "sources" for a lake_etl read-back.
        Returns (ok, op seconds, check seconds)."""
        sc = self.spark.sparkContext
        group = f"p{k}:{name}"
        self.attempted += 1
        t0 = time.time()
        try:
            sc.setJobGroup(f"{group}:build", name)
            df = build()
            t1 = time.time()
            sc.setJobGroup(f"{group}:collect", name)
            rows = df.collect()
            t2 = time.time()
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, the run goes on
            self._fail(k, name, f"{type(exc).__name__}: {exc}")
            return False, time.time() - t0, 0.0
        got = fingerprint.fingerprint(df.columns, rows)
        ok = got == want
        if not ok:
            self._fail(k, name, f"fingerprint {got} != expected {want}")
        check_s = time.time() - t2
        if layer == "plans":
            counters["plans.build_s"] += t1 - t0
        else:
            counters["sources.read_s"] += t2 - t0
        counters["exec.collect_s"] += t2 - t1
        calls.append((name, t0, t2, [("build", layer, f"{group}:build", t0, t1),
                                     ("collect", "exec", f"{group}:collect", t1, t2)]))
        return ok, t2 - t0, check_s

    def run_write(self, k, w, out, counters, calls):
        sc = self.spark.sparkContext
        self.attempted += 1
        t0 = time.time()
        try:
            sc.setJobGroup(f"p{k}:{w.name}", w.name)
            paths = w.fn(self.spark, self.tables, out, self.dirs["warehouse"])
            t1 = time.time()
        except Exception as exc:  # noqa: BLE001
            self._fail(k, w.name, f"{type(exc).__name__}: {exc}")
            return False, time.time() - t0, 0.0
        files, size = self.lake.disk_usage(paths)
        check_s = time.time() - t1
        counters["sources.write_s"] += t1 - t0
        counters["sources.bytes_written"] += size
        counters["sources.files_written"] += files
        counters["source_bytes"] += os.path.getsize(
            os.path.join(self.data_dir, f"{w.source}.parquet"))
        ok = files > 0
        if not ok:
            self._fail(k, w.name, "no data files written")
        calls.append((w.name, t0, t1, [("write", "sources", f"p{k}:{w.name}", t0, t1)]))
        return ok, t1 - t0, check_s

    # -- passes ---------------------------------------------------------

    def run_pass(self, k: int, traced: bool) -> None:
        lake = self.lake
        counters: dict[str, float] = defaultdict(float)
        calls: list[tuple] = []  # (op, start, end, [(span, kind, job group, start, end)])
        lat: list[tuple[str, float]] = []
        ok_ops = 0
        check_s = 0.0
        procs = Procs(self.jvm_pid)
        if lake:
            out = os.path.join(self.dirs["lake"], f"p{k}")
            consts = lake.constants(self.rng)
            writes = self.rng.sample(lake.WRITES, len(lake.WRITES))
            reads = self.rng.sample(lake.READS, len(lake.READS))
            wants = {r.name: self._source_fingerprint(r.oracle(consts)) for r in reads}
        else:
            names = WORKLOADS[self.args.workload]
            order = self.rng.sample(names, len(names))
        cpu0 = procs.cpu()
        steal0, total0 = cpu_ticks()
        start = time.time()
        if lake:
            steps = [(w.name, lambda w=w: self.run_write(k, w, out, counters, calls))
                     for w in writes]
            steps += [(r.name, lambda r=r: self.run_query(
                k, r.name, lambda: r.fn(self.spark, out, consts), wants[r.name], "sources",
                counters, calls)) for r in reads]
        else:
            steps = [(n, lambda n=n: self.run_query(
                k, n, lambda: self.queries[n](self.spark, self.data_dir),
                self.store["ops"][n]["fingerprint"], "plans", counters, calls)) for n in order]
        for name, step in steps:
            ok, op_s, chk = step()
            p0 = time.time()
            probe(self.units)
            check_s += chk + time.time() - p0
            lat.append((name, op_s))
            ok_ops += ok
        end = time.time()
        cpu1 = procs.cpu()
        steal1, total1 = cpu_ticks()
        wall = end - start - check_s
        cpu = {k: cpu1[k] - cpu0[k] for k in cpu0}
        steal = (steal1 - steal0) / max(1, total1 - total0)
        split = {}
        if traced:
            counters.update(cpu)
            split = self.trace_pass(k, start, end, calls, counters)
        if lake:
            src = counters.pop("source_bytes")
            counters["sources.stored_bytes_ratio"] = counters["sources.bytes_written"] / src
            shutil.rmtree(out, ignore_errors=True)
        self.passes.append({"k": k, "traced": traced, "wall": wall, "steal": steal,
                            "cpu": sum(cpu.values()),
                            "lat": lat, "ok": ok_ops, "counters": dict(counters), "split": split})

    def trace_pass(self, k: int, start: float, end: float, calls: list, counters: dict) -> dict:
        """Turn one pass's calls into spans and per-layer counters, from
        Spark's REST data; runs after the pass, outside its wall time.
        Returns each op's own split: wall, builder time, jobs and
        executor time."""
        tracer = self.tracer
        tracer.refresh()
        pspan = tracer.span(f"pass {k}", "pass", start, end, self.run_span)
        job_ids: set[int] = set()
        split = {}
        for op, lo, hi, children in calls:
            ospan = tracer.span(op, "op", lo, hi, pspan)
            mine: dict[str, float] = defaultdict(float)
            build_s = jobs = 0
            for name, kind, group, a, b in children:
                ids = tracer.jobs(group, tracer.span(name, kind, a, b, ospan), mine, a, b)
                job_ids.update(ids)
                jobs += len(ids)
                if kind == "plans":
                    build_s += b - a
                    mine["plans.build_jobs"] += len(ids)
            for key, v in mine.items():
                counters[key] += v
            split[op] = {"wall_s": hi - lo, "build_s": build_s, "build_jobs": mine["plans.build_jobs"],
                         "jobs": jobs, "executor_run_s": mine["spark.executor_run_s"]}
        counters["exec.jobs"] = len(job_ids) - counters["plans.build_jobs"]
        tracer.plan_census(job_ids, counters)
        return split

    def _source_fingerprint(self, sql: str) -> str:
        if self.duck is None:
            import duckdb

            self.duck = duckdb.connect()
            fingerprint.duckdb_views(self.duck, self.data_dir)
        return fingerprint.duckdb_fingerprint(self.duck, sql)

    # -- the run --------------------------------------------------------

    def run(self) -> tuple[dict, dict]:
        args = self.args
        machine = {"start": machine_state()}
        steal0, total0 = cpu_ticks()
        if self.tracer:
            self.run_span = self.tracer.span("run", "run", T0, None, None,
                                             workload=args.workload, seed=args.seed)
        self.setup()
        # Counted passes follow the set-up's warm-up pass until --seconds
        # of them are measured, MIN_COUNTED_PASSES at least. A traced run
        # makes ABBA blocks of untraced and traced passes (U T T U), so a
        # steady warm-up trend cancels out of the tracing overhead; it
        # needs one pass of each kind.
        counted_s, n = 0.0, 0
        while True:
            done = n >= MIN_COUNTED_PASSES and counted_s >= args.seconds and (not args.trace or n % 4 == 0)
            if done or (n >= MIN_COUNTED_PASSES and time.time() - T0 > CAP_S):
                break
            n += 1
            self.run_pass(n, traced=bool(args.trace) and n % 4 in (2, 3))
            counted_s += self.passes[-1]["wall"]
        peak = Procs(self.jvm_pid).peak_rss_mb()
        if self.lake:
            for table in self.lake.TABLES:
                self.spark.sql(f"DROP TABLE IF EXISTS {table}")
        stop_session(self.spark)
        if self.duck is not None:
            self.duck.close()
        machine["end"] = machine_state()
        steal1, total1 = cpu_ticks()
        machine["steal_frac"] = round((steal1 - steal0) / max(1, total1 - total0), 3)
        return self.summarize(peak, machine)

    def summarize(self, peak: float, machine: dict) -> tuple[dict, dict]:
        med = statistics.median
        plain = [p for p in self.passes[1:] if not p["traced"]]
        lat = [x for p in plain for _, x in p["lat"]]
        tail_s, tail_pct, n = tail(lat)
        per_op = defaultdict(list)
        for p in plain:
            for name, x in p["lat"]:
                per_op[name].append(x)
        report = {
            "workload": self.args.workload, "seed": self.args.seed, "trace": self.args.trace,
            "machine": machine,
            "failures": self.failures,
            "oracle_mismatch": self.store.get("oracle_mismatch", []),
            "setup": {k: round(v, 3) for k, v in self.setup_rec.items()},
            "pass_s": [round(p["wall"], 3) for p in self.passes],
            "pass_cpu_s": [round(p["cpu"], 3) for p in self.passes],
            "pass_steal": [round(p["steal"], 3) for p in self.passes],
            "op_tail_percentile": tail_pct, "op_samples": n,
            "op_lat": {name: [round(x, 4) for x in xs] for name, xs in sorted(per_op.items())},
        }
        # The host's speed drifts by up to half between runs, and no
        # stolen time shows it; the probe measures it, and every timing
        # below is scaled to the reference host (README.md, Host speed).
        probe_s = med(self.units)
        speed = PROBE_REF_S / probe_s
        report["host"] = {"probe_ms": round(probe_s * 1e3, 4), "units": len(self.units),
                          "speed": round(speed, 4)}
        # a pass's time as the sum of each operation's median over the
        # counted passes, so that one slow call moves it little
        run_s = sum(med(xs) for xs in per_op.values())
        wall = {"setup_s": self.setup_rec["setup_s"], "run_s": run_s, "op_p50_s": med(lat),
                "op_tail_s": tail_s}
        report["wall"] = {k: round(v, 4) for k, v in wall.items()}
        also = {k: v * speed for k, v in wall.items() if k != "setup_s"}
        also["ops_per_min"] = 60.0 * med(p["ok"] for p in plain) / also["run_s"]
        also["peak_rss_mb"] = peak
        also["failed_frac"] = len(self.failures) / self.attempted
        if self.lake:
            also["stored_bytes_ratio"] = med(
                p["counters"]["sources.stored_bytes_ratio"] for p in self.passes)
        report["also"] = {k: {"value": round(v, 6), "unit": REPORT_UNITS[k]} for k, v in also.items()}
        if not self.args.trace:
            values = {
                "setup_s": wall["setup_s"] * speed,
                "run_cpu_s": med(p["cpu"] for p in plain) * speed,
            }
            metrics = {k: {"value": round(v, 6), "unit": END_TO_END_UNITS[k]} for k, v in values.items()}
        else:
            traced = [p for p in self.passes if p["traced"]]
            values = {k: self.setup_rec[k]
                      for k in ("session.get_spark_s", "catalog.load_tables_s", "catalog.load_jobs")}
            for key in PASS_COUNTERS:
                values[key] = med(p["counters"].get(key, 0.0) for p in traced)
            values["trace.run_s"] = med(p["wall"] for p in traced)
            values["trace.overhead_s"] = values["trace.run_s"] - med(p["wall"] for p in plain)
            metrics = {k: {"value": round(v, 6), "unit": PER_LAYER_UNITS[k]} for k, v in values.items()}
            spans = os.path.join(BUILD, "spans", f"{self.args.workload}-seed{self.args.seed}.json")
            self.run_span["end"] = time.time()
            self.tracer.write(spans)
            report["spans"] = os.path.relpath(spans, ROOT)
            report["op_split"] = {
                op: {key: round(med(p["split"][op][key] for p in traced), 3)
                     for key in traced[0]["split"][op]}
                for op in sorted(set.intersection(*(set(p["split"]) for p in traced)))}
        report["metrics"] = metrics
        failed = len(self.failures)
        result = {"correct": failed == 0, "attempted": self.attempted,
                  "failed": failed, "metrics": metrics}
        return report, result


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    data_dir = prepare()
    dirs = tmp_dirs()
    try:
        report, result = Bench(args, data_dir, dirs).run()
    except Exception:  # noqa: BLE001 - no result line when the run itself broke
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(dirs["run"], ignore_errors=True)
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
