#!/usr/bin/env python3
"""celeborn_spark benchmark: one closed-loop client running a pinned,
seeded workload and checking every result.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 10 --trace 0

Run from the repository root. The workloads (perfbench/workloads.json)
are built by perfbench/datagen.py from the base tables as seeded
replicas and cached under ``.perfbench_cache/``. A run sets up the
session (``session.get_spark``), makes one cold pass over the workload,
then repeats steady-state passes for ``--seconds`` (and on, up to twice
that, until two passes ran free of CPU steal). Every result is
compared, untimed, with its DuckDB oracle (``tests/oracle.py``); ingest
steps are checked by reading what they wrote back with DuckDB.

With ``--trace 0`` the last line of stdout holds the end-to-end metrics;
with ``--trace 1`` it holds the per-layer metrics of traced passes
(spans around every layer call, Spark stage counters from the REST
status API) and the span file is written under ``.perfbench_cache/``.
The line before it is a report: host sentinel, versions, sample counts.
"""

from __future__ import annotations

import argparse
import datetime
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import host  # noqa: E402
from spans import StatusApi, Tracer  # noqa: E402

CACHE = ".perfbench_cache"
# A steady pass during which the hypervisor gave more than this share of
# CPU time to other guests is contended: it is kept out of the medians
# and the run measures on (up to twice --seconds) to get clean passes.
STEAL_LIMIT = 0.01

# span name -> counters its duration adds to (and its call count, if any)
SPAN_KEYS = {
    "catalog.load_table": (("catalog.load_s",), "catalog.load_calls"),
    "queries.build": (("queries.build_s",), None),
    "plans.plan": (("plans.plan_s",), None),
    "exec.action": (("exec.action_s",), None),
    "streaming.run_stream_to_table": (("streaming.run_s",), None),
    "io.write": (("io.write_s", "exec.action_s"), None),
    "io.read_pruned": (("io.read_pruned_s",), None),
}


def _job_epoch(job: dict) -> float:
    ts = job["submissionTime"].replace("GMT", "+0000")
    return datetime.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class Runner:
    """One Spark session driven by a single closed-loop client."""

    def __init__(self, spark, sf_dir: str, tracer: Tracer, cores: int):
        from celeborn_spark import catalog

        self.spark = spark
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.cores = cores
        self.api = StatusApi(spark.sparkContext) if tracer.enabled else None
        self.counters: dict[str, float] = {}
        self._build_windows: list[tuple[float, float]] = []
        self.load_table = catalog.load_table
        if tracer.enabled:
            self._wrap_layers()

    # --- tracing -------------------------------------------------------
    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def span(self, name: str, query: str | None = None):
        return self._span(name, query) if self.traced else nullcontext()

    @contextmanager
    def _span(self, name: str, query: str | None):
        epoch = time.time()
        try:
            with self.tracer.span(name, query) as rec:
                yield rec
        finally:
            keys, calls = SPAN_KEYS.get(name, ((), None))
            for k in keys:
                self.count(k, rec["end"] - rec["start"])
            if calls:
                self.count(calls, 1)
            if name == "queries.build":
                self._build_windows.append((epoch, time.time()))

    def count(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0) + value

    def _wrap_layers(self) -> None:
        """Route every reference to catalog.load_table and
        streaming.events.run_stream_to_table inside the program through
        a span (traced runs only)."""
        from celeborn_spark import catalog
        from celeborn_spark.streaming import events

        def traced(fn, name):
            def wrapper(*a, **kw):
                with self.span(name):
                    return fn(*a, **kw)

            return wrapper

        originals = {
            id(catalog.load_table): traced(catalog.load_table, "catalog.load_table"),
            id(events.run_stream_to_table): traced(events.run_stream_to_table, "streaming.run_stream_to_table"),
        }
        self.load_table = originals[id(catalog.load_table)]
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("celeborn_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if callable(val) and id(val) in originals:
                    setattr(mod, attr, originals[id(val)])

    def plan(self, df) -> None:
        """Traced runs: physical planning of the final DataFrame, timed on
        its own (the action reuses the plan)."""
        if not self.traced:
            return
        from celeborn_spark.plans.explain import count_exchanges

        with self.span("plans.plan"):
            self.count("plans.exchanges", count_exchanges(df))

    def count_scan_files(self) -> None:
        if self.traced:
            self.count("io.files_scanned", self.api.last_scan_files())

    # --- one query -----------------------------------------------------
    def execute(self, qid: str, fn):
        """Run ``fn`` as one query; its wall time, also when it raises,
        is left in ``last_wall``."""
        if self.traced:
            jobs0, stages0 = self.api.job_ids(), self.api.stage_keys()
            self._build_windows = []
        t0 = time.perf_counter()
        try:
            with self.span("query", query=qid):
                return fn()
        finally:
            self.last_wall = time.perf_counter() - t0
            if self.traced:
                self._account(jobs0, stages0)

    def _account(self, jobs0, stages0) -> None:
        jobs = self.api.new_jobs(jobs0)
        self.count("exec.jobs", len(jobs))
        self.count(
            "queries.build_jobs",
            sum(1 for j in jobs if any(a <= _job_epoch(j) <= b for a, b in self._build_windows)),
        )
        self.count("streaming.batches", self.api.stream_batches(jobs))
        skew = self.counters.get("exec.task_skew", 0.0)
        for s in self.api.new_stages(stages0):
            self.count("exec.stages", 1)
            self.count("exec.tasks", s["numCompleteTasks"])
            self.count("exec.failed_tasks", s["numFailedTasks"])
            self.count("exec.run_s", s["executorRunTime"] / 1e3)
            self.count("exec.cpu_s", s["executorCpuTime"] / 1e9)
            self.count("exec.gc_s", s["jvmGcTime"] / 1e3)
            self.count("scan.input_bytes", s["inputBytes"])
            self.count("scan.input_rows", s["inputRecords"])
            self.count("shuffle.write_bytes", s["shuffleWriteBytes"])
            self.count("shuffle.read_bytes", s["shuffleReadBytes"])
            self.count("shuffle.records", s["shuffleWriteRecords"])
            self.count("shuffle.write_s", s["shuffleWriteTime"] / 1e9)
            self.count("shuffle.fetch_wait_s", s["shuffleFetchWaitTime"] / 1e3)
            self.count("spill.bytes", s["memoryBytesSpilled"] + s["diskBytesSpilled"])
            skew = max(skew, self.api.task_skew(s))
        self.counters["exec.task_skew"] = skew

    def registry_query(self, fn):
        def run():
            with self.span("queries.build"):
                df = fn(self.spark, self.sf_dir)
            self.plan(df)
            with self.span("exec.action"):
                return df.toPandas()

        return run


class OracleCheck:
    """Compares a collected query result with its DuckDB oracle; the
    oracle result is computed once per run."""

    def __init__(self, con, name: str, sql: str):
        self.con, self.name, self.sql, self.want = con, name, sql, None

    def __call__(self, result) -> None:
        from ingest import Collected
        from tests.oracle import assert_matches_oracle

        if self.want is None:
            self.want = self.con.execute(self.sql).fetchdf()
        assert_matches_oracle(Collected(result), Collected(self.want), self.sql, self.name)


def layer_metrics(c: dict, pass_wall: float, cores: int) -> dict[str, float]:
    """Per-pass layer metrics from one traced pass's counters."""
    g = c.get
    build, action = g("queries.build_s", 0.0), g("exec.action_s", 0.0)
    in_bytes, user = g("scan.input_bytes", 0), g("io.user_bytes", 0)
    io_s = g("io.write_s", 0.0)
    out = {k: g(k, 0) for k in (
        "catalog.load_calls", "catalog.load_s", "queries.build_s", "queries.build_jobs", "plans.plan_s",
        "plans.exchanges", "exec.action_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.run_s", "exec.cpu_s",
        "exec.gc_s", "exec.task_skew", "exec.failed_tasks", "scan.input_rows", "shuffle.records",
        "shuffle.write_s", "shuffle.fetch_wait_s", "streaming.run_s", "streaming.batches", "io.write_s",
        "io.files_written", "io.bytes_written", "io.read_pruned_s", "io.files_scanned",
    )}
    out.update({
        "queries.build_share": build / pass_wall if pass_wall else 0.0,
        "exec.offcpu_s": g("exec.run_s", 0.0) - g("exec.cpu_s", 0.0),
        "exec.cpu_util": g("exec.cpu_s", 0.0) / ((build + action) * cores) if build + action else 0.0,
        "scan.input_mb": in_bytes / 1e6,
        "shuffle.write_mb": g("shuffle.write_bytes", 0) / 1e6,
        "shuffle.read_mb": g("shuffle.read_bytes", 0) / 1e6,
        "spill.mb": g("spill.bytes", 0) / 1e6,
        "shuffle.bytes_per_input_byte": g("shuffle.write_bytes", 0) / in_bytes if in_bytes else 0.0,
        "io.write_mb_per_s": user / 1e6 / io_s if io_s else 0.0,
        "io.bytes_written_per_input_byte": g("io.bytes_written", 0) / user if user else 0.0,
    })
    return out


def _stop(spark) -> None:
    """Stop the session, its JVM and the JVM's Python workers, and wait
    until each has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    workers = host.descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.terminate()
    try:
        proc.wait(timeout=20)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    host.stop_tree(workers)


def _design() -> dict:
    with open(os.path.join(HERE, "workloads.json")) as fh:
        return json.load(fh)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=None)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--base", default=None, help="base tables (default: catalog.DEFAULT_SF_DIR)")
    p.add_argument("--spans", default=None, help="span file of a traced run")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    design = _design()
    if args.workload not in design["workloads"]:
        print(f"unknown workload {args.workload!r}; known: {sorted(design['workloads'])}", file=sys.stderr)
        return 2
    if not (os.path.isfile(os.path.join(root, "celeborn_spark", "session.py"))
            and os.path.isfile(os.path.join(root, "tests", "oracle.py"))):
        print("run from the repository root: celeborn_spark/ and tests/oracle.py not found", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from celeborn_spark.catalog import DEFAULT_SF_DIR

    wl = design["workloads"][args.workload]
    seed = design["default_seed"] if args.seed is None else args.seed
    report = {
        "workload": args.workload, "seed": seed, "scale": wl["scale"], "base": args.base or DEFAULT_SF_DIR,
        **host.sentinel(), "heap_mb": host.heap_mb(),
    }
    ticks0 = host.cpu_ticks()
    cache = os.path.join(root, CACHE)
    gen = subprocess.run(
        [sys.executable, os.path.join(HERE, "datagen.py"), cache, report["base"], str(wl["scale"]), str(seed)],
        capture_output=True, text=True,
    )
    if gen.returncode != 0:
        print(gen.stderr, file=sys.stderr)
        return 2
    sf_dir, gen_s = gen.stdout.split()
    report.update(inputs=sf_dir, gen_s=float(gen_s))

    run_dir = os.path.join(cache, f"run-{os.getpid()}")
    for sub in ("local", "tmp", "warehouse", "out"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{report['heap_mb']}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tracer = Tracer(bool(args.trace))
    try:
        metrics, attempted, failed = _run(args, wl, sf_dir, run_dir, report, tracer)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    kind = "per_layer" if args.trace else "end_to_end"
    if args.trace:
        path = args.spans or os.path.join(cache, "spans", f"{args.workload}-seed{seed}.json")
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        tracer.write(path)
        report["spans"] = path
    units = {k: v[0] for k, v in design[kind].items()}
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"metrics not produced: {sorted(missing)}")
    report.update(
        failed_ratio=failed / attempted,
        run_wall_s=host.process_age_s(),
        steal_ratio=host.steal_since(ticks0),
    )
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


def _run(args, wl, sf_dir: str, run_dir: str, report: dict, tracer: Tracer):
    """Set up the session, measure the workload and stop everything the
    run started. Returns (metrics, attempted, failed) and fills ``report``."""
    cores = os.cpu_count() or 1
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if args.trace else "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # temp files inside the run directory; no hsperfdata file in the system /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
    }
    with tracer.span("run", query="run"):
        with tracer.span("setup", query="setup"):
            with tracer.span("session.start") as t_session:
                from celeborn_spark.session import get_spark

                spark = get_spark(app_name="perfbench", extra_conf=conf)
            spark.sparkContext.setLogLevel("ERROR")
            with tracer.span("registry.load") as t_registry:
                from celeborn_spark import registry

                fns, oracle_sql = registry.queries(), registry.oracles()
            with tracer.span("session.warm") as t_warm:
                spark.sparkContext.parallelize(range(cores), cores).map(lambda x: x).count()
        setup_s = host.process_age_s() - report["gen_s"]
        try:
            metrics, attempted, failed = _measure(args, wl, spark, sf_dir, tracer, cores, fns, oracle_sql,
                                                  run_dir, report)
            import pyspark
            from pyspark import SparkContext

            jvm = SparkContext._gateway.proc.pid
            rss = {
                "driver_python": host.hwm_mb([os.getpid()]),
                "jvm": host.hwm_mb([jvm]),
                "workers": host.hwm_mb(host.descendants(jvm)),
            }
            report.update(pyspark=pyspark.__version__, java=spark._jvm.System.getProperty("java.version"),
                          peak_rss_mb=rss)
        finally:
            _stop(spark)
    if args.trace:
        for key, rec in (("session.start_s", t_session), ("registry.load_s", t_registry),
                         ("session.warm_s", t_warm)):
            metrics[key] = rec["end"] - rec["start"]
    else:
        metrics.update(setup_s=setup_s, peak_rss_mb=sum(rss.values()))
    return metrics, attempted, failed


def _measure(args, wl, spark, sf_dir, tracer, cores, fns, oracle_sql, run_dir, report):
    from tests.oracle import duck_connection

    runner = Runner(spark, sf_dir, tracer, cores)
    con = duck_connection(sf_dir)
    # the oracle engine spills inside the run directory, within a fixed budget
    con.execute(f"SET temp_directory = '{os.path.join(run_dir, 'tmp')}'")
    con.execute("SET memory_limit = '2GB'")
    con.execute("SET max_temp_directory_size = '4GB'")
    steps = [(n, runner.registry_query(fns[n]), OracleCheck(con, n, oracle_sql[n])) for n in wl["queries"]]
    if wl.get("ingest"):
        from ingest import Ingest

        ingest = Ingest(runner, con, sf_dir, os.path.join(run_dir, "out"), *wl["pruned_range"]).steps()
        steps += [(n, *ingest[n]) for n in wl["ingest"]]
    attempted = failed = 0
    check_s = 0.0
    errors: dict[str, str] = {}

    def one_pass(label: str):
        nonlocal attempted, failed, check_s
        runner.counters = {}
        walls = []
        for name, run, check in steps:
            attempted += 1
            # untimed: collect garbage left by the previous query, so no
            # query pays for its predecessor's collections
            gc.collect()
            spark._jvm.System.gc()
            try:
                try:
                    result = runner.execute(f"{label}:{name}", run)
                finally:
                    walls.append((name, runner.last_wall))
                t0 = time.perf_counter()
                check(result)
                check_s += time.perf_counter() - t0
            except Exception as exc:  # one bad query is counted, not fatal
                failed += 1
                errors.setdefault(name, f"{type(exc).__name__}: {exc}"[:500])
                traceback.print_exc(file=sys.stderr)
        return sum(w for _, w in walls), walls, dict(runner.counters)

    first_pass_s, _, _ = one_pass("p0")
    passes = []  # (pass wall, [(name, wall)], counters, traced, steal ratio)
    contended = 0
    # traced runs measure an untraced half, then a traced half: trace.overhead_ratio
    halves = (False, True) if args.trace else (False,)
    for traced in halves:
        tracer.enabled = traced
        seconds = args.seconds / len(halves)
        need = 1 if args.trace else 2
        start = time.perf_counter()
        half = []
        while True:
            ticks0 = host.cpu_ticks()
            half.append((*one_pass(f"p{len(passes) + len(half) + 1}"), traced, host.steal_since(ticks0)))
            clean = [p for p in half if p[4] <= STEAL_LIMIT]
            elapsed = time.perf_counter() - start
            if elapsed >= seconds and (len(clean) >= need or elapsed >= 2 * seconds):
                break
        contended += len(half) - len(clean)
        passes += clean or half
    report["contended_passes"] = contended

    untraced = [p for p in passes if not p[3]]
    query_walls = [w for p in untraced for _, w in p[1]]
    per_query: dict[str, list[float]] = {}
    for p in untraced:
        for n, w in p[1]:
            per_query.setdefault(n, []).append(w)
    report.update(
        steady_passes=len(passes),
        query_samples=len(query_walls),
        per_query_p50_s={n: statistics.median(ws) for n, ws in per_query.items()},
        check_s=check_s,
        errors=errors,
    )
    if args.trace:
        traced = [p for p in passes if p[3]]
        per_pass = [layer_metrics(p[2], p[0], cores) for p in traced]
        metrics = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
        metrics["trace.overhead_ratio"] = (
            statistics.median(p[0] for p in traced) / statistics.median(p[0] for p in untraced)
        )
        report["traced_passes"] = len(traced)
    else:
        metrics = {
            "first_pass_s": first_pass_s,
            "pass_s": statistics.median(p[0] for p in passes),
            "query_p50_s": statistics.median(query_walls),
            "query_tail_s": max(statistics.median(ws) for ws in per_query.values()),
        }
    return metrics, attempted, failed


if __name__ == "__main__":
    sys.exit(main())
