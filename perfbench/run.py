"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 20 --trace 0

Run from the repository root.  The run generates its inputs from
``--seed``, starts a ``local[4]`` Spark session, checks every operation's
full output against an independent oracle, then times whole passes over
the workload's operations in a closed loop: one client, next operation
only after the previous one finished.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 1`` the
metrics are the per-layer ones (see ``perfbench/README.md``).

Everything the run writes stays under ``.perfbench_work/`` (removed at the
end) and ``.perfbench_out/`` (the run's artifact) in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

CORES = 4
STOP_TIMEOUT_S = 60.0


def _host_probe_ms() -> float:
    """Single-thread speed probe: a fixed pure-Python loop, best of 3."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        best = min(best, time.perf_counter() - t0)
    return round(best * 1000, 2)


def host_facts() -> dict:
    # versions from the package metadata: importing pyspark here would take
    # its first import out of set-up
    from importlib.metadata import version

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "load1_before": os.getloadavg()[0],
        "probe_ms": _host_probe_ms(),
        "python": platform.python_version(),
        "pyspark": version("pyspark"),
        "pyarrow": version("pyarrow"),
        "duckdb": version("duckdb"),
    }


def cpu_ticks() -> tuple:
    """(steal, total) CPU ticks of the whole machine since boot: steal is
    the time a virtual machine's CPUs waited for the host."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def since_process_start() -> float:
    """Seconds since this process started (clock-tick resolution)."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rfind(")") + 2:].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def build_session(work: str):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rfind(")") + 2] != "Z"


def stop_spark() -> None:
    """Stop the session if one runs, end the JVM and wait until every
    process this run started (the JVM, the Python workers) has exited."""
    import signal

    from pyspark import SparkContext

    from perfbench.tracing import descendants

    children = descendants(os.getpid())
    proc = getattr(SparkContext._gateway, "proc", None)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if proc is not None and proc.poll() is None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=STOP_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + STOP_TIMEOUT_S
    while True:
        alive = [p for p in children if _running(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.1)


class Context:
    """What an operation sees: the session, the inputs, and the hooks that
    time layer boundaries when the run is traced."""

    def __init__(self, work: str, sf_dir: str, corpus):
        self.sf_dir = sf_dir
        self.corpus = corpus
        self.out_dir = os.path.join(work, "out")
        self.spark = None
        self.duck = None
        self.state: dict = {}
        self.tracer = None
        self.group = None

    # -- hooks (no-ops unless traced) ------------------------------------------

    def span(self, name: str):
        import contextlib

        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def build_span(self):
        """The call to a registered query builder, in its own job group so
        jobs fired while building are counted apart."""
        import contextlib

        if not self.tracer:
            return contextlib.nullcontext()

        @contextlib.contextmanager
        def span():
            sc = self.spark.sparkContext
            sc.setJobGroup(self.group + "/build", "build", False)
            try:
                with self.tracer.span("queries.build"):
                    yield
            finally:
                sc.setJobGroup(self.group, "op", False)

        return span()

    def consume(self, df):
        """Collect every output row with its hash; return the digest.  The
        plan is the one verification ran, so timing reuses its codegen."""
        from perfbench import tracing
        from perfbench.workloads import digest_rows, with_hash

        hdf = with_hash(df)
        if not self.tracer:
            return digest_rows(hdf.collect())
        qe = hdf._jdf.queryExecution()
        with self.tracer.span("catalyst.plan"):
            qe.executedPlan()
        for phase, secs in tracing.catalyst_phases(qe).items():
            self.tracer.count(f"catalyst.{phase}_s", secs)
        with self.tracer.span("exec.run"):
            rows = hdf.collect()
        plan = qe.executedPlan()
        for k, v in tracing.python_nodes(plan.toString()).items():
            self.tracer.count(f"pyboundary.{k}", v)
        self.tracer.count("io.files_read", tracing.scan_files_read(plan))
        return digest_rows(rows)


def _op_tail(lat):
    """Latency at the highest percentile with at least ten samples beyond
    it (the 11th largest); returns (value, percentile, samples)."""
    s = sorted(lat)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, n
    return s[n - 11], round(100.0 * (n - 10) / n, 1), n


def _time_op(ctx, op, ref, op_id: str):
    """One timed execution: (seconds, error or None, output mismatched)."""
    ctx.group = op_id
    ctx.spark.sparkContext.setJobGroup(op_id, op.name, False)
    t0 = time.perf_counter()
    try:
        got = op.run(ctx)
        err = None
    except Exception as e:  # counted as a failed operation, reported below
        got, err = None, f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
    dt = time.perf_counter() - t0
    mismatch = err is None and got != ref
    if mismatch:
        err = f"digest {got} != verified {ref}"
    return dt, err, mismatch


def _layer_of(span_name: str) -> str:
    """``io.csv.scan_csv`` -> ``io.csv``; ``io.maintenance.read.x`` ->
    ``io.maintenance``; ``exec.run`` -> ``exec``; ``op`` -> ``op``."""
    parts = span_name.split(".")
    return ".".join(parts[:2]) if parts[0] == "io" else parts[0]


def _layer_metrics(ctx, tracer, op_jobs, written, space_amp, pass_s):
    """Per-layer metrics of one traced pass."""
    from perfbench import tracing

    spans = tracer.spans
    st = tracing.self_times(spans)
    by_id = {s["id"]: s for s in spans}

    def dur(prefix, top_only=False):
        total = 0.0
        for s in spans:
            if not s["name"].startswith(prefix):
                continue
            if top_only and s["parent"] is not None and by_id[s["parent"]]["name"].startswith(prefix):
                continue
            total += s["end"] - s["start"]
        return total

    c = tracer.counts
    jobs = {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "executor_run_s": 0.0,
            "shuffle_read_b": 0, "shuffle_write_b": 0, "spill_b": 0, "input_b": 0}
    build_jobs = 0
    for op_id, (job_ids, n_build) in op_jobs.items():
        for k, v in tracing.job_stats(ctx.spark, job_ids).items():
            jobs[k] += v
        build_jobs += n_build
    parse_s = sum(st[s["id"]] for s in spans if s["name"].startswith("parsers."))
    skipped, total_files = c.get("io.maintenance.files_skipped", 0), c.get("io.maintenance.files_total", 0)
    m = {
        "queries.build_s": dur("queries.build"),
        "queries.build_jobs": build_jobs,
        "catalyst.plan_s": dur("catalyst.plan"),
        "catalyst.analysis_s": c.get("catalyst.analysis_s", 0.0),
        "catalyst.optimization_s": c.get("catalyst.optimization_s", 0.0),
        "catalyst.planning_s": c.get("catalyst.planning_s", 0.0),
        "exec.run_s": jobs["run_s"],
        "exec.jobs": jobs["jobs"],
        "exec.stages": jobs["stages"],
        "exec.tasks": jobs["tasks"],
        "exec.executor_run_s": jobs["executor_run_s"],
        "exec.shuffle_read_mb": jobs["shuffle_read_b"] / 1e6,
        "exec.shuffle_write_mb": jobs["shuffle_write_b"] / 1e6,
        "exec.spill_mb": jobs["spill_b"] / 1e6,
        "exec.slot_idle_frac": (1.0 - jobs["executor_run_s"] / (jobs["run_s"] * CORES))
        if jobs["run_s"] > 0 else 0.0,
        "pyboundary.arrow_nodes": c.get("pyboundary.arrow_nodes", 0),
        "pyboundary.row_eval_nodes": c.get("pyboundary.row_eval_nodes", 0),
        "io.files_read": c.get("io.files_read", 0),
        "io.read_mb": jobs["input_b"] / 1e6,
        "io.files_written": written[0],
        "io.written_mb": written[1] / 1e6,
        "io.space_amp": space_amp,
        "parsers.parse_s": parse_s,
        "parsers.rows_per_s": c.get("parsers.rows", 0) / parse_s if parse_s > 0 else 0.0,
        "parsers.blocks": c.get("parsers.blocks", 0),
        "parsers.fixes": c.get("parsers.fixes", 0),
        "io.csv.scan_s": dur("io.csv.scan_csv"),
        "io.csv.write_s": dur("io.csv.write_csv_distributed"),
        "io.datasource.read_s": dur("io.datasource.read"),
        "io.load.load_s": dur("io.load.load_files"),
        "table.convert_units_s": dur("table.convert_units"),
        "io.maintenance.write_s": dur("io.maintenance.write.", top_only=True),
        "io.maintenance.read_s": dur("io.maintenance.read.", top_only=True),
        "io.maintenance.files_skipped_frac": skipped / total_files if total_files else 0.0,
    }
    # self time by layer: the blocking path of a single-threaded client
    layers = {}
    for s in spans:
        layer = _layer_of(s["name"])
        layers[layer] = layers.get(layer, 0.0) + st[s["id"]]
    for layer in SELF_LAYERS:
        m[f"{layer}.self_s"] = layers.get(layer, 0.0)
    root_total = sum(s["end"] - s["start"] for s in spans if s["parent"] is None)
    m["trace.attributed_frac"] = root_total / pass_s if pass_s > 0 else 0.0
    return m


#: Layers whose self time is reported; ``op`` is the benchmark's own code
#: inside an operation (argument set-up, digest comparison).
SELF_LAYERS = ["op", "queries", "catalyst", "exec", "parsers", "table", "io.csv",
               "io.datasource", "io.load", "io.maintenance"]


def run(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, "pdtable_spark")):
        print(f"perfbench: no pdtable_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    out_root = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "out"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(out_root, exist_ok=True)
    # inputs, temp files, Spark scratch and the Python workers' import path
    # all stay inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # both JVMs (the spark-submit launcher and the driver): temp files in
    # the checkout, and no jvmstat file under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None
    try:
        return _run(args, work, out_root)
    finally:
        if "pyspark" in sys.modules:
            stop_spark()
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, out_root: str) -> int:
    import numpy as np

    from perfbench import datagen, tracing, workloads

    wl = workloads.workloads()[args.workload]
    t0 = time.perf_counter()
    host = host_facts()
    host_s = time.perf_counter() - t0
    ticks0 = cpu_ticks()

    # -- inputs (the benchmark's own work: not part of set-up) ------------------
    t0 = time.perf_counter()
    rng = np.random.default_rng(args.seed)
    sf_dir = os.path.join(work, "sf")
    rows = datagen.write_star_schema(sf_dir, rng, wl.sf, wl.docs_sf)
    corpus, user_bytes = None, 0
    if wl.corpus:
        corpus = workloads.prepare_corpus(work, rng)
        user_bytes = _user_bytes(corpus)
    gen_s = time.perf_counter() - t0
    ctx = Context(work, sf_dir, corpus)
    ops = wl.ops

    # -- set-up: session start, program state, the first (cold) operation ----
    t0 = time.perf_counter()
    ctx.spark = build_session(work)
    if corpus is not None:
        workloads.startable_state(ctx)
    ctx.group = "setup"
    ops[0].run(ctx)
    session_s = time.perf_counter() - t0

    # -- verification: full output against the oracle, reference digests ------
    t0 = time.perf_counter()
    ctx.duck = workloads.duck_connect(sf_dir)
    refs, problems, verify_times = {}, [], {}
    for op in ops:
        ctx.group = f"verify:{op.name}"
        tv = time.perf_counter()
        try:
            bad, refs[op.name] = op.verify(ctx)
        except Exception as e:
            bad, refs[op.name] = [f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"], None
        problems += [f"{op.name}: {b}" for b in bad]
        verify_times[op.name] = time.perf_counter() - tv
    ctx.duck.close()
    verify_s = time.perf_counter() - t0

    # -- timed passes ---------------------------------------------------------
    n_pass = max(3, round(args.seconds / wl.nominal_pass_s))
    if args.trace:
        n_pass = 2 * max(2, (n_pass + 1) // 2)  # alternate untraced / traced passes
    order_rng = np.random.default_rng([args.seed, 1])
    samples, pass_times, traced_times, op_times = [], [], [], {op.name: [] for op in ops}
    pass_rss = []
    failures = []
    attempted = mismatches = 0
    # one untimed warm-up pass first: an operation's second execution in a
    # session still runs ~20% slower than its later ones and would set the tail
    t0 = time.perf_counter()
    for op in ops:
        _dt, err, mismatch = _time_op(ctx, op, refs[op.name], f"warm:{op.name}")
        attempted += 1
        mismatches += mismatch
        if err is not None:
            failures.append(f"warm:{op.name}: {err}")
    warm_s = time.perf_counter() - t0
    layer_rows = []
    all_spans = []
    # set-up: process start to the first timed operation, less the
    # benchmark's own work in between (host probe, inputs, verification)
    setup_s = since_process_start() - host_s - gen_s - verify_s
    with tracing.RssSampler() as rss:
        t_measure = time.perf_counter()
        rss.window_peak()
        for p in range(n_pass):
            traced = bool(args.trace) and p % 2 == 1
            tracer = tracing.Tracer() if traced else None
            if tracer:
                tracer.install()
            ctx.tracer = tracer
            op_jobs, written = {}, [0, 0]
            tp = time.perf_counter()
            for i in order_rng.permutation(len(ops)):
                op = ops[i]
                op_id = f"p{p}:{op.name}"
                wall0 = time.time()
                if tracer:
                    tracer.op_id = op_id
                    with tracer.span("op", op_name=op.name):
                        dt, err, mismatch = _time_op(ctx, op, refs[op.name], op_id)
                    sc = ctx.spark.sparkContext
                    build = list(sc.statusTracker().getJobIdsForGroup(op_id + "/build"))
                    op_jobs[op_id] = (list(sc.statusTracker().getJobIdsForGroup(op_id)) + build, len(build))
                    n, b = tracing.files_under([ctx.out_dir, os.environ["TMPDIR"]], wall0)
                    written[0] += n
                    written[1] += b
                else:
                    dt, err, mismatch = _time_op(ctx, op, refs[op.name], op_id)
                attempted += 1
                samples.append(dt)
                if not traced:
                    op_times[op.name].append(dt)
                if err is not None:
                    failures.append(f"{op_id}: {err}")
                mismatches += mismatch
            pt = time.perf_counter() - tp
            pass_rss.append(rss.window_peak())
            if tracer:
                tracer.uninstall()
                ctx.tracer = None
                traced_times.append(pt)
                amp = tracing.bytes_under([ctx.out_dir]) / user_bytes if user_bytes else 0.0
                layer_rows.append((tracer, op_jobs, written, amp, pt))
                all_spans += tracer.spans
            else:
                pass_times.append(pt)
        measure_s = time.perf_counter() - t_measure
    space_amp = tracing.bytes_under([ctx.out_dir]) / user_bytes if user_bytes else None

    defects = workloads.known_defects(ctx) if corpus is not None else []

    per_layer = {}
    if args.trace:
        rows_m = [_layer_metrics(ctx, t, oj, w, a, pt)
                  for t, oj, w, a, pt in layer_rows]
        for key in rows_m[0]:
            per_layer[key] = statistics.median(r[key] for r in rows_m)
        per_layer["trace.pass_s"] = statistics.median(traced_times)
        per_layer["trace.untraced_pass_s"] = statistics.median(pass_times)
        per_layer["trace.overhead_s"] = per_layer["trace.pass_s"] - per_layer["trace.untraced_pass_s"]
        for name in workloads.ALL_OP_NAMES:
            per_layer[f"op.{name}_s"] = statistics.median(op_times[name]) if op_times.get(name) else 0.0

    # -- report ----------------------------------------------------------------
    timed = samples if not args.trace else [t for o in op_times.values() for t in o]
    tail, tail_pct, tail_n = _op_tail(timed)
    e2e = {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(pass_times), "s"),
        "op_p50_s": (statistics.median(timed), "s"),
        "op_tail_s": (tail, "s"),
        "peak_rss_mb": (statistics.median(pass_rss) / 2**20, "MB"),
    }
    host["load1_after"] = os.getloadavg()[0]
    steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
    host["steal_frac"] = steal / total if total else 0.0
    correct = not problems and not mismatches
    failed = len(failures)
    artifact = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "host": host, "input_rows": rows, "corpus_rows": len(corpus["expected"]) if corpus else 0,
        "space_amp": space_amp, "gen_s": gen_s, "verify_s": verify_s, "verify_op_s": verify_times,
        "measure_s": measure_s, "setup_s": setup_s,
        "setup_parts_s": {"host": host_s, "session_state_first_op": session_s, "warm_pass": warm_s},
        "passes": n_pass, "pass_times_s": pass_times, "traced_pass_times_s": traced_times,
        "op_times_s": op_times, "op_tail": {"percentile": tail_pct, "samples": tail_n},
        "problems": problems, "failures": failures, "known_defects": defects,
        "end_to_end": {k: v for k, (v, _u) in e2e.items()}, "per_layer": per_layer,
    }
    tag = f"{wl.name}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_root, tag + ".json"), "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    if args.trace:
        with open(os.path.join(out_root, tag + ".spans.json"), "w") as f:
            json.dump(all_spans, f, default=str)

    print("# host " + json.dumps(host, sort_keys=True))
    print("# end_to_end " + " | ".join(
        [f"{k}={v:.4f} {u}" for k, (v, u) in e2e.items()]
        + [f"op_tail at p{tail_pct} of n={tail_n}",
           f"failed_frac={failed / max(attempted, 1):.4f} ({failed}/{attempted})",
           f"space_amp={space_amp:.4f}" if space_amp is not None else "space_amp=n/a (writes no user rows)"]))
    for p in problems:
        print(f"# verification problem: {p}")
    for f in failures[:20]:
        print(f"# failed: {f}")
    for d in defects:
        print(f"# known defect: {d}")
    if args.trace:
        metrics = {k: {"value": v, "unit": workloads.layer_unit(k)} for k, v in per_layer.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def _user_bytes(corpus) -> int:
    """In-memory (Arrow) bytes of the rows one pass asks the program to
    write: the source table ``write_csv_distributed`` dumps."""
    import pyarrow.parquet as pq

    return pq.read_table(corpus["rows_parquet"]).nbytes


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
