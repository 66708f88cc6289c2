"""smspark benchmark: one workload in one fresh process.

    python3 perfbench/run.py --workload iterative --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout. A run has three parts:

1. set-up (``setup_s``): imports, ``session.get_spark``,
   ``session.load_tables`` on the bundled sf0.01 tables, and one cold
   execution of every op at the measured scale;
2. the timed phase: whole passes over the workload's ops (query ops in a
   seed-shuffled order), at least ``MIN_PASSES`` and until ``--seconds``
   have passed. ``wall_s`` is the median pass, ``op_p50_s`` the median op,
   both over the passes the hypervisor did not steal CPU from;
3. the output check, outside every timer.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` the untraced timed phase is followed by a traced one,
with spans around every layer call, and the line carries the per-layer
metrics and the tracing overhead instead. Either way a JSON artifact with
the run environment, per-op latencies and (traced) the spans goes to
``perfbench/out/``. Inputs, lakehouse output and Spark scratch space live
in a per-run directory under ``perfbench/out/`` that is removed at exit.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import workloads  # noqa: E402
from spans import Tracer, attribute, attribute_queries, rollup  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
OUT_DIR = os.path.join(HERE, "out")
# Two passes keep 48 runs of both workloads inside an hour on 4 cores.
MIN_PASSES = 2
# A pass during which the hypervisor stole more than this share of the
# CPUs' time measures the host, not the program: it is replaced by at most
# one extra pass and left out of wall_s and op_p50_s.
STEAL_SHARE = 0.02
MAX_EXTRA_PASSES = 1


class Mods:
    """The program's modules the benchmark calls into."""

    def __init__(self):
        path = list(sys.path)
        sys.path.insert(0, ROOT)
        self.entry = importlib.import_module("__spark_entry__")
        self.session = importlib.import_module("pipelines_rj_sms_spark.session")
        self.jobs = importlib.import_module("pipelines_rj_sms_spark.jobs")
        self.cache = importlib.import_module("pipelines_rj_sms_spark.operators.cache")
        self.conform = importlib.import_module("pipelines_rj_sms_spark.operators.conform")
        self.files = importlib.import_module("pipelines_rj_sms_spark.sources.files")
        self.lakehouse = importlib.import_module("pipelines_rj_sms_spark.sinks.lakehouse")
        self.verify_oracle = importlib.import_module("tools.verify_oracle")
        sys.path[:] = [ROOT] + path  # drop what tools/ prepended


def host_state() -> dict:
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    ticks = os.sysconf("SC_CLK_TCK")
    return {"loadavg": load, "steal_s": cpu[7] / ticks,
            "cpu_total_s": sum(cpu) / ticks}


def percentile_with_tail(samples: list[float], min_beyond: int = 10):
    """Highest percentile with at least ``min_beyond`` samples above it,
    as (percentile, value), or None if the sample is too small."""
    n = len(samples)
    if n <= min_beyond:
        return None
    s = sorted(samples)
    idx = n - min_beyond - 1
    return round(100.0 * (idx + 1) / n, 1), s[idx]


def timed_phase(wl, ctx, seconds: float, rng: random.Random) -> dict:
    passes, steal, ops = [], [], []
    ncpu = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    while True:
        s0 = host_state()["steal_s"]
        wl.before_pass(ctx)
        order = wl.ops()
        if not wl.ordered:
            rng.shuffle(order)
        p0 = time.perf_counter()
        for name in order:
            o0 = time.perf_counter()
            err = None
            try:
                with ctx.span("op", op=name, pass_no=len(passes)):
                    wl.run_op(ctx, name)
            except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
                err = traceback.format_exc(limit=3)
            ops.append({"op": name, "pass": len(passes),
                        "s": time.perf_counter() - o0, "error": err})
        passes.append(time.perf_counter() - p0)
        steal.append(host_state()["steal_s"] - s0)
        kept = [i for i, (p, st) in enumerate(zip(passes, steal))
                if st <= STEAL_SHARE * ncpu * p]
        if (time.perf_counter() - t0 >= seconds
                and (len(kept) >= MIN_PASSES
                     or len(passes) >= MIN_PASSES + MAX_EXTRA_PASSES)):
            kept = kept or list(range(len(passes)))
            return {"passes": passes, "steal_s": steal, "kept": kept,
                    "ops": ops, "wall_s": statistics.median([passes[i] for i in kept]),
                    "lat": [o["s"] for o in ops if o["pass"] in kept]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["reports", "iterative", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "pipelines_rj_sms_spark"))):
        print(f"perfbench: no smspark source tree at {ROOT}", file=sys.stderr)
        return 2

    # on SIGTERM, still stop Spark and remove this run's files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    nproc = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc))
    run_dir = os.path.join(OUT_DIR, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    env = {"nproc": nproc, "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
           "python": platform.python_version(), "before": host_state()}
    try:
        return _run(args, env, run_dir, tmp)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, env, run_dir: str, tmp: str) -> int:
    setup = {}
    t = time.perf_counter()
    mods = Mods()
    setup["imports_s"] = time.perf_counter() - t
    t = time.perf_counter()
    spark = mods.session.get_spark("perfbench", extra_conf={
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    setup["get_spark_s"] = time.perf_counter() - t
    gateway = spark.sparkContext._gateway
    try:
        spark.sparkContext.setLogLevel("ERROR")
        t = time.perf_counter()
        mods.session.load_tables(spark, DATA_DIR)
        setup["load_tables_s"] = time.perf_counter() - t

        wl = workloads.make(args.workload)
        ctx = workloads.Ctx(spark, mods, DATA_DIR, run_dir, args.seed)
        t = time.perf_counter()
        wl.prepare(ctx)  # input generation: not part of set-up
        setup["prepare_s"] = time.perf_counter() - t
        t = time.perf_counter()
        spark.range(1).write.format("noop").mode("overwrite").save()
        wl.warmup(ctx)
        setup["warmup_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - T_START - setup["prepare_s"]

        result = {"workload": args.workload, "seed": args.seed,
                  "seconds": args.seconds, "trace": args.trace,
                  "setup_s": setup_s, "setup": setup}
        rng = random.Random(args.seed)
        timed = timed_phase(wl, ctx, args.seconds, rng)
        if args.trace:
            tracer = Tracer(spark)
            tracer.install()
            tracer.listen()
            ctx.tracer = tracer
            j_lo = tracer.job_id()
            try:
                traced = timed_phase(wl, ctx, args.seconds, rng)
            finally:
                ctx.tracer = None
                tracer.unlisten()
                tracer.uninstall()
            jobs, stages = tracer.spark_records(j_lo, tracer.job_id())
            attribute(tracer.spans, jobs, stages)
            result["queries_outside_spans"] = attribute_queries(
                tracer.spans, tracer.queries, tracer.epoch)

        problems = wl.check(ctx)
        last = traced if args.trace else timed  # the phase the table check saw
        failed_ops = [o for phase in ([timed, traced] if args.trace else [timed])
                      for o in phase["ops"]
                      if o["error"] or o["op"] in problems
                      or ("table" in problems and phase is last
                          and o["pass"] == len(last["passes"]) - 1)]
        lat = timed["lat"]
        wall_s = timed["wall_s"]
        result.update({
            "wall_s": wall_s, "passes": timed["passes"], "ops": timed["ops"],
            "pass_steal_s": timed["steal_s"], "kept_passes": timed["kept"],
            "op_p50_s": statistics.median(lat),
            "op_tail": percentile_with_tail(lat), "check": problems,
        })
        e2e = {"setup_s": setup_s, "wall_s": wall_s,
               "op_p50_s": result["op_p50_s"]}
        metrics = {k: (e2e[k], "s") for k in _declared("end_to_end")}
        if args.workload == "ingest":
            result["rows_per_pass"] = wl.inputs.rows_per_pass
            result["rows_per_s"] = wl.inputs.rows_per_pass / wall_s
        if args.trace:
            layers = _layer_metrics(tracer, traced, jobs, stages, setup, wl,
                                    wall_s, spark)
            result.update({"traced_passes": traced["passes"],
                           "traced_ops": traced["ops"], "layers": layers,
                           "spans": tracer.spans, "epoch": tracer.epoch})
            metrics = {k: layers[k] for k in _declared("per_layer")}
        attempted = len(timed["ops"]) + (len(traced["ops"]) if args.trace else 0)
    finally:
        try:
            env.update(_jvm_versions(spark))
        finally:
            _stop(spark, gateway)

    env["after"] = host_state()
    result["env"] = env
    os.makedirs(OUT_DIR, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(OUT_DIR, name), "w") as f:
        json.dump(result, f, indent=1, default=str)
    line = {"correct": not failed_ops and not problems,
            "attempted": attempted, "failed": len(failed_ops),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    print(json.dumps(line))
    return 0


def _layer_metrics(tracer, traced, jobs, stages, setup, wl, untraced_wall, spark):
    """Per-layer metrics of the traced timed phase, per pass."""
    spans = tracer.spans
    n_pass = len(traced["passes"])
    roll = rollup(spans, stages)
    out = {k: (v / n_pass, _unit(k)) for k, v in roll.items()}
    traced_wall = traced["wall_s"]
    out.update({
        "session.get_spark_s": (setup["get_spark_s"], "s"),
        "session.load_tables_s": (setup["load_tables_s"], "s"),
        "setup.imports_s": (setup["imports_s"], "s"),
        "setup.warmup_s": (setup["warmup_s"], "s"),
        "cache.live_after_op": (wl.live_after_op, "count"),
        "cache.peak_storage_bytes": (wl.peak_storage, "bytes"),
        "jvm.peak_rss_mb": (_jvm_rss_mb(spark), "MB"),
        "trace.wall_s": (traced_wall, "s"),
        "trace.overhead_pct": (100.0 * (traced_wall / untraced_wall - 1), "%"),
    })
    out.update(_ingest_metrics(spans, jobs, stages, wl, n_pass))
    return out


def _declared(kind: str) -> list[str]:
    """Metric names BENCHMARK.json declares for ``kind``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)[kind]]


def _unit(key: str) -> str:
    if key.endswith("_s") or key.endswith(".s"):
        return "s"
    return "bytes" if key.endswith("_bytes") else "count"


def _ingest_metrics(spans, jobs, stages, wl, n_pass) -> dict:
    """Per-load job and scan counts, and what the table holds on disk.
    Zero on the query workloads, which never load."""
    loads = [s for s in spans if s["name"] == "load"]
    merges = [s for s in spans if s["name"] == "upsert"]

    def jobs_in(span_list):
        return sum(s["j1"] - s["j0"] for s in span_list)

    source_scans = table_scans = 0
    for load in loads:
        write_end = max((s["j1"] for s in spans if s["name"] == "sinks.lakehouse.write_table"
                         and load["j0"] <= s["j0"] < load["j1"]), default=load["j1"])
        for jid in range(load["j0"], load["j1"]):
            if jid in jobs and any(stages.get(st, {}).get("input_bytes", 0)
                                   for st in jobs[jid]["stages"]):
                if jid < write_end:
                    source_scans += 1
                else:
                    table_scans += 1
    def span_s(prefix):
        """Inclusive time of spans named ``prefix*``, outermost only."""
        hit = [s["name"].startswith(prefix) for s in spans]
        total = 0.0
        for s, h in zip(spans, hit):
            p = s["parent"]
            while p is not None and not hit[p]:
                p = spans[p]["parent"]
            if h and p is None:
                total += s["t1"] - s["t0"]
        return total / n_pass

    n_load, n_merge = max(len(loads), 1), max(len(merges), 1)
    files, size = wl.table_files() if hasattr(wl, "table_files") else (0, 0)
    return {
        "ingest.jobs_per_load": (jobs_in(loads) / n_load, "count"),
        "ingest.source_scans_per_load": (source_scans / n_load, "count"),
        "ingest.table_scans_per_load": (table_scans / n_load, "count"),
        "lakehouse.write_table.jobs": (
            jobs_in([s for s in spans if s["name"] == "sinks.lakehouse.write_table"])
            / n_load, "count"),
        "lakehouse.merge_upsert.jobs": (jobs_in(merges) / n_merge, "count"),
        "lakehouse.files_written": (files, "count"),
        "lakehouse.bytes_written": (size, "bytes"),
        "ingest.read_s": (span_s("sources."), "s"),
        "ingest.conform_s": (span_s("operators.conform."), "s"),
        "lakehouse.write_table_s": (span_s("sinks.lakehouse.write_table"), "s"),
        "checks.s": (span_s("quality."), "s"),
        "lakehouse.read_table_s": (span_s("sinks.lakehouse.read_table"), "s"),
        "lakehouse.merge_upsert_s": (span_s("sinks.lakehouse.merge_upsert"), "s"),
    }


def _jvm_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _jvm_versions(spark) -> dict:
    import pyspark

    out = {"pyspark": pyspark.__version__}
    if spark is not None:
        out["jvm"] = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
        out["spark"] = spark.version
    return out


def _stop(spark, gateway) -> None:
    """Stop Spark and wait until its JVM (and the Python workers it
    started) have exited."""
    proc = gateway.proc
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
