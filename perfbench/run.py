"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload llm_curation --seed 1 --seconds 15 --trace 0

Run from the repository root. The run generates (or reuses) the seeded
inputs under ``.perfbench/cache``, starts a ``local[<cores>]`` session
through ``get_spark``, sets the workload up, warms it with untimed ops,
then runs timed ops from one closed-loop client for at least ``--seconds``
seconds and checks every output. It prints a report line per section and,
last, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1`` (which also enables Spark's event log, job
groups, the py4j counter and spans). Exit code 0 means the run finished
(failed ops are counted); 1 means the workload could not be set up; 2
means the engine is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: End-to-end metrics of the last output line (BENCHMARK.json); the report
#: line before it carries every end-to-end metric of the workload.
END_TO_END = ("setup_s", "latency_p50_s", "ops_per_s")
PER_LAYER = (
    "session.start_s", "catalog.load_s", "catalog.loads",
    "plans.build_s", "plans.build_jobs", "plans.build_py4j_calls", "plans.driver_cpu_s",
    "plans.analysis_s", "plans.optimizer_s", "plans.planning_s", "plans.action_s",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.run_s", "exec.cpu_s", "exec.gc_s",
    "exec.scheduler_delay_s", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
    "exec.spill_bytes", "exec.input_bytes", "exec.input_rows", "exec.failed_tasks",
    "functions.python_cpu_s", "functions.python_rss_mb",
    "streaming.batch_s", "streaming.start_stop_s", "streaming.latest_offset_s",
    "streaming.query_planning_s", "streaming.wal_commit_s", "streaming.commit_offsets_s",
    "operators.merge_s", "operators.denorm_upsert_s", "sources.input_rows",
    "storage.bytes_written", "storage.files_written", "storage.live_bytes", "storage.live_files",
    "mem.jvm_rss_mb", "mem.driver_rss_mb",
)
UNITS = {"rows_per_s": "rows/s", "_per_s": "1/s", "_s": "s", "_mb": "MB", "_bytes": "bytes",
         "_rows": "rows", "_amp": "ratio", "_frac": "ratio"}
#: A whole run must end well inside the 180 s limit even on a slow box.
MAX_MEASURE_FACTOR = 4


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def process_age() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def emit(section: str, obj) -> None:
    print(json.dumps({"section": section, **obj}, sort_keys=True), flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("bi_mix", "incremental_etl", "llm_curation"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def settings(tmp: str) -> dict:
    return {
        "cores": cores(),
        "master": f"local[{cores()}]",
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "shuffle_dir": os.path.join(tmp, "spark-local"),
        "python": sys.version.split()[0],
    }


def spark_conf(tmp: str, trace: bool) -> dict[str, str]:
    """Keep every file Spark writes inside the run's temp dir."""
    conf = {
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(tmp, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(tmp, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.scheduler.listenerbus.eventqueue.capacity": "100000",
        })
    return conf


def stop_spark(spark) -> None:
    """Stop the session and the JVM and wait until both ended; pyspark
    workers exit with the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    _wait_children(timeout=30)


def _wait_children(timeout: float) -> None:
    from probes import descendants

    deadline = time.time() + timeout
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def quantile(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[int(q * 100) - 1]


def install_load_counter(ctx) -> None:
    """Bench-side wrapper around ``catalog.load_table``, installed in every
    engine module that imported it by name."""
    from serverless_etl_bi_on_aws_spark import catalog

    orig = catalog.load_table

    def load_table(spark, sf_dir, name):
        t0 = time.perf_counter()
        with ctx.tracer.span("catalog.load_table", ctx.cur.id):
            df = orig(spark, sf_dir, name)
        ctx.cur.layer["catalog.load_s"] += time.perf_counter() - t0
        ctx.cur.layer["catalog.loads"] += 1
        return df

    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("serverless_etl_bi_on_aws_spark") and \
                getattr(mod, "load_table", None) is orig:
            mod.load_table = load_table


def run(args) -> int:
    t_start = time.perf_counter() - process_age()
    work = os.path.join(ROOT, ".perfbench")
    cache, results = os.path.join(work, "cache"), os.path.join(work, "results")
    tmp = os.path.join(work, f"run-{os.getpid()}")
    for d in (cache, results, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        # every JVM, the spark-submit launcher included: no /tmp/hsperfdata
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_GRAFT_CACHE": os.path.join(tmp, "artifacts"),
        "PYSPARK_PYTHON": sys.executable,
    })
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    try:
        return _run(args, t_start, cache, results, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _run(args, t_start, cache, results, tmp) -> int:
    from probes import ProcSampler, Py4jCounter, Tracer, parse_event_log
    from workloads import WORKLOADS, Ctx, Op
    from serverless_etl_bi_on_aws_spark.session import get_spark

    trace = bool(args.trace)
    wl = WORKLOADS[args.workload]()
    tracer = Tracer(wl.name, trace)
    ctx = Ctx(wl.name, args.seed, trace, tracer, cache, tmp)
    t0 = time.perf_counter()
    wl.prepare(ctx)
    prep_s = time.perf_counter() - t0
    emit("settings", {"workload": wl.name, "seed": args.seed, "trace": args.trace,
                      "settings": settings(tmp), "prepare_s": prep_s})

    t0 = time.perf_counter()
    with tracer.span("session.get_spark", "setup"):
        spark = get_spark(app_name=f"perfbench-{wl.name}", extra_conf=spark_conf(tmp, trace))
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = spark
    ops: list[Op] = []
    setup_ok = False
    try:
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        with ProcSampler(jvm_pid) as sampler:
            if trace:
                ctx.py4j = Py4jCounter(spark)
                install_load_counter(ctx)
            setup_op = ctx.cur
            wl.setup(ctx)
            for _ in range(wl.warm_ops):
                wl.op(ctx, time.perf_counter)
            setup_s = time.perf_counter() - t_start - prep_s
            setup_ok = True
            t_measure = time.perf_counter()
            while True:
                ctx.cur = op = Op("?")
                cpu0 = sampler.cpu() if trace else None
                t_op = time.perf_counter()
                try:
                    with tracer.span("op") as rec:
                        wl.op(ctx, time.perf_counter)
                        if rec:
                            rec["op"] = op.id
                except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
                    traceback.print_exc()
                    op.ok = False
                    op.latency = op.latency or time.perf_counter() - t_op
                if trace:
                    op.layer["functions.python_cpu_s"] += sampler.cpu()["python"] - cpu0["python"]
                ops.append(op)
                elapsed = time.perf_counter() - t_measure
                if elapsed > args.seconds * MAX_MEASURE_FACTOR:
                    break
                if elapsed >= args.seconds and len(ops) >= wl.min_ops and wl.round_done():
                    break
            finish = wl.finish(ctx)
            sampler.sample()
    except Exception:  # noqa: BLE001 - reported, then the run fails
        traceback.print_exc()
        if not setup_ok:
            print(f"perfbench: workload {wl.name} could not be set up", file=sys.stderr)
            stop_spark(spark)
            return 1
        finish = {"finish_error": 1}
    finally:
        if ctx.py4j:
            ctx.py4j.close()
    stop_spark(spark)

    bad_finish = {k: v for k, v in finish.items() if v}
    failed = sum(not op.ok for op in ops)
    if bad_finish:
        failed = len(ops)  # a final-state mismatch cannot be pinned to one op
    lat = [op.latency for op in ops]
    busy = sum(lat)
    e2e = {
        "setup_s": (setup_s, 1),
        "latency_p50_s": (statistics.median(lat), len(lat)),
        "ops_per_s": (len(ops) / busy, len(ops)),
        "peak_rss_mb": (sampler.peak_mb("total"), 1),
        "failed_frac": (failed / len(ops), len(ops)),
    }
    if len(lat) >= 100:
        e2e["latency_p90_s"] = (quantile(lat, 0.9), len(lat))
    if wl.name == "bi_mix":
        e2e["queries_per_s"] = e2e["ops_per_s"]  # one op is one query
    else:
        e2e["rows_per_s"] = (sum(op.extra.get("staged_rows", 0) for op in ops) / busy, len(ops))
    if wl.name == "incremental_etl":
        raw = [op.extra.get("read_after_write_s", 0.0) for op in ops]
        e2e["read_after_write_p50_s"] = (statistics.median(raw), len(raw))
        e2e["write_amp"] = (sum(op.extra.get("bytes_written", 0) for op in ops)
                            / max(1, sum(op.extra.get("staged_bytes", 0) for op in ops)), len(ops))
    report = {k: {"value": v, "unit": unit_of(k), "n": n}
              for k, (v, n) in e2e.items()}
    emit("end_to_end", {"workload": wl.name, "metrics": report,
                        "unreported": {} if "latency_p90_s" in e2e else
                        {"latency_p90_s": f"needs >= 100 ops for 10 beyond p90, had {len(lat)}"},
                        "setup": {"session_s": session_s, "prepare_s": prep_s},
                        "breakdown_p50_s": breakdown(ops),
                        "latencies_s": lat,
                        "final_checks": finish})

    out = {"correct": failed == 0 and not bad_finish, "attempted": len(ops), "failed": failed}
    if not trace:
        out["metrics"] = {k: {"value": e2e[k][0], "unit": unit_of(k)} for k in END_TO_END}
        _save(results, wl.name, args.seed, 0, report)
    else:
        layer = per_layer(ops, sampler, session_s, tmp, parse_event_log)
        overhead, basis = tracing_overhead(results, wl.name, args.seed, e2e["latency_p50_s"][0])
        emit("per_layer", {"workload": wl.name, "metrics": layer,
                           "setup": dict(setup_op.layer),
                           "not_exercised": [k for k in PER_LAYER if k.startswith(wl.not_exercised)],
                           "tracing_overhead_frac": overhead, "tracing_overhead_basis": basis})
        emit("spans", {"workload": wl.name, "self_times": tracer.self_times()})
        with open(os.path.join(results, f"{wl.name}-{args.seed}-spans.json"), "w") as f:
            json.dump(tracer.spans, f)
        out["metrics"] = {k: {"value": v["value"], "unit": v["unit"]} for k, v in layer.items()}
    print(json.dumps(out), flush=True)
    return 0


def breakdown(ops) -> dict[str, float]:
    """Median seconds of each named part of an op (a query, a read)."""
    parts: dict[str, list[float]] = {}
    for op in ops:
        for k, v in op.extra.items():
            if k.endswith("_s"):
                parts.setdefault(k, []).append(v)
    return {k: statistics.median(v) for k, v in sorted(parts.items())}


def per_layer(ops, sampler, session_s, tmp, parse_event_log) -> dict:
    """Per-op means over the timed ops; peaks for memory."""
    from probes import EXEC_FIELDS

    log = parse_event_log(os.path.join(tmp, "eventlog"))
    n = len(ops)
    acc = dict.fromkeys(PER_LAYER, 0.0)
    for op in ops:
        for k, v in op.layer.items():
            acc[k] = acc.get(k, 0.0) + v
        ex = log.total(op.groups)
        for f in EXEC_FIELDS:
            acc[f"exec.{f}"] += ex[f]
        acc["plans.build_jobs"] += log.total(g for g in op.groups if g.endswith(":build"))["jobs"]
    out = {k: v / n for k, v in acc.items()}
    out["session.start_s"] = session_s
    out["mem.jvm_rss_mb"] = sampler.peak_mb("jvm")
    out["mem.driver_rss_mb"] = sampler.peak_mb("driver")
    out["functions.python_rss_mb"] = sampler.peak_mb("python")
    return {k: {"value": out.get(k, 0.0), "unit": unit_of(k)} for k in PER_LAYER}


def _save(results: str, wl: str, seed: int, trace: int, report: dict) -> None:
    with open(os.path.join(results, f"{wl}-{seed}-trace{trace}.json"), "w") as f:
        json.dump(report, f)


def tracing_overhead(results: str, wl: str, seed: int, traced_p50: float):
    """Traced over untraced ``latency_p50_s``, minus one: against the
    untraced run of the same seed when this checkout has one, else against
    the median of every untraced run of the workload it has."""
    same = os.path.join(results, f"{wl}-{seed}-trace0.json")
    if os.path.exists(same):
        paths, basis = [same], "untraced run of the same seed"
    else:
        paths = [os.path.join(results, f) for f in os.listdir(results)
                 if f.startswith(f"{wl}-") and f.endswith("-trace0.json")]
        basis = f"median of {len(paths)} untraced runs of other seeds"
    if not paths:
        return None, "no untraced run of this workload in this checkout yet"
    base = []
    for p in paths:
        with open(p) as f:
            base.append(json.load(f)["latency_p50_s"]["value"])
    return traced_p50 / statistics.median(base) - 1, f"latency_p50_s traced / untraced - 1; {basis}"


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    try:
        import serverless_etl_bi_on_aws_spark  # noqa: F401
        import tools.make_benchdata  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
