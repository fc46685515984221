#!/usr/bin/env python3
"""spark-graft benchmark: one closed-loop workload per process.

    python3 perfbench/run.py --workload wc_chunks --seed 1 --seconds 15 --trace 0

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` is a
separate run that splits each request across the program's layers and
Spark's engine layers (see perfbench/README.md). The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
Run from the root of a checkout of the repository.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM = (
    "__spark_entry__.py", "mapreduceece563_spark/registry.py",
    "tests/conftest.py",
)
WORKLOAD_NAMES = ("wc_chunks", "registry_mix")
DEFAULT_SEED = 1


def pin_environment(work: str) -> dict[str, str]:
    """Pin the engine's environment for this process and the JVM and
    Python workers it starts. Program code reads these; it is never
    edited to set them."""
    cpus = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    mem = f"{max(1, min(4, int(ram_gb // 3)))}g"
    pins = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": mem,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{mem}' "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            "--conf spark.ui.showConsoleProgress=false "
            "pyspark-shell"
        ),
    }
    os.environ.update(pins)
    return pins


def p50(xs: list[float]) -> float:
    return statistics.median(xs)


def start_session(tracer=None, parent=None):
    """The program's session factory, timed."""
    from mapreduceece563_spark.session import DEFAULT_CPUS, get_spark

    t0 = time.time()
    spark = get_spark("perfbench", cpus=DEFAULT_CPUS)
    if tracer is not None:
        tracer.add("session.get_spark", "session", t0, time.time(), parent)
    return spark, time.time() - t0


def stop_session(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def untraced(args, pins) -> tuple[dict, dict, list[str]]:
    from workloads import WORKLOADS, Ops, closed_loop, log

    ops = Ops()
    t_import = time.time() - PROCESS_START
    spark, start_s = start_session()
    try:
        wl = WORKLOADS[args.workload](spark, args.work, args.seed, args.smoke)
        wl.setup(ops)
        setup_s = time.time() - PROCESS_START
        log(f"setup {setup_s:.2f} s = imports {t_import:.2f} + session "
            f"{start_s:.2f} + fixtures/checks/warm "
            f"{setup_s - t_import - start_s:.2f}")
        lat = closed_loop(wl, ops, args.seconds)
        units = wl.units_per_request()
    finally:
        stop_session(spark)
    metrics = {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (p50(lat), "s"),
        "throughput_qps": (len(lat) / sum(lat), "1/s"),
    }
    name, unit = WORKLOADS[args.workload].unit
    lines = [
        f"{args.workload}/setup_s {setup_s:.4f} s",
        f"{args.workload}/latency_p50_s {p50(lat):.4f} s",
        f"{args.workload}/{name} {units * len(lat) / sum(lat):.4f} {unit}",
        f"requests {len(lat)}",
        "latencies_s " + " ".join(f"{x:.3f}" for x in lat),
    ]
    return metrics, {"attempted": ops.attempted, "failed": ops.failed,
                     "errors": ops.errors}, lines


def traced(args, pins) -> tuple[dict, dict, list[str]]:
    from telemetry import RequestTrace, Tracer
    from workloads import WORKLOADS, Ops, closed_loop

    ops = Ops()
    tracer = Tracer()
    run = tracer.add(f"run {args.workload}", "client", PROCESS_START, None)
    setup = tracer.add("setup", "client", PROCESS_START, None, run)
    spark, start_s = start_session(tracer, setup)
    cores = int(pins["SPARK_GRAFT_CPUS"])
    try:
        wl = WORKLOADS[args.workload](spark, args.work, args.seed, args.smoke)
        wl.setup(ops)
        tracer.spans[setup]["end"] = time.time()
        half = args.seconds / 2
        plain = closed_loop(wl, ops, half)
        measure = tracer.add("traced requests", "client", time.time(), None, run)
        rt = RequestTrace(spark, tracer, measure)
        lat = closed_loop(wl, ops, half, rt)
        rt.close()
        tracer.spans[measure]["end"] = time.time()
        post = tracer.add("after requests", "client", time.time(), None, run)
        load_s = time_table_loads(spark, wl, tracer, post)
        from mapreduceece563_spark import cachemgr

        t0 = time.time()
        released = cachemgr.release_session_caches()
        tracer.add("cachemgr.release_session_caches", "cachemgr", t0,
                   time.time(), post)
        release_s = time.time() - t0
        tracer.spans[post]["end"] = time.time()
    finally:
        stop_session(spark)
    tracer.spans[run]["end"] = time.time()
    metrics = layer_metrics(rt.records, tracer, cores)
    metrics.update({
        "session.start_s": (start_s, "s"),
        "sources.load_table_s": (load_s, "s"),
        "cache.release_s": (release_s, "s"),
        "cache.released": (released, "count"),
        "trace.untraced_p50_s": (p50(plain), "s"),
        "trace.traced_p50_s": (p50(lat), "s"),
        "trace.overhead_s": (p50(lat) - p50(plain), "s"),
        "trace.spans": (len(tracer.spans), "count"),
    })
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
    tracer.dump(path)
    lines = [f"{args.workload}/{k} {v:.6g} {u}" for k, (v, u) in metrics.items()]
    lines.append(f"spans written to {os.path.relpath(path, ROOT)}")
    return metrics, {"attempted": ops.attempted, "failed": ops.failed,
                     "errors": ops.errors}, lines


def time_table_loads(spark, wl, tracer, parent) -> float:
    """Direct calls into the catalog, one per table the workload reads."""
    from mapreduceece563_spark.sources.catalog import load_table

    total = 0.0
    for t in sorted(wl.tables_read):
        t0 = time.time()
        load_table(spark, wl.sf_dir, t)
        tracer.add(f"sources.load_table {t}", "sources", t0, time.time(), parent)
        total += time.time() - t0
    return total


# per-layer metric -> (per-request counter, unit)
_MEANS = {
    "registry.build_s": ("build_s", "s"),
    "catalyst.analysis_ms": ("catalyst.analysis_ms", "ms"),
    "catalyst.optimization_ms": ("catalyst.optimization_ms", "ms"),
    "catalyst.planning_ms": ("catalyst.planning_ms", "ms"),
    "sched.exec_s": ("exec_s", "s"),
    **{k: (k, "count") for k in (
        "plan.scans", "plan.exchanges", "plan.bhj", "plan.smj",
        "plan.codegen_stages", "sched.jobs", "sched.stages", "sched.tasks",
        "sched.failed_tasks", "scan.files", "shuffle.write_records",
        "cache.entries", "stream.batches", "stream.input_rows",
        "stream.state_rows", "sink.files", "sink.rows",
    )},
    **{k: (k, "bytes") for k in (
        "scan.bytes", "shuffle.write_bytes", "shuffle.read_bytes",
        "agg.peak_mem_bytes", "spill.bytes", "python.sent_bytes",
        "python.returned_bytes", "cache.mem_bytes", "stream.state_mem_bytes",
        "sink.bytes",
    )},
    **{k: (k, "ms") for k in (
        "scan.time_ms", "shuffle.fetch_wait_ms", "agg.build_ms",
        "python.exec_ms", "stream.trigger_ms", "stream.add_batch_ms",
        "stream.get_batch_ms", "stream.latest_offset_ms",
        "stream.query_planning_ms", "stream.wal_commit_ms",
        "stream.commit_offsets_ms", "stream.state_commit_ms",
    )},
    "stream.outside_batch_s": ("stream.outside_batch_s", "s"),
}
SELF_LAYERS = (
    "client", "registry", "functions", "plans", "catalyst", "operators",
    "streaming", "spark.job", "spark.stage",
)


def layer_metrics(records: list[dict], tracer, cores: int) -> dict:
    n = len(records)

    def total(key: str, among: list[dict] = records) -> float:
        return sum(r.get(key, 0) for r in among)

    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    out = {name: (total(key) / n, unit) for name, (key, unit) in _MEANS.items()}
    wall = total("wall_s")
    task_ms = total("sched.task_ms")
    out["sched.task_busy_ratio"] = (ratio(task_ms / 1000, wall * cores), "ratio")
    out["agg.combine_ratio"] = (
        ratio(total("agg.shuffle_records"), total("agg.rows_in")), "ratio")
    out["cache.hit_share"] = (total("cache.hits") / n, "ratio")
    # over batch requests only: a streaming entry's build drains its
    # source, so its build span holds the micro-batch execution too
    batch = [r for r in records if not r.get("stream.batches")]
    catalyst_s = (total("catalyst.optimization_ms", batch)
                  + total("catalyst.planning_ms", batch)) / 1000
    out["share.build_catalyst"] = (
        ratio(total("build_s", batch) + catalyst_s, total("wall_s", batch)),
        "ratio")
    out["share.scan_stage_task"] = (
        ratio(total("task_ms.scan_stages"), task_ms), "ratio")
    out["share.shuffle_stage_task"] = (
        ratio(total("task_ms.shuffle_read_stages"), task_ms), "ratio")
    self_s = tracer.self_seconds(lambda s: s["rid"] is not None)
    for layer in SELF_LAYERS:
        out[f"self.{layer}_s"] = (self_s.get(layer, 0.0) / n, "s")
    out["trace.requests"] = (n, "count")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001 and the shortest run: two passes (self-test mode)")
    args = ap.parse_args(argv)
    missing = [p for p in PROGRAM if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program not found under {ROOT}: {missing}",
              file=sys.stderr)
        return 2
    if args.smoke:
        args.seconds = 0
    args.work = os.path.join(ROOT, ".perfbench_work",
                             f"{args.workload}-{os.getpid()}")
    shutil.rmtree(args.work, ignore_errors=True)
    # JVM and library output on fd 1 would break the last-line JSON result:
    # route fd 1 to stderr and keep the real stdout for the results
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    try:
        pins = pin_environment(args.work)
        # tests/ for the suite's oracle comparison (conftest.assert_frames_match)
        sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]
        import importlib.util

        spec = importlib.util.spec_from_file_location(
            "__spark_entry__", os.path.join(ROOT, "__spark_entry__.py"))
        spec.loader.exec_module(importlib.util.module_from_spec(spec))
        run = traced if args.trace else untraced
        metrics, ops, lines = run(args, pins)
    finally:
        shutil.rmtree(args.work, ignore_errors=True)
    result = {
        "correct": ops["failed"] == 0,
        "attempted": ops["attempted"],
        "failed": ops["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    report = [
        "pinned " + " ".join(f"{k}={v}" for k, v in pins.items()
                             if k != "PYSPARK_SUBMIT_ARGS"),
        f"workload {args.workload} seed {args.seed} trace {args.trace}",
        *lines,
        f"ops.attempted {ops['attempted']}",
        f"ops.failed {ops['failed']}",
        *(f"error {e}" for e in ops["errors"]),
        json.dumps(result),
    ]
    os.write(real_stdout, ("\n".join(report) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
