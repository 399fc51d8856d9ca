"""Benchmark of record for sport_data_pipeline_spark.

    python3 perfbench/run.py --workload analytics_read --seed 1 --seconds 5 --trace 0

Runs one workload (see BENCHMARK.json and perfbench/README.md) in this
process against the package in the checkout that holds this file, and
prints as its last stdout line one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). A readable table and the machine
state go to stderr; spans are written to ``perfbench/.results``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "op_geomean_s": "s",
    "throughput": "1/s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.tasks": "count",
    "session.scheduler_delay_s": "s",
    "catalog.scan_bytes": "bytes",
    "catalog.scan_rows": "count",
    "plans.build_s": "s",
    "operators.shuffle_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.cpu_s": "s",
    "operators.gc_s": "s",
    "joins.exec_s": "s",
    "windows.exec_s": "s",
    "bronze.rows_in": "count",
    "bronze.rows_rejected": "count",
    "streaming.add_batch_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.planning_s": "s",
    "streaming.commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.late_rows_dropped": "count",
    "checkpointing.s": "s",
    "sinks.write_s": "s",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "sinks.target_files": "count",
    "merge.write_amplification": "ratio",
    "engine.standings_s": "s",
    "engine.team_form_s": "s",
    "engine.head_to_head_s": "s",
    "engine.league_analytics_s": "s",
    "dedup.minhash_jaccard_neardup_s": "s",
    "dedup.incremental_dedup_indexed_s": "s",
    "dedup.embedding_topk_s": "s",
    "dedup.scan_bytes": "bytes",
    "dedup.scan_rows": "count",
    "dedup.shuffle_bytes": "bytes",
    "dedup.spill_bytes": "bytes",
    "dedup.cpu_s": "s",
    "dedup.gc_s": "s",
    "dedup.pairs_out": "count",
    "trace.op_geomean_s": "s",
}


def pin_environment(work: str) -> None:
    """Keep every file the run writes inside ``work`` and size Spark for a
    small shared machine. Must run before pyspark starts its JVM."""
    from harness import DRIVER_MEM, cpus

    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python workers import the package from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def run_phase(w, proc, seconds: float, rng, tracer, failures, extra_conf=None) -> dict:
    """One session: start, warm-up round, then whole measured rounds until
    ``seconds`` have passed."""
    from workloads import Failures

    t0 = time.time()
    spark = proc.start_session(extra_conf)
    started = time.time()
    w.prepare(spark)
    w.round(spark, rng, tracer, Failures(), warm_up=True)
    lo, units, rounds = time.time(), 0, 0
    while True:
        units += w.round(spark, rng, tracer, failures)
        rounds += 1
        if time.time() - lo >= seconds:
            break
    return {"spark": spark, "session_start": started - t0, "setup": (t0, lo),
            "window": (lo, time.time()), "units": units, "rounds": rounds}


def op_geomean(tracer, since: float, seconds) -> float:
    return statistics.geometric_mean(
        seconds(s.start, s.end) for s in tracer.spans if s.layer == "op" and s.start >= since)


def end_to_end(tracer, phase: dict, rss_mb: float, steal) -> dict:
    """The end-to-end metrics, with the CPU time the host stole from the
    machine taken out of every interval (see ``StealMeter``)."""
    lo, hi = phase["window"]
    return {
        "setup_s": steal.unstolen(*phase["setup"]),
        "op_geomean_s": op_geomean(tracer, lo, steal.unstolen),
        "throughput": phase["units"] / steal.unstolen(lo, hi),
        "peak_rss_mb": rss_mb,
    }


def wall_clock(tracer, phase: dict) -> dict:
    """The same timings as read from the clock, with stolen time left in."""
    lo, hi = phase["window"]
    return {
        "setup_s": phase["setup"][1] - phase["setup"][0],
        "op_geomean_s": op_geomean(tracer, lo, lambda a, b: b - a),
        "throughput": phase["units"] / (hi - lo),
    }


def per_layer(tracer, phase: dict, s, specific: dict, steal) -> dict:
    """Metrics every workload has, from the traced loop's spans and event
    log ``s``; ``specific`` holds the workload's own (0 for layers it
    lacks). Task figures are per measured round; ``dedup.*`` ones cover the
    near-duplicate queries' jobs, ``catalog.*``, ``operators.*``, ``joins.*``
    and ``windows.*`` the jobs of every other operation."""
    from workloads import DEDUP_QUERIES

    window = phase["window"]
    rounds = phase["rounds"]

    def other(op):
        return op not in DEDUP_QUERIES

    def dedup(op):
        return op in DEDUP_QUERIES

    def task(attr, scale=1.0, **where):
        return s.total(attr, **where) * scale / rounds

    m = {name: 0.0 for name in PER_LAYER}
    m.update(specific)
    m.update({
        "session.start_s": phase["session_start"],
        "session.tasks": task("tasks"),
        "session.scheduler_delay_s": task("scheduler_delay_ms", 1e-3),
        "catalog.scan_bytes": task("input_bytes", op=other),
        "catalog.scan_rows": task("input_rows", op=other),
        "plans.build_s": statistics.median(tracer.seconds("plans", since=window[0])),
        "operators.shuffle_bytes": task("shuffle_bytes", op=other, layer="operators"),
        "operators.spill_bytes": task("spill_bytes", op=other, layer="operators"),
        "operators.cpu_s": task("cpu_ns", 1e-9, op=other, layer="operators"),
        "operators.gc_s": task("gc_ms", 1e-3, op=other, layer="operators"),
        "joins.exec_s": task("run_ms", 1e-3, op=other, layer="operators", kind="joins"),
        "windows.exec_s": task("run_ms", 1e-3, op=other, layer="operators", kind="windows"),
        "checkpointing.s": s.busy_ms("checkpointing") / 1000 / rounds,
        "sinks.write_s": s.busy_ms("sinks") / 1000 / rounds,
        "sinks.bytes_written": task("output_bytes", layer="sinks"),
        "sinks.files_written": task("output_tasks", layer="sinks"),
        "dedup.scan_bytes": task("input_bytes", op=dedup),
        "dedup.scan_rows": task("input_rows", op=dedup),
        "dedup.shuffle_bytes": task("shuffle_bytes", op=dedup),
        "dedup.spill_bytes": task("spill_bytes", op=dedup),
        "dedup.cpu_s": task("cpu_ns", 1e-9, op=dedup),
        "dedup.gc_s": task("gc_ms", 1e-3, op=dedup),
        "trace.op_geomean_s": op_geomean(tracer, window[0], steal.unstolen),
    })
    if m["bronze.rows_in"]:
        m["merge.write_amplification"] = task("output_rows", layer="sinks") / m["bronze.rows_in"]
    return m


def measure(args, work: str) -> dict:
    import numpy as np

    from eventlog import summarize
    from harness import SparkProcess, StealMeter, Tracer, machine_state, vm_hwm_mb
    from workloads import WORKLOADS, Failures

    state = machine_state()
    print(f"perfbench: machine {json.dumps(state)}", file=sys.stderr)
    w = WORKLOADS[args.workload](os.path.join(work, "data"), args.seed)
    w.generate()
    rng = np.random.default_rng(args.seed)
    tracer, failures = Tracer(), Failures()
    proc = SparkProcess(work)
    log_dir = os.path.join(work, "eventlog")
    conf = None
    if args.trace:
        os.makedirs(log_dir)
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    try:
        with StealMeter() as steal:
            phase = run_phase(w, proc, args.seconds, rng, tracer, failures, conf)
        lo, hi = phase["window"]
        state["steal_pct"] = 100.0 * steal.share(phase["setup"][0], hi)
        if args.trace:
            spark = phase["spark"]
            app_id = spark.sparkContext.applicationId
            specific = w.layer_metrics(spark, tracer, phase["window"], phase["rounds"])
            proc.stop_session()  # flushes the event log
            with open(os.path.join(log_dir, app_id)) as f:
                summary = summarize(f, (lo * 1000, hi * 1000))
            metrics = per_layer(tracer, phase, summary, specific, steal)
        else:
            metrics = end_to_end(tracer, phase, vm_hwm_mb(proc.jvm_pid), steal)
            state["wall_clock"] = wall_clock(tracer, phase)
    finally:
        proc.shutdown()
    print(f"perfbench: run {json.dumps(state)}", file=sys.stderr)
    correct = w.check()
    if not correct:
        failures.failed = failures.attempted
    write_spans(args, tracer, state, metrics, correct)
    units = PER_LAYER if args.trace else END_TO_END
    return {
        "correct": correct,
        "attempted": failures.attempted,
        "failed": failures.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def write_spans(args, tracer, state, metrics, correct) -> None:
    out = os.path.join(HERE, ".results")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump({"args": vars(args), "machine": state, "correct": correct,
                   "metrics": metrics, "spans": tracer.dump()}, f)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("analytics_read", "live_upsert"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sport_data_pipeline_spark", "__init__.py")):
        print("perfbench: sport_data_pipeline_spark not found next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    pin_environment(work)
    try:
        result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for k, v in result["metrics"].items():
        print(f"perfbench: {args.workload:15s} {k:36s} {v['value']:>16.4f} {v['unit']}",
              file=sys.stderr)
    print(f"perfbench: {args.workload} correct={result['correct']} "
          f"attempted={result['attempted']} failed={result['failed']}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
