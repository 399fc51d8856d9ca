"""Driver work repeated per round of the analytics_read query mix.

Runs the 13 queries of perfbench's ``analytics_read`` workload (same names,
same ``toPandas`` materialization, ``clearCache`` after each) for a few
rounds in one session and prints, per round: wall seconds, Spark jobs,
parquet schema-inference jobs (jobs whose stage is named ``parquet at ...``,
the footer read ``spark.read.parquet`` starts when no schema is given), and
the Janino compilations and compile milliseconds the round added. Round 1 is
the cold round; a mix that reuses its driver work shows 0 inference jobs and
0 compilations from round 2 on.

Usage::

    SPARK_GRAFT_CPUS=4 SPARK_GRAFT_DRIVER_MEM=3g \\
        python tools/driver_work_probe.py [--rounds 3] [--seed 1] [--data-dir DIR]

Without ``--data-dir`` the inputs are generated from ``--seed`` with
``perfbench/datagen.py`` (the benchmark's own sf0.1-size tables) into a
temporary directory that is removed at the end. The last stdout line is one
JSON object with the per-round figures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]


def _codegen(spark) -> tuple[int, float]:
    """(classes compiled, compile ms) since the JVM started."""
    jvm = spark._jvm.org.apache.spark
    count = jvm.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(count), ns / 1e6


def _jobs(spark, group: str) -> tuple[int, int]:
    """(jobs, schema-inference jobs) started under the job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    inference = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        stages = [tracker.getStageInfo(s) for s in (info.stageIds if info else ())]
        if any(s is not None and s.name.startswith("parquet at ") for s in stages):
            inference += 1
    return len(jobs), inference


def run(spark, data_dir: str, rounds: int) -> list[dict]:
    from sport_data_pipeline_spark.plans import all_queries
    from workloads import AnalyticsRead

    specs = all_queries()
    sc = spark.sparkContext
    out = []
    for r in range(1, rounds + 1):
        group = f"driver_work_probe-{r}"
        c0, ms0 = _codegen(spark)
        t0 = time.time()
        sc.setJobGroup(group, group)
        try:
            for name in AnalyticsRead.queries:
                specs[name].fn(spark, data_dir).toPandas()
                spark.catalog.clearCache()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        seconds = time.time() - t0
        c1, ms1 = _codegen(spark)
        jobs, inference = _jobs(spark, group)
        row = {"round": r, "seconds": round(seconds, 2), "jobs": jobs,
               "inference_jobs": inference, "compilations": c1 - c0,
               "compile_ms": round(ms1 - ms0, 1)}
        print("driver_work_probe: " + " ".join(f"{k}={v}" for k, v in row.items()),
              file=sys.stderr)
        out.append(row)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--data-dir")
    args = ap.parse_args()

    import datagen
    from sport_data_pipeline_spark.session import get_session

    tmp = None
    data_dir = args.data_dir
    if data_dir is None:
        tmp = tempfile.mkdtemp(prefix="driver_work_probe_")
        data_dir = tmp
        datagen.write_star_schema(data_dir, args.seed)
        datagen.write_corpus(data_dir, args.seed)
    spark = get_session(
        "driver_work_probe", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        rows = run(spark, data_dir, args.rounds)
    finally:
        spark.stop()
        if tmp is not None:
            shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"rounds": rows}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
