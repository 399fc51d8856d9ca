"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload live_upsert --seeds 1 2 3 4 5
    python3 perfbench/spread.py --workload live_upsert --seeds 1 2 3 --trace 1
    python3 perfbench/spread.py --workload live_upsert --seeds 1 2 3 --overhead

Each run is a fresh ``run.py`` process. For every metric the table gives
the median of the runs and the distance between their first and third
quartile as a share of the median; end-to-end metrics also show their
bound from BENCHMARK.json, and ``ok`` when the spread is below a third of
it. Each invocation writes its runs to a fresh
``perfbench/.results/spread-<workload>-<mode>.jsonl``.

``--overhead`` runs, for each seed in turn, an untraced and then a traced
run, and prints the tracing overhead: the median over the seeds of the
traced run's ``trace.op_geomean_s`` against the untraced run's
``op_geomean_s`` of the same seed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import iqr_share  # noqa: E402


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        print(proc.stderr[-3000:], file=sys.stderr)
        raise SystemExit(proc.returncode)
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    result.update(seed=seed, trace=trace)
    print(f"seed {seed} trace {trace}: correct={result['correct']} "
          f"failed={result['failed']}/{result['attempted']}", file=sys.stderr)
    return result


def report(runs: list[dict], bounds: dict[str, float]) -> None:
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        spread = iqr_share(values) if len(values) > 1 and statistics.median(values) else 0.0
        line = f"{name:36s} median {statistics.median(values):>14.4f}  spread {spread:7.2%}"
        if name in bounds:
            ok = "ok" if spread < bounds[name] / 3 else "WIDE"
            line += f"  bound {bounds[name]:.2f}  {ok}"
        print(line)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    mode = ap.add_mutually_exclusive_group()
    mode.add_argument("--trace", type=int, choices=(0, 1), default=0)
    mode.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out_dir = os.path.join(HERE, ".results")
    os.makedirs(out_dir, exist_ok=True)
    traces = (0, 1) if args.overhead else (args.trace,)
    name = "overhead" if args.overhead else f"trace{args.trace}"

    runs = []
    with open(os.path.join(out_dir, f"spread-{args.workload}-{name}.jsonl"), "w") as out:
        for seed in args.seeds:
            for trace in traces:
                runs.append(run(args.workload, seed, bench["run_seconds"], trace))
                out.write(json.dumps(runs[-1]) + "\n")
                out.flush()

    for trace in traces:
        report([r for r in runs if r["trace"] == trace], bounds)
    if args.overhead:
        ratios = [t["metrics"]["trace.op_geomean_s"]["value"] / u["metrics"]["op_geomean_s"]["value"]
                  for u, t in zip(runs[::2], runs[1::2])]
        print(f"tracing overhead: {100 * (statistics.median(ratios) - 1):+.1f}% "
              f"(median of {len(ratios)} traced/untraced pairs, "
              f"{', '.join(f'{100 * (r - 1):+.1f}%' for r in ratios)})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
