"""Run-to-run steadiness check and baseline recorder.

    python3 lifecycle_bench/spread.py --workload block_global --runs 10 \
        --summary lifecycle_bench/baseline_4core.json

Runs the benchmark ``--runs`` times with seeds 1..runs and prints for
every metric its median and the quartile spread as a share of the
median (``statistics.quantiles(values, n=4)``), next to its bound from
BENCHMARK.json; a spread under a third of the bound is steady. With
``--summary`` the values, medians and spreads are merged into that JSON
file under the workload's name (``<workload>.trace`` for ``--trace 1``
runs), and once a workload has both, its tracing overhead: the median
traced iteration time over the median plain ``job_s``, minus one.
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

from stats import quartile_spread  # noqa: E402


def merge_summary(path: str, key: str, values: dict) -> None:
    summary = {}
    if os.path.exists(path):
        with open(path) as fh:
            summary = json.load(fh)
    summary[key] = {name: {"median": statistics.median(vs),
                           "spread": quartile_spread(vs), "values": vs}
                    for name, vs in values.items()}
    for name, m in summary.items():
        traced = summary.get(name + ".trace", {}).get("iter.job_s_traced")
        if traced and "job_s" in m:
            m["tracing_overhead_frac"] = (traced["median"]
                                          / m["job_s"]["median"] - 1)
    with open(path, "w") as fh:
        json.dump(summary, fh, indent=1, sort_keys=True)
        fh.write("\n")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--summary")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    values: dict[str, list[float]] = {}
    for seed in range(1, args.runs + 1):
        cmd = [*spec["command"], "--workload", args.workload, "--seed",
               str(seed), "--seconds", str(spec["run_seconds"]),
               "--trace", str(args.trace)]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}", file=sys.stderr)
            return 1
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']}", flush=True)
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for name, vs in values.items():
        print(f"{name:44s} median={statistics.median(vs):<14.6g} "
              f"spread={quartile_spread(vs):.4f} "
              f"bound={bounds.get(name, '-')}")
    if args.summary:
        merge_summary(args.summary,
                      args.workload + (".trace" if args.trace else ""),
                      values)
    return 0


if __name__ == "__main__":
    sys.exit(main())
