"""Interleaved parent/change pairs of ``lifecycle_bench/run.py``.

Pair ``i`` runs one workload on seed ``seeds[i]`` in both trees, one
after the other, alternating which tree goes first; every run is a
fresh process (its own JVM and Python workers). The record keeps each
run's end-to-end metrics (or, with ``--trace 1``, the per-layer ones
and the span tree) and its ``correct``/``failed`` verdict, then
summarizes each metric as median, min, quartile spread and ``n`` per
side, plus how many pairs the change won on it.

    python BENCH/lifecycle_ab.py --parent DIR --change DIR \\
        --workload grouped_skewed --seeds 21-30 --out FILE.json
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys

# end-to-end metrics where a lower value is better
LOWER = {"setup_s", "job_s", "bits_per_key", "fpp_ratio",
         "broadcast_bytes", "peak_rss_mb"}


def _run(tree: str, workload: str, seed: int, seconds: float,
         trace: int) -> dict:
    r = subprocess.run(
        [sys.executable, "lifecycle_bench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=tree, capture_output=True, text=True, timeout=1800)
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("{")]
    if r.returncode != 0 or not lines:
        return {"error": r.stderr[-2000:]}
    out = json.loads(lines[-1])
    out["metrics"] = {k: v["value"] for k, v in out["metrics"].items()}
    out["problems"] = [ln[len("FAILED: "):] for ln in r.stdout.splitlines()
                       if ln.startswith("FAILED: ")]
    if trace:  # the span tree, with each span's task time and shuffle
        out["spans"] = [ln for ln in r.stdout.splitlines()
                        if ln.startswith("span ")]
    return out


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _summary(xs: list[float]) -> dict:
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return {"median": statistics.median(xs), "min": min(xs),
            "iqr": q[2] - q[0], "n": len(xs)}


def _summarize(pairs: list[dict]) -> dict:
    sides = ("parent", "change")
    ok = [p for p in pairs if all("metrics" in p[s] for s in sides)]
    summary = {}
    for name in sorted(ok[0]["parent"]["metrics"]) if ok else []:
        vals = {s: [p[s]["metrics"][name] for p in ok
                    if isinstance(p[s]["metrics"].get(name), (int, float))]
                for s in sides}
        if not all(vals.values()) or len(vals["parent"]) != len(ok):
            continue
        better = (lambda c, p: c < p) if name in LOWER \
            else (lambda c, p: c > p)
        summary[name] = {s: _summary(v) for s, v in vals.items()}
        summary[name]["change_wins"] = sum(
            better(c, p) for c, p in zip(vals["change"], vals["parent"]))
    return summary


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 21-30")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    trees = {"parent": args.parent, "change": args.change}
    pairs = []
    for i, seed in enumerate(_seeds(args.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = _run(trees[side], args.workload, seed,
                              args.seconds, args.trace)
        pairs.append(pair)
        print(json.dumps({s: {k: pair[s].get(k) for k in
                              ("correct", "failed")} for s in trees}
                         | {"seed": seed}), flush=True)
    summary = _summarize(pairs)
    with open(args.out, "w") as fh:
        json.dump({"workload": args.workload, "seeds": args.seeds,
                   "seconds": args.seconds, "trace": args.trace,
                   "summary": summary, "pairs": pairs}, fh, indent=1)
    print(json.dumps({k: summary[k] for k in summary
                      if k in LOWER or k.endswith("per_s")}))


if __name__ == "__main__":
    main()
