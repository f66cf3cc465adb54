"""Interleaved kernel A/B of the assembled taffy_block forest probe: a
parent revision's single-level ``_TbfForestProbe.find`` against the
per-level kind that now serves every taffy_block forest.

Both sides assemble the same default forest (the sizing
``build_filter_forest`` uses: ``ndv // n_shards`` keys per shard and a
level 0 of 1.25 x that share + 64, fpp 0.01), so every shard holds one
level. The probe is 2M uint64 keys, half present, in 65,536-key
batches, single-threaded and without Spark. Each pair times one full
pass per side; pairs alternate which side runs first. The parent's
``probe.py`` is read from git and executed as a module of the working
tree's package, so both sides share the kernels it imports (``find``
itself lives in ``probe.py``).

    python BENCH/tbf_forest_kind_ab.py --parent-rev d514cec --pairs 20

Writes BENCH/tbf_forest_kind_ab.json.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time
import types

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from libfilter_spark.filters.taffy_block import TaffyBlockFilter  # noqa: E402
from libfilter_spark.kernels.keys import (shard_of_keys,  # noqa: E402
                                          splitmix64)
from libfilter_spark.spark import probe as P  # noqa: E402

N_KEYS = 2_000_000
BATCH = 65_536


def parent_probe_module(rev: str) -> types.ModuleType:
    """The parent revision's spark/probe.py as a module of this
    package (its relative imports resolve against the working tree)."""
    src = subprocess.run(
        ["git", "-C", ROOT, "show", f"{rev}:libfilter_spark/spark/probe.py"],
        check=True, capture_output=True, text=True).stdout
    mod = types.ModuleType("libfilter_spark.spark._parent_probe")
    mod.__package__ = "libfilter_spark.spark"
    exec(compile(src, f"{rev}:probe.py", "exec"), mod.__dict__)
    return mod


def default_forest(present: np.ndarray, n_shards: int) -> dict:
    per_shard = max(64, len(present) // n_shards)
    size = int(per_shard * 1.25) + 64
    sh = shard_of_keys(present, n_shards, binary=False)
    blobs = {}
    for s in range(n_shards):
        f = TaffyBlockFilter.create(size, 0.01)
        f.add_hashes(present[sh == s])
        assert len(f.levels) == 1
        blobs[s] = f.serialize()
    return blobs


def one_pass(pv, keys: np.ndarray) -> tuple[float, int]:
    t0 = time.perf_counter()
    hits = 0
    for off in range(0, len(keys), BATCH):
        hits += int(pv.find(keys[off:off + BATCH], False).sum())
    return time.perf_counter() - t0, hits


def summary(ns: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(ns, n=4)
    return {"median_ns_per_key": round(statistics.median(ns), 2),
            "min_ns_per_key": round(min(ns), 2),
            "q1_ns_per_key": round(q1, 2), "q3_ns_per_key": round(q3, 2),
            "iqr_ns_per_key": round(q3 - q1, 2), "n": len(ns),
            "ns_per_key": [round(x, 2) for x in ns]}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent-rev", required=True)
    ap.add_argument("--pairs", type=int, default=20)
    ap.add_argument("--shards", type=int, nargs="+", default=[8, 64])
    args = ap.parse_args()

    parent = parent_probe_module(args.parent_rev)
    assert "tbf_level0_set" in parent._ASSEMBLED, "not a two-kind parent"
    present = splitmix64(N_KEYS // 2, seed=23)
    absent = splitmix64(N_KEYS // 2, seed=29)
    mixed = np.concatenate([present, absent])
    np.random.default_rng(7).shuffle(mixed)

    results = []
    for n_shards in args.shards:
        blobs = default_forest(present, n_shards)
        sides = {"parent": parent._TbfForestProbe.assemble(n_shards, blobs),
                 "unified": P._ASSEMBLED["tbf_forest_set"].assemble(
                     n_shards, blobs)}
        for pv in sides.values():      # warm both (page faults, caches)
            one_pass(pv, mixed)
        ns = {k: [] for k in sides}
        hits = {k: set() for k in sides}
        for i in range(args.pairs):
            order = ("parent", "unified") if i % 2 == 0 \
                else ("unified", "parent")
            for side in order:
                t, h = one_pass(sides[side], mixed)
                ns[side].append(t * 1e9 / len(mixed))
                hits[side].add(h)
        assert hits["parent"] == hits["unified"] and \
            len(hits["parent"]) == 1, hits
        wins = sum(u < p for p, u in zip(ns["parent"], ns["unified"]))
        row = {"n_shards": n_shards, "hits": hits["parent"].pop(),
               "unified_pair_wins": wins, "pairs": args.pairs,
               "parent": summary(ns["parent"]),
               "unified": summary(ns["unified"])}
        results.append(row)
        print(json.dumps({k: row[k] for k in
                          ("n_shards", "hits", "unified_pair_wins")}),
              row["parent"]["median_ns_per_key"],
              row["unified"]["median_ns_per_key"], flush=True)

    out = {
        "what": "single-thread ns/key of the assembled taffy_block "
                "forest probe on a default (single-level) forest: the "
                f"parent's _TbfForestProbe.find ({args.parent_rev}) vs "
                "the per-level kind (tbf_forest_set) that replaces it; "
                f"{N_KEYS} uint64 keys, half present, {BATCH}-key "
                "batches, interleaved pairs alternating which side runs "
                "first, one warm-up pass per side",
        "command": "python BENCH/tbf_forest_kind_ab.py --parent-rev "
                   f"{args.parent_rev} --pairs {args.pairs}",
        "box": {"machine": platform.machine(),
                "cpus": os.cpu_count(),
                "python": platform.python_version(),
                "numpy": np.__version__},
        "results": results,
    }
    with open(os.path.join(HERE, "tbf_forest_kind_ab.json"), "w") as fh:
        json.dump(out, fh, indent=2)
        fh.write("\n")


if __name__ == "__main__":
    main()
