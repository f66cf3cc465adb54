"""Interleaved A/B of the global shard-frame probe on a 51 MB frame:
a parent tree whose workers share the assembled probe state through
/dev/shm (one publisher per box, past 32 MB) against a tree where every
python worker assembles its own copy.

Each side runs in a fresh subprocess at local[4]: build a cached
32M-key sharded block frame (xxhash64 int64 keys, fpp 0.004, 4 shards,
51,130,624 B), then time four probes of 4M keys, half present:

- ``cold``: the first probe (workers unpickle and assemble);
- ``warm``: the same probe again;
- ``idle``: after 70 s without a task, past Spark's 60 s idle-worker
  timeout, so the python workers have been reaped and restarted;
- ``warm2``: once more.

Pairs alternate which side runs first. /dev/shm/libfilter_asm_* files a
run creates are removed after it, so every parent run starts cold.

    python BENCH/shm_share_ab.py --parent DIR --change DIR --pairs 5

Writes BENCH/shm_share_ab.json.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PROBES = ("cold", "warm", "idle", "warm2")

JOB = r"""
import json, sys, time
sys.path.insert(0, sys.argv[1])
from pyspark.sql import functions as F
from libfilter_spark.spark.session import get_spark
from libfilter_spark.spark.sharded import build_block_shards
from libfilter_spark.spark.probe import probe_with_filters

n, n_probe = 32_000_000, 4_000_000
spark = get_spark("shm-share-ab", cpus=4)
spark.sparkContext.setLogLevel("ERROR")
keys = spark.range(n).select(F.xxhash64("id").alias("key"))
t0 = time.perf_counter()
frame = build_block_shards(keys, ndv=n, fpp=0.004).cache()
frame.count()
build_s = time.perf_counter() - t0
frame_bytes = frame.agg(F.sum(F.length("filter"))).first()[0]
half = n_probe // 2
probe = spark.range(half).union(spark.range(n, n + half)) \
    .select(F.xxhash64("id").alias("key"))
out = {"build_s": round(build_s, 3), "frame_bytes": frame_bytes,
       "probe_s": {}, "hits": {}}
for name in ("cold", "warm", "idle", "warm2"):
    if name == "idle":
        time.sleep(70)
    t0 = time.perf_counter()
    hits = probe_with_filters(probe, frame, None).where("maybe_seen") \
        .count()
    out["probe_s"][name] = round(time.perf_counter() - t0, 3)
    out["hits"][name] = hits
present = spark.range(half).select(F.xxhash64("id").alias("key"))
out["present_hits"] = probe_with_filters(present, frame, None) \
    .where("maybe_seen").count()
print("RESULT " + json.dumps(out))
spark.stop()
"""


def run_side(tree: str) -> dict:
    before = set(glob.glob("/dev/shm/libfilter_asm_*"))
    try:
        r = subprocess.run([sys.executable, "-c", JOB, tree],
                           capture_output=True, text=True, timeout=1800,
                           cwd=tree, env={**os.environ, "PYTHONPATH": tree,
                                          "SPARK_GRAFT_DRIVER_MEM": "4g"})
    finally:
        made = set(glob.glob("/dev/shm/libfilter_asm_*")) - before
        for path in made:
            os.unlink(path)
    if r.returncode != 0:
        raise RuntimeError(r.stderr[-3000:])
    line = [ln for ln in r.stdout.splitlines() if ln.startswith("RESULT ")]
    return {**json.loads(line[-1][len("RESULT "):]),
            "shm_files_created": len(made)}


def _quartiles(xs: list[float]) -> dict:
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return {"q1": round(q[0], 3), "median": round(q[1], 3),
            "q3": round(q[2], 3)}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--pairs", type=int, default=5)
    a = ap.parse_args()
    trees = {"parent": a.parent, "change": a.change}
    runs: dict[str, list] = {"parent": [], "change": []}
    order = []
    for i in range(a.pairs):
        sides = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        order.append(sides)
        for side in sides:
            t0 = time.time()
            runs[side].append(run_side(trees[side]))
            print(side, i, round(time.time() - t0, 1), runs[side][-1],
                  flush=True)
    summary = {}
    for p in PROBES:
        t = {s: [r["probe_s"][p] for r in runs[s]] for s in runs}
        diffs = [round(c - q, 3) for c, q in zip(t["change"], t["parent"])]
        summary[p] = {
            "n": a.pairs,
            "median_s": {s: round(statistics.median(v), 3)
                         for s, v in t.items()},
            "min_s": {s: min(v) for s, v in t.items()},
            "quartiles_s": {s: _quartiles(v) for s, v in t.items()},
            "per_pair_change_minus_parent_s": diffs,
            "pairs_won_by_change": sum(d < 0 for d in diffs),
            "hits_equal_per_probe": all(
                rc["hits"][p] == rp["hits"][p]
                for rc, rp in zip(runs["change"], runs["parent"])),
        }
    rec = {
        "what": __doc__.split("\n\n")[0].replace("\n", " "),
        "hardware": "4-core Intel Xeon VM (nproc 4), shared RAM; "
                    "Python 3.11.7, PySpark 4.1.2, pyarrow 16.1.0, "
                    "numpy 1.26.4",
        "command": "python BENCH/shm_share_ab.py --parent <parent tree> "
                   f"--change <change tree> --pairs {a.pairs}",
        "claim": "none",
        "order": order,
        "summary": summary,
        "runs": runs,
    }
    with open(os.path.join(HERE, "shm_share_ab.json"), "w") as fh:
        json.dump(rec, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
