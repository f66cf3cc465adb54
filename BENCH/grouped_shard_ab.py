"""Interleaved A/B of large grouped block and taffy_block builds: a
parent checkout against a change checkout, each a fresh copy of one
commit (``git archive``).

Cells (``build_filters(keys, ["g"], family, ndv, fpp=0.01)``, the
public router; the keys are sha2-derived 8-byte binary keys of
``spark.range(n)`` cast to string, cached before the timed build):

- ``block_2x10m`` / ``taffy_block_2x10m``: 2 groups x 10M keys, ndv
  10M. A tree with the grouped JVM ``bit_or`` engine runs it here.
- ``block_zipf16``: 10M keys in 16 Zipf(1.1) groups (the largest
  holds about a third of them), ndv 4M. That is past the 4 MB sharded
  threshold but below the 10M line of the bucket-range route, so the
  router runs its one-task-per-group ``applyInArrow`` bulk.

Every pair starts one fresh worker process per side (a new Spark
session, ``local[--cpus]``, 8 shuffle partitions), alternating which
side goes first. A worker warms its Python workers with a no-op
``mapInArrow`` pass, then times one ``collect`` of each cell's
filters frame and records the ``md5`` of every group's blob.

    git archive <parent> | tar -x -C /tmp/ab/parent
    git archive <change> | tar -x -C /tmp/ab/change
    python BENCH/grouped_shard_ab.py --parent /tmp/ab/parent \\
        --change /tmp/ab/change --pairs 5 --zipf-pairs 3

Writes BENCH/grouped_shard_ab.json.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))

# (cell, family, ndv, groups, n_keys); zipf cells draw group sizes
# from Zipf(1.1) over ``groups`` ranks
CELLS = {
    "block_2x10m": ("block", 10_000_000, 2, 20_000_000, None),
    "taffy_block_2x10m": ("taffy_block", 10_000_000, 2, 20_000_000, None),
    "block_zipf16": ("block", 4_000_000, 16, 10_000_000, 1.1),
}


def _keys(spark, groups: int, n: int, zipf: float | None):
    import pyspark.sql.functions as F

    from libfilter_spark.spark.keys import with_content_key_bin
    ids = spark.range(n)
    if zipf is None:
        g = (F.col("id") % groups).cast("int")
    else:
        w = [1.0 / (k + 1) ** zipf for k in range(groups)]
        cum, acc = [], 0.0
        for x in w[:-1]:
            acc += x / sum(w)
            cum.append(acc)
        # u in [0, 1) from a hash of the id; group = number of
        # cumulative weights at or below u
        u = F.pmod(F.xxhash64("id"), F.lit(1 << 24)) / F.lit(1 << 24)
        g = sum(F.when(u >= c, 1).otherwise(0) for c in cum).cast("int")
    df = ids.select(g.alias("g"), F.col("id").cast("string")
                    .alias("content"))
    keys = with_content_key_bin(df, "content").select("g", "key").cache()
    sizes = {r["g"]: r["count"] for r in keys.groupBy("g").count()
             .collect()}
    return keys, sizes


def worker(root: str, cells: list[str], cpus: int) -> dict:
    sys.path.insert(0, root)
    from libfilter_spark.spark.build import build_filters
    from libfilter_spark.spark.session import get_spark
    spark = get_spark(app_name="grouped-shard-ab", cpus=cpus,
                      shuffle_partitions=8)
    # one no-op Python pass so the timed builds reuse warm workers
    spark.range(cpus * 4, numPartitions=cpus).mapInArrow(
        lambda it: (b for b in it), schema="id long").count()
    out, cached = {}, {}
    for cell in cells:
        family, ndv, groups, n, zipf = CELLS[cell]
        shape = (groups, n, zipf)
        if shape not in cached:
            for k in list(cached):
                cached.pop(k)[0].unpersist()
            cached[shape] = _keys(spark, groups, n, zipf)
        keys, sizes = cached[shape]
        t0 = time.perf_counter()
        rows = build_filters(keys, ["g"], family=family, ndv=ndv,
                             fpp=0.01).collect()
        secs = time.perf_counter() - t0
        out[cell] = {
            "s": secs,
            "md5": {str(r["g"]): hashlib.md5(bytes(r["filter"]))
                    .hexdigest() for r in rows},
            "n_keys": {str(r["g"]): r["n_keys"] for r in rows},
            "largest_group_share": max(sizes.values()) / n,
        }
    spark.stop()
    return out


def _run_side(script: str, root: str, cells: list[str], cpus: int) -> dict:
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="6g", PYTHONPATH=root)
    p = subprocess.run(
        [sys.executable, script, "--worker", root, "--cells",
         ",".join(cells), "--cpus", str(cpus)],
        env=env, cwd=root, capture_output=True, text=True)
    if p.returncode:
        sys.exit(f"worker {root} failed:\n{p.stderr[-4000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def _summary(xs: list[float]) -> dict:
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return {"median_s": round(statistics.median(xs), 3),
            "min_s": round(min(xs), 3), "iqr_s": round(q[2] - q[0], 3),
            "n": len(xs), "runs_s": [round(x, 3) for x in xs]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--worker")
    ap.add_argument("--cells", default=",".join(CELLS))
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--zipf-pairs", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--out", default=os.path.join(HERE,
                                                  "grouped_shard_ab.json"))
    a = ap.parse_args()
    if a.worker:
        print(json.dumps(worker(a.worker, a.cells.split(","), a.cpus)))
        return

    script = os.path.abspath(__file__)
    roots = {"parent": a.parent, "change": a.change}
    runs = {c: {"parent": [], "change": []} for c in CELLS}
    first = []
    for i in range(a.pairs):
        cells = [c for c in CELLS
                 if CELLS[c][4] is None or i < a.zipf_pairs]
        order = ["parent", "change"] if i % 2 == 0 else \
            ["change", "parent"]
        first.append(order[0])
        for side in order:
            res = _run_side(script, roots[side], cells, a.cpus)
            for c in cells:
                runs[c][side].append(res[c])
            print(i, side, json.dumps({c: round(res[c]["s"], 2)
                                       for c in cells}), flush=True)

    cells = {}
    for c, sides in runs.items():
        family, ndv, groups, n, zipf = CELLS[c]
        rec = {"family": family, "ndv": ndv, "groups": groups,
               "n_keys": n, "zipf_s": zipf,
               "largest_group_share": round(
                   sides["parent"][0]["largest_group_share"], 4)}
        for side, rs in sides.items():
            rec[side] = _summary([r["s"] for r in rs])
            rec[side]["md5"] = rs[0]["md5"]
            rec[side]["md5_stable"] = all(r["md5"] == rs[0]["md5"]
                                          for r in rs)
            rec[side]["n_keys"] = rs[0]["n_keys"]
        rec["blobs_identical"] = rec["parent"]["md5"] == \
            rec["change"]["md5"]
        rec["change_wins"] = sum(
            c_["s"] < p_["s"] for p_, c_ in zip(sides["parent"],
                                                 sides["change"]))
        cells[c] = rec

    rec = {
        "what": "large grouped block / taffy_block builds, parent vs "
                "change checkouts, one fresh worker process per side and "
                "pair, interleaved, the first side alternating",
        "command": "python BENCH/grouped_shard_ab.py --parent <parent "
                   f"checkout> --change <change checkout> --pairs "
                   f"{a.pairs} --zipf-pairs {a.zipf_pairs} --cpus {a.cpus}",
        "host": {"cpus": os.cpu_count(), "machine": platform.machine(),
                 "python": platform.python_version(),
                 "spark_master": f"local[{a.cpus}]",
                 "shuffle_partitions": 8, "driver_memory": "6g"},
        "first_side": first,
        "cells": cells,
    }
    with open(a.out, "w") as fh:
        json.dump(rec, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
