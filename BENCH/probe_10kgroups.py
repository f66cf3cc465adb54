"""Driver-RSS evidence for the many-groups probe guard (round-4).

Builds 10,000 per-group filters, probes through both routes, and
records the driver's peak RSS delta:

- ``broadcast``: collect + sc.broadcast — driver holds groups × blob
  bytes (the chokepoint the guard exists for),
- ``shuffle``: the shuffle probe — filter blobs never visit the
  driver, RSS stays flat at any group count.

Each route runs in a fresh subprocess at local[$SPARK_GRAFT_CPUS]
(every core when unset), so RSS deltas are not contaminated by the
other route. ``--parent DIR`` also runs the shuffle route of another
tree (a parent revision) and records it as ``parent_shuffle``.

    python BENCH/probe_10kgroups.py [--parent DIR]

Writes BENCH/probe_10kgroups.json.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

JOB = r"""
import json, os, resource, sys, time
sys.path.insert(0, "@REPO@")
from pyspark.sql import functions as F
from libfilter_spark.spark.session import get_spark
from libfilter_spark.spark.build import build_filters
from libfilter_spark.spark.probe import probe_with_filters

via = sys.argv[1]
cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
n_groups = 10_000
rows = 2_000_000

spark = get_spark("probe-rss", cpus=cpus, shuffle_partitions=32)
spark.sparkContext.setLogLevel("ERROR")
base = (spark.range(rows)
        .select((F.col("id") % n_groups).cast("string").alias("g"),
                F.col("id").cast("string").alias("content")))
from libfilter_spark.spark.keys import with_content_key_bin
keys = with_content_key_bin(base, "content").select("g", "key")
# one ~2.2KB block filter per group -> ~22MB total blob bytes; the
# SHAPE (10^4 groups) is what stresses the driver hop, scaled so the
# run stays minutes not hours (at 10^5 x MB the broadcast route is
# simply untenable - that's the point of the guard)
filters = build_filters(keys, ["g"], ndv=200, fpp=0.01).cache()
n_f = filters.count()
assert n_f == n_groups, n_f

probe = keys
rss0 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss  # KiB
t0 = time.perf_counter()
found = probe_with_filters(probe, filters, ["g"], via=via) \
    .where("maybe_seen").count()
probe_s = time.perf_counter() - t0
rss1 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
assert found == rows, found
print("RESULT " + json.dumps({
    "via": via, "cpus": cpus, "n_groups": n_groups, "probe_rows": rows,
    "probe_s": round(probe_s, 2),
    "driver_peak_rss_delta_mb": round((rss1 - rss0) / 1024, 1),
    "driver_peak_rss_mb": round(rss1 / 1024, 1)}))
spark.stop()
"""


def _route(tree: str, via: str) -> dict:
    r = subprocess.run(
        [sys.executable, "-c", JOB.replace("@REPO@", tree), via],
        capture_output=True, text=True, timeout=1800, cwd=tree)
    if r.returncode != 0:
        raise RuntimeError(r.stderr[-2000:])
    line = [ln for ln in r.stdout.splitlines()
            if ln.startswith("RESULT ")][-1]
    return json.loads(line[len("RESULT "):])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", help="another tree to run the shuffle "
                    "route of, recorded as routes.parent_shuffle")
    args = ap.parse_args()
    out = {"metric": "probe_10k_groups_driver_rss", "routes": {}}
    for via in ("broadcast", "shuffle"):
        out["routes"][via] = _route(REPO, via)
    if args.parent:
        out["routes"]["parent_shuffle"] = _route(
            os.path.abspath(args.parent), "shuffle")
    with open(os.path.join(REPO, "BENCH", "probe_10kgroups.json"),
              "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
