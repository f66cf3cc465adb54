"""Interleaved A/B of the shuffle probe route (``via="shuffle"``):
a parent tree against this one.

Each tree runs in its own long-lived subprocess with one Spark session
at local[$SPARK_GRAFT_CPUS]; the driver sends both the same commands
and alternates which side goes first in each pair. While one side
runs, the other waits idle. Two cases:

- ``grouped``: the ``grouped_skewed`` shapes of lifecycle_bench —
  125k build keys in 2,000 Zipf-sized groups (ndv hint 62, fpp 0.01),
  250k probe rows half present, keys ``sha256("11:{i}")``. The filters
  are built and cached once per side; each timed run is one shuffle
  probe of the probe rows plus the ``probe_counts`` aggregation
  (rows, hits, false positives, false negatives) as the action.
- ``semijoin``: the ``shuffle_grouped_semijoin_returned_parts`` query
  of ``__spark_entry__`` on a TPC-H directory (every lineitem column
  goes through the probe), collected.

One untimed run of each case warms every side first. Every pair must
give equal counts (``grouped``) or equal rows (``semijoin``).

    python BENCH/shuffle_probe_ab.py --parent DIR --change DIR \\
        --pairs 10 --semijoin-pairs 5 --sf-dir /path/to/sf0.1

Writes BENCH/shuffle_probe_ab.json.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))

JOB = r"""
import hashlib, json, math, sys, time
sys.path.insert(0, sys.argv[1])
from pyspark.sql import functions as F
from libfilter_spark.spark.build import build_filters
from libfilter_spark.spark.keys import with_content_key_bin
from libfilter_spark.spark.probe import probe_with_filters
from libfilter_spark.spark.session import get_spark
import __spark_entry__ as entry

SEED, N, GROUPS, FPP = 11, 125_000, 2000, 0.01
spark = get_spark("shuffle-probe-ab")
spark.sparkContext.setLogLevel("ERROR")


def frame(present_lo, absent_lo, n_present, n_absent):
    df = spark.range(0, n_present + n_absent)
    present = F.col("id") < n_present
    idx = F.when(present, F.lit(present_lo) + F.col("id")) \
        .otherwise(F.lit(absent_lo - n_present) + F.col("id"))
    df = df.select(idx.alias("idx"), present.alias("present")) \
        .withColumn("content", F.concat(F.lit(f"{SEED}:"),
                                        F.col("idx").cast("string")))
    return with_content_key_bin(df, "content")


def zipf_group(content):
    u = F.pmod(F.xxhash64(F.lit("g"), content), F.lit(1 << 53)) \
        / F.lit(float(1 << 53))
    g = F.floor(F.exp(u * F.lit(math.log(GROUPS + 1)))) - 1
    return F.least(F.greatest(g, F.lit(0)), F.lit(GROUPS - 1)).cast("int")


build = frame(0, 0, N, 0).select("key", zipf_group(F.col("content"))
                                 .alias("g"))
probe = frame(0, N, N, N).select("key", "present",
                                 zipf_group(F.col("content")).alias("g"))
filters = build_filters(build, ["g"], ndv=N // GROUPS, fpp=FPP).cache()
filters.count()


def grouped():
    out = probe_with_filters(probe, filters, ["g"], via="shuffle")
    m, p = F.col("maybe_seen"), F.col("present")
    return out.agg(F.count(F.lit(1)).alias("n"),
                   F.count_if(m).alias("hits"),
                   F.count_if(m & ~p).alias("fp"),
                   F.count_if(~m & p).alias("fn")).first().asDict()


def semijoin():
    q = entry.queries()["shuffle_grouped_semijoin_returned_parts"]
    rows = sorted(map(tuple, q(spark, sys.argv[2]).collect()))
    return {"rows": len(rows),
            "digest": hashlib.sha256(repr(rows).encode()).hexdigest()}


print("READY", flush=True)
for line in sys.stdin:
    fn = {"grouped": grouped, "semijoin": semijoin}[line.strip()]
    t0 = time.perf_counter()
    res = fn()
    res["s"] = time.perf_counter() - t0
    print("RESULT " + json.dumps(res), flush=True)
spark.stop()
"""


class Side:
    """One tree's subprocess and its command channel."""

    def __init__(self, tree: str, sf_dir: str):
        self.err = tempfile.TemporaryFile(mode="w+")
        self.proc = subprocess.Popen(
            [sys.executable, "-c", JOB, os.path.abspath(tree), sf_dir],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self.err, text=True, cwd=tree)
        self._read("READY")

    def _read(self, prefix: str) -> str:
        for line in self.proc.stdout:
            if line.startswith(prefix):
                return line[len(prefix):].strip()
        self.err.seek(0)
        raise RuntimeError(self.err.read()[-3000:])

    def run(self, case: str) -> dict:
        self.proc.stdin.write(case + "\n")
        self.proc.stdin.flush()
        return json.loads(self._read("RESULT "))

    def close(self) -> None:
        self.proc.stdin.close()
        self.proc.wait(timeout=120)


def _summary(xs: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return {"median": round(statistics.median(xs), 3),
            "min": round(min(xs), 3), "iqr": round(q3 - q1, 3),
            "n": len(xs)}


def _case(sides: dict, case: str, pairs: int) -> dict:
    for side in sides.values():
        side.run(case)  # warm-up, untimed
    times = {name: [] for name in sides}
    equal, wins = True, 0
    for i in range(pairs):
        order = list(sides) if i % 2 == 0 else list(sides)[::-1]
        got = {name: sides[name].run(case) for name in order}
        for name, res in got.items():
            times[name].append(res.pop("s"))
        equal &= got["parent"] == got["change"]
        wins += times["change"][-1] < times["parent"][-1]
        print(case, i, order[0], "first",
              {k: round(v[-1], 3) for k, v in times.items()},
              got["change"], flush=True)
    return {"parent_s": _summary(times["parent"]),
            "change_s": _summary(times["change"]),
            "change_wins": f"{wins} of {pairs}",
            "equal_results_every_pair": equal,
            "result": got["change"],
            "pairs_s": [[round(p, 3), round(c, 3)] for p, c in
                        zip(times["parent"], times["change"])]}


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as fh:
            return next((ln.split(":", 1)[1].strip() for ln in fh
                         if ln.startswith("model name")), "")
    except OSError:
        return ""


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--semijoin-pairs", type=int, default=5)
    ap.add_argument("--sf-dir", required=True,
                    help="TPC-H parquet directory (sf0.1 recorded)")
    args = ap.parse_args()
    sides = {"parent": Side(args.parent, args.sf_dir),
             "change": Side(args.change, args.sf_dir)}
    try:
        out = {"what": "shuffle probe route, parent vs change, "
                       "interleaved pairs in warm sessions",
               "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
               "machine": platform.machine(), "cpu": _cpu_model(),
               "grouped": _case(sides, "grouped", args.pairs),
               "semijoin": _case(sides, "semijoin", args.semijoin_pairs)}
    finally:
        for side in sides.values():
            side.close()
    with open(os.path.join(HERE, "shuffle_probe_ab.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps({k: out[k] for k in ("grouped", "semijoin")}))


if __name__ == "__main__":
    main()
