"""Interleaved A/B of the two merge plans no lifecycle_bench workload
runs: a parent revision's plan against this tree's ``merge_partials``.

- ``global_tree``: the forced two-level merge (``est_bytes=None``) of
  one global block filter from ``--blobs`` multi-MB partials. The
  parent's first level is ``groupBy("__mb").applyInArrow`` (one
  content bucket per Python call); here it is
  ``repartition(nparts, "__mb").mapInArrow`` (every bucket of a
  partition in one call). Both finish with ``repartition(1)``.
- ``sketch_large*``: the large-sketch route of a grouped merge
  (``_SMALL_MERGE_MAX`` patched to 0): HLL over many groups of few
  partials and over few groups of many, and multi-MB count-min
  partials in two groups. The
  parent runs ``groupBy(g).applyInArrow`` (one group per call); here
  it is the ``__mb`` tree.

Both sides merge the same cached partial frame in one Spark session;
each pair times one merge per side (``collect`` of the merged rows),
alternating which side runs first, after one untimed run per side.
The merged blobs must be byte-equal. The parent's ``spark/build.py``
is read from git and executed as a module of this package (its
relative imports resolve against the working tree), pickled by value
so the Python workers can run it.

    python BENCH/merge_plan_ab.py --parent-rev 0aa559f --pairs 10

Writes BENCH/merge_plan_ab.json.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import platform
import statistics
import subprocess
import sys
import time
import types

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import pyspark.sql.functions as F  # noqa: E402
from pyspark import cloudpickle  # noqa: E402

import libfilter_spark.spark.build as B  # noqa: E402
from libfilter_spark.spark.session import get_spark  # noqa: E402
from libfilter_spark.spark.sketch_build import (  # noqa: E402
    _SKETCH_SPEC, estimate_sketch_bytes)


# (case, groups, input partitions, kind, params): many groups with a
# few KB partials each, a few groups with many, and a few groups with
# multi-MB count-min partials (the size the large route exists for)
SKETCH_CASES = (
    ("sketch_large", 500, 8, "hll", {"p": 14}),
    ("sketch_large_few_groups", 2, 64, "hll", {"p": 16}),
    ("sketch_large_cms", 2, 16, "countmin", {"depth": 5, "width": 1 << 17}),
)
SKETCH_ROWS = 400_000


def parent_build_module(rev: str) -> types.ModuleType:
    """The parent revision's spark/build.py as a module of this
    package, registered for pickling by value."""
    src = subprocess.run(
        ["git", "-C", ROOT, "show", f"{rev}:libfilter_spark/spark/build.py"],
        check=True, capture_output=True, text=True).stdout
    name = "libfilter_spark.spark._parent_build"
    mod = types.ModuleType(name)
    mod.__package__ = "libfilter_spark.spark"
    sys.modules[name] = mod
    exec(compile(src, f"{rev}:build.py", "exec"), mod.__dict__)
    cloudpickle.register_pickle_by_value(mod)
    return mod


def block_partials(spark, n_blobs: int, ndv: int, keys_per_blob: int):
    """``n_blobs`` global block partial rows of ``ndv`` capacity, each
    holding its own ``keys_per_blob`` splitmix keys, cached."""
    import pyarrow as pa
    schema = B._result_schema(spark.range(1).select(), [])
    arrow_schema = B._arrow_schema(schema)
    params = json.dumps({"ndv": ndv, "fpp": 0.01})

    def make(batches):
        from libfilter_spark.kernels.keys import splitmix64
        for batch in batches:
            for i in batch.column("id").to_pylist():
                f = B.create_filter("block", ndv, 0.01)
                f.add_hashes(splitmix64(keys_per_blob, seed=i + 1))
                yield pa.RecordBatch.from_pydict(
                    {"family": ["block"], "params": [params],
                     "n_keys": [keys_per_blob], "n_partials": [1],
                     "filter": [f.serialize()]}, schema=arrow_schema)

    df = spark.range(n_blobs, numPartitions=n_blobs).mapInArrow(
        make, schema=schema).cache()
    df.count()
    return df


def sketch_partials(spark, n_groups: int, n_rows: int, parts: int,
                    kind: str, params: dict):
    """Grouped sketch partials (one per group and input partition),
    built by the partial stage ``build_sketches`` runs, cached."""
    from libfilter_spark.kernels.keys import keys_from_arrow
    from libfilter_spark.sketches import SKETCHES
    src = spark.range(n_rows, numPartitions=parts).select(
        F.pmod(F.xxhash64(F.lit("g"), "id"), F.lit(n_groups)).alias("g"),
        F.xxhash64("id").alias("key"))
    schema = B._result_schema(src, ["g"], _SKETCH_SPEC)
    df = src.mapInArrow(functools.partial(
        B.partial_batches, group_cols=["g"], value_col="key",
        values=keys_from_arrow,
        create=functools.partial(SKETCHES[kind].create, **params),
        update=SKETCHES[kind].update_batch, tag=kind,
        params=json.dumps(params, sort_keys=True),
        schema=B._arrow_schema(schema)), schema=schema).cache()
    df.count()
    return df


def _blobs(df, key, blob):
    return {(r[key] if key else None): (r["n_partials"], bytes(r[blob]))
            for r in df.collect()}


def run_case(name, sides, pairs):
    """sides: {label: thunk -> (rows)}; returns the case record."""
    times = {s: [] for s in sides}
    outs = {}
    for s, fn in sides.items():  # untimed warm run
        outs[s] = fn()
    labels = list(sides)
    for i in range(pairs):
        order = labels if i % 2 == 0 else labels[::-1]
        for s in order:
            t0 = time.perf_counter()
            out = sides[s]()
            times[s].append(time.perf_counter() - t0)
            assert out == outs[s], (name, s, "run-to-run bytes differ")
    equal = outs[labels[0]] == outs[labels[1]]

    def summary(xs):
        q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
        return {"median_s": round(statistics.median(xs), 3),
                "min_s": round(min(xs), 3),
                "iqr_s": round(q[2] - q[0], 3), "n": len(xs),
                "runs_s": [round(x, 3) for x in xs]}

    rec = {s: summary(times[s]) for s in labels}
    rec["bytes_equal"] = equal
    rec["change_wins"] = sum(c < p for p, c in
                             zip(times["parent"], times["change"]))
    print(name, json.dumps(rec), flush=True)
    return rec


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent-rev", required=True)
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--blobs", type=int, default=32)
    ap.add_argument("--ndv", type=int, default=3_000_000)
    ap.add_argument("--out", default=os.path.join(HERE, "merge_plan_ab.json"))
    a = ap.parse_args()

    PB = parent_build_module(a.parent_rev)
    spark = get_spark(app_name="merge-plan-ab", cpus=a.cpus,
                      shuffle_partitions=2 * a.cpus,
                      extra_conf={"spark.driver.memory": "4g"})
    cases = {}

    gp = block_partials(spark, a.blobs, a.ndv, 20_000)
    blob_mb = B.estimate_filter_bytes("block", a.ndv, 0.01) / 2 ** 20
    cases["global_tree"] = run_case("global_tree", {
        "parent": lambda: _blobs(PB.merge_filter_blobs(gp, [], est_bytes=None),
                                 None, "filter"),
        "change": lambda: _blobs(B.merge_filter_blobs(gp, [], est_bytes=None),
                                 None, "filter"),
    }, a.pairs)
    cases["global_tree"]["setup"] = (
        f"{a.blobs} block partials of {blob_mb:.2f} MB (ndv {a.ndv}, fpp "
        "0.01, 20,000 keys each), one global merge, est_bytes=None")
    gp.unpersist()

    B._SMALL_MERGE_MAX = 0
    for name, groups, parts, kind, params in SKETCH_CASES:
        sp = sketch_partials(spark, groups, SKETCH_ROWS, parts, kind, params)
        n_part = sp.count()
        spec = dict(names=sp.schema.names, **_SKETCH_SPEC)
        est = estimate_sketch_bytes(kind, params)
        cases[name] = run_case(name, {
            "parent": lambda: _blobs(sp.groupBy("g").applyInArrow(
                functools.partial(PB.merge_group_table, **spec),
                schema=sp.schema), "g", "sketch"),
            "change": lambda: _blobs(B.merge_partials(
                sp, ["g"], _SKETCH_SPEC, est), "g", "sketch"),
        }, a.pairs)
        cases[name]["setup"] = (
            f"{n_part} {kind} {params} partials of ~{est / 2 ** 20:.2f} MB "
            f"in {groups} groups ({SKETCH_ROWS:,} rows over {parts} input "
            "partitions), _SMALL_MERGE_MAX = 0")
        sp.unpersist()

    rec = {
        "what": "merge plans no lifecycle_bench workload runs: parent "
                "revision vs this tree, one Spark session, interleaved "
                "pairs alternating which side runs first",
        "parent_rev": a.parent_rev,
        "command": "python BENCH/merge_plan_ab.py --parent-rev "
                   f"{a.parent_rev} --pairs {a.pairs} --cpus {a.cpus}",
        "host": {"cpus": os.cpu_count(), "machine": platform.machine(),
                 "python": platform.python_version(),
                 "spark_master": f"local[{a.cpus}]"},
        "cases": cases,
    }
    with open(a.out, "w") as fh:
        json.dump(rec, fh, indent=1)
        fh.write("\n")
    spark.stop()


if __name__ == "__main__":
    main()
