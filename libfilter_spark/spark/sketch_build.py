"""Distributed sketch build — same partial+final aggregate shape as
the filter build (map-side partial sketch per (task, group), shuffle
only sketch blobs, merge per group).

HLL/CMS consume uint64 keys (int64 two's-complement columns); KLL and
t-digest consume float64 value columns.
"""

from __future__ import annotations

import functools
import json
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (BinaryType, LongType, StringType, StructField,
                               StructType)

from .build import (_SMALL_MERGE_MAX, _keys_from_series, group_segments,
                    merge_group_table, merge_partial_batches)
from ..sketches import SKETCHES

_KEY_SKETCHES = {"hll", "countmin"}


def _create(kind: str, params: dict):
    return SKETCHES[kind].create(**params)


def estimate_sketch_bytes(kind: str, params: dict) -> int:
    """Rough serialized-size upper bound per sketch — routing-grade
    fidelity only (mirrors build.estimate_filter_bytes): HLL is one
    byte per register, CMS depth×width u64 counters, KLL/t-digest a
    few KB of buffers/centroids at default parameters."""
    if kind == "hll":
        return (1 << int(params.get("p", 14))) + 64
    if kind == "countmin":
        return (int(params.get("depth", 5))
                * int(params.get("width", 2048)) * 8 + 64)
    if kind == "kll":
        return int(params.get("k", 200)) * 8 * 16 + 64
    if kind == "tdigest":
        return int(params.get("delta", 100.0)) * 8 * 16 + 64
    return 1 << 20


def merge_sketch_list(kind: str, blobs: list[bytes]) -> bytes:
    """Merge of one group's partial sketch blobs, in the given order
    (``merge_partial_batches`` passes them sorted by bytes)."""
    cls = SKETCHES[kind]
    acc = cls.deserialize(blobs[0])
    for b in blobs[1:]:
        acc = acc.merge(cls.deserialize(b))
    return acc.serialize()


def _values(kind: str, s: pd.Series):
    if kind in _KEY_SKETCHES:
        return _keys_from_series(s)  # int64 or 8-byte binary keys
    return s.to_numpy(dtype="float64", na_value=float("nan"))


def build_sketches(df: DataFrame, group_cols: list[str] | None,
                   value_col: str, kind: str = "hll",
                   **params) -> DataFrame:
    """One merged sketch per group. Returns group_cols + (kind, params,
    n_rows, n_partials, sketch:binary)."""
    group_cols = list(group_cols or [])
    pjson = json.dumps(params, sort_keys=True)
    proj = df.select(*group_cols, value_col)
    fields = {f.name: f for f in proj.schema.fields}
    schema = StructType(
        [StructField(c, fields[c].dataType) for c in group_cols]
        + [StructField("kind", StringType()),
           StructField("params", StringType()),
           StructField("n_rows", LongType()),
           StructField("n_partials", LongType()),
           StructField("sketch", BinaryType())])

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict[tuple, object] = {}
        counts: dict[tuple, int] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if group_cols:
                # values converted ONCE per batch, then segmented like
                # the filter partials (null group values kept)
                vals = _values(kind, pdf[value_col])
                gvals = [pdf[c].to_numpy() for c in group_cols]
                order, bounds = group_segments(gvals, len(pdf))
                for seg in np.split(order, bounds):
                    g = tuple(col[seg[0]] for col in gvals)
                    sk = acc.get(g)
                    if sk is None:
                        sk = acc[g] = _create(kind, params)
                        counts[g] = 0
                    sk.update_batch(vals[seg])
                    counts[g] += len(seg)
            else:
                g = ()
                sk = acc.get(g)
                if sk is None:
                    sk = acc[g] = _create(kind, params)
                    counts[g] = 0
                sk.update_batch(_values(kind, pdf[value_col]))
                counts[g] += len(pdf)
        if acc:
            out = {c: [g[i] for g in acc] for i, c in enumerate(group_cols)}
            out["kind"] = [kind] * len(acc)
            out["params"] = [pjson] * len(acc)
            out["n_rows"] = [counts[g] for g in acc]
            out["n_partials"] = [1] * len(acc)
            out["sketch"] = [sk.serialize() for sk in acc.values()]
            yield pd.DataFrame(out)

    partials = proj.mapInPandas(partial, schema=schema)

    # small-merge routing (round 7, mirrors build.merge_filter_blobs):
    # sketch partials are KB-sized lattice state, so when the plan-time
    # estimate × defaultParallelism fits the small-merge budget the
    # final merge runs single-level — one grouped exchange (unpinned:
    # AQE coalesces it to a task or two) and one mapInArrow call per
    # partition. That task's cost scales with the number of groups,
    # not bytes (7.7k partials in 2,000 groups, one core of a 4-core
    # Xeon VM: 1.10 s for HLL p=10 and 1.20 s for KLL k=200 as a pandas
    # groupby loop, 0.047 s and 0.074 s segmented once). A global
    # merge is one group, so it always runs as one 1-partition task.
    # Every route goes through merge_partial_batches (see its
    # merge-order contract).
    spec = dict(names=schema.names, tag="kind", count="n_rows",
                blob="sketch", merge=merge_sketch_list)
    try:
        par = partials.sparkSession.sparkContext.defaultParallelism
    except Exception:
        par = 32
    small = (estimate_sketch_bytes(kind, params) * max(par, 1)
             <= _SMALL_MERGE_MAX)
    if not group_cols:
        return partials.repartition(1).mapInArrow(
            functools.partial(merge_partial_batches, keys=[], **spec),
            schema=schema)
    if small:
        return partials.repartition(*group_cols).mapInArrow(
            functools.partial(merge_partial_batches, keys=group_cols,
                              **spec), schema=schema)
    # large sketches (MB-GB): one group per Python call, so a task
    # holds one group's blobs at a time
    return partials.groupBy(*group_cols).applyInArrow(
        functools.partial(merge_group_table, **spec), schema=schema)
