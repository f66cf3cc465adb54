"""Distributed sketch build — the filter build's partial and merge
stages (``build.partial_batches``, ``build.merge_partials``) over
sketch state: a map-side partial sketch per (task, group), only sketch
blobs shuffled, one merged sketch per group.

HLL/CMS consume uint64 keys (int64 two's-complement or 8-byte binary
columns); KLL and t-digest consume float64 values. Rows with a null
value are dropped, as null keys are in the filter build; a null group
value is a group.
"""

from __future__ import annotations

import functools
import json

import numpy as np
from pyspark.sql import DataFrame

from .build import (_arrow_schema, _result_schema, merge_partials,
                    partial_batches)
from ..kernels.keys import keys_from_arrow
from ..sketches import SKETCHES

_KEY_SKETCHES = {"hll", "countmin"}


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


_SKETCH_SPEC = dict(tag="kind", count="n_rows", blob="sketch",
                    merge=merge_sketch_list)


def _float64(arr) -> np.ndarray:
    return arr.to_numpy(zero_copy_only=False).astype(np.float64)


def build_sketches(df: DataFrame, group_cols: list[str] | None,
                   value_col: str, kind: str = "hll",
                   **params) -> DataFrame:
    """One merged sketch per group. Returns group_cols + (kind, params,
    n_rows, n_partials, sketch:binary); ``n_rows`` counts the non-null
    values, and a group whose values are all null gets no row."""
    group_cols = list(group_cols or [])
    proj = df.select(*group_cols, value_col)
    schema = _result_schema(proj, group_cols, _SKETCH_SPEC)
    partials = proj.mapInArrow(functools.partial(
        partial_batches, group_cols=group_cols, value_col=value_col,
        values=keys_from_arrow if kind in _KEY_SKETCHES else _float64,
        create=functools.partial(SKETCHES[kind].create, **params),
        update=SKETCHES[kind].update_batch, tag=kind,
        params=json.dumps(params, sort_keys=True),
        schema=_arrow_schema(schema)), schema=schema)
    return merge_partials(partials, group_cols, _SKETCH_SPEC,
                          estimate_sketch_bytes(kind, params))
