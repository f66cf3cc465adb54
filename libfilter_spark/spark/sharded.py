"""Bucket-range block-filter builds — the huge-filter scale path.

The mergeable partial-build (build.py) gives every task a FULL-SIZE
filter; at GB filter sizes the merge traffic is tasks × filter_bytes.
This module instead ROUTES each key to the task that owns its bucket
range (one row shuffle of 8-byte keys), so:

- per-task state is filter_bytes / n_shards (cache-resident scatter),
- no blob merge at all: the shard slices are DISJOINT bucket ranges,
- total shuffle = 8 B x rows, independent of task count.

Routing must replicate the kernel's bucket index exactly
(``block.h:97-101``: bucket = ((h >> 32) * nb) >> 32, on the upper 32
bits of the key). The shard id is computed JVM-side — from the first
4 bytes of a binary sha key, or the upper 32 bits of an int64 key —
so no Python runs before the shuffle.

Two builds share the slice stage (``_build_slices``):

- ``build_block_shards``: ONE global filter, whose result stays
  DISTRIBUTED as one (shard, slice) row per shard — a "block forest"
  over disjoint bucket ranges, mirroring spark/forest.py for the
  cuckoo families. The driver never materializes the full bit array;
  probes route each key to its slice with the same JVM bucket formula.
  ``assemble_block_shards`` exists for users who need one exportable
  blob (byte-identical to the unsharded build, asserted in tests) —
  it is an EXPORT, not a build step.
- ``build_grouped_blocks``: one filter per group (``build_filters``'
  grouped block and taffy_block builds past a 10M ndv hint). Every group is cut
  into the same bucket ranges, so a Zipf mega-group spreads over
  every task instead of one; each group's slices are then written
  into its one blob.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, IntegerType, StructField,
                               StructType)

from ..filters.block import BlockSliceFilter
from ..kernels import block as K
from ..kernels.sizing import BUCKET_BYTES, block_bytes_needed

SHARD_COL = "__shard"


def _shard_bounds(num_buckets: int, n_shards: int) -> list[tuple[int, int]]:
    """Bucket range owned by each shard, matching the JVM routing
    formula floor(bucket * n_shards / num_buckets) == shard exactly:
    shard s owns [ceil(s*nb/K), ceil((s+1)*nb/K))."""
    def ceil_div(a, b):
        return -(-a // b)
    return [(ceil_div(s * num_buckets, n_shards),
             ceil_div((s + 1) * num_buckets, n_shards))
            for s in range(n_shards)]


def repartition_by_shard(df: DataFrame, n_shards: int) -> DataFrame:
    """Route shard s to partition s, so each build task owns exactly
    one shard. ``repartitionById`` takes the id as the partition
    (``INT`` only, hence the cast: the forest shard column is
    ``long``); hash partitioning of small shard ids collides — 4
    shards land on 2 of 4 partitions, 8 on 5, 16 on 10, 32 on 18."""
    return df.repartitionById(n_shards, F.col(SHARD_COL).cast("int"))


def with_block_shard(df: DataFrame, key_col: str, num_buckets: int,
                     n_shards: int) -> DataFrame:
    """Attach the shard routing column, computed JVM-side from the
    upper 32 bits h32 of the uint64 key (``keys_from_arrow``'s value):
    bucket = (h32 * num_buckets) >> 32 (``block.h:97-101``), then
    shard = floor(bucket * n_shards / num_buckets).

    A binary key is a big-endian uint64, so h32 is its first 4 bytes,
    and binary values compare bytewise unsigned. The shard grows with
    h32, so it is found by comparing the key with the first h32 of
    each shard, in a balanced tree of ``CASE``s. Arithmetic would need
    h32 as a number, and ``conv(hex(...))`` made routing 20M binary
    keys (shuffle and count, local[4]) take 3.3-4.1 s, against
    2.3-2.7 s with the comparisons and 2.2-2.4 s for an ``xxhash64``
    route. An int64 key's h32 is its upper 32 bits."""
    key = F.col(key_col)
    if not isinstance(df.schema[key_col].dataType, BinaryType):
        h32 = F.shiftrightunsigned(key.cast("long"), 32)
        bucket = F.shiftright(h32 * F.lit(int(num_buckets)), 32)
        shard = F.least(F.lit(n_shards - 1),
                        F.floor(bucket * F.lit(n_shards) /
                                F.lit(int(num_buckets))))
        return df.withColumn(SHARD_COL, shard.cast("int"))
    # the smallest h32 whose bucket, (h32 * nb) >> 32, reaches lo
    starts = [(-(-(lo << 32) // num_buckets)).to_bytes(4, "big")
              for lo, _ in _shard_bounds(num_buckets, n_shards)]

    def pick(lo: int, hi: int):
        if hi - lo == 1:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(key < F.lit(starts[mid]), pick(lo, mid)) \
            .otherwise(pick(mid, hi))
    # a null key falls through every comparison to the last shard,
    # as F.least gives it in the arithmetic; the build drops its row
    return df.withColumn(SHARD_COL, pick(0, n_shards))


def _default_shards(spark) -> int:
    """One shard per core, not per shuffle partition (usually 2x
    cores): shards are the unit of build parallelism, and halving them
    doubles the slice each scatter task owns (2.38 -> 1.92 s on a
    5M-key build at local[32], measured before shard s ran on task
    s)."""
    try:
        return int(spark.sparkContext.defaultParallelism)
    except Exception:
        return int(spark.conf.get("spark.sql.shuffle.partitions", "32"))


def _build_slices(df: DataFrame, group_cols: list[str], key_col: str,
                  num_buckets: int, n_shards: int,
                  params: str) -> DataFrame:
    """The bucket-range build: one ``block_slice`` row per non-empty
    (group, shard), the group columns first, then ``__shard``,
    ``family``, ``params``, ``n_keys``, ``n_partials`` and ``filter``.
    Every group's filter has ``num_buckets`` buckets, cut into the
    same ``n_shards`` ranges.

    With no group columns shard s is partition s
    (``repartition_by_shard``), so a shard never splits across tasks
    and no task builds two. With group columns a (group, shard) pair
    goes to partition (xxhash64(group) + shard) mod ``n_shards``: one
    group's shards land on different partitions, and every partition
    gets one shard of every group, so a huge group spreads over all of
    them. Keys stream batch by batch, each batch segmented by group."""
    from .build import _arrow_schema, _result_schema, batch_groups

    bounds = _shard_bounds(num_buckets, n_shards)
    routed = with_block_shard(df.select(*group_cols, key_col), key_col,
                              num_buckets, n_shards)
    if group_cols:
        # reduced before the shard is added: a BIGINT sum near
        # Long.MAX_VALUE would fail under ANSI mode
        n = F.lit(n_shards)
        pid = F.pmod(F.pmod(F.xxhash64(*group_cols), n)
                     + F.col(SHARD_COL), n)
        routed = routed.repartitionById(n_shards, pid.cast("int"))
    else:
        routed = repartition_by_shard(routed, n_shards)
    # the shard column exists only to drive the repartition; it is a
    # pure function of the key, so it does NOT cross into Python
    routed = routed.select(*group_cols, key_col)
    fields = _result_schema(df, group_cols).fields
    k = len(group_cols)
    schema = StructType(fields[:k] + [StructField(SHARD_COL, IntegerType())]
                        + fields[k:])
    out_schema = _arrow_schema(schema)

    def build_slice(batches):
        # mapInArrow, not mapInPandas: the pandas conversion would
        # materialize one Python bytes object PER KEY (50M/build) —
        # measured to cap the Python stage's 2->8 scaling at ~0.4 via
        # allocator pressure. keys_from_arrow reads the Arrow data
        # buffer zero-copy instead.
        import pyarrow as pa

        from ..kernels.keys import drop_null_keys, keys_from_arrow
        slices: dict[tuple, BlockSliceFilter] = {}
        counts: dict[tuple, int] = {}
        for batch in batches:
            batch = drop_null_keys(batch, key_col)
            if batch.num_rows == 0:
                continue
            keys = keys_from_arrow(batch.column(key_col))
            for g, v in batch_groups(batch, group_cols, keys):
                buckets = K.bucket_index(v, num_buckets).astype(np.int64)
                shards = buckets * n_shards // num_buckets  # the JVM formula
                for s in np.unique(shards):
                    s = int(s)
                    sl = slices.get((g, s))
                    if sl is None:
                        lo, hi = bounds[s]
                        sl = slices[(g, s)] = BlockSliceFilter(
                            num_buckets, lo, K.empty(hi - lo))
                        counts[(g, s)] = 0
                    sel = shards == s
                    sl.add_hashes(v[sel], buckets[sel])
                    counts[(g, s)] += int(sel.sum())
        if slices:
            n = len(slices)
            cols = [[g[i] for g, _ in slices] for i in range(k)]
            cols += [[s for _, s in slices], ["block_slice"] * n,
                     [params] * n, list(counts.values()), [1] * n,
                     [sl.serialize() for sl in slices.values()]]
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(cols, out_schema)],
                schema=out_schema)

    return routed.mapInArrow(build_slice, schema=schema)


def build_block_shards(df: DataFrame, key_col: str = "key",
                       ndv: int = 1 << 20, fpp: float = 0.01,
                       n_shards: int | None = None) -> DataFrame:
    """Distributed build of ONE global block filter as a shard frame:
    one row per non-empty shard with a ``block_slice`` filter covering
    that shard's bucket range. The result never touches the driver;
    probe with ``probe_with_block_shards`` (or ``probe_with_filters``,
    which auto-routes shard frames), or export one blob with
    ``assemble_block_shards``.

    Keys are routed by shard JVM-side, shard s to task s
    (``repartition_by_shard``), streamed into Python (``mapInArrow``,
    zero-copy) and scattered with numpy. This is the only engine: a
    JVM OR-aggregation (since deleted) with the same output measured
    within the noise of it on a 4-core Xeon VM at local[4] (interleaved
    pairs, medians this engine vs that one: 2.31 vs 2.62 s at 3M
    keys, 5.79 vs 5.52 s at 10M, 10.81 vs 10.32 s at 20M — 8 of 9
    pairs to the aggregation there, a 0.49 s gap inside the 1.15 s
    interquartile spread of these runs; BENCH/engine_ab.json).
    """
    num_buckets = max(1, block_bytes_needed(ndv, fpp) // BUCKET_BYTES)
    if n_shards is None:
        n_shards = _default_shards(df.sparkSession)
    n_shards = max(1, min(n_shards, num_buckets))
    params = json.dumps({"ndv": int(ndv), "fpp": float(fpp),
                         "num_buckets": int(num_buckets),
                         "n_shards": int(n_shards),
                         "routing": "bucket_range"})
    return _build_slices(df, [], key_col, num_buckets, n_shards, params)


def build_grouped_blocks(df: DataFrame, group_cols: list[str],
                         key_col: str, family: str, ndv: int,
                         fpp: float) -> DataFrame:
    """One ``block`` or pre-sized ``taffy_block`` filter per group,
    built on bucket ranges: the rows of ``build_filters``' bulk route
    (group columns, ``family``, ``params``, ``n_keys``, ``n_partials``
    = 1, ``filter``), with the same bytes.

    Every group's filter is cut into the same bucket ranges, one per
    core (``_default_shards``), built as slices on different tasks
    (``_build_slices``). One pinned ``repartition(n_shards,
    *group_cols)`` then brings each group's slices to one task, which
    writes them into one array (``BlockSliceFilter.assemble``). That
    is not ``merge_partials``: its content-bucket tree would split a
    group's slices over buckets. The count is the shards', not
    ``spark.sql.shuffle.partitions`` (2x cores by default): every
    Python task costs a fixed ~0.35 s on a 4-core box, and a second
    wave of mostly empty tasks would pay it twice.

    A ``taffy_block`` group is that array as level 0, sized for
    1.25x the ``ndv`` hint + 64 keys (levels cannot grow when the
    keys arrive in pieces); a group past it raises a ``ValueError``
    that names it."""
    from ..filters.taffy_block import (TaffyBlockFilter, _level0_ndv,
                                       _level_bytes)
    from .build import _arrow_schema, _result_schema

    if family == "block":
        num_buckets = max(1, block_bytes_needed(ndv, fpp) // BUCKET_BYTES)
    else:
        ndv0 = _level0_ndv(int(ndv * 1.25) + 64, fpp)
        num_buckets = K.num_buckets_for(_level_bytes(ndv0, fpp, 0))
    n_shards = max(1, min(_default_shards(df.sparkSession), num_buckets))
    params = json.dumps({"ndv": int(ndv), "fpp": float(fpp)})
    slices = _build_slices(df, group_cols, key_col, num_buckets,
                           n_shards, params)
    schema = _result_schema(df, group_cols)
    out_schema = _arrow_schema(schema)

    def serialize(state: np.ndarray, count: int, group: str) -> bytes:
        if family == "block":
            return K.serialize(state)
        if count > ndv0:
            raise ValueError(
                f"{group} got {count} keys > level-0 capacity {ndv0}; a "
                "real taffy_block would upsize — raise ndv or use the "
                "streamed build (smaller ndv hint)")
        return TaffyBlockFilter(ndv0, fpp, [state], ttl=ndv0 - count,
                                last_ndv=ndv0).serialize()

    def concat(batches):
        import pyarrow as pa

        from .build import group_segments
        metas, blobs = [], []
        for b in batches:
            if b.num_rows:
                blobs += b.column("filter").to_pylist()
                metas.append(b.select([*group_cols, "n_keys"]))
        if not metas:
            return
        meta = pa.Table.from_batches(metas).combine_chunks()
        order, bounds = group_segments(
            [meta.column(c).to_pandas(types_mapper=pd.ArrowDtype)
             for c in group_cols], meta.num_rows)
        heads = meta.take(order[np.r_[0, bounds].astype(np.int64)])
        counts = meta.column("n_keys").to_numpy()
        for i, seg in enumerate(np.split(order, bounds)):
            head = heads.slice(i, 1)
            count = int(counts[seg].sum())
            group = "group " + ", ".join(
                f"{c}={head.column(c)[0].as_py()!r}" for c in group_cols)
            blob = serialize(BlockSliceFilter.assemble(
                blobs[j] for j in seg), count, group)
            yield pa.RecordBatch.from_arrays(
                [*(head.column(c).combine_chunks() for c in group_cols),
                 pa.array([family]), pa.array([params]),
                 pa.array([count], type=pa.int64()),
                 pa.array([1], type=pa.int64()),
                 pa.array([blob], type=pa.binary())], schema=out_schema)

    return slices.repartition(n_shards, *group_cols) \
        .mapInArrow(concat, schema=schema)


def probe_with_block_shards(df: DataFrame, shards_df: DataFrame,
                            key_col: str = "key",
                            result_col: str = "maybe_seen") -> DataFrame:
    """Membership probe against a shard frame: derive the shard column
    JVM-side with the build's routing formula, then the grouped
    broadcast probe (only key + shard cross the Arrow boundary).
    Delegates to probe_with_filters' auto-route, which collects the
    shard frame exactly ONCE (params + blobs in one job)."""
    from .probe import probe_with_filters
    return probe_with_filters(df, shards_df, None, key_col, result_col)


def assemble_block_shards(shards_df: DataFrame) -> bytes:
    """EXPORT a shard frame as one serialized global filter blob,
    byte-identical to a single-process build over the same keys.
    Driver memory = full filter size — use only when a single
    exportable blob is genuinely needed (cross-system handoff)."""
    rows = shards_df.select(SHARD_COL, "filter").collect()
    if not rows:
        raise ValueError("cannot assemble an empty shard frame")
    shards = [(r[SHARD_COL],) for r in rows]
    if len(set(shards)) != len(rows):
        # two rows for one shard would overwrite one slice's bits with
        # the other's (half the keys of a two-build union missing)
        from .probe import _duplicate_rows
        raise _duplicate_rows([SHARD_COL], shards)
    return K.serialize(BlockSliceFilter.assemble(
        bytes(r["filter"]) for r in rows))
