"""Sharded block-filter build — the huge-filter scale path.

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

Scale shape (the 100 TB design): the build result stays DISTRIBUTED
as one (shard, slice) row per shard — a "block forest" over disjoint
bucket ranges, mirroring spark/forest.py for the cuckoo families. The
driver never materializes the full bit array; probes route each key
to its slice with the same JVM bucket formula and run through the
grouped broadcast probe. ``assemble_block_shards`` exists for users
who need one exportable blob (byte-identical to the unsharded build,
asserted in tests) — it is an EXPORT, not a build step.
"""

from __future__ import annotations

import json

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

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


def _upper32(df: DataFrame, key_col: str):
    """JVM-side expression for the upper 32 bits of the uint64 key —
    works for 8-byte binary sha keys AND int64 (two's-complement
    uint64) keys, matching ``keys_from_arrow`` bit-for-bit."""
    if isinstance(df.schema[key_col].dataType, BinaryType):
        # binary keys are big-endian uint64 (kernels/keys.py): the
        # upper 32 bits are the first 4 bytes
        return F.conv(F.hex(F.substring(F.col(key_col), 1, 4)), 16, 10) \
            .cast("long")
    return F.shiftrightunsigned(F.col(key_col).cast("long"), 32)


def repartition_by_shard(df: DataFrame, n_shards: int) -> DataFrame:
    """Route shard s to partition s, so each build task owns exactly
    one shard. ``repartitionById`` takes the id as the partition
    (``INT`` only, hence the cast: the forest shard column is
    ``long``); hash partitioning of small shard ids collides — 4
    shards land on 2 of 4 partitions, 8 on 5, 16 on 10, 32 on 18."""
    return df.repartitionById(n_shards, F.col(SHARD_COL).cast("int"))


def with_block_shard(df: DataFrame, key_col: str, num_buckets: int,
                     n_shards: int) -> DataFrame:
    """Attach the shard routing column, computed JVM-side:
    bucket = (h32 * num_buckets) >> 32 (``block.h:97-101``), then
    shard = floor(bucket * n_shards / num_buckets)."""
    h32 = _upper32(df, key_col)
    bucket = F.shiftright(h32 * F.lit(int(num_buckets)), 32)
    shard = F.least(F.lit(n_shards - 1),
                    F.floor(bucket * F.lit(n_shards) /
                            F.lit(int(num_buckets)))).cast("int")
    return df.withColumn(SHARD_COL, shard)


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
    JVM ``bit_or`` aggregation with the same output measured within
    the noise of it on a 4-core Xeon VM at local[4] (interleaved
    pairs, medians this engine vs that one: 2.31 vs 2.62 s at 3M
    keys, 5.79 vs 5.52 s at 10M, 10.81 vs 10.32 s at 20M — 8 of 9
    pairs to the aggregation there, a 0.49 s gap inside the 1.15 s
    interquartile spread of these runs; BENCH/engine_ab.json).
    """
    spark = df.sparkSession
    num_buckets = max(1, block_bytes_needed(ndv, fpp) // BUCKET_BYTES)
    if n_shards is None:
        # one shard per core, not per shuffle partition (usually 2x
        # cores): shards are the unit of build parallelism, and halving
        # them doubles the slice each scatter task owns (2.38 -> 1.92 s
        # on a 5M-key build at local[32], measured before shard s ran
        # on task s)
        try:
            n_shards = int(spark.sparkContext.defaultParallelism)
        except Exception:
            n_shards = int(spark.conf.get("spark.sql.shuffle.partitions",
                                          "32"))
    n_shards = max(1, min(n_shards, num_buckets))
    bounds = _shard_bounds(num_buckets, n_shards)
    params = json.dumps({"ndv": int(ndv), "fpp": float(fpp),
                         "num_buckets": int(num_buckets),
                         "n_shards": int(n_shards),
                         "routing": "bucket_range"})

    # the shard column exists only to drive the repartition; it is a
    # pure function of the key, so it does NOT cross into Python —
    # only the 8-byte key column goes through Arrow
    routed = repartition_by_shard(
        with_block_shard(df.select(key_col), key_col, num_buckets,
                         n_shards), n_shards).select(key_col)

    def build_slice(batches):
        # mapInArrow, not mapInPandas: the pandas conversion would
        # materialize one Python bytes object PER KEY (50M/build) —
        # measured to cap the Python stage's 2->8 scaling at ~0.4 via
        # allocator pressure. keys_from_arrow reads the Arrow data
        # buffer zero-copy instead.
        import pyarrow as pa

        from ..kernels.keys import drop_null_keys, keys_from_arrow
        slices: dict[int, np.ndarray] = {}
        counts: dict[int, int] = {}
        for batch in batches:
            batch = drop_null_keys(batch)
            if batch.num_rows == 0:
                continue
            keys = keys_from_arrow(batch.column(0))
            buckets = K.bucket_index(keys, num_buckets).astype(np.int64)
            shards = buckets * n_shards // num_buckets  # same formula
            for s in np.unique(shards):
                s = int(s)
                lo, hi = bounds[s]
                sl = slices.get(s)
                if sl is None:
                    sl = slices[s] = np.zeros(
                        (hi - lo) * K.WORDS_PER_BUCKET, dtype=np.uint32)
                    counts[s] = 0
                sel = shards == s
                k = keys[sel]
                idx = buckets[sel] - lo
                masks = K.make_masks(k)
                m64 = np.ascontiguousarray(masks).view(np.uint64)
                b64 = sl.view(np.uint64).reshape(-1, 4)
                for lane in range(4):
                    np.bitwise_or.at(b64[:, lane], idx, m64[:, lane])
                counts[s] += len(k)
        if slices:
            yield pa.RecordBatch.from_pydict({
                SHARD_COL: pa.array(list(slices), type=pa.int32()),
                "family": pa.array(["block_slice"] * len(slices)),
                "params": pa.array([params] * len(slices)),
                "n_keys": pa.array([counts[s] for s in slices],
                                   type=pa.int64()),
                "n_partials": pa.array([1] * len(slices),
                                       type=pa.int64()),
                "filter": pa.array(
                    [BlockSliceFilter(num_buckets, bounds[s][0],
                                      sl).serialize()
                     for s, sl in slices.items()], type=pa.binary())})

    # shard s is partition s, so a shard never splits across tasks and
    # no task builds two: one row per non-empty shard from its own
    # task. Hash partitioning also kept shards whole but stacked them:
    # 4 shards on 2 of 4 tasks, 8 on 5, 16 on 10, 32 on 18.
    return routed.mapInArrow(
        build_slice,
        schema=f"{SHARD_COL} int, family string, params string, "
               "n_keys long, n_partials long, filter binary")


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
    rows = shards_df.select(SHARD_COL, "params", "filter").collect()
    if not rows:
        raise ValueError("cannot assemble an empty shard frame")
    shards = [(r[SHARD_COL],) for r in rows]
    if len(set(shards)) != len(rows):
        # two rows for one shard would overwrite one slice's bits with
        # the other's (half the keys of a two-build union missing)
        from .probe import _duplicate_rows
        raise _duplicate_rows([SHARD_COL], shards)
    p = json.loads(rows[0]["params"])
    num_buckets = int(p["num_buckets"])
    out = bytearray(num_buckets * BUCKET_BYTES)
    for r in rows:
        sl = BlockSliceFilter.deserialize(bytes(r["filter"]))
        off = sl.lo * BUCKET_BYTES
        blob = sl.state.astype("<u4", copy=False).tobytes()
        out[off:off + len(blob)] = blob
    return bytes(out)


def build_block_filter_sharded(df: DataFrame, key_col: str = "key",
                               ndv: int = 1 << 20, fpp: float = 0.01,
                               n_shards: int | None = None) -> bytes:
    """Back-compat convenience: distributed sharded build + driver
    assembly into one exportable blob. Prefer ``build_block_shards``
    (keeps the filter distributed) unless the blob itself is needed."""
    return assemble_block_shards(
        build_block_shards(df, key_col, ndv, fpp, n_shards))


def sharded_filter_row(spark, blob: bytes, ndv: int, fpp: float):
    """Wrap an assembled blob as a one-row filters DataFrame
    compatible with probe_with_filters."""
    params = json.dumps({"ndv": int(ndv), "fpp": float(fpp)})
    return spark.createDataFrame(
        [("block", params, None, None, bytearray(blob))],
        "family string, params string, n_keys long, n_partials long, "
        "filter binary")
