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
    uint64) keys, matching ``_keys_from_series`` bit-for-bit."""
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
                       n_shards: int | None = None,
                       engine: str = "auto") -> DataFrame:
    """Distributed build of ONE global block filter as a shard frame:
    one row per non-empty shard with a ``block_slice`` filter covering
    that shard's bucket range. The result never touches the driver;
    probe with ``probe_with_block_shards`` (or ``probe_with_filters``,
    which auto-routes shard frames), or export one blob with
    ``assemble_block_shards``.

    engine:
    - ``jvm``: the scatter-OR insert runs as a whole-stage-codegen
      ``groupBy(bucket).agg(bit_or(...))`` — mask and bucket are Spark
      integer expressions (the exact block.h math; byte-identity
      asserted in tests), map-side partial bit_or combines before the
      shuffle, and only ~40 B per NONZERO BUCKET ever crosses into
      Python (slice assembly), not 12 B per key. It frees Python
      workers entirely from the hot loop.
    - ``arrow``: route keys by shard JVM-side, stream them into Python
      (mapInArrow, zero-copy) and scatter with numpy. Simpler plan
      (one shuffle), same bytes out.
    - ``auto``: picks by size. In-process A/B at local[32]: arrow wins
      at ≤5M keys (1.82 s vs 2.24 s at 5M — the jvm engine pays two
      shuffles of fixed overhead), jvm wins at 20M (6.44 s vs 7.51 s —
      codegen amortizes, Python allocator pressure grows); the
      crossover sits near 10M.

    Both engines put shard s on task s (``repartition_by_shard``). The
    "one shard per core" default and the 10M crossover above were
    measured when shards were hash-partitioned instead, which packs
    small shard ids onto fewer tasks (32 shards on 18 of 32
    partitions); neither figure has been re-measured since.
    """
    spark = df.sparkSession
    num_buckets = max(1, block_bytes_needed(ndv, fpp) // BUCKET_BYTES)
    if n_shards is None:
        # one shard per CORE, not per shuffle partition (usually 2x
        # cores): shards are the unit of BUILD parallelism, and halving
        # them doubles the slice each scatter task owns — measured
        # 2.38 -> 1.92 s on the 5M-key jvm build at local[32] (fewer,
        # fatter assemble tasks; same effect on the arrow engine)
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
    if engine == "auto":
        engine = "jvm" if ndv >= 10_000_000 else "arrow"
    if engine == "jvm":
        return _build_block_shards_jvm(df, key_col, num_buckets,
                                       n_shards, bounds, params)
    if engine != "arrow":
        raise ValueError(f"unknown engine {engine!r}")

    # the shard column exists only to drive the repartition; it is a
    # pure function of the key, so it does NOT cross into Python —
    # only the 8-byte key column goes through Arrow. Null keys are
    # dropped in Python, not by a JVM IS NOT NULL filter: Spark pushes
    # that filter below the key projection and derives every key twice.
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

        from ..kernels.keys import keys_and_valid_from_arrow
        slices: dict[int, np.ndarray] = {}
        counts: dict[int, int] = {}
        for batch in batches:
            if batch.num_rows == 0:
                continue
            # a null maps to key 0 and would set a spurious bit; drop
            # it to stay byte-identical with the jvm engine
            keys, valid = keys_and_valid_from_arrow(batch.column(0))
            if not valid.all():
                keys = keys[valid]
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


def block_groupby_bitor(df: DataFrame, key_col: str, num_buckets: int,
                        shard_expr=None,
                        lead_cols: list[str] | None = None) -> DataFrame:
    """The shared JVM bit_or aggregation: the block scatter-OR insert
    as a whole-stage-codegen ``groupBy([shard,] bucket).agg(bit_or)``.
    Per key, (bucket, 8 lane masks) are integer expressions
    replicating ``block.h:97-125`` exactly:

    - bucket = (h_hi * num_buckets) >> 32 (mulhi range reduction on
      the upper 32 key bits),
    - lane i bit = (u32)(h_lo * seed_i) >> 27 — the wrapping 32-bit
      multiply is emulated in BIGINT with a 16/16 split because ANSI
      mode forbids overflowing casts,
    - lane pairs pack into one BIGINT each (bit_or distributes over
      the packed halves), so the aggregation state is 4 longs/bucket.

    Map-side partial combine runs before the shuffle: volume is one
    row per DISTINCT (lead..., bucket) per task (≤ filter size), and
    Python only ever sees the reduced nonzero-bucket rows. Returns
    ([lead...,] b, p0..p3, cnt). ``shard_expr`` (a Column) routes
    buckets of INDEPENDENT per-shard filters (the taffy-block forest);
    ``lead_cols`` carries arbitrary grouping columns (one independent
    filter per group — the huge grouped block build); without either,
    buckets index ONE global filter."""
    if isinstance(df.schema[key_col].dataType, BinaryType):
        b_expr = (f"shiftright(cast(conv(hex(substring({key_col},1,4)),"
                  f"16,10) as bigint) * {num_buckets}, 32)")
        hlo_expr = (f"cast(conv(hex(substring({key_col},5,4)),16,10) "
                    "as bigint)")
    else:
        b_expr = (f"shiftright(shiftrightunsigned(cast({key_col} as "
                  f"bigint), 32) * {num_buckets}, 32)")
        hlo_expr = f"cast({key_col} as bigint) & 4294967295"
    if shard_expr is not None:
        lead = [shard_expr.alias(SHARD_COL)]
        lead_names = [SHARD_COL]
    elif lead_cols:
        lead = [F.col(c) for c in lead_cols]
        lead_names = list(lead_cols)
    else:
        lead, lead_names = [], []
    base = (df.where(F.col(key_col).isNotNull())
            .select(*lead,
                    F.expr(b_expr).alias("b"),
                    F.expr(hlo_expr).alias("hlo"))
            .withColumn("a0", F.expr("hlo & 65535"))
            .withColumn("a1", F.expr("shiftright(hlo, 16)")))

    def mask(seed: int) -> str:
        # (hlo * seed) mod 2^32 via 16/16 split, then top-5 bits
        return ("shiftleft(cast(1 as bigint), cast(shiftright("
                f"(a0 * {seed} + shiftleft((a1 * {seed}) & 65535, 16))"
                " & 4294967295, 27) as int))")

    seeds = [int(s) for s in K.SEEDS]
    pairs = [F.expr(f"{mask(seeds[2 * i])} | "
                    f"shiftleft({mask(seeds[2 * i + 1])}, 32)")
             .alias(f"p{i}") for i in range(4)]
    gb = lead_names + ["b"]
    return (base.select(*gb, *pairs)
            .groupBy(*gb)
            .agg(*[F.bit_or(f"p{i}").alias(f"p{i}") for i in range(4)],
                 F.count(F.lit(1)).alias("cnt")))


def _build_block_shards_jvm(df: DataFrame, key_col: str,
                            num_buckets: int, n_shards: int,
                            bounds: list, params: str) -> DataFrame:
    """The JVM-aggregation engine for ONE global block filter: shard =
    contiguous bucket range derived from the aggregated bucket id (see
    block_groupby_bitor for the insert-as-aggregation machinery)."""
    import numpy as np

    agg = repartition_by_shard(
        block_groupby_bitor(df, key_col, num_buckets)
        .withColumn(SHARD_COL,
                    F.floor(F.col("b") * F.lit(n_shards) /
                            F.lit(int(num_buckets))).cast("int")),
        n_shards)

    def assemble(batches):
        import pyarrow as pa
        slices: dict[int, np.ndarray] = {}
        counts: dict[int, int] = {}
        for batch in batches:
            if batch.num_rows == 0:
                continue
            b = batch.column("b").to_numpy(zero_copy_only=False)
            s = batch.column(SHARD_COL).to_numpy(zero_copy_only=False)
            cnt = batch.column("cnt").to_numpy(zero_copy_only=False)
            ps = [batch.column(f"p{i}").to_numpy(zero_copy_only=False)
                  .view(np.uint64) for i in range(4)]
            for sh in np.unique(s):
                sh = int(sh)
                lo, hi = bounds[sh]
                sl = slices.get(sh)
                if sl is None:
                    sl = slices[sh] = np.zeros((hi - lo) * 4,
                                               dtype=np.uint64)
                    counts[sh] = 0
                sel = s == sh
                idx = b[sel] - lo
                m = sl.reshape(-1, 4)
                for i in range(4):
                    # buckets are distinct post-agg: plain assignment,
                    # no scatter-OR needed
                    m[idx, i] = ps[i][sel]
                counts[sh] += int(cnt[sel].sum())
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
                    [BlockSliceFilter(
                        num_buckets, bounds[s][0],
                        np.ascontiguousarray(sl.view(np.uint32)))
                     .serialize() for s, sl in slices.items()],
                    type=pa.binary())})

    return agg.mapInArrow(
        assemble,
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
