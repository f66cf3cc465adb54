"""Filter forest — the merge-free scale path for growable cuckoo
families (taffy cuckoo, minimal taffy cuckoo).

Why it exists: a TCF path stores only log_side_size + HEAD + tail
bits, so a union into a table more than tail-width (5) levels wider
must enumerate the missing bits (taffy-cuckoo.c:260-313) — merging P
partials burns log2(P) tail bits and degrades FPP toward the tail-less
floor once P > 32. The measured symptom at high parallelism: a 64-way
merged filter at frozen-filter FPP. No merge algorithm can beat that
bound; the information simply is not in the partials.

The forest removes the merge: keys shuffle ONCE by a JVM-side shard
hash (pmod(xxhash64(key), S) — 8 bytes/row, the same traffic as the
sharded block build), each shard bulk-builds its own full-resolution
filter, and probes route to their shard's filter through the existing
grouped broadcast-probe machinery. Zero unions, zero tail loss,
structural FPP, and per-task memory = one shard's filter.

This mirrors how a 1000-executor deployment should run taffy filters
over 100 TB: a bounded-size forest per table, with shard count chosen
so each filter fits an executor's working set.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, LongType, StringType,
                               StructField, StructType)

from ..filters import FAMILIES
from .sharded import SHARD_COL, repartition_by_shard

# one row per built shard — shared by every forest engine
_FOREST_SCHEMA = StructType([
    StructField(SHARD_COL, LongType()),
    StructField("family", StringType()),
    StructField("params", StringType()),
    StructField("n_keys", LongType()),
    StructField("n_partials", LongType()),
    StructField("filter", BinaryType()),
])


def _bufs_to_batch(bufs: dict, cls, per_shard: int, fpp: float,
                   family: str, params: str, freeze: bool):
    """Shared tail of the streamed forest engines: per-shard key
    buffers → built filters → the task's single output RecordBatch
    (None when the task saw no rows). Inserting ONCE per shard at
    stream end is deliberate — add_hashes pre-sizes to a low-load
    configuration when it knows the full count, where the per-batch
    incremental pattern was measured 1.8× (TCF) to 2.5× (MTCF) slower
    per key (every call runs the filter at its ~0.9-occupancy growth
    edge). Transient cost: the task's key share at 8 B/key, bounded by
    the same shard sizing that bounds the filter."""
    import numpy as np
    import pyarrow as pa

    filters: dict[int, object] = {}
    counts: dict[int, int] = {}
    for s, chunks in bufs.items():
        keys = np.concatenate(chunks) if len(chunks) > 1 else chunks[0]
        f = filters[s] = cls.create(per_shard, fpp)
        f.add_hashes(keys)
        counts[s] = len(keys)
    if not filters:
        return None
    out_fam, blobs = _freeze_blobs(family, filters.values(), freeze)
    return pa.RecordBatch.from_pydict({
        SHARD_COL: pa.array(list(filters), type=pa.int64()),
        "family": pa.array([out_fam] * len(filters)),
        "params": pa.array([params] * len(filters)),
        "n_keys": pa.array([counts[s] for s in filters],
                           type=pa.int64()),
        "n_partials": pa.array([1] * len(filters), type=pa.int64()),
        "filter": pa.array(blobs, type=pa.binary())})


def with_shard(df: DataFrame, key_col: str, n_shards: int) -> DataFrame:
    """Attach the forest routing column — computed JVM-side so no
    Python runs before the shuffle (build) or the broadcast probe."""
    return df.withColumn(
        SHARD_COL, F.pmod(F.xxhash64(F.col(key_col)),
                          F.lit(n_shards)).cast("long"))


def build_filter_forest(df: DataFrame, key_col: str = "key",
                        family: str = "taffy_cuckoo",
                        ndv: int = 1 << 20, fpp: float = 0.01,
                        n_shards: int | None = None,
                        engine: str = "auto",
                        freeze: bool | None = None,
                        probe_only: bool = True) -> DataFrame:
    """→ one filter row per shard: (__shard, family, params, n_keys,
    n_partials=1, filter). ``ndv`` is the TOTAL population hint; each
    shard pre-sizes to its share.

    One-pass streaming build: the shuffle sends shard s straight to
    build task s (``repartition_by_shard``), and keys stream through
    ``mapInArrow`` batches — Python never materializes a shard's whole
    key table the way ``groupBy.applyInArrow`` did (the r3-measured
    2→8 scaling cap: one full-group Arrow table per shard). Only the
    8-byte key column crosses into Python; the shard id is recomputed
    per batch with the bit-exact numpy replica of Spark's xxhash64
    (kernels/keys.py shard_of_keys, verified against F.xxhash64).

    ``engine``: ``arrow`` (the ``auto`` default) streams keys into
    Python — works for every family, required for the cuckoo families
    whose kick walks are inherently Python-side. ``jvm`` (taffy_block
    only) runs the insert as the whole-stage-codegen bit_or
    aggregation — ZERO keys cross into Python, removing the Arrow-IPC
    stream that a control experiment showed is ~the entire ≥8-core
    build cost (raw kernel inserts scale 8.3→27.5 Mk/s at 8→32
    workers while the streamed build plateaus at ~2.3 Mk/s). The jvm
    engine pre-sizes level 0 with a 1.25× margin (aggregation is
    orderless, so a shard cannot upsize mid-build; the margin absorbs
    xxhash balance jitter — overflow past it errors rather than
    silently mis-building), trading ~25% level-0 bytes for the
    JVM-scaling build; sizes/fpp therefore differ from the arrow
    engine's exact schedule, which remains the default.

    ``freeze=True`` (taffy_cuckoo only) serializes each shard FROZEN
    (``taffy-cuckoo.c:127-160``: tails dropped, 4×10-bit fingerprints
    SWAR-packed per bucket) — the read-only serving shape the
    reference freezes for (HIBP, ``taffy.tex:1791-1800``): blobs
    ~40% smaller to broadcast, the probe runs the SWAR find (66 vs
    162 ns/key kernel-level), and uniform frozen shards probe through
    the assembled one-matrix fast path (spark/probe.py
    _FrozenTcfForestProbe). Zero false negatives are preserved by
    construction (freeze never drops a fingerprint); the frozen
    forest cannot absorb further inserts, and dropping the tails
    raises the structural FPP to the tail-less ~SLOTS·2^-HEAD level.

    ``probe_only`` (default True) makes frozen the DEFAULT serving
    shape when ``freeze`` is unset: a taffy_cuckoo forest a caller
    never declared mutable serializes frozen — the path of least
    resistance IS the reference's read-only serving form. Pass
    ``probe_only=False`` (or ``freeze=False``) to keep live shards
    (full tails: lower FPP, later absorb/upsize possible).
    """
    from pyspark.sql.types import BinaryType as _Bin
    spark = df.sparkSession
    if freeze is None:
        freeze = probe_only and family == "taffy_cuckoo"
    if freeze and family != "taffy_cuckoo":
        raise ValueError(
            "freeze=True applies to the taffy_cuckoo family only "
            "(frozen filters are the reference's read-only TCF "
            f"serving form); got family={family!r}")
    if n_shards is None:
        n_shards = int(spark.conf.get("spark.sql.shuffle.partitions",
                                      "32"))
    n_shards = max(1, n_shards)
    params = json.dumps({"ndv": int(ndv), "fpp": float(fpp),
                         "n_shards": int(n_shards),
                         "routing": "xxhash64"})
    cls = FAMILIES[family]
    per_shard = max(64, ndv // n_shards)
    if engine == "auto":
        # arrow stays the auto default over arrow_packed DELIBERATELY
        # (round-6, verdict-r5 task 7): the round-5 IPC lever sweep
        # (BENCH/forest_ipc.json, 8M-key TCF forest, in-process
        # min-of-2 per variant) measured arrow FASTEST ABSOLUTE at
        # every parallelism — 10.34 s vs packed 11.43 s at local[2],
        # 4.46 s vs 5.53 s at local[8] — with packed_big winning only
        # the 2→8 efficiency RATIO (0.638 vs 0.58) by slowing its
        # local[2] baseline, not by being faster at 8. A ratio-based
        # crossover would therefore always pick the slower engine.
        # arrow_packed is kept as an explicit opt-in for executor
        # shapes where per-row Arrow cost dominates end-to-end time
        # (it ships ~64k keys per row instead of one per row).
        engine = "arrow"
    if engine == "jvm":
        if family != "taffy_block":
            raise ValueError(
                "the jvm forest engine covers taffy_block only (cuckoo "
                "kick walks are Python-side by design)")
        return _build_tbf_forest_jvm(df, key_col, n_shards, per_shard,
                                     fpp, params)
    if engine == "arrow_packed":
        return _build_forest_arrow_packed(df, key_col, family, cls,
                                          n_shards, per_shard, fpp,
                                          params, freeze)
    if engine != "arrow":
        raise ValueError(f"unknown forest engine {engine!r}")
    is_binary = isinstance(df.schema[key_col].dataType, _Bin)
    routed = repartition_by_shard(
        with_shard(df.select(key_col), key_col, n_shards), n_shards) \
        .select(key_col)
    def build_stream(batches):
        import numpy as np

        from ..kernels.keys import keys_and_valid_from_arrow, shard_of_keys
        bufs: dict[int, list] = {}
        for batch in batches:
            if batch.num_rows == 0:
                continue
            # null keys dropped here, not by a JVM IS NOT NULL filter
            # (Spark pushes it below the key projection and derives
            # every key twice): probes report null keys non-members, and
            # the key-0 surrogate would add a spurious bit
            keys, valid = keys_and_valid_from_arrow(batch.column(0))
            if not valid.all():
                keys = keys[valid]
            shards = shard_of_keys(keys, n_shards, binary=is_binary)
            for s in np.unique(shards):
                bufs.setdefault(int(s), []).append(keys[shards == s])
        out = _bufs_to_batch(bufs, cls, per_shard, fpp, family, params,
                             freeze)
        if out is not None:
            yield out

    return routed.mapInArrow(build_stream, schema=_FOREST_SCHEMA)


def _freeze_blobs(family: str, filters, freeze: bool):
    """Serialize built shard filters, frozen when requested (TCF →
    frozen SWAR form; the family column flips so probes deserialize
    the right class per row)."""
    if not freeze:
        return family, [f.serialize() for f in filters]
    return "frozen_taffy_cuckoo", [f.freeze().serialize()
                                   for f in filters]


def _build_forest_arrow_packed(df: DataFrame, key_col: str, family: str,
                               cls, n_shards: int, per_shard: int,
                               fpp: float, params: str,
                               freeze: bool = False) -> DataFrame:
    """Streamed forest build with PACKED Arrow transfer: after the
    shard shuffle, a same-partition ``groupBy(__shard, __salt)
    .agg(collect_list(key))`` packs ~64k keys into each row, so the
    JVM→Python stream carries a few fat array rows per task instead of
    millions of thin rows (the measured ≥8-core ceiling of the
    row-streamed engine is the per-row Arrow/IPC cost, not the
    kernels). No second shuffle: HashPartitioning(__shard) already
    satisfies the aggregation's clustered distribution on
    (__shard, __salt), so the packing runs inside the builder task.
    The shard id rides along one-per-packed-row — Python never
    recomputes the routing hash. Per-group agg state is
    ~64k keys × key bytes; per-task state is its partition's keys in
    the JVM hash-agg (spillable), bounded by the shard sizing.

    This engine alone stays on hash partitioning: the aggregation
    reuses ``HashPartitioning(__shard)``, and routing by shard id
    (``repartition_by_shard``) adds a second Exchange to the plan."""
    import numpy as np

    routed = with_shard(
        df.select(key_col).where(F.col(key_col).isNotNull()),
        key_col, n_shards).repartition(n_shards, SHARD_COL)
    salts = max(1, -(-int(per_shard) // 65536))
    packed = (routed
              .withColumn("__salt", F.pmod(F.hash(F.col(key_col)),
                                           F.lit(salts)))
              .groupBy(SHARD_COL, "__salt")
              .agg(F.collect_list(F.col(key_col)).alias("__keys"))
              .drop("__salt"))
    def build_packed(batches):
        import pyarrow as pa

        from ..kernels.keys import keys_from_arrow
        bufs: dict[int, list] = {}
        for batch in batches:
            if batch.num_rows == 0:
                continue
            shards = batch.column(0).to_numpy(zero_copy_only=False)
            lists = batch.column(1)
            if isinstance(lists, pa.ChunkedArray):
                lists = lists.combine_chunks()
            flat = keys_from_arrow(lists.flatten())
            offs = lists.offsets.to_numpy(zero_copy_only=False) \
                - (lists.offsets[0].as_py() or 0)
            for i in range(batch.num_rows):
                s = int(shards[i])
                bufs.setdefault(s, []).append(
                    flat[offs[i]:offs[i + 1]].copy())
        out = _bufs_to_batch(bufs, cls, per_shard, fpp, family, params,
                             freeze)
        if out is not None:
            yield out

    return packed.mapInArrow(build_packed, schema=_FOREST_SCHEMA)


def _build_tbf_forest_jvm(df: DataFrame, key_col: str, n_shards: int,
                          per_shard: int, fpp: float,
                          params: str) -> DataFrame:
    """taffy_block forest with the insert in Tungsten: a PRE-SIZED TBF
    shard never upsizes, so its state is one level-0 block array plus
    (ndv0, ttl = ndv0 − n, last_ndv = ndv0) bookkeeping — and level-0
    insertion is the block scatter-OR, i.e. the shared
    ``groupBy(shard, bucket).agg(bit_or)`` aggregation
    (spark/sharded.py block_groupby_bitor). Python sees only the
    reduced nonzero-bucket rows and emits blobs BYTE-IDENTICAL to the
    arrow engine's ``create(per_shard) + add_hashes`` (asserted in
    tests). Shards whose key count would exceed the level-0 capacity
    (a real TBF would upsize) raise — raise ``ndv`` or use
    ``engine='arrow'``."""
    import numpy as np

    from ..filters.taffy_block import (TaffyBlockFilter, _level0_ndv,
                                       _level_bytes)
    from ..kernels import block as K
    from .sharded import block_groupby_bitor

    # 1.25x margin: the bit_or aggregation is orderless, so a shard
    # cannot upsize mid-build; the margin absorbs xxhash load jitter
    # (P(load > 1.25x mean) is e^-O(mean) — negligible past a few
    # thousand keys/shard). ndv stays a hint; a hint low enough to
    # blow the margin errors at assembly instead of mis-building.
    ndv0 = _level0_ndv(int(per_shard * 1.25) + 64, fpp)
    num_buckets = K.num_buckets_for(_level_bytes(ndv0, fpp, 0))
    shard_expr = F.pmod(F.xxhash64(F.col(key_col)),
                        F.lit(n_shards)).cast("long")
    agg = repartition_by_shard(
        block_groupby_bitor(df.select(key_col), key_col, num_buckets,
                            shard_expr=shard_expr), n_shards)
    schema = (f"{SHARD_COL} long, family string, params string, "
              "n_keys long, n_partials long, filter binary")

    def assemble(batches):
        import pyarrow as pa
        slices: dict[int, np.ndarray] = {}
        counts: dict[int, int] = {}
        for batch in batches:
            if batch.num_rows == 0:
                continue
            s = batch.column(SHARD_COL).to_numpy(zero_copy_only=False)
            b = batch.column("b").to_numpy(zero_copy_only=False)
            cnt = batch.column("cnt").to_numpy(zero_copy_only=False)
            ps = [batch.column(f"p{i}").to_numpy(zero_copy_only=False)
                  .view(np.uint64) for i in range(4)]
            for sh in np.unique(s):
                sh = int(sh)
                sl = slices.get(sh)
                if sl is None:
                    sl = slices[sh] = np.zeros(num_buckets * 4,
                                               dtype=np.uint64)
                    counts[sh] = 0
                sel = s == sh
                m = sl.reshape(-1, 4)
                idx = b[sel]
                for i in range(4):
                    # buckets are distinct post-agg within a shard
                    m[idx, i] = ps[i][sel]
                counts[sh] += int(cnt[sel].sum())
        if slices:
            blobs = []
            for sh, sl in slices.items():
                n = counts[sh]
                if n > ndv0:
                    raise ValueError(
                        f"forest shard {sh} got {n} keys > level-0 "
                        f"capacity {ndv0}; a real taffy_block would "
                        "upsize — raise ndv or use engine='arrow'")
                level0 = np.ascontiguousarray(sl.view(np.uint32))
                f = TaffyBlockFilter(ndv0, fpp, [level0],
                                     ttl=ndv0 - n, last_ndv=ndv0)
                blobs.append(f.serialize())
            yield pa.RecordBatch.from_pydict({
                SHARD_COL: pa.array(list(slices), type=pa.int64()),
                "family": pa.array(["taffy_block"] * len(slices)),
                "params": pa.array([params] * len(slices)),
                "n_keys": pa.array([counts[s] for s in slices],
                                   type=pa.int64()),
                "n_partials": pa.array([1] * len(slices),
                                       type=pa.int64()),
                "filter": pa.array(blobs, type=pa.binary())})

    return agg.mapInArrow(assemble, schema=schema)


def freeze_filters(filters_df: DataFrame,
                   keep_sizes: bool = False) -> DataFrame:
    """Distributed freeze of a taffy_cuckoo filters frame: each task
    flips its rows' blobs to the frozen SWAR form
    (``taffy-cuckoo.c:127-160``) and the family column follows, so
    probes deserialize the right class per row. No driver loop — the
    blobs never leave the executors (the old per-row driver freeze was
    the round-6 regression and a scale wall at many groups).

    ``keep_sizes=True`` appends ``thawed_bytes``/``frozen_bytes``
    columns (the freeze-shrinks invariant audited by
    ``frozen_tcf_broadcast_probe``). Non-TCF rows pass through
    unchanged (sizes equal)."""
    import pandas as pd
    from pyspark.sql.types import LongType, StructField

    from ..filters import FAMILIES

    schema = StructType(list(filters_df.schema.fields))
    if keep_sizes:
        schema = StructType(schema.fields
                            + [StructField("thawed_bytes", LongType()),
                               StructField("frozen_bytes", LongType())])

    def freeze_rows(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            thawed, frozen, fams, blobs = [], [], [], []
            for fam, blob in zip(pdf["family"], pdf["filter"]):
                blob = bytes(blob)
                thawed.append(len(blob))
                if fam == "taffy_cuckoo":
                    fr = FAMILIES[fam].deserialize(blob) \
                        .freeze().serialize()
                    fams.append("frozen_taffy_cuckoo")
                    blobs.append(fr)
                    frozen.append(len(fr))
                else:
                    fams.append(fam)
                    blobs.append(blob)
                    frozen.append(len(blob))
            out = pdf.copy()
            out["family"] = fams
            out["filter"] = blobs
            if keep_sizes:
                out["thawed_bytes"] = pd.Series(thawed, dtype="int64")
                out["frozen_bytes"] = pd.Series(frozen, dtype="int64")
            yield out

    return filters_df.mapInPandas(freeze_rows, schema=schema)


def probe_with_forest(df: DataFrame, forest_df: DataFrame,
                      key_col: str = "key",
                      result_col: str = "maybe_seen") -> DataFrame:
    """Membership probe against a forest: derive the shard column
    JVM-side, then reuse the grouped broadcast-probe (only key + shard
    cross the Arrow boundary)."""
    from .probe import probe_with_filters
    # delegates to the auto-route, which collects the forest exactly
    # once (params + blobs in one job) and derives n_shards from the
    # authoritative params row
    return probe_with_filters(df, forest_df, None, key_col, result_col)


def forest_semi_join(probe_df: DataFrame, build_df: DataFrame,
                     forest_df: DataFrame,
                     key_col: str = "key") -> DataFrame:
    """Exact semi-join accelerated by the forest: forest probe prunes
    the probe side before the shuffle, exact left-semi verifies."""
    candidates = (probe_with_forest(probe_df, forest_df, key_col)
                  .where(F.col("maybe_seen")).drop("maybe_seen"))
    build_keys = build_df.select(key_col).dropDuplicates([key_col])
    return candidates.join(build_keys, on=key_col, how="left_semi")
