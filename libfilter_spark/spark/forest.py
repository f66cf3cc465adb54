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

# one row per built shard
_FOREST_SCHEMA = StructType([
    StructField(SHARD_COL, LongType()),
    StructField("family", StringType()),
    StructField("params", StringType()),
    StructField("n_keys", LongType()),
    StructField("n_partials", LongType()),
    StructField("filter", BinaryType()),
])


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
                        freeze: bool | None = None) -> DataFrame:
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

    Each shard is created once, at stream end, sized for its share:
    ``ndv // n_shards`` keys, and for ``taffy_block`` a level 0 of
    1.25 × that share + 64, so xxhash load jitter seldom grows a
    second level: the assembled ``_TbfForestProbe`` then probes the
    whole forest with one gather per key. A shard past the margin
    grows a level like any taffy_block, and its keys that miss the
    newer level pay a second gather.

    ``engine`` accepts ``"auto"`` and ``"arrow"`` only, both this
    streamed build. A JVM OR-aggregation taffy_block build (since
    deleted) with the same output lost every pair to it on a 4-core
    Xeon VM at local[4] (3 interleaved pairs per size, medians 2.83 vs
    2.05 s at 3M keys, 6.57 vs 4.93 s at 10M, 12.11 vs 8.78 s at 20M;
    BENCH/engine_ab.json), and a ``collect_list``-packed transfer was
    slower at local[2] and local[8] (11.43 vs 10.34 s, 5.53 vs
    4.46 s; BENCH/forest_ipc.json).

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

    Frozen is the DEFAULT serving shape: with ``freeze`` unset, a
    taffy_cuckoo forest serializes frozen — the path of least
    resistance IS the reference's read-only serving form. Pass
    ``freeze=False`` to keep live shards (full tails: lower FPP, later
    absorb/upsize possible).
    """
    spark = df.sparkSession
    if freeze is None:
        freeze = family == "taffy_cuckoo"
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
    if engine not in ("auto", "arrow"):
        raise ValueError(f"unknown forest engine {engine!r}: the "
                         "streamed 'arrow' build is the only one")
    cls = FAMILIES[family]
    per_shard = max(64, ndv // n_shards)
    # taffy_block: the 1.25x level-0 margin (see the docstring) keeps
    # every shard at one level; sized at exactly its share, about half
    # the shards grew a second one (128k keys against a 125k share:
    # 668,984 B in two levels, 228,944 B in one with the margin)
    size = int(per_shard * 1.25) + 64 if family == "taffy_block" \
        else per_shard
    is_binary = isinstance(df.schema[key_col].dataType, BinaryType)
    routed = repartition_by_shard(
        with_shard(df.select(key_col), key_col, n_shards), n_shards) \
        .select(key_col)

    def build_stream(batches):
        import numpy as np
        import pyarrow as pa

        from ..kernels.keys import (drop_null_keys, keys_from_arrow,
                                    shard_of_keys)
        bufs: dict[int, list] = {}
        for batch in batches:
            batch = drop_null_keys(batch)
            if batch.num_rows == 0:
                continue
            keys = keys_from_arrow(batch.column(0))
            shards = shard_of_keys(keys, n_shards, binary=is_binary)
            for s in np.unique(shards):
                bufs.setdefault(int(s), []).append(keys[shards == s])
        if not bufs:
            return
        # insert ONCE per shard at stream end: add_hashes pre-sizes to a
        # low-load configuration when it knows the full count, where
        # per-batch inserts measured 1.8x (TCF) to 2.5x (MTCF) slower
        # per key (every call runs the filter at its ~0.9-occupancy
        # growth edge). Transient cost: the task's keys at 8 B/key.
        counts, blobs = [], []
        for chunks in bufs.values():
            keys = np.concatenate(chunks) if len(chunks) > 1 else chunks[0]
            f = cls.create(size, fpp)
            f.add_hashes(keys)
            counts.append(len(keys))
            # frozen: the TCF's read-only SWAR form; the family column
            # flips so probes deserialize the right class per row
            blobs.append((f.freeze() if freeze else f).serialize())
        n = len(bufs)
        yield pa.RecordBatch.from_pydict({
            SHARD_COL: pa.array(list(bufs), type=pa.int64()),
            "family": pa.array(
                ["frozen_taffy_cuckoo" if freeze else family] * n),
            "params": pa.array([params] * n),
            "n_keys": pa.array(counts, type=pa.int64()),
            "n_partials": pa.array([1] * n, type=pa.int64()),
            "filter": pa.array(blobs, type=pa.binary())})

    return routed.mapInArrow(build_stream, schema=_FOREST_SCHEMA)


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
    """Exact semi-join accelerated by the forest: ``filter_semi_join``
    with the forest as a global filters frame (its probe routes keys
    to their shard)."""
    from .probe import filter_semi_join
    return filter_semi_join(probe_df, build_df, forest_df, None, key_col)
