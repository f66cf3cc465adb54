"""Sharded block-filter build: byte-identical to the single-process
kernel build, at several shard counts."""

import numpy as np
import pyspark.sql.functions as F

from libfilter_spark.filters import BlockFilter
from libfilter_spark.kernels.keys import sha256_keys
from libfilter_spark.spark.keys import with_content_key_bin
from libfilter_spark.spark.probe import probe_with_filters


def test_sharded_build_byte_identical(spark):
    """Byte parity with the local kernel at several shard counts, for
    binary AND int64 key columns; every key counted once."""
    from libfilter_spark.spark.sharded import (assemble_block_shards,
                                               build_block_shards)
    n = 20_000
    local = BlockFilter.create_with_ndv_fpp(n, 0.01)
    local.add_hashes(sha256_keys([str(i) for i in range(n)]))
    expect = local.serialize()
    for binary in (True, False):
        keys = _content_keys(spark, n, binary)
        for shards in (1, 3, 6, 8):
            sh = build_block_shards(keys, ndv=n, fpp=0.01,
                                    n_shards=shards).cache()
            assert assemble_block_shards(sh) == expect, (binary, shards)
            assert sh.agg(F.sum("n_keys")).first()[0] == n
            sh.unpersist()


def test_block_shard_matches_kernel_buckets(spark):
    """The JVM shard column equals the kernel's bucket range, shard =
    bucket_index * n_shards // num_buckets, for binary and int64 keys:
    random keys plus the keys on either side of every shard's first
    bucket, at shard counts up to one per bucket. A null key still
    gets a shard: a null partition id would fail the repartition."""
    from pyspark.sql.types import BinaryType, StructField, StructType

    from libfilter_spark.kernels import block as K
    from libfilter_spark.kernels.keys import keys_from_arrow
    from libfilter_spark.spark.sharded import (SHARD_COL, _shard_bounds,
                                               with_block_shard)
    rng = np.random.default_rng(5)
    for nb, n in ((1, 1), (7, 3), (1000, 4), (1000, 8), (4096, 1000),
                  (97, 97)):
        edges = [(-(-(lo << 32) // nb) + d) % (1 << 32)
                 for lo, _ in _shard_bounds(nb, n) for d in (-1, 0)]
        vals = [int(x) for x in rng.integers(0, 1 << 63, 2_000)] + \
            [(e << 32) | 0xFFFFFFFF for e in edges] + \
            [e << 32 for e in edges] + [(1 << 64) - 1]
        rows = [(v.to_bytes(8, "big"),) for v in vals] + [(None,)]
        df = spark.createDataFrame(
            rows, StructType([StructField("key", BinaryType())]))
        for src in (df, df.select(F.conv(F.hex("key"), 16, -10)
                                  .cast("long").alias("key"))):
            t = with_block_shard(src, "key", nb, n).toArrow()
            got = t.column(SHARD_COL).to_pylist()
            assert 0 <= got[-1] < n, (nb, n)
            keys = keys_from_arrow(t.column("key").slice(0, len(vals)))
            want = K.bucket_index(keys, nb).astype(np.int64) * n // nb
            assert got[:-1] == want.tolist(), (nb, n)


def test_sharded_build_engines_byte_identical(spark):
    """Binary and int64 key columns of the same content build
    byte-identical shard frames (same slices, same per-shard key
    counts) at 6 shards, and each assembles to the local kernel blob."""
    from libfilter_spark.spark.sharded import (assemble_block_shards,
                                               build_block_shards)
    n = 20_000
    local = BlockFilter.create_with_ndv_fpp(n, 0.01)
    local.add_hashes(sha256_keys([str(i) for i in range(n)]))
    expect = local.serialize()
    frames = {}
    for binary in (True, False):
        sh = build_block_shards(_content_keys(spark, n, binary), ndv=n,
                                fpp=0.01, n_shards=6).cache()
        frames[binary] = {r["__shard"]: (bytes(r["filter"]), r["n_keys"])
                          for r in sh.collect()}
        assert assemble_block_shards(sh) == expect, binary
        sh.unpersist()
    assert len(frames[True]) == 6
    assert frames[True] == frames[False]


def test_sharded_probe_round_trip(spark):
    """An exported shard frame probes as a one-row block filters
    frame with zero false negatives."""
    import json

    from libfilter_spark.spark.sharded import (assemble_block_shards,
                                               build_block_shards)
    n = 30_000
    df = spark.range(n).withColumn("content", F.col("id").cast("string"))
    keys = with_content_key_bin(df, "content").select("key")
    blob = assemble_block_shards(
        build_block_shards(keys, ndv=n, fpp=0.01, n_shards=8))
    filters = spark.createDataFrame(
        [("block", json.dumps({"ndv": n, "fpp": 0.01}), None, None,
          bytearray(blob))],
        "family string, params string, n_keys long, n_partials long, "
        "filter binary")
    found = probe_with_filters(keys, filters, None) \
        .where("maybe_seen").count()
    assert found == n


def test_block_shard_frame_distributed(spark):
    """The scale path: build stays distributed (one block_slice row
    per shard, never assembled on the driver); probing the shard frame
    is exactly equivalent to probing the assembled blob."""
    from libfilter_spark.spark.sharded import (assemble_block_shards,
                                               build_block_shards,
                                               probe_with_block_shards)
    n = 30_000
    df = spark.range(n).withColumn("content", F.col("id").cast("string"))
    keys = with_content_key_bin(df, "content").select("key")
    shards = build_block_shards(keys, ndv=n, fpp=0.01, n_shards=8).cache()
    assert shards.count() == 8
    assert shards.select("family").distinct().collect()[0][0] == \
        "block_slice"
    # zero FN through the shard-frame probe
    assert probe_with_block_shards(keys, shards, "key") \
        .where("maybe_seen").count() == n
    # probe_with_filters auto-routes shard frames (global probe)
    assert probe_with_filters(keys, shards, None) \
        .where("maybe_seen").count() == n
    # absent keys: same verdict, key by key, as the assembled filter
    absent = spark.range(n, 2 * n) \
        .withColumn("content", F.col("id").cast("string"))
    akeys = with_content_key_bin(absent, "content").select("key")
    via_shards = probe_with_block_shards(akeys, shards, "key") \
        .where("maybe_seen").count()
    full = BlockFilter.deserialize(assemble_block_shards(shards))
    expect_fp = int(full.find_hashes(
        sha256_keys([str(i) for i in range(n, 2 * n)])).sum())
    assert via_shards == expect_fp
    # assembly is byte-identical to the local build
    local = BlockFilter.create_with_ndv_fpp(n, 0.01)
    local.add_hashes(sha256_keys([str(i) for i in range(n)]))
    assert assemble_block_shards(shards) == local.serialize()


def test_block_shards_long_keys(spark):
    """Shard routing also works for int64 (two's-complement uint64)
    key columns — the upper-32-bit extraction must agree with the
    numpy kernel for negative longs too."""
    import pandas as pd

    from libfilter_spark.kernels.keys import to_unsigned
    from libfilter_spark.spark.sharded import build_block_shards
    rng = np.random.default_rng(7)
    vals = rng.integers(-(2 ** 63), 2 ** 63, size=20_000, dtype=np.int64)
    keys = spark.createDataFrame(pd.DataFrame({"key": vals}))
    shards = build_block_shards(keys, ndv=20_000, fpp=0.01,
                                n_shards=8).cache()
    assert probe_with_filters(keys, shards, None) \
        .where("maybe_seen").count() == len(np.unique(vals))
    # byte-identity vs local kernel build over the same uint64 keys
    from libfilter_spark.spark.sharded import assemble_block_shards
    local = BlockFilter.create_with_ndv_fpp(20_000, 0.01)
    local.add_hashes(to_unsigned(vals))
    assert assemble_block_shards(shards) == local.serialize()


def test_build_strategy_routing():
    """The size-based strategy router (spark/build.py): partials while
    blobs are small, sharded for huge global block filters, grouped
    bulk for huge grouped builds of any family and for static XOR
    always."""
    from libfilter_spark.spark.build import (estimate_filter_bytes,
                                             select_build_strategy)
    mb = 1 << 20
    # small builds: map-side combine everywhere
    assert select_build_strategy("block", False, 100_000, 0.01) == \
        "partials"
    assert select_build_strategy("taffy_cuckoo", True, 100_000, 0.01) == \
        "partials"
    # huge global block -> sharded (regardless of key dtype)
    assert select_build_strategy("block", False, 200_000_000, 0.004) == \
        "sharded"
    # huge grouped builds -> grouped bulk, for every family
    for fam in ("block", "taffy_block", "taffy_cuckoo",
                "minimal_taffy_cuckoo", "bloom"):
        assert select_build_strategy(fam, True, 200_000_000, 0.004) == \
            "grouped_bulk", fam
    # huge global non-block stays partials (absorb/tree merge path;
    # the forest is the explicit scale API for cuckoo families)
    assert select_build_strategy("taffy_cuckoo", False, 200_000_000,
                                 0.004) == "partials"
    # static XOR always needs all group keys in one task
    assert select_build_strategy("static_xor", False, 10, 0.01) == \
        "grouped_bulk"
    # estimates are order-of-magnitude sane
    assert 100 * mb < estimate_filter_bytes("block", 200_000_000, 0.004) \
        < 1000 * mb
    assert estimate_filter_bytes("taffy_cuckoo", 200_000_000, 0.004) > \
        2 * 200_000_000


def test_grouped_bulk_large_build(spark, monkeypatch):
    """A grouped build past the routing threshold takes the bulk path
    (one full-size filter per group, zero blob merge) and still
    produces zero-FN filters probeable through the standard path."""
    import libfilter_spark.spark.build as B
    from libfilter_spark.spark.build import build_filters
    n = 40_000
    df = (spark.range(n)
          .withColumn("g", (F.col("id") % 4).cast("string"))
          .withColumn("content", F.col("id").cast("string")))
    keys = with_content_key_bin(df, "content").select("g", "key")
    monkeypatch.setattr(B, "_SHARDED_MIN", 1)  # force the bulk route
    filters = build_filters(keys, ["g"], family="block",
                            ndv=n // 4, fpp=0.01).cache()
    rows = filters.collect()
    assert len(rows) == 4
    assert all(r["n_partials"] == 1 for r in rows)  # bulk: no merge
    found = probe_with_filters(keys, filters, ["g"]) \
        .where("maybe_seen").count()
    assert found == n


def test_tcf_forest_build_probe_semijoin(spark):
    """Filter forest (merge-free TCF scale path): shard-routed build +
    grouped probe, zero FN, structural FPP (no tail loss — contrast
    with a many-way union, which burns log2(P) tail bits)."""
    from pyspark.sql import functions as F

    from libfilter_spark.spark.forest import (build_filter_forest,
                                              forest_semi_join,
                                              probe_with_forest)
    from libfilter_spark.spark.keys import with_content_key_bin

    n = 60_000
    df = (spark.range(n).withColumn("c", F.col("id").cast("string")))
    keys = with_content_key_bin(df, "c").select("key")
    forest = build_filter_forest(keys, "key", "taffy_cuckoo",
                                 ndv=n, fpp=0.01, n_shards=16,
                                 freeze=False).cache()  # live: tail-intact fpp
    assert forest.count() == 16
    # zero FN over members
    probed = probe_with_forest(keys, forest, "key")
    assert probed.where("maybe_seen").count() == n
    # FPP structural on absent keys (tail intact: ~2^-10 * slots)
    absent = (spark.range(n, 2 * n)
              .withColumn("c", F.col("id").cast("string")))
    akeys = with_content_key_bin(absent, "c").select("key")
    n_fp = probe_with_forest(akeys, forest, "key") \
        .where("maybe_seen").count()
    assert n_fp / n < 0.01, n_fp / n
    # semi-join end-to-end (exact verify)
    hits = forest_semi_join(akeys, keys, forest, "key")
    assert hits.count() == 0  # absent keys never survive exact verify
    hits2 = forest_semi_join(keys, keys, forest, "key")
    assert hits2.count() == n
    # empty build side: filter may say maybe, exact verify says no
    empty_build = keys.limit(0)
    assert forest_semi_join(akeys, empty_build, forest, "key").count() == 0


def test_mtcf_forest_build_probe(spark):
    """The forest is family-generic: minimal taffy cuckoo shards build
    and probe through the same machinery."""
    from pyspark.sql import functions as F

    from libfilter_spark.spark.forest import (build_filter_forest,
                                              probe_with_forest)
    from libfilter_spark.spark.keys import with_content_key_bin

    n = 20_000
    df = spark.range(n).withColumn("c", F.col("id").cast("string"))
    keys = with_content_key_bin(df, "c").select("key")
    forest = build_filter_forest(keys, "key", "minimal_taffy_cuckoo",
                                 ndv=n, fpp=0.01, n_shards=8).cache()
    assert probe_with_forest(keys, forest, "key") \
        .where("maybe_seen").count() == n
    absent = spark.range(n, 2 * n).withColumn("c",
                                              F.col("id").cast("string"))
    akeys = with_content_key_bin(absent, "c").select("key")
    n_fp = probe_with_forest(akeys, forest, "key") \
        .where("maybe_seen").count()
    assert n_fp / n < 0.03


def test_default_threshold_routes_5m_sharded():
    """Round-4: the sharded-route threshold (build._SHARDED_MIN) dropped
    32 MB -> 4 MB (sharded beat partials at every measured size; probe
    assembles slices per worker so probe speed matches the single
    blob)."""
    from libfilter_spark.spark.build import (_SHARDED_MIN,
                                             select_build_strategy)
    assert _SHARDED_MIN == 4 << 20
    assert select_build_strategy("block", False, 5_000_000, 0.004) == \
        "sharded"
    assert select_build_strategy("block", False, 1_000_000, 0.004) == \
        "partials"


def test_shard_frame_probe_assembles_per_worker(spark):
    """The auto-routed probe of a block shard frame must equal the
    grouped shard probe AND the assembled-blob probe (worker-side
    assembly fast path)."""
    from libfilter_spark.spark.build import build_filters
    from libfilter_spark.spark.probe import probe_with_filters
    n = 30_000
    df = spark.range(n).withColumn("content", F.col("id").cast("string"))
    keys = with_content_key_bin(df, "content").select("key")
    sh = build_block_shards_mod = __import__(
        "libfilter_spark.spark.sharded", fromlist=["build_block_shards"]
    ).build_block_shards(keys, ndv=n, fpp=0.01, n_shards=8)
    sh.cache().count()
    probe_df = spark.range(2 * n).withColumn(
        "content", F.col("id").cast("string"))
    probe_keys = with_content_key_bin(probe_df, "content") \
        .select("key", "content")
    got = {r["content"]: r["maybe_seen"]
           for r in probe_with_filters(probe_keys, sh, None).collect()}
    assert all(got[str(i)] for i in range(n))  # zero FN
    # shuffle route agrees
    got_s = {r["content"]: r["maybe_seen"]
             for r in probe_with_filters(probe_keys, sh, None,
                                         via="shuffle").collect()}
    assert got == got_s
    sh.unpersist()


def _content_keys(spark, n, binary=True):
    from libfilter_spark.spark.keys import with_content_key
    df = spark.range(n).withColumn("content", F.col("id").cast("string"))
    if binary:
        return with_content_key_bin(df, "content").select("key")
    return with_content_key(df, "content", hex_col=None).select("key")


def test_shard_routed_builds_one_shard_per_partition(spark):
    """Every shard-routed build puts shard s on partition s, so each
    build task owns exactly one shard. Hash partitioning of the shard
    id would stack them (4 shards on 2 of 4 partitions)."""
    from libfilter_spark.spark.forest import build_filter_forest
    from libfilter_spark.spark.sharded import SHARD_COL, build_block_shards
    n = 20_000
    keys = _content_keys(spark, n)
    builds = [(f"block/{k}",
               build_block_shards(keys, ndv=n, fpp=0.01, n_shards=k), k)
              for k in (3, 4, 8)]
    builds += [(f"forest/{family}", build_filter_forest(
                    keys, "key", family, ndv=n, fpp=0.01, n_shards=4), 4)
               for family in ("taffy_cuckoo", "taffy_block")]
    for name, out, k in builds:
        rows = out.select(SHARD_COL,
                          F.spark_partition_id().alias("pid")).collect()
        assert sorted(r[SHARD_COL] for r in rows) == list(range(k)), name
        assert all(r[SHARD_COL] == r["pid"] for r in rows), \
            (name, sorted((r[SHARD_COL], r["pid"]) for r in rows))


def test_sharded_build_null_keys_dropped(spark):
    """Null keys are not members: binary and int64 keys build the same
    shard frame with nulls in the input as without."""
    from libfilter_spark.spark.sharded import SHARD_COL, build_block_shards
    n = 20_000
    for binary in (True, False):
        keys = _content_keys(spark, n, binary)
        nulls = spark.range(300).select(
            F.lit(None).cast(keys.schema["key"].dataType).alias("key"))
        frames = []
        for src in (keys, keys.unionByName(nulls)):
            sh = build_block_shards(src, ndv=n, fpp=0.01, n_shards=4)
            frames.append(sorted(
                (r[SHARD_COL], r["n_keys"], bytes(r["filter"]))
                for r in sh.collect()))
        assert frames[0] == frames[1], binary
        assert sum(r[1] for r in frames[1]) == n


def test_streamed_builds_derive_each_key_once(spark):
    """Every Python build drops null keys itself, so no JVM filter is
    pushed below the key projection to derive every key twice: one
    ``sha2`` in the physical plan of the sharded, forest, partials
    (global and grouped) and grouped-bulk builds, and of the grouped
    taffy_block build at ndv >= 10M (its JVM engine derived every key
    twice)."""
    from libfilter_spark.spark.build import build_filters
    from libfilter_spark.spark.forest import build_filter_forest
    from libfilter_spark.spark.sharded import build_block_shards
    n = 1_000
    keys = _content_keys(spark, n)
    gkeys = with_content_key_bin(
        spark.range(n).select((F.col("id") % 4).alias("g"),
                              F.col("id").cast("string").alias("content")),
        "content").select("g", "key")
    for out in (build_block_shards(keys, ndv=n, fpp=0.01, n_shards=4),
                build_filter_forest(keys, "key", "taffy_cuckoo", ndv=n,
                                    fpp=0.01, n_shards=4),
                build_filters(keys, None, ndv=n, strategy="partials"),
                build_filters(gkeys, ["g"], ndv=n, strategy="partials"),
                build_filters(gkeys, ["g"], ndv=n,
                              strategy="grouped_bulk"),
                build_filters(gkeys, ["g"], family="taffy_block",
                              ndv=10_000_000)):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("sha2(") == 1, plan


def test_grouped_shards_skewed_group(spark):
    """A group holding half the rows is cut into bucket ranges like
    every other: each group's shards land on different partitions, the
    big group's on all of them, and the blobs equal the partials
    route's (block) and the bulk build's (taffy_block, same level-0
    sizing)."""
    import json

    from libfilter_spark.filters.taffy_block import _level0_ndv
    from libfilter_spark.spark.build import _build_grouped, build_filters
    from libfilter_spark.spark.sharded import (SHARD_COL, _build_slices,
                                               build_grouped_blocks)
    n, ndv = 40_000, 20_000
    base = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, "big")
        .otherwise((F.col("id") % 9).cast("string")).alias("g"),
        F.col("id").cast("string").alias("content"))
    keys = with_content_key_bin(base, "content").select("g", "key")
    rows = _build_slices(keys, ["g"], "key", 1_000, 4, "{}").select(
        "g", SHARD_COL, F.spark_partition_id().alias("pid")).collect()
    parts: dict = {}
    for r in rows:
        parts.setdefault(r["g"], []).append(r["pid"])
    assert all(len(set(p)) == len(p) for p in parts.values()), parts
    assert sorted(parts["big"]) == [0, 1, 2, 3]

    def blobs(df):
        return {r["g"]: (bytes(r["filter"]), r["n_keys"])
                for r in df.collect()}

    shards = blobs(build_grouped_blocks(keys, ["g"], "key", "block", ndv,
                                        0.01))
    assert shards == blobs(build_filters(keys, ["g"], ndv=ndv, fpp=0.01,
                                         strategy="partials"))
    assert shards["big"][1] == n // 2 and len(shards) == 10
    ndv0 = _level0_ndv(int(ndv * 1.25) + 64, 0.01)
    assert blobs(build_grouped_blocks(keys, ["g"], "key", "taffy_block",
                                      ndv, 0.01)) == \
        blobs(_build_grouped(keys, ["g"], "key", "taffy_block", ndv0,
                             0.01))
    assert json.loads(build_grouped_blocks(
        keys, ["g"], "key", "block", ndv, 0.01).first()["params"]) == \
        {"ndv": ndv, "fpp": 0.01}
