"""One-pass forest build (round-4): the numpy xxhash64 replica must be
bit-exact with Spark's F.xxhash64 (the probe routes JVM-side with it),
and the streamed mapInArrow build must agree with the routing."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from libfilter_spark.kernels.keys import (shard_of_keys,
                                          spark_xxhash64_keys, to_signed)


def test_numpy_xxhash64_matches_spark(spark):
    rng = np.random.default_rng(11)
    keys = rng.integers(0, 1 << 64, 2000, dtype=np.uint64)
    df = spark.createDataFrame([(int(x),) for x in to_signed(keys)],
                               "key long")
    got = np.array([r[0] for r in df.select(F.xxhash64("key")).collect()],
                   dtype=np.int64)
    assert np.array_equal(got, spark_xxhash64_keys(keys, False)
                          .view(np.int64))
    blobs = [(bytearray(int(x).to_bytes(8, "big")),) for x in keys]
    dfb = spark.createDataFrame(blobs, "key binary")
    gotb = np.array([r[0] for r in dfb.select(F.xxhash64("key")).collect()],
                    dtype=np.int64)
    assert np.array_equal(gotb, spark_xxhash64_keys(keys, True)
                          .view(np.int64))
    gp = np.array([r[0] for r in
                   dfb.select(F.pmod(F.xxhash64("key"), F.lit(13)))
                   .collect()])
    assert np.array_equal(gp, shard_of_keys(keys, 13, binary=True))


def test_one_pass_forest_zero_fn_and_one_row_per_shard(spark):
    """Streamed build + JVM-routed probe: zero FN proves the numpy
    shard assignment equals the probe's JVM routing for every key;
    repartition-by-shard proves exactly one row per non-empty shard."""
    from libfilter_spark.spark.forest import (build_filter_forest,
                                              probe_with_forest)
    from libfilter_spark.spark.keys import with_content_key_bin
    n = 40_000
    df = spark.range(n).withColumn("content", F.col("id").cast("string"))
    keys = with_content_key_bin(df, "content").select("key")
    for family in ("taffy_cuckoo", "taffy_block"):
        forest = build_filter_forest(keys, "key", family, ndv=n,
                                     fpp=0.01, n_shards=8).cache()
        rows = forest.collect()
        shards = [r["__shard"] for r in rows]
        assert len(shards) == len(set(shards))  # one row per shard
        assert sum(r["n_keys"] for r in rows) == n
        found = probe_with_forest(keys, forest, "key") \
            .where("maybe_seen").count()
        assert found == n, (family, found)
        forest.unpersist()
    # null keys are dropped at build (same per-shard counts for every
    # family) and non-members at probe
    nulls = spark.createDataFrame([(None,)], keys.schema)
    for family in ("taffy_cuckoo", "taffy_block",
                   "minimal_taffy_cuckoo"):
        counts = [{r["__shard"]: r["n_keys"] for r in build_filter_forest(
            src, "key", family, ndv=n, n_shards=4).collect()}
            for src in (keys, keys.unionByName(nulls))]
        assert counts[0] == counts[1] and sum(counts[1].values()) == n
    forest = build_filter_forest(keys.unionByName(nulls), "key",
                                 "taffy_cuckoo", ndv=n, n_shards=4)
    forest.cache()
    got = probe_with_forest(keys.unionByName(nulls), forest, "key")
    assert got.where("maybe_seen").count() == n
    assert got.count() == n + 1
    forest.unpersist()
    # one shuffle: the shard routing exchange
    plan = build_filter_forest(keys, "key", "taffy_cuckoo", ndv=n,
                               n_shards=8)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_forest_engine_rejects_deleted_engines(spark):
    """The streamed build is the forest's one engine: ``auto`` and
    ``arrow`` name it; any other engine raises, naming the value."""
    import pytest as _pytest

    from libfilter_spark.spark.forest import build_filter_forest
    keys = spark.range(10).select(F.col("id").alias("key"))
    for engine in ("jvm", "arrow_packed"):
        with _pytest.raises(ValueError, match=engine):
            build_filter_forest(keys, "key", "taffy_block", ndv=10,
                                engine=engine)


def test_assembled_tbf_forest_probe_matches_grouped(spark):
    """Round-5: a single-level taffy_block forest (the default build's
    shape) probes through the assembled taffy_block kind; answers
    must equal the grouped shard route for binary AND long keys,
    including absent keys and nulls; a grown multi-level forest takes
    the same kind with the same answers."""
    import libfilter_spark.spark.probe as P
    from libfilter_spark.spark.forest import (build_filter_forest,
                                              probe_with_forest)
    from libfilter_spark.spark.keys import (with_content_key,
                                            with_content_key_bin)
    n = 30_000
    df = spark.range(n).withColumn("content", F.col("id").cast("string"))
    absent = spark.range(n, 2 * n).withColumn(
        "content", F.col("id").cast("string"))
    for keyfn in (with_content_key_bin,
                  lambda d, c: with_content_key(d, c, hex_col=None)):
        keys = keyfn(df, "content").select("key")
        akeys = keyfn(absent, "content").select("key")
        forest = build_filter_forest(keys, "key", "taffy_block", ndv=n,
                                     fpp=0.01, n_shards=8).cache()
        rows = forest.collect()
        blobs = {int(r["__shard"]): bytes(r["filter"]) for r in rows}
        assert P._TbfForestProbe.eligible(8, blobs)  # fast path eligible
        found = probe_with_forest(keys, forest, "key") \
            .where("maybe_seen").count()
        assert found == n  # zero FN through the assembled path
        # absent-key answers must equal the grouped route bit-for-bit
        from libfilter_spark.spark.forest import SHARD_COL, with_shard
        via_fast = probe_with_forest(akeys, forest, "key") \
            .where("maybe_seen").count()
        grouped_collected = {(s,): ("taffy_block", b)
                             for s, b in blobs.items()}
        routed = with_shard(akeys, "key", 8)
        via_grouped = P.probe_with_filters(
            routed, forest, [SHARD_COL], "key",
            _collected=grouped_collected).where("maybe_seen").count()
        assert via_fast == via_grouped
        forest.unpersist()
    # multi-level (grown) forest: the same assembled kind — zero FN
    # end-to-end, and absent answers equal the grouped route
    # bit-for-bit
    keys = with_content_key_bin(df, "content").select("key")
    akeys = with_content_key_bin(absent, "content").select("key")
    grown = build_filter_forest(keys, "key", "taffy_block",
                                ndv=8 * 64, fpp=0.01, n_shards=8).cache()
    gb = {int(r["__shard"]): bytes(r["filter"])
          for r in grown.collect()}
    assert max(len(P._tbf_levels(b)) for b in gb.values()) > 1  # grown
    assert P._TbfForestProbe.eligible(8, gb)
    assert probe_with_forest(keys, grown, "key") \
        .where("maybe_seen").count() == n
    from libfilter_spark.spark.forest import SHARD_COL, with_shard
    via_fast = probe_with_forest(akeys, grown, "key") \
        .where("maybe_seen").count()
    grouped_collected = {(s,): ("taffy_block", b) for s, b in gb.items()}
    routed = with_shard(akeys, "key", 8)
    via_grouped = P.probe_with_filters(
        routed, grown, [SHARD_COL], "key",
        _collected=grouped_collected).where("maybe_seen").count()
    assert via_fast == via_grouped
    grown.unpersist()


def test_assembled_tbf_multilevel_probe_unit():
    """The multi-level assembled TBF forest probe (round-6): bit
    parity with per-shard find_hashes on RAGGED level counts and
    missing-shard False parity."""
    import numpy as np

    import libfilter_spark.spark.probe as P
    from libfilter_spark.filters.taffy_block import TaffyBlockFilter
    from libfilter_spark.kernels.keys import shard_of_keys, splitmix64

    S = 8
    all_keys = splitmix64(30_000, seed=123)
    sh = shard_of_keys(all_keys, S, binary=False)
    blobs, filters = {}, {}
    for s in range(S):
        ks = all_keys[sh == s]
        if s == 3:  # ragged growth: one shard several levels deeper
            extra = splitmix64(200_000, seed=999)
            ks = np.concatenate(
                [ks, extra[shard_of_keys(extra, S, binary=False) == 3]])
        f = TaffyBlockFilter.create(64, 0.01)
        f.add_hashes(ks)
        filters[s], blobs[s] = f, f.serialize()
    assert len(filters[3].levels) > len(filters[0].levels)  # ragged
    assert P._TbfForestProbe.eligible(S, blobs)
    pv = P._TbfForestProbe.assemble(S, blobs)
    assert pv.find(all_keys, binary=False).all()  # zero FN
    absent = splitmix64(50_000, seed=456)
    mixed = np.concatenate([all_keys[:5000], absent])
    msh = shard_of_keys(mixed, S, binary=False)
    expect = np.zeros(len(mixed), dtype=bool)
    for s in range(S):
        m = msh == s
        expect[m] = filters[s].find_hashes(mixed[m])
    assert (pv.find(mixed, binary=False) == expect).all()
    del blobs[5]  # missing shard ⇒ its keys report False
    pv3 = P._TbfForestProbe.assemble(S, blobs)
    exp3 = expect.copy()
    exp3[msh == 5] = False
    assert (pv3.find(mixed, binary=False) == exp3).all()


def test_frozen_tcf_forest(spark):
    """Round-5: freeze=True serves each TCF shard in the frozen SWAR
    form (taffy-cuckoo.c:127-160) — zero FN across the freeze, blobs
    smaller than the live filter's, family column flipped so the
    shared probe route deserializes FrozenTaffyCuckooFilter, and both
    broadcast and shuffle probe routes agree."""
    from libfilter_spark.spark.forest import (build_filter_forest,
                                              probe_with_forest)
    from libfilter_spark.spark.keys import with_content_key_bin
    from libfilter_spark.spark.probe import probe_with_filters
    n = 30_000
    df = spark.range(n).withColumn("content", F.col("id").cast("string"))
    keys = with_content_key_bin(df, "content").select("key")
    live = build_filter_forest(keys, "key", "taffy_cuckoo", ndv=n,
                               fpp=0.01, n_shards=8,
                               freeze=False).cache()
    frozen = build_filter_forest(keys, "key", "taffy_cuckoo", ndv=n,
                                 fpp=0.01, n_shards=8,
                                 freeze=True).cache()
    frows = frozen.collect()
    assert all(r["family"] == "frozen_taffy_cuckoo" for r in frows)
    lbytes = sum(len(bytes(r["filter"])) for r in live.collect())
    fbytes = sum(len(bytes(r["filter"])) for r in frows)
    assert fbytes < lbytes  # tails dropped, 10-bit fp packing
    assert sum(r["n_keys"] for r in frows) == n
    # zero FN across the freeze
    found = probe_with_forest(keys, frozen, "key") \
        .where("maybe_seen").count()
    assert found == n
    # shuffle route deserializes the frozen family per row too
    s = probe_with_filters(keys, frozen, None, "key",
                           via="shuffle").where("maybe_seen").count()
    assert s == n
    import pytest as _pytest
    with _pytest.raises(ValueError, match="freeze"):
        build_filter_forest(keys, "key", "taffy_block", freeze=True)
    live.unpersist()
    frozen.unpersist()


def test_tbf_forest_jvm_engine_byte_identical(spark):
    """The default taffy_block forest keeps the deleted jvm engine's
    shape: every shard byte-identical to that engine's blob (the
    shard's keys scattered into ONE level-0 array sized for 1.25x the
    per-shard share + 64, ttl = ndv0 - n_keys), for binary AND long key
    columns, probing zero-FN; a shard past the margin grows a level
    instead of raising."""
    from libfilter_spark.filters.taffy_block import (TaffyBlockFilter,
                                                     _level0_ndv,
                                                     _level_bytes)
    from libfilter_spark.kernels import block as K
    from libfilter_spark.kernels.keys import sha256_keys
    from libfilter_spark.spark.forest import (build_filter_forest,
                                              probe_with_forest)
    from libfilter_spark.spark.keys import (with_content_key,
                                            with_content_key_bin)
    n, shards, fpp = 30_000, 8, 0.01
    ndv0 = _level0_ndv(int((n // shards) * 1.25) + 64, fpp)
    nb = K.num_buckets_for(_level_bytes(ndv0, fpp, 0))
    all_keys = sha256_keys([str(i) for i in range(n)])
    df = spark.range(n).withColumn("content", F.col("id").cast("string"))
    for binary, keys in (
            (True, with_content_key_bin(df, "content").select("key")),
            (False, with_content_key(df, "content",
                                     hex_col=None).select("key"))):
        fr = build_filter_forest(keys, "key", "taffy_block", ndv=n,
                                 fpp=fpp, n_shards=shards).cache()
        got = {r["__shard"]: (bytes(r["filter"]), r["n_keys"])
               for r in fr.collect()}
        sh = shard_of_keys(all_keys, shards, binary=binary)
        expect = {}
        for s in range(shards):
            level0 = K.empty(nb)
            K.add_hashes(level0, all_keys[sh == s])
            m = int((sh == s).sum())
            expect[s] = (TaffyBlockFilter(ndv0, fpp, [level0],
                                          ttl=ndv0 - m,
                                          last_ndv=ndv0).serialize(), m)
        assert got == expect, binary
        assert probe_with_forest(keys, fr, "key") \
            .where("maybe_seen").count() == n
        fr.unpersist()
    # past the margin a shard grows a level (the jvm engine raised)
    tiny = build_filter_forest(
        with_content_key_bin(df, "content").select("key"),
        "key", "taffy_block", ndv=64, fpp=fpp, n_shards=2).collect()
    assert all(len(TaffyBlockFilter.deserialize(bytes(r["filter"]))
                   .levels) > 1 for r in tiny)
    assert sum(r["n_keys"] for r in tiny) == n


def test_assembled_frozen_tcf_probe_unit():
    """The assembled frozen-TCF forest probe (round-6, verdict task 2)
    must answer EXACTLY like per-shard FrozenTaffyCuckooFilter finds:
    zero FN on present keys, bit-identical FP pattern on absent keys,
    stash entries findable through the shard-prefixed side table, and
    keys routed to a MISSING shard reported False (the fp==0
    always-true quirk must not leak through empty matrix rows)."""
    import numpy as np

    import libfilter_spark.spark.probe as P
    from libfilter_spark.filters import TaffyCuckooFilter
    from libfilter_spark.kernels.keys import shard_of_keys, splitmix64

    n, n_sh = 60_000, 8
    keys = splitmix64(n, seed=21)
    absent = splitmix64(2 * n, seed=21)[n:]
    shards = shard_of_keys(keys, n_sh, binary=False)
    blobs, frozen = {}, {}
    for s in range(n_sh - 1):  # shard 7 deliberately MISSING
        f = TaffyCuckooFilter.create(n // n_sh)
        f.add_hashes(keys[shards == s])
        fr = f.freeze()
        frozen[s] = fr
        blobs[s] = fr.serialize()
    assert P._FrozenTcfForestProbe.eligible(n_sh, blobs)
    pv = P._FrozenTcfForestProbe.assemble(n_sh, blobs)
    assert pv is not None
    # zero FN for keys of PRESENT shards
    present_mask = shards != (n_sh - 1)
    got = pv.find(keys, binary=False)
    assert got[present_mask].all()
    # missing shard: always False, even for fp==0 keys
    assert not got[~present_mask].any()
    # absent keys: per-shard bit-parity with the real frozen filters
    a_sh = shard_of_keys(absent, n_sh, binary=False)
    expect = np.zeros(len(absent), dtype=bool)
    for s, fr in frozen.items():
        sel = a_sh == s
        expect[sel] = fr.find_hashes(absent[sel])
    assert np.array_equal(pv.find(absent, binary=False), expect)
    # non-uniform shards (different log_side_size) not eligible
    big = TaffyCuckooFilter.create(50 * n)
    big.add_hashes(keys[:100])
    blobs2 = dict(blobs)
    blobs2[n_sh - 1] = big.freeze().serialize()
    assert not P._FrozenTcfForestProbe.eligible(n_sh, blobs2)
    assert P._FrozenTcfForestProbe.assemble(n_sh, blobs2) is None


def test_assembled_frozen_tcf_probe_matches_grouped(spark):
    """Spark end-to-end: a frozen TCF forest probes through the
    assembled fast path; answers must equal the grouped shard route
    for binary AND long keys on present + absent + null keys."""
    import libfilter_spark.spark.probe as P
    from libfilter_spark.spark.forest import (SHARD_COL,
                                              build_filter_forest,
                                              probe_with_forest,
                                              with_shard)
    from libfilter_spark.spark.keys import (with_content_key,
                                            with_content_key_bin)
    n = 30_000
    df = spark.range(n).withColumn("content", F.col("id").cast("string"))
    absent = spark.range(n, 2 * n).withColumn(
        "content", F.col("id").cast("string"))
    for keyfn in (with_content_key_bin,
                  lambda d, c: with_content_key(d, c, hex_col=None)):
        keys = keyfn(df, "content").select("key")
        akeys = keyfn(absent, "content").select("key")
        forest = build_filter_forest(keys, "key", "taffy_cuckoo",
                                     ndv=n, fpp=0.01, n_shards=8,
                                     freeze=True).cache()
        rows = forest.collect()
        blobs = {int(r["__shard"]): bytes(r["filter"]) for r in rows}
        assert P._FrozenTcfForestProbe.eligible(8, blobs)  # fast path eligible
        found = probe_with_forest(keys, forest, "key") \
            .where("maybe_seen").count()
        assert found == n  # zero FN through the assembled path
        via_fast = probe_with_forest(akeys, forest, "key") \
            .where("maybe_seen").count()
        grouped_collected = {(s,): ("frozen_taffy_cuckoo", b)
                             for s, b in blobs.items()}
        routed = with_shard(akeys, "key", 8)
        via_grouped = P.probe_with_filters(
            routed, forest, [SHARD_COL], "key",
            _collected=grouped_collected).where("maybe_seen").count()
        assert via_fast == via_grouped
        forest.unpersist()


def test_probe_only_default_freezes_tcf(spark):
    """Round-6 (verdict task 3): with no freeze argument a
    taffy_cuckoo forest serializes FROZEN — the reference's read-only
    serving shape is the default; freeze=False keeps live shards."""
    from libfilter_spark.spark.forest import build_filter_forest
    from libfilter_spark.spark.keys import with_content_key_bin
    n = 5_000
    df = spark.range(n).withColumn("content", F.col("id").cast("string"))
    keys = with_content_key_bin(df, "content").select("key")
    default = build_filter_forest(keys, "key", "taffy_cuckoo", ndv=n,
                                  n_shards=4)
    assert all(r["family"] == "frozen_taffy_cuckoo"
               for r in default.collect())
    live = build_filter_forest(keys, "key", "taffy_cuckoo", ndv=n,
                               n_shards=4, freeze=False)
    assert all(r["family"] == "taffy_cuckoo" for r in live.collect())
    # non-cuckoo families are unaffected by the default
    tbf = build_filter_forest(keys, "key", "taffy_block", ndv=n,
                              n_shards=4)
    assert all(r["family"] == "taffy_block" for r in tbf.collect())


def test_tbf_forest_uniform_rejects_foreign_mix():
    """_TbfForestProbe.eligible only accepts shards whose per-level sizes
    agree (one forest's shared creation params); a mix of filters
    created with different params must fall back to the grouped
    route, not assemble a wrong-size matrix."""
    import numpy as np

    import libfilter_spark.spark.probe as P
    from libfilter_spark.filters.taffy_block import TaffyBlockFilter
    from libfilter_spark.kernels.keys import splitmix64

    a = TaffyBlockFilter.create(64, 0.01)
    a.add_hashes(splitmix64(5000, seed=1))
    b = TaffyBlockFilter.create(50_000, 0.001)  # different schedule
    b.add_hashes(splitmix64(5000, seed=2))
    blobs = {0: a.serialize(), 1: b.serialize()}
    assert not P._TbfForestProbe.eligible(2, blobs)
    assert P._TbfForestProbe.assemble(2, blobs) is None
    assert P._TbfForestProbe.eligible(2, {}) is False


def test_assembled_live_tcf_probe_unit():
    """The assembled LIVE taffy-cuckoo forest probe must answer
    EXACTLY like per-shard TaffyCuckooFilter finds: zero FN on present
    keys, bit-identical FP pattern on absent keys, stash entries
    findable through the shard-prefixed code table, and keys routed to
    a MISSING shard reported False. Also pins the non-uniform
    (upsized-shard) refusal."""
    import numpy as np

    import libfilter_spark.spark.probe as P
    from libfilter_spark.filters import TaffyCuckooFilter
    from libfilter_spark.filters.taffy_cuckoo import HEAD, TAIL, _to_path
    from libfilter_spark.kernels.keys import shard_of_keys, splitmix64

    n, n_sh = 60_000, 8
    keys = splitmix64(n, seed=21)
    absent = splitmix64(2 * n, seed=21)[n:]
    shards = shard_of_keys(keys, n_sh, binary=False)
    blobs, live = {}, {}
    stash_probe_keys = []
    for s in range(n_sh - 1):  # shard 7 deliberately MISSING
        f = TaffyCuckooFilter.create(n // n_sh)
        mine = keys[shards == s]
        f.add_hashes(mine[:-1])
        # plant the shard's LAST key in the side-0 stash only (never
        # in a slot): both routes must find it through the stash scan
        k = int(mine[-1])
        if not f.find_hash(k):
            b, fp, t = _to_path(k, f.sides[0].keys, f.log_side_size)
            f.sides[0].stash.append((b, fp, t))
            stash_probe_keys.append(k)
        live[s] = f
        blobs[s] = f.serialize()
    assert stash_probe_keys  # the plant must exercise the stash path
    assert P._LiveTcfForestProbe.eligible(n_sh, blobs)
    pv = P._LiveTcfForestProbe.assemble(n_sh, blobs)
    assert pv is not None
    assert pv.find(np.array(stash_probe_keys, dtype=np.uint64),
                   binary=False).all()
    present_mask = shards != (n_sh - 1)
    got = pv.find(keys, binary=False)
    # all but the un-inserted planted keys: zero FN; planted keys are
    # found via the stash, so EVERY present-shard key must hit
    assert got[present_mask].all()
    assert not got[~present_mask].any()
    # absent keys: per-shard bit-parity with the real live filters
    a_sh = shard_of_keys(absent, n_sh, binary=False)
    expect = np.zeros(len(absent), dtype=bool)
    for s, f in live.items():
        sel = a_sh == s
        expect[sel] = f.find_hashes(absent[sel])
    assert np.array_equal(pv.find(absent, binary=False), expect)
    # non-uniform shards (different log_side_size) not eligible
    big = TaffyCuckooFilter.create(50 * n)
    big.add_hashes(keys[:100])
    blobs2 = dict(blobs)
    blobs2[n_sh - 1] = big.serialize()
    assert not P._LiveTcfForestProbe.eligible(n_sh, blobs2)
    assert P._LiveTcfForestProbe.assemble(n_sh, blobs2) is None
    assert P._LiveTcfForestProbe.eligible(n_sh, {}) is False


def test_assembled_live_tcf_probe_matches_grouped(spark):
    """Spark end-to-end: a LIVE (freeze=False) TCF forest probes
    through the assembled fast path; answers must equal the grouped
    shard route for binary AND long keys on present + absent keys."""
    import libfilter_spark.spark.probe as P
    from libfilter_spark.spark.forest import (SHARD_COL,
                                              build_filter_forest,
                                              probe_with_forest,
                                              with_shard)
    from libfilter_spark.spark.keys import (with_content_key,
                                            with_content_key_bin)
    n = 30_000
    df = spark.range(n).withColumn("content", F.col("id").cast("string"))
    absent = spark.range(n, 2 * n).withColumn(
        "content", F.col("id").cast("string"))
    for keyfn in (with_content_key_bin,
                  lambda d, c: with_content_key(d, c, hex_col=None)):
        keys = keyfn(df, "content").select("key")
        akeys = keyfn(absent, "content").select("key")
        forest = build_filter_forest(keys, "key", "taffy_cuckoo",
                                     ndv=n, fpp=0.01, n_shards=8,
                                     freeze=False).cache()
        rows = forest.collect()
        assert all(r["family"] == "taffy_cuckoo" for r in rows)
        blobs = {int(r["__shard"]): bytes(r["filter"]) for r in rows}
        assert P._LiveTcfForestProbe.eligible(8, blobs)  # fast path eligible
        found = probe_with_forest(keys, forest, "key") \
            .where("maybe_seen").count()
        assert found == n  # zero FN through the assembled path
        via_fast = probe_with_forest(akeys, forest, "key") \
            .where("maybe_seen").count()
        grouped_collected = {(s,): ("taffy_cuckoo", b)
                             for s, b in blobs.items()}
        routed = with_shard(akeys, "key", 8)
        via_grouped = P.probe_with_filters(
            routed, forest, [SHARD_COL], "key",
            _collected=grouped_collected).where("maybe_seen").count()
        assert via_fast == via_grouped
        forest.unpersist()


def test_live_tcf_nonuniform_forest_falls_back_grouped(spark):
    """A live TCF forest whose shards sit at DIFFERENT log_side_sizes
    is not eligible for the assembled route and must fall back to the
    grouped per-shard probe — still zero FN. Non-uniformity is forced
    by rebuilding one shard at a larger size with the SAME keys
    (membership preserved, geometry diverged)."""
    import numpy as np
    import pandas as pd

    import libfilter_spark.spark.probe as P
    from libfilter_spark.filters import TaffyCuckooFilter
    from libfilter_spark.kernels.keys import shard_of_keys, to_unsigned
    from libfilter_spark.spark.forest import build_filter_forest, \
        probe_with_forest
    from libfilter_spark.spark.keys import with_content_key_bin
    n, n_sh = 40_000, 7
    df = spark.range(n).withColumn("content", F.col("id").cast("string"))
    keys = with_content_key_bin(df, "content").select("key").cache()
    forest = build_filter_forest(keys, "key", "taffy_cuckoo",
                                 ndv=n, fpp=0.01, n_shards=n_sh,
                                 freeze=False)
    rows = [r.asDict() for r in forest.collect()]
    # rebuild shard 0 at 8x the size with ITS OWN keys: same members,
    # different log_side_size => assembled route must refuse
    kd = keys.toPandas()["key"]
    karr = to_unsigned(np.frombuffer(b"".join(kd), dtype=">u8")
                       .astype(np.uint64))
    # binary=True: the forest routes binary key columns by
    # xxhash64(bytes), not xxhash64(long) — must match the build
    sh = shard_of_keys(karr, n_sh, binary=True)
    big = TaffyCuckooFilter.create(8 * n)
    big.add_hashes(karr[sh == 0])
    for r in rows:
        if int(r["__shard"]) == 0:
            r["filter"] = bytearray(big.serialize())
    blobs = {int(r["__shard"]): bytes(r["filter"]) for r in rows}
    logs = {TaffyCuckooFilter.deserialize(b).log_side_size
            for b in blobs.values()}
    assert len(logs) > 1          # geometry actually diverged
    assert not P._LiveTcfForestProbe.eligible(n_sh, blobs)
    assert P._LiveTcfForestProbe.assemble(n_sh, blobs) is None
    forest2 = spark.createDataFrame(
        pd.DataFrame([{**r, "filter": bytes(r["filter"])}
                      for r in rows]), forest.schema)
    found = probe_with_forest(keys, forest2, "key") \
        .where("maybe_seen").count()
    assert found == n             # zero FN through the grouped fallback
    keys.unpersist()


@pytest.mark.parametrize("shape, kind", [
    ("block_slices", "block_slice_set"),
    ("tbf_single", "tbf_forest_set"),
    ("tbf_grown", "tbf_forest_set"),
    ("tcf_frozen", "frozen_tcf_set"),
    ("tcf_live", "tcf_set"),
    ("mtcf", None),             # no assembled kind: per-shard map
])
def test_shard_frame_routes_agree(spark, monkeypatch, shape, kind):
    """Every route of a global probe against a shard frame gives the
    same answer per key: broadcast, shuffle, and auto over the budget
    (which falls back to the cogroup), each on a cached and an
    uncached frame, with zero false negatives. A repeat probe of the
    cached frame is served from the driver memo without collecting a
    blob."""
    import json

    import libfilter_spark.spark.probe as P
    from libfilter_spark.spark.forest import build_filter_forest
    from libfilter_spark.spark.keys import with_content_key_bin
    from libfilter_spark.spark.sharded import build_block_shards

    n, S = 6_000, 4
    base = spark.range(2 * n).withColumn("content",
                                         F.col("id").cast("string"))
    probe = with_content_key_bin(base, "content").select("id", "key")
    keys = probe.where(F.col("id") < n).select("key")

    def build():
        if shape == "block_slices":
            return build_block_shards(keys, ndv=n, fpp=0.01, n_shards=S)
        family, ndv, freeze = {
            "tbf_single": ("taffy_block", n, None),
            "tbf_grown": ("taffy_block", S * 64, None),
            "tcf_frozen": ("taffy_cuckoo", n, True),
            "tcf_live": ("taffy_cuckoo", n, False),
            "mtcf": ("minimal_taffy_cuckoo", n, None)}[shape]
        return build_filter_forest(keys, "key", family, ndv=ndv,
                                   fpp=0.01, n_shards=S, freeze=freeze)

    rows = build().collect()
    blobs = {r["__shard"]: bytes(r["filter"]) for r in rows}
    fams = {r["family"] for r in rows}
    n_sh = int(json.loads(rows[0]["params"])["n_shards"])
    assert [k for k, c in P._ASSEMBLED.items()
            if fams == {c.family} and c.eligible(n_sh, blobs)] \
        == ([kind] if kind else [])
    if shape == "tbf_grown":
        assert max(len(P._tbf_levels(b)) for b in blobs.values()) > 1

    def answers(frame, via):
        got = {r["id"]: r["maybe_seen"] for r in P.probe_with_filters(
            probe, frame, None, via=via).select("id", "maybe_seen")
            .collect()}
        assert len(got) == 2 * n
        assert all(got[i] for i in range(n)), (via, "false negative")
        return got

    def poisoned(*a, **kw):
        raise AssertionError("repeat probe collected the blobs")

    expect = None
    for cached in (False, True):
        frame = build()
        if cached:
            frame.cache()
        for via in ("broadcast", "shuffle", "over_budget"):
            with monkeypatch.context() as m:
                if via == "over_budget":
                    m.setattr(P, "_BROADCAST_MAX", 8)
                route = "auto" if via == "over_budget" else via
                got = answers(frame, route)
                expect = expect or got
                assert got == expect, (cached, via)
                if cached:
                    m.setattr(P, "_collect_budgeted", poisoned)
                    m.setattr(P, "_filter_map", poisoned)
                    assert answers(frame, route) == expect, (cached, via)
        frame.unpersist()
