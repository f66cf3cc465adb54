"""Probe routing: broadcast vs shuffle-route equivalence, the
auto-budget fallback, and the grouped build engines (round-4 items)."""

import pyspark.sql.functions as F
import pytest

from libfilter_spark.spark.build import build_filters
from libfilter_spark.spark.keys import with_content_key_bin
from libfilter_spark.spark.probe import probe_with_filters


@pytest.fixture(scope="module")
def grouped_setup(spark):
    build = spark.range(2_000).select(
        (F.col("id") % 4).cast("string").alias("g"),
        F.col("id").cast("string").alias("content"))
    build_keys = with_content_key_bin(build, "content") \
        .select("g", "key")
    filters = build_filters(build_keys, ["g"], ndv=1_000, fpp=0.01)
    filters.cache().count()
    probe = spark.range(3_000).select(
        (F.col("id") % 5).cast("string").alias("g"),
        F.col("id").cast("string").alias("content"))
    probe_keys = with_content_key_bin(probe, "content") \
        .select("g", "key", "content")
    # add a null-key row (must be a non-member, not a crash)
    null_row = spark.createDataFrame(
        [("0", None, "nullkey")], probe_keys.schema)
    return filters, probe_keys.unionByName(null_row)


def _result_map(df):
    return {(r["g"], r["content"]): r["maybe_seen"] for r in df.collect()}


def test_probe_shuffle_equals_broadcast(spark, grouped_setup):
    filters, probe = grouped_setup
    via_b = _result_map(probe_with_filters(probe, filters, ["g"],
                                           via="broadcast"))
    via_s = _result_map(probe_with_filters(probe, filters, ["g"],
                                           via="shuffle"))
    assert via_b == via_s
    assert len(via_b) == 3_001
    # zero FN: every build key in a surviving group must be seen
    assert all(v for (g, c), v in via_b.items()
               if g in "0123" and c.isdigit()
               and int(c) < 2_000 and int(c) % 4 == int(g))
    assert via_b[("0", "nullkey")] is False


def test_probe_auto_budget_falls_back_to_shuffle(spark, grouped_setup,
                                                 monkeypatch):
    import libfilter_spark.spark.probe as P
    filters, probe = grouped_setup
    expect = _result_map(probe_with_filters(probe, filters, ["g"],
                                            via="broadcast"))
    monkeypatch.setattr(P, "_BROADCAST_MAX", 8)  # force overflow
    got = _result_map(probe_with_filters(probe, filters, ["g"],
                                         via="auto"))
    assert got == expect


def test_probe_global_shuffle_route(spark):
    build = spark.range(1_000).select(
        F.col("id").cast("string").alias("content"))
    keys = with_content_key_bin(build, "content").select("key")
    filters = build_filters(keys, None, ndv=1_000, fpp=0.01)
    filters.cache().count()
    probe = spark.range(2_000).select(
        F.col("id").cast("string").alias("content"))
    probe_keys = with_content_key_bin(probe, "content") \
        .select("key", "content")
    b = {r["content"]: r["maybe_seen"]
         for r in probe_with_filters(probe_keys, filters, None,
                                     via="broadcast").collect()}
    s = {r["content"]: r["maybe_seen"]
         for r in probe_with_filters(probe_keys, filters, None,
                                     via="shuffle").collect()}
    assert b == s and len(b) == 2_000
    assert all(b[str(i)] for i in range(1_000))


def test_build_strategy_override_pins_partials(spark, monkeypatch):
    """Round-3 ADVICE low (streaming): strategy='partials' must yield a
    single mergeable row even when the size router would go sharded."""
    import libfilter_spark.spark.build as B
    monkeypatch.setattr(B, "_SHARDED_MIN", 1024)
    base = spark.range(2_000).select(
        F.col("id").cast("string").alias("content"))
    keys = with_content_key_bin(base, "content").select("key")
    routed = build_filters(keys, None, ndv=2_000_000, fpp=0.004)
    assert "__shard" in routed.columns  # router picks sharded
    pinned = build_filters(keys, None, ndv=2_000_000, fpp=0.004,
                           strategy="partials")
    assert "__shard" not in pinned.columns
    rows = pinned.collect()
    assert len(rows) == 1 and rows[0]["family"] == "block"


def test_grouped_block_jvm_engine_byte_identical(spark):
    """Huge grouped block builds route through the JVM bit_or engine
    (round-4): per-group blobs must be byte-identical to the streamed
    applyInArrow bulk build, and the public router must pick it past
    the 10M-ndv crossover."""
    from libfilter_spark.spark.build import (_build_grouped,
                                             _build_grouped_block_jvm,
                                             _result_schema)
    import json as _json
    n = 40_000
    base = spark.range(n).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.col("id").cast("string").alias("content"))
    keys = with_content_key_bin(base, "content").select("g", "key")
    proj = keys.select("g", "key")
    params = _json.dumps({"ndv": 20_000, "fpp": 0.01})
    jvm = _build_grouped_block_jvm(proj, ["g"], "key", 20_000, 0.01,
                                   params, _result_schema(proj, ["g"]))
    arrow = _build_grouped(keys, ["g"], "key", "block", 20_000, 0.01)
    f_jvm = {r["g"]: (bytes(r["filter"]), r["n_keys"])
             for r in jvm.collect()}
    f_arr = {r["g"]: (bytes(r["filter"]), r["n_keys"])
             for r in arrow.collect()}
    assert f_jvm == f_arr and len(f_jvm) == 3
    # public router: grouped block past both thresholds -> jvm path,
    # zero FN through the grouped probe
    filters = build_filters(keys, ["g"], ndv=12_000_000, fpp=0.01)
    filters.cache().count()
    found = probe_with_filters(keys, filters, ["g"]) \
        .where("maybe_seen").count()
    assert found == n
    filters.unpersist()


def test_grouped_tbf_jvm_engine_byte_identical(spark):
    """Round-5 (verdict task 7): huge grouped taffy_block builds run
    the insert as the JVM bit_or aggregation. Blobs must be
    byte-identical to the streamed create+add_hashes build at the same
    level-0 sizing, and the public router must pick the engine past
    the 10M-ndv crossover."""
    import json as _json

    from libfilter_spark.filters.taffy_block import (_level0_ndv)
    from libfilter_spark.spark.build import (_build_grouped,
                                             _build_grouped_tbf_jvm,
                                             _result_schema)
    n, ndv = 30_000, 9_000
    base = spark.range(n).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.col("id").cast("string").alias("content"))
    keys = with_content_key_bin(base, "content").select("g", "key")
    params = _json.dumps({"ndv": ndv, "fpp": 0.01})
    jvm = _build_grouped_tbf_jvm(keys, ["g"], "key", ndv, 0.01, params,
                                 _result_schema(keys, ["g"]))
    # streamed side gets the jvm engine's inflated level-0 hint so the
    # sizing (and therefore the bytes) match exactly; a 10k-key group
    # stays within level 0 either way
    ndv0 = _level0_ndv(int(ndv * 1.25) + 64, 0.01)
    arrow = _build_grouped(keys, ["g"], "key", "taffy_block",
                           ndv0, 0.01)
    f_jvm = {r["g"]: (bytes(r["filter"]), r["n_keys"], r["family"])
             for r in jvm.collect()}
    f_arr = {r["g"]: (bytes(r["filter"]), r["n_keys"], r["family"])
             for r in arrow.collect()}
    assert f_jvm == f_arr and len(f_jvm) == 3
    assert all(fam == "taffy_block" for _, _, fam in f_jvm.values())
    # public router: grouped taffy_block past the crossover -> jvm
    # engine, zero FN through the grouped probe
    filters = build_filters(keys, ["g"], family="taffy_block",
                            ndv=12_000_000, fpp=0.01)
    filters.cache().count()
    found = probe_with_filters(keys, filters, ["g"]) \
        .where("maybe_seen").count()
    assert found == n
    filters.unpersist()
    # a group overflowing the pre-sized level 0 raises, never
    # silently mis-builds
    tiny_params = _json.dumps({"ndv": 64, "fpp": 0.01})
    bad = _build_grouped_tbf_jvm(keys, ["g"], "key", 64, 0.01,
                                 tiny_params,
                                 _result_schema(keys, ["g"]))
    with pytest.raises(Exception, match="level-0 capacity"):
        bad.collect()


def test_sharded_override_validation(spark):
    """Round-4 ADVICE low: a pinned strategy='sharded' with group
    columns or a non-block family must error, not silently build one
    groupless block shard frame."""
    base = spark.range(100).select(
        (F.col("id") % 2).cast("string").alias("g"),
        F.col("id").cast("string").alias("content"))
    keys = with_content_key_bin(base, "content").select("g", "key")
    with pytest.raises(ValueError, match="sharded"):
        build_filters(keys, ["g"], strategy="sharded")
    with pytest.raises(ValueError, match="sharded"):
        build_filters(keys.select("key"), None, family="taffy_block",
                      strategy="sharded")


def test_grouped_block_jvm_null_group(spark):
    """Round-4 ADVICE medium: a null group value must not crash the
    JVM engine's assemble (np.unique cannot sort None); blobs must
    stay byte-identical to the streamed bulk build, null group
    included."""
    import json as _json

    from libfilter_spark.spark.build import (_build_grouped,
                                             _build_grouped_block_jvm,
                                             _result_schema)
    base = spark.range(9_000).select(
        F.when(F.col("id") % 3 == 0, None)
        .otherwise((F.col("id") % 3).cast("string")).alias("g"),
        F.col("id").cast("string").alias("content"))
    keys = with_content_key_bin(base, "content").select("g", "key")
    params = _json.dumps({"ndv": 4_000, "fpp": 0.01})
    jvm = _build_grouped_block_jvm(keys, ["g"], "key", 4_000, 0.01,
                                   params,
                                   _result_schema(keys, ["g"]))
    arrow = _build_grouped(keys, ["g"], "key", "block", 4_000, 0.01)
    f_jvm = {r["g"]: (bytes(r["filter"]), r["n_keys"])
             for r in jvm.collect()}
    f_arr = {r["g"]: (bytes(r["filter"]), r["n_keys"])
             for r in arrow.collect()}
    assert f_jvm == f_arr
    assert None in f_jvm and len(f_jvm) == 3


def test_shard_frame_auto_overbudget_stays_off_driver(spark,
                                                      monkeypatch):
    """Round-4 ADVICE medium: an over-budget shard frame must fall
    back to the shuffle probe WITHOUT first collecting every blob to
    the driver. Both the cached (length-agg precheck) and uncached
    (budgeted toLocalIterator) arms must agree with broadcast."""
    import libfilter_spark.spark.probe as P
    from libfilter_spark.spark.sharded import build_block_shards
    base = spark.range(4_000).select(
        F.col("id").cast("string").alias("content"))
    keys = with_content_key_bin(base, "content").select("key")
    shards = build_block_shards(keys, ndv=4_000, fpp=0.01, n_shards=4)
    probe = spark.range(8_000).select(
        F.col("id").cast("string").alias("content"))
    probe_keys = with_content_key_bin(probe, "content") \
        .select("key", "content")
    expect = {r["content"]: r["maybe_seen"]
              for r in probe_with_filters(probe_keys, shards, None,
                                          via="broadcast").collect()}
    assert all(expect[str(i)] for i in range(4_000))
    monkeypatch.setattr(P, "_BROADCAST_MAX", 8)
    # uncached arm: budgeted toLocalIterator stops within budget.
    # The iterator arm only engages on big sessions (>64 shuffle
    # partitions — small sessions plain-collect, see
    # _collect_budgeted), so pin a big-session shape for it.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        got_uncached = {r["content"]: r["maybe_seen"]
                        for r in probe_with_filters(probe_keys, shards,
                                                    None).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    shards.cache().count()
    got_cached = {r["content"]: r["maybe_seen"]
                  for r in probe_with_filters(probe_keys, shards,
                                              None).collect()}
    shards.unpersist()
    assert got_uncached == expect
    assert got_cached == expect


def test_filter_via_shm_zero_copy_equivalent():
    """A worker's private materialization of a broadcast map must probe
    identically to a plain deserialize for the flat-array families —
    block and a grown multi-level taffy_block (the families the removed
    raw-blob /dev/shm path used to serve). No Spark: _materialize's
    worker-side branch is exercised directly."""
    import uuid

    import numpy as np

    import libfilter_spark.spark.probe as P
    from libfilter_spark.filters import BlockFilter, TaffyBlockFilter
    from libfilter_spark.kernels.keys import splitmix64
    keys = splitmix64(30_000, seed=3)
    absent = splitmix64(60_000, seed=3)[30_000:]
    bf = BlockFilter.create_with_ndv_fpp(30_000, 0.01)
    bf.add_hashes(keys)
    tbf = TaffyBlockFilter.create(64, 0.01)
    tbf.add_hashes(keys)  # grown: multi-level
    assert len(tbf.levels) > 1
    fmap = {("block",): ("block", bf.serialize()),
            ("taffy_block",): ("taffy_block", tbf.serialize())}

    class FakeBC:
        value = (uuid.uuid4().hex, fmap)

    try:
        P._FILTER_CACHE.clear()
        got = P._materialize(FakeBC())
        for (fam,), (_, blob) in fmap.items():
            ref = P.FAMILIES[fam].deserialize(blob)
            g = got[(fam,)]
            assert g.find_hashes(keys).all()
            assert np.array_equal(g.find_hashes(absent),
                                  ref.find_hashes(absent))
        # second call (same worker) reuses the materialized map
        assert P._materialize(FakeBC()) is got
    finally:
        P._FILTER_CACHE.clear()


def test_shared_assembly_spark_end_to_end(spark):
    """A global shard-frame probe assembles its probe state in each
    python worker and answers exactly, first and repeat probe alike —
    for both the sharded block build and the TBF forest — and leaves
    no /dev/shm file behind (nothing is shared across processes)."""
    import glob

    from libfilter_spark.spark.forest import build_filter_forest
    from libfilter_spark.spark.sharded import build_block_shards

    n = 6_000
    base = spark.range(n).select(
        F.col("id").cast("string").alias("content"))
    keys = with_content_key_bin(base, "content").select("key")
    probe = spark.range(2 * n).select(
        F.col("id").cast("string").alias("content"))
    probe_keys = with_content_key_bin(probe, "content") \
        .select("key", "content")

    before = set(glob.glob("/dev/shm/libfilter_asm_*"))
    for frame in (
            build_block_shards(keys, ndv=n, fpp=0.01, n_shards=4),
            build_filter_forest(keys, "key", "taffy_block", ndv=n,
                                fpp=0.01, n_shards=4)):
        got = {r["content"]: r["maybe_seen"]
               for r in probe_with_filters(probe_keys, frame,
                                           None).collect()}
        assert all(got[str(i)] for i in range(n))  # zero FN
        # repeat probe (warm per-worker caches)
        again = {r["content"]: r["maybe_seen"]
                 for r in probe_with_filters(probe_keys, frame,
                                             None).collect()}
        assert again == got
    assert set(glob.glob("/dev/shm/libfilter_asm_*")) == before


def test_grouped_probe_int_group_with_nulls(spark):
    """A null value in an integer group column gets its own segment
    in the grouped broadcast probe's segmentation (group_segments keeps
    nulls as a key); its rows must report as non-members (not crash,
    not match). Pins the null-group skip in _broadcast_probe_udf."""
    build = spark.range(1_000).select(
        (F.col("id") % 4).alias("g"),
        F.col("id").cast("string").alias("content"))
    build_keys = with_content_key_bin(build, "content") \
        .select("g", "key")
    filters = build_filters(build_keys, ["g"], ndv=300, fpp=0.01)
    filters.cache().count()
    probe = spark.range(2_000).select(
        F.when(F.col("id") % 5 == 4, F.lit(None))
         .otherwise(F.col("id") % 4).alias("g"),
        F.col("id").cast("string").alias("content"))
    probe_keys = with_content_key_bin(probe, "content") \
        .select("g", "key", "content")
    got = {r["content"]: (r["g"], r["maybe_seen"])
           for r in probe_with_filters(probe_keys, filters, ["g"],
                                       via="broadcast").collect()}
    assert len(got) == 2_000
    for i in range(2_000):
        g, seen = got[str(i)]
        if i % 5 == 4:
            assert g is None and seen is False  # null group: no match
        elif i < 1_000 and i % 4 == g:
            assert seen  # zero FN for build keys in their group
    filters.unpersist()


def test_small_session_precheck_keeps_blobs_off_driver(spark,
                                                       monkeypatch):
    """Round-5 verdict task 5(b): on a SMALL session (≤64 shuffle
    partitions) an over-budget uncached shard frame must route to the
    shuffle probe from the n_shards × first-blob-length ESTIMATE —
    i.e. before the full blob collect — not from a post-collect check
    that already materialized everything in driver memory."""
    import warnings

    import libfilter_spark.spark.probe as P
    from libfilter_spark.spark.sharded import build_block_shards

    base = spark.range(3_000).select(
        F.col("id").cast("string").alias("content"))
    keys = with_content_key_bin(base, "content").select("key")
    shards = build_block_shards(keys, ndv=3_000, fpp=0.01, n_shards=4)
    probe = spark.range(6_000).select(
        F.col("id").cast("string").alias("content"))
    probe_keys = with_content_key_bin(probe, "content") \
        .select("key", "content")
    expect = {r["content"]: r["maybe_seen"]
              for r in probe_with_filters(probe_keys, shards, None,
                                          via="broadcast").collect()}
    monkeypatch.setattr(P, "_BROADCAST_MAX", 8)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = {r["content"]: r["maybe_seen"]
               for r in probe_with_filters(probe_keys, shards,
                                           None).collect()}
    # the ESTIMATE warning proves the fallback fired pre-collect
    assert any("estimated shard blobs" in str(x.message) for x in w)
    assert got == expect
    assert all(got[str(i)] for i in range(3_000))


def test_grouped_jvm_many_group_cols_no_overflow(spark):
    """ADVICE r5: the assemble stage's combined group code used to be
    gkey = gkey*|u| + inv, which overflows int64 when the product of
    per-column cardinalities tops 2^63 — silently merging distinct
    groups into one filter slice. Ten ~hundred-unique columns force
    the lexsort fallback; every build key must still probe true in
    its own group (a merged slice would also create cross-group false
    positives at far above the configured fpp). The grouped partials
    route segments its batches the same way and must agree."""
    import json as _json

    from libfilter_spark.spark.build import (_build_grouped_block_jvm,
                                             _result_schema)

    n = 600
    gcols = [f"g{i}" for i in range(10)]
    base = spark.range(n).select(
        F.col("id"),
        F.col("id").cast("string").alias("content"),
        *[((F.col("id") * (i + 3)) % 101).cast("string").alias(c)
          for i, c in enumerate(gcols)])
    keys = with_content_key_bin(base, "content") \
        .select(*gcols, "key").coalesce(1)  # one batch: max uniques
    params = _json.dumps({"ndv": 64, "fpp": 0.01})
    filters = _build_grouped_block_jvm(
        keys, gcols, "key", 64, 0.01, params,
        _result_schema(keys, gcols))
    filters.cache()
    # none merged: one filter per DISTINCT group tuple (all columns
    # derive from id mod 101, so 101 groups)
    n_groups = keys.select(*gcols).distinct().count()
    assert filters.count() == n_groups == 101
    found = probe_with_filters(keys, filters, gcols) \
        .where("maybe_seen").count()
    assert found == n
    partials = build_filters(keys, gcols, ndv=64, fpp=0.01,
                             strategy="partials")
    assert sorted((tuple(r[c] for c in gcols), bytes(r["filter"]),
                   r["n_keys"]) for r in partials.collect()) == \
        sorted((tuple(r[c] for c in gcols), bytes(r["filter"]),
                r["n_keys"]) for r in filters.collect())
    filters.unpersist()


def test_grouped_probe_content_cache_skips_recollect(spark,
                                                     monkeypatch):
    """Round-6 (verdict task 4): a repeat grouped probe of an
    UNCHANGED cached filters frame must reuse the recorded broadcast —
    no second blob collect (pinned by poisoning the collect helpers) —
    while a frame with different content must miss the memo and
    produce its own answers."""
    import libfilter_spark.spark.probe as P

    P._MEMO.clear()
    build = spark.range(2_000).select(
        (F.col("id") % 4).cast("string").alias("g"),
        F.col("id").cast("string").alias("content"))
    build_keys = with_content_key_bin(build, "content") \
        .select("g", "key")
    filters = build_filters(build_keys, ["g"], ndv=1_000, fpp=0.01)
    filters.cache().count()
    probe = spark.range(3_000).select(
        (F.col("id") % 4).cast("string").alias("g"),
        F.col("id").cast("string").alias("content"))
    probe_keys = with_content_key_bin(probe, "content") \
        .select("g", "key", "content")
    first = {(r["g"], r["content"]): r["maybe_seen"]
             for r in probe_with_filters(probe_keys, filters,
                                         ["g"]).collect()}

    def poisoned(*a, **kw):
        raise AssertionError("repeat probe re-collected the blobs")
    monkeypatch.setattr(P, "_filter_map", poisoned)
    monkeypatch.setattr(P, "_collect_budgeted", poisoned)
    second = {(r["g"], r["content"]): r["maybe_seen"]
              for r in probe_with_filters(probe_keys, filters,
                                          ["g"]).collect()}
    assert second == first
    monkeypatch.undo()

    # different content must MISS the memo (no stale answers): filters
    # built from a shifted key set — its build keys hit, the old ones
    # need not all hit
    build2 = spark.range(10_000, 12_000).select(
        (F.col("id") % 4).cast("string").alias("g"),
        F.col("id").cast("string").alias("content"))
    bk2 = with_content_key_bin(build2, "content").select("g", "key")
    filters2 = build_filters(bk2, ["g"], ndv=1_000, fpp=0.01)
    filters2.cache().count()
    probe2 = spark.range(10_000, 13_000).select(
        (F.col("id") % 4).cast("string").alias("g"),
        F.col("id").cast("string").alias("content"))
    pk2 = with_content_key_bin(probe2, "content") \
        .select("g", "key", "content")
    got2 = {(r["g"], r["content"]): r["maybe_seen"]
            for r in probe_with_filters(pk2, filters2, ["g"]).collect()}
    for i in range(10_000, 12_000):
        assert got2[(str(i % 4), str(i))]  # zero FN on the NEW build
    filters.unpersist()
    filters2.unpersist()


def test_grouped_partials_build_keeps_null_group(spark):
    """Round 6: the vectorized partial-builder segmentation
    (pd.factorize) keeps null group values as a real group — the old
    pandas-groupby loop silently DROPPED them (dropna default), which
    disagreed with both Spark groupBy semantics and the JVM engine.
    Partial merging must survive null group columns; the PROBE keeps
    the repo's SQL semantics — null never equals null, so null-group
    rows stay non-members (test_grouped_probe_int_group_with_nulls)."""
    base = spark.range(6_000).select(
        F.when(F.col("id") % 3 == 0, None)
        .otherwise((F.col("id") % 3).cast("string")).alias("g"),
        F.col("id").cast("string").alias("content"))
    keys = with_content_key_bin(base, "content").select("g", "key")
    filters = build_filters(keys, ["g"], ndv=4_000, fpp=0.01,
                            strategy="partials")
    rows = {r["g"]: r["n_keys"] for r in filters.collect()}
    assert None in rows and len(rows) == 3
    assert rows[None] == 2_000
    probed = probe_with_filters(keys, filters, ["g"])
    n_true = probed.where("maybe_seen").count()
    assert n_true == 4_000  # zero FN on non-null groups; null rows False


@pytest.mark.parametrize("frame, via", [
    ("grouped", "broadcast"), ("grouped", "shuffle"),
    ("shards", "broadcast"), ("shards", "shuffle"), ("shards", "export")])
def test_duplicate_filter_rows_raise(spark, frame, via):
    """Two unioned builds give one group (or shard) two filter rows.
    The broadcast route's filter map used to keep only the last row
    and miss the other build's keys (about half of them), while the
    shuffle route ORed both rows, so the answer depended on the route
    (and on frame size under via='auto'); the shard frame's export
    wrote one slice over the other. Every route now rejects the frame
    with a ValueError that names the group or shard."""
    from libfilter_spark.spark.sharded import (assemble_block_shards,
                                               build_block_shards)

    def half(lo, hi):
        base = spark.range(lo, hi).select(
            F.lit("a").alias("g"),
            F.col("id").cast("string").alias("content"))
        return with_content_key_bin(base, "content") \
            .select("g", "key", "content")

    halves = [half(0, 5_000), half(5_000, 10_000)]
    if frame == "grouped":
        parts = [build_filters(h.select("g", "key"), ["g"], ndv=5_000,
                               fpp=0.01) for h in halves]
        group_cols, named = ["g"], "g='a'"
    else:
        parts = [build_block_shards(h.select("key"), ndv=5_000, fpp=0.01,
                                    n_shards=2) for h in halves]
        group_cols, named = None, "__shard="
    filters = parts[0].unionByName(parts[1])
    probe = halves[0].unionByName(halves[1])
    with pytest.raises(Exception) as err:
        if via == "export":
            assemble_block_shards(filters)
        else:
            probe_with_filters(probe, filters, group_cols, via=via) \
                .where("maybe_seen").count()
    msg = f"{type(err.value).__name__}: {err.value}"
    assert "ValueError" in msg
    assert f"more than one row for {named}" in msg


@pytest.fixture
def small_batches(spark):
    """64-row Arrow batches over fewer shuffle partitions than groups:
    a partition holds several groups, batches cut groups, and a
    group's filter row lands in a different batch from most of its
    probe rows."""
    conf = {"spark.sql.execution.arrow.maxRecordsPerBatch": "64",
            "spark.sql.shuffle.partitions": "3"}
    prev = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    yield
    for k, v in prev.items():
        spark.conf.set(k, v)


def _pass_frames(spark, two_cols: bool):
    """Build and probe frames for the shuffle pass. Rows with
    id % 50 == 7 have a null in their group tuple (the build keeps a
    filter for it); one group has no filter; the probe side holds
    every build key, as many absent keys, duplicate rows and null
    keys."""
    null = F.col("id") % 50 == 7
    if two_cols:
        gcols = ["g1", "g2"]
        groups = [(F.col("id") % 4).cast("int").alias("g1"),
                  F.when(null, F.lit(None)).otherwise(
                      (F.col("id") % 3).cast("string")).alias("g2")]
        no_filter = (F.col("g1") == 3) & (F.col("g2") == "2")
    else:
        gcols = ["g"]
        groups = [F.when(null, F.lit(None)).otherwise(
            (F.col("id") % 12).cast("string")).alias("g")]
        no_filter = F.col("g") == "11"

    def frame(n):
        base = spark.range(n).select(
            *groups, F.col("id").cast("string").alias("content"))
        return with_content_key_bin(base, "content")

    build = frame(3_000).where(~no_filter | no_filter.isNull()) \
        .select(*gcols, "key")
    probe = frame(6_000).select("content", *gcols, "key")
    nulls = spark.createDataFrame(
        [("nullkey", *(["0"] if not two_cols else [0, "0"]), None)],
        probe.schema)
    probe = probe.unionByName(probe.where(F.col("content") < "2")) \
        .unionByName(nulls)
    return gcols, build, probe


@pytest.mark.parametrize("two_cols", [False, True])
def test_shuffle_pass_agrees_with_broadcast(spark, small_batches,
                                            two_cols):
    """The shuffle route's segmented pass answers row for row as the
    broadcast route does, keeps the input's columns and rows, and runs
    with no cogroup and no join. Covers duplicate probe rows, a null
    in the group tuple (False on both routes, though the build kept
    that group's filter), null keys and a group with no filter."""
    from collections import Counter

    gcols, build, probe = _pass_frames(spark, two_cols)
    filters = build_filters(build, gcols, ndv=500, fpp=0.01).cache()
    groups = [tuple(r[c] for c in gcols) for r in filters.collect()]
    assert any(None in g for g in groups)  # the null group's filter
    shuffled = probe_with_filters(probe, filters, gcols, via="shuffle")
    assert shuffled.columns == probe.columns + ["maybe_seen"]
    plan = shuffled._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInArrow" not in plan and "Join" not in plan
    rows = shuffled.collect()
    expect = probe_with_filters(probe, filters, gcols,
                                via="broadcast").collect()
    assert len(rows) == len(expect) == probe.count()
    assert Counter(map(tuple, rows)) == Counter(map(tuple, expect))
    for r in rows:
        g = tuple(r[c] for c in gcols)
        if r["key"] is None or None in g or g not in groups:
            assert r["maybe_seen"] is False
        elif int(r["content"]) < 3_000:
            assert r["maybe_seen"]  # zero false negatives
    filters.unpersist()


@pytest.mark.parametrize("raw", ["abc", "-1", "1.5", "", "1e6", "0x10"])
def test_broadcast_max_rejects_bad_values(raw):
    """LIBFILTER_BROADCAST_MAX must be an integer byte count >= 0: a
    garbage value used to fail with a bare int() error and a negative
    one silently sent every auto probe to the shuffle route."""
    import re

    import libfilter_spark.spark.probe as P
    named = f"LIBFILTER_BROADCAST_MAX={re.escape(repr(raw))}"
    with pytest.raises(ValueError, match=named):
        P._broadcast_max(raw)
    assert P._broadcast_max("0") == 0
    assert P._broadcast_max(" 1024 ") == 1024
