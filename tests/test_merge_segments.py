"""The shared partition-local merge (``merge_partial_batches``): unit
checks on Arrow batches without Spark, null group keys in the sketch
partials, and route equivalence of the filter and sketch merges over
many groups."""

import functools

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

import libfilter_spark.spark.build as B
from libfilter_spark.filters import FAMILIES
from libfilter_spark.sketches import SKETCHES
from libfilter_spark.spark.build import (build_filters, create_filter,
                                         merge_filter_blobs,
                                         merge_filter_list,
                                         merge_partial_batches)
from libfilter_spark.spark.sketch_build import (build_sketches,
                                                merge_sketch_list)

# (g1, g2) per partial row: two group columns, null keys in both, an
# int64 column with a null and values float64 cannot tell apart
_GROUPS = [("a", 1), (None, 1), ("a", 1), ("b", None), (None, 1),
           ("a", 2), ("b", None), ("a", 1), (None, None),
           ("c", (1 << 53) + 1), ("c", 1 << 53), ("a", 2)]


def _filter_blob(family, seed):
    f = create_filter(family, 300, 0.01)
    keys = np.random.default_rng(seed).integers(
        0, 1 << 63, 40 + 7 * seed, dtype=np.int64).view(np.uint64)
    f.add_hashes(keys)
    return f.serialize()


def _sketch_blob(kind, seed):
    sk = SKETCHES[kind].create()
    rng = np.random.default_rng(seed)
    if kind in ("hll", "countmin"):
        sk.update_batch(rng.integers(0, 1 << 63, 500 + seed,
                                     dtype=np.int64).view(np.uint64))
    else:
        sk.update_batch(rng.normal(size=300 + 50 * seed))
    return sk.serialize()


def _partial_batch(tag_col, tag, count_col, blob_col, blobs):
    n = len(blobs)
    return pa.record_batch({
        "g1": pa.array([g for g, _ in _GROUPS[:n]], pa.string()),
        "g2": pa.array([g for _, g in _GROUPS[:n]], pa.int64()),
        tag_col: pa.array([tag] * n, pa.string()),
        "params": pa.array(["{}"] * n, pa.string()),
        count_col: pa.array(range(1, n + 1), pa.int64()),
        "n_partials": pa.array([1 + i % 2 for i in range(n)], pa.int64()),
        blob_col: pa.array(blobs, pa.binary())})


def _run(batch, names, tag_col, count_col, blob_col, merge):
    """The partial rows split over several input batches, with empty
    batches in between."""
    chunks = [batch.slice(0, 0), batch.slice(0, 5), batch.slice(5, 0),
              batch.slice(5, 4), batch.slice(9)]
    out = list(merge_partial_batches(iter(chunks), ["g1", "g2"], names,
                                     tag_col, count_col, blob_col, merge))
    return pa.Table.from_batches(out)


def _reference(batch, tag_col, count_col, blob_col, fold):
    """Plain driver-side fold: group rows in a dict, sort each group's
    blobs by bytes, fold them."""
    rows = batch.to_pylist()
    by = {}
    for r in rows:
        by.setdefault((r["g1"], r["g2"]), []).append(r)
    return {g: (rs[0][tag_col], rs[0]["params"],
                sum(r[count_col] for r in rs),
                sum(r["n_partials"] for r in rs),
                fold(rs[0][tag_col], sorted(r[blob_col] for r in rs)))
            for g, rs in by.items()}


def _got(table, tag_col, count_col, blob_col):
    return {(r["g1"], r["g2"]): (r[tag_col], r["params"], r[count_col],
                                 r["n_partials"], r[blob_col])
            for r in table.to_pylist()}


def _or_fold(family, blobs):
    cls = FAMILIES[family]
    return functools.reduce(lambda a, b: a.union(b),
                            [cls.deserialize(b) for b in blobs]).serialize()


def _sketch_fold(kind, blobs):
    cls = SKETCHES[kind]
    return functools.reduce(lambda a, b: a.merge(b),
                            [cls.deserialize(b) for b in blobs]).serialize()


def test_merge_partial_batches_empty_input():
    b = _partial_batch("family", "block", "n_keys", "filter",
                       [_filter_blob("block", 0)])
    assert list(merge_partial_batches(
        iter([]), ["g1"], b.schema.names, "family", "n_keys", "filter",
        merge_filter_list)) == []
    assert list(merge_partial_batches(
        iter([b.slice(0, 0)] * 3), ["g1"], b.schema.names, "family",
        "n_keys", "filter", merge_filter_list)) == []


@pytest.mark.parametrize("family", ["block", "bloom", "taffy_block",
                                    "taffy_cuckoo"])
def test_merge_partial_batches_filters_match_sorted_fold(family):
    blobs = [_filter_blob(family, i) for i in range(len(_GROUPS))]
    batch = _partial_batch("family", family, "n_keys", "filter", blobs)
    # output columns follow the given names, not the input order
    names = ["filter", "n_partials", "g2", "params", "family", "n_keys",
             "g1"]
    table = _run(batch, names, "family", "n_keys", "filter",
                 merge_filter_list)
    assert table.column_names == names
    assert table.schema.field("g2").type == pa.int64()
    got = _got(table, "family", "n_keys", "filter")
    # the TCF union is the balanced pairwise absorb, which a linear
    # fold does not reproduce byte for byte; the OR families do
    fold = merge_filter_list if family == "taffy_cuckoo" else _or_fold
    expect = _reference(batch, "family", "n_keys", "filter", fold)
    assert got == expect
    assert len(got) == 7  # nulls are groups; 2^53 and 2^53+1 differ
    # one-row segments: (None, None) is row 8, ("c", 2^53) row 10
    assert got[(None, None)][2:4] == (9, 1)
    assert got[("c", 1 << 53)][2:4] == (11, 1)


@pytest.mark.parametrize("kind", ["hll", "countmin", "kll", "tdigest"])
def test_merge_partial_batches_sketches_match_sorted_fold(kind):
    blobs = [_sketch_blob(kind, i) for i in range(len(_GROUPS))]
    batch = _partial_batch("kind", kind, "n_rows", "sketch", blobs)
    table = _run(batch, batch.schema.names, "kind", "n_rows", "sketch",
                 merge_sketch_list)
    assert table.column_names == batch.schema.names
    expect = _reference(batch, "kind", "n_rows", "sketch", _sketch_fold)
    assert _got(table, "kind", "n_rows", "sketch") == expect


def test_merge_partial_batches_cuts_output_batches(monkeypatch):
    blobs = [_filter_blob("block", i) for i in range(len(_GROUPS))]
    batch = _partial_batch("family", "block", "n_keys", "filter", blobs)
    whole = _run(batch, batch.schema.names, "family", "n_keys", "filter",
                 merge_filter_list)
    monkeypatch.setattr(B, "_MERGED_BATCH_BYTES", 1)
    out = list(merge_partial_batches(
        iter([batch]), ["g1", "g2"], batch.schema.names, "family",
        "n_keys", "filter", merge_filter_list))
    assert len(out) == 7 and all(b.num_rows == 1 for b in out)
    assert pa.Table.from_batches(out).to_pylist() == whole.to_pylist()


def test_build_sketches_keeps_null_group(spark):
    """Null group values are a group in the sketch partials too, as in
    build_filters and Spark's groupBy (the pandas groupby loop dropped
    them)."""
    base = spark.range(6_000).select(
        F.when(F.col("id") % 3 == 0, None)
        .otherwise((F.col("id") % 3).cast("string")).alias("g"),
        F.xxhash64("id").alias("key"),
        (F.col("id") / 7.0).alias("v"))
    for kind, col in (("hll", "key"), ("kll", "v")):
        sk = build_sketches(base, ["g"], col, kind=kind)
        rows = {r["g"]: r["n_rows"] for r in sk.collect()}
        assert None in rows and len(rows) == 3, kind
        assert rows[None] == 2_000, kind
        assert sum(rows.values()) == 6_000, kind


_N_GROUPS = 1_200


def _many_groups(spark, n=60_000):
    """~1,200 string groups of uneven size plus a null group."""
    h = F.pmod(F.xxhash64(F.lit("g"), "id"), F.lit(_N_GROUPS))
    return spark.range(n).select(
        F.when(F.col("id") % 101 == 0, None)
        .otherwise(h.cast("string")).alias("g"),
        F.xxhash64("id").alias("key"),
        (F.pmod(F.xxhash64(F.lit("v"), "id"), F.lit(1 << 20))
         / F.lit(float(1 << 20))).alias("v"))


def _rows(df, blob="filter", count="n_keys"):
    return {r["g"]: (r[count], r["n_partials"], bytes(r[blob]))
            for r in df.collect()}


@pytest.mark.parametrize("family", ["block", "taffy_block"])
def test_filter_merge_routes_agree_over_many_groups(spark, family):
    from libfilter_spark.spark.build import estimate_filter_bytes
    from libfilter_spark.spark.checkpoint import build_partials_salted

    df = _many_groups(spark).cache()
    # every group (the null one holds ~600 keys) fits the ndv hint: a
    # taffy_block that grew a level is not byte-identical to the union
    # of partials that did not, whichever merge route runs
    ndv, fpp = 1024, 0.01
    partials = build_partials_salted(
        df, ["g"], "key", family, ndv, fpp, n_salts=4).select(
        "g", "family", "params", "n_keys", "n_partials", "filter").cache()
    n_part = {r["g"]: r["count"] for r in
              partials.groupBy("g").count().collect()}
    assert len(n_part) > 1_000 and None in n_part
    assert sum(n_part.values()) > 3 * len(n_part)  # several per group
    est = estimate_filter_bytes(family, ndv, fpp)
    small = _rows(merge_filter_blobs(partials, ["g"], est_bytes=est))
    tree = _rows(merge_filter_blobs(partials, ["g"], est_bytes=None))
    one = _rows(merge_filter_blobs(partials.repartition(1), ["g"],
                                   est_bytes=est))
    assert small == tree == one
    assert {g: v[1] for g, v in small.items()} == n_part
    # a build over one input partition: one partial per group, same
    # blob and key count as the merged salted partials
    direct = _rows(build_filters(df.repartition(1), ["g"], family=family,
                                 ndv=ndv, fpp=fpp, strategy="partials"))
    assert {g: (v[0], v[2]) for g, v in direct.items()} == \
        {g: (v[0], v[2]) for g, v in small.items()}
    assert all(v[1] == 1 for v in direct.values())
    partials.unpersist()
    df.unpersist()


def test_sketch_merge_routes_agree_over_many_groups(spark, monkeypatch):
    df = _many_groups(spark).cache()
    for kind, col in (("hll", "key"), ("countmin", "key")):
        a, b = (_rows(build_sketches(df.repartition(p), ["g"], col,
                                     kind=kind), "sketch", "n_rows")
                for p in (1, 4))
        with monkeypatch.context() as m:
            # the large-sketch route: the two-level merge tree
            m.setattr(B, "_SMALL_MERGE_MAX", 0)
            c = _rows(build_sketches(df.repartition(4), ["g"], col,
                                     kind=kind), "sketch", "n_rows")
        assert len(a) > 1_000 and None in a, kind
        assert {g: (v[0], v[2]) for g, v in a.items()} == \
            {g: (v[0], v[2]) for g, v in b.items()}, kind
        assert b == c, kind
    exact = {}
    for r in df.select("g", "v").collect():
        exact.setdefault(r["g"], []).append(r["v"])
    for kind in ("kll", "tdigest"):
        a, b = (_rows(build_sketches(df.repartition(p), ["g"], "v",
                                     kind=kind), "sketch", "n_rows")
                for p in (1, 4))
        assert {g: v[0] for g, v in a.items()} == \
            {g: v[0] for g, v in b.items()} == \
            {g: len(vs) for g, vs in exact.items()}, kind
        cls = SKETCHES[kind]
        for side in (a, b):
            for g, (_, _, blob) in side.items():
                vals = np.sort(exact[g])
                sk = cls.deserialize(blob)
                for q in (0.1, 0.5, 0.9):
                    rank = np.searchsorted(vals, sk.quantile(q),
                                           side="right") / len(vals)
                    # rank error bound, plus one rank of granularity
                    # for the small groups
                    assert abs(rank - q) <= 0.05 + 1 / len(vals), \
                        (kind, g, q)
    df.unpersist()


@pytest.mark.parametrize("other", [dict(family="block", fpp=0.0101),
                                   dict(family="bloom", fpp=0.01)])
def test_merge_rejects_partials_that_disagree(spark, other):
    """A merge used to take the family and params of a group's first
    row, so the union of two grouped builds with different fpp (here
    one filter size) or family merged silently under one of them. The
    merge now compares every row of a group with its head."""
    from libfilter_spark.spark.keys import with_content_key_bin
    base = spark.range(2_000).select(
        F.lit("a").alias("g"), F.col("id").cast("string").alias("content"))
    keys = with_content_key_bin(base, "content").select("g", "key")
    one = build_filters(keys, ["g"], ndv=1_000, fpp=0.01)
    two = build_filters(keys, ["g"], ndv=1_000, **other)
    with pytest.raises(Exception) as err:
        merge_filter_blobs(one.unionByName(two), ["g"]).collect()
    msg = f"{type(err.value).__name__}: {err.value}"
    assert "ValueError" in msg and "partials of g='a'" in msg
    assert ("disagree on family" if other["family"] != "block"
            else "disagree on params") in msg
