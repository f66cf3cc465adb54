"""Null keys are not members on any build route: every route builds the
same filters from an input with null keys as from the same input
without them, and a group whose keys are all null gets no row."""

import json

import pyspark.sql.functions as F
import pytest

from libfilter_spark.spark.keys import with_content_key_bin

N, NDV = 4_000, 4_000


def _partials(df, family="block"):
    from libfilter_spark.spark.build import build_filters
    return build_filters(df, ["g"], family=family, ndv=NDV, fpp=0.01,
                         strategy="partials")


def _global_partials(df):
    from libfilter_spark.spark.build import build_filters
    return build_filters(df.select("key"), None, ndv=NDV, fpp=0.01,
                         strategy="partials")


def _bulk(family):
    def build(df):
        from libfilter_spark.spark.build import build_filters
        return build_filters(df, ["g"], family=family, ndv=NDV, fpp=0.01,
                             strategy="grouped_bulk")
    return build


def _grouped_jvm(kind):
    def build(df):
        from libfilter_spark.spark import build as B
        fn = {"block": B._build_grouped_block_jvm,
              "taffy_block": B._build_grouped_tbf_jvm}[kind]
        params = json.dumps({"ndv": NDV, "fpp": 0.01})
        return fn(df, ["g"], "key", NDV, 0.01, params,
                  B._result_schema(df, ["g"]))
    return build


def _salted(df):
    from libfilter_spark.spark.checkpoint import build_partials_salted
    return build_partials_salted(df, ["g"], "key", "block", NDV, 0.01,
                                 n_salts=4).drop("lineage_id", "build_ms")


def _sharded(df):
    from libfilter_spark.spark.sharded import build_block_shards
    return build_block_shards(df.select("key"), ndv=N, fpp=0.01,
                              n_shards=4)


def _forest(df):
    from libfilter_spark.spark.forest import build_filter_forest
    return build_filter_forest(df.select("key"), "key", "taffy_block",
                               ndv=N, fpp=0.01, n_shards=4)


ROUTES = {
    "partials": _partials,
    "partials_global": _global_partials,
    "grouped_bulk_block": _bulk("block"),
    "grouped_bulk_taffy_block": _bulk("taffy_block"),
    "static_xor": _bulk("static_xor"),
    "grouped_jvm_block": _grouped_jvm("block"),
    "grouped_jvm_taffy_block": _grouped_jvm("taffy_block"),
    "salted": _salted,
    "sharded": _sharded,
    "forest": _forest,
}


@pytest.fixture(scope="module")
def frames(spark):
    base = spark.range(N).select(
        (F.col("id") % 2).cast("string").alias("g"),
        F.col("id").cast("string").alias("content"))
    keys = with_content_key_bin(base, "content").select("g", "key")
    # nulls in both live groups, and a group "z" of null keys only
    nulls = spark.createDataFrame(
        [("0", None), ("1", None), ("z", None), ("z", None)], keys.schema)
    return keys, keys.unionByName(nulls)


@pytest.mark.parametrize("route", list(ROUTES))
def test_build_routes_drop_null_keys(frames, route):
    """Parity with the null-free build, blob for blob and count for
    count; no row for the all-null group; every non-null key
    counted once."""
    got = []
    for df in frames:
        out = ROUTES[route](df)
        cols = [c for c in out.columns if c not in ("filter", "params")]
        got.append(sorted(
            (tuple(r[c] for c in cols), bytes(r["filter"]))
            for r in out.collect()))
    assert got[0] == got[1], route
    assert "z" not in {r[0][0] for r in got[1]}, route
    n_keys = cols.index("n_keys")
    assert sum(r[0][n_keys] for r in got[1]) == N, route
