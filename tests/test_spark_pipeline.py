"""Distributed build/merge/probe pipeline tests (SURVEY.md §5 addition
d: Spark ≡ local-oracle — the same keys through the distributed UDAF
and through the single-process numpy kernels yield identical filters)."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from libfilter_spark.filters import BlockFilter
from libfilter_spark.kernels.keys import sha256_key, to_unsigned
from libfilter_spark.sources.codegen import source_code_table, source_code_pandas
from libfilter_spark.spark.build import build_filters
from libfilter_spark.spark.keys import with_content_key
from libfilter_spark.spark.probe import filter_semi_join, probe_with_filters


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return with_content_key(df, "text").cache()


def test_key_derivation_matches_local_oracle(docs):
    rows = docs.select("text", "key", "key_hex").limit(50).collect()
    for r in rows:
        u = sha256_key(r.text)
        assert r.key_hex == format(u, "016x")
        assert r.key == (u - (1 << 64) if u >= 1 << 63 else u)


def test_distributed_build_equals_local_kernel(docs):
    flt = build_filters(docs, ["lang"], ndv=4096, fpp=0.01)
    got = {r["lang"]: bytes(r["filter"]) for r in flt.collect()}
    local_keys = {}
    for r in docs.select("lang", "key").collect():
        local_keys.setdefault(r.lang, []).append(r.key)
    for lang, ks in local_keys.items():
        f = BlockFilter.create_with_ndv_fpp(4096, 0.01)
        f.add_hashes(to_unsigned(np.array(ks, dtype=np.int64)))
        assert f.serialize() == got[lang], f"lang {lang} blob differs"


def test_build_parallelism_invariant(docs):
    """Same input at different partition counts → byte-identical blobs
    (the deterministic-merge contract; FIXTURES.md §C.6)."""
    a = build_filters(docs.repartition(1), ["lang"], ndv=4096, fpp=0.01)
    b = build_filters(docs.repartition(7), ["lang"], ndv=4096, fpp=0.01)
    ba = {r["lang"]: bytes(r["filter"]) for r in a.collect()}
    bb = {r["lang"]: bytes(r["filter"]) for r in b.collect()}
    assert ba == bb
    npart = {r["lang"]: r["n_partials"]
             for r in b.collect()}
    assert max(npart.values()) >= 1


def test_probe_zero_false_negatives(docs):
    flt = build_filters(docs, ["lang"], ndv=4096, fpp=0.01)
    probed = probe_with_filters(docs, flt, ["lang"])
    assert probed.where(~F.col("maybe_seen")).count() == 0


def test_probe_missing_group_is_false(docs, spark):
    flt = build_filters(docs.where("lang = 'en'"), ["lang"],
                        ndv=4096, fpp=0.01)
    probed = probe_with_filters(docs, flt, ["lang"])
    n_other = probed.where("lang <> 'en' and maybe_seen").count()
    assert n_other == 0  # groups without filters never match
    assert probed.where("lang = 'en' and not maybe_seen").count() == 0


def test_filter_semi_join_exact(docs):
    build_side = docs.where(F.col("doc_id") % 2 == 0)
    probe_side = docs
    flt = build_filters(build_side, ["lang"], ndv=4096, fpp=0.01)
    got = filter_semi_join(probe_side, build_side, flt, ["lang"]) \
        .select("doc_id").collect()
    exact = probe_side.join(build_side.select("lang", "key").distinct(),
                            on=["lang", "key"], how="left_semi") \
        .select("doc_id").collect()
    assert sorted(r.doc_id for r in got) == sorted(r.doc_id for r in exact)


def test_taffy_block_distributed(docs):
    flt = build_filters(docs, ["lang"], family="taffy_block", ndv=64,
                        fpp=0.01)
    probed = probe_with_filters(docs, flt, ["lang"])
    assert probed.where(~F.col("maybe_seen")).count() == 0


def test_source_code_pipeline_releases_its_cache(spark, sf_dir):
    """The query caches its keyed source table (build, probe and exact
    verify all read it) and must release it before returning: the
    result rows equal the recorded goldens and no persisted RDD is
    left behind."""
    import json
    import os

    import __spark_entry__ as E
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    got = E.queries()["source_code_pipeline"](spark, sf_dir)
    rows = sorted(tuple(r) for r in got.collect())
    assert persisted().size() == before
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "goldens_sf001.json")) as fh:
        golden = json.load(fh)["source_code_pipeline"]
    assert got.columns == golden["columns"]
    assert rows == sorted(tuple(r) for r in golden["rows"])


def test_source_code_table_deterministic(spark):
    a = source_code_table(spark, 2000, seed=7, partitions=2).toPandas()
    b = source_code_table(spark, 2000, seed=7, partitions=5).toPandas()
    a = a.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    b = b.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    assert a.equals(b)
    local = source_code_pandas(2000, seed=7)
    assert sorted(local["commit"]) == sorted(a["commit"])
    # shape invariants from FIXTURES.md §A
    mega = (a["repo"] == "org0/repo0").mean()
    assert 0.25 < mega < 0.35
    assert a["content"].str.len().between(8, 6000).all()
    dup_rate = 1 - a["content"].nunique() / len(a)
    assert 0.02 < dup_rate < 0.08
