"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship Bloom-semi-join at sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2);
each callable (spark, sf_dir) → DataFrame.
``oracle_sql()`` — DuckDB-equivalent ANSI SQL per query (omitted for
non-SQL-expressible ops → driver runs rows-only check).

Column names are aliased identically on both sides; monetary sums are
aggregated as DECIMAL(18,2) then cast to DOUBLE so both engines emit
bit-identical values.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from libfilter_spark.sources.tables import load_table
from libfilter_spark.spark.build import build_filters
from libfilter_spark.spark.keys import with_content_key
from libfilter_spark.spark.probe import filter_semi_join, probe_with_filters

SF0001 = "/root/testdata/sf0.001"

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn):
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn
    return deco


def _keyed(df: DataFrame, col: str) -> DataFrame:
    """Attach sha256-derived keys for an arbitrary column (cast to
    string first — the reference's 'caller supplies pseudorandom
    hashes' contract, block.h:43-51). Binary keys: the fast path."""
    from libfilter_spark.spark.keys import with_content_key_bin
    return with_content_key_bin(
        df.withColumn("__c", F.col(col).cast("string")), "__c").drop("__c")


# ---------------------------------------------------------------------------
# Bloom-semi-join queries: the filter prunes the probe side before the
# exact verification join — answers are exact, so DuckDB can oracle them.
# ---------------------------------------------------------------------------

@_register(
    "bloom_semijoin_orders_customers",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
    GROUP BY o_orderpriority
    """)
def q_bloom_semijoin_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer").where("c_acctbal > 5000")
    orders = load_table(spark, sf_dir, "orders")
    build = _keyed(customer, "c_custkey")
    probe = _keyed(orders, "o_custkey")
    filters = build_filters(build, group_cols=None, ndv=1 << 16, fpp=0.01)
    hits = filter_semi_join(probe, build, filters, group_cols=None)
    return (hits.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                 .cast("double").alias("sum_price")))


@_register(
    "bloom_semijoin_lineitem_parts",
    """
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size >= 25)
    GROUP BY l_returnflag
    """)
def q_bloom_semijoin_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").where("p_size >= 25")
    lineitem = load_table(spark, sf_dir, "lineitem")
    build = _keyed(part, "p_partkey")
    probe = _keyed(lineitem, "l_partkey")
    filters = build_filters(build, group_cols=None, ndv=1 << 16, fpp=0.01)
    hits = filter_semi_join(probe, build, filters, group_cols=None)
    return (hits.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                 .cast("double").alias("sum_qty")))


@_register(
    "bloom_antijoin_orders_customers",
    """
    SELECT COUNT(*) AS n_orphans
    FROM orders
    WHERE o_custkey NOT IN
          (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    """)
def q_bloom_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join via filter: rows that MISS the filter are definite
    non-members (zero false negatives); only filter *hits* need the
    exact check. At scale the exact join sees ~hit-rate of the data."""
    customer = (load_table(spark, sf_dir, "customer")
                .where("c_mktsegment = 'BUILDING'"))
    orders = load_table(spark, sf_dir, "orders")
    build = _keyed(customer, "c_custkey")
    probe = _keyed(orders, "o_custkey")
    filters = build_filters(build, group_cols=None, ndv=1 << 16, fpp=0.01)
    probed = probe_with_filters(probe, filters, group_cols=None)
    definite_miss = probed.where(~F.col("maybe_seen")).select("key")
    need_check = probed.where(F.col("maybe_seen")).select("key")
    true_members = build.select("key").distinct()
    confirmed_miss = need_check.join(true_members, on="key", how="left_anti")
    return (definite_miss.unionAll(confirmed_miss)
            .agg(F.count(F.lit(1)).alias("n_orphans")))


@_register(
    "cuckoo_semijoin_events_users",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    WHERE user_id IN (SELECT c_custkey FROM customer WHERE c_acctbal >= 0)
    GROUP BY event_type
    """)
def q_cuckoo_semijoin_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same Bloom-join shape but with the growable taffy-cuckoo family
    as the pruning filter (union-merged across partials)."""
    customer = load_table(spark, sf_dir, "customer").where("c_acctbal >= 0")
    events = load_table(spark, sf_dir, "events")
    build = _keyed(customer, "c_custkey")
    probe = _keyed(events, "user_id")
    filters = build_filters(build, group_cols=None, family="taffy_cuckoo",
                            ndv=1 << 12, fpp=0.01)
    hits = filter_semi_join(probe, build, filters, group_cols=None)
    return (hits.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(18,2)"))
                 .cast("double").alias("sum_value")))


# ---------------------------------------------------------------------------
# Exact content dedup over sha256 keys (documents table)
# ---------------------------------------------------------------------------

@_register(
    "dedup_exact_by_lang",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT substring(sha256(text), 1, 16)) AS n_distinct,
           COUNT(*) - COUNT(DISTINCT substring(sha256(text), 1, 16)) AS n_dup
    FROM documents
    GROUP BY lang
    """)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_content_key(load_table(spark, sf_dir, "documents"), "text")
    return (docs.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.countDistinct("key_hex").alias("n_distinct"),
                 (F.count(F.lit(1)) - F.countDistinct("key_hex"))
                 .alias("n_dup")))


# ---------------------------------------------------------------------------
# Filter-audit queries (rows-only: filter state is not SQL-expressible)
# ---------------------------------------------------------------------------

def _block_bytes_for(ndv: int, fpp: float) -> int:
    from libfilter_spark.kernels.block import BUCKET_BYTES, num_buckets_for
    from libfilter_spark.kernels.sizing import block_bytes_needed
    return num_buckets_for(block_bytes_needed(ndv, fpp)) * BUCKET_BYTES


@_register(
    "filter_build_audit_block",
    f"""
    SELECT lang, COUNT(*) AS n_keys,
           CAST({_block_bytes_for(1 << 14, 0.01)} AS BIGINT)
               AS filter_bytes,
           COUNT(*) AS n_docs, COUNT(*) AS n_found
    FROM documents GROUP BY lang
    """)
def q_filter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang block-filter build over document contents + zero-FN
    self-check. Oracle-checked: every output column is deterministic
    under any partitioning — n_keys/n_docs are row counts, filter_bytes
    is the sizing formula (the oracle embeds the same constant), and
    n_found == n_docs because a Bloom probe of an inserted key can
    never miss."""
    docs = with_content_key(load_table(spark, sf_dir, "documents"), "text")
    # cache: probe_with_filters collects the frame AND the meta join
    # reads it again — uncached that is two full grouped builds
    filters = build_filters(docs, ["lang"], ndv=1 << 14, fpp=0.01).cache()
    probed = probe_with_filters(docs, filters, ["lang"])
    stats = (probed.groupBy("lang")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum(F.col("maybe_seen").cast("long")).alias("n_found")))
    meta = filters.select("lang", "n_keys",
                          F.length("filter").alias("filter_bytes"))
    return meta.join(stats, on="lang")


@_register(
    "filter_build_audit_taffy_block",
    """
    SELECT lang, COUNT(*) AS n_keys, COUNT(*) AS n_docs,
           COUNT(*) AS n_found
    FROM documents GROUP BY lang
    """)
def q_filter_audit_taffy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Taffy-block per-lang build + zero-FN self-check. filter_bytes is
    intentionally NOT reported: level layout depends on how partition
    boundaries slice the inserts, so it is not partition-deterministic;
    the remaining columns are exact under any parallelism (a Bloom
    probe of an inserted key never misses)."""
    docs = with_content_key(load_table(spark, sf_dir, "documents"), "text")
    filters = build_filters(docs, ["lang"], family="taffy_block",
                            ndv=64, fpp=0.01).cache()  # meta join re-reads
    probed = probe_with_filters(docs, filters, ["lang"])
    stats = (probed.groupBy("lang")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum(F.col("maybe_seen").cast("long")).alias("n_found")))
    meta = filters.select("lang", "n_keys")
    return meta.join(stats, on="lang")


@_register(
    "xor_semijoin_lineitem_suppliers",
    """
    SELECT l_linestatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price
    FROM lineitem
    WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 0)
    GROUP BY l_linestatus
    """)
def q_xor_semijoin_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static XOR filter as the pruning structure: bulk-built per group
    via the grouped (shuffle) path since XOR filters have no union
    (reference static.c has no add/merge)."""
    supplier = load_table(spark, sf_dir, "supplier").where("s_acctbal > 0")
    lineitem = load_table(spark, sf_dir, "lineitem")
    build = _keyed(supplier, "s_suppkey")
    probe = _keyed(lineitem, "l_suppkey")
    filters = build_filters(build, group_cols=None, family="static_xor")
    hits = filter_semi_join(probe, build, filters, group_cols=None)
    return (hits.groupBy("l_linestatus")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                 .cast("double").alias("sum_price")))


@_register(
    "checkpointed_salted_build_audit",
    """
    SELECT 'block' AS family,
           4 * COUNT(DISTINCT lang) AS n_units,
           COUNT(*) AS total_keys,
           4 * COUNT(DISTINCT lang) AS n_lineages,
           TRUE AS resume_identical
    FROM documents
    """)
def q_checkpointed_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted, checkpointed, resumable build (north-rule): build
    per-lang filters in (group, salt) units with lineage + metrics,
    resume from the checkpoint, assert identical state, report both.
    Oracle-checked: units/lineages are (lang × salt) with salt derived
    from the key hash (deterministic, and every salt is populated at
    this row count), total_keys counts each doc once, and the resumed
    blobs must equal the first build byte-for-byte."""
    import tempfile

    from libfilter_spark.spark.checkpoint import (checkpoint_metrics,
                                                  checkpointed_build)

    docs = with_content_key(load_table(spark, sf_dir, "documents"), "text")
    with tempfile.TemporaryDirectory() as tmp:
        first = checkpointed_build(spark, docs, ["lang"], tmp,
                                   ndv=1 << 14, fpp=0.01, n_salts=4)
        blobs1 = {r["lang"]: bytes(r["filter"]) for r in first.collect()}
        resumed = checkpointed_build(spark, docs, ["lang"], tmp,
                                     ndv=1 << 14, fpp=0.01, n_salts=4)
        blobs2 = {r["lang"]: bytes(r["filter"]) for r in resumed.collect()}
        metrics = checkpoint_metrics(spark, tmp)
        agg = (metrics.groupBy("family")
               .agg(F.count(F.lit(1)).alias("n_units"),
                    F.sum("n_keys").alias("total_keys"),
                    F.countDistinct("lineage_id").alias("n_lineages"))
               ).collect()[0]
    import pandas as pd
    return spark.createDataFrame(pd.DataFrame([{
        "family": agg["family"], "n_units": agg["n_units"],
        "total_keys": agg["total_keys"], "n_lineages": agg["n_lineages"],
        "resume_identical": blobs1 == blobs2}]))


@_register(
    "filter_build_audit_minimal_taffy",
    """
    SELECT lang, COUNT(*) AS n_docs, COUNT(*) AS n_found
    FROM documents GROUP BY lang
    """)
def q_filter_audit_mtcf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinimalTaffyCuckoo per-lang build (build+probe family; merge =
    rebuild, SURVEY.md §2.6): grouped bulk build, zero-FN self-check.
    Oracle-checked via n_found == n_docs (cuckoo filters never lose an
    inserted key); serialized size is order-dependent (stash contents)
    so it is not reported."""
    import pandas as pd

    from libfilter_spark.filters.minimal_taffy import MinimalTaffyCuckooFilter
    from libfilter_spark.kernels.keys import to_unsigned

    docs = with_content_key(load_table(spark, sf_dir, "documents"), "text")

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = to_unsigned(pdf["key"].to_numpy())
        f = MinimalTaffyCuckooFilter.create_with_bytes(1)
        f.add_hashes(keys)
        found = int(f.find_hashes(keys).sum())
        return pd.DataFrame({
            "lang": [pdf["lang"].iloc[0]],
            "n_docs": [len(pdf)], "n_found": [found]})

    return (docs.select("lang", "key").groupBy("lang")
            .applyInPandas(build, schema="lang string, n_docs long, "
                                         "n_found long"))


@_register(
    "filter_build_audit_taffy_cuckoo",
    """
    SELECT lang, COUNT(*) AS n_keys, COUNT(*) AS n_docs,
           COUNT(*) AS n_found
    FROM documents GROUP BY lang
    """)
def q_filter_audit_tcf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Taffy-cuckoo per-lang build + zero-FN self-check (cuckoo filters
    never lose an inserted key, including across union merges). Size is
    partition-dependent (pre-sizing by partial batch), not reported."""
    docs = with_content_key(load_table(spark, sf_dir, "documents"), "text")
    filters = build_filters(docs, ["lang"], family="taffy_cuckoo",
                            ndv=256, fpp=0.01).cache()  # meta join re-reads
    probed = probe_with_filters(docs, filters, ["lang"])
    stats = (probed.groupBy("lang")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum(F.col("maybe_seen").cast("long")).alias("n_found")))
    meta = filters.select("lang", "n_keys")
    return meta.join(stats, on="lang")


# ---------------------------------------------------------------------------
# Relational coverage (SURVEY.md §2.8): windows, sort/limit top-k,
# set ops, sessionization — all pure DataFrame API, oracle-matched
# ---------------------------------------------------------------------------

@_register(
    "window_topk_customers",
    """
    WITH spend AS (
      SELECT c.c_mktsegment, o.o_custkey,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total_spend
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment, o.o_custkey)
    SELECT c_mktsegment, o_custkey, total_spend, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                ORDER BY total_spend DESC, o_custkey ASC) AS rnk
      FROM spend) WHERE rnk <= 3
    """)
def q_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    spend = (orders.join(F.broadcast(customer),
                         orders.o_custkey == customer.c_custkey)
             .groupBy("c_mktsegment", "o_custkey")
             .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                  .cast("double").alias("total_spend")))
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("total_spend"), F.asc("o_custkey"))
    return (spend.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= 3))


@_register(
    "sessionize_events",
    """
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE OR
                  LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    sessions AS (
      SELECT user_id,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM gaps)
    SELECT user_id, COUNT(DISTINCT session_id) AS n_sessions,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id
    """)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessionization via window lag + running sum (the
    batch form of a session window)."""
    from pyspark.sql import Window
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    # ts is TIMESTAMP_NTZ; route via LTZ (session TZ pinned to UTC) to
    # get epoch seconds — differences are timezone-free anyway
    sec = F.col("ts").cast("timestamp_ltz").cast("long")
    gap = sec - F.lag(sec).over(w)
    new_s = F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts") \
        .rowsBetween(Window.unboundedPreceding, 0)
    return (ev.withColumn("session_id", F.sum(new_s).over(run))
            .groupBy("user_id")
            .agg(F.countDistinct("session_id").alias("n_sessions"),
                 F.count(F.lit(1)).alias("n_events")))


@_register(
    "set_ops_order_keys",
    """
    SELECT
      (SELECT COUNT(*) FROM (SELECT o_custkey FROM orders
       INTERSECT SELECT c_custkey FROM customer)) AS n_intersect,
      (SELECT COUNT(*) FROM (SELECT c_custkey FROM customer
       EXCEPT SELECT o_custkey FROM orders)) AS n_customers_no_orders,
      (SELECT COUNT(*) FROM (SELECT o_custkey FROM orders
       UNION SELECT c_custkey FROM customer)) AS n_union
    """)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One pass instead of three: INTERSECT/EXCEPT/UNION-distinct over
    the same two key sets are all views of one full-outer join of the
    distinct sides, so a single job computes all three counts (the old
    shape ran three actions over ~6 shuffles). eqNullSafe matches the
    set operators' NULL-equals-NULL semantics exactly."""
    orders = load_table(spark, sf_dir, "orders") \
        .select(F.col("o_custkey").alias("k")).distinct() \
        .withColumn("__o", F.lit(1))
    customer = load_table(spark, sf_dir, "customer") \
        .select(F.col("c_custkey").alias("ck")).distinct() \
        .withColumn("__c", F.lit(1))
    j = orders.join(customer, F.col("k").eqNullSafe(F.col("ck")), "full")
    row = j.agg(
        F.sum((F.col("__o").isNotNull()
               & F.col("__c").isNotNull()).cast("long"))
        .alias("n_intersect"),
        F.sum((F.col("__c").isNotNull()
               & F.col("__o").isNull()).cast("long"))
        .alias("n_customers_no_orders"),
        F.count(F.lit(1)).alias("n_union")).collect()[0]
    return spark.createDataFrame(
        [(row["n_intersect"], row["n_customers_no_orders"],
          row["n_union"])],
        "n_intersect long, n_customers_no_orders long, n_union long")


# ---------------------------------------------------------------------------
# Text analysis over documents — pure JVM expressions, oracle-translated
# ---------------------------------------------------------------------------

def _text_oracle(select_body: str) -> str:
    from libfilter_spark.functions.text import oracle_sql_snippets
    sn = oracle_sql_snippets("text")
    return select_body.format(**sn)


def _register_text_queries():
    from libfilter_spark.functions import text as T

    @_register(
        "text_stats_by_lang",
        _text_oracle("""
        SELECT lang,
               CAST(SUM({n_tokens}) AS BIGINT) AS total_tokens,
               CAST(SUM({n_subwords}) AS BIGINT) AS total_subwords,
               CAST(SUM({quality_e9}) AS BIGINT) AS sum_quality_e9
        FROM documents GROUP BY lang
        """))
    def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
        # quality is summed via quality_score_e9 — an integer-exact
        # scaled score (no double rounding anywhere), so the sum is
        # bit-identical across engines and partitionings
        docs = load_table(spark, sf_dir, "documents")
        c = F.col("text")
        return (docs.groupBy("lang")
                .agg(F.sum(T.token_count(c)).alias("total_tokens"),
                     F.sum(T.subword_estimate(c)).alias("total_subwords"),
                     F.sum(T.quality_score_e9(c)).alias("sum_quality_e9")))

    @_register(
        "text_quality_filter",
        _text_oracle("""
        SELECT doc_id, {n_tokens} AS n_tokens
        FROM documents
        WHERE {quality} >= 0.75 AND {n_tokens} >= 40
        """))
    def q_text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        c = F.col("text")
        return (docs
                .withColumn("__q", T.quality_score(c))
                .withColumn("n_tokens", T.token_count(c))
                .where((F.col("__q") >= 0.75) & (F.col("n_tokens") >= 40))
                .select("doc_id", "n_tokens"))

    @_register(
        "lang_id_confusion",
        _text_oracle("""
        SELECT lang, {lang_pred} AS lang_pred, COUNT(*) AS n
        FROM documents GROUP BY lang, {lang_pred}
        """))
    def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return (docs.withColumn("lang_pred", T.lang_id(F.col("text")))
                .groupBy("lang", "lang_pred")
                .agg(F.count(F.lit(1)).alias("n")))


_register_text_queries()


@_register(
    "catalog_pruned_doc_stats",
    _text_oracle("""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM({n_tokens}) AS BIGINT) AS total_tokens
    FROM documents WHERE lang = 'en' GROUP BY source
    """))
def q_catalog_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-table scan with partition pruning: documents registered
    as a session-catalog external table partitioned by lang (the
    Iceberg-shaped layout; sources/catalog.py — swap one conf for a
    real Iceberg catalog on a cluster, no Iceberg jar ships in this
    sandbox). The WHERE lang='en' predicate prunes to ONE partition
    directory (PartitionFilters in the plan, asserted in
    tests/test_sources.py) instead of scanning every row group."""
    from libfilter_spark.functions import text as T
    from libfilter_spark.sources.catalog import scan_documents_lang
    docs = scan_documents_lang(spark, sf_dir, "en",
                               ["source", "n_chars", "text"])
    return (docs.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("total_chars"),
                 F.sum(T.token_count(F.col("text")))
                 .alias("total_tokens")))


@_register(
    "hibp_hexfile_semijoin",
    """
    SELECT COUNT(*) AS n_member_events
    FROM events
    WHERE user_id IN (SELECT c_custkey FROM customer
                      WHERE c_acctbal > 3000)
    """)
def q_hibp_hexfile_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's HIBP workflow end-to-end
    (cpp/extras/benchmarks/hibp.cpp:66-129): digests of the member set
    are WRITTEN as a hex text file (one digest per line, the dump
    format), the filter build INGESTS that file keyed on the low 64
    digest bits (hibp.cpp:85-90), probes take the same bit window, and
    filter hits are exact-verified against the ingested key set — so
    the answer equals a plain semi-join and DuckDB oracles the whole
    write → read → build → probe → verify round trip over the source
    tables."""
    import hashlib
    import tempfile

    from libfilter_spark.sources.hexfile import (read_hex_hashes,
                                                 with_hibp_key,
                                                 write_hex_hashes)
    members = load_table(spark, sf_dir, "customer") \
        .where("c_acctbal > 3000") \
        .withColumn("__c", F.col("c_custkey").cast("string"))
    tag = hashlib.sha256(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    path = os.path.join(tempfile.gettempdir(),
                        f"libfilter_hibp_{tag}.txt")
    write_hex_hashes(members, "__c", path)
    build_keys = read_hex_hashes(spark, path)
    filters = build_filters(build_keys, group_cols=None,
                            ndv=1 << 16, fpp=0.01)
    probe = with_hibp_key(
        load_table(spark, sf_dir, "events")
        .withColumn("__c", F.col("user_id").cast("string")), "__c")
    candidates = (probe_with_filters(probe, filters, group_cols=None)
                  .where("maybe_seen").select("key"))
    hits = candidates.join(build_keys.dropDuplicates(["key"]),
                           on="key", how="left_semi")
    return hits.agg(F.count(F.lit(1)).alias("n_member_events"))


# ---------------------------------------------------------------------------
# Companion sketches (north-rule additions): the estimate itself is not
# SQL-expressible, but the error-envelope CONTRACT is — the query emits
# booleans the oracle can predict, so the driver's hash check still bites.
# ---------------------------------------------------------------------------

@_register(
    "hll_distinct_within_bound",
    """
    SELECT lang, TRUE AS within_bound FROM documents GROUP BY lang
    """)
def q_hll_within_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang HLL distinct-content estimate must sit within 3x the
    published 1.04/sqrt(m) relative error of the exact distinct count."""
    import pandas as pd

    from libfilter_spark.sketches import HyperLogLog
    from libfilter_spark.spark.sketch_build import build_sketches

    docs = with_content_key(load_table(spark, sf_dir, "documents"), "text")
    sk = build_sketches(docs, ["lang"], "key", kind="hll", p=14)
    exact = docs.groupBy("lang").agg(
        F.countDistinct("key_hex").alias("exact_distinct"))
    rows = sk.join(exact, on="lang").collect()
    out = []
    for r in rows:
        h = HyperLogLog.deserialize(bytes(r["sketch"]))
        err = abs(h.estimate() - r["exact_distinct"]) / max(
            r["exact_distinct"], 1)
        out.append((r["lang"], bool(err <= 3 * h.relative_error())))
    return spark.createDataFrame(pd.DataFrame(
        out, columns=["lang", "within_bound"]))


@_register(
    "cms_frequency_within_bound",
    """
    SELECT event_type, TRUE AS never_underestimates, TRUE AS within_eps
    FROM events GROUP BY event_type
    """)
def q_cms_within_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global CountMin over event_type keys: estimates must dominate
    exact counts and stay within eps*N (3x slack)."""
    import pandas as pd

    from libfilter_spark.sketches import CountMinSketch
    from libfilter_spark.spark.sketch_build import build_sketches
    from libfilter_spark.kernels.keys import sha256_key

    events = _keyed(load_table(spark, sf_dir, "events"), "event_type")
    sk = build_sketches(events, None, "key", kind="countmin",
                        depth=5, width=2048)
    exact = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")).collect()
    cms = CountMinSketch.deserialize(bytes(sk.collect()[0]["sketch"]))
    out = []
    for r in exact:
        import numpy as np
        key = np.array([sha256_key(str(r["event_type"]))], dtype=np.uint64)
        est = int(cms.estimate(key)[0])
        out.append((r["event_type"], bool(est >= r["n"]),
                    bool(est - r["n"] <= 3 * cms.epsilon * cms.total)))
    return spark.createDataFrame(pd.DataFrame(
        out, columns=["event_type", "never_underestimates", "within_eps"]))


@_register(
    "quantile_sketches_within_bound",
    """
    SELECT 'kll' AS sketch, TRUE AS q25_ok, TRUE AS q50_ok, TRUE AS q99_ok
    UNION ALL
    SELECT 'tdigest' AS sketch, TRUE AS q25_ok, TRUE AS q50_ok, TRUE AS q99_ok
    """)
def q_quantiles_within_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL and t-digest over lineitem extended prices: each estimated
    quantile's true rank must be within 0.03 of its target. The two
    sketch builds are independent jobs (thread-submitted, guide §2.6)
    and all six rank checks fold into ONE aggregation pass — the
    previous shape paid 6 separate filtered count() scans plus a
    count() for the total (9 jobs over lineitem)."""
    from concurrent.futures import ThreadPoolExecutor

    import pandas as pd

    from libfilter_spark.sketches import KLLSketch, TDigest
    from libfilter_spark.spark.sketch_build import build_sketches

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("v"))

    def build(kind, cls, **params):
        df = build_sketches(li, None, "v", kind=kind, **params)
        return cls.deserialize(bytes(df.collect()[0]["sketch"]))

    with ThreadPoolExecutor(max_workers=2) as ex:
        kll_f = ex.submit(build, "kll", KLLSketch, k=200)
        td_f = ex.submit(build, "tdigest", TDigest, delta=100.0)
        kll, td = kll_f.result(), td_f.result()
    qs = (0.25, 0.50, 0.99)
    ests = [(name, q, sk.quantile(q))
            for name, sk in (("kll", kll), ("tdigest", td)) for q in qs]
    aggs = [F.count(F.lit(1)).alias("total")]
    aggs += [F.sum((F.col("v") <= F.lit(est)).cast("long"))
             .alias(f"r{i}") for i, (_, _, est) in enumerate(ests)]
    row = li.agg(*aggs).collect()[0]
    total = row["total"]
    ranks = {(name, q): row[f"r{i}"] / total
             for i, (name, q, _) in enumerate(ests)}
    out = [(name, *[bool(abs(ranks[(name, q)] - q) <= 0.03)
                    for q in qs])
           for name in ("kll", "tdigest")]
    return spark.createDataFrame(pd.DataFrame(
        out, columns=["sketch", "q25_ok", "q50_ok", "q99_ok"]))


# ---------------------------------------------------------------------------
# Similarity search + dedup + multimodal (training-data pipeline ops)
# ---------------------------------------------------------------------------

@_register(
    "ann_cosine_topk",
    """
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(q.embedding, c.embedding) AS cos
      FROM q JOIN embeddings c ON c.vec_id <> q.vec_id),
    ranked AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id ASC) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
    """)
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 (the ANN correctness baseline):
    broadcast query matrix, per-task GEMM, local top-k, tiny shuffle."""
    from libfilter_spark.functions.similarity import cosine_topk
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where("vec_id < 3")
    return cosine_topk(emb, queries, k=5)


@_register("ann_lsh_recall")
def q_ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (the 100TB path) measured against the exact
    baseline: per-query recall@10. Rows-only (recall is stochastic in
    the hyperplane draw, deterministic given the fixed seed)."""
    from libfilter_spark.functions.similarity import cosine_topk, lsh_topk
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where("vec_id < 10")
    exact = cosine_topk(emb, queries, k=10) \
        .select("query_id", F.col("neighbor_id").alias("exact_n"))
    approx = lsh_topk(emb, queries, k=10, n_bits=8, probe_hamming=2) \
        .select("query_id", F.col("neighbor_id").alias("approx_n"))
    hits = exact.join(approx,
                      (exact.query_id == approx.query_id)
                      & (exact.exact_n == approx.approx_n)) \
        .groupBy(exact.query_id).agg(F.count(F.lit(1)).alias("n_hits"))
    return (exact.groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_exact"))
            .join(hits, on="query_id", how="left")
            .fillna(0, subset=["n_hits"])
            .withColumn("recall", F.col("n_hits") / F.col("n_exact"))
            .select("query_id", "n_hits", "recall"))


@_register(
    "tcf_forest_semijoin_lineitem_orders",
    """
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                         WHERE o_totalprice > 150000)
    GROUP BY l_returnflag
    """)
def q_tcf_forest_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-forest semi-join (the merge-free TCF scale path): keys
    shuffle once by a JVM shard hash, one full-resolution taffy-cuckoo
    filter per shard, probes route by the same hash — no union, no
    tail loss (a P-way union burns log2(P) tail bits; see
    spark/forest.py). Exact-verified, so DuckDB oracles it."""
    from libfilter_spark.spark.forest import (build_filter_forest,
                                              forest_semi_join)
    orders = load_table(spark, sf_dir, "orders") \
        .where("o_totalprice > 150000")
    lineitem = load_table(spark, sf_dir, "lineitem")
    build = _keyed(orders, "o_orderkey")
    probe = _keyed(lineitem, "l_orderkey")
    forest = build_filter_forest(build, "key", "taffy_cuckoo",
                                 ndv=1 << 14, fpp=0.01, n_shards=8,
                                 freeze=False)  # live shards on purpose
    hits = forest_semi_join(probe, build, forest, "key")
    return (hits.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                 .cast("double").alias("sum_price")))


@_register(
    "frozen_tcf_forest_semijoin_orders",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer
                        WHERE c_mktsegment = 'BUILDING')
    GROUP BY o_orderpriority
    """)
def q_frozen_tcf_forest_semijoin(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Frozen-forest semi-join — the reference's read-only serving
    shape (``taffy-cuckoo.c:127-160`` freeze; HIBP serving,
    ``taffy.tex:1791-1800``): TCF shards are frozen at build end
    (tails dropped, 10-bit fingerprints SWAR-packed, ~40% smaller
    broadcast blobs, faster probe), probes route by the same JVM shard
    hash and run the frozen SWAR find. Zero FN across freeze by
    construction; exact-verified, so DuckDB oracles it."""
    from libfilter_spark.spark.forest import (build_filter_forest,
                                              forest_semi_join)
    customers = load_table(spark, sf_dir, "customer") \
        .where("c_mktsegment = 'BUILDING'")
    orders = load_table(spark, sf_dir, "orders")
    build = _keyed(customers, "c_custkey")
    probe = _keyed(orders, "o_custkey")
    # no freeze= argument: taffy_cuckoo forests freeze BY DEFAULT
    # (round-6) — this query pins the default serving shape
    forest = build_filter_forest(build, "key", "taffy_cuckoo",
                                 ndv=1 << 13, fpp=0.01, n_shards=8)
    hits = forest_semi_join(probe, build, forest, "key")
    return (hits.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                 .cast("double").alias("sum_price")))


@_register(
    "shuffle_grouped_semijoin_returned_parts",
    """
    SELECT l_linestatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_qty
    FROM lineitem l
    WHERE EXISTS (SELECT 1 FROM lineitem r
                  WHERE r.l_returnflag = 'R'
                    AND r.l_suppkey = l.l_suppkey
                    AND r.l_partkey = l.l_partkey)
    GROUP BY l_linestatus
    """)
def q_shuffle_grouped_semijoin(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Many-groups semijoin over the SHUFFLE probe route (round-6,
    verdict task 8): ``via='shuffle'`` keeps the per-supplier filters
    DISTRIBUTED — probe keys cogroup to the filters on the group key
    and only the boolean joins back (spark/probe.py
    _probe_via_cogroup). This is the 100 TB many-groups shape: at
    10^5 groups × MB blobs no broadcast budget holds, and this route's
    driver memory stays flat at any group count (+0.0 MB RSS measured
    at 10^4 groups, BENCH/probe_10kgroups.json). One filter per
    l_suppkey, keys = sha256(l_partkey) over returned items;
    exact-verified, so DuckDB oracles it."""
    from libfilter_spark.spark.build import build_filters
    from libfilter_spark.spark.probe import probe_with_filters
    lineitem = load_table(spark, sf_dir, "lineitem")
    # cache: the keyed build side feeds BOTH the grouped filter build
    # and the exact-verify semijoin — uncached, the scan + sha pass
    # over the returned-items slice runs twice
    build = _keyed(lineitem.where("l_returnflag = 'R'"), "l_partkey") \
        .select("l_suppkey", "key").cache()
    probe = _keyed(lineitem, "l_partkey")
    filters = build_filters(build, ["l_suppkey"], ndv=1 << 10,
                            fpp=0.01)
    cand = (probe_with_filters(probe, filters, ["l_suppkey"],
                               via="shuffle")
            .where(F.col("maybe_seen")).drop("maybe_seen"))
    on = ["l_suppkey", "key"]
    hits = cand.join(build.dropDuplicates(on), on=on, how="left_semi")
    return (hits.groupBy("l_linestatus")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                 .cast("double").alias("sum_qty")))


@_register("ann_ivf_recall")
def q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (trained centroids, the predictable-recall 100TB path:
    recall scales with nprobe/n_centroids instead of hyperplane seed
    luck) vs the exact baseline: per-query recall@10. Deterministic
    (maxmin init, no RNG) — golden-oracle checked."""
    from libfilter_spark.functions.similarity import cosine_topk, ivf_topk
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where("vec_id < 10")
    exact = cosine_topk(emb, queries, k=10) \
        .select("query_id", F.col("neighbor_id").alias("exact_n"))
    approx = ivf_topk(emb, queries, k=10, n_centroids=32, nprobe=8) \
        .select("query_id", F.col("neighbor_id").alias("approx_n"))
    hits = exact.join(approx,
                      (exact.query_id == approx.query_id)
                      & (exact.exact_n == approx.approx_n)) \
        .groupBy(exact.query_id).agg(F.count(F.lit(1)).alias("n_hits"))
    return (exact.groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_exact"))
            .join(hits, on="query_id", how="left")
            .fillna(0, subset=["n_hits"])
            .select("query_id", "n_hits", "n_exact"))


@_register("dedup_minhash_lsh")
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs over documents (J >= 0.5), exact-
    verified. Rows-only: testdata documents are near-unique, so this
    mostly proves the pipeline runs; planted-duplicate recall is
    asserted in pytest on the synthetic source-code table."""
    from libfilter_spark.functions.dedup import minhash_lsh_pairs
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, "doc_id", "text", k=64, bands=16,
                             threshold=0.5)


@_register("dedup_cluster_keep")
def q_dedup_cluster_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup pipeline: MinHash-LSH pairs → connected
    components (iterative min-label propagation, no driver state) →
    keep-one-representative per cluster. Reports per-lang kept/dropped
    counts — the canonical training-data dedup op. Deterministic
    (fixed seeds) — golden-oracle checked."""
    from libfilter_spark.functions.dedup import (keep_representatives,
                                                 minhash_lsh_pairs)
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", k=64, bands=16,
                              threshold=0.5)
    kept = keep_representatives(docs, pairs, "doc_id")
    return (docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
            .join(kept.groupBy("lang")
                  .agg(F.count(F.lit(1)).alias("n_kept")), on="lang")
            .withColumn("n_dropped", F.col("n_docs") - F.col("n_kept")))


@_register("dedup_simhash")
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from libfilter_spark.functions.dedup import simhash_near_pairs
    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_pairs(docs, "doc_id", "text", max_hamming=3)


@_register("doc_fingerprints")
def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash fingerprints per doc (MOSS-style)."""
    from libfilter_spark.functions.dedup import fingerprint_df
    docs = load_table(spark, sf_dir, "documents")
    fp = fingerprint_df(docs, "doc_id", "text")
    return (fp.join(docs.select("doc_id", "lang"), on="doc_id")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_grams").alias("total_fingerprints")))


@_register(
    "dedup_embedding_near_pairs",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id < 1000 AND b.vec_id < 1000
      AND list_cosine_similarity(a.embedding, b.embedding) >= 0.45
    """)
def q_embedding_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, exact-verified and
    oracle-checked against DuckDB's quadratic scan on a bounded id
    range (n_bits=0 ⇒ single bucket ⇒ exhaustive candidates, so the
    Spark result is exact; the LSH-bucketed scale path with recall<1
    is exercised by ann_lsh_recall and pytest instead)."""
    from libfilter_spark.functions.similarity import embedding_near_pairs
    emb = load_table(spark, sf_dir, "embeddings").where("vec_id < 1000")
    pairs = embedding_near_pairs(emb, threshold=0.45, n_bits=0)
    return pairs.select("id_a", "id_b")


@_register("source_code_pipeline")
def q_source_code_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-star shape end-to-end: deterministic Iceberg-shaped
    source-code table (repo, path, commit, lang, content) → sha256
    keys → per-lang block filters (mega-repo skew present) →
    cross-repo duplicate-content detection via Bloom semi-join with
    exact verify. Rows-only (the table is generated, not a view)."""
    from libfilter_spark.sources.codegen import source_code_table
    from libfilter_spark.spark.keys import with_content_key_bin

    # cache: the generated+keyed table feeds the build, the probe,
    # AND the exact-verify side — uncached, generation + sha run 3x
    src = with_content_key_bin(source_code_table(spark, 20_000, seed=42),
                               "content").cache()
    mega = src.where(F.col("repo") == "org0/repo0")
    rest = src.where(F.col("repo") != "org0/repo0")
    filters = build_filters(mega, ["lang"], ndv=1 << 12, fpp=0.01)
    dup_in_mega = filter_semi_join(rest, mega, filters, ["lang"])
    per_lang = (dup_in_mega.groupBy("lang")
                .agg(F.count(F.lit(1)).alias("n_dup_files"),
                     F.countDistinct("key").alias("n_dup_contents")))
    # collect the few per-lang rows so the cache can be released
    # before returning (a lazy result would pin it for the caller)
    rows = per_lang.collect()
    src.unpersist()
    return spark.createDataFrame(rows, per_lang.schema)


@_register("multimodal_feature_audit")
def q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload media table → stubbed decode → feature extract;
    exercises the real Arrow plumbing (schema, batching, hashing)."""
    from libfilter_spark.functions.multimodal import (extract_features,
                                                      frame_sample_plan,
                                                      synthetic_media_table)
    media = synthetic_media_table(spark, 300)
    feats = extract_features(media, strict=False)
    plan = frame_sample_plan(media, fps=0.5)
    agg = (feats.groupBy("kind")
           .agg(F.count(F.lit(1)).alias("n_media"),
                F.countDistinct("payload_sha").alias("n_distinct_payloads")))
    frames = plan.agg(F.count(F.lit(1)).alias("n")).collect()[0]["n"]
    return agg.withColumn("total_video_frames_planned", F.lit(int(frames)))


# ---------------------------------------------------------------------------
# Contract-property audits (SURVEY.md §5 invariants as queries)
# ---------------------------------------------------------------------------

@_register(
    "fpp_curve_conformance",
    """
    SELECT 'block' AS family, TRUE AS within_model UNION ALL
    SELECT 'bloom' AS family, TRUE AS within_model UNION ALL
    SELECT 'taffy_block' AS family, TRUE AS within_model UNION ALL
    SELECT 'taffy_cuckoo' AS family, TRUE AS within_model UNION ALL
    SELECT 'minimal_taffy_cuckoo' AS family, TRUE AS within_model
    """)
def q_fpp_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured FPP vs model curve (BASELINE.md §C): build per-family
    filters over lineitem orderkey-line keys, probe disjoint synthetic
    keys, assert measured <= model + 5 sigma. Block families check the
    util.c:5-34 Putze model at the actual bits/key; the cuckoo
    families (built through the merge-free FOREST scale path) check
    the paper's growable-filter bound 2^(-F+O(1))
    (doc/taffy/taffy.tex:837-844: F=10 for TCF, 9 for MTCF) with the
    O(1) taken as the slots-probed count — 8 slot comparisons for TCF
    (2 sides x 4 slots), 16 for MTCF (2 sides x {lo,hi} x 4 slots).
    The distributed build and probe run through the full pipeline."""
    import pandas as pd

    from libfilter_spark.kernels.sizing import block_fpp
    from libfilter_spark.filters import BloomFilter

    from concurrent.futures import ThreadPoolExecutor

    li = load_table(spark, sf_dir, "lineitem")
    # cache both sides: five families re-scan them (sha derivation +
    # dedup would otherwise recompute per family); the two
    # materializing counts are independent jobs, so they run
    # concurrently (guide §2.6) instead of back to back
    build = _keyed(
        li.withColumn("__k", F.concat_ws("-", "l_orderkey", "l_linenumber")),
        "__k").dropDuplicates(["key"]).select("key").cache()
    absent = _keyed(load_table(spark, sf_dir, "events"), "event_id") \
        .select("key").cache()
    with ThreadPoolExecutor(max_workers=2) as ex:
        fb, fa = ex.submit(build.count), ex.submit(absent.count)
        n_build, n_absent = fb.result(), fa.result()

    from libfilter_spark.spark.forest import (build_filter_forest,
                                              probe_with_forest)

    # the five family audits are independent Spark jobs over the two
    # cached key frames; thread-submitting them lets the scheduler
    # interleave their stages (5 sequential build+probe legs otherwise
    # pay 5 driver round-trip chains back to back)
    def partials_leg(family: str) -> tuple:
        # cache the ONE-ROW filters frame: the audit reads it twice
        # (blob size + probe broadcast) and an uncached frame re-runs
        # the whole build per read
        # strategy pinned: the audit's model check reads ONE blob's
        # byte length — a size-routed block_slice shard frame would
        # make fbytes one slice and the check silently lenient
        filters = build_filters(build, None, family=family,
                                ndv=max(n_build, 1024), fpp=0.01,
                                strategy="partials").cache()
        row = filters.collect()[0]
        hits = probe_with_filters(absent, filters, None) \
            .where("maybe_seen").count()
        filters.unpersist()
        measured = hits / max(n_absent, 1)
        fbytes = len(row["filter"])
        if family == "bloom":
            f = BloomFilter.deserialize(bytes(row["filter"]))
            model = BloomFilter.fpp_model(n_build, f.m_bits, f.k)
        else:
            # taffy_block at a single level is a block filter; use the
            # total size as the (conservative) model input
            model = block_fpp(n_build, fbytes if family == "block"
                              else fbytes)
        sigma = (model * (1 - model) / max(n_absent, 1)) ** 0.5
        return (family, bool(measured <= model + 5 * sigma + 1e-6))

    # cuckoo families: forest build (full-resolution shards, zero tail
    # loss) vs the 2^(-F+O(1)) growable-filter bound
    def forest_leg(family: str, fbits: int, slots: int) -> tuple:
        # cache: the probe reads the forest twice (params + broadcast
        # collect) — without it each read is a full rebuild
        forest = build_filter_forest(build, "key", family,
                                     ndv=max(n_build, 1024), fpp=0.01,
                                     n_shards=8,
                                     freeze=False).cache()  # live fpp model
        hits = probe_with_forest(absent, forest, "key") \
            .where("maybe_seen").count()
        measured = hits / max(n_absent, 1)
        model = slots * 2.0 ** (-fbits)
        sigma = (model * (1 - model) / max(n_absent, 1)) ** 0.5
        forest.unpersist()
        return (family, bool(measured <= model + 5 * sigma + 1e-6))

    with ThreadPoolExecutor(max_workers=5) as ex:
        futs = [ex.submit(partials_leg, f)
                for f in ("block", "bloom", "taffy_block")]
        futs += [ex.submit(forest_leg, f, fb, sl)
                 for f, fb, sl in (("taffy_cuckoo", 10, 8),
                                   ("minimal_taffy_cuckoo", 9, 16))]
        out = [f.result() for f in futs]
    return spark.createDataFrame(pd.DataFrame(
        out, columns=["family", "within_model"]))


@_register(
    "merge_order_associativity",
    """
    SELECT 'block' AS family, TRUE AS byte_identical UNION ALL
    SELECT 'taffy_block' AS family, TRUE AS byte_identical UNION ALL
    SELECT 'hll' AS family, TRUE AS byte_identical UNION ALL
    SELECT 'countmin' AS family, TRUE AS byte_identical
    """)
def q_merge_associativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule merge-associativity contract, exercised through the
    distributed pipeline: build at 3 different partitionings, assert
    byte-identical merged state for the lattice families."""
    from concurrent.futures import ThreadPoolExecutor

    import pandas as pd

    from libfilter_spark.spark.sketch_build import build_sketches

    # cache ONLY the (lang, key) projection: the 12 legs re-shuffle
    # their input per partitioning, and the build consumes nothing
    # else — shuffling the full documents frame (text included) 12
    # times was pure exchange weight (guide §2.3: project before the
    # exchange)
    docs = (with_content_key(load_table(spark, sf_dir, "documents"),
                             "text")
            .select("lang", "key").cache())
    docs.count()   # 12 legs re-read the cache, not 12 sha passes

    # the 12 (family, partitioning) legs are independent Spark jobs;
    # submitting them from threads lets the scheduler interleave their
    # stages instead of paying 12 sequential driver round-trips —
    # results are per-leg deterministic, so the audit is unchanged
    def filter_leg(family: str, parts: int):
        flt = build_filters(docs.repartition(parts), ["lang"],
                            family=family, ndv=4096, fpp=0.01)
        return tuple(sorted(
            (r["lang"], bytes(r["filter"])) for r in flt.collect()))

    def sketch_leg(kind: str, parts: int):
        sk = build_sketches(docs.repartition(parts), ["lang"], "key",
                            kind=kind)
        return tuple(sorted(
            (r["lang"], bytes(r["sketch"])) for r in sk.collect()))

    legs = [("block", filter_leg), ("taffy_block", filter_leg),
            ("hll", sketch_leg), ("countmin", sketch_leg)]
    with ThreadPoolExecutor(max_workers=6) as ex:
        futs = {(name, parts): ex.submit(fn, name, parts)
                for name, fn in legs for parts in (1, 3, 7)}
        out = [(name,
                len({futs[(name, parts)].result()
                     for parts in (1, 3, 7)}) == 1)
               for name, _ in legs]
    docs.unpersist()
    return spark.createDataFrame(pd.DataFrame(
        out, columns=["family", "byte_identical"]))


@_register(
    "frozen_tcf_broadcast_probe",
    """
    SELECT lang, COUNT(*) AS n_docs, COUNT(*) AS n_found,
           TRUE AS frozen_smaller
    FROM documents GROUP BY lang
    """)
def q_frozen_tcf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freeze a taffy-cuckoo filter (tail-less SWAR probe structure,
    taffy-cuckoo.c:127-160) and broadcast-probe with it. Oracle-checked:
    freezing preserves zero false negatives (n_found == n_docs) and
    always shrinks the blob (tails dropped); the raw byte sizes are
    partition-dependent so only the invariant is reported. The freeze
    runs DISTRIBUTED (spark/forest.py freeze_filters) — blobs never
    loop through the driver (the round-6 driver-side freeze was both
    the r5→r6 regression and a scale wall at many groups); the frame
    is cached because the probe collect and the invariant join both
    read it."""
    from libfilter_spark.spark.forest import freeze_filters

    docs = with_content_key(load_table(spark, sf_dir, "documents"), "text")
    filters = build_filters(docs, ["lang"], family="taffy_cuckoo",
                            ndv=512, fpp=0.01)
    frozen_df = freeze_filters(filters, keep_sizes=True).cache()
    probed = probe_with_filters(
        docs, frozen_df.select("lang", "family", "params", "n_keys",
                               "n_partials", "filter"), ["lang"])
    stats = (probed.groupBy("lang")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum(F.col("maybe_seen").cast("long")).alias("n_found")))
    return (frozen_df
            .select("lang", (F.col("frozen_bytes")
                             < F.col("thawed_bytes")).alias("frozen_smaller"))
            .join(stats, on="lang")
            .select("lang", "n_docs", "n_found", "frozen_smaller"))


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: Bloom-semi-join of orders against high-balance
    customers at sf0.001."""
    return q_bloom_semijoin_orders(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_QUERIES)


# --- recorded-golden oracles -------------------------------------------
# Some queries are deterministic but not SQL-expressible (fixed-seed
# LSH pairs, winnowing fingerprints, the generated source-code table,
# synthetic media). For those the oracle is the recorded sf0.01 output,
# rendered as a VALUES table — the classic golden-file pattern, visible
# as such in the SQL text. Regenerate after an intentional kernel
# change with: python tools/regen_goldens.py
GOLDENS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "goldens_sf001.json")
GOLDEN_QUERIES = ["doc_fingerprints", "dedup_minhash_lsh", "dedup_simhash",
                  "dedup_cluster_keep", "ann_lsh_recall", "ann_ivf_recall",
                  "source_code_pipeline", "multimodal_feature_audit"]


def _golden_literal(v, typ: str) -> str:
    if typ == "string":
        return "'" + str(v).replace("'", "''") + "'"
    if typ == "boolean":
        return "TRUE" if v else "FALSE"
    if typ == "double":
        # string cast → strtod → exact binary double; a bare decimal
        # literal parses as DECIMAL first and can be 1 ulp off
        return f"CAST('{float(v)!r}' AS DOUBLE)"
    return f"CAST({int(v)} AS BIGINT)"


def _golden_oracles() -> dict[str, str]:
    import json
    if not os.path.exists(GOLDENS_PATH):
        return {}
    with open(GOLDENS_PATH) as fh:
        goldens = json.load(fh)
    out = {}
    for name, g in goldens.items():
        cols, types, rows = g["columns"], g["types"], g["rows"]
        if not rows:
            continue
        values = ", ".join(
            "(" + ", ".join(_golden_literal(v, t)
                            for v, t in zip(row, types)) + ")"
            for row in rows)
        out[name] = (f"SELECT * FROM (VALUES {values}) "
                     f"AS t({', '.join(cols)})")
    return out


def oracle_sql() -> dict[str, str]:
    out = dict(_ORACLES)
    out.update(_golden_oracles())
    return out
