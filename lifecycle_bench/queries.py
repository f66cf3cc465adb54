"""The query pass: library layers only the entry queries reach.

``functions.*``, ``sources.*`` and ``spark.checkpoint`` are called by
``__spark_entry__.queries()`` and by nothing else, so the traced pass of
``grouped_skewed`` (the many-small-jobs workload) ends with a subset of
those queries. They read tables ``tables.py`` generates from the run's
seed: one untimed warm pass on small tables, then one timed pass, each
query timed to its collected result, its leftover persisted RDDs
counted, and ``clearCache()`` run before the next so one query's leak
does not tax the next. Outside the timed region every result is
compared, hashed canonically as ``tools/oracle_check.py`` does, with
DuckDB running the query's ``oracle_sql()`` on the same files, or, for
the queries whose only oracle is a recorded golden, with the
independent implementation in ``tools/independent_oracles.py``.
"""

from __future__ import annotations

import os
import sys
import time

from tables import TABLES, write_tables

# query -> the module group whose sum it enters (queries.<group>_s)
QUERY_GROUPS = {
    "filters": ("bloom_semijoin_orders_customers",
                "checkpointed_salted_build_audit", "hibp_hexfile_semijoin"),
    "sketches": ("hll_distinct_within_bound",),
    "dedup_ann": ("doc_fingerprints", "ann_cosine_topk"),
    "relational": ("set_ops_order_keys", "catalog_pruned_doc_stats",
                   "source_code_pipeline", "multimodal_feature_audit"),
}
QUERIES = tuple(q for qs in QUERY_GROUPS.values() for q in qs)
WARM_SF = 0.001
TIMED_SF = 0.01
WARM_SEED = 1_000_003  # the warm tables never equal the timed ones


def metric_units() -> dict[str, str]:
    out = {f"queries.{g}_s": "s" for g in QUERY_GROUPS}
    for q in QUERIES:
        out[f"q.{q}_s"] = "s"
        out[f"q.{q}.leaked_rdds"] = "count"
    return out


def _tools():
    tools = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import independent_oracles
    import oracle_check
    return oracle_check, independent_oracles


def run_queries(run, work: str) -> dict[str, float]:
    import __spark_entry__ as E
    spark = run.spark
    queries = E.queries()
    warm = write_tables(os.path.join(work, "sf_warm"),
                        WARM_SEED + run.seed, WARM_SF)
    timed = write_tables(os.path.join(work, "sf_timed"), run.seed, TIMED_SF)
    for name in QUERIES:
        queries[name](spark, warm).toPandas()
        spark.catalog.clearCache()
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    out, got = {}, {}
    for name in QUERIES:
        before = persisted().size()
        t = time.perf_counter()
        got[name] = queries[name](spark, timed).toPandas()
        out[f"q.{name}_s"] = time.perf_counter() - t
        out[f"q.{name}.leaked_rdds"] = max(0, persisted().size() - before)
        spark.catalog.clearCache()
    for group, names in QUERY_GROUPS.items():
        out[f"queries.{group}_s"] = sum(out[f"q.{q}_s"] for q in names)
    check_results(run, timed, got)
    return out


def check_results(run, sf_dir: str, got: dict) -> None:
    """Each result against DuckDB's oracle SQL on the same files, or the
    independent implementation where the oracle is a recorded golden."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as E
    oracle_check, independent = _tools()
    sql = E.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{os.path.join(sf_dir, t + '.parquet')}')")
    for name, pdf in got.items():
        if name in E.GOLDEN_QUERIES:
            cols, rows = independent.COMPUTERS[name](sf_dir)
            want = pd.DataFrame(rows, columns=cols)
        else:
            want = con.execute(sql[name]).fetchdf()
        rows_ok, schema_ok, values_ok = oracle_check.compare(pdf, want)
        run.check(rows_ok and schema_ok and values_ok and len(pdf) > 0,
                  f"query {name}: rows={rows_ok} schema={schema_ok} "
                  f"values={values_ok} ({len(pdf)} rows)")
    con.close()
