"""Checkpointed, resumable, skew-salted filter builds.

The fast path (``build.build_filters``) uses map-side combine whose
partial units depend on task scheduling — great for throughput, not
resumable. This module trades one row shuffle for *deterministic*
work units: the unit of work is (group, salt) with
salt = pmod(xxhash64(key), n_salts). Properties at 100 TB scale:

- **skew**: a mega-group (the Zipf head repo / dominant lang) splits
  into n_salts units that run on different executors; filters are
  mergeable so salting is semantically free (second-stage merge
  collapses salts).
- **resume**: each (group, salt) partial is written to the checkpoint
  directory with lineage + metrics as soon as it's built; a re-run
  anti-joins the done set and computes only missing units, then the
  final merge reads every partial. Killing the job mid-build loses at
  most in-flight units.
- **lineage**: partial rows carry (lineage_id = sha of
  group/salt/family/params, n_keys, build_ms, built_by) so a merged
  filter's provenance is auditable.
"""

from __future__ import annotations

import hashlib
import json
import time
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, DoubleType, LongType, StringType,
                               StructField, StructType)

from .build import (_arrow_schema, create_filter, estimate_filter_bytes,
                    merge_filter_blobs)

SALT_COL = "__salt"


def with_salt(df: DataFrame, key_col: str, n_salts: int) -> DataFrame:
    """Explicit skew salt: deterministic function of the key, so the
    same row always lands in the same (group, salt) unit."""
    return df.withColumn(
        SALT_COL, F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_salts)))


def _partial_schema(df: DataFrame, group_cols: list[str]) -> StructType:
    by_name = {f.name: f for f in df.schema.fields}
    fields = [StructField(c, by_name[c].dataType) for c in group_cols]
    fields += [
        StructField(SALT_COL, LongType()),
        StructField("family", StringType()),
        StructField("params", StringType()),
        StructField("n_keys", LongType()),
        StructField("n_partials", LongType()),
        StructField("filter", BinaryType()),
        StructField("lineage_id", StringType()),
        StructField("build_ms", DoubleType()),
    ]
    return StructType(fields)


def build_partials_salted(df: DataFrame, group_cols: list[str],
                          key_col: str, family: str, ndv: int, fpp: float,
                          n_salts: int) -> DataFrame:
    """One filter per (group, salt) via a salted shuffle —
    deterministic resumable units with lineage + metrics."""
    group_cols = list(group_cols or [])
    params = json.dumps({"ndv": int(ndv), "fpp": float(fpp)})
    salted = with_salt(df.select(*group_cols, key_col), key_col, n_salts)
    schema = _partial_schema(salted, group_cols)
    out_schema = _arrow_schema(schema)

    def build(table):
        # applyInArrow + zero-copy keys (a pandas grouped map would
        # materialize one Python bytes object per key)
        import pyarrow as pa

        from ..kernels.keys import drop_null_keys, keys_from_arrow
        t0 = time.perf_counter()
        table = drop_null_keys(table, key_col)
        if table.num_rows == 0:
            return out_schema.empty_table()  # all keys null: no unit
        f = create_filter(family, ndv, fpp)
        keys = keys_from_arrow(table.column(key_col))
        f.add_hashes(keys)
        gvals = [table.column(c)[0].as_py() for c in group_cols]
        salt = int(table.column(SALT_COL)[0].as_py())
        lineage = hashlib.sha256(
            json.dumps([family, params, [str(g) for g in gvals], salt])
            .encode()).hexdigest()[:16]
        cols = {c: table.column(c).slice(0, 1).combine_chunks()
                for c in group_cols}
        cols[SALT_COL] = pa.array([salt], type=pa.int64())
        cols["family"] = pa.array([family])
        cols["params"] = pa.array([params])
        cols["n_keys"] = pa.array([len(keys)], type=pa.int64())
        cols["n_partials"] = pa.array([1], type=pa.int64())
        cols["filter"] = pa.array([f.serialize()], type=pa.binary())
        cols["lineage_id"] = pa.array([lineage])
        cols["build_ms"] = pa.array(
            [(time.perf_counter() - t0) * 1000.0], type=pa.float64())
        return pa.table(cols)

    return salted.groupBy(*group_cols, SALT_COL).applyInArrow(
        build, schema=schema)


def checkpointed_build(spark: SparkSession, df: DataFrame,
                       group_cols: list[str], checkpoint_dir: str,
                       key_col: str = "key", family: str = "block",
                       ndv: int = 1 << 20, fpp: float = 0.01,
                       n_salts: int = 8) -> DataFrame:
    """Build (or resume) salted partials under ``checkpoint_dir``, then
    merge per group. Returns the merged filters DataFrame.

    Resume semantics: units already present in the checkpoint are
    skipped (anti-join on the unit key); only missing (group, salt)
    units are computed and appended.
    """
    group_cols = list(group_cols or [])
    partial_path = f"{checkpoint_dir.rstrip('/')}/partials"
    unit_cols = group_cols + [SALT_COL]

    import os
    has_existing = False
    done = None
    # cheap local-path existence probe first (avoids a noisy logged
    # AnalysisException on first build); fall back to try-read for
    # non-local filesystems
    if not partial_path.startswith(("hdfs:", "s3:", "s3a:", "gs:")) and \
            not os.path.exists(partial_path):
        pass
    else:
        try:
            existing = spark.read.parquet(partial_path)
            done = existing.select(*unit_cols).distinct()
            has_existing = True
        except Exception:
            pass

    salted_keys = with_salt(df.select(*group_cols, key_col), key_col,
                            n_salts)
    if has_existing:
        pending_rows = salted_keys.join(F.broadcast(done), on=unit_cols,
                                        how="left_anti")
    else:
        pending_rows = salted_keys

    # build only the pending units (note: build_partials_salted re-salts
    # deterministically — same salt values)
    pending_partials = build_partials_salted(
        pending_rows.drop(SALT_COL), group_cols, key_col, family, ndv, fpp,
        n_salts)
    pending_partials.write.mode("append").parquet(partial_path)

    all_partials = spark.read.parquet(partial_path)
    return merge_filter_blobs(
        all_partials.select(*group_cols, "family", "params", "n_keys",
                            "n_partials", "filter"),
        group_cols, est_bytes=estimate_filter_bytes(family, ndv, fpp))


def checkpoint_metrics(spark: SparkSession,
                       checkpoint_dir: str) -> DataFrame:
    """Lineage + metrics of every checkpointed partial."""
    return spark.read.parquet(f"{checkpoint_dir.rstrip('/')}/partials") \
        .select(F.col(SALT_COL).alias("salt"), "lineage_id", "family",
                "params", "n_keys", "build_ms")
