"""Stateful streaming: per-group HLL distinct counts over a rate
stream via applyInPandasWithState, plus a watermarked windowed agg."""

import time

import pyspark.sql.functions as F
import pytest


def test_stateful_hll_distinct_stream(spark, tmp_path):
    from libfilter_spark.streaming.stateful import stream_distinct_counts
    from libfilter_spark.spark.keys import with_content_key_bin

    stream = (spark.readStream.format("rate")
              .option("rowsPerSecond", "3000").load()
              .withColumn("grp", (F.col("value") % 3).cast("long"))
              .withColumn("content", F.col("value").cast("string")))
    keyed = with_content_key_bin(stream, "content").select("grp", "key")
    writer = stream_distinct_counts(keyed, "grp", "key", p=12)
    q = (writer.format("memory").queryName("hll_stream").start())
    try:
        deadline = time.time() + 90
        ok = False
        while time.time() < deadline:
            rows = spark.sql(
                "select grp, max(n_rows) n, max(distinct_estimate) est "
                "from hll_stream group by grp").collect()
            if len(rows) == 3 and all(r["n"] >= 2000 for r in rows):
                # rate values are unique → distinct ≈ n_rows per group
                for r in rows:
                    err = abs(r["est"] - r["n"]) / r["n"]
                    assert err < 0.1, (r, err)
                ok = True
                break
            time.sleep(2)
    finally:
        q.stop()
    assert ok, "stream never reached 2000 rows per group"


def test_watermarked_windowed_counts(spark, tmp_path):
    """Watermark + tumbling-window agg (late-data handling shape)."""
    stream = (spark.readStream.format("rate")
              .option("rowsPerSecond", "2000").load())
    windowed = (stream
                .withWatermark("timestamp", "5 seconds")
                .groupBy(F.window("timestamp", "2 seconds"),
                         (F.col("value") % 2).alias("par"))
                .agg(F.count(F.lit(1)).alias("n")))
    q = (windowed.writeStream.outputMode("append")
         .format("memory").queryName("win_stream").start())
    try:
        deadline = time.time() + 90
        total = 0
        while time.time() < deadline:
            rows = spark.sql("select * from win_stream").collect()
            total = sum(r["n"] for r in rows)
            # appended (finalized) windows only appear past the watermark
            if len(rows) >= 4 and total >= 4000:
                break
            time.sleep(2)
    finally:
        q.stop()
    assert total >= 4000


@pytest.mark.parametrize("key_type", ["int64", "binary"])
def test_stateful_hll_drops_null_keys(spark, tmp_path, key_type):
    """Null keys are dropped before the grouping: n_rows counts the
    non-null keys, the estimate equals a local HLL over them (an int64
    batch with a null must not pass through float64, which maps the
    null to 2^63 and 2^60 + 1 to 2^60), and a group of null keys only
    emits no row."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from libfilter_spark.sketches import HyperLogLog
    from libfilter_spark.streaming.stateful import stream_distinct_counts

    data = {0: [1 << 60, (1 << 60) + 1, None, 12_345],
            1: [None, 7, None], 2: [None, None]}
    if key_type == "int64":
        atype = pa.int64()
        enc = (lambda k: k)
    else:
        atype = pa.binary()
        enc = (lambda k: k.to_bytes(8, "big"))
    grp = [g for g, ks in data.items() for _ in ks]
    key = [None if k is None else enc(k)
           for ks in data.values() for k in ks]
    src = tmp_path / "in"
    src.mkdir()
    pq.write_table(pa.table({"grp": pa.array(grp, pa.int64()),
                             "key": pa.array(key, atype)}),
                   src / "part-0.parquet")
    stream = spark.readStream.schema(
        spark.read.parquet(str(src)).schema).parquet(str(src))
    name = f"hll_nulls_{key_type}"
    q = (stream_distinct_counts(stream, "grp", "key", p=12)
         .format("memory").queryName(name).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["grp"]: (r["n_rows"], r["distinct_estimate"])
           for r in spark.sql(f"select * from {name}").collect()}
    want = {}
    for g, ks in data.items():
        live = [k for k in ks if k is not None]
        if live:
            h = HyperLogLog(p=12)
            h.update_batch(np.array(live, dtype=np.uint64))
            want[g] = (len(live), h.estimate())
    assert got == want
