"""Custom stateful streaming operators built on the library's
mergeable sketch state (``applyInPandasWithState``).

``stream_distinct_counts``: per-group running distinct-count over an
unbounded stream. The group's state is a serialized HyperLogLog —
updates are scatter-max (idempotent, so at-least-once delivery after
recovery cannot inflate the estimate), exactly the property that makes
the library's sketches the right state representation for streaming.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (BinaryType, DoubleType, LongType, StringType,
                               StructField, StructType)

from ..kernels.keys import keys_from_hash_bytes, to_unsigned
from ..sketches import HyperLogLog

STATE_SCHEMA = StructType([
    StructField("sketch", BinaryType()),
    StructField("n_rows", LongType()),
])


def _keys_from_series(s: pd.Series) -> np.ndarray:
    """LongType (int64) or 8-byte binary series with no nulls → uint64
    keys (a null would turn an int64 series into float64)."""
    if s.dtype == object:  # binary
        return keys_from_hash_bytes(s.to_numpy())
    return to_unsigned(s.to_numpy())


def stream_distinct_counts(stream_df: DataFrame, group_col: str,
                           key_col: str = "key", p: int = 12,
                           checkpoint_dir: str | None = None):
    """groupBy(group_col) → stateful HLL distinct-count stream.

    Emits (group, n_rows, distinct_estimate) per updated group per
    micro-batch. Rows with a null key are dropped in the JVM, before
    the grouping, so ``n_rows`` counts non-null keys only. Returns the
    writeStream builder (caller starts it).
    """
    out_schema = StructType([
        StructField(group_col,
                    stream_df.schema[group_col].dataType),
        StructField("n_rows", LongType()),
        StructField("distinct_estimate", DoubleType()),
    ])

    def update(key: Tuple[Any], pdfs: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            blob, n_rows = state.get
            h = HyperLogLog.deserialize(bytes(blob))
        else:
            h = HyperLogLog(p=p)
            n_rows = 0
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            h.update_batch(_keys_from_series(pdf[key_col]))
            n_rows += len(pdf)
        state.update((h.serialize(), n_rows))
        yield pd.DataFrame({group_col: [key[0]], "n_rows": [n_rows],
                            "distinct_estimate": [h.estimate()]})

    updated = (stream_df.where(F.col(key_col).isNotNull())
               .groupBy(group_col)
               .applyInPandasWithState(update, out_schema, STATE_SCHEMA,
                                       "update",
                                       GroupStateTimeout.NoTimeout))
    writer = updated.writeStream.outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer
