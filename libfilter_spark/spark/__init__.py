"""Distributed plumbing: build / merge / probe filters and sketches
over DataFrames using Spark's partial+final aggregate shape.

Design (SURVEY.md §3.4): scan → JVM-side sha2 key derivation →
map-side partial filter or sketch per (task, group) via one
``mapInArrow`` builder, ``build.partial_batches`` (NO row shuffle —
only KB-sized blobs are shuffled; null keys are dropped) → one merge
planner, ``build.merge_partials``: one or two Arrow-segmented
``mapInArrow`` merge levels per partition of groups → checkpoint →
broadcast → Arrow scalar UDF probe → semi-join. Sketches
(``sketch_build.build_sketches``) run the same two stages."""

from .session import get_spark
from .keys import with_content_key, KEY_COL, KEY_HEX_COL
from .build import build_filters, merge_filter_blobs
from .probe import probe_with_filters, filter_semi_join

__all__ = [
    "get_spark", "with_content_key", "KEY_COL", "KEY_HEX_COL",
    "build_filters", "merge_filter_blobs",
    "probe_with_filters", "filter_semi_join",
]
