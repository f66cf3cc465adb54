"""Distributed plumbing: build / merge / probe filters and sketches
over DataFrames using Spark's partial+final aggregate shape.

Design (SURVEY.md §3.4): scan → JVM-side sha2 key derivation →
map-side partial filter per (task, group) via ``mapInArrow`` (NO row
shuffle — only KB-sized filter blobs are shuffled) → one
Arrow-segmented ``mapInArrow`` merge pass per partition of groups →
checkpoint → broadcast → Arrow scalar UDF probe → semi-join."""

from .session import get_spark
from .keys import with_content_key, KEY_COL, KEY_HEX_COL
from .build import build_filters, merge_filter_blobs
from .probe import probe_with_filters, filter_semi_join

__all__ = [
    "get_spark", "with_content_key", "KEY_COL", "KEY_HEX_COL",
    "build_filters", "merge_filter_blobs",
    "probe_with_filters", "filter_semi_join",
]
