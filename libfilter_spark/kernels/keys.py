"""Key derivation kernels.

The library's per-row invariant vs the reference: a key is the first 8
bytes of sha256(content), interpreted big-endian as uint64 (the hex
string prefix order). The reference consumes caller-supplied
pseudorandom uint64 hashes (``c/include/filter/block.h:43-51``);
sha256-derived keys satisfy that pseudorandomness contract.

Spark computes ``sha2(content, 256)`` JVM-side; these kernels finish
the conversion inside Arrow batches — no per-row Python.
"""

from __future__ import annotations

import hashlib

import numpy as np


def keys_from_hash_bytes(binary_col) -> np.ndarray:
    """Series/array of 8-byte binary values → uint64 keys (big-endian)."""
    joined = b"".join(binary_col)
    out = np.frombuffer(joined, dtype=">u8").astype(np.uint64)
    if out.size != len(binary_col):
        raise ValueError("expected exactly 8 bytes per value")
    return out


def keys_from_hex(hex_col) -> np.ndarray:
    """Series/array of >=16-char hex digests → uint64 keys from the
    first 16 hex chars (== first 8 digest bytes, big-endian)."""
    joined = bytes.fromhex("".join(h[:16] for h in hex_col))
    return np.frombuffer(joined, dtype=">u8").astype(np.uint64)


def keys_from_arrow(arr) -> np.ndarray:
    """pyarrow (binary or int64) Array → uint64 keys, zero-copy where
    the layout allows (fixed 8-byte values, contiguous data buffer).
    Null entries map to key 0 — callers that must distinguish nulls
    use :func:`keys_and_valid_from_arrow` or :func:`drop_null_keys`."""
    import pyarrow as pa
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count:
        fill = 0 if pa.types.is_integer(arr.type) else b"\x00" * 8
        arr = arr.fill_null(fill)
    if pa.types.is_integer(arr.type):
        return arr.to_numpy(zero_copy_only=False).astype(np.int64) \
            .view(np.uint64)
    off = arr.offset
    n = len(arr)
    offsets = np.frombuffer(arr.buffers()[1], dtype=np.int32,
                            count=n + 1, offset=4 * off)
    start = int(offsets[0])
    if (offsets[-1] - start) == 8 * n and \
            (np.diff(offsets) == 8).all():
        data = np.frombuffer(arr.buffers()[2], dtype=np.uint8,
                             count=8 * n, offset=start)
        return data.view(">u8").astype(np.uint64)
    # ragged fallback (shouldn't happen for sha-derived keys)
    vals = [v.as_py() for v in arr]
    return np.array([int.from_bytes((v or b"")[:8].ljust(8, b"\x00"), "big")
                     for v in vals], dtype=np.uint64)


def keys_and_valid_from_arrow(arr) -> tuple[np.ndarray, np.ndarray]:
    """Like :func:`keys_from_arrow` plus a validity mask (null → False)
    so probes can report non-membership for null keys instead of
    crashing or false-positiving on key 0."""
    import pyarrow as pa
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    valid = ~np.asarray(arr.is_null())
    return keys_from_arrow(arr), valid


def drop_null_keys(data, key=0):
    """Arrow RecordBatch or Table minus the rows whose ``key`` column
    is null (returned as is when it has none). The Python build routes
    drop null keys here: a null is not a member, its key-0 surrogate
    (:func:`keys_from_arrow`) would set a spurious bit, and a JVM
    ``IS NOT NULL`` filter is pushed below the key projection, which
    then derives every key twice."""
    col = data.column(key)
    if not col.null_count:
        return data
    import pyarrow.compute as pc
    return data.filter(pc.is_valid(col))


def sha256_key(content: str | bytes) -> int:
    """Single-value oracle: uint64 key of one content string."""
    if isinstance(content, str):
        content = content.encode("utf-8")
    return int.from_bytes(hashlib.sha256(content).digest()[:8], "big")


def sha256_keys(contents) -> np.ndarray:
    """Batch local oracle (driver-side tests only — the distributed
    path uses JVM sha2)."""
    return np.array([sha256_key(c) for c in contents], dtype=np.uint64)


def to_signed(keys: np.ndarray) -> np.ndarray:
    """uint64 keys → int64 view (two's complement) for LongType columns."""
    return keys.view(np.int64) if keys.dtype == np.uint64 else \
        keys.astype(np.uint64).view(np.int64)


def to_unsigned(signed: np.ndarray) -> np.ndarray:
    """int64 LongType column → uint64 keys."""
    arr = np.asarray(signed, dtype=np.int64)
    return arr.view(np.uint64)


def splitmix64(n: int, seed: int = 0x9E3779B97F4A7C15) -> np.ndarray:
    """Deterministic pseudorandom uint64 test keys (SplitMix64 stream).

    Mirrors the reference tests' seeded-PRNG key fixtures
    (``java/.../FilterTest.java:17``, ``c/extras/test/static.c:22-24``)
    without copying their generators.
    """
    i = np.arange(1, n + 1, dtype=np.uint64)
    z = np.uint64(seed) + i * np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


# --- Spark xxhash64 replica (forest shard routing) --------------------
# Spark's F.xxhash64 is XXH64 with seed 42. For an 8-byte input the
# algorithm reduces to hashLong: no stripe body, one tail word. The
# forest build recomputes pmod(xxhash64(key), S) in numpy so the
# routing column never crosses the Arrow boundary (shipping it would
# double the build stage's row width — Arrow IPC dominates thin-row
# Python stages). Verified bit-exact against F.xxhash64 on both long
# and 8-byte-binary columns in tests/test_forest_onepass.py.
_XX_P1 = np.uint64(0x9E3779B185EBCA87)
_XX_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_XX_P3 = np.uint64(0x165667B19E3779F9)
_XX_P4 = np.uint64(0x85EBCA77C2B2AE63)
_XX_P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl64(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def xxhash64_long(v: np.ndarray, seed: int = 42) -> np.ndarray:
    """XXH64 of one 64-bit word — Spark's ``xxhash64(long_col)``.
    Input uint64 bit pattern; returns uint64 hash bits."""
    v = v.astype(np.uint64, copy=False)
    h = np.uint64(seed) * np.uint64(1) + _XX_P5 + np.uint64(8)
    k1 = _rotl64(v * _XX_P2, 31) * _XX_P1
    h = h ^ k1
    h = _rotl64(h, 27) * _XX_P1 + _XX_P4
    h ^= h >> np.uint64(33)
    h *= _XX_P2
    h ^= h >> np.uint64(29)
    h *= _XX_P3
    h ^= h >> np.uint64(32)
    return h


def spark_xxhash64_keys(keys: np.ndarray, binary: bool) -> np.ndarray:
    """xxhash64 bits Spark computes for a key column holding these
    uint64 keys. Long columns hash the value directly; 8-byte binary
    columns (big-endian uint64, keys_from_hash_bytes) are read as ONE
    little-endian tail word by XXH64 — i.e. the byte-swapped value."""
    k = keys.astype(np.uint64, copy=False)
    return xxhash64_long(k.byteswap() if binary else k)


def shard_of_keys(keys: np.ndarray, n_shards: int,
                  binary: bool) -> np.ndarray:
    """numpy replica of the forest routing column
    ``pmod(xxhash64(key), n_shards)`` (spark/forest.py with_shard)."""
    h = spark_xxhash64_keys(keys, binary).view(np.int64)
    return h % np.int64(n_shards)  # numpy % = sign of divisor = pmod
