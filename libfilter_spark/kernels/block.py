"""Split-block Bloom filter — vectorized numpy batch kernels.

Behavior-equivalent to the reference's scalar/AVX2 layout (see
``/root/reference/c/include/filter/block.h:97-152`` and
``c/lib/block.c:20-66``): 256-bit buckets of 8 little-endian uint32
words; bucket index = multiply-high range reduction of the *upper* 32
hash bits; per-word bit = top-5 bits of (lower 32 hash bits × odd seed).

Where the reference processes one key per call (one SIMD vector per
key), these kernels process a whole Arrow batch of keys per call —
the outer product against the 8 seeds is the vectorization axis.

The byte layout matches the reference's scalar/AVX2/Java layout (the
NEON build uses a different seed lane order, ``block.h:214-215`` — we
standardize on scalar/AVX2, which is also what Java serializes).

State = one C-contiguous ``np.uint32`` array of length 8*num_buckets.
Union/intersection of equal-sized filters are element-wise OR/AND —
upstream acknowledges these as a TODO (``c/lib/block.c:68``); here they
are the UDAF merge primitives.
"""

from __future__ import annotations

import numpy as np

from .sizing import BUCKET_BYTES, block_bytes_needed

# The 8 odd 32-bit multipliers, in the scalar/AVX2/Java lane order:
# the four 64-bit constants of the reference's seed table
# (``block.h:87-89``) split low-word-first.
SEEDS = np.array(
    [0x44974D91, 0x47B6137B, 0xA2B7289D, 0x8824AD5B,
     0x2DF1424B, 0x705495C7, 0x5C6BFB31, 0x9EFC4947],
    dtype=np.uint32,
)

WORDS_PER_BUCKET = 8
# kernel block size: both entry points stream several (n, 8)-u32-sized
# temporaries (mask matrix, gathered buckets, compares); 128k lanes
# keeps each ≈ 4 MiB so the working set stays cache-resident instead
# of round-tripping DRAM once per op.  Measured at 5M keys: probe
# 105 → 63 ns/key, insert 122 → 79 (C scalar reference: 86.5 / 28.6).
_KERNEL_BLOCK = 131072


def empty(num_buckets: int) -> np.ndarray:
    """Zeroed filter state with ``num_buckets`` 32-byte buckets (>=1)."""
    num_buckets = max(1, int(num_buckets))
    return np.zeros(num_buckets * WORDS_PER_BUCKET, dtype=np.uint32)


def num_buckets_for(heap_space: int) -> int:
    """Bytes → bucket count, minimum one bucket (init semantics of
    ``c/lib/block.c:55-66``)."""
    return max(1, int(heap_space) // BUCKET_BYTES)


def empty_for_ndv_fpp(ndv: float, fpp: float) -> np.ndarray:
    return empty(num_buckets_for(block_bytes_needed(ndv, fpp)))


def bucket_index(hashes: np.ndarray, num_buckets: int) -> np.ndarray:
    """Multiply-high range reduction on the upper 32 hash bits:
    ``((h >> 32) * nb) >> 32`` (``block.h:97-101``)."""
    h = hashes.astype(np.uint64, copy=False)
    return ((h >> np.uint64(32)) * np.uint64(num_buckets)) >> np.uint64(32)


def make_masks(hashes: np.ndarray) -> np.ndarray:
    """(n,) uint64 → (n, 8) uint32 lane masks.

    Lane i sets bit ``((u32)h * SEEDS[i]) >> 27`` (top-5 bits of a
    wrapping 32-bit multiply, ``block.h:107-125``)."""
    h32 = hashes.astype(np.uint64, copy=False).astype(np.uint32)
    prods = h32[:, None] * SEEDS[None, :]          # wrapping u32 multiply
    shifts = prods >> np.uint32(27)                # top 5 bits → 0..31
    return np.uint32(1) << shifts


def add_hashes(state: np.ndarray, hashes: np.ndarray) -> None:
    """Scatter-OR a batch of uint64 hashes into the filter, in place.

    Semantics of ``libfilter_block_scalar_add_hash`` (``block.h:127-138``)
    over a whole batch. Duplicate bucket indices within the batch are
    handled by the unbuffered ``bitwise_or.at`` scatter.
    """
    if len(hashes) == 0:
        return
    if len(hashes) > _KERNEL_BLOCK:
        for i in range(0, len(hashes), _KERNEL_BLOCK):
            add_hashes(state, hashes[i:i + _KERNEL_BLOCK])
        return
    num_buckets = state.size // WORDS_PER_BUCKET
    scatter(state, bucket_index(hashes, num_buckets).astype(np.int64),
            hashes)


def scatter(state: np.ndarray, idx: np.ndarray,
            hashes: np.ndarray) -> None:
    """OR the lane masks of ``hashes`` into buckets ``idx`` of
    ``state``, in place: the insert once the bucket indices are known
    (``add_hashes`` on a whole filter, ``BlockSliceFilter.add_hashes``
    on a bucket range of one)."""
    masks = make_masks(hashes)
    # fold the 8 u32 lanes into 4 u64 lanes: same bytes (both the mask
    # matrix and the state are viewed the same way in memory), half the
    # scattered elements. Measured 134 vs 325 ns/key at 5M keys against
    # the previous eight u32 1-D scatters; sort+reduceat loses to the
    # argsort cost.
    m64 = np.ascontiguousarray(masks).view(np.uint64)       # (n, 4)
    b64 = state.view(np.uint64).reshape(-1, 4)
    for lane in range(4):
        np.bitwise_or.at(b64[:, lane], idx, m64[:, lane])


def find_hashes(state: np.ndarray, hashes: np.ndarray) -> np.ndarray:
    """Batch membership probe → bool array. All 8 lane bits must be
    present (``block.h:140-152``)."""
    if len(hashes) == 0:
        return np.zeros(0, dtype=bool)
    if len(hashes) > _KERNEL_BLOCK:
        out = np.empty(len(hashes), dtype=bool)
        for i in range(0, len(hashes), _KERNEL_BLOCK):
            out[i:i + _KERNEL_BLOCK] = \
                find_hashes(state, hashes[i:i + _KERNEL_BLOCK])
        return out
    num_buckets = state.size // WORDS_PER_BUCKET
    idx = bucket_index(hashes, num_buckets).astype(np.int64)
    masks = make_masks(hashes)
    # u64-lane view (see add_hashes) + in-place AND on the gathered
    # copy: 122 vs 180 ns/key at 5M keys
    m64 = np.ascontiguousarray(masks).view(np.uint64)       # (n, 4)
    b64 = state.view(np.uint64).reshape(-1, 4)
    g = b64[idx]
    np.bitwise_and(g, m64, out=g)
    return (g == m64).all(axis=1)


# Java interop: 32-bit hash entry points (BlockFilter.java:236-260).
# A 32-bit hash re-hashes internally to 64 bits so bucket index (upper
# half) and lane masks (lower half) stay independent.
REHASH_32 = np.uint64(0xD1012A3A7A1F4A8A)


def rehash_32(hashes32: np.ndarray) -> np.ndarray:
    """int32 → the uint64 the Java binding derives:
    ``hash64 = (((REHASH_32 * (long) h) >>> 32) << 32) | (long) h``.
    Both promotions SIGN-EXTEND (Java int→long), including the final
    OR — so negative inputs force the upper 32 bits to all-ones. That
    quirk is part of the wire contract (a value added via AddHash32 in
    Java must be found here and vice versa), so it is replicated
    verbatim, not "fixed"."""
    h = np.asarray(hashes32, dtype=np.int32)
    sext = h.astype(np.int64).view(np.uint64)
    with np.errstate(over="ignore"):
        top = (REHASH_32 * sext) >> np.uint64(32)
    return (top << np.uint64(32)) | sext


def add_hashes_32(state: np.ndarray, hashes32: np.ndarray) -> None:
    add_hashes(state, rehash_32(hashes32))


def find_hashes_32(state: np.ndarray, hashes32: np.ndarray) -> np.ndarray:
    return find_hashes(state, rehash_32(hashes32))


def deserialize_from_ints(ints) -> np.ndarray:
    """Java/Go interop entry (``c/lib/block.c:47-53``, proven
    cross-language by the C++↔Java JavaSerDe test,
    ``cpp/extras/test/block.cpp:263-306``): an int32[] payload (Java
    ``getPayload()``) reinterpreted two's-complement as the uint32 word
    image. Length must be a positive multiple of 8 (whole buckets)."""
    arr = np.asarray(ints, dtype=np.int32)
    if arr.size == 0 or arr.size % WORDS_PER_BUCKET != 0:
        raise ValueError(f"int payload length {arr.size} not a positive "
                         f"multiple of {WORDS_PER_BUCKET}")
    return arr.astype("<i4").view("<u4").astype(np.uint32).copy()


def to_ints(state: np.ndarray) -> np.ndarray:
    """Inverse of deserialize_from_ints: the Java-compatible int32[]
    payload view of the filter."""
    return state.astype("<u4", copy=False).view("<i4").astype(np.int32)


def union(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """OR-merge of equal-sized block filters — commutative, associative,
    idempotent; the UDAF merge for the block family (upstream TODO at
    ``c/lib/block.c:68``)."""
    if a.shape != b.shape:
        raise ValueError(
            f"block union requires equal sizes, got {a.shape} vs {b.shape}")
    return np.bitwise_or(a, b)


def intersection(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    if a.shape != b.shape:
        raise ValueError(
            f"block intersection requires equal sizes, got {a.shape} vs {b.shape}")
    return np.bitwise_and(a, b)


def serialize(state: np.ndarray) -> bytes:
    """Little-endian uint32 byte image (``c/lib/block.c:20-29``) —
    portable across runs/languages, byte-identical to the reference's
    scalar/AVX2/Java layout."""
    return state.astype("<u4", copy=False).tobytes()


def deserialize(blob: bytes) -> np.ndarray:
    if len(blob) % BUCKET_BYTES != 0 or len(blob) == 0:
        raise ValueError(f"blob length {len(blob)} not a positive multiple "
                         f"of {BUCKET_BYTES}")
    return np.frombuffer(blob, dtype="<u4").astype(np.uint32).copy()


def size_in_bytes(state: np.ndarray) -> int:
    return state.size * 4
