"""BlockFilter — fixed-size split-block Bloom filter.

API parity with the reference's block family
(``/root/reference/c/include/filter/block.h:30-68``, Python binding
``python/block.py``), plus union/intersection (upstream TODO,
``c/lib/block.c:68``) which serve as the mergeable-UDAF primitives.
Serialized bytes are little-endian uint32 and byte-compatible with the
reference's scalar/AVX2/Java layout (validated against the compiled C).
"""

from __future__ import annotations

import numpy as np

from ..kernels import block as K
from ..kernels import sizing


class BlockFilter:
    __slots__ = ("state",)

    FAMILY = "block"

    def __init__(self, state: np.ndarray):
        self.state = state

    # --- constructors -------------------------------------------------
    @classmethod
    def create_with_bytes(cls, heap_space: int) -> "BlockFilter":
        return cls(K.empty(K.num_buckets_for(heap_space)))

    @classmethod
    def create_with_ndv_fpp(cls, ndv: float, fpp: float) -> "BlockFilter":
        return cls(K.empty_for_ndv_fpp(ndv, fpp))

    # --- sizing model -------------------------------------------------
    fpp = staticmethod(sizing.block_fpp)
    bytes_needed = staticmethod(sizing.block_bytes_needed)
    capacity = staticmethod(sizing.block_capacity)

    # --- mutation / probe ----------------------------------------------
    def add_hash(self, hash_: int) -> None:
        K.add_hashes(self.state, np.array([hash_], dtype=np.uint64))

    def add_hashes(self, hashes: np.ndarray) -> None:
        K.add_hashes(self.state, hashes)

    def find_hash(self, hash_: int) -> bool:
        return bool(K.find_hashes(self.state,
                                  np.array([hash_], dtype=np.uint64))[0])

    def find_hashes(self, hashes: np.ndarray) -> np.ndarray:
        return K.find_hashes(self.state, hashes)

    # --- Java-interop 32-bit entry points (BlockFilter.java:236-260) ----
    # Do not mix: a value added via add_hash_32 is NOT found by
    # find_hash(h) unless h is the rehashed 64-bit value
    # (java/.../Filter.java:6-33 contract).
    def add_hash_32(self, hash32: int) -> None:
        K.add_hashes_32(self.state, np.array([hash32], dtype=np.int32))

    def add_hashes_32(self, hashes32: np.ndarray) -> None:
        K.add_hashes_32(self.state, hashes32)

    def find_hash_32(self, hash32: int) -> bool:
        return bool(K.find_hashes_32(
            self.state, np.array([hash32], dtype=np.int32))[0])

    def find_hashes_32(self, hashes32: np.ndarray) -> np.ndarray:
        return K.find_hashes_32(self.state, hashes32)

    # --- merge ----------------------------------------------------------
    def union(self, other: "BlockFilter") -> "BlockFilter":
        return BlockFilter(K.union(self.state, other.state))

    def intersection(self, other: "BlockFilter") -> "BlockFilter":
        return BlockFilter(K.intersection(self.state, other.state))

    def union_inplace(self, other: "BlockFilter") -> None:
        np.bitwise_or(self.state, other.state, out=self.state)

    # --- serde / lifecycle ----------------------------------------------
    def serialize(self) -> bytes:
        return K.serialize(self.state)

    @classmethod
    def deserialize(cls, blob: bytes) -> "BlockFilter":
        return cls(K.deserialize(blob))

    @classmethod
    def deserialize_from_ints(cls, ints) -> "BlockFilter":
        """int32[] payload (Java getPayload() / Go) → filter
        (c/lib/block.c:47-53)."""
        return cls(K.deserialize_from_ints(ints))

    def to_ints(self) -> np.ndarray:
        """Java-compatible int32[] payload (getPayload())."""
        return K.to_ints(self.state)

    def size_in_bytes(self) -> int:
        return K.size_in_bytes(self.state)

    def clone(self) -> "BlockFilter":
        return BlockFilter(self.state.copy())

    def __eq__(self, other) -> bool:
        return isinstance(other, BlockFilter) and \
            np.array_equal(self.state, other.state)

    def __hash__(self):  # pragma: no cover
        return hash(self.serialize())

    # pythonic sugar mirroring the reference's python binding
    def __iadd__(self, hash_: int) -> "BlockFilter":
        self.add_hash(hash_)
        return self

    def __contains__(self, hash_: int) -> bool:
        return self.find_hash(hash_)

    def __len__(self) -> int:
        return self.size_in_bytes()


class BlockSliceFilter:
    """A contiguous bucket range [lo, lo+len) of a GLOBAL block filter.

    The scale path for huge filters: instead of assembling a multi-GB
    blob on the driver, the sharded build leaves one slice row per
    shard distributed (spark/sharded.py), and the probe routes each key
    to its slice by the same bucket formula. Membership semantics are
    identical to probing the assembled filter: the bucket index is
    computed against the GLOBAL ``num_buckets`` (``block.h:97-101``)
    and only then rebased into the slice, so the bit positions match
    the reference layout bit-for-bit. Keys whose bucket falls outside
    the slice (mis-routed) are reported absent rather than crashing.
    """

    __slots__ = ("num_buckets", "lo", "state")

    FAMILY = "block_slice"
    _HEADER = 16  # <u8 global num_buckets, <u8 lo bucket

    def __init__(self, num_buckets: int, lo: int, state: np.ndarray):
        self.num_buckets = int(num_buckets)
        self.lo = int(lo)
        self.state = state

    def find_hashes(self, hashes: np.ndarray) -> np.ndarray:
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        idx = K.bucket_index(hashes, self.num_buckets).astype(np.int64) \
            - self.lo
        n_local = self.state.size // K.WORDS_PER_BUCKET
        ok = (idx >= 0) & (idx < n_local)
        out = np.zeros(len(hashes), dtype=bool)
        if not ok.any():
            return out
        masks = K.make_masks(hashes[ok])
        m64 = np.ascontiguousarray(masks).view(np.uint64)
        b64 = self.state.view(np.uint64).reshape(-1, 4)
        g = b64[idx[ok]]
        np.bitwise_and(g, m64, out=g)
        out[ok] = (g == m64).all(axis=1)
        return out

    def find_hash(self, hash_: int) -> bool:
        return bool(self.find_hashes(
            np.array([hash_], dtype=np.uint64))[0])

    def serialize(self) -> bytes:
        head = np.array([self.num_buckets, self.lo],
                        dtype="<u8").tobytes()
        return head + self.state.astype("<u4", copy=False).tobytes()

    @classmethod
    def deserialize(cls, blob: bytes) -> "BlockSliceFilter":
        if len(blob) < cls._HEADER or \
                (len(blob) - cls._HEADER) % 32 != 0:
            raise ValueError(f"bad block_slice blob length {len(blob)}")
        nb, lo = np.frombuffer(blob[:cls._HEADER], dtype="<u8")
        state = np.frombuffer(blob[cls._HEADER:], dtype="<u4") \
            .astype(np.uint32).copy()
        return cls(int(nb), int(lo), state)

    def size_in_bytes(self) -> int:
        return self._HEADER + self.state.size * 4
