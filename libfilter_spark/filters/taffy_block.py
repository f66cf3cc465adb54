"""TaffyBlockFilter — growable stack of split-block Bloom filters.

Behavior of the reference's C taffy-block family
(``/root/reference/c/lib/taffy-block.c:9-32``,
``c/include/filter/taffy-block.h:35-48``): level 0 sized for
``max(ndv, capacity(1 byte))`` at ``fpp * 6/3.1415²``; level x sized
``bytes_needed(ndv << x, fpp/(x+1)² * 6/3.1415²)`` (Σ 1/(x+1)² = π²/6
keeps total fpp ≤ fpp — paper ``doc/taffy/taffy.tex:508``); inserts go
to the newest level only, guarded by a ttl countdown; a probe ORs all
levels. We follow the C constants (48 levels, 6/3.1415² including the
reference's 4-digit π), not the Java variant.

Our extension (upstream acknowledges union as a TODO,
``go/taffy-block.go:3``): two TaffyBlock filters built with the same
(ndv₀, fpp) have identical level-size schedules, so merge = per-level
OR up to the max cursor; the merged ttl is the level capacity minus the
total keys inserted into the newest level by either side — commutative,
associative, byte-identical under any merge order.

Level sizes are computed lazily (one ``bytes_needed`` per upsize) and
cached process-wide.
"""

from __future__ import annotations

import struct
from functools import lru_cache

import numpy as np

from ..kernels import block as K
from ..kernels import sizing

_SUM = 6.0 / (3.1415 ** 2)  # the reference's 4-digit-pi constant
MAX_LEVELS = 48
_MAGIC = b"TBF1"


@lru_cache(maxsize=4096)
def _level0_ndv(ndv: int, fpp: float) -> int:
    ndv2 = sizing.block_capacity(1, fpp * _SUM)
    return max(int(ndv), ndv2)


@lru_cache(maxsize=4096)
def _level_bytes(ndv0: int, fpp: float, level: int) -> int:
    return sizing.block_bytes_needed(ndv0 << level,
                                     fpp / ((level + 1) ** 2) * _SUM)


class TaffyBlockFilter:
    __slots__ = ("ndv0", "fpp_goal", "levels", "ttl", "last_ndv")

    FAMILY = "taffy_block"

    def __init__(self, ndv0: int, fpp_goal: float, levels: list[np.ndarray],
                 ttl: int, last_ndv: int):
        self.ndv0 = ndv0
        self.fpp_goal = fpp_goal
        self.levels = levels
        self.ttl = ttl
        self.last_ndv = last_ndv

    # --- constructors -------------------------------------------------
    @classmethod
    def create(cls, ndv: int, fpp: float) -> "TaffyBlockFilter":
        ndv0 = _level0_ndv(int(ndv), fpp)
        lvl0 = K.empty(K.num_buckets_for(_level_bytes(ndv0, fpp, 0)))
        return cls(ndv0, fpp, [lvl0], ttl=ndv0, last_ndv=ndv0)

    # libfilter-parity alias
    create_with_ndv_fpp = create

    @property
    def cursor(self) -> int:
        return len(self.levels)

    # --- growth ---------------------------------------------------------
    def _upsize(self) -> None:
        if self.cursor >= MAX_LEVELS:
            raise OverflowError("taffy block filter exceeded 48 levels")
        self.last_ndv *= 2
        nb = K.num_buckets_for(_level_bytes(self.ndv0, self.fpp_goal,
                                            self.cursor))
        self.levels.append(K.empty(nb))
        self.ttl = self.last_ndv

    # --- mutation / probe ----------------------------------------------
    def add_hash(self, hash_: int) -> None:
        self.add_hashes(np.array([hash_], dtype=np.uint64))

    def add_hashes(self, hashes: np.ndarray) -> None:
        """Batch insert: split the batch at ttl boundaries, scatter-OR
        each slice into its level (the batched analogue of
        ``taffy-block.h:35-40``)."""
        pos, n = 0, len(hashes)
        while pos < n:
            if self.ttl <= 0:
                self._upsize()
            take = min(self.ttl, n - pos)
            K.add_hashes(self.levels[-1], hashes[pos:pos + take])
            self.ttl -= take
            pos += take

    def find_hash(self, hash_: int) -> bool:
        return bool(self.find_hashes(np.array([hash_], dtype=np.uint64))[0])

    def find_hashes(self, hashes: np.ndarray) -> np.ndarray:
        """Probe levels newest-first with found keys compressed out of
        the remaining levels' input — the batch analogue of the C
        find's per-key level short-circuit (``taffy-block.h:42-48``).
        Newest-first because each level holds the keys of one doubling
        epoch, so the last level holds ~half of all present keys:
        present keys average ~2 level probes regardless of level
        count; absent keys still scan every level, as in C."""
        n = len(hashes)
        out = np.zeros(n, dtype=bool)
        idx = None              # None ⇒ every lane still pending
        hs = hashes
        for lvl in reversed(self.levels):
            found = K.find_hashes(lvl, hs)
            if found.any():
                out[found if idx is None else idx[found]] = True
                keep = ~found
                idx = np.flatnonzero(keep) if idx is None else idx[keep]
                hs = hs[keep]
                if not len(hs):
                    break
        return out

    # --- Java-interop 32-bit entries (TaffyBlockFilter.java:121-134):
    # per-level AddHash32/FindHash32 rehash identically, so routing the
    # rehashed 64-bit value through the normal path is equivalent.
    def add_hash_32(self, hash32: int) -> None:
        self.add_hashes(K.rehash_32(np.array([hash32], dtype=np.int32)))

    def add_hashes_32(self, hashes32: np.ndarray) -> None:
        self.add_hashes(K.rehash_32(hashes32))

    def find_hash_32(self, hash32: int) -> bool:
        return bool(self.find_hashes_32(
            np.array([hash32], dtype=np.int32))[0])

    def find_hashes_32(self, hashes32: np.ndarray) -> np.ndarray:
        return self.find_hashes(K.rehash_32(hashes32))

    # --- merge ----------------------------------------------------------
    def union(self, other: "TaffyBlockFilter") -> "TaffyBlockFilter":
        if (self.ndv0, self.fpp_goal) != (other.ndv0, other.fpp_goal):
            raise ValueError("taffy block union requires identical "
                             "(ndv0, fpp) level schedules")
        a, b = (self, other) if self.cursor >= other.cursor else (other, self)
        levels = [lvl.copy() for lvl in a.levels]
        for i, lvl in enumerate(b.levels):
            np.bitwise_or(levels[i], lvl, out=levels[i])
        last_ndv = a.ndv0 << (a.cursor - 1)
        # keys inserted into the merged newest level by either side
        inserted = sum(f.last_ndv - f.ttl
                       for f in (self, other) if f.cursor == a.cursor)
        return TaffyBlockFilter(a.ndv0, a.fpp_goal, levels,
                                ttl=max(0, last_ndv - inserted),
                                last_ndv=last_ndv)

    # --- serde / lifecycle ----------------------------------------------
    def serialize(self) -> bytes:
        head = _MAGIC + struct.pack("<QdIqQ", self.ndv0, self.fpp_goal,
                                    self.cursor, self.ttl, self.last_ndv)
        parts = [head]
        for lvl in self.levels:
            blob = K.serialize(lvl)
            parts.append(struct.pack("<Q", len(blob)))
            parts.append(blob)
        return b"".join(parts)

    @classmethod
    def deserialize(cls, blob: bytes) -> "TaffyBlockFilter":
        if blob[:4] != _MAGIC:
            raise ValueError("not a taffy block filter blob")
        ndv0, fpp, cursor, ttl, last_ndv = struct.unpack_from("<QdIqQ", blob, 4)
        off = 4 + struct.calcsize("<QdIqQ")
        levels = []
        for _ in range(cursor):
            (ln,) = struct.unpack_from("<Q", blob, off)
            off += 8
            levels.append(K.deserialize(blob[off:off + ln]))
            off += ln
        return cls(ndv0, fpp, levels, ttl, last_ndv)

    @classmethod
    def deserialize_view(cls, buf) -> "TaffyBlockFilter":
        """Zero-copy probe-only deserialization: levels are read-only
        uint32 VIEWS into ``buf`` (bytes, memoryview or numpy buffer).
        The assembled forest probes read each shard's levels this way
        and copy them once, into their concatenated matrices. Level
        offsets in the serialized layout are 8-aligned by construction
        (40 B header, 8 B length prefixes, 32 B-multiple level blobs),
        so the kernel's uint64 lane views apply directly. Do NOT mutate (add_hashes) a viewed
        filter — probe only."""
        mv = memoryview(buf)
        if bytes(mv[:4]) != _MAGIC:
            raise ValueError("not a taffy block filter blob")
        ndv0, fpp, cursor, ttl, last_ndv = struct.unpack_from(
            "<QdIqQ", mv, 4)
        off = 4 + struct.calcsize("<QdIqQ")
        levels = []
        for _ in range(cursor):
            (ln,) = struct.unpack_from("<Q", mv, off)
            off += 8
            levels.append(np.frombuffer(mv, dtype="<u4", count=ln // 4,
                                        offset=off))
            off += ln
        return cls(int(ndv0), float(fpp), levels, int(ttl),
                   int(last_ndv))

    def size_in_bytes(self) -> int:
        return sum(K.size_in_bytes(lvl) for lvl in self.levels)

    def clone(self) -> "TaffyBlockFilter":
        return TaffyBlockFilter(self.ndv0, self.fpp_goal,
                                [lvl.copy() for lvl in self.levels],
                                self.ttl, self.last_ndv)

    def __eq__(self, other) -> bool:
        return (isinstance(other, TaffyBlockFilter)
                and self.ndv0 == other.ndv0
                and self.fpp_goal == other.fpp_goal
                and self.ttl == other.ttl
                and self.cursor == other.cursor
                and all(np.array_equal(a, b)
                        for a, b in zip(self.levels, other.levels)))

    def __hash__(self):  # pragma: no cover
        return hash(self.serialize())

    def __iadd__(self, hash_: int) -> "TaffyBlockFilter":
        self.add_hash(hash_)
        return self

    def __contains__(self, hash_: int) -> bool:
        return self.find_hash(hash_)
