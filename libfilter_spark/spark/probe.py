"""Distributed membership probe — the Bloom-join pattern.

The merged filters (KBs–MBs per group) are broadcast to every task;
a vectorized Arrow scalar UDF adds the membership column (the batched
analogue of ``libfilter_block_find_hash``, ``block.h:140-152``). A
probe row only *may* be present (false positives); the semi-join
helper follows the probe with an exact join against the (pre-pruned)
build side, so query answers stay exact while the filter discards the
vast majority of rows before any row shuffle — at scale this is what
turns a 100 TB shuffle into a few-GB shuffle.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import warnings

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..filters import FAMILIES
from ..filters.block import BlockFilter, BlockSliceFilter
from ..kernels import block as K

# one lock guards every insert into the two caches below: the
# thread-pooled __spark_entry__ queries probe from several driver
# threads at once (fpp_curve_conformance runs five build+probe legs),
# which could otherwise race the same pop(next(iter(d))) eviction
# (KeyError) or double-broadcast one content token
_CACHE_LOCK = threading.Lock()

# executor-local cache: broadcast token → {group: filter object}.
# Keyed by an explicit token shipped inside the broadcast value (NOT
# id(bc): CPython reuses ids after GC, which poisons the cache).
_FILTER_CACHE: dict[str, dict] = {}
_FILTER_CACHE_MAX = 16

# driver-side memo with two kinds of entry:
# - ("bc", appId, content token) → the live Broadcast handle, so
#   repeated probes of an unchanged filter map skip the broadcast dump
#   (eviction only drops our reference — Spark's ContextCleaner
#   reclaims unreferenced broadcasts);
# - (appId, "groupfp" | "shardfp", count, hash, bytes) → what a probe
#   of that CACHED filters frame broadcast, so a repeat probe (e.g. the
#   semi-join's, or an iterative pipeline's per-round re-probe) skips
#   the blob collect, the token hash and the dump (see _fingerprint).
_MEMO: dict[tuple, object] = {}
_MEMO_MAX = 24  # a cached-frame probe records two entries


def _broadcast_max(raw: str) -> int:
    """``LIBFILTER_BROADCAST_MAX`` as a byte count. Anything but an
    integer ≥ 0 raises: a negative budget would silently send every
    ``auto`` probe to the shuffle route."""
    if not raw.strip().isdecimal():
        raise ValueError(f"LIBFILTER_BROADCAST_MAX={raw!r}: expected a "
                         "byte count, an integer >= 0")
    return int(raw)


# broadcast-probe budget: past this many bytes of collected filter
# blobs the driver hop (collect + sc.broadcast) becomes the chokepoint
# (10^5 groups x MB blobs), and the probe takes the shuffle route —
# filters stay distributed, and probe rows shuffle to their group's
# filter row (_probe_via_shuffle).
_BROADCAST_MAX = _broadcast_max(
    os.environ.get("LIBFILTER_BROADCAST_MAX", str(256 << 20)))


def _filter_map(rows: list, group_cols: list[str]) -> dict:
    keys = [tuple(r[c] for c in group_cols) for r in rows]
    fmap = {k: (r["family"], bytes(r["filter"])) for k, r in zip(keys, rows)}
    if len(fmap) != len(rows):
        raise _duplicate_rows(group_cols, keys)
    return fmap


def _duplicate_rows(cols: list[str], keys: list) -> ValueError:
    """A filters frame holds one row per group (or shard). A map of
    its rows would keep only the last of two rows for one group and
    miss the other's keys, so every probe route rejects duplicates
    (``keys``: one ``cols`` tuple per row)."""
    from collections import Counter
    dups = sorted((k for k, n in Counter(keys).items() if n > 1), key=repr)
    where = "; ".join(", ".join(f"{c}={v!r}" for c, v in zip(cols, k))
                      for k in dups[:5]) or "the global filter"
    return ValueError(
        f"filters frame has more than one row for {where}: build once "
        "from the union of the inputs instead of unioning filter frames")


def _is_cached(df: DataFrame) -> bool:
    sl = df.storageLevel
    return sl.useMemory or sl.useDisk


def _collect_budgeted(filters_df: DataFrame, cols: list[str],
                      shards: bool = False) -> list | None:
    """auto-mode collect of ``cols`` + family + filter rows (None ⇒
    over the broadcast budget; the caller falls back to the shuffle
    probe). The budget is enforced BEFORE the blobs land in driver
    memory wherever that is cheap — an over-budget frame is the exact
    case the budget exists for.

    - cached frames, or sessions with ≤64 shuffle partitions: plain
      collect() — one job — plus a post-collect budget check. The
      iterator costs ~90 ms of sequential mini-job scheduling PER
      PARTITION (measured 3.0 s vs 0.25 s collect on a cached
      32-partition frame, 4.6 s vs 1.5 s on the 5M-key shard probe
      bench), so the frames a small session produces must not pay it
      per probe. The signal is the session conf, which is FREE —
      rdd.getNumPartitions converts the plan to an RDD at ~230 ms per
      call. For an uncached SHARD frame a narrow first() job first
      estimates n_shards × first-blob bytes (shard sizing is uniform,
      so the estimate is tight).
    - bigger-session uncached frames — the shape a 10^5-group build on
      a real cluster has: budgeted toLocalIterator. Recompute dominates
      there (measured 1.16 s iterator vs 1.37 s collect on an uncached
      grouped build), upstream shuffle outputs are reused across the
      per-partition jobs, and driver memory stays bounded by the
      budget at ANY group count."""
    sel = filters_df.select(*cols, "family", "filter")
    cached = _is_cached(filters_df)
    if cached or int(filters_df.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", "200")) <= 64:
        if shards and not cached:
            head = filters_df.select(
                "params", F.length("filter").alias("l")).first()
            if head is not None and head["l"] * int(json.loads(
                    head["params"]).get("n_shards", 1)) > _BROADCAST_MAX:
                warnings.warn(
                    "estimated shard blobs exceed LIBFILTER_BROADCAST_MAX "
                    "(n_shards x first blob); falling back to the shuffle "
                    "probe before any blob reaches the driver — pass "
                    "via='shuffle' to skip the estimate job too")
                return None
        rows = sel.collect()
        if sum(len(r["filter"]) for r in rows) <= _BROADCAST_MAX:
            return rows
        warnings.warn(
            "collected filter blobs exceed LIBFILTER_BROADCAST_MAX; "
            "falling back to the shuffle probe — pass via='shuffle' "
            "(or cache less) to skip the driver collect entirely")
        return None
    rows, total = [], 0
    for r in sel.toLocalIterator(prefetchPartitions=True):
        total += len(r["filter"])
        if total > _BROADCAST_MAX:
            return None
        rows.append(r)
    return rows


def _all_same(sigs) -> bool:
    """Eligibility test: at least one signature, all equal, none None
    (None marks a blob that cannot join the assembled state)."""
    sigs = list(sigs)
    return bool(sigs) and sigs[0] is not None \
        and sigs.count(sigs[0]) == len(sigs)


def _tbf_levels(blob: bytes) -> list:
    """Level arrays of a taffy_block blob (zero-copy views)."""
    from ..filters.taffy_block import TaffyBlockFilter
    return TaffyBlockFilter.deserialize_view(
        np.frombuffer(blob, dtype=np.uint8)).levels


class _Assembled:
    """One assembled probe kind: the shards of a global shard frame
    concatenated into ONE probe state, so a batch runs hash → bucket
    index → gather → compare once for all shards (libfilter's ``find``
    on a fixed layout, ``block.h:140-152`` / ``taffy-cuckoo.h:236-273``)
    instead of the grouped route's per-batch segmentation and S tiny
    ``find_hashes`` calls.

    A kind declares the ``family`` of its shard rows and implements
    ``eligible`` (the driver's cheap header check), ``_build`` and
    ``find(keys, binary)`` — ``binary`` tells the forests' xxhash64
    routing replica how the key column was hashed. Every python worker
    builds its own object from the broadcast and keeps it in
    ``_FILTER_CACHE``; nothing is shared across processes."""

    family = ""

    @classmethod
    def assemble(cls, n_shards: int, blobs: dict):
        """{shard: blob} → probe object, or None when the shards are
        not eligible for this kind."""
        return cls._build(n_shards, blobs) \
            if cls.eligible(n_shards, blobs) else None


class _BlockSliceProbe(_Assembled, BlockFilter):
    """A ``bucket_range`` shard frame's disjoint slices written into
    the GLOBAL block filter (missing shards = zero ranges = no keys),
    byte-identical to assemble_block_shards' export: a plain global
    probe — no shard column, no per-batch groupby."""

    family = "block_slice"

    def __init__(self, n_shards: int, state: np.ndarray):
        BlockFilter.__init__(self, state)
        self.n_shards = n_shards

    @classmethod
    def eligible(cls, n_shards: int, blobs: dict) -> bool:
        # every slice names one global bucket count (header word 0)
        return _all_same(b[:8] for b in blobs.values())

    @classmethod
    def _build(cls, n_shards: int, blobs: dict):
        slices = [BlockSliceFilter.deserialize(b) for b in blobs.values()]
        w = K.WORDS_PER_BUCKET
        state = np.zeros(slices[0].num_buckets * w, dtype=np.uint32)
        for sl in slices:
            state[sl.lo * w:sl.lo * w + sl.state.size] = sl.state
        return cls(n_shards, state)

    def find(self, keys: np.ndarray, binary: bool) -> np.ndarray:
        return self.find_hashes(keys)


class _TbfForestProbe(_Assembled):
    """Assembled probe view of a taffy_block forest, single-level (the
    default build's shape: shards pre-sized with a margin that never
    upsized) or GROWN. Every shard of a forest is created with the
    same (per-shard ndv, fpp), so level ``i``'s bucket count is a
    function of the level index alone (the 6/π² sizing schedule,
    ``taffy-block.h:56-66``) — shards differ only in how many levels
    they have grown. Level ``i`` of every shard that has it therefore
    concatenates into ONE (R_i, 4) u64 matrix with a per-shard row
    OFFSET table (−1 ⇒ the shard has not grown that level / is absent
    from the frame). A batch probes the level matrices NEWEST-first
    with found lanes compressed out — the forest-wide analogue of
    ``TaffyBlockFilter.find_hashes``'s per-key level short-circuit
    (``taffy-block.h:42-48``): present keys average ~2 vectorized
    gathers total, absent keys L — instead of the grouped route's
    S·L tiny per-shard kernel calls per batch (the measured 100M-key
    growth-sweep gap: 3.5 Mk/s grouped vs 14 Mk/s for the same-shape
    assembled block probe). Lane masks are computed ONCE per batch and
    compressed along with the keys (they depend only on the key). A
    single-level forest is one full level: global bucket = shard × nb
    + level-0 bucket, one gather, no compaction."""

    family = "taffy_block"

    def __init__(self, n_shards: int, nbs: list[int],
                 offsets: np.ndarray, mats: list):
        self.n_shards = n_shards
        self.nbs = nbs            # bucket count of absolute level i
        self.offsets = offsets    # (L, S) int64 row offsets, -1 missing
        self.mats = mats          # list of (R_i, 4) u64 matrices
        # levels every shard has (all but the newest in a ragged
        # forest): shard s sits at rows s × nb, so they are probed
        # without the offset gather or per-lane validity indexing
        self.full = [bool((offsets[i] >= 0).all())
                     for i in range(len(mats))]

    @classmethod
    def eligible(cls, n_shards: int, blobs: dict) -> bool:
        # every absolute level index has one size across shards: true
        # for one forest's shards (the level schedule is a function of
        # the shared creation params), false for foreign mixes
        sizes = [tuple(lvl.size for lvl in _tbf_levels(b))
                 for b in blobs.values()]
        longest = max(sizes, key=len, default=())
        return bool(longest) and all(s == longest[:len(s)] for s in sizes)

    @classmethod
    def _build(cls, n_shards: int, blobs: dict):
        per = {s: _tbf_levels(b) for s, b in blobs.items()}
        n_levels = max(len(lv) for lv in per.values())
        nbs = []
        offsets = np.full((n_levels, n_shards), -1, dtype=np.int64)
        mats = []
        for i in range(n_levels):
            have = sorted(s for s, lv in per.items() if len(lv) > i)
            span = per[have[0]][i].size
            nbs.append(span // K.WORDS_PER_BUCKET)
            m = np.zeros(len(have) * span, dtype=np.uint32)
            for j, s in enumerate(have):
                m[j * span:(j + 1) * span] = per[s][i]
                offsets[i, s] = j * nbs[i]
            mats.append(m.view(np.uint64).reshape(-1, 4))
        return cls(n_shards, nbs, offsets, mats)

    def find(self, keys: np.ndarray, binary: bool) -> np.ndarray:
        from ..kernels.keys import shard_of_keys
        n = len(keys)
        if n == 0:
            return np.zeros(0, dtype=bool)
        out = np.zeros(n, dtype=bool)
        sh = shard_of_keys(keys, self.n_shards, binary=binary)
        hs = keys.astype(np.uint64, copy=False)
        m64 = np.ascontiguousarray(K.make_masks(hs)).view(np.uint64)
        idx = None                # None ⇒ every lane still pending
        for i in reversed(range(len(self.mats))):
            if self.full[i]:
                # every shard has level i (the common case: all but
                # the newest level or two) — probe all pending lanes
                # without the fancy-index copies
                vpos, vk, vm = None, hs, m64
                off = sh * np.int64(self.nbs[i])
            else:
                off = self.offsets[i][sh]
                vpos = np.flatnonzero(off >= 0)
                if vpos.size == 0:
                    continue
                vk, vm, off = hs[vpos], m64[vpos], off[vpos]
            bi = K.bucket_index(vk, self.nbs[i]).astype(np.int64) + off
            g = self.mats[i][bi]
            np.bitwise_and(g, vm, out=g)
            found = (g == vm).all(axis=1)
            if i == 0 and idx is None and vpos is None:
                return found      # the oldest level saw every lane
            if found.any():
                hit = np.flatnonzero(found) if vpos is None \
                    else vpos[found]
                out[hit if idx is None else idx[hit]] = True
                keep = np.ones(len(hs), dtype=bool)
                keep[hit] = False
                idx = np.flatnonzero(keep) if idx is None else idx[keep]
                hs, sh, m64 = hs[keep], sh[keep], m64[keep]
                if not len(hs):
                    break
        return out


def _tcf_sig(blob: bytes, magic: bytes, n_shards: int, spans) -> bytes | None:
    """Eligibility signature of a taffy-cuckoo blob: the header bytes at
    ``spans`` (log_side_size + entropy — a 65-byte compare, no bucket
    data touched), or None for a foreign blob or when stash codes,
    which pack (shard << (log + HEAD)) | path into one u64, would
    alias shards (unreachable for realistic forests)."""
    from ..filters.taffy_cuckoo import HEAD
    if blob[:4] != magic or len(blob) < spans[-1].stop \
            or (n_shards - 1).bit_length() + blob[4] + HEAD > 64:
        return None
    return b"".join(blob[s] for s in spans)


class _FrozenTcfForestProbe(_Assembled):
    """Assembled probe view of a FROZEN taffy-cuckoo forest (the
    read-only serving shape, ``taffy-cuckoo.h:236-273``). Frozen
    buckets are flat 4×10-bit SWAR words and every shard of a
    pre-sized forest shares one ``log_side_size`` and the default
    entropy table (``taffy-cuckoo.c:100-102``), so the per-side bucket
    arrays concatenate into ONE (S << log) u64 matrix: global bucket =
    shard << log | bucket, and — because the Feistel keys are shared —
    the permutation is computed ONCE per batch for ALL shards. This
    replaces the grouped route's per-batch argsort segmentation + S
    tiny ``find_hashes`` calls (its measured ceiling: ~2.5 Mk/s at
    2M keys / 64 shards) with two vectorized SWAR passes. Stash
    entries fold into one sorted shard-prefixed side table; keys
    routed to a shard with NO row in the frame report False (parity
    with the grouped route, which the fp==0 always-true quirk would
    otherwise break on missing shards)."""

    family = "frozen_taffy_cuckoo"

    def __init__(self, n_shards: int, log: int, entropy: tuple,
                 data: list, stashes: list, present: np.ndarray):
        self.n_shards = n_shards
        self.log = log
        self.entropy = entropy
        self.data = data          # [D0, D1] u64, each (S << log)
        self.stashes = stashes    # [s0, s1] SORTED u64 arrays
        self.present = present    # (S,) bool

    @classmethod
    def eligible(cls, n_shards: int, blobs: dict) -> bool:
        from ..filters.taffy_cuckoo import _FROZEN_MAGIC
        return _all_same(_tcf_sig(b, _FROZEN_MAGIC, n_shards,
                                  (slice(4, 69),))
                         for b in blobs.values())

    @classmethod
    def _build(cls, n_shards: int, blobs: dict):
        from ..filters.taffy_cuckoo import HEAD, FrozenTaffyCuckooFilter
        per = {s: FrozenTaffyCuckooFilter.deserialize(b)
               for s, b in blobs.items()}
        first = next(iter(per.values()))
        log, entropy = first.log_side_size, first.entropy
        nb = 1 << log
        data = [np.zeros(n_shards * nb, dtype=np.uint64)
                for _ in range(2)]
        stash_parts: list[list] = [[], []]
        present = np.zeros(n_shards, dtype=bool)
        shift = np.uint64(log + HEAD)
        for s, f in per.items():
            present[s] = True
            for i in range(2):
                data[i][s * nb:(s + 1) * nb] = f.data[i]
                if len(f.stashes[i]):
                    stash_parts[i].append(
                        (np.uint64(s) << shift)
                        | f.stashes[i].astype(np.uint64))
        stashes = [np.sort(np.concatenate(x)) if x
                   else np.zeros(0, dtype=np.uint64)
                   for x in stash_parts]
        return cls(n_shards, log, entropy, data, stashes, present)

    def find(self, keys: np.ndarray, binary: bool) -> np.ndarray:
        from ..filters.taffy_cuckoo import FP_MASK, HEAD, _has_value_10
        from ..kernels.feistel import feistel_forward_batch
        from ..kernels.keys import shard_of_keys
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        h = keys.astype(np.uint64, copy=False)
        shards = shard_of_keys(keys, self.n_shards,
                               binary=binary).astype(np.int64)
        log = self.log
        base = shards << np.int64(log)
        y = h >> np.uint64(64 - log - HEAD)
        e = self.entropy
        kp = [((e[0], e[1]), (e[2], e[3])),
              ((e[4], e[5]), (e[6], e[7]))]
        out = np.zeros(len(h), dtype=bool)
        sh_code = shards.astype(np.uint64) << np.uint64(log + HEAD)
        for i in range(2):
            permuted = feistel_forward_batch(kp[i], log + HEAD, y)
            bucket = (permuted >> np.uint64(HEAD)).astype(np.int64)
            fp = permuted & np.uint64(FP_MASK)
            z = self.data[i][base + bucket]
            out |= (fp == np.uint64(0)) | _has_value_10(z, fp)
            st = self.stashes[i]
            if st.size:
                code = sh_code | permuted
                pos = np.searchsorted(st, code)
                np.minimum(pos, st.size - 1, out=pos)
                out |= st[pos] == code
        return out & self.present[shards]


class _LiveTcfForestProbe(_Assembled):
    """Assembled probe view of a LIVE (absorb-capable) taffy-cuckoo
    forest. Live buckets are 4×u16 slots ``tail:6|fingerprint:10``
    (``taffy-cuckoo.h:68-73``) and every shard of a pre-sized forest
    shares one ``log_side_size`` and the default entropy table, so the
    per-side slot matrices concatenate into ONE (S << log, 4) u16
    matrix: global bucket = shard << log | bucket, and — because the
    Feistel keys are shared — the permutation runs ONCE per batch for
    ALL shards. Replaces the grouped route's per-batch argsort
    segmentation + S tiny ``find_hashes`` calls (at 64 shards a 65k-row
    Arrow batch hands each shard only ~1k keys — the small-segment
    regime where per-call overhead dominates). Stash entries fold into
    one sorted shard-prefixed code table per side with a parallel tail
    array (prefix test stays exact, duplicates handled by window
    offsets); keys routed to a shard with NO row in the frame report
    False, matching the grouped route."""

    family = "taffy_cuckoo"

    def __init__(self, n_shards: int, log: int, entropy: tuple,
                 data: list, stash_codes: list, stash_tails: list,
                 present: np.ndarray):
        self.n_shards = n_shards
        self.log = log
        self.entropy = entropy
        self.data = data                # [D0, D1] u16, (S << log, 4)
        self.stash_codes = stash_codes  # [c0, c1] SORTED u64
        self.stash_tails = stash_tails  # parallel i64 tails (< 64)
        self.present = present          # (S,) bool

    @classmethod
    def eligible(cls, n_shards: int, blobs: dict) -> bool:
        # serialize(): magic 4B | log 1B + occupied 8B | rng 24B |
        # entropy 64B — compare log + entropy (the rng state varies)
        from ..filters.taffy_cuckoo import _MAGIC
        return _all_same(_tcf_sig(b, _MAGIC, n_shards,
                                  (slice(4, 5), slice(37, 101)))
                         for b in blobs.values())

    @classmethod
    def _build(cls, n_shards: int, blobs: dict):
        from ..filters.taffy_cuckoo import HEAD, SLOTS, TaffyCuckooFilter
        per = {s: TaffyCuckooFilter.deserialize(b)
               for s, b in blobs.items()}
        first = next(iter(per.values()))
        log, entropy = first.log_side_size, first.entropy
        nb = 1 << log
        data = [np.zeros((n_shards * nb, SLOTS), dtype=np.uint16)
                for _ in range(2)]
        st_parts: list[list] = [[], []]
        present = np.zeros(n_shards, dtype=bool)
        for s, f in per.items():
            present[s] = True
            for i in range(2):
                data[i][s * nb:(s + 1) * nb] = f.sides[i].data
                for (b, fp, t) in f.sides[i].stash:
                    if t:   # tail==0 ⇒ empty stash slot
                        st_parts[i].append(
                            ((s << (log + HEAD)) | (b << HEAD) | fp, t))
        codes, tails = [], []
        for i in range(2):
            arr = np.array(sorted(st_parts[i]),
                           dtype=np.uint64).reshape(-1, 2)
            codes.append(np.ascontiguousarray(arr[:, 0]))
            tails.append(arr[:, 1].astype(np.int64))
        return cls(n_shards, log, entropy, data, codes, tails, present)

    def find(self, keys: np.ndarray, binary: bool) -> np.ndarray:
        from ..filters.taffy_cuckoo import FP_MASK, HEAD, TAIL
        from ..kernels.feistel import (feistel_forward_batch_lean,
                                       is_prefix_of_batch)
        from ..kernels.keys import shard_of_keys
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        h = keys.astype(np.uint64, copy=False)
        shards = shard_of_keys(keys, self.n_shards,
                               binary=binary).astype(np.int64)
        log = self.log
        out = np.zeros(len(h), dtype=bool)
        tail_shift = np.uint64(64 - log - HEAD - TAIL)
        tmask = np.uint64((1 << TAIL) - 1)
        pre = h >> np.uint64(64 - log - HEAD)
        e = self.entropy
        side_keys = [((e[0], e[1]), (e[2], e[3])),
                     ((e[4], e[5]), (e[6], e[7]))]
        sh_hi = shards.astype(np.uint64) << np.uint64(log + HEAD)

        def ptail_at(ri):             # lazy tail, matched lanes only
            return (((h[ri] >> tail_shift) & tmask)
                    .astype(np.int64) << 1) | 1

        for i in range(2):
            hashed = feistel_forward_batch_lean(side_keys[i],
                                                log + HEAD, pre)
            bucket = (hashed >> np.uint64(HEAD)).astype(np.int64)
            fp16 = (hashed & np.uint64(FP_MASK)).astype(np.uint16)
            slots = self.data[i][(shards << np.int64(log)) + bucket]
            cand = (slots & np.uint16(FP_MASK)) == fp16[:, None]
            cand &= slots > np.uint16(FP_MASK)   # occupied ⇔ tail != 0
            rows, cols = np.nonzero(cand)
            if len(rows):
                pref = is_prefix_of_batch(
                    slots[rows, cols] >> np.uint16(HEAD), ptail_at(rows))
                out[rows[pref]] = True
            codes = self.stash_codes[i]
            if codes.size:
                key_code = sh_hi | hashed
                lo = np.searchsorted(codes, key_code, "left")
                hi = np.searchsorted(codes, key_code, "right")
                # duplicate codes (same path, different tails) are
                # walked by window offset; windows are stash-sized
                for o in range(int((hi - lo).max(initial=0))):
                    idx = np.flatnonzero(lo + o < hi)
                    if not len(idx):
                        break
                    pref = is_prefix_of_batch(
                        self.stash_tails[i][lo[idx] + o], ptail_at(idx))
                    out[idx[pref]] = True
        return out & self.present[shards]


# kind → assembled class. A global shard frame takes the kind whose
# family matches all its rows and whose shards are eligible. Frames no
# kind takes probe through the grouped route on a JVM-derived shard
# column.
# minimal_taffy_cuckoo forests deliberately stay grouped: each shard's
# level geometry depends on its own cursor (which levels doubled) and
# per-side hi/lo permutations, so a shared-permutation concatenated
# matrix does not exist unless every shard grew in lockstep — and the
# measured headroom is small (100M sweep: MTCF grouped 14.3 Mk/s vs
# TCF assembled 16.7, BENCH/growth100m.json).
_ASSEMBLED = {
    "block_slice_set": _BlockSliceProbe,
    "tbf_forest_set": _TbfForestProbe,
    "frozen_tcf_set": _FrozenTcfForestProbe,
    "tcf_set": _LiveTcfForestProbe,
}


def _content_token(filter_map: dict) -> str:
    """Stable executor-cache key for a collected filter map: digest of
    every (group, family, blob bytes). blake2b keeps the driver-side
    pass cheap (~100 ms per 100 MB) relative to the per-worker
    deserialize/assembly it lets workers skip."""
    import hashlib
    h = hashlib.blake2b(digest_size=16)

    def upd(x: bytes) -> None:
        # length-framed: the token stays injective over the shard
        # STRUCTURE (two splits whose bytes concatenate identically
        # must not collide)
        h.update(len(x).to_bytes(8, "little"))
        h.update(x)

    for g in sorted(filter_map, key=repr):
        fam, blob = filter_map[g]
        upd(repr((g, fam)).encode())
        if isinstance(blob, tuple):  # (n_shards, {shard: blob})
            upd(str(blob[0]).encode())
            for s in sorted(blob[1]):
                upd(str(s).encode())
                upd(blob[1][s])
        else:
            upd(blob)
    return h.hexdigest()


def _bounded_put(cache: dict, key, value, cap: int):
    """Insert under _CACHE_LOCK, evicting oldest-first past ``cap``.
    An entry a racing thread stored first wins and is returned."""
    with _CACHE_LOCK:
        if key in cache:
            return cache[key]
        while len(cache) >= cap:
            cache.pop(next(iter(cache)), None)
        cache[key] = value
        return value


def _materialize(bc) -> dict:
    """This worker's {group: probe object} for a broadcast filter map:
    each python worker unpickles the broadcast and deserializes (or
    assembles, for an _ASSEMBLED kind) privately, once per content
    token — later batches and repeat probes of the same map reuse it."""
    token, filter_map = bc.value
    cached = _FILTER_CACHE.get(token)
    if cached is None:
        cached = _bounded_put(_FILTER_CACHE, token, {
            # the driver checked an _ASSEMBLED kind's eligibility
            g: _ASSEMBLED[fam]._build(*blob) if fam in _ASSEMBLED
            else FAMILIES[fam].deserialize(blob)
            for g, (fam, blob) in filter_map.items()}, _FILTER_CACHE_MAX)
    return cached


def _with_route_shard(df: DataFrame, key_col: str, p: dict) -> DataFrame:
    """Attach a shard frame's routing column to the probe side using
    the params row's authoritative routing formula."""
    if p.get("routing") == "bucket_range":
        from .sharded import with_block_shard
        return with_block_shard(df, key_col, int(p["num_buckets"]),
                                int(p["n_shards"]))
    from .forest import with_shard
    return with_shard(df, key_col, int(p["n_shards"]))


def _fingerprint(filters_df: DataFrame, cols: list[str]):
    """One-pass JVM fingerprint of a CACHED filters frame: row count,
    order-free content hash (bit_xor — overflow-free and ANSI-safe;
    the group/shard columns inside the hash keep equal blobs of
    different groups from cancelling) and total blob bytes. No blob
    transfer, and the bytes check the broadcast budget for free."""
    return filters_df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*cols, "family", "filter")).alias("h"),
        F.sum(F.length("filter")).alias("l")).first()


def probe_with_filters(df: DataFrame, filters_df: DataFrame,
                       group_cols: list[str] | None,
                       key_col: str = "key",
                       result_col: str = "maybe_seen",
                       via: str = "auto",
                       _collected: dict | None = None) -> DataFrame:
    """Add a boolean ``result_col``: does ``key_col`` hit the group's
    filter? Rows whose group has no filter get False. Keys may be
    int64 (two's-complement uint64) or 8-byte binary.

    The broadcast route is a vectorized Arrow scalar UDF, so only the
    key (and group) columns cross the Python boundary — every other
    column of a wide probe table stays JVM-side (at 100 TB the probe
    input is the big table; shipping whole rows through Arrow would
    dominate). The shuffle route carries every column through one
    sorted ``mapInArrow`` pass instead, which saves the join back but
    hides from column pruning which columns the caller reads: select
    them before a shuffle probe of a wide table.

    A GLOBAL probe (group_cols empty) against a distributed shard
    frame (block shards / filter forest — one row per shard with a
    ``__shard`` column) auto-routes each key to its shard with the
    build's JVM-side formula, so callers don't care whether the build
    chose the single-blob or the sharded scale path. The shard frame
    is collected ONCE here (params + blobs in the same pass) — not
    first()-then-recollected per hop.

    ``via``: ``broadcast`` collects the filters to the driver and
    broadcasts (the fast path while blobs fit); ``shuffle`` keeps the
    filters distributed and shuffles the probe rows to them
    (``_probe_via_shuffle``: the 100 TB many-groups path — driver
    memory stays flat); ``auto`` broadcasts
    up to $LIBFILTER_BROADCAST_MAX collected bytes (256 MB default),
    then falls back to shuffle."""
    group_cols = list(group_cols or [])
    if via not in ("auto", "broadcast", "shuffle"):
        raise ValueError(f"unknown probe route {via!r}")
    shards = not group_cols and "__shard" in filters_df.columns \
        and _collected is None
    cols = ["__shard"] if shards else group_cols
    entry = None if via == "shuffle" else _broadcast_entry(
        df, filters_df, cols, shards, via, _collected)
    if entry == ():  # empty build side: nothing can match
        return df.withColumn(result_col, F.lit(False))
    if entry is None:  # shuffle route, or over the broadcast budget
        return _probe_via_shuffle(df, filters_df, cols, key_col,
                                  result_col, shards)
    kind, bc, p = entry
    if kind is not None or not shards:
        return _broadcast_probe_udf(df, bc, [] if kind else cols,
                                    key_col, result_col)
    return _broadcast_probe_udf(_with_route_shard(df, key_col, p), bc,
                                cols, key_col, result_col).drop("__shard")


def _broadcast_entry(df: DataFrame, filters_df: DataFrame,
                     cols: list[str], shards: bool, via: str,
                     fmap: dict | None):
    """The broadcast side of a probe: ``(kind, bc, params)`` — an
    _ASSEMBLED ``kind`` (None ⇒ probe ``bc``'s map on ``cols``) and,
    for a shard frame, its params row — or None when the blobs exceed
    the broadcast budget, or ``()`` when the frame is empty.

    A shard frame's shapes that an _ASSEMBLED kind takes (block slices,
    single- and multi-level TBF forests, uniform frozen and live TCF
    forests) assemble into ONE probe object per worker — a plain
    global probe, measured ~1.5× over the grouped route for slices and
    ~3× for TBF forests. Anything else maps shard → blob and probes
    through the grouped route on a JVM-derived shard column.

    A CACHED grouped or shard frame pays a one-pass JVM fingerprint
    aggregation first; repeat probes of an unchanged frame then skip
    the blob collect AND the broadcast dump, reusing the memoized
    entry. The memo key tags the frame shape, so a grouped probe on
    ``["__shard"]`` never picks up a shard frame's assembled entry.
    Uncached frames keep the single-collect flow (a fingerprint pass
    would recompute their whole upstream build)."""
    memo_key = None
    if fmap is None and cols and _is_cached(filters_df):
        agg = _fingerprint(filters_df, cols)
        if not agg["n"]:
            return ()
        if via == "auto" and agg["l"] > _BROADCAST_MAX:
            return None  # over budget, known WITHOUT collecting a blob
        memo_key = (df.sparkSession.sparkContext.applicationId,
                    "shardfp" if shards else "groupfp", *map(int, agg))
        hit = _MEMO.get(memo_key)
        if hit is not None:
            return hit
    kind = p = None
    if fmap is None:
        sel = cols + ["params"] if shards else cols
        if via == "broadcast":  # the caller pinned the driver hop
            rows = filters_df.select(*sel, "family", "filter").collect()
        else:
            rows = _collect_budgeted(filters_df, sel, shards)
            if rows is None:  # over budget: blobs stay distributed
                return None
        if not rows:
            return ()
        fmap = _filter_map(rows, cols)
    if shards:
        p = json.loads(rows[0]["params"])
        n_sh = int(p["n_shards"])
        blobs = {s: blob for (s,), (_, blob) in fmap.items()}
        fams = {fam for fam, _ in fmap.values()}
        kind = next((k for k, c in _ASSEMBLED.items()
                     if fams == {c.family} and c.eligible(n_sh, blobs)),
                    None)
        if kind is not None:
            fmap = {(): (kind, (n_sh, blobs))}
    entry = (kind, _get_bc(df.sparkSession, fmap), p)
    if memo_key is not None:
        _bounded_put(_MEMO, memo_key, entry, _MEMO_MAX)
    return entry


def _get_bc(spark, filter_map: dict):
    """Broadcast a collected filter map under a CONTENT-digest cache
    key, not a per-call uuid — repeated probes of the same filters
    frame then reuse BOTH the driver-side broadcast (no re-dump of a
    100 MB map per call) and the worker-side deserialized/assembled
    state (no workers × map_bytes of rebuild memcpy per call; measured
    as the dominant cost of re-probing a 110 MB assembled forest)."""
    token = _content_token(filter_map)
    sc = spark.sparkContext
    key = ("bc", sc.applicationId, token)
    bc = _MEMO.get(key)
    if bc is None:
        # a racing thread's broadcast wins; ours is left to the
        # ContextCleaner
        bc = _bounded_put(_MEMO, key, sc.broadcast((token, filter_map)),
                          _MEMO_MAX)
    return bc


def _broadcast_probe_udf(df: DataFrame, bc, group_cols: list[str],
                         key_col: str, result_col: str) -> DataFrame:
    """Attach the vectorized membership column from a broadcast filter
    map (grouped: per-batch ``group_segments`` segmentation, one find
    call per group; global: one kernel call per batch)."""
    import pyarrow as pa
    from pyspark.sql.functions import ArrowUDFType, arrow_udf

    from ..kernels.keys import keys_and_valid_from_arrow
    from .build import group_segments

    if group_cols:
        def probe(*cols):
            filters = _materialize(bc)
            keys, valid = keys_and_valid_from_arrow(cols[-1])
            out = np.zeros(len(keys), dtype=bool)
            gcols = cols[:-1]
            if len(keys):
                order, bounds = group_segments(
                    [c.to_pandas(types_mapper=pd.ArrowDtype)
                     for c in gcols], len(keys))
                heads = order[np.r_[0, bounds].astype(np.int64)]
                groups = zip(*(c.take(heads).to_pylist() for c in gcols))
                for g, idx in zip(groups, np.split(order, bounds)):
                    # a null group value never equals a filter's group
                    # (SQL semantics), even though the build keeps a
                    # null group's filter
                    f = None if None in g else filters.get(g)
                    if f is not None:
                        out[idx] = f.find_hashes(keys[idx])
            return pa.array(out & valid)  # null keys are never members

        # nondeterministic ONLY to stop Catalyst's constraint propagation
        # from copying the membership filter across the semi-join's
        # equi-condition onto the build side (a wasted full pass there:
        # build keys are members by construction, zero FN). The probe is
        # in fact deterministic; re-evaluation semantics are unaffected
        # for a Filter.
        udf = arrow_udf(probe, "boolean",
                        ArrowUDFType.SCALAR).asNondeterministic()
        args = [F.col(c) for c in group_cols] + [F.col(key_col)]
        return df.withColumn(result_col, udf(*args))

    def probe_global(keys):
        f = _materialize(bc).get(())
        if f is None:
            return pa.array(np.zeros(len(keys), dtype=bool))
        k, valid = keys_and_valid_from_arrow(keys)
        if isinstance(f, _Assembled):
            # the assembled forests route by the xxhash64 replica,
            # which hashes binary and int64 key columns differently —
            # the Arrow type is the authority
            binary = not pa.types.is_integer(keys.type)
            return pa.array(f.find(k, binary) & valid)
        return pa.array(f.find_hashes(k) & valid)

    # see the grouped path: nondeterministic to keep the membership
    # filter off the build side of downstream equi-joins
    udf = arrow_udf(probe_global, "boolean",
                    ArrowUDFType.SCALAR).asNondeterministic()
    return df.withColumn(result_col, udf(F.col(key_col)))


def _probe_via_shuffle(df: DataFrame, filters_df: DataFrame,
                       group_cols: list[str], key_col: str,
                       result_col: str, shards: bool = False) -> DataFrame:
    """Shuffle probe — the many-groups scale path. The filter blobs
    never visit the driver: filter rows (``__t`` = 0: the group
    columns plus private ``__fam``/``__blob`` copies) and probe rows
    (``__t`` = 1, every input column) hash to partitions by group and
    sort there by (group, tag), so each group's filter row leads its
    probe rows. One ``mapInArrow`` pass per partition
    (``_probe_sorted_batches``) deserializes each group's blob once and
    emits the probe rows with their own columns plus ``result_col``: no
    dedupe shuffle, no Python call per group, no join back
    (``grouped_skewed`` shapes on 4 cores: median 1.17 s against
    2.81 s for the per-group cogroup and join back it replaced,
    BENCH/shuffle_probe_ab.json). Driver memory
    stays flat at any number of groups. The price is one shuffle of
    the probe rows, every column of which crosses Arrow.

    A shard frame (``shards``) groups on ``__shard``, attached to the
    probe side from the params row. A global frame salts: probe rows
    spread over the partitions by a key hash and the blob row
    replicates to every one (the price of a driverless probe of one
    huge blob; frames the build router sharded never reach here), over
    ``spark.sql.shuffle.partitions`` salt values."""
    out_cols = df.columns
    schema = df.withColumn(result_col, F.lit(None).cast("boolean")).schema
    if shards:
        row = filters_df.select("params").first()
        if row is None:
            return df.withColumn(result_col, F.lit(False))
        df = _with_route_shard(df, key_col, json.loads(row["params"]))
    gcols = list(group_cols) or ["__g"]
    # filter rows take the probe side's group types, so the union keeps
    # the input's column types for the pass to emit as they came
    fdf = filters_df.select(
        *(F.col(c).cast(df.schema[c].dataType) for c in group_cols),
        F.col("family").alias("__fam"), F.col("filter").alias("__blob"),
        F.lit(0).alias("__t"))
    probe = df.withColumn("__t", F.lit(1))
    if not group_cols:
        n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        probe = probe.withColumn("__g", F.pmod(F.xxhash64(key_col), F.lit(n)))
        fdf = fdf.withColumn("__g", F.explode(F.sequence(F.lit(0),
                                                         F.lit(n - 1))))
    # no pinned partition count: AQE coalesces the exchange to about one
    # partition per core, never splitting one, so a group stays in one
    # partition. Each Python task has a fixed cost (about 0.35 s on a
    # 4-core box), so on grouped_skewed shapes 8 pinned partitions took
    # 1.57 s against 1.05 s coalesced to 3; 2M rows in 10k groups took
    # about the same either way (6 coalesced partitions).
    tagged = probe.unionByName(fdf, allowMissingColumns=True) \
        .repartition(*gcols).sortWithinPartitions(*gcols, "__t")
    return tagged.mapInArrow(functools.partial(
        _probe_sorted_batches, gcols=gcols, names=group_cols,
        key_col=key_col, out_cols=out_cols, result_col=result_col),
        schema=schema)


def _probe_sorted_batches(batches, gcols: list[str], names: list[str],
                          key_col: str, out_cols: list[str],
                          result_col: str):
    """``mapInArrow`` body of the shuffle probe, over one partition
    sorted by (``gcols``, ``__t``): every group's rows are contiguous
    and its filter row, if any, comes first. The current group and its
    deserialized filter carry across batch boundaries. A second filter
    row for one group raises ``_duplicate_rows`` (``names``: the group
    columns the error reports). Probe rows of a group with no filter,
    of a group tuple that holds a null (SQL equality: a null group
    matches no filter, though the build keeps one) and with a null key
    get False."""
    import pyarrow as pa

    from ..kernels.keys import keys_and_valid_from_arrow
    from .build import group_segments

    cur, f = None, None
    for b in filter(len, batches):
        is_filter = b.column("__t").to_numpy() == 0
        gc = [b.column(c) for c in gcols]
        # the input is sorted, so each group is one run of rows: the
        # runs start at the segments' first rows, in input order
        order, bounds = group_segments(
            [c.to_pandas(types_mapper=pd.ArrowDtype) for c in gc], len(b))
        starts = np.sort(order[np.r_[0, bounds].astype(np.int64)])
        n_filters = np.add.reduceat(is_filter.astype(np.int64), starts)
        keys, valid = keys_and_valid_from_arrow(b.column(key_col))
        out = np.zeros(len(b), dtype=bool)
        heads = zip(*(c.take(starts).to_pylist() for c in gc))
        for g, lo, hi, nf in zip(heads, starts, np.r_[starts[1:], len(b)],
                                 n_filters):
            if g != cur:
                cur, f = g, None
            if nf:
                if f is not None or nf > 1:
                    raise _duplicate_rows(names, [g if names else ()] * 2)
                f = FAMILIES[b.column("__fam")[lo].as_py()].deserialize(
                    b.column("__blob")[lo].as_py())
                lo += 1
            if f is not None and None not in g:
                out[lo:hi] = f.find_hashes(keys[lo:hi])
        yield pa.RecordBatch.from_arrays(
            [b.column(c) for c in out_cols] + [pa.array(out & valid)],
            names=[*out_cols, result_col]).filter(pa.array(~is_filter))


def filter_semi_join(probe_df: DataFrame, build_df: DataFrame,
                     filters_df: DataFrame,
                     group_cols: list[str] | None,
                     key_col: str = "key") -> DataFrame:
    """Exact semi-join accelerated by the filter: probe rows that miss
    every filter are dropped *before* the join shuffle (zero false
    negatives guarantees no lost matches); survivors are exact-verified
    with a left-semi join on (group, key)."""
    group_cols = list(group_cols or [])
    candidates = (probe_with_filters(probe_df, filters_df, group_cols, key_col)
                  .where(F.col("maybe_seen")).drop("maybe_seen"))
    on = group_cols + [key_col]
    build_keys = build_df.select(*on).dropDuplicates(on)
    return candidates.join(build_keys, on=on, how="left_semi")
