"""Single-thread kernel timings on a workload's own keys and blob.

No Spark: the keys are re-derived on the driver (``sha256("{seed}:{i}")``,
first 8 bytes big-endian, as ``spark.keys`` derives them) and the blob
is one the workload's last traced iteration built. The block kernel is
split into its steps: key extraction from the Arrow binary column, the
bucket index, the lane masks, and the rest (gather + test for a find,
scatter-OR for an add), which is the whole call minus index and masks.
"""

from __future__ import annotations

import hashlib
import statistics
import time

import numpy as np
import pyarrow as pa

from libfilter_spark.filters import (BlockFilter, FrozenTaffyCuckooFilter,
                                     StaticXorFilter, TaffyCuckooFilter)
from libfilter_spark.kernels import block as K
from libfilter_spark.kernels.keys import keys_from_arrow, splitmix64

BATCHES = (4096, 65536, 1 << 20)
# the block kernels process batches in chunks of this many keys; the
# step timings use the same chunks so they subtract from the whole call
_CHUNK = K._KERNEL_BLOCK


def sha_keys(seed: int, lo: int, n: int) -> np.ndarray:
    digests = b"".join(hashlib.sha256(f"{seed}:{i}".encode()).digest()[:8]
                       for i in range(lo, lo + n))
    return np.frombuffer(digests, dtype=">u8").astype(np.uint64)


def ns_per_key(fn, n_keys: int, min_s: float = 0.1, min_reps: int = 3,
               max_s: float = 1.5) -> float:
    """Median ns/key of repeated calls: at least ``min_reps`` calls and
    ``min_s`` seconds, stopping early once ``max_s`` is spent."""
    samples, spent = [], 0.0
    while (len(samples) < min_reps or spent < min_s) and spent < max_s:
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        samples.append(dt)
        spent += dt
    return statistics.median(samples) * 1e9 / n_keys


def _chunks(keys: np.ndarray):
    return [keys[i:i + _CHUNK] for i in range(0, len(keys), _CHUNK)]


def _arrow_binary(keys: np.ndarray) -> pa.Array:
    data = keys.astype(">u8").tobytes()
    offsets = np.arange(0, 8 * len(keys) + 1, 8, dtype=np.int32)
    return pa.Array.from_buffers(pa.binary(), len(keys),
                                 [None, pa.py_buffer(offsets.tobytes()),
                                  pa.py_buffer(data)])


def _deserialize_ms(cls, blob: bytes) -> tuple[object, float]:
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        obj = cls.deserialize(blob)
        times.append(time.perf_counter() - t0)
    return obj, statistics.median(times) * 1e3


def block_kernels(kept: dict, keys: np.ndarray) -> dict:
    out = {}
    f, out["block.deserialize_ms"] = _deserialize_ms(BlockFilter,
                                                     kept["blob"])
    fresh = BlockFilter.create_with_ndv_fpp(kept["ndv"], kept["fpp"])
    nb = f.state.size // K.WORDS_PER_BUCKET
    for b in BATCHES:
        ks = keys[:b]
        chunks = _chunks(ks)
        arr = _arrow_binary(ks)
        add = ns_per_key(lambda: fresh.add_hashes(ks), b)
        find = ns_per_key(lambda: f.find_hashes(ks), b)
        idx = ns_per_key(lambda: [K.bucket_index(c, nb).astype(np.int64)
                                  for c in chunks], b)
        masks = ns_per_key(lambda: [np.ascontiguousarray(K.make_masks(c))
                                    .view(np.uint64) for c in chunks], b)
        out[f"block.add_ns_per_key.{b}"] = add
        out[f"block.find_ns_per_key.{b}"] = find
        out[f"kernels.block.key_extract_ns.{b}"] = ns_per_key(
            lambda: keys_from_arrow(arr), b)
        out[f"kernels.block.bucket_index_ns.{b}"] = idx
        out[f"kernels.block.make_masks_ns.{b}"] = masks
        out[f"kernels.block.gather_test_ns.{b}"] = find - idx - masks
        out[f"kernels.block.scatter_ns.{b}"] = add - idx - masks
    return out


def tcf_kernels(kept: dict, keys: np.ndarray) -> dict:
    out = {}
    live, out["taffy_cuckoo.deserialize_ms"] = _deserialize_ms(
        TaffyCuckooFilter, kept["blob"])
    frozen, out["frozen_taffy_cuckoo.deserialize_ms"] = _deserialize_ms(
        FrozenTaffyCuckooFilter, kept["frozen"])
    for b in BATCHES:
        ks = keys[:b]
        # a fresh filter per call: re-adding keys would fill one filter
        out[f"taffy_cuckoo.add_ns_per_key.{b}"] = ns_per_key(
            lambda: TaffyCuckooFilter.create(b, kept["fpp"]).add_hashes(ks),
            b, min_reps=1)
        out[f"taffy_cuckoo.find_ns_per_key.{b}"] = ns_per_key(
            lambda: live.find_hashes(ks), b)
        out[f"frozen_taffy_cuckoo.find_ns_per_key.{b}"] = ns_per_key(
            lambda: frozen.find_hashes(ks), b)
    return out


def kernel_metrics(kept: dict, seed: int) -> dict:
    """Kernel timings for the family the workload built; half the keys
    are members (the probe mix), half are not."""
    keys = sha_keys(seed, kept["lo"], max(BATCHES))
    if kept["family"] == "block":
        return block_kernels(kept, keys)
    return tcf_kernels(kept, keys)


def sentinel_ns_per_key() -> float:
    """A fixed single-thread kernel (static XOR construct over 100k
    splitmix64 keys, median of three): its only variable is the box's
    effective CPU speed, so a shift between a run's start and end shows
    a throttled box."""
    keys = splitmix64(100_000, seed=42)
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        StaticXorFilter.construct(keys)
        times.append(time.perf_counter() - t0)
    return statistics.median(times) * 1e9 / len(keys)
