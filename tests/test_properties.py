"""Hypothesis property tests over the reference's contract surface.

The reference pins its guarantees with fixed-seed unit tests
(``c/extras/test/*.c``, ``java/.../FilterTest.java``); these widen the
same guarantees to randomized shapes:

- zero false negatives for every family, including across taffy
  incremental doubling (taffy.tex: growth must preserve inserted keys);
- union/absorb keeps every key of both operands and is commutative /
  associative byte-for-byte where the family defines a merge
  (block.c:68 TODO semantics; our extension contract);
- serialize/deserialize round-trips reproduce an equal filter;
- the sizing triple (block_fpp / block_bytes_needed / block_capacity)
  is self-consistent (bloom.tex §sizing): capacity(bytes(n)) >= n and
  fpp(n, bytes(n, p)) <= p.

Everything here is kernel-level numpy (no Spark session) so the suite
stays fast; distributed equivalents are covered by the oracle-gated
driver queries and tests/test_sharded.py byte-parity anchors.
"""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from libfilter_spark.filters import StaticXorFilter
from libfilter_spark.filters.block import BlockFilter
from libfilter_spark.filters.minimal_taffy import MinimalTaffyCuckooFilter
from libfilter_spark.filters.taffy_block import TaffyBlockFilter
from libfilter_spark.filters.taffy_cuckoo import TaffyCuckooFilter
from libfilter_spark.kernels.keys import splitmix64
from libfilter_spark.kernels.sizing import (block_bytes_needed,
                                            block_capacity, block_fpp)

SEEDS = st.integers(min_value=0, max_value=2**32 - 1)


def _keys(n, seed):
    # distinct uint64 keys; SplitMix64 is a bijection of the index
    # stream so any one stream is duplicate-free
    return splitmix64(n, seed=seed | 1)


# --- block (register-blocked bloom) ---------------------------------


@settings(max_examples=25, deadline=None)
@given(seed=SEEDS, n=st.integers(min_value=1, max_value=3000))
def test_block_zero_fn_and_roundtrip(seed, n):
    f = BlockFilter.create_with_ndv_fpp(n, 0.01)
    keys = _keys(n, seed)
    f.add_hashes(keys)
    assert bool(f.find_hashes(keys).all())
    g = BlockFilter.deserialize(f.serialize())
    assert g == f
    assert bool(g.find_hashes(keys).all())


@settings(max_examples=25, deadline=None)
@given(seed=SEEDS, n1=st.integers(min_value=1, max_value=1500),
       n2=st.integers(min_value=1, max_value=1500))
def test_block_union_superset_and_commutes(seed, n1, n2):
    nbytes = block_bytes_needed(n1 + n2, 0.01)
    a = BlockFilter.create_with_bytes(nbytes)
    b = BlockFilter.create_with_bytes(nbytes)
    ka, kb = _keys(n1, seed), _keys(n2, seed + 7)
    a.add_hashes(ka)
    b.add_hashes(kb)
    u = a.union(b)
    assert bool(u.find_hashes(ka).all()) and bool(u.find_hashes(kb).all())
    assert u.serialize() == b.union(a).serialize()
    # intersection never claims a key both operands agree is absent
    probe = _keys(512, seed + 13)
    inter = a.intersection(b)
    both = a.find_hashes(probe) & b.find_hashes(probe)
    assert not bool((inter.find_hashes(probe) & ~both).any())


@settings(max_examples=25, deadline=None)
@given(seed=SEEDS, n=st.integers(min_value=1, max_value=2000))
def test_block_32bit_zero_fn(seed, n):
    f = BlockFilter.create_with_ndv_fpp(n, 0.01)
    keys32 = (_keys(n, seed) >> np.uint64(32)).astype(np.uint32)
    f.add_hashes_32(keys32)
    assert bool(f.find_hashes_32(keys32).all())


# --- sizing triple ----------------------------------------------------


@settings(max_examples=50, deadline=None)
@given(ndv=st.integers(min_value=1, max_value=10**7),
       fpp=st.floats(min_value=1e-5, max_value=0.3))
def test_sizing_triple_consistent(ndv, fpp):
    nbytes = block_bytes_needed(ndv, fpp)
    assert block_capacity(nbytes, fpp) >= ndv
    assert block_fpp(ndv, nbytes) <= fpp * (1 + 1e-9)


# --- taffy block (growable bloom) ------------------------------------


@settings(max_examples=15, deadline=None)
@given(seed=SEEDS, n=st.integers(min_value=1, max_value=4000))
def test_taffy_block_growth_zero_fn_roundtrip(seed, n):
    # ndv0=64 forces multiple upsizes at the larger draws: doubling
    # must preserve previously-inserted keys (taffy.tex §taffy-block)
    f = TaffyBlockFilter.create(64, 0.01)
    keys = _keys(n, seed)
    f.add_hashes(keys)
    assert bool(f.find_hashes(keys).all())
    g = TaffyBlockFilter.deserialize(f.serialize())
    assert g == f
    assert bool(g.find_hashes(keys).all())


@settings(max_examples=15, deadline=None)
@given(seed=SEEDS, n=st.integers(min_value=2, max_value=3000),
       cut=st.floats(min_value=0.05, max_value=0.95))
def test_taffy_block_union_zero_fn_commutes(seed, n, cut):
    keys = _keys(n, seed)
    k = min(n - 1, max(1, int(n * cut)))
    a = TaffyBlockFilter.create(64, 0.01)
    b = TaffyBlockFilter.create(64, 0.01)
    a.add_hashes(keys[:k])
    b.add_hashes(keys[k:])
    u = a.union(b)
    assert bool(u.find_hashes(keys).all())
    assert u.serialize() == b.union(a).serialize()


# --- taffy cuckoo -----------------------------------------------------


@settings(max_examples=15, deadline=None)
@given(seed=SEEDS, n=st.integers(min_value=1, max_value=4000))
def test_tcf_growth_freeze_roundtrip_zero_fn(seed, n):
    f = TaffyCuckooFilter.create(100)  # grows under the larger draws
    keys = _keys(n, seed)
    f.add_hashes(keys)
    assert bool(f.find_hashes(keys).all())
    g = TaffyCuckooFilter.deserialize(f.serialize())
    assert g == f
    assert bool(g.find_hashes(keys).all())
    # freezing (the HIBP serving shape) must preserve membership
    fr = f.freeze()
    assert bool(fr.find_hashes(keys).all())


@settings(max_examples=10, deadline=None)
@given(seed=SEEDS, n=st.integers(min_value=3, max_value=2400))
def test_tcf_union_any_order_zero_fn(seed, n):
    """Byte-identical merges are the LATTICE families' contract
    (block/TBF or-merge, HLL/CMS — q_merge_associativity); a cuckoo
    union is kick-walk order-dependent in BYTES, so its contract is
    set-level: every key of every operand survives any merge order
    (taffy-cuckoo.c:260-348)."""
    keys = _keys(n, seed)
    thirds = np.array_split(keys, 3)
    filters = []
    for i, part in enumerate(thirds):
        f = TaffyCuckooFilter.create(max(100, n))
        if len(part):
            f.add_hashes(part)
        filters.append(f)
    a, b, c = filters
    for merged in (a.union(b).union(c), a.union(b.union(c)),
                   c.union(a).union(b)):
        assert bool(merged.find_hashes(keys).all())
    # absorb (the distributed upsize-aware merge) also keeps every key
    d = a.clone()
    d.absorb(b)
    d.absorb(c)
    assert bool(d.find_hashes(keys).all())


# --- minimal taffy cuckoo ---------------------------------------------


@settings(max_examples=12, deadline=None)
@given(seed=SEEDS, n=st.integers(min_value=1, max_value=3000))
def test_mtcf_growth_zero_fn(seed, n):
    f = MinimalTaffyCuckooFilter.create(100)
    keys = _keys(n, seed)
    f.add_hashes(keys)
    assert bool(f.find_hashes(keys).all())


# --- static xor -------------------------------------------------------


@settings(max_examples=15, deadline=None)
@given(seed=SEEDS, n=st.integers(min_value=1, max_value=4000))
def test_static_xor_members_found_roundtrip(seed, n):
    keys = _keys(n, seed)
    f = StaticXorFilter.construct(keys)
    assert bool(f.find_hashes(keys).all())
    g = StaticXorFilter.deserialize(f.serialize())
    assert g == f
    assert bool(g.find_hashes(keys).all())


@settings(max_examples=8, deadline=None)
@given(seed=SEEDS, n=st.integers(min_value=1, max_value=1200))
def test_static_xor_fast_matches_exact_membership(seed, n):
    """construct (round-vectorized peel) and construct_exact (C
    byte-parity) may differ in BYTES (order-free xor solve) but must
    agree that every member is found and be the same SIZE (the retry
    schedule is shared; static.c:12-82)."""
    keys = _keys(n, seed)
    fast = StaticXorFilter.construct(keys)
    exact = StaticXorFilter.construct_exact(keys)
    assert fast.size_in_bytes() == exact.size_in_bytes()
    assert bool(exact.find_hashes(keys).all())
    assert bool(fast.find_hashes(keys).all())


# --- assembled forest probes (round-6 read-only serving shapes) ------


@settings(max_examples=8, deadline=None)
@given(seed=SEEDS,
       n=st.integers(min_value=50, max_value=8000),
       n_shards=st.integers(min_value=2, max_value=12),
       grow=st.integers(min_value=0, max_value=3),
       drop=st.integers(min_value=0, max_value=2))
def test_assembled_tbf_forest_probe_parity(seed, n, n_shards, grow,
                                           drop):
    """The multi-level assembled TBF forest probe must answer
    bit-identically to per-shard ``find_hashes`` under ANY shard
    count, ragged growth pattern, and missing-shard subset (missing
    shards report False). Randomized generalization of
    tests/test_forest_onepass.py::test_assembled_tbf_multilevel_probe_unit."""
    import libfilter_spark.spark.probe as P
    from libfilter_spark.kernels.keys import shard_of_keys

    keys = _keys(n, seed)
    sh = shard_of_keys(keys, n_shards, binary=False)
    blobs, filters = {}, {}
    for s in range(n_shards):
        ks = keys[sh == s]
        if s < grow:  # ragged: some shards several levels deeper
            extra = _keys(30_000 * (s + 1), seed ^ (s + 1))
            ks = np.concatenate(
                [ks, extra[shard_of_keys(extra, n_shards,
                                         binary=False) == s]])
        f = TaffyBlockFilter.create(64, 0.01)
        if len(ks):
            f.add_hashes(ks)
        filters[s], blobs[s] = f, f.serialize()
    for s in range(min(drop, n_shards - 1)):  # keep >= 1 shard
        del blobs[n_shards - 1 - s]
    pv = P._TbfForestProbe.assemble(n_shards, blobs)
    assert pv is not None
    absent = _keys(2 * n, ~seed & 0xFFFFFFFF)[n:]
    mixed = np.concatenate([keys, absent])
    msh = shard_of_keys(mixed, n_shards, binary=False)
    expect = np.zeros(len(mixed), dtype=bool)
    for s in blobs:
        m = msh == s
        expect[m] = filters[s].find_hashes(mixed[m])
    assert np.array_equal(pv.find(mixed, binary=False), expect)


@settings(max_examples=8, deadline=None)
@given(seed=SEEDS,
       n=st.integers(min_value=50, max_value=6000),
       n_shards=st.integers(min_value=2, max_value=12),
       drop=st.integers(min_value=0, max_value=2))
def test_assembled_frozen_tcf_forest_probe_parity(seed, n, n_shards,
                                                  drop):
    """The assembled frozen-TCF forest probe must answer
    bit-identically to per-shard FrozenTaffyCuckooFilter finds under
    ANY shard count and missing-shard subset — including the fp==0
    always-true quirk, which must NOT leak through missing shards.
    When the forest is not
    uniform (a shard grew to a different log_side_size), assemble
    must refuse (None), never mis-answer."""
    import libfilter_spark.spark.probe as P
    from libfilter_spark.kernels.keys import shard_of_keys

    keys = _keys(n, seed)
    sh = shard_of_keys(keys, n_shards, binary=False)
    blobs, frozen = {}, {}
    for s in range(n_shards):
        f = TaffyCuckooFilter.create(max(64, n // n_shards))
        ks = keys[sh == s]
        if len(ks):
            f.add_hashes(ks)
        fr = f.freeze()
        frozen[s], blobs[s] = fr, fr.serialize()
    for s in range(min(drop, n_shards - 1)):
        del blobs[n_shards - 1 - s]
    pv = P._FrozenTcfForestProbe.assemble(n_shards, blobs)
    if pv is None:  # uneven growth made shards non-uniform: refusal
        assert not P._FrozenTcfForestProbe.eligible(n_shards, blobs)
        return
    absent = _keys(2 * n, ~seed & 0xFFFFFFFF)[n:]
    mixed = np.concatenate([keys, absent])
    msh = shard_of_keys(mixed, n_shards, binary=False)
    expect = np.zeros(len(mixed), dtype=bool)
    for s in blobs:
        m = msh == s
        expect[m] = frozen[s].find_hashes(mixed[m])
    assert np.array_equal(pv.find(mixed, binary=False), expect)


@settings(max_examples=8, deadline=None)
@given(seed=SEEDS,
       n=st.integers(min_value=50, max_value=6000),
       n_shards=st.integers(min_value=2, max_value=12),
       drop=st.integers(min_value=0, max_value=2))
def test_assembled_live_tcf_forest_probe_parity(seed, n, n_shards,
                                                drop):
    """The assembled LIVE taffy-cuckoo forest probe must answer
    bit-identically to per-shard TaffyCuckooFilter finds under ANY
    shard count and missing-shard subset (tail-prefix semantics and
    stash entries included). When the forest is not uniform (a shard grew to a different
    log_side_size), assemble must refuse (None), never mis-answer."""
    import libfilter_spark.spark.probe as P
    from libfilter_spark.kernels.keys import shard_of_keys

    keys = _keys(n, seed)
    sh = shard_of_keys(keys, n_shards, binary=False)
    blobs, live = {}, {}
    for s in range(n_shards):
        f = TaffyCuckooFilter.create(max(64, n // n_shards))
        ks = keys[sh == s]
        if len(ks):
            f.add_hashes(ks)
        live[s], blobs[s] = f, f.serialize()
    for s in range(min(drop, n_shards - 1)):
        del blobs[n_shards - 1 - s]
    pv = P._LiveTcfForestProbe.assemble(n_shards, blobs)
    if pv is None:  # uneven growth made shards non-uniform: refusal
        assert not P._LiveTcfForestProbe.eligible(n_shards, blobs)
        return
    absent = _keys(2 * n, ~seed & 0xFFFFFFFF)[n:]
    mixed = np.concatenate([keys, absent])
    msh = shard_of_keys(mixed, n_shards, binary=False)
    expect = np.zeros(len(mixed), dtype=bool)
    for s in blobs:
        m = msh == s
        expect[m] = live[s].find_hashes(mixed[m])
    assert np.array_equal(pv.find(mixed, binary=False), expect)


@settings(max_examples=30, deadline=None)
@given(seed=SEEDS,
       n_nodes=st.integers(min_value=1, max_value=200),
       n_edges=st.integers(min_value=0, max_value=400))
def test_driver_union_find_matches_bfs(seed, n_nodes, n_edges):
    """The near-dup clustering driver fast path (union-find with path
    compression, min-id labels) must agree with an independent BFS
    connected-components reference on arbitrary random graphs —
    self-loops, duplicate edges, and hubs included."""
    import random

    from libfilter_spark.functions.dedup import _driver_union_find

    rng = random.Random(seed)
    edges = [(rng.randrange(n_nodes), rng.randrange(n_nodes))
             for _ in range(n_edges)]

    from pyspark.sql.types import LongType

    class FakeSpark:
        def createDataFrame(self, rows, schema=None):
            return rows   # the property only needs the rows

    got = _driver_union_find(FakeSpark(), edges, LongType())
    if not n_edges:
        assert not len(got)
        return
    labels = dict(got)
    # BFS reference
    adj: dict = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    seen: set = set()
    for start in adj:
        if start in seen:
            continue
        comp, stack = [], [start]
        seen.add(start)
        while stack:
            x = stack.pop()
            comp.append(x)
            for y in adj[x]:
                if y not in seen:
                    seen.add(y)
                    stack.append(y)
        lbl = min(comp)
        for x in comp:
            assert labels[x] == lbl
    assert set(labels) == set(adj)   # exactly the touched nodes
