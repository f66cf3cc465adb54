"""TaffyBlock property tests: growth preserves keys (InsertPersists
across upsizes, cpp/extras/test/block.cpp:152-172 analogue), fpp budget
holds across levels, schedule-aligned merge is byte-identical."""

import numpy as np

from libfilter_spark.filters import TaffyBlockFilter
from libfilter_spark.kernels.keys import splitmix64


def test_growth_preserves_keys():
    f = TaffyBlockFilter.create(100, 0.01)
    keys = splitmix64(16_000, seed=20)
    for stop in (100, 500, 2_000, 8_000, 16_000):
        f.add_hashes(keys[len(keys[:stop]) - stop:stop])
    # insert one at a time over a prefix too, checking cumulatively
    g = TaffyBlockFilter.create(64, 0.01)
    for i, k in enumerate(keys[:2_000]):
        g.add_hash(int(k))
        if i % 500 == 499:
            assert g.find_hashes(keys[:i + 1]).all()
    assert g.cursor > 1  # actually grew


def test_batch_insert_equals_single_insert():
    keys = splitmix64(5_000, seed=21)
    a = TaffyBlockFilter.create(100, 0.01)
    a.add_hashes(keys)
    b = TaffyBlockFilter.create(100, 0.01)
    for k in keys:
        b.add_hash(int(k))
    assert a == b
    assert a.serialize() == b.serialize()


def test_false_positives_bounded():
    f = TaffyBlockFilter.create(100, 0.01)
    keys = splitmix64(50_000, seed=22)
    f.add_hashes(keys)
    absent = splitmix64(500_000, seed=23)
    measured = f.find_hashes(absent).mean()
    assert measured <= 2 * 0.01  # reference's own empirical bound shape


def test_start_empty():
    f = TaffyBlockFilter.create(1000, 0.01)
    assert not f.find_hashes(splitmix64(10_000, seed=24)).any()


def test_serde_roundtrip():
    f = TaffyBlockFilter.create(100, 0.01)
    keys = splitmix64(10_000, seed=25)
    f.add_hashes(keys)
    g = TaffyBlockFilter.deserialize(f.serialize())
    assert g == f
    assert g.find_hashes(keys).all()
    assert g.serialize() == f.serialize()


def test_merge_associativity_byte_identical():
    keys = splitmix64(40_000, seed=26)
    parts = np.array_split(keys, 8)
    filters = []
    for p in parts:
        f = TaffyBlockFilter.create(1000, 0.01)
        f.add_hashes(p)
        filters.append(f)
    rng = np.random.default_rng(27)
    blobs = set()
    for _ in range(5):
        order = rng.permutation(8)
        acc = filters[order[0]]
        for i in order[1:]:
            acc = acc.union(filters[i])
        blobs.add(acc.serialize())
        assert acc.find_hashes(keys).all()
    assert len(blobs) == 1


def test_merge_requires_same_schedule():
    import pytest
    a = TaffyBlockFilter.create(100, 0.01)
    b = TaffyBlockFilter.create(200, 0.01)
    if (a.ndv0, a.fpp_goal) != (b.ndv0, b.fpp_goal):
        with pytest.raises(ValueError):
            a.union(b)


def test_deserialize_view_probe_equivalent():
    """Zero-copy view deserialization (assembled-probe path): identical
    probe results to the copying deserialize on a GROWN multi-level
    stack, without mutating the underlying buffer."""
    import numpy as np

    from libfilter_spark.filters import TaffyBlockFilter
    from libfilter_spark.kernels.keys import splitmix64
    f = TaffyBlockFilter.create(64, 0.01)
    keys = splitmix64(50_000, seed=5)
    f.add_hashes(keys)  # forces many upsizes
    blob = f.serialize()
    g = TaffyBlockFilter.deserialize_view(blob)
    assert g.cursor == f.cursor and g.ttl == f.ttl
    assert g.find_hashes(keys).all()
    absent = splitmix64(100_000, seed=5)[50_000:]
    assert np.array_equal(g.find_hashes(absent), f.find_hashes(absent))
