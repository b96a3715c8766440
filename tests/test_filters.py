"""SURVEY.md §5 layer 1: Bloom (zero false negatives, FP ≤ bound),
cuckoo (delete-then-lookup, false-positive rate)."""

from __future__ import annotations

import numpy as np

from crawlspark.filters import BloomFilter, CuckooFilter


def _keys(n, seed=0):
    return np.random.default_rng(seed).integers(-(2**62), 2**62, size=n)


def test_bloom_no_false_negatives():
    f = BloomFilter(capacity=10_000, fp_rate=0.01)
    added = _keys(10_000, 1)
    f.add_many(added)
    assert f.contains_many(added).all()


def test_bloom_fp_rate_bounded():
    f = BloomFilter(capacity=10_000, fp_rate=0.01)
    f.add_many(_keys(10_000, 1))
    probe = _keys(50_000, 2)
    fp = f.contains_many(probe).mean()
    assert fp < 0.03, f"false-positive rate {fp:.4f} exceeds 3x target"


def test_cuckoo_insert_lookup_delete():
    f = CuckooFilter(capacity=5000)
    keys = _keys(4000, 6)
    for k in keys:
        assert f.insert(int(k))
    assert f.contains_many(keys).all()
    # delete half, they must disappear; the rest must remain
    for k in keys[:2000]:
        assert f.delete(int(k))
    assert not f.contains_many(keys[:2000]).any() or (
        f.contains_many(keys[:2000]).mean() < 0.02  # residual FPs allowed
    )
    assert f.contains_many(keys[2000:]).all()


def test_cuckoo_fp_rate():
    f = CuckooFilter(capacity=5000)
    keys = _keys(4000, 7)
    for k in keys:
        f.insert(int(k))
    probe = _keys(50_000, 8)
    assert f.contains_many(probe).mean() < 0.01
