"""Membership structures (SURVEY.md §2.3, A3–A4): a Bloom filter and a
deletable cuckoo filter.

PySpark does not expose ``DataFrameStatFunctions.bloomFilter`` (Scala-only —
SURVEY.md §0.3), so both structures are custom and numpy-vectorized.

The engine answers "seen?" with the exact anti-join against the ``seen``
table alone: a Bloom prefilter in front of it added a shuffle and two Python
stages per round and never saved the seen-side work (BASELINE.md, "Exact
anti-join only"). ``BloomFilter`` stays as a measured primitive
(perfbench's ``filters.bloom_*`` microbenchmarks). The cuckoo filter holds
the deletable politeness ban set; the engine probes it once per host when it
builds the robots dim (``CrawlEngine._robots_df``).
"""

from __future__ import annotations

import math

import numpy as np

__all__ = ["BloomFilter", "CuckooFilter"]

_GOLDEN64 = np.uint64(0x9E3779B97F4A7C15)


def _mix(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — derives a second independent 64-bit stream from
    the xxhash64 url_hash so k Bloom probes use double hashing h1 + i*h2."""
    h = h.astype(np.uint64, copy=True)
    h += _GOLDEN64
    h ^= h >> np.uint64(30)
    h *= np.uint64(0xBF58476D1CE4E5B9)
    h ^= h >> np.uint64(27)
    h *= np.uint64(0x94D049BB133111EB)
    h ^= h >> np.uint64(31)
    return h


class BloomFilter:
    """Plain Bloom filter over int64 keys (the xxhash64 of a canonical URL).

    Vectorized: ``add_many`` / ``contains_many`` take numpy int64 arrays and
    touch the bitset with numpy fancy indexing — no per-element Python.
    """

    def __init__(self, capacity: int, fp_rate: float = 0.01):
        capacity = max(int(capacity), 8)
        m = max(64, int(-capacity * math.log(fp_rate) / (math.log(2) ** 2)))
        self.n_bits = ((m + 63) // 64) * 64
        self.k = max(1, round(self.n_bits / capacity * math.log(2)))
        self.bits = np.zeros(self.n_bits // 8, dtype=np.uint8)
        self.n_items = 0

    # -- positions: double hashing (Kirsch & Mitzenmacher 2006 [pub]) -------
    def _positions(self, keys: np.ndarray) -> np.ndarray:
        h1 = keys.astype(np.uint64)
        h2 = _mix(h1) | np.uint64(1)
        i = np.arange(self.k, dtype=np.uint64)[:, None]
        return ((h1[None, :] + i * h2[None, :]) % np.uint64(self.n_bits)).astype(
            np.int64
        )

    def add_many(self, keys: np.ndarray) -> None:
        if len(keys) == 0:
            return
        pos = self._positions(np.asarray(keys, dtype=np.int64)).ravel()
        np.bitwise_or.at(self.bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
        self.n_items += len(keys)

    def contains_many(self, keys: np.ndarray) -> np.ndarray:
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(np.asarray(keys, dtype=np.int64))
        hit = (self.bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
        return hit.all(axis=0).astype(bool)


class CuckooFilter:
    """Deletable approximate-membership filter (Fan et al., CoNEXT 2014 [pub]).

    Used for the *deletable politeness ban* set (A4, BASELINE.json:6): hosts
    get banned and later unbanned; a Bloom filter cannot delete, a cuckoo
    filter can. 4-slot buckets, 16-bit fingerprints, partial-key cuckoo
    hashing; numpy table so lookup_many is vectorized.
    """

    SLOTS = 4
    MAX_KICKS = 500

    def __init__(self, capacity: int):
        n_buckets = 1
        while n_buckets * self.SLOTS < max(capacity, 16) * 1.25:
            n_buckets *= 2
        self.n_buckets = n_buckets
        self.table = np.zeros((n_buckets, self.SLOTS), dtype=np.uint16)
        self.n_items = 0
        self._rng = np.random.default_rng(42)  # deterministic kick choice

    def _fingerprint(self, keys: np.ndarray) -> np.ndarray:
        fp = (_mix(keys.astype(np.uint64)) & np.uint64(0xFFFF)).astype(np.uint16)
        fp[fp == 0] = 1  # 0 means empty slot
        return fp

    def _index1(self, keys: np.ndarray) -> np.ndarray:
        return (keys.astype(np.uint64) % np.uint64(self.n_buckets)).astype(np.int64)

    def _alt_index(self, idx: np.ndarray, fp: np.ndarray) -> np.ndarray:
        h = _mix(fp.astype(np.uint64))
        return ((idx.astype(np.uint64) ^ h) % np.uint64(self.n_buckets)).astype(
            np.int64
        )

    def insert(self, key: int) -> bool:
        fp = self._fingerprint(np.array([key], dtype=np.int64))[0]
        i1 = int(self._index1(np.array([key], dtype=np.int64))[0])
        i2 = int(self._alt_index(np.array([i1]), np.array([fp]))[0])
        for i in (i1, i2):
            empty = np.flatnonzero(self.table[i] == 0)
            if len(empty):
                self.table[i, empty[0]] = fp
                self.n_items += 1
                return True
        # relocate
        i = i1
        for _ in range(self.MAX_KICKS):
            s = int(self._rng.integers(0, self.SLOTS))
            fp, self.table[i, s] = self.table[i, s], fp
            i = int(self._alt_index(np.array([i]), np.array([fp]))[0])
            empty = np.flatnonzero(self.table[i] == 0)
            if len(empty):
                self.table[i, empty[0]] = fp
                self.n_items += 1
                return True
        return False  # table full — caller must resize

    def delete(self, key: int) -> bool:
        fp = self._fingerprint(np.array([key], dtype=np.int64))[0]
        i1 = int(self._index1(np.array([key], dtype=np.int64))[0])
        i2 = int(self._alt_index(np.array([i1]), np.array([fp]))[0])
        for i in (i1, i2):
            hit = np.flatnonzero(self.table[i] == fp)
            if len(hit):
                self.table[i, hit[0]] = 0
                self.n_items -= 1
                return True
        return False

    def contains_many(self, keys: np.ndarray) -> np.ndarray:
        keys = np.asarray(keys, dtype=np.int64)
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        fp = self._fingerprint(keys)
        i1 = self._index1(keys)
        i2 = self._alt_index(i1, fp)
        in1 = (self.table[i1] == fp[:, None]).any(axis=1)
        in2 = (self.table[i2] == fp[:, None]).any(axis=1)
        return in1 | in2
