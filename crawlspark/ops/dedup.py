"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the reason these are built this way):

- exact: one hash-groupBy shuffle on md5(text) — map-side partial agg free.
- banded near-duplicate join (_band_sig_pairs, shared by MinHash+LSH,
  SimHash and ops/similarity.embedding_near_dup_pairs): a self-join of
  the DISTINCT signatures on (band, band_hash), so duplicate-heavy
  corpora cannot blow up a bucket and the shuffle moves only (signature
  identity, band, band_hash) — never text; doc ids re-attach per
  signature pair (_id_pairs).
- MinHash+LSH: signatures in one Arrow pass; bands are hashes of
  `num_perm/bands`-slot slices, keyed by a 64-bit hash of the signature.
- SimHash: 64-bit signature per doc; bands are Manku-style
  block-combination keys (C(h+3, 3) tables of wide packed keys —
  exhaustive for hamming ≤ h by pigeonhole).
- n-gram Jaccard: exact verification on a *blocked* pair set; blocking keys
  bound the quadratic term.
- cluster_pairs: iterative min-label connected components turning the pair
  stream into canonical-representative clusters (one shuffle per iteration).

Signature computation is per-document and embarrassingly parallel; all joins
are equi-joins Catalyst can plan (broadcast when one side is small, SMJ
otherwise). Nothing collects to the driver.
"""

from __future__ import annotations

from hashlib import blake2b

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MERSENNE = (1 << 61) - 1


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: group by content hash, keep the minimum id as the
    representative. Returns (content_md5, keep_id, dup_count)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_md5"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("dup_count"),
        )
    )


# per-worker cache of word-level hashes: natural corpora repeat vocabulary
# heavily, so most words hash once per worker lifetime instead of once per
# shingle occurrence (bounded below to keep worker memory flat)
_WORD_HASH_CACHE: dict[str, int] = {}


def _word_hash(w: str) -> int:
    h = _WORD_HASH_CACHE.get(w)
    if h is None:
        if len(_WORD_HASH_CACHE) > 1_000_000:
            _WORD_HASH_CACHE.clear()
        h = _WORD_HASH_CACHE[w] = int.from_bytes(
            blake2b(w.encode(), digest_size=8).digest(), "big"
        )
    return h


def _shingle_hashes(text: str, k: int) -> np.ndarray:
    """k-gram shingle hashes built from CACHED per-word hashes combined
    positionally (h = mix64(sum_j word_hash[i+j] * ODD_j)) instead of
    hashing each joined shingle string: one blake2b per DISTINCT word per
    worker, and the k-gram combination is a vectorized slide over the word
    hash array — measured ~10x over per-shingle hashing on repeated-vocab
    corpora. Positional multipliers keep the combination order-sensitive
    ("a b c" != "c b a"); mix64 de-linearizes so min-wise sampling stays
    uniform."""
    words = text.split()
    n = len(words)
    hs = np.fromiter((_word_hash(w) for w in words), dtype=np.uint64, count=n)
    with np.errstate(over="ignore"):
        if n == 0:
            return np.array(
                [int.from_bytes(blake2b(b"", digest_size=8).digest(), "big")],
                dtype=np.uint64,
            )
        if n < k:
            acc = np.uint64(0)
            for j in range(n):
                acc += hs[j] * _POS_MULT[j % len(_POS_MULT)]
            return _mix64(np.array([acc], dtype=np.uint64))
        m = n - k + 1
        acc = np.zeros(m, dtype=np.uint64)
        for j in range(k):
            acc += hs[j : j + m] * _POS_MULT[j % len(_POS_MULT)]
        return _mix64(acc)


_POS_MULT = np.array(
    [0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
     0x27D4EB2F165667C5, 0x85EBCA77C2B2AE63], dtype=np.uint64
)


def _mix64(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer (vectorized uint64, wraparound arithmetic)."""
    h = h.copy()
    h ^= h >> np.uint64(30)
    h *= np.uint64(0xBF58476D1CE4E5B9)
    h ^= h >> np.uint64(27)
    h *= np.uint64(0x94D049BB133111EB)
    h ^= h >> np.uint64(31)
    return h


def minhash_udf(num_perm: int = 64, shingle_k: int = 3, seed: int = 42):
    """MinHash signature as array<long>: multiply-shift universal hashing
    h_i(x) = mix64(a_i*x + b_i) (mod 2^64 wraparound) over 8-byte shingle
    hashes, min per i. Native uint64 numpy throughout — object-dtype mod-p
    math is ~50x slower AND scales badly across many worker processes
    (allocator contention); wraparound uint64 ops are allocation-light."""
    rng = np.random.default_rng(seed)
    a = (rng.integers(1, 2**63, size=num_perm, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    b = rng.integers(0, 2**63, size=num_perm, dtype=np.uint64)

    @F.pandas_udf("array<long>")
    def _minhash(texts: pd.Series) -> pd.Series:
        out = []
        with np.errstate(over="ignore"):
            for t in texts:
                if not t:
                    out.append([0] * num_perm)
                    continue
                sh = _shingle_hashes(t, shingle_k)
                vals = _mix64(a[:, None] * sh[None, :] + b[:, None])
                sig = vals.min(axis=1).astype(np.int64)  # two's-complement view
                out.append(sig.tolist())
        return pd.Series(out, index=texts.index)

    return _minhash


def with_minhash(
    df: DataFrame,
    text_col: str = "text",
    num_perm: int = 64,
    shingle_k: int = 3,
) -> DataFrame:
    return df.withColumn("minhash", minhash_udf(num_perm, shingle_k)(F.col(text_col)))


def _band_sig_pairs(sigs: DataFrame, sig_col: str, key_expr: str) -> DataFrame:
    """The banded self-join of lsh_candidate_pairs and simhash_near_pairs
    (and so of ops/similarity.embedding_near_dup_pairs): the distinct
    colliding signature pairs (sig_a < sig_b) of ``sigs``, which holds the
    signature identity ``sig_col`` plus the columns the SQL array
    expression ``key_expr`` (one key per band) reads.

    Banding runs over DISTINCT signatures: D exact copies of a document put
    one row, not D, into each of its band buckets, so bucket populations
    are bounded by distinct-signature collisions, never by corpus
    duplication. The band exchange carries only (``sig_col``, band,
    band_hash)."""
    banded = sigs.distinct().select(
        sig_col, F.posexplode(F.expr(key_expr)).alias("band", "band_hash")
    )
    l, r = banded.alias("l"), banded.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col(f"l.{sig_col}") < F.col(f"r.{sig_col}")),
        )
        .select(F.col(f"l.{sig_col}").alias("sig_a"),
                F.col(f"r.{sig_col}").alias("sig_b"))
        .dropDuplicates(["sig_a", "sig_b"])
    )


def _id_pairs(
    sig_pairs: DataFrame, ids: DataFrame, sig_col: str, score: str, same_score: float
) -> DataFrame:
    """Doc-id pairs (id_a < id_b, ``score``) from scored signature pairs
    (sig_a, sig_b, ``score``): ids (id, ``sig_col``) re-attach per
    signature pair, and docs with identical signatures pair within their
    group at ``same_score``."""
    cross_sig = (
        sig_pairs.join(ids.select(F.col("id").alias("id_a"),
                                  F.col(sig_col).alias("sig_a")), "sig_a")
        .join(ids.select(F.col("id").alias("id_b"),
                         F.col(sig_col).alias("sig_b")), "sig_b")
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            score,
        )
    )
    same_sig = (
        ids.alias("a")
        .join(ids.alias("b"),
              (F.col(f"a.{sig_col}") == F.col(f"b.{sig_col}"))
              & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.lit(same_score).alias(score))
    )
    return cross_sig.unionByName(same_sig).dropDuplicates(["id_a", "id_b"])


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
) -> DataFrame:
    """LSH banding: split each signature into `bands` rows of `num_perm/bands`
    values, bucket-join on (band, hash(rows)), emit distinct candidate pairs
    with the MinHash Jaccard estimate (fraction of equal signature slots).

    The bucket join is _band_sig_pairs over the distinct signatures,
    identified by a 64-bit xxhash64 of the full signature array
    (`sig_key`), so the band shuffle moves 24 bytes per row, never the
    64x8-byte signature. `est_jaccard` is computed once per DISTINCT
    signature pair; identical-signature docs pair at est_jaccard 1.0, the
    exact value the slot comparison yields for equal arrays.

    Collision caveat: sig_key is a 64-bit hash OF the signature, so two
    DISTINCT signatures colliding on it are silently merged — the same_sig
    branch then emits their doc pairs at est_jaccard 1.0. Note the failure
    DIRECTION: this is a FALSE POSITIVE feeding a deletion policy (a doc
    wrongly dropped as a dup), the unsafe direction — unlike decontaminate,
    where a hash false positive merely over-filters. At P(collision) ≈
    n_distinct²/2^65 this needs ~10^9 distinct signatures to reach ~3%;
    pipelines above that scale (or deleting without the downstream
    ngram/exact verify stage this repo pairs LSH with) should re-key the
    same_sig join and the dmap/ids re-attach on the minhash array itself —
    the 24-byte band shuffle can keep the hash either way."""
    r = num_perm // bands
    sigs = sig_df.select(F.xxhash64("minhash").alias("sig_key"), "minhash")
    key_pairs = _band_sig_pairs(
        sigs,
        "sig_key",
        f"transform(sequence(0, {bands - 1}), "
        f"b -> hash(slice(minhash, b*{r}+1, {r})))",
    )
    dmap = sigs.distinct()
    sig_pairs = (
        key_pairs.join(
            dmap.select(F.col("sig_key").alias("sig_a"),
                        F.col("minhash").alias("mh_a")), "sig_a")
        .join(
            dmap.select(F.col("sig_key").alias("sig_b"),
                        F.col("minhash").alias("mh_b")), "sig_b")
        .select(
            "sig_a",
            "sig_b",
            (
                F.expr(
                    "aggregate(zip_with(mh_a, mh_b, (x, y) -> CAST(x = y AS INT)), "
                    "0, (acc, v) -> acc + v)"
                ).cast("double")
                / F.lit(num_perm)
            ).alias("est_jaccard"),
        )
    )
    ids = sig_df.select(
        F.col(id_col).alias("id"), F.xxhash64("minhash").alias("sig_key")
    )
    return _id_pairs(sig_pairs, ids, "sig_key", "est_jaccard", 1.0)


def simhash_udf(seed: int = 42):
    """64-bit SimHash over whitespace tokens (weighted bit-vote), returned as
    signed long. Bit votes are a numpy (n_words × 64) reduction per doc."""

    @F.pandas_udf("long")
    def _simhash(texts: pd.Series) -> pd.Series:
        bit_idx = np.arange(64, dtype=np.uint64)
        key = str(seed).encode()
        word_cache: dict[str, int] = {}  # natural text repeats words heavily

        def word_hash(w: str) -> int:
            h = word_cache.get(w)
            if h is None:
                h = int.from_bytes(
                    blake2b(w.encode(), digest_size=8, key=key).digest(), "big"
                )
                word_cache[w] = h
            return h

        def one(t: str | None) -> int:
            if not t:
                return 0
            words = t.split()
            hs = np.fromiter(
                (word_hash(w) for w in words), dtype=np.uint64, count=len(words)
            )
            bits = (hs[:, None] >> bit_idx[None, :]) & np.uint64(1)  # n×64
            votes = (2 * bits.astype(np.int64) - 1).sum(axis=0)
            v = int(((votes >= 0).astype(np.uint64) << bit_idx).sum(dtype=np.uint64))
            return v - (1 << 64) if v >= (1 << 63) else v

        return texts.map(one)

    return _simhash


def with_simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("simhash", simhash_udf()(F.col(text_col)))


def _simhash_key_expr(num_blocks: int, choose: int) -> str:
    """SQL array expression of the Manku-style multi-table keys (Manku,
    Jain & Das Sarma, WWW 2007 [pub]): split 64 bits into ``num_blocks``
    blocks; a pair within hamming h ≤ num_blocks - choose agrees on ≥ choose
    blocks, so joining every C(num_blocks, choose) block-combination key is
    exhaustive. Each key packs its blocks into one long (~32-bit keys for
    6-choose-3), so bucket populations at 10^9-doc scale stay O(n/2^32) —
    the round-1 16-bit chunks gave only 65,536 buckets per table and
    ~10^8-candidate buckets."""
    from itertools import combinations

    width = 64 // num_blocks  # 64 % num_blocks high bits fold into block 0
    offs, sizes = [], []
    pos = 0
    for i in range(num_blocks):
        w = width + (64 - width * num_blocks if i == 0 else 0)
        offs.append(pos)
        sizes.append(w)
        pos += w

    def block(i: int) -> str:
        mask = (1 << sizes[i]) - 1
        return f"(shiftright(simhash, {offs[i]}) & {mask})"

    keys = []
    for combo in combinations(range(num_blocks), choose):
        parts, shift = [], 0
        for i in combo:
            parts.append(f"(shiftleft({block(i)}, {shift}))")
            shift += sizes[i]
        keys.append(" | ".join(parts))
    return "array(" + ", ".join(keys) + ")"


def simhash_near_pairs(
    sim_df: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    num_blocks: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance ≤ max_hamming.

    The bucket join is _band_sig_pairs over the distinct signatures, keyed
    by block-combinations (6 choose 3 → 20 tables of ~32-bit keys for
    hamming ≤ 3), exhaustive by pigeonhole: ≤3 dirty blocks leave ≥3 clean
    ones, and that exact combination collides. Doc-level pairs are then
    expanded by joining ids back per signature pair; identical-signature
    docs (hamming 0) pair within their signature group.

    ``num_blocks`` trades table count against key width (any value >
    max_hamming is exhaustive by the same pigeonhole): the default
    max_hamming+3 gives wide ~32-bit keys (10^9-doc buckets stay tiny);
    num_blocks=5 at hamming ≤ 3 gives C(5,2)=10 tables of ~26-bit keys —
    half the explode/shuffle rows, the right call below ~10^7 distinct
    signatures where 26-bit buckets are still sparse.
    """
    if num_blocks is None:
        num_blocks = max_hamming + 3  # h dirty blocks leave `choose` clean
    if not (max_hamming < num_blocks <= 16):
        raise ValueError(f"need max_hamming < num_blocks <= 16, got {num_blocks}")
    choose = num_blocks - max_hamming
    sig_pairs = (
        _band_sig_pairs(
            sim_df.select("simhash"), "simhash", _simhash_key_expr(num_blocks, choose)
        )
        .withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= max_hamming)
    )
    ids = sim_df.select(F.col(id_col).alias("id"), "simhash")
    return _id_pairs(sig_pairs, ids, "simhash", "hamming", 0)


def ngram_jaccard_pairs(
    df: DataFrame,
    block_cols: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact token-set Jaccard over a blocked pair set. Blocking keys bound
    the quadratic join; the set algebra is JVM higher-order functions."""
    toks = df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in block_cols],
        F.array_distinct(F.split(F.col(text_col), " ")).alias("toks"),
    )
    l, r = toks.alias("l"), toks.alias("r")
    cond = F.col("l.id") < F.col("r.id")
    for c in block_cols:
        cond = cond & (F.col(f"l.{c}") == F.col(f"r.{c}"))
    return (
        l.join(r, cond)
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            (
                F.size(F.array_intersect("l.toks", "r.toks")).cast("double")
                / F.size(F.array_union("l.toks", "r.toks")).cast("double")
            ).alias("jaccard"),
        )
    )


def cluster_pairs(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over the near-duplicate pair graph: assign every
    doc the MINIMUM id reachable through pairs — the canonical
    representative a dedup pipeline keeps. Returns (id, cluster_rep).

    Algorithm: iterative min-label propagation (the two-phase
    large-star/small-star formulation of Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014 [pub], collapses to this
    single alternation when labels are propagated symmetrically): each step
    joins every vertex's label with its neighbors' labels and keeps the
    minimum; converged when no label changes. Each iteration is one shuffle
    on the vertex id; iteration count is bounded by the cluster diameter,
    which for near-dup graphs is small (dup clusters are dense). The
    convergence check rides the same aggregation that computes the next
    labels (one job per iteration, not two).
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
        .persist()
    )
    # Each iteration TRUNCATES lineage with localCheckpoint: labels feeds two
    # joins per step, so without truncation the logical plan doubles every
    # iteration — exponential driver-side analysis (measured: OOM near
    # diameter 16) — and the round-2 persist/unpersist ordering additionally
    # recomputed all prior iterations' data (unpersisted parents before the
    # lazy child cache materialized). localCheckpoint(eager=False) replaces
    # the plan with a LogicalRDD; the convergence agg below is the action
    # that materializes it, so each iteration is ONE job over O(1)-depth
    # plans reading the previous iteration's cached blocks. (On a
    # multi-executor cluster localCheckpoint trades executor-loss recovery
    # for speed — the documented contract for iterative refinement; a
    # reliable checkpoint dir restores recovery if needed.) Pinned by
    # test_cluster_pairs_iteration_cost_is_flat.
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels["id"] == neighbor_min["src"], "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
                (F.coalesce(F.col("nmin"), F.col("label")) < F.col("label"))
                .cast("long")
                .alias("_chg"),
            )
            .localCheckpoint(eager=False)
        )
        changed = new_labels.agg(F.sum("_chg")).first()[0] or 0
        # drop the convergence bookkeeping column so it is not carried
        # through every subsequent iteration's joins and checkpoints
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    edges.unpersist()
    return labels.select(F.col("id"), F.col("label").alias("cluster_rep"))
