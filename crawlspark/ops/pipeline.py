"""Composed training-data curation pipeline (the end-to-end story every
individual op exists for): quality-gate -> exact dedup -> near-dup
clustering -> keep one canonical representative per cluster.

One call, four stages, all lazily composed into Spark plans:

1. quality gate — codegen'd feature columns (ops/text.quality_features),
   rows below the floor are dropped with a reason;
2. exact dedup — md5 window (min passing id per content hash) — a WINDOW,
   not a self-join: joining a frame against its own derivative trips
   Spark's ambiguous-self-join resolution, so per-group representatives
   are computed in-lineage;
3. near-dup discovery — SimHash + Manku block-combination banding over
   DISTINCT signatures (ops/dedup.simhash_near_pairs) on the exact
   representatives only;
4. canonicalization — connected components over the pair graph
   (ops/dedup.cluster_pairs); a doc survives iff it IS its cluster's
   minimum-id representative (or belongs to no cluster).

Everything shuffles on hashes/ids, never text except the unavoidable
signature pass; nothing collects to the driver. The per-row outcome is
auditable: ``curation_audit`` returns every input doc with its fate
(kept / dropped_quality / dropped_exact_dup / dropped_near_dup) so
filtering decisions stay explainable at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crawlspark.ops.dedup import cluster_pairs, simhash_near_pairs, with_simhash
from crawlspark.ops.text import quality_features


def curation_audit(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 40,
    min_tokens: int = 5,
    max_hamming: int = 3,
) -> DataFrame:
    """Return every input doc with a ``fate`` column explaining whether a
    curated corpus keeps it, and why not if not. Precedence:
    quality < exact-dup < near-dup (a doc failing quality reports
    dropped_quality even if it is also a duplicate)."""
    scored = (
        quality_features(docs, text_col)
        .select(id_col, text_col, "text_len", "n_tokens")
        .withColumn(
            "_quality_ok",
            (F.col("text_len") >= min_chars) & (F.col("n_tokens") >= min_tokens),
        )
        .withColumn("_md5", F.md5(F.col(text_col)))
        .withColumn(
            "_keep_id",
            F.min(F.when(F.col("_quality_ok"), F.col(id_col))).over(
                Window.partitionBy("_md5")
            ),
        )
    )
    exact_reps = scored.filter(
        F.col("_quality_ok") & (F.col(id_col) == F.col("_keep_id"))
    ).select(id_col, text_col)

    # localCheckpoint: the pair join reads the signatures several times, and
    # Spark re-runs an unpersisted UDF subtree per reference (eager=False:
    # the signature pass runs with the first action, as __spark_entry__'s
    # simhash_near_pairs query does)
    sigs = with_simhash(exact_reps, text_col).localCheckpoint(eager=False)
    pairs = simhash_near_pairs(sigs, id_col=id_col, max_hamming=max_hamming)
    clusters = cluster_pairs(pairs).select(
        F.col("id").alias("_cid"), "cluster_rep"
    )
    return (
        scored.join(clusters, scored[id_col] == clusters["_cid"], "left")
        .select(
            id_col,
            "text_len",
            "n_tokens",
            F.when(~F.col("_quality_ok"), F.lit("dropped_quality"))
            .when(F.col(id_col) != F.col("_keep_id"), F.lit("dropped_exact_dup"))
            .when(
                F.col("cluster_rep").isNotNull()
                & (F.col(id_col) != F.col("cluster_rep")),
                F.lit("dropped_near_dup"),
            )
            .otherwise(F.lit("kept"))
            .alias("fate"),
        )
    )


def quota_sample(
    df: DataFrame,
    group_col: str = "lang",
    quota: int = 100,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-group downsampling for training-data mixing: keep at
    most ``quota`` rows per ``group_col`` value (per-language / per-source
    quotas are how corpus mixes are specified).

    Rows within a group are ranked by ``(md5(id), id)`` — a pseudo-random
    but fully reproducible order, so the sample is stable under re-runs,
    repartitioning, and engine changes (the same property as
    ``with_hash_split``), unlike ``sample()`` whose output depends on
    partitioning. ``qs_rank`` is retained so the selection is auditable.

    Scale: one shuffle on ``group_col``; the ``row_number() <= quota``
    filter collapses to a WindowGroupLimit physical node (partial top-k on
    the map side BEFORE the exchange), so a 10^10-row corpus ships at most
    ``quota`` rows per group per input partition — pinned by
    ``test_plans::test_quota_sample_is_window_group_limit``. A skewed group
    (one lang = 90% of the corpus) therefore costs its mappers, not one
    reducer.
    """
    order = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(group_col).orderBy(order, F.col(id_col))
    return (
        df.withColumn("qs_rank", F.row_number().over(w))
        .filter(F.col("qs_rank") <= quota)
    )


def temperature_mix(
    df: DataFrame,
    group_col: str = "lang",
    total: int = 200,
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based corpus mixing — the α-weighted group sampling of
    public multilingual-LM pipelines (mT5/XLM-R-style α≈0.5 exponent
    smoothing [pub]) at α = 0.5: group g receives
    ``floor(total · w_g / Σw)`` slots where ``w_g = floor(sqrt(n_g))``, so
    small groups are up-weighted relative to proportional sampling.

    Exactness discipline: integer square roots + integer floor division —
    never double ``pow()``, whose last-ulp differences across engines flip
    ``floor()`` at boundaries (``sqrt`` of an exact integer IS correctly
    rounded by IEEE-754 in both Spark and DuckDB, so floor(sqrt(n)) is
    deterministic). Rows within a group rank by ``(md5(id), id)`` exactly
    like :func:`quota_sample`, so the selection is stable under re-runs and
    repartitioning.

    Scale: the sizes frame is |groups| rows (map-side partial count); the
    target table broadcasts back; the per-group rank is one shuffle on
    ``group_col``. The varying per-group limit cannot itself collapse to a
    WindowGroupLimit, so the rank is computed by :func:`quota_sample` at
    the STATIC bound ``quota=total`` (no group's target can exceed
    ``total`` — targets sum to ≤ total by construction): the one ranking
    window IS a WindowGroupLimit (map-side partial top-``total`` before
    the exchange), a dominant group costs its mappers, not one reducer
    sorting its full mass, and the varying ``target`` cut is a plain
    Filter on the already-bounded stream. Selection is unchanged: the
    pre-prune keeps each group's rank-``total`` prefix under the SAME
    ``(md5(id), id)`` order, a superset of every rank-``target`` prefix.
    Pinned by ``test_plans::test_temperature_mix_is_window_group_limit``."""
    sizes = df.groupBy(group_col).agg(F.count("*").alias("n"))
    weights = sizes.withColumn(
        "w", F.floor(F.sqrt(F.col("n"))).cast("long")
    )
    denom = weights.agg(F.sum("w").alias("wsum"))
    targets = (
        weights.crossJoin(F.broadcast(denom))
        .withColumn(
            "target", F.expr(f"CAST({total} AS BIGINT) * w div wsum")
        )
        .select(group_col, "target")
    )
    return (
        quota_sample(df, group_col=group_col, quota=total, id_col=id_col)
        .withColumnRenamed("qs_rank", "mix_rank")
        .join(F.broadcast(targets), group_col)
        .filter(F.col("mix_rank") <= F.col("target"))
    )


def cluster_keep_best(
    docs: DataFrame,
    pairs: DataFrame,
    quality_col: str = "n_tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup canonicalization with a QUALITY keep-policy: instead of
    keeping each cluster's minimum id (curate_corpus's default), keep its
    highest-``quality_col`` member, ties broken by minimum id — the
    practical rule (among near-duplicate copies, keep the longest /
    best-formatted one) in public curation pipelines [pub]. Docs in no
    cluster keep themselves.

    Plan shape: clusters come from :func:`crawlspark.ops.dedup.
    cluster_pairs` (one shuffle per iteration, lineage-truncated); the keep
    rule is ONE additional window over ``cluster_rep`` — the ranking tuple
    is the policy seam (swap in any quality signal)."""
    from crawlspark.ops.dedup import cluster_pairs

    clusters = cluster_pairs(pairs)
    member = (
        docs.join(clusters, docs[id_col] == clusters["id"], "left")
        .withColumn("cluster_rep", F.coalesce("cluster_rep", F.col(id_col)))
        .drop("id")
    )
    w = Window.partitionBy("cluster_rep").orderBy(
        F.desc(quality_col), F.col(id_col)
    )
    return member.withColumn("keep_rank", F.row_number().over(w)).withColumn(
        "kept", F.col("keep_rank") == 1
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_bench: bool = True,
) -> DataFrame:
    """Benchmark decontamination — flag training documents that share any
    word ``n``-gram with an evaluation/benchmark set (the train-test
    overlap filter of public LLM curation pipelines: GPT-3 appendix C /
    Gopher-style 13-gram decontamination [pub] — hence the default
    ``n=13``; smaller n is stricter).

    Plan shape (the part that matters at 10^10 docs): both sides explode to
    ``(id, xxhash64(n-gram))`` — the join ships 16 bytes per gram, never
    text — the benchmark side is DISTINCT gram hashes (a benchmark suite is
    tiny next to a crawl, so Catalyst broadcasts it), and the doc side
    LEFT SEMI joins then dedups to contaminated ids; no row ever carries
    more than one gram. Returns every input doc with a ``contaminated``
    flag plus ``n_grams`` for auditability. Docs shorter than ``n`` words
    have no n-gram and are never contaminated.

    Hash note: flagging via xxhash64(gram) admits a false positive only on
    a 64-bit collision; a decontamination pass PREFERS that direction
    (dropping one extra doc is free, leaking one benchmark doc is not).

    ``broadcast_bench=False`` switches the contamination join to a shuffle
    left-semi (both sides exchange on gram_hash) for "benchmark" inputs too
    large for a driver broadcast — same flags bit-for-bit (pinned by
    test_decontaminate_shuffle_fallback_matches), at one extra shuffle of
    16-byte rows.
    """
    gram_expr = (
        f"transform(sequence(0, size(tokens)-{n}), "
        f"i -> xxhash64(concat_ws(' ', slice(tokens, i+1, {n}))))"
    )

    def grams(df: DataFrame, out_id: str) -> DataFrame:
        toks = df.select(
            F.col(id_col).alias(out_id), F.split(F.col(text_col), " ").alias("tokens")
        ).filter(F.size("tokens") >= n)
        return toks.select(
            out_id, F.explode(F.expr(gram_expr)).alias("gram_hash")
        )

    bench_grams = grams(benchmark, "bench_id").select("gram_hash").distinct()
    # the hint (not just the absence of F.broadcast) matters: Catalyst would
    # otherwise still auto-broadcast a side under its size threshold, and the
    # whole point of the fallback is a bench side too big for the driver
    bench_grams = (
        F.broadcast(bench_grams) if broadcast_bench
        else bench_grams.hint("shuffle_hash")
    )
    contaminated = (
        grams(docs, "doc_id_c")
        .join(bench_grams, "gram_hash", "left_semi")
        .select(F.col("doc_id_c"))
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return (
        docs.join(
            contaminated, docs[id_col] == contaminated["doc_id_c"], "left"
        )
        .withColumn("contaminated", F.coalesce("contaminated", F.lit(False)))
        .withColumn(
            "n_grams",
            F.greatest(
                F.size(F.split(F.col(text_col), " ")) - F.lit(n - 1), F.lit(0)
            ),
        )
        .drop("doc_id_c")
    )


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **kwargs,
) -> DataFrame:
    """The curated corpus itself: input docs whose audit fate is 'kept'."""
    audit = curation_audit(docs, id_col, text_col, **kwargs)
    return docs.join(
        audit.filter(F.col("fate") == "kept").select(id_col), id_col
    )
