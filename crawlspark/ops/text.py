"""Text analysis operators (tokenize / quality / language-ID / fingerprint).

All hot paths are JVM built-ins (split, size, filter, md5, array_sort) so
they stay inside whole-stage codegen; only language-ID — a genuinely
non-relational scoring function — crosses to Python, as one Arrow-batched
pandas UDF.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Small function-word profiles for the five fixture languages. Public
# common-word lists; enough to separate languages on bag-of-words text.
_LANG_PROFILES: dict[str, frozenset] = {
    "en": frozenset(
        "the a of and to in is it you that he was for on are as with his they at".split()
    ),
    "de": frozenset(
        "der die das und zu den von ist mit sich des auf für nicht ein eine als auch es an".split()
    ),
    "fr": frozenset(
        "le la les de des un une et est dans que pour qui sur pas plus par il au ce ne".split()
    ),
    "es": frozenset(
        "el la los las de un una y es en que por para con no se del al lo como".split()
    ),
    "it": frozenset(
        "il la i le di un una e è in che per con non si del al lo come della".split()
    ),
}

STOPWORDS_EN = sorted(_LANG_PROFILES["en"])


def with_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokenization; `n_tokens` column. JVM-side."""
    return df.withColumn("tokens", F.split(F.col(text_col), " ")).withColumn(
        "n_tokens", F.size("tokens")
    )


BPE_ISH_PATTERN = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


def with_bpe_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    """BPE-ish pre-tokenization (the GPT-2-style split shape on its ASCII
    subset [pub]: space-prefixed letter runs, digit runs, punctuation runs)
    as a pure JVM regexp — whole-stage codegen, no python. `bpe_tokens` +
    `n_bpe_tokens` columns; the counting query this feeds is the
    training-cost estimator of a curation pipeline."""
    toks = F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), F.lit(0))
    return df.withColumn("bpe_tokens", toks).withColumn(
        "n_bpe_tokens", F.size("bpe_tokens")
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring features: length, token count, mean token length,
    English stopword ratio. All codegen'd column expressions."""
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    return (
        with_tokens(df, text_col)
        .withColumn("text_len", F.length(text_col))
        .withColumn(
            "n_stop",
            F.expr(f"size(filter(tokens, w -> w IN ({stop_list})))"),
        )
        .withColumn(
            "stop_ratio",
            F.col("n_stop").cast("double") / F.col("n_tokens").cast("double"),
        )
        .withColumn(
            "mean_token_len",
            (F.col("text_len") - F.col("n_tokens") + 1).cast("double")
            / F.col("n_tokens").cast("double"),
        )
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 over the sorted distinct token set —
    order-insensitive content identity (bag-of-words winnowing rendered with
    exact set semantics so it is oracle-checkable in ANSI SQL)."""
    return df.withColumn(
        "fingerprint",
        F.md5(
            F.concat_ws(
                " ", F.array_sort(F.array_distinct(F.split(F.col(text_col), " ")))
            )
        ),
    )


def lang_id_udf():
    """Language ID: argmax over per-language function-word hit ratios.

    Vectorized per Arrow batch: the batch's tokens explode into ONE flat
    word array, pd.factorize hashes it to integer codes in a single C pass,
    profile membership is decided once per UNIQUE token (vocabulary, not
    corpus, sized), and per-row hit counts come from bincount over the
    code-indexed membership table. The argmax over the (rows × languages)
    score matrix replays the scalar loop's semantics exactly — np.argmax
    returns the FIRST maximum, which is the profile iteration order, and
    `und` wins when every score is 0 (empty/None text included). Scores
    are the same int/int → float64 division the per-row loop performed, so
    predictions are bit-identical."""
    import numpy as np

    langs = list(_LANG_PROFILES)
    prof_sets = [_LANG_PROFILES[lang] for lang in langs]

    @F.pandas_udf("string")
    def _lang(texts: pd.Series) -> pd.Series:
        n = len(texts)
        if n == 0:
            return pd.Series([], dtype="object")
        word_lists = [t.split() if t else [] for t in texts]
        lens = np.fromiter((len(w) for w in word_lists), dtype=np.int64, count=n)
        flat = [w for ws in word_lists for w in ws]
        if not flat:
            return pd.Series(["und"] * n, dtype="object")
        codes, uniques = pd.factorize(np.array(flat, dtype="object"))
        memb = np.zeros((len(uniques), len(langs)), dtype=bool)
        for j, prof in enumerate(prof_sets):
            memb[:, j] = [u in prof for u in uniques]
        row_ids = np.repeat(np.arange(n), lens)
        hits = memb[codes]
        counts = np.zeros((n, len(langs)), dtype=np.int64)
        for j in range(len(langs)):
            m = hits[:, j]
            if m.any():
                counts[:, j] = np.bincount(row_ids[m], minlength=n)
        safe_lens = np.where(lens > 0, lens, 1)
        scores = counts / safe_lens[:, None]
        best = scores.max(axis=1)
        idx = scores.argmax(axis=1)
        out = np.where(
            best > 0.0, np.array(langs, dtype="object")[idx], "und"
        )
        return pd.Series(out)

    return _lang


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("lang_pred", lang_id_udf()(F.col(text_col)))


def with_hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 80,
    val_pct: int = 10,
    buckets: int = 100,
) -> DataFrame:
    """Deterministic train/val/test assignment: bucket = the first 16 bits
    of md5(id) mod `buckets`. Hash-based (not random) so the split is
    stable under re-runs, repartitioning and incremental appends — the
    property a training pipeline needs so later crawl increments never
    migrate documents between splits. Pure codegen (md5 + conv), no shuffle
    and no sampling pass. `split_bucket` + `split` columns.

    The percentage thresholds are scaled to `buckets` (floor), so a custom
    bucket count keeps train/val/test proportions instead of silently
    reinterpreting percentages as bucket indexes (train_pct=80 with
    buckets=50 splits at bucket 40, not at 80 = everything)."""
    train_cut = (buckets * train_pct) // 100
    val_cut = (buckets * (train_pct + val_pct)) // 100
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10)
        .cast("int")
        % buckets
    )
    return df.withColumn("split_bucket", bucket).withColumn(
        "split",
        F.when(F.col("split_bucket") < train_cut, F.lit("train"))
        .when(F.col("split_bucket") < val_cut, F.lit("val"))
        .otherwise(F.lit("test")),
    )


# ASCII-only patterns with identical semantics under Java regex (Spark) and
# RE2 (DuckDB) — same cross-engine discipline as BPE_ISH_PATTERN above.
PII_EMAIL_PATTERN = "[A-Za-z0-9._]+@[A-Za-z0-9.]+"
PII_PHONE_PATTERN = "[0-9]{3}-[0-9]{4}"


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrubbing for training-data curation: count and mask email- and
    phone-shaped spans. Whole-stage codegen (regexp_extract_all /
    regexp_replace); `n_emails`, `n_phones`, `scrubbed` columns."""
    emails = F.regexp_extract_all(
        F.col(text_col), F.lit(PII_EMAIL_PATTERN), F.lit(0)
    )
    phones = F.regexp_extract_all(
        F.col(text_col), F.lit(PII_PHONE_PATTERN), F.lit(0)
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col(text_col), PII_EMAIL_PATTERN, "<EMAIL>"),
        PII_PHONE_PATTERN,
        "<PHONE>",
    )
    return (
        df.withColumn("n_emails", F.size(emails))
        .withColumn("n_phones", F.size(phones))
        .withColumn("scrubbed", scrubbed)
    )


def with_repetition(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Duplicate-bigram fraction — the within-document repetition signal of
    public LLM curation pipelines (Gopher/MassiveText-style repetitious-text
    filters [pub]): 1 − distinct-bigrams / bigrams. Higher-order array
    functions only (transform over token indexes), fully JVM-side;
    `n_bigrams`, `n_distinct_bigrams`, `rep_ratio` columns."""
    out = with_tokens(df, text_col).withColumn(
        "bigrams",
        F.when(
            F.size("tokens") >= 2,
            F.expr(
                "transform(sequence(0, size(tokens)-2),"
                " i -> concat(tokens[i], ' ', tokens[i+1]))"
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    return (
        out.withColumn("n_bigrams", F.size("bigrams"))
        .withColumn("n_distinct_bigrams", F.size(F.array_distinct("bigrams")))
        .withColumn(
            "rep_ratio",
            F.when(
                F.col("n_bigrams") > 0,
                F.lit(1.0)
                - F.col("n_distinct_bigrams").cast("double")
                / F.col("n_bigrams").cast("double"),
            ).otherwise(F.lit(0.0)),
        )
    )
