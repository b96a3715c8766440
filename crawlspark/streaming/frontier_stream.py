"""Streaming frontier operators (SURVEY.md §2.9 mapping).

Input: a stream of discovered-URL events ``{"ts": timestamp, "url": string}``
(file source in tests; Kafka on a real deployment — same DataFrame code).
The canonicalization and identity functions are the SAME Arrow UDFs the
batch engine uses: one URL identity everywhere.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from crawlspark.functions.canon import canonicalize_udf, with_url_identity

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("url", T.StringType()),
    ]
)


def canonical_url_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """readStream(json events) → canonicalize → identity columns. The scan
    and UDFs are identical to the batch path (C1–C11)."""
    raw = spark.readStream.schema(EVENT_SCHEMA).json(src_dir)
    canon = raw.withColumn("url_canon", canonicalize_udf()(F.col("url"))).filter(
        F.col("url_canon").isNotNull()
    )
    return with_url_identity(canon)


def streaming_seen_filter(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming URL-seen: dropDuplicatesWithinWatermark on url_hash — state
    is bounded by the watermark horizon; at 10^10 scale the horizon bounds
    the state store instead of an ever-growing set (the batch engine's
    exact anti-join handles the unbounded-history case).

    Why the WithinWatermark variant: plain ``dropDuplicates(["url_hash"])``
    only evicts state when the event-time column is PART of the dedup keys —
    keyed on url_hash alone it would keep every key forever and suppress
    duplicates arriving beyond the horizon, contradicting the bounded-state
    claim. ``dropDuplicatesWithinWatermark`` evicts each key once the
    watermark passes its first-seen event time (Spark >= 3.5)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["url_hash"]
    )


def perhost_rate(events: DataFrame, window: str = "30 seconds") -> DataFrame:
    """Windowed per-host discovery counts with late-data tolerance — the
    streaming rendering of G2 hot-domain detection."""
    return (
        events.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", window).alias("win"), F.col("host"))
        .agg(F.count("*").alias("n_urls"))
    )


GATE_OUTPUT = (
    "host string, url_canon string, ts timestamp, admitted boolean, "
    "gate_time timestamp"
)
GATE_STATE = T.StructType([T.StructField("last_fetch_epoch", T.DoubleType())])


def _gate_fn(delay_seconds: float):
    def gate(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (host,) = key
        last = state.get[0] if state.exists else float("-inf")
        # The per-host admission scan is inherently sequential (each
        # decision depends on the previous admitted time), but it runs over
        # plain python lists pulled out of the frame once — iterrows would
        # build a Series per row (~10x the per-row cost) for the same loop.
        urls: list[Any] = []
        stamps: list[Any] = []
        admitted: list[bool] = []
        gate_times: list[Any] = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "url_canon"])
            for ts_val, url in zip(pdf["ts"].tolist(), pdf["url_canon"].tolist()):
                t = ts_val.timestamp()
                ok = t >= last + delay_seconds
                if ok:
                    last = t
                urls.append(url)
                stamps.append(ts_val)
                admitted.append(ok)
                gate_times.append(pd.Timestamp((last if ok else t), unit="s"))
        state.update((last,))
        yield pd.DataFrame(
            {
                "host": host,
                "url_canon": urls,
                "ts": stamps,
                "admitted": admitted,
                "gate_time": gate_times,
            }
        )

    return gate


def politeness_gate(events: DataFrame, delay_seconds: float = 5.0) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-host
    crawl-delay admission — the streaming twin of P3/P4. State = the host's
    last admitted fetch time; survives micro-batches and restarts through
    the state store checkpoint."""
    return (
        events.select("host", "url_canon", "ts")
        .groupBy("host")
        .applyInPandasWithState(
            _gate_fn(delay_seconds),
            outputStructType=GATE_OUTPUT,
            stateStructType=GATE_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


DOC_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def streaming_near_dup_filter(
    docs: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming near-duplicate suppression: the SAME SimHash UDF the batch
    dedup uses (ops/dedup.simhash_udf) signs each doc, and
    dropDuplicatesWithinWatermark on the signature keeps the first doc per
    signature inside the horizon. This is the streaming rendering of the
    batch exact-signature collapse (the banded near-pair join needs
    corpus-wide self-joins and stays batch); state is bounded by the
    watermark exactly like streaming_seen_filter (same rationale for the
    WithinWatermark variant: signature-only dropDuplicates would never evict
    state)."""
    from crawlspark.ops.dedup import simhash_udf

    signed = docs.withColumn("simhash", simhash_udf()(F.col("text")))
    return signed.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["simhash"]
    )
