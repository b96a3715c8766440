"""Structured Streaming mapping (SURVEY.md §2.9): canonicalize → streaming
dedup → windowed per-host counts → stateful politeness gate, with state
persisting across micro-batch restarts via the checkpoint."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F


def _write_events(path, events, name):
    path.mkdir(parents=True, exist_ok=True)
    with open(path / f"{name}.json", "w") as f:
        for ts, url in events:
            f.write(json.dumps({"ts": ts, "url": url}) + "\n")


def _run_available_now(stream_df, out_dir, ckpt):
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive


def test_streaming_canonicalize_and_dedup(spark, tmp_path):
    from crawlspark.streaming import canonical_url_stream, streaming_seen_filter

    src = tmp_path / "src"
    _write_events(
        src,
        [
            ("2026-01-01 00:00:01", "HTTP://HOST00.EXAMPLE/a/start#frag"),
            ("2026-01-01 00:00:02", "http://host00.example:80/a/start"),  # dup
            ("2026-01-01 00:00:03", "http://host01.example/b?z=1&a=2"),
            ("2026-01-01 00:00:04", "ftp://bad.example/x"),  # filtered scheme
        ],
        "batch0",
    )
    stream = streaming_seen_filter(canonical_url_stream(spark, str(src)))
    out = tmp_path / "out"
    _run_available_now(stream, out, tmp_path / "ckpt")
    rows = spark.read.parquet(str(out)).collect()
    got = sorted(r["url_canon"] for r in rows)
    assert got == [
        "http://host00.example/a/start",
        "http://host01.example/b?a=2&z=1",
    ]


def test_streaming_perhost_rate(spark, tmp_path):
    from crawlspark.streaming import canonical_url_stream, perhost_rate

    src = tmp_path / "src"
    _write_events(
        src,
        [(f"2026-01-01 00:00:{i:02d}", f"http://host00.example/p{i}") for i in range(5)]
        + [("2026-01-01 00:00:09", "http://host01.example/x")],
        "batch0",
    )
    stream = perhost_rate(canonical_url_stream(spark, str(src)))
    q = (
        stream.writeStream.format("memory")
        .queryName("rates")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["host"]: r["n_urls"] for r in spark.sql("select * from rates").collect()}
    assert rows == {"host00.example": 5, "host01.example": 1}


def test_politeness_gate_state_survives_restart(spark, tmp_path):
    """The applyInPandasWithState crawl-delay gate must carry per-host state
    across separate micro-batch runs through the state-store checkpoint."""
    from crawlspark.streaming import canonical_url_stream, politeness_gate

    src = tmp_path / "src"
    ckpt = tmp_path / "ckpt"
    out = tmp_path / "out"

    _write_events(
        src,
        [
            ("2026-01-01 00:00:00", "http://host00.example/p0"),  # admit (first)
            ("2026-01-01 00:00:02", "http://host00.example/p1"),  # too soon
            ("2026-01-01 00:00:07", "http://host00.example/p2"),  # admit (+7s)
        ],
        "batch0",
    )
    gate = politeness_gate(canonical_url_stream(spark, str(src)), delay_seconds=5.0)
    _run_available_now(gate, out, ckpt)

    # second run, same checkpoint: host00's last admitted fetch was t=7
    _write_events(
        src,
        [
            ("2026-01-01 00:00:09", "http://host00.example/p3"),  # too soon (9 < 12)
            ("2026-01-01 00:00:13", "http://host00.example/p4"),  # admit (13 >= 12)
            ("2026-01-01 00:00:09", "http://host01.example/q0"),  # new host: admit
        ],
        "batch1",
    )
    gate2 = politeness_gate(canonical_url_stream(spark, str(src)), delay_seconds=5.0)
    _run_available_now(gate2, out, ckpt)

    rows = {
        r["url_canon"]: r["admitted"] for r in spark.read.parquet(str(out)).collect()
    }
    assert rows == {
        "http://host00.example/p0": True,
        "http://host00.example/p1": False,
        "http://host00.example/p2": True,
        "http://host00.example/p3": False,
        "http://host00.example/p4": True,
        "http://host01.example/q0": True,
    }


def test_streaming_near_dup_filter(spark, tmp_path):
    """Docs streaming in with duplicate content collapse to the first per
    SimHash signature; distinct docs pass."""
    import json

    src = tmp_path / "docs-src"
    src.mkdir()
    base = "the quick brown fox jumps over the lazy dog " * 4
    rows = [
        {"ts": "2026-01-01T00:00:01", "doc_id": 1, "text": base},
        {"ts": "2026-01-01T00:00:02", "doc_id": 2, "text": base},  # dup
        {"ts": "2026-01-01T00:00:03", "doc_id": 3,
         "text": "an entirely different document about streaming state stores"},
    ]
    (src / "batch.json").write_text("\n".join(json.dumps(r) for r in rows))

    from crawlspark.streaming.frontier_stream import (
        DOC_SCHEMA,
        streaming_near_dup_filter,
    )

    stream = spark.readStream.schema(DOC_SCHEMA).json(str(src))
    out = streaming_near_dup_filter(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("near_dup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.sql("SELECT doc_id FROM near_dup_out").collect()}
    assert got == {1, 3}


def test_streaming_seen_state_evicts_at_watermark(spark, tmp_path):
    """The dedup-state EVICTION semantic (why dropDuplicatesWithinWatermark,
    not plain dropDuplicates, which never evicts a keys-only state): a URL
    first seen at t is suppressed inside the watermark horizon, but once the
    watermark passes t + delay its state is dropped — the SAME URL arriving
    later is admitted AGAIN. Bounded state means re-admission beyond the
    horizon; the batch engine's exact anti-join owns unbounded history.
    Two runs over one checkpoint: run 1 ends with watermark 00:20 (> X's
    00:00:01 + 10 min expiry), run 2 re-sends X at 00:40."""
    from crawlspark.streaming import canonical_url_stream, streaming_seen_filter

    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    x = "http://host00.example/evict/me"

    _write_events(
        src,
        [
            ("2026-01-01 00:00:01", x),
            ("2026-01-01 00:00:05", x),  # dup inside horizon: suppressed
            ("2026-01-01 00:30:00", "http://host01.example/watermark/pusher"),
        ],
        "run0",
    )
    stream = streaming_seen_filter(canonical_url_stream(spark, str(src)))
    _run_available_now(stream, out, ckpt)

    _write_events(src, [("2026-01-01 00:40:00", x)], "run1")
    stream = streaming_seen_filter(canonical_url_stream(spark, str(src)))
    _run_available_now(stream, out, ckpt)

    got = [r["url_canon"] for r in spark.read.parquet(str(out)).collect()]
    assert got.count(x) == 2, got  # once per horizon, NOT once forever
    assert got.count("http://host01.example/watermark/pusher") == 1
