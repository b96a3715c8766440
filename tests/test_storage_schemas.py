"""The table schemas storage declares (``storage.TABLE_SCHEMAS``) are a
checked contract: a frame that does not match is refused at write time, and
a root whose files were written with another schema is refused at open,
before a crawl can read it into a different crawl."""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import functions as F

from crawlspark.storage import CrawlStorage


def _files(root: pathlib.Path) -> set[str]:
    return {str(p.relative_to(root)) for p in root.rglob("*")}


@pytest.mark.parametrize(
    "mangle, column",
    [
        (lambda df: df.drop("url_canon"), "url_canon"),
        (lambda df: df.withColumn("host_hash", F.col("host_hash").cast("long")),
         "host_hash"),
    ],
    ids=["missing-column", "wrong-type"],
)
def test_write_round_rejects_schema_mismatch(spark, tmp_path, seen_rows, mangle, column):
    store = CrawlStorage(spark, tmp_path)
    with pytest.raises(ValueError) as ei:
        store.write_round("seen", mangle(seen_rows(0, 4)), 0)
    msg = str(ei.value)
    assert "'seen'" in msg and f"columns {column} differ" in msg, msg
    assert not store.has_round("seen", 0)


@pytest.mark.parametrize("subdir", ["seen/round=00000", "_compact/seen/upto=00000"])
def test_root_with_other_seen_schema_fails_at_open(spark, tmp_path, subdir):
    """A `seen` table written with another schema (here: a bare `id`
    column, in a round dir or in the compacted set) fails when the root is
    opened, and opening it writes nothing."""
    root = tmp_path / "root"
    spark.range(4).withColumn("host_hash", F.lit(0)).write.parquet(str(root / subdir))
    before = _files(root)
    with pytest.raises(ValueError) as ei:
        CrawlStorage(spark, root)
    msg = str(ei.value)
    assert "'seen'" in msg and "id" in msg and "url_hash" in msg, msg
    assert _files(root) == before
