"""Iceberg-shaped storage facade over parquet + atomic JSON manifests
(SURVEY.md §2.1 S2–S7, §7 step 4).

The contract (BASELINE.json:6,14) targets Iceberg tables with per-round
snapshots and exact checkpoint/resume. This sandbox has no Iceberg runtime
jar and no network to fetch one (SURVEY.md §0.3), so the same semantics are
rendered with:

- one directory per table, one ``round=NNNNN`` partition dir per round.
  Reads pass the declared schema (``TABLE_SCHEMAS`` plus ``round int``)
  instead of inferring it from footers, so a round predicate gets
  **partition pruning** (only the matching dirs are listed, exactly like
  Iceberg snapshot/partition pruning) with no footer-reading job;
- an atomic JSON manifest per round (write-to-temp + ``os.replace``), the
  single commit point: data dirs are VISIBLE only if their round is ≤ the
  latest manifest. A crash mid-round leaves orphan dirs that the re-run
  overwrites — this is the same write-then-commit protocol Iceberg uses with
  its metadata pointer swap.

On a real cluster, construct ``CrawlStorage(..., catalog="cat.db")`` and
every table write/read dispatches to the Iceberg DataSourceV2 path
(``_write_round_iceberg`` — create with ``PARTITIONED BY (round,
bucket(host_hash))`` then per-round partition overwrites). The parquet
facade writes each round as its plan partitions it: plain round dirs carry
no bucket spec, so host-hash clustering their files would cost a shuffle no
reader's plan could use. Host-hash clustering stays in the Iceberg
partition spec and in ``compact_table``, which rewrites covered rounds into
at most ``NUM_HOST_BUCKETS`` files.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

from crawlspark.config import NUM_HOST_BUCKETS

_S, _I, _L, _D = T.StringType(), T.IntegerType(), T.LongType(), T.DoubleType()


def _cols(**types: T.DataType) -> T.StructType:
    return T.StructType([T.StructField(n, t) for n, t in types.items()])


# The five crawl tables, column for column as ``write_round`` takes them.
# Reads add the ``round int`` partition column after these (``_WITH_ROUND``).
TABLE_SCHEMAS: dict[str, T.StructType] = {
    "frontier": _cols(
        url=_S, url_canon=_S, url_hash=_L, host=_S, host_hash=_I, depth=_I,
        priority=_D, discovered_round=_I, d_time=_D, d_host=_S, d_rank=_I,
        d_pos=_I, parent_hash=_L,
    ),
    "seen": _cols(url_hash=_L, url_canon=_S, host_hash=_I, first_round=_I),
    "documents": _cols(
        doc_id=_S,
        spans=T.ArrayType(_cols(kind=_S, text=_S, media_ref=_S, offset=_I)),
        url_hash=_L, host=_S, host_hash=_I, depth=_I, fetch_time=_D,
        host_rank=_I, status=_I, content_sha2=_S,
    ),
    "edges": _cols(src_hash=_L, dst_url=_S, dst_canon=_S, dst_hash=_L, pos=_I),
    "metrics": _cols(
        host_hash=_I, fetched=_L, skipped_robots=_L, skipped_politeness=_L,
        new_urls=_L, input_snapshot=_S,
    ),
}
TABLES = tuple(TABLE_SCHEMAS)
_WITH_ROUND = {
    t: T.StructType([*s.fields, T.StructField("round", _I)])
    for t, s in TABLE_SCHEMAS.items()
}


def _ddl(schema: T.StructType) -> str:
    return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema)


def _check_columns(
    table: str, got: T.StructType, want: T.StructType, what: str
) -> None:
    """Raise ``ValueError`` unless ``got`` has ``want``'s column names, order
    and types. Nullability is ignored: Spark reads every parquet column
    back as nullable."""
    if _ddl(got) == _ddl(want):
        return
    g = {f.name: f.dataType.simpleString() for f in got}
    w = {f.name: f.dataType.simpleString() for f in want}
    bad = [c for c in dict.fromkeys([*w, *g]) if g.get(c) != w.get(c)]
    raise ValueError(
        f"{what} does not match the declared schema of table {table!r}: "
        + (f"columns {', '.join(bad)} differ" if bad else "column order differs")
        + f"; got [{_ddl(got)}], declared [{_ddl(want)}]"
    )


class CrawlStorage:
    """``catalog=None`` (default) renders the Iceberg semantics on plain
    parquet as described above. Passing ``catalog="<cat>.<db>"`` switches
    every table write/read to the Iceberg DataSourceV2 path
    (``df.writeTo(...)`` / ``spark.table(...)``) with
    ``PARTITIONED BY (round, bucket(host_hash))`` — this branch needs the
    iceberg-spark-runtime jar and a configured catalog, neither of which
    exists in this sandbox (SURVEY.md §0.3), so it is exercised by tests
    only up to the dispatch seam. The JSON round manifests remain the
    engine's commit point in both modes: Iceberg gives atomic appends per
    table, but the crawl round spans five tables, and the manifest is the
    single cross-table commit."""

    def __init__(
        self,
        spark: SparkSession,
        root: str | os.PathLike,
        catalog: str | None = None,
    ):
        self.spark = spark
        self.root = Path(root)
        self.catalog = catalog
        self._check_footers()
        (self.root / "_manifests").mkdir(parents=True, exist_ok=True)
        for t in TABLES:
            (self.root / t).mkdir(parents=True, exist_ok=True)

    def _check_footers(self) -> None:
        """Fail before anything is read or written if the root holds a table
        written with another schema: one footer per table (round dirs and
        compacted set), read on the driver with no Spark job."""
        for t in TABLES:
            for base, want in (
                (self.root / t, TABLE_SCHEMAS[t]),
                (self.root / "_compact" / t, _WITH_ROUND[t]),
            ):
                footer = next(base.glob("*=*/*.parquet"), None)
                if footer is not None:
                    got = from_arrow_schema(pq.read_schema(footer))
                    _check_columns(t, got, want, str(footer))

    # ------------------------------------------------------------------ data
    def _round_dir(self, table: str, rnd: int) -> Path:
        return self.root / table / f"round={rnd:05d}"

    def write_round(self, table: str, df: DataFrame, rnd: int) -> None:
        """Append one round's partition. Overwrite-idempotent: a re-run of an
        uncommitted round replaces the orphan dir (exact-resume invariant).
        Files follow the frame's partitions (at most one per partition),
        except metrics, which is one file per round. A frame whose columns
        differ from ``TABLE_SCHEMAS[table]`` raises ``ValueError``."""
        _check_columns(table, df.schema, TABLE_SCHEMAS[table], f"round {rnd} write")
        if table == "metrics":
            df = df.coalesce(1)
        if self.catalog:
            self._write_round_iceberg(table, df, rnd)
            return
        df.write.mode("overwrite").parquet(str(self._round_dir(table, rnd)))

    def _write_round_iceberg(self, table: str, df: DataFrame, rnd: int) -> None:
        """Iceberg v2 append: the table is created from ``TABLE_SCHEMAS``
        partitioned by (round, bucket(host_hash)). A re-run of an
        uncommitted round overwrites its round partition (overwritePartitions
        limited by the round literal), preserving the exact-resume
        idempotence invariant."""
        full = f"{self.catalog}.{table}"
        parts = "round"
        if "host_hash" in TABLE_SCHEMAS[table].names:
            parts += f", bucket({NUM_HOST_BUCKETS}, host_hash)"
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {full} ({_ddl(_WITH_ROUND[table])}) "
            f"USING iceberg PARTITIONED BY ({parts})"
        )
        df.withColumn("round", F.lit(rnd)).writeTo(full).overwritePartitions()

    def read_round(self, table: str, rnd: int) -> DataFrame:
        if self.catalog:
            df = self.spark.table(f"{self.catalog}.{table}")
            return df.filter(f"round = {int(rnd)}").drop("round")
        return self.spark.read.schema(TABLE_SCHEMAS[table]).parquet(
            str(self._round_dir(table, rnd))
        )

    def read_table(self, table: str, upto_round: int | None = None) -> DataFrame:
        """Read the whole table with `round` as a partition column; a
        `round <= k` filter prunes to the committed snapshot set (dir
        pruning on the parquet facade, partition pruning on Iceberg).

        Compaction-aware: if a compaction pointer exists for the table, the
        read is ``compacted(rounds ≤ upto)`` ∪ ``round dirs > upto`` — round
        dirs at or below the pointer are never listed even if their GC hasn't
        happened yet, which is what makes compaction crash-safe at every
        step (see :meth:`compact_table`)."""
        schema = _WITH_ROUND[table]
        if self.catalog:
            df = self.spark.table(f"{self.catalog}.{table}")
        else:
            ptr = self.compact_pointer(table)
            if ptr is None:
                df = self.spark.read.schema(schema).parquet(str(self.root / table))
            else:
                df = self.spark.read.schema(schema).parquet(
                    str(self._compact_dir(table, ptr["upto"]))
                )
                live = self._round_dirs_above(table, ptr["upto"])
                if live:
                    live_df = self.spark.read.schema(schema).option(
                        "basePath", str(self.root / table)
                    ).parquet(*[str(d) for d in live])
                    df = df.unionByName(live_df)
        if upto_round is not None:
            df = df.filter(f"round <= {int(upto_round)}")
        return df

    def has_round(self, table: str, rnd: int) -> bool:
        return self._round_dir(table, rnd).exists()

    # ---------------------------------------------------------- maintenance
    # At the 10^10-URL design point a crawl spans O(10^4) rounds, so the
    # append-only tables accumulate O(rounds × files-per-round) parquet
    # files. The `seen` table is the hot one: the A2 anti-join re-lists and
    # re-scans EVERY committed round dir each round, so file-listing alone
    # degrades O(rounds) per round ≈ O(rounds²) over the crawl. These two
    # maintenance verbs are the Iceberg table-service analogs
    # (`rewrite_data_files` and `expire_snapshots`) rendered on the parquet
    # facade; on the catalog branch they dispatch to the real procedures.

    def _compact_dir(self, table: str, upto: int) -> Path:
        # Kept OUTSIDE the table dir: Spark's file index would otherwise
        # have to be told to skip it, and `_`-prefixed sibling dirs inside a
        # table root are silently dropped by the parquet reader — an
        # invisible-data trap rather than a loud error.
        return self.root / "_compact" / table / f"upto={upto:05d}"

    def compact_pointer(self, table: str) -> dict | None:
        p = self.root / "_manifests" / f"compact-{table}.json"
        return json.loads(p.read_text()) if p.exists() else None

    def _round_dirs_above(self, table: str, above: int) -> list[Path]:
        return sorted(
            d
            for d in (self.root / table).glob("round=*")
            if int(d.name.split("=")[1]) > above
        )

    def compact_table(self, table: str, upto_round: int) -> dict:
        """Iceberg ``rewrite_data_files`` analog: rewrite all committed
        rounds ≤ ``upto_round`` (plus any previous compaction) into one
        host-hash-clustered set of at most ``NUM_HOST_BUCKETS`` files, then atomically swap the compaction
        pointer and GC the superseded dirs. Table CONTENTS are unchanged —
        the `round` partition value is preserved as a data column, so
        ``read_table`` results (including `round <= k` filters) are
        row-identical before and after.

        Crash-safe at every step, in write-then-commit order:
        1. the compacted file set is written to a fresh ``upto=N`` dir —
           readers still use the old pointer;
        2. the pointer JSON is swapped atomically (tmp + ``os.replace``) —
           from this instant ``read_table`` reads compacted ∪ dirs > N and
           ignores covered round dirs whether or not they still exist;
        3. GC deletes superseded compacted dirs and covered round dirs —
           pure space reclamation, a crash mid-GC leaves dirs no read path
           references.

        Call only with ``upto_round`` ≤ the latest committed manifest round:
        per-round snapshot reads (``read_round``) below the pointer are
        retired — fine for append-only membership tables (`seen`), whose
        per-round dirs the engine never re-reads after their commit."""
        if self.catalog:
            return self._compact_iceberg(table)
        # Idempotence guard: a re-run (crash recovery, manual retry) with an
        # already-covered upto_round must be a no-op. Without it, the
        # overwrite below would clear the CURRENT _compact dir before the
        # lazy read executes while the covered round=* dirs are already
        # GC'd — permanent loss of every row <= upto. The pointer is the
        # commit point, so pointer >= upto_round means the data is already
        # compacted and safe.
        ptr = self.compact_pointer(table)
        if ptr is not None and ptr["upto"] >= upto_round:
            return {"table": table, "upto": ptr["upto"], "noop": True,
                    "removed_rounds": []}
        df = self.read_table(table, upto_round=upto_round)
        keys = [c for c in ("host_hash",) if c in df.columns]
        df = df.repartition(NUM_HOST_BUCKETS, *keys)
        out = self._compact_dir(table, upto_round)
        # Write-then-rename: the rewrite lands in a tmp dir invisible to
        # both readers (pointer unswapped) and the GC glob (`upto=*`), then
        # renames into place — a crash mid-write leaves only the tmp dir,
        # which the next successful compaction's write simply replaces.
        tmp_out = out.parent / f".tmp-{out.name}"
        import shutil

        shutil.rmtree(tmp_out, ignore_errors=True)
        df.write.mode("overwrite").parquet(str(tmp_out))
        shutil.rmtree(out, ignore_errors=True)  # stale dir from a crashed run
        os.replace(tmp_out, out)
        ptr_path = self.root / "_manifests" / f"compact-{table}.json"
        tmp = ptr_path.with_suffix(".tmp")
        tmp.write_text(
            json.dumps({"table": table, "upto": upto_round}, sort_keys=True)
        )
        os.replace(tmp, ptr_path)
        for d in (self.root / "_compact" / table).glob("upto=*"):
            if int(d.name.split("=")[1]) != upto_round:
                shutil.rmtree(d, ignore_errors=True)
        removed = []
        for d in (self.root / table).glob("round=*"):
            r = int(d.name.split("=")[1])
            if r <= upto_round:
                shutil.rmtree(d, ignore_errors=True)
                removed.append(r)
        return {"table": table, "upto": upto_round, "files": NUM_HOST_BUCKETS,
                "removed_rounds": sorted(removed)}

    def _compact_iceberg(self, table: str) -> dict:
        """Catalog branch: Iceberg's own table service does the rewrite —
        file-level, invisible to readers, no pointer needed. Dispatch seam
        mirrors ``_write_round_iceberg`` (no runtime jar in this sandbox)."""
        cat = self.catalog.split(".")[0]
        self.spark.sql(
            f"CALL {cat}.system.rewrite_data_files("
            f"table => '{self.catalog}.{table}')"
        )
        return {"table": table, "mode": "iceberg-rewrite_data_files"}

    def expire_frontier_snapshots(self, keep_upto: int) -> list[int]:
        """Iceberg ``expire_snapshots`` analog for the frontier table: drop
        per-round frontier snapshot dirs below ``keep_upto``. The engine
        reads exactly ONE frontier snapshot per round — the latest committed
        one (``read_round("frontier", rnd-1)``, resume included) — so every
        older snapshot is dead weight: at the design point that is
        O(10^10-URL-frontier × 10^4 rounds) of parquet kept only for time
        travel. Call only after the round manifest commits, with
        ``keep_upto`` = the committed round, so a crash at any point still
        resumes from a snapshot that exists."""
        import shutil

        removed = []
        for d in (self.root / "frontier").glob("round=*"):
            r = int(d.name.split("=")[1])
            if r < keep_upto:
                shutil.rmtree(d, ignore_errors=True)
                removed.append(r)
        return sorted(removed)

    # -------------------------------------------------------------- manifest
    def commit_manifest(self, rnd: int, payload: dict) -> None:
        """S6: the atomic per-round commit point (tmp + rename)."""
        path = self.root / "_manifests" / f"round-{rnd:05d}.json"
        tmp = path.with_suffix(".tmp")
        tmp.write_text(json.dumps({"round": rnd, **payload}, indent=1, sort_keys=True))
        os.replace(tmp, path)

    def latest_manifest(self) -> dict | None:
        files = sorted((self.root / "_manifests").glob("round-*.json"))
        if not files:
            return None
        return json.loads(files[-1].read_text())

    def manifest(self, rnd: int) -> dict | None:
        p = self.root / "_manifests" / f"round-{rnd:05d}.json"
        return json.loads(p.read_text()) if p.exists() else None
