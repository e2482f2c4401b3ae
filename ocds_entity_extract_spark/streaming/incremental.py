"""Resumable incremental batch: checkpoint watermarks + anti-join resume.

The reference is an all-or-nothing single pass (index.js:83-139 — crash =
start over). The north rule asks for *resumable* batch: process only pages
not yet committed, record a watermark per completed chunk, survive
restarts. This is the Iceberg incremental-read pattern (snapshot-id
watermarks) emulated over parquet:

- input is chunked by a deterministic partition key
  (`chunk = pmod(xxhash64(url), n_chunks)` — at cluster scale: the Iceberg
  partition/snapshot id);
- a `checkpoints` table records (run_scope, chunk, committed_ts);
- resume = anti-join pages against committed chunks, process the rest,
  commit each chunk's watermark transactionally AFTER its partition write
  (overwrite_partitions makes re-runs idempotent).

Structured Streaming is intentionally NOT used here: the reference has no
stream semantics (SURVEY.md §2.10) and file-batch incremental matches the
north rule's "resumable from last committed checkpoint".
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, functions as F

from ocds_entity_extract_spark.session import local_frame
from ocds_entity_extract_spark.sources.catalog import Catalog

CHECKPOINT_TABLE = "checkpoints"


def with_chunk(pages: DataFrame, n_chunks: int = 64) -> DataFrame:
    return pages.withColumn("chunk", F.pmod(F.xxhash64("url"), F.lit(n_chunks)))


def committed_chunks(cat: Catalog, scope: str) -> DataFrame:
    if not cat.exists(CHECKPOINT_TABLE):
        return local_frame(cat.spark, [], "chunk bigint")
    return (
        cat.read(CHECKPOINT_TABLE)
        .filter(F.col("run_scope") == scope)
        .select("chunk")
        .distinct()
    )


def pending_pages(cat: Catalog, pages: DataFrame, scope: str, n_chunks: int = 64) -> DataFrame:
    """Pages whose chunk has no committed watermark (anti-join resume)."""
    chunked = with_chunk(pages, n_chunks)
    done = committed_chunks(cat, scope)
    return chunked.join(done, "chunk", "left_anti")


def commit_chunks(
    cat: Catalog, scope: str, chunks: list[int], ts: dt.datetime | None = None
) -> None:
    ts = ts or dt.datetime.now(dt.timezone.utc)
    df = local_frame(
        cat.spark,
        [(scope, int(c), ts) for c in chunks],
        "run_scope string, chunk bigint, committed_ts timestamp",
    )
    cat.append(CHECKPOINT_TABLE, df)


def run_incremental(
    cat: Catalog,
    pages: DataFrame,
    scope: str,
    process_fn,
    n_chunks: int = 64,
    table: str = "triples_incremental",
) -> int:
    """Process only pending chunks; returns number of chunks committed.

    `process_fn(pages_subset) -> DataFrame(subj, pred, obj, chunk)` — the
    chunk column rides along so the write is partition-idempotent.
    """
    pending = pending_pages(cat, pages, scope, n_chunks)
    todo = [r["chunk"] for r in pending.select("chunk").distinct().collect()]
    if not todo:
        return 0
    out = process_fn(pending)
    cat.overwrite_partitions(table, out, partition_by=["chunk"])
    commit_chunks(cat, scope, todo)
    return len(todo)
