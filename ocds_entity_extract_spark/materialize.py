"""Triple materialization: partitioned tables + per-partition lineage +
metrics + content-hash ids.

≙ reference sink layer (insert.js / stream.js) re-expressed:
- content-hash `_id` (insert.js:37 object-hash)  -> sha2(canonical concat)
  with PINNED column order (SURVEY.md §7.3 canonicalization contract);
- run timestamp stamp (insert.js:38)             -> run_ts passed in (no
  current_timestamp in the data path — determinism);
- per-type counts report (index.js:108-129)      -> metrics rows;
- per-partition lineage rows (north_rule)        -> row_count + content
  hash per (pred) partition, committed with the data.

Layout: triples partitioned by `pred` (low cardinality, prunes predicate-
scoped reads) — the analogue of the reference's per-entity-type collections.
At cluster scale add `bucket(subj)` via Iceberg partition transforms.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, functions as F

from ocds_entity_extract_spark.session import local_frame
from ocds_entity_extract_spark.sources.catalog import Catalog

LINEAGE_SCHEMA = (
    "run_id string, stage string, partition_key string, row_count bigint,"
    " content_hash string, committed_ts timestamp"
)


def with_triple_id(triples: DataFrame) -> DataFrame:
    """Stable content-hash id, pinned field order subj|pred|obj."""
    return triples.withColumn(
        "_id", F.sha2(F.concat_ws("|", "subj", "pred", "obj"), 256)
    )


def materialize_triples(
    cat: Catalog,
    triples: DataFrame,
    run_id: str,
    run_ts: dt.datetime | None = None,
    table: str = "triples",
) -> dict[str, float]:
    """Write triples partitioned by pred; append lineage + metrics rows.
    Returns the metrics dict."""
    run_ts = run_ts or dt.datetime.now(dt.timezone.utc)
    stamped = with_triple_id(triples)
    cat.overwrite_partitions(table, stamped, partition_by=["pred"])

    # one aggregate over the written table feeds both the lineage rows and
    # the metrics rows
    per_pred = (
        cat.read(table)
        .groupBy("pred")
        .agg(
            F.count(F.lit(1)).alias("row_count"),
            F.lower(F.hex(F.expr("bit_xor(xxhash64(_id))"))).alias("content_hash"),
        )
        .collect()
    )
    lineage = [
        (run_id, table, r["pred"], r["row_count"], r["content_hash"], run_ts)
        for r in per_pred
    ]
    cat.append("lineage", local_frame(cat.spark, lineage, LINEAGE_SCHEMA))

    metrics = {f"triples_{r['pred']}": float(r["row_count"]) for r in per_pred}
    metrics["triples_total"] = float(sum(r["row_count"] for r in per_pred))
    mdf = local_frame(
        cat.spark,
        [(run_id, k, v) for k, v in metrics.items()],
        "run_id string, metric string, value double",
    )
    cat.append("metrics", mdf)
    return metrics


def upsert_table(
    cat: Catalog,
    table: str,
    updates: DataFrame,
    key_cols: list[str],
    order_col: str,
    partition_by: list[str] | None = None,
    assume_immutable_partitions: bool = False,
) -> None:
    """MERGE INTO semantics over the parquet catalog: latest-wins upsert.

    ≙ Iceberg `MERGE INTO t USING u ON keys WHEN MATCHED UPDATE WHEN NOT
    MATCHED INSERT` — emulated as read + unionByName + per-key latest-wins
    (max `order_col`, update beats existing on ties) + partition-targeted
    rewrite.

    Scale notes: only partitions PRESENT IN THE UPDATE are read back and
    rewritten (`overwrite_partitions` is dynamic), so an incremental batch
    touching k partitions costs O(k data partitions) in rewrite I/O — the
    same copy-on-write cost model as Iceberg MERGE without positional
    deletes. One exception to "not O(table)": when `partition_by` is NOT a
    subset of `key_cols` a key's partition value can CHANGE, so a
    column-pruned scan of (key_cols + partition_by) over the whole table
    runs to find partitions holding moved keys' stale rows — metadata-sized
    I/O (two thin columns, no shuffle of data rows), but O(table rows); for
    append-only / immutable-partition workloads put the partition column in
    the key to skip it, or pass `assume_immutable_partitions=True` — the
    caller's promise that a key never changes its partition value (facts
    keyed by id but partitioned by an ingest date they never move across),
    which skips the probe. The promise is NOT verified; a violated promise
    leaves the key duplicated across two partitions, exactly the bug the
    probe exists to prevent. When `partition_by` is None the whole table
    rewrites (fine for dims, wrong for facts — partition facts).
    """
    from pyspark.sql.window import Window

    if not cat.exists(table):
        if partition_by:
            cat.overwrite_partitions(table, updates, partition_by)
        else:
            cat.replace_table(table, updates)
        return

    existing = cat.read(table).withColumn("_src", F.lit(0))
    upd = updates.withColumn("_src", F.lit(1))
    if partition_by:
        # prune the read-back to partitions the update touches — PLUS any
        # partition holding a stale row of a key the update MOVED to a new
        # partition value (else the old row is never read back and the key
        # ends duplicated across two partitions). The moved-key probe is a
        # column-pruned key scan; it is skipped entirely when partition_by
        # ⊆ key_cols, where a "moved key" is definitionally a different
        # key, or under the caller's assume_immutable_partitions promise.
        # If a move drains a partition to zero rows, dynamic overwrite
        # cannot rewrite the now-empty partition — those directories are
        # deleted explicitly after the overwrite (below).
        touched = updates.select(*partition_by).distinct()
        if (
            not set(partition_by) <= set(key_cols)
            and not assume_immutable_partitions
        ):
            upd_keys = updates.select(*key_cols).distinct()
            stale_parts = (
                cat.read(table)
                .select(*key_cols, *partition_by)
                .join(F.broadcast(upd_keys), key_cols, "left_semi")
                .select(*partition_by)
                .distinct()
            )
            touched = touched.unionByName(stale_parts).distinct()
        existing = existing.join(F.broadcast(touched), partition_by, "left_semi")
    merged = (
        existing.unionByName(upd)
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(*key_cols).orderBy(
                    F.col(order_col).desc(), F.col("_src").desc()
                )
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )
    # materialize before overwriting the files being read (parquet has no
    # snapshot isolation; Iceberg's writeTo does this transactionally)
    merged = merged.localCheckpoint(eager=True)
    if partition_by:
        # drained partitions: every row of a touched partition moved away,
        # so `merged` has nothing under that partition value and dynamic
        # overwrite will never rewrite it — without an explicit delete the
        # stale rows would survive (and compact_table merges files, it
        # never drops rows). Anti-join is over the ALREADY-pruned `touched`
        # set, so this is O(touched partitions). Values are CAST TO STRING
        # in Spark (bool -> 'true', not Python's 'True') and matched
        # against the ACTUAL partition directories — whose names Spark
        # writes Hive-escaped (space/':'/'%'/... %-encoded) — by listing
        # and unescaping them, never by re-deriving the escaped path in
        # Python (the round-4 silent-miss bug: str(value) built a path
        # that didn't exist and ignore_errors hid it).
        drained = touched.join(
            merged.select(*partition_by).distinct(), partition_by, "left_anti"
        ).select(
            *[F.col(c).cast("string").alias(c) for c in partition_by]
        ).collect()
        cat.overwrite_partitions(table, merged, partition_by)
        if drained:
            _delete_partition_dirs(
                cat.path(table),
                partition_by,
                {tuple(r[c] for c in partition_by) for r in drained},
            )
    else:
        cat.replace_table(table, merged)


def _delete_partition_dirs(
    base: str, partition_by: list[str], drained: set[tuple]
) -> None:
    """Delete the on-disk directories of drained partition values.

    Walks the table's REAL partition directory tree level by level,
    un-escapes each `col=value` component (Spark writes Hive-escaped names:
    %-encoding for space/':'/'%'/'/'..., `__HIVE_DEFAULT_PARTITION__` for
    NULL) and removes directories whose decoded value tuple is in
    `drained` (string-rendered values, Spark cast-to-string semantics).
    Deletion failures raise — a surviving stale partition is silent row
    duplication, the exact bug this cleanup exists to prevent."""
    import os
    import shutil
    from urllib.parse import unquote

    level = [(base, ())]
    for col in partition_by:
        nxt = []
        for d, vals in level:
            try:
                names = os.listdir(d)
            except FileNotFoundError:
                continue
            for name in names:
                full = os.path.join(d, name)
                c, eq, raw = name.partition("=")
                if eq != "=" or c != col or not os.path.isdir(full):
                    continue
                val = (
                    None
                    if raw == "__HIVE_DEFAULT_PARTITION__"
                    else unquote(raw)
                )
                nxt.append((full, vals + (val,)))
        level = nxt
    for d, vals in level:
        if vals in drained:
            shutil.rmtree(d)
            # prune now-empty parent shells (a multi-level partition whose
            # leaves all drained leaves an empty part=... directory that
            # pollutes partition listings)
            parent = os.path.dirname(d)
            while os.path.realpath(parent) != os.path.realpath(base):
                try:
                    os.rmdir(parent)
                except OSError:
                    break
                parent = os.path.dirname(parent)


def compact_table(
    cat: Catalog,
    table: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite the table into ~target-sized files.

    Streaming/incremental sinks accumulate many small files (one per
    micro-batch per partition); small files poison scan parallelism
    planning and metadata ops at scale. Rewrite keeps content identical
    and returns the new file count. ≙ Iceberg `rewrite_data_files`.
    """
    import glob
    import os

    df = cat.read(table)
    total = sum(
        os.path.getsize(f)
        for f in glob.glob(os.path.join(cat.path(table), "**", "*.parquet"),
                           recursive=True)
    )
    n_files = max(1, total // target_file_bytes)
    if partition_by:
        # repartition ON the partition columns: a round-robin repartition
        # followed by partitionBy writes up to n_files x n_partitions
        # output files (every task holds rows of every partition) — the
        # opposite of compaction. Hashing on the partition columns routes
        # each Hive partition's rows to one task, so file count is bounded
        # by the partition count (per-partition sizing, not whole-table).
        compacted = df.repartition(int(n_files), *partition_by).localCheckpoint(
            eager=True
        )
        cat.replace_table(table, compacted, partition_by)
    else:
        compacted = df.repartition(int(n_files)).localCheckpoint(eager=True)
        cat.replace_table(table, compacted)
    return len(
        glob.glob(os.path.join(cat.path(table), "**", "*.parquet"), recursive=True)
    )
