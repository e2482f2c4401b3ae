"""Sink layer: partitioned triple write + lineage + metrics; incremental
checkpoint/resume (idempotent re-runs)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from ocds_entity_extract_spark.materialize import materialize_triples, with_triple_id
from ocds_entity_extract_spark.sources.catalog import Catalog
from ocds_entity_extract_spark.streaming.incremental import (
    pending_pages,
    run_incremental,
)

TRIPLES = [
    ("u1", "mentions", "e1"),
    ("u2", "mentions", "e2"),
    ("e1", "type", "person"),
    ("e2", "sameAs", "e1"),
]


def _triples(spark):
    return spark.createDataFrame(TRIPLES, "subj string, pred string, obj string")


def test_triple_id_stable(spark):
    a = {r["_id"] for r in with_triple_id(_triples(spark)).collect()}
    b = {r["_id"] for r in with_triple_id(_triples(spark).repartition(3)).collect()}
    assert a == b and len(a) == 4


def test_materialize_lineage_metrics(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    metrics = materialize_triples(
        cat, _triples(spark), run_id="r1", run_ts=dt.datetime(2025, 1, 1)
    )
    assert metrics["triples_total"] == 4.0
    assert metrics["triples_mentions"] == 2.0
    stored = cat.read("triples")
    assert stored.count() == 4
    assert set(stored.columns) == {"subj", "pred", "obj", "_id"}
    lineage = cat.read("lineage")
    assert lineage.count() == 3  # one row per pred partition
    assert cat.read("metrics").count() == 4
    # metrics and lineage come from one aggregate: each per-pred metric is
    # that predicate's lineage row_count for the run
    rows = lineage.filter(F.col("run_id") == "r1").collect()
    assert {f"triples_{r['partition_key']}": float(r["row_count"]) for r in rows} == {
        k: v for k, v in metrics.items() if k != "triples_total"
    }
    stored_metrics = {
        r["metric"]: r["value"]
        for r in cat.read("metrics").filter(F.col("run_id") == "r1").collect()
    }
    assert stored_metrics == metrics


def test_materialize_rerun_idempotent(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    materialize_triples(cat, _triples(spark), run_id="r1")
    materialize_triples(cat, _triples(spark), run_id="r2")
    # dynamic partition overwrite: second run replaces, never duplicates
    assert cat.read("triples").count() == 4


PAGES = [(f"https://d{i % 3}.mx/{i}",) for i in range(30)]


def test_incremental_resume(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    pages = spark.createDataFrame(PAGES, "url string")

    def process(subset):
        return subset.select(
            F.col("url").alias("subj"),
            F.lit("seen").alias("pred"),
            F.lit("x").alias("obj"),
            "chunk",
        )

    n1 = run_incremental(cat, pages, "scope1", process, n_chunks=8)
    assert n1 > 0
    out1 = cat.read("triples_incremental").count()
    assert out1 == 30

    # second run: everything committed -> no pending work
    n2 = run_incremental(cat, pages, "scope1", process, n_chunks=8)
    assert n2 == 0
    assert pending_pages(cat, pages, "scope1", 8).count() == 0
    # and output unchanged (idempotent)
    assert cat.read("triples_incremental").count() == 30


def test_incremental_new_pages_only(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    pages = spark.createDataFrame(PAGES[:20], "url string")

    def process(subset):
        return subset.select(
            F.col("url").alias("subj"),
            F.lit("seen").alias("pred"),
            F.lit("x").alias("obj"),
            "chunk",
        )

    run_incremental(cat, pages, "s", process, n_chunks=4)
    # grow the input; only chunks not yet committed are reprocessed —
    # with all 4 chunks committed, nothing is pending even for new urls
    # within committed chunks (chunk-granular watermark, documented).
    more = spark.createDataFrame(PAGES, "url string")
    pend = pending_pages(cat, more, "s", 4).count()
    assert pend == 0


def test_upsert_latest_wins(spark, tmp_path):
    from ocds_entity_extract_spark.materialize import upsert_table
    from ocds_entity_extract_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame(
        [("a", "p1", 1, "v1"), ("b", "p1", 1, "v2"), ("c", "p2", 1, "v3")],
        "id string, part string, ver int, val string",
    )
    upsert_table(cat, "t", base, ["id"], "ver", partition_by=["part"])

    upd = spark.createDataFrame(
        [("b", "p1", 2, "v2new"),      # update existing
         ("d", "p1", 1, "v4"),         # insert new
         ("a", "p1", 0, "stale")],     # stale version -> ignored
        "id string, part string, ver int, val string",
    )
    upsert_table(cat, "t", upd, ["id"], "ver", partition_by=["part"])

    got = {r["id"]: (r["ver"], r["val"]) for r in cat.read("t").collect()}
    assert got == {
        "a": (1, "v1"), "b": (2, "v2new"), "c": (1, "v3"), "d": (1, "v4"),
    }


def test_upsert_moved_key_rewrites_old_partition(spark, tmp_path):
    """An update that moves key K to a different partition value must also
    rewrite K's OLD partition — otherwise the stale row survives there and
    the table ends with K duplicated across two partitions."""
    from ocds_entity_extract_spark.materialize import upsert_table
    from ocds_entity_extract_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame(
        [("a", "p1", 1, "v1"), ("x", "p1", 1, "keep"), ("c", "p2", 1, "v3")],
        "id string, part string, ver int, val string",
    )
    upsert_table(cat, "t", base, ["id"], "ver", partition_by=["part"])

    moved = spark.createDataFrame(
        [("a", "p2", 2, "v1moved")],     # key 'a' moves p1 -> p2
        "id string, part string, ver int, val string",
    )
    upsert_table(cat, "t", moved, ["id"], "ver", partition_by=["part"])

    rows = [(r["id"], r["part"], r["ver"], r["val"]) for r in cat.read("t").collect()]
    assert sorted(rows) == [
        ("a", "p2", 2, "v1moved"), ("c", "p2", 1, "v3"), ("x", "p1", 1, "keep"),
    ]


def test_upsert_drained_partition_deleted(spark, tmp_path):
    """When an update moves the ONLY row of a partition elsewhere, dynamic
    overwrite cannot rewrite the now-empty partition — upsert_table must
    delete the drained directory explicitly, or the stale row survives and
    the key is served duplicated (and compact_table would faithfully carry
    the duplicate forward, since compaction merges files, never rows)."""
    from ocds_entity_extract_spark.materialize import compact_table, upsert_table
    from ocds_entity_extract_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame(
        [("a", "p1", 1, "v1"), ("c", "p2", 1, "v3")],   # p1 has ONLY key a
        "id string, part string, ver int, val string",
    )
    upsert_table(cat, "t", base, ["id"], "ver", partition_by=["part"])

    moved = spark.createDataFrame(
        [("a", "p2", 2, "v1moved")],     # drains p1 to zero rows
        "id string, part string, ver int, val string",
    )
    upsert_table(cat, "t", moved, ["id"], "ver", partition_by=["part"])

    rows = [(r["id"], r["part"], r["ver"], r["val"]) for r in cat.read("t").collect()]
    assert sorted(rows) == [("a", "p2", 2, "v1moved"), ("c", "p2", 1, "v3")]

    # and the fix survives compaction (the round-3 docstring wrongly
    # claimed compaction would drop the stale row)
    compact_table(cat, "t", partition_by=["part"])
    rows = [(r["id"], r["part"], r["ver"], r["val"]) for r in cat.read("t").collect()]
    assert sorted(rows) == [("a", "p2", 2, "v1moved"), ("c", "p2", 1, "v3")]


def test_upsert_drained_partition_deleted_hive_escaped(spark, tmp_path):
    """Drained-partition cleanup must find the REAL directory name Spark
    wrote: partition values with space/':' are Hive-%-escaped on disk, and
    boolean values render 'true', not Python's 'True'. The round-4 cleanup
    built the path with str(value) and ignore_errors — for any such value
    the rmtree silently missed and the stale rows survived."""
    from ocds_entity_extract_spark.materialize import upsert_table
    from ocds_entity_extract_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    weird = "crawl 2025:a%b"                      # space, colon, percent
    base = spark.createDataFrame(
        [("a", weird, True, 1, "v1"), ("c", "p2", False, 1, "v3")],
        "id string, part string, flag boolean, ver int, val string",
    )
    upsert_table(cat, "t", base, ["id"], "ver", partition_by=["part", "flag"])

    moved = spark.createDataFrame(
        [("a", "p2", False, 2, "v1moved")],       # drains the escaped part
        "id string, part string, flag boolean, ver int, val string",
    )
    upsert_table(cat, "t", moved, ["id"], "ver", partition_by=["part", "flag"])

    rows = [
        (r["id"], r["part"], str(r["flag"]).lower(), r["ver"], r["val"])
        for r in cat.read("t").collect()
    ]
    # flag reads back as STRING 'false' (Spark partition-column type
    # inference has no boolean case) — normalized here; the point under
    # test is that the 'true' directory of the drained escaped partition
    # is gone, which requires the cleanup to have matched Spark's
    # lowercase-bool, %-escaped directory rendering
    assert sorted(rows) == [
        ("a", "p2", "false", 2, "v1moved"), ("c", "p2", "false", 1, "v3"),
    ]
    # the escaped directory itself is gone from disk
    import glob
    import os

    dirs = glob.glob(os.path.join(cat.path("t"), "part=*"))
    assert all("crawl" not in d for d in dirs), dirs


def test_upsert_assume_immutable_partitions_skips_probe(spark, tmp_path):
    """assume_immutable_partitions=True (append-only facts): same result as
    the probing path when no key moves partitions — and the table-wide
    moved-key scan never runs (observable: a key that DOES move, violating
    the promise, leaves its stale row behind, which is exactly the
    documented contract)."""
    from ocds_entity_extract_spark.materialize import upsert_table
    from ocds_entity_extract_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame(
        [("a", "p1", 1, "v1"), ("c", "p2", 1, "v3")],
        "id string, part string, ver int, val string",
    )
    upsert_table(cat, "t", base, ["id"], "ver", partition_by=["part"])

    # in-place update (no partition move): identical to the probing path
    upd = spark.createDataFrame(
        [("a", "p1", 2, "v2"), ("d", "p2", 1, "v4")],
        "id string, part string, ver int, val string",
    )
    upsert_table(
        cat, "t", upd, ["id"], "ver", partition_by=["part"],
        assume_immutable_partitions=True,
    )
    rows = [(r["id"], r["part"], r["ver"], r["val"]) for r in cat.read("t").collect()]
    assert sorted(rows) == [
        ("a", "p1", 2, "v2"), ("c", "p2", 1, "v3"), ("d", "p2", 1, "v4"),
    ]

    # violated promise: the moved key's old row is NOT cleaned (contract)
    mv = spark.createDataFrame(
        [("a", "p2", 3, "v3moved")],
        "id string, part string, ver int, val string",
    )
    upsert_table(
        cat, "t", mv, ["id"], "ver", partition_by=["part"],
        assume_immutable_partitions=True,
    )
    ids = sorted(
        (r["id"], r["part"]) for r in cat.read("t").collect()
    )
    assert ("a", "p1") in ids and ("a", "p2") in ids  # duplicated, as documented


def test_compact_partitioned_reduces_files(spark, tmp_path):
    """compact_table with partition_by must not multiply files (the old
    round-robin repartition wrote up to n_files x n_partitions)."""
    import glob
    import os

    from ocds_entity_extract_spark.materialize import compact_table
    from ocds_entity_extract_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.range(0, 2000).select(
        F.col("id"),
        (F.col("id") % 4).cast("string").alias("part"),
    )
    # simulate a small-file mess: many appends
    for _ in range(5):
        cat.append("t", df, partition_by=["part"])
    before = len(glob.glob(os.path.join(cat.path("t"), "**", "*.parquet"),
                           recursive=True))
    after = compact_table(cat, "t", target_file_bytes=1 << 30,
                          partition_by=["part"])
    assert after < before
    assert after <= 4          # bounded by the partition count
    assert cat.read("t").count() == 2000 * 5


def test_upsert_tie_prefers_update(spark, tmp_path):
    from ocds_entity_extract_spark.materialize import upsert_table
    from ocds_entity_extract_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    upsert_table(
        cat, "t",
        spark.createDataFrame([("a", 1, "old")], "id string, ver int, val string"),
        ["id"], "ver",
    )
    upsert_table(
        cat, "t",
        spark.createDataFrame([("a", 1, "new")], "id string, ver int, val string"),
        ["id"], "ver",
    )
    assert cat.read("t").collect()[0]["val"] == "new"


def test_compact_table_preserves_content(spark, tmp_path):
    from ocds_entity_extract_spark.materialize import compact_table
    from ocds_entity_extract_spark.sources.catalog import Catalog
    import glob

    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.range(0, 1000).selectExpr("id", "id % 7 AS v")
    # fragment: 50 tiny files
    cat.replace_table("t", df.repartition(50))
    before = len(glob.glob(str(tmp_path / "wh" / "t" / "**" / "*.parquet"),
                           recursive=True))
    assert before >= 50

    after = compact_table(cat, "t")
    assert after < before
    got = sorted((r["id"], r["v"]) for r in cat.read("t").collect())
    assert got == sorted((i, i % 7) for i in range(1000))
