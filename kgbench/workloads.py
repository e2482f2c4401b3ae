"""The KG-construction workloads: corpus geometry, the job each rep
times, the size-adaptive plan branch each must take, and the output checks.

Every engine parameter not named in a workload's `build_kwargs` stays at
the `build_triples` default, as the CLI uses it. DESIGN.md records why each
workload exists and which layers it stresses or bypasses.
"""

from __future__ import annotations

import inspect
import shutil
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from ocds_entity_extract_spark.materialize import materialize_triples
from ocds_entity_extract_spark.plans.documents import (
    entity_documents,
    membership_documents,
)
from ocds_entity_extract_spark.plans.pipeline import build_triples
from ocds_entity_extract_spark.sources.catalog import Catalog

PREDICATES = (
    "mentions", "type", "sameAs", "memberOf", "inArea", "partOf",
    "mentionsProduct",
)


@dataclass(frozen=True)
class Workload:
    name: str
    pages: int
    build_kwargs: dict = field(default_factory=dict)
    writes: bool = False          # the CLI's `-o db` branch
    warmup_reps: int = 0          # untimed warm reps before the timed window
    driver_linking: bool = True   # expected size-adaptive branches
    dict_assembly: bool = True


WORKLOADS = {
    w.name: w
    for w in (
        # its reps keep speeding up for several reps after the cold job (JIT)
        Workload("crawl_adaptive", pages=20_000, warmup_reps=3),
        Workload(
            "warehouse_distributed",
            pages=5_000,
            build_kwargs={
                "max_driver_linking": 0,
                "cc_small_graph_threshold": 0,
                "surface_broadcast": "aqe",
            },
            writes=True,
            driver_linking=False,
            dict_assembly=False,
        ),
    )
}


def build_defaults() -> dict:
    return {
        k: p.default
        for k, p in inspect.signature(build_triples).parameters.items()
        if p.default is not inspect.Parameter.empty
    }


def plan_branches(w: Workload, count_dim) -> tuple[bool, bool]:
    """(driver_linking, dict_assembly) that `build_triples` takes under the
    workload's kwargs for a dim of `count_dim()` surfaces — the same rule
    as plans/pipeline.py, read from outside: a forced broadcast mode skips
    the dim count, which is what unlocks both driver-side branches."""
    kw = {**build_defaults(), **w.build_kwargs}
    if kw["surface_broadcast"] in ("force", "aqe") or not kw["cache_intermediates"]:
        return False, False
    dim_count = count_dim()
    driver = dim_count <= kw["max_driver_linking"]
    return driver, driver or dim_count <= kw["max_broadcast_surfaces"]


def triple_signature(triples: DataFrame) -> tuple[int, int]:
    """(count, order-independent content hash) in ONE aggregate. It reads
    every column, so the optimizer cannot prune any triple branch the way
    a bare count() may."""
    row = triples.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(subj, pred, obj))").alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)


@dataclass
class Inputs:
    spark: SparkSession
    pages: DataFrame
    override: DataFrame
    catalog_dir: Path


def run_job(w: Workload, inp: Inputs, rep: int):
    """One rep of the workload's job, from the call into the engine to its
    last action. Returns (signature, PipelineResult, materialize metrics)."""
    res = build_triples(inp.spark, inp.pages, inp.override, **w.build_kwargs)
    if not w.writes:
        return triple_signature(res.triples), res, None
    cat = fresh_catalog(inp, rep)
    metrics = materialize_triples(cat, res.triples, run_id=f"rep{rep}")
    write_documents(cat, res)
    return catalog_signature(cat, f"rep{rep}"), res, metrics


def fresh_catalog(inp: Inputs, rep: int) -> Catalog:
    """An empty catalog per rep; earlier reps' tables are checked already."""
    shutil.rmtree(inp.catalog_dir, ignore_errors=True)
    return Catalog(inp.spark, str(inp.catalog_dir / f"rep{rep}"))


def entity_docs_frame(res) -> DataFrame:
    return entity_documents(
        res.entities,
        res.mapping,
        res.member_edges,
        contact_edges=res.contact_edges,
        inst_regions=res.inst_regions,
    )


def membership_docs_frame(res) -> DataFrame:
    return membership_documents(
        res.member_edges.select(
            "url",
            F.col("member_canon").alias("person_id"),
            "role",
            F.col("org_canon").alias("org_id"),
        ),
        res.mapping.select(
            F.col("canonical_id").alias("entity_id"), "canonical_id"
        ).distinct(),
    )


def write_documents(cat: Catalog, res) -> None:
    """The document tables of the CLI's `-o db` branch."""
    cat.replace_table("entity_docs", entity_docs_frame(res), partition_by=["entity_type"])
    cat.replace_table("membership_docs", membership_docs_frame(res))
    cat.replace_table("product_docs", res.products)


def catalog_signature(cat: Catalog, run_id: str) -> tuple:
    """Per-predicate (row_count, content_hash) lineage rows of one run."""
    rows = (
        cat.read("lineage").filter(F.col("run_id") == run_id)
        .select("partition_key", "row_count", "content_hash").collect()
    )
    return tuple(sorted((r[0], int(r[1]), r[2]) for r in rows))


def check_catalog(cat: Catalog, run_id: str, metrics: dict, emitted: DataFrame) -> list[str]:
    """The written table holds exactly the triples the job emitted (count
    and content hash), `triples_total` from materialize_triples equals the
    rows read back, and there is one lineage row per predicate. Reps are
    held to the lineage rows of the run checked here."""
    errors = []
    written = cat.read("triples")
    n_back, h_back = triple_signature(written)
    n_out, h_out = triple_signature(emitted)
    if (n_back, h_back) != (n_out, h_out):
        errors.append(
            f"catalog holds {n_back} triples (hash {h_back}), job emitted {n_out} ({h_out})")
    if int(metrics["triples_total"]) != n_back:
        errors.append(f"triples_total {metrics['triples_total']} != {n_back} rows read back")
    preds = sorted(r[0] for r in written.select("pred").distinct().collect())
    lineage = sorted(p for p, _, _ in catalog_signature(cat, run_id))
    if lineage != preds:
        errors.append(f"lineage partitions {lineage} != predicates {preds}")
    return errors


def golden_pr(got: set, golden: set) -> tuple[float, float]:
    tp = len(got & golden)
    return tp / max(len(got), 1), tp / max(len(golden), 1)


def collect_triples(df: DataFrame) -> set:
    pdf = df.select("subj", "pred", "obj").toPandas()
    return set(zip(pdf["subj"], pdf["pred"], pdf["obj"]))


def output_triples(w: Workload, inp: Inputs, res, rep: int) -> DataFrame:
    """The triples a user of the workload gets: the job's DataFrame, or
    for the writing workload the table read back from the catalog."""
    if w.writes:
        return Catalog(inp.spark, str(inp.catalog_dir / f"rep{rep}")).read("triples")
    return res.triples
