"""The traced run: one rep of a workload with a span around each public
call into a layer, in pipeline order.

Each span sets the Spark job group to its name, so the event log (written
in traced runs only) attributes executor run/CPU/GC time, tasks, jobs and
shuffle bytes to the layer. Lazy layers are cached and forced inside their
own span, so `build_triples` reuses their output instead of recomputing
it. The layers `build_triples` runs eagerly inside itself — driver-side
linking and the distributed CC loop — get their spans from a timing
wrapper installed around the public function for the duration of the
call; `pipeline.assembly` then reports its self time, i.e. the span minus
those nested spans.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path
from statistics import median

from ocds_entity_extract_spark.functions.classify import with_entity_type
from ocds_entity_extract_spark.materialize import materialize_triples
from ocds_entity_extract_spark.operators import linking as linking_mod
from ocds_entity_extract_spark.operators.linking import (
    candidate_pairs,
    verified_edges,
)
from ocds_entity_extract_spark.operators.mentions import (
    detect_spans_fused,
    mentions_via_dim,
    surface_dim_batched,
)
from ocds_entity_extract_spark.operators.merge import merge_entities
from ocds_entity_extract_spark.plans import pipeline as pipeline_mod
from ocds_entity_extract_spark.plans.pipeline import build_triples

import procs
from workloads import (
    PREDICATES,
    build_defaults,
    catalog_signature,
    entity_docs_frame,
    fresh_catalog,
    membership_docs_frame,
    plan_branches,
    triple_signature,
)

LAYER_SPANS = {
    "mentions": ("mentions.extract", "mentions.probe"),
    "classify": ("classify.dim",),
    "merge": ("merge.merge",),
    "linking": ("linking.linking",),
    "cc": ("cc.cc",),
    "pipeline": ("pipeline.assembly",),
    "materialize": ("materialize.write",),
    "documents": (
        "documents.entity_docs", "documents.membership_docs",
        "documents.product_docs",
    ),
}
UNTIMED_GROUP = "kgbench.untimed"


@dataclass
class Span:
    start: float
    end: float
    py_cpu_s: float
    children_s: float = 0.0   # time covered by nested spans

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.children_s


@dataclass
class Tracer:
    spark: object
    jvm_pid: int
    spans: dict[str, Span] = field(default_factory=dict)
    _stack: list[str] = field(default_factory=list)
    _children: dict[str, float] = field(default_factory=lambda: defaultdict(float))

    def group(self, name: str | None) -> None:
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.group(name)
        cpu0 = procs.python_worker_cpu_s(self.jvm_pid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.spans[name] = Span(
                t0, t1, procs.python_worker_cpu_s(self.jvm_pid) - cpu0,
                self._children.pop(name, 0.0),
            )
            self._stack.pop()
            self.group(parent or UNTIMED_GROUP)
            if parent:
                self._children[parent] += t1 - t0

    @contextmanager
    def wrap(self, module, attr: str, name: str, seen: dict):
        """Run every call of `module.attr` inside span `name`; its return
        value is kept in `seen[name]`."""
        orig = getattr(module, attr)

        def timed(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
            seen[name] = out
            return out

        setattr(module, attr, timed)
        try:
            yield
        finally:
            setattr(module, attr, orig)


def traced_job(w, inp, tr: Tracer, rep: int) -> dict:
    """The workload's job with one span per layer call. Returns the
    counts observed along the way plus the output signature."""
    kw = {**build_defaults(), **w.build_kwargs}
    obs: dict = {}
    with tr.span("mentions.extract"):
        spans = detect_spans_fused(inp.pages).cache()
        obs["span_rows"] = spans.count()
    with tr.span("classify.dim"):
        dim = with_entity_type(surface_dim_batched(spans), inp.override).cache()
        obs["surfaces"] = dim.count()
    driver_linking, dict_assembly = plan_branches(w, lambda: obs["surfaces"])
    if kw["surface_broadcast"] in ("force", "aqe"):
        use_bc = kw["surface_broadcast"] == "force"
    else:
        use_bc = obs["surfaces"] <= kw["max_broadcast_surfaces"]
    with tr.span("mentions.probe"):
        obs["occurrences"] = mentions_via_dim(spans, dim, broadcast=use_bc).count()
    if w.writes:
        with tr.span("merge.merge"):
            ents = merge_entities(mentions_via_dim(spans, dim, broadcast=use_bc)).cache()
            obs["entities"] = ents.count()
    ids = dim.select("entity_id")
    if not driver_linking:
        with tr.span("linking.linking"):
            edges = verified_edges(ids, hash_family=kw["linking_hash_family"]).cache()
            obs["verified_edges"] = edges.count()

    seen: dict = {}
    with tr.span("pipeline.assembly"), \
            tr.wrap(linking_mod, "linking_canon_dict", "linking.linking", seen), \
            tr.wrap(pipeline_mod, "canonical_mapping", "cc.cc", seen):
        res = build_triples(inp.spark, inp.pages, inp.override, **w.build_kwargs)
        triples = res.triples.cache()
        obs["signature"] = triple_signature(triples)
    if w.writes:
        cat = fresh_catalog(inp, rep)
        run_id = f"rep{rep}"
        with tr.span("materialize.write"):
            materialize_triples(cat, triples, run_id=run_id)
        with tr.span("documents.entity_docs"):
            cat.replace_table("entity_docs", entity_docs_frame(res), partition_by=["entity_type"])
        with tr.span("documents.membership_docs"):
            cat.replace_table("membership_docs", membership_docs_frame(res))
        with tr.span("documents.product_docs"):
            cat.replace_table("product_docs", res.products)
        obs["signature"] = catalog_signature(cat, run_id)

    # counts outside every span: they cost the traced run time, never a layer
    obs["driver_linking"] = "linking.linking" in seen
    obs["dict_assembly"] = dict_assembly
    obs["branch_errors"] = []
    if obs["driver_linking"] != driver_linking:
        obs["branch_errors"].append("traced linking branch disagrees with the plan rule")
    if "linking.linking" in seen:
        obs["components"] = len(set(seen["linking.linking"].values()))
    else:
        obs["components"] = res.mapping.select("canonical_id").distinct().count()
    obs["candidate_pairs"] = candidate_pairs(ids, hash_family=kw["linking_hash_family"]).count()
    if driver_linking:
        obs["verified_edges"] = verified_edges(ids, hash_family=kw["linking_hash_family"]).count()
    obs["triples_by_pred"] = dict(
        triples.groupBy("pred").count().rdd.map(tuple).collect()
    )
    if w.writes:
        table = Path(cat.path("triples"))
        files = [p for p in table.rglob("*.parquet") if p.is_file()]
        obs["bytes_written"] = sum(p.stat().st_size for p in files)
        obs["files"] = len(files)
        obs["entity_docs"] = cat.read("entity_docs").count()
    return obs


def parse_eventlog(path: Path) -> dict[str, dict]:
    """Per job group: Spark jobs, tasks, executor run/CPU/GC seconds,
    shuffle bytes written, and per-stage task run times (for skew)."""
    groups: dict[str, dict] = defaultdict(lambda: {
        "jobs": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_write_mb": 0.0, "stage_runs": defaultdict(list),
    })
    stage_group: dict[int, str | None] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                groups[g]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = g
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"])
                tm = ev.get("Task Metrics") or {}
                s = groups[g]
                s["tasks"] += 1
                s["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                s["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                s["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                sw = tm.get("Shuffle Write Metrics") or {}
                s["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                s["stage_runs"][ev["Stage ID"]].append(tm.get("Executor Run Time", 0))
    return groups


def task_skew(g: dict) -> float:
    """max / median task run time of the group's heaviest stage."""
    if not g["stage_runs"]:
        return 0.0
    runs = max(g["stage_runs"].values(), key=sum)
    mid = median(runs)
    return max(runs) / mid if mid else 0.0


def layer_metrics(tr: Tracer, obs: dict, groups: dict, cores: int) -> dict[str, tuple[float, str]]:
    """Every per-layer metric, 0 for a layer the workload does not run."""
    zero = {"jobs": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_mb": 0.0, "stage_runs": {}}

    def g(span: str) -> dict:
        return groups.get(span, zero)

    self_s = {n: s.self_s for n, s in tr.spans.items()}
    m: dict[str, tuple[float, str]] = {}
    for span in (s for spans in LAYER_SPANS.values() for s in spans):
        m[f"{span}_s"] = (self_s.get(span, 0.0), "s")

    ext = tr.spans["mentions.extract"]
    wall = ext.end - ext.start
    m["mentions.extract_cpu_s"] = (g("mentions.extract")["cpu_s"], "s")
    m["mentions.extract_py_cpu_s"] = (ext.py_cpu_s, "s")
    m["mentions.extract_core_busy"] = (g("mentions.extract")["run_s"] / (wall * cores), "ratio")
    m["mentions.span_rows"] = (obs["span_rows"], "count")
    m["mentions.occurrences"] = (obs["occurrences"], "count")
    m["classify.surfaces"] = (obs["surfaces"], "count")
    m["classify.surfaces_per_occurrence"] = (obs["surfaces"] / max(obs["occurrences"], 1), "ratio")
    m["merge.entities"] = (obs.get("entities", 0), "count")
    m["merge.shuffle_write_mb"] = (g("merge.merge")["shuffle_write_mb"], "MB")
    m["merge.task_skew"] = (task_skew(g("merge.merge")), "ratio")
    m["linking.candidate_pairs"] = (obs["candidate_pairs"], "count")
    m["linking.verified_edges"] = (obs["verified_edges"], "count")
    m["linking.verify_yield"] = (obs["verified_edges"] / max(obs["candidate_pairs"], 1), "ratio")
    m["linking.spark_jobs"] = (g("linking.linking")["jobs"], "count")
    m["linking.shuffle_write_mb"] = (g("linking.linking")["shuffle_write_mb"], "MB")
    m["cc.components"] = (obs["components"], "count")
    m["cc.spark_jobs"] = (g("cc.cc")["jobs"], "count")
    m["pipeline.assembly_shuffle_write_mb"] = (g("pipeline.assembly")["shuffle_write_mb"], "MB")
    for pred in PREDICATES:
        m[f"pipeline.triples.{pred}"] = (obs["triples_by_pred"].get(pred, 0), "count")
    m["pipeline.driver_linking"] = (int(obs["driver_linking"]), "bool")
    m["pipeline.dict_assembly"] = (int(obs["dict_assembly"]), "bool")
    m["materialize.bytes_written"] = (obs.get("bytes_written", 0), "bytes")
    m["materialize.files"] = (obs.get("files", 0), "count")
    m["documents.entity_docs"] = (obs.get("entity_docs", 0), "count")
    for layer, spans in LAYER_SPANS.items():
        m[f"{layer}.gc_s"] = (sum(g(s)["gc_s"] for s in spans), "s")
        m[f"{layer}.tasks"] = (sum(g(s)["tasks"] for s in spans), "count")
    return m
