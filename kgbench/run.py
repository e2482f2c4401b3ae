#!/usr/bin/env python3
"""KG-construction benchmark: one workload, one process, one JSON result.

    python3 kgbench/run.py --workload crawl_adaptive --seed 1 --seconds 15 --trace 0

Run from the repository root. The corpus for (workload, seed) is generated
with `datagen.write_corpus_parquet` and cached under `.kgbench/corpora`,
keyed by seed and datagen fingerprint. A run then

1. builds the session on `local[4]` and runs the job once, untimed and
   cold (session build plus this warm-up job is `setup_s`), then checks
   its triples against the datagen golden set and, for the writing
   workload, against the table read back from the catalog, and the
   size-adaptive plan branch against the workload's description;
2. repeats the job, clearing Spark's cache before each rep: first the
   workload's fixed number of untimed warm reps, then timed reps for as
   long as the next one, at the last one's pace, ends within `--seconds`
   (at least one); every rep must reproduce the warm-up's triple
   count and content hash (for the writing workload, its per-predicate
   lineage rows);
3. with `--trace 1`, runs one more rep with a span around each layer call
   (see tracing.py) and reports per-layer metrics instead.

The last stdout line is {"correct", "attempted", "failed", "metrics"}; the
line before it carries the host key. Each run also appends its full
record (samples, host key, provenance) to `.kgbench/results.jsonl`;
report.py summarizes it without pooling across host keys.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from pathlib import Path
from statistics import median

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".kgbench"
PACKAGE = ROOT / "ocds_entity_extract_spark"
CORES = 4
MIN_PR = 0.95
T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"kgbench [{time.perf_counter() - T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pages", type=int, default=None,
                    help="override the workload's page count (smoke test)")
    return ap.parse_args(argv)


def source_hash(paths) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def datagen_fingerprint() -> str:
    return source_hash([PACKAGE / "datagen.py", PACKAGE / "functions" / "text.py"])


def ensure_corpus(w, seed: int, pages: int) -> Path:
    """Generate (once) and return the corpus directory for (w, seed)."""
    from ocds_entity_extract_spark.datagen import write_corpus_parquet

    key = f"{w.name}_p{pages}_s{seed}_{datagen_fingerprint()}"
    out = STATE / "corpora" / hashlib.sha256(key.encode()).hexdigest()[:20]
    if (out / "_SUCCESS").exists():
        return out
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    write_corpus_parquet(str(tmp), pages, seed=seed)
    (tmp / "KEY").write_text(key + "\n")
    (tmp / "_SUCCESS").touch()
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


def isolate_scratch() -> None:
    """Keep Spark's, the JVM's and Python's scratch files in the state dir."""
    tmp = STATE / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def host_key(spark) -> dict:
    import pyspark

    mem = next(
        int(line.split()[1])
        for line in Path("/proc/meminfo").read_text().splitlines()
        if line.startswith("MemTotal:")
    )
    return {
        "nproc": os.cpu_count(),
        "mem_total_kb": mem,
        "jvm": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "pyspark": pyspark.__version__,
    }


def timing_summary(samples: list[float]) -> dict:
    """Median plus the highest percentile with >= 10 samples beyond it."""
    xs = sorted(samples)
    out = {"n": len(xs), "median": median(xs) if xs else None, "p_hi": None}
    if len(xs) > 10:
        out["p_hi"] = {"pct": 100 * (len(xs) - 10) / len(xs), "value": xs[-11]}
    return out


def clean_slate(spark) -> None:
    """Before a rep: drop Spark's cache (cold data) and collect the garbage
    of earlier reps in the JVM and the driver, so a rep does not pay for
    a full collection of its predecessors' heap."""
    spark.catalog.clearCache()
    spark.sparkContext._jvm.java.lang.System.gc()
    gc.collect()


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for all."""
    import procs

    gateway = spark.sparkContext._gateway
    jvm = gateway.proc
    workers = procs.python_workers(jvm.pid)
    spark.stop()
    gateway.shutdown()
    jvm.stdin.close()
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait(timeout=30)
    left = procs.wait_gone(workers, 30)
    for pid in left:
        os.kill(pid, signal.SIGKILL)
    procs.wait_gone(left, 10)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (PACKAGE / "plans" / "pipeline.py").is_file():
        print(f"kgbench: engine package not found at {PACKAGE}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    import procs
    from workloads import (
        WORKLOADS,
        Inputs,
        check_catalog,
        collect_triples,
        golden_pr,
        output_triples,
        plan_branches,
        run_job,
    )

    if args.workload not in WORKLOADS:
        print(f"kgbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload]
    pages_n = args.pages or w.pages
    isolate_scratch()
    corpus = ensure_corpus(w, args.seed, pages_n)
    log(f"corpus ready: {corpus.name}")

    import pyarrow.parquet as pq
    from ocds_entity_extract_spark.functions.classify import (
        load_classifier_override,
        with_entity_type,
    )
    from ocds_entity_extract_spark.operators.mentions import (
        detect_spans_fused,
        surface_dim_batched,
    )
    from ocds_entity_extract_spark.session import get_spark
    from ocds_entity_extract_spark.sources.catalog import Catalog

    g = pq.read_table(corpus / "golden_triples.parquet").to_pydict()
    golden = set(zip(g["subj"], g["pred"], g["obj"]))
    conf = {"spark.ui.showConsoleProgress": "false"}
    evdir = STATE / "eventlog" / f"{os.getpid()}"
    if args.trace:
        shutil.rmtree(evdir, ignore_errors=True)
        evdir.mkdir(parents=True)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    # ---- set-up: session, Python workers and the untimed cold job ----
    t_setup = time.perf_counter()
    spark = get_spark(app_name=f"kgbench-{w.name}", master=f"local[{CORES}]", extra_conf=conf)
    session_start_s = time.perf_counter() - t_setup
    log(f"session up in {session_start_s:.2f}s")
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = spark.sparkContext._gateway.proc.pid
    pages = spark.read.parquet(str(corpus / "pages.parquet"))
    override = load_classifier_override(
        spark, spark.read.parquet(str(corpus / "classifier_override.parquet"))
    )
    inp = Inputs(spark, pages, override, STATE / "catalog" / f"{os.getpid()}")
    errors: list[str] = []
    ref_sig = res0 = m0 = None
    try:
        ref_sig, res0, m0 = run_job(w, inp, 0)
    except Exception:
        traceback.print_exc()
        errors.append("warm-up job raised")
    setup_s = time.perf_counter() - t_setup
    log(f"warm-up job done; setup {setup_s:.2f}s")

    # ---- checks on the warm-up output (untimed) ----
    precision = recall = 0.0
    n_triples = 0
    driver_linking = dict_assembly = None
    if res0 is not None:
        if w.writes:
            errors += check_catalog(
                Catalog(spark, str(inp.catalog_dir / "rep0")), "rep0", m0, res0.triples)
        got = collect_triples(output_triples(w, inp, res0, 0))
        n_triples = len(got)
        precision, recall = golden_pr(got, golden)
        if min(precision, recall) < MIN_PR:
            errors.append(f"golden P/R {precision:.4f}/{recall:.4f} below {MIN_PR}")
        driver_linking, dict_assembly = plan_branches(
            w,
            lambda: with_entity_type(
                surface_dim_batched(detect_spans_fused(pages)), override
            ).count(),
        )
        if (driver_linking, dict_assembly) != (w.driver_linking, w.dict_assembly):
            errors.append(
                f"plan branch drifted: driver_linking={driver_linking}"
                f" dict_assembly={dict_assembly}"
            )
    for e in errors:
        log(f"{w.name}: {e}")
    log("warm-up output checked")

    # ---- untimed warm reps, then timed reps: cold data, warm JVM ----
    samples: list[float] = []
    attempted = failed = 0
    rep = 1
    t_window = None
    while True:
        timed = rep > w.warmup_reps
        if timed and t_window is None:
            t_window = time.perf_counter()
        clean_slate(spark)
        attempted += 1
        rep_errors = list(errors)
        try:
            t0 = time.perf_counter()
            sig, _res, _m = run_job(w, inp, rep)
            if timed:
                samples.append(time.perf_counter() - t0)
            if sig != ref_sig:
                rep_errors.append(f"rep {rep}: output signature {sig} != warm-up {ref_sig}")
        except Exception:
            traceback.print_exc()
            rep_errors.append(f"rep {rep} raised")
        if rep == 1:
            # after a fixed amount of work (the cold job plus one rep), not
            # after the window: the JVM heap keeps growing with every rep,
            # and a faster host fits more reps into the window
            rss = [procs.vm_hwm_mb(os.getpid()), procs.vm_hwm_mb(jvm_pid)] + [
                procs.vm_hwm_mb(p) for p in procs.python_workers(jvm_pid)
            ]
            log(f"peak RSS MB: driver {rss[0]:.0f}, JVM {rss[1]:.0f},"
                f" workers {[round(x) for x in rss[2:]]}")
        if rep_errors:
            failed += 1
            for e in rep_errors[len(errors):]:
                log(f"{w.name}: {e}")
        log(f"rep {rep} done" + ("" if timed else " (warm, untimed)"))
        rep += 1
        # stop before a rep that, at the last rep's pace, would end past
        # the window; at least one timed rep always runs
        now = time.perf_counter()
        if timed and (now - t_window) + (now - t0) > args.seconds:
            break

    if not samples:
        log("no timed rep completed; no result")
        stop_spark(spark)
        return 1
    job = timing_summary(samples)
    job_s = job["median"]
    metrics = {
        "job_s": (job_s, "s"),
        "pages_per_s": (pages_n / job_s, "pages/s"),
        "triples_per_s": (n_triples / job_s, "triples/s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (sum(rss), "MB"),
        "golden_precision": (precision, "ratio"),
        "golden_recall": (recall, "ratio"),
    }

    trace_obs = None
    if args.trace:
        from tracing import Tracer, layer_metrics, parse_eventlog, traced_job

        clean_slate(spark)
        tr = Tracer(spark, jvm_pid)
        attempted += 1
        trace_errors = []
        try:
            trace_obs = traced_job(w, inp, tr, rep)
            trace_errors += trace_obs["branch_errors"]
            if trace_obs["signature"] != ref_sig:
                trace_errors.append("traced rep output differs from the warm-up")
        except Exception:
            traceback.print_exc()
            trace_errors.append("traced rep raised")
        if trace_errors or errors:
            failed += 1
            for e in trace_errors:
                log(f"{w.name}: {e}")
        log("traced rep done")

    key = host_key(spark)
    stop_spark(spark)
    shutil.rmtree(inp.catalog_dir, ignore_errors=True)
    log("spark stopped")

    if args.trace:
        if trace_obs is None:
            print("kgbench: traced rep failed; no per-layer metrics", file=sys.stderr)
            return 1
        logs = [p for p in evdir.iterdir() if p.is_file()]
        groups = parse_eventlog(logs[0])
        shutil.rmtree(evdir, ignore_errors=True)
        metrics = layer_metrics(tr, trace_obs, groups, CORES)
        traced_total = max(s.end for s in tr.spans.values()) - min(
            s.start for s in tr.spans.values())
        metrics["trace.overhead_s"] = (traced_total - job_s, "s")
        metrics["trace.unattributed_s"] = (
            traced_total - sum(s.self_s for s in tr.spans.values()), "s")
        metrics["session.start_s"] = (session_start_s, "s")
        metrics["error_rate"] = (failed / attempted, "ratio")

    provenance = {
        **key,
        "package_sha": source_hash(PACKAGE.rglob("*.py")),
        "datagen": datagen_fingerprint(),
        "seed": args.seed,
    }
    out = {
        "correct": failed == 0 and not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    record = {
        "workload": w.name, "pages": pages_n, "seconds": args.seconds,
        "trace": args.trace, "host": provenance, "job_s": job, "samples": samples,
        "plan": {"driver_linking": driver_linking, "dict_assembly": dict_assembly},
        "time": time.time(), **out,
    }
    with open(STATE / "results.jsonl", "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps({"host": provenance}))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
