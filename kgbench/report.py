#!/usr/bin/env python3
"""Summarize `.kgbench/results.jsonl`: per metric, the median, quartiles
and quartile spread (q3 - q1) / median over runs, plus the pooled job_s
samples' median and high percentile.

    python3 kgbench/report.py [--since UNIX_TIME] [--results PATH]

Runs are grouped by host key (nproc, MemTotal, JVM, pyspark), then by
package-source hash and datagen fingerprint, then by workload and trace
mode. Numbers are never pooled or compared across host keys; seeds within
one group are pooled, as the spread check requires.
"""

from __future__ import annotations

import argparse
import json
from collections import defaultdict
from pathlib import Path
from statistics import median, quantiles

from run import STATE, timing_summary

HOST_FIELDS = ("nproc", "mem_total_kb", "jvm", "pyspark")


def spread(values: list[float]) -> tuple[float, float, float, float]:
    if len(values) < 2:
        v = values[0]
        return v, v, v, 0.0
    q1, mid, q3 = quantiles(values, n=4)
    return mid, q1, q3, (q3 - q1) / mid if mid else 0.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--since", type=float, default=0.0)
    ap.add_argument("--results", type=Path, default=STATE / "results.jsonl")
    args = ap.parse_args()

    groups: dict[tuple, list[dict]] = defaultdict(list)
    for line in args.results.read_text().splitlines():
        r = json.loads(line)
        if r["time"] < args.since:
            continue
        h = r["host"]
        groups[(
            tuple(h[k] for k in HOST_FIELDS), h["package_sha"], h["datagen"],
            r["workload"], r["pages"], r["seconds"], r["trace"],
        )].append(r)

    for (host, pkg, dg, workload, pages, seconds, trace), runs in sorted(groups.items()):
        print(f"\n== host {dict(zip(HOST_FIELDS, host))} package {pkg} datagen {dg}")
        seeds = sorted({r["host"]["seed"] for r in runs})
        bad = sum(not r["correct"] for r in runs)
        print(f"   {workload} pages={pages} seconds={seconds} trace={trace}:"
              f" {len(runs)} runs, seeds {seeds}, {bad} not correct")
        pooled = timing_summary([s for r in runs for s in r["samples"]])
        print(f"   job_s pooled over reps: {pooled}")
        names = runs[0]["metrics"].keys()
        for name in names:
            vals = [r["metrics"][name]["value"] for r in runs if name in r["metrics"]]
            mid, q1, q3, sp = spread(vals)
            unit = runs[0]["metrics"][name]["unit"]
            print(f"   {name:40s} {mid:14.6g} {unit:10s} q1 {q1:.6g} q3 {q3:.6g}"
                  f" spread {sp:.4f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
