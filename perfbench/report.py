#!/usr/bin/env python3
"""Read the traced runs' span files and print where the time went.

    python3 perfbench/report.py [--dir .perfbench]

For every traced run (``.perfbench/<workload>-s<seed>-t1/spans.json``):
self time and Spark jobs per layer, the share of jobs launched outside
every span (``unattributed``), and the tracing overhead — each
end-to-end metric of the traced run minus the same metric of the
untraced run with the same workload and seed (or, failing that, the
median of that workload's untraced runs).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.trace import measured_only, self_times  # noqa: E402


def layer_table(spans: list[dict], jobs: list[dict]) -> dict[str, dict]:
    """{layer: {self_s, calls, jobs}} over the measured phases; a layer is
    the span name's first component, and jobs charged to a phase span
    itself are ``unattributed``."""
    selfs = self_times(spans)
    spans, jobs = measured_only(spans, jobs)
    layer_of = {s["id"]: s["name"].split(".", 1)[0] for s in spans}
    out: dict[str, dict] = {}
    for s in spans:
        row = out.setdefault(layer_of[s["id"]], {"self_s": 0.0, "calls": 0, "jobs": 0})
        row["self_s"] += selfs[s["id"]]
        row["calls"] += 1
    for j in jobs:
        layer = layer_of.get(j["span"], "bench")
        layer = "unattributed" if layer == "bench" else layer
        out.setdefault(layer, {"self_s": 0.0, "calls": 0, "jobs": 0})["jobs"] += 1
    return out


def _results(res_dir: str) -> dict[tuple[str, int, int], dict]:
    out = {}
    for path in glob.glob(os.path.join(res_dir, "*.json")):
        with open(path) as fh:
            d = json.load(fh)
        det = d["detail"]
        out[(det["workload"], det["host"]["seed"], det["trace"])] = det
    return out


def overhead(results: dict, workload: str, seed: int) -> dict[str, float] | None:
    traced = results.get((workload, seed, 1))
    if traced is None:
        return None
    base = results.get((workload, seed, 0))
    if base is not None:
        ref = base["end_to_end"]
    else:
        runs = [d["end_to_end"] for (w, _s, t), d in results.items() if w == workload and t == 0]
        if not runs:
            return None
        ref = {k: statistics.median(r[k] for r in runs) for k in runs[0]}
    return {k: traced["end_to_end"][k] - ref[k] for k in ref if k in traced["end_to_end"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--dir", default=".perfbench")
    args = ap.parse_args()
    results = _results(os.path.join(args.dir, "results"))
    files = sorted(glob.glob(os.path.join(args.dir, "*-t1", "spans.json")))
    if not files:
        print(f"no traced runs under {args.dir} (run perfbench/run.py --trace 1)")
        return 1
    for path in files:
        with open(path) as fh:
            d = json.load(fh)
        table = layer_table(d["spans"], d["jobs"])
        n_jobs = sum(row["jobs"] for row in table.values())
        print(f"\n== {d['workload']} seed {d['seed']}  ({n_jobs} measured jobs, {d['cores']} cores)")
        print(f"{'layer':<14}{'self_s':>10}{'calls':>8}{'jobs':>8}")
        for layer, row in sorted(table.items(), key=lambda kv: -kv[1]["self_s"]):
            print(f"{layer:<14}{row['self_s']:>10.3f}{row['calls']:>8}{row['jobs']:>8}")
        un = table.get("unattributed", {}).get("jobs", 0)
        print(f"unattributed share: {un / max(n_jobs, 1):.3f} of jobs")
        ov = overhead(results, d["workload"], d["seed"])
        if ov is None:
            print("tracing overhead: no untraced run of this workload to compare")
        else:
            print("tracing overhead (traced - untraced): "
                  + ", ".join(f"{k} {v:+.3f}" for k, v in ov.items()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
