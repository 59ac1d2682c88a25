"""Spans around the program's public layer functions, and the engine's
own numbers read back from Spark's event log.

The wrappers are pass-through: each one labels the Spark jobs its call
launches (``spark.job.description`` = ``pb#<span id> <name>``) and
records ``{name, start, end, parent, run}`` in memory. A job is charged
to the innermost span active when it was submitted. Self time is a
span's duration minus the part of it its child spans cover.

The per-layer metrics describe the measured phases only: spans and jobs
inside a ``bench.timed.*`` span. Set-up (input generation, warm-up) and
the benchmark's correctness checks run outside those spans and are left
out, except ``session.get_spark``. A measured job that no layer span
holds (it is charged to the phase span itself) is ``unattributed``.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import sys
import time

# (layer, module, function) — the public entry points the pipeline and
# the declared queries call into. Installed on every loaded module of
# the package that holds the same function object, so ``from x import f``
# call sites are wrapped too.
WRAPPED = [
    ("acquire", "eea_crawler_spark.sources.acquire", "fetch_docs"),
    ("incremental", "eea_crawler_spark.operators.incremental", "sync_sweep_parts"),
    ("incremental", "eea_crawler_spark.operators.incremental", "quarantine_fold"),
    ("sites", "eea_crawler_spark.operators.sites", "normalize_by_site"),
    ("sites", "eea_crawler_spark.operators.sites", "nlp_preprocess_by_site"),
    ("indexes", "eea_crawler_spark.sinks.indexes", "upsert_index"),
    ("indexes", "eea_crawler_spark.sinks.indexes", "delete_from_index"),
    ("indexes", "eea_crawler_spark.sinks.indexes", "status_event"),
    ("lakehouse", "eea_crawler_spark.sinks.lakehouse", "merge_upsert"),
    ("lakehouse", "eea_crawler_spark.sinks.lakehouse", "merge_delete"),
    ("lakehouse", "eea_crawler_spark.sinks.lakehouse", "read_table"),
    ("lakehouse", "eea_crawler_spark.sinks.lakehouse", "read_table_parts"),
    ("dedup", "eea_crawler_spark.operators.dedup", "ngram_jaccard_pairs"),
    ("dedup", "eea_crawler_spark.operators.dedup", "update_connected_components"),
    ("dedup", "eea_crawler_spark.operators.dedup", "append_text_dedup_state"),
    ("dedup", "eea_crawler_spark.operators.dedup", "repair_text_dedup_state"),
    ("similarity", "eea_crawler_spark.operators.similarity", "append_ivf_index"),
    ("similarity", "eea_crawler_spark.operators.similarity", "repair_ivf_index"),
    ("similarity", "eea_crawler_spark.operators.similarity", "ivf_topk_state"),
    ("pipeline", "eea_crawler_spark.pipeline", "run_sync"),
    ("pipeline", "eea_crawler_spark.pipeline", "run_dedup_maintenance"),
    ("pipeline", "eea_crawler_spark.pipeline", "run_ann_maintenance"),
    ("pipeline", "eea_crawler_spark.pipeline", "ann_search"),
    ("pipeline", "eea_crawler_spark.pipeline", "bootstrap_dedup_maintenance"),
]

PLAN_FAMILIES = ("core", "sync", "text", "dedup", "ann")
HEAVY_QUERIES = (
    "ann_ivf_repair", "ann_ivf_state", "dedup_cluster_incr",
    "dedup_minhash_contained",
)
ENGINE = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
    "spark.gc_s", "spark.busy_frac", "spark.shuffle_write_mb",
    "spark.shuffle_read_mb", "spark.input_mb", "spark.output_mb",
    "spark.spill_mb", "driver.gap_s",
)
OBSERVED = (
    "site.requests", "site.requests_per_due_doc", "site.error_responses",
    "lakehouse.compactions", "lakehouse.written_mb", "lakehouse.state_mb",
    "dedup.written_mb", "dedup.state_mb", "similarity.written_mb",
    "similarity.state_mb",
)
_DESC = re.compile(r"^pb#(\d+) ")
_MB = 1 << 20


class Tracer:
    """Records spans; inert (``enabled=False``) in untraced runs except
    for the benchmark's own phase spans, which cost two clock reads."""

    def __init__(self, enabled: bool, run: str):
        self.enabled = enabled
        self.run = run
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext

    def span(self, name: str):
        return _Span(self, name)

    def _open(self, name: str) -> int:
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "name": name, "start": time.time(), "end": None,
             "parent": self._stack[-1] if self._stack else None,
             "run": self.run}
        )
        self._stack.append(sid)
        return sid

    def _close(self, sid: int) -> None:
        self.spans[sid]["end"] = time.time()
        self._stack.pop()

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap every WRAPPED function at each module attribute holding it."""
        import importlib

        for layer, mod_name, attr in WRAPPED:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            wrapped = self.wrap(orig, f"{layer}.{attr}")
            for m_name, m in list(sys.modules.items()):
                if not m_name.startswith("eea_crawler_spark") or m is None:
                    continue
                for k, v in list(vars(m).items()):
                    if v is orig:
                        setattr(m, k, wrapped)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.t = tracer
        self.name = name

    def __enter__(self):
        t = self.t
        self.sid = t._open(self.name)
        self.sc = t._sc if t.enabled else None
        if self.sc is not None:
            self.old = self.sc.getLocalProperty("spark.job.description")
            self.sc.setLocalProperty(
                "spark.job.description", f"pb#{self.sid} {self.name}"
            )
        return self

    def __exit__(self, *exc):
        t = self.t
        if self.sc is not None:
            self.sc.setLocalProperty("spark.job.description", self.old)
        t._close(self.sid)
        return False


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    """One record per job: id, span id (from its description), the name of
    its final stage, submit and end times (epoch s), the number of its
    stages that ran and summed task metrics."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    m = _DESC.match(desc)
                    jid = ev["Job ID"]
                    infos = sorted(ev.get("Stage Infos", []), key=lambda i: i["Stage ID"])
                    jobs[jid] = {
                        "job": jid, "span": int(m.group(1)) if m else None,
                        "name": infos[-1].get("Stage Name", "") if infos else "",
                        "submit": ev["Submission Time"] / 1000.0, "end": None,
                        "stages": 0, "tasks": 0,
                        "run_s": 0.0, "gc_s": 0.0, "shuffle_write": 0,
                        "shuffle_read": 0, "input": 0, "output": 0, "spill": 0,
                    }
                    for s in ev.get("Stage IDs", []):
                        stage_job.setdefault(s, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    # stages that ran: a job also lists the stages it
                    # skipped because an earlier job had computed them
                    jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if jid in jobs:
                        jobs[jid]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics")
                    if jid is None or jid not in jobs or not tm:
                        continue
                    j = jobs[jid]
                    j["tasks"] += 1
                    j["run_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    j["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                    sw = tm.get("Shuffle Write Metrics") or {}
                    j["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    j["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    j["input"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                    j["output"] += (tm.get("Output Metrics") or {}).get(
                        "Bytes Written", 0
                    )
                    j["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
    return [jobs[k] for k in sorted(jobs)]


# --------------------------------------------------------------------------
# aggregation
# --------------------------------------------------------------------------


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans: list[dict]) -> dict[int, float]:
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - _union(_clip(children.get(s["id"], []), s["start"], s["end"]))
        for s in spans
    }


def plan_family(query: str, core: set, sync: set) -> str:
    if query in core:
        return "core"
    if query in sync:
        return "sync"
    if query.startswith("ann_"):
        return "ann"
    if query.startswith(("dedup_", "emb_neardup")):
        return "dedup"
    return "text"


def layer_metrics(spans: list[dict], jobs: list[dict], cores: int,
                  observed: dict, core: set, sync: set) -> dict[str, float]:
    """Every per-layer metric the benchmark declares, from one traced run.
    Layers the workload never calls read 0."""
    out: dict[str, float] = {}
    selfs = self_times(spans)
    out["session.get_spark.self_s"] = sum(
        selfs[s["id"]] for s in spans if s["name"] == "session.get_spark"
    )
    spans, jobs = measured_only(spans, jobs)
    by_span: dict[int, list[dict]] = {}
    for j in jobs:
        by_span.setdefault(j["span"], []).append(j)

    # engine
    measured = [(s["start"], s["end"]) for s in spans if s["name"].startswith("bench.timed.")]
    wall = sum(e - s for s, e in measured)
    job_iv = [(j["submit"], j["end"]) for j in jobs if j["end"] is not None]
    busy = sum(_union(_clip(job_iv, s, e)) for s, e in measured)
    run_s = sum(j["run_s"] for j in jobs)
    out.update(
        {
            "spark.jobs": len(jobs),
            "spark.stages": sum(j["stages"] for j in jobs),
            "spark.tasks": sum(j["tasks"] for j in jobs),
            "spark.executor_run_s": run_s,
            "spark.gc_s": sum(j["gc_s"] for j in jobs),
            "spark.busy_frac": run_s / (wall * cores) if wall else 0.0,
            "spark.shuffle_write_mb": sum(j["shuffle_write"] for j in jobs) / _MB,
            "spark.shuffle_read_mb": sum(j["shuffle_read"] for j in jobs) / _MB,
            "spark.input_mb": sum(j["input"] for j in jobs) / _MB,
            "spark.output_mb": sum(j["output"] for j in jobs) / _MB,
            "spark.spill_mb": sum(j["spill"] for j in jobs) / _MB,
            "driver.gap_s": wall - busy,
        }
    )

    # plans: spans are named plans.<query>.build / plans.<query>.exec
    for fam in PLAN_FAMILIES:
        for k in ("build_s", "exec_s", "jobs", "shuffle_mb"):
            out[f"plans.{fam}.{k}"] = 0.0
    for q in HEAVY_QUERIES:
        out[f"plans.{q}.exec_s"] = 0.0
        out[f"plans.{q}.jobs"] = 0.0
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s["id"])
    for s in spans:
        parts = s["name"].split(".")
        if parts[0] != "plans" or len(parts) != 3:
            continue
        q, phase = parts[1], parts[2]
        fam = plan_family(q, core, sync)
        dur = s["end"] - s["start"]
        js = _subtree_jobs(s["id"], kids, by_span)
        out[f"plans.{fam}.{phase}_s"] += dur
        out[f"plans.{fam}.jobs"] += len(js)
        out[f"plans.{fam}.shuffle_mb"] += sum(
            j["shuffle_write"] + j["shuffle_read"] for j in js
        ) / _MB
        if q in HEAVY_QUERIES:
            if phase == "exec":
                out[f"plans.{q}.exec_s"] += dur
            out[f"plans.{q}.jobs"] += len(js)

    # wrapped functions: calls, self time, jobs charged to the span itself
    for layer, _mod, attr in WRAPPED:
        name = f"{layer}.{attr}"
        mine = [s for s in spans if s["name"] == name]
        out[f"{name}.calls"] = len(mine)
        out[f"{name}.self_s"] = sum(selfs[s["id"]] for s in mine)
        out[f"{name}.jobs"] = sum(len(by_span.get(s["id"], [])) for s in mine)

    phase = {s["id"] for s in spans if s["name"].startswith("bench.")}
    out["unattributed.jobs"] = sum(1 for j in jobs if j["span"] in phase or j["span"] is None)
    out["unattributed.share"] = (
        out["unattributed.jobs"] / len(jobs) if jobs else 0.0
    )
    for k in OBSERVED:
        out[k] = float(observed.get(k, 0.0))
    return out


def measured_only(spans: list[dict], jobs: list[dict]) -> tuple[list[dict], list[dict]]:
    """The spans inside a ``bench.timed.*`` span (itself included), and
    the jobs charged to them or submitted unlabelled while one ran."""
    by_id = {s["id"]: s for s in spans}

    def measured(s: dict) -> bool:
        while s is not None:
            if s["name"].startswith("bench.timed."):
                return True
            s = by_id.get(s["parent"])
        return False

    keep = {s["id"] for s in spans if measured(s)}
    phases = [(s["start"], s["end"]) for s in spans if s["name"].startswith("bench.timed.")]
    return ([s for s in spans if s["id"] in keep],
            [j for j in jobs if j["span"] in keep or (
                j["span"] is None and any(a <= j["submit"] <= b for a, b in phases))])


def _subtree_jobs(sid: int, kids: dict, by_span: dict) -> list[dict]:
    out, todo = [], [sid]
    while todo:
        cur = todo.pop()
        out += by_span.get(cur, [])
        todo += kids.get(cur, [])
    return out


def per_layer_names() -> list[str]:
    names = list(ENGINE) + ["session.get_spark.self_s"]
    names += [f"plans.{f}.{k}" for f in PLAN_FAMILIES
              for k in ("build_s", "exec_s", "jobs", "shuffle_mb")]
    names += [f"plans.{q}.{k}" for q in HEAVY_QUERIES for k in ("exec_s", "jobs")]
    names += [f"{layer}.{attr}.{k}" for layer, _m, attr in WRAPPED
              for k in ("calls", "self_s", "jobs")]
    names += ["unattributed.jobs", "unattributed.share"]
    names += list(OBSERVED)
    return names


def unit_of(name: str) -> str:
    if name.endswith(("_s",)):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_frac", ".share", "per_due_doc")):
        return "ratio"
    return "count"
