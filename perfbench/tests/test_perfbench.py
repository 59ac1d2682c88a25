"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The checksum tests run in a second; the repeat-count tests run the
benchmark itself (two traced runs per workload, a few minutes in all).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402


def _queries(seed):
    return gen.tables_checksum(gen.relational_tables(seed))


def _sync(seed):
    return gen.sync_checksum(seed, gen.sync_nights(seed, 2000, 3))


def _dedup_ann(seed):
    return gen.dedup_ann_checksum(
        gen.dedup_corpus(seed, 300, 2), gen.ann_vectors(seed, 500, 2, 4)
    )


@pytest.mark.parametrize("make", [_queries, _sync, _dedup_ann])
def test_seed_determines_inputs(make):
    assert make(7) == make(7)
    assert make(7) != make(8)


def test_sync_nights_are_consistent():
    nights = gen.sync_nights(3, 2000, 3)
    for nt in nights[1:]:
        assert nt["failing"] <= nt["due"]
        assert not set(nt["deleted"]) & nt["due"]
        assert len(nt["listing"]) == nt["live"]


def _traced(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "12", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"], out.stdout.strip().splitlines()[-2][-3000:]
    return {k: v["value"] for k, v in result["metrics"].items()}


WORKLOADS = ["declared_queries", "etl_nights"]
_RUNS: dict[str, tuple[dict, dict]] = {}


def _two_runs(workload: str) -> tuple[dict, dict]:
    if workload not in _RUNS:
        _RUNS[workload] = (_traced(workload, 5), _traced(workload, 5))
    return _RUNS[workload]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_call_counts_repeat(workload):
    a, b = _two_runs(workload)
    keys = [k for k in a if k.endswith(".calls")] + [
        "site.requests", "site.error_responses", "lakehouse.compactions",
    ]
    assert {k: a[k] for k in keys} == {k: b[k] for k in keys}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_job_counts_repeat(workload):
    a, b = _two_runs(workload)
    keys = [k for k in a if k == "spark.jobs" or k.endswith(".jobs")]
    assert a["spark.jobs"] > 0
    assert {k: a[k] for k in keys} == {k: b[k] for k in keys}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_engine_counts_repeat(workload):
    a, b = _two_runs(workload)
    keys = ["spark.stages", "spark.tasks"]
    assert {k: a[k] for k in keys} == {k: b[k] for k in keys}
