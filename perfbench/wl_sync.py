"""The sync leg of ``etl_nights``: ``run_sync`` against a seeded
in-process Plone site.

A full crawl of 6k docs (~1.4 KB each, 64 hosts, listed through
``listing_provider``) lands in empty MOR state with buckets; then
nights modify ~3 % of the docs, add 0.6 %, delete 0.4 % and answer
HTTP 500 for 1 % of the modified ones. The sync runs with its dedup and
ANN legs off; those are driven by ``wl_dedup_ann`` on their own inputs.
"""

from __future__ import annotations

import json
import os
import re
import statistics

from perfbench import gen
from perfbench.common import snapshot, total_bytes, written_bytes

N_DOCS = 4000
BUCKETS = 8


def _nights(seconds: int) -> int:
    # two nights at least: the second one compacts the MOR tables
    return max(2, round(seconds / 15))


def setup(ctx) -> dict:
    nights = gen.sync_nights(ctx.seed, N_DOCS, _nights(ctx.seconds))
    listing_dir = os.path.join(ctx.work, "listings")
    os.makedirs(listing_dir)
    for nt in nights:
        nt["listing_path"] = os.path.join(listing_dir, f"night_{nt['night']}.parquet")
        nt["listing"].to_parquet(nt["listing_path"], index=False)
    return {"nights": nights, "checksum": gen.sync_checksum(ctx.seed, nights)}


def _bases(paths: list[str]) -> dict[str, object]:
    """Current MOR base pointer per table: a flip is one compaction."""
    out = {}
    for p in paths:
        spec = os.path.join(p, "_mor", "spec.json")
        if os.path.exists(spec):
            with open(spec) as fh:
                out[p] = json.load(fh).get("base")
    return out


def run(ctx, state: dict) -> None:
    from pyspark.sql import functions as F

    from eea_crawler_spark.pipeline import SyncConfig, SyncPaths, run_sync
    from eea_crawler_spark.sinks import lakehouse as LK

    spark, nights = ctx.spark, state["nights"]
    root = os.path.join(ctx.work, "state")
    paths = SyncPaths(
        raw=os.path.join(root, "raw"),
        searchui=os.path.join(root, "searchui"),
        quarantine=os.path.join(root, "quarantine"),
        status=os.path.join(root, "status"),
    )
    tables = [paths.raw, paths.searchui, paths.quarantine, paths.status]
    requests = spark.sparkContext.accumulator(0)
    errors = spark.sparkContext.accumulator(0)

    def sync(nt):
        cfg = SyncConfig(
            site_url="https://s0.example",
            site_id="synth",
            listing_source="provided",
            listing_provider=lambda s: s.read.parquet(nt["listing_path"]),
            state_backend="mor",
            state_buckets=BUCKETS,
        )
        site = gen.SynthSite(ctx.seed, nt["versions"], nt["failing"], requests, errors)
        return run_sync(spark, cfg, paths, site)

    def check_counts(nt, r):
        due, fail = len(nt["due"]), len(nt["failing"])
        ctx.check(r.get("fetched") == due, f"night {nt['night']}: fetched {r.get('fetched')} != due {due}")
        ctx.check(r.get("normalized") == due - fail,
                  f"night {nt['night']}: normalized {r.get('normalized')} != {due - fail}")
        ctx.check(r.get("deleted") == len(nt["deleted"]),
                  f"night {nt['night']}: deleted {r.get('deleted')} != {len(nt['deleted'])}")

    full = nights[0]
    with ctx.timed("sync_full") as full_ph:
        r = sync(full)
    check_counts(full, r)

    night_ph, written, delivered = [], 0, 0
    bases = _bases(tables)
    compactions = 0
    for nt in nights[1:]:
        before = snapshot(tables)
        with ctx.timed("sync_night") as ph:
            r = sync(nt)
        night_ph.append(ph)
        written += written_bytes(before, snapshot(tables))
        delivered += sum(
            len(gen.doc_body(ctx.seed, i, nt["versions"].get(i, 0)))
            for i in nt["due"] if i not in nt["failing"]
        )
        now = _bases(tables)
        compactions += sum(1 for p, b in now.items() if bases.get(p) != b)
        bases = now
        check_counts(nt, r)

    # end state: live docs served at their latest version (a doc whose
    # fetch failed on the last night keeps an older one), deleted docs
    # gone, failures quarantined
    last = nights[-1]
    served = LK.read_table(spark, paths.searchui).select("id", "title").collect()
    ctx.check(len(served) == last["live"], f"searchui rows {len(served)} != live {last['live']}")
    stale = []
    for doc_id, title in served:
        m = re.fullmatch(r"Doc (\d+) v(\d+)", title or "")
        i = int(m.group(1)) if m else -1
        if i in last["failing"]:
            continue
        if not m or doc_id != gen.doc_url(i) or int(m.group(2)) != last["versions"].get(i, 0):
            stale.append(doc_id)
    ctx.check(not stale, f"{len(stale)} docs served at a wrong version, e.g. {stale[:3]}")
    gone = [gen.doc_url(i) for nt in nights for i in nt["deleted"]]
    leaked = set(gone) & {doc_id for doc_id, _t in served}
    ctx.check(not leaked, f"{len(leaked)} deleted docs still served")
    raw_leaked = LK.read_table(spark, paths.raw).filter(F.col("id").isin(gone)).count() if gone else 0
    ctx.check(raw_leaked == 0, f"{raw_leaked} deleted docs still in raw")
    failing = [gen.doc_url(i) for i in last["failing"]]
    quarantined = {
        row[0] for row in LK.read_table(spark, paths.quarantine)
        .filter(F.col("id").isin(failing) & (F.col("error_cnt") >= 1))
        .select("id").collect()
    }
    ctx.check(quarantined == set(failing),
              f"quarantine holds {len(quarantined)} of {len(failing)} failing ids")

    state_bytes = total_bytes(snapshot(tables))
    due_total = sum(len(nt["due"]) for nt in nights)
    night_due = sum(len(nt["due"]) for nt in nights[1:])
    # the nights are a fixed cycle of unequal nights (one carries a MOR
    # compaction): the mean over the cycle, not a median that jumps
    # between kinds of night from run to run
    night_s = [ph.wall for ph in night_ph]
    night_mean = statistics.mean(night_s)
    per_doc_ms = sum(night_s) * 1000 / night_due
    ctx.observed.update(
        {
            "site.requests": requests.value,
            "site.requests_per_due_doc": requests.value / max(due_total, 1),
            "site.error_responses": errors.value,
            "lakehouse.compactions": compactions,
            "lakehouse.written_mb": written / (1 << 20),
            "lakehouse.state_mb": state_bytes / (1 << 20),
        }
    )
    ctx.detail.update(
        {
            "sync_full_s": full_ph.wall,
            "sync_full_ginstr": full_ph.ginstr,
            "sync_night_s": night_mean,
            "sync_night_ginstr": statistics.mean(ph.ginstr for ph in night_ph),
            "night_s": night_s,
            "night_ms_per_due_doc": per_doc_ms,
            "sync_write_amp": written / max(delivered, 1),
            "sync_nights": len(night_s),
            "sync_docs": N_DOCS,
        }
    )
    return full_ph, night_ph
