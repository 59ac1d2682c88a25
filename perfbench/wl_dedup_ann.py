"""The dedup and ANN legs of ``etl_nights``: maintenance, then searches.

Bootstrap (timed as one build): ``bootstrap_dedup_maintenance`` over
seeded texts with planted near-duplicate groups, and the first
``run_ann_maintenance`` over seeded Gaussian-mixture vectors. Then
nights: each passes new + modified rows and deleted ids to
``run_dedup_maintenance`` (method ``ngram``) and ``run_ann_maintenance``
and ends with a closed-loop burst of single-vector ``ann_search``
requests (one client, k=10, fresh query vectors). Only paths, method and
thresholds are configured; every maintenance mode is the default.
"""

from __future__ import annotations

import os
import statistics

import numpy as np
import pandas as pd

from perfbench import gen
from perfbench.common import snapshot, total_bytes, written_bytes

N_DOCS = 600
N_VECS = 3000
K = 10
SEARCHES_PER_NIGHT = 5
THRESHOLD = 0.8


def _nights(seconds: int) -> int:
    return max(1, round(seconds / 40))


def setup(ctx) -> dict:
    nights = _nights(ctx.seconds)
    corpus = gen.dedup_corpus(ctx.seed, N_DOCS, nights)
    vectors = gen.ann_vectors(ctx.seed, N_VECS, nights, SEARCHES_PER_NIGHT)
    inp = os.path.join(ctx.work, "input")
    os.makedirs(inp)

    def texts(d: dict, path: str) -> str:
        pd.DataFrame(
            {"id": np.array(list(d), dtype=np.int64), "text": list(d.values())}
        ).to_parquet(path, index=False)
        return path

    def vecs(ids, v, path: str) -> str:
        pd.DataFrame({"chunk_id": ids, "embedding": list(v)}).to_parquet(path, index=False)
        return path

    def ids(col: str, values, path: str) -> str:
        pd.DataFrame({col: np.asarray(values, dtype=np.int64)}).to_parquet(path, index=False)
        return path

    files = {
        "docs": texts(corpus["initial"], f"{inp}/docs.parquet"),
        "vecs": vecs(vectors["initial"]["ids"], vectors["initial"]["vecs"], f"{inp}/vecs.parquet"),
        "nights": [],
    }
    for n, (dn, vn) in enumerate(zip(corpus["nights"], vectors["nights"]), 1):
        files["nights"].append(
            {
                "docs": texts(dn["changed"], f"{inp}/docs_{n}.parquet"),
                "docs_deleted": ids("id", dn["deleted"], f"{inp}/docs_del_{n}.parquet"),
                "vecs": vecs(vn["delta_ids"], vn["delta_vecs"], f"{inp}/vecs_{n}.parquet"),
                "vecs_deleted": ids("chunk_id", vn["deleted"], f"{inp}/vecs_del_{n}.parquet"),
            }
        )
    return {"corpus": corpus, "vectors": vectors, "files": files,
            "checksum": gen.dedup_ann_checksum(corpus, vectors)}


def _exact_topk(ids: np.ndarray, mat: np.ndarray, q: np.ndarray) -> set[int]:
    sims = mat @ (q / np.linalg.norm(q))
    return set(int(i) for i in ids[np.argsort(-sims)[:K]])


def run(ctx, state: dict) -> None:
    from pyspark.sql import functions as F

    from eea_crawler_spark.pipeline import (
        AnnConfig,
        DedupConfig,
        ann_search,
        bootstrap_dedup_maintenance,
        run_ann_maintenance,
        run_dedup_maintenance,
    )
    from eea_crawler_spark.sinks import lakehouse as LK

    spark = ctx.spark
    corpus, vectors, files = state["corpus"], state["vectors"], state["files"]
    root = os.path.join(ctx.work, "state")
    dcfg = DedupConfig(
        state_path=f"{root}/dedup_state",
        clusters_path=f"{root}/clusters",
        flags_path=f"{root}/flags",
        method="ngram",
        text_col="text",
        threshold=THRESHOLD,
    )
    acfg = AnnConfig(index_path=f"{root}/ivf")
    dedup_dirs = [dcfg.state_path, dcfg.clusters_path, dcfg.flags_path]
    ann_dirs = [acfg.index_path]
    read = spark.read.parquet

    with ctx.timed("index_build") as build:
        boot = bootstrap_dedup_maintenance(spark, dcfg, read(files["docs"]), id_col="id")
        built = run_ann_maintenance(spark, acfg, read(files["vecs"]))
    ctx.check(boot.get("flagged") == len(corpus["initial"]),
           f"bootstrap flagged {boot.get('flagged')} of {len(corpus['initial'])}")
    ctx.check(built.get("built") == N_VECS, f"IVF built {built.get('built')} of {N_VECS}")

    live = dict(zip(vectors["initial"]["ids"].tolist(), vectors["initial"]["vecs"]))
    deleted_vecs: set[int] = set()
    dedup_ph, ann_ph, search_ph, recalls = [], [], [], []
    dd_written = ann_written = dd_delivered = ann_delivered = 0
    for fn, dn, vn in zip(files["nights"], corpus["nights"], vectors["nights"]):
        before = snapshot(dedup_dirs)
        with ctx.timed("dedup_night") as ph:
            r = run_dedup_maintenance(
                spark, dcfg, read(fn["docs"]), id_col="id",
                deleted_ids=read(fn["docs_deleted"]),
            )
        dedup_ph.append(ph)
        dd_written += written_bytes(before, snapshot(dedup_dirs))
        dd_delivered += sum(len(t) for t in dn["changed"].values())
        ctx.check("flagged" in r, f"dedup night returned {r}")

        before = snapshot(ann_dirs)
        with ctx.timed("ann_night") as ph:
            r = run_ann_maintenance(
                spark, acfg, read(fn["vecs"]), deleted_ids=read(fn["vecs_deleted"]),
            )
        ann_ph.append(ph)
        ann_written += written_bytes(before, snapshot(ann_dirs))
        ann_delivered += vn["delta_vecs"].nbytes
        ctx.check("appended" in r, f"ANN night returned {r}")

        for i, v in zip(vn["delta_ids"].tolist(), vn["delta_vecs"]):
            live[i] = v
        for i in vn["deleted"].tolist():
            live.pop(i, None)
            deleted_vecs.add(i)
        ids = np.fromiter(live, dtype=np.int64)
        mat = np.stack([live[i] for i in ids.tolist()])

        for q in vn["queries"]:
            qdf = spark.createDataFrame(
                [(0, [float(x) for x in q])], "chunk_id long, embedding array<float>"
            )
            with ctx.timed("ann_search") as ph:
                rows = ann_search(spark, acfg, qdf, k=K).collect()
            search_ph.append(ph)
            served = [int(row["chunk_id"]) for row in rows]
            ctx.check(len(served) == K and not (set(served) & deleted_vecs),
                   f"search served {len(served)} ids, deleted: {set(served) & deleted_vecs}")
            recalls.append(len(set(served) & _exact_topk(ids, mat, q)) / K)

    # ANN: a re-embedded id serves its new vector, or is absent and ledgered
    last = vectors["nights"][-1]
    mod = [int(i) for i in last["modified"][:5] if int(i) in live]
    qdf = spark.createDataFrame(
        [(i, [float(x) for x in live[i]]) for i in mod], "chunk_id long, embedding array<float>"
    )
    got = {(int(r["q_id"]), int(r["chunk_id"])): float(r["cos"])
           for r in ann_search(spark, acfg, qdf, k=K).collect()}
    ledger_path = f"{acfg.index_path}/stale_ids"
    ledger = (
        {int(r[0]) for r in read(ledger_path).select("id").collect()}
        if os.path.isdir(ledger_path) else set()
    )
    for i in mod:
        if (i, i) in got:
            ctx.check(got[(i, i)] > 0.9999, f"id {i} served an old vector (cos {got[(i, i)]})")
        else:
            ctx.check(i in ledger, f"id {i} neither served nor ledgered")

    # dedup: one kept doc per cluster, no flags for deleted docs
    flags = LK.read_table(spark, dcfg.flags_path)
    bad = flags.groupBy("cluster_id").agg(F.sum(F.col("keep").cast("int")).alias("k")) \
        .filter(F.col("k") != 1).count()
    ctx.check(bad == 0, f"{bad} clusters without exactly one kept doc")
    gone = [i for nt in corpus["nights"] for i in nt["deleted"]]
    left = flags.filter(F.col("id").isin(gone)).count()
    ctx.check(left == 0, f"{left} deleted docs still flagged")
    labels = LK.read_table(spark, dcfg.clusters_path).toPandas()
    f1 = _pair_f1(labels, corpus["groups"], set(corpus["live"]))

    recall = float(np.mean(recalls))
    dedup_s = [ph.wall for ph in dedup_ph]
    ann_s = [ph.wall for ph in ann_ph]
    search_ms = [ph.wall * 1000 for ph in search_ph]
    ctx.observed.update(
        {
            "dedup.written_mb": dd_written / (1 << 20),
            "dedup.state_mb": total_bytes(snapshot(dedup_dirs)) / (1 << 20),
            "similarity.written_mb": ann_written / (1 << 20),
            "similarity.state_mb": total_bytes(snapshot(ann_dirs)) / (1 << 20),
        }
    )
    ctx.detail.update(
        {
            "index_build_s": build.wall,
            "index_build_ginstr": build.ginstr,
            "dedup_night_s": statistics.median(dedup_s),
            "ann_night_s": statistics.median(ann_s),
            "ann_search_p50_ms": statistics.median(search_ms),
            "ann_search_p90_ms": float(np.percentile(search_ms, 90)),
            "ann_searches": len(search_ms),
            "ann_recall_at_10": recall,
            "dedup_pair_f1": f1,
            "dedup_ann_write_amp": (dd_written + ann_written)
            / max(dd_delivered + ann_delivered, 1),
            "dedup_docs": N_DOCS,
            "vectors": N_VECS,
            "dedup_nights": len(dedup_s),
        }
    )
    return build, dedup_ph, ann_ph, search_ph


def _pairs(members: dict[int, list[int]]) -> set[tuple[int, int]]:
    out = set()
    for ms in members.values():
        ms = sorted(ms)
        out.update((a, b) for i, a in enumerate(ms) for b in ms[i + 1:])
    return out


def _pair_f1(labels: pd.DataFrame, groups: dict[int, int], live: set[int]) -> float:
    """Co-membership F1 of the maintained clusters against the planted
    groups, over docs that are still live."""
    node = "node" if "node" in labels.columns else labels.columns[0]
    pred: dict[int, list[int]] = {}
    for n, c in zip(labels[node], labels["cluster_id"]):
        if int(n) in live:
            pred.setdefault(int(c), []).append(int(n))
    truth: dict[int, list[int]] = {}
    for d, g in groups.items():
        truth.setdefault(g, []).append(d)
    p, t = _pairs(pred), _pairs(truth)
    if not p and not t:
        return 1.0
    tp = len(p & t)
    return 2 * tp / (len(p) + len(t))
