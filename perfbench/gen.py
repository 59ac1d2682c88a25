"""Seeded input generators for the workloads.

Everything here is plain numpy/pandas: the program under test only ever
sees the files and objects these functions return. The same seed gives
the same inputs (``checksum`` proves it); nothing reads the wall clock.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


def checksum(*parts) -> str:
    """sha256 over generated data: DataFrames hash by content, arrays by
    bytes, everything else by its JSON form."""
    h = hashlib.sha256()
    for p in parts:
        if isinstance(p, pd.DataFrame):
            h.update(pd.util.hash_pandas_object(p, index=False).values.tobytes())
            h.update(",".join(p.columns).encode())
        elif isinstance(p, np.ndarray):
            h.update(np.ascontiguousarray(p).tobytes())
        else:
            h.update(json.dumps(p, sort_keys=True, default=str).encode())
    return h.hexdigest()[:16]


# --------------------------------------------------------------------------
# declared_queries: the ten relational tables the declared queries read
# --------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_ADJ = ["blue", "cold", "hot", "new", "old", "red", "small", "big"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(base: str, rng, span: int, n: int):
    return (
        pd.Timestamp(base) + pd.to_timedelta(rng.integers(0, span, n), unit="D")
    ).values.astype("datetime64[us]")


def relational_tables(seed: int) -> dict[str, pd.DataFrame]:
    """TPC-H-shaped star schema plus ``events``, ``documents`` and
    ``embeddings``, with the schemas and value domains of the fixture
    tables the declared queries and their DuckDB oracles were written
    for, at their smallest size (6k lineitem rows): per-query overhead
    dominates the declared pass (a warm pass over the fixture tables took
    16 s at this size and 19-21 s at ten times it, local[4])."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = 150, 10, 200
    n_ord, n_li, n_ev, n_doc, n_emb = 1500, 6000, 1000, 500, 500
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": rng.integers(0, 5, 25).astype(np.int32),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(rng.integers(9000, 10000, n_part) / 10.0, 1),
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": _days("1995-01-01", rng, 2405, n_ord),
            "o_orderpriority": rng.choice(_PRIO, n_ord),
        }
    )
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days("1995-01-02", rng, 2499, n_li),
        }
    )
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(
        np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)), unit="us"
    )
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts.values.astype("datetime64[us]"),
            "user_id": rng.integers(0, max(n_cust // 10, 1), n_ev).astype(np.int64),
            "event_type": rng.choice(_EVENTS, n_ev),
            "value": _money(rng, 0, 560, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            # planted near-duplicate: an earlier doc with one marker word
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(
                " ".join(rng.choice(_DOC_WORDS, int(rng.integers(10, 101))))
            )
    t["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, n_emb)
    centers = rng.standard_normal((10, 64))
    emb = centers[labels] + 1.5 * rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": list(emb),
            "label": labels.astype(np.int32),
        }
    )
    return t


def write_tables(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.cast(
                pa.schema(
                    [
                        ("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32()),
                    ]
                )
            )
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def tables_checksum(tables: dict[str, pd.DataFrame]) -> str:
    parts = []
    for name in sorted(tables):
        df = tables[name]
        if name == "embeddings":
            parts += [df.drop(columns="embedding"), np.stack(df["embedding"].values)]
        else:
            parts.append(df)
    return checksum(*parts)


# --------------------------------------------------------------------------
# etl_nights, sync leg: a synthetic Plone site and its nightly listings
# --------------------------------------------------------------------------

_SITE_WORDS = (
    "environment climate water marine soil air emission policy report "
    "indicator assessment measure directive habitat species energy "
    "transport waste resource quality monitoring coastal urban forest"
).split()
N_HOSTS = 64
BASE_MOD = "2024-01-01T00:00:00"


def doc_url(i: int) -> str:
    return f"https://s{i % N_HOSTS}.example/doc/{i}"


def doc_body(seed: int, i: int, version: int) -> str:
    """The JSON a site serves for doc ``i`` at ``version`` (~1.4 KB,
    190 words): a pure function, so it ships to executors as data."""
    k = (seed * 7919 + i * 31 + version * 104729) % len(_SITE_WORDS)
    words = [_SITE_WORDS[(k + j * 7) % len(_SITE_WORDS)] for j in range(190)]
    return json.dumps(
        {
            "@id": doc_url(i),
            "title": f"Doc {i} v{version}",
            "description": f"Synthetic document {i}. " + " ".join(words),
            "language": "en",
            "review_state": "published",
        }
    )


class SynthSite:
    """Picklable in-process Plone site for one night: serves each listed
    doc's current version, and HTTP 500 for the night's failing ids.
    ``requests`` (a Spark accumulator, optional) counts every call."""

    def __init__(self, seed: int, versions: dict[int, int], failing: set[int],
                 requests=None, errors=None):
        self.seed = seed
        self.versions = versions
        self.failing = failing
        self.requests = requests
        self.errors = errors

    def __call__(self, url: str):
        if self.requests is not None:
            self.requests.add(1)
        i = int(url.rsplit("/", 1)[-1])
        if i in self.failing:
            if self.errors is not None:
                self.errors.add(1)
            return 500, "Internal Server Error"
        return 200, doc_body(self.seed, i, self.versions.get(i, 0))


def sync_nights(seed: int, n_docs: int, n_nights: int) -> list[dict]:
    """Night 0 is the full crawl; every later night modifies 3 % of the
    live docs, adds 0.6 %, deletes 0.4 %, and makes 0.2 % of the
    modified docs answer HTTP 500. The sets are disjoint within a night.
    Each entry holds the night's listing and the site state behind it,
    plus what a correct sync must report."""
    rng = np.random.default_rng([seed, 2])
    live = np.arange(n_docs)
    versions: dict[int, int] = {}
    next_id = n_docs
    failed_prev: set[int] = set()
    nights = []
    for n in range(n_nights + 1):
        if n == 0:
            mod = new = dele = fail = np.array([], dtype=np.int64)
            due = set(int(i) for i in live)
        else:
            pool = rng.permutation(live)
            n_mod, n_del = int(0.03 * len(live)), int(0.004 * len(live))
            mod, dele = pool[:n_mod], pool[n_mod:n_mod + n_del]
            fail = mod[: max(1, n_mod // 100)]
            new = np.arange(next_id, next_id + int(0.006 * n_docs))
            next_id += len(new)
            for i in mod:
                versions[int(i)] = n
            live = np.setdiff1d(live, dele)
            live = np.concatenate([live, new])
            # due = new + modified + last night's failures still listed
            due = (set(int(i) for i in mod) | set(int(i) for i in new)
                   | (failed_prev - set(int(i) for i in dele)))
        listing = pd.DataFrame(
            {
                "id": [doc_url(int(i)) for i in live],
                "doc_type": "Document",
                "modified": [
                    BASE_MOD if versions.get(int(i), 0) == 0
                    else f"2024-02-{versions[int(i)]:02d}T00:00:00"
                    for i in live
                ],
                "seo_noindex": False,
            }
        )
        nights.append(
            {
                "night": n,
                "listing": listing,
                "versions": dict(versions),
                "failing": set(int(i) for i in fail),
                "deleted": [int(i) for i in dele],
                "due": due,
                "live": len(live),
            }
        )
        failed_prev = set(int(i) for i in fail)
    return nights


def sync_checksum(seed: int, nights: list[dict]) -> str:
    parts = []
    for nt in nights:
        parts += [nt["listing"], sorted(nt["failing"]), nt["deleted"],
                  sorted(nt["versions"].items())]
    parts.append(doc_body(seed, 0, 0))
    return checksum(*parts)


# --------------------------------------------------------------------------
# etl_nights, dedup and ANN legs: texts with planted near-duplicate groups, and vectors
# --------------------------------------------------------------------------

VOCAB = 50_000
TEXT_WORDS = 60
VEC_DIM = 64


def _text(rng) -> list[str]:
    return [f"w{x}" for x in rng.integers(0, VOCAB, TEXT_WORDS)]


def _near_copy(rng, words: list[str]) -> list[str]:
    w = list(words)
    for pos in rng.integers(0, len(w), 1):
        w[pos] = f"w{rng.integers(0, VOCAB)}"
    return w


def dedup_corpus(seed: int, n_docs: int, n_nights: int) -> dict:
    """Texts over a 50k-word vocabulary (unplanted pairs share almost no
    3-grams), 10 % of docs in planted groups of three near copies.
    Nights add new docs (some planted into existing groups), modify docs
    (half of them move out of their group) and delete docs."""
    rng = np.random.default_rng([seed, 3])
    text: dict[int, list[str]] = {}
    group: dict[int, int] = {}
    i = 0
    while i < n_docs:
        base = _text(rng)
        if rng.random() < 0.036 and i + 3 <= n_docs:
            for j in range(3):
                text[i + j] = base if j == 0 else _near_copy(rng, base)
                group[i + j] = i
            i += 3
        else:
            text[i] = base
            i += 1
    initial = {k: " ".join(v) for k, v in text.items()}
    nights = []
    next_id = n_docs
    for n in range(1, n_nights + 1):
        live = np.array(sorted(text))
        pool = rng.permutation(live)
        n_mod, n_del, n_new = (max(1, int(f * len(live))) for f in (0.01, 0.005, 0.01))
        mod, dele = pool[:n_mod], pool[n_mod:n_mod + n_del]
        changed: dict[int, str] = {}
        for k in mod:
            k = int(k)
            if k in group and rng.random() < 0.5:
                group.pop(k)  # moved out of its group
                text[k] = _text(rng)
            else:
                text[k] = _near_copy(rng, text[k])
            changed[k] = " ".join(text[k])
        grouped = sorted(set(group.values()))
        for _ in range(n_new):
            k = next_id
            next_id += 1
            if grouped and rng.random() < 0.3:
                g = grouped[int(rng.integers(0, len(grouped)))]
                src = next(m for m in sorted(group) if group[m] == g)
                text[k] = _near_copy(rng, text[src])
                group[k] = g
            else:
                text[k] = _text(rng)
            changed[k] = " ".join(text[k])
        for k in dele:
            k = int(k)
            text.pop(k)
            group.pop(k, None)
        nights.append(
            {"changed": changed, "deleted": [int(k) for k in dele],
             "modified": [int(k) for k in mod]}
        )
    return {"initial": initial, "nights": nights, "groups": dict(group),
            "live": sorted(text)}


def _unit(v):
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def ann_vectors(seed: int, n_vecs: int, n_nights: int, n_queries: int) -> dict:
    """Gaussian-mixture unit vectors (32 components); nights add 1 %,
    re-embed 1 % and delete 0.5 %; fresh query vectors per night."""
    rng = np.random.default_rng([seed, 4])
    centers = rng.standard_normal((32, VEC_DIM)) * 2.0

    def draw(n):
        c = rng.integers(0, len(centers), n)
        return _unit(centers[c] + rng.standard_normal((n, VEC_DIM)))

    vecs = {"ids": np.arange(n_vecs, dtype=np.int64), "vecs": draw(n_vecs)}
    nights = []
    live = np.arange(n_vecs)
    next_id = n_vecs
    for _ in range(n_nights):
        pool = rng.permutation(live)
        n_mod, n_del, n_new = (max(1, int(f * len(live))) for f in (0.01, 0.005, 0.01))
        mod, dele = pool[:n_mod], pool[n_mod:n_mod + n_del]
        new = np.arange(next_id, next_id + n_new)
        next_id += n_new
        live = np.concatenate([np.setdiff1d(live, dele), new])
        nights.append(
            {
                "delta_ids": np.concatenate([new, mod]).astype(np.int64),
                "delta_vecs": draw(len(new) + len(mod)),
                "modified": mod.astype(np.int64),
                "deleted": dele.astype(np.int64),
                "queries": draw(n_queries),
            }
        )
    return {"initial": vecs, "nights": nights}


def dedup_ann_checksum(corpus: dict, vectors: dict) -> str:
    parts = [sorted(corpus["initial"].items()), sorted(corpus["groups"].items())]
    for nt in corpus["nights"]:
        parts += [sorted(nt["changed"].items()), nt["deleted"]]
    parts += [vectors["initial"]["ids"], vectors["initial"]["vecs"]]
    for nt in vectors["nights"]:
        parts += [nt["delta_ids"], nt["delta_vecs"], nt["deleted"], nt["queries"]]
    return checksum(*parts)
