"""Seeded synthetic inputs for the benchmark.

``write_tables`` writes the ten tables the query registry reads
(``region nation customer supplier part orders lineitem events
documents embeddings``) with the column names and types of the
registry's TPC-H-ish testdata, at roughly its sf0.01 shape. ``write_pages``
splits documents into page files for the streamed curation run, with
seeded batch assignment and planted cross-batch duplicates.

Everything is numpy + pyarrow (no Spark), so generation is cheap and the
same seed always yields byte-identical files.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "the fast key order sort table scan merge part window small hash join "
    "batch stream spark dup group query row data slow filter customer line "
    "value agg column a big vector"
).split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["cold", "hot", "red", "blue", "small", "large", "old", "new"]
PART_NOUN = ["widget", "plate", "ring", "rod", "bolt", "gizmo", "gear", "pin"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]

# Row counts at the registry's sf0.01 shape.
SHAPE = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "users": 150,
    "documents": 500,
    "embeddings": 500,
}
SMOKE_SHAPE = {k: max(5, v // 10) for k, v in SHAPE.items()}


def _ts(days_from: str, offsets_s: np.ndarray) -> pa.Array:
    base = np.datetime64(days_from, "us")
    return pa.array(base + offsets_s.astype("timedelta64[s]").astype("timedelta64[us]"))


def _day_ts(start: str, days: np.ndarray) -> pa.Array:
    return pa.array(np.datetime64(start, "us") + days.astype("timedelta64[D]").astype("timedelta64[us]"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(8, 100, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, i = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[i : i + k]))
        i += k
    return out


def write_tables(out: Path, seed: int, shape: dict[str, int] = SHAPE) -> None:
    """Write the ten registry tables under ``out``."""
    rng = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)
    n = shape
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2),
    })
    no = n["orders"]
    odays = rng.integers(0, 2400, no)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _day_ts("1995-01-01", odays),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    lorder = np.sort(rng.integers(0, no, nl))
    linenumber = np.ones(nl, dtype=np.int32)
    for i in range(1, nl):
        if lorder[i] == lorder[i - 1]:
            linenumber[i] = linenumber[i - 1] + 1
    qty = rng.integers(1, 51, nl).astype(float)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(lorder, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _day_ts("1995-01-02", odays[lorder] + rng.integers(0, 100, nl)),
    })
    ne = n["events"]
    tables["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * 86400, ne))),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": _money(rng, 0.0, 500.0, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts = doc_texts(rng, nd)
    # a few exact duplicates, as the registry's exact-dedup rows expect
    for i in rng.choice(nd, max(1, nd // 100), replace=False):
        texts[i] = texts[(i + 1) % nd]
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nv = n["embeddings"]
    vec = rng.normal(size=(nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    for name, t in tables.items():
        pq.write_table(t, out / f"{name}.parquet")


def page_html(text: str) -> str:
    return '<html><body><nav><a href="/">Home</a></nav><p>' + text + "</p></body></html>"


def write_pages(out: Path, seed: int, n_docs: int, n_batches: int) -> list[str]:
    """Write ``n_batches`` page files (``doc_id, url, html``) under ``out``.

    Each doc lands in a seeded batch. One doc in six re-appears in a
    later batch under a new id and URL with the same body: a cross-batch
    recrawl the persisted media index must catch. One doc in ten sits on
    a blocklisted host. Returns the page bodies of ids ``0..n_docs-1``."""
    rng = np.random.default_rng(seed + 1)
    out.mkdir(parents=True, exist_ok=True)
    texts = doc_texts(rng, n_docs)
    batch = rng.integers(0, n_batches, n_docs)
    rows: list[list[tuple[int, str, str]]] = [[] for _ in range(n_batches)]
    for i in range(n_docs):
        host = "spam.bad.net" if i % 10 == 0 else f"ok{i % 7}.example.org"
        rows[batch[i]].append((i, f"https://{host}/p/{i}", page_html(texts[i])))
    next_id = n_docs
    for i in range(0, n_docs, 6):
        if batch[i] + 1 < n_batches and i % 10:
            later = int(rng.integers(batch[i] + 1, n_batches))
            rows[later].append(
                (next_id, f"https://ok{next_id % 7}.example.org/r/{next_id}", page_html(texts[i]))
            )
            next_id += 1
    for b, rs in enumerate(rows):
        ids, urls, html = zip(*rs) if rs else ((), (), ())
        pq.write_table(
            pa.table({
                "doc_id": pa.array(ids, pa.int64()),
                "url": pa.array(urls, pa.string()),
                "html": pa.array(html, pa.string()),
            }),
            out / f"pages-{b:03d}.parquet",
        )
    return texts
