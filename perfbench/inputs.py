"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed writes
the same bytes. Nothing here reads data from outside the run directory.

- ``write_registry_tables`` — the ten tables the query registry reads
  (TPC-H-shaped star schema, an ``events`` stream, ``documents`` and
  ``embeddings``), at the row counts and value ranges of the 0.001 scale
  factor the registry's oracles were written against.
- ``write_online_corpus`` — a multi-line document corpus split into
  micro-batch files, with planted near-duplicates and shared boilerplate
  lines, for the streaming ingest path.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGION_NAMES = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "blue", "cold", "old", "new", "hot", "large", "red"]
PART_NOUN = ["widget", "rod", "ring", "anvil", "plate", "bolt", "gear", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "purchase", "view"]
DOC_WORDS = (
    "the stream query row fast small spark group customer line sort hash "
    "batch data filter value big key order table scan merge part window "
    "join slow agg column a vector"
).split()
LANGS = ["en", "en", "es", "zh", "de", "fr"]


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _days(rng, n: int, start: dt.datetime, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def write_registry_tables(out_dir: str, seed: int = 42, sf: float = 0.001) -> dict:
    """Write the registry's ten input tables to ``out_dir`` and return
    ``{table: rows}``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = max(int(10_000 * sf), 10)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 15)
    n_docs = n_emb = 500
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGION_NAMES,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust), f64),
        "c_mktsegment": list(rng.choice(SEGMENTS, n_cust)),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp), f64),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": list(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n_part) % 200) * 0.1, 2), f64
        ),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(money(1000.0, 500_000.0, n_ord), f64),
        "o_orderdate": pa.array(
            _days(rng, n_ord, dt.datetime(1995, 1, 1), 2404), pa.timestamp("us")
        ),
        "o_orderpriority": list(rng.choice(PRIORITIES, n_ord)),
    })
    qty = rng.integers(1, 51, n_li).astype(float)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(
            np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2), f64
        ),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": list(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": list(rng.choice(["O", "F"], n_li)),
        "l_shipdate": pa.array(
            _days(rng, n_li, dt.datetime(1995, 1, 2), 2498), pa.timestamp("us")
        ),
    })
    # events: distinct microsecond timestamps over 30 days, ids in ts order
    span_us = 30 * 86_400 * 1_000_000
    ts_us = np.sort(rng.choice(span_us, n_ev, replace=False))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(
            np.datetime64(dt.datetime(2024, 1, 1), "us")
            + ts_us.astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": list(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev) + 0.01, 2), f64),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    words = np.array(DOC_WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), rng.integers(10, 100))])
        for _ in range(n_docs)
    ]
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": list(rng.choice(LANGS, n_docs)),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })
    return {
        "region": 5, "nation": 25, "customer": n_cust, "supplier": n_supp,
        "part": n_part, "orders": n_ord, "lineitem": n_li, "events": n_ev,
        "documents": n_docs, "embeddings": n_emb,
    }


BOILERPLATE = [
    "subscribe to our newsletter for weekly updates",
    "all rights reserved",
    "click here to accept cookies",
    "share this article on social media",
    "terms of service and privacy policy apply",
    "posted in uncategorized",
    "read more about our editorial standards",
    "sign in to leave a comment",
]


def write_online_corpus(
    out_dir: str, seed: int, n_files: int, docs_per_file: int
) -> dict:
    """Write ``n_files`` parquet micro-batch files of ``(doc_id, text)``.

    The corpus has the same shape for every seed; only the words change.
    A document has 3-6 lines of 6-12 words from a 3,000-word vocabulary;
    two in five carry one or two boilerplate lines shared across the
    corpus; one in ten (``doc_id % 10 == 9``) is a near-duplicate of the
    document seven ids earlier, which is in the same or the previous file,
    with two words replaced. File modification times increase with the
    file index, so a file stream reads them in order. Returns the doc
    count, the planted near-duplicate ids and the input bytes."""
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i:04d}" for i in range(3000)])
    os.makedirs(out_dir, exist_ok=True)
    texts: list[str] = []
    planted: list[int] = []
    nbytes = 0
    for fi in range(n_files):
        ids = list(range(fi * docs_per_file, (fi + 1) * docs_per_file))
        for doc_id in ids:
            if doc_id % 10 == 9:
                words = texts[doc_id - 7].split(" ")
                # two words; a token that spans a line break is kept
                for k in rng.choice(len(words), 2, replace=False):
                    if "\n" not in words[k]:
                        words[k] = vocab[int(rng.integers(len(vocab)))]
                texts.append(" ".join(words))
                planted.append(doc_id)
                continue
            lines = [
                " ".join(vocab[rng.integers(0, len(vocab), 6 + (doc_id + li) % 7)])
                for li in range(3 + doc_id % 4)
            ]
            if doc_id % 5 < 2:
                for b in range(1 + doc_id % 2):
                    lines.insert(
                        (doc_id + b) % (len(lines) + 1),
                        BOILERPLATE[(doc_id // 5 + b) % len(BOILERPLATE)],
                    )
            texts.append("\n".join(lines))
        path = os.path.join(out_dir, f"b{fi:03d}.parquet")
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts[ids[0]:]}), path
        )
        os.utime(path, (1_700_000_000 + fi * 10,) * 2)
        nbytes += os.path.getsize(path)
    return {"docs": len(texts), "planted_dups": planted, "bytes": nbytes}
