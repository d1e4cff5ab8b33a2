"""Seeded tables for the operator-library workload.

Writes documents, embeddings, events and lineitem as parquet, with the
schemas and value ranges of the test tables (TESTDATA.md) the library's
gates read, at the sizes in workloads.OPS_TABLES (those of sf0.01):
documents of 10-100 words over the tables' 31-word vocabulary, unit 64-d
float embeddings in 10 labelled clusters, events over 30 days, lineitem
rows over a range of parts. A share of the documents are planted
near-duplicates (one word changed) and exact duplicates, so the dedup
joins have pairs to find.

The same seed gives byte-identical files; another seed gives other files.

Usage: python3 benchmark/opsgen.py --seed N --out DIR
"""
import argparse
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from workloads import OPS_TABLES  # noqa: E402

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
         "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
         "the", "value", "vector", "window"]
LANGS = (["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14])
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00
ROW_GROUP_ROWS = 100_000


def documents(rng, n, near_dup_share, exact_dup_share):
    lengths = rng.integers(10, 101, n)
    words = [list(rng.integers(0, len(VOCAB), k)) for k in lengths]
    # later documents copy an earlier one, exactly or with one word changed
    copies = rng.random(n)
    for i in range(1, n):
        if copies[i] < near_dup_share + exact_dup_share:
            src = list(words[int(rng.integers(0, i))])
            if copies[i] < near_dup_share:
                src[int(rng.integers(0, len(src)))] = int(rng.integers(0, len(VOCAB)))
            words[i] = src
    text = [" ".join(VOCAB[w] for w in ws) for ws in words]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text),
        "lang": pa.array(list(rng.choice(LANGS[0], n, p=LANGS[1]))),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def embeddings(rng, n, dim, labels):
    centers = rng.standard_normal((labels, dim))
    label = rng.integers(0, labels, n)
    v = centers[label] + 1.5 * rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def events(rng, n, users, days):
    ts = np.sort(rng.integers(0, days * 86_400_000_000, n)) + EPOCH_US
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array(list(rng.choice(EVENT_TYPES, n))),
        "value": pa.array(np.round(rng.random(n) * 560.0, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def lineitem(rng, n, parts):
    return pa.table({
        "l_orderkey": pa.array(np.arange(n, dtype=np.int64) // 4),
        "l_partkey": pa.array(rng.integers(0, parts, n).astype(np.int64)),
    })


def generate(seed: int, out: str) -> dict:
    """Writes the four tables; returns their rows and bytes and the shares
    measured on them."""
    spec = OPS_TABLES
    rng = np.random.default_rng([seed, 0x0b5])
    os.makedirs(out, exist_ok=True)
    tables = {
        "documents": documents(rng, spec["documents"], spec["near_dup_share"],
                               spec["exact_dup_share"]),
        "embeddings": embeddings(rng, spec["embeddings"], spec["dim"], spec["labels"]),
        "events": events(rng, spec["events"], spec["users"], spec["days"]),
        "lineitem": lineitem(rng, spec["lineitem"], spec["parts"]),
    }
    props = {"seed": seed, "rows": {}, "bytes": {}}
    for name, t in tables.items():
        path = f"{out}/{name}.parquet"
        pq.write_table(t, path, row_group_size=ROW_GROUP_ROWS)
        props["rows"][name] = t.num_rows
        props["bytes"][name] = os.path.getsize(path)
    docs = tables["documents"].column("text").to_pylist()
    props["documents_distinct_text_share"] = len(set(docs)) / len(docs)
    props["lineitem_distinct_partkeys"] = len(set(tables["lineitem"].column("l_partkey")
                                                  .to_numpy().tolist()))
    return props


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.seed, a.out), indent=1))
