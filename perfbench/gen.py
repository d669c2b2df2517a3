"""Seeded input generators for every workload.

Everything here is numpy + pyarrow only (no Spark), so inputs are
produced before the timed region and the same seed always yields the
same arrays and byte-identical parquet files.

* ``write_tables`` -- the ten catalog tables (TPC-H-ish star schema,
  ``events``, ``documents``, ``embeddings``) with the schemas and value
  distributions of the project's fixture data, at a chosen scale factor.
* ``batch_corpus`` -- clustered vectors plus vocabulary texts with planted
  near-duplicate vector pairs and text pairs (vector-batch).
* ``ingest_base`` / ``ingest_batch`` -- the base store and the per-batch
  inserts, updates and probe queries (ingest-search).
* ``query_pool`` / ``request_schedule`` -- the Zipf-drawn query texts and
  the request kinds of the rag-serve closed loop.
"""

from __future__ import annotations

import datetime as dt
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64

# The fixture corpus vocabulary: document texts are drawn from it, so
# query terms overlap documents and BM25 / MinHash have real matches.
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
_PART_ADJ = ("blue", "old", "hot", "large", "cold", "small", "new", "red")
_PART_NOUN = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod")
_PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def rng_for(seed: int, *tags: str) -> np.random.Generator:
    """Independent stream per (seed, tag...): adding a table or a batch
    never shifts the values another generator draws."""
    return np.random.default_rng([int(seed), *(zlib.crc32(t.encode()) for t in tags)])


def _write(table: pa.Table, path: str) -> None:
    # one row group, no pandas metadata: the bytes depend only on the data
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def unit_rows(x: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(x, axis=1, keepdims=True)
    return x / np.where(n == 0, 1.0, n)


def clustered_vectors(rng: np.random.Generator, n: int, clusters: int,
                      spread: float = 0.8) -> tuple[np.ndarray, np.ndarray]:
    """Unit float32 vectors around ``clusters`` random unit centers."""
    centers = unit_rows(rng.standard_normal((clusters, DIM)))
    labels = rng.integers(0, clusters, n)
    noise = rng.standard_normal((n, DIM)) * (spread / np.sqrt(DIM))
    vecs = unit_rows(centers[labels] + noise).astype(np.float32)
    return vecs, labels.astype(np.int32)


def random_texts(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    lens = rng.integers(lo, hi + 1, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    return out


def vector_array(vecs: np.ndarray) -> pa.Array:
    flat = pa.array(vecs.astype(np.float32).reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def _ts(base: dt.datetime, micros: np.ndarray) -> pa.Array:
    epoch = int(base.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.array(epoch + micros.astype(np.int64), pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


# ------------------------------------------------------------------ tables


def write_tables(out_dir: str, seed: int, sf: float, only: tuple[str, ...] | None = None) -> dict:
    """The ten catalog tables at scale factor ``sf`` (one parquet file
    each, named ``<table>.parquet``), or just the tables in ``only``.
    Returns the row counts written."""
    os.makedirs(out_dir, exist_ok=True)
    n = {
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(10, int(200_000 * sf)),
        "orders": max(10, int(1_500_000 * sf)),
        "events": max(10, int(1_000_000 * sf)),
        "users": max(2, int(15_000 * sf)),
        "documents": 5000 if sf >= 0.1 else 500,
        "embeddings": 2000 if sf >= 0.1 else 500,
    }
    counts = {}
    for name, build in _TABLES.items():
        if only is None or name in only:
            t = pa.table(build(rng_for(seed, name), n))
            counts[name] = t.num_rows
            _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return counts


_DAY = 86_400_000_000  # microseconds


def _region(r, n):
    return {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(_REGIONS)}


def _nation(r, n):
    return {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }


def _customer(r, n):
    c = n["customer"]
    return {
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(r.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": pa.array(_money(r, c, -999.99, 9999.99)),
        "c_mktsegment": pa.array([_SEGMENTS[i] for i in r.integers(0, 5, c)]),
    }


def _supplier(r, n):
    c = n["supplier"]
    return {
        "s_suppkey": pa.array(np.arange(c, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(c)]),
        "s_nationkey": pa.array(r.integers(0, 25, c).astype(np.int32)),
        "s_acctbal": pa.array(_money(r, c, -999.99, 9999.99)),
    }


def _part(r, n):
    c = n["part"]
    return {
        "p_partkey": pa.array(np.arange(c, dtype=np.int64)),
        "p_name": pa.array([f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                            for a, b in zip(r.integers(0, 8, c), r.integers(0, 8, c))]),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, c)]),
        "p_type": pa.array([_PART_TYPES[i] for i in r.integers(0, 6, c)]),
        "p_size": pa.array(r.integers(1, 51, c).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(c) % 1000) / 10.0, 1)),
    }


def _orders(r, n):
    c = n["orders"]
    return {
        "o_orderkey": pa.array(np.arange(c, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n["customer"], c).astype(np.int64)),
        "o_orderstatus": pa.array([("O", "F", "P")[i] for i in r.integers(0, 3, c)]),
        "o_totalprice": pa.array(_money(r, c, 1000.0, 500000.0)),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), r.integers(0, 2404, c) * _DAY),
        "o_orderpriority": pa.array([_PRIORITIES[i] for i in r.integers(0, 5, c)]),
    }


def _lineitem(r, n):
    per_order = r.integers(1, 8, n["orders"])
    c = int(per_order.sum())
    order_keys = np.repeat(np.arange(n["orders"], dtype=np.int64), per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    perm = r.permutation(c)  # rows are not stored in order-key order
    return {
        "l_orderkey": pa.array(order_keys[perm]),
        "l_partkey": pa.array(r.integers(0, n["part"], c).astype(np.int64)),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], c).astype(np.int64)),
        "l_linenumber": pa.array((np.arange(c) - starts + 1)[perm].astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, c).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, c, 900.0, 105000.0)),
        "l_discount": pa.array(r.integers(0, 11, c) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, c) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in r.integers(0, 3, c)]),
        "l_linestatus": pa.array([("O", "F")[i] for i in r.integers(0, 2, c)]),
        "l_shipdate": _ts(dt.datetime(1995, 1, 2), r.integers(0, 2498, c) * _DAY),
    }


def _events(r, n):
    c = n["events"]
    gaps = r.exponential(1.0, c)
    span = 30 * _DAY - 60_000_000
    micros = (np.cumsum(gaps) / gaps.sum() * span).astype(np.int64) + 11_000_000
    return {
        "event_id": pa.array(np.arange(c, dtype=np.int64)),
        "ts": _ts(dt.datetime(2024, 1, 1), micros),
        "user_id": pa.array(r.integers(0, n["users"], c).astype(np.int64)),
        "event_type": pa.array([_EVENT_TYPES[i] for i in r.integers(0, 5, c)]),
        "value": pa.array(np.maximum(0.01, np.round(r.exponential(50.0, c), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, c)]),
    }


def _documents(r, n):
    c = n["documents"]
    texts = random_texts(r, c, 10, 100)
    # 5% near-duplicates: another document's text plus a marker word
    for i in np.flatnonzero(r.random(c) < 0.05):
        j = int(r.integers(0, c))
        if j != i:
            texts[i] = texts[j] + " dup"
    return {
        "doc_id": pa.array(np.arange(c, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([_LANGS[i] for i in r.choice(5, c, p=_LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(c)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(r, n):
    vecs, labels = clustered_vectors(r, n["embeddings"], 10)
    return {
        "vec_id": pa.array(np.arange(len(vecs), dtype=np.int64)),
        "embedding": vector_array(vecs),
        "label": pa.array(labels),
    }


_TABLES = {
    "region": _region, "nation": _nation, "customer": _customer,
    "supplier": _supplier, "part": _part, "orders": _orders,
    "lineitem": _lineitem, "events": _events, "documents": _documents,
    "embeddings": _embeddings,
}


def read_vectors(path: str) -> tuple[np.ndarray, np.ndarray]:
    """(ids, float32 matrix) of an ``embeddings``-shaped parquet file."""
    t = pq.read_table(path, columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_numpy()
    flat = t.column("embedding").combine_chunks().flatten().to_numpy()
    return ids, flat.reshape(len(ids), -1).astype(np.float32)


# ------------------------------------------------------------- rag-serve


def query_pool(seed: int, size: int, tag: str = "query-pool") -> list[str]:
    """``size`` distinct query texts of 2-5 vocabulary words."""
    r = rng_for(seed, tag)
    pool: list[str] = []
    while len(pool) < size:
        words = r.choice(len(VOCAB), int(r.integers(2, 6)), replace=False)
        q = " ".join(VOCAB[w] for w in words)
        if q not in pool:
            pool.append(q)
    return pool


def request_schedule(seed: int, pool_size: int, n: int, kinds: tuple[str, ...],
                     zipf_s: float) -> list[tuple[str, int]]:
    """(kind, pool index) for request i. Kinds cycle through ``kinds`` so
    the mix is exact at every prefix. Query ranks follow Zipf(``zipf_s``)
    frequencies in a low-discrepancy order (each request takes the rank
    furthest below its share so far), so every prefix repeats head queries
    in the same proportion whatever the seed; the seed decides which query
    text holds which rank."""
    p = 1.0 / np.arange(1, pool_size + 1) ** zipf_s
    p /= p.sum()
    text_of_rank = rng_for(seed, "schedule").permutation(pool_size)
    counts = np.zeros(pool_size)
    out = []
    for i in range(n):
        r = int(np.argmax(p * (i + 1) - counts))
        counts[r] += 1
        out.append((kinds[i % len(kinds)], int(text_of_rank[r])))
    return out


def repeat_share(schedule: list[tuple[str, int]]) -> float:
    """Share of requests whose (kind, query) already appeared earlier."""
    seen, rep = set(), 0
    for item in schedule:
        rep += item in seen
        seen.add(item)
    return rep / max(1, len(schedule))


# ----------------------------------------------------------- vector-batch


def batch_corpus(seed: int, n: int, clusters: int, vec_pairs: int, text_pairs: int,
                 queries: int) -> dict:
    """Vectors + texts with planted near-duplicates.

    A planted vector pair is (i, j) with v_j a slightly perturbed copy of
    v_i (cosine ~0.999); a planted text pair is (i, j) with t_j = t_i
    with one word replaced. Returns arrays plus the planted pair sets
    (smaller id first) and the query vectors for the batch kNN step."""
    r = rng_for(seed, "batch-corpus")
    vecs, _ = clustered_vectors(r, n, clusters)
    texts = random_texts(r, n, 20, 60)
    slots = r.permutation(n)[: 2 * (vec_pairs + text_pairs)].reshape(-1, 2)
    planted_vec, planted_text = set(), set()
    for a, b in slots[:vec_pairs]:
        v = vecs[a].astype(np.float64) + r.standard_normal(DIM) * (0.05 / np.sqrt(DIM))
        vecs[b] = (v / np.linalg.norm(v)).astype(np.float32)
        planted_vec.add((int(min(a, b)), int(max(a, b))))
    for a, b in slots[vec_pairs:]:
        words = texts[a].split()
        pos = int(r.integers(0, len(words)))
        words[pos] = VOCAB[(VOCAB.index(words[pos]) + 1 + int(r.integers(0, len(VOCAB) - 1)))
                           % len(VOCAB)]
        texts[b] = " ".join(words)
        planted_text.add((int(min(a, b)), int(max(a, b))))
    qsrc = r.integers(0, n, queries)
    qv = unit_rows(vecs[qsrc].astype(np.float64)
                   + r.standard_normal((queries, DIM)) * (0.5 / np.sqrt(DIM)))
    return {
        "ids": np.arange(n, dtype=np.int64),
        "vecs": vecs,
        "texts": texts,
        "planted_vec": planted_vec,
        "planted_text": planted_text,
        "queries": qv.astype(np.float32),
    }


def write_vectors(path: str, ids: np.ndarray, vecs: np.ndarray, files: int = 1) -> None:
    """``embeddings``-shaped parquet (vec_id, embedding) split over
    ``files`` files so the scan has that many input partitions."""
    os.makedirs(path, exist_ok=True)
    for f, part in enumerate(np.array_split(np.arange(len(ids)), files)):
        _write(pa.table({"vec_id": pa.array(ids[part]), "embedding": vector_array(vecs[part])}),
               os.path.join(path, f"part-{f:03d}.parquet"))


def write_docs(path: str, ids: np.ndarray, texts: list[str], files: int = 1) -> None:
    os.makedirs(path, exist_ok=True)
    for f, part in enumerate(np.array_split(np.arange(len(ids)), files)):
        _write(pa.table({"doc_id": pa.array(ids[part]),
                         "text": pa.array([texts[i] for i in part])}),
               os.path.join(path, f"part-{f:03d}.parquet"))


# ---------------------------------------------------------- ingest-search


def ingest_base(seed: int, n: int, clusters: int) -> dict:
    r = rng_for(seed, "ingest-base")
    vecs, _ = clustered_vectors(r, n, clusters)
    return {"ids": np.arange(n, dtype=np.int64), "vecs": vecs,
            "texts": random_texts(r, n, 5, 30)}


def ingest_batch(seed: int, b: int, first_id: int, inserts: int, updates: int,
                 probes: int, clusters_from: np.ndarray) -> dict:
    """Batch ``b`` on a store holding ids ``0 .. first_id - 1``: ``inserts``
    new rows (ids from ``first_id``), text updates of ``updates`` existing
    ids, and ``probes`` query vectors near rows of ``clusters_from``.
    Probe 0 is an exact copy of a vector inserted in this batch."""
    r = rng_for(seed, "ingest-batch", str(b))
    ids = np.arange(first_id, first_id + inserts, dtype=np.int64)
    src = clusters_from[r.integers(0, len(clusters_from), inserts)].astype(np.float64)
    vecs = unit_rows(src + r.standard_normal((inserts, DIM)) * (0.8 / np.sqrt(DIM)))
    upd_ids = np.sort(r.choice(first_id, updates, replace=False)).astype(np.int64)
    probe_src = clusters_from[r.integers(0, len(clusters_from), probes)].astype(np.float64)
    pvecs = unit_rows(probe_src + r.standard_normal((probes, DIM)) * (1.6 / np.sqrt(DIM)))
    pvecs[0] = vecs[int(r.integers(0, inserts))]
    return {
        "ids": ids,
        "vecs": vecs.astype(np.float32),
        "texts": random_texts(r, inserts, 5, 30),
        "upd_ids": upd_ids,
        "upd_texts": random_texts(r, updates, 5, 30),
        "probes": pvecs.astype(np.float32),
    }
