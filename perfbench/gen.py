"""Seeded input generation for the pipeline benchmark.

Every input a workload consumes is a file written here from ``(seed, ...)``
alone: the same seed gives byte-identical files, another seed changes them.
The program under test only ever sees these files.

Shapes follow the sf0.1 star-schema tables (``orders`` 150k rows,
``lineitem`` ~600k rows), the ``documents`` corpus and the 64-d
``embeddings`` table the library's queries and examples run on.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

N_ORDERS = 150_000
LINES_PER_ORDER = 4
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["O", "F", "P"]
DAY0 = np.datetime64("1992-01-01", "D")
N_DAYS = 3650

# Parquet bytes depend on the writer's metadata; pin the options that could
# otherwise drift so "same seed -> same bytes" holds.
_PQ = dict(compression="snappy", use_dictionary=True, write_statistics=True,
           store_schema=False)


def rng(seed: int, *stream: int) -> np.random.Generator:
    """An independent generator per (seed, stream...) tuple."""
    return np.random.Generator(np.random.PCG64(np.random.SeedSequence([seed, *stream])))


def _write_parquet(table: pa.Table, path: str) -> str:
    pq.write_table(table.replace_schema_metadata(None), path, **_PQ)
    return path


def file_digest(paths) -> str:
    """sha256 over the bytes of ``paths`` (in order)."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


# ------------------------------------------------------------------ ELT

def _orders(r: np.random.Generator, keys: np.ndarray) -> pa.Table:
    n = len(keys)
    days = r.integers(0, N_DAYS, n)
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(r.integers(0, 15_000, n), pa.int64()),
        "o_orderstatus": pa.array(np.array(STATUSES)[r.integers(0, 3, n)]),
        "o_totalprice": pa.array(np.round(r.uniform(900, 450_000, n), 2)),
        "o_orderdate": pa.array((DAY0 + days).astype("datetime64[us]")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[r.integers(0, 5, n)]),
    })


def _lineitem(r: np.random.Generator, order_keys: np.ndarray) -> pa.Table:
    per = r.integers(1, 2 * LINES_PER_ORDER, len(order_keys))
    okeys = np.repeat(order_keys, per)
    n = len(okeys)
    linenumber = np.arange(n) - np.repeat(np.cumsum(per) - per, per) + 1
    return pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(r.integers(0, 20_000, n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, 1_000, n), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": pa.array(r.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(r.uniform(900, 105_000, n), 2)),
        "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[r.integers(0, 2, n)]),
        "l_shipdate": pa.array(
            (DAY0 + r.integers(0, N_DAYS, n)).astype("datetime64[us]")),
    })


def elt_base(seed: int, out_dir: str) -> dict:
    """The historical ``orders``/``lineitem`` tables (parquet)."""
    keys = np.arange(N_ORDERS, dtype=np.int64)
    return {
        "orders": _write_parquet(_orders(rng(seed, 1, 0), keys),
                                 os.path.join(out_dir, "orders.parquet")),
        "lineitem": _write_parquet(_lineitem(rng(seed, 2, 0), keys),
                                   os.path.join(out_dir, "lineitem.parquet")),
    }


NIGHT_UPDATES = 2_000
NIGHT_INSERTS = 1_500


def elt_night(seed: int, night: int, out_dir: str) -> dict:
    """Night ``night``'s increment, landing in all three formats every night:
    ``NIGHT_UPDATES`` re-stated existing orders as parquet (the OLTP export),
    ``NIGHT_INSERTS`` new orders as NDJSON (keys above every earlier
    night's; the web feed) and the new orders' line items as CSV."""
    r = rng(seed, 3, night)
    upd = r.choice(N_ORDERS, NIGHT_UPDATES, replace=False).astype(np.int64)
    new = N_ORDERS + night * NIGHT_INSERTS + np.arange(NIGHT_INSERTS, dtype=np.int64)
    d = os.path.join(out_dir, f"night_{night:03d}")
    os.makedirs(d, exist_ok=True)
    lines = _lineitem(r, new)
    files = {
        "updates": _write_parquet(_orders(r, upd), os.path.join(d, "orders_upd.parquet")),
        "inserts": _write_ndjson(_orders(r, new), os.path.join(d, "orders_new.ndjson")),
        "lineitem": _write_csv(lines, os.path.join(d, "lineitem.csv")),
    }
    return {**files, "rows": NIGHT_UPDATES + NIGHT_INSERTS + lines.num_rows,
            "bytes": sum(os.path.getsize(p) for p in files.values())}


def _ts_as_text(table: pa.Table) -> pa.Table:
    cols = []
    for f in table.schema:
        c = table[f.name]
        if pa.types.is_timestamp(f.type):
            c = pa.array([f"{d} 00:00:00" for d in
                          c.to_numpy().astype("datetime64[D]").astype(str)])
        cols.append(c)
    return pa.table(cols, names=table.column_names)


def _write_csv(table: pa.Table, path: str) -> str:
    pacsv.write_csv(_ts_as_text(table), path)
    return path


def _write_ndjson(table: pa.Table, path: str) -> str:
    with open(path, "w") as fh:
        for row in _ts_as_text(table).to_pylist():
            fh.write(json.dumps(row, separators=(",", ":")) + "\n")
    return path


# -------------------------------------------------------------- corpus

_WORDS = (
    "data spark table query join scan sort hash group filter window stream "
    "vector column batch order part line value key agg index shard model "
    "train token corpus dedup merge load export check report night fast slow"
).split()
_STOP = ["the", "and", "of", "is", "to", "that", "with", "have", "be"]
_NAMES = ["ada", "bob", "cyd", "dee", "eve", "fay", "gus", "hal"]


def _sentence(r: np.random.Generator, n: int) -> str:
    pool = np.array(_WORDS + _STOP)
    p = np.full(len(pool), 1.0)
    p[len(_WORDS):] = 3.0
    return " ".join(r.choice(pool, n, p=p / p.sum()))


CORPUS_DOCS = 2_000
DUP_SHARE, NEAR_SHARE, HTML_SHARE, PII_SHARE = 0.10, 0.10, 0.15, 0.10


def corpus_shard(seed: int, shard: int, out_dir: str, n: int = CORPUS_DOCS) -> dict:
    """One crawl shard of ``n`` documents (parquet): unique
    documents plus seeded shares of exact duplicates, near duplicates
    (a few words swapped), HTML-wrapped copies and PII-bearing lines.
    Also writes the shard's benchmark set (parquet) that decontamination
    must drop, taken from a few of the shard's own unique documents."""
    r = rng(seed, 4, shard)
    n_dup, n_near, n_html = (int(n * s) for s in (DUP_SHARE, NEAR_SHARE, HTML_SHARE))
    n_uniq = n - n_dup - n_near - n_html
    texts = [_sentence(r, int(r.integers(20, 120))) for _ in range(n_uniq)]
    for i in range(n_uniq):
        if r.random() < PII_SHARE:
            who = _NAMES[int(r.integers(0, len(_NAMES)))]
            texts[i] += (f" mail {who}{int(r.integers(0, 999))}@example.com or call "
                         f"555-{int(r.integers(100, 999))}-{int(r.integers(1000, 9999))}")
    src = r.integers(0, n_uniq, n_dup + n_near + n_html)
    out = list(texts)
    for j, s in enumerate(src):
        t = texts[s]
        if j < n_dup:
            out.append(t)
        elif j < n_dup + n_near:
            toks = t.split()
            for _ in range(max(1, len(toks) // 25)):
                toks[int(r.integers(0, len(toks)))] = str(r.choice(_WORDS))
            out.append(" ".join(toks))
        else:
            out.append(f"<html><head><script>var x={int(r.integers(0, 99))};</script>"
                       f"</head><body><p>{t}</p><a href='/n'>next</a></body></html>")
    order = r.permutation(n)
    base = shard * 1_000_000
    docs = pa.table({
        "doc_id": pa.array(base + np.arange(n, dtype=np.int64)),
        "text": pa.array([out[i] for i in order]),
        "source": pa.array([f"src{int(i) % 7}" for i in order]),
    })
    bench_src = r.choice(n_uniq, 5, replace=False)
    bench = pa.table({
        "doc_id": pa.array(np.arange(5, dtype=np.int64)),
        "text": pa.array([texts[int(i)] for i in bench_src]),
    })
    d = os.path.join(out_dir, f"shard_{shard:03d}")
    os.makedirs(d, exist_ok=True)
    docs_path = _write_parquet(docs, os.path.join(d, "documents.parquet"))
    bench_path = _write_parquet(bench, os.path.join(d, "benchmark.parquet"))
    return {"documents": docs_path, "benchmark": bench_path, "rows": n,
            "bytes": os.path.getsize(docs_path)}


# ----------------------------------------------------------- embeddings

DIM = 64
N_CLUSTERS = 10
BASE_VECTORS = 2_000
REPLICAS = 5


def _vectors(r: np.random.Generator, n: int, centers: np.ndarray) -> np.ndarray:
    lab = r.integers(0, len(centers), n)
    v = centers[lab] + r.normal(0.0, 0.35, (n, DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _vec_table(ids: np.ndarray, vecs: np.ndarray) -> pa.Table:
    flat = pa.array(vecs.reshape(-1), pa.float32())
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, len(ids) * DIM + 1, DIM, dtype=np.int32)), flat),
    })


def ann_corpus(seed: int, out_dir: str) -> dict:
    """The corpus to index: ``BASE_VECTORS`` clustered unit vectors, each
    replicated ``REPLICAS`` times with small seeded jitter (the way
    re-embedded or near-duplicate items crowd a real corpus)."""
    r = rng(seed, 5, 0)
    centers = r.normal(0.0, 1.0, (N_CLUSTERS, DIM))
    base = _vectors(r, BASE_VECTORS, centers)
    rep = np.repeat(base, REPLICAS, axis=0) + r.normal(
        0.0, 0.02, (BASE_VECTORS * REPLICAS, DIM)).astype(np.float32)
    ids = np.arange(len(rep), dtype=np.int64)
    path = _write_parquet(_vec_table(ids, rep.astype(np.float32)),
                          os.path.join(out_dir, "embeddings.parquet"))
    np.save(os.path.join(out_dir, "centers.npy"), centers)
    return {"embeddings": path, "rows": len(ids), "bytes": os.path.getsize(path)}


INGEST_VECTORS = 500
QUERY_BATCH = 4


def ann_ingest_batch(seed: int, batch: int, out_dir: str, centers: np.ndarray) -> dict:
    """Micro-batch ``batch`` of new vectors (parquet), ids above the corpus."""
    r = rng(seed, 6, batch)
    ids = BASE_VECTORS * REPLICAS + batch * INGEST_VECTORS + np.arange(
        INGEST_VECTORS, dtype=np.int64)
    path = _write_parquet(_vec_table(ids, _vectors(r, INGEST_VECTORS, centers)),
                          os.path.join(out_dir, f"batch_{batch:04d}.parquet"))
    return {"path": path, "rows": INGEST_VECTORS, "bytes": os.path.getsize(path)}


def ann_queries(seed: int, request: int, corpus: np.ndarray) -> np.ndarray:
    """The query vectors of one top-k request (``QUERY_BATCH`` x ``DIM``):
    lightly perturbed copies of indexed items, the way an interactive
    session asks for "more like this one"."""
    r = rng(seed, 7, request)
    v = corpus[r.choice(len(corpus), QUERY_BATCH, replace=False)]
    v = v + r.normal(0.0, 0.05, v.shape)
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
