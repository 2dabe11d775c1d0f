"""Seeded benchmark inputs, generated inside the checkout and cached per
seed under ``.perfbench/``.

- Extraction corpora come from the package's own document generator
  (``corpus.generator.doc_rows``) with the workload's document-type
  fractions, written once to parquet; the measured jobs read that parquet.
- Query tables are a seeded stand-in for the TPC-H-like testdata of
  TESTDATA.md (same table names, column names, types and value domains), built with
  numpy/pyarrow so no Spark job is needed to make them.
- Expected outputs (oracle spans for a document sample, DuckDB hashes for
  the queries) are computed once per seed and cached next to the inputs.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = ("a the spark window merge table column vector stream value data "
          "small join filter big group hash customer sort order slow line "
          "part fast row agg key query scan batch").split()
_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
_EVENTS = ["signup", "purchase", "view", "click", "error"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

#: rows per table at scale factor 1.0: TESTDATA.md's proportions,
#: except documents at 20% and embeddings at 40%. The DuckDB oracles of
#: the LSH/n-gram queries grow with documents: at 40% the minhash_lsh and
#: dedup_verified oracles took about 9.5 s of every run with a new seed
_ROWS_AT_SF1 = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
                "orders": 1_500_000, "lineitem": 6_000_000,
                "events": 1_000_000, "documents": 10_000,
                "embeddings": 8_000}


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _mark_done(path: str) -> None:
    with open(os.path.join(path, "_SUCCESS"), "w"):
        pass


def _write(path: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(path, f"{name}.parquet"))


def _days(rng, n, start: dt.date, end: dt.date) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    d = base + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _documents(rng, n: int) -> dict:
    """Word-bag texts over a small vocabulary; ~5% near-duplicates (an
    earlier text plus a trailing token) and a few exact duplicates, so
    the dedup/LSH queries find real candidate pairs."""
    texts: list[str] = []
    lens = rng.integers(10, 101, n)
    roll = rng.random(n)
    for i in range(n):
        if i > 10 and roll[i] < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and roll[i] < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(_WORDS[j] for j in
                                  rng.integers(0, len(_WORDS), lens[i])))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P).tolist(),
                         pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def make_tables(path: str, seed: int, sf: float) -> str:
    """Write the ten query tables for ``sf`` under ``path`` (idempotent)."""
    if _done(path):
        return path
    os.makedirs(path, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {t: max(int(r * sf), 50) for t, r in _ROWS_AT_SF1.items()}
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    _write(path, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(_REGIONS, s)})
    _write(path, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    c = n["customer"]
    _write(path, "customer", {
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, c), 2)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, c).tolist(), s)})
    sp = n["supplier"]
    _write(path, "supplier", {
        "s_suppkey": pa.array(np.arange(sp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(sp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, sp), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, sp),
                                       2))})
    p = n["part"]
    _write(path, "part", {
        "p_partkey": pa.array(np.arange(p, dtype=np.int64)),
        "p_name": pa.array([f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
                           s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)], s),
        "p_type": pa.array(rng.choice(_P_TYPES, p).tolist(), s),
        "p_size": pa.array(rng.integers(1, 51, p), i32),
        "p_retailprice": pa.array(900.0 + (np.arange(p) % 1000) / 10.0, f64)})
    o = n["orders"]
    _write(path, "orders", {
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c, o), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], o).tolist(), s),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, o), 2)),
        "o_orderdate": _days(rng, o, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, o).tolist(), s)})
    li = n["lineitem"]
    _write(path, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, o, li), i64),
        "l_partkey": pa.array(rng.integers(0, p, li), i64),
        "l_suppkey": pa.array(rng.integers(0, sp, li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, li),
                                             2)),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], li).tolist(), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], li).tolist(), s),
        "l_shipdate": _days(rng, li, dt.date(1995, 1, 2),
                            dt.date(2001, 11, 4))})
    e = n["events"]
    secs = np.sort(rng.uniform(0, 30 * 86400, e))
    ts = np.datetime64("2024-01-01", "us") + (secs * 1e6).astype(
        "timedelta64[us]")
    _write(path, "events", {
        "event_id": pa.array(np.arange(e, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, e), i64),
        "event_type": pa.array(rng.choice(_EVENTS, e).tolist(), s),
        "value": pa.array(np.round(rng.exponential(50.0, e), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
                          s)})
    _write(path, "documents", _documents(rng, n["documents"]))
    m = n["embeddings"]
    vec = rng.standard_normal((m, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(path, "embeddings", {
        "vec_id": pa.array(np.arange(m, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), i32)})
    _mark_done(path)
    return path


_SPAN = pa.list_(pa.struct([("kind", pa.string()), ("text", pa.string()),
                             ("media_ref", pa.string()),
                             ("offset", pa.int32())]))
_GEOM = pa.list_(pa.struct([(c, pa.int32()) for c in ("y", "x0", "x1", "h")]))
#: the package's SPAN_SCHEMA_DDL as an Arrow schema
CORPUS_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("spans", _SPAN), ("span_geom", _GEOM),
    ("span_conf", pa.list_(pa.float64())), ("spans_alt", _SPAN),
    ("alt_geom", _GEOM)])


def make_corpus(path: str, n_docs: int, seed: int,
                fractions: tuple[float, float, float], files: int,
                start: int = 0) -> str:
    """Write documents ``start .. start+n_docs`` of the seeded span corpus
    (the package's ``doc_rows``, the generator ``corpus_df`` runs on
    executors) as ``files`` parquet files of consecutive documents, once
    (idempotent)."""
    if _done(path):
        return path
    from indonesian_id_ocr_service_spark.corpus.generator import doc_rows

    os.makedirs(path, exist_ok=True)
    per = -(-n_docs // files)
    for k in range(files):
        rows = list(doc_rows(min(per, n_docs - k * per), seed=seed,
                             fractions=fractions, start=start + k * per))
        cols = list(zip(*rows))
        pq.write_table(
            pa.table([pa.array(c, t.type) for c, t in
                      zip(cols, CORPUS_SCHEMA)], schema=CORPUS_SCHEMA),
            os.path.join(path, f"part-{k:05d}.parquet"))
    _mark_done(path)
    return path


def sample_indices(n_docs: int, k: int, seed: int) -> list[int]:
    return sorted(random.Random(seed).sample(range(n_docs), min(k, n_docs)))


def expected_spans(path: str, indices: list[int], seed: int,
                   fractions: tuple[float, float, float]) -> dict:
    """doc_id -> oracle span tuples (kind, text, media_ref, order), from
    the pure-Python oracle, as tests/test_pipeline_equality.py builds
    them; cached as JSON at ``path``."""
    if os.path.exists(path):
        with open(path) as f:
            return {k: [tuple(s) for s in v] for k, v in json.load(f).items()}
    from indonesian_id_ocr_service_spark.corpus.generator import (
        _geom_dicts,
        _span_dicts,
        generate_doc,
    )
    from indonesian_id_ocr_service_spark.oracle import ktp as oracle

    out = {}
    for i in indices:
        d = generate_doc(i, seed=seed, fractions=fractions)
        spans = oracle.process_document(
            d.doc_id, _span_dicts(d.spans), _geom_dicts(d.geom),
            _span_dicts(d.alt_spans), _geom_dicts(d.alt_geom), list(d.conf))
        out[d.doc_id] = [(s["kind"], s["text"], s["media_ref"], s["order"])
                         for s in spans]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out
