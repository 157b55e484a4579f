"""Seeded corpus tables and the corpus part of the query mix.

The tables have the column names and types of the corpus testdata, at
about the sf0.01 row counts, so the declared ``CORPUS`` queries load them
unchanged through ``plans.load_table``. Only the tables the mix reads are
written, as one parquet file each, cached per seed.

The corpus queries: q34 (``plans``, exact median), q184 (betweenness,
``operators.graph``), q37 (``cosine_pairs``, ``operators.similarity``),
each checked against its DuckDB oracle, and ``dedup_clusters``
(``jaccard_pairs`` then ``dup_clusters``, ``operators.dedup``), checked
against a brute-force recomputation in Python. Every query is timed as
two parts, the build and the action."""

from __future__ import annotations

import itertools
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import inputs

N_CUSTOMERS = 1500
N_LINEITEMS = 60_000
N_EMBEDDINGS = 500
EMBEDDING_DIM = 64
N_DOCS = 400
WORDS = ("spark scan sort hash join group filter window stream batch "
         "query table value key order part line data fast slow big small "
         "vector column row merge agg customer").split()
DEDUP_THRESHOLD = 0.5
DECLARED = ("q34", "q184", "q37")           # declared CORPUS queries
CORPUS_QUERIES = DECLARED + ("dedup_clusters",)


def _customer(rng) -> pa.Table:
    # a few keys missing, so some 16-key blocks are incomplete (q184 builds
    # its tree witness on the complete ones only)
    keys = np.sort(rng.choice(N_CUSTOMERS + N_CUSTOMERS // 20, N_CUSTOMERS,
                              replace=False)).astype(np.int64)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, len(keys)).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, len(keys)), 2),
        "c_mktsegment": segs[rng.integers(0, len(segs), len(keys))]})


def _lineitem(rng) -> pa.Table:
    n = N_LINEITEMS
    day0 = np.datetime64("1992-01-01", "us")
    days = rng.integers(0, 3650, n).astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": rng.integers(0, n // 4, n).astype(np.int64),
        "l_partkey": rng.integers(0, 2000, n).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(day0 + days.astype("timedelta64[us]"),
                               pa.timestamp("us"))})


def _embeddings(rng) -> pa.Table:
    vec = rng.standard_normal((N_EMBEDDINGS, EMBEDDING_DIM))
    # every tenth vector is a near copy of its predecessor: pairs to find
    vec[1::10] = vec[0::10][:len(vec[1::10])] \
        + 0.05 * rng.standard_normal((len(vec[1::10]), EMBEDDING_DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
        "embedding": pa.array(list(vec.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": rng.integers(0, 10, N_EMBEDDINGS).astype(np.int32)})


def _documents(rng) -> pa.Table:
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words),
                                         int(rng.integers(12, 60)))])
             for _ in range(N_DOCS)]
    # every eighth document is a near copy of an earlier original (not of
    # a copy, so clusters are stars that converge in a few rounds): one
    # word replaced, so its 3-gram Jaccard with the original stays high
    for i in range(7, N_DOCS, 8):
        src = int(rng.integers(0, i))
        toks = texts[src - (src % 8 == 7)].split()
        toks[int(rng.integers(0, len(toks)))] = str(words[rng.integers(
            0, len(words))])
        texts[i] = " ".join(toks)
    return pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "de", "zh"])[rng.integers(0, 3, N_DOCS)],
        "source": [f"src{i % 7}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], np.int64)})


TABLES = {"customer": _customer, "lineitem": _lineitem,
          "embeddings": _embeddings, "documents": _documents}


def tables(cache_dir: str, seed: int) -> str:
    """Directory of the seed's corpus tables, generated on first use."""
    path = os.path.join(cache_dir, f"corpus_s{seed}_{N_LINEITEMS}li")
    if os.path.isdir(path):
        os.utime(path)
        return path
    tmp = f"{path}.{os.getpid()}.tmp"
    os.makedirs(tmp)
    for i, (name, make) in enumerate(TABLES.items()):
        rng = np.random.default_rng([seed, i])
        pq.write_table(make(rng), os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, path)
    inputs.prune(cache_dir, "corpus_")
    return path


def declared(name: str):
    """The declared ``CORPUS`` query whose name starts with ``name_``."""
    from nasctn_sea_ingest_spark.plans import CORPUS
    return next(q for q in CORPUS if q.name.startswith(f"{name}_"))


def dedup_clusters(spark, sf_dir: str):
    """Near-duplicate document clusters: exact 3-gram Jaccard pairs, then
    their connected components."""
    from nasctn_sea_ingest_spark.operators import dedup
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    pairs = dedup.jaccard_pairs(docs, threshold=DEDUP_THRESHOLD)
    return dedup.dup_clusters(pairs)


def build(spark, sf_dir: str, name: str):
    if name in DECLARED:
        return declared(name).spark(spark, sf_dir)
    return dedup_clusters(spark, sf_dir)


def dedup_reference(sf_dir: str) -> set[tuple[int, int]]:
    """(doc, cluster) of every document in a near-duplicate pair: brute
    force over all pairs, then union-find; a cluster is its least id."""
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    sh = {}
    for i, text in zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()):
        w = text.split()
        sh[i] = {" ".join(w[k:k + 3]) for k in range(len(w) - 2)}
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for a, b in itertools.combinations(sorted(sh), 2):
        inter = len(sh[a] & sh[b])
        if inter and inter / len(sh[a] | sh[b]) >= DEDUP_THRESHOLD:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
            parent.setdefault(a, a)
            parent.setdefault(b, b)
    return {(x, find(x)) for x in parent}


def check(ctx, sf_dir: str) -> None:
    """Every corpus query's result against its oracle."""
    import duckdb
    from tests.oracle_compare import compare
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(sf_dir, t)}.parquet'")
    try:
        for name in CORPUS_QUERIES:
            df = build(ctx.spark, sf_dir, name)
            if name in DECLARED:
                problems = compare(df, con, declared(name).sql)
                ok, why = not problems, "; ".join(problems)[:300]
            else:
                got = {(r[0], r[1]) for r in df.collect()}
                want = dedup_reference(sf_dir)
                ok, why = got == want and len(want) > 0, \
                    f"{len(got)} rows, want {len(want)}"
            ctx.check(ok, f"corpus {name} differs from its oracle: {why}")
            ctx.hygiene()
    finally:
        con.close()
