"""Seeded inputs for the three workloads.

Everything here is a pure function of the seed, so the same ``--seed``
gives the same inputs.  The ``query_mix`` tables copy the schemas and
value ranges of the engine's sf0.01 test fixture (FIXTURES.md §A), so
the registry queries and their DuckDB oracles run on them unchanged.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# -- codegraph: documents shaped like source files --------------------------

_KEYWORDS = (
    "def return if else for in import from class self none true false "
    "while try except with as not and or is lambda yield raise pass"
).split()
_STEMS = (
    "get set parse load save read write build make find check update "
    "init run send open close add remove apply merge split fetch emit"
).split()
_NOUNS = (
    "user config node edge graph rank item key value path file table row "
    "col batch token doc term index cache buffer stream query plan job "
    "task frame vector score weight count state"
).split()


@dataclass
class CodeCorpus:
    docs: pd.DataFrame        # (doc_id long, text string)
    vocab: list[str]          # sorted, so a term's index orders it as Spark does
    term_ids: list            # per doc: sorted distinct term indices
    n_pairs: int              # Σ k(k-1)/2: pairs the extractor expands


def _zipf(rng, n: int, size: int, s: float = 1.1) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return np.minimum(np.searchsorted(np.cumsum(p / p.sum()), rng.random(size)), n - 1)


def code_corpus(seed: int, n_docs: int, n_modules: int, per_module: int,
                n_shared: int) -> CodeCorpus:
    """Source-file-like documents of 10-30 tokens.  Each file belongs to
    one module: 80% of its tokens are that module's own identifiers and
    20% come from a shared vocabulary of keywords and library names.
    Both draws are Zipf(1.1), so keywords and common names are hubs,
    while the module structure keeps the graph clustered, which makes
    PageRank take many supersteps to converge."""
    rng = np.random.default_rng(np.random.PCG64(seed))
    shared = _KEYWORDS + [f"{a}_{b}" for a in _STEMS for b in _NOUNS]
    shared = [shared[i] for i in rng.permutation(len(shared))[:n_shared]]
    local = [f"{_NOUNS[k % len(_NOUNS)]}{m}_{k}" for m in range(n_modules)
             for k in range(per_module)]
    names = shared + local
    rank = np.empty(len(names), dtype=np.int64)
    rank[np.argsort(names)] = np.arange(len(names))
    vocab = sorted(names)
    words = np.asarray(vocab, dtype=object)
    modules = rng.integers(0, n_modules, size=n_docs)
    texts, term_ids, n_pairs = [], [], 0
    for m in modules:
        n_tok = rng.integers(10, 31)
        ids = np.where(rng.random(n_tok) < 0.8,
                       n_shared + m * per_module + _zipf(rng, per_module, n_tok),
                       _zipf(rng, n_shared, n_tok))
        ids = rank[ids]
        texts.append(" ".join(words[ids]))
        u = np.unique(ids)
        term_ids.append(u)
        n_pairs += len(u) * (len(u) - 1) // 2
    docs = pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts})
    return CodeCorpus(docs, vocab, term_ids, n_pairs)


def cooccurrence_reference(corpus: CodeCorpus) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Distinct canonical term pairs (src < dst) and their document
    counts, computed in NumPy: the reference for the extractor's output."""
    v = len(corpus.vocab)
    codes = []
    for u in corpus.term_ids:
        if len(u) >= 2:
            a, b = np.triu_indices(len(u), 1)
            codes.append(u[a].astype(np.int64) * v + u[b])
    pairs, counts = np.unique(np.concatenate(codes), return_counts=True)
    return pairs // v, pairs % v, counts.astype(np.float64)


def pagerank_reference(src, dst, w, alpha=0.85, tol=1e-13, max_iter=1000):
    """Weighted PageRank of the symmetrized pair graph (NetworkX
    semantics; every vertex has out-edges), as {term index: rank}."""
    s = np.concatenate([src, dst])
    d = np.concatenate([dst, src])
    ww = np.concatenate([w, w])
    verts, inv = np.unique(np.concatenate([s, d]), return_inverse=True)
    si, di = inv[: len(s)], inv[len(s):]
    n = len(verts)
    outw = np.bincount(si, weights=ww, minlength=n)
    p = ww / outw[si]
    x = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        nx = alpha * np.bincount(di, weights=p * x[si], minlength=n) + (1 - alpha) / n
        if np.abs(nx - x).sum() < n * tol:
            x = nx
            break
        x = nx
    return dict(zip(verts.tolist(), x.tolist()))


# -- query_mix: the registry's fixture tables -------------------------------

_DOC_TERMS = (
    "agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table value vector window"
).split()
_LANGS = (["en"] * 44 + ["zh"] * 15 + ["es"] * 14 + ["de"] * 14 + ["fr"] * 13)
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

#: rows per table, as in the sf0.01 fixture
QUERY_ROWS = {"documents": 500, "embeddings": 500, "customer": 1500,
              "orders": 15000, "lineitem": 60000}


def _epoch_days(rng, n, first: str, last: str) -> np.ndarray:
    a = np.datetime64(first, "D")
    span = (np.datetime64(last, "D") - a).astype(int)
    return (a + rng.integers(0, span + 1, size=n)).astype("datetime64[us]")


def query_tables(seed: int) -> dict[str, pd.DataFrame]:
    """documents, embeddings, customer, orders and lineitem with the
    fixture's columns and value ranges; 5% of documents are near-copies
    of an earlier one with the last token replaced by ``dup``."""
    rng = np.random.default_rng(np.random.PCG64(seed + 7919))
    out = {}

    n = QUERY_ROWS["documents"]
    words = np.asarray(_DOC_TERMS + ["a", "the"], dtype=object)
    texts = []
    for i in range(n):
        toks = list(words[rng.integers(0, len(words), size=rng.integers(10, 100))])
        if i >= 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            toks = texts[rng.integers(0, i)].split()
            toks[-1] = "dup"
        texts.append(" ".join(toks))
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.asarray(_LANGS, dtype=object)[rng.integers(0, len(_LANGS), size=n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    })

    n = QUERY_ROWS["embeddings"]
    centers = rng.standard_normal((10, 64))
    label = rng.integers(0, 10, size=n).astype(np.int32)
    emb = centers[label] + 0.8 * rng.standard_normal((n, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64), "embedding": list(emb), "label": label,
    })

    n = QUERY_ROWS["customer"]
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, size=n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, size=n), 2),
        "c_mktsegment": np.asarray(_SEGMENTS, dtype=object)[rng.integers(0, 5, size=n)],
    })

    n = QUERY_ROWS["orders"]
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, QUERY_ROWS["customer"], size=n).astype(np.int64),
        "o_orderstatus": np.asarray(["F", "O", "P"], dtype=object)[rng.integers(0, 3, size=n)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, size=n), 2),
        "o_orderdate": _epoch_days(rng, n, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.asarray(_PRIORITIES, dtype=object)[rng.integers(0, 5, size=n)],
    })

    n = QUERY_ROWS["lineitem"]
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, QUERY_ROWS["orders"], size=n).astype(np.int64),
        "l_partkey": rng.integers(0, 2000, size=n).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, size=n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, size=n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, size=n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, size=n), 2),
        "l_discount": rng.integers(0, 11, size=n) / 100.0,
        "l_tax": rng.integers(0, 9, size=n) / 100.0,
        "l_returnflag": np.asarray(["A", "N", "R"], dtype=object)[rng.integers(0, 3, size=n)],
        "l_linestatus": np.asarray(["F", "O"], dtype=object)[rng.integers(0, 2, size=n)],
        "l_shipdate": _epoch_days(rng, n, "1995-01-02", "2001-11-04"),
    })
    return out


def write_tables(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    """One parquet file per table, named as ``sparkgatha.io.read_table``
    expects them."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        if name == "embeddings":
            t = pa.table({
                "vec_id": pa.array(df["vec_id"]),
                "embedding": pa.array(df["embedding"].map(list), pa.list_(pa.float32())),
                "label": pa.array(df["label"]),
            })
        else:
            t = pa.Table.from_pandas(df, preserve_index=False)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
