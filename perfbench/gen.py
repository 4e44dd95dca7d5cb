"""Seeded, vectorized input generators for the benchmark workloads.

Everything is numpy + Arrow: no per-token Python loop, so a 64 MB corpus
is built in about a second. The same seed always gives the same bytes.

- ``write_corpus``  — Zipf-vocabulary flat text (the paper's input shape),
  split over a few files, plus the exact per-word counts planted, which
  are the word-count oracle.
- ``write_tables``  — the ten-table star schema (TPC-H-like tables,
  ``events``, ``documents``, ``embeddings``) the query registry reads,
  with the column domains of the engine's fixtures.
- ``write_curation`` — ``documents`` and ``embeddings`` for the curation
  operators: a base set with planted near-duplicate edits, replicated
  K-fold with per-replica token suffixes (stopwords stay shared) and
  rotated vectors, the replica scheme of ``tools/make_scale.py``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Stopwords stay unsuffixed across replicas and keep the curation quality
#: gate's stopword ratio above its floor.
STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it", "for", "on")

#: Small fixed vocabulary of the star schema's ``documents`` table.
SMALL_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch spark line "
    "sort window order data column join small customer query stream filter group big vector"
).split()

LANGS = ("en", "de", "es", "fr", "zh")
EPOCH_1995_DAYS = 9131  # 1995-01-01 as days since 1970-01-01
DAY_US = 86_400_000_000


def random_words(rng: np.random.Generator, n: int, min_len: int = 2, max_len: int = 9) -> list[str]:
    """``n`` distinct lowercase words, none of them a stopword."""
    out: dict[str, None] = {}
    while len(out) < n:
        m = 2 * (n - len(out)) + 16
        lens = rng.integers(min_len, max_len + 1, m)
        letters = rng.integers(97, 123, (m, max_len), dtype=np.uint8)
        raw = letters.tobytes()
        for i, ln in enumerate(lens.tolist()):
            w = raw[i * max_len : i * max_len + ln].decode()
            if w not in STOPWORDS:
                out.setdefault(w, None)
            if len(out) == n:
                break
    return list(out)


def zipf_ids(rng: np.random.Generator, n_vocab: int, n: int, s: float = 1.1) -> np.ndarray:
    """``n`` draws of word ranks 0..n_vocab-1 with P(rank k) ∝ 1/(k+1)^s."""
    w = 1.0 / np.arange(1, n_vocab + 1, dtype=np.float64) ** s
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    return np.searchsorted(cdf, rng.random(n), side="right").astype(np.int32)


class Joiner:
    """Renders token-id arrays as text with vectorized byte gathers.

    The vocabulary is laid out once as ``"w0 w1 w2 ..."``; a token's bytes
    plus its trailing space are one contiguous slice of that buffer.
    """

    def __init__(self, vocab: list[str]):
        enc = [w.encode() for w in vocab]
        self.lens = np.fromiter((len(w) + 1 for w in enc), np.int64, len(enc))
        self.offs = np.concatenate(([0], np.cumsum(self.lens)[:-1]))
        self.buf = np.frombuffer(b" ".join(enc) + b" ", np.uint8)

    def render(self, ids: np.ndarray, breaks: np.ndarray | None = None) -> np.ndarray:
        """Bytes of ``ids`` joined by spaces; the separator after token i is
        a newline where ``breaks[i]``. The trailing separator is kept."""
        lens = self.lens[ids]
        ends = np.cumsum(lens)
        starts = ends - lens
        tok = np.repeat(np.arange(len(ids)), lens)
        out = self.buf[self.offs[ids][tok] + (np.arange(ends[-1]) - starts[tok])]
        if breaks is not None:
            out[ends[breaks] - 1] = 10
        return out

    def docs(self, ids: np.ndarray, doc_lens: np.ndarray) -> list[str]:
        """One string per document: consecutive ``doc_lens`` slices of ids."""
        ends = np.cumsum(self.lens[ids])
        doc_end_tok = np.cumsum(doc_lens) - 1
        text = self.render(ids).tobytes()
        cuts = ends[doc_end_tok]
        starts = np.concatenate(([0], cuts[:-1]))
        # drop each document's trailing space
        return [text[a : b - 1].decode() for a, b in zip(starts.tolist(), cuts.tolist())]


# --------------------------------------------------------------------------
# wc-corpus
# --------------------------------------------------------------------------


def write_corpus(
    out_dir: str, seed: int, target_bytes: int, n_files: int = 8, n_vocab: int = 50_000
) -> tuple[list[str], np.ndarray, int, int]:
    """Write ``n_files`` text files of about ``target_bytes`` in total.

    Lines hold 1-40 tokens separated by single spaces. Returns
    ``(vocab, counts, n_lines, n_bytes)`` where ``counts[i]`` is the exact
    number of times ``vocab[i]`` was written.
    """
    rng = np.random.default_rng(seed)
    vocab = random_words(rng, n_vocab)
    joiner = Joiner(vocab)
    mean_len = float(np.dot(joiner.lens, _zipf_pmf(n_vocab)))
    tokens_per_file = int(target_bytes / n_files / mean_len)
    counts = np.zeros(n_vocab, np.int64)
    n_lines = n_bytes = 0
    os.makedirs(out_dir, exist_ok=True)
    for f in range(n_files):
        ids = zipf_ids(rng, n_vocab, tokens_per_file)
        breaks = rng.random(tokens_per_file) < 1 / 20
        breaks[-1] = True
        counts += np.bincount(ids, minlength=n_vocab)
        data = joiner.render(ids, breaks)
        with open(os.path.join(out_dir, f"part-{f:03d}.txt"), "wb") as fh:
            fh.write(data.tobytes())
        n_lines += int(breaks.sum())
        n_bytes += len(data)
    return vocab, counts, n_lines, n_bytes


def _zipf_pmf(n_vocab: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n_vocab + 1, dtype=np.float64) ** s
    return w / w.sum()


def top_k_oracle(vocab: list[str], counts: np.ndarray, k: int) -> list[tuple[str, int]]:
    """Exact top-k by count descending, ties broken by word ascending."""
    pairs = sorted(
        ((vocab[i], int(c)) for i, c in enumerate(counts.tolist()) if c > 0),
        key=lambda wc: (-wc[1], wc[0]),
    )
    return pairs[:k]


# --------------------------------------------------------------------------
# Star schema
# --------------------------------------------------------------------------


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, lo: int, hi: int, n: int) -> pa.Array:
    days = rng.integers(lo, hi, n).astype(np.int64) + EPOCH_1995_DAYS
    return pa.array(days * DAY_US, pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _unit_vectors(rng: np.random.Generator, n: int, dim: int) -> np.ndarray:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _vector_column(vecs: np.ndarray) -> pa.Array:
    n, dim = vecs.shape
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(vecs.reshape(-1)))


def write_tables(out_dir: str, seed: int, sf: float = 0.01) -> dict[str, int]:
    """The registry's star schema at scale factor ``sf`` (sf0.01: 60k
    lineitems, 500 documents). Returns the row count of every table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = n_vec = int(50_000 * sf)
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.array(["blue", "old", "red", "small", "new", "hot", "large", "cold"])
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "), noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, 0, 2404, n_ord),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, 1, 2499, n_li),
    })
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev)) + 19723 * DAY_US  # 2024-01-01
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_ev).astype(np.int64),
        "event_type": np.array(["click", "view", "purchase", "signup", "error"])[rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev).tolist()],
    })
    doc_lens = rng.integers(10, 100, n_doc)
    ids = rng.integers(0, len(SMALL_VOCAB), int(doc_lens.sum()))
    _write_documents(out_dir, rng, Joiner(list(SMALL_VOCAB)).docs(ids, doc_lens))
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": _vector_column(_unit_vectors(rng, n_vec, 64)),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_li, "events": n_ev, "documents": n_doc, "embeddings": n_vec,
    }


def _write_documents(out_dir: str, rng: np.random.Generator, texts: list[str]) -> None:
    n = len(texts)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
        "n_chars": np.fromiter((len(t) for t in texts), np.int64, n),
    })


# --------------------------------------------------------------------------
# Curation corpus
# --------------------------------------------------------------------------


def write_curation(
    out_dir: str, seed: int, base_docs: int, replicas: int, base_vectors: int,
    n_vocab: int = 4000, dup_frac: float = 0.25, edit_frac: float = 0.05,
) -> dict[str, int]:
    """``documents`` (base_docs × replicas rows) and ``embeddings``
    (base_vectors × replicas rows) with planted near-duplicates.

    A ``dup_frac`` share of base documents copies an earlier document with
    ``edit_frac`` of its tokens replaced (3-shingle Jaccard ≈ 0.7); every
    tenth of those is an exact copy. Replica i > 0 suffixes every
    non-stopword token with ``rep{i}``. A ``dup_frac`` share of base
    vectors is an earlier vector plus small noise (cosine ≈ 0.98);
    replica i rotates every vector by i positions.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    content = random_words(rng, n_vocab, 3, 9)
    vocab = list(STOPWORDS) + [f"{w}rep{r}" if r else w for r in range(replicas) for w in content]
    n_stop = len(STOPWORDS)

    doc_lens = rng.integers(25, 120, base_docs)
    total = int(doc_lens.sum())
    ids = n_stop + zipf_ids(rng, n_vocab, total)
    stop = rng.random(total) < 0.15
    ids[stop] = rng.integers(0, n_stop, int(stop.sum()))
    docs = np.split(ids, np.cumsum(doc_lens)[:-1])
    for d in sorted(rng.choice(np.arange(1, base_docs), int(dup_frac * base_docs), replace=False).tolist()):
        copy = docs[int(rng.integers(0, d))].copy()
        if rng.random() >= 0.1:
            edits = rng.random(len(copy)) < edit_frac
            copy[edits] = n_stop + rng.integers(0, n_vocab, int(edits.sum()))
        docs[d] = copy
    ids = np.concatenate(docs)
    doc_lens = np.fromiter(map(len, docs), np.int64, base_docs)
    rep_ids = [np.where(ids < n_stop, ids, ids + r * n_vocab) for r in range(replicas)]
    texts = Joiner(vocab).docs(np.concatenate(rep_ids), np.tile(doc_lens, replicas))
    _write_documents(out_dir, rng, texts)

    vecs = _unit_vectors(rng, base_vectors, 64)
    n_vdups = int(dup_frac * base_vectors)
    for d in rng.choice(np.arange(1, base_vectors), n_vdups, replace=False).tolist():
        near = vecs[rng.integers(0, d)] + 0.03 * rng.standard_normal(64).astype(np.float32)
        vecs[d] = near / np.linalg.norm(near)
    all_vecs = np.concatenate([np.roll(vecs, r, axis=1) for r in range(replicas)])
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(len(all_vecs), dtype=np.int64),
        "embedding": _vector_column(all_vecs),
        "label": pa.array(rng.integers(0, 10, len(all_vecs)), pa.int32()),
    })
    return {"documents": len(texts), "embeddings": len(all_vecs), "text_bytes": sum(map(len, texts))}
