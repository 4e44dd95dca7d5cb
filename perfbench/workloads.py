"""The three benchmark workloads.

A workload generates its inputs from the seed, lists its *units* (one
unit = one query execution, materialized to Spark's ``noop`` sink or
collected), checks its outputs against an oracle, and, in the traced
run, times each layer boundary by materializing pipeline prefixes.

- ``wc-corpus``   — the paper's query at throughput scale: scan,
  tokenize, count, top-100, write the per-initial sorted layout.
- ``curation``    — the LLM-data operators: curation pipeline, MinHash
  and SimHash near-dups, doc profile, embedding cosine near-dups, exact
  top-k.
- ``interactive`` — short registry queries at sf0.01, every pass in a
  seed-shuffled order.
"""

from __future__ import annotations

import os
import shutil
import statistics
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow.parquet as pq

import gen
from collect import duration


@dataclass
class Unit:
    """One query execution: ``build`` plans it (and runs any sizing jobs
    the planner needs), ``run`` executes the built object."""

    name: str
    build: Callable[[], object]
    run: Callable[[object], object]
    streaming: bool = False


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    #: whole passes over the units in every timed loop, at the least
    min_passes = 1
    #: untimed passes over the units between the check and the timed loop
    #: (the check pass is the first warm-up): the JIT is still compiling
    #: the workload's code after one pass
    warm_passes = 0

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.dir = work_dir
        self.seed = seed

    def generate(self) -> None:
        raise NotImplementedError

    def units(self) -> list[Unit]:
        raise NotImplementedError

    def check(self) -> list[tuple[str, bool, str]]:
        """(check name, passed, detail) for every output checked."""
        raise NotImplementedError

    def warm_up(self, units: list[Unit]) -> None:
        """``warm_passes`` passes, the units of a pass run concurrently."""
        for _ in range(self.warm_passes):
            _concurrently({u.name: (lambda u=u: u.run(u.build())) for u in units})

    def layers(self, tracer) -> dict[str, object]:
        """Per-layer metrics (numbers, or callables to read once the
        tracer has attributed Spark's jobs to spans). Layers the workload
        bypasses are timed on small seeded probe inputs (``probe_tables``,
        ``probe_curation``), so every layer reads a measured figure on
        every workload."""
        raise NotImplementedError

    def probe_tables(self) -> str:
        """The star schema at sf0.01, for the relational and streaming
        probes."""
        sf = os.path.join(self.dir, "probe", "sf")
        shutil.rmtree(sf, ignore_errors=True)
        gen.write_tables(sf, self.seed, 0.01)
        return sf

    def probe_curation(self) -> str:
        """A small curation corpus with planted near-duplicates, for the
        text, dedup, similarity and pipeline probes."""
        sf = os.path.join(self.dir, "probe", "curation")
        shutil.rmtree(sf, ignore_errors=True)
        gen.write_curation(sf, self.seed, base_docs=60, replicas=2, base_vectors=60)
        return sf


# --------------------------------------------------------------------------
# wc-corpus
# --------------------------------------------------------------------------


class WcCorpus(Workload):
    name = "wc-corpus"
    min_passes = 3
    corpus_bytes = 8 << 20
    k = 100
    #: per-execution CPU time falls by a third over the first four (JIT)
    warm_passes = 3

    def generate(self) -> None:
        self.corpus = os.path.join(self.dir, "corpus")
        shutil.rmtree(self.corpus, ignore_errors=True)
        self.vocab, self.counts, _, _ = gen.write_corpus(
            self.corpus, self.seed, self.corpus_bytes
        )
        self.oracle = gen.top_k_oracle(self.vocab, self.counts, self.k)
        self.out = os.path.join(self.dir, "layout")

    def _lines(self):
        from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources.registry import read_text_corpus

        return read_text_corpus(self.spark, self.corpus)

    def _counts(self):
        from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import wordcount as W

        return W.word_count(self._lines(), "value")

    def _run(self, counts):
        from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import wordcount as W

        top = [(r["word"], r["cnt"]) for r in W.top_k(counts, self.k).collect()]
        W.write_partitioned_sorted(counts, self.out)
        return top

    def units(self) -> list[Unit]:
        return [Unit("wc_top_k_layout", self._counts, self._run)]

    def check(self):
        top = self._run(self._counts())
        from pyspark.sql import functions as F

        layout = self.spark.read.parquet(self.out)
        n_words, n_tokens = layout.agg(F.count(F.lit(1)), F.sum("cnt")).first()
        bad_order = layout.where(F.substring("word", 1, 1) != F.col("initial")).count()
        want_words, want_tokens = int((self.counts > 0).sum()), int(self.counts.sum())
        return [
            ("top_k", top == self.oracle, f"{len(top)} rows"),
            ("layout", (n_words, n_tokens, bad_order) == (want_words, want_tokens, 0),
             f"{n_words} words, {n_tokens} tokens, {bad_order} misplaced"),
        ]

    def layers(self, tracer) -> dict[str, object]:
        return {
            **curation_layers(self.spark, tracer, self.probe_curation()),
            **serving_layers(self.spark, tracer, self.probe_tables()),
            **wordcount_layers(tracer, self._lines(), "value", os.path.join(self.dir, "layout-traced"), self.k),
        }


def timed(tracer, name: str, fn) -> tuple[float, dict]:
    """Wall time of a span around ``fn``, and the span."""
    with tracer.span(name) as rec:
        fn()
    return duration(rec), rec


def _spark(rec: dict, key: str) -> Callable[[], float]:
    """A span's status-store figure, read once spans are attributed."""
    return lambda: rec["spark"][key]


def _spread_partitions(df) -> int:
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.plans.parallelism import spread

    return spread(df).rdd.getNumPartitions()


def wordcount_layers(tracer, lines, col: str, out_dir: str, k: int = 100) -> dict[str, object]:
    """Scan, word-count, sink and skew layers over the text column ``col``
    of ``lines``. Each prefix of scan → tokenize → aggregate is
    materialized to the noop sink; a layer's self time is its prefix's
    time minus the previous prefix's. The aggregate prefix is the plain
    (unsalted) word count of the skew comparison."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import wordcount as W
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.plans import skew

    counts = W.word_count(lines, col)
    tok_obs, agg_obs = Observation("tokens"), Observation("distinct")
    n = F.count(F.lit(1)).alias("n")
    t_scan, scan = timed(tracer, "sources.scan", lambda: noop(lines))
    t_tok, _ = timed(tracer, "wordcount.tokenize", lambda: noop(W.tokenize(lines, col).observe(tok_obs, n)))
    t_agg, _ = timed(tracer, "wordcount.aggregate", lambda: noop(counts.observe(agg_obs, n)))
    t_topk, _ = timed(tracer, "wordcount.topk", lambda: noop(W.top_k(counts, k)))
    t_write, write = timed(tracer, "sinks.write", lambda: W.write_partitioned_sorted(counts, out_dir))
    files = sum(len([f for f in fs if f.endswith(".parquet")]) for _, _, fs in os.walk(out_dir))
    t_salted, _ = timed(tracer, "plans.skew.salted", lambda: noop(skew.salted_word_count(W.tokenize(lines, col))))
    return {
        "sources.scan_s": t_scan,
        "sources.input_bytes": _spark(scan, "input_bytes"),
        "sources.input_rows": _spark(scan, "input_rows"),
        "wordcount.tokenize_s": t_tok - t_scan,
        "wordcount.tokens": tok_obs.get["n"],
        "wordcount.aggregate_s": t_agg - t_tok,
        "wordcount.distinct_words": agg_obs.get["n"],
        "wordcount.topk_s": t_topk - t_agg,
        "sinks.write_s": t_write - t_agg,
        "sinks.bytes_written": _spark(write, "output_bytes"),
        "sinks.files": files,
        "plans.skew.plain_s": t_agg,
        "plans.skew.salted_s": t_salted,
        "plans.spread_partitions": _spread_partitions(lines),
    }


def curation_layers(spark, tracer, sf: str, jaccard_t: float = 0.3, cosine_t: float = 0.9) -> dict[str, object]:
    """Text, dedup, similarity and curation-pipeline layers over the
    ``documents`` and ``embeddings`` tables of ``sf``."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import dedup as D
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import similarity as S
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import text as T
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries.pipeline_q import curated_corpus
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries.similarity_q import QUERY_PRED, TOP_K
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources import load_table

    docs, emb = load_table(spark, sf, "documents"), load_table(spark, sf, "embeddings")
    t_scan, _ = timed(tracer, "sources.scan", lambda: noop(docs))
    t_prof, _ = timed(tracer, "text.doc_profile", lambda: noop(T.doc_profile(docs)))
    t_sig, _ = timed(tracer, "dedup.signature", lambda: noop(D.minhash_signature(docs)))
    lsh_candidates = D.lsh_candidate_pairs(D.minhash_signature(docs), 8).count()
    edges = D.minhash_near_dups(docs, jaccard_t).select("doc_a", "doc_b")
    minhash = {(r["doc_a"], r["doc_b"]) for r in edges.collect()}
    # components over the verified edges, materialized first so the span
    # holds the components layer alone
    local_edges = spark.createDataFrame(sorted(minhash), edges.schema)
    t_comps, _ = timed(tracer, "dedup.components", lambda: noop(D.connected_components(
        docs.select("doc_id"), local_edges, id_col="doc_id", src_col="doc_a", dst_col="doc_b")))
    simhash_pairs = D.simhash_near_dups(docs, 3).count()
    fps = np.array([r["simhash"] for r in D.simhash(docs).collect()], dtype=np.int64)
    n_blocks = D.simhash_block_geometry(len(fps), 3)
    t_brute, _ = timed(tracer, "similarity.bruteforce",
                       lambda: noop(S.brute_force_topk(emb.where(F.expr(QUERY_PRED)), emb, TOP_K)))
    survivors = Observation("survivors")
    t_cur, _ = timed(tracer, "pipeline.curate",
                     lambda: noop(curated_corpus(spark, sf).observe(survivors, F.count(F.lit(1)).alias("n"))))
    cos_cands = _cosine_candidates(sf, cosine_t)
    import duckdb

    exact_jaccard, exact_cosine = _exact_pairs(sf, cosine_t, _duckdb_views(duckdb, sf, ("documents",)))
    cosine = {(r["id_a"], r["id_b"]) for r in S.cosine_near_dup_pairs(emb, cosine_t).collect()}
    return {
        "text.doc_profile_s": t_prof - t_scan,
        "dedup.signature_s": t_sig - t_scan,
        "dedup.lsh_candidates": lsh_candidates,
        "dedup.lsh_verified": len(minhash),
        "dedup.lsh_precision": len(minhash) / max(1, lsh_candidates),
        "dedup.lsh_recall": _recall(minhash, exact_jaccard),
        "dedup.simhash_candidates": _simhash_candidates(fps, n_blocks, 3),
        "dedup.simhash_pairs": simhash_pairs,
        "dedup.components_s": t_comps,
        "similarity.lsh_candidates": cos_cands,
        "similarity.verified_pairs": len(cosine),
        "similarity.precision": len(cosine) / max(1, cos_cands),
        "similarity.lsh_recall": _recall(cosine, exact_cosine),
        "similarity.bruteforce_s": t_brute,
        "pipeline.curate_s": t_cur,
        "pipeline.survivors": survivors.get["n"],
    }


#: Relational and streaming queries of the interactive mix that probe
#: those layers on the workloads that bypass them.
SERVING_PROBES = ("rel_q1_pricing_summary", "rel_q3_shipping_priority", "stream_word_count", "stream_window_suite")


def serving_layers(spark, tracer, sf: str) -> dict[str, object]:
    """Relational and streaming layers: one execution of each of
    ``SERVING_PROBES`` over the star schema in ``sf``. Streaming progress
    goes to the run's ``StreamingCollector``."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries import QUERIES

    rel = []
    for name in SERVING_PROBES:
        t, _ = timed(tracer, name, lambda name=name: noop(QUERIES[name](spark, sf)))
        if name.startswith("rel_"):
            rel.append(t)
    return {"relational.query_s": statistics.median(rel)}


def _recall(found: set, exact: set) -> float:
    return len(found & exact) / len(exact) if exact else 1.0


def _exact_pairs(sf: str, cosine_t: float, con) -> tuple[set[tuple[int, int]], set[tuple[int, int]]]:
    """Exact near-duplicate pairs: documents by the registry's exact
    3-shingle Jaccard oracle (DuckDB connection ``con``), vectors by exact
    cosine similarity ≥ ``cosine_t``."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries import ORACLE_SQL

    jaccard = {(a, b) for a, b, _ in con.execute(ORACLE_SQL["dedup_jaccard_pairs"]).fetchall()}
    t = pq.read_table(os.path.join(sf, "embeddings.parquet"))
    ids = t["vec_id"].to_numpy()
    v = np.stack(t["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    a, b = np.nonzero(np.triu(v @ v.T, 1) >= cosine_t - 1e-9)
    return jaccard, set(zip(ids[a].tolist(), ids[b].tolist()))


# --------------------------------------------------------------------------
# curation
# --------------------------------------------------------------------------


class Curation(Workload):
    name = "curation"
    base_docs, replicas, base_vectors = 150, 3, 150
    jaccard_t, cosine_t = 0.3, 0.9

    def generate(self) -> None:
        self.sf = os.path.join(self.dir, "curation")
        shutil.rmtree(self.sf, ignore_errors=True)
        gen.write_curation(self.sf, self.seed, self.base_docs, self.replicas, self.base_vectors)

    def _docs(self):
        from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources import load_table

        return load_table(self.spark, self.sf, "documents")

    def _emb(self):
        from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources import load_table

        return load_table(self.spark, self.sf, "embeddings")

    def _minhash(self):
        from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import dedup as D

        return D.minhash_near_dups(self._docs(), self.jaccard_t)

    def _cosine(self):
        from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import similarity as S

        return S.cosine_near_dup_pairs(self._emb(), self.cosine_t)

    def units(self) -> list[Unit]:
        from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries import QUERIES

        def registry(name):
            return lambda: QUERIES[name](self.spark, self.sf)

        return [
            Unit("curate", registry("pipeline_corpus_curation"), noop),
            Unit("minhash_near_dups", self._minhash, noop),
            Unit("simhash_near_dups", registry("dedup_simhash_near"), noop),
            Unit("doc_profile", registry("text_doc_profile"), noop),
            Unit("cosine_near_dup_pairs", self._cosine, noop),
            Unit("brute_force_topk", registry("ann_topk_bruteforce"), noop),
        ]

    #: doc_profile rows are per document: every 8th is checked against the
    #: oracle run over just those documents
    PROFILE_SAMPLE = "doc_id % 8 = 0"

    def _oracles(self) -> dict[str, object]:
        import duckdb

        from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries import ORACLE_SQL

        con = _duckdb_views(duckdb, self.sf, ("documents", "embeddings"))
        sub = _duckdb_views(duckdb, self.sf, ("embeddings",))
        sub.execute(f"CREATE VIEW documents AS SELECT * FROM '{self.sf}/documents.parquet' "
                    f"WHERE {self.PROFILE_SAMPLE}")
        return {
            "dedup_simhash_near": _fetch(con, ORACLE_SQL["dedup_simhash_near"]),
            "ann_topk_bruteforce": _fetch(con, ORACLE_SQL["ann_topk_bruteforce"]),
            "pipeline_corpus_curation": _curation_oracle(con),
            "text_doc_profile": _fetch(sub, ORACLE_SQL["text_doc_profile"]),
            **dict(zip(("jaccard", "cosine"), _exact_pairs(self.sf, self.cosine_t, con))),
        }

    def check(self):
        from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries import QUERIES

        with ThreadPoolExecutor(1) as pool:
            pending = pool.submit(self._oracles)
            got = _concurrently({
                **{n: (lambda n=n: _rows(QUERIES[n](self.spark, self.sf)))
                   for n in ("dedup_simhash_near", "ann_topk_bruteforce", "pipeline_corpus_curation")},
                "text_doc_profile": lambda: _rows(
                    QUERIES["text_doc_profile"](self.spark, self.sf).where(self.PROFILE_SAMPLE)),
                "minhash": lambda: {(r["doc_a"], r["doc_b"]) for r in self._minhash().collect()},
                "cosine": lambda: {(r["id_a"], r["id_b"]) for r in self._cosine().collect()},
            })
            oracle = pending.result()
        minhash, cosine = got.pop("minhash"), got.pop("cosine")
        out = [(n, *_same(got[n], oracle[n])) for n in got]
        for name, found, exact in (("minhash_subset", minhash, oracle["jaccard"]),
                                   ("cosine_subset", cosine, oracle["cosine"])):
            recall = _recall(found, exact)
            out.append((name, found <= exact and bool(found),
                        f"{len(found)} of {len(exact)} exact pairs, recall {recall:.3f}"))
        return out

    def layers(self, tracer) -> dict[str, object]:
        docs = self._docs()
        return {
            **wordcount_layers(tracer, docs, "text", os.path.join(self.dir, "layout-traced")),
            **serving_layers(self.spark, tracer, self.probe_tables()),
            **curation_layers(self.spark, tracer, self.sf, self.jaccard_t, self.cosine_t),
        }


def _simhash_candidates(fps: np.ndarray, n_blocks: int, d: int) -> int:
    """Distinct pairs agreeing exactly on some (B-d)-block combination of
    the 56-bit SimHash: the candidate set of the pigeonhole block join,
    before its hamming filter."""
    from itertools import combinations

    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators.dedup import SIMHASH_BITS

    base, extra = divmod(SIMHASH_BITS, n_blocks)
    widths = [base + (1 if i < extra else 0) for i in range(n_blocks)]
    offsets = [sum(widths[:i]) for i in range(n_blocks)]
    pairs: set[tuple[int, int]] = set()
    for combo in combinations(range(n_blocks), n_blocks - d):
        mask = sum(((1 << widths[i]) - 1) << offsets[i] for i in combo)
        pairs |= _same_key_pairs(fps & np.int64(mask))
    return len(pairs)


def _cosine_candidates(sf: str, threshold: float) -> int:
    """Distinct pairs sharing a band code under the engine's hyperplane
    geometry: the candidate set of ``cosine_near_dup_pairs`` before
    rescoring."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import similarity as S

    t = pq.read_table(os.path.join(sf, "embeddings.parquet"))
    v = np.stack(t["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64)
    bands, width = S.lsh_band_geometry(len(v), threshold)
    bits = (v @ S.hyperplanes(v.shape[1], bands * width).astype(np.float64).T >= 0).astype(np.int64)
    codes = bits.reshape(len(v), bands, width) @ (1 << np.arange(width))
    pairs: set[tuple[int, int]] = set()
    for b in range(bands):
        pairs |= _same_key_pairs(codes[:, b])
    return len(pairs)


def _same_key_pairs(keys: np.ndarray) -> set[tuple[int, int]]:
    order = np.argsort(keys, kind="stable")
    sk = keys[order]
    bounds = np.flatnonzero(np.diff(sk)) + 1
    out: set[tuple[int, int]] = set()
    for grp in np.split(order, bounds):
        if len(grp) > 1:
            g = np.sort(grp).tolist()
            out.update((g[i], g[j]) for i in range(len(g)) for j in range(i + 1, len(g)))
    return out


# --------------------------------------------------------------------------
# interactive
# --------------------------------------------------------------------------

#: Short registry queries, one or more of every family of the interactive
#: mix. rel_q12, rel_q18, rel_sketch_suite (a third of a pass on its own),
#: win_lag_frames, fn_date_suite and fn_math_suite are left out so that a
#: run, with its set-up and check pass, stays near a minute on a contended
#: 4-vCPU host.
INTERACTIVE_QUERIES = (
    "wc_suite",
    "rel_q1_pricing_summary",
    "rel_q3_shipping_priority",
    "rel_q5_region_revenue",
    "win_rank_suite",
    "fn_string_suite",
    "text_vocab_suite",
    "stream_word_count",
    "stream_window_suite",
)
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


class Interactive(Workload):
    name = "interactive"
    sf_scale = 0.01

    def generate(self) -> None:
        self.sf = os.path.join(self.dir, "sf")
        shutil.rmtree(self.sf, ignore_errors=True)
        gen.write_tables(self.sf, self.seed, self.sf_scale)

    def units(self) -> list[Unit]:
        from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries import QUERIES

        def build(name):
            return lambda: QUERIES[name](self.spark, self.sf)

        return [
            Unit(n, build(n), noop, streaming=n.startswith("stream_"))
            for n in INTERACTIVE_QUERIES
        ]

    def check(self):
        import duckdb

        from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries import ORACLE_SQL, QUERIES

        con = _duckdb_views(duckdb, self.sf, TABLES)
        with ThreadPoolExecutor(1) as pool:
            pending = pool.submit(lambda: {n: _fetch(con, ORACLE_SQL[n]) for n in INTERACTIVE_QUERIES})
            got = _concurrently({n: (lambda n=n: _rows(QUERIES[n](self.spark, self.sf))) for n in INTERACTIVE_QUERIES})
            oracle = pending.result()
        return [(n, *_same(got[n], oracle[n])) for n in INTERACTIVE_QUERIES]

    def layers(self, tracer) -> dict[str, object]:
        """Relational and streaming figures come from the traced loop, the
        word-count and sink layers from this workload's own documents."""
        from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.sources import load_table

        li = load_table(self.spark, self.sf, "lineitem")
        t_scan, scan = timed(tracer, "sources.scan", lambda: noop(li))
        return {
            **curation_layers(self.spark, tracer, self.probe_curation()),
            **wordcount_layers(tracer, load_table(self.spark, self.sf, "documents"), "text",
                               os.path.join(self.dir, "layout-traced")),
            "sources.scan_s": t_scan,
            "sources.input_bytes": _spark(scan, "input_bytes"),
            "sources.input_rows": _spark(scan, "input_rows"),
            "plans.spread_partitions": _spread_partitions(li),
        }


# --------------------------------------------------------------------------
# oracle comparison (the registry's DuckDB recipe)
# --------------------------------------------------------------------------


def _duckdb_views(duckdb, sf: str, tables) -> object:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf, t)}.parquet'")
    return con


def _concurrently(tasks: dict[str, Callable[[], object]], workers: int = 4) -> dict[str, object]:
    """Run Spark actions from several threads. Used for the check pass,
    which is also the warm-up: its cold executions (plan compilation,
    worker start) are latency-bound, so they overlap well."""
    with ThreadPoolExecutor(workers) as pool:
        futures = {n: pool.submit(fn) for n, fn in tasks.items()}
        return {n: f.result() for n, f in futures.items()}


def _fetch(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    rows = cur.fetchall()
    return [d[0] for d in cur.description], rows


def _rows(sdf) -> tuple[list[str], list[tuple]]:
    return sdf.columns, [tuple(r) for r in sdf.collect()]


def _same(got: tuple[list[str], list[tuple]], want: tuple[list[str], list[tuple]]) -> tuple[bool, str]:
    """Order-insensitive exact comparison, columns matched by name."""
    cols = sorted(got[0])
    if sorted(want[0]) != cols:
        return False, f"columns {cols} vs oracle {sorted(want[0])}"

    def proj(res):
        idx = [res[0].index(c) for c in cols]
        key = lambda r: tuple((v is None, repr(v)) for v in r)  # noqa: E731  (null-safe sort)
        return sorted((tuple(r[i] for i in idx) for r in res[1]), key=key)

    a, b = proj(got), proj(want)
    return a == b, f"{len(a)} rows vs oracle {len(b)}"


def _curation_oracle(con) -> tuple[list[str], list[tuple]]:
    """The registry's curation oracle with its recursive transitive-closure
    step replaced by union-find (same semantics: component = least
    reachable doc id), which DuckDB needs minutes for at this size."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import sampling as S
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.queries import ORACLE_SQL

    sql = ORACLE_SQL["pipeline_corpus_curation"]
    head = sql[: sql.index("sym AS")].rstrip().rstrip(",")
    cols = ["doc_id", "lang_label", "lang_pred", "n_tokens", "n_chars", "cluster_size", "sample_bucket"]
    found = con.execute(
        head + " SELECT q.doc_id, q.lang_label, q.lang_pred, q.n_tokens, q.n_chars, "
        f"{S.hash_bucket_sql('q.doc_id', 10)}, s.doc_id IS NOT NULL, "
        "(SELECT list(doc_b) FROM jpairs WHERE doc_a = q.doc_id) "
        "FROM qual q LEFT JOIN surv s USING (doc_id)"
    ).fetchall()
    qual = {r[0]: r[:6] for r in found}
    verts = [r[0] for r in found if r[6]]
    edges = [(r[0], b) for r in found for b in (r[7] or [])]
    parent = {v: v for v in verts}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    sizes: dict[int, int] = {}
    for v in verts:
        sizes[find(v)] = sizes.get(find(v), 0) + 1
    return cols, [(*qual[c][:5], n, qual[c][5]) for c, n in sizes.items()]


WORKLOADS = {w.name: w for w in (WcCorpus, Curation, Interactive)}

