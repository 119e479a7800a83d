"""The benchmark's workloads, driven only through the library's public API.

- ``ingest`` is the write path: ``build_full`` the generated corpus with
  positions, trigrams and the tokenize checkpoint on, then a fixed number
  of segment-mode ``update_index`` deltas of ~1% each (modify, add and
  delete, picks hash-scattered).  The count follows from the run's seconds
  alone, so a faster library gives the same samples, not more of them.
  The servers do no work here.
- ``serve`` is the read path: build the store (no tokenize checkpoint: a
  serving store needs none), open a ``WandServer`` on it, register a
  ``set_filter`` filter, then run a closed-loop BM25 query stream for the
  run's seconds (at least ``MIN_QUERIES``): rare identifiers, hot keywords,
  multi-term queries, camelCase-only sub-tokens, k of 10 and 100, and
  filtered queries, drawn Zipf-weighted from a small pool so the
  driver-side memos hit.

A traced run then calls the layers the timed chain does not reach, after
every timed window, and checks each answer against the oracles too:
one ~10% hash-scattered update, near-dedup (``minhash_lsh_pairs``,
``near_dedup_keep_one``, and ``connected_components`` for the oracle) and
the tokenizer / build_index / pack layers on ``ingest``; ``PhraseServer``
and ``TrigramServer`` opened on the same store, phrase queries, grep
needles (some never match), trigram candidate sets and ``search()``
strings with +must -not prefix* "phrase" on ``serve``.

One closed-loop client (the benchmark's main thread) issues every call.
Answers are recorded inside the timed windows and checked against the
oracles outside them.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import time

import oracle
from gen import BM25_KINDS, ROW_SCHEMA, Generator

N_DOCS = 500
MIN_QUERIES = 12
SECONDS_PER_UPDATE = 5  # ingest times ceil(seconds / this) updates
SMALL_DELTA, BIG_DELTA = 0.01, 0.10
DEDUP_THRESHOLD = 0.5
CLASS_METRIC = {"phrase": "phrase.query_p50_s", "grep": "trigram.grep_p50_s",
                "search": "search.query_p50_s"}
WORKLOADS = ("ingest", "serve")


class Failures:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def check(self, what: str, err) -> None:
        """Count one checked operation; ``err`` is None, a reason string or
        a list of reason strings."""
        self.attempted += 1
        errs = [err] if isinstance(err, str) else list(err or [])
        if errs:
            self.failed += 1
            self.reasons.extend(f"{what}: {e}" for e in errs[:3])


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def dir_bytes(path: str) -> int:
    """On-disk bytes under ``path``, each hard-linked inode counted once."""
    seen, total = set(), 0
    for root, _, files in os.walk(path):
        for f in files:
            st = os.lstat(os.path.join(root, f))
            if st.st_ino not in seen:
                seen.add(st.st_ino)
                total += st.st_size
    return total


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, tracer, work: str, cpus: int):
        if workload not in WORKLOADS:
            raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.tr, self.work, self.cpus = tracer, work, cpus
        self.fail = Failures()
        self.m: dict[str, float] = {}  # end-to-end metrics
        self.x: dict[str, float] = {}  # workload- and layer-specific metrics
        self.ops: list[float] = []  # latencies of the workload's timed operation
        self.needles: set[str] = set()

    def run(self, traced: bool, conf: dict) -> None:
        self.setup(conf)
        self.build()
        if self.workload == "ingest":
            self.updates()
            self.verify_store()
        else:
            self.open_wand()
            self.bm25_stream()
        self.finish()
        if traced:
            if self.workload == "ingest":
                self.big_update()
                self.dedup()
                self.build_layers()
            else:
                self.serve_layers()

    # -- setup -------------------------------------------------------------------

    def setup(self, conf: dict) -> None:
        t0 = time.perf_counter()
        with self.tr.span("session", "get_spark"):
            from bliss_rs_spark.session import get_spark

            self.spark = get_spark("perfbench", cpus=self.cpus, extra_conf=conf)
        self.x["session.start_s"] = time.perf_counter() - t0
        self.tr.attach(self.spark.sparkContext)
        t = time.perf_counter()
        self.gen = Generator(self.seed)
        self.corpus = self.gen.corpus(N_DOCS)
        self.docs_df = self._frame(self.corpus.rows())
        self.m["setup_s"] = self.x["session.start_s"] + time.perf_counter() - t
        self.ox = self._oracle_index()

    def _frame(self, rows):
        import pandas as pd

        cols = [c.split()[0] for c in ROW_SCHEMA.split(", ")]
        df = self.spark.createDataFrame(pd.DataFrame(rows, columns=cols), ROW_SCHEMA).cache()
        df.count()
        return df

    def _oracle_index(self):
        return oracle.TextIndex({d: doc.content for d, doc in self.corpus.docs.items()})

    # -- write path ---------------------------------------------------------------

    def dedup(self) -> None:
        """Near-dedup the run's initial corpus (the generator plants its
        duplicate clusters there), checked by the dedup oracle.  The timed
        window is pairs + keep-one (keep-one runs the components itself);
        the components the oracle needs come from a call after it."""
        from bliss_rs_spark.operators import dedup

        tr = self.tr
        corpus = Generator(self.seed).corpus(N_DOCS)
        docs = self._frame(corpus.rows())
        t0 = time.perf_counter()
        with tr.span("dedup", "minhash_lsh_pairs"):
            pairs_df = dedup.minhash_lsh_pairs(docs, jaccard_threshold=DEDUP_THRESHOLD).cache()
            pairs = [(int(r[0]), int(r[1]), float(r[2])) for r in pairs_df.collect()]
        with tr.span("dedup", "near_dedup_keep_one"):
            kept = {int(r[0]) for r in
                    dedup.near_dedup_keep_one(docs, pairs_df).select("doc_id").collect()}
        self.x["dedup.docs_per_s"] = len(corpus.docs) / (time.perf_counter() - t0)
        with tr.span("dedup", "connected_components"):
            comps = {int(r[0]): int(r[1])
                     for r in dedup.connected_components(pairs_df).collect()}
        self.x["dedup.verified_pairs"] = len(pairs)
        pairs_df.unpersist()
        docs.unpersist()
        content = {d: doc.content for d, doc in corpus.docs.items()}
        step = max(1, len(pairs) // 200)
        self.fail.check("dedup", oracle.check_dedup(
            content, corpus.clusters, pairs, comps, kept,
            DEDUP_THRESHOLD, pairs[::step]))

    def build(self) -> None:
        from bliss_rs_spark.config import IndexConfig
        from bliss_rs_spark.plans.lifecycle import build_full
        from bliss_rs_spark.sources.index_store import IndexStore

        path = os.path.join(self.work, "store")
        shutil.rmtree(path, ignore_errors=True)
        self.store = IndexStore(path)
        self.cfg = IndexConfig(store_positions=True, store_trigrams=True,
                               n_doc_shards=4, n_term_buckets=4)
        _, dt = self.tr.timed("lifecycle", "build_full", lambda: build_full(
            self.spark, self.docs_df, self.store, self.cfg,
            checkpoint=self.workload == "ingest"))
        self.m["build_docs_per_s"] = len(self.corpus.docs) / dt
        self.x["pack.bytes_per_posting"] = dir_bytes(
            os.path.join(self.store.snapshot_dir(), "packed")) / self.ox.n_postings
        self._check_store_stats()

    def _check_store_stats(self) -> None:
        meta = self.store.meta()
        self.fail.check("store n_docs", None if meta["n_docs"] == self.ox.n_docs
                        else f"n_docs {meta['n_docs']}, oracle {self.ox.n_docs}")

    def updates(self) -> None:
        """``ceil(seconds / SECONDS_PER_UPDATE)`` segment-mode updates of
        ~1% each; their median is ``op_p50_s``."""
        repacked, written = [], []
        for _ in range(math.ceil(self.seconds / SECONDS_PER_UPDATE)):
            dt, w, rep = self._update(SMALL_DELTA, "update_index")
            self.ops.append(dt)
            written.append(w)
            if rep is not None:
                repacked.append(rep)
        self.x["lifecycle.update_p50_s"] = median(self.ops)
        self.x["lifecycle.shards_repacked_ratio"] = median(repacked)
        self.x["index_store.bytes_written_per_update"] = median(written)

    def big_update(self) -> None:
        """The one ~10% hash-scattered update, after the timed window, and
        the BM25 check of the snapshot it makes."""
        self.x["lifecycle.update_10pct_s"], _, _ = self._update(BIG_DELTA, "update_index 10%")
        self.verify_store()

    def _update(self, share: float, name: str):
        """One segment-mode update to the next corpus state ->
        (seconds, bytes written, shards repacked ratio or None)."""
        from bliss_rs_spark.plans.lifecycle import update_index

        new = self.gen.delta(self.corpus, share)
        new_df = self._frame(new.rows())
        before = dir_bytes(self.store.path)
        _, dt = self.tr.timed("lifecycle", name, lambda: update_index(
            self.spark, new_df, self.store, delete_missing=True, repack="segment"))
        written = dir_bytes(self.store.path) - before
        self.docs_df.unpersist()
        self.docs_df, self.corpus = new_df, new
        self.ox = self._oracle_index()
        self._check_store_stats()
        with open(os.path.join(self.store.snapshot_dir(), "metrics.json")) as f:
            n_rep = json.load(f).get("n_shards_repacked")
        return dt, written, None if n_rep is None else n_rep / self.cfg.n_doc_shards

    def verify_store(self) -> None:
        """BM25 top-k of the final snapshot through the one-job batch path,
        checked against the oracle (untimed)."""
        from bliss_rs_spark.plans.lifecycle import query_index_batch

        qs = [q for q in self.gen.query_pool(self.corpus, oracle.tokenize, 12)
              if q[0] == "bm25" and q[3] is None]
        batch = [(i, q[1], q[2]) for i, q in enumerate(qs)]
        with self.tr.span("lifecycle", "query_index_batch"):
            rows = query_index_batch(self.spark, self.store, batch).collect()
        got: dict[int, list] = {i: [] for i, _, _ in batch}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            got[int(r["query_id"])].append((int(r["doc_id"]), float(r["score"])))
        avgdl = self.store.meta()["avgdl"]
        for i, text, k in batch:
            scores = self.ox.bm25(oracle.query_terms(text), avgdl)
            self.fail.check(f"batch bm25 {text!r}", oracle.check_topk(got[i], scores, k))

    def build_layers(self) -> None:
        """One call into each build layer over the current corpus, checked
        against the oracle: doc count and total length from the tokenizer,
        N / avgdl / vocabulary / postings from build_index, non-empty packed
        rows and doc map from pack."""
        from pyspark.sql import functions as F

        from bliss_rs_spark.functions.tokenizer import with_tokens
        from bliss_rs_spark.operators.build_index import build_index_frames
        from bliss_rs_spark.operators.pack import build_packed_index_full

        ox, tr = self.ox, self.tr
        (n, dl), dt = tr.timed("tokenizer", "with_tokens", lambda: tuple(
            with_tokens(self.docs_df).agg(F.count(F.lit(1)), F.sum("dl")).first()))
        self.x["tokenizer.docs_per_s"] = n / dt
        sum_dl = sum(ox.dl.values())
        self.fail.check("tokenizer", None if (n, dl) == (ox.n_docs, sum_dl)
                        else f"n={n} sum_dl={dl}, oracle {ox.n_docs} {sum_dl}")
        with tr.span("build_index", "build_index_frames"):
            idx = build_index_frames(self.docs_df, self.cfg)
            vocab = idx.term_stats.count()
            n_post = idx.postings.count()
        self.fail.check("build_index", None if (
            idx.n_docs == ox.n_docs and abs(idx.avgdl - sum_dl / ox.n_docs) < 1e-9
            and vocab == len(ox.postings) and n_post == ox.n_postings)
            else f"N={idx.n_docs} avgdl={idx.avgdl} vocab={vocab} postings={n_post}")
        with tr.span("pack", "build_packed_index_full"):
            packed, doc_map = build_packed_index_full(
                idx.postings, idx.term_stats, idx.n_docs, idx.avgdl, self.cfg)
            n_packed = packed.count()
            mapped = doc_map.count()
        self.fail.check("pack", None if n_packed > 0 and mapped > 0
                        else f"{n_packed} packed rows, {mapped} doc-map rows")
        doc_map.unpersist()

    # -- read path ----------------------------------------------------------------

    def open_wand(self) -> None:
        from bliss_rs_spark.operators.wand import WandServer

        tr, st, sp = self.tr, self.store, self.spark
        self.allow: set[int] = set()
        t0 = time.perf_counter()
        self.wand, self.x["wand.init_s"] = tr.timed(
            "wand", "WandServer.from_store", lambda: WandServer.from_store(sp, st))
        first = ("bm25", "return value", 10, None)
        answer = self._ask(first)
        self.x["wand.first_answer_s"] = time.perf_counter() - t0
        self._check([(first, answer)])
        allow = sorted(d for d, doc in self.corpus.docs.items() if doc.lang == "python")
        self.allow = set(allow)
        allow_df = sp.createDataFrame([(d,) for d in allow], "doc_id long")
        with tr.span("wand", "set_filter"):
            self.wand.set_filter("python", allow_df)

    def _pools(self, size: int) -> dict[str, list[tuple]]:
        pools: dict[str, list[tuple]] = {}
        for q in self.gen.query_pool(self.corpus, oracle.tokenize, size):
            pools.setdefault(q[0], []).append(q)
        return pools

    def bm25_stream(self) -> None:
        """Closed loop for the run's seconds.  Query kinds (rare, hot,
        multi-term, camelCase-only, filtered, two-word) come in rotation, so
        every seed gets the same mix; within a kind each query is drawn
        Zipf-weighted from that kind's sub-pool."""
        pool = self._pools(4 * BM25_KINDS)["bm25"]
        kinds = [pool[k::BM25_KINDS] for k in range(BM25_KINDS)]
        deadline = time.perf_counter() + self.seconds
        answered = []
        while len(self.ops) < MIN_QUERIES or time.perf_counter() < deadline:
            q = self.gen.stream(kinds[len(self.ops) % BM25_KINDS], 1)[0]
            out, dt = self._ask(q, request=len(self.ops))
            answered.append((q, (out, dt)))
            self.ops.append(dt)
        self._check(answered)
        self.x["wand.query_p50_s"] = median(self.ops)

    def serve_layers(self) -> None:
        """Phrase and trigram servers on the same store, and search(): a few
        queries of each class, then trigram candidates / verified matches
        over the grep needles."""
        from bliss_rs_spark.operators.phrase import PhraseServer
        from bliss_rs_spark.operators.trigram import TrigramServer

        tr, st, sp = self.tr, self.store, self.spark
        self.phrase, self.x["phrase.init_s"] = tr.timed(
            "phrase", "PhraseServer.from_store", lambda: PhraseServer.from_store(sp, st))
        self.tri, self.x["trigram.init_s"] = tr.timed(
            "trigram", "TrigramServer.from_store",
            lambda: TrigramServer.from_store(sp, st, self.docs_df))
        with tr.span("index_store", "load"):
            self.frames = (st.load(sp, "postings"), st.load(sp, "term_stats"),
                           st.load(sp, "positional"), st.meta()["avgdl"])
        pools = self._pools(4)
        for kind in ("phrase", "grep", "search"):
            answered = [(q, self._ask(q)) for q in pools[kind]]
            self._check(answered)
            self.x[CLASS_METRIC[kind]] = median([dt for _, (_, dt) in answered])
        cands = hits = 0
        for n in sorted(self.needles):
            with tr.span("trigram", "candidates"):
                cands += len(self.tri.candidates(n))
            hits += len(self.ox.grep(n))
        self.x["trigram.candidates_per_hit"] = cands / max(hits, 1)

    def _ask(self, q: tuple, request: int | None = None):
        """One query through the matching server -> (answer, seconds)."""
        tr, kind = self.tr, q[0]
        t0 = time.perf_counter()
        if kind == "bm25":
            _, text, k, flt = q
            with tr.span("wand", "query", request):
                out = self.wand.query(text, k, filter_name=flt)
        elif kind == "phrase":
            with tr.span("phrase", "query", request):
                out = self.phrase.query(q[1], q[2])
        elif kind == "grep":
            self.needles.add(q[1])
            with tr.span("trigram", "grep", request):
                out = self.tri.grep(q[1])
        else:
            from bliss_rs_spark.operators.search import search

            postings, ts, positional, avgdl = self.frames
            with tr.span("search", "search", request):
                out = [(int(r["doc_id"]), float(r["score"])) for r in search(
                    self.spark, postings, ts, avgdl, q[1], q[2], self.cfg,
                    positional=positional).collect()]
        return out, time.perf_counter() - t0

    def _check(self, answered: list[tuple]) -> None:
        ox = self.ox
        avgdl = self.store.meta()["avgdl"]
        for q, (out, _) in answered:
            kind = q[0]
            if kind == "bm25":
                _, text, k, flt = q
                scores = ox.bm25(oracle.query_terms(text), avgdl,
                                 self.allow if flt else None)
                err = oracle.check_topk(out, scores, k)
            elif kind == "phrase":
                err = oracle.check_phrase(out, ox.phrase_tf(q[1]), q[2])
            elif kind == "grep":
                err = oracle.check_grep(out, ox.grep(q[1]))
            else:
                err = oracle.check_topk(out, dict(ox.search(q[1], avgdl, 10**9)), q[2])
            self.fail.check(f"{kind} {q[1]!r}", err)

    # -- finish -------------------------------------------------------------------

    def finish(self) -> None:
        self.m["op_p50_s"] = median(self.ops)
        with self.tr.span("index_store", "gc"):
            t = time.perf_counter()
            self.store.gc()
            self.x["index_store.gc_s"] = time.perf_counter() - t
        live = dir_bytes(self.store.path)
        self.m["store_bytes_per_posting"] = live / self.ox.n_postings
        self.x["index_store.live_bytes"] = live
        self.x["index_store.units"] = len(self.store.packed_unit_fingerprints())
        self.x["index_store.tombstone_rows"] = self.store.tombstone_rows() or 0

    def close(self) -> None:
        for s in ("wand", "phrase", "tri"):
            if hasattr(self, s):
                getattr(self, s).close()
