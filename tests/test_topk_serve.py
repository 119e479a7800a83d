"""Round-2 operators: pluggable top-k scorer (F6), low-latency WAND serving,
k-means IVF codebook recall, banded hyperplane-LSH recall.

Recall tests follow the reference's known-answer-fixture pattern (clustered
fixtures with a known structure, /root/reference/src/chroma.rs:716-806):
seeded cluster-structured vectors where near-duplicate pairs are planted by
construction.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from bliss_rs_spark.config import IndexConfig
from bliss_rs_spark.corpus import synth_documents, with_invariants

CFG = IndexConfig(block_size=16, n_doc_shards=4, n_term_buckets=8)
DIM = 16


def _clustered_emb(spark, n_clusters=8, per_cluster=30, dim=DIM, seed=3, noise=0.08):
    """Seeded clustered vectors: points within a cluster are near-duplicates
    of each other by construction (high cosine), across clusters they are not."""
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in range(n_clusters):
        for _ in range(per_cluster):
            v = centers[c] + noise * rng.standard_normal(dim)
            rows.append((vid, [float(x) for x in v], c))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


# --- F6: pluggable top-k scorer ------------------------------------------------

def test_topk_cosine_scorer_matches_cosine_topk(spark):
    from bliss_rs_spark.operators.similarity import cosine_topk
    from bliss_rs_spark.operators.topk import cosine_scorer, topk

    emb = _clustered_emb(spark)
    q = [float(x) for x in np.random.default_rng(9).standard_normal(DIM)]
    a = cosine_topk(emb, q, 12, id_col="vec_id").collect()
    b = topk(emb, cosine_scorer(q), 12, id_col="vec_id").collect()
    assert [(r["vec_id"], r["cosine"]) for r in a] == [
        (r["vec_id"], r["score"]) for r in b
    ]


def test_topk_custom_column_and_pandas_udf_scorer(spark):
    import pandas as pd

    from bliss_rs_spark.operators.topk import topk

    docs = with_invariants(synth_documents(spark, 80))
    # Column scorer: JVM expression
    col_top = topk(docs, F.length("content").cast("double"), 5).collect()
    exp = sorted(
        docs.select("doc_id", F.length("content").alias("n")).collect(),
        key=lambda r: (-r["n"], r["doc_id"]),
    )[:5]
    assert [r["doc_id"] for r in col_top] == [r["doc_id"] for r in exp]

    # pandas-UDF scorer slots in unchanged (the Python escape hatch)
    @F.pandas_udf("double")
    def neg_len(c: pd.Series) -> pd.Series:
        return -c.str.len().astype(float)

    udf_top = topk(docs, neg_len(F.col("content")), 5).collect()
    exp2 = sorted(
        docs.select("doc_id", F.length("content").alias("n")).collect(),
        key=lambda r: (r["n"], r["doc_id"]),
    )[:5]
    assert [r["doc_id"] for r in udf_top] == [r["doc_id"] for r in exp2]


def test_topk_plan_is_take_ordered(spark):
    """The scorer stays a Catalyst expression: the physical plan must be
    TakeOrderedAndProject (per-partition top-k + merge), not a global Sort."""
    from bliss_rs_spark.operators.topk import topk

    docs = with_invariants(synth_documents(spark, 50))
    plan = topk(docs, F.length("content").cast("double"), 5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


# --- low-latency serving ---------------------------------------------------------

def test_wand_server_rank_identical_and_single_stage(spark, tmp_path):
    from bliss_rs_spark.operators.wand import WandServer
    from bliss_rs_spark.plans.lifecycle import build_full, query_index, update_index
    from bliss_rs_spark.sources.index_store import IndexStore

    store = IndexStore(str(tmp_path / "idx"))
    build_full(spark, with_invariants(synth_documents(spark, 200)), store, CFG,
               checkpoint=False)
    # include an incremental snapshot: serving must work over carried+repacked
    update_index(spark, with_invariants(synth_documents(spark, 230)), store)

    server = WandServer.from_store(spark, store)
    assert server.single_stage, "shard files split across partitions"
    for q in ["varbyte merge return", "blockMaxScore", "return", "zz_nohit"]:
        got = server.query(q, 10)
        exp = [
            (r["doc_id"], r["score"])
            for r in query_index(spark, store, q, 10, use_wand=True).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in exp]
        for (_, gs), (_, es) in zip(got, exp):
            assert math.isclose(gs, es, rel_tol=1e-12)
    server.close()


# --- IVF: k-means codebook recall -------------------------------------------------

def _recall_at_k(spark, emb, centroids, k=10, n_queries=8, n_probe=4):
    from bliss_rs_spark.operators.similarity import cosine_topk, ivf_topk

    rng = np.random.default_rng(17)
    hits = total = 0
    all_ids = [r[0] for r in emb.select("vec_id").collect()]
    for qid in rng.choice(all_ids, size=n_queries, replace=False):
        qvec = [
            float(x)
            for x in emb.filter(F.col("vec_id") == int(qid)).collect()[0]["embedding"]
        ]
        rest = emb.filter(F.col("vec_id") != int(qid))
        exact = {r["vec_id"] for r in cosine_topk(rest, qvec, k, id_col="vec_id").collect()}
        approx = {
            r["vec_id"]
            for r in ivf_topk(
                rest, qvec, k, n_cells=8, n_probe=n_probe, dim=DIM,
                id_col="vec_id", centroids=centroids,
            ).collect()
        }
        hits += len(exact & approx)
        total += k
    return hits / total


def test_kmeans_codebook_beats_random_on_clustered_data(spark):
    from bliss_rs_spark.operators.similarity import ivf_random_codebook, kmeans_codebook

    emb = _clustered_emb(spark).cache()
    km = kmeans_codebook(emb, n_cells=8, n_iters=5, seed=11)
    assert km.shape == (8, DIM)
    rand = ivf_random_codebook(8, 11, DIM)
    r_km = _recall_at_k(spark, emb, km)
    r_rand = _recall_at_k(spark, emb, rand)
    # clustered data: adapted cells must capture each cluster -> high recall
    assert r_km >= 0.9, f"k-means recall {r_km}"
    assert r_km >= r_rand, f"k-means {r_km} < random {r_rand}"


def test_kmeans_codebook_deterministic(spark):
    from bliss_rs_spark.operators.similarity import kmeans_codebook

    emb = _clustered_emb(spark)
    a = kmeans_codebook(emb, n_cells=4, n_iters=3, seed=7)
    b = kmeans_codebook(emb.repartition(7), n_cells=4, n_iters=3, seed=7)
    assert np.array_equal(a, b), "codebook must not depend on partitioning"


# --- banded hyperplane LSH recall --------------------------------------------------

def test_banded_lsh_recall_vs_brute_force(spark):
    from bliss_rs_spark.operators.similarity import _dot, _norm, embedding_neardup_pairs

    emb = _clustered_emb(spark, n_clusters=6, per_cluster=20, noise=0.05).cache()
    thr = 0.95

    # brute force ground truth (exact all-pairs within the small fixture)
    a = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    truth = {
        (r["ia"], r["ib"])
        for r in a.crossJoin(b)
        .filter(F.col("ia") < F.col("ib"))
        .withColumn(
            "cos",
            _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb"))),
        )
        .filter(F.col("cos") >= thr)
        .collect()
    }
    assert len(truth) > 100, "fixture must plant plenty of true near-dups"

    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(
            emb, cosine_threshold=thr, n_planes=12, bands=4, dim=DIM
        ).collect()
    }
    assert got <= truth, "emitted pairs are exact-verified, never false positives"
    recall = len(got) / len(truth)
    assert recall >= 0.8, f"banded LSH recall {recall}"

    # the old all-planes-one-bucket scheme this replaced has strictly lower
    # recall on the same fixture (bands=1 == every sign must agree)
    one_bucket = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(
            emb, cosine_threshold=thr, n_planes=12, bands=1, dim=DIM
        ).collect()
    }
    assert len(one_bucket) <= len(got)


def test_wand_server_lazy_idf_and_distributed_tombstones(spark, tmp_path):
    """Driver-scale pins: with driver_idf=False the server never collects
    the vocab (only queried terms land in the LRU, absent terms negatively
    cached), and tombstones passed as a FRAME are never collected on the
    serving path — results stay identical to the driver-dict server."""
    from pyspark.sql import functions as F

    from bliss_rs_spark.corpus import synth_documents, with_invariants
    from bliss_rs_spark.operators.wand import WandServer
    from bliss_rs_spark.plans.lifecycle import build_full, update_index
    from bliss_rs_spark.sources.index_store import IndexStore
    from bliss_rs_spark.config import IndexConfig

    cfg = IndexConfig(block_size=16, n_doc_shards=4, n_term_buckets=8)
    store = IndexStore(str(tmp_path / "idx"))
    docs = with_invariants(synth_documents(spark, 150, seed=42))
    build_full(spark, docs, store, cfg, checkpoint=False)
    # deletions -> real tombstones on the serving path
    update_index(spark, docs.filter(F.col("doc_id") % 11 != 0), store, cfg,
                 delete_missing=True, repack="segment")

    eager = WandServer.from_store(spark, store)
    lazy = WandServer(
        spark, None, store.load(spark, "term_stats"), store.meta()["avgdl"],
        store.config(), None, units=store.packed_units(spark),
        tombstones=store.load(spark, "tombstones"), driver_idf=False,
    )
    assert eager.single_stage and lazy.single_stage
    # round 4: the driver tombstone dict is GONE — the server holds only the
    # frame; there is no collected cache to even exist
    assert not hasattr(lazy, "_tomb_dict_cache")
    for q in ["varbyte merge return", "return", "no_such_term_zz"]:
        got_e = eager.query(q, 10)
        got_l = lazy.query(q, 10)
        assert got_e == got_l, q
    # the LRU holds only the queried terms (positive + negative entries),
    # nowhere near the vocab
    assert 0 < len(lazy._idf_cache) <= 10
    assert any(v is None for v in lazy._idf_cache.values())  # negative entries
    eager.close()
    lazy.close()


def test_wand_server_non_ordinal_store_with_tombstones(spark, tmp_path):
    """Serving a store built WITHOUT ordinal doc-ids (no doc-map sentinels;
    dead sets stay in raw doc_id space inside the kernel) must match the
    exhaustive scorer after deletions."""
    import math

    from pyspark.sql import functions as F

    from bliss_rs_spark.config import IndexConfig
    from bliss_rs_spark.corpus import synth_documents, with_invariants
    from bliss_rs_spark.operators.wand import WandServer
    from bliss_rs_spark.plans.lifecycle import build_full, query_index, update_index
    from bliss_rs_spark.sources.index_store import IndexStore

    cfg = IndexConfig(
        block_size=16, n_doc_shards=4, n_term_buckets=8, ordinal_docids=False
    )
    store = IndexStore(str(tmp_path / "idx"))
    docs = with_invariants(synth_documents(spark, 120, seed=42))
    build_full(spark, docs, store, cfg, checkpoint=False)
    update_index(spark, docs.filter(F.col("doc_id") % 9 != 0), store, cfg,
                 delete_missing=True, repack="segment")
    assert store.load(spark, "tombstones").count() > 0

    server = WandServer.from_store(spark, store)
    assert server.single_stage
    for q in ["varbyte merge return", "return", "blockMaxScore"]:
        got = server.query(q, 10)
        exp = [(r["doc_id"], r["score"])
               for r in query_index(spark, store, q, 10, use_wand=False).collect()]
        assert [d for d, _ in got] == [d for d, _ in exp], q
        for (_, gs), (_, es) in zip(got, exp):
            assert math.isclose(gs, es, rel_tol=1e-12)
    server.close()


def test_auto_lsh_params_scale_and_bucket_stats(spark):
    """Round-2 parameter risk: fixed r=3 planes/band means ~n^2/128 candidate
    pairs at corpus scale.  auto_lsh_params grows rows/band ~log2(n) (bucket
    join stays linear) and bands to hold the recall target; lsh_bucket_stats
    is the pre-join blowup early-warning metric."""
    from bliss_rs_spark.operators.similarity import (
        auto_lsh_params,
        embedding_neardup_pairs,
        lsh_bucket_stats,
    )

    np1, b1 = auto_lsh_params(1_000)
    np2, b2 = auto_lsh_params(1_000_000)
    np3, b3 = auto_lsh_params(1_000_000_000)
    r1, r2, r3 = np1 // b1, np2 // b2, np3 // b3
    assert r1 < r2 < r3 <= 24, (r1, r2, r3)
    assert b1 <= b2 <= b3  # recall held by more bands as p^r shrinks

    emb = _clustered_emb(spark, n_clusters=6, per_cluster=20, noise=0.05).cache()
    stats = lsh_bucket_stats(emb, n_planes=12, bands=4, dim=DIM)
    assert stats["n_buckets"] > 0
    assert stats["max_bucket"] >= stats["mean_bucket"] > 0
    assert stats["candidate_pairs"] > 0
    assert stats["skew_ratio"] >= 1.0

    # auto-parameterized search: pairs found, exact-verified (no false pos)
    got = embedding_neardup_pairs(emb, cosine_threshold=0.95, dim=DIM).collect()
    assert len(got) > 0
    assert all(r["cosine"] >= 0.95 for r in got)


def test_batch_queries_over_segment_store(spark, tmp_path):
    """One-job batch scoring on a multi-unit store (segment update with
    changed + deleted docs) must equal the per-query units path for every
    query in the set."""
    from bliss_rs_spark.plans.lifecycle import (
        build_full,
        query_index,
        query_index_batch,
        update_index,
    )
    from bliss_rs_spark.sources.index_store import IndexStore

    store = IndexStore(str(tmp_path / "idx"))
    docs = with_invariants(synth_documents(spark, 160))
    build_full(spark, docs, store, CFG, checkpoint=False)
    docs_b = with_invariants(
        synth_documents(spark, 180)
        .withColumn(
            "content",
            F.when(F.expr("pmod(xxhash64(repo, path, commit), 13) = 0"),
                   F.concat(F.col("content"), F.lit("\nzzbatchzz")))
            .otherwise(F.col("content")),
        )
    ).filter(F.col("doc_id") % 19 != 2)
    update_index(spark, docs_b, store, CFG, delete_missing=True, repack="segment")
    assert len(store.packed_units(spark)) == 2
    assert store.tombstone_dict(spark)

    queries = [(1, "varbyte merge return", 10), (2, "zzbatchzz", 10),
               (3, "blockMaxScore", 5), (4, "return", 7)]
    batch = query_index_batch(spark, store, queries).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, text, k in queries:
        exp = [(i + 1, r["doc_id"], r["score"]) for i, r in enumerate(
            query_index(spark, store, text, k, use_wand=True).collect())]
        got = sorted(by_q.get(qid, []))
        assert got == exp, (qid, text)


def test_wand_server_refresh_incremental(spark, tmp_path):
    """refresh() re-points a warm server at a new snapshot reusing every
    unchanged unit's cache: after a segment-mode delta update the base pack
    (hard-linked carry, stable inodes) is REUSED, only the new segment unit
    is cached, and results match a from-scratch server exactly."""
    from pyspark.sql import functions as F

    from bliss_rs_spark.operators.wand import WandServer
    from bliss_rs_spark.plans.lifecycle import build_full, update_index
    from bliss_rs_spark.sources.index_store import IndexStore

    cfg = IndexConfig(block_size=16, n_doc_shards=4, n_term_buckets=8)
    store = IndexStore(str(tmp_path / "idx"))
    docs = with_invariants(synth_documents(spark, 160, seed=13))
    build_full(spark, docs, store, cfg, checkpoint=False)
    base_seq = store.meta().get("packed_base_seq", 1)

    server = WandServer.from_store(spark, store)
    before = server.query("varbyte merge return", 10)
    assert before

    # delta: ~6% changed content + ~5% deletions, segment repack (no base
    # rewrite), maintenance off so the base carry is guaranteed
    docs_b = with_invariants(
        docs.withColumn(
            "content",
            F.when(F.col("doc_id") % 17 == 0,
                   F.concat(F.col("content"), F.lit("\nzz_refresh zz_refresh")))
            .otherwise(F.col("content")),
        ).drop("content_sha256")
    ).filter(F.col("doc_id") % 19 != 0)
    update_index(spark, docs_b, store, None, delete_missing=True,
                 repack="segment", auto_maintain=False)

    info = server.refresh(store)
    assert int(base_seq) in info["reused_units"], info
    assert info["rebuilt_units"], info  # the new segment unit was cached

    fresh = WandServer.from_store(spark, store)
    try:
        for q in ["varbyte merge return", "zz_refresh", "return",
                  "no_such_term_zz"]:
            assert server.query(q, 10) == fresh.query(q, 10), q
        # deleted docs are gone through the refreshed dead frame
        gone = {int(r["doc_id"])
                for r in docs.filter(F.col("doc_id") % 19 == 0)
                .select("doc_id").collect()}
        assert not gone & {d for d, _ in server.query("return", 50)}
    finally:
        fresh.close()
        server.close()


def test_wand_server_refresh_after_compaction_rebuilds(spark, tmp_path):
    """A compaction rewrites the base pack (new inodes): refresh must NOT
    reuse the stale cache — fingerprint mismatch forces a rebuild and
    results still match a fresh server."""
    from pyspark.sql import functions as F

    from bliss_rs_spark.operators.wand import WandServer
    from bliss_rs_spark.plans.lifecycle import (
        build_full,
        compact_packs,
        update_index,
    )
    from bliss_rs_spark.sources.index_store import IndexStore

    cfg = IndexConfig(block_size=16, n_doc_shards=4, n_term_buckets=8)
    store = IndexStore(str(tmp_path / "idx"))
    docs = with_invariants(synth_documents(spark, 120, seed=21))
    build_full(spark, docs, store, cfg, checkpoint=False)
    update_index(
        spark,
        with_invariants(docs.withColumn(
            "content",
            F.when(F.col("doc_id") % 11 == 0,
                   F.concat(F.col("content"), F.lit("\nzz_cpt zz_cpt")))
            .otherwise(F.col("content")),
        ).drop("content_sha256")),
        store, None, repack="segment", auto_maintain=False,
    )
    server = WandServer.from_store(spark, store)
    assert len(server._units) == 2
    compact_packs(spark, store)
    info = server.refresh(store)
    assert info["reused_units"] == []  # folded base = new bytes everywhere
    assert len(server._units) == 1
    fresh = WandServer.from_store(spark, store)
    try:
        for q in ["varbyte merge return", "zz_cpt"]:
            assert server.query(q, 10) == fresh.query(q, 10), q
    finally:
        fresh.close()
        server.close()


def _jobs_started_by(spark, fn):
    """(fn(), ids of the Spark jobs fn started) — counted through a
    dedicated job group."""
    import uuid

    sc = spark.sparkContext
    group = "jobs-" + uuid.uuid4().hex[:8]
    sc.setJobGroup(group, "counted")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _open_warm_servers(spark, store, docs):
    """One of each warm server over ``store`` (all share the UnitServer
    lifecycle)."""
    from bliss_rs_spark.operators.phrase import PhraseServer
    from bliss_rs_spark.operators.trigram import TrigramServer
    from bliss_rs_spark.operators.wand import WandServer

    return {
        "wand": WandServer.from_store(spark, store),
        "phrase": PhraseServer.from_store(spark, store),
        "trigram": TrigramServer.from_store(spark, store, docs),
    }


def _ask(kind, srv, needle):
    return srv.grep(needle) if kind == "trigram" else srv.query(needle, 10)


def test_wand_server_refresh_noop_and_cost_shape(spark, tmp_path):
    """Round-5 refresh cost model, for every warm server (Wand, Phrase,
    Trigram): an unchanged snapshot short-circuits — all units reused and
    ZERO Spark jobs, with tombstones in play (Wand: idf table object
    untouched, no audit) — and after a real delta only the rebuilt unit is
    warmed (Wand: reused audit verdicts are memoized)."""
    from bliss_rs_spark.plans.lifecycle import build_full, update_index
    from bliss_rs_spark.sources.index_store import IndexStore

    cfg = IndexConfig(block_size=16, n_doc_shards=4, n_term_buckets=8,
                      store_positions=True, store_trigrams=True)
    store = IndexStore(str(tmp_path / "idx"))
    docs = with_invariants(synth_documents(spark, 120, seed=5))
    build_full(spark, docs, store, cfg, checkpoint=False)
    live = docs.filter(F.col("doc_id") % 11 != 0)
    update_index(spark, live, store, None, delete_missing=True,
                 repack="segment", auto_maintain=False)
    assert store.has_tombstones(spark)
    servers = _open_warm_servers(spark, store, live)
    try:
        server = servers["wand"]
        ts_obj = server._ts
        ok_before = dict(server._unit_info)
        for kind, srv in servers.items():
            assert srv._dead_bc is not None, kind
            info, jobs = _jobs_started_by(spark, lambda: srv.refresh(store))
            assert info["rebuilt_units"] == [], kind
            assert sorted(info["reused_units"]) == sorted(srv._unit_frames), kind
            assert jobs == [], (kind, jobs)
        assert server._ts is ts_obj  # idf table untouched: no re-persist
        assert server._unit_info == ok_before

        # a no-op trigram refresh still re-points the verify frame
        tri = servers["trigram"]
        evens = live.filter(F.col("doc_id") % 2 == 0)
        info = tri.refresh(store, docs=evens)
        assert info["rebuilt_units"] == []
        got = tri.grep("return")
        assert got and all(d % 2 == 0 for d in got)

        # real delta: decision stays pinned (no vocab re-count path), the
        # reused base keeps its memoized audit verdict
        docs_b = with_invariants(
            live.withColumn(
                "content",
                F.when(F.col("doc_id") % 13 == 0,
                       F.concat(F.col("content"), F.lit("\nzz_n5 zz_n5")))
                .otherwise(F.col("content")),
            ).drop("content_sha256")
        )
        update_index(spark, docs_b, store, None, repack="segment",
                     auto_maintain=False)
        decision = server._driver_idf
        for kind, srv in servers.items():
            kw = {"docs": docs_b} if kind == "trigram" else {}
            info2 = srv.refresh(store, **kw)
            assert info2["reused_units"] and info2["rebuilt_units"], kind
        assert server._driver_idf == decision
        assert server._ts is not ts_obj  # term_stats changed -> rebuilt
        assert server.single_stage
        fresh = _open_warm_servers(spark, store, docs_b)
        try:
            for kind, srv in servers.items():
                got = _ask(kind, srv, "zz_n5 zz_n5")
                assert got, kind  # non-vacuous
                assert got == _ask(kind, fresh[kind], "zz_n5 zz_n5"), kind
        finally:
            for f in fresh.values():
                f.close()
    finally:
        for srv in servers.values():
            srv.close()


def test_gc_respects_live_server_pins(spark, tmp_path):
    """gc() must not expire a snapshot a warm server's reused frames still
    read (round-5 ADVICE medium), for every warm server: after two segment
    updates, gc(keep_last=1) leaves every pinned snapshot on disk (Wand's
    base unit still reads snap0), a forced cache eviction recomputes from
    the still-live paths, and close() releases every pin so a later gc()
    collects snap0."""
    import os

    from bliss_rs_spark.plans.lifecycle import build_full, update_index
    from bliss_rs_spark.sources.index_store import IndexStore

    cfg = IndexConfig(block_size=16, n_doc_shards=4, n_term_buckets=8,
                      store_positions=True, store_trigrams=True)
    store = IndexStore(str(tmp_path / "idx"))
    docs = with_invariants(synth_documents(spark, 120, seed=9))
    build_full(spark, docs, store, cfg, checkpoint=False)
    snap0 = store.current_snapshot()
    servers = _open_warm_servers(spark, store, docs)
    try:
        # two delta updates so snap0 leaves the keep_last=1 window
        for mod in (17, 23):
            delta = with_invariants(
                docs.withColumn(
                    "content",
                    F.when(F.col("doc_id") % mod == 0,
                           F.concat(F.col("content"), F.lit("\nzz_pin")))
                    .otherwise(F.col("content")),
                ).drop("content_sha256")
            )
            update_index(spark, delta, store, None, repack="segment",
                         auto_maintain=False)
            for kind, srv in servers.items():
                srv.refresh(store, **({"docs": delta} if kind == "trigram" else {}))
        server = servers["wand"]
        base_seq = min(server._unit_frames)
        assert server._unit_snaps[base_seq] == snap0  # base still reads snap0
        pinned = store.pinned_snapshots()
        assert snap0 in pinned and store.current_snapshot() in pinned

        removed = store.gc(keep_last=1)
        assert snap0 not in {r for r in removed}
        for snap in pinned:
            assert os.path.isdir(os.path.join(store.path, snap)), snap

        # forced eviction: recompute must re-read each unit's (live) files
        for kind, srv in servers.items():
            needle = "varbyte merge return" if kind == "wand" else "return"
            before = _ask(kind, srv, needle)
            assert before, kind
            for f in srv._unit_frames.values():
                f.unpersist(True)
                f.persist().count()
            assert _ask(kind, srv, needle) == before, kind
    finally:
        for srv in servers.values():
            srv.close()

    # pins released -> collectable
    assert store.pinned_snapshots() == set()
    removed2 = store.gc(keep_last=1)
    assert snap0 in removed2
    assert not os.path.isdir(os.path.join(store.path, snap0))


def test_stale_pin_is_collected(tmp_path):
    """A pin whose owner process died no longer blocks gc (crashed servers
    must not leak retention forever)."""
    import json
    import os

    from bliss_rs_spark.sources.index_store import IndexStore

    store = IndexStore(str(tmp_path / "idx"))
    live = store.pin_snapshot("v00001")
    # forge a dead-owner pin (pid far beyond pid_max allocation here)
    os.makedirs(store.pins_dir, exist_ok=True)
    dead = os.path.join(store.pins_dir, "deadpin.json")
    with open(dead, "w") as f:
        json.dump({"snapshot": "v00002", "pid": 2 ** 22 - 3}, f)
    assert store.pinned_snapshots() == {"v00001"}
    assert not os.path.exists(dead)
    store.release_pin(live)
    assert store.pinned_snapshots() == set()
