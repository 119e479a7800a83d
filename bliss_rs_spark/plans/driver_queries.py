"""Driver-contract query registry: name -> (spark_fn, duckdb_oracle_sql).

Every implemented operator from SURVEY.md §2 gets an entry; the driver runs
the Spark side and the DuckDB SQL side-by-side on /root/testdata/sf0.01 and
compares row-count + schema + order-insensitive value-hash.  Conventions:

- every computed column is aliased identically in both engines
- every float column is round()ed to 6 digits in both engines (a value-hash
  can't tolerate last-ulp drift between two engines' summation orders)
- ties anywhere near a LIMIT boundary are broken on a unique integer key
- entries whose Spark side uses seeded NumPy state (LSH hyperplanes, IVF
  codebooks, model weights) emit those constants into the SQL as literal
  double arrays (repr round-trips float64 exactly) and replay the identical
  arithmetic — every float op on both sides is a sequential float64 fold,
  so even ties at LIMIT boundaries agree bit-for-bit
- dedup gates union the docs with deterministic planted clones in BOTH
  engines so a pass is never a vacuous 0 == 0

The registry doubles as our local pre-flight: tests/test_driver_contract.py
replays the driver's comparison for every pair before the driver ever does.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bliss_rs_spark.config import IndexConfig
from bliss_rs_spark.functions.text_stats import (
    lang_id_exprs_duckdb,
    lang_id_exprs_spark,
    md5_int64_duckdb,
    quality_exprs_duckdb,
    quality_exprs_spark,
    tokenize_sql_duckdb,
)
from bliss_rs_spark.session import ship_package

BM25_QUERY = "spark hash join merge sort"
BM25_K = 20
FILTER_LANG = "de"  # metadata-filter gates (filtered_topk, phrase_filtered)
CFG = IndexConfig()

# DuckDB building blocks reused across oracle strings ------------------------

_TOKS_DD = tokenize_sql_duckdb("text")

_TOKS_CTE = f"""
toks AS (
  SELECT doc_id, unnest({_TOKS_DD}) AS term FROM documents
)"""

_SHINGLES_CTE = f"""
tarr AS (SELECT doc_id, {_TOKS_DD} AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS shingle
  FROM tarr, unnest(generate_series(0, len(t) - 3)) AS g(i)
  WHERE len(t) >= 3
)"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ship_package(spark)
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# Session-scoped memo: several registry queries need the same built index;
# rebuilding it per query would make the driver's gate run O(queries) index
# builds.  Keyed by (session id, sf_dir); holds cached DataFrames.
_IDX_MEMO: dict = {}


def _index(spark: SparkSession, sf_dir: str):
    from bliss_rs_spark.operators.build_index import build_index_frames

    key = (id(spark._jsparkSession) if hasattr(spark, "_jsparkSession") else id(spark), sf_dir)
    if key not in _IDX_MEMO:
        idx = build_index_frames(_docs_adapted(spark, sf_dir), CFG)
        idx.postings = idx.postings.cache()
        idx.term_stats = idx.term_stats.cache()
        _IDX_MEMO[key] = idx
    return _IDX_MEMO[key]


def _docs_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bliss_rs_spark.corpus import documents_from_testdata

    ship_package(spark)
    return documents_from_testdata(spark, sf_dir)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    ship_package(spark)
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _r6(c) -> F.Column:
    return F.round(c, 6)


# --- engine pipeline queries --------------------------------------------------

def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: end-to-end index build + exhaustive BM25 top-k (T1/J1/A7/F2)."""
    from bliss_rs_spark.operators.bm25 import bm25_topk

    idx = _index(spark, sf_dir)
    out = bm25_topk(spark, idx.postings, idx.term_stats, idx.avgdl, BM25_QUERY, BM25_K, CFG)
    return out.select("doc_id", _r6(F.col("score")).alias("score_r"))


_BM25_TERMS_SQL = "(VALUES " + ", ".join(
    f"('{t}')" for t in ["hash", "join", "merge", "sort", "spark"]
) + ")"

ORACLE_BM25 = f"""
WITH {_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*)::double AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT d.doc_id, coalesce(x.dl, 0)::double AS dl
       FROM documents d LEFT JOIN (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1) x
       ON d.doc_id = x.doc_id),
stats AS (SELECT (SELECT count(*) FROM documents)::double AS n,
                 (SELECT count(*) FROM toks)::double / (SELECT count(*) FROM documents) AS avgdl),
df AS (SELECT term, count(*)::double AS df FROM tf GROUP BY 1),
q(term) AS {_BM25_TERMS_SQL},
scored AS (
  SELECT tf.doc_id,
         sum( ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
              * tf.tf * (1.2 + 1.0)
              / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / stats.avgdl)) ) AS score
  FROM tf
  JOIN q USING (term)
  JOIN df USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id, stats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 6) AS score_r
FROM scored ORDER BY score DESC, doc_id ASC LIMIT {BM25_K}
"""


def q_store_churn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full store lifecycle vs the oracle (round 4): build a segment store,
    DELETE every 7th doc via a segment-mode update (tombstones, no block
    rewrite), then answer the flagship query through wand_topk_units — the
    distributed dead-set path.  The oracle recomputes BM25 over the LIVE
    subset with the engine's exact update semantics: df and n over live
    docs, avgdl EPOCH-PINNED at build time (norm stability across
    incremental updates, plans/lifecycle.py)."""
    import tempfile

    from bliss_rs_spark.plans.lifecycle import (
        build_full,
        query_index,
        update_index,
    )
    from bliss_rs_spark.sources.index_store import IndexStore

    docs = _docs_adapted(spark, sf_dir)
    store = IndexStore(tempfile.mkdtemp(prefix="gate_churn_") + "/idx")
    build_full(spark, docs, store, CFG, checkpoint=False)
    update_index(
        spark,
        docs.filter(F.col("doc_id") % 7 != 0),
        store,
        None,
        delete_missing=True,
        repack="segment",
    )
    out = query_index(spark, store, BM25_QUERY, BM25_K)
    return out.select("doc_id", _r6(F.col("score")).alias("score_r"))


ORACLE_STORE_CHURN = f"""
WITH {_TOKS_CTE},
live AS (SELECT doc_id FROM documents WHERE doc_id % 7 <> 0),
ltoks AS (SELECT t.doc_id, t.term FROM toks t JOIN live USING (doc_id)),
tf AS (SELECT doc_id, term, count(*)::double AS tf FROM ltoks GROUP BY 1, 2),
dl AS (SELECT l.doc_id, coalesce(x.dl, 0)::double AS dl
       FROM live l LEFT JOIN (SELECT doc_id, count(*) AS dl FROM ltoks GROUP BY 1) x
       ON l.doc_id = x.doc_id),
stats AS (SELECT (SELECT count(*) FROM live)::double AS n,
                 -- avgdl is EPOCH-PINNED: the build-time value over ALL docs
                 (SELECT count(*) FROM toks)::double / (SELECT count(*) FROM documents) AS avgdl),
df AS (SELECT term, count(*)::double AS df FROM tf GROUP BY 1),
q(term) AS {_BM25_TERMS_SQL},
scored AS (
  SELECT tf.doc_id,
         sum( ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
              * tf.tf * ({CFG.k1} + 1.0)
              / (tf.tf + {CFG.k1} * (1.0 - {CFG.b} + {CFG.b} * dl.dl / stats.avgdl)) ) AS score
  FROM tf
  JOIN q USING (term)
  JOIN df USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id, stats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 6) AS score_r
FROM scored ORDER BY score DESC, doc_id ASC LIMIT {BM25_K}
"""


_CLONE_OFF = 10_000_000


def q_store_compact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction certified end-to-end by the oracle (round-5 verdict #5):
    build a segment store, ADD planted clone docs via a segment update,
    DELETE every 11th doc via a delete-only update (tombstones), then let
    maintain()'s unit-fanout rung fold everything through compact_packs —
    and answer the flagship query through the compacted single-unit base.
    The gate RAISES if compaction does not actually run, so a pass proves
    compact_packs preserved the exact BM25 semantics: df and n over live
    docs, avgdl EPOCH-PINNED at the original build."""
    import tempfile

    from bliss_rs_spark.plans.lifecycle import (
        build_full,
        maintain,
        query_index,
        update_index,
    )
    from bliss_rs_spark.sources.index_store import IndexStore

    docs = _docs_adapted(spark, sf_dir)
    clones = docs.filter(F.col("doc_id") % 7 == 3).withColumn(
        "doc_id", F.col("doc_id") + F.lit(_CLONE_OFF)
    )
    all2 = docs.unionByName(clones)
    store = IndexStore(tempfile.mkdtemp(prefix="gate_compact_") + "/idx")
    build_full(spark, docs, store, CFG, checkpoint=False)
    update_index(
        spark, all2, store, None,
        delete_missing=False, repack="segment", auto_maintain=False,
    )
    update_index(
        spark,
        all2.filter(F.col("doc_id") % 11 != 0),
        store, None,
        delete_missing=True, repack="segment", auto_maintain=False,
    )
    actions = maintain(
        spark, store, max_units=1, max_tombstone_ratio=0, max_tombstones=0
    )
    if actions != ["compact_packs"]:
        raise RuntimeError(f"compact_packs did not trigger: {actions}")
    if len(store.packed_units(spark)) != 1:
        raise RuntimeError("store not folded to a single packed unit")
    out = query_index(spark, store, BM25_QUERY, BM25_K)
    return out.select("doc_id", _r6(F.col("score")).alias("score_r"))


ORACLE_STORE_COMPACT = f"""
WITH docs2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_CLONE_OFF} AS doc_id, text FROM documents
  WHERE doc_id % 7 = 3
),
toks AS (SELECT doc_id, unnest({_TOKS_DD}) AS term FROM docs2),
live AS (SELECT doc_id FROM docs2 WHERE doc_id % 11 <> 0),
ltoks AS (SELECT t.doc_id, t.term FROM toks t JOIN live USING (doc_id)),
tf AS (SELECT doc_id, term, count(*)::double AS tf FROM ltoks GROUP BY 1, 2),
dl AS (SELECT l.doc_id, coalesce(x.dl, 0)::double AS dl
       FROM live l LEFT JOIN (SELECT doc_id, count(*) AS dl FROM ltoks GROUP BY 1) x
       ON l.doc_id = x.doc_id),
stats AS (SELECT (SELECT count(*) FROM live)::double AS n,
                 -- avgdl is EPOCH-PINNED at the ORIGINAL build (base docs only)
                 (SELECT count(*) FROM toks WHERE doc_id < {_CLONE_OFF})::double
                   / (SELECT count(*) FROM documents) AS avgdl),
df AS (SELECT term, count(*)::double AS df FROM tf GROUP BY 1),
q(term) AS {_BM25_TERMS_SQL},
scored AS (
  SELECT tf.doc_id,
         sum( ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
              * tf.tf * ({CFG.k1} + 1.0)
              / (tf.tf + {CFG.k1} * (1.0 - {CFG.b} + {CFG.b} * dl.dl / stats.avgdl)) ) AS score
  FROM tf
  JOIN q USING (term)
  JOIN df USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id, stats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 6) AS score_r
FROM scored ORDER BY score DESC, doc_id ASC LIMIT {BM25_K}
"""


def q_store_rebuild_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OTHER compaction rung through the oracle: heavy churn (delete
    every 6th doc, ~17% tombstones) trips maintain()'s tombstone rung,
    which rebuilds the store FROM THE TOKENIZE CHECKPOINT via compact_full
    — folding segments, clearing tombstones and RE-PINNING avgdl to the
    live corpus.  The oracle therefore computes df, n AND avgdl over the
    live subset (contrast ORACLE_STORE_CHURN / ORACLE_STORE_COMPACT, where
    avgdl stays epoch-pinned).  Raises if the rebuild does not run."""
    import tempfile

    from bliss_rs_spark.plans.lifecycle import (
        build_full,
        maintain,
        query_index,
        update_index,
    )
    from bliss_rs_spark.sources.index_store import IndexStore

    docs = _docs_adapted(spark, sf_dir)
    store = IndexStore(tempfile.mkdtemp(prefix="gate_rebuild_") + "/idx")
    build_full(spark, docs, store, CFG, checkpoint=True)
    update_index(
        spark,
        docs.filter(F.col("doc_id") % 6 != 0),
        store, None,
        delete_missing=True, repack="segment", auto_maintain=False,
    )
    actions = maintain(
        spark, store, max_units=0, max_tombstone_ratio=0.1, max_tombstones=0
    )
    if actions != ["compact_full"]:
        raise RuntimeError(f"compact_full did not trigger: {actions}")
    if store.load(spark, "tombstones").count() != 0:
        raise RuntimeError("full compaction left tombstones behind")
    out = query_index(spark, store, BM25_QUERY, BM25_K)
    return out.select("doc_id", _r6(F.col("score")).alias("score_r"))


ORACLE_STORE_REBUILD = f"""
WITH live AS (SELECT doc_id, text FROM documents WHERE doc_id % 6 <> 0),
toks AS (SELECT doc_id, unnest({_TOKS_DD}) AS term FROM live),
tf AS (SELECT doc_id, term, count(*)::double AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT l.doc_id, coalesce(x.dl, 0)::double AS dl
       FROM live l LEFT JOIN (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1) x
       ON l.doc_id = x.doc_id),
stats AS (SELECT (SELECT count(*) FROM live)::double AS n,
                 -- avgdl RE-PINNED by the rebuild: live tokens / live docs
                 (SELECT count(*) FROM toks)::double / (SELECT count(*) FROM live) AS avgdl),
df AS (SELECT term, count(*)::double AS df FROM tf GROUP BY 1),
q(term) AS {_BM25_TERMS_SQL},
scored AS (
  SELECT tf.doc_id,
         sum( ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
              * tf.tf * ({CFG.k1} + 1.0)
              / (tf.tf + {CFG.k1} * (1.0 - {CFG.b} + {CFG.b} * dl.dl / stats.avgdl)) ) AS score
  FROM tf
  JOIN q USING (term)
  JOIN df USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id, stats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 6) AS score_r
FROM scored ORDER BY score DESC, doc_id ASC LIMIT {BM25_K}
"""


def q_term_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full term->df table (A4/A7: the df aggregation of the index build)."""
    idx = _index(spark, sf_dir)
    return idx.term_stats.select("term", "df", _r6(F.col("idf")).alias("idf_r"))


ORACLE_TERM_DF = f"""
WITH {_TOKS_CTE},
tf AS (SELECT doc_id, term FROM toks GROUP BY doc_id, term),
n AS (SELECT count(*)::double AS n FROM documents)
SELECT term, count(*) AS df,
       round(ln((n.n - count(*) + 0.5) / (count(*) + 0.5) + 1.0), 6) AS idf_r
FROM tf, n GROUP BY term, n.n
"""


def q_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token counts from the tokenizer UDF (F5/A4)."""
    from bliss_rs_spark.operators.build_index import build_doc_stats, tokenize_documents

    tok = tokenize_documents(_docs_adapted(spark, sf_dir), CFG)
    return build_doc_stats(tok).select("doc_id", F.col("dl").cast("long").alias("dl"))


ORACLE_DOC_LENGTHS = f"""
WITH {_TOKS_CTE}
SELECT d.doc_id, coalesce(x.dl, 0)::bigint AS dl
FROM documents d
LEFT JOIN (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1) x ON d.doc_id = x.doc_id
"""


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global index stats: N, vocabulary, postings count, avgdl (A1/U4)."""
    idx = _index(spark, sf_dir)
    n_postings = idx.postings.count()
    vocab = idx.term_stats.count()
    return spark.createDataFrame(
        [(idx.n_docs, vocab, n_postings, round(idx.avgdl, 6))],
        "n_docs long, vocab long, n_postings long, avgdl_r double",
    )


ORACLE_CORPUS_STATS = f"""
WITH {_TOKS_CTE},
tf AS (SELECT doc_id, term FROM toks GROUP BY doc_id, term)
SELECT (SELECT count(*) FROM documents)::bigint AS n_docs,
       (SELECT count(DISTINCT term) FROM toks)::bigint AS vocab,
       (SELECT count(*) FROM tf)::bigint AS n_postings,
       round((SELECT count(*) FROM toks)::double / (SELECT count(*) FROM documents), 6) AS avgdl_r
"""


def q_hot_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew histogram: terms in >=30% of docs — the salting candidates (A8)."""
    idx = _index(spark, sf_dir)
    thr = 0.3 * idx.n_docs
    return idx.term_stats.filter(F.col("df") >= thr).select("term", "df")


ORACLE_HOT_TERMS = f"""
WITH {_TOKS_CTE},
tf AS (SELECT doc_id, term FROM toks GROUP BY doc_id, term)
SELECT term, count(*) AS df FROM tf
GROUP BY term HAVING count(*) >= 0.3 * (SELECT count(*) FROM documents)
"""


def q_incremental_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE incremental-build anti-join (J3/U2): docs not yet in the manifest."""
    docs = _docs(spark, sf_dir)
    indexed = docs.filter(F.col("doc_id") % 10 < 8).select("doc_id")
    return docs.join(indexed, "doc_id", "left_anti").select(
        "doc_id", F.sha2(F.col("text"), 256).alias("content_sha256")
    )


ORACLE_INCREMENTAL_DELTA = """
SELECT doc_id, sha256(text) AS content_sha256
FROM documents d
WHERE NOT EXISTS (
  SELECT 1 FROM documents i WHERE i.doc_id % 10 < 8 AND i.doc_id = d.doc_id
)
"""


# --- dedup --------------------------------------------------------------------
#
# The dedup gates union the testdata docs with DETERMINISTIC planted clones
# (same injection replayed in the oracle SQL) so a pass is never the vacuous
# 0 == 0: the sf0.01 corpus happens to contain no natural duplicates, and a
# gate that can't return rows can't catch a regression.

_CLONE_MOD = 25          # every 25th doc gets an exact clone
_CLONE_ID_OFFSET = 1_000_000


def _docs_with_exact_clones(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_adapted(spark, sf_dir)
    clones = docs.filter(F.col("doc_id") % _CLONE_MOD == 0).withColumn(
        "doc_id", F.col("doc_id") + _CLONE_ID_OFFSET
    )
    return docs.unionByName(clones)


def q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: sha256 hash-groupBy (P7 exact tier) over docs + planted
    exact clones (non-vacuous gate)."""
    from bliss_rs_spark.operators.dedup import exact_dup_groups

    return exact_dup_groups(_docs_with_exact_clones(spark, sf_dir)).select(
        "content_sha256", "n_docs", "keep_doc_id"
    )


ORACLE_EXACT_DUP = f"""
WITH alldocs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_CLONE_ID_OFFSET} AS doc_id, text
  FROM documents WHERE doc_id % {_CLONE_MOD} = 0
)
SELECT sha256(text) AS content_sha256, count(*) AS n_docs, min(doc_id) AS keep_doc_id
FROM alldocs GROUP BY 1 HAVING count(*) > 1
"""


def q_dedup_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup, keep-one semantics: the surviving doc set after dropping
    all but the min-doc_id representative of each content_sha256 group."""
    from bliss_rs_spark.operators.dedup import dedup_exact

    return dedup_exact(_docs_adapted(spark, sf_dir)).select("doc_id", "content_sha256")


ORACLE_DEDUP_KEEP_ONE = """
WITH hashed AS (SELECT doc_id, sha256(text) AS content_sha256 FROM documents),
keep AS (SELECT content_sha256, min(doc_id) AS doc_id FROM hashed GROUP BY 1)
SELECT h.doc_id, h.content_sha256
FROM hashed h JOIN keep k ON k.content_sha256 = h.content_sha256 AND k.doc_id = h.doc_id
"""


def q_fingerprint_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-token-stream fingerprint groups (whitespace-insensitive
    dedup) over docs + planted whitespace-perturbed clones: the clones have a
    DIFFERENT sha256 but the SAME fingerprint — exactly the tier this
    operator exists to catch (non-vacuous gate)."""
    from bliss_rs_spark.operators.dedup import with_fingerprint

    docs = _docs_adapted(spark, sf_dir).select("doc_id", "content")
    clones = docs.filter(F.col("doc_id") % _CLONE_MOD == 0).select(
        (F.col("doc_id") + _CLONE_ID_OFFSET).alias("doc_id"),
        F.concat(F.col("content"), F.lit("\n\n  \t")).alias("content"),
    )
    return (
        with_fingerprint(docs.unionByName(clones))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


ORACLE_FINGERPRINT = f"""
WITH alldocs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_CLONE_ID_OFFSET} AS doc_id, text || e'\\n\\n  \\t' AS text
  FROM documents WHERE doc_id % {_CLONE_MOD} = 0
)
SELECT md5(array_to_string({_TOKS_DD}, ' ')) AS fingerprint,
       count(*) AS n_docs, min(doc_id) AS keep_doc_id
FROM alldocs GROUP BY 1 HAVING count(*) > 1
"""


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (8 perms) over word-3-gram shingles."""
    from bliss_rs_spark.operators.dedup import minhash_signatures

    return minhash_signatures(_docs_adapted(spark, sf_dir), n_hashes=8).select(
        "doc_id", F.col("perm").cast("int").alias("perm"), "minhash"
    )


def _minhash_sig_sql() -> str:
    from bliss_rs_spark.operators.dedup import _minhash_exprs_duckdb

    mins = ", ".join(
        f"min({e}) AS m{p}" for p, e in enumerate(_minhash_exprs_duckdb(8))
    )
    unpivot = " UNION ALL ".join(
        f"SELECT doc_id, {p}::int AS perm, m{p} AS minhash FROM wide" for p in range(8)
    )
    return f"""
WITH {_SHINGLES_CTE},
wide AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id)
{unpivot}
"""


ORACLE_MINHASH_SIG = _minhash_sig_sql()


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs: band -> bucket join -> exact Jaccard verify."""
    from bliss_rs_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _docs_adapted(spark, sf_dir), n_hashes=8, bands=4, jaccard_threshold=0.05
    ).select("doc_a", "doc_b", _r6(F.col("jaccard")).alias("jaccard_r"))


def _minhash_lsh_prefix() -> str:
    from bliss_rs_spark.operators.dedup import _minhash_exprs_duckdb

    mins = ", ".join(
        f"min({e}) AS m{p}" for p, e in enumerate(_minhash_exprs_duckdb(8))
    )
    unpivot = " UNION ALL ".join(
        f"SELECT doc_id, {p} AS perm, m{p} AS minhash FROM wide" for p in range(8)
    )
    return f"""
WITH {_SHINGLES_CTE},
wide AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
sig AS ({unpivot}),
"""


ORACLE_MINHASH_LSH = _minhash_lsh_prefix() + f"""
bands AS (
  SELECT doc_id, (perm // 2) AS band,
         string_agg(minhash::varchar, '_' ORDER BY minhash) AS bkey
  FROM sig GROUP BY doc_id, (perm // 2)
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey
  WHERE x.doc_id < y.doc_id
),
hsh AS (SELECT DISTINCT doc_id, {md5_int64_duckdb("shingle")} AS h FROM sh),
sizes AS (SELECT doc_id, count(*) AS n FROM hsh GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS c
  FROM cand c
  JOIN hsh a ON a.doc_id = c.doc_a
  JOIN hsh b ON b.doc_id = c.doc_b AND b.h = a.h
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       round(i.c::double / (sa.n + sb.n - i.c), 6) AS jaccard_r
FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE i.c::double / (sa.n + sb.n - i.c) >= 0.05
"""


def q_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH near-dup pair graph — the
    cluster-formation step between pair emission and keep-one (near-dup is
    not transitive).  Spark: hash-to-min label propagation; oracle: DuckDB
    recursive-CTE transitive closure over the SAME pairs query."""
    from bliss_rs_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )

    pairs = minhash_lsh_pairs(
        _docs_adapted(spark, sf_dir), n_hashes=8, bands=4, jaccard_threshold=0.05
    )
    return connected_components(pairs)


ORACLE_NEARDUP_COMPONENTS = f"""
WITH RECURSIVE pairs AS (
{ORACLE_MINHASH_LSH}
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
)
SELECT u AS doc_id, least(u, min(v)) AS component
FROM reach
GROUP BY u
"""


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (the LSH recall oracle)."""
    from bliss_rs_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs_adapted(spark, sf_dir), jaccard_threshold=0.05).select(
        "doc_a", "doc_b", _r6(F.col("jaccard")).alias("jaccard_r")
    )


ORACLE_NGRAM_JACCARD = f"""
WITH {_SHINGLES_CTE},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       round(i.c::double / (sa.n + sb.n - i.c), 6) AS jaccard_r
FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE i.c::double / (sa.n + sb.n - i.c) >= 0.05
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprints of the tf-weighted token stream."""
    from bliss_rs_spark.operators.dedup import simhash64

    return simhash64(_docs_adapted(spark, sf_dir)).select("doc_id", "simhash")


ORACLE_SIMHASH = f"""
WITH {_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
h AS (SELECT doc_id, tf, {md5_int64_duckdb("term")} AS h FROM tf),
bits AS (
  SELECT doc_id, bit, sum(CASE WHEN (h >> bit) & 1 = 1 THEN tf ELSE -tf END) AS s
  FROM h, unnest(generate_series(0, 63)) AS b(bit)
  GROUP BY 1, 2
)
SELECT doc_id,
       sum(CASE WHEN s > 0 THEN (1::bigint << bit) ELSE 0::bigint END)::bigint AS simhash
FROM bits GROUP BY 1
"""


# --- similarity search ---------------------------------------------------------

def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming<=3 near-dup pairs via 16-bit band pigeonhole join."""
    from bliss_rs_spark.operators.dedup import simhash_neardup_pairs

    return simhash_neardup_pairs(_docs_adapted(spark, sf_dir), max_hamming=3)


ORACLE_SIMHASH_NEARDUP = f"""
WITH {_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
h AS (SELECT doc_id, tf, {md5_int64_duckdb("term")} AS h FROM tf),
bits AS (
  SELECT doc_id, bit, sum(CASE WHEN (h >> bit) & 1 = 1 THEN tf ELSE -tf END) AS s
  FROM h, unnest(generate_series(0, 63)) AS b(bit)
  GROUP BY 1, 2
),
sims AS (
  SELECT doc_id,
         sum(CASE WHEN s > 0 THEN (1::bigint << bit) ELSE 0::bigint END)::bigint AS simhash
  FROM bits GROUP BY 1
),
bands AS (
  SELECT doc_id, simhash, band, (simhash >> (16 * band)) & 65535 AS bkey
  FROM sims, unnest(generate_series(0, 3)) AS b(band)
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         x.simhash AS ha, y.simhash AS hb
  FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey
  WHERE x.doc_id < y.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(ha, hb))::int AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= 3
"""


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 neighbors of vec_id=0 (exact ANN baseline)."""
    from bliss_rs_spark.operators.similarity import cosine_topk_by_id

    return cosine_topk_by_id(_emb(spark, sf_dir), query_id=0, k=10).select(
        "vec_id", _r6(F.col("cosine")).alias("cosine_r")
    )


ORACLE_COSINE_TOPK = """
WITH q AS (SELECT embedding::double[] AS qe FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id,
       round(
         list_dot_product(e.embedding::double[], q.qe)
         / (sqrt(list_dot_product(e.embedding::double[], e.embedding::double[]))
            * sqrt(list_dot_product(q.qe, q.qe))), 6) AS cosine_r
FROM embeddings e, q
WHERE e.vec_id <> 0
ORDER BY list_dot_product(e.embedding::double[], q.qe)
         / (sqrt(list_dot_product(e.embedding::double[], e.embedding::double[]))
            * sqrt(list_dot_product(q.qe, q.qe))) DESC, e.vec_id ASC
LIMIT 10
"""


def _dlist(arr) -> str:
    """NumPy float64 vector -> DuckDB double-array literal.  repr() round-trips
    float64 exactly, so the SQL literal is the same bit pattern Spark gets
    from F.lit(float(v))."""
    return "[" + ", ".join(repr(float(x)) for x in arr) + "]::double[]"


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN top-k over the seeded random codebook.  The oracle
    replays the identical arithmetic: the 16 normalized centroids are emitted
    as literal double arrays, assignment is argmax cosine (ties -> lowest
    cell), probe cells are the top-4 by dot(centroid, query), and the final
    cosine top-k runs over the probed cells only.  Every float op is a
    sequential float64 fold in both engines, so results are bit-identical."""
    from bliss_rs_spark.operators.similarity import ivf_topk

    emb = _emb(spark, sf_dir)
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").collect()
    vec = [float(x) for x in qrow[0][0]]
    return ivf_topk(emb.filter(F.col("vec_id") != 0), vec, k=10).select(
        "vec_id", _r6(F.col("cosine")).alias("cosine_r")
    )


def _oracle_ann_ivf() -> str:
    from bliss_rs_spark.operators.similarity import ivf_random_codebook

    cents = ivf_random_codebook(16, 11, 64)
    values = ",\n    ".join(f"({i}, {_dlist(cents[i])})" for i in range(len(cents)))
    return f"""
WITH cents(cell, c) AS (VALUES
    {values}),
q AS (SELECT embedding::double[] AS qe FROM embeddings WHERE vec_id = 0),
probe AS (
  SELECT cell FROM cents, q
  ORDER BY list_dot_product(c, qe) DESC, cell ASC LIMIT 4
),
scored AS (
  SELECT e.vec_id, e.embedding::double[] AS v, c.cell,
         list_dot_product(e.embedding::double[], c.c)
         / greatest(sqrt(list_dot_product(e.embedding::double[], e.embedding::double[])), 1e-12) AS cos
  FROM embeddings e CROSS JOIN cents c
  WHERE e.vec_id <> 0
),
assign AS (
  SELECT vec_id, v FROM (
    SELECT vec_id, v, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell ASC) AS rn
    FROM scored
  ) WHERE rn = 1 AND cell IN (SELECT cell FROM probe)
)
SELECT vec_id,
       round(list_dot_product(a.v, q.qe)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(q.qe, q.qe))), 6)
       AS cosine_r
FROM assign a, q
ORDER BY list_dot_product(a.v, q.qe)
         / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(q.qe, q.qe))) DESC,
         vec_id ASC
LIMIT 10
"""


def _ann_batch_queries() -> list[tuple[int, list[float]]]:
    """Three seeded, normalized synthetic query vectors — emitted as literal
    double arrays into the oracle, like the LSH planes and IVF codebook."""
    import numpy as np

    rng = np.random.default_rng(23)
    qs = rng.standard_normal((3, 64))
    qs /= np.linalg.norm(qs, axis=1, keepdims=True)
    return [(i + 1, [float(x) for x in qs[i]]) for i in range(3)]


def q_ann_ivf_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch IVF ANN: three query vectors answered in ONE job (assign once,
    broadcast probes + query vectors, per-query rank window)."""
    from bliss_rs_spark.operators.similarity import ivf_topk_batch

    return ivf_topk_batch(_emb(spark, sf_dir), _ann_batch_queries(), k=10).select(
        "query_id", "rank", "vec_id", _r6(F.col("cosine")).alias("cosine_r")
    )


def _oracle_ann_ivf_batch() -> str:
    from bliss_rs_spark.operators.similarity import ivf_random_codebook

    cents = ivf_random_codebook(16, 11, 64)
    cvals = ",\n    ".join(f"({i}, {_dlist(cents[i])})" for i in range(len(cents)))
    qvals = ",\n    ".join(
        f"({qid}, {_dlist(qv)})" for qid, qv in _ann_batch_queries()
    )
    return f"""
WITH cents(cell, c) AS (VALUES
    {cvals}),
q(query_id, qe) AS (VALUES
    {qvals}),
probe AS (
  SELECT query_id, cell FROM (
    SELECT q.query_id, cents.cell,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY list_dot_product(cents.c, q.qe) DESC,
                                       cents.cell ASC) AS rn
    FROM cents CROSS JOIN q) WHERE rn <= 4
),
scored AS (
  SELECT e.vec_id, e.embedding::double[] AS v, c.cell,
         list_dot_product(e.embedding::double[], c.c)
         / greatest(sqrt(list_dot_product(e.embedding::double[], e.embedding::double[])), 1e-12) AS cos
  FROM embeddings e CROSS JOIN cents c
),
assign AS (
  SELECT vec_id, v, cell FROM (
    SELECT vec_id, v, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell ASC) AS rn
    FROM scored
  ) WHERE rn = 1
),
cand AS (
  SELECT p.query_id, a.vec_id, a.v, q.qe
  FROM probe p JOIN assign a ON a.cell = p.cell JOIN q ON q.query_id = p.query_id
),
ranked AS (
  SELECT query_id, vec_id,
         list_dot_product(v, qe)
         / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qe, qe))) AS cosine,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY list_dot_product(v, qe)
                    / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qe, qe))) DESC,
                    vec_id ASC) AS rank
  FROM cand
)
SELECT query_id, rank::int AS rank, vec_id, round(cosine, 6) AS cosine_r
FROM ranked WHERE rank <= 10
"""


_EMB_CLONE_MOD = 50


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded hyperplane-LSH embedding near-dup pairs over the testdata
    vectors + planted identical clones (vec_id % 50 -> vec_id + 1e6), so the
    gate is non-vacuous: each clone pair shares every band bucket and scores
    cosine 1.0 exactly.  The oracle replays the seeded planes as literal
    double arrays and the same 4-band x 3-plane bucketing."""
    from bliss_rs_spark.operators.similarity import embedding_neardup_pairs

    emb = _emb(spark, sf_dir)
    clones = emb.filter(F.col("vec_id") % _EMB_CLONE_MOD == 0).withColumn(
        "vec_id", F.col("vec_id") + _CLONE_ID_OFFSET
    )
    return embedding_neardup_pairs(
        emb.unionByName(clones), cosine_threshold=0.9, n_planes=12, bands=4
    ).select("id_a", "id_b", _r6(F.col("cosine")).alias("cosine_r"))


def _oracle_embedding_neardup() -> str:
    from bliss_rs_spark.operators.similarity import hyperplanes

    planes = hyperplanes(12, 7, 64)
    bits = ",\n         ".join(
        f"(CASE WHEN list_dot_product(v, {_dlist(planes[i])}) >= 0 "
        f"THEN '1' ELSE '0' END) AS b{i}"
        for i in range(12)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT vec_id, {bi} AS band, b{3*bi} || b{3*bi+1} || b{3*bi+2} AS bkey FROM sig"
        for bi in range(4)
    )
    return f"""
WITH allv AS (
  SELECT vec_id, embedding::double[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + {_CLONE_ID_OFFSET} AS vec_id, embedding::double[] AS v
  FROM embeddings WHERE vec_id % {_EMB_CLONE_MOD} = 0
),
sig AS (
  SELECT vec_id, v,
         {bits}
  FROM allv
),
bands AS ({band_selects}),
cand AS (
  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
  FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey
  WHERE x.vec_id < y.vec_id
),
pairs AS (
  SELECT c.id_a, c.id_b,
         list_dot_product(a.v, b.v)
         / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cosine
  FROM cand c
  JOIN allv a ON a.vec_id = c.id_a
  JOIN allv b ON b.vec_id = c.id_b
)
SELECT id_a, id_b, round(cosine, 6) AS cosine_r
FROM pairs WHERE cosine >= 0.9
"""


def q_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band LSH bucket-size metrics (round-3): bucket count, max bucket,
    and the exact pre-dedup candidate-pair count sum(c*(c-1)/2) — the
    blowup early-warning the scale path checks BEFORE running the bucket
    join.  Same planted clones as embedding_neardup (buckets of >= 2
    guaranteed), same seeded planes replayed literally in the oracle."""
    from bliss_rs_spark.operators.similarity import _banded_keys

    emb = _emb(spark, sf_dir)
    clones = emb.filter(F.col("vec_id") % _EMB_CLONE_MOD == 0).withColumn(
        "vec_id", F.col("vec_id") + _CLONE_ID_OFFSET
    )
    banded = _banded_keys(
        emb.unionByName(clones), 12, 4, 7, 64, "embedding", "vec_id"
    )
    per_bucket = banded.groupBy("band", "bkey").agg(F.count(F.lit(1)).alias("c"))
    return (
        per_bucket.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("c").alias("max_bucket"),
            F.sum(F.expr("c * (c - 1) DIV 2")).alias("candidate_pairs"),
        )
        .orderBy("band")
    )


def _oracle_lsh_bucket_stats() -> str:
    from bliss_rs_spark.operators.similarity import hyperplanes

    planes = hyperplanes(12, 7, 64)
    bits = ",\n         ".join(
        f"(CASE WHEN list_dot_product(v, {_dlist(planes[i])}) >= 0 "
        f"THEN '1' ELSE '0' END) AS b{i}"
        for i in range(12)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT vec_id, {bi} AS band, b{3*bi} || b{3*bi+1} || b{3*bi+2} AS bkey FROM sig"
        for bi in range(4)
    )
    return f"""
WITH allv AS (
  SELECT vec_id, embedding::double[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + {_CLONE_ID_OFFSET} AS vec_id, embedding::double[] AS v
  FROM embeddings WHERE vec_id % {_EMB_CLONE_MOD} = 0
),
sig AS (
  SELECT vec_id, v,
         {bits}
  FROM allv
),
bands AS ({band_selects}),
per_bucket AS (
  SELECT band, bkey, count(*) AS c FROM bands GROUP BY band, bkey
)
SELECT band,
       count(*) AS n_buckets,
       max(c) AS max_bucket,
       (SUM(c * (c - 1) // 2))::bigint AS candidate_pairs
FROM per_bucket
GROUP BY band
ORDER BY band
"""


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count budgeting signals per doc: whitespace tokens, analyzer
    (code-aware) tokens, and BPE-pre-tokenizer pieces — the three counts a
    training-data pipeline budgets with.  All JVM regex expressions,
    mirrored in DuckDB."""
    from bliss_rs_spark.functions.text_stats import (
        bpe_token_count_spark,
        quality_exprs_spark,
    )

    # every 10th doc gets a camelCase/digits/punctuation suffix so the three
    # counts genuinely DIVERGE (the raw testdata text is plain lowercase
    # words, on which all three tokenizations coincide — a vacuous gate)
    docs = _docs_adapted(spark, sf_dir).withColumn(
        "content",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(F.col("content"), F.lit(" FooBar42, it's x99!")),
        ).otherwise(F.col("content")),
    )
    ws = (
        "size(filter(split(content, '[ \\t\\n\\r]+'), x -> x <> ''))"
    )
    return docs.select(
        "doc_id",
        F.expr(ws).cast("long").alias("n_ws_tokens"),
        F.expr(quality_exprs_spark("content")["n_tokens"]).cast("long").alias("n_code_tokens"),
        F.expr(bpe_token_count_spark("content")).cast("long").alias("n_bpe_tokens"),
    )


def _oracle_token_counts() -> str:
    from bliss_rs_spark.functions.text_stats import (
        bpe_token_count_duckdb,
        quality_exprs_duckdb,
    )

    ws = "len(list_filter(string_split_regex(text, '[ \\t\\n\\r]+'), x -> x <> ''))"
    return f"""
WITH docs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0
              THEN text || ' FooBar42, it''s x99!'
              ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       {ws}::bigint AS n_ws_tokens,
       {quality_exprs_duckdb('text')['n_tokens']}::bigint AS n_code_tokens,
       {bpe_token_count_duckdb('text')}::bigint AS n_bpe_tokens
FROM docs
"""


def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pass: quality thresholds + exact keep-one over
    the docs WITH planted clones (so the dedup arm is non-vacuous — clones
    pass the quality gate identically and exactly one survives)."""
    from bliss_rs_spark.operators.curation import curate_corpus

    return curate_corpus(
        _docs_with_exact_clones(spark, sf_dir),
        min_tokens=30,
        max_stopword_ratio=0.15,
        min_alnum_ratio=0.80,
    ).select(
        "doc_id",
        "n_tokens",
        _r6(F.col("stopword_ratio")).alias("stopword_ratio_r"),
        _r6(F.col("alnum_ratio")).alias("alnum_ratio_r"),
    )


def _oracle_curate_corpus() -> str:
    e = quality_exprs_duckdb("text")
    return f"""
WITH allv AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_CLONE_ID_OFFSET} AS doc_id, text
  FROM documents WHERE doc_id % {_CLONE_MOD} = 0
),
sig AS (
  SELECT doc_id, sha256(text) AS sha,
         {e['n_tokens']}::bigint AS n_tokens,
         {e['stopword_ratio']} AS stopword_ratio,
         {e['alnum_ratio']} AS alnum_ratio
  FROM allv
),
filtered AS (
  SELECT * FROM sig
  WHERE n_tokens >= 30 AND stopword_ratio <= 0.15 AND alnum_ratio >= 0.80
),
keep AS (SELECT sha, min(doc_id) AS doc_id FROM filtered GROUP BY sha)
SELECT f.doc_id, f.n_tokens,
       round(f.stopword_ratio, 6) AS stopword_ratio_r,
       round(f.alnum_ratio, 6) AS alnum_ratio_r
FROM filtered f JOIN keep k ON k.sha = f.sha AND k.doc_id = f.doc_id
"""


# --- text analysis --------------------------------------------------------------

def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality signals, all JVM-side expressions."""
    docs = _docs(spark, sf_dir)
    exprs = quality_exprs_spark("text")
    return docs.select(
        "doc_id",
        F.expr(exprs["n_tokens"]).cast("long").alias("n_tokens"),
        F.expr(exprs["n_distinct_tokens"]).cast("long").alias("n_distinct_tokens"),
        _r6(F.expr(exprs["stopword_ratio"])).alias("stopword_ratio_r"),
        _r6(F.expr(exprs["mean_token_len"])).alias("mean_token_len_r"),
        _r6(F.expr(exprs["alnum_ratio"])).alias("alnum_ratio_r"),
    )


def _oracle_quality() -> str:
    e = quality_exprs_duckdb("text")
    return f"""
SELECT doc_id,
       {e['n_tokens']}::bigint AS n_tokens,
       {e['n_distinct_tokens']}::bigint AS n_distinct_tokens,
       round({e['stopword_ratio']}, 6) AS stopword_ratio_r,
       round({e['mean_token_len']}, 6) AS mean_token_len_r,
       round({e['alnum_ratio']}, 6) AS alnum_ratio_r
FROM documents
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID (heuristic, deterministic)."""
    docs = _docs(spark, sf_dir)
    score_cols, pick = lang_id_exprs_spark("text")
    scored = docs.selectExpr("doc_id", "lang", *score_cols)
    return scored.select(
        "doc_id", F.col("lang").alias("lang_declared"), F.expr(pick).alias("lang_pred")
    )


def _oracle_lang_id() -> str:
    score_cols, pick = lang_id_exprs_duckdb("text")
    inner = ", ".join(score_cols)
    return f"""
SELECT doc_id, lang_declared, {pick} AS lang_pred
FROM (SELECT doc_id, lang AS lang_declared, {inner} FROM documents)
"""


# --- classic relational coverage (window / union / percentile / geomean etc.) ---

def q_topk_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 longest docs per language (W2: rank window within groups)."""
    from pyspark.sql import Window as W

    docs = _docs(spark, sf_dir)
    w = W.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        docs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("lang", "rank", "doc_id", "n_chars")
    )


ORACLE_TOPK_PER_LANG = """
SELECT lang, rank::int AS rank, doc_id, n_chars FROM (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rank
  FROM documents
) WHERE rank <= 3
"""


def q_adjacent_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-row lag within ranked order (W1: the dedup-iterator idiom,
    /root/reference/src/playlist.rs:372-397)."""
    from pyspark.sql import Window as W

    docs = _docs(spark, sf_dir)
    w = W.partitionBy("lang").orderBy(F.asc("n_chars"), F.asc("doc_id"))
    return docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.coalesce(
            F.col("n_chars") - F.lag("n_chars").over(w), F.lit(-1)
        ).cast("long").alias("gap"),
    )


ORACLE_ADJACENT_GAP = """
SELECT doc_id, lang, n_chars,
       coalesce(n_chars - lag(n_chars) OVER (PARTITION BY lang ORDER BY n_chars ASC, doc_id ASC), -1)::bigint AS gap
FROM documents
"""


def q_seed_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeds ++ ranked-rest union (U3: src/library.rs:836-837 chain)."""
    docs = _docs(spark, sf_dir)
    seeds = docs.filter(F.col("doc_id") < 5).select("doc_id", F.lit("seed").alias("tag"))
    rest = (
        docs.filter(F.col("doc_id") >= 5)
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(5)
        .select("doc_id", F.lit("ranked").alias("tag"))
    )
    return seeds.unionByName(rest)


ORACLE_SEED_UNION = """
SELECT doc_id, 'seed' AS tag FROM documents WHERE doc_id < 5
UNION ALL
SELECT doc_id, 'ranked' AS tag FROM (
  SELECT doc_id FROM documents WHERE doc_id >= 5
  ORDER BY n_chars DESC, doc_id ASC LIMIT 5
)
"""


def q_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mean/std/median/geomean (A1/A2/A3/A6) on n_chars."""
    docs = _docs(spark, sf_dir)
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        _r6(F.avg("n_chars")).alias("mean_r"),
        _r6(F.stddev_pop("n_chars")).alias("std_r"),
        _r6(F.expr("percentile(n_chars, 0.5)")).alias("median_r"),
        _r6(F.exp(F.avg(F.log(F.col("n_chars").cast("double"))))).alias("geomean_r"),
    )


ORACLE_LANG_STATS = """
SELECT lang, count(*) AS n,
       round(avg(n_chars), 6) AS mean_r,
       round(stddev_pop(n_chars), 6) AS std_r,
       round(quantile_cont(n_chars, 0.5), 6) AS median_r,
       round(exp(avg(ln(n_chars::double))), 6) AS geomean_r
FROM documents GROUP BY lang
"""


def q_histogram_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram bucket + argmax (A8: pitch_tuning idiom, src/chroma.rs:348-358)."""
    docs = _docs(spark, sf_dir)
    return (
        docs.withColumn("bucket", F.floor(F.col("n_chars") / 50).cast("long"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bucket"))
        .limit(1)
    )


ORACLE_HISTOGRAM_ARGMAX = """
SELECT (n_chars // 50)::bigint AS bucket, count(*) AS cnt
FROM documents GROUP BY 1 ORDER BY cnt DESC, bucket ASC LIMIT 1
"""


def q_variance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-variance weights per group, normalized (A13:
    variance_based_weight_matrix, /root/reference/src/playlist.rs:173-221)."""
    docs = _docs(spark, sf_dir)
    per_lang = docs.groupBy("lang").agg(F.var_samp("n_chars").alias("v"))
    total = per_lang.agg(
        F.sum(1.0 / F.col("v")).alias("s"), F.count(F.lit(1)).alias("k")
    )
    return (
        per_lang.crossJoin(total)
        .select(
            "lang",
            _r6((1.0 / F.col("v")) / F.col("s") * F.col("k")).alias("weight_r"),
        )
    )


ORACLE_VARIANCE_WEIGHTS = """
WITH v AS (SELECT lang, var_samp(n_chars) AS v FROM documents GROUP BY lang),
t AS (SELECT sum(1.0 / v) AS s, count(*) AS k FROM v)
SELECT lang, round((1.0 / v.v) / t.s * t.k, 6) AS weight_r FROM v, t
"""


def q_lineitem_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped agg over lineitem — the general groupBy+agg surface
    (A1/A2/A5 family) exercised on the largest testdata table."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _r6(F.sum("l_quantity")).alias("sum_qty"),
            _r6(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue_r"),
            _r6(F.avg("l_quantity")).alias("avg_qty_r"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select("l_returnflag", "l_linestatus", "sum_qty", "revenue_r", "avg_qty_r", "cnt")
    )


ORACLE_LINEITEM_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 6) AS sum_qty,
       round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue_r,
       round(avg(l_quantity), 6) AS avg_qty_r,
       count(*) AS cnt
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_repo_group_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closest-group semi-join (J4/T4/A7: closest_album_to_group,
    /root/reference/src/playlist.rs:428-474): rank repos by their mean BM25
    score for a query, keep docs of the top-2 repos via semi-join, order
    within repo."""
    from pyspark.sql import Window as W

    from bliss_rs_spark.operators.bm25 import bm25_topk

    docs = _docs_adapted(spark, sf_dir)
    idx = _index(spark, sf_dir)
    scored = bm25_topk(
        spark, idx.postings, idx.term_stats, idx.avgdl, BM25_QUERY, 10_000_000, CFG
    )
    with_repo = scored.join(docs.select("doc_id", "repo"), "doc_id")
    top_repos = (
        with_repo.groupBy("repo")
        .agg(F.avg("score").alias("mean_score"))
        .orderBy(F.desc("mean_score"), F.asc("repo"))
        .limit(2)
        .select("repo")
    )
    kept = with_repo.join(top_repos, "repo", "left_semi")
    w = W.partitionBy("repo").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        kept.withColumn("rank_in_repo", F.row_number().over(w))
        .filter(F.col("rank_in_repo") <= 5)
        .select("repo", "rank_in_repo", "doc_id", _r6(F.col("score")).alias("score_r"))
    )


ORACLE_REPO_GROUP_TOPK = f"""
WITH {_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*)::double AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT d.doc_id, coalesce(x.dl, 0)::double AS dl
       FROM documents d LEFT JOIN (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1) x
       ON d.doc_id = x.doc_id),
stats AS (SELECT (SELECT count(*) FROM documents)::double AS n,
                 (SELECT count(*) FROM toks)::double / (SELECT count(*) FROM documents) AS avgdl),
df AS (SELECT term, count(*)::double AS df FROM tf GROUP BY 1),
q(term) AS {_BM25_TERMS_SQL},
scored AS (
  SELECT tf.doc_id,
         sum( ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
              * tf.tf * (1.2 + 1.0)
              / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / stats.avgdl)) ) AS score
  FROM tf JOIN q USING (term) JOIN df USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id, stats
  GROUP BY tf.doc_id
),
with_repo AS (SELECT s.doc_id, s.score, d.source AS repo
              FROM scored s JOIN documents d ON d.doc_id = s.doc_id),
top_repos AS (
  SELECT repo FROM with_repo GROUP BY repo
  ORDER BY avg(score) DESC, repo ASC LIMIT 2
)
SELECT repo, rank_in_repo::int AS rank_in_repo, doc_id, score_r FROM (
  SELECT w.repo, w.doc_id, round(w.score, 6) AS score_r,
         row_number() OVER (PARTITION BY w.repo ORDER BY w.score DESC, w.doc_id ASC) AS rank_in_repo
  FROM with_repo w WHERE w.repo IN (SELECT repo FROM top_repos)
) WHERE rank_in_repo <= 5
"""


def _model_weights():
    import numpy as np

    return np.random.default_rng(5).standard_normal(64) * 0.3


def q_model_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-model scoring over embeddings (F3).  The seeded weights are
    emitted into the oracle as a literal double array; the UDF accumulates
    the dot product dimension-sequentially so both engines compute the same
    float64 fold, and round(sigmoid, 6) matches bit-for-bit."""
    from bliss_rs_spark.operators.similarity import score_with_model

    w = _model_weights()
    return score_with_model(_emb(spark, sf_dir), [float(x) for x in w]).select(
        "vec_id", _r6(F.col("model_score")).alias("model_score_r")
    )


def _oracle_model_scores() -> str:
    w = _dlist(_model_weights())
    return f"""
SELECT vec_id,
       round(1.0 / (1.0 + exp(-(list_dot_product(embedding::double[], {w})))), 6)
       AS model_score_r
FROM embeddings
"""


def q_bottomk_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style rolling-window fingerprint (bottom-8 of 5-token hashes)."""
    from bliss_rs_spark.operators.dedup import bottomk_fingerprint

    return bottomk_fingerprint(_docs_adapted(spark, sf_dir), k=8, n=5)


_SHINGLES5_CTE = f"""
tarr AS (SELECT doc_id, {_TOKS_DD} AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] || ' ' || t[i+5] AS shingle
  FROM tarr, unnest(generate_series(0, len(t) - 5)) AS g(i)
  WHERE len(t) >= 5
)"""

ORACLE_BOTTOMK_FP = f"""
WITH {_SHINGLES5_CTE},
h AS (SELECT doc_id, {md5_int64_duckdb("shingle")} AS fp_hash FROM sh)
SELECT doc_id, rank::int AS rank, fp_hash FROM (
  SELECT doc_id, fp_hash,
         row_number() OVER (PARTITION BY doc_id ORDER BY fp_hash ASC) AS rank
  FROM h
) WHERE rank <= 8
"""


def q_greedy_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative nearest-neighbor hop chain (T2: song_to_song,
    /root/reference/src/playlist.rs:272-326): 5 hops from vec_id=0."""
    from bliss_rs_spark.operators.similarity import greedy_chain

    chain = greedy_chain(_emb(spark, sf_dir), start_id=0, steps=5)
    return spark.createDataFrame(chain, "step int, vec_id long")


def _oracle_greedy_chain(steps: int = 5) -> str:
    """Chained CTEs, one per hop: argmax cosine among unvisited."""
    cos = (
        "list_dot_product(e.embedding::double[], {src}.embedding::double[]) / "
        "(sqrt(list_dot_product(e.embedding::double[], e.embedding::double[])) * "
        "sqrt(list_dot_product({src}.embedding::double[], {src}.embedding::double[])))"
    )
    ctes = ["s0 AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id = 0)"]
    selects = ["SELECT 0 AS step, vec_id FROM s0"]
    for i in range(1, steps + 1):
        visited = " UNION ALL ".join(f"SELECT vec_id FROM s{j}" for j in range(i))
        ctes.append(
            f"s{i} AS (SELECT e.vec_id, e.embedding FROM embeddings e, s{i-1} "
            f"WHERE e.vec_id NOT IN ({visited}) "
            f"ORDER BY {cos.format(src=f's{i-1}')} DESC, e.vec_id ASC LIMIT 1)"
        )
        selects.append(f"SELECT {i} AS step, vec_id FROM s{i}")
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


def q_event_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-partitioned column normalization (A9: per-column l1 normalize,
    /root/reference/src/chroma.rs:177-188): each event's share of its type's
    total value."""
    from pyspark.sql import Window as W

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = W.partitionBy("event_type")
    return ev.select(
        "event_id",
        "event_type",
        _r6(F.col("value") / F.sum("value").over(w)).alias("value_share_r"),
    )


ORACLE_EVENT_VALUE_SHARE = """
SELECT event_id, event_type,
       round(value / sum(value) OVER (PARTITION BY event_type), 6) AS value_share_r
FROM events
"""


PHRASE = "fast merge batch"


def q_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase search over positional postings (position-chain
    intersection; no content scan)."""
    from bliss_rs_spark.operators.phrase import build_positional_postings, phrase_match

    docs = _docs_adapted(spark, sf_dir)
    positional = build_positional_postings(docs, CFG)
    return phrase_match(spark, positional, PHRASE, CFG).select(
        "doc_id", F.col("phrase_tf").cast("int").alias("phrase_tf")
    )


def q_phrase_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same exact-phrase search served through the PACKED positional path
    (round 4): pack_positional folds rows into one delta+varbyte blob per
    (shard, term); PhraseServer's blob kernel decodes + intersects — the
    full hit set must equal the row-path oracle exactly."""
    from bliss_rs_spark.operators.phrase import (
        PhraseServer,
        build_positional_postings,
    )

    docs = _docs_adapted(spark, sf_dir)
    positional = build_positional_postings(docs, CFG)
    server = PhraseServer(spark, positional, CFG, packed=True)
    try:
        hits = server.query(PHRASE, 1_000_000)  # k > corpus: ALL matches
    finally:
        server.close()
    return spark.createDataFrame(
        [(int(d), int(tf)) for d, tf in hits], "doc_id long, phrase_tf int"
    )


def q_phrase_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase serving ACROSS UPDATES through the oracle (round 5): build a
    positional segment store, start a PhraseServer (per-unit packed path),
    DELETE every 7th doc via a delete-only update (tombstones only), then
    refresh() the WARM server — so the per-(unit, shard) dead sets, the
    broadcast dead join and the kernel's dead masking are all on the scored
    path — and return the full live hit set."""
    import tempfile
    from dataclasses import replace

    from bliss_rs_spark.operators.phrase import PhraseServer
    from bliss_rs_spark.plans.lifecycle import build_full, update_index
    from bliss_rs_spark.sources.index_store import IndexStore

    cfg = replace(CFG, store_positions=True)
    docs = _docs_adapted(spark, sf_dir)
    store = IndexStore(tempfile.mkdtemp(prefix="gate_phchurn_") + "/idx")
    build_full(spark, docs, store, cfg, checkpoint=False)
    server = PhraseServer.from_store(spark, store)
    try:
        update_index(
            spark,
            docs.filter(F.col("doc_id") % 7 != 0),
            store, None,
            delete_missing=True, repack="segment", auto_maintain=False,
        )
        info = server.refresh(store)
        if not info["reused_units"]:
            raise RuntimeError(f"refresh rebuilt everything: {info}")
        if server._dead_bc is None:
            raise RuntimeError("tombstones not in play — vacuous gate")
        hits = server.query(PHRASE, 1_000_000)  # k > corpus: ALL matches
    finally:
        server.close()
    return spark.createDataFrame(
        [(int(d), int(tf)) for d, tf in hits], "doc_id long, phrase_tf int"
    )


def q_phrase_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity ranking (round-5 stretch): minimal token window covering
    every query term (order-free), served through PhraseServer's
    shuffle-free kernel — ALL docs holding all terms, integer windows."""
    from bliss_rs_spark.operators.phrase import (
        PhraseServer,
        build_positional_postings,
    )

    docs = _docs_adapted(spark, sf_dir)
    positional = build_positional_postings(docs, CFG)
    server = PhraseServer(spark, positional, CFG, packed=True)
    try:
        hits = server.query_window(PHRASE, 1_000_000)  # k > corpus: ALL
    finally:
        server.close()
    return spark.createDataFrame(
        [(int(d), int(w)) for d, w in hits], "doc_id long, min_window long"
    )


def q_phrase_window_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity ranking through the CHURNED store path: build a positional
    segment store, start a PhraseServer, DELETE every 9th doc, refresh()
    the warm server, then min-window rank — so the per-unit dead sets mask
    the proximity kernel on the scored path, against an oracle over the
    live subset."""
    import tempfile
    from dataclasses import replace

    from bliss_rs_spark.operators.phrase import PhraseServer
    from bliss_rs_spark.plans.lifecycle import build_full, update_index
    from bliss_rs_spark.sources.index_store import IndexStore

    cfg = replace(CFG, store_positions=True)
    docs = _docs_adapted(spark, sf_dir)
    store = IndexStore(tempfile.mkdtemp(prefix="gate_pwchurn_") + "/idx")
    build_full(spark, docs, store, cfg, checkpoint=False)
    server = PhraseServer.from_store(spark, store)
    try:
        update_index(
            spark,
            docs.filter(F.col("doc_id") % 9 != 0),
            store, None,
            delete_missing=True, repack="segment", auto_maintain=False,
        )
        server.refresh(store)
        if server._dead_bc is None:
            raise RuntimeError("tombstones not in play — vacuous gate")
        hits = server.query_window(PHRASE, 1_000_000)  # ALL live holders
    finally:
        server.close()
    return spark.createDataFrame(
        [(int(d), int(w)) for d, w in hits], "doc_id long, min_window long"
    )


def _oracle_phrase_window(phrase: str, live_filter: str | None = None) -> str:
    terms = sorted(set(phrase.split()))
    letters = [chr(ord("a") + i) for i in range(len(terms))]
    ctes = ",\n".join(
        f"p{L} AS (SELECT doc_id, p FROM pos WHERE term = '{t}')"
        for L, t in zip(letters, terms)
    )
    joins = f"p{letters[0]} {letters[0]} " + " ".join(
        f"JOIN p{L} {L} USING (doc_id)" for L in letters[1:]
    )
    cols = ", ".join(f"{L}.p" for L in letters)
    where = f"WHERE {letters[0]}.{live_filter}" if live_filter else ""
    return f"""
WITH tarr AS (SELECT doc_id, {_TOKS_DD} AS t FROM documents),
pos AS (SELECT doc_id, i - 1 AS p, t[i] AS term
        FROM tarr, unnest(generate_series(1, len(t))) AS g(i)),
{ctes}
SELECT {letters[0]}.doc_id,
       min(greatest({cols}) - least({cols}) + 1)::bigint AS min_window
FROM {joins}
{where}
GROUP BY {letters[0]}.doc_id
"""


def _phrase_occ_cte(phrase: str) -> str:
    """Token-position phrase counting CTE (``occ``): counts every start
    position i with t[i..i+L-1] == phrase terms.  Positional, so back-to-back
    repeats of the phrase count individually — the replace()-based formulation
    consumed the shared boundary space and undercounted adjacent repeats,
    diverging from the engine's exact positional intersection."""
    terms = phrase.split()
    conds = " AND ".join(f"t[i+{j}] = '{t}'" for j, t in enumerate(terms))
    return f"""
tarr AS (SELECT doc_id, {_TOKS_DD} AS t FROM documents),
occ AS (
  SELECT doc_id, count(*) AS phrase_tf
  FROM tarr, unnest(generate_series(1, len(t) - {len(terms) - 1})) AS g(i)
  WHERE {conds}
  GROUP BY doc_id
)"""


ORACLE_PHRASE_MATCH = f"""
WITH {_phrase_occ_cte(PHRASE)}
SELECT doc_id, phrase_tf::int AS phrase_tf FROM occ
"""

ORACLE_PHRASE_CHURN = f"""
WITH {_phrase_occ_cte(PHRASE)}
SELECT doc_id, phrase_tf::int AS phrase_tf FROM occ WHERE doc_id % 7 <> 0
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: per-user session ids from >30-minute gaps
    (lag + conditional cumsum — the classic event-stream idiom)."""
    from pyspark.sql import Window as W

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_micros(F.col("ts").cast("timestamp"))  # exact integer µs
    gap = epoch - F.lag(epoch).over(w)
    with_flag = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0).alias("new_session"),
    )
    sess = with_flag.withColumn(
        "session_no", F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return (
        sess.groupBy("user_id", "session_no")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.min("event_id").alias("first_event"))
        .select("user_id", F.col("session_no").cast("long").alias("session_no"),
                "n_events", "first_event")
    )


ORACLE_SESSIONIZE = """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, event_id,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_no
  FROM flagged
)
SELECT user_id, session_no::bigint AS session_no,
       count(*) AS n_events, min(event_id) AS first_event
FROM sess GROUP BY user_id, session_no
"""


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event-type counts as columns (explicit value list so
    Catalyst skips the extra distinct pass)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy("user_id").pivot("event_type", EVENT_TYPES).count().na.fill(0)


ORACLE_EVENT_PIVOT = "SELECT user_id, " + ", ".join(
    f"count(*) FILTER (WHERE event_type = '{t}') AS {t}" for t in EVENT_TYPES
) + " FROM events GROUP BY user_id"


def q_segment_revenue_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped 3-table join: customer ⋈ orders ⋈ lineitem, revenue
    per (mktsegment, nation), top-2 nations per segment.  customer/nation
    sides broadcast (small dims); lineitem side aggregates partially before
    the join result window."""
    from pyspark.sql import Window as W

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")

    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_mktsegment", "n_name")
        .agg(
            _r6(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue_r"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )
    w = W.partitionBy("c_mktsegment").orderBy(F.desc("revenue_r"), F.asc("n_name"))
    return (
        rev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .select("c_mktsegment", F.col("rk").cast("int").alias("rk"), "n_name", "revenue_r", "n_items")
    )


ORACLE_SEGMENT_REVENUE = """
WITH rev AS (
  SELECT c.c_mktsegment, n.n_name,
         round(sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS revenue_r,
         count(*) AS n_items
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY c.c_mktsegment, n.n_name
)
SELECT c_mktsegment, rk::int AS rk, n_name, revenue_r, n_items FROM (
  SELECT *, row_number() OVER (PARTITION BY c_mktsegment
                               ORDER BY revenue_r DESC, n_name ASC) AS rk
  FROM rev
) WHERE rk <= 2
"""


def q_phrase_then_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition: exact-phrase filter -> BM25 rank of the phrase terms over
    the matching docs (the filter+score pipeline of the reference query path,
    SURVEY.md §3.3)."""
    from bliss_rs_spark.operators.bm25 import bm25_topk
    from bliss_rs_spark.operators.phrase import build_positional_postings, phrase_match

    docs = _docs_adapted(spark, sf_dir)
    idx = _index(spark, sf_dir)
    positional = build_positional_postings(docs, CFG)
    matches = phrase_match(spark, positional, PHRASE, CFG).select("doc_id", "phrase_tf")
    ranked = bm25_topk(
        spark, idx.postings, idx.term_stats, idx.avgdl, PHRASE, 10_000_000, CFG
    )
    return (
        ranked.join(matches, "doc_id")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
        .select("doc_id", "phrase_tf", _r6(F.col("score")).alias("score_r"))
    )


_PHRASE_TERMS_SQL = "(VALUES " + ", ".join(
    f"('{t}')" for t in sorted(set(PHRASE.split()))
) + ")"

ORACLE_PHRASE_THEN_RANK = f"""
WITH {_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*)::double AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT d.doc_id, coalesce(x.dl, 0)::double AS dl
       FROM documents d LEFT JOIN (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1) x
       ON d.doc_id = x.doc_id),
stats AS (SELECT (SELECT count(*) FROM documents)::double AS n,
                 (SELECT count(*) FROM toks)::double / (SELECT count(*) FROM documents) AS avgdl),
df AS (SELECT term, count(*)::double AS df FROM tf GROUP BY 1),
q(term) AS {_PHRASE_TERMS_SQL},
scored AS (
  SELECT tf.doc_id,
         sum( ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
              * tf.tf * (1.2 + 1.0)
              / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / stats.avgdl)) ) AS score
  FROM tf JOIN q USING (term) JOIN df USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id, stats
  GROUP BY tf.doc_id
),
{_phrase_occ_cte(PHRASE).lstrip()},
ph AS (SELECT doc_id, phrase_tf::int AS phrase_tf FROM occ)
SELECT s.doc_id, ph.phrase_tf, round(s.score, 6) AS score_r
FROM scored s JOIN ph ON ph.doc_id = s.doc_id
ORDER BY s.score DESC, s.doc_id ASC LIMIT 10
"""


WINDOW_MAX = 6


def q_window_then_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition: order-free proximity FILTER (all query terms within a
    <=6-token window, via the batch min_window_match relation) -> BM25 rank
    of those docs — proximity-gated retrieval, the loose-phrase variant of
    phrase_then_rank."""
    from bliss_rs_spark.operators.bm25 import bm25_topk
    from bliss_rs_spark.operators.phrase import (
        build_positional_postings,
        min_window_match,
    )

    docs = _docs_adapted(spark, sf_dir)
    idx = _index(spark, sf_dir)
    positional = build_positional_postings(docs, CFG)
    near = min_window_match(spark, positional, PHRASE, CFG).filter(
        F.col("min_window") <= WINDOW_MAX
    )
    ranked = bm25_topk(
        spark, idx.postings, idx.term_stats, idx.avgdl, PHRASE, 10_000_000, CFG
    )
    return (
        ranked.join(near, "doc_id")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
        .select("doc_id", "min_window", _r6(F.col("score")).alias("score_r"))
    )


def _oracle_window_then_rank() -> str:
    terms = sorted(set(PHRASE.split()))
    letters = [chr(ord("a") + i) for i in range(len(terms))]
    ctes = ",\n".join(
        f"p{L} AS (SELECT doc_id, p FROM pos WHERE term = '{t}')"
        for L, t in zip(letters, terms)
    )
    joins = f"p{letters[0]} {letters[0]} " + " ".join(
        f"JOIN p{L} {L} USING (doc_id)" for L in letters[1:]
    )
    cols = ", ".join(f"{L}.p" for L in letters)
    return f"""
WITH {_TOKS_CTE.lstrip()},
tf AS (SELECT doc_id, term, count(*)::double AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT d.doc_id, coalesce(x.dl, 0)::double AS dl
       FROM documents d LEFT JOIN (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1) x
       ON d.doc_id = x.doc_id),
stats AS (SELECT (SELECT count(*) FROM documents)::double AS n,
                 (SELECT count(*) FROM toks)::double / (SELECT count(*) FROM documents) AS avgdl),
df AS (SELECT term, count(*)::double AS df FROM tf GROUP BY 1),
q(term) AS {_PHRASE_TERMS_SQL},
scored AS (
  SELECT tf.doc_id,
         sum( ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
              * tf.tf * (1.2 + 1.0)
              / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / stats.avgdl)) ) AS score
  FROM tf JOIN q USING (term) JOIN df USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id, stats
  GROUP BY tf.doc_id
),
tarr AS (SELECT doc_id, {_TOKS_DD} AS t FROM documents),
pos AS (SELECT doc_id, i - 1 AS p, t[i] AS term
        FROM tarr, unnest(generate_series(1, len(t))) AS g(i)),
{ctes},
win AS (
  SELECT {letters[0]}.doc_id,
         min(greatest({cols}) - least({cols}) + 1)::bigint AS min_window
  FROM {joins}
  GROUP BY {letters[0]}.doc_id
  HAVING min(greatest({cols}) - least({cols}) + 1) <= {WINDOW_MAX}
)
SELECT s.doc_id, w.min_window, round(s.score, 6) AS score_r
FROM scored s JOIN win w ON w.doc_id = s.doc_id
ORDER BY s.score DESC, s.doc_id ASC LIMIT 10
"""


def q_asof_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click event joined to the user's latest prior-or-equal
    purchase (pandas merge_asof per cogroup; DuckDB native ASOF JOIN oracle)."""
    from bliss_rs_spark.operators.asof import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    joined = asof_join(clicks, purchases, on="ts", by="user_id",
                       right_value_cols=["purchase_value"])
    return joined.select(
        "event_id",
        "user_id",
        _r6(F.coalesce(F.col("purchase_value"), F.lit(-1.0))).alias("prior_purchase_r"),
        F.coalesce(F.unix_micros(F.col("_right_ts").cast("timestamp")), F.lit(-1)).alias("prior_epoch"),
    )


ORACLE_ASOF_PURCHASE = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
purchases AS (
  SELECT user_id, ts, max(value) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT c.event_id, c.user_id,
       round(coalesce(p.purchase_value, -1.0), 6) AS prior_purchase_r,
       coalesce(epoch_us(p.ts), -1)::bigint AS prior_epoch
FROM clicks c ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND c.ts >= p.ts
"""


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregate over (returnflag, linestatus) incl. subtotals and the
    grand total (grouping-sets coverage)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(_r6(F.sum("l_quantity")).alias("qty_r"), F.count(F.lit(1)).alias("cnt"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
            "qty_r",
            "cnt",
        )
    )


ORACLE_ROLLUP_REVENUE = """
SELECT coalesce(l_returnflag, 'ALL') AS rf,
       coalesce(l_linestatus, 'ALL') AS ls,
       round(sum(l_quantity), 6) AS qty_r,
       count(*) AS cnt
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_intersect_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT set op: sources that publish in both 'en' and 'de'."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    en = docs.filter(F.col("lang") == "en").select(F.col("source").alias("repo"))
    de = docs.filter(F.col("lang") == "de").select(F.col("source").alias("repo"))
    return en.intersect(de)


ORACLE_INTERSECT_LANGS = """
SELECT source AS repo FROM documents WHERE lang = 'en'
INTERSECT
SELECT source AS repo FROM documents WHERE lang = 'de'
"""


def q_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON column handling (§2.8 / the reference's extra_info json column,
    /root/reference/src/library.rs:517): parse events.props with an explicit
    schema and aggregate the extracted field."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    parsed = ev.select(
        "event_type", F.from_json("props", "k int").alias("p")
    ).select("event_type", F.col("p.k").alias("k"))
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").cast("long").alias("sum_k"),
        F.min("k").cast("int").alias("min_k"),
        F.max("k").cast("int").alias("max_k"),
    )


ORACLE_JSON_PROPS = """
SELECT event_type, count(*) AS n,
       sum(json_extract(props, '$.k')::int)::bigint AS sum_k,
       min(json_extract(props, '$.k')::int)::int AS min_k,
       max(json_extract(props, '$.k')::int)::int AS max_k
FROM events GROUP BY event_type
"""


def q_except_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT set op (U1 difference): sources publishing in 'en' but never
    'zh'."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    en = docs.filter(F.col("lang") == "en").select(F.col("source").alias("repo"))
    zh = docs.filter(F.col("lang") == "zh").select(F.col("source").alias("repo"))
    return en.subtract(zh)  # EXCEPT DISTINCT semantics (bag exceptAll would differ)


ORACLE_EXCEPT_LANGS = """
SELECT DISTINCT source AS repo FROM documents WHERE lang = 'en'
EXCEPT
SELECT source AS repo FROM documents WHERE lang = 'zh'
"""


def q_custom_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pluggable-scorer top-k (F6: playlist_from_custom,
    /root/reference/src/library.rs:805-842): a user-supplied Column scorer —
    here 2*alnum_ratio + ln(n_chars) — ranked through the generic topk()
    operator (TakeOrderedAndProject, JVM-side scoring)."""
    from bliss_rs_spark.operators.topk import topk

    docs = _docs(spark, sf_dir)
    e = quality_exprs_spark("text")
    scorer = F.expr(e["alnum_ratio"]) * F.lit(2.0) + F.log(F.col("n_chars").cast("double"))
    return topk(docs, scorer, 15, id_col="doc_id").select(
        "doc_id", _r6(F.col("score")).alias("score_r")
    )


def _oracle_custom_topk() -> str:
    e = quality_exprs_duckdb("text")
    s = f"({e['alnum_ratio']}) * 2.0 + ln(n_chars::double)"
    return f"""
SELECT doc_id, round({s}, 6) AS score_r
FROM documents ORDER BY {s} DESC, doc_id ASC LIMIT 15
"""


# --- trigram substring / regex search (code-search exact-match tier) ---------

SUBSTRING_NEEDLE = "fast merge"
REGEX_PATTERN = "(hash|merge) join"  # literal-extractable; Java & RE2 agree


def _trigram_index(spark: SparkSession, sf_dir: str):
    from bliss_rs_spark.operators.trigram import build_trigram_index

    key = ("trigram", id(spark._jsparkSession) if hasattr(spark, "_jsparkSession") else id(spark), sf_dir)
    if key not in _IDX_MEMO:
        _IDX_MEMO[key] = build_trigram_index(_docs_adapted(spark, sf_dir)).cache()
    return _IDX_MEMO[key]


def q_substring_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring match via the trigram presence index (grep tier):
    AND the needle's trigram postings, verify `contains` only on the
    candidate sliver (operators/trigram.py)."""
    from bliss_rs_spark.operators.trigram import substring_search

    docs = _docs_adapted(spark, sf_dir)
    return substring_search(docs, _trigram_index(spark, sf_dir), SUBSTRING_NEEDLE)


ORACLE_SUBSTRING = f"""
SELECT doc_id FROM documents WHERE contains(text, '{SUBSTRING_NEEDLE}')
"""


def q_regex_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex over content, pruned by the trigram postings of the pattern's
    required literals (Cox derivation), verified with rlike."""
    from bliss_rs_spark.operators.trigram import regex_search

    docs = _docs_adapted(spark, sf_dir)
    return regex_search(docs, _trigram_index(spark, sf_dir), REGEX_PATTERN)


ORACLE_REGEX = f"""
SELECT doc_id FROM documents WHERE regexp_matches(text, '{REGEX_PATTERN}')
"""


def q_substring_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same substring match through the WARM server served FROM A
    STORE (round-6): per-segment packed gram blobs out of the
    derived/tri_units cache, distributed candidate flow, match-sized
    verify — must equal the batch path's oracle exactly
    (operators/trigram.py:TrigramServer.from_store)."""
    import tempfile

    from dataclasses import replace

    from bliss_rs_spark.operators.trigram import TrigramServer
    from bliss_rs_spark.plans.lifecycle import build_full
    from bliss_rs_spark.sources.index_store import IndexStore

    docs = _docs_adapted(spark, sf_dir)
    store = IndexStore(tempfile.mkdtemp(prefix="gate_grepsrv_") + "/idx")
    build_full(spark, docs, store, replace(CFG, store_trigrams=True),
               checkpoint=False)
    srv = TrigramServer.from_store(spark, store, docs)
    try:
        ids = srv.grep(SUBSTRING_NEEDLE)
    finally:
        srv.close()
    return spark.createDataFrame([(int(d),) for d in ids], "doc_id long")


def q_substring_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grep -i over the case-FOLDED (Zoekt-layout) index: the needle is
    deliberately case-divergent from the corpus (uppercased), so the gate
    is non-vacuous — a raw-verify bug would return zero rows, a
    Python-vs-JVM folding bug would drop candidates."""
    from bliss_rs_spark.operators.trigram import build_trigram_index, substring_search

    docs = _docs_adapted(spark, sf_dir)
    key = ("trigram_folded", id(spark._jsparkSession) if hasattr(spark, "_jsparkSession") else id(spark), sf_dir)
    if key not in _IDX_MEMO:
        _IDX_MEMO[key] = build_trigram_index(docs, lowercase=True).cache()
    return substring_search(
        docs, _IDX_MEMO[key], SUBSTRING_NEEDLE.upper(),
        case_insensitive=True, index_lowercased=True,
    )


ORACLE_SUBSTRING_CI = f"""
SELECT doc_id FROM documents
WHERE contains(lower(text), lower('{SUBSTRING_NEEDLE.upper()}'))
"""


GREP_BATCH_NEEDLES = [(1, SUBSTRING_NEEDLE), (2, "value table"), (3, "slow filter")]


def q_grep_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch grep: the whole needle set in ONE index scan + one agg + one
    column-wise verify (operators/trigram.py:substring_search_batch) —
    row-identical to running each needle alone."""
    from bliss_rs_spark.operators.trigram import substring_search_batch

    docs = _docs_adapted(spark, sf_dir)
    return substring_search_batch(
        docs, _trigram_index(spark, sf_dir), GREP_BATCH_NEEDLES
    )


ORACLE_GREP_BATCH = "\nUNION ALL\n".join(
    f"SELECT {nid}::INTEGER AS needle_id, doc_id FROM documents "
    f"WHERE contains(text, '{needle}')"
    for nid, needle in GREP_BATCH_NEEDLES
)


def q_grep_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grep -n: (doc_id, line_no, col, line) of every line containing the
    needle — trigram-AND pruning, the line filter IS the verify
    (operators/trigram.py:substring_search_lines).  Both engines derive
    line numbers and first-match columns independently."""
    from bliss_rs_spark.operators.trigram import substring_search_lines

    docs = _docs_adapted(spark, sf_dir)
    return substring_search_lines(
        docs, _trigram_index(spark, sf_dir), SUBSTRING_NEEDLE
    ).orderBy("doc_id", "line_no")


ORACLE_GREP_LINES = f"""
WITH l AS (
  SELECT doc_id,
         generate_subscripts(string_split(text, chr(10)), 1) AS line_no,
         unnest(string_split(text, chr(10))) AS line
  FROM documents
)
SELECT doc_id, line_no::BIGINT AS line_no,
       strpos(line, '{SUBSTRING_NEEDLE}')::BIGINT AS col, line
FROM l WHERE contains(line, '{SUBSTRING_NEEDLE}')
ORDER BY doc_id, line_no
"""


# --- structured query language: boolean / prefix / fuzzy / more-like-this ----

BOOL_MUST, BOOL_SHOULD, BOOL_NOT = "table window", "hash join", "vector"
PREFIX_Q, PREFIX_K = "s", 15
FUZZY_Q, FUZZY_DIST, FUZZY_K = "jion", 2, 15
MLT_SEED, MLT_TERMS, MLT_K = 42, 5, 15


def q_boolean_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene-style boolean retrieval: MUST terms filter, SHOULD terms add
    score, MUST_NOT anti-joins (operators/query_ops.py)."""
    from bliss_rs_spark.operators.query_ops import boolean_topk

    idx = _index(spark, sf_dir)
    out = boolean_topk(
        spark, idx.postings, idx.term_stats, idx.avgdl,
        must=BOOL_MUST, should=BOOL_SHOULD, must_not=BOOL_NOT, k=BM25_K, cfg=CFG,
    )
    return out.select("doc_id", _r6(F.col("score")).alias("score_r"))


def _bm25_sum_sql() -> str:
    return (
        "sum( ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0)"
        " * tf.tf * (1.2 + 1.0)"
        " / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / stats.avgdl)) )"
    )


_BOOL_Q_SQL = "(VALUES " + ", ".join(
    [f"('{t}', true)" for t in sorted(BOOL_MUST.split())]
    + [f"('{t}', false)" for t in sorted(BOOL_SHOULD.split())]
) + ")"

ORACLE_BOOLEAN = f"""
WITH {_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*)::double AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT d.doc_id, coalesce(x.dl, 0)::double AS dl
       FROM documents d LEFT JOIN (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1) x
       ON d.doc_id = x.doc_id),
stats AS (SELECT (SELECT count(*) FROM documents)::double AS n,
                 (SELECT count(*) FROM toks)::double / (SELECT count(*) FROM documents) AS avgdl),
df AS (SELECT term, count(*)::double AS df FROM tf GROUP BY 1),
q(term, is_must) AS {_BOOL_Q_SQL},
scored AS (
  SELECT tf.doc_id,
         {_bm25_sum_sql()} AS score,
         sum(CASE WHEN q.is_must THEN 1 ELSE 0 END) AS n_must
  FROM tf JOIN q USING (term) JOIN df USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id, stats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 6) AS score_r
FROM scored s
WHERE n_must = {len(BOOL_MUST.split())}
  AND NOT EXISTS (SELECT 1 FROM tf t2 WHERE t2.doc_id = s.doc_id AND t2.term = '{BOOL_NOT}')
ORDER BY score DESC, doc_id ASC LIMIT {BM25_K}
"""


def q_prefix_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`s*` prefix expansion over the vocabulary, BM25 sum semantics."""
    from bliss_rs_spark.operators.query_ops import prefix_topk

    idx = _index(spark, sf_dir)
    out = prefix_topk(
        spark, idx.postings, idx.term_stats, idx.avgdl, PREFIX_Q, PREFIX_K, CFG
    )
    return out.select("doc_id", _r6(F.col("score")).alias("score_r"))


def _oracle_expanded(q_cte: str, k: int) -> str:
    """Shared oracle shape for expanded-term BM25: the expansion is derived
    IN SQL from the corpus vocabulary (df CTE), not pasted from Spark —
    both engines must independently agree on the expanded set."""
    return f"""
WITH {_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*)::double AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT d.doc_id, coalesce(x.dl, 0)::double AS dl
       FROM documents d LEFT JOIN (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1) x
       ON d.doc_id = x.doc_id),
stats AS (SELECT (SELECT count(*) FROM documents)::double AS n,
                 (SELECT count(*) FROM toks)::double / (SELECT count(*) FROM documents) AS avgdl),
df AS (SELECT term, count(*)::double AS df FROM tf GROUP BY 1),
q AS ({q_cte}),
scored AS (
  SELECT tf.doc_id, {_bm25_sum_sql()} AS score
  FROM tf JOIN q USING (term) JOIN df USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id, stats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 6) AS score_r
FROM scored ORDER BY score DESC, doc_id ASC LIMIT {k}
"""


ORACLE_PREFIX = _oracle_expanded(
    f"SELECT term FROM df WHERE starts_with(term, '{PREFIX_Q}')", PREFIX_K
)


def q_fuzzy_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-tolerant retrieval: `jion~2` expands to every vocab term within
    2 edits (both engines derive the expansion independently)."""
    from bliss_rs_spark.operators.query_ops import fuzzy_topk

    idx = _index(spark, sf_dir)
    out = fuzzy_topk(
        spark, idx.postings, idx.term_stats, idx.avgdl,
        FUZZY_Q, FUZZY_K, FUZZY_DIST, CFG,
    )
    return out.select("doc_id", _r6(F.col("score")).alias("score_r"))


ORACLE_FUZZY = _oracle_expanded(
    f"SELECT term FROM df WHERE levenshtein(term, '{FUZZY_Q}') <= {FUZZY_DIST}",
    FUZZY_K,
)


def q_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Find-similar-by-example: seed doc's top tf*idf terms as the query,
    seed excluded (reference playlist-from-song shape)."""
    from bliss_rs_spark.operators.query_ops import more_like_this

    idx = _index(spark, sf_dir)
    out = more_like_this(
        spark, idx.postings, idx.term_stats, idx.avgdl,
        MLT_SEED, MLT_K, MLT_TERMS, CFG,
    )
    return out.select("doc_id", _r6(F.col("score")).alias("score_r"))


ORACLE_MLT = _oracle_expanded(
    f"""SELECT tf.term FROM tf JOIN df USING (term), stats
  WHERE tf.doc_id = {MLT_SEED}
  ORDER BY tf.tf * ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0) DESC, tf.term ASC
  LIMIT {MLT_TERMS}""",
    MLT_K,
).replace(
    "FROM scored ORDER BY",
    f"FROM scored WHERE doc_id <> {MLT_SEED} ORDER BY",
)


# --- snippet spans: the winning min-window's token span ----------------------

def q_snippet_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snippet/highlight anchors from the positional index: for every doc
    containing all query terms, the minimal covering window's token span
    (smallest-start tie-break) — no document re-read
    (operators/phrase.py:min_window_match with_spans)."""
    from bliss_rs_spark.operators.phrase import (
        build_positional_postings,
        min_window_match,
    )

    docs = _docs_adapted(spark, sf_dir)
    positional = build_positional_postings(docs, CFG)
    return min_window_match(spark, positional, PHRASE, CFG, with_spans=True)


def _oracle_snippet_spans(phrase: str) -> str:
    terms = sorted(set(phrase.split()))
    letters = [chr(ord("a") + i) for i in range(len(terms))]
    ctes = ",\n".join(
        f"p{L} AS (SELECT doc_id, p FROM pos WHERE term = '{t}')"
        for L, t in zip(letters, terms)
    )
    joins = f"p{letters[0]} {letters[0]} " + " ".join(
        f"JOIN p{L} {L} USING (doc_id)" for L in letters[1:]
    )
    cols = ", ".join(f"{L}.p" for L in letters)
    return f"""
WITH tarr AS (SELECT doc_id, {_TOKS_DD} AS t FROM documents),
pos AS (SELECT doc_id, i - 1 AS p, t[i] AS term
        FROM tarr, unnest(generate_series(1, len(t))) AS g(i)),
{ctes},
spans AS (
  SELECT {letters[0]}.doc_id,
         (greatest({cols}) - least({cols}) + 1)::bigint AS w,
         least({cols})::bigint AS s,
         greatest({cols})::bigint AS e
  FROM {joins}
),
best AS (
  SELECT doc_id, w AS min_window, s AS win_start, e AS win_end,
         row_number() OVER (PARTITION BY doc_id ORDER BY w ASC, s ASC) AS rn
  FROM spans
)
SELECT doc_id, min_window, win_start, win_end FROM best WHERE rn = 1
"""


# --- did-you-mean term suggestions ---------------------------------------------

SUGGEST_TYPO, SUGGEST_K = "sot", 5  # -> sort(1), row(2), slow(2): exercises all 3 rank keys


def q_suggest_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-hit fallback: vocab terms near the typo ranked (dist ASC,
    df DESC, term ASC) — operators/query_ops.py:suggest_terms."""
    from bliss_rs_spark.operators.query_ops import suggest_terms

    idx = _index(spark, sf_dir)
    out = suggest_terms(idx.term_stats, SUGGEST_TYPO, SUGGEST_K)
    return out.select("term", "dist", F.col("df").cast("long").alias("df"))


ORACLE_SUGGEST = f"""
WITH {_TOKS_CTE},
tf AS (SELECT doc_id, term FROM toks GROUP BY doc_id, term),
df AS (SELECT term, count(*)::bigint AS df FROM tf GROUP BY 1)
SELECT term, levenshtein(term, '{SUGGEST_TYPO}')::int AS dist, df
FROM df
WHERE levenshtein(term, '{SUGGEST_TYPO}') <= 2 AND term <> '{SUGGEST_TYPO}'
ORDER BY dist ASC, df DESC, term ASC LIMIT {SUGGEST_K}
"""


# --- snippet text materialization ----------------------------------------------

def q_snippet_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snippet STRINGS: min-window spans joined back to documents, token
    stream sliced JVM-side (operators/phrase.py:attach_snippet_text)."""
    from bliss_rs_spark.operators.phrase import (
        attach_snippet_text,
        build_positional_postings,
        min_window_match,
    )

    docs = _docs_adapted(spark, sf_dir)
    positional = build_positional_postings(docs, CFG)
    spans = min_window_match(spark, positional, PHRASE, CFG, with_spans=True)
    return attach_snippet_text(spans, docs).select(
        "doc_id", "min_window", "win_start", "snippet"
    )


def _oracle_snippet_text(phrase: str) -> str:
    base = _oracle_snippet_spans(phrase)
    return base.replace(
        "SELECT doc_id, min_window, win_start, win_end FROM best WHERE rn = 1",
        """SELECT b.doc_id, b.min_window, b.win_start,
       array_to_string(t[b.win_start + 1 : b.win_start + b.min_window], ' ') AS snippet
FROM best b JOIN tarr USING (doc_id) WHERE rn = 1""",
    )


# --- phrase serving under a metadata filter -----------------------------------

FILTERED_PHRASE = "fast merge"  # 4 'de' hits at sf0.01 — non-vacuous


def q_phrase_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase search through PhraseServer with a registered metadata
    filter (lang='de'): the allow array shrinks the candidate universe
    inside the rarest-first kernel (operators/phrase.py)."""
    from bliss_rs_spark.operators.phrase import (
        PhraseServer,
        build_positional_postings,
    )

    docs = _docs_adapted(spark, sf_dir)
    positional = build_positional_postings(docs, CFG)
    server = PhraseServer(spark, positional, CFG, packed=True)
    try:
        server.set_filter(
            "de", docs.filter(F.col("lang") == FILTER_LANG).select("doc_id")
        )
        hits = server.query(FILTERED_PHRASE, 1_000_000, filter_name="de")
    finally:
        server.close()
    return spark.createDataFrame(
        [(int(d), int(tf)) for d, tf in hits], "doc_id long, phrase_tf int"
    )


ORACLE_PHRASE_FILTERED = f"""
WITH {_phrase_occ_cte(FILTERED_PHRASE)}
SELECT doc_id, phrase_tf::int AS phrase_tf FROM occ
WHERE doc_id IN (SELECT doc_id FROM documents WHERE lang = '{FILTER_LANG}')
"""


# --- grep through the store lifecycle -----------------------------------------

def q_substring_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full WARM grep lifecycle (round-6): build a trigram-bearing store,
    serve warm (TrigramServer.from_store), DELETE every 5th doc via a
    segment-mode update (tombstones only), refresh() the LIVE server —
    reusing every fingerprint-unchanged unit pack — and grep through the
    warm refreshed server: deleted docs must vanish via the per-(unit,
    shard) dead sets, with zero segment rewrites and zero re-packs
    (operators/trigram.py:TrigramServer.refresh)."""
    import tempfile

    from dataclasses import replace

    from bliss_rs_spark.operators.trigram import TrigramServer
    from bliss_rs_spark.plans.lifecycle import build_full, update_index
    from bliss_rs_spark.sources.index_store import IndexStore

    docs = _docs_adapted(spark, sf_dir)
    store = IndexStore(tempfile.mkdtemp(prefix="gate_grep_") + "/idx")
    cfg = replace(CFG, store_trigrams=True)
    build_full(spark, docs, store, cfg, checkpoint=False)
    srv = TrigramServer.from_store(spark, store, docs)
    try:
        srv.grep(SUBSTRING_NEEDLE)  # warm serve before churn
        update_index(
            spark,
            docs.filter(F.col("doc_id") % 5 != 0),
            store,
            None,
            delete_missing=True,
            repack="segment",
        )
        info = srv.refresh(store)
        if not info["reused_units"]:
            raise AssertionError(
                "refresh() re-packed every unit on a delete-only update — "
                "the per-segment cache reuse the gate certifies did not run"
            )
        ids = srv.grep(SUBSTRING_NEEDLE)
    finally:
        srv.close()
    return spark.createDataFrame([(int(d),) for d in ids], "doc_id long")


ORACLE_SUBSTRING_CHURN = f"""
SELECT doc_id FROM documents
WHERE doc_id % 5 <> 0 AND contains(text, '{SUBSTRING_NEEDLE}')
"""


# --- unified query-string search ----------------------------------------------

SEARCH_Q = '+table merg* *ow joi~1 -vector lang:en "fast merge"'
SEARCH_K = 15


def q_search_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One query string exercising the whole grammar: MUST term, prefix +
    suffix (leading-wildcard) + fuzzy expansion (all scored), MUST_NOT term,
    metadata filter, exact phrase (operators/search.py).  `*ow` expands to
    {row, slow, window} in this corpus — a real multi-term expansion, so the
    gate is non-vacuous for the suffix construct."""
    from bliss_rs_spark.operators.phrase import build_positional_postings
    from bliss_rs_spark.operators.search import search

    idx = _index(spark, sf_dir)
    docs = _docs_adapted(spark, sf_dir)
    positional = build_positional_postings(docs, CFG)
    out = search(
        spark, idx.postings, idx.term_stats, idx.avgdl, SEARCH_Q, SEARCH_K,
        CFG, doc_stats=docs.select("doc_id", "lang"), positional=positional,
    )
    return out.select("doc_id", _r6(F.col("score")).alias("score_r"))


ORACLE_SEARCH = f"""
WITH {_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*)::double AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT d.doc_id, coalesce(x.dl, 0)::double AS dl
       FROM documents d LEFT JOIN (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1) x
       ON d.doc_id = x.doc_id),
stats AS (SELECT (SELECT count(*) FROM documents)::double AS n,
                 (SELECT count(*) FROM toks)::double / (SELECT count(*) FROM documents) AS avgdl),
df AS (SELECT term, count(*)::double AS df FROM tf GROUP BY 1),
q AS (
  SELECT DISTINCT term FROM (
    SELECT 'table' AS term
    UNION ALL SELECT term FROM df WHERE starts_with(term, 'merg')
    UNION ALL SELECT term FROM df WHERE ends_with(term, 'ow')
    UNION ALL SELECT term FROM df WHERE levenshtein(term, 'joi') <= 1
  )
),
tarr AS (SELECT doc_id, {_TOKS_DD} AS t FROM documents),
occ AS (
  SELECT doc_id
  FROM tarr, unnest(generate_series(1, len(t) - 1)) AS g(i)
  WHERE t[i] = 'fast' AND t[i+1] = 'merge'
  GROUP BY doc_id
),
scored AS (
  SELECT tf.doc_id, {_bm25_sum_sql()} AS score
  FROM tf JOIN q USING (term) JOIN df USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id, stats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 6) AS score_r
FROM scored s
WHERE EXISTS (SELECT 1 FROM tf t WHERE t.doc_id = s.doc_id AND t.term = 'table')
  AND NOT EXISTS (SELECT 1 FROM tf t WHERE t.doc_id = s.doc_id AND t.term = 'vector')
  AND s.doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')
  AND s.doc_id IN (SELECT doc_id FROM occ)
ORDER BY score DESC, doc_id ASC LIMIT {SEARCH_K}
"""


# --- facet counts over the conjunctive match set ------------------------------

FACET_QUERY = "hash join"


def q_facet_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Result-set facets: lang distribution of every doc containing ALL
    query terms (operators/facets.py) — ranking-independent by design."""
    from bliss_rs_spark.operators.facets import facet_counts

    idx = _index(spark, sf_dir)
    docs = _docs_adapted(spark, sf_dir)
    return facet_counts(
        spark, idx.postings, docs.select("doc_id", "lang"), FACET_QUERY, "lang", CFG
    )


_FACET_TERMS = "(VALUES " + ", ".join(
    f"('{t}')" for t in sorted(set(FACET_QUERY.split()))
) + ")"

ORACLE_FACETS = f"""
WITH {_TOKS_CTE},
q(term) AS {_FACET_TERMS},
m AS (
  SELECT doc_id
  FROM (SELECT DISTINCT doc_id, term FROM toks) dt JOIN q USING (term)
  GROUP BY doc_id
  HAVING count(*) = (SELECT count(*) FROM q)
)
SELECT d.lang, count(*)::bigint AS n_docs
FROM documents d JOIN m USING (doc_id)
GROUP BY d.lang
ORDER BY n_docs DESC, d.lang ASC
"""


# --- metadata-filtered exact top-k (allow mask through the WAND kernel) ------

def q_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k restricted to lang='de' docs via the per-(unit, shard)
    allow-set path (operators/unit_server.py:_id_sets_df) — Lucene filter
    semantics: corpus stats unchanged, candidates constrained."""
    from bliss_rs_spark.operators.pack import build_packed_index_full
    from bliss_rs_spark.operators.wand import wand_topk_units

    idx = _index(spark, sf_dir)
    packed, doc_map = build_packed_index_full(
        idx.postings, idx.term_stats, idx.n_docs, idx.avgdl, CFG
    )
    docs = _docs_adapted(spark, sf_dir)
    allowed = docs.filter(F.col("lang") == FILTER_LANG).select("doc_id")
    out = wand_topk_units(
        spark, [(0, packed, doc_map)], idx.term_stats, idx.avgdl,
        BM25_QUERY, BM25_K, CFG, allowed=allowed,
    )
    return out.select("doc_id", _r6(F.col("score")).alias("score_r"))


ORACLE_FILTERED = ORACLE_BM25.replace(
    "FROM scored ORDER BY",
    f"FROM scored WHERE doc_id IN (SELECT doc_id FROM documents WHERE lang = '{FILTER_LANG}') ORDER BY",
)


# --- result shaping: suffix wildcard, field collapse, keyset pagination --------

SUFFIX_Q, SUFFIX_K = "er", 15  # -> {customer, filter, order} at every sf


def q_suffix_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`*er` leading-wildcard expansion (reversed-term-dictionary design),
    BM25 sum semantics — operators/query_ops.py:suffix_topk."""
    from bliss_rs_spark.operators.query_ops import suffix_topk

    idx = _index(spark, sf_dir)
    out = suffix_topk(
        spark, idx.postings, idx.term_stats, idx.avgdl, SUFFIX_Q, SUFFIX_K, CFG
    )
    return out.select("doc_id", _r6(F.col("score")).alias("score_r"))


ORACLE_SUFFIX = _oracle_expanded(
    f"SELECT term FROM df WHERE ends_with(term, '{SUFFIX_Q}')", SUFFIX_K
)


COLLAPSE_PER_KEY, COLLAPSE_K = 2, 10


def q_collapse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-collapsed top-k: best <=2 hits per lang survive, then global
    top-k — operators/query_ops.py:collapse_topk (the one-hit-per-file /
    fold-vendored-copies result diversifier)."""
    from bliss_rs_spark.operators.query_ops import collapse_topk

    idx = _index(spark, sf_dir)
    keys = _docs_adapted(spark, sf_dir).select("doc_id", F.col("lang").alias("key"))
    out = collapse_topk(
        spark, idx.postings, idx.term_stats, idx.avgdl,
        BM25_QUERY, keys, COLLAPSE_K, COLLAPSE_PER_KEY, CFG,
    )
    return out.select("doc_id", "key", _r6(F.col("score")).alias("score_r"))


ORACLE_COLLAPSE = ORACLE_BM25.replace(
    f"SELECT doc_id, round(score, 6) AS score_r\nFROM scored ORDER BY score DESC, doc_id ASC LIMIT {BM25_K}",
    f"""SELECT doc_id, key, score_r FROM (
  SELECT s.doc_id, d.lang AS key, round(s.score, 6) AS score_r, s.score,
         row_number() OVER (PARTITION BY d.lang ORDER BY s.score DESC, s.doc_id ASC) AS rn
  FROM scored s JOIN documents d USING (doc_id)
) WHERE rn <= {COLLAPSE_PER_KEY} ORDER BY score DESC, doc_id ASC LIMIT {COLLAPSE_K}""",
)


PAGE_K = 10


def q_page2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset pagination: page 1's last (score, doc_id) becomes the cursor,
    page 2 is everything strictly after it (operators/query_ops.py:
    search_after).  The oracle replays the same page as LIMIT/OFFSET over
    the total order — cursor paging must agree with offset paging."""
    from bliss_rs_spark.operators.query_ops import search_after

    idx = _index(spark, sf_dir)
    page1 = search_after(
        spark, idx.postings, idx.term_stats, idx.avgdl, BM25_QUERY, PAGE_K, None, CFG
    ).collect()
    assert len(page1) == PAGE_K, "page-1 underflow: gate corpus too small"
    cursor = (page1[-1]["score"], page1[-1]["doc_id"])
    out = search_after(
        spark, idx.postings, idx.term_stats, idx.avgdl,
        BM25_QUERY, PAGE_K, cursor, CFG,
    )
    return out.select("doc_id", _r6(F.col("score")).alias("score_r"))


ORACLE_PAGE2 = ORACLE_BM25.replace(
    f"LIMIT {BM25_K}", f"LIMIT {PAGE_K} OFFSET {PAGE_K}"
)


# --- registry -------------------------------------------------------------------

def registry() -> dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]]:
    # ORDER MATTERS for the driver's correctness capture: it records the
    # FIRST 50 entries in registry order (verified programmatically, round-6
    # verdict #1), so the 26 entries that had never had a driver-side row —
    # the whole grep/search/retrieval tier shipped in rounds 5-6 — come
    # FIRST; the long-proven originals follow in their former order.  Every
    # name and its oracle SQL text are unchanged.
    return {
        "rollup_revenue": (q_rollup_revenue, ORACLE_ROLLUP_REVENUE),
        "intersect_langs": (q_intersect_langs, ORACLE_INTERSECT_LANGS),
        "json_props_stats": (q_json_props_stats, ORACLE_JSON_PROPS),
        "except_langs": (q_except_langs, ORACLE_EXCEPT_LANGS),
        "custom_topk": (q_custom_topk, _oracle_custom_topk()),
        "substring_search": (q_substring_search, ORACLE_SUBSTRING),
        "regex_search": (q_regex_search, ORACLE_REGEX),
        "grep_lines": (q_grep_lines, ORACLE_GREP_LINES),
        "substring_ci": (q_substring_ci, ORACLE_SUBSTRING_CI),
        "grep_batch": (q_grep_batch, ORACLE_GREP_BATCH),
        "boolean_topk": (q_boolean_topk, ORACLE_BOOLEAN),
        "prefix_topk": (q_prefix_topk, ORACLE_PREFIX),
        "fuzzy_topk": (q_fuzzy_topk, ORACLE_FUZZY),
        "more_like_this": (q_more_like_this, ORACLE_MLT),
        "filtered_topk": (q_filtered_topk, ORACLE_FILTERED),
        "snippet_spans": (q_snippet_spans, _oracle_snippet_spans(PHRASE)),
        "facet_counts": (q_facet_counts, ORACLE_FACETS),
        "search_query": (q_search_query, ORACLE_SEARCH),
        "substring_churn": (q_substring_churn, ORACLE_SUBSTRING_CHURN),
        "phrase_filtered": (q_phrase_filtered, ORACLE_PHRASE_FILTERED),
        "suggest_terms": (q_suggest_terms, ORACLE_SUGGEST),
        "snippet_text": (q_snippet_text, _oracle_snippet_text(PHRASE)),
        "substring_served": (q_substring_served, ORACLE_SUBSTRING),
        "suffix_topk": (q_suffix_topk, ORACLE_SUFFIX),
        "collapse_topk": (q_collapse_topk, ORACLE_COLLAPSE),
        "page2_topk": (q_page2_topk, ORACLE_PAGE2),
        "bm25_topk": (q_bm25_topk, ORACLE_BM25),
        "store_churn_topk": (q_store_churn_topk, ORACLE_STORE_CHURN),
        "store_compact_topk": (q_store_compact_topk, ORACLE_STORE_COMPACT),
        "store_rebuild_topk": (q_store_rebuild_topk, ORACLE_STORE_REBUILD),
        "term_df": (q_term_df, ORACLE_TERM_DF),
        "doc_lengths": (q_doc_lengths, ORACLE_DOC_LENGTHS),
        "corpus_stats": (q_corpus_stats, ORACLE_CORPUS_STATS),
        "hot_terms": (q_hot_terms, ORACLE_HOT_TERMS),
        "incremental_delta": (q_incremental_delta, ORACLE_INCREMENTAL_DELTA),
        "exact_dup_groups": (q_exact_dup_groups, ORACLE_EXACT_DUP),
        "dedup_keep_one": (q_dedup_keep_one, ORACLE_DEDUP_KEEP_ONE),
        "fingerprint_groups": (q_fingerprint_groups, ORACLE_FINGERPRINT),
        "minhash_signatures": (q_minhash_signatures, ORACLE_MINHASH_SIG),
        "minhash_lsh_pairs": (q_minhash_lsh_pairs, ORACLE_MINHASH_LSH),
        "neardup_components": (q_neardup_components, ORACLE_NEARDUP_COMPONENTS),
        "ngram_jaccard_pairs": (q_ngram_jaccard_pairs, ORACLE_NGRAM_JACCARD),
        "simhash": (q_simhash, ORACLE_SIMHASH),
        "simhash_neardup": (q_simhash_neardup, ORACLE_SIMHASH_NEARDUP),
        "cosine_topk": (q_cosine_topk, ORACLE_COSINE_TOPK),
        "ann_ivf_topk": (q_ann_ivf_topk, _oracle_ann_ivf()),
        "ann_ivf_topk_batch": (q_ann_ivf_topk_batch, _oracle_ann_ivf_batch()),
        "embedding_neardup": (q_embedding_neardup, _oracle_embedding_neardup()),
        "lsh_bucket_stats": (q_lsh_bucket_stats, _oracle_lsh_bucket_stats()),
        "quality": (q_quality, _oracle_quality()),
        "curate_corpus": (q_curate_corpus, _oracle_curate_corpus()),
        "token_counts": (q_token_counts, _oracle_token_counts()),
        "lang_id": (q_lang_id, _oracle_lang_id()),
        "topk_per_lang": (q_topk_per_lang, ORACLE_TOPK_PER_LANG),
        "adjacent_gap": (q_adjacent_gap, ORACLE_ADJACENT_GAP),
        "seed_union": (q_seed_union, ORACLE_SEED_UNION),
        "lang_stats": (q_lang_stats, ORACLE_LANG_STATS),
        "histogram_argmax": (q_histogram_argmax, ORACLE_HISTOGRAM_ARGMAX),
        "variance_weights": (q_variance_weights, ORACLE_VARIANCE_WEIGHTS),
        "lineitem_pricing": (q_lineitem_pricing, ORACLE_LINEITEM_PRICING),
        "repo_group_topk": (q_repo_group_topk, ORACLE_REPO_GROUP_TOPK),
        "model_scores": (q_model_scores, _oracle_model_scores()),
        "bottomk_fingerprint": (q_bottomk_fingerprint, ORACLE_BOTTOMK_FP),
        "greedy_chain": (q_greedy_chain, _oracle_greedy_chain(5)),
        "event_value_share": (q_event_value_share, ORACLE_EVENT_VALUE_SHARE),
        "phrase_match": (q_phrase_match, ORACLE_PHRASE_MATCH),
        "phrase_packed": (q_phrase_packed, ORACLE_PHRASE_MATCH),
        "phrase_churn": (q_phrase_churn, ORACLE_PHRASE_CHURN),
        "phrase_window": (q_phrase_window, _oracle_phrase_window(PHRASE)),
        "phrase_window_churn": (
            q_phrase_window_churn,
            _oracle_phrase_window(PHRASE, live_filter="doc_id % 9 <> 0"),
        ),
        "sessionize": (q_sessionize, ORACLE_SESSIONIZE),
        "event_pivot": (q_event_pivot, ORACLE_EVENT_PIVOT),
        "segment_revenue_topn": (q_segment_revenue_topn, ORACLE_SEGMENT_REVENUE),
        "phrase_then_rank": (q_phrase_then_rank, ORACLE_PHRASE_THEN_RANK),
        "window_then_rank": (q_window_then_rank, _oracle_window_then_rank()),
        "asof_purchase": (q_asof_purchase, ORACLE_ASOF_PURCHASE),
    }
