"""Round-6 flagship: the end-to-end corpus build.

``corpus_build_e2e`` chains the already-green curation stages into the
ONE query a training-data customer actually runs — ingest with
duplicates → exact dedup → near-dup canonicalization → Gopher quality
gate → stratified split + shard assignment → greedy sequence packing —
and emits the shard manifest TOGETHER with the per-stage attrition
funnel. The per-op gates verify each stage in isolation; this pins the
STAGE INTERFACES (what each stage consumes from the previous one),
which per-op gates cannot see drift in.

Stage contracts are imported from their home modules, not re-derived:

* ingest base: the hybrid corpus of ``plans/extensions._corpus`` —
  documents plus exact re-ingested copies (doc_id+1000000 for
  doc_id % 7 == 0), the same dup-bearing batch the dedup family uses
* exact dedup: keep the min doc_id per md5(text) fingerprint
  (``dedup_exact``'s contract)
* near dedup: keep only cluster canonicals from ``dedup_clusters``
  (word-5-gram Jaccard >= 0.6 -> connected components -> min-id
  canonical); docs in no cluster pass through
* quality: ``curation7.gopher_quality_flags``'s kept decision
* split: ``training.train_split_assign``'s md5 80/10/10 buckets
* shard: ``curation2.shard_manifest``'s md5 shard id, folded mod 4
  so every (split, shard) packing stream stays non-trivially filled
* packing: ``training2.seq_packing``'s greedy fold (cap 256), one
  independent stream per (split, shard) under applyInPandas

Scale shape: every stage is the home operator's plan — inverted-index
candidate generation, checkpointed components, map-only flags and
hashes — composed by doc_id equi-joins; the packing stream count is
the (split, shard) grid, which at 100 TB is the knob you widen (the
home operator uses 32 hash buckets for exactly that reason). The
oracle replays the identical chain in one WITH RECURSIVE statement
(transitive-closure clusters + per-stream recursive pack fold).

The reference has no corpus surface at all (pandas observation upserts,
etl/transform.py:1); this integrates SURVEY §2c's training-data
pipeline family.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as TX
from ..sources.catalog import load_table
from .curation7 import _GQ_MAX_MWL, _GQ_MAX_WORDS, _GQ_MIN_MWL, _GQ_MIN_STOP, _GQ_MIN_WORDS
from .extensions import CLUSTERS_CTES, _corpus, _sql_n_tokens
from .training import _nibble, _sql_nibble
from .training2 import PACK_CAP

_E2E_SHARDS = 4  # split x shard grid: 3 splits x 4 shards = 12 streams


def _funnel_row(df: DataFrame, stage: str) -> DataFrame:
    """One attrition row: doc + token volume surviving after ``stage``."""
    return df.agg(
        F.lit(stage).alias("stage"),
        F.lit("*").alias("split"),
        F.lit(-1).cast("long").alias("shard"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.lit(None).cast("long").alias("n_seqs"),
    )


def corpus_build_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .curation7 import gopher_quality_flags
    from .extensions import dedup_clusters

    # r13: the three stage INPUTS — the fingerprinted corpus, the
    # near-dup clusters (the expensive CC chain), and the Gopher kept
    # flags — are independent pipelines that each underfill the cluster,
    # and the lazy composition both re-ran them per funnel consumer and
    # executed them back-to-back.  Materialize the three concurrently
    # (threads submit the jobs at once; the scheduler interleaves idle
    # slots — guide §2.7), then chain the cheap stage joins over the
    # checkpointed few-k-row frames.  Same stage contracts, same rows.
    from concurrent.futures import ThreadPoolExecutor

    def _base() -> DataFrame:
        return _corpus(spark, sf_dir).select(
            "doc_id",
            TX.token_count("text").cast("long").alias("n_tok"),
            TX.fingerprint_md5("text").alias("fp"),
        ).localCheckpoint(eager=True)

    def _clusters() -> DataFrame:
        return dedup_clusters(spark, sf_dir).select(
            "doc_id", "canonical_id"
        ).localCheckpoint(eager=True)

    def _kept() -> DataFrame:
        return gopher_quality_flags(spark, sf_dir).select(
            "doc_id", "kept"
        ).localCheckpoint(eager=True)

    with ThreadPoolExecutor(max_workers=3) as ex:
        base_f, clusters_f, kept_f = ex.submit(_base), ex.submit(_clusters), ex.submit(_kept)
        base, clusters, kept = base_f.result(), clusters_f.result(), kept_f.result()

    # stage 1: exact dedup (keep the first ingest of each fingerprint)
    owners = base.groupBy("fp").agg(F.min("doc_id").alias("keeper"))
    s1 = (
        base.join(owners, "fp")
        .filter(F.col("doc_id") == F.col("keeper"))
        .select("doc_id", "n_tok")
        .localCheckpoint(eager=True)
    )
    # stage 2: near dedup — only cluster canonicals survive
    s2 = (
        s1.join(clusters, "doc_id", "left")
        .filter(
            F.col("canonical_id").isNull()
            | (F.col("canonical_id") == F.col("doc_id"))
        )
        .select("doc_id", "n_tok")
        .localCheckpoint(eager=True)
    )
    # stage 3: Gopher quality gate (per-doc kept decision)
    s3 = (
        s2.join(kept, "doc_id")
        .filter(F.col("kept"))
        .select("doc_id", "n_tok")
        .localCheckpoint(eager=True)
    )
    # stage 4: stratified split + shard assignment, then greedy packing
    # per (split, shard) stream
    h = F.md5(F.col("doc_id").cast("string").cast("binary"))
    assigned = s3.withColumn("h", h)
    bucket = (
        ((_nibble("h", 1) * 16 + _nibble("h", 2)) * 16 + _nibble("h", 3)) * 16
        + _nibble("h", 4)
    ) % 10
    split = (
        F.when(bucket <= 7, F.lit("train"))
        .when(bucket == 8, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    shard = ((_nibble("h", 1) * 16 + _nibble("h", 2)) % _E2E_SHARDS).cast("long")
    assigned = assigned.select(
        "doc_id", "n_tok", split.alias("split"), shard.alias("shard")
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        seq_no, fill = 0, 0
        for n in pdf["n_tok"]:
            n = int(n)
            if fill > 0 and fill + n > PACK_CAP:
                seq_no += 1
                fill = 0
            fill += n
        return pd.DataFrame(
            {
                "split": [pdf["split"].iloc[0]],
                "shard": [int(pdf["shard"].iloc[0])],
                "n_docs": [len(pdf)],
                "n_tokens": [int(pdf["n_tok"].sum())],
                "n_seqs": [seq_no + 1],
            }
        )

    manifest = (
        assigned.groupBy("split", "shard")
        .applyInPandas(
            pack,
            "split string, shard long, n_docs long, n_tokens long, n_seqs long",
        )
        .select(
            F.lit("4_manifest").alias("stage"),
            "split",
            "shard",
            "n_docs",
            "n_tokens",
            "n_seqs",
        )
    )
    funnel = (
        _funnel_row(base, "0_ingest")
        .unionByName(_funnel_row(s1, "1_exact_dedup"))
        .unionByName(_funnel_row(s2, "2_near_dedup"))
        .unionByName(_funnel_row(s3, "3_gopher_kept"))
    )
    return funnel.unionByName(manifest).orderBy("stage", "split", "shard")


def _e2e_sql() -> str:
    from .curation7 import _GQ_STOPWORDS
    from .extensions import _sql_tokens

    n_tok = f"CAST({_sql_n_tokens()} AS BIGINT)"
    toks = _sql_tokens()
    char_mass = f"list_sum(list_transform({toks}, w -> length(w)))"
    n_stop = " + ".join(
        f"CASE WHEN list_contains({toks}, '{w}') THEN 1 ELSE 0 END"
        for w in _GQ_STOPWORDS
    )
    split_bucket = (
        f"((({_sql_nibble('h', 1)} * 16 + {_sql_nibble('h', 2)}) * 16 + "
        f"{_sql_nibble('h', 3)}) * 16 + {_sql_nibble('h', 4)}) % 10"
    )
    shard = f"(({_sql_nibble('h', 1)} * 16 + {_sql_nibble('h', 2)}) % {_E2E_SHARDS})"
    # every CTE upstream of the recursive pack fold is MATERIALIZED:
    # the recursion joins pk_base once PER ITERATION, and without the
    # hint DuckDB re-inlines the whole chain — including the clusters
    # transitive closure — each time (measured: >570 s at sf0.1 vs ~2 s
    # materialized; the verify-skill gotcha list calls this out)
    return f"""
WITH RECURSIVE {CLUSTERS_CTES},
base AS MATERIALIZED (SELECT doc_id, {n_tok} AS n_tok, md5(text) AS fp FROM corpus),
s1 AS MATERIALIZED (
  SELECT b.doc_id, b.n_tok FROM base b
  JOIN (SELECT fp, MIN(doc_id) AS keeper FROM base GROUP BY fp) o
    ON b.fp = o.fp AND b.doc_id = o.keeper
),
s2 AS MATERIALIZED (
  SELECT s1.doc_id, s1.n_tok FROM s1
  LEFT JOIN clusters c ON s1.doc_id = c.doc_id
  WHERE c.doc_id IS NULL OR c.canonical_id = s1.doc_id
),
gq AS MATERIALIZED (
  SELECT doc_id,
         ({n_tok} >= {_GQ_MIN_WORDS} AND {n_tok} <= {_GQ_MAX_WORDS}
          AND round(CAST({char_mass} AS DOUBLE) / {_sql_n_tokens()}, 6)
                BETWEEN {_GQ_MIN_MWL} AND {_GQ_MAX_MWL}
          AND ({n_stop}) >= {_GQ_MIN_STOP}) AS kept
  FROM documents
),
s3 AS MATERIALIZED (SELECT s2.doc_id, s2.n_tok FROM s2 JOIN gq USING (doc_id) WHERE kept),
assigned AS MATERIALIZED (
  SELECT doc_id, n_tok,
         CASE WHEN {split_bucket} <= 7 THEN 'train'
              WHEN {split_bucket} = 8 THEN 'val'
              ELSE 'test' END AS split,
         CAST({shard} AS BIGINT) AS shard
  FROM (SELECT *, md5(CAST(doc_id AS VARCHAR)) AS h FROM s3)
),
pk_base AS MATERIALIZED (
  SELECT split, shard, doc_id, n_tok,
         row_number() OVER (PARTITION BY split, shard ORDER BY doc_id) AS rn
  FROM assigned
),
pack AS (
  SELECT split, shard, rn, n_tok, CAST(0 AS BIGINT) AS seq_no,
         CAST(n_tok AS BIGINT) AS seq_fill
  FROM pk_base WHERE rn = 1
  UNION ALL
  SELECT b.split, b.shard, b.rn, b.n_tok,
         CASE WHEN p.seq_fill > 0 AND p.seq_fill + b.n_tok > {PACK_CAP}
              THEN p.seq_no + 1 ELSE p.seq_no END,
         CASE WHEN p.seq_fill > 0 AND p.seq_fill + b.n_tok > {PACK_CAP}
              THEN CAST(b.n_tok AS BIGINT) ELSE p.seq_fill + b.n_tok END
  FROM pack p
  JOIN pk_base b ON b.split = p.split AND b.shard = p.shard AND b.rn = p.rn + 1
),
manifest AS (
  SELECT '4_manifest' AS stage, split, shard,
         COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         MAX(seq_no) + 1 AS n_seqs
  FROM pack GROUP BY split, shard
),
funnel AS (
  SELECT '0_ingest' AS stage, '*' AS split, CAST(-1 AS BIGINT) AS shard,
         COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         CAST(NULL AS BIGINT) AS n_seqs FROM base
  UNION ALL
  SELECT '1_exact_dedup', '*', -1, COUNT(*), CAST(SUM(n_tok) AS BIGINT), NULL FROM s1
  UNION ALL
  SELECT '2_near_dedup', '*', -1, COUNT(*), CAST(SUM(n_tok) AS BIGINT), NULL FROM s2
  UNION ALL
  SELECT '3_gopher_kept', '*', -1, COUNT(*), CAST(SUM(n_tok) AS BIGINT), NULL FROM s3
)
SELECT * FROM funnel
UNION ALL
SELECT * FROM manifest
ORDER BY stage, split, shard
"""


CORPUS_BUILD_E2E_SQL = _e2e_sql()


# ---------------------------------------------------------------------------
# Small-fragment compaction plan (the lakehouse OPTIMIZE/compact op)
# ---------------------------------------------------------------------------

_FRAG_MOD = 37  # simulated input fragments: doc_id % 37 within a source
_COMPACT_CAP = 2000  # target output-shard payload bytes


def compact_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction PLAN: assign each input fragment to an
    output shard so shards approach the target size — the OPTIMIZE /
    compaction pass every parquet lake runs after streaming or
    per-partition ingestion leaves thousands of undersized files.

    Input fragments are simulated deterministically (doc_id % 37 within
    each source; sizes = summed n_chars). Fold: walk a source's
    fragments in frag_id order, first-fit into the current shard, open
    a new shard when the next fragment would overflow the cap (an
    over-cap fragment keeps a shard of its own — it is already
    compact). The output is the MAPPING (source, frag_id -> out_shard)
    plus fragment volumes — the plan a rewrite job executes; emitting
    the decision rather than rewritten bytes keeps the op
    oracle-checkable.

    Scale shape: identical to ``training2.seq_packing`` — folding is
    sequential per stream, so streams (sources; at 100 TB, table
    partitions) pack independently under ``applyInPandas``, one task
    each. The cap is deliberately in-band at the gate scale so BOTH
    behaviors occur: multi-fragment merges and over-cap singletons.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    frags = docs.groupBy(
        "source", F.pmod(F.col("doc_id"), F.lit(_FRAG_MOD)).alias("frag_id")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_bytes"),
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("frag_id").reset_index(drop=True)
        shard, fill, out = 0, 0, []
        for b in pdf["n_bytes"]:
            b = int(b)
            if fill > 0 and fill + b > _COMPACT_CAP:
                shard += 1
                fill = 0
            fill += b
            out.append(shard)
        pdf["out_shard"] = out
        return pdf[["source", "frag_id", "n_docs", "n_bytes", "out_shard"]]

    return (
        frags.groupBy("source")
        .applyInPandas(
            fold,
            "source string, frag_id long, n_docs long, n_bytes long, out_shard long",
        )
        .orderBy("source", "frag_id")
    )


COMPACT_SHARDS_SQL = f"""
WITH RECURSIVE frags AS MATERIALIZED (
  SELECT source, doc_id % {_FRAG_MOD} AS frag_id,
         COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_bytes,
         row_number() OVER (PARTITION BY source ORDER BY doc_id % {_FRAG_MOD}) AS rn
  FROM documents GROUP BY source, doc_id % {_FRAG_MOD}
),
fold AS (
  SELECT source, rn, frag_id, n_docs, n_bytes,
         CAST(0 AS BIGINT) AS out_shard, n_bytes AS fill
  FROM frags WHERE rn = 1
  UNION ALL
  SELECT f.source, f.rn, f.frag_id, f.n_docs, f.n_bytes,
         CASE WHEN p.fill > 0 AND p.fill + f.n_bytes > {_COMPACT_CAP}
              THEN p.out_shard + 1 ELSE p.out_shard END,
         CASE WHEN p.fill > 0 AND p.fill + f.n_bytes > {_COMPACT_CAP}
              THEN f.n_bytes ELSE p.fill + f.n_bytes END
  FROM fold p JOIN frags f ON f.source = p.source AND f.rn = p.rn + 1
)
SELECT source, CAST(frag_id AS BIGINT) AS frag_id, n_docs, n_bytes, out_shard
FROM fold
ORDER BY source, frag_id
"""


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of lexical and semantic lists
# ---------------------------------------------------------------------------

_RRF_K = 60  # the standard RRF damping constant (Cormack et al., 2009)
_RRF_LIST_K = 20  # depth of each input list
_RRF_TOPK = 10
_RRF_QUERY_VEC = 0  # semantic query: doc 0's embedding


def rrf_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: fuse the BM25 lexical top-20
    (``extensions2.bm25_search``, fixed term query) with the
    embedding-cosine semantic top-20 (query = doc 0's vector, self
    excluded) by reciprocal-rank fusion. Fixture docs and vectors share
    the 0..N-1 id space, so the two lists fuse doc-level; a production
    deployment would embed the SAME text query — that encoder call is
    the ``embed_with_model`` seam.

    RRF score = Σ_lists floor(1e6 / (k + rank)) in integer micro-units
    (k = 60), so fusion is EXACT in both engines — the float cosines
    and BM25 scores only ever order their own list. Scale shape: both
    lists are top-k-bounded (WindowGroupLimit / TakeOrdered), the
    fusion is a k-row full-outer join — everything after the two
    retrievals is query-budget-sized, never corpus-sized.
    """
    from ..functions import vectors as VEC
    from .extensions2 import bm25_search

    wl = Window.orderBy(F.desc("score"), "doc_id")
    lex = (
        bm25_search(spark, sf_dir)
        .withColumn("lex_rank", F.row_number().over(wl))
        .select(F.col("doc_id").alias("lex_id"), "lex_rank")
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", VEC.as_double("embedding").alias("v")
    )
    qv = emb.filter(F.col("vec_id") == _RRF_QUERY_VEC).select(
        F.col("v").alias("qv")
    )
    ws = Window.orderBy(F.desc("cos"), "vec_id")
    sem = (
        emb.filter(F.col("vec_id") != _RRF_QUERY_VEC)
        .crossJoin(F.broadcast(qv))
        .withColumn("cos", VEC.cosine(F.col("qv"), F.col("v")))
        .orderBy(F.desc("cos"), "vec_id")
        .limit(_RRF_LIST_K)
        .withColumn("sem_rank", F.row_number().over(ws))
        .select(F.col("vec_id").alias("sem_id"), "sem_rank")
    )
    contrib = lambda r: F.coalesce(  # noqa: E731
        F.floor(F.lit(1_000_000) / (F.lit(_RRF_K) + F.col(r))).cast("long"),
        F.lit(0).cast("long"),
    )
    fused = (
        lex.join(sem, F.col("lex_id") == F.col("sem_id"), "full_outer")
        .select(
            F.coalesce(F.col("lex_id"), F.col("sem_id")).alias("doc_id"),
            "lex_rank",
            "sem_rank",
            (contrib("lex_rank") + contrib("sem_rank")).alias("rrf_micro"),
        )
    )
    wf = Window.orderBy(F.desc("rrf_micro"), "doc_id")
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= _RRF_TOPK)
        .select("rank", "doc_id", "lex_rank", "sem_rank", "rrf_micro")
    )


def _rrf_sql() -> str:
    from .extensions2 import BM25_SQL

    contrib = "COALESCE(CAST(floor(1000000.0 / ({k} + {r})) AS BIGINT), 0)"
    return f"""
WITH lex AS (
  SELECT doc_id AS lex_id,
         row_number() OVER (ORDER BY score DESC, doc_id) AS lex_rank
  FROM ({BM25_SQL})
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = {_RRF_QUERY_VEC}),
scored AS (
  SELECT vec_id,
         list_sum(list_transform(list_zip(qv, v), x -> x[1] * x[2]))
         / (sqrt(list_sum(list_transform(qv, x -> x * x)))
            * sqrt(list_sum(list_transform(v, x -> x * x)))) AS cos
  FROM e CROSS JOIN q WHERE vec_id <> {_RRF_QUERY_VEC}
),
sem AS (
  SELECT vec_id AS sem_id, sem_rank FROM (
    SELECT vec_id, row_number() OVER (ORDER BY cos DESC, vec_id) AS sem_rank
    FROM scored
  ) WHERE sem_rank <= {_RRF_LIST_K}
),
fused AS (
  SELECT COALESCE(lex_id, sem_id) AS doc_id, lex_rank, sem_rank,
         {contrib.format(k=_RRF_K, r="lex_rank")}
           + {contrib.format(k=_RRF_K, r="sem_rank")} AS rrf_micro
  FROM lex FULL OUTER JOIN sem ON lex_id = sem_id
)
SELECT rank, doc_id, lex_rank, sem_rank, rrf_micro FROM (
  SELECT *, row_number() OVER (ORDER BY rrf_micro DESC, doc_id) AS rank
  FROM fused
) WHERE rank <= {_RRF_TOPK}
"""


RRF_HYBRID_SQL = _rrf_sql()


CURATION9_QUERIES = {
    "corpus_build_e2e": corpus_build_e2e,
    "compact_shards": compact_shards,
    "rrf_hybrid_search": rrf_hybrid_search,
}

CURATION9_ORACLE_SQL = {
    "corpus_build_e2e": CORPUS_BUILD_E2E_SQL,
    "compact_shards": COMPACT_SHARDS_SQL,
    "rrf_hybrid_search": RRF_HYBRID_SQL,
}
