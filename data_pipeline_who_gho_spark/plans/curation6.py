"""Round-5 curation stages, second set: repetition-based quality
flags, cross-source contamination, and tokenizer fertility.

* ``gopher_repetition_flags``: the FULL multi-n repetition ladder of
  the Gopher quality rules (Rae et al., 2021 §A1.1) — top-n-gram
  fraction for n = 2..4 and duplicate-n-gram fraction for n = 5..6 —
  composed into one keep decision. Complements (does not duplicate)
  ``plans/training2.doc_repetition_stats``, which is the bigram-only
  summary with character-mass metrics; this op is the multi-n FILTER a
  curation pipeline actually gates on. Line-based Gopher variants are
  degenerate on this single-line corpus and are documented out. One
  n-gram-grain + one doc-grain shuffle per n, all counts exact
  integers, so both engines hold identical doubles.

* ``source_overlap_matrix``: pairwise cross-source contamination —
  for every source pair, how many distinct word-5-gram fingerprints
  they share, with the fingerprint-Jaccard of the pair. The join is
  per-fingerprint and each fingerprint carries at most |sources|
  distinct sources, so the pair fan-out is bounded by C(|sources|,2)
  per key — no hot-fingerprint blowup at any corpus size (contrast
  doc-grain near-dup joins, which need the LSH machinery).

* ``tokenizer_fertility``: the per-source tokenizer-efficiency rollup
  a tokenizer-training loop reports — words, BPE tokens, fertility
  (tokens/word), and chars/token under the learned merge table
  (plans/tokenizer._bpe_state). Merge application stays on the
  vocab-bounded symbol table; the corpus-scale stage is one broadcast
  join + one source-grain aggregate.

The reference has no curation surface (its ETL is observation
upserts, etl/load.py:30-52); these extend the training-data-pipeline
family of SURVEY §2c.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from ..sources.catalog import load_table, spread_by_hash
from .extensions import _sql_tokens
from .tokenizer import BPE_STEPS, _bpe_blocks, _bpe_state

# ---------------------------------------------------------------------------
# Gopher-style repetition flags
# ---------------------------------------------------------------------------

# Thresholds adapted to word-grain n-grams (Gopher's published numbers
# are character-fraction thresholds and decrease with n); chosen so the
# decision is live on real corpora rather than vacuously true.
_TOP_FRAC_MAX = {2: 0.10, 3: 0.08, 4: 0.06}
_DUP_FRAC_MAX = {5: 0.03, 6: 0.02}


def _ngrams(toks: F.Column, n: int) -> F.Column:
    """Word n-grams of a token array as space-joined strings; arrays
    shorter than n yield the empty list (guarded — Spark's
    ``sequence(1, 0)`` would otherwise count DOWN)."""
    make = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + k) for k in range(n)]
        ),
    )
    return F.when(F.size(toks) >= n, make).otherwise(
        F.array().cast("array<string>")
    )


def _sql_ngrams(toks: str, n: int) -> str:
    parts = " || ' ' || ".join(f"{toks}[i + {k}]" for k in range(n))
    return (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"list_transform(range(1, len({toks}) - {n - 2}), i -> {parts}) "
        f"ELSE [] END"
    )


def gopher_repetition_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc multi-n repetition signals + composed keep decision.
    top{n}_frac (n = 2..4) = occurrences of the single most common
    n-gram / all n-gram occurrences; dup{n}_frac (n = 5..6) =
    1 - distinct/total n-gram occurrences. Docs too short for a given
    n report 0.0 for it (every-doc contract); keep = all thresholds
    pass."""
    docs = load_table(spark, sf_dir, "documents")
    # r13 (2nd pass): every one of the five repetition signals is a
    # strictly PER-DOC statistic (top/distinct/total n-gram occurrence
    # counts within one document), so the explode → groupBy(doc_id, g)
    # → re-agg → 5-way join pipeline paid ~13 shuffles of the full gram
    # stream for quantities the token array already holds.  Each signal
    # now comes from ONE map-side sorted-run aggregate over the doc's
    # n-gram array (_rep_stats): max consecutive run in the sorted
    # array IS the top count, run boundaries count the distincts,
    # O(t log t) per doc, zero gram bytes shuffled (guide §2.2/§2.3).
    # Same doubles — full-output collect equality against the
    # groupBy form verified, and the oracle is unchanged.  The
    # every-doc contract holds: too-short docs aggregate an empty
    # array, and the t = 0 case is guarded with when() — under the
    # session's ANSI default (Spark 4) a bare 0/0 division raises
    # DIVIDE_BY_ZERO instead of yielding NULL (ADVICE r13 high; the
    # fixture has no too-short docs, but real corpora do).
    toks = spread_by_hash(docs.select("doc_id", "text"), "doc_id").select(
        "doc_id", TX.tokens(F.col("text")).alias("toks")
    )
    frac_cols: list[F.Column] = []
    for n in _TOP_FRAC_MAX:
        s = _rep_stats("toks", n)
        frac_cols.append(
            F.when(
                s["t"] > 0, s["mx"].cast("double") / s["t"].cast("double")
            )
            .otherwise(F.lit(0.0))
            .alias(f"top{n}_frac")
        )
    for n in _DUP_FRAC_MAX:
        s = _rep_stats("toks", n)
        frac_cols.append(
            F.when(
                s["t"] > 0,
                (s["t"] - s["d"]).cast("double") / s["t"].cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias(f"dup{n}_frac")
        )
    projected = toks.select("doc_id", *frac_cols)
    keep = F.lit(True)
    for n, thr in _TOP_FRAC_MAX.items():
        keep = keep & (F.col(f"top{n}_frac") <= thr)
    for n, thr in _DUP_FRAC_MAX.items():
        keep = keep & (F.col(f"dup{n}_frac") <= thr)
    return projected.withColumn("keep", keep).orderBy("doc_id")


def _rep_stats(toks_col: str, n: int) -> F.Column:
    """Struct(mx, d, t) of a doc's word n-gram multiset — max single
    n-gram count, distinct n-grams, total occurrences — computed in the
    ARRAY domain: sort the n-gram array, then one aggregate() pass
    counts the longest equal run (mx), run boundaries (d) and length
    (t).  Exactly the numbers the exploded groupBy produced, with no
    shuffle.  The size guard mirrors _ngrams (sequence() counts DOWN
    for start > stop)."""
    grams = ", ".join(f"element_at({toks_col}, i + {k})" for k in range(n))
    return F.expr(
        f"""aggregate(
      array_sort(transform(
        CASE WHEN size({toks_col}) >= {n}
             THEN sequence(1, size({toks_col}) - {n - 1}) ELSE array() END,
        i -> concat_ws(' ', {grams}))),
      named_struct('prev', CAST(NULL AS STRING),
                   'run', 0L, 'mx', 0L, 'd', 0L, 't', 0L),
      (acc, x) -> named_struct(
        'prev', x,
        'run', IF(x = acc.prev, acc.run + 1, 1L),
        'mx', greatest(acc.mx, IF(x = acc.prev, acc.run + 1, 1L)),
        'd', acc.d + IF(x = acc.prev, 0L, 1L),
        't', acc.t + 1L),
      acc -> acc)"""
    )


def _gopher_sql() -> str:
    ctes = [f"toks AS (SELECT doc_id, {_sql_tokens()} AS toks FROM documents)"]
    sel = []
    joins = []
    keep = []
    for n in _TOP_FRAC_MAX:
        ctes.append(
            f"""g{n} AS (
  SELECT doc_id, unnest({_sql_ngrams("toks", n)}) AS g FROM toks
),
s{n} AS (
  SELECT doc_id, MAX(c) AS top_n, CAST(SUM(c) AS BIGINT) AS n_all
  FROM (SELECT doc_id, g, COUNT(*) AS c FROM g{n} GROUP BY doc_id, g)
  GROUP BY doc_id
)"""
        )
        expr = (
            f"COALESCE(CAST(s{n}.top_n AS DOUBLE) / CAST(s{n}.n_all AS DOUBLE), 0.0)"
        )
        sel.append(f"{expr} AS top{n}_frac")
        joins.append(f"LEFT JOIN s{n} USING (doc_id)")
        keep.append(f"{expr} <= {_TOP_FRAC_MAX[n]}")
    for n in _DUP_FRAC_MAX:
        ctes.append(
            f"""g{n} AS (
  SELECT doc_id, unnest({_sql_ngrams("toks", n)}) AS g FROM toks
),
s{n} AS (
  SELECT doc_id, COUNT(*) AS t_n, COUNT(DISTINCT g) AS d_n
  FROM g{n} GROUP BY doc_id
)"""
        )
        expr = (
            f"COALESCE(CAST(s{n}.t_n - s{n}.d_n AS DOUBLE)"
            f" / CAST(s{n}.t_n AS DOUBLE), 0.0)"
        )
        sel.append(f"{expr} AS dup{n}_frac")
        joins.append(f"LEFT JOIN s{n} USING (doc_id)")
        keep.append(f"{expr} <= {_DUP_FRAC_MAX[n]}")
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT d.doc_id,\n       "
        + ",\n       ".join(sel)
        + ",\n       "
        + " AND ".join(keep)
        + " AS keep"
        + "\nFROM (SELECT doc_id FROM documents) d\n"
        + "\n".join(joins)
        + "\nORDER BY d.doc_id"
    )


GOPHER_REPETITION_SQL = _gopher_sql()


# ---------------------------------------------------------------------------
# cross-source contamination matrix
# ---------------------------------------------------------------------------

_OVERLAP_K = 5


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source_a, source_b, shared, jaccard) for every source pair
    sharing at least one distinct word-5-gram fingerprint. The pair
    join is keyed on the fingerprint and each key holds ≤ |sources|
    rows, so fan-out per key is bounded by C(|sources|, 2) regardless
    of how hot the fingerprint is — the scale-safe shape for
    set-overlap rollups."""
    docs = load_table(spark, sf_dir, "documents")
    # r13: spread the one-task scan, and materialize the distinct
    # fingerprint set ONCE — it feeds three subtrees (census + both pair
    # sides). Values identical.
    toks = spread_by_hash(docs.select("source", "text"), "text").select(
        "source", TX.tokens(F.col("text")).alias("toks")
    )
    fs = (
        toks.select(
            "source",
            F.explode(_ngrams(F.col("toks"), _OVERLAP_K)).alias("g"),
        )
        .select("source", F.md5("g").alias("fp"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    per_source = fs.groupBy("source").agg(F.count(F.lit(1)).alias("n_fp"))
    a = fs.select(F.col("fp"), F.col("source").alias("source_a"))
    b = fs.select(F.col("fp"), F.col("source").alias("source_b"))
    pairs = (
        a.join(b, "fp")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    na = per_source.select(
        F.col("source").alias("source_a"), F.col("n_fp").alias("n_a")
    )
    nb = per_source.select(
        F.col("source").alias("source_b"), F.col("n_fp").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a",
            "source_b",
            "shared",
            (
                F.col("shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("shared")).cast("double")
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


SOURCE_OVERLAP_SQL = f"""
WITH toks AS (
  SELECT source, {_sql_tokens()} AS toks FROM documents
),
fs AS (
  SELECT DISTINCT source, md5(g) AS fp FROM (
    SELECT source, unnest({_sql_ngrams("toks", _OVERLAP_K)}) AS g FROM toks
  )
),
per_source AS (
  SELECT source, COUNT(*) AS n_fp FROM fs GROUP BY source
),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS shared
  FROM fs a JOIN fs b ON a.fp = b.fp AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT p.source_a, p.source_b, p.shared,
       CAST(p.shared AS DOUBLE)
         / CAST(na.n_fp + nb.n_fp - p.shared AS DOUBLE) AS jaccard
FROM pairs p
JOIN per_source na ON na.source = p.source_a
JOIN per_source nb ON nb.source = p.source_b
ORDER BY p.source_a, p.source_b
"""


# ---------------------------------------------------------------------------
# tokenizer fertility per source
# ---------------------------------------------------------------------------


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer efficiency under the learned BPE merges:
    docs, words, BPE tokens, fertility (tokens per word) and chars per
    token. word → (n_bpe, n_chars) is a property of the vocab-bounded
    symbol table; the corpus-scale stage is one broadcast join + one
    source-grain partial aggregate."""
    state = _bpe_state(spark, sf_dir)
    word_stats = state.groupBy("word").agg(
        F.count(F.lit(1)).alias("n_bpe"),
        F.sum(F.length("sym")).alias("n_chars"),
    )
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", "source", F.explode(TX.tokens(F.col("text"))).alias("word")
    ).filter(F.length("word") > 0)
    return (
        words.join(F.broadcast(word_stats), "word")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_bpe").cast("long").alias("n_bpe_tokens"),
            (
                F.sum("n_bpe").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("fertility"),
            (
                F.sum("n_chars").cast("double")
                / F.sum("n_bpe").cast("double")
            ).alias("chars_per_token"),
        )
        .orderBy("source")
    )


TOKENIZER_FERTILITY_SQL = f"""{_bpe_blocks()},
word_stats AS MATERIALIZED (
  SELECT word, COUNT(*) AS n_bpe, SUM(length(sym)) AS n_chars
  FROM state{BPE_STEPS} GROUP BY word
),
doc_words AS (
  SELECT doc_id, source,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
  FROM documents
)
SELECT source,
       COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(*) AS n_words,
       CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(n_bpe) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS fertility,
       CAST(SUM(n_chars) AS DOUBLE) / CAST(SUM(n_bpe) AS DOUBLE)
         AS chars_per_token
FROM doc_words JOIN word_stats USING (word)
WHERE length(word) > 0
GROUP BY source ORDER BY source
"""


CURATION6_QUERIES = {
    "gopher_repetition_flags": gopher_repetition_flags,
    "source_overlap_matrix": source_overlap_matrix,
    "tokenizer_fertility": tokenizer_fertility,
}

CURATION6_ORACLE_SQL = {
    "gopher_repetition_flags": GOPHER_REPETITION_SQL,
    "source_overlap_matrix": SOURCE_OVERLAP_SQL,
    "tokenizer_fertility": TOKENIZER_FERTILITY_SQL,
}
