"""Tokenizer-training operators: BPE merge learning on the driver.

``bpe_learn_merges`` runs the first K iterations of byte-pair-encoding
vocabulary learning (Sennrich et al., 2016) — the tokenizer-training
step of an LLM data pipeline — in two steps:

1. ONE Spark aggregation builds the corpus word-frequency table (the
   same plan as ``vocab_top_tokens``) and collects it. This is the only
   stage that touches corpus-sized data; BPE trainers never re-scan the
   corpus per merge.
2. ``learn_bpe`` runs the K greedy merges over that table on the
   driver. Per step it counts adjacent symbol pairs weighted by word
   frequency, picks the arg-max pair (ties by ``(left, right)`` in
   code-point order, which is the UTF-8 byte order Spark and DuckDB
   sort strings by) and merges it LEFT-TO-RIGHT without overlap
   (merging ('a','a') in "aaaa" gives "aa","aa"). It stops early, and
   keeps the state, when no adjacent pair is left.

The other operators apply the final symbol state — one DataFrame
``(word, freq, pos, sym)``, built by one ``createDataFrame`` — to the
corpus with a broadcast join; document text is never re-processed per
merge.

Size limit: the state has Σ len(word) rows over the vocabulary. It
must fit in driver memory and in one ``createDataFrame``.

The DuckDB oracle unrolls the same K iterations as CTE blocks from the
same constants, as an independent SQL reference.

Output: one row per learned merge (step, left, right, merged,
pair_freq) — the merge table a BPE tokenizer ships with.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as TX
from ..sources.catalog import load_table

BPE_STEPS = 6

_MERGES_SCHEMA = (
    "step int, `left` string, `right` string, merged string, pair_freq long"
)
_STATE_SCHEMA = "word string, freq long, pos int, sym string"


def learn_bpe(
    word_freq: dict[str, int], steps: int
) -> tuple[list[tuple[int, str, str, str, int]], dict[str, list[str]]]:
    """The first ``steps`` greedy BPE merges over a word → frequency
    table: the merge rows (step, left, right, merged, pair_freq) and
    every word's final symbols."""
    state = {w: list(w) for w in word_freq}
    merges = []
    for step in range(1, steps + 1):
        pairs: Counter = Counter()
        for w, syms in state.items():
            for pair in zip(syms, syms[1:]):
                pairs[pair] += word_freq[w]
        if not pairs:
            break
        (a, b), freq = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, a, b, a + b, freq))
        for w, syms in state.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == (a, b):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            state[w] = out
    return merges, state


def _word_freq(spark: SparkSession, sf_dir: str) -> dict[str, int]:
    """Corpus word → frequency: one Spark aggregation, collected."""
    docs = load_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return {r["word"]: r["freq"] for r in wf.collect()}


def _bpe_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned symbol state: one (word, freq, pos, sym) row per
    symbol of every vocabulary word after the K merges."""
    word_freq = _word_freq(spark, sf_dir)
    _, state = learn_bpe(word_freq, BPE_STEPS)
    rows = [
        (w, word_freq[w], pos, sym)
        for w, syms in state.items()
        for pos, sym in enumerate(syms)
    ]
    return spark.createDataFrame(rows, _STATE_SCHEMA)


def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First K=6 BPE merges learned from the corpus word-frequency
    table (fewer when the pairs run out). See module docstring; the
    corpus is scanned exactly once."""
    merges, _ = learn_bpe(_word_freq(spark, sf_dir), BPE_STEPS)
    return spark.createDataFrame(merges, _MERGES_SCHEMA)


def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus under the learned BPE vocabulary: per-doc
    word and BPE-token counts (the sequence-length accounting a packing
    / curriculum stage consumes). ALL merge application happens on the
    vocab-bounded symbol table — a word's token count under the merge
    table is a property of the word, so the corpus-scale stage is just
    a broadcast join of (word → symbol count) onto exploded doc words
    plus one partial-agg'd doc_id aggregate. No document text is ever
    re-processed per merge; that is the production shape of distributed
    tokenization under a trained tokenizer."""
    state = _bpe_state(spark, sf_dir)
    word_len = state.groupBy("word").agg(F.count(F.lit(1)).alias("n_bpe"))
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("word")
    ).filter(F.length("word") > 0)
    return (
        words.join(F.broadcast(word_len), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_bpe").alias("n_bpe_tokens"),
        )
        .orderBy("doc_id")
    )


def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode every document to its BPE token SEQUENCE under the
    learned merges: rows (doc_id, seq_pos, token), ordered by word
    position then symbol position within the word — the actual trainer
    input surface. Merge application stays on the vocab-bounded symbol
    table (a word's symbol sequence is a property of the word); the
    corpus-scale stage is one broadcast join of word → ordered symbols
    onto position-exploded doc words plus a PER-DOC sequence window
    (bounded by document length — never a corpus-global sort)."""
    state = _bpe_state(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.posexplode(TX.tokens(F.col("text"))).alias("wpos", "word")
    ).filter(F.length("word") > 0)
    enc = words.join(
        F.broadcast(state.select("word", F.col("pos").alias("spos"), "sym")),
        "word",
    )
    w = Window.partitionBy("doc_id").orderBy("wpos", "spos")
    return enc.select(
        "doc_id",
        F.row_number().over(w).alias("seq_pos"),
        F.col("sym").alias("token"),
    ).orderBy("doc_id", "seq_pos")


def bpe_encode_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-registerable form of ``bpe_encode``: per-doc token count
    + md5 of the space-joined token sequence — compact, hashable proof
    of the exact encoding (the clean_fp pattern of
    remove_duplicate_spans) instead of corpus-sized sequence rows
    through the harness."""
    state = _bpe_state(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.posexplode(TX.tokens(F.col("text"))).alias("wpos", "word")
    ).filter(F.length("word") > 0)
    enc = words.join(
        F.broadcast(state.select("word", F.col("pos").alias("spos"), "sym")),
        "word",
    )
    per_doc = enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("wpos", "spos", "sym"))),
                    lambda s: s["sym"],
                ),
                " ",
            )
        ).alias("encoding_fp"),
    )
    # every-doc contract: token-less docs (empty text) report 0 + the
    # empty-sequence fingerprint
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("encoding_fp", F.md5(F.lit(""))).alias("encoding_fp"),
        )
        .orderBy("doc_id")
    )


def bpe_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Close the encode/decode loop a training pipeline ships: decode
    every document's BPE token sequence back to text and pin it against
    the pre-tokenization normalized text (trim+lower+whitespace
    collapse — exactly what the tokenizer saw).

    Decoding consumes only the FLAT encoded stream — (seq order, token,
    word_end flag) — not the word table: tokens concatenate within a
    word and a space is emitted after each word-final token, which is
    the ``</w>``-marker convention of shipped BPE decoders. word_end is
    derived in-stream (next token belongs to a different word), so the
    corpus-scale stage stays one broadcast join + one per-doc bounded
    window + one doc-grain aggregate. Every doc reports: empty docs
    decode to '' and trivially round-trip."""
    state = _bpe_state(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.posexplode(TX.tokens(F.col("text"))).alias("wpos", "word")
    ).filter(F.length("word") > 0)
    enc = words.join(
        F.broadcast(state.select("word", F.col("pos").alias("spos"), "sym")),
        "word",
    )
    w = Window.partitionBy("doc_id").orderBy("wpos", "spos")
    flagged = enc.withColumn("nwpos", F.lead("wpos").over(w)).withColumn(
        "piece",
        F.concat(
            F.col("sym"),
            F.when(
                F.col("nwpos").isNull() | (F.col("nwpos") != F.col("wpos")),
                F.lit(" "),
            ).otherwise(F.lit("")),
        ),
    )
    per_doc = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.md5(
            F.rtrim(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("wpos", "spos", "piece"))
                        ),
                        lambda s: s["piece"],
                    ),
                    "",
                )
            )
        ).alias("decoded_fp"),
    )
    norm_fp = F.md5(F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " "))
    return (
        docs.select("doc_id", norm_fp.alias("norm_fp"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("decoded_fp", F.md5(F.lit(""))).alias("decoded_fp"),
            (F.coalesce("decoded_fp", F.md5(F.lit(""))) == F.col("norm_fp")).alias(
                "roundtrip_ok"
            ),
        )
        .orderBy("doc_id")
    )


def bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer's third shipped artifact (merges → encode →
    VOCAB): every symbol in the post-merge state with its corpus
    occurrence count (Σ word_freq over occurrences) and a
    DETERMINISTIC integer token_id — rank by (count desc, symbol), the
    conventional frequency-ordered id assignment, computed with the
    scale-safe global rank (the vocab is bounded, but the shape stays
    window-free on principle). Registration queued with
    ``bpe_encode_fingerprint`` for the next driver window."""
    from ..operators.rank import global_rank

    state = _bpe_state(spark, sf_dir)
    counts = state.groupBy("sym").agg(
        F.sum("freq").cast("long").alias("n_occurrences")
    )
    neg = counts.select(
        "sym", "n_occurrences", (-F.col("n_occurrences")).alias("neg")
    )
    ranked = global_rank(neg, ["neg", "sym"], rank_col="token_id")
    return ranked.select(
        "token_id", F.col("sym").alias("token"), "n_occurrences"
    ).orderBy("token_id")


def _bpe_blocks() -> str:
    """The shared WITH-chain: K unrolled iterations as DuckDB CTEs.
    ``best{k}`` is empty once no adjacent pair is left; the LEFT JOIN
    then carries ``state{k-1}`` forward unchanged."""
    blocks = [
        f"""wf AS MATERIALIZED (
  SELECT word, COUNT(*) AS freq FROM (
    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
    FROM documents
  ) WHERE length(word) > 0 GROUP BY word
),
state0 AS MATERIALIZED (
  SELECT word, freq,
         generate_subscripts(list_transform(range(1, length(word) + 1),
                                            i -> substr(word, i, 1)), 1) - 1 AS pos,
         unnest(list_transform(range(1, length(word) + 1),
                               i -> substr(word, i, 1))) AS sym
  FROM wf
)"""
    ]
    for k in range(1, BPE_STEPS + 1):
        p = k - 1
        blocks.append(f"""st{k} AS MATERIALIZED (
  SELECT word, freq, pos, sym,
         lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt,
         row_number() OVER (PARTITION BY word ORDER BY pos) AS rn
  FROM state{p}
),
best{k} AS MATERIALIZED (
  SELECT sym AS left_s, nxt AS right_s, CAST(SUM(freq) AS BIGINT) AS pair_freq
  FROM st{k} WHERE nxt IS NOT NULL
  GROUP BY sym, nxt
  ORDER BY pair_freq DESC, left_s, right_s LIMIT 1
),
marked{k} AS MATERIALIZED (
  SELECT s.*, b.left_s AS best_a, b.right_s AS best_b,
         s.sym = b.left_s AND s.nxt = b.right_s AS pair_start
  FROM st{k} s LEFT JOIN best{k} b ON TRUE
),
starts{k} AS MATERIALIZED (
  SELECT word, rn, TRUE AS sel FROM (
    SELECT word, rn,
           row_number() OVER (PARTITION BY word, isl ORDER BY rn) - 1 AS off
    FROM (
      SELECT word, rn,
             rn - row_number() OVER (PARTITION BY word ORDER BY rn) AS isl
      FROM marked{k} WHERE pair_start
    )
  ) WHERE off % 2 = 0
),
state{k} AS MATERIALIZED (
  SELECT word, freq, rn AS pos,
         CASE WHEN sel THEN best_a || best_b ELSE sym END AS sym
  FROM (
    SELECT m.word, m.freq, m.rn, m.sym, m.best_a, m.best_b, s.sel,
           coalesce(lag(s.sel) OVER (PARTITION BY m.word ORDER BY m.rn),
                    FALSE) AS consumed
    FROM marked{k} m LEFT JOIN starts{k} s ON m.word = s.word AND m.rn = s.rn
  ) WHERE NOT consumed
)""")
    return "WITH " + ",\n".join(blocks)


def _bpe_merges_sql() -> str:
    finals = "\nUNION ALL\n".join(
        f"SELECT {k} AS step, left_s AS \"left\", right_s AS \"right\", "
        f"left_s || right_s AS merged, pair_freq FROM best{k}"
        for k in range(1, BPE_STEPS + 1)
    )
    return _bpe_blocks() + "\nSELECT * FROM (\n" + finals + "\n) ORDER BY step"


def _bpe_token_counts_sql() -> str:
    return f"""{_bpe_blocks()},
word_len AS MATERIALIZED (
  SELECT word, COUNT(*) AS n_bpe FROM state{BPE_STEPS} GROUP BY word
),
doc_words AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
  FROM documents
)
SELECT doc_id, COUNT(*) AS n_words, CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_tokens
FROM doc_words JOIN word_len USING (word)
WHERE length(word) > 0
GROUP BY doc_id ORDER BY doc_id
"""


def _bpe_encode_fp_sql() -> str:
    """Oracle twin of ``bpe_encode_fingerprint`` (registration queued
    for the next driver window — the current one is full)."""
    return f"""{_bpe_blocks()},
doc_words AS (
  SELECT doc_id,
         generate_subscripts(regexp_split_to_array(trim(lower(text)), '\\s+'), 1) AS wpos,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
  FROM documents
),
enc AS (
  SELECT d.doc_id, d.wpos, s.pos AS spos, s.sym
  FROM doc_words d JOIN state{BPE_STEPS} s USING (word)
  WHERE length(d.word) > 0
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         md5(string_agg(sym, ' ' ORDER BY wpos, spos)) AS encoding_fp
  FROM enc GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_tokens, 0) AS n_tokens,
       COALESCE(p.encoding_fp, md5('')) AS encoding_fp
FROM (SELECT doc_id FROM documents) d
LEFT JOIN per_doc p USING (doc_id)
ORDER BY d.doc_id
"""


def _bpe_decode_roundtrip_sql() -> str:
    return f"""{_bpe_blocks()},
doc_words AS (
  SELECT doc_id,
         generate_subscripts(regexp_split_to_array(trim(lower(text)), '\\s+'), 1) AS wpos,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
  FROM documents
),
enc AS (
  SELECT d.doc_id, d.wpos, s.pos AS spos, s.sym
  FROM doc_words d JOIN state{BPE_STEPS} s USING (word)
  WHERE length(d.word) > 0
),
flagged AS (
  SELECT doc_id, wpos, spos,
         sym || CASE WHEN lead(wpos) OVER (PARTITION BY doc_id
                                           ORDER BY wpos, spos) IS DISTINCT FROM wpos
                     THEN ' ' ELSE '' END AS piece
  FROM enc
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         md5(rtrim(string_agg(piece, '' ORDER BY wpos, spos))) AS decoded_fp
  FROM flagged GROUP BY doc_id
),
norm AS (
  SELECT doc_id,
         md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS norm_fp
  FROM documents
)
SELECT n.doc_id,
       COALESCE(p.n_tokens, 0) AS n_tokens,
       COALESCE(p.decoded_fp, md5('')) AS decoded_fp,
       COALESCE(p.decoded_fp, md5('')) = n.norm_fp AS roundtrip_ok
FROM norm n
LEFT JOIN per_doc p USING (doc_id)
ORDER BY n.doc_id
"""


def _bpe_vocab_sql() -> str:
    return f"""{_bpe_blocks()},
vocab AS (
  SELECT sym, CAST(SUM(freq) AS BIGINT) AS n_occurrences
  FROM state{BPE_STEPS} GROUP BY sym
)
SELECT row_number() OVER (ORDER BY n_occurrences DESC, sym) AS token_id,
       sym AS token, n_occurrences
FROM vocab ORDER BY token_id
"""


BPE_LEARN_MERGES_SQL = _bpe_merges_sql()
BPE_TOKEN_COUNTS_SQL = _bpe_token_counts_sql()
BPE_ENCODE_FINGERPRINT_SQL = _bpe_encode_fp_sql()
BPE_VOCAB_SQL = _bpe_vocab_sql()
BPE_DECODE_ROUNDTRIP_SQL = _bpe_decode_roundtrip_sql()


TOKENIZER_QUERIES = {
    "bpe_learn_merges": bpe_learn_merges,
    "bpe_token_counts": bpe_token_counts,
    "bpe_encode_fingerprint": bpe_encode_fingerprint,
    "bpe_vocab": bpe_vocab,
    "bpe_decode_roundtrip": bpe_decode_roundtrip,
}

TOKENIZER_ORACLE_SQL = {
    "bpe_learn_merges": BPE_LEARN_MERGES_SQL,
    "bpe_token_counts": BPE_TOKEN_COUNTS_SQL,
    "bpe_encode_fingerprint": BPE_ENCODE_FINGERPRINT_SQL,
    "bpe_vocab": BPE_VOCAB_SQL,
    "bpe_decode_roundtrip": BPE_DECODE_ROUNDTRIP_SQL,
}
