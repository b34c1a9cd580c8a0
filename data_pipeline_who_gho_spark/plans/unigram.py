"""Unigram-LM (SentencePiece-style) tokenizer training — the second
tokenizer-training family next to BPE (plans/tokenizer.py).

Algorithm (Kudo 2018, simplified to its EM core):

1. **Seed**: every substring of every distinct word up to
   ``max_piece_len`` chars, counted with word-frequency weights; the
   top ``seed_size`` by count form the initial piece inventory (all
   single characters are always kept so every word stays segmentable).
2. **E-step**: per word, the Viterbi-best segmentation under the
   current piece counts — maximize Π count(pᵢ) / T^k over
   segmentations (T = Σ counts). Hard-EM: the best segmentation gets
   weight 1 (the full forward-backward soft E-step changes little on
   word-level corpora and would force float accumulators).
3. **M-step**: piece counts re-estimated as Σ word_freq · uses(piece).
4. **Prune**: keep the top ``vocab_size`` pieces by new count
   (single chars always survive); repeat from 2.

EXACTNESS: there is NO floating point anywhere. Viterbi compares
candidate segmentations by exact integer cross-multiplication —
score_a > score_b ⟺ prod_a · T^k_b > prod_b · T^k_a (Python bigints;
words are short, so the products stay small) — with deterministic
tie-breaks (fewer pieces, then lexicographically smaller piece tuple).
Counts are integers end-to-end, so the trained vocabulary is a pure
function of the corpus: the test suite pins it against an independent
pure-Python reference (tests/test_unigram.py), and a future driver
registration can hash-match exactly.

Scale shape (the same as BPE's): ONE corpus scan builds the
word-frequency table (shuffle keyed by word, map-side combined);
everything after runs on that vocab-bounded table. The piece
inventory (≤ seed_size entries) is driver-collected and shipped in
the mapInPandas closure — the E-step is a map-only Arrow pass over
distinct words that emits per-batch pre-aggregated (piece, count)
partials, so the M-step shuffle moves ≤ batches × |pieces| rows, not
corpus rows.

Reference surface: none in the reference repo (tabular-only pandas
ETL); this extends SURVEY §2c's tokenizer-training family. Public
algorithm per Kudo (2018), "Subword Regularization".
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table

UNIGRAM_VOCAB_SIZE = 64
UNIGRAM_ITERS = 2
UNIGRAM_MAX_PIECE = 4
UNIGRAM_SEED_SIZE = 256


def word_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, freq) over the documents corpus — the one corpus-wide
    scan; identical tokenization to the BPE family."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def seed_pieces(words: DataFrame, max_piece_len: int = UNIGRAM_MAX_PIECE,
                seed_size: int = UNIGRAM_SEED_SIZE) -> DataFrame:
    """Frequency-weighted substring counts → top ``seed_size`` pieces
    (plus every single char, unconditionally). Substring explosion is
    a JVM-side expression (sequence × sequence), no Python."""
    # substr(word, i, n) with Column args via expr (F.substring wants
    # literal pos/len on older APIs; the SQL form accepts columns)
    exploded = words.select(
        "freq",
        F.explode(
            F.expr(
                "flatten(transform(sequence(1, length(word)), i -> "
                f"transform(sequence(1, least({max_piece_len}, length(word) - i + 1)), "
                "n -> substr(word, i, n))))"
            )
        ).alias("piece"),
    )
    counts = exploded.groupBy("piece").agg(F.sum("freq").alias("count"))
    ranked = counts.orderBy(F.desc("count"), "piece").limit(seed_size)
    chars = counts.filter(F.length("piece") == 1)
    return ranked.unionByName(chars).groupBy("piece").agg(
        F.max("count").alias("count")
    )
    # (union+max dedups pieces present in both the top-K and the char set)


def _viterbi(word: str, counts: dict[str, int], total: int,
             max_piece_len: int) -> list[str]:
    """Exact-arithmetic Viterbi: best[i] = (prod, k, pieces) for the
    prefix w[:i]; score prod/T^k compared by integer cross-multiply.
    Tie-breaks: fewer pieces, then lexicographically smaller tuple."""
    n = len(word)
    best: list[tuple[int, int, tuple[str, ...]] | None] = [None] * (n + 1)
    best[0] = (1, 0, ())
    for i in range(1, n + 1):
        for j in range(max(0, i - max_piece_len), i):
            if best[j] is None:
                continue
            piece = word[j:i]
            c = counts.get(piece)
            if not c:
                continue
            pj, kj, sj = best[j]
            cand = (pj * c, kj + 1, sj + (piece,))
            cur = best[i]
            if cur is None:
                best[i] = cand
                continue
            # cand > cur ⟺ cand.prod · T^cur.k > cur.prod · T^cand.k
            left = cand[0] * total ** cur[1]
            right = cur[0] * total ** cand[1]
            if left > right or (left == right and (cand[1], cand[2]) < (cur[1], cur[2])):
                best[i] = cand
    if best[n] is None:  # unreachable when all single chars are in vocab
        return list(word)
    return list(best[n][2])


def em_step(words: DataFrame, pieces: dict[str, int],
            max_piece_len: int = UNIGRAM_MAX_PIECE) -> DataFrame:
    """One hard-EM round: Viterbi-segment every distinct word under
    ``pieces``, return re-estimated (piece, count). Map-only over the
    word table with per-batch partial aggregation; one tiny shuffle."""
    total = sum(pieces.values())

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            partial: dict[str, int] = {}
            for word, freq in zip(pdf["word"], pdf["freq"]):
                for piece in _viterbi(str(word), pieces, total, max_piece_len):
                    partial[piece] = partial.get(piece, 0) + int(freq)
            yield pd.DataFrame(
                {"piece": list(partial), "count": list(partial.values())}
            )

    return (
        words.mapInPandas(run, "piece STRING, count BIGINT")
        .groupBy("piece")
        .agg(F.sum("count").alias("count"))
    )


def unigram_train(
    spark: SparkSession,
    sf_dir: str,
    vocab_size: int = UNIGRAM_VOCAB_SIZE,
    iters: int = UNIGRAM_ITERS,
    max_piece_len: int = UNIGRAM_MAX_PIECE,
    seed_size: int = UNIGRAM_SEED_SIZE,
) -> DataFrame:
    """Train the unigram vocabulary; returns (piece, count) of the
    final inventory — ≤ vocab_size multi-char pieces plus all single
    chars, counts from the last E-step."""
    words = word_freqs(spark, sf_dir)
    # the word table is consumed once per EM round — materialize it
    words = words.localCheckpoint(eager=True)
    inv = {
        r["piece"]: int(r["count"])
        for r in seed_pieces(words, max_piece_len, seed_size).collect()
    }
    for _ in range(iters):
        est = em_step(words, inv, max_piece_len).collect()
        new = {r["piece"]: int(r["count"]) for r in est}
        # prune: top vocab_size by (count desc, piece asc); single
        # chars always survive so segmentation never dead-ends — a char
        # with zero Viterbi uses is NOT in `new` at all, so carry the
        # char set over from the previous inventory with a floor of 1
        prev_chars = [p for p in inv if len(p) == 1]
        inv = dict(sorted(new.items(), key=lambda kv: (-kv[1], kv[0]))[:vocab_size])
        for ch in prev_chars:
            inv.setdefault(ch, max(new.get(ch, 0), 1))
    out = sorted(inv.items(), key=lambda kv: (-kv[1], kv[0]))
    return spark.createDataFrame(
        [(p, c, len(p)) for p, c in out], "piece STRING, count BIGINT, piece_len INT"
    )


def maxmatch_encode(words: DataFrame, inventory: set[str] | dict[str, int],
                    max_piece_len: int = UNIGRAM_MAX_PIECE) -> DataFrame:
    """WordPiece-style GREEDY longest-match-first segmentation: at each
    position take the longest inventory piece that matches (single
    chars always match as the fallback, emitted verbatim even when
    absent from the inventory — the '[UNK]-free' byte-fallback
    convention). Fully deterministic and — unlike the unigram EM
    objective — expressible as a recursive-CTE oracle, which is what a
    driver registration will use.

    Same execution shape as unigram_encode: inventory rides the
    mapInPandas closure; one map-only Arrow pass over distinct words."""
    vocab = set(inventory)

    def seg(word: str) -> list[str]:
        out, i, n = [], 0, len(word)
        while i < n:
            ln = min(max_piece_len, n - i)
            while ln > 1 and word[i : i + ln] not in vocab:
                ln -= 1
            out.append(word[i : i + ln])
            i += ln
        return out

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            segs = [seg(str(w)) for w in pdf["word"]]
            yield pd.DataFrame(
                {
                    "word": pdf["word"],
                    "pieces": segs,
                    "n_pieces": [len(s) for s in segs],
                }
            )

    return words.select("word").mapInPandas(
        run, "word STRING, pieces ARRAY<STRING>, n_pieces INT"
    )


# ---------------------------------------------------------------------------
# maxmatch_segment_stats — registered r08. The greedy
# longest-match objective (unlike unigram EM's bigint product scores)
# is exactly expressible in SQL: a non-recursive (word, pos) match-
# length table + a recursive walk over positions. Oracle cross-checked
# in tests/test_unigram.py so r08 registration is a two-line edit.
# ---------------------------------------------------------------------------

_MM_SEED = 48  # top-K weighted substring pieces form the inventory


def maxmatch_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy longest-match segmentation of every distinct corpus word
    under the SQL-computable seed inventory (top _MM_SEED substrings by
    weighted count, tie-broken by piece; single chars always usable as
    fallback). Output: one scalar row per word — count of pieces, the
    segmentation itself pinned via its '|'-joined md5."""
    words = word_freqs(spark, sf_dir)
    words = words.localCheckpoint(eager=True)  # two consumers: seed + encode
    top = (
        seed_pieces(words, UNIGRAM_MAX_PIECE, _MM_SEED)
        .orderBy(F.desc("count"), "piece")
        .limit(_MM_SEED)
    )
    inv = {r["piece"] for r in top.collect()}
    enc = maxmatch_encode(words, inv, UNIGRAM_MAX_PIECE)
    return (
        enc.join(words, "word")
        .select(
            "word",
            F.col("freq").cast("long").alias("freq"),
            F.col("n_pieces").cast("long").alias("n_pieces"),
            F.md5(F.array_join("pieces", "|")).alias("seg_md5"),
        )
    )


def _maxmatch_sql() -> str:
    from .extensions import _sql_tokens

    k = UNIGRAM_MAX_PIECE
    return f"""
WITH RECURSIVE words AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest({_sql_tokens()}) AS word FROM documents)
  WHERE word <> '' GROUP BY word
),
subs AS (
  SELECT word, freq, i, unnest(range(1, least({k}, length(word) - i) + 1)) AS n
  FROM (SELECT word, freq, unnest(range(0, length(word))) AS i FROM words)
),
pieces AS (
  SELECT substr(word, i + 1, n) AS piece, CAST(SUM(freq) AS BIGINT) AS count
  FROM subs GROUP BY 1
),
ranked AS (
  SELECT piece FROM (
    SELECT piece, row_number() OVER (ORDER BY count DESC, piece) AS rn
    FROM pieces
  ) WHERE rn <= {_MM_SEED}
),
-- greedy match length at every (word, pos): longest inventory piece
-- starting there, else 1 (single-char fallback, vocab or not)
mlen AS (
  SELECT p.word, p.pos,
         COALESCE(MAX(length(r.piece)), 1) AS plen
  FROM (SELECT word, unnest(range(0, length(word))) AS pos FROM words) p
  LEFT JOIN ranked r
    ON length(r.piece) > 1
   AND length(r.piece) <= {k}
   AND substr(p.word, p.pos + 1, length(r.piece)) = r.piece
  GROUP BY p.word, p.pos
),
walk AS (
  SELECT word, 0 AS pos, 0 AS k, CAST('' AS VARCHAR) AS acc
  FROM words
  UNION ALL
  SELECT w.word, w.pos + m.plen, w.k + 1,
         w.acc || CASE WHEN w.k = 0 THEN '' ELSE '|' END
               || substr(w.word, w.pos + 1, m.plen)
  FROM walk w
  JOIN mlen m ON m.word = w.word AND m.pos = w.pos
),
final AS (
  SELECT w.word, w.k, w.acc,
         row_number() OVER (PARTITION BY w.word ORDER BY w.pos DESC) AS rn
  FROM walk w JOIN words ww ON ww.word = w.word
  WHERE w.pos = length(w.word)
)
SELECT f.word, ww.freq,
       CAST(f.k AS BIGINT) AS n_pieces,
       md5(f.acc) AS seg_md5
FROM final f JOIN words ww ON ww.word = f.word
WHERE f.rn = 1
"""


MAXMATCH_SEGMENT_SQL = _maxmatch_sql()


def unigram_encode(words: DataFrame, inventory: dict[str, int],
                   max_piece_len: int = UNIGRAM_MAX_PIECE,
                   total: int | None = None) -> DataFrame:
    """Viterbi-encode each word under a trained inventory: returns
    (word, pieces ARRAY<STRING>, n_pieces) — the inference surface
    (fertility, OOV analysis) mirroring bpe_encode.

    ``total`` overrides the normalizer T in the score Π count(pᵢ)/T^k
    (default: the inventory's count sum). The registered driver query
    passes a power of two so the exact cross-multiplied comparison
    reduces to an integer-sum comparison its DuckDB oracle replays."""
    total = total if total is not None else sum(inventory.values())

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            segs = [
                _viterbi(str(w), inventory, total, max_piece_len)
                for w in pdf["word"]
            ]
            yield pd.DataFrame(
                {
                    "word": pdf["word"],
                    "pieces": segs,
                    "n_pieces": [len(s) for s in segs],
                }
            )

    return words.select("word").mapInPandas(
        run, "word STRING, pieces ARRAY<STRING>, n_pieces INT"
    )


# ---------------------------------------------------------------------------
# unigram_encode_stats — registered r08 (VERDICT r07 item 4). The EM
# objective itself is NOT oracled (bigint cross-products overflow DuckDB
# HUGEINT); the ENCODE surface is, by construction: the registered query
# quantizes the SQL-computable seed inventory's counts to powers of two
# and normalizes by T = 2^t, so the exact Viterbi comparison
# prod_a·T^k_b > prod_b·T^k_a collapses to an integer-sum comparison
# (Σe_a − t·k_a > Σe_b − t·k_b) a recursive-CTE oracle can replay by
# enumerating every segmentation (fixture words are ≤ 8 chars, so the
# path count per word is tetranacci-bounded and tiny). The tie-break
# (fewer pieces, then lexicographically smaller piece tuple) maps to
# ORDER BY k, tab-joined-segmentation: a '\t' separator sorts below
# every word character, making joined-string order equal tuple order.
# ---------------------------------------------------------------------------

_UE_SEED = 48  # top-K weighted substring pieces (plus all single chars)


def unigram_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi-encode every distinct corpus word under the power-of-two
    quantized seed inventory (top _UE_SEED substrings by weighted count
    ∪ all single chars; count → 2^(bit_length−1); T = 2^bit_length(Σ
    raw counts)). Output: one scalar row per word — piece count and the
    '|'-joined segmentation md5, exactly the maxmatch_segment_stats
    shape so the two segmenters are directly comparable."""
    words = word_freqs(spark, sf_dir)
    words = words.localCheckpoint(eager=True)  # two consumers: seed + encode
    raw = {
        r["piece"]: int(r["count"])
        for r in seed_pieces(words, UNIGRAM_MAX_PIECE, _UE_SEED).collect()
    }
    quantized = {p: 1 << (c.bit_length() - 1) for p, c in raw.items()}
    total = 1 << sum(raw.values()).bit_length()
    enc = unigram_encode(words, quantized, UNIGRAM_MAX_PIECE, total=total)
    return enc.join(words, "word").select(
        "word",
        F.col("freq").cast("long").alias("freq"),
        F.col("n_pieces").cast("long").alias("n_pieces"),
        F.md5(F.array_join("pieces", "|")).alias("seg_md5"),
    )


def _unigram_encode_sql() -> str:
    from .extensions import _sql_tokens

    k = UNIGRAM_MAX_PIECE
    return f"""
WITH RECURSIVE words AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest({_sql_tokens()}) AS word FROM documents)
  WHERE word <> '' GROUP BY word
),
subs AS (
  SELECT word, freq, i, unnest(range(1, least({k}, length(word) - i) + 1)) AS n
  FROM (SELECT word, freq, unnest(range(0, length(word))) AS i FROM words)
),
pieces AS (
  SELECT substr(word, i + 1, n) AS piece, CAST(SUM(freq) AS BIGINT) AS count
  FROM subs GROUP BY 1
),
ranked AS (
  SELECT piece, count FROM (
    SELECT piece, count, row_number() OVER (ORDER BY count DESC, piece) AS rn
    FROM pieces
  ) WHERE rn <= {_UE_SEED}
),
inv AS (
  -- seed_pieces semantics: top-K ∪ every single char, deduped
  SELECT piece, MAX(count) AS count FROM (
    SELECT piece, count FROM ranked
    UNION ALL
    SELECT piece, count FROM pieces WHERE length(piece) = 1
  ) GROUP BY piece
),
qinv AS (
  -- exponent of the power-of-two quantization: bit_length(count) - 1,
  -- computed exactly via base-2 digits (no float log2)
  SELECT piece, CAST(length(to_base(count, 2)) - 1 AS BIGINT) AS e FROM inv
),
tt AS (
  SELECT CAST(length(to_base(CAST(SUM(count) AS BIGINT), 2)) AS BIGINT) AS t FROM inv
),
walk AS (
  SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS k, CAST(0 AS BIGINT) AS esum,
         CAST('' AS VARCHAR) AS acc
  FROM words
  UNION ALL
  SELECT w.word, w.pos + length(q.piece), w.k + 1, w.esum + q.e,
         w.acc || CASE WHEN w.k = 0 THEN '' ELSE chr(9) END || q.piece
  FROM walk w
  JOIN qinv q ON q.piece = substr(w.word, w.pos + 1, length(q.piece))
  WHERE w.pos < length(w.word)
),
best AS (
  SELECT d.word, d.k, d.acc,
         row_number() OVER (
           PARTITION BY d.word
           ORDER BY d.esum - tt.t * d.k DESC, d.k, d.acc
         ) AS rn
  FROM walk d CROSS JOIN tt
  WHERE d.pos = length(d.word)
)
SELECT b.word, w.freq,
       CAST(b.k AS BIGINT) AS n_pieces,
       md5(replace(b.acc, chr(9), '|')) AS seg_md5
FROM best b JOIN words w USING (word)
WHERE b.rn = 1
"""


UNIGRAM_ENCODE_STATS_SQL = _unigram_encode_sql()


UNIGRAM_QUERIES = {
    "maxmatch_segment_stats": maxmatch_segment_stats,
    "unigram_encode_stats": unigram_encode_stats,
}

UNIGRAM_ORACLE_SQL = {
    "maxmatch_segment_stats": MAXMATCH_SEGMENT_SQL,
    "unigram_encode_stats": UNIGRAM_ENCODE_STATS_SQL,
}
