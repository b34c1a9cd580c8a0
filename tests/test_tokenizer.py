"""BPE merge learning + export shard manifest."""

from __future__ import annotations

import hashlib
from collections import Counter

from pyspark.sql import functions as F

from data_pipeline_who_gho_spark.plans.curation2 import _N_SHARDS, shard_manifest
from data_pipeline_who_gho_spark.plans.tokenizer import (
    BPE_STEPS,
    bpe_learn_merges,
    bpe_token_counts,
    learn_bpe,
)

SF = "/root/testdata/sf0.001"


def _py_bpe(word_freq: dict[str, int], steps: int):
    """Reference BPE: per-position pair counts, arg-max with (freq desc,
    pair lexicographic) tie-break, greedy left-to-right non-overlapping
    merge — the exact contract of plans/tokenizer.py."""
    state = {w: [c for c in w] for w in word_freq}
    merges = []
    for step in range(1, steps + 1):
        counts: Counter = Counter()
        for w, syms in state.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += word_freq[w]
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), freq = best
        merges.append((step, a, b, a + b, freq))
        for w, syms in state.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            state[w] = out
    return merges, state


def test_bpe_matches_reference_implementation(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    wf = {
        r["word"]: r["freq"]
        for r in docs.select(
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("word")
        )
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .collect()
    }
    expected, _ = _py_bpe(wf, BPE_STEPS)
    got = [
        (r["step"], r["left"], r["right"], r["merged"], r["pair_freq"])
        for r in bpe_learn_merges(spark, SF).collect()
    ]
    assert got == expected


def test_bpe_freq_monotone(spark):
    rows = bpe_learn_merges(spark, SF).collect()
    assert [r["step"] for r in rows] == list(range(1, BPE_STEPS + 1))
    freqs = [r["pair_freq"] for r in rows]
    # merging the max pair can only remove adjacencies or create pairs
    # bounded by the merged count: the selected frequency never rises
    assert all(a >= b for a, b in zip(freqs, freqs[1:]))
    assert all(r["merged"] == r["left"] + r["right"] for r in rows)


def test_bpe_token_counts_match_reference_state(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("words")
    ).collect()
    wf: Counter = Counter()
    for r in docs:
        for w in r["words"]:
            if w:
                wf[w] += 1
    _, state = _py_bpe(dict(wf), BPE_STEPS)
    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_token_counts(spark, SF).collect()
    }
    for r in docs:
        words = [w for w in r["words"] if w]
        expected = (len(words), sum(len(state[w]) for w in words))
        assert got[r["doc_id"]] == expected


def test_shard_manifest_partitions_corpus(spark):
    rows = {r["shard"]: r for r in shard_manifest(spark, SF).collect()}
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "n_chars"
    ).collect()
    expected: Counter = Counter()
    for r in docs:
        h = hashlib.md5(str(r["doc_id"]).encode()).hexdigest()
        expected[(int(h[0], 16) * 16 + int(h[1], 16)) % _N_SHARDS] += 1
    assert {s: r["n_docs"] for s, r in rows.items()} == dict(expected)
    assert sum(r["n_docs"] for r in rows.values()) == len(docs)
    assert sum(r["total_chars"] for r in rows.values()) == sum(
        r["n_chars"] for r in docs
    )


def test_bpe_greedy_overlap_rule_pathological():
    """Self-overlapping argmax pairs ('aaaa' merging ('a','a')) must
    follow the greedy left-to-right non-overlap rule: 'aaaa' -> aa,aa;
    'aaa' -> aa,a; 'aaaaa' -> aa,aa,a — cross-checked against the
    pure-Python reference over several iterations, including a
    vocabulary whose adjacent pairs run out before the last step."""
    for wf in (
        {"aaaa": 10, "aaa": 7, "aaaaa": 3, "abab": 5, "baaab": 2},
        {"ab": 4, "x": 1},  # adjacent pairs run out after one merge
    ):
        assert learn_bpe(wf, 4) == _py_bpe(wf, 4)


def test_bpe_encode_matches_reference_sequences(spark):
    """The full encode surface: per-doc token sequences equal the
    python-reference encoding (tokenize -> per-word symbols under the
    learned merges -> concatenate in word order)."""
    from data_pipeline_who_gho_spark.plans.tokenizer import bpe_encode
    from data_pipeline_who_gho_spark.sources.catalog import load_table

    docs = {r["doc_id"]: r["text"]
            for r in load_table(spark, SF, "documents").select("doc_id", "text").collect()}
    wf = Counter()
    tokd = {}
    for did, text in docs.items():
        ws = [w for w in text.strip().lower().split() if w]
        tokd[did] = ws
        wf.update(ws)
    _, state = _py_bpe(dict(wf), BPE_STEPS)
    want = {did: [sym for w in ws for sym in state[w]] for did, ws in tokd.items()}

    got: dict = {}
    for r in bpe_encode(spark, SF).collect():
        got.setdefault(r["doc_id"], []).append((r["seq_pos"], r["token"]))
    got = {d: [t for _, t in sorted(v)] for d, v in got.items()}
    assert got == {d: v for d, v in want.items() if v}  # empty docs emit no rows


def test_bpe_encode_fingerprint_matches_sequence_form(spark):
    from data_pipeline_who_gho_spark.plans.tokenizer import (
        bpe_encode,
        bpe_encode_fingerprint,
    )

    seq: dict = {}
    for r in bpe_encode(spark, SF).collect():
        seq.setdefault(r["doc_id"], []).append((r["seq_pos"], r["token"]))
    fp = {r["doc_id"]: (r["n_tokens"], r["encoding_fp"])
          for r in bpe_encode_fingerprint(spark, SF).collect()}
    for did, (n, h) in fp.items():
        toks = [t for _, t in sorted(seq.get(did, []))]
        assert n == len(toks)
        assert h == hashlib.md5(" ".join(toks).encode()).hexdigest()


def test_bpe_encode_fingerprint_matches_duckdb_oracle(spark):
    """Pre-registration oracle parity (the query joins the r05 window;
    verify the SQL twin now so registration is a two-line change)."""
    import duckdb

    from data_pipeline_who_gho_spark.plans.tokenizer import (
        BPE_ENCODE_FINGERPRINT_SQL,
        bpe_encode_fingerprint,
    )

    got = sorted(map(tuple, bpe_encode_fingerprint(spark, SF).collect()))
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    want = sorted(map(tuple, con.sql(BPE_ENCODE_FINGERPRINT_SQL).fetchall()))
    assert got == want


def test_bpe_vocab_matches_reference_and_oracle(spark):
    """Vocab artifact: ids are frequency-ordered (count desc, symbol),
    counts equal the python-reference state's weighted occurrences, and
    the DuckDB twin agrees (pre-registration parity)."""
    import duckdb

    from data_pipeline_who_gho_spark.plans.tokenizer import BPE_VOCAB_SQL, bpe_vocab
    from data_pipeline_who_gho_spark.sources.catalog import load_table

    texts = [r["text"] for r in load_table(spark, SF, "documents").select("text").collect()]
    wf = Counter(w for t in texts for w in t.strip().lower().split() if w)
    _, state = _py_bpe(dict(wf), BPE_STEPS)
    want_counts: Counter = Counter()
    for w, syms in state.items():
        for s in syms:
            want_counts[s] += wf[w]
    want = [(i + 1, s, c) for i, (s, c) in enumerate(
        sorted(want_counts.items(), key=lambda kv: (-kv[1], kv[0])))]

    got = [tuple(r) for r in bpe_vocab(spark, SF).collect()]
    assert got == want

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    oracle = [tuple(r) for r in con.sql(BPE_VOCAB_SQL).fetchall()]
    assert got == oracle


def test_bpe_keeps_state_when_pairs_run_out(spark, tmp_path):
    """Once no adjacent pair is left before step K, learning stops and the
    symbol state is kept — in the Spark plan and in the DuckDB twin."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_who_gho_spark.plans.tokenizer import (
        BPE_LEARN_MERGES_SQL,
        BPE_TOKEN_COUNTS_SQL,
    )

    texts = {1: "ab ab ab", 2: "ab x"}
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(list(texts), pa.int64()),
                "text": list(texts.values()),
                "lang": ["en"] * len(texts),
                "source": ["web"] * len(texts),
                "n_chars": pa.array([len(t) for t in texts.values()], pa.int64()),
            }
        ),
        tmp_path / "documents.parquet",
    )
    sf = str(tmp_path)
    merges = [(1, "a", "b", "ab", 4)]
    counts = [(1, 3, 3), (2, 2, 2)]
    assert [tuple(r) for r in bpe_learn_merges(spark, sf).collect()] == merges
    assert [tuple(r) for r in bpe_token_counts(spark, sf).collect()] == counts

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    assert con.sql(BPE_LEARN_MERGES_SQL).fetchall() == merges
    assert con.sql(BPE_TOKEN_COUNTS_SQL).fetchall() == counts
