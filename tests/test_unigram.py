"""Unigram-LM tokenizer trainer: pure-Python parity + unit tests.

The in-memory reference below re-implements the ENTIRE training loop
(seed, Viterbi-EM, prune, smoothing) with plain dicts, sharing only
``viterbi_segment_py`` with the Spark side — so a drift anywhere in
the distributed chain (occurrence explode, count aggregation, prune
ordering, smoothing arithmetic) surfaces as a parity failure here,
independent of the DuckDB oracle."""

import pytest
from pyspark.sql import functions as F

from hds_functions_spark.operators.unigram import (
    unigram_encode_stats,
    unigram_segment_words,
    unigram_train,
    viterbi_segment_py,
)


def reference_unigram(word_counts, M=4, LMAX=8, MIN_SEED=2, V=40, T=2):
    """In-memory hard-EM unigram trainer: returns (probs, counts) of
    the final vocabulary. Mirrors operators/unigram.py exactly."""
    wf = {}
    for w, n in word_counts.items():
        w = w[:LMAX]
        wf[w] = wf.get(w, 0) + n

    def occs(w):
        return [
            (i, k, w[i : i + k])
            for i in range(len(w))
            for k in range(1, min(M, len(w) - i) + 1)
        ]

    def prune(cnts):
        chars = {p: c for p, c in cnts.items() if len(p) == 1}
        multi = sorted(
            ((p, c) for p, c in cnts.items() if len(p) > 1),
            key=lambda x: (-x[1], x[0]),
        )[:V]
        return {**chars, **dict(multi)}

    def mstep(cnts):
        total, nv = sum(cnts.values()), len(cnts)
        return {p: (c + 1) / (total + nv) for p, c in cnts.items()}

    seed = {}
    for w, n in wf.items():
        for _i, _k, pc in occs(w):
            seed[pc] = seed.get(pc, 0) + n
    kept = prune(
        {p: c for p, c in seed.items() if len(p) == 1 or c >= MIN_SEED}
    )
    probs = mstep(kept)
    for _ in range(T):
        newc = dict.fromkeys(probs, 0)
        for w, n in wf.items():
            cand = [
                (i, k, probs[pc], pc)
                for i, k, pc in occs(w)
                if pc in probs
            ]
            for pc in viterbi_segment_py(len(w), cand):
                newc[pc] += n
        kept = prune(newc)
        probs = mstep(kept)
    return probs, kept


def final_segmentation(word_counts, **kw):
    """Reference Viterbi segmentation of each word under the FINAL
    trained model."""
    probs, _ = reference_unigram(word_counts, **kw)
    LMAX = kw.get("LMAX", 8)
    M = kw.get("M", 4)
    out = {}
    for w in word_counts:
        w = w[:LMAX]
        cand = [
            (i, k, probs[w[i : i + k]], w[i : i + k])
            for i in range(len(w))
            for k in range(1, min(M, len(w) - i) + 1)
            if w[i : i + k] in probs
        ]
        out[w] = viterbi_segment_py(len(w), cand)
    return out


CORPUS = [
    (1, "spark sparkle sparse park lark"),
    (2, "spark spark sparkle arc arcs"),
    (3, "park parking sparse spark a"),
    (4, "lark lark sparkle parse parse"),
]


def _word_counts(rows):
    wc = {}
    for _i, text in rows:
        for w in text.lower().split():
            wc[w] = wc.get(w, 0) + 1
    return wc


def test_train_matches_pure_python_reference(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id: long, text: string")
    got = {
        r["piece"]: (r["n_uses"], r["p_q9"])
        for r in unigram_train(docs).collect()
    }
    probs, cnts = reference_unigram(_word_counts(CORPUS))
    assert set(got) == set(probs)
    for p in probs:
        assert got[p][0] == cnts[p], p
        assert got[p][1] == round(probs[p], 9), p


def test_segmentation_reconstructs_words(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id: long, text: string")
    ref = final_segmentation(_word_counts(CORPUS))
    from hds_functions_spark.operators.unigram import _train

    vocab, words, _occ = _train(docs, "text", 4, 8, 2, 40, 2)
    segd = {
        r["word"]: list(r["pieces"])
        for r in unigram_segment_words(words, vocab, 4).collect()
    }
    assert segd == ref
    for w, pieces in segd.items():
        assert "".join(pieces) == w  # a segmentation, not garbage


def test_encode_matches_reference(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id: long, text: string")
    seg = final_segmentation(_word_counts(CORPUS))
    got = {
        r["doc_id"]: (r["n_words"], r["n_pieces"], r["pieces_per_word"])
        for r in unigram_encode_stats(docs).collect()
    }
    for doc_id, text in CORPUS:
        words = [w[:8] for w in text.lower().split()]
        np = sum(len(seg[w]) for w in words)
        assert got[doc_id] == (
            len(words),
            np,
            round(np / len(words), 6),
        ), doc_id


def test_train_is_deterministic(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id: long, text: string")
    a = sorted(map(tuple, unigram_train(docs).collect()))
    b = sorted(map(tuple, unigram_train(docs).collect()))
    assert a == b


def test_viterbi_tie_breaks_to_smallest_k():
    # 'ab' with p(a)=p(b)=0.5 and p(ab)=0.25: both paths score 0.25 —
    # the smallest-k rule picks the two single chars, matching the
    # oracle's ORDER BY v DESC, k ASC.
    occs = [(0, 1, 0.5, "a"), (1, 1, 0.5, "b"), (0, 2, 0.25, "ab")]
    assert viterbi_segment_py(2, occs) == ["a", "b"]
    # strictly better multi-char piece wins
    occs = [(0, 1, 0.5, "a"), (1, 1, 0.5, "b"), (0, 2, 0.26, "ab")]
    assert viterbi_segment_py(2, occs) == ["ab"]
    # unreachable word fails closed
    assert viterbi_segment_py(2, [(0, 1, 0.5, "a")]) == []


def test_truncation_merges_words(spark):
    # 10-char words truncate to 8 chars and merge in the dictionary
    docs = spark.createDataFrame(
        [(1, "abcdefghij abcdefghZZ")], "doc_id: long, text: string"
    )
    out = unigram_encode_stats(docs).collect()[0]
    assert out["n_words"] == 2  # both map to 'abcdefgh'
    ref = final_segmentation({"abcdefghij": 1, "abcdefghzz": 1})
    assert out["n_pieces"] == 2 * len(ref["abcdefgh"])


def test_empty_corpus_stable_schema(spark):
    docs = spark.createDataFrame([(1, "")], "doc_id: long, text: string")
    t = unigram_train(docs)
    assert t.count() == 0
    assert [f.name for f in t.schema.fields] == [
        "piece", "piece_len", "n_uses", "p_q9",
    ]
    e = unigram_encode_stats(docs)
    assert e.count() == 0


def test_validation_errors(spark):
    docs = spark.createDataFrame([(1, "x")], "doc_id: long, text: string")
    with pytest.raises(ValueError, match="max_piece_len"):
        unigram_train(docs, max_piece_len=1)
    with pytest.raises(ValueError, match="n_iterations"):
        unigram_train(docs, n_iterations=0)


def test_single_chars_always_survive_prune(spark):
    # max_vocab=1 starves multi-char pieces; single chars must remain
    # so every word stays segmentable
    docs = spark.createDataFrame(CORPUS, "doc_id: long, text: string")
    out = unigram_train(docs, max_vocab=1).collect()
    chars = {r["piece"] for r in out if r["piece_len"] == 1}
    corpus_chars = set("".join(_word_counts(CORPUS)))
    assert chars == corpus_chars
    assert sum(1 for r in out if r["piece_len"] > 1) <= 1
    enc = unigram_encode_stats(docs, max_vocab=1)
    total_words = sum(len(t.split()) for _i, t in CORPUS)
    assert enc.agg(F.sum("n_words")).first()[0] == total_words


def test_prune_py_tie_break_is_utf8_binary_order():
    # the driver-side prune (r17: replaces the Spark row_number window)
    # must break count ties to the lexicographically smallest piece in
    # UTF8 BINARY order — Python code-point comparison equals UTF-8
    # byte order, non-ASCII included ('é' U+00E9 sorts after 'zz')
    from hds_functions_spark.operators.unigram import _prune_py

    cnts = {"aa": 5, "ab": 5, "zz": 5, "é!": 5, "a": 1}
    kept = _prune_py(cnts, 2)
    assert set(kept) == {"a", "aa", "ab"}
    # and single chars always survive regardless of count
    assert _prune_py({"q": 0, "zz": 9}, 0) == {"q": 0}


def test_smoothed_probs_rejects_counts_past_exact_doubles():
    from hds_functions_spark.operators.unigram import _smoothed_probs_py

    with pytest.raises(ValueError, match="2\\*\\*53"):
        _smoothed_probs_py({"a": 2**53})
    with pytest.raises(ValueError, match="2\\*\\*53"):
        _smoothed_probs_py({"a": 2**53 - 2, "b": 0})
    # just below the bound: total + |vocab| = 2**53 - 1 is exact
    assert _smoothed_probs_py({"a": 2**53 - 2}) == {"a": 1.0}
