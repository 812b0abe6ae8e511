"""Unigram-LM tokenizer training: morpheme recovery on constructed
corpora, char-mass conservation, EM monotonicity, determinism."""

from __future__ import annotations

import pyspark.sql.functions as F

from bread_spark.extensions.unigram import (
    MAX_PIECE_LEN,
    VOCAB_TARGET,
    _train,
    unigram_token_counts,
    unigram_vocab,
)
from bread_spark.plans.materialize import clear_materialized_frames
from tests.conftest import SF_DIR


def _planted_corpus(spark):
    """Words composed from four morphemes; no word fits in one piece
    (len > MAX_PIECE_LEN), so the trainer MUST discover subwords."""
    words = {
        "working": 50,
        "playing": 40,
        "workers": 30,
        "players": 25,
        "worked": 20,
        "played": 15,
    }
    # the 7-char words exceed MAX_PIECE_LEN and must split; the 6-char
    # past-tense forms fit whole — both behaviors are asserted below
    assert all(len(w) >= MAX_PIECE_LEN for w in words)
    text = " ".join(w for w, c in words.items() for _ in range(c))
    return spark.createDataFrame(
        [(0, text, "en", "s", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_trainer_discovers_morphemes(spark, monkeypatch):
    from bread_spark.extensions import unigram as U

    monkeypatch.setattr(U, "load_table", lambda sp, sf, t: _planted_corpus(spark))
    clear_materialized_frames()
    try:
        vocab = {r["piece"]: r for r in U.unigram_vocab(spark, "p1").collect()}
        toks = {
            r["token"]: r["n"]
            for r in U.unigram_token_counts(spark, "p1").collect()
        }
    finally:
        clear_materialized_frames()
    # the stems AND suffixes are discovered and actually used: the
    # 7-char words must split (stem + ing/ers), while 6-char "worked"/
    # "played" legitimately stay whole pieces — so the stems carry
    # exactly the 7-char words' occurrences
    assert toks["work"] == 50 + 30 and toks["play"] == 40 + 25
    assert toks["ing"] == 50 + 40 and toks["ers"] == 30 + 25
    assert "work" in vocab and "play" in vocab and "ing" in vocab
    # char-mass conservation: segmentation is a partition of every word
    corpus_chars = sum(
        len(w) * c
        for w, c in [
            ("working", 50), ("playing", 40), ("workers", 30),
            ("players", 25), ("worked", 20), ("played", 15),
        ]
    )
    assert sum(len(t) * n for t, n in toks.items()) == corpus_chars


def test_char_mass_conserved_on_fixture(spark):
    """Σ len(token)·n over the applied tokenizer equals the corpus's
    whitespace-stripped char mass — segmentation partitions every word,
    never drops or duplicates a character."""
    from bread_spark.io import load_table

    docs = load_table(spark, SF_DIR, "documents")
    words_mass = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .agg(F.sum(F.length("w")))
        .collect()[0][0]
    )
    tok_mass = (
        unigram_token_counts(spark, SF_DIR)
        .select((F.length("token") * F.col("n")).alias("m"))
        .agg(F.sum("m"))
        .collect()[0][0]
    )
    assert tok_mass == words_mass


def test_em_trace_monotone_and_bounds(spark):
    """The EM phase's corpus score never decreases (coordinate ascent:
    E improves segmentation under fixed scores, M refits scores to the
    fixed segmentation); the vocabulary respects the prune bound."""
    counts, scores, trace = _train(spark, SF_DIR)
    em_phase = trace[:-1]  # last entry is post-prune (may drop score)
    assert all(b >= a for a, b in zip(em_phase, em_phase[1:])), trace
    n_chars = sum(1 for p in counts if len(p) == 1)
    assert len(counts) <= VOCAB_TARGET + n_chars
    assert all(scores[p] < 0 for p in counts)  # log-probs


def test_training_is_deterministic(spark):
    """Two from-scratch runs produce identical vocab tables."""
    a = {(r["piece"], r["count"]) for r in unigram_vocab(spark, SF_DIR).collect()}
    clear_materialized_frames()
    b = {(r["piece"], r["count"]) for r in unigram_vocab(spark, SF_DIR).collect()}
    assert a == b
