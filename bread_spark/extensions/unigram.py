"""Unigram-LM (SentencePiece-style) tokenizer training — the second
real-world tokenizer family next to BPE.

BPE (`training.bpe_merges`) GROWS a vocabulary bottom-up by merging
frequent pairs; the unigram LM (Kudo 2018, the SentencePiece default)
goes the other way: seed a LARGE candidate piece inventory, fit a
unigram language model over segmentations by EM, and PRUNE to the
target size — which is why it can consider pieces BPE's greedy merges
never form. Shipping both matches what practitioners actually choose
between.

Implementation (deterministic Viterbi hard-EM):

1. **Seed** — all substrings of corpus words up to `MAX_PIECE_LEN`
   chars, counted over occurrences weighted by word frequency; keep the
   `SEED_SIZE` most frequent ((freq DESC, piece ASC) total order) plus
   EVERY single character (coverage guarantee: any word is always
   segmentable). Built distributed on the word-frequency table — the
   same O(vocabulary) trainer state as BPE; 100 TB of text still
   reduces to one word table, and raw text is touched once.
2. **EM iterations** — E-step: per distinct word, the best segmentation
   under the current piece scores by Viterbi DP; scores are INTEGER
   micro-logs (round(ln(count/total)*1e6) — the NB scoring discipline),
   so the DP compares exact integers and ties cannot wobble across
   runs or platforms; remaining ties break deterministically (prefer
   the LONGER final piece). Piece-usage counts fold back weighted by
   word frequency (one small aggregate). M-step: counts become the
   next scores (add-1 floor keeps every surviving piece scoreable).
   The E-step runs in `mapInPandas` over the DISTINCT-WORD table with
   the piece table broadcast (bounded by construction: <= SEED_SIZE +
   alphabet rows) — corpus volume never enters the loop.
3. **Prune** — keep the `VOCAB_TARGET` highest-count multi-char pieces
   ((count DESC, piece ASC)) plus all single chars, re-fit scores once.

Rows-only by design (iterative EM; log-score table is float-derived —
same provenance class as `bpe_merges`): pinned by hand-computable
corpora, a corpus-likelihood-improves check, coverage/round-trip
invariants, and run-to-run determinism in tests/test_unigram.py.

Entries:
- `unigram_vocab` — (rank, piece, n_chars, count, logprob_micro)
- `unigram_token_counts` — the trained tokenizer APPLIED back to the
  corpus: (token, n), the subword frequency table a sampler or packing
  job reads (the `bpe_token_counts` twin).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..plans.materialize import materialized_frame, register_side_cache

MAX_PIECE_LEN = 6
SEED_SIZE = 2000
VOCAB_TARGET = 512
N_EM = 3
LOG_SCALE = 1_000_000


def _word_freq_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(w, cnt) distinct corpus words — the trainer's only data input,
    vocabulary-sized, compute-once."""

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return (
            docs.select(F.explode(F.split("text", " ")).alias("w"))
            .filter(F.col("w") != "")
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    return materialized_frame(spark, "unigram.words", sf_dir, build)


def _seed_pieces(words: DataFrame) -> DataFrame:
    """(piece, freq) candidate inventory: top `SEED_SIZE` substrings up
    to MAX_PIECE_LEN by occurrence mass, UNION all single chars."""
    subs = words.select(
        F.explode(
            F.expr(
                f"flatten(transform(sequence(1, length(w)), i -> "
                f"transform(sequence(1, least({MAX_PIECE_LEN}, "
                f"length(w) - i + 1)), l -> substring(w, i, l))))"
            )
        ).alias("piece"),
        "cnt",
    ).groupBy("piece").agg(F.sum("cnt").alias("freq"))
    multi = (
        subs.filter(F.length("piece") > 1)
        .orderBy(F.desc("freq"), F.asc("piece"))
        .limit(SEED_SIZE)
    )
    chars = subs.filter(F.length("piece") == 1)
    return multi.unionByName(chars)


def _score_table(counts: dict[str, int]) -> dict[str, int]:
    """piece -> integer micro-log prob under the unigram model."""
    total = sum(counts.values())
    return {
        p: int(round(math.log(c / total) * LOG_SCALE))
        for p, c in counts.items()
        if c > 0
    }


def _viterbi(word: str, scores: dict[str, int]) -> list[str]:
    """Best segmentation by exact-integer DP. Tie-break: prefer the
    longer final piece at every position (smaller j wins ties)."""
    n = len(word)
    NEG = -(1 << 60)
    best = [NEG] * (n + 1)
    back = [0] * (n + 1)
    best[0] = 0
    for i in range(1, n + 1):
        for j in range(max(0, i - MAX_PIECE_LEN), i):
            if best[j] == NEG:
                continue
            s = scores.get(word[j:i])
            if s is None:
                continue
            cand = best[j] + s
            if cand > best[i] or (cand == best[i] and j < back[i]):
                best[i] = cand
                back[i] = j
    if best[n] == NEG:  # unreachable when all chars are in the vocab
        return list(word)
    out, i = [], n
    while i > 0:
        j = back[i]
        out.append(word[j:i])
        i = j
    return out[::-1]


def _segment_fold(scores: dict[str, int], out_col: str):
    """THE segmentation fold (review finding: three near-copies of this
    logic risked desynchronizing tie-break semantics) — a mapInPandas
    function Viterbi-segmenting each distinct word and emitting one
    (out_col, n) row per used piece, weighted by word count. Every
    consumer (E-step counts, the applied tokenizer, the corpus-score
    trace) goes through this one closure and therefore through the one
    `_viterbi` implementation."""
    import pandas as pd

    def seg(it):
        for pdf in it:
            pieces, cnts = [], []
            for w, c in zip(pdf["w"], pdf["cnt"]):
                for p in _viterbi(w, scores):
                    pieces.append(p)
                    cnts.append(int(c))
            yield pd.DataFrame({out_col: pieces, "n": cnts})

    return seg


def _em_counts(
    words: DataFrame, scores: dict[str, int]
) -> dict[str, int]:
    """One E-step: Viterbi-segment every distinct word, fold piece
    usages weighted by word count."""
    rows = (
        words.mapInPandas(_segment_fold(scores, "piece"), "piece string, n long")
        .groupBy("piece")
        .agg(F.sum("n").alias("n"))
        .collect()
    )
    return {r["piece"]: r["n"] for r in rows}


def _train(spark: SparkSession, sf_dir: str):
    """Full training run -> (final counts, final scores, score trace).
    Deterministic for a fixed corpus; memoized in `_TRAINED`."""
    key = (spark.sparkContext.applicationId, os.path.realpath(sf_dir))
    if key in _TRAINED:
        return _TRAINED[key]
    words = _word_freq_frame(spark, sf_dir)
    seed = {
        r["piece"]: r["freq"] for r in _seed_pieces(words).collect()
    }
    counts = dict(seed)
    trace = []
    for _ in range(N_EM):
        scores = _score_table(counts)
        trace.append(_corpus_score(words, scores))
        em = _em_counts(words, scores)
        # add-1 floor keeps all single chars alive (coverage)
        counts = {
            p: em.get(p, 0) + (1 if len(p) == 1 else 0)
            for p in counts
            if em.get(p, 0) > 0 or len(p) == 1
        }
    # prune to target: top multi-char pieces + every char
    multi = sorted(
        ((c, p) for p, c in counts.items() if len(p) > 1),
        key=lambda t: (-t[0], t[1]),
    )[:VOCAB_TARGET]
    final = {p: c for c, p in multi}
    final.update({p: c for p, c in counts.items() if len(p) == 1})
    scores = _score_table(final)
    trace.append(_corpus_score(words, scores))
    _TRAINED[key] = (final, scores, trace)
    return _TRAINED[key]


# Training runs per (applicationId, realpath(sf_dir)), keyed like the
# `unigram.words` seam they are trained on and, like the BPE merge lists,
# registered with the seam registry: `clear_materialized_frames()` empties
# both, so a rebuilt word frame never pairs with stale training.
_TRAINED: dict[tuple, tuple] = register_side_cache({})


def _corpus_score(words: DataFrame, scores: dict[str, int]) -> int:
    """Total Viterbi corpus score (Σ word_cnt · best_score) — the
    exact-integer likelihood surrogate the EM trace records. Scored
    through the SAME `_viterbi` as segmentation (review finding: an
    inline DP copy here omitted the tie-break and could silently score
    under different semantics): the best score is by definition the
    sum of the chosen pieces' scores."""
    import pandas as pd

    def sc(it):
        for pdf in it:
            tot = 0
            for w, c in zip(pdf["w"], pdf["cnt"]):
                pieces = _viterbi(w, scores)
                if all(p in scores for p in pieces):
                    tot += int(c) * sum(scores[p] for p in pieces)
            yield pd.DataFrame({"t": [tot]})

    rows = words.mapInPandas(sc, "t long").agg(F.sum("t")).collect()
    return rows[0][0] or 0


def unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained unigram tokenizer vocabulary (module docstring):
    (rank, piece, n_chars, count, logprob_micro), ranked
    (count DESC, piece ASC)."""
    counts, scores, _ = _train(spark, sf_dir)
    ranked = sorted(counts.items(), key=lambda t: (-t[1], t[0]))
    rows = [
        (i + 1, p, len(p), int(c), int(scores[p]))
        for i, (p, c) in enumerate(ranked)
    ]
    return spark.createDataFrame(
        rows,
        "rank long, piece string, n_chars int, count long,"
        " logprob_micro long",
    )


def unigram_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained tokenizer applied back to the corpus: Viterbi
    segmentation of every distinct word under the FINAL vocabulary,
    piece counts weighted by word frequency — (token, n)."""
    counts, scores, _ = _train(spark, sf_dir)
    words = _word_freq_frame(spark, sf_dir)
    return (
        words.mapInPandas(
            _segment_fold(scores, "token"), "token string, n long"
        )
        .groupBy("token")
        .agg(F.sum("n").alias("n"))
    )
