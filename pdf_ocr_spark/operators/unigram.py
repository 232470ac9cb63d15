"""Distributed unigram-LM tokenizer training + encoding (SentencePiece
family, Kudo 2018) — the second production subword-tokenizer family
next to BPE (``operators/tokenizer.py``).

Where BPE grows a vocabulary bottom-up by merging, the unigram model
starts from a LARGE seed vocabulary of candidate pieces and shrinks it:
piece probabilities are re-estimated by EM over the corpus and the
vocabulary is pruned to size.  This implementation uses deterministic
Viterbi (hard) EM — each E-step segments every word with the current
piece scores and counts pieces along the single best path — which keeps
every number integer-or-reproducible-float so an independent
pure-python twin (``tools/freeze_unigram_golden.py``) can pin the
result hash-exactly.

Scale shape (same discipline as the BPE trainer):

- the corpus is collapsed ONCE by :func:`tokenizer.word_freq_table`
  (the only corpus-sized shuffle);
- seed-piece statistics are a codegen'd substring fan-out over the
  compact (word, cnt) vocabulary table — sublinear in corpus size
  (Heaps' law), map-side-combined groupBy bounded by distinct pieces;
- each EM round is ONE ``mapInArrow`` stage over the weighted
  word table (broadcast piece scores, per-word Viterbi with
  memoization) followed by a map-side-combined piece groupBy; the
  per-round collect is the vocabulary-scale piece table — the same
  broadcast-shaped output every consumer (the encoder) wants;
- encoding is the shared Arrow encode stage of ``bpe_encode_arrow``
  (``tokenizer._encode_docs``) with the frozen piece table — O(1) plan
  depth at any vocabulary size.

Pinned semantics (mirrored by the twin):
- normalization: lowercase, whitespace runs → single space, split;
- seed pieces: ALL substrings of length 1..max_piece_len of each word,
  occurrences weighted by word count (overlaps count);
- seed/prune selection: every single character is always kept
  (coverage guarantee); multi-char pieces by (freq DESC, piece ASC);
- piece score: log(count / total) over the kept pieces, CPython
  ``math.log`` on exact integer counts;
- Viterbi: positions left to right, split point j scanned ascending
  (so ties keep the longest piece ending at i), strict ``>`` update;
- M-step: pieces with zero path count are dropped unless single-char
  (kept with count floored to 1 so coverage never degrades).
"""

from __future__ import annotations

import math
from typing import Dict, List, Sequence, Tuple

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from pdf_ocr_spark.operators.tokenizer import (
    _encode_docs,
    fixture_corpus,
    word_freq_table,
)

__all__ = [
    "fixture_corpus", "word_freq_table", "seed_piece_counts",
    "unigram_train", "unigram_encode", "viterbi_segment",
]


def substrings_expr(word: Column, max_len: int) -> Column:
    """All substrings of length 1..max_len of ``word`` as a flat array —
    pure codegen (sequence + nested transform), no Python in the row
    path.  Occurrences are position-based, so repeats count fully."""
    return F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.length(word)),
            lambda i: F.transform(
                F.sequence(
                    F.lit(1), F.least(F.lit(max_len), F.length(word) - i + 1)
                ),
                lambda ln: word.substr(i, ln),
            ),
        )
    )


def seed_piece_counts(
    word_freqs: DataFrame, max_piece_len: int = 6
) -> DataFrame:
    """(piece, freq) candidate statistics over the weighted word-vocab
    table: every substring occurrence of every distinct word, weighted
    by the word's corpus count.  Input is the compact vocabulary table,
    so the fan-out is |vocab| × O(len × max_piece_len), not corpus-
    sized; the groupBy is map-side combined and bounded by distinct
    substrings."""
    subs = word_freqs.select(
        F.col("cnt"),
        F.explode(substrings_expr(F.col("w"), max_piece_len)).alias("piece"),
    )
    return subs.groupBy("piece").agg(F.sum("cnt").alias("freq"))


def _select_vocab(
    counts: Sequence[Tuple[str, int]], size: int
) -> List[Tuple[str, int]]:
    """Coverage-safe selection: all single-char pieces, then the best
    multi-char pieces by (freq DESC, piece ASC) up to ``size`` total."""
    chars = sorted(
        [(p, c) for p, c in counts if len(p) == 1], key=lambda t: t[0]
    )
    multi = sorted(
        [(p, c) for p, c in counts if len(p) > 1],
        key=lambda t: (-t[1], t[0]),
    )
    return chars + multi[: max(0, size - len(chars))]


def _log_scores(vocab: Sequence[Tuple[str, int]]) -> Dict[str, float]:
    total = sum(c for _, c in vocab)
    return {p: math.log(c) - math.log(total) for p, c in vocab}


def viterbi_segment(
    word: str, logp: Dict[str, float], max_piece_len: int
) -> List[str]:
    """Best segmentation of ``word`` under the unigram scores: DP left
    to right, split point scanned ascending (ties keep the longest
    piece ending at each position), strict-``>`` update.  Single-char
    pieces are always in the vocabulary, so every word segments."""
    n = len(word)
    best = [float("-inf")] * (n + 1)
    best[0] = 0.0
    back = [0] * (n + 1)
    for i in range(1, n + 1):
        for j in range(max(0, i - max_piece_len), i):
            lp = logp.get(word[j:i])
            if lp is None:
                continue
            score = best[j] + lp
            if score > best[i]:
                best[i] = score
                back[i] = j
    pieces: List[str] = []
    i = n
    while i > 0:
        j = back[i]
        pieces.append(word[j:i])
        i = j
    pieces.reverse()
    return pieces


def _estep_counts(
    word_freqs: DataFrame, logp: Dict[str, float], max_piece_len: int
) -> List[Tuple[str, int]]:
    """One hard-EM E-step over the weighted word table: Viterbi-segment
    every distinct word with the broadcast scores, count pieces along
    the best path weighted by the word's corpus count.  One
    ``mapInArrow`` stage (``extract_job.arrow_map``) + one
    map-side-combined groupBy; the collect is
    the vocabulary-scale piece table (the M-step's input)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from pdf_ocr_spark.pipeline.extract_job import arrow_map

    schema = StructType([
        StructField("piece", StringType(), False),
        StructField("cnt", LongType(), False),
    ])

    def piece_counts(words, cnts):
        agg: Dict[str, int] = {}
        for w, c in zip(words, cnts):
            for piece in viterbi_segment(w, logp, max_piece_len):
                agg[piece] = agg.get(piece, 0) + c
        return list(agg.items())

    rows = (
        word_freqs.select("w", "cnt")
        .mapInArrow(arrow_map(piece_counts, schema), schema)
        .groupBy("piece")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    )
    return [(r["piece"], int(r["cnt"])) for r in rows]


def unigram_train(
    word_freqs: DataFrame,
    vocab_size: int,
    rounds: int = 2,
    max_piece_len: int = 6,
    seed_size: int = 400,
) -> List[Tuple[str, int]]:
    """Learn a unigram-LM piece vocabulary over a (w, cnt) frequency
    table.  Returns [(piece, cnt)] sorted by (cnt DESC, piece ASC) —
    vocabulary-scale by definition, the broadcast-shaped table the
    encoder consumes.

    Plan: seed substring fan-out (codegen) → map-side-combined piece
    groupBy → TakeOrdered seed selection; then ``rounds`` hard-EM
    iterations, each ONE mapInArrow Viterbi pass over the compact word
    table + one piece groupBy + a vocabulary-scale collect; prune to
    ``vocab_size`` after the final round (single chars always kept)."""
    # the seed scan, the char re-add scan, and every EM round re-read
    # this table — materialize it once so the corpus-sized word shuffle
    # runs exactly once (same discipline as bpe_train)
    word_freqs = word_freqs.localCheckpoint(eager=True)
    seed_rows = (
        seed_piece_counts(word_freqs, max_piece_len)
        .orderBy(F.desc("freq"), F.asc("piece"))
        .limit(seed_size)
        .collect()
    )
    # single chars may fall below the seed cutoff on skewed corpora —
    # re-add them from the exact char statistics so coverage holds
    char_rows = (
        seed_piece_counts(word_freqs, 1).collect()
    )
    seed: Dict[str, int] = {r["piece"]: int(r["freq"]) for r in seed_rows}
    for r in char_rows:
        seed.setdefault(r["piece"], int(r["freq"]))
    vocab = _select_vocab(sorted(seed.items()), max(seed_size, vocab_size))

    for _ in range(rounds):
        counts = dict(_estep_counts(word_freqs, _log_scores(vocab),
                                    max_piece_len))
        new_vocab: List[Tuple[str, int]] = []
        for p, _c in vocab:
            c = counts.get(p, 0)
            if c == 0:
                if len(p) == 1:
                    new_vocab.append((p, 1))   # coverage floor
                continue
            new_vocab.append((p, c))
        vocab = new_vocab

    vocab = _select_vocab(vocab, vocab_size)
    return sorted(vocab, key=lambda t: (-t[1], t[0]))


def unigram_encode(
    docs: DataFrame,
    vocab: Sequence[Tuple[str, int]],
    max_piece_len: int = 6,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize documents with a learned unigram vocabulary: the shared
    Arrow encode stage (``tokenizer._encode_docs``) with per-word
    Viterbi over the broadcast piece scores.  Output (id, n_tokens,
    tokens), the ``bpe_encode`` contract."""
    logp = _log_scores(list(vocab))
    return _encode_docs(
        docs, lambda w: viterbi_segment(w, logp, max_piece_len), text_col, id_col
    )
