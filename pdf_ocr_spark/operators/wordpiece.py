"""Distributed WordPiece tokenizer training + encoding — the THIRD
production subword-tokenizer family (Schuster & Nakajima 2012; the
BERT tokenizer) next to BPE (``operators/tokenizer.py``) and
unigram-LM (``operators/unigram.py``).

WordPiece is BPE with a LIKELIHOOD merge criterion: instead of the most
frequent adjacent pair, each round merges the pair maximizing
``freq(pair) / (freq(left) * freq(right))`` — the pair whose merge most
increases the corpus likelihood under a unigram model.  Continuation
symbols carry the ``##`` prefix (word-initial pieces do not), and
encoding is greedy longest-prefix MaxMatch with ``[UNK]`` fallback,
exactly the BERT runtime algorithm.

Scale shape (same discipline as the sibling trainers):

- the corpus collapses ONCE via :func:`tokenizer.word_freq_table` (the
  only corpus-sized shuffle);
- each round runs over the compact weighted (w, cnt, syms) vocab table:
  a codegen'd adjacent-pair explode + map-side-combined groupBy for the
  pair statistics, a symbol explode + groupBy for the symbol
  statistics (both bounded by distinct symbols/pairs, not corpus
  size), two broadcast joins to attach the denominators, and a
  TakeOrdered(1) winner;
- the merge score is BIGINT-EXACT: ``freq * 10^12 div (freq_l *
  freq_r)`` — integer division reproducible bit-for-bit in DuckDB and
  in the pure-python twin, no IEEE-double ordering hazards (safe while
  pair freq < ~9·10^6 at the 10^12 quantum; web-scale corpora shard
  the trainer per language anyway);
- the winner (one tiny row, PageRank-convergence-style) folds back into
  the symbol arrays with the shared greedy left-to-right
  ``F.aggregate`` rewrite; ``localCheckpoint`` truncates lineage;
- encoding is the shared Arrow encode stage (``tokenizer._encode_docs``:
  broadcast vocab set, per-word memoization) — O(1) plan depth at any
  vocabulary size.

Pinned semantics (mirrored by ``tools/freeze_wordpiece_golden.py``):
- normalization: lowercase, whitespace runs → single space, split;
- initial symbols: ``w[0], ##w[1], ..., ##w[n-1]`` (no end marker);
- pair/symbol statistics weighted by word count, overlaps count fully;
- winner order: (score_q DESC, freq DESC, left ASC, right ASC); stop
  when the best pair's raw freq < min_freq;
- merged symbol: ``left + right_without_##``;
- MaxMatch encode: longest vocab piece at each position (``##``-prefixed
  after position 0); a word with any unmatched position becomes one
  ``[UNK]`` token.

Reference parity note: the reference tokenizes OCR output only
implicitly through its remote model's tokenizer
(pdf_ocr_with_silicon_remote_vllm.py token-usage accounting); training
the tokenizer itself is the upstream web-scale step this engine adds.
"""

from __future__ import annotations

from typing import List, Sequence, Tuple

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from pdf_ocr_spark.operators.tokenizer import (
    _encode_docs,
    _pair_counts,
    fixture_corpus,
    word_freq_table,
)

__all__ = [
    "fixture_corpus", "word_freq_table", "wordpiece_symbols_expr",
    "wordpiece_pair_scores", "wordpiece_train", "wordpiece_encode",
]

SCORE_QUANTUM = 1_000_000_000_000  # 10^12: BIGINT-exact likelihood ratio
UNK = "[UNK]"


def eval_corpus() -> List[Tuple[int, str]]:
    """Encoding fixture: the training corpus plus rows holding words the
    trained vocabulary can only partially cover (MaxMatch falls back to
    shorter pieces) or not at all (whole-word ``[UNK]``)."""
    rows = list(fixture_corpus())
    rows.append((100, "lowering newness widest zq"))
    rows.append((101, "slowest renew wildest"))
    return rows


def wordpiece_symbols_expr(word: Column) -> Column:
    """Initial WordPiece symbol array: first char bare, every later
    char ``##``-prefixed — pure codegen (transform over sequence)."""
    return F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: F.when(i == 1, word.substr(i, F.lit(1))).otherwise(
            F.concat(F.lit("##"), word.substr(i, F.lit(1)))
        ),
    )


def _sym_counts(words: DataFrame) -> DataFrame:
    """(sym, freq) weighted symbol-occurrence statistics over the
    (w, cnt, syms) table — map-side-combined, bounded by |vocab|."""
    return (
        words.select(F.col("cnt"), F.explode("syms").alias("sym"))
        .groupBy("sym")
        .agg(F.sum("cnt").alias("freq"))
    )


def _scored_pairs(words: DataFrame) -> DataFrame:
    """(l, r, freq, score_q) likelihood-scored adjacent pairs: pair
    statistics joined (broadcast — the symbol table is vocab-scale)
    against both symbols' frequencies, score as BIGINT integer
    division of the 10^12-quantized likelihood ratio."""
    pairs = _pair_counts(words)
    syms = _sym_counts(words)
    fl = F.broadcast(syms.select(F.col("sym").alias("l"), F.col("freq").alias("fl")))
    fr = F.broadcast(syms.select(F.col("sym").alias("r"), F.col("freq").alias("fr")))
    return (
        pairs.join(fl, "l")
        .join(fr, "r")
        .select(
            "l",
            "r",
            F.col("freq").cast("long").alias("freq"),
            F.expr(
                f"CAST(freq AS BIGINT) * {SCORE_QUANTUM} div "
                "(CAST(fl AS BIGINT) * CAST(fr AS BIGINT))"
            ).alias("score_q"),
        )
    )


def wordpiece_pair_scores(word_freqs: DataFrame) -> DataFrame:
    """Round-1 likelihood-scored pair statistics over a (w, cnt)
    frequency table — the WordPiece analogue of ``bpe_pair_counts``
    (fully SQL-expressible, so the registry gives it a live DuckDB
    replay).  Output: (l, r, freq, score_q)."""
    words = word_freqs.select(
        "w", "cnt", wordpiece_symbols_expr(F.col("w")).alias("syms")
    )
    return _scored_pairs(words)


def _strip_cont(sym: str) -> str:
    return sym[2:] if sym.startswith("##") else sym


def wordpiece_train(
    word_freqs: DataFrame, n_merges: int, min_freq: int = 2
) -> Tuple[List[Tuple[int, str, str, int, int]], List[Tuple[str, int]]]:
    """Learn ``n_merges`` WordPiece merges over a (w, cnt) table.

    Returns ``(merges, vocab)``: merges as [(rank, left, right, freq,
    score_q)] and the FINAL symbol vocabulary as [(piece, freq)] sorted
    (freq DESC, piece ASC) — both vocabulary-scale, the broadcast-shaped
    tables the encoder consumes.  Stops early when no pair reaches
    ``min_freq``.

    Plan per round: pair + symbol explodes (codegen) → two map-side-
    combined groupBys bounded by |vocab| → broadcast denominator joins →
    TakeOrdered(1) under the total (score_q DESC, freq DESC, l, r)
    order → one fold rewrite; ``localCheckpoint`` keeps plan depth
    O(1)."""
    words = word_freqs.select(
        F.col("w"), F.col("cnt"), wordpiece_symbols_expr(F.col("w")).alias("syms")
    ).localCheckpoint(eager=True)
    merges: List[Tuple[int, str, str, int, int]] = []
    for rank in range(n_merges):
        top = (
            _scored_pairs(words)
            .orderBy(F.desc("score_q"), F.desc("freq"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not top or int(top[0]["freq"]) < min_freq:
            break
        l, r = top[0]["l"], top[0]["r"]
        merges.append((rank, l, r, int(top[0]["freq"]), int(top[0]["score_q"])))
        merged = l + _strip_cont(r)
        words = words.select(
            "w",
            "cnt",
            _apply_merge_expr_wp(F.col("syms"), l, r, merged).alias("syms"),
        ).localCheckpoint(eager=True)
    vocab_rows = (
        _sym_counts(words).orderBy(F.desc("freq"), F.asc("sym")).collect()
    )
    vocab = [(row["sym"], int(row["freq"])) for row in vocab_rows]
    return merges, vocab


def _apply_merge_expr_wp(syms: Column, left: str, right: str, merged: str) -> Column:
    """Greedy left-to-right single-merge rewrite where the merged symbol
    differs from ``left + right`` (the ``##`` strip) — same fold shape
    as tokenizer._apply_merge_expr."""
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def max_match(word: str, vocab: frozenset, max_len: int) -> List[str]:
    """BERT-runtime greedy longest-prefix MaxMatch: the longest vocab
    piece at each position (``##``-prefixed after position 0); any
    unmatched position collapses the whole word to one ``[UNK]``."""
    n = len(word)
    i = 0
    out: List[str] = []
    while i < n:
        j = min(n, i + max_len)
        piece = None
        while j > i:
            cand = word[i:j] if i == 0 else "##" + word[i:j]
            if cand in vocab:
                piece = cand
                break
            j -= 1
        if piece is None:
            return [UNK]
        out.append(piece)
        i = j
    return out


def wordpiece_encode(
    docs: DataFrame,
    vocab: Sequence[Tuple[str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize documents with a learned WordPiece vocabulary: the shared
    Arrow encode stage (``tokenizer._encode_docs``) with per-word
    MaxMatch over the broadcast vocab set.  Output (id, n_tokens,
    tokens), the shared encoder contract."""
    vset = frozenset(p for p, _ in vocab)
    max_len = max((len(_strip_cont(p)) for p in vset), default=1)
    return _encode_docs(docs, lambda w: max_match(w, vset, max_len), text_col, id_col)
