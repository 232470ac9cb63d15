"""Distributed BPE tokenizer training + encoding over the corpus.

Training a subword tokenizer is the step every pretraining pipeline
runs between "corpus is clean" and "corpus is tokens" (GPT-2/Sennrich
et al. 2016 byte-pair encoding).  At 100 TB the expensive part is NOT
the merge loop — it is collapsing the corpus to its distinct-word
frequency table.  This module splits the work accordingly:

- :func:`word_freq_table` — the ONE corpus-sized shuffle (a map-side-
  combined word groupBy).  Everything after runs over the compact
  (word, cnt) vocabulary table, which is sublinear in corpus size
  (heap's law: ~|corpus|^0.5), exactly how production BPE trainers
  (HuggingFace tokenizers, SentencePiece) structure the job.
- :func:`bpe_train` — the iterative merge loop AS SPARK PLANS over the
  weighted vocab: each round explodes adjacent symbol pairs
  (``arrays_zip`` of two slices — codegen, no Python), aggregates pair
  frequencies (map-side combined, bounded by distinct-pair count), and
  takes the top pair via TakeOrdered with a TOTAL deterministic
  tie-break (freq desc, left asc, right asc).  The winning pair — a
  single tiny row, the same collect discipline as PageRank's
  convergence count — is folded back into the symbol arrays with a
  greedy left-to-right ``F.aggregate`` (overlaps resolve exactly like
  the reference algorithm: 'aaaa' + (a,a) → 'aa','aa').
  ``localCheckpoint`` truncates lineage each round so the k-th plan
  stays O(1) deep.
- :func:`bpe_encode` — applies a learned merge list to documents as a
  chain of the same greedy folds, built programmatically in rank order
  (all codegen'd; for vocabulary-scale merge lists
  :func:`bpe_encode_arrow` applies the frozen table in one Arrow stage
  instead — the chain is the small-k path).

Semantics pinned by tests + the pure-python third implementation in
``tools/freeze_bpe_golden.py`` (frozen golden = the oracle for the
``bpe_merges`` / ``bpe_encode`` registry queries): end-of-word marker
``</w>``, overlap-counting pair statistics, greedy left-to-right merge
application, (freq, left, right) tie-break.
"""

from __future__ import annotations

import re
from typing import List, Sequence, Tuple

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from pdf_ocr_spark.operators.text_analysis import norm_words_expr

END = "</w>"


def fixture_corpus() -> List[Tuple[int, str]]:
    """Deterministic training corpus for the golden-gated registry
    queries (never reads testdata — same policy as every frozen kernel
    golden).  Word repetition is engineered so the first merges are
    forced and ties exercise the (left, right) lexicographic break."""
    words = ["lower", "lowest", "newer", "newest", "wider", "widest",
             "low", "new", "slow", "slower"]
    rows: List[Tuple[int, str]] = []
    for i in range(40):
        # deterministic cyclic sentence: 5 words, stride varies by row
        picks = [words[(i * 3 + j * (1 + i % 4)) % len(words)] for j in range(5)]
        rows.append((i, " ".join(picks)))
    return rows


def word_freq_table(
    docs: DataFrame, text_col: str = "text", min_count: int = 1
) -> DataFrame:
    """(word, cnt) over the normalized corpus — the single corpus-sized
    shuffle of BPE training (map-side combined groupBy).  ``min_count``
    trims hapax noise when the corpus is web-scale."""
    w = docs.select(F.explode(norm_words_expr(F.col(text_col))).alias("w")).filter(
        F.col("w") != ""
    )
    out = w.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    if min_count > 1:
        out = out.filter(F.col("cnt") >= min_count)
    return out


def _symbols_expr(word: Column) -> Column:
    """Initial symbol array: characters + the end-of-word marker."""
    return F.concat(F.split(word, ""), F.array(F.lit(END)))


def _apply_merge_expr(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right application of ONE merge (left, right) →
    left||right to a symbol array, as a codegen'd fold.  Overlapping
    occurrences resolve like the reference algorithm: once a pair
    merges, its right symbol cannot start the next match."""
    merged = left + right
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


def _pair_counts(words: DataFrame) -> DataFrame:
    """(l, r, freq) adjacent-pair statistics over the weighted symbol
    table.  Overlaps count fully (('a','a') appears twice in 'aaa'),
    matching the classic pair-statistics definition."""
    sz = F.size("syms")
    pairs = F.arrays_zip(
        F.slice("syms", 1, sz - 1), F.slice("syms", 2, sz - 1)
    )
    return (
        words.select(F.col("cnt"), F.explode(pairs).alias("p"))
        .select(F.col("p.0").alias("l"), F.col("p.1").alias("r"), "cnt")
        .groupBy("l", "r")
        .agg(F.sum("cnt").alias("freq"))
    )


def bpe_train(
    word_freqs: DataFrame, n_merges: int, min_freq: int = 2
) -> List[Tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merges over a (w, cnt) frequency table.

    Returns [(rank, left, right, freq)] — merge tables are vocabulary-
    scale (k rows) by definition, so returning them driver-side is the
    broadcast-shaped output every consumer wants.  Stops early when no
    pair reaches ``min_freq``.

    Plan per round: pair explode (codegen) → map-side-combined groupBy
    (bounded by distinct pairs, NOT corpus size) → TakeOrdered(1) with
    the total (freq desc, left asc, right asc) order → one fold rewrite
    of the symbol arrays.  ``localCheckpoint`` truncates lineage so
    round k's plan does not embed rounds 1..k-1."""
    words = word_freqs.select(
        F.col("w"), F.col("cnt"), _symbols_expr(F.col("w")).alias("syms")
    )
    words = words.localCheckpoint(eager=True)
    merges: List[Tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        top = (
            _pair_counts(words)
            .orderBy(F.desc("freq"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["freq"] < min_freq:
            break
        l, r, freq = top[0]["l"], top[0]["r"], int(top[0]["freq"])
        merges.append((rank, l, r, freq))
        words = words.select(
            "w", "cnt", _apply_merge_expr(F.col("syms"), l, r).alias("syms")
        ).localCheckpoint(eager=True)
    return merges


def bpe_encode(
    docs: DataFrame,
    merges: Sequence[Tuple[int, str, str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize documents with a learned merge list: per word, apply
    every merge in rank order as chained greedy folds (all codegen —
    zero Python in the row path).  Output (id, n_tokens, tokens) where
    ``tokens`` is the space-joined subword stream.

    The chain depth equals len(merges): the right shape for bounded
    merge tables (tests/goldens).  Production-size vocabularies use
    :func:`bpe_encode_arrow` instead — same semantics, one Arrow batch
    hop."""
    tokens = F.flatten(
        F.transform(
            F.filter(norm_words_expr(F.col(text_col)), lambda w: w != ""),
            lambda w: _encode_word_chain(w, merges),
        )
    )
    out = docs.select(F.col(id_col), tokens.alias("_toks"))
    return out.select(
        id_col,
        F.size("_toks").alias("n_tokens"),
        F.concat_ws(" ", "_toks").alias("tokens"),
    )


def _encode_word_chain(
    word: Column, merges: Sequence[Tuple[int, str, str, int]]
) -> Column:
    """Symbol array for one word after applying all merges in order."""
    syms = _symbols_expr(word)
    for _, l, r, _ in sorted(merges):
        syms = _apply_merge_expr(syms, l, r)
    return syms


def _encode_rows(segment):
    """The one encode rows function every tokenizer family shares: per
    document, normalize (lowercase, whitespace runs → one space, split)
    and concatenate ``segment(word)`` over its words, memoized per word
    for the task (Heaps'-law-friendly: web batches repeat words
    heavily).  (ids, texts) → (id, n_tokens, tokens) rows; a NULL text
    encodes like ``''`` as (0, '')."""
    space = re.compile(r"\s+")
    cache: dict = {}

    def encode_rows(ids, texts):
        out = []
        for doc_id, text in zip(ids, texts):
            toks: List[str] = []
            for w in space.sub(" ", (text or "").lower()).strip().split(" "):
                if w:
                    hit = cache.get(w)
                    if hit is None:
                        hit = cache[w] = segment(w)
                    toks.extend(hit)
            out.append((doc_id, len(toks), " ".join(toks)))
        return out

    return encode_rows


def _encode_docs(
    docs: DataFrame, segment, text_col: str, id_col: str
) -> DataFrame:
    """:func:`_encode_rows` as ONE ``mapInArrow`` stage through the
    pipeline's Arrow adapter — O(1) plan depth at any vocabulary size.
    Output (id, n_tokens, tokens), the :func:`bpe_encode` contract."""
    from pyspark.sql.types import IntegerType, StringType, StructField, \
        StructType

    from pdf_ocr_spark.pipeline.extract_job import arrow_map

    out_schema = StructType([
        docs.schema[id_col],
        StructField("n_tokens", IntegerType(), False),
        StructField("tokens", StringType(), False),
    ])
    return docs.select(id_col, text_col).mapInArrow(
        arrow_map(_encode_rows(segment), out_schema), out_schema
    )


def _apply_merges(w: str, ordered: Sequence[Tuple[str, str]]) -> List[str]:
    """One word's symbols after every merge in rank order, each a greedy
    left-to-right pass (the :func:`bpe_encode` fold, in Python)."""
    syms = list(w) + [END]
    present = set(syms)
    for left, right in ordered:
        if left not in present or right not in present:
            continue
        out: List[str] = []
        changed = False
        for s in syms:
            if out and out[-1] == left and s == right:
                out[-1] = left + right
                changed = True
            else:
                out.append(s)
        if changed:
            syms = out
            present = set(syms)
    return syms


def bpe_encode_arrow(
    docs: DataFrame,
    merges: Sequence[Tuple[int, str, str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The PRODUCTION-VOCAB encode path: same semantics as
    :func:`bpe_encode` (rank-ordered greedy left-to-right passes, the
    contract the python twin in tools/freeze_bpe_golden.py pins) but
    the frozen merge table is applied inside the shared Arrow encode
    stage (:func:`_encode_docs`) instead of a len(merges)-deep codegen
    chain — the right shape when the vocabulary has thousands of merges
    (the chain's plan size is linear in k; this path is O(1) plan,
    O(batch) Python).

    Output schema matches :func:`bpe_encode`: (id, n_tokens, tokens)."""
    ordered = [(l, r) for _, l, r, _ in sorted(merges)]
    return _encode_docs(
        docs, lambda w: _apply_merges(w, ordered), text_col, id_col
    )
