"""The independent twin behind the unigram-LM tokenizer goldens: an INDEPENDENT pure-python
implementation of Viterbi hard-EM unigram training (SentencePiece
family, Kudo 2018 — dict/loop statistics, no Spark, no shared code with
``operators/unigram.py`` beyond the corpus fixture) run over
``tokenizer.fixture_corpus()``.  The registry queries ``unigram_vocab``
and ``unigram_encode`` compare the DISTRIBUTED trainer/encoder
value-hash-exactly against these frozen tables.

Pinned semantics (both implementations):
- normalization: lowercase, whitespace runs → single space, split
- seed pieces: all substrings of length 1..MAX_PIECE_LEN per distinct
  word, occurrences weighted by word count (overlaps count); top
  SEED_SIZE by (freq DESC, piece ASC); missing single chars re-added
  with their exact counts (coverage)
- selection (seed and prune): every single char kept, multi-char by
  (freq DESC, piece ASC)
- piece score: math.log(count) - math.log(total) on exact int counts
- Viterbi: split point j scanned ascending (ties keep the longest
  piece ending at i), strict > update
- hard EM: ROUNDS iterations; zero-count pieces dropped unless
  single-char (kept, count floored to 1); final prune to VOCAB_SIZE

``tools/freeze.py`` writes the goldens from ``train``/``encode``; rerun
(and commit) only when semantics intentionally change:
    python tools/freeze.py unigram_vocab unigram_encode
"""

from __future__ import annotations

import math
import re
from collections import Counter
from typing import Dict, List, Tuple

VOCAB_SIZE = 40
ROUNDS = 2
MAX_PIECE_LEN = 4
SEED_SIZE = 150


def _norm_words(text: str) -> List[str]:
    return [w for w in re.sub(r"\s+", " ", text.lower()).strip().split(" ") if w]


def _select(counts: List[Tuple[str, int]], size: int) -> List[Tuple[str, int]]:
    chars = sorted([t for t in counts if len(t[0]) == 1], key=lambda t: t[0])
    multi = sorted([t for t in counts if len(t[0]) > 1],
                   key=lambda t: (-t[1], t[0]))
    return chars + multi[: max(0, size - len(chars))]


def _scores(vocab: List[Tuple[str, int]]) -> Dict[str, float]:
    total = sum(c for _, c in vocab)
    return {p: math.log(c) - math.log(total) for p, c in vocab}


def _viterbi(word: str, logp: Dict[str, float]) -> List[str]:
    n = len(word)
    best = [float("-inf")] * (n + 1)
    best[0] = 0.0
    back = [0] * (n + 1)
    for i in range(1, n + 1):
        for j in range(max(0, i - MAX_PIECE_LEN), i):
            lp = logp.get(word[j:i])
            if lp is None:
                continue
            s = best[j] + lp
            if s > best[i]:
                best[i] = s
                back[i] = j
    out: List[str] = []
    i = n
    while i > 0:
        out.append(word[back[i]:i])
        i = back[i]
    out.reverse()
    return out


def train(corpus: List[Tuple[int, str]]) -> List[Tuple[str, int]]:
    freqs: Counter = Counter()
    for _, text in corpus:
        freqs.update(_norm_words(text))

    # seed: weighted substring statistics over the distinct-word table
    sub: Counter = Counter()
    for w, c in freqs.items():
        for i in range(len(w)):
            for ln in range(1, min(MAX_PIECE_LEN, len(w) - i) + 1):
                sub[w[i:i + ln]] += c
    top = sorted(sub.items(), key=lambda kv: (-kv[1], kv[0]))[:SEED_SIZE]
    seed: Dict[str, int] = dict(top)
    for piece, c in sub.items():
        if len(piece) == 1:
            seed.setdefault(piece, c)
    vocab = _select(sorted(seed.items()), max(SEED_SIZE, VOCAB_SIZE))

    for _ in range(ROUNDS):
        logp = _scores(vocab)
        counts: Counter = Counter()
        for w, c in freqs.items():
            for piece in _viterbi(w, logp):
                counts[piece] += c
        nxt: List[Tuple[str, int]] = []
        for p, _c in vocab:
            c = counts.get(p, 0)
            if c == 0:
                if len(p) == 1:
                    nxt.append((p, 1))
                continue
            nxt.append((p, c))
        vocab = nxt

    vocab = _select(vocab, VOCAB_SIZE)
    return sorted(vocab, key=lambda t: (-t[1], t[0]))


def encode(corpus: List[Tuple[int, str]],
           vocab: List[Tuple[str, int]]) -> List[Tuple[int, int, str]]:
    logp = _scores(vocab)
    rows: List[Tuple[int, int, str]] = []
    for doc_id, text in corpus:
        toks: List[str] = []
        for w in _norm_words(text):
            toks.extend(_viterbi(w, logp))
        rows.append((doc_id, len(toks), " ".join(toks)))
    return rows
