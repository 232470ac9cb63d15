"""The independent twin behind the WordPiece tokenizer goldens: an INDEPENDENT pure-python
implementation of likelihood-criterion WordPiece training (Schuster &
Nakajima 2012; BERT) — dict/loop statistics, no Spark, no shared code
with ``operators/wordpiece.py`` beyond the corpus fixture — run over
``tokenizer.fixture_corpus()``.  The registry queries
``wordpiece_vocab`` and ``wordpiece_encode`` compare the DISTRIBUTED
trainer/encoder value-hash-exactly against these frozen tables.

Pinned semantics (both implementations):
- normalization: lowercase, whitespace runs → single space, split
- initial symbols: w[0], ##w[1], ..., ##w[n-1] (no end marker)
- pair/symbol statistics weighted by word count, overlaps count fully
- merge score: BIGINT-exact ``freq(pair) * 10^12 // (freq(l) *
  freq(r))``; winner by (score DESC, freq DESC, l ASC, r ASC); stop
  when the best pair's raw freq < MIN_FREQ
- merged symbol: left + right-without-## ; greedy left-to-right apply
- final vocab: weighted symbol counts after all merges, (freq DESC,
  piece ASC)
- encode: greedy longest-prefix MaxMatch, ## continuation, whole-word
  [UNK] on any unmatched position

``tools/freeze.py`` writes the goldens from ``train``/``encode``; rerun
(and commit) only when semantics intentionally change:
    python tools/freeze.py wordpiece_vocab wordpiece_encode
"""

from __future__ import annotations

import re
from collections import Counter
from typing import Dict, List, Tuple

N_MERGES = 8
MIN_FREQ = 2
QUANTUM = 1_000_000_000_000


def _norm_words(text: str) -> List[str]:
    return [w for w in re.sub(r"\s+", " ", text.lower()).strip().split(" ") if w]


def _init_syms(w: str) -> List[str]:
    return [w[0]] + ["##" + c for c in w[1:]]


def train(corpus: List[Tuple[int, str]]):
    freqs: Counter = Counter()
    for _, text in corpus:
        freqs.update(_norm_words(text))
    words: Dict[str, Tuple[int, List[str]]] = {
        w: (c, _init_syms(w)) for w, c in freqs.items()
    }

    merges: List[Tuple[int, str, str, int, int]] = []
    for rank in range(N_MERGES):
        pair_f: Counter = Counter()
        sym_f: Counter = Counter()
        for _, (c, syms) in words.items():
            for s in syms:
                sym_f[s] += c
            for a, b in zip(syms, syms[1:]):
                pair_f[(a, b)] += c
        if not pair_f:
            break
        scored = [
            (f * QUANTUM // (sym_f[l] * sym_f[r]), f, l, r)
            for (l, r), f in pair_f.items()
        ]
        scored.sort(key=lambda t: (-t[0], -t[1], t[2], t[3]))
        score_q, f, l, r = scored[0]
        if f < MIN_FREQ:
            break
        merges.append((rank, l, r, f, score_q))
        merged = l + (r[2:] if r.startswith("##") else r)
        for w, (c, syms) in words.items():
            out: List[str] = []
            for s in syms:
                if out and out[-1] == l and s == r:
                    out[-1] = merged
                else:
                    out.append(s)
            words[w] = (c, out)

    vocab_f: Counter = Counter()
    for _, (c, syms) in words.items():
        for s in syms:
            vocab_f[s] += c
    vocab = sorted(vocab_f.items(), key=lambda t: (-t[1], t[0]))
    return merges, vocab


def max_match(word: str, vset: frozenset, max_len: int) -> List[str]:
    n, i, out = len(word), 0, []
    while i < n:
        j = min(n, i + max_len)
        piece = None
        while j > i:
            cand = word[i:j] if i == 0 else "##" + word[i:j]
            if cand in vset:
                piece = cand
                break
            j -= 1
        if piece is None:
            return ["[UNK]"]
        out.append(piece)
        i = j
    return out


def encode(corpus, vocab) -> List[Tuple[int, int, str]]:
    vset = frozenset(p for p, _ in vocab)
    max_len = max(
        (len(p[2:]) if p.startswith("##") else len(p) for p in vset), default=1
    )
    rows = []
    for doc_id, text in corpus:
        toks: List[str] = []
        for w in _norm_words(text):
            toks.extend(max_match(w, vset, max_len))
        rows.append((doc_id, len(toks), " ".join(toks)))
    return rows
