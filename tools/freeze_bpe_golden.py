"""The independent BPE twin behind the BPE goldens: an INDEPENDENT pure-python byte-pair-
encoding implementation (classic Sennrich et al. 2016 algorithm —
dict-of-tuples pair statistics, no Spark, no shared code with
``operators/tokenizer.py`` beyond the corpus fixture) run over
``tokenizer.fixture_corpus()``.  The registry queries ``bpe_merges``
and ``bpe_encode`` then compare the DISTRIBUTED trainer/encoder
value-hash-exactly against these frozen tables.

Pinned semantics (both implementations):
- normalization: lowercase, whitespace runs → single space, split
- end-of-word marker '</w>' appended to each word's character list
- pair statistics count overlaps fully ('aaa' → ('a','a') twice)
- winner tie-break: freq DESC, left ASC, right ASC (total order)
- merge application: greedy left-to-right single pass
- stop when the best pair's freq < 2

``tools/freeze.py`` writes the goldens from ``train``/``encode``; rerun
(and commit) only when semantics intentionally change:
    python tools/freeze.py bpe_merges bpe_encode
"""

from __future__ import annotations

import re
from collections import Counter
from typing import Dict, List, Tuple

from pdf_ocr_spark.operators.tokenizer import END

N_MERGES = 12


def _norm_words(text: str) -> List[str]:
    return [w for w in re.sub(r"\s+", " ", text.lower()).strip().split(" ") if w]


def _merge_word(syms: Tuple[str, ...], left: str, right: str) -> Tuple[str, ...]:
    out: List[str] = []
    for s in syms:
        if out and out[-1] == left and s == right:
            out[-1] = left + right
        else:
            out.append(s)
    return tuple(out)


def train(corpus: List[Tuple[int, str]], n_merges: int = N_MERGES):
    freqs: Counter = Counter()
    for _, text in corpus:
        freqs.update(_norm_words(text))
    words: Dict[Tuple[str, ...], int] = {
        tuple(list(w) + [END]): c for w, c in freqs.items()
    }
    merges: List[Tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        pairs: Counter = Counter()
        for syms, c in words.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        (l, r), freq = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if freq < 2:
            break
        merges.append((rank, l, r, freq))
        words = {
            _merge_word(syms, l, r): c for syms, c in words.items()
        }
    return merges


def encode(text: str, merges) -> List[str]:
    toks: List[str] = []
    for w in _norm_words(text):
        syms: Tuple[str, ...] = tuple(list(w) + [END])
        for _, l, r, _ in sorted(merges):
            syms = _merge_word(syms, l, r)
        toks.extend(syms)
    return toks
