"""Text-analysis primitives for the training-data pipeline operators:
script-class language ID and the zlib compression-ratio signal.

Pure Python, usable standalone.  ``compression_ratio`` is the body of
the ``compression_signals`` UDF in ``pdf_ocr_spark.operators.text_analysis``
(nothing built-in can compress); the Spark language ID is a JVM-side
column expression mirroring ``detect_lang``.
"""

from __future__ import annotations

from typing import Dict

_SCRIPT_RANGES = {
    "hiragana": (0x3040, 0x309F),
    "katakana": (0x30A0, 0x30FF),
    "hangul": (0xAC00, 0xD7AF),
    "cjk": (0x4E00, 0x9FFF),
    "cyrillic": (0x0400, 0x04FF),
    "arabic": (0x0600, 0x06FF),
}


def script_histogram(text: str) -> Dict[str, int]:
    counts = {k: 0 for k in _SCRIPT_RANGES}
    counts["latin"] = 0
    counts["other"] = 0
    for ch in text:
        cp = ord(ch)
        if ch.isascii():
            if ch.isalpha():
                counts["latin"] += 1
            continue
        for name, (lo, hi) in _SCRIPT_RANGES.items():
            if lo <= cp <= hi:
                counts[name] += 1
                break
        else:
            counts["other"] += 1
    return counts


def detect_lang(text: str) -> str:
    """N-gram-free heuristic language ID over script classes: ja/zh/ko/
    ru/ar by dominant script, else 'en' for latin, 'unknown' otherwise."""
    h = script_histogram(text)
    total_marked = sum(h.values())
    if total_marked == 0:
        return "unknown"
    if h["hiragana"] + h["katakana"] > 0.05 * total_marked:
        return "ja"
    if h["hangul"] > 0.3 * total_marked:
        return "ko"
    if h["cjk"] > 0.3 * total_marked:
        return "zh"
    if h["cyrillic"] > 0.3 * total_marked:
        return "ru"
    if h["arabic"] > 0.3 * total_marked:
        return "ar"
    if h["latin"] > 0:
        return "en"
    return "unknown"


def compression_ratio(data: bytes, level: int = 6) -> float:
    """zlib-compressed size / raw size, rounded to 6 decimals — the
    Dolma/RedPajama-style repetition proxy: templated or repetitive
    pages compress far below prose (~0.3-0.4 for English text; <0.15
    flags boilerplate mills, near 1.0 flags binary/encrypted junk that
    lexical gates miss).  Empty input → 1.0.  Level fixed at 6 so the
    number is reproducible everywhere zlib is (RFC 1950 output differs
    by level, not platform)."""
    import zlib

    if not data:
        return 1.0
    return round(len(zlib.compress(data, level)) / len(data), 6)
