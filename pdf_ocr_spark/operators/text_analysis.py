"""Text-analysis operators: language ID, quality scoring, token counting,
fingerprinting — as JVM-side column expressions (regexp_count +
arithmetic) so they run inside whole-stage codegen AND are reproducible
verbatim in the DuckDB oracle.

One exception: the Gopher n-gram repetition counts
(:func:`ngram_repetition_stats`) run as one Arrow pass over the
JVM-normalized text.  As column expressions they need array HOFs
(sort + fold per n-gram family), which Spark interprets and never
codegens; the fracs and the gate over those counts stay expressions.
"""

from __future__ import annotations

import unicodedata
from collections import Counter

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pdf_ocr_spark.operators.dedup import fingerprint, normalized
from pdf_ocr_spark.pipeline.extract_job import arrow_map, arrow_scalar

# token pattern: word runs, number runs, or one non-space symbol (RE2-safe:
# works identically under Java regex and DuckDB's RE2)
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"

_HIRAGANA = r"[぀-ゟ]"
_KATAKANA = r"[゠-ヿ]"
_CJK = r"[一-鿿]"
_HANGUL = r"[가-힯]"
_CYRILLIC = r"[Ѐ-ӿ]"
_LATIN = r"[A-Za-z]"


def token_count_expr(col: Column) -> Column:
    return F.regexp_count(col, F.lit(TOKEN_PATTERN))


def lang_guess_expr(col: Column) -> Column:
    """Script-ratio language ID (mirrors kernels.textstats.detect_lang):
    dominant script class decides; latin falls through to 'en'."""
    hira = F.regexp_count(col, F.lit(_HIRAGANA))
    kata = F.regexp_count(col, F.lit(_KATAKANA))
    cjk = F.regexp_count(col, F.lit(_CJK))
    hang = F.regexp_count(col, F.lit(_HANGUL))
    cyr = F.regexp_count(col, F.lit(_CYRILLIC))
    lat = F.regexp_count(col, F.lit(_LATIN))
    marked = hira + kata + cjk + hang + cyr + lat
    return (
        F.when(marked == 0, F.lit("unknown"))
        .when((hira + kata) > 0.05 * marked, F.lit("ja"))
        .when(hang > 0.3 * marked, F.lit("ko"))
        .when(cjk > 0.3 * marked, F.lit("zh"))
        .when(cyr > 0.3 * marked, F.lit("ru"))
        .when(lat > 0, F.lit("en"))
        .otherwise(F.lit("unknown"))
    )


def quality_features(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document quality gates: length, alpha ratio, punctuation ratio,
    stopword hits, token count.  Every feature is a rounded double so the
    oracle compares exactly."""
    t = F.col(text_col)
    n = F.length(t)
    alpha = F.regexp_count(t, F.lit(r"[A-Za-z]"))
    punct = F.regexp_count(t, F.lit(r"[.,;:!?]"))
    stop = F.regexp_count(
        t, F.lit(r"(?i)\b(the|a|an|and|or|of|to|in|is|are)\b")
    )
    return docs.select(
        F.col(id_col),
        n.alias("n_chars_exact"),
        token_count_expr(t).alias("n_tokens"),
        F.round(alpha / n, 4).alias("alpha_ratio"),
        F.round(punct / n, 4).alias("punct_ratio"),
        stop.alias("n_stopwords"),
        F.round(
            F.least(n / 500.0, F.lit(1.0)) * 0.5 + F.least(stop / 20.0, F.lit(1.0)) * 0.5,
            4,
        ).alias("quality_score"),
    )


# Engine-identical pattern constants, shared VERBATIM with the DuckDB
# oracle SQL.  No shorthand classes or bare multiline anchors: Java's \s
# includes \x0b while RE2's does not, and Java's multiline $ matches
# before the \r of a CRLF (RE2: before \n only) — explicit classes and
# (\r?\n|\z) endings behave identically in both engines.
_WSC = r" \t\n\x0b\f\r"
WORD_PATTERN_SPLIT = rf"[^{_WSC}]+"
WORD_CHAR_PATTERN = rf"[^{_WSC}]"
BULLET_LINE_PATTERN = r"(^|\n)[ \t]*[-•\*]"
ELLIPSIS_LINE_PATTERN = r"(\.\.\.|…)[ \t]*(\r?\n|\z)"
ALPHA_WORD_PATTERN = rf"(^|[{_WSC}])[^{_WSC}]*[A-Za-z]"
TERMINAL_LINE_PATTERN = r"[.!?][ \t]*(\r?\n|\z)"
SYMBOL_PATTERN = r"#|\.\.\.|…"
SENTENCE_PATTERN = r"[.!?]"


def _gopher_signals(t: Column) -> dict:
    """The Gopher signals of text column ``t`` by output name, ending in
    the gate itself (``passes_gopher``).  Catalyst's common-subexpression
    elimination dedups the repeated regexp scans."""
    words = F.regexp_count(t, F.lit(WORD_PATTERN_SPLIT))
    per_word = F.greatest(words, F.lit(1))
    n_lines = F.regexp_count(t, F.lit(r"\n")) + 1
    s = {
        "n_words": words,
        "mean_word_len": F.regexp_count(t, F.lit(WORD_CHAR_PATTERN)) / per_word,
        "symbol_ratio": F.regexp_count(t, F.lit(SYMBOL_PATTERN)) / per_word,
        "bullet_frac": F.regexp_count(t, F.lit(BULLET_LINE_PATTERN)) / n_lines,
        "ellipsis_frac": F.regexp_count(t, F.lit(ELLIPSIS_LINE_PATTERN)) / n_lines,
        "alpha_word_frac": F.regexp_count(t, F.lit(ALPHA_WORD_PATTERN)) / per_word,
    }
    s["passes_gopher"] = (
        (words >= 50) & (words <= 100_000)
        & (s["mean_word_len"] >= 3.0) & (s["mean_word_len"] <= 10.0)
        & (s["symbol_ratio"] <= 0.1)
        & (s["bullet_frac"] <= 0.9)
        & (s["ellipsis_frac"] <= 0.3)
        & (s["alpha_word_frac"] >= 0.8)
    )
    return s


def gopher_pass_expr(t: Column) -> Column:
    """The Gopher gate as ONE boolean column expression — the single
    source of truth shared by :func:`gopher_quality` (per-document) and
    :func:`domain_reputation` (site-level rollup)."""
    return _gopher_signals(t)["passes_gopher"]


def gopher_quality(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-rules quality gate (Rae et al. 2021, §A1.1 heuristics — the
    standard web-text pretraining filter), as pure codegen'd column
    expressions over the engine-identical pattern constants above:

      * word count in [50, 100000]
      * mean word length in [3, 10]
      * symbol-to-word ratio (# / ellipsis) <= 0.1
      * bullet-started line fraction <= 0.9
      * ellipsis-ended line fraction <= 0.3
      * >= 80% of words contain an alphabetic character
    """
    s = _gopher_signals(F.col(text_col))
    ratios = ("mean_word_len", "symbol_ratio", "bullet_frac", "ellipsis_frac",
              "alpha_word_frac")
    return docs.select(
        F.col(id_col),
        s["n_words"].alias("n_words"),
        *(F.round(s[k], 4).alias(k) for k in ratios),
        s["passes_gopher"].alias("passes_gopher"),
    )


def c4_filters(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """C4-style cleanup signals (Raffel et al. 2020 §2.2): sentence count,
    code/boilerplate markers, terminal-punctuation line fraction, and the
    resulting keep decision."""
    t = F.col(text_col)
    n_sentences = F.regexp_count(t, F.lit(SENTENCE_PATTERN))
    has_curly = t.contains("{")
    has_lorem = F.lower(t).contains("lorem ipsum")
    has_js = F.lower(t).contains("javascript")
    n_lines = F.regexp_count(t, F.lit(r"\n")) + 1
    terminal_lines = F.regexp_count(t, F.lit(TERMINAL_LINE_PATTERN))
    keep = (
        (n_sentences >= 3) & ~has_curly & ~has_lorem & ~has_js
    )
    return docs.select(
        F.col(id_col),
        n_sentences.alias("n_sentences"),
        has_curly.alias("has_curly"),
        has_lorem.alias("has_lorem"),
        has_js.alias("has_javascript"),
        F.round(terminal_lines / n_lines, 4).alias("terminal_line_frac"),
        keep.alias("keep_c4"),
    )


def c4_line_apply(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """C4's ACTUAL cleanup granularity (Raffel et al. 2020 §2.2 removes
    LINES, not just pages): per-line keep rules — ends in a terminal
    punctuation mark, holds ≥3 words, does not mention javascript —
    applied and the survivors stitched back, plus the page-level
    ≥5-retained-lines decision.

    The whole operator is higher-order functions over the split line
    array (filter + array_join) — ZERO shuffle, zero explode, pure
    per-row codegen, so it composes map-side into any gate stack at any
    scale.  Output: (id, clean_text, n_lines, n_kept, keep_doc)."""
    t = F.col(text_col)
    lines = F.split(t, "\n")

    def _keep(l):
        lt = F.trim(l)
        return (
            lt.rlike('[.!?"]$')
            & (F.size(F.split(lt, " +")) >= 3)
            & ~F.lower(lt).contains("javascript")
        )

    kept = F.filter(lines, _keep)
    return docs.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("clean_text"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        (F.size(kept) >= 5).alias("keep_doc"),
    )


def repetition_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Repetition signals (Gopher §A1.1 dup-fraction family): duplicate
    line and duplicate paragraph fractions via array built-ins — one
    projection, no explode/shuffle."""
    t = F.col(text_col)
    lines = F.filter(F.split(t, r"\n"), lambda s: F.trim(s) != "")
    paras = F.filter(F.split(t, r"\n\n"), lambda s: F.trim(s) != "")
    n_lines = F.size(lines)
    n_paras = F.size(paras)
    dup_line_frac = F.when(
        n_lines > 0,
        F.round((n_lines - F.size(F.array_distinct(lines))) / n_lines, 4),
    ).otherwise(F.lit(0.0))
    dup_para_frac = F.when(
        n_paras > 0,
        F.round((n_paras - F.size(F.array_distinct(paras))) / n_paras, 4),
    ).otherwise(F.lit(0.0))
    return docs.select(
        F.col(id_col),
        n_lines.alias("n_lines"),
        dup_line_frac.alias("dup_line_frac"),
        n_paras.alias("n_paras"),
        dup_para_frac.alias("dup_para_frac"),
    )


# Gopher §A1.1 n-gram repetition thresholds (Rae et al. 2021 Table A1):
# top-n-gram char fraction for n=2..4, duplicated-n-gram fraction for
# n=5..10.  The dup fraction here is occurrence-weighted (1 − distinct /
# total n-grams) — a documented variant of the paper's char-span measure
# that needs no span merging and is identical in both engines.
TOP_NGRAM_THRESHOLDS = {2: 0.20, 3: 0.18, 4: 0.16}
DUP_NGRAM_THRESHOLDS = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


def _word_ngrams(words: Column, n: int) -> Column:
    """Space-joined word n-grams; empty array when the doc is shorter
    than n words (negative slice lengths would throw for W < n).

    PUSHDOWN-PROOF SHAPE: zip n length-aligned shifted copies of the
    word array (all top-level arguments, each evaluated once per row),
    then concat per struct — the transform lambda references ONLY its
    own variable.  The obvious alternative — transform(sequence(1,W-n+1),
    i -> concat_ws(' ', slice(words, i, n))) — closes over ``words``,
    which is O(W) per ELEMENT (O(W²) per doc) whenever ``words`` is an
    inlined expression rather than an attribute.  Named intermediate
    columns do NOT protect against that: Catalyst's predicate pushdown
    substitutes aliases into filter conditions, re-inlining split(text)
    into the lambda body — measured 82 s vs 6 s on 4k docs at sf0.1."""
    length = F.size(words) - (n - 1)
    zipped = F.arrays_zip(*[F.slice(words, k, length) for k in range(1, n + 1)])
    grams = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(k)] for k in range(n)])
    )
    return F.when(F.size(words) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def ngram_counts(ids, norms) -> list:
    """Rows function of :func:`ngram_repetition_stats`: per normalized
    text, ``(id, nchars, top2..top4, total5, distinct5, …, total10,
    distinct10)``.  ``top{n}`` is ``cnt × len(gram)`` of the most frequent
    word n-gram, the lexicographically smallest gram among count ties
    (Spark's string order is code-point order, as Python's is).  Words
    come from splitting on ``" "`` exactly as Spark's ``split(norm, ' ')``
    does; ``str.split()`` would also split on whitespace that Java's
    ``\\s`` leaves inside a word (U+00A0).  Grams are counted as word
    tuples (one-to-one with the joined grams: no word holds a space) and
    only the tied ones are joined.  A NULL text counts as empty."""
    out = []
    for doc_id, norm in zip(ids, norms):
        norm = norm or ""
        words = norm.split(" ")
        row = [doc_id, len(norm)]
        for n in TOP_NGRAM_THRESHOLDS:
            counts = Counter(zip(*(words[k:] for k in range(n))))
            top = max(counts.values(), default=0)
            grams = (" ".join(g) for g, c in counts.items() if c == top)
            row.append(top * len(min(grams, default="")))
        for n in DUP_NGRAM_THRESHOLDS:
            grams = list(zip(*(words[k:] for k in range(n))))
            row += [len(grams), len(set(grams))]
        out.append(tuple(row))
    return out


def ngram_repetition_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher §A1.1 n-gram repetition signals: ``top{n}_frac`` (n=2..4)
    — characters of the most frequent word n-gram as a fraction of the
    normalized text — and ``dup{n}_frac`` (n=5..10) — the occurrence-
    weighted duplicated-n-gram fraction — plus the combined
    ``passes_repetition`` gate at the paper's thresholds.

    Per row, no shuffle: the text is normalized JVM-side
    (:func:`~pdf_ocr_spark.operators.dedup.normalized`), ONE
    ``mapInArrow`` pass (:func:`ngram_counts`) returns the integer
    counts, and the fracs, ``round`` and gate stay column expressions,
    so every float is Spark's.  The counts are Python because as column
    expressions they are array HOFs, which Spark interprets and never
    codegens.  The Python stage is also a barrier: a consumer's filter
    on ``passes_repetition`` cannot re-inline the statistics."""
    counts_schema = StructType(
        [docs.schema[id_col], StructField("_nchars", LongType())]
        + [StructField(f"_top{n}", LongType()) for n in TOP_NGRAM_THRESHOLDS]
        + [
            StructField(f"_{k}{n}", LongType())
            for n in DUP_NGRAM_THRESHOLDS
            for k in ("sz", "dsz")
        ]
    )
    stats_df = docs.select(
        F.col(id_col), normalized(F.col(text_col)).alias("_norm")
    ).mapInArrow(arrow_map(ngram_counts, counts_schema), counts_schema)
    nchars = F.col("_nchars")
    frac_cols = [F.col(id_col)]
    for n in TOP_NGRAM_THRESHOLDS:
        frac_cols.append(
            F.when(nchars > 0, F.round(F.col(f"_top{n}") / nchars, 6))
            .otherwise(F.lit(0.0))
            .alias(f"top{n}_frac")
        )
    for n in DUP_NGRAM_THRESHOLDS:
        sz = F.col(f"_sz{n}")
        frac_cols.append(
            F.when(
                sz > 0,
                F.round((sz - F.col(f"_dsz{n}")) / sz, 6),
            )
            .otherwise(F.lit(0.0))
            .alias(f"dup{n}_frac")
        )
    fracs_df = stats_df.select(*frac_cols)
    # gate over named fracs (cheap attribute refs only)
    gates = [
        F.col(f"top{n}_frac") <= thr for n, thr in TOP_NGRAM_THRESHOLDS.items()
    ]
    gates += [
        F.col(f"dup{n}_frac") <= thr for n, thr in DUP_NGRAM_THRESHOLDS.items()
    ]
    passes = gates[0]
    for g in gates[1:]:
        passes = passes & g
    return fracs_df.select("*", passes.alias("passes_repetition"))


def zipf_fit(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 2,
    top_n: int = 1000,
) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary — the datacard health
    check (a natural-language corpus fits log(freq) ≈ a·log(rank) + b
    with slope a ≈ −1; template spam and boilerplate bend the curve):
    least-squares line + r² over the top-``top_n`` (count, rank) pairs
    in log-log space.

    Engine-reproducible by construction: each log coordinate is
    quantized to DECIMAL(18,6) BEFORE the moment sums, so Σx, Σy, Σxy,
    Σx², Σy² are exact decimals (order-independent addition, exact
    decimal products) and the closed-form slope/intercept/r² computed
    from them is bit-identical across engines and partitionings.  The
    rank window sorts only the trimmed-and-limited vocabulary (≤ top_n
    rows — bounded, driver-scale), never the corpus."""
    from pyspark.sql.window import Window

    vocab = lm_word_counts(docs, text_col, min_count)
    top = vocab.orderBy(F.desc("cnt"), F.asc("w")).limit(top_n)
    ranked = top.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("w")))
    )
    x = F.round(F.log(F.col("rank").cast("double")), 6).cast("decimal(18,6)")
    y = F.round(F.log(F.col("cnt").cast("double")), 6).cast("decimal(18,6)")
    pts = ranked.select(x.alias("x"), y.alias("y"))
    agg = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    denom = F.nullif(n * sxx - sx * sx, F.lit(0.0))
    slope = (n * sxy - sx * sy) / denom
    intercept = (sy - slope * sx) / n
    r2_denom = F.nullif((n * sxx - sx * sx) * (n * syy - sy * sy), F.lit(0.0))
    r2 = (n * sxy - sx * sy) * (n * sxy - sx * sy) / r2_denom
    return agg.select(
        n.cast("bigint").alias("n_points"),
        F.round(slope, 4).alias("zipf_slope"),
        F.round(intercept, 4).alias("zipf_intercept"),
        F.round(r2, 4).alias("r2"),
    )


def heaps_fit(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoints: int = 8,
) -> DataFrame:
    """Heaps'-law fit — the vocabulary-growth companion to
    :func:`zipf_fit` (natural corpora grow V(N) ≈ K·N^β with β ≈ 0.5;
    duplicated or template-generated corpora bend β down): the corpus
    is cut at ``checkpoints`` doc_id thresholds, V = distinct words
    first seen by each cut, N = tokens up to each cut, and the log-log
    least-squares line gives (β, log K, r²).

    ONE corpus pass: each word's FIRST-OCCURRENCE doc id is a single
    word groupBy (map-side combined); V and N per checkpoint are then
    ≤``checkpoints``-row cumulative sums — no repeated corpus scans.
    The same DECIMAL(18,6) quantization before the moment sums as
    zipf_fit makes the fit bit-identical across engines."""
    from pyspark.sql.window import Window

    words = docs.select(
        F.col(id_col), F.explode(norm_words_expr(F.col(text_col))).alias("w")
    ).filter(F.col("w") != "")
    maxid = docs.agg(F.max(id_col).cast("double").alias("max_id"))
    # checkpoint index of a doc id: smallest cut covering it (cuts are
    # ceil(max_id * (i+1)/K); integer-exact via LEAST over literals is
    # replaced by the closed form below, identical in both engines)
    k = F.lit(float(checkpoints))
    cp = F.greatest(
        F.least(
            F.ceil(F.col(id_col).cast("double") * k / F.col("max_id")),
            F.lit(checkpoints),
        ),
        F.lit(1),
    ).cast("int")
    first_occ = (
        words.groupBy("w").agg(F.min(id_col).alias("first_id"))
        .crossJoin(F.broadcast(maxid))
        .select(F.col("first_id").alias(id_col), "max_id")
        .select(cp.alias("cp"))
        .groupBy("cp").agg(F.count(F.lit(1)).alias("new_words"))
    )
    tokens = (
        words.crossJoin(F.broadcast(maxid))
        .select(cp.alias("cp"))
        .groupBy("cp").agg(F.count(F.lit(1)).alias("toks"))
    )
    wspec = Window.orderBy("cp").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        first_occ.join(tokens, "cp", "full")
        .select(
            F.col("cp"),
            F.sum(F.coalesce(F.col("new_words"), F.lit(0)))
            .over(wspec).alias("v"),
            F.sum(F.coalesce(F.col("toks"), F.lit(0)))
            .over(wspec).alias("n"),
        )
        .filter((F.col("v") > 0) & (F.col("n") > 0))
    )
    x = F.round(F.log(F.col("n").cast("double")), 6).cast("decimal(18,6)")
    y = F.round(F.log(F.col("v").cast("double")), 6).cast("decimal(18,6)")
    pts = curve.select(x.alias("x"), y.alias("y"))
    agg = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    denom = F.nullif(n * sxx - sx * sx, F.lit(0.0))
    beta = (n * sxy - sx * sy) / denom
    logk = (sy - beta * sx) / n
    r2_denom = F.nullif((n * sxx - sx * sx) * (n * syy - sy * sy), F.lit(0.0))
    r2 = (n * sxy - sx * sy) * (n * sxy - sx * sy) / r2_denom
    return agg.select(
        n.cast("bigint").alias("n_points"),
        F.round(beta, 4).alias("heaps_beta"),
        F.round(logk, 4).alias("heaps_logk"),
        F.round(r2, 4).alias("r2"),
    )


# PII patterns (RE2-safe, shared verbatim with the oracle): the Dolma-
# style scrub for web-text pretraining corpora
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_PATTERN = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_PATTERN = r"\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}"


def pii_scrub(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """PII redaction: emails / IPv4 addresses / phone numbers replaced by
    typed placeholder tokens (Dolma convention), plus per-doc match
    counts.  IPs scrub BEFORE phones so dotted octets can't half-match
    the phone pattern.  All regexp built-ins — codegen'd, no UDF."""
    t = F.col(text_col)
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, EMAIL_PATTERN, "|||EMAIL|||"),
            IPV4_PATTERN,
            "|||IP|||",
        ),
        PHONE_PATTERN,
        "|||PHONE|||",
    )
    return docs.select(
        F.col(id_col),
        F.regexp_count(t, F.lit(EMAIL_PATTERN)).alias("n_emails"),
        F.regexp_count(t, F.lit(IPV4_PATTERN)).alias("n_ips"),
        F.regexp_count(t, F.lit(PHONE_PATTERN)).alias("n_phones"),
        F.md5(scrubbed).alias("scrubbed_md5"),
        F.length(scrubbed).alias("scrubbed_len"),
    )


# Card-shaped digit runs: 13-19 digits with optional single space/hyphen
# separators, word-boundary anchored so longer digit runs cannot match a
# prefix (no internal \b between digits).  RE2-safe, shared verbatim
# with the oracle.
CC_PATTERN = r"\b\d(?:[ -]?\d){12,18}\b"


def _luhn_valid(cand: Column) -> Column:
    """Luhn checksum over a card-shaped candidate: strip separators,
    reverse the digits, double every second digit (subtracting 9 when
    it overflows), sum % 10 == 0.  Pure HOFs whose lambdas reference
    only their own variables (the pushdown-proof discipline)."""
    rev = F.reverse(F.split(F.regexp_replace(cand, "[ -]", ""), ""))
    contrib = F.transform(
        rev,
        lambda d, i: F.when(
            i % 2 == 1,
            F.when(d.cast("int") * 2 > 9, d.cast("int") * 2 - 9).otherwise(
                d.cast("int") * 2
            ),
        ).otherwise(d.cast("int")),
    )
    return F.aggregate(contrib, F.lit(0), lambda a, x: a + x) % 10 == 0


def credit_card_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Credit-card PII pass (the Dolma scrub's highest-risk category):
    card-shaped candidates (13-19 digits, space/hyphen separators) are
    ALL redacted — over-redaction is the safe failure mode — while the
    Luhn checksum splits the count into true positives vs digit-run
    noise, the precision signal a release datacard publishes.  All
    codegen'd built-ins + per-row HOFs; no UDF, no extra shuffle."""
    t = F.col(text_col)
    cands = F.regexp_extract_all(t, F.lit(CC_PATTERN), 0)
    valid = F.filter(cands, _luhn_valid)
    scrubbed = F.regexp_replace(t, CC_PATTERN, "|||CC|||")
    return docs.select(
        F.col(id_col),
        F.size(cands).alias("n_cc_candidates"),
        F.size(valid).alias("n_cc_luhn_valid"),
        F.md5(scrubbed).alias("scrubbed_md5"),
        F.length(scrubbed).alias("scrubbed_len"),
    )


def normalize_url_expr(url: Column) -> Column:
    """Canonical URL for url-level dedup: lowercase scheme+host, strip
    scheme-default ports (http:80 / https:443 ONLY — :80 on https is a
    real distinct endpoint), tracking (utm_*) params, fragments, and the
    trailing slash — regex-only (no lookaheads: the oracle's RE2 lacks
    them) so DuckDB normalizes identically.

    utm stripping is boundary-anchored (``[?&]utm_``, never mid-token:
    ``xutm_b=2`` is a different param and survives) and keeps the
    separator, so following params are not corrupted.  A run of
    consecutive utm params loses alternate members per pass — three
    passes cover runs up to 8, beyond any real tracking URL."""
    scheme_host = F.lower(
        F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
    )
    scheme_host = F.regexp_replace(scheme_host, r"^(http://[^:/]*):80$", "$1")
    scheme_host = F.regexp_replace(scheme_host, r"^(https://[^:/]*):443$", "$1")
    rest = F.regexp_replace(url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", "")
    x = F.concat(scheme_host, rest)
    x = F.regexp_replace(x, r"#.*$", "")          # fragment
    for _ in range(3):  # runs of consecutive utm params (see docstring)
        x = F.regexp_replace(x, r"([?&])utm_[^&#]*&", "$1")
    x = F.regexp_replace(x, r"[?&]utm_[^&#]*$", "")  # lone/last utm_ param
    x = F.regexp_replace(x, r"\?$", "")
    return F.regexp_replace(x, r"/$", "")


def domain_expr(norm_url: Column) -> Column:
    return F.regexp_extract(norm_url, r"^[a-z][a-z0-9+.-]*://([^/:?#]+)", 1)


def corpus_datacard(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_cols: tuple = ("source", "lang"),
) -> DataFrame:
    """Datasheet rollup — the per-(source, language) statistics every
    published pretraining corpus ships (datasheets/data cards): document
    and token and character volumes, Gopher-gate pass rate, and the
    exact-duplicate fraction, all from ONE pass over the corpus.

    One map-side-combined groupBy; tokens/gate/fingerprint are the same
    codegen'd expressions the per-doc queries use, so the card is
    consistent with the row-level gates by construction."""
    keys = [F.col(c) for c in group_cols]
    per_doc = docs.select(
        *keys,
        token_count_expr(F.col(text_col)).alias("_tok"),
        F.length(text_col).alias("_chars"),
        gopher_pass_expr(F.col(text_col)).cast("int").alias("_pass"),
        fingerprint(F.col(text_col)).alias("_fp"),
    )
    agg = per_doc.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_tok").alias("n_tokens"),
        F.sum("_chars").alias("n_chars"),
        F.sum("_pass").alias("_n_pass"),
        F.countDistinct("_fp").alias("_n_distinct"),
    )
    return agg.select(
        *group_cols,
        "n_docs",
        "n_tokens",
        "n_chars",
        F.round(F.col("_n_pass") / F.col("n_docs"), 6).alias("gate_pass_rate"),
        F.round(
            (F.col("n_docs") - F.col("_n_distinct")) / F.col("n_docs"), 6
        ).alias("dup_frac"),
        F.round(F.col("n_chars") / F.col("n_docs"), 2).alias("mean_chars"),
    )


def blocklist_filter(
    docs: DataFrame,
    blocklist: DataFrame,
    domain_col: str = "domain",
    id_col: str = "doc_id",
    broadcast_blocklist: bool = True,
) -> DataFrame:
    """UT1-style domain-blocklist filter (the CCNet / RefinedWeb crawl
    hygiene pass): a document is blocked when its domain OR ANY parent
    suffix is listed — ``ads.tracker.example.com`` matches a blocklist
    entry ``example.com``.  ``blocklist`` needs a ``suffix`` column.

    Output: (doc_id, domain, blocked_by, blocked) with ``blocked_by``
    the lexicographically-first matching entry (deterministic) or null.

    Plan at 100 TB: each domain explodes into its label-suffix chain —
    bounded by label count (~3–5), not data volume — then an equi-join
    against the blocklist.  UT1 is ~3M rows (~60 MB): broadcast it
    (default); for bigger lists pass ``broadcast_blocklist=False`` and
    the join shuffles on the suffix key instead.  The per-doc groupBy
    collapses multiple matching suffixes map-side before the rejoin."""
    labels = F.split(F.col(domain_col), r"\.")
    n = F.size(labels)
    suffixes = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.concat_ws(".", F.slice(labels, i, n - i + 1)),
    )
    exploded = docs.select(
        F.col(id_col), F.explode(suffixes).alias("suffix")
    )
    bl = blocklist.select("suffix")
    if broadcast_blocklist:
        bl = F.broadcast(bl)
    hits = (
        exploded.join(bl, "suffix")
        .groupBy(id_col)
        .agg(F.min("suffix").alias("blocked_by"))
    )
    return docs.select(id_col, domain_col).join(hits, id_col, "left").select(
        id_col,
        domain_col,
        "blocked_by",
        F.col("blocked_by").isNotNull().alias("blocked"),
    )


def domain_reputation(
    docs: DataFrame,
    domain_col: str = "domain",
    text_col: str = "text",
    min_docs: int = 3,
    max_gate_fail_frac: float = 0.5,
    max_dup_frac: float = 0.5,
) -> DataFrame:
    """Site-level reputation rollup — the filtering pass ABOVE
    per-document gates that RefinedWeb / C4 / Dolma all run: spam farms,
    template mirrors, and SEO link farms fail as SITES even when
    individual pages slip through per-doc heuristics.

    Per-domain output: ``n_docs``, ``n_gate_fail`` (Gopher-gate
    failures), ``gate_fail_frac``, ``dup_frac`` (1 − distinct content
    fingerprints / docs: within-site exact-dup rate — the template-farm
    signal), ``mean_words``, and a ``verdict``:

      * ``low_evidence`` — fewer than ``min_docs`` pages: judge nothing
      * ``drop``         — gate-failure or dup fraction over threshold
      * ``keep``         — otherwise

    Plan at 100 TB: per-doc signals are codegen'd scans; then ONE
    groupBy(domain) with map-side partial aggregation.  count_distinct
    is exact two-phase; per-domain group sizes are crawl-quota bounded
    (and AQE skew-splits a mega-domain), so the distinct state stays
    small.  The verdict table is tiny (one row per domain) — broadcast
    it back against the corpus to apply."""
    per_doc = docs.select(
        F.col(domain_col).alias("domain"),
        gopher_pass_expr(F.col(text_col)).cast("int").alias("_pass"),
        fingerprint(F.col(text_col)).alias("_fp"),
        F.regexp_count(F.col(text_col), F.lit(WORD_PATTERN_SPLIT)).alias("_words"),
    )
    agg = per_doc.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.count(F.lit(1)) - F.sum("_pass")).alias("n_gate_fail"),
        F.countDistinct("_fp").alias("_n_distinct"),
        F.sum("_words").alias("_sum_words"),
    )
    gate_fail_frac = F.round(F.col("n_gate_fail") / F.col("n_docs"), 6)
    dup_frac = F.round(
        (F.col("n_docs") - F.col("_n_distinct")) / F.col("n_docs"), 6
    )
    verdict = (
        F.when(F.col("n_docs") < min_docs, F.lit("low_evidence"))
        .when(
            (gate_fail_frac > max_gate_fail_frac) | (dup_frac > max_dup_frac),
            F.lit("drop"),
        )
        .otherwise(F.lit("keep"))
    )
    return agg.select(
        "domain",
        "n_docs",
        "n_gate_fail",
        gate_fail_frac.alias("gate_fail_frac"),
        dup_frac.alias("dup_frac"),
        F.round(F.col("_sum_words") / F.col("n_docs"), 4).alias("mean_words"),
        verdict.alias("verdict"),
    )


# -- encoding hygiene: mojibake repair + unicode normalization ---------------

# Common double-encoded-UTF-8 sequences (UTF-8 bytes mis-decoded as
# cp1252, latin-1 fallback for cp1252's undefined bytes — browser
# behavior) and their repairs — the fixed-table subset of what ftfy
# fixes, as pure string replaces so the repair runs JVM-side inside
# whole-stage codegen AND replays verbatim in the DuckDB oracle (the
# same computed literals are interpolated into the oracle SQL).


def _as_mojibake(ch: str) -> str:
    """What ``ch`` looks like after its UTF-8 bytes are mis-decoded."""
    out = []
    for byte in ch.encode("utf-8"):
        try:
            out.append(bytes([byte]).decode("cp1252"))
        except UnicodeDecodeError:
            out.append(bytes([byte]).decode("latin-1"))
    return "".join(out)


MOJIBAKE_CHARS = "\u2019\u2018\u201c\u201d\u2014\u2013\u2026\u00e9\u00e8\u00e4\u00f6\u00fc\u00f1\u00e7\u00e0\u00a0"
MOJIBAKE_MAP = [(_as_mojibake(c), c) for c in MOJIBAKE_CHARS]


def mojibake_repair_expr(col: Column) -> Column:
    """Chained replaces over MOJIBAKE_MAP — repairs the common
    UTF-8-read-as-latin-1 sequences a web crawl accumulates."""
    out = col
    for bad, good in MOJIBAKE_MAP:
        out = F.replace(out, F.lit(bad), F.lit(good))
    return out


def mojibake_corrupt_expr(col: Column) -> Column:
    """The INVERSE map (good → mojibake), applied in reverse order — used
    by tests/queries to synthesize corrupted input deterministically from
    clean text, entirely in-engine."""
    out = col
    for bad, good in reversed(MOJIBAKE_MAP):
        out = F.replace(out, F.lit(good), F.lit(bad))
    return out


def nfc_normalize(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Unicode NFC normalization via a scalar Arrow UDF (Spark has no
    normalization built-in; this is the sanctioned python path —
    vectorized, never per-row).  The DuckDB oracle replays it with its
    native nfc_normalize(), so the gate cross-checks two independent
    NFC implementations (python unicodedata vs utf8proc)."""
    return docs.withColumn(
        text_col, arrow_scalar(_nfc, StringType())(F.col(text_col))
    )


def _nfc(t):
    return unicodedata.normalize("NFC", t) if t is not None else None


# ---------------------------------------------------------------------------
# benchmark decontamination + sequence packing (training-data ops)
# ---------------------------------------------------------------------------


def word_ngrams_expr(col: Column, n: int = 13) -> Column:
    """Distinct word ``n``-grams of the whitespace-normalized text, as an
    array column — all built-ins (split + slice + array_join), so the
    fan-out stays JVM-side and the DuckDB oracle reproduces it verbatim.
    Texts shorter than ``n`` words yield an empty array.

    Built on the pushdown-proof zip shape of :func:`_word_ngrams` — the
    former ``transform(sequence(1, m), i -> array_join(slice(words, i,
    n)))`` closed over the split expression, re-evaluated per element:
    O(W²) per doc."""
    return F.array_distinct(_word_ngrams(F.split(normalized(col), " "), n))


def contaminated_docs(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: documents sharing any word ``n``-gram
    with an evaluation set (the GPT-3/Dolma/FineWeb 13-gram overlap
    rule) → (doc_id, n_hits) for contaminated docs.

    Plan at 100 TB: the benchmark n-gram set is eval-suite-sized (tiny
    next to the corpus) → distinct then BROADCAST; the corpus side
    explodes its n-grams map-side into the broadcast hash join, so the
    only shuffle is the groupBy on the (rare) hit rows.  The corpus is
    scanned once, never shuffled."""
    bng = (
        benchmark.select(F.explode(word_ngrams_expr(F.col(bench_col), n)).alias("ng"))
        .distinct()
    )
    dng = docs.select(
        F.col(id_col), F.explode(word_ngrams_expr(F.col(text_col), n)).alias("ng")
    )
    return (
        dng.join(F.broadcast(bng), "ng")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def norm_words_expr(col: Column) -> Column:
    """Whitespace-normalized lowercase word array (split on single
    spaces after run-collapse) — the shared tokenization for the LM
    quality filter; DuckDB twin: str_split of the same normalization."""
    return F.split(normalized(col), " ")


LM_BOS = "<s>"


def lm_bigram_counts(
    docs: DataFrame, text_col: str = "text", min_count: int = 2
) -> DataFrame:
    """Bigram-LM training: (w1, w2, cnt) over BOS-prefixed normalized
    word sequences, trimmed to ``cnt >= min_count`` so the table stays
    broadcast-sized (CCNet's pruned-KenLM discipline).  The pair list
    is built with the pushdown-proof zip shape (two length-aligned
    slices, no lambda at all) and explodes map-side into ONE groupBy
    shuffle."""
    words = norm_words_expr(F.col(text_col))
    seq = F.concat(F.array(F.lit(LM_BOS)), words)
    length = F.size(seq) - 1
    zipped = F.arrays_zip(F.slice(seq, 1, length), F.slice(seq, 2, length))
    pairs = (
        docs.select(F.explode(zipped).alias("p"))
        .select(F.col("p")["0"].alias("w1"), F.col("p")["1"].alias("w2"))
        .filter(F.col("w2") != "")
    )
    return (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )


def lm_bigram_doc_scores(
    docs: DataFrame,
    unigrams: DataFrame,
    bigrams: DataFrame,
    lam: float = 0.7,
    alpha: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Interpolated bigram LM score (Jelinek-Mercer mixture — the
    CCNet/KenLM-style fluency filter one order up from
    :func:`lm_doc_scores`): per-doc mean of
    ``log(lam * P_bi(w2|w1) + (1-lam) * P_uni(w2))`` where
    ``P_bi = cnt(w1,w2) / Σ_w cnt(w1,w)`` over the TRIMMED bigram
    table (its own row sums as the context denominator, so the
    conditional stays a proper distribution over retained bigrams and
    BOS contexts need no special case) and ``P_uni`` is the add-alpha
    unigram of :func:`lm_doc_scores`.  The unigram mixture floor keeps
    every pair's probability positive.

    Plan at 100 TB: the trimmed bigram table, its context totals (a
    tiny self-aggregate), the unigram vocab, and the (N, V) totals all
    BROADCAST; doc bigrams explode map-side into hash joins, so the
    only shuffle is the per-doc aggregate.  Per-pair log-probs are
    cast to DECIMAL(18,6) before summing — exact, order-independent
    addition, bit-reproducible across engines and partitionings."""
    totals = unigrams.agg(
        F.sum("cnt").cast("double").alias("n_total"),
        F.count(F.lit(1)).cast("double").alias("v_size"),
    )
    ctx = bigrams.groupBy("w1").agg(F.sum("cnt").alias("ctx_cnt"))
    words = norm_words_expr(F.col(text_col))
    seq = F.concat(F.array(F.lit(LM_BOS)), words)
    length = F.size(seq) - 1
    zipped = F.arrays_zip(F.slice(seq, 1, length), F.slice(seq, 2, length))
    dbg = (
        docs.select(F.col(id_col), F.explode(zipped).alias("p"))
        .select(
            F.col(id_col),
            F.col("p")["0"].alias("w1"),
            F.col("p")["1"].alias("w2"),
        )
        .filter(F.col("w2") != "")
    )
    uni2 = unigrams.select(F.col("w").alias("w2"), F.col("cnt").alias("cnt2"))
    j = (
        dbg.join(F.broadcast(bigrams), ["w1", "w2"], "left")
        .join(F.broadcast(ctx), "w1", "left")
        .join(F.broadcast(uni2), "w2", "left")
        .crossJoin(F.broadcast(totals))
    )
    p_uni = (F.coalesce(F.col("cnt2"), F.lit(0)) + F.lit(alpha)) / (
        F.col("n_total") + F.lit(alpha) * (F.col("v_size") + 1)
    )
    p_bi = F.when(
        F.col("cnt").isNotNull() & F.col("ctx_cnt").isNotNull(),
        F.col("cnt") / F.col("ctx_cnt"),
    ).otherwise(F.lit(0.0))
    logp = F.log(F.lit(lam) * p_bi + F.lit(1.0 - lam) * p_uni)
    return j.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(
            F.sum(logp.cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("avg_logprob"),
    )


def lm_word_counts(
    docs: DataFrame, text_col: str = "text", min_count: int = 2
) -> DataFrame:
    """Unigram-LM training: (word, cnt) over the normalized corpus,
    trimmed to ``cnt >= min_count`` so the vocabulary stays
    broadcast-sized (CCNet ships a fixed small LM for exactly this
    reason).  ONE shuffle (the word groupBy, map-side combined)."""
    w = docs.select(F.explode(norm_words_expr(F.col(text_col))).alias("w")).filter(
        F.col("w") != ""
    )
    return (
        w.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )


def lm_doc_scores(
    docs: DataFrame,
    vocab: DataFrame,
    alpha: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style LM quality score: per-document mean log-probability
    under the add-alpha-smoothed unigram model (low = gibberish /
    boilerplate, high = fluent text).

    Plan at 100 TB: the trimmed vocab and its (N, V) totals BROADCAST;
    the corpus explodes its words map-side into the broadcast hash
    join, so the only shuffle is the per-doc aggregate.  Per-word log
    probs are cast to DECIMAL(18,6) before summing — exact, order-
    independent addition, so the score is bit-reproducible across
    engines and partitionings.  When training and scoring in the same
    job, ``vocab.persist()`` guarantees a single corpus pass (AQE's
    exchange reuse typically dedupes the word-count shuffle anyway)."""
    totals = vocab.agg(
        F.sum("cnt").cast("double").alias("n_total"),
        F.count(F.lit(1)).cast("double").alias("v_size"),
    )
    dw = docs.select(
        F.col(id_col), F.explode(norm_words_expr(F.col(text_col))).alias("w")
    ).filter(F.col("w") != "")
    j = dw.join(F.broadcast(vocab), "w", "left").crossJoin(F.broadcast(totals))
    logp = F.log(
        (F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(alpha))
        / (F.col("n_total") + F.lit(alpha) * (F.col("v_size") + 1))
    )
    return j.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_words"),
        F.round(
            F.sum(logp.cast("decimal(18,6)")).cast("double") / F.count(F.lit(1)), 4
        ).alias("avg_logprob"),
    )


def lm_tercile_cuts(
    scores: DataFrame, approximate: bool = False, accuracy: int = 10000
) -> DataFrame:
    """One-row (c1, c2) tercile cutoffs of ``avg_logprob``.

    Exact path (default): Spark's ``percentile`` tree-aggregates a
    value→count map per buffer.  That map is BOUNDED here because
    :func:`lm_doc_scores` rounds ``avg_logprob`` to 4 decimals over a
    narrow range (mean log-prob of a unigram LM, roughly [-20, 0]), so
    the buffer holds at most ~200k distinct keys regardless of corpus
    size — fine at 10^12 docs, but only BECAUSE of that quantization.

    Approximate path (``approximate=True``): ``approx_percentile`` with
    a Greenwald-Khanna sketch whose buffer is O(accuracy·log n) by
    construction — the belt-and-braces choice when scores are NOT
    pre-quantized.  Returns the exact ceil(p·n)-th order statistic
    whenever n fits inside the sketch (DuckDB twin: ``quantile_disc``,
    verified same rank convention)."""
    if approximate:
        return scores.agg(
            F.round(
                F.percentile_approx("avg_logprob", F.lit(1.0 / 3), F.lit(accuracy)), 6
            ).alias("c1"),
            F.round(
                F.percentile_approx("avg_logprob", F.lit(2.0 / 3), F.lit(accuracy)), 6
            ).alias("c2"),
        )
    return scores.agg(
        F.round(F.percentile("avg_logprob", F.lit(1.0 / 3)), 6).alias("c1"),
        F.round(F.percentile("avg_logprob", F.lit(2.0 / 3)), 6).alias("c2"),
    )


def lm_bucket_counts(
    scores: DataFrame, approximate: bool = False, accuracy: int = 10000
) -> DataFrame:
    """CCNet head/middle/tail split: tercile cutoffs of ``avg_logprob``
    (tree-aggregated percentile — no global sort, no single-partition
    window; see :func:`lm_tercile_cuts` for the exact-vs-approximate
    buffer-size tradeoff), broadcast back, per-bucket doc counts.
    Higher mean log-prob = more fluent = head."""
    cuts = lm_tercile_cuts(scores, approximate=approximate, accuracy=accuracy)
    bucket = (
        F.when(F.col("avg_logprob") > F.col("c2"), F.lit("head"))
        .when(F.col("avg_logprob") > F.col("c1"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        scores.crossJoin(F.broadcast(cuts))
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def pack_sequences(
    docs: DataFrame,
    seq_len: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
    shard_col: str = "lang",
) -> DataFrame:
    """Greedy sequential sequence packing: per shard, documents are
    concatenated in id order and chunked into fixed-token training
    sequences; a document's sequence index is
    floor(preceding-token-count / seq_len) — the standard GPT-style
    pack-then-chunk assignment, as one window cumsum.

    Plan at 100 TB: ONE shuffle (the window partition on the shard key);
    shard keys are the pipeline's output-stream granularity, so skew is
    bounded by shard sizing, not document sizes."""
    from pyspark.sql.window import Window

    toks = token_count_expr(F.col(text_col)).cast("long")
    w = Window.partitionBy(shard_col).orderBy(id_col)
    cum = F.sum(toks).over(w)
    return docs.select(
        F.col(shard_col),
        F.col(id_col),
        toks.alias("n_tokens"),
        F.floor((cum - toks) / F.lit(seq_len)).cast("long").alias("seq_index"),
    )


# ---------------------------------------------------------------------------
# DSIR — Data Selection with Importance Resampling (Xie et al., NeurIPS 2023).
# Hashed bag-of-words features; per-document importance weight = sum over
# words of log p_target(bucket) - log p_raw(bucket) under add-alpha-smoothed
# hashed unigram models; deterministic Gumbel-top-k resampling.  Reference
# scope: the reference repo has no data-selection stage — this is part of the
# training-data-pipeline surface the engine adds on top of extraction
# (pdf_ocr_with_boxes_v2.py stops at text emission).

DSIR_BUCKETS = 1024


def dsir_bucket_expr(word: Column, buckets: int = DSIR_BUCKETS) -> Column:
    """Hashed feature bucket, reproducible in DuckDB:
    CAST('0x' || substr(md5(w), 1, 10) AS BIGINT) % buckets.  40-bit
    md5 prefix → modulo bias < 2^-30 for any buckets < 2^10."""
    return F.pmod(
        F.conv(F.substring(F.md5(word), 1, 10), 16, 10).cast("long"),
        F.lit(buckets),
    )


def dsir_bucket_counts(
    docs: DataFrame, text_col: str = "text", buckets: int = DSIR_BUCKETS
) -> DataFrame:
    """(bucket, cnt) histogram of hashed word features over a corpus —
    at most ``buckets`` rows, so always broadcast-sized regardless of
    corpus size.  ONE map-side-combined shuffle (the bucket groupBy)."""
    w = docs.select(
        F.explode(norm_words_expr(F.col(text_col))).alias("w")
    ).filter(F.col("w") != "")
    return (
        w.select(dsir_bucket_expr(F.col("w"), buckets).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dsir_bucket_logratios(
    raw: DataFrame,
    target: DataFrame,
    alpha: float = 1.0,
    text_col: str = "text",
    buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Per-bucket log importance ratio table (bucket, lr):
    lr = round(ln p_t(b) - ln p_r(b), 6), with each p add-alpha smoothed
    over the ``buckets`` feature universe.  Both count tables are
    <= buckets rows; the full-outer merge runs driver-scale and the
    result BROADCASTs into the scoring join.  Rounding to 6 decimals
    makes the DECIMAL document sums bit-reproducible across engines."""
    t = dsir_bucket_counts(target, text_col, buckets).withColumnRenamed("cnt", "tcnt")
    r = dsir_bucket_counts(raw, text_col, buckets).withColumnRenamed("cnt", "rcnt")
    ttot = t.agg(F.sum("tcnt").cast("double").alias("t_total"))
    rtot = r.agg(F.sum("rcnt").cast("double").alias("r_total"))
    merged = (
        t.join(r, "bucket", "full_outer")
        .crossJoin(F.broadcast(ttot))
        .crossJoin(F.broadcast(rtot))
    )
    lp_t = F.log(
        (F.coalesce(F.col("tcnt"), F.lit(0)) + F.lit(alpha))
        / (F.col("t_total") + F.lit(alpha) * buckets)
    )
    lp_r = F.log(
        (F.coalesce(F.col("rcnt"), F.lit(0)) + F.lit(alpha))
        / (F.col("r_total") + F.lit(alpha) * buckets)
    )
    return merged.select(
        F.col("bucket"), F.round(lp_t - lp_r, 6).alias("lr")
    )


def dsir_doc_logweights(
    raw: DataFrame,
    logratios: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Per-document log importance weight: sum of bucket log-ratios over
    the document's words → (doc_id, n_words, log_w).

    Plan at 100 TB: ``logratios`` is <= buckets rows → BROADCAST; the
    corpus explodes words map-side into the broadcast hash join, so the
    only shuffle is the per-doc aggregate (map-side combined).  Sums run
    in DECIMAL(18,6) — exact, order-independent — then round to 4.

    The round happens ON THE DECIMAL, cast to double after: rounding
    the double instead is engine-divergent at exact .xxxx5 boundaries
    (Spark rounds the shortest decimal rendering of the double — so
    -2.99285 → -2.9929 — while DuckDB rounds the true binary value
    -2.99284999… → -2.9928)."""
    dw = raw.select(
        F.col(id_col), F.explode(norm_words_expr(F.col(text_col))).alias("w")
    ).filter(F.col("w") != "")
    j = dw.select(
        F.col(id_col), dsir_bucket_expr(F.col("w"), buckets).alias("bucket")
    ).join(F.broadcast(logratios), "bucket", "left")
    return j.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_words"),
        F.round(
            F.sum(F.coalesce(F.col("lr"), F.lit(0.0)).cast("decimal(18,6)")),
            4,
        ).cast("double").alias("log_w"),
    )


def dsir_resample(
    logweights: DataFrame, k: int = 50, id_col: str = "doc_id", salt: str = "dsir"
) -> DataFrame:
    """Gumbel-top-k importance resampling: sampling k docs without
    replacement with probability proportional to exp(log_w) is exactly
    taking the k largest (log_w + Gumbel noise) keys (Kool et al. 2019).
    The noise is DERIVED, not drawn: u = (40-bit md5 hash of
    '<doc_id>:<salt>' + 0.5) / 2^40 in (0,1), g = -ln(-ln(u)) — RNG-free,
    so the sample is resume-stable and oracle-verifiable.

    Plan at 100 TB: orderBy+limit plans as TakeOrdered (per-partition
    top-k then a k-row driver merge) — no global sort shuffle."""
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))), 1, 10),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(2**40))
    key = F.round(F.col("log_w") - F.log(-F.log(u)), 6).alias("gumbel_key")
    return (
        logweights.select(F.col(id_col), F.col("log_w"), key)
        .orderBy(F.col("gumbel_key").desc(), F.col(id_col))
        .limit(k)
    )


def chunk_passages(
    docs: DataFrame,
    chunk_words: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window passage chunking (the RAG / retrieval-index unit):
    the normalized word sequence splits into windows of ``chunk_words``
    words advancing by ``chunk_words - overlap``; the final window may
    be shorter → (doc_id, chunk_idx, n_words, passage).  Empty texts
    produce zero chunks.

    Plan at 100 TB: pure per-row fan-out — sequence → transform →
    posexplode, all inside whole-stage codegen; NO shuffle at all (the
    chunk table inherits the corpus partitioning, exactly what the
    downstream embedding/indexing stage wants to mapInArrow over)."""
    step = chunk_words - overlap
    if step <= 0:
        raise ValueError("overlap must be smaller than chunk_words")
    words = norm_words_expr(F.col(text_col))
    words = F.filter(words, lambda w: w != "")
    n = F.size(words)
    starts = F.when(n > 0, F.sequence(F.lit(0), n - 1, F.lit(step))).otherwise(
        F.array().cast("array<int>")
    )
    chunks = F.transform(
        starts,
        lambda s, i: F.struct(
            i.alias("chunk_idx"),
            F.least(n - s, F.lit(chunk_words)).alias("n_words"),
            F.array_join(F.slice(words, s + 1, chunk_words), " ").alias("passage"),
        ),
    )
    return docs.select(F.col(id_col), F.explode(chunks).alias("c")).select(
        id_col,
        F.col("c.chunk_idx").cast("int").alias("chunk_idx"),
        F.col("c.n_words").cast("long").alias("n_words"),
        F.col("c.passage").alias("passage"),
    )


def url_template_expr(url: Column) -> Column:
    """Path template of a URL: each path segment generalizes to '{n}'
    (all digits) or '{h}' (16+ hex chars — session ids, content hashes),
    else stays literal; query string and fragment drop.  Two URLs share
    a template iff they differ only in those generated parts — the unit
    of crawl-trap detection and per-site URL-space accounting."""
    path = F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(/[^?#]*)?", 1)
    segs = F.split(path, "/")
    gen = F.transform(
        segs,
        lambda s: F.when(s.rlike(r"^[0-9]+$"), F.lit("{n}"))
        .when(s.rlike(r"^[0-9a-f]{16,}$"), F.lit("{h}"))
        .otherwise(s),
    )
    return F.array_join(gen, "/")


def url_template_counts(
    urls: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """(domain, template, n_urls, n_distinct_urls) over the crawl's URL
    space — ONE map-side-combined groupBy after a codegen'd per-row
    template projection.  The distinct-URL count rides the same
    aggregate (the groupBy key set already separates templates)."""
    norm = normalize_url_expr(F.col(url_col))
    return (
        urls.select(
            domain_expr(norm).alias("domain"),
            url_template_expr(norm).alias("template"),
            norm.alias("norm_url"),
        )
        .groupBy("domain", "template")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("norm_url").alias("n_distinct_urls"),
        )
    )


def crawl_trap_domains(
    urls: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    trap_min_urls: int = 20,
    trap_concentration: float = 0.5,
) -> DataFrame:
    """Crawl-trap detection: a domain whose URL space is dominated by
    ONE generated template (calendars, session ids, faceted search) is
    a trap — the frontier must cap or skip it or it eats the crawl
    budget.  Verdict: trap iff the hottest GENERATED template ('{n}' or
    '{h}' in the path) holds ≥ ``trap_min_urls`` distinct URLs AND ≥
    ``trap_concentration`` of the domain's distinct URLs.  Literal-path
    templates never count — a flat news archive is breadth, not a trap.

    The hottest template is an argmax-by-struct (max of (generated
    count, template, count)): deterministic — count ties break on the
    lexicographically LARGEST template — and aggregate-only.

    Plan at 100 TB: rides :func:`url_template_counts` (one groupBy),
    then ONE more groupBy(domain) — both map-side combinable, no
    window, no sort."""
    tc = url_template_counts(urls, url_col, id_col)
    generated = F.col("template").rlike(r"\{[nh]\}")
    gen_count = F.when(generated, F.col("n_distinct_urls")).otherwise(F.lit(0))
    per_dom = tc.groupBy("domain").agg(
        F.sum("n_distinct_urls").alias("n_urls"),
        F.count(F.lit(1)).alias("n_templates"),
        F.max(
            F.struct(
                gen_count.alias("k"),
                F.col("template").alias("t"),
            )
        ).alias("hot"),
    )
    return per_dom.select(
        "domain",
        "n_urls",
        "n_templates",
        F.col("hot.t").alias("hot_template"),
        F.col("hot.k").alias("hot_template_urls"),
        (
            (F.col("hot.k") >= trap_min_urls)
            & (F.col("hot.k") / F.col("n_urls") >= trap_concentration)
        ).alias("is_trap"),
    )


def shard_assign(
    docs: DataFrame,
    target_bytes: int = 1 << 30,
    shard_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic output sharding for training-data export: per
    shard key, documents are packed in id order into files of
    ~``target_bytes`` UTF-8 bytes (greedy cumulative-sum bin packing —
    a document whose preceding bytes fill k whole targets lands in
    shard k).  Returns (shard_key, doc_id, n_bytes, shard_index,
    shard_path) with the final path rendered as
    ``{key}/shard-00042.jsonl``.

    Real exports need size-balanced files (object stores and data
    loaders both degrade on pathological file sizes); ``df.write``
    alone gives per-task splits that move under repartitioning, while
    this assignment is a pure function of (key, id order, byte sizes) —
    stable across runs, engines, and cluster layouts, so resumed or
    re-run exports land every document in the same file.

    Plan at 100 TB: ONE shuffle (the window partition on the shard
    key), same shape as :func:`pack_sequences`; shard keys are the
    export-stream granularity (language, source, …), and a two-level
    key (lang, md5-bucket) bounds any one window's sort when a single
    language dominates the corpus."""
    from pyspark.sql.window import Window

    nb = (F.octet_length(F.col(text_col)) + F.lit(1)).cast("long")  # +1 = \n
    w = Window.partitionBy(shard_col).orderBy(id_col)
    cum = F.sum(nb).over(w)
    idx = F.floor((cum - nb) / F.lit(int(target_bytes))).cast("long")
    return docs.select(
        F.col(shard_col).alias("shard_key"),
        F.col(id_col),
        nb.alias("n_bytes"),
        idx.alias("shard_index"),
        F.format_string(
            "%s/shard-%05d.jsonl", F.col(shard_col), idx
        ).alias("shard_path"),
    )


def source_kl_divergence(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """Per-source unigram-distribution drift: KL(Q_source ‖ P_corpus)
    over the shared trimmed vocabulary — the datacard-level twin of the
    per-document LM score (``lm_doc_scores``).  A source whose word
    distribution diverges hard from the corpus is templated boilerplate,
    machine-generated spam, or a mislabeled language shard; CCNet-style
    pipelines use exactly this signal to rank crawl segments before the
    per-document gates run.

    Support is restricted to the corpus vocab (``min_count`` trim) on
    BOTH sides, so q>0 ⇒ p>0 and the sum is finite by construction.
    Per-word terms q·ln(q/p) are cast to DECIMAL(18,6) before summing —
    exact, order-independent addition, bit-reproducible across engines
    and partitionings (the same protocol as ``lm_doc_scores``).

    Plan at 100 TB: two corpus word fan-outs — one into the vocab
    groupBy (P), one into the per-(group, word) groupBy (Q) — the same
    two-pass shape as training a corpus LM (``lm_doc_scores``); both
    aggregates are map-side combined and bounded by vocab × groups, not
    corpus size, the trimmed vocab BROADCASTs into the per-group join
    (AQE reuses its exchange between the totals and the join), and the
    final per-group aggregate is tiny.  Persist the vocab when scoring
    several group columns in one job.  No window, no global sort,
    nothing driver-side."""
    w = docs.select(
        F.col(group_col).alias("grp"),
        F.explode(norm_words_expr(F.col(text_col))).alias("w"),
    ).filter(F.col("w") != "")
    vocab = (
        w.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )
    totals = vocab.agg(F.sum("cnt").cast("double").alias("n_total"))
    gw = (
        w.join(F.broadcast(vocab), "w")  # in-vocab words only (shared support)
        .groupBy("grp", "w")
        .agg(F.count(F.lit(1)).alias("gcnt"), F.max("cnt").alias("cnt"))
    )
    gtot = gw.groupBy("grp").agg(F.sum("gcnt").cast("double").alias("g_total"))
    j = gw.join(gtot, "grp").crossJoin(F.broadcast(totals))
    q = F.col("gcnt") / F.col("g_total")
    p = F.col("cnt") / F.col("n_total")
    term = q * F.log(q / p)
    return (
        j.groupBy("grp")
        .agg(
            F.max("g_total").cast("long").alias("n_words"),
            F.count(F.lit(1)).alias("n_vocab"),
            F.round(
                F.sum(term.cast("decimal(18,6)")).cast("double"), 4
            ).alias("kl_divergence"),
        )
        .withColumnRenamed("grp", group_col)
    )


def compression_signals(
    df: DataFrame, data_col: str = "html", id_col: str = "url"
) -> DataFrame:
    """Per-document zlib compression ratio (kernels.textstats.
    compression_ratio): the repetition/junk proxy lexical gates miss —
    templated pages compress abnormally well, binary junk abnormally
    badly.  Returns (id, n_bytes, compression_ratio).

    Scalar Arrow UDF (zlib runs at C speed; the batch transfer is the
    only Python cost) — the same deliberate exception as NFC: no
    built-in expression can compress.  Zero shuffle; ratio is a pure
    per-row function so the operator composes map-side into any gate
    stack."""
    from pdf_ocr_spark.kernels.textstats import compression_ratio

    _ratio = arrow_scalar(compression_ratio, DoubleType())
    col = F.col(data_col)
    data = F.when(
        col.isNotNull(), col.cast("binary")
    ).otherwise(F.lit(b""))
    return df.select(
        F.col(id_col),
        F.octet_length(F.coalesce(col.cast("binary"), F.lit(b"")))
        .cast("long").alias("n_bytes"),
        _ratio(data).alias("compression_ratio"),
    )


def url_spam_features(
    urls: DataFrame, url_col: str = "url"
) -> DataFrame:
    """URL-level heuristic features — the pre-fetch spam gate crawl
    pipelines run BEFORE spending bandwidth (C4 / RefinedWeb both gate
    on URL shape): subdomain depth, path depth, path length, digit
    ratio over the path, query-parameter count, and a port/userinfo
    flag; ``url_suspect`` fires when the shape matches generated-URL
    spam (deep subdomains, digit-heavy paths, parameter explosions).

    Pure map-side codegen'd projection (regex + length arithmetic),
    zero shuffle — composes in front of any fetch queue at any scale.
    Thresholds are the conventional conservative ones; they gate
    SCHEDULING (fetch later / lower priority), not deletion.

    Rows whose url does not parse as scheme://host (malformed or
    relative URLs) get ``is_valid_url = false``, NULL numeric features
    — NOT the nonsense negative sub_depth a '' host would yield — and
    false verdict flags (an invalid URL is routed by its validity flag,
    not smuggled through the spam verdict), so a downstream gate can
    handle them explicitly instead of silently scoring garbage."""
    host = F.lower(F.regexp_extract(F.col(url_col), r"^[a-z][a-z0-9+.-]*://([^/?#]+)", 1))
    hostname = F.regexp_replace(host, r"(:[0-9]+)$", "")
    valid = hostname != F.lit("")
    path = F.regexp_extract(F.col(url_col), r"^[a-z][a-z0-9+.-]*://[^/?#]+(/[^?#]*)?", 1)
    query = F.regexp_extract(F.col(url_col), r"\?([^#]*)", 1)
    sub_depth = F.size(F.split(hostname, r"\.")) - 2
    path_depth = F.when(
        F.length(path) > 1, F.size(F.split(path, "/")) - 1
    ).otherwise(F.lit(0))
    digits = F.length(F.regexp_replace(path, r"[^0-9]", ""))
    digit_ratio = F.round(
        digits / F.greatest(F.length(path), F.lit(1)), 4
    )
    n_params = F.when(
        F.length(query) > 0, F.size(F.split(query, "&"))
    ).otherwise(F.lit(0))
    has_userinfo_or_port = host.rlike("@") | host.rlike(":[0-9]+$")
    suspect = (
        (sub_depth >= 4)
        | (path_depth >= 8)
        | (F.length(path) >= 200)
        | (digit_ratio >= 0.4)
        | (n_params >= 8)
    )

    def _gated(col):
        return F.when(valid, col)

    return urls.select(
        url_col,
        valid.alias("is_valid_url"),
        _gated(sub_depth.cast("int")).alias("sub_depth"),
        _gated(path_depth.cast("int")).alias("path_depth"),
        _gated(F.length(path).cast("int")).alias("path_len"),
        _gated(digit_ratio).alias("digit_ratio"),
        _gated(n_params.cast("int")).alias("n_params"),
        (valid & has_userinfo_or_port).alias("has_userinfo_or_port"),
        (valid & suspect).alias("url_suspect"),
    )


def shard_manifest(
    docs: DataFrame,
    target_bytes: int = 1 << 30,
    shard_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-shard delivery manifest over :func:`shard_assign`: one row
    per output file with doc count, byte total, id range, and an
    ORDER-SENSITIVE content digest (md5 of the per-doc text md5s
    concatenated in id order) — the checksum a consumer verifies a
    delivered training shard against, and the receipt a resumed export
    proves byte-identity with.

    The ordered digest folds with array_sort(collect_list(struct(id,
    md5))) — per-shard state is bounded by docs-per-shard (the target
    size caps it), and everything else is the same single window
    shuffle shard_assign already pays."""
    assigned = shard_assign(docs, target_bytes, shard_col, id_col,
                            text_col)
    h = docs.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("_h")
    )
    j = assigned.join(h, id_col)
    ordered = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col(id_col).alias("i"),
                                                 F.col("_h").alias("h")))),
            lambda s: s["h"],
        ),
        "",
    )
    return (
        j.groupBy("shard_key", "shard_index", "shard_path")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bytes").alias("n_bytes"),
            F.min(id_col).alias("first_id"),
            F.max(id_col).alias("last_id"),
            F.md5(ordered).alias("content_md5"),
        )
    )
