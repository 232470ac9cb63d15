"""Training-data ops: benchmark decontamination (13-gram rule) and
greedy sequence packing — pinned small-input semantics."""

from __future__ import annotations

import pyspark.sql.functions as F

from pdf_ocr_spark.operators.text_analysis import (
    contaminated_docs,
    pack_sequences,
    word_ngrams_expr,
)


def test_word_ngrams_short_text_empty(spark):
    df = spark.createDataFrame(
        [("a b", 1), ("a b c", 2), ("a  B\tc d", 3)], "text string, doc_id int"
    )
    rows = {
        r.doc_id: r.ng
        for r in df.select("doc_id", word_ngrams_expr(F.col("text"), 3).alias("ng"))
        .collect()
    }
    assert rows[1] == []  # shorter than n words
    assert rows[2] == ["a b c"]
    # whitespace runs collapse, case folds
    assert rows[3] == ["a b c", "b c d"]


def test_contaminated_docs_hit_counts(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),  # shares 2 distinct 3-grams
            (2, "totally unrelated words here now"),
            (3, "quick brown fox"),  # shares 1
            (4, "xx"),  # too short -> no n-grams
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [("the quick brown fox",)], "text string"
    )
    out = {
        r.doc_id: r.n_hits for r in contaminated_docs(docs, bench, n=3).collect()
    }
    assert out == {1: 2, 3: 1}


def test_pack_sequences_cumsum_assignment(spark):
    # token counts: 3, 4, 2, 5 in doc_id order within one shard
    docs = spark.createDataFrame(
        [
            (1, "a b c", "en"),
            (2, "d e f g", "en"),
            (3, "h i", "en"),
            (4, "j k l m n", "en"),
            (10, "x y z", "fr"),  # separate shard restarts at seq 0
        ],
        "doc_id long, text string, lang string",
    )
    out = {
        (r.lang, r.doc_id): (r.n_tokens, r.seq_index)
        for r in pack_sequences(docs, seq_len=5).collect()
    }
    # preceding tokens: 0, 3, 7, 9 -> floor(/5) = 0, 0, 1, 1
    assert out[("en", 1)] == (3, 0)
    assert out[("en", 2)] == (4, 0)
    assert out[("en", 3)] == (2, 1)
    assert out[("en", 4)] == (5, 1)
    assert out[("fr", 10)] == (3, 0)


def test_lm_scores_pinned_math(spark):
    import math

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a b c"), (3, "zz qq")], "doc_id long, text string"
    )
    from pdf_ocr_spark.operators.text_analysis import lm_doc_scores, lm_word_counts

    vocab = lm_word_counts(docs, min_count=2)
    assert {(r.w, r.cnt) for r in vocab.collect()} == {("a", 3), ("b", 2)}

    # N=5, V=2 -> denom = 5 + 1*(2+1) = 8; p(a)=4/8, p(b)=3/8, OOV=1/8
    def lp(x):  # per-word log-prob quantized to DECIMAL(18,6)
        return round(math.log(x / 8.0), 6)

    exp = {
        1: (3, round((2 * lp(4) + lp(3)) / 3, 4)),
        2: (3, round((lp(4) + lp(3) + lp(1)) / 3, 4)),
        3: (2, round(lp(1), 4)),
    }
    got = {
        r.doc_id: (r.n_words, r.avg_logprob)
        for r in lm_doc_scores(docs, vocab, alpha=1.0).collect()
    }
    assert got == exp


def test_lm_bigram_counts_and_interpolated_score(spark):
    """Pinned math for the interpolated bigram LM: trimmed bigram
    table with BOS contexts, context-sum denominators, 0.7/0.3
    Jelinek-Mercer mixture with the add-1 unigram floor, DECIMAL(18,6)
    per-pair quantization."""
    import math

    from pdf_ocr_spark.operators.text_analysis import (
        lm_bigram_counts,
        lm_bigram_doc_scores,
        lm_word_counts,
    )

    docs = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the cat ran"), (3, "a dog sat")],
        "doc_id long, text string",
    )
    uni = lm_word_counts(docs, min_count=2)
    assert {(r.w, r.cnt) for r in uni.collect()} == {
        ("the", 2), ("cat", 2), ("sat", 2)}
    bi = lm_bigram_counts(docs, min_count=2)
    assert {(r.w1, r.w2, r.cnt) for r in bi.collect()} == {
        ("<s>", "the", 2), ("the", "cat", 2)}

    # unigram floor: N=6, V=3 -> denom 6 + 1*(3+1) = 10
    def p_uni(cnt):
        return (cnt + 1.0) / 10.0

    # ctx sums over the TRIMMED table: <s> -> 2, the -> 2
    def lp(p_bi, cnt2):
        return round(math.log(0.7 * p_bi + (1.0 - 0.7) * p_uni(cnt2)), 6)

    exp = {
        # doc 1: (<s>,the) pbi=1, (the,cat) pbi=1, (cat,sat) pbi=0
        1: (3, round((lp(1.0, 2) + lp(1.0, 2) + lp(0.0, 2)) / 3, 4)),
        # doc 2: same first two, (cat,ran) pbi=0, ran OOV
        2: (3, round((lp(1.0, 2) + lp(1.0, 2) + lp(0.0, 0)) / 3, 4)),
        # doc 3: (<s>,a) untrimmed->pbi 0, (a,dog) 0, (dog,sat) 0
        3: (3, round((lp(0.0, 0) + lp(0.0, 0) + lp(0.0, 2)) / 3, 4)),
    }
    got = {
        r.doc_id: (r.n_bigrams, r.avg_logprob)
        for r in lm_bigram_doc_scores(docs, uni, bi).collect()
    }
    assert got == exp


def test_lm_bigram_empty_and_single_word_docs(spark):
    from pdf_ocr_spark.operators.text_analysis import (
        lm_bigram_counts,
        lm_bigram_doc_scores,
        lm_word_counts,
    )

    docs = spark.createDataFrame(
        [(1, ""), (2, "word"), (3, "word word")], "doc_id long, text string"
    )
    uni = lm_word_counts(docs, min_count=1)
    bi = lm_bigram_counts(docs, min_count=1)
    # empty doc contributes no pairs; single-word doc contributes (BOS, word)
    assert {(r.w1, r.w2, r.cnt) for r in bi.collect()} == {
        ("<s>", "word", 2), ("word", "word", 1)}
    got = {r.doc_id: r.n_bigrams
           for r in lm_bigram_doc_scores(docs, uni, bi).collect()}
    assert got == {2: 1, 3: 2}   # doc 1 (empty) emits no row


def test_zipf_fit_matches_numpy_least_squares(spark):
    """The DECIMAL-quantized closed-form fit equals numpy's least
    squares on the same quantized log-log points; a perfect power law
    gives r² ≈ 1 and recovers its exponent."""
    import math

    import numpy as np

    from pdf_ocr_spark.operators.text_analysis import zipf_fit

    # corpus where word w_r appears ~ floor(1000 / r) times (Zipf s=1)
    words = []
    for r in range(1, 21):
        words += [f"w{r:02d}"] * (1000 // r)
    docs = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id long, text string"
    )
    row = zipf_fit(docs, min_count=2, top_n=50).collect()[0]
    cnts = sorted((1000 // r for r in range(1, 21)), reverse=True)
    x = np.array([round(math.log(r), 6) for r in range(1, len(cnts) + 1)])
    y = np.array([round(math.log(c), 6) for c in cnts])
    slope, intercept = np.polyfit(x, y, 1)
    assert row.n_points == 20
    assert abs(row.zipf_slope - round(slope, 4)) <= 1e-4
    assert abs(row.zipf_intercept - round(intercept, 4)) <= 1e-4
    assert row.r2 > 0.999
    assert -1.05 < row.zipf_slope < -0.95


def test_heaps_fit_detects_vocabulary_growth_regimes(spark):
    """Fresh-vocabulary corpora fit β ≈ 1 (every doc brings new words);
    a fully duplicated corpus collapses toward β ≈ 0 — the duplication
    signal the datacard stat exists for."""
    from pdf_ocr_spark.operators.text_analysis import heaps_fit

    fresh = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(20))) for i in range(64)],
        "doc_id long, text string",
    )
    row = heaps_fit(fresh, checkpoints=8).collect()[0]
    assert row.n_points == 8
    assert row.r2 > 0.999
    assert 0.98 < row.heaps_beta <= 1.01

    dup = spark.createDataFrame(
        [(i, "same words every single time again") for i in range(64)],
        "doc_id long, text string",
    )
    row2 = heaps_fit(dup, checkpoints=8).collect()[0]
    assert row2.heaps_beta < 0.05


def test_credit_card_stats_luhn(spark):
    """Pinned Luhn cases: valid Visa/Master test numbers pass, an
    off-by-one fails, non-card digit runs (12 or 20 digits) never
    become candidates, and all candidates redact regardless."""
    from pdf_ocr_spark.operators.text_analysis import credit_card_stats

    docs = spark.createDataFrame(
        [
            (1, "pay 4111-1111-1111-1111 now"),          # valid (Visa test)
            (2, "card 5500 0000 0000 0004 here"),        # valid (MC test)
            (3, "bad 4111-1111-1111-1112 oops"),         # checksum fails
            (4, "short 123456789012 and long 12345678901234567890"),
            (5, "amex 378282246310005"),                 # 15-digit valid
            (6, "no digits at all"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_cc_candidates, r.n_cc_luhn_valid)
        for r in credit_card_stats(docs).collect()
    }
    assert got == {1: (1, 1), 2: (1, 1), 3: (1, 0), 4: (0, 0),
                   5: (1, 1), 6: (0, 0)}
    scrub = {
        r.doc_id: r.scrubbed_len for r in credit_card_stats(docs).collect()
    }
    # doc 3's invalid candidate still redacts (over-redaction is safe)
    assert scrub[3] == len("bad |||CC||| oops")


def test_lm_bucket_counts_terciles(spark):
    from pdf_ocr_spark.operators.text_analysis import lm_bucket_counts

    scores = spark.createDataFrame(
        [(i, 10, float(-i)) for i in range(1, 10)],
        "doc_id long, n_words long, avg_logprob double",
    )
    out = {r.bucket: r.n_docs for r in lm_bucket_counts(scores).collect()}
    # scores -1..-9; terciles split 3/3/3 (cutoffs interpolate between rows)
    assert out == {"head": 3, "middle": 3, "tail": 3}


def test_lm_bucket_counts_approximate_matches_order_statistic(spark):
    """approximate=True uses approx_percentile (GK sketch, bounded
    buffer); at n inside the sketch it returns the exact ceil(p*n)-th
    order statistic — cutoffs land ON data values, buckets still 3/3/3
    on a symmetric 9-doc corpus."""
    from pdf_ocr_spark.operators.text_analysis import (
        lm_bucket_counts,
        lm_tercile_cuts,
    )

    scores = spark.createDataFrame(
        [(i, 10, float(-i)) for i in range(1, 10)],
        "doc_id long, n_words long, avg_logprob double",
    )
    cuts = lm_tercile_cuts(scores, approximate=True).first()
    # ceil(9/3)=3rd and ceil(18/3)=6th smallest of -9..-1
    assert (cuts.c1, cuts.c2) == (-7.0, -4.0)
    out = {
        r.bucket: r.n_docs
        for r in lm_bucket_counts(scores, approximate=True).collect()
    }
    assert out == {"head": 3, "middle": 3, "tail": 3}


def test_lm_bigram_plan_broadcasts_all_model_tables(spark):
    from pdf_ocr_spark.operators.text_analysis import (
        lm_bigram_counts,
        lm_bigram_doc_scores,
        lm_word_counts,
    )

    docs = spark.createDataFrame(
        [(i, "spark rows " * 20) for i in range(50)], "doc_id long, text string"
    )
    scores = lm_bigram_doc_scores(
        docs, lm_word_counts(docs), lm_bigram_counts(docs))
    plan = scores._jdf.queryExecution().executedPlan().toString()
    # bigrams + context sums + unigrams all broadcast; the corpus side
    # never sort-merges and never sorts globally
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_lm_plan_broadcasts_vocab_no_global_sort(spark):
    from pdf_ocr_spark.operators.text_analysis import (
        lm_bucket_counts,
        lm_doc_scores,
        lm_word_counts,
    )

    docs = spark.createDataFrame(
        [(i, "spark rows " * 20) for i in range(50)], "doc_id long, text string"
    )
    scores = lm_doc_scores(docs, lm_word_counts(docs))
    plan = scores._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan       # vocab broadcast, corpus map-side
    assert "SortMergeJoin" not in plan
    bplan = (
        lm_bucket_counts(scores)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # tercile cutoffs via aggregate + broadcast: no Window operator at all
    assert "Window" not in bplan


def test_domain_reputation_verdicts(spark):
    """Site-level rollup: a template farm drops on dup_frac, a spam site
    drops on gate failures, a 2-page site is low_evidence, a healthy
    site keeps; the plan is one map-side-combinable groupBy."""
    good = " ".join(f"word{i} text body sentence" for i in range(20))
    rows = (
        [("good.com", good + f" tail{i}") for i in range(4)]
        + [("farm.com", "identical spam page")] * 10
        + [("short.com", "tiny")] * 5          # gate fails (too few words)
        + [("new.com", good), ("new.com", good + " x")]
    )
    docs = spark.createDataFrame(rows, "domain string, text string")
    from pdf_ocr_spark.operators.text_analysis import domain_reputation

    out = domain_reputation(docs)
    got = {r["domain"]: r for r in out.collect()}
    assert got["good.com"]["verdict"] == "keep"
    assert got["farm.com"]["verdict"] == "drop"
    assert got["farm.com"]["dup_frac"] == 0.9
    assert got["short.com"]["verdict"] == "drop"
    assert got["short.com"]["gate_fail_frac"] == 1.0
    assert got["new.com"]["verdict"] == "low_evidence"
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan or "HashAggregate" in plan
    assert "Window" not in plan


def test_blocklist_filter_suffix_semantics(spark):
    """Parent-suffix matching: a subdomain is blocked by a parent entry;
    an unrelated lookalike ('notexample.com') is NOT; the blocklist side
    is broadcast."""
    docs = spark.createDataFrame(
        [
            (1, "ads.tracker.example.com"),   # parent entry example.com
            (2, "example.com"),               # exact
            (3, "notexample.com"),            # lookalike — must survive
            (4, "good.org"),
            (5, "x.bad.net"),                 # parent entry bad.net
        ],
        "doc_id long, domain string",
    )
    bl = spark.createDataFrame(
        [("example.com",), ("bad.net",)], "suffix string"
    )
    from pdf_ocr_spark.operators.text_analysis import blocklist_filter

    out = blocklist_filter(docs, bl)
    got = {r["doc_id"]: (r["blocked"], r["blocked_by"]) for r in out.collect()}
    assert got == {
        1: (True, "example.com"),
        2: (True, "example.com"),
        3: (False, None),
        4: (False, None),
        5: (True, "bad.net"),
    }
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_ngram_repetition_stats_pinned(spark):
    """Hand-computed Gopher repetition signals + the linear-fold
    performance property (a 20k-word doc must evaluate in seconds —
    the naive indexed-lambda shape is O(W^2 log W) and would hang)."""
    from pdf_ocr_spark.operators.text_analysis import ngram_repetition_stats

    docs = spark.createDataFrame(
        [
            # norm = 'a b a b a b' (11 chars); 2-grams: [a b]x3,[b a]x2
            # top2 = 3*len('a b')/11 = 9/11; 5-grams: 2 total, 2 distinct
            (1, "a b a b a b"),
            (2, ""),  # degenerate: all zero, passes
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in ngram_repetition_stats(docs).collect()}
    assert got[1]["top2_frac"] == round(9 / 11, 6)
    assert got[1]["dup5_frac"] == 0.0  # 'a b a b a' != 'b a b a b'
    assert got[1]["passes_repetition"] is False
    assert got[2]["top2_frac"] == 0.0 and got[2]["passes_repetition"] is True

    # tie-break: 'x y' and 'y x' both occur twice -> lexicographic min wins
    tie = spark.createDataFrame([(3, "x y x y x")], "doc_id long, text string")
    r3 = ngram_repetition_stats(tie).collect()[0]
    # 2-grams: [x y, y x, x y, y x] -> both cnt 2; norm len 9; 'x y' wins
    assert r3["top2_frac"] == round(2 * 3 / 9, 6)

    edge = spark.createDataFrame(
        [
            (4, None),  # NULL text: all zero, passes
            # U+00A0 is not Java \s: 3 words 'x\xa0y' (not 6), norm len 11;
            # 2-grams: ['x\xa0y x\xa0y'] x2 (7 chars); 3-gram: the whole text
            (5, "x\u00a0y x\u00a0y x\u00a0y"),
            # norm 'ü ö ü ö éé à éé à' (17 chars); 2-grams 'ü ö' and
            # 'éé à' both occur twice -> code-point min 'éé à' (4 chars),
            # not the first-seen 'ü ö' (3); 3-grams all once -> 'à éé à'
            (6, "ü ö ü ö ÉÉ à ÉÉ à"),
        ],
        "doc_id long, text string",
    )
    stats = ngram_repetition_stats(edge)
    got = {r["doc_id"]: r for r in stats.collect()}
    # one Python stage counts; no interpreted HOF and no shuffle around it
    plan = stats._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow ngram_counts(") == 1
    assert not any(op in plan for op in ("aggregate(", "transform(", "arrays_zip", "Exchange"))
    fracs = [c for c in got[4].asDict() if c.endswith("_frac")]
    assert len(fracs) == 9
    assert all(got[4][c] == 0.0 for c in fracs)
    assert got[4]["passes_repetition"] is True
    assert got[5]["top2_frac"] == round(2 * 7 / 11, 6)
    assert got[5]["top3_frac"] == 1.0 and got[5]["top4_frac"] == 0.0
    assert got[5]["passes_repetition"] is False
    assert got[6]["top2_frac"] == round(2 * 4 / 17, 6)
    assert got[6]["top3_frac"] == round(6 / 17, 6)

    import time

    long_doc = spark.createDataFrame(
        [(9, " ".join(f"w{i % 997}" for i in range(20000)))],
        "doc_id long, text string",
    )
    t0 = time.time()
    ngram_repetition_stats(long_doc).collect()
    # generous bound: CPU steal on this VM swings walls up to 4x (see
    # bench.py calibration) — the naive O(W^2 log W) shape this guards
    # against takes many minutes, so 120s still separates cleanly
    assert time.time() - t0 < 120, "fold must stay linear per row"


def test_temperature_mix_upweights_low_resource(spark):
    """alpha=0.5 temperature mix: the low-resource language's sampling
    rate exceeds the high-resource one's relative to raw share; apply
    is deterministic (same verdicts on rerun) and broadcasts the rates."""
    from pdf_ocr_spark.operators.sampling import (
        temperature_mix_apply,
        temperature_mix_rates,
    )

    docs = spark.createDataFrame(
        [(i, "en" if i < 900 else "sw") for i in range(1000)],
        "doc_id long, lang string",
    )
    rates = temperature_mix_rates(docs, target_docs=500)
    got = {r["stratum"]: r for r in rates.collect()}
    # raw shares: en 0.9 / sw 0.1; sqrt shares: 30:10 -> 0.75 / 0.25
    assert got["en"]["share"] == 0.75 and got["sw"]["share"] == 0.25
    # sw keeps ALL 100 docs (rate capped at 1.0); en samples ~375/900
    assert got["sw"]["sample_rate"] == 1.0
    assert abs(got["en"]["sample_rate"] - 500 * 0.75 / 900) < 1e-6

    kept = temperature_mix_apply(docs, rates)
    a = sorted(r["doc_id"] for r in kept.collect())
    b = sorted(r["doc_id"] for r in kept.collect())
    assert a == b and len(a) > 0
    assert sum(1 for i in a if i >= 900) == 100  # every sw doc kept
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_ngram_repetition_matches_python_reference(spark):
    """Third implementation: a pure-Python reference computes the same
    statistics for a batch of seeded random word documents — the Spark
    fold, the DuckDB oracle (verify_oracle), and this must all agree."""
    import random
    from collections import Counter

    from pdf_ocr_spark.operators.text_analysis import ngram_repetition_stats

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(12)]
    rows = []
    for i in range(30):
        n_words = rng.randint(0, 120)
        words = [rng.choice(vocab) for _ in range(n_words)]
        if i % 4 == 0 and n_words >= 6:  # inject hard repetition
            words = words[:6] * (n_words // 6)
        rows.append((i, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in ngram_repetition_stats(docs).collect()}

    for i, text in rows:
        norm = " ".join(text.lower().split())
        words = norm.split(" ")
        nchars = len(norm)
        for n in (2, 3, 4):
            grams = [" ".join(words[j:j + n]) for j in range(len(words) - n + 1)] if len(words) >= n else []
            if grams and nchars > 0:
                cnt = Counter(grams)
                # tie-break: highest count, lexicographically smallest gram
                top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
                expect = round(top[1] * len(top[0]) / nchars, 6)
            else:
                expect = 0.0
            assert got[i][f"top{n}_frac"] == expect, (i, n)
        for n in range(5, 11):
            grams = [" ".join(words[j:j + n]) for j in range(len(words) - n + 1)] if len(words) >= n else []
            expect = round((len(grams) - len(set(grams))) / len(grams), 6) if grams else 0.0
            assert got[i][f"dup{n}_frac"] == expect, (i, n)


def test_corpus_datacard_single_pass(spark):
    """Datacard: exact volumes and fractions; the plan is ONE groupBy
    over one corpus scan (no joins, no windows)."""
    from pdf_ocr_spark.operators.text_analysis import corpus_datacard

    good = " ".join(f"word{i} body text here" for i in range(15))
    docs = spark.createDataFrame(
        [
            (1, "cc", "en", good),
            (2, "cc", "en", good),          # exact dup of 1
            (3, "cc", "en", "tiny"),        # gate fail
            (4, "web", "fr", good + " fin"),
        ],
        "doc_id long, source string, lang string, text string",
    )
    out = corpus_datacard(docs)
    got = {(r["source"], r["lang"]): r for r in out.collect()}
    cc = got[("cc", "en")]
    assert cc["n_docs"] == 3
    assert cc["dup_frac"] == round(1 / 3, 6)   # 3 docs, 2 distinct
    assert cc["gate_pass_rate"] == round(2 / 3, 6)
    assert got[("web", "fr")]["n_docs"] == 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "Join" not in final and "Window" not in final
    # count_distinct = two-phase aggregate: (keys, fp) then keys — no more
    assert final.count("Exchange hashpartitioning") <= 2


# ---------------------------------------------------------------------------
# DSIR importance resampling (Xie et al. 2023)


def test_dsir_logweights_sign_and_determinism(spark):
    from pdf_ocr_spark.operators.text_analysis import (
        dsir_bucket_logratios,
        dsir_doc_logweights,
        dsir_resample,
    )

    # target distribution = docs that repeat "alpha"; raw corpus adds
    # "omega"-heavy docs.  A doc full of target words must outweigh a
    # doc full of non-target words.
    raw = spark.createDataFrame(
        [
            (1, "alpha alpha beta alpha"),
            (2, "omega omega omega gamma"),
            (3, "alpha beta alpha alpha"),
            (4, "omega gamma omega omega"),
        ],
        "doc_id long, text string",
    )
    target = raw.filter(F.col("doc_id").isin(1, 3))
    lrs = dsir_bucket_logratios(raw, target)
    lw = {r.doc_id: r.log_w for r in dsir_doc_logweights(raw, lrs).collect()}
    assert set(lw) == {1, 2, 3, 4}
    assert lw[1] > lw[2] and lw[3] > lw[4]
    # identical texts -> identical weights (hash determinism)
    assert lw[1] == lw[3] and lw[2] == lw[4]

    # resample is deterministic and ranked by gumbel_key desc
    top = dsir_resample(dsir_doc_logweights(raw, lrs), k=2).collect()
    top2 = dsir_resample(dsir_doc_logweights(raw, lrs), k=2).collect()
    assert [r.doc_id for r in top] == [r.doc_id for r in top2]
    assert top[0].gumbel_key >= top[1].gumbel_key


def test_dsir_plan_broadcasts_ratios_no_global_sort(spark):
    from pdf_ocr_spark.operators.text_analysis import (
        dsir_bucket_logratios,
        dsir_doc_logweights,
        dsir_resample,
    )

    raw = spark.createDataFrame(
        [(i, f"word{i % 7} filler text") for i in range(50)],
        "doc_id long, text string",
    )
    lrs = dsir_bucket_logratios(raw, raw.filter(F.col("doc_id") < 10))
    plan = dsir_doc_logweights(raw, lrs)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan
    # top-k plans as TakeOrdered, not a global Sort+Exchange
    rplan = (
        dsir_resample(dsir_doc_logweights(raw, lrs), k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in rplan


def test_chunk_passages_windows_and_edges(spark):
    """Pinned chunking semantics: 5-word chunks with 2-word overlap
    (step 3); short docs produce one chunk; empty docs produce none;
    consecutive chunks share exactly the overlap; plan has no exchange."""
    from pdf_ocr_spark.operators.text_analysis import chunk_passages

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),  # 8 words -> starts 0,3,6
            (2, "x y"),  # 2 words -> one short chunk
            (3, ""),  # no chunks
        ],
        "doc_id long, text string",
    )
    out = chunk_passages(docs, chunk_words=5, overlap=2)
    rows = {(r.doc_id, r.chunk_idx): r for r in out.collect()}
    assert rows[(1, 0)].passage == "a b c d e"
    assert rows[(1, 1)].passage == "d e f g h"
    assert rows[(1, 2)].passage == "g h"  # trailing partial window
    assert rows[(1, 2)].n_words == 2
    assert rows[(2, 0)].passage == "x y"
    assert all(d != 3 for (d, _) in rows)
    assert len(rows) == 4
    # zero-shuffle plan: no Exchange anywhere
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_url_templates_and_crawl_traps(spark):
    """Template generalization (digits -> {n}, 16+ hex -> {h}, literals
    stay; query/fragment drop) and the trap rule: generated-template
    dominance flags, literal dominance never does."""
    from pdf_ocr_spark.operators.text_analysis import (
        crawl_trap_domains,
        url_template_counts,
    )

    rows = (
        # calendar trap: 30 distinct generated urls, one template
        [(i, f"https://trap.com/cal/{i}/day?sess=1#x") for i in range(30)]
        # literal-dominant site: one literal page fetched 30 times
        + [(100 + i, "https://flat.com/home") for i in range(30)]
        # hex session ids (32-char md5-like)
        + [(200 + i, f"https://sess.com/p/a{'%031x' % (i * 7919)}") for i in range(25)]
    )
    urls = spark.createDataFrame(rows, "doc_id long, url string")
    tc = {
        (r.domain, r.template): (r.n_urls, r.n_distinct_urls)
        for r in url_template_counts(urls).collect()
    }
    assert tc[("trap.com", "/cal/{n}/day")] == (30, 30)
    assert tc[("flat.com", "/home")] == (30, 1)  # query/fragment stripped
    assert tc[("sess.com", "/p/{h}")] == (25, 25)

    traps = {
        r.domain: r.is_trap
        for r in crawl_trap_domains(urls, trap_min_urls=20).collect()
    }
    assert traps == {"trap.com": True, "flat.com": False, "sess.com": True}


def test_filter_funnel_invariants(spark):
    """The funnel's structural invariants on the real registry query:
    counts chain (stage N's n_out = stage N+1's n_in), n_dropped =
    n_in - n_out, every count non-negative, and every stage does
    visible work on the enriched universe."""
    from pdf_ocr_spark.queries import q_filter_funnel

    rows = {
        r.stage: r
        for r in q_filter_funnel(spark, "/root/testdata/sf0.001").collect()
    }
    order = ["1_gopher_gate", "2_repetition_gate", "3_lm_tail_drop", "4_exact_dedup"]
    assert set(rows) == set(order)
    for a, b in zip(order, order[1:]):
        assert rows[a].n_out == rows[b].n_in
    for st in order:
        r = rows[st]
        assert r.n_dropped == r.n_in - r.n_out >= 0
    # enriched universe: every stage kills something at sf0.001
    assert all(rows[st].n_dropped > 0 for st in order)


def test_shard_assign_byte_packing_and_stability(spark):
    from pdf_ocr_spark.operators.text_analysis import shard_assign

    # target 10 bytes; each row's cost = utf-8 bytes + 1 (newline)
    docs = spark.createDataFrame(
        [
            (1, "en", "aaaa"),       # 5B  -> cum 5   -> shard 0
            (2, "en", "bbbbbbbb"),   # 9B  -> cum 14  -> shard 0 (starts at 5)
            (3, "en", "cc"),         # 3B  -> cum 17  -> shard 1 (starts at 14)
            (4, "en", "ddddddddddddddddddd"),  # 20B -> cum 37 -> shard 1
            (5, "en", "e"),          # 2B  -> cum 39  -> shard 3 (starts at 37)
            (1, "ja", "ああ"),  # 7B multibyte -> shard 0, own window
        ],
        "doc_id long, lang string, text string",
    )
    out = shard_assign(docs, target_bytes=10)
    rows = {(r.shard_key, r.doc_id): r for r in out.collect()}
    assert [rows[("en", i)].shard_index for i in (1, 2, 3, 4, 5)] == \
        [0, 0, 1, 1, 3]
    assert rows[("ja", 1)].n_bytes == 7  # octet_length, not char count
    assert rows[("ja", 1)].shard_index == 0
    assert rows[("en", 3)].shard_path == "en/shard-00001.jsonl"

    # pure function of (key, id order, sizes): repartitioning is a no-op
    again = shard_assign(docs.repartition(7, "doc_id"), target_bytes=10)
    assert sorted(map(tuple, again.collect())) == \
        sorted(map(tuple, out.collect()))


def test_source_kl_divergence_orders_drift(spark):
    """A source whose word distribution matches the corpus scores near
    zero; a divergent (templated) source scores strictly higher, and
    the sum runs over the shared min_count-trimmed support only."""
    from pdf_ocr_spark.operators.text_analysis import source_kl_divergence

    base = "the cat sat on the mat"
    docs = spark.createDataFrame(
        [
            (1, "news", base),
            (2, "news", base),
            (3, "blog", base),
            (4, "spam", "buy buy buy now now the"),
            (5, "spam", "buy now buy now buy the"),
        ],
        "doc_id long, source string, text string",
    )
    out = {r.source: r for r in source_kl_divergence(docs, min_count=2).collect()}
    assert set(out) == {"news", "blog", "spam"}
    # blog == one verbatim corpus-typical doc: small drift; spam >> both
    assert out["spam"].kl_divergence > out["news"].kl_divergence
    assert out["spam"].kl_divergence > out["blog"].kl_divergence
    # support restricted to vocab (cnt >= 2): singleton words drop from
    # BOTH n_words and n_vocab ('sat'/'on'/'mat' appear 3x so they stay)
    assert out["spam"].n_vocab == 3  # buy, now, the
    assert out["spam"].n_words == 12

    # partition-order independence (DECIMAL-summed terms)
    again = {
        r.source: r.kl_divergence
        for r in source_kl_divergence(docs.repartition(5, "doc_id"), min_count=2)
        .collect()
    }
    assert again == {s: r.kl_divergence for s, r in out.items()}


def test_url_spam_features_verdicts(spark):
    from pdf_ocr_spark.operators.text_analysis import url_spam_features

    urls = spark.createDataFrame(
        [
            ("https://www.example.com/articles/cats",),
            ("https://a.b.c.d.e.example.com/x",),          # deep subdomains
            ("https://s.example.com/1/2/3/4/5/6/7/8/p",),  # deep path
            ("https://u:p@example.com:8443/ok",),           # userinfo+port
            ("https://t.example.com/q?a=1&b=2&c=3&d=4&e=5&f=6&g=7&h=8",),
            ("https://d.example.com/20240101123456789",),   # digit-heavy
        ],
        "url string",
    )
    out = {r.url: r for r in url_spam_features(urls).collect()}
    clean = out["https://www.example.com/articles/cats"]
    assert (clean.sub_depth, clean.url_suspect) == (1, False)
    assert out["https://a.b.c.d.e.example.com/x"].sub_depth == 5
    assert out["https://a.b.c.d.e.example.com/x"].url_suspect
    assert out["https://s.example.com/1/2/3/4/5/6/7/8/p"].path_depth == 9
    assert out["https://s.example.com/1/2/3/4/5/6/7/8/p"].url_suspect
    flagged = out["https://u:p@example.com:8443/ok"]
    assert flagged.has_userinfo_or_port and not flagged.url_suspect
    assert out["https://t.example.com/q?a=1&b=2&c=3&d=4&e=5&f=6&g=7&h=8"].n_params == 8
    assert out["https://d.example.com/20240101123456789"].digit_ratio > 0.4
    assert out["https://d.example.com/20240101123456789"].url_suspect
    assert all(r.is_valid_url for r in out.values())


def test_url_spam_features_malformed_urls_flagged_not_scored(spark):
    """Malformed/relative URLs (no scheme://host) come back
    is_valid_url=false with NULL features — not the nonsense sub_depth=-1
    a ''-host split would yield (r3 ADVICE item)."""
    from pdf_ocr_spark.operators.text_analysis import url_spam_features

    urls = spark.createDataFrame(
        [
            ("relative/path/only",),
            ("/rooted/path?x=1",),
            ("",),
            ("https://ok.example.com/fine",),
        ],
        "url string",
    )
    out = {r.url: r for r in url_spam_features(urls).collect()}
    for bad in ("relative/path/only", "/rooted/path?x=1", ""):
        r = out[bad]
        assert r.is_valid_url is False
        assert r.sub_depth is None and r.path_depth is None
        assert r.digit_ratio is None and r.n_params is None
        assert r.url_suspect is False and r.has_userinfo_or_port is False
    good = out["https://ok.example.com/fine"]
    assert good.is_valid_url and good.sub_depth == 1 and good.url_suspect is False


def test_c4_line_apply_rules_and_page_gate(spark):
    from pdf_ocr_spark.operators.text_analysis import c4_line_apply

    docs = spark.createDataFrame(
        [
            (1, "a good long sentence.\nno terminal punct\nshort.\n"
                "uses javascript everywhere.\nanother proper line!"),
            (2, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in c4_line_apply(docs).collect()}
    r = out[1]
    # keepers: terminal punct + >=3 words + no javascript
    assert r.clean_text == "a good long sentence.\nanother proper line!"
    assert (r.n_lines, r.n_kept) == (5, 2)
    assert r.keep_doc is False  # fewer than 5 survivors
    # empty doc: one empty line, nothing kept, empty clean text
    assert out[2].clean_text == "" and out[2].n_kept == 0


def test_weighted_sample_is_deterministic_and_proportional(spark):
    """Efraimidis-Spirakis A-Res: same k winners on every run and
    partitioning; heavy rows win far more often than light ones (the
    race with 100x weight wins with probability ~100/101 per pair)."""
    from pdf_ocr_spark.operators.sampling import weighted_sample

    rows = [(f"d{i:04d}", "heavy" if i % 2 == 0 else "light",
             10_000 if i % 2 == 0 else 100) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id string, cls string, w long")
    a = weighted_sample(df, F.col("w"), k=60, key_col="doc_id")
    got = sorted(r["doc_id"] for r in a.collect())
    again = sorted(
        r["doc_id"]
        for r in weighted_sample(
            df.repartition(7), F.col("w"), k=60, key_col="doc_id"
        ).collect()
    )
    assert got == again                      # partitioning-independent
    cls = {r["doc_id"]: r["cls"] for r in df.collect()}
    heavy = sum(1 for d in got if cls[d] == "heavy")
    assert heavy >= 50                        # ~59/60 expected at 100:1
    out_cols = a.columns
    assert "weight" in out_cols and "_priority" not in out_cols


def test_weighted_sample_zero_weight_clamps(spark):
    """Weight 0 rows clamp to 1 (never divide by zero, still eligible)."""
    from pdf_ocr_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [("a", 0), ("b", 0), ("c", 0)], "doc_id string, w long"
    )
    out = weighted_sample(df, F.col("w"), k=2, key_col="doc_id")
    rows = out.collect()
    assert len(rows) == 2
    assert all(r["weight"] == 1 for r in rows)
