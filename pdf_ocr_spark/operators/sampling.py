"""Deterministic sampling operators for training-mix curation.

``df.sample()`` is seed-dependent per partition-split and not
reproducible across engines or cluster layouts; training-data pipelines
need sampling that is (a) stable under repartitioning/resume, (b)
exactly replayable by the oracle, and (c) stratified (per-language /
per-domain target rates).  Hash-threshold sampling gives all three: keep
a row iff ``h(key) mod M < rate * M`` with the md5-derived 40-bit hash
shared with the dedup operators — pure codegen'd column expressions, no
RNG state anywhere."""

from __future__ import annotations

from typing import Dict

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdf_ocr_spark.operators.dedup import _hbase40

_M = 10_000  # rate resolution: 0.01%


def stratified_sample(
    df: DataFrame,
    rates: Dict[str, float],
    stratum_col: str = "lang",
    key_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum hash-threshold sampling: each stratum keeps its own
    target fraction of rows (training-mix reweighting — e.g. downsample
    English, keep all of a low-resource language).  Strata absent from
    ``rates`` fall back to ``default_rate``.

    The rate lookup compiles to a CASE expression (broadcast-free: the
    map is a plan literal), the verdict to one md5 + modulo per row —
    no shuffle, no RNG, resume-stable."""
    rate = F.lit(int(round(default_rate * _M)))
    for stratum, r in sorted(rates.items()):
        rate = F.when(
            F.col(stratum_col) == stratum, F.lit(int(round(r * _M)))
        ).otherwise(
            rate
        )
    keep = (_hbase40(F.col(key_col).cast("string")) % _M) < rate
    return df.filter(keep)


def temperature_mix_rates(
    docs: DataFrame,
    target_docs: int,
    stratum_col: str = "lang",
) -> DataFrame:
    """mT5/XLM-R-style temperature resampling (Xue et al. 2021 §3.2,
    alpha = 0.5): per-language sampling rates computed FROM corpus
    counts rather than hand-picked — low-resource languages are
    up-weighted relative to their raw share (share ∝ √n), and the
    rates scale the corpus toward ``target_docs`` total.

    alpha is fixed at 0.5 because sqrt is IEEE-correctly-rounded in
    every engine, unlike an arbitrary pow() — so the rates are
    value-hash reproducible between Spark and the oracle.  The sqrt
    weights are floored to 1e-6 resolution and summed as exact
    integers (a float sum would be partition-order dependent).

    Output per stratum: n_docs, share (√-weighted, rounded 1e-6),
    sample_rate in [0,1], expected_docs.  One groupBy + one broadcast
    single-row total — no global sort, scales to any corpus."""
    counts = docs.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = counts.withColumn(
        "_wgt", F.floor(F.sqrt("n_docs") * 1_000_000).cast("long")
    )
    total = w.agg(F.sum("_wgt").alias("_wsum"))
    j = w.crossJoin(F.broadcast(total))
    j = j.withColumn("share", F.round(F.col("_wgt") / F.col("_wsum"), 6))
    rate = F.least(
        F.lit(1.0),
        F.round(F.lit(float(target_docs)) * F.col("share") / F.col("n_docs"), 6),
    )
    j = j.withColumn("sample_rate", rate)
    return j.select(
        "stratum",
        "n_docs",
        "share",
        "sample_rate",
        F.round(F.col("sample_rate") * F.col("n_docs"), 2).alias("expected_docs"),
    )


def temperature_mix_apply(
    docs: DataFrame,
    rates: DataFrame,
    stratum_col: str = "lang",
    key_col: str = "doc_id",
) -> DataFrame:
    """Apply :func:`temperature_mix_rates` verdicts to the corpus:
    deterministic hash-threshold keep at 1e-6 resolution (same hash
    family as :func:`stratified_sample`; resume-stable, engine-exact).
    The rates table is one row per language — broadcast join, then a
    codegen'd filter; no shuffle of the corpus."""
    thr = F.round(F.col("sample_rate") * 1_000_000, 0).cast("long")
    r = F.broadcast(
        rates.select(
            F.col("stratum").alias(stratum_col), thr.alias("_thr")
        )
    )
    joined = docs.join(r, stratum_col, "left")
    keep = (
        _hbase40(F.col(key_col).cast("string")) % 1_000_000
    ) < F.coalesce(F.col("_thr"), F.lit(0))
    return joined.filter(keep).select(key_col, stratum_col)


def weighted_sample(
    df: DataFrame,
    weight: Column,
    k: int,
    key_col: str = "doc_id",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis & Spirakis
    2006, A-Res): keep the k rows with the smallest exponential race
    time ``-ln(u) / w`` where ``u`` is a per-key hash-uniform — each
    row wins with probability proportional to its weight, and the
    SAME k rows win on every run, engine, and partitioning (no RNG
    state; resume-stable like the rest of this module).

    u = (h40(key)+1) / 2^40 is an exact double (both operands are
    power-of-two-bounded integers), so the only transcendental is one
    ln() whose cross-engine difference (<= 1 ulp) is many orders of
    magnitude below the spacing between race times — the selected SET
    is engine-exact even though the float priorities are not hashed.

    Plan shape: one codegen'd projection + TakeOrdered(k) — no full
    sort materialization; scales to any corpus for the small k of a
    curation draw."""
    if k <= 0:
        raise ValueError("k must be positive")
    w = F.greatest(F.lit(1).cast("long"), weight.cast("long"))
    u = (_hbase40(F.col(key_col).cast("string")) + F.lit(1)) / F.lit(
        float(1 << 40)
    )
    priority = -F.ln(u) / w
    return (
        df.withColumn("weight", w)
        .withColumn("_priority", priority)
        .orderBy("_priority")
        .limit(k)
        .drop("_priority")
    )
