"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

Design notes for 100 TB scale:
  * every hash is derived from ``md5`` via ``conv(hex,16,10)`` — JVM-side,
    whole-stage-codegen, AND bit-for-bit reproducible in ANSI SQL, so the
    DuckDB oracle can verify the exact same signatures
  * shingling uses higher-order functions (``transform(sequence(...))``)
    — no Python in the hot path
  * the only shuffles are the groupBy(doc) signature fold and the
    band-bucket exchange; both partial-aggregate map-side
  * LSH bucket join replaces the O(n²) pair space with per-bucket
    micro-joins; buckets are tiny by construction, so AQE handles any
    bucket skew (a degenerate band value) via skew-join splitting
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pdf_ocr_spark.pipeline.session import CacheOwner


class BoundedUniverseError(ValueError):
    """An all-pairs helper was fed more rows than its bound — at scale
    that plan is quadratic; use the LSH-composed variant instead."""


# candidate-pair DataFrames persisted by jaccard_on_candidates (and the
# shingle arrays of containment_candidates); bounded to the most recent
# call's, so loops over corpora cannot accumulate cached candidate sets
_candidate_caches = CacheOwner()
release_candidate_cache = _candidate_caches.release


def _guard_bounded(df: DataFrame, max_rows: Optional[int], composed_hint: str) -> None:
    """Cheap input-size guard for bounded-universe (all-pairs) helpers:
    counts at most ``max_rows + 1`` rows (limit-bounded, not a full scan)
    and refuses quadratic blowups with a pointer at the scale path."""
    if max_rows is None:
        return
    if df.limit(max_rows + 1).count() > max_rows:
        raise BoundedUniverseError(
            f"input exceeds {max_rows} rows: this helper is all-pairs "
            f"(quadratic); use {composed_hint} at scale, or pass "
            f"max_rows=None to force"
        )


def _h64(col, salt: str):
    """64-bit-ish (60-bit) hash reproducible in DuckDB:
    conv(substr(md5(x || ':salt'), 1, 15), 16, 10)."""
    return F.conv(
        F.substring(F.md5(F.concat(col, F.lit(":" + salt))), 1, 15), 16, 10
    ).cast("long")


def normalized(col):
    """Normalization shared by every dedup signature: lower + collapse
    whitespace + trim (``_NORM_SQL`` in queries.py is the oracle twin)."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def fingerprint(col):
    """The content fingerprint every exact-dedup, datacard and stream gate
    keys on: md5 of the :func:`normalized` text."""
    return F.md5(normalized(col))


def shingles(col, k: int = 5):
    """Distinct k-char shingles of the normalized text, via built-ins.

    PUSHDOWN-PROOF SHAPE (see text_analysis._word_ngrams): zip k
    length-aligned shifted slices of the char array — all top-level
    arguments, evaluated once per row — and concat per struct, so the
    transform lambda references ONLY its own variable.  The former
    ``transform(sequence(...), i -> norm.substr(i, k))`` closed over the
    ``norm`` expression (trim+regexp+lower), which interpreted HOF eval
    recomputes per element: O(L²) per doc — measured 11.8 s vs 1.7 s
    for corpus-wide signatures at sf0.1.  Short docs (< k chars, incl.
    empty → ['']) keep yielding one whole-string shingle, matching
    substr's clamping in the old shape and the SQL oracle."""
    norm = normalized(col)
    chars = F.split(norm, "")
    length = F.size(chars) - (k - 1)
    zipped = F.arrays_zip(*[F.slice(chars, i, length) for i in range(1, k + 1)])
    grams = F.transform(
        zipped, lambda s: F.concat(*[s[str(j)] for j in range(k)])
    )
    return F.array_distinct(
        F.when(F.length(norm) >= k, grams).otherwise(F.array(norm))
    )


def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: md5 fingerprint of normalized text → groups with >1
    member.  Output: (fingerprint, n_docs, canonical_id=min id)."""
    fp = fingerprint(F.col(text_col)).alias("fingerprint")
    return (
        docs.select(fp, F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("canonical_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


# Affine-permutation MinHash (the standard construction): ONE base hash
# per shingle, then h_i = (A_i * h + B_i) mod P per permutation — md5 runs
# once per shingle instead of num_perm times (the dominant per-byte cost
# at 100 TB), and the expression tree Catalyst must compile shrinks ~8x.
# Arithmetic stays below 2^62 (base < 2^40, A < 2^20, B < P = 2^61-1), so
# BIGINT math is exact AND identical in Spark and DuckDB (no overflow
# wrap in either engine) — the oracle reproduces signatures bit-for-bit.
MINHASH_P = (1 << 61) - 1


def minhash_perm_consts(num_perm: int) -> List[tuple]:
    """Deterministic (A_i, B_i) affine constants, mirrored verbatim into
    the SQL oracle generator (queries._sql_minhash_mins)."""
    import random

    out = []
    for i in range(num_perm):
        rng = random.Random(0xC0FFEE ^ (i * 0x9E3779B1))
        out.append((rng.randrange(1, 1 << 20) | 1, rng.randrange(0, MINHASH_P)))
    return out


def _hbase40(col):
    """40-bit md5-derived base hash, reproducible in DuckDB:
    CAST('0x' || substr(md5(x), 1, 10) AS BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 10), 16, 10).cast("long")


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 8,
    k: int = 5,
) -> DataFrame:
    """MinHash signatures over k-char shingles: explode distinct shingles,
    one md5 base hash per shingle, affine permutations, per-permutation
    minima (map-side partial agg → one shuffle)."""
    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles(F.col(text_col), k)).alias("sh"),
    ).select("doc_id", _hbase40(F.col("sh")).alias("hb"))
    aggs = [
        F.min((F.col("hb") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P)).alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_perm_consts(num_perm))
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _banded_signatures(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int,
    bands: int,
    k: int,
) -> DataFrame:
    """(doc_id, band, bh) rows: the signature split into ``bands`` bands,
    each band md5-hashed — the LSH bucket key space."""
    sigs = minhash_signatures(docs, text_col, id_col, num_perm, k)
    rows = num_perm // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh{b * rows + r}").cast("string") for r in range(rows)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("_", *parts)).alias("bh"),
            )
        )
    return (
        sigs.select("doc_id", F.explode(F.array(*band_cols)).alias("bb"))
        .select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
    )


def _cap_buckets(banded: DataFrame, keys: List[str], id_col: str, max_bucket: Optional[int]) -> DataFrame:
    """Deterministically cap bucket membership at ``max_bucket`` rows
    (first members by id) — the standard FineWeb/Dolma guard against a
    degenerate hot bucket (e.g. millions of empty docs sharing one
    signature) going quadratic inside the bucket self-join.  The window
    sort is O(B log B) per bucket vs the O(B²) join it prevents; use
    :func:`minhash_lsh_overflow` to see what was truncated.

    Measured (r4, same-session interleaved A/B at sf0.1 ×6 reps, the
    only comparison this VM's 4× CPU-steal swings permit): this window
    costs ~3% over no cap at all (median 6.87 s vs 6.67 s for the full
    lsh-pairs plan), so the r3→r2 "2.5× regression" attributed to it
    was cross-round weather mis-normalization, not plan cost.  A
    two-phase variant (pre-count buckets, broadcast the over-cap set,
    window only flagged rows) measured ~17% SLOWER (median 8.05 s) —
    the extra counting pass + broadcast join costs more than the
    window it saves, because the banded rows are 3 compact columns and
    the window's shuffle doubles as the self-join's co-location."""
    if max_bucket is None:
        return banded
    w = Window.partitionBy(*keys).orderBy(id_col)
    return (
        banded.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_bucket)
        .drop("_rn")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 8,
    bands: int = 4,
    k: int = 5,
    max_bucket: Optional[int] = 500,
) -> DataFrame:
    """LSH candidate pairs: band the signature, hash each band, bucket-join.

    Returns distinct (doc_a < doc_b) candidate pairs.  At scale the
    bucket-join is a self-equi-join on (band, band_hash) — shuffled once,
    never O(n²).  ``max_bucket`` bounds each bucket's membership (first
    ``max_bucket`` doc ids) so a degenerate bucket cannot go quadratic:
    pair count per bucket is ≤ C(max_bucket, 2) instead of C(B, 2).
    Truncation is observable via :func:`minhash_lsh_overflow`; members of
    an over-cap bucket usually still pair through their OTHER bands."""
    banded = _cap_buckets(
        _banded_signatures(docs, text_col, id_col, num_perm, bands, k),
        ["band", "bh"],
        "doc_id",
        max_bucket,
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def minhash_lsh_overflow(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 8,
    bands: int = 4,
    k: int = 5,
    max_bucket: int = 500,
) -> DataFrame:
    """Overflow accounting for the LSH bucket cap: one row per bucket
    whose membership exceeds ``max_bucket`` —
    (band, bh, n_members, n_dropped).  Run alongside
    :func:`minhash_lsh_pairs` so truncation is a visible metric, never
    silent.  One map-side-combined groupBy; empty when nothing is capped."""
    banded = _banded_signatures(docs, text_col, id_col, num_perm, bands, k)
    return (
        banded.groupBy("band", "bh")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") > max_bucket)
        .select(
            "band",
            "bh",
            "n_members",
            (F.col("n_members") - max_bucket).alias("n_dropped"),
        )
    )


def salted_group_count(
    df: DataFrame,
    key_col: str,
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-safe two-phase aggregation: count per key where a handful of
    hot keys (e.g. the md5 of a boilerplate page duplicated millions of
    times) would otherwise funnel into single reducers.

    Phase 1 shuffles on (key, salt) — hot keys spread over
    ``salt_buckets`` partial counts; phase 2 re-aggregates the (at most)
    ``salt_buckets`` partials per key.  Same result as a plain groupBy,
    bounded reducer size at any skew.  (AQE's skew handling covers joins,
    not aggregations — this is the aggregation-side equivalent.)"""
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets))
    )
    partial = salted.groupBy(key_col, "_salt").agg(F.count(F.lit(1)).alias("_c"))
    return partial.groupBy(key_col).agg(F.sum("_c").alias("n_rows"))


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 25,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Near-dup clustering: connected components over candidate pairs via
    iterative min-label propagation — the step that turns pairwise LSH
    hits into canonical-document groups (keep min id per cluster, drop
    the rest).

    Pure DataFrame ops: each iteration is one join + one groupBy; the
    driver only checks a convergence COUNT (O(graph diameter) rounds —
    near-dup clusters are shallow, typically 2-3).  Per-round
    checkpointing truncates the iterative lineage so plans don't grow
    unboundedly at 10^12-doc scale.  Returns
    (doc_id, cluster_id = min reachable id).

    ``reliable_checkpoint``: use ``df.checkpoint()`` (HDFS/S3 via
    ``sc.setCheckpointDir``) instead of executor-local blocks — an
    executor loss mid-iteration then recovers from storage rather than
    failing the job; REQUIRED for production-scale runs (the local
    default is the low-latency choice for short-lived jobs/tests)."""

    def ckpt(df: DataFrame) -> DataFrame:
        if reliable_checkpoint:
            return df.checkpoint()  # needs spark.sparkContext.setCheckpointDir
        return df.localCheckpoint()

    bi = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
        .persist()
    )
    labels = ckpt(
        bi.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
    )
    try:
        for _ in range(max_iters):
            neigh = (
                bi.join(labels, bi["src"] == labels["doc_id"])
                .groupBy(F.col("dst").alias("doc_id"))
                .agg(F.min("cluster_id").alias("neigh_label"))
            )
            new_labels = ckpt(
                labels.join(neigh, "doc_id", "left").select(
                    "doc_id",
                    F.least(
                        F.col("cluster_id"),
                        F.coalesce("neigh_label", F.col("cluster_id")),
                    ).alias("cluster_id"),
                )
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "doc_id")
                .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
    finally:
        bi.unpersist()
    return labels


def dedup_apply(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    text_col: Optional[str] = None,
) -> DataFrame:
    """The APPLY step of near-dup dedup: turn cluster labels into per-
    document keep/drop verdicts → (doc_id, canonical_id, keep).

    Default representative = the cluster label itself (connected
    components labels every member with the MIN reachable id, so the
    min-id member is canonical for free — no extra aggregate).  With
    ``text_col``, the representative is instead the LONGEST member
    (ties → min id) via a row_number window PARTITIONED BY cluster —
    clusters are shallow (2-3 docs), so no global or skewed sort.

    Plan at 100 TB: ``clusters`` only contains near-dup members (a
    fraction of the corpus, but far too big to broadcast at crawl
    scale) → plain equi-join on the id; unclustered docs fall through
    the left join and keep themselves."""
    labeled = docs.select(id_col).join(clusters, id_col, "left")
    if text_col is None:
        canonical = F.coalesce("cluster_id", F.col(id_col))
        return labeled.select(
            id_col,
            canonical.alias("canonical_id"),
            (canonical == F.col(id_col)).alias("keep"),
        )
    members = clusters.join(
        docs.select(id_col, F.length(text_col).alias("_n")), id_col
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("_n"), F.asc(id_col))
    reps = (
        members.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("cluster_id", F.col(id_col).alias("_rep"))
    )
    canonical = F.coalesce("_rep", F.col(id_col))
    return labeled.join(reps, "cluster_id", "left").select(
        id_col,
        canonical.alias("canonical_id"),
        (canonical == F.col(id_col)).alias("keep"),
    )


def canonical_url_collapse(
    pages_meta: DataFrame,
    url_col: str = "url",
    canonical_col: str = "canonical",
) -> DataFrame:
    """Canonical-URL dedup (the crawl-level pass BEFORE content dedup):
    pages declaring the same ``<link rel=canonical>`` target collapse
    into one group — (canonical_url, n_pages, kept_url) with the
    lexicographically-first member kept.  Pages without a canonical
    stand alone (their own url is the group key).

    ONE map-side-combined shuffle on the group key; mirrors what every
    production crawler does with the html_meta canonical field before
    spending MinHash on near-dup detection.

    Canonical hygiene (crawled pages declare garbage): an absolute
    http(s) canonical is used as-is; a root-relative one ('/path')
    resolves against the page's own scheme+host; anything else —
    empty, missing, scheme-relative, or junk — falls back to the
    page's url, so unrelated pages can never collapse through a
    shared '' or '/index.html' key."""
    canonical = F.col(canonical_col)
    origin = F.regexp_extract(
        F.col(url_col), r"(?i)^([a-z][a-z0-9+.-]*://[^/?#]+)", 1
    )
    key = (
        F.when(canonical.rlike(r"(?i)^https?://"), canonical)
        .when(
            canonical.startswith("/") & ~canonical.startswith("//"),
            F.concat(origin, canonical),
        )
        .otherwise(F.col(url_col))
    )
    return (
        pages_meta.groupBy(key.alias("canonical_url"))
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.min(url_col).alias("kept_url"),
        )
    )


def incremental_dedup(
    new_docs: DataFrame,
    seen_fingerprints: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-snapshot incremental dedup: classify each document of a NEW
    crawl snapshot against a historical fingerprint store (the union of
    every prior snapshot's normalized-text md5 fingerprints) AND within
    the snapshot itself — the pass every recurring crawl (CommonCrawl
    dumps, refetch cycles) runs before spending MinHash on survivors.

    ``seen_fingerprints`` needs a ``fingerprint`` column (md5 of
    ``normalized(text)``, i.e. what :func:`exact_duplicates` groups on);
    anything else is ignored.  Output: (doc_id, fingerprint, verdict)
    with verdict one of
      * ``dup_of_history``  — fingerprint already in the seen store
      * ``dup_in_snapshot`` — new fingerprint, but not the snapshot's
        min-id holder of it
      * ``kept``            — the snapshot's canonical copy of a
        never-seen fingerprint

    Plan at 100 TB: the history store is billions of rows — far beyond
    broadcast — so the left join shuffles BOTH sides on ``fingerprint``
    (sort-merge).  Persist the store as a table bucketed/partitioned by
    fingerprint and only the (much smaller) new snapshot moves.  The
    within-snapshot min-id window partitions by the SAME key, so it
    rides the join's output partitioning — no third exchange.  Appending
    ``kept`` rows' fingerprints back to the store closes the loop for
    the next snapshot."""
    new_fp = new_docs.select(
        F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint")
    )
    seen = (
        seen_fingerprints.select("fingerprint")
        .distinct()
        .withColumn("_seen", F.lit(True))
    )
    joined = new_fp.join(seen, "fingerprint", "left")
    w = Window.partitionBy("fingerprint")
    verdict = (
        F.when(F.col("_seen").isNotNull(), F.lit("dup_of_history"))
        .when(F.col(id_col) != F.min(id_col).over(w), F.lit("dup_in_snapshot"))
        .otherwise(F.lit("kept"))
    )
    return joined.select(id_col, "fingerprint", verdict.alias("verdict"))


def dedup_paragraphs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document PARAGRAPH dedup (the Dolma-style pass below
    document-level dedup): explode paragraphs, keep each normalized
    paragraph's globally FIRST occurrence (by doc id, then position),
    reassemble every document from its surviving paragraphs in original
    order.  Boilerplate repeated across a site vanishes from all but the
    first page that carried it.

    One shuffle on the paragraph fingerprint (the first-occurrence
    window), one on the doc id (reassembly) — both partial-agg friendly;
    no all-pairs anything.  Returns
    (doc_id, clean_text, n_paras, n_paras_kept)."""
    paras = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), r"\n\n")).alias("idx", "para"),
    ).filter(F.trim("para") != "")
    fp = fingerprint(F.col("para"))
    w = Window.partitionBy(fp).orderBy("doc_id", "idx")
    marked = paras.withColumn("rn", F.row_number().over(w))
    return (
        marked.groupBy("doc_id")
        .agg(
            F.array_join(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("rn") == 1,
                            F.struct(F.col("idx"), F.col("para")),
                        )
                    )
                ).getField("para"),
                "\n\n",
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_paras_kept"),
        )
    )


def strip_domain_boilerplate(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    domain_col: str = "domain",
    frac_threshold: float = 0.5,
    min_pages: int = 2,
) -> DataFrame:
    """Site-scoped boilerplate removal (the CCNet-style frequency pass,
    distinct from :func:`dedup_paragraphs`' global first-occurrence
    rule): a paragraph is boilerplate when it appears on MORE than
    ``frac_threshold`` of its domain's pages (and at least
    ``min_pages``) — navigation, footers, cookie banners.  Unlike
    first-occurrence dedup, boilerplate is dropped from EVERY page
    including the first, and a paragraph shared across two unrelated
    sites is NOT dropped (each domain judges its own).

    Returns (doc_id, clean_text, n_paras, n_paras_kept).

    Shuffles at 100 TB: one groupBy(domain, fingerprint) for paragraph
    page-counts, one groupBy(domain) for page totals (both map-side
    combined), the verdict join back on (domain, fingerprint) — the
    boilerplate side only holds fingerprints OVER the threshold, a tiny
    fraction, so AQE turns it into a broadcast — and the per-doc
    reassembly groupBy.  Nothing global, nothing quadratic."""
    paras = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(domain_col).alias("domain"),
        F.posexplode(F.split(F.col(text_col), r"\n\n")).alias("idx", "para"),
    ).filter(F.trim("para") != "")
    paras = paras.withColumn("fp", fingerprint(F.col("para")))
    dom_pages = docs.groupBy(F.col(domain_col).alias("domain")).agg(
        F.countDistinct(id_col).alias("n_dom_pages")
    )
    fp_pages = paras.groupBy("domain", "fp").agg(
        F.countDistinct("doc_id").alias("n_fp_pages")
    )
    boilerplate = (
        fp_pages.join(dom_pages, "domain")
        .filter(
            (F.col("n_fp_pages") >= min_pages)
            & (F.col("n_fp_pages") / F.col("n_dom_pages") > frac_threshold)
        )
        .select("domain", "fp", F.lit(True).alias("_bp"))
    )
    marked = paras.join(boilerplate, ["domain", "fp"], "left")
    kept = F.col("_bp").isNull()
    return marked.groupBy("doc_id").agg(
        F.array_join(
            F.array_sort(
                F.collect_list(
                    F.when(kept, F.struct(F.col("idx"), F.col("para")))
                )
            ).getField("para"),
            "\n\n",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_paras"),
        F.sum(kept.cast("int")).alias("n_paras_kept"),
    )


def simhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    k: int = 4,
) -> DataFrame:
    """SimHash: per-shingle 64-bit hash votes on each bit position; the
    signature is the string of majority bits (MSB first).  Bit-vote sums
    are plain conditional aggregates — fully codegen'd, one shuffle."""
    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles(F.col(text_col), k)).alias("sh"),
    ).withColumn("h", _h64(F.col("sh"), "simhash"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    agg = sh.groupBy("doc_id").agg(*votes)
    bit_chars = [
        F.when(F.col(f"v{b}") > 0, F.lit("1")).otherwise(F.lit("0"))
        for b in range(bits - 1, -1, -1)
    ]
    return agg.select("doc_id", F.concat(*bit_chars).alias("simhash"))


def simhash_near_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
    prefix_bits: int = 8,
) -> DataFrame:
    """Near-dup pairs by SimHash: block on the signature prefix (the
    standard rotate-and-block trick's first table), then filter exact
    Hamming distance inside blocks."""
    sigs = simhash_signatures(docs, text_col, id_col, bits=bits)
    blocked = sigs.withColumn("blk", F.substring("simhash", 1, prefix_bits))
    a, b = blocked.alias("a"), blocked.alias("b")
    pair = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk")) & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    # hamming distance between equal-length bitstrings, via built-ins
    hamming = F.aggregate(
        F.zip_with(
            F.split(F.col("a.simhash"), ""),
            F.split(F.col("b.simhash"), ""),
            lambda x, y: F.when(x != y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return pair.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        hamming.alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def jaccard_on_candidates(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact n-gram Jaccard restricted to CANDIDATE pairs — the scale
    path's verification stage.  Only documents appearing in ``pairs``
    are shingled (semi-join pushdown), and the intersection join fans out
    per candidate pair instead of per shared shingle across the whole
    corpus — linear in Σ|pair shingles|, never O(n²).

    Pairs with zero shared shingles keep jaccard 0.0, so the output is
    exactly the candidate set annotated + thresholded.

    Plan notes: the shingle SETS stay as arrays — ``array_intersect``
    computes |A∩B| per pair JVM-side, so there is NO shingle explode and
    no (pair × shingle) fan-out shuffle (the explode-join formulation
    measured 2.5× slower than even the all-pairs baseline on a small
    universe; this one is linear in Σ|pair| with two candidate-keyed
    joins).  ``pairs`` is persisted: the id semi-join and the final join
    both reference it, and an expensive candidate generator (the full
    MinHash-LSH subplan) must compute once, not per reference.  Cache
    ownership: this module OWNS the persisted candidates — each call
    unpersists the previous call's entry, so a long-lived session
    looping over corpora holds at most ONE cached candidate set (call
    :func:`release_candidate_cache` to drop that too).  Consume each
    returned plan before the next call, or the later call's eviction
    makes the earlier plan recompute its candidates (correct, slower)."""
    release_candidate_cache()
    pairs = _candidate_caches.cache(pairs)
    involved = (
        pairs.select(F.col("doc_a").alias(id_col))
        .unionByName(pairs.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    # hash each shingle to a 40-bit BIGINT before shuffling: the pair
    # join moves 8-byte longs instead of k-char strings (plus per-string
    # object headers), and array_intersect compares longs — the md5
    # formula is mirrored in the oracle, so jaccard stays exact even in
    # the (negligible) collision case
    sh_arr = docs.join(involved, id_col, "left_semi").select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(
            F.transform(shingles(F.col(text_col), k), _hbase40)
        ).alias("sh"),
    )
    a = sh_arr.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh_arr.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        # threshold the UNROUNDED ratio (the oracle SQL filters the raw
        # value too — filtering the rounded column would keep pairs in
        # [threshold - 5e-5, threshold) that the oracle drops)
        .filter((inter / union) >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.round(inter / union, 4).alias("jaccard"),
        )
    )


def verified_near_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 8,
    bands: int = 4,
    k: int = 5,
    threshold: float = 0.2,
) -> DataFrame:
    """The full scale-safe near-dup pipeline the docstrings promise:
    MinHash-LSH candidate generation (bucketed band join, never all-pairs)
    → exact n-gram Jaccard verification on the candidates only.

    Output: (doc_a, doc_b, jaccard) for verified pairs ≥ threshold.
    This is the composition to run at 100 TB; ``ngram_jaccard_pairs``
    standalone is the bounded-universe baseline."""
    cand = minhash_lsh_pairs(docs, text_col, id_col, num_perm, bands, k)
    return jaccard_on_candidates(docs, cand, text_col, id_col, k, threshold)


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    threshold: float = 0.2,
    max_rows: Optional[int] = 100_000,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs via a shingle self-join:
    |A∩B| from the equi-join on shingle, |A∪B| = |A|+|B|−|A∩B|.

    BOUNDED UNIVERSE: standalone this is quadratic in shared shingles —
    the ``max_rows`` guard refuses oversized inputs.  At 100 TB use
    :func:`verified_near_pairs` (LSH candidates → exact verification)."""
    _guard_bounded(docs, max_rows, "verified_near_pairs(docs, ...)")
    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles(F.col(text_col), k)).alias("sh"),
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .filter(jac >= threshold)  # unrounded, like the oracle
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


def embedding_near_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    max_rows: Optional[int] = 100_000,
) -> DataFrame:
    """Embedding-cosine near-dup pairs — BOUNDED UNIVERSE (all-pairs
    theta join, guarded by ``max_rows``).  At scale use
    :func:`embedding_near_pairs_bucketed` (sign-LSH bucketed)."""
    from pdf_ocr_spark.operators.similarity import cosine_expr

    _guard_bounded(emb, max_rows, "embedding_near_pairs_bucketed(emb, ...)")
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    cos = cosine_expr(F.col("va"), F.col("vb"))
    return pairs.filter(cos >= threshold).select(  # unrounded, like the oracle
        "id_a", "id_b", F.round(cos, 4).alias("cosine")
    )


def embedding_near_pairs_bucketed(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    bits: int = 8,
    max_bucket: Optional[int] = 500,
) -> DataFrame:
    """Scale path for embedding near-dup: sign-LSH bucket the vectors
    (operators.similarity.sign_bucket_expr), self-equi-join WITHIN
    buckets only, exact cosine on the candidates.  The pair space shrinks
    from O(n²) to Σ O(bucket²) with ~2^bits buckets; AQE's skew-join
    splitting spreads a hot bucket across reducers, and ``max_bucket``
    caps its membership (first ids) so a degenerate bucket — e.g.
    millions of zero-ish vectors sharing a sign pattern — cannot go
    quadratic even within one bucket.  Truncation is observable via
    :func:`embedding_bucket_overflow`.  Near-identical vectors agree on
    every coordinate sign, so recall at high thresholds is ~1
    (multi-probe: union of Hamming-1 buckets, same plan)."""
    from pdf_ocr_spark.operators.similarity import sign_bucket_expr

    bucketed = _cap_buckets(
        emb.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).alias("vec"),
            sign_bucket_expr(F.col(vec_col), bits).alias("bucket"),
        ),
        ["bucket"],
        "vid",
        max_bucket,
    )
    return _bucketed_cosine_pairs(bucketed, threshold)


def embedding_bucket_overflow(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
    max_bucket: int = 500,
) -> DataFrame:
    """Overflow accounting for the sign-LSH bucket cap: one row per
    bucket over ``max_bucket`` members — (bucket, n_members, n_dropped).
    Keeps truncation by :func:`embedding_near_pairs_bucketed` visible."""
    from pdf_ocr_spark.operators.similarity import sign_bucket_expr

    return (
        emb.groupBy(sign_bucket_expr(F.col(vec_col), bits).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") > max_bucket)
        .select(
            "bucket",
            "n_members",
            (F.col("n_members") - max_bucket).alias("n_dropped"),
        )
    )


def _bucketed_cosine_pairs(bucketed: DataFrame, threshold: float) -> DataFrame:
    from pdf_ocr_spark.operators.similarity import cosine_expr

    a = bucketed.select(
        F.col("vid").alias("id_a"), F.col("vec").alias("va"), "bucket"
    )
    b = bucketed.select(
        F.col("vid").alias("id_b"), F.col("vec").alias("vb"), "bucket"
    )
    pairs = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
    cos = cosine_expr(F.col("va"), F.col("vb"))
    return pairs.filter(cos >= threshold).select(  # unrounded, like the oracle
        "id_a", "id_b", F.round(cos, 4).alias("cosine")
    )


def duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 40,
    stride: int = 10,
) -> DataFrame:
    """Cross-document EXACT duplicate spans — the windowed approximation
    of suffix-array exact-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): any
    k-char window of normalized text that appears verbatim in more than
    one document marks a duplicated region; overlapping marked windows
    merge into spans.

    Construction (all JVM built-ins, oracle-replayable):
      1. CONTENT-DEFINED window anchors (winnowing-style): positions
         where the hash of the 8-char anchor gram ≡ 0 (mod stride) —
         fixed-grid sampling would only catch duplicates whose offsets
         agree mod stride; content anchors land at the same places
         inside shared text regardless of where it sits in each doc
      2. one 40-bit md5 hash per k-char window at each anchor (same
         formula as the MinHash base hash)
      3. hashes held by >1 distinct doc = duplicated windows (one
         map-side-combined groupBy)
      4. join back, then per-doc gaps-and-islands merge (Window
         functions PARTITIONED BY doc — never a global sort)

    Output: (doc_id, span_start, span_end, span_len), 1-based inclusive
    character positions in the NORMALIZED text.

    Scale notes: anchor selection hashes every position (what a suffix
    array pays in sort space; a production build swaps the md5 anchor
    for a rolling hash) but only ~len/stride windows survive to the
    shuffle.  The dup-hash side of the join-back is small (duplicated
    content only) — AQE converts it to a broadcast join when it fits."""
    _, marked = _dup_marked_windows(docs, text_col, id_col, k, stride)
    return _merge_windows(marked, k).select(
        "doc_id",
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
    )


def _dup_marked_windows(
    docs: DataFrame, text_col: str, id_col: str, k: int, stride: int
):
    """Shared front half of the ExactSubstr family: content-anchored
    k-char window hashes, kept only where the hash is held by >1
    distinct doc.  Returns (normalized docs ``(doc_id, t)``, marked
    windows ``(doc_id, pos, h)``)."""
    anchor_w = 8
    norm = normalized(F.col(text_col))
    ndocs = docs.select(F.col(id_col).alias("doc_id"), norm.alias("t"))
    n = F.greatest(F.length("t") - (k - 1), F.lit(1))
    anchors = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: _hbase40(F.col("t").substr(i, F.lit(anchor_w))) % stride == 0,
    )
    wins = ndocs.select(
        "doc_id",
        F.explode(
            F.transform(
                anchors,
                lambda i: F.struct(
                    i.alias("pos"),
                    _hbase40(F.col("t").substr(i, F.lit(k))).alias("h"),
                ),
            )
        ).alias("w"),
    ).select("doc_id", F.col("w.pos").alias("pos"), F.col("w.h").alias("h"))
    dup_hashes = (
        wins.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") > 1)
        .select("h")
    )
    return ndocs, wins.join(dup_hashes, "h", "left_semi")


def _merge_windows(marked: DataFrame, k: int) -> DataFrame:
    """Per-doc gaps-and-islands merge of k-char windows at ``pos`` into
    maximal spans ``(doc_id, span_start, span_end)`` — windows only
    shuffle within their own doc partition, never a global sort."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + (k - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    grp = F.sum(
        F.when(F.col("pos") > F.coalesce(prev_end, F.lit(-1)), 1).otherwise(0)
    ).over(w)
    return (
        marked.withColumn("grp", grp)
        .groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (k - 1)).alias("span_end"),
        )
        .drop("grp")
    )


def remove_duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 40,
    stride: int = 10,
) -> DataFrame:
    """Exact-substring dedup APPLY (the removal half of Lee et al. 2022's
    ExactSubstr: keep ONE occurrence of each duplicated region
    corpus-wide, cut every other occurrence out of the text).

    Keeper election is deterministic: for each duplicated window hash
    the corpus-first occurrence by ``(doc_id, pos)`` survives
    (row_number over the per-hash bucket — bounded by duplicated-content
    volume, never corpus-sized); all later occurrences are removal
    marks.  Removal windows merge per doc (gaps-and-islands), their
    complement segments are stitched back with an order-pinned
    ``array_sort(collect_list(struct))`` fold, and untouched docs pass
    through by left join — the whole plan is JVM built-ins.

    Output: ``(doc_id, clean_text, removed_chars, n_spans_removed)``
    over the NORMALIZED text (positions/segments live in the same
    coordinate space ``duplicate_spans`` reports).

    Scale notes: identical shuffle profile to ``duplicate_spans`` plus
    one per-hash window over the (small) duplicated-window table and one
    per-doc segment groupBy; nothing global, nothing Python.  Reference
    precedent: the reference dedups page text only at whole-doc
    granularity (pdf_ocr_with_boxes_v2.py resume set) — span-level
    removal is the web-scale extension its corpus consumers apply."""
    ndocs, marked = _dup_marked_windows(docs, text_col, id_col, k, stride)
    rn = F.row_number().over(Window.partitionBy("h").orderBy("doc_id", "pos"))
    removal = marked.withColumn("rn", rn).filter(F.col("rn") > 1).drop("rn", "h")
    spans = _merge_windows(removal, k).withColumnRenamed(
        "span_start", "s"
    ).withColumnRenamed("span_end", "e")

    ws = Window.partitionBy("doc_id").orderBy("s")
    gaps = spans.select(
        "doc_id",
        F.coalesce(F.lag("e").over(ws) + 1, F.lit(1)).cast("long").alias("seg_s"),
        (F.col("s") - 1).cast("long").alias("seg_e"),
    )
    tails = spans.groupBy("doc_id").agg(
        (F.max("e") + 1).cast("long").alias("seg_s")
    ).select("doc_id", "seg_s", F.lit(None).cast("long").alias("seg_e"))
    lens = ndocs.select("doc_id", "t", F.length("t").alias("len"))
    segs = (
        gaps.unionByName(tails)
        .join(lens, "doc_id")
        .select(
            "doc_id",
            "seg_s",
            F.least(F.coalesce(F.col("seg_e").cast("long"), F.col("len").cast("long")), F.col("len").cast("long")).alias("seg_e2"),
            "t",
        )
        .filter(F.col("seg_s") <= F.col("seg_e2"))
        .select(
            "doc_id",
            "seg_s",
            F.expr("substr(t, cast(seg_s as int), cast(seg_e2 - seg_s + 1 as int))").alias("sub"),
        )
    )
    assembled = segs.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_s", "sub"))),
                lambda x: x["sub"],
            ),
            "",
        ).alias("asm")
    )
    stats = spans.join(lens.select("doc_id", "len"), "doc_id").groupBy("doc_id").agg(
        F.sum(
            F.least(F.col("e").cast("long"), F.col("len").cast("long"))
            - F.col("s")
            + 1
        ).alias("removed_chars"),
        F.count(F.lit(1)).alias("n_spans_removed"),
    )
    return (
        lens.join(assembled, "doc_id", "left")
        .join(stats, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                F.col("removed_chars").isNotNull(), F.coalesce("asm", F.lit(""))
            )
            .otherwise(F.col("t"))
            .alias("clean_text"),
            F.coalesce(F.col("removed_chars"), F.lit(0)).cast("long").alias("removed_chars"),
            F.coalesce(F.col("n_spans_removed"), F.lit(0)).cast("long").alias("n_spans_removed"),
        )
    )


def semdedup_verdicts(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_centroids: int = 8,
    iters: int = 2,
    dim: int = 64,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup via k-means
    clustering + within-cluster cosine.  Vectors are assigned to their
    nearest trained centroid; cosine pairs are computed ONLY within a
    cluster; of each near-duplicate pair (cosine ≥ threshold) the
    larger id drops → (vec_id, cent_id, keep).  Deterministic keep rule
    (min id survives its pair set) instead of the paper's
    random-within-group choice, so the verdict is resume-stable and
    oracle-verifiable.

    Plan at 100 TB: k-means training is sample-scale (see
    ``kmeans_centroids``); the assignment is a zero-shuffle map-side
    projection against driver-scale centroid literals; the pair join is
    a self-equi-join on cent_id — Σ O(cluster²) not O(n²), and clusters
    are k-means-balanced (unlike LSH buckets, a degenerate hot bucket
    becomes its own cell; AQE skew-split spreads residual imbalance).
    Reference scope: the reference has no embedding stage — this is the
    training-data-pipeline surface over the extracted corpus."""
    from pdf_ocr_spark.operators.similarity import (
        cosine_expr,
        ivf_assign,
        kmeans_centroids,
    )

    cents = kmeans_centroids(
        emb, n_centroids=n_centroids, iters=iters, id_col=id_col, vec_col=vec_col,
        dim=dim,
    )
    assigned = ivf_assign(emb, cents, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"), "cent_id"
    )
    a = assigned.select(F.col("vid").alias("id_a"), F.col("vec").alias("va"), "cent_id")
    b = assigned.select(F.col("vid").alias("id_b"), F.col("vec").alias("vb"), "cent_id")
    drops = (
        a.join(b, "cent_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cosine_expr(F.col("va"), F.col("vb")) >= threshold)
        .select(F.col("id_b").alias("vid"))
        .distinct()
    )
    return assigned.join(drops.withColumn("_drop", F.lit(1)), "vid", "left").select(
        F.col("vid").alias(id_col),
        "cent_id",
        F.col("_drop").isNull().alias("keep"),
    )


# ---------------------------------------------------------------------------
# Relational Bloom filter — the crawler visited-set / incremental-dedup
# pre-filter.  A Bloom filter is SETS OF BIT POSITIONS; modelling the set
# bits as a distinct (pos) table keeps the whole structure relational,
# engine-portable, and oracle-verifiable, while preserving the real
# false-positive semantics (a key is "possibly seen" iff ALL k of its
# positions are set — never a false negative).

BLOOM_M = 4096  # bits in the filter (gate-scale; size by n·k/ln2 at scale)
BLOOM_K = 3  # hash functions per key


def _bloom_pos(col, i: int, m: int):
    """i-th Bloom position of a key, reproducible in DuckDB:
    CAST('0x' || substr(md5(key || ':bloom<i>'), 1, 10) AS BIGINT) % m."""
    return F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(col, F.lit(f":bloom{i}"))), 1, 10), 16, 10
        ).cast("long"),
        F.lit(m),
    )


def bloom_build(
    seen: DataFrame, key_col: str = "fingerprint", m: int = BLOOM_M, k: int = BLOOM_K
) -> DataFrame:
    """Build the filter: the distinct set-bit positions of every seen
    key → (pos) table with AT MOST ``m`` rows regardless of how many
    billions of keys went in — that bound is the whole point: the
    visited set compresses to a broadcastable relation.  ONE map-side-
    combined shuffle (the distinct)."""
    poss = F.array(*[_bloom_pos(F.col(key_col), i, m) for i in range(k)])
    return seen.select(F.explode(poss).alias("pos")).distinct()


def bloom_possibly_seen(
    new_keys: DataFrame,
    bloom: DataFrame,
    key_col: str = "fingerprint",
    id_col: str = "doc_id",
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> DataFrame:
    """Membership probe: (id, possibly_seen) — true iff ALL ``k``
    positions of the key are set.  False positives happen at the usual
    (1-e^(-kn/m))^k rate; false negatives never do, so 'false' rows can
    SKIP the exact incremental-dedup join entirely — the pre-filter
    that cuts the expensive history shuffle down to the possibly-seen
    slice.

    Plan at 100 TB: the bloom table (≤ m rows) BROADCASTs; each new key
    explodes into k probe rows map-side, and the only shuffle is the
    per-id count-matches aggregate (map-side combined)."""
    poss = F.array(*[_bloom_pos(F.col(key_col), i, m) for i in range(k)])
    probes = new_keys.select(
        F.col(id_col), F.explode(poss).alias("pos")
    )
    hits = probes.join(
        F.broadcast(bloom.withColumn("_set", F.lit(1))), "pos", "left"
    )
    return hits.groupBy(id_col).agg(
        (F.count("_set") == k).alias("possibly_seen")
    )


def fuzzy_decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text: str = "text",
    bench_id: str = "bench_id",
    num_perm: int = 8,
    bands: int = 4,
    k: int = 5,
    threshold: float = 0.5,
    max_bucket: Optional[int] = 500,
) -> DataFrame:
    """FUZZY benchmark decontamination: MinHash-LSH crossmatch between
    the corpus and an evaluation set, then exact shingle-Jaccard
    verification → (doc_id, bench_id, jaccard) for contaminated docs.
    Catches paraphrased / lightly-edited benchmark leakage that the
    exact 13-gram rule (:func:`~pdf_ocr_spark.operators.text_analysis.
    contaminated_docs`) misses — the two run together in practice
    (exact rule for verbatim splits, fuzzy rule for rewrites).

    Plan at 100 TB: the benchmark is eval-suite-sized → its banded
    signatures AND its shingle arrays BROADCAST; the corpus side bands
    once (map-side), joins the broadcast buckets, and only docs that
    produced a candidate are ever shingled for verification (semi-join
    pushdown).  The corpus never self-joins and never shuffles by
    shingle; ``max_bucket`` caps degenerate corpus buckets."""
    cb = _cap_buckets(
        _banded_signatures(docs, text_col, id_col, num_perm, bands, k),
        ["band", "bh"],
        "doc_id",
        max_bucket,
    )
    bb = _banded_signatures(
        bench, bench_text, bench_id, num_perm, bands, k
    ).withColumnRenamed("doc_id", "bench_id")
    pairs = (
        cb.join(F.broadcast(bb), ["band", "bh"])
        .select("doc_id", "bench_id")
        .distinct()
    )
    involved = pairs.select("doc_id").distinct()
    sh_docs = docs.join(involved, id_col, "left_semi").select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(
            F.transform(shingles(F.col(text_col), k), _hbase40)
        ).alias("sh_a"),
    )
    sh_bench = bench.select(
        F.col(bench_id).alias("bench_id"),
        F.array_distinct(
            F.transform(shingles(F.col(bench_text), k), _hbase40)
        ).alias("sh_b"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        pairs.join(sh_docs, "doc_id")
        .join(F.broadcast(sh_bench), "bench_id")
        .filter((inter / union) >= threshold)  # unrounded, like the oracle
        .select(
            "doc_id", "bench_id", F.round(inter / union, 4).alias("jaccard")
        )
    )


def snapshot_delta(
    old_docs: DataFrame,
    new_docs: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Crawl-to-crawl delta report: per-URL verdicts between two
    snapshots — ``added`` (url only in new), ``removed`` (only in old),
    ``changed`` (both, content fingerprint differs), ``unchanged`` —
    the refresh-rate signal that drives recrawl scheduling (frequently-
    changing hosts earn shorter revisit intervals) and dedup planning
    (unchanged pages skip re-extraction entirely).

    Plan at 100 TB: ONE full-outer sort-merge join on url (both
    snapshots partitioned/bucketed by url in practice, so the join
    co-locates); fingerprints are computed map-side before the
    exchange, so only (url, 16-byte md5) rows move — never text."""
    fp = lambda d: d.select(  # noqa: E731
        F.col(url_col).alias("url"),
        fingerprint(F.col(text_col)).alias("fp"),
    )
    o = fp(old_docs).withColumnRenamed("fp", "fp_old")
    n = fp(new_docs).withColumnRenamed("fp", "fp_new")
    j = o.join(n, "url", "full_outer")
    verdict = (
        F.when(F.col("fp_old").isNull(), F.lit("added"))
        .when(F.col("fp_new").isNull(), F.lit("removed"))
        .when(F.col("fp_old") != F.col("fp_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select("url", verdict.alias("verdict"))


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    threshold: float = 0.8,
    max_df: Optional[int] = None,
) -> DataFrame:
    """Asymmetric CONTAINMENT near-dup detection (Broder's c(A,B) =
    |S(A)∩S(B)| / |S(A)|): catches fragments, quotes, and aggregator
    inclusions — a short doc living inside a long one — where symmetric
    Jaccard sits far below any dedup threshold (a 40% prefix copy has
    c ≈ 1.0 but J ≈ 0.4, invisible to MinHash-LSH tuned for J ≥ 0.5).

    Candidate generation is the PREFIX-FILTER join of the set-similarity-
    join literature (Chaudhuri et al. ICDE'06; Vernica et al. SIGMOD'10),
    not an all-pairs scan: order each doc's shingles by global document
    frequency (rare first — fewest candidates), take the prefix of
    length |S| − ⌈t·|S|⌉ + 1, and equi-join PREFIX tokens against FULL
    postings.  Any pair with max-containment ≥ t shares ≥ ⌈t·|S_small|⌉
    shingles, and a set's required overlap cannot dodge a prefix that
    long — zero false negatives by the prefix-filter theorem; exact
    array_intersect verification on the candidates removes the false
    positives.  Shingles travel as 40-bit BIGINT hashes (same md5
    formula as the LSH path, oracle-replayable).

    ``max_df`` optionally drops ultra-hot shingles (boilerplate) from
    the candidate join — the standard stop-token trade: bounded bucket
    fan-out for documented recall loss on pairs connected ONLY by hot
    shingles.  Default None = exact.

    Scale shape: df groupBy (map-side combined), per-doc window for the
    prefix ranks (bounded by |S(doc)|), prefix⋈postings equi-join
    bounded by Σ df(prefix shingle) — the inverted-index join, linear-
    ish in practice; the verify stage touches candidates only.

    Output: (doc_a, doc_b, n_inter, containment_a, containment_b,
    jaccard) for pairs whose max containment ≥ threshold; containment_a
    = share of A's shingles found in B."""
    release_candidate_cache()  # same cache-ownership protocol as
    sh_arr = _candidate_caches.cache(  # jaccard_on_candidates: at most
        docs.select(                   # ONE live candidate cache
            F.col(id_col).alias("doc_id"),
            F.array_distinct(
                F.transform(shingles(F.col(text_col), k), _hbase40)
            ).alias("sh_arr"),
        )
    )
    sh = sh_arr.select("doc_id", F.explode("sh_arr").alias("sh"))
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    if max_df is not None:
        dfreq = dfreq.filter(F.col("df") <= max_df)
    ranked = sh.join(dfreq, "sh").select(
        "doc_id",
        "sh",
        F.row_number()
        .over(
            Window.partitionBy("doc_id").orderBy(F.col("df"), F.col("sh"))
        )
        .alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("n_sh"),
    )
    # prefix length for containment t: |S| - ceil(t*|S|) + 1
    prefix = ranked.filter(
        F.col("rn") <= F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    ).select("doc_id", "sh")
    cand = (
        prefix.alias("p")
        .join(sh.alias("q"), "sh")
        .filter(F.col("p.doc_id") != F.col("q.doc_id"))
        .select(
            F.least(F.col("p.doc_id"), F.col("q.doc_id")).alias("doc_a"),
            F.greatest(F.col("p.doc_id"), F.col("q.doc_id")).alias("doc_b"),
        )
        .distinct()
    )
    a = sh_arr.select(F.col("doc_id").alias("doc_a"), F.col("sh_arr").alias("sh_a"))
    b = sh_arr.select(F.col("doc_id").alias("doc_b"), F.col("sh_arr").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    c_a = inter / F.size("sh_a")
    c_b = inter / F.size("sh_b")
    jac = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        # threshold the UNROUNDED max-containment, like the oracle
        .filter(F.greatest(c_a, c_b) >= threshold)
        .select(
            "doc_a",
            "doc_b",
            inter.alias("n_inter"),
            F.round(c_a, 4).alias("containment_a"),
            F.round(c_b, 4).alias("containment_b"),
            F.round(jac, 4).alias("jaccard"),
        )
    )
