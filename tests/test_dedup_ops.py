"""Dedup operator tests: the LSH→exact-verify composition, the
bounded-universe guards on all-pairs helpers, and the reliable-checkpoint
mode of connected components."""

import pytest
from pyspark.sql import functions as F

from pdf_ocr_spark.operators import dedup as D


@pytest.fixture(scope="module")
def docs(spark):
    rows = []
    for i in range(30):
        base = f"document number {i} with some shared boilerplate text body"
        rows.append((i, base))
        if i < 10:  # near-dup twin: whitespace perturbation only
            rows.append((1000 + i, "  " + base.replace(" ", "  ")))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_verified_near_pairs_composition(docs):
    """verified pairs ⊆ LSH candidates, and every (i, 1000+i) twin pair
    survives exact verification with jaccard 1.0 (identical normalized
    shingles)."""
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in D.minhash_lsh_pairs(docs, num_perm=8, bands=4, k=5).collect()
    }
    verified = D.verified_near_pairs(docs, num_perm=8, bands=4, k=5, threshold=0.2)
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in verified.collect()}
    assert set(got) <= cand
    for i in range(10):
        assert got.get((i, 1000 + i)) == 1.0, (i, got.get((i, 1000 + i)))


def test_jaccard_on_candidates_matches_allpairs(docs):
    """On a bounded universe the composed path must agree with the
    all-pairs baseline wherever the candidate set covers the pair."""
    allpairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, k=5, threshold=0.2).collect()
    }
    cand = D.minhash_lsh_pairs(docs, num_perm=8, bands=4, k=5)
    composed = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.jaccard_on_candidates(docs, cand, k=5, threshold=0.2).collect()
    }
    for pair, j in composed.items():
        assert allpairs.get(pair) == j


def test_bounded_universe_guard(docs, spark):
    with pytest.raises(D.BoundedUniverseError, match="verified_near_pairs"):
        D.ngram_jaccard_pairs(docs, max_rows=5).collect()
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(D.BoundedUniverseError, match="bucketed"):
        D.embedding_near_pairs(emb, max_rows=5).collect()
    # within bounds: runs fine
    assert D.embedding_near_pairs(emb, threshold=0.99, max_rows=50).count() > 0


def test_embedding_bucketed_matches_allpairs_within_bucket(spark):
    """Bucketed near-pairs = all-pairs restricted to equal sign buckets."""
    emb = spark.createDataFrame(
        [(i, [1.0 + i / 100.0, (-1.0) ** i * 0.5, 2.0]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    bucketed = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in D.embedding_near_pairs_bucketed(emb, threshold=0.5, bits=3).collect()
    }
    allp = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in D.embedding_near_pairs(emb, threshold=0.5, max_rows=None).collect()
    }
    # same-parity ids share a bucket (sign of dim 2 alternates)
    assert bucketed
    for (a, b), cos in bucketed.items():
        assert allp[(a, b)] == cos
        assert (a % 2) == (b % 2)


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)], "doc_a long, doc_b long"
    )
    labels = {
        r["doc_id"]: r["cluster_id"]
        for r in D.connected_components(pairs, reliable_checkpoint=True).collect()
    }
    assert labels == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_duplicate_spans_windowed_exactsubstr(spark):
    """Docs sharing one long verbatim passage get a span covering it;
    fully-unique docs emit no rows; exact-duplicate docs are covered
    end-to-end."""
    shared = (
        "the quick brown fox jumps over the lazy dog while the "
        "crawler extracts byte identical text from every mirror"
    )
    rows = [
        (1, f"unique preamble alpha. {shared} unique tail alpha."),
        (2, f"different opening beta beta. {shared} other ending beta."),
        (3, "entirely unique document gamma with no repeated passage at "
            "all, nothing shared with any sibling row whatsoever here"),
        (4, "duplicated doc delta " * 8),
        (5, "duplicated doc delta " * 8),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["span_len"])
        for r in D.duplicate_spans(docs, k=40, stride=10).collect()
    }
    assert 3 not in spans            # unique doc: no duplicated window
    assert 1 in spans and 2 in spans # shared passage marked in both
    # the span must cover most of the shared passage (stride granularity
    # trims up to stride-1 chars at each edge)
    assert spans[1][2] >= len(shared) - 2 * 10
    # exact-duplicate docs: span covers (nearly) the whole normalized text
    norm_len = len(("duplicated doc delta " * 8).strip())
    assert spans[4][2] >= norm_len - 2 * 10
    assert spans[4] == spans[5]


def test_remove_duplicate_spans_keeps_first_occurrence(spark):
    """ExactSubstr APPLY: the lowest-(doc_id,pos) occurrence of each
    duplicated window survives, later occurrences are cut; untouched
    docs pass through byte-identical; lengths reconcile."""
    shared = (
        "the quick brown fox jumps over the lazy dog while the "
        "crawler extracts byte identical text from every mirror"
    )
    rows = [
        (1, f"unique preamble alpha. {shared} unique tail alpha."),
        (2, f"different opening beta beta. {shared} other ending beta."),
        (3, "entirely unique document gamma with no repeated passage at "
            "all, nothing shared with any sibling row whatsoever here"),
        (4, "duplicated doc delta " * 8),
        (5, "duplicated doc delta " * 8),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in D.remove_duplicate_spans(docs, k=40, stride=10).collect()}
    norm = {r[0]: " ".join(r[1].split()).strip().lower() for r in rows}
    assert set(out) == {1, 2, 3, 4, 5}
    # unique doc untouched
    assert out[3]["clean_text"] == norm[3]
    assert out[3]["removed_chars"] == 0 and out[3]["n_spans_removed"] == 0
    # doc 1 is the corpus-first holder of the shared passage: keeps it
    assert shared in out[1]["clean_text"]
    assert out[1]["removed_chars"] == 0
    # doc 2 loses (most of) the shared passage
    assert shared not in out[2]["clean_text"]
    assert out[2]["n_spans_removed"] >= 1
    # exact twins: 4 keeps (it's corpus-first), 5 is gutted
    assert out[4]["removed_chars"] == 0 or out[4]["removed_chars"] < out[5]["removed_chars"]
    assert out[5]["removed_chars"] > 0
    # length reconciliation on every doc
    for i, r in out.items():
        assert len(r["clean_text"]) == len(norm[i]) - r["removed_chars"], i
        # removal marks only ever delete text that was present
        assert r["removed_chars"] <= len(norm[i])


def test_remove_duplicate_spans_whole_doc_removal(spark):
    """A doc whose entire body duplicates an earlier doc collapses to
    the empty string (clean_text=''), not a missing row."""
    body = (
        "shared full body text carried verbatim across sibling documents "
        "with every clause unique inside the page so only the cross doc "
        "copy triggers removal of the complete later occurrence"
    )
    docs = spark.createDataFrame(
        [(1, body), (2, body)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in D.remove_duplicate_spans(docs, k=40, stride=10).collect()}
    assert out[1]["removed_chars"] == 0
    norm_len = len(" ".join(body.split()).strip())
    # doc 2: everything except content-anchor edge slack is removed
    # (anchors land ~every stride chars but gaps are geometric, so the
    # honest per-edge bound is k + a few strides, not stride itself)
    assert out[2]["removed_chars"] >= norm_len - 2 * (40 + 10)
    assert len(out[2]["clean_text"]) == norm_len - out[2]["removed_chars"]
    assert out[2]["n_spans_removed"] >= 1


def test_dedup_apply_verdicts(spark):
    docs = spark.createDataFrame(
        [(1, "aa"), (2, "aaaa"), (3, "b"), (9, "solo")],
        "doc_id long, text string",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "doc_id long, cluster_id long"
    )
    # min-id representative: the cluster label itself
    out = {
        r.doc_id: (r.canonical_id, r.keep)
        for r in D.dedup_apply(docs, clusters).collect()
    }
    assert out == {1: (1, True), 2: (1, False), 3: (1, False), 9: (9, True)}
    # longest representative: doc 2 wins its cluster
    out = {
        r.doc_id: (r.canonical_id, r.keep)
        for r in D.dedup_apply(docs, clusters, text_col="text").collect()
    }
    assert out == {1: (2, False), 2: (2, True), 3: (2, False), 9: (9, True)}


def test_canonical_url_collapse(spark):
    meta = spark.createDataFrame(
        [
            ("https://a.test/page?utm=1", "https://a.test/page"),
            ("https://a.test/page?utm=2", "https://a.test/page"),
            ("https://a.test/page", "https://a.test/page"),
            ("https://b.test/solo", None),  # canonical-less: stands alone
        ],
        "url string, canonical string",
    )
    out = {
        r.canonical_url: (r.n_pages, r.kept_url)
        for r in D.canonical_url_collapse(meta).collect()
    }
    assert out == {
        "https://a.test/page": (3, "https://a.test/page"),
        "https://b.test/solo": (1, "https://b.test/solo"),
    }


def test_canonical_collapse_hygiene(spark):
    """Empty, relative, and junk canonicals must not merge unrelated
    pages: root-relative resolves against the page's own origin;
    everything else falls back to the page url."""
    meta = spark.createDataFrame(
        [
            ("https://a.test/p?x=1", "/index.html"),   # root-relative
            ("https://a.test/index.html", "/index.html"),
            ("https://b.test/p", "/index.html"),       # other origin!
            ("https://c.test/p1", ""),                 # empty
            ("https://c.test/p2", ""),                 # empty
            ("https://d.test/p", "//cdn.test/x"),      # scheme-relative junk
            ("https://e.test/p", "HTTPS://E.test/c"),  # absolute, any case
        ],
        "url string, canonical string",
    )
    out = {
        r.canonical_url: r.n_pages
        for r in D.canonical_url_collapse(meta).collect()
    }
    assert out["https://a.test/index.html"] == 2       # same-origin collapse
    assert out["https://b.test/index.html"] == 1       # NOT merged with a.test
    assert out["https://c.test/p1"] == 1 and out["https://c.test/p2"] == 1
    assert out["https://d.test/p"] == 1                # junk -> own url
    assert out["HTTPS://E.test/c"] == 1


def test_lsh_bucket_cap_bounds_degenerate_corpus(spark):
    """2000 identical docs share every band bucket: uncapped that is
    ~2M pairs per band; the max_bucket cap bounds the join to
    C(cap, 2) pairs and the overflow query reports the truncation."""
    n = 2000
    docs = spark.createDataFrame(
        [(i, "the exact same boilerplate page body") for i in range(n)],
        "doc_id long, text string",
    )
    cap = 50
    pairs = D.minhash_lsh_pairs(docs, num_perm=8, bands=4, k=5, max_bucket=cap)
    n_pairs = pairs.count()
    assert n_pairs == cap * (cap - 1) // 2  # same first-50 ids in every band
    over = D.minhash_lsh_overflow(
        docs, num_perm=8, bands=4, k=5, max_bucket=cap
    ).collect()
    assert len(over) == 4  # one degenerate bucket per band
    for r in over:
        assert r["n_members"] == n and r["n_dropped"] == n - cap
    # uncapped (max_bucket=None) is the old quadratic behavior
    assert (
        D.minhash_lsh_pairs(
            docs.filter(F.col("doc_id") < 60), num_perm=8, bands=4, k=5,
            max_bucket=None,
        ).count()
        == 60 * 59 // 2
    )


def test_embedding_bucket_cap_and_overflow(spark):
    """Degenerate sign bucket (all-positive vectors): capped join yields
    C(cap,2) candidate pairs; overflow reports n - cap dropped."""
    n, cap = 300, 20
    emb = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    pairs = D.embedding_near_pairs_bucketed(
        emb, threshold=0.5, bits=4, max_bucket=cap
    )
    assert pairs.count() == cap * (cap - 1) // 2
    over = D.embedding_bucket_overflow(emb, bits=4, max_bucket=cap).collect()
    assert len(over) == 1
    assert over[0]["n_members"] == n and over[0]["n_dropped"] == n - cap


def test_candidate_cache_ownership_loop(spark, docs):
    """jaccard_on_candidates in a loop must not accumulate persisted
    candidate sets: at most one module-owned cache entry is live, and
    release_candidate_cache() drops it."""
    sc = spark.sparkContext

    def n_persistent():
        return sc._jsc.sc().getPersistentRDDs().size()

    D.release_candidate_cache()
    base = n_persistent()
    seen = []
    for _ in range(3):
        cand = D.minhash_lsh_pairs(docs, num_perm=8, bands=4, k=5)
        out = D.jaccard_on_candidates(docs, cand, k=5, threshold=0.2)
        out.count()
        seen.append(n_persistent())
    assert max(seen) <= base + 1  # never more than the one live entry
    assert len(D._candidate_caches.live) == 1
    D.release_candidate_cache()
    assert not D._candidate_caches.live
    assert n_persistent() <= base


def test_incremental_dedup_verdicts(spark):
    """Cross-snapshot dedup: history hits beat within-snapshot dedup;
    a never-seen fingerprint keeps exactly its min-id holder; the plan
    reuses the join's fingerprint partitioning for the window (no third
    exchange)."""
    new = spark.createDataFrame(
        [
            (1, "seen before"),          # fingerprint in history
            (2, "  SEEN   before "),     # same normalized fp → also history
            (3, "brand new text"),       # kept (min id of its fp)
            (4, "brand  NEW   text"),    # same fp as 3 → dup_in_snapshot
            (5, "unique survivor"),      # kept
        ],
        "doc_id long, text string",
    )
    hist_docs = spark.createDataFrame(
        [(100, "Seen  before")], "doc_id long, text string"
    )
    seen = hist_docs.select(
        F.md5(D.normalized(F.col("text"))).alias("fingerprint")
    )
    out = D.incremental_dedup(new, seen)
    got = {r["doc_id"]: r["verdict"] for r in out.collect()}
    assert got == {
        1: "dup_of_history",
        2: "dup_of_history",
        3: "kept",
        4: "dup_in_snapshot",
        5: "kept",
    }
    # the window must ride the join output's partitioning on fingerprint:
    # NO Exchange between the Window operator and the join below it
    lines = out._jdf.queryExecution().executedPlan().toString().splitlines()
    w_at = next(i for i, l in enumerate(lines) if "Window [min" in l)
    j_at = next(i for i, l in enumerate(lines) if "Join" in l and i > w_at)
    between = "\n".join(lines[w_at:j_at])
    assert "Exchange" not in between, between


def test_strip_domain_boilerplate_vs_first_occurrence(spark):
    """Frequency-threshold boilerplate: dropped from EVERY page (incl.
    the first), judged per-domain (a paragraph shared by two pages of
    different sites survives), below-threshold paragraphs survive."""
    nav = "Nav menu"
    docs = spark.createDataFrame(
        [
            (1, "a.com", f"{nav}\n\nbody one"),
            (2, "a.com", f"{nav}\n\nbody two"),
            (3, "a.com", f"{nav}\n\nbody three"),
            (4, "a.com", "body four\n\nrare shared"),   # rare: 2/5 < 0.5
            (5, "a.com", "body five\n\nrare shared"),
            (6, "b.com", f"{nav}\n\nother site"),        # 1/1 page but min_pages=2
        ],
        "doc_id long, domain string, text string",
    )
    out = D.strip_domain_boilerplate(docs, frac_threshold=0.5, min_pages=2)
    got = {r["doc_id"]: r for r in out.collect()}
    # nav stripped from ALL of a.com's carriers, including doc 1
    assert got[1]["clean_text"] == "body one"
    assert got[3]["clean_text"] == "body three"
    # 'rare shared' is on 2/5 a.com pages (0.4 <= 0.5): survives
    assert got[4]["clean_text"] == "body four\n\nrare shared"
    # b.com has 1 page: min_pages=2 protects its nav copy
    assert got[6]["clean_text"] == f"{nav}\n\nother site"
    assert got[1]["n_paras"] == 2 and got[1]["n_paras_kept"] == 1


def test_semdedup_verdicts_pinned(spark):
    """Two tight clusters of near-identical vectors + one outlier: the
    min id per near-dup group survives, near-copies drop, cross-cluster
    similarity is never evaluated."""
    import pyspark.sql.functions as F

    from pdf_ocr_spark.operators.dedup import semdedup_verdicts

    def v(base, eps, dim=8):
        out = [0.0] * dim
        out[base] = 1.0
        out[(base + 1) % dim] = eps
        return out

    rows = [
        (1, v(0, 0.00)),  # cluster A anchor
        (2, v(0, 0.01)),  # near-copy of 1 -> drop
        (3, v(0, 0.02)),  # near-copy of 1 -> drop
        (4, v(4, 0.00)),  # cluster B anchor
        (5, v(4, 0.01)),  # near-copy of 4 -> drop
        (6, [1.0] * 8),   # spread vector: not near anything
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r.vec_id: r.keep
        for r in semdedup_verdicts(
            emb, threshold=0.99, n_centroids=3, iters=1, dim=8
        ).collect()
    }
    assert got == {1: True, 2: False, 3: False, 4: True, 5: False, 6: True}


def test_bitext_margin_mutual_best_and_hubness(spark):
    """Margin mining: (a) mutual-best pairs with margin >= threshold are
    mined; (b) a one-directional best (y's best x already paired
    elsewhere) is NOT mined; (c) the all-pairs and LSH-bucketed paths
    agree when every candidate shares a bucket (recall=1 case)."""
    import pyspark.sql.functions as F  # noqa: F401

    from pdf_ocr_spark.operators.similarity import bitext_margin_pairs

    def v(i, j, a=1.0, b=0.0, dim=6):
        out = [0.01] * dim  # common positive floor -> all cosines > 0
        out[i] += a
        out[j] += b
        return out

    # x0<->y0 and x2<->y2 are translations (near-identical directions);
    # y4 is closest to x0 too, but x0's mutual best is y0.
    xs = spark.createDataFrame(
        [(0, v(0, 1)), (2, v(2, 3)), (4, v(4, 5))],
        "vec_id long, embedding array<double>",
    )
    ys = spark.createDataFrame(
        [(1, v(0, 1, b=0.05)), (3, v(2, 3, b=0.05)), (5, v(0, 4, b=0.4))],
        "vec_id long, embedding array<double>",
    )
    mined = {
        (r.x_id, r.y_id): r.margin
        for r in bitext_margin_pairs(xs, ys, k=2, threshold=1.0).collect()
    }
    assert (0, 1) in mined and (2, 3) in mined
    assert all(x != 4 or y != 1 for (x, y) in mined)  # x4 never steals y1
    # margins normalize against neighborhood density: the true pairs
    # score strictly above 1 (their cosine beats their avg-kNN)
    assert mined[(0, 1)] > 1.0 and mined[(2, 3)] > 1.0
    # all coords positive -> every vector shares the all-signs-positive
    # LSH bucket -> the bucketed scale path reproduces the exact result
    bucketed = {
        (r.x_id, r.y_id): r.margin
        for r in bitext_margin_pairs(xs, ys, k=2, threshold=1.0, bits=4).collect()
    }
    assert bucketed == mined


def test_bloom_prefilter_no_false_negatives(spark):
    """Bloom invariants: every seen key probes possibly_seen=true (no
    false negatives — the property that makes skipping the exact join
    safe); the positions table never exceeds m rows; a tiny m forces
    false positives (saturated filter) but still no false negatives."""
    import pyspark.sql.functions as F

    from pdf_ocr_spark.operators.dedup import bloom_build, bloom_possibly_seen

    seen = spark.createDataFrame(
        [(f"key{i}",) for i in range(50)], "fingerprint string"
    )
    new = spark.createDataFrame(
        [(i, f"key{i}") for i in range(80)], "doc_id long, fingerprint string"
    )
    bloom = bloom_build(seen, m=4096, k=3)
    assert bloom.count() <= 4096
    got = {
        r.doc_id: r.possibly_seen
        for r in bloom_possibly_seen(new, bloom, m=4096, k=3).collect()
    }
    assert all(got[i] for i in range(50))  # no false negatives, ever
    assert not all(got[i] for i in range(50, 80))  # filter discriminates

    # saturate: m=8 with 50 keys -> everything possibly_seen, still no FN
    sat = bloom_build(seen, m=8, k=3)
    got_sat = {
        r.doc_id: r.possibly_seen
        for r in bloom_possibly_seen(new, sat, m=8, k=3).collect()
    }
    assert all(got_sat[i] for i in range(50))


def test_fuzzy_decontaminate_catches_paraphrase(spark):
    """A lightly-edited copy of a benchmark item is caught (high
    jaccard); unrelated docs are not; the benchmark side broadcasts."""
    import pyspark.sql.functions as F  # noqa: F401

    from pdf_ocr_spark.operators.dedup import fuzzy_decontaminate

    body = " ".join(f"token{i} word{i % 13} filler" for i in range(60))
    docs = spark.createDataFrame(
        [
            (1, "Intro. " + body),          # paraphrased leak of bench 9
            (2, "completely different text about other topics entirely " * 5),
            (3, body[: len(body) // 2]),    # half overlap -> below 0.5? verify via jaccard col
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(9, body)], "bench_id long, text string")
    out = fuzzy_decontaminate(docs, bench, threshold=0.5)
    got = {(r.doc_id, r.bench_id): r.jaccard for r in out.collect()}
    assert (1, 9) in got and got[(1, 9)] > 0.9
    assert all(d != 2 for (d, _) in got)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_snapshot_delta_verdicts(spark):
    from pdf_ocr_spark.operators.dedup import snapshot_delta

    old = spark.createDataFrame(
        [("u1", "same text"), ("u2", "old body"), ("u3", "gone page")],
        "url string, text string",
    )
    new = spark.createDataFrame(
        [("u1", "Same   TEXT"), ("u2", "new body"), ("u4", "fresh page")],
        "url string, text string",
    )
    got = {r.url: r.verdict for r in snapshot_delta(old, new).collect()}
    # normalization (case/whitespace) makes u1 unchanged despite raw diff
    assert got == {
        "u1": "unchanged",
        "u2": "changed",
        "u3": "removed",
        "u4": "added",
    }


def test_containment_catches_fragment_jaccard_misses(spark):
    """A 40%-ish fragment of a long doc: containment ≈ 1.0 (caught at
    t=0.8) while Jaccard sits well below 0.8 — the asymmetric case the
    symmetric near-dup path is blind to.  Unrelated docs don't pair."""
    from pdf_ocr_spark.operators.dedup import containment_pairs

    base = " ".join(f"tok{i:03d}" for i in range(60))
    frag = " ".join(f"tok{i:03d}" for i in range(22))
    other = " ".join(f"zzz{i:03d}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, base), (2, frag), (3, other)], "doc_id long, text string"
    )
    rows = containment_pairs(docs, k=8, threshold=0.8).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert r["containment_b"] == 1.0          # all of the fragment is in base
    assert r["jaccard"] < 0.8                 # symmetric metric misses it
    assert r["containment_a"] < 0.8           # asymmetry is visible


def test_containment_prefix_filter_no_false_negatives(spark):
    """Prefix-filter candidates == brute-force verified pairs on a mixed
    universe (exact copy, fragment, disjoint): every pair with max
    containment ≥ t survives to the verified output."""
    from pdf_ocr_spark.operators.dedup import containment_pairs, shingles, _hbase40
    from pyspark.sql import functions as F
    from itertools import combinations

    texts = {
        1: " ".join(f"w{i}" for i in range(40)),
        2: " ".join(f"w{i}" for i in range(40)),            # exact copy
        3: " ".join(f"w{i}" for i in range(15)),            # fragment
        4: " ".join(f"q{i}" for i in range(40)),            # disjoint
        5: " ".join(f"w{i}" for i in range(20, 55)),        # suffix overlap
    }
    docs = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    got = {
        (r["doc_a"], r["doc_b"])
        for r in containment_pairs(docs, k=8, threshold=0.8).collect()
    }
    # brute force over raw shingle sets
    sh = {
        r["doc_id"]: set(r["sh"])
        for r in docs.select(
            "doc_id", F.transform(shingles(F.col("text"), 8), _hbase40).alias("sh")
        ).collect()
    }
    want = set()
    for a, b in combinations(sorted(sh), 2):
        ni = len(sh[a] & sh[b])
        if ni and max(ni / len(sh[a]), ni / len(sh[b])) >= 0.8:
            want.add((a, b))
    assert got == want and (1, 2) in got and (1, 3) in got
