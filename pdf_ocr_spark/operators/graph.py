"""Graph operators over the crawl link graph.

PageRank as pure DataFrame ops with a FIXED iteration count — like
``similarity.kmeans_centroids``, every iteration routes floating-point
mass through exact DECIMAL sums and rounds the result, so the values are
partition-order independent and the whole computation is value-hash
verifiable against an unrolled SQL oracle.

Scale notes: each iteration is one (edges ⋈ ranks ⋈ degrees) join and
one groupBy on the destination — all partial-agg friendly; at web scale
edges are pre-bucketed by src so the join side co-locates.  Dangling
nodes contribute no mass (their rank leaks, the standard simplified
formulation) — documented, identical in the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_ocr_spark.pipeline.session import CacheOwner

# node/seed tables persisted by the iterative solvers below; bounded to the
# most recent call's (each public entry point releases its predecessor's),
# so a long-lived driver looping over graphs cannot accumulate cached node
# tables.
_graph_caches = CacheOwner()
release_graph_cache = _graph_caches.release
_cache = _graph_caches.cache


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
    prec: int = 10,
    prior: DataFrame = None,
) -> DataFrame:
    """PageRank over (src, dst) edges → (node, pr).

    pr₀ = 1/N; prᵢ₊₁(v) = round(d · Σ_{u→v} prᵢ(u)/deg(u) + (1−d)/N).
    One driver-side count (N) — the only scalar the algorithm needs.

    ``prior`` (node, pr) WARM-STARTS the power iteration from a
    previous snapshot's ranks instead of the uniform vector — the
    incremental path for crawl-to-crawl recomputation: ranks drift
    little between snapshots, so one warm iteration lands where a cold
    multi-iteration run does, at a fraction of the join passes.  Nodes
    new in this snapshot fall back to 1/N.  No renormalization — the
    (1−d)/N teleport re-injects mass each round, and determinism
    (exact decimal sums, fixed rounding) is what the oracle replays."""
    release_graph_cache()
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    nodes = _cache(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_nodes = nodes.count()
    base = (1.0 - damping) / n_nodes
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    if prior is not None:
        pr = nodes.join(
            prior.select("node", F.col("pr").alias("_prior")), "node", "left"
        ).select(
            "node",
            F.round(
                F.coalesce(F.col("_prior"), F.lit(1.0 / n_nodes)), prec
            ).alias("pr"),
        )
    else:
        pr = nodes.withColumn("pr", F.round(F.lit(1.0 / n_nodes), prec))
    for _ in range(iters):
        contrib = (
            e.join(pr.withColumnRenamed("node", "src"), "src")
            .join(deg, "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("pr") / F.col("deg")).alias("c"),
            )
        )
        mass = contrib.groupBy("node").agg(
            F.sum(F.col("c").cast("decimal(28,14)")).cast("double").alias("mass")
        )
        pr = nodes.join(mass, "node", "left").select(
            "node",
            F.round(
                F.coalesce(F.col("mass"), F.lit(0.0)) * damping + F.lit(base),
                prec,
            ).alias("pr"),
        )
    return pr


def anchor_text_profile(
    edges: DataFrame,
    src_col: str = "url",
    dst_col: str = "link",
    anchor_col: str = "anchor_text",
    nofollow_col: str = "nofollow",
    max_anchors: int = 8,
) -> DataFrame:
    """Per-target incoming-anchor profile — the link-graph description
    of a page that is independent of the page's own content (search
    ranking and crawl prioritization both use aggregated in-link anchor
    text; nofollow/ugc/sponsored links are excluded from the summary
    per their robots link-level semantics).

    Output per destination: ``n_inlinks`` (all), ``n_follow``
    (followed only), ``n_src_pages`` (distinct linking pages), and
    ``anchor_summary`` — the first ``max_anchors`` DISTINCT non-empty
    followed anchor texts in lexicographic order, '|'-joined
    (deterministic, bounded).

    Scale: the count aggregates are ONE map-side-combinable
    groupBy(dst).  The summary is state-bounded explicitly: distinct
    (dst, anchor) pairs first (a mega-indegree homepage dedups its
    millions of repeated 'Home' anchors map-side), then a per-dst
    row_number window keeps ``max_anchors`` rows BEFORE the final
    collect — no unbounded collect_set buffer anywhere."""
    from pyspark.sql.window import Window

    dst = F.col(dst_col)
    followed = ~F.col(nofollow_col)
    counts = edges.groupBy(dst.alias("dst")).agg(
        F.count(F.lit(1)).alias("n_inlinks"),
        F.sum(followed.cast("long")).alias("n_follow"),
        F.countDistinct(src_col).alias("n_src_pages"),
    )
    per_anchor = (
        edges.filter(followed & (F.col(anchor_col) != ""))
        .select(dst.alias("dst"), F.col(anchor_col).alias("anchor"))
        .distinct()
    )
    w = Window.partitionBy("dst").orderBy("anchor")
    summary = (
        per_anchor.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_anchors)
        .groupBy("dst")
        .agg(
            F.array_join(F.array_sort(F.collect_list("anchor")), "|").alias(
                "anchor_summary"
            )
        )
    )
    return counts.join(summary, "dst", "left")


def hits(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 2,
    prec: int = 10,
) -> DataFrame:
    """HITS (Kleinberg): hub/authority scores over (src, dst) edges →
    (node, hub, auth) after a FIXED number of mutual-reinforcement
    iterations — the classic complement to PageRank for separating
    link directories (hubs) from linked-to content (authorities) when
    prioritizing a crawl.

    Each half-step sums the opposite score over the edges and
    L1-normalizes: auth(v) = Σ_{u→v} hub(u) / Σ auth-mass, then
    hub(u) = Σ_{u→v} auth(v) / Σ hub-mass.  All mass moves through
    exact DECIMAL sums; normalized scores round to ``prec`` — the same
    partition-order-independence contract as :func:`pagerank`, so the
    whole run value-hashes against an unrolled SQL oracle.

    Scale: per half-step, one (edges ⋈ scores) join + one groupBy —
    both partial-agg friendly; the normalizer reduces to ONE broadcast
    row (no driver collect anywhere).  ``iters`` is a fixed
    hyperparameter, so lineage stays bounded without checkpoints."""
    release_graph_cache()
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    nodes = _cache(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    hub = nodes.withColumn("hub", F.lit(1.0))
    auth = None
    for _ in range(iters):
        am = (
            e.join(hub.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("hub").cast("decimal(28,14)")).alias("am"))
        )
        at = am.agg(F.sum("am").cast("double").alias("t"))
        auth = (
            nodes.join(am, "node", "left")
            .crossJoin(F.broadcast(at))
            .select(
                "node",
                F.round(
                    F.coalesce(F.col("am").cast("double"), F.lit(0.0)) / F.col("t"),
                    prec,
                ).alias("auth"),
            )
        )
        hm = (
            e.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum(F.col("auth").cast("decimal(28,14)")).alias("hm"))
        )
        ht = hm.agg(F.sum("hm").cast("double").alias("t"))
        hub = (
            nodes.join(hm, "node", "left")
            .crossJoin(F.broadcast(ht))
            .select(
                "node",
                F.round(
                    F.coalesce(F.col("hm").cast("double"), F.lit(0.0)) / F.col("t"),
                    prec,
                ).alias("hub"),
            )
        )
    return nodes.join(hub, "node").join(auth, "node").select("node", "hub", "auth")


# --------------------------------------------------------------------------
# Host-level webgraph rollup.  Common Crawl publishes its webgraph at host
# and domain granularity (the page-level graph is too large to ship); the
# reference pipeline stops at per-page link emission
# (pdf_ocr_with_boxes_v2.py has no graph stage), so this is part of the
# crawl-analytics surface the engine adds on top of extract_links.

_HOST_RE = r"^[a-z][a-z0-9+.-]*://(?:[^/?#]*@)?([^/:?#]+)"


def host_expr(url: "F.Column") -> "F.Column":
    """Lowercased hostname of an absolute URL ('' when unparseable) —
    one regexp, replayable verbatim in the DuckDB oracle (RE2 both
    sides): scheme dropped, userinfo dropped, port dropped."""
    return F.regexp_extract(F.lower(url), _HOST_RE, 1)


def host_graph(
    edges: DataFrame, url_col: str = "url", link_col: str = "link"
) -> DataFrame:
    """Page-level link edges → host-level webgraph:
    (src_host, dst_host, n_links, n_nofollow, n_pages).

    Only web links participate (absolute http(s) targets plus
    root-relative paths, which resolve to the source host); mailto:,
    javascript:, fragment-only and other non-fetchable hrefs are
    dropped — the same scoping a crawl frontier applies.  n_pages is
    the distinct source-page count behind each host pair (an edge
    backed by many pages is structural; one backed by a single page is
    incidental).

    Plan at 100 TB: one filter + one groupBy on (src_host, dst_host) —
    map-side partial aggregation collapses the per-page fan-in before
    the shuffle, so traffic is bounded by distinct host pairs (~10^9),
    not edges (~10^12).  count(DISTINCT url) rewrites to a two-stage
    expand under AQE; hot host pairs (link farms) split via skew-join.
    """
    url, link = F.col(url_col), F.col(link_col)
    is_web = (
        F.lower(link).startswith("http://")
        | F.lower(link).startswith("https://")
        | link.startswith("/")
    )
    src_host = host_expr(url)
    dst_host = F.coalesce(
        F.nullif(host_expr(link), F.lit("")), src_host
    )
    return (
        edges.filter(is_web)
        .select(
            src_host.alias("src_host"),
            dst_host.alias("dst_host"),
            url.alias("_page"),
            F.col("nofollow"),
        )
        .filter(F.col("src_host") != "")
        .groupBy("src_host", "dst_host")
        .agg(
            F.count(F.lit(1)).alias("n_links"),
            F.sum(F.col("nofollow").cast("int")).alias("n_nofollow"),
            F.countDistinct("_page").alias("n_pages"),
        )
    )


def trustrank(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
    prec: int = 10,
) -> DataFrame:
    """TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004): biased
    PageRank whose teleport mass lands ONLY on a curated trusted seed
    set, so trust decays with link distance from the seeds — the
    classic web-spam demotion signal a crawl scheduler runs next to
    plain PageRank (spam farms can manufacture in-links, but not
    in-links reachable from trusted seeds).

    t₀ = 1/|S| on seeds (0 elsewhere);
    tᵢ₊₁(v) = round(d · Σ_{u→v} tᵢ(u)/deg(u) + (1−d) · [v∈S]/|S|).

    Same exactness contract as :func:`pagerank`: every iteration's mass
    moves through DECIMAL(28,14) sums and rounds to ``prec``, so the
    run value-hashes against an unrolled SQL oracle.  The only driver
    scalar is |S| (seed count), the TrustRank analogue of PageRank's N.

    Output: (node, trust, is_seed).  Nodes unreachable from the seed
    set score exactly 0.0 — that zero IS the spam signal.

    Scale: identical join/groupBy shape to :func:`pagerank` (the seed
    indicator joins broadcast — curated seed lists are thousands of
    rows); dangling-node leak matches pagerank's simplified
    formulation.  Reference pipeline has no graph stage
    (pdf_ocr_with_boxes_v2.py stops at link emission); this extends the
    crawl-analytics surface."""
    release_graph_cache()
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    nodes = _cache(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    s = F.broadcast(
        seeds.select(F.col(seeds.columns[0]).alias("node")).distinct()
    ).withColumn("_seed", F.lit(1))
    n_seeds = s.count()
    if n_seeds == 0:
        raise ValueError(
            "trustrank needs a non-empty seed set (teleport mass 1/|S|)"
        )
    seeded = _cache(
        nodes.join(s, "node", "left").select(
            "node", F.col("_seed").isNotNull().alias("is_seed")
        )
    )
    base = (1.0 - damping) / n_seeds
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    tr = seeded.select(
        "node",
        "is_seed",
        F.round(
            F.when(F.col("is_seed"), F.lit(1.0 / n_seeds)).otherwise(F.lit(0.0)),
            prec,
        ).alias("trust"),
    )
    for _ in range(iters):
        contrib = (
            e.join(
                tr.select(F.col("node").alias("src"), "trust"), "src"
            )
            .join(deg, "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("trust") / F.col("deg")).alias("c"),
            )
        )
        mass = contrib.groupBy("node").agg(
            F.sum(F.col("c").cast("decimal(28,14)")).cast("double").alias("mass")
        )
        tr = seeded.join(mass, "node", "left").select(
            "node",
            "is_seed",
            F.round(
                F.coalesce(F.col("mass"), F.lit(0.0)) * damping
                + F.when(F.col("is_seed"), F.lit(base)).otherwise(F.lit(0.0)),
                prec,
            ).alias("trust"),
        )
    return tr.select("node", "trust", "is_seed")


def harmonic_centrality(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    radius: int = 3,
    prec: int = 10,
) -> DataFrame:
    """Bounded-radius harmonic centrality over a (host) graph:
    H_R(v) = Σ_{u≠v, d(u→v)≤R} 1/d(u→v) — the metric Common Crawl
    actually ranks hosts by in its published host-level webgraph
    rankings (Boldi & Vigna, "Axioms for centrality": harmonic
    centrality is the principled in-degree generalization; CC computes
    it with HyperBall).

    This is the EXACT truncated variant: distances materialize as a
    (u, v, d) min-distance table built by ``radius−1`` unrolled
    relational min-plus steps (d₁ = distinct edges; dᵢ₊₁ = min(dᵢ,
    dᵢ ⋈ d₁ + 1)), then one groupBy on v DECIMAL-sums 1/d.  Every
    step is a join + min-groupBy — partial-agg friendly, value-hash
    reproducible against an unrolled SQL oracle (1/d for d ≤ 8 is
    IEEE-exact or identically rounded in both engines; sums go through
    DECIMAL(28,14)).

    Scale honesty: the pair table is Σ_v |ball_R(v)| rows.  On host
    graphs (CC: ~10⁸ hosts) small R keeps balls bounded; at full web
    scale or unbounded R the production path is HyperBall — one HLL
    register set per node per iteration, unions along edges — which
    replaces the exact distinct-pair table with mergeable sketches.
    Self-distances (cycles back to u) are excluded, matching the
    u≠v term of the definition.

    Output: (node, harmonic, n_reached) — n_reached = |{u : d(u→v)≤R}|
    makes truncation VISIBLE (a node whose ball kept growing at the
    radius boundary has understated centrality)."""
    e1 = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    nodes = (
        e1.select(F.col("src").alias("node"))
        .unionByName(e1.select(F.col("dst").alias("node")))
        .distinct()
    )
    dist = e1.select("src", "dst", F.lit(1).alias("d"))
    for _ in range(radius - 1):
        step = (
            dist.join(
                e1.select(F.col("src").alias("dst"), F.col("dst").alias("nxt")),
                "dst",
            )
            .select("src", F.col("nxt").alias("dst"), (F.col("d") + 1).alias("d"))
            .filter(F.col("src") != F.col("dst"))
        )
        dist = (
            dist.unionByName(step)
            .groupBy("src", "dst")
            .agg(F.min("d").alias("d"))
        )
    h = dist.groupBy(F.col("dst").alias("node")).agg(
        F.sum((F.lit(1.0) / F.col("d")).cast("decimal(28,14)"))
        .cast("double")
        .alias("hsum"),
        F.count(F.lit(1)).alias("n_reached"),
    )
    return nodes.join(h, "node", "left").select(
        "node",
        F.round(F.coalesce(F.col("hsum"), F.lit(0.0)), prec).alias("harmonic"),
        F.coalesce(F.col("n_reached"), F.lit(0)).alias("n_reached"),
    )


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    rounds: int = 2,
) -> DataFrame:
    """Synchronous label-propagation communities over an undirected
    (host) graph (Raghavan et al. 2007) → (node, community).

    Labels start as each node's own id; every round each node adopts
    the label MOST FREQUENT among its neighbours PLUS its own current
    label (the self-vote damps the two-coloring oscillation synchronous
    LPA exhibits on bipartite-ish regions — a lone pair converges in
    one round instead of swapping forever); ties break to the
    lexicographically smallest label.  Unlike min-label propagation —
    which converges to connected components — frequency voting splits
    a component along its dense cores, which on a host graph separates
    organic link communities from link-farm clusters that a single
    stray edge would otherwise merge into them.

    Fully deterministic (synchronous update + total tie order, no RNG)
    so every round replays as SQL: symmetrize-distinct, join labels,
    count votes, one argmax per node via min(struct(-cnt, label)).
    Per round: one join on dst + two map-side-combinable groupBys —
    shuffle bounded by edges, state by nodes; the same shape PageRank
    already scales with here."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    e1 = (
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
        .filter(F.col("s") != F.col("d"))
    )
    sym = (
        e1.unionByName(e1.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .distinct()
    )
    nodes = sym.select(F.col("s").alias("node")).distinct()
    # vote edges = neighbours + one self-edge per node (the self-vote)
    ballot = sym.unionByName(
        nodes.select(F.col("node").alias("s"), F.col("node").alias("d"))
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(rounds):
        votes = (
            ballot.join(
                labels.select(F.col("node").alias("d"), "label"), "d"
            )
            .groupBy(F.col("s").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        winner = votes.groupBy("node").agg(
            F.min(F.struct((-F.col("cnt")).alias("nc"),
                           F.col("label").alias("lb"))).alias("w")
        ).select("node", F.col("w.lb").alias("_new"))
        labels = (
            labels.join(winner, "node", "left")
            .select(
                "node",
                F.coalesce(F.col("_new"), F.col("label")).alias("label"),
            )
        )
    return labels.select("node", F.col("label").alias("community"))
