"""Crawl-frontier operators: distributed robots.txt rule tables and the
longest-match fetch-permission join (RFC 9309 semantics, kernel twin in
kernels/robots.py).

Scale design: rules tables are tiny relative to the frontier (one
robots.txt per host), so ``frontier_allowed`` broadcasts the rules side —
the URL frontier itself never shuffles for the join; the only exchange
is the per-url argmax over MATCHED rules (a small fraction of the
frontier).  Matching uses ``regexp_like`` with RE2-safe anchored
patterns emitted by the kernel, so the DuckDB oracle replays the same
match on the same regexes.

The five kernel parses — ``robots_rules``, ``robots_delays`` and
``robots_sitemaps`` over robots(domain, body), ``sitemap_urls`` and
``feed_items`` over (url, body) documents — are ``extract_job.Route``
values: each names its rows function, schema and key/payload columns
once, and ``route(df, num_partitions=None)`` runs it through
``kernel_route``."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from pdf_ocr_spark.pipeline.extract_job import Route, per_doc

ROBOTS_RULE_SCHEMA = StructType(
    [
        StructField("domain", StringType()),
        StructField("agent", StringType()),
        StructField("allow", BooleanType()),
        StructField("pattern", StringType()),
        StructField("regex", StringType()),
        StructField("specificity", IntegerType()),
        StructField("rule_order", IntegerType()),
    ]
)


@per_doc()
def robots_rule_rows(domain, body):
    from pdf_ocr_spark.kernels.robots import parse_robots

    for r in parse_robots(_robots_text(body)):
        yield (domain, r.agent, r.allow, r.pattern, r.regex, r.specificity, r.order)


def _robots_text(body) -> str:
    return body if isinstance(body, str) else body.decode("utf-8", "replace")


#: robots(domain, body) → one row per Allow/Disallow rule with its
#: anchored RE2-safe regex and specificity (kernel parse per RFC 9309,
#: including the empty-Disallow allow-all group sentinel).
robots_rules = Route(robots_rule_rows, ROBOTS_RULE_SCHEMA, key="domain", payload="body")


# case-insensitive scheme (RFC 3986: scheme and host are case-insensitive;
# discovered links are NOT pre-normalized); group 2 keeps the QUERY STRING —
# robots patterns like 'Disallow: /*?sessionid=' match path+query per REP
_URL_PARTS = r"(?i)^[a-z][a-z0-9+.-]*://([^/?#]+)([^#]*)"


def frontier_allowed(
    urls_df: DataFrame,
    rules_df: DataFrame,
    agent: str = "*",
    url_col: str = "url",
) -> DataFrame:
    """Fetch permission per frontier URL: RFC 9309 group selection (the
    agent's own group if one exists for its domain, else '*'), then
    longest-match over the group's patterns with Allow winning ties; no
    matching rule (or no robots.txt) → allowed.

    Entirely relational: a broadcast join against the (tiny) rules
    table, regexp_like matching, one argmax aggregation keyed by url —
    max(struct(specificity, allow)) picks the winner without a sort."""
    agent = agent.lower()
    urls = urls_df.select(
        F.col(url_col).alias("url"),
        # host is case-insensitive (RFC 3986): lowercase before joining
        # against the rules table (keyed by lowercase fetch domain)
        F.lower(F.regexp_extract(url_col, _URL_PARTS, 1)).alias("domain"),
        F.coalesce(
            F.nullif(F.regexp_extract(url_col, _URL_PARTS, 2), F.lit("")),
            F.lit("/"),
        ).alias("path"),
    )
    # RFC group selection is per-domain, BEFORE path matching: a domain
    # with any exact-agent rule uses ONLY those rules
    has_exact = rules_df.groupBy("domain").agg(
        F.max((F.col("agent") == agent).cast("int")).alias("has_exact")
    )
    eff = (
        rules_df.filter(F.col("agent").isin(agent, "*"))
        .join(F.broadcast(has_exact), "domain")
        .filter(
            ((F.col("agent") == agent) & (F.col("has_exact") == 1))
            | ((F.col("agent") == "*") & (F.col("has_exact") == 0))
        )
        .select("domain", "allow", "regex", "specificity")
    )
    matched = (
        urls.join(F.broadcast(eff), "domain")
        .filter(F.regexp_like(F.col("path"), F.col("regex")))
        .groupBy("url")
        .agg(
            F.max(
                F.struct(
                    F.col("specificity").alias("s"),
                    F.col("allow").cast("int").alias("a"),
                )
            ).alias("best")
        )
        .select("url", (F.col("best.a") == 1).alias("match_allow"))
    )
    return (
        urls.join(matched, "url", "left")
        .select(
            "url",
            "domain",
            "path",
            F.coalesce(F.col("match_allow"), F.lit(True)).alias("allowed"),
        )
    )


DELAY_SCHEMA = StructType(
    [
        StructField("domain", StringType()),
        StructField("agent", StringType()),
        StructField("delay_s", DoubleType()),
    ]
)


@per_doc()
def crawl_delay_rows(domain, body):
    from pdf_ocr_spark.kernels.robots import parse_crawl_delays

    for agent, delay in parse_crawl_delays(_robots_text(body)):
        yield (domain, agent, delay)


#: robots(domain, body) → per-agent-group Crawl-delay seconds — the
#: politeness rate limit a frontier scheduler divides each domain's
#: fetch budget by.
robots_delays = Route(crawl_delay_rows, DELAY_SCHEMA, key="domain", payload="body")


SITEMAP_SCHEMA = StructType(
    [
        StructField("domain", StringType()),
        StructField("sitemap_url", StringType()),
        StructField("sm_index", IntegerType()),
    ]
)


@per_doc()
def robots_sitemap_rows(domain, body):
    from pdf_ocr_spark.kernels.robots import parse_sitemaps

    for i, u in enumerate(parse_sitemaps(_robots_text(body))):
        yield (domain, u, i)


#: robots(domain, body) → declared Sitemap URLs (document order) —
#: the frontier-seeding discovery source alongside extracted links.
robots_sitemaps = Route(
    robots_sitemap_rows, SITEMAP_SCHEMA, key="domain", payload="body"
)


SITEMAP_URL_SCHEMA = StructType(
    [
        StructField("sitemap", StringType()),   # the sitemap document's url
        StructField("loc", StringType()),       # discovered page/sitemap url
        StructField("lastmod", StringType()),   # raw lastmod, NULL if absent
        StructField("kind", StringType()),      # 'url' | 'sitemap' (index child)
    ]
)


@per_doc()
def sitemap_url_rows(url, body):
    from pdf_ocr_spark.kernels.robots import parse_sitemap_xml

    for loc, lastmod, kind in parse_sitemap_xml(body):
        yield (url, loc, lastmod, kind)


#: sitemaps(url, body) → discovered URLs: one row per <loc>, with
#: lastmod and whether the entry is a page ('url') or a nested sitemap
#: ('sitemap', which the fetch loop enqueues recursively).  Gzipped
#: documents decompress in-kernel.
sitemap_urls = Route(sitemap_url_rows, SITEMAP_URL_SCHEMA, payload="body")


def fetch_schedule(
    frontier: DataFrame,
    delays: DataFrame,
    default_delay: float = 1.0,
    url_col: str = "url",
    priority_col: str = "priority",
) -> DataFrame:
    """Politeness scheduler: assign every frontier URL a per-domain
    fetch slot and offset → (url, domain, slot, fetch_offset), where
    ``fetch_offset = slot × crawl_delay`` seconds from the domain's
    first fetch (best-priority URLs go first; ties break on url).

    Plan at 100 TB: the delays table is host-sized → BROADCAST; the
    slot window partitions by DOMAIN, which is politeness's inherent
    unit of serialization — a hot domain's schedule is sequential by
    definition, and per-domain frontier caps upstream bound the
    partition size (there is no global sort anywhere)."""
    from pyspark.sql.window import Window

    host = F.lower(F.regexp_extract(F.col(url_col), _URL_PARTS, 1))
    d = frontier.withColumn("domain", host)
    w = Window.partitionBy("domain").orderBy(
        F.desc(priority_col), F.asc(url_col)
    )
    return (
        d.join(F.broadcast(delays), "domain", "left")
        .withColumn("slot", F.row_number().over(w) - 1)
        .select(
            url_col,
            "domain",
            F.col("slot").cast("int").alias("slot"),
            (
                F.col("slot")
                * F.coalesce("crawl_delay", F.lit(float(default_delay)))
            ).alias("fetch_offset"),
        )
    )


FEED_ITEM_SCHEMA = StructType(
    [
        StructField("feed", StringType()),    # the feed document's url
        StructField("link", StringType()),    # discovered item url
        StructField("title", StringType()),   # item title, NULL if absent
        StructField("date", StringType()),    # raw pubDate/updated, NULL
    ]
)


@per_doc()
def feed_item_rows(url, body):
    from pdf_ocr_spark.kernels.robots import parse_feed

    for link, title, date in parse_feed(body):
        yield (url, link, title, date)


#: feeds(url, body) → discovered item URLs with title/date — the
#: third frontier channel next to sitemaps and page links; feeds
#: surface NEW content fastest, so their items seed the high-priority
#: queue.  RSS and Atom both parse; gzip transparent.
feed_items = Route(feed_item_rows, FEED_ITEM_SCHEMA, payload="body")


def resolve_redirects(
    redirects: DataFrame,
    urls: DataFrame,
    max_hops: int = 3,
    url_col: str = "url",
    target_col: str = "target",
) -> DataFrame:
    """Follow redirect chains relationally: for every url in ``urls``,
    hop through the (url → target) redirect-edge table up to
    ``max_hops`` times → (url, final_url, n_hops, resolution).

    resolution: ``direct`` (no redirect), ``moved`` (chain ended at a
    non-redirecting url), ``unresolved`` (still redirecting after
    ``max_hops`` — loops land here: a cycle never stops redirecting).

    Plan at 100 TB: the loop UNROLLS to ``max_hops`` left joins against
    the redirect map — no iteration state, no driver round-trips; 3xx
    captures are a small fraction of a crawl, so each join's build side
    broadcasts (hinted below) and the fact table never shuffles.  The
    DuckDB oracle replays the identical unrolled joins."""
    edges = F.broadcast(
        redirects.select(
            F.col(url_col).alias("_src"), F.col(target_col).alias("_dst")
        ).dropDuplicates(["_src"])
    )
    out = urls.select(F.col(url_col).alias("url"))
    cur = F.col("url")
    hops = F.lit(0)
    # after the first miss cur has no outgoing edge, so later hops miss
    # too -- counting matches is exact without any "done" state
    for i in range(max_hops):
        step = f"_hop{i}"
        out = out.join(
            edges.withColumnRenamed("_src", f"{step}_src")
                 .withColumnRenamed("_dst", f"{step}_dst"),
            on=cur == F.col(f"{step}_src"),
            how="left",
        )
        nxt = F.col(f"{step}_dst")
        hops = hops + F.when(nxt.isNotNull(), 1).otherwise(0)
        cur = F.coalesce(nxt, cur)
    # still redirecting after max_hops? one more edge lookup decides
    out = out.join(
        edges.withColumnRenamed("_src", "_tail_src")
             .withColumnRenamed("_dst", "_tail_dst"),
        on=cur == F.col("_tail_src"),
        how="left",
    )
    resolution = (
        F.when(hops == 0, F.lit("direct"))
        .when(F.col("_tail_dst").isNotNull(), F.lit("unresolved"))
        .otherwise(F.lit("moved"))
    )
    return out.select(
        "url",
        cur.alias("final_url"),
        hops.cast("int").alias("n_hops"),
        resolution.alias("resolution"),
    )


def crawl_budget(
    host_stats: DataFrame,
    total_budget: int,
    host_col: str = "domain",
    score_col: str = "score",
) -> DataFrame:
    """Per-host crawl-budget allocation for the next crawl cycle — the
    frontier-shaping step above the politeness scheduler: given a
    per-host score (pages kept × quality rate, PageRank mass, whatever
    the operator ranks by), each host receives
    ``floor(total_budget × score / Σscore)`` fetch slots.

    Floor-quantized proportional shares (the same determinism protocol
    as the temperature-resampling rates in operators/sampling.py): no
    largest-remainder pass, because that needs a GLOBAL rank over all
    hosts — a scale-killer at 10^8 hosts — and under-allocating at most
    one slot per host is the right trade.  Scores quantize to integer
    millionths BEFORE summing, so the whole allocation is BIGINT
    arithmetic — exact, order-independent, and bit-identical in every
    engine (no decimal-division scale rules to reconcile).  The one-row
    total broadcasts back as a cross join; everything else is a
    map-side projection.  Zero-score hosts get budget 0 and stay in the
    output so the allocation is auditable.  ``host_stats`` is host-
    scale; when it is derived from a corpus aggregation in the same
    plan, persist it first (otherwise the per-host branch and the
    one-row total each recompute the upstream subtree — AQE's exchange
    reuse usually dedupes the shuffle, but the contract belongs to the
    caller).  When the summed quantized score is 0 (every host
    zero-score, or all scores below the 1e-6 quantum), every host gets
    budget 0 — ``nullif`` guards the BIGINT division so ANSI mode does
    not raise DIVIDE_BY_ZERO (the SQL twins mirror the same guard)."""
    sq = F.floor(F.col(score_col) * F.lit(1000000)).cast("long")
    q = host_stats.select(F.col(host_col), F.col(score_col), sq.alias("_sq"))
    tot = q.agg(F.sum("_sq").alias("_tot"))
    return (
        q.crossJoin(F.broadcast(tot))
        .select(
            host_col,
            score_col,
            F.coalesce(
                F.expr(
                    f"(CAST({int(total_budget)} AS BIGINT) * _sq)"
                    " div nullif(_tot, 0)"
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("budget"),
        )
    )


def change_rate(
    captures: DataFrame,
    url_col: str = "url",
    snap_col: str = "snapshot_id",
    fp_col: str = "fingerprint",
    prec: int = 6,
) -> DataFrame:
    """Per-URL change-frequency estimation from repeated crawl captures
    (Cho & Garcia-Molina, "Estimating frequency of change", TOIT 2003)
    — the signal that decides each page's recrawl interval, one level
    below `page_freshness` (declared metadata) and `crawl_budget`
    (per-host quotas).

    Input: one row per (url, snapshot_id, content fingerprint).  For
    each url the consecutive-snapshot pairs where the fingerprint
    differs are detected changes X out of n observation intervals; the
    bias-corrected Poisson-rate estimator is

        r̂ = −ln((n − X + 0.5) / (n + 0.5))   changes per interval,

    which stays finite when X = n (a page that changed every time we
    looked) and near-0 when X = 0.  The recrawl verdict buckets r̂:
    'hot' ≥ ln(2) (changes most intervals → fetch every cycle), 'warm'
    ≥ 0.1, else 'cold'.

    Exactness: ln of the same IEEE double is identically rounded in
    Spark and DuckDB (same libm contract the BM25 idf relies on);
    the rate rounds to ``prec``.  Scale shape: ONE window per url
    ordered by snapshot (lag fingerprint — bounded by snapshots/url,
    typically < 100) + one groupBy(url); no global sort, no driver
    state.  Urls seen once have n = 0 and emit rate NULL / 'unknown'
    — visible, not silently dropped."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("url").orderBy("snap")
    marked = captures.select(
        F.col(url_col).alias("url"),
        F.col(snap_col).alias("snap"),
        F.col(fp_col).alias("fp"),
    ).withColumn("prev_fp", F.lag("fp").over(w))
    per_url = marked.groupBy("url").agg(
        (F.count(F.lit(1)) - 1).alias("n_intervals"),
        F.sum(
            F.when(
                F.col("prev_fp").isNotNull()
                & (F.col("fp") != F.col("prev_fp")),
                1,
            ).otherwise(0)
        ).alias("n_changes"),
    )
    n = F.col("n_intervals").cast("double")
    x = F.col("n_changes").cast("double")
    rate = F.round(-F.log((n - x + 0.5) / (n + 0.5)), prec)
    return per_url.select(
        "url",
        "n_intervals",
        "n_changes",
        F.when(n > 0, rate).alias("change_rate"),
        F.when(n == 0, F.lit("unknown"))
        .when(rate >= 0.6931471805599453, F.lit("hot"))
        .when(rate >= 0.1, F.lit("warm"))
        .otherwise(F.lit("cold"))
        .alias("recrawl"),
    )
