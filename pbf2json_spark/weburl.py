"""URL normalization + crawl-dedup operators for the web-pages table.

Extension layer for the north-star workload (Common-Crawl-style pages,
BASELINE.json input_hint): before any content dedup, a crawl pipeline
canonicalizes URLs and keeps one row per canonical URL (the latest capture).
The reference has no URL layer (it keys on OSM ids); these operators fill
the same role its LevelDB id-keying plays — a canonical join/dedup key —
for the webtext payload.

Everything is pure Column regexp/string expressions (WholeStageCodegen, no
Python), and every regex is RE2/Java-compatible so the DuckDB oracle in
__spark_entry__.py recomputes the identical normalization value-for-value.

Scale shape (10^12 rows): `latest_per_url` is ONE shuffle carrying only
(norm_url, warc_ts, url) — never html/text; the struct-max aggregation is
map-side combinable, so the exchange volume is the distinct-key count, not
the row count. `host_stats` is the same shape keyed by host.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# authority = everything between "://" and the first of / ? #
_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_AUTH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)"
_REST_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)"

_DEFAULT_PORTS = {"http": "80", "https": "443"}


def url_parts(url: Column) -> dict[str, Column]:
    """Decompose a URL into (scheme, host, port, rest) Columns.

    scheme/host are lowercased (case-insensitive per RFC 3986 §3.1/§3.2.2);
    a leading "www." is dropped from host; port is '' when absent; rest is
    path+query with the fragment already excluded by _REST_RE.
    """
    scheme = F.lower(F.regexp_extract(url, _SCHEME_RE, 1))
    # authority may carry userinfo (user:pass@host) — dropped from the
    # canonical form (it is not part of the resource identity)
    hostport = F.regexp_replace(
        F.lower(F.regexp_extract(url, _AUTH_RE, 1)), r"^[^@]*@", ""
    )
    host = F.regexp_replace(
        F.regexp_replace(hostport, r":[0-9]+$", ""), r"^www\.", ""
    )
    port = F.regexp_extract(hostport, r":([0-9]+)$", 1)
    rest = F.regexp_extract(url, _REST_RE, 1)
    return {"scheme": scheme, "host": host, "port": port, "rest": rest}


def normalize_url(url: Column) -> Column:
    """Canonical form: lowercase scheme+host, strip "www.", drop the
    fragment, drop scheme-default ports (http:80 / https:443), empty path
    → "/", and a trailing "/" on a query-less non-root path is dropped.

    Unparseable URLs (no scheme://authority) pass through unchanged — the
    caller still gets a grouping key, just a degenerate one.
    """
    p = url_parts(url)
    scheme, host, port, rest = p["scheme"], p["host"], p["port"], p["rest"]
    keep_port = F.when(
        (port == "")
        | ((scheme == "http") & (port == _DEFAULT_PORTS["http"]))
        | ((scheme == "https") & (port == _DEFAULT_PORTS["https"])),
        F.lit(""),
    ).otherwise(F.concat(F.lit(":"), port))
    # RFC 3986 §6.2.3: an empty path normalizes to "/" — including when a
    # query follows directly ("http://a.com?x=1" ≡ "http://a.com/?x=1")
    path = (
        F.when(rest == "", F.lit("/"))
        .when(rest.startswith("?"), F.concat(F.lit("/"), rest))
        .otherwise(rest)
    )
    # "/a/b/" -> "/a/b" but "/" and any "?query" part stay untouched
    path = F.regexp_replace(path, r"^([^?]*[^/?])/$", "$1")
    norm = F.concat(scheme, F.lit("://"), host, keep_port, path)
    return F.when(scheme == "", url).otherwise(norm)


def host_of(url: Column) -> Column:
    """Registrable host of a URL (lowercased, www-stripped, port dropped)."""
    return url_parts(url)["host"]


def with_norm_url(df: DataFrame) -> DataFrame:
    return df.withColumn("norm_url", normalize_url(F.col("url"))).withColumn(
        "host", host_of(F.col("url"))
    )


def latest_per_url(df: DataFrame) -> DataFrame:
    """Crawl dedup: one row per canonical URL — the latest capture wins,
    ties broken by the lexicographically greatest raw URL (deterministic on
    any partitioning). Output: (norm_url, url, warc_ts).

    Shape: struct-max groupBy — map-side combinable, the exchange carries
    one (norm_url, ts, url) triple per distinct key per map task. This is
    the 10^12-row-safe form of `ROW_NUMBER() OVER (PARTITION BY ...) = 1`
    (a window sorts and materializes full partitions; the aggregate keeps
    one row per key). Struct-max is not hash-bufferable so Spark plans
    partial+final SortAggregate — same exchange volume, sort is per-task;
    max_by plans identically (verified), so there is no cheaper arg-max.
    """
    n = with_norm_url(df)
    best = n.groupBy("norm_url").agg(
        F.max(F.struct(F.col("warc_ts"), F.col("url"))).alias("b")
    )
    return best.select(
        "norm_url",
        F.col("b.url").alias("url"),
        F.col("b.warc_ts").alias("warc_ts"),
    )


def host_stats(df: DataFrame) -> DataFrame:
    """Per-host crawl stats: captures, distinct canonical URLs, last-seen.

    approx(distinct) is deliberately NOT used: the oracle compares values
    exactly, and exact distinct-in-agg is one extra shuffle of (host,
    norm_url) pairs — tiny relative to page bodies. A 100 TB caller who
    can tolerate ±2% should swap in approx_count_distinct.
    """
    n = with_norm_url(df)
    return n.groupBy("host").agg(
        F.count(F.lit(1)).alias("captures"),
        F.countDistinct("norm_url").alias("distinct_urls"),
        F.max(F.col("warc_ts")).alias("last_seen"),
    )


def scd2_history(df: DataFrame) -> DataFrame:
    """Slowly-changing-dimension (type 2) history of a crawl: collapse each
    key's capture sequence into content-version validity intervals. A run
    of consecutive captures with the same fingerprint becomes ONE row:

      (norm_url, fp, valid_from, valid_to, is_current)

    valid_from = first capture of the run; valid_to = the ts of the NEXT
    content change (NULL on the key's current version, and is_current
    marks it). This is the change-data-capture primitive a recrawl
    pipeline uses to answer "what did this URL say at time T" with a
    plain `valid_from <= T < valid_to` range predicate.

    Shape at 10^12 captures: two per-key windows (lag to detect changes,
    lead for interval ends) over the slim (key, ts, fp) projection — one
    hash exchange on the key, partitions bounded by per-URL capture
    counts (crawl frequency), never a corpus-wide sort. Deterministic:
    ordering is (ts, fp), total when captures are unique per (key, ts).
    """
    w = Window.partitionBy("norm_url").orderBy("warc_ts", "fp")
    slim = df.select("norm_url", "warc_ts", "fp")
    # lag a STRUCT, not the fp itself: a lagged bare fp is NULL both on the
    # first row and when the previous capture's fp is NULL (a failed fetch
    # recorded without content) — the struct is non-null whenever a
    # previous row exists, and eqNullSafe merges NULL-fp runs like the
    # gaps-and-islands idiom does
    changes = slim.withColumn("_prev", F.lag(F.struct(F.col("fp"))).over(w)).filter(
        F.col("_prev").isNull() | ~F.col("_prev.fp").eqNullSafe(F.col("fp"))
    )
    return (
        changes.withColumn("valid_to", F.lead("warc_ts").over(w))
        .select(
            F.col("norm_url"),
            F.col("fp"),
            F.col("warc_ts").alias("valid_from"),
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str = "norm_url",
    fp: str = "fp",
) -> DataFrame:
    """Crawl-to-crawl delta: per canonical URL, is it added (only in the
    new dump), removed (only in the old), changed (in both, content
    fingerprint differs) or unchanged. The incremental-ingest primitive —
    at 10^12 rows only `added`+`changed` flow into downstream curation,
    so the diff is what makes re-processing a new dump O(delta) instead of
    O(corpus).

    Inputs must be unique per `key` (run latest_per_url first). Shape: one
    full-outer hash equi-join on the key, carrying (key, fp) only — never
    page bodies; join the bodies back onto `added`/`changed` keys after.
    """
    o = old.select(F.col(key), F.col(fp).alias("_fp_old"))
    n = new.select(F.col(key), F.col(fp).alias("_fp_new"))
    j = o.join(n, key, "full_outer")
    status = (
        F.when(F.col("_fp_old").isNull(), F.lit("added"))
        .when(F.col("_fp_new").isNull(), F.lit("removed"))
        .when(F.col("_fp_old") != F.col("_fp_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(F.col(key), status.alias("status"))


# two-label public suffixes common enough for a stdlib-only heuristic (a
# full Public Suffix List would be a data dependency; the env forbids one —
# swap in the PSL at deploy time if exactness matters)
_TWO_LABEL_SUFFIXES = [
    "co.uk", "org.uk", "gov.uk", "ac.uk", "net.uk",
    "com.au", "net.au", "org.au", "co.jp", "ne.jp", "or.jp",
    "com.br", "com.cn", "com.tw", "co.in", "co.kr", "co.za",
    "com.mx", "com.ar", "com.tr",
]


def registered_domain(host: Column) -> Column:
    """Registered (pay-level) domain of a lowercase host: the last TWO
    labels, or the last THREE when the host ends in a known two-label
    public suffix (heuristic list above — the standard stdlib-only
    approximation of the PSL). Hosts with fewer labels pass through
    unchanged. Pure Column string ops — scan-stage, zero shuffle."""
    parts = F.split(host, r"\.")
    n = F.size(parts)
    last2 = F.concat_ws(
        ".", F.element_at(parts, -2), F.element_at(parts, -1)
    )
    last3 = F.concat_ws(
        ".", F.element_at(parts, -3), F.element_at(parts, -2), F.element_at(parts, -1)
    )
    is_two_label_suffix = last2.isin(*_TWO_LABEL_SUFFIXES)
    return (
        F.when(n <= 2, host)
        .when(is_two_label_suffix & (n >= 3), last3)
        .otherwise(last2)
    )


def domain_stats(df: DataFrame) -> DataFrame:
    """Per-registered-domain crawl profile: page count, distinct hosts,
    first/last capture — host_stats rolled one level up. One map-side-
    combinable groupBy; distinct hosts via a pre-dedup (domain, host)
    pass, never count(distinct) over raw rows."""
    base = df.select(
        registered_domain(host_of(F.col("url"))).alias("domain"),
        host_of(F.col("url")).alias("host"),
        F.col("warc_ts"),
    )
    hosts = (
        base.select("domain", "host")
        .distinct()
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n_hosts"))
    )
    pages = base.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.min("warc_ts").alias("first_ts"),
        F.max("warc_ts").alias("last_ts"),
    )
    return pages.join(hosts, "domain")


def anchor_stats(links: DataFrame) -> DataFrame:
    """Anchor-text aggregation over a link graph — per target page, how
    many links point at it, from how many distinct sources, and the most
    common anchor text (web-search's strongest off-page relevance signal;
    also the label source for link-text training pairs).

    Determinism: the top anchor is max (count, anchor) — count first,
    then the anchor string itself breaks ties, so the winner is a pure
    function of the multiset of links on any partitioning/engine.

    Shape at 10^12 edges: two groupBys, both map-side combinable —
    (dst, anchor) counts, then a struct-max fold per dst (NOT a window
    sort: a hot page with 10^8 in-links folds in the combiner instead of
    materializing a sorted partition) — plus a pre-deduped (dst, src)
    pass for the distinct-source count, never count(distinct) over raw
    edges. Anchors travel the shuffle once, as (dst, anchor, count).

    Output: dst, n_links, n_srcs, top_anchor, top_anchor_count.
    """
    by_anchor = links.groupBy(
        F.col("dst"), F.col("anchor")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    top = by_anchor.groupBy("dst").agg(
        F.sum("cnt").alias("n_links"),
        F.max(F.struct(F.col("cnt"), F.col("anchor"))).alias("_t"),
    )
    srcs = (
        links.select(F.col("dst"), F.col("src"))
        .distinct()
        .groupBy("dst")
        .agg(F.count(F.lit(1)).alias("n_srcs"))
    )
    return top.join(srcs, "dst").select(
        "dst",
        "n_links",
        "n_srcs",
        F.col("_t.anchor").alias("top_anchor"),
        F.col("_t.cnt").alias("top_anchor_count"),
    )


def crawl_schedule(
    frontier: DataFrame,
    per_host_budget: int,
    delay_ms: int,
) -> DataFrame:
    """Politeness-aware fetch scheduling over a crawl frontier: each host
    gets at most `per_host_budget` URLs this cycle, picked by priority,
    and consecutive fetches of the same host are spaced `delay_ms` apart
    (the crawl-delay contract every large crawler honors per host).

    slot = rank within host under (priority DESC, url ASC) − 1;
    fetch_offset_ms = slot · delay_ms. Both are exact integers — the
    schedule is a pure function of the frontier contents, reproducible
    across partitionings and engines (url is the total-order tie-break).

    Shape at 10^12 candidate URLs: the budget cap runs FIRST through
    ranking.top_k_per_group (one hash exchange on host), so the final
    rank window sees at most `per_host_budget` rows per host. Nothing
    downstream of the cap carries the losers.

    Output: (url, host, priority, slot, fetch_offset_ms).
    """
    from pbf2json_spark import ranking

    if delay_ms < 0:
        raise ValueError("delay_ms must be >= 0")
    capped = ranking.top_k_per_group(
        frontier.select(
            F.col("url"),
            F.col("host"),
            F.col("priority"),
        ),
        ["host"],
        [F.col("priority").desc(), F.col("url").asc()],
        per_host_budget,
    )
    return capped.select(
        "url",
        "host",
        "priority",
        (F.col("rank_in_group") - 1).cast("long").alias("slot"),
        ((F.col("rank_in_group") - 1) * F.lit(delay_ms)).cast("long").alias(
            "fetch_offset_ms"
        ),
    )


def align_translations(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Parallel-page alignment by URL structure — pair pages on the same
    host whose paths are identical except for a leading language segment
    (/en/pricing ↔ /fr/pricing). This is the standard first-pass miner
    for parallel corpora from web crawls (bitext for translation
    training): URL-structure alignment finds the overwhelming majority of
    candidate pairs at ~zero cost before any content comparison runs.

    A language segment is the FIRST path segment matching
    ``[a-z]{2}`` or ``[a-z]{2}-[a-z]{2}`` (en, fr, pt-br …); pages
    without one don't participate. The remainder path (which may be
    empty) is the alignment key together with the host.

    Determinism: several pages can share (host, rest, lang) — snapshots,
    tracking params upstream of canonicalization — so the aligner first
    collapses each (host, rest, lang) to its MIN id, making the pair set
    a pure function of the input set.

    Shape at 10^12 pages: lang/rest extraction is scan-stage regexp
    (codegen); the collapse is ONE combinable groupBy; the pair generator
    is a self-equi-join on (host, rest) with lang_a < lang_b — fan-out
    bounded by languages-per-page-family (≤ tens), never quadratic in
    pages; only (host, rest, lang, id) slim rows cross the shuffles.

    Output: (host, path_rest, lang_a, lang_b, id_a, id_b), one row per
    aligned language pair of a page family.
    """
    u = F.col(url_col)
    host = F.regexp_extract(u, r"^[a-z][a-z0-9+.-]*://([^/?#]+)", 1)
    path = F.regexp_extract(u, r"^[a-z][a-z0-9+.-]*://[^/?#]+(/[^?#]*)", 1)
    lang = F.regexp_extract(path, r"^/([a-z]{2}(-[a-z]{2})?)(/.*)?$", 1)
    rest = F.expr(f"substring({'_path'}, length(_lang) + 2)")
    base = (
        df.select(
            F.col(id_col).alias("_id"),
            host.alias("host"),
            path.alias("_path"),
            lang.alias("_lang"),
        )
        .filter(F.col("_lang") != "")
        .select(
            "host",
            rest.alias("path_rest"),
            F.col("_lang").alias("lang"),
            "_id",
        )
        .groupBy("host", "path_rest", "lang")
        .agg(F.min("_id").alias("id"))
    )
    a = base.select(
        "host", "path_rest",
        F.col("lang").alias("lang_a"), F.col("id").alias("id_a"),
    )
    b = base.select(
        "host", "path_rest",
        F.col("lang").alias("lang_b"), F.col("id").alias("id_b"),
    )
    return a.join(b, ["host", "path_rest"]).filter(
        F.col("lang_a") < F.col("lang_b")
    )


def resolve_redirects(redirects: DataFrame, max_rounds: int = 20) -> DataFrame:
    """Redirect-chain resolution: follow a FUNCTIONAL edge set (at most
    one outgoing redirect per source — HTTP 301/canonical-link maps are
    exactly this shape) to each chain's terminal target with hop counts,
    cycle-safe. The crawl-graph primitive behind canonical-URL
    consolidation: dedup/ranking should credit the terminal, not the
    hop-through URLs.

    POINTER DOUBLING (same discipline as graph.connected_components):
    every round each unresolved pointer jumps to its pointer's pointer,
    so a length-L chain resolves in ceil(log2 L) rounds, not L. A node is
    resolved when its current target has no outgoing edge (the left join
    misses). Nodes still unresolved after `max_rounds` rounds are ON or
    INTO a cycle (a functional graph has no other way to run 2^20 hops):
    emitted with terminal/hops NULL and cyclic=true — deterministic
    regardless of where around the cycle the pointer stopped.

    Shape at 10^12 edges: O(log L) self-equi-joins on ids, each shuffle
    carrying (node, nxt, hops) only; localCheckpoint per round bounds
    lineage; early-exit when a round leaves nothing unresolved.

    Output: (node, terminal, hops, cyclic) — one row per redirecting
    source; terminal is the first id reached that has no outgoing edge.
    """
    p = redirects.select(
        F.col("src").alias("node"),
        F.col("dst").alias("nxt"),
        F.lit(1).cast("long").alias("hops"),
        F.lit(False).alias("done"),
    ).localCheckpoint(eager=True)
    for _ in range(max_rounds):
        if p.filter(~F.col("done")).isEmpty():
            break
        q = p.select(
            F.col("node").alias("nxt"),
            F.col("nxt").alias("_n2"),
            F.col("hops").alias("_h2"),
            F.col("done").alias("_d2"),
        )
        p = (
            p.join(q, "nxt", "left")
            .select(
                "node",
                F.when(F.col("done"), F.col("nxt"))
                .otherwise(F.coalesce("_n2", "nxt"))
                .alias("nxt"),
                F.when(F.col("done") | F.col("_h2").isNull(), F.col("hops"))
                .otherwise(F.col("hops") + F.col("_h2"))
                .alias("hops"),
                # done when the current target is terminal (join miss) OR
                # the jump landed on an already-resolved pointer (its nxt
                # IS its terminal) — without the inheritance a node that
                # jumps onto the terminal is flagged one round late.
                (
                    F.col("done")
                    | F.col("_n2").isNull()
                    | F.coalesce("_d2", F.lit(False))
                ).alias("done"),
            )
            .localCheckpoint(eager=True)
        )
    return p.select(
        "node",
        F.when(F.col("done"), F.col("nxt")).alias("terminal"),
        F.when(F.col("done"), F.col("hops")).alias("hops"),
        (~F.col("done")).alias("cyclic"),
    )


def robots_filter(pages: DataFrame, rules: DataFrame) -> DataFrame:
    """Robots-style URL filtering — the crawl-compliance gate every web
    corpus pipeline runs before ingestion: per page, the longest
    matching path-prefix rule for its host decides allow/disallow
    (Google's robots.txt precedence: longest match wins; an allow beats
    a disallow of equal length); a page with no matching rule is
    allowed.

    `rules` columns: (host, prefix, allow:boolean). Matching =
    exact-host AND path startswith prefix.

    Shape at 10^12 pages: rule sets are configuration-scale → BROADCAST
    hash join on host (never a shuffle of pages); the winner per page is
    ONE combinable max-struct aggregation (length, allow, prefix) —
    lexicographic max implements the precedence rule with a string
    tiebreak for full determinism; no window, no sort.

    Output: (doc_id, url, matched_prefix (NULL if no rule matched),
    allowed:boolean).
    """
    u = F.col("url")
    host = F.regexp_extract(u, r"^[a-z][a-z0-9+.-]*://([^/?#]+)", 1)
    path = F.regexp_extract(u, r"^[a-z][a-z0-9+.-]*://[^/?#]+(/[^?#]*)", 1)
    base = pages.select(
        F.col("doc_id"), u.alias("url"), host.alias("host"), path.alias("_path")
    )
    j = base.join(F.broadcast(rules), "host").filter(
        F.col("_path").startswith(F.col("prefix"))
    )
    best = j.groupBy("doc_id").agg(
        F.max(
            F.struct(
                F.length("prefix").alias("_l"),
                F.col("allow").cast("int").alias("_a"),
                F.col("prefix").alias("_p"),
            )
        ).alias("_w")
    )
    return base.join(best, "doc_id", "left").select(
        "doc_id",
        "url",
        F.col("_w._p").alias("matched_prefix"),
        F.coalesce(F.col("_w._a") == 1, F.lit(True)).alias("allowed"),
    )


def url_templates(pages: DataFrame, min_pages: int = 2) -> DataFrame:
    """URL template mining — collapse numeric path segments to a `{N}`
    placeholder and aggregate: the crawl-ops view that turns a million
    `/product/12345` URLs into one `/product/{N}` row, exposing infinite
    calendar/pagination traps and template-generated spam before they
    eat the crawl budget.

    Template = scheme-stripped host + path with every MAXIMAL digit run
    replaced by `{N}`, query string dropped. Pure Column regexps —
    scan-stage, zero Python.

    Shape at 10^12 pages: one combinable groupBy on the template (the
    only exchange, carrying (template, partials)); `min_pages` drops the
    long tail of singleton templates at the aggregated frame.

    Output: (template, n_pages, n_hosts, sample_min_url) — sample = the
    lexicographic min URL (a deterministic exemplar, combinable via
    F.min, never a window).
    """
    u = F.col("url")
    host = F.regexp_extract(u, r"^[a-z][a-z0-9+.-]*://([^/?#]+)", 1)
    path = F.regexp_extract(u, r"^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    tmpl = F.concat(host, F.regexp_replace(path, r"[0-9]+", "{N}"))
    return (
        pages.select(
            tmpl.alias("template"), host.alias("_h"), u.alias("_u")
        )
        .groupBy("template")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.countDistinct("_h").alias("n_hosts"),
            F.min("_u").alias("sample_min_url"),
        )
        .filter(F.col("n_pages") >= F.lit(min_pages))
    )


def apportion_budget(df: DataFrame, budget: int) -> DataFrame:
    """Crawl-budget apportionment by the largest-remainder method
    (Hamilton's method): split an integer `budget` of fetch slots across
    hosts proportionally to `n_pages`, exactly — Σ quota == budget,
    no fractional slots, no float drift. The politeness-scheduler input
    every crawler computes after host_stats; also the integer answer to
    per-domain sampling quotas in corpus curation.

        base(h)  = budget·w_h div W        (floored share)
        bonus(h) = 1 for the (budget − Σ base) largest remainders
                   (budget·w_h mod W, ties → key ascending)

    Products run in DECIMAL(38,0) (budget·w passes 2^63 at ~10^9 slots ×
    10^10 pages) with the truncating div, matching DuckDB HUGEINT.

    Shape at 10^9 hosts: one combinable total (1 row, broadcast back),
    the floored shares in codegen, ONE metadata-scale collect of the
    bonus count (a single int — same bounded-driver-value discipline as
    the IVF train sample), and the bonus winners via orderBy().limit()
    — TakeOrderedAndProject, k rows per partition, never a global sort.

    Output: (host, n_pages, base_quota, bonus, quota).
    """
    tot = df.agg(
        F.sum("n_pages").cast("decimal(38,0)").alias("_w_tot")
    )
    shared = df.crossJoin(F.broadcast(tot)).select(
        F.col("host"),
        F.col("n_pages"),
        F.expr(
            f"CAST(CAST({budget} AS DECIMAL(38,0)) * n_pages "
            "div _w_tot AS BIGINT)"
        ).alias("base_quota"),
        F.expr(
            f"CAST(CAST({budget} AS DECIMAL(38,0)) * n_pages "
            "% _w_tot AS BIGINT)"
        ).alias("_rem"),
    )
    n_bonus = budget - (
        shared.agg(F.sum("base_quota").alias("s")).collect()[0]["s"] or 0
    )
    winners = (
        shared.orderBy(F.col("_rem").desc(), F.col("host").asc())
        .limit(int(n_bonus))
        .select(F.col("host"), F.lit(1).alias("bonus"))
    )
    return (
        shared.join(winners, "host", "left")
        .select(
            "host",
            "n_pages",
            "base_quota",
            F.coalesce("bonus", F.lit(0)).alias("bonus"),
            (F.col("base_quota") + F.coalesce("bonus", F.lit(0)))
            .alias("quota"),
        )
    )


def pagination_groups(df: DataFrame, min_pages: int = 3) -> DataFrame:
    """Numeric-pagination detection: URLs whose trailing component is a
    digit run after a separator — `/page/2`, `?p=14`, `thread-7` — group
    by the shared prefix into pagination families, with page-number
    statistics a crawler schedules on (fetch page 1..max contiguously,
    or flag gaps as deleted listings):

        ^(.*[/=_-])([0-9]+)$   →  (family prefix, page number)

    Only families with ≥ `min_pages` distinct members survive (a single
    `article-2024` match is noise, not pagination). `contiguous` = the
    observed numbers form an unbroken [min..max] run. Greedy `.*` makes
    the LAST separator+digits the page marker in both Java regex and
    RE2, so the grouping is engine-portable.

    Scale shape at 10^12 urls: one scan-stage regexp (no UDF), ONE
    map-side-combinable groupBy on the prefix; page numbers reduce to
    min/max/distinct counters, never a per-family list.

    Output: (family, n_pages, min_page, max_page, contiguous:boolean).
    """
    pat = r"^(.*[/=_-])([0-9]+)$"
    m = df.select(
        F.regexp_extract(F.col("url"), pat, 1).alias("family"),
        F.regexp_extract(F.col("url"), pat, 2).alias("_num"),
    ).filter(F.col("family") != "")
    g = (
        m.select("family", F.col("_num").cast("long").alias("_p"))
        .groupBy("family")
        .agg(
            F.countDistinct("_p").alias("n_pages"),
            F.min("_p").alias("min_page"),
            F.max("_p").alias("max_page"),
        )
        .filter(F.col("n_pages") >= min_pages)
    )
    return g.select(
        "family", "n_pages", "min_page", "max_page",
        (F.col("max_page") - F.col("min_page") + 1 == F.col("n_pages"))
        .alias("contiguous"),
    )


# URL risk heuristics — each one a pure Column predicate over the parsed
# host/path. Weights are e2 integers so the score is an exact int sum.
_RISK_RULES: list[tuple[str, int]] = [
    ("punycode", 300),        # xn-- label: homograph vector
    ("ip_host", 400),         # raw IPv4 host
    ("many_subdomains", 200), # >= 5 dot-separated host labels
    ("long_digit_run", 150),  # >= 8 consecutive digits in the host
    ("at_sign", 350),         # '@' in the URL: userinfo spoof
    ("long_url", 100),        # > 200 chars
    ("double_ext", 250),      # path like .pdf.exe
]


def url_risk_score(df: DataFrame) -> DataFrame:
    """Heuristic URL risk screen — the crawl-frontier prefilter that
    flags phishing-shaped URLs before fetch budget is spent: punycode
    (homograph) labels, raw-IP hosts, subdomain stuffing, long digit
    runs, userinfo '@' spoofs, oversize URLs, and double file
    extensions. Every signal is one JVM regexp/length predicate
    (scan-stage, zero shuffle, no UDF), the score an exact integer sum
    of e2 weights — bit-identical in DuckDB, so the oracle is the same
    CASE ladder.

    Deliberately a SCREEN, not a classifier: signals are transparent,
    auditable, and cheap at 10^12 URLs; feed the flagged slice to a
    model downstream. Output: input columns + one BOOLEAN per rule +
    risk_score_e2 (BIGINT).
    """
    u = F.col("url")
    host = host_of(u)
    flags = {
        "punycode": host.rlike(r"(^|\.)xn--"),
        "ip_host": host.rlike(r"^[0-9]{1,3}(\.[0-9]{1,3}){3}$"),
        "many_subdomains": (
            F.size(F.split(host, r"\.")) >= 5
        ),
        "long_digit_run": host.rlike(r"[0-9]{8}"),
        "at_sign": u.contains("@"),
        "long_url": F.length(u) > 200,
        "double_ext": u.rlike(
            r"\.(pdf|doc|docx|jpg|png|zip)\.(exe|scr|bat|js)([?#]|$)"
        ),
    }
    out = df
    score = F.lit(0).cast("long")
    for name, weight in _RISK_RULES:
        out = out.withColumn(name, flags[name])
        score = score + F.when(flags[name], weight).otherwise(0)
    return out.withColumn("risk_score_e2", score.cast("long"))


def rendezvous_assign(df: DataFrame, n_shards: int = 8) -> DataFrame:
    """Rendezvous (highest-random-weight) hashing: assign each key to
    argmax over shards of md5(key ':' shard) — the standard stable
    sharding scheme for crawl frontiers and feature stores. Unlike
    `hash(key) % N`, growing N to N+1 moves only ~1/(N+1) of the keys
    (every key keeps its shard unless the NEW shard wins its rendezvous),
    so a resize doesn't re-shuffle the world; unlike a ring, no virtual-
    node table needs distributing — the assignment is a pure row-local
    function, zero shuffle, scan-stage at any scale.

    Portability: scores are the first 15 md5 hex chars as int64 (60
    bits, positive) — the repo's established portable-hash idiom — and
    the argmax is an array_max over (score, shard) structs, so ties
    (2^-60 events) break to the larger shard id identically in the
    DuckDB oracle's list_max.

    Output: input columns + `shard` (winning shard, long) + `shard_score`.
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    scores = [
        F.struct(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.col("url"), F.lit(f":{i}")).cast("binary")
                    ),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("s"),
            F.lit(i).cast("long").alias("shard"),
        )
        for i in range(n_shards)
    ]
    best = F.array_max(F.array(*scores))
    return df.withColumn("shard", best.getField("shard")).withColumn(
        "shard_score", best.getField("s")
    )


def idn_decode(df: DataFrame) -> DataFrame:
    """Punycode/IDN host decoding + homograph screen: xn-- labels decode
    to their unicode form (stdlib IDNA codec — no external deps) and the
    decoded host is checked for MIXED SCRIPTS among the confusable
    alphabets (Latin/Cyrillic/Greek) — the classic homograph attack
    (аррlе.com with Cyrillic а/р/е) that url_risk's bare `xn--` flag can
    only point at, not confirm. Runs as ONE Arrow-batched pandas UDF
    (per-label python codec work is not expressible as Column ops);
    per-row cost is a few label decodes — scan-stage.

    No SQL oracle (the IDNA/nameprep tables live in the Python runtime,
    not in any SQL engine) — rows-only by design; pytest pins known
    homograph vectors and the invalid-punycode error path.

    Output: input columns + (host_unicode string, is_idn bool,
    decode_ok bool, mixed_script bool).
    """
    import unicodedata

    @F.pandas_udf(
        "struct<host_unicode:string,is_idn:boolean,decode_ok:boolean,"
        "mixed_script:boolean>"
    )
    def _decode(hosts: pd.Series) -> pd.DataFrame:
        out = {"host_unicode": [], "is_idn": [], "decode_ok": [], "mixed_script": []}
        for h in hosts:
            h = h or ""
            labels = h.split(".")
            is_idn = any(l.startswith("xn--") for l in labels)
            ok = True
            dec = []
            for l in labels:
                if l.startswith("xn--"):
                    try:
                        dec.append(l.encode("ascii").decode("idna"))
                    except Exception:
                        dec.append(l)
                        ok = False
                else:
                    dec.append(l)
            u = ".".join(dec)
            scripts = set()
            for ch in u:
                if ch.isalpha():
                    try:
                        s = unicodedata.name(ch).split()[0]
                    except ValueError:
                        continue
                    if s in ("LATIN", "CYRILLIC", "GREEK"):
                        scripts.add(s)
            out["host_unicode"].append(u)
            out["is_idn"].append(is_idn)
            out["decode_ok"].append(ok)
            out["mixed_script"].append(len(scripts) > 1)
        return pd.DataFrame(out)

    return df.withColumn("_idn", _decode(F.col("host"))).select(
        "*", "_idn.host_unicode", "_idn.is_idn", "_idn.decode_ok",
        "_idn.mixed_script",
    ).drop("_idn")


def cidr_lookup(ips: DataFrame, blocks: DataFrame) -> DataFrame:
    """IP → block range join (GeoIP-style lookup — the web-scale
    geocoding of hosts: every access-log/crawl row gets a country/ASN
    from a range table). A naive BETWEEN theta join is a cross product;
    the scalable shape is PREFIX BUCKETING: every block row is exploded
    to the /16 buckets its [start, end] range spans (real
    GeoIP blocks are narrow — almost always 1 bucket at /16), each IP
    hashes to exactly ONE bucket, and the join becomes a bucket
    EQUI-join + a residual range filter — hash-partitionable, AQE-skew
    splittable, no sort-merge-over-inequality. All integers → bit-exact
    oracle.

    Blocks are assumed non-overlapping (the GeoIP contract); overlaps
    would emit one row per covering block (caller resolves by
    specificity). Output: the ip rows + the matched block's columns
    (inner join — unmatched IPs drop; left-join at the caller if
    needed).
    """
    shift = 16  # a /16 bucket is the top 16 of 32 bits
    b = blocks.withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.shiftright(F.col("ip_start"), shift),
                F.shiftright(F.col("ip_end"), shift),
            )
        ),
    )
    i = ips.withColumn("_bkt", F.shiftright(F.col("ip_long"), shift))
    out = i.join(b, "_bkt").filter(
        (F.col("ip_long") >= F.col("ip_start")) & (F.col("ip_long") <= F.col("ip_end"))
    )
    return out.drop("_bkt")
