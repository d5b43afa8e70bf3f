"""Catalog extension: URL / domain-level web-curation queries — the
stage real web-corpus pipelines (C4, RefinedWeb, Dolma) run BEFORE any
content filtering (VERDICT r6 "next" #4): URL canonicalization,
registered-domain extraction against a public-suffix list, per-domain
document caps, and domain allow/block-list filtering.

The testdata has no URL column, so every query derives a deterministic
messy URL per document from (doc_id) arithmetic — mixed-case schemes and
hosts, www/blog subdomains, default and explicit ports, tracking
parameters, fragments — via ONE SQL expression string evaluated by BOTH
engines (Spark ``F.expr`` and the DuckDB oracle CTE), so the input side
is construction-parity by definition and the oracle verifies only the
operator logic. The operators themselves live in ``operators/urls.py``
and are expression-only (whole-stage codegen; no UDFs); the only
corpus shuffle in the family is the per-domain cap's window, keyed by
registered domain.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bag_parser_spark.operators import urls
from bag_parser_spark.plans.catalog import register
from bag_parser_spark.sources.parquet import load_table


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# One messy-URL expression, valid in BOTH Spark SQL and DuckDB (shared
# subset: CASE / % / || / CAST AS STRING). Varies scheme case, www/blog
# subdomains, site number, TLD (incl. multi-label suffixes), default
# (:443) and explicit (:8080) ports, empty and non-empty paths,
# tracking-heavy / mixed / tracking-only / absent query strings, and a
# fragment — every branch of the canonicalizer gets real volume.
URL_EXPR = (
    "CASE WHEN doc_id % 3 = 0 THEN 'https' WHEN doc_id % 3 = 1 THEN 'HTTP' "
    "ELSE 'Https' END || '://' || "
    "CASE WHEN doc_id % 5 = 0 THEN 'WWW.' WHEN doc_id % 5 = 1 THEN 'blog.' "
    "ELSE '' END || "
    "'Site' || CAST(doc_id % 37 AS STRING) || '.' || "
    "CASE WHEN doc_id % 7 = 0 THEN 'co.uk' "
    "WHEN doc_id % 7 = 1 THEN 'github.io' "
    "WHEN doc_id % 7 = 2 THEN 'org' "
    "WHEN doc_id % 7 = 3 THEN 'blogspot.com' "
    "WHEN doc_id % 7 = 4 THEN 'io' ELSE 'com' END || "
    "CASE WHEN doc_id % 4 = 0 THEN ':443' "
    "WHEN doc_id % 4 = 1 THEN ':8080' ELSE '' END || "
    "CASE WHEN doc_id % 6 = 0 THEN '' "
    "ELSE '/p/' || CAST(doc_id % 100 AS STRING) END || "
    "CASE WHEN doc_id % 8 = 0 THEN "
    "'?utm_source=feed&id=' || CAST(doc_id % 50 AS STRING) || '&gclid=xyz' "
    "WHEN doc_id % 8 = 1 THEN "
    "'?id=' || CAST(doc_id % 50 AS STRING) || '&utm_campaign=q&ref=home' "
    "WHEN doc_id % 8 = 2 THEN '?utm_medium=email' ELSE '' END || "
    "CASE WHEN doc_id % 9 = 0 THEN '#section-2' ELSE '' END"
)

_TRACK_IN = ", ".join(f"'{t}'" for t in urls.TRACKING_EXACT)

# DuckDB CTE chain mirroring operators/urls.py::canonicalize_url — the
# same regexes, the same lower/www/default-port/path/query steps.
_CANON_CTES = f"""
    urls AS (SELECT doc_id, n_chars, {URL_EXPR} AS url FROM documents),
    defrag AS (
      SELECT doc_id, n_chars, url,
             regexp_replace(url, '#.*', '') AS d
      FROM urls
    ),
    parts AS (
      SELECT doc_id, n_chars, url,
             lower(regexp_extract(d, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
               AS scheme,
             regexp_extract(d, '^[^:/?]+://([^/?]*)', 1) AS hostport,
             regexp_extract(d, '^[^:/?]+://[^/?]*([^?]*)', 1) AS path,
             regexp_extract(d, '\\?(.*)$', 1) AS query
      FROM defrag
    ),
    hostd AS (
      SELECT *, regexp_replace(lower(hostport), '^www\\.', '') AS h
      FROM parts
    ),
    hostp AS (
      SELECT doc_id, n_chars, url, scheme, path, query,
             CASE WHEN scheme = 'http' AND h LIKE '%:80'
                    THEN substr(h, 1, length(h) - 3)
                  WHEN scheme = 'https' AND h LIKE '%:443'
                    THEN substr(h, 1, length(h) - 4)
                  ELSE h END AS host
      FROM hostd
    ),
    canon AS (
      SELECT doc_id, n_chars, url, host,
             string_split(host, ':')[1] AS hostname,
             scheme || '://' || host
               || CASE WHEN path = '' THEN '/' ELSE path END
               || CASE WHEN q = '' THEN '' ELSE '?' || q END
               AS canonical_url
      FROM (
        SELECT *,
               -- coalesce: DuckDB array_to_string([]) is NULL where
               -- Spark array_join([]) is ''
               coalesce(array_to_string(list_filter(string_split(query, '&'),
                 p -> NOT (string_split(p, '=')[1] IN ({_TRACK_IN})
                           OR string_split(p, '=')[1] LIKE 'utm_%')
                      AND p <> ''), '&'), '') AS q
        FROM hostp
      )
    )
"""

# registered-domain CASE over label depths, generated from the SAME
# suffix list the Spark operator compiles in (deepest match first: a
# SQL CASE takes the first hit, the Spark when-chain lets deeper
# overwrite — both resolve to the longest suffix)
_BY_DEPTH: dict[int, list[str]] = {}
for _s in urls.PUBLIC_SUFFIXES:
    _BY_DEPTH.setdefault(_s.count(".") + 1, []).append(_s)


def _rd_case() -> str:
    branches = []
    for depth in sorted(_BY_DEPTH, reverse=True):
        sufs = ", ".join(f"'{s}'" for s in _BY_DEPTH[depth])
        branches.append(
            f"WHEN len(labels) > {depth} AND array_to_string("
            f"labels[len(labels)-{depth - 1}:len(labels)], '.') IN ({sufs}) "
            f"THEN array_to_string("
            f"labels[len(labels)-{depth}:len(labels)], '.')"
        )
    return "CASE " + " ".join(branches) + " ELSE hostname END"


_RD_CTE = f"""
    rd AS (
      SELECT doc_id, n_chars, url, host, canonical_url,
             {_rd_case()} AS registered_domain
      FROM (SELECT *, string_split(hostname, '.') AS labels FROM canon)
    )
"""


def _with_urls(spark, sf_dir):
    """documents + derived url + canonical columns + registered domain
    (the Spark half of the shared construction)."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", F.expr(URL_EXPR).alias("url")
    )
    u = F.col("url")
    scheme, hostport, _, _ = urls.split_parts(u)
    host = urls.canonical_host(hostport, F.lower(scheme))
    d = d.select(
        "doc_id",
        "n_chars",
        "url",
        host.alias("host"),
        F.split(host, ":", 2).getItem(0).alias("hostname"),
        urls.canonicalize_url(u).alias("canonical_url"),
    )
    return urls.with_registered_domain(d, "hostname", spark)


@register(
    "url_canonicalize",
    f"""
    WITH {_CANON_CTES}
    SELECT doc_id, url, host, canonical_url FROM canon
    """,
    doc="URL canonicalization (C4-style): lowercase scheme+host, strip "
    "'www.', drop the scheme's default port (:80/:443) but keep "
    "explicit ones, normalize the empty path to '/', drop the "
    "fragment, and strip tracking params (utm_*, gclid, fbclid, ...) "
    "while preserving surviving-param order. Pure string/array "
    "expressions — whole-stage codegen, pushes through the scan, zero "
    "shuffles; at 100 TB this is free map work riding the first read.",
)
def q_url_canonicalize(spark, sf_dir):
    return _with_urls(spark, sf_dir).select(
        "doc_id", "url", "host", "canonical_url"
    )


@register(
    "url_domain_stats",
    f"""
    WITH {_CANON_CTES}, {_RD_CTE}
    SELECT registered_domain,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM rd GROUP BY registered_domain
    """,
    doc="Registered-domain extraction + per-domain corpus profile. The "
    "public-suffix longest-match ('a.b.co.uk' -> 'b.co.uk', not "
    "'co.uk') compiles to per-label-depth set membership over the "
    "host's label array — map-side expressions, no join; the only "
    "shuffle is the final groupBy on registered_domain. The per-domain "
    "doc/host/char profile is what curation dashboards rank to find "
    "over-represented domains before capping.",
)
def q_url_domain_stats(spark, sf_dir):
    return (
        _with_urls(spark, sf_dir)
        .groupBy("registered_domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("host").alias("n_hosts"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


_CAP_K = 5
_CAP_SEED = "domcap"


@register(
    "url_domain_cap",
    f"""
    WITH {_CANON_CTES}, {_RD_CTE}
    SELECT doc_id, registered_domain, sample_rank FROM (
      SELECT doc_id, registered_domain,
             ROW_NUMBER() OVER (
               PARTITION BY registered_domain
               ORDER BY md5('{_CAP_SEED}:' || CAST(doc_id AS STRING)) ASC,
                        doc_id ASC) AS sample_rank
      FROM rd
    ) WHERE sample_rank <= {_CAP_K}
    """,
    doc="Per-domain document cap (<=5 docs per registered domain) — the "
    "anti-over-representation step every web pipeline applies; reuses "
    "sample_per_group's deterministic md5(seed:id) fair draw so the "
    "kept subset is engine- and rerun-stable, not arrival-order bias. "
    "One window shuffle keyed by registered_domain — and it is "
    "viral-domain-safe AS IS: Catalyst plans a map-side Partial "
    "WindowGroupLimit before the exchange (<= k rows per group per map "
    "partition ever ship), probed flat at 95% single-domain skew and "
    "pinned by plan test. sample_per_group(salted=True) remains the "
    "output-identical manual fallback for rank shapes the pushdown "
    "can't cover (SCALE.md r7).",
)
def q_url_domain_cap(spark, sf_dir):
    from bag_parser_spark.operators import sampling

    return sampling.sample_per_group(
        _with_urls(spark, sf_dir),
        keys=["registered_domain"],
        id_col="doc_id",
        k=_CAP_K,
        seed=_CAP_SEED,
    ).select("doc_id", "registered_domain", "sample_rank")


_BLOCKED = ("site0.co.uk", "site5.com", "site12.org", "badsite.net")
_ALLOWED = ("site5.com",)


@register(
    "url_blocklist_filter",
    f"""
    WITH {_CANON_CTES}, {_RD_CTE}
    SELECT doc_id, registered_domain FROM rd
    WHERE registered_domain NOT IN (
      SELECT d FROM (VALUES {", ".join(f"('{d}')" for d in _BLOCKED)}) b(d)
      WHERE d NOT IN (
        SELECT d FROM (VALUES {", ".join(f"('{d}')" for d in _ALLOWED)}) a(d)
      )
    )
    """,
    doc="Domain allow/block-list filtering: drop documents whose "
    "registered domain is blocklisted, with the allowlist overriding "
    "(an explicitly allowed domain survives even when also blocked — "
    "the standard curation precedence). Both lists are curation "
    "artifacts (thousands of rows at most) so both joins BROADCAST; "
    "the corpus never shuffles, the anti-join runs map-side.",
)
def q_url_blocklist_filter(spark, sf_dir):
    blocked = spark.createDataFrame(
        [(d,) for d in _BLOCKED], "domain string"
    )
    allowed = spark.createDataFrame(
        [(d,) for d in _ALLOWED], "domain string"
    )
    return urls.apply_domain_blocklist(
        _with_urls(spark, sf_dir),
        "registered_domain",
        blocked,
        allowed=allowed,
    ).select("doc_id", "registered_domain")


# Colliding messy-URL expression for the canonical-dedup query: the PAGE
# IDENTITY (site, tld, path, id param) depends only on doc_id % 60, while
# the MESS (scheme case, 'WWW.', ':443' on an always-https scheme,
# tracking params, fragment) varies with the full doc_id — so ~60
# canonical groups of ~n/60 docs each exist BY CONSTRUCTION and
# canonicalization is what collapses them (a non-colliding expression
# here would make the query pass trivially on zero rows).
URL_COLLIDE_EXPR = (
    "CASE WHEN doc_id % 3 = 0 THEN 'https' WHEN doc_id % 3 = 1 THEN "
    "'HTTPS' ELSE 'Https' END || '://' || "
    "CASE WHEN doc_id % 5 = 0 THEN 'WWW.' ELSE '' END || "
    "'site' || CAST(doc_id % 60 % 12 AS STRING) || '.' || "
    "CASE WHEN doc_id % 60 % 5 = 0 THEN 'co.uk' "
    "WHEN doc_id % 60 % 5 = 1 THEN 'org' "
    "WHEN doc_id % 60 % 5 = 2 THEN 'io' "
    "WHEN doc_id % 60 % 5 = 3 THEN 'net' ELSE 'com' END || "
    "CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END || "
    "'/p/' || CAST(doc_id % 60 % 20 AS STRING) || "
    "'?id=' || CAST(doc_id % 60 % 10 AS STRING) || "
    "CASE WHEN doc_id % 8 = 0 THEN '&utm_source=feed&gclid=z' "
    "WHEN doc_id % 8 = 1 THEN '&utm_campaign=q' ELSE '' END || "
    "CASE WHEN doc_id % 9 = 0 THEN '#frag' ELSE '' END"
)

_COLLIDE_CANON_CTES = _CANON_CTES.replace(
    f"{URL_EXPR} AS url", f"{URL_COLLIDE_EXPR} AS url"
)


@register(
    "url_canonical_dedup",
    f"""
    WITH {_COLLIDE_CANON_CTES}
    SELECT canonical_url,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_dups
    FROM canon GROUP BY canonical_url HAVING COUNT(*) > 1
    """,
    doc="Canonical-URL dedup (the C4 re-crawl collapse): after "
    "canonicalization, documents fetched via tracking-param / fragment "
    "/ case / default-port variants of one URL group together; keep "
    "the min-id representative per canonical URL and report group "
    "sizes. Runs BEFORE content hashing in real pipelines — it "
    "catches re-crawls whose bodies differ by timestamps, which "
    "content-exact dedup misses. One groupBy shuffle on the canonical "
    "URL (an md5 of it at 100 TB to keep shuffle rows narrow). The "
    "fixture URL expression collides by construction (identity from "
    "doc_id%60, mess from full doc_id) so the collapse is exercised "
    "on real volume, not zero rows.",
)
def q_url_canonical_dedup(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(URL_COLLIDE_EXPR).alias("url")
    )
    d = d.select(
        "doc_id", urls.canonicalize_url(F.col("url")).alias("canonical_url")
    )
    return (
        d.groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .filter(F.col("n_dups") > 1)
    )


# ---------------------------------------------------------------------------
# web_link_extract / web_link_graph — href harvesting, reference
# resolution, and host-level edge aggregation (r7 late: the crawl-
# frontier / web-graph construction step that feeds ml_pagerank_step)
# ---------------------------------------------------------------------------

# Per-page HTML synthesized from doc_id alone (dual-dialect; hrefs are
# double-quoted so the single extraction regex covers every branch):
# an absolute mixed-case external link, a protocol-relative CDN link
# (even ids), a root-relative link, a path-relative link (ids % 3),
# dropped fragment/javascript links (ids % 4), and a dropped mailto
# (ids % 5).
_LINK_HTML_EXPR = (
    "'<html><body>' || "
    "'<a href=\"HTTP://Ext' || CAST(doc_id % 7 AS STRING) || "
    "'.COM/p/1\">x</a>' || "
    "CASE WHEN doc_id % 2 = 0 THEN "
    "'<a href=\"//cdn' || CAST(doc_id % 3 AS STRING) || "
    "'.example.org/lib.js\">c</a>' ELSE '' END || "
    "'<a href=\"/about\">a</a>' || "
    "CASE WHEN doc_id % 3 = 0 THEN "
    "'<a href=\"img/logo' || CAST(doc_id % 5 AS STRING) || "
    "'.png\">i</a>' ELSE '' END || "
    "CASE WHEN doc_id % 4 = 0 THEN "
    "'<a href=\"#top\">t</a><a href=\"javascript:void(0)\">j</a>' "
    "ELSE '' END || "
    "CASE WHEN doc_id % 5 = 0 THEN "
    "'<a href=\"mailto:x@example.com\">m</a>' ELSE '' END || "
    "CASE WHEN doc_id % 6 = 0 THEN "
    "'<a href=\"page' || CAST(doc_id % 4 AS STRING) || "
    "'.html#sec\">f</a>' ELSE '' END || "
    "'</body></html>'"
)

# shared CTE tail: page base components (from the canonicalizer's
# parts/hostp chain) + extraction + ordinal + resolution — the same
# CASE the Spark resolve_link compiles to
_LINK_CTES = f"""
    base AS (
      SELECT doc_id, scheme, host,
             CASE WHEN path = '' THEN '/' ELSE path END AS npath,
             {_LINK_HTML_EXPR} AS html
      FROM hostp
    ),
    lnk AS (
      SELECT doc_id, scheme, host, npath,
             regexp_extract_all(html, 'href="([^"]*)"', 1) AS ls
      FROM base
    ),
    pos AS (
      SELECT doc_id, scheme, host, npath, i - 1 AS link_no,
             regexp_replace(ls[i], '#.*$', '') AS raw
      FROM (SELECT *, unnest(range(1, len(ls) + 1)) AS i FROM lnk)
    ),
    res AS (
      SELECT doc_id, link_no, host AS src_hostport,
             CASE
               WHEN regexp_matches(raw, '^[Hh][Tt][Tt][Pp][Ss]?://')
                 THEN raw
               WHEN starts_with(raw, '//') THEN scheme || ':' || raw
               WHEN starts_with(raw, '/')
                 THEN scheme || '://' || host || raw
               WHEN raw = ''
                    OR regexp_matches(raw, '^(javascript:|mailto:|#)')
                 THEN NULL
               ELSE scheme || '://' || host
                    || regexp_replace(npath, '[^/]*$', '') || raw
             END AS link_url
      FROM pos
    )
"""


def _link_pages(spark, sf_dir):
    """(doc_id, scheme, host, npath, html) — the Spark half of the
    shared construction (canonical base components + fixture HTML)."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(URL_EXPR).alias("url"),
        F.expr(_LINK_HTML_EXPR).alias("html"),
    )
    scheme, hostport, path, _ = urls.split_parts(F.col("url"))
    scheme_l = F.lower(scheme)
    return d.select(
        "doc_id",
        "html",
        scheme_l.alias("scheme"),
        urls.canonical_host(hostport, scheme_l).alias("host"),
        F.when(path == "", F.lit("/")).otherwise(path).alias("npath"),
    )


@register(
    "web_link_extract",
    f"""
    WITH {_CANON_CTES}, {_LINK_CTES}
    SELECT doc_id, CAST(link_no AS BIGINT) AS link_no, link_url
    FROM res WHERE link_url IS NOT NULL
    """,
    doc="Outgoing-link harvest + RFC 3986-lite resolution — the crawl "
    "frontier / web-graph construction step: regexp_extract_all pulls "
    "every href, posexplode keeps in-page order (link_no gaps where "
    "pseudo-links were dropped), and one codegen CASE absolutizes "
    "each target against the page's canonical base (absolute pass "
    "through; '//' inherits the scheme; '/' joins scheme://host; "
    "path-relative joins the base directory; fragment/javascript:/"
    "mailto:/empty resolve to NULL and drop). Map-only — the explode "
    "multiplies by the page's own link count, never corpus size; at "
    "100 TB this rides the scan like canonicalization.",
)
def q_web_link_extract(spark, sf_dir):
    return urls.extract_links(
        _link_pages(spark, sf_dir),
        id_col="doc_id",
        html_col="html",
        scheme_col="scheme",
        host_col="host",
        path_col="npath",
    ).select(
        "doc_id", F.col("link_no").cast("long").alias("link_no"), "link_url"
    )


@register(
    "web_link_graph",
    f"""
    WITH {_CANON_CTES}, {_LINK_CTES}
    SELECT string_split(src_hostport, ':')[1] AS src_host,
           string_split(
             regexp_replace(
               lower(regexp_extract(link_url, '^[^:/?]+://([^/?]*)', 1)),
               '^www\\.', ''),
             ':')[1] AS dst_host,
           CAST(COUNT(*) AS BIGINT) AS n_links
    FROM res WHERE link_url IS NOT NULL
    GROUP BY 1, 2
    """,
    doc="Host-level link graph: the harvested+resolved edge list "
    "aggregated to (src_host, dst_host, n_links) — the input shape "
    "ml_pagerank_step consumes and the domain-graph view curation "
    "dashboards rank. One groupBy shuffle on the host pair; "
    "everything upstream is the map-only extract/resolve chain, so "
    "the shuffle carries (host, host, 1) triples — never pages.",
)
def q_web_link_graph(spark, sf_dir):
    ex = urls.extract_links(
        _link_pages(spark, sf_dir),
        id_col="doc_id",
        html_col="html",
        scheme_col="scheme",
        host_col="host",
        path_col="npath",
        keep=("host",),
    )
    return (
        ex.select(
            F.split(F.col("host"), ":", 2).getItem(0).alias("src_host"),
            urls.host_only(F.col("link_url")).alias("dst_host"),
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


# ---------------------------------------------------------------------------
# web_crawl_frontier — the loop-closer: harvested links minus the seen
# set, prioritized by host in-degree (r8: extract -> frontier -> fetch
# is the cycle a crawler actually runs; this is the frontier step)
# ---------------------------------------------------------------------------

# link-URL canonicalization chain — the SAME steps _CANON_CTES applies
# to page URLs, parameterized over the resolved link target
_LCANON_CTE = f"""
    lparts AS (
      SELECT doc_id, link_url,
             lower(regexp_extract(link_url,
               '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS lscheme,
             regexp_extract(link_url, '^[^:/?]+://([^/?]*)', 1)
               AS lhostport,
             regexp_extract(link_url, '^[^:/?]+://[^/?]*([^?]*)', 1)
               AS lpath,
             regexp_extract(link_url, '\\?(.*)$', 1) AS lquery
      FROM res WHERE link_url IS NOT NULL
    ),
    lhostd AS (
      SELECT *, regexp_replace(lower(lhostport), '^www\\.', '') AS lh
      FROM lparts
    ),
    lcanon AS (
      SELECT doc_id, string_split(lh, ':')[1] AS dst_host,
             lscheme || '://' || lhostc
               || CASE WHEN lpath = '' THEN '/' ELSE lpath END
               || CASE WHEN lq = '' THEN '' ELSE '?' || lq END AS url_c
      FROM (
        SELECT *,
               CASE WHEN lscheme = 'http' AND lh LIKE '%:80'
                      THEN substr(lh, 1, length(lh) - 3)
                    WHEN lscheme = 'https' AND lh LIKE '%:443'
                      THEN substr(lh, 1, length(lh) - 4)
                    ELSE lh END AS lhostc,
               coalesce(array_to_string(list_filter(
                 string_split(lquery, '&'),
                 p -> NOT (string_split(p, '=')[1] IN ({_TRACK_IN})
                           OR string_split(p, '=')[1] LIKE 'utm_%')
                      AND p <> ''), '&'), '') AS lq
        FROM lhostd
      )
    )
"""

_FRONTIER_K = 100
_FRONTIER_WINDOW_SEC = 20.0

# Deterministic per-host crawl delay for the fixture — the shape
# delay_for_agent() produces from parsed robots.txt Crawl-delay lines
# (pytest covers the parse; this query exercises the politeness JOIN
# and budget math). Dual-dialect expression over the host string so
# both engines derive the identical table. Delays 10/2/5 s against the
# 20 s window give budgets 2/10/4 — every branch caps some host. The
# branch delays are NAMED constants so the WindowGroupLimit ceiling in
# q_web_crawl_frontier derives from the same politeness floor the
# expression uses (ADVICE r9: a hand-computed literal ceiling silently
# dropped rows if either constant moved).
_FIXTURE_DELAYS = (10.0, 2.0, 5.0)
_MIN_FIXTURE_DELAY = min(_FIXTURE_DELAYS)
_DELAY_EXPR = (
    f"CAST(CASE WHEN length(dst_host) % 3 = 0 THEN {_FIXTURE_DELAYS[0]} "
    f"WHEN length(dst_host) % 3 = 1 THEN {_FIXTURE_DELAYS[1]} "
    f"ELSE {_FIXTURE_DELAYS[2]} END AS DOUBLE)"
)


@register(
    "web_crawl_frontier",
    f"""
    WITH {_CANON_CTES}, {_LINK_CTES}, {_LCANON_CTE},
    lagg AS (
      SELECT url_c, dst_host, CAST(COUNT(*) AS BIGINT) AS n_refs,
             MIN(doc_id) AS first_doc
      FROM lcanon GROUP BY 1, 2
    ),
    indeg AS (
      SELECT dst_host, CAST(COUNT(*) AS BIGINT) AS host_in_links
      FROM lcanon GROUP BY 1
    ),
    delays AS (
      SELECT dst_host, {_DELAY_EXPR} AS crawl_delay,
             GREATEST(CAST(1 AS BIGINT),
               CAST(FLOOR({_FRONTIER_WINDOW_SEC} / {_DELAY_EXPR})
                 AS BIGINT)) AS host_budget
      FROM (SELECT DISTINCT dst_host FROM lcanon)
    ),
    unseen AS (
      SELECT l.url_c, l.dst_host, l.n_refs, l.first_doc
      FROM lagg l
      LEFT JOIN (SELECT DISTINCT canonical_url FROM canon) s
        ON l.url_c = s.canonical_url
      WHERE s.canonical_url IS NULL
    ),
    budgeted AS (
      SELECT u.*, d.crawl_delay, d.host_budget,
             ROW_NUMBER() OVER (
               PARTITION BY u.dst_host
               ORDER BY u.n_refs DESC, u.url_c ASC) AS host_rank
      FROM unseen u JOIN delays d USING (dst_host)
    )
    SELECT b.url_c AS frontier_url, b.dst_host, b.n_refs, b.first_doc,
           i.host_in_links, b.crawl_delay, b.host_budget
    FROM budgeted b JOIN indeg i USING (dst_host)
    WHERE b.host_rank <= b.host_budget
    ORDER BY i.host_in_links DESC, b.n_refs DESC, b.url_c ASC
    LIMIT {_FRONTIER_K}
    """,
    doc="Crawl-frontier construction — the loop-closer between link "
    "harvest and the next fetch round: resolved links canonicalize "
    "with the SAME steps as page URLs (so a link to a seen page "
    "collides with its seen form exactly), aggregate to one candidate "
    "row per canonical target (n_refs, first discovering doc), "
    "anti-join the seen set, BUDGET each host's candidates by its "
    "robots crawl delay (r9, VERDICT r8 #5: budget = max(1, floor("
    "window/delay)) — a 10 s-delay host yields at most 2 slots in the "
    "20 s window no matter its in-degree; the delay table is the "
    "delay_for_agent shape, derived dual-dialect in the fixture), and "
    "rank survivors by host in-degree (the authority proxy crawl "
    "schedulers use before a full PageRank) with n_refs and url as "
    "deterministic tiebreaks. Scale shape: extract/resolve/"
    "canonicalize ride the scan; the candidate aggregate and the "
    "in-degree rollup shuffle (url)/(host) keys — never pages; the "
    "seen anti-join shuffles canonical-url keys; the budget window "
    "partitions by host over CANDIDATE rows (already aggregated, "
    "bounded per host by the page-side explode) with the tiny delay "
    "table broadcast; top-k is TakeOrderedAndProject. At crawl scale "
    "the seen set is the store this query's output becomes next "
    "round — the same incremental contract as dedup_incremental.",
)
def q_web_crawl_frontier(spark, sf_dir):
    from pyspark.sql import Window

    pages = _link_pages(spark, sf_dir)
    ex = urls.extract_links(
        pages,
        id_col="doc_id",
        html_col="html",
        scheme_col="scheme",
        host_col="host",
        path_col="npath",
    )
    links = ex.select(
        "doc_id",
        urls.canonicalize_url(F.col("link_url")).alias("url_c"),
        urls.host_only(F.col("link_url")).alias("dst_host"),
    )
    indeg = links.groupBy("dst_host").agg(
        F.count(F.lit(1)).cast("long").alias("host_in_links")
    )
    delay = F.expr(_DELAY_EXPR)
    delays = links.select("dst_host").distinct().select(
        "dst_host",
        delay.alias("crawl_delay"),
        urls.politeness_budget(delay, _FRONTIER_WINDOW_SEC).alias(
            "host_budget"
        ),
    )
    seen = (
        _t(spark, sf_dir, "documents")
        .select(urls.canonicalize_url(F.expr(URL_EXPR)).alias("url_c"))
        .distinct()
    )
    cand = (
        links.groupBy("url_c", "dst_host")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_refs"),
            F.min("doc_id").alias("first_doc"),
        )
        .join(seen, "url_c", "left_anti")
    )
    w = Window.partitionBy("dst_host").orderBy(
        F.col("n_refs").desc(), F.col("url_c").asc()
    )
    # Two-predicate budget filter: the CONSTANT conjunct (the global
    # budget ceiling, DERIVED driver-side from the politeness floor —
    # floor(window / min delay), urls.budget_ceiling; here floor(20/2)
    # = 10) triggers Catalyst's WindowGroupLimit pushdown, so a
    # mega-host's candidates are pruned to <= ceiling rows PER MAP
    # PARTITION before the window shuffle ever ships them; the per-row
    # conjunct then applies each host's actual budget. rk <=
    # host_budget implies rk <= ceiling (floor is monotone in the
    # delay), so the extra predicate never changes the result
    # (plan-tested, and route-identity-tested at a second delay
    # distribution in tests/test_urls.py).
    max_budget = urls.budget_ceiling(_FRONTIER_WINDOW_SEC, _MIN_FIXTURE_DELAY)
    budgeted = (
        cand.join(F.broadcast(delays), "dst_host")
        .withColumn("__hrk__", F.row_number().over(w))
        .filter(
            (F.col("__hrk__") <= F.lit(max_budget))
            & (F.col("__hrk__") <= F.col("host_budget"))
        )
    )
    return (
        budgeted.join(indeg, "dst_host")
        .select(
            F.col("url_c").alias("frontier_url"),
            "dst_host",
            "n_refs",
            "first_doc",
            "host_in_links",
            "crawl_delay",
            "host_budget",
        )
        .orderBy(
            F.col("host_in_links").desc(),
            F.col("n_refs").desc(),
            F.col("frontier_url").asc(),
        )
        .limit(_FRONTIER_K)
    )


# ---------------------------------------------------------------------------
# web_robots_filter — RFC 9309 longest-match rule evaluation (r7 late:
# the crawl-politeness gate between link harvest and fetch)
# ---------------------------------------------------------------------------

# Literal per-agent rule set over hostnames the URL fixture actually
# produces (site numbers x suffixes from URL_EXPR; every branch below
# fires on at least one sf0.01 doc — hosts carry docs at
# doc_id ≡ A (mod 37) ∧ suffix(doc_id mod 7), i.e. ~2 docs each).
# Branch coverage, evaluated for agent 'CorpusBot':
# - site1.github.io: '*' blankets disallow '/', but an explicit
#   corpusbot group allows '/' — the SPECIFIC group SHADOWS '*'
#   (RFC 9309 §2.2.1), so docs 1/260 are allowed.
# - site8.blogspot.com: '*' disallow '/' with NO corpusbot group —
#   the star fallback fires (docs 45/304 blocked).
# - site3.io: '/p/' disallow overridden by the LONGER '/p/1' allow
#   (doc 410 /p/10 allowed, doc 151 /p/51 blocked).
# - site10.blogspot.com: equal-length allow/disallow tie on '/p/1' —
#   allow wins (doc 10 /p/10).
# - site5.com: plain literal prefix '/p/5' (docs 5 /p/5, 153 /p/53).
# - site13.com: WILDCARD '/p/*3' — §2.2.3 metacharacter path; same
#   host carries both matching (/p/13, /p/83) and non-matching
#   (/p/24, /p/72) pages.
# - site34.com: corpusbot-specific ANCHORED '/p/4$' — blocks exactly
#   /p/4 while the same host's /p/45 stays allowed (a bare prefix
#   rule would block both: the anchor changes the outcome).
# - site6.co.uk: googlebot-only group — ignored entirely for
#   corpusbot (docs 154/413 allowed).
_ROBOTS_RULES = (
    ("site1.github.io", "*", "disallow", "/"),
    ("site1.github.io", "corpusbot", "allow", "/"),
    ("site8.blogspot.com", "*", "disallow", "/"),
    ("site3.io", "*", "disallow", "/p/"),
    ("site3.io", "*", "allow", "/p/1"),
    ("site10.blogspot.com", "*", "allow", "/p/1"),
    ("site10.blogspot.com", "*", "disallow", "/p/1"),
    ("site5.com", "*", "disallow", "/p/5"),
    ("site13.com", "*", "disallow", "/p/*3"),
    ("site34.com", "corpusbot", "disallow", "/p/4$"),
    ("site6.co.uk", "googlebot", "disallow", "/"),
)

_ROBOTS_AGENT = "CorpusBot"


def _rule_pattern_py(p: str) -> str:
    """Python twin of urls.robots_rule_pattern, used ONLY to inline the
    precompiled regex for each STATIC fixture rule into the oracle's
    VALUES list (the Spark side compiles patterns with the product
    expression under test; the oracle gets an independently-derived
    literal)."""
    import re as _re

    esc = _re.sub(r"([.\\+?\[\](){}^|$])", r"\\\1", p)
    wild = esc.replace("*", ".*")
    if wild.endswith(r"\$"):
        wild = wild[:-2] + "$"
    return "^" + wild


_ROBOTS_VALUES = ", ".join(
    f"('{d}', '{a}', '{t}', '{p}', '{_rule_pattern_py(p)}', "
    f"{str('*' in p or '$' in p).upper()})"
    for d, a, t, p in _ROBOTS_RULES
)


@register(
    "web_robots_filter",
    f"""
    WITH {_CANON_CTES},
    rules(domain, agent, rule_type, path_prefix, pattern, has_meta) AS (
      VALUES {_ROBOTS_VALUES}
    ),
    spec_dom AS (
      SELECT DISTINCT domain FROM rules
      WHERE agent = lower('{_ROBOTS_AGENT}')
    ),
    eff AS (
      SELECT domain, rule_type, path_prefix, pattern, has_meta
      FROM rules WHERE agent = lower('{_ROBOTS_AGENT}')
      UNION ALL
      SELECT domain, rule_type, path_prefix, pattern, has_meta
      FROM rules
      WHERE agent = '*'
        AND domain NOT IN (SELECT domain FROM spec_dom)
    ),
    pages AS (
      SELECT c.doc_id, c.hostname,
             CASE WHEN p.path = '' THEN '/' ELSE p.path END AS npath
      FROM canon c JOIN parts p USING (doc_id)
    ),
    matched AS (
      SELECT p.doc_id, p.hostname, p.npath, r.rule_type, r.path_prefix,
             ROW_NUMBER() OVER (
               PARTITION BY p.doc_id
               ORDER BY length(r.path_prefix) DESC, r.rule_type ASC
             ) AS rnk
      FROM pages p
      LEFT JOIN eff r
        ON p.hostname = r.domain
       AND r.path_prefix <> ''
       AND CASE WHEN r.has_meta THEN regexp_matches(p.npath, r.pattern)
                ELSE starts_with(p.npath, r.path_prefix) END
    )
    SELECT doc_id, hostname, npath,
           (rule_type IS NULL OR rule_type = 'allow') AS allowed,
           rule_type AS matched_rule, path_prefix AS matched_prefix
    FROM matched WHERE rnk = 1
    """,
    doc="robots.txt rule evaluation with full RFC 9309 semantics (r8: "
    "agent-group selection + '*'/'$' metacharacters — VERDICT r7 #5, "
    "ADVICE r7): rules_for_agent picks the crawler's own group per "
    "domain ('*' only where no specific group exists — the shadow is "
    "exercised on site1.github.io), then among the selected rules "
    "that match the page path — wildcard rules via the compiled "
    "anchored regex, literal rules via the startswith fast path — the "
    "longest raw rule decides, ties go to allow, and no match means "
    "allowed. The per-domain rule-array table is SIZE-GUARDED (r9, "
    "VERDICT r8 #1): counted once, broadcast below the 1M-domain "
    "limit (the corpus never shuffles — this fixture's route), plain "
    "shuffle equi-join on domain above it (bounded memory at "
    "CommonCrawl-scale politeness tables; both routes byte-identical "
    "by unit test). The per-row evaluation is higher-order array "
    "expressions riding the scan — no window, no doc key. "
    "parse_robots (the text -> rules half, RFC group islands + "
    "crawl-delay/sitemap extraction) is unit-tested on handcrafted "
    "robots.txt content; the oracle inlines independently-derived "
    "regex literals for the static rule fixtures.",
)
def q_web_robots_filter(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(URL_EXPR).alias("url")
    )
    u = F.col("url")
    scheme, hostport, path, _ = urls.split_parts(u)
    pages = d.select(
        "doc_id",
        F.split(
            urls.canonical_host(hostport, F.lower(scheme)), ":", 2
        ).getItem(0).alias("hostname"),
        F.when(path == "", F.lit("/")).otherwise(path).alias("npath"),
    )
    rules = spark.createDataFrame(
        [(d_, a_, t_, p_) for d_, a_, t_, p_ in _ROBOTS_RULES],
        "domain string, agent string, rule_type string, path_prefix string",
    )
    return urls.apply_robots(
        pages,
        urls.rules_for_agent(rules, _ROBOTS_AGENT),
        host_col="hostname",
        path_col="npath",
    )


# ---------------------------------------------------------------------------
# ml_pagerank_converged — PageRank iterated to a fixed horizon on the
# host link graph (r8, VERDICT r7 "missing" #2: ml_pagerank_step is one
# power iteration; domain-authority curation joins on the CONVERGED rank)
# ---------------------------------------------------------------------------

_PR_SCALE = 1_000_000  # ranks in micro-units: integer-exact everywhere
_PR_ITERS = 6


def _pr_edge_sql() -> str:
    """DuckDB edge/base CTEs shared with web_link_graph's shapes."""
    dst = (
        "string_split(regexp_replace(lower(regexp_extract(link_url, "
        "'^[^:/?]+://([^/?]*)', 1)), '^www\\.', ''), ':')[1]"
    )
    return f"""
    edges AS (
      SELECT string_split(src_hostport, ':')[1] AS src,
             {dst} AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM res WHERE link_url IS NOT NULL
      GROUP BY 1, 2
    ),
    nodes AS (
      SELECT DISTINCT src AS node FROM edges
      UNION
      SELECT DISTINCT dst FROM edges
    ),
    outd AS (SELECT src, SUM(w) AS od FROM edges GROUP BY src),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    iter0 AS (
      SELECT node, CAST({_PR_SCALE} AS BIGINT) AS r FROM nodes
    )"""


def _pr_iter_sql(k: int) -> str:
    """One unrolled integer-exact PageRank iteration (damping 85%,
    dangling mass redistributed uniformly with integer division)."""
    p = k - 1
    return f""",
    dang{k} AS (
      SELECT COALESCE(SUM(p.r), 0) AS dm
      FROM iter{p} p LEFT JOIN outd o ON p.node = o.src
      WHERE o.src IS NULL
    ),
    ctr{k} AS (
      SELECT e.dst AS node, SUM((p.r * e.w) // o.od) AS s
      FROM edges e
      JOIN iter{p} p ON e.src = p.node
      JOIN outd o ON e.src = o.src
      GROUP BY e.dst
    ),
    iter{k} AS (
      SELECT n.node,
             CAST((15 * {_PR_SCALE}) // 100
               + (85 * (COALESCE(c.s, 0) + d.dm // t.n)) // 100
               AS BIGINT) AS r
      FROM nodes n
      LEFT JOIN ctr{k} c ON n.node = c.node, dang{k} d, nn t
    )"""


_PR_SQL = (
    f"WITH {_CANON_CTES}, {_LINK_CTES}, {_pr_edge_sql()}"
    + "".join(_pr_iter_sql(k) for k in range(1, _PR_ITERS + 1))
    + f"""
    SELECT a.node AS host,
           a.r AS rank_micro,
           CAST(abs(a.r - b.r) AS BIGINT) AS delta_micro
    FROM iter{_PR_ITERS} a JOIN iter{_PR_ITERS - 1} b ON a.node = b.node
    """
)


@register(
    "ml_pagerank_converged",
    _PR_SQL,
    doc=f"PageRank iterated {_PR_ITERS} times over the host link graph "
    "(web_link_graph's edge shape) with damping 0.85, uniform start, "
    "and DANGLING-node mass redistributed uniformly each iteration — "
    "the converged domain-authority signal curation actually joins "
    "on, plus a per-node convergence metric (delta_micro = |r_k - "
    "r_k-1|). INTEGER-exact like ml_pagerank_step: ranks in micro-"
    "units, per-edge contribution (rank*w) div out-weight, damped "
    "update through integer div — bit-reproducible on any engine or "
    "partitioning. Scale shape: per-iteration state is the (node, "
    "rank, dangling-flag) table CHECKPOINTED so iteration k reads "
    "k-1 instead of replaying the chain (O(k) total work); each "
    "iteration costs one src-keyed contribution join against the "
    "static pre-joined (src, dst, w, od) edge table, one dst groupBy, "
    "and one 1-row dangling-mass broadcast (a filter+agg on the "
    "carried flag — no join; the node count is a one-time literal) — "
    "cost is LINEAR in iterations and edge count; the oracle unrolls "
    "the same iterations as CTEs.",
)
def q_ml_pagerank_converged(spark, sf_dir, checkpoint_dir=None):
    from bag_parser_spark.operators.lineage import cut_lineage

    ex = urls.extract_links(
        _link_pages(spark, sf_dir),
        id_col="doc_id",
        html_col="html",
        scheme_col="scheme",
        host_col="host",
        path_col="npath",
        keep=("host",),
    )
    edges = (
        ex.select(
            F.split(F.col("host"), ":", 2).getItem(0).alias("src"),
            urls.host_only(F.col("link_url")).alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
        .persist()
    )
    # r11 optimization (guide §1.2 step 1 — fewer passes per iteration;
    # profile: 74 jobs / 145 stages for 6 iterations, nearly all fixed
    # scheduling cost of per-iteration subtrees):
    #  - the node count is one bounded 1-row action whose literal rides
    #    the update expression, instead of a crossJoin(broadcast(agg))
    #    materialized again every iteration;
    #  - rank_k carries rank_{k-1} through the checkpoint as __rp__, so
    #    the convergence delta needs NO final rank-vs-prev join (the
    #    two-ExistingRDD sort-merge join with both sides exchanged).
    # r12 (same guide section, second pass — 69 jobs were still ~11 per
    # iteration of pure scheduling):
    #  - edges ⋈ outd is STATIC, so it is pre-joined ONCE into the
    #    persisted (src, dst, w, od) table instead of re-joining outd
    #    inside every iteration (one broadcast build per iteration
    #    gone);
    #  - the DANGLING membership is static too, but r11 still paid a
    #    per-iteration semi-join against a cached dang set; now it is
    #    ONE boolean column (__d__) attached to rank_0 and carried
    #    through every checkpoint, so the per-iteration dangling mass
    #    is a plain filter+agg over the checkpointed rank — no join,
    #    no second cached table;
    #  - the LAST iteration is returned uncut: the caller's action
    #    materializes it directly instead of paying a final checkpoint
    #    job only to re-read it;
    #  - nodes/outd/dang persists dropped (outd lives inside the ew
    #    pre-join; dang became __d__; nodes is consumed once building
    #    rank_0, and nn counts the checkpointed rank_0 instead).
    outd = edges.groupBy("src").agg(F.sum("w").alias("od"))
    ew = edges.join(outd, "src").persist()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    out_keys = edges.select(F.col("src").alias("node")).distinct()
    # Lineage is TRUNCATED per iteration (eager cut), not just
    # persisted: rank_k is referenced 3x by rank_k+1 (contribution
    # join, dangling mass, delta), so persist alone leaves a logical
    # plan that grows ~3^k — the plan tree itself OOMs the driver long
    # before any data does. Checkpointing is the standard lineage cut
    # for iterative algorithms (GraphX/ALS do the same); pass
    # checkpoint_dir for the RELIABLE cluster posture (executor loss
    # after a localCheckpoint cut is unrecoverable — lineage.py).
    rank = cut_lineage(
        nodes.join(out_keys.withColumn("__o__", F.lit(1)), "node", "left")
        .select(
            "node",
            F.lit(_PR_SCALE).cast("long").alias("r"),
            F.col("__o__").isNull().alias("__d__"),
        ),
        checkpoint_dir,
    )
    nn = rank.count()
    for it in range(_PR_ITERS):
        contrib = (
            ew.join(rank.select(F.col("node").alias("src"), "r"), "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("(r * w) div od").alias("__c__"),
            )
            .groupBy("node")
            .agg(F.sum("__c__").alias("__s__"))
        )
        dangling = rank.filter(F.col("__d__")).agg(
            F.coalesce(F.sum("r"), F.lit(0)).alias("__dm__")
        )
        new_rank = (
            rank.select("node", "r", "__d__")
            .join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                F.expr(
                    f"(15 * {_PR_SCALE}) div 100"
                    f" + (85 * (coalesce(__s__, 0) + __dm__ div {nn}))"
                    " div 100"
                )
                .cast("long")
                .alias("r"),
                F.col("r").alias("__rp__"),
                "__d__",
            )
        )
        # (r11 probe: cutting only every second iteration — persist on
        # the mid rank — was tried and measured SLOWER: the persisted
        # mid-rank's cache build plus the extra broadcast query stages
        # cost more jobs than the skipped checkpoint saved. Cut every
        # iteration, except the last — see above.)
        if it < _PR_ITERS - 1:
            rank = cut_lineage(new_rank, checkpoint_dir)
        else:
            rank = new_rank
    return rank.select(
        F.col("node").alias("host"),
        F.col("r").alias("rank_micro"),
        F.abs(F.col("r") - F.col("__rp__")).cast("long").alias("delta_micro"),
    )


# ---------------------------------------------------------------------------
# warc_records / wet_records — value-level oracle for the record parser
# (r9, VERDICT r8 #4): deterministic synthetic WARC/WET where every
# header, length, OFFSET and payload is closed-form in doc_id, so the
# DuckDB oracle predicts the REAL parser's full output — the codec-
# oracle pattern applied to the source layer's last rows-only gap.
# ---------------------------------------------------------------------------

from bag_parser_spark.sources import warc as _warc

_SYNTH_FILES = 8

# shared per-doc construction (ASCII only: char length == octet length)
_SYNTH_CTES = f"""
    sdocs AS (
      SELECT doc_id, doc_id % {_SYNTH_FILES} AS f,
             'https://w' || CAST(doc_id % 7 AS STRING) || '.test/p/'
               || CAST(doc_id AS STRING) AS uri,
             'Doc ' || CAST(doc_id AS STRING) || ' '
               || repeat('ab', CAST(1 + doc_id % 40 AS INTEGER)) AS body
      FROM documents
    )
"""


def _synth_offsets_sql(hdr_base: int, clen_expr: str) -> str:
    """Record length = fixed header base + len(uri) + Content-Length
    digit count + payload + the two CRLFCRLF frames (8); offsets are
    the running sum in doc_id order inside each file — exactly the
    parser's cursor arithmetic, derived independently."""
    return f"""
    slens AS (SELECT *, {clen_expr} AS clen FROM sdocs),
    srecs AS (
      SELECT *, {hdr_base} + length(uri)
             + length(CAST(clen AS STRING)) + clen + 8 AS rec_len
      FROM slens
    ),
    soff AS (
      SELECT *,
             COALESCE(SUM(rec_len) OVER (
               PARTITION BY f ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS record_offset
      FROM srecs
    )
    """


@register(
    "warc_records",
    f"""
    WITH {_SYNTH_CTES},
    {_synth_offsets_sql(
        _warc.SYNTH_WARC_HDR_BASE,
        f"{_warc.SYNTH_HTTP_HEAD_LEN} + 4 + length(body)",
    )}
    SELECT 'synthetic/' || lpad(CAST(f AS STRING), 2, '0') || '.warc'
             AS warc_file,
           CAST(record_offset AS BIGINT) AS record_offset,
           '<urn:uuid:' || lpad(CAST(doc_id AS STRING), 8, '0')
             || '-0000-0000-0000-000000000000>' AS record_id,
           'response' AS warc_type,
           uri AS target_uri,
           CAST(clen AS BIGINT) AS content_length,
           CAST(200 AS INTEGER) AS http_status,
           'text/html' AS http_content_type,
           body AS body_text
    FROM soff
    """,
    doc="Value-level correctness gate for the WARC source (the codec-"
    "oracle pattern, VERDICT r8 #4): synthetic response records whose "
    "headers, HTTP message, Content-Length and byte OFFSETS are all "
    "closed-form in doc_id are built executor-side (applyInPandas, one "
    "file per doc_id%8 bucket, records in id order), then parsed back "
    "by the REAL record parser (parse_warc_frame: header scan, "
    "Content-Length slicing, cursor arithmetic, HTTP split) — and the "
    "oracle predicts every output column independently, including "
    "record_offset as a running sum of the derived record lengths. "
    "Scale shape: generation+parse are map work per file; the only "
    "shuffle is the id-sized file-bucket groupBy.",
)
def q_warc_records(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    files = _warc.generate_synthetic_warc(docs, n_files=_SYNTH_FILES)
    recs = _warc.parse_warc_frame(
        files, record_types=("response",), parse_http=True
    )
    return recs.select(
        "warc_file",
        "record_offset",
        "record_id",
        "warc_type",
        "target_uri",
        "content_length",
        "http_status",
        "http_content_type",
        F.decode(F.col("payload"), "UTF-8").alias("body_text"),
    )


@register(
    "wet_records",
    f"""
    WITH {_SYNTH_CTES},
    {_synth_offsets_sql(_warc.SYNTH_WET_HDR_BASE, "length(body)")}
    SELECT 'synthetic/' || lpad(CAST(f AS STRING), 2, '0') || '.wet'
             AS warc_file,
           CAST(record_offset AS BIGINT) AS record_offset,
           'conversion' AS warc_type,
           uri AS target_uri,
           'text/plain' AS content_type,
           CAST(clen AS BIGINT) AS content_length,
           body AS body_text
    FROM soff
    """,
    doc="WET twin of warc_records: synthetic conversion records (plain-"
    "text payload, no HTTP envelope) parsed by the same record parser "
    "with the conversion filter and no HTTP splitting — offsets, "
    "lengths and payloads all oracle-predicted from the doc_id formula.",
)
def q_wet_records(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    files = _warc.generate_synthetic_warc(
        docs, n_files=_SYNTH_FILES, fmt="wet"
    )
    recs = _warc.parse_warc_frame(
        files, record_types=("conversion",), parse_http=False
    )
    return recs.select(
        "warc_file",
        "record_offset",
        "warc_type",
        "target_uri",
        "content_type",
        "content_length",
        F.decode(F.col("payload"), "UTF-8").alias("body_text"),
    )


@register(
    "wat_links",
    """
    WITH wdocs AS (
      SELECT doc_id AS d,
             'https://w' || CAST(doc_id % 7 AS STRING) || '.test' AS origin,
             'https://w' || CAST(doc_id % 7 AS STRING) || '.test/p/'
               || CAST(doc_id AS STRING) AS url,
             'Title ' || CAST(doc_id AS STRING) AS title
      FROM documents WHERE doc_id % 11 <> 5
    )
    SELECT url, title, link_no, link_path, link_href, link_url FROM (
      SELECT url, title, CAST(0 AS INTEGER) AS link_no,
             'A@/href' AS link_path,
             'https://ext' || CAST(d % 5 AS STRING) || '.test/x/'
               || CAST(d AS STRING) AS link_href,
             'https://ext' || CAST(d % 5 AS STRING) || '.test/x/'
               || CAST(d AS STRING) AS link_url
      FROM wdocs
      UNION ALL
      SELECT url, title, CAST(1 AS INTEGER), 'A@/href',
             '/about/' || CAST(d AS STRING),
             origin || '/about/' || CAST(d AS STRING)
      FROM wdocs
      UNION ALL
      SELECT url, title, CAST(2 AS INTEGER), 'A@/href',
             'rel' || CAST(d AS STRING) || '.html',
             origin || '/p/rel' || CAST(d AS STRING) || '.html'
      FROM wdocs
      UNION ALL
      SELECT url, title, CAST(4 AS INTEGER), 'L@/href',
             '//cdn' || CAST(d % 3 AS STRING) || '.test/lib.css',
             'https://cdn' || CAST(d % 3 AS STRING) || '.test/lib.css'
      FROM wdocs
    )
    """,
    doc="Value-level correctness gate for the WAT link sidecar (r10, "
    "VERDICT r9 #4 — the last CommonCrawl sidecar without one): "
    "synthetic 'metadata' records whose JSON envelopes carry a closed-"
    "form five-slot link set per doc (absolute / root-relative / path-"
    "relative / fragment / protocol-relative — every resolve_link "
    "branch) are built executor-side and parsed back by the REAL "
    "read_wat machinery (record parse, pruned-schema from_json, "
    "posexplode, resolve CASE); the oracle predicts every resolved "
    "edge independently, including the DROPPED fragment slot (link_no "
    "3 is a hole, not a renumber) and the doc_id%11==5 pages whose "
    "envelope has no HTML-Metadata (a robots.txt fetch — zero rows). "
    "Scale shape: generation+parse+resolve are map work per file; the "
    "only shuffle is the id-sized file-bucket groupBy.",
)
def q_wat_links(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    files = _warc.generate_synthetic_warc(
        docs, n_files=_SYNTH_FILES, fmt="wat"
    )
    recs = _warc.parse_warc_frame(
        files, record_types=("metadata",), parse_http=False
    )
    return _warc.wat_links_frame(recs)


# ---------------------------------------------------------------------------
# web_robots_parse / web_crawl_delay / web_sitemaps — value-level oracle
# for the robots.txt PARSE half (r9): the rule-evaluation half has been
# driver-gated since r7 (web_robots_filter), but the text -> rules
# grouping (RFC 9309 ua-islands) was pytest-only. The fixture builds one
# deterministic robots.txt per synthetic domain via a dual-dialect
# string expression; the oracle re-derives the island semantics
# independently in SQL (lag/sum windows over the line stream).
# ---------------------------------------------------------------------------

# Per-domain robots.txt text, branch coverage by domain id d:
# a pre-group rule (ignored), a comment, a Sitemap record, a mixed-case
# agent, a two-agent island (d%2=0), a '*' group with a trailing-comment
# rule, a numeric Crawl-delay in the '*' group (d%4=0), a malformed
# Crawl-delay (d%4=2, dropped), a post-delay group (d%3=0 — the ua line
# AFTER a delay rule must OPEN a group per the ABNF), and a trailing
# EMPTY group (d%5=0 — must still emit the sentinel row).
_ROBOTS_TXT_EXPR = (
    "'Disallow: /pre' || chr(10) || "
    "'# policy comment' || chr(10) || "
    "'Sitemap: https://d' || CAST(d AS STRING) || '.test/map.xml' || chr(10) || "
    "'User-agent: GoogleBot' || chr(10) || "
    "CASE WHEN d % 2 = 0 THEN 'User-agent: corpusbot' || chr(10) "
    "ELSE '' END || "
    "'Disallow: /private/' || CAST(d AS STRING) || chr(10) || "
    "chr(10) || "
    "'User-agent: *' || chr(10) || "
    "'Allow: /p/' || CAST(d % 3 AS STRING) || chr(10) || "
    "'Disallow: /p/   # tail comment' || chr(10) || "
    "CASE WHEN d % 4 = 0 THEN "
    "'Crawl-delay: ' || CAST(1 + d % 5 AS STRING) || chr(10) ELSE '' END || "
    "CASE WHEN d % 4 = 2 THEN 'Crawl-delay: bogus' || chr(10) "
    "ELSE '' END || "
    "CASE WHEN d % 3 = 0 THEN "
    "'User-agent: slowbot' || chr(10) || 'Disallow: /slow' || chr(10) "
    "ELSE '' END || "
    "CASE WHEN d % 5 = 0 THEN 'User-agent: emptybot' || chr(10) "
    "ELSE '' END"
)

# shared oracle CTEs: domains -> text -> lines -> cleaned key/val ->
# RFC group numbering (a ua-line opens a group iff the previous
# RELEVANT line was not a ua-line)
_ROBOTS_PARSE_CTES = f"""
    doms AS (SELECT DISTINCT doc_id % 12 AS d FROM documents),
    rsrc AS (
      SELECT 'd' || CAST(d AS STRING) || '.test' AS domain,
             {_ROBOTS_TXT_EXPR} AS content
      FROM doms
    ),
    rlines AS (
      SELECT domain, i AS pos,
             trim(regexp_replace(ls[i], '#.*', '')) AS clean
      FROM (
        SELECT domain, ls, unnest(range(1, len(ls) + 1)) AS i
        FROM (SELECT domain, string_split(content, chr(10)) AS ls
              FROM rsrc)
      )
    ),
    rkv AS (
      SELECT domain, pos,
             lower(trim(string_split(clean, ':')[1])) AS k,
             trim(regexp_extract(clean, '^[^:]*:(.*)$', 1)) AS v
      FROM rlines
    ),
    rrel AS (
      SELECT * FROM rkv
      WHERE k IN ('user-agent', 'allow', 'disallow', 'crawl-delay')
    ),
    rgrp AS (
      SELECT domain, pos, k, v,
             SUM(CASE WHEN opens THEN 1 ELSE 0 END) OVER (
               PARTITION BY domain ORDER BY pos) AS g
      FROM (
        SELECT *,
               is_ua AND NOT coalesce(
                 lag(is_ua) OVER (PARTITION BY domain ORDER BY pos),
                 FALSE) AS opens
        FROM (SELECT *, k = 'user-agent' AS is_ua FROM rrel)
      )
    ),
    rgrouped AS (SELECT * FROM rgrp WHERE g > 0),
    ragents AS (
      SELECT DISTINCT domain, g, lower(v) AS agent
      FROM rgrouped WHERE k = 'user-agent'
    )
"""


def _robots_src(spark, sf_dir):
    doms = (
        _t(spark, sf_dir, "documents")
        .select((F.col("doc_id") % 12).alias("d"))
        .distinct()
    )
    return doms.select(
        F.concat(
            F.lit("d"), F.col("d").cast("string"), F.lit(".test")
        ).alias("domain"),
        F.expr(_ROBOTS_TXT_EXPR).alias("robots_txt"),
    )


@register(
    "web_robots_parse",
    f"""
    WITH {_ROBOTS_PARSE_CTES},
    rrules AS (
      SELECT domain, g, k AS rule_type, v AS path_prefix
      FROM rgrouped WHERE k IN ('allow', 'disallow')
    )
    SELECT a.domain, a.agent,
           coalesce(r.rule_type, 'disallow') AS rule_type,
           coalesce(r.path_prefix, '') AS path_prefix
    FROM ragents a LEFT JOIN rrules r USING (domain, g)
    """,
    doc="Value-level gate for the robots.txt PARSE half (the text -> "
    "rules grouping web_robots_filter consumes): deterministic robots "
    "text per synthetic domain — comments, a pre-group rule, "
    "multi-agent islands, a Crawl-delay rule that TERMINATES its "
    "island (the next ua-line opens a new group per the RFC ABNF), "
    "and a trailing empty group whose sentinel row must survive — "
    "parsed by parse_robots and re-derived independently by the "
    "oracle's lag/sum window grouping. Tiny-side work only: robots "
    "files group within one domain's lines.",
)
def q_web_robots_parse(spark, sf_dir):
    return urls.parse_robots(_robots_src(spark, sf_dir))


@register(
    "web_crawl_delay",
    f"""
    WITH {_ROBOTS_PARSE_CTES},
    rdelays AS (
      SELECT domain, g, CAST(v AS DOUBLE) AS crawl_delay
      FROM rgrouped
      WHERE k = 'crawl-delay' AND try_cast(v AS DOUBLE) IS NOT NULL
    )
    SELECT a.domain, a.agent, MAX(d.crawl_delay) AS crawl_delay
    FROM ragents a JOIN rdelays d USING (domain, g)
    GROUP BY a.domain, a.agent
    """,
    doc="Crawl-delay extraction gate (r9, the politeness half of the "
    "robots parse): numeric delays attach to every agent of their "
    "island (max per agent across groups), malformed values drop "
    "via try_cast — oracle re-derives the same grouping in SQL.",
)
def q_web_crawl_delay(spark, sf_dir):
    return urls.parse_crawl_delay(_robots_src(spark, sf_dir))


@register(
    "web_sitemaps",
    f"""
    WITH {_ROBOTS_PARSE_CTES}
    SELECT DISTINCT domain, v AS sitemap
    FROM rkv WHERE k = 'sitemap' AND v <> ''
    """,
    doc="Sitemap extraction gate (r9): Sitemap records parse globally "
    "(outside any agent group), URL value kept verbatim past its "
    "scheme colon.",
)
def q_web_sitemaps(spark, sf_dir):
    return urls.parse_sitemaps(_robots_src(spark, sf_dir))
