"""URL canonicalization — the crawl-frontier / URL-dedup normalizer.

Reference analog: the reference keys everything on PubMed ids
(``pub.py``), so it never faces URL identity; a Common-Crawl-style corpus
(the north rule's input) is keyed on ``url``, where the same page appears
as ``HTTP://Site.com:80/a?utm_source=x&b=1#top`` and
``http://site.com/a?b=1``. Canonicalization is the map-only projection
every crawl dedup / frontier / revisit-join keys on.

Safe (semantics-preserving) normalizations only, all JVM string/regex
expressions — zero Python, zero shuffle:

  * scheme and host lowercased (path case is preserved — it is
    significant on most origin servers);
  * fragment stripped (never sent to the server);
  * default ports stripped (``:80`` for http, ``:443`` for https);
  * empty path -> ``/``;
  * query parameters: tracking params dropped (``utm_*``, ``fbclid``,
    ``gclid``, ``msclkid``), the rest SORTED so parameter order stops
    mattering; an emptied query drops its ``?``.

Percent-encoding and path-dot-segment resolution are deliberately NOT
done: both can change identity on real servers and the cost/benefit at
crawl scale is negative (CC's own dedup does not either).

Two normalizers, two keys — BY DESIGN, both frozen and tested:
this module is the CONSERVATIVE frontier/revisit key (a crawler must
not merge ``www.x.com`` with ``x.com`` — they can serve different
content, and a frontier that conflates them never fetches one of
them); ``functions/urls.py::normalize_url_col`` is the AGGRESSIVE
corpus-dedup key (drops a leading ``www.``, larger frozen tracking
list) for dedup/delta/provenance where over-merging near-identical
origins is the point. Pick by consumer: frontier/fetch identity ->
here; corpus identity -> functions/urls.py. Caveat: the
whole authority is lowercased, which also lowercases a userinfo part
(``user:pass@host``) — case-sensitive userinfo is vanishingly rare in a
crawl corpus and such URLs should usually be dropped upstream anyway
(credentials in URLs), so the simpler rule wins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TRACKING_RE = r"^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid)="


def normalize_url(url) -> Column:
    """Canonical form of a URL column (see module docstring for the rules).
    Rows that do not look like ``scheme://authority...`` pass through
    unchanged (relative/malformed URLs are not guessed at)."""
    url = F.col(url) if isinstance(url, str) else url
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    authority = F.lower(F.regexp_extract(url, r"^[^:]+://([^/?#]*)", 1))
    host = F.when(
        (scheme == "http") & authority.endswith(":80"),
        F.substring(authority, 1, F.length(authority) - 3),
    ).when(
        (scheme == "https") & authority.endswith(":443"),
        F.substring(authority, 1, F.length(authority) - 4),
    ).otherwise(authority)
    path = F.regexp_extract(url, r"^[^:]+://[^/?#]*([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    # strip the fragment BEFORE extracting the query: a '?' inside the
    # fragment (http://a.com/p#sec?x=1) is fragment content, not a query,
    # and must not be resurrected as one
    query = F.regexp_extract(
        F.regexp_extract(url, r"^([^#]*)", 1), r"\?(.*)$", 1
    )
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_RE),
    )
    qs = F.array_join(F.array_sort(params), "&")
    norm = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qs == "", F.lit("")).otherwise(F.concat(F.lit("?"), qs)),
    )
    return F.when(scheme == "", url).otherwise(norm)


def url_dedup_groups(
    pages: DataFrame, url_col: str = "url"
) -> DataFrame:
    """(norm_url, n_variants, first_url): one row per canonical URL with
    how many raw spellings collapsed into it and the lexicographic-min
    raw form — ONE partial-agg groupBy on the normalized key."""
    return (
        pages.select(
            F.col(url_col).alias("url"),
            normalize_url(url_col).alias("norm_url"),
        )
        .groupBy("norm_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_variants"),
            F.min("url").alias("first_url"),
        )
    )


def resolve_redirects(
    redirects: DataFrame,
    max_hops: int = 16,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Resolve redirect CHAINS to their final targets — the crawl-graph
    pass that turns per-fetch ``301/302 (src, dst)`` observations into a
    canonical-location map (chains are endemic: http->https->www->path
    renames stack, and link-graph / frontier / PageRank all want the
    FINAL identity).

    Returns one row per distinct src: ``(src, final_url, n_hops,
    resolved)``. A src resolves when its chain reaches a TERMINAL node
    (one with no outgoing redirect) within the hop budget; ``n_hops``
    is the exact chain length. Chains still redirecting after the
    budget — including every cycle (self-redirects, A<->B loops) —
    report ``(src, NULL, NULL, false)``. Multiple observed targets for
    one src (flapping servers) collapse deterministically to the
    lexicographic-min dst BEFORE resolution, so the whole map is a pure
    function of the input set.

    Scale shape: PATH DOUBLING, not per-hop walking — round k composes
    the 2^k-step map with itself (one self-join on the chain key), so a
    10^9-row redirect table with chains of length L costs
    ceil(log2(L)) join rounds instead of L. The operator stays FULLY
    LAZY — no checkpoint inside (a "lazy" localCheckpoint runs every
    upstream stage at plan-BUILD time under AQE) — at the cost of the
    logical plan doubling per round (2^rounds copies of the base map's
    subtree: 16 at the default budget, trivial for Catalyst; callers
    wanting 100+-hop budgets should materialize the map between rounds
    themselves).
    ``max_hops`` rounds UP to the next power of two (the doubling
    granularity); hop counts stay EXACT because composition stops at
    terminals — a settled row carries its true chain length through
    every later round unchanged.
    """
    if max_hops < 1:
        raise ValueError("max_hops must be >= 1")
    # max_hops=1 -> 0 rounds: the 1-step map already IS the answer
    rounds = (max_hops - 1).bit_length()
    # deterministic 1-step map: min dst per src. NULL dsts (a fetch log
    # row with a missing Location header) are dropped BEFORE the agg —
    # a src whose only observations are NULL leaves the map entirely
    # (it is a terminal as far as the data can say), never a
    # resolved-to-NULL row.
    g = (
        redirects.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src")
        .agg(F.min("dst").alias("cur"))
        .withColumn("hops", F.lit(1).cast("long"))
    )
    one = g.select("src", "cur", "hops")
    for _ in range(rounds):
        nxt = one.select(
            F.col("src").alias("_s"),
            F.col("cur").alias("_c"),
            F.col("hops").alias("_h"),
        )
        one = one.join(nxt, one["cur"] == nxt["_s"], "left").select(
            "src",
            F.coalesce("_c", "cur").alias("cur"),
            (
                F.col("hops") + F.coalesce("_h", F.lit(0))
            ).cast("long").alias("hops"),
        )
    # a src is resolved iff its reached node has NO outgoing redirect.
    # The head set comes from g (already distinct by construction, one
    # un-doubled subtree) — deriving it from `one` would re-execute the
    # whole doubling pipeline a second time just to recover its key set.
    heads = g.select(F.col("src").alias("_s2"))
    return (
        one.join(heads, one["cur"] == heads["_s2"], "left")
        .select(
            "src",
            F.when(F.col("_s2").isNull(), F.col("cur")).alias("final_url"),
            F.when(F.col("_s2").isNull(), F.col("hops"))
            .cast("long")
            .alias("n_hops"),
            F.col("_s2").isNull().alias("resolved"),
        )
    )


def canonical_links(
    pages: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    head_bytes: int = 8192,
) -> DataFrame:
    """Extract the ``<link rel="canonical" href=...>`` declaration — the
    page's OWN statement of its canonical identity, the third leg of the
    URL-identity family (normalize_url fixes spelling, resolve_redirects
    follows server redirects, this reads the in-document declaration;
    crawl dedup wants the composition of all three).

    Pure JVM, map-only, zero Python: decode + substring + two
    ``regexp_extract`` (the two attribute orders — href-then-rel and
    rel-then-href — are both idiomatic HTML) inside whole-stage codegen,
    riding the same scan that feeds paragraph extraction. Only the first
    ``head_bytes`` BYTES are scanned (binary substring before decode):
    the declaration lives in <head>,
    and an unbounded regex over multi-MB bodies is the classic
    scan-stage regression. Quoted and unquoted attribute values are
    handled; entity-unescape of '&amp;' is applied (the one entity
    legitimately common in URLs). Returns (url, canonical_url,
    has_canonical); pages without html or without the tag report NULL /
    false.
    """
    # substring the BINARY first, decode second: decoding a multi-MB
    # body before truncation would defeat the head bound (at most one
    # trailing multi-byte char is mangled at the cut, harmless here)
    head = F.decode(F.substring(F.col(html_col), 1, head_bytes), "UTF-8")
    # rel token is boundary-anchored (a closing quote, whitespace, '/'
    # or '>' must follow) so rel="canonicalized" never matches; '='
    # tolerates surrounding whitespace; the unquoted value class
    # excludes ALL whitespace (same class as linkgraph.HREF_PATTERN)
    pat_rel_href = (
        "(?i)<link[^>]*rel\\s*=\\s*[\"']?canonical(?=[\"'\\s/>])"
        "[^>]*href\\s*=\\s*[\"']?([^\"'\\s>]+)"
    )
    pat_href_rel = (
        "(?i)<link[^>]*href\\s*=\\s*[\"']?([^\"'\\s>]+)[\"']?[^>]*"
        "rel\\s*=\\s*[\"']?canonical(?=[\"'\\s/>]|$)"
    )
    canon = F.coalesce(
        F.nullif(F.regexp_extract(head, pat_rel_href, 1), F.lit("")),
        F.nullif(F.regexp_extract(head, pat_href_rel, 1), F.lit("")),
    )
    canon = F.replace(canon, F.lit("&amp;"), F.lit("&"))
    return pages.select(
        F.col(url_col).alias("url"),
        canon.alias("canonical_url"),
        canon.isNotNull().alias("has_canonical"),
    )
