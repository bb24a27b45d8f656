"""URL canonicalization and crawl-level URL dedup over the pages table.

A Common-Crawl-style corpus re-crawls the same page many times and spells the
same URL many ways (scheme/host case, explicit default ports, fragments,
tracking query params). The standard pipeline step is: canonicalize every URL,
then keep the newest capture per canonical URL. Both halves here are pure
native Column expressions — no Python UDF, the whole plan stays inside
whole-stage codegen, and the dedup is ONE shuffle with map-side partial
aggregation (a `groupBy().agg(max(struct(...)))`, deliberately not a window:
`row_number` over a window must shuffle every replica row to its reducer,
while the agg form combines map-side — at 10^12 rows with ~10× recrawl
duplication that is a 10× shuffle-bytes difference).

Canonicalization rules (the common subset of RFC 3986 normalization +
tracking-param hygiene):

- scheme and host lowercased; userinfo stripped;
- explicit default port dropped (``http:80``, ``https:443``), any other
  explicit port kept;
- empty path normalized to ``/``;
- fragment dropped;
- tracking query parameters removed (``utm_*`` prefix plus the ad-click ids),
  remaining params kept in their original order — reordering would conflate
  semantically different URLs for servers that care.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ad/analytics parameters that never change page identity
TRACKING_EXACT = ("gclid", "fbclid", "msclkid", "mc_eid", "igshid")
TRACKING_PREFIX = "utm_"


def canonical_url_col(url: F.Column) -> F.Column:
    """Column expression: canonical form of a URL string (see module rules)."""
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    authority = F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    path = F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    # query = first '?' BEFORE any '#': a '?' inside the fragment is not a query
    query = F.regexp_extract(url, r"^[^?#]*\?([^#]*)", 1)

    hostport = F.substring_index(authority, "@", -1)  # strip userinfo
    host = F.lower(F.substring_index(hostport, ":", 1))
    port = F.when(
        hostport.contains(":"), F.substring_index(hostport, ":", -1)
    ).otherwise(F.lit(""))
    default_port = ((scheme == "http") & (port == "80")) | (
        (scheme == "https") & (port == "443")
    )
    port_part = F.when(
        (port == "") | default_port, F.lit("")
    ).otherwise(F.concat(F.lit(":"), port))

    path_n = F.when(path == "", F.lit("/")).otherwise(path)

    def is_tracking(p):
        key = F.lower(F.substring_index(p, "=", 1))
        return key.startswith(TRACKING_PREFIX) | key.isin(*TRACKING_EXACT)

    kept = F.filter(F.split(query, "&", -1), lambda p: ~is_tracking(p))
    qs = F.array_join(kept, "&")
    q_part = F.when((query == "") | (qs == ""), F.lit("")).otherwise(
        F.concat(F.lit("?"), qs)
    )

    canonical = F.concat(scheme, F.lit("://"), host, port_part, path_n, q_part)
    # scheme-less / unparseable input: degrade to a stable key (lowercased,
    # fragment-stripped) instead of a "://" artifact — dedup still groups
    # consistent spellings, and nothing downstream sees a malformed URL
    fallback = F.lower(F.substring_index(url, "#", 1))
    return F.when(scheme == "", fallback).otherwise(canonical)


def canonicalize_url(pages: DataFrame) -> DataFrame:
    """Add the canonical-URL column; narrow projection, no shuffle."""
    return pages.withColumn("canonical_url", canonical_url_col(F.col("url")))


def url_dedup_latest(
    pages: DataFrame,
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Keep the newest capture per canonical URL, counting the replicas.

    Returns one row per canonical URL: every non-key column of the winning
    (max ``ts_col``, remaining columns as deterministic tie-break) row plus
    ``n_dups``. Single shuffle on the canonical URL with map-side combine —
    see the module docstring for why this beats a `row_number` window at
    crawl scale."""
    rest = [c for c in pages.columns if c != "canonical_url" and c != ts_col]
    kept = pages.groupBy("canonical_url").agg(
        F.max(F.struct(ts_col, *rest)).alias("_kept"),
        F.count("*").alias("n_dups"),
    )
    return kept.select("canonical_url", "_kept.*", "n_dups")
