"""URL curation operators (SURVEY.md §2.11 C37) — the crawl-side
hygiene stages (RefinedWeb/CCNet-style) that run BEFORE content dedup:
canonicalize URLs, dedup by canonical URL, enforce per-domain caps, and
drop blocklisted domains.

Everything is pure JVM expression chains (lower/regexp_replace/
parse_url-free split logic) — map-only, fuses into the scan, no Python
(same stance as operators/normalize.py). The reference's closest analog
is its filename-convention dispatch (`bin/save_DBB_stagein_to_DBB.py`
extension tables); URLs are the crawl corpus's "filenames".

Scale notes:
- canonicalization and domain extraction are stateless projections;
- URL dedup is one keep-first window over the canonical key (the same
  deterministic-winner shape as operators/dedup.sha_dedup_keep_first);
- domain caps use the deterministic xxhash rank device of
  similarity.cluster_balanced_sample — no crawl-order bias, stable
  across cluster sizes;
- the blocklist is a broadcast anti-join on the REGISTERED domain, so
  blocking example.com also blocks sub.example.com without a LIKE scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from ..functions import sql_ident, sql_str

# Query parameters that never identify content (trackers); dropping them
# is what collapses the long tail of tracking-stamped duplicate URLs.
_TRACKING_PARAMS = (
    "utm_source|utm_medium|utm_campaign|utm_term|utm_content|utm_id"
    "|gclid|fbclid|msclkid|mc_cid|mc_eid|igshid|ref_src|ref_url|s_kwcid"
)

# Common two-label public suffixes where the registered domain is the
# THIRD label from the right (approximation of the public-suffix list —
# the full PSL is a data file a production deployment broadcasts the
# same way; documented, not hidden).
_TWO_LABEL_SUFFIXES = (
    "co.uk|org.uk|ac.uk|gov.uk|com.au|net.au|org.au|co.jp|or.jp|ne.jp"
    "|co.kr|com.br|com.mx|com.ar|co.in|co.nz|com.cn|com.tw|com.sg|co.za"
)


def canonicalize_url(url: Column) -> Column:
    """Canonical form: lowercase scheme+host, default ports stripped,
    fragment stripped, tracking params dropped, empty query/trailing
    '?'/'&' tidied, duplicate slashes in the path collapsed, trailing
    slash trimmed. Two URLs that differ only in those never carry
    different content, so this is the dedup key a crawl should use."""
    u = F.trim(url)
    # fragment off first — everything after # never reaches the server
    u = F.regexp_replace(u, r"#.*$", "")
    # lowercase scheme://host[:port] (path/query keep their case)
    u = F.concat(
        F.lower(F.regexp_extract(u, r"^([^/?]*://[^/?]*)", 1)),
        F.regexp_replace(u, r"^[^/?]*://[^/?]*", ""),
    )
    # default ports
    u = F.regexp_replace(u, r"^(https://[^/:?]+):443(?=[/?]|$)", r"$1")
    u = F.regexp_replace(u, r"^(http://[^/:?]+):80(?=[/?]|$)", r"$1")
    # tracking params (leading, middle, trailing positions), then tidy
    # the separator debris in order: && runs, ?& head, dangling ?/& tail
    u = F.regexp_replace(u, rf"([?&])(?:{_TRACKING_PARAMS})=[^&#]*", r"$1")
    u = F.regexp_replace(u, r"&{2,}", "&")
    u = F.regexp_replace(u, r"\?&", "?")
    u = F.regexp_replace(u, r"[?&]+$", "")
    # duplicate slashes in the PATH only (not the scheme's //)
    u = F.regexp_replace(u, r"(?<!:)//+", "/")
    # trailing slash (path-only URLs; keep the bare-host form canonical)
    u = F.regexp_replace(u, r"(://[^/?]+)/$", r"$1")
    u = F.regexp_replace(u, r"(/[^?]*?)/+(\?|$)", r"$1$2")
    return u


# The host and registered-domain expressions are defined once, as Spark
# SQL text over a SQL expression string: column call sites wrap them in
# F.expr over ``sql_ident(col)``, and the constant-URL call sites
# (q_doc_metrics) interpolate literals — one string per expression
# instead of a py4j round-trip per expression node.
HOST_RE = r"^(?:[^/?]*://)?(?:[^@/?]*@)?([^:/?#]+)"
_REG3_RE = rf"([^.]+\.(?:{_TWO_LABEL_SUFFIXES}))$"
_REG2_RE = r"([^.]+\.[^.]+)$"


def HOST_SQL(url_expr: str) -> str:
    """The lowercase host (no scheme, port, path, or userinfo) of the
    URL SQL expression ``url_expr``."""
    return f"lower(regexp_extract({url_expr}, {sql_str(HOST_RE)}, 1))"


def REGISTERED_DOMAIN_SQL(url_expr: str) -> str:
    """The registrable domain of the URL SQL expression's host: last two
    labels, or last three when the two-label tail is a known public
    suffix (co.uk etc. — `_TWO_LABEL_SUFFIXES` approximates the
    public-suffix list; swap in the full PSL as broadcast data for
    production). A NULL host falls through both comparisons to NULL."""
    host = HOST_SQL(url_expr)
    three = f"regexp_extract({host}, {sql_str(_REG3_RE)}, 1)"
    two = f"regexp_extract({host}, {sql_str(_REG2_RE)}, 1)"
    return (
        f"CASE WHEN {three} != '' THEN {three} "
        f"WHEN {two} != '' THEN {two} ELSE {host} END"
    )


def dedup_by_url(
    docs: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Keep exactly one row per canonical URL — the lowest id wins
    (deterministic, consistent with every other keep-first rule in the
    engine). One shuffle on the canonical key."""
    # null-URL skew guard: every null __canon would otherwise shuffle
    # into ONE window partition (the keep-all `where` below exempts them
    # from the rule, not from the shuffle) — salt the null stratum so it
    # spreads; real keys keep salt 0, partitions untouched
    w = Window.partitionBy("__canon", "__ns").orderBy(F.col(id_col).asc())
    return (
        docs.withColumn("__canon", canonicalize_url(F.col(url_col)))
        .withColumn(
            "__ns",
            F.when(
                F.col("__canon").isNull(), F.xxhash64(F.col(id_col))
            ).otherwise(F.lit(0)),
        )
        .withColumn("__rn", F.row_number().over(w))
        # null URLs are not duplicates of each other — keep them all
        # (report-don't-drop; the quality gates own null handling)
        .where((F.col("__rn") == 1) | F.col("__canon").isNull())
        .drop("__canon", "__ns", "__rn")
    )


def cap_per_domain(
    docs: DataFrame,
    max_per_domain: int,
    url_col: str = "url",
    id_col: str = "doc_id",
    salt: int = 0,
) -> DataFrame:
    """At most ``max_per_domain`` docs per registered domain, chosen by
    deterministic xxhash rank (not crawl order — a polite crawler visits
    big hosts first, and keeping 'first N' would bias toward index
    pages). Same device as similarity.cluster_balanced_sample."""
    if max_per_domain < 1:
        raise ValueError("max_per_domain must be >= 1")
    # no-domain skew guard (same device as dedup_by_url): null AND
    # empty-string domains — every junk URL in the corpus — would each
    # form one giant window partition; salt those strata per row so they
    # spread, leaving real domains' partitions untouched
    w = Window.partitionBy("__dom", "__ns").orderBy(
        F.xxhash64(F.col(id_col), F.lit(salt)), F.col(id_col)
    )
    return (
        docs.withColumn("__dom", F.expr(REGISTERED_DOMAIN_SQL(sql_ident(url_col))))
        .withColumn(
            "__ns",
            F.when(
                F.col("__dom").isNull() | (F.col("__dom") == ""),
                F.xxhash64(F.col(id_col)),
            ).otherwise(F.lit(0)),
        )
        .withColumn("__rk", F.row_number().over(w))
        # docs with no parseable domain (null url → null, junk url →
        # empty extract) are not one shared "domain" — the cap doesn't
        # apply to them (same stance as dedup_by_url)
        .where(
            (F.col("__rk") <= max_per_domain)
            | F.col("__dom").isNull()
            | (F.col("__dom") == "")
        )
        .drop("__dom", "__ns", "__rk")
    )


def filter_blocklisted(
    docs: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
    domain_col: str = "domain",
) -> DataFrame:
    """Drop docs whose REGISTERED domain appears in ``blocklist`` (one
    lowercase domain per row) — so blocking example.com blocks
    sub.example.com too. Blocklists (UT1 etc.) are list-sized: the
    anti-join broadcasts."""
    bl = blocklist.select(
        F.lower(F.col(domain_col)).alias("__dom")
    ).distinct()
    return (
        docs.withColumn("__dom", F.expr(REGISTERED_DOMAIN_SQL(sql_ident(url_col))))
        .join(F.broadcast(bl), "__dom", "left_anti")
        .drop("__dom")
    )
