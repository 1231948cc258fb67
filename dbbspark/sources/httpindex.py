"""HTTP index-page source (SURVEY.md §2.1 S7).

The reference fetches the nightly-summary index page and regex-scrapes
`nightsum-YYYY-MM-DD` links out of it (`bin/monitor_DBB_stagein.py:
300-315`). The fetch is a driver-side boundary (one small page, not a
data-scale input); the parse is a DataFrame so downstream joins against
nite tables stay relational.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import sql_str

# href scrape + the reference's nightsum date pattern
# (bin/monitor_DBB_stagein.py:308-311)
_HREF_RE = r'href="([^"]+)"'
_NIGHTSUM_RE = r"nightsum-(\d\d\d\d)-(\d\d)-(\d\d)"


def fetch_index(url: str, timeout_s: int = 10) -> str:
    """Driver-side page fetch (stdlib only; no external deps). Kept
    separate from parsing so tests/offline runs inject canned HTML."""
    from urllib.request import urlopen

    with urlopen(url, timeout=timeout_s) as resp:  # noqa: S310
        return resp.read().decode("utf-8", "replace")


def parse_index(spark: SparkSession, html_text: str) -> DataFrame:
    """Index HTML → one row per link: (href, nightsum_nite) where
    nightsum_nite is the YYYYMMDD nite for nightsum links, else NULL."""
    lines = spark.createDataFrame(
        [(ln,) for ln in html_text.splitlines()], "line string"
    )
    href = F.explode(F.expr(f"regexp_extract_all(line, {sql_str(_HREF_RE)}, 1)")).alias(
        "href"
    )
    nite = F.concat(
        F.regexp_extract("href", _NIGHTSUM_RE, 1),
        F.regexp_extract("href", _NIGHTSUM_RE, 2),
        F.regexp_extract("href", _NIGHTSUM_RE, 3),
    )
    return (
        lines.select(href)
        .withColumn(
            "nightsum_nite", F.when(nite != "", nite).otherwise(F.lit(None))
        )
    )


def nightsum_nites(spark: SparkSession, html_text: str) -> DataFrame:
    """Distinct nites that have a nightly-summary page — the reference's
    `nitelist` driver input (`bin/monitor_DBB_stagein.py:300-315`)."""
    return (
        parse_index(spark, html_text)
        .where(F.col("nightsum_nite").isNotNull())
        .select(F.col("nightsum_nite").alias("nite"))
        .distinct()
    )
