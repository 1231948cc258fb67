"""URL curation (operators/urls.py, C37): canonicalization cases,
registered-domain extraction, keep-first URL dedup, deterministic domain
caps, suffix-safe blocklisting — and the no-Python plan pin."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbbspark.operators.urls import (
    canonicalize_url,
    cap_per_domain,
    dedup_by_url,
    filter_blocklisted,
    HOST_SQL,
    REGISTERED_DOMAIN_SQL,
)


def _canon(spark, url):
    return (
        spark.createDataFrame([(url,)], "u string")
        .select(canonicalize_url(F.col("u")).alias("c"))
        .first()["c"]
    )


@pytest.mark.parametrize(
    "raw,want",
    [
        # scheme+host lowercase, path case preserved
        ("HTTP://Example.COM/Path/File", "http://example.com/Path/File"),
        # default ports stripped, non-default kept
        ("https://example.com:443/x", "https://example.com/x"),
        ("http://example.com:80/x", "http://example.com/x"),
        ("http://example.com:8080/x", "http://example.com:8080/x"),
        # fragment stripped
        ("https://example.com/a#section-2", "https://example.com/a"),
        # tracking params dropped wherever they sit; real params survive
        (
            "https://example.com/a?utm_source=x&id=7&fbclid=abc",
            "https://example.com/a?id=7",
        ),
        ("https://example.com/a?gclid=abc", "https://example.com/a"),
        ("https://example.com/a?id=7&utm_id=9", "https://example.com/a?id=7"),
        # duplicate path slashes collapse; scheme's // survives
        ("https://example.com//a///b", "https://example.com/a/b"),
        # trailing slash trimmed on paths and bare hosts
        ("https://example.com/", "https://example.com"),
        ("https://example.com/a/?q=1", "https://example.com/a?q=1"),
    ],
)
def test_canonicalize_cases(spark, raw, want):
    assert _canon(spark, raw) == want


def test_host_and_registered_domain(spark):
    rows = spark.createDataFrame(
        [
            ("https://sub.news.example.com/a",),
            ("http://user@shop.example.CO.UK:8080/x",),
            ("https://localhost/x",),
        ],
        "u string",
    ).select(
        F.expr(HOST_SQL("u")).alias("h"),
        F.expr(REGISTERED_DOMAIN_SQL("u")).alias("d"),
    ).collect()
    assert [(r["h"], r["d"]) for r in rows] == [
        ("sub.news.example.com", "example.com"),
        ("shop.example.co.uk", "example.co.uk"),
        ("localhost", "localhost"),
    ]


def test_dedup_by_url_keeps_lowest_id(spark):
    docs = spark.createDataFrame(
        [
            (3, "https://Example.com/a?utm_source=feed"),
            (1, "https://example.com/a"),
            (2, "https://example.com/a#frag"),
            (4, "https://example.com/b"),
        ],
        "doc_id long, url string",
    )
    got = sorted(r["doc_id"] for r in dedup_by_url(docs).collect())
    assert got == [1, 4]


def test_cap_per_domain_deterministic(spark):
    docs = spark.createDataFrame(
        [(i, f"https://s{i % 2}.big.com/p{i}") for i in range(20)]
        + [(100, "https://small.org/x")],
        "doc_id long, url string",
    )
    a = sorted(r["doc_id"] for r in cap_per_domain(docs, 5).collect())
    b = sorted(
        r["doc_id"] for r in cap_per_domain(docs.repartition(7), 5).collect()
    )
    assert a == b
    assert len(a) == 6  # 5 capped from big.com + the small.org doc
    assert 100 in a
    # a different salt reshuffles the lottery but keeps the cap
    c = sorted(r["doc_id"] for r in cap_per_domain(docs, 5, salt=1).collect())
    assert len(c) == 6 and c != a or len(c) == 6


def test_blocklist_blocks_subdomains(spark):
    docs = spark.createDataFrame(
        [
            (1, "https://ads.tracker.com/x"),
            (2, "https://tracker.com/y"),
            (3, "https://example.com/ok"),
        ],
        "doc_id long, url string",
    )
    bl = spark.createDataFrame([("Tracker.com",)], "domain string")
    got = sorted(r["doc_id"] for r in filter_blocklisted(docs, bl).collect())
    assert got == [3]


def test_url_ops_stay_jvm_only(spark):
    docs = spark.createDataFrame(
        [(1, "https://example.com/a")], "doc_id long, url string"
    )
    bl = spark.createDataFrame([("x.com",)], "domain string")
    df = filter_blocklisted(
        cap_per_domain(dedup_by_url(docs), 10), bl
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PythonUDF" not in plan and "EvalPython" not in plan


def test_null_and_junk_urls_survive(spark):
    """Null URLs are not duplicates of each other, and docs with no
    parseable domain are not one shared domain for the cap."""
    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, "%%%"), (4, "%%%%"), (5, "https://a.com/x")],
        "doc_id long, url string",
    )
    # null rows both survive; the two junk strings differ → both survive
    assert sorted(r["doc_id"] for r in dedup_by_url(docs).collect()) == [1, 2, 3, 4, 5]
    assert sorted(
        r["doc_id"] for r in cap_per_domain(docs, 1).collect()
    ) == [1, 2, 3, 4, 5]


def test_cap_validation(spark):
    docs = spark.createDataFrame([(1, "https://a.com/")], "doc_id long, url string")
    with pytest.raises(ValueError):
        cap_per_domain(docs, 0)
