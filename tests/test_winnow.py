"""Winnowing fingerprints (operators/winnow.py, SURVEY.md §2.11 C43)."""

from __future__ import annotations

import random
import string

from pyspark.sql import functions as F

from dbbspark.operators.winnow import (
    fingerprint_overlap_pairs,
    gram_hashes_expr,
    winnow_fingerprints,
)


def _serial_winnow(grams: list[int], w: int) -> set[int]:
    """Reference winnow over precomputed gram hashes: distinct minima of
    every w-window (global min if fewer than w grams)."""
    if not grams:
        return set()
    if len(grams) < w:
        return {min(grams)}
    return {min(grams[j : j + w]) for j in range(len(grams) - w + 1)}


def _rand_text(rng, n):
    return "".join(rng.choice(string.ascii_lowercase) for _ in range(n))


def test_matches_serial_reference(spark):
    rng = random.Random(5)
    rows = [(i, _rand_text(rng, rng.randint(0, 120))) for i in range(60)]
    rows += [(100, None), (101, ""), (102, "abc")]  # null / empty / < k
    df = spark.createDataFrame(rows, "doc_id long, text string")
    k, w = 8, 4
    # Pull the JVM gram hashes so the reference sees identical values.
    grams = {
        r["doc_id"]: list(r["g"])
        for r in df.select("doc_id", F.expr(gram_hashes_expr("text", k)).alias("g")).collect()
    }
    got = {
        r["doc_id"]: set(r["fingerprints"])
        for r in winnow_fingerprints(df, k=k, w=w).collect()
    }
    for did, g in grams.items():
        assert got[did] == _serial_winnow(g, w), did


def test_short_doc_gram_contract(spark):
    """Docs shorter than k chars (and empty/null) yield ZERO gram hashes
    and an empty fingerprint array — pinned explicitly because Spark's
    sequence(1, 0) DESCENDS ([1, 0]): the old greatest(len-k+1, 0) bound
    silently produced two duplicate gram hashes for every short doc, so
    all empty docs shared md5('')'s fingerprint (false overlaps) and the
    DuckDB oracle (whose range() is empty on that bound) disagreed."""
    k = 8
    rows = [(1, None), (2, ""), (3, "abc"), (4, "a" * (k - 1)), (5, "a" * k)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    g = {
        r["doc_id"]: list(r["g"])
        for r in df.select(
            "doc_id", F.expr(gram_hashes_expr("text", k)).alias("g")
        ).collect()
    }
    assert g[1] == [] and g[2] == [] and g[3] == [] and g[4] == []
    assert len(g[5]) == 1  # exactly-k doc has exactly one gram
    fps = {
        r["doc_id"]: list(r["fingerprints"])
        for r in winnow_fingerprints(df, k=k, w=4).collect()
    }
    assert fps[1] == [] and fps[2] == [] and fps[3] == [] and fps[4] == []
    assert len(fps[5]) == 1


def test_portable_hash_matches_duckdb_on_short_docs(spark):
    """Cross-engine pin for the C43 oracle fold including the short-doc
    edge: the portable md5-int gram pipeline must agree with DuckDB's
    re-derivation doc-for-doc (n fingerprints + min), with <k-char,
    empty, and exactly-k docs in the panel."""
    import duckdb

    from dbbspark.operators.dedup import MD5_INT_SPARK_SQL
    from dbbspark.operators.winnow import fingerprints_expr

    k, w = 8, 4
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "abc"),
        (3, ""),
        (4, "exactly8"),
        (5, "a slightly longer document body for windows"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["n"], r["mn"])
        for r in df.select(
            "doc_id", F.expr(gram_hashes_expr("text", k, MD5_INT_SPARK_SQL("{g}"))).alias("g")
        )
        .select("doc_id", F.expr(fingerprints_expr("g", w)).alias("fp"))
        .select(
            "doc_id", F.size("fp").alias("n"), F.array_min("fp").alias("mn")
        )
        .collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in rows)
        + ") AS t(doc_id, text)"
    )
    want = set(
        con.execute(
            """
        SELECT doc_id, CAST(len(fp) AS INT) AS n,
               CASE WHEN len(fp) = 0 THEN NULL ELSE list_min(fp) END AS mn
        FROM (
          SELECT doc_id,
             CASE WHEN len(wg) = 0 THEN CAST([] AS BIGINT[])
                  WHEN len(wg) < 4 THEN [list_min(wg)]
                  ELSE list_distinct(list_transform(
                    range(1, len(wg) - 2), j -> list_min(wg[j:j+3]))) END AS fp
          FROM (
            SELECT doc_id,
              CASE WHEN length(text) >= 8 AND text IS NOT NULL
                   THEN list_transform(range(1, length(text) - 6),
                     i -> CAST(('0x' || substr(md5(substr(text, i, 8)), 1,
                                15)) AS BIGINT))
                   ELSE CAST([] AS BIGINT[]) END AS wg
            FROM d))
        """
        ).fetchall()
    )
    assert got == want


def test_shared_substring_guarantee(spark):
    """Any shared substring of length >= w + k - 1 ⇒ >= 1 shared print."""
    rng = random.Random(9)
    k, w = 8, 4
    needle = _rand_text(rng, k + w - 1)
    rows = [
        (i, _rand_text(rng, 40) + needle + _rand_text(rng, 40)) for i in range(6)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {
        r["doc_id"]: set(r["fingerprints"])
        for r in winnow_fingerprints(df, k=k, w=w).collect()
    }
    for i in range(6):
        for j in range(i + 1, 6):
            assert fps[i] & fps[j], (i, j)


def test_overlap_pairs_and_containment(spark):
    rng = random.Random(13)
    base = _rand_text(rng, 200)
    rows = [
        (1, base),
        (2, base[:150] + _rand_text(rng, 50)),  # heavy overlap with 1
        (3, _rand_text(rng, 200)),  # unrelated
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["a"], r["b"]): r["containment"]
        for r in fingerprint_overlap_pairs(df, min_shared=2).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.4
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_identical_docs_full_containment(spark):
    rng = random.Random(17)
    t = _rand_text(rng, 150)
    df = spark.createDataFrame([(1, t), (2, t)], "doc_id long, text string")
    [row] = fingerprint_overlap_pairs(df, min_shared=1).collect()
    assert (row["a"], row["b"]) == (1, 2)
    assert row["containment"] == 1.0


def test_max_df_drops_hub_fingerprints(spark):
    rng = random.Random(21)
    header = _rand_text(rng, 60)  # shared "license header" hub
    rows = [(i, header + _rand_text(rng, 100)) for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # Cap below the hub's df: pairs joined ONLY through the header vanish.
    capped = fingerprint_overlap_pairs(df, min_shared=1, max_df=5).count()
    uncapped = fingerprint_overlap_pairs(df, min_shared=1, max_df=None).count()
    assert uncapped == 66  # all 12-choose-2 pairs share the header
    assert capped < uncapped


def test_jvm_only_plan(spark):
    df = spark.createDataFrame([(1, "abcdefghijklmnop")], "doc_id long, text string")
    plan = winnow_fingerprints(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_winnow_clusters_groups_clones(spark):
    rng = random.Random(41)
    base1 = _rand_text(rng, 180)
    base2 = _rand_text(rng, 180)
    rows = [(i, base1[:150] + _rand_text(rng, 30)) for i in range(3)]
    rows += [(10 + i, base2[:150] + _rand_text(rng, 30)) for i in range(3)]
    rows += [(99, _rand_text(rng, 180))]  # singleton
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from dbbspark.operators.winnow import winnow_clusters

    comps = {r["node"]: r["component"] for r in winnow_clusters(df).collect()}
    assert comps[0] == comps[1] == comps[2]
    assert comps[10] == comps[11] == comps[12]
    assert comps[0] != comps[10]
    assert comps.get(99, 99) not in (comps[0], comps[10])
