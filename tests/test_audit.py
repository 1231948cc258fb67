"""Dedup-cluster purity audit (operators/audit.py, SURVEY.md §2.11 C50)."""

from __future__ import annotations

import pytest

import dbbspark.operators.audit as audit_mod
from dbbspark.operators.audit import cluster_purity


def _rounded(df):
    return sorted(
        tuple(round(v, 9) if isinstance(v, float) else v for v in r)
        for r in df.collect()
    )


def _purity(docs, comps, **kwargs):
    """cluster_purity on both regimes: the driver regime these small
    inputs take and the distributed plan (DRIVER_MEMBER_BOUND patched
    to 0) must agree row-for-row; returns the driver regime's frames."""
    out = cluster_purity(docs, comps, **kwargs)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(audit_mod, "DRIVER_MEMBER_BOUND", 0)
        dist = cluster_purity(docs, comps, **kwargs)
    for got, want in zip(out, dist):
        assert _rounded(got) == _rounded(want)
    return out


def _jac(a, b, n=3):
    def sh(t):
        toks = t.split()
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb)


def test_transitive_overmerge_flagged(spark):
    # A ~ B (heavy overlap), B ~ C (heavy overlap), A vs C nearly
    # disjoint — the chained cluster {A, B, C} with rep A must show C
    # as a low-jaccard suspect while B stays clean.
    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b = "alpha beta gamma delta epsilon zeta eta theta lambda mu"
    c = "nu xi omicron pi rho sigma tau eta theta lambda mu phi"
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "node long, component long"
    )
    per_member, per_cluster = _purity(docs, comps, suspect_below=0.3)
    pm = {r["member"]: r for r in per_member.collect()}
    assert abs(pm[2]["jaccard"] - _jac(a, b)) < 1e-9
    assert abs(pm[3]["jaccard"] - _jac(a, c)) < 1e-9
    assert not pm[2]["suspect"] and pm[3]["suspect"]
    [pc] = per_cluster.collect()
    assert pc["n_members"] == 2 and pc["n_suspect"] == 1
    assert abs(pc["min_jaccard"] - _jac(a, c)) < 1e-9


def test_identical_docs_perfect_purity(spark):
    t = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [(10, t), (11, t), (12, t)], "doc_id long, text string"
    )
    comps = spark.createDataFrame(
        [(10, 10), (11, 10), (12, 10)], "node long, component long"
    )
    per_member, per_cluster = _purity(docs, comps)
    assert all(r["jaccard"] == 1.0 for r in per_member.collect())
    [pc] = per_cluster.collect()
    assert pc["min_jaccard"] == 1.0 and pc["n_suspect"] == 0


def test_singletons_absent_and_multiple_clusters(spark):
    t1 = "a b c d e f g h"
    t2 = "a b c d e f g z"
    docs = spark.createDataFrame(
        [(1, t1), (2, t2), (5, "totally different words here now ok yes")],
        "doc_id long, text string",
    )
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (5, 5)], "node long, component long"
    )
    per_member, per_cluster = _purity(docs, comps)
    assert {r["component"] for r in per_cluster.collect()} == {1}
    assert per_member.count() == 1


def test_end_to_end_with_real_clustering(spark):
    """Compose with the real C12 chain: LSH candidates -> CC -> audit."""
    from pyspark.sql import functions as F

    from dbbspark.operators.dedup import (
        connected_components_adaptive,
        lsh_candidate_pairs_direct,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(i, base + f" tail{i % 3}") for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = lsh_candidate_pairs_direct(docs, "doc_id", "text")
    comps = connected_components_adaptive(pairs, "doc_a", "doc_b")
    per_member, per_cluster = _purity(docs, comps)
    rows_pc = per_cluster.collect()
    assert rows_pc, "replicated docs must cluster"
    # near-identical family: purity high everywhere
    assert all(r["min_jaccard"] > 0.5 for r in rows_pc)


def test_short_docs_scored_by_text_identity_not_null(spark):
    """Regression (ADVICE r4): members/reps shorter than shingle_n tokens
    have empty shingle sets; the 0/0 case must resolve to 1.0 for
    byte-identical texts and 0.0 for different ones — never NULL (which
    min/avg would skip and a purity-floor delete would silently retain)."""
    from dbbspark.operators.audit import cluster_purity

    docs = spark.createDataFrame(
        [(1, "ok"), (2, "ok"), (3, "no"), (10, "a long enough doc here ok")],
        "doc_id long, text string",
    )
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "node long, component long"
    )
    per_member, per_cluster = _purity(docs, comps, shingle_n=3)
    pm = {r["member"]: r for r in per_member.collect()}
    assert pm[2]["jaccard"] == 1.0 and pm[2]["suspect"] is False
    assert pm[3]["jaccard"] == 0.0 and pm[3]["suspect"] is True
    [pc] = per_cluster.collect()
    assert pc["min_jaccard"] == 0.0 and pc["n_suspect"] == 1
    assert pc["n_members"] == 2


def test_cluster_purity_driver_matches_distributed(spark):
    """The driver regime must equal the distributed plan
    row-for-row — including the both-empty short-doc identity rule and
    singleton clusters (absent from per_member on both paths)."""
    from dbbspark.operators.audit import cluster_purity

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon eta"),
            (3, "one two three four five six seven"),
            (10, "hi"),          # sub-shingle_n: empty shingle set
            (11, "hi"),          # identical short text -> 1.0
            (12, "yo"),          # different short text -> 0.0 vs 10
            (99, "unrelated singleton text body here"),
        ],
        "doc_id long, text string",
    )
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (12, 10), (99, 99)],
        "node long, component long",
    )
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(audit_mod, "DRIVER_MEMBER_BOUND", 0)
        dist = {
            (r["component"], r["member"]): (round(r["jaccard"], 9), r["suspect"])
            for r in cluster_purity(docs, comps)[0].collect()
        }
    drv = {
        (r["component"], r["member"]): (round(r["jaccard"], 9), r["suspect"])
        for r in cluster_purity(docs, comps)[0].collect()
    }
    assert dist == drv
    assert (10, 11) in drv and drv[(10, 11)][0] == 1.0  # identical short
    assert (10, 12) in drv and drv[(10, 12)][0] == 0.0  # different short
    assert not any(c == 99 for c, _ in drv)  # singleton absent


def test_driver_regime_missing_doc_nodes_score_zero(spark):
    """Regression (ADVICE r12 low): component nodes with NO doc row at
    all gave the driver path hm=hr=None and a 1.0 score while the
    distributed plan's NULL == NULL predicate scores 0.0 — a missing
    hash must never read as identical, on either path."""
    from dbbspark.operators.audit import cluster_purity

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma eta")],
        "doc_id long, text string",
    )
    # nodes 7 and 8 have no doc rows; 8's rep 7 is also missing
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (7, 7), (8, 7)], "node long, component long"
    )
    for bound in (0, 1000):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(audit_mod, "DRIVER_MEMBER_BOUND", bound)
            pm = {
                r["member"]: r
                for r in cluster_purity(docs, comps)[0].collect()
            }
        assert pm[8]["jaccard"] == 0.0 and pm[8]["suspect"] is True, bound


def test_driver_member_bound_counts_before_collecting(spark):
    """Regression (ADVICE r12 medium): a membership relation LARGER
    than ``DRIVER_MEMBER_BOUND`` must take the distributed plan without
    ever entering the driver regime (the old code collected the full
    relation first, defeating the bound's OOM protection)."""
    docs = spark.createDataFrame(
        [(i, f"tok{i} alpha beta gamma delta common tail") for i in range(12)],
        "doc_id long, text string",
    )
    comps = spark.createDataFrame(
        [(i, 0) for i in range(12)], "node long, component long"
    )
    orig = audit_mod._cluster_purity_driver

    def trap(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("driver regime entered past the bound")

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(audit_mod, "_cluster_purity_driver", trap)
        mp.setattr(audit_mod, "DRIVER_MEMBER_BOUND", 3)
        per_member, _ = audit_mod.cluster_purity(docs, comps)
        assert per_member.count() == 11  # 12 nodes minus the rep
    # and under the bound it still routes to the driver regime
    called = {}

    def probe(*a, **k):
        called["yes"] = True
        return orig(*a, **k)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(audit_mod, "_cluster_purity_driver", probe)
        mp.setattr(audit_mod, "DRIVER_MEMBER_BOUND", 100)
        audit_mod.cluster_purity(docs, comps)[0].count()
    assert called.get("yes")
