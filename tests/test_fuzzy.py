"""Fuzzy string join (operators/fuzzy.py, SURVEY.md §2.11 C47)."""

from __future__ import annotations

import random
import string

import pytest
from pyspark.sql import functions as F

from dbbspark.operators.fuzzy import fuzzy_join


def _lev(a, b):
    dp = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, dp[0] = dp[0], i
        for j, cb in enumerate(b, 1):
            prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
    return dp[len(b)]


def _mutate(rng, s, k):
    for _ in range(k):
        op = rng.choice("ids")
        i = rng.randrange(max(1, len(s)))
        c = rng.choice(string.ascii_lowercase)
        if op == "i":
            s = s[:i] + c + s[i:]
        elif op == "d" and len(s) > 1:
            s = s[:i] + s[i + 1:]
        else:
            s = s[:i] + c + s[i + 1:]
    return s


def test_matches_brute_force(spark):
    """Exact equivalence with the cross-join formulation (max_df off)."""
    rng = random.Random(31)
    left = [(i, "".join(rng.choice("abcdef") for _ in range(rng.randint(5, 12))))
            for i in range(40)]
    right = [(100 + i, _mutate(rng, left[i % 40][1], rng.randint(0, 3)))
             for i in range(40)]
    a = spark.createDataFrame(left, "id_a long, key string")
    b = spark.createDataFrame(right, "id_b long, key string")
    got = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in fuzzy_join(a, b, "key", max_distance=2, max_df=None).collect()
    }
    want = {
        (ia, ib, _lev(ka.lower(), kb.lower()))
        for ia, ka in left
        for ib, kb in right
        if _lev(ka.lower(), kb.lower()) <= 2
    }
    assert got == want


def test_case_insensitive_and_null_keys(spark):
    a = spark.createDataFrame([(1, "Hello"), (2, None)], "id_a long, key string")
    b = spark.createDataFrame([(10, "hello"), (11, None)], "id_b long, key string")
    rows = fuzzy_join(a, b, "key", max_distance=0, max_df=None).collect()
    assert [(r["id_a"], r["id_b"], r["distance"]) for r in rows] == [(1, 10, 0)]


def test_short_keys_block_via_padding(spark):
    a = spark.createDataFrame([(1, "ab")], "id_a long, key string")
    b = spark.createDataFrame([(10, "ac")], "id_b long, key string")
    [r] = fuzzy_join(a, b, "key", max_distance=1, max_df=None).collect()
    assert r["distance"] == 1


def test_stop_gram_cap_documented_approximation(spark):
    """With a tiny max_df, pairs joined ONLY through hub grams vanish —
    the same capped contract as jaccard_pairs. (Distance >= 3: the gram
    path; distances <= 2 route to the exact deletion-neighborhood paths,
    where the cap does not apply.)"""
    rows_a = [(i, f"commonprefix{i}") for i in range(30)]
    rows_b = [(100 + i, f"commonprefix{i}") for i in range(30)]
    a = spark.createDataFrame(rows_a, "id_a long, key string")
    b = spark.createDataFrame(rows_b, "id_b long, key string")
    uncapped = fuzzy_join(a, b, "key", max_distance=3, max_df=None).count()
    capped = fuzzy_join(a, b, "key", max_distance=3, max_df=5).count()
    assert capped < uncapped


def test_jvm_only_plan(spark):
    a = spark.createDataFrame([(1, "abc")], "id_a long, key string")
    b = spark.createDataFrame([(2, "abd")], "id_b long, key string")
    plan = (
        fuzzy_join(a, b, "key", max_df=None)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_no_false_negatives_at_bound_edge(spark):
    """Pairs at exactly max_distance survive the count filter (the
    Gravano bound is conservative, never lossy)."""
    rng = random.Random(57)
    base = [(i, "".join(rng.choice("abcdefgh") for _ in range(10))) for i in range(25)]
    mutated = [(100 + i, _mutate(rng, k, 2)) for i, k in base]
    a = spark.createDataFrame(base, "id_a long, key string")
    b = spark.createDataFrame(mutated, "id_b long, key string")
    got = {
        (r["id_a"], r["id_b"])
        for r in fuzzy_join(a, b, "key", max_distance=2, max_df=None).collect()
    }
    for (ia, ka), (ib, kb) in zip(base, mutated):
        if _lev(ka, kb) <= 2:
            assert (ia, ib) in got


def test_short_keys_below_gram_bound_are_found(spark):
    """Regression (ADVICE r4): when max(len_a, len_b) <= q*(k-1)+1 the
    Gravano bound is < 1 and a within-distance pair may share ZERO
    positional q-grams — ('a','b') at k=1, ('ab','ba') at k=2 — so such
    pairs must route through the exact short-key fallback, not the
    gram-blocking path."""
    a = spark.createDataFrame([(1, "a"), (2, "ab")], "id_a long, key string")
    b = spark.createDataFrame([(10, "b"), (11, "ba")], "id_b long, key string")
    got1 = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in fuzzy_join(a, b, "key", max_distance=1, max_df=None).collect()
    }
    assert (1, 10, 1) in got1  # 'a' ~ 'b'
    got2 = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in fuzzy_join(a, b, "key", max_distance=2, max_df=None).collect()
    }
    assert (2, 11, 2) in got2  # 'ab' ~ 'ba'
    # full brute-force equivalence on the mixed short/long corpus
    left = [(1, "a"), (2, "ab"), (3, "abcdistinct"), (4, "xy")]
    right = [(10, "b"), (11, "ba"), (12, "abcdistinkt"), (13, "x")]
    a2 = spark.createDataFrame(left, "id_a long, key string")
    b2 = spark.createDataFrame(right, "id_b long, key string")
    out = fuzzy_join(a2, b2, "key", max_distance=2, max_df=None).collect()
    got = sorted((r["id_a"], r["id_b"], r["distance"]) for r in out)
    want = sorted(
        (ia, ib, _lev(ka, kb))
        for ia, ka in left
        for ib, kb in right
        if _lev(ka, kb) <= 2
    )
    # equality (not set-equality) also proves the two paths never emit
    # the same pair twice — the strata are complementary by construction
    assert got == want


def test_cap_does_not_reject_identical_keys_with_hub_prefix(spark):
    """Regression (found at the 50k benchmark): per-key grams lost to
    the max_df cap must relax the count bound, or identical keys whose
    prefix grams are corpus-wide hubs get silently rejected."""
    # 40 identical pairs, all sharing the hub prefix "prefix" whose
    # grams exceed max_df=30; the distinct tail grams survive.
    rows = [(i, f"prefix-{i:04d}-tail") for i in range(40)]
    a = spark.createDataFrame(rows, "id_a long, key string")
    b = spark.createDataFrame(
        [(100 + i, k) for i, k in rows], "id_b long, key string"
    )
    out = fuzzy_join(a, b, "key", max_distance=1, max_df=30).collect()
    got = {(r["id_a"], r["id_b"]) for r in out}
    # every identical pair must survive the capped bound ...
    assert {(i, 100 + i) for i in range(40)} <= got
    # ... and everything returned is a true sub-threshold match (keys
    # differing in one digit are genuine distance-1 neighbors here)
    keys = dict(rows)
    for r in out:
        assert _lev(keys[r["id_a"]], keys[r["id_b"] - 100]) <= 1


def test_d1_deletion_blocking_exact_on_degenerate_keys(spark):
    """max_distance=1 routes through FastSS deletion-neighborhood
    blocking — exact even on padded serial keys whose distinguishing
    grams are drowned by corpus-wide hub grams (the case the capped
    q-gram path documentedly loses)."""
    left = [(i, f"DECam_{i:08d}.fits.fz") for i in (5, 17, 123, 4071)]
    right = [(100 + i, f"DECam_{i:08d}.fits.fz") for i in (7, 16, 124, 9071, 4071)]
    a = spark.createDataFrame(left, "id_a long, key string")
    b = spark.createDataFrame(right, "id_b long, key string")
    # tiny max_df: the gram path would cap every shared gram away;
    # the d1 route must still be exact
    got = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in fuzzy_join(a, b, "key", max_distance=1, max_df=5).collect()
    }
    want = {
        (ia, ib, _lev(ka.lower(), kb.lower()))
        for ia, ka in left
        for ib, kb in right
        if _lev(ka.lower(), kb.lower()) <= 1
    }
    assert got == want
    assert (5, 107, 1) in got and (4071, 4171, 0) in got


def test_d1_matches_brute_force_random(spark):
    rng = random.Random(97)
    left = [(i, "".join(rng.choice("abc") for _ in range(rng.randint(1, 8))))
            for i in range(60)]
    right = [(100 + i, _mutate(rng, left[i % 60][1], rng.randint(0, 2)))
             for i in range(60)]
    a = spark.createDataFrame(left, "id_a long, key string")
    b = spark.createDataFrame(right, "id_b long, key string")
    got = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in fuzzy_join(a, b, "key", max_distance=1).collect()
    }
    want = {
        (ia, ib, _lev(ka, kb))
        for ia, ka in left
        for ib, kb in right
        if _lev(ka, kb) <= 1
    }
    assert got == want


def test_d1_jvm_only_plan(spark):
    a = spark.createDataFrame([(1, "abc")], "id_a long, key string")
    b = spark.createDataFrame([(2, "abd")], "id_b long, key string")
    plan = (
        fuzzy_join(a, b, "key", max_distance=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_empty_keys_join_symmetrically(spark):
    """Regression (ADVICE r5): the short-key fallback's exploded a-length
    range clamped its lower bound to 1, so an a-side EMPTY key
    (_alen = 0) could never join while the b-side-empty direction worked
    — an asymmetric hole in the exact-output contract. Both directions
    (and the empty~empty distance-0 pair) must now appear, at d=1/d=2
    (the FastSS routes, which always handled this) and d=3 (the
    gram+fallback route, which did not)."""
    left = [(1, ""), (2, "x"), (3, "ab")]
    right = [(10, ""), (11, "ab"), (12, "y")]
    a = spark.createDataFrame(left, "id_a long, key string")
    b = spark.createDataFrame(right, "id_b long, key string")
    for k in (1, 2, 3):
        got = sorted(
            (r["id_a"], r["id_b"], r["distance"])
            for r in fuzzy_join(a, b, "key", max_distance=k, max_df=None).collect()
        )
        want = sorted(
            (ia, ib, _lev(ka, kb))
            for ia, ka in left
            for ib, kb in right
            if _lev(ka, kb) <= k
        )
        assert got == want, f"max_distance={k}"
    # the ADVICE repro verbatim: ("","") d0 and ("","ab") d2 present,
    # alongside the b-side-empty pair that already worked
    got2 = {
        (r["id_a"], r["id_b"])
        for r in fuzzy_join(a, b, "key", max_distance=2, max_df=None).collect()
    }
    assert {(1, 10), (1, 12), (2, 10), (3, 11)} <= got2


def test_d2_exact_on_degenerate_keys_where_gram_path_lost_pairs(spark):
    """VERDICT r5 item 3: max_distance=2 now routes through the
    2-deletion FastSS neighborhood — exact on the homogeneous-template
    corpus (padded serial keys) where the capped gram path silently lost
    within-distance pairs, and regardless of max_df."""
    ids_a = (5, 17, 123, 4071, 40710)
    ids_b = (7, 16, 124, 9071, 4071, 40712)
    left = [(i, f"DECam_{i:08d}.fits.fz") for i in ids_a]
    right = [(100000 + i, f"DECam_{i:08d}.fits.fz") for i in ids_b]
    a = spark.createDataFrame(left, "id_a long, key string")
    b = spark.createDataFrame(right, "id_b long, key string")
    got = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in fuzzy_join(a, b, "key", max_distance=2, max_df=5).collect()
    }
    want = {
        (ia, ib, _lev(ka.lower(), kb.lower()))
        for ia, ka in left
        for ib, kb in right
        if _lev(ka.lower(), kb.lower()) <= 2
    }
    assert got == want
    # the serial neighbors the capped gram path dropped (5→7 and 17→16
    # are single-digit substitutions) plus the identical pair
    assert (5, 100007, 1) in got and (17, 100016, 1) in got
    assert (4071, 104071, 0) in got
    assert any(d == 2 for _, _, d in got)  # true d=2 pairs survive too


def test_d2_matches_brute_force_random(spark):
    """Full brute-force equivalence for the d2 route, mixed lengths
    incl. empty/1-char keys (neighborhood-degenerate strata)."""
    rng = random.Random(271)
    left = [(i, "".join(rng.choice("abcd") for _ in range(rng.randint(0, 9))))
            for i in range(50)]
    right = [(100 + i, _mutate(rng, left[i % 50][1] or "a", rng.randint(0, 3)))
             for i in range(50)]
    a = spark.createDataFrame(left, "id_a long, key string")
    b = spark.createDataFrame(right, "id_b long, key string")
    got = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in fuzzy_join(a, b, "key", max_distance=2).collect()
    }
    want = {
        (ia, ib, _lev(ka, kb))
        for ia, ka in left
        for ib, kb in right
        if _lev(ka, kb) <= 2
    }
    assert got == want


def test_d2_and_d0_jvm_only_plans(spark):
    a = spark.createDataFrame([(1, "abc")], "id_a long, key string")
    b = spark.createDataFrame([(2, "abd")], "id_b long, key string")
    for d in (0, 2):
        plan = (
            fuzzy_join(a, b, "key", max_distance=d)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_auto_routes_by_key_length(spark):
    """The router must not walk long-key corpora onto the
    deletion-variant cliff (O(L^d) variants/key): past FASTSS_MAX_LEN a
    d=2 join takes the capped gram path; short keys keep the exact
    FastSS route; d>=3 is always grams; the bound is the module
    constant."""
    from dbbspark.operators import fuzzy
    from dbbspark.operators.fuzzy import _route

    short = spark.createDataFrame(
        [(1, "decam_00000005.fits")], "id_a long, k string"
    )
    long = spark.createDataFrame(
        [(1, "x" * 150)], "id_b long, k string"
    )
    assert _route(short, short, "k", 2) == "fastss"
    # ONE long key on either side is enough to leave the cliff route
    assert _route(short, long, "k", 2) == "grams"
    assert _route(long, short, "k", 2) == "grams"
    assert _route(short, short, "k", 3) == "grams"
    # empty corpora are trivially short
    empty = spark.createDataFrame([], "id_a long, k string")
    assert _route(empty, empty, "k", 1) == "fastss"
    # ADVICE r6: the cliff is d=2-only (d=1 neighborhoods are L+1
    # variants) — long keys at d=1 stay on the EXACT FastSS route, never
    # the max_df-capped gram path that can silently drop true pairs
    assert _route(long, long, "k", 1) == "fastss"
    assert _route(short, long, "k", 1) == "fastss"
    # the bound is read at call time: moving it moves the route
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(fuzzy, "FASTSS_MAX_LEN", 10)
        assert _route(short, short, "k", 2) == "grams"
        mp.setattr(fuzzy, "FASTSS_MAX_LEN", 150)
        assert _route(short, long, "k", 2) == "fastss"


def test_d1_long_keys_exact_despite_hub_grams(spark):
    """ADVICE r6 end-to-end: >64-char near-identical URLs at d=1 — the
    exact shape the gram path's max_df hub cap can drop — must all
    pair."""
    from dbbspark.operators.fuzzy import fuzzy_join

    base = "https://example.org/some/very/long/path/segment/" + "a" * 40
    a = spark.createDataFrame(
        [(i, base + str(i)) for i in range(30)], "id_a long, k string"
    )
    b = spark.createDataFrame(
        [(i + 100, base + str(i)) for i in range(30)], "id_b long, k string"
    )
    # every a-row has exactly one d=0 partner in b; the shared 89-char
    # prefix makes every q-gram a hub (max_df=1 would kill the gram path)
    got = fuzzy_join(a, b, "k", max_distance=1, max_df=1).where(
        F.col("distance") == 0
    )
    assert got.count() == 30


def test_auto_long_keys_still_join_through_gram_path(spark):
    """End-to-end: a long-key corpus at d=2 routes to grams and still
    returns the within-distance pairs."""
    from dbbspark.operators.fuzzy import fuzzy_join

    base = "u" * 100
    a = spark.createDataFrame([(1, base)], "id_a long, k string")
    b = spark.createDataFrame(
        [(10, base), (11, base[:-1] + "z"), (12, "v" * 100)],
        "id_b long, k string",
    )
    got = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in fuzzy_join(a, b, "k", max_distance=2).collect()
    }
    assert got == {(1, 10, 0), (1, 11, 1)}
