"""Winnowing document fingerprints — local-minimum k-gram sampling for
plagiarism/clone detection (Schleimer, Wilkerson & Aiken, SIGMOD 2003 —
the MOSS algorithm; training-pipeline closure operator, SURVEY.md §2.11
C43, the standard code-corpus near-dup primitive where shingle MinHash
is too coarse: winnowing GUARANTEES any shared substring of length
>= w + k - 1 contributes at least one shared fingerprint).

Everything is higher-order array expressions over the normalized text —
no Python in the plan:

1. k-gram hashes: ``transform(sequence(...), i -> xxhash64(substring))``
2. window minima:  ``transform(sequence(...), j -> array_min(slice(h, j, w)))``
3. fingerprints:   ``array_distinct`` of the window minima (positions are
   irrelevant for set-overlap detection, which makes the classic
   rightmost-tiebreak unnecessary — ties collapse in the distinct).

Overlap detection then rides df-capped blocking in the Jaccard family's
style (operators/dedup.py), with one structural difference forced by
winnowing itself: minima are hub-skewed BY CONSTRUCTION (small hash
values win windows in every document), so df comes from a codegen'd
count aggregate and the kept fingerprints join back onto the mention
stream — posting ARRAYS are never built (see the scale notes in
`fingerprint_overlap_pairs`). A fingerprint shared by thousands of
documents (a license header) is exactly the max_df hub the cap drops.

Scale shape: fingerprinting is map-only and fuses into the scan; the
per-doc fingerprint count is ~len/w on random text (the winnowing
density bound 2/(w+1) per position), so the exploded relation is a
w-fold REDUCTION of the k-gram relation the plain shingle join would
ship.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dbbspark.functions import sql_ident
from dbbspark.session import cut_lineage


def gram_hashes_expr(
    text: str, k: int, hash_sql: str = "xxhash64({g})"
) -> str:
    """SQL for the k-gram hash array of `text` (empty for null/short).
    ``hash_sql`` is a template applied to each gram ``{g}`` — the default
    xxhash64 for production; ``dedup.MD5_INT_SPARK_SQL("{g}")`` (the
    engine-portable md5-derived bigint) for oracle folds, so DuckDB can
    re-derive the fingerprints hash-for-hash."""
    gram = f"substring({text}, i, {k})"
    # The short case MUST be guarded explicitly: Spark's sequence(1, 0)
    # is the DESCENDING [1, 0] (implicit step -1), so the old
    # greatest(len-k+1, 0) bound produced TWO duplicate gram hashes for
    # any doc shorter than k chars (and for empty text) instead of none —
    # every empty doc then shared md5('')'s fingerprint, creating false
    # overlaps, and the DuckDB oracle's range(...) (empty on that bound)
    # disagreed. length() is null for null text, so one predicate covers
    # both.
    return (
        f"CASE WHEN length({text}) < {k} OR {text} IS NULL "
        f"THEN cast(array() as array<bigint>) ELSE "
        f"transform(sequence(1, length({text}) - {k - 1}), "
        f"i -> {hash_sql.format(g=gram)}) END"
    )


def fingerprints_expr(g: str, w: int) -> str:
    """SQL for the winnowed fingerprint array over a materialized gram
    hash array column `g`: window-of-w minima, distinct (ties collapse —
    positions are irrelevant for set overlap), with the short-document
    (single global min) and empty cases of `winnow_fingerprints`."""
    return (
        f"CASE WHEN size({g}) = 0 THEN cast(array() as array<bigint>) "
        f"WHEN size({g}) < {w} THEN array(array_min({g})) "
        f"ELSE array_distinct(transform(sequence(1, size({g}) - {w - 1}), "
        f"j -> array_min(slice({g}, j, {w})))) END"
    )


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """(id, fingerprints array<bigint>): winnowed k-gram fingerprints.

    Guarantee (Schleimer et al. §3): two documents sharing any substring
    of length >= w + k - 1 share at least one fingerprint; no shared
    substring shorter than k is ever detected. Map-only, JVM-only.

    Caller hazard: do NOT filter on `fingerprints` directly (e.g.
    ``.where(size(...) > 0)``) — Catalyst pushes such filters below the
    projections, substituting the full fingerprint expression (gram
    transform duplicated per reference, re-hashed per window position)
    into the Filter: measured 50× at the 10× scale test. Filter on a
    cheap derived column after a shuffle/checkpoint boundary instead,
    or rely on explode's empty-array semantics as
    `fingerprint_overlap_pairs` does.

    Short documents (fewer than w k-grams) still yield ONE fingerprint —
    the global min of their k-grams — so no document silently drops out
    of overlap detection; empty/null text yields an empty array.

    The gram array lives in its OWN projection: CollapseProject refuses
    to merge projections when a non-cheap producer expression is
    referenced more than once, so the O(len·k) gram hashing runs once
    per row rather than once per window position inside the lambda.
    Window minima are then O(len·w) — the textbook naive winnow, fine
    for the small w (4-16) the guarantee wants.
    """
    with_g = docs.select(
        F.col(id_col), F.expr(gram_hashes_expr(sql_ident(text_col), k)).alias("_g")
    )
    return with_g.select(
        F.col(id_col), F.expr(fingerprints_expr("_g", w)).alias("fingerprints")
    )


def fingerprint_overlap_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    max_df: int | None = 1000,
) -> DataFrame:
    """(a, b, shared, containment) for document pairs sharing at least
    ``min_shared`` winnowed fingerprints; ``containment`` = shared /
    min(|fp_a|, |fp_b|) — the MOSS-style report score.

    Posting-list blocking, one explode + one groupBy + one self-join on
    grouped postings: a fingerprint in more than ``max_df`` documents
    (boilerplate/license hubs) is dropped from pair GENERATION but kept
    in the per-doc sizes, so containment denominators stay exact —
    the same hub-capping contract as `jaccard_pairs`.
    """
    # NO size(fingerprints) > 0 pre-filter: explode of an empty array
    # already emits nothing, and the filter is actively catastrophic —
    # Catalyst pushes it below the projections, inlining the WHOLE
    # fingerprint CASE (gram transform duplicated 5×, window lambda
    # re-hashing the grams per position) into a Filter that then runs
    # O(len²·k) per row — measured 250 s vs 5 s at the 10× scale test.
    fps = winnow_fingerprints(docs, id_col, text_col, k, w)
    sized = fps.select(
        F.col(id_col).alias("_id"),
        F.size("fingerprints").alias("_nfp"),
        F.explode("fingerprints").alias("fp"),
    )
    # Winnowing's df distribution is skewed BY CONSTRUCTION: each
    # fingerprint is a window MINIMUM, so globally-small hash values are
    # disproportionately selected in every document — the hub problem is
    # worse than raw shingles, not better. So never build posting
    # arrays: df comes from a codegen'd count aggregate (map-side
    # partial combine collapses each task's mentions of a hub to one
    # row), the surviving 2 ≤ df ≤ max_df fingerprint set joins BACK
    # onto the mention stream (hub-capped ⇒ small by construction), and
    # pairs come from the same shuffle_merge self-join as jaccard_pairs
    # (operators/dedup.py). The collect_list-postings variant spent
    # 239 s building hub arrays the cap then discarded at the 10×
    # dup-heavy scale test; this shape runs the whole operator in ~8 s.
    # The kept-fp semi-join is left to AQE: on dup-heavy corpora the
    # kept set is hub-capped-small and broadcasts; on diverse corpora
    # it can be huge (every substring shared by exactly 2+ docs) and
    # must stay a shuffle join — no side is provably small, so no hint.
    sized = sized.transform(cut_lineage, eager=False)
    df_counts = sized.groupBy("fp").agg(F.count("*").alias("_df"))
    kept_fps = df_counts.where(F.col("_df") >= 2)
    if max_df is not None:
        kept_fps = kept_fps.where(F.col("_df") <= max_df)
    m = sized.join(kept_fps.select("fp"), "fp").transform(cut_lineage, eager=False)
    pairs = (
        m.select("fp", F.col("_id").alias("a"), F.col("_nfp").alias("na"))
        .join(
            m.select(
                "fp", F.col("_id").alias("b"), F.col("_nfp").alias("nb")
            ).hint("shuffle_merge"),
            ["fp"],
        )
        .where(F.col("a") < F.col("b"))
    )
    return (
        pairs.groupBy("a", "b", "na", "nb")
        .agg(F.count("*").alias("shared"))
        .where(F.col("shared") >= F.lit(min_shared))
        .select(
            "a",
            "b",
            "shared",
            (F.col("shared") / F.least("na", "nb")).alias("containment"),
        )
    )


def winnow_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    min_containment: float = 0.5,
    max_df: int | None = 1000,
) -> DataFrame:
    """(node, component) clusters of winnow-similar documents — the
    code-corpus counterpart of the C12 shingle-Jaccard clustering:
    fingerprint overlap pairs above ``min_containment`` feed the same
    adaptive connected components, so keep-one-per-cluster policies
    (and the C50 purity audit) compose unchanged."""
    from .dedup import connected_components_adaptive

    pairs = fingerprint_overlap_pairs(
        docs, id_col, text_col, k, w, min_shared, max_df
    ).where(F.col("containment") >= F.lit(min_containment))
    return connected_components_adaptive(pairs, "a", "b")
