"""Fuzzy string join — approximate-key record linkage (training-pipeline
closure operator, SURVEY.md §2.11 C47; the join a reconcile pipeline
needs when the two sides' keys drifted: renamed files, re-serialized
URLs, OCR'd titles).

The naive form — cross join + `levenshtein() <= k` — is |A|×|B| and
dead at scale. This is the standard q-gram blocking rewrite:

1. q-gram signature per key (positional q-grams, padded so short keys
   still block) — map-only JVM expressions;
2. candidate generation through the SAME df-capped posting-list
   blocking as the dedup family (a q-gram in thousands of keys is a
   stop-gram; the cap drops it from pair generation only);
3. count filter: two strings within edit distance k share at least
   max(|a|,|b|) - 1 - (k-1)·q q-grams (Gravano et al., VLDB 2001) —
   candidates below the bound never reach the verifier;
4. exact `levenshtein` verification on the surviving candidates only;
5. short-key stratum (max(len) <= q·(k-1)+1, where the count bound
   degenerates below 1 and a within-distance pair may share NO q-gram)
   handled by an exact length-blocked fallback join instead of the
   gram path — so short keys are covered, not silently dropped.

That gram path serves max_distance >= 3 and long-key d=2 corpora. Edit
distance 1, and 2 on keys of at most ``FASTSS_MAX_LEN`` characters, run
the exact FastSS deletion-neighborhood join instead; `fuzzy_join` picks
the route itself (`_route`: one max-length probe at d=2).

Every stage is built-in expressions (xxhash64, explode, groupBy,
levenshtein) — no Python in the plan. Output is exact: identical to the
cross-join formulation for all pairs within the threshold (the q-gram
count bound is a guaranteed NO-false-negative filter; the max_df cap is
the one documented approximation, same contract as `jaccard_pairs`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dbbspark.functions import sql_ident


def _qgrams(col: str, q: int) -> str:
    """SQL for the positional q-gram array of a padded key: the string
    is framed with q-1 '#' / '$' sentinels (Gravano et al. §3) so
    prefixes/suffixes block too; grams carry their position so repeated
    grams in one key count separately."""
    padded = f"concat(repeat('#', {q - 1}), lower({col}), repeat('$', {q - 1}))"
    return (
        f"transform(sequence(1, length({padded}) - {q - 1}), "
        f"i -> struct(xxhash64(substring({padded}, i, {q})) AS g, i AS p))"
    )


def _deletion_variants_sql(k: str, max_deletions: int) -> str:
    """SQL for the xxhash64'd ≤``max_deletions``-deletion neighborhood
    of lowered key expression ``k`` (the FastSS index set): the key
    itself, every single deletion, and — at 2 — every deletion of two
    positions i < j. Sizes: L+1 variants at 1, 1 + L + L(L-1)/2 at 2 —
    O(L²) but tiny for the filename/URL-length keys reconciliation
    joins on. Variants travel as xxhash64 longs (narrow shuffle); a
    hash collision only admits an extra CANDIDATE, which the
    levenshtein verifier discards — output unaffected."""
    del1 = (
        f"concat(substring({k}, 1, i - 1), "
        f"substring({k}, i + 1, length({k})))"
    )
    # delete positions i < j: [1..i-1] + [i+1..j-1] + [j+1..L]
    del2 = (
        f"concat(substring({k}, 1, i - 1), "
        f"substring({k}, i + 1, j - i - 1), "
        f"substring({k}, j + 1, length({k})))"
    )
    parts = [
        f"array(xxhash64({k}))",
        # guard: sequence(1, 0) would DESCEND, not return empty
        f"CASE WHEN length({k}) >= 1 THEN "
        f"transform(sequence(1, length({k})), i -> xxhash64({del1})) "
        f"ELSE CAST(array() AS array<bigint>) END",
    ]
    if max_deletions >= 2:
        parts.append(
            f"CASE WHEN length({k}) >= 2 THEN "
            f"flatten(transform(sequence(1, length({k}) - 1), "
            f"i -> transform(sequence(i + 1, length({k})), "
            f"j -> xxhash64({del2})))) "
            f"ELSE CAST(array() AS array<bigint>) END"
        )
    return f"array_distinct(concat({', '.join(parts)}))"


def _fastss_join(
    a: DataFrame,
    b: DataFrame,
    key: str,
    max_distance: int,
    id_a: str = "id_a",
    id_b: str = "id_b",
    distinct: bool = True,
    respread: bool = True,
) -> DataFrame:
    """EXACT edit-distance-≤k join (k ∈ {1, 2}) via deletion-neighborhood
    blocking (the FastSS scheme): index each key's ≤k-deletion set and
    join on shared variants. Two strings within edit distance k ALWAYS
    share a ≤k-deletion variant (align them under an optimal ≤k-op edit
    script and delete each string's unmatched characters — at most k per
    side — leaving the common subsequence in both neighborhoods), so the
    blocking has NO false negatives; shared variants reach up to
    distance 2k, which the levenshtein verifier trims exactly. Unlike
    the q-gram path this has NO degenerate corpus: serial/padded keys
    whose only distinguishing characters sit in a sea of shared hub
    grams (where gram blocking must either cap hubs — losing pairs — or
    go quadratic) block on small wildcard buckets instead. Same output
    contract/columns as `fuzzy_join`."""
    if max_distance not in (1, 2):
        raise ValueError("_fastss_join supports max_distance 1 or 2")

    def variants(df: DataFrame, idc: str, tag: str) -> DataFrame:
        k = f"lower({sql_ident(key)})"
        src = df.where(F.col(sql_ident(key)).isNotNull())
        if respread:
            # re-spread first: bulk-drift corpora often arrive in a
            # couple of post-AQE partitions, which would serialize the
            # variant explode + hash onto two cores (narrow rows — the
            # shuffle is trivial at any scale). Residual-sized callers
            # (fuzzy_reconcile) pass respread=False: two exchanges (= two
            # AQE jobs) buy parallelism a <2k-row side never uses.
            src = src.repartition(F.col(idc))
        return (
            src
            .select(
                F.col(idc).alias(f"_{tag}id"),
                F.expr(k).alias(f"_{tag}key"),
                F.explode(
                    F.expr(_deletion_variants_sql(k, max_distance))
                ).alias("_vh"),
            )
        )

    pairs = (
        variants(a, id_a, "a")
        .join(variants(b, id_b, "b"), "_vh")
        .where(F.levenshtein("_akey", "_bkey") <= max_distance)
    )
    if distinct:
        # a pair sharing several deletion variants appears once per
        # shared variant; callers that aggregate per key immediately
        # (fuzzy_reconcile's min_by greedy) pass distinct=False and
        # absorb the duplicates there — one fewer pair-stream exchange
        pairs = pairs.dropDuplicates(["_aid", "_bid"])
    return pairs.select(
        F.col("_aid").alias(id_a),
        F.col("_bid").alias(id_b),
        F.col("_akey").alias("key_a"),
        F.col("_bkey").alias("key_b"),
        F.levenshtein("_akey", "_bkey").alias("distance"),
    )


# Longest key (either side) for which a max_distance=2 join takes the
# FastSS route: a 2-deletion neighborhood is 1 + L + L(L-1)/2 variants
# per key (~2k at L=64); longer keys take the capped gram path.
FASTSS_MAX_LEN = 64


def _route(a: DataFrame, b: DataFrame, key: str, max_distance: int) -> str:
    """'fastss' or 'grams' for this (corpus, distance): FastSS for
    d <= 2 UNLESS max_distance == 2 AND the longest key (one max-length
    aggregation over the two narrow key columns) exceeds
    ``FASTSS_MAX_LEN``. The O(L^d) deletion-neighborhood cliff the bound
    guards against only exists at d=2 (L² variants per key); at d=1 the
    neighborhood is just L+1 variants — comparable to the gram path's
    own posting volume — so d=1 stays exact regardless of key length
    (ADVICE r6: the capped-hub gram path can DROP true pairs via
    max_df, a silent downgrade from the always-exact d=1 FastSS
    route)."""
    if max_distance > 2:
        return "grams"
    if max_distance <= 1:
        return "fastss"
    lens = (
        a.select(F.length(F.col(key)).alias("_l"))
        .unionByName(b.select(F.length(F.col(key)).alias("_l")))
        .agg(F.max("_l"))
        .first()[0]
    )
    return "fastss" if (lens or 0) <= FASTSS_MAX_LEN else "grams"


def fuzzy_join(
    a: DataFrame,
    b: DataFrame,
    key: str,
    max_distance: int = 2,
    q: int = 3,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_df: int | None = 1000,
    distinct: bool = True,
    respread: bool = True,
) -> DataFrame:
    """(id_a, id_b, key_a, key_b, distance) for all cross-table pairs
    with ``levenshtein(key_a, key_b) <= max_distance``.

    Inputs: `a` with column ``id_a`` and `key`; `b` with ``id_b`` and
    `key`. NULL keys never match. The count bound prunes candidates
    BEFORE the Levenshtein verifier; the verifier prunes to the exact
    answer. `max_df` caps posting hubs (stop-grams) — the documented
    approximation for dirty corpora where some q-gram is near-universal.

    d=0 is a plain lowered equi join. d=1 always, and d=2 when the
    corpus's longest key is at most ``FASTSS_MAX_LEN``, take the FastSS
    deletion-neighborhood join (`_fastss_join`): EXACT with no cap and
    no hub pathology — on padded serial keys ('DECam_00000005…') the
    gram path's only distinguishing grams drown in capped hubs, while
    deletion-variant buckets stay small. The capped gram path below
    serves max_distance >= 3 (where the deletion neighborhood is
    O(L³)+) and long-key d=2 corpora — there ``max_df`` remains the
    documented approximation.

    SCALE NOTE for the FastSS route at d=2: the 2-deletion neighborhood
    is 1 + L + L(L−1)/2 variants per key — right-sized for the filename/
    serial keys reconciliation joins on (L≈20 → ~200), but a CLIFF for
    long keys (L=150 URLs → ~11k variants/key), where ``max_df`` is
    also silently irrelevant. A d=2 join therefore PROBES the longest
    key (one max-length aggregation over the narrow key columns,
    `_route`) and takes the capped gram path past the bound instead of
    silently exploding.
    """
    if max_distance == 0:
        ak = a.select(
            F.col(id_a), F.lower(F.col(key)).alias("key_a")
        ).where(F.col("key_a").isNotNull())
        bk = b.select(
            F.col(id_b), F.lower(F.col(key)).alias("key_b")
        ).where(F.col("key_b").isNotNull())
        return ak.join(bk, ak.key_a == bk.key_b).select(
            id_a, id_b, "key_a", "key_b", F.lit(0).alias("distance")
        )
    if _route(a, b, key, max_distance) == "fastss":
        return _fastss_join(
            a, b, key, max_distance, id_a, id_b, distinct, respread
        )
    def side(df: DataFrame, idc: str, tag: str) -> DataFrame:
        return (
            df.select(
                F.col(idc).alias(f"_{tag}id"),
                F.lower(F.col(key)).alias(f"_{tag}key"),
            )
            .where(F.col(f"_{tag}key").isNotNull())
            .select(
                f"_{tag}id",
                f"_{tag}key",
                F.length(f"_{tag}key").alias(f"_{tag}len"),
                F.explode(F.expr(_qgrams(f"_{tag}key", q))).alias("qp"),
            )
            .select(
                f"_{tag}id",
                f"_{tag}key",
                f"_{tag}len",
                F.col("qp.g").alias("g"),
                F.col("qp.p").alias(f"_{tag}p"),
            )
        )

    am = side(a, id_a, "a")
    bm = side(b, id_b, "b")
    if max_df is not None:
        # Stop-gram cap BEFORE pair generation: drop hub grams from the
        # mention streams (df over both sides combined), mirroring
        # jaccard_pairs' contract — hubs never reach the join. BUT the
        # count bound below must then be relaxed by how many grams each
        # key LOST to the cap: the bound reasons about the full gram
        # multiset, and comparing a capped shared-count against the
        # uncapped bound silently rejects true matches (measured: the
        # identical-key half of a 50k benchmark vanished because ~3
        # first-position grams per key were hubs). _adrop/_bdrop carry
        # the per-key loss; a dropped gram removes at most one shared
        # match per occurrence, so bound - _adrop - _bdrop is safe.
        df_counts = (
            am.select("g").unionByName(bm.select("g")).groupBy("g").agg(
                F.count("*").alias("_df")
            )
        )
        keep = df_counts.where(F.col("_df") <= max_df).select("g")
        am = am.join(keep, "g")
        bm = bm.join(keep, "g")
        akept = am.groupBy("_aid").agg(F.count("*").alias("_akept"))
        bkept = bm.groupBy("_bid").agg(F.count("*").alias("_bkept"))

    # Positional pre-blocking: replicate the b side to positions
    # p ± 0..k and equi-join on (g, p) — join groups are true positional
    # collisions only. The gram-only join enumerates df_a × df_b per
    # gram and discards ~(1 - (2k+1)/len) of it in a post-join filter;
    # measured 87 s (gram-only) vs 8.2 s (this shape, whole operator)
    # at the 50k × 50k benchmark. Mentions carry the key strings so the
    # verifier needs no join-back — right for the short keys edit
    # distance is meant for; if keys were long, hash ids through the
    # pair stream and re-join keys for the verify step instead.
    bx = bm.select(
        "_bid", "_bkey", "_blen", "g",
        F.explode(
            F.sequence(
                F.col("_bp") - max_distance, F.col("_bp") + max_distance
            )
        ).alias("_ap"),
    )
    cand = am.join(bx.hint("shuffle_merge"), ["g", "_ap"])
    counted = cand.groupBy("_aid", "_bid", "_akey", "_bkey", "_alen", "_blen").agg(
        F.count("*").alias("_shared")
    )
    # Gravano bound: strings within distance k share >=
    # max(len) + (q-1) - k*q positional grams of the padded strings
    # (padded length = len + q - 1; each edit destroys <= q grams).
    bound = (
        F.greatest("_alen", "_blen") + F.lit(q - 1) - F.lit(max_distance * q)
    )
    if max_df is not None:
        counted = counted.join(akept, "_aid").join(bkept, "_bid")
        full_a = F.col("_alen") + F.lit(q - 1)
        full_b = F.col("_blen") + F.lit(q - 1)
        bound = bound - (full_a - F.col("_akept")) - (full_b - F.col("_bkept"))
    # Short-key split: when max(len_a, len_b) <= `short`, the Gravano
    # bound is < 1 — such a pair may share ZERO positional grams (e.g.
    # ('a','b') at k=1) yet still be within distance, so requiring >= 1
    # shared gram (which the blocking join implicitly does) would miss
    # it. Those pairs go through an exact length-blocked fallback below;
    # the gram path keeps every pair the bound actually covers.
    short = q * (max_distance - 1) + 1
    survivors = counted.where(
        (F.col("_shared") >= F.greatest(bound, F.lit(1)))
        & (F.greatest("_alen", "_blen") > short)
    )
    verified = survivors.where(
        F.levenshtein("_akey", "_bkey") <= F.lit(max_distance)
    )

    def keys_only(df: DataFrame, idc: str, tag: str) -> DataFrame:
        return (
            df.select(
                F.col(idc).alias(f"_{tag}id"),
                F.lower(F.col(key)).alias(f"_{tag}key"),
            )
            .where(F.col(f"_{tag}key").isNotNull())
            .withColumn(f"_{tag}len", F.length(f"_{tag}key"))
        )

    # Exact fallback for the short×short stratum: keys of length <= short
    # (<= q·(k-1)+1 chars — a few characters; the stratum is tiny in any
    # real corpus and bounded by the alphabet at these lengths). Length
    # blocking keeps it an equi-join: the b side replicates to each
    # plausible a-length (|len_a - len_b| <= k is necessary for distance
    # <= k), then Levenshtein verifies exactly.
    a_short = keys_only(a, id_a, "a").where(F.col("_alen") <= short)
    b_short = keys_only(b, id_b, "b").where(F.col("_blen") <= short)
    # Lower bound clamps to 0, not 1: an empty a-side key (_alen = 0) is a
    # legal match (distance = len(b)) and must stay joinable.
    bx_short = b_short.withColumn(
        "_alen",
        F.explode(
            F.sequence(
                F.greatest(F.col("_blen") - max_distance, F.lit(0)),
                F.col("_blen") + max_distance,
            )
        ),
    ).where(F.col("_alen") <= short)
    short_pairs = a_short.join(bx_short, "_alen").where(
        F.levenshtein("_akey", "_bkey") <= F.lit(max_distance)
    )

    out_cols = [
        F.col("_aid").alias(id_a),
        F.col("_bid").alias(id_b),
        F.col("_akey").alias("key_a"),
        F.col("_bkey").alias("key_b"),
        F.levenshtein("_akey", "_bkey").alias("distance"),
    ]
    return verified.select(*out_cols).unionByName(short_pairs.select(*out_cols))
