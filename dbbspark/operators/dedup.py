"""Deduplication operators (SURVEY.md §2.11 C1/C2; generalizes the
reference's registry duplicate gate J8/ST8).

Scale design notes (100 TB):
- exact dedup: one shuffle on the content hash; the hash (sha256) is
  computed scan-side so only (hash, key) columns shuffle, never content.
- shingle/MinHash/SimHash: everything is expression-level (split/
  transform/aggregate → whole-stage codegen). Hashing uses md5-derived
  integers so results are engine-portable AND stable across runs/cluster
  sizes (no JVM hashCode, no Python hash seeding).
- LSH banding turns the O(n²) pair space into an equi-join on
  (band_id, band_signature) — candidate pairs only; at 100 TB the band
  join is a shuffle on band buckets, salted if a bucket is hot.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from dbbspark.functions import sql_ident
from dbbspark.session import collect_if_small, cut_lineage

# 31-bit Mersenne prime for the Carter-Wegman permutations: with 28-bit
# base hashes (7 md5 hex digits) and a,b < 2^31, a*h+b < 2^60 — no int64
# overflow in either engine (Spark ANSI mode errors on long overflow).
MERSENNE_31 = (1 << 31) - 1


def sha_dedup_keep_first(df: DataFrame, text_col: str, key_col: str) -> DataFrame:
    """Exact dedup: keep the lowest-key row per sha256(text) — a
    deterministic winner, unlike dropDuplicates (SURVEY.md §7).

    PRECONDITION (r14, ADVICE r13): ``key_col`` must be UNIQUE and
    NON-NULL across rows with non-null text. The winner re-attaches by
    semi-joining on the key ALONE (so the text payload never has to be
    re-hashed or shuffled on the probe side); with duplicate keys a
    non-winner row would be kept whenever its key wins some OTHER sha
    group, and an all-NULL-key sha group would vanish (min(key) NULL).
    Every in-repo caller passes a primary-key id (doc_id); callers with
    non-unique keys must dedup the key first or use the row_number
    window form.

    NULL texts are not duplicates of one another (same stance as
    urls.dedup_by_url: an unknown equals nothing) — they are all kept,
    and they never enter the winner aggregation at all.

    r13 shape (optimization guide §8 "decide with small rows, move big
    rows once"): the old row_number window shuffled EVERY text payload
    to co-locate sha groups, but the keep/drop decision only needs
    (sha, key) — ~40 narrow bytes per row. The winner per sha is now a
    map-side-partial-aggregated ``groupBy(sha).min(key)`` (duplicate
    texts collapse before the exchange, no sort), and the winning keys
    re-attach via a left-semi join that AQE converts to broadcast when
    the winner set is small — locally the text column never crosses an
    exchange; at cluster scale the planner's sort-merge fallback
    shuffles text once, which is what the window form always paid on
    top of the narrow decision shuffle. Values are identical: one
    deterministic lowest-key row per distinct text, all NULL-text rows
    kept (the old NULL salt existed only to spread nulls across window
    tasks; nulls now bypass the aggregation entirely, so the skew it
    guarded against cannot arise)."""
    h = F.sha2(F.col(text_col).cast("binary"), 256)
    winners = (
        df.where(F.col(text_col).isNotNull())
        .select(h.alias("__h"), F.col(key_col))
        .groupBy("__h")
        .agg(F.min(key_col).alias(key_col))
        .select(key_col)
    )
    return df.join(winners, key_col, "left_semi").unionByName(
        df.where(F.col(text_col).isNull())
    )


def tokens_col(text_col: str) -> Column:
    """Whitespace token array of a text column (the shared tokenizer
    every dedup/sketch operator and its DuckDB oracle agree on)."""
    return F.split(F.col(text_col), " ")


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct n-token shingles from a token ARRAY column (JVM
    higher-order functions; no UDF).

    ``toks`` must be a materialized column reference, NOT an inline
    `split(...)` expression: interpreted lambda evaluation has no common-
    subexpression elimination, so an inline expression would re-split the
    text for every element_at — measured ~10× slower."""
    n_sh = F.size(toks) - (n - 1)
    # Guard: sequence(1, 0) in Spark generates a DESCENDING [1, 0], which
    # would index past the array on docs shorter than the shingle width —
    # short docs get an empty shingle set instead.
    idx = F.when(n_sh >= 1, F.sequence(F.lit(1), n_sh)).otherwise(
        F.array().cast("array<int>")
    )
    shingle = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, i + k) for k in range(n)]
    )
    return F.array_distinct(F.transform(idx, shingle))


def shingle_docs(
    docs: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(doc, shingles array<string>) with the token split projected once
    per row before shingling (see shingles_from_tokens note).

    Docs shorter than the shingle width are dropped HERE via the cheap
    `size(tokens) >= n` predicate. Filtering later on `size(shingles)`
    would make Catalyst's constraint propagation re-evaluate the whole
    shingle transform inside the pushed-down Filter — the shingle array is
    then built twice per row (observed in .explain: the Filter condition
    carries the full transform/concat_ws tree)."""
    return (
        docs.select(F.col(id_col).alias("doc"), tokens_col(text_col).alias("__toks"))
        .where(F.size("__toks") >= n)
        .select("doc", shingles_from_tokens(F.col("__toks"), n).alias("shingles"))
    )


def shingle_hash_docs(
    docs: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(doc, n_sh, hs array<long>) — distinct n-token shingles as
    INTERNAL 64-bit hashes, without ever building the shingle strings
    (r14, guide §4.1 per-task work).

    `shingle_docs` + transform(xxhash64) builds ~L concat_ws strings per
    doc only to hash them, and runs array_distinct over those strings —
    all interpreted lambda work. Here each position hashes its token
    TUPLE directly (multi-arg xxhash64) and array_distinct runs over
    longs. Equality classes are unchanged: tokens come from
    split(text, ' ') so they are space-free, which makes
    concat_ws(' ', t_i..t_{i+n-1}) INJECTIVE on token tuples — two
    positions had equal shingle strings iff they have equal tuples. The
    only semantic delta is WHICH 64-bit internal hash may collide
    (tuple-hash vs hash-of-string), the same ~(distinct)²/2⁶⁵ risk
    jaccard_pairs already accepts and documents; n_sh (the exact Jaccard
    denominator) now counts distinct hashes, identical to distinct
    strings except under such a collision. Pair-set identity and per-doc
    n_sh equality vs the string front verified at sf0.1
    (plans/r14/probe_shingle_tuplehash.py: 256/256 pairs, 0 n_sh diffs;
    interleaved full-pipeline A/B 1.50 → 1.12 s best-of-7).

    ONLY for consumers whose hashes stay internal (jaccard_pairs,
    _kept_shingle_hashes, the purity audit): minhash/simhash/scrub keep
    md5-derived STRING hashes because theirs are output values the
    DuckDB oracle must reproduce."""
    toks = F.col("__toks")
    n_pos = F.size(toks) - (n - 1)
    # same sequence(1, 0)-descends guard as shingles_from_tokens
    idx = F.when(n_pos >= 1, F.sequence(F.lit(1), n_pos)).otherwise(
        F.array().cast("array<int>")
    )
    th = lambda i: F.xxhash64(  # noqa: E731
        *[F.element_at(toks, i + k) for k in range(n)]
    )
    return (
        docs.select(F.col(id_col).alias("doc"), tokens_col(text_col).alias("__toks"))
        .where(F.size("__toks") >= n)
        .select("doc", F.array_distinct(F.transform(idx, th)).alias("hs"))
        .select("doc", F.size("hs").alias("n_sh"), "hs")
    )


def MD5_INT_SQL(expr: str, hex_digits: int = 15) -> str:
    """DuckDB SQL for the md5-derived integer `MD5_INT_SPARK_SQL`
    computes — the cross-engine hash both sides of every oracle share."""
    return f"CAST(('0x' || substr(md5({expr}), 1, {hex_digits})) AS BIGINT)"


def MD5_INT_SPARK_SQL(expr: str, hex_digits: int = 15) -> str:
    """Engine-portable string→int hash as Spark SQL text over the SQL
    expression ``expr``: the first `hex_digits` hex chars of md5 as a
    bigint (15 hex digits < 2^60, fits signed 64-bit in both Spark and
    DuckDB). The one Spark-side definition of the hash: Column call
    sites wrap it in ``F.expr``, generated-SQL builders interpolate it."""
    return (
        f"CAST(conv(substring(md5(CAST({expr} AS BINARY)), 1, "
        f"{hex_digits}), 16, 10) AS BIGINT)"
    )


def md5_int_py(s: str, hex_digits: int = 15) -> int:
    """Python twin of `MD5_INT_SPARK_SQL` over an UTF-8 string — the counted
    driver regimes' hash (r13): a driver-side gate (e.g. the purity
    stratum coin in q_dedup_clusters) computes the same portable
    md5-int without paying a Spark job on an already-local relation.
    Equality with the Spark expression is pinned in tests/test_dedup.py."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:hex_digits], 16)


def minhash_signatures(
    docs: DataFrame, id_col: str, text_col: str, num_perm: int = 16, shingle_n: int = 3
) -> DataFrame:
    """(id, perm, minhash) — MinHash over md5-hashed shingles with the
    standard (a*h + b) mod p permutation family, a/b derived from the perm
    index (deterministic, engine-portable).

    Entirely map-side: the per-permutation min folds over the doc's
    shingle-hash ARRAY (array_min ∘ transform), so no explode×perm
    blow-up and NO shuffle — at 100 TB the signature pass is a single
    scan. Docs with no shingles (shorter than the shingle width) emit no
    rows, matching the exploded formulation."""
    sh = shingle_docs(docs, id_col, text_col, shingle_n).select(
        "doc",
        F.expr(f"transform(shingles, s -> {MD5_INT_SPARK_SQL('s', 7)})").alias("hs"),
    )
    # One generated SQL expression instead of num_perm nested Column
    # builders: the whole signature array parses JVM-side in a single
    # expr() call (the Column-by-Column form costs ~1s of py4j round
    # trips at plan-build time for 16 permutations).
    entries = []
    for p in range(num_perm):
        # a must be non-zero; same coefficients as the SQL oracle.
        a = ((p * 2 + 1) * 40503) % MERSENNE_31
        b = ((p + 1) * 86028121) % MERSENNE_31
        entries.append(
            f"struct(CAST({p} AS BIGINT) AS perm, "
            f"array_min(transform(hs, h -> ({a}L * h + {b}L) % {MERSENNE_31}L)) "
            f"AS minhash)"
        )
    sig = F.explode(F.expr("array(" + ", ".join(entries) + ")")).alias("e")
    return sh.select("doc", sig).select(
        "doc", F.col("e.perm").alias("perm"), F.col("e.minhash").alias("minhash")
    )


def _band_signatures(
    signatures: DataFrame, bands: int, rows_per_band: int
) -> DataFrame:
    """(doc, band, sig): the banded signature string each LSH bucket keys
    on — one row per (doc, band).

    This is the ROW-FORM path, for callers that already hold a persisted
    (doc, perm, minhash) signature table (the incremental-dedup index).
    When starting from raw documents, `minhash_band_signatures` builds the
    same relation map-side with no shuffle — prefer it."""
    banded = signatures.withColumn("band", (F.col("perm") / rows_per_band).cast("int"))
    return banded.groupBy("doc", "band").agg(
        F.concat_ws(",", F.sort_array(F.collect_list(F.col("minhash")))).alias("sig")
    )


def minhash_band_signatures(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    bands: int = 4,
    rows_per_band: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """(doc, band, sig) straight from documents, entirely MAP-SIDE.

    Value-identical to `_band_signatures(minhash_signatures(...))` —
    same permutation family, same value-sorted within-band signature
    string (so the DuckDB oracle is shared) — but the per-band mins fold
    over the doc's shingle-hash array in one projection instead of
    exploding to (doc, perm, minhash) rows and re-grouping. That removes
    the groupBy(doc, band) shuffle entirely: the ONLY shuffle in a
    docs→candidate-pairs LSH run is the bucket groupBy. At 100 TB the
    eliminated exchange is num_perm longs per document. Measured ~15%
    faster end-to-end at sf0.1 (1.5 s → 1.27 s)."""
    sh = shingle_docs(docs, id_col, text_col, shingle_n).select(
        "doc",
        F.expr(f"transform(shingles, s -> {MD5_INT_SPARK_SQL('s', 7)})").alias("hs"),
    )

    def min_expr(p: int) -> str:
        a = ((p * 2 + 1) * 40503) % MERSENNE_31
        b = ((p + 1) * 86028121) % MERSENNE_31
        return f"array_min(transform(hs, h -> ({a}L * h + {b}L) % {MERSENNE_31}L))"

    structs = []
    for b in range(bands):
        mins = ", ".join(min_expr(b * rows_per_band + r) for r in range(rows_per_band))
        structs.append(
            f"struct({b} AS band, array_join(array_sort(array({mins})), ',') AS sig)"
        )
    e = F.explode(F.expr("array(" + ", ".join(structs) + ")")).alias("e")
    return sh.select("doc", e).select("doc", "e.band", "e.sig")


def lsh_candidate_pairs(
    signatures: DataFrame, bands: int = 4, rows_per_band: int = 4
) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) of docs sharing an LSH
    bucket — the step that makes near-dedup linear-ish: only same-bucket
    docs are compared.

    Pairs come from bucket POSTING LISTS (groupBy (band, sig) →
    sorted doc list → in-array upper-triangle), not a band_sig self-join:
    the self-join evaluates the banding aggregate once per branch and
    shuffles both, measured ~2× slower at sf0.1. A bucket of n docs still
    emits C(n,2) pairs — that is LSH's contract (same-bucket docs ARE
    candidates); exact-dup storms that would make a bucket huge belong to
    the sha dedup stage that runs before near-dedup."""
    return _pairs_from_band_sigs(_band_signatures(signatures, bands, rows_per_band))


def _pairs_from_band_sigs(band_sig: DataFrame) -> DataFrame:
    buckets = (
        band_sig.groupBy("band", "sig")
        .agg(F.sort_array(F.collect_list("doc")).alias("ds"))
        .where(F.size("ds") >= 2)
    )
    # r13: stacked explodes instead of the interpreted in-array
    # transform combos — both Generate nodes codegen; same pair
    # multiset (bucket docs are unique, so the value predicate IS the
    # upper triangle).
    return (
        buckets.select(F.explode("ds").alias("doc_a"), "ds")
        .select("doc_a", F.explode("ds").alias("doc_b"))
        .where(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )


def lsh_candidate_pairs_direct(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    bands: int = 4,
    rows_per_band: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """docs → LSH candidate pairs with map-side banding
    (`minhash_band_signatures`): one shuffle (the bucket groupBy) end to
    end. Same output relation as
    `lsh_candidate_pairs(minhash_signatures(docs, ...))`."""
    return _pairs_from_band_sigs(
        minhash_band_signatures(docs, id_col, text_col, bands, rows_per_band, shingle_n)
    )


def lsh_incremental_pairs(
    new_sigs: DataFrame,
    corpus_sigs: DataFrame,
    bands: int = 4,
    rows_per_band: int = 4,
    corpus_band_bloom: list[int] | None = None,
    corpus_banded: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs for an INCREMENTAL batch against an
    existing corpus — the rolling-crawl shape: a new batch must be
    deduped against everything already ingested without ever re-pairing
    the corpus against itself.

    Both inputs are (doc, perm, minhash) signature tables
    (`minhash_signatures`); the corpus side is the persisted signature
    table a production pipeline maintains (append each accepted batch —
    signatures are ~num_perm longs per doc, the compact dedup index).
    Output: (doc_a, doc_b, against) where against ∈ {'corpus', 'new'} —
    new×corpus collisions plus new×new collisions, NEVER corpus×corpus.

    Scale: the band join touches only buckets a NEW doc lands in — cost
    scales with |new| + collided corpus postings, not |corpus|². At
    billions of corpus docs, persist the BANDED form — (doc, band, sig),
    built once by `_band_signatures`/`minhash_band_signatures` and
    written via `bucketing.write_bucketed` on ["band", "sig"] — and pass
    it with ``corpus_banded=True``: the per-trigger join then skips the
    corpus-side banding groupBy entirely AND reads the corpus already
    co-located on its join keys, so only the batch side shuffles
    (identical candidates, pinned).

    ``corpus_band_bloom`` (an operators.bloom word table over the
    corpus's xxhash64(band, sig) bucket keys) drops new-side band rows
    the filter proves have NO corpus collision before the join — on a
    healthy crawl that's most of them. False positives just take the
    join (and find nothing); false negatives can't happen, so the
    candidate set is identical with or without the filter."""
    new_b = _band_signatures(new_sigs, bands, rows_per_band)
    if corpus_band_bloom is not None:
        from .bloom import might_contain

        new_b = (
            might_contain(
                new_b.withColumn("__bk", F.xxhash64("band", "sig")),
                corpus_band_bloom,
                "__bk",
            )
            .where(F.col("maybe_known"))
            .drop("maybe_known", "__bk")
        )
    if corpus_banded:
        missing = {"doc", "band", "sig"} - set(corpus_sigs.columns)
        if missing:
            raise ValueError(
                f"corpus_banded=True needs columns {sorted(missing)} "
                "(build with _band_signatures / minhash_band_signatures)"
            )
        corp_b = corpus_sigs.select("doc", "band", "sig")
    else:
        corp_b = _band_signatures(corpus_sigs, bands, rows_per_band)
    vs_corpus = (
        new_b.alias("a")
        .join(
            corp_b.alias("b"),
            (F.col("a.band") == F.col("b.band")) & (F.col("a.sig") == F.col("b.sig")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.lit("corpus").alias("against"),
        )
        .distinct()
    )
    vs_new = lsh_candidate_pairs(new_sigs, bands, rows_per_band).withColumn(
        "against", F.lit("new")
    )
    return vs_corpus.unionByName(vs_new)


def jaccard_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via shared-shingle blocking.

    Shape (r13, joinless): the exploded (doc, shingle) relation is
    grouped into per-shingle posting lists (`groupBy(shingle).
    collect_list`), df-capped, and the upper-triangle pairs come
    STRAIGHT off each kept posting list via two stacked `explode`s plus
    an a<b filter — both Generate nodes run in whole-stage codegen, and
    there is NO mention-stream self-join, no second shuffle, no sort,
    and no lineage-cut job (the r7-r12 form self-joined a checkpointed
    kept-mention stream on the shingle hash; with the join gone neither
    of its historical failure modes — AQE mis-broadcasting the full
    mention stream, or the checkpoint re-executing per consumer — can
    recur, pinned by the zero-Join plan test in tests/test_plans.py).
    Pair volume is unchanged (Σ df² per kept shingle, df ≤ max_df, so
    per-task fan-out stays bounded exactly as the join's hot key was);
    the sf1 A/B read 3.3 s vs the join form's 26 s on the 10× dup-heavy
    fixture. One shingle computation, one shuffle of (doc, shingle),
    pair blow-up still bounded by the hottest kept posting list.

    `max_df` caps that bound and is ON BY DEFAULT: a shingle appearing in
    more docs than the cap is background vocabulary (standard df-pruning)
    and would otherwise generate df² pairs in one task — at 100 TB a
    single boilerplate shingle shared by 10⁶ docs means 10¹² pairs.
    Dropped shingles reduce pair INTERSECTION counts only (set sizes stay
    exact), so capped Jaccard is a lower bound — near-dups still surface
    through their many rare shared shingles. `max_df=None` restores exact
    semantics for small/verification inputs; the oracle SQL of the
    declared queries mirrors the cap so both engines compute the same
    capped relation (tests/test_dedup.py pins the hot-shingle bound).

    Set sizes (Jaccard denominators) ride the posting structs as
    `size(shingles)` — known map-side BEFORE the cap because shingles are
    distinct per doc, so cardinalities stay exact under df-pruning. They
    flow (doc, n_sh) through the posting lists, the checkpoint, and the
    pair groupBy, which removes the two sizes joins (and their two extra
    pipeline evaluations) an aggregate-then-join formulation costs; the
    pair stream widens from two longs to four, a fair trade measured
    ~20% faster end-to-end at sf0.1 (2.0 s → 1.6 s).

    Shingles are 64-bit-hashed BEFORE the explode: the mention stream —
    the operator's widest shuffle — carries (doc, hash) longs instead of
    ~25-byte shingle strings (~20% faster end-to-end at sf0.1). r14 goes
    one step further: the shingle STRINGS are never built at all —
    `shingle_hash_docs` hashes each token tuple directly (equality
    classes identical; see its docstring). The hash is internal only
    (outputs are doc pairs); a 64-bit collision would merge two
    shingles' postings, with probability ~(distinct shingles)²/2⁶⁵ —
    ~10⁻⁴ even at 10⁸ distinct shingles, and it could only perturb one
    pair's intersection count by 1. minhash/simhash keep md5-derived
    hashes instead because THEIR hashes are the output values and must
    reproduce across engines."""
    sh = shingle_hash_docs(docs, id_col, text_col, shingle_n)
    mentions = sh.select("doc", "n_sh", F.explode("hs").alias("shingle"))
    # Unsorted collect_list: the self-join below orders pairs with a
    # doc_a < doc_b predicate, so a per-posting sort is pure overhead
    # (measured ~10% of the pipeline at sf0.1).
    postings = mentions.groupBy("shingle").agg(
        F.collect_list(F.struct("doc", "n_sh")).alias("ds")
    )
    kept = postings.where(F.size("ds") >= 2)
    if max_df is not None:
        kept = kept.where(F.size("ds") <= max_df)
    # r13: upper-triangle pairs straight off each posting list with TWO
    # stacked explodes — both Generate nodes run in whole-stage codegen
    # (unlike the interpreted in-array `transform` combos this operator
    # originally rejected), and the mention-stream SELF-JOIN the r7-r12
    # shape paid is gone: no lazy checkpoint (the posting pipeline has
    # ONE consumer again), no second shuffle of the mention stream, no
    # sort-merge sorts — the pair stream goes Generate → Generate →
    # Filter → partial-agg inside the postings aggregation's stage. The
    # emitted pair volume is unchanged (Σ df² per kept shingle, df ≤
    # max_df, so one posting row fans out ≤ C(max_df, 2) filtered pairs
    # — bounded per task exactly as the join's hot key was).
    inter = (
        kept.select(F.explode("ds").alias("sa"), "ds")
        .select("sa", F.explode("ds").alias("sb"))
        .where(F.col("sa.doc") < F.col("sb.doc"))
        .select(
            F.col("sa.doc").alias("doc_a"),
            F.col("sa.n_sh").alias("na"),
            F.col("sb.doc").alias("doc_b"),
            F.col("sb.n_sh").alias("nb"),
        )
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count("*").alias("inter"))
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return inter.where(jac >= threshold).select("doc_a", "doc_b")


def _kept_shingle_hashes(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    max_df: int | None,
) -> DataFrame:
    """(doc, na, ksh): full distinct-shingle count plus the kept-shingle
    hash list — the capped-Jaccard verification state `jaccard_pairs_lsh`
    intersects per candidate. Intersections count only shingles with
    2 ≤ df ≤ max_df; `na` stays the FULL size, so capped Jaccard is a
    lower bound (see jaccard_pairs). Hashes come from
    `shingle_hash_docs` (r14) — internal-only, same equality classes as
    the string shingles, no string construction."""
    sh = shingle_hash_docs(docs, id_col, text_col, shingle_n)
    mentions = sh.select("doc", F.explode("hs").alias("h"))
    dfs = mentions.groupBy("h").agg(F.count("*").alias("df"))
    m = mentions.join(dfs, "h")
    cap = F.lit(max_df) if max_df is not None else F.lit(None).cast("long")
    kept = F.when(
        (F.col("df") >= 2) & ((cap.isNull()) | (F.col("df") <= cap)), F.col("h")
    )
    # ONE groupBy(doc) carries both the full set size (denominator) and
    # the kept set (collect_list drops the nulls the when() leaves for
    # pruned shingles).
    return m.groupBy("doc").agg(
        F.count("*").alias("na"), F.collect_list(kept).alias("ksh")
    )


def jaccard_pairs_lsh(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 1000,
    bands: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """Exact-verified Jaccard pairs over LSH candidates — the dup-HEAVY
    corpus formulation (the standard MinHash-LSH + verify pipeline).

    `jaccard_pairs` enumerates pair mentions from shared postings: on a
    corpus where whole documents are replicated (crawl mirrors, template
    farms) every posting's df scales with the duplication factor and the
    mention stream grows quadratically — measured at the 20× replica
    scale test: 219 s. Here candidates come from ONE LSH banding shuffle
    (Σ bucket² pairs — tiny buckets by construction), and each candidate
    is verified EXACTLY via array intersection of the capped kept sets,
    so emitted pairs satisfy jac ≥ threshold with zero false
    positives (same capped semantics as jaccard_pairs: intersections
    over kept shingles, denominators exact). Measured 13.9 s on the same
    20× test with 99.95% of the exact pair set recovered (1,051,921 of
    1,052,400) — its cost rides |candidates| ≈ |true pairs|, the
    output's own lower bound, instead of the posting-mention square.

    The tradeoff is RECALL: a true pair collides with probability
    ≈ 1-(1-s^r)^b (s = its true Jaccard); the default 8 bands × 2 rows
    gives ~0.90 at s=0.5 and ~0.9996 at s=0.8. More bands buy recall
    with a wider signature. For exact recall use `jaccard_pairs`; for
    greedy dedup (no exact pair set needed) skip verification entirely
    and feed LSH candidates to connected_components_star."""
    cands = lsh_candidate_pairs_direct(
        docs, id_col, text_col, bands, rows_per_band, shingle_n
    )
    doc_arrays = _kept_shingle_hashes(docs, id_col, text_col, shingle_n, max_df)
    a_side = doc_arrays.select(
        F.col("doc").alias("doc_a"), F.col("ksh").alias("ka"), F.col("na").alias("na")
    )
    b_side = doc_arrays.select(
        F.col("doc").alias("doc_b"), F.col("ksh").alias("kb"), F.col("na").alias("nb")
    )
    inter = F.size(F.array_intersect("ka", "kb"))
    return (
        cands.join(a_side, "doc_a")
        .join(b_side, "doc_b")
        .where(inter / (F.col("na") + F.col("nb") - inter) >= threshold)
        .select("doc_a", "doc_b")
    )


def simhash(docs: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """(id, simhash) — classic SimHash: per token an md5-derived integer;
    bit b of the fingerprint is the sign of Σ_tokens (±1 per bit). All
    integer arithmetic → bit-identical across engines.

    Entirely MAP-SIDE: each bit's ±1 sum folds over the doc's
    distinct-token-hash array with `aggregate`, so the fingerprint is one
    projection — no explode, no shuffle. The previous formulation
    exploded tokens × bits rows (a 32× stream blow-up) through TWO
    groupBys; at 100 TB that shuffle is the whole cost of the operator,
    and even at sf0.1 the fold is ~2× faster (0.27 s vs 0.49 s,
    value-identical — the declared query's oracle SQL keeps the exploded
    form and still hash-matches)."""
    hs = docs.select(
        F.col(id_col).alias("doc"),
        F.expr(
            f"transform(array_distinct(split({sql_ident(text_col)}, ' ')), "
            f"t -> {MD5_INT_SPARK_SQL('t')})"
        ).alias("hs"),
    )
    terms = " + ".join(
        f"(CASE WHEN aggregate(hs, 0L, (acc, h) -> acc + ((h >> {b}) & 1) * 2 - 1) > 0 "
        f"THEN shiftleft(1L, {b}) ELSE 0L END)"
        for b in range(bits)
    )
    return hs.select("doc", F.expr(terms).cast("bigint").alias("simhash"))


# Driver bound of the size-adaptive graph operators, in edges:
# `connected_components_adaptive` and `cluster_rank_adaptive` run on the
# driver at or under it and delegate to the distributed formulations
# past it. At this value the collected pandas edges take ≈32 MB and the
# union-find's Python edge list ~0.2-0.4 GB (~100-200 B per tuple).
DRIVER_EDGE_THRESHOLD = 2_000_000


def connected_components_adaptive(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """(node, component) with size-adaptive execution — the same
    small-side adaptivity AQE applies to joins, applied to the CC loop:

    The edge set reaching CC is the REDUCED relation (near-dup pairs
    after blocking/capping — orders of magnitude smaller than the
    corpus). When it fits ``DRIVER_EDGE_THRESHOLD`` edges
    (`session.collect_if_small` decides on the lineage-cut edge set), a
    single O(E α(E)) union-find pass replaces 5-15 distributed rounds
    of 2-3 jobs each — measured 1.5 s → 0.1 s on the sf0.1 cluster
    query, and the win GROWS with round count, not data. Past the bound
    it delegates to `connected_components_star` unchanged, so the plan
    at 100 TB is exactly the star formulation's.

    Contract, identical on both paths: every non-null id in ``edges``
    gets a row; component = min reachable id; a node whose only edges
    are self-loops or NULL-ended is its own component; NULL gets no
    row. An edge with one NULL end is read as a self-loop on the other
    end, so the collected relation never carries a NULL id."""
    from pyspark.sql import types as T

    e = (
        edges.select(
            F.coalesce(src, dst).alias("u"), F.coalesce(dst, src).alias("v")
        )
        .where(F.col("u").isNotNull())
        .transform(cut_lineage, eager=True)
    )
    pdf = collect_if_small(e, DRIVER_EDGE_THRESHOLD)
    if pdf is None:
        return connected_components_star(e, "u", "v", max_iter)
    rows = union_find_components(zip(pdf["u"].tolist(), pdf["v"].tolist()))
    # schema follows the edge id type — node ids are longs for doc
    # corpora but PATHS (strings) for the media keep-one chains
    ntype = e.schema["u"].dataType
    schema = T.StructType(
        [T.StructField("node", ntype), T.StructField("component", ntype)]
    )
    return e.sparkSession.createDataFrame(rows, schema)


def union_find_components(pairs) -> list[tuple]:
    """[(node, component)] over an iterable of collected (a, b) pairs —
    the O(E α(E)) union-find pass the driver regimes share
    (`connected_components_adaptive` and `cluster_rank_adaptive`) and
    the pure-Python reference the distributed CC is tested against.
    component = min reachable id, the same contract as the distributed
    star formulation; a self-loop (a, a) registers a as its own
    component."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        for z in (a, b):
            if z not in parent:
                parent[z] = z
        ra, rb = find(a), find(b)
        if ra != rb:  # min id becomes the root → min-reachable contract
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return [(node, find(node)) for node in parent]


def cluster_rank_adaptive(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    damping: float = 0.85,
    max_iter: int = 3,
):
    """(df, rows): connected components AND N-scaled fixed-iteration
    PageRank over the symmetrized near-dup pair graph, from ONE
    materialization of the reduced pair relation. ``df`` is
    (node, component, rank) over every endpoint of a non-self-loop
    pair.

    The composed form (connected_components_adaptive + graph.pagerank +
    a join) pays the driver-regime machinery TWICE for the same
    kilobyte-scale graph — two lineage cuts, two probes, two
    createDataFrames, one join: ~1.3 s of pure driver round-trips at
    sf0.1 against a graph that fits in L2. Here the small path probes
    once (`session.collect_if_small`, bound ``DRIVER_EDGE_THRESHOLD``),
    runs union-find and the shared `pagerank_numpy` power iteration on
    the same edge list, and emits ONE local DataFrame. Past the bound
    it delegates to the unchanged distributed operators — the 100 TB
    plan is exactly the star CC + per-round-shuffle PageRank
    composition, pinned equivalent in tests/test_graph.py.

    ``rows`` is the small path's sorted local [(node, component, rank)]
    list (None on the distributed path): driver-regime callers (the
    q_dedup_clusters purity stratum) that need the rows anyway derive
    them without re-collecting the local relation just built.

    PageRank semantics match q_dedup_clusters' historical call: the
    graph is symmetrized (both directions of each canonical a<b pair),
    so no dangling mass; tol=0 (exactly ``max_iter`` rounds — the
    replayable mode the oracle unrolls); rank scaled by N (mean 1.0)."""
    from pyspark.sql import types as T

    from .graph import pagerank, pagerank_numpy

    e = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col(src) != F.col(dst))
        .transform(cut_lineage, eager=True)
    )
    pdf = collect_if_small(e, DRIVER_EDGE_THRESHOLD)
    if pdf is None:
        cc = connected_components_star(e, "u", "v")
        edges = e.select(
            F.col("u").alias("s"), F.col("v").alias("d")
        ).union(e.select("v", "u"))
        pr = pagerank(
            edges, src="s", dst="d", damping=damping, max_iter=max_iter,
            tol=0.0, assume_no_dangling=True, assume_distinct=True,
            scaled=True,
        )
        return cc.join(pr, "node").select("node", "component", "rank"), None
    und = list(zip(pdf["u"].tolist(), pdf["v"].tolist()))
    comp = dict(union_find_components(und))
    ranks = pagerank_numpy(
        und + [(b, a) for a, b in und], damping, max_iter, tol=0.0,
        scaled=True,
    )
    rows = sorted((n, c, ranks[n]) for n, c in comp.items())
    ntype = e.schema["u"].dataType
    schema = T.StructType([
        T.StructField("node", ntype),
        T.StructField("component", ntype),
        T.StructField("rank", T.DoubleType()),
    ])
    return e.sparkSession.createDataFrame(rows, schema), rows


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """(node, component) via alternating large-star / small-star rounds —
    the package's one distributed CC formulation: O(log² n) rounds
    whatever the graph's DIAMETER (billions of edges, long chains;
    Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14). Contract: every non-null id in ``edges`` gets a row,
    component = min reachable node id, a self-loop-only node is its
    own component, NULL gets no row — the same as
    `connected_components_adaptive`'s driver regime, randomized
    cross-checked against `union_find_components` in
    tests/test_operator_equivalence.py.

    Each round is one groupBy per star operation over the CURRENT edge
    set (which only shrinks toward star graphs), with a lazy lineage
    cut and a sum-based convergence check. Measured with bench_scale.py
    at 10× sf0.1 (4 cores, best of 2) against a per-round min-label
    loop: 5.3 s vs 18.5 s on a 2000×33 chain graph, 12.4 s vs 10.4 s
    on the 266k-edge clique graph — where the adaptive operator's
    driver regime takes 6.6 s, so the star rounds only run past the
    driver bound."""
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col(src) != F.col(dst))
        .transform(cut_lineage, eager=True)
    )
    e = sym

    def large_star(e: DataFrame) -> DataFrame:
        # connect every strictly-larger neighbor of u to m = min(N(u) ∪ u)
        nbrs = e.union(e.select(F.col("v"), F.col("u"))).groupBy("u").agg(
            F.collect_set("v").alias("ns")
        )
        m = F.least(F.col("u"), F.array_min("ns"))
        return (
            nbrs.select("u", m.alias("m"), F.explode("ns").alias("v"))
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )

    def small_star(e: DataFrame) -> DataFrame:
        # orient edges to (bigger, smaller); connect all smaller
        # neighbors (and u itself) to the minimum one
        oriented = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        nbrs = oriented.groupBy("u").agg(F.collect_set("v").alias("ns"))
        m = F.array_min("ns")
        return nbrs.select(
            F.explode(F.array_append("ns", F.col("u"))).alias("u"), m.alias("v")
        ).where(F.col("u") != F.col("v"))

    prev = None
    for _ in range(max_iter):
        e = small_star(large_star(e)).distinct().transform(cut_lineage, eager=False)
        # converged when the edge multiset is stable: edges only ever point
        # "down", so (count, sum(u), sum(v)) is a cheap fixpoint signature.
        sig = tuple(
            e.agg(F.count("*"), F.sum("u"), F.sum("v")).first()
        )
        if sig == prev:
            break
        prev = sig
    members = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    # component roots and self-loop-only nodes appear in no final edge —
    # they are their own component (node set from the UNFILTERED input so
    # self-loops and NULL-ended edges still register their non-null ids).
    roots = (
        edges.select(F.explode(F.array(src, dst)).alias("node"))
        .where(F.col("node").isNotNull())
        .distinct()
        .join(members.select("node"), "node", "left_anti")
        .select("node", F.col("node").alias("component"))
    )
    return members.unionByName(roots)
