"""Distributed n-gram language model + perplexity filtering (LLM-pipeline
closure op, SURVEY.md §2.11; the CCNet-style "perplexity bucket" quality
signal — Wenzek et al., "CCNet: Extracting High Quality Monolingual
Datasets from Web Crawl Data", LREC 2020 — re-expressed as pure DataFrame
aggregations instead of a KenLM binary).

Shape at 100 TB:
- TRAINING is two aggregations: explode each doc's (gram, context) pairs
  once, groupBy(gram) for the n-gram counts, then re-group that already-
  distinct table by context for the context counts — the second shuffle
  moves |distinct grams| rows, not the corpus. Grams are xxhash64'd to
  int64 before the explode so the widest shuffle carries longs, never
  strings (same device as operators/dedup.jaccard_pairs).
- SCORING is the exploded gram stream joined against the two count
  tables. The model is orders of magnitude smaller than the corpus
  (|distinct n-grams| vs total tokens); pass broadcast_model=True when it
  fits in executor memory (the common case for word-level models with a
  min_count floor) and the corpus side never shuffles at all. Otherwise
  both joins are plain equi-joins on a long key — AQE handles skew.
- Everything is deterministic: add-k smoothed counts, no RNG, no
  partition-order dependence — scores reproduce bit-identically across
  cluster sizes, so a perplexity threshold chosen once stays meaningful.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, functions as F


class NgramLM(NamedTuple):
    """A trained add-k-smoothable n-gram model.

    ngram_counts:   (gram_h, c)      — count per distinct n-gram
    context_counts: (ctx_h, c_ctx)   — count per distinct (n-1)-gram context
    vocab_size:     |distinct unigrams| (the smoothing denominator's V)
    n:              gram order (2 = bigram)
    pair_counts:    OPTIONAL shared per-gram relation
                    (gram_h, ctx_h, one count column per sibling model)
                    set by `train_ngram_lm_pair` when both models come
                    from one conditional-aggregation pass — lets
                    `dsir_weights` join the gram stream against the
                    SHARED relation (2 joins) instead of each model's
                    derived tables (4 joins). Purely an execution hint;
                    ngram_counts/context_counts stay authoritative.
    pair_col:       this model's count column inside ``pair_counts``.
    """

    ngram_counts: DataFrame
    context_counts: DataFrame
    vocab_size: int
    n: int
    pair_counts: DataFrame | None = None
    pair_col: str | None = None


def _gram_pairs_col(toks: Column, n: int) -> Column:
    """array<struct<gram_h,ctx_h>> of hashed (n-gram, context) pairs from a
    token ARRAY column. ``toks`` must be a materialized column reference —
    interpreted lambdas have no CSE (operators/dedup.shingles_from_tokens).

    For n=1 the context is the empty string: every unigram shares one
    context whose count is the corpus token total — add-k then reduces to
    the standard smoothed unigram MLE.

    n=2 (the default order everywhere) takes a zip_with fast path over
    two array slices instead of per-index element_at lookups — same
    hashes, ~35% less interpreted-expression time on the gram stream
    (measured at sf0.1; interpreted lambdas have no CSE, so every
    element_at re-walks the array).

    r14: grams are hashed as token TUPLES (multi-arg xxhash64) instead
    of concat_ws strings — tokens are space-free (split on ' '), so
    concat_ws(' ') is injective on tuples and the equality classes are
    identical; the hash VALUES change but they are internal join/groupBy
    keys only (counts, vocab sizes and weights are functions of gram
    equality classes). Skips one string build per gram occurrence:
    interleaved stream A/B 0.52 → 0.39 s at sf0.1
    (plans/r14/probe_gram_tuplehash.py, count-multiset identity
    checked)."""
    if n == 2:
        n_g = F.size(toks) - 1
        empty = F.array().cast("array<string>")
        heads = F.when(n_g >= 1, F.slice(toks, 1, n_g)).otherwise(empty)
        tails = F.when(n_g >= 1, F.slice(toks, 2, n_g)).otherwise(empty)
        return F.zip_with(
            heads,
            tails,
            lambda a, b: F.struct(
                F.xxhash64(a, b).alias("gram_h"),
                F.xxhash64(a).alias("ctx_h"),
            ),
        )
    n_g = F.size(toks) - (n - 1)
    idx = F.when(n_g >= 1, F.sequence(F.lit(1), n_g)).otherwise(
        F.array().cast("array<int>")
    )

    def pair(i: Column) -> Column:
        gram = F.xxhash64(*[F.element_at(toks, i + k) for k in range(n)])
        ctx = (
            F.xxhash64(*[F.element_at(toks, i + k) for k in range(n - 1)])
            if n > 1
            else F.xxhash64(F.lit(""))
        )
        return F.struct(gram.alias("gram_h"), ctx.alias("ctx_h"))

    return F.transform(idx, pair)


def _exploded_grams(
    docs: DataFrame, id_col: str, text_col: str, n: int, outer: bool = False
) -> DataFrame:
    """(doc, gram_h, ctx_h) — one row per n-gram occurrence. ``outer``
    keeps docs shorter than the gram width as a single null-gram row (the
    scoring path wants them reported, the training path wants them gone)."""
    explode = F.explode_outer if outer else F.explode
    return (
        docs.select(
            F.col(id_col).alias("doc"), F.split(F.col(text_col), " ").alias("__toks")
        )
        .select("doc", explode(_gram_pairs_col(F.col("__toks"), n)).alias("g"))
        .select("doc", F.col("g.gram_h").alias("gram_h"), F.col("g.ctx_h").alias("ctx_h"))
    )


def train_ngram_lm(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 2,
    min_count: int = 1,
) -> NgramLM:
    """Count-based n-gram LM over whitespace tokens.

    ``min_count`` floors the n-gram table (contexts and V stay exact):
    dropping hapax grams shrinks the model ~Zipf-style by 40-60% while
    add-k smoothing absorbs the removed mass — the standard trick that
    makes a web-scale model broadcastable. Floored grams score exactly
    like unseen grams, so the floor is a size/precision dial, not a
    correctness hazard."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    grams = _exploded_grams(docs.select(F.lit(0).alias("__id"), text_col), "__id", text_col, n)
    ngram_counts = grams.groupBy("gram_h").agg(
        F.first("ctx_h").alias("ctx_h"), F.count("*").alias("c")
    )
    # context counts from the per-gram table: Σ over grams sharing the
    # context — |distinct grams| input rows, not the corpus.
    context_counts = ngram_counts.groupBy("ctx_h").agg(F.sum("c").alias("c_ctx"))
    if min_count > 1:
        ngram_counts = ngram_counts.where(F.col("c") >= min_count)
    toks = F.split(F.col(text_col), " ")
    vocab = (
        docs.select(F.explode(toks).alias("t")).agg(F.countDistinct("t")).first()[0]
    )
    return NgramLM(
        ngram_counts=ngram_counts.select("gram_h", "c"),
        context_counts=context_counts,
        vocab_size=int(vocab or 0),
        n=n,
    )


def train_ngram_lm_pair(
    docs: DataFrame,
    target_cond: Column,
    text_col: str = "text",
    n: int = 2,
    min_count: int = 1,
) -> tuple[NgramLM, NgramLM]:
    """(lm_target, lm_source) over ONE gram pass — the DSIR training
    shape (r13 optimization): target = rows where ``target_cond``,
    source = the whole input.

    Composing two `train_ngram_lm` calls explodes the corpus gram
    stream once per model and pays two eager vocabulary jobs; here the
    stream is exploded ONCE with the target flag riding, one
    conditional aggregation produces both count tables (count(*) vs
    count-if-flag — guide-style map-side partial agg), and ONE job
    returns both vocabulary sizes. The per-gram table is lineage-cut so
    its four consumers (two ngram + two derived context relations) read
    one materialization (it is |distinct grams|-sized — the model, not
    the corpus); r14 materializes it eagerly IN PARALLEL with the
    vocabulary job (two driver threads — both are independent corpus
    passes, see the body comment). Equivalence with the composed form
    is pinned in tests/test_lm.py: identical count relations, vocab
    sizes, and downstream scores. Eager: the call itself runs both
    corpus jobs before returning, even when the pair is built only to
    inspect plans."""
    from dbbspark.session import cut_lineage

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    base = docs.select(target_cond.alias("__t"), F.col(text_col).alias("__txt"))
    counts = (
        base.select("__t", F.split(F.col("__txt"), " ").alias("__toks"))
        .select("__t", F.explode(_gram_pairs_col(F.col("__toks"), n)).alias("g"))
        .select(
            "__t",
            F.col("g.gram_h").alias("gram_h"),
            F.col("g.ctx_h").alias("ctx_h"),
        )
        .groupBy("gram_h")
        .agg(
            F.first("ctx_h").alias("ctx_h"),
            F.count("*").alias("__cs"),
            F.count(F.when(F.col("__t"), 1)).alias("__ct"),
        )
    )
    vocab_df = base.select(
        "__t", F.explode(F.split(F.col("__txt"), " ")).alias("t")
    ).agg(
        F.countDistinct(F.when(F.col("__t"), F.col("t"))).alias("vt"),
        F.countDistinct("t").alias("vs"),
    )
    # r14 (guide §2.6 job overlap): the vocabulary job and the per-gram
    # count materialization are independent full passes over the corpus
    # — submit both from two driver threads so the second job's tasks
    # back-fill the first's scheduling tail (the q_pack_sequences
    # device; the two plans are exactly the sequential ones and the two
    # scans share no uncut lineage, so results are unchanged —
    # interleaved A/B 1.32 → 1.14 s on the q_dsir row,
    # plans/r14/probe_dsir_overlap.py). The cut is eager now: the
    # counts relation is always consumed (it IS the model), so
    # materializing it here costs nothing extra.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(2) as pool:
        f_counts = pool.submit(cut_lineage, counts, True)
        f_vocab = pool.submit(vocab_df.first)
        counts = f_counts.result()
        vt, vs = f_vocab.result()

    def _lm(count_col: str, vocab: int) -> NgramLM:
        ng = counts.where(F.col(count_col) > 0).select(
            "gram_h", "ctx_h", F.col(count_col).alias("c")
        )
        cc = ng.groupBy("ctx_h").agg(F.sum("c").alias("c_ctx"))
        if min_count > 1:
            ng = ng.where(F.col("c") >= min_count)
        return NgramLM(
            ngram_counts=ng.select("gram_h", "c"),
            context_counts=cc,
            vocab_size=int(vocab or 0),
            n=n,
            # With min_count > 1 the shared relation no longer mirrors
            # ngram_counts (the filter drops rows cc keeps) — the fused
            # consumer would have to replicate it, so only the exact
            # mirror is advertised.
            pair_counts=counts if min_count == 1 else None,
            pair_col=count_col if min_count == 1 else None,
        )

    return _lm("__ct", vt), _lm("__cs", vs)


def perplexity(
    docs: DataFrame,
    lm: NgramLM,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 1.0,
    broadcast_model: bool = False,
) -> DataFrame:
    """(doc, n_grams, avg_nll, perplexity) under ``lm`` with add-k
    smoothing: p(w|ctx) = (c(ctx·w) + k) / (c(ctx) + k·V).

    Unseen gram in a seen context → k / (c_ctx + kV); wholly unseen
    context → 1/V — both finite, so scores never NaN on out-of-domain
    text. Docs shorter than the gram width get n_grams=0 and null
    perplexity (report-don't-drop, the quarantine stance)."""
    if lm.vocab_size <= 0:
        raise ValueError("model has an empty vocabulary")
    pairs = _exploded_grams(docs, id_col, text_col, lm.n, outer=True)
    ng = F.broadcast(lm.ngram_counts) if broadcast_model else lm.ngram_counts
    cc = F.broadcast(lm.context_counts) if broadcast_model else lm.context_counts
    joined = pairs.join(ng, "gram_h", "left").join(cc, "ctx_h", "left")
    v = F.lit(float(lm.vocab_size))
    logp = F.when(
        F.col("gram_h").isNotNull(),
        F.log(
            (F.coalesce(F.col("c"), F.lit(0)).cast("double") + F.lit(k))
            / (F.coalesce(F.col("c_ctx"), F.lit(0)).cast("double") + F.lit(k) * v)
        ),
    )
    out = joined.groupBy("doc").agg(
        F.count("gram_h").alias("n_grams"),
        (-F.avg(logp)).alias("avg_nll"),
    )
    return out.select(
        F.col("doc"),
        "n_grams",
        F.col("avg_nll"),
        F.exp("avg_nll").alias("perplexity"),
    )


def perplexity_buckets(
    scored: DataFrame,
    ppl_col: str = "perplexity",
    head_frac: float = 1 / 3,
    tail_frac: float = 1 / 3,
    thresholds: tuple[float, float] | None = None,
) -> DataFrame:
    """Label each row head/middle/tail by perplexity (CCNet's buckets:
    head = most-fluent third, the slice usually kept for training).

    Pass explicit ``thresholds`` to pin a production cut (reproducible
    forever, pushdown-able filter); otherwise they're estimated once via
    approxQuantile — fine for exploration, but partition-layout-sensitive
    at the margin, so production pipelines should record and replay the
    two numbers."""
    if thresholds is None:
        lo, hi = scored.where(F.col(ppl_col).isNotNull()).approxQuantile(
            ppl_col, [head_frac, 1.0 - tail_frac], 0.001
        )
    else:
        lo, hi = thresholds
    bucket = (
        F.when(F.col(ppl_col).isNull(), F.lit(None).cast("string"))
        .when(F.col(ppl_col) <= lo, "head")
        .when(F.col(ppl_col) > hi, "tail")
        .otherwise("middle")
    )
    return scored.withColumn("ppl_bucket", bucket)


def dsir_weights(
    docs: DataFrame,
    lm_target: NgramLM,
    lm_source: NgramLM,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 1.0,
    broadcast_model: bool = False,
) -> DataFrame:
    """(doc, n_grams, log_ratio) — DSIR importance weights ("Data
    Selection for Language Models via Importance Resampling", Xie et al.
    2023): log w(x) = log p_target(x) - log p_source(x), both estimated
    by hashed n-gram models. Documents that look more like the target
    distribution (e.g. curated reference text) than the raw source
    distribution get log_ratio > 0.

    Fused single-pass form (r13): ONE outer-exploded gram stream joins
    against BOTH models' count tables (four left equi-joins on long
    keys; r14: TWO when both models share a `pair_counts` relation from
    `train_ngram_lm_pair` — one gram_h join carrying both counts, one
    ctx_h join carrying both context sums) and ONE per-doc aggregation
    computes both avg-NLL legs —
    where the previous two-`perplexity` composition exploded and
    aggregated the corpus stream twice and joined the halves back on
    doc. Same arithmetic row for row (avg over the identical gram set;
    log_ratio = n_grams * (nll_source - nll_target)); the composed ≡
    fused equivalence is pinned in tests/test_lm.py. Models must share
    the gram order so the per-doc gram counts line up; docs too short
    to score get a null log_ratio (report-don't-drop).

    Raises ``ValueError`` when either model's vocabulary is empty
    (vocab_size <= 0 — e.g. the target condition matched zero docs):
    an empty-vocab model has no smoothing denominator, and the
    `perplexity` path the composed form routes through raises the same
    error — pinned for both forms in tests/test_lm.py (ADVICE r13)."""
    if lm_target.n != lm_source.n:
        raise ValueError("target and source models must share the gram order")
    if lm_target.vocab_size <= 0 or lm_source.vocab_size <= 0:
        raise ValueError("model has an empty vocabulary")
    pairs = _exploded_grams(docs, id_col, text_col, lm_target.n, outer=True)

    shared = (
        lm_target.pair_counts is not None
        and lm_target.pair_counts is lm_source.pair_counts
        and lm_target.pair_col
        and lm_source.pair_col
        and lm_target.pair_col != lm_source.pair_col
    )
    if shared:
        # r14: both models ride ONE per-gram relation (the
        # train_ngram_lm_pair shape), so the gram stream joins twice —
        # once on gram_h for both counts, once on ctx_h for both
        # context sums — instead of once per model table (4 joins).
        # Values are identical: a gram missing from a model's
        # ngram_counts and a gram with count 0 both coalesce to 0, and
        # each model's context sum over its >0 grams equals the sum
        # over ALL grams of that context (zeros add nothing). Pinned
        # fused ≡ per-model in tests/test_lm.py; at corpus scale this
        # halves the model-relation joins the scoring stream pays.
        base = lm_target.pair_counts
        ng = base.select(
            "gram_h",
            F.col(lm_target.pair_col).alias("__c_t"),
            F.col(lm_source.pair_col).alias("__c_s"),
        )
        cc = base.groupBy("ctx_h").agg(
            F.sum(lm_target.pair_col).alias("__cc_t"),
            F.sum(lm_source.pair_col).alias("__cc_s"),
        )
        if broadcast_model:
            ng, cc = F.broadcast(ng), F.broadcast(cc)
        joined = pairs.join(ng, "gram_h", "left").join(cc, "ctx_h", "left")
    else:

        def _side(lm: NgramLM, tag: str):
            ng = lm.ngram_counts.select(
                "gram_h", F.col("c").alias(f"__c_{tag}")
            )
            cc = lm.context_counts.select(
                "ctx_h", F.col("c_ctx").alias(f"__cc_{tag}")
            )
            if broadcast_model:
                ng, cc = F.broadcast(ng), F.broadcast(cc)
            return ng, cc

        ng_t, cc_t = _side(lm_target, "t")
        ng_s, cc_s = _side(lm_source, "s")
        joined = (
            pairs.join(ng_t, "gram_h", "left")
            .join(cc_t, "ctx_h", "left")
            .join(ng_s, "gram_h", "left")
            .join(cc_s, "ctx_h", "left")
        )

    def _logp(tag: str, vocab: int):
        return F.when(
            F.col("gram_h").isNotNull(),
            F.log(
                (
                    F.coalesce(F.col(f"__c_{tag}"), F.lit(0)).cast("double")
                    + F.lit(k)
                )
                / (
                    F.coalesce(F.col(f"__cc_{tag}"), F.lit(0)).cast("double")
                    + F.lit(k) * F.lit(float(vocab))
                )
            ),
        )

    return (
        joined.groupBy("doc")
        .agg(
            F.count("gram_h").alias("n_grams"),
            (-F.avg(_logp("t", lm_target.vocab_size))).alias("__nll_t"),
            (-F.avg(_logp("s", lm_source.vocab_size))).alias("__nll_s"),
        )
        .select(
            "doc",
            "n_grams",
            (F.col("n_grams") * (F.col("__nll_s") - F.col("__nll_t"))).alias(
                "log_ratio"
            ),
        )
    )


def dsir_sample(
    weighted: DataFrame,
    fraction: float,
    id_col: str = "doc",
    ratio_col: str = "log_ratio",
    temperature: float = 1.0,
    seed: int = 0,
    cut: float | None = None,
    u_col: Column | None = None,
) -> DataFrame:
    """Deterministic importance sampling of ~``fraction`` of the rows,
    biased toward high ``ratio_col``: per-row Gumbel-top-k without a
    global sort. Each row draws u ~ U(0,1) from xxhash64(id, seed) —
    deterministic, partition-invariant — and computes the Gumbel key
    log_ratio/temperature - log(-log u); rows whose key clears the
    (1-fraction) approxQuantile of the key distribution are kept. The
    quantile is one aggregate (driver scalar), the filter is a map —
    no global sort, no driver data.

    Margin sensitivity: the per-row Gumbel keys are fully deterministic,
    but the CUT comes from approxQuantile, whose result depends on
    partition layout — so docs whose key sits within the quantile
    error band can flip in/out across re-executions or cluster layouts
    (same caveat as perplexity_buckets). Production runs that must
    replay the exact selection should pass ``cut`` (e.g. the value
    recorded from a prior run) or persist the chosen ids
    (localCheckpoint — see examples/curation_pipeline.py).

    Null ratios (too-short docs) are dropped: they carry no evidence
    either way, and DSIR's use case is choosing a high-value subset.

    ``u_col`` overrides the uniform draw (a Column in (0,1), e.g. an
    md5-derived gate when the selection must replay on engines without
    Spark's xxhash64); default is the xxhash64(id, seed) lottery."""
    if not 0.0 < fraction < 1.0:
        raise ValueError("fraction must be in (0, 1)")
    u = u_col if u_col is not None else (
        (
            F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(1_000_000_007))
            + F.lit(0.5)
        )
        / F.lit(1_000_000_007.0)
    )
    key = F.col(ratio_col) / F.lit(temperature) - F.log(-F.log(u))
    keyed = weighted.where(F.col(ratio_col).isNotNull()).withColumn(
        "__gumbel", key
    )
    if cut is None:
        (cut,) = keyed.approxQuantile("__gumbel", [1.0 - fraction], 0.001)
    return keyed.where(F.col("__gumbel") >= cut).drop("__gumbel")


def dsir_select_flag(
    ratio_col: str,
    cut: float,
    temperature: float = 1.0,
    u_col: Column | None = None,
    id_col: str = "doc",
    seed: int = 0,
) -> Column:
    """`dsir_sample`'s keep/drop decision as a per-row BOOLEAN column
    (requires an explicit ``cut``, i.e. the replayable regime). With a
    known cut the selection is a deterministic map — callers that need
    a selected-or-not flag on EVERY row (rather than the kept subset)
    can project this column instead of filtering and joining the kept
    ids back on ``id_col``, which joins the weighted relation against
    itself (r13: q_dsir's join-back plan re-scanned the checkpoint and
    paid a BroadcastExchange + BroadcastHashJoin locally — and the
    ~25% kept side outgrows any broadcast threshold at corpus scale,
    where the same join becomes a two-shuffle sort-merge; the flag is
    a Project). The
    Gumbel key expression is shared with `dsir_sample` term for term,
    so flag == membership in the sampled subset, row for row; NULL
    ratios (and NULL-id lottery draws) flag False, matching the
    left-join's missed-match → False."""
    u = u_col if u_col is not None else (
        (
            F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(1_000_000_007))
            + F.lit(0.5)
        )
        / F.lit(1_000_000_007.0)
    )
    key = F.col(ratio_col) / F.lit(temperature) - F.log(-F.log(u))
    return F.coalesce(
        F.col(ratio_col).isNotNull() & (key >= F.lit(cut)), F.lit(False)
    )
