"""Token-budget subset selection — "give me the best documents that fit
in an N-token training budget" (training-pipeline closure operator,
SURVEY.md §2.11 C42; the selection step curation recipes run after
scoring, e.g. DSIR / classifier-ranked corpus pruning).

Semantics: order documents by (score DESC, id ASC — the id breaks ties
deterministically), admit documents while the EXCLUSIVE running token
total is still below the budget. The boundary document whose span
straddles the budget is admitted (its first token fits); everything
after it is cut. This is the same "take the prefix of a sorted stream"
rule as `pack_sequences`' sequence math, so it reuses the identical
two-pass distributed prefix sum:

1. range-partition on the selection order (3 narrow columns shuffle —
   id, score, tokens — never the text), per-partition running sums in
   Arrow batches;
2. per-partition TOTALS (num_buckets scalars) prefix-summed driver-side
   and broadcast back as offsets.

The naive form — ``SUM(tokens) OVER (ORDER BY score DESC)`` — is an
unpartitioned window that drags every row through ONE task; that is the
oracle formulation (fine for DuckDB at sf0.01), not the engine's.

Scale shape: one range shuffle of 3 numeric columns + one num_buckets-row
broadcast. Output is a pure function of (ids, scores, tokens, budget) —
bucket boundaries cancel out because prefix sums are associative — so a
single-window SQL oracle checks the distributed result exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dbbspark.functions import sql_ident
from dbbspark.session import cut_lineage


def _ddl(df: DataFrame, col: str) -> str:
    """DDL field (quoted name + type) of an input column — the
    mapInPandas output schema is built from the ACTUAL input types
    (string ids, float scores, int token counts all pass through
    unchanged) instead of assuming long/double/string."""
    return f"{sql_ident(col)} {df.schema[col].dataType.simpleString()}"


def budget_select(
    docs: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    score_col: str = "score",
    token_col: str = "n_tokens",
    num_buckets: int = 32,
) -> DataFrame:
    """Select the best-scoring documents that fit a total token budget.

    Returns (id, score, tokens, cum_tokens) for the admitted prefix of
    the (score DESC, id ASC) ordering — rows whose exclusive prefix sum
    is < ``budget``. ``cum_tokens`` is the INCLUSIVE running total, so
    the last admitted row tells you exactly how far past the budget the
    straddling document reaches (callers that need a hard cap truncate
    that one document downstream).

    ``num_buckets`` only sets shuffle parallelism; any value yields
    identical output (prefix sums are associative). NULL scores sort
    last (never admitted before any scored doc); NULL/negative token
    counts are rejected upstream by the quality gates.
    """
    import pandas as pd  # noqa: F401  (mapInPandas dependency)

    d = (
        docs.select(id_col, score_col, token_col)
        .repartitionByRange(
            num_buckets, F.col(score_col).desc_nulls_last(), F.col(id_col).asc()
        )
        .sortWithinPartitions(
            F.col(score_col).desc_nulls_last(), F.col(id_col).asc()
        )
        .withColumn("_bucket", F.spark_partition_id())
    )

    def part_cumsum(batches):
        run = 0
        for pdf in batches:
            if pdf.empty:
                continue
            c = pdf[token_col].astype("int64").cumsum() + run
            run = int(c.iloc[-1])
            out = pdf.copy()
            out["_cum_in_bucket"] = c
            yield out

    schema = (
        f"{_ddl(docs, id_col)}, {_ddl(docs, score_col)}, "
        f"{_ddl(docs, token_col)}, _bucket int, _cum_in_bucket bigint"
    )
    # Lazy localCheckpoint: the totals action below materializes the
    # range-shuffle + cumsum pass once; the final join reuses it.
    with_partial = d.mapInPandas(part_cumsum, schema).transform(cut_lineage, eager=False)

    totals = (
        with_partial.groupBy("_bucket")
        .agg(F.max("_cum_in_bucket").alias("_total"))
        .collect()
    )
    offset, offsets = 0, []
    for row in sorted(totals, key=lambda r: r["_bucket"]):
        offsets.append((row["_bucket"], offset))
        offset += row["_total"]
    spark = docs.sparkSession
    off_df = spark.createDataFrame(offsets or [(0, 0)], "_bucket int, _offset bigint")

    return (
        with_partial.join(F.broadcast(off_df), "_bucket")
        .select(
            id_col,
            score_col,
            token_col,
            (F.col("_cum_in_bucket") + F.col("_offset")).alias("cum_tokens"),
        )
        # exclusive prefix < budget ⇒ the straddling doc is admitted.
        .where(F.col("cum_tokens") - F.col(token_col) < F.lit(budget))
    )


def budget_select_threshold(
    docs: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    score_col: str = "score",
    token_col: str = "n_tokens",
    slack: float = 0.02,
) -> DataFrame:
    """Two-phase approximate variant for when even the 3-column range
    shuffle is unwelcome: (1) ONE approxQuantile pass finds the score
    cut where the cumulative token mass ≈ budget, (2) a pushdown-able
    ``score >= cut`` filter admits the bulk map-only, and only the thin
    band of near-cut documents (±``slack`` of the mass) takes the exact
    prefix-sum path. Selection differs from `budget_select` only inside
    the band; the admitted token total lands within ``slack`` of it.

    Returns the same schema as `budget_select`. The approximation is
    layout-sensitive at the margin (same caveat as `dsir_sample`'s
    Gumbel cut — record the realized cut for replay).
    """
    total = docs.agg(F.sum(F.col(token_col).cast("bigint"))).first()[0] or 0
    if total <= budget:
        # Everything fits: selection is the identity; cum_tokens still
        # reported via the exact pass for a uniform contract.
        return budget_select(docs, budget, id_col, score_col, token_col)
    frac = budget / total
    # Admitting the top `frac` of token mass ≈ scores above the
    # (1 - frac) score quantile when lengths and scores are
    # uncorrelated; the slack band absorbs the difference.
    q_lo = max(0.0, 1.0 - frac - slack)
    q_hi = min(1.0, 1.0 - frac + slack)
    (cut_lo, cut_hi) = docs.approxQuantile(score_col, [q_lo, q_hi], 0.001)
    bulk = docs.where(F.col(score_col) > F.lit(cut_hi))
    bulk_tokens = bulk.agg(F.sum(F.col(token_col).cast("bigint"))).first()[0] or 0
    band = docs.where(
        (F.col(score_col) <= F.lit(cut_hi)) & (F.col(score_col) >= F.lit(cut_lo))
    )
    band_pick = budget_select(
        band, max(0, budget - bulk_tokens), id_col, score_col, token_col
    ).select(id_col, score_col, token_col)
    picked = bulk.select(id_col, score_col, token_col).unionByName(band_pick)
    # Re-derive cum_tokens over the final pick so the contract matches.
    return budget_select(picked, budget, id_col, score_col, token_col)


def budget_select_grouped(
    docs: DataFrame,
    budgets: dict,
    group_col: str = "source",
    id_col: str = "doc_id",
    score_col: str = "score",
    token_col: str = "n_tokens",
    num_buckets: int = 32,
) -> DataFrame:
    """Per-group token budgets — the deterministic, quality-aware form
    of dataset mixing (C14's hash gates draw a random fraction per
    source; this admits each source's BEST-scoring docs until that
    source's own budget fills, the "N billion tokens of code, M of web"
    recipe stated directly).

    ``budgets`` maps group value -> token budget; groups absent from
    the map are dropped (an unmentioned source contributes nothing —
    explicit beats implicit for corpus composition). Returns
    (group, id, score, tokens, cum_tokens) for admitted rows, where
    ``cum_tokens`` is the running total WITHIN the group.

    Same two-pass distributed prefix sum as `budget_select`, ranged on
    (group, score desc, id) so one shuffle serves every group; the
    per-(bucket, group) boundary totals — #groups x num_buckets scalars
    — are prefix-summed driver-side per group. Output is a pure
    function of the inputs (bucket boundaries cancel), so a
    per-group-window SQL oracle can check it exactly.
    """
    import pandas as pd  # noqa: F401

    spark = docs.sparkSession
    group_field = _ddl(docs, group_col)
    wanted = spark.createDataFrame(
        [(k, int(v)) for k, v in budgets.items()],
        f"{group_field}, _budget bigint",
    )
    d = (
        docs.select(group_col, id_col, score_col, token_col)
        .join(F.broadcast(wanted), group_col)
        .repartitionByRange(
            num_buckets,
            F.col(group_col),
            F.col(score_col).desc_nulls_last(),
            F.col(id_col).asc(),
        )
        .sortWithinPartitions(
            F.col(group_col),
            F.col(score_col).desc_nulls_last(),
            F.col(id_col).asc(),
        )
        .withColumn("_bucket", F.spark_partition_id())
    )

    def part_cumsum(batches):
        run: dict = {}
        for pdf in batches:
            if pdf.empty:
                continue
            outs = []
            for g, grp in pdf.groupby(group_col, sort=False):
                c = grp[token_col].astype("int64").cumsum() + run.get(g, 0)
                run[g] = int(c.iloc[-1])
                o = grp.copy()
                o["_cum_in_bucket"] = c
                outs.append(o)
            yield pd.concat(outs)

    schema = (
        f"{_ddl(docs, group_col)}, {_ddl(docs, id_col)}, "
        f"{_ddl(docs, score_col)}, {_ddl(docs, token_col)}, "
        "_budget bigint, _bucket int, _cum_in_bucket bigint"
    )
    with_partial = d.mapInPandas(part_cumsum, schema).transform(cut_lineage, eager=False)

    totals = (
        with_partial.groupBy("_bucket", group_col)
        .agg(F.max("_cum_in_bucket").alias("_total"))
        .collect()
    )
    offsets: list[tuple] = []
    run: dict = {}
    for row in sorted(totals, key=lambda r: (r[group_col], r["_bucket"])):
        g = row[group_col]
        offsets.append((row["_bucket"], g, run.get(g, 0)))
        run[g] = run.get(g, 0) + row["_total"]
    off_df = spark.createDataFrame(
        offsets, f"_bucket int, {group_field}, _offset bigint"
    )

    return (
        with_partial.join(F.broadcast(off_df), ["_bucket", group_col])
        .select(
            group_col,
            id_col,
            score_col,
            token_col,
            "_budget",
            (F.col("_cum_in_bucket") + F.col("_offset")).alias("cum_tokens"),
        )
        .where(F.col("cum_tokens") - F.col(token_col) < F.col("_budget"))
        .drop("_budget")
    )
