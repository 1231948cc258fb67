"""Dataset mixing — building a training corpus from several sources at
target proportions (the "data mixture" step of LLM pipelines; closure
operator beyond the reference's surface, SURVEY.md §2.11).

Sampling is a deterministic hash gate per source (md5-derived integer
modulo a fixed scale compared to the source's acceptance rate), the same
engine-portable device the stratified-sampling query uses: no RNG state,
reproducible across runs and cluster sizes, and the gate is a plain
Column predicate so it PUSHES DOWN into each source's scan — a source
sampled at 1% reads ~1% of its row groups' rows, not 100%.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import sql_ident, sql_str
from .dedup import MD5_INT_SPARK_SQL

_SCALE = 1_000_000


def mixture_rates(
    sizes: dict[str, int], proportions: dict[str, float]
) -> dict[str, float]:
    """Per-source acceptance rates hitting target ``proportions`` from
    sources of ``sizes``, scaled so the most-constrained source is fully
    used (never oversampled — this is sampling WITHOUT replacement, so a
    source can contribute at most its full size).

    The output corpus size is C = min_i(n_i / p_i); source i keeps
    C * p_i rows of its n_i."""
    missing = set(proportions) - set(sizes)
    if missing:
        raise ValueError(f"proportions name unknown sources: {sorted(missing)}")
    total_p = sum(proportions.values())
    norm = {k: p / total_p for k, p in proportions.items()}
    corpus = min(sizes[k] / p for k, p in norm.items() if p > 0)
    return {k: (corpus * p / sizes[k] if p > 0 else 0.0) for k, p in norm.items()}


def temperature_proportions(
    sizes: dict[str, int], alpha: float = 0.3
) -> dict[str, float]:
    """Temperature-scaled mixture proportions: p_i ∝ n_i^alpha — the
    multilingual-corpus sampling rule (mT5 / XLM-R style; alpha=0.3 is
    mT5's published setting). alpha=1 reproduces natural proportions,
    alpha→0 approaches uniform; alpha<1 upweights low-resource sources
    without ever inverting the size ordering. Feed the result to
    `mixture_rates`/`mix_sources` — which then scale the corpus so no
    source is oversampled."""
    if not sizes:
        raise ValueError("sizes is empty")
    if any(n <= 0 for n in sizes.values()):
        raise ValueError("source sizes must be positive")
    w = {k: float(n) ** alpha for k, n in sizes.items()}
    tot = sum(w.values())
    return {k: v / tot for k, v in w.items()}


def mix_sources(
    sources: dict[str, DataFrame],
    proportions: dict[str, float],
    id_col: str,
    tag_col: str = "mix_source",
) -> DataFrame:
    """Union the sources, each hash-sampled to its mixture rate, with a
    ``tag_col`` column naming where each row came from. Columns are
    aligned by name (every source must share the ``id_col``; the union
    uses the COMMON columns so heterogeneous sources mix on their shared
    schema).

    The per-source counts are one metadata-only aggregate each (parquet
    row-group stats make count() a footer read); everything else is a
    pushdown-able filter plus a union — no shuffle at all."""
    sizes = {k: df.count() for k, df in sources.items()}
    rates = mixture_rates(sizes, proportions)
    common = None
    for df in sources.values():
        cols = set(df.columns)
        common = cols if common is None else (common & cols)
    if id_col not in (common or set()):
        raise ValueError(f"id_col {id_col!r} must exist in every source")
    if tag_col in common:
        raise ValueError(
            f"tag_col {tag_col!r} collides with a source column — pick another"
        )
    ordered = sorted(common)

    parts = []
    for name, df in sources.items():
        rate = rates.get(name, 0.0)
        if rate <= 0:
            continue
        # salt the gate with the source name so the same id isn't
        # correlated across sources (identical ids would otherwise be
        # kept/dropped together, biasing cross-source joins).
        key = f"concat({sql_str(name + ':')}, CAST({sql_ident(id_col)} AS STRING))"
        gate = (
            F.pmod(F.expr(MD5_INT_SPARK_SQL(key)), F.lit(_SCALE))
            < F.lit(int(round(rate * _SCALE)))
        )
        parts.append(
            df.where(gate).select(F.lit(name).alias(tag_col), *ordered)
        )
    if not parts:
        raise ValueError("no source has a positive mixture proportion")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def epoch_repeats(
    docs: DataFrame,
    repeats: dict,
    source_col: str = "source",
    id_col: str = "doc_id",
    epoch_seed: int = 0,
    default: float | None = None,
) -> DataFrame:
    """Materialize a repeat-factor training epoch (closure operator C52).

    Mixture recipes state per-source REPEAT factors, not just sampling
    rates — "code ×3.0, books ×1.5, web ×1.0" (the multi-epoch
    upweighting in Llama-style data recipes; DoReMi weights reduce to
    the same shape). ``repeats`` maps source → float factor r ≥ 0: each
    doc of that source contributes floor(r) full copies plus one more
    copy with probability frac(r), decided by a deterministic md5 gate
    on (id, copy index, epoch_seed) — no RNG state, reproducible across
    runs/engines/cluster sizes, different epochs draw different
    fractional subsets by seed.

    Output: the input columns + ``rep`` (0-based copy index). Sources
    absent from ``repeats`` are dropped (explicit beats implicit, as in
    `budget_select_grouped`) unless ``default`` gives them a factor. Scale shape: one broadcast join + one
    explode of an ≤(floor(r)+1)-element integer sequence — row
    replication happens HERE, after any heavy per-doc transforms, and
    the typical consumer immediately projects (id, rep, n_tokens) into
    packing/shuffle, so the wide text column never multiplies through a
    shuffle."""
    if any(r < 0 for r in repeats.values()) or (default is not None and default < 0):
        raise ValueError("repeat factors must be >= 0")
    spark = docs.sparkSession
    group_t = docs.schema[source_col].dataType.simpleString()
    rep_df = spark.createDataFrame(
        [(k, float(v)) for k, v in repeats.items()],
        f"{sql_ident(source_col)} {group_t}, _r double",
    )
    n_full = F.floor("_r").cast("int")
    frac = F.col("_r") - F.floor("_r")
    sep, seed = sql_str("\x1f"), sql_str(str(epoch_seed))
    key = (
        f"concat_ws({sep}, CAST({sql_ident(id_col)} AS STRING), "
        f"CAST(rep AS STRING), {seed})"
    )
    gate = F.expr(MD5_INT_SPARK_SQL(key)) % _SCALE
    joined = (
        docs.join(F.broadcast(rep_df), source_col, "left")
        .withColumn(
            "_r",
            F.coalesce(
                F.col("_r"),
                F.lit(float(default)) if default is not None else F.lit(None),
            ),
        )
        .where(F.col("_r").isNotNull())
    )
    return (
        joined.withColumn("rep", F.explode(F.sequence(F.lit(0), n_full)))
        .where(
            (F.col("rep") < n_full)
            | ((frac > 0) & (gate < (frac * _SCALE).cast("long")))
        )
        .drop("_r")
    )
