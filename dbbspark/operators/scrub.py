"""Text scrubbing + benchmark decontamination (LLM-pipeline closure ops
beyond the reference's surface, SURVEY.md §2.11).

Both stay JVM-side: scrubbing is a chain of codegen'd regexp_replace
expressions; decontamination broadcasts the (small) benchmark shingle set
so the corpus never shuffles — the standard shapes at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions import sql_ident, sql_str
from .dedup import MD5_INT_SPARK_SQL, shingle_docs

# Deliberately conservative patterns: scrubbing trades recall for not
# mangling ordinary text (versions, ids). Tightening them is a config
# change, not a code change — pass your own dict to scrub_pii.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"(?<![0-9])(?:\+?1[-. ])?(?:\([0-9]{3}\)|[0-9]{3})[-. ][0-9]{3}[-. ][0-9]{4}(?![0-9])",
    "ipv4": r"(?<![0-9.])(?:[0-9]{1,3}\.){3}[0-9]{1,3}(?![0-9.])",
    "ssn": r"(?<![0-9-])[0-9]{3}-[0-9]{2}-[0-9]{4}(?![0-9-])",
}


def pii_counts_col(text: Column, patterns: dict[str, str] | None = None) -> Column:
    """map<string,int> of per-category PII hit counts — the audit column
    (what a pipeline logs/aggregates before deciding to scrub or drop)."""
    pats = patterns or PII_PATTERNS
    return F.map_from_arrays(
        F.array(*[F.lit(k) for k in pats]),
        F.array(
            *[F.size(F.regexp_extract_all(text, F.lit(p), F.lit(0))) for p in pats.values()]
        ),
    )


def scrub_pii(
    df: DataFrame,
    text_col: str,
    out_col: str | None = None,
    patterns: dict[str, str] | None = None,
    count_col: str | None = "pii_counts",
) -> DataFrame:
    """Redact PII categories from ``text_col`` (each hit becomes
    ``<CATEGORY>``), optionally recording per-category hit counts.

    A chain of JVM regexp_replace expressions — whole-stage-codegen'd,
    no Python, no shuffle; scrubbing 100 TB is exactly a scan."""
    pats = patterns or PII_PATTERNS
    out = out_col or text_col
    scrubbed = F.col(text_col)
    for name, pat in pats.items():
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{name.upper()}>")
    res = df
    if count_col:
        res = res.withColumn(count_col, pii_counts_col(F.col(text_col), pats))
    return res.withColumn(out, scrubbed)


def benchmark_overlap(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
    shingle_n: int = 8,
) -> DataFrame:
    """Test-set decontamination: per corpus doc, how many distinct
    ``shingle_n``-gram shingles it shares with ANY benchmark document —
    rows with ``overlap > 0`` are contamination candidates to drop before
    training. Returns (doc, overlap, n_shingles).

    Long shingles (n=8 default) make accidental collisions essentially
    impossible, so a single shared shingle is a real quote. The benchmark
    side is small by construction (eval sets are thousands of docs), so
    its DISTINCT hashed shingle set broadcasts and the corpus-side probe
    is map-side: shingle, hash, array_intersect against the broadcast set
    — the corpus never shuffles. (At a benchmark too big to broadcast,
    fall back to an equi-join on the shingle hash.)"""
    bench_sh = (
        shingle_docs(benchmark, bench_id_col, bench_text_col, shingle_n)
        .select(F.explode("shingles").alias("s"))
        .select(F.expr(MD5_INT_SPARK_SQL("s")).alias("h"))
        .distinct()
    )
    doc_sh = shingle_docs(docs, id_col, text_col, shingle_n).select(
        "doc",
        F.size("shingles").alias("n_shingles"),
        F.expr(
            f"array_distinct(transform(shingles, s -> {MD5_INT_SPARK_SQL('s')}))"
        ).alias("hs"),
    )
    # collect the benchmark set once (small side), probe via array_intersect
    # against a broadcast literal-free join: cross-join the 1-row set.
    bench_set = bench_sh.agg(F.collect_set("h").alias("bench_hs"))
    return (
        doc_sh.join(F.broadcast(bench_set))
        .select(
            "doc",
            F.size(F.array_intersect("hs", "bench_hs")).alias("overlap"),
            "n_shingles",
        )
    )


def leakage_safe_split(
    df: DataFrame,
    group_col: str,
    val_fraction: float,
    salt: str = "split-v1",
) -> DataFrame:
    """Train/validation split that cannot leak near-duplicates across
    the boundary: the split coin is flipped per GROUP (domain, source,
    or — strongest — the near-dup component id from
    `connected_components_adaptive`), never per document, so every
    member of a group lands on the same side.

    A per-document split looks fine at fixture scale but is the classic
    eval-contamination bug at corpus scale: web crawls hold the same
    article on many URLs, and a doc-keyed coin puts one copy in train
    and one in val. Grouping by dedup component (or its cheap proxy,
    registrable domain) closes that path.

    The gate is the same deterministic md5 hash the stratified sampler
    uses — reproducible across runs, engines, and cluster sizes, no RNG
    state, pushdown-able. `salt` versions the split: changing it re-deals
    every group, so an experiment's split is pinned by recording one
    string. Output: input + `is_val` boolean (filter to materialize
    either side; keeping the flag joinable is what audit queries want)."""
    bucket = F.pmod(
        F.expr(MD5_INT_SPARK_SQL(
            f"concat_ws('', {sql_str(salt)}, CAST({sql_ident(group_col)} AS STRING))"
        )),
        F.lit(1_000_000),
    )
    return df.withColumn("is_val", bucket < int(val_fraction * 1_000_000))
