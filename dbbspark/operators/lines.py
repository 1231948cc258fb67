"""Cross-document LINE-level dedup — boilerplate removal (training-
pipeline closure, SURVEY.md §2.11).

Document-level dedup (operators/dedup.py) and span dedup (operators/
spans.py) bracket a third published formulation: CCNet-style *line*
dedup ("CCNet: Extracting High Quality Monolingual Datasets from Web
Crawl Data", Wenzek et al. 2020), where the unit of duplication is the
newline-delimited line. Web corpora are dominated by boilerplate that
repeats verbatim across pages — navigation, cookie banners, footers —
and those lines are exactly the ones whose corpus-wide document
frequency explodes. Dropping every line whose normalized hash occurs
>= min_df times removes the boilerplate while leaving body text (which
rarely repeats at line granularity) untouched.

Spark-native formulation, two shuffles total:

1. posexplode the lines of every doc → (doc, line_no, line); hash a
   *normalized* form (lowercase, digits stripped, whitespace collapsed —
   the CCNet normalization, so "© 2019 Acme" and "© 2020 ACME" collide)
   with xxhash64, so the corpus-wide frequency relation moves longs.
2. corpus df per hash from a groupBy (map-side partial aggregation —
   immune to the hub keys this operator EXISTS to find), then mentions
   tag themselves by joining the >=min_df inventory: a sort-merge join
   AQE can skew-split on the probe side, where a count WINDOW keyed on
   h would pin every mention of the biggest boilerplate line to one
   unsplittable task. The inventory is never broadcast (it is
   corpus-scale); the join shuffles on h like the window did, minus
   the straggler.
3. Surviving lines reassemble per doc with sort_array over
   (line_no, line) structs — order is restored exactly, and the
   reassembly groupBy(doc) is the second shuffle.

Blank/whitespace-only lines are exempt (always kept): their hash would
collide corpus-wide and deleting them would silently reflow every
document. keep_first=True keeps the single occurrence with the smallest
(doc, line_no) per hash — the keep-one-copy policy — instead of
deleting all occurrences.

A 64-bit hash collision can only delete one innocent line per colliding
pair (~(distinct lines)²/2⁶⁵), the same accepted approximation as the
other hashed-dedup operators.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def normalized_line_col(line: Column) -> Column:
    """CCNet line normalization for *hashing only* (the emitted text
    keeps the original bytes): lowercase, strip digits, collapse
    whitespace runs, trim."""
    norm = F.lower(line)
    norm = F.regexp_replace(norm, r"\d+", "")
    norm = F.regexp_replace(norm, r"\s+", " ")
    return F.trim(norm)


def line_mentions(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, line_no, line, h): every line of every document with the
    xxhash64 of its normalized form. line_no is 0-based; h is null for
    blank/whitespace-only lines (exempt from dedup).

    A NULL text has no lines and comes out as one row with NULL line_no,
    line and h (posexplode_outer), so every input row keeps a row whose
    ``coalesce(line_no, 0)`` is 0 — the streaming line gate takes its
    document spine from those rows. Callers that count lines filter on
    ``h IS NOT NULL``, which drops that row with the blank lines."""
    lines = docs.select(
        F.col(id_col).alias("doc"),
        F.posexplode_outer(F.split(F.col(text_col), "\n")).alias(
            "line_no", "line"
        ),
    )
    norm = normalized_line_col(F.col("line"))
    return lines.withColumn(
        "h", F.when(norm != "", F.xxhash64(norm))
    )


def duplicate_line_hashes(
    docs: DataFrame, id_col: str, text_col: str, min_df: int = 2
) -> DataFrame:
    """(h, df) for normalized lines occurring >= min_df times corpus-wide
    — the boilerplate inventory, useful on its own as a report."""
    mentions = line_mentions(docs, id_col, text_col).where(F.col("h").isNotNull())
    return (
        mentions.groupBy("h")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") >= min_df)
    )


def dedup_lines(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_df: int = 2,
    keep_first: bool = False,
) -> DataFrame:
    """Documents with corpus-duplicated lines removed; schema
    (id_col, text_col), a drop-in for the next pipeline stage.

    A line is removed when its normalized hash occurs >= min_df times
    across the corpus (within-doc repeats count, as in CCNet). With
    keep_first the occurrence with the smallest (doc, line_no) survives.
    Documents whose every line is boilerplate come back with empty text
    — report-don't-drop; a downstream length filter decides their fate.
    """
    if min_df < 2:
        raise ValueError("min_df must be >= 2 (1 would delete every line)")
    mentions = line_mentions(docs, id_col, text_col)
    # Hub-skew-safe frequency: this operator's PURPOSE is finding hub
    # lines (corpus-wide boilerplate), so its hot key is skewed BY
    # DESIGN — the biggest footer line can appear in a double-digit
    # percentage of a web corpus. A count window partitioned on h would
    # shuffle every mention of that line into ONE task, and windows
    # cannot be AQE-skew-split. The df therefore comes from a groupBy
    # (map-side partial aggregation — skew-immune) and mentions are
    # tagged by JOINING against the duplicated-hash inventory, which is
    # exactly the probe-side-skew shape OptimizeSkewedJoin splits at
    # runtime. Blank lines (h NULL, always kept) route around the hash
    # join entirely — they would otherwise co-locate on the NULL key.
    blanks = mentions.where(F.col("h").isNull())
    live = mentions.where(F.col("h").isNotNull())
    dup = (
        live.groupBy("h")
        .agg(
            F.count("*").alias("df"),
            F.min(F.struct("doc", "line_no")).alias("first"),
        )
        .where(F.col("df") >= min_df)
    )
    if keep_first:
        tagged = live.join(dup, "h", "left")
        survivors = tagged.where(
            F.col("df").isNull()
            | (
                (F.col("doc") == F.col("first.doc"))
                & (F.col("line_no") == F.col("first.line_no"))
            )
        )
    else:
        survivors = live.join(dup.select("h"), "h", "left_anti")
    survivors = survivors.select("doc", "line_no", "line").unionByName(
        blanks.select("doc", "line_no", "line")
    )
    reassembled = survivors.groupBy("doc").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.sort_array(F.collect_list(F.struct("line_no", "line"))),
                lambda s: s["line"],
            ),
        ).alias(text_col)
    )
    # Docs that lost every line still come back (empty text): right-join
    # the id spine so the operator never silently drops documents.
    spine = docs.select(F.col(id_col).alias("doc"))
    return (
        spine.join(reassembled, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
        )
    )
