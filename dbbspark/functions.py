"""Column-level helpers: the only "custom" scalar machinery the engine
needs (SURVEY.md §4: template compiler, vector math). Everything is built
from pyspark.sql.functions Column expressions — JVM-side, codegen-friendly,
no Python UDFs in any hot path.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, functions as F

# --- ${var} template → Column compiler (SURVEY.md §2.8 F6 / §2.10 U4) ------
#
# The reference expands `${band}/${nite}`-style directory patterns per row in
# Python (`replace_vars_single`, bin/save_DBB_stagein_to_DBB.py:180-184).
# Here the pattern is compiled ONCE at plan-build time into a concat of
# literals and column refs, so expansion happens in whole-stage codegen.

_TEMPLATE_RE = re.compile(r"\$\{([A-Za-z_][A-Za-z0-9_]*)\}")


def compile_template(pattern: str) -> Column:
    """Compile a ``${var}`` path template into a single Column expression.

    >>> compile_template("${source}/${lang}/doc_${doc_id}.parquet")
    Column<concat(source, /, lang, /doc_, doc_id, .parquet)>
    """
    parts: list[Column] = []
    pos = 0
    for m in _TEMPLATE_RE.finditer(pattern):
        if m.start() > pos:
            parts.append(F.lit(pattern[pos : m.start()]))
        parts.append(F.col(m.group(1)).cast("string"))
        pos = m.end()
    if pos < len(pattern):
        parts.append(F.lit(pattern[pos:]))
    if not parts:
        return F.lit("")
    return F.concat(*parts)


# --- generated Spark SQL: every interpolated name or literal goes through these


def batch_lit(batch_id: int) -> Column:
    """The ``batch`` partition column of a per-batch write
    (``batch=<id>`` directories).

    A string literal on purpose: Spark inlines an int or long literal
    into the generated Java source, so each new batch id would compile
    the write's stage again, while a string literal reaches the compiled
    class by reference. The directory name is the same either way, and
    partition discovery still reads the column back as an int."""
    return F.lit(str(int(batch_id)))


def sql_ident(name: str) -> str:
    """Spark-SQL quoted identifier (embedded backticks doubled) — also a
    valid ``F.col`` / ``select`` reference for any column name."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(s: str) -> str:
    """Spark-SQL single-quoted string literal (backslash escaping)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


# --- vector math over array<float>/array<double> (SURVEY.md §2.11 C3) ------
#
# Expression-only (zip_with + aggregate): stays JVM-side, works on any array
# column without UDF serialization. Accumulate in double.


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two array<numeric> columns — pure JVM
    (zip_with + aggregate), double accumulation."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column | str) -> Column:
    """L2 norm of an array column (JVM-side)."""
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity of two array columns (JVM-side)."""
    return dot(a, b) / (norm(a) * norm(b))


def ngram_array(toks: Column | str, n: int) -> Column:
    """Non-distinct word n-gram array from a token array column —
    repetition metrics need multiplicity, so no array_distinct (contrast
    operators/dedup.shingles_from_tokens). Docs shorter than n get an
    empty array (sequence(1, 0) would generate a DESCENDING [1, 0])."""
    toks = F.col(toks) if isinstance(toks, str) else toks
    cnt = F.size(toks) - (n - 1)
    idx = F.when(cnt >= 1, F.sequence(F.lit(1), cnt)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + k) for k in range(n)])
    )


def dup_ratio(arr: Column | str) -> Column:
    """Fraction of array elements that are repeat occurrences —
    1 - |distinct|/|all|, the Gopher-style duplicate n-gram fraction
    (Rae et al. 2021 §A1.1 use duplicate line/paragraph fractions; with
    single-line docs the token/n-gram form carries the same signal).
    0.0 for empty arrays; rounded to 4dp for engine-portable compares."""
    arr = F.col(arr) if isinstance(arr, str) else arr
    n = F.size(arr)
    return F.when(
        n > 0, F.round(1.0 - F.size(F.array_distinct(arr)).cast("double") / n, 4)
    ).otherwise(F.lit(0.0))


def dup_char_fraction(sorted_arr: Column | str) -> Column:
    """CHAR-weighted duplicate fraction (Rae et al. 2021 §A1.1's
    'fraction of characters in duplicate lines' family): chars in the
    2nd+ occurrence of each distinct element over total element chars.
    Takes a PRE-SORTED array column (materialize `array_sort(...)` as a
    real column first — interpreted lambdas have no CSE, an inline sort
    would re-sort per element). Pure projection: adjacent-equal scan
    over the sorted copy, no shuffle. 0.0 when total chars are 0."""
    s = F.col(sorted_arr) if isinstance(sorted_arr, str) else sorted_arr
    # r13: ONE adjacent-equal scan carrying (prev, dup, tot) — the old
    # shape paid two interpreted aggregate passes (index-based dup scan
    # with three element_at lookups per step, plus a separate total),
    # this one walks the array once with direct element refs.
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("bigint").alias("dup"),
        F.lit(0).cast("bigint").alias("tot"),
    )

    def step(acc, x):
        ln = F.length(x).cast("bigint")
        return F.struct(
            x.alias("prev"),
            F.when(x.eqNullSafe(acc["prev"]), acc["dup"] + ln)
            .otherwise(acc["dup"])
            .alias("dup"),
            (acc["tot"] + ln).alias("tot"),
        )

    return F.aggregate(
        s,
        init,
        step,
        lambda acc: F.when(
            acc["tot"] > 0, F.round(acc["dup"].cast("double") / acc["tot"], 4)
        ).otherwise(F.lit(0.0)),
    )


def top_run_char_fraction(sorted_arr: Column | str) -> Column:
    """Gopher's 'fraction of characters in the most frequent n-gram':
    max over distinct elements of count×len, over total element chars —
    computed as a single run-length scan of a PRE-SORTED array (equal
    elements are one maximal run in sorted order, so the running
    run-length×len maximum IS the global count×len maximum). Struct
    accumulator (prev, run, best); pure projection, no shuffle."""
    s = F.col(sorted_arr) if isinstance(sorted_arr, str) else sorted_arr
    # r13: the running total rides the same scan (was a second
    # interpreted aggregate pass over the whole array).
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("bigint").alias("run"),
        F.lit(0).cast("bigint").alias("best"),
        F.lit(0).cast("bigint").alias("tot"),
    )

    def step(acc, x):
        run = (
            F.when(x.eqNullSafe(acc["prev"]), acc["run"] + F.lit(1).cast("bigint"))
            .otherwise(F.lit(1).cast("bigint"))
        )
        ln = F.length(x).cast("bigint")
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run * ln).alias("best"),
            (acc["tot"] + ln).alias("tot"),
        )

    return F.aggregate(
        s,
        init,
        step,
        lambda acc: F.when(
            acc["tot"] > 0, F.round(acc["best"].cast("double") / acc["tot"], 4)
        ).otherwise(F.lit(0.0)),
    )


# --- money-sum discipline for oracle parity --------------------------------
#
# Accumulated double sums differ in final bits between engines; route
# money-style aggregations through DECIMAL(18,2) (exact, associative) and
# surface as double. The oracle SQL mirrors this with
# CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE).


def money_sum(col: Column | str, alias: str) -> Column:
    """Exact money-style SUM: accumulate in DECIMAL(18,2), cast back to
    double — float-sum order-dependence never reaches the oracle hash."""
    col = F.col(col) if isinstance(col, str) else col
    return F.sum(col.cast("decimal(18,2)")).cast("double").alias(alias)


def MONEY_SUM_SQL(expr: str, alias: str) -> str:
    """DuckDB SQL counterpart of `money_sum` (same DECIMAL discipline)."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,2))) AS DOUBLE) AS {alias}"


def round_half_up_py(x: float | None, scale: int) -> float | None:
    """Python twin of ``F.round`` on DOUBLE columns (r14): Spark rounds
    via ``BigDecimal.valueOf(x).setScale(scale, HALF_UP)`` where
    ``BigDecimal.valueOf`` parses ``Double.toString``'s shortest decimal
    representation — exactly what Python's ``repr(float)`` produces — so
    ``Decimal(repr(x))`` + ``ROUND_HALF_UP`` reproduces the value
    bit-for-bit. Driver-regime callers (the q_dedup_clusters fused
    local assembly) use it to finish already-collected rows without a
    Spark job; equality with F.round is pinned in
    tests/test_functions.py including .5 ties and repr-edge doubles."""
    if x is None:
        return None
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-scale)
    return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))
