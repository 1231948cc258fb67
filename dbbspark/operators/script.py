"""Unicode-script profiling — per-document writing-system composition
(closure operator, SURVEY.md §2.11 C49; the multilingual-corpus routing
signal that the stopword language-ID heuristic (C4) cannot provide for
non-Latin scripts: a Chinese document has zero English stopwords AND
zero Latin letters — script composition separates "other language" from
"Latin-script junk").

Pure JVM: one `regexp_count` per script block over the codepoint
classes, ratios as column arithmetic, dominant script as a greatest-of
CASE — map-only, fuses into the scan, no tokenization needed (scripts
are per-CHARACTER properties).

Blocks are the coarse practical set (ranges, not the full Unicode
Script property): Latin, Cyrillic, Greek, Arabic, Hebrew, Devanagari,
CJK (unified ideographs), Hiragana/Katakana, Hangul, plus digit /
whitespace / other. Coarse is the point — routing and quality gates
need "mostly CJK", not ISO 15924 exactness.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions import sql_ident, sql_str

# name -> regex character class (Java regex, \\x{...} codepoints)
SCRIPT_CLASSES: dict[str, str] = {
    "latin": r"[A-Za-zÀ-ɏ]",
    "cyrillic": r"[Ѐ-ӿ]",
    "greek": r"[Ͱ-Ͽ]",
    "arabic": r"[؀-ۿ]",
    "hebrew": r"[֐-׿]",
    "devanagari": r"[ऀ-ॿ]",
    "cjk": r"[一-鿿㐀-䶿]",
    "kana": r"[぀-ヿ]",
    "hangul": r"[가-힯ᄀ-ᇿ]",
    "digit": r"[0-9]",
}


def SCRIPT_COUNT_SQL(text_sql: str, name: str) -> str:
    """Spark SQL for the count of script class ``name`` characters in the
    SQL expression ``text_sql`` (NULL text counts 0) — the one definition
    `script_profile` and the constant-stratum call sites (q_doc_metrics,
    one CASE expression per class) share."""
    return (
        f"regexp_count(coalesce({text_sql}, ''), "
        f"{sql_str(SCRIPT_CLASSES[name])})"
    )


def script_derivations(min_letters: int = 5) -> tuple[list[Column], Column]:
    """(ratio columns, dominant column) over ALREADY-MATERIALIZED
    ``n_<class>`` count columns (SCRIPT_COUNT_SQL per class) — the
    expression-level half of `script_profile`, for callers composing
    the profile into an existing single-projection annotate pass
    (q_doc_metrics) instead of joining a second relation. Counts must
    be real columns: the derivations reference each count several
    times, and a prior select is the no-CSE discipline this codebase
    uses for interpreted re-evaluation hazards."""
    # r14: the expressions are GENERATED SQL text parsed by one F.expr
    # call per output column, not nested py4j Column builders — the
    # when/otherwise chains over the class list cost ~0.9 s of driver
    # round trips per plan build (construction is inside the bench's
    # timed region). The parsed trees are the same expressions: CASE
    # WHEN ≡ when/otherwise (the nested dominant chain flattens to the
    # equivalent multi-branch CASE with identical first-match-wins
    # order), `/` on bigints is double division in both forms, and
    # every reference is to the materialized n_<class> columns.
    # Ratio/dominant equality vs the Column-built forms is pinned in
    # tests/test_script.py.
    letters = [n for n in SCRIPT_CLASSES if n != "digit"]
    total = " + ".join(f"n_{n}" for n in letters)
    ratio_cols = [
        F.expr(
            f"CASE WHEN ({total}) > 0 THEN n_{n} / ({total}) "
            f"ELSE 0.0D END"
        ).alias(f"{n}_ratio")
        for n in letters
    ]
    max_count = "greatest(" + ", ".join(f"n_{n}" for n in letters) + ")"
    branches = " ".join(
        f"WHEN ({total}) >= {int(min_letters)} AND n_{n} = {max_count} "
        f"THEN {sql_str(n)}"
        for n in letters
    )
    dominant = F.expr(f"CASE {branches} ELSE 'unknown' END")
    return ratio_cols, dominant.alias("dominant_script")


def script_profile(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_letters: int = 5,
) -> DataFrame:
    """(id, n_chars, per-script ratios..., dominant_script).

    Ratios are over LETTER characters (script classes except digit), so
    punctuation/whitespace-heavy docs still classify by their letters;
    documents with fewer than ``min_letters`` letters get
    dominant_script = 'unknown' (a 3-char fragment shouldn't route).
    Ties break by the SCRIPT_CLASSES declaration order (stable across
    runs and engines).
    """
    counted = docs.select(
        F.col(id_col),
        F.length(F.coalesce(F.col(text_col), F.lit(""))).alias("n_chars"),
        *[
            F.expr(SCRIPT_COUNT_SQL(sql_ident(text_col), n)).alias(f"n_{n}")
            for n in SCRIPT_CLASSES
        ],
    )
    ratio_cols, dominant = script_derivations(min_letters)
    return counted.select(id_col, "n_chars", *ratio_cols, dominant)
