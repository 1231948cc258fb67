"""Text-analysis layer (SURVEY.md §2.11 C4) — language-ID heuristic,
quality scoring, token counting, stratified sampling. Grouped corpus
stats are expression-level (split / higher-order functions / regexp);
the per-document annotate pass computes its text-derived counts in ONE
Arrow batch (r14 — interpreted HOF lambdas never reach whole-stage
codegen; the single ArrowEvalPython crossing measured 2.2× faster on
the composed projection, plans/r14/probe_doc_metrics_arrow.py).

Round-2 consolidation: the per-document metrics (quality gates, token
counts, lang-ID, sampling gate) are one projection — q_doc_metrics — the
natural "annotate every document" pipeline stage; grouped corpus stats
stay in q_text_stats. The document fingerprint lives with the other
content hashes folded into q_string_funcs (queries/scalars.py).
"""

from __future__ import annotations

import re as _re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..catalog import query
from ..functions import sql_str
from ..tables import load_table

from dbbspark.session import cut_lineage

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")
_SW_SQL = "('" + "','".join(_STOPWORDS) + "')"

# C37 fold: the SAME public-suffix approximation the operator compiles
# into its regex, interpolated verbatim into the oracle.
from ..operators.urls import _TWO_LABEL_SUFFIXES as _SUFFIXES  # noqa: E402


@query(
    "q_text_stats",
    oracle="""
    WITH blamed AS (
      SELECT *, CASE
        WHEN (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 20 = 0) THEN 'blocklist'
        WHEN n_chars < 100 THEN 'too_short'
        WHEN lang NOT IN ('en', 'de') THEN 'bad_lang'
        ELSE '__survived__' END AS first_drop
      FROM documents),
    m AS (
      SELECT toks.doc_id, g.i - 1 AS pos,
             array_to_string(toks.t[g.i:g.i+4], ' ') AS gram
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) toks
      CROSS JOIN LATERAL (
        SELECT unnest(generate_series(1, len(toks.t) - 4)) AS i) g),
    dupg AS (SELECT gram FROM m GROUP BY gram HAVING count(*) >= 2),
    d AS (SELECT doc_id, pos FROM m
          WHERE gram IN (SELECT gram FROM dupg)),
    d2 AS (SELECT doc_id, pos,
           CASE WHEN pos - lag(pos) OVER
                (PARTITION BY doc_id ORDER BY pos) > 5
                THEN 1 ELSE 0 END AS nw FROM d),
    isl AS (SELECT doc_id, pos,
            SUM(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS island
            FROM d2),
    sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 5 AS e
           FROM isl GROUP BY doc_id, island),
    spd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nsp,
                   CAST(sum(e - s) AS BIGINT) AS sptok
            FROM sp GROUP BY doc_id)
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars,
           COUNT(*) FILTER (first_drop = 'blocklist') AS n_blocklist,
           COUNT(*) FILTER (first_drop = 'too_short') AS n_too_short,
           COUNT(*) FILTER (first_drop = 'bad_lang') AS n_bad_lang,
           COUNT(*) FILTER (first_drop = '__survived__') AS n_survived,
           CAST(SUM(COALESCE(spd.nsp, 0)) AS BIGINT) AS n_dup_spans,
           CAST(SUM(COALESCE(spd.sptok, 0)) AS BIGINT) AS dup_span_tokens,
           COUNT(spd.nsp) AS n_docs_with_spans
    FROM blamed LEFT JOIN spd USING (doc_id)
    GROUP BY lang, source
    """,
    doc="C4+C45 (merged): corpus statistics per (lang, source) — doc/char/"
    "token counts, the grouped profile a training-data pipeline reports "
    "per shard — PLUS the curation-funnel blame columns: each doc is "
    "charged to the FIRST pipeline stage that would drop it "
    "(operators/funnel.py:funnel_blame — first-match CASE ≡ sequential "
    "attribution), here a 3-stage chain exercising BOTH stage forms: a "
    "set-valued blocklist stage (DataFrame of ids, joined as a flag — "
    "the near-dup-component shape) then two predicate stages "
    "(too_short, bad_lang). The conditional counts are the "
    "funnel_summary aggregation folded into the existing grouping. "
    "FOLDED C19 (r11): `n_dup_spans`/`dup_span_tokens`/"
    "`n_docs_with_spans` run duplicate_ngram_spans (operators/spans.py) "
    "end to end — posexploded 5-gram mentions, the hub-skew-safe df "
    "gate, and the gaps-and-islands span merge — aggregated per (lang, "
    "source); the oracle re-derives the SAME spans in DuckDB with the "
    "gram STRING as the key (content equality ≡ the operator's xxhash64 "
    "equality modulo ~2^-64 collisions), a lateral generate_series for "
    "the mention positions and the textbook lag/sum-over "
    "gaps-and-islands. A df-count, island-boundary (pos gap > n), or "
    "span-extent bug cannot hide (VERDICT r10 item 5's C19 follow-on).",
    tags=("text", "funnel", "closure"),
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import MD5_INT_SPARK_SQL
    from ..operators.funnel import SURVIVED, funnel_blame
    from ..operators.spans import duplicate_ngram_spans

    docs = load_table(spark, sf_dir, "documents")
    # set-valued stage: a deterministic "blocklist" id set (md5 gate —
    # stands in for an upstream near-dup component drop list)
    block_ids = docs.where(
        F.expr(MD5_INT_SPARK_SQL("CAST(doc_id AS STRING)")) % 20 == 0
    ).select("doc_id")
    blamed = funnel_blame(
        docs,
        [
            ("blocklist", block_ids),
            ("too_short", F.col("n_chars") < 100),
            ("bad_lang", ~F.col("lang").isin("en", "de")),
        ],
    )
    # C19 fold: maximal duplicate 5-gram spans per doc (n=5 fits the
    # fixture's 15-60-token docs; the operator default n=20 targets
    # real corpora), aggregated per doc then LEFT-joined back so
    # span-free docs contribute zeros.
    spans = duplicate_ngram_spans(
        docs.select("doc_id", "text"), "doc_id", "text", n=5, min_count=2
    )
    per_doc = spans.groupBy("doc").agg(
        F.count("*").alias("_nsp"),
        F.sum(F.col("span_end") - F.col("span_start")).alias("_sptok"),
    )
    blamed = blamed.join(
        per_doc, blamed["doc_id"] == per_doc["doc"], "left"
    ).drop("doc")
    toks = F.split(F.col("text"), " ")
    return blamed.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.size(toks).cast("bigint")).alias("total_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.count(F.when(F.col("first_drop") == "blocklist", 1)).alias("n_blocklist"),
        F.count(F.when(F.col("first_drop") == "too_short", 1)).alias("n_too_short"),
        F.count(F.when(F.col("first_drop") == "bad_lang", 1)).alias("n_bad_lang"),
        F.count(F.when(F.col("first_drop") == SURVIVED, 1)).alias("n_survived"),
        F.sum(F.coalesce(F.col("_nsp"), F.lit(0))).alias("n_dup_spans"),
        F.sum(F.coalesce(F.col("_sptok"), F.lit(0))).alias("dup_span_tokens"),
        F.count("_nsp").alias("n_docs_with_spans"),
    )


_URL_CASE = """CASE CAST(doc_id % 6 AS INT)
        WHEN 0 THEN 'https://WWW.News.example.com/Story/' || CAST(doc_id AS VARCHAR)
        WHEN 1 THEN 'http://user@Blog.Test.co.uk:8080/p?q=' || CAST(doc_id AS VARCHAR)
        WHEN 2 THEN 'files.example.org/data'
        WHEN 3 THEN 'https://a.b.co.jp/x'
        WHEN 4 THEN 'http://single-label-host/path'
        ELSE NULL END"""

# C49 fold: one stratum per script class (stratum 0 is an exact
# latin/cyrillic TIE — declaration order must win), a digits-only
# stratum (letters < min → 'unknown') and a NULL stratum. The oracle
# SQL below is GENERATED from the operator's own SCRIPT_CLASSES
# constant, so the char-class patterns agree verbatim.
from ..operators.script import SCRIPT_CLASSES as _SC  # noqa: E402

_SCRIPT_STRATA = (
    "abcdeПриве",        # 5 latin vs 5 cyrillic: tie → latin
    "Привет мир",        # cyrillic
    "γειά σου φίλε",     # greek
    "مرحبا بكم هنا",     # arabic
    "שלום עולם טוב",     # hebrew
    "नमस्ते दुनिया",        # devanagari
    "中文漢字測試",        # cjk
    "かなカナかなカナ",    # kana
    "한글 문자 테스트",    # hangul
    "12345",             # digits only → 0 letters → 'unknown'
)
_SCRIPT_LETTERS = [n for n in _SC if n != "digit"]
_SCRIPT_CASE = (
    "CASE CAST(doc_id % 11 AS INT) "
    + " ".join(f"WHEN {i} THEN '{s}'" for i, s in enumerate(_SCRIPT_STRATA))
    + " ELSE NULL END"
)
_SCRIPT_CNT = ",\n             ".join(
    f"len(regexp_extract_all(coalesce(s, ''), '{_SC[n]}')) AS n_{n}"
    for n in _SCRIPT_LETTERS
)
_SCRIPT_LETS = " + ".join(f"n_{n}" for n in _SCRIPT_LETTERS)
_SCRIPT_MX = "greatest(" + ", ".join(f"n_{n}" for n in _SCRIPT_LETTERS) + ")"
_SCRIPT_DOM = (
    "CASE "
    + " ".join(
        f"WHEN lets >= 5 AND n_{n} = mx THEN '{n}'" for n in _SCRIPT_LETTERS
    )
    + " ELSE 'unknown' END"
)

from ..operators.script import script_derivations  # noqa: E402


def _script_stratum_col() -> F.Column:
    synth = F.lit(None).cast("string")
    for i, s in enumerate(_SCRIPT_STRATA):
        synth = F.when(F.col("doc_id") % 11 == i, F.lit(s)).otherwise(synth)
    return synth


# --- r14: one Arrow batch pass for q_doc_metrics's text-derived counts ----
#
# The r13 projection computed every repetition/winnow metric with
# interpreted higher-order-function lambdas (no whole-stage codegen for
# HOFs) — substage probes put the gram machinery at ~0.64 s, stopword/
# BPE at ~0.24 s and the winnow fold at ~0.17 s of the ~1.26 s warm row
# at sf0.1 (plans/r14/probe_doc_metrics.py). Guide §4: one ArrowEvalPython
# node now computes ALL text-derived INTEGER counts per batch; every
# ratio, round and NULL-propagation rule stays in the JVM projection, so
# float parity with the r13 expressions is structural (Python emits only
# exact ints). Interleaved A/B: 1.283 → 0.584 s with 0/5000 value
# mismatches (plans/r14/probe_doc_metrics_arrow.py). Exact-equality
# contracts mirrored here (pinned in tests/test_functions.py):
# - tokens = text.split(' ') ≡ Spark split(text, ' ') (empties kept);
# - bigram/trigram tuples ≡ concat_ws-joined grams (tokens cannot
#   contain the join char, so tuple distinctness == string distinctness);
# - Python len() ≡ F.length (both count code points);
# - winnow hash = int(md5(gram utf-8)[:15], 16) ≡ MD5_INT_SPARK_SQL
#   (conv is exact: probed);
# - nullable outputs ride pandas Int64 — an object/None column would
#   coerce to float64 on the Arrow boundary and round 60-bit md5 ints
#   (observed off-by-1..4 before the fix).

_BPE_ISH_RE = _re.compile(r"[a-z]+|[0-9]+|[^a-z0-9 ]")
_STOPWORD_SET = frozenset(_STOPWORDS)

_DOC_METRICS_SCHEMA = T.StructType([
    T.StructField("n_tokens", T.IntegerType()),
    T.StructField("sw_hits", T.IntegerType()),
    T.StructField("bpe_ish_tokens", T.IntegerType()),
    T.StructField("d_tok", T.IntegerType()),
    T.StructField("n_g2", T.IntegerType()),
    T.StructField("d_g2", T.IntegerType()),
    T.StructField("n_g3", T.IntegerType()),
    T.StructField("d_g3", T.IntegerType()),
    T.StructField("line_dup", T.LongType()),
    T.StructField("line_tot", T.LongType()),
    T.StructField("g2_best", T.LongType()),
    T.StructField("g2_tot", T.LongType()),
    T.StructField("wfp_n", T.IntegerType()),
    T.StructField("wfp_min", T.LongType()),
])


def _doc_metrics_batch(text: pd.Series, did: pd.Series) -> pd.DataFrame:
    """Per-batch integer counts for q_doc_metrics (see block comment).

    NULL-text rows reproduce the r13 expression semantics exactly:
    NULL token/stopword/BPE counts (size(NULL) is NULL), EMPTY gram
    arrays (ngram_array guards short docs to []), NULL line stats
    (aggregate over a NULL array is NULL), zero g2 char stats
    (aggregate over [] runs the finish on the zero accumulator), empty
    winnow fingerprints."""
    import hashlib
    from collections import Counter

    out: dict[str, list] = {f.name: [] for f in _DOC_METRICS_SCHEMA.fields}
    ap = {k: v.append for k, v in out.items()}
    for t, d in zip(text.tolist(), did.tolist()):
        if t is None:
            ap["n_tokens"](None); ap["sw_hits"](None)  # noqa: E702
            ap["bpe_ish_tokens"](None); ap["d_tok"](None)  # noqa: E702
            ap["n_g2"](0); ap["d_g2"](0)  # noqa: E702
            ap["n_g3"](0); ap["d_g3"](0)  # noqa: E702
            ap["line_dup"](None); ap["line_tot"](None)  # noqa: E702
            ap["g2_best"](0); ap["g2_tot"](0)  # noqa: E702
            ap["wfp_n"](0); ap["wfp_min"](None)  # noqa: E702
            continue
        toks = t.split(" ")
        n = len(toks)
        ap["n_tokens"](n)
        ap["sw_hits"](sum(1 for w in toks if w in _STOPWORD_SET))
        ap["bpe_ish_tokens"](len(_BPE_ISH_RE.findall(t)))
        ap["d_tok"](len(set(toks)))
        g2 = list(zip(toks, toks[1:]))
        ap["n_g2"](len(g2))
        ap["d_g2"](len(set(g2)))
        ap["n_g3"](max(n - 2, 0))
        ap["d_g3"](len(set(zip(toks, toks[1:], toks[2:]))))
        dup = tot = 0
        for line, c in Counter(t.split("\n")).items():
            ll = len(line)
            dup += (c - 1) * ll
            tot += c * ll
        ap["line_dup"](dup)
        ap["line_tot"](tot)
        best = tot2 = 0
        for (a, b), c in Counter(g2).items():
            v = c * (len(a) + len(b) + 1)
            tot2 += v
            if v > best:
                best = v
        ap["g2_best"](best)
        ap["g2_tot"](tot2)
        # C43 winnow fold: 5% portable-md5 doc stratum, k=8 char-gram
        # md5-int hashes, w=4 window minima, first-occurrence distinct
        gate = int(hashlib.md5(str(d).encode()).hexdigest()[:15], 16)
        if gate % 20 == 0 and len(t) >= 8:
            g = [
                int(hashlib.md5(t[i:i + 8].encode("utf-8")).hexdigest()[:15], 16)
                for i in range(len(t) - 7)
            ]
            if len(g) < 4:
                fp = [min(g)]
            else:
                fp = list(dict.fromkeys(
                    min(g[j:j + 4]) for j in range(len(g) - 3)
                ))
            ap["wfp_n"](len(fp))
            ap["wfp_min"](min(fp))
        else:
            ap["wfp_n"](0)
            ap["wfp_min"](None)
    return pd.DataFrame(
        {k: pd.array(v, dtype="Int64") for k, v in out.items()}
    )


doc_text_metrics = F.pandas_udf(_doc_metrics_batch, _DOC_METRICS_SCHEMA)


# --- r14: generated constant-stratum CASE SQL for the C37/C49 folds -------
#
# Both legs are pure functions of doc_id % k over literal strata, so each
# output column is ONE CASE whose branches apply the operators' SQL text
# (urls.HOST_SQL / REGISTERED_DOMAIN_SQL, script.SCRIPT_COUNT_SQL) to a
# string literal — Catalyst constant-folds every branch at plan time.
# Built once at import as plain strings: the previous py4j when/otherwise
# composition cost ~2.5 s of plan-build per bench run (~900 gateway
# round-trips), which sat inside the timed region.

from ..operators.script import SCRIPT_COUNT_SQL  # noqa: E402
from ..operators.urls import HOST_SQL, REGISTERED_DOMAIN_SQL  # noqa: E402

_URL_STRATA = (
    "https://WWW.News.example.com/Story/",
    "http://user@Blog.Test.co.uk:8080/p?q=",
    "files.example.org/data",
    "https://a.b.co.jp/x",
    "http://single-label-host/path",
)


def _url_case_sql(url_sql) -> str:
    branches = " ".join(
        f"WHEN {i} THEN {url_sql(sql_str(u))}" for i, u in enumerate(_URL_STRATA)
    )
    return f"CASE CAST(doc_id % 6 AS INT) {branches} ELSE CAST(NULL AS STRING) END"


_URL_HOST_CASE_SQL = _url_case_sql(HOST_SQL)
_URL_DOMAIN_CASE_SQL = _url_case_sql(REGISTERED_DOMAIN_SQL)
# per class: CASE over the 10 strata, ELSE = the operator's NULL-text
# path (regexp_count over coalesce(NULL,'') — folds to 0)
_SCRIPT_COUNT_CASE_SQL = {
    name: "CASE CAST(doc_id % 11 AS INT) "
    + " ".join(
        f"WHEN {i} THEN {SCRIPT_COUNT_SQL(sql_str(s), name)}"
        for i, s in enumerate(_SCRIPT_STRATA)
    )
    + f" ELSE {SCRIPT_COUNT_SQL('CAST(NULL AS STRING)', name)} END"
    for name in _SC
}


@query(
    "q_doc_metrics",
    oracle=f"""
    WITH u AS (
      SELECT doc_id, {_URL_CASE} AS url FROM documents),
    h AS (
      SELECT doc_id,
             lower(regexp_extract(url,
               '^(?:[^/?]*://)?(?:[^@/?]*@)?([^:/?#]+)', 1)) AS url_host
      FROM u),
    dom AS (
      SELECT doc_id, url_host,
             regexp_extract(url_host,
               '([^.]+\\.(?:{_SUFFIXES}))$', 1) AS three,
             regexp_extract(url_host, '([^.]+\\.[^.]+)$', 1) AS two
      FROM h),
    m AS (
      SELECT doc_id, lang, n_chars,
             string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_filter(string_split(text, ' '), t -> t IN {_SW_SQL}))
               AS sw_hits,
             len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
               AS bpe_ish_tokens
      FROM documents),
    g AS (
      SELECT *,
             list_transform(range(1, greatest(n_tokens - 1, 0) + 1),
               i -> toks[i] || ' ' || toks[i+1]) AS g2,
             list_transform(range(1, greatest(n_tokens - 2, 0) + 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS g3
      FROM m),
    -- char-weighted repetition (Gopher §A1.1): dup-line chars and the
    -- most-frequent-2-gram's chars, per doc via unnest + GROUP BY
    lstat AS (
      SELECT doc_id,
             SUM((c - 1) * ll) AS dupc, SUM(c * ll) AS totc
      FROM (SELECT doc_id, line, COUNT(*) AS c, len(line) AS ll
            FROM (SELECT doc_id,
                         unnest(string_split(text, chr(10))) AS line
                  FROM documents)
            GROUP BY doc_id, line)
      GROUP BY doc_id),
    g2stat AS (
      SELECT doc_id, max(c * gl) AS best, SUM(c * gl) AS tot
      FROM (SELECT doc_id, gr, COUNT(*) AS c, len(gr) AS gl
            FROM (SELECT doc_id, unnest(g2) AS gr FROM g)
            GROUP BY doc_id, gr)
      GROUP BY doc_id),
    scr AS (SELECT doc_id, {_SCRIPT_CASE} AS s FROM documents),
    scnt AS (
      SELECT doc_id,
             {_SCRIPT_CNT}
      FROM scr),
    sdom AS (
      SELECT scnt.*, {_SCRIPT_LETS} AS lets, {_SCRIPT_MX} AS mx
      FROM scnt),
    -- C43 winnow fingerprints: k=8 char-gram md5-int hashes, w=4
    -- window minima, distinct; short docs keep their global min;
    -- 5% md5 doc stratum (same gate as the Spark side), empty outside
    wn AS (
      SELECT doc_id,
             CASE WHEN len(wg) = 0 THEN CAST([] AS BIGINT[])
                  WHEN len(wg) < 4 THEN [list_min(wg)]
                  ELSE list_distinct(list_transform(
                    range(1, len(wg) - 2), j -> list_min(wg[j:j+3]))) END
               AS wfp
      FROM (SELECT doc_id,
              CASE WHEN (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                               1, 15)) AS BIGINT) % 20) = 0
                   -- explicit short-doc guard, mirroring the Spark
                   -- side's (Spark's sequence(1,0) would descend; this
                   -- range is already empty — the guard keeps the two
                   -- contracts textually aligned)
                   AND length(text) >= 8 AND text IS NOT NULL
                   THEN list_transform(
                     range(1, length(text) - 6),
                     i -> CAST(('0x' || substr(md5(substr(text, i, 8)), 1,
                                15)) AS BIGINT))
                   ELSE CAST([] AS BIGINT[]) END AS wg
            FROM documents))
    SELECT g.doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(bpe_ish_tokens AS BIGINT) AS bpe_ish_tokens,
           round(CAST(n_chars AS DOUBLE) / n_tokens, 4) AS avg_token_len,
           round(CAST(sw_hits AS DOUBLE) / n_tokens, 4) AS stopword_ratio,
           round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / n_tokens, 4)
             AS dup_token_ratio,
           CASE WHEN len(g2) > 0
                THEN round(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2), 4)
                ELSE 0.0 END AS dup_2gram_ratio,
           CASE WHEN len(g3) > 0
                THEN round(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3), 4)
                ELSE 0.0 END AS dup_3gram_ratio,
           (n_tokens BETWEEN 20 AND 1000
            AND CAST(n_chars AS DOUBLE) / n_tokens BETWEEN 3 AND 12)
             AS passes_quality,
           CAST(sw_hits AS BIGINT) AS en_hits,
           CASE WHEN sw_hits * 10 >= n_tokens THEN 'en-like'
                ELSE 'other' END AS lang_guess,
           (CAST(('0x' || substr(md5(CAST(g.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
            % 100 <
            CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 20 ELSE 10 END)
             AS in_sample,
           CAST(CAST(n_tokens > 32.0 AS INT) + CAST(n_tokens > 56.0 AS INT)
                + CAST(n_tokens > 76.0 AS INT) AS INT) AS curriculum_stage,
           dom.url_host,
           CASE WHEN dom.three != '' THEN dom.three
                WHEN dom.two != '' THEN dom.two
                ELSE dom.url_host END AS url_domain,
           CASE WHEN coalesce(lstat.totc, 0) > 0
                THEN round(CAST(lstat.dupc AS DOUBLE) / lstat.totc, 4)
                ELSE 0.0 END AS dup_line_char_frac,
           CASE WHEN coalesce(g2stat.tot, 0) > 0
                THEN round(CAST(g2stat.best AS DOUBLE) / g2stat.tot, 4)
                ELSE 0.0 END AS top_2gram_char_frac,
           {_SCRIPT_DOM} AS script_dom,
           CASE WHEN sdom.lets > 0
                THEN round(CAST(sdom.n_latin AS DOUBLE) / sdom.lets, 4)
                ELSE 0.0 END AS script_latin_ratio,
           CAST(len(wn.wfp) AS BIGINT) AS wfp_n,
           CASE WHEN len(wn.wfp) = 0 THEN NULL
                ELSE CAST(list_min(wn.wfp) AS BIGINT) END AS wfp_min
    FROM g JOIN dom ON g.doc_id = dom.doc_id
    LEFT JOIN lstat ON g.doc_id = lstat.doc_id
    LEFT JOIN g2stat ON g.doc_id = g2stat.doc_id
    JOIN sdom ON g.doc_id = sdom.doc_id
    JOIN wn ON g.doc_id = wn.doc_id
    """,
    doc="C4+C10 (merged): the per-document annotation pass every "
    "training-data pipeline runs — token counting (whitespace split + a "
    "BPE-ish regex: letter-runs | digit-runs | other), quality gates "
    "(length / avg-token-length / stopword-ratio, the Gopher-rules "
    "shape), repetition signals (duplicate token / 2-gram / 3-gram "
    "occurrence fractions — the Gopher repetition filters; distinct-count "
    "based so the pass stays a pure projection, no shuffle), "
    "the stopword-density language-ID heuristic (≥10% English "
    "stopwords → 'en-like'), and the deterministic stratified-sampling "
    "gate: per-stratum rates applied via an md5 hash gate on the key, so "
    "the sample is reproducible across runs, engines, AND cluster sizes "
    "(unlike sampleBy's partition-dependent RNG) and is a pushdown-able "
    "filter — no shuffle, no state. FOLDED C53 (operators/curriculum.py:"
    "curriculum_stages, r6): `curriculum_stage` bands each doc by token "
    "count against PINNED quantile cuts (32/56/76 — the replay "
    "discipline: cuts passed in, not re-estimated), the easy→hard "
    "banding curriculum_order materializes; the band CASE is re-derived "
    "as boolean sums in the oracle. FOLDED C37 (r10): `url_host` / "
    "`url_domain` run operators/urls.py HOST_SQL + REGISTERED_DOMAIN_SQL "
    "over deterministic URL strata (mixed-case host, userinfo+port, "
    "schemeless, co.uk/co.jp two-label public suffixes, dotless host, "
    "NULL) — the host regex and the suffix-aware registrable-domain CASE "
    "are re-derived verbatim in DuckDB (the _TWO_LABEL_SUFFIXES "
    "alternation interpolates into both engines from one constant); r14 "
    "applies the operators' expressions to each stratum's literal prefix "
    "(the host capture is invariant to the id suffix — pinned in "
    "tests/test_functions.py) so Catalyst constant-folds the regexes at "
    "plan time. r10 completes the Gopher §A1.1 repetition set with the "
    "CHAR-WEIGHTED forms: `dup_line_char_frac` (chars in 2nd+ "
    "occurrences of each line / total line chars) and "
    "`top_2gram_char_frac` (most-frequent 2-gram's count×len / total "
    "2-gram chars) — both SHUFFLE-FREE per-doc counts, while the "
    "oracle re-derives them the relational way (unnest + GROUP BY + "
    "max/sum) — two genuinely different algorithms agreeing on values. "
    "FOLDED C49 (r10): `script_dom`/`script_latin_ratio` run "
    "operators/script.py's SCRIPT_COUNT_SQL + script_derivations (the "
    "expression core script_profile composes) over one synthetic "
    "stratum per script class (plus an exact latin/cyrillic TIE that "
    "declaration order must win, a digits-only stratum the min_letters "
    "floor must route to 'unknown', and NULL) — IN the same projection, "
    "no join, no second scan (r14: the per-class counts are the "
    "operator's regexp_count over each stratum LITERAL, constant-folded "
    "per CASE branch at plan time); the oracle SQL is GENERATED from "
    "the operator's own SCRIPT_CLASSES constant, so the codepoint-range "
    "character classes agree verbatim across Java regex and RE2. "
    "FOLDED C43 (r11, VERDICT r10 item 5's winnow follow-on): "
    "`wfp_n`/`wfp_min` run the winnowing fingerprint pipeline "
    "(k=8 char grams, w=4 window minima, distinct, the short-doc "
    "global-min and empty cases) over the PORTABLE md5-int hash so "
    "DuckDB re-derives the fingerprints hash-for-hash; the summary is "
    "the fingerprint-set size and minimum (order-insensitive — "
    "array_distinct ordering differs between engines by contract). "
    "Gated to a deterministic 5% md5 doc stratum (full-corpus blew "
    "the 2.5 s fold budget; production winnowing uses the "
    "codegen-cheap xxhash64 default, the md5 chain exists only for "
    "cross-engine checkability). r14: every text-derived count "
    "(token/stopword/BPE-ish counts, distinct token/2-gram/3-gram "
    "counts, line-dup and top-2-gram char stats, winnow fingerprints) "
    "comes from ONE Arrow batch pass (_doc_metrics_batch) emitting "
    "exact INTEGERS — the ratio/round/NULL arithmetic stays in the JVM "
    "projection expression-identical to the r13 HOF forms (equivalence "
    "pinned in tests/test_functions.py), so the annotate pass is one "
    "scan + one ArrowEvalPython + one codegen projection, still "
    "exchange-free (plan pin tests/test_plans.py).",
    tags=("text", "sampling", "closure"),
)
def q_doc_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import MD5_INT_SPARK_SQL
    from ..operators.script import SCRIPT_CLASSES

    docs = load_table(spark, sf_dir, "documents")
    # C37/C49 folds, r14 shape: the host/domain and script-count regex
    # chains are LOOP-INVARIANT per stratum (the host capture stops at
    # the first '/', ':' or '?', so the doc_id suffix never reaches it
    # — pinned in tests/test_functions.py), so both legs become ONE
    # generated CASE over the operators' own SQL twins applied to each
    # stratum LITERAL: Catalyst constant-folds every branch at plan
    # time (zero per-row regex work), and generating SQL text instead
    # of composing ~900 py4j Column calls cuts ~2.5 s of PLAN-BUILD
    # time per run (measured; plan construction is inside the bench's
    # timed region). CASE-equality with the original per-row operator
    # forms is pinned in tests/test_functions.py.
    script_cols = [
        F.expr(_SCRIPT_COUNT_CASE_SQL[name]).alias(f"n_{name}")
        for name in SCRIPT_CLASSES
    ]
    # r14: ALL text-derived metrics come from ONE Arrow batch pass as
    # exact integers (see _doc_metrics_batch above) — the r13
    # interpreted-HOF projection is replaced by a single ArrowEvalPython
    # node; the ratio/round/NULL arithmetic below is expression-
    # identical to the r13 forms (dup_ratio / dup_char_fraction /
    # top_run_char_fraction finishes), just fed from the counts.
    m = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        doc_text_metrics(F.col("text"), F.col("doc_id")).alias("__m"),
        F.expr(_URL_HOST_CASE_SQL).alias("url_host"),
        F.expr(_URL_DOMAIN_CASE_SQL).alias("url_domain"),
        *script_cols,
    ).select(
        "doc_id",
        "lang",
        "n_chars",
        "url_host",
        "url_domain",
        *[f"n_{n}" for n in SCRIPT_CLASSES],
        F.col("__m.n_tokens").alias("n_tokens"),
        F.col("__m.sw_hits").alias("sw_hits"),
        F.col("__m.bpe_ish_tokens").alias("bpe_ish_tokens"),
        F.col("__m.d_tok").alias("__d_tok"),
        F.col("__m.n_g2").alias("__n_g2"),
        F.col("__m.d_g2").alias("__d_g2"),
        F.col("__m.n_g3").alias("__n_g3"),
        F.col("__m.d_g3").alias("__d_g3"),
        F.col("__m.line_dup").alias("__line_dup"),
        F.col("__m.line_tot").alias("__line_tot"),
        F.col("__m.g2_best").alias("__g2_best"),
        F.col("__m.g2_tot").alias("__g2_tot"),
        F.col("__m.wfp_n").alias("__wfp_n"),
        F.col("__m.wfp_min").alias("__wfp_min"),
    )
    atl = F.col("n_chars").cast("double") / F.col("n_tokens")
    rate = (
        F.when(F.col("lang") == "en", 50)
        .when(F.col("lang") == "de", 20)
        .otherwise(10)
    )
    gate = F.expr(MD5_INT_SPARK_SQL("CAST(doc_id AS STRING)")) % 100
    _script_ratios, _script_dom = script_derivations()
    from ..operators.curriculum import curriculum_stages

    m, _cuts = curriculum_stages(
        m.withColumn("difficulty", F.col("n_tokens").cast("double")),
        "difficulty",
        stages=4,
        cuts=[32.0, 56.0, 76.0],
    )

    def _dup_ratio(d: str, n: str) -> F.Column:
        # dup_ratio over (distinct count, total count) — same expression
        # tree as functions.dup_ratio on the materialized array
        return F.when(
            F.col(n) > 0,
            F.round(1.0 - F.col(d).cast("double") / F.col(n), 4),
        ).otherwise(F.lit(0.0))

    out = m.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("bpe_ish_tokens").cast("bigint").alias("bpe_ish_tokens"),
        F.round(atl, 4).alias("avg_token_len"),
        F.round(F.col("sw_hits").cast("double") / F.col("n_tokens"), 4).alias("stopword_ratio"),
        _dup_ratio("__d_tok", "n_tokens").alias("dup_token_ratio"),
        _dup_ratio("__d_g2", "__n_g2").alias("dup_2gram_ratio"),
        _dup_ratio("__d_g3", "__n_g3").alias("dup_3gram_ratio"),
        (F.col("n_tokens").between(20, 1000) & atl.between(3, 12)).alias("passes_quality"),
        F.col("sw_hits").cast("bigint").alias("en_hits"),
        F.when(F.col("sw_hits") * 10 >= F.col("n_tokens"), "en-like")
        .otherwise("other")
        .alias("lang_guess"),
        (gate < rate).alias("in_sample"),
        F.col("stage").cast("int").alias("curriculum_stage"),
        "url_host",
        "url_domain",
        # dup_char_fraction's finish: NULL line stats (NULL text) stay
        # NULL — an aggregate over a NULL array returns NULL before the
        # finish lambda runs
        F.when(F.col("__line_tot").isNull(), F.lit(None).cast("double"))
        .when(
            F.col("__line_tot") > 0,
            F.round(F.col("__line_dup").cast("double") / F.col("__line_tot"), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_line_char_frac"),
        # top_run_char_fraction's finish: empty g2 (NULL/short text)
        # carries a zero accumulator through the finish → 0.0
        F.when(
            F.col("__g2_tot") > 0,
            F.round(F.col("__g2_best").cast("double") / F.col("__g2_tot"), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("top_2gram_char_frac"),
        # C49 fold: the operator's expression-level derivations over the
        # materialized counts — dominant-script tie-break (declaration
        # order), min-letters 'unknown' routing, letter-mass ratio — in
        # the SAME projection (no join, no second scan: the annotate
        # pass stays map-only)
        _script_dom.alias("script_dom"),
        F.round(_script_ratios[0], 4).alias("script_latin_ratio"),
        # C43 fold: fingerprint-set summary (count + min) — order-
        # insensitive, so array_distinct ordering differences between
        # engines cannot leak into the compare
        F.col("__wfp_n").cast("bigint").alias("wfp_n"),
        F.col("__wfp_min").alias("wfp_min"),
    )
    return out


@query(
    "q_embed_normalize",
    oracle="""
    WITH RECURSIVE base AS MATERIALIZED (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> x / sqrt(list_sum(
                 list_transform(CAST(embedding AS DOUBLE[]), y -> y * y)))) AS l2
      FROM embeddings),
    -- C21 fold: max-cosine cell assignment against the deterministic
    -- every-50th centroid set (the q_ann_ivf device; lowest centroid id
    -- wins exact ties), then the per-cell portable-md5 coin rank with
    -- the per_cell=16 cap
    c AS MATERIALIZED (SELECT vec_id AS centroid_id, embedding AS c_vec
         FROM embeddings WHERE vec_id % 50 = 0),
    assign AS MATERIALIZED (
      SELECT vid, centroid_id FROM (
        SELECT v.vec_id AS vid, c.centroid_id,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY list_cosine_similarity(
                            CAST(v.embedding AS DOUBLE[]),
                            CAST(c.c_vec AS DOUBLE[])) DESC,
                          c.centroid_id) AS rn
        FROM embeddings v CROSS JOIN c)
      WHERE rn = 1),
    cb AS MATERIALIZED (
      SELECT vid, centroid_id AS cb_cell,
             (row_number() OVER (PARTITION BY centroid_id
                ORDER BY CAST(('0x' || substr(md5(CAST(vid AS VARCHAR)),
                               1, 15)) AS BIGINT), vid)) <= 16 AS cb_kept
      FROM assign),
    -- C16 fold: SemDeDup's per-cell greedy eps-ball scan re-derived as
    -- a bounded recursive CTE over id-ordered cell members — a vector
    -- is dropped iff it is within eps of an already-KEPT lower-id
    -- member of its cell (greedy keep-first, NOT connected components)
    sd_ord AS MATERIALIZED (
      SELECT a.vid, a.centroid_id AS cell, b.l2,
             row_number() OVER (PARTITION BY a.centroid_id
                                ORDER BY a.vid) AS rn
      FROM assign a JOIN base b ON b.vec_id = a.vid),
    sd_sims AS MATERIALIZED (
      SELECT x.cell, x.vid AS vi, y.vid AS vj
      FROM sd_ord x JOIN sd_ord y ON x.cell = y.cell AND y.vid < x.vid
      WHERE list_cosine_similarity(x.l2, y.l2) >= 0.4),
    sd_nbrs AS MATERIALIZED (
      SELECT o.cell, o.vid, o.rn,
             coalesce(list(s.vj) FILTER (s.vj IS NOT NULL), []) AS nbrs
      FROM sd_ord o LEFT JOIN sd_sims s ON s.vi = o.vid
      GROUP BY o.cell, o.vid, o.rn),
    sd_rec AS (
      SELECT cell, rn, [vid] AS kept
      FROM sd_nbrs WHERE rn = 1
      UNION ALL
      SELECT n.cell, n.rn,
             CASE WHEN len(list_intersect(r.kept, n.nbrs)) > 0
                  THEN r.kept ELSE list_append(r.kept, n.vid) END
      FROM sd_rec r JOIN sd_nbrs n ON n.cell = r.cell AND n.rn = r.rn + 1),
    sd_final AS MATERIALIZED (
      SELECT cell, kept FROM (
        SELECT cell, kept,
               row_number() OVER (PARTITION BY cell ORDER BY rn DESC) AS rr
        FROM sd_rec) WHERE rr = 1)
    SELECT base.vec_id,
           CAST(round(
             list_sum(list_transform(l2, x -> x * x)), 6
           ) AS DOUBLE) AS norm_sq,
           CAST(list_sum(list_transform(l2,
             x -> greatest(-127.0, least(127.0, round_even(127.0 * x, 0)))))
             AS BIGINT) AS q_sum,
           cb.cb_cell, cb.cb_kept,
           list_contains(sf2.kept, base.vec_id) AS sem_keep
    FROM base JOIN cb ON base.vec_id = cb.vid
    JOIN assign a2 ON a2.vid = base.vec_id
    JOIN sd_final sf2 ON sf2.cell = a2.centroid_id
    """,
    doc="Training-pipeline closure: L2 embedding normalization as a pure "
    "array expression (no UDF, no shuffle); verified by the invariant "
    "that normalized vectors have unit squared norm (rounded to 1e-6 so "
    "both engines' fp accumulation orders agree). VERDICT-r3 cost nit "
    "MEASURED AND CLOSED (round 4): an unrolled 64-term element_at sum "
    "(whole-stage codegen) was built and timed against this interpreted "
    "fold at 100k×64 — fold 0.159 s, unrolled 0.194 s, best-of-3; the "
    "per-element bounds checks of element_at cost MORE than the fold's "
    "interpretation overhead, so the simpler fold is also the faster "
    "plan and is kept (the r3 0.85→1.37 s drift was machine load, "
    "reproduced at 0.93 s in round 4 with no code change). Pipelines "
    "normalizing purely as a pre-ANN step should still prefer the "
    "Arrow-batched similarity operators (operators/similarity.py "
    "matmul_scores normalizes in-batch at BLAS speed). FOLDED C18 "
    "(r10): `q_sum` runs quantize_embeddings END TO END — the Arrow "
    "rint/clip/int8-PACK — then decodes the packed bytes back JVM-side "
    "(hex/conv unsigned-byte → signed int8) and sums them, while the "
    "oracle re-derives clip(round(127·v/‖v‖)) from its own normalized "
    "list: a packing, endianness, sign, or rounding bug cannot hide. "
    "Tie-breaking is aligned across engines (ADVICE r10): the Spark "
    "path rounds half-to-even (np.rint), so the oracle uses DuckDB's "
    "round_even — with plain round() (half-away-from-zero) a value "
    "landing exactly on .5 would produce a spurious mismatch and a "
    "genuine future mismatch could be misread as that known divergence. "
    "FOLDED C21 (r12): `cb_cell`/`cb_kept` run "
    "operators/similarity.py cluster_balanced_sample END TO END — "
    "ivf_assign's Arrow BLAS max-cosine cell assignment (deterministic "
    "every-50th centroids, lowest-id tiebreak) and the per-cell "
    "portable-md5 coin rank with the per_cell=16 cap — against the "
    "oracle's independent cross-join assignment window and md5 rank "
    "re-derivation, so the diversity-preserving truncation decision "
    "itself is value-checked, not just row-counted. FOLDED C16 (r13, "
    "VERDICT r12 item 3): `sem_keep` runs operators/similarity.py "
    "semantic_dedup END TO END — the Arrow BLAS cell assignment (same "
    "every-50th centroids; cells already value-checked via cb_cell) "
    "plus the per-cell GREEDY eps-ball scan (drop iff within eps of an "
    "already-kept lower-id member — keep-first, not connected "
    "components) at eps=0.6 — against the oracle's bounded recursive "
    "CTE that replays the scan decision-for-decision over id-ordered "
    "cell members (recursion depth = max cell size, carrying only the "
    "kept-id list; the in-cell similarity graph is precomputed "
    "non-recursively). The >= threshold compare crosses engines on the "
    "same double cosine the q_embed_near_dup fold already relies on.",
    tags=("similarity", "closure"),
)
def q_embed_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import quantize_embeddings

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col("e"), lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    # r14 (guide §4.1): the fold references __norm TWICE — (x/n)*(x/n)
    # instead of squaring a pre-divided l2 array — so CollapseProject
    # refuses to inline the alias and the sqrt(Σx²) aggregate stays a
    # per-ROW projection. The collapsed single-reference form inlined
    # the whole norm tree into the interpreted lambda, re-evaluating it
    # per ARRAY ELEMENT (64×; measured 0.64 → 0.21 s on this leg,
    # plans/r14/probe_norm_inline.py). Values are bit-identical:
    # v = x/n is deterministic IEEE division, so v*v == (x/n)*(x/n),
    # and the fold order is unchanged.
    normed = emb.withColumn("__norm", norm)
    norm_sq = F.aggregate(
        F.transform(
            F.col("e"),
            lambda x: (x / F.col("__norm")) * (x / F.col("__norm")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # C18 fold: the int8 quantization path END TO END — the Arrow-batched
    # rint/clip/pack runs, then the PACKED BYTES are decoded back
    # JVM-side (unsigned byte → signed int8) and summed, so a packing or
    # rounding bug cannot hide behind a float compare.
    q = quantize_embeddings(emb, id_col="vec_id", vec_col="e")
    q_sum = F.expr(
        "aggregate(sequence(1, dim), 0L, (acc, i) -> acc + "
        "(CASE WHEN conv(hex(substring(qvec, i, 1)), 16, 10) > 127 "
        " THEN CAST(conv(hex(substring(qvec, i, 1)), 16, 10) AS BIGINT) - 256 "
        " ELSE CAST(conv(hex(substring(qvec, i, 1)), 16, 10) AS BIGINT) END))"
    )
    # C21 fold (r12): cluster_balanced_sample END TO END — ivf_assign's
    # Arrow max-cosine cell assignment (deterministic every-50th
    # centroids, the q_ann_ivf device) + the per-cell portable-md5 coin
    # rank + the per_cell cap — cb_cell/cb_kept value-checked against
    # the oracle's own assignment window and rank re-derivation.
    from ..operators.similarity import (
        cluster_balanced_sample,
        ivf_assign,
        semantic_dedup,
    )

    cents = emb.where(F.col("vec_id") % 50 == 0)
    # ONE cell assignment feeds BOTH per-cell stages (r13): the C21 cap
    # rank and the C16 greedy scan consume the same ivf_assign relation,
    # so the map-side BLAS pass + centroid collect run once instead of
    # twice per bench run; the lazy cut pins the Arrow pass to one
    # execution across the two consumers (shared-assignment ≡ composed
    # pinned in tests/test_similarity.py).
    tagged = ivf_assign(
        emb, cents, id_col="vec_id", vec_col="e", keep_vec=True
    ).transform(cut_lineage, eager=False)
    cbs = cluster_balanced_sample(
        emb,
        cents,
        per_cell=16,
        id_col="vec_id",
        vec_col="e",
        portable_rank=True,
        assigned=tagged,
    )
    # C16 fold (r13): SemDeDup end to end over the SAME centroid set —
    # cell assignment + the per-cell greedy eps-ball keep-first scan;
    # the oracle replays the scan with a bounded recursive CTE.
    sd = semantic_dedup(
        emb, cents, eps=0.6, id_col="vec_id", vec_col="e", assigned=tagged
    )
    return (
        normed.select("vec_id", F.round(norm_sq, 6).alias("norm_sq"))
        .join(q.select("vec_id", q_sum.alias("q_sum")), "vec_id")
        .join(
            cbs.select(
                "vec_id", F.col("cell").alias("cb_cell"),
                F.col("kept").alias("cb_kept"),
            ),
            "vec_id",
        )
        .join(sd.select("vec_id", F.col("keep").alias("sem_keep")), "vec_id")
    )


@query(
    "q_training_pipeline",
    oracle=f"""
    WITH quality AS (
      SELECT doc_id, text, lang,
             len(string_split(text, ' ')) AS n_tokens,
             CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) AS atl
      FROM documents),
    passed AS MATERIALIZED (
      SELECT * FROM quality
      WHERE n_tokens BETWEEN 20 AND 1000 AND atl BETWEEN 3 AND 12),
    deduped AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY sha256(text)
                                     ORDER BY doc_id) AS rn
        FROM passed) WHERE rn = 1),
    sampled AS MATERIALIZED (
      SELECT * FROM deduped
      WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                 AS BIGINT) % 100 < 80),
    -- C51 fold: bottom-128 KMV sketches of both snapshots over the
    -- portable md5-int of the sha256 content hash, then the Beyer
    -- et al. overlap estimators (u_(k) normalized over md5-int's
    -- [0, 2^60) domain; unsaturated sketches are exact)
    ka AS MATERIALIZED (
      SELECT h FROM (
        SELECT DISTINCT CAST(('0x' || substr(md5(sha256(text)), 1, 15))
                             AS BIGINT) AS h
        FROM passed WHERE text IS NOT NULL)
      ORDER BY h LIMIT 128),
    kb AS MATERIALIZED (
      SELECT h FROM (
        SELECT DISTINCT CAST(('0x' || substr(md5(sha256(text)), 1, 15))
                             AS BIGINT) AS h
        FROM sampled WHERE text IS NOT NULL)
      ORDER BY h LIMIT 128),
    kun AS MATERIALIZED (
      SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
      ORDER BY h LIMIT 128),
    kst AS MATERIALIZED (
      SELECT (SELECT COUNT(*) FROM ka) AS na,
             (SELECT COUNT(*) FROM kb) AS nb,
             (SELECT COUNT(*) FROM kun) AS nu,
             (SELECT max(h) FROM ka) AS maxa,
             (SELECT max(h) FROM kb) AS maxb,
             (SELECT max(h) FROM kun) AS maxu,
             (SELECT COUNT(*) FROM kun
              WHERE h IN (SELECT h FROM ka)
                AND h IN (SELECT h FROM kb)) AS nab,
             (SELECT COUNT(*) FROM passed) AS rows_old,
             (SELECT COUNT(*) FROM sampled) AS rows_new),
    snap0 AS MATERIALIZED (
      SELECT rows_old, rows_new,
             CAST(nab AS DOUBLE) / nu AS j,
             CASE WHEN na < 128 THEN CAST(na AS DOUBLE)
                  ELSE 127.0 / ((CAST(maxa AS DOUBLE) + 1.0)
                                / 1152921504606846976.0) END AS card_a,
             CASE WHEN nb < 128 THEN CAST(nb AS DOUBLE)
                  ELSE 127.0 / ((CAST(maxb AS DOUBLE) + 1.0)
                                / 1152921504606846976.0) END AS card_b,
             CASE WHEN nu < 128 THEN CAST(nu AS DOUBLE)
                  ELSE 127.0 / ((CAST(maxu AS DOUBLE) + 1.0)
                                / 1152921504606846976.0) END AS card_u
      FROM kst),
    snap AS MATERIALIZED (
      SELECT CAST(rows_old AS BIGINT) AS snap_rows_old,
             CAST(rows_new AS BIGINT) AS snap_rows_new,
             CAST(rows_new - rows_old AS BIGINT) AS snap_row_delta,
             round(j, 3) AS snap_jaccard,
             round(least(1.0, (j * card_u) / card_a), 3) AS snap_survived,
             round(1.0 - least(1.0, (j * card_u) / card_b), 3) AS snap_novel,
             round(card_a, 3) AS snap_distinct_old,
             round(card_b, 3) AS snap_distinct_new,
             round(greatest(0.0, card_b - j * card_u), 3) AS snap_added,
             round(greatest(0.0, card_a - j * card_u), 3) AS snap_removed
      FROM snap0)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS token_budget,
           s.*
    FROM sampled CROSS JOIN snap s
    GROUP BY lang, s.snap_rows_old, s.snap_rows_new, s.snap_row_delta,
             s.snap_jaccard, s.snap_survived, s.snap_novel,
             s.snap_distinct_old, s.snap_distinct_new, s.snap_added,
             s.snap_removed
    """,
    doc="Capstone composition: the canonical training-data pipeline — "
    "quality gate (Gopher-rules shape) → exact dedup keep-first → "
    "deterministic 80% hash sample → per-language token budget — as ONE "
    "Catalyst DAG: scan-side filters, a single dedup shuffle, a pushed "
    "sample filter, and a final partial-agg groupBy. The shape every "
    "100 TB corpus build runs; each stage is individually verified by "
    "its own declared query, and the composition is oracle-verified here. "
    "FOLDED C51 (r13, VERDICT r12 item 4): the `snap_*` columns run "
    "operators/snapshot.py snapshot_diff END TO END between the "
    "pipeline's own before/after corpora (quality-passed vs final "
    "sampled) — row deltas, bottom-128 KMV sketches over the portable "
    "md5-int of the sha256 content hash, and the Beyer et al. "
    "jaccard/containment/added/removed estimators (u_(k) normalized "
    "over md5-int's [0, 2^60) domain) — each re-derived by the oracle's "
    "own sketch CTEs and broadcast onto the per-language rows (the "
    "q_approx_distinct kstat device). The C46 drift leg of the report "
    "stays pytest-verified (its per-column stats are already "
    "value-folded in q_rollup).",
    tags=("text", "pipeline", "closure"),
)
def q_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import MD5_INT_SPARK_SQL, sha_dedup_keep_first
    from ..operators.snapshot import snapshot_diff

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    # Lazy lineage cuts (the q_pack_sequences device, r13): the C51 fold
    # consumes `quality` twice (row count + KMV sketch) and `sampled`
    # twice more before the timed aggregation runs it again — without
    # the cuts the scan+tokenize (quality) ran 3× and the dedup window
    # shuffle (sampled) 3× per bench pass. Each stage now materializes
    # once; every consumer reads the checkpointed rows.
    quality = docs.select(
        "doc_id",
        "text",
        "lang",
        F.size(toks).alias("n_tokens"),
        (F.col("n_chars").cast("double") / F.size(toks)).alias("atl"),
    ).where(
        F.col("n_tokens").between(20, 1000) & F.col("atl").between(3, 12)
    ).transform(cut_lineage, eager=False)
    deduped = sha_dedup_keep_first(quality, "text", "doc_id")
    sampled = deduped.where(
        F.expr(MD5_INT_SPARK_SQL("CAST(doc_id AS STRING)")) % 100 < 80
    ).transform(cut_lineage, eager=False)
    agg = sampled.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("token_budget"),
    )
    # C51 fold (r13): the corpus snapshot diff END TO END between the
    # pipeline's own before/after states (quality-passed corpus vs the
    # final sampled corpus) over the engine-portable md5-int sketch
    # hash; the oracle re-derives the bottom-k sketches and the Beyer
    # et al. overlap estimators value-for-value. Rounding happens in
    # the DataFrame (HALF_UP, matching DuckDB's round), never in
    # python (banker's rounding would diverge on exact .0005 ratios).
    sd = snapshot_diff(quality, sampled, key_col="text", k=128,
                       portable_hash=True, include_drift=False)
    summary = spark.createDataFrame(
        [(
            int(sd["rows_old"]), int(sd["rows_new"]), int(sd["row_delta"]),
            float(sd["jaccard"]), float(sd["survived_frac"]),
            float(sd["novel_frac"]), float(sd["distinct_old_est"]),
            float(sd["distinct_new_est"]), float(sd["added_est"]),
            float(sd["removed_est"]),
        )],
        "snap_rows_old long, snap_rows_new long, snap_row_delta long, "
        "__j double, __sv double, __nv double, __da double, __db double, "
        "__ad double, __rm double",
    ).select(
        "snap_rows_old", "snap_rows_new", "snap_row_delta",
        F.round("__j", 3).alias("snap_jaccard"),
        F.round("__sv", 3).alias("snap_survived"),
        F.round("__nv", 3).alias("snap_novel"),
        F.round("__da", 3).alias("snap_distinct_old"),
        F.round("__db", 3).alias("snap_distinct_new"),
        F.round("__ad", 3).alias("snap_added"),
        F.round("__rm", 3).alias("snap_removed"),
    )
    return agg.crossJoin(F.broadcast(summary))


@query(
    "q_pack_sequences",
    oracle="""
    WITH toks AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
             CAST(n_chars % 97 AS DOUBLE) AS score
      FROM documents),
    cum AS (
      SELECT doc_id, n_tokens,
             -- SUM() OVER yields HUGEINT in DuckDB; pin to BIGINT
             CAST(SUM(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS c
      FROM toks),
    sel AS (
      SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS sc
      FROM toks),
    -- C52 epoch repeat-factors: floor(f) full copies + one more when the
    -- deterministic md5 gate on (id, floor(f), seed=0) admits frac(f)
    reps AS (
      SELECT doc_id,
             CAST(FLOOR(f) AS BIGINT)
             + CASE WHEN (f - FLOOR(f)) > 0 AND
                 (CAST(('0x' || substr(md5(concat(
                    CAST(doc_id AS VARCHAR), chr(31),
                    CAST(CAST(FLOOR(f) AS INT) AS VARCHAR), chr(31), '0'
                  )), 1, 15)) AS BIGINT) % 1000000)
                 < CAST(FLOOR((f - FLOOR(f)) * 1000000) AS BIGINT)
               THEN 1 ELSE 0 END AS n_copies
      FROM (SELECT doc_id,
              CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.5
                   WHEN 'src2' THEN 3.0 ELSE 1.0 END AS f
            FROM documents))
    SELECT cum.doc_id,
           CAST(cum.n_tokens AS BIGINT) AS n_tokens,
           CAST((c - cum.n_tokens) // 512 AS BIGINT) AS seq_first,
           CAST((c - 1) // 512 AS BIGINT) AS seq_last,
           CAST((c - cum.n_tokens) % 512 AS BIGINT) AS seq_offset,
           (sel.sc - sel.n_tokens) < 10000 AS in_budget,
           reps.n_copies AS n_copies
    FROM cum JOIN sel ON cum.doc_id = sel.doc_id
    JOIN reps ON cum.doc_id = reps.doc_id
    """,
    doc="Training-pipeline closure: GPT-style sequence packing — documents "
    "laid end-to-end in doc_id order, cut into 512-token sequences; each "
    "doc gets its straddled sequence span + offset. Spark side is a "
    "two-pass DISTRIBUTED prefix sum (operators/packing.py: range "
    "partition → per-bucket Arrow cumsum → broadcast bucket offsets), "
    "never an unpartitioned window; the oracle's single-window form "
    "checks it exactly because prefix sums are bucketing-invariant. "
    "FOLDED C42 (operators/select.py budget_select): `in_budget` marks "
    "the best-scoring docs fitting a 10k-token budget (score DESC, id "
    "tiebreak, straddling doc admitted) — the SAME distributed prefix "
    "sum over a different order, checked against the oracle's second "
    "window. FOLDED C52 (operators/mixing.py:epoch_repeats, VERDICT r5 "
    "item 4): `n_copies` counts each doc's materialized epoch copies "
    "under per-source repeat factors (src0 x2.5, src1 x0.5, src2 x3.0, "
    "default x1.0, seed 0) — full copies plus the md5-gated fractional "
    "one, 0 = dropped (src1's unlucky half); the oracle re-derives the "
    "gate arithmetic verbatim.",
    tags=("text", "pipeline", "closure"),
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.mixing import epoch_repeats
    from ..operators.packing import pack_sequences
    from ..operators.select import budget_select

    docs = load_table(spark, sf_dir, "documents")
    reps = (
        epoch_repeats(
            docs.select("doc_id", "source"),
            {"src0": 2.5, "src1": 0.5, "src2": 3.0},
            default=1.0,
            epoch_seed=0,
        )
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_copies"))
    )
    # ONE scan+tokenize feeds BOTH prefix-sum passes (they range-shuffle
    # on different orders, so the shuffles can't merge — but the lazy
    # localCheckpoint stops the second pass re-reading parquet and
    # re-splitting every document's text).
    toks = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
        (F.col("n_chars") % 97).cast("double").alias("score"),
    ).transform(cut_lineage, eager=True)
    # The two prefix-sum operators are INDEPENDENT (different range
    # orders, separate bucket-offset collects) — run their build-time
    # jobs on two driver threads so the second leg back-fills the first
    # leg's scheduling tail (guide-style job overlap; r13). The eager
    # cut above materializes the shared token relation FIRST, so the
    # threads only read cached checkpoint blocks — no concurrent
    # materialization of shared lineage (the assign_shards range-
    # resample hazard cannot arise on already-pinned blocks). Results
    # are unchanged: each leg's plan is exactly the sequential one.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(2) as pool:
        f_pack = pool.submit(
            pack_sequences, toks, "doc_id", "n_tokens", 512, 8
        )
        f_budget = pool.submit(
            budget_select, toks, 10_000, "doc_id", "score", "n_tokens", 8
        )
        packed = f_pack.result()
        admitted = f_budget.result().select(
            "doc_id", F.lit(True).alias("_in")
        )
    return (
        packed.join(admitted, "doc_id", "left")
        .join(reps, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "seq_first",
            "seq_last",
            "seq_offset",
            F.coalesce(F.col("_in"), F.lit(False)).alias("in_budget"),
            F.coalesce(F.col("n_copies"), F.lit(0).cast("bigint")).alias(
                "n_copies"
            ),
        )
    )


@query(
    "q_token_freq",
    oracle="""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      FROM documents),
    -- C40 fold: the count-min sketch re-derived cell for cell — the
    -- portable md5 positions (token || '#' || row, 5 rows x width 64;
    -- narrow on purpose so rows COLLIDE and the per-token MIN across
    -- rows is exercised non-trivially, est >= cnt)
    cells AS MATERIALIZED (
      SELECT r.r,
             CAST(('0x' || substr(md5(token || '#' || CAST(r.r AS VARCHAR)),
                   1, 15)) AS BIGINT) % 64 AS col
      FROM toks CROSS JOIN (SELECT unnest(range(0, 5)) AS r) r),
    sk AS MATERIALIZED (
      SELECT r, col, COUNT(*) AS c FROM cells GROUP BY r, col),
    probes AS (
      SELECT token, r.r,
             CAST(('0x' || substr(md5(token || '#' || CAST(r.r AS VARCHAR)),
                   1, 15)) AS BIGINT) % 64 AS col
      FROM (SELECT DISTINCT token FROM toks)
      CROSS JOIN (SELECT unnest(range(0, 5)) AS r) r),
    est AS (
      SELECT token, MIN(coalesce(sk.c, 0)) AS cms_est
      FROM probes LEFT JOIN sk ON probes.r = sk.r AND probes.col = sk.col
      GROUP BY token)
    SELECT t.token, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS df,
           CAST(any_value(est.cms_est) AS BIGINT) AS cms_est
    FROM toks t JOIN est ON t.token = est.token
    GROUP BY t.token
    """,
    doc="C31: corpus-wide token frequency relation — occurrence count and "
    "document frequency per distinct lowercased token, the vocabulary/"
    "tokenizer-prep statistic (operators/vocab.py; one explode + one "
    "groupBy, df via pre-explode doc identity). FOLDED C40 (r12): "
    "`cms_est` runs the count-min sketch END TO END — the "
    "cms_sketch_weighted cell build (per-distinct-token hashing "
    "weighted by count: provably the mention form's sparse relation, "
    "pinned in tests/test_sketches.py) + cms_estimate's "
    "probe/left-join/MIN — "
    "with the portable md5 cell positions and a deliberately narrow "
    "width (64) so rows collide and the MIN-across-rows semantics are "
    "value-checked (est >= cnt with real over-counts both engines must "
    "agree on), against the oracle's own cell-for-cell re-derivation. "
    "Production sketches keep xxhash64 positions at width 4096 "
    "(operators/sketches.py).",
    tags=("text", "closure"),
)
def q_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import cms_estimate, cms_sketch_weighted
    from ..operators.vocab import token_frequencies
    from ..session import cut_lineage

    docs = load_table(spark, sf_dir, "documents")
    # one tokenize+count feeds the output AND the sketch build (the
    # weighted form: per-DISTINCT-token hashing — the portable md5 is
    # ~20x xxhash64, so the per-mention build blew the fold budget)
    freqs = token_frequencies(docs, "text", lowercase=True).transform(
        cut_lineage, eager=False
    )
    sk = cms_sketch_weighted(
        freqs, token_col="token", count_col="count", depth=5, width=64,
        portable=True,
    )
    est = cms_estimate(
        sk, freqs.select("token"), token_col="token", depth=5, width=64,
        portable=True,
    )
    return freqs.join(est, "token").select(
        "token", F.col("count").alias("cnt"), "df",
        F.col("est").cast("bigint").alias("cms_est"),
    )


@query(
    "q_chunk_docs",
    oracle="""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    meta AS (
      SELECT doc_id, toks, len(toks) AS n,
             CASE WHEN len(toks) <= 32 THEN 1
                  ELSE 1 + CAST(ceil((len(toks) - 32) / 24.0) AS INT)
             END AS n_chunks
      FROM base),
    idx AS (
      SELECT doc_id, toks, n, unnest(range(0, n_chunks)) AS chunk_id
      FROM meta),
    sh AS (
      SELECT doc_id,
             CAST((CAST(SUM(len(text)) OVER (ORDER BY doc_id) AS BIGINT)
                   - len(text)) // 4096 AS BIGINT) AS shard
      FROM documents)
    SELECT idx.doc_id, CAST(chunk_id AS INT) AS chunk_id,
           array_to_string(toks[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ')
             AS text,
           CAST(len(toks[chunk_id * 24 + 1 : chunk_id * 24 + 32]) AS INT)
             AS n_tokens,
           sh.shard
    FROM idx JOIN sh ON idx.doc_id = sh.doc_id
    """,
    doc="C13 chunking: sliding-window document split to a 32-token budget "
    "with 8-token overlap (stride 24) — the context-length splitting step "
    "for docs longer than the training sequence (operators/packing.py:"
    "chunk_documents; map-only expression math, no shuffle). "
    "FOLDED C36 (r11, VERDICT r10 item 5's shards follow-on): `shard` "
    "runs operators/shards.assign_shards end to end — the two-pass "
    "distributed prefix sum (range partition → per-bucket Arrow cumsum "
    "→ broadcast bucket offsets) cutting id-ordered docs every 4096 "
    "payload bytes — while the oracle computes the same assignment as "
    "one SUM() OVER window (prefix sums are bucketing-invariant, the "
    "q_pack_sequences device): a bucket-offset or cumsum bug cannot "
    "hide.",
    tags=("text", "closure"),
)
def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import chunk_documents
    from ..operators.shards import assign_shards

    docs = load_table(spark, sf_dir, "documents")
    # C36 fold: byte-threshold shard ids from the distributed prefix sum
    # (text stands in for the payload; length() = chars = bytes on the
    # fixture's ASCII corpus, matching the oracle's len(text)). Shards
    # are assigned FIRST and ride each chunk row via keep_cols — no join
    # back, so the only shuffle in the whole query is the prefix sum's
    # range partition (plan-pinned in tests/test_plans.py).
    assigned = assign_shards(
        docs.select("doc_id", "text"),
        shard_bytes=4096,
        id_col="doc_id",
        content_col="text",
        num_buckets=8,
    )
    return chunk_documents(
        assigned, max_tokens=32, overlap=8, keep_cols=["shard"]
    )


@query(
    "q_dsir",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
    grams AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                    i -> struct_pack(g := t[i] || ' ' || t[i+1], c := t[i])))
               AS gc
      FROM toks),
    gs AS (SELECT doc_id, lang, gc.g AS gram, gc.c AS ctx FROM grams),
    tc AS (SELECT gram, COUNT(*) AS c FROM gs WHERE lang = 'en' GROUP BY gram),
    tx AS (SELECT ctx, COUNT(*) AS c_ctx FROM gs WHERE lang = 'en' GROUP BY ctx),
    sc AS (SELECT gram, COUNT(*) AS c FROM gs GROUP BY gram),
    sx AS (SELECT ctx, COUNT(*) AS c_ctx FROM gs GROUP BY ctx),
    vt AS (SELECT COUNT(DISTINCT tok) AS v
           FROM (SELECT unnest(t) AS tok FROM toks WHERE lang = 'en')),
    vs AS (SELECT COUNT(DISTINCT tok) AS v
           FROM (SELECT unnest(t) AS tok FROM toks)),
    scored AS (
      SELECT g.doc_id,
             COUNT(*) AS n_grams,
             -avg(ln((coalesce(tc.c, 0) + 1.0)
                     / (coalesce(tx.c_ctx, 0) + (SELECT v FROM vt)))) AS nll_t,
             -avg(ln((coalesce(sc.c, 0) + 1.0)
                     / (coalesce(sx.c_ctx, 0) + (SELECT v FROM vs)))) AS nll_s
      FROM gs g
      LEFT JOIN tc ON g.gram = tc.gram
      LEFT JOIN tx ON g.ctx = tx.ctx
      LEFT JOIN sc ON g.gram = sc.gram
      LEFT JOIN sx ON g.ctx = sx.ctx
      GROUP BY g.doc_id),
    w AS (
      SELECT d.doc_id,
             CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
             s.n_grams * (s.nll_s - s.nll_t) AS log_ratio
      FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id),
    keyed AS (
      SELECT doc_id, n_grams, log_ratio,
             CASE WHEN log_ratio IS NOT NULL THEN
               log_ratio - ln(-ln(
                 (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                       AS BIGINT) % 1000000007 + 0.5) / 1000000007.0))
             END AS k
      FROM w)
    SELECT doc_id, n_grams, round(log_ratio, 4) AS log_ratio,
           coalesce(k >= 1.346, FALSE) AS dsir_selected
    FROM keyed
    """,
    doc="C29 DSIR importance resampling, driver-checked: bigram LMs "
    "trained on target (lang='en') vs source (whole corpus) via "
    "train_ngram_lm_pair (r13: ONE conditional-aggregation gram pass + "
    "one vocabulary job for both models — pinned ≡ two train_ngram_lm "
    "calls in tests/test_lm.py; operators/lm.py), per-doc "
    "LLR weights via dsir_weights (log_ratio = n_grams * (nll_source - "
    "nll_target), add-1 smoothing; r13: one fused gram-scoring pass), "
    "then the deterministic Gumbel-top-k "
    "lottery of dsir_sample with a PINNED cut (1.346 ~ the sf0.01 p75) "
    "and an md5-derived uniform so the selection replays exactly on any "
    "engine and cluster layout (Xie et al. 2023, 'Data Selection for "
    "Language Models via Importance Resampling'). Zero-gram docs keep "
    "null log_ratio and dsir_selected=false (report-don't-drop).",
    tags=("text", "lm", "closure"),
)
def q_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import MD5_INT_SPARK_SQL
    from ..operators.lm import (
        dsir_select_flag,
        dsir_weights,
        train_ngram_lm_pair,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    # ONE conditional-aggregation pass trains BOTH models (r13): the
    # composed form exploded the gram stream once per model and paid
    # two eager vocabulary jobs per bench run.
    lm_t, lm_s = train_ngram_lm_pair(docs, F.col("lang") == "en", "text", n=2)
    # lazy checkpoint: w feeds BOTH the lottery filter and the output
    # join-back; without it Catalyst re-runs the whole LM-scoring DAG
    # for each branch (measured ~2x at sf0.1). broadcast_model stays
    # False: the fixture models are hundreds of rows, AQE demotes the
    # joins to broadcast on its own, and the explicit hint measured
    # SLOWER (3.1 s vs 1.9 s — two eager collect+broadcast jobs); pass
    # True only when a big model must not risk a shuffled join.
    w = dsir_weights(
        docs, lm_t, lm_s, "doc_id", "text", broadcast_model=False
    ).transform(cut_lineage, eager=False)
    u = (
        F.expr(MD5_INT_SPARK_SQL("CAST(doc AS STRING)")) % F.lit(1_000_000_007)
        + F.lit(0.5)
    ) / F.lit(1_000_000_007.0)
    # r13: the cut is explicit, so selection is a deterministic per-row
    # map — project dsir_select_flag instead of filtering dsir_sample's
    # kept set and left-joining it back on doc (that join-back re-scans
    # the checkpoint and joins the weight relation against itself:
    # BroadcastExchange + BroadcastHashJoin locally, a two-shuffle
    # sort-merge once the ~25% kept side outgrows broadcast at scale;
    # the flag is a Project over the checkpoint). Flag
    # ≡ join-back membership row-for-row: shared Gumbel expression,
    # NULL ratio/lottery → False, pinned in tests/test_lm.py.
    return w.select(
        F.col("doc").alias("doc_id"),
        "n_grams",
        F.round("log_ratio", 4).alias("log_ratio"),
        dsir_select_flag("log_ratio", cut=1.346, u_col=u).alias(
            "dsir_selected"
        ),
    )
