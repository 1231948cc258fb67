"""Dedup layer (SURVEY.md §2.11 C1/C2 + J8/ST8 generalization).

Oracle notes: all hashing is md5-derived integers so DuckDB can reproduce
it exactly (see operators/dedup.py). The shared shingle/minhash SQL lives
in CTE constants kept in lockstep with the Spark builders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import query
from ..operators import dedup as D
from ..operators.similarity import cosine_pairs_above_blocked
from ..tables import load_table

# Shingle CTE: distinct 3-token shingles per doc (mirror of shingles_col).
# MATERIALIZED: DuckDB otherwise re-inlines the shingle derivation (and
# everything built on it) once per referencing CTE — q_dedup_clusters'
# three unrolled PageRank legs each re-ran the full Jaccard pair join,
# pushing the oracle past the sf1 interrupt budget (>360 s; 14.5 s
# materialized). Single-reference oracles are unaffected.
_SHINGLES_SQL = """
    shingles AS MATERIALIZED (
      SELECT doc_id AS doc, unnest(list_distinct(
               list_transform(range(1, greatest(len(string_split(text,' ')) - 2, 0) + 1),
                 i -> string_split(text,' ')[i] || ' ' ||
                      string_split(text,' ')[i+1] || ' ' ||
                      string_split(text,' ')[i+2]))) AS shingle
      FROM documents)
"""


def _exact_dedup_oracle() -> str:
    from ..operators.classify import CLF_MARGIN_SQL, CLF_TOKS_SQL

    return f"""
    WITH kept AS MATERIALIZED (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               row_number() OVER (PARTITION BY sha256(text)
                                  ORDER BY doc_id) AS rn
        FROM documents) WHERE rn = 1),
    tk AS MATERIALIZED (
      SELECT doc_id, text, {CLF_TOKS_SQL('text')} AS toks FROM kept),
    m AS MATERIALIZED (
      SELECT doc_id, text, {CLF_MARGIN_SQL('toks')} AS margin FROM tk)
    SELECT doc_id, sha256(text) AS sha,
           round(margin, 6) AS clf_margin,
           round(1.0 / (1.0 + exp(-margin)), 6) AS clf_score
    FROM m
    """


@query(
    "q_exact_dedup",
    oracle=_exact_dedup_oracle(),
    doc="C1: exact dedup at scale — sha256 content hash, keep lowest "
    "doc_id per hash (deterministic winner; generalizes the registry "
    "duplicate gate, bin/save_DBB_stagein_to_DBB.py:155). "
    "FOLDED C28 (r13, VERDICT r12 item 4): `clf_margin`/`clf_score` run "
    "operators/classify.py score_linear_portable on every kept doc — "
    "the quality classifier's hashed-ngram linear scoring arithmetic "
    "(ASCII-fold → lowercase → non-alphanumeric tokenization → "
    "unigrams+bigrams → md5-bucket hash → pinned deterministic weights "
    "→ margin → logistic link) with the oracle re-deriving every step "
    "from CLF_TOKS_SQL/CLF_MARGIN_SQL (kept in lockstep). The md5 hash "
    "family and pinned weights replace murmur3 HashingTF and fitted "
    "L-BFGS coefficients (neither reproducible in DuckDB); "
    "featurization parity with the ml pipeline is pinned in "
    "tests/test_classify.py, and the fitted-model path remains "
    "pytest-verified (score_quality).",
    tags=("dedup", "closure"),
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.classify import score_linear_portable

    docs = load_table(spark, sf_dir, "documents")
    kept = D.sha_dedup_keep_first(docs, "text", "doc_id")
    scored = score_linear_portable(kept, text_col="text")
    return scored.select(
        "doc_id",
        F.sha2(F.col("text").cast("binary"), 256).alias("sha"),
        F.round("clf_score_margin", 6).alias("clf_margin"),
        F.round("clf_score", 6).alias("clf_score"),
    )


_JACCARD_MAX_DF = 1000

# Capped-posting Jaccard shared by q_near_dedup_jaccard / q_dedup_clusters:
# set sizes come from ALL shingles, intersections only from shingles whose
# document frequency is within the cap — the exact relation jaccard_pairs
# computes with its production-default max_df.
_JACCARD_PAIRS_SQL = f"""
    sizes AS MATERIALIZED (
      SELECT doc, COUNT(*) AS n_sh FROM shingles GROUP BY doc),
    kept AS MATERIALIZED (
      SELECT shingle FROM shingles
      GROUP BY shingle HAVING COUNT(*) <= {_JACCARD_MAX_DF}),
    inter AS MATERIALIZED (
      SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS inter
      FROM shingles a JOIN shingles b
        ON a.shingle = b.shingle AND a.doc < b.doc
      JOIN kept k ON k.shingle = a.shingle
      GROUP BY 1, 2),
    pairs AS MATERIALIZED (
      SELECT doc_a, doc_b
      FROM inter
      JOIN sizes sa ON sa.doc = doc_a
      JOIN sizes sb ON sb.doc = doc_b
      WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.5)
"""


@query(
    "q_near_dedup_jaccard",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    {_JACCARD_PAIRS_SQL}
    SELECT doc_a, doc_b FROM pairs
    """,
    doc="C2: exact 3-gram Jaccard near-dedup — shared-shingle blocking "
    "bounds the pair space; random text shares almost no shingles, "
    "near-dups share many. Runs the production posting-list cap "
    "(max_df, df-pruning) with the cap mirrored in the oracle. This "
    "posting form is the exact-recall operator (operators/dedup.py); "
    "jaccard_pairs_lsh is the approximate one for dup-heavy corpora "
    "(LSH-verified — 15× faster at the 20× replica test with 99.95% "
    "recall, zero false positives).",
    tags=("dedup", "closure"),
)
def q_near_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.jaccard_pairs(
        docs, "doc_id", "text", shingle_n=3, threshold=0.5, max_df=_JACCARD_MAX_DF
    )


_MINHASH_SQL = f"""
    WITH {_SHINGLES_SQL},
    hashed AS (SELECT doc, {D.MD5_INT_SQL('shingle', 7)} AS h FROM shingles),
    perms AS (
      SELECT p AS perm,
             ((p * 2 + 1) * 40503) % 2147483647 AS a,
             ((p + 1) * 86028121) % 2147483647 AS b
      FROM (SELECT unnest(range(0, {{num_perm}})) AS p)),
    sigs AS (
      SELECT doc, perm, min((a * h + b) % 2147483647) AS minhash
      FROM hashed CROSS JOIN perms
      GROUP BY doc, perm)
"""


@query(
    "q_minhash_lsh",
    oracle=_MINHASH_SQL.format(num_perm=16)
    + """
    , band_sigs AS (
      SELECT doc, CAST(floor(perm / 4) AS INT) AS band,
             array_to_string(list_sort(list(minhash)), ',') AS sig
      FROM sigs GROUP BY doc, band)
    SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
    FROM band_sigs a JOIN band_sigs b
      ON a.band = b.band AND a.sig = b.sig AND a.doc < b.doc
    """,
    doc="C2: MinHash+LSH near-dedup — md5-hashed shingles → 16-permutation "
    "signature → 4 bands × 4 rows → candidate pairs sharing a band. The "
    "banding equi-join is the scale path: only same-bucket docs compare. "
    "Uses the direct map-side-banding path (one shuffle end to end); the "
    "row-form signature path serves the incremental/persisted-index "
    "operator and is value-equivalent (tests/test_dedup.py).",
    tags=("dedup", "closure", "lsh"),
)
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.lsh_candidate_pairs_direct(docs, "doc_id", "text", bands=4, rows_per_band=4)


@query(
    "q_simhash",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id AS doc, unnest(list_distinct(string_split(text, ' '))) AS t
      FROM documents),
    hashed AS (SELECT doc, {D.MD5_INT_SQL('t')} AS h FROM tok),
    contrib AS (
      SELECT doc, b,
             CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END AS c
      FROM hashed CROSS JOIN (SELECT unnest(range(0, 32)) AS b)),
    per_bit AS (SELECT doc, b, SUM(c) AS s FROM contrib GROUP BY doc, b)
    SELECT doc, CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
    FROM per_bit GROUP BY doc
    """,
    doc="C2: SimHash document fingerprint — 32-bit sign-of-sums over "
    "md5-hashed tokens; near-dups differ in few bits (hamming distance "
    "tested in tests/test_dedup.py).",
    tags=("dedup", "closure"),
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash(docs, "doc_id", "text", bits=32)


@query(
    "q_embed_near_dup",
    oracle="""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= 0.45
    """,
    doc="C2: embedding-cosine near-dup pairs. Threshold 0.45 sits inside "
    "the fixture's cosine distribution (max pairwise ≈ 0.51) so the result "
    "is non-trivial; DOUBLE[] cast keeps both engines accumulating in "
    "double. Exact blocked-matmul form (operators/similarity.py:"
    "cosine_pairs_above_blocked): per-block-pair BLAS products instead of "
    "a row-materialized nested-loop join — same result set, the 100 TB "
    "shape.",
    tags=("dedup", "closure", "similarity"),
)
def q_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_pairs_above_blocked(emb, 0.45)


@query(
    "q_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_SQL},
    {_JACCARD_PAIRS_SQL},
    edges AS MATERIALIZED (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs),
    reach(src, dst) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
    comp AS MATERIALIZED (
      SELECT src AS doc, least(src, min(dst)) AS component
      FROM reach GROUP BY src),
    -- C38 fold: 3 unrolled PageRank power iterations over the SAME
    -- symmetric pair graph (no dangling nodes by symmetry)
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    deg AS (SELECT a, CAST(COUNT(*) AS DOUBLE) AS dg FROM edges GROUP BY a),
    r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS pr FROM nodes),
    r1 AS (SELECT n2.node,
             (1.0 - 0.85) / (SELECT n FROM nn)
               + 0.85 * coalesce(i.inflow, 0) AS pr
           FROM nodes n2 LEFT JOIN (
             SELECT e.b AS nd, SUM(r.pr / d.dg) AS inflow
             FROM edges e JOIN r0 r ON e.a = r.node JOIN deg d ON e.a = d.a
             GROUP BY e.b) i ON n2.node = i.nd),
    r2 AS (SELECT n2.node,
             (1.0 - 0.85) / (SELECT n FROM nn)
               + 0.85 * coalesce(i.inflow, 0) AS pr
           FROM nodes n2 LEFT JOIN (
             SELECT e.b AS nd, SUM(r.pr / d.dg) AS inflow
             FROM edges e JOIN r1 r ON e.a = r.node JOIN deg d ON e.a = d.a
             GROUP BY e.b) i ON n2.node = i.nd),
    r3 AS (SELECT n2.node,
             (1.0 - 0.85) / (SELECT n FROM nn)
               + 0.85 * coalesce(i.inflow, 0) AS pr
           FROM nodes n2 LEFT JOIN (
             SELECT e.b AS nd, SUM(r.pr / d.dg) AS inflow
             FROM edges e JOIN r2 r ON e.a = r.node JOIN deg d ON e.a = d.a
             GROUP BY e.b) i ON n2.node = i.nd),
    -- C50 fold: member-to-rep purity on a deterministic 25% md5 member
    -- stratum — exact Jaccard between each stratum member's distinct
    -- shingle set and its cluster representative's (the transitivity
    -- audit), with the audit's both-empty short-doc identity rule
    stratum AS MATERIALIZED (
      SELECT doc AS member, component AS rep FROM comp
      WHERE doc <> component
        AND (CAST(('0x' || substr(md5('purity-v1' || CAST(doc AS VARCHAR)),
                   1, 15)) AS BIGINT) % 100) < 25),
    p_inter AS MATERIALIZED (
      SELECT s.member, COUNT(*) AS i
      FROM stratum s
      JOIN shingles a ON a.doc = s.member
      JOIN shingles b ON b.doc = s.rep AND b.shingle = a.shingle
      GROUP BY 1),
    purity AS MATERIALIZED (
      SELECT s.member,
             CASE WHEN coalesce(na.n_sh, 0) + coalesce(nb.n_sh, 0) = 0
                  THEN (CASE WHEN dm.doc_id IS NOT NULL
                              AND dr.doc_id IS NOT NULL
                              AND coalesce(dm.text, '') = coalesce(dr.text, '')
                        THEN 1.0 ELSE 0.0 END)
                  ELSE CAST(coalesce(i.i, 0) AS DOUBLE)
                       / (coalesce(na.n_sh, 0) + coalesce(nb.n_sh, 0)
                          - coalesce(i.i, 0))
             END AS purity_j
      FROM stratum s
      LEFT JOIN p_inter i ON i.member = s.member
      LEFT JOIN sizes na ON na.doc = s.member
      LEFT JOIN sizes nb ON nb.doc = s.rep
      LEFT JOIN documents dm ON dm.doc_id = s.member
      LEFT JOIN documents dr ON dr.doc_id = s.rep)
    SELECT comp.doc, comp.component,
           round(r3.pr * (SELECT n FROM nn), 4) AS pr3,
           round(p.purity_j, 6) AS purity_j,
           (CAST(('0x' || substr(md5('split-v1' ||
                  CAST(comp.component AS VARCHAR)), 1, 15)) AS BIGINT)
            % 1000000) < 100000 AS is_val
    FROM comp JOIN r3 ON comp.doc = r3.node
    LEFT JOIN purity p ON comp.doc = p.member
    """,
    doc="Training-pipeline closure: near-dup CLUSTERING — Jaccard pairs → "
    "connected components → canonical representative (min doc id per "
    "component, consistent with keep-first exact dedup). Spark side is "
    "cluster_rank_adaptive (operators/dedup.py, r12): ONE bounded probe "
    "of the REDUCED pair relation (session.collect_if_small) picks the "
    "path — driver-safe edge sets are collected once, feeding BOTH the "
    "O(E α(E)) union-find pass and the numpy 3-iteration power method "
    "(the composed operators paid the driver-regime machinery twice and "
    "breached the 2.5 s fold budget), larger ones delegate unchanged to the "
    "large-star/small-star formulation (Kiveris et al. SoCC'14, "
    "O(log²) rounds regardless of diameter) + per-round-shuffle "
    "PageRank, so the 100 TB plan is exactly the distributed "
    "composition (fused ≡ composed pinned on both paths, "
    "tests/test_graph.py). The oracle computes the same "
    "components with a recursive CTE. FOLDED C38 (r10): `pr3` is "
    "operators/graph.py pagerank run for exactly 3 power iterations "
    "(damping 0.85, tol=0 so neither engine early-exits) over the "
    "symmetric pair graph — per-round inflow join, degree division, and "
    "teleport arithmetic value-checked against the oracle's unrolled "
    "CTE iterations (symmetry ⇒ no dangling mass, so the one driver "
    "scalar is provably 0 here); reported N-scaled (mean 1.0) and "
    "rounded to 4 so both engines' float accumulation orders agree — "
    "the dup-graph centrality signal for representative selection. "
    "FOLDED C50 (r13, VERDICT r12 item 2): `purity_j` runs the "
    "dedup-cluster purity audit's driver-regime core "
    "(operators/audit.py member_rep_jaccard_map — the exact "
    "member-to-rep shingle-set Jaccard with the both-empty short-doc "
    "identity rule) over a deterministic 25% portable-md5 member "
    "stratum, value-checked against the oracle's own stratum selection "
    "and Jaccard re-derivation from the shared shingles CTE (the r12 "
    "full-audit fold read 3.2-4.0 s and was reverted; the stratum plus "
    "the audit's r13 IN-set scan pushdown fit the budget). The stratum "
    "is bounded driver state by construction; the unbounded audit "
    "remains the operator's own driver/distributed regime. "
    "FOLDED C22 (r10): `is_val` is operators/scrub.py leakage_safe_split "
    "keyed on the COMPONENT — the whole near-dup cluster lands on one "
    "side of train/val (the eval-contamination guard), via the salted "
    "md5 gate the oracle re-derives verbatim.",
    tags=("dedup", "closure", "iterative"),
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scrub import leakage_safe_split

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(
        docs, "doc_id", "text", shingle_n=3, threshold=0.5, max_df=_JACCARD_MAX_DF
    )
    # fused adaptive regime (r12): ONE materialization + collect of the
    # reduced pair graph feeds union-find CC and the numpy 3-iteration
    # PageRank together; the composed operators paid the driver-regime
    # machinery twice (~1.3 s of driver round-trips for a KB graph) and
    # breached the 2.5 s fold budget. Past the driver bound the fused
    # operator delegates to the unchanged distributed composition.
    # (A C50 purity fold was prototyped here in r12 and REVERTED: even
    # through the driver regime its extra scan+shingle job put
    # the row at 3.2-4.0 s against the 2.5 s budget — C50 remains
    # pytest-verified via operators/audit.py, whose driver regime the
    # prototype contributed.)
    ranked, local_rows = D.cluster_rank_adaptive(
        pairs, src="doc_a", dst="doc_b", damping=0.85, max_iter=3
    )
    # C50 fold (r13): member-to-rep purity on a deterministic 25%
    # portable-md5 member stratum, through the audit's driver-regime
    # core (one IN-set-pushdown scan + python Jaccard — the arithmetic
    # the distributed audit plan shares). On the driver regime the
    # stratum gate runs in PYTHON over the rows the fused operator just
    # collected (md5_int_py ≡ MD5_INT_SPARK_SQL, pinned in tests/test_dedup)
    # — zero extra Spark jobs; the distributed path keeps the bounded
    # stratum collect (25% of non-rep members, driver-safe by the same
    # argument as the audit's driver regime).
    from ..operators.audit import member_rep_jaccard_map
    from ..operators.dedup import MD5_INT_SPARK_SQL, md5_int_py

    if local_rows is not None:
        stratum = [
            (n, c)
            for n, c, _rank in local_rows
            if n != c and md5_int_py("purity-v1" + str(n)) % 100 < 25
        ]
    else:
        stratum = [
            (r["node"], r["component"])
            for r in ranked.where(
                (F.col("node") != F.col("component"))
                & (
                    F.expr(MD5_INT_SPARK_SQL(
                        "concat('purity-v1', CAST(node AS STRING))"
                    ))
                    % 100
                    < 25
                )
            )
            .select("node", "component")
            .collect()
        ]
    comp_rows = [{"node": n, "component": c} for n, c in stratum]
    comp_rows += [
        {"node": c, "component": c} for c in {c for _n, c in stratum}
    ]
    jmap = member_rep_jaccard_map(docs, comp_rows, "doc_id", "text", 3)
    if local_rows is not None:
        # r14 (guide §5 — the driver does no data work it can avoid):
        # on the driver regime every input is ALREADY local, so the
        # final frame is assembled in Python — ONE createDataFrame
        # instead of two + a broadcast join + two withColumn jobs.
        # round_half_up_py ≡ F.round and md5_int_py ≡ MD5_INT_SPARK_SQL are
        # pinned in tests (leakage_safe_split's pmod == % here: the
        # md5-int is non-negative). Interleaved tail A/B: 1.47 → 0.48 s
        # (plans/r14/probe_dedup_clusters.py). The distributed path
        # keeps the composed join/split below.
        from pyspark.sql import types as T

        from ..functions import round_half_up_py

        final = [
            (
                n,
                c,
                round_half_up_py(rank, 4),
                round_half_up_py(jmap.get(n), 6),
                md5_int_py("split-v1" + str(c)) % 1_000_000 < 100_000,
            )
            for n, c, rank in local_rows
        ]
        return spark.createDataFrame(
            final,
            T.StructType([
                T.StructField("doc", T.LongType()),
                T.StructField("component", T.LongType()),
                T.StructField("pr3", T.DoubleType()),
                T.StructField("purity_j", T.DoubleType()),
                T.StructField("is_val", T.BooleanType()),
            ]),
        )
    purity = spark.createDataFrame(
        [(int(m), float(j)) for m, j in jmap.items()],
        "node long, purity_j double",
    )
    out = ranked.join(F.broadcast(purity), "node", "left").select(
        F.col("node").alias("doc"),
        "component",
        F.round(F.col("rank"), 4).alias("pr3"),
        F.round(F.col("purity_j"), 6).alias("purity_j"),
    )
    # C22 fold: the split coin flips per COMPONENT, so every member of a
    # near-dup cluster lands on the same side of train/val.
    return leakage_safe_split(out, "component", val_fraction=0.1)


@query(
    "q_line_dedup",
    oracle="""
    WITH arrs AS (
      SELECT doc_id, string_split(text, chr(10)) AS arr FROM documents),
    mentions AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(arr) + 1),
               i -> struct_pack(line_no := i - 1, line := arr[i]))) AS m
      FROM arrs),
    flat AS (
      SELECT doc_id, m.line_no AS line_no, m.line AS line,
             trim(regexp_replace(regexp_replace(lower(m.line),
                    '\\d+', '', 'g'), '\\s+', ' ', 'g')) AS norm
      FROM mentions),
    tagged AS (
      SELECT doc_id, line_no, line, norm,
             COUNT(*) OVER (PARTITION BY norm) AS df
      FROM flat),
    kept AS (
      SELECT doc_id, line_no, line FROM tagged
      WHERE norm = '' OR df < 2),
    agg AS (
      SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS text
      FROM kept GROUP BY doc_id)
    SELECT d.doc_id, COALESCE(a.text, '') AS text
    FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
    """,
    doc="C26: CCNet-style cross-document LINE dedup — every line whose "
    "normalized form (lowercase, digits stripped, whitespace collapsed) "
    "repeats corpus-wide is boilerplate and removed; blank lines exempt; "
    "documents reassemble in original line order and never silently drop "
    "(operators/lines.py; Wenzek et al. 2020).",
    tags=("dedup", "closure"),
)
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.lines import dedup_lines

    docs = load_table(spark, sf_dir, "documents")
    return dedup_lines(docs.select("doc_id", "text"), "doc_id", "text", min_df=2)
