"""Multimodal-column layer as declared queries (SURVEY.md §2.11 C5, §2.10
U3).

The fixtures carry no real media files, so binary content is synthesized
in-plan (`cast(text as binary)`) — the POINT is the plumbing: binary
column + Arrow-batched extraction into a typed struct. The decode stub is
a deterministic sha256-derived feature fake (sources/multimodal.py), which
makes it SQL-expressible: the oracle recomputes the same integers from
DuckDB's sha256, so the whole mapInPandas path is hash-verified, not just
rows-counted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import query
from ..operators.phash import (
    decode_and_thumbnails,
    dhash_col,
    dhash_oracle_sql,
    fake_thumb_sql,
    hamming_ball_stats,
    thumb_variance_col,
)
from ..sources.multimodal import extract_kv_metadata
from ..tables import load_table

# C56 fold: the perceptual-hash pipeline over the deterministic fake
# thumbnail (sha256-derived byte grid — the kinds-without-codecs path),
# reconstructed bit-for-bit in DuckDB. The REAL codec thumbs (pgm/ppm/
# fits/wav block means) share the exact same JVM hash expression and are
# value-pinned against planted resized/re-encoded duplicates in
# tests/test_phash.py.
_DHASH_ORACLE = dhash_oracle_sql(lambda i: fake_thumb_sql("text", i))
# the planted near-dup twin: the SAME thumbnail with cell 0 bumped by 1
# — its dHash differs in at most one bit, so every doc has >=1 neighbor
# inside the d<=4 Hamming ball and the banding leg is non-trivially
# oracle-checked (DuckDB counts the ball by brute xor/bit_count; the
# Spark side must reproduce it through band-split + equi-join + verify)
_DHASH_TWIN = dhash_oracle_sql(
    lambda i: (
        f"({fake_thumb_sql('text', i)} + 1)" if i == 0 else fake_thumb_sql("text", i)
    )
)
# second twin (the doc_id % 7 stratum, cell 1 bumped): n_near then
# varies 1 vs 2 across the corpus — an implementation that hardcodes
# "every doc has its twin" cannot fake the stratum
_DHASH_TWIN2 = dhash_oracle_sql(
    lambda i: (
        f"({fake_thumb_sql('text', i)} + 1)" if i == 1 else fake_thumb_sql("text", i)
    )
)
_TWIN_OFFSET = 10_000_000
# left-to-right sums matching Spark's sequential aggregate fold: exact
# integers (bytes / squares of bytes), so addition order only matters
# for paranoia, not correctness
_S1_ORACLE = "(" + " + ".join(
    f"CAST({fake_thumb_sql('text', i)} AS DOUBLE)" for i in range(81)
) + ")"
_S2_ORACLE = "(" + " + ".join(
    f"pow(CAST({fake_thumb_sql('text', i)} AS DOUBLE), 2)" for i in range(81)
) + ")"


@query(
    "q_multimodal_decode",
    oracle=f"""
    WITH RECURSIVE h AS MATERIALIZED (
      SELECT doc_id, {_DHASH_ORACLE} AS h FROM documents),
    twins AS MATERIALIZED (
      SELECT doc_id + {_TWIN_OFFSET} AS doc_id, {_DHASH_TWIN} AS h
      FROM documents),
    twins2 AS MATERIALIZED (
      SELECT doc_id + {2 * _TWIN_OFFSET} AS doc_id, {_DHASH_TWIN2} AS h
      FROM documents WHERE doc_id % 7 = 0),
    u AS MATERIALIZED (SELECT * FROM h UNION ALL SELECT * FROM twins
          UNION ALL SELECT * FROM twins2),
    -- candidate pruning by an INDEPENDENT pigeonhole band split (6
    -- contiguous bands of 11/9 bits vs the Spark side's 5 of 12/16):
    -- <=4 differing bits dirty at most 4 of 6 bands, so every true
    -- pair shares some exact (band, value) — the equi-join is a
    -- provably lossless superset and the brute xor/bit_count predicate
    -- below remains the DEFINITION of the pair set. Arithmetic shift +
    -- mask is a deterministic injective image of each bit slice (sign
    -- copies land above the slice width), so equal slices <=> equal
    -- vals. MATERIALIZED everywhere: DuckDB otherwise re-inlines the
    -- 64-term sha256 CASE chains per reference, which is what pushed
    -- the plain all-pairs form past the sf1 interrupt budget.
    bvals AS MATERIALIZED (
      SELECT doc_id, b, (h >> (11 * b)) & 2047 AS val
      FROM u CROSS JOIN (SELECT unnest(range(0, 6)) AS b)),
    cands AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM bvals a JOIN bvals b
        ON a.b = b.b AND a.val = b.val AND a.doc_id < b.doc_id),
    pairs AS MATERIALIZED (
      SELECT da, db
      FROM cands
      JOIN u ua ON ua.doc_id = cands.da
      JOIN u ub ON ub.doc_id = cands.db
      WHERE bit_count(xor(ua.h, ub.h)) <= 4),
    near AS MATERIALIZED (
      SELECT id, COUNT(*) AS n FROM (
        SELECT da AS id FROM pairs UNION ALL SELECT db FROM pairs)
      GROUP BY id),
    -- connected components over the Hamming-ball pair graph by
    -- transitive closure (components are tiny — a doc welds with its
    -- planted twins — so enumerating reachability is cheap ground
    -- truth for the hamming_groups CC + label join-back)
    edges AS MATERIALIZED (
      SELECT da AS a, db AS b FROM pairs
      UNION ALL SELECT db, da FROM pairs),
    reach AS (
      SELECT doc_id AS src, doc_id AS dst FROM u
      UNION
      SELECT reach.src, e.b FROM reach JOIN edges e ON reach.dst = e.a),
    comp AS MATERIALIZED (
      SELECT src AS id, MIN(dst) AS comp FROM reach GROUP BY src),
    gsize AS MATERIALIZED (
      SELECT comp, COUNT(*) AS gn FROM comp GROUP BY comp)
    SELECT d.doc_id,
           64 + CAST(('0x' || substr(sha256(text), 1, 2)) AS INT) AS width,
           64 + CAST(('0x' || substr(sha256(text), 3, 2)) AS INT) AS height,
           1 + CAST(('0x' || substr(sha256(text), 5, 2)) AS INT) % 8 AS n_frames,
           h.h AS dhash,
           -- thumb_variance_col under the value oracle (r10): var*81^2 =
           -- 81*SUM(x^2) - SUM(x)^2 is INTEGER-EXACT (bytes, sums <
           -- 2^53), so round() of the float pipeline recovers the same
           -- bigint in both engines regardless of last-ulp drift
           CAST(round(({_S2_ORACLE} / 81.0 - pow({_S1_ORACLE} / 81.0, 2)) * 6561) AS BIGINT)
             AS thumb_var_x6561,
           COALESCE(near.n, 0) AS n_near,
           gsize.gn AS n_group
    FROM documents d
    JOIN h ON d.doc_id = h.doc_id
    LEFT JOIN near ON d.doc_id = near.id
    JOIN comp ON d.doc_id = comp.id
    JOIN gsize ON comp.comp = gsize.comp
    """,
    doc="C5+C56 (folded r7): multimodal decode plumbing — binary column → "
    "mapInPandas decoder → typed struct — plus the perceptual-hash leg: "
    "thumbnail extraction (mapInPandas) → 64-bit dHash as one JVM "
    "projection → n_near, the doc's d<=4 Hamming-ball neighbor count over "
    "the corpus UNION a planted one-bit twin per doc (operators/phash.py "
    "hamming_pairs: band-split → equi-join → bit_count verify — the "
    "banding leg is oracle-checked non-trivially: every doc has at "
    "least its twin, and the oracle derives the ball with its OWN "
    "pigeonhole geometry — 6 bands of 11/9 bits vs Spark's 5 of 12/16, "
    "a provably lossless candidate superset — before the defining "
    "brute xor/bit_count predicate; r12, the plain all-pairs form "
    "exceeded the sf1 oracle interrupt budget). Both stubs "
    "derive from sha256(content), so DuckDB recomputes the exact "
    "integers: the Arrow batch path AND the 64-term hash assembly (incl. "
    "the bit-63 min-long special case) are value-verified, not just "
    "row-counted. r10 folds thumb_variance_col (the degenerate-media "
    "policy input) as round(var*81^2) — integer-exact on byte "
    "thumbnails, so DuckDB recomputes it from its own sha256 "
    "elements with zero float-drift risk.",
    tags=("multimodal", "closure"),
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("content")
    )
    # r14 (guide §4): decode + thumbnail in ONE Arrow crossing — the
    # composed decode_media→thumbnails pair shipped the payload across
    # the Python boundary four times; the fused pass ships it once and
    # drops it in the worker. Per-row semantics identical (fused ≡
    # composed pinned in tests/test_phash.py; interleaved front A/B
    # 1.97 → 0.78 s, plans/r14/probe_multimodal_fused.py).
    hashed = (
        decode_and_thumbnails(docs, kind="image", on_unregistered="fake")
        .select(
            "doc_id",
            F.col("decoded.width").alias("width"),
            F.col("decoded.height").alias("height"),
            F.col("decoded.n_frames").alias("n_frames"),
            dhash_col("thumb").alias("dhash"),
            F.round(thumb_variance_col("thumb") * 6561)
            .cast("bigint")
            .alias("thumb_var_x6561"),
            "thumb",
        )
        # Twin hashes by BIT SURGERY over the corpus dhash, not two more
        # 64-term CASE chains: the dHash reads cell 0 (element 1) only
        # in bit 0's gradient (thumb[1] > thumb[2]) and cell 1 (element
        # 2) only in bits 0 and 1, so "thumb with cell k bumped by 1"
        # differs from dhash in exactly those recomputed bits. The old
        # three-chain projection (192 terms, 384 element_at calls) blew
        # janino's 64 KB method limit — whole-stage codegen FAILED at
        # runtime and the stage silently ran interpreted (VERDICT r8
        # what's-wrong #2; pinned by the codegen.fallback=false test in
        # tests/test_phash.py). The two Projects stay separate
        # (CollapseProject refuses: `dhash` is non-cheap and referenced
        # twice), so the 64-term chain is generated ONCE. NULL thumb →
        # dhash NULL → surgery NULL, matching dhash_col's guard.
        .select(
            "doc_id",
            "width",
            "height",
            "n_frames",
            "dhash",
            "thumb_var_x6561",
            F.expr(
                "(dhash & -2) | (CASE WHEN element_at(thumb, 1) + 1.0D >"
                " element_at(thumb, 2) THEN 1L ELSE 0L END)"
            ).alias("twin_hash"),
            F.expr(
                "(dhash & -4)"
                " | (CASE WHEN element_at(thumb, 1) >"
                " element_at(thumb, 2) + 1.0D THEN 1L ELSE 0L END)"
                " | (CASE WHEN element_at(thumb, 2) + 1.0D >"
                " element_at(thumb, 3) THEN 2L ELSE 0L END)"
            ).alias("twin2_hash"),
        )
    )
    # one evaluation of the Python decode/thumbnail pass: corpus, twins,
    # and the output leg all fan out from the cut, not from the plan
    from ..session import cut_lineage

    hashed = cut_lineage(hashed)
    corpus = hashed.select(F.col("doc_id").alias("id"), F.col("dhash").alias("h"))
    twins = hashed.select(
        (F.col("doc_id") + _TWIN_OFFSET).alias("id"),
        F.col("twin_hash").alias("h"),
    )
    twins2 = hashed.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2 * _TWIN_OFFSET).alias("id"),
        F.col("twin2_hash").alias("h"),
    )
    u = corpus.unionByName(twins).unionByName(twins2)
    # C56's group machinery under the oracle (VERDICT r8 item 5):
    # hamming_ball_stats computes the per-row ball-neighbor count AND
    # the CC group label + size from ONE banding over distinct hashes
    # (the rep-graph core hamming_groups runs on) — DuckDB recomputes
    # n_near as the brute-force ball and n_group as a recursive-CTE
    # transitive closure, so the banding, the bucket-count weighting,
    # the CC, and the label join-back are all value-checked.
    # r14: take the operator's per-DISTINCT-hash stats relation and
    # join it on the dhash we already hold — the id-keyed form
    # re-derived the 3-leg hash union inside the final join-back and
    # then re-joined on doc_id (a row's stats are a function of its
    # hash alone, so join-by-hash is value-identical; pinned in
    # tests/test_phash.py). One hub-safe hash join instead of three
    # checkpoint reads + two joins in the output plan.
    stats = hamming_ball_stats(u, "id", "h", max_distance=4, by_hash=True)
    return (
        hashed.join(stats, hashed.dhash == stats.h)
        .select(
            "doc_id",
            "width",
            "height",
            "n_frames",
            "dhash",
            "thumb_var_x6561",
            "n_near",
            "n_group",
        )
    )


@query(
    "q_metadata_extract",
    oracle="""
    SELECT doc_id,
           lang AS meta_lang,
           source AS meta_source,
           '' AS missing
    FROM documents
    """,
    doc="U3: declared-schema metadata extraction — kv-text bytes → struct "
    "with R-flag enforcement (etc/decam_src_keywords.txt semantics; "
    "bin/save_DBB_stagein_to_DBB.py:160,212-215). kv content synthesized "
    "from documents columns, so the oracle knows every expected value; "
    "required-key misses surface in `missing` instead of aborting "
    "(comma-joined string — driver-hashable, unlike an array column).",
    tags=("multimodal",),
)
def q_metadata_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.format_string("LANG = %s\nSOURCE = %s", "lang", "source")
        .cast("binary")
        .alias("content"),
    )
    out = extract_kv_metadata(docs, {"LANG": True, "SOURCE": False})
    return out.select(
        "doc_id",
        F.col("meta.lang").alias("meta_lang"),
        F.col("meta.source").alias("meta_source"),
        F.array_join(F.sort_array(F.col("meta_missing_required")), ",").alias("missing"),
    )
