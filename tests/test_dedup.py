"""Dedup-operator semantics beyond the oracle compare: SimHash locality,
MinHash-LSH vs exact Jaccard, and exact-dedup determinism on a corpus with
planted duplicates."""

from __future__ import annotations

from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from dbbspark.operators import dedup as D


def _docs(spark):
    base = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 1
        (3, "spark shuffles partitions across executors during wide transformations"),
        (4, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
        (5, "completely different text about parquet column pruning and codegen"),
    ]
    return spark.createDataFrame(base, ["doc_id", "text"])


def test_exact_dedup_keeps_lowest_id(spark):
    kept = D.sha_dedup_keep_first(_docs(spark), "text", "doc_id").select("doc_id").collect()
    ids = sorted(r["doc_id"] for r in kept)
    assert ids == [1, 2, 3, 5]  # 4 deduped against 1


def test_simhash_locality(spark):
    sh = {r["doc"]: r["simhash"] for r in D.simhash(_docs(spark), "doc_id", "text").collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(sh[1], sh[4]) == 0  # identical text, identical fingerprint
    assert ham(sh[1], sh[2]) < ham(sh[1], sh[3])  # near-dup closer than unrelated


def test_lsh_finds_planted_near_dup(spark):
    sigs = D.minhash_signatures(_docs(spark), "doc_id", "text", num_perm=16)
    pairs = {(r["doc_a"], r["doc_b"]) for r in D.lsh_candidate_pairs(sigs).collect()}
    assert (1, 4) in pairs  # exact dup always collides
    assert not any(3 in p and 5 in p for p in pairs)  # unrelated docs don't


def test_lsh_direct_path_matches_row_form(spark):
    """Map-side banding (no groupBy(doc, band) shuffle) must produce the
    exact band signatures — and therefore pairs — of the row-form path."""
    docs = _docs(spark)
    sigs = D.minhash_signatures(docs, "doc_id", "text", num_perm=16)
    row_form = D._band_signatures(sigs, bands=4, rows_per_band=4)
    map_side = D.minhash_band_signatures(docs, "doc_id", "text", 4, 4)
    assert sorted(map(tuple, row_form.collect())) == sorted(
        map(tuple, map_side.collect())
    )
    row_pairs = {tuple(r) for r in D.lsh_candidate_pairs(sigs).collect()}
    direct_pairs = {
        tuple(r) for r in D.lsh_candidate_pairs_direct(docs, "doc_id", "text").collect()
    }
    assert row_pairs == direct_pairs


def test_jaccard_pairs_threshold(spark):
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in D.jaccard_pairs(_docs(spark), "doc_id", "text", threshold=0.5).collect()
    }
    assert (1, 4) in pairs and (1, 2) in pairs
    assert (3, 5) not in pairs


def test_jaccard_max_df_bounds_hot_shingle(spark):
    """A background shingle shared by EVERY doc must not generate the df²
    pair blow-up: with the production max_df cap the hot posting list is
    dropped before pair generation (threshold=0 exposes every generated
    candidate pair, so the output count IS the generated-pair count)."""
    n = 60
    hot = "common boilerplate header"  # one shared 3-token shingle
    docs = spark.createDataFrame(
        [(i, f"{hot} unique{i}a unique{i}b unique{i}c") for i in range(n)],
        ["doc_id", "text"],
    )
    uncapped = D.jaccard_pairs(
        docs, "doc_id", "text", threshold=0.0, max_df=None
    ).count()
    capped = D.jaccard_pairs(
        docs, "doc_id", "text", threshold=0.0, max_df=50
    ).count()
    assert uncapped == n * (n - 1) / 2  # every pair shares the hot shingle
    assert capped == 0  # hot list pruned ⇒ no candidate pairs generated


def test_jaccard_max_df_keeps_real_near_dups(spark):
    """df-pruning the hot shingle must not lose near-dups that share many
    RARE shingles: the planted near-dup pair survives the cap."""
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in D.jaccard_pairs(
            _docs(spark), "doc_id", "text", threshold=0.5, max_df=3
        ).collect()
    }
    assert (1, 4) in pairs and (1, 2) in pairs


def test_lsh_incremental_vs_corpus_and_within_batch(spark):
    """A new batch collides against the persisted corpus signatures and
    within itself — never corpus x corpus."""
    corpus = _docs(spark)  # contains exact dups 1 & 4
    new = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog near the river bank"),
            (11, "the quick brown fox jumps over the lazy dog near the river bank"),
            (12, "unrelated prose about adaptive query execution and skew joins"),
        ],
        ["doc_id", "text"],
    )
    c_sigs = D.minhash_signatures(corpus, "doc_id", "text", num_perm=16)
    n_sigs = D.minhash_signatures(new, "doc_id", "text", num_perm=16)
    got = {
        (r["doc_a"], r["doc_b"], r["against"])
        for r in D.lsh_incremental_pairs(n_sigs, c_sigs).collect()
    }
    assert (10, 1, "corpus") in got and (10, 4, "corpus") in got
    assert (10, 11, "new") in got
    assert not any(a in (1, 4) and b in (1, 4) for a, b, _ in got), "corpus x corpus leaked"
    assert not any(12 in (a, b) for a, b, _ in got)


def test_lsh_incremental_union_equals_full_batch(spark):
    """The rolling invariant: pairs(old) ∪ incremental(new vs old) must
    equal pairs(old ∪ new) — ingesting in two steps loses nothing."""
    import random

    rng = random.Random(41)
    vocab = [f"t{i}" for i in range(30)]
    rows = []
    for i in range(60):
        words = [rng.choice(vocab) for _ in range(12)]
        rows.append((i, " ".join(words)))
        if rng.random() < 0.4:  # planted near-dup, maybe in the other half
            mut = list(words)
            mut[rng.randrange(12)] = rng.choice(vocab)
            rows.append((200 + i, " ".join(mut)))
    all_docs = spark.createDataFrame(rows, ["doc_id", "text"])
    old = all_docs.where(F.col("doc_id") % 2 == 0)
    new = all_docs.where(F.col("doc_id") % 2 == 1)

    sig = lambda df: D.minhash_signatures(df, "doc_id", "text", num_perm=16)  # noqa: E731

    full = {
        tuple(sorted((r["doc_a"], r["doc_b"])))
        for r in D.lsh_candidate_pairs(sig(all_docs)).collect()
    }
    old_pairs = {
        tuple(sorted((r["doc_a"], r["doc_b"])))
        for r in D.lsh_candidate_pairs(sig(old)).collect()
    }
    inc = {
        tuple(sorted((r["doc_a"], r["doc_b"])))
        for r in D.lsh_incremental_pairs(sig(new), sig(old)).collect()
    }
    assert old_pairs | inc == full


def test_exact_dedup_null_texts_all_kept_and_salted(spark):
    """NULL texts are not duplicates of one another (sha2(NULL) is NULL;
    an unknown equals nothing) — all survive, while real duplicates
    still collapse. The same change salts the null stratum out of the
    single window partition it would otherwise pile into at scale."""
    rows = [
        (1, "same text"),
        (2, "same text"),
        (3, None),
        (4, None),
        (5, None),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = sorted(
        r["doc_id"]
        for r in D.sha_dedup_keep_first(df, "text", "doc_id").collect()
    )
    assert kept == [1, 3, 4, 5]


@given(
    vals=st.lists(
        st.text(alphabet=st.characters(codec="utf-8"), max_size=12)
        | st.sampled_from(["", "'", "\\", "\\'", "a'b\\c", "\U0001F600x"]),
        min_size=1,
        max_size=8,
    )
)
@example(vals=["purity-v1" + str(n) for n in (0, 1, 7, 123456789, 2**40)])
@settings(max_examples=12, deadline=None)
def test_md5_int_py_matches_spark_expr(spark, vals):
    """md5_int_py is the driver-side twin of MD5_INT_SPARK_SQL — the r13
    purity-stratum gate computes the coin in python on the counted
    driver regime, so the two hash forms must agree bit-for-bit over
    arbitrary unicode (empty, non-BMP, quotes, backslashes; the explicit
    example is the concat-prefix form the stratum uses), both over a
    column and over the value as a `sql_str` literal."""
    from dbbspark.functions import sql_str

    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i int, s string")
    rows = df.select(
        "i",
        F.expr(D.MD5_INT_SPARK_SQL("s")).alias("h"),
        F.array(
            *[F.expr(D.MD5_INT_SPARK_SQL(sql_str(v))) for v in vals]
        ).alias("lit"),
    ).collect()
    for r in rows:
        v = vals[r["i"]]
        assert r["h"] == D.md5_int_py(v), v
        assert r["lit"][r["i"]] == D.md5_int_py(v), v


def test_dedup_clusters_fused_local_assembly_matches_composed(spark, sf_dir):
    """r14 pin: q_dedup_clusters' driver-path output (one local
    createDataFrame assembled in Python) equals the composed
    join+F.round+leakage_safe_split tail over the same
    cluster_rank_adaptive rows and purity map."""
    from pyspark.sql import functions as F

    from dbbspark.catalog import load_all
    from dbbspark.operators import dedup as D
    from dbbspark.operators.audit import member_rep_jaccard_map
    from dbbspark.operators.dedup import md5_int_py
    from dbbspark.operators.scrub import leakage_safe_split
    from dbbspark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, "doc_id", "text", shingle_n=3,
                            threshold=0.5, max_df=1000)
    ranked, local_rows = D.cluster_rank_adaptive(
        pairs, src="doc_a", dst="doc_b", damping=0.85, max_iter=3
    )
    assert local_rows is not None  # fixture graphs take the driver path
    stratum = [(n, c) for n, c, _r in local_rows
               if n != c and md5_int_py("purity-v1" + str(n)) % 100 < 25]
    comp_rows = [{"node": n, "component": c} for n, c in stratum]
    comp_rows += [{"node": c, "component": c} for c in {c for _n, c in stratum}]
    jmap = member_rep_jaccard_map(docs, comp_rows, "doc_id", "text", 3)
    purity = spark.createDataFrame(
        [(int(m), float(j)) for m, j in jmap.items()],
        "node long, purity_j double")
    composed = leakage_safe_split(
        ranked.join(F.broadcast(purity), "node", "left").select(
            F.col("node").alias("doc"), "component",
            F.round(F.col("rank"), 4).alias("pr3"),
            F.round(F.col("purity_j"), 6).alias("purity_j")),
        "component", val_fraction=0.1)
    got = load_all()["q_dedup_clusters"].builder(
        spark, sf_dir).collect()
    want = composed.collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert [f.name for f in load_all()["q_dedup_clusters"]
            .builder(spark, sf_dir).schema] == \
        [f.name for f in composed.schema]


def test_md5_int_formula_defined_once():
    """The Spark md5→conv hash has one definition, MD5_INT_SPARK_SQL:
    every other package site must call it, not re-spell the formula.
    (DuckDB oracle strings use `'0x' ||`, not conv, and are exempt.)"""
    import ast
    import pathlib
    import re

    formula = re.compile(
        r"conv\(\s*(?:F\.)?(?:substr|substring|left)\(\s*(?:F\.)?md5\(", re.I
    )
    pkg = pathlib.Path(D.__file__).resolve().parents[1]
    home = pathlib.Path(D.__file__).resolve()
    fn = next(
        n for n in ast.parse(home.read_text()).body
        if isinstance(n, ast.FunctionDef) and n.name == "MD5_INT_SPARK_SQL"
    )
    hits = []
    for path in sorted(pkg.rglob("*.py")):
        text = path.read_text()
        for m in formula.finditer(text):
            line = text.count("\n", 0, m.start()) + 1
            if path == home and fn.lineno <= line <= fn.end_lineno:
                continue
            hits.append(f"{path.relative_to(pkg.parent)}:{line}")
    assert not hits, hits


def test_driver_regime_decided_once():
    """The driver-vs-distributed decision has one definition,
    session.collect_if_small: no bounded collect (``.limit(<n> + 1)``)
    and no count-based path decision (``.count() <=`` / ``>``) may
    appear in the operators or queries. (monitor's raise-on-overflow
    guard lives outside both packages and decides no path.)"""
    import pathlib
    import re

    probe = re.compile(
        r"\.limit\([^()]*\+\s*1\s*\)|\.count\(\)\s*(?:<=|>=|<|>)"
    )
    pkg = pathlib.Path(D.__file__).resolve().parents[1]
    hits = []
    for sub in ("operators", "queries"):
        for path in sorted((pkg / sub).rglob("*.py")):
            text = path.read_text()
            for m in probe.finditer(text):
                line = text.count("\n", 0, m.start()) + 1
                hits.append(f"{path.relative_to(pkg.parent)}:{line}")
    assert not hits, hits
