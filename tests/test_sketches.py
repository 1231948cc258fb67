"""Mergeable corpus sketches (C40): merge-exactness, HLL accuracy vs the
exact answers, and the count-min over/under guarantees vs a Counter
oracle — including the property the module exists for: sketching batches
independently and merging gives the same card as one shot over the union,
without rescanning anything."""

from __future__ import annotations

import random
from collections import Counter

from pyspark.sql import functions as F

from dbbspark.operators.sketches import (
    cms_estimate,
    cms_merge,
    cms_sketch,
    corpus_sketch,
    merge_corpus_sketches,
    sketch_card,
)

WORDS = [
    "the", "of", "and", "alpha", "beta", "gamma", "delta", "sigma",
    "survey", "archive", "nite", "expnum", "calib", "flat", "bias",
]


def _random_docs(rng: random.Random, n: int) -> list[str]:
    return [
        " ".join(rng.choices(WORDS, k=rng.randint(3, 30))) for _ in range(n)
    ]


def test_sketch_card_matches_exact_counts(spark):
    rng = random.Random(7)
    texts = _random_docs(rng, 400)
    # plant exact duplicates so the dup rate is non-trivial
    texts += texts[:100]
    docs = spark.createDataFrame([(t,) for t in texts], "text string")

    card = sketch_card(merge_corpus_sketches(corpus_sketch(docs)))

    exact_distinct = len(set(texts))
    exact_vocab = len({w for t in texts for w in t.split(" ")})
    exact_tokens = sum(len(t.split(" ")) for t in texts)
    assert card["n_docs"] == len(texts)
    assert card["total_tokens"] == exact_tokens
    assert card["total_chars"] == sum(len(t) for t in texts)
    # HLL lgConfigK=12 default: rel err ~1.6%, generous bound for CI
    assert abs(card["distinct_docs"] - exact_distinct) <= 0.05 * exact_distinct
    assert abs(card["vocab_size"] - exact_vocab) <= max(2, 0.05 * exact_vocab)
    exact_rate = 1.0 - exact_distinct / len(texts)
    assert abs(card["approx_dup_rate"] - exact_rate) <= 0.05


def test_batched_sketches_merge_to_one_shot(spark):
    """Sketch three disjoint batches independently, merge the three
    one-row frames: the card must equal (scalars exactly, estimates
    near-exactly) the single-shot sketch over the union."""
    rng = random.Random(13)
    batches = [_random_docs(rng, 150) for _ in range(3)]
    frames = [
        corpus_sketch(spark.createDataFrame([(t,) for t in b], "text string"))
        for b in batches
    ]
    union_rows = frames[0].unionByName(frames[1]).unionByName(frames[2])
    merged_card = sketch_card(merge_corpus_sketches(union_rows))

    all_docs = spark.createDataFrame(
        [(t,) for b in batches for t in b], "text string"
    )
    oneshot_card = sketch_card(merge_corpus_sketches(corpus_sketch(all_docs)))

    for key in ("n_docs", "total_tokens", "total_chars"):
        assert merged_card[key] == oneshot_card[key]
    # HLL union of disjoint sketches is estimate-identical to one shot
    assert merged_card["distinct_docs"] == oneshot_card["distinct_docs"]
    assert merged_card["vocab_size"] == oneshot_card["vocab_size"]


def test_empty_batch_merges_neutrally(spark):
    docs = spark.createDataFrame([("a b c",), ("a b c",)], "text string")
    empty = spark.createDataFrame([], "text string")
    merged = merge_corpus_sketches(
        corpus_sketch(docs).unionByName(corpus_sketch(empty))
    )
    card = sketch_card(merged)
    assert card["n_docs"] == 2
    assert card["distinct_docs"] == 1
    assert card["vocab_size"] == 3


def test_cms_never_underestimates_and_bounds_error(spark):
    rng = random.Random(29)
    texts = _random_docs(rng, 500)
    truth = Counter(w for t in texts for w in t.split(" "))
    total = sum(truth.values())

    docs = spark.createDataFrame([(t,) for t in texts], "text string")
    cms = cms_sketch(docs, depth=5, width=1024)
    queries = spark.createDataFrame([(w,) for w in WORDS], "token string")
    est = {
        r["token"]: r["est"] for r in cms_estimate(
            cms, queries, depth=5, width=1024
        ).collect()
    }
    for w in WORDS:
        assert est[w] >= truth[w], f"CMS underestimated {w}"
        # eps = e/width; allow 3x slack on the expectation bound
        assert est[w] <= truth[w] + 3 * (2.72 / 1024) * total

    # unseen token estimates are small (collision mass only)
    unseen = cms_estimate(
        cms,
        spark.createDataFrame([("zzz-not-present",)], "token string"),
        depth=5,
        width=1024,
    ).first()["est"]
    assert unseen <= 3 * (2.72 / 1024) * total


def test_cms_merge_is_exact(spark):
    """Merging per-batch CMS relations equals the one-shot CMS cell by
    cell — the sketch state is exactly additive."""
    rng = random.Random(41)
    b1 = _random_docs(rng, 120)
    b2 = _random_docs(rng, 180)
    d1 = spark.createDataFrame([(t,) for t in b1], "text string")
    d2 = spark.createDataFrame([(t,) for t in b2], "text string")
    dall = spark.createDataFrame([(t,) for t in b1 + b2], "text string")

    merged = cms_merge(cms_sketch(d1, width=256), cms_sketch(d2, width=256))
    oneshot = cms_sketch(dall, width=256)
    diff = merged.unionByName(oneshot).groupBy("row", "col").agg(
        F.sum("count").alias("s"), F.count("*").alias("n")
    )
    # every cell must appear in both with equal counts: n==2 and s even,
    # and the exceptAll in both directions must be empty
    assert merged.exceptAll(oneshot).count() == 0
    assert oneshot.exceptAll(merged).count() == 0
    assert diff.filter(F.col("n") != 2).count() == 0


def test_cms_state_is_bounded(spark):
    rng = random.Random(53)
    docs = spark.createDataFrame(
        [(t,) for t in _random_docs(rng, 800)], "text string"
    )
    cms = cms_sketch(docs, depth=4, width=64)
    assert cms.count() <= 4 * 64
    # row/col stay inside the declared grid
    bad = cms.filter(
        (F.col("row") < 0) | (F.col("row") >= 4)
        | (F.col("col") < 0) | (F.col("col") >= 64)
    )
    assert bad.count() == 0


def test_gate_sketch_telemetry_incremental_and_retry_idempotent(spark, tmp_path):
    """The line-dedup gate's sketch_dir telemetry: per-batch rows merge
    into the card of everything EMITTED so far, and a foreachBatch retry
    (same batch_id re-run) leaves the card unchanged."""
    from dbbspark.operators.sketches import incremental_card
    from dbbspark.streaming.linededup import process_batch

    idx, out, sk = str(tmp_path / "idx"), str(tmp_path / "out"), str(tmp_path / "sk")
    b1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], ["doc_id", "text"]
    )
    b2 = spark.createDataFrame([(3, "epsilon zeta")], ["doc_id", "text"])

    process_batch(b1, 0, idx, out, sketch_dir=sk)
    card1 = incremental_card(spark, sk)
    assert card1["n_docs"] == 2
    assert card1["vocab_size"] == 4

    process_batch(b2, 1, idx, out, sketch_dir=sk)
    card2 = incremental_card(spark, sk)
    assert card2["n_docs"] == 3
    assert card2["vocab_size"] == 6
    assert card2["total_tokens"] == 6

    # retry of batch 1 replaces its own sketch partition, never doubles
    process_batch(b2, 1, idx, out, sketch_dir=sk)
    assert incremental_card(spark, sk) == card2


def test_incremental_card_empty_dir(spark, tmp_path):
    from dbbspark.operators.sketches import incremental_card

    card = incremental_card(spark, str(tmp_path / "nowhere"))
    assert card["n_docs"] == 0 and card["approx_dup_rate"] == 0.0


def test_cms_sketch_weighted_equals_mention_form(spark):
    """cms_sketch_weighted over (token, count) must produce the exact
    sparse relation cms_sketch builds from the mention stream — grouping
    by token commutes with the cell groupBy (the C40 fold's cheap build
    shape). Checked under both hash variants."""
    from dbbspark.operators.sketches import cms_sketch, cms_sketch_weighted
    from dbbspark.operators.vocab import token_frequencies

    rows = [(i, "the quick brown fox the fox " + "w%d" % (i % 5))
            for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    freqs = token_frequencies(docs, "text", lowercase=True)
    for portable in (False, True):
        a = {
            (r["row"], r["col"]): r["count"]
            for r in cms_sketch(
                docs, "text", depth=4, width=32, portable=portable
            ).collect()
        }
        b = {
            (r["row"], r["col"]): r["count"]
            for r in cms_sketch_weighted(
                freqs, depth=4, width=32, portable=portable
            ).collect()
        }
        assert a == b, portable


def test_cms_cells_sql_equals_column_form(spark):
    """r14: _cms_cells emits generated SQL; pin cell positions equal to
    the original Column-built forms for both hash families, including
    NULL and non-ASCII tokens."""
    from pyspark.sql import functions as F

    from dbbspark.operators.dedup import md5_int_py
    from dbbspark.operators.sketches import _cms_cells

    df = spark.createDataFrame(
        [("alpha",), ("B#7",), ("übermaß",), ("",), (None,)],
        "token string",
    )
    for portable in (False, True):
        got = df.select(
            F.explode(_cms_cells("token", 5, 64, portable)).alias("c")
        ).select("c.row", "c.col").collect()

        def col_for(r):
            return F.pmod(F.xxhash64(F.col("token"), F.lit(r)), F.lit(64))

        if portable:
            # independent reference: the driver-side md5 twin
            ref = [
                (r, None if t is None else md5_int_py(f"{t}#{r}") % 64)
                for (t,) in df.collect()
                for r in range(5)
            ]
        else:
            ref = df.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(r).alias("row"), col_for(r).alias("col")
                            )
                            for r in range(5)
                        ]
                    )
                ).alias("c")
            ).select("c.row", "c.col").collect()
        assert got == ref, f"portable={portable}"
