"""BPE tokenizer training (operators/bpe.py): the distributed trainer
must reproduce the classic single-machine algorithm exactly — same
merge list, same encodings — and application must be lossless."""

from __future__ import annotations

from collections import Counter

import pytest

from dbbspark.operators.bpe import (
    END_WORD,
    apply_bpe,
    train_bpe,
    word_counts,
)

CORPUS = [
    (1, "low lower lowest low low"),
    (2, "new newer newest new newer"),
    (3, "wide wider widest new low"),
    (4, "low low low newer wide"),
]


def _train_distributed(*args, **kwargs):
    """train_bpe forced onto the distributed rounds (vocab bound 0)."""
    import dbbspark.operators.bpe as bpe_mod

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(bpe_mod, "DRIVER_VOCAB_LIMIT", 0)
        return train_bpe(*args, **kwargs)


def _reference_bpe(words: dict[str, int], num_merges: int, min_pair_count: int = 2):
    """Sennrich-style reference trainer: count adjacent pairs weighted by
    word frequency, merge the (count desc, pair asc) argmax."""
    vocab = {tuple(list(w) + [END_WORD]): c for w, c in words.items()}
    merges = []
    for _ in range(num_merges):
        pairs: Counter = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        # (count desc, pair asc) tiebreak, same as the distributed trainer
        top_count = max(pairs.values())
        best = min(p for p, c in pairs.items() if c == top_count)
        if pairs[best] < min_pair_count:
            break
        merges.append(best)
        a, b = best
        new_vocab = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(CORPUS, ["doc_id", "text"])


def test_word_counts(spark, docs):
    wc = {r["word"]: r["count"] for r in word_counts(docs).collect()}
    assert wc["low"] == 7 and wc["newer"] == 3 and wc["widest"] == 1


def test_trainer_matches_reference(spark, docs):
    wc_df = word_counts(docs)
    words = {r["word"]: r["count"] for r in wc_df.collect()}
    for k in (1, 5, 12):
        assert train_bpe(wc_df, k) == _reference_bpe(words, k)


def test_trainer_partition_invariant(spark, docs):
    wc = word_counts(docs)
    a = train_bpe(wc.repartition(7), 8)
    b = train_bpe(wc.coalesce(1), 8)
    assert a == b and len(a) == 8


def test_min_pair_count_stops(spark, docs):
    merges = train_bpe(word_counts(docs), 500, min_pair_count=2)
    # converges long before 500: every remaining pair is a hapax
    assert 0 < len(merges) < 100


def test_apply_bpe_lossless_and_cached(spark, docs):
    merges = train_bpe(word_counts(docs), 10)
    out = apply_bpe(docs, merges).collect()
    assert len(out) == len(CORPUS)
    for r in out:
        rebuilt = "".join(r["bpe_tokens"]).replace(END_WORD, " ").strip()
        assert rebuilt == r["text"]
    # learned subwords actually merged: 'low' (7 occurrences) should be
    # a single token 'low▁' after 10 merges
    row1 = next(r for r in out if r["doc_id"] == 1)
    assert "low" + END_WORD in row1["bpe_tokens"]


def test_apply_bpe_null_text(spark):
    df = spark.createDataFrame([(1, None), (2, "low low")], "doc_id long, text string")
    merges = [("l", "o"), ("lo", "w")]
    rows = {r["doc_id"]: r["bpe_tokens"] for r in apply_bpe(df, merges).collect()}
    assert rows[1] is None
    assert rows[2] == ["low", END_WORD, "low", END_WORD]


def test_cli_curate_with_bpe(spark, sf_dir, tmp_path):
    from dbbspark.cli import main

    out = str(tmp_path / "curated")
    assert main([
        "curate", "--sf-dir", sf_dir, "--out", out, "--bpe-merges", "16",
    ]) == 0
    got = spark.read.parquet(out)
    assert "bpe_tokens" in got.columns
    row = got.where(got.bpe_tokens.isNotNull()).first()
    assert row is not None and len(row["bpe_tokens"]) > 0


def test_batched_equals_sequential_on_corpus(spark, docs):
    """VERDICT r5 item 2: the batched trainer must return the EXACT
    sequential merge list — batching is a scheduling optimization, never
    a semantic one."""
    wc = word_counts(docs)
    seq = _train_distributed(wc, 20, batch_size=1)
    # driver regime (default): same list, zero per-merge Spark jobs
    assert train_bpe(wc, 20) == seq
    for bs in (2, 4, 32):
        got = _train_distributed(wc, 20, batch_size=bs)
        assert got == seq, f"batch_size={bs}"


def test_batched_equals_sequential_adversarial(spark):
    """Tie plateaus, shared symbols, self-feeding runs ('aaa'), and
    merged-symbol collisions ('ab' pre-existing as a word) — every case
    where naive batching diverges must degrade to smaller batches, not
    to a different merge list."""
    corpora = [
        # flat counts: everything ties, tiebreak is purely lexicographic
        [(1, "ab cd ef gh ab cd ef gh")],
        # self-feeding runs: (a,a) creates ("aa","a") pairs mid-batch
        [(1, "aaaa aaaa aaa bb bb cc cc dd dd")],
        # chained symbols: (a,b) then (ab,c) — second depends on first
        [(1, "abc abc abc abc xy xy")],
        # boost hazard: "x ab" exists while (a,b) is the top merge
        [(1, "a b a b a b x y"), (2, "q r q r")],
        # hub symbol shared across the top pairs
        [(1, "ea eb ec ed ea eb ec ed ea eb")],
    ]
    for i, corpus in enumerate(corpora):
        cdf = spark.createDataFrame(corpus, ["doc_id", "text"])
        wc = word_counts(cdf)
        words = {r["word"]: r["count"] for r in wc.collect()}
        seq = _reference_bpe(words, 12, min_pair_count=1)
        assert train_bpe(wc, 12, min_pair_count=1) == seq, f"corpus#{i} driver"
        for bs in (2, 3, 8):
            got = _train_distributed(wc, 12, min_pair_count=1, batch_size=bs)
            assert got == seq, f"corpus#{i} batch_size={bs}"


def test_batched_equals_sequential_random(spark):
    """Randomized equivalence sweep: small alphabets maximize count ties
    and symbol collisions — the regimes where an unsafe batch rule would
    diverge from the sequential reference."""
    import random

    rng = random.Random(417)
    for trial in range(6):
        alpha = "ab" if trial % 3 == 0 else "abc"
        words = {}
        for _ in range(rng.randint(4, 12)):
            w = "".join(rng.choice(alpha) for _ in range(rng.randint(1, 6)))
            words[w] = words.get(w, 0) + rng.randint(1, 5)
        wc = spark.createDataFrame(
            list(words.items()), "word string, count long"
        )
        seq = _reference_bpe(words, 15, min_pair_count=1)
        assert (
            train_bpe(wc, 15, min_pair_count=1) == seq
        ), f"trial={trial} driver words={words}"
        for bs in (4, 16):
            got = _train_distributed(wc, 15, min_pair_count=1, batch_size=bs)
            assert got == seq, f"trial={trial} bs={bs} words={words}"


def test_driver_regime_runs_no_per_merge_jobs(spark, docs):
    """The scaling contract (VERDICT r5 item 2): below the vocab limit
    the merge loop runs ONCE on the driver — `_select_safe_batch` (the
    distributed round machinery) is never entered, however many merges
    are requested. Above the limit (forced via DRIVER_VOCAB_LIMIT=0) the
    distributed rounds run, batched, with the identical result."""
    import dbbspark.operators.bpe as bpe_mod

    wc = word_counts(docs)
    calls = {"n": 0}
    orig = bpe_mod._select_safe_batch

    def counting(*a, **kw):
        calls["n"] += 1
        return orig(*a, **kw)

    bpe_mod._select_safe_batch = counting
    try:
        driver_merges = train_bpe(wc, 40)
        assert calls["n"] == 0  # zero distributed rounds in driver regime
        dist_merges = _train_distributed(wc, 40)
        assert calls["n"] > 0
    finally:
        bpe_mod._select_safe_batch = orig
    assert driver_merges == dist_merges
    words = {r["word"]: r["count"] for r in wc.collect()}
    assert driver_merges == _reference_bpe(words, 40)


def test_driver_regime_many_merges_converges(spark):
    """1k-merge-scale schedule in the driver regime: exact vs the
    from-scratch reference on a corpus rich enough to sustain hundreds
    of merges (the 32k-production-vocab path in miniature)."""
    import random

    rng = random.Random(99)
    words = {}
    for _ in range(400):
        w = "".join(rng.choice("abcdefghij") for _ in range(rng.randint(3, 10)))
        words[w] = words.get(w, 0) + rng.randint(1, 50)
    wc = spark.createDataFrame(list(words.items()), "word string, count long")
    got = train_bpe(wc, 1000, min_pair_count=1)
    want = _reference_bpe(words, 1000, min_pair_count=1)
    assert got == want
    assert len(got) > 300  # the schedule really runs deep, not 10 merges


def test_tiebreak_consistent_with_control_chars(spark):
    """Self-review r6: the distributed rounds used to order ties by the
    'a b' space-joined string, which diverges from the reference's (a, b)
    TUPLE order for symbols holding characters below 0x20 (tabs survive
    the space-only word split). All three paths — reference, driver
    regime, distributed — must agree on such corpora."""
    words = {"x\ty": 3, "xz": 3, "x\tq": 2, "xw": 2, "ab": 3}
    wc = spark.createDataFrame(list(words.items()), "word string, count long")
    want = _reference_bpe(words, 8, min_pair_count=1)
    assert train_bpe(wc, 8, min_pair_count=1) == want
    assert _train_distributed(wc, 8, min_pair_count=1) == want
    assert _train_distributed(wc, 8, min_pair_count=1, batch_size=1) == want
