"""Property-based tests (hypothesis) for operators with crisp algebraic
contracts. Examples are kept small and few (each one builds a real
DataFrame and runs Spark jobs); the point is randomized coverage of the
EDGE shapes — empty words, repeated characters, overlap==max-1 — that
hand-written cases miss."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from dbbspark.operators.bpe import END_WORD, apply_bpe, train_bpe, word_counts
from dbbspark.operators.packing import chunk_documents

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

words_st = st.lists(
    st.text(alphabet="abcdef", min_size=1, max_size=6),
    min_size=1,
    max_size=12,
)


@given(docs=st.lists(words_st, min_size=1, max_size=5))
@settings(**SETTINGS)
def test_bpe_trainer_matches_reference_on_random_corpora(spark, docs):
    from tests.test_bpe import _reference_bpe

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    wc_df = word_counts(df)
    words = {r["word"]: r["count"] for r in wc_df.collect()}
    assert train_bpe(wc_df, 6) == _reference_bpe(words, 6)


@given(docs=st.lists(words_st, min_size=1, max_size=4))
@settings(**SETTINGS)
def test_bpe_encode_lossless_on_random_corpora(spark, docs):
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    merges = train_bpe(word_counts(df), 5)
    for r in apply_bpe(df, merges).collect():
        rebuilt = "".join(r["bpe_tokens"]).replace(END_WORD, " ").strip()
        assert rebuilt == r["text"]


@given(
    n_tokens=st.integers(min_value=0, max_value=40),
    max_tokens=st.integers(min_value=1, max_value=12),
    data=st.data(),
)
@settings(**SETTINGS)
def test_chunking_covers_every_token_with_exact_overlap(
    spark, n_tokens, max_tokens, data
):
    """Every input token appears in some chunk; consecutive chunks share
    exactly `overlap` tokens; concatenating chunks with the overlap
    dropped rebuilds the document."""
    overlap = data.draw(st.integers(min_value=0, max_value=max_tokens - 1))
    toks = [f"t{i}" for i in range(n_tokens)]
    df = spark.createDataFrame([(1, " ".join(toks))], ["doc_id", "text"])
    chunks = [
        r["text"].split(" ") if r["text"] else [""]
        for r in chunk_documents(
            df, max_tokens=max_tokens, overlap=overlap
        ).orderBy("chunk_id").collect()
    ]
    stride = max_tokens - overlap
    rebuilt = list(chunks[0])
    for c in chunks[1:]:
        assert c[:overlap] == rebuilt[len(rebuilt) - overlap :][: len(c)]
        rebuilt.extend(c[overlap:])
    expected = toks if toks else [""]
    assert rebuilt == expected
    for c in chunks:
        assert len(c) <= max_tokens


def test_dsir_pinned_cut_replays_exact_selection(spark):
    """dsir_sample with an explicit cut must return the identical id set
    across different partitionings (the production replay contract)."""
    from dbbspark.operators.lm import dsir_sample

    rows = [(i, float((-1) ** i) * (i % 7)) for i in range(200)]
    w = spark.createDataFrame(rows, ["doc", "log_ratio"])
    a = {
        r["doc"]
        for r in dsir_sample(w.repartition(13), 0.3, cut=1.5).collect()
    }
    b = {
        r["doc"] for r in dsir_sample(w.coalesce(1), 0.3, cut=1.5).collect()
    }
    assert a == b and 0 < len(a) < 200


url_st = st.builds(
    lambda scheme, host, port, path, params, frag: (
        scheme
        + host
        + port
        + "/".join(path)
        + ("?" + "&".join(params) if params else "")
        + frag
    ),
    scheme=st.sampled_from(["http://", "https://", "HTTP://", "HTTPS://"]),
    host=st.builds(
        lambda a, b: f"{a}.{b}.com", st.text("abcXYZ", min_size=1, max_size=5),
        st.text("abcXYZ", min_size=1, max_size=5),
    ),
    port=st.sampled_from(["", ":80", ":443", ":8080"]),
    path=st.lists(st.text("abAB12", min_size=0, max_size=4), max_size=4),
    params=st.lists(
        st.sampled_from(
            ["id=7", "q=x", "utm_source=a", "fbclid=zz", "utm_id=9", "p="]
        ),
        max_size=4,
    ),
    frag=st.sampled_from(["", "#frag", "#a#b"]),
)


@given(urls=st.lists(url_st, min_size=1, max_size=6))
@settings(**SETTINGS)
def test_url_canonicalization_is_idempotent(spark, urls):
    """canon(canon(u)) == canon(u): the regexp chain must be a
    projection onto its own image — a second pass finds nothing left to
    rewrite, whatever combination of tracking params, ports, fragments,
    and slash runs the input carries."""
    from dbbspark.operators.urls import canonicalize_url

    df = spark.createDataFrame([(u,) for u in urls], "u string")
    rows = df.select(
        canonicalize_url(F.col("u")).alias("once")
    ).select(
        "once", canonicalize_url(F.col("once")).alias("twice")
    ).collect()
    for r in rows:
        assert r["once"] == r["twice"], r


@given(
    keys=st.lists(st.integers(0, 10**9), min_size=1, max_size=40, unique=True),
    others=st.lists(st.integers(0, 10**9), min_size=1, max_size=40),
)
@settings(**SETTINGS)
def test_bloom_never_false_negative_on_random_keys(spark, keys, others):
    """Membership must hold for EVERY inserted key whatever the key
    distribution — the property the gates' correctness rides on (false
    positives are allowed; false negatives would drop duplicates)."""
    from dbbspark.operators.bloom import build_bloom, might_contain

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    table = build_bloom(df, "k", num_bits=1 << 12)
    tagged = might_contain(df, table, "k")
    assert tagged.where(~F.col("maybe_known")).count() == 0


text_st = st.text(alphabet="abcdwxyz ", min_size=0, max_size=60)


@given(
    a=text_st,
    b=text_st,
    shared=st.text(alphabet="abcdwxyz ", min_size=11, max_size=20),
)
@settings(**SETTINGS)
def test_winnow_shared_substring_guarantee_property(spark, a, b, shared):
    """Schleimer et al. §3: any shared substring of length >= w + k - 1
    (here 8 + 4 - 1 = 11) forces at least one shared fingerprint,
    WHEREVER it sits inside the two documents."""
    from dbbspark.operators.winnow import winnow_fingerprints

    df = spark.createDataFrame(
        [(1, a + shared + b), (2, b + shared + a)], "doc_id long, text string"
    )
    fps = {
        r["doc_id"]: set(r["fingerprints"])
        for r in winnow_fingerprints(df, k=8, w=4).collect()
    }
    assert fps[1] & fps[2]


@given(t=text_st)
@settings(**SETTINGS)
def test_winnow_fingerprints_subset_of_gram_hashes(spark, t):
    """Every fingerprint is one of the document's own k-gram hashes, and
    a non-empty gram array always yields >= 1 fingerprint (short docs
    fall back to the global min)."""
    from dbbspark.operators.winnow import gram_hashes_expr, winnow_fingerprints

    df = spark.createDataFrame([(1, t)], "doc_id long, text string")
    [row] = (
        winnow_fingerprints(df, k=4, w=3)
        .join(df.select("doc_id", F.expr(gram_hashes_expr("text", 4)).alias("g")), "doc_id")
        .collect()
    )
    grams, fps = set(row["g"]), set(row["fingerprints"])
    assert fps <= grams
    assert (len(fps) >= 1) == (len(grams) >= 1)


@given(
    keys_a=st.lists(st.text(alphabet="ab", min_size=0, max_size=5), min_size=1, max_size=8),
    keys_b=st.lists(st.text(alphabet="ab", min_size=0, max_size=5), min_size=1, max_size=8),
)
@settings(**SETTINGS)
def test_fuzzy_d1_equals_brute_force_property(spark, keys_a, keys_b):
    """FastSS deletion-neighborhood route ≡ the cross-join formulation
    for edit distance <= 1, over a tiny alphabet (maximizes collisions,
    repeats, and empty strings — the shapes that break blocking)."""
    from dbbspark.operators.fuzzy import fuzzy_join

    def lev1(x, y):
        if x == y:
            return 0
        if abs(len(x) - len(y)) > 1:
            return 9
        # distance-1 check: substitution or single indel
        if len(x) == len(y):
            return 1 if sum(c != d for c, d in zip(x, y)) == 1 else 9
        lo, hi = (x, y) if len(x) < len(y) else (y, x)
        for i in range(len(hi)):
            if hi[:i] + hi[i + 1:] == lo:
                return 1
        return 9

    a = spark.createDataFrame(
        [(i, k if k else None) for i, k in enumerate(keys_a)],
        "id_a long, key string",
    )
    b = spark.createDataFrame(
        [(100 + i, k if k else None) for i, k in enumerate(keys_b)],
        "id_b long, key string",
    )
    got = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in fuzzy_join(a, b, "key", max_distance=1).collect()
    }
    want = {
        (ia, 100 + ib, lev1(ka, kb))
        for ia, ka in enumerate(keys_a)
        for ib, kb in enumerate(keys_b)
        if ka and kb and lev1(ka, kb) <= 1
    }
    assert got == want


@given(
    factors=st.dictionaries(
        st.sampled_from(["s0", "s1", "s2"]),
        st.floats(min_value=0.0, max_value=3.0, allow_nan=False),
        min_size=1,
        max_size=3,
    ),
    seed=st.integers(min_value=0, max_value=3),
)
@settings(**SETTINGS)
def test_epoch_repeats_count_bounds_property(spark, factors, seed):
    """For any repeat map: per-source counts land in
    [n*floor(r), n*ceil(r)], integer copies are exact, and the result
    is partition-invariant."""
    import math

    from dbbspark.operators.mixing import epoch_repeats

    rows = [(i, f"s{i % 3}") for i in range(30)]
    d = spark.createDataFrame(rows, "doc_id long, source string")
    out = epoch_repeats(d, factors, epoch_seed=seed)
    by = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    per_source = 10
    for s_name, r in factors.items():
        n = by.get(s_name, 0)
        assert per_source * math.floor(r) <= n <= per_source * math.ceil(r)
    assert set(by) <= set(factors)
    again = epoch_repeats(d.repartition(7), factors, epoch_seed=seed)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


@given(
    files=st.lists(
        st.tuples(
            st.binary(min_size=0, max_size=8),  # content
            st.booleans(),  # stored checksum corrupted (bit rot)
            st.booleans(),  # stored size drifted
            st.booleans(),  # present in registry
            st.booleans(),  # registry checksum drifted
        ),
        min_size=0,
        max_size=8,
    ),
    n_ghosts=st.integers(min_value=0, max_value=2),
)
@settings(**SETTINGS)
def test_verify_archive_frames_matches_reference_on_random_faults(
    spark, files, n_ghosts
):
    """C54 frames core ≡ a pure-Python re-derivation on random planted
    faults: every finding kind, empty archive/registry, and the
    stored-vs-actual subtlety (registry_md5_mismatch compares the
    registry against the STORED archive checksum, not the recomputed
    one) — each (filename, finding, expected, actual) multiset must
    match exactly."""
    import hashlib

    from dbbspark.maintenance import verify_archive_frames

    def h(b: bytes) -> str:
        return hashlib.md5(b).hexdigest()

    arch_rows, reg_rows, want = [], [], []
    for i, (content, rot, sdrift, in_reg, rdrift) in enumerate(files):
        name = f"f{i}"
        actual = h(content)
        stored = h(content + b"X") if rot else actual
        size = len(content) + (1 if sdrift else 0)
        arch_rows.append((name, stored, size, bytearray(content)))
        if rot:
            want.append((name, "content_md5_mismatch", stored, actual))
        if sdrift:
            want.append((name, "size_mismatch", str(size), str(len(content))))
        if in_reg:
            reg_md5 = h(b"drift" + content) if rdrift else stored
            reg_rows.append((name, reg_md5))
            if reg_md5 != stored:
                want.append((name, "registry_md5_mismatch", reg_md5, stored))
        else:
            want.append((name, "missing_in_registry", None, stored))
    for g in range(n_ghosts):
        gname, gmd5 = f"ghost{g}", h(b"ghost%d" % g)
        reg_rows.append((gname, gmd5))
        want.append((gname, "missing_in_archive", gmd5, None))

    arch = spark.createDataFrame(
        arch_rows, "filename string, md5sum string, filesize long, content binary"
    )
    reg = spark.createDataFrame(reg_rows, "filename string, md5sum string")
    got = [
        (r["filename"], r["finding"], r["expected"], r["actual"])
        for r in verify_archive_frames(arch, reg).collect()
    ]
    key = lambda t: tuple("" if v is None else v for v in t)  # noqa: E731
    assert sorted(got, key=key) == sorted(want, key=key)


@given(
    tokens=st.lists(
        st.integers(min_value=1, max_value=50), min_size=1, max_size=30
    ),
    num_buckets=st.integers(min_value=1, max_value=40),
    budget=st.integers(min_value=1, max_value=64),
)
@settings(**SETTINGS)
def test_pack_sequences_matches_reference_any_bucketing(
    spark, tokens, num_buckets, budget
):
    """Bucketing invisibility, randomized: pack_sequences must equal the
    sequential reference for ANY num_buckets — including 1, more buckets
    than rows (empty range partitions), and sparse non-contiguous ids —
    because prefix sums are associative and the bucket count is pure
    parallelism."""
    from dbbspark.operators.packing import pack_sequences

    rows = [(i * 7 + 3, n) for i, n in enumerate(tokens)]  # sparse ids
    cum, expected = 0, {}
    for doc_id, n in rows:  # ascending id order
        start, cum = cum, cum + n
        expected[doc_id] = (start // budget, (cum - 1) // budget, start % budget)
    df = spark.createDataFrame(rows, "doc_id long, n_tokens bigint")
    got = {
        r["doc_id"]: (r["seq_first"], r["seq_last"], r["seq_offset"])
        for r in pack_sequences(
            df, "doc_id", "n_tokens", budget, num_buckets
        ).collect()
    }
    assert got == expected


# Hash strategy biased toward COLLIDING shapes: small ints (dense low
# bits), their complements (sign-bit territory), and a few wild 64-bit
# values — random uniform 64-bit hashes almost never land within d of
# each other, which would test nothing.
_hash_st = st.one_of(
    st.integers(min_value=0, max_value=15),
    st.integers(min_value=-16, max_value=-1),
    st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1),
)


@given(
    hs=st.lists(_hash_st, min_size=1, max_size=12),
    d=st.integers(min_value=0, max_value=6),
)
@settings(**SETTINGS)
def test_hamming_ball_stats_matches_brute_on_random_hashes(spark, hs, d):
    """For ANY hash multiset (duplicates likely by construction) and any
    max_distance, hamming_ball_stats' n_near must equal the brute count
    of other rows within the ball, and n_group must sum the true
    connected component — in BOTH regimes."""
    import dbbspark.operators.phash as phash_mod
    from dbbspark.operators.phash import hamming_ball_stats

    rows = [(i, h) for i, h in enumerate(hs)]
    df = spark.createDataFrame(rows, "id long, phash long")

    def dist(a, b):
        return ((a ^ b) & 0xFFFFFFFFFFFFFFFF).bit_count()

    brute = {
        i: sum(1 for j, g in rows if j != i and dist(h, g) <= d)
        for i, h in rows
    }
    # ground-truth components by repeated expansion over the ball graph
    comp = {i: i for i, _ in rows}
    changed = True
    while changed:
        changed = False
        for i, h in rows:
            for j, g in rows:
                if dist(h, g) <= d and comp[j] < comp[i]:
                    comp[i] = comp[j]
                    changed = True
    gsize: dict[int, int] = {}
    for i in comp:
        gsize[comp[i]] = gsize.get(comp[i], 0) + 1
    expect = {i: (comp[i], brute[i], gsize[comp[i]]) for i, _ in rows}
    for thr in (2_000_000, 0):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(phash_mod, "DRIVER_REP_THRESHOLD", thr)
            got = {
                r["id"]: (r["group"], r["n_near"], r["n_group"])
                for r in hamming_ball_stats(
                    df, "id", "phash", max_distance=d
                ).collect()
            }
        assert got == expect


@given(
    new_hs=st.lists(_hash_st, min_size=1, max_size=8),
    corpus_hs=st.lists(_hash_st, min_size=0, max_size=8),
    d=st.integers(min_value=0, max_value=6),
)
@settings(**SETTINGS)
def test_hamming_incremental_equals_full_on_random_hashes(spark, new_hs, corpus_hs, d):
    """hamming_incremental_pairs ≡ hamming_pairs over new ∪ corpus
    restricted to pairs touching a new id, each pair exactly once —
    for any hash multisets and any max_distance (incl. an empty
    corpus, the gate's first batch)."""
    from dbbspark.operators.phash import hamming_incremental_pairs, hamming_pairs

    new_rows = [(i, h) for i, h in enumerate(new_hs)]
    corpus_rows = [(100 + i, h) for i, h in enumerate(corpus_hs)]
    new = spark.createDataFrame(new_rows, "id long, h long")
    corpus = spark.createDataFrame(corpus_rows, "id long, h long")
    got = hamming_incremental_pairs(new, corpus, "id", "h", max_distance=d).collect()
    keys = [(r["id_a"], r["id_b"], r["against"]) for r in got]
    assert len(keys) == len(set(keys))
    full = hamming_pairs(
        new.unionByName(corpus), "id", "h", max_distance=d
    ).collect()
    new_ids = {i for i, _ in new_rows}
    expect = set()
    for r in full:
        a, b = r["id_a"], r["id_b"]
        if a in new_ids and b in new_ids:
            expect.add((a, b, "new"))
        elif a in new_ids or b in new_ids:
            n, c = (a, b) if a in new_ids else (b, a)
            expect.add((n, c, "corpus"))
    assert set(keys) == expect


@given(
    clips=st.lists(
        st.lists(
            st.tuples(_hash_st, st.booleans()),  # (fhash, degenerate?)
            min_size=1,
            max_size=4,
        ),
        min_size=2,
        max_size=4,
    ),
    d=st.integers(min_value=0, max_value=6),
    policy=st.booleans(),
)
@settings(**SETTINGS)
def test_score_clip_pairs_matches_brute_on_random_frames(spark, clips, d, policy):
    """For ANY per-clip frame-hash multiset (identical hashes likely by
    construction) and any max_distance, the rep-routed score_clip_pairs
    must reproduce the brute frame-instance semantics exactly — matched
    fractions, instance pair counts, min distance — with and without
    the degenerate-frame policy (flagged frames out of pairing AND
    denominators)."""
    from dbbspark.operators.video import score_clip_pairs

    rows = []
    for ci, frames in enumerate(clips):
        for fi, (h, degen) in enumerate(frames):
            rows.append((f"c{ci}", len(frames), fi, h, 0.0 if degen else 100.0))
    df = spark.createDataFrame(
        rows, "path string, n_sampled int, fidx int, fhash long, fvar double"
    )
    thr = 25.0 if policy else None

    def dist(a, b):
        return ((a ^ b) & 0xFFFFFFFFFFFFFFFF).bit_count()

    live = {}
    for cid, _n, fi, h, fv in rows:
        if thr is None or fv >= thr:
            live.setdefault(cid, []).append((fi, h))
    expect = {}
    cids = sorted(live)
    for i, a in enumerate(cids):
        for b in cids[i + 1 :]:
            fa, fb = live[a], live[b]
            m_a = sum(1 for _, h in fa if any(dist(h, g) <= d for _, g in fb))
            m_b = sum(1 for _, g in fb if any(dist(h, g) <= d for h in [x for _, x in fa]))
            npairs = sum(
                1 for _, h in fa for _, g in fb if dist(h, g) <= d
            )
            if npairs == 0:
                continue
            mind = min(dist(h, g) for _, h in fa for _, g in fb)
            expect[(a, b)] = (
                m_a / len(fa), m_b / len(fb), npairs, mind,
            )
    got = {
        (r["id_a"], r["id_b"]): (
            r["frac_a"], r["frac_b"], r["n_frame_pairs"], r["min_distance"],
        )
        for r in score_clip_pairs(
            df, max_distance=d, min_frac=1e-9, min_thumb_variance=thr
        ).collect()
    }
    assert got == expect


@given(
    arrs=st.lists(
        st.lists(st.text(alphabet="abc", min_size=0, max_size=4),
                 min_size=0, max_size=10),
        min_size=1, max_size=6,
    )
)
@settings(**SETTINGS)
def test_char_weighted_fractions_match_python_reference(spark, arrs):
    """r10 char-weighted repetition scans (functions.dup_char_fraction /
    top_run_char_fraction over sorted arrays) must agree with the
    direct count-based Python definitions on random element lists —
    duplicate-occurrence chars over total chars, and max count×len over
    total chars."""
    from collections import Counter

    from dbbspark.functions import dup_char_fraction, top_run_char_fraction

    df = spark.createDataFrame(
        [(i, a) for i, a in enumerate(arrs)], "i int, arr array<string>"
    ).select(
        "i",
        dup_char_fraction(F.array_sort(F.col("arr"))).alias("dupf"),
        top_run_char_fraction(F.array_sort(F.col("arr"))).alias("topf"),
    )
    got = {r["i"]: (r["dupf"], r["topf"]) for r in df.collect()}
    for i, a in enumerate(arrs):
        tot = sum(len(x) for x in a)
        counts = Counter(a)
        dup_ref = (
            round(sum((c - 1) * len(x) for x, c in counts.items()) / tot, 4)
            if tot else 0.0
        )
        top_ref = (
            round(max(c * len(x) for x, c in counts.items()) / tot, 4)
            if tot else 0.0
        )
        assert got[i] == (dup_ref, top_ref), (a, got[i], dup_ref, top_ref)
