"""Randomized equivalence: every custom operator vs an independent model
(SURVEY.md §5 — the operators whose SQL oracles exercise only one shape
get a second, structurally different check on seeded random data).

- asof_join            vs pandas.merge_asof (backward, inclusive)
- interval_join        vs the naive theta join
- salted_equi_join     vs the plain join
- blocked cosine pairs vs the expression brute force
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta

import pandas as pd
import pytest

from pyspark.sql import Row, functions as F


def _rand_rows(seed: int, n_keys: int = 6, n_left: int = 300, n_right: int = 80):
    rng = random.Random(seed)
    base = datetime(2026, 1, 1)
    left = [
        Row(
            key=rng.randrange(n_keys),
            ts=base + timedelta(minutes=rng.randrange(10_000)),
            lid=i,
        )
        for i in range(n_left)
    ]
    # distinct (key, ts) on the right so ties don't need a rule
    seen = set()
    right = []
    for i in range(n_right * 2):
        k = rng.randrange(n_keys)
        t = base + timedelta(minutes=rng.randrange(10_000))
        if (k, t) in seen:
            continue
        seen.add((k, t))
        right.append(Row(key=k, rts=t, val=float(rng.randrange(1000))))
        if len(right) == n_right:
            break
    return left, right


def test_asof_join_matches_pandas_merge_asof(spark):
    from dbbspark.operators.asof import asof_join

    left, right = _rand_rows(seed=101)
    ldf = spark.createDataFrame(left)
    rdf = spark.createDataFrame(right)
    got = {
        r["lid"]: r["asof_val"]
        for r in asof_join(
            ldf, rdf, on="key", left_ts="ts", right_ts="rts",
            value_col="val", out_col="asof_val",
        ).collect()
    }
    lp = pd.DataFrame([r.asDict() for r in left]).sort_values("ts")
    rp = pd.DataFrame([r.asDict() for r in right]).sort_values("rts")
    want_df = pd.merge_asof(
        lp, rp, left_on="ts", right_on="rts", by="key", direction="backward"
    )
    want = {
        int(r.lid): (None if pd.isna(r.val) else float(r.val))
        for r in want_df.itertuples()
    }
    assert got == want


def test_interval_join_matches_naive_theta(spark):
    from dbbspark.operators.intervals import interval_join

    rng = random.Random(7)
    base = datetime(2026, 1, 1)
    probe = spark.createDataFrame(
        [Row(pid=i, ts=base + timedelta(hours=rng.randrange(2000))) for i in range(400)]
    )
    ivs = spark.createDataFrame(
        [
            Row(
                iv=i,
                start=base + timedelta(hours=(s := rng.randrange(2000))),
                end=base + timedelta(hours=s + rng.randrange(1, 200)),
            )
            for i in range(50)
        ]
    )
    for bucket_days in (1, 3, 30):
        got = {
            (r["pid"], r["iv"])
            for r in interval_join(
                probe, ivs, "ts", "start", "end", bucket_days=bucket_days
            ).collect()
        }
        want = {
            (r["pid"], r["iv"])
            for r in probe.join(
                ivs, (F.col("ts") >= F.col("start")) & (F.col("ts") <= F.col("end"))
            ).collect()
        }
        assert got == want, f"bucket_days={bucket_days}"


def test_interval_count_sweep_matches_join_then_count(spark):
    """interval_count_points (prefix-sum sweep, no pair materialization)
    must agree with interval_join + groupBy count — including intervals
    covering no points (count 0), boundary-coincident timestamps, and
    duplicated timestamps."""
    from dbbspark.operators.intervals import interval_count_points, interval_join

    rng = random.Random(11)
    base = datetime(2026, 1, 1)
    # coarse hours so many points share a timestamp and many boundaries
    # coincide exactly with point timestamps
    probe = spark.createDataFrame(
        [Row(pid=i, ts=base + timedelta(hours=rng.randrange(80))) for i in range(500)]
    )
    ivs = spark.createDataFrame(
        [
            Row(
                iv=i,
                start=base + timedelta(hours=(s := rng.randrange(-10, 90))),
                end=base + timedelta(hours=s + rng.randrange(0, 25)),
            )
            for i in range(60)
        ]
    )
    got = {
        (r["iv"], r["cnt_in_window"])
        for r in interval_count_points(ivs, probe, "ts", "start", "end").collect()
    }
    joined = interval_join(probe, ivs, "ts", "start", "end", bucket_days=1)
    counted = {
        (r["iv"], r["cnt"])
        for r in joined.groupBy("iv").agg(F.count("*").alias("cnt")).collect()
    }
    # sweep emits 0-count intervals; the inner join omits them
    want = counted | {
        (r["iv"], 0)
        for r in ivs.join(
            joined.select("iv").distinct(), "iv", "left_anti"
        ).collect()
    }
    assert got == want


def test_salted_join_matches_plain_join(spark):
    from dbbspark.operators.skew import salted_equi_join

    rng = random.Random(23)
    big = spark.createDataFrame(
        [Row(k=rng.choice(["hot", "hot", "hot", "a", "b"]), v=i) for i in range(500)]
    )
    dim = spark.createDataFrame(
        [Row(k="hot", d=1.0), Row(k="a", d=2.0), Row(k="c", d=3.0)]
    )
    got = sorted(
        (r["k"], r["v"], r["d"])
        for r in salted_equi_join(big, dim, on=["k"], salt=4).collect()
    )
    want = sorted(
        (r["k"], r["v"], r["d"]) for r in big.join(dim, "k").collect()
    )
    assert got == want


def test_connected_components_matches_union_find(spark):
    """The package's union-find reference (union_find_components) and
    both regimes of connected_components_adaptive equal an independent
    union-find on a random graph (self-loops and repeated edges
    included)."""
    from dbbspark.operators import dedup as D

    rng = random.Random(31)
    edges = [
        Row(src=rng.randrange(60), dst=rng.randrange(60)) for _ in range(50)
    ]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for e in edges:
        ra, rb = find(e.src), find(e.dst)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    # canonicalize: component label = min node in component
    comp_min: dict[int, int] = {}
    for n, r in want.items():
        comp_min[r] = min(comp_min.get(r, n), n)
    want = {n: comp_min[r] for n, r in want.items()}
    assert dict(D.union_find_components((e.src, e.dst) for e in edges)) == want

    df = spark.createDataFrame(edges)
    got = {
        r["node"]: r["component"]
        for r in D.connected_components_adaptive(df).collect()
    }
    assert got == want
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(D, "DRIVER_EDGE_THRESHOLD", 0)
        dist = {
            r["node"]: r["component"]
            for r in D.connected_components_adaptive(df).collect()
        }
    assert dist == want


def test_blocked_cosine_matches_bruteforce(spark):
    from dbbspark.operators.similarity import (
        cosine_pairs_above,
        cosine_pairs_above_blocked,
    )

    rng = random.Random(5)
    vecs = spark.createDataFrame(
        [
            Row(vec_id=i, embedding=[rng.uniform(-1, 1) for _ in range(8)])
            for i in range(120)
        ]
    )
    brute = {
        (r["vec_a"], r["vec_b"]) for r in cosine_pairs_above(vecs, 0.5).collect()
    }
    for blocks in (1, 3, 8):
        blocked = {
            (r["vec_a"], r["vec_b"])
            for r in cosine_pairs_above_blocked(vecs, 0.5, num_blocks=blocks).collect()
        }
        assert blocked == brute, f"num_blocks={blocks}"


def test_fits_decoder_roundtrip_random_headers(spark):
    """Property: encode random keyword/value pairs as FITS 80-byte cards
    (string quoting with '' escapes, / comments) → fits_header_decode
    recovers every pair exactly. FITS_ENTRIES_SQL, the Spark SQL form,
    equals fits_header_decode on those headers and on malformed ones:
    unterminated quotes, indented or missing END cards, garbage cards and
    binary tails."""
    import string

    from dbbspark.sources.multimodal import FITS_ENTRIES_SQL, fits_header_decode

    rng = random.Random(20260813)
    alphabet = string.ascii_letters + string.digits + " .'-_+/(),"
    raws = []
    for _ in range(50):
        kv = {}
        cards = b""
        for i in range(rng.randrange(1, 20)):
            key = "".join(
                rng.choice(string.ascii_uppercase) for _ in range(rng.randrange(1, 9))
            )
            if key in kv or key == "END":
                continue
            if rng.random() < 0.5:
                # string value (may contain quotes and slashes)
                val = "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 40)))
                val = val.rstrip()  # FITS strips trailing blanks in strings
                enc = "'" + val.replace("'", "''") + "'"
                card = f"{key:<8}= {enc}"
                if rng.random() < 0.5:
                    card += " / a comment"
            else:
                val = str(rng.randrange(-10**9, 10**9))
                card = f"{key:<8}= {val:>20}"
                if rng.random() < 0.5:
                    card += " / n"
            if len(card) > 80:
                continue
            kv[key] = val
            cards += card.ljust(80).encode("ascii")
        cards += b"END".ljust(80)
        pad = (2880 - len(cards) % 2880) % 2880
        raw = cards + b" " * pad + b"\x01\x02binary payload"
        assert fits_header_decode(raw) == kv
        raws.append(raw)
    for _ in range(60):
        cards = b""
        for _ in range(rng.randrange(0, 12)):
            kind = rng.random()
            key = "".join(rng.choice("ABCab ") for _ in range(rng.randrange(0, 9)))
            if kind < 0.25:  # unterminated string, maybe with '' escapes
                val = "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 60)))
                card = f"{key:<8}= '{val}".encode("ascii")
            elif kind < 0.4:  # END, indented, maybe with trailing text
                card = (" " * rng.randrange(0, 7) + "END" + rng.choice(["", "  x", " / c"])).encode()
            elif kind < 0.7:  # garbage bytes
                card = bytes(rng.randrange(256) for _ in range(80))
            else:
                card = f"{key:<8}= {rng.randrange(99)} / n".encode("ascii")
            cards += card[:80].ljust(80)
        raw = cards + bytes(rng.randrange(256) for _ in range(rng.randrange(0, 100)))
        raws.append(raw)
    docs = spark.createDataFrame(list(enumerate(raws)), "i int, raw binary")
    rows = docs.select("i", F.expr(FITS_ENTRIES_SQL("raw")).alias("kv")).orderBy("i").collect()
    for raw, row in zip(raws, rows):
        want = {k.lower(): v for k, v in fits_header_decode(raw).items()}
        assert {e["key"]: e["value"] for e in row["kv"]} == want, raw


def test_pack_sequences_matches_python_reference(spark):
    """Property: the distributed prefix-sum packing equals the obvious
    sequential Python packing on random token counts."""
    rng = random.Random(99)
    rows = [(i, rng.randrange(1, 300)) for i in range(500)]
    budget = 256

    cum, expected = 0, {}
    for doc_id, n in rows:  # already in id order
        start, cum = cum, cum + n
        expected[doc_id] = (start // budget, (cum - 1) // budget, start % budget)

    from dbbspark.operators.packing import pack_sequences

    df = spark.createDataFrame(rows, "doc_id long, n_tokens bigint")
    got = {
        r["doc_id"]: (r["seq_first"], r["seq_last"], r["seq_offset"])
        for r in pack_sequences(df, "doc_id", "n_tokens", budget, 16).collect()
    }
    assert got == expected


def test_star_cc_matches_label_propagation(spark):
    """large-star/small-star CC must compute the same components as the
    union-find reference on random graphs (self-loops and singleton
    groups included)."""
    from dbbspark.operators.dedup import (
        connected_components_star,
        union_find_components,
    )

    rng = random.Random(47)
    edges = [Row(src=rng.randrange(60), dst=rng.randrange(60)) for _ in range(50)]
    df = spark.createDataFrame(edges)
    want = dict(union_find_components((e.src, e.dst) for e in edges))
    got = {r["node"]: r["component"] for r in connected_components_star(df).collect()}
    assert got == want


# A node whose only edge is a self-loop (1) and a NULL-ended edge's
# non-null end (7) are their own components; NULL gets no row.
SELF_LOOP_NULL_EDGES = [(1, 1), (2, 3), (7, None)]
SELF_LOOP_NULL_WANT = {1: 1, 2: 2, 3: 2, 7: 7}


def test_adaptive_cc_matches_both_paths(spark):
    """connected_components_adaptive: the driver union-find path and
    the forced-distributed path (DRIVER_EDGE_THRESHOLD patched to 0)
    must both equal the union-find reference on random graphs —
    self-loops, singletons, and multi-component shapes included — and
    on the explicit self-loop-only / NULL-ended edge list, where the
    star formulation agrees too."""
    from dbbspark.operators import dedup as D

    def both_paths(df):
        fast = {
            r["node"]: r["component"]
            for r in D.connected_components_adaptive(df).collect()
        }
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(D, "DRIVER_EDGE_THRESHOLD", 0)
            distributed = {
                r["node"]: r["component"]
                for r in D.connected_components_adaptive(df).collect()
            }
        return fast, distributed

    for seed in (21, 22):
        rng = random.Random(seed)
        edges = [
            Row(src=rng.randrange(80), dst=rng.randrange(80)) for _ in range(60)
        ]
        want = dict(D.union_find_components((e.src, e.dst) for e in edges))
        fast, distributed = both_paths(spark.createDataFrame(edges))
        assert fast == want, seed
        assert distributed == want, seed

    df = spark.createDataFrame(SELF_LOOP_NULL_EDGES, "src long, dst long")
    fast, distributed = both_paths(df)
    assert fast == SELF_LOOP_NULL_WANT
    assert distributed == SELF_LOOP_NULL_WANT
    star = [
        (r["node"], r["component"])
        for r in D.connected_components_star(df).collect()
    ]
    assert sorted(star) == sorted(SELF_LOOP_NULL_WANT.items())


def _jaccard_reference(docs, threshold, max_df, n=3):
    """Capped n-gram Jaccard pairs from Python shingle sets over the
    operator's tokenization (split on single spaces; docs shorter than
    n have no shingles): intersections count shingles with
    2 <= df <= max_df, denominators are full set sizes."""
    from collections import Counter

    sets = {}
    for doc, text in docs:
        toks = text.split(" ")
        if len(toks) >= n:
            sets[doc] = {tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    df = Counter(s for sh in sets.values() for s in sh)
    kept = {s for s, c in df.items() if c >= 2 and (max_df is None or c <= max_df)}
    out = set()
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b] & kept)
            if inter and inter / (len(sets[a]) + len(sets[b]) - inter) >= threshold:
                out.add((a, b))
    return out


def test_jaccard_pairs_match_python_shingle_sets(spark):
    """`jaccard_pairs` computes the capped Jaccard relation exactly, on
    randomized corpora with planted near-dups, template reuse (hot
    shingles), short docs, and docs with no rare shingles."""
    from dbbspark.operators.dedup import jaccard_pairs

    for seed in (11, 12, 13):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(60)]
        template = "the quick brown fox jumps over"  # shared boilerplate
        docs = []
        for i in range(80):
            words = [rng.choice(vocab) for _ in range(rng.randrange(1, 25))]
            if rng.random() < 0.4:
                words = template.split() + words
            docs.append((i, " ".join(words)))
            if rng.random() < 0.3:  # planted near-dup: mutate one word
                mut = list(words)
                if mut:
                    mut[rng.randrange(len(mut))] = rng.choice(vocab)
                docs.append((1000 + i, " ".join(mut)))
        df = spark.createDataFrame(docs, "doc_id long, text string")
        for threshold, max_df in ((0.5, None), (0.5, 10), (0.3, 5), (0.8, None)):
            got = {
                (r["doc_a"], r["doc_b"])
                for r in jaccard_pairs(
                    df, "doc_id", "text", threshold=threshold, max_df=max_df
                ).collect()
            }
            want = _jaccard_reference(docs, threshold, max_df)
            assert want, f"seed={seed}: the corpus must plant some pairs"
            assert got == want, f"seed={seed} t={threshold} max_df={max_df}"


def test_star_cc_handles_long_chains(spark):
    """The reason the variant exists: a 300-node path has diameter 299 —
    per-round label propagation needs ~300 rounds, large-star/small-star
    collapses it in O(log^2) rounds within the default max_iter."""
    from dbbspark.operators.dedup import connected_components_star

    chain = spark.createDataFrame(
        [Row(src=i, dst=i + 1) for i in range(299)]
    )
    got = {r["node"]: r["component"] for r in connected_components_star(chain).collect()}
    assert len(got) == 300
    assert set(got.values()) == {0}, "all chain nodes must join component 0"


def test_line_dedup_random_corpora_match_counter_model(spark):
    """dedup_lines vs an independent Counter model on seeded random
    corpora with heavy line sharing (small line alphabet)."""
    import re
    from collections import Counter

    from dbbspark.operators.lines import dedup_lines

    def norm(line):
        return re.sub(r"\s+", " ", re.sub(r"\d+", "", line.lower())).strip()

    for seed in (1, 7, 42):
        rng = random.Random(seed)
        alphabet = [
            f"line variant {i} {'x' * rng.randrange(3)}" for i in range(12)
        ] + ["", "   "]
        docs = [
            (
                d,
                "\n".join(
                    rng.choice(alphabet) for _ in range(rng.randrange(1, 8))
                ),
            )
            for d in range(40)
        ]
        for min_df, keep_first in ((2, False), (3, False), (2, True)):
            counts = Counter()
            mentions = []
            for doc, text in docs:
                for ln, line in enumerate(text.split("\n")):
                    n = norm(line)
                    mentions.append((doc, ln, line, n))
                    if n:
                        counts[n] += 1
            seen = set()
            expected = {d: [] for d, _ in docs}
            for doc, ln, line, n in sorted(mentions):
                if not n or counts[n] < min_df:
                    expected[doc].append((ln, line))
                elif keep_first and n not in seen:
                    seen.add(n)
                    expected[doc].append((ln, line))
            exp = {
                d: "\n".join(l for _, l in sorted(ls))
                for d, ls in expected.items()
            }
            df = spark.createDataFrame(docs, "doc_id long, text string")
            got = {
                r["doc_id"]: r["text"]
                for r in dedup_lines(
                    df, "doc_id", "text", min_df=min_df, keep_first=keep_first
                ).collect()
            }
            assert got == exp, (seed, min_df, keep_first)


def test_chunking_random_shapes_match_model(spark):
    """chunk_documents vs the sliding-window model across random doc
    lengths and (max_tokens, overlap) shapes, including the boundary
    where the last chunk is pure overlap."""
    import math as m

    from dbbspark.operators.packing import chunk_documents

    rng = random.Random(5)
    docs = [
        (i, " ".join(f"w{i}_{j}" for j in range(rng.randrange(1, 60))))
        for i in range(30)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for max_tokens, overlap in ((8, 0), (8, 3), (8, 7), (64, 16)):
        out = chunk_documents(df, max_tokens=max_tokens, overlap=overlap)
        got = {}
        for r in out.collect():
            got.setdefault(r["doc_id"], {})[r["chunk_id"]] = r["text"]
        stride = max_tokens - overlap
        for doc_id, text in docs:
            toks = text.split(" ")
            if len(toks) <= max_tokens:
                expected = [" ".join(toks)]
            else:
                n_chunks = 1 + m.ceil((len(toks) - max_tokens) / stride)
                expected = [
                    " ".join(toks[k * stride : k * stride + max_tokens])
                    for k in range(n_chunks)
                ]
            chunks = [got[doc_id][k] for k in range(len(got[doc_id]))]
            assert chunks == expected, (doc_id, max_tokens, overlap)


def test_jaccard_lsh_verified_subset_with_high_recall(spark):
    """The LSH-verified formulation must emit ONLY true pairs (exact
    verification — zero false positives vs the plain formulation) and,
    at its default banding, recover nearly all of them on a planted
    near-dup corpus (recall is the documented tradeoff, not precision)."""
    from dbbspark.operators.dedup import jaccard_pairs, jaccard_pairs_lsh

    rng = random.Random(41)
    vocab = [f"w{i}" for i in range(80)]
    docs = []
    for i in range(120):
        words = [rng.choice(vocab) for _ in range(rng.randrange(8, 25))]
        docs.append((i, " ".join(words)))
        if rng.random() < 0.5:  # planted near-dup: mutate one word
            mut = list(words)
            mut[rng.randrange(len(mut))] = rng.choice(vocab)
            docs.append((1000 + i, " ".join(mut)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    plain = {
        (r["doc_a"], r["doc_b"])
        for r in jaccard_pairs(df, "doc_id", "text", threshold=0.5).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in jaccard_pairs_lsh(df, "doc_id", "text", threshold=0.5).collect()
    }
    assert lsh <= plain  # exact verify: no false positives, ever
    assert plain  # the corpus actually planted pairs
    assert len(lsh) / len(plain) >= 0.85  # default-banding recall floor


def test_asof_join_null_keys_match_nothing(spark):
    """An unknown key equals nothing (join semantics; pandas merge_asof
    drops NaN by-groups the same way): null-key left rows come back with
    a NULL as-of value rather than silently pairing with null-key right
    rows — and neither side's null-key rows pile onto one key partition."""
    from dbbspark.operators.asof import asof_join

    ldf = spark.createDataFrame(
        [(1, "k", 10.0), (2, None, 10.0), (3, None, 20.0)],
        "lid long, key string, ts double",
    )
    rdf = spark.createDataFrame(
        [("k", 5.0, 100.0), (None, 5.0, 999.0)],
        "key string, rts double, val double",
    )
    got = {
        r["lid"]: r["asof_val"]
        for r in asof_join(
            ldf, rdf, on="key", left_ts="ts", right_ts="rts",
            value_col="val", out_col="asof_val",
        ).collect()
    }
    assert got == {1: 100.0, 2: None, 3: None}


def test_interval_count_null_boundaries_count_zero_like_the_join(spark):
    """A null start/end makes interval_join's BETWEEN predicate UNKNOWN
    (no matches); the sweep must agree with count 0 instead of reading a
    missing F lookup as an unbounded interval."""
    from dbbspark.operators.intervals import interval_count_points

    base = datetime(2026, 1, 1)
    probe = spark.createDataFrame(
        [Row(pid=i, ts=base + timedelta(hours=i)) for i in range(10)]
    )
    ivs = spark.createDataFrame(
        [
            Row(iv=0, start=base, end=base + timedelta(hours=5)),
            Row(iv=1, start=None, end=base + timedelta(hours=5)),
            Row(iv=2, start=base, end=None),
        ]
    )
    got = {
        r["iv"]: r["cnt_in_window"]
        for r in interval_count_points(ivs, probe, "ts", "start", "end").collect()
    }
    assert got == {0: 6, 1: 0, 2: 0}
