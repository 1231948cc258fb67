"""Dup-heavy scale check: the README's "10× sf0.1" numbers, repeatable.

Builds a corpus of `--copies` near-duplicate replicas of the sf0.1
`documents` table (each copy appends one distinguishing token — the
worst case for pair generation: every doc has copies-1 mutual near-dups)
and times the operators whose cost is pair-driven. This is the harness
that caught two AQE mis-plans the fixture scale never shows:

- the Jaccard pair self-join broadcast of the full mention stream
  (fixed: pinned shuffle_merge, operators/dedup.py);
- the span detector's df join-back broadcast of the distinct-n-gram
  relation (fixed: count window, operators/spans.py).

Run: python bench_scale.py [--copies 10] [--sf-dir /root/testdata/sf0.1]
Prints one JSON line per operator: {"op": ..., "sec": ..., "rows": ...}.
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import functions as F

from dbbspark.session import get_spark
from dbbspark.tables import load_table
from dbbspark.operators import dedup as D
from dbbspark.operators.lines import dedup_lines
from dbbspark.operators.normalize import normalize_docs
from dbbspark.operators.packing import global_shuffle, pack_sequences
from dbbspark.operators.spans import duplicate_ngram_spans

_MODEL = None


def _classifier_score(big):
    """Train once on a 1k-doc bootstrap (positives vs token-sorted
    negatives), then score the full corpus — the scoring map is what
    scales, so that's what the timing isolates after first call."""
    global _MODEL
    from dbbspark.operators.classify import score_quality, train_quality_classifier

    if _MODEL is None:
        pos = big.orderBy("doc_id").limit(1000).select("text")
        neg = pos.select(
            F.concat_ws(" ", F.array_sort(F.split("text", " "))).alias("text")
        )
        labeled = pos.withColumn("label", F.lit(1.0)).unionByName(
            neg.withColumn("label", F.lit(0.0))
        )
        _MODEL = train_quality_classifier(labeled, num_features=1 << 16)
    return score_quality(big, _MODEL)


_LMS = None


def _dsir(big):
    """Target LM from a 1k-doc slice, source LM from a 5k slice; weight
    the full corpus. Models are trained once (broadcastable counts); the
    timed part after first call is the two-join scoring pass."""
    global _LMS
    from dbbspark.operators.lm import dsir_weights, train_ngram_lm

    if _LMS is None:
        t = train_ngram_lm(big.orderBy("doc_id").limit(1000), n=2)
        s = train_ngram_lm(big.orderBy(F.col("doc_id").desc()).limit(5000), n=2)
        t = t._replace(
            ngram_counts=t.ngram_counts.localCheckpoint(eager=True),
            context_counts=t.context_counts.localCheckpoint(eager=True),
        )
        s = s._replace(
            ngram_counts=s.ngram_counts.localCheckpoint(eager=True),
            context_counts=s.context_counts.localCheckpoint(eager=True),
        )
        _LMS = (t, s)
    t, s = _LMS
    return dsir_weights(big, t, s, broadcast_model=True)


_CHAINS = None


def _chain_edges(spark):
    """2000 disjoint 33-node paths: (c*1000+i, c*1000+i+1), i<32."""
    global _CHAINS
    if _CHAINS is None:
        from pyspark.sql import functions as FF

        n = spark.range(2000 * 33).select(
            ((FF.col("id") / 33).cast("long") * 1000 + FF.col("id") % 33).alias("a"),
            (FF.col("id") % 33).alias("i"),
        )
        _CHAINS = (
            n.where(FF.col("i") < 32)
            .select("a", (FF.col("a") + 1).alias("b"))
            .repartition(32)
            .localCheckpoint(eager=True)
        )
    return _CHAINS


def _bpe_tokens(big):
    """Train 50 merges on the corpus word counts, then tokenize the
    corpus — the full tokenizer-fitting stage (train is K vocab-sized
    aggregations on the distributed rounds; apply is the Arrow-batched
    encode)."""
    from unittest import mock

    from dbbspark.operators import bpe as bpe_mod
    from dbbspark.operators.bpe import apply_bpe, train_bpe, word_counts

    wc = word_counts(big).localCheckpoint(eager=True)
    # the vocab fits the driver bound; patch it to time the rounds
    with mock.patch.object(bpe_mod, "DRIVER_VOCAB_LIMIT", 0):
        merges = train_bpe(wc, 50)
    return apply_bpe(big, merges)


def _curate_chain(big):
    """The COMPOSED curation pipeline end-to-end (VERDICT r4 item 5):
    normalize → exact dedup → LSH+CC near-dedup → line dedup → quality
    gate → token-budget select → deterministic global shuffle → parquet,
    plus the funnel waterfall. Individual operators all have 10×-50×
    points; this is where their interactions live (lineage-cut sharing
    between stages, AQE re-planning across the chain, the write)."""
    import tempfile

    from dbbspark.operators.funnel import funnel_audit
    from dbbspark.operators.select import budget_select

    raw = normalize_docs(big.select("doc_id", "text"))
    docs = D.sha_dedup_keep_first(raw, "text", "doc_id")
    exact_dropped = raw.select("doc_id").join(
        docs.select("doc_id"), "doc_id", "left_anti"
    )
    pairs = D.lsh_candidate_pairs_direct(docs, "doc_id", "text")
    comps = D.connected_components_adaptive(pairs, "doc_a", "doc_b")
    near_dropped = comps.where(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    docs = docs.join(near_dropped, "doc_id", "left_anti")
    docs = dedup_lines(docs.select("doc_id", "text"), "doc_id", "text", min_df=2)
    toks = F.size(F.split(F.col("text"), " "))
    short_ids = docs.where(toks < 5).select("doc_id")
    docs = docs.where(toks >= 5)
    scored = docs.select(
        "doc_id",
        toks.cast("bigint").alias("n_tokens"),
        (F.length("text") % 97).cast("double").alias("score"),
    )
    picked = budget_select(scored, budget=5_000_000).select("doc_id")
    docs = docs.join(picked, "doc_id", "left_semi")
    _blamed, waterfall = funnel_audit(
        raw.withColumn("n_tokens", toks),
        [
            ("exact_dedup", exact_dropped),
            ("near_dedup", near_dropped),
            ("min_tokens", short_ids),
        ],
        token_col="n_tokens",
    )
    out_dir = tempfile.mkdtemp(prefix="dbbspark_curate_chain_")
    global_shuffle(docs, "doc_id", seed=1).write.mode("overwrite").parquet(out_dir)
    surv = next(w["survived_after"] for w in waterfall if w["stage"] == "min_tokens")
    assert surv >= 0
    return big.sparkSession.read.parquet(out_dir)


def _epoch_repeats(big):
    from dbbspark.operators.mixing import epoch_repeats

    tagged = big.withColumn(
        "source", F.concat(F.lit("s"), (F.col("doc_id") % 5).cast("string"))
    )
    return epoch_repeats(
        tagged, {f"s{i}": 1.0 + i * 0.5 for i in range(5)}, epoch_seed=3
    )


def _curriculum(big):
    from dbbspark.operators.curriculum import curriculum_order

    scored = big.select(
        "doc_id", "text", (F.length("text") % 997).cast("double").alias("score")
    )
    return curriculum_order(scored, "score", stages=4, seed=1)


_GATE_STATE: dict = {}


def _gate_smj(big, mode):
    """The Bloom gate's TARGET regime (VERDICT r4 item 2), staged
    honestly. A MICRO-batch's band rows are broadcastable by
    construction, so the candidate join never shuffles the index side
    and the bloom has nothing to save (measured flat at 20×, both
    regimes ~3 s warm). The regime where the filter exists is the BULK
    batch — a backfill/bootstrapping ingest where the new side's band
    rows are themselves past the broadcast threshold: the planner must
    sort-merge (both sides shuffle), and the bloom's "definitely new"
    pre-filter empties the new side so AQE re-plans the join as a
    broadcast of the filtered batch — the index-side shuffle vanishes.
    Staged with a 25k-doc batch, static threshold -1 (no compile-time
    broadcast) and a 1 MB ADAPTIVE threshold (the unfiltered sides both
    exceed it; the bloom-filtered new side falls under it)."""
    from dbbspark.streaming.neardedup import gate_batch

    _gate(big, None)  # ensure sigs/bloom state exists (not timed on reps>=2)
    spark = big.sparkSession
    if "batch_bulk" not in _GATE_STATE:
        # GENUINELY new text (hashed-token synthesis, zero shingle overlap
        # with the corpus): the common-crawl bulk case where the candidate
        # join exists only to find nothing — what the bloom pre-filters.
        # A corpus-derived batch would defeat the filter honestly (its
        # band keys really ARE in the index).
        batch = (
            spark.range(25_000)
            .select(
                (F.col("id") + 90_000_000).alias("doc_id"),
                F.concat_ws(
                    " ",
                    F.transform(
                        F.sequence(F.lit(1), F.lit(60)),
                        lambda i: F.substring(
                            F.md5(F.concat(F.col("id").cast("string"), i.cast("string"))),
                            1,
                            8,
                        ),
                    ),
                ).alias("text"),
            )
            .localCheckpoint(eager=True)
        )
        batch.count()
        _GATE_STATE["batch_bulk"] = batch
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", str(1024 * 1024)
    )
    try:
        bloom = _GATE_STATE["bloom"] if mode == "bloom" else None
        accepted, _sigs = gate_batch(
            _GATE_STATE["batch_bulk"], _GATE_STATE["sigs"], index_bloom=bloom
        )
        # eager checkpoint inside the timed build: the conf must govern
        # the actual execution, not just plan construction
        return accepted.localCheckpoint(eager=True)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _gate(big, mode):
    """Incremental near-dedup gate over a 5k-new-doc batch against the
    replicated corpus's signature index. The index signatures and the
    bloom word table are built once and cached — the per-batch cost is
    what's timed (a production gate amortizes both the same way)."""
    from dbbspark.operators.bloom import build_bloom
    from dbbspark.streaming.neardedup import gate_batch

    if "sigs" not in _GATE_STATE:
        _GATE_STATE["sigs"] = (
            D.minhash_signatures(big, "doc_id", "text", 16, 3)
            .localCheckpoint(eager=True)
        )
        _GATE_STATE["sigs"].count()
        batch = (
            big.orderBy("doc_id")
            .limit(5000)
            .select(
                (F.col("doc_id") + 50_000_000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" freshbatchtoken")).alias("text"),
            )
            .localCheckpoint(eager=True)
        )
        batch.count()
        _GATE_STATE["batch"] = batch
        _GATE_STATE["bloom"] = build_bloom(
            D._band_signatures(_GATE_STATE["sigs"], 4, 4)
            .select(F.xxhash64("band", "sig").alias("bk"))
            .distinct(),
            "bk",
        )
    bloom = _GATE_STATE["bloom"] if mode == "bloom" else None
    accepted, _sigs = gate_batch(
        _GATE_STATE["batch"], _GATE_STATE["sigs"], index_bloom=bloom
    )
    return accepted


def _pagerank(spark):
    from dbbspark.operators.graph import pagerank

    edges = (
        spark.range(200_000)
        .select(
            F.pmod(F.xxhash64("id"), F.lit(50_000)).alias("src"),
            # squaring the second draw skews in-degree (power-law-ish:
            # few hub nodes receive most edges)
            (
                F.pmod(F.xxhash64("id", F.lit(1)), F.lit(224)) ** 2 % 50_000
            ).cast("long").alias("dst"),
        )
    )
    return pagerank(edges, max_iter=20, tol=0.0)


def _url_chain(spark):
    from dbbspark.operators.urls import cap_per_domain, dedup_by_url

    urls = spark.range(500_000).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("HTTP://sub.Site"),
            F.pmod(F.xxhash64("id"), F.lit(5_000)).cast("string"),
            F.lit(".COM:80//path//p"),
            (F.col("id") % 97).cast("string"),
            F.lit("/?utm_source=feed&id="),
            (F.col("id") % 10_000).cast("string"),
            F.lit("&fbclid=x#frag"),
        ).alias("url"),
    )
    return cap_per_domain(dedup_by_url(urls), 50)


def replicated_corpus(spark, sf_dir: str, copies: int):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    parts = [docs]
    for i in range(1, copies):
        parts.append(
            docs.select(
                (F.col("doc_id") + i * 1_000_000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(f" copytoken{i}")).alias("text"),
            )
        )
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    # materialize once so every op times its own work, not the replication
    return big.repartition(32).localCheckpoint(eager=True)


def _scrub(big):
    """C54 archive-integrity scrub at corpus scale: archive = every doc
    as (content bytes, stored checksum, size) with planted %97 bit-rot,
    registry = the %3 stratum with planted %41 drift — times the
    map-only md5 recompute plus the narrow registry joins (the shape
    that rides a 100 TB archive; no wide shuffle anywhere)."""
    from dbbspark.maintenance import verify_archive_frames

    fname = F.concat(F.lit("f"), F.col("doc_id").cast("string"))
    actual = F.md5(F.col("text").cast("binary"))
    arch = big.select(
        fname.alias("filename"),
        F.when(F.col("doc_id") % 97 == 0, F.md5(F.lit("corrupt")))
        .otherwise(actual)
        .alias("md5sum"),
        F.octet_length("text").cast("long").alias("filesize"),
        F.col("text").cast("binary").alias("content"),
    )
    reg = big.where(F.col("doc_id") % 3 == 0).select(
        fname.alias("filename"),
        F.when(F.col("doc_id") % 41 == 0, F.md5(F.lit("regdrift")))
        .otherwise(actual)
        .alias("md5sum"),
    )
    return verify_archive_frames(arch, reg)


def _budget_select(big):
    from dbbspark.operators.select import budget_select

    toks = big.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        (F.length("text") % 97).cast("double").alias("score"),
    )
    return budget_select(toks, budget=1_000_000)


def _winnow(big, pairs: bool):
    from dbbspark.operators.winnow import (
        fingerprint_overlap_pairs,
        winnow_fingerprints,
    )

    if pairs:
        return fingerprint_overlap_pairs(
            big, "doc_id", "text", min_shared=3, max_df=50
        )
    return winnow_fingerprints(big, "doc_id", "text")


def _fuzzy(spark, n=50_000):
    """C47 fuzzy join at scale: n diverse hash-derived keys per side,
    the b side a 1-char mutation of half its keys — blocking must hold
    the candidate set near the true-match count, never |A|x|B|.

    Key DIVERSITY is the operating envelope: on near-unique q-grams the
    posting lists are tiny and the join is match-bounded. A first
    attempt with homogeneous template keys ("item-<n>-<m>") returned
    ZERO rows in 75 s — every gram was a >2000-df hub, the cap dropped
    them all, and the count filter then (correctly) rejected everything.
    That run is kept as the documented failure mode: short homogeneous
    keys need a larger q or no cap, not silent trust in defaults.

    r5: max_distance=1 auto-routes to the FastSS deletion-neighborhood
    path, which is EXACT and hub-immune — `_fuzzy_homog` below re-runs
    the homogeneous-template envelope that used to return zero rows."""
    from dbbspark.operators.fuzzy import fuzzy_join

    key = F.substring(F.md5(F.col("id").cast("string")), 1, 16)
    a = spark.range(n).select(F.col("id").alias("id_a"), key.alias("key"))
    b = spark.range(n).select(
        (F.col("id") + 1_000_000).alias("id_b"),
        F.when(
            F.col("id") % 2 == 0,
            F.concat(F.lit("z"), F.substring(key, 2, 15)),  # 1 substitution
        ).otherwise(key).alias("key"),
    )
    return fuzzy_join(a, b, "key", max_distance=1, max_df=2000)


def _fuzzy_homog(spark, n=50_000):
    """The q-gram path's documented failure envelope, now served by the
    d1 route: homogeneous template keys ('item-<n>-<m>' — every gram a
    corpus-wide hub, zero rows under the capped gram path) and padded
    serial keys ('DECam_%08d' — the q_reconcile_anti shape). The d1
    deletion-neighborhood blocking is exact on both."""
    from dbbspark.operators.fuzzy import fuzzy_join

    a = spark.range(n).select(
        F.col("id").alias("id_a"),
        F.format_string("item-%d-%d", F.col("id") % 500, F.col("id")).alias("key"),
    )
    b = spark.range(n).select(
        (F.col("id") + 1_000_000).alias("id_b"),
        F.when(
            F.col("id") % 2 == 0,
            F.format_string("item-%d-%dx", F.col("id") % 500, F.col("id")),
        ).otherwise(
            F.format_string("item-%d-%d", F.col("id") % 500, F.col("id"))
        ).alias("key"),
    )
    return fuzzy_join(a, b, "key", max_distance=1)


def _fuzzy_d2(spark, n=50_000):
    """VERDICT r5 item 3's 50k×50k point: max_distance=2 now auto-routes
    to the exact 2-deletion FastSS neighborhood (1 + L + L(L-1)/2 ≈ 137
    variants per 16-char key → ~6.9M narrow hash rows per side), killing
    the capped gram path's silent pair loss at the d=2 reconcile shape.
    The b side mutates half its keys by 1 char and a quarter by 2."""
    from dbbspark.operators.fuzzy import fuzzy_join

    key = F.substring(F.md5(F.col("id").cast("string")), 1, 16)
    a = spark.range(n).select(F.col("id").alias("id_a"), key.alias("key"))
    b = spark.range(n).select(
        (F.col("id") + 1_000_000).alias("id_b"),
        F.when(
            F.col("id") % 4 == 0,
            F.concat(F.lit("zz"), F.substring(key, 3, 14)),  # 2 subs
        )
        .when(
            F.col("id") % 2 == 0,
            F.concat(F.lit("z"), F.substring(key, 2, 15)),  # 1 sub
        )
        .otherwise(key)
        .alias("key"),
    )
    return fuzzy_join(a, b, "key", max_distance=2)


def _bpe_scale(spark, sf_dir: str) -> None:
    """VERDICT r5 item 2's >=1k-merge point. The driver regime runs the
    whole 1k-merge schedule after ONE Spark aggregation (word_counts);
    the old path was one pair-count job per merge. A 50-merge sequential
    distributed run measures that per-merge job floor, from which the
    1k-merge cost it replaces is linear extrapolation.

    The fixture documents have a ~31-word vocabulary (the schedule runs
    dry at ~100 merges), so the word table here is synthetic: 50k
    distinct hash-derived words under a Zipf-ish count law — enough
    pair diversity to sustain a production-depth merge schedule."""
    import time as _t
    from unittest import mock

    from dbbspark.operators import bpe as bpe_mod
    from dbbspark.operators.bpe import train_bpe

    wc = (
        spark.range(50_000)
        .select(
            F.substring(
                F.md5(F.col("id").cast("string")), 1,
                (F.col("id") % 9 + 4).cast("int"),
            ).alias("word"),
            (F.lit(1_000_000) / (F.col("id") + 1)).cast("long").alias("count"),
        )
        .where(F.col("count") >= 1)
        .groupBy("word").agg(F.sum("count").alias("count"))
        .localCheckpoint(eager=True)
    )
    n_words = wc.count()

    t0 = _t.time()
    merges = train_bpe(wc, 1000, min_pair_count=2)
    driver_sec = _t.time() - t0
    print(json.dumps({
        "op": "bpe_1k_driver", "merges": len(merges), "vocab": n_words,
        "sec": round(driver_sec, 2),
    }))

    t0 = _t.time()
    with mock.patch.object(bpe_mod, "DRIVER_VOCAB_LIMIT", 0):
        seq = train_bpe(wc, 50, batch_size=1)
    seq_sec = _t.time() - t0
    per_merge = seq_sec / max(len(seq), 1)
    print(json.dumps({
        "op": "bpe_seq50_distributed", "merges": len(seq),
        "sec": round(seq_sec, 2), "sec_per_merge": round(per_merge, 3),
        "extrapolated_1k_sec": round(per_merge * 1000, 1),
    }))
    assert merges[: len(seq)] == seq  # regimes agree on the shared prefix


def _takedown_scale(spark) -> None:
    """C59 composed-takedown scale shape: BOTH data-plane legs must
    track the MATCHED partitions, not the dataset size — the archive by
    its (filetype, nite, batch) dirs, the registry (nite-partitioned
    since r11; VERDICT r10 item 2 — the whole-relation registry rewrite
    was the last linear-in-dataset leg) by nite. Two dataset sizes,
    same 5-file / 5-nite takedown — each leg's wall should be ~flat
    while the dataset grows 10x. The registry leg is timed in
    isolation (registry-only takedown) so the two legs can't hide each
    other's growth."""
    import hashlib
    import tempfile

    from dbbspark.maintenance import takedown

    for n_nites, tag in ((50, "small"), (500, "10x")):
        root = tempfile.mkdtemp(prefix=f"td_{tag}_")
        arch_dir = root + "/archive"
        reg_dir = root + "/registry"
        ok = hashlib.md5(b"x").hexdigest()
        rows = [
            (
                f"f{n}_{i}.fits", bytearray(b"x" * 64), ok, 64,
                "raw", f"n{n:04d}", "b0",
            )
            for n in range(n_nites)
            for i in range(20)
        ]
        df = spark.createDataFrame(
            rows,
            "filename string, content binary, md5sum string, "
            "filesize long, filetype string, nite string, batch string",
        )
        df.write.partitionBy("filetype", "nite", "batch").parquet(arch_dir)
        df.select("filename", "md5sum", "filesize", "nite").write.partitionBy(
            "nite"
        ).parquet(reg_dir)

        names = [f"f{n}_0.fits" for n in range(5)]  # 5 files, 5 nites
        t0 = time.time()
        out = takedown(spark, names, archive_root=arch_dir)
        arch_wall = time.time() - t0
        t0 = time.time()
        out2 = takedown(spark, names, registry_path=reg_dir)
        reg_wall = time.time() - t0
        print(json.dumps({
            "op": f"takedown_{tag}",
            "nite_partitions": n_nites,
            "archive_rows": n_nites * 20,
            "archive_removed": out["archive_removed"],
            "sec_archive_leg": round(arch_wall, 2),
            "sec_registry_leg": round(reg_wall, 2),
            "registry_removed": out2["registry_removed"],
        }))


def _phash_bench(spark, n_families: int = 5000) -> None:
    """C56 scale point: synthetic PGM corpus of ``n_families`` smooth
    images × 3 variants each (original + two resizes) → thumbnail
    decode (the one Python pass) → dHash (JVM) → Hamming-banded pairs.
    Timed separately so the decode cost and the pair cost read
    independently; the reported pair count sanity-checks recall (every
    family contributes its 3 within-family pairs)."""
    import time as _t

    import numpy as np
    import pandas as pd

    from dbbspark.operators.phash import dhash_col, hamming_pairs, thumbnails
    from dbbspark.session import cut_lineage

    def gen(batches):
        from dbbspark.sources.codecs import encode_pgm, resize_netpbm

        for pdf in batches:
            rows = []
            for fam in pdf["id"]:
                fam = int(fam)
                rng = np.random.default_rng(fam)
                y, x = np.mgrid[0:64, 0:64]
                img = np.zeros((64, 64))
                for _ in range(3):
                    fy, fx = rng.uniform(0.5, 2.5, 2)
                    img += np.sin(2 * np.pi * fy * y / 64) * np.cos(
                        2 * np.pi * fx * x / 64 + fam
                    )
                img = ((img - img.min()) / (img.max() - img.min() + 1e-9) * 255).astype(
                    np.uint8
                )
                raw = encode_pgm(img)
                rows.append((fam * 4, bytearray(raw)))
                rows.append((fam * 4 + 1, bytearray(resize_netpbm(raw, 48, 48))))
                rows.append((fam * 4 + 2, bytearray(resize_netpbm(raw, 80, 80))))
            yield pd.DataFrame(rows, columns=["id", "content"])

    corpus = (
        spark.range(n_families)
        .repartition(32)
        .mapInPandas(gen, "id long, content binary")
    )
    t0 = _t.time()
    hashed = cut_lineage(
        thumbnails(corpus, kind="pgm").select("id", dhash_col("thumb").alias("h")),
        eager=True,
    )
    n = hashed.count()
    t_hash = _t.time() - t0
    t0 = _t.time()
    pairs = hamming_pairs(hashed, "id", "h", max_distance=8).count()
    t_pairs = _t.time() - t0
    print(json.dumps({
        "op": "phash_corpus", "images": n,
        "decode_hash_sec": round(t_hash, 2), "pairs_sec": round(t_pairs, 2),
        "pairs": pairs, "min_expected_pairs": n_families * 3,
    }))


def _video_bench(spark, n_families: int = 1000) -> None:
    """Video near-dup scale point (operators/video.py): ``n_families``
    synthetic 24-frame pnmseq clips × 3 variants each (original +
    frame-dropped + head-trimmed) → one decode/fingerprint pass (8
    sampled frames per clip) → frame-level Hamming banding → clip-pair
    scoring. Reported separately: fingerprint cost (the Python
    crossing) vs pair cost (pure JVM); the pair count sanity-checks
    recall (every family should contribute its 3 within-family clip
    pairs).

    DEGENERATE STRATUM (VERDICT r9 item 1): every clip carries one
    planted solid-black frame — the real-crawl pathology where 3N clips
    share a hash. The run scores twice: with ``min_thumb_variance`` (the
    production setting — candidate volume linear, asserted against a
    linear bound) and without (the unmitigated control at the SAME
    corpus, reported so the blow-up is a recorded number). Recall is
    asserted on the policy run: planted black frames must not cost the
    within-family pairs."""
    import time as _t

    import numpy as np
    import pandas as pd

    def gen(batches):
        from dbbspark.sources.codecs import encode_pnm_seq

        for pdf in batches:
            rows = []
            for fam in pdf["id"]:
                fam = int(fam)
                rng = np.random.default_rng(fam)
                y, x = np.mgrid[0:48, 0:64]
                comps = [
                    (rng.uniform(0.5, 2.5, 2), rng.uniform(0, 2 * np.pi))
                    for _ in range(3)
                ]
                frames = []
                for t in range(24):
                    f = np.zeros((48, 64))
                    for (fy, fx), ph in comps:
                        f += np.sin(
                            2 * np.pi * fx * x / 64 + 0.12 * t + ph
                        ) * np.cos(2 * np.pi * fy * y / 48 - 0.08 * t)
                    f = 128 + 40 * f
                    frames.append(np.clip(f, 0, 255).astype(np.uint8))
                # the degenerate stratum: a black frame in EVERY clip,
                # at an index the 8-of-24 sampler picks (13) so the base
                # and frame-dropped variants both fingerprint it
                frames[13] = np.zeros((48, 64), dtype=np.uint8)
                rows.append((fam * 4, bytearray(encode_pnm_seq(frames))))
                rows.append(
                    (
                        fam * 4 + 1,
                        bytearray(
                            encode_pnm_seq(
                                [f for i, f in enumerate(frames) if i % 3 != 2]
                            )
                        ),
                    )
                )
                rows.append((fam * 4 + 2, bytearray(encode_pnm_seq(frames[3:]))))
            yield pd.DataFrame(rows, columns=["id", "content"])

    from dbbspark.operators.video import clip_fingerprints, score_clip_pairs
    from dbbspark.session import cut_lineage

    corpus = (
        spark.range(n_families)
        .repartition(32)
        .mapInPandas(gen, "id long, content binary")
    )
    t0 = _t.time()
    frames = cut_lineage(
        clip_fingerprints(corpus, id_col="id", n_samples=8), eager=True
    )
    n_frames = frames.count()
    t_fp = _t.time() - t0
    t0 = _t.time()
    tel = {}
    n_pairs = score_clip_pairs(
        frames, id_col="id", max_distance=6, min_frac=0.5,
        min_thumb_variance=25.0, telemetry=tel,
    ).count()
    t_pairs = _t.time() - t0
    n_clips = 3 * n_families
    assert tel["n_candidates"] <= 40 * n_clips, (
        f"degenerate stratum must stay linear: {tel['n_candidates']} "
        f"candidates for {n_clips} clips"
    )
    t0 = _t.time()
    tel_off = {}
    n_pairs_off = score_clip_pairs(
        frames, id_col="id", max_distance=6, min_frac=0.5,
        telemetry=tel_off,
    ).count()
    t_off = _t.time() - t0
    print(json.dumps({
        "op": "video_corpus", "clips": n_clips,
        "frame_rows": n_frames, "fingerprint_sec": round(t_fp, 2),
        "pairs_sec": round(t_pairs, 2), "clip_pairs": n_pairs,
        "min_expected_pairs": n_families * 3,
        "candidates_policy": tel["n_candidates"],
        "unmitigated_sec": round(t_off, 2),
        "clip_pairs_unmitigated": n_pairs_off,
        "candidates_unmitigated": tel_off["n_candidates"],
    }))


def _du(path: str) -> tuple[int, float]:
    """(file_count, megabytes) of a local dataset dir — the bounded-
    growth telemetry the soak curves report."""
    import os

    files, size = 0, 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(root, n))
                files += 1
            except OSError:
                continue
    return files, size / 1e6


def _soak_report(name: str, walls: list[float], idx_dir: str, extra: dict) -> None:
    k = max(1, len(walls) // 5)
    first = sum(walls[:k]) / k
    last = sum(walls[-k:]) / k
    files, mb = _du(idx_dir)
    print(json.dumps({
        "op": f"gate_soak_{name}",
        "batches": len(walls),
        "wall_first_mean": round(first, 3),
        "wall_last_mean": round(last, 3),
        "flatness": round(last / first, 2) if first else None,
        "index_files": files,
        "index_mb": round(mb, 2),
        **extra,
    }))


def _gate_soak(spark, sf_dir: str, n_batches: int = 50) -> None:
    """VERDICT r6 item 3: drive the three streaming gates for N batches
    with maintenance interleaved (compaction / gc, the nightly_ops
    composition) and report per-trigger latency flatness plus index
    file-count/bytes — the cadence-stability evidence behind the gates'
    100 TB operational claim. Every restart/retry/correctness property
    is pytest's business; THIS measures that per-trigger cost and state
    size stay bounded as the rolling corpus grows.

    Each batch mixes fresh documents with replicas of earlier ones
    (repeat factor grows with i) so the gates do real rejection work
    throughout. Maintenance every 10 batches: compact_gate_index on the
    append-shaped sinks (neardedup signatures, annindex codes),
    gc_staging on the commit-protocol roots (linededup snapshots)."""
    import shutil
    import tempfile
    import time as _t

    from dbbspark.commit import gc_staging, prune_commit_records
    from dbbspark.maintenance import compact_gate_index
    from dbbspark.operators.pq import train_ivfpq
    from dbbspark.operators.similarity import train_centroids
    from dbbspark.streaming import annindex, linededup, neardedup

    root = tempfile.mkdtemp(prefix="dbbspark-soak-")
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .localCheckpoint(eager=True)
    )
    n_docs = docs.count()
    per = max(50, n_docs // n_batches)

    def doc_batch(i: int):
        fresh = docs.where(
            (F.col("doc_id") % n_batches) == i
        )
        # replicas of an EARLIER stratum with fresh ids: cross-batch dups
        rep = docs.where(
            (F.col("doc_id") % n_batches) == max(0, i - 1)
        ).select(
            (F.col("doc_id") + (i + 1) * 1_000_000).alias("doc_id"), "text"
        )
        return fresh.unionByName(rep)

    maint_every = 10

    # --- line-dedup gate (commit-protocol snapshot index) -----------------
    idx, out = f"{root}/line_idx", f"{root}/line_out"
    walls = []
    for i in range(n_batches):
        t = _t.time()
        linededup.process_batch(doc_batch(i), i, idx, out, min_df=2)
        walls.append(_t.time() - t)
        if (i + 1) % maint_every == 0:
            # quiesced single-writer gate between triggers: horizon 0 is
            # safe (same stance the nightly_ops composition takes)
            gc_staging(spark, idx, older_than_sec=0.0)
            prune_commit_records(spark, idx, older_than_sec=0.0)
    _soak_report("line", walls, idx, {"accepted_rows": spark.read.parquet(out).count(),
                                      "docs_per_batch": 2 * per})

    # --- near-dedup gate (append-shaped signature index + compaction) -----
    idx, out = f"{root}/near_idx", f"{root}/near_out"
    walls = []
    for i in range(n_batches):
        t = _t.time()
        neardedup.process_batch(doc_batch(i), i, idx, out)
        walls.append(_t.time() - t)
        if (i + 1) % maint_every == 0 and i + 1 < n_batches:
            backup = compact_gate_index(spark, idx)
            shutil.rmtree(backup, ignore_errors=True)
    _soak_report("near", walls, idx, {"accepted_rows": spark.read.parquet(out).count(),
                                      "docs_per_batch": 2 * per})

    # --- ANN gate (frozen quantizer; code index + compaction) -------------
    vecs = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .localCheckpoint(eager=True)
    )
    cents = train_centroids(vecs, k=16).localCheckpoint(eager=True)
    books = train_ivfpq(vecs, cents, m=4, k=16)
    idx, out = f"{root}/ann_idx", f"{root}/ann_out"
    walls = []
    for i in range(n_batches):
        fresh = vecs.where((F.col("vec_id") % n_batches) == i)
        rep = vecs.where((F.col("vec_id") % n_batches) == max(0, i - 1)).select(
            (F.col("vec_id") + (i + 1) * 1_000_000).alias("vec_id"), "embedding"
        )
        t = _t.time()
        annindex.process_batch(
            fresh.unionByName(rep), i, idx, out, cents, books, eps=0.02
        )
        walls.append(_t.time() - t)
        if (i + 1) % maint_every == 0 and i + 1 < n_batches:
            backup = compact_gate_index(spark, idx)
            shutil.rmtree(backup, ignore_errors=True)
    _soak_report("ann", walls, idx, {"accepted_rows": spark.read.parquet(out).count()})

    shutil.rmtree(root, ignore_errors=True)


def _soak_img(seed: int) -> bytes:
    """Deterministic seed-keyed PGM (two sinusoid components — distinct
    seeds land far apart under the block-mean dHash; the
    multimodal-example fixture shape) for the media-gate soaks."""
    import numpy as np

    from dbbspark.sources.codecs import encode_pgm

    rng = np.random.default_rng(seed)
    y, x = np.mgrid[0:36, 0:36]
    f = np.zeros((36, 36))
    for _ in range(2):
        fy, fx = rng.uniform(0.5, 2.5, 2)
        ph = rng.uniform(0, 2 * np.pi)
        f += np.sin(2 * np.pi * fx * x / 36 + ph) * np.cos(
            2 * np.pi * fy * y / 36
        )
    return encode_pgm(np.clip(100 + 30 * (2 + f), 0, 255).astype("uint8"))


def _soak_clip(seed: int, drop: bool = False, h: int = 48, w: int = 64,
               nfr: int = 24) -> bytes:
    """Deterministic seed-keyed PNM clip (three drifting sinusoid
    components over ``nfr`` frames) for the clip-gate soaks; ``drop``
    produces the frame-dropped re-cut that must still reject against
    the persisted frame index."""
    import numpy as np

    from dbbspark.sources.codecs import encode_pnm_seq

    rng = np.random.default_rng(seed)
    y, x = np.mgrid[0:h, 0:w]
    comps = [
        (rng.uniform(0.5, 2.5, 2), rng.uniform(0, 2 * np.pi))
        for _ in range(3)
    ]
    frames = []
    for t in range(nfr):
        f = np.zeros((h, w))
        for (fy, fx), ph in comps:
            f += np.sin(2 * np.pi * fx * x / w + 0.12 * t + ph) * np.cos(
                2 * np.pi * fy * y / h - 0.08 * t
            )
        frames.append(np.clip(128 + 40 * f, 0, 255).astype(np.uint8))
    if drop:
        frames = [f for i, f in enumerate(frames) if i % 3 != 2]
    return encode_pnm_seq(frames)


def _black_clip(h: int = 48, w: int = 64, nfr: int = 24) -> bytes:
    import numpy as np

    from dbbspark.sources.codecs import encode_pnm_seq

    return encode_pnm_seq([np.zeros((h, w), dtype=np.uint8)] * nfr)


def _media_gate_soak(spark, n_batches: int = 50, per_batch: int = 200) -> None:
    """C58 cadence-stability evidence, same discipline as _gate_soak:
    N micro-batches of synthetic PGM images through the streaming media
    gate — half fresh, half RESIZED re-encodes of the previous stratum
    (sharing no bytes with their originals, so the gate does real
    perceptual rejection work every trigger) — with compact_gate_index
    every 10 batches. Reports per-trigger flatness and index
    files/bytes; the index is 8 bytes of state per accepted file, so
    bytes must stay ~flat × acceptance, never × batch count."""
    import shutil
    import tempfile
    import time as _t

    from dbbspark.maintenance import compact_gate_index
    from dbbspark.sources.codecs import resize_netpbm
    from dbbspark.streaming import mediadedup

    img = _soak_img
    root = tempfile.mkdtemp(prefix="dbbspark-msoak-")
    idx, out = f"{root}/idx", f"{root}/accepted"
    half = per_batch // 2
    walls = []
    for i in range(n_batches):
        rows = [(f"b{i}/f{j}.pgm", img(i * half + j)) for j in range(half)]
        rows += [
            (f"b{i}/r{j}.pgm", resize_netpbm(img(max(0, i - 1) * half + j), 72, 72))
            for j in range(half)
        ]
        batch = spark.createDataFrame(rows, "path string, content binary")
        t = _t.time()
        mediadedup.process_batch(batch, i, idx, out, kind="pgm")
        walls.append(_t.time() - t)
        if (i + 1) % 10 == 0 and i + 1 < n_batches:
            backup = compact_gate_index(spark, idx)
            shutil.rmtree(backup, ignore_errors=True)
    _soak_report("media", walls, idx, {
        "accepted_rows": spark.read.parquet(out).count(),
        "files_per_batch": per_batch,
    })
    shutil.rmtree(root, ignore_errors=True)


def _clip_gate_soak(spark, n_batches: int = 15, fresh_per_batch: int = 4) -> None:
    """C58-clips cadence evidence (the one gate family member without a
    solo soak): per trigger, ``fresh_per_batch`` new clips + frame-
    dropped re-cuts of the PREVIOUS trigger's clips (must reject against
    the persisted frame index) + one all-black clip every trigger (must
    accept once, then reject forever via the degenerate signature leg —
    min_thumb_variance on, the production setting). Reports per-trigger
    walls, flatness, and the frame-index row accounting (n_samples rows
    per accepted decodable clip, black clip included exactly once)."""
    import shutil
    import tempfile
    import time as _t

    from dbbspark.streaming.mediadedup import process_clip_batch

    clip = _soak_clip
    black = _black_clip()
    root = tempfile.mkdtemp(prefix="dbbspark-clipsoak-")
    idx, acc = f"{root}/idx", f"{root}/acc"
    walls = []
    for i in range(n_batches):
        rows = [
            (f"b{i}/f{j}", bytearray(clip(i * fresh_per_batch + j)))
            for j in range(fresh_per_batch)
        ]
        if i > 0:  # re-cuts of the previous trigger's fresh clips
            rows += [
                (
                    f"b{i}/r{j}",
                    bytearray(clip((i - 1) * fresh_per_batch + j, drop=True)),
                )
                for j in range(2)
            ]
        rows.append((f"b{i}/black", bytearray(black)))
        b = spark.createDataFrame(rows, "path string, content binary")
        t = _t.time()
        process_clip_batch(
            b, i, idx, acc, min_frac=0.5, min_thumb_variance=25.0
        )
        walls.append(_t.time() - t)
    accepted = spark.read.parquet(acc)
    n_acc = accepted.count()
    n_black = accepted.where(F.col("path").endswith("black")).count()
    idx_rows = spark.read.parquet(idx).count()
    k = max(1, n_batches // 5)
    print(json.dumps({
        "op": "clip_gate_soak",
        "batches": n_batches,
        "wall_first_mean": round(sum(walls[:k]) / k, 3),
        "wall_last_mean": round(sum(walls[-k:]) / k, 3),
        "flatness": round((sum(walls[-k:]) / k) / (sum(walls[:k]) / k), 2),
        "accepted": n_acc,
        "black_accepted": n_black,  # must be exactly 1
        "index_frame_rows": idx_rows,  # 8 per accepted decodable clip
        "rejected_recuts": 2 * (n_batches - 1),
    }))
    assert n_black == 1, "degenerate signature leg must gate the black clip"
    assert idx_rows == 8 * n_acc
    shutil.rmtree(root, ignore_errors=True)


def _composed_soak(spark, sf_dir: str, n_batches: int = 150) -> None:
    """VERDICT r8 item 6 (r7 item 8): the nightly_ops composition as ONE
    loop — every trigger drives ALL FIVE gates (line-dedup commit-
    protocol index, near-dedup signature index, ANN code index, the
    C58 perceptual media gate over synthetic PGM batches: half fresh,
    half resized re-encodes of the previous stratum, and — r11, VERDICT
    r10 item 4 — the C57/C58 CLIP gate: fresh clips + a frame-dropped
    re-cut of the previous trigger's clip + an all-black clip every
    trigger, min_thumb_variance on) plus an
    append-only archive write, with maintenance interleaved in the same
    loop: compaction on the append-shaped indexes (clip frame index
    included), gc_staging + prune_commit_records on the commit-protocol
    root, and a rotating sampled integrity scrub over the growing
    archive. `_gate_soak` / `_clip_gate_soak` prove each gate alone
    holds a flat cadence; THIS proves they hold it simultaneously — no
    cross-gate interference through commit-log pruning, lock files, or
    block-manager pressure, and the scrub stays clean while the writers
    run. Reports per-gate flatness, all five index sizes AT ONCE, scrub
    findings (must be 0), accepted rows, and the black-clip exactly-once
    count."""
    import shutil
    import tempfile
    import time as _t

    from dbbspark.commit import gc_staging, prune_commit_records
    from dbbspark.maintenance import compact_gate_index, verify_archive
    from dbbspark.operators.pq import train_ivfpq
    from dbbspark.operators.similarity import train_centroids
    from dbbspark.sources.codecs import resize_netpbm
    from dbbspark.streaming import annindex, linededup, mediadedup, neardedup

    root = tempfile.mkdtemp(prefix="dbbspark-csoak-")
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .localCheckpoint(eager=True)
    )
    vecs = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .localCheckpoint(eager=True)
    )
    cents = train_centroids(vecs, k=16).localCheckpoint(eager=True)
    books = train_ivfpq(vecs, cents, m=4, k=16)

    def doc_batch(i: int):
        fresh = docs.where((F.col("doc_id") % n_batches) == i)
        rep = docs.where((F.col("doc_id") % n_batches) == max(0, i - 1)).select(
            (F.col("doc_id") + (i + 1) * 1_000_000).alias("doc_id"), "text"
        )
        return fresh.unionByName(rep)

    line_idx, line_out = f"{root}/line_idx", f"{root}/line_out"
    near_idx, near_out = f"{root}/near_idx", f"{root}/near_out"
    ann_idx, ann_out = f"{root}/ann_idx", f"{root}/ann_out"
    media_idx, media_out = f"{root}/media_idx", f"{root}/media_out"
    clip_idx, clip_out = f"{root}/clip_idx", f"{root}/clip_out"
    arch = f"{root}/archive"
    maint_every, scrub_every = 10, 25
    walls = {"line": [], "near": [], "ann": [], "media": [], "clip": []}
    scrub_findings = 0
    for i in range(n_batches):
        b = doc_batch(i).localCheckpoint(eager=True)
        t = _t.time()
        linededup.process_batch(b, i, line_idx, line_out, min_df=2)
        walls["line"].append(_t.time() - t)
        t = _t.time()
        neardedup.process_batch(b, i, near_idx, near_out)
        walls["near"].append(_t.time() - t)
        vfresh = vecs.where((F.col("vec_id") % n_batches) == i)
        vrep = vecs.where((F.col("vec_id") % n_batches) == max(0, i - 1)).select(
            (F.col("vec_id") + (i + 1) * 1_000_000).alias("vec_id"), "embedding"
        )
        t = _t.time()
        annindex.process_batch(
            vfresh.unionByName(vrep), i, ann_idx, ann_out, cents, books, eps=0.02
        )
        walls["ann"].append(_t.time() - t)
        m = 20  # media files per trigger: 10 fresh + 10 resized re-encodes
        media_rows = [
            (f"b{i}/f{j}.pgm", _soak_img(i * (m // 2) + j)) for j in range(m // 2)
        ] + [
            (
                f"b{i}/r{j}.pgm",
                resize_netpbm(_soak_img(max(0, i - 1) * (m // 2) + j), 72, 72),
            )
            for j in range(m // 2)
        ]
        mb = spark.createDataFrame(media_rows, "path string, content binary")
        t = _t.time()
        mediadedup.process_batch(mb, i, media_idx, media_out, kind="pgm")
        walls["media"].append(_t.time() - t)
        # clip gate (r11): 2 fresh clips + a frame-dropped re-cut of the
        # previous trigger's first clip (must reject against the
        # persisted frame index) + the all-black clip every trigger
        # (degenerate signature leg: accept once, reject forever)
        cm = 2
        clip_rows = [
            (f"b{i}/c{j}", bytearray(_soak_clip(i * cm + j)))
            for j in range(cm)
        ]
        if i > 0:
            clip_rows.append(
                (f"b{i}/cr0", bytearray(_soak_clip((i - 1) * cm, drop=True)))
            )
        clip_rows.append((f"b{i}/black", bytearray(_black_clip())))
        cb = spark.createDataFrame(clip_rows, "path string, content binary")
        t = _t.time()
        mediadedup.process_clip_batch(
            cb, i, clip_idx, clip_out, min_frac=0.5, min_thumb_variance=25.0
        )
        walls["clip"].append(_t.time() - t)
        # archive leg: checksum-at-ingest rows the scrub re-verifies later
        content = F.encode("text", "utf-8")
        b.select(
            F.col("doc_id").cast("string").alias("filename"),
            F.md5(content).alias("md5sum"),
            F.length(content).cast("long").alias("filesize"),
            content.alias("content"),
        ).write.mode("append").parquet(arch)
        if (i + 1) % maint_every == 0:
            # quiesced single-writer gates between triggers: horizon 0
            # safe — and the POINT is that pruning line_idx's commit log
            # while near/ann indexes sit adjacent touches only its root
            gc_staging(spark, line_idx, older_than_sec=0.0)
            prune_commit_records(spark, line_idx, older_than_sec=0.0)
            if i + 1 < n_batches:
                for idx in (near_idx, ann_idx, media_idx, clip_idx):
                    backup = compact_gate_index(spark, idx)
                    shutil.rmtree(backup, ignore_errors=True)
        if (i + 1) % scrub_every == 0:
            # rotating slice (C10 gate, salt = scrub epoch): different
            # sample each epoch, deterministic, over the LIVE archive
            scrub_findings += verify_archive(
                spark, arch, sample_fraction=0.2,
                sample_salt=(i + 1) // scrub_every,
            ).count()
    extra = {"scrub_findings": scrub_findings}
    clip_acc = spark.read.parquet(clip_out)
    extra["clip_black_accepted"] = clip_acc.where(
        F.col("path").endswith("black")
    ).count()  # must be exactly 1 across the whole soak
    extra["clip_recuts_rejected"] = int(
        clip_acc.where(F.col("path").contains("/cr")).count() == 0
    )
    for name, idx, out in (
        ("line", line_idx, line_out),
        ("near", near_idx, near_out),
        ("ann", ann_idx, ann_out),
        ("media", media_idx, media_out),
        ("clip", clip_idx, clip_out),
    ):
        files, mb = _du(idx)
        k = max(1, n_batches // 5)
        extra[f"{name}_flatness"] = round(
            (sum(walls[name][-k:]) / k) / (sum(walls[name][:k]) / k), 2
        )
        extra[f"{name}_index_files"] = files
        extra[f"{name}_index_mb"] = round(mb, 2)
        extra[f"{name}_accepted_rows"] = spark.read.parquet(out).count()
    total = [sum(t) for t in zip(*walls.values())]
    _soak_report("composed", total, root, extra)
    shutil.rmtree(root, ignore_errors=True)


def _ann_drift_lazy(spark) -> None:
    """VERDICT r5 item 5's amortization point: same drifted stream as
    _ann_drift, but rekey is LAZY — the retrain batch pays quantizer
    training only (no O(corpus) index rewrite inside the trigger);
    each later batch re-keys ONE stale partition alongside its gate
    (multi-generation ADC keeps old partitions scorable meanwhile)."""
    import tempfile
    import time as _t

    from pyspark.sql import functions as FF

    from dbbspark.operators.pq import train_ivfpq
    from dbbspark.operators.similarity import train_centroids
    from dbbspark.streaming.annindex import (
        _index_codes,
        index_generations,
        process_batch,
        quantizer_drift,
        quantizer_profile,
        rekey_stale_partitions,
        retrain_quantizer,
    )

    base_center = "sin((id % 16) * 7.31 + j * 1.77) * 2.0"
    drift_center = "sin((id % 16) * 3.91 + j * 2.33) * 2.5"
    noise = "(mod(sin(id * 12.9898 + j * 78.233) * 43758.5453, 1.0) - 0.5)"

    def batch(start, n, center):
        return (
            spark.range(start, start + n)
            .select(
                FF.col("id").alias("vec_id"),
                FF.expr(
                    f"transform(sequence(0, 63), "
                    f"j -> cast({center} + {noise} * 0.8 as double))"
                ).alias("embedding"),
            )
            .localCheckpoint(eager=True)
        )

    boot = batch(0, 20_000, base_center)
    cents = train_centroids(boot, k=16).localCheckpoint(eager=True)
    cents.count()
    books = train_ivfpq(boot, cents, m=8, k=16)
    root = tempfile.mkdtemp(prefix="dbbspark_anndriftlazy_")
    idx, acc = f"{root}/idx", f"{root}/acc"

    baseline, gen = None, 0
    quantizers = {0: (cents, books)}
    state_c, state_b = cents, books
    centers = [base_center, base_center, drift_center, drift_center,
               drift_center, drift_center]
    for bid, center in enumerate(centers):
        bvec = batch(1_000_000 * (bid + 1), 10_000, center)
        prof = quantizer_profile(bvec, state_c, state_b)
        retrain_sec = 0.0
        if baseline is None:
            baseline = prof
        elif quantizer_drift(baseline, prof, stds=2.0):
            t0 = _t.time()
            acc_vecs = spark.read.parquet(acc).select("vec_id", "embedding")
            state_c, state_b = retrain_quantizer(
                acc_vecs.unionByName(bvec), 16, 8, 16
            )
            gen += 1
            quantizers[gen] = (state_c, state_b)
            baseline = quantizer_profile(bvec, state_c, state_b)
            retrain_sec = _t.time() - t0  # NO index rewrite in here
        t0 = _t.time()
        rekeyed = rekey_stale_partitions(
            spark, acc, idx, state_c, state_b, gen, max_batches=1
        ) if bid > 0 else []
        rekey_sec = _t.time() - t0
        t0 = _t.time()
        process_batch(
            bvec, bid, idx, acc, state_c, state_b, gen=gen,
            quantizers_by_gen=quantizers,
        )
        gate_sec = _t.time() - t0
        print(json.dumps({
            "op": f"ann_drift_lazy_batch{bid}",
            "gate_sec": round(gate_sec, 2),
            "retrain_sec": round(retrain_sec, 2),
            "rekey_sec": round(rekey_sec, 2),
            "rekeyed_batches": rekeyed,
            "live_gens": index_generations(spark, idx),
            "index_rows": _index_codes(spark, idx).count(),
        }))


def _purity(big):
    from dbbspark.operators.audit import cluster_purity
    from dbbspark.operators.dedup import (
        connected_components_adaptive,
        lsh_candidate_pairs_direct,
    )

    comps = connected_components_adaptive(
        lsh_candidate_pairs_direct(big, "doc_id", "text"), "doc_a", "doc_b"
    )
    per_member, _per_cluster = cluster_purity(big, comps)
    return per_member


def _profile_op(big):
    from dbbspark.operators.profile import profile_table

    profile_table(big)  # driver dict; return a countable frame for the loop
    return big.limit(1)


def _funnel_op(big):
    from dbbspark.operators.funnel import funnel_blame

    toks = F.size(F.split("text", " "))
    return funnel_blame(
        big.withColumn("n_tokens", toks),
        [
            ("short", F.col("n_tokens") < 20),
            ("long", F.col("n_tokens") > 500),
            ("replicas", big.where(F.col("doc_id") >= 1_000_000).select("doc_id")),
        ],
    )


def _budget_grouped(big):
    from dbbspark.operators.select import budget_select_grouped

    docs = big.select(
        (F.col("doc_id") % 10).cast("string").alias("source"),
        "doc_id",
        (F.length("text") % 97).cast("double").alias("score"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    return budget_select_grouped(
        docs, {str(i): 100_000 for i in range(10)}
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=2, help="best-of-N timing")
    ap.add_argument("--soak-batches", type=int, default=50,
                    help="micro-batches per gate for --ops gate_soak")
    ap.add_argument(
        "--ops",
        default=None,
        help="comma-separated subset to run (isolates ops from block-manager "
        "pressure of earlier checkpoints; default: all)",
    )
    args = ap.parse_args()
    wanted = set(args.ops.split(",")) if args.ops else None

    spark = get_spark("dbbspark-scale")
    big = replicated_corpus(spark, args.sf_dir, args.copies)
    n_docs = big.count()
    print(json.dumps({"op": "corpus", "rows": n_docs, "copies": args.copies}))

    ops = {
        "lsh_direct": lambda: D.lsh_candidate_pairs_direct(big, "doc_id", "text"),
        "jaccard_pairs": lambda: D.jaccard_pairs(big, "doc_id", "text", max_df=1000),
        "jaccard_lsh_verified": lambda: D.jaccard_pairs_lsh(
            big, "doc_id", "text", max_df=1000
        ),
        "dup_ngram_spans": lambda: duplicate_ngram_spans(big, "doc_id", "text", n=10),
        # every replica shares its lines with copies-1 others, so ~all
        # lines are corpus-duplicated: worst case for the count window
        # AND the reassembly groupBy
        "dedup_lines": lambda: dedup_lines(big, "doc_id", "text", min_df=2),
        "normalize_docs": lambda: normalize_docs(big),
        "global_shuffle": lambda: global_shuffle(big, "doc_id", seed=1),
        "classifier_score": lambda: _classifier_score(big),
        "dsir_weights": lambda: _dsir(big),
        "pack_sequences": lambda: pack_sequences(
            big.select(
                "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
            ),
            "doc_id",
            "n_tokens",
            budget=2048,
        ),
        # CC over the LSH candidate graph (~266k edges, 10-cliques):
        # times the distributed star rounds on a big edge set
        "connected_components_star": lambda: D.connected_components_star(
            D.lsh_candidate_pairs_direct(big, "doc_id", "text"),
            src="doc_a",
            dst="doc_b",
        ),
        # adaptive: the 10x candidate edge set (~266k) is under the 2M
        # driver bound, so this measures the union-find fast path on a
        # realistically-sized reduced relation (incl. its collect)
        "connected_components_adaptive": lambda: D.connected_components_adaptive(
            D.lsh_candidate_pairs_direct(big, "doc_id", "text"),
            src="doc_a",
            dst="doc_b",
        ),
        # deep graph: 2000 chains of 33 nodes — diameter 32, where the
        # star rounds pay O(log) shuffles (a per-round label loop would
        # pay O(diameter))
        "cc_chain_star": lambda: D.connected_components_star(
            _chain_edges(big.sparkSession), src="a", dst="b", max_iter=100
        ),
        # BPE training cost is per-ROUND over the vocab-sized symbols
        # table; the corpus only pays the one word_counts aggregation
        "bpe_train50": lambda: _bpe_tokens(big),
        # C38 PageRank on a synthetic 200k-edge host graph (hash-derived
        # power-law-ish endpoints; 20 fixed rounds — the per-round cost
        # is the scale object, convergence depends only on tol)
        "pagerank20": lambda: _pagerank(big.sparkSession),
        # C37 URL hygiene chain over 500k synthetic URLs: canonicalize →
        # URL dedup → per-domain cap — all map/window, one shuffle each
        "url_chain": lambda: _url_chain(big.sparkSession),
        # C34 bloom-gated incremental near-dedup: the replicated corpus
        # is the persisted signature index; the batch is 5k genuinely
        # NEW docs (suffix token no replica carries) — the common crawl
        # case where the candidate join exists only to find nothing.
        # Timed: plain gate vs bloom build + bloom-gated gate.
        "gate_plain": lambda: _gate(big, None),
        "gate_bloom": lambda: _gate(big, "bloom"),
        # C34's target regime: index past the broadcast threshold →
        # candidate join is sort-merge; the bloom's new-side pre-filter
        # is what lets AQE re-plan away the index-side shuffle
        "gate_plain_smj": lambda: _gate_smj(big, None),
        "gate_bloom_smj": lambda: _gate_smj(big, "bloom"),
        # C42 budget selection: exact two-pass prefix sum over the
        # (score desc, id) order — cost is the 3-column range shuffle,
        # independent of text width
        "budget_select": lambda: _budget_select(big),
        # C43 winnowing: map-only fingerprinting (the O(len·w) window
        # minima) + df-capped posting-list pair join — the replicated
        # corpus makes every doc share ~all fingerprints with its
        # copies-1 replicas, the pair-emission worst case
        "winnow_fingerprints": lambda: _winnow(big, pairs=False),
        "winnow_pairs": lambda: _winnow(big, pairs=True),
        # C47 fuzzy join: 50k x 50k approximate-key linkage
        "fuzzy_join": lambda: _fuzzy(big.sparkSession),
        # d1 route on the gram path's failure envelope (hub-only keys)
        "fuzzy_homog_d1": lambda: _fuzzy_homog(big.sparkSession),
        # d2 FastSS route at 50k x 50k (VERDICT r5 item 3)
        "fuzzy_d2": lambda: _fuzzy_d2(big.sparkSession),
        # C50 purity audit over the real clustering of the replicated
        # corpus (copies-member clusters): member-to-rep exact Jaccard
        "cluster_purity": lambda: _purity(big),
        # C46 one-pass profile + expectations over the corpus
        "profile_table": lambda: _profile_op(big),
        # C45 funnel blame over three synthetic stages
        "funnel_blame": lambda: _funnel_op(big),
        # C42 grouped variant: per-source budgets over a 10-source split
        "budget_select_grouped": lambda: _budget_grouped(big),
        # the composed curation pipeline end-to-end incl. parquet write
        "curate_chain": lambda: _curate_chain(big),
        # C52 epoch materialization: one broadcast join + tiny explode
        "epoch_repeats": lambda: _epoch_repeats(big),
        # C53 curriculum order: quantile cuts + range exchange
        "curriculum_order": lambda: _curriculum(big),
        "verify_archive": lambda: _scrub(big),
    }
    for name, build in ops.items():
        if wanted and name not in wanted:
            continue
        best, rows = float("inf"), None
        for _ in range(args.reps):
            t = time.time()
            rows = build().count()
            best = min(best, time.time() - t)
        print(json.dumps({"op": name, "sec": round(best, 2), "rows": rows}))

    if wanted and "gate_soak" in wanted:
        _gate_soak(spark, args.sf_dir, n_batches=args.soak_batches)

    if wanted and "gate_soak_composed" in wanted:
        _composed_soak(spark, args.sf_dir, n_batches=args.soak_batches)

    if wanted and "media_gate_soak" in wanted:
        _media_gate_soak(spark, n_batches=args.soak_batches)

    if wanted and "clip_gate_soak" in wanted:
        _clip_gate_soak(spark, n_batches=min(15, args.soak_batches))

    if wanted and "takedown_scale" in wanted:
        _takedown_scale(spark)

    if wanted and "phash_corpus" in wanted:
        _phash_bench(spark)

    if wanted and "video_corpus" in wanted:
        _video_bench(spark)

    if wanted and not wanted & {
        "pca_project",
        "ivf_topk",
        "semantic_dedup",
        "cosine_pairs_blocked",
        "pq_encode",
        "pq_topk",
        "ann_recall",
        "pq_recall_clustered",
        "ann_drift",
        "ann_drift_lazy",
        "bpe_1k",
    }:
        return

    # embeddings side: replicate vec_ids with identical vectors — the
    # exact-duplicate worst case for pair emission and greedy dedup
    from dbbspark.operators.similarity import (
        cosine_pairs_above_blocked,
        ivf_topk,
        semantic_dedup,
        train_centroids,
    )

    emb = load_table(spark, args.sf_dir, "embeddings").select("vec_id", "embedding")
    parts = [emb]
    for i in range(1, args.copies):
        parts.append(
            emb.select(
                (F.col("vec_id") + i * 1_000_000).alias("vec_id"), "embedding"
            )
        )
    bigv = parts[0]
    for p in parts[1:]:
        bigv = bigv.unionByName(p)
    bigv = bigv.repartition(32).localCheckpoint(eager=True)
    print(json.dumps({"op": "vectors", "rows": bigv.count()}))
    cents = train_centroids(bigv, k=32).localCheckpoint(eager=True)
    cents.count()
    queries = bigv.limit(200).localCheckpoint(eager=True)
    queries.count()

    from dbbspark.operators.similarity import pca_project

    vops = {
        "pca_project": lambda: pca_project(bigv, k=16, whiten=True)[2],
        "ivf_topk": lambda: ivf_topk(bigv, queries, cents, k=5, probes=2),
        "semantic_dedup": lambda: semantic_dedup(bigv, cents, eps=0.05),
        "cosine_pairs_blocked": lambda: cosine_pairs_above_blocked(bigv, 0.45),
        # B sweep (VERDICT r3 item 6): shuffle volume is O(N·B·d), per-
        # task compute O((N/B)²·d) — the sweep finds the local knee
        "cosine_blocked_B4": lambda: cosine_pairs_above_blocked(
            bigv, 0.45, num_blocks=4
        ),
        "cosine_blocked_B16": lambda: cosine_pairs_above_blocked(
            bigv, 0.45, num_blocks=16
        ),
        "cosine_blocked_B32": lambda: cosine_pairs_above_blocked(
            bigv, 0.45, num_blocks=32
        ),
        # C35 PQ at scale: encode is map-only; ADC search shuffles only
        # per-batch partial top-k (candidate-sized, never |Q|x|N|)
        "pq_encode": lambda: _pq(bigv, "encode"),
        "pq_topk": lambda: _pq(bigv, "topk"),
    }
    for name, build in vops.items():
        if wanted and name not in wanted:
            continue
        best, rows = float("inf"), None
        for _ in range(args.reps):
            t = time.time()
            rows = build().count()
            best = min(best, time.time() - t)
        print(json.dumps({"op": name, "sec": round(best, 2), "rows": rows}))

    if not wanted or "ann_recall" in wanted:
        _ann_recall(spark, bigv, args.reps)

    if wanted and "pq_recall_clustered" in wanted:
        _pq_recall_clustered(spark)

    if wanted and "ann_drift" in wanted:
        _ann_drift(spark)

    if wanted and "ann_drift_lazy" in wanted:
        _ann_drift_lazy(spark)

    if wanted and "bpe_1k" in wanted:
        _bpe_scale(spark, args.sf_dir)

    if not wanted or wanted & {"zorder_scan_clustered", "zorder_scan_xsorted"}:
        _zorder_bench(spark, args.reps)


_Z_STATE: dict = {}


def _zorder_layouts(spark):
    """2M-row (x, y, payload) dataset written twice: Z-ordered on (x, y)
    vs range-sorted on x alone — same rows, same file count. The scan
    bench then shows what row-group min-max skipping is worth when the
    filter touches BOTH dims."""
    if _Z_STATE:
        return _Z_STATE
    import tempfile

    from dbbspark.operators.layout import zorder_write

    base = tempfile.mkdtemp(prefix="zorder-bench-")
    df = spark.range(0, 2_000_000).select(
        F.pmod(F.xxhash64("id"), F.lit(1_000_000)).alias("x"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1_000_000)).alias("y"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    t = time.time()
    zorder_write(df, f"{base}/z", ["x", "y"], n_files=64, bits=10)
    z_sec = round(time.time() - t, 2)
    t = time.time()
    (
        df.repartitionByRange(64, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(f"{base}/xsort")
    )
    x_sec = round(time.time() - t, 2)
    print(json.dumps({"op": "zorder_write", "sec": z_sec, "rows": 2_000_000}))
    print(json.dumps({"op": "xsort_write", "sec": x_sec, "rows": 2_000_000}))
    _Z_STATE.update({"z": f"{base}/z", "xsort": f"{base}/xsort"})
    return _Z_STATE


def _zorder_bench(spark, reps: int) -> None:
    paths = _zorder_layouts(spark)
    # selective 5%x5% box — the pushed filters reach the parquet reader
    # either way; layout decides how many row groups survive the stats
    pred = (
        (F.col("x").between(510_000, 560_000))
        & (F.col("y").between(510_000, 560_000))
    )
    for name, path in (("zorder_scan_clustered", paths["z"]),
                       ("zorder_scan_xsorted", paths["xsort"])):
        best, rows = float("inf"), None
        for _ in range(reps):
            t = time.time()
            rows = (
                spark.read.parquet(path)
                .where(pred)
                .agg(F.count("payload").alias("n"))
                .first()["n"]
            )
            best = min(best, time.time() - t)
        print(json.dumps({"op": name, "sec": round(best, 2), "rows": rows}))


_PQ_STATE: dict = {}


def _pq(bigv, which):
    """PQ over the replicated vectors: codebooks trained once (m=8
    subspaces, k=16); encode and ADC top-k timed separately. Queries are
    a 200-vector broadcast-sized slice, the same shape as the other ANN
    timings."""
    from dbbspark.operators.pq import pq_encode, pq_topk, train_pq

    if "books" not in _PQ_STATE:
        _PQ_STATE["books"] = train_pq(bigv, m=8, k=16, vec_col="embedding", max_iter=5)
        _PQ_STATE["queries"] = bigv.limit(200).localCheckpoint(eager=True)
        _PQ_STATE["queries"].count()
    if which == "encode":
        return pq_encode(bigv, _PQ_STATE["books"])
    if "codes" not in _PQ_STATE:
        _PQ_STATE["codes"] = pq_encode(bigv, _PQ_STATE["books"]).localCheckpoint(
            eager=True
        )
        _PQ_STATE["codes"].count()
    return pq_topk(
        _PQ_STATE["codes"], _PQ_STATE["queries"], _PQ_STATE["books"], k=5
    )


def _ann_recall(spark, bigv, reps: int) -> None:
    """k-means IVF (+PCA whitening) vs exact brute force at scale
    (VERDICT r3 item 8): recall@5 and latency for the real-cluster ANN
    path — trained centroids over the whitened 16-dim projection, multi-
    probe sweep — against brute_force_topk ground truth in the ORIGINAL
    space. The corpus is jittered per-replica (deterministic sin() noise)
    so replicas are near- but not exact duplicates; exact-dup ties would
    make top-k rank comparison meaningless."""
    import time as _t

    from pyspark.sql import functions as FF

    from dbbspark.operators.similarity import (
        apply_pca,
        brute_force_topk,
        ivf_topk,
        pca_project,
        train_centroids,
    )

    jit = bigv.select(
        "vec_id",
        FF.transform(
            "embedding",
            lambda x, j: x + FF.sin(FF.col("vec_id") * 37 + j) * FF.lit(0.05),
        ).alias("embedding"),
    ).localCheckpoint(eager=True)
    queries = jit.limit(100).localCheckpoint(eager=True)
    queries.count()

    truth = brute_force_topk(jit, queries, k=5)
    t0 = _t.time()
    truth_rows = truth.localCheckpoint(eager=True)
    n_truth = truth_rows.count()
    brute_sec = _t.time() - t0

    model, scales, proj = pca_project(jit, k=16, whiten=True)
    proj = proj.localCheckpoint(eager=True)
    proj.count()  # isolate ANN timing from the PCA fit
    pqueries = apply_pca(model, queries, scales=scales).localCheckpoint(
        eager=True
    )
    pqueries.count()
    cents = train_centroids(proj, k=32).localCheckpoint(eager=True)
    cents.count()

    for probes in (1, 2, 4):
        best, hits = float("inf"), 0
        for _ in range(reps):
            t0 = _t.time()
            got = ivf_topk(proj, pqueries, cents, k=5, probes=probes)
            hits = got.join(
                truth_rows, ["query_id", "neighbor_id"], "inner"
            ).count()
            best = min(best, _t.time() - t0)
        print(
            json.dumps(
                {
                    "op": f"ann_ivf_pca_probes{probes}",
                    "sec": round(best, 2),
                    "recall_at_5": round(hits / max(n_truth, 1), 4),
                    "brute_sec": round(brute_sec, 2),
                }
            )
        )


def _ann_drift(spark) -> None:
    """C39 drift policy cost accounting: gate 4×10k-vector batches
    (d=64) through the batch caller with the per-batch reconstruction
    profile; batch 3 drifts (shifted mixture) and triggers a retrain +
    full index re-key. Reports the steady-state per-batch overhead of
    the profile check and the one-time retrain+rebuild cost."""
    import time as _t

    from pyspark.sql import functions as FF

    from dbbspark.operators.pq import train_ivfpq
    from dbbspark.operators.similarity import train_centroids
    from dbbspark.streaming.annindex import (
        _index_codes,
        process_batch,
        quantizer_drift,
        quantizer_profile,
        rebuild_index,
        retrain_quantizer,
    )
    import tempfile

    base_center = "sin((id % 16) * 7.31 + j * 1.77) * 2.0"
    drift_center = "sin((id % 16) * 3.91 + j * 2.33) * 2.5"
    noise = "(mod(sin(id * 12.9898 + j * 78.233) * 43758.5453, 1.0) - 0.5)"

    def batch(start, n, center):
        return (
            spark.range(start, start + n)
            .select(
                FF.col("id").alias("vec_id"),
                FF.expr(
                    f"transform(sequence(0, 63), "
                    f"j -> cast({center} + {noise} * 0.8 as double))"
                ).alias("embedding"),
            )
            .localCheckpoint(eager=True)
        )

    boot = batch(0, 20_000, base_center)
    cents = train_centroids(boot, k=16).localCheckpoint(eager=True)
    cents.count()
    books = train_ivfpq(boot, cents, m=8, k=16)
    root = tempfile.mkdtemp(prefix="dbbspark_anndrift_")
    idx, acc = f"{root}/idx", f"{root}/acc"

    baseline = None
    state_c, state_b = cents, books
    for bid, center in enumerate([base_center, base_center, drift_center, drift_center]):
        bvec = batch(1_000_000 * (bid + 1), 10_000, center)
        t0 = _t.time()
        prof = quantizer_profile(bvec, state_c, state_b)
        prof_sec = _t.time() - t0
        retrain_sec = 0.0
        if baseline is None:
            baseline = prof
        elif quantizer_drift(baseline, prof, stds=2.0):
            t0 = _t.time()
            acc_vecs = spark.read.parquet(acc).select("vec_id", "embedding")
            state_c, state_b = retrain_quantizer(
                acc_vecs.unionByName(bvec), 16, 8, 16
            )
            rebuild_index(spark, acc, idx, state_c, state_b)
            baseline = quantizer_profile(bvec, state_c, state_b)
            retrain_sec = _t.time() - t0
        t0 = _t.time()
        process_batch(bvec, bid, idx, acc, state_c, state_b)
        gate_sec = _t.time() - t0
        print(
            json.dumps(
                {
                    "op": f"ann_drift_batch{bid}",
                    "profile_sec": round(prof_sec, 2),
                    "gate_sec": round(gate_sec, 2),
                    "retrain_sec": round(retrain_sec, 2),
                    "index_rows": _index_codes(spark, idx).count(),
                }
            )
        )


def _pq_recall_clustered(spark) -> None:
    """IVFPQ recall on CLUSTERED vectors (VERDICT r4 item 3): the
    existing PQ grid runs on near-random vectors — PQ's worst case
    (recall 0.08-0.40 raw). Real embedding corpora are mixtures; this
    fixture is 32 Gaussian-ish clusters (deterministic sin-hash noise)
    of 50k x d=64 vectors, the regime IVF cells + residual codebooks
    are built for. Reports raw ADC recall@5 at probes 1/2/4 and the
    rerank@50 recovery at probes=4, against brute-force ground truth."""
    import time as _t

    from pyspark.sql import Window
    from pyspark.sql import functions as FF

    from dbbspark.operators.pq import ivfpq_encode, ivfpq_topk, train_ivfpq
    from dbbspark.operators.similarity import (
        brute_force_topk,
        matmul_scores,
        train_centroids,
    )

    d, n_clusters = 64, 32
    # Mixture with LOW-RANK intra-cluster structure: vector = cluster
    # center + 4 cluster-specific directions scaled by per-doc sin-hash
    # coefficients (+ a little isotropic jitter). Real embedding
    # corpora live on such local manifolds — the regime residual PQ is
    # built for; full-rank uniform noise would be as incompressible as
    # the existing random worst-case grid.
    center = "sin((id % 32) * 7.31 + j * 1.77) * 2.0"
    manifold = " + ".join(
        f"(mod(sin(id * {12.9898 + r * 3.7:.4f}) * 43758.5453, 1.0) - 0.5)"
        f" * sin((id % 32) * 13.0 + {r} * 2.1 + j * 0.77) * 1.5"
        for r in range(4)
    )
    jitter = "(mod(sin(id * 7.77 + j * 113.1) * 43758.5453, 1.0) - 0.5) * 0.08"
    vecs = (
        spark.range(50_000)
        .select(
            FF.col("id").alias("vec_id"),
            FF.expr(
                f"transform(sequence(0, {d - 1}), "
                f"j -> cast({center} + {manifold} + {jitter} as double))"
            ).alias("embedding"),
        )
        .localCheckpoint(eager=True)
    )
    vecs.count()
    queries = vecs.where(FF.col("vec_id") % 250 == 0).localCheckpoint(eager=True)
    nq = queries.count()

    truth = brute_force_topk(vecs, queries, k=5).localCheckpoint(eager=True)
    n_truth = truth.count()

    cents = train_centroids(vecs, k=n_clusters).localCheckpoint(eager=True)
    cents.count()
    books = train_ivfpq(vecs, cents, m=16, k=16)
    index = ivfpq_encode(vecs, cents, books).localCheckpoint(eager=True)
    index.count()

    for probes in (1, 2, 4):
        t0 = _t.time()
        got = ivfpq_topk(index, queries, cents, books, k=5, probes=probes)
        hits = got.join(truth, ["query_id", "neighbor_id"], "inner").count()
        sec = _t.time() - t0
        print(
            json.dumps(
                {
                    "op": f"ivfpq_clustered_probes{probes}",
                    "recall_at5": round(hits / n_truth, 3),
                    "sec": round(sec, 2),
                    "queries": nq,
                }
            )
        )

    # rerank@50 at probes=4: shortlist from ADC, exact cosine reorder
    t0 = _t.time()
    cand = ivfpq_topk(index, queries, cents, books, k=50, probes=4).select(
        "query_id", FF.col("neighbor_id").alias("vec_id")
    )
    cand_vecs = vecs.join(cand.select("vec_id").distinct(), "vec_id", "left_semi")
    exact = matmul_scores(cand_vecs, queries, out_id="query_id")
    exact = exact.join(
        cand.withColumnRenamed("vec_id", "vid"), ["query_id", "vid"], "left_semi"
    ).where(FF.col("vid") != FF.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(FF.desc("sim"), FF.asc("vid"))
    rer = (
        exact.withColumn("rank", FF.row_number().over(w))
        .where(FF.col("rank") <= 5)
        .select("query_id", FF.col("vid").alias("neighbor_id"))
    )
    hits = rer.join(truth, ["query_id", "neighbor_id"], "inner").count()
    print(
        json.dumps(
            {
                "op": "ivfpq_clustered_rerank50_probes4",
                "recall_at5": round(hits / n_truth, 3),
                "sec": round(_t.time() - t0, 2),
                "queries": nq,
            }
        )
    )


if __name__ == "__main__":
    main()
