"""Streaming ANN-index gate — rolling-corpus embedding dedup over a
persisted IVFPQ index (SURVEY.md §2.11 C39; composes C35's codes with
the C17/C30 gate discipline).

A crawl's embedding stream needs the SemDeDup decision — "is this
semantically new?" — against everything previously ACCEPTED, without
ever re-scoring the corpus against itself. Keeping float vectors as the
corpus memory is what makes that expensive; this gate keeps only the
IVFPQ index rows (cell + m sub-codes + norm ≈ 8-16 bytes/vector vs 4d
bytes of float32) and, per micro-batch:

1. encodes the batch against the FIXED centroids/codebooks (map-only;
   the quantizer is trained once on a bootstrap sample — retraining
   mid-stream would silently re-key the whole index);
2. ADC-scores the batch against the prior index (`pq.ivfpq_topk` —
   batch rows are the query side, micro-batch-sized by construction)
   and rejects vectors within ``eps`` cosine of an indexed one;
3. within the batch, greedy keep-lowest-id among mutual near-dups
   (same one-pass convention as streaming/neardedup.py step 3);
4. appends accepted vectors + their index rows, docs-first/index-last,
   both as ``batch=<id>`` dynamic-partition overwrites — retry replaces
   its own partitions, and the index read excludes partitions >=
   batch_id so a crashed attempt can't collide the batch with itself.

Two rejection rules compose:

- VECTOR-HASH IDENTITY (exact): each index row carries
  xxhash64(embedding); a batch vector whose hash matches an indexed
  one is a byte-identical duplicate — caught with zero false negatives
  however coarse the quantizer, and with no dependence on ADC error.
  (Quantization-BUCKET identity was deliberately rejected as the exact
  rule: with a coarse codebook it collapses merely-similar items —
  measured on the multimodal example, 47 items → 12 survivors under
  bucket identity vs the intended dups-only rejection.)
- ADC THRESHOLD (operating): vectors within ``eps`` ADC-cosine of an
  indexed one. The ADC estimate errs both ways (it compares the float
  query to the QUANTIZED corpus row), so ``eps`` is an operating
  threshold, not an exact ε-ball — production pipelines follow the
  accept path with the exact re-rank (`pq_topk_reranked`) when the
  boundary must be crisp.

Tests pin what is exact regardless: hash-identity collisions, retry
idempotence, stream ≡ batch, and index accounting."""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import batch_lit, sql_ident
from ..operators.pq import ivfpq_encode, ivfpq_topk


def _index_codes(
    spark: SparkSession, index_dir: str, before: int | None = None,
    with_gen: bool = False,
) -> DataFrame:
    """The persisted (vec_id, cell, code, norm) index; empty on first
    run. Same partition-bounded read rule as neardedup._index_signatures.
    ``with_gen`` adds the quantizer-generation column (0 where the index
    predates generation stamping) for multi-generation ADC scoring."""
    cols = "vec_id long, cell long, code array<bigint>, norm double, vhash long"
    try:
        # mergeSchema: a mixed index (pre-gen partitions + gen-stamped
        # partitions — the plain-gate → drift-gate upgrade path) must not
        # lose the gen column to single-footer schema inference, or every
        # row would read as generation 0 and ADC would decode gen-N codes
        # under gen-0 codebooks
        idx = spark.read.option("mergeSchema", "true").parquet(index_dir)
        if before is not None and "batch" in idx.columns:
            idx = idx.where(F.col("batch") < before)
        if not with_gen:
            return idx.select("vec_id", "cell", "code", "norm", "vhash")
        gen_col = (
            F.coalesce(F.col("gen"), F.lit(0)).cast("int")
            if "gen" in idx.columns
            else F.lit(0).cast("int")
        )
        return idx.select(
            "vec_id", "cell", "code", "norm", "vhash", gen_col.alias("gen")
        )
    except AnalysisException:
        return spark.createDataFrame(
            [], cols + (", gen int" if with_gen else "")
        )


def gate_batch(
    batch: DataFrame,
    index_codes: DataFrame,
    centroids: DataFrame,
    codebooks,
    eps: float = 0.05,
    probes: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantizers_by_gen: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(accepted_vectors, accepted_index_rows) for one batch against the
    prior index. Pure DataFrame logic, shared by streaming and batch
    callers (pins streaming ≡ batch in tests).

    ``quantizers_by_gen`` ({gen: (centroids_df, codebooks)}) enables
    MULTI-GENERATION ADC: after a lazy re-key retrain the index holds
    codes from several codebook generations, and each stratum must be
    scored under the codebooks it was ENCODED with (codes are
    codebook-relative ciphertext). The index is split by its ``gen``
    column and `ivfpq_topk` runs per generation over DISJOINT row
    subsets — same total probed volume as a single-generation scan,
    one extra job per extra live generation (bounded by the re-key
    horizon). Requires ``index_codes`` to carry ``gen``."""
    if not 0.0 < eps < 1.0:
        raise ValueError("eps must be in (0, 1)")
    enc = ivfpq_encode(batch, centroids, codebooks, id_col, vec_col).join(
        batch.select(
            F.col(id_col).alias("vec_id"),
            F.xxhash64(F.col(vec_col)).alias("vhash"),
        ),
        "vec_id",
    )
    cut = 1.0 - eps
    # exact rule: identical embedding hash as an indexed row ⇒ duplicate
    code_rejects = (
        enc.join(index_codes.select(F.col("vhash").alias("__vh")),
                 enc.vhash == F.col("__vh"), "left_semi")
        .select(F.col("vec_id").alias(id_col))
        .distinct()
    )
    # within batch, same rule, keep-lowest id
    e2 = enc.select(
        F.col("vec_id").alias("__other"), F.col("vhash").alias("__vh2")
    )
    code_rejects_within = (
        enc.join(e2, enc.vhash == F.col("__vh2"))
        .where(F.col("__other") < F.col("vec_id"))
        .select(F.col("vec_id").alias(id_col))
        .distinct()
    )
    # operating rule: within eps ADC-cosine of an indexed row
    if index_codes.isEmpty():
        vs_corpus_rejects = batch.select(F.col(id_col)).limit(0)
    elif quantizers_by_gen is not None:
        live = sorted(
            r["gen"]
            for r in index_codes.select("gen").distinct().collect()
        )
        missing = [g for g in live if g not in quantizers_by_gen]
        if missing:
            raise RuntimeError(
                f"index holds generations {missing} with no persisted "
                "quantizer — re-key them (rekey_stale_partitions) or "
                "restore the quantizer store"
            )
        rejects = []
        for g in live:
            g_cents, g_books = quantizers_by_gen[g]
            hits_g = ivfpq_topk(
                index_codes.where(F.col("gen") == g).drop("gen"),
                batch, g_cents, g_books,
                k=1, probes=probes, id_col=id_col, vec_col=vec_col,
            )
            rejects.append(
                hits_g.where(F.col("sim") >= cut).select(
                    F.col("query_id").alias(id_col)
                )
            )
        vs_corpus_rejects = rejects[0]
        for r in rejects[1:]:
            vs_corpus_rejects = vs_corpus_rejects.unionByName(r)
    else:
        hits = ivfpq_topk(
            index_codes, batch, centroids, codebooks,
            k=1, probes=probes, id_col=id_col, vec_col=vec_col,
        )
        vs_corpus_rejects = (
            hits.where(F.col("sim") >= cut).select(
                F.col("query_id").alias(id_col)
            )
        )
    # within batch: greedy keep-lowest — a batch row colliding with a
    # LOWER-id batch row is rejected (one-pass convention on chains)
    self_hits = ivfpq_topk(
        enc, batch, centroids, codebooks,
        k=8, probes=probes, id_col=id_col, vec_col=vec_col,
    )
    within_rejects = (
        self_hits.where(
            (F.col("sim") >= cut) & (F.col("neighbor_id") < F.col("query_id"))
        )
        .select(F.col("query_id").alias(id_col))
        .distinct()
    )
    rejected = (
        code_rejects.unionByName(code_rejects_within)
        .unionByName(vs_corpus_rejects)
        .unionByName(within_rejects)
        .distinct()
    )
    accepted = batch.join(rejected, id_col, "left_anti")
    accepted_codes = enc.join(
        accepted.select(F.col(id_col).alias("vec_id")), "vec_id", "left_semi"
    )
    return accepted, accepted_codes


def process_batch(
    batch: DataFrame,
    batch_id: int,
    index_dir: str,
    accepted_dir: str,
    centroids: DataFrame,
    codebooks,
    eps: float = 0.05,
    probes: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    gen: int | None = None,
    quantizers_by_gen: dict | None = None,
    lock_wait: float = 0.0,
    lock_break_stale_after: float | None = None,
) -> None:
    """One micro-batch's side effects, idempotent under foreachBatch
    retry — vectors first, index last, batch=<id> dynamic overwrites,
    predecessor-bounded index read (same contract as neardedup).

    ``gen`` (drift-gate callers) stamps the appended index rows with the
    quantizer generation, so a restart can detect codes encoded under a
    different codebook than the persisted quantizer.
    ``quantizers_by_gen`` routes scoring through the multi-generation
    ADC path (lazy re-key mode — see `gate_batch`).

    Concurrency (r12): the read->write section holds
    ``commit.exclusive_lock`` on the index root — the lock
    remove_from_index / takedown / compact_gate_index hold for their
    two-rename partition swaps — so a gate read can never land inside
    a swap window and re-admit a surviving code's duplicates
    (loser-aborts by default; ``lock_wait`` switches to bounded
    retry-with-backoff so a live stream rides out brief maintenance,
    ``lock_break_stale_after`` recovers from a driver killed -9 inside
    a locked batch — see mediadedup.process_batch for the full
    contract)."""
    from ..commit import exclusive_lock

    spark = batch.sparkSession
    bid = int(batch_id)
    with exclusive_lock(
        spark, index_dir, purpose=f"gate_batch={bid}",
        wait=lock_wait, break_stale_after=lock_break_stale_after,
    ):
        return _process_batch_locked(
            batch, bid, index_dir, accepted_dir, centroids, codebooks,
            eps, probes, id_col, vec_col, gen, quantizers_by_gen,
        )


def _process_batch_locked(
    batch, bid, index_dir, accepted_dir, centroids, codebooks,
    eps, probes, id_col, vec_col, gen, quantizers_by_gen,
) -> None:
    spark = batch.sparkSession
    accepted, accepted_codes = gate_batch(
        batch,
        _index_codes(
            spark, index_dir, before=bid,
            with_gen=quantizers_by_gen is not None,
        ),
        centroids,
        codebooks,
        eps,
        probes,
        id_col,
        vec_col,
        quantizers_by_gen=quantizers_by_gen,
    )
    if gen is not None:
        accepted_codes = accepted_codes.withColumn("gen", F.lit(int(gen)))
    for df, sink in ((accepted, accepted_dir), (accepted_codes, index_dir)):
        (
            df.withColumn("batch", batch_lit(bid))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch")
            .parquet(sink)
        )


def streaming_ann_gate(
    vectors: DataFrame,
    index_dir: str,
    accepted_dir: str,
    checkpoint_dir: str,
    centroids: DataFrame,
    codebooks,
    eps: float = 0.05,
    probes: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Run the gate over a streaming DataFrame of embeddings; returns
    the started StreamingQuery (availableNow in tests)."""

    def _one_batch(batch: DataFrame, batch_id: int) -> None:
        process_batch(
            batch, batch_id, index_dir, accepted_dir,
            centroids, codebooks, eps, probes, id_col, vec_col,
        )

    return (
        vectors.writeStream.foreachBatch(_one_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# Quantizer drift policy (VERDICT r4 item 3): the gate above runs on FROZEN
# centroids/codebooks — right for a stationary stream, silently degrading
# when the embedding distribution drifts (new domain, new encoder version):
# cells unbalance, residuals leave the codebooks' support, ADC scores
# decay, and the eps threshold stops meaning what it was tuned to mean.
# The drift SIGNAL is map-only and corpus-free: the cosine between each
# batch vector and its own IVFPQ reconstruction (high ⇔ the quantizer
# still fits the data). The C46 profiler machinery summarizes it per
# batch and `profile_drift(mean_shift_stds=...)` flags the shift; on
# breach the quantizer retrains on the durable accepted vectors and the
# code index is REBUILT (codes are meaningless across codebooks — a
# re-key, not an append). The vector-hash identity rule is unaffected
# throughout (exact regardless of quantizer), so retrains never
# reintroduce byte-identical duplicates.
# ---------------------------------------------------------------------------


def reconstruction_sims(
    vectors: DataFrame,
    centroids: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, recon_sim): cosine between each vector and its IVFPQ
    reconstruction (centroid + codebook entries) — the quantizer-fit
    signal. Map-only over Arrow batches; nothing touches the index."""
    import numpy as np
    import pandas as pd

    from ..operators.pq import _residuals

    books = np.asarray(codebooks, dtype=np.float64)
    m, _k, sub = books.shape
    cent_rows = centroids.select(id_col, vec_col).toPandas()
    C = {
        int(r[id_col]): np.asarray(r[vec_col], dtype=np.float64)
        for _, r in cent_rows.iterrows()
    }
    cnorm2 = (books**2).sum(axis=2)
    res = _residuals(vectors, centroids, id_col, vec_col)

    def sims(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            R = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cells = pdf["cell"].to_numpy()
            recon = np.empty_like(R)
            for j in range(m):
                X = R[:, j * sub : (j + 1) * sub]
                d2 = cnorm2[j][None, :] - 2.0 * (X @ books[j].T)
                code = np.argmin(d2, axis=1)
                recon[:, j * sub : (j + 1) * sub] = books[j][code]
            cents = np.stack([C[int(c)] for c in cells])
            V = cents + R  # original vector = centroid + residual
            W = cents + recon  # its quantized reconstruction
            denom = np.linalg.norm(V, axis=1) * np.linalg.norm(W, axis=1)
            denom = np.where(denom == 0, 1.0, denom)
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].to_numpy(),
                    "recon_sim": (V * W).sum(axis=1) / denom,
                }
            )

    return res.select(id_col, "cell", vec_col).mapInPandas(
        sims, "vec_id long, recon_sim double"
    )


def quantizer_profile(
    vectors: DataFrame,
    centroids: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """One-pass C46 profile of the reconstruction-cosine distribution —
    the per-batch fit summary the drift check compares (O(1) driver
    state, mergeable with the profiler's sketch form if batched)."""
    from ..operators.profile import profile_table

    return profile_table(
        reconstruction_sims(
            vectors, centroids, codebooks, id_col, vec_col
        ).select("recon_sim")
    )


def quantizer_drift(
    baseline: dict, batch_profile: dict, stds: float = 2.0
) -> list[dict]:
    """profile_drift findings between the bootstrap-time fit profile and
    a batch's — a ``mean_shift`` on recon_sim is the retrain trigger."""
    from ..operators.profile import profile_drift

    return [
        f
        for f in profile_drift(baseline, batch_profile, mean_shift_stds=stds)
        if f["kind"] == "mean_shift"
    ]


def _quantizer_root(index_dir: str) -> str:
    # SIBLING dir (cf. linededup's `<index>.bloom`): never inside index_dir,
    # where partition discovery would try to parse it
    return f"{index_dir.rstrip('/')}.quantizer"


def save_quantizer(
    spark: SparkSession,
    index_dir: str,
    centroids: DataFrame,
    codebooks,
    baseline: dict | None,
    gen: int,
    min_live_gen: int | None = None,
) -> None:
    """Persist the live quantizer (centroids + codebooks + drift baseline
    + generation) as a committed snapshot next to the index.

    Closes the ADVICE r5 restart hazard: the retrained quantizer used to
    live only in the driver-local ``state`` dict, so after a drift
    retrain rebuilt the index under new codebooks, a process restart
    re-entered the gate with the caller's ORIGINAL frozen quantizer —
    and the streaming checkpoint meant the triggering batches never
    replayed — leaving ADC scoring old codebooks against new-generation
    codes (silent eps-gate degradation; only the vhash rule stayed
    exact). Persisting through `commit.commit_snapshot` makes the save
    atomic and multi-writer safe; `load_quantizer` resolves the newest
    committed snapshot at gate start.

    One row, nested: centroids are n_cells × dim (quantizer-sized, not
    corpus-sized), so a single-row parquet is the right shape."""
    import json as _json

    import numpy as np

    from ..commit import commit_snapshot, prune_commit_records, prune_snapshots

    cent_rows = centroids.collect()
    row = (
        [[[float(x) for x in sub] for sub in book] for book in np.asarray(codebooks)],
        _json.dumps(baseline, default=float) if baseline is not None else None,
        [int(r[0]) for r in cent_rows],
        [[float(x) for x in r[1]] for r in cent_rows],
        int(gen),
    )
    schema = (
        "codebooks array<array<array<double>>>, baseline string, "
        "cent_ids array<bigint>, cent_vecs array<array<double>>, gen int"
    )

    def write_fn(path: str) -> None:
        spark.createDataFrame([row], schema).coalesce(1).write.parquet(path)

    root = _quantizer_root(index_dir)
    commit_snapshot(spark, root, write_fn)
    if min_live_gen is None:
        prune_snapshots(spark, root, keep_last=2)
    else:
        prune_quantizers(spark, index_dir, min_live_gen)
    # bounded commit log (r7): saves are rare (retrain/baseline change),
    # but a year of them still accumulates records; the day horizon
    # protects any live concurrent saver between its CAS and rename
    prune_commit_records(spark, root)


def prune_quantizers(
    spark: SparkSession, index_dir: str, min_live_gen: int
) -> None:
    """Prune quantizer snapshots that no index row can need: keep the
    newest snapshot of every generation >= ``min_live_gen`` (lazy re-key
    keeps several generations LIVE at once — count-based pruning would
    delete codebooks that stale partitions still decode under) plus the
    newest snapshot overall."""
    from ..commit import committed_versions
    from ..maintenance import _fs_and_path

    root = _quantizer_root(index_dir)
    vs = committed_versions(spark, root)
    if not vs:
        return
    newest_by_gen: dict[int, int] = {}
    for v in vs:  # ascending: later snapshot of a gen overwrites
        try:
            row = spark.read.parquet(f"{root}/v={v}").first()
        except AnalysisException:
            continue
        if row is not None:
            newest_by_gen[int(row["gen"])] = v
    keep = {
        v for g, v in newest_by_gen.items() if g >= min_live_gen
    }
    keep.add(vs[-1])
    try:
        fs, _, jvm = _fs_and_path(spark, root)
        Path = jvm.org.apache.hadoop.fs.Path
        for v in vs:
            if v not in keep:
                fs.delete(Path(f"{root}/v={v}"), True)
    except Exception:
        pass  # pruning is best-effort; stale snapshots cost only space


def load_quantizer(
    spark: SparkSession, index_dir: str, id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """(centroids_df, codebooks, baseline, gen) from the newest committed
    quantizer snapshot, or None when absent (first run). The restored
    centroids DataFrame is eagerly checkpointed — same contract as the
    bootstrap-trained one."""
    import json as _json

    from ..commit import read_latest

    df = read_latest(spark, _quantizer_root(index_dir))
    if df is None:
        return None
    row = df.first()
    if row is None:
        return None
    cents, books = _quantizer_from_row(spark, row, id_col, vec_col)
    baseline = _json.loads(row["baseline"]) if row["baseline"] else None
    return cents, books, baseline, int(row["gen"])


def _quantizer_from_row(
    spark: SparkSession, row, id_col: str, vec_col: str
):
    cents = spark.createDataFrame(
        list(zip(row["cent_ids"], [list(v) for v in row["cent_vecs"]])),
        f"{sql_ident(id_col)} long, {sql_ident(vec_col)} array<double>",
    ).localCheckpoint(eager=True)
    books = [[list(sub) for sub in book] for book in row["codebooks"]]
    return cents, books


def load_quantizer_generations(
    spark: SparkSession, index_dir: str, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """{gen: (centroids_df, codebooks)} for every generation still in
    the store (newest snapshot per gen wins — baseline re-saves write a
    newer snapshot for the SAME gen). The multi-generation ADC scorer
    consumes this after a lazy re-key retrain."""
    from ..commit import committed_versions

    root = _quantizer_root(index_dir)
    out: dict = {}
    for v in committed_versions(spark, root):  # ascending: newest wins
        try:
            row = spark.read.parquet(f"{root}/v={v}").first()
        except AnalysisException:
            continue
        if row is None:
            continue
        out[int(row["gen"])] = _quantizer_from_row(spark, row, id_col, vec_col)
    return out


def index_generations(spark: SparkSession, index_dir: str) -> list[int]:
    """Distinct quantizer generations present in the code index
    (ascending; [] when the index is absent/empty/unstamped). More than
    one element = a lazily re-keyed index mid-convergence."""
    try:
        idx = spark.read.option("mergeSchema", "true").parquet(index_dir)
    except AnalysisException:
        return []
    if "gen" not in idx.columns:
        return []
    # null gen = a partition written before generation stamping — the
    # same "generation 0" convention _index_codes applies
    return sorted(
        int(r["g"])
        for r in idx.select(
            F.coalesce(F.col("gen"), F.lit(0)).alias("g")
        ).distinct().collect()
    )


def rekey_stale_partitions(
    spark: SparkSession,
    accepted_dir: str,
    index_dir: str,
    centroids: DataFrame,
    codebooks,
    gen: int,
    max_batches: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[int]:
    """Re-encode up to ``max_batches`` STALE batch partitions (gen !=
    current) under the current quantizer and dynamic-overwrite only
    those partitions (VERDICT r5 item 5 — the incremental alternative to
    `rebuild_index`'s O(corpus) rewrite). Idempotent: a crashed re-key
    leaves whole partitions either old-gen (still scorable under their
    own codebooks) or new-gen; re-running converges. Returns the batch
    ids re-keyed; [] when the index is single-generation already."""
    try:
        idx = spark.read.option("mergeSchema", "true").parquet(index_dir)
    except AnalysisException:
        return []
    if "gen" not in idx.columns:
        return []
    stale = sorted(
        int(r["batch"])
        for r in idx.where(
            F.coalesce(F.col("gen"), F.lit(0)) != int(gen)
        ).select("batch").distinct().collect()
    )
    if max_batches is not None:
        stale = stale[:max_batches]
    if not stale:
        return []
    acc = spark.read.parquet(accepted_dir).where(F.col("batch").isin(stale))
    enc = (
        ivfpq_encode(acc, centroids, codebooks, id_col, vec_col)
        .join(
            acc.select(
                F.col(id_col).alias("vec_id"),
                F.xxhash64(F.col(vec_col)).alias("vhash"),
                "batch",
            ),
            "vec_id",
        )
        .withColumn("gen", F.lit(int(gen)))
    )
    (
        enc.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch")
        .parquet(index_dir)
    )
    return stale


def index_generation(spark: SparkSession, index_dir: str) -> int | None:
    """The single generation stamped on the code index, or None when the
    index is absent/empty/unstamped. Raises on a MIXED index — codes
    from two codebook generations in one index corrupt every ADC score,
    so that state must never be scored against."""
    try:
        idx = spark.read.option("mergeSchema", "true").parquet(index_dir)
    except AnalysisException:
        return None
    if "gen" not in idx.columns:
        return None
    gens = sorted(
        int(r["g"])
        for r in idx.select(
            F.coalesce(F.col("gen"), F.lit(0)).alias("g")
        ).distinct().collect()
    )
    if not gens:
        return None
    if len(gens) > 1:
        raise RuntimeError(
            f"{index_dir}: code index holds MIXED quantizer generations "
            f"{sorted(gens)} — rebuild it (rebuild_index) before gating"
        )
    return int(gens[0])


def retrain_quantizer(
    vectors: DataFrame,
    n_cells: int,
    m: int,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """(centroids, codebooks) refit on the given vectors — same shapes
    as the frozen quantizer so every downstream consumer is drop-in."""
    from ..operators.pq import train_ivfpq
    from ..operators.similarity import train_centroids

    cents = train_centroids(vectors, k=n_cells, id_col=id_col, vec_col=vec_col)
    cents = cents.localCheckpoint(eager=True)
    books = train_ivfpq(vectors, cents, m=m, k=k, id_col=id_col, vec_col=vec_col)
    return cents, books


def rebuild_index(
    spark: SparkSession,
    accepted_dir: str,
    index_dir: str,
    centroids: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    gen: int | None = None,
) -> int:
    """Re-encode every ACCEPTED vector under a new quantizer and replace
    the code index wholesale (codes are codebook-relative — mixing
    generations would corrupt every ADC score). The accepted vectors are
    the durable source of truth, so a crashed rebuild is recovered by
    re-running it; batch partitions are preserved so the gate's
    predecessor-bounded reads keep working. ``gen`` stamps every row
    with the quantizer generation the codes were encoded under. Returns
    rows written."""
    acc = spark.read.parquet(accepted_dir)
    enc = ivfpq_encode(acc, centroids, codebooks, id_col, vec_col).join(
        acc.select(
            F.col(id_col).alias("vec_id"),
            F.xxhash64(F.col(vec_col)).alias("vhash"),
            "batch",
        ),
        "vec_id",
    )
    if gen is not None:
        enc = enc.withColumn("gen", F.lit(int(gen)))
    enc.write.mode("overwrite").partitionBy("batch").parquet(index_dir)
    return spark.read.parquet(index_dir).count()


def streaming_ann_gate_with_drift(
    vectors: DataFrame,
    index_dir: str,
    accepted_dir: str,
    checkpoint_dir: str,
    centroids: DataFrame,
    codebooks,
    eps: float = 0.05,
    probes: int = 2,
    drift_stds: float = 2.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rekey: str = "eager",
    rekey_batches_per_trigger: int = 2,
):
    """The frozen-quantizer gate plus the codebook-refresh policy.

    Per micro-batch, BEFORE gating: profile the batch's reconstruction
    cosines against the quantizer's baseline profile (established on the
    first batch). On a ``mean_shift`` beyond ``drift_stds`` baseline
    standard deviations: retrain centroids+codebooks on accepted ∪
    batch vectors, rebuild the code index under the new quantizer, and
    re-baseline. Retraining is deterministic (fixed k-means seeds) and
    the rebuild is a full overwrite, so a foreachBatch retry that
    re-triggers the retrain converges to the same state.

    RESTART SAFETY (ADVICE r5): the live quantizer + baseline persist as
    a committed snapshot next to the index (`save_quantizer`, atomic via
    the commit protocol) on every baseline/retrain change, and gate
    start resolves the persisted quantizer IN PREFERENCE to the caller's
    argument — a restarted process whose checkpoint skips the retrain
    batches still scores with the retrained codebooks. Index rows carry
    the quantizer generation; a crash between quantizer-save and
    index-rebuild is detected at start (generation mismatch) and healed
    by re-running the rebuild from the durable accepted vectors.

    RE-KEY POLICY (``rekey``, VERDICT r5 item 5): ``"eager"`` rebuilds
    the whole code index at retrain time — O(corpus) inside a micro-
    batch, fine at bootstrap scale, hopeless at 10⁹ vectors. ``"lazy"``
    makes a retrain O(new batch) up front: old partitions keep their
    old-generation codes and are ADC-scored under THEIR OWN persisted
    codebooks (multi-generation scoring in `gate_batch` — disjoint row
    subsets, same probed volume), while every subsequent trigger
    re-encodes up to ``rekey_batches_per_trigger`` stale partitions in
    the background (`rekey_stale_partitions`), so the index converges to
    the new generation without any single trigger paying the corpus.
    Gate decisions are those of the exact same ADC rule either way —
    each code stratum is always decoded with the codebooks it was
    encoded under.

    Returns (StreamingQuery, state) where ``state`` exposes the live
    quantizer, ``state['gen']`` the codebook generation, and
    ``state['retrains']`` counts refreshes (observability: a production
    deployment alerts on this, it should be rare)."""
    import numpy as np

    if rekey not in ("eager", "lazy"):
        raise ValueError("rekey must be 'eager' or 'lazy'")
    spark0 = vectors.sparkSession
    persisted = load_quantizer(spark0, index_dir, id_col, vec_col)
    if persisted is not None:
        p_cents, p_books, p_baseline, p_gen = persisted
        state = {
            "centroids": p_cents,
            "codebooks": p_books,
            "baseline": p_baseline,
            "retrains": 0,
            "n_cells": p_cents.count(),
            "gen": p_gen,
        }
        # heal the save→rekey crash window: codes stamped with a different
        # generation than the persisted quantizer are stale ciphertext
        live = set(index_generations(spark0, index_dir))
        if live and live != {p_gen}:
            if rekey == "eager":
                rebuild_index(
                    spark0, accepted_dir, index_dir,
                    p_cents, p_books, id_col, vec_col, gen=p_gen,
                )
            else:
                store = load_quantizer_generations(
                    spark0, index_dir, id_col, vec_col
                )
                if any(g not in store for g in live):
                    # a live generation lost its codebooks: the accepted
                    # vectors are the durable truth — re-key everything
                    rekey_stale_partitions(
                        spark0, accepted_dir, index_dir,
                        p_cents, p_books, p_gen, None, id_col, vec_col,
                    )
    else:
        # guard (self-review r6): a gen-stamped index with an unreadable
        # quantizer store means the store was LOST, not that this is a
        # first run — re-bootstrapping would commit the caller's stale
        # quantizer as the newest snapshot and silently undo the retrain
        stamped = index_generations(spark0, index_dir)
        if any(g > 0 for g in stamped):
            raise RuntimeError(
                f"{index_dir}: index is stamped with quantizer "
                f"generations {stamped} but no quantizer snapshot "
                "loads — restore the .quantizer store (or rebuild the "
                "index from the accepted vectors) before gating"
            )
        state = {
            "centroids": centroids.localCheckpoint(eager=True),
            "codebooks": codebooks,
            "baseline": None,
            "retrains": 0,
            "n_cells": centroids.count(),
            "gen": 0,
        }
        save_quantizer(
            spark0, index_dir, state["centroids"], state["codebooks"],
            None, 0,
        )

    m, k, _sub = np.asarray(state["codebooks"]).shape
    # lazy mode: cache the persisted generations ONCE (plus each retrain's
    # in-memory addition) — reloading per micro-batch re-listed the commit
    # log and eagerly re-checkpointed every generation's centroids each
    # trigger (fixed driver overhead + leaked checkpoint blocks)
    if rekey == "lazy":
        state["quantizers"] = load_quantizer_generations(
            spark0, index_dir, id_col, vec_col
        )
        state["quantizers"][state["gen"]] = (
            state["centroids"], state["codebooks"],
        )

    def _quantizers(spark: SparkSession) -> dict:
        return state["quantizers"]

    def _one_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        prof = quantizer_profile(
            batch, state["centroids"], state["codebooks"], id_col, vec_col
        )
        if state["baseline"] is None:
            state["baseline"] = prof
            save_quantizer(
                spark, index_dir, state["centroids"], state["codebooks"],
                prof, state["gen"], min_live_gen=_min_live_gen(spark),
            )
        elif quantizer_drift(state["baseline"], prof, stds=drift_stds):
            try:
                acc = spark.read.parquet(accepted_dir).select(id_col, vec_col)
            except AnalysisException:
                acc = batch.select(id_col, vec_col).limit(0)
            train_src = acc.unionByName(batch.select(id_col, vec_col))
            state["centroids"], state["codebooks"] = retrain_quantizer(
                train_src, state["n_cells"], m, k, id_col, vec_col
            )
            state["baseline"] = quantizer_profile(
                batch, state["centroids"], state["codebooks"], id_col, vec_col
            )
            state["gen"] += 1
            # durability order: quantizer snapshot FIRST (it is the key to
            # the codes), index re-key second — a crash between the two is
            # exactly what the start-time generation check repairs
            save_quantizer(
                spark, index_dir, state["centroids"], state["codebooks"],
                state["baseline"], state["gen"],
                min_live_gen=_min_live_gen(spark),
            )
            if rekey == "eager" and not acc.isEmpty():
                rebuild_index(
                    spark, accepted_dir, index_dir,
                    state["centroids"], state["codebooks"], id_col, vec_col,
                    gen=state["gen"],
                )
            elif rekey == "lazy":
                state["quantizers"][state["gen"]] = (
                    state["centroids"], state["codebooks"],
                )
            state["retrains"] += 1
        if rekey == "lazy":
            # amortized convergence: a bounded slice of stale partitions
            # re-keys each trigger, never the corpus at once
            rekey_stale_partitions(
                spark, accepted_dir, index_dir,
                state["centroids"], state["codebooks"], state["gen"],
                rekey_batches_per_trigger, id_col, vec_col,
            )
        process_batch(
            batch, batch_id, index_dir, accepted_dir,
            state["centroids"], state["codebooks"], eps, probes, id_col,
            vec_col, gen=state["gen"],
            quantizers_by_gen=_quantizers(spark) if rekey == "lazy" else None,
        )

    def _min_live_gen(spark: SparkSession) -> int | None:
        if rekey == "eager":
            return None  # single-generation: count-based pruning is right
        live = index_generations(spark, index_dir)
        return min(live) if live else state["gen"]

    q = (
        vectors.writeStream.foreachBatch(_one_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    return q, state
