"""Similarity-search operators (SURVEY.md §2.11 C3).

Scoring is vectorized: the small reference side (queries, centroids) is
collected and closed over by Arrow-batched pandas workers that compute
cosine blocks with float64 BLAS matmuls (`matmul_scores`). Spark's
higher-order-function cosine fold is interpreted (~μs/pair) and only
remains in `cosine_pairs_above` as the tiny-input verification baseline.

- brute_force_topk: exact cosine top-k per query; rank via window
  (deterministic neighbor-id tiebreak). The 100 TB verification baseline.
- ivf_topk: the scale path — vectors are assigned to their nearest
  "centroid" cell once (an embarrassingly-parallel argmax), queries probe
  only their own cell, so scored pairs drop from |Q|×|N| to
  |Q|×|N|/cells. Cells here are seeded deterministically from the data
  (every 50th vector) so the result is reproducible and SQL-checkable; on
  a real cluster the centroids would come from k-means (pyspark.ml) with
  multi-probe to trade recall for cost.
"""

from __future__ import annotations

import pandas as pd  # module-level: lets typing.get_type_hints resolve the
# grouped-pandas callables' annotations (pyspark infers eval type from them)

from pyspark.sql import DataFrame, functions as F


def _unit(X):
    """Row-L2-normalize a matrix; zero-norm rows stay ZERO (their cosine
    with anything is 0) instead of dividing 0/0 into NaN that would
    propagate through every downstream score (degenerate IVF cells,
    all-zero embeddings)."""
    import numpy as np

    n = np.linalg.norm(X, axis=1, keepdims=True)
    return X / np.where(n == 0, 1.0, n)

from pyspark.sql.window import Window

from ..functions import cosine, sql_ident


def matmul_scores(
    vectors: DataFrame,
    refs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_id: str = "ref_id",
) -> DataFrame:
    """(vid, <out_id>, sim): cosine of every vector against every
    reference vector, via one float64 BLAS matmul per Arrow batch.

    The reference side (queries / centroids) is collected to the driver
    and closed over by the mapInPandas worker — it must be the SMALL side
    (an IVF centroid set, a probe batch). The big side streams through in
    Arrow batches and never shuffles. Spark's interpreted higher-order
    cosine fold costs ~μs per pair; this is the same math at BLAS
    throughput.

    Scale: |refs| bounded by executor memory (R×d floats, plus an R-wide
    sim row per vector). For reference sets too big to broadcast, fall
    back to the blocked group form (`cosine_pairs_above_blocked`)."""
    import numpy as np
    import pandas as pd

    ref_rows = refs.select(id_col, vec_col).toPandas()
    R = np.stack(ref_rows[vec_col].to_numpy()).astype(np.float64)
    Rn = _unit(R)
    ref_ids = ref_rows[id_col].to_numpy()
    n_refs = len(ref_ids)

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Vn = _unit(V)
            sims = Vn @ Rn.T
            yield pd.DataFrame(
                {
                    "vid": np.repeat(pdf[id_col].to_numpy(), n_refs),
                    out_id: np.tile(ref_ids, len(pdf)),
                    "sim": sims.ravel(),
                }
            )

    return vectors.select(id_col, vec_col).mapInPandas(
        score, f"vid long, {out_id} long, sim double"
    )


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query (query ids ≠ neighbor id). Returns
    (query_id, neighbor_id, rank) — integer output so the compare is
    fp-robust; cosine only orders. Scoring is the matmul path; ranking is
    a Spark window (deterministic tiebreak on neighbor id)."""
    scored = matmul_scores(vectors, queries, id_col, vec_col, out_id="query_id")
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vid"))
    return (
        scored.where(F.col("vid") != F.col("query_id"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("vid").alias("neighbor_id"), "rank")
    )


def train_centroids(
    vectors: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    max_iter: int = 20,
) -> DataFrame:
    """Train IVF centroids with distributed k-means (pyspark.ml) and
    return them in the (id, vec) shape `ivf_assign`/`ivf_topk` consume
    (centroid ids 0..k-1).

    This is the real-cluster path the deterministic every-Nth-vector
    cells stand in for in the oracle queries (k-means isn't
    SQL-reproducible, so the DECLARED query keeps data-seeded cells; the
    operator takes either). Training cost is k-means on N×d doubles —
    pyspark.ml runs it as distributed Lloyd iterations; the returned
    centroid set is k×d, small by construction, which is what makes the
    driver-side collect inside assignment legal."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = vectors.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=k, seed=seed, maxIter=max_iter).fit(feat)
    return vectors.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        f"{sql_ident(id_col)} long, {sql_ident(vec_col)} array<double>",
    )


def _collect_centroids(centroids: DataFrame, id_col: str, vec_col: str):
    """(cids, Cn): the centroid ids (ascending) and their unit-normalized
    matrix — the one driver-side collect every IVF-shaped operator needs.
    Split out (r13) so multi-assignment callers pay it once."""
    import numpy as np

    ref = centroids.select(id_col, vec_col).toPandas()
    C = np.stack(ref[vec_col].to_numpy()).astype(np.float64)
    cids = ref[id_col].to_numpy()
    # candidates sorted by id ⇒ stable top-p selection = lowest id on ties.
    order = np.argsort(cids, kind="stable")
    return cids[order], (_unit(C))[order]


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = False,
    probes: int = 1,
    _pre=None,
) -> DataFrame:
    """Assign every vector to its `probes` max-cosine centroids
    (deterministic tiebreak: lowest centroid id among exact ties);
    probes=1 is classic single-cell assignment.

    The top-`probes` selection happens INSIDE the Arrow worker — one BLAS
    matmul per batch, `probes` output rows per vector. Nothing
    |N|×|C|-shaped is ever materialized as rows and the vectors never
    shuffle. With `keep_vec=True` the embedding rides along so a
    downstream per-cell stage needs no re-join against the (full-width)
    vector table.

    ``_pre`` (r13, internal): a pre-collected ``(cids, Cn)`` pair from
    `_collect_centroids` — callers assigning two relations against the
    SAME centroid set (ivf_topk's vector + query sides) collect it once
    instead of paying a driver job per call."""
    import numpy as np
    import pandas as pd

    cids, Cn = (
        _pre if _pre is not None
        else _collect_centroids(centroids, id_col, vec_col)
    )
    p = min(probes, len(cids))

    def assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Vn = _unit(V)
            sims = Vn @ Cn.T
            top = np.argsort(-sims, axis=1, kind="stable")[:, :p]
            out = {
                "vid": np.repeat(pdf[id_col].to_numpy(), p),
                "centroid_id": cids[top].ravel(),
            }
            if keep_vec:
                out["vec"] = np.repeat(pdf[vec_col].to_numpy(), p)
            yield pd.DataFrame(out)

    schema = "vid long, centroid_id long"
    if keep_vec:
        schema += ", vec array<double>"
    return vectors.select(id_col, vec_col).mapInPandas(assign, schema)


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probes: int = 1,
) -> DataFrame:
    """Approximate top-k: a neighbor is eligible only if it lives in one
    of the query's `probes` nearest IVF cells. Returns
    (query_id, neighbor_id, rank).

    The scale path, per cell: vectors and queries are each assigned to
    centroids (map-side top-p selection, no shuffle), then ONE shuffle
    groups each cell's queries and candidates into a single
    `applyInPandas` task that computes the |Q_cell|×|N_cell| similarity
    block with a float64 BLAS matmul and emits only the top-k rows —
    compute AND output drop from |Q|×|N| to Σ_cells |Q_c|×|N_c|
    (≈ probes·|Q|×|N|/cells for balanced cells; tests/test_similarity.py
    pins this). Neither side is ever collected to the driver (only the
    centroid set is, by design small — `train_centroids` k-means output
    on a real cluster). Skewed cells: a hot cell's task is
    O(|Q_c|×|N_c|) — cap cell size upstream by splitting hot centroids
    (finer k-means), the same remedy IVF indexes use off-Spark.

    probes=1: ranking (sim desc, neighbor id asc) happens entirely
    in-task — no window pass follows. probes>1 trades cost for recall:
    per-cell top-k candidates carry their sim into a final merge window
    over ≤ probes·k rows per query (a shuffle of the small result set,
    never of the vectors); probes = |cells| recovers exact brute force."""
    import numpy as np
    import pandas as pd

    # ONE centroid collect serves both assignment sides (r13): the
    # vector and query relations assign against the same centroid set.
    pre = _collect_centroids(centroids, id_col, vec_col)
    v_tag = ivf_assign(
        vectors, centroids, id_col, vec_col, keep_vec=True, _pre=pre
    ).select(
        F.col("centroid_id").alias("cell"), "vid", "vec", F.lit(0).alias("side")
    )
    q_tag = ivf_assign(
        queries, centroids, id_col, vec_col, keep_vec=True, probes=probes,
        _pre=pre,
    ).select(
        F.col("centroid_id").alias("cell"), "vid", "vec", F.lit(1).alias("side")
    )
    emit_sim = probes > 1
    out_schema = (
        "query_id long, neighbor_id long, sim double"
        if emit_sim
        else "query_id long, neighbor_id long, rank int"
    )

    def emit(key: tuple, pdf: "pd.DataFrame") -> "pd.DataFrame":
        cols = {
            "query_id": pd.Series(dtype="int64"),
            "neighbor_id": pd.Series(dtype="int64"),
        }
        if emit_sim:
            cols["sim"] = pd.Series(dtype="float64")
        else:
            cols["rank"] = pd.Series(dtype="int32")
        empty = pd.DataFrame(cols)
        qs = pdf[pdf["side"] == 1]
        ns = pdf[pdf["side"] == 0]
        if qs.empty or ns.empty:
            return empty
        Q = np.stack(qs["vec"].to_numpy()).astype(np.float64)
        N = np.stack(ns["vec"].to_numpy()).astype(np.float64)
        Qn = _unit(Q)
        Nn = _unit(N)
        nvids = ns["vid"].to_numpy()
        # candidates sorted by id ⇒ stable argsort = (sim desc, vid asc).
        order = np.argsort(nvids, kind="stable")
        nvids = nvids[order]
        sims = (Qn @ Nn.T)[:, order]
        qvids = qs["vid"].to_numpy()
        sims[nvids[None, :] == qvids[:, None]] = -np.inf  # self-pairs out
        topn = min(k, sims.shape[1])
        idx = np.argsort(-sims, axis=1, kind="stable")[:, :topn]
        picked = np.take_along_axis(sims, idx, axis=1)
        keep = np.isfinite(picked).ravel()  # drop self-only slots
        out = {
            "query_id": np.repeat(qvids, topn)[keep],
            "neighbor_id": nvids[idx].ravel()[keep],
        }
        if emit_sim:
            out["sim"] = picked.ravel()[keep]
        else:
            out["rank"] = np.broadcast_to(
                np.arange(1, topn + 1, dtype="int32"), idx.shape
            ).ravel()[keep]
        return pd.DataFrame(out)

    scored = (
        v_tag.unionByName(q_tag).groupBy("cell").applyInPandas(emit, out_schema)
    )
    if not emit_sim:
        return scored
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def quantize_embeddings(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, qvec binary, dim) — int8 scalar quantization of L2-normalized
    embeddings: q = clip(round(127·v/‖v‖), -127, 127), one byte per
    dimension packed into a BINARY column.

    For COSINE workloads the per-vector scale cancels, so normalizing
    before quantizing loses nothing and needs no stored scale factor —
    cos(a, b) ≈ (qa·qb)/(‖qa‖·‖qb‖) with error ≤ ~1/127 per unit. The
    point at 100 TB: embeddings are the widest column in a training
    corpus (d float32s = 4d bytes); int8 cuts every downstream shuffle,
    broadcast, and scan of them 4×, which moves the ANN cost ceiling far
    more than shaving matmul FLOPs does (the matmul upcasts to float32
    anyway)."""
    import numpy as np
    import pandas as pd

    def enc(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Vn = _unit(V)
            Q = np.clip(np.rint(Vn * 127.0), -127, 127).astype(np.int8)
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].to_numpy(),
                    "qvec": [q.tobytes() for q in Q],
                    "dim": Q.shape[1],
                }
            )

    return vectors.select(id_col, vec_col).mapInPandas(
        enc, "vec_id long, qvec binary, dim int"
    )


def brute_force_topk_quantized(
    qvectors: DataFrame,
    qqueries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """`brute_force_topk` over int8-quantized embeddings
    (`quantize_embeddings` outputs): the query side (small by
    construction) is collected as an int8 matrix, the corpus side streams
    through in Arrow batches 4× narrower than float32. Scores upcast to
    float32 inside the matmul; ranking (sim desc, neighbor id asc) and
    the self-pair exclusion match the float operator, so recall tests can
    compare the two directly."""
    import numpy as np
    import pandas as pd

    qrows = qqueries.select(id_col, "qvec", "dim").toPandas()
    dim = int(qrows["dim"].iloc[0])
    Q = np.stack(
        [np.frombuffer(b, dtype=np.int8) for b in qrows["qvec"]]
    ).astype(np.float32)
    Qn = _unit(Q)
    qids = qrows[id_col].to_numpy()

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.stack(
                [np.frombuffer(b, dtype=np.int8) for b in pdf["qvec"]]
            ).astype(np.float32)
            assert V.shape[1] == dim
            Vn = _unit(V)
            sims = Vn @ Qn.T
            yield pd.DataFrame(
                {
                    "vid": np.repeat(pdf[id_col].to_numpy(), len(qids)),
                    "query_id": np.tile(qids, len(pdf)),
                    "sim": sims.ravel().astype(np.float64),
                }
            )

    scored = qvectors.select(id_col, "qvec").mapInPandas(
        score, "vid long, query_id long, sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vid"))
    return (
        scored.where(F.col("vid") != F.col("query_id"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("vid").alias("neighbor_id"), "rank")
    )


def semantic_dedup(
    vectors: DataFrame,
    centroids: DataFrame,
    eps: float = 0.05,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings, then within each cluster drop
    every vector whose cosine similarity to an already-kept vector is
    ≥ 1 - eps. Returns (vec_id, cell, keep) for EVERY input vector —
    callers filter `keep` to materialize the deduplicated corpus.

    Determinism: within a cluster, vectors are scanned in ascending id
    and a vector is dropped iff it is within eps of a KEPT lower-id
    vector (greedy keep-first — the same lowest-key-wins rule as
    sha_dedup_keep_first; the paper's keep-farthest-from-centroid rule
    is a one-line change in the scan order). Note greedy ≠ connected-
    components: in a chain a~b, b~c (a≁c), greedy keeps {a, c}, CC-based
    dedup would keep {a} — greedy never drops a vector that has no kept
    near-duplicate, which is the semantics training-data curation wants.

    Scale shape = the IVF shape: assignment is an embarrassingly-parallel
    map (one BLAS matmul per Arrow batch, nothing collected but the
    centroid set), then ONE shuffle groups each cell into an
    `applyInPandas` task that computes the in-cell similarity matrix and
    runs the greedy scan. Per-task cost is O(|cell|²) similarity cells —
    the paper's own trick (clustering makes within-cluster all-pairs
    tractable); cap cell sizes by raising k in `train_centroids`.
    Cross-cluster near-dups are missed by construction — that is the
    accepted recall tradeoff of SemDeDup.

    ``assigned`` (r13): a pre-computed ``ivf_assign(vectors, centroids,
    keep_vec=True)`` relation — the shared-assignment form when several
    per-cell stages (this scan, `cluster_balanced_sample`, IVF search)
    run over ONE assignment: the map-side BLAS pass and the centroid
    collect then happen once instead of once per stage (decisions are
    identical — the scan consumes the assignment relation either way,
    pinned in tests/test_similarity.py)."""
    import numpy as np
    import pandas as pd

    tagged = (
        assigned
        if assigned is not None
        else ivf_assign(vectors, centroids, id_col, vec_col, keep_vec=True)
    )

    def scan(key: tuple, pdf: "pd.DataFrame") -> "pd.DataFrame":
        order = np.argsort(pdf["vid"].to_numpy(), kind="stable")
        vids = pdf["vid"].to_numpy()[order]
        V = np.stack(pdf["vec"].to_numpy())[order].astype(np.float64)
        Vn = _unit(V)
        sims = Vn @ Vn.T
        thresh = 1.0 - eps
        keep = np.ones(len(vids), dtype=bool)
        for i in range(1, len(vids)):
            # dropped iff ~dup of a KEPT earlier vector (greedy)
            if np.any(sims[i, :i][keep[:i]] >= thresh):
                keep[i] = False
        return pd.DataFrame(
            {"vec_id": vids, "cell": key[0], "keep": keep}
        )

    return tagged.groupBy("centroid_id").applyInPandas(
        scan, "vec_id long, cell long, keep boolean"
    )


def cosine_pairs_above(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs (a < b) with cosine ≥ threshold — embedding near-dup
    detection. Exact brute force via expression-level cosine; kept as the
    tiny-input verification baseline. Prefer `cosine_pairs_above_blocked`
    anywhere real: higher-order-function folds are interpreted (not
    whole-stage-codegen'd), so this shape pays ~dim interpreted ops per
    candidate pair of the nested-loop join."""
    a = vectors.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("a_vec"))
    b = vectors.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("b_vec"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .where(cosine(F.col("a_vec"), F.col("b_vec")) >= threshold)
        .select("vec_a", "vec_b")
    )


def cosine_pairs_above_blocked(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_blocks: int = 8,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold via block-matrix products — the
    scale path for embedding near-dup.

    Vectors are hashed into `num_blocks` blocks; each of the
    B·(B+1)/2 block pairs becomes one `applyInPandas` group whose task
    computes the full cross-similarity matrix with a float64 NumPy matmul
    (BLAS) and emits only pairs above threshold. Same result set as the
    brute-force form, orders of magnitude faster: the pair space is never
    materialized as rows, only as a in-task matrix.

    Scale accounting (N vectors, dim d, B blocks): each vector is shipped
    to ~B block-pair groups → shuffle volume O(N·B·d); per-task memory is
    O((N/B)²) similarity cells. Pick B ≈ N/50k so a task's matrix stays
    ~GB-scale; at 100 TB add an LSH/IVF pre-filter to drop empty block
    pairs entirely (operators: `ivf_assign`, `lsh_candidate_pairs`).

    r14: the block-pair assignment is a per-row computed ARRAY of
    (bi, bj, side) structs exploded off ONE scan, where it used to be
    two broadcast joins against a (bi, bj) relation — that shape read
    the vector table twice, unioned the halves, and shipped an unused
    side=1 copy of every vector for its own diagonal pair (emit()
    reads only side=0 rows when bi == bj). The exploded row set is
    otherwise identical group for group, so the emitted pair relation
    is unchanged (pair-set equality pinned in tests/test_similarity.py
    and measured in plans/r14/probe_embed_near_dup.py: 1.13 → 0.59 s
    warm at sf0.1; one parquet scan instead of two).
    """
    import numpy as np
    import pandas as pd

    out_schema = "vec_a long, vec_b long"
    v = vectors.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("vec"),
        F.pmod(F.hash(F.col(id_col)), F.lit(num_blocks)).alias("blk"),
    )
    idx = F.sequence(F.lit(0), F.lit(num_blocks - 1))
    # side 0 of every pair whose LEFT block is this row's block
    # (includes the diagonal), side 1 of every pair whose RIGHT block
    # is this row's block EXCLUDING the diagonal (the join form shipped
    # that copy too; emit() never reads it).
    left_entries = F.transform(
        F.filter(idx, lambda j: j >= F.col("blk")),
        lambda j: F.struct(
            F.col("blk").cast("int").alias("bi"),
            j.cast("int").alias("bj"),
            F.lit(0).alias("side"),
        ),
    )
    right_entries = F.transform(
        F.filter(idx, lambda i: i < F.col("blk")),
        lambda i: F.struct(
            i.cast("int").alias("bi"),
            F.col("blk").cast("int").alias("bj"),
            F.lit(1).alias("side"),
        ),
    )
    assigned = v.select(
        "vid",
        "vec",
        F.explode(F.concat(left_entries, right_entries)).alias("e"),
    ).select(
        F.col("e.bi").alias("bi"),
        F.col("e.bj").alias("bj"),
        "vid",
        "vec",
        F.col("e.side").alias("side"),
    )

    def emit(key: tuple, pdf: "pd.DataFrame") -> "pd.DataFrame":
        bi, bj = key
        a = pdf[pdf["side"] == 0]
        b = a if bi == bj else pdf[pdf["side"] == 1]
        if a.empty or b.empty:
            return pd.DataFrame({"vec_a": [], "vec_b": []}).astype("int64")
        A = np.stack(a["vec"].to_numpy()).astype(np.float64)
        Bm = A if bi == bj else np.stack(b["vec"].to_numpy()).astype(np.float64)
        An = _unit(A)
        Bn = An if bi == bj else _unit(Bm)
        sims = An @ Bn.T
        ia, ib = np.nonzero(sims >= threshold)
        ids_a = a["vid"].to_numpy()[ia]
        ids_b = b["vid"].to_numpy()[ib]
        if bi == bj:
            # within-block: each unordered pair appears twice (and as the
            # self-pair diagonal) — keep the a < b orientation once.
            keep = ids_a < ids_b
            return pd.DataFrame({"vec_a": ids_a[keep], "vec_b": ids_b[keep]})
        # cross-block: each unordered pair appears exactly once, in
        # arbitrary id orientation — normalize to (min, max).
        return pd.DataFrame(
            {
                "vec_a": np.minimum(ids_a, ids_b),
                "vec_b": np.maximum(ids_a, ids_b),
            }
        )

    return (
        assigned.groupBy("bi", "bj").applyInPandas(emit, out_schema)
    )


def cluster_balanced_sample(
    vectors: DataFrame,
    centroids: DataFrame,
    per_cell: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    portable_rank: bool = False,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Diversity-preserving downsampling: cap each semantic cluster at
    `per_cell` members — the cluster-balanced curation step (big topical
    clusters are truncated, rare topics survive whole) that follows
    SemDeDup-style clustering in LLM-data pipelines.

    Composition of two existing primitives: `ivf_assign` (map-side
    max-cosine cell assignment, nothing but the centroid set leaves the
    executors) and the deterministic hash rank the stratified sampler
    (C10) uses — within a cell, members are ranked by
    xxhash64(id) and the lowest `per_cell` win. The hash rank, not
    first-N-by-id: ids usually encode crawl/source order, so an id
    cutoff would bias every truncated cluster toward old data, while the
    hash is a uniform, reproducible coin that is stable across runs,
    engines, and cluster sizes.

    One shuffle (the per-cell window). Output: (id, cell, kept) for
    every vector — callers filter `kept`, keeping the decision joinable
    back to the corpus, same contract as `semantic_dedup`.

    ``portable_rank=True`` swaps the xxhash64 coin for the md5-derived
    bigint of the id's string form (dedup.MD5_INT_SPARK_SQL — the C43/C44
    portable-hash convention): same uniform-coin semantics, but an
    oracle engine can re-derive the rank hash-for-hash, which is what
    puts this operator under the DuckDB value oracle (q_embed_normalize
    fold, r12). Production callers keep the cheaper xxhash64.

    ``assigned`` (r13): a pre-computed `ivf_assign` relation (at least
    (vid, centroid_id); a keep_vec=True relation works — the extra
    column is projected away before the window) — the shared-assignment
    form, see `semantic_dedup`."""
    if assigned is not None:
        assigned = assigned.select("vid", "centroid_id")
    else:
        assigned = ivf_assign(vectors, centroids, id_col, vec_col)
    if portable_rank:
        from .dedup import MD5_INT_SPARK_SQL

        coin = F.expr(MD5_INT_SPARK_SQL("CAST(vid AS STRING)"))
    else:
        coin = F.xxhash64(F.col("vid"))
    w = Window.partitionBy("centroid_id").orderBy(coin, F.col("vid"))
    return (
        assigned.withColumn("__rk", F.row_number().over(w))
        .select(
            F.col("vid").alias(id_col),
            F.col("centroid_id").alias("cell"),
            (F.col("__rk") <= per_cell).alias("kept"),
        )
    )


def pca_project(
    vectors: DataFrame,
    k: int,
    vec_col: str = "embedding",
    whiten: bool = False,
):
    """(model, scales, projected): fit a k-component PCA on the
    embedding column and return the frame with ``vec_col`` replaced by
    the k-dim projection — the standard pre-ANN dimensionality reduction
    (centroids train faster, cells are rounder, cosine over the leading
    components preserves neighborhoods). With ``whiten`` each component
    is divided by its stddev (one extra aggregate; the SemDeDup-style
    isotropic space that stops high-variance directions dominating the
    metric) — ``scales`` carries those stddevs (None unwhitened) so
    query vectors can replay the identical transform via `apply_pca`.

    Training is pyspark.ml's distributed covariance PCA; the fitted
    model is d×k (broadcast-sized) and projection is a map-only
    transform — the frame never shuffles."""
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector

    vec = vectors.withColumn("__v", array_to_vector(F.col(vec_col)))
    # k-vs-dimension validation comes from the FITTED model (pc is d×k),
    # not a pre-fit first() probe: no extra driver job, and empty/null
    # inputs fail with a clear message instead of a TypeError.
    try:
        model = PCA(k=k, inputCol="__v", outputCol="__p").fit(vec)
    except Exception as e:
        raise ValueError(
            f"PCA fit failed (k={k}): empty input, null vectors, or "
            f"k larger than the embedding dimension — {e}"
        ) from e
    d = model.pc.numRows
    if k > d:
        raise ValueError(f"k must be in 1..{d}")
    scales = None
    if whiten:
        from pyspark.ml.functions import vector_to_array

        sq = model.transform(vec).select(vector_to_array("__p").alias("p"))
        n = sq.count()
        sums = sq.agg(
            *[
                F.sum(F.col("p")[i]).alias(f"s{i}")
                for i in range(k)
            ],
            *[
                F.sum(F.col("p")[i] * F.col("p")[i]).alias(f"q{i}")
                for i in range(k)
            ],
        ).first()
        scales = [
            max(((sums[f"q{i}"] / n) - (sums[f"s{i}"] / n) ** 2), 1e-24) ** 0.5
            for i in range(k)
        ]
    return model, scales, apply_pca(model, vectors, vec_col, scales=scales)


def apply_pca(
    model,
    vectors: DataFrame,
    vec_col: str = "embedding",
    scales: list[float] | None = None,
) -> DataFrame:
    """Project ``vec_col`` through a fitted PCA model (and the training
    run's whitening ``scales``, if any) — the SAME basis as training,
    required for query-time consistency. Map-only."""
    from pyspark.ml.functions import array_to_vector, vector_to_array

    out = model.transform(
        vectors.withColumn("__v", array_to_vector(F.col(vec_col)))
    )
    proj = vector_to_array(F.col("__p"))
    if scales is not None:
        sc = F.array(*[F.lit(float(s)) for s in scales])
        proj = F.zip_with(proj, sc, lambda x, s: x / s)
    return out.drop(vec_col).withColumn(vec_col, proj).drop("__v", "__p")
