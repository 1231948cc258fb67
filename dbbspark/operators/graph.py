"""Link-graph centrality for crawl quality (SURVEY.md §2.11 C38).

Production crawl curation scores HOSTS before it scores documents:
Common-Crawl-derived pipelines weight pages by the centrality of their
(registered) domain in the host link graph, so spam constellations that
only link to themselves rank low however much text they ship. This
module provides distributed PageRank over an edge list — composes with
`operators.urls.REGISTERED_DOMAIN_SQL` (build host edges from page links)
and joins back onto documents as a quality prior.

Spark mapping (same iterative discipline as dedup.connected_components_star):

- one shuffle per power-iteration round (join ranks→edges, groupBy dst);
- out-degrees computed ONCE and cached with the symmetrized edge set;
- dangling-node mass (pages with no outlinks) is redistributed
  uniformly each round — one scalar aggregate, driver holds one float;
- `localCheckpoint` truncates lineage so round N never replays rounds
  1..N-1; the driver-side loop holds only the convergence delta.

Convergence: L1 delta between successive rank vectors < ``tol`` (one
aggregate per round), or ``max_iter``. Ranks sum to 1 at every round by
construction (teleport + dangling redistribution), which is what the
equivalence test checks against a dense numpy power iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dbbspark.session import cut_lineage


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    max_iter: int = 30,
    tol: float = 1e-6,
    assume_no_dangling: bool = False,
    assume_distinct: bool = False,
    scaled: bool = False,
) -> DataFrame:
    """(node, rank) for every node appearing in ``edges`` (either end).

    Standard PageRank: rank = (1-d)/N + d·(Σ_in rank/outdeg + dangling
    mass/N). Duplicate (src, dst) rows count once (a page linking twice
    confers no extra endorsement — the usual host-graph convention).

    Two driver-action eliders for the fixed-iteration regime:
    ``assume_no_dangling=True`` skips the per-round dangling-mass
    aggregate — ONLY correct when every node has an out-edge (always
    true for a symmetrized/undirected graph, e.g. a dedup pair graph);
    ``tol <= 0`` skips the per-round L1-delta aggregate and runs exactly
    ``max_iter`` rounds — the replayable mode an oracle can re-derive
    (early exit would make the result depend on float convergence
    order). Together they cut 2 driver round-trips per iteration.

    ``assume_distinct=True`` skips the de-duplicating exchange when the
    caller's edge list is unique by construction (e.g. both directions
    of a canonical a<b pair relation). ``scaled=True`` returns
    rank × N (mean 1.0 — the comparable-across-graph-sizes form) using
    the N the loop already holds, sparing callers a second node count.

    A graph small enough for the driver takes `pagerank_numpy` on its
    collected edges instead (dedup.cluster_rank_adaptive's small path);
    the two are pinned equal in tests/test_graph.py."""
    if not 0.0 < damping < 1.0:
        raise ValueError("damping must be in (0, 1)")
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).where(
        F.col("s").isNotNull() & F.col("d").isNotNull()
    )
    if not assume_distinct:
        e = e.distinct()
    e = e.transform(cut_lineage, eager=True)
    nodes = (
        e.select(F.col("s").alias("node"))
        .union(e.select(F.col("d").alias("node")))
        .distinct()
        .transform(cut_lineage, eager=True)
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    rank_out = (F.col("rank") * F.lit(float(n))).alias("rank") if scaled else F.col("rank")
    outdeg = e.groupBy("s").agg(F.count("*").alias("deg"))
    # contribution edges: each (s, d) carries rank(s)/deg(s); built once
    contrib_edges = e.join(outdeg, "s").transform(cut_lineage, eager=True)
    contrib_edges.count()

    ranks = nodes.withColumn("rank", F.lit(1.0 / n)).transform(
        cut_lineage, eager=False
    )
    base = (1.0 - damping) / n
    for _ in range(max_iter):
        # dangling mass: rank parked on nodes with no outlinks
        if assume_no_dangling:
            dangling = 0.0
        else:
            dangling = (
                ranks.join(outdeg, ranks.node == outdeg.s, "left_anti")
                .agg(F.sum("rank"))
                .first()[0]
                or 0.0
            )
        inflow = (
            contrib_edges.join(ranks, contrib_edges.s == ranks.node)
            .groupBy("d")
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("inflow"))
        )
        new_ranks = (
            ranks.join(inflow, ranks.node == inflow.d, "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (F.coalesce("inflow", F.lit(0.0)) + F.lit(dangling / n))
                ).alias("rank"),
            )
            .transform(cut_lineage, eager=False)
        )
        if tol > 0:
            delta = (
                ranks.select("node", F.col("rank").alias("old"))
                .join(new_ranks, "node")
                .agg(F.sum(F.abs(F.col("rank") - F.col("old"))))
                .first()[0]
            )
            ranks = new_ranks
            if delta is not None and delta < tol:
                break
        else:
            ranks = new_ranks
    return ranks.select("node", rank_out)


def pagerank_numpy(
    pairs: list[tuple],
    damping: float,
    max_iter: int,
    tol: float,
    scaled: bool = False,
) -> dict:
    """node → rank over a collected (src, dst) edge list — the numpy
    power iteration of dedup.cluster_rank_adaptive's small path. Identical
    arithmetic to the distributed loop; summation order differs only at
    float ulps (callers that value-compare round, as q_dedup_clusters
    does)."""
    import numpy as np

    if not pairs:
        return {}
    nodes_l = sorted({p[0] for p in pairs} | {p[1] for p in pairs})
    idx = {v: i for i, v in enumerate(nodes_l)}
    n = len(nodes_l)
    srcs = np.fromiter((idx[p[0]] for p in pairs), dtype=np.int64, count=len(pairs))
    dsts = np.fromiter((idx[p[1]] for p in pairs), dtype=np.int64, count=len(pairs))
    deg = np.bincount(srcs, minlength=n).astype(np.float64)
    has_out = deg > 0
    ranks = np.full(n, 1.0 / n)
    base = (1.0 - damping) / n
    for _ in range(max_iter):
        dangling = float(ranks[~has_out].sum())
        contrib = ranks[srcs] / deg[srcs]
        inflow = np.bincount(dsts, weights=contrib, minlength=n)
        new = base + damping * (inflow + dangling / n)
        if tol > 0:
            delta = float(np.abs(new - ranks).sum())
            ranks = new
            if delta < tol:
                break
        else:
            ranks = new
    if scaled:
        ranks = ranks * float(n)
    return {nodes_l[i]: float(ranks[i]) for i in range(n)}


def domain_rank_prior(
    docs: DataFrame,
    ranks: DataFrame,
    url_col: str = "url",
    out_col: str = "domain_rank",
) -> DataFrame:
    """Attach each doc's registered-domain PageRank as ``out_col``
    (null → the domain never appeared in the link graph; the caller's
    quality gate decides the prior for unknowns). The rank table is
    node-per-domain — broadcast-sized for any real blocklist-scale
    graph, so this is a map-side join."""
    from ..functions import sql_ident
    from .urls import REGISTERED_DOMAIN_SQL

    r = ranks.select(F.col("node").alias("__dom"), F.col("rank").alias(out_col))
    return (
        docs.withColumn("__dom", F.expr(REGISTERED_DOMAIN_SQL(sql_ident(url_col))))
        .join(F.broadcast(r), "__dom", "left")
        .drop("__dom")
    )
