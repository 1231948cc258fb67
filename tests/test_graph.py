"""PageRank (operators/graph.py, C38): exact agreement with a dense
numpy power iteration (same damping/dangling/teleport conventions),
probability-mass conservation, convergence, and the doc-prior join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbbspark.operators.graph import domain_rank_prior, pagerank


def _numpy_pagerank(edges, n, damping=0.85, iters=60):
    import numpy as np

    deg = np.zeros(n)
    for s, _ in edges:
        deg[s] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        dangling = r[deg == 0].sum()
        inflow = np.zeros(n)
        for s, d in edges:
            inflow[d] += r[s] / deg[s]
        r = (1 - damping) / n + damping * (inflow + dangling / n)
    return r


GRAPH = [
    (0, 1), (1, 2), (2, 0),        # a 3-cycle
    (3, 0), (4, 0),                # two feeders into the cycle
    (5, 6),                        # a chain ending in a dangling node 6
]


@pytest.fixture(scope="module")
def ranks(spark):
    edges = spark.createDataFrame(GRAPH, "src long, dst long")
    return {
        r["node"]: r["rank"]
        for r in pagerank(edges, max_iter=60, tol=1e-12).collect()
    }


def test_matches_dense_power_iteration(ranks):
    want = _numpy_pagerank(GRAPH, 7)
    for node, rank in ranks.items():
        assert rank == pytest.approx(want[node], abs=1e-6), node


def test_mass_conserved_and_ordering(ranks):
    assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-9)
    # the cycle member fed by two extra nodes outranks its cycle peers,
    # and every cycle member outranks the friendless chain head
    assert ranks[0] > ranks[1] > 0
    assert ranks[1] > ranks[5]


def test_duplicate_edges_count_once(spark):
    e1 = spark.createDataFrame(GRAPH, "src long, dst long")
    e2 = spark.createDataFrame(GRAPH + GRAPH[:3], "src long, dst long")
    a = {r["node"]: r["rank"] for r in pagerank(e1, max_iter=20).collect()}
    b = {r["node"]: r["rank"] for r in pagerank(e2, max_iter=20).collect()}
    for k in a:
        assert a[k] == pytest.approx(b[k], abs=1e-12)


def test_empty_graph(spark):
    edges = spark.createDataFrame([], "src long, dst long")
    assert pagerank(edges).count() == 0


def test_damping_validation(spark):
    edges = spark.createDataFrame(GRAPH, "src long, dst long")
    with pytest.raises(ValueError):
        pagerank(edges, damping=1.0)


def test_driver_regime_matches_distributed(spark):
    """The driver power iteration (`pagerank_numpy`, cluster_rank_adaptive's
    small path) must agree with the distributed loop (same dangling/
    teleport/tol semantics — GRAPH includes a dangling node), and the
    fixed-iteration eliders (tol=0, assume_no_dangling and
    assume_distinct on a symmetrized graph, scaled) must not change
    values."""
    from dbbspark.operators.graph import pagerank_numpy

    edges = spark.createDataFrame(GRAPH, "src long, dst long")
    dist = {
        r["node"]: r["rank"]
        for r in pagerank(edges, max_iter=7, tol=0.0).collect()
    }
    drv = pagerank_numpy(GRAPH, 0.85, 7, tol=0.0)
    assert set(dist) == set(drv)
    for node in dist:
        assert dist[node] == pytest.approx(drv[node], abs=1e-12)

    # symmetrized graph: assume_no_dangling + assume_distinct are safe,
    # scaled multiplies by N in both regimes
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    n = sym.select("src").distinct().count()
    base_r = {
        r["node"]: r["rank"]
        for r in pagerank(sym, max_iter=5, tol=0.0).collect()
    }
    fast = {
        r["node"]: r["rank"]
        for r in pagerank(
            sym, max_iter=5, tol=0.0, assume_no_dangling=True,
            assume_distinct=True, scaled=True,
        ).collect()
    }
    sym_pairs = GRAPH + [(d, s) for s, d in GRAPH]
    numpy_scaled = pagerank_numpy(sym_pairs, 0.85, 5, tol=0.0, scaled=True)
    for node in base_r:
        assert fast[node] == pytest.approx(base_r[node] * n, abs=1e-9)
        assert numpy_scaled[node] == pytest.approx(base_r[node] * n, abs=1e-9)


def test_domain_rank_prior_join(spark):
    edges = spark.createDataFrame(
        [("example.com", "linked.org")], "src string, dst string"
    )
    ranks = pagerank(edges, max_iter=10)
    docs = spark.createDataFrame(
        [
            (1, "https://www.linked.org/page"),
            (2, "https://unknown.net/x"),
        ],
        "doc_id long, url string",
    )
    got = {
        r["doc_id"]: r["domain_rank"]
        for r in domain_rank_prior(docs, ranks).collect()
    }
    assert got[1] is not None and got[1] > 0
    assert got[2] is None


def test_cluster_rank_adaptive_fused_matches_composed(spark):
    """The fused small path (one collect -> union-find + numpy PR) must
    equal the composed operators on both legs: components match
    connected_components_adaptive, ranks match graph.pagerank's
    distributed loop (tol=0, 3 rounds, symmetrized, scaled) to float
    tolerance — and the forced-distributed fused path must agree too."""
    from pyspark.sql import functions as F

    from dbbspark.operators import dedup as D
    from dbbspark.operators.dedup import (
        cluster_rank_adaptive,
        connected_components_adaptive,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23), (1, 3)],
        "doc_a long, doc_b long",
    )
    fused = {
        r["node"]: (r["component"], r["rank"])
        for r in cluster_rank_adaptive(pairs, max_iter=3)[0].collect()
    }
    cc = {
        r["node"]: r["component"]
        for r in connected_components_adaptive(pairs, "doc_a", "doc_b").collect()
    }
    edges = pairs.select(
        F.col("doc_a").alias("s"), F.col("doc_b").alias("d")
    ).union(pairs.select("doc_b", "doc_a"))
    pr = {
        r["node"]: r["rank"]
        for r in pagerank(
            edges, src="s", dst="d", damping=0.85, max_iter=3, tol=0.0,
            assume_no_dangling=True, assume_distinct=True, scaled=True,
        ).collect()
    }
    assert set(fused) == set(cc) == set(pr)
    for n in fused:
        assert fused[n][0] == cc[n]
        assert abs(fused[n][1] - pr[n]) < 1e-9, n
    # forced-distributed fused path: identical component + rank values
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(D, "DRIVER_EDGE_THRESHOLD", 0)
        dist = {
            r["node"]: (r["component"], r["rank"])
            for r in cluster_rank_adaptive(pairs, max_iter=3)[0].collect()
        }
    assert set(dist) == set(fused)
    for n in fused:
        assert dist[n][0] == fused[n][0]
        assert abs(dist[n][1] - fused[n][1]) < 1e-9, n


def test_cluster_rank_adaptive_empty(spark):
    from dbbspark.operators.dedup import cluster_rank_adaptive

    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    df, rows = cluster_rank_adaptive(pairs)
    assert df.count() == 0 and rows == []


def test_cluster_rank_adaptive_local_rows_exposure(spark):
    """The small path returns its collected [(node, component, rank)]
    list alongside the DataFrame — identical content, saving
    driver-regime callers a re-collect — and the distributed path
    returns None rows with the same frame values."""
    from dbbspark.operators import dedup as D
    from dbbspark.operators.dedup import cluster_rank_adaptive

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (1, 3)], "doc_a long, doc_b long"
    )
    df, rows = cluster_rank_adaptive(pairs, max_iter=3)
    assert rows is not None
    got = sorted((r["node"], r["component"], r["rank"]) for r in df.collect())
    assert [(n, c) for n, c, _ in got] == [(n, c) for n, c, _ in rows]
    for (_, _, a), (_, _, b) in zip(got, rows):
        assert abs(a - b) < 1e-12
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(D, "DRIVER_EDGE_THRESHOLD", 0)
        ddf, drows = cluster_rank_adaptive(pairs, max_iter=3)
    assert drows is None
    dist = sorted((r["node"], r["component"], r["rank"]) for r in ddf.collect())
    assert [(n, c) for n, c, _ in dist] == [(n, c) for n, c, _ in rows]
    for (_, _, a), (_, _, b) in zip(dist, rows):
        assert abs(a - b) < 1e-9


def test_adaptive_cc_launches_no_more_jobs_than_cluster_rank(spark):
    """Both adaptive graph operators decide their regime through the one
    bounded probe (session.collect_if_small) over one lineage cut, so
    plain CC on a small graph launches no more Spark jobs than the
    fused CC + PageRank operator on the same graph."""
    from dbbspark.operators.dedup import (
        cluster_rank_adaptive,
        connected_components_adaptive,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (1, 3)], "doc_a long, doc_b long"
    )
    sc = spark.sparkContext
    jt = sc._jsc.sc().statusTracker()
    sc.setJobGroup("cc_adaptive_jobs", "pin")
    connected_components_adaptive(pairs, "doc_a", "doc_b")
    cc_jobs = len(jt.getJobIdsForGroup("cc_adaptive_jobs"))
    sc.setJobGroup("cluster_rank_jobs", "pin")
    cluster_rank_adaptive(pairs)
    rank_jobs = len(jt.getJobIdsForGroup("cluster_rank_jobs"))
    sc.setLocalProperty("spark.jobGroup.id", None)
    assert 0 < cc_jobs <= rank_jobs, (cc_jobs, rank_jobs)
