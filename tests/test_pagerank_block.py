"""Block-vector PageRank: dense/sparse emission, extrapolation, parity.

Differential strategy: the block kernel must agree with the driver numpy
oracle to 1e-13 at fixed iteration counts, through both the dense and the
sparse partial form; the A_{alpha^6} extrapolated run must land on the SAME
fixed point as the plain run (the extrapolation is a linear combination of
iterates — it changes the path, never the destination).
"""

import numpy as np
import pytest

from webgraph_spark.algo.pagerank import pagerank_numpy
from webgraph_spark.algo.pagerank_block import DENSE_OCCUPANCY, pagerank_block
from webgraph_spark.plans.csr import build_csr


def _graph(spark, seed=5, n=400, m=2500):
    rng = np.random.default_rng(seed)
    arcs = sorted({(int(a), int(b)) for a, b in rng.integers(0, n, (m, 2))})
    e = spark.createDataFrame(arcs, "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    return arcs, e, nodes, n


@pytest.mark.parametrize("occupancy", [0.05, 1.1])
def test_block_matches_numpy_and_rows(spark, occupancy):
    # sparse ER graph in 10 blocks whose block pairs hold `occupancy` edges
    # per destination slot on average: at 0.05 (the DENSE_OCCUPANCY cut)
    # pairs fall on both sides, so dense and sparse partials meet in one
    # run; at 1.1 every pair takes the dense path
    n, blocks = 1000, 10
    arcs, e, nodes, n = _graph(spark, n=n, m=round(occupancy * n * blocks))
    csr = build_csr(e, num_blocks=blocks)
    a = np.array(arcs)
    blk = np.searchsorted(np.asarray(csr.cuts), np.arange(n), side="left")
    width = np.bincount(blk)
    pair, count = np.unique(
        np.stack([blk[a[:, 0]], blk[a[:, 1]]], axis=1), axis=0,
        return_counts=True,
    )
    dense = count >= DENSE_OCCUPANCY * width[pair[:, 1]]
    if occupancy < 1:
        assert dense.any() and not dense.all()
    else:
        assert dense.all() and len(pair) == blocks * blocks

    rb = pagerank_block(spark, csr, nodes, tol=0.0, max_iter=7)
    oracle = pagerank_numpy(arcs, n, n_iter=7)
    gb = {r["id"]: r["rank"] for r in rb.ranks.collect()}
    assert len(gb) == n
    assert max(abs(gb[i] - oracle[i]) for i in range(n)) < 1e-13


def test_block_raises_when_nodes_miss_an_edge_endpoint(spark):
    # the shared slot-form builder's contract: every edge endpoint must lie
    # in its block's state range, or the gather would index a wrong slot
    arcs = [(0, 1), (1, 2), (2, 0), (2, 9)]
    e = spark.createDataFrame(arcs, "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(3)], "id long")
    with pytest.raises(Exception, match="nodes frame must cover"):
        pagerank_block(spark, build_csr(e, num_blocks=2), nodes, max_iter=2)


def test_block_extrapolated_same_fixed_point(spark):
    # fast-mixing ER graph: the adaptive trigger must NOT fire (ratio well
    # below alpha), so iteration counts match exactly
    arcs, e, nodes, n = _graph(spark, seed=9)
    csr = build_csr(e, num_blocks=3)
    plain = pagerank_block(spark, csr, nodes, tol=1e-10, max_iter=250)
    fast = pagerank_block(
        spark, csr, nodes, tol=1e-10, max_iter=250, extrapolate=True
    )
    assert plain.converged and fast.converged
    assert fast.iterations == plain.iterations
    gp = {r["id"]: r["rank"] for r in plain.ranks.collect()}
    gf = {r["id"]: r["rank"] for r in fast.ranks.collect()}
    assert max(abs(gp[i] - gf[i]) for i in range(n)) < 1e-10


def test_block_extrapolation_fires_on_slow_mixing_graph(spark):
    # barbell: two complete digraphs joined by one two-way bridge — the
    # random walk's lambda_2 is ~1, so the PageRank error mode sits at
    # ~alpha and the adaptive A_{alpha^6} trigger must fire, cutting
    # iterations substantially with the fixed point unchanged
    a, b = 12, 8
    arcs = [(i, j) for i in range(a) for j in range(a) if i != j]
    arcs += [(a + i, a + j) for i in range(b) for j in range(b) if i != j]
    arcs += [(0, a), (a, 0)]
    e = spark.createDataFrame(sorted(set(arcs)), "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(a + b)], "id long")
    csr = build_csr(e, num_blocks=2)
    plain = pagerank_block(spark, csr, nodes, tol=1e-9, max_iter=300)
    fast = pagerank_block(
        spark, csr, nodes, tol=1e-9, max_iter=300, extrapolate=True
    )
    assert plain.converged and fast.converged
    assert fast.iterations < plain.iterations * 0.7
    gp = {r["id"]: r["rank"] for r in plain.ranks.collect()}
    gf = {r["id"]: r["rank"] for r in fast.ranks.collect()}
    assert max(abs(gp[i] - gf[i]) for i in gp) < 1e-8


def test_block_dangling_and_isolated_nodes(spark):
    # node 4 dangling, node 9 isolated (in nodes, no arcs)
    arcs = [(0, 1), (1, 2), (2, 0), (2, 4), (3, 4)]
    e = spark.createDataFrame(arcs, "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in [0, 1, 2, 3, 4, 9]], "id long")
    csr = build_csr(e, num_blocks=2)
    res = pagerank_block(spark, csr, nodes, tol=0.0, max_iter=10)
    got = {r["id"]: r["rank"] for r in res.ranks.collect()}
    assert set(got) == {0, 1, 2, 3, 4, 9}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # numpy oracle over the padded id space (10 ids, only 6 real nodes):
    # restrict comparison to real nodes with the same dangling handling
    oracle = pagerank_numpy(arcs, 10, n_iter=10)
    # ids 5..8 don't exist for the engine; the oracle spreads teleport over
    # all 10 — recompute with exact node set instead (manual iteration)
    ids = [0, 1, 2, 3, 4, 9]
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    src = np.array([idx[a] for a, _ in arcs])
    dst = np.array([idx[b] for _, b in arcs])
    deg = np.bincount(src, minlength=n)
    r = np.full(n, 1.0 / n)
    for _ in range(10):
        contrib = np.zeros(n)
        np.add.at(contrib, dst, r[src] / deg[src])
        dangling = r[deg == 0].sum()
        r = (1 - 0.85) / n + 0.85 * (contrib + dangling / n)
    for v in ids:
        assert abs(got[v] - r[idx[v]]) < 1e-12
