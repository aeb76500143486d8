"""Independent oracles for the benchmark's outputs: numpy and DuckDB only.

None of these call into ``webgraph_spark``; each restates the algorithm's
contract directly over the edge arrays.
"""

from __future__ import annotations

import hashlib
import tempfile

import numpy as np


def pagerank(src, dst, n, alpha, tol, max_iter):
    """Power iteration with uniform teleport and uniform dangling mass, L1
    stop at ``tol``. Returns (ranks, iterations)."""
    deg = np.bincount(src, minlength=n).astype(np.float64)
    has_out = deg > 0
    inv = np.divide(1.0, deg, out=np.zeros(n), where=has_out)
    r = np.full(n, 1.0 / n)
    it = 0
    for it in range(max_iter):
        dangling = 1.0 - float(r[has_out].sum())
        new = (1.0 - alpha) / n + alpha * dangling / n
        new = new + alpha * np.bincount(dst, weights=(r * inv)[src], minlength=n)
        delta = float(np.abs(new - r).sum())
        r = new
        if delta < tol:
            break
    return r, it + 1


def components(src, dst, n):
    """Connected components of the undirected graph, labelled by the
    smallest member id: min-label hooking plus pointer jumping to a
    fixpoint."""
    label = np.arange(n, dtype=np.int64)
    while True:
        old = label.copy()
        lo = np.minimum(label[src], label[dst])
        np.minimum.at(label, src, lo)
        np.minimum.at(label, dst, lo)
        np.minimum.at(label, old, label)  # hook each root to its best label
        while True:
            jumped = label[label]
            if np.array_equal(jumped, label):
                break
            label = jumped
        if np.array_equal(label, old):
            return label


def label_propagation(src, dst, n, max_iter):
    """Synchronous LPA over symmetric arcs ``src -> dst``: each node with
    neighbours takes the most frequent neighbour label, ties to the lowest
    label; stops at a fixpoint or after ``max_iter`` rounds."""
    labels = np.arange(n, dtype=np.int64)
    for it in range(max_iter):
        lab = labels[src]
        order = np.lexsort((lab, dst))
        d, lab = dst[order], lab[order]
        new_run = np.ones(d.size, dtype=bool)
        new_run[1:] = (d[1:] != d[:-1]) | (lab[1:] != lab[:-1])
        starts = np.flatnonzero(new_run)
        cnt = np.diff(np.append(starts, d.size))
        d, lab = d[starts], lab[starts]
        order = np.lexsort((lab, -cnt, d))
        d, lab = d[order], lab[order]
        first = np.ones(d.size, dtype=bool)
        first[1:] = d[1:] != d[:-1]
        new = labels.copy()
        new[d[first]] = lab[first]
        if np.array_equal(new, labels):
            return labels, it + 1
        labels = new
    return labels, max_iter


def _hash60(text: str) -> int:
    return int(hashlib.md5(text.encode()).hexdigest()[:15], 16)


def _hll_estimate(regs: np.ndarray, m: int) -> np.ndarray:
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1.0 + 1.079 / m))
    est = alpha * m * m / np.power(2.0, -regs.astype(np.float64)).sum(axis=1)
    zeros = (regs == 0).sum(axis=1)
    small = (est <= 2.5 * m) & (zeros > 0)
    with np.errstate(divide="ignore"):
        lc = m * np.log(m / np.maximum(zeros, 1).astype(np.float64))
    return np.where(small, lc, est)


def hyperball_replay(src, dst, n, log2m, seed, max_iter):
    """Replay HyperBall with the portable md5 hash: seed one register per
    node, then max-merge each node's registers with its successors' until
    nothing changes. Returns (nf curve, final registers, iterations)."""
    m = 1 << log2m
    regs = np.zeros((n, m), dtype=np.uint8)
    for v in range(n):
        key = f"{v}:0"
        j = _hash60(key + f"#j{seed}") % m
        h = _hash60(key + f"#h{seed}")
        regs[v, j] = ((h & -h).bit_length()) if h else 1  # trailing zeros + 1
    nf = [float(_hll_estimate(regs, m).sum())]
    for t in range(1, max_iter + 1):
        new = regs.copy()
        np.maximum.at(new, src, regs[dst])
        if np.array_equal(new, regs):
            return nf, regs, t
        regs = new
        nf.append(float(_hll_estimate(regs, m).sum()))
    return nf, regs, max_iter


def triangles(edges_parquet: str, threads: int) -> int:
    """Exact triangle count of the simple undirected graph, in DuckDB."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET threads={threads}")
        con.execute("SET memory_limit='1GB'")
        con.execute(f"SET temp_directory='{tempfile.gettempdir()}'")
        return int(
            con.execute(
                f"""
                WITH u AS (
                  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                  FROM '{edges_parquet}' WHERE src <> dst)
                SELECT count(*) FROM u e1
                JOIN u e2 ON e1.b = e2.a
                JOIN u e3 ON e3.a = e1.a AND e3.b = e2.b
                """
            ).fetchone()[0]
        )
    finally:
        con.close()
