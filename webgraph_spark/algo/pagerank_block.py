"""Block-vector PageRank: rank state as per-block dense vectors.

The rank state lives as one dense float64 vector per CSR block (covering the
block's node-id range under the same degree-balanced cuts), next to the
block's int32 out-degree and int8 teleport-set vectors, and runs on the
shared block-fixpoint driver (:mod:`webgraph_spark.plans.blockiter`). One
iteration is

1. gather over the cached ``(src_slot, dst_slot)`` slot-form: the source
   block's ``(ranks / outdeg)[src_slot]`` is scattered into ONE partial
   vector per destination block — B rows out per source block, B² rows per
   iteration instead of one row per (block, dst). A pair whose edges cover
   less than :data:`DENSE_OCCUPANCY` of the destination block's width
   emits sparse (slots, vals) arrays instead — still one row per pair, so
   the shuffle stays ≤ min(dense, sparse) at any block count, and bytes are
   ≈ n·8 when dense: the order of the state itself, independent of m.
2. update: reduce the partial vectors, apply teleport + dangling mass, and
   compute the per-block L1 delta and non-dangling mass as columns; the
   global Σ|Δ| and Σ(rank·has_out) ride the eager checkpoint as observed
   metrics — one Spark action per iteration.

The dangling/teleport term is a driver broadcast measured on the previous
iteration's state. The update rule is the one in
:mod:`webgraph_spark.algo.pagerank`, with teleport and dangling mass spread
uniformly over the teleport set: every node for :func:`pagerank_block`, the
``sources`` for :func:`personalized_pagerank`. The slot-form costs 8
bytes/edge of cache (two int32 per edge, shared with the CC and LPA
kernels): the out-degree lives in the block state, not in the slot-form.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webgraph_spark.algo.pagerank import PageRankResult
from webgraph_spark.plans.blockiter import BlockAlgo, run_block_fixpoint
from webgraph_spark.plans.csr import CsrGraph

_STRIDE = 6  # extrapolation stride: kills modes with lambda^6 = alpha^6

# a (src_block, dst_block) pair emits a dense partial vector when its edges
# number at least this share of the destination block's width
DENSE_OCCUPANCY = 0.05


def _source(v: dict) -> np.ndarray:
    # only slots with out-arcs are ever gathered; the rest stay 0
    return np.divide(
        v["ranks"], v["outdeg"], out=np.zeros(v["ranks"].size),
        where=v["outdeg"] > 0,
    )


def _combine(vals: np.ndarray, ds: np.ndarray, width: int):
    if ds.size >= DENSE_OCCUPANCY * width:
        return None, np.bincount(ds, weights=vals, minlength=width)[:width].tobytes()
    # sparse pair: pre-combine duplicate destinations, emit (slots, vals)
    uniq, inv = np.unique(ds, return_inverse=True)
    return uniq.astype(np.int32).tobytes(), np.bincount(inv, weights=vals).tobytes()


def _init(v: dict) -> dict:
    return {
        "block_delta": 0.0,
        "block_nd": float((v["ranks"] * (v["outdeg"] > 0)).sum()),
    }


def _update_factory(alpha: float):
    a_s = alpha ** _STRIDE

    def update(v: dict, parts, params: dict) -> dict:
        acc = np.zeros(v["mask"].size)
        slots_col = parts.column("slots")
        vals_col = parts.column("vals")
        for i in range(parts.num_rows):
            vals = np.frombuffer(vals_col[i].as_py(), dtype=np.float64)
            if slots_col[i].is_valid:
                slots = np.frombuffer(slots_col[i].as_py(), dtype=np.int32)
                np.add.at(acc, slots, vals)
            else:
                acc += vals
        new = v["mask"] * (v["tele"] * params["__base"] + alpha * acc)
        if params["__extrap"]:
            # A_{alpha^s} power extrapolation (stride s = 6; Kamvar et al.
            # 2003 generalized): the Google matrix's subdominant spectrum
            # has modulus <= alpha, with the bulk EXACTLY at alpha times a
            # low-order root of unity (2-cycles, layered 3-cycles), so
            #   x* = (x_k - alpha^s x_{k-s}) / (1 - alpha^s)
            # annihilates every mode with lambda^s = alpha^s while scaling
            # any other mode by |lambda^s - alpha^s|/(1 - alpha^s) <=
            # 2 alpha^s/(1-alpha^s)  (~1.2 at alpha=.85, s=6) — it can slow
            # an iteration slightly but can never diverge. The fixed point
            # is unchanged and mass is preserved. x_{k-s} comes from the
            # snapshot taken s iterations earlier via the __snap flag.
            new = v["mask"] * ((new - a_s * v["prev"]) / (1.0 - a_s))
        return {
            "ranks": new,
            "prev": new if params["__snap"] else v["prev"],
            "block_delta": float(np.abs(new - v["ranks"]).sum()),
            "block_nd": float((new * (v["outdeg"] > 0)).sum()),
        }

    return update


def _pagerank(
    spark: SparkSession,
    csr: CsrGraph,
    nodes: DataFrame,
    sources: DataFrame | None,
    alpha: float,
    tol: float,
    max_iter: int,
    extrapolate: bool | int | None = None,
    checkpointer=None,
    initial_state: DataFrame | None = None,
    start_iteration: int = 0,
    initial_ranks: DataFrame | None = None,
) -> PageRankResult:
    """The one PageRank engine; ``sources=None`` teleports to every node."""
    outdeg = csr.blocks.select(
        F.explode(F.arrays_zip("srcs", "degs")).alias("e")
    ).select(F.col("e.srcs").alias("id"), F.col("e.degs").alias("outdeg"))
    values = nodes.select("id").join(outdeg, "id", "left").na.fill({"outdeg": 0})
    if sources is None:
        n_tele = nodes.count()
        values = values.withColumn("tele", F.lit(1))
    else:
        n_tele = sources.count()
        values = values.join(
            sources.select("id").withColumn("tele", F.lit(1)), "id", "left"
        ).na.fill({"tele": 0})
    values = values.withColumn("ranks", F.col("tele") / F.lit(n_tele))
    algo = BlockAlgo(
        vectors={"ranks": "float64", "tele": "int8", "outdeg": "int32",
                 "prev": "float64"},
        scalars={"block_delta": "double", "block_nd": "double"},
        out="rank",
        source=_source,
        partials={"slots": "binary", "vals": "binary"},
        combine=_combine,
        update=_update_factory(alpha),
        init=_init,
        params=("__base", "__extrap", "__snap"),
    )

    result = PageRankResult(ranks=None, iterations=start_iteration)
    armed_at: int | None = None

    def before(it: int, metrics) -> dict:
        nonlocal armed_at
        dangling = 1.0 - float(metrics["block_nd"] or 0.0)
        base = (1.0 - alpha) / n_tele + alpha * dangling / n_tele
        # adaptive A_{alpha^6}: arm a snapshot while the L1 contraction
        # ratio sits at ~alpha; fire the extrapolation exactly _STRIDE
        # iterations later if it still does (see pagerank_block)
        d = result.deltas
        alpha_dominated = (
            len(d) >= 3
            and d[-2] > 0
            and d[-3] > 0
            and abs(d[-1] / d[-2] - alpha) < 0.03 * alpha
            and abs(d[-2] / d[-3] - alpha) < 0.03 * alpha
        )
        do_snap = bool(extrapolate) and armed_at is None and alpha_dominated
        do_extrap = (
            bool(extrapolate)
            and armed_at is not None
            and it == armed_at + _STRIDE
            and alpha_dominated
        )
        if do_snap:
            armed_at = it
        if armed_at is not None and it >= armed_at + _STRIDE:
            armed_at = None  # fired or gone stale — re-arm on next signal
        return {"__base": base, "__extrap": int(do_extrap), "__snap": int(do_snap)}

    def after(metrics) -> tuple[float, bool]:
        delta = float(metrics["block_delta"] or 0.0)
        result.deltas.append(delta)
        return delta, delta < tol

    run = run_block_fixpoint(
        spark, csr, algo, values, max_iter, after, before,
        initial=initial_ranks,
        checkpointer=checkpointer,
        initial_state=initial_state,
        start_iteration=start_iteration,
    )
    result.ranks = run.values
    result.iterations = run.iterations
    result.iter_seconds = run.iter_seconds
    result.converged = run.converged
    return result


def pagerank_block(
    spark: SparkSession,
    csr: CsrGraph,
    nodes: DataFrame,
    alpha: float = 0.85,
    tol: float = 1e-9,
    max_iter: int = 200,
    extrapolate: bool | int | None = None,
    checkpointer=None,
    initial_state: DataFrame | None = None,
    start_iteration: int = 0,
    initial_ranks: DataFrame | None = None,
) -> PageRankResult:
    """CSR block-vector PageRank to convergence (L1 delta < tol).

    ``nodes`` is the full node table ``(id)`` (dangling nodes included); it
    must cover every edge endpoint of ``csr``. ``checkpointer`` (optional
    :class:`webgraph_spark.checkpoint.CheckpointManager`) persists the
    per-iteration block state + lineage; resume passes a checkpointed state
    frame as ``initial_state`` with its ``start_iteration``.
    ``initial_ranks`` is an ``(id, rank)`` warm start (e.g. the converged
    vector before a graph update); nodes it misses start at 1/n.

    ``extrapolate=True`` enables ADAPTIVE A_{alpha^6} power extrapolation
    (Kamvar et al. 2003, generalized to stride 6): when the driver-observed
    L1 contraction ratio sits at ~alpha (the error is dominated by modes of
    modulus alpha — the real alpha mode plus the alpha·root-of-unity modes
    of 2-/3-periodic link structure), a snapshot is armed and, six
    iterations later, ``x* = (x_k − alpha^6 x_{k−6}) / (1 − alpha^6)``
    annihilates all lambda^6 = alpha^6 modes in one linear shot. The
    trigger matters: on fast-mixing graphs (ratio ≪ alpha) extrapolation
    with a 6-stale iterate AMPLIFIES small modes by ~(alpha/λ)^6, so it
    only fires while the measured ratio stays within 3% of alpha. The
    fixed point is unchanged either way, and the L1 < tol stop criterion
    still measures a genuine successive-iterate delta. Leave ``None`` for
    fixed-iteration runs that must match a term-by-term oracle.
    """
    return _pagerank(
        spark, csr, nodes, None, alpha, tol, max_iter,
        extrapolate=extrapolate,
        checkpointer=checkpointer,
        initial_state=initial_state,
        start_iteration=start_iteration,
        initial_ranks=initial_ranks,
    )


def personalized_pagerank(
    spark: SparkSession,
    csr: CsrGraph,
    nodes: DataFrame,
    sources: DataFrame,
    alpha: float = 0.85,
    tol: float = 1e-9,
    max_iter: int = 200,
) -> PageRankResult:
    """Personalized PageRank: teleport (and dangling mass) goes to the
    ``sources`` set uniformly instead of all nodes.

    No reference counterpart (the reference has no PageRank at all); the
    standard PPR definition on the same block engine, with the teleport set
    as an int8 vector in the state. Nodes outside the reachable set of
    ``sources`` converge to rank 0.
    """
    return _pagerank(spark, csr, nodes, sources, alpha, tol, max_iter)
