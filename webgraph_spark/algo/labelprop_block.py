"""Block-vector label propagation: label state as per-block dense vectors.

The row-state kernel (:func:`webgraph_spark.algo.labelprop.label_propagation`)
pays three exchanges per round — the O(n) label table to the edge layout, the
O(m) gathered (dst, label) rows into the vote aggregate, and the vote
partials to the final per-node aggregate — and the (dst, label) hash
aggregate is the dominant cost (it hashes one JVM row per edge per round).
This variant runs on :mod:`webgraph_spark.plans.blockiter` like the block
PageRank and CC kernels: the entire label state lives as one dense int64
vector per CSR block of the SYMMETRIZED graph, and one round is

1. gather: source labels by slot, with the (dst_slot, label) votes of each
   (src_block, dst_block) pair PRE-COMBINED by one lexsort — one compact
   binary row per block pair (slots + labels + counts), never one row per
   edge. The shuffle of those B² rows is bounded by the number of DISTINCT
   (dst, label) pairs per source block, which starts ≤ m and collapses as
   labels coalesce (the whole point of LPA);
2. update: merge the partial counts (one lexsort over the concatenated
   triples), pick each slot's winner (max count, ties to the LOWEST label —
   the same deterministic rule as the row kernel and the SQL oracle), keep
   the old label where no vote arrived, and ride the per-block changed
   count on the eager checkpoint — ONE Spark action per round.

Semantics are bit-identical to the row kernel (differential-tested): votes
are integer counts, so there is no float-order hazard at all.

Scale notes: state bytes per round are O(id-range · 8); the shuffle is the
pre-combined vote partials (≤ min(m, distinct pairs) · 14 bytes, binary-
packed — no JVM row overhead); per-edge CPU is one gather + one lexsort per
round, all inside numpy.

THIS KERNEL IS THE DESIGNATED LPA SCALE PATH (round 4): under the pinned
two-level protocol it measures scaling efficiency 1.01 at 113.7M edges
(``BENCH_SCALING.json`` ``fixpoint_suite.lpa_block``, 2 interleaved reps)
— the only LPA formulation measured ≥ 0.8 — while the row kernel measures
0.695 at the same size (on the PageRank work-per-iteration trend curve,
docs/SCALING.md §7b, but not measured over the gate at any size). Capacity
claims for LPA at cluster scale cite this kernel; the row kernel remains
the small-graph/ad-hoc path and the differential-test twin.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webgraph_spark.algo.labelprop import LabelPropResult
from webgraph_spark.plans.blockiter import (
    BlockAlgo,
    concat_column,
    run_block_fixpoint,
    until_unchanged,
)
from webgraph_spark.plans.csr import CsrGraph


def _combine_votes(ds: np.ndarray, lab: np.ndarray, cnt: np.ndarray):
    """Sum counts over equal (slot, label) pairs; returns sorted triples
    (slot asc, label asc within slot)."""
    order = np.lexsort((lab, ds))
    ds, lab, cnt = ds[order], lab[order], cnt[order]
    if ds.size == 0:
        return ds, lab, cnt
    new_run = np.empty(ds.size, dtype=bool)
    new_run[0] = True
    np.not_equal(ds[1:], ds[:-1], out=new_run[1:])
    np.logical_or(new_run[1:], lab[1:] != lab[:-1], out=new_run[1:])
    starts = np.flatnonzero(new_run)
    sums = np.add.reduceat(cnt.astype(np.int64), starts)
    return ds[starts], lab[starts], sums


def _combine(labels: np.ndarray, ds: np.ndarray, width: int):
    u_ds, u_lab, u_cnt = _combine_votes(
        ds, labels, np.ones(ds.size, dtype=np.int32)
    )
    return (
        u_ds.astype(np.int32).tobytes(),
        u_lab.astype(np.int64).tobytes(),
        u_cnt.astype(np.int64).tobytes(),
    )


def _update(v: dict, parts, params: dict) -> dict:
    old = v["labels"]
    new = old
    changed = 0
    if parts.num_rows:
        ds, lab, cnt = _combine_votes(
            concat_column(parts, "slots", np.int32),
            concat_column(parts, "labs", np.int64),
            concat_column(parts, "cnts", np.int64),
        )
        if ds.size:
            # winner per slot: max count, ties to the LOWEST label — sort
            # by (slot asc, count desc, label asc), take each slot's first
            order = np.lexsort((lab, -cnt, ds))
            ds, lab = ds[order], lab[order]
            first = np.empty(ds.size, dtype=bool)
            first[0] = True
            np.not_equal(ds[1:], ds[:-1], out=first[1:])
            new = old.copy()
            new[ds[first]] = lab[first]
            changed = int(np.count_nonzero((new != old) & (v["mask"] > 0)))
    return {"labels": new, "block_changed": changed}


SYNC_LPA = BlockAlgo(
    vectors={"labels": "int64"},
    scalars={"block_changed": "long"},
    out="label",
    source=lambda v: v["labels"],
    partials={"slots": "binary", "labs": "binary", "cnts": "binary"},
    combine=_combine,
    update=_update,
)


def label_propagation_block(
    spark: SparkSession,
    csr_sym: CsrGraph,
    nodes: DataFrame,
    max_iter: int = 20,
    initial: DataFrame | None = None,
    checkpointer=None,
    initial_state: DataFrame | None = None,
    start_iteration: int = 0,
) -> LabelPropResult:
    """Synchronous LPA over a CSR of the SYMMETRIZED loop-free graph.

    ``csr_sym`` must be built from the symmetrized edge set (both directions
    present, duplicates removed) — the caller owns that contract; see
    :func:`webgraph_spark.plans.partitioning.symmetrize_for_join`. Stops at
    fixpoint or after ``max_iter`` rounds, like the row kernel. ``initial``
    is an optional ``(id, label)`` warm start; nodes it misses start with
    their id as the label.
    """
    result = LabelPropResult(labels=None, iterations=start_iteration)

    run = run_block_fixpoint(
        spark, csr_sym, SYNC_LPA,
        nodes.select("id", F.col("id").alias("labels")),
        max_iter, until_unchanged(result.changed_per_iter),
        initial=initial,
        checkpointer=checkpointer,
        initial_state=initial_state,
        start_iteration=start_iteration,
    )
    result.labels = run.values
    result.iterations = run.iterations
    result.iter_seconds = run.iter_seconds
    return result
