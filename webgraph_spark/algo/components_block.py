"""Block-vector connected components: hash-min as a min-SpMV over CSR.

The row-state kernel (:func:`webgraph_spark.algo.components
.hash_min_components`, semantics after ``ConnectedComponents.java:69-173``)
is systolic — only changed labels are re-sent — but still pays two O(state)
exchanges and a JVM hash aggregate per round. This variant runs the SAME
synchronous hash-min fixpoint (component label = min over own label and all
neighbours' labels, per round, over the symmetrized graph) in the block-
vector form run by :mod:`webgraph_spark.plans.blockiter`:

1. gather: source labels by slot, PRE-COMBINED per destination slot with
   one ``np.minimum.reduceat`` after a slot sort — one compact binary row
   per (src_block, dst_block) pair: (slots, mins), at most one entry per
   DISTINCT destination per source block;
2. update: fold the incoming minima into the label vector
   (``new = minimum(old, incoming)``) and count changes; the count rides
   the eager checkpoint — ONE action per round, stop at zero.

Exact integer minima — bit-identical to the row kernel at every round
(differential-tested); the fixpoint is the min node id per component either
way. Rounds are O(diameter) like any hash-min; the row kernel's large-star/
small-star fallback remains the answer for pathological diameters, while
this kernel is the throughput path for the web-like (low-diameter) regime
the north rule targets.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webgraph_spark.algo.components import ComponentsResult
from webgraph_spark.plans.blockiter import (
    BlockAlgo,
    concat_column,
    run_block_fixpoint,
    until_unchanged,
)
from webgraph_spark.plans.csr import CsrGraph


def _min_per_slot(ds: np.ndarray, vals: np.ndarray):
    """(slots, per-slot minimum) over (slot, value) pairs."""
    order = np.argsort(ds, kind="stable")
    ds, vals = ds[order], vals[order]
    first = np.empty(ds.size, dtype=bool)
    first[0] = True
    np.not_equal(ds[1:], ds[:-1], out=first[1:])
    starts = np.flatnonzero(first)
    return ds[starts], np.minimum.reduceat(vals, starts)


def _combine(comps: np.ndarray, ds: np.ndarray, width: int):
    u_ds, u_min = _min_per_slot(ds, comps)
    return u_ds.astype(np.int32).tobytes(), u_min.astype(np.int64).tobytes()


def _update(v: dict, parts, params: dict) -> dict:
    old = v["comps"]
    new = old
    changed = 0
    if parts.num_rows:
        # one combine over all incoming partials, then a single vectorized
        # fold — np.minimum.at is an order of magnitude slower than the
        # sort + reduceat path on large slot arrays
        slots = concat_column(parts, "slots", np.int32)
        mins = concat_column(parts, "mins", np.int64)
        if slots.size:
            u_slots, u_mins = _min_per_slot(slots, mins)
            new = old.copy()
            new[u_slots] = np.minimum(old[u_slots], u_mins)
            changed = int(np.count_nonzero((new != old) & (v["mask"] > 0)))
    return {"comps": new, "block_changed": changed}


HASH_MIN = BlockAlgo(
    vectors={"comps": "int64"},
    scalars={"block_changed": "long"},
    out="comp",
    source=lambda v: v["comps"],
    partials={"slots": "binary", "mins": "binary"},
    combine=_combine,
    update=_update,
)


def hash_min_components_block(
    spark: SparkSession,
    csr_sym: CsrGraph,
    nodes: DataFrame,
    max_iter: int = 200,
    checkpointer=None,
    initial_state: DataFrame | None = None,
    start_iteration: int = 0,
) -> ComponentsResult:
    """Hash-min CC over a CSR of the SYMMETRIZED loop-free graph.

    ``csr_sym`` must be built from the symmetrized edge set (see
    :func:`webgraph_spark.plans.partitioning.symmetrize_for_join`); the
    caller owns that contract. Converges when no label changes.
    """
    result = ComponentsResult(components=None, iterations=start_iteration)

    run = run_block_fixpoint(
        spark, csr_sym, HASH_MIN,
        nodes.select("id", F.col("id").alias("comps")),
        max_iter, until_unchanged(result.changed_per_iter),
        checkpointer=checkpointer,
        initial_state=initial_state,
        start_iteration=start_iteration,
    )
    result.components = run.values
    result.iterations = run.iterations
    result.iter_seconds = run.iter_seconds
    return result
