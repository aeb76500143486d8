"""Block-fixpoint driver: the one iteration loop of every block-vector kernel.

PageRank, hash-min CC and label propagation keep their vertex state as one
dense vector per CSR block, covering the block's node-id range under the
CSR's degree-balanced cuts. They all run the reference's iteration skeleton
(``HyperBall.java:1119,1330``: driver loop, per-range kernels, one
convergence aggregate per pass), and this module is that skeleton. One
iteration is

1. gather: cogroup(slot-form, state) on the source block. The cached
   edge-aligned ``(src_slot, dst_slot)`` slot-form
   (:mod:`webgraph_spark.plans.slotform`) streams with no exchange; the
   algorithm's ``source`` picks the vector gathered at ``src_slot`` and its
   ``combine`` folds each (src_block, dst_block) pair into ONE partial row;
2. shuffle those ≤ B² partial rows by dst_block;
3. update: cogroup(partials, state) on the destination block. The
   algorithm's per-block scalars (L1 delta, changed count, ...) are summed
   as observed metrics on the eager checkpoint, so an iteration is ONE
   Spark action.

An algorithm plugs in as a :class:`BlockAlgo` (its kernels) plus two
per-run hooks: ``before`` turns the last observed metrics into the
iteration's broadcast parameters, ``after`` turns the new metrics into the
checkpoint delta and the stop test. This module owns state init (with an
optional warm-start ``(id, value)`` frame), resume from a checkpointed
state frame, both cogroups, ``observe`` + ``checkpoint_state``, the
:class:`~webgraph_spark.checkpoint.CheckpointManager` hook, the
per-iteration wall, and the explode back to ``(id, value)`` rows.

Scale notes: state bytes per iteration are O(id-range), not O(m), so the
layout assumes reasonably dense node ids (``sources/ids.mint_dense_ids`` is
the standard preprocessing, exactly as WebGraph renumbers to 0..n-1).
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from webgraph_spark.plans.csr import CsrGraph
from webgraph_spark.plans.iterate import checkpoint_state
from webgraph_spark.plans.slotform import block_ranges, build_pair_slotform

_ARROW = {"long": pa.int64(), "double": pa.float64(), "binary": pa.binary()}
_SQL = {"int64": "long", "float64": "double"}


@dataclass(frozen=True)
class BlockAlgo:
    """One block-vector algorithm: its state layout and its two kernels.

    Every block's state row is ``(block_id, lo, hi, mask, *vectors,
    *scalars)``: ``mask`` (int8) marks the slots of real nodes, each vector
    is a dense numpy array over the block's [lo, hi] range stored as bytes,
    and each scalar is one per-block number summed into the observed
    metrics. ``vectors[0]`` is the value exploded into the result.
    """

    vectors: dict[str, str]  # state vector column -> numpy dtype name
    scalars: dict[str, str]  # per-block scalar column -> Spark type
    out: str  # result column name, e.g. "rank"
    # state vectors of a source block -> the vector gathered at src_slot
    source: Callable[[dict], np.ndarray]
    partials: dict[str, str]  # partial columns after dst_block -> type
    # (gathered values, dst_slot, dst block width) -> one partial row
    combine: Callable[[np.ndarray, np.ndarray, int], tuple]
    # (state vectors incl. mask, partials table, params) -> new columns
    update: Callable[[dict, pa.Table, dict], dict]
    # initial state vectors -> initial scalars (default: all 0)
    init: Callable[[dict], dict] | None = None
    params: tuple[str, ...] = ()  # per-iteration scalars ``before`` sets


@dataclass
class BlockRun:
    values: DataFrame  # (id, algo.out)
    iterations: int
    iter_seconds: list[float] = field(default_factory=list)
    converged: bool = False


def until_unchanged(changed_per_iter: list[int]):
    """``after`` hook of the integer fixpoints: record the per-iteration
    changed count (the ``block_changed`` scalar) and stop at zero."""

    def after(metrics) -> tuple[float, bool]:
        changed = int(metrics["block_changed"] or 0)
        changed_per_iter.append(changed)
        return float(changed), changed == 0

    return after


def concat_column(tbl: pa.Table, col: str, dtype) -> np.ndarray:
    """Concatenate a binary-packed numpy column over all rows of ``tbl``."""
    return np.concatenate(
        [np.frombuffer(v.as_py(), dtype=dtype) for v in tbl.column(col)]
    )


def _schema(fields: list[tuple[str, str]]) -> tuple[str, pa.Schema]:
    """(Spark DDL, Arrow schema) of one list of (column, Spark type)."""
    ddl = ", ".join(f"{c} {t}" for c, t in fields)
    return ddl, pa.schema([(c, _ARROW[t]) for c, t in fields])


def _vectors(tbl: pa.Table, dtypes: dict[str, str]) -> dict[str, np.ndarray]:
    return {
        c: np.frombuffer(tbl.column(c)[0].as_py(), dtype=dt)
        for c, dt in dtypes.items()
    }


def run_block_fixpoint(
    spark: SparkSession,
    csr: CsrGraph,
    algo: BlockAlgo,
    node_values: DataFrame,
    max_iter: int,
    after: Callable[[dict], tuple[float, bool]],
    before: Callable[[int, dict], dict] | None = None,
    initial: DataFrame | None = None,
    checkpointer=None,
    initial_state: DataFrame | None = None,
    start_iteration: int = 0,
) -> BlockRun:
    """Run ``algo`` over ``csr`` until ``after`` says stop or ``max_iter``.

    ``node_values`` holds one row per node: ``id`` plus the initial value of
    every state vector it names (vectors it omits start at 0). ``initial``
    is an optional warm-start ``(id, algo.out)`` frame whose values replace
    the ``vectors[0]`` defaults of the nodes it covers. ``initial_state`` is
    a checkpointed state frame to resume from at ``start_iteration``; it is
    the whole kernel state, so resume needs no graph re-scan.

    ``before(it, metrics)`` returns the iteration's ``algo.params`` from the
    metrics last observed (on the initial state before the first
    iteration); ``after(metrics)`` returns ``(delta, stop)``, where delta is
    recorded with the checkpoint and ``stop`` ends the run as converged.
    """
    vec_cols = {"mask": "int8", **algo.vectors}
    value = next(iter(algo.vectors))
    state_ddl, state_schema = _schema(
        [("block_id", "long"), ("lo", "long"), ("hi", "long")]
        + [(c, "binary") for c in vec_cols]
        + list(algo.scalars.items())
    )
    partial_ddl, partial_schema = _schema(
        [("dst_block", "long"), *algo.partials.items()]
    )
    observed = [F.sum(c).alias(c) for c in algo.scalars]

    def init_kernel(key, pdf):
        import pandas as pd

        ids = pdf["id"].to_numpy(np.int64)
        lo, hi = int(ids.min()), int(ids.max())
        vecs = {c: np.zeros(hi - lo + 1, dtype=dt) for c, dt in vec_cols.items()}
        vecs["mask"][ids - lo] = 1
        for c in algo.vectors:
            if c in pdf:
                vecs[c][ids - lo] = pdf[c].to_numpy(vecs[c].dtype)
        row = {"block_id": int(key[0]), "lo": lo, "hi": hi}
        row.update({c: v.tobytes() for c, v in vecs.items()})
        row.update({c: 0 for c in algo.scalars})
        row.update(algo.init(vecs) if algo.init else {})
        return pd.DataFrame({c: [row[c]] for c in state_schema.names})

    obs = Observation()
    if initial_state is not None:
        state = initial_state.select(*state_schema.names)
    else:
        if initial is not None:
            # nodes missing from a partial warm start keep their default
            # (LPA: their id as the label; without the coalesce a NULL label
            # would cast to INT64_MIN in the kernel and win every min tie)
            node_values = node_values.join(
                initial.select("id", F.col(algo.out).alias("__init")),
                "id",
                "left",
            ).withColumn(
                value, F.coalesce(F.col("__init"), F.col(value))
            ).drop("__init")
        state = (
            node_values.withColumn("block_id", csr.node_block_id_col("id"))
            .groupBy("block_id")
            .applyInPandas(init_kernel, schema=state_ddl)
        )
    state = state.observe(obs, *observed).transform(checkpoint_state)
    metrics = obs.get
    rng_bid, rng_lo, rng_hi = block_ranges(
        state.select("block_id", "lo", "hi").collect()
    )
    widths = rng_hi - rng_lo + 1
    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # decoded once and cached on the CsrGraph: the next block kernel on the
    # same layout (CC after LPA, a converged run after a fixed-iteration
    # one) reuses it; plans.slotform.unpersist_pair_slotform drops it
    slotform = build_pair_slotform(csr, rng_bid, rng_lo, rng_hi, shuffle_parts)

    def gather_kernel(slot_tbl: pa.Table, state_tbl: pa.Table) -> pa.Table:
        cols: dict[str, list] = {c: [] for c in partial_schema.names}
        if state_tbl.num_rows and slot_tbl.num_rows:
            src = algo.source(_vectors(state_tbl, algo.vectors))
            dstb = slot_tbl.column("dst_block").to_numpy()
            ss_col = slot_tbl.column("src_slot")
            ds_col = slot_tbl.column("dst_slot")
            for i in range(slot_tbl.num_rows):
                ss = np.frombuffer(ss_col[i].as_py(), dtype=np.int32)
                ds = np.frombuffer(ds_col[i].as_py(), dtype=np.int32)
                b = int(dstb[i])
                width = int(widths[np.searchsorted(rng_bid, b)])
                cols["dst_block"].append(b)
                for c, v in zip(algo.partials, algo.combine(src[ss], ds, width)):
                    cols[c].append(v)
        return pa.table(
            {f.name: pa.array(cols[f.name], f.type) for f in partial_schema}
        )

    def update_kernel(parts_tbl: pa.Table, state_tbl: pa.Table) -> pa.Table:
        if state_tbl.num_rows == 0:
            return state_schema.empty_table()
        params = {p: state_tbl.column(p)[0].as_py() for p in algo.params}
        new = algo.update(_vectors(state_tbl, vec_cols), parts_tbl, params)
        cols = {}
        for f in state_schema:
            if f.name not in new:
                cols[f.name] = state_tbl.column(f.name)
            elif f.name in vec_cols:
                cols[f.name] = pa.array([new[f.name].tobytes()], f.type)
            else:
                cols[f.name] = pa.array([new[f.name]], f.type)
        return pa.table(cols)

    run = BlockRun(values=None, iterations=start_iteration)
    for it in range(start_iteration, max_iter):
        t0 = time.monotonic()
        # both cogroups take the state frame as is: the gather side's
        # state exchange is then reused by the update side whenever it has
        # no per-iteration columns — one shuffle stage (and job) fewer
        partials = (
            slotform.groupby("src_block")
            .cogroup(state.groupby("block_id"))
            .applyInArrow(gather_kernel, schema=partial_ddl)
        )
        # per-iteration scalars ride as columns so each kernel function
        # object is created ONCE — a fresh closure per iteration would
        # re-pickle and re-register a new UDF every round
        params = before(it, metrics) if before else {}
        obs = Observation()
        state = (
            partials.groupby("dst_block")
            .cogroup(
                state.withColumns(
                    {p: F.lit(v) for p, v in params.items()}
                ).groupby("block_id")
            )
            .applyInArrow(update_kernel, schema=state_ddl)
            .observe(obs, *observed)
            .transform(checkpoint_state)
        )
        metrics = obs.get
        delta, stop = after(metrics)
        wall = time.monotonic() - t0
        run.iter_seconds.append(wall)
        run.iterations = it + 1
        if checkpointer is not None:
            # the B-row block-state frame is the checkpoint: tiny writes,
            # per-BLOCK lineage rows, and resume needs no graph re-scan
            checkpointer.save_iteration(state, it + 1, wall_s=wall, delta=delta)
        if stop:
            run.converged = True
            break

    out_type = _SQL[algo.vectors[value]]

    def explode_kernel(batches):
        for batch in batches:
            for i in range(batch.num_rows):
                lo = batch.column("lo")[i].as_py()
                mask = np.frombuffer(batch.column("mask")[i].as_py(), np.int8)
                vec = np.frombuffer(
                    batch.column(value)[i].as_py(), algo.vectors[value]
                )
                live = np.flatnonzero(mask)
                yield pa.RecordBatch.from_pydict(
                    {
                        "id": pa.array(live + lo, pa.int64()),
                        algo.out: pa.array(vec[live], _ARROW[out_type]),
                    }
                )

    run.values = state.mapInArrow(
        explode_kernel, schema=f"id long, {algo.out} {out_type}"
    )
    return run
