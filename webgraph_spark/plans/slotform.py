"""Shared edge-aligned slot-form for the block-vector fixpoint kernels.

The block kernels (PageRank, hash-min CC and label propagation, all run by
:mod:`webgraph_spark.plans.blockiter`) keep their vertex state as one dense
vector per CSR block and need, per (src_block, dst_block) pair, the
edge-aligned ``(src_slot, dst_slot)`` int32 coordinate arrays — source and
destination positions relative to each block's node-id range. Decoding the
varint CSR into that form costs one pass; every iteration after that is a
pure numpy gather + combine. This module builds it ONCE per CSR layout and
caches it on the :class:`~webgraph_spark.plans.csr.CsrGraph` handle, so
running LPA then CC on one symmetrized CSR, or a fixed-iteration PageRank
then a converged one, pays the decode + shuffle a single time.

Contract validated at build time: the state layout (derived from ``nodes``)
must COVER every edge endpoint in the CSR — a slot outside its block's
[lo, hi] range would wrap around the state vector and silently corrupt the
gather, so the builder raises instead.

Cache memory is ~8 bytes/edge (two int32 per edge), against ~1-2
bytes/edge for the varint CSR — the memory-for-CPU trade that makes every
iteration decode-free; it is dropped with the CsrGraph or via
``unpersist_pair_slotform``.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from webgraph_spark.plans.csr import CsrGraph, decode_block

PAIR_SLOTFORM_SCHEMA = (
    "src_block long, dst_block long, src_slot binary, dst_slot binary"
)


def block_ranges(state_rows) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Sorted (block_ids, lo, hi) arrays from collected state rows."""
    bid = np.array([r["block_id"] for r in state_rows], dtype=np.int64)
    lo = np.array([r["lo"] for r in state_rows], dtype=np.int64)
    hi = np.array([r["hi"] for r in state_rows], dtype=np.int64)
    order = np.argsort(bid)
    return bid[order], lo[order], hi[order]


def build_pair_slotform(
    csr: CsrGraph,
    rng_bid: np.ndarray,
    rng_lo: np.ndarray,
    rng_hi: np.ndarray,
    shuffle_parts: int,
) -> DataFrame:
    """Decode ``csr`` into the cached pair slot-form (persisted, counted).

    ``rng_bid``/``rng_lo``/``rng_hi`` are the sorted block ids and range
    bounds of the state layout (``block_ranges``); slots are relative to
    those bounds. Raises ``ValueError`` if any edge endpoint falls outside
    its block's state range (the ``nodes`` frame must cover every endpoint).
    Reuses a previously built slot-form for the same (layout, width) via a
    cache on the CsrGraph handle; a superseded cache entry is unpersisted
    before being replaced.
    """
    cache_key = (shuffle_parts, rng_bid.tobytes(), rng_lo.tobytes())
    cached = getattr(csr, "_pair_slotform_cache", None)
    if cached is not None and cached[0] == cache_key:
        return cached[1]

    cuts = np.asarray(csr.cuts, dtype=np.int64)

    def slotform_kernel(batches):
        for batch in batches:
            out = {
                "src_block": [],
                "dst_block": [],
                "src_slot": [],
                "dst_slot": [],
            }
            bid_col = batch.column("block_id")
            srcs_col = batch.column("srcs")
            degs_col = batch.column("degs")
            succ_col = batch.column("succ")
            for i in range(batch.num_rows):
                srcs = np.asarray(srcs_col[i].values, dtype=np.int64)
                degs = np.asarray(degs_col[i].values, dtype=np.int64)
                srcs, indptr, succs = decode_block(
                    srcs, degs, succ_col[i].as_py()
                )
                b_src = int(bid_col[i].as_py())
                pos = int(np.searchsorted(rng_bid, b_src))
                if pos >= rng_bid.size or rng_bid[pos] != b_src:
                    raise ValueError(
                        f"CSR block {b_src} has edges but no state range — "
                        "the nodes frame must cover every edge endpoint"
                    )
                lo, hi = int(rng_lo[pos]), int(rng_hi[pos])
                if srcs.size and (srcs[0] < lo or srcs[-1] > hi):
                    raise ValueError(
                        f"source ids [{srcs[0]}, {srcs[-1]}] outside state "
                        f"range [{lo}, {hi}] of block {b_src} — the nodes "
                        "frame must cover every edge endpoint"
                    )
                d = np.diff(indptr)
                src_slot = (np.repeat(srcs, d) - lo).astype(np.int32)
                dblk = np.searchsorted(cuts, succs, side="left")
                for b in np.unique(dblk):
                    sel = dblk == b
                    pos2 = int(np.searchsorted(rng_bid, b))
                    if pos2 >= rng_bid.size or rng_bid[pos2] != b:
                        raise ValueError(
                            f"destination block {b} has edges but no state "
                            "range — the nodes frame must cover every edge "
                            "endpoint"
                        )
                    blo, bhi = int(rng_lo[pos2]), int(rng_hi[pos2])
                    dsel = succs[sel]
                    if dsel.min() < blo or dsel.max() > bhi:
                        raise ValueError(
                            f"destination ids outside state range "
                            f"[{blo}, {bhi}] of block {b} — the nodes frame "
                            "must cover every edge endpoint"
                        )
                    out["src_block"].append(b_src)
                    out["dst_block"].append(int(b))
                    out["src_slot"].append(src_slot[sel].tobytes())
                    out["dst_slot"].append(
                        (dsel - blo).astype(np.int32).tobytes()
                    )
            yield pa.RecordBatch.from_pydict(
                {
                    "src_block": pa.array(out["src_block"], pa.int64()),
                    "dst_block": pa.array(out["dst_block"], pa.int64()),
                    "src_slot": pa.array(out["src_slot"], pa.binary()),
                    "dst_slot": pa.array(out["dst_slot"], pa.binary()),
                }
            )

    blocks = (
        csr.blocks.repartition(shuffle_parts, "block_id")
        .sortWithinPartitions("block_id")
        .persist()
    )
    blocks.count()
    slotform = (
        blocks.mapInArrow(slotform_kernel, schema=PAIR_SLOTFORM_SCHEMA)
        .repartition(shuffle_parts, "src_block")
        .sortWithinPartitions("src_block")
        .persist()
    )
    slotform.count()
    blocks.unpersist()
    if cached is not None:
        cached[1].unpersist()  # superseded layout: do not orphan its cache
    csr._pair_slotform_cache = (cache_key, slotform)
    return slotform


def unpersist_pair_slotform(csr: CsrGraph) -> None:
    """Drop the cached slot-form (kernels leave it cached for reuse)."""
    cached = getattr(csr, "_pair_slotform_cache", None)
    if cached is not None:
        cached[1].unpersist()
        csr._pair_slotform_cache = None
