"""The two workloads: one timed repetition each, and its oracle checks.

Every engine call sits in a span named after the engine module it calls
into, and every lazy result is persisted and counted inside that span, so a
layer's cost never leaks into the next consumer's span.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from webgraph_spark.algo.components_block import hash_min_components_block
from webgraph_spark.algo.hyperball import hyperball
from webgraph_spark.algo.labelprop_block import label_propagation_block
from webgraph_spark.algo.pagerank_block import pagerank_block
from webgraph_spark.algo.triangles import triangle_count_adjacency
from webgraph_spark.checkpoint import CheckpointManager
from webgraph_spark.plans.csr import build_csr, compression_stats
from webgraph_spark.plans.partitioning import symmetrize_for_join
from webgraph_spark.plans.slotform import block_ranges, build_pair_slotform
from webgraph_spark.sources.corpus import (
    corpus_edges,
    corpus_nodes,
    extract_references,
    verify_content_sha,
)

import box
import oracles
from inputs import edge_checksum
from spans import Tracer, group_work

# Every Spark iteration costs a ~0.7 s floor on 4 cores whatever the graph
# size, and every run starts a cold JVM, so these counts (with the input
# shapes in inputs.SHAPES) hold one run near 45 s (ingest_rank) and 55 s
# (fixpoint_dense) including set-up and oracles.
ALPHA = 0.85
# L1 stop for ingest_rank's PageRank (8 iterations). Its adaptive
# extrapolation is on but never fires on this graph, at any tolerance: the
# successive L1 deltas never settle at a ratio of ALPHA.
INGEST_TOL = 1e-2
LPA_ITERS = 2
HB_LOG2M = 4
HB_ITERS = 2
HB_SEED = 42


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    inputs: str  # directory written by inputs.generate
    work: str  # scratch directory for checkpoints
    cores: int
    timing: threading.Event = field(default_factory=threading.Event)

    @property
    def group(self) -> str | None:
        """Job group of the timed part of an untraced repetition (a traced
        one tags its jobs by span instead)."""
        return None if self.tracer.sc else f"rep-{self.tracer.rep}"

    def start(self) -> tuple[float, float]:
        """Open the timed part of a repetition (peak RSS is sampled in it)."""
        if self.group:
            self.spark.sparkContext.setJobGroup(self.group, "perfbench")
        self.timing.set()
        return time.monotonic(), box.tree_cpu_s()

    def stop(self, rep: "Rep", t0: tuple[float, float]) -> None:
        """Close it: record the repetition's wall and process-tree CPU, and
        in an untraced repetition the Spark work its timed part did."""
        rep.wall_s = time.monotonic() - t0[0]
        rep.cpu_s = box.tree_cpu_s() - t0[1]
        self.timing.clear()
        if self.group:
            sc = self.spark.sparkContext
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            rep.work = group_work(sc, self.group)


@dataclass
class Rep:
    """What one repetition leaves for the oracles and the metrics."""

    outputs: dict = field(default_factory=dict)
    counts: dict = field(default_factory=dict)
    stages: dict = field(default_factory=dict)  # per-stage seconds
    wall_s: float = 0.0  # the timed part of the repetition
    cpu_s: float = 0.0  # CPU seconds the process tree spent in it
    work: dict = field(default_factory=dict)  # spans.group_work of it


def _persist_count(df):
    df = df.persist()
    return df, df.count()


def _csr(edges, cores):
    csr = build_csr(edges, num_blocks=cores)
    csr.blocks, _ = _persist_count(csr.blocks)
    return csr


def _slot_ranges(csr, nodes):
    """The block-state layout the block kernels derive from ``nodes``."""
    rows = (
        nodes.select("id")
        .withColumn("block_id", csr.node_block_id_col("id"))
        .groupBy("block_id")
        .agg(F.min("id").alias("lo"), F.max("id").alias("hi"))
        .collect()
    )
    return block_ranges(rows)


class TimedCheckpointManager(CheckpointManager):
    """CheckpointManager whose writes and reads run in ``checkpoint`` spans."""

    def __init__(self, spark, root, tracer: Tracer):
        super().__init__(spark, root)
        self.tracer = tracer
        self.save_s: list[float] = []
        self.load_s: list[float] = []

    def save_iteration(self, state, iteration, wall_s, delta):
        with self.tracer.span("checkpoint") as s:
            super().save_iteration(state, iteration, wall_s, delta)
        self.save_s.append(s.end - s.start)

    def load(self, iteration):
        with self.tracer.span("checkpoint") as s:
            state, _ = _persist_count(self.load_iteration(iteration))
        self.load_s.append(s.end - s.start)
        return state

    def bytes_per_iter(self) -> float:
        state_dir = os.path.join(self.root, "state")
        sizes = [
            sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, files in os.walk(os.path.join(state_dir, it))
                for f in files
            )
            for it in os.listdir(state_dir)
        ]
        return float(np.mean(sizes)) if sizes else 0.0


def ingest_rank(ctx: Ctx) -> Rep:
    spark, tr, rep = ctx.spark, ctx.tracer, Rep()
    t0 = ctx.start()
    with tr.span("sources.corpus") as corpus_span:
        corpus, rows = _persist_count(
            spark.read.parquet(os.path.join(ctx.inputs, "corpus.parquet"))
        )
        bad_sha = verify_content_sha(corpus)
    with tr.span("sources.ids") as ids_span:
        nodes, n = _persist_count(corpus_nodes(corpus))
        edges, m = _persist_count(corpus_edges(corpus, nodes, no_loops=True))
    with tr.span("plans.csr"):
        csr = _csr(edges, ctx.cores)
    with tr.span("algo.pagerank_block"):
        pr = pagerank_block(
            spark, csr, nodes.select("id"), alpha=ALPHA, tol=INGEST_TOL,
            max_iter=200, extrapolate=True,
        )
        ranks, _ = _persist_count(pr.ranks)
    ctx.stop(rep, t0)
    n_refs = extract_references(corpus).count()
    ingest_s = corpus_span.self_s + ids_span.self_s
    steady = pr.iter_seconds[1:] or pr.iter_seconds
    rep.stages = {
        "time_to_ranks_s": rep.wall_s,
        "ingest_s": ingest_s,
        "ingest_edges_per_s": m / ingest_s,
        "pagerank_edges_per_s_per_iter": m / statistics.median(steady),
    }
    rep.counts = {
        "sources.corpus.rows_verified": rows,
        "sources.corpus.refs_extracted": n_refs,
        "sources.ids.edge_yield": m / n_refs,
        "algo.pagerank_block.iters": pr.iterations,
        "algo.pagerank_block.iter_s_median": statistics.median(steady),
        "algo.pagerank_block.iter_s_p80": float(np.percentile(steady, 80)),
        "algo.pagerank_block.first_iter_s": pr.iter_seconds[0],
        **_csr_counts(csr),
    }
    rep.outputs = {
        "bad_sha": bad_sha,
        "edges": edges.toPandas(),
        "ranks": ranks.toPandas(),
        "pr_iters": pr.iterations,
        "pr_converged": pr.converged,
    }
    return rep


def fixpoint_dense(ctx: Ctx) -> Rep:
    spark, tr, rep = ctx.spark, ctx.tracer, Rep()
    edges = spark.read.parquet(os.path.join(ctx.inputs, "edges.parquet"))
    nodes = spark.read.parquet(os.path.join(ctx.inputs, "nodes.parquet"))
    shutil.rmtree(ctx.work, ignore_errors=True)
    ck = TimedCheckpointManager(spark, ctx.work, tr)
    t0 = ctx.start()
    with tr.span("plans.partitioning"):
        sym, m_sym = _persist_count(symmetrize_for_join(edges))
    with tr.span("plans.csr"):
        csr = _csr(sym, ctx.cores)
    with tr.span("plans.slotform"):
        slotform = build_pair_slotform(
            csr, *_slot_ranges(csr, nodes),
            int(spark.conf.get("spark.sql.shuffle.partitions")),
        )
    with tr.span("algo.components_block") as cc_span:
        cc = hash_min_components_block(spark, csr, nodes, checkpointer=ck)
        comps, _ = _persist_count(cc.components)
    t = time.monotonic()
    start = cc.iterations // 2
    state = ck.load(start)
    with tr.span("algo.components_block"):
        comps_resumed, _ = _persist_count(hash_min_components_block(
            spark, csr, nodes, max_iter=cc.iterations, checkpointer=ck,
            initial_state=state, start_iteration=start,
        ).components)
    resume_s = time.monotonic() - t
    with tr.span("algo.labelprop_block") as lpa_span:
        lpa = label_propagation_block(spark, csr, nodes, max_iter=LPA_ITERS)
        labels, _ = _persist_count(lpa.labels)
    with tr.span("algo.triangles") as tri_span:
        tri = triangle_count_adjacency(sym, pre_symmetrized=True)
    with tr.span("algo.hyperball") as hb_span:
        hb = hyperball(
            edges, nodes, log2m=HB_LOG2M, seed=HB_SEED, max_iter=HB_ITERS,
            hash_fn="portable",
        )
        hb_state, _ = _persist_count(hb.state)
    ctx.stop(rep, t0)
    rep.stages = {
        "cc_s": cc_span.self_s,
        "lpa_s": lpa_span.self_s,
        "triangles_s": tri_span.self_s,
        "hyperball_s": hb_span.self_s,
        "checkpointed_run_s": cc_span.end - cc_span.start,
        "resume_s": resume_s,
    }
    rep.counts = {
        "algo.components_block.iters": cc.iterations,
        "algo.labelprop_block.iters": lpa.iterations,
        "algo.hyperball.iters": hb.iterations,
        "plans.slotform.cached_mb": slotform.agg(
            F.sum(F.length("src_slot") + F.length("dst_slot"))
        ).collect()[0][0] / (1 << 20),
        "checkpoint.save_s_median": statistics.median(ck.save_s),
        "checkpoint.bytes_per_iter": ck.bytes_per_iter(),
        "checkpoint.load_s": ck.load_s[0],
        **_csr_counts(csr),
    }
    rep.outputs = {
        "m_sym": m_sym,
        "comps": comps.toPandas(),
        "comps_resumed": comps_resumed.toPandas(),
        "labels": labels.toPandas(),
        "lpa_iters": lpa.iterations,
        "triangles": tri,
        "hb_nf": hb.nf,
        "hb_iters": hb.iterations,
        "hb_regs": hb_state.select("id", "regs").toPandas(),
    }
    return rep


def _csr_counts(csr) -> dict:
    stats = compression_stats(csr)
    per_block = [r[0] for r in csr.blocks.select("n_edges").collect()]
    return {
        "plans.csr.bits_per_link": stats["bits_per_link"],
        "plans.csr.blocks": stats["blocks"],
        "plans.csr.block_edge_skew": max(per_block) / (sum(per_block) / len(per_block)),
    }


# -- oracle checks: [(operation, ok, detail)] per timed repetition ----------


def _sorted_by_id(pdf, col):
    pdf = pdf.sort_values("id")
    return pdf["id"].to_numpy(np.int64), pdf[col].to_numpy()


def _read_edges(path):
    t = pq.read_table(path)
    return t.column("src").to_numpy().astype(np.int64), t.column("dst").to_numpy().astype(np.int64)


def _symmetric(src, dst):
    pairs = np.unique(
        np.stack([np.concatenate([src, dst]), np.concatenate([dst, src])], axis=1),
        axis=0,
    )
    return pairs[:, 0], pairs[:, 1]


def check_ingest_rank(rep: Rep, inputs: str, record: dict, cores: int):
    out, n = rep.outputs, record["n"]
    results = [("verify_content_sha", out["bad_sha"] == 0, f"{out['bad_sha']} violations")]
    src = out["edges"]["src"].to_numpy(np.int64)
    dst = out["edges"]["dst"].to_numpy(np.int64)
    got = (len(src), edge_checksum(src, dst))
    want = (record["m"], record["edge_checksum"])
    results.append(("edge_set", got == want, f"(m, checksum) {got} vs DuckDB {want}"))
    osrc, odst = _read_edges(os.path.join(inputs, "oracle_edges.parquet"))
    ids, ranks = _sorted_by_id(out["ranks"], "rank")
    want_ranks, want_iters = oracles.pagerank(osrc, odst, n, ALPHA, INGEST_TOL, 200)
    ok = (
        out["pr_converged"]
        and want_iters == out["pr_iters"]
        and np.array_equal(ids, np.arange(n))
        and np.allclose(ranks, want_ranks, rtol=1e-6, atol=0.0)
    )
    err = np.max(np.abs(ranks - want_ranks) / want_ranks) if ranks.size == n else np.nan
    results.append((
        "pagerank", bool(ok),
        f"{out['pr_iters']} vs {want_iters} iterations, max rel err {err:.2e}",
    ))
    return results


def check_fixpoint_dense(rep: Rep, inputs: str, record: dict, cores: int):
    out, n = rep.outputs, record["n"]
    src, dst = _read_edges(os.path.join(inputs, "edges.parquet"))
    ssrc, sdst = _symmetric(src, dst)
    results = [("symmetrize", out["m_sym"] == ssrc.size, f"{out['m_sym']} vs {ssrc.size} arcs")]
    want_cc = oracles.components(ssrc, sdst, n)
    ids, comps = _sorted_by_id(out["comps"], "comp")
    results.append((
        "components",
        np.array_equal(ids, np.arange(n)) and np.array_equal(comps, want_cc),
        f"{len(np.unique(want_cc))} components",
    ))
    _, resumed = _sorted_by_id(out["comps_resumed"], "comp")
    results.append((
        "components_resume",
        np.array_equal(resumed, comps),
        "resumed vs uninterrupted components",
    ))
    want_lpa, want_it = oracles.label_propagation(ssrc, sdst, n, out["lpa_iters"])
    _, labels = _sorted_by_id(out["labels"], "label")
    results.append((
        "label_propagation",
        np.array_equal(labels, want_lpa) and want_it == out["lpa_iters"],
        f"{out['lpa_iters']} rounds",
    ))
    want_tri = oracles.triangles(os.path.join(inputs, "edges.parquet"), cores)
    results.append((
        "triangles", out["triangles"] == want_tri, f"{out['triangles']} vs DuckDB {want_tri}"
    ))
    nf, regs, it = oracles.hyperball_replay(src, dst, n, HB_LOG2M, HB_SEED, out["hb_iters"])
    ids, got_regs = _sorted_by_id(out["hb_regs"], "regs")
    got_regs = np.frombuffer(b"".join(got_regs), dtype=np.uint8).reshape(len(ids), -1)
    results.append((
        "hyperball",
        it == out["hb_iters"] and np.array_equal(got_regs, regs)
        and np.allclose(out["hb_nf"], nf, rtol=1e-9, atol=0.0),
        f"{out['hb_iters']} iterations, NF({len(nf) - 1}) = {nf[-1]:.1f}",
    ))
    return results


# workload name -> (timed repetition, oracle checks of its outputs)
WORKLOADS = {
    "ingest_rank": (ingest_rank, check_ingest_rank),
    "fixpoint_dense": (fixpoint_dense, check_fixpoint_dense),
}
