"""Layered benchmark of the webgraph_spark engine on a box-fitted local session.

Usage (from the repository root; prints every metric of both workloads)::

    for w in ingest_rank fixpoint_dense; do
        python3 perfbench/run.py --workload $w --seed 1 --seconds 10 --trace 0
    done

One run is a closed loop: a single driver process runs one Spark job at a
time on ``local[nproc]``. It

1. sets up: generates the workload's input from ``--seed`` with DuckDB
   (the engine's ``corpus_sql_ctes``), writes it to parquet and checks the
   input guard — seven times, so that ``setup_s`` is a median;
2. starts the session and warms it up with one small Arrow job (task
   threads and one Python worker per core) — once, as a cold JVM costs
   more than the run can repeat, so ``session_start_s`` is printed but not
   gated — then runs timed repetitions until ``--seconds`` have passed (at
   least one);
3. checks every timed repetition's outputs against independent oracles;
4. prints one line per metric, then the result as one JSON line.

``--trace 0`` reports the end-to-end metrics, measured with the event log
off: the Spark work of the timed repetition (``spark_jobs``,
``shuffle_write_mb``, ``shuffle_records``, read from the driver's status
store), ``peak_rss_mb`` (peak resident size of the whole process tree —
driver, JVM, Python workers — during the timed repetition) and ``setup_s``.
The times (``wall_s``, ``cpu_s`` — CPU seconds of the process tree —
``time_to_ranks_s`` and the stage times) are printed and written to the run
details, but not reported as end-to-end metrics: on a shared box their
run-to-run spread is wider than any regression bound can absorb, so a time
claim needs paired parent/change runs instead. A repetition outlasts
``--seconds``, so a run usually times one; the work counts are the same on
every repetition of a seed.

``--trace 1`` runs the untraced repetitions, then the same again in a fresh
JVM with an uncompressed event log and every layer call in its own job
group, and reports the per-layer metrics folded out of that log, plus the
tracing overhead (traced minus untraced repetition wall). Any failed oracle
check makes the run exit with status 1.

Run details (box fingerprint, input record, every metric, all spans) are
written to ``.perfbench_out/`` at the end of the run.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

if not os.path.isdir(os.path.join(ROOT, "webgraph_spark")):
    sys.exit(f"perfbench: no webgraph_spark package next to {HERE}")

sys.path.insert(0, ROOT)

import box  # noqa: E402
import inputs  # noqa: E402

SETUP_REPS = 7

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

# the unit of every metric the benchmark reports (BENCHMARK.json) and of the
# figures it only prints
UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
UNITS.update(
    wall_s="s", cpu_s="s", session_start_s="s", time_to_ranks_s="s", ingest_s="s",
    ingest_edges_per_s="edges/s", pagerank_edges_per_s_per_iter="edges/s",
    cc_s="s", lpa_s="s", triangles_s="s", hyperball_s="s",
    checkpointed_run_s="s", resume_s="s", failed_frac="ratio",
)


def _session(work: str, cores: int, event_log: str | None):
    from webgraph_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=box.spark_conf(work, event_log),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _measure(args, work, ctx_args, record, event_log):
    """One session in a fresh JVM: warm-up and timed repetitions, traced
    when ``event_log`` names a directory. Also returns the seconds from the
    session's start to the end of its warm-up. The JVM has exited on
    return."""
    from spans import Tracer

    t = time.monotonic()
    spark = _session(work, ctx_args["cores"], event_log)
    try:
        # warm-up: one small Arrow job starts the task threads and one Python
        # worker per core; the per-plan code generation and JIT stay inside
        # the timed repetition, as in a freshly submitted job
        spark.range(0, 1 << 16, numPartitions=ctx_args["cores"]).mapInArrow(
            lambda batches: batches, "id long"
        ).count()
        session_start_s = time.monotonic() - t
        tracer = Tracer(spark.sparkContext if event_log else None)
        reps, results = _reps(args.workload, spark, tracer, ctx_args, args.seconds, record)
    finally:
        _shutdown(spark)
    return tracer, reps, results, session_start_s


def _reps(workload, spark, tracer, ctx_args, seconds, record):
    """Timed repetitions until ``seconds`` pass. Returns the repetitions and
    their oracle results."""
    from workloads import WORKLOADS, Ctx

    fn, check = WORKLOADS[workload]
    ctx = Ctx(spark=spark, tracer=tracer, **ctx_args)
    reps, results = [], []
    t_end = time.monotonic() + seconds
    while not reps or time.monotonic() < t_end:
        _release(spark)
        tracer.rep = len(reps)
        try:
            rep = fn(ctx)
        except Exception:
            ctx.timing.clear()
            traceback.print_exc()
            results.append(("repetition", False, "raised"))
            break
        reps.append(rep)
        results += check(rep, ctx.inputs, record, ctx.cores)
    return reps, results


def _shutdown(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited, so
    the next session starts in a fresh JVM and no process outlives the run."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits on EOF from its parent
    gateway.proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _release(spark) -> None:
    """Drop cached frames and let the JVM clean up before the next rep."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def end_to_end(setup_s, peak_rss_mb, reps) -> dict[str, float]:
    """The gated metrics: set-up time, peak RSS, and the Spark work of a
    timed repetition (median over repetitions)."""
    out = {k: statistics.median([r.work[k] for r in reps]) for k in reps[0].work}
    out.update(setup_s=statistics.median(setup_s), peak_rss_mb=peak_rss_mb)
    return {m["name"]: out[m["name"]] for m in SPEC["end_to_end"]}


def stage_metrics(reps) -> dict[str, float]:
    """The workload's stage times: medians over repetitions."""
    return {k: statistics.median([r.stages[k] for r in reps]) for k in reps[0].stages}


def layer_counts(reps) -> dict[str, float]:
    """Count-type per-layer metrics: medians over repetitions."""
    return {k: statistics.median([r.counts[k] for r in reps]) for k in reps[0].counts}


def run(args, work: str) -> tuple[dict, int]:
    from spans import layer_metrics

    cores = box.nproc()
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    ticks0 = box.cpu_ticks()
    info: dict = {"workload": args.workload, "seed": args.seed, "box": box.fingerprint()}

    input_dir = os.path.join(work, "input")
    setup_s = []
    for _ in range(SETUP_REPS):
        shutil.rmtree(input_dir, ignore_errors=True)
        t = time.monotonic()
        record = inputs.generate(args.workload, args.seed, input_dir)
        setup_s.append(time.monotonic() - t)
    info["input"] = record

    timing = threading.Event()
    ctx_args = {
        "inputs": input_dir, "work": os.path.join(work, "ckpt"), "cores": cores,
        "timing": timing,
    }
    with box.RssSampler(timing) as rss:
        tracer, reps, results, session_start_s = _measure(args, work, ctx_args, record, None)
        info["spans"] = [s.__dict__ for s in tracer.spans]
        metrics: dict[str, float] = {}
        if reps:
            metrics = info["end_to_end"] = end_to_end(setup_s, rss.peak_mb, reps)
            info["stages"] = stage_metrics(reps)
            info["stages"]["wall_s"] = statistics.median([r.wall_s for r in reps])
            info["stages"]["cpu_s"] = statistics.median([r.cpu_s for r in reps])
            info["stages"]["session_start_s"] = session_start_s
            info["counts"] = layer_counts(reps)
        if args.trace and reps and all(ok for _, ok, _ in results):
            log_dir = os.path.join(work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            tracer_t, reps_t, results_t, _ = _measure(args, work, ctx_args, record, log_dir)
            results += results_t
            info["traced_spans"] = [s.__dict__ for s in tracer_t.spans]
            if reps_t:
                traced = layer_metrics(tracer_t, list(range(len(reps_t))), log_dir)
                per_layer = dict.fromkeys((m["name"] for m in SPEC["per_layer"]), 0.0)
                per_layer.update({k: v for k, v in traced.items() if k in per_layer})
                per_layer.update(layer_counts(reps_t))
                wall_t = statistics.median([r.wall_s for r in reps_t])
                per_layer["process.wall_s"] = info["stages"]["wall_s"]
                per_layer["trace.overhead_s"] = wall_t - per_layer["process.wall_s"]
                per_layer["trace.coverage"] = (
                    sum(v for k, v in traced.items() if k.endswith(".wall_s")) / wall_t
                )
                metrics = per_layer
    info["steal_pct"] = box.steal_pct(ticks0, box.cpu_ticks())
    attempted = len(results)
    failed = sum(1 for _, ok, _ in results if not ok)
    info["checks"] = [{"op": op, "ok": bool(ok), "detail": d} for op, ok, d in results]
    info["failed_frac"] = failed / attempted if attempted else 1.0
    correct = attempted > 0 and failed == 0 and bool(metrics)
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }
    return {"info": info, "result": result}, 0 if correct else 1


def _report(info: dict, result: dict) -> None:
    """Human-readable lines before the JSON result."""
    b = info["box"]
    print(
        f"# {info['workload']} seed={info['seed']} box: {b['nproc']} cores, "
        f"{b['mem_total_mb']} MB, spark {b['spark']}, pyarrow {b['pyarrow']}, "
        f"pandas {b['pandas']}, numpy {b['numpy']}, steal {info['steal_pct']:.2f}%"
    )
    if "input" in info:
        r = info["input"]
        print(f"# input n={r['n']} m={r['m']} checksum={r['edge_checksum']}")
    for c in info["checks"]:
        print(f"# check {c['op']}: {'ok' if c['ok'] else 'FAILED'} ({c['detail']})")
    figures = {**info.get("end_to_end", {}), **info.get("stages", {})}
    for name, value in dict(figures, failed_frac=info["failed_frac"]).items():
        print(f"{name} {value:.6g} {UNITS[name]}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(inputs.SHAPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        out, status = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(out, f, indent=1, default=str)
    _report(out["info"], out["result"])
    print(json.dumps(out["result"]))
    return status


if __name__ == "__main__":
    sys.exit(main())
