"""SparkSession factory with engine defaults.

Tuned for correctness at small scale and sane behavior at cluster scale:
AQE on (runtime re-plan + skew-join splitting), Arrow on (all our kernels
are pandas/Arrow vectorized), shuffle partitions sized to the parallelism.
On a real cluster these come from spark-submit conf; the factory only fills
gaps so the same code runs under ``local[N]`` tests and ``spark-submit``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ENGINE_CONF: dict[str, str] = {
    # Adaptive execution: runtime coalescing, skew-join splitting, plan re-opt.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # All engine kernels are Arrow-vectorized pandas UDFs.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # Iterative jobs re-reference small state tables; keep broadcasts roomy.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Deterministic timestamp behavior for oracle comparisons.
    "spark.sql.session.timeZone": "UTC",
}


def get_spark(
    app_name: str = "webgraph-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` outside a cluster
    (the machine's core count when unset).
    ``shuffle_partitions`` defaults to the local core count so one wave of
    reduce tasks covers the machine (on a cluster: set via spark-submit).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
        master = f"local[{cpus}]"
    if master is not None:
        builder = builder.master(master)
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
        shuffle_partitions = int(cpus) if cpus.isdigit() else os.cpu_count()
    conf = dict(ENGINE_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    # local mode: the driver JVM IS the executor; size the heap for
    # 32 task threads × Arrow batches (the box has 128 GiB)
    conf.setdefault("spark.driver.memory", "16g")
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
