"""SparkSession factory with scale-aware defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "bioframe_spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a session with the configs this engine expects.

    AQE on (runtime coalesce + skew-join splitting — chrom keys are few and
    skewed, AQE matters); Arrow on (the interval kernels exchange Arrow
    batches; the datapipe's pandas UDFs and driver collects convert
    through it);
    shuffle partitions sized to cores locally (on a real cluster, leave the
    default 200+ or set to 2-3× total executor cores).
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
    shuffle = shuffle_partitions or max(cpus, 8)
    # SPARK_GRAFT_MASTER lets every tool (bench, ladders, oracle replica)
    # run unchanged against a real cluster, e.g. spark://127.0.0.1:7077
    # (tools/standalone_cluster_check.py) — the default stays local[n]
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = SparkSession.builder.master(master)
    if not master.startswith("local"):
        # executor Python workers import this package by reference
        # (cloudpickle pickles module functions by name) — point them at
        # the package root. A production deployment ships a wheel via
        # --py-files instead; this covers the in-container standalone
        # validation cluster (tools/standalone_cluster_check.py).
        pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        extra = os.environ.get("PYTHONPATH", "")
        builder = (
            builder
            .config("spark.executor.memory",
                    os.environ.get("SPARK_EXECUTOR_MEM", "8g"))
            .config("spark.executor.cores",
                    os.environ.get("SPARK_EXECUTOR_CORES", "10"))
            .config("spark.executorEnv.PYTHONPATH",
                    f"{pkg_root}:{extra}" if extra else pkg_root)
        )
    return (
        builder
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the engine's null-signal convention (null text/array -> null
        # measure, never -1) assumes ANSI null semantics: under
        # ansi.enabled=false, size(NULL) is -1 (legacy sizeOfNull) and
        # every size()-derived feature silently shifts. The two hottest
        # sites are also guarded expression-level (bm25 avgdl, winnow
        # expr ref), but the session pin is the systemic guarantee —
        # deployments overriding this own the consequences.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # hard JVM-side bound on ANY driver collect: the kernel-gate
        # collects (ops._bounded_arrow / _bounded_pdf) skip their count probe on small
        # plan estimates and rely on this to kill a catastrophically
        # mis-estimated collect before it materializes (they catch the
        # resulting SparkException and fall back to a distributed plan)
        .config("spark.driver.maxResultSize",
                os.environ.get("SPARK_MAX_RESULT_SIZE", "1g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
