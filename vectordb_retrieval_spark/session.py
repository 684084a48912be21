"""SparkSession factory tuned for this engine.

Local mode is the test bed; the configs are chosen so the same code
runs unchanged on a multi-executor cluster: AQE handles runtime
coalescing/skew, shuffle partitions scale with parallelism, Arrow is on
for every pandas-kernel boundary.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "vectordb_retrieval_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults: ``local[$SPARK_GRAFT_CPUS]`` (falls back to ``local[*]``),
    shuffle partitions ~= cores (not the 200 default, which
    over-parallelizes local runs), AQE + skew-join handling enabled so
    the same plans re-optimize at cluster scale.

    Local masters run their Python workers under the engine's bootstrap
    (``spark.python.daemon.module`` = ``vectordb_retrieval_spark.pyworker``),
    which stops every task from re-reading ``pyspark.zip`` and the
    spark-core jar on Python < 3.13 (~0.2 s per task).  The workers
    import it from the package's parent directory, which is added to
    ``spark.executorEnv.PYTHONPATH`` (after any value in
    ``extra_conf``), so it loads whatever the driver's working directory
    and ``PYTHONPATH``.  Other masters keep PySpark's stock daemon: their
    executors may not have the package.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32

    # one BLAS thread per python worker: every task already owns one
    # core, so letting each worker's OpenBLAS/MKL spawn n_cores threads
    # oversubscribes cores² ways (measured ~5× slowdown on the GEMM
    # kernels with 32 concurrent workers).  Set BEFORE the JVM launches
    # so the python-worker daemon inherits it; setdefault keeps user
    # overrides.  On a real cluster executors get the same via
    # spark.executorEnv.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # ORDER BY hash LIMIT n (the bounded k-means train sample) must
        # plan as TakeOrdered (per-partition top-n + driver merge, one
        # scan), not the full-sort fallback Spark switches to past 10k
        # rows.  2^21 covers every sample with dim >= 64 under the
        # LLOYD_COLLECT gate (2^27 cells / 64); lower-dim high-nlist
        # builds past 2^21 sampled rows fall back to the full-sort plan
        # — a perf difference only, results unchanged (advisor r12).
        .config("spark.sql.execution.topKSortFallbackThreshold", str(1 << 21))
        .config("spark.ui.enabled", "false")
        # testdata events.parquet carries TIMESTAMP(NANOS) which Spark
        # rejects by default; read as long nanos and convert at use sites.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    conf = dict(extra_conf or {})
    # a daemon module the workers cannot import fails every Python task
    # of the session: configure it only where its file is on disk
    pkg = os.path.dirname(os.path.abspath(__file__))
    if master.startswith("local") and os.path.isfile(
        os.path.join(pkg, "pyworker.py")
    ):
        builder = builder.config(
            "spark.python.daemon.module", "vectordb_retrieval_spark.pyworker"
        )
        key = "spark.executorEnv.PYTHONPATH"
        paths = (conf.get(key), os.path.dirname(pkg))
        conf[key] = os.pathsep.join(p for p in paths if p)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
