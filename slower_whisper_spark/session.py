"""SparkSession factory tuned for the validation engine.

Defaults target correctness tests on local[N]; the same knobs are what we'd
set on a 1000-executor cluster (AQE on, sensible shuffle partitioning,
Arrow enabled for the pandas-UDF escape hatch).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "slower_whisper_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    AQE is enabled so runtime statistics can re-plan joins (broadcast
    conversion, skew-join splitting) — the scale-path behaviors the north
    rule demands. ``spark.sql.shuffle.partitions`` defaults to 2x cores
    locally; on a real cluster it should be set to ~2-3x total cores and
    AQE coalescing will trim empty partitions.

    ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`` is set
    to ``true`` so that coalescing also reaches cached plans. Spark's
    default (``false``) keeps every ``.cache()``/``.persist()`` result at
    ``spark.sql.shuffle.partitions``, and ``validate()`` caches several
    small results: the pass-1 row (one row per table partition, with its
    bounded violation rows), and the table rules' duplicate/violation sets.
    Each later read of one of them then runs a task per shuffle partition
    over almost no data. A session built elsewhere should set the same
    conf; ``validate()`` itself never changes the caller's session.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER")
    under_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    if master is None and not under_submit:
        master = "local[*]"
    # Under spark-submit the JVM gateway already exists (PythonRunner exports
    # PYSPARK_GATEWAY_PORT) and carries the submit line's --master; leaving
    # the builder's master UNSET is the only way to honor it — setting any
    # master here would silently turn a cluster submit into a single-node
    # run. (Reading SparkConf() pre-session does NOT work: before the
    # gateway attaches it is an empty Python-side dict.)
    cores = os.cpu_count() or 8
    if shuffle_partitions is None and not under_submit:
        if master and master.startswith("local["):
            inner = master[len("local[") : -1]
            n = cores if inner == "*" else int(inner)
        else:
            n = cores
        shuffle_partitions = max(8, 2 * n)
    # Under spark-submit with no explicit override, leave
    # spark.sql.shuffle.partitions to the submit line / cluster conf: sizing
    # it from the DRIVER's cpu_count would silently cap shuffle parallelism
    # on a large cluster, and builder.config would override any --conf the
    # operator passed (AQE coalescing then right-sizes from the conf value).

    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # wide aggs (64-min minhash signatures, multi-column stats profiles)
        # must stay in whole-stage codegen; default maxFields=100 silently
        # drops them to interpreted mode (~10-30x slower)
        .config("spark.sql.codegen.maxFields", "400")
        # PySpark 4 wraps every DataFrame-API call with call-site capture
        # (a Python stack walk + two extra JVM round-trips to set/clear
        # PySparkCurrentOrigin) purely to enrich error messages. On a
        # plan-construction-heavy workload (a 40-rule suite builds ~1k
        # wrapped calls per validate()) that is measurable driver-serial
        # time at BOTH ends of a scaling run; errors still raise, just
        # without the user-code line annotation.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # one BLAS thread per task: numpy in Arrow UDF workers must not spawn
        # its own thread pool under Spark's — it oversubscribes cores and
        # quietly steals cross-core parallelism from low-core runs, skewing
        # any N-vs-4N scaling measurement
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
