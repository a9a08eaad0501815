"""SparkSession builder with the engine's scale-oriented defaults.

Tuned for the sandbox (local[N], single JVM) but every knob is the one
you'd set on a 1000-executor cluster: AQE on (runtime partition coalescing
+ skew-join splitting), Arrow-vectorized Python exchange, explicit shuffle
partitions scaled with parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """About 60% of the host's MemTotal, capped at 48g: a local-mode
    driver heap larger than the host grows until the OOM killer ends it."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal"))
    except (OSError, StopIteration):
        return "48g"
    return f"{min(48 * 1024, kb * 6 // 10240)}m"


def get_spark(
    app: str = "lsh_project_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(8, cores * 8)
    # One BLAS thread per Python worker: task-level parallelism already
    # saturates the cores, and N workers x N-thread BLAS oversubscribes
    # N^2 threads — measured 5-20x slowdown on the small per-batch matvecs
    # the signature/fingerprint stages run.  Same setting a real cluster
    # ships via spark.executorEnv.*.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores * 2))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce post-shuffle partitions to data size, not to raw core
        # count — tiny stages collapse to a handful of tasks, huge stages
        # keep shuffle_partitions; without this every micro-shuffle pays
        # `shuffle_partitions` task launches
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32m")
        # ...but never coalesce below cluster parallelism: AQE's size-based
        # coalescing happily plans 3-6 task stages on medium shuffles,
        # leaving 80% of the cluster idle in the middle of the pipeline
        # (measured: the window/gather stages ran 6-way on 16 cores)
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionNum",
            str(cores * 2),
        )
        # small scan splits so modest local inputs still fan out across all
        # cores without an extra repartition shuffle (the Arrow profile
        # stage parallelizes over scan splits); at warehouse scale inputs
        # have millions of splits at any setting, so this only costs a few
        # extra task launches there
        .config("spark.sql.files.maxPartitionBytes", "4m")
        # let AQE re-plan cached DataFrames too (the pipeline persists its
        # profile and edges; default false pins their partitioning)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # signature matmul batches: large enough to amortize Arrow transfer,
        # small enough that batch x d floats stay cache/memory friendly
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem(),
        )
        # generous broadcast ceiling: the verify stage joins a compact pair
        # list (tens of MB at bench scale) against the array-heavy profile —
        # broadcasting the pairs spares the profile TWO full shuffles.  AQE
        # decides per-join from actual runtime sizes, so an oversized side
        # never broadcasts by accident.
        .config("spark.sql.autoBroadcastJoinThreshold", str(256 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # no inferred constraints: our plans carry explicit filters, so
        # inference adds only optimizer work on the chain's large plans
        # (perfbench tiled_sparse, 8 interleaved pairs on 4 cores: median
        # 4% slower with it on)
        .config("spark.sql.constraintPropagation.enabled", "false")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    # reliable RDD checkpoints for iterative operators (connected
    # components, substring cells): measured ~2x on 50M-edge CC vs
    # localCheckpoint, whose deserialized heap blocks turn half the task
    # time into GC.  A cluster deployment points this at HDFS/S3; GC'd
    # RDDs' checkpoint files are cleaned eagerly.
    b = b.config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    spark = b.getOrCreate()
    sc = spark.sparkContext
    # Default the reliable-checkpoint dir ONLY in local mode: a
    # driver-local tempdir is a valid checkpoint target only when driver
    # and executors share one filesystem.  On a real cluster (non-local
    # master) executors would write disjoint local paths and iterative
    # CC/substring checkpoints would corrupt — there the deployment must
    # set a shared dir (HDFS/S3) itself, and the operators' localCheckpoint
    # fallback covers the unset case.
    if sc.master.startswith("local") and not (
        sc._jsc.sc().getCheckpointDir().isDefined()
    ):
        import tempfile

        sc.setCheckpointDir(
            os.path.join(
                tempfile.gettempdir(), f"spark-ckpt-{app}-{os.getpid()}"
            )
        )
    return spark
