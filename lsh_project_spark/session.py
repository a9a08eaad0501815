"""SparkSession builder with the engine's scale-oriented defaults.

Tuned for the sandbox (local[N], single JVM) but every knob is the one
you'd set on a 1000-executor cluster: AQE on (runtime partition coalescing
+ skew-join splitting), Arrow-vectorized Python exchange, explicit shuffle
partitions scaled with parallelism.  Local sessions run their Python
workers from ``worker_daemon``, which spares every task pyspark's re-read
of the zips on the worker's path.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# the sys.path entry this package was imported from: the repo directory,
# or the zip that spark-submit --py-files put on the driver's path
_PATH_ENTRY = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_EXECUTOR_PYTHONPATH = "spark.executorEnv.PYTHONPATH"


def _default_driver_mem() -> str:
    """About 60% of the host's MemTotal, capped at 48g: a local-mode
    driver heap larger than the host grows until the OOM killer ends it."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal"))
    except (OSError, StopIteration):
        return "48g"
    return f"{min(48 * 1024, kb * 6 // 10240)}m"


def _launcher_conf() -> dict:
    """The spark.* values a launcher already set for this driver.  Under
    spark-submit the JVM starts before this process and holds its
    ``--master``/``--conf`` values as system properties.  A plain
    ``python`` driver has no launcher, and reading the JVM's values there
    would start the JVM before the builder could pass it
    ``spark.driver.memory``, so none are read."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return {}
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized()  # connects to the launcher's JVM
    return dict(SparkConf().getAll())


def _local_cores(master: str) -> int | None:
    """Worker threads of a ``local``, ``local[N]`` or ``local[*]`` master
    (``[N, F]`` retry forms too); None for any other master."""
    m = re.fullmatch(r"local(?:\[(\d+|\*)(?:,\s*\d+)?\])?", master.strip())
    if not m:
        return None
    n = m.group(1) or "1"
    return (os.cpu_count() or 1) if n == "*" else int(n)


def get_spark(
    app: str = "lsh_project_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    """The engine's session.  Its settings (and ``extra``) only fill the
    keys a launcher such as spark-submit did not set: ``spark-submit
    --master yarn --conf spark.sql.shuffle.partitions=N`` keeps both.
    Shuffle partitions, default parallelism and the AQE partition floor
    scale with the cores of the master in effect: a launcher's local
    master, else ``cores``, else ``SPARK_GRAFT_CPUS`` (default 32)."""
    launcher = _launcher_conf()
    cores = (
        _local_cores(launcher.get("spark.master", ""))
        or cores
        or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    )
    shuffle_partitions = shuffle_partitions or max(8, cores * 8)
    # One BLAS thread per Python worker: task-level parallelism already
    # saturates the cores, and N workers x N-thread BLAS oversubscribes
    # N^2 threads — measured 5-20x slowdown on the small per-batch matvecs
    # the signature/fingerprint stages run.  Same setting a real cluster
    # ships via spark.executorEnv.*.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    conf = {
        "spark.master": f"local[{cores}]",
        "spark.app.name": app,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.default.parallelism": str(cores * 2),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # coalesce post-shuffle partitions to data size, not to raw core
        # count — tiny stages collapse to a handful of tasks, huge stages
        # keep shuffle_partitions; without this every micro-shuffle pays
        # `shuffle_partitions` task launches
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32m",
        # ...but never coalesce below cluster parallelism: AQE's size-based
        # coalescing happily plans 3-6 task stages on medium shuffles,
        # leaving 80% of the cluster idle in the middle of the pipeline
        # (measured: the window/gather stages ran 6-way on 16 cores)
        "spark.sql.adaptive.coalescePartitions.minPartitionNum": str(cores * 2),
        # small scan splits so modest local inputs still fan out across all
        # cores without an extra repartition shuffle (the Arrow profile
        # stage parallelizes over scan splits).  Each extra Python task
        # costs ~0.05 s of worker CPU under the repo daemon below (~0.4 s
        # under pyspark's own; trivial mapInArrow tasks, 4-core host).  At
        # warehouse scale inputs have millions of splits at any setting,
        # so there this setting adds few tasks
        "spark.sql.files.maxPartitionBytes": "4m",
        # let AQE re-plan cached DataFrames too (the pipeline persists its
        # profile and edges; default false pins their partitioning)
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # signature matmul batches: large enough to amortize Arrow transfer,
        # small enough that batch x d floats stay cache/memory friendly
        "spark.sql.execution.arrow.maxRecordsPerBatch": "20000",
        "spark.driver.memory": (
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem()
        ),
        # generous broadcast ceiling: the verify stage joins a compact pair
        # list (tens of MB at bench scale) against the array-heavy profile —
        # broadcasting the pairs spares the profile TWO full shuffles.  AQE
        # decides per-join from actual runtime sizes, so an oversized side
        # never broadcasts by accident.
        "spark.sql.autoBroadcastJoinThreshold": str(256 * 1024 * 1024),
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        # no inferred constraints: our plans carry explicit filters, so
        # inference adds only optimizer work on the chain's large plans
        # (perfbench tiled_sparse, 8 interleaved pairs on 4 cores: median
        # 4% slower with it on)
        "spark.sql.constraintPropagation.enabled": "false",
        "spark.executorEnv.OMP_NUM_THREADS": "1",
        "spark.executorEnv.OPENBLAS_NUM_THREADS": "1",
        "spark.executorEnv.MKL_NUM_THREADS": "1",
        # reliable RDD checkpoints for iterative operators (connected
        # components): measured ~2x on 50M-edge CC vs localCheckpoint, whose
        # deserialized heap blocks turn half the task time into GC.  A
        # cluster deployment points this at HDFS/S3; GC'd RDDs' checkpoint
        # files are cleaned eagerly.
        "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
        **(extra or {}),
    }
    conf = {k: v for k, v in conf.items() if k not in launcher}
    if launcher.get("spark.master", conf.get("spark.master", "")).startswith("local"):
        # Python workers fork from worker_daemon, which stops each task's
        # importlib.invalidate_caches() from re-reading every zip on the
        # worker's path (~0.3 s of worker CPU per task; see its docstring).
        # The daemon starts before any --py-files zip reaches the worker's
        # path, so the entry the driver imported this package from goes on
        # the workers' PYTHONPATH, ahead of the launcher's or caller's
        # value.  Local masters only: there the driver's path entry is
        # valid on the workers.
        theirs = (
            launcher.get(_EXECUTOR_PYTHONPATH) or conf.get(_EXECUTOR_PYTHONPATH, "")
        ).split(os.pathsep)
        conf[_EXECUTOR_PYTHONPATH] = os.pathsep.join(
            [_PATH_ENTRY] + [p for p in theirs if p and p != _PATH_ENTRY]
        )
        if "spark.python.daemon.module" not in launcher:
            conf["spark.python.daemon.module"] = "lsh_project_spark.worker_daemon"
    b = SparkSession.builder
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    sc = spark.sparkContext
    # Default the reliable-checkpoint dir ONLY in local mode: a
    # driver-local tempdir is a valid checkpoint target only when driver
    # and executors share one filesystem.  On a real cluster (non-local
    # master) executors would write disjoint local paths and iterative CC
    # checkpoints would corrupt — there the deployment must set a shared
    # dir (HDFS/S3) itself, and connected_components' localCheckpoint
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
