"""Python workers of a local session fork from the repo daemon
(lsh_project_spark/worker_daemon.py): a task's importlib.invalidate_caches()
no longer re-reads the zips on the worker's path, files added later are
still found, and the daemon starts wherever the driver runs from."""

import os
import subprocess
import sys
import uuid
import zipfile

import pyarrow as pa

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_tasks_run_under_the_repo_daemon(spark):
    def probe(batches):
        import importlib
        import sys
        import time

        for _ in batches:
            pass
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        ms = (time.perf_counter() - t0) * 1000
        spec = getattr(sys.modules["__main__"], "__spec__", None)
        yield pa.RecordBatch.from_pydict(
            {"daemon": [spec.name if spec else ""], "ms": [ms]}
        )

    df = spark.range(0, 64, numPartitions=16)
    df.mapInArrow(probe, "daemon string, ms double").collect()  # warm workers
    rows = df.mapInArrow(probe, "daemon string, ms double").collect()
    assert {r["daemon"] for r in rows} == {"lsh_project_spark.worker_daemon"}
    # pyspark's own daemon spends ~0.2-0.3 s here re-reading pyspark.zip
    ms = sorted(r["ms"] for r in rows)
    assert ms[len(ms) // 2] < 20, ms


def test_pyfile_added_to_warm_workers_is_importable(spark, tmp_path):
    def warm(batches):
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"x": [1]})

    df = spark.range(0, 64, numPartitions=16)
    df.mapInArrow(warm, "x long").collect()

    name = f"late_{uuid.uuid4().hex}"
    zpath = str(tmp_path / f"{name}.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(zpath)

    def load(batches):
        import importlib

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"x": [importlib.import_module(name).VALUE]}
        )

    assert {r["x"] for r in df.mapInArrow(load, "x long").collect()} == {42}


_DRIVER = """\
import os, sys

sys.path.insert(0, {repo!r})
import numpy as np

from lsh_project_spark.operators.ivf import _ivf_scores_np, ivf_assign
from lsh_project_spark.session import get_spark

extra_dir = {extra!r}
spark = get_spark(
    app="foreign_cwd", cores=2, shuffle_partitions=2,
    extra={{"spark.executorEnv.PYTHONPATH": extra_dir}},
)
rng = np.random.default_rng(5)
X = rng.normal(size=(40, 8)).astype(np.float32)
cents = np.round(rng.normal(size=(4, 8)), 6)
df = spark.createDataFrame(
    [(i, X[i].tolist()) for i in range(40)], "vec_id long, embedding array<float>"
)
got = [r["list_id"] for r in ivf_assign(df, cents).orderBy("vec_id").collect()]
want = np.argmin(_ivf_scores_np(X.astype(np.float64), cents), axis=1).tolist()
assert got == want, (got, want)
conf = spark.sparkContext.getConf().get("spark.executorEnv.PYTHONPATH")
assert conf == {repo!r} + os.pathsep + extra_dir, conf
spark.stop()
print("OK")
"""


def test_engine_udf_runs_from_a_foreign_cwd(tmp_path):
    """The driver runs from a directory that does not hold the package and
    imports it only through sys.path: the workers still import the daemon
    and the engine's UDF code, and a caller's executor PYTHONPATH is kept
    behind the package's entry."""
    script = tmp_path / "driver.py"
    script.write_text(_DRIVER.format(repo=REPO, extra=str(tmp_path / "extra")))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(script)],
        capture_output=True, text=True, timeout=600, cwd=str(tmp_path), env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().endswith("OK")
