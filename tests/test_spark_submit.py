"""End-to-end receipt for the north rule's launch surface: package the
engine with scripts/package_pyfiles.py and run the REAL `spark-submit
--py-files` flow in a subprocess (fresh JVM, package imported from the
zip, never from the repo tree), then pin its output against the
in-process pipeline."""

import json
import os
import subprocess
import sys

import pytest

from lsh_project_spark.sources.fixtures import images_from_documents


@pytest.fixture(scope="module")
def packaged(tmp_path_factory):
    from scripts.package_pyfiles import build

    dist = str(tmp_path_factory.mktemp("dist"))
    return build(dist)


def test_zip_is_reproducible(tmp_path):
    from scripts.package_pyfiles import build

    z1, _ = build(str(tmp_path / "a"))
    z2, _ = build(str(tmp_path / "b"))
    assert open(z1, "rb").read() == open(z2, "rb").read()


def test_spark_submit_pyfiles_end_to_end(spark, packaged, tmp_path):
    zpath, launcher = packaged
    docs = spark.createDataFrame(
        [(i, f"caption tokens for doc {i} " + "w " * (i % 5)) for i in range(60)],
        "doc_id long, text string",
    )
    inp = str(tmp_path / "images")
    images_from_documents(docs).write.parquet(inp)
    out = str(tmp_path / "assignments")
    metrics = str(tmp_path / "metrics.json")

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            "spark-submit",
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zpath,
            launcher,
            "--input", inp,
            "--output", out,
            "--metrics", metrics,
        ],
        capture_output=True, text=True, timeout=600,
        cwd=str(tmp_path),  # repo tree NOT importable: the zip must serve
    )
    assert proc.returncode == 0, proc.stderr[-3000:]

    got = {
        (r["image_id"], r["cluster_id"])
        for r in spark.read.parquet(out).collect()
    }
    from lsh_project_spark.pipeline import dedup_pipeline

    want = {
        (r["image_id"], r["cluster_id"])
        for r in dedup_pipeline(spark.read.parquet(inp)).assignments.collect()
    }
    assert got == want  # packaged run == in-process run, bit-for-bit
    m = json.load(open(metrics))
    assert m["rows"] == len(want)


def _submit_probe(tmp_path, submit_args, env, fields):
    """Run `spark-submit <submit_args> probe.py`, where probe.py calls
    get_spark(), runs one Python task and prints ``fields`` (name ->
    Python expression over ``spark`` and ``sc``) as JSON; return them."""
    script = tmp_path / "probe.py"
    shown = "".join(f"    {k!r}: {v},\n" for k, v in fields.items())
    script.write_text(
        "import json\n"
        "from lsh_project_spark.session import get_spark\n"
        "spark = get_spark()\n"
        "sc = spark.sparkContext\n"
        "assert sc.range(8, numSlices=2).map(lambda x: x * 2).sum() == 56\n"
        f"print('PROBE ' + json.dumps({{\n{shown}}}))\n"
        "spark.stop()\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(env, PYTHONPATH=repo, PYSPARK_PYTHON=sys.executable)
    proc = subprocess.run(
        ["spark-submit", *submit_args, "--conf", "spark.ui.enabled=false",
         str(script)],
        capture_output=True, text=True, timeout=300, cwd=str(tmp_path), env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = next(ln for ln in proc.stdout.splitlines() if ln.startswith("PROBE "))
    return json.loads(line[len("PROBE "):])


def test_spark_submit_settings_win_over_get_spark(tmp_path):
    """`spark-submit --master/--conf` values reach the session: get_spark
    fills only the keys the launcher left unset, and the Python-worker
    daemon follows the master in effect (local here)."""
    got = _submit_probe(
        tmp_path,
        ["--master", "local[2]", "--conf", "spark.sql.shuffle.partitions=7"],
        dict(os.environ, SPARK_GRAFT_CPUS="3"),
        {
            "master": "sc.master",
            "shuffle": "spark.conf.get('spark.sql.shuffle.partitions')",
            "aqe": "spark.conf.get('spark.sql.adaptive.enabled')",
            "daemon": "sc.getConf().get('spark.python.daemon.module')",
        },
    )
    assert got == {
        "master": "local[2]",
        "shuffle": "7",
        "aqe": "true",
        "daemon": "lsh_project_spark.worker_daemon",
    }


def test_session_sized_from_the_launchers_local_master(tmp_path):
    """Under `spark-submit --master local[2]` with SPARK_GRAFT_CPUS unset,
    shuffle partitions, default parallelism and the AQE partition floor
    follow the master's 2 cores, not the 32-core default."""
    got = _submit_probe(
        tmp_path,
        ["--master", "local[2]"],
        {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"},
        {
            "shuffle": "spark.conf.get('spark.sql.shuffle.partitions')",
            "parallelism": "sc.defaultParallelism",
            "floor": "spark.conf.get("
            "'spark.sql.adaptive.coalescePartitions.minPartitionNum')",
        },
    )
    assert got == {"shuffle": "16", "parallelism": 4, "floor": "4"}
