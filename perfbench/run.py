"""The repository benchmark: one workload per invocation, closed loop.

    python3 perfbench/run.py --workload tiled_sparse --seed 1 --seconds 10 --trace 0

Run from the repository root.  It generates the seeded inputs (cached
under .perfbench_work/), starts a local[N] session with N = nproc / 2
(at most 4), sets up, then calls the workload back to back until
--seconds have passed and at least MIN_CALLS calls are done, checking
each call's output.  The last stdout line is one JSON object: {"correct",
"attempted", "failed", "metrics"} with the end-to-end metrics (--trace 0)
or the per-layer metrics of a traced run (--trace 1).

A traced run first measures like an untraced one, then runs the workload
once more split into one span per layer, each with its own Spark job
group, and reads the per-layer numbers from the Spark event log.  It also
writes the spans to .perfbench_work/trace/.

Paths these sizes leave unmeasured: the substring grid verify (only above
_DIRECT_VERIFY_MAX_PAIRS = 200,000 scan pairs) and the distributed
connected-components loop (only above DRIVER_CC_MAX_EDGES = 5,000,000
edges).  A change to either needs a workload that reaches it first.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

END_TO_END = {"wall_s": "s", "rows_per_s": "1/s", "setup_s": "s", "recall": "ratio"}
LAYERS = (
    "profile", "signatures", "candidates", "verify", "substring", "cluster",
    "map_back", "knn",
)
COUNTERS = {
    "wall_s": "s", "task_cpu_s": "s", "idle_s": "s", "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB", "spill_mb": "MB", "gc_s": "s", "jobs": "count",
    "rows_out": "count",
}
PER_LAYER = {
    **{f"{layer}.{c}": u for layer in LAYERS for c, u in COUNTERS.items()},
    "profile.kernel_textsig_s": "s",
    "profile.kernel_cp_s": "s",
    "profile.outside_kernel_s": "s",
    "candidates.hot_buckets": "count",
    "candidates.pairs_dropped": "count",
    "verify.survival": "ratio",
    "cluster.edges_in": "count",
    "pipeline.plan_jobs": "count",
    "knn.candidates_per_query": "count",
    "streaming.batch_s": "s",
    "streaming.jobs_per_batch": "count",
    "streaming.idle_s_per_batch": "s",
    "streaming.store_files": "count",
    "streaming.store_mb": "MB",
    "trace.wall_s": "s",
    "trace.unattributed_s": "s",
    "trace.overhead_s": "s",
    "setup.session_s": "s",
    "setup.load_s": "s",
    "setup.warmup_s": "s",
    "setup.input_gen_s": "s",
    "peak_rss_mb": "MB",
}
LOAD_REPS = 3
# the first timed call still runs slower than the rest (the JIT keeps
# compiling), so a run times at least three calls and the median skips it
MIN_CALLS = 3


def configure_env(cores: int) -> None:
    """Fit the engine to the host without touching session.py: every
    scratch file stays under the work dir, Python workers find the package,
    and the driver heap is sized from MemTotal instead of the 48g default."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    old = os.environ.get("PYTHONPATH")
    os.environ.update({
        "PYTHONPATH": ROOT + (os.pathsep + old if old else ""),
        "SPARK_DRIVER_MEM": f"{min(48, max(1, mem_kb // 4 // 2**20))}g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cores),
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
    })
    sys.path.insert(0, ROOT)


def start_session(cores: int, event_dir: str | None):
    from lsh_project_spark.session import get_spark

    extra = {"spark.ui.showConsoleProgress": "false"}
    if event_dir is not None:
        os.makedirs(event_dir)
        extra |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    spark = get_spark(app="perfbench", cores=cores, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def settle(spark) -> None:
    """Full GC in the driver JVM and in Python, untimed, so every call
    starts from a collected heap instead of paying for its predecessor's
    garbage."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def timed(fn, *args) -> float:
    t = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t


def check(wl, summary: dict, ref: dict | None) -> list[str]:
    from perfbench.workloads import RECALL_FLOOR

    problems = []
    if summary["rows"] != wl.in_rows:
        problems.append(f"{summary['rows']} output rows for {wl.in_rows} input rows")
    if summary["recall"] < RECALL_FLOOR[wl.name]:
        problems.append(f"recall {summary['recall']:.4f} < {RECALL_FLOOR[wl.name]}")
    if ref is not None and summary["stable"] != ref:
        problems.append(f"output changed within the run: {summary['stable']} != {ref}")
    return problems


class Runs:
    """Closed-loop calls, their wall times and their output checks."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = self.failed = 0
        self.walls: list[float] = []
        self.recalls: list[float] = []
        self.ref: dict | None = None

    def record(self, wall: float, summary: dict) -> None:
        self.attempted += 1
        problems = check(self.wl, summary, self.ref)
        if self.ref is None:
            self.ref = summary["stable"]
            print(f"output {self.wl.name} seed={self.wl.seed}: "
                  + " ".join(f"{k}={v}" for k, v in self.ref.items()), flush=True)
        if problems:
            self.failed += 1
            print("CHECK FAILED: " + "; ".join(problems), file=sys.stderr, flush=True)
        self.walls.append(wall)
        self.recalls.append(summary["recall"])

    def call(self, fn, *args):
        try:
            out = fn(*args)
        except Exception:
            self.attempted += 1
            self.failed += 1
            traceback.print_exc()
            return None
        self.record(out[0], out[1])
        return out

    def loop(self, spark, seconds: float) -> None:
        """Call back to back until `seconds` have passed and MIN_CALLS
        calls are done; the call running at the deadline finishes and
        counts."""
        t_end = time.monotonic() + seconds
        while self.attempted < MIN_CALLS or time.monotonic() < t_end:
            settle(spark)
            self.call(self.wl.iterate, spark)


def end_to_end(walls, in_rows, setup_s, recalls) -> dict[str, float]:
    wall = statistics.median(walls)
    return {
        "wall_s": wall,
        "rows_per_s": in_rows / wall,
        "setup_s": setup_s,
        "recall": min(recalls),
    }


def per_layer(spans, groups, traced_wall, untraced_wall, extra, setup) -> dict:
    from perfbench.tracing import span_metrics

    out = {name: 0.0 for name in PER_LAYER}
    covered = 0.0
    batches = []
    for sp in spans:
        m = span_metrics(sp, groups)
        if sp["name"] == "plan":
            out["pipeline.plan_jobs"] = m["jobs"]
        elif sp["name"] == "streaming":
            batches.append(m)
        else:
            for c, v in m.items():
                out[f"{sp['name']}.{c}"] += v
            covered += m["wall_s"]
    if batches:
        n = len(batches)
        out["streaming.batch_s"] = sum(m["wall_s"] for m in batches) / n
        out["streaming.jobs_per_batch"] = sum(m["jobs"] for m in batches) / n
        out["streaming.idle_s_per_batch"] = sum(m["idle_s"] for m in batches) / n
    out.update(extra)
    out.update(setup)
    if out["profile.task_cpu_s"]:
        out["profile.outside_kernel_s"] = (
            out["profile.task_cpu_s"] - out["profile.kernel_textsig_s"]
            - out["profile.kernel_cp_s"]
        )
    if out["candidates.rows_out"]:
        out["verify.survival"] = out["verify.rows_out"] / out["candidates.rows_out"]
    out["trace.wall_s"] = traced_wall
    out["trace.unattributed_s"] = traced_wall - covered
    out["trace.overhead_s"] = traced_wall - untraced_wall
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "lsh_project_spark", "__init__.py")):
        print(f"lsh_project_spark not found under {ROOT}: run from a checkout",
              file=sys.stderr)
        return 2
    # half the cores stay free for the driver's planning, JIT and GC
    # threads: on 4 cores, local[2] ran the dedup calls no slower than
    # local[3], with a smaller run-to-run spread (10% against 14%)
    cores = max(1, min(4, len(os.sched_getaffinity(0)) // 2))
    configure_env(cores)
    from perfbench.tracing import (
        RssSampler, Tracer, cpu_steal_share, cpu_times, find_event_log,
        read_event_log,
    )
    from perfbench.workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        print(f"unknown workload {a.workload}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[a.workload](a.seed, WORK)
    run_id = f"{a.workload}_s{a.seed}_{os.getpid()}"
    event_dir = os.path.join(WORK, "eventlog", run_id) if a.trace else None

    t = time.perf_counter()
    spark = start_session(cores, event_dir)
    session_s = time.perf_counter() - t
    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    runs = Runs(wl)
    try:
        gen_s = timed(wl.generate, spark)
        load_s = statistics.median(timed(wl.load, spark) for _ in range(LOAD_REPS))
        warm_s = timed(wl.warm_up, spark)
        cpu0 = cpu_times()
        with RssSampler(jvm_pid) as rss:
            runs.loop(spark, a.seconds)
        steal = cpu_steal_share(cpu0, cpu_times())
        e2e_walls = list(runs.walls)
        if a.trace and e2e_walls:
            tracer = Tracer(spark, jvm_pid)
            traced = runs.call(wl.traced, spark, tracer)
    finally:
        stop_session(spark)

    print(f"{wl.name} seed={a.seed} local[{cores}] rows={wl.in_rows} "
          f"call walls={[round(x, 3) for x in runs.walls]} "
          f"(wall_s is the median of the first {len(e2e_walls)})")
    print(f"input generation {gen_s:.3f} s (cached per seed, not in setup_s)")
    print(f"error_rate {runs.failed / runs.attempted:.4f} "
          f"({runs.failed} failed of {runs.attempted} attempted)")
    print(f"host cpu steal {100 * steal:.1f}% over the timed calls")
    if not e2e_walls:
        # every timed call raised: nothing to measure, but the counts stand
        print(json.dumps({"correct": False, "attempted": runs.attempted,
                          "failed": runs.failed, "metrics": {}}))
        return 0
    e2e = end_to_end(e2e_walls, wl.in_rows, session_s + load_s + warm_s,
                     runs.recalls[:len(e2e_walls)])
    metrics = e2e
    units = END_TO_END
    if a.trace:
        trace_dir = os.path.join(WORK, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(trace_dir, run_id + ".json"))
        groups = read_event_log(find_event_log(event_dir))
        traced_wall, _, extra = traced if traced else (0.0, None, {})
        setup = {
            "setup.session_s": session_s, "setup.load_s": load_s,
            "setup.warmup_s": warm_s, "setup.input_gen_s": gen_s,
            "peak_rss_mb": rss.peak,
        }
        metrics = per_layer(
            tracer.spans, groups, traced_wall, e2e["wall_s"], extra, setup
        )
        units = PER_LAYER
        print(f"traced wall {traced_wall:.3f} s, untraced wall_s {e2e['wall_s']:.3f} s; "
              f"unattributed {metrics['trace.unattributed_s']:.3f} s, "
              f"tracing overhead {metrics['trace.overhead_s']:.3f} s")
        if metrics["candidates.rows_out"]:
            print(f"verify.survival {metrics['verify.survival']:.4f} "
                  f"(base: candidates.rows_out = {metrics['candidates.rows_out']:.0f})")
    for name, v in {**e2e, **metrics}.items():
        unit = END_TO_END.get(name) or PER_LAYER[name]
        print(f"  {name:30s} {v:14.4f} {unit}")
    result = {
        "correct": runs.failed == 0,
        "attempted": runs.attempted,
        "failed": runs.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
