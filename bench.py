"""Benchmark runner.

Headline: end-to-end near-duplicate dedup throughput (images/sec) on the
`images` table derived deterministically from $SPARK_GRAFT_SF_DIR/documents
(default /root/testdata/sf0.1), on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "dedup_e2e_wall_sec", "value": <sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": <sf>, "images_per_sec": <n>, ...}

`python bench.py --scaling` delegates to scripts/scaling_evidence.py: the
identical job at two parallelism levels on the same input parquet, with
event-log core-utilization attribution, distributed-CC rows, and the
two-process contention probe; it writes BENCH/BASELINE.md — the sandbox
rendering of the BASELINE.json two-cluster-size criterion (no real cluster
here; see BASELINE.md "Sandbox scaling-evidence protocol").
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# deterministic tiling scales the images table so measured compute dominates
# fixed per-stage overhead (FIXTURES.md: "bench may also tile this")
TILES = int(os.environ.get("SPARK_GRAFT_BENCH_TILES", "10"))
IMAGES_PATH = (
    f"/tmp/bench_images_{SF_DIR.strip('/').replace('/', '_')}_x{TILES}.parquet"
)
# min-of-N repetitions for the second-scale timed loops (host shows 2-4x
# co-tenant variance; the scaling protocol already does min-of-reps)
_TIMING_REPS = int(os.environ.get("SPARK_GRAFT_TIMING_REPS", "3"))
# min-of-N for the ~20-50s headline e2e runs (>=2 per round-4 verdict #5)
_E2E_REPS = max(2, int(os.environ.get("SPARK_GRAFT_E2E_REPS", "2")))

BENCH_QUERIES = [
    "minhash_bands",
    "simhash",
    "minhash_candidate_pairs",
    "embedding_topk",
    "tpch_pricing_summary",
    # the two heaviest novel operators — benched so a regression in the
    # winnow/SA pass or the full-pipeline+CC path is visible round-over-round
    "substring_pairs",
    "dedup_cluster_sizes",
    "embedding_near_dup",
    # training-data curation + the IVF scale path (round 5): cheap, but
    # benched so plan regressions (a lost broadcast, a new shuffle in the
    # fold-expression passes) surface as wall-time jumps
    "ivf_topk",
    "repetition_stats",
    "decontam_flags",
    "stratified_sample",
    "doc_packing",
]


def _sf() -> float:
    try:
        return float(SF_DIR.rstrip("/").split("sf")[-1])
    except ValueError:
        return -1.0


def _mk_spark(cores: int, shuffle: int):
    from lsh_project_spark.session import get_spark

    return get_spark(app=f"bench_c{cores}", cores=cores, shuffle_partitions=shuffle)


def prepare_images(spark) -> int:
    """Materialize the bench images table once (generation excluded from
    timed runs); returns row count."""
    from lsh_project_spark.sources.fixtures import images_from_documents

    if not os.path.exists(IMAGES_PATH):
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(CPUS)
        images_from_documents(docs, seed=42, tiles=TILES).write.mode(
            "overwrite"
        ).parquet(IMAGES_PATH)
    return spark.read.parquet(IMAGES_PATH).count()


def run_dedup(spark) -> tuple[float, int, dict]:
    """One uncached end-to-end dedup run -> (wall sec, n_images, stage secs)."""
    from lsh_project_spark.config import PipelineConfig
    from lsh_project_spark.pipeline import _dedup_chain, dedup_pipeline

    images = spark.read.parquet(IMAGES_PATH)
    n = images.count()
    cfg = PipelineConfig()

    # warmup on a small slice: compiles every codegen/JIT stage shape (~45 s
    # of fixed cost that amortizes away on any long-running cluster) WITHOUT
    # caching the full profile — the timed run below then measures honest
    # cold-cache steady-state including the signature stage
    dedup_pipeline(images.limit(20000), cfg).assignments.write.mode(
        "overwrite"
    ).format("noop").save()
    spark.catalog.clearCache()

    # headline timings are min-of-N with raw values kept (round-4 verdict:
    # single runs on this +/-30-100%-variance host make round-over-round
    # deltas unreadable; see BASELINE.md "Bench host noise")
    e2e_runs = []
    for _ in range(_E2E_REPS):
        t0 = time.time()
        res = dedup_pipeline(images, cfg)
        res.assignments.write.mode("overwrite").format("noop").save()
        e2e_runs.append(round(time.time() - t0, 2))
        spark.catalog.clearCache()
    wall = min(e2e_runs)

    # signatures-only e2e (the round-1..3 pipeline shape, before the
    # substring modality was OR-unioned in): the cross-round comparable —
    # prices the 4th modality explicitly
    sigs_runs = []
    for _ in range(_E2E_REPS):
        t0 = time.time()
        dedup_pipeline(
            images, PipelineConfig(substring_enabled=False)
        ).assignments.write.mode("overwrite").format("noop").save()
        sigs_runs.append(round(time.time() - t0, 2))
        spark.catalog.clearCache()
    sigs_wall = min(sigs_runs)

    # stage attribution: ONE staged run per rep — every stage of
    # dedup_pipeline's own chain (pipeline._dedup_chain) runs behind a
    # persist + count barrier with a timer, so the per-rep stage walls SUM
    # to that rep's staged e2e (round-5 verdict: separate re-executions hid
    # the cluster stage entirely and let the sigs-only wall move with no
    # stage owning the delta).  min-of-N per stage AND per staged total,
    # raw per-rep dicts kept.
    #
    # stage name -> stdout key; edges, clustering and the map-back all
    # price as "cluster"
    keys = {
        "profile": "profile_signatures",
        "verified_pairs": "verify",
        "substring_pairs": "substring_modality",
        "edges": "cluster",
        "assignments": "cluster",
        "map_back": "cluster",
    }
    stages: dict = {}
    staged_reps: list[dict] = []
    counts: dict = {}
    # the chain builds substring_pairs on a second thread; the lock runs
    # one stage at a time, so the stage walls still sum to staged_total
    serial = threading.Lock()
    for _rep in range(_E2E_REPS):
        rep: dict = {}

        def staged(name, parents, build, extra_metrics=None, rep=rep):
            with serial:
                t = time.time()
                df = build().persist()
                counts[name] = df.count()
                key = keys.get(name, name)
                rep[key] = round(rep.get(key, 0.0) + time.time() - t, 2)
            return df

        drop_stats = _dedup_chain(images, cfg, staged).drop_stats
        rep["staged_total"] = round(sum(rep.values()), 2)
        staged_reps.append(rep)
        for k2, v in rep.items():
            stages[k2] = min(stages.get(k2, float("inf")), v)
        if _rep < _E2E_REPS - 1:
            spark.catalog.clearCache()
    n_cands, n_verified = counts["candidates"], counts["verified_pairs"]

    # P1-P4 instrumentation: the reference's analytic flop/occupancy model
    # (/root/reference/src/main.cc:409-450) next to this run's measured
    # counters, so model-vs-measured is comparable round over round
    d, k, L = cfg.cp.dim, cfg.cp.k, cfg.cp.num_tables
    dstats = {
        k2: int(v) for k2, v in drop_stats.collect()[0].asDict().items()
    }
    model = {
        "rot_flops_per_row": 2 * d * d * k * L,
        "hash_flops_per_row": 5 * d * k * L,
        "model_total_flops_per_row": (2 * d * d + 5 * d) * k * L + 2 * d * L,
        "signature_rows_per_image": L + cfg.minhash.num_bands + cfg.simhash.num_bands,
        "candidate_pairs": int(n_cands),
        "verified_pairs": int(n_verified),
        "candidates_per_image": round(n_cands / max(n, 1), 3),
        "verify_survival_rate": round(n_verified / max(n_cands, 1), 4),
        **{f"hot_{k2}": v for k2, v in dstats.items()},
    }
    spark.catalog.clearCache()
    stages["dedup_e2e_sigs_only"] = round(sigs_wall, 2)
    # raw per-rep walls so the min is auditable against host noise
    model["e2e_runs_raw"] = e2e_runs
    model["sigs_only_runs_raw"] = sigs_runs
    # per-rep staged dicts: each rep's stage walls sum to its staged_total,
    # so a sigs-only move MUST show up in a named stage (round-5 verdict #3)
    model["staged_reps_raw"] = staged_reps
    # methodology marker: round 6 changed the attribution from separate
    # per-stage re-executions (rounds <= 5) to sequential stages inside one
    # run with materialization barriers — per-stage walls are NOT
    # comparable to rounds <= 5, and staged_total >= the barrier-free e2e.
    # The staged run is dedup_pipeline's own chain: cluster also clusters
    # the substring edges and includes the map-back, and staged_total
    # includes substring_modality.
    model["staged_methodology"] = "sequential-in-one-run, full chain"
    return wall, n, stages, model


def run_ann_recall_bench(spark) -> dict:
    """ANN engine quality + scale metrics on PLANTED near-duplicate queries
    (cos = 0.9 to a known corpus vector — the FALCONN-style success metric;
    the driver's embeddings are near-random, so exact-top-5 of random
    queries measures the data, not the index).  Reports planted recall
    with and without multi-probe, plus candidates/query — the sublinearity
    evidence for auto-scaled bucket bits."""
    import numpy as np
    import pyspark.sql.functions as F

    from lsh_project_spark.operators.similarity import ann_topk_lsh, auto_bits

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = e.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.vstack([r["embedding"] for r in rows]).astype(np.float64)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    n = len(ids)
    rng = np.random.Generator(np.random.PCG64(4242))
    n_q = min(200, n)
    pick = rng.choice(n, size=n_q, replace=False)
    cos_target = 0.9
    beta = float(np.sqrt(1 - cos_target**2))
    qs = []
    for i, pi in enumerate(pick):
        g = rng.normal(size=X.shape[1])
        g /= np.linalg.norm(g)
        g -= np.dot(g, X[pi]) * X[pi]
        g /= np.linalg.norm(g)
        qs.append((int(1_000_000 + i), (cos_target * X[pi] + beta * g).astype(float).tolist()))
    qdf = spark.createDataFrame(qs, "query_id long, embedding array<float>")
    planted = {1_000_000 + i: int(ids[pi]) for i, pi in enumerate(pick)}
    bits = auto_bits(n)
    out = {"ann_bits": bits, "ann_corpus": n}
    for probes, tag in ((1, "1probe"), (4, "4probe")):
        # min-of-N: single-run timings on this host swing 2-4x with
        # co-tenant load (round-3 advice — recall is deterministic, only
        # the wall needs repetitions)
        wall = float("inf")
        for _ in range(_TIMING_REPS):
            t0 = time.time()
            res = ann_topk_lsh(
                e, qdf, dim=X.shape[1], k=5, num_tables=8, bits=bits, probes=probes
            ).collect()
            wall = min(wall, time.time() - t0)
        found = {}
        for r in res:
            if r["neighbor_id"] == planted[r["query_id"]]:
                found[r["query_id"]] = True
        out[f"ann_planted_recall_{tag}"] = round(len(found) / n_q, 4)
        out[f"ann_wall_sec_{tag}"] = round(wall, 2)
    return out


def run_reference_nn_bench(spark) -> dict:
    """The reference's own workload (n=65,536 unit vectors, d=128, k=2,
    L=8, /root/reference/src/main.cc:203-238), queries scaled 8x (8,192
    noisy copies) to amortize job overhead: index the queries, then answer
    every one by probe + exact verify + argmax in one pass over the data.  Reports wall sec
    and queries/sec for comparison against BASELINE.md's analytic model."""
    from lsh_project_spark.config import CrossPolytopeConfig
    from lsh_project_spark.operators.knn import (
        cp_nearest_neighbor,
        cp_nearest_neighbor_broadcast,
    )
    from lsh_project_spark.sources.vectors import noisy_queries, random_unit_vectors

    n, d, q = 65536, 128, 8192
    cfg = CrossPolytopeConfig(dim=d, k=2, num_tables=8)
    data = random_unit_vectors(spark, n, d).persist()
    data.count()
    queries = noisy_queries(spark, data, q, d, n).persist()
    queries.count()
    # one-pass path (the data side streams at any size, the queries are
    # the broadcast index): warmup on a slice, then min-of-N timed full
    # runs (single runs swing with co-tenant load)
    cp_nearest_neighbor(data, queries.limit(256), cfg).write.mode(
        "overwrite"
    ).format("noop").save()
    wall = float("inf")
    for _ in range(_TIMING_REPS):
        t0 = time.time()
        cp_nearest_neighbor(data, queries, cfg).write.mode("overwrite").format(
            "noop"
        ).save()
        wall = min(wall, time.time() - t0)
    # broadcast-index path (the reference's in-memory probe, one per core):
    # index build excluded from the timed query loop like the reference's
    bcast = cp_nearest_neighbor_broadcast(data, queries, cfg)
    bcast.limit(64).write.mode("overwrite").format("noop").save()  # warmup
    bwall = float("inf")
    for _ in range(_TIMING_REPS):
        t0 = time.time()
        bcast.write.mode("overwrite").format("noop").save()
        bwall = min(bwall, time.time() - t0)
    data.unpersist()
    queries.unpersist()
    return {
        "ref_nn_wall_sec": round(wall, 2),
        "ref_nn_queries_per_sec": round(q / wall, 1),
        "ref_nn_bcast_wall_sec": round(bwall, 2),
        "ref_nn_bcast_queries_per_sec": round(q / bwall, 1),
        "ref_nn_config": f"n={n} d={d} q={q} k=2 L=8",
    }


def run_queries(spark) -> tuple[dict, dict]:
    """Per-query wall = min-of-2 (raw runs kept): single runs on this
    +/-30-100%-variance host made round-over-round per-query deltas
    unreadable (e.g. a 9.9s substring_pairs that re-measures at 5.5s in
    a quiet window)."""
    import __spark_entry__ as E
    from lsh_project_spark.plans import entry_queries

    out, raw = {}, {}
    qs = E.queries()
    for name in BENCH_QUERIES:
        runs = []
        for _ in range(2):
            # gates memoize shared intermediates (the flagship pipeline is
            # computed once per correctness pass); a timed rep must pay the
            # full DAG, so drop the memo before starting the clock
            entry_queries.reset_gate_caches()
            t0 = time.time()
            qs[name](spark, SF_DIR).write.mode("overwrite").format(
                "noop"
            ).save()
            runs.append(round(time.time() - t0, 2))
        out[name] = min(runs)
        raw[name] = runs
    return out, raw


def main() -> None:
    scaling = "--scaling" in sys.argv or "--scaling-only" in sys.argv
    scaling_only = "--scaling-only" in sys.argv  # skip the 1-level suite

    spark = _mk_spark(CPUS, max(8, CPUS * 8))
    n_images = prepare_images(spark)
    if scaling_only:
        result = {"metric": "scaling_only", "images": n_images, "sf": _sf()}
        spark.stop()
    else:
        wall, n, stages, model = run_dedup(spark)
        qsecs, qraw = run_queries(spark)
        ann = run_ann_recall_bench(spark)
        ref_nn = run_reference_nn_bench(spark) if os.environ.get(
            "SPARK_GRAFT_REFBENCH", "1"
        ) == "1" else {}
        result = {
            "metric": "dedup_e2e_wall_sec",
            "value": round(wall, 2),
            "unit": "sec",
            "queries": {**qsecs, "dedup_e2e": round(wall, 2), **stages},
            "sf": _sf(),
            "images": n,
            "images_per_sec": round(n / wall, 1),
            "cores": CPUS,
            "perf_model": {**model, "queries_raw": qraw},
            **ann,
            **ref_nn,
        }
        spark.stop()

    if scaling:
        # one protocol, one artifact: scripts/scaling_evidence.py runs the
        # two-level comparison with event-log utilization attribution, the
        # distributed-CC rows, and the two-process contention probe, and
        # writes BENCH/BASELINE.md itself
        import subprocess

        proc = subprocess.run(
            [sys.executable, "scripts/scaling_evidence.py"],
            capture_output=True, text=True,
            env={**os.environ, "SPARK_GRAFT_SCALING_IMAGES": IMAGES_PATH},
            cwd=os.path.dirname(os.path.abspath(__file__)),
        )
        for line in reversed(proc.stdout.strip().splitlines()):
            if line.startswith("{"):
                result["scaling"] = json.loads(line)
                break
        if "scaling" not in result or proc.returncode != 0:
            # a broken scaling run must be LOUD, not a silently missing key
            # (round-3 advice): record the failure in the artifact itself
            detail = "no JSON line" if "scaling" not in result else "partial"
            result["scaling"] = {
                **result.get("scaling", {}),
                "error": f"scaling_evidence.py rc={proc.returncode} ({detail})",
                "stderr_tail": proc.stderr.strip().splitlines()[-5:],
            }

    print(json.dumps(result))


if __name__ == "__main__":
    main()
