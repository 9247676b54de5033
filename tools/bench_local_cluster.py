"""Multi-executor-JVM scaling evidence: Spark's `local-cluster[W,C,M]`
master launches W REAL executor JVMs with C cores each — the literal
"N executors vs 4N executors" shape of the north rule, one step closer
to a real cluster than local[N]'s single shared JVM (separate heaps,
separate GC, executor-shipped closures, cross-JVM shuffle fetch, and
`--py-files`-style package shipping via ship_package).

Runs the full KG pipeline at W=1 vs W=4 workers (8 cores each) on the
same cached input (generated on first use by `ensure_input`, which the
profile/diag scripts share), interleaved best-of-R, and writes
BENCH/local_cluster.json.

Usage: python tools/bench_local_cluster.py [n_docs] [repeats]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from shutil import which

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CORES_PER_WORKER = 8

CHILD = r"""
import json, os, shutil, sys, tempfile, time
sys.path.insert(0, {repo!r})
workers = int(sys.argv[1]); n_docs = int(sys.argv[2])
from pyspark.sql import SparkSession
from cello_spark.session import _BLAS_ENV
# same allocator/BLAS pins get_spark applies — set before any JVM
# spawns so worker daemons and executor JVMs inherit them
for k, v in _BLAS_ENV.items():
    os.environ.setdefault(k, v)
shm = "/dev/shm/kg_bench"
os.makedirs(shm, exist_ok=True)
cores_per = {cores_per}
total = workers * cores_per
# mirrors cello_spark.session.get_spark, with the executor knobs a
# spark-submit deployment would set: fixed pre-touched executor heaps
# (see session.py for the page-fault rationale)
builder = (SparkSession.builder
  .master(f"local-cluster[{{workers}},{{cores_per}},6144]")
  .appName(f"lc_scaling_{{workers}}")
  .config("spark.sql.shuffle.partitions", str(2 * total))
  .config("spark.default.parallelism", str(total))
  .config("spark.sql.adaptive.enabled", "true")
  .config("spark.sql.files.maxPartitionBytes", "16m")
  .config("spark.sql.execution.arrow.pyspark.enabled", "true")
  .config("spark.driver.memory", "8g")
  .config("spark.executor.memory", "6g")
  .config("spark.driver.extraJavaOptions", "-XX:+UseG1GC")
  .config("spark.executor.extraJavaOptions",
          "-XX:+UseG1GC -XX:+AlwaysPreTouch -Xms6g")
  .config("spark.python.worker.reuse", "true")
  .config("spark.ui.enabled", "false")
  .config("spark.local.dir", shm + "/spark-local"))
for k, v in _BLAS_ENV.items():
    builder = builder.config(f"spark.executorEnv.{{k}}", v)
spark = builder.getOrCreate()
from cello_spark.session import ship_package
ship_package(spark)
from cello_spark.plans.kg import build_kg_pipeline
from cello_spark.sources.fixtures import (
    make_ontology, make_model_weights, make_thresholds)
onto = make_ontology()
cache = os.path.join({repo!r}, ".cache", "bench", f"kg_docs_{{n_docs}}")
documents = spark.read.parquet(cache + "/documents")
features = spark.read.parquet(cache + "/features")
# warmup includes real multi-task parquet writes: the first full-scale
# write in a fresh executor JVM pays a large one-time cost at high
# concurrency (see BENCH/BASELINE.md)
warm_docs = min(400_000, max(20_000, n_docs // 10))
warm_dir = tempfile.mkdtemp(prefix=f"kg_lcw_{{workers}}_", dir=shm)
try:
    build_kg_pipeline(spark, warm_dir, documents.limit(warm_docs), features.limit(warm_docs),
                      onto, make_model_weights(onto), make_thresholds(onto)).run()
finally:
    shutil.rmtree(warm_dir, ignore_errors=True)
workdir = tempfile.mkdtemp(prefix=f"kg_lc_{{workers}}_", dir=shm)
try:
    pipe = build_kg_pipeline(spark, workdir, documents, features, onto,
                             make_model_weights(onto), make_thresholds(onto))
    t0 = time.monotonic()
    results = pipe.run()
    t_run = time.monotonic() - t0
    n = pipe.output("triples").count()
    wall = time.monotonic() - t0
finally:
    shutil.rmtree(workdir, ignore_errors=True)
stages = {{r.name: round(r.wall_sec, 2) for r in results}}
stages["_overhead"] = round(t_run - sum(r.wall_sec for r in results), 2)
stages["_final_count"] = round(wall - t_run, 2)
print(json.dumps({{"workers": workers, "cores_total": total,
                  "wall_sec": wall, "triples": n,
                  "triples_per_sec": n / wall, "stages": stages}}))
spark.stop()
"""


def ensure_input(n_docs: int) -> None:
    """Generate the cached `.cache/bench/kg_docs_<n_docs>` input once.
    Deterministic chunked generation (seed varies per chunk, doc ids
    offset) so multi-million-doc inputs build in bounded memory; features
    are array<float>. A _COMPLETE marker distinguishes finished inputs
    from the debris of a killed generation run."""
    cache = os.path.join(REPO, ".cache", "bench", f"kg_docs_{n_docs}")
    if os.path.exists(cache + "/_COMPLETE"):
        return
    import shutil

    shutil.rmtree(cache, ignore_errors=True)
    code = f"""
import sys; sys.path.insert(0, {REPO!r})
from cello_spark.session import get_spark
from cello_spark.sources.fixtures import make_ontology, make_documents
spark = get_spark(cores=8)
onto = make_ontology()
CHUNK = 100_000
n = {n_docs}
for ci, start in enumerate(range(0, n, CHUNK)):
    sz = min(CHUNK, n - start)
    docs, feats, _ = make_documents(onto, n_docs=sz, seed=42 + ci, id_offset=start)
    mode = 'overwrite' if ci == 0 else 'append'
    spark.createDataFrame(docs).repartition(8).write.mode(mode).parquet({cache + '/documents'!r})
    spark.createDataFrame(
        feats, schema="doc_id string, features array<float>"
    ).repartition(8).write.mode(mode).parquet({cache + '/features'!r})
    print('chunk', ci, 'done', flush=True)
"""
    subprocess.run([sys.executable, "-c", code], check=True, cwd="/tmp")
    with open(cache + "/_COMPLETE", "w") as f:
        f.write("ok\n")


def run_level(workers: int, n_docs: int) -> dict:
    total = workers * CORES_PER_WORKER
    cmd = [
        sys.executable,
        "-c",
        CHILD.format(repo=REPO, cores_per=CORES_PER_WORKER),
        str(workers),
        str(n_docs),
    ]
    if which("taskset"):
        cmd = ["taskset", "-c", f"0-{total - 1}"] + cmd
    out = subprocess.run(cmd, capture_output=True, text=True, cwd="/tmp")
    line = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not line:
        raise RuntimeError(f"workers={workers} failed:\n{out.stderr[-3000:]}")
    return json.loads(line[-1])


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    ensure_input(n_docs)
    results: dict[int, list[dict]] = {1: [], 4: []}
    for rep in range(repeats):
        for w in (1, 4):
            r = run_level(w, n_docs)
            results[w].append(r)
            print(
                f"rep {rep + 1}/{repeats} local-cluster[{w},8]: "
                f"{r['wall_sec']:.1f}s ({r['triples_per_sec']:.0f} tps)",
                flush=True,
            )
    best = {w: min(rs, key=lambda r: r["wall_sec"]) for w, rs in results.items()}
    speedup = best[1]["wall_sec"] / best[4]["wall_sec"]
    summary = {
        "n_docs": n_docs,
        "cores_per_worker": CORES_PER_WORKER,
        "best": {str(w): best[w] for w in best},
        "runs": {str(w): results[w] for w in results},
        "speedup_1_to_4_workers": round(speedup, 3),
        "scaling_efficiency": round(speedup / 4.0, 3),
    }
    with open(os.path.join(REPO, "BENCH", "local_cluster.json"), "w") as f:
        json.dump(summary, f, indent=2)
    print(json.dumps({k: summary[k] for k in
                      ("speedup_1_to_4_workers", "scaling_efficiency")}))


if __name__ == "__main__":
    main()
