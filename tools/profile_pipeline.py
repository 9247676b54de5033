"""Per-stage wall-time profile of the KG pipeline at one parallelism
level — the diagnostic companion to tools/bench_local_cluster.py. Prints one
line per stage plus the end-of-run triple count, so two runs (N and 4N
cores) reveal where the non-scaling (serial) seconds live.

Usage: python tools/profile_pipeline.py <cores> [n_docs]
(reads the cached input tools/bench_local_cluster.py:ensure_input generates)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, os, shutil, sys, tempfile, time
sys.path.insert(0, {repo!r})
from cello_spark.session import get_spark
from cello_spark.plans.kg import build_kg_pipeline
from cello_spark.sources.fixtures import (
    make_ontology, make_model_weights, make_thresholds)

cores = int(sys.argv[1]); n_docs = int(sys.argv[2])
shm = "/dev/shm/kg_bench"
os.makedirs(shm, exist_ok=True)
spark = get_spark(app_name=f"profile_{{cores}}", cores=cores,
                  extra_conf={{"spark.local.dir": shm + "/spark-local"}})
onto = make_ontology()
cache = os.path.join({repo!r}, ".cache", "bench", f"kg_docs_{{n_docs}}")
documents = spark.read.parquet(cache + "/documents")
features = spark.read.parquet(cache + "/features")
documents.limit(1).count()
workdir = tempfile.mkdtemp(prefix=f"kg_prof_{{cores}}_", dir=shm)
try:
    t_build0 = time.monotonic()
    pipe = build_kg_pipeline(spark, workdir, documents, features, onto,
                             make_model_weights(onto), make_thresholds(onto))
    t_build = time.monotonic() - t_build0
    t0 = time.monotonic()
    stages = {{}}
    for r in pipe.run():
        stages[r.name] = round(r.wall_sec, 3)
    t_run = time.monotonic() - t0
    tc0 = time.monotonic()
    n_triples = pipe.output("triples").count()
    t_count = time.monotonic() - tc0
finally:
    shutil.rmtree(workdir, ignore_errors=True)
print(json.dumps({{"cores": cores, "build_sec": round(t_build, 3),
                  "stages": stages,
                  "stage_sum": round(sum(stages.values()), 3),
                  "run_sec": round(t_run, 3),
                  "count_sec": round(t_count, 3),
                  "total_sec": round(t_run + t_count, 3),
                  "triples": n_triples}}))
spark.stop()
"""


def main() -> None:
    cores = int(sys.argv[1])
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    out = subprocess.run(
        [sys.executable, "-c", CHILD.format(repo=REPO), str(cores), str(n_docs)],
        capture_output=True,
        text=True,
        check=True,
        cwd="/tmp",
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    r = json.loads(line)
    print(json.dumps(r, indent=2))


if __name__ == "__main__":
    main()
