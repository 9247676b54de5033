"""Per-stage scaling profile of the KG pipeline.

Runs the end-to-end pipeline at two parallelism levels (pinned via
taskset, fresh subprocess each — same protocol as bench_local_cluster.py)
and prints each stage's wall at both levels plus its individual 8→32
efficiency. This localizes WHERE the scaling loss lives (mention scan?
linking mapInPandas? triple dedup shuffle? fixed driver cost?) instead
of guessing from the end-to-end number.

Usage: python tools/profile_stages.py [n_docs] [lo] [hi]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from shutil import which

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, os, shutil, sys, tempfile, time
sys.path.insert(0, {repo!r})
from cello_spark.session import get_spark
from cello_spark.plans.kg import build_kg_pipeline
from cello_spark.sources.fixtures import (
    make_ontology, make_model_weights, make_thresholds)

cores = int(sys.argv[1]); n_docs = int(sys.argv[2])
shm = "/dev/shm/kg_prof"
os.makedirs(shm, exist_ok=True)
spark = get_spark(app_name=f"profile_{{cores}}", cores=cores,
                  extra_conf={{"spark.local.dir": shm + "/spark-local"}})
onto = make_ontology()
cache = os.path.join({repo!r}, ".cache", "bench", f"kg_docs_{{n_docs}}")
documents = spark.read.parquet(cache + "/documents")
features = spark.read.parquet(cache + "/features")
warm_docs = min(400_000, max(20_000, n_docs // 10))
warm_dir = tempfile.mkdtemp(prefix=f"kg_warm_{{cores}}_", dir=shm)
try:
    build_kg_pipeline(spark, warm_dir, documents.limit(warm_docs), features.limit(warm_docs),
                      onto, make_model_weights(onto), make_thresholds(onto)).run()
finally:
    shutil.rmtree(warm_dir, ignore_errors=True)
workdir = tempfile.mkdtemp(prefix=f"kg_prof_{{cores}}_", dir=shm)
try:
    pipe = build_kg_pipeline(spark, workdir, documents, features, onto,
                             make_model_weights(onto), make_thresholds(onto))
    t0 = time.monotonic()
    results = pipe.run()
    n_triples = [r for r in results if r.name == "triples"][0].rows
    t_count = time.monotonic()
    wall = t_count - t0
    stages = {{r.name: r.wall_sec for r in results}}
    stages["_overhead"] = t_count - t0 - sum(stages.values())
finally:
    shutil.rmtree(workdir, ignore_errors=True)
print(json.dumps({{"cores": cores, "wall_sec": wall, "triples": n_triples,
                  "stages": stages}}))
spark.stop()
"""


def run_level(cores: int, n_docs: int) -> dict:
    cmd = [sys.executable, "-c", CHILD.format(repo=REPO), str(cores), str(n_docs)]
    if which("taskset"):
        cpu_list = "0" if cores == 1 else f"0-{cores - 1}"
        cmd = ["taskset", "-c", cpu_list] + cmd
    out = subprocess.run(cmd, capture_output=True, text=True, check=True, cwd="/tmp")
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    lo = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    hi = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    sys.path.insert(0, REPO)
    from tools.bench_local_cluster import ensure_input

    ensure_input(n_docs)
    res = {c: run_level(c, n_docs) for c in (lo, hi)}
    ratio = hi / lo
    print(f"\n{'stage':<16}{f'T{lo}':>10}{f'T{hi}':>10}{'speedup':>10}{'eff':>8}")
    names = list(res[lo]["stages"])
    for name in names:
        tl, th = res[lo]["stages"][name], res[hi]["stages"][name]
        sp = tl / th if th > 0 else float("inf")
        print(f"{name:<16}{tl:>10.2f}{th:>10.2f}{sp:>10.2f}{sp / ratio:>8.2f}")
    tl, th = res[lo]["wall_sec"], res[hi]["wall_sec"]
    print(f"{'TOTAL':<16}{tl:>10.2f}{th:>10.2f}{tl / th:>10.2f}{tl / th / ratio:>8.2f}")
    out = os.path.join(REPO, "BENCH", "stage_profile.json")
    with open(out, "w") as f:
        json.dump({"n_docs": n_docs, "levels": res}, f, indent=2)
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
