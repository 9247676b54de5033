"""spark-submit driver for the KG-construction pipeline — the literal
deployment shape of the north rule: the `cello_spark` package reaches
the driver AND every executor ONLY through `--py-files` (no repo on
sys.path anywhere), the master comes from spark-submit, and executors
are real separate JVMs when run with `--master local-cluster[W,C,M]`.

Launch (see tools/run_spark_submit.py for the packaged one-liner):

    spark-submit --master 'local-cluster[2,4,2048]' \
        --py-files /tmp/cello_spark.zip \
        [--conf ...executor heap/pre-touch confs...] \
        tools/submit_kg.py [n_docs] [workdir]

Runs the staged pipeline on a deterministic synthetic world
(sources/fixtures.py, seed-fixed), checks triple P/R against the
frozen numpy oracle (the same ≥0.95 gate as tests/test_pipeline.py),
and prints ONE machine-readable JSON line prefixed SUBMIT_KG.
"""

import json
import shutil
import sys
import tempfile
import time

# NB: no sys.path.insert — `cello_spark` must come from --py-files.
from pyspark.sql import SparkSession

from cello_spark import oracle
from cello_spark.plans.kg import build_kg_pipeline, label_edges
from cello_spark.sources.fixtures import (
    make_documents,
    make_model_weights,
    make_thresholds,
    make_ontology,
)


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 5000
    workdir = sys.argv[2] if len(sys.argv) > 2 else None
    cleanup = workdir is None
    if workdir is None:
        workdir = tempfile.mkdtemp(prefix="submit_kg_")

    spark = SparkSession.builder.appName("submit_kg").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    onto = make_ontology()
    docs, feats, _truth = make_documents(onto, n_docs=n_docs)
    weights = make_model_weights(onto)
    thresholds = make_thresholds(onto)

    try:
        pipe = build_kg_pipeline(
            spark,
            workdir,
            spark.createDataFrame(docs),
            spark.createDataFrame(feats),
            onto,
            weights,
            thresholds,
        )
        t0 = time.monotonic()
        results = pipe.run()
        got = pipe.output("triples").toPandas()
        wall = time.monotonic() - t0
        world = {"features": feats, "weights": weights, "thresholds": thresholds}
        want = oracle.golden_fixture_triples(onto, world, label_edges(onto))
        p, r = oracle.precision_recall(got, want)
    finally:
        if cleanup:
            shutil.rmtree(workdir, ignore_errors=True)

    out = {
        "master": spark.sparkContext.master,
        "n_docs": n_docs,
        "stages": {res.name: round(res.wall_sec, 2) for res in results},
        "triples": int(len(got)),
        "precision": round(float(p), 4),
        "recall": round(float(r), 4),
        "gate": bool(p >= 0.95 and r >= 0.95),
        "wall_sec": round(wall, 2),
    }
    print("SUBMIT_KG " + json.dumps(out), flush=True)
    spark.stop()
    return 0 if out["gate"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
