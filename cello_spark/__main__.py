"""Command-line surface — the reference's console-script entry points
(setup.py `entry_points`: `cello_predict` et al.; arg shape from
cello/cello_predict.py's argparse: data location, data type, units,
model, output) re-expressed for the Spark engine:

  # classify an expression matrix with a saved model bundle
  python -m cello_spark predict \
      --data expr.csv --format csv --units CPM \
      --model model_dir --output out_dir [--output-format parquet|tsv] \
      [--reconcile dykstra|none|clr] [--assay 3_PRIME|FULL_LENGTH] \
      [--no-strict] [--cores N]

  # run the staged KG-construction pipeline over parquet inputs
  python -m cello_spark kg \
      --documents docs.parquet --features feats.parquet \
      --obo ontology.obo --model model_dir --workdir out_dir \
      [--media-triples] [--cores N]

The model bundle directory format is defined in
`sources/bundles.save_model_bundle` (weights/thresholds parquet +
genes/edges/meta JSON). `predict` writes the reference's three output
tables (probability / binary / most_specific —
cello_predict.py:196-207) as parquet (scale-native) or TSV
(reference-shaped). Sessions come from `get_spark()` (local master;
Python workers import the package from its root); for cluster
deployment use spark-submit with `--py-files` as in tools/submit_kg.py.
"""

from __future__ import annotations

import argparse
import json
import sys


def _add_common(p: argparse.ArgumentParser) -> None:
    # None: get_spark sizes it ($SPARK_GRAFT_CPUS, else all cores)
    p.add_argument("--cores", type=int, default=None)
    p.add_argument("--shuffle-partitions", type=int, default=None)


def _spark(args):
    from cello_spark.session import get_spark

    return get_spark(
        app_name="cello_spark_cli",
        cores=args.cores,
        shuffle_partitions=args.shuffle_partitions,
    )


def cmd_predict(args) -> int:
    from cello_spark.plans.predict import predict_expression, write_outputs
    from cello_spark.sources.bundles import load_model_bundle
    from cello_spark.sources.expression import load_expression

    spark = _spark(args)
    model, genes = load_model_bundle(args.model)
    if args.reconcile:
        model.reconcile_mode = args.reconcile
    long_df = load_expression(spark, args.data, args.format)
    outputs = predict_expression(
        long_df,
        model,
        genes,
        units=args.units,
        assay=args.assay,
        strict=not args.no_strict,
    )
    write_outputs(outputs, args.output, fmt=args.output_format)
    # count the WRITTEN outputs (metadata-cheap for parquet) — counting
    # the unpersisted DataFrames would re-run the whole predict DAG
    counts = {}
    for name in outputs:
        path = f"{args.output}/{name}"
        if args.output_format == "parquet":
            counts[name] = spark.read.parquet(path).count()
        else:
            counts[name] = (
                spark.read.option("header", True)
                .option("sep", "\t")
                .csv(path)
                .count()
            )
    print(json.dumps({"predict": counts, "output": args.output}))
    return 0


def cmd_kg(args) -> int:
    from cello_spark.plans.kg import build_kg_pipeline
    from cello_spark.sources.bundles import load_model_tables
    from cello_spark.sources.ontology import ontology_from_obo

    spark = _spark(args)
    weights, thresholds = load_model_tables(args.model)
    with open(args.obo) as f:
        obo_text = f.read()
    labels = sorted(set(weights.label))
    onto = ontology_from_obo(obo_text, labels=labels)
    documents = spark.read.parquet(args.documents)
    features = spark.read.parquet(args.features)
    pipe = build_kg_pipeline(
        spark,
        args.workdir,
        documents,
        features,
        onto,
        weights,
        thresholds,
        include_media_triples=args.media_triples,
    )
    results = pipe.run()
    stages = [
        {"stage": r.name, "rows": r.rows, "skipped": r.skipped}
        for r in results
    ]
    # the triples stage's committed row count (from its parquet
    # footers, or its manifest entry on a resumed run): no count job
    n_triples = next(r.rows for r in results if r.name == "triples")
    print(json.dumps({"kg": stages, "triples": n_triples}))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="cello_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("predict", help="classify an expression matrix")
    p.add_argument("--data", required=True)
    p.add_argument(
        "--format", required=True, choices=["10x", "csv", "tsv", "hdf5"]
    )
    p.add_argument("--units", default="LOG1_TPM")
    p.add_argument("--assay", default="3_PRIME")
    p.add_argument("--model", required=True, help="model bundle dir")
    p.add_argument("--output", required=True)
    p.add_argument(
        "--output-format", default="parquet", choices=["parquet", "tsv"]
    )
    p.add_argument(
        "--reconcile", default=None, choices=["dykstra", "none", "clr"]
    )
    p.add_argument("--no-strict", action="store_true")
    _add_common(p)
    p.set_defaults(fn=cmd_predict)

    p = sub.add_parser("kg", help="run the KG-construction pipeline")
    p.add_argument("--documents", required=True)
    p.add_argument("--features", required=True)
    p.add_argument("--obo", required=True)
    p.add_argument("--model", required=True, help="model bundle dir")
    p.add_argument("--workdir", required=True)
    p.add_argument("--media-triples", action="store_true")
    _add_common(p)
    p.set_defaults(fn=cmd_kg)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
