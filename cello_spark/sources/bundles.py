"""Training-set bundles (S5), ontology-config registry (S8) and
empirical-threshold source selection (O5).

Reference shapes reproduced:
- S5 `cello/load_training_data.py:19-89`: expression matrix + JSON
  sidecars (labels.json carrying {"label_graph": {parent:[children]},
  "labels": {item:[labels]}}, experiment_to_study.json,
  experiment_to_tags.json) → label DAG, per-item labels, most-specific
  labels, study groups, tags. Here the matrix is a parquet features
  table (the engine's native (item, features) shape) instead of HDF5 —
  columnar, splittable, predicate-pushdown-able, which is the
  Spark-first answer to "load a 10^12-row training set".
- S8 `cello/onto_lib_py3/load_ontology.py` + ontology_configurations
  .json: config id → included projects / id spaces / subgraph roots /
  excluded terms, applied as a deterministic chain of the ontology
  primitives (restrict_id_spaces → filter_obsolete →
  restrict_to_roots → exclude).
- O5 `cello/cello.py:614-681`: among pretrained (model, threshold)
  sources, pick the one with the max fraction of model features
  present in the input; ties keep the LAST candidate (the reference's
  `>=` update in iteration order).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from cello_spark.sources.ontology import (
    filter_obsolete,
    restrict_id_spaces,
    restrict_to_roots,
)


# ---------------------------------------------------------------------------
# S5: training-set bundle
# ---------------------------------------------------------------------------


@dataclass
class TrainingBundle:
    features: DataFrame  # (item, features: array<double>)
    labels_long: DataFrame  # (item, label)
    ms_labels_long: DataFrame  # (item, ms_label)
    item_study: DataFrame  # (item, study)
    item_tags: DataFrame  # (item, tag)
    label_edges: list[tuple[str, str]]  # (child, parent)


def save_training_bundle(
    features: DataFrame,
    labels: dict[str, list[str]],
    label_graph: dict[str, list[str]],  # parent -> [children] (reference shape)
    item_to_study: dict[str, str],
    item_to_tags: dict[str, list[str]],
    path: str,
) -> None:
    """Write the bundle layout `load_training_bundle` reads. Sidecars
    are driver-size metadata (labels/studies/tags of the label DAG
    world, reference labels.json), only the matrix is distributed."""
    os.makedirs(path, exist_ok=True)
    features.write.mode("overwrite").parquet(os.path.join(path, "features.parquet"))
    with open(os.path.join(path, "labels.json"), "w") as f:
        json.dump({"label_graph": label_graph, "labels": labels}, f, sort_keys=True)
    with open(os.path.join(path, "experiment_to_study.json"), "w") as f:
        json.dump(item_to_study, f, sort_keys=True)
    with open(os.path.join(path, "experiment_to_tags.json"), "w") as f:
        json.dump(item_to_tags, f, sort_keys=True)


def load_training_bundle(spark: SparkSession, path: str) -> TrainingBundle:
    """S5: load a training bundle (reference load_training_data.load).
    The features matrix is a distributed parquet scan; the JSON
    sidecars are driver-side (they describe the label DAG and item
    metadata — ontology-sized). Most-specific labels are derived with
    the distributed operator, matching the reference's
    exp_to_ms_labels (load_training_data.py:71-76)."""
    from cello_spark.operators.training import most_specific_labels

    features = spark.read.parquet(os.path.join(path, "features.parquet"))
    with open(os.path.join(path, "labels.json")) as f:
        labels_data = json.load(f)
    label_graph = labels_data["label_graph"]
    label_edges = sorted(
        (child, parent)
        for parent, children in label_graph.items()
        for child in children
    )
    labels_long = spark.createDataFrame(
        pd.DataFrame(
            [
                (item, l)
                for item, ls in sorted(labels_data["labels"].items())
                for l in ls
            ],
            columns=["item", "label"],
        )
    )
    with open(os.path.join(path, "experiment_to_study.json")) as f:
        item_study_pdf = pd.DataFrame(
            sorted(json.load(f).items()), columns=["item", "study"]
        )
    with open(os.path.join(path, "experiment_to_tags.json")) as f:
        tags = json.load(f)
    item_tags_pdf = pd.DataFrame(
        [(i, t) for i, ts in sorted(tags.items()) for t in ts],
        columns=["item", "tag"],
    )
    if item_tags_pdf.empty:
        item_tags = spark.createDataFrame([], "item string, tag string")
    else:
        item_tags = spark.createDataFrame(item_tags_pdf)
    return TrainingBundle(
        features=features,
        labels_long=labels_long,
        ms_labels_long=most_specific_labels(labels_long, label_edges),
        item_study=spark.createDataFrame(item_study_pdf),
        item_tags=item_tags,
        label_edges=label_edges,
    )


# ---------------------------------------------------------------------------
# S8: ontology-config registry
# ---------------------------------------------------------------------------


@dataclass
class OntologyConfig:
    config_id: str
    id_spaces: list[str]
    subgraph_roots: list[str] | None = None  # None => no subgraph restrict
    exclude_terms: list[str] = field(default_factory=list)
    include_obsolete: bool = False
    description: str = ""


# default registry mirroring the reference's ontology_configurations
# .json SHAPE (ids/config fields), with the graft fixture id space
ONTOLOGY_CONFIGS: dict[str, OntologyConfig] = {
    "full": OntologyConfig(
        config_id="full",
        id_spaces=["CS"],
        description="all terms of the graft ontology",
    ),
    "cell_slice": OntologyConfig(
        config_id="cell_slice",
        id_spaces=["CS"],
        subgraph_roots=["CS:0000000"],
        exclude_terms=["CS:0000000"],
        description="subgraph under the root, root itself excluded "
        "(the reference's 'Slice of Cell Ontology' shape)",
    ),
}


def get_ontology_config(config_id: str) -> OntologyConfig:
    return ONTOLOGY_CONFIGS[config_id]


def apply_ontology_config(
    terms: DataFrame,
    edges: DataFrame,
    cfg: OntologyConfig | str,
) -> tuple[DataFrame, DataFrame]:
    """S8: config-driven ontology ingest (reference load_ontology.load
    → build_ontology): restrict id spaces → drop obsolete →
    restrict to subgraph roots → exclude listed terms. Returns
    (terms, edges) pruned consistently (every edge endpoint survives)."""
    if isinstance(cfg, str):
        cfg = get_ontology_config(cfg)
    t = restrict_id_spaces(terms, cfg.id_spaces)
    ids = t.select(F.col("term_id").alias("src"))
    e = edges.join(ids, "src", "left_semi").join(
        ids.withColumnRenamed("src", "dst"), "dst", "left_semi"
    )
    if not cfg.include_obsolete:
        t, e = filter_obsolete(t, e)
    if cfg.subgraph_roots:
        from cello_spark.operators.graph import transitive_closure_auto

        closure = transitive_closure_auto(e, rels=("is_a",))
        t, e = restrict_to_roots(t, e, closure, cfg.subgraph_roots)
    if cfg.exclude_terms:
        spark = t.sparkSession
        excl = spark.createDataFrame(
            [(x,) for x in cfg.exclude_terms], "term_id string"
        )
        t = t.join(F.broadcast(excl), "term_id", "left_anti")
        e = e.join(
            F.broadcast(excl.withColumnRenamed("term_id", "src")), "src", "left_anti"
        ).join(
            F.broadcast(excl.withColumnRenamed("term_id", "dst")), "dst", "left_anti"
        )
    return t, e


# ---------------------------------------------------------------------------
# O5: empirical-threshold source selection
# ---------------------------------------------------------------------------


def select_threshold_source(
    input_features: list[str] | set[str],
    candidates: list[tuple[str, list[str], pd.DataFrame]],
) -> tuple[str, pd.DataFrame]:
    """O5 (cello/cello.py:614-681): among candidate pretrained sources
    (name, model_features, thresholds_pdf), pick the one with the
    highest |model_features ∩ input_features| / |model_features|.
    Ties keep the LAST candidate in list order — the reference's `>=`
    update while iterating its pretrained list. Driver-side: the
    candidate registry is a handful of entries; the feature sets are
    model-sized (broadcast scale)."""
    if not candidates:
        raise ValueError("no threshold candidates")
    have = frozenset(input_features)
    best_name, best_thr, best_common = None, None, -1.0
    for name, feats, thr in candidates:
        if not feats:
            raise ValueError(f"candidate {name!r} has no features")
        common = len(frozenset(feats) & have) / len(feats)
        if common >= best_common:  # >= : ties keep the LAST candidate
            best_name, best_thr, best_common = name, thr, common
    return best_name, best_thr


# ---------------------------------------------------------------------------
# S14 model bundle: everything predict needs, in one directory
# ---------------------------------------------------------------------------

#: bundle layout — the engine's analog of the reference's pickled
#: model object (cello/models/model.py + the gene list cello.py keeps
#: alongside): weights.parquet (label, coef, intercept, is_trivial),
#: thresholds.parquet (label, threshold[, precision]), genes.json
#: (model feature order), edges.json ([[child, parent], ...] label
#: hierarchy), meta.json ({"reconcile_mode": ...}).


def save_model_bundle(
    path: str,
    weights_pdf,
    thresholds_pdf,
    genes: list[str],
    label_edges: list[tuple[str, str]],
    reconcile_mode: str = "dykstra",
    qualifier_labels: set[str] = frozenset(),
    precision_min: float | None = None,
) -> None:
    """Write the predict-ready model bundle directory. qualifier_labels
    and precision_min are part of the model's decision behavior
    (most-specific exclusion mask and precision keep-mask,
    operators/linking.py) — persisting them is what makes the loaded
    model behave EXACTLY like the saved one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(weights_pdf, preserve_index=False),
        os.path.join(path, "weights.parquet"),
    )
    pq.write_table(
        pa.Table.from_pandas(thresholds_pdf, preserve_index=False),
        os.path.join(path, "thresholds.parquet"),
    )
    with open(os.path.join(path, "genes.json"), "w") as f:
        json.dump(list(genes), f)
    with open(os.path.join(path, "edges.json"), "w") as f:
        json.dump([[c, p] for c, p in label_edges], f)
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(
            {
                "reconcile_mode": reconcile_mode,
                "qualifier_labels": sorted(qualifier_labels),
                "precision_min": precision_min,
            },
            f,
        )


def load_model_tables(path: str):
    """(weights_pdf, thresholds_pdf) from a bundle dir — the one place
    that knows the parquet file names (cmd_kg and load_model_bundle
    both build on it)."""
    import pyarrow.parquet as pq

    weights = pq.read_table(os.path.join(path, "weights.parquet")).to_pandas()
    thresholds = pq.read_table(
        os.path.join(path, "thresholds.parquet")
    ).to_pandas()
    return weights, thresholds


def load_model_bundle(path: str):
    """Load a model bundle → (LinkingModel, genes). The bundle is
    driver-side KB-scale state; the LinkingModel broadcasts from the
    driver exactly like a freshly-fitted one."""
    from cello_spark.operators.linking import LinkingModel

    weights, thresholds = load_model_tables(path)
    with open(os.path.join(path, "genes.json")) as f:
        genes = json.load(f)
    with open(os.path.join(path, "edges.json")) as f:
        edges = [tuple(e) for e in json.load(f)]
    meta_path = os.path.join(path, "meta.json")
    meta = {}
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
    model = LinkingModel.from_tables(
        weights,
        thresholds,
        edges,
        reconcile_mode=meta.get("reconcile_mode", "dykstra"),
        qualifier_labels=set(meta.get("qualifier_labels", ())),
        precision_min=meta.get("precision_min"),
    )
    return model, genes
