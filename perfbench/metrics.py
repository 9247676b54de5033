"""Metric names and units: the interface later performance changes cite.
BENCHMARK.json lists the same names (a test keeps the two equal)."""

from __future__ import annotations

END_TO_END = [
    ("setup_s", "s"),
    ("latency_p50_s", "s"),
    ("docs_per_s", "docs/s"),
    ("triples_per_s", "triples/s"),
    ("peak_rss_mb", "MB"),
]

PIPELINE_STAGES = (
    "ontology", "closure", "onto_triples", "mentions", "linked",
    "canonical_map", "triples",
)

OPERATOR_LAYERS = (
    "operators.mentions",
    "operators.linking",
    "plans.kg.rewrite",
    "operators.dedup.minhash",
    "operators.dedup.ngram",
    "operators.dedup.cross",
)

OPERATOR_FIELDS = (
    ("wall_s", "s"), ("rows_out", "count"), ("task_s", "s"), ("cpu_s", "s"),
    ("gc_s", "s"), ("shuffle_bytes", "B"), ("spill_bytes", "B"),
    ("tasks", "count"), ("skew", "ratio"), ("failed_tasks", "count"),
)

PLAN_CODES = {"dense": 1, "sparse": 2}  # 0: the probe did not run


def _per_layer() -> list[tuple[str, str]]:
    out = [
        ("session.start_s", "s"),
        ("session.py_warm_s", "s"),
        ("sources.ontology.parse_s", "s"),
        ("sources.ontology.terms", "count"),
        ("sources.ontology.edges", "count"),
        ("plans.kg.prepare.wall_s", "s"),
        ("plans.kg.prepare.closure_rows", "count"),
        ("plans.kg.prepare.alias_rows", "count"),
        ("plans.kg.prepare.merged_terms", "count"),
        ("plans.kg.density_probe.wall_s", "s"),
        ("plans.kg.density_probe.density", "ratio"),
        ("plans.kg.density_probe.plan", "1dense-2sparse"),
    ]
    for layer in OPERATOR_LAYERS:
        out += [(f"{layer}.{f}", u) for f, u in OPERATOR_FIELDS]
    out += [
        ("operators.mentions.per_doc", "ratio"),
        ("operators.linking.useful_ratio", "ratio"),
        ("operators.dedup.minhash.pinned_bytes", "B"),
        ("operators.dedup.ngram.pinned_bytes", "B"),
        ("operators.dedup.cross.pinned_bytes", "B"),
        ("plans.pipeline.run_s", "s"),
    ]
    for st in PIPELINE_STAGES:
        out += [
            (f"plans.pipeline.stage.{st}.wall_s", "s"),
            (f"plans.pipeline.stage.{st}.rows", "count"),
        ]
    out += [
        ("plans.pipeline.overlap", "ratio"),
        ("plans.pipeline.overhead_s", "s"),
        ("streaming.ingest.invoke_s", "s"),
        ("streaming.ingest.batch_s", "s"),
        ("streaming.ingest.startup_s", "s"),
        ("streaming.ingest.rows", "count"),
        ("trace.latency_p50_s", "s"),
        ("trace.overhead_s", "s"),
    ]
    return out


PER_LAYER = _per_layer()
