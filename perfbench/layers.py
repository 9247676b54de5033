"""Per-layer metrics of a traced run: spans plus the event-log fold,
reduced to the names in metrics.PER_LAYER. A layer a workload does not
exercise reports 0."""

from __future__ import annotations

from metrics import OPERATOR_LAYERS, PER_LAYER
from spans import TASK_FIELDS, fold_tasks, read_event_log
from stats import median, overhead


def _median_dicts(rows: list[dict]) -> dict:
    keys = {k for r in rows for k in r}
    return {k: median([r.get(k, 0.0) for r in rows]) for k in keys}


def pipeline_metrics(spans: list, run) -> dict:
    """run_s, per-stage wall/rows, overlap (sum of stage walls over the
    run wall) and overhead_s (run wall outside every stage interval)."""
    stages = [s for s in spans if s.parent == run.id]
    out = {"plans.pipeline.run_s": run.wall_s}
    for s in stages:
        st = s.name.rsplit(".", 1)[1]
        out[f"plans.pipeline.stage.{st}.wall_s"] = s.wall_s
        out[f"plans.pipeline.stage.{st}.rows"] = s.counts.get("rows", 0)
    out["plans.pipeline.overlap"] = sum(s.wall_s for s in stages) / run.wall_s
    out["plans.pipeline.overhead_s"] = overhead(
        (run.start / 1000.0, run.end / 1000.0),
        [(s.start / 1000.0, s.end / 1000.0) for s in stages],
    )
    return out


def per_layer(wl, tracer, events_path: str | None, extras: dict, base: dict) -> dict:
    spans = tracer.spans
    folded = fold_tasks(read_event_log(events_path), spans) if events_path else {}
    out = {name: 0.0 for name, _ in PER_LAYER}
    out.update(base)
    onto = getattr(wl, "onto", None)
    if onto is not None:
        out["sources.ontology.parse_s"] = wl.ontology_source["parse_s"]
        out["sources.ontology.terms"] = len(onto.terms)
        out["sources.ontology.edges"] = len(onto.edges)
    out.update(extras)

    for layer in OPERATOR_LAYERS:
        rows = []
        for s in tracer.by_name(layer):
            m = dict(folded.get(s.id) or dict.fromkeys(TASK_FIELDS, 0.0))
            m.update(wall_s=s.wall_s, rows_out=s.counts.get("rows", 0))
            if "pinned_bytes" in s.counts:
                m["pinned_bytes"] = s.counts["pinned_bytes"]
            rows.append(m)
        if rows:
            for k, v in _median_dicts(rows).items():
                out[f"{layer}.{k}"] = v

    runs = [pipeline_metrics(spans, r) for r in tracer.by_name("plans.pipeline.run")]
    if runs:
        out.update(_median_dicts(runs))

    ingest = []
    for s in tracer.by_name("streaming.ingest"):
        batch_s = s.counts.get("batch_s", 0.0)
        ingest.append({
            "streaming.ingest.invoke_s": s.wall_s,
            "streaming.ingest.batch_s": batch_s,
            "streaming.ingest.startup_s": s.wall_s - batch_s,
            "streaming.ingest.rows": s.counts.get("rows", 0),
        })
    if ingest:
        out.update(_median_dicts(ingest))
    unknown = set(out) - {n for n, _ in PER_LAYER}
    if unknown:
        raise KeyError(f"metrics outside PER_LAYER: {sorted(unknown)}")
    return {k: float(v) for k, v in out.items()}
