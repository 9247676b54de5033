"""End-to-end KG pipeline: triple P/R vs oracle (≥0.95 gate), span
invariant, stage-granular resume, lineage metrics."""

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from cello_spark import oracle
from cello_spark.plans.kg import build_kg_pipeline


@pytest.fixture(scope="module")
def pipe(spark, tmp_path_factory, onto, small_world):
    workdir = str(tmp_path_factory.mktemp("kgpipe"))
    docs = spark.createDataFrame(small_world["documents"])
    feats = spark.createDataFrame(small_world["features"])
    p = build_kg_pipeline(
        spark,
        workdir,
        docs,
        feats,
        onto,
        small_world["weights"],
        small_world["thresholds"],
    )
    p.run()
    return p


def _golden_triples(onto, small_world, label_edges):
    """Frozen-oracle golden triples (FIXTURES.md F8)."""
    return oracle.golden_fixture_triples(onto, small_world, label_edges)


def test_triples_pr_gate(pipe, onto, small_world, label_edges):
    got = pipe.output("triples").toPandas()
    want = _golden_triples(onto, small_world, label_edges)
    p, r = oracle.precision_recall(got, want)
    assert p >= 0.95, f"precision {p:.4f}"
    assert r >= 0.95, f"recall {r:.4f}"


def test_span_sequence_invariant(spark, pipe, small_world):
    """Input documents' span sequences (kind, text, media_ref, order)
    are byte-identical after the pipeline ran (pipeline never rewrites
    the documents table)."""
    docs = spark.createDataFrame(small_world["documents"])
    got = {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
        for r in docs.select("doc_id", "spans").collect()
    }
    want = {
        row.doc_id: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row.spans
        ]
        for row in small_world["documents"].itertuples(index=False)
    }
    assert got == want


def test_resume_skips_completed_stages(spark, tmp_path, onto, small_world):
    workdir = str(tmp_path / "resume")
    docs = spark.createDataFrame(small_world["documents"])
    feats = spark.createDataFrame(small_world["features"])

    def make():
        return build_kg_pipeline(
            spark, workdir, docs, feats, onto,
            small_world["weights"], small_world["thresholds"],
        )

    # first run dies after 'mentions'
    r1 = make().run(stop_after="mentions")
    assert [s.name for s in r1] == ["ontology", "closure", "onto_triples", "mentions"]
    assert not any(s.skipped for s in r1)
    # rerun: completed stages skipped, remaining computed
    r2 = make().run()
    by_name = {s.name: s for s in r2}
    for done in ["ontology", "closure", "onto_triples", "mentions"]:
        assert by_name[done].skipped, done
    for todo in ["linked", "canonical_map", "triples"]:
        assert not by_name[todo].skipped, todo
    # manifest records every stage complete
    with open(os.path.join(workdir, "manifest.json")) as f:
        manifest = json.load(f)
    assert all(
        manifest["stages"][n]["status"] == "complete" for n in by_name
    )


def test_resume_skip_path_clears_tmp_data_debris(
    spark, tmp_path, onto, small_world
):
    """A resumed run over an already-complete stage must clear stale
    `_tmp_data` crash debris (an interrupted writer whose commit DID
    land) on the SKIP path and produce output identical to a clean
    run (plans/pipeline.py exec_stage skip branch)."""
    workdir = str(tmp_path / "resume_debris")
    docs = spark.createDataFrame(small_world["documents"])
    feats = spark.createDataFrame(small_world["features"])

    def make():
        return build_kg_pipeline(
            spark, workdir, docs, feats, onto,
            small_world["weights"], small_world["thresholds"],
        )

    make().run(stop_after="mentions")
    # plant debris under a completed stage
    debris = os.path.join(workdir, "mentions", "_tmp_data")
    os.makedirs(debris, exist_ok=True)
    with open(os.path.join(debris, "part-orphan.parquet"), "w") as f:
        f.write("not a real parquet file")
    r2 = make().run()
    by_name = {s.name: s for s in r2}
    assert by_name["mentions"].skipped
    assert not os.path.exists(debris)
    # a clean-workdir run produces the identical triple table
    clean_dir = str(tmp_path / "resume_clean")
    clean = build_kg_pipeline(
        spark, clean_dir, docs, feats, onto,
        small_world["weights"], small_world["thresholds"],
    )
    clean.run()
    a = spark.read.parquet(os.path.join(workdir, "triples", "data"))
    b = spark.read.parquet(os.path.join(clean_dir, "triples", "data"))
    cols = ["subj", "pred", "obj"]
    assert sorted(map(tuple, a.select(cols).collect())) == sorted(
        map(tuple, b.select(cols).collect())
    )


def test_lineage_metrics(pipe):
    lin = pipe.lineage().toPandas()
    assert set(lin.columns) == {"partition_id", "rows", "stage"}
    per_stage = lin.groupby("stage")["rows"].sum()
    assert per_stage["triples"] > 0
    # lineage row counts equal stage row counts from the manifest
    with open(os.path.join(pipe.workdir, "manifest.json")) as f:
        manifest = json.load(f)
    for stage, total in per_stage.items():
        assert manifest["stages"][stage]["rows"] == total


def test_canonicalization_merges_aliases(pipe, onto):
    cmap = pipe.output("canonical_map").toPandas()
    m = dict(zip(cmap.node, cmap.canonical))
    # xref ids collapse to their term id
    assert m.get("XR:00030") == "CS:0000030"
    # the term id itself is canonical
    assert m.get("CS:0000030") == "CS:0000030"
    # synonym strings collapse too
    assert m.get("t cell (syn)") == "CS:0000030"


def test_triples_bucketed_write(spark, pipe, tmp_path):
    from cello_spark.sources.sinks import write_bucketed

    out = str(tmp_path / "triples_bucketed")
    write_bucketed(pipe.output("triples"), out, bucket_col="subj", n_buckets=8)
    back = spark.read.parquet(out)
    assert back.select("bucket").distinct().count() <= 8
    assert back.count() == pipe.output("triples").count()


def test_canonical_mapping_distributed_rule(spark):
    """plans.kg.canonical_mapping (the past-driver-cutover variant)
    applies the same canonical rule as the driver path: per component,
    min member with the ontology prefix, else min member."""
    from cello_spark.plans.kg import canonical_mapping

    components = spark.createDataFrame(
        [
            # component 1: two prefixed terms + an alias → min prefixed
            ("CS:0002", 1),
            ("CS:0001", 1),
            ("t cell", 1),
            # component 2: aliases only → min member
            ("zeta", 2),
            ("alpha", 2),
        ],
        "node string, component int",
    )
    got = {
        r.node: r.canonical
        for r in canonical_mapping(components, term_prefix="CS:").collect()
    }
    assert got == {
        "CS:0002": "CS:0001",
        "CS:0001": "CS:0001",
        "t cell": "CS:0001",
        "zeta": "alpha",
        "alpha": "alpha",
    }


def test_canonicalization_driver_vs_distributed_parity(spark):
    """The pipeline's driver-side canonicalization (prepare_ontology:
    oracle.connected_components + min-prefixed-member rule) and the
    distributed path (operators.graph.connected_components +
    plans.kg.canonical_mapping) must agree on random alias graphs —
    the cutover between them is size-based, so a divergence would make
    results depend on dictionary size."""
    import random

    from cello_spark import oracle
    from cello_spark.operators.graph import connected_components
    from cello_spark.plans.kg import canonical_mapping

    rng = random.Random(7)
    for trial in range(3):
        nodes = [f"CS:{i:04d}" for i in range(12)] + [
            f"alias {i}" for i in range(18)
        ]
        pairs = [
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(25)
        ]
        pairs = [(a, b) for a, b in pairs if a != b]

        # driver path (mirrors prepare_ontology)
        comp = oracle.connected_components(pairs)
        members: dict[str, list[str]] = {}
        for node, c in comp.items():
            members.setdefault(c, []).append(node)
        want = {}
        for c, ns in members.items():
            terms = sorted(n for n in ns if n.startswith("CS:"))
            canonical = terms[0] if terms else min(ns)
            want.update({n: canonical for n in ns})

        # distributed path
        pairs_df = spark.createDataFrame(pairs, "a string, b string")
        got = {
            r.node: r.canonical
            for r in canonical_mapping(
                connected_components(pairs_df), term_prefix="CS:"
            ).collect()
        }
        assert got == want, f"trial {trial}"


def test_canonical_rewrite_dedups_only_where_merges_collide(spark, monkeypatch):
    """canonical_rewrite_triples must equal rewrite+full-dropDuplicates
    exactly, while shuffling only the merge-affected slice, from a Spark
    or a driver-held pandas map, as a literal map or broadcast joins.
    Exercises a synthetic xref merge (CS:B -> CS:A) — absent from the
    fixture ontology, which has no synonym merges."""
    from pyspark.sql import functions as F

    from cello_spark.plans import kg
    from cello_spark.plans.kg import canonical_rewrite_triples

    raw = spark.createDataFrame(
        [
            # doc typing rows: d1 selects both CS:A and CS:B, which
            # merge -> duplicate (d1, rdf:type, CS:A) must collapse
            ("d1", "rdf:type", "CS:A"),
            ("d1", "rdf:type", "CS:B"),
            ("d2", "rdf:type", "CS:B"),
            ("d3", "rdf:type", "CS:C"),
            # schema rows: CS:B is_a CS:D rewrites to CS:A is_a CS:D,
            # colliding with the existing row
            ("CS:A", "is_a", "CS:D"),
            ("CS:B", "is_a", "CS:D"),
            ("CS:C", "is_a", "CS:D"),
        ],
        "subj string, pred string, obj string",
    )
    cmap = spark.createDataFrame(
        [("CS:B", "CS:A"), ("CS:A", "CS:A"), ("b alias", "CS:A")],
        "node string, canonical string",
    )
    merged = ["CS:A", "CS:B"]

    got = canonical_rewrite_triples(raw, cmap, merged, ("CS:",))
    want = (
        raw.join(
            F.broadcast(cmap.selectExpr("node as subj", "canonical as subj_c")),
            "subj",
            "left",
        )
        .join(
            F.broadcast(cmap.selectExpr("node as obj", "canonical as obj_c")),
            "obj",
            "left",
        )
        .select(
            F.coalesce("subj_c", "subj").alias("subj"),
            "pred",
            F.coalesce("obj_c", "obj").alias("obj"),
        )
        .dropDuplicates()
    )
    got_rows = sorted(tuple(r) for r in got.collect())
    want_rows = sorted(tuple(r) for r in want.collect())
    assert got_rows == want_rows
    # the collapsed duplicates are gone and multiplicity is exactly 1
    assert len(got_rows) == len(set(got_rows))
    assert ("d1", "rdf:type", "CS:A") in got_rows
    assert ("CS:A", "is_a", "CS:D") in got_rows
    for max_literal in (kg.MAX_LITERAL_MAP, 0):
        monkeypatch.setattr(kg, "MAX_LITERAL_MAP", max_literal)
        for m in (cmap, cmap.toPandas()):
            got_m = canonical_rewrite_triples(raw, m, merged, ("CS:",))
            assert sorted(tuple(r) for r in got_m.collect()) == want_rows

    # no merges -> pure pass-through: multiplicity preserved (the
    # distinct-input precondition makes that equal to full dedup), and
    # the optimized plan carries no aggregate/exchange for dedup
    got_nomerge = canonical_rewrite_triples(raw, cmap, [], ("CS:",))
    assert got_nomerge.count() == raw.count()
    plan_str = got_nomerge._jdf.queryExecution().optimizedPlan().toString()
    assert "Deduplicate" not in plan_str


def test_gate_drops_unmentioned_docs_before_scoring(
    spark, tmp_path, onto, small_world, pipe
):
    """The linked stage scores only documents with a mention: with the
    text of every 5th doc replaced by dictionary-free words, exactly the
    mentioned docs reach the scorer, the blanked docs emit no typing
    triple, and every other doc's triples are unchanged. The gate is a
    LeftSemi join below the Python scorer, not a filter after it."""
    from cello_spark.plans.kg import link_mentioned, make_linking_model

    docs_pdf = small_world["documents"].copy()
    blanked = set(docs_pdf.doc_id.iloc[::5])
    docs_pdf["spans"] = [
        [
            {**s, "text": "qzx vrrk plomb"} if s["kind"] == "text" else s
            for s in spans
        ]
        if doc_id in blanked
        else spans
        for doc_id, spans in zip(docs_pdf.doc_id, docs_pdf.spans)
    ]
    feats = spark.createDataFrame(small_world["features"])
    p = build_kg_pipeline(
        spark,
        str(tmp_path / "gated"),
        spark.createDataFrame(docs_pdf),
        feats,
        onto,
        small_world["weights"],
        small_world["thresholds"],
    )
    p.run()

    mentioned = sorted(
        r.doc_id for r in p.output("mentions").select("doc_id").distinct().collect()
    )
    assert mentioned == sorted(set(docs_pdf.doc_id) - blanked)
    linked = sorted(r.doc_id for r in p.output("linked").select("doc_id").collect())
    assert linked == mentioned

    got = {tuple(r) for r in p.output("triples").collect()}
    assert not {t for t in got if t[0] in blanked}
    base = {tuple(r) for r in pipe.output("triples").collect()}
    assert got == {t for t in base if t[0] not in blanked}

    model = make_linking_model(
        onto, small_world["weights"], small_world["thresholds"]
    )
    scored = link_mentioned(feats, model, p.output("mentions"))
    lines = scored._jdf.queryExecution().executedPlan().toString().splitlines()
    at = next(i for i, line in enumerate(lines) if "MapInPandas" in line)
    depth = lines[at].index("MapInPandas")
    below = []
    for line in lines[at + 1 :]:
        if len(line) - len(line.lstrip(" :+-")) <= depth:
            break
        below.append(line)
    assert any("LeftSemi" in line for line in below), "\n".join(lines)


def test_build_kg_pipeline_runs_no_spark_job(spark, tmp_path, onto, small_world):
    """Building the pipeline only plans: there is one gated plan at
    every mention density, so no build-time sample or count runs a
    job, and the linked stage waits for mentions. An input that
    already holds a shuffle (`.repartition(2)`) is not executed to
    count its partitions either."""
    docs = spark.createDataFrame(small_world["documents"])
    feats = spark.createDataFrame(small_world["features"])
    sc = spark.sparkContext
    for n_parts in (None, 2):
        d, f = (docs, feats) if n_parts is None else (
            docs.repartition(n_parts), feats.repartition(n_parts)
        )
        group = f"build_kg_pipeline_no_job_{n_parts}"
        sc.setJobGroup(group, "build only")
        try:
            p = build_kg_pipeline(
                spark,
                str(tmp_path / f"build{n_parts}"),
                d,
                f,
                onto,
                small_world["weights"],
                small_world["thresholds"],
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], n_parts
        assert [d for n, _, _, d in p.stages if n == "linked"] == [["mentions"]]


def test_pipeline_plans_mentions_and_rewrite_without_jobs(
    spark, tmp_path, onto, small_world
):
    """The mentions and triples stages plan from the driver-held alias
    dictionary and canonical map: a pipeline run submits no job before
    the mentions write (no count or collect of the dictionary) and none
    for the rewrite's canonical slice. Each stage's plan is built in its
    own job group, on the stage's thread."""
    p = build_kg_pipeline(
        spark,
        str(tmp_path / "plan_no_job"),
        spark.createDataFrame(small_world["documents"]),
        spark.createDataFrame(small_world["features"]),
        onto,
        small_world["weights"],
        small_world["thresholds"],
    )
    sc = spark.sparkContext
    groups = {}

    def planned_in_group(name, fn):
        def plan(ctx):
            groups[name] = f"plan_no_job_{name}"
            sc.setJobGroup(groups[name], f"plan {name}")
            try:
                return fn(ctx)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

        return plan

    p.stages = [
        (n, planned_in_group(n, fn) if n in ("mentions", "triples") else fn, tiny, deps)
        for n, fn, tiny, deps in p.stages
    ]
    results = {r.name: r for r in p.run()}
    assert results["mentions"].rows > 0 and results["triples"].rows > 0
    assert sorted(groups) == ["mentions", "triples"]
    for name, group in groups.items():
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], name


def test_stages_read_outputs_with_written_schema(spark, tmp_path, onto, small_world):
    """Each stage reads its committed inputs with the schema they were
    written with, which equals the schema parquet inference gives."""
    p = build_kg_pipeline(
        spark,
        str(tmp_path / "schema"),
        spark.createDataFrame(small_world["documents"]),
        spark.createDataFrame(small_world["features"]),
        onto,
        small_world["weights"],
        small_world["thresholds"],
    )
    seen: dict = {}

    def probe(ctx):
        seen.update({k: v.schema for k, v in ctx.items()})
        return pd.DataFrame({"n": [len(ctx)]})

    p.add_stage("probe", probe, tiny=True)  # deps=None: every stage
    p.run()
    assert set(seen) == {name for name, _, _, _ in p.stages} - {"probe"}
    tiny = {name for name, _, is_tiny, _ in p.stages if is_tiny} - {"probe"}
    assert tiny == {"ontology", "closure", "onto_triples", "canonical_map"}
    for name, schema in seen.items():
        data_dir = os.path.join(p.workdir, name, "data")
        assert schema == spark.read.parquet(data_dir).schema, name


def test_tiny_stages_run_no_spark_job(spark, tmp_path):
    """A fresh run of driver-resident stages over in-memory inputs runs
    no Spark job: not for the writes, and no schema-inference job when
    each output is read back."""
    from cello_spark.plans.pipeline import Pipeline

    p = Pipeline(spark, str(tmp_path / "tiny"))
    p.add_stage(
        "terms",
        lambda ctx: pd.DataFrame({"id": ["A:1", "A:2"], "depth": [0, 1]}),
        tiny=True,
    )
    p.add_stage(
        "pairs",
        lambda ctx: pd.DataFrame(
            {"a": ["A:1"], "b": ["A:2"], "w": [0.5], "path": [["A:1", "A:2"]]}
        ),
        tiny=True,
    )
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    results = p.run()
    assert set(tracker.getJobIdsForGroup(None)) == before
    assert [(r.name, r.rows, r.skipped) for r in results] == [
        ("terms", 2, False), ("pairs", 1, False)
    ]
    assert p.output("pairs").collect()[0]["path"] == ["A:1", "A:2"]


def test_tiny_stage_null_columns_read_as_inferred(spark, tmp_path):
    """An all-None or empty object column is Arrow's null type: its
    stage output reads back with the type parquet inference gives, as
    every other column does."""
    from cello_spark.plans.pipeline import Pipeline

    p = Pipeline(spark, str(tmp_path / "nulls"))
    p.add_stage(
        "nulls",
        lambda ctx: pd.DataFrame({"a": [None, None], "l": [[], []], "n": [1, 2]}),
        tiny=True,
    )
    p.add_stage(
        "empty",
        lambda ctx: pd.DataFrame({"a": pd.Series([], dtype=object)}),
        tiny=True,
    )
    seen: dict = {}
    p.add_stage(
        "probe",
        lambda ctx: seen.update({k: v.schema for k, v in ctx.items()})
        or pd.DataFrame({"n": [1]}),
        tiny=True,
    )
    p.run()
    for name in ("nulls", "empty"):
        data_dir = os.path.join(p.workdir, name, "data")
        assert seen[name] == spark.read.parquet(data_dir).schema, name


def test_triples_identical_across_parallelism(spark, tmp_path, onto, small_world):
    """North-rule cross-cluster-size equality: the SAME input must emit
    the IDENTICAL triple set regardless of partitioning or shuffle
    parallelism (the sandbox stand-in for N vs 4N executors). Runs the
    full pipeline with deliberately mismatched input partition counts
    and spark.sql.shuffle.partitions and compares exact triple sets."""
    base_docs = spark.createDataFrame(small_world["documents"])
    base_feats = spark.createDataFrame(small_world["features"])
    prev = spark.conf.get("spark.sql.shuffle.partitions")

    def run_with(n_parts: int, shuffle_parts: str, tag: str):
        spark.conf.set("spark.sql.shuffle.partitions", shuffle_parts)
        try:
            p = build_kg_pipeline(
                spark,
                str(tmp_path / tag),
                base_docs.repartition(n_parts),
                base_feats.repartition(n_parts),
                onto,
                small_world["weights"],
                small_world["thresholds"],
            )
            p.run()
            return sorted(tuple(r) for r in p.output("triples").collect())
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    narrow = run_with(2, "3", "par_narrow")
    wide = run_with(17, "29", "par_wide")
    assert narrow == wide
    assert len(narrow) > 0


def test_media_triples_stage_opt_in(spark, tmp_path, onto, small_world, pipe):
    """include_media_triples=True adds an independent canonical-
    rewritten media-grounding output; the headline triples artifact is
    byte-identical with the flag on."""
    from cello_spark.operators.multimodal import media_triples
    from cello_spark.plans.kg import (
        canonical_rewrite_triples,
        merged_term_set,
        prepare_ontology,
    )

    docs = spark.createDataFrame(small_world["documents"])
    feats = spark.createDataFrame(small_world["features"])
    p = build_kg_pipeline(
        spark,
        str(tmp_path / "kg_media"),
        docs,
        feats,
        onto,
        small_world["weights"],
        small_world["thresholds"],
        include_media_triples=True,
    )
    results = {r.name: r for r in p.run()}
    assert "media_triples" in results

    got_media = {
        (r.subj, r.pred, r.obj)
        for r in p.output("media_triples").collect()
    }
    # parity with the operator composed directly
    prep = prepare_ontology(onto)
    raw = media_triples(docs, spark.createDataFrame(prep["alias_dict"]))
    want_media = {
        (r.subj, r.pred, r.obj)
        for r in canonical_rewrite_triples(
            raw,
            spark.createDataFrame(prep["canonical_map"]),
            merged_term_set(prep["canonical_map"], ("CS:",)),
            ("CS:",),
        ).collect()
    }
    assert got_media == want_media
    assert {t[1] for t in got_media} == {"has_media", "depicts"}
    n_media_spans = sum(
        1
        for spans in small_world["documents"].spans
        for s in spans
        if s["kind"] != "text"
    )
    assert (
        len([t for t in got_media if t[1] == "has_media"]) == n_media_spans
    )

    # headline triples unchanged by the flag (vs the module pipe)
    base = {(r.subj, r.pred, r.obj) for r in pipe.output("triples").collect()}
    with_flag = {(r.subj, r.pred, r.obj) for r in p.output("triples").collect()}
    assert base == with_flag


def test_failed_stage_raises_not_swallowed(spark, tmp_path):
    """A stage that raises must surface from run() — the DAG scheduler
    previously cleared `pending` on failure and exited its drain loop
    without ever reaching the raise."""
    from cello_spark.plans.pipeline import Pipeline

    pipe = Pipeline(spark, str(tmp_path / "boom"))
    pipe.add_stage(
        "ok",
        lambda ctx: spark.range(3).select(F.col("id").alias("v")),
        deps=[],
    )

    def explode(ctx):
        raise RuntimeError("stage blew up")

    pipe.add_stage("bad", explode, deps=[])
    pipe.add_stage(
        "downstream",
        lambda ctx: ctx["bad"].select("v"),
        deps=["bad"],
    )
    with pytest.raises(RuntimeError, match="stage blew up"):
        pipe.run()
    # the independent stage may or may not have completed before the
    # failure surfaced, but the failed stage must not be in the manifest
    import json as _json

    mpath = tmp_path / "boom" / "manifest.json"
    stages = (
        _json.loads(mpath.read_text())["stages"] if mpath.exists() else {}
    )
    assert "bad" not in stages
    assert "downstream" not in stages


def test_compact_table_small_files_and_sorted_pruning(spark, tmp_path):
    """Compaction collapses a many-tiny-file table into few files with
    identical data; sort_cols yields disjoint per-file ranges (the
    row-group min/max pruning precondition)."""
    import pyarrow.parquet as pq
    import os

    from cello_spark.sources.sinks import compact_table, table_file_stats

    path = str(tmp_path / "frag")
    df = spark.range(10_000).selectExpr(
        "id", "cast(id % 97 as long) as k", "md5(cast(id as string)) as payload"
    )
    df.repartition(64).write.parquet(path)
    before = table_file_stats(path)
    assert before["n_files"] >= 32

    stats = compact_table(
        spark, path, target_file_bytes=1 << 30, sort_cols=("id",)
    )
    after = table_file_stats(path)
    assert after["n_files"] < before["n_files"]
    assert stats["after"]["n_files"] == after["n_files"]

    back = spark.read.parquet(path)
    assert back.count() == 10_000
    assert back.selectExpr("sum(id)").collect()[0][0] == 10_000 * 9_999 // 2

    # per-file id ranges must be disjoint (global range clustering)
    ranges = []
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if fn.endswith(".parquet"):
                t = pq.read_table(os.path.join(root, fn), columns=["id"])
                if t.num_rows:
                    ids = t.column("id").to_pylist()
                    ranges.append((min(ids), max(ids)))
    ranges.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, "file id ranges overlap — not range-clustered"


def test_compact_table_partitioned_does_not_fragment(spark, tmp_path):
    """partition_by compaction hashes on the partition column — the
    output must have ~1 file per partition value, never
    tasks x values."""
    import os

    from cello_spark.sources.sinks import compact_table, table_file_stats

    path = str(tmp_path / "part_frag")
    df = spark.range(5_000).selectExpr(
        "id", "cast(id % 5 as string) as k", "md5(cast(id as string)) as v"
    )
    df.repartition(40).write.partitionBy("k").parquet(path)
    before = table_file_stats(path)
    compact_table(
        spark, path, target_file_bytes=1 << 30, partition_by="k",
        sort_cols=("id",),
    )
    after = table_file_stats(path)
    assert after["n_files"] < before["n_files"]
    # target was ONE file total -> at most one file per partition dir
    for d in os.listdir(path):
        if d.startswith("k="):
            files = [
                f for f in os.listdir(os.path.join(path, d))
                if f.endswith(".parquet")
            ]
            assert len(files) <= 1, (d, files)
    back = spark.read.parquet(path)
    assert back.count() == 5_000


def test_compact_table_recovers_from_crash_debris(spark, tmp_path):
    """A stranded .__compact_old from a crashed run is restored when
    the live path is missing, and stale debris never blocks a rerun."""
    import os
    import shutil

    from cello_spark.sources.sinks import compact_table

    path = str(tmp_path / "crashy")
    spark.range(100).write.parquet(path)
    # simulate a crash between the two renames: live tree stranded
    os.rename(path, path + ".__compact_old")
    compact_table(spark, path, target_file_bytes=1 << 30)
    assert spark.read.parquet(path).count() == 100
    # stale old/tmp debris alongside a live table must not block
    os.makedirs(path + ".__compact_old", exist_ok=True)
    os.makedirs(path + ".__compact_tmp", exist_ok=True)
    compact_table(spark, path, target_file_bytes=1 << 30)
    assert spark.read.parquet(path).count() == 100
    assert not os.path.exists(path + ".__compact_old")


def _two_synthetic_spaces():
    """Two small synthetic id spaces; file 2 (YY) carries xrefs into
    file 1 (XX). Every fixture document mentions a term, and every
    document is checked."""
    from cello_spark.sources.fixtures import (
        make_documents,
        make_model_weights,
        make_thresholds,
        synthetic_obo_text,
    )
    from cello_spark.sources.ontology import ontology_from_obos

    f1 = synthetic_obo_text(id_space="XX", n_terms=40, seed=3)
    f2 = synthetic_obo_text(
        id_space="YY",
        n_terms=30,
        seed=4,
        xref_targets=[f"XX:{i:07d}" for i in range(20, 26)],
    )
    onto = ontology_from_obos([f1, f2])
    docs, feats, _ = make_documents(onto, n_docs=80)
    return {
        "onto": onto, "docs": docs, "feats": feats,
        "weights": make_model_weights(onto),
        "thresholds": make_thresholds(onto),
        "mentioned": set(docs.doc_id), "checked": feats,
        "merge": ("YY:", "XX:"),
    }


def _cl_scale_spaces(seed=1):
    """The generated Cell-Ontology-scale OBO (6.6k terms, shared-xref
    merges inside CL, 5% obsolete) with 300 CL labels, plus a ZZ space
    with 40 labels whose xrefs land on 20 non-label CL terms. 400
    documents, half of them mentioning a label lineage; a seeded
    subset of 160 is checked against the oracle."""
    from perfbench.inputs import cl_obo_text, kg_documents

    from cello_spark.sources.fixtures import (
        make_model_weights,
        make_thresholds,
        synthetic_obo_text,
    )
    from cello_spark.sources.ontology import ontology_from_obos

    cl_text = cl_obo_text(seed)
    cl_ids = sorted(ontology_from_obos([cl_text]).labels)  # live CL terms
    zz_text = synthetic_obo_text(id_space="ZZ", xref_targets=cl_ids[300:320])
    zz = sorted(
        t for t in ontology_from_obos([zz_text]).labels if t.startswith("ZZ:")
    )
    onto = ontology_from_obos([cl_text, zz_text], labels=cl_ids[:300] + zz[:40])
    weights = make_model_weights(onto, seed=seed)
    docs, feats, mentioned = kg_documents(onto, weights, seed, 400, mention_frac=0.5)
    return {
        "onto": onto, "docs": docs, "feats": feats, "weights": weights,
        "thresholds": make_thresholds(onto, seed=seed),
        "mentioned": set(mentioned),
        "checked": feats.sample(n=160, random_state=seed),
        "merge": ("ZZ:", "CL:"),
    }


@pytest.mark.parametrize(
    "world", [_two_synthetic_spaces, _cl_scale_spaces], ids=["xx_yy", "cl_scale"]
)
def test_pipeline_multi_prefix_cross_space_canonicalization(
    spark, tmp_path, world
):
    """End-to-end multi-project pipeline path: a second id space carries
    cross-space xrefs into the first, with the id spaces derived from
    the merged ontology (no term_prefix passed). The canonical rewrite
    must fire across spaces, no merged term may survive in the triple
    table, and the triples of the checked documents must equal the
    oracle's golden triples after the oracle's own canonical rewrite
    (components over alias/xref pairs, min prefixed member canonical;
    documents whose labels hinge on a float near-tie are left out)."""
    from perfbench import oracles

    from cello_spark.plans.kg import prepare_ontology

    w = world()
    onto = w["onto"]
    pipe = build_kg_pipeline(
        spark,
        str(tmp_path / "mp"),
        spark.createDataFrame(w["docs"]),
        spark.createDataFrame(w["feats"]),
        onto,
        w["weights"],
        w["thresholds"],
    )
    pipe.run()
    got = pipe.output("triples").toPandas()

    # the id spaces come from the ontology, the canonical map merges
    # across them, and no merged term survives in the triple table
    prep = prepare_ontology(onto)
    prefixes = tuple(sorted(w["merge"]))
    assert prep["term_prefix"] == prefixes
    merged = {
        r.node: r.canonical
        for r in prep["canonical_map"].itertuples(index=False)
        if r.node.startswith(prefixes) and r.node != r.canonical
    }
    src, dst = w["merge"]
    assert any(
        n.startswith(src) and c.startswith(dst) for n, c in merged.items()
    ), "fixture produced no cross-space merges"
    present = set(got.subj) | set(got.obj)
    assert not (set(merged) & present), sorted(set(merged) & present)[:10]

    checked = w["checked"]
    want, ties = oracles.kg_triples(
        onto, checked, w["weights"], w["thresholds"],
        w["mentioned"] & set(checked.doc_id), prefixes,
    )
    assert len(ties) < len(checked) // 4, len(ties)
    errors = oracles.check_triples(got, want, set(checked.doc_id) - ties)
    assert not errors, errors


def test_corrupt_manifest_recomputes_everything(
    spark, tmp_path, onto, small_world
):
    """A torn/corrupt manifest.json (killed mid-os.replace, disk
    glitch) must not crash a resumed run: the pipeline trusts nothing,
    recomputes every stage, and produces the identical triple table
    (plans/pipeline.py _load_manifest recovery branch)."""
    workdir = str(tmp_path / "torn")
    docs = spark.createDataFrame(small_world["documents"])
    feats = spark.createDataFrame(small_world["features"])

    def make():
        return build_kg_pipeline(
            spark, workdir, docs, feats, onto,
            small_world["weights"], small_world["thresholds"],
        )

    r1 = make().run()
    before = sorted(
        map(tuple, spark.read.parquet(
            os.path.join(workdir, "triples", "data")
        ).select("subj", "pred", "obj").collect())
    )
    with open(os.path.join(workdir, "manifest.json"), "w") as f:
        f.write('{"stages": {"ontology": {"status"')  # torn write
    r2 = make().run()
    assert not any(s.skipped for s in r2), [s.name for s in r2 if s.skipped]
    after = sorted(
        map(tuple, spark.read.parquet(
            os.path.join(workdir, "triples", "data")
        ).select("subj", "pred", "obj").collect())
    )
    assert before == after
    # and the re-written manifest is whole again
    with open(os.path.join(workdir, "manifest.json")) as f:
        manifest = json.load(f)
    assert all(
        s["status"] == "complete" for s in manifest["stages"].values()
    )
