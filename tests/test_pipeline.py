"""End-to-end KG pipeline: triple P/R vs oracle (≥0.95 gate), span
invariant, stage-granular resume, lineage metrics."""

import json
import os

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


def test_canonical_rewrite_dedups_only_where_merges_collide(spark):
    """canonical_rewrite_triples must equal rewrite+full-dropDuplicates
    exactly, while shuffling only the merge-affected slice. Exercises a
    synthetic xref merge (CS:B -> CS:A) — absent from the fixture
    ontology, which has no synonym merges."""
    from pyspark.sql import functions as F

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

    # no merges -> pure pass-through: multiplicity preserved (the
    # distinct-input precondition makes that equal to full dedup), and
    # the optimized plan carries no aggregate/exchange for dedup
    got_nomerge = canonical_rewrite_triples(raw, cmap, [], ("CS:",))
    assert got_nomerge.count() == raw.count()
    plan_str = got_nomerge._jdf.queryExecution().optimizedPlan().toString()
    assert "Deduplicate" not in plan_str


def test_gate_plans_produce_identical_triples(
    spark, tmp_path, onto, small_world, monkeypatch
):
    """The adaptive mention gate picks between pre-gating the wide
    features (sparse corpora) and scoring everything + narrow post-join
    (dense corpora). Both plans must emit the identical triple set."""
    from cello_spark.plans import kg as kgmod

    docs = spark.createDataFrame(small_world["documents"])
    feats = spark.createDataFrame(small_world["features"])

    def run_with(threshold: float, tag: str):
        monkeypatch.setattr(kgmod, "GATE_SELECTIVITY", threshold)
        p = build_kg_pipeline(
            spark,
            str(tmp_path / tag),
            docs,
            feats,
            onto,
            small_world["weights"],
            small_world["thresholds"],
        )
        p.run()
        return sorted(tuple(r) for r in p.output("triples").collect())

    dense = run_with(0.0, "dense")    # always score-all + narrow join
    sparse = run_with(1.1, "sparse")  # always pre-gate wide features
    assert dense == sparse
    assert len(dense) > 0


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


def test_pipeline_multi_prefix_cross_space_canonicalization(
    spark, tmp_path
):
    """End-to-end multi-project pipeline path: two synthetic id spaces
    where file 2 carries cross-space xrefs into file 1, with the id
    spaces derived from the merged ontology (no term_prefix passed). The canonical rewrite must fire across spaces
    — every YY term whose xref lands it in an XX component is
    rewritten to the XX id in the triple table — and triples must
    exactly equal the oracle's golden triples after the same rewrite
    (the engine-independent rule: components over alias/xref pairs,
    min prefixed member canonical)."""
    from cello_spark import oracle
    from cello_spark.plans.kg import build_kg_pipeline, prepare_ontology
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
    prefixes = ("XX:", "YY:")
    docs_pdf, feats_pdf, _ = make_documents(onto, n_docs=80)
    weights = make_model_weights(onto)
    thresholds = make_thresholds(onto)
    pipe = build_kg_pipeline(
        spark,
        str(tmp_path / "mp"),
        spark.createDataFrame(docs_pdf),
        spark.createDataFrame(feats_pdf),
        onto,
        weights,
        thresholds,
    )
    pipe.run()
    got = pipe.output("triples").toPandas()

    # the canonical map must contain cross-space merges, and no merged
    # YY source may survive in the triple table
    prep = prepare_ontology(onto)
    assert prep["term_prefix"] == prefixes
    cmap = prep["canonical_map"]
    merges = {
        r.node: r.canonical
        for r in cmap.itertuples(index=False)
        if r.node.startswith("YY:") and r.canonical.startswith("XX:")
    }
    assert merges, "fixture produced no cross-space merges"
    present = set(got.subj) | set(got.obj)
    assert not (set(merges) & present), set(merges) & present

    # exact equality with the rewritten golden triples
    lab_set = set(onto.labels)
    label_edges = [
        (c, p)
        for c, p, r in onto.edges[["src", "dst", "rel"]].itertuples(index=False)
        if r == "is_a" and c in lab_set and p in lab_set
    ]
    probs = oracle.score_probs(feats_pdf, weights)
    rec = oracle.reconcile_all(probs, label_edges)
    bins = oracle.binarize(rec, thresholds, label_edges)
    ms, fb = oracle.select_one_most_specific(
        rec, bins, thresholds, label_edges, qualifier_terms=set()
    )
    live = onto.terms[~onto.terms.is_obsolete.astype(bool)]
    live_edges = onto.edges[
        onto.edges.src.isin(set(live.term_id))
        & onto.edges.dst.isin(set(live.term_id))
    ]
    import pandas as pd

    patched = pd.concat([live_edges, onto.patch_edges]).drop_duplicates()
    want = oracle.emit_triples(patched, ms, fb)
    rw = {
        r.node: r.canonical
        for r in cmap.itertuples(index=False)
        if r.node.startswith(prefixes) and r.node != r.canonical
    }
    want = want.assign(
        subj=want.subj.map(lambda s: rw.get(s, s)),
        obj=want.obj.map(lambda s: rw.get(s, s)),
    ).drop_duplicates()
    g = {tuple(r) for r in got[["subj", "pred", "obj"]].itertuples(index=False)}
    w = {tuple(r) for r in want[["subj", "pred", "obj"]].itertuples(index=False)}
    assert g == w, (len(g - w), len(w - g), sorted(g - w)[:5], sorted(w - g)[:5])


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
