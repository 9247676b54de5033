"""Incremental streaming ingest: exactly-once file processing across
restarts, batch-operator parity, span-sequence invariant."""

import os

import pytest

from pyspark.sql import functions as F

from cello_spark.operators.mentions import detect_mentions
from cello_spark.plans.kg import prepare_ontology
from cello_spark.streaming.ingest import ingest_available_now


@pytest.fixture(scope="module")
def world(spark, onto):
    from cello_spark.sources.fixtures import make_documents

    prep = prepare_ontology(onto)
    alias_df = spark.createDataFrame(prep["alias_dict"])
    batch1, _, _ = make_documents(onto, n_docs=40, seed=11)
    batch2, _, _ = make_documents(onto, n_docs=30, seed=12, id_offset=1000)
    return alias_df, batch1, batch2


def test_incremental_ingest_exactly_once(spark, world, tmp_path):
    alias_df, batch1, batch2 = world
    in_dir = str(tmp_path / "docs")
    out_dir = str(tmp_path / "mentions")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(batch1).write.mode("append").parquet(in_dir)
    ingest_available_now(spark, in_dir, out_dir, ckpt, alias_df)
    n1 = spark.read.parquet(out_dir).count()
    assert n1 > 0

    # batch parity (modulo the streaming path's skipped dedup)
    want1 = detect_mentions(
        spark.read.parquet(in_dir), alias_df, distinct=False
    ).count()
    assert n1 == want1

    # second invocation with NO new files: nothing re-processed
    ingest_available_now(spark, in_dir, out_dir, ckpt, alias_df)
    assert spark.read.parquet(out_dir).count() == n1

    # new files land → only they are processed (append, not recompute)
    spark.createDataFrame(batch2).write.mode("append").parquet(in_dir)
    ingest_available_now(spark, in_dir, out_dir, ckpt, alias_df)
    n2 = spark.read.parquet(out_dir).count()
    want_all = detect_mentions(
        spark.read.parquet(in_dir), alias_df, distinct=False
    ).count()
    assert n2 == want_all > n1

    # mentions from both batches present, keyed by doc_id
    docs_seen = {
        r["doc_id"]
        for r in spark.read.parquet(out_dir).select("doc_id").distinct().collect()
    }
    assert any(d < "doc_00001000" for d in docs_seen)  # batch 1
    assert any(d >= "doc_00001000" for d in docs_seen)  # batch 2


def test_incremental_kg_matches_batch(spark, onto, tmp_path):
    """End-to-end incremental KG construction over multiple micro-
    batches and a second catch-up invocation produces EXACTLY the batch
    pipeline's triple set on the same corpus (onto layer + canonically
    rewritten typing triples) — the doc-locality argument in
    run_incremental_kg's docstring, pinned."""
    import pandas as pd

    from cello_spark.plans.kg import build_kg_pipeline
    from cello_spark.sources.fixtures import (
        make_documents,
        make_model_weights,
        make_thresholds,
    )
    from cello_spark.streaming.ingest import incremental_triples, run_incremental_kg

    weights, thresholds = make_model_weights(onto), make_thresholds(onto)
    d1, f1, _ = make_documents(onto, n_docs=60, seed=21)
    d2, f2, _ = make_documents(onto, n_docs=40, seed=22, id_offset=1000)
    d3, f3, _ = make_documents(onto, n_docs=30, seed=23, id_offset=2000)

    in_dir = str(tmp_path / "docs")
    feats_path = str(tmp_path / "features")
    work = str(tmp_path / "inc")
    # the upstream feature table covers the whole corpus
    spark.createDataFrame(pd.concat([f1, f2, f3])).coalesce(2).write.parquet(
        feats_path
    )

    # two file drops → first invocation; max_files_per_trigger=1 forces
    # one micro-batch per file so the doc-locality argument is
    # exercised across REAL batch boundaries, not one catch-all batch
    spark.createDataFrame(d1).coalesce(1).write.mode("append").parquet(in_dir)
    spark.createDataFrame(d2).coalesce(1).write.mode("append").parquet(in_dir)
    run_incremental_kg(
        spark, in_dir, work, onto, weights, thresholds, feats_path,
        max_files_per_trigger=1,
    )
    mid = incremental_triples(spark, work).count()
    assert mid > 0

    # a third drop lands → second catch-up run processes ONLY it
    spark.createDataFrame(d3).coalesce(1).write.mode("append").parquet(in_dir)
    run_incremental_kg(
        spark, in_dir, work, onto, weights, thresholds, feats_path,
        max_files_per_trigger=1,
    )
    got = {
        (r.subj, r.pred, r.obj)
        for r in incremental_triples(spark, work).collect()
    }
    assert len(got) > mid

    batch_pipe = build_kg_pipeline(
        spark,
        str(tmp_path / "batch"),
        spark.createDataFrame(pd.concat([d1, d2, d3])),
        spark.read.parquet(feats_path),
        onto,
        weights,
        thresholds,
    )
    batch_pipe.run()
    want = {
        (r.subj, r.pred, r.obj)
        for r in batch_pipe.output("triples").collect()
    }
    assert got == want


def test_streaming_preserves_span_invariant(spark, world, tmp_path):
    """Documents are untouched by ingest: the mentions side table is
    additive; re-reading the input preserves (kind, text, media_ref,
    order) per doc exactly."""
    alias_df, batch1, _ = world
    in_dir = str(tmp_path / "docs2")
    spark.createDataFrame(batch1).write.mode("append").parquet(in_dir)
    ingest_available_now(
        spark, in_dir, str(tmp_path / "m2"), str(tmp_path / "c2"), alias_df
    )
    got = {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]
        ]
        for r in spark.read.parquet(in_dir).collect()
    }
    want = {
        r.doc_id: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r.spans
        ]
        for r in batch1.itertuples(index=False)
    }
    assert got == want


def test_stateful_totals_accumulate_and_survive_restart(spark, world, tmp_path):
    """applyInPandasWithState: running per-term totals accumulate
    across micro-batches within a run (maxFilesPerTrigger=1 forces
    several) AND across query restarts from the same checkpoint."""
    from cello_spark.streaming.ingest import (
        stateful_mention_totals,
        stream_documents,
    )

    alias_df, batch1, batch2 = world
    in_dir = str(tmp_path / "docs")
    ckpt = str(tmp_path / "ckpt_state")

    def run_once():
        totals = {}
        docs = stream_documents(spark, in_dir, max_files_per_trigger=1)
        out = stateful_mention_totals(
            detect_mentions(docs, alias_df, distinct=False)
        )

        def sink(batch_df, batch_id):
            for r in batch_df.collect():
                totals[r["term_id"]] = r["n_mentions"]

        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return totals

    # several parquet files so maxFilesPerTrigger=1 yields multiple
    # micro-batches in the first run
    half = len(batch1) // 2
    spark.createDataFrame(batch1[:half]).write.mode("append").parquet(in_dir)
    spark.createDataFrame(batch1[half:]).write.mode("append").parquet(in_dir)

    got1 = run_once()
    want1 = {
        r["term_id"]: r["cnt"]
        for r in detect_mentions(
            spark.read.parquet(in_dir), alias_df, distinct=False
        )
        .groupBy("term_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert got1 == want1

    # restart from the same checkpoint with new files: totals resume
    # from recovered state, not from zero
    spark.createDataFrame(batch2).write.mode("append").parquet(in_dir)
    got2 = run_once()
    want_all = {
        r["term_id"]: r["cnt"]
        for r in detect_mentions(
            spark.read.parquet(in_dir), alias_df, distinct=False
        )
        .groupBy("term_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    # got2 holds the latest emission per term; terms untouched by the
    # second run keep their run-1 totals
    merged = {**got1, **got2}
    assert merged == want_all
    # at least one term grew across the restart (state actually reused)
    grew = [t for t in got2 if t in got1 and got2[t] > got1[t]]
    assert grew


def test_mention_rates_watermark_finalizes_and_drops_late(spark, tmp_path):
    """Watermarked tumbling-window semantics of mention_rates, driven
    batch-by-batch: a window is emitted exactly once (append mode)
    after the watermark passes its end, and a row arriving later than
    the watermark is DROPPED — the finalized count never includes it."""
    import datetime as dt

    from pyspark.sql import functions as F

    from cello_spark.streaming.ingest import mention_rates

    import os

    src = str(tmp_path / "rates_src")
    os.makedirs(src, exist_ok=True)
    schema = "term_id string, ingest_ts timestamp"
    stream = spark.readStream.schema(schema).parquet(src)
    out = mention_rates(
        stream, event_time_col="ingest_ts", window="1 minute",
        watermark="2 minutes",
    ).select(
        F.col("window.start").alias("ws"), "term_id", "n_mentions"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("rates_wm_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "rates_ckpt"))
        .start()
    )
    T0 = dt.datetime(2026, 1, 1, 10, 0, 0)

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()

    try:
        # two on-time rows in window [10:00, 10:01)
        feed([("t1", T0 + dt.timedelta(seconds=10)),
              ("t1", T0 + dt.timedelta(seconds=20))])
        # advance event time → watermark 10:03 closes the first window
        feed([("t1", T0 + dt.timedelta(minutes=5))])
        # a LATE row for the closed window (10:00:30 < watermark) must
        # be dropped; also push event time further
        feed([("t1", T0 + dt.timedelta(seconds=30)),
              ("t1", T0 + dt.timedelta(minutes=6))])
        # final advance so the 10:05 / 10:06 windows finalize too
        feed([("t1", T0 + dt.timedelta(minutes=9))])
    finally:
        q.stop()
    rows = spark.sql(
        "select ws, term_id, n_mentions from rates_wm_test"
    ).collect()
    by_ws = {}
    for r in rows:
        # append mode emits each finalized window exactly once
        assert (r.ws, r.term_id) not in by_ws, "duplicate window emission"
        by_ws[(r.ws, r.term_id)] = r.n_mentions
    # the closed first window counts the 2 on-time rows, NOT the late one
    assert by_ws[(T0, "t1")] == 2
    assert by_ws[(T0 + dt.timedelta(minutes=5), "t1")] == 1
    assert by_ws[(T0 + dt.timedelta(minutes=6), "t1")] == 1


def test_session_windows_merge_and_finalize(spark, tmp_path):
    """Native session_window streaming sessionization: events within
    the gap merge (even across micro-batches), sessions finalize once
    the watermark passes end + gap, and the finalized counts match the
    batch-side definition."""
    import datetime as dt
    import os

    from cello_spark.streaming.ingest import session_windows

    src = str(tmp_path / "sess_src")
    os.makedirs(src, exist_ok=True)
    schema = "user_id string, ts timestamp"
    stream = spark.readStream.schema(schema).parquet(src)
    out = session_windows(
        stream, key_col="user_id", event_time_col="ts",
        gap="10 minutes", watermark="10 minutes",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .start()
    )
    T0 = dt.datetime(2026, 1, 1, 9, 0, 0)

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()

    m = lambda k: T0 + dt.timedelta(minutes=k)
    try:
        # u1: events at 0 and 5 → one session [0, 15)
        feed([("u1", m(0)), ("u1", m(5))])
        # next batch EXTENDS the same session (8 < 5+10 gap) and opens
        # a separate one for u2
        feed([("u1", m(8)), ("u2", m(9))])
        # event time jumps far ahead → everything above finalizes
        feed([("u1", m(60))])
        feed([("u1", m(120))])
    finally:
        q.stop()
    rows = spark.sql(
        "select key, session_start, session_end, n_events from sessions_test"
    ).collect()
    got = {
        (r.key, r.session_start, r.session_end): r.n_events for r in rows
    }
    # u1's first three events merged across micro-batches into ONE
    # session [9:00, 9:18) with 3 events
    assert got[("u1", m(0), m(18))] == 3
    assert got[("u2", m(9), m(19))] == 1
    assert got[("u1", m(60), m(70))] == 1


def test_ingest_starts_on_empty_directory(spark, world, tmp_path):
    # a fresh (empty) ingest dir must start cleanly under the
    # DOCUMENT_SCHEMA fallback instead of dying on schema inference,
    # and a later catch-up over real files still works from the same
    # checkpoint
    alias_df, batch1, _ = world
    in_dir = str(tmp_path / "docs")
    out_dir = str(tmp_path / "mentions")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    ingest_available_now(spark, in_dir, out_dir, ckpt, alias_df)
    spark.createDataFrame(batch1).write.mode("append").parquet(in_dir)
    ingest_available_now(spark, in_dir, out_dir, ckpt, alias_df)
    got = spark.read.parquet(out_dir)
    want = detect_mentions(
        spark.createDataFrame(batch1), alias_df, distinct=False
    )
    assert got.count() == want.count()


def test_dir_has_data_files_semantics(spark, tmp_path):
    """The empty-ingest-dir probe (schema-fallback gate) must agree
    with what a batch spark.read.parquet can infer a schema FROM:
    missing/empty/marker-only dirs (_SUCCESS, .crc, zero-byte files)
    and files under PLAIN subdirs (which batch parquet reads don't
    traverse) read as 'no data'; a top-level data file or one under a
    Hive-partition (key=value) chain reads as data."""
    from cello_spark.streaming.ingest import _dir_has_data_files

    d = str(tmp_path / "probe")
    assert not _dir_has_data_files(spark, d)  # missing
    os.makedirs(d)
    assert not _dir_has_data_files(spark, d)  # empty
    open(os.path.join(d, "_SUCCESS"), "w").close()
    open(os.path.join(d, ".part-0.crc"), "w").close()
    with open(os.path.join(d, "empty-part.parquet"), "w"):
        pass  # zero bytes
    assert not _dir_has_data_files(spark, d)  # markers only
    # a plain (non-partition) subdir is invisible to the batch reader
    # — counting it would route setup into a read that cannot infer
    sub = os.path.join(d, "batch-0")
    os.makedirs(sub)
    with open(os.path.join(sub, "part-0.parquet"), "w") as f:
        f.write("x")
    assert not _dir_has_data_files(spark, d)
    # ...a Hive-partition chain IS traversed by the batch reader
    part = os.path.join(d, "lang=en")
    os.makedirs(part)
    with open(os.path.join(part, "part-1.parquet"), "w") as f:
        f.write("x")
    assert _dir_has_data_files(spark, d)
    # ...as is a top-level data file
    os.remove(os.path.join(part, "part-1.parquet"))
    os.rmdir(part)
    assert not _dir_has_data_files(spark, d)
    with open(os.path.join(d, "part-2.parquet"), "w") as f:
        f.write("x")
    assert _dir_has_data_files(spark, d)


def test_dir_has_data_files_ignores_metadata_subdirs(spark, tmp_path):
    """Files nested under hidden/metadata directories (_spark_metadata
    commit logs) are not data even though their own names look plain."""
    from cello_spark.streaming.ingest import _dir_has_data_files

    d = str(tmp_path / "probe2")
    meta = os.path.join(d, "_spark_metadata")
    os.makedirs(meta)
    with open(os.path.join(meta, "0"), "w") as f:
        f.write('{"commit": true}')
    assert not _dir_has_data_files(spark, d)
    with open(os.path.join(d, "part-0.parquet"), "w") as f:
        f.write("x")
    assert _dir_has_data_files(spark, d)
