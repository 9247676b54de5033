"""Structured-Streaming incremental ingest for the KG pipeline.

The reference has no streaming path (SURVEY §2.12); the batch pipeline
covers its semantics. This module is the incremental-ingest extension a
production deployment needs: new document files landing in a table
directory are picked up exactly-once (file-source checkpointing),
mention detection runs as the SAME stateless operator used in batch
(operators/mentions.detect_mentions — streaming reuses the batch plan,
nothing is reimplemented), and outputs append to the mentions table.

Entry points, all Trigger.AvailableNow catch-up runs (process whatever
files are new, then stop — the cron/airflow-style micro-batch; with
the stage-level manifest in plans/pipeline.py this gives file-level
incremental resume on the ingest side):
- `ingest_available_now` : new documents → appended mention rows.
- `run_incremental_kg`   : new documents → canonical typing triples,
  the batch pipeline's per-document body per micro-batch;
  `incremental_triples` reads the resulting triple table.
Stream operators for callers that run their own query:
`mention_rates` (watermarked per-term windows),
`stateful_mention_totals` (applyInPandasWithState running totals) and
`session_windows` (native session_window sessionization).

The per-row span-sequence invariant holds by construction: documents
are never mutated — mentions are an additive side table keyed by
(doc_id, span_idx).
"""

from __future__ import annotations

from py4j.java_gateway import is_instance_of
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession, functions as F

from cello_spark.operators.mentions import detect_mentions

DOCUMENT_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


def _dir_has_data_files(spark: SparkSession, path: str) -> bool:
    """True when `path` holds data a batch `spark.read.parquet(path)`
    could infer a schema FROM — the probe must agree with that reader,
    because a True here routes setup into it. That means: a non-empty,
    non-hidden file at the top level, or one reached exclusively
    through Hive-partition segments (`key=value/` — the only subdirs
    batch parquet reads traverse). Files under plain subdirs or
    metadata dirs (`_spark_metadata/0`, `batch-0/part.parquet`) do NOT
    count: the old exception-driven fallback treated those dirs as
    schema-less too, and counting them would turn the graceful
    DOCUMENT_SCHEMA bootstrap into a setup crash. Hadoop FileSystem
    API, so the same check works on local/HDFS/object-store paths;
    bounded by returning at the FIRST qualifying file. A missing dir
    (or one removed while it is listed) has no data: no exists()
    pre-check, which would race with that removal."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    try:
        root = fs.getFileStatus(jpath).getPath().toString().rstrip("/")
        it = fs.listFiles(jpath, True)
        while it.hasNext():
            f = it.next()
            if f.getLen() == 0:
                continue
            rel = f.getPath().toString()[len(root) :].lstrip("/")
            segs = rel.split("/")
            name_ok = not segs[-1].startswith(("_", "."))
            dirs_ok = all(
                "=" in seg and not seg.startswith(("_", "."))
                for seg in segs[:-1]
            )
            if name_ok and dirs_ok:
                return True
    except Py4JJavaError as e:
        if is_instance_of(
            spark.sparkContext._gateway,
            e.java_exception,
            "java.io.FileNotFoundException",
        ):
            return False
        raise
    return False


def stream_documents(
    spark: SparkSession,
    input_dir: str,
    schema: str | None = None,
    max_files_per_trigger: int = 64,
) -> DataFrame:
    """Streaming source over a documents directory (parquet files
    appended by an upstream writer). maxFilesPerTrigger bounds
    micro-batch size so executor memory is stable regardless of how
    many files arrive between triggers.

    `schema=None` takes the physical schema from the files already
    present (streams need an explicit schema; the logical contract is
    DOCUMENT_SCHEMA, but e.g. the offset column may be materialized as
    int32 or int64 depending on the writer). An EMPTY (or not yet
    created) ingest directory has nothing to infer from — fall back to
    DOCUMENT_SCHEMA so a stream can start before the first file lands
    instead of crashing with 'Unable to infer schema'. The empty check
    is a Hadoop FileSystem listing (works for any fs:// the cluster
    mounts), not exception-message parsing — any failure on a
    NON-empty directory (corrupt footer, permissions) surfaces at
    setup instead of being deferred into the running stream with a
    guessed schema."""
    if schema is None:
        if _dir_has_data_files(spark, input_dir):
            schema = spark.read.parquet(input_dir).schema
        else:
            schema = DOCUMENT_SCHEMA
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def ingest_available_now(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    alias_dict: DataFrame,
    timeout_sec: int = 300,
    schema: str | None = None,
) -> None:
    """Process all files not yet recorded in the checkpoint, append the
    detected mentions to `output_dir`, then stop (Trigger.AvailableNow).
    Re-invoking after new files land processes ONLY the new files —
    exactly-once ingest via the file-source + sink commit logs.
    `schema` overrides inference (see stream_documents); an empty
    input_dir starts cleanly under DOCUMENT_SCHEMA either way."""
    docs = stream_documents(spark, input_dir, schema=schema)
    # stateless (explode + broadcast joins): no watermark or state; no
    # dedup, so mentions are at-least-once per (span, term)
    mentions = detect_mentions(docs, alias_dict, distinct=False)
    q = (
        mentions.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    if q.isActive:  # pragma: no cover - defensive stop on timeout
        q.stop()
        raise TimeoutError(f"ingest did not finish within {timeout_sec}s")


def mention_rates(
    mentions_stream: DataFrame,
    event_time_col: str = "ingest_ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked tumbling-window per-term mention counts for
    monitoring dashboards. Late rows beyond the watermark are dropped
    (standard streaming-agg semantics)."""
    with_ts = mentions_stream.withColumn(
        event_time_col,
        F.coalesce(F.col(event_time_col), F.current_timestamp())
        if event_time_col in mentions_stream.columns
        else F.current_timestamp(),
    )
    return (
        with_ts.withWatermark(event_time_col, watermark)
        .groupBy(F.window(event_time_col, window), "term_id")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
    )


def stateful_mention_totals(mentions_stream: DataFrame) -> DataFrame:
    """Running per-term mention totals as a CUSTOM stateful operator
    (`applyInPandasWithState`), the escape hatch for stateful logic a
    built-in streaming aggregation can't express (here the payload is
    a simple counter so the test can verify it exactly against the
    batch engine, but the state tuple is the extension point for e.g.
    per-term top-k docs or decayed rates).

    Semantics: emits (term_id, n_mentions, batch_delta) for every term
    seen in a micro-batch, where n_mentions is the running total
    across ALL batches — persisted in the state store, so totals
    survive query restarts from the same checkpoint. Arrow-batched
    per group (no per-row Python), state is one bigint per term.
    Output mode must be "update"; pair with foreachBatch or an
    update-capable sink."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdf_iter, state):  # pragma: no cover - runs on executors
        import pandas as pd

        delta = 0
        for pdf in pdf_iter:
            delta += len(pdf)
        total = (state.get[0] if state.exists else 0) + delta
        state.update((total,))
        yield pd.DataFrame(
            {
                "term_id": [key[0]],
                "n_mentions": [total],
                "batch_delta": [delta],
            }
        )

    return mentions_stream.groupBy("term_id").applyInPandasWithState(
        update,
        outputStructType="term_id string, n_mentions bigint, batch_delta bigint",
        stateStructType="n bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_incremental_kg(
    spark: SparkSession,
    input_dir: str,
    workdir: str,
    onto,
    weights_pdf,
    thresholds_pdf,
    features_path: str,
    timeout_sec: int = 600,
    max_files_per_trigger: int = 64,
    schema: str | None = None,
) -> None:
    """End-to-end INCREMENTAL KG construction: new document files →
    mentions → linking → canonical typing triples, one micro-batch at a
    time (Trigger.AvailableNow; re-invoke after new files land and only
    they are processed).

    Each micro-batch runs the batch pipeline's per-document body
    (plans/kg.py link_mentioned → document_triples), with the same id
    spaces and merged terms prepare_ontology derives from `onto`. Only
    the mention gate's join hint differs: a micro-batch's mentioned set
    is dict-sized, so it is broadcast (kg.MICRO_BATCH_GATE) where the
    batch pipeline shuffle-hashes its corpus-sized one.

    Equivalence to the batch pipeline is exact, not approximate,
    because every per-document stage is doc-local and the corpus-global
    pieces factor cleanly:

    - mentions / linking / typing triples are per-doc operators, and
      the file source never splits a file across batches, so the union
      of per-batch outputs over disjoint doc sets IS the whole-corpus
      output;
    - the canonical rewrite is a per-row broadcast map whose only
      cross-row effect is deduplication of merge-affected rows; typing
      triples have doc-id subjects (disjoint across batches) and
      within-doc-distinct labels, so duplicates can only arise WITHIN
      a batch — the per-batch dedup equals the global one;
    - the ontology-layer triples are corpus-independent and are
      (re)written once per invocation, idempotently.

    `tests/test_streaming.py::test_incremental_kg_matches_batch` pins
    the triple-set equality against build_kg_pipeline on the same
    corpus, across multiple micro-batches and a second catch-up run.

    Exactly-once: the file-source checkpoint tracks consumed files, and
    each micro-batch OVERWRITES its own `typing/batch-<id>` directory —
    a crash-replayed batch (same deterministic batch_id + file set)
    rewrites identical content instead of appending duplicates.

    Features live at `features_path` (a parquet table keyed by doc_id)
    and are re-read inside foreachBatch from the micro-batch's own
    session — the stream-static join shape, and the production layout
    where the feature table is maintained by a separate upstream job.
    """
    import os

    from cello_spark.plans import kg

    prep = kg.prepare_ontology(onto)
    model = kg.make_linking_model(onto, weights_pdf, thresholds_pdf)

    # ontology-layer triples: corpus-independent, written once per
    # invocation (idempotent overwrite), already canonically rewritten
    onto_tr = kg.canonical_rewrite_triples(
        spark.createDataFrame(prep["onto_triples"]),
        prep["canonical_map"],
        prep["merged_terms"],
        prep["term_prefix"],
    )
    onto_tr.write.mode("overwrite").parquet(os.path.join(workdir, "onto_triples"))

    typing_root = os.path.join(workdir, "typing")

    def _process(batch_docs: DataFrame, batch_id: int) -> None:
        # foreachBatch hands a DataFrame bound to a per-query session
        # clone: detect_mentions and the rewrite build their dict-sized
        # inputs from the driver-held prep (no Spark job) through the
        # batch's session, and the feature table is read through THAT
        # session, so no plan mixes sessions
        sess = batch_docs.sparkSession
        mentions = detect_mentions(batch_docs, prep["alias_dict"], distinct=False)
        # the batch plan's gate, broadcast: a micro-batch's mentioned
        # set is dict-sized
        linked = kg.link_mentioned(
            sess.read.parquet(features_path), model, mentions, kg.MICRO_BATCH_GATE
        )
        triples = kg.document_triples(linked, prep)
        triples.write.mode("overwrite").parquet(
            os.path.join(typing_root, f"batch-{batch_id:09d}")
        )

    docs = stream_documents(
        spark,
        input_dir,
        schema=schema,
        max_files_per_trigger=max_files_per_trigger,
    )
    q = (
        docs.writeStream.foreachBatch(_process)
        .option("checkpointLocation", os.path.join(workdir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    if q.isActive:  # pragma: no cover - defensive stop on timeout
        q.stop()
        raise TimeoutError(f"incremental kg did not finish within {timeout_sec}s")


def incremental_triples(spark: SparkSession, workdir: str) -> DataFrame:
    """Assemble the current triple table from an incremental workdir:
    ontology-layer triples ∪ all micro-batch typing outputs. Equal to
    the batch pipeline's `triples` stage output over the same corpus
    (see run_incremental_kg). Empty-corpus safe: with no typing batches
    yet, returns just the ontology layer."""
    from pyspark.errors import AnalysisException

    onto_tr = spark.read.parquet(workdir.rstrip("/") + "/onto_triples")
    try:
        # Hadoop-FS glob (works on HDFS/S3, not just local disk); the
        # per-batch _SUCCESS/parquet layout makes each dir atomic
        typing = spark.read.parquet(workdir.rstrip("/") + "/typing/batch-*")
    except AnalysisException:  # no micro-batch has committed yet
        return onto_tr
    return onto_tr.unionByName(typing.select("subj", "pred", "obj"))


def session_windows(
    events: DataFrame,
    key_col: str = "user_id",
    event_time_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming sessionization with Spark's native session_window —
    the streaming face of the batch q_sessionize query (gap-based
    sessions via lag/cumsum windows): events for a key closer than
    `gap` apart merge into one growing session; a session finalizes
    (append-mode emit) once the watermark passes its end + gap.

    Built-in-first by design: session_window state is managed by the
    streaming aggregation operator JVM-side (merging windows in the
    state store, watermark-driven eviction) — no custom
    applyInPandasWithState needed for the canonical case; the custom
    path (stateful_mention_totals) remains the escape hatch for
    payloads the built-in can't express.

    Output: (key, session_start, session_end, n_events) per finalized
    session."""
    return (
        events.withWatermark(event_time_col, watermark)
        .groupBy(
            F.session_window(F.col(event_time_col), gap).alias("w"),
            F.col(key_col).alias("key"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "key",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
