"""The four workloads. Each generates its inputs from the seed, runs
units of work through the program's public functions, checks their
outputs, and — in a traced run — measures its layers one call at a
time. README.md beside this file gives the rationale of each."""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import Observation, functions as F

import inputs
import oracles
from metrics import PLAN_CODES
from cello_spark.operators.dedup import (
    jaccard_pairs_cross,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from cello_spark.operators.linking import link_documents, typing_triples
from cello_spark.operators.mentions import detect_mentions
from cello_spark.plans import kg
from cello_spark.sources.fixtures import (
    QUALIFIER_SUFFIXES,
    make_model_weights,
    make_thresholds,
    term_id,
)
from cello_spark.sources.ontology import ontology_from_obo
from cello_spark.streaming.ingest import incremental_triples, run_incremental_kg

UNIT_TIMEOUT_S = 120.0


@dataclass
class Unit:
    wall_s: float
    docs: int
    triples: int
    errors: list[str] = field(default_factory=list)


def noop(df, checksum_cols: tuple[str, ...] = ()) -> dict:
    """Fully materialize `df` into the noop sink; returns its row count
    (and an order-free checksum of `checksum_cols`) observed during that
    same write."""
    obs = Observation()
    aggs = [F.count(F.lit(1)).alias("rows")]
    if checksum_cols:
        # % keeps the sum inside a long under ANSI overflow checks
        aggs.append(F.sum(F.xxhash64(*checksum_cols) % (1 << 31)).alias("checksum"))
    df.observe(obs, *aggs).write.format("noop").mode("overwrite").save()
    return dict(obs.get)


def attach_progress(span, progress, n_before: int) -> None:
    """Record on a streaming.ingest span the micro-batch time and input
    rows the query listener reported for the invocation it covers."""
    batches = progress.wait_for(n_before + 1)[n_before:]
    span.counts["batch_s"] = sum(b[0] for b in batches) / 1000.0
    span.counts["rows"] = sum(b[1] for b in batches)


def _storage_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


class Workload:
    name = ""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.units_dir = os.path.join(work, "units")
        os.makedirs(self.units_dir, exist_ok=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, "inputs", *parts)

    # generate() → inputs on disk; unit() → one timed unit; verify() →
    # oracle check of the first unit; finish() → end-of-run checks;
    # layers() → per-layer metrics of a traced run
    def finish(self, spark) -> list[str]:
        return []


# ---------------------------------------------------------------------------
# batch KG: kg_dense, kg_sparse_cl
# ---------------------------------------------------------------------------


class BatchKG(Workload):
    term_prefix = kg.TERM_PREFIX
    qualifiers: set[str] = set()
    check_docs = 300
    ref_rows: dict | None = None
    progress = None  # a traced run's streaming query listener
    # layers this workload measures with calls of their own
    layer_probe = True
    layer_stream = True

    def unit(self, spark, tracer=None, keep: bool = False) -> Unit:
        wd = tempfile.mkdtemp(dir=self.units_dir)
        t0 = time.perf_counter()
        if tracer is None:
            pipe = self._build(spark, wd)
            results = pipe.run()
        else:
            with tracer.span("plans.kg.build"):
                pipe = self._build(spark, wd)
            with tracer.span("plans.pipeline.run") as run:
                pipe.stages = [
                    (n, tracer.wrap_stage(f"plans.pipeline.stage.{n}", fn, run.id), tiny, deps)
                    for n, fn, tiny, deps in pipe.stages
                ]
                results = pipe.run()
            walls = {r.name: r for r in results}
            for s in tracer.spans:
                if s.parent == run.id:
                    r = walls[s.name.rsplit(".", 1)[1]]
                    s.end = s.start + 1000.0 * r.wall_sec
                    s.counts["rows"] = r.rows
        wall = time.perf_counter() - t0
        rows = {r.name: r.rows for r in results}
        unit = Unit(wall, self.n_docs, rows["triples"])
        if self.ref_rows is not None and rows != self.ref_rows:
            unit.errors.append(f"stage rows {rows} != verified {self.ref_rows}")
        self.last_pipe, self.last_rows = pipe, rows
        if not keep:
            shutil.rmtree(wd, ignore_errors=True)
        return unit

    def _build(self, spark, wd: str):
        return kg.build_kg_pipeline(
            spark, wd,
            spark.read.parquet(self.docs_path()),
            spark.read.parquet(self.feats_path()),
            self.onto, self.weights, self.thresholds,
            term_prefix=self.term_prefix,
        )

    def verify(self, spark) -> list[str]:
        """Triples of the last unit (run with keep=True) against the
        oracle on a seeded doc subset; the unit's stage row counts become
        the reference every later unit must reproduce."""
        pipe = self.last_pipe
        got = pipe.output("triples").toPandas()
        self.ref_rows = self.last_rows
        feats = pd.read_parquet(self.feats_path())
        subset = feats.sample(n=min(self.check_docs, len(feats)), random_state=self.seed)
        typed = set(subset.doc_id) & self.typed_docs
        want, ties = oracles.kg_triples(
            self.onto, subset, self.weights, self.thresholds, typed,
            (self.term_prefix,), self.qualifiers,
        )
        return oracles.check_triples(got, want, set(subset.doc_id) - ties)

    def layers(self, spark, tracer, pipe) -> dict:
        """Per-layer metrics from one call each of the public functions,
        on the committed outputs of `pipe` (a finished pipeline over
        this workload's inputs). A batch workload also lands all its
        documents as one incremental invocation, so the streaming layer
        is measured where no incremental workload runs."""
        out = {}
        with tracer.span("plans.kg.prepare") as s:
            prep = kg.prepare_ontology(self.onto, term_prefix=self.term_prefix)
            model = kg.make_linking_model(self.onto, self.weights, self.thresholds)
        merged = kg.merged_term_set(prep["canonical_map"], term_prefix=self.term_prefix)
        out.update({
            "plans.kg.prepare.wall_s": s.wall_s,
            "plans.kg.prepare.closure_rows": len(prep["closure"]),
            "plans.kg.prepare.alias_rows": len(prep["alias_dict"]),
            "plans.kg.prepare.merged_terms": len(merged),
        })
        docs = spark.read.parquet(self.docs_path())
        feats = spark.read.parquet(self.feats_path())
        alias_df = spark.createDataFrame(prep["alias_dict"])
        dense = not [d for n, _, _, d in pipe.stages if n == "linked"][0]
        if self.layer_probe:
            with tracer.span("plans.kg.density_probe") as s:
                density = kg.estimate_mention_density(docs, alias_df)
            out.update({
                "plans.kg.density_probe.wall_s": s.wall_s,
                "plans.kg.density_probe.density": density,
                "plans.kg.density_probe.plan": PLAN_CODES["dense" if dense else "sparse"],
            })
        mentioned = pipe.output("mentions").select("doc_id").distinct()
        linked = pipe.output("linked")
        with tracer.span("operators.mentions") as s:
            s.counts.update(noop(detect_mentions(docs, alias_df, distinct=False)))
        n_docs = docs.count()
        out["operators.mentions.per_doc"] = s.counts["rows"] / n_docs
        gated = feats if dense else feats.join(mentioned, "doc_id", "left_semi")
        with tracer.span("operators.linking") as s:
            s.counts.update(noop(link_documents(gated, model, emit_scores=False)))
        useful = typing_triples(linked).select("subj").distinct().count()
        out["operators.linking.useful_ratio"] = useful / max(1, linked.count())
        gated_linked = linked.join(mentioned, "doc_id", "left_semi") if dense else linked
        with tracer.span("plans.kg.rewrite") as s:
            raw = pipe.output("onto_triples").unionByName(typing_triples(gated_linked))
            s.counts.update(noop(kg.canonical_rewrite_triples(
                raw, pipe.output("canonical_map"), merged, term_prefix=self.term_prefix,
            )))
        if self.layer_stream:
            stream = os.path.join(self.work, "stream")
            shutil.copytree(self.docs_path(), os.path.join(stream, "input"))
            n0 = len(self.progress.batches)
            with tracer.span("streaming.ingest") as s:
                run_incremental_kg(
                    spark, os.path.join(stream, "input"), os.path.join(stream, "workdir"),
                    self.onto, self.weights, self.thresholds, self.feats_path(),
                    timeout_sec=int(UNIT_TIMEOUT_S),
                )
            attach_progress(s, self.progress, n0)
        return out

    def docs_path(self) -> str:
        return self.path("docs")

    def feats_path(self) -> str:
        return self.path("feats")

    def _write(self, docs: pd.DataFrame, feats: pd.DataFrame) -> None:
        inputs.write_parquet(docs, self.docs_path(), inputs.INPUT_FILES)
        inputs.write_parquet(feats, self.feats_path(), inputs.INPUT_FILES)


class KGDense(BatchKG):
    name = "kg_dense"
    n_docs = 8_000
    qualifiers = {term_id(s) for s in QUALIFIER_SUFFIXES}

    def generate(self) -> None:
        w = inputs.fixture_world(self.seed, self.n_docs)
        self.onto, self.weights, self.thresholds = w["onto"], w["weights"], w["thresholds"]
        self._write(w["docs"], w["feats"])
        self.typed_docs = set(w["docs"].doc_id)  # every fixture doc mentions a term
        self.ontology_source = {"parse_s": 0.0}


class KGSparseCL(BatchKG):
    name = "kg_sparse_cl"
    n_docs = 20_000
    mention_frac = 0.10
    term_prefix = "CL:"

    def generate(self) -> None:
        text = inputs.cl_obo_text(self.seed)
        t0 = time.perf_counter()
        full = ontology_from_obo(text)
        parse_s = time.perf_counter() - t0
        labels = sorted(full.labels)[: inputs.CL_LABELS]
        self.onto = ontology_from_obo(text, labels=labels)
        self.ontology_source = {"parse_s": parse_s}
        self.weights = make_model_weights(self.onto, seed=self.seed)
        self.thresholds = make_thresholds(self.onto, seed=self.seed)
        docs, feats, mentioned = inputs.kg_documents(
            self.onto, self.weights, self.seed, self.n_docs, self.mention_frac
        )
        self.typed_docs = set(mentioned)
        self._write(docs, feats)


# ---------------------------------------------------------------------------
# kg_incremental
# ---------------------------------------------------------------------------


class KGIncremental(Workload):
    name = "kg_incremental"
    per_round = 500
    max_rounds = 16
    term_prefix = kg.TERM_PREFIX
    qualifiers = {term_id(s) for s in QUALIFIER_SUFFIXES}
    progress = None
    # its units are the streaming spans; run_incremental_kg takes no
    # probe
    layer_probe = False
    layer_stream = False

    def generate(self) -> None:
        w = inputs.fixture_world(self.seed, self.per_round * self.max_rounds)
        self.onto, self.weights, self.thresholds = w["onto"], w["weights"], w["thresholds"]
        self.docs, self.feats = w["docs"], w["feats"]
        self.ontology_source = {"parse_s": 0.0}
        self.input_dir = os.path.join(self.work, "inc", "input")
        self.features_dir = os.path.join(self.work, "inc", "features")
        self.staging = os.path.join(self.work, "inc", "staging")
        self.workdir = os.path.join(self.work, "inc", "workdir")
        for d in (self.input_dir, self.features_dir, self.staging, self.workdir):
            os.makedirs(d, exist_ok=True)
        self.round = 0

    def _slice(self, pdf: pd.DataFrame, r: int) -> pd.DataFrame:
        return pdf.iloc[r * self.per_round : (r + 1) * self.per_round]

    def exhausted(self) -> bool:
        return self.round >= self.max_rounds

    def unit(self, spark, tracer=None, keep: bool = False) -> Unit:
        r = self.round
        self.round += 1
        docs, feats = self._slice(self.docs, r), self._slice(self.feats, r)
        # the feature table is maintained upstream: it holds the round's
        # rows before its documents land
        inputs.write_parquet(feats, os.path.join(self.features_dir, f"round-{r:04d}.parquet"))
        staged = os.path.join(self.staging, f"round-{r:04d}.parquet")
        inputs.write_parquet(docs, staged)
        typing_root = os.path.join(self.workdir, "typing")
        before = set(os.listdir(typing_root)) if os.path.isdir(typing_root) else set()
        n0 = len(self.progress.batches) if tracer is not None else 0

        t0 = time.perf_counter()
        os.replace(staged, os.path.join(self.input_dir, f"round-{r:04d}.parquet"))
        with tracer.span("streaming.ingest") if tracer else nullcontext() as s:
            self._invoke(spark)
        wall = time.perf_counter() - t0

        new = sorted(set(os.listdir(typing_root)) - before)
        got = pd.concat(
            [pq.read_table(os.path.join(typing_root, d)).to_pandas() for d in new]
        ) if new else pd.DataFrame(columns=["subj", "pred", "obj"])
        want, ties = oracles.kg_triples(
            self.onto, feats, self.weights, self.thresholds, set(docs.doc_id),
            (self.term_prefix,), self.qualifiers,
        )
        want = want[want.subj.isin(set(docs.doc_id))]
        unit = Unit(wall, len(docs), len(got))
        got = got[~got.subj.isin(ties)]
        g = set(got[["subj", "pred", "obj"]].itertuples(index=False, name=None))
        w = set(want[["subj", "pred", "obj"]].itertuples(index=False, name=None))
        if len(new) != 1 or g != w:
            unit.errors.append(
                f"round {r}: {len(new)} batch dirs, {len(g - w)} extra / {len(w - g)} missing typing triples"
            )
        if tracer is not None:
            attach_progress(s, self.progress, n0)
        return unit

    def _invoke(self, spark) -> None:
        run_incremental_kg(
            spark, self.input_dir, self.workdir, self.onto, self.weights,
            self.thresholds, self.features_dir, timeout_sec=int(UNIT_TIMEOUT_S),
        )

    def verify(self, spark) -> list[str]:
        return []  # every round is checked against the oracle in unit()

    def finish(self, spark) -> list[str]:
        """incremental_triples over all landed files == the batch
        pipeline's triples over the same files."""
        wd = tempfile.mkdtemp(dir=self.units_dir)
        pipe = kg.build_kg_pipeline(
            spark, wd, spark.read.parquet(self.input_dir),
            spark.read.parquet(self.features_dir), self.onto, self.weights,
            self.thresholds,
        )
        pipe.run()
        self.last_pipe = pipe
        key = lambda df: set(df.select("subj", "pred", "obj").toPandas().itertuples(index=False, name=None))  # noqa: E731
        inc, batch = key(incremental_triples(spark, self.workdir)), key(pipe.output("triples"))
        if inc != batch:
            return [f"incremental vs batch: {len(inc - batch)} extra / {len(batch - inc)} missing"]
        return []

    def docs_path(self) -> str:
        return self.input_dir

    def feats_path(self) -> str:
        return self.features_dir

    layers = BatchKG.layers


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------


class CorpusDedup(Workload):
    name = "corpus_dedup"
    n_docs = 600
    check_ids = 300

    def generate(self) -> None:
        self.corpus = inputs.dedup_corpus(self.seed, self.n_docs)
        inputs.write_parquet(self.corpus, self.path("corpus"), inputs.INPUT_FILES)
        self.ref = None

    def _ops(self, docs):
        """The operator configs of the entry's q_minhash_pairs_fast,
        q_ngram_jaccard and q_cross_dedup."""
        return (
            ("minhash", lambda: minhash_lsh_pairs(docs, threshold=0.2, n=3, num_hashes=64, bands=32)),
            ("ngram", lambda: ngram_jaccard_pairs(docs, threshold=0.2, n=3, max_shingle_df=1000)),
            ("cross", lambda: jaccard_pairs_cross(
                docs.where(F.col("doc_id") % 2 == 1), docs.where(F.col("doc_id") % 2 == 0),
                threshold=0.2, n=3, max_shingle_df=1000,
            )),
        )

    def unit(self, spark, tracer=None, keep: bool = False) -> Unit:
        docs = spark.read.parquet(self.path("corpus"))
        # results stay referenced until the unit ends, so one operator's
        # pinned blocks are not freed while the next one is measured
        seen, alive = {}, {}
        t0 = time.perf_counter()
        for name, op in self._ops(docs):
            before = _storage_bytes(spark) if tracer else 0
            with tracer.span(f"operators.dedup.{name}") if tracer else nullcontext() as s:
                alive[name] = op()
                seen[name] = noop(alive[name], ("a", "b"))
            if tracer:
                s.counts.update(seen[name])
                s.counts["pinned_bytes"] = max(0, _storage_bytes(spark) - before)
        wall = time.perf_counter() - t0
        unit = Unit(wall, self.n_docs, sum(v["rows"] for v in seen.values()))
        if self.ref is not None and seen != self.ref:
            unit.errors.append(f"pair counts/checksums {seen} != verified {self.ref}")
        self.last_seen = seen
        self.kept = alive if keep else {}
        return unit

    def verify(self, spark) -> list[str]:
        texts = dict(zip(self.corpus.doc_id, self.corpus.text))
        sets = oracles.shingle_sets(texts)
        got = {
            n: [(r.a, r.b, r.jaccard) for r in df.select("a", "b", "jaccard").collect()]
            for n, df in self.kept.items()
        }
        self.kept.clear()
        self.ref = self.last_seen
        subset = set(range(self.check_ids))
        capped = oracles.capped(sets, 1000)
        errs = oracles.check_subset_of_exact("minhash", got["minhash"], oracles.capped(sets, 5000), 0.2)
        errs += oracles.check_pairs(
            "ngram", got["ngram"], oracles.pairs_touching(capped, subset, 0.2), subset
        )
        errs += oracles.check_pairs(
            "cross", got["cross"],
            oracles.pairs_touching(capped, subset, 0.2, lambda a, b: a % 2 == 1 and b % 2 == 0),
            subset,
        )
        if not got["ngram"] or not got["cross"]:
            errs.append("corpus produced no near-duplicate pairs")
        return errs


WORKLOADS = {w.name: w for w in (KGDense, KGSparseCL, KGIncremental, CorpusDedup)}
