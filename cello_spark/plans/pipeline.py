"""Stage-granular pipeline runner with manifest-based resume and
per-partition lineage metrics.

Semantics (BASELINE.json: "resumable from checkpoint at stage
granularity, per-partition lineage + metrics"):

- Each stage is a named function (ctx -> DataFrame). Its output is
  materialized to ``<workdir>/<stage>/data`` (parquet), and a manifest
  entry is appended to ``<workdir>/manifest.json`` with row count, wall
  time, and partition-level lineage rows (partition id → row count)
  written to ``<workdir>/<stage>/_lineage``.
- Stages declare their inputs (``deps=[...]``); stages whose deps are
  satisfied run CONCURRENTLY, each submitting its write job from its
  own driver thread — Spark's scheduler backfills idle task slots of
  one job with tasks of the other, so independent stages (e.g. the KG
  pipeline's media_triples beside its mentions -> linked -> triples
  chain) pack each other's ramp-up/tail/straggler idle instead of
  serializing it. ``deps=None`` (the default) means "all earlier
  stages", which degenerates to exactly the old sequential behavior.
  The manifest/resume contract is unchanged: each stage still commits
  atomically and independently.
- The write goes to a temp dir and is atomically renamed; the manifest
  entry is the commit point. On rerun, stages whose manifest entry is
  'complete' and whose data dir exists are LOADED, not recomputed —
  verified by the resume test (kill after stage k → rerun skips ≤ k).
- With Iceberg on the classpath the data dirs become Iceberg tables and
  snapshot ids land in the manifest (sources/sinks.py).
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, NullType, StructType


def _write_lineage(
    sdir: str, name: str, pids: list[int], counts: list[int]
) -> None:
    """Replace ``<sdir>/_lineage`` with one parquet file of
    (partition_id int32, rows int64, stage string) rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    lin_dir = os.path.join(sdir, "_lineage")
    shutil.rmtree(lin_dir, ignore_errors=True)
    os.makedirs(lin_dir, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "partition_id": pa.array(pids, pa.int32()),
                "rows": pa.array(counts, pa.int64()),
                "stage": pa.array([name] * len(pids), pa.string()),
            }
        ),
        os.path.join(lin_dir, "part-00000.parquet"),
    )


def _has_void(dt: DataType) -> bool:
    """True when a NullType occurs anywhere in `dt`."""
    if isinstance(dt, StructType):
        return any(_has_void(f.dataType) for f in dt.fields)
    if isinstance(dt, ArrayType):
        return _has_void(dt.elementType)
    if isinstance(dt, MapType):
        return _has_void(dt.keyType) or _has_void(dt.valueType)
    return isinstance(dt, NullType)


@dataclass
class StageResult:
    name: str
    rows: int
    wall_sec: float
    skipped: bool


@dataclass
class Pipeline:
    spark: SparkSession
    workdir: str
    stages: list[
        tuple[str, Callable[[dict], "DataFrame"], bool, list[str] | None]
    ] = field(default_factory=list)

    def add_stage(
        self,
        name: str,
        fn: Callable[[dict], DataFrame],
        tiny: bool = False,
        deps: list[str] | None = None,
    ) -> "Pipeline":
        """`tiny=True` marks a driver-resident stage (ontology-sized
        data): its function returns a pandas DataFrame which is written
        directly with pyarrow — zero Spark jobs, same on-disk layout,
        same manifest/lineage/resume contract. Each regular stage costs
        several driver↔cluster round trips (write job + lineage
        aggregate + count); for KB-sized stages that overhead dwarfs
        the work and taxes the scaling benchmark's fixed-cost floor.

        `deps` names the stages whose ctx outputs this stage reads.
        None (default) = all stages added before it (sequential). A
        stage runs as soon as its deps complete, concurrently with any
        other ready stage."""
        self.stages.append((name, fn, tiny, deps))
        return self

    # -- manifest ----------------------------------------------------------

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.workdir, "manifest.json")

    def _load_manifest(self) -> dict:
        if os.path.exists(self._manifest_path):
            try:
                with open(self._manifest_path) as f:
                    return json.load(f)
            except (json.JSONDecodeError, OSError):
                # torn/corrupt manifest: safest recovery is to trust
                # nothing and recompute (stage writes are atomic)
                return {"stages": {}}
        return {"stages": {}}

    def _save_manifest(self, manifest: dict) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2, sort_keys=True)
        os.replace(tmp, self._manifest_path)

    # -- execution ---------------------------------------------------------

    def _stage_dir(self, name: str) -> str:
        return os.path.join(self.workdir, name)

    def run(self, ctx: dict | None = None, stop_after: str | None = None) -> list[StageResult]:
        """Run all stages; previously completed stages are loaded from
        their materialized output. `stop_after` aborts the pipeline
        after the named stage completes; with concurrent stages this is
        honored by restricting the run to the list prefix ending at
        that stage (deps always point earlier in the list, so the
        prefix is self-contained). The running `ctx` maps stage name →
        its output DataFrame; stage functions read their inputs from
        it. Stages whose declared deps are satisfied execute
        concurrently, each on its own driver thread; the manifest is
        updated under a lock, one atomic commit per stage, exactly as
        in sequential execution."""
        os.makedirs(self.workdir, exist_ok=True)
        manifest = self._load_manifest()
        ctx = dict(ctx or {})
        stages = self.stages
        if stop_after is not None:
            for i, (name, _, _, _) in enumerate(stages):
                if name == stop_after:
                    stages = stages[: i + 1]
                    break
        names = [s[0] for s in stages]
        deps_of = {
            name: (list(deps) if deps is not None else names[:i])
            for i, (name, _, _, deps) in enumerate(stages)
        }
        for name, deps in deps_of.items():
            missing = [d for d in deps if d not in names and d not in ctx]
            if missing:
                raise ValueError(f"stage {name!r}: unknown deps {missing}")

        lock = threading.Lock()
        results: dict[str, StageResult] = {}

        def exec_stage(name: str, fn, tiny: bool) -> None:
            sdir = self._stage_dir(name)
            data_dir = os.path.join(sdir, "data")
            entry = manifest["stages"].get(name)
            if entry and entry.get("status") == "complete" and os.path.exists(data_dir):
                # crash debris under a completed stage (a _tmp_data dir
                # left by an interrupted writer whose commit DID land,
                # or dropped by an external process) is dead weight —
                # clear it on the skip path too so resumed runs
                # converge to a clean workdir
                shutil.rmtree(
                    os.path.join(sdir, "_tmp_data"), ignore_errors=True
                )
                out = self.spark.read.parquet(data_dir)
                with lock:
                    ctx[name] = out
                    results[name] = StageResult(
                        name, entry["rows"], entry["wall_sec"], skipped=True
                    )
                return
            t0 = time.monotonic()
            df = fn(ctx)
            tmp_dir = os.path.join(sdir, "_tmp_data")
            shutil.rmtree(tmp_dir, ignore_errors=True)
            reader = self.spark.read
            if tiny:
                rows, schema = self._write_tiny(df, name, sdir, tmp_dir, data_dir)
                if schema is not None:
                    reader = reader.schema(schema)
            else:
                # one write job is the stage's ONLY Spark action: each
                # task writes one parquet file, so per-partition lineage
                # (partition id → row count) comes from the file
                # FOOTERS — a driver-side metadata read, zero extra
                # jobs, no re-scan of the output. (The previous design
                # re-read the whole output for a groupBy(__pid) — a
                # full second pass over stage bytes plus two extra job
                # round-trips per stage; footers carry the same counts
                # for free.)
                df.write.mode("overwrite").parquet(tmp_dir)
                shutil.rmtree(data_dir, ignore_errors=True)
                os.makedirs(sdir, exist_ok=True)
                os.replace(tmp_dir, data_dir)
                rows = self._write_lineage_from_footers(name, sdir, data_dir)
                # read back with the schema just written: inferring it
                # re-reads the footers on the critical path between
                # dependent stages (0.066 s vs 0.010 s on an 18-file
                # output, 4 cores); parquet reads make every field nullable
                # either way, so both give the same schema
                reader = reader.schema(df.schema)
            wall = time.monotonic() - t0
            out = reader.parquet(data_dir)
            with lock:
                ctx[name] = out
                manifest["stages"][name] = {
                    "status": "complete",
                    "rows": rows,
                    "wall_sec": wall,
                    "output": data_dir,
                    "completed_at": time.strftime(
                        "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                    ),
                }
                self._save_manifest(manifest)
                results[name] = StageResult(name, rows, wall, skipped=False)

        pending = {name: (fn, tiny) for name, fn, tiny, _ in stages}
        done: set[str] = set()
        first_error: Exception | None = None
        with ThreadPoolExecutor(max_workers=max(1, len(stages))) as ex:
            futures: dict = {}
            while pending or futures:
                if first_error is None:
                    ready = [
                        n
                        for n in list(pending)
                        if all(d in done or d in ctx for d in deps_of[n])
                    ]
                    for n in ready:
                        fn, tiny = pending.pop(n)
                        futures[ex.submit(exec_stage, n, fn, tiny)] = n
                if not futures:
                    if first_error is not None:
                        raise first_error
                    if pending:  # pragma: no cover - defensive
                        raise ValueError(
                            f"deps never satisfiable for stages {sorted(pending)}"
                        )
                    break
                finished, _ = wait(list(futures), return_when=FIRST_COMPLETED)
                for f in finished:
                    n = futures.pop(f)
                    err = f.exception()
                    if err is not None:
                        # stop launching new stages; let in-flight ones
                        # drain, then surface the first failure
                        if first_error is None:
                            first_error = err
                        pending.clear()
                    else:
                        done.add(n)
        if first_error is not None:
            # in-flight stages have drained; surface the first failure
            # (the in-loop raise only covers the no-futures edge, and
            # once `pending` is cleared the loop exits without entering
            # another iteration — this is the main failure exit)
            raise first_error
        return [results[n] for n in names if n in results]

    def _write_lineage_from_footers(
        self, name: str, sdir: str, data_dir: str
    ) -> int:
        """Per-partition lineage from the parquet footers of the files
        the write job produced (file part-NNNNN ↔ task partition NNNNN;
        num_rows lives in the footer metadata). Driver-side only."""
        import pyarrow.parquet as pq
        from concurrent.futures import ThreadPoolExecutor

        names = [
            f
            for f in sorted(os.listdir(data_dir))
            if f.endswith(".parquet") and f.startswith("part-")
        ]

        def _rows(fname: str) -> int:
            return pq.ParquetFile(os.path.join(data_dir, fname)).metadata.num_rows

        # footer reads are tiny independent I/O — a serial loop over
        # hundreds of files is pure driver dead time between stages
        # (it scales with output partitions, i.e. WORSE at higher
        # parallelism); a thread pool keeps it ~constant
        with ThreadPoolExecutor(max_workers=16) as ex:
            counts = list(ex.map(_rows, names))
        pids = [int(f.split("-")[1]) for f in names]
        _write_lineage(sdir, name, pids, counts)
        return int(sum(counts))

    def _write_tiny(
        self, pdf, name: str, sdir: str, tmp_dir: str, data_dir: str
    ) -> tuple[int, StructType | None]:
        """Driver-side materialization for tiny stages: pyarrow write
        (no Spark jobs), identical directory layout + lineage schema.
        Returns the row count and the Spark schema of the written
        table, so the stage reads its output back without a
        schema-inference job (one task per read). The schema is None,
        and the read infers, where the two would differ: for an Arrow
        type Spark cannot map, and for Arrow's null type (an all-None or
        empty object column), which maps to void but is inferred as
        int."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        table = pa.Table.from_pandas(pdf, preserve_index=False)
        os.makedirs(tmp_dir, exist_ok=True)
        pq.write_table(table, os.path.join(tmp_dir, "part-00000.parquet"))
        shutil.rmtree(data_dir, ignore_errors=True)
        os.makedirs(sdir, exist_ok=True)
        os.replace(tmp_dir, data_dir)
        _write_lineage(sdir, name, [0], [len(pdf)])
        try:
            schema = from_arrow_schema(table.schema)
        except TypeError:
            return len(pdf), None
        return len(pdf), None if _has_void(schema) else schema

    def output(self, name: str) -> DataFrame:
        data_dir = os.path.join(self._stage_dir(name), "data")
        return self.spark.read.parquet(data_dir)

    def lineage(self) -> DataFrame:
        """Union of all stages' per-partition lineage rows."""
        paths = [
            os.path.join(self._stage_dir(name), "_lineage")
            for name, _, _, _ in self.stages
            if os.path.exists(os.path.join(self._stage_dir(name), "_lineage"))
        ]
        return self.spark.read.parquet(*paths)
