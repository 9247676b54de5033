"""SparkSession factory tuned for this engine.

Local mode is the test harness; the configs are chosen so the same
code runs unchanged on a multi-executor cluster (AQE, adaptive skew
join, Arrow batching). Parallelism and shuffle partitioning are
parameterized so the bench can run the identical job at local[8] and
local[32] to evidence scaling efficiency.

Cold start: a session's bring-up is the driver JVM's start and then
the first Python job's worker start. Python workers fork from
`cello_spark.worker_daemon` (`spark.python.daemon.module`, with the
package root on the workers' PYTHONPATH), which imports pyspark from
the installed, compiled copy rather than Spark's source-only
`pyspark.zip` when the versions match, and imports numpy, pandas,
pyarrow and this package once before it forks; `warm_python_workers`
then forks one worker per task slot in a single one-stage job. Together
they cut `kg_dense` `setup_s` by about 30% (`BENCH/BASELINE.md`, "Cold
start: Python workers"). Nothing is shipped with addPyFile: workers
import this package from its root.

The driver JVM starts from a JDK class-data-sharing (AppCDS) archive
of the classes a session loads, which cuts `setup_s` by about a third
on the 4-core box (`BENCH/BASELINE.md`, "Cold start"). The archive
lives in `$XDG_CACHE_HOME/cello_spark/cds/` (else
`~/.cache/cello_spark/cds/`), one `<key>.jsa` of ~170 MB per JDK +
Spark install: the key hashes the real path, size and mtime of the
`java` binary, the Spark jars dir listing (names, sizes, mtimes) and
the pyspark version, so an upgrade trains a new one. When none
exists, the first `get_spark` runs a one-time training child (~40 s):
a session built by this same code with `-XX:ArchiveClassesAtExit`, a
Python warm-up and a small shuffle + parquet job, then a clean JVM
exit; the archive is published by an atomic rename only when that JVM
exits 0, because a truncated archive crashes the JVM that maps it. A failed training leaves `<key>.failed`
and later sessions start without CDS. Delete the dir to retrain.

CDS is used only when the launch reads nothing from Spark's conf dir:
the dir (`$SPARK_CONF_DIR`, else `$SPARK_HOME/conf`) holds only
`*.template` files and none of `_CLASSPATH_ENV` is set. The JDK
refuses to dump with a non-empty directory on the classpath, and the
launcher puts the conf dir first, so such launches point
`SPARK_CONF_DIR` at an empty dir in the cache (the same for training
and use, so the classpaths match). Any other launch, an unwritable
cache, or a JVM already running, starts exactly as without CDS.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import tempfile
import zipfile

from pyspark.sql import SparkSession

# Arrow batch size: bounds executor-Python memory for the matmul /
# reconciliation UDFs. 10k rows x (n_features=64 doubles + spans)
# stays well under 100 MB per batch.
ARROW_MAX_RECORDS = 10_000

# One BLAS thread per task slot: each Spark task already owns a core,
# so letting OpenBLAS/MKL spawn its own pool oversubscribes the box
# (measured 1.7x slowdown on the linking matmul at local[32]).
_BLAS_ENV = {
    "OPENBLAS_NUM_THREADS": "1",
    "OMP_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
    "NUMEXPR_NUM_THREADS": "1",
    # glibc malloc: numpy batch temporaries (Arrow batches are ~5 MB,
    # score/reconcile intermediates similar) sit far above the default
    # 128 KB mmap threshold, so every batch mmap/munmaps its arrays and
    # re-faults the pages — kernel-side cost that grows with worker
    # count. Pinning the thresholds keeps freed blocks on the arena
    # free-list instead (≤128 MB resident per worker, bounded).
    "MALLOC_MMAP_THRESHOLD_": "134217728",
    "MALLOC_TRIM_THRESHOLD_": "134217728",
    # pyarrow's DEFAULT pool is jemalloc, which returns freed batch
    # buffers to the kernel on a decay timer (madvise) — per-batch
    # page-return + re-fault churn whose TLB-shootdown IPIs cost more
    # the more cores are running. Route Arrow through the system
    # (glibc) allocator so the thresholds above govern it too, and
    # disable jemalloc decay for any component that still uses it.
    # (Measured on the linked stage at local[32]: ~15% less JVM+sys
    # CPU; no effect at local[8] — i.e. this is pure scaling tax.)
    "ARROW_DEFAULT_MEMORY_POOL": "system",
    "MALLOC_CONF": "dirty_decay_ms:-1,muzzy_decay_ms:-1",
}

# Initial driver heap per task slot: committed and pre-touched at JVM
# start (see the heap comment in _start_session). G1 sizes the young
# generation as 5-60% of the COMMITTED heap, so this is a floor as well:
# at the JDK's 256 MB default a kg_dense unit ran 4-9 young GCs instead
# of 1-2 (BENCH/BASELINE.md, "Heap: pre-touch what the run uses").
INITIAL_HEAP_PER_SLOT_MB = 256

# the directory holding the `cello_spark` package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def default_driver_mem(mem_total_kb: int | None = None) -> str:
    """Default MAXIMUM driver heap (-Xmx): half of physical memory
    (MemTotal) in whole GiB, at least 1g and at most 24g. Only the
    initial heap (`initial_heap`, sized by task slots) is committed and
    pre-touched at JVM start; the heap grows toward this bound only
    when a run's live set needs it, so the bound must fit beside the
    Python workers and the page cache when it is reached. 24g covers
    every workload in this repo (broadcast dims are dict-sized; stage
    data streams through executors)."""
    if mem_total_kb is None:
        mem_total_kb = _mem_total_kb()
    return f"{min(24, max(1, mem_total_kb // (2 * 1024 * 1024)))}g"


_MEM_UNITS_KB = {"k": 1, "m": 1024, "g": 1024**2, "t": 1024**3}


def memory_mb(size: str) -> int:
    """Whole MB in a Spark memory string: a number with a k/m/g/t unit
    (either case, optionally followed by b), or a bare number of MB as
    `spark.driver.memory` reads it. '512m' -> 512, '3g' -> 3072."""
    m = re.fullmatch(r"(\d+)(?:([kmgt])b?)?", size.strip().lower())
    if m is None:
        raise ValueError(f"not a memory size: {size!r}")
    return int(m[1]) * _MEM_UNITS_KB[m[2] or "m"] // 1024


def initial_heap(cores: int, driver_mem: str) -> str:
    """The driver's initial heap (-Xms): INITIAL_HEAP_PER_SLOT_MB per
    task slot, never more than the maximum heap `driver_mem`, in MB.
    4 slots / '3g' -> '1024m'; 8 slots / '1g' -> '1024m'."""
    return f"{min(memory_mb(driver_mem), INITIAL_HEAP_PER_SLOT_MB * cores)}m"


def get_spark(
    app_name: str = "cello_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all local cores, the
    driver heap to $SPARK_DRIVER_MEM or `default_driver_mem()`. On a
    real cluster the master/executor settings come from spark-submit
    and the ``local[...]`` master here is simply not used. A driver JVM
    started here uses the cached AppCDS archive, training it first when
    there is none (see the module docstring).
    """
    return _start_session(app_name, cores, shuffle_partitions, extra_conf)


def _start_session(
    app_name: str,
    cores: int | None,
    shuffle_partitions: int | None,
    extra_conf: dict[str, str] | None,
    record_to: str | None = None,
) -> SparkSession:
    """`get_spark`; `record_to` is set only by the CDS training run."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        # ~2x cores locally; on a cluster this would be tuned to
        # ~2-3x total executor cores (or left to AQE coalescing).
        shuffle_partitions = max(2 * cores, 16)

    # local mode: python workers fork under this process tree and
    # inherit its environment, so set the pins before the JVM starts
    for k, v in _BLAS_ENV.items():
        os.environ.setdefault(k, v)

    driver_mem = os.environ.get("SPARK_DRIVER_MEM") or default_driver_mem()
    driver_opts = (
        f"-XX:+UseG1GC -XX:+AlwaysPreTouch -Xms{initial_heap(cores, driver_mem)}"
    )
    cds = _cds_options(record_to)
    if cds is not None:
        driver_opts = f"{driver_opts} {cds[0]}"

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        # smaller scan splits than the 128m default: local test inputs
        # are ~100MB-2GB, and a handful of oversized splits would both
        # serialize the scan and force ensure_min_partitions into a
        # full repartition shuffle. On a real cluster spark-submit
        # overrides this back to 128m+ (100 TB → plenty of splits).
        .config("spark.sql.files.maxPartitionBytes", "16m")
        # match openCost to the bin capacity so each small file gets
        # its own scan partition instead of being bin-packed 3-to-1:
        # local inputs are many ~1-6 MB files, and packing them down
        # to < task-slot partitions forced ensure_min_partitions into
        # a full text shuffle at high core counts ONLY (measured on
        # the 1M-doc bench: the mentions stage burned 2.75x the
        # core-seconds at local[32] vs local[8] because only the
        # 32-core run paid the repartition). Per-file splits give both
        # levels the identical no-shuffle plan — which is what a real
        # cluster sees, where the scan always has >> slots splits.
        .config("spark.sql.files.openCostInBytes", "16m")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS),
        )
        .config("spark.driver.memory", driver_mem)
        # spark.driver.memory is the MAXIMUM heap (-Xmx). The initial
        # heap (-Xms, initial_heap: 256 MB per task slot, capped at the
        # maximum) is committed at JVM start, and AlwaysPreTouch touches
        # it there. Without pre-touch every fresh heap page costs a
        # guest page fault + hypervisor EPT fault while ALL allocating
        # task threads contend on the mmap lock; on a virtualized box
        # that serialized the string-heavy codegen stages at high
        # parallelism (synthetic string-allocation job at local[32]:
        # 21.6s lazy-growth vs 5.8s pre-touched; real mentions stage:
        # 79.7s vs 28.8s). With AlwaysPreTouch, G1 also touches every
        # later heap expansion from its GC workers at the safepoint,
        # so task threads never fault fresh heap pages whether or not
        # the heap grows. Committing the whole maximum instead
        # (-Xms=-Xmx) costs 0.9-1.3 s of pre-touch per launch at 3 GB
        # and 2.3-2.9 s at 7 GB, and keeps that much resident: kg_dense
        # peak RSS 4.2 GB at -Xms3g against 2.1 GB at 1 GB initial
        # (BENCH/BASELINE.md, "Heap: pre-touch what the run uses").
        # G1/ZGC/sized-ParallelGC land within noise of each other on a
        # pre-touched heap, so keep the JDK default G1.
        .config("spark.driver.extraJavaOptions", driver_opts)
        .config(
            "spark.executor.extraJavaOptions",
            "-XX:+UseG1GC -XX:+AlwaysPreTouch",
        )
        .config("spark.ui.enabled", "false")
        # worker reuse keeps each forked Python worker for the session
        .config("spark.python.worker.reuse", "true")
        # workers fork from a daemon that has pyspark, numpy, pandas,
        # pyarrow and this package compiled and imported (see
        # worker_daemon); it imports cello_spark from the package root
        .config("spark.python.daemon.module", "cello_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        # deterministic float semantics for oracle comparison
        .config("spark.sql.legacy.allowUntypedScalaUDF", "false")
    )
    # cluster mode: the same pins must reach executor-side workers
    for k, v in _BLAS_ENV.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = _launch(builder, cds[1] if cds is not None else None)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _launch(builder, conf_dir: str | None) -> SparkSession:
    """`builder.getOrCreate()`, with `SPARK_CONF_DIR` pointed at
    `conf_dir` while the gateway's launch command reads it."""
    if conf_dir is None:
        return builder.getOrCreate()
    prev = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        return builder.getOrCreate()
    finally:
        if prev is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = prev


# ---------------------------------------------------------------------------
# Class-data sharing (AppCDS) for the driver JVM; see the module docstring.
# ---------------------------------------------------------------------------

# Variables that add to the launch classpath or read files beside it.
_CLASSPATH_ENV = (
    "SPARK_CLASSPATH",
    "SPARK_DIST_CLASSPATH",
    "HADOOP_CONF_DIR",
    "YARN_CONF_DIR",
)
# A stale archive (other JDK, other classpath) only warns and the JVM
# carries on, but JVM warnings go to stdout by default, where the CLI
# prints its JSON line.
_CDS_LOG = "-Xlog:disable -Xlog:all=warning:stderr"
_CDS_TRAIN_TIMEOUT_S = 600


def _cds_cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    return os.path.join(base, "cello_spark", "cds")


def _java_binary() -> str | None:
    """The real path of the `java` the Spark launcher runs."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def _cds_key(java: str, jars_dir: str) -> str:
    """Names one JDK + Spark install: the java binary's real path, size
    and mtime, the jars dir listing (names, sizes, mtimes) and the
    pyspark version."""
    import pyspark

    h = hashlib.sha256(pyspark.__version__.encode())
    for path in [java] + [
        os.path.join(jars_dir, n) for n in sorted(os.listdir(jars_dir))
    ]:
        st = os.stat(path)
        h.update(f"\0{path}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:20]


def _stock_conf(spark_home: str) -> bool:
    """True when Spark's conf dir holds only `*.template` files (or is
    missing) and no `_CLASSPATH_ENV` variable is set: an empty conf dir
    then launches the same driver."""
    if any(os.environ.get(v) for v in _CLASSPATH_ENV):
        return False
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        names = os.listdir(conf)
    except FileNotFoundError:
        return True
    except OSError:
        return False
    return all(n.endswith(".template") for n in names)


def _cds_options(record_to: str | None = None) -> tuple[str, str] | None:
    """(driver JVM flags, empty conf dir) for a launch from the cached
    archive, or for recording one to `record_to`; None to launch
    without CDS. Trains the archive first when there is none."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None  # the driver JVM is already running
    spark_home = _find_spark_home()
    jars = os.path.join(spark_home, "jars")
    java = _java_binary()
    if java is None or not os.path.isdir(jars) or not _stock_conf(spark_home):
        return None
    cache = _cds_cache_dir()
    # the launcher splits extraJavaOptions on blanks and quotes
    if any(c in cache for c in " \t\n'\"\\"):
        return None
    conf_dir = os.path.join(cache, "conf")
    try:
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir):
            return None
        if record_to is not None:
            return f"-XX:ArchiveClassesAtExit={record_to} {_CDS_LOG}", conf_dir
        key = _cds_key(java, jars)
    except OSError:
        return None
    jsa = os.path.join(cache, f"{key}.jsa")
    if not os.path.exists(jsa) and not os.path.exists(
        os.path.join(cache, f"{key}.failed")
    ):
        _cds_train(cache, key)
    if not os.path.isfile(jsa):
        return None
    return f"-XX:SharedArchiveFile={jsa} {_CDS_LOG}", conf_dir


def _cds_train(cache: str, key: str) -> None:
    """Run `_cds_record` in a child process and publish its archive as
    `<key>.jsa` by an atomic rename iff the child exits 0; otherwise
    leave `<key>.failed`. Concurrent trainings each record to their own
    tmp file. The child's output goes to `<key>.log`."""
    tmp = os.path.join(cache, f"{key}.{os.getpid()}.tmp")
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        "from cello_spark.session import _cds_record; "
        "sys.exit(_cds_record(sys.argv[2]))"
    )
    try:
        with open(os.path.join(cache, f"{key}.log"), "wb") as log:
            child = subprocess.Popen(
                [sys.executable, "-c", code, _PACKAGE_ROOT, tmp],
                stdin=subprocess.DEVNULL,
                stdout=log,
                stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            try:
                rc = child.wait(timeout=_CDS_TRAIN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = None
            finally:
                # whatever the outcome (a timeout, this process
                # interrupted, a child that died before its JVM), end
                # the whole training: the child, its JVM (which may
                # still be writing the tmp file) and its Python workers
                # share one process group
                with contextlib.suppress(ProcessLookupError):
                    os.killpg(child.pid, signal.SIGKILL)
                child.wait()
        if rc == 0 and os.path.isfile(tmp):
            os.replace(tmp, os.path.join(cache, f"{key}.jsa"))
        else:
            with open(os.path.join(cache, f"{key}.failed"), "w") as f:
                f.write(f"training exited with {rc}; see {key}.log\n")
    except OSError:
        pass  # cache not writable: start without CDS
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def _cds_record(archive: str) -> int:
    """The training run: a session whose driver JVM dumps the classes
    it loaded to `archive` at exit, a Python-worker warm-up and one
    small createDataFrame / join / aggregate / window / parquet
    write + read, then a clean JVM exit. Returns the JVM's exit code."""
    import pandas as pd
    from pyspark.sql import Window, functions as F

    spark = _start_session("cello_spark_cds", None, None, None, record_to=archive)
    warm_python_workers(spark)
    work = tempfile.mkdtemp()
    try:
        out = os.path.join(work, "t")
        df = spark.createDataFrame(
            pd.DataFrame({"k": [i % 7 for i in range(256)], "v": range(256)})
        )
        sums = df.groupBy("k").agg(F.sum("v").alias("s"))
        rank = F.row_number().over(Window.partitionBy("k").orderBy("v"))
        df.join(sums, "k").withColumn("r", rank).write.parquet(out)
        spark.read.parquet(out).collect()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()  # the gateway exits on EOF; the dump runs at exit
    return jvm.wait(timeout=_CDS_TRAIN_TIMEOUT_S)


def warm_python_workers(spark) -> float:
    """Fork the Python worker pool before any timed stage: one job of
    one stage, `defaultParallelism` single-row tasks through
    mapInPandas into the noop sink, so every task slot gets its worker
    at once. Workers fork from `worker_daemon`, which has already
    imported pyspark, numpy, pandas and pyarrow, and stay up for the
    session (spark.python.worker.reuse). Returns the wall seconds
    spent."""
    import time as _time

    def _ident(batches):
        yield from batches

    n = spark.sparkContext.defaultParallelism
    t0 = _time.monotonic()
    spark.range(0, n, 1, n).mapInPandas(_ident, "id long").write.format(
        "noop"
    ).mode("overwrite").save()
    return _time.monotonic() - t0


def build_pyfiles_zip(dest: str | None = None) -> str:
    """Zip the `cello_spark` package for `spark-submit --py-files` (or
    addPyFile). Returns the zip path."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = dest or os.path.join(
        tempfile.gettempdir(), f"cello_spark_pyfiles_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for fn in files:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(root, fn)
                rel = os.path.join(
                    "cello_spark", os.path.relpath(full, pkg_dir)
                )
                zf.write(full, rel)
    return zpath

