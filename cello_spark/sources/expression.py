"""Expression-matrix sources and expression-side operators.

The reference loads dense cells×genes matrices from 10x MatrixMarket
directories, delimited files, and HDF5 (cello/load_expression_matrix.py)
and normalizes orientation to CELLS × GENES. The Spark-native shape is
the LONG table (sample_id, gene_id, value) — sparse-friendly, shuffle
keys explicit, and every downstream operator (multi-gene sum,
pseudo-bulk, QC filters) is a groupBy/window over it.

- read_10x           : S1 (load_expression_matrix.py:52-86) — mtx is
                       parsed distributed (spark.read.text), the tiny
                       genes/barcodes TSVs driver-side then joined.
- read_matrix_csv    : S2 (:88-107) — wide delimited matrix unpivoted
                       via the stack() expression (JVM-side melt);
                       `rows_cells` mirrors the reference's transpose
                       convention.
- read_hdf5          : S3 (:110-137) — gated behind an h5py import-try
                       (not in this container): driver-side read of the
                       caller-keyed datasets, emitted long.
- load_expression    : S4 dispatch (:12-50).
- sum_duplicate_genes: P3/A2 (cello/cello.py:162-173; semantics
                       documented in test/CellO_test.py:22-83).
- aggregate_expression: A1 pseudo-bulk (cello/cello.py:554-576):
                       per cluster: sum(expm1(v)) per gene →
                       renormalize cluster total to 1e6 → log1p.
"""

from __future__ import annotations

import os

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window, functions as F


# ---------------------------------------------------------------------------
# S1 — 10x MatrixMarket directory
# ---------------------------------------------------------------------------


def read_10x(spark: SparkSession, data_loc: str) -> DataFrame:
    """10x directory {matrix.mtx, genes.tsv, barcodes.tsv} → long
    (sample_id, gene_id, value). The mtx body is parsed distributed;
    the '%' comment prologue and the dims line are dropped by filtering
    on the running line index (zipWithIndex over the text RDD keeps
    file order). genes/barcodes are dimension tables: read driver-side
    (KBs–MBs) and broadcast-joined on the 1-based mtx indices."""
    genes = pd.read_csv(
        os.path.join(data_loc, "genes.tsv"), sep="\t", header=None
    )
    barcodes = pd.read_csv(
        os.path.join(data_loc, "barcodes.tsv"), sep="\t", header=None
    )
    gene_dim = spark.createDataFrame(
        [(i + 1, str(g)) for i, g in enumerate(genes[0])],
        "gene_idx int, gene_id string",
    )
    cell_dim = spark.createDataFrame(
        [(i + 1, str(b)) for i, b in enumerate(barcodes[0])],
        "cell_idx int, sample_id string",
    )
    lines = spark.sparkContext.textFile(os.path.join(data_loc, "matrix.mtx"))
    body = (
        lines.zipWithIndex()
        .filter(lambda li: not li[0].startswith("%"))
        .zipWithIndex()  # re-index comment-free lines; 0 = dims line
        .filter(lambda li: li[1] > 0)
        .map(lambda li: li[0][0])
    )
    triplets = (
        spark.createDataFrame(body.map(lambda l: (l,)), "line string")
        .select(F.split(F.trim("line"), " ").alias("p"))
        .select(
            F.col("p")[0].cast("int").alias("gene_idx"),
            F.col("p")[1].cast("int").alias("cell_idx"),
            F.col("p")[2].cast("double").alias("value"),
        )
    )
    return (
        triplets.join(F.broadcast(gene_dim), "gene_idx")
        .join(F.broadcast(cell_dim), "cell_idx")
        .select("sample_id", "gene_id", "value")
    )


# ---------------------------------------------------------------------------
# S2 — delimited matrix
# ---------------------------------------------------------------------------


def read_matrix_csv(
    spark: SparkSession,
    path: str,
    sep: str = ",",
    rows_cells: bool = True,
) -> DataFrame:
    """Wide delimited matrix (header = column ids, first column = row
    ids) → long (sample_id, gene_id, value). `rows_cells=True` means
    rows are cells / columns genes (the reference transposes when
    False, load_expression_matrix.py:94-95 — here both orientations
    land in the same long schema, no physical transpose needed).
    The melt is a single JVM-side stack() expression."""
    wide = spark.read.option("header", True).option("sep", sep).csv(path)
    id_col = wide.columns[0]
    val_cols = wide.columns[1:]
    pairs = ", ".join(
        f"'{c}', cast(`{c}` as double)" for c in val_cols
    )
    long = wide.select(
        F.col(id_col).alias("row_id"),
        F.expr(f"stack({len(val_cols)}, {pairs}) as (col_id, value)"),
    )
    if rows_cells:
        return long.select(
            F.col("row_id").alias("sample_id"),
            F.col("col_id").alias("gene_id"),
            "value",
        )
    return long.select(
        F.col("col_id").alias("sample_id"),
        F.col("row_id").alias("gene_id"),
        "value",
    )


# ---------------------------------------------------------------------------
# S3 — HDF5 (gated: h5py not in this container)
# ---------------------------------------------------------------------------


def read_hdf5(
    spark: SparkSession,
    path: str,
    expression_key: str = "expression",
    cells_key: str = "experiment",
    genes_key: str = "gene_id",
) -> DataFrame:
    """Caller-keyed HDF5 datasets → long DataFrame. Driver-side h5py
    read (the reference's training bundles are single files); raises
    ImportError with guidance when h5py is unavailable."""
    try:
        import h5py  # noqa: F401
    except ImportError as ex:  # pragma: no cover - container lacks h5py
        raise ImportError(
            "read_hdf5 requires h5py; convert to parquet offline or "
            "install h5py on the driver"
        ) from ex
    import numpy as np

    with h5py.File(path, "r") as f:  # pragma: no cover
        cells = [
            c.decode() if isinstance(c, bytes) else str(c)
            for c in f[cells_key][:]
        ]
        genes = [
            g.decode() if isinstance(g, bytes) else str(g)
            for g in f[genes_key][:]
        ]
        X = np.asarray(f[expression_key][:], dtype=float)
    rows = [
        (cells[i], genes[j], float(X[i, j]))
        for i in range(len(cells))
        for j in range(len(genes))
    ]
    return spark.createDataFrame(rows, "sample_id string, gene_id string, value double")


def read_hdf5_distributed(
    spark: SparkSession,
    path_glob: str,
    expression_key: str = "expression",
    cells_key: str = "experiment",
    genes_key: str = "gene_id",
    cells_per_batch: int = 1024,
    decoder=None,
) -> DataFrame:
    """Many-file HDF5 → long table, decoded ON EXECUTORS: `binaryFile`
    scan + mapInPandas(h5py) per file — the scale path for corpora of
    training bundles that `read_hdf5`'s driver-side read can't serve
    (SURVEY §2 S3 mapping; reference single-file analog:
    load_expression_matrix.py:110-137).

    HDF5 is not splittable, so the unit of parallelism is the FILE
    (one task may decode several); the long output
    (file, sample_id, gene_id, value) is immediately
    partition-parallel for downstream pseudobulk/QC. Each file is
    emitted in `cells_per_batch`-cell Arrow batches so a big matrix
    never materializes one giant pandas frame in the Python worker.

    `decoder` is the injectable parse hook (bytes -> (cells, genes,
    X)) so the Spark plumbing — binaryFile scan, Arrow batching,
    schema, chunking — is testable where h5py isn't installed; the
    default decoder opens h5py over the in-memory bytes and raises
    ImportError with guidance when h5py is missing on executors."""
    files = spark.read.format("binaryFile").load(path_glob).select(
        "path", "content"
    )
    keys = (expression_key, cells_key, genes_key)
    out_schema = (
        "file string, sample_id string, gene_id string, value double"
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        dec = decoder
        if dec is None:
            import io

            try:
                import h5py
            except ImportError as ex:  # pragma: no cover - no h5py here
                raise ImportError(
                    "read_hdf5_distributed requires h5py on executors; "
                    "convert to parquet offline or pass a decoder"
                ) from ex

            def dec(buf):  # pragma: no cover - exercised only w/ h5py
                with h5py.File(io.BytesIO(buf), "r") as f:
                    cells = [
                        c.decode() if isinstance(c, bytes) else str(c)
                        for c in f[keys[1]][:]
                    ]
                    genes = [
                        g.decode() if isinstance(g, bytes) else str(g)
                        for g in f[keys[2]][:]
                    ]
                    x = np.asarray(f[keys[0]][:], dtype=float)
                return cells, genes, x

        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                cells, genes, x = dec(bytes(content))
                n_c, n_g = len(cells), len(genes)
                if x.shape != (n_c, n_g):
                    raise ValueError(
                        f"{path}: expression shape {x.shape} != "
                        f"(n_cells={n_c}, n_genes={n_g})"
                    )
                garr = np.asarray(genes, dtype=object)
                for lo in range(0, n_c, cells_per_batch):
                    hi = min(lo + cells_per_batch, n_c)
                    chunk = x[lo:hi]
                    yield pd.DataFrame(
                        {
                            "file": np.repeat(path, (hi - lo) * n_g),
                            "sample_id": np.repeat(
                                np.asarray(cells[lo:hi], dtype=object), n_g
                            ),
                            "gene_id": np.tile(garr, hi - lo),
                            "value": chunk.reshape(-1).astype(np.float64),
                        }
                    )

    return files.mapInPandas(gen, schema=out_schema)


def load_expression(
    spark: SparkSession, data_loc: str, fmt: str, **kwargs
) -> DataFrame:
    """S4 dispatch (load_expression_matrix.py:12-50): format switch
    over 10x / CSV / TSV / HDF5, all landing in the long schema."""
    if fmt == "10x":
        return read_10x(spark, data_loc)
    if fmt == "csv":
        return read_matrix_csv(spark, data_loc, sep=",", **kwargs)
    if fmt == "tsv":
        return read_matrix_csv(spark, data_loc, sep="\t", **kwargs)
    if fmt == "hdf5":
        return read_hdf5(spark, data_loc, **kwargs)
    raise ValueError(f"unknown format {fmt!r} (10x|csv|tsv|hdf5)")


# ---------------------------------------------------------------------------
# P3/A2 — multi-mapped gene sum
# ---------------------------------------------------------------------------


def sum_duplicate_genes(
    long_df: DataFrame,  # (sample_id, gene_id, value)
    gene_map: DataFrame,  # (gene_id, train_gene_id) — small, 1:N allowed
) -> DataFrame:
    """When several input genes map to one training gene, their
    expression sums (cello/cello.py:162-173; worked examples in
    test/CellO_test.py:22-83). Broadcast map join + groupBy sum —
    partial aggregation map-side."""
    return (
        long_df.join(F.broadcast(gene_map), "gene_id")
        .groupBy("sample_id", F.col("train_gene_id").alias("gene_id"))
        .agg(F.sum("value").alias("value"))
    )


# ---------------------------------------------------------------------------
# P7/P8 — QC filters (new_cello/preprocess/__init__.py:73-180)
# ---------------------------------------------------------------------------


def filter_cells(
    long_df: DataFrame,  # (sample_id, gene_id, value), zeros omitted
    min_genes: int = 0,
    min_counts: float = 0.0,
    max_counts: float | None = None,
) -> DataFrame:
    """Cell QC (P7): keep samples with >= min_genes expressed genes and
    total counts within [min_counts, max_counts]. One aggregate + a
    semi-join back onto the long table."""
    stats = long_df.groupBy("sample_id").agg(
        F.count(F.lit(1)).alias("n_genes"),
        F.sum("value").alias("total"),
    )
    keep = stats.filter(
        (F.col("n_genes") >= min_genes) & (F.col("total") >= min_counts)
    )
    if max_counts is not None:
        keep = keep.filter(F.col("total") <= max_counts)
    return long_df.join(keep.select("sample_id"), "sample_id", "left_semi")


def filter_genes(long_df: DataFrame, min_cells: int = 1) -> DataFrame:
    """Gene QC (P8): keep genes expressed in >= min_cells samples."""
    keep = (
        long_df.groupBy("gene_id")
        .agg(F.count(F.lit(1)).alias("n_cells"))
        .filter(F.col("n_cells") >= min_cells)
    )
    return long_df.join(keep.select("gene_id"), "gene_id", "left_semi")


# ---------------------------------------------------------------------------
# A1 — pseudo-bulk aggregate
# ---------------------------------------------------------------------------


def aggregate_expression(
    long_df: DataFrame,  # (sample_id, gene_id, value) in log1p units
    clusters: DataFrame,  # (sample_id, cluster)
) -> DataFrame:
    """The reference's per-cluster pseudo-bulk chain
    (cello/cello.py:554-576): undo log (expm1), sum per (cluster,
    gene), renormalize each cluster's total to 1e6, re-log1p. Output
    (cluster, gene_id, value). One shuffle on (cluster, gene_id) plus
    a cluster-partitioned window for the renormalization total."""
    per = (
        long_df.join(F.broadcast(clusters), "sample_id")
        .groupBy("cluster", "gene_id")
        .agg(F.sum(F.expm1("value")).alias("s"))
    )
    w = Window.partitionBy("cluster")
    return per.select(
        "cluster",
        "gene_id",
        F.log1p(F.col("s") * F.lit(1e6) / F.sum("s").over(w)).alias("value"),
    )


# ---------------------------------------------------------------------------
# P2 — gene-dialect inference + gene matching (cello/cello.py:925-1004)
# ---------------------------------------------------------------------------

# The reference probes for HGNC symbols with four well-known genes
# (cello/cello.py:939-943); dialect names mirror its three branches.
PROBE_SYMBOLS = ("CD14", "SOX2", "NANOG", "PECAM1")

DIALECT_ENSG = "ENSG"
DIALECT_ENSG_VERSION = "ENSG_VERSION"
DIALECT_SYMBOL = "HGNC_SYMBOL"


def infer_gene_dialect(
    input_genes: DataFrame,  # (gene)
    probe_symbols: tuple[str, ...] = PROBE_SYMBOLS,
) -> str:
    """Infer which of the reference's three gene-id dialects the input
    uses (cello/cello.py:932-990): bare Ensembl ids (ENSGxxxxxxxxxxx),
    versioned Ensembl ids (ENSGxxxxxxxxxxx.N), or HGNC symbols probed
    via a small marker set. ONE aggregate over the (small) gene dim —
    three conditional counts, no collect of the id list."""
    r = input_genes.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("gene").rlike(r"^ENSG\d+$")).alias("n_ensg"),
        F.count_if(F.col("gene").rlike(r"^ENSG\d+\.\d+$")).alias("n_ver"),
        # DISTINCT matched probe symbols, not matched rows — the rule
        # is the probe SET being a subset of the gene set, and a
        # non-distinct gene column (e.g. a long expression table) would
        # otherwise count duplicates of one probe as "all present"
        F.count_distinct(
            F.when(
                F.upper(F.col("gene")).isin(list(probe_symbols)),
                F.upper(F.col("gene")),
            )
        ).alias("n_probe"),
    ).first()
    if r["n"] == 0:
        raise ValueError("infer_gene_dialect: empty gene list")
    # the reference requires ALL probe symbols present to call it a
    # symbol matrix (cello.py:939-943 set inclusion)
    if r["n_probe"] >= len(probe_symbols):
        return DIALECT_SYMBOL
    if r["n_ver"] > r["n_ensg"]:
        return DIALECT_ENSG_VERSION
    if r["n_ensg"] > 0:
        return DIALECT_ENSG
    raise ValueError(
        "infer_gene_dialect: ids match no known dialect "
        "(expected ENSG..., ENSG....N, or HGNC symbols incl. "
        f"{probe_symbols})"
    )


def match_genes(
    input_genes: DataFrame,  # (gene) — ids in any supported dialect
    gene_meta: DataFrame,  # (gene_id, symbol) — biomart dim, small
    train_genes: DataFrame,  # (gene_id) — the model's gene universe
    dialect: str | None = None,
) -> DataFrame:
    """P2 gene matching (cello/cello.py:925-1004): map input gene ids
    onto the training gene universe. Versioned Ensembl ids are stripped
    (split('.')[0], cello.py:953); HGNC symbols fan out 1:N to every
    Ensembl id carrying that symbol via the biomart dim
    (cello.py:966-988). Output (gene, gene_id) — the input id and the
    matched training gene — distinct.

    Plan: the gene dims are dictionary-sized (≤~60k rows) so both the
    symbol fan-out and the training-universe restriction are broadcast
    joins; nothing here shuffles the big expression table (callers
    apply the resulting map with `sum_duplicate_genes`)."""
    if dialect is None:
        dialect = infer_gene_dialect(input_genes)
    g = input_genes.select("gene").dropDuplicates()
    if dialect == DIALECT_ENSG_VERSION:
        matched = g.select(
            "gene", F.split(F.col("gene"), r"\.")[0].alias("gene_id")
        )
    elif dialect == DIALECT_ENSG:
        matched = g.select("gene", F.col("gene").alias("gene_id"))
    elif dialect == DIALECT_SYMBOL:
        matched = g.join(
            F.broadcast(
                gene_meta.select(
                    F.upper(F.col("symbol")).alias("__sym"), "gene_id"
                )
            ),
            F.upper(F.col("gene")) == F.col("__sym"),
        ).select("gene", "gene_id")
    else:
        raise ValueError(f"match_genes: unknown dialect {dialect!r}")
    return matched.join(
        F.broadcast(train_genes.select("gene_id")), "gene_id", "left_semi"
    ).select("gene", "gene_id").dropDuplicates()


def select_hvg(
    long_df: DataFrame,  # (sample_id, gene_id, value), zeros omitted
    n_top: int,
    n_samples: int | None = None,
    method: str = "seurat",
) -> DataFrame:
    """Highly-variable-gene selection (new_cello/preprocess/
    __init__.py:244-266): per-gene mean/population-variance over the
    DENSE matrix (the long table omits zeros, so moments divide by the
    full sample count), dispersion = var/(mean+1e-5) ('seurat'/
    'cell_ranger') or raw var ('dispersion'), keep the top-N by
    dispersion, emit re-sorted by gene id (the reference re-sorts
    selected columns to original order). Tie-break on equal dispersion
    is (gene_id asc) — deterministic, unlike numpy argsort[::-1].

    Plan: one groupBy(gene) aggregate (map-side partials), then a
    total-order top-n_top (orderBy + limit), which Spark plans as
    TakeOrderedAndProject: each task keeps its own n_top genes and one
    task merges those, so n_top has no size bound. Output
    (gene_id, mean, var, dispersion)."""
    if method not in ("seurat", "cell_ranger", "dispersion"):
        raise ValueError(f"select_hvg: unknown method {method!r}")
    if n_top < 1:
        raise ValueError(f"select_hvg: n_top must be >= 1, got {n_top}")
    if n_samples is None:
        n_samples = long_df.select("sample_id").distinct().count()
    n = float(n_samples)
    stats = long_df.groupBy("gene_id").agg(
        (F.sum("value") / n).alias("mean"),
        (F.sum(F.col("value") * F.col("value")) / n).alias("m2"),
    )
    stats = stats.select(
        "gene_id",
        "mean",
        (F.col("m2") - F.col("mean") * F.col("mean")).alias("var"),
    )
    if method == "dispersion":
        disp = F.col("var")
    else:
        disp = F.col("var") / (F.col("mean") + F.lit(1e-5))
    stats = stats.withColumn(
        "dispersion", F.coalesce(disp, F.lit(0.0))
    )
    top = stats.orderBy(F.desc("dispersion"), F.asc("gene_id")).limit(n_top)
    return top.orderBy("gene_id")


def check_compatibility(
    available_genes: DataFrame,  # (gene_id) — genes present in the data
    model_genes: list[str],  # the model's feature gene list, in order
) -> None:
    """P4 model/data compatibility predicate (cello/cello.py:474-487):
    every gene the model was trained on must be present in the data.
    One anti-join count over the (dictionary-sized) gene dims; raises
    ValueError naming up to 10 missing genes."""
    spark = available_genes.sparkSession
    need = spark.createDataFrame(
        [(g,) for g in model_genes], "gene_id string"
    )
    missing = (
        need.join(
            available_genes.select("gene_id").dropDuplicates(),
            "gene_id",
            "left_anti",
        )
        .limit(11)
        .collect()
    )
    if missing:
        names = [r["gene_id"] for r in missing]
        more = " …" if len(names) > 10 else ""
        raise ValueError(
            f"model/data incompatible: {len(names)}"
            f"{'+' if len(names) > 10 else ''} model genes missing from "
            f"the data, e.g. {names[:10]}{more}"
        )


# ---------------------------------------------------------------------------
# Units normalization + model-order feature assembly (predict-path prep)
# ---------------------------------------------------------------------------

COUNTS_UNITS = "COUNTS"
CPM_UNITS = "CPM"
LOG1_CPM_UNITS = "LOG1_CPM"
TPM_UNITS = "TPM"
LOG1_TPM_UNITS = "LOG1_TPM"
FULL_LENGTH_ASSAY = "FULL_LENGTH"
THREE_PRIME_ASSAY = "3_PRIME"

_ALL_UNITS = {COUNTS_UNITS, CPM_UNITS, LOG1_CPM_UNITS, TPM_UNITS, LOG1_TPM_UNITS}


def normalize_units(
    long_df: DataFrame,  # (sample_id, gene_id, value)
    units: str,
    assay: str = THREE_PRIME_ASSAY,
) -> DataFrame:
    """Bring expression into the canonical log(TPM+1) (reference
    UNITS = "log_tpm", cello/cello.py:41; conversion rules
    cello_predict.py:224-237):

    - COUNTS    → per-sample total-normalize to 1e6, then log1p
                  (scanpy normalize_total + log1p equivalent)
    - CPM / TPM → log1p
    - LOG1_CPM / LOG1_TPM → passthrough
    - FULL_LENGTH assay rejects count-based units (the reference
      exits: full-length reads need gene-length-aware TPM upstream)

    Scale shape: the COUNTS path is ONE hash-partial-aggregated
    groupBy(sample_id) for the totals joined back (no window sort);
    every other path is a map-only expression.
    """
    if units not in _ALL_UNITS:
        raise ValueError(f"unknown units {units!r} (one of {sorted(_ALL_UNITS)})")
    if assay == FULL_LENGTH_ASSAY and units in {
        COUNTS_UNITS,
        CPM_UNITS,
        LOG1_CPM_UNITS,
    }:
        raise ValueError(
            f"units {units} invalid for {assay} assay: full-length reads "
            "need gene-length-aware TPM (LOG1_TPM or TPM) computed upstream"
        )
    if units == COUNTS_UNITS:
        totals = long_df.groupBy("sample_id").agg(
            F.sum("value").alias("__total")
        )
        return (
            long_df.join(totals, "sample_id")
            .withColumn(
                "value",
                F.log1p(F.col("value") / F.col("__total") * F.lit(1e6)),
            )
            .drop("__total")
        )
    if units in {CPM_UNITS, TPM_UNITS}:
        return long_df.withColumn("value", F.log1p(F.col("value")))
    return long_df


def features_vector(
    long_df: DataFrame,  # (sample_id, gene_id, value)
    features: list[str],
) -> DataFrame:
    """P1 feature projection/reorder (cello/cello.py:517-519): assemble
    the model's gene columns IN MODEL ORDER into one dense array per
    sample; genes absent from a sample contribute 0.0 (the dense-matrix
    semantics of the reference's AnnData slice).

    Plan: broadcast (gene → position) dim join prunes non-model genes,
    then ONE groupBy(sample) builds a position→value map and a codegen
    `transform(sequence(...))` densifies it — no pivot, no UDF, and
    the wide side never shuffles more than once. Samples with NO rows
    in the model gene set (long format omits zeros, so they vanish at
    the inner dim join) are restored by a left join from the distinct
    sample universe and score as the all-zero vector the reference's
    dense AnnData slice produces — the null map densifies to zeros
    through the same coalesce. The distinct shares the groupBy's
    sample_id hash partitioning, so the extra pass is map-side cheap.
    Output (doc_id, features array<double>) — ready for
    link_documents / KGModel.predict.
    """
    spark = long_df.sparkSession
    n = len(features)
    pos_df = spark.createDataFrame(
        [(g, i) for i, g in enumerate(features)], "gene_id string, __pos int"
    )
    kv = (
        long_df.join(F.broadcast(pos_df), "gene_id")
        # duplicate (sample, gene) rows sum, matching the reference's
        # dense-matrix accumulation (and map_from_entries rejects
        # duplicate keys); partial aggregation makes the extra groupBy
        # map-side cheap
        .groupBy("sample_id", "__pos")
        .agg(F.sum("value").alias("value"))
        .groupBy("sample_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("__pos", "value"))
            ).alias("__kv")
        )
    )
    samples = long_df.select("sample_id").distinct()
    return samples.join(kv, "sample_id", "left").select(
        F.col("sample_id").alias("doc_id"),
        F.expr(
            f"transform(sequence(0, {n - 1}), i -> coalesce(__kv[i], 0.0d))"
        ).alias("features"),
    )
