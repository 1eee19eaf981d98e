"""Sources/sinks for the batch surface: parquet scans of the testdata star
schema, plus generic writers.

Scale note: scans are plain ``spark.read.parquet`` so Catalyst keeps full
control of predicate pushdown, column pruning and partition pruning — at
100 TB the lineitem scan must only read the columns/row-groups a query
touches, which ``.explain`` confirms via PushedFilters/ReadSchema.

Schema cache: inferring a parquet schema is a Spark job (about 0.1 s on a
4-core host, whatever the table's size), so a query that loads five tables
paid five jobs before it ran. :func:`load_table` keeps the schema Spark
inferred for each table file on the session that read it and hands it back
to later reads of the same file through ``spark.read.schema(...)``. An
entry holds only while the file keeps its inode, mtime and size and the
session keeps the values of the confs that map parquet types to Spark
types (``_TYPE_MAPPING_CONFS``); otherwise the schema is inferred again.
Directories, non-local URIs and paths ``os.stat`` cannot see are not
cached. Every call still returns a new, lazy scan, so self-joins get
distinct attribute ids and pushdown is unchanged.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The driver testdata tables (FIXTURES.md §B).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Session confs that decide how parquet types map to Spark types: a cached
# schema is valid only under the values it was inferred with.
_TYPE_MAPPING_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema inference job skipped
    when this session has already inferred the schema of the same local
    file under the same type-mapping confs (see the module docstring)."""
    try:
        st = None if "://" in path else os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    real = os.path.realpath(path)
    valid_for = (
        (st.st_ino, st.st_mtime_ns, st.st_size),
        tuple(spark.conf.get(c, None) for c in _TYPE_MAPPING_CONFS),
    )
    schemas = vars(spark).setdefault("_trike_parquet_schemas", {})
    hit = schemas.get(real)
    if hit is not None and hit[0] == valid_for:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    schemas[real] = (valid_for, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table. No .cache(), no .collect() — the plan stays
    lazy so downstream filters push into the parquet reader. Side-effect
    free apart from the once-per-session conf adaptation (see
    :func:`trike_spark.session.ensure_session_confs`) and the session's
    schema cache: the first load of a table file infers its schema (one
    Spark job), later loads in the same session reuse it (none) until the
    file's inode/mtime/size or a type-mapping conf changes. Directories
    are not cached."""
    from trike_spark.session import ensure_session_confs

    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TESTDATA_TABLES}")
    ensure_session_confs(spark)
    df = _read_parquet(spark, table_path(sf_dir, name))
    if name == "events":
        # events.parquet has shipped in two layouts: TIMESTAMP(NANOS)
        # (arrives as bigint under nanosAsLong) and TIMESTAMP(MICROS)
        # (arrives as timestamp/timestamp_ntz). Dispatch on the dtype we
        # actually read so either layout yields a micros TIMESTAMP column
        # with identical values; nanosAsLong stays set for back-compat and
        # is a no-op for micros files.
        ts_dtype = dict(df.dtypes)["ts"]
        if ts_dtype == "bigint":
            # nanos-as-long: truncate to micros (data is micro-precision,
            # so lossless).
            return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        if ts_dtype == "timestamp_ntz":
            # Session-local wall-clock semantics match the oracle (session
            # tz is UTC, see ensure_session_confs); cast so downstream
            # window/interval ops see one consistent TIMESTAMP type.
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` queries work —
    mirrors the DuckDB oracle's pre-registered views."""
    for t in TESTDATA_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    """Parquet sink; with partition_by, downstream scans get partition
    pruning (PartitionFilters in the plan) — the layout choice that turns
    a 100 TB scan into a per-partition scan."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_time_partitioned(
    df: DataFrame,
    path: str,
    ts_col: str,
    granularity: str = "month",
    mode: str = "overwrite",
) -> None:
    """Event-archive layout: partition by time bucket, sort within files by
    the timestamp. At 100 TB this gives (a) partition pruning on the time
    predicate every replay/backfill query carries, and (b) parquet
    row-group min/max skipping inside each partition. This is the archive
    layout the trike ingest stream writes and `parse_kinesis_records`
    replays from.
    """
    from pyspark.sql import functions as F

    # Partition label must be exactly as fine as the truncation: a "day"
    # archive labelled yyyy-MM would collapse a whole month into one
    # partition and silently lose day-level pruning.
    fmt = {"month": "yyyy-MM", "day": "yyyy-MM-dd", "hour": "yyyy-MM-dd-HH"}[granularity]
    bucket = F.date_format(F.date_trunc(granularity, F.col(ts_col)), fmt).alias("_part")
    (
        df.withColumn("_part", bucket)
        .repartition(F.col("_part"))
        # leading _part matters: the dynamic-partition writer sorts by the
        # partition column anyway — pre-sorting (_part, ts) satisfies that
        # requirement so our timestamp order survives into the files
        .sortWithinPartitions("_part", ts_col)
        .write.mode(mode)
        .partitionBy("_part")
        .parquet(path)
    )


def backfill_time_partitioned(
    df: DataFrame,
    path: str,
    ts_col: str,
    granularity: str = "day",
) -> None:
    """Idempotent backfill into a :func:`write_time_partitioned` archive:
    rewrite ONLY the time partitions present in ``df``, leaving every
    other partition untouched (``partitionOverwriteMode=dynamic``).

    This is the property a 100 TB archive operationally lives on: a
    re-run of one day's pipeline — after a bug fix, a late-data top-up, a
    crash — must replace exactly that day, never duplicate into it
    (append would) and never wipe the rest of the archive (static
    overwrite would). Running the same backfill twice converges to the
    same bytes-on-disk state."""
    from pyspark.sql import functions as F

    fmt = {"month": "yyyy-MM", "day": "yyyy-MM-dd", "hour": "yyyy-MM-dd-HH"}[granularity]
    bucket = F.date_format(F.date_trunc(granularity, F.col(ts_col)), fmt).alias("_part")
    (
        df.withColumn("_part", bucket)
        .repartition(F.col("_part"))
        .sortWithinPartitions("_part", ts_col)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_part")
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
) -> None:
    """Bucketed managed table (hash-partitioned on disk by bucket_col).

    The co-location contract: two tables bucketed the same way join WITHOUT
    a shuffle — at 100 TB this turns the recurring lineitem⋈orders join
    from the dominant exchange into a map-side zip. Bucket count is the
    a-priori analog of shuffle partitions; pick ~(total size / 128 MB).
    """
    w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def read_csv(spark: SparkSession, path: str, schema=None, header: bool = True) -> DataFrame:
    """CSV source (the reference's file-based test source reads CSV lines,
    fake_source.ex:17-36). Explicit schema preferred — inference is a full
    extra pass at scale."""
    r = spark.read.option("header", str(header).lower())
    return (r.schema(schema) if schema is not None else r.option("inferSchema", "true")).csv(path)


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines source (the shape Kinesis replay archives use)."""
    r = spark.read
    return (r.schema(schema) if schema is not None else r).json(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", header: bool = True) -> None:
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source — the other columnar lake format Spark ships natively.
    Same pushdown story as parquet (predicate pushdown, column pruning,
    min/max stripe skipping via ``spark.sql.orc.filterPushdown``, on by
    default in Spark 4), so a warehouse already materialized as ORC
    (classic Hive estates) plugs into every query here unchanged."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_text(spark: SparkSession, path: str, whole: bool = False) -> DataFrame:
    """Line-oriented text source → one ``value`` string column (plus the
    standard ``_metadata`` struct for provenance). ``whole=True`` reads
    each FILE as one row instead — the shape raw-crawl document ingest
    wants (file = document) before any parsing. At 100 TB prefer
    line-mode: whole-file rows are unsplittable, so one giant file
    becomes one task."""
    # Must go through the .text() kwarg: DataFrameReader.text re-sets
    # wholetext from its own signature, silently clobbering a prior
    # .option("wholetext", ...).
    return spark.read.text(path, wholetext=whole)


def write_text(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Sink for single-string-column frames (Spark requires exactly one
    column; callers concat/serialize first)."""
    df.write.mode(mode).text(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """binaryFile source: each file → (path, modificationTime, length,
    content binary). This is the ingest edge of the multimodal model
    (queries/multimodal.py): raw image/audio files land as opaque
    ``binary`` + typed metadata, then header-parse / feature-extract run
    as vectorized stages over the content column.

    ``glob`` pushes a pathGlobFilter (prunes at LISTING time — no bytes
    read for non-matching files); ``max_bytes`` filters on the ``length``
    metadata column, which Spark evaluates before loading content, so
    oversized blobs never transit the scan. Each file is one row and one
    task unit — fine for KB–MB media objects; shard multi-GB archives
    upstream."""
    r = spark.read.format("binaryFile")
    if glob:
        r = r.option("pathGlobFilter", glob)
    df = r.load(path)
    if max_bytes is not None:
        df = df.filter(F.col("length") <= max_bytes)
    return df


def write_zorder(
    df: DataFrame,
    path: str,
    z_col,
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet layout: range-partition by the Morton
    value (files = contiguous z-ranges) and sort within each file by it.

    Because a contiguous z-range bounds a RECTANGLE in the two interleaved
    dimensions, every file's parquet min/max footer stats become tight in
    BOTH dims — a 2-D predicate then skips most files/row-groups, where a
    single-column sort only ever prunes one dim. ``z_col`` is a Column
    built with :func:`trike_spark.operators.zorder.z_expr_spark`.
    ``repartitionByRange`` samples the z distribution so files are
    balanced even when the dims are skewed (the same mechanism a sort
    shuffle uses); asserted by ``tests/test_zorder_layout.py`` comparing
    summed row-group bounding boxes against a natural-order write."""
    if "_z" in df.columns:
        raise ValueError("write_zorder reserves column name '_z'; rename it first")
    _write_clustered(df.withColumn("_z", z_col), path, "_z", n_files, mode)


def _write_clustered(
    df: DataFrame, path: str, key: str, n_files: int, mode: str
) -> None:
    """Shared layout recipe for curve-clustered writes (Z-order, Hilbert):
    range-partition on the key (sampled split points balance skew), sort
    within each file, drop the key, write parquet. One definition so the
    two layouts can never silently diverge."""
    (
        df.repartitionByRange(n_files, key)
        .sortWithinPartitions(key)
        .drop(key)
        .write.mode(mode)
        .parquet(path)
    )


def write_hilbert(
    df: DataFrame,
    path: str,
    qx: str,
    qy: str,
    bits: int = 8,
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Hilbert-clustered parquet layout: the same range-partition +
    sort-within-file recipe as :func:`write_zorder`, keyed by the Hilbert
    distance instead of the Morton code. Because consecutive Hilbert keys
    are always geometrically adjacent (no quadrant-boundary jumps), each
    file's contiguous key range tiles a compact region and its min/max
    footer stats are tighter in BOTH dims — measured against the Z-order
    layout on identical data by ``tests/test_hilbert_layout.py``.
    ``qx``/``qy`` must be non-negative integer columns below ``2**bits``
    (quantize first — out-of-domain values fail the job loudly via the
    operator's raise_error guard)."""
    from trike_spark.operators.hilbert import with_hilbert_key

    _write_clustered(
        with_hilbert_key(df, qx, qy, out="_h", bits=bits), path, "_h", n_files, mode
    )


def write_epoch_shards(
    df: DataFrame,
    path: str,
    seed: str,
    id_col: str = "doc_id",
    n_shards: int = 8,
    mode: str = "overwrite",
) -> None:
    """Training-epoch layout write: the at-scale form of
    ``curation_epoch_shuffle`` (queries/curation.py). The query face
    proves the permutation with an auditable banded rank; at write time
    the rank is unnecessary — ``repartitionByRange`` on the
    ``md5(seed:id)`` key IS the shuffle (sampled split points spread the
    uniform hash evenly), a within-file sort by the key fixes the read
    order, and the round-robin shard becomes the partition column a
    trainer's readers each claim. A new ``seed`` re-permutes everything;
    re-running the same seed rewrites the identical layout (no RNG
    state), which is what makes epoch data reproducible across retries.

    Shard assignment here is hash-ranged (shard = the key's first 16
    bits scaled to ``n_shards``) rather than rank-modulo: near-identical
    reader-balance in expectation (a non-divisor of 65536 skews adjacent
    shards by at most one 1/65536 bucket), zero global coordination —
    each row knows its shard from its own bytes, so the write is one
    range shuffle at any corpus size."""
    if "_ek" in df.columns or "shard" in df.columns:
        raise ValueError("write_epoch_shards reserves '_ek' and 'shard'; rename first")
    if not 1 <= n_shards <= 65536:
        raise ValueError("n_shards must be in [1, 65536] (16-bit hash-ranged shards)")
    key = F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    (
        df.withColumn("_ek", key)
        .withColumn(
            "shard",
            (
                F.conv(F.substring("_ek", 1, 4), 16, 10).cast("long") * n_shards / 65536
            ).cast("int"),
        )
        .repartitionByRange(n_shards, "_ek")
        .sortWithinPartitions("_ek")
        .drop("_ek")
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(path)
    )


def compact_parquet(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_file_bytes: int = 128 << 20,
    rebalance: bool = False,
) -> int:
    """Small-file compaction (the lakehouse maintenance job every
    streaming sink eventually needs): rewrite a parquet directory into
    ⌈total_bytes / target⌉ files. Streaming sinks and fine-grained
    dynamic partitions leave thousands of KB-sized files; at 100 TB the
    resulting footer/open overhead dominates scan time and the NameNode/
    object-store listing cost grows unbounded — periodic compaction to
    ~128 MB files is the standard fix (Delta OPTIMIZE / Iceberg rewrite).

    Default is ``coalesce`` — a NARROW repack (no shuffle: existing
    partitions are concatenated), which is what you want when the input
    is merely fragmented. ``rebalance=True`` switches to ``repartition``
    (one shuffle) for when the files are also skewed. Returns the target
    file count."""
    import math

    total = 0
    for root, _dirs, files in os.walk(src_path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    n = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(src_path)
    df = df.repartition(n) if rebalance else df.coalesce(n)
    df.write.mode("overwrite").parquet(dst_path)
    return n
