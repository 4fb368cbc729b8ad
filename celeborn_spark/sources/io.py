"""Sources & sinks: format round-trips, compression codecs, partitioned
and sorted-bucketed layouts.

Reference mapping (SURVEY.md §2A): per-batch LZ4/ZSTD compression
(client/compress/Compressor.java:23, codec enum
common/protocol/CompressionCodec.java:21) -> file codec choice here and
shuffle codec in session.py; local/DFS readers
(LocalPartitionReader.java:53, DfsPartitionReader.java:56) -> the same
spark.read call against any filesystem URI; sorted range read + index
(PartitionFilesSorter.java:208) -> bucketBy().sortBy() table layout, so
later equi-joins/range scans on the key co-locate without a shuffle.

Delta/Iceberg/Hudi connectors need jars not present in this image —
gated behind import-try in read_any.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PARQUET_CODECS = ("zstd", "snappy", "gzip", "lz4", "none")
FORMATS = ("parquet", "orc", "json", "csv", "text", "avro", "xml")


def write_any(df: DataFrame, path: str, fmt: str, codec: str | None = None, mode: str = "overwrite") -> None:
    writer = df.write.mode(mode)
    if fmt == "parquet":
        writer = writer.option("compression", codec or "zstd")
        writer.parquet(path)
    elif fmt == "orc":
        writer = writer.option("compression", codec or "zstd")
        writer.orc(path)
    elif fmt == "json":
        writer = writer.option("compression", codec or "gzip") if codec != "none" else writer
        writer.json(path)
    elif fmt == "csv":
        writer.option("header", "true").csv(path)
    elif fmt == "text":
        # one string column per row — the raw-corpus interchange format
        writer = writer.option("compression", codec) if codec and codec != "none" else writer
        writer.text(path)
    elif fmt == "avro":
        # short name unregistered in this distro — see read_any
        if codec:
            writer = writer.option("compression", codec)
        writer.format(_LAKE_SOURCE_CLASSES["avro"]).save(path)
    elif fmt == "xml":
        # built-in since Spark 4 (spark-xml was folded into core);
        # rowTag is mandatory on both sides of the round trip
        writer.format("xml").option("rowTag", "row").save(path)
    else:
        raise ValueError(f"unsupported format {fmt!r}; known: {FORMATS}")


def read_any(
    spark: SparkSession,
    path: str,
    fmt: str,
    schema=None,
    merge_schema: bool = False,
    mode: str | None = None,
) -> DataFrame:
    """merge_schema=True reconciles parquet files written under evolved
    schemas (added columns arrive as nulls on old files) — footer-level
    union, so it costs one extra footer pass at planning, not a data
    rewrite. The default stays off: at 100 TB the union over every
    file's footer is a planning-time tax you only pay when the lake
    actually evolved."""
    if fmt == "parquet":
        r = spark.read
        if merge_schema:
            r = r.option("mergeSchema", "true")
        return r.parquet(path)
    if fmt == "orc":
        return spark.read.orc(path)
    if fmt == "json":
        # mode: PERMISSIVE (default; corrupt rows null-fill, raw text
        # lands in _corrupt_record when the schema declares it),
        # DROPMALFORMED, or FAILFAST — the dirty-data contract a real
        # ingest needs (crawl dumps and log shippers emit bad lines).
        r = spark.read.option("mode", mode) if mode else spark.read
        return (r.schema(schema) if schema else r).json(path)
    if fmt == "csv":
        r = spark.read.option("header", "true")
        if mode:
            r = r.option("mode", mode)
        return (r.schema(schema) if schema else r.option("inferSchema", "true")).csv(path)
    if fmt == "text":
        return spark.read.text(path)
    if fmt == "binaryFile":
        # whole-file binary ingestion (path, modificationTime, length,
        # content) — the entry point for raw image/audio/video blobs
        # feeding operators/multimodal.py; pathGlobFilter/recursive
        # lookup push file pruning into the listing, and each file is
        # one row so partitioning follows the file layout.
        return spark.read.format("binaryFile").load(path)
    if fmt == "avro":
        # spark-avro CLASSES ship in this distro but the short name
        # carries no META-INF data-source registration (the "external
        # module since 2.4" error) — address the provider class
        # directly; gate honestly if the class is truly absent.
        if not lake_format_available(spark, "avro"):  # pragma: no cover
            raise NotImplementedError(
                "avro requires the spark-avro classes on the classpath"
            )
        return spark.read.format(_LAKE_SOURCE_CLASSES["avro"]).load(path)
    if fmt == "xml":
        # element order inside a rowTag is not positional schema order;
        # pass an explicit schema to keep round-trip column order (and
        # types — XML text is stringly otherwise) stable.
        r = spark.read.format("xml").option("rowTag", "row")
        return (r.schema(schema) if schema else r).load(path)
    if fmt in ("delta", "iceberg", "hudi"):
        try:  # connector jars not shipped in this image
            return spark.read.format(fmt).load(path)
        except Exception as exc:  # pragma: no cover
            raise NotImplementedError(
                f"{fmt} requires its connector jars on the classpath"
            ) from exc
    raise ValueError(f"unsupported format {fmt!r}")


_LAKE_SOURCE_CLASSES = {
    "delta": "org.apache.spark.sql.delta.sources.DeltaDataSource",
    "iceberg": "org.apache.iceberg.spark.source.IcebergSource",
    "hudi": "org.apache.hudi.DefaultSource",
    "avro": "org.apache.spark.sql.avro.AvroFileFormat",
}


def lake_format_available(spark: SparkSession, fmt: str) -> bool:
    """Runtime capability check: is the lake-format connector actually
    on the JVM classpath? Callers branch on this instead of try/excepting
    a whole write — the transactional MERGE path is taken when the jar
    is present, the relational emulation (operators/merge.py) otherwise.
    Reference analogue: tiered DFS/S3/OSS writers are selected by
    deployment capability, worker/.../storage/TierWriter.scala:381-517."""
    cls = _LAKE_SOURCE_CLASSES.get(fmt)
    if cls is None:
        raise ValueError(f"unknown lake format {fmt!r}; known: {sorted(_LAKE_SOURCE_CLASSES)}")
    try:
        spark._jvm.java.lang.Class.forName(cls)  # noqa: SLF001
        return True
    except Exception:
        return False


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_col: str | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ceil(total_bytes / target_file_bytes) files (optionally sorted so
    row-group min/max pruning works on `sort_col` afterwards). Returns
    the output file count.

    The operational fix for streaming/micro-batch sinks that accrete
    thousands of tiny files — at 100 TB, listing and footer overhead on
    an uncompacted directory dominates scan time. The rewrite goes to a
    sibling staging directory (``<path>.compact-staging``) and is swapped
    in with two renames only after the write succeeded: the originals
    are never deleted before the compacted copy is committed on disk, so
    a failed write leaves the table as it was."""
    import math
    import os as _os
    import shutil

    # Input sizing walks the LOCAL filesystem; on an object-store/DFS URI
    # os.walk silently yields total=0 → n_files=1 → the whole dataset
    # rewritten into a single file. Fail loudly instead; the scale path
    # is the Hadoop FileSystem API (jvm fs.globStatus), not os.walk.
    if "://" in path and not path.startswith("file://"):
        raise ValueError(
            f"compact_parquet sizes input via the local filesystem; "
            f"non-local path {path!r} is not supported"
        )
    # os.walk cannot walk a file:// URI (it would yield total=0 and the
    # whole dataset would be rewritten into ONE file — the exact failure
    # the guard above exists to prevent); strip the scheme for sizing
    # while spark.read keeps the original path.
    local = path[len("file://"):] if path.startswith("file://") else path
    total = sum(
        _os.path.getsize(_os.path.join(dp, f))
        for dp, _, fs in _os.walk(local)
        for f in fs
        if f.endswith(".parquet")
    )
    if total == 0:
        raise ValueError(f"no parquet data found under {path!r}; refusing to rewrite")
    n_files = max(1, math.ceil(total / target_file_bytes))
    staging = path.rstrip("/") + ".compact-staging"
    local_staging = local.rstrip("/") + ".compact-staging"
    local_old = local.rstrip("/") + ".compact-old"
    if _os.path.isdir(local_staging):
        # left by an interrupted compaction; the originals are intact
        shutil.rmtree(local_staging)
    df = spark.read.parquet(path)
    (
        df.repartitionByRange(n_files, sort_col).sortWithinPartitions(sort_col)
        if sort_col
        else df.repartition(n_files)
    ).write.parquet(staging)  # default mode: refuses an existing path
    _os.rename(local, local_old)
    try:
        _os.rename(local_staging, local)
    except BaseException:
        _os.rename(local_old, local)
        raise
    shutil.rmtree(local_old)
    # drop cached plans over the old files, as an overwrite would
    spark.catalog.refreshByPath(path)
    return n_files


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str], fmt: str = "parquet") -> None:
    """Hive-style partitioned layout: later filters on the partition
    columns prune whole directories before any IO (partition pruning —
    the coarsest-granularity analogue of the reference's mapId bitmap
    skip, CelebornInputStream.skipLocation:364)."""
    df.write.mode("overwrite").partitionBy(*partition_cols).format(fmt).save(path)


def write_sorted_buckets(
    df: DataFrame, table: str, bucket_col: str, n_buckets: int, path: str | None = None
) -> None:
    """Bucketed + sorted table: joins/aggs on bucket_col co-locate
    without an exchange, and range scans on the sort key prune — the
    declarative analogue of the reference's sort-on-first-range-read
    with cached per-map index (PartitionFilesSorter.java:208-935)."""
    writer = (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
    )
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def zorder_value(col_a, col_b, min_a, max_a, min_b, max_b, bits: int = 16):
    """Z-order (Morton) value of two columns: each value min-max scaled
    to a [0, 2^bits) integer grid cell, then bit-interleaved (a in even
    bit positions, b in odd). Rows close in BOTH dimensions get close
    z-values, so a z-sorted file layout gives parquet row-group min/max
    pruning on EITHER filter column — the standard multi-dimensional
    clustering technique for 100 TB lake tables (one sort key serves
    every dimension, where a plain sort serves only its leading column).

    All-integer arithmetic after the grid snap (floor of the scaled
    double), so the value is engine-exact and oracle-checkable. Bounds
    are passed in (from a prior stats aggregate or known domain) —
    computing them inline would force a second scan per call.

    Reference analogue: extends the sorted-range-read idea (worker
    PartitionFilesSorter.java:208, SURVEY §2A A14 — sort once so range
    reads skip) from one key to an interleaved multi-dimensional key."""
    from pyspark.sql import functions as F

    # Literal bounds with zero/negative span divide by zero: Spark's
    # non-ANSI x/0 yields NULL (least() then silently returns the clamp)
    # while DuckDB produces inf and errors on the BIGINT cast — a silent
    # engine divergence. Fail loudly here. Column-expression bounds (from
    # a stats aggregate) can't be checked statically: the CONTRACT is
    # that they span a nonzero range (true whenever the column has >1
    # distinct value; a constant column has no z-order to contribute).
    for lo, hi, dim in ((min_a, max_a, "a"), (min_b, max_b, "b")):
        if isinstance(lo, (int, float)) and isinstance(hi, (int, float)) and hi - lo <= 0:
            raise ValueError(
                f"zorder_value dimension {dim!r}: bounds [{lo}, {hi}] have "
                f"non-positive span; a constant column cannot be z-ordered"
            )
    span_a = max_a - min_a
    span_b = max_b - min_b
    cells = (1 << bits) - 1
    ga = F.least(
        F.lit(cells),
        F.floor(((col_a if not isinstance(col_a, str) else F.col(col_a)) - min_a)
                / span_a * (1 << bits)).cast("long"),
    )
    gb = F.least(
        F.lit(cells),
        F.floor(((col_b if not isinstance(col_b, str) else F.col(col_b)) - min_b)
                / span_b * (1 << bits)).cast("long"),
    )
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(ga, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(gb, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def zorder_oracle_expr(
    a_sql: str, b_sql: str, min_a, max_a, min_b, max_b, bits: int = 16
) -> str:
    """DuckDB expression mirroring zorder_value bit for bit. Bounds may
    be numeric literals or SQL column references (e.g. a stats CTE's
    columns) — the expression tree keeps the exact association order of
    the Spark side, so the IEEE double grid snap is identical. Same
    contract as zorder_value: bounds must span a nonzero range."""
    cells = (1 << bits) - 1
    ga = (
        f"least({cells}, CAST(floor(({a_sql} - {min_a}) / ({max_a} - {min_a})"
        f" * {1 << bits}) AS BIGINT))"
    )
    gb = (
        f"least({cells}, CAST(floor(({b_sql} - {min_b}) / ({max_b} - {min_b})"
        f" * {1 << bits}) AS BIGINT))"
    )
    terms = []
    for i in range(bits):
        terms.append(f"((({ga} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({gb} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def write_zordered(
    df: DataFrame,
    path: str,
    z_col,
    n_files: int,
) -> None:
    """Write a z-clustered parquet layout: range-partition by the
    z-value and sort within each file, so every file's row groups hold
    a compact z-range — min/max footer stats then prune on each
    original dimension independently."""
    staged = (
        df.withColumn("_z", z_col)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        if not isinstance(z_col, str)
        else df.repartitionByRange(n_files, z_col).sortWithinPartitions(z_col)
    )
    staged.write.mode("overwrite").parquet(path)


def write_bloom_indexed(
    df,
    path: str,
    bloom_cols: list[str],
    expected_ndv: int | None = None,
    n_files: int | None = None,
) -> None:
    """Write parquet with per-column bloom filters — the point-lookup
    skip index for UNSORTED high-cardinality keys, where min/max row-
    group stats cannot prune (every row group spans the whole domain).
    The reference's mapId-bitmap range filter is the same idea at the
    data plane: a compact per-location membership structure lets a
    reader skip files containing none of the requested keys
    (CelebornInputStream.skipLocation:364-380,
    common/.../PartitionLocation.java mapIdBitMap). Sorted layouts
    (write_sorted_buckets, write_zordered) serve RANGE predicates;
    bloom filters serve `key = x` / `key IN (...)` on keys with no
    exploitable order — the lakehouse lookup-table layout.

    ``expected_ndv`` sizes the filter (parquet-mr defaults to 1M NDV /
    ~1 MiB per filter otherwise — set it for small files)."""
    out = df.coalesce(n_files) if n_files else df
    w = out.write.mode("overwrite")
    for c in bloom_cols:
        w = w.option(f"parquet.bloom.filter.enabled#{c}", "true")
        if expected_ndv is not None:
            w = w.option(f"parquet.bloom.filter.expected.ndv#{c}", str(expected_ndv))
    w.parquet(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = False,
    max_file_bytes: int | None = None,
) -> DataFrame:
    """Raw-asset ingestion via Spark's built-in `binaryFile` source:
    each file becomes one row (path, modificationTime, length,
    content binary) — the entry point of the multimodal pipeline
    (queries/multimodal.py consumes exactly this shape: opaque binary
    + typed metadata, then Arrow-batched decode kernels). Column-prunes
    like any V2 source: a metadata-only query (count, size audit)
    never reads file CONTENT bytes, just the listing.

    ``glob`` filters file names (e.g. ``*.png``); ``recursive``
    descends subdirectories; ``max_file_bytes`` guards against a
    single giant asset blowing an executor (files above the bound are
    FILTERED with a pushed length predicate, not failed — a 100 TB
    crawl always contains a few pathological objects; route them to a
    chunked path via multimodal.chunk_binary instead).

    Reference analogue: partition readers dispatch by format
    (client-spark/.../CelebornShuffleReader behaviour is
    format-agnostic bytes-in); here the format registry is Spark's
    DataSource V2."""
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    df = reader.load(path)
    if max_file_bytes is not None:
        df = df.filter(F.col("length") <= max_file_bytes)
    return df
