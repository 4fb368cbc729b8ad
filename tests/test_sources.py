"""Format/codec round-trips, partitioned writes with pruning, bucketed
tables joining without an exchange."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from celeborn_spark.catalog import load_table
from celeborn_spark.plans import count_exchanges, explain_formatted
from celeborn_spark.sources import (
    read_any,
    write_any,
    write_partitioned,
    write_sorted_buckets,
)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="celeborn_spark_io_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json", "csv"])
def test_format_round_trip(spark, sf_dir, tmpdir, fmt):
    src = load_table(spark, sf_dir, "nation")
    write_any(src, f"{tmpdir}/t", fmt)
    back = read_any(spark, f"{tmpdir}/t", fmt)
    got = {(r.n_nationkey, r.n_name, r.n_regionkey) for r in
           back.select("n_nationkey", "n_name", "n_regionkey")
               .withColumn("n_nationkey", F.col("n_nationkey").cast("int"))
               .withColumn("n_regionkey", F.col("n_regionkey").cast("int")).collect()}
    want = {(r.n_nationkey, r.n_name, r.n_regionkey) for r in src.collect()}
    assert got == want


@pytest.mark.parametrize("codec", ["zstd", "snappy", "lz4", "none"])
def test_parquet_codecs(spark, sf_dir, tmpdir, codec):
    """Reference A8: per-batch LZ4/ZSTD/NONE compression — here the
    parquet file codec; results must be identical under every codec."""
    src = load_table(spark, sf_dir, "supplier")
    write_any(src, f"{tmpdir}/c", "parquet", codec=codec)
    back = read_any(spark, f"{tmpdir}/c", "parquet")
    assert back.count() == src.count()
    assert sorted(back.columns) == sorted(src.columns)


def test_partitioned_write_prunes(spark, sf_dir, tmpdir):
    src = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    write_partitioned(src, f"{tmpdir}/p", ["order_year"])
    back = read_any(spark, f"{tmpdir}/p", "parquet").filter(F.col("order_year") == 1996)
    plan = explain_formatted(back)
    assert "PartitionFilters" in plan and "order_year" in plan, plan[:1500]
    want = src.filter(F.col("order_year") == 1996).count()
    assert back.count() == want


def test_bucketed_join_has_no_exchange_on_bucketed_sides(spark, sf_dir, tmpdir):
    """Reference A14 analogue: pre-sorted co-located layout removes the
    join exchange entirely."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    write_sorted_buckets(orders.withColumnRenamed("o_custkey", "custkey"),
                         "orders_b", "custkey", 8, f"{tmpdir}/ob")
    write_sorted_buckets(customer.withColumnRenamed("c_custkey", "custkey"),
                         "customer_b", "custkey", 8, f"{tmpdir}/cb")
    a = spark.table("orders_b")
    b = spark.table("customer_b")
    joined = a.join(b, "custkey")
    assert count_exchanges(joined) == 0, explain_formatted(joined)[:2000]
    want = orders.join(customer, orders.o_custkey == customer.c_custkey).count()
    assert joined.count() == want


def test_text_round_trip(spark, sf_dir, tmpdir):
    """Raw-corpus interchange: one string column per row."""
    src = load_table(spark, sf_dir, "documents").select(F.col("text").alias("value"))
    write_any(src, f"{tmpdir}/txt", "text")
    back = read_any(spark, f"{tmpdir}/txt", "text")
    assert back.schema.fieldNames() == ["value"]
    got = {r.value for r in back.collect()}
    want = {r.value for r in src.collect()}
    assert got == want


def test_binary_file_source_reads_blobs(spark, tmpdir):
    """Multimodal ingestion path: whole files arrive as binary content
    plus typed metadata — the schema operators/multimodal.py consumes."""
    blobs = {"a.bin": b"\x89PNG-fake", "b.bin": b"RIFF-fake-wav"}
    import pathlib

    for name, payload in blobs.items():
        pathlib.Path(tmpdir, name).write_bytes(payload)
    df = read_any(spark, tmpdir, "binaryFile")
    assert {"path", "modificationTime", "length", "content"} <= set(df.schema.fieldNames())
    rows = {r.path.rsplit("/", 1)[-1]: bytes(r.content) for r in df.collect()}
    assert rows == blobs
    lengths = {r.path.rsplit("/", 1)[-1]: r.length for r in df.collect()}
    assert lengths == {n: len(p) for n, p in blobs.items()}


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """A lake dir whose later files carry an added column: mergeSchema
    reconciles (old rows null-fill); the default read plans on one
    footer and may miss the new column."""
    from celeborn_spark.sources.io import read_any

    base = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(base + "/p=1")
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, v string, score double"
    ).write.parquet(base + "/p=2")
    merged = read_any(spark, base, "parquet", merge_schema=True)
    assert set(merged.columns) >= {"id", "v", "score"}
    rows = {r.id: r.score for r in merged.select("id", "score").collect()}
    assert rows[2] == 9.5 and rows[1] is None


def test_compact_parquet_merges_small_files(spark, tmp_path):
    """200 tiny files -> a handful sized to the byte target; data
    identical; sorted variant leaves row-group-prunable layout."""
    import glob

    from celeborn_spark.sources.io import compact_parquet

    path = str(tmp_path / "tiny")
    df = spark.range(0, 10_000).withColumnRenamed("id", "k")
    df.repartition(200).write.parquet(path)
    n_before = len(glob.glob(path + "/*.parquet"))
    assert n_before >= 100
    compact_parquet(spark, path, target_file_bytes=1 << 20, sort_col="k")
    n_after = len(glob.glob(path + "/*.parquet"))
    assert n_after < n_before / 10
    out = spark.read.parquet(path)
    assert out.count() == 10_000
    assert out.agg({"k": "sum"}).first()[0] == sum(range(10_000))


def test_compact_parquet_failed_write_keeps_originals(spark, tmp_path):
    """The rewrite is staged beside the table and swapped in only after
    it succeeded: a write that fails (here: the staging path is taken by
    a regular file) leaves every original file and row in place."""
    import glob

    import pytest

    from celeborn_spark.sources.io import compact_parquet

    path = str(tmp_path / "t")
    spark.range(0, 5_000).repartition(20).write.parquet(path)
    before = sorted(glob.glob(path + "/*"))
    (tmp_path / "t.compact-staging").write_text("not a directory")
    with pytest.raises(Exception):
        compact_parquet(spark, path, target_file_bytes=1 << 20)
    assert sorted(glob.glob(path + "/*")) == before
    assert spark.read.parquet(path).count() == 5_000
    assert (tmp_path / "t.compact-staging").read_text() == "not a directory"


def test_compact_parquet_leaves_no_staging_directory(spark, tmp_path):
    import os

    from celeborn_spark.sources.io import compact_parquet

    path = str(tmp_path / "t")
    spark.range(0, 5_000).repartition(20).write.parquet(path)
    assert compact_parquet(spark, path, target_file_bytes=1 << 20) == 1
    assert sorted(os.listdir(tmp_path)) == ["t"]
    assert spark.read.parquet(path).count() == 5_000


def test_compact_parquet_rejects_object_store_paths(spark):
    """os.walk sizing sees 0 bytes on s3a://hdfs:// paths -> the whole
    dataset would be rewritten into ONE file; fail loudly instead
    (ADVICE r4)."""
    import pytest

    from celeborn_spark.sources.io import compact_parquet

    for path in ("s3a://bucket/table", "hdfs://nn/warehouse/t"):
        with pytest.raises(ValueError, match="non-local"):
            compact_parquet(spark, path)


def test_dirty_json_malformed_row_modes(spark, tmp_path):
    """Crawl dumps emit bad lines; the three contracts: PERMISSIVE
    null-fills and captures raw text, DROPMALFORMED silently drops,
    FAILFAST raises."""
    import pathlib

    import pytest
    from pyspark.sql import types as T

    from celeborn_spark.sources.io import read_any

    p = tmp_path / "dirty.json"
    pathlib.Path(p).write_text(
        '{"id": 1, "v": "ok"}\n'
        "THIS IS NOT JSON\n"
        '{"id": 2, "v": "also ok"}\n'
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    perm = read_any(spark, str(p), "json", schema=schema, mode="PERMISSIVE")
    rows = perm.collect()
    assert len(rows) == 3
    corrupt = [r for r in rows if r._corrupt_record is not None]
    assert len(corrupt) == 1 and corrupt[0].id is None

    dropped = read_any(
        spark,
        str(p),
        "json",
        schema=T.StructType(schema.fields[:2]),
        mode="DROPMALFORMED",
    )
    assert {r.id for r in dropped.collect()} == {1, 2}

    # runtime task failures surface as Py4J-wrapped SparkException, not
    # a pyspark CapturedException — match on the message instead
    with pytest.raises(Exception, match="FAILED_READ_FILE|Malformed"):
        read_any(
            spark, str(p), "json",
            schema=T.StructType(schema.fields[:2]), mode="FAILFAST",
        ).collect()


def test_zorder_value_matches_python_reference(spark):
    """Bit-interleave correctness vs a direct Python Morton encode on a
    known grid (bounds chosen so the snap is exact)."""
    from pyspark.sql import functions as F

    from celeborn_spark.sources.io import zorder_value

    pts = [(float(a), float(b)) for a in range(8) for b in range(8)]
    df = spark.createDataFrame(pts, "a double, b double")
    z = zorder_value(F.col("a"), F.col("b"), 0.0, 8.0, 0.0, 8.0, bits=3)
    got = {(r.a, r.b): r.z for r in df.select("a", "b", z.alias("z")).collect()}

    def morton(x: int, y: int) -> int:
        out = 0
        for i in range(3):
            out |= ((x >> i) & 1) << (2 * i)
            out |= ((y >> i) & 1) << (2 * i + 1)
        return out

    for a, b in pts:
        assert got[(a, b)] == morton(int(a), int(b)), (a, b)


def test_zordered_layout_prunes_on_both_dims(spark, tmp_path):
    """A z-clustered file layout keeps BOTH dimensions' footer min/max
    ranges narrow per file, so a selective filter on either column can
    skip most files — the property a leading-column sort cannot give
    for the second column."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from celeborn_spark.sources.io import write_zordered, zorder_value

    n = 1 << 14
    df = spark.range(n).select(
        (F.pmod(F.xxhash64("id"), F.lit(1000)) / 10.0).alias("x"),
        (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1000)) / 10.0).alias("y"),
    )
    path = str(tmp_path / "zt")
    z = zorder_value(F.col("x"), F.col("y"), 0.0, 100.0, 0.0, 100.0, bits=10)
    write_zordered(df, path, z, n_files=16)

    files = glob.glob(path + "/*.parquet")
    assert len(files) >= 8

    # per-file min/max on each dim via pyarrow column statistics
    def files_overlapping(col: str, lo: float, hi: float) -> int:
        hits = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            names = [md.schema.column(j).name for j in range(md.num_columns)]
            idx = names.index(col)
            fmin = min(md.row_group(i).column(idx).statistics.min
                       for i in range(md.num_row_groups))
            fmax = max(md.row_group(i).column(idx).statistics.max
                       for i in range(md.num_row_groups))
            if fmax >= lo and fmin <= hi:
                hits += 1
        return hits

    for col in ("x", "y"):
        assert files_overlapping(col, 10.0, 20.0) <= len(files) * 0.6, col


def test_zorder_vs_plain_sort_pruning_measured(spark, tmp_path):
    """The z-order WIN, measured (VERDICT r5 item 6): ~100 files written
    plain-sorted on x vs z-ordered on (x, y); a selective filter on the
    NON-leading dimension y must overlap (i.e. be forced to scan) far
    fewer files/row-groups under z-order, while plain sort — whose
    per-file y ranges all span the whole domain — can prune almost
    nothing. Measured numbers are recorded in COVERAGE.md per round."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from celeborn_spark.sources.io import write_zordered, zorder_value

    n = 1 << 17
    df = spark.range(n).select(
        (F.pmod(F.xxhash64("id"), F.lit(10000)) / 100.0).alias("x"),
        (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(10000)) / 100.0).alias("y"),
    )
    n_files = 96
    plain = str(tmp_path / "plain")
    (
        df.repartitionByRange(n_files, "x")
        .sortWithinPartitions("x")
        .write.parquet(plain)
    )
    zpath = str(tmp_path / "zord")
    z = zorder_value(F.col("x"), F.col("y"), 0.0, 100.0, 0.0, 100.0, bits=12)
    write_zordered(df, zpath, z, n_files=n_files)

    def overlap_stats(path: str, col: str, lo: float, hi: float):
        files = glob.glob(path + "/*.parquet")
        f_hits = rg_hits = rg_total = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            names = [md.schema.column(j).name for j in range(md.num_columns)]
            idx = names.index(col)
            any_rg = False
            for i in range(md.num_row_groups):
                rg_total += 1
                st = md.row_group(i).column(idx).statistics
                if st.max >= lo and st.min <= hi:
                    rg_hits += 1
                    any_rg = True
            f_hits += any_rg
        return len(files), f_hits, rg_hits, rg_total

    lo, hi = 10.0, 16.0  # a 6% selective band on y
    pn, pf, prg, prgt = overlap_stats(plain, "y", lo, hi)
    zn, zf, zrg, zrgt = overlap_stats(zpath, "y", lo, hi)
    assert pn >= 64 and zn >= 64
    # plain sort on x leaves y unclustered: essentially every file must
    # be scanned for a y predicate
    assert pf >= pn * 0.9, (pf, pn)
    # z-order prunes the majority of files AND row groups on y — the
    # dimension the plain sort cannot serve
    assert zf <= zn * 0.5, (zf, zn)
    assert zrg <= zrgt * 0.5, (zrg, zrgt)
    print(
        f"\nzorder-pruning y in [{lo},{hi}]: plain {pf}/{pn} files "
        f"{prg}/{prgt} row-groups; zorder {zf}/{zn} files {zrg}/{zrgt} row-groups"
    )
    # ... and the leading dimension x still prunes under BOTH layouts
    _, pfx, _, _ = overlap_stats(plain, "x", lo, hi)
    _, zfx, _, _ = overlap_stats(zpath, "x", lo, hi)
    assert pfx <= pn * 0.2, (pfx, pn)
    assert zfx <= zn * 0.5, (zfx, zn)


def test_bloom_indexed_write_membership_and_pruning_path(spark, tmp_path):
    """Parquet bloom-filter layout (A15 mapId-bitmap analogue): on an
    UNSORTED high-cardinality key every row group's min/max spans the
    whole domain (stats prune nothing), but the written bloom filter
    answers point membership: all present keys found, absent keys
    nearly all rejected — the reader's skip path for key = x lookups.
    Asserted through parquet-mr itself (the reader Spark uses)."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from celeborn_spark.sources.io import write_bloom_indexed

    n = 100_000
    df = spark.range(n).select(
        F.pmod(F.xxhash64("id"), F.lit(10 * n)).cast("int").alias("k"),
        F.col("id").alias("v"),
    )
    path = str(tmp_path / "bloomed")
    write_bloom_indexed(df, path, ["k"], expected_ndv=n, n_files=2)

    files = sorted(glob.glob(path + "/*.parquet"))
    assert len(files) == 2

    # stats alone cannot prune: every row group's k range spans ~the domain
    for f in files:
        md = pq.ParquetFile(f).metadata
        names = [md.schema.column(j).name for j in range(md.num_columns)]
        idx = names.index("k")
        for i in range(md.num_row_groups):
            st = md.row_group(i).column(idx).statistics
            assert st.max - st.min > 8 * n  # unsorted: full-domain spread

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    f = files[0]
    infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        jvm.org.apache.hadoop.fs.Path(f), conf
    )
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
    try:
        cols = reader.getFooter().getBlocks().get(0).getColumns()
        by_name = {
            cols.get(i).getPath().toDotString(): cols.get(i)
            for i in range(cols.size())
        }
        # bloom on the indexed column only
        assert by_name["k"].getBloomFilterOffset() >= 0
        assert by_name["v"].getBloomFilterOffset() < 0
        bf = reader.readBloomFilter(by_name["k"])
        present = [r.k for r in spark.read.parquet(f).limit(100).collect()]
        assert all(bf.findHash(bf.hash(k)) for k in present)
        absent = range(20 * n, 20 * n + 500)  # beyond the pmod domain
        fp = sum(1 for x in absent if bf.findHash(bf.hash(x)))
        assert fp <= 25, f"false-positive rate too high: {fp}/500"
    finally:
        reader.close()


def test_read_binary_files_glob_and_bound(spark, tmp_path):
    from celeborn_spark.sources.io import read_binary_files

    d = tmp_path / "assets"
    d.mkdir()
    (d / "a.png").write_bytes(b"\x89PNG" + b"x" * 10)
    (d / "b.png").write_bytes(b"\x89PNG" + b"y" * 500)
    (d / "c.txt").write_bytes(b"not an image")
    sub = d / "nested"
    sub.mkdir()
    (sub / "d.png").write_bytes(b"\x89PNG")

    flat = read_binary_files(spark, str(d), glob="*.png")
    assert flat.count() == 2  # c.txt filtered, nested not recursed
    rec = read_binary_files(spark, str(d), glob="*.png", recursive=True)
    assert rec.count() == 3
    bounded = read_binary_files(
        spark, str(d), glob="*.png", max_file_bytes=100
    )
    names = sorted(r.path.rsplit("/", 1)[-1] for r in bounded.collect())
    assert names == ["a.png"]
    row = bounded.filter(F.col("path").endswith("a.png")).collect()[0]
    assert bytes(row.content).startswith(b"\x89PNG")
    assert row.length == 14
