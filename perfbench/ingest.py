"""Ingest steps: lineitem written through ``sources.io`` after a key
repartition, compacted in place, then a pruned range read of what was
written.

Each step is timed by the runner; its check (untimed) reads the written
files back with DuckDB and compares the row count and an order-insensitive
checksum with the source, and compares the pruned read with a DuckDB
filter over the source.
"""

from __future__ import annotations

import os

COLUMNS = (
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate",
)
_CHECKSUM = "SELECT count(*), sum(hash({})) FROM {}".format(", ".join(COLUMNS), "{}")


def parquet_files(path: str) -> list[str]:
    return [os.path.join(dp, f) for dp, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]


class Ingest:
    """Steps of one ingest pass over ``src_dir`` into ``out_dir``."""

    def __init__(self, runner, con, src_dir: str, out_dir: str, lo: str, hi: str):
        self.runner = runner
        self.src_dir = src_dir
        self.out = os.path.join(out_dir, "lineitem")
        self.lo, self.hi = lo, hi
        self.con = con
        self.expected = self.con.execute(_CHECKSUM.format("lineitem")).fetchone()
        self.input_bytes = os.path.getsize(os.path.join(src_dir, "lineitem.parquet"))
        self._pruned_want = None

    def steps(self) -> dict:
        """Step name -> (run, check)."""
        return {
            "write_repartitioned": (self.write_repartitioned, self._check_roundtrip),
            "compact_parquet": (self.compact, self._check_roundtrip),
            "read_pruned": (self.read_pruned, self._check_pruned),
        }

    def _source(self):
        with self.runner.span("queries.build"):
            return self.runner.load_table(self.runner.spark, self.src_dir, "lineitem")

    def _written(self) -> None:
        files = parquet_files(self.out)
        self.runner.count("io.files_written", len(files))
        self.runner.count("io.bytes_written", sum(os.path.getsize(f) for f in files))
        self.runner.count("io.user_bytes", self.input_bytes)

    def write_repartitioned(self):
        from celeborn_spark.sources.io import write_any

        df = self._source()
        with self.runner.span("queries.build"):
            df = df.repartition(self.runner.cores, "l_orderkey")
        with self.runner.span("io.write"):
            write_any(df, self.out, "parquet")
        self._written()

    def compact(self):
        from celeborn_spark.sources.io import compact_parquet

        with self.runner.span("io.write"):
            compact_parquet(self.runner.spark, self.out, target_file_bytes=4 << 20,
                            sort_col="l_shipdate")
        self._written()

    def read_pruned(self):
        from celeborn_spark.sources.io import read_any

        with self.runner.span("io.read_pruned"):
            with self.runner.span("queries.build"):
                df = read_any(self.runner.spark, self.out, "parquet").where(
                    f"l_shipdate >= '{self.lo}' AND l_shipdate < '{self.hi}'"
                )
            self.runner.plan(df)
            with self.runner.span("exec.action"):
                pdf = df.toPandas()
        self.runner.count_scan_files()
        return pdf

    def _check_roundtrip(self, _result) -> None:
        got = self.con.execute(_CHECKSUM.format(f"'{self.out}/*.parquet'")).fetchone()
        if got != self.expected:
            raise AssertionError(f"written lineitem: (rows, checksum) {got} != input {self.expected}")

    def _check_pruned(self, result) -> None:
        from tests.oracle import assert_matches_oracle

        sql = f"SELECT * FROM lineitem WHERE l_shipdate >= '{self.lo}' AND l_shipdate < '{self.hi}'"
        if self._pruned_want is None:
            self._pruned_want = self.con.execute(sql).fetchdf()
            if len(self._pruned_want) == 0:
                raise AssertionError(f"pruned range [{self.lo}, {self.hi}) selects no rows")
        assert_matches_oracle(Collected(result), Collected(self._pruned_want), sql, "read_pruned")


class Collected:
    """An already-collected result standing in for a Spark DataFrame or a
    DuckDB connection in ``tests.oracle.assert_matches_oracle``."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 - the Spark DataFrame method name
        return self._pdf

    def execute(self, _sql):
        return self

    def fetchdf(self):
        return self._pdf
