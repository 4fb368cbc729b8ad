"""k-means Lloyd iterations: convergence (SSE non-increasing per
round), total assignment, determinism, the driver-resident centroid plan
shape and the exactness of the centroid constant."""

from __future__ import annotations

from pyspark.sql import functions as F

from celeborn_spark.catalog import load_table
from celeborn_spark.operators import kmeans as K


def _sse(assignment) -> float:
    return assignment.agg(F.sum(F.col("dist") * F.col("dist"))).collect()[0][0]


def test_lloyd_sse_non_increasing(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    sses = [_sse(K.lloyd_iterations(emb, k=4, iters=i)) for i in range(3)]
    for a, b in zip(sses, sses[1:]):
        # 6dp rounding of centroids/distances can wiggle the last digit
        assert b <= a * 1.0001, f"SSE increased across a Lloyd round: {sses}"
    assert sses[-1] < sses[0], f"two rounds never improved SSE: {sses}"


def test_every_vector_assigned_once(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    out = K.lloyd_iterations(emb, k=4, iters=2)
    n = emb.count()
    assert out.count() == n
    assert out.select("vec_id").distinct().count() == n
    clusters = {r.cluster for r in out.select("cluster").distinct().collect()}
    seeds = {r.vec_id for r in emb.orderBy("vec_id").limit(4).collect()}
    assert clusters <= seeds, f"cluster ids {clusters} not from seed ids {seeds}"
    assert len(clusters) >= 2, "k-means collapsed to a single cluster"


def test_deterministic_across_runs(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    a = sorted(map(tuple, K.lloyd_iterations(emb, k=4, iters=2).collect()))
    b = sorted(map(tuple, K.lloyd_iterations(emb, k=4, iters=2).collect()))
    assert a == b


def test_fit_never_shuffles_joins_or_windows_the_vectors(spark, sf_dir, monkeypatch):
    """Centroids stay on the driver: no plan of the fit joins, windows or
    exchanges the vectors by id, and each Lloyd round's one exchange is
    the map-combined (cluster, pos) mean aggregation."""
    import re

    emb = load_table(spark, sf_dir, "embeddings")
    DataFrame = type(emb)
    plans = []
    collect = DataFrame.collect

    def recording_collect(self):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return collect(self)

    monkeypatch.setattr(DataFrame, "collect", recording_collect)
    out = K.lloyd_iterations(emb, k=4, iters=2)
    monkeypatch.undo()
    plans.append(out._jdf.queryExecution().executedPlan().toString())
    assert len(plans) == 4, "expected seeds + 2 rounds + the lazy result"
    for plan in plans:
        assert "Join" not in plan, plan[:2500]
        assert "Window" not in plan, plan[:2500]
        assert not re.search(r"hashpartitioning\(vec_id", plan), plan[:2500]
    for plan in plans[1:3]:
        keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        assert keys and all(
            re.fullmatch(r"cluster#\d+L?, pos#\d+, \d+", key) for key in keys
        ), plan[:2500]
    assert "Exchange" not in plans[3], "the final assignment must be map-only"


def test_centroid_constant_round_trips_doubles_exactly(spark):
    import struct

    values = [0.1 + 0.2, 1e-300, -0.0, 5e-324, 1.7976931348623157e308, -2.5]
    row = spark.range(1).select(
        K.centroid_column([(7, values), (-3, [1.0, None])]).alias("c")
    ).first()
    bits = lambda xs: [None if x is None else struct.pack(">d", x) for x in xs]  # noqa: E731
    assert [r.cluster for r in row.c] == [7, -3]
    assert bits(row.c[0].c) == bits(values)
    assert bits(row.c[1].c) == bits([1.0, None])
