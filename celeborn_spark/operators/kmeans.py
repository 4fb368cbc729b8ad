"""Distributed k-means (Lloyd iterations) over an embedding column.

The corpus-clustering primitive for LLM data curation (topic balancing,
domain discovery, cluster-based mixture weighting). Reference analogue:
Celeborn has no ML operators — this extends the §2C similarity surface
(SURVEY.md §2C) with the one iterative algorithm the IVF index needs for
real centroid training (queries/similarity.py uses fixed every-Nth-row
centroids; `lloyd_iterations` is how those become data-driven).

Spark-first plan: the k x dim centroids live on the DRIVER, as MLlib's
KMeans keeps them — they are tiny at any corpus scale. A fit is
  seeds   — one collect of the k lowest-id rows;
  round   — ONE action: a map-only projection picks each vector's
            nearest centroid with array_min over a transform of the
            centroid constant (struct order (dist, cluster) is the
            tie-break), then posexplode -> groupBy(cluster, pos).avg
            collects the k x dim means. Catalyst plans partial + final
            aggregation, so only the map-combined means cross the
            exchange (Celeborn's map-side combine, SURVEY.md §A3) —
            the vectors are never shuffled, joined, windowed, cached
            or checkpointed;
  result  — a lazy select over the input that assigns every vector to
            the final centroids; nothing to release afterwards.
The centroid constant is ONE plan node (from_json of a JSON literal,
constant-folded at optimization): a Column tree of per-element F.lit
calls pays a py4j round trip per node. Python's shortest float repr and
Java's Double.parseDouble round-trip every double bit-exactly
(tests/test_kmeans.py pins 0.1 + 0.2, 1e-300 and -0.0).

Determinism: seeds are the k lowest-id vectors (cluster id = seed's
vec_id), distances are rounded to 6 dp with cluster-id tie-break, and
centroid components are rounded to 6 dp after every update, so the whole
fit is bit-reproducible in any engine — `kmeans_oracle_sql` generates
the DuckDB mirror (same trick as embedding_near_dup_oracle_sql).
"""

from __future__ import annotations

import json
from collections.abc import Sequence
from itertools import groupby

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from celeborn_spark.operators.similarity import as_double_array


def l2_dist(a: Column, b: Column) -> Column:
    """Euclidean distance, accumulated left-to-right over the array —
    the same association order DuckDB's list_distance uses, so rounded
    values agree across engines."""
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def centroid_column(
    centroids: Sequence[tuple[object, Sequence[float | None]]],
    cluster_type: str = "bigint",
) -> Column:
    """The driver-side centroids [(cluster, c), ...] as one constant
    array<struct<cluster, c: array<double>>> Column. A single JSON
    literal parsed by from_json keeps the plan at one node whatever k x
    dim is, and the doubles round-trip exactly."""
    doc = json.dumps([{"cluster": cl, "c": list(c)} for cl, c in centroids])
    return F.from_json(
        F.lit(doc), f"array<struct<cluster: {cluster_type}, c: array<double>>>"
    )


def nearest_centroid(v: Column, centroids: Column) -> Column:
    """struct(dist, cluster) of the centroid nearest to `v`: distance
    rounded 6 dp, ties -> lowest cluster id (struct field order)."""
    return F.array_min(
        F.transform(
            centroids,
            lambda s: F.struct(
                F.round(l2_dist(v, s["c"]), 6).alias("dist"),
                s["cluster"].alias("cluster"),
            ),
        )
    )


def lloyd_iterations(
    vectors: DataFrame,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fit k-means for `iters` Lloyd rounds from deterministic seeds
    (the k lowest-id vectors; cluster id = seed id) and return the final
    assignment (id, cluster, dist) as a lazy DataFrame."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    cluster_type = vectors.schema[id_col].dataType.simpleString()
    v = vectors.select(F.col(id_col), as_double_array(vec_col).alias("v"))
    # driver-side centroids: bounded by k rows of dim doubles
    centroids = [tuple(r) for r in v.orderBy(id_col).limit(k).collect()]
    for _ in range(iters):
        cents = centroid_column(centroids, cluster_type)
        # the assignment is its own projection BELOW the Generate: fused
        # into the posexplode projection, the HOF re-runs per element
        nearest = nearest_centroid(F.col("v"), cents)
        assigned = v.select(nearest["cluster"].alias("cluster"), "v")
        # bounded: at most k x dim mean rows reach the driver
        means = sorted(
            assigned.select("cluster", F.posexplode("v").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.round(F.avg("x"), 6).alias("m"))
            .collect()
        )
        # a cluster no vector chose drops out, as in the SQL mirror
        centroids = [
            (cluster, [m for _, _, m in rows])
            for cluster, rows in groupby(means, key=lambda r: r[0])
        ]
    best = nearest_centroid(F.col("v"), centroid_column(centroids, cluster_type))
    return v.select(id_col, best.alias("a")).select(id_col, "a.cluster", "a.dist")


def kmeans_oracle_sql(
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    iters: int = 2,
) -> str:
    """DuckDB mirror of lloyd_iterations: the same seed/assign/update
    arithmetic as chained CTEs (unnest trick from q_label_centroids for
    the element-wise mean)."""
    unnest = (
        "unnest(list_transform(range(1, len(v.e) + 1),"
        " i -> {'pos': i - 1, 'x': v.e[i]})) AS u"
    )

    def assign(cent: str, alias: str) -> str:
        return f"""{alias} AS (
        SELECT {id_col}, cluster, dist FROM (
            SELECT v.{id_col}, {cent}.cluster,
                   round(list_distance(v.e, {cent}.c), 6) AS dist,
                   row_number() OVER (
                       PARTITION BY v.{id_col}
                       ORDER BY round(list_distance(v.e, {cent}.c), 6),
                                {cent}.cluster) AS rn
            FROM v CROSS JOIN {cent}
        ) WHERE rn = 1
    )"""

    def update(assign_alias: str, alias: str) -> str:
        return f"""{alias} AS (
        SELECT cluster, list(m ORDER BY pos) AS c FROM (
            SELECT cluster, u.pos AS pos, round(avg(u.x), 6) AS m FROM (
                SELECT a.cluster, {unnest}
                FROM {assign_alias} a JOIN v USING ({id_col})
            ) GROUP BY cluster, u.pos
        ) GROUP BY cluster
    )"""

    ctes = [
        f"v AS (SELECT {id_col}, {vec_col}::DOUBLE[] AS e FROM {table})",
        f"""c0 AS (
        SELECT {id_col} AS cluster, e AS c FROM v
        ORDER BY {id_col} LIMIT {k}
    )""",
    ]
    cent = "c0"
    for i in range(iters):
        ctes.append(assign(cent, f"a{i}"))
        ctes.append(update(f"a{i}", f"c{i + 1}"))
        cent = f"c{i + 1}"
    ctes.append(assign(cent, "final"))
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"\n    SELECT {id_col}, cluster, dist FROM final"
    )
