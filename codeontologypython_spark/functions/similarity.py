"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the exactness baseline — a broadcast of the query
  set against the corpus, dot products via zip_with/aggregate (JVM-side,
  codegen); cost O(|Q| * N), the right tool when |Q| is small;
- LSH-bucketed ANN: random-hyperplane signatures partition the corpus;
  queries probe only their bucket — the 100TB path (bucket join instead of
  cross join). Hyperplanes are seeded-deterministic literals.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(corpus: DataFrame, queries: DataFrame,
                k: int = 5) -> DataFrame:
    """Exact top-k neighbors per query (excluding self). Rounded cosine keeps
    the ranking engine-portable (float-sum ulp differences vs SQL oracles);
    ties break on neighbor id."""
    from codeontologypython_spark.operators.relational import fan_out

    q = queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("qv"))
    # fan_out: the |Q| x N cosine folds evaluate on the corpus side's
    # partitions, and a single-file scan would run them on one core
    # (no-op at corpus scale, relational.fan_out)
    c = fan_out(corpus).select(F.col("vec_id").alias("neighbor_id"),
                               F.col("embedding").alias("cv"))
    scored = (q.crossJoin(c)
              .filter(F.col("query_id") != F.col("neighbor_id"))
              .withColumn("cos", F.round(
                  cosine(F.col("qv").cast("array<double>"),
                         F.col("cv").cast("array<double>")), 4)))
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cos", "rank"))


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature: bit j = sign(v . h_j); returned as a
    compact integer bucket key."""
    out = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        p = F.array(*[F.lit(x) for x in plane])
        bit = (dot(vec.cast("array<double>"), p) > 0).cast("long")
        out = out + F.shiftleft(bit, j)
    return out


def lsh_ann_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                 dim: int = 16, n_planes: int = 6) -> DataFrame:
    """Approximate top-k: sign-LSH bucket join, exact cosine within bucket.
    Recall is traded via n_planes (fewer planes -> bigger buckets -> higher
    recall)."""
    from codeontologypython_spark.operators.relational import fan_out

    planes = _hyperplanes(dim, n_planes, 42)
    vec = F.col("embedding")
    # fan_out: n_planes dot products per corpus row (no-op at corpus scale)
    c = fan_out(corpus).select(F.col("vec_id").alias("neighbor_id"),
                               vec.alias("cv"),
                               lsh_signature(vec, planes).alias("bucket"))
    q = queries.select(F.col("vec_id").alias("query_id"), vec.alias("qv"),
                       lsh_signature(vec, planes).alias("bucket"))
    scored = (q.join(c, "bucket")
              .filter(F.col("query_id") != F.col("neighbor_id"))
              .withColumn("cos", F.round(
                  cosine(F.col("qv").cast("array<double>"),
                         F.col("cv").cast("array<double>")), 4)))
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cos", "rank"))


def _sq_dist(vec: Column, cent: list[float]) -> Column:
    c = F.array(*[F.lit(float(x)) for x in cent])
    return F.aggregate(F.zip_with(vec, c, lambda x, y: (x - y) * (x - y)),
                       F.lit(0.0), lambda acc, v: acc + v)


def ivf_centroids(corpus: DataFrame, n_cells: int = 8,
                  iters: int = 2) -> list[list[float]]:
    """Deterministic mini k-means (Lloyd) for the IVF coarse quantizer.

    Init = the ``n_cells`` vectors with the smallest ids; each iteration is
    one assignment scan (argmin squared-L2 against centroid LITERALS — no
    shuffle, whole-stage codegen) plus a per-(cell, dim) mean aggregation
    whose result (n_cells x dim doubles) collects to the driver and becomes
    the next round's literals. Means are rounded so the engine-portable SQL
    oracle reproduces the exact same centroids despite summation-order ulps.
    """
    vec = F.col("embedding").cast("array<double>")
    first = (corpus.orderBy("vec_id").limit(n_cells)
             .select(vec.alias("v")).collect())
    cents = [list(r["v"]) for r in first]
    dim = len(cents[0])
    for _ in range(iters):
        assigned = corpus.select(vec.alias("v"),
                                 _assign_cell(vec, cents).alias("cell"))
        stats = (assigned
                 .select("cell", F.posexplode("v").alias("dim", "x"))
                 .groupBy("cell", "dim")
                 .agg(F.round(F.avg("x"), 6).alias("m"))
                 .collect())
        new = {c: [None] * dim for c in {r["cell"] for r in stats}}
        for r in stats:
            new[r["cell"]][r["dim"]] = r["m"]
        # cells that lost all members keep their previous centroid
        cents = [new.get(j, cents[j]) for j in range(n_cells)]
    return cents


def _assign_cell(vec: Column, cents: list[list[float]]) -> Column:
    """argmin over centroid literals; ties break on the cell index (the SQL
    oracle orders by (dist, cell) identically)."""
    best = F.least(*[
        F.struct(_sq_dist(vec, c).alias("d"), F.lit(j).alias("cell"))
        for j, c in enumerate(cents)])
    return best["cell"]


def ivf_ann_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                 n_cells: int = 8, iters: int = 2,
                 nprobe: int = 2) -> DataFrame:
    """IVF approximate top-k: coarse k-means quantizer partitions the corpus
    into cells; each query probes only its ``nprobe`` nearest cells and runs
    exact cosine inside them — the inverted-file alternative to sign-LSH
    bucketing."""
    from codeontologypython_spark.operators.relational import fan_out

    cents = ivf_centroids(corpus, n_cells, iters)
    vec = F.col("embedding").cast("array<double>")
    # fan_out: the n_cells x dim argmin expression per corpus row is the
    # probe's map cost (no-op at corpus scale)
    c = fan_out(corpus).select(F.col("vec_id").alias("neighbor_id"),
                               vec.alias("cv"))
    c = c.withColumn("cell", _assign_cell(F.col("cv"), cents))
    dists = F.array(*[
        F.struct(_sq_dist(F.col("qv"), cent).alias("d"),
                 F.lit(j).alias("cell"))
        for j, cent in enumerate(cents)])
    q = (queries.select(F.col("vec_id").alias("query_id"), vec.alias("qv"))
         .withColumn("probe", F.explode(F.slice(F.array_sort(dists),
                                                1, nprobe)))
         .select("query_id", "qv", F.col("probe.cell").alias("cell")))
    scored = (q.join(c, "cell")
              .filter(F.col("query_id") != F.col("neighbor_id"))
              .withColumn("cos", F.round(cosine(F.col("qv"), F.col("cv")),
                                         4)))
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cos", "rank"))


def embedding_near_dup_pairs(corpus: DataFrame, threshold: float = 0.98,
                             dim: int = 16, n_planes: int = 4,
                             seed: int = 7) -> DataFrame:
    """Embedding-cosine near-duplicate detection: LSH bucket self-join +
    exact cosine filter."""
    from codeontologypython_spark.operators.relational import fan_out

    planes = _hyperplanes(dim, n_planes, seed)
    # fan_out the signature compute; localCheckpoint so the self-join's two
    # branches don't each re-evaluate the n_planes dot products
    t = (fan_out(corpus)
         .select(F.col("vec_id").alias("doc"), F.col("embedding").alias("v"),
                 lsh_signature(F.col("embedding"), planes).alias("bucket"))
         .localCheckpoint(eager=False))
    a = t.select(F.col("doc").alias("doc_a"), F.col("v").alias("va"), "bucket")
    b = t.select(F.col("doc").alias("doc_b"), F.col("v").alias("vb"), "bucket")
    return (a.join(b, "bucket")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .withColumn("cos", cosine(F.col("va").cast("array<double>"),
                                      F.col("vb").cast("array<double>")))
            .filter(F.col("cos") >= threshold)
            .select("doc_a", "doc_b", F.round("cos", 4).alias("cos")))
