"""Engine-exact k-means clustering over embedding columns.

Document clustering is a first-class curation primitive (topic
bucketing for mixture weighting, cluster-balanced sampling, SemDeDup's
cell structure): this module implements Lloyd's algorithm with every
step deterministic and SQL-replayable, so cluster assignments can sit
under the driver's hash gate like any other operator.

Relation to the existing clustering surface:
- ``similarity.kmeans_centroids`` (pyspark.ml KMeans) is the
  production trainer — sample-trained, fast, but its init/iteration
  order is engine-internal, so it can only take rows-only checks.
- ``similarity.seed_centroids`` / ``vectorized.nearest_against_broadcast``
  are the deterministic-seed + numpy-matmul ASSIGNMENT path (zero
  shuffle per batch) — the 100 TB scoring shape.
- This module is the ORACLE-EXACT reference: the same Lloyd update
  both of those approximate, expressed so Spark and DuckDB produce
  bit-identical assignments.

Engine-portability discipline (the classifier/LM convention):
- Init: the k vectors with the smallest ``md5(cast(id AS string))``
  (ties by id) — the curation/sampling md5 convention, replayable.
- Distances are exact DECIMAL(38,15) sums of per-dimension squared
  differences: the per-dim terms are IEEE products of identical
  doubles (bit-equal on both engines), the decimal quantization is
  Spark's double->BigDecimal cast (DuckDB's CAST matches — proven by
  the classifier family), and the SUM is order-independent.  The
  argmin compares the DECIMAL totals — exact, no ulp hazard — with
  ties broken by ascending cid.
- Centroid updates: per-(cid, dim) exact decimal sum / integer count,
  one IEEE division, rounded to 9 decimals (the lm.py convention) so
  the next iteration's inputs are identical doubles on both engines.

Empty clusters simply vanish (no members -> no updated centroid row);
both engines agree because the update is the same grouped join.

100 TB design:
- The exact form explodes to (id, dim, x) rows and pays one
  broadcast-joined aggregation per iteration: the centroid table is
  k*d rows (tiny — broadcast), the groupBy(id, cid) is map-side
  combined to N*k rows, and the update groupBy(cid, dim) collapses to
  k*d.  Lloyd iterations over 100 TB of embeddings are scan-bound,
  exactly like DSIR's model fit.
- At scale, swap the assignment explode for the numpy-matmul
  ``nearest_against_broadcast`` (same argmin up to float-sum order)
  and keep the decimal mean update — or train on a sample with
  ``kmeans_centroids`` and only ASSIGN exactly; this module keeps the
  exact form because it is the verifiable contract.

The reference engine (KSD-CO/excelstream) has no clustering surface;
this extends the similarity/curation families (`SURVEY.md` §6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from excelstream_spark.scope import share

_DEC = "decimal(38,15)"


def _dim_rows(corpus: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """(id, dim, x) — one row per vector component, doubles.

    Fans out to session parallelism first (r14): the embeddings
    parquet arrives as ONE split at bench scale, so each Lloyd
    iteration's assignment pass (the k x d broadcast join + exact
    decimal distance aggregation chained onto this explode) ran as a
    single 1.4s task; no-op at scale, batch-only consumers."""
    from excelstream_spark.partitioning import fan_out

    return fan_out(corpus.where(F.col(id_col).isNotNull())).select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "x"),
    )


def md5_seed_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
) -> DataFrame:
    """(cid, dim, c) — initial centroids: the ``k`` vectors with the
    smallest ``md5(cast(id AS string))`` (ties by id), cid assigned in
    that order.  Deterministic and engine-portable; the k-row window
    after the LIMIT is driver-scale by construction."""
    seeds = (
        corpus.where(F.col(id_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.md5(F.col(id_col).cast("string")).alias("h"),
        )
        .orderBy("h", "id")
        .limit(k)
    )
    w = Window.orderBy("h", "id")
    seeds = seeds.select(
        "id", (F.row_number().over(w) - 1).alias("cid")
    )
    dims = _dim_rows(corpus, vec_col, id_col)
    return dims.join(F.broadcast(seeds), "id").select(
        "cid", "dim", F.col("x").alias("c")
    )


def _assign(dims: DataFrame, cents: DataFrame) -> DataFrame:
    """(id, cid, dist) — nearest centroid per vector; dist is the
    exact DECIMAL(38,15) sum of squared per-dim differences, argmin
    on the decimal total (exact compare), ties by ascending cid."""
    diff = F.col("x") - F.col("c")
    d = (
        dims.join(F.broadcast(cents), "dim")
        .groupBy("id", "cid")
        .agg(F.sum((diff * diff).cast(_DEC)).alias("dist"))
    )
    w = Window.partitionBy("id").orderBy(F.asc("dist"), F.asc("cid"))
    return (
        d.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def _update(dims: DataFrame, assign: DataFrame) -> DataFrame:
    """(cid, dim, c) — per-cluster mean: exact decimal sum / count,
    one IEEE division, round-9 (so both engines feed the next
    iteration identical doubles)."""
    return (
        dims.join(assign.select("id", "cid"), "id")
        .groupBy("cid", "dim")
        .agg(
            F.round(
                F.sum(F.col("x").cast(_DEC)).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("c")
        )
    )


def kmeans_assign_exact(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    n_iter: int = 2,
) -> DataFrame:
    """(id_col, cid, dist_r) — cluster assignment after ``n_iter``
    Lloyd iterations from the md5-seeded init (each iteration =
    assign + mean update; the RETURNED assignment is the one computed
    against the ``n_iter``-th centroids).  ``dist_r`` is the squared
    L2 distance to the assigned centroid, rounded to 6.

    Fully deterministic and DuckDB-replayable (module docstring); the
    driver row's oracle unrolls the same iterations as CTEs."""
    dims = share(_dim_rows(corpus, vec_col, id_col))
    cents = md5_seed_centroids(corpus, vec_col, id_col, k)
    assign = None
    for _ in range(n_iter):
        assign = _assign(dims, cents)
        cents = _update(dims, assign)
    # final assignment against the updated centroids (standard Lloyd
    # reporting: the labels consistent with the returned model)
    assign = _assign(dims, cents)
    return assign.select(
        F.col("id").alias(id_col),
        "cid",
        F.round(F.col("dist").cast("double"), 6).alias("dist_r"),
    )
