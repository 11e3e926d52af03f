"""Connected components over near-duplicate pairs -> dedup clusters.

Every fuzzy-dedup operator in operators/dedup.py emits PAIRS
(id_a, id_b).  A production pipeline needs the transitive closure: if
A~B and B~C, keep ONE of {A, B, C}.  This module computes connected
components with alternating large-star / small-star rounds (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14) — the
shuffle-friendly formulation whose round count is O(log^2 n) on
adversarial graphs and 2-4 rounds on real dedup graphs (shallow, small
clusters):

* large-star: every node points its LARGER neighbors at its current
  minimum neighbor;
* small-star: every node points its smaller-or-equal neighbors at the
  minimum.

Each round is one groupBy-min + one join (plain DataFrame ops, AQE-
coalesced); lineage is cut with localCheckpoint every round so iteration
does not stack exponential plans.  Convergence is detected by an edge
fixpoint (no edge changes), with a hard ``max_iter`` guard.

Checkpoint hygiene (round 6): localCheckpoint blocks are NOT
cache-manager entries and Spark will not evict them, so leaked round
checkpoints squatted on the unified memory pool (a bench session that
ran the scale-ladder rungs then re-timed this operator measured 17 s on
a plan whose steady state is ~2.7 s).  Each round is a
``scope.checkpoint``: the PREVIOUS round's blocks are freed as soon as
the next one is materialized, and the FINAL checkpoint — which the
lazily-returned result still reads — is freed at the scope boundary
(release_persists, called by every catalog query and bench leg).

100 TB shape: state per round is the edge list itself (never adjacency
materialization); each round's shuffle is O(|edges|); no driver-side
graph structure — the driver only sees the per-round changed-edge count
(one scalar action per round, unavoidable for a data-dependent loop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from excelstream_spark.scope import checkpoint


def _star_round(edges: DataFrame, large: bool) -> DataFrame:
    """One large-star (or small-star) round over canonical (u, v) edges.

    Edges are kept as (node, neighbor); the round links each node's
    relevant neighbors to its minimum known neighbor (including itself).
    """
    # undirected incidence: both orientations
    inc = edges.selectExpr("u as node", "v as nbr").unionAll(
        edges.selectExpr("v as node", "u as nbr")
    )
    mins = inc.groupBy("node").agg(F.min("nbr").alias("m"))
    mins = mins.withColumn("m", F.least("node", "m"))
    linked = inc.join(mins, "node")
    if large:
        # large-star: each neighbor LARGER than the node links to the min
        out = linked.where(F.col("nbr") > F.col("node")).select(
            F.col("nbr").alias("u"), F.col("m").alias("v")
        )
    else:
        # small-star: smaller-or-equal neighbors AND the node itself link
        # to the min (without the self link a 2-node component vanishes)
        out = linked.where(F.col("nbr") <= F.col("node")).select(
            F.col("nbr").alias("u"), F.col("m").alias("v")
        ).unionAll(mins.select(F.col("node").alias("u"), F.col("m").alias("v")))
    return (
        out.select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """-> (id, component) for every id appearing in ``pairs``; component
    is the minimum id in the connected set (a stable canonical label)."""
    edges, free = checkpoint(
        pairs.select(
            F.least(id_a, id_b).alias("u"), F.greatest(id_a, id_b).alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )

    def _edge_stats(e: DataFrame) -> tuple[int, int]:
        # one tiny aggregate: the round's only driver traffic.  Two
        # canonical DISTINCT edge sets are equal iff their (count,
        # xxhash64-sum) match up to a 2^-64 hash collision — replaces the
        # two exceptAll set-difference jobs per round (each rescanning
        # both edge sets) the fixpoint test used to cost.
        r = e.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: a bigint sum of 64-bit hashes overflows ANSI
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (r["n"], r["h"])

    prev = _edge_stats(edges)
    for i in range(max_iter):
        after_large = _star_round(edges, large=True)
        after_small, new_free = checkpoint(
            _star_round(after_large, large=False)
        )
        cur = _edge_stats(after_small)
        # the previous round's checkpoint blocks are garbage the moment
        # the new one is materialized (the new plan reads only it)
        free()
        edges, free = after_small, new_free
        if cur == prev:  # fixpoint: the edge set stopped changing
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    # the RETURNED plan still reads the final checkpoint lazily: its
    # blocks are freed at the scope boundary, not here
    # at the fixpoint every edge is (root, member)
    members = edges.select(F.col("v").alias("id"), F.col("u").alias("component"))
    roots = edges.select(F.col("u").alias("id")).distinct().withColumn(
        "component", F.col("id")
    )
    return members.unionByName(roots).groupBy("id").agg(
        F.min("component").alias("component")
    )


def dedup_keep_representatives(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Canonical corpus: one representative (minimum id) per near-dup
    cluster plus every unpaired document.  Composes any pair-producing
    dedup operator into the keep/drop decision pipelines actually need."""
    comp = connected_components(pairs, id_a, id_b)
    # drop every clustered doc that is not its cluster's minimum id; the
    # representative and all unpaired docs survive the anti-join
    drop = comp.where(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Canonical corpus keeping the BEST-scoring member of each
    near-dup cluster (ties by ascending id; NULL scores sort last)
    plus every unpaired document — the RefinedWeb/FineWeb-style
    refinement of :func:`dedup_keep_representatives`: when copies of a
    document differ (a cleaner extraction, a longer revision, a higher
    classifier score), the pipeline should keep the best copy, not the
    accidental minimum id.

    Deterministic and SQL-expressible (the recursive-CTE components
    replay + one row_number window — pinned against DuckDB in
    tests/test_extension_ops.py), so the decision hash-gates like the
    min-id form.

    100 TB shape: the component table covers CLUSTERED docs only
    (pairs are already the dedup family's banded/bounded output); one
    join attaches scores, one window keyed on the component ranks
    members (components are small by construction — a giant component
    means the pair stage's skew bounds were skipped), and the final
    anti-join streams the corpus map-side."""
    comp = connected_components(pairs, id_a, id_b)
    scored = comp.join(
        df.select(
            F.col(id_col).alias("id"), F.col(score_col).alias("_s")
        ),
        "id",
    )
    w = Window.partitionBy("component").orderBy(
        F.col("_s").desc_nulls_last(), F.col("id")
    )
    drop = (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") > 1)
        .select(F.col("id").alias(id_col))
    )
    return df.join(drop, id_col, "left_anti")
