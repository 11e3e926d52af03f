"""Corpus curation: deterministic split assignment, contamination-safe
cluster-aware splits, per-domain caps, and token-budget selection.

These are the decisions a training-data pipeline makes AFTER cleaning
and dedup: which documents land in train/val/test, how much any single
domain may contribute, and which documents fill a fixed token budget.
The reference engine has no analogue (it stops at I/O + row transforms);
this module extends the training-pipeline surface the same way
operators/packing.py and operators/sampling.py do.

Design rules shared by every function here:

* **Deterministic under re-runs and engine changes.** Assignment hashes
  are md5-derived (first 8 hex chars -> bigint), NOT Spark's hash() or
  xxhash64 — md5 is bit-identical in every engine (DuckDB:
  ``('0x' || substr(md5(x), 1, 8))::bigint``), so split membership is
  reproducible from the data alone, survives a Spark upgrade, and is
  SQL-oracle-checkable.  A seed folds into the hashed string.
* **No driver-side data.** The only collect in this module is the
  per-partition token-count totals in ``token_budget_head`` (one row per
  partition — same bounded pattern as sampling.py's reservoir guard).
* **Codegen'd hot path.** Everything else is built-in expressions +
  window functions; no Python UDFs.

100 TB notes per operator are on the docstrings.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from excelstream_spark.operators.components import connected_components
from excelstream_spark.scope import share

#: bucket space for split assignment — 2^32 hash values fold into this
#: many buckets; weights are quantized to 1/SPLIT_BUCKETS resolution
SPLIT_BUCKETS = 10_000


def split_bucket(id_col: Column | str, seed: int = 0) -> Column:
    """Deterministic bucket in [0, SPLIT_BUCKETS) from an id + seed.

    md5 of ``"{seed}:{id}"``, first 8 hex chars as a bigint, mod
    buckets.  Identical in DuckDB as
    ``('0x' || substr(md5(seed || ':' || id), 1, 8))::bigint % buckets``.
    """
    key = F.concat(
        F.lit(str(seed)), F.lit(":"), F.col(id_col).cast("string")
        if isinstance(id_col, str)
        else id_col.cast("string"),
    )
    return (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint")
        % SPLIT_BUCKETS
    )


def _split_expr(bucket: Column, weights: dict[str, float]) -> Column:
    """CASE over cumulative bucket thresholds, in dict order; the LAST
    split absorbs rounding remainder so every bucket is assigned."""
    if not weights or abs(sum(weights.values()) - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {weights}")
    names = list(weights)
    expr = None
    cum = 0.0
    for name in names[:-1]:
        cum += weights[name]
        cond = bucket < int(round(cum * SPLIT_BUCKETS))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(
            cond, F.lit(name)
        )
    last = F.lit(names[-1])
    return last if expr is None else expr.otherwise(last)


def assign_splits(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    seed: int = 0,
) -> DataFrame:
    """Add a ``split`` column: train/val/test by deterministic hash.

    100 TB: pure map-side expression — no shuffle, no state; split
    membership is a function of (id, seed) alone, so late-arriving data
    joins the same splits and two pipelines agree without coordination.
    """
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    return df.withColumn(
        "split", _split_expr(split_bucket(id_col, seed), weights)
    )


def cluster_aware_splits(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    weights: dict[str, float] | None = None,
    seed: int = 0,
) -> DataFrame:
    """Split assignment where near-duplicate CLUSTERS move together.

    Hashing raw doc ids leaks near-duplicates across the train/test
    boundary (the classic contamination bug: a paraphrase of a test
    document lands in train).  Here the unit of assignment is the
    connected component of the near-dup pair graph: every doc hashes its
    component representative (min id in the cluster; the doc's own id
    when it has no near-dups), so a whole cluster lands in one split.

    ``pairs`` is any operators/dedup.py output (minhash/simhash/jaccard/
    embedding).  100 TB: components is the O(edges)-per-round plan from
    operators/components.py; the doc-side join is on the component map,
    which is |nodes-in-pairs| rows — broadcastable whenever near-dups
    are a small fraction of the corpus (the usual case), and the split
    expression itself stays map-side.
    """
    comp = connected_components(pairs, id_a=id_a, id_b=id_b)
    rep = F.coalesce(F.col("component"), F.col(id_col))
    joined = docs.join(
        F.broadcast(comp.withColumnRenamed("id", id_col)), id_col, "left"
    )
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    return joined.withColumn(
        "split", _split_expr(split_bucket(rep, seed), weights)
    ).drop("component")


def corpus_report(
    df: DataFrame,
    text_col: str = "text",
    dims: tuple[str, ...] = ("source", "lang"),
) -> DataFrame:
    """Data-card statistics for a corpus in ONE aggregation pass: doc /
    token / character totals and exact quality-score percentiles, CUBEd
    over the provenance dimensions (every dim combination plus the
    grand total in one job) — the observability table a pipeline
    publishes alongside the corpus it ships.

    ``gid`` is the grouping_id bitmask disambiguating "dimension value
    is NULL" from "dimension aggregated out" (identical semantics to
    SQL GROUPING()).  Quality is functions/text.quality_score — exact
    arithmetic, and Spark ``percentile`` matches DuckDB
    ``quantile_cont`` bit-for-bit (the agg_percentiles_arrays catalog
    precedent), so the whole report is SQL-oracle-checkable.

    100 TB: one shuffle (the cube's partial aggregation combines
    map-side; output cardinality is the product of dim cardinalities —
    KBs).  Token counting rides the same scan, no extra pass.
    """
    from excelstream_spark.functions import text as TXT

    t = F.coalesce(F.col(text_col), F.lit(""))
    base = df.select(
        *dims,
        TXT.token_count(t).alias("_tok"),
        F.length(t).alias("_chars"),
        TXT.quality_score(t).alias("_q"),
    )
    return (
        base.cube(*dims)
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_tok").alias("n_tokens"),
            F.sum("_chars").alias("n_chars"),
            F.round(F.avg("_q"), 6).alias("mean_quality_r"),
            F.round(F.expr("percentile(_q, 0.5)"), 6).alias("p50_quality_r"),
            F.round(F.expr("percentile(_q, 0.95)"), 6).alias("p95_quality_r"),
        )
    )


def cap_per_domain(
    df: DataFrame,
    domain_col: str = "source",
    max_docs: int = 100,
    order_col: str = "doc_id",
    descending: bool = False,
) -> DataFrame:
    """Keep at most ``max_docs`` documents per domain, by priority.

    The web-scale corpus guard: one mirror-heavy domain must not drown
    the mixture.  row_number() over (domain, priority) keeps the top N.

    100 TB: one shuffle on domain.  Giant domains (the exact ones being
    capped) are the skew risk; AQE skew-join split does not apply to
    window shuffles, but the rank-then-filter shape means each domain
    partition streams once — and since only the top ``max_docs`` rows
    per domain survive, a pre-aggregation per (domain, input-partition)
    would bound any single task at map side.  Kept as the plain window:
    the cap is the cheap stage compared to dedup upstream.
    """
    from pyspark.sql.window import Window

    order = F.col(order_col).desc() if descending else F.col(order_col).asc()
    w = Window.partitionBy(domain_col).orderBy(order, F.col("doc_id"))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= max_docs)
        .drop("_rn")
    )


def token_budget_head(
    df: DataFrame,
    budget: int,
    token_col: str = "n_tokens",
    order_col: str = "doc_id",
    descending: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """Keep the highest-priority documents whose cumulative token count
    fits ``budget`` (a document is kept iff the running total THROUGH it
    is <= budget — the prefix of the priority ordering that fits).

    A naive ``sum() over (order by priority)`` collapses to ONE task at
    scale (global ordering = single-partition window).  This is the
    scalable two-phase prefix sum instead:

    1. range-partition by the priority ordering (repartitionByRange
       keeps ordered ranges in separate partitions);
    2. per-partition token totals -> driver (ONE row per partition, the
       same bounded-collect pattern as sampling.py's reservoir guard);
    3. exclusive prefix offsets per partition, broadcast back as a CASE
       lookup; each partition then computes its LOCAL running sum in
       parallel and keeps rows where offset + local_cumsum <= budget.

    Equivalent to the single-window SQL (the pytest oracle) for every
    input, but every stage is partition-parallel.
    """
    from pyspark.sql.window import Window

    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    order = F.col(order_col).desc() if descending else F.col(order_col).asc()
    # PERSIST the ranged layout before reading it twice: range
    # partitioning samples its boundaries (seeded from the fresh RDD id),
    # so an unpinned plan could pick DIFFERENT boundaries for the totals
    # job and the final job — a row would then apply an offset computed
    # for a partition it no longer lives in, silently keeping documents
    # past the budget.  Scoped like dedup's load-bearing persists.
    ranged = share(
        df.repartitionByRange(n_parts, order, F.col("doc_id")).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    # one scalar per partition reaches the driver; partitions may be
    # fewer than requested (small inputs) or empty (skipped ranges)
    totals = {
        r["_pid"]: r["tot"]
        for r in ranged.groupBy("_pid")
        .agg(F.sum(F.col(token_col)).alias("tot"))
        .collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid] or 0
    # map-literal lookup (flat, stays shallow at thousands of partitions
    # where a when/otherwise chain would nest that deep)
    kv: list[Column] = []
    for pid, off in offsets.items():
        kv += [F.lit(pid), F.lit(off).cast("long")]
    offset_expr = (
        F.coalesce(F.element_at(F.create_map(*kv), F.col("_pid")), F.lit(0))
        if kv
        else F.lit(0).cast("long")
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(order, F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ranged.withColumn(
            "_cum", offset_expr + F.sum(F.col(token_col)).over(w)
        )
        .where(F.col("_cum") <= budget)
        .drop("_pid", "_cum")
    )


def shard_assign(id_col: Column | str, n_shards: int, seed: int = 0) -> Column:
    """Deterministic shard id in [0, n_shards): the split_bucket md5
    construction, replayable in DuckDB as
    ``('0x' || substr(md5(seed || ':' || id), 1, 8))::bigint % n``."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    key = F.concat(F.lit(f"{seed}:"), c.cast("string"))
    return (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint")
        % F.lit(n_shards)
    )


def shard_manifest(
    df: DataFrame,
    n_shards: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """(shard, n_docs, n_tokens, content_hash) — the audit manifest of
    a sharded corpus export: every non-null-id document lands in the
    md5-deterministic shard :func:`shard_assign` gives it, and each
    shard reports its document count, total token count (shared
    tokens() convention), and an ORDER-INDEPENDENT content hash — the
    ``bit_xor`` of each document's 60-bit md5 text hash (the classic
    set hash; a re-export that changes ANY document's text, drops one,
    or duplicates one flips the shard's hash — an identical-twin PAIR
    cancels, which exact dedup upstream rules out).  Empty shards are
    absent (nothing to audit).

    This is the verification artifact for `df.write.partitionBy(...)`
    sharded exports: recompute the manifest from the written shards
    and diff — any divergence names the exact shard to re-export.

    100 TB: one groupBy(shard) with map-side partial aggregation —
    n_shards rows out; the expensive reads (md5, tokenize) are
    scan-stage expressions."""
    from excelstream_spark.functions import text as TXT

    base = df.where(F.col(id_col).isNotNull())
    doc_h = F.conv(
        F.substring(F.md5(F.coalesce(F.col(text_col), F.lit(""))), 1, 15),
        16,
        10,
    ).cast("bigint")
    return (
        base.select(
            shard_assign(id_col, n_shards, seed).alias("shard"),
            F.size(
                TXT.tokens(F.coalesce(F.col(text_col), F.lit("")))
            ).alias("_nt"),
            doc_h.alias("_h"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_nt").cast("long").alias("n_tokens"),
            F.expr("bit_xor(_h)").alias("content_hash"),
        )
    )


def epoch_order(
    df: DataFrame,
    epoch: int = 0,
    id_col: str = "doc_id",
    n_shards: int = 16,
    seed: int = 0,
) -> DataFrame:
    """(<input columns>, shard, position) — the reproducible training
    data order for one epoch: every non-null-id document gets a
    deterministic md5 draw keyed on (seed, epoch, id), a shard from
    :func:`shard_assign`, and its 1-based ``position`` within the
    shard by that draw (ties by id).  Re-running any epoch replays the
    exact order; different epochs reshuffle independently — the
    data-loader contract (fixed seed => bit-reproducible batches)
    expressed corpus-side.

    100 TB: the draw and shard are scan-stage expressions; the only
    shuffle is the rank window keyed on the shard — at production
    shard counts each partition sorts locally (Spark's spillable
    sort), and writers consume (shard, position) order directly."""
    from pyspark.sql import Window

    c = F.col(id_col)
    draw = F.conv(
        F.substring(
            F.md5(
                F.concat(F.lit(f"epoch:{seed}:{epoch}:"), c.cast("string"))
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    w = Window.partitionBy("shard").orderBy("_draw", id_col)
    return (
        df.where(c.isNotNull())
        .withColumn("shard", shard_assign(id_col, n_shards, seed))
        .withColumn("_draw", draw)
        .withColumn("position", F.row_number().over(w).cast("long"))
        .drop("_draw")
    )


def manifest_diff(
    old: DataFrame,
    new: DataFrame,
) -> DataFrame:
    """(shard, status, old_n_docs, new_n_docs, old_hash, new_hash) —
    the second half of the re-export audit :func:`shard_manifest`
    opens: diff two manifests and name exactly which shards need
    re-exporting.  ``status``: 'changed' (hash moved — some document's
    text changed, was dropped, or was duplicated), 'added' / 'removed'
    (shard present on one side only), and 'count_only' (hash equal but
    doc counts differ — only possible via xor-cancelling twin PAIRS,
    which exact dedup upstream rules out; surfaced rather than hidden
    because it is the one blind spot of the set hash).  Unchanged
    shards are absent — the diff is the work list.

    100 TB: manifests are n_shards rows; this is a driver-scale full
    outer join of two tiny artifacts."""
    o = old.select(
        "shard",
        F.col("n_docs").alias("old_n_docs"),
        F.col("content_hash").alias("old_hash"),
    )
    n = new.select(
        "shard",
        F.col("n_docs").alias("new_n_docs"),
        F.col("content_hash").alias("new_hash"),
    )
    j = o.join(n, "shard", "full_outer")
    status = (
        F.when(F.col("old_hash").isNull(), F.lit("added"))
        .when(F.col("new_hash").isNull(), F.lit("removed"))
        .when(F.col("old_hash") != F.col("new_hash"), F.lit("changed"))
        .when(
            F.col("old_n_docs") != F.col("new_n_docs"), F.lit("count_only")
        )
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.withColumn("status", status)
        .where(F.col("status") != "unchanged")
        .select(
            "shard", "status", "old_n_docs", "new_n_docs",
            "old_hash", "new_hash",
        )
    )
