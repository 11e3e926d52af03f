"""Physical-plan assertions: the properties that matter at 100 TB,
checked on the actual executed plans (not just results).

- dimension joins BROADCAST (no shuffle of the fact table for dims)
- filters reach the parquet scan as PushedFilters
- bucketed fact-fact joins run with NO shuffle exchange
- salted rewrites match their unsalted oracles (results, via catalog)
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from excelstream_spark.operators.skew import salted_join, salted_two_phase_agg
from excelstream_spark.tables import load_table

from .conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dimension_joins_broadcast(spark):
    """q5-shaped join: every dim side must be a BroadcastHashJoin; the
    lineitem fact table must never shuffle for a dim."""
    li = load_table(spark, SF_DIR, "lineitem")
    o = load_table(spark, SF_DIR, "orders")
    c = load_table(spark, SF_DIR, "customer")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.sum("l_extendedprice").alias("rev"))
    )
    joined.collect()
    plan = _plan(joined)
    assert "BroadcastHashJoin" in plan


def test_filter_pushdown_reaches_parquet(spark):
    li = load_table(spark, SF_DIR, "lineitem").filter(
        F.col("l_quantity") > 30
    ).select("l_orderkey", "l_quantity")
    plan = _plan(li)
    assert re.search(r"PushedFilters: \[.*GreaterThan\(l_quantity", plan), plan[:500]
    # column pruning: ReadSchema carries only the selected columns
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {
        "l_orderkey", "l_quantity"
    }, plan[:500]


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """Fact-fact join over tables bucketed on the join key: zero shuffle
    exchanges in the plan — the co-located-join strategy for repeated
    joins at scale."""
    import shutil

    li = load_table(spark, SF_DIR, "lineitem")
    o = load_table(spark, SF_DIR, "orders")
    try:
        (
            li.write.mode("overwrite")
            .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
            .saveAsTable("li_bkt")
        )
        (
            o.write.mode("overwrite")
            .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
            .saveAsTable("o_bkt")
        )
        lb, ob = spark.table("li_bkt"), spark.table("o_bkt")
        joined = lb.join(ob, lb.l_orderkey == ob.o_orderkey).select(
            "l_orderkey", "o_totalprice", "l_quantity"
        )
        n = joined.count()
        assert n == li.join(o, li.l_orderkey == o.o_orderkey).count()
        plan = _plan(joined)
        # AQE may leave a reused exchange marker; what must be absent is
        # a shuffle on the join keys
        assert "Exchange hashpartitioning" not in plan, plan[:800]
    finally:
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        for t in ("li_bkt", "o_bkt"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(warehouse.removeprefix("file:"), ignore_errors=True)


def test_salted_join_matches_plain(spark):
    ev = load_table(spark, SF_DIR, "events").select("event_id", "event_type", "value")
    dim = ev.groupBy("event_type").agg(F.avg("value").alias("avg_v"))
    plain = ev.join(dim, "event_type")
    salted = salted_join(ev, dim, on="event_type", n_salts=8)
    assert salted.count() == plain.count()
    a = sorted(salted.select("event_id", "avg_v").collect())
    b = sorted(plain.select("event_id", "avg_v").collect())
    assert a == b


def test_salted_join_left_outer_keeps_unmatched(spark):
    ev = load_table(spark, SF_DIR, "events").select("event_id", "event_type")
    dim = (
        ev.groupBy("event_type").count()
        .filter(F.col("event_type") == "click")
        .select("event_type", F.col("count").alias("n"))
    )
    out = salted_join(ev, dim, on="event_type", n_salts=4, how="left")
    assert out.count() == ev.count()  # outer semantics survive salting
    assert out.filter(F.col("n").isNull()).count() == ev.filter(
        F.col("event_type") != "click"
    ).count()


def test_salted_agg_rejects_non_reaggregable(spark):
    ev = load_table(spark, SF_DIR, "events")
    with pytest.raises(ValueError, match="re-aggregable"):
        salted_two_phase_agg(ev, "event_type", {"a": ("avg", "value")})


def test_binned_interval_join_is_equi_join(spark):
    """The binned rewrite must (a) match the nested-loop result exactly
    and (b) plan as a hash/sort-merge equi-join, not BNLJ."""
    from excelstream_spark.operators.rangejoin import binned_interval_join

    c = load_table(spark, SF_DIR, "customer").select("c_custkey", "c_acctbal")
    s = load_table(spark, SF_DIR, "supplier").select(
        "s_suppkey",
        (F.col("s_acctbal") - 50.0).alias("lo"),
        (F.col("s_acctbal") + 50.0).alias("hi"),
    )
    binned = binned_interval_join(c, s, "c_acctbal", "lo", "hi", bin_width=100.0)
    plain = c.join(
        s, (F.col("c_acctbal") >= F.col("lo")) & (F.col("c_acctbal") <= F.col("hi"))
    )
    a = sorted(binned.select("c_custkey", "s_suppkey").collect())
    b = sorted(plain.select("c_custkey", "s_suppkey").collect())
    assert a == b and len(a) > 0
    plan = _plan(binned)
    assert "NestedLoop" not in plan, plan[:600]

    # negative-value bins and tiny widths stay exact
    tiny = binned_interval_join(c, s, "c_acctbal", "lo", "hi", bin_width=7.3)
    assert sorted(tiny.select("c_custkey", "s_suppkey").collect()) == b

    with pytest.raises(ValueError, match="bin_width"):
        binned_interval_join(c, s, "c_acctbal", "lo", "hi", bin_width=0)


def test_approx_sketches_within_error_bounds(spark):
    """HLL++ rsd=2% and approx_percentile accuracy=10000 must land within
    their documented error envelopes vs the exact answers."""
    ev = load_table(spark, SF_DIR, "events")
    approx = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.02).alias("au"),
            F.approx_percentile("value", 0.95, 10000).alias("ap"),
        )
        .collect()
    }
    exact = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("u"),
            F.percentile("value", 0.95).alias("p"),
        )
        .collect()
    }
    for et, e in exact.items():
        a = approx[et]
        assert abs(a["au"] - e["u"]) <= max(3, 0.06 * e["u"]), (et, a["au"], e["u"])
        assert abs(a["ap"] - e["p"]) <= max(0.5, 0.05 * abs(e["p"])), (et, a["ap"], e["p"])


def test_salted_join_rejects_small_side_preserving_types(spark):
    """right/full would emit unmatched small-side rows once per salt
    bucket; the operator refuses them up front."""
    import pytest
    from excelstream_spark.operators.skew import salted_join

    big = spark.range(10).withColumnRenamed("id", "k")
    small = spark.range(3).withColumnRenamed("id", "k")
    for how in ("right", "full", "full_outer", "right_outer"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(big, small, "k", n_salts=4, how=how)
    assert salted_join(big, small, "k", n_salts=4, how="left").count() == 10


def test_new_operator_plans_shuffle_budget(spark):
    """Plan audit for the round-2 operators: pack_sequences adds NO
    exchange (shard-local sort only); quantization is scan->mapInPandas
    with no exchange; quantized top-k shuffles once (the tiny winner
    merge); seeded_shuffle is exactly one range exchange."""
    from excelstream_spark.operators.packing import pack_sequences
    from excelstream_spark.operators.quantize import quantize_embeddings, topk_quantized
    from excelstream_spark.operators.sampling import seeded_shuffle

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), r"\s+")).alias("n_tokens")
    )
    packed_plan = _plan(pack_sequences(docs, max_tokens=512))
    assert "Exchange" not in packed_plan, packed_plan[:800]
    assert "Sort" in packed_plan  # the shard-local desc sort

    emb = load_table(spark, SF_DIR, "embeddings")
    q = quantize_embeddings(emb)
    q_plan = _plan(q)
    assert "Exchange" not in q_plan, q_plan[:800]

    topk_plan = _plan(topk_quantized(q, emb.limit(5), k=3))
    # exactly one hash exchange: the partition-winner merge window
    assert topk_plan.count("Exchange hashpartitioning") == 1, topk_plan[:1200]

    shuf_plan = _plan(seeded_shuffle(docs))
    assert shuf_plan.count("Exchange") == 1, shuf_plan[:800]


def test_connected_components_releases_checkpoints(spark):
    """connected_components must not leak localCheckpoint blocks:
    intermediate rounds free as iteration proceeds (at most the FINAL
    checkpoint stays live for the lazy result), and the standard scope
    boundary (release_persists) frees that too.  Before the r6 fix
    every invocation leaked all round checkpoints until JVM GC — a
    bench session measured the operator at 6x its steady state because
    leaked blocks from prior 10x-scale runs squatted on the unified
    memory pool (localCheckpoint blocks are non-evictable)."""
    from excelstream_spark.operators.components import connected_components
    from excelstream_spark.scope import release_persists

    sc = spark.sparkContext
    release_persists()

    def live_ids():
        return {r.id() for r in sc._jsc.sc().getRDDStorageInfo()}

    base = live_ids()
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (4, 4)], "id_a bigint, id_b bigint"
    )
    out = sorted(map(tuple, connected_components(pairs).collect()))
    assert out == [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)]
    assert len(live_ids() - base) <= 1  # only the final checkpoint
    release_persists()
    assert len(live_ids() - base) == 0


def test_global_topk_plans_as_take_ordered(spark):
    """The dedicated sort_topk catalog entry (and window_topn's folded
    global cut) must compile to TakeOrderedAndProject — per-partition
    k-row heaps merged on the driver — never a full global sort
    (rangepartitioning exchange + Sort), which would materialize the
    whole table ordered at 100 TB just to keep 100 rows."""
    import excelstream_spark.plans.relational  # noqa: F401
    from excelstream_spark.plans.catalog import CATALOG

    for name in ("sort_topk", "window_topn_per_group"):
        plan = _plan(CATALOG[name].fn(spark, SF_DIR))
        assert "TakeOrderedAndProject" in plan, (name, plan[:800])
        assert "rangepartitioning" not in plan, (name, plan[:800])


def test_round4_entry_plans_shuffle_budget(spark):
    """Plan audit for the round-4 catalog entries: the shapes that must
    survive a 100x scale-up.

    - multimodal_features: frames x features joins BROADCAST (no fact
      shuffle) and the feature extraction itself adds no exchange;
    - corpus_sampling_exact: exactly one hash exchange (the stratum
      window) before the count aggregate;
    - sim_topk_quantized: one hash exchange (partition-winner merge);
      the dequantize runs inside the scan projection;
    - csv.zip ingest: binaryFile scan -> mapInPandas -> from_csv
      projection, zero exchanges (per-archive parallelism only)."""
    import os
    import zipfile as zf

    import excelstream_spark.plans.extension as EXT
    from excelstream_spark.sources.csvzip import read_csv_zip

    mm_plan = _plan(EXT.multimodal_features(spark, SF_DIR))
    # joinless shape: exactly TWO chained Arrow passes (payload encode +
    # decode) pipelined in one stage — a frames-x-feats join would run
    # the decode subtree on both branches and add a third
    assert mm_plan.count("MapInPandas") == 2, mm_plan[:800]
    assert "Join" not in mm_plan, mm_plan[:800]
    assert "Exchange hashpartitioning" not in mm_plan, mm_plan[:800]

    samp_plan = _plan(EXT.corpus_sampling_exact(spark, SF_DIR))
    assert samp_plan.count("Exchange hashpartitioning") <= 2, samp_plan[:1200]

    q_plan = _plan(EXT.sim_topk_quantized(spark, SF_DIR))
    assert q_plan.count("Exchange hashpartitioning") == 1, q_plan[:1200]

    import tempfile

    d = tempfile.mkdtemp(prefix="planzip_")
    with zf.ZipFile(os.path.join(d, "t.csv.zip"), "w") as z:
        z.writestr("t.csv", "a,b\n1,x\n")
    zip_plan = _plan(read_csv_zip(spark, d, "a int, b string", header=True))
    assert "Exchange" not in zip_plan, zip_plan[:800]


def test_round5_quality_semantic_plans(spark):
    """Plan audit for the round-5 operators:

    - gopher_quality_filter: pure scan-stage predicate — zero
      exchanges, zero Python eval nodes (rejection happens before any
      shuffle sees a byte);
    - semantic_pairs: exactly ONE hash exchange (the shuffle BY CELL)
      feeding the per-cell pairwise FlatMapGroupsInPandas; the
      centroid assignment itself is a broadcast-side mapInPandas with
      no exchange."""
    from excelstream_spark.operators.quality import gopher_quality_filter
    from excelstream_spark.operators.similarity import semantic_pairs

    docs = load_table(spark, SF_DIR, "documents")
    g_plan = _plan(gopher_quality_filter(docs))
    assert "Exchange" not in g_plan, g_plan[:800]
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in g_plan, g_plan[:800]

    from excelstream_spark.operators.quality import (
        ngram_repetition_filter,
        repetition_filter,
    )

    r_plan = _plan(repetition_filter(docs))
    assert "Exchange" not in r_plan, r_plan[:800]
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in r_plan, r_plan[:800]

    # the n-gram gate is DELIBERATELY Arrow-batched Python (measured:
    # the expression form runs ~14 ms/doc interpreted — see
    # functions/text.ngram_repetition_metrics_py) — one MapInPandas in
    # the scan stage, still zero exchanges, never row-at-a-time Python
    ng_plan = _plan(ngram_repetition_filter(docs))
    assert "Exchange" not in ng_plan, ng_plan[:800]
    assert "MapInPandas" in ng_plan, ng_plan[:800]
    assert "BatchEvalPython" not in ng_plan, ng_plan[:800]

    emb = load_table(spark, SF_DIR, "embeddings")
    s_plan = _plan(semantic_pairs(emb))
    assert s_plan.count("Exchange hashpartitioning") == 1, s_plan[:1200]
    assert "FlatMapGroupsInPandas" in s_plan, s_plan[:1200]
