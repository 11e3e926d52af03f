"""Streaming catalog entries: the stateful operators driven to completion
with Trigger.AvailableNow so the driver's batch-shaped oracle gate can
hash-check them.

``streaming_dedup_replay`` is deliberately adversarial: the events table
is delivered TWICE across two micro-batches (same file, maxFilesPerTrigger
=1).  A correct cross-batch stateful dedup emits each event exactly once,
so the result equals a plain SELECT over the batch table — which is the
oracle.  An implementation without cross-batch state would emit 2x rows
and fail the row-count check; one with broken key routing would fail the
value hash.
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

from excelstream_spark.plans.catalog import query
from excelstream_spark.plans import oracles as _ORC
from excelstream_spark.streaming import stateful as ST
from excelstream_spark.streaming.pipelines import (
    events_source,
    replayed_events_stream,
    run_available_now,
)
from excelstream_spark.tables import table_path


import contextlib


@contextlib.contextmanager
def _state_partitions(spark: SparkSession, n: int):
    """Scope ``spark.sql.shuffle.partitions`` around ONE streaming query.

    A stateful operator runs one state-store task per shuffle partition
    per micro-batch, each a Python-worker round trip for the
    applyInPandasWithState operators; at gate scale (thousands of state
    rows) 32 partitions are pure overhead — measured 29s -> 7.5s on
    streaming_neardup_replay with 8.  Safe to scope per query: every
    entry uses a FRESH checkpoint (the partition count is pinned into a
    checkpoint at first run, so long-lived production checkpoints must
    pick their real target size up front — at 100 TB that is hundreds
    of partitions, set once before the first start)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _replayed_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # unit-sniffed like the batch reader (tables.py) so a regenerated
    # fixture can't silently shift streamed event time 1000x
    return replayed_events_stream(spark, table_path(sf_dir, "events"))


@query(
    "streaming_dedup_replay",
    oracle="""
        SELECT CAST(event_id AS VARCHAR) AS key, event_id, ts,
               user_id, event_type, value
        FROM events
    """,
    tags=("streaming", "stateful", "dedup"),
)
def streaming_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch streaming dedup under exact redelivery: 2x delivered,
    1x emitted, hash-equal to the batch table."""
    stream = _replayed_events_stream(spark, sf_dir)
    return run_available_now(
        ST.streaming_dedup(stream),
        f"sdr_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )


@query(
    "streaming_user_tracker",
    oracle="""
        SELECT user_id,
               2 * count(*) AS n_events,
               CAST(2 * sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
               min(ts) AS first_seen,
               max(ts) AS last_seen
        FROM events
        GROUP BY user_id
    """,
    tags=("streaming", "stateful"),
)
def streaming_user_tracker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running aggregates over TWO replayed micro-batches,
    reduced to each user's FINAL state (the feature-store upsert view of
    the update-mode history).  The oracle is the doubled batch aggregate:
    n_events = 2x the batch count, total_value = 2x the batch sum
    compared EXACTLY — the tracker accumulates integer micro-units
    (order-independent, see streaming/stateful.py _TRACKER_STATE) so its
    double equals the oracle's exact-DECIMAL(18,6) sum bit-for-bit; no
    rounding guard, hence no .005-boundary flake when the fixture is
    regenerated — first/last_seen = the batch min/max event time, so the
    state machine's timestamps are hash-checked, not just counted."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    stream = _replayed_events_stream(spark, sf_dir)
    history = run_available_now(
        ST.user_activity_tracker(stream),
        f"sut_{uuid.uuid4().hex[:8]}",
        output_mode="update",
    )
    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        history.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "n_events",
            "total_value",
            "first_seen",
            "last_seen",
        )
    )


#: scratch dirs from PRIOR streaming_xlsx_sink invocations — each run
#: leaves a full xlsx copy of the events table plus checkpoint state,
#: and /tmp is tmpfs (RAM) here, so repeated bench/gate runs would
#: accumulate unboundedly.  The previous run's result is already
#: materialized by the time the next run starts (the same assumption
#: scope.release_persists makes), so clean eagerly at entry.
_SINK_SCRATCH: list[str] = []


def _sweep_sink_scratch() -> None:
    import shutil

    while _SINK_SCRATCH:
        shutil.rmtree(_SINK_SCRATCH.pop(), ignore_errors=True)


@query(
    "streaming_xlsx_sink",
    oracle="""
        SELECT event_id, user_id, event_type, value, ts FROM events
    """,
    tags=("streaming", "sink", "xlsx"),
)
def streaming_xlsx_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full streaming xlsx SINK path hash-checked end-to-end: the
    events table streams through readStream (unit-sniffed source), lands
    in part workbooks via writeStream.format('xlsx') (temp-then-rename
    commits, AvailableNow), and is read back through the xlsx batch
    reader — the result must value-hash-equal a plain SELECT of the
    batch table.  ``ts`` is INCLUDED (round 6; the r4/r5 oracle
    excluded it): the Excel-serial round-trip is µs-exact for
    fixture-era timestamps — the writer stores ``days + frac`` whose
    worst-case representation error is half an ulp of a ~45k-day
    serial ≈ 0.45 µs, the reader recovers frac exactly (Sterbenz) and
    ``rint``s to integer µs with a 0.5 µs margin — so the read-back
    timestamp equals the source timestamp bit-for-bit at µs precision
    and the oracle is a plain SELECT of ``ts``.  Restart/replay
    idempotence and complete-mode truncation are asserted in
    tests/test_streaming_stateful.py."""
    from excelstream_spark.sources.xlsx import register_xlsx

    register_xlsx(spark)
    _sweep_sink_scratch()
    stream, _ = events_source(spark, table_path(sf_dir, "events"))
    out = tempfile.mkdtemp(prefix="esspark_sink_")
    ckpt = tempfile.mkdtemp(prefix="esspark_sink_ckpt_")
    _SINK_SCRATCH.extend([out, ckpt])
    q = (
        stream.select("event_id", "user_id", "event_type", "value", "ts")
        .writeStream.format("xlsx")
        .option("checkpointLocation", ckpt)
        .option("path", out)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    if q.isActive:
        q.stop()
        raise TimeoutError("streaming_xlsx_sink did not finish in 180s")
    return (
        spark.read.format("xlsx")
        .schema(
            "event_id long, user_id long, event_type string, "
            "value double, ts timestamp"
        )
        .load(out)
    )


@query(
    "streaming_neardup_replay",
    oracle="""
        SELECT doc_id,
               CAST(8 AS BIGINT) AS n_bands,
               CAST(0 AS BIGINT)  AS n_owner_violations
        FROM documents
        WHERE coalesce(len(list_filter(
                regexp_split_to_array(lower(text), '\\s+'),
                x -> x <> '')), 0) >= 3
    """,
    tags=("streaming", "stateful", "dedup", "lsh"),
)
def streaming_neardup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-dup detection (streaming/neardup.py) under exact
    redelivery, hash-checked: the documents table is delivered TWICE
    across two micro-batches; minhash-LSH band buckets live in
    applyInPandasWithState state, so on the second delivery EVERY
    shingled document lands in a bucket owned since batch one and must
    be flagged on ALL 8 bands.  The oracled facts per flagged doc:

    * membership — exactly the >=3-token documents (fewer tokens -> no
      3-shingle -> empty band array -> never flagged); an implementation
      that loses bucket state between micro-batches would miss
      singleton docs entirely and fail the row count;
    * ``n_bands`` = 8 distinct colliding bands (the entry runs the
      8x4 banding config; the module default is 16x4) — posexplode of the
      full banded signature (a truncated or mis-indexed band array
      changes the count);
    * ``n_owner_violations`` = 0 — every emitted bucket owner is the
      MINIMUM doc_id ever seen in that bucket, so ``first_doc_id <=
      doc_id`` must hold on every flag row (broken first-arrival
      bookkeeping shows up here).

    Pair-level flag parity with the batch LSH family (stream state can
    be seeded from a batch backfill) is proven separately in
    tests/test_streaming_neardup.py."""
    from pyspark.sql import functions as F

    from excelstream_spark.streaming.neardup import streaming_neardup_flags
    from excelstream_spark.streaming.pipelines import (
        replayed_docs_stream,
        run_available_now,
    )

    stream = replayed_docs_stream(spark, table_path(sf_dir, "documents"))
    with _state_partitions(spark, 8):
        flags = run_available_now(
            streaming_neardup_flags(stream, bands=8, rows_per_band=4),
            f"snr_{uuid.uuid4().hex[:8]}",
            output_mode="append",
        )
    return flags.groupBy("doc_id").agg(
        F.countDistinct("band").cast("long").alias("n_bands"),
        F.sum(
            F.when(F.col("first_doc_id") > F.col("doc_id"), 1).otherwise(0)
        ).cast("long").alias("n_owner_violations"),
    )


@query(
    "streaming_dsir_gate",
    oracle=_ORC.dsir_gate_oracle(),
    tags=("streaming", "selection", "text"),
)
def streaming_dsir_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING DSIR quality gate under exact redelivery: the bucket
    log-ratio model is fit in BATCH (operators/selection.dsir_logratio
    on the English-target slice vs the pool — the stored-artifact
    shape), then applied to the document stream with
    ``dsir_score_mapside`` — stateless, shuffle-free (tokenize/
    shingle/bucket as JVM expressions + one Arrow-batched mapInPandas
    against the dense 10k-float model), so it needs no state store and
    every delivery of a doc scores identically.

    The documents table is delivered TWICE across two micro-batches;
    the oracled facts per doc: ``n_deliveries`` = 2 (append mode, no
    dedup — proves both batches flowed), ``n_distinct_scores`` = 1
    (bit-identical rescoring — a gate that accumulated state across
    batches, or a nondeterministic model broadcast, breaks this), and
    ``log_w_r`` equal to the BATCH importance weight replayed by the
    DuckDB oracle — stream-vs-batch score parity, the
    streaming_neardup precedent applied to the selection family."""
    from pyspark.sql import functions as F

    from excelstream_spark.operators.selection import (
        dsir_logratio,
        dsir_score_mapside,
    )
    from excelstream_spark.streaming.pipelines import replayed_docs_stream
    from excelstream_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    lam = dsir_logratio(docs.where(F.col("lang") == "en"), docs)
    stream = replayed_docs_stream(spark, table_path(sf_dir, "documents"))
    scored = dsir_score_mapside(
        stream.select("doc_id", "text"), lam
    )
    result = run_available_now(
        scored, f"dsg_{uuid.uuid4().hex[:8]}", output_mode="append"
    )
    return result.where(F.col("doc_id").isNotNull()).groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_deliveries"),
        F.countDistinct(F.round("log_w", 6)).cast("long").alias(
            "n_distinct_scores"
        ),
        F.round(F.max("log_w"), 6).alias("log_w_r"),
    )


def streaming_classifier_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[FOLDED r13 — policy rule 4, funding the warc_roundtrip_documents
    registration: the stateless-gate contract keeps its in-window
    representative via streaming_langid_gate and this gate's DuckDB
    hash check moved verbatim to tests/test_catalog_oracle.py::
    test_folded_streaming_classifier_gate_oracle.]

    STREAMING quality-classifier gate under exact redelivery: the
    logistic-regression model is trained in BATCH (the
    quality_classifier_filter recipe — 4 GD steps against the Gopher
    length label), then applied to the document stream with
    ``classifier_score_mapside`` — stateless, shuffle-free (tokenize/
    shingle/bucket/distinct as JVM expressions + one Arrow-batched
    mapInPandas against the dense 1024-float weight vector), so it
    needs no state store and every delivery of a doc scores
    identically.

    The documents table is delivered TWICE across two micro-batches;
    oracled facts per doc: ``n_deliveries`` = 2 (append mode, both
    batches flowed), ``n_distinct_scores`` = 1 (bit-identical
    rescoring), and ``score_r`` equal to the BATCH path's score
    replayed by the unrolled-GD DuckDB oracle — the mapside margin is
    the same exact DECIMAL(38,15) sum of w*x products the batch join
    computes, so stream-vs-batch parity holds to the full 6-decimal
    score (the streaming_dsir_gate precedent applied to the
    discriminative model)."""
    from pyspark.sql import functions as F

    from excelstream_spark.functions import text as TXT
    from excelstream_spark.operators.classifier import (
        classifier_score_mapside,
        train_quality_classifier,
    )
    from excelstream_spark.streaming.pipelines import replayed_docs_stream
    from excelstream_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    labeled = docs.withColumn(
        "y",
        F.size(TXT.tokens(F.coalesce(F.col("text"), F.lit(""))))
        .between(50, 100_000)
        .cast("int"),
    )
    model = train_quality_classifier(
        labeled, "y", n_buckets=1024, steps=4, lr=8.0
    )
    stream = replayed_docs_stream(spark, table_path(sf_dir, "documents"))
    scored = classifier_score_mapside(stream.select("doc_id", "text"), model)
    result = run_available_now(
        scored, f"scg_{uuid.uuid4().hex[:8]}", output_mode="append"
    )
    return result.where(F.col("doc_id").isNotNull()).groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_deliveries"),
        F.countDistinct(F.col("score_r")).cast("long").alias(
            "n_distinct_scores"
        ),
        F.max("score_r").alias("score_r"),
    )


@query(
    "streaming_c4_gate",
    oracle=_ORC.c4_gate_oracle(),
    tags=("streaming", "quality", "c4"),
)
def streaming_c4_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING C4 cleaning gate under exact redelivery: the line
    rules are pure JVM array/regexp expressions (zero state, zero
    shuffle inside the micro-batch), so the gate needs no state store
    and every delivery of a document decides identically — the
    stateless-gate family (streaming_dsir_gate /
    streaming_classifier_gate) extended to rule-based cleaning.

    The documents table is delivered TWICE across two micro-batches
    under the batch row's deterministic line augmentation; oracled
    facts per doc: ``n_deliveries`` = 2 (append mode, both batches
    flowed), ``n_distinct_decisions`` = 1 (bit-identical re-decisions),
    and the (n_kept_lines, c4_pass) pair equal to the BATCH c4 oracle —
    stream-vs-batch decision parity."""
    from pyspark.sql import functions as F

    from excelstream_spark.functions import text as TXT
    from excelstream_spark.streaming.pipelines import replayed_docs_stream

    stream = replayed_docs_stream(spark, table_path(sf_dir, "documents"))
    m = TXT.c4_metrics(F.expr(_ORC.C4_AUG_LINES_SQL))
    flagged = stream.select(
        "doc_id",
        m["n_kept_lines"].cast("long").alias("n_kept_lines"),
        m["c4_pass"].alias("c4_pass"),
    )
    result = run_available_now(
        flagged, f"c4g_{uuid.uuid4().hex[:8]}", output_mode="append"
    )
    return (
        result.where(F.col("doc_id").isNotNull())
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_deliveries"),
            F.countDistinct(
                F.struct("n_kept_lines", "c4_pass")
            ).cast("long").alias("n_distinct_decisions"),
            F.max("n_kept_lines").alias("n_kept_lines"),
            F.max("c4_pass").alias("c4_pass"),
        )
    )


@query(
    "streaming_langid_gate",
    oracle=_ORC.langid_gate_oracle(),
    tags=("streaming", "langid", "classifier"),
)
def streaming_langid_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING language-ID gate under exact redelivery (r12 verdict
    #3 — langid was the one model family without the serving/streaming
    forms): the Cavnar-Trenkle rank profiles are trained in BATCH on
    the even-doc_id labeled slice (the langid_ngram_rank recipe), then
    applied to the odd-doc stream with ``langid_score_mapside`` —
    stateless, shuffle-free (one Arrow-batched mapInPandas against the
    collected n_langs x top_k profile dict, kilobytes; the
    broadcast-the-model shape), so it needs no state store and every
    delivery of a doc calls the same language.

    The documents table is delivered TWICE across two micro-batches;
    oracled facts per doc: ``n_deliveries`` = 2 (append mode, both
    batches flowed), ``n_distinct_calls`` = 1 (bit-identical re-calls
    — the scorer is INTEGER-exact, so this gate has no rounding band
    at all), and the (lang_pred, distance) pair equal to the BATCH
    langid oracle replayed by DuckDB — stream-vs-batch call parity
    (the streaming_classifier_gate precedent applied to the
    rank-profile classifier).  Docs with no n-grams are absent on both
    engines (a language call needs evidence)."""
    from pyspark.sql import functions as F

    from excelstream_spark.operators.langid import (
        langid_score_mapside,
        train_language_profiles,
    )
    from excelstream_spark.streaming.pipelines import replayed_docs_stream
    from excelstream_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    profiles = train_language_profiles(docs.where(F.col("doc_id") % 2 == 0))
    stream = replayed_docs_stream(spark, table_path(sf_dir, "documents"))
    called = langid_score_mapside(
        stream.select("doc_id", "text").where(F.col("doc_id") % 2 != 0),
        profiles,
    )
    result = run_available_now(
        called, f"slg_{uuid.uuid4().hex[:8]}", output_mode="append"
    )
    return (
        result.where(F.col("doc_id").isNotNull())
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_deliveries"),
            F.countDistinct(
                F.struct("lang_pred", "distance")
            ).cast("long").alias("n_distinct_calls"),
            F.max("lang_pred").alias("lang_pred"),
            F.max("distance").alias("distance"),
        )
    )
