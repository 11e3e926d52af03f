"""Custom stateful streaming operators (applyInPandasWithState):
cross-batch dedup and running per-user aggregates, driven with
AvailableNow over replayed micro-batches."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from excelstream_spark.streaming.pipelines import (
    events_stream,
    replayed_events_stream,
    run_available_now,
)
from excelstream_spark.streaming import stateful as ST
from excelstream_spark.tables import load_table

from .conftest import SF_DIR


@pytest.fixture()
def replayed_stream(spark, tmp_path):
    """Two identical micro-batches (same file symlinked twice,
    maxFilesPerTrigger=1) — an exact redelivery scenario."""
    src = os.path.join(SF_DIR, "events.parquet")
    d = str(tmp_path / "replay")
    os.makedirs(d)
    raw = replayed_events_stream(spark, src, link_dir=d)
    return raw, src


def test_stream_ingest_matches_batch_ingest(spark, tmp_path):
    """Ingest parity: the streaming source and the batch loader must
    yield IDENTICAL rows — especially ``ts`` VALUES — on the same file.
    Guards against fixture regenerations flipping the parquet timestamp
    unit (nanos vs micros): a hard-coded unit shifts event time 1000x
    while counts and schema still match (the round-3 regression)."""
    src = os.path.join(SF_DIR, "events.parquet")
    streamed = run_available_now(
        events_stream(spark, src), "t_ingest_parity", output_mode="append"
    )
    batch = load_table(spark, SF_DIR, "events")
    assert streamed.schema == batch.schema
    cols = batch.columns
    s_rows = sorted(map(tuple, streamed.select(*cols).collect()))
    b_rows = sorted(map(tuple, batch.select(*cols).collect()))
    assert s_rows == b_rows  # value-level, not count-level
    # sanity: event time is in the fixture's actual epoch, not 1970
    assert all(r["ts"].year >= 2000 for r in streamed.select("ts").take(50))


def test_streaming_dedup_suppresses_replay(spark, replayed_stream):
    raw, src = replayed_stream
    out = run_available_now(ST.streaming_dedup(raw), "t_dedup", output_mode="append")
    batch = load_table(spark, SF_DIR, "events")
    n_events = batch.count()
    assert out.count() == n_events  # 2x delivered, 1x emitted
    assert out.select("key").distinct().count() == n_events
    # value-level check: emitted (event_id, ts) pairs equal the batch table
    got = sorted(map(tuple, out.select("event_id", "ts").collect()))
    want = sorted(map(tuple, batch.select("event_id", "ts").collect()))
    assert got == want


def test_user_activity_tracker_running_totals(spark, replayed_stream):
    raw, _ = replayed_stream
    out = run_available_now(
        ST.user_activity_tracker(raw), "t_tracker", output_mode="update"
    )
    latest = (
        out.toPandas()
        .sort_values(["user_id", "n_events"])
        .groupby("user_id")
        .tail(1)
    )
    # ground truth: two identical batches -> totals are 2x one batch
    single = (
        load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("tv"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
        )
        .toPandas()
    )
    m = latest.merge(single, on="user_id")
    assert (m["n_events"] == 2 * m["n"]).all()
    assert (abs(m["total_value"] - 2 * m["tv"]) < 1e-6).all()
    # first/last seen are VALUE-equal to the batch min/max event time
    # (count-only assertions masked the round-3 ts-unit corruption)
    assert (m["first_seen"] == m["min_ts"]).all()
    assert (m["last_seen"] == m["max_ts"]).all()


def test_streaming_dedup_suppresses_across_batch_gap(spark, tmp_path):
    """A key seen ONLY in batch 1 and re-delivered in batch 3 (a batch
    with no sight of it in between) is still suppressed.  Regression:
    the first batch ran with watermark 0, so a watermark-anchored TTL
    expired batch-1 state the moment the watermark advanced — dupes
    re-delivered 2+ batches later were silently re-admitted."""
    import pandas as pd

    d = str(tmp_path / "gap")
    os.makedirs(d)
    ts = pd.to_datetime("2024-01-01 12:00:00")
    cols = dict(event_type=["a"], value=[1.0], props=["{}"])
    b1 = pd.DataFrame({"event_id": [1], "ts": [ts], "user_id": [7], **cols})
    b2 = pd.DataFrame({"event_id": [2], "ts": [ts], "user_id": [8], **cols})
    b3 = pd.DataFrame({"event_id": [1], "ts": [ts], "user_id": [7], **cols})
    for i, b in enumerate((b1, b2, b3)):
        p = f"{d}/b{i}.parquet"
        b.to_parquet(p, index=False, coerce_timestamps="us")
        os.utime(p, (1_700_000_000 + i * 100,) * 2)

    from excelstream_spark.streaming.pipelines import _open_events_stream

    stream = _open_events_stream(spark, d, f"{d}/b0.parquet", maxFilesPerTrigger=1)
    out = run_available_now(ST.streaming_dedup(stream), "t_dedup_gap")
    got = sorted(r["event_id"] for r in out.collect())
    assert got == [1, 2]  # the batch-3 re-delivery of event 1 suppressed


def test_xlsx_streaming_source_incremental(spark, tmp_path):
    """readStream.format('xlsx'): files appearing between runs are picked
    up exactly once; reruns without new files add nothing."""
    import os

    from excelstream_spark.sources.xlsx import WorkbookWriter, register_xlsx

    register_xlsx(spark)
    watch = str(tmp_path / "watch")
    os.makedirs(watch)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def write_wb(path, rows):
        tmp = path + ".tmp"
        with WorkbookWriter(tmp) as wb:
            wb.add_sheet("S")
            wb.write_row(["id", "v"])
            for r in rows:
                wb.write_row(r)
        os.rename(tmp, path)  # atomic appearance, file-source contract

    def run_once():
        st = spark.readStream.format("xlsx").schema("id long, v string").load(watch)
        q = (
            st.writeStream.format("parquet").outputMode("append")
            .option("checkpointLocation", ckpt).option("path", out)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        assert not q.isActive
        return sorted(tuple(r) for r in spark.read.parquet(out).collect())

    write_wb(f"{watch}/a.xlsx", [[1, "a1"], [2, "a2"]])
    assert run_once() == [(1, "a1"), (2, "a2")]
    write_wb(f"{watch}/b.xlsx", [[3, "b1"]])
    assert run_once() == [(1, "a1"), (2, "a2"), (3, "b1")]
    assert run_once() == [(1, "a1"), (2, "a2"), (3, "b1")]  # idempotent


def test_xlsx_streaming_offset_compaction(tmp_path):
    """maxFileAgeSec keeps offsets bounded: files older than the age
    window drop out of 'recent' while new arrivals are still detected
    exactly once (unit-level, no Spark query needed)."""
    import os
    import time

    from pyspark.sql import types as T

    from excelstream_spark.sources.xlsx import WorkbookWriter
    from excelstream_spark.sources.xlsx.datasource import XlsxDataSource

    watch = str(tmp_path / "watch")
    os.makedirs(watch)

    def write_wb(name, mtime=None):
        p = f"{watch}/{name}"
        with WorkbookWriter(p) as wb:
            wb.add_sheet("S")
            wb.write_row(["id"])
            wb.write_row([1])
        if mtime is not None:
            os.utime(p, (mtime, mtime))
        return p

    schema = T.StructType([T.StructField("id", T.LongType())])
    rdr = XlsxDataSource({"path": watch, "maxfileagesec": "100"}).streamReader(schema)

    now = time.time()
    # 50 "old" files far outside the window + 2 recent ones
    for i in range(50):
        write_wb(f"old{i:02d}.xlsx", mtime=now - 10_000 + i)
    write_wb("new1.xlsx", mtime=now - 10)
    write_wb("new2.xlsx", mtime=now)

    start = rdr.initialOffset()
    end = rdr.latestOffset()
    # offset is bounded by the age window, not total file count
    assert sorted(os.path.basename(f) for f in end["recent"]) == [
        "new1.xlsx", "new2.xlsx"]
    parts = rdr.partitions(start, end)
    assert sorted(os.path.basename(p.file) for p in parts) == [
        "new1.xlsx", "new2.xlsx"]

    # next trigger: one more arrival; previously-seen recents excluded
    write_wb("new3.xlsx", mtime=now + 1)
    end2 = rdr.latestOffset()
    parts2 = rdr.partitions(end, end2)
    assert [os.path.basename(p.file) for p in parts2] == ["new3.xlsx"]

    # an exact-mode checkpoint ({"seen": ...}) is accepted as start
    parts3 = rdr.partitions({"seen": end2["recent"]}, rdr.latestOffset())
    assert parts3 == []


def test_xlsx_stream_reader_realigns_swapped_header(tmp_path):
    """A streamed workbook whose header order differs from the schema is
    realigned by header name, as the batch reader does (unit-level, no
    Spark query needed); the batch scanner reads both files, with no
    fallback warning."""
    import datetime as dt
    import os
    import warnings

    from pyspark.sql import types as T

    from excelstream_spark.sources.xlsx import WorkbookWriter
    from excelstream_spark.sources.xlsx.datasource import XlsxDataSource

    watch = str(tmp_path / "w")
    os.makedirs(watch)
    t1, t2 = dt.datetime(2024, 1, 2, 3, 4, 5), dt.datetime(2023, 5, 6)
    with WorkbookWriter(f"{watch}/a.xlsx") as wb:
        wb.add_sheet("S")
        wb.write_row(["id", "name", "ts"])
        wb.write_row([1, "x", t1])
    with WorkbookWriter(f"{watch}/b.xlsx") as wb:
        wb.add_sheet("S")
        wb.write_row(["ts", "name", "id"])
        wb.write_row([t2, "y", 2])
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("ts", T.TimestampNTZType()),
    ])
    rdr = XlsxDataSource({"path": watch}).streamReader(schema)
    parts = rdr.partitions(rdr.initialOffset(), rdr.latestOffset())
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        rows = {
            os.path.basename(p.file): [
                tuple(d.values()) for b in rdr.read(p) for d in b.to_pylist()
            ]
            for p in parts
        }
    assert rows == {"a.xlsx": [(1, "x", t1)], "b.xlsx": [(2, "y", t2)]}


def test_disabling_offset_compaction_fails_fast(tmp_path):
    """A compacted checkpoint must not be silently reinterpreted as an
    exact-mode one (would reprocess the whole directory)."""
    import os

    import pytest
    from pyspark.sql import types as T

    from excelstream_spark.sources.xlsx.datasource import XlsxDataSource

    watch = str(tmp_path / "w")
    os.makedirs(watch)
    schema = T.StructType([T.StructField("id", T.LongType())])
    rdr = XlsxDataSource({"path": watch}).streamReader(schema)  # option removed
    with pytest.raises(ValueError, match="maxFileAgeSec"):
        rdr.partitions({"mark": 1.0, "recent": []}, {"seen": []})


def test_xlsx_stream_sink_roundtrip(spark, tmp_path):
    """writeStream.format('xlsx'): micro-batches land as batch-NNN part
    workbooks, incremental across restarts, temps invisible to readers,
    replayed commits idempotent."""
    import glob as g
    import os

    from excelstream_spark.sources.xlsx import register_xlsx

    register_xlsx(spark)
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def run_once(shared_strings="false"):
        st = spark.readStream.schema("id long, v string").parquet(src)
        q = (st.writeStream.format("xlsx")
             .option("useSharedStrings", shared_strings)
             .option("checkpointLocation", ckpt).option("path", out)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        assert not q.isActive

    spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string") \
        .coalesce(1).write.mode("append").parquet(src)
    run_once()
    back = spark.read.format("xlsx").load(out)
    assert sorted(tuple(r) for r in back.collect()) == [(1, "a"), (2, "b")]

    spark.createDataFrame([(3, "c")], "id long, v string") \
        .coalesce(1).write.mode("append").parquet(src)
    run_once(shared_strings="true")  # second batch with a shared-string table
    back = spark.read.format("xlsx").load(out)
    assert sorted(tuple(r) for r in back.collect()) == [(1, "a"), (2, "b"), (3, "c")]
    run_once()  # no new data: nothing added
    assert spark.read.format("xlsx").load(out).count() == 3

    # file naming is deterministic per (batch, partition); no temps remain
    parts = sorted(os.path.basename(f) for f in g.glob(out + "/*.xlsx"))
    assert all(p.startswith("batch-") for p in parts)
    assert not g.glob(out + "/.tmp-*")

    # replayed commit (same batchId) overwrites, never duplicates
    import pyarrow as pa
    from pyspark.sql import types as T

    from excelstream_spark.sources.xlsx.datasource import XlsxStreamWriter

    w = XlsxStreamWriter(
        T.StructType([T.StructField("id", T.LongType())]), {"path": out}
    )
    before = sorted(g.glob(out + "/*.xlsx"))

    def batches():
        return iter([pa.record_batch([pa.array([99], pa.int64())], names=["id"])])

    msg = w.write(batches())
    w.commit([msg], batchId=0)  # batch 0 already exists -> replace
    msg2 = w.write(batches())
    w.commit([msg2], batchId=0)
    assert sorted(g.glob(out + "/*.xlsx")) == before


def test_xlsx_stream_sink_complete_mode_truncates(spark, tmp_path):
    """outputMode('complete') (overwrite=True to streamWriter): the
    directory holds exactly the latest batch's aggregate snapshot."""
    import glob as g
    import os

    from excelstream_spark.sources.xlsx import register_xlsx

    register_xlsx(spark)
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def run_once():
        st = spark.readStream.schema("k string, v long").parquet(src)
        q = (st.groupBy("k").count().writeStream.format("xlsx")
             .outputMode("complete")
             .option("checkpointLocation", ckpt).option("path", out)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        assert not q.isActive

    spark.createDataFrame([("a", 1), ("a", 2), ("b", 3)], "k string, v long") \
        .coalesce(1).write.mode("append").parquet(src)
    run_once()
    got = {(r["k"], r["count"]) for r in
           spark.read.format("xlsx").load(out).collect()}
    assert got == {("a", 2), ("b", 1)}

    spark.createDataFrame([("b", 4), ("c", 5)], "k string, v long") \
        .coalesce(1).write.mode("append").parquet(src)
    run_once()
    got = {(r["k"], r["count"]) for r in
           spark.read.format("xlsx").load(out).collect()}
    # latest snapshot ONLY — no stale batch-0 rows alongside
    assert got == {("a", 2), ("b", 2), ("c", 1)}
    names = [os.path.basename(f) for f in g.glob(out + "/*.xlsx")]
    assert all(n.startswith("batch-00000001-") for n in names)


def test_xlsx_stream_sink_honors_write_options(spark, tmp_path):
    """Stream sink shares the batch sink's full option set: sheet split
    at maxRowsPerSheet and column styles land in the part files."""
    import glob as g
    import os
    import zipfile

    from excelstream_spark.sources.xlsx import WorkbookReader, register_xlsx

    register_xlsx(spark)
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    os.makedirs(src)
    spark.range(250).selectExpr("id", "cast(id as double) as amount") \
        .coalesce(1).write.mode("append").parquet(src)
    st = spark.readStream.schema("id long, amount double").parquet(src)
    q = (st.writeStream.format("xlsx")
         .option("maxRowsPerSheet", 100)
         .option("columnStyles", ",currency")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .option("path", out).trigger(availableNow=True).start())
    q.awaitTermination(120)
    [f] = g.glob(out + "/*.xlsx")
    with WorkbookReader(f) as wb:
        assert len(wb.sheet_names()) == 3  # 99+99+52 data rows + headers
        total = sum(sum(1 for _ in wb.iter_rows(s)) - 1 for s in wb.sheet_names())
    assert total == 250
    assert b'"currency"' not in zipfile.ZipFile(f).read("xl/worksheets/sheet1.xml")
    assert b' s="' in zipfile.ZipFile(f).read("xl/worksheets/sheet1.xml")


def test_xlsx_streaming_loop_source_to_sink(spark, tmp_path):
    """Full streaming loop: xlsx stream source -> transformation ->
    xlsx stream sink, incremental across two triggers."""
    import glob as g
    import os

    from excelstream_spark.sources.xlsx import WorkbookWriter, register_xlsx

    register_xlsx(spark)
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def write_wb(name, rows):
        tmp = f"{src}/{name}.tmp"
        with WorkbookWriter(tmp) as wb:
            wb.add_sheet("S")
            wb.write_row(["id", "qty"])
            for r in rows:
                wb.write_row(r)
        os.rename(tmp, f"{src}/{name}")

    def run_once():
        st = (spark.readStream.format("xlsx")
              .schema("id long, qty long").load(src))
        doubled = st.selectExpr("id", "qty * 2 as qty2")
        q = (doubled.writeStream.format("xlsx")
             .option("checkpointLocation", ckpt).option("path", out)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        assert not q.isActive

    write_wb("a.xlsx", [[1, 10], [2, 20]])
    run_once()
    got = sorted(tuple(r) for r in spark.read.format("xlsx").load(out).collect())
    assert got == [(1, 20), (2, 40)]
    write_wb("b.xlsx", [[3, 30]])
    run_once()
    got = sorted(tuple(r) for r in spark.read.format("xlsx").load(out).collect())
    assert got == [(1, 20), (2, 40), (3, 60)]
    assert all(os.path.basename(f).startswith("batch-")
               for f in g.glob(out + "/*.xlsx"))
    assert not g.glob(out + "/.tmp-*")  # commit swept its temps


def test_user_tracker_across_distinct_batches(spark, tmp_path):
    """State merges across genuinely DIFFERENT micro-batches (the replay
    tests use identical ones): per-user totals and first/last_seen must
    equal the batch aggregate of the union."""
    import pandas as pd

    d = str(tmp_path / "batches")
    os.makedirs(d)
    b1 = pd.DataFrame({
        "event_id": [1, 2, 3],
        "ts": pd.to_datetime(["2024-01-01 10:00", "2024-01-01 11:00", "2024-01-01 12:00"]),
        "user_id": [7, 7, 8],
        "event_type": ["a", "b", "a"],
        "value": [1.5, 2.5, 10.0],
        "props": ["{}"] * 3,
    })
    b2 = pd.DataFrame({
        "event_id": [4, 5],
        "ts": pd.to_datetime(["2024-01-01 09:00", "2024-01-01 13:00"]),  # earlier AND later
        "user_id": [7, 8],
        "event_type": ["c", "b"],
        "value": [4.0, 20.0],
        "props": ["{}"] * 2,
    })
    b1.to_parquet(f"{d}/b1.parquet", index=False)
    b2.to_parquet(f"{d}/b2.parquet", index=False)

    from excelstream_spark.streaming.pipelines import _open_events_stream

    stream = _open_events_stream(spark, d, f"{d}/b1.parquet", maxFilesPerTrigger=1)
    out = run_available_now(
        ST.user_activity_tracker(stream), "t_tracker_distinct", output_mode="update"
    )
    final = (
        out.toPandas().sort_values(["user_id", "n_events"]).groupby("user_id").tail(1)
    ).set_index("user_id")
    assert final.loc[7, "n_events"] == 3
    assert abs(final.loc[7, "total_value"] - 8.0) < 1e-9
    # first_seen comes from batch-2's EARLIER event (out-of-order arrival)
    assert str(final.loc[7, "first_seen"]) == "2024-01-01 09:00:00"
    assert str(final.loc[7, "last_seen"]) == "2024-01-01 11:00:00"
    assert final.loc[8, "n_events"] == 2
    assert str(final.loc[8, "first_seen"]) == "2024-01-01 12:00:00"
    assert str(final.loc[8, "last_seen"]) == "2024-01-01 13:00:00"


def test_tracker_null_values_contribute_zero(spark, tmp_path):
    """A NULL event value must contribute 0 to the tracker's exact
    micro-unit total (the skipna semantics of both a float sum and SQL
    SUM) — not the int64-min garbage a NaN->int64 cast produces."""
    import os

    import pandas as pd

    from excelstream_spark.streaming import stateful as ST
    from excelstream_spark.streaming.pipelines import run_available_now

    d = str(tmp_path / "ev")
    os.makedirs(d)
    ts = pd.Timestamp("2024-01-01 12:00:00")
    pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": [ts, ts, ts],
            "user_id": [7, 7, 7],
            "event_type": ["a", "a", "a"],
            "value": [1.25, None, 2.5],
            "props": ["{}", "{}", "{}"],
        }
    )
    pdf.to_parquet(f"{d}/b.parquet", index=False, coerce_timestamps="us")
    stream = spark.readStream.schema(
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string"
    ).parquet(d)
    out = run_available_now(
        ST.user_activity_tracker(stream), "t_null_vals", output_mode="update"
    ).toPandas()
    assert out["n_events"].tolist() == [3]
    assert out["total_value"].tolist() == [3.75]
