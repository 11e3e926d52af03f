"""The package's one timestamp rule (sources/xlsx/dates.py): every cell,
nested text and HTTP body holds the session zone's wall clock, and a
declared ``timestamp`` read takes each wall clock back in that zone, by
the rule of Spark's own ``CAST(timestamp_ntz AS timestamp)``."""

from __future__ import annotations

import csv
import datetime as dt
import io
import json
import os
import re
import zipfile
from zoneinfo import ZoneInfo

import pytest

from pyspark.sql import functions as F

from excelstream_spark.sources.xlsx import register_xlsx
from excelstream_spark.sources.xlsx.reader_core import WorkbookReader
from excelstream_spark.sources.xlsx.writer_core import WorkbookWriter

from .conftest import ROOT, run_in_retrying_session

#: the instants written, as UTC epoch microseconds: ordinary ones, one
#: with a fraction, one before 1970, New York's midnight, the first
#: 01:30 of its fall-back hour and the 03:30 just after its gap, a null
INSTANTS = [
    1704103200_000000,   # 2024-01-01 10:00Z
    1719828000_123456,   # 2024-07-01 10:00:00.123456Z
    -14182940_000000,    # 1969-07-20 20:17:40Z
    1704171600_000000,   # 2024-01-02 05:00Z, midnight in New York
    1730611800_000000,   # 2024-11-03 05:30Z, 01:30 EDT
    1710055800_000000,   # 2024-03-10 07:30Z, 03:30 EDT
    None,
]

ZONES = ["UTC", "America/New_York", "Asia/Kolkata"]

#: the process zone of the child session, unlike two of the session zones
PROCESS_ZONE = "America/New_York"

PATHS = ["batch", "stream", "append"]


def _wall(us: int | None, zone: str) -> dt.datetime | None:
    if us is None:
        return None
    instant = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(microseconds=us)
    return instant.astimezone(ZoneInfo(zone)).replace(tzinfo=None)


def _nested_texts(wall: dt.datetime | None) -> list[str]:
    """The text of ``st``, ``xs`` and ``m`` for a row whose ``ts`` is
    ``wall``: the Row values' text, holding the same wall clock."""
    return [f"Row(t={wall!r})", f"[{wall!r}]", f"{{'k': {wall!r}}}"]


@pytest.fixture(scope="session")
def zoned_outputs(tmp_path_factory) -> dict:
    """One child session in a ``TZ=America/New_York`` process writes the
    INSTANTS frame (``ts`` plus the same value in a struct, an array and a
    map) under each session zone, through the batch sink, the stream sink
    and ``append_to_workbook``, and exports it through HTTP and
    ``write_sheets``; it reads each sink output back with a declared
    ``timestamp`` schema and with the inferred one.  Returns, per zone,
    what it saw; the zone ``unset`` is a session that never set it."""
    out = str(tmp_path_factory.mktemp("zoned"))
    run_in_retrying_session(f"""
        import glob, io, json, zipfile
        from pyspark.sql import functions as F
        from excelstream_spark.sources import converters, http
        from excelstream_spark.sources.xlsx import register_xlsx

        register_xlsx(spark)
        out = {out!r}
        spark.createDataFrame(list(enumerate({INSTANTS!r})), "id long, us long") \\
            .coalesce(1).write.parquet(out + "/src")

        def frame(df):
            ts = F.timestamp_micros("us")
            return df.select(
                "id", ts.alias("ts"), F.struct(ts.alias("t")).alias("st"),
                F.array(ts).alias("xs"), F.create_map(F.lit("k"), ts).alias("m"),
            )

        def sheet(path):
            with zipfile.ZipFile(path) as z:
                return z.read("xl/worksheets/sheet1.xml").decode()

        def read_back(path, nested):
            declared = "id long, ts timestamp" + (", st string, xs string, m string" if nested else "")
            got = spark.read.format("xlsx").schema(declared).load(path)
            got = got.select("id", F.unix_micros("ts"), *got.columns[2:]).orderBy("id")
            rows = got.collect()
            inferred = spark.read.format("xlsx").load(path).select("id", "ts").orderBy("id")
            return {{
                "us": [r[1] for r in rows],
                "nested": [list(r[2:]) for r in rows] if nested else None,
                "wall": [None if r[1] is None else r[1].isoformat() for r in inferred.collect()],
            }}

        seen = {{}}
        for zone in {ZONES!r} + ["unset"]:
            if zone == "unset":
                spark.conf.unset("spark.sql.session.timeZone")
            else:
                spark.conf.set("spark.sql.session.timeZone", zone)
            d = out + "/" + zone.replace("/", "_")
            df = frame(spark.read.parquet(out + "/src")).orderBy("id")
            df.coalesce(1).write.format("xlsx").mode("overwrite").save(d + "/batch")
            q = (frame(spark.readStream.schema("id long, us long").parquet(out + "/src"))
                 .writeStream.format("xlsx").option("checkpointLocation", d + "/ckpt")
                 .option("path", d + "/stream").trigger(availableNow=True).start())
            q.awaitTermination(300)
            flat = df.select("id", "ts")
            flat.where("id < 3").coalesce(1).write.format("xlsx").mode("overwrite") \\
                .option("singleFile", True).save(d + "/append.xlsx")
            converters.append_to_workbook(spark, flat.where("id >= 3"), d + "/append.xlsx")
            converters.write_sheets({{"Sheet1": df}}, d + "/sheets.xlsx")
            [part] = glob.glob(d + "/batch/part-*.xlsx")
            seen[zone] = {{
                "zone": spark.conf.get("spark.sql.session.timeZone"),
                "batch": read_back(d + "/batch", True),
                "stream": read_back(d + "/stream", True),
                "append": read_back(d + "/append.xlsx", False),
                "arrow": http._fetches_as_arrow(df),
                "sink_sheet": sheet(part),
                "http_sheet": sheet(io.BytesIO(http.dataframe_to_xlsx_bytes(df))),
                "write_sheets_sheet": sheet(d + "/sheets.xlsx"),
                "csv": http.dataframe_to_csv_bytes(df).decode(),
            }}
        with open(out + "/seen.json", "w") as f:
            json.dump(seen, f)
    """, TZ=PROCESS_ZONE)
    with open(os.path.join(out, "seen.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("zone", ZONES + ["unset"])
def test_round_trip_keeps_instants(zoned_outputs, zone):
    """Through the batch sink, the stream sink and append_to_workbook, a
    declared ``timestamp`` read returns the instants written, the cells
    hold the session zone's wall clocks, and each nested timestamp's text
    shows the wall clock of the top-level cell beside it.  A session that
    never set its zone uses the JVM default, the process's zone."""
    seen = zoned_outputs[zone]
    session = PROCESS_ZONE if zone == "unset" else zone
    assert seen["zone"] == session
    walls = [_wall(us, session) for us in INSTANTS]
    for path in PATHS:
        got = seen[path]
        assert got["us"] == INSTANTS, path
        assert got["wall"] == [None if w is None else w.isoformat() for w in walls], path
        if got["nested"] is not None:
            assert got["nested"] == [_nested_texts(w) for w in walls], path


@pytest.mark.parametrize("zone", ZONES)
def test_renderers_agree_on_wall_clock(zoned_outputs, zone):
    """The sink's cells, the HTTP xlsx cells, the write_sheets cells and
    the HTTP csv text show the same wall clock for the same frame, and a
    frame with a timestamp column takes the Arrow path although the
    driver process's zone is not UTC."""
    seen = zoned_outputs[zone]
    assert seen["arrow"]
    assert seen["http_sheet"] == seen["sink_sheet"]
    assert seen["write_sheets_sheet"] == seen["sink_sheet"]
    walls = [_wall(us, zone) for us in INSTANTS]
    rows = list(csv.reader(io.StringIO(seen["csv"], newline="")))
    assert rows[0] == ["id", "ts", "st", "xs", "m"]
    assert [r[1] for r in rows[1:]] == ["" if w is None else str(w) for w in walls]
    assert [r[2:] for r in rows[1:]] == [_nested_texts(w) for w in walls]


#: New York wall clocks around both 2024 transitions, and ordinary ones
DST_WALLS = [
    dt.datetime(2024, 11, 3, 0, 59, 59),
    dt.datetime(2024, 11, 3, 1, 0),
    dt.datetime(2024, 11, 3, 1, 30),
    dt.datetime(2024, 11, 3, 1, 59, 59, 500000),
    dt.datetime(2024, 11, 3, 2, 0),
    dt.datetime(2024, 3, 10, 1, 59, 59),
    dt.datetime(2024, 3, 10, 2, 0),
    dt.datetime(2024, 3, 10, 2, 30),
    dt.datetime(2024, 3, 10, 2, 59, 59, 500000),
    dt.datetime(2024, 3, 10, 3, 0),
    dt.datetime(2024, 1, 1, 10, 0),
    dt.datetime(2024, 7, 4, 12, 34, 56, 789000),
    dt.datetime(1969, 7, 20, 20, 17, 40),
]


def _prefix_elements(xlsx: str) -> None:
    """Rewrite the worksheet with a namespace prefix on every element, a
    shape the batch scanner does not index, so the row reader serves it."""
    with zipfile.ZipFile(xlsx) as z:
        members = {n: z.read(n) for n in z.namelist()}
    name = "xl/worksheets/sheet1.xml"
    xml = members[name].decode()
    xml = re.sub(r"<(/?)(\w+)", r"<\1x:\2", xml).replace('xmlns="', 'xmlns:x="', 1)
    members[name] = xml.encode()
    with zipfile.ZipFile(xlsx, "w") as z:
        for n, data in members.items():
            z.writestr(n, data)


@pytest.mark.parametrize("reader", ["scanner", "row-reader"])
def test_declared_timestamp_read_matches_spark_cast(spark, tmp_path, reader):
    """In a New York session, a declared ``timestamp`` read of wall-clock
    cells equals Spark's own cast of the inferred ``timestamp_ntz`` read:
    the fall-back hour takes the earlier offset, and a wall clock in the
    spring-forward gap moves later by the gap's length; on the scanner and
    on the row-reader fallback."""
    from excelstream_spark.sources.xlsx.batch_scan import BatchSheetReader
    from pyspark.sql import types as T

    register_xlsx(spark)
    path = str(tmp_path / "walls.xlsx")
    with WorkbookWriter(path) as wb:
        wb.add_sheet("Sheet1")
        wb.write_header(["id", "ts"])
        for i, w in enumerate(DST_WALLS):
            wb.write_row([i, w])
    if reader == "row-reader":
        _prefix_elements(path)
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("ts", T.TimestampType())]
    )
    with WorkbookReader(path) as wb:
        scanned = list(BatchSheetReader(wb, "Sheet1", schema, True).batches())
    assert (sum(b.num_rows for b in scanned) > 0) == (reader == "scanner")

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        declared = spark.read.format("xlsx").schema("id long, ts timestamp").load(path)
        inferred = spark.read.format("xlsx").load(path)
        assert inferred.schema["ts"].dataType == T.TimestampNTZType()
        got = declared.select("id", F.unix_micros("ts")).orderBy("id").collect()
        cast = F.unix_micros(F.col("ts").cast("timestamp"))
        want = inferred.select("id", cast).orderBy("id").collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) == len(DST_WALLS)
    # the gap's 02:30 is 03:30 EDT; the fall-back hour's 01:30 is EDT
    assert got[7][1] == 1710055800_000000 and got[2][1] == 1730611800_000000


@pytest.mark.parametrize("zone, hours", [("+05:30", 5.5), ("GMT-8", -8), ("Z", 0)])
def test_fixed_offset_session_zone(spark, tmp_path, zone, hours):
    """A session zone spelled as a fixed offset, which pyarrow's zone
    database does not name, follows the same rule: the sink and the HTTP
    csv write its wall clock, top level and nested, and a declared read
    returns the instant written."""
    from excelstream_spark.sources import http

    register_xlsx(spark)
    out = str(tmp_path / "out")
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try:
        ts = F.timestamp_micros(F.lit(INSTANTS[0]))
        df = spark.range(1).select(ts.alias("ts"), F.struct(ts.alias("t")).alias("st"))
        df.coalesce(1).write.format("xlsx").mode("overwrite").save(out)
        [back] = spark.read.format("xlsx").schema("ts timestamp, st string").load(out) \
            .select(F.unix_micros("ts"), "st").collect()
        [(wall,)] = spark.read.format("xlsx").load(out).select("ts").collect()
        body = http.dataframe_to_csv_bytes(df).decode()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    want = _wall(INSTANTS[0], "UTC") + dt.timedelta(hours=hours)
    assert wall == want
    assert tuple(back) == (INSTANTS[0], _nested_texts(want)[0])
    assert body.splitlines()[1] == f'{want},"{_nested_texts(want)[0]}"'


def test_zone_rule_lives_in_dates_module():
    """Only sources/xlsx/dates.py converts between instants and wall
    clocks: no other module of sources/ names a zone conversion."""
    pattern = re.compile(
        r"local_timestamp|assume_timezone|astimezone|time\.timezone|time\.daylight"
    )
    sources = os.path.join(ROOT, "excelstream_spark", "sources")
    found = []
    for folder, _, files in os.walk(sources):
        for name in files:
            path = os.path.join(folder, name)
            if not name.endswith(".py") or path == os.path.join(sources, "xlsx", "dates.py"):
                continue
            with open(path) as f:
                found += [
                    f"{os.path.relpath(path, sources)}:{i}" for i, line in enumerate(f, 1)
                    if pattern.search(line)
                ]
    assert found == []
