"""XLSX source/sink tests — ports of the reference's round-trip suite
(FIXTURES.md F1-F8 / reference tests/integration_test.rs) plus the
Spark-specific surface (partitioned writes, schema inference, options)."""

from __future__ import annotations

import datetime as dt
import os
import zipfile

import pytest

from pyspark.sql import functions as F, types as T

from excelstream_spark.sources.xlsx import register_xlsx
from excelstream_spark.sources.xlsx.dates import (
    datetime_to_serial,
    serial_to_datetime,
)
from excelstream_spark.sources.xlsx import ooxml
from excelstream_spark.sources.xlsx.reader_core import WorkbookReader
from excelstream_spark.sources.xlsx.writer_core import WorkbookWriter

from .conftest import SF_DIR


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register_xlsx(spark)


# --- F8: serial-date vectors ---------------------------------------------

DATE_VECTORS = {
    1.0: "1900-01-01",
    59.0: "1900-02-28",
    60.0: "1900-02-28",  # fictitious leap day renders as 02-28
    61.0: "1900-03-01",
    25569.0: "1970-01-01",
    36526.0: "2000-01-01",
    43890.0: "2020-02-29",
    44562.0: "2022-01-01",
    45217.0: "2023-10-18",
    73051.0: "2100-01-01",
}


def test_serial_date_vectors():
    for serial, expected in DATE_VECTORS.items():
        assert serial_to_datetime(serial).date().isoformat() == expected
    for frac, hms in [(0.5, (12, 0, 0)), (0.25, (6, 0, 0)), (0.75, (18, 0, 0))]:
        got = serial_to_datetime(44562.0 + frac)
        assert (got.hour, got.minute, got.second) == hms
    assert serial_to_datetime(0.5) is None       # below range
    assert serial_to_datetime(2958466.5) is None  # above range


def test_serial_inverse_roundtrip():
    for serial in [1.0, 59.0, 61.0, 25569.0, 44562.75, 73051.0]:
        assert abs(datetime_to_serial(serial_to_datetime(serial)) - serial) < 1e-9


def test_serial_column_expressions(spark):
    serials = [s for s in DATE_VECTORS if s != 60.0]  # 60 is non-invertible
    df = spark.createDataFrame([(s,) for s in serials], "serial double")
    from excelstream_spark.sources.xlsx.dates import (
        excel_serial_to_timestamp,
        timestamp_to_excel_serial,
    )
    out = df.select(
        "serial",
        excel_serial_to_timestamp(F.col("serial")).alias("ts"),
    ).withColumn("back", timestamp_to_excel_serial(F.col("ts")))
    for row in out.collect():
        assert row["ts"].date().isoformat() == DATE_VECTORS[row["serial"]]
        assert abs(row["back"] - row["serial"]) < 1e-9


# --- F2: typed row round-trip --------------------------------------------

def test_typed_roundtrip(spark, tmp_path):
    schema = T.StructType([
        T.StructField("name", T.StringType()),
        T.StructField("age", T.LongType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("active", T.BooleanType()),
        T.StructField("joined", T.TimestampNTZType()),
        T.StructField("note", T.StringType()),
    ])
    rows = [
        ("Alice", 30, 1234.56, True, dt.datetime(2023, 1, 1, 12, 0, 0), None),
        ("Bob", -1, -0.5, False, dt.datetime(1995, 6, 15, 23, 59, 59), ""),
        (None, None, None, None, None, "x"),
    ]
    df = spark.createDataFrame(rows, schema)
    out = str(tmp_path / "typed")
    df.coalesce(1).write.mode("overwrite").format("xlsx").save(out)
    back = spark.read.format("xlsx").load(out)
    assert [f.dataType for f in back.schema.fields] == [
        f.dataType for f in schema.fields
    ]
    got = sorted([tuple(r) for r in back.collect()], key=repr)
    want = sorted(rows, key=repr)
    assert got == want


# --- F4: special chars / unicode -----------------------------------------

def test_special_chars_roundtrip(spark, tmp_path):
    rows = [
        ("Text with <xml> tags",),
        ('Quote: "Hello"',),
        ("Ampersand: & Apostrophe: '",),
        ("Emoji: 😀🎉 Ñoño ∑∏∫ €£¥ ID бизнес-аккаунта",),
        ("A" * 10_000,),
        ("tab\tand\nnewline",),
    ]
    df = spark.createDataFrame(rows, "s string")
    out = str(tmp_path / "special")
    df.coalesce(1).write.mode("overwrite").format("xlsx").save(out)
    got = {r["s"] for r in spark.read.format("xlsx").load(out).collect()}
    assert got == {r[0] for r in rows}


# --- F3: 1000-row stream + partitioned write ------------------------------

def test_partitioned_stream_roundtrip(spark, tmp_path):
    df = spark.range(1000).select(
        F.col("id").alias("ID"),
        F.concat(F.lit("Name_"), F.col("id")).alias("Name"),
        (F.col("id") * 100).alias("Value"),
    )
    out = str(tmp_path / "stream")
    df.repartition(8).write.mode("overwrite").format("xlsx").save(out)
    back = spark.read.format("xlsx").load(out)
    assert back.count() == 1000
    assert back.agg(F.sum("Value")).first()[0] == sum(i * 100 for i in range(1000))


def test_load_several_paths(spark, tmp_path):
    """load([a, b]) reads the workbooks under every path (Spark passes the
    list as the JSON option ``paths``); load(a) still reads one."""
    dirs = []
    for name, ids in (("a", range(3)), ("b", range(10, 12))):
        out = str(tmp_path / name)
        spark.createDataFrame([(i, f"n{i}") for i in ids], "id long, s string") \
            .coalesce(1).write.mode("overwrite").format("xlsx").save(out)
        dirs.append(out)
    both = spark.read.format("xlsx").load(dirs)
    assert both.schema.simpleString() == "struct<id:bigint,s:string>"
    assert sorted(tuple(r) for r in both.collect()) == [
        (0, "n0"), (1, "n1"), (2, "n2"), (10, "n10"), (11, "n11"),
    ]
    assert sorted(r.id for r in spark.read.format("xlsx").load(dirs[1]).collect()) == [10, 11]


# --- F5: multi-sheet ------------------------------------------------------

def test_multi_sheet_workbook(tmp_path):
    p = str(tmp_path / "multi.xlsx")
    with WorkbookWriter(p) as wb:
        wb.add_sheet("Sales")
        wb.write_row(["Jan", 1000])
        wb.add_sheet("Данные")
        wb.write_row(["я", 2])
        wb.add_sheet("数据")
        wb.write_row(["中", 3])
    with WorkbookReader(p) as rb:
        assert rb.sheet_names() == ["Sales", "Данные", "数据"]
        assert list(rb.iter_rows("数据")) == [["中", 3]]


def test_sheet_selection_options(spark, tmp_path):
    p = str(tmp_path / "sheets.xlsx")
    with WorkbookWriter(p) as wb:
        wb.add_sheet("A")
        wb.write_row(["col"])
        wb.write_row(["a"])
        wb.add_sheet("B")
        wb.write_row(["col"])
        wb.write_row(["b1"])
        wb.write_row(["b2"])
    assert spark.read.format("xlsx").option("sheetName", "B").load(p).count() == 2
    assert spark.read.format("xlsx").option("sheetIndex", 1).load(p).count() == 2
    assert spark.read.format("xlsx").load(p).count() == 1


# --- writer options -------------------------------------------------------

def test_compression_levels(spark, tmp_path):
    df = spark.range(2000).select(F.concat(F.lit("v" * 50), F.col("id")).alias("s"))
    sizes = {}
    for level in (0, 1, 2, 9):
        out = str(tmp_path / f"c{level}")
        df.coalesce(1).write.mode("overwrite").format("xlsx").option("compression", level).save(out)
        part = next(f for f in (tmp_path / f"c{level}").iterdir() if f.suffix == ".xlsx")
        sizes[level] = part.stat().st_size
        assert spark.read.format("xlsx").load(out).count() == 2000
    assert sizes[0] > sizes[1] > 0
    assert sizes[9] <= sizes[1]
    # levels 1-3 share zlib's fast match loop and do not order by size on
    # every input: on this frame's long runs level 1 is the smaller
    assert sizes[0] > sizes[2] >= sizes[9]


@pytest.mark.parametrize("level", ["12", "gzip", -1])
def test_bad_compression_level_fails_on_driver(tmp_path, level):
    """A level outside 0-9 fails when the sink is planned, naming the
    option, before any task runs."""
    from excelstream_spark.sources.xlsx.datasource import XlsxWriter

    schema = T.StructType([T.StructField("s", T.StringType())])
    with pytest.raises(ValueError, match="compression must be an integer 0-9"):
        XlsxWriter(schema, {"path": str(tmp_path / "x"), "compression": level}, overwrite=True)
    assert not os.listdir(tmp_path)


def test_shared_strings_mode(spark, tmp_path):
    df = spark.createDataFrame([("dup",)] * 100 + [("uniq",)], "s string")
    out = str(tmp_path / "sst")
    df.coalesce(1).write.mode("overwrite").format("xlsx").option("useSharedStrings", True).save(out)
    part = next(f for f in (tmp_path / "sst").iterdir() if f.suffix == ".xlsx")
    sst = zipfile.ZipFile(part).read("xl/sharedStrings.xml").decode()
    assert 'uniqueCount="3"' in sst  # header + dup + uniq
    assert spark.read.format("xlsx").load(out).count() == 101


def test_sheet_protection_and_password_hash(spark, tmp_path):
    out = str(tmp_path / "prot")
    spark.createDataFrame([("x",)], "s string").coalesce(1).write.mode("overwrite").format("xlsx").option("sheetProtectPassword", "test123").save(out)
    part = next(f for f in (tmp_path / "prot").iterdir() if f.suffix == ".xlsx")
    sheet = zipfile.ZipFile(part).read("xl/worksheets/sheet1.xml").decode()
    assert f'password="{ooxml.password_hash("test123")}"' in sheet
    assert len(ooxml.password_hash("abc")) == 4


def test_single_file_mode_rejects_multi_partition(spark, tmp_path):
    df = spark.range(10).repartition(2)
    with pytest.raises(Exception):
        df.write.mode("overwrite").format("xlsx").option("singleFile", True).save(
            str(tmp_path / "bad.xlsx")
        )


def test_header_false_positional_columns(spark, tmp_path):
    out = str(tmp_path / "nohdr")
    spark.createDataFrame([(1, "a")], "x long, s string").coalesce(1).write.mode("overwrite").format("xlsx").option("header", False).save(out)
    back = spark.read.format("xlsx").option("header", False).load(out)
    assert back.columns == ["_c0", "_c1"]
    assert back.count() == 1


# --- inference / coercion -------------------------------------------------

def test_mixed_int_float_promotes_to_double(spark, tmp_path):
    p = str(tmp_path / "mix.xlsx")
    with WorkbookWriter(p) as wb:
        wb.add_sheet("S")
        wb.write_row(["n"])
        wb.write_row([1])
        wb.write_row([2.5])
    back = spark.read.format("xlsx").load(p)
    assert dict(back.dtypes)["n"] == "double"
    assert {r["n"] for r in back.collect()} == {1.0, 2.5}


def test_user_schema_lenient_casts(spark, tmp_path):
    p = str(tmp_path / "casts.xlsx")
    with WorkbookWriter(p) as wb:
        wb.add_sheet("S")
        wb.write_row(["i", "b", "f"])
        wb.write_row(["42", "yes", "3.5"])
        wb.write_row(["oops", "no", "x"])
    schema = "i long, b boolean, f double"
    back = spark.read.format("xlsx").schema(schema).load(p)
    rows = sorted([tuple(r) for r in back.collect()], key=repr)
    assert rows == sorted([(42, True, 3.5), (None, False, None)], key=repr)


def test_excel_row_ceiling_autosplit(tmp_path):
    p = str(tmp_path / "big.xlsx")
    with WorkbookWriter(p, max_rows_per_sheet=100) as wb:
        wb.add_sheet("S")
        for i in range(250):
            wb.write_row([i])
    with WorkbookReader(p) as rb:
        names = rb.sheet_names()
        assert len(names) == 3  # 100 + 100 + 50
        total = sum(len(list(rb.iter_rows(s))) for s in names)
        assert total == 250


def test_workbook_bytes_do_not_depend_on_the_clock(monkeypatch):
    """Every ZIP member carries a fixed timestamp: the same rows written
    seconds apart give the same bytes."""
    import io
    import time

    def write(now):
        monkeypatch.setattr(time, "time", lambda: now)
        buf = io.BytesIO()
        with WorkbookWriter(buf) as wb:
            wb.add_sheet("S")
            wb.write_header(["a", "b"])
            wb.write_row([1, "x"])
        return buf.getvalue()

    first = write(1_700_000_000.0)
    assert write(1_700_000_007.0) == first
    with zipfile.ZipFile(io.BytesIO(first)) as z:
        assert {i.date_time for i in z.infolist()} == {(1980, 1, 1, 0, 0, 0)}
        assert {i.compress_type for i in z.infolist()} == {zipfile.ZIP_DEFLATED}


def test_write_arrow_batches_splits_like_write_row():
    """The shared Arrow write loop slices batches at the sheet boundary,
    re-emits the header and gives the row path's bytes."""
    import io

    import pyarrow as pa

    schema = T.StructType([T.StructField("n", T.LongType()), T.StructField("s", T.StringType())])
    batches = [
        pa.record_batch([pa.array(range(k, k + 4), pa.int64()), pa.array([f"v{k}"] * 4)], names=["n", "s"])
        for k in (0, 4)
    ]

    def workbook(fill):
        buf = io.BytesIO()
        with WorkbookWriter(buf, max_rows_per_sheet=3, row_height=15) as wb:
            wb.add_sheet("S")
            wb.write_header(["n", "s"])
            fill(wb)
        return buf.getvalue()

    def by_row(wb):
        for b in batches:
            for r in b.to_pylist():
                wb.write_row([r["n"], r["s"]], styles=[None, ooxml.STYLE_NAMES["percent"]])

    written = []
    arrow = workbook(lambda wb: written.append(wb.write_arrow_batches(
        batches, schema, col_styles=[None, ooxml.STYLE_NAMES["percent"]])))
    assert written == [8]
    assert arrow == workbook(by_row)
    with WorkbookReader(arrow) as rb:
        assert len(rb.sheet_names()) == 4  # 2 data rows under each header


def test_max_rows_per_sheet_option_roundtrip(spark, tmp_path):
    """maxRowsPerSheet is honored by the sink, continuation sheets repeat
    the header, and an allSheets read reassembles every row exactly."""
    df = spark.range(17).select(
        F.col("id"), (F.col("id") * 2).cast("long").alias("dbl")
    )
    out = str(tmp_path / "split.xlsx")
    (df.coalesce(1).write.mode("overwrite").format("xlsx")
     .option("singleFile", True).option("maxRowsPerSheet", 5).save(out))
    with WorkbookReader(out) as rb:
        names = rb.sheet_names()
        # 5-row sheets, header repeated on each continuation sheet:
        # s1: hdr+4, then hdr+4 per sheet -> ceil((17+1)/... ) = 5 sheets
        assert len(names) == 5
        first_rows = [next(iter(rb.iter_rows(s))) for s in names]
    assert all(r == ["id", "dbl"] for r in first_rows)  # self-describing
    back = spark.read.format("xlsx").option("allSheets", True).load(out)
    got = sorted((r["id"], r["dbl"]) for r in back.collect())
    assert got == [(i, 2 * i) for i in range(17)]


def test_single_file_write_is_atomic(spark, tmp_path, retried_writes):
    """singleFile publishes by renaming its temp over the target: after a
    clean write, and after one whose task failed its first attempt
    part-way, the target's directory holds the target alone (the rows of
    the retried write are checked in test_files.py)."""
    out = str(tmp_path / "atomic.xlsx")
    spark.range(5).coalesce(1).write.mode("overwrite").format("xlsx").option(
        "singleFile", True
    ).save(out)
    assert os.listdir(tmp_path) == ["atomic.xlsx"]
    assert spark.read.format("xlsx").load(out).count() == 5
    assert os.listdir(os.path.join(retried_writes, "single")) == ["out.xlsx"]


def test_workbook_reader_lazy_sst(tmp_path):
    """Driver-side planning (sheet_names) must not load sharedStrings —
    partitions() over many part files stays metadata-only."""
    p = str(tmp_path / "lazy.xlsx")
    with WorkbookWriter(p, use_shared_strings=True) as wb:
        wb.add_sheet("S")
        wb.write_row(["hello", "world"])
    with WorkbookReader(p) as rb:
        assert rb.sheet_names() == ["S"]
        assert "_sst" not in rb.__dict__  # cached_property untriggered
        row = next(iter(rb.iter_rows("S")))
        assert row == ["hello", "world"]
        assert "_sst" in rb.__dict__


def test_filter_pushdown_matches_post_scan(spark, tmp_path):
    """Spark's own filter over the scanner equals the parquet original for
    every filter shape, on ONE reused frame with an unfiltered count
    between cases (the reuse pattern that leaked pushed filters)."""
    from pyspark.sql import functions as F

    src = spark.read.parquet(f"{SF_DIR}/orders.parquet").limit(500)
    p = str(tmp_path / "orders_x")
    src.write.format("xlsx").mode("overwrite").save(p)
    cases = [
        lambda t: t.filter(F.col("o_orderstatus") == "O"),
        lambda t: t.filter(~(F.col("o_orderstatus") == "O")),
        lambda t: t.filter(F.col("o_orderpriority").isin("1-URGENT", "nope")),
        lambda t: t.filter(F.col("o_orderpriority").contains("URG")),
        lambda t: t.filter(F.col("o_orderpriority").startswith("2")),
        lambda t: t.filter(F.col("o_totalprice") > 100000),
        lambda t: t.filter(F.col("o_orderdate") > "1995-06-01"),
        lambda t: t.filter(F.col("o_totalprice").isNotNull()),
        # a filter Spark could push beside one it could not
        lambda t: t.filter((F.col("o_totalprice") > 100000) & (F.length("o_orderpriority") > 3)),
    ]
    df = spark.read.format("xlsx").load(p)
    n_all = src.count()
    for i, fn in enumerate(cases):
        assert fn(df).count() == fn(src).count(), f"case {i} diverged"
        assert df.count() == n_all, f"count after case {i}"


def test_column_widths_and_row_height(spark, tmp_path):
    """K8 exceed-reference: widths/heights actually land in the XML."""
    p = str(tmp_path / "wh")
    src = spark.range(3).select(F.col("id"), (F.col("id") * 2).alias("x"))
    (
        src.coalesce(1).write.format("xlsx").mode("overwrite")
        .option("columnWidths", "22.5,9")
        .option("rowHeight", "18")
        .save(p)
    )
    import glob as g

    xml = None
    with zipfile.ZipFile(g.glob(f"{p}/part-*.xlsx")[0]) as z:
        xml = z.read("xl/worksheets/sheet1.xml").decode()
    assert '<col min="1" max="1" width="22.5" customWidth="1"/>' in xml
    assert '<col min="2" max="2" width="9" customWidth="1"/>' in xml
    assert 'ht="18" customHeight="1"' in xml
    # still a readable workbook
    assert spark.read.format("xlsx").load(p).count() == 3


def test_error_cell_roundtrip(tmp_path):
    """K3 Error variant: t="e" cells survive write->read as ExcelError."""
    from excelstream_spark.sources.xlsx.reader_core import ExcelError

    p = str(tmp_path / "err.xlsx")
    with WorkbookWriter(p) as wb:
        wb.add_sheet("S")
        wb.write_row(["v", ExcelError("#DIV/0!"), 3])
    with WorkbookReader(p) as rb:
        row = next(iter(rb.iter_rows("S")))
    assert row[0] == "v" and row[2] == 3
    assert isinstance(row[1], ExcelError) and str(row[1]) == "#DIV/0!"
    with zipfile.ZipFile(p) as z:
        assert 't="e"' in z.read("xl/worksheets/sheet1.xml").decode()


def test_property_roundtrip_typed_cells(tmp_path):
    """Property-based write->read equality over the full CellValue domain
    (SURVEY §5 plan): strings incl. XML entities/unicode/whitespace, ints,
    floats, bools, datetimes, None gaps."""
    from hypothesis import given, settings, strategies as st

    cell = st.one_of(
        st.none(),
        st.integers(min_value=-(2**53), max_value=2**53),
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        st.booleans(),
        # control chars (except \t\n\r) are STRIPPED on write — reference F3
        # parity (XML 1.0 cannot encode them); generate without them so the
        # round-trip is exact
        st.text(
            max_size=40,
            alphabet=st.characters(
                exclude_categories=("Cs", "Cc"), include_characters="\t\n\r"
            ),
        ).filter(lambda s: not s.startswith("=")),
        st.datetimes(
            min_value=dt.datetime(1901, 1, 1), max_value=dt.datetime(2200, 1, 1)
        ).map(lambda d: d.replace(microsecond=(d.microsecond // 1000) * 1000)),
    )

    @settings(max_examples=25, deadline=None)
    @given(rows=st.lists(st.lists(cell, min_size=1, max_size=6), min_size=1, max_size=8))
    def run(rows):
        p = str(tmp_path / "prop.xlsx")
        with WorkbookWriter(p) as wb:
            wb.add_sheet("S")
            for r in rows:
                wb.write_row(r)
        with WorkbookReader(p) as rb:
            back = list(rb.iter_rows("S"))
        assert len(back) == len(rows)
        for orig, got in zip(rows, back):
            # trailing Nones are not materialized as cells — pad back
            got = got + [None] * (len(orig) - len(got))
            for o, g in zip(orig, got):
                if isinstance(o, float):
                    assert g == o or (g is not None and abs(g - o) < 1e-9 * max(1, abs(o)))
                elif isinstance(o, dt.datetime):
                    assert abs((g - o).total_seconds()) < 0.001
                elif o == "" or (isinstance(o, str) and o.strip("\r\n\t ") == "" and o):
                    # lone whitespace strings survive via xml:space="preserve"
                    assert g == o
                else:
                    assert g == o, f"{o!r} -> {g!r}"

    run()


def test_all_sheets_header_realignment(spark, tmp_path):
    """Sheets whose column ORDER differs are realigned by header name,
    not silently mis-typed positionally."""
    p = str(tmp_path / "re.xlsx")
    with WorkbookWriter(p) as wb:
        wb.add_sheet("A")
        wb.write_row(["id", "name", "score"])
        wb.write_row([1, "alpha", 9.5])
        wb.add_sheet("B")  # same columns, shuffled order
        wb.write_row(["score", "id", "name"])
        wb.write_row([7.25, 2, "beta"])
    df = spark.read.format("xlsx").option("allSheets", True).load(p)
    rows = sorted([tuple(r) for r in df.collect()])
    assert rows == [(1, "alpha", 9.5), (2, "beta", 7.25)], rows


def test_user_schema_stays_positional(spark, tmp_path):
    """A user schema with names that don't appear in the header keeps the
    positional mapping (no all-null regression)."""
    p = str(tmp_path / "pos.xlsx")
    with WorkbookWriter(p) as wb:
        wb.add_sheet("S")
        wb.write_row(["colA", "colB"])
        wb.write_row([5, "x"])
    df = spark.read.format("xlsx").schema("a long, b string").load(p)
    assert [tuple(r) for r in df.collect()] == [(5, "x")]


def test_column_styles_option(spark, tmp_path):
    """K4 parity at the Spark surface: per-column style indices land on
    data cells (header keeps its own style)."""
    p = str(tmp_path / "styles")
    df = spark.createDataFrame([(1500.5, 0.25, "note")], "amt double, pct double, s string")
    (
        df.coalesce(1).write.format("xlsx").mode("overwrite")
        .option("columnStyles", "currency,percent,")
        .save(p)
    )
    import glob as g

    xml = zipfile.ZipFile(g.glob(f"{p}/part-*.xlsx")[0]).read(
        "xl/worksheets/sheet1.xml"
    ).decode()
    from excelstream_spark.sources.xlsx import ooxml

    assert f's="{ooxml.STYLE_CURRENCY}"' in xml
    assert f's="{ooxml.STYLE_PERCENT}"' in xml
    # readable and values intact
    assert [tuple(r) for r in spark.read.format("xlsx").load(p).collect()] == [
        (1500.5, 0.25, "note")
    ]
    # bad style name -> clear error naming valid choices
    import pytest as _pt

    with _pt.raises(Exception, match="columnStyles"):
        df.coalesce(1).write.format("xlsx").mode("overwrite").option(
            "columnStyles", "sparkly"
        ).save(str(tmp_path / "bad"))


def test_no_pushdown_no_cross_query_leak(spark, tmp_path):
    """Regression: interleaving filtered and unfiltered queries on the
    SAME DataFrame never leaks one query's filters into another (Spark's
    python-datasource planner reuses the reader, so a reader that kept
    pushed filters served a later unfiltered query the filtered rows)."""
    src = spark.read.parquet(f"{SF_DIR}/orders.parquet").limit(400)
    p = str(tmp_path / "leak_x")
    src.write.format("xlsx").mode("overwrite").save(p)
    n_o_src = src.filter(F.col("o_orderstatus") == "O").count()
    # the unknown "pushdown" key is ignored: that frame reads as the default
    for df in (spark.read.format("xlsx").load(p),
               spark.read.format("xlsx").option("pushdown", True).load(p)):
        n_all = df.count()
        assert n_all == 400
        n_o = df.filter(F.col("o_orderstatus") == "O").count()
        assert df.count() == n_all  # the leak made this return n_o
        assert n_o == n_o_src
        n_f = len(df.filter(F.col("o_orderstatus") == "F").collect())
        assert n_f == src.filter(F.col("o_orderstatus") == "F").count()
        assert len(df.collect()) == n_all


# --- columnar batch scanner vs row reader (batch_scan.py) ------------------

def _batch_rows(batches):
    return [tuple(d.values()) for b in batches for d in b.to_pylist()]


def _rows_via_row_reader(path, sheet, schema, header):
    from excelstream_spark.sources.xlsx.datasource import XlsxPartition, XlsxReader

    r = XlsxReader(schema, {"path": path, "header": str(header).lower()})
    return _batch_rows(r._read_rows(XlsxPartition(path, sheet)))


def _rows_via_batch(path, sheet, schema, header):
    from excelstream_spark.sources.xlsx.batch_scan import BatchSheetReader

    with WorkbookReader(path) as wb:
        return _batch_rows(BatchSheetReader(wb, sheet, schema, header).batches())


def test_batch_reader_matches_row_reader(tmp_path):
    """The fast columnar scanner is a pure optimization: byte-identical
    results vs the per-cell row reader on writer-generated workbooks
    (typed cells, nulls incl. whole-null rows, entities, both string
    modes)."""
    schema = T.StructType([
        T.StructField("name", T.StringType()),
        T.StructField("age", T.LongType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("active", T.BooleanType()),
        T.StructField("joined", T.TimestampNTZType()),
    ])
    rows = [
        ['a<b>&"c\'d', 30, 1234.56, True, dt.datetime(2023, 1, 1, 12, 0, 0)],
        ["line1\nline2\ttab", -1, -0.5, False, dt.datetime(1900, 2, 15)],
        [None, None, None, None, None],
        ["dup", 7, 0.0, True, dt.datetime(1900, 2, 28)],
        ["dup", None, 2.5, None, dt.datetime(2100, 12, 31, 23, 59, 59, 250000)],
    ]
    for use_sst in (False, True):
        p = str(tmp_path / f"eq_{use_sst}.xlsx")
        with WorkbookWriter(p, use_shared_strings=use_sst) as wb:
            wb.add_sheet("S")
            wb.write_header([f.name for f in schema.fields])
            for r in rows:
                wb.write_row(list(r))
        a = _rows_via_row_reader(p, "S", schema, header=True)
        b = _rows_via_batch(p, "S", schema, header=True)
        assert len(a) == len(rows)
        assert b == a, f"use_sst={use_sst}"


def _craft_xlsx(path, sheet_xml, sst_items=None, date_xf=False, root_attrs=""):
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(
            "xl/workbook.xml",
            f'<workbook xmlns="{ns}"><sheets>'
            '<sheet name="S" sheetId="1"/></sheets></workbook>',
        )
        if sst_items:
            z.writestr(
                "xl/sharedStrings.xml",
                f'<sst xmlns="{ns}">' + "".join(sst_items) + "</sst>",
            )
        if date_xf:  # xf index 1 -> builtin date numFmt 14
            z.writestr(
                "xl/styles.xml",
                f'<styleSheet xmlns="{ns}"><cellXfs count="2">'
                '<xf numFmtId="0"/><xf numFmtId="14"/></cellXfs></styleSheet>',
            )
        # surrogateescape: a lone surrogate \udcXX writes the raw byte XX
        z.writestr(
            "xl/worksheets/sheet1.xml",
            (f'<worksheet xmlns="{ns}"{root_attrs}><sheetData>' + sheet_xml
             + "</sheetData></worksheet>").encode("utf-8", "surrogateescape"),
        )


def test_batch_reader_fast_path_semantics(tmp_path, monkeypatch):
    """Rectangular third-party-shaped XML stays on the vectorized path
    (no ET fallback) and still types t="n" cells, date styles, shared /
    rich-text / inline strings, and mixed-kind columns correctly."""
    from excelstream_spark.sources.xlsx import batch_scan

    p = str(tmp_path / "fast.xlsx")
    _craft_xlsx(
        p,
        '<row r="1"><c r="A1" t="n"><v>10</v></c>'
        '<c r="B1" s="1" t="n"><v>25569</v></c>'
        '<c r="C1" t="s"><v>0</v></c></row>'
        '<row r="2"><c r="A2"><v>11</v></c>'
        '<c r="B2" s="1"><v>44562.25</v></c>'
        '<c r="C2" t="inlineStr"><is><t>a&#10;b&quot;c</t></is></c></row>',
        sst_items=["<si><t>hello</t></si>",
                   "<si><r><t>rich</t></r><r><t> text</t></r></si>"],
        date_xf=True,
    )
    schema = T.StructType([
        T.StructField("a", T.LongType()),
        T.StructField("b", T.TimestampNTZType()),
        T.StructField("c", T.StringType()),
    ])
    expected = _rows_via_row_reader(p, "S", schema, header=False)
    monkeypatch.setattr(
        batch_scan.BatchSheetReader, "_rows_via_et",
        lambda *a, **k: (_ for _ in ()).throw(AssertionError("ET fallback used")),
    )
    got = _rows_via_batch(p, "S", schema, header=False)
    assert got == expected
    assert got[0] == (10, dt.datetime(1970, 1, 1), "hello")
    assert got[1] == (11, dt.datetime(2022, 1, 1, 6, 0, 0), 'a\nb"c')


def test_batch_reader_fallback_equivalence(tmp_path):
    """Shapes the scanner cannot prove (ragged rows, reversed
    attribute order, formulas, empty/self-closed rows) fall back per
    chunk and still match the row reader exactly."""
    p = str(tmp_path / "gnarly.xlsx")
    _craft_xlsx(
        p,
        '<row r="1"><c r="A1"><v>1</v></c><c r="B1" t="s"><v>0</v></c>'
        '<c r="C1" s="1"><v>44562.5</v></c></row>'
        '<row r="2"><c r="A2"><v>2</v></c><c r="C2" s="1"><v>60</v></c></row>'
        '<row r="3"><c t="s" r="A3"><v>1</v></c>'
        '<c r="B3" t="inlineStr"><is><t>x&#9;y</t></is></c></row>'
        '<row r="4"><c r="A4"><f>SUM(1,2)</f><v>3</v></c>'
        '<c r="B4" t="b"><v>1</v></c></row>'
        '<row r="5"/>',
        sst_items=["<si><t>hello</t></si>", "<si><t>world</t></si>"],
        date_xf=True,
    )
    schema = T.StructType([
        T.StructField("a", T.LongType()),
        T.StructField("b", T.StringType()),
        T.StructField("c", T.TimestampNTZType()),
    ])
    expected = _rows_via_row_reader(p, "S", schema, header=False)
    got = _rows_via_batch(p, "S", schema, header=False)
    assert got == expected
    assert len(got) == 5
    assert got[1] == (2, None, dt.datetime(1900, 2, 28))  # leap-bug serial 60
    assert got[4] == (None, None, None)  # self-closed <row/>

    # a rectangular chunk, so its t="d" date-styled cells take the
    # per-column scalar fallback rather than the chunk-level parse
    p2 = str(tmp_path / "t_d.xlsx")
    _craft_xlsx(
        p2,
        '<row r="1"><c r="A1" t="d" s="1"><v>44562.25</v></c></row>'
        '<row r="2"><c r="A2" t="d" s="1"><v>44562.5</v></c></row>',
        date_xf=True,
    )
    schema2 = T.StructType([T.StructField("a", T.StringType())])
    got = _rows_via_batch(p2, "S", schema2, header=False)
    assert got == _rows_via_row_reader(p2, "S", schema2, header=False)
    assert got == [("2022-01-01 06:00:00",), ("2022-01-01 12:00:00",)]

    # inline strings without t="inlineStr" (empty and numeric) and
    # t="inlineStr" cells holding <v>: the row reader reads their text,
    # so the scanner takes the chunk fallback
    p3 = str(tmp_path / "untyped_is.xlsx")
    _craft_xlsx(
        p3,
        '<row r="1"><c r="A1"><is><t/></is></c><c r="B1"><is><t>7</t></is></c>'
        '<c r="C1" t="inlineStr"><v>x</v></c></row>'
        '<row r="2"><c r="A2"><is><t/></is></c><c r="B2"><is><t>8</t></is></c>'
        '<c r="C2" t="inlineStr"><v>y</v></c></row>',
    )
    schema3 = T.StructType([
        T.StructField("a", T.StringType()), T.StructField("b", T.LongType()),
        T.StructField("c", T.StringType()),
    ])
    got = _rows_via_batch(p3, "S", schema3, header=False)
    assert got == _rows_via_row_reader(p3, "S", schema3, header=False)
    assert got == [("", 7, "x"), ("", 8, "y")]

    # rectangular rows that do not start at column A, with a single-quoted
    # t=, and a character reference HTML reads differently (&#128;): the
    # row reader places cells by their letters, reads t='s' as a shared
    # string and &#128; as U+0080
    p4 = str(tmp_path / "offset.xlsx")
    _craft_xlsx(
        p4,
        '<row r="1"><c r="B1"><v>1</v></c><c r="C1" t=\'s\'><v>0</v></c></row>'
        '<row r="2"><c r="B2"><v>2</v></c><c r="C2" t=\'s\'><v>1</v></c></row>',
        sst_items=["<si><t>hello</t></si>", "<si><t>world</t></si>"],
    )
    p5 = str(tmp_path / "ref128.xlsx")
    _craft_xlsx(
        p5,
        '<row r="1"><c r="A1" t="inlineStr"><is><t>&#128;</t></is></c></row>'
        '<row r="2"><c r="A2" t="inlineStr"><is><t>a&#x80;</t></is></c></row>',
    )
    schema4 = T.StructType([
        T.StructField("a", T.StringType()), T.StructField("b", T.LongType()),
        T.StructField("c", T.StringType()),
    ])
    got = _rows_via_batch(p4, "S", schema4, header=False)
    assert got == _rows_via_row_reader(p4, "S", schema4, header=False)
    assert got == [(None, 1, "hello"), (None, 2, "world")]
    got = _rows_via_batch(p5, "S", schema4, header=False)
    assert got == _rows_via_row_reader(p5, "S", schema4, header=False)
    assert got == [("\x80", None, None), ("a\x80", None, None)]

    # a float column reads each value as a Python float, then float32: a
    # text just above a float32 midpoint rounds to the midpoint first
    p6 = str(tmp_path / "float32.xlsx")
    _craft_xlsx(
        p6,
        '<row r="1"><c r="A1"><v>1.00000005960464478</v></c></row>'
        '<row r="2"><c r="A2"><v>0.5</v></c></row>',
    )
    schema6 = T.StructType([T.StructField("f", T.FloatType())])
    got = _rows_via_batch(p6, "S", schema6, header=False)
    assert got == _rows_via_row_reader(p6, "S", schema6, header=False)
    assert got == [(1.0,), (0.5,)]


def test_batch_reader_fallback_chunk_keeps_worksheet_prefixes(tmp_path):
    """A chunk-level fallback after the first batch parses rows carrying a
    prefixed attribute declared only on the worksheet root (Excel's
    x14ac:dyDescent) and matches the row reader."""
    from excelstream_spark.sources.xlsx.batch_scan import BatchSheetReader

    pad = "p" * 2000  # ~2 KB rows: a 100-row limit reads 64 KB chunks
    rows = []
    for i in range(1, 101):
        cells = f'<c r="A{i}"><v>{i}</v></c>'
        if i != 60:  # one ragged row, past the first chunk
            cells += f'<c r="B{i}" t="inlineStr"><is><t>{pad}</t></is></c>'
        rows.append(f'<row r="{i}" x14ac:dyDescent="0.25">{cells}</row>')
    p = str(tmp_path / "x14ac.xlsx")
    _craft_xlsx(
        p, "".join(rows),
        root_attrs=' xmlns:x14ac="http://schemas.microsoft.com/office/'
        'spreadsheetml/2009/9/ac"',
    )
    schema = T.StructType([
        T.StructField("a", T.LongType()), T.StructField("b", T.StringType()),
    ])
    with WorkbookReader(p) as wb:
        batches = list(BatchSheetReader(wb, "S", schema, False, limit=100).batches())
    assert len(batches) > 1
    got = _batch_rows(batches)
    assert got == _rows_via_row_reader(p, "S", schema, header=False)
    assert len(got) == 100 and got[59] == (60, None)


# --- scanner differential test: writer-shaped sheets and perturbations ----

_DIFF_SST = ["<si><t>alpha</t></si>", "<si><t>b&amp;c</t></si>", "<si><t>7</t></si>"]
#: column kinds as this package's writers spell them, and two schemas to
#: read them with (the second sends most columns through other casts)
_DIFF_KINDS = ("long", "double", "inline", "date", "bool", "shared")
_DIFF_TYPES = (
    {"long": T.LongType(), "double": T.DoubleType(), "inline": T.StringType(),
     "date": T.TimestampNTZType(), "bool": T.BooleanType(), "shared": T.StringType()},
    {"long": T.DoubleType(), "double": T.StringType(), "inline": T.StringType(),
     "date": T.DateType(), "bool": T.LongType(), "shared": T.StringType()},
)


def _diff_cell(rng, kind, ref):
    if rng.random() < 0.1:
        return f'<c r="{ref}"/>'
    if kind == "long":
        return f'<c r="{ref}"><v>{rng.randint(-10**12, 10**12)}</v></c>'
    if kind == "double":
        v = rng.choice([rng.uniform(-1e6, 1e6), 0.5, -0.0, 1e-300, float("inf")])
        return f'<c r="{ref}"><v>{v!r}</v></c>'
    if kind == "inline":
        v = rng.choice(["plain", "", "a&b", "<x>", "q\"'", "tab\tnl\n", "€ünï", " pad "])
        return (f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">'
                f"{ooxml.esc(v)}</t></is></c>")
    if kind == "date":
        v = rng.choice([rng.uniform(1, 80_000), 60.0, 61.0, 44562.0])
        return f'<c r="{ref}" s="1"><v>{v!r}</v></c>'
    if kind == "bool":
        return f'<c r="{ref}" t="b"><v>{rng.randint(0, 1)}</v></c>'
    return f'<c r="{ref}" t="s"><v>{rng.randrange(len(_DIFF_SST))}</v></c>'


def _with_attr(cell, attr):
    """Insert ``attr`` right after the cell's r="..." attribute."""
    ref_end = cell.index('"', len('<c r="'))
    return cell[: ref_end + 1] + attr + cell[ref_end + 1:]


def _text_of(cell, text):
    """The cell with its <v>/<t> text replaced (a self-closed cell gets a <v>)."""
    import re

    if cell.endswith("/>") and "<is>" not in cell:
        return cell[:-2] + f"><v>{text}</v></c>"
    return re.sub(r"(<v>|<t[^>]*>)[^<]*(</v>|</t>)", rf"\g<1>{text}\g<2>", cell, count=1)


#: cell perturbations: (name, cell xml, kind, ref) -> new cell xml
_CELL_PERTURBATIONS = {
    "attr_order": lambda c, k, r: (
        f'<c s="0" r="{r}"/>' if c.endswith("/>")
        else c.replace(f'<c r="{r}"', "<c", 1).replace(">", f' r="{r}">', 1)
    ),
    "attr_s_before_t": lambda c, k, r: _with_attr(c, ' s="0"'),
    "t_plain": lambda c, k, r: c.replace('<t xml:space="preserve">', "<t>"),
    "t_self": lambda c, k, r: f'<c r="{r}" t="inlineStr"><is><t/></is></c>',
    "t_self_attr": lambda c, k, r: f'<c r="{r}" t="inlineStr"><is><t xml:space="preserve"/></is></c>',
    "attr_gt": lambda c, k, r: _with_attr(c, ' foo="a>b"'),
    "attr_slash": lambda c, k, r: _with_attr(c, ' foo="a/b"'),
    "attr_slash_self": lambda c, k, r: f'<c r="{r}" foo="/"/>',
    "attr_ref": lambda c, k, r: _with_attr(c, ' foo="&amp;"'),
    "attr_newline": lambda c, k, r: _with_attr(c, '\n foo="x"'),
    "attr_single_quote": lambda c, k, r: (
        c.replace('t="', "t='", 1).replace('">', "'>", 1) if ' t="' in c
        else _with_attr(c, " t='n'")
    ),
    "ws_before_gt": lambda c, k, r: c.replace(">", " >", 1),
    "ws_in_v": lambda c, k, r: c.replace("<v>", "<v >", 1).replace("</v>", "</v >", 1),
    "ws_in_end": lambda c, k, r: c.replace("</c>", "</c >"),
    "t_tab": lambda c, k, r: c.replace("<t ", "<t\t"),
    "t_n": lambda c, k, r: _with_attr(c, ' t="n"') if k in ("long", "double") else c,
    "t_e": lambda c, k, r: f'<c r="{r}" t="e"><v>#DIV/0!</v></c>',
    "t_str": lambda c, k, r: f'<c r="{r}" t="str"><v>12</v></c>',
    "t_s": lambda c, k, r: f'<c r="{r}" t="s"><v>2</v></c>',
    "t_s_bad": lambda c, k, r: f'<c r="{r}" t="s"><v>9</v></c>',
    "t_b": lambda c, k, r: f'<c r="{r}" t="b"><v>1</v></c>',
    "t_b_padded": lambda c, k, r: f'<c r="{r}" t="b"><v> 1</v></c>',
    "t_d": lambda c, k, r: f'<c r="{r}" t="d"><v>2022-01-01T00:00:00</v></c>',
    "date_style": lambda c, k, r: f'<c r="{r}" s="1"><v>44562.75</v></c>',
    "date_out_of_range": lambda c, k, r: f'<c r="{r}" s="1"><v>0.5</v></c>',
    "number_text": lambda c, k, r: _text_of(c, "1.0e3"),
    "empty_v": lambda c, k, r: f'<c r="{r}"><v></v></c>',
    "empty_c": lambda c, k, r: f'<c r="{r}"></c>',
    "refs_v": lambda c, k, r: _text_of(c, "&#49;&#x32;"),
    "refs_t": lambda c, k, r: f'<c r="{r}" t="inlineStr"><is><t>&amp;&lt;&gt;&quot;&apos;'
    "&#10;&#x41;&#13;&#128;&#x1F600;</t></is></c>",
    "ref_undefined": lambda c, k, r: f'<c r="{r}" t="inlineStr"><is><t>&nbsp;</t></is></c>',
    "ref_invalid_char": lambda c, k, r: f'<c r="{r}" t="inlineStr"><is><t>&#1;</t></is></c>',
    "untyped_is": lambda c, k, r: f'<c r="{r}"><is><t>5</t></is></c>',
    "inline_v": lambda c, k, r: f'<c r="{r}" t="inlineStr"><v>x</v></c>',
    "formula": lambda c, k, r: f'<c r="{r}"><f>1+1</f><v>2</v></c>',
    "rich_text": lambda c, k, r: f'<c r="{r}" t="inlineStr"><is><r><t>a</t></r><r><t>b</t></r></is></c>',
    "comment": lambda c, k, r: "<!-- note -->" + c,
    "comment_in_v": lambda c, k, r: f'<c r="{r}"><v>1<!-- x --></v></c>',
    "cdata": lambda c, k, r: f'<c r="{r}" t="inlineStr"><is><t><![CDATA[a<b&c]]></t></is></c>',
    "crlf": lambda c, k, r: f'<c r="{r}" t="inlineStr"><is><t>a\r\nb\rc</t></is></c>',
    "control_char": lambda c, k, r: f'<c r="{r}" t="inlineStr"><is><t>a\x01b</t></is></c>',
    "invalid_utf8": lambda c, k, r: f'<c r="{r}" t="inlineStr"><is><t>a\udcffb</t></is></c>',
}


def _drop_a_cell(rng, row):
    del row[rng.randrange(len(row))]


#: row perturbations: (rng, list of cell xml) -> mutated in place, or the
#: row xml that replaces the whole row
_ROW_PERTURBATIONS = {
    "ragged": _drop_a_cell,
    "self_closed_row": lambda rng, row: "/>",
    "empty_row": lambda rng, row: "></row>",
    "swapped_cells": lambda rng, row: row.insert(0, row.pop(1)),
}


def _diff_sheet(rng, n_cols, n_rows, header, perturb):
    kinds = [_DIFF_KINDS[i % len(_DIFF_KINDS)] for i in range(n_cols)]
    rows = []
    if header:
        rows.append([f'<c r="{ooxml.col_letter(i)}1" t="inlineStr"><is><t>c{i}</t></is></c>'
                     for i in range(n_cols)])
    first = len(rows) + 1
    for r in range(first, first + n_rows):
        rows.append([_diff_cell(rng, k, f"{ooxml.col_letter(i)}{r}")
                     for i, k in enumerate(kinds)])
    tails = {}
    if perturb in _CELL_PERTURBATIONS:
        for _ in range(rng.randint(1, 3)):
            r = rng.randrange(first - 1, len(rows))
            i = rng.randrange(n_cols)
            ref = f"{ooxml.col_letter(i)}{r + 1}"
            rows[r][i] = _CELL_PERTURBATIONS[perturb](rows[r][i], kinds[i], ref)
    elif perturb in _ROW_PERTURBATIONS:
        r = rng.randrange(first - 1, len(rows))
        tail = _ROW_PERTURBATIONS[perturb](rng, rows[r])
        if tail:
            tails[r] = tail
    xml = "".join(
        f'<row r="{r + 1}"' + (tails[r] if r in tails else ">" + "".join(cells) + "</row>")
        for r, cells in enumerate(rows)
    )
    return xml, kinds


@pytest.mark.parametrize("perturb", [None, *_CELL_PERTURBATIONS, *_ROW_PERTURBATIONS])
def test_scanner_matches_row_reader_differential(tmp_path, monkeypatch, perturb):
    """Seeded, Spark-free differential test of the scanner's index: sheets
    of writer-shaped rows (nulls, escapes, every cell kind the writers
    emit, columns past Z and past ZZ) and perturbed variants read to the
    same rows through the scanner as through the row reader, with 4 MB
    and with tiny chunks, under two schemas; a sheet the row reader cannot
    parse makes the scanner raise too."""
    import random
    import xml.etree.ElementTree as ET

    from excelstream_spark.sources.xlsx import batch_scan

    layouts = [(8, 12, False), (30, 6, True)]
    if perturb is None:
        layouts.append((705, 3, True))  # ZZ -> AAA
    if perturb is None:  # writer-shaped sheets never need the chunk parse
        monkeypatch.setattr(
            batch_scan.BatchSheetReader, "_rows_via_et",
            lambda *a, **k: (_ for _ in ()).throw(AssertionError("ET fallback used")),
        )
    for seed, (n_cols, n_rows, header) in enumerate(layouts):
        rng = random.Random(f"{perturb}-{seed}")
        xml, kinds = _diff_sheet(rng, n_cols, n_rows, header, perturb)
        p = str(tmp_path / f"d{seed}.xlsx")
        _craft_xlsx(p, xml, sst_items=_DIFF_SST, date_xf=True)
        for types in _DIFF_TYPES:
            schema = T.StructType([
                T.StructField(f"c{i}", types[k]) for i, k in enumerate(kinds)
            ])
            for chunk in (batch_scan._CHUNK_BYTES, 256):
                monkeypatch.setattr(batch_scan, "_CHUNK_BYTES", chunk)
                try:
                    expected = _rows_via_row_reader(p, "S", schema, header)
                except ET.ParseError:
                    with pytest.raises((ET.ParseError, UnicodeDecodeError)):
                        _rows_via_batch(p, "S", schema, header)
                    continue
                got = _rows_via_batch(p, "S", schema, header)
                assert got == expected, (perturb, n_cols, chunk, types["long"])
    if perturb == "swapped_cells":  # each cell lands at its own column
        p = str(tmp_path / "swapped.xlsx")
        _craft_xlsx(p, '<row r="1"><c r="B1"><v>2</v></c><c r="A1"><v>1</v></c></row>')
        schema = T.StructType([T.StructField(c, T.LongType()) for c in "ab"])
        assert _rows_via_row_reader(p, "S", schema, False) == [(1, 2)]
        assert _rows_via_batch(p, "S", schema, False) == [(1, 2)]


def test_scanner_fast_path_covers_sink_output(tmp_path, monkeypatch):
    """A frame shaped like the benchmark's typed table, written by the
    columnar sink (a header; 5% nulls in every column and one whole-null
    row; 1% XML-special strings; long, double, string, date, timestamp and
    bool columns), scans over several chunks with neither the chunk parse
    nor the per-column scalar path, to the row reader's rows.  A silent
    fallback would keep the answers but lose the scanner's speed."""
    import glob
    import random

    import pyarrow as pa

    from excelstream_spark.sources.xlsx import batch_scan
    from excelstream_spark.sources.xlsx.datasource import XlsxDataSource, XlsxWriter

    rng = random.Random(8)
    n = 3000
    words = "spark batch part line column order value scan hash".split()

    def column(make):
        null = set(rng.sample(range(n), n // 20)) | {n // 2}  # a whole-null row
        return [None if i in null else make(i) for i in range(n)]

    def comment(i):
        text = " ".join(rng.choice(words) for _ in range(4))
        if rng.random() < 0.01:
            text += " & <" + str(i) + "> \"q\" 'a'\tx\ny"
        return text

    schema = T.StructType([
        T.StructField("id", T.LongType()), T.StructField("qty", T.LongType()),
        T.StructField("price", T.DoubleType()), T.StructField("ratio", T.DoubleType()),
        T.StructField("status", T.StringType()), T.StructField("comment", T.StringType()),
        T.StructField("ship_date", T.DateType()),
        T.StructField("updated_at", T.TimestampNTZType()),
        T.StructField("is_open", T.BooleanType()),
    ])
    cols = [
        column(lambda i: i),
        column(lambda i: rng.randint(1, 50_000)),
        column(lambda i: round(rng.uniform(1, 10_000), 2)),
        column(lambda i: rng.gauss(0, 1)),
        column(lambda i: rng.choice(["OPEN", "SHIPPED", "RETURNED"])),
        column(comment),
        column(lambda i: dt.date(1990, 1, 1) + dt.timedelta(days=rng.randrange(20_000))),
        column(lambda i: dt.datetime(2001, 1, 1) + dt.timedelta(
            microseconds=rng.randrange(10**15) if i % 7 else 0)),
        column(lambda i: rng.random() < 0.5),
    ]
    pa_schema = batch_scan.to_arrow_schema(schema)
    batch = pa.RecordBatch.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, pa_schema)], schema=pa_schema
    )
    out = str(tmp_path / "typed")
    writer = XlsxWriter(schema, {"path": out}, overwrite=True)
    writer.commit([writer.write(iter([batch.slice(i, 1000) for i in range(0, n, 1000)]))])
    [part] = glob.glob(out + "/part-*.xlsx")
    read_schema = XlsxDataSource({"path": out}).schema()
    expected = _rows_via_row_reader(part, "Sheet1", read_schema, header=True)
    # the written schema too: ship_date declared as a date
    expected_written = _rows_via_row_reader(part, "Sheet1", schema, header=True)

    def fallback(*a, **k):
        raise AssertionError("scanner fallback used")

    monkeypatch.setattr(batch_scan.BatchSheetReader, "_rows_via_et", fallback)
    monkeypatch.setattr(batch_scan.BatchSheetReader, "_convert_scalar", fallback)
    monkeypatch.setattr(batch_scan, "_CHUNK_BYTES", 64 << 10)
    with WorkbookReader(part) as wb:
        batches = list(
            batch_scan.BatchSheetReader(wb, "Sheet1", read_schema, True).batches()
        )
        written = list(
            batch_scan.BatchSheetReader(wb, "Sheet1", schema, True).batches()
        )
    assert len(batches) > 3
    assert _batch_rows(batches) == expected
    assert len(expected) == n and expected[n // 2] == (None,) * len(schema.fields)
    assert _batch_rows(written) == expected_written
    assert [r[6] for r in expected_written] == cols[6]


def test_scanner_bulk_dates_match_scalar_path():
    """A numeric column read as a declared date converts in bulk to what
    the per-cell path gives (serial_to_datetime(x).date(), null where the
    serial is out of range), date-styled or not."""
    import io

    import pyarrow as pa

    from excelstream_spark.sources.xlsx.batch_scan import BatchSheetReader, _Kind

    buf = io.BytesIO()
    with WorkbookWriter(buf) as w:
        w.write_row([1.0])
    texts = [
        "1", "59", "60", "61", "45000.5", "45000.99999999999",
        "1000.999999999999",  # rounds to the next midnight
        "0.5", "2958465.999", "2958466", "1e9", "-3", "-45000.25",
    ]
    schema = T.StructType([T.StructField("d", T.DateType())])
    with WorkbookReader(buf.getvalue()) as wb:
        reader = BatchSheetReader(wb, "Sheet1", schema, header=False)
        for kind in (_Kind(None, True, str(ooxml.STYLE_DATE)), _Kind(None, False, None)):
            bulk = reader._convert_uniform(kind, pa.array(texts), T.DateType(), pa.date32())
            scalar = reader._convert_scalar(
                [kind] * len(texts), texts, [False] * len(texts), T.DateType(), pa.date32()
            )
            assert bulk is not None and bulk.equals(scalar), (kind, bulk, scalar)
    assert scalar.to_pylist()[:7] == [
        dt.date(1900, 1, 1), dt.date(1900, 2, 28), dt.date(1900, 2, 28),
        dt.date(1900, 3, 1), dt.date(2023, 3, 15), dt.date(2023, 3, 15),
        dt.date(1902, 9, 27),
    ]
    assert scalar.to_pylist()[7:] == [None, dt.date(9999, 12, 31), None, None, None, None]


def test_batch_reader_spark_surface(spark, tmp_path):
    """spark.read xlsx (the batch scanner) agrees with the row reader on
    the written part file."""
    schema = "s string, n long, d double, t timestamp_ntz"
    df = spark.createDataFrame(
        [("a&b", 1, 1.5, dt.datetime(2020, 5, 17, 1, 2, 3)),
         (None, None, None, None),
         ('q"r\'s', -3, 2.25, dt.datetime(1999, 12, 31))],
        schema,
    )
    out = str(tmp_path / "surface")
    df.coalesce(1).write.mode("overwrite").format("xlsx").save(out)
    back = spark.read.format("xlsx").load(out)
    fast = sorted([tuple(r) for r in back.collect()], key=repr)
    import glob as g

    [part] = g.glob(out + "/part-*.xlsx")
    slow = sorted(
        _rows_via_row_reader(part, "Sheet1", back.schema, header=True), key=repr
    )
    assert fast == slow
    assert len(fast) == 3


def test_unreadable_declared_type_fails_on_driver(spark, tmp_path):
    """A declared column type the reader cannot produce fails at planning,
    naming the column and the readable types, before any task runs;
    short columns read through the scanner."""
    p = str(tmp_path / "small.xlsx")
    with WorkbookWriter(p) as wb:
        wb.add_sheet("S")
        wb.write_row(["b", "c"])
        wb.write_row([3, "x"])
        wb.write_row([4, "y"])
    sc = spark.sparkContext
    sc.setJobGroup("xlsx-unreadable-type", "declared decimal column")
    try:
        with pytest.raises(
            Exception, match=r"unsupported column type decimal\(10,2\) for 'a'"
        ):
            spark.read.format("xlsx").schema("a decimal(10,2), c string").load(p).collect()
        assert sc.statusTracker().getJobIdsForGroup("xlsx-unreadable-type") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    got = spark.read.format("xlsx").schema("b short, c string").load(p)
    assert sorted(r.b for r in got.collect()) == [3, 4]


def test_scanner_fallbacks_warn_with_rows_unchanged(tmp_path, monkeypatch):
    """The row reader re-reads a sheet, with a RuntimeWarning naming the
    file, sheet and cause, when the scanner finds no rows (a prefixed
    worksheet) or fails before its first batch; the rows are the row
    reader's.  A writer-generated workbook reads without a warning."""
    import re
    import warnings

    from excelstream_spark.sources.xlsx import batch_scan
    from excelstream_spark.sources.xlsx.datasource import XlsxPartition, XlsxReader

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("x", T.DoubleType()),
    ])
    foreign = str(tmp_path / "foreign.xlsx")
    _foreign_workbook(foreign)
    reader = XlsxReader(schema, {"path": foreign})
    with pytest.warns(
        RuntimeWarning,
        match=re.escape(f"found no rows on {foreign!r} sheet 'Data'"),
    ):
        got = _batch_rows(reader.read(XlsxPartition(foreign, "Data")))
    assert got == _rows_via_row_reader(foreign, "Data", schema, header=True)
    assert got == [(1, None, 1.5), (2, "ab", 2.5), (3, "rich", 3.5)]

    own = str(tmp_path / "own.xlsx")
    with WorkbookWriter(own) as wb:
        wb.add_sheet("Data")
        wb.write_row(["id", "name", "x"])
        wb.write_row([1, "a&b", 0.5])
        wb.write_row([2, None, 1.5])
    expected = [(1, "a&b", 0.5), (2, None, 1.5)]
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert _batch_rows(reader.read(XlsxPartition(own, "Data"))) == expected

    def boom(*a, **k):
        raise ValueError("boom")

    monkeypatch.setattr(batch_scan.BatchSheetReader, "_chunk_to_batch", boom)
    with pytest.warns(
        RuntimeWarning,
        match=re.escape(
            f"failed before its first batch: ValueError('boom') on {own!r} "
            "sheet 'Data'"
        ),
    ):
        assert _batch_rows(reader.read(XlsxPartition(own, "Data"))) == expected


def _source(fmt: str):
    from excelstream_spark.sources.warc import WarcDataSource
    from excelstream_spark.sources.xlsx.datasource import XlsxDataSource

    return {"xlsx": XlsxDataSource, "warc": WarcDataSource}[fmt]


@pytest.mark.parametrize("fmt, n_keys", [("xlsx", 19), ("warc", 6)],
                         ids=["xlsx", "warc"])
def test_every_option_is_documented(fmt, n_keys):
    """The option keys a data source reads, in its module and in the
    shared file-source core (files.py), are exactly its declared
    ``OPTIONS``, and each is named in its module docstring
    (case-insensitive)."""
    import re
    import sys

    from excelstream_spark.sources import files

    source = _source(fmt)
    module = sys.modules[source.__module__]
    keys = set()
    for mod in (module, files):
        with open(mod.__file__) as f:
            keys |= set(re.findall(r"""options\.get\(\s*["'](\w+)["']""", f.read()))
    assert keys == {k.lower() for k in source.OPTIONS}
    assert len(keys) == n_keys
    doc = module.__doc__.lower()
    assert sorted(k for k in keys if not re.search(rf"\b{k}\b", doc)) == []


@pytest.mark.parametrize("fmt, bad, named, known, good", [
    ("xlsx",
     {"pushdown": "true", "sheetNmae": "S", "batchReader": "false",
      "arrowBatches": "false", "arrowBatchSize": "10", "batchWriter": "false"},
     "['arrowBatchSize', 'arrowBatches', 'batchReader', 'batchWriter', "
     "'pushdown', 'sheetNmae']",
     ("'sheetName'", "'limitRows'"),
     {"sheetName": "S", "LIMITROWS": "5", "samplingrows": "10"}),
    ("warc",
     {"batchRow": "10", "payloadColumn": "body"},
     "['batchRow', 'payloadColumn']",
     ("'batchRows'", "'payloadCol'"),
     {"BATCHROWS": "10", "payloadcol": "body", "maxFileAgeSec": "5",
      "warcType": "response", "Compression": "none"}),
], ids=["xlsx", "warc"])
def test_unknown_option_keys_warn(fmt, bad, named, known, good):
    """Deleted and misspelt option keys draw one UserWarning naming them
    and listing the known keys; documented keys, in any case, and the
    keys Spark passes itself draw none."""
    import warnings

    source = _source(fmt)
    with pytest.warns(UserWarning) as record:
        source({"path": "/x", **bad})
    assert len(record) == 1
    msg = str(record[0].message)
    assert msg.startswith(f"{fmt}: ")
    assert named in msg
    assert all(k in msg for k in known)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        source({"path": "/x", **good, "paths": '["/x"]',
                "checkpointLocation": "/ck"})


# --- sheetSchemaMode policies ---------------------------------------------

def _mismatched_workbook(tmp_path):
    p = str(tmp_path / "mismatch.xlsx")
    with WorkbookWriter(p) as wb:
        wb.add_sheet("A")
        wb.write_row(["id", "name"])
        wb.write_row([1, "alpha"])
        wb.add_sheet("B")  # overlapping but different column set
        wb.write_row(["name", "extra"])
        wb.write_row(["beta", 9.5])
    return p


def test_all_sheets_union_mode(spark, tmp_path):
    """sheetSchemaMode=union: schema is the by-name union across sheets;
    columns a sheet lacks read as null instead of silent mis-typing."""
    p = _mismatched_workbook(tmp_path)
    df = (spark.read.format("xlsx").option("allSheets", True)
          .option("sheetSchemaMode", "union").load(p))
    assert [f.name for f in df.schema.fields] == ["id", "name", "extra"]
    rows = sorted([tuple(r) for r in df.collect()], key=repr)
    assert rows == sorted([(1, "alpha", None), (None, "beta", 9.5)], key=repr)


def test_all_sheets_strict_mode_fails_fast(spark, tmp_path):
    """sheetSchemaMode=strict: mismatched sheet headers raise instead of
    silently coercing."""
    p = _mismatched_workbook(tmp_path)
    with pytest.raises(Exception, match="sheetSchemaMode=strict"):
        (spark.read.format("xlsx").option("allSheets", True)
         .option("sheetSchemaMode", "strict").load(p).collect())


def test_union_mode_type_widening(tmp_path, spark):
    """Union inference widens long|double -> double and conflicts -> string."""
    p = str(tmp_path / "widen.xlsx")
    with WorkbookWriter(p) as wb:
        wb.add_sheet("A")
        wb.write_row(["v", "w"])
        wb.write_row([1, "x"])
        wb.add_sheet("B")
        wb.write_row(["v", "w"])
        wb.write_row([2.5, 7])
    df = (spark.read.format("xlsx").option("allSheets", True)
          .option("sheetSchemaMode", "union").load(p))
    kinds = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert kinds == {"v": "double", "w": "string"}
    rows = sorted([tuple(r) for r in df.collect()])
    assert rows == [(1.0, "x"), (2.5, "7")]


# --- columnar batch writer (batch_write.py) -------------------------------


def _nasty_rows_and_batch():
    """Fixture covering every vectorized type + the per-row special paths:
    escaping, formulas, control chars, leap-bug dates, NaN/inf, decimals,
    float32 widening, all-null rows."""
    import decimal
    import pyarrow as pa

    schema = T.StructType([
        T.StructField("s", T.StringType()),
        T.StructField("i", T.LongType()),
        T.StructField("f", T.DoubleType()),
        T.StructField("b", T.BooleanType()),
        T.StructField("d", T.DateType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("dec", T.DecimalType(10, 2)),
        T.StructField("f32", T.FloatType()),
    ])
    rows = [
        ["plain", 42, 1.5, True, dt.date(2024, 2, 29),
         dt.datetime(2024, 2, 29, 13, 45, 30, 123456),
         decimal.Decimal("12.34"), 0.25],
        ["a&b<c>\"'", -7, 0.1, False, dt.date(1900, 2, 28),
         dt.datetime(1900, 1, 1), decimal.Decimal("-5.00"), 1e10],
        [None, None, None, None, None, None, None, None],
        ["=SUM(A1:A2)", 2 ** 62, float("nan"), True, dt.date(1899, 12, 31),
         dt.datetime(1969, 12, 31, 23, 59, 59), decimal.Decimal("0.01"),
         float("inf")],
        ["ctrl\x01char\rline", 0, float("inf"), False, dt.date(9999, 12, 31),
         dt.datetime(2024, 1, 1), decimal.Decimal("999.99"), -0.0],
        ["tab\tand\nnl", 1, -2.5e-8, True, dt.date(1970, 1, 1),
         dt.datetime(2024, 6, 15, 6, 0), decimal.Decimal("1.10"), 3.5],
    ]
    pa_schema = pa.schema([
        pa.field("s", pa.string()), pa.field("i", pa.int64()),
        pa.field("f", pa.float64()), pa.field("b", pa.bool_()),
        pa.field("d", pa.date32()), pa.field("ts", pa.timestamp("us")),
        pa.field("dec", pa.decimal128(10, 2)), pa.field("f32", pa.float32()),
    ])
    batch = pa.RecordBatch.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(zip(*rows), pa_schema)],
        schema=pa_schema,
    )
    return schema, rows, batch


def test_batch_writer_bytes_identical_to_row_writer():
    """batch_to_rows_xml produces byte-for-byte the row writer's XML for
    every scalar type, including the special-string and null paths."""
    import io

    from excelstream_spark.sources.xlsx.batch_write import batch_to_rows_xml

    schema, rows, batch = _nasty_rows_and_batch()
    b1, b2 = io.BytesIO(), io.BytesIO()
    with WorkbookWriter(b1) as wb:
        wb.add_sheet("S")
        for r in rows:
            wb.write_row(list(r))
    with WorkbookWriter(b2) as wb:
        wb.add_sheet("S")
        wb.write_rows_xml(
            batch_to_rows_xml(batch, schema, wb.next_row_index), batch.num_rows
        )
    x1 = zipfile.ZipFile(b1).read("xl/worksheets/sheet1.xml")
    x2 = zipfile.ZipFile(b2).read("xl/worksheets/sheet1.xml")
    assert x1 == x2


def test_batch_writer_float_repr_parity():
    """ndarray.astype('U') must format float64 exactly like Python repr()
    — the guarantee the vectorized <v> text relies on."""
    import random

    import numpy as np

    vals = [0.1, 2.0, 1e-9, 1e16, 1.5e-5, float("nan"), float("inf"),
            -0.0, 3.141592653589793, 2.2250738585072014e-308]
    rng = random.Random(42)
    vals += [rng.uniform(-1e12, 1e12) for _ in range(5000)]
    vals += [rng.random() for _ in range(5000)]
    formatted = np.array(vals, dtype=np.float64).astype("U32")
    assert all(repr(v) == s for v, s in zip(vals, formatted))


def test_arrow_writer_spark_roundtrip_matches_row_writer(spark, tmp_path):
    """format('xlsx') default (inline strings) and useSharedStrings
    (shared-string table) produce equal data; read-back equals the
    source."""
    df = spark.createDataFrame(
        [(i, f"name{i}" + ("&<>" if i % 7 == 0 else ""),
          i * 1.25, i % 2 == 0,
          dt.datetime(2024, 1, 1) + dt.timedelta(hours=i))
         for i in range(500)],
        "id long, name string, x double, flag boolean, ts timestamp_ntz",
    )
    a, b = str(tmp_path / "arrow"), str(tmp_path / "rows")
    df.repartition(2).write.format("xlsx").mode("overwrite").save(a)
    df.repartition(2).write.format("xlsx").option("useSharedStrings", "true").mode("overwrite").save(b)
    da = spark.read.format("xlsx").load(a)
    db = spark.read.format("xlsx").load(b)
    assert da.schema == db.schema
    assert da.exceptAll(db).count() == 0 and db.exceptAll(da).count() == 0
    assert da.exceptAll(df).count() == 0 and df.exceptAll(da).count() == 0


def test_arrow_writer_autosplit_at_max_rows(spark, tmp_path):
    """The Arrow write path slices batches at the maxRowsPerSheet boundary
    (continuation sheets carry the re-emitted header)."""
    out = str(tmp_path / "split")
    df = spark.range(250).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    (df.coalesce(1).write.format("xlsx").mode("overwrite")
     .option("maxRowsPerSheet", 100).save(out))
    import glob as g

    [f] = g.glob(out + "/part-*.xlsx")
    with WorkbookReader(f) as wb:
        names = wb.sheet_names()
        assert len(names) == 3  # 99+99+52 data rows + header each
        counts = [sum(1 for _ in wb.iter_rows(s)) for s in names]
    assert counts == [100, 100, 53]
    back = (spark.read.format("xlsx").option("allSheets", True).load(out))
    assert back.count() == 250
    assert back.agg(F.sum("id")).collect()[0][0] == sum(range(250))


def test_arrow_writer_column_styles_and_height(spark, tmp_path):
    """columnStyles / rowHeight options render exactly as
    WorkbookWriter.write_row renders them, with inline strings and with
    useSharedStrings."""
    import glob as g
    import io

    rows = [(1.5, "x"), (2.5, "y")]
    df = spark.createDataFrame(rows, "amount double, label string")
    for sst in (False, True):
        out = str(tmp_path / f"sst_{sst}")
        (df.coalesce(1).write.format("xlsx").mode("overwrite")
         .option("useSharedStrings", sst)
         .option("columnStyles", "currency,")
         .option("rowHeight", "18").save(out))
        [f] = g.glob(out + "/part-*.xlsx")
        ref = io.BytesIO()
        with WorkbookWriter(ref, use_shared_strings=sst, row_height=18.0) as wb:
            wb.add_sheet("Sheet1")
            wb.write_header(["amount", "label"])
            for r in rows:
                wb.write_row(list(r), styles=[ooxml.STYLE_NAMES["currency"], None])
        xa = zipfile.ZipFile(f).read("xl/worksheets/sheet1.xml")
        assert xa == zipfile.ZipFile(ref).read("xl/worksheets/sheet1.xml"), sst
        assert b'ht="18"' in xa and b's="' in xa


def test_sink_writes_every_column_type_as_row_text(spark, tmp_path):
    """Array, map, struct (holding a timestamp), binary, void and
    nested-null columns go through the one Arrow sink, with inline and with
    shared strings: the sheet is exactly WorkbookWriter.write_row over the
    Rows pyspark converts the same Arrow data to (what a row sink
    receives)."""
    import glob as g
    import io

    from pyspark.sql import Row
    from pyspark.sql.conversion import ArrowTableToRowsConversion

    df = spark.createDataFrame(
        [
            (1, [1, 2], {"k": 1.5}, Row(a=1, b="x"),
             Row(t=dt.datetime(2024, 1, 1, 10, 0), s="=y"), b"ab", None, [Row(q=None)]),
            (2, None, None, None, None, None, None, None),
            (3, [3, None], {"k": None}, Row(a=None, b="<&>"),
             Row(t=None, s=None), b"", None, []),
        ],
        "id int, xs array<int>, m map<string,double>, st struct<a:int,b:string>, "
        "sts struct<t:timestamp,s:string>, bin binary, v void, "
        "nested array<struct<q:string>>",
    ).coalesce(1)
    rows = ArrowTableToRowsConversion.convert(df.toArrow(), df.schema)
    for sst in (False, True):
        out = str(tmp_path / f"sst_{sst}")
        df.write.format("xlsx").mode("overwrite").option("useSharedStrings", sst).save(out)
        [f] = g.glob(out + "/part-*.xlsx")
        ref = io.BytesIO()
        with WorkbookWriter(ref, use_shared_strings=sst) as wb:
            wb.add_sheet("Sheet1")
            wb.write_header(df.columns)
            for r in rows:
                wb.write_row(list(r))
        got, want = zipfile.ZipFile(f), zipfile.ZipFile(ref)
        for member in ("xl/worksheets/sheet1.xml", "xl/sharedStrings.xml"):
            assert got.read(member) == want.read(member), (sst, member)
        if not sst:
            xml = got.read("xl/worksheets/sheet1.xml").decode()
            assert '<c r="B2" t="inlineStr"><is><t xml:space="preserve">[1, 2]</t>' in xml
            assert "Row(a=1, b=&apos;x&apos;)</t>" in xml
            assert '<c r="G2"/>' in xml and '<c r="B3"/>' in xml


# --- columns pruning + limitRows early-stop -------------------------------


def test_columns_pruning_option(spark, tmp_path):
    """option('columns') narrows the schema and realigns by header name,
    independent of requested order."""
    out = str(tmp_path / "prune")
    df = spark.createDataFrame(
        [(1, "a", 1.5, True), (2, "b", 2.5, False)],
        "k long, name string, x double, flag boolean",
    )
    df.coalesce(1).write.format("xlsx").mode("overwrite").save(out)
    got = (spark.read.format("xlsx").option("columns", "x,k").load(out))
    assert [f.name for f in got.schema.fields] == ["x", "k"]
    assert sorted(tuple(r) for r in got.collect()) == [(1.5, 1), (2.5, 2)]
    with pytest.raises(Exception, match="unknown columns"):
        spark.read.format("xlsx").option("columns", "nope").load(out).collect()


def test_columns_pruning_headerless(spark, tmp_path):
    """Headerless pruned reads recover source positions from the _cN
    names (no header row to realign by)."""
    p = str(tmp_path / "nohdr.xlsx")
    with WorkbookWriter(p) as wb:
        wb.add_sheet("S")
        for i in range(5):
            wb.write_row([i, f"s{i}", i * 10])
    got = (spark.read.format("xlsx").option("header", "false")
           .option("columns", "_c2,_c0").load(p))
    assert sorted(tuple(r) for r in got.collect()) == [
        (0, 0), (10, 1), (20, 2), (30, 3), (40, 4)]


def test_limit_rows_early_stop(spark, tmp_path):
    """limitRows stops each partition's scan after N data rows — on the
    batch scanner and on the row reader, where it also spans the row
    reader's 4,096-row batches; a filter applies after the capped scan."""
    import glob

    from excelstream_spark.sources.xlsx.datasource import XlsxPartition, XlsxReader

    out = str(tmp_path / "lim")
    spark.range(10000).select(
        F.col("id"), (F.col("id") % 7).alias("m")
    ).coalesce(1).write.format("xlsx").mode("overwrite").save(out)
    df = spark.read.format("xlsx").option("limitRows", 5).load(out)
    assert sorted(r.id for r in df.collect()) == [0, 1, 2, 3, 4]
    # the filter sees only ids 0-4 and keeps [3]
    assert [r.id for r in df.filter(F.col("m") == 3).collect()] == [3]
    [part] = glob.glob(out + "/part-*.xlsx")
    for limit, n in ((5, 5), (4100, 4100), (None, 10000)):
        opts = {"path": part} if limit is None else {"path": part, "limitrows": str(limit)}
        got = _batch_rows(XlsxReader(df.schema, opts)._read_rows(XlsxPartition(part, "Sheet1")))
        assert got == [(i, i % 7) for i in range(n)], limit


def test_property_batch_writer_equals_row_writer():
    """Property-based byte equality: for ANY column of each kind (with
    nulls, specials, extremes), batch_to_rows_xml emits exactly the row
    writer's worksheet XML, and in shared-strings mode (with a small
    uniqueness cap, so strings overflow to inline) exactly its
    shared-string table, when the row writer gets the Arrow values."""
    import io
    from decimal import Decimal

    import pyarrow as pa
    from hypothesis import given, settings, strategies as st

    from excelstream_spark.sources.xlsx.batch_write import batch_to_rows_xml

    text = st.text(
        max_size=30,
        alphabet=st.characters(exclude_categories=("Cs",)),
    )
    col_strategies = {
        "string": (T.StringType(), pa.string(), text),
        "long": (T.LongType(), pa.int64(),
                 st.integers(min_value=-(2**63), max_value=2**63 - 1)),
        "double": (T.DoubleType(), pa.float64(),
                   st.floats(allow_nan=True, allow_infinity=True, width=64)),
        "bool": (T.BooleanType(), pa.bool_(), st.booleans()),
        "date": (T.DateType(), pa.date32(),
                 st.dates(min_value=dt.date(1890, 1, 1),
                          max_value=dt.date(2300, 1, 1))),
        "ts": (T.TimestampNTZType(), pa.timestamp("us"),
               st.datetimes(min_value=dt.datetime(1890, 1, 1),
                            max_value=dt.datetime(2300, 1, 1))),
        "decimal": (T.DecimalType(38, 18), pa.decimal128(38, 18),
                    st.decimals(min_value=Decimal(-10**19), max_value=Decimal(10**19),
                                places=18, allow_nan=False, allow_infinity=False)),
    }

    @settings(max_examples=40, deadline=None)
    @given(data=st.data())
    def run(data):
        kinds = data.draw(
            st.lists(st.sampled_from(sorted(col_strategies)),
                     min_size=1, max_size=4)
        )
        n = data.draw(st.integers(min_value=1, max_value=8))
        sst = data.draw(st.booleans())
        cap = data.draw(st.integers(min_value=1, max_value=4))
        cols, fields, pa_fields = [], [], []
        for j, k in enumerate(kinds):
            spark_t, pa_t, strat = col_strategies[k]
            cols.append(data.draw(
                st.lists(st.one_of(st.none(), strat), min_size=n, max_size=n)
            ))
            fields.append(T.StructField(f"c{j}", spark_t))
            pa_fields.append(pa.field(f"c{j}", pa_t))
        schema = T.StructType(fields)
        batch = pa.RecordBatch.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, pa_fields)],
            schema=pa.schema(pa_fields),
        )
        rows = [list(t) for t in zip(*(c.to_pylist() for c in batch.columns))]
        b1, b2 = io.BytesIO(), io.BytesIO()
        with WorkbookWriter(b1, use_shared_strings=sst) as wb:
            if sst:
                wb._sst.cap = cap
            wb.add_sheet("S")
            for r in rows:
                wb.write_row(r)
        with WorkbookWriter(b2, use_shared_strings=sst) as wb:
            if sst:
                wb._sst.cap = cap
            wb.add_sheet("S")
            wb.write_rows_xml(
                batch_to_rows_xml(batch, schema, wb.next_row_index, sst=wb._sst), n
            )
        for member in ("xl/worksheets/sheet1.xml", "xl/sharedStrings.xml"):
            x1 = zipfile.ZipFile(b1).read(member)
            x2 = zipfile.ZipFile(b2).read(member)
            assert x1 == x2, member

    run()


def test_header_consumes_sheet_raises_not_spins(spark, tmp_path):
    """maxRowsPerSheet=1 with a header cannot make progress after a
    split; with inline strings and with useSharedStrings the sink must
    raise, not loop forever."""
    df = spark.range(5).select(F.col("id"))
    for sst in ("false", "true"):
        out = str(tmp_path / f"tiny_{sst}")
        with pytest.raises(Exception, match="maxRowsPerSheet|no room"):
            (df.coalesce(1).write.format("xlsx").mode("overwrite")
             .option("useSharedStrings", sst)
             .option("maxRowsPerSheet", 1).save(out))


def test_batch_writer_style_zero_on_dates_matches_row_writer():
    """columnStyles index 0 ('default') on date/timestamp columns emits
    s=\"0\" on both paths (truthiness regression)."""
    import io

    import pyarrow as pa

    from excelstream_spark.sources.xlsx.batch_write import batch_to_rows_xml

    schema = T.StructType([
        T.StructField("d", T.DateType()),
        T.StructField("ts", T.TimestampNTZType()),
    ])
    rows = [[dt.date(2024, 1, 2), dt.datetime(2024, 1, 2, 3, 4, 5)]]
    batch = pa.RecordBatch.from_arrays(
        [pa.array([rows[0][0]], type=pa.date32()),
         pa.array([rows[0][1]], type=pa.timestamp("us"))],
        schema=pa.schema([pa.field("d", pa.date32()),
                          pa.field("ts", pa.timestamp("us"))]),
    )
    b1, b2 = io.BytesIO(), io.BytesIO()
    with WorkbookWriter(b1) as wb:
        wb.add_sheet("S")
        for r in rows:
            wb.write_row(list(r), styles=[0, 0])
    with WorkbookWriter(b2) as wb:
        wb.add_sheet("S")
        wb.write_rows_xml(
            batch_to_rows_xml(batch, schema, wb.next_row_index,
                              col_styles=[0, 0]),
            1,
        )
    x1 = zipfile.ZipFile(b1).read("xl/worksheets/sheet1.xml")
    x2 = zipfile.ZipFile(b2).read("xl/worksheets/sheet1.xml")
    assert x1 == x2 and b's="0"' in x1


# --- foreign-writer interop ------------------------------------------------


def _foreign_workbook(path: str) -> None:
    """Hand-built workbook imitating OTHER writers' XML shapes: namespace
    prefixes on worksheet elements, attribute order s= before r=, a
    dimension element, cached-formula cells (t="str"), inline strings
    with rich-text runs, and cells with no r= attribute at all."""
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        f'<x:worksheet xmlns:x="{ns}"><x:dimension ref="A1:C4"/>'
        "<x:sheetData>"
        '<x:row r="1"><x:c r="A1" t="inlineStr"><x:is><x:t>id</x:t></x:is></x:c>'
        '<x:c r="B1" t="inlineStr"><x:is><x:t>name</x:t></x:is></x:c>'
        '<x:c r="C1" t="inlineStr"><x:is><x:t>x</x:t></x:is></x:c></x:row>'
        # attr order reversed (s before r), one gap (B2 absent)
        '<x:row r="2"><x:c s="0" r="A2"><x:v>1</x:v></x:c>'
        '<x:c r="C2"><x:v>1.5</x:v></x:c></x:row>'
        # cached formula result: t="str" + <f> element
        '<x:row r="3"><x:c r="A3"><x:v>2</x:v></x:c>'
        '<x:c r="B3" t="str"><x:f>CONCAT("a","b")</x:f><x:v>ab</x:v></x:c>'
        '<x:c r="C3"><x:v>2.5</x:v></x:c></x:row>'
        # no r= attributes: cells assigned sequentially; rich-text runs
        '<x:row><x:c><x:v>3</x:v></x:c>'
        '<x:c t="inlineStr"><x:is><x:r><x:t>ri</x:t></x:r><x:r><x:t>ch</x:t></x:r></x:is></x:c>'
        "<x:c><x:v>3.5</x:v></x:c></x:row>"
        "</x:sheetData></x:worksheet>"
    )
    wb_xml = (
        '<?xml version="1.0"?>'
        f'<workbook xmlns="{ns}" xmlns:r="{rns}">'
        '<sheets><sheet name="Data" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    rels = (
        '<?xml version="1.0"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" '
        'Target="worksheets/sheet1.xml"/></Relationships>'
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("xl/workbook.xml", wb_xml)
        z.writestr("xl/_rels/workbook.xml.rels", rels)
        z.writestr("xl/worksheets/sheet1.xml", sheet)


def test_foreign_writer_shapes(spark, tmp_path):
    """Files from other xlsx producers read correctly: the scanner's fast
    path rejects unknown shapes and the exact fallback handles them."""
    p = str(tmp_path / "foreign.xlsx")
    _foreign_workbook(p)
    with WorkbookReader(p) as rb:
        assert rb.sheet_names() == ["Data"]
        rows = list(rb.iter_rows("Data"))
    assert rows[0] == ["id", "name", "x"]
    assert rows[1] == [1, None, 1.5]          # gap -> None
    assert rows[2] == [2, "ab", 2.5]          # cached formula value
    assert rows[3] == [3, "rich", 3.5]        # sequential cells + runs
    # Spark surface: the scanner (which falls back to the row reader on
    # this prefixed sheet); then the row reader proper, in-process
    df = spark.read.format("xlsx").load(p)
    assert df.schema.simpleString() == "struct<id:bigint,name:string,x:double>"
    expected = [(1, None, 1.5), (2, "ab", 2.5), (3, "rich", 3.5)]
    assert sorted(tuple(r) for r in df.collect()) == expected
    assert _rows_via_row_reader(p, "Data", df.schema, header=True) == expected


# --- error-message quality (reference integration_test.rs:330-354) --------


def test_error_message_quality(spark, tmp_path):
    """Errors name the problem and the remedy: unknown sheet lists the
    available ones; a non-xlsx file names the missing member."""
    p = str(tmp_path / "one.xlsx")
    with WorkbookWriter(p) as wb:
        wb.add_sheet("Only")
        wb.write_row(["a"])
    with WorkbookReader(p) as rb:
        with pytest.raises(ValueError, match=r"not found.*Only"):
            rb.resolve_sheet("Nope")
        with pytest.raises(ValueError, match="out of range"):
            rb.resolve_sheet(5)
    bad = str(tmp_path / "not_excel.xlsx")
    with zipfile.ZipFile(bad, "w") as z:
        z.writestr("random.txt", "hi")
    with pytest.raises(ValueError, match="missing xl/workbook.xml"):
        WorkbookReader(bad)
    notzip = str(tmp_path / "plain.xlsx")
    with open(notzip, "w") as f:
        f.write("csv,not,zip")
    with pytest.raises(zipfile.BadZipFile):
        WorkbookReader(notzip)
