"""Format converters + workbook utilities.

The reference ships dedicated converter classes (ParquetToExcelConverter /
ExcelToParquetConverter, /root/reference/src/parquet/converter.rs); in
Spark these are read->write one-liners — kept as named functions so the
capability is discoverable and testable, with schema inference improving
on the reference's all-strings Parquet schema (converter.rs:202-207).

``append_to_workbook`` implements what the reference stubbed out
(AppendableExcelWriter.save() returns an error, src/append/mod.rs:190-207):
read existing sheet + union + rewrite.

``write_sheets`` streams several DataFrames into ONE workbook (driver-side
via toLocalIterator — bounded memory, for human-sized workbooks; the
distributed path is one directory per table).  Each chunk of Rows goes
back to Arrow and through the sink's encoder, so its cells are the
sink's, timestamps included: each is written as its wall clock in the
session zone (xlsx/dates.py), whatever the driver process's zone.  It
writes a hidden temp beside ``path`` and publishes it by one rename
(files.PartFileWriter), so a failed query leaves the old workbook.
"""

from __future__ import annotations

from itertools import islice

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.conversion import LocalDataToArrowConversion

from excelstream_spark.sources.files import FileCommitMessage, PartFileWriter
from excelstream_spark.sources.xlsx import register_xlsx
from excelstream_spark.sources.xlsx.dates import in_session_zone
from excelstream_spark.sources.xlsx.writer_core import DEFAULT_COMPRESSION, WorkbookWriter


def excel_to_parquet(
    spark: SparkSession, src: str, dst: str, header: bool = True, **options
) -> None:
    """XLSX -> Parquet with real inferred types (reference C2, improved)."""
    register_xlsx(spark)
    (
        spark.read.format("xlsx")
        .option("header", header)
        .options(**options)
        .load(src)
        .write.mode("overwrite")
        .parquet(dst)
    )


def parquet_to_excel(
    spark: SparkSession, src: str, dst: str, header: bool = True, **options
) -> None:
    """Parquet -> XLSX (reference C1)."""
    register_xlsx(spark)
    (
        spark.read.parquet(src)
        .write.format("xlsx")
        .mode("overwrite")
        .option("header", header)
        .options(**options)
        .save(dst)
    )


def append_to_workbook(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    sheet_name: str | None = None,
    header: bool = True,
) -> None:
    """Append rows to an existing single-file workbook: read + union +
    rewrite (the operation the reference left unimplemented).

    Writes straight to ``path``: the sink renames its temp over the
    original only at commit, after the read of the original has run.
    """
    register_xlsx(spark)
    reader = spark.read.format("xlsx").option("header", header)
    if sheet_name:
        reader = reader.option("sheetName", sheet_name)
    existing = reader.load(path)
    combined = existing.unionByName(df.toDF(*existing.columns))
    writer = (
        combined.coalesce(1)
        .write.format("xlsx")
        .mode("overwrite")
        .option("singleFile", True)
        .option("header", header)
    )
    if sheet_name:
        writer = writer.option("sheetName", sheet_name)
    writer.save(path)


def write_sheets(
    dfs: dict[str, DataFrame],
    path: str,
    header: bool = True,
    compression: int = DEFAULT_COMPRESSION,
) -> None:
    """Several DataFrames -> one multi-sheet workbook (driver-streamed,
    published by rename; module docstring)."""
    out = PartFileWriter()
    out._init_output(path, ".xlsx", single_file=True)
    temp, pid = out._temp_file()
    try:
        with WorkbookWriter(temp, compression=compression) as wb:
            for name, df in dfs.items():
                wb.add_sheet(name)
                if header:
                    wb.write_header(df.columns)
                # rows, not one Arrow collect as sources/http.py does: there
                # is no row bound here, so a collect would be unbounded
                rows = df.toLocalIterator()
                while chunk := list(islice(rows, 4096)):
                    table = LocalDataToArrowConversion.convert(chunk, df.schema, False)
                    wb.write_arrow_batches(
                        in_session_zone(table, df.sparkSession).to_batches(), df.schema
                    )
    except BaseException:
        out.abort([])
        raise
    out.commit([FileCommitMessage(temp, 0, pid)])
