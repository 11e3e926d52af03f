"""In-memory workbook/CSV bytes for HTTP responses.

Reference parity: HttpExcelWriter / HttpCsvWriter build a whole file in an
in-memory buffer and return the bytes for an HTTP response body
(/root/reference/src/cloud/http_writer.rs, src/http_csv_writer.rs).  This
is the ONE deliberately driver-side small-result path in this repo: the
result of an analytical query that a human downloads is bounded by
``max_rows`` (guarded, not implicit).

A DataFrame is fetched ONCE as Arrow, ``df.limit(max_rows +
1).toArrow()``: one Spark job, no per-row pickling, and the driver never
holds more than ``max_rows + 1`` rows.  More than ``max_rows`` rows raise
ResultTooLargeError.  Each Arrow batch is then encoded columnar — xlsx
through WorkbookWriter.write_arrow_batches (the sink's encoder), csv by
building each column's text in bulk for the stdlib csv writer, with
array/map/struct/binary columns as the text of their Row values
(batch_write.row_text) — giving the same bytes the row path gives for
the same rows, timestamps aside.  Timestamps follow the package's one
rule (xlsx/dates.py): the fetched data is labelled with the session
zone once, and every timestamp, top level or nested, is written as its
wall clock in that zone, as the sink writes it, whatever the driver
process's own zone.

The row path (``toLocalIterator`` — one job per partition, rows streamed
under the same guard, cells encoded one by one) serves only a row source
that is not a DataFrame (anything offering ``columns`` and
``toLocalIterator``) and a frame with no columns.  Its timestamps are
the Rows' own values.

For big exports the pattern is IMPLEMENTED below (``export_presigned`` /
``serve_dataframe``): write distributed to object storage and hand out
presigned part URLs — see the big-result section.
"""

from __future__ import annotations

import csv
import gzip
import io

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from excelstream_spark.sources.xlsx.batch_write import decimal_text, row_text
from excelstream_spark.sources.xlsx.dates import in_session_zone, wall_clock
from excelstream_spark.sources.xlsx.writer_core import DEFAULT_COMPRESSION, WorkbookWriter

XLSX_CONTENT_TYPE = (
    "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet"
)
CSV_CONTENT_TYPE = "text/csv; charset=utf-8"

DEFAULT_MAX_ROWS = 1_000_000  # reference benches 1M rows in-memory (~64 MB)


class ResultTooLargeError(ValueError):
    pass


def _too_large(max_rows: int) -> ResultTooLargeError:
    return ResultTooLargeError(
        f"result exceeds max_rows={max_rows}; write to object storage "
        "and serve a presigned URL instead"
    )


def _iter_rows_bounded(df, max_rows: int):
    """Row path: stream rows to the driver partition-by-partition
    (toLocalIterator — never materializes the whole result) with a hard
    row guard."""
    n = 0
    for row in df.toLocalIterator():
        n += 1
        if n > max_rows:
            raise _too_large(max_rows)
        yield row


def _fetches_as_arrow(df) -> bool:
    """Whether ``df`` takes the Arrow path (module docstring)."""
    return isinstance(df, DataFrame) and bool(df.columns)


def _arrow_batches(df, max_rows: int) -> list[pa.RecordBatch] | None:
    """The whole result from one bounded Arrow fetch, or None when ``df``
    takes the row path."""
    if not _fetches_as_arrow(df):
        return None
    table = df.limit(max_rows + 1).toArrow()
    if table.num_rows > max_rows:
        raise _too_large(max_rows)
    return in_session_zone(table, df.sparkSession).to_batches()


def _csv_text(col: pa.Array, dtype: T.DataType) -> list[str]:
    """One column's cells as the text csv.writer makes of the row path's
    values: ``str()`` of the Python value a Spark Row carries, "" for
    null; timestamps as wall clocks (module docstring)."""
    col = wall_clock(col)
    if isinstance(dtype, T.BooleanType):
        vals = pc.fill_null(col, False).to_numpy(zero_copy_only=False)
        text = np.where(vals, "True", "False")
    elif isinstance(dtype, (T.FloatType, T.DoubleType)):
        # float32 widens to binary64 as in Spark's Row conversion; numpy's
        # text of a float64 is its repr
        text = pc.fill_null(col.cast(pa.float64()), 0.0).to_numpy().astype("U32")
    elif isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        text = pc.fill_null(col.cast(pa.int64()), 0).to_numpy().astype("U20")
    else:  # a text column: Arrow's own text, or the Row values' (row_text)
        if isinstance(dtype, T.DecimalType):
            col = decimal_text(col)
        elif isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
            # str(datetime) drops an all-zero fraction; Arrow always prints it
            col = pc.replace_substring_regex(col.cast(pa.string()), r"\.000000$", "")
        elif isinstance(dtype, (T.StringType, T.DateType)):
            col = col.cast(pa.string())
        else:
            col = row_text(col, dtype)
        return pc.fill_null(col, "").to_numpy(zero_copy_only=False).tolist()
    return np.where(col.is_null().to_numpy(zero_copy_only=False), "", text).tolist()


def dataframe_to_xlsx_bytes(
    df: DataFrame,
    sheet_name: str = "Sheet1",
    header: bool = True,
    compression: int = DEFAULT_COMPRESSION,
    max_rows: int = DEFAULT_MAX_ROWS,
) -> bytes:
    """Serialize a (bounded) DataFrame to xlsx bytes for an HTTP response:
    one bounded Arrow fetch encoded by the sink's columnar encoder, or the
    row path (module docstring)."""
    batches = _arrow_batches(df, max_rows)
    buf = io.BytesIO()
    with WorkbookWriter(buf, compression=compression) as wb:
        wb.add_sheet(sheet_name)
        if header:
            wb.write_header(df.columns)
        if batches is not None:
            wb.write_arrow_batches(batches, df.schema)
        else:
            for row in _iter_rows_bounded(df, max_rows):
                wb.write_row(list(row))
    return buf.getvalue()


def dataframe_to_csv_bytes(
    df: DataFrame,
    header: bool = True,
    delimiter: str = ",",
    gzip_compress: bool = False,
    max_rows: int = DEFAULT_MAX_ROWS,
) -> bytes:
    """Serialize a (bounded) DataFrame to (optionally gzipped) CSV bytes
    (RFC-4180 quoting via the stdlib csv writer): one bounded Arrow fetch
    whose batches are turned into text column by column, or the row path
    (module docstring)."""
    batches = _arrow_batches(df, max_rows)
    text = io.StringIO()
    w = csv.writer(text, delimiter=delimiter, quoting=csv.QUOTE_MINIMAL, lineterminator="\r\n")
    if header:
        w.writerow(df.columns)
    if batches is not None:
        types = [f.dataType for f in df.schema.fields]
        for batch in batches:
            w.writerows(zip(*map(_csv_text, batch.columns, types)))
    else:
        for row in _iter_rows_bounded(df, max_rows):
            w.writerow(["" if v is None else v for v in row])
    data = text.getvalue().encode("utf-8")
    if gzip_compress:
        # mtime=0: the body is a function of the rows, not of the clock.
        # The workbook default level: on a 10k-row slice it gzips in 12 ms
        # instead of 42 ms (level 6) for a 12% larger body (DEPLOYMENT.md)
        data = gzip.compress(data, compresslevel=DEFAULT_COMPRESSION, mtime=0)
    return data


def http_response_headers(filename: str, content_type: str) -> dict[str, str]:
    """Convenience: download headers for Flask/FastAPI responses."""
    return {
        "Content-Type": content_type,
        "Content-Disposition": f'attachment; filename="{filename}"',
    }


# --- big-result path: distributed write + presigned URLs ------------------
#
# The reference's HTTP server builds whole files in memory and documents
# itself as "not suitable for extremely large files (>100MB)"
# (HTTP_STREAMING.md:297).  This is the scale path that replaces it: the
# result is written DISTRIBUTED to object storage (S3A streaming
# multipart, zero driver memory) and the HTTP response carries presigned
# GET URLs instead of bytes.  boto3 is import-gated exactly like
# cloud.replicate; the key-listing/ordering/presign logic takes an
# injectable client so it is strategy-testable without cloud access.

from dataclasses import dataclass, field


@dataclass
class ExportResult:
    """What an HTTP endpoint returns for a query export: either inline
    ``body`` bytes (small results) or ordered presigned part ``urls``
    (big results) — never both."""

    content_type: str
    filename: str
    body: bytes | None = None
    urls: list[str] = field(default_factory=list)
    keys: list[str] = field(default_factory=list)

    @property
    def inline(self) -> bool:
        return self.body is not None


def _is_data_key(key: str, prefix: str) -> bool:
    """Spark writes _SUCCESS markers, .crc sidecars and (on some
    committers) directory placeholder keys next to the part files —
    only real part objects get presigned."""
    if key.endswith("/"):
        return False
    base = key.rsplit("/", 1)[-1]
    if not base or base.startswith((".", "_")):
        return False
    return key.startswith(prefix)


def presign_prefix(
    bucket: str,
    prefix: str,
    s3_client,
    ttl_seconds: int = 3600,
) -> tuple[list[str], list[str]]:
    """(keys, urls) for every DATA object under ``prefix``, key-sorted so
    multi-part CSV downloads concatenate in part order.  Pure client
    orchestration — inject a fake client to test without cloud."""
    keys: list[str] = []
    token = None
    while True:
        kwargs = {"Bucket": bucket, "Prefix": prefix}
        if token:
            kwargs["ContinuationToken"] = token
        page = s3_client.list_objects_v2(**kwargs)
        keys.extend(
            o["Key"]
            for o in page.get("Contents", [])
            if _is_data_key(o["Key"], prefix)
        )
        if not page.get("IsTruncated"):
            break
        token = page.get("NextContinuationToken")
    keys.sort()
    urls = [
        s3_client.generate_presigned_url(
            "get_object",
            Params={"Bucket": bucket, "Key": k},
            ExpiresIn=ttl_seconds,
        )
        for k in keys
    ]
    return keys, urls


def export_presigned(
    df: DataFrame,
    bucket: str,
    key_prefix: str,
    fmt: str = "csv",
    s3_client=None,
    ttl_seconds: int = 3600,
    header: bool = True,
    delimiter: str = ",",
    gzip_compress: bool = False,
    sheet_name: str = "Sheet1",
    write_path: str | None = None,
) -> ExportResult:
    """Distributed export + presigned URLs: ``df`` is written as part
    files under ``s3a://bucket/key_prefix`` (S3A streams each part as a
    multipart upload — no driver materialization, no temp files), then
    every part object is presigned for ``ttl_seconds``.

    ``write_path`` overrides the write target (tests write to ``file:``
    and presign through a fake client); the listing/presign always goes
    through ``s3_client``."""
    if fmt not in ("csv", "xlsx"):
        raise ValueError(f"fmt must be csv or xlsx, got {fmt!r}")
    if s3_client is None:
        try:
            import boto3
        except ImportError as e:  # pragma: no cover
            raise NotImplementedError(
                "export_presigned needs boto3 (or an injected s3_client) "
                "to presign URLs"
            ) from e
        s3_client = boto3.client("s3")
    key_prefix = key_prefix.rstrip("/") + "/"
    path = write_path or f"s3a://{bucket}/{key_prefix}"
    if fmt == "csv":
        # mirror the inline path's dialect options: a consumer promised
        # ';'-separated gzip CSV must get it whichever path the row
        # guard picks
        opts: dict = {"header": header, "sep": delimiter}
        if gzip_compress:
            opts["compression"] = "gzip"
        df.write.mode("overwrite").options(**opts).csv(path)
        content_type = CSV_CONTENT_TYPE
    else:
        from excelstream_spark.sources.xlsx import register_xlsx

        register_xlsx(df.sparkSession)
        (
            df.write.format("xlsx")
            .option("sheetName", sheet_name)
            .option("header", header)
            .mode("overwrite")
            .save(path)
        )
        content_type = XLSX_CONTENT_TYPE
    keys, urls = presign_prefix(bucket, key_prefix, s3_client, ttl_seconds)
    return ExportResult(
        content_type=content_type,
        filename=key_prefix.rstrip("/").rsplit("/", 1)[-1] + "." + fmt,
        urls=urls,
        keys=keys,
    )


def serve_dataframe(
    df: DataFrame,
    filename: str,
    fmt: str = "xlsx",
    max_inline_rows: int = DEFAULT_MAX_ROWS,
    bucket: str | None = None,
    key_prefix: str | None = None,
    s3_client=None,
    ttl_seconds: int = 3600,
    **fmt_opts,
) -> ExportResult:
    """The one-call HTTP export: try the bounded in-memory path first
    (no count job — the row guard reads at most ``max_inline_rows + 1``
    rows), fall back to the distributed presigned-URL path when the
    result is too large and a destination is configured."""
    try:
        if fmt == "xlsx":
            body = dataframe_to_xlsx_bytes(
                df, max_rows=max_inline_rows, **fmt_opts
            )
            ct = XLSX_CONTENT_TYPE
        elif fmt == "csv":
            body = dataframe_to_csv_bytes(
                df, max_rows=max_inline_rows, **fmt_opts
            )
            ct = CSV_CONTENT_TYPE
        else:
            raise ValueError(f"fmt must be csv or xlsx, got {fmt!r}")
        return ExportResult(content_type=ct, filename=filename, body=body)
    except ResultTooLargeError:
        if bucket is None or key_prefix is None:
            raise
        return export_presigned(
            df,
            bucket,
            key_prefix,
            fmt=fmt,
            s3_client=s3_client,
            ttl_seconds=ttl_seconds,
            header=fmt_opts.get("header", True),
            delimiter=fmt_opts.get("delimiter", ","),
            gzip_compress=fmt_opts.get("gzip_compress", False),
            sheet_name=fmt_opts.get("sheet_name", "Sheet1"),
        )
