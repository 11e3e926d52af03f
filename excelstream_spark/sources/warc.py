"""Spark Python Data Source for WARC (ISO 28500): ``format("warc")``
read and write.

WARC is the web-archive container format Common Crawl ships — i.e. the
FIRST format a 100 TB web-corpus build reads — and the natural ingest
sibling of the provenance/URL dedup stage (operators/provenance.py runs
over exactly the ``WARC-Target-URI`` values this source surfaces).  The
format itself is public (ISO 28500 / the IIPC WARC 1.1 specification);
everything here is written fresh against that spec — the reference
engine has no WARC surface at all, so this source EXCEEDS reference
parity the way the xlsx width/height support does.

Read path: ``partitions()`` yields one partition per ``*.warc`` /
``*.warc.gz`` file — parallelism comes from many files, which is how
real crawls arrive (Common Crawl segments are ~1 GB gzip members).
Within a partition the parser is STREAMING and exact: each record's
header block is read line-by-line to the blank-line terminator, then
exactly ``Content-Length`` payload bytes are consumed — the parser
NEVER scans for the ``WARC/1.0`` marker, so a payload that itself
contains WARC record text round-trips byte-for-byte (pinned in
tests/test_warc.py).  Gzip files may be multi-member (the per-record
member convention below, or one stream) — Python's gzip layer
concatenates members transparently.  Records stream out as bounded
pyarrow RecordBatches; memory is O(batch), not O(file).

Fixed read schema (payload stays ``binary`` — losslessness first,
``decode(payload, 'utf-8')`` is one JVM expression away)::

    record_id string, warc_type string, target_uri string,
    warc_date string, content_type string, content_length bigint,
    payload binary

Write path: each task streams its partition into one
``part-NNNNN-<job8>.warc.gz`` with EACH RECORD ITS OWN GZIP MEMBER —
the Common Crawl convention, which keeps records independently
seekable/splittable downstream.  ``Content-Length`` is the exact UTF-8
byte length of the payload.  The expected input schema is a ``payload``
column (string or binary; option ``payloadCol`` renames) plus optional
``record_id`` / ``target_uri`` / ``warc_date`` / ``content_type`` /
``warc_type`` columns; absent headers get deterministic defaults (no
wall-clock reads — a re-run writes identical bytes, the house
reproducibility rule).  Parts are published by the file-source core's
rename at commit (files.py), so a failed job never leaves half-archives
visible, a retried task publishes once, and a failed overwrite keeps the
previous archives.

The source also implements a STREAM reader: ``spark.readStream
.format("warc")`` watches a directory and processes each new archive
exactly once (the incremental-crawl ingest form), yielding the batch
reader's Arrow batches.  Path listing, stream offsets, how the sink
publishes and registration are the file-source core's (files.py),
shared with the xlsx source.

Options (read):  ``path`` (a file, directory or glob: a directory lists
  ``*.warc`` / ``*.warc.gz`` recursively, a glob's file matches skip
  ``_``/``.`` names such as ``_SUCCESS``; ``load([a, b])`` reads every
  path, which Spark passes as ``paths``), ``batchRows`` (Arrow batch
  size, default 1024); stream adds ``maxFileAgeSec`` (compacted
  offsets).
Options (write): ``path`` (the output directory), ``compression``
  (``gzip`` default | ``none``), ``payloadCol`` (default ``payload``),
  ``warcType`` (default ``resource`` — the spec's type for raw content
  not wrapped in HTTP headers).
Any other option key is ignored with a UserWarning naming it.

100 TB shape: both directions are embarrassingly parallel over files /
partitions with zero shuffle; the reader's per-record work is one
header parse + one exact-length read, and payload bytes cross into the
JVM once, Arrow-batched.
"""

from __future__ import annotations

import gzip
import io
import os

from pyspark.sql import types as T
from pyspark.sql.datasource import DataSourceReader, DataSourceWriter, InputPartition

from excelstream_spark.sources.files import (
    FileCommitMessage,
    FileDataSource,
    PartFileWriter,
    input_files,
    local_path,
    register,
)

WARC_SCHEMA = T.StructType(
    [
        T.StructField("record_id", T.StringType()),
        T.StructField("warc_type", T.StringType()),
        T.StructField("target_uri", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("content_length", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)

#: deterministic default WARC-Date (the spec requires the header; the
#: house rule forbids wall-clock reads — a re-run must write identical
#: bytes).  Callers with real crawl dates pass a ``warc_date`` column.
_EPOCH_DATE = "1970-01-01T00:00:00Z"
_CRLF = b"\r\n"


def _open_stream(path: str):
    if path.endswith(".gz"):
        return gzip.open(path, "rb")
    return open(path, "rb")


def parse_warc_stream(stream, *, source: str = "<stream>"):
    """Yield ``(headers_dict, payload_bytes)`` per record.  Strict,
    length-delimited parse: version line, header lines to the blank
    line, exactly Content-Length payload bytes, the two terminating
    CRLFs.  Header names are case-insensitively folded to lower-case.
    Raises ValueError with the record offset context on malformed
    input — a truncated 100 TB shard should fail its task loudly, not
    silently emit fewer documents."""
    n = 0
    while True:
        line = stream.readline()
        if not line:
            return
        if line in (_CRLF, b"\n"):  # tolerate stray inter-record padding
            continue
        if not line.startswith(b"WARC/"):
            raise ValueError(
                f"{source}: record {n}: expected WARC version line, "
                f"got {line[:40]!r}"
            )
        headers: dict[str, str] = {}
        while True:
            line = stream.readline()
            if not line:
                raise ValueError(
                    f"{source}: record {n}: EOF inside header block"
                )
            if line in (_CRLF, b"\n"):
                break
            raw = line.decode("utf-8", "replace").rstrip("\r\n")
            if ":" not in raw:
                raise ValueError(
                    f"{source}: record {n}: malformed header {raw!r}"
                )
            k, v = raw.split(":", 1)
            headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            raise ValueError(
                f"{source}: record {n}: missing/bad Content-Length"
            ) from None
        payload = stream.read(length)
        if len(payload) != length:
            raise ValueError(
                f"{source}: record {n}: payload truncated "
                f"({len(payload)}/{length} bytes)"
            )
        # the spec's record terminator: exactly two CRLFs
        term = stream.read(4)
        if term not in (b"\r\n\r\n", b"\n\n"):
            # one-CRLF/none writers exist in the wild; resync leniently
            # by pushing back what we over-read is impossible on a gzip
            # stream, so only the strict and the bare-LF forms are
            # accepted — both unambiguous under length-delimited parse
            raise ValueError(
                f"{source}: record {n}: bad record terminator {term!r}"
            )
        yield headers, payload
        n += 1


class WarcPartition(InputPartition):
    def __init__(self, file: str):
        self.file = file


class WarcDataSource(FileDataSource):
    OPTIONS = frozenset({
        "path", "batchRows", "maxFileAgeSec", "compression", "payloadCol",
        "warcType",
    })

    @classmethod
    def name(cls) -> str:
        return "warc"

    def schema(self):
        return WARC_SCHEMA

    def reader(self, schema: T.StructType) -> "WarcReader":
        return WarcReader(schema, self.options)

    def writer(self, schema: T.StructType, overwrite: bool) -> "WarcWriter":
        return WarcWriter(schema, self.options, overwrite)


class WarcReader(DataSourceReader):
    patterns = ("*.warc", "*.warc.gz")

    def __init__(self, schema: T.StructType, options):
        self.schema_ = schema
        self.options = options
        self.batch_rows = int(options.get("batchrows", 1024))

    def partitions(self):
        return self._partitions(input_files(self.options, self.patterns))

    def _partitions(self, files: list[str]) -> list[WarcPartition]:
        return [WarcPartition(f) for f in files]

    def read(self, partition: WarcPartition):
        import pyarrow as pa

        cols = {f.name: [] for f in WARC_SCHEMA.fields}
        arrow_schema = pa.schema(
            [
                pa.field("record_id", pa.string()),
                pa.field("warc_type", pa.string()),
                pa.field("target_uri", pa.string()),
                pa.field("warc_date", pa.string()),
                pa.field("content_type", pa.string()),
                pa.field("content_length", pa.int64()),
                pa.field("payload", pa.binary()),
            ]
        )

        def flush():
            batch = pa.RecordBatch.from_arrays(
                [pa.array(cols[f.name], f.type) for f in arrow_schema],
                schema=arrow_schema,
            )
            for k in cols:
                cols[k].clear()
            return batch

        with _open_stream(partition.file) as stream:
            for headers, payload in parse_warc_stream(
                stream, source=os.path.basename(partition.file)
            ):
                cols["record_id"].append(headers.get("warc-record-id"))
                cols["warc_type"].append(headers.get("warc-type"))
                cols["target_uri"].append(headers.get("warc-target-uri"))
                cols["warc_date"].append(headers.get("warc-date"))
                cols["content_type"].append(headers.get("content-type"))
                cols["content_length"].append(len(payload))
                cols["payload"].append(payload)
                if len(cols["payload"]) >= self.batch_rows:
                    yield flush()
        if cols["payload"]:
            yield flush()


class WarcWriter(PartFileWriter, DataSourceWriter):
    patterns = WarcReader.patterns

    def __init__(self, schema: T.StructType, options, overwrite: bool):
        self.schema_ = schema
        self.path = local_path(options.get("path") or "")
        if not self.path:
            raise ValueError("warc sink requires a path")
        self.payload_col = options.get("payloadcol", "payload")
        self.warc_type = options.get("warctype", "resource")
        comp = (options.get("compression") or "gzip").lower()
        if comp not in ("gzip", "none"):
            raise ValueError(f"warc compression must be gzip|none, got {comp}")
        self.gz = comp == "gzip"
        names = [f.name for f in schema.fields]
        if self.payload_col not in names:
            raise ValueError(
                f"warc sink needs a {self.payload_col!r} column "
                f"(option('payloadCol', ...) to rename); schema has {names}"
            )
        self.idx = {n: i for i, n in enumerate(names)}
        self._init_output(self.path, ".warc.gz" if self.gz else ".warc", overwrite)

    def _record(self, row, rownum: int, pid: int) -> bytes:
        payload = row[self.idx[self.payload_col]]
        if payload is None:
            payload = b""
        elif isinstance(payload, str):
            payload = payload.encode("utf-8")
        else:
            payload = bytes(payload)

        def col(name, default):
            i = self.idx.get(name)
            v = row[i] if i is not None else None
            return default if v is None else str(v)

        headers = [
            ("WARC-Type", col("warc_type", self.warc_type)),
            (
                "WARC-Record-ID",
                col("record_id", f"urn:esspark:{pid}:{rownum}"),
            ),
            ("WARC-Date", col("warc_date", _EPOCH_DATE)),
            ("Content-Type", col("content_type", "text/plain; charset=utf-8")),
            ("Content-Length", str(len(payload))),
        ]
        uri = col("target_uri", "")
        if uri:
            headers.insert(2, ("WARC-Target-URI", uri))
        buf = io.BytesIO()
        buf.write(b"WARC/1.0\r\n")
        for k, v in headers:
            # header values are line-structured: a CR/LF inside one would
            # desynchronize every downstream parser — fail the task
            if "\r" in v or "\n" in v:
                raise ValueError(f"newline in WARC header {k}: {v!r}")
            buf.write(f"{k}: {v}\r\n".encode("utf-8"))
        buf.write(_CRLF)
        buf.write(payload)
        buf.write(b"\r\n\r\n")
        return buf.getvalue()

    def write(self, iterator) -> FileCommitMessage:
        temp, pid = self._temp_file()
        n = 0
        with open(temp, "wb") as out:
            for row in iterator:
                rec = self._record(row, n, pid)
                if self.gz:
                    # one gzip member per record (the Common Crawl
                    # convention): records stay independently seekable
                    # and a downstream splitter can cut at member
                    # boundaries.  mtime=0 keeps re-runs byte-identical.
                    out.write(gzip.compress(rec, mtime=0))
                else:
                    out.write(rec)
                n += 1
        return FileCommitMessage(temp, n, pid)


def register_warc(spark) -> None:
    """Idempotently register the warc format on this session
    (files.register)."""
    register(spark, WarcDataSource)
