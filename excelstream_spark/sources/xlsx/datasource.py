"""Spark Python Data Source for XLSX: ``format("xlsx")`` read and write.

Read path (reference S1-S5 semantics, Spark-shaped):
  schema() on the driver samples the first file/sheet (SST + first
  ``samplingRows`` rows); partitions() yields one partition per
  (file, sheet) — a worksheet is one deflate stream and cannot be split
  mid-sheet (same constraint the reference has, streaming_reader.rs:18),
  so parallelism comes from many files / many sheets.  A directory of
  part-workbooks written by this sink is therefore read fully in parallel.

Path listing, stream offsets, how a sink publishes, registration and
the unknown-option warning are the file-source core's (files.py), shared
with the warc source.

Write path (reference K1-K8): each partition streams one part-workbook
with constant memory into a hidden temp, and the job's commit renames
every temp to ``part-NNNNN-<job8>.xlsx`` (one job id per write), so a
retried or speculative task publishes once.  An overwrite removes the
previous parts at that commit, so a failed overwrite keeps the old
output readable.
The batch and the stream sink are Arrow writers: every column type and
every option goes through the one columnar encoder (batch_write.py).
``singleFile=true`` + a single partition (coalesce(1)) emits exactly the
target path as one workbook — the Excel-openable mode; its commit renames
the temp over the target, so the path only ever holds a whole workbook.

Options (read):  path (a file, directory or glob, listed by
  files.input_files; ``load([a, b])`` reads every path, and the schema
  comes from the first file), sheetName | sheetIndex | allSheets (default
  false — one partition per sheet of every file), header (default true),
  inferSchema (default true), samplingRows (default 200),
  sheetSchemaMode (realign | union | strict, default realign — policy
  for sheets whose headers don't match the schema: realign by name when
  fully resolvable, union-by-name with null-fill + widened inference,
  or fail fast; see reader_core.resolve_header_remap),
  columns ("a,b" — prune the scan to the named columns; Spark 4.1's
  Python DS API has no pruneColumns hook, so pruning is an explicit
  option), limitRows (N — each partition stops scanning after N data
  rows; an early stop for df.limit(N), which Spark still applies),
  maxFileAgeSec (stream reads).
  Readable column types: bigint, int, smallint, tinyint, double, float,
  boolean, string, date, timestamp, timestamp_ntz, binary; any other
  declared type fails on the driver.  A cell holds a wall clock: a
  declared timestamp column reads it in the session zone, and the sinks
  write each timestamp as the session zone's wall clock (dates.py).
  Every read goes through the columnar scanner (batch_scan.py); Spark
  applies filters after the scan.

The source also implements a STREAM reader: ``spark.readStream
.format("xlsx")`` watches a directory and processes each new workbook
exactly once (files.FileStreamReader: offsets = the processed-file set,
checkpointed; bound them with maxFileAgeSec), and a STREAM writer:
``df.writeStream.format("xlsx")`` lands each micro-batch as deterministic
``batch-<id>-part-<pid>.xlsx`` workbooks, renamed from hidden temps at
the batch's commit under the same protocol (idempotent on replay).  Note Spark's PythonMicroBatchStream executes availableNow as a single batch
per run — incremental pickup across restarts is exact either way.

Options (write): sheetName, header (default true), compression (0-9,
  default 2; 6 gives the smaller, slower files of the reference's
  default), useSharedStrings (string cells reference a deduplicated
  table, up to 100,000 distinct strings; later ones are written inline),
  sheetProtectPassword, singleFile,
  maxRowsPerSheet (default 1,048,576 -> auto-split),
  columnWidths ("20,12,8" positional, blank to skip a column),
  rowHeight (points) — widths/heights actually emitted, unlike the
  reference's no-op stubs (writer.rs:375-412),
  columnStyles ("currency,,percent" positional style names from the
  fixed style table — reference K4 write_row_styled semantics)
Any other option key is ignored with a UserWarning naming it.
"""

from __future__ import annotations

import itertools
import os
import re
import warnings

from pyspark.sql.datasource import (
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    InputPartition,
)
from pyspark.sql import types as T

from excelstream_spark.sources.files import (
    FileCommitMessage,
    FileDataSource,
    PartFileWriter,
    input_files,
    local_path,
    register,
)
from excelstream_spark.sources.xlsx.dates import instants, session_zone
from excelstream_spark.sources.xlsx.reader_core import (
    WorkbookReader,
    infer_schema,
    merge_schemas,
    resolve_header_remap,
    rows_to_batch,
)
from excelstream_spark.sources.xlsx.writer_core import (
    DEFAULT_COMPRESSION,
    EXCEL_MAX_ROWS,
    WorkbookWriter,
    compression_level,
)

def _truthy(value: str | bool | None, default: bool = False) -> bool:
    if value is None:
        return default
    if isinstance(value, bool):
        return value
    return str(value).strip().lower() in ("1", "true", "yes", "y")


def _prune_schema(schema: T.StructType, columns: str | None) -> T.StructType:
    """column-pruned scan via option("columns", "a,b"): only the named
    columns survive inference, in the requested order, and the scan never
    converts the others.  Spark 4.1's Python Data Source API has no
    pruneColumns/pushLimit hooks (only pushFilters), so pruning and limit
    are explicit options rather than planner-driven — the xlsx analogue
    of parquet ReadSchema pruning (SURVEY §4 niceties a/b)."""
    if not columns:
        return schema
    want = [c.strip() for c in columns.split(",") if c.strip()]
    by_name = {f.name: f for f in schema.fields}
    missing = [c for c in want if c not in by_name]
    if missing:
        raise ValueError(
            f"columns option names unknown columns {missing}; "
            f"available: {[f.name for f in schema.fields]}"
        )
    return T.StructType([by_name[c] for c in want])


_POSITIONAL_NAME_RE = re.compile(r"_c(\d+)")


def _positional_remap(schema: T.StructType) -> list[int | None] | None:
    """For headerless pruned reads the schema names are the inferred
    ``_cN`` positionals — recover each field's source column index from
    its name (no header row exists to realign by)."""
    idx: list[int | None] = []
    for f in schema.fields:
        m = _POSITIONAL_NAME_RE.fullmatch(f.name)
        if not m:
            return None
        idx.append(int(m.group(1)))
    return idx if idx != list(range(len(idx))) else None


class XlsxPartition(InputPartition):
    def __init__(self, file: str, sheet: str):
        self.file = file
        self.sheet = sheet


class XlsxDataSource(FileDataSource):
    OPTIONS = frozenset({
        "path", "sheetName", "sheetIndex", "allSheets", "header",
        "inferSchema", "samplingRows", "sheetSchemaMode", "columns",
        "limitRows", "maxFileAgeSec", "compression", "useSharedStrings",
        "sheetProtectPassword", "singleFile", "maxRowsPerSheet",
        "columnWidths", "rowHeight", "columnStyles",
    })

    @classmethod
    def name(cls) -> str:
        return "xlsx"

    def schema(self):
        files = input_files(self.options, XlsxReader.patterns)
        n_sample = int(self.options.get("samplingrows", 200))
        header = _truthy(self.options.get("header"), True)
        infer = _truthy(self.options.get("inferschema"), True)
        mode = self.options.get("sheetschemamode", "realign").lower()
        all_sheets = _truthy(self.options.get("allsheets"), False)

        def sample_sheet(wb, s):
            sample = []
            for row in wb.iter_rows(s):
                sample.append(row)
                if len(sample) >= n_sample:
                    break
            return infer_schema(sample, header=header, infer_types=infer)

        with WorkbookReader(files[0]) as wb:
            if all_sheets and mode == "union":
                # union-by-name across the FIRST file's sheets (driver-side
                # inference stays O(one file); later files realign by
                # header at read time)
                schema = merge_schemas(
                    [sample_sheet(wb, s) for s in wb.sheet_names()]
                )
            else:
                schema = sample_sheet(wb, self._pick_sheet(wb))
        return _prune_schema(schema, self.options.get("columns"))

    def _pick_sheet(self, wb: WorkbookReader) -> str:
        name = self.options.get("sheetname")
        if name:
            return name
        idx = self.options.get("sheetindex")
        return wb.sheet_names()[int(idx) if idx else 0]

    def reader(self, schema: T.StructType) -> "XlsxReader":
        return XlsxReader(schema, self.options)

    def streamWriter(self, schema: T.StructType, overwrite: bool) -> "XlsxStreamWriter":
        return XlsxStreamWriter(schema, self.options, truncate=overwrite)

    def writer(self, schema: T.StructType, overwrite: bool) -> "XlsxWriter":
        return XlsxWriter(schema, self.options, overwrite)


class XlsxReader(DataSourceReader):
    patterns = ("*.xlsx",)

    def __init__(self, schema: T.StructType, options):
        from excelstream_spark.sources.xlsx.batch_scan import to_arrow_schema

        # built here, on the driver, so an unreadable declared column type
        # fails the query before any task runs
        self.pa_schema = to_arrow_schema(schema)
        self.schema_ = schema
        self.options = options
        self.mode = options.get("sheetschemamode", "realign").lower()
        self.header = _truthy(options.get("header"), True)
        self.sheet_name = options.get("sheetname")
        self.sheet_index = options.get("sheetindex")
        self.all_sheets = _truthy(options.get("allsheets"), False)
        lim = options.get("limitrows")
        #: per-partition row cap (option("limitRows", N)): each partition
        #: stops SCANNING after N data rows — a sound upper bound for
        #: df.limit(N), which Spark still applies exactly post-scan
        self.limit = int(lim) if lim is not None else None
        #: with columns-pruned headerless reads, field names are _cN
        #: positionals; recover source indices from them
        self._init_remap = (
            _positional_remap(schema) if options.get("columns") and not self.header
            else None
        )

    def partitions(self):
        return self._partitions(input_files(self.options, self.patterns))

    def _partitions(self, files: list[str]) -> list[XlsxPartition]:
        """One partition per (file, sheet): the named sheet, every sheet
        with allSheets, else the sheetIndex-th (default first) sheet."""
        parts = []
        for f in files:
            if self.sheet_name:
                names = [self.sheet_name]
            else:
                with WorkbookReader(f) as wb:
                    names = wb.sheet_names()
                if not self.all_sheets:
                    names = [names[int(self.sheet_index) if self.sheet_index else 0]]
            parts.extend(XlsxPartition(f, s) for s in names)
        return parts

    def read(self, partition: XlsxPartition):
        """Yields pyarrow RecordBatches, a declared ``timestamp`` column's
        wall clocks read in the session zone (dates.instants)."""
        zone = session_zone()
        for batch in self._read_batches(partition):
            yield instants(batch, zone)

    def _read_batches(self, partition: XlsxPartition):
        """The columnar scanner's batches (batch_scan.py, ~4x the row
        reader).  When the scanner fails before its first batch, or finds
        no rows where the row reader finds some (e.g. a namespace-prefixed
        worksheet), the row reader's rows are served and a RuntimeWarning
        names the file, sheet and cause.  On either path ``limitRows``
        counts scanned data rows."""
        from excelstream_spark.sources.xlsx.batch_scan import BatchSheetReader

        cause = None
        yielded = False
        try:
            with WorkbookReader(partition.file) as wb:
                reader = BatchSheetReader(
                    wb, partition.sheet, self.schema_, self.header,
                    schema_mode=self.mode, limit=self.limit,
                    init_remap=self._init_remap,
                )
                for batch in reader.batches():
                    yielded = True
                    yield batch
            if yielded:
                return
            cause = "found no rows"
        except Exception as e:
            if yielded:
                raise
            _warn_fallback(partition, f"failed before its first batch: {e!r}")
        for batch in self._read_rows(partition):
            if cause is not None:
                _warn_fallback(partition, cause)
                cause = None
            yield batch

    def _read_rows(self, partition: XlsxPartition):
        """The row reader: ``iter_rows`` typed rows, realigned and coerced
        by ``rows_to_batch`` in batches of up to 4,096 rows, stopping after
        ``limitRows`` scanned data rows."""
        with WorkbookReader(partition.file) as wb:
            rows = wb.iter_rows(partition.sheet)
            remap = self._init_remap
            if self.header:
                head = next(rows, None)
                if head is None:
                    return
                # realign THIS sheet's columns to the global schema by
                # header name — sheets/files whose column order differs
                # from the schema-inference sheet would otherwise be
                # coerced positionally and silently mis-typed (policy
                # per sheetSchemaMode; see resolve_header_remap)
                remap = resolve_header_remap(head, self.schema_, self.mode)
            rows = itertools.islice(rows, self.limit)  # None: no cap
            while chunk := list(itertools.islice(rows, 4096)):
                yield rows_to_batch(chunk, self.schema_, self.pa_schema, remap)


def _warn_fallback(partition: XlsxPartition, cause: str) -> None:
    warnings.warn(
        f"xlsx batch scanner {cause} on {partition.file!r} sheet "
        f"{partition.sheet!r}; serving the row reader's rows (~4x slower)",
        RuntimeWarning,
        stacklevel=2,
    )


class _XlsxWriteOptions:
    """Write-option parsing + workbook encoding shared by the batch and
    the streaming sink, so both honor the same documented option set."""

    def _init_write_options(self, schema: T.StructType, options) -> None:
        self.schema_ = schema
        self.options = options
        self.path = options.get("path")
        if self.path is None:
            raise ValueError("xlsx sink requires a path")
        self.path = local_path(self.path)
        self.header = _truthy(options.get("header"), True)
        self.sheet_name = options.get("sheetname", "Sheet1")
        # checked here, on the driver, so a bad level fails before any task
        self.compression = compression_level(
            options.get("compression", DEFAULT_COMPRESSION)
        )
        self.use_sst = _truthy(options.get("usesharedstrings"), False)
        self.protect = options.get("sheetprotectpassword")
        self.max_rows_per_sheet = int(
            options.get("maxrowspersheet", EXCEL_MAX_ROWS)
        )
        # real width/height support (reference K8 declares-but-no-ops these)
        cw = options.get("columnwidths")
        self.col_widths = (
            [float(w) if w.strip() else None for w in cw.split(",")] if cw else None
        )
        rh = options.get("rowheight")
        self.row_height = float(rh) if rh else None
        # per-column cell styles by name (reference K4 write_row_styled):
        # option("columnStyles", "currency,,percent") — blank = default
        cs = options.get("columnstyles")
        if cs:
            from excelstream_spark.sources.xlsx import ooxml

            self.col_styles = []
            for s in cs.split(","):
                s = s.strip().lower()
                if s and s not in ooxml.STYLE_NAMES:
                    raise ValueError(
                        f"unknown columnStyles entry {s!r}; valid: "
                        f"{sorted(ooxml.STYLE_NAMES)}"
                    )
                self.col_styles.append(ooxml.STYLE_NAMES[s] if s else None)
        else:
            self.col_styles = None

    def _write_workbook(self, target: str, batches) -> int:
        """One workbook at ``target`` from Spark's Arrow batches, through
        the columnar encoder (batch_write.py); returns the rows written."""
        with WorkbookWriter(
            target,
            compression=self.compression,
            use_shared_strings=self.use_sst,
            protect_password=self.protect,
            col_widths=self.col_widths,
            row_height=self.row_height,
            max_rows_per_sheet=self.max_rows_per_sheet,
        ) as wb:
            wb.add_sheet(self.sheet_name)
            if self.header:
                wb.write_header([f.name for f in self.schema_.fields])
            return wb.write_arrow_batches(batches, self.schema_, self.col_styles)


class XlsxWriter(_XlsxWriteOptions, PartFileWriter, DataSourceArrowWriter):
    """Batch sink: Spark ships Arrow RecordBatches to the worker (no
    per-row pickling) and each task streams them into one part-workbook,
    published by files.PartFileWriter; singleFile publishes the one task's
    workbook as the target path itself.  maxRowsPerSheet auto-splits by
    slicing batches at the sheet boundary."""

    patterns = XlsxReader.patterns

    def __init__(self, schema: T.StructType, options, overwrite: bool):
        self._init_write_options(schema, options)
        self._init_output(
            self.path, ".xlsx", overwrite, _truthy(options.get("singlefile"), False)
        )

    def write(self, iterator) -> FileCommitMessage:
        temp, pid = self._temp_file()
        if self.single_file and pid != 0:
            raise ValueError(
                "singleFile=true requires exactly one partition — "
                "coalesce(1) / repartition(1) before writing"
            )
        return FileCommitMessage(temp, self._write_workbook(temp, iterator), pid)


class XlsxStreamWriter(_XlsxWriteOptions, PartFileWriter, DataSourceStreamArrowWriter):
    """Micro-batch xlsx sink: ``writeStream.format("xlsx")``.

    Each task streams its partition into a temp workbook and
    ``commit(messages, batchId)`` renames them to deterministic
    ``batch-<batchId>-part-<pid>.xlsx`` names (files.PartFileWriter's
    temps, rename and sweep).  pyspark builds a new stream writer for each
    commit, so the job id is the fixed ``stream``: every commit sweeps
    the temps any earlier attempt or crashed batch left.  Deterministic
    names make a REPLAYED commit (crash between sink commit and checkpoint
    write) overwrite its own files instead of duplicating rows — the same
    idempotence the built-in file sink gets from its metadata log,
    without requiring readers to consult one.

    The batch directory composes with the batch/streaming readers: the
    whole output stays one parallel-readable workbook directory.

    Complete/truncate output mode (Spark passes ``overwrite=True`` to
    streamWriter): commit() clears ALL earlier batches so the directory
    always holds exactly the latest complete result.

    Checkpoint coupling (same as the built-in file sink): batch ids come
    from the query's checkpoint, so restarting with a FRESH checkpoint
    restarts numbering at 0 and overwrites earlier output — pair a new
    checkpoint with a new output directory.
    """

    def __init__(self, schema: T.StructType, options, truncate: bool = False):
        self._init_write_options(schema, options)
        self.truncate = truncate
        self._init_output(self.path, ".xlsx", job="stream")

    def write(self, iterator) -> FileCommitMessage:
        temp, pid = self._temp_file()
        n = self._write_workbook(temp, iterator)
        # an empty partition publishes no part; commit sweeps its temp
        return FileCommitMessage(temp if n else "", n, pid)

    def commit(self, messages, batchId: int) -> None:
        # replay hygiene: a replayed batch may produce FEWER partitions
        # than the crashed attempt published — clear this batch's prior
        # parts so orphans cannot duplicate rows; complete mode clears
        # every batch, so the output is this batch only
        prefix = "batch-" if self.truncate else f"batch-{batchId:08d}-part-"
        self._publish(
            messages,
            lambda pid: os.path.join(self.path, f"batch-{batchId:08d}-part-{pid:05d}.xlsx"),
            self._glob(prefix + "*.xlsx"),
        )

    def abort(self, messages, batchId: int) -> None:
        self._remove_temps()


def register_xlsx(spark) -> None:
    """Idempotently register the xlsx format on this session
    (files.register)."""
    register(spark, XlsxDataSource)
