"""Streaming XLSX workbook writer — constant memory, zero temp files.

Each row is serialized into a reusable buffer and pushed straight into the
ZIP deflate stream (``zipfile.ZipFile.open(..., 'w')`` streams member
bytes without buffering the entry), reproducing the reference's
constant-memory write path (/root/reference/src/fast_writer/
zero_temp_workbook.rs:77-130) in idiomatic Python.  Capabilities:

- typed cells: str (inline string), int, float, bool, datetime/date
  (serial + date style), None (skipped), ``=...`` formula passthrough
  (never evaluated — parity with the reference's K3 semantics)
- per-row or per-cell styles from the fixed style table (ooxml.STYLE_*)
- multi-sheet, auto-split at the 1,048,576-row OOXML ceiling
- optional shared-strings table with a uniqueness cap (hybrid SST mode,
  cf. /root/reference/src/fast_writer/shared_strings.rs:9-96)
- sheet protection (legacy password hash)
- deflate level 0-9 (default 2, ``DEFAULT_COMPRESSION``: zlib's fast
  match loop, a third of level 6's deflate time for files 13-21% larger;
  level 6 is the reference's default and gives its smaller files)

This class is engine-agnostic on purpose: the Spark sink writes one part-
workbook per partition through it, and the driver-side HTTP helper writes
into an in-memory buffer through the same code.  Arrow data (every sink
and every DataFrame export) enters through ``write_arrow_batches``;
``write_row`` serves header rows and row sources.
"""

from __future__ import annotations

import datetime as dt
import io
import operator
import zipfile

from excelstream_spark.sources.xlsx import ooxml
from excelstream_spark.sources.xlsx.dates import datetime_to_serial
from excelstream_spark.sources.xlsx.reader_core import ExcelError

EXCEL_MAX_ROWS = 1_048_576

#: every member's modification time: the earliest a ZIP header can hold
ZIP_EPOCH = (1980, 1, 1, 0, 0, 0)

#: memoized column-letter byte strings — col_letter() is on the per-cell
#: hot path (profiled at ~16% of write time before caching)
_COL_BYTES: list[bytes] = [ooxml.col_letter(i).encode() for i in range(64)]


def _col_bytes(ci: int) -> bytes:
    while ci >= len(_COL_BYTES):
        _COL_BYTES.append(ooxml.col_letter(len(_COL_BYTES)).encode())
    return _COL_BYTES[ci]

#: SST uniqueness cap — beyond this, fall back to inline strings (bounded
#: memory like the reference's 100K cap, shared_strings.rs:21).
SST_UNIQUE_CAP = 100_000


class SharedStrings:
    """Hybrid shared-string table: dedup until the cap, inline after."""

    def __init__(self, cap: int = SST_UNIQUE_CAP):
        self.cap = cap
        self.strings: dict[str, int] = {}
        self.total_count = 0

    def index_for(self, s: str) -> int | None:
        self.total_count += 1
        idx = self.strings.get(s)
        if idx is not None:
            return idx
        if len(self.strings) >= self.cap:
            return None
        idx = len(self.strings)
        self.strings[s] = idx
        return idx

    def to_xml(self) -> str:
        items = "".join(
            f"<si><t xml:space=\"preserve\">{ooxml.esc(s)}</t></si>"
            for s in self.strings
        )
        return (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
            f'<sst xmlns="{ooxml.XLSX_NS}" count="{self.total_count}" '
            f'uniqueCount="{len(self.strings)}">{items}</sst>'
        )


#: the deflate level of every workbook the package writes unless the
#: ``compression`` option names another, and of its gzip csv bodies
#: (``http.dataframe_to_csv_bytes``): retuning it changes both
DEFAULT_COMPRESSION = 2


def compression_level(value) -> int:
    """The deflate level ``value`` names (an int or its text, 0 = stored
    to 9); raises ValueError naming the ``compression`` option otherwise."""
    try:
        level = int(value) if isinstance(value, str) else operator.index(value)
    except (TypeError, ValueError):
        level = -1
    if not 0 <= level <= 9:
        raise ValueError(
            f"xlsx option compression must be an integer 0-9, got {value!r}"
        )
    return level


class WorkbookWriter:
    """Streaming writer over any seekable-or-not binary file object."""

    def __init__(
        self,
        target: str | io.IOBase,
        compression: int = DEFAULT_COMPRESSION,
        use_shared_strings: bool = False,
        protect_password: str | None = None,
        col_widths: list[float] | None = None,
        row_height: float | None = None,
        max_rows_per_sheet: int = EXCEL_MAX_ROWS,
    ):
        compression = compression_level(compression)
        method = zipfile.ZIP_STORED if compression == 0 else zipfile.ZIP_DEFLATED
        self._zip = zipfile.ZipFile(
            target, "w", compression=method, compresslevel=compression or None
        )
        self._sst = SharedStrings() if use_shared_strings else None
        self._protect = protect_password
        max_rows_per_sheet = int(max_rows_per_sheet)
        if not 1 <= max_rows_per_sheet <= EXCEL_MAX_ROWS:
            raise ValueError(
                f"max_rows_per_sheet must be 1..{EXCEL_MAX_ROWS}, "
                f"got {max_rows_per_sheet}"
            )
        self._max_rows = max_rows_per_sheet
        #: header row re-emitted at the top of every auto-split sheet so
        #: each sheet stays self-describing (an allSheets read with
        #: header=true would otherwise swallow the first data row of
        #: every continuation sheet)
        self._split_header: list | None = None
        # real column-width / row-height support — the reference declares
        # these APIs but no-ops them (writer.rs:375-412, SURVEY K8); we
        # emit actual <cols> entries and ht= attributes.
        self._col_widths = list(col_widths) if col_widths else None
        self._row_height = row_height
        self._sheet_names: list[str] = []
        self._sheet_stream = None
        self._row_index = 0  # 1-based Excel row number of the NEXT row
        self._buf = bytearray()
        self._closed = False

    # -- sheet lifecycle ---------------------------------------------------

    def add_sheet(self, name: str | None = None) -> None:
        """Close the current worksheet (if any) and start a new one."""
        self._end_sheet()
        if name is None:
            name = f"Sheet{len(self._sheet_names) + 1}"
        if name in self._sheet_names:
            raise ValueError(f"duplicate sheet name: {name!r}")
        self._sheet_names.append(name)
        entry = f"xl/worksheets/sheet{len(self._sheet_names)}.xml"
        self._sheet_stream = self._zip.open(self._member(entry), "w")
        head = (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
            f'<worksheet xmlns="{ooxml.XLSX_NS}">'
        )
        if self._col_widths:
            cols = "".join(
                f'<col min="{i + 1}" max="{i + 1}" width="{w:g}" customWidth="1"/>'
                for i, w in enumerate(self._col_widths)
                if w is not None
            )
            head += f"<cols>{cols}</cols>"
        head += "<sheetData>"
        self._sheet_stream.write(head.encode())
        self._row_index = 1

    def _end_sheet(self) -> None:
        if self._sheet_stream is None:
            return
        tail = "</sheetData>"
        if self._protect:
            tail += (
                f'<sheetProtection password="{ooxml.password_hash(self._protect)}" '
                'sheet="1" objects="1" scenarios="1"/>'
            )
        tail += "</worksheet>"
        self._sheet_stream.write(tail.encode())
        self._sheet_stream.close()
        self._sheet_stream = None

    # -- row writing -------------------------------------------------------

    def write_row(self, values, styles=None, height: float | None = None) -> None:
        """Append one row of typed Python values.

        ``styles``: None, a single style index/name applied to every cell,
        or a per-cell list.  ``height``: row height in points (overrides
        the writer-level default).
        """
        if self._sheet_stream is None:
            self.add_sheet()
        if self._row_index > self._max_rows:
            self.advance_sheet_for_split()

        buf = self._buf
        buf.clear()
        r = self._row_index
        if height is None:
            height = self._row_height
        if height is not None:
            buf += b'<row r="%d" ht="%s" customHeight="1">' % (
                r, f"{height:g}".encode(),
            )
        else:
            buf += b'<row r="%d">' % r
        if isinstance(styles, (int, str)):
            styles = [styles] * len(values)
        for ci, value in enumerate(values):
            if value is None:
                # explicit empty cell (valid OOXML) instead of a gap: keeps
                # every row rectangular so the columnar batch scanner
                # (batch_scan.py) never falls back on null-bearing data
                buf += b'<c r="%s%d"/>' % (_col_bytes(ci), r)
                continue
            style = styles[ci] if styles is not None and ci < len(styles) else None
            self._cell_xml(buf, r, ci, value, style)
        buf += b"</row>"
        self._sheet_stream.write(bytes(buf))
        self._row_index += 1

    def advance_sheet_for_split(self) -> None:
        """Roll to the next auto-split sheet, re-emitting the header row so
        each sheet stays self-describing."""
        self.add_sheet()
        if self._split_header is not None:
            self.write_row(list(self._split_header), styles=ooxml.STYLE_HEADER)
            if self._row_index > self._max_rows:
                # the header alone fills the sheet: no data row can ever be
                # placed — error out instead of spinning up empty sheets
                raise ValueError(
                    f"maxRowsPerSheet={self._max_rows} leaves no room for "
                    "data rows after the re-emitted header; use >= 2"
                )

    # -- columnar path (batch_write.py) ------------------------------------

    @property
    def next_row_index(self) -> int:
        """1-based Excel row number the next written row will get."""
        if self._sheet_stream is None:
            self.add_sheet()
        return self._row_index

    def rows_remaining(self) -> int:
        """Rows the current sheet can still take before auto-split."""
        if self._sheet_stream is None:
            self.add_sheet()
        return self._max_rows - self._row_index + 1

    def write_rows_xml(self, xml: bytes, n_rows: int) -> None:
        """Append ``n_rows`` pre-serialized ``<row>`` elements (produced by
        batch_write.batch_to_rows_xml with ``start_row=next_row_index``).
        Caller must respect rows_remaining() / advance_sheet_for_split()."""
        if self._sheet_stream is None:
            self.add_sheet()
        if n_rows > self.rows_remaining():
            raise ValueError("write_rows_xml exceeds sheet capacity")
        self._sheet_stream.write(xml)
        self._row_index += n_rows

    def write_arrow_batches(self, batches, schema, col_styles=None) -> int:
        """Append Arrow RecordBatches of any ``schema`` through
        batch_write.batch_to_rows_xml, slicing each batch at the auto-split
        sheet boundary and sharing this writer's string table — the same
        rows, sheets, shared strings and bytes as write_row per row of the
        Rows pyspark converts the batches to, timestamps written as wall
        clocks (batch_write.py).  Returns the number of rows written."""
        from excelstream_spark.sources.xlsx.batch_write import batch_to_rows_xml

        n = 0
        for batch in batches:
            offset = 0
            while offset < batch.num_rows:
                if self.rows_remaining() <= 0:
                    self.advance_sheet_for_split()
                take = min(self.rows_remaining(), batch.num_rows - offset)
                xml = batch_to_rows_xml(
                    batch.slice(offset, take),
                    schema,
                    self._row_index,
                    col_styles=col_styles,
                    row_height=self._row_height,
                    sst=self._sst,
                )
                self.write_rows_xml(xml, take)
                offset += take
                n += take
        return n

    def write_header(self, names) -> None:
        """Bold header row (reference K4 ``write_header_bold``); repeated
        automatically at the top of every auto-split continuation sheet."""
        names = [str(n) for n in names]
        self._split_header = names
        self.write_row(names, styles=ooxml.STYLE_HEADER)

    def _cell_xml(self, buf: bytearray, row: int, ci: int, value, style) -> None:
        ref = _col_bytes(ci) + b"%d" % row
        if isinstance(style, str):
            style = ooxml.STYLE_NAMES[style]
        s_attr = b' s="%d"' % style if style else b""

        if isinstance(value, ExcelError):  # before str: ExcelError subclasses str
            buf += b'<c r="%s"%s t="e"><v>%s</v></c>' % (
                ref, s_attr, ooxml.esc(str(value)).encode(),
            )
        elif isinstance(value, bool):  # before int: bool is an int subclass
            buf += b'<c r="%s"%s t="b"><v>%s</v></c>' % (
                ref, s_attr, b"1" if value else b"0",
            )
        elif isinstance(value, int):
            buf += b'<c r="%s"%s><v>%d</v></c>' % (ref, s_attr, value)
        elif isinstance(value, float):
            buf += b'<c r="%s"%s><v>%s</v></c>' % (ref, s_attr, repr(value).encode())
        elif isinstance(value, (dt.datetime, dt.date)):
            serial = datetime_to_serial(value)
            if style is None:
                style = (
                    ooxml.STYLE_DATE
                    if not isinstance(value, dt.datetime)
                    or (value.hour, value.minute, value.second, value.microsecond)
                    == (0, 0, 0, 0)
                    else ooxml.STYLE_DATETIME
                )
            buf += b'<c r="%s" s="%d"><v>%s</v></c>' % (ref, style, repr(serial).encode())
        elif isinstance(value, str):
            if value.startswith("="):  # formula passthrough, never evaluated
                buf += b'<c r="%s"%s><f>%s</f></c>' % (
                    ref, s_attr, ooxml.esc(value[1:]).encode(),
                )
            else:
                sst_idx = self._sst.index_for(value) if self._sst else None
                if sst_idx is not None:
                    buf += b'<c r="%s"%s t="s"><v>%d</v></c>' % (ref, s_attr, sst_idx)
                else:
                    buf += (
                        b'<c r="%s"%s t="inlineStr"><is><t xml:space="preserve">%s'
                        b"</t></is></c>" % (ref, s_attr, ooxml.esc(value).encode())
                    )
        else:  # fall back to string form (Decimal, numpy scalars, ...)
            self._cell_xml(buf, row, ci, str(value), style)

    # -- finalize ----------------------------------------------------------

    def _member(self, name: str) -> zipfile.ZipInfo:
        """Header for one archive member: the archive's deflate settings (a
        bare ZipInfo would default to ZIP_STORED) and a fixed timestamp,
        so the same rows give the same workbook bytes whenever written."""
        info = zipfile.ZipInfo(name, date_time=ZIP_EPOCH)
        info.compress_type = self._zip.compression
        info._compresslevel = self._zip.compresslevel  # as ZipFile.open(name) sets it
        return info

    def close(self) -> None:
        """Emit workbook scaffolding and finalize the ZIP (reference K6)."""
        if self._closed:
            return
        if not self._sheet_names:
            self.add_sheet()
        self._end_sheet()
        n = len(self._sheet_names)
        members = {
            "[Content_Types].xml": ooxml.content_types_xml(n),
            "_rels/.rels": ooxml.PACKAGE_RELS_XML,
            "xl/workbook.xml": ooxml.workbook_xml(self._sheet_names),
            "xl/_rels/workbook.xml.rels": ooxml.workbook_rels_xml(n),
            "xl/styles.xml": ooxml.STYLES_XML,
            "xl/sharedStrings.xml": (
                self._sst.to_xml() if self._sst else ooxml.EMPTY_SST_XML
            ),
            "docProps/app.xml": ooxml.APP_XML,
            "docProps/core.xml": ooxml.CORE_XML,
        }
        for name, data in members.items():
            self._zip.writestr(self._member(name), data)
        self._zip.close()
        self._closed = True

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        if exc[0] is None:
            self.close()
        else:  # error: close zip handle without claiming a valid workbook
            try:
                if self._sheet_stream is not None:
                    self._sheet_stream.close()
            finally:
                self._zip.close()
