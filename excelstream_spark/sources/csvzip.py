"""ZIP-wrapped CSV ingest — reference parity for ``.csv.zip``.

The reference's CsvReader auto-detects ``.csv.zip`` archives, opens the
ZIP, picks the FIRST ``.csv`` entry (or the first entry if none is named
``*.csv``) and streams its rows (src/csv_reader.rs:83-138).  Spark's
built-in CSV source handles gzip/zstd transparently but has no ZIP
codec, so this module fills exactly that gap:

* ``binaryFile`` scan — one row per archive, distributed per-file (a ZIP
  is not splittable in ANY engine; parallelism comes from having many
  archives, which is how zip-wrapped exports arrive in practice);
* Arrow-batched ``mapInPandas`` extracts the entry IN MEMORY and emits
  raw text lines (header dropped per-archive when declared);
* Spark's own JVM ``from_csv`` expression parses every line into the
  declared schema — delimiter/quote/null handling stay bit-identical to
  ``spark.read.csv`` instead of re-implementing CSV typing in Python.

Records with QUOTED EMBEDDED NEWLINES are reassembled by a quote-aware
record splitter (RFC-4180 doubled-quote escaping keeps quote parity
even, so an odd running count of quote chars means the record continues
on the next physical line) — this EXCEEDS the reference, whose
line-buffered reader splits such records (src/csv_reader.rs:197-252).
Backslash-escaped quotes (a non-RFC dialect) are out of scope.  At
100 TB ZIP remains the wrong container regardless: not splittable,
central-directory-at-EOF, single-stream inflate.
"""

from __future__ import annotations

import io
import zipfile
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

if TYPE_CHECKING:
    import pandas as pd

_LINES_PER_BATCH = 10_000


def _pick_entry(names: list[str]) -> str | None:
    """Reference entry-selection: first ``*.csv`` member, else the first
    member (src/csv_reader.rs:96-104) — applied to DATA members only.
    ``namelist()`` also returns directory entries and macOS resource-fork
    metadata (``__MACOSX/._data.csv`` ends in ``.csv``!); selecting one
    of those would feed AppleDouble bytes into ``from_csv`` as null rows.
    """
    data = [
        n
        for n in names
        if not n.endswith("/")
        and not n.startswith("__MACOSX/")
        and not n.rsplit("/", 1)[-1].startswith("._")
    ]
    for n in data:
        if n.endswith(".csv"):
            return n
    return data[0] if data else None


def _split_records(text: str, quote: str) -> list[str]:
    """Split CSV text into RECORDS, not physical lines: a newline inside
    an open quoted field does not terminate the record.  Tracks the
    running parity of quote characters per record — RFC-4180 escaping
    doubles the quote (``""``), which adds 2 and preserves parity, so an
    odd count means "inside a quoted field, keep accumulating".  A
    record-terminating ``\\r`` (from CRLF endings) is stripped; ``\\r\\n``
    sequences INSIDE a quoted field are data and kept verbatim.
    """
    if not quote or quote not in text:
        return text.splitlines()
    import re

    # alternating [content, terminator, content, terminator, ...] —
    # recognizing all three physical line endings (\r\n, \n, bare \r,
    # exactly like splitlines() on the quote-free fast path) while
    # keeping the terminator TEXT so endings inside an open quoted
    # field survive verbatim as data
    parts = re.split("(\r\n|\n|\r)", text)
    records: list[str] = []
    buf: list[str] = []
    open_q = 0
    for i in range(0, len(parts), 2):
        chunk = parts[i]
        term = parts[i + 1] if i + 1 < len(parts) else ""
        open_q ^= chunk.count(quote) & 1
        buf.append(chunk)
        if open_q:
            buf.append(term)  # ending inside a quoted field is data
        elif term or chunk or i + 1 < len(parts):
            records.append("".join(buf))
            buf = []
    if buf and (joined := "".join(buf)):
        # unterminated quote at EOF — emit as-is, the parser decides
        records.append(joined)
    # drop the empty artifact of a trailing final newline (splitlines()
    # compatibility); interior blank lines remain records
    if records and records[-1] == "" and text.endswith(("\n", "\r")):
        records.pop()
    return records


def read_csv_zip(
    spark: SparkSession,
    path: str,
    schema: str,
    header: bool = False,
    delimiter: str = ",",
    quote: str = '"',
) -> DataFrame:
    """Read ``.csv.zip`` archives at ``path`` (file, directory or glob)
    into a typed DataFrame.

    ``schema`` is a DDL string (``"a int, b string"``) — required, like
    the built-in CSV reader with inference disabled; ``header=True``
    drops the first line of each archive's entry.

    Only ``*.zip`` files are read (the reference's extension-based
    auto-detect): real directories carry ``_SUCCESS`` markers, checksum
    files and plain CSVs next to the archives, and feeding those to the
    ZIP parser would fail the whole job.
    """
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.zip")
        .load(path)
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # imported here, not at module top: every Python worker that
        # unpickles the xlsx source imports this package, and only this
        # closure needs pandas
        import pandas as pd

        for pdf in batches:
            for content in pdf["content"]:
                with zipfile.ZipFile(io.BytesIO(bytes(content))) as z:
                    entry = _pick_entry(z.namelist())
                    if entry is None:
                        continue
                    text = z.read(entry).decode("utf-8")
                lines = _split_records(text, quote)
                if header and lines:
                    lines = lines[1:]
                for i in range(0, len(lines), _LINES_PER_BATCH):
                    yield pd.DataFrame(
                        {"line": lines[i : i + _LINES_PER_BATCH]}
                    )

    lines = raw.select("content").mapInPandas(extract, "line string")
    parsed = lines.select(
        F.from_csv(
            F.col("line"),
            schema,
            {"delimiter": delimiter, "quote": quote},
        ).alias("r")
    )
    return parsed.select("r.*")
