"""Excel serial-date semantics, including the 1900 leap-year bug.

Excel stores dates/times as fractional days since its 1900 epoch where
serial 1.0 == 1900-01-01, and (for Lotus 1-2-3 compatibility) pretends
1900-02-29 existed (serial 60).  Hence for serial >= 61 the true date is
``1899-12-30 + serial`` days; for serial <= 59 it is ``1899-12-31 +
serial`` days; serial 60 itself renders as 1900-02-28 (matching the
reference implementation, see /root/reference/src/streaming_reader.rs:37-127
`parse_excel_date`).

Both Python-side converters (used per-cell inside the xlsx reader/writer)
and Spark column expressions (for bulk conversion of already-loaded serial
columns) are provided.  Unlike the reference, which formats to strings and
rounds to whole seconds, we keep native timestamps at microsecond
precision — the reference's behavior is a floor, not a spec (SURVEY.md
§1.2).

The one timestamp rule.  A serial carries no zone, so a cell holds a
wall clock, and the package reads and writes every wall clock in the
Spark session's time zone (``spark.sql.session.timeZone``).  This module
is the only place that converts between instants and wall clocks:

- ``wall_clock`` (every renderer: sink cells, nested-value text, HTTP
  csv and xlsx bodies, ``write_sheets``) maps a timestamp column, top
  level or nested in structs, lists and maps, to naive wall clocks in
  the zone its Arrow type names.  The sink's batches arrive labelled
  with the session zone; driver-side Arrow data (UTC-labelled by
  pyspark) is relabelled with it first (``in_session_zone``).
- ``instants`` (the reader) maps the wall clocks read for a declared
  ``timestamp`` column back to instants in the session zone, by the rule
  of Spark's ``CAST(timestamp_ntz AS timestamp)``: a wall clock in the
  fall-back hour takes the earlier offset, and one inside a
  spring-forward gap moves later by the gap's length.
"""

from __future__ import annotations

import datetime as dt
import os
import re

from pyspark import TaskContext
from pyspark.sql import Column
from pyspark.sql import functions as F

#: Excel's maximum serial: 9999-12-31.
MAX_SERIAL = 2958465.999

#: days from 1899-12-30 (the bug-absorbing epoch) to 1970-01-01, and
#: microseconds per day — shared by the columnar read (batch_scan) and
#: write (batch_write) serial arithmetic so the epoch lives in ONE place
EPOCH_1970_SERIAL = 25569
US_PER_DAY = 86_400_000_000

_EPOCH_GE60 = dt.date(1899, 12, 30)  # serial >= 60: epoch absorbs the bug
_EPOCH_LT60 = dt.date(1899, 12, 31)  # serial < 60: true 1900 calendar


def serial_to_datetime(serial: float) -> dt.datetime | None:
    """Serial number -> naive datetime (microsecond precision).
    Out-of-range serials return None (caller falls back to raw number)."""
    if not (1.0 <= serial <= MAX_SERIAL):
        return None
    days = int(serial)
    frac = serial - days
    epoch = _EPOCH_GE60 if days >= 60 else _EPOCH_LT60
    if days == 60:  # fictitious 1900-02-29 -> renders as 02-28 (ref behavior)
        days = 59
        epoch = _EPOCH_LT60
    date = epoch + dt.timedelta(days=days)
    micros = round(frac * 86400.0 * 1e6)
    return dt.datetime(date.year, date.month, date.day) + dt.timedelta(
        microseconds=micros
    )


def datetime_to_serial(value: dt.datetime | dt.date) -> float:
    """Datetime/date -> Excel serial (inverse of serial_to_datetime for
    dates >= 1900-03-01; pre-bug dates map onto the <60 range)."""
    if isinstance(value, dt.datetime):
        date, time = value.date(), value.time()
    else:
        date, time = value, dt.time()
    days = (date - _EPOCH_GE60).days
    if days < 61:  # before 1900-03-01: shift into the bug-free low range
        days -= 1
    frac = (time.hour * 3600 + time.minute * 60 + time.second) / 86400.0 + (
        time.microsecond / 86400.0 / 1e6
    )
    return days + frac


def excel_serial_to_timestamp(col) -> Column:
    """Bulk column conversion: serial double -> timestamp.

    Implemented as pure timestamp arithmetic (codegen'd):
    ``timestamp'1899-12-30' + serial*86400 seconds`` with the -1 day /
    leap-bug adjustment below serial 61.  NULL for out-of-range serials.
    """
    base = F.lit("1899-12-30 00:00:00").cast("timestamp")
    # serial < 60: true calendar, epoch one day later (+1); serial 60 is the
    # fictitious 1900-02-29 which renders as 02-28 (no shift); >= 61 no shift
    adjusted = F.when(col < 60, col + 1).otherwise(col)
    micros = (adjusted * F.lit(86400.0 * 1e6)).cast("long")
    # Excel serials are timezone-less -> emit TIMESTAMP_NTZ (cast via the
    # UTC session zone is lossless)
    result = F.timestamp_micros(F.unix_micros(base) + micros).cast("timestamp_ntz")
    return F.when((col >= 1.0) & (col <= MAX_SERIAL), result)


def timestamp_to_excel_serial(col) -> Column:
    """Bulk column conversion: timestamp (LTZ or NTZ) -> serial double.
    NTZ input is interpreted in the session zone (UTC) — identical naive
    wall-clock semantics either way."""
    base = F.lit("1899-12-30 00:00:00").cast("timestamp")
    days = (F.unix_micros(col.cast("timestamp")) - F.unix_micros(base)) / F.lit(
        86400.0 * 1e6
    )
    return F.when(days < 61, days - 1).otherwise(days)


# --- the one timestamp rule (module docstring) ------------------------------
#
# pyarrow is imported inside these functions: the package imports this
# module on the driver, where most sessions never need Arrow (the import
# costs ~40 ms).


def _with_tz(t: pa.DataType, tz: str | None) -> pa.DataType:
    """``t`` with every zoned timestamp in it, however nested, labelled
    ``tz`` (None: naive); naive timestamps stay naive."""
    import pyarrow as pa

    if pa.types.is_timestamp(t):
        return pa.timestamp(t.unit, tz) if t.tz else t
    if pa.types.is_struct(t):
        return pa.struct([f.with_type(_with_tz(f.type, tz)) for f in t])
    if pa.types.is_map(t):
        return pa.map_(
            t.key_field.with_type(_with_tz(t.key_type, tz)),
            t.item_field.with_type(_with_tz(t.item_type, tz)),
        )
    if pa.types.is_list(t):
        return pa.list_(t.value_field.with_type(_with_tz(t.value_type, tz)))
    return t


#: a fixed-offset zone as Spark accepts one ("Z", "+05:30", "-8",
#: "GMT+8", "UTC-08:00"); pyarrow's zone database names none of them
_FIXED_OFFSET_RE = re.compile(
    r"(?:UTC|GMT|UT)?(?:Z|([+-])(\d\d?)(?::?(\d\d))?(?::?(\d\d))?)"
)


def _fixed_offset_us(zone: str) -> int | None:
    """A fixed-offset zone's offset in microseconds (Spark's timestamp
    unit), None for a region zone."""
    m = _FIXED_OFFSET_RE.fullmatch(zone)
    if m is None:
        return None
    sign, hours, minutes, seconds = m.groups()
    if sign is None:
        return 0
    secs = int(hours) * 3600 + int(minutes or 0) * 60 + int(seconds or 0)
    return (secs if sign == "+" else -secs) * 1_000_000


def wall_clock(col: pa.Array) -> pa.Array:
    """Column -> the same column with every zoned timestamp, top level or
    nested, replaced by its naive wall clock in the zone its Arrow type
    names; a column holding none is returned as is."""
    import pyarrow as pa
    import pyarrow.compute as pc

    naive = _with_tz(col.type, None)
    if naive == col.type:
        return col
    if pa.types.is_timestamp(col.type):
        offset = _fixed_offset_us(col.type.tz)
        if offset is None:
            return pc.local_timestamp(col)
        return pc.add(col.cast(pa.int64()), offset).cast(naive)
    if pa.types.is_struct(col.type):
        children = [wall_clock(col.field(i)) for i in range(col.type.num_fields)]
        mask = col.is_null() if col.null_count else None
        return pa.StructArray.from_arrays(children, fields=list(naive), mask=mask)
    # a list or map: its own validity and offsets over rebuilt values
    return pa.Array.from_buffers(
        naive, len(col), col.buffers()[:2], offset=col.offset,
        children=[wall_clock(col.values)],
    )


def in_session_zone(data, spark):
    """Driver-side Arrow ``data`` (a table, whose instants pyspark labels
    UTC) labelled with ``spark``'s session zone: the same instants, so
    ``wall_clock`` renders the session's wall clocks.  A cast that only
    relabels copies no values."""
    import pyarrow as pa

    zone = spark.conf.get("spark.sql.session.timeZone")
    schema = pa.schema([f.with_type(_with_tz(f.type, zone)) for f in data.schema])
    return data if schema == data.schema else data.cast(schema)


def session_zone() -> str:
    """The session zone seen from a task: the query's
    ``spark.sql.session.timeZone``, or, when the session never set it,
    the JVM default zone Spark then uses, which the JVM takes from ``TZ``
    and else from ``/etc/localtime`` (Python workers share the JVM's
    environment)."""
    ctx = TaskContext.get()
    zone = ctx.getLocalProperty("spark.sql.session.timeZone") if ctx else None
    if zone:
        return zone
    zone = os.environ.get("TZ", "").lstrip(":")
    if zone:
        return zone
    link = os.path.realpath("/etc/localtime")
    return link.split("/zoneinfo/", 1)[1] if "/zoneinfo/" in link else "UTC"


def instants(batch: pa.RecordBatch, zone: str) -> pa.RecordBatch:
    """The reader's inverse of ``wall_clock``: each zoned timestamp column
    of ``batch`` holds wall clocks (labelled UTC, as the reader types
    them); each becomes the instant its wall clock names in ``zone``,
    by the rule in the module docstring."""
    if zone == "UTC":
        return batch
    import pyarrow as pa

    cols = [
        _instants(c, zone) if pa.types.is_timestamp(c.type) and c.type.tz else c
        for c in batch.columns
    ]
    return pa.RecordBatch.from_arrays(cols, schema=batch.schema)


def _instants(col: pa.Array, zone: str) -> pa.Array:
    import pyarrow as pa
    import pyarrow.compute as pc

    offset = _fixed_offset_us(zone)
    if offset is None:
        # the offset in force just before any transition: the earlier one
        # in the fall-back hour, the pre-gap one inside a spring-forward gap
        wall = col.cast(pa.timestamp(col.type.unit))
        first = pc.assume_timezone(wall, zone, ambiguous="earliest", nonexistent="earliest")
        offset = pc.subtract(
            pc.local_timestamp(first).cast(pa.int64()), first.cast(pa.int64())
        )
    return pc.subtract(col.cast(pa.int64()), offset).cast(col.type)
