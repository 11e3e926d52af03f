"""Sources & sinks.

``xlsx/`` — the custom XLSX source/sink (Python Data Source API), and
``warc.py`` — the WARC (web-archive) source/sink: the two formats Spark
does not ship.  Both share ``files.py``, the file-source core: which
files a path or glob names, the stream offsets, the batch sink's
part-file protocol, registration and the unknown-option warning.
CSV/Parquet/JSON/ORC are Spark built-ins,
exercised through the catalog's I/O-parity entries (plans/io_parity.py);
``csvzip.py`` adds the reference's ``.csv.zip`` auto-extraction (ZIP has
no Spark codec); cloud filesystem configuration (S3A endpoint/credential
parity with the reference's builders) lives in ``cloud.py``; ``http.py``
serves in-memory workbook/CSV bytes for small results and distributed
presigned-URL exports for big ones; ``converters.py`` holds the
Parquet<->Excel transfer jobs.
"""

from excelstream_spark.sources.csvzip import read_csv_zip

__all__ = ["read_csv_zip"]
