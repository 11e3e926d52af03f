"""The workloads.  Each one loads one layer of the package:

* ``xlsx_roundtrip`` - the executor-side Arrow batch path of
  ``sources.xlsx`` (write and read of a typed table, no shuffle);
* ``corpus_clean`` - ``operators``/``functions``/``plans`` through catalog
  entry ``training_corpus_pipeline_v2`` (quality gates, PII, CDC and
  minhash dedup, components; shuffles, little xlsx);
* ``export_requests`` - ``sources.http.serve_dataframe`` on the driver: the
  ``WorkbookWriter.write_row`` row path plus Spark job latency.

``corpus_clean`` is not in BENCHMARK.json (see README.md): a pass takes
about ten seconds and its time spreads too widely between runs for a
bounded metric.  Its layers are still measured, by ``layer_probes``.

A workload's operation is split into ``run`` (timed), ``check`` (untimed
correctness check of that operation's output) and ``cleanup`` (untimed).
``layer_probe`` times direct calls into the layers' public functions;
``layer_probes`` runs every workload's probe, on inputs of its own, once
per traced run.  ``negative_check`` corrupts one output and reports
whether ``check`` catches it.
"""

from __future__ import annotations

import csv
import datetime as dt
import glob
import hashlib
import io
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from excelstream_spark.tables import load_table

HERE = os.path.dirname(os.path.abspath(__file__))


class Workload:
    name = ""
    kind = ""  # generator kind (gen.write_inputs)
    size = 0  # rows or documents generated
    min_ops = 3  # measured operations per run, even past --seconds
    max_ops = 1000
    op_quantum = 1  # a run stops only after a whole number of these

    def __init__(self, seed: int, work: str, nproc: int):
        self.seed = seed
        self.work = work
        self.nproc = nproc
        self.inputs = os.path.join(work, "inputs")

    def describe(self) -> dict:
        return {"input": f"{self.size} {self.unit}", "loop": "closed, 1 client"}

    def generate(self) -> None:
        """Writes the seeded inputs under ``self.inputs``, in a separate
        process so the generator's memory never shows in the measured ones."""
        shutil.rmtree(self.inputs, ignore_errors=True)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), self.kind, str(self.seed),
             str(self.size), self.inputs],
            check=True,
        )

    def load(self, spark) -> None:
        raise NotImplementedError

    def unload(self, spark) -> None:
        """Releases what ``load`` cached."""

    def prepare(self, spark) -> None:
        """Untimed: expected outputs for the correctness checks."""

    def warmup(self, spark) -> None:
        raise NotImplementedError

    def run(self, spark, i: int, tr):
        raise NotImplementedError

    def check(self, i: int, result) -> tuple[int, bool]:
        """-> (rows the operation processed, output correct)."""
        raise NotImplementedError

    def cleanup(self, spark) -> None:
        pass

    def layer_probe(self, spark, tr, rest) -> dict[str, float]:
        return {}

    def negative_check(self, spark) -> bool:
        raise NotImplementedError


# -- xlsx_roundtrip ----------------------------------------------------------


def _checksum_aggs(schema) -> list:
    """Row count plus, per column, non-null count and an order-independent
    sum of value hashes (reduced mod 2^31 - 1 so the sum cannot overflow)."""
    aggs = [F.count(F.lit(1)).alias("rows")]
    for f in schema.fields:
        c = F.col(f.name).cast(f.dataType)
        aggs.append(F.count(c).alias(f"{f.name}__n"))
        aggs.append(F.sum(F.pmod(F.xxhash64(c), F.lit(2147483647))).alias(f"{f.name}__h"))
    return aggs


class XlsxRoundtrip(Workload):
    name = "xlsx_roundtrip"
    kind = "typed"
    size = 100_000
    unit = "rows x 10 cols"
    min_ops = 2

    def load(self, spark) -> None:
        df = load_table(spark, self.inputs, "typed")
        # one part-workbook per core; round-robin so no part is empty
        self.df = df.repartition(self.nproc).cache()
        self.df.count()
        self.out = os.path.join(self.work, "xlsx_out")

    def unload(self, spark) -> None:
        self.df.unpersist(blocking=True)

    def prepare(self, spark) -> None:
        self.expected = self.df.agg(*_checksum_aggs(self.df.schema)).collect()[0]

    def _write(self, df, out, tr) -> None:
        with tr.span("sources.xlsx.datasource.write"):
            df.write.format("xlsx").mode("overwrite").save(out)

    def _read_checksums(self, spark, out, tr):
        with tr.span("sources.xlsx.datasource.load"):
            back = spark.read.format("xlsx").load(out)
        with tr.span("sources.xlsx.datasource.scan"):
            return back.agg(*_checksum_aggs(self.df.schema)).collect()[0]

    def warmup(self, spark) -> None:
        # after one round trip the next ones still speed up (4.4, 3.9,
        # 3.6 s on a 4-core host); two leave the timed ones near steady
        for _ in range(2):
            self.check(0, self.run(spark, 0, _off()))

    def run(self, spark, i, tr):
        self._write(self.df, self.out, tr)
        return self._read_checksums(spark, self.out, tr)

    def check(self, i, result):
        return self.size, result == self.expected

    def _parts(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.out, "part-*.xlsx")))

    def layer_probe(self, spark, tr, rest) -> dict[str, float]:
        """One traced round trip through Spark, then a replay of one of its
        part-workbooks (``size / nproc`` rows, the work of one write task
        and one read task) through the layer functions on the driver."""
        from excelstream_spark.sources.xlsx.batch_scan import BatchSheetReader, to_arrow_schema
        from excelstream_spark.sources.xlsx.batch_write import batch_to_rows_xml
        from excelstream_spark.sources.xlsx.reader_core import WorkbookReader
        from excelstream_spark.sources.xlsx.writer_core import WorkbookWriter

        tr.op = "probe.xlsx"
        with tr.span("op"):
            result = self.run(spark, 0, tr)
        if not self.check(0, result)[1]:
            raise RuntimeError("layer probe round trip returned wrong checksums")
        executor_run_s = rest.op_metrics(tr.op)["spark.executor_run_s"]
        xml_bytes = file_bytes = deflated = 0
        for p in self._parts():
            file_bytes += os.path.getsize(p)
            with zipfile.ZipFile(p) as z:
                for info in z.infolist():
                    if info.filename.startswith("xl/worksheets/"):
                        xml_bytes += info.file_size
                        deflated += info.compress_size
        schema = self.df.schema
        part_rows = self.size // self.nproc
        table = pq.read_table(os.path.join(self.inputs, "typed.parquet")).slice(0, part_rows)
        # the batches Spark's Arrow writer hands a task (10k rows each)
        batches = table.cast(to_arrow_schema(schema)).to_batches(max_chunksize=10_000)
        target = os.path.join(self.work, "probe.xlsx")
        t_xml = t_zip = 0.0
        with tr.span("sources.xlsx.writer_core.WorkbookWriter"):
            wb = WorkbookWriter(target)
            wb.add_sheet("Sheet1")
            wb.write_header([f.name for f in schema.fields])
            for b in batches:
                t0 = time.perf_counter()
                with tr.span("sources.xlsx.batch_write.batch_to_rows_xml"):
                    xml = batch_to_rows_xml(b, schema, wb.next_row_index)
                t1 = time.perf_counter()
                with tr.span("sources.xlsx.writer_core.write_rows_xml"):
                    wb.write_rows_xml(xml, b.num_rows)
                t_xml += t1 - t0
                t_zip += time.perf_counter() - t1
            t0 = time.perf_counter()
            with tr.span("sources.xlsx.writer_core.close"):
                wb.close()
            t_close = time.perf_counter() - t0
        read_schema = spark.read.format("xlsx").load(self.out).schema
        t0 = time.perf_counter()
        with tr.span("sources.xlsx.reader_core.open"):
            rd = WorkbookReader(target)
            rd.sst, rd.date_styles
        t_open = time.perf_counter() - t0
        t0 = time.perf_counter()
        with tr.span("sources.xlsx.batch_scan.batches"):
            n = sum(b.num_rows for b in BatchSheetReader(rd, 0, read_schema, True).batches())
        t_scan = time.perf_counter() - t0
        rd.close()
        if n != part_rows:
            raise RuntimeError(f"layer replay read {n} rows, wrote {part_rows}")
        return {
            "sources.xlsx.batch_write.batch_to_rows_xml_s": t_xml,
            "sources.xlsx.writer_core.write_rows_xml_s": t_zip,
            "sources.xlsx.writer_core.close_s": t_close,
            "sources.xlsx.reader_core.open_s": t_open,
            "sources.xlsx.batch_scan.batches_s": t_scan,
            "sources.xlsx.sheet_xml_bytes": xml_bytes,
            "sources.xlsx.file_bytes": file_bytes,
            "sources.xlsx.compress_ratio": xml_bytes / deflated if deflated else 0.0,
            # executor time minus per-task library time x tasks: what the
            # round trip spent in Spark, Arrow and the Python worker rather
            # than in the package
            "spark.arrow_boundary_s": executor_run_s
            - self.nproc * (t_xml + t_zip + t_close + t_open + t_scan),
        }

    def negative_check(self, spark) -> bool:
        """Deletes one data row from one written part; the checksums must
        then disagree with the source."""
        self._write(self.df, self.out, _off())
        part = self._parts()[0]
        with zipfile.ZipFile(part) as z:
            entries = {i.filename: z.read(i.filename) for i in z.infolist()}
        sheet = "xl/worksheets/sheet1.xml"
        entries[sheet] = re.sub(rb'<row r="2".*?</row>', b"", entries[sheet], count=1, flags=re.S)
        with zipfile.ZipFile(part, "w", zipfile.ZIP_DEFLATED) as z:
            for name, data in entries.items():
                z.writestr(name, data)
        return not self.check(0, self._read_checksums(spark, self.out, _off()))[1]


# -- corpus_clean ------------------------------------------------------------


def _rows_digest(rows) -> str:
    """Order-independent digest of a result (rows sorted by their repr, which
    orders rows holding None too)."""
    return hashlib.sha256(repr(sorted((tuple(r) for r in rows), key=repr)).encode()).hexdigest()


class CorpusClean(Workload):
    name = "corpus_clean"
    kind = "corpus"
    size = 500
    unit = "documents"
    min_ops = 2
    entry = "training_corpus_pipeline_v2"

    def load(self, spark) -> None:
        import excelstream_spark.plans.extension  # noqa: F401  (fills CATALOG)
        from excelstream_spark.plans.catalog import CATALOG

        self.spec = CATALOG[self.entry]
        load_table(spark, self.inputs, "documents").count()

    def prepare(self, spark) -> None:
        from excelstream_spark.plans.oracles import training_pipeline_v2_oracle

        con = duckdb.connect()
        path = os.path.join(self.inputs, "documents.parquet")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        rows = con.execute(training_pipeline_v2_oracle()).fetchall()
        con.close()
        self.expected_rows = len(rows)
        self.expected = _rows_digest(rows)

    def warmup(self, spark) -> None:
        # a pass costs about the same on a much smaller corpus (it is
        # dominated by planning and job scheduling), so warm on the real one
        self.check(0, self.run(spark, 0, _off()))

    def run(self, spark, i, tr):
        with tr.span(f"plans.extension.{self.entry}.declare"):
            df = self.spec.fn(spark, self.inputs)
        with tr.span(f"plans.extension.{self.entry}.exec"):
            return df.collect()

    def check(self, i, result):
        return self.size, _rows_digest(result) == self.expected

    def cleanup(self, spark) -> None:
        from excelstream_spark.operators.dedup import release_persists

        release_persists()

    def unload(self, spark) -> None:
        self.cleanup(spark)

    def layer_probe(self, spark, tr, rest) -> dict[str, float]:
        """Runs the v2 stage chain one public function at a time, each on a
        cached (already computed) input, recording declaration and
        execution time and the rows in and out of every gate; then one
        traced pass of the catalog entry, whose Spark stages show any
        recomputed subtree."""
        from excelstream_spark.functions import text as TXT
        from excelstream_spark.operators import dedup as DD
        from excelstream_spark.operators import quality as QL
        from excelstream_spark.operators.components import dedup_keep_representatives

        subset = tuple(r for r in TXT.GOPHER_RULES if r[0] != "n_gopher_stopwords")
        docs = load_table(spark, self.inputs, "documents").select("doc_id", "lang", "text")
        stages = [
            ("operators.quality.gopher_quality_filter",
             lambda x: QL.gopher_quality_filter(x, rules=subset)),
            ("operators.quality.full_repetition_filter", QL.full_repetition_filter),
            ("functions.text.redact_pii",
             lambda x: x.withColumn("text", TXT.redact_pii(F.col("text")))),
            ("operators.dedup.dedup_token_chunks_cdc",
             lambda x: DD.dedup_token_chunks_cdc(x, avg_tokens=16, min_df=2)),
        ]
        out: dict[str, float] = {}
        held = []

        def stage(name, fn, inp):
            rows_in = inp.count()
            t0 = time.perf_counter()
            with tr.span(f"{name}.declare"):
                res = fn(inp)
            t1 = time.perf_counter()
            with tr.span(f"{name}.exec"):
                res = res.cache()
                held.append(res)
                rows_out = res.count()
            out.update({
                f"{name}.declare_s": t1 - t0,
                f"{name}.exec_s": time.perf_counter() - t1,
                f"{name}.rows_in": rows_in,
                f"{name}.rows_out": rows_out,
            })
            return res

        tr.op = "probe.corpus.stages"
        cur = docs.cache()
        held.append(cur)
        for name, fn in stages:
            cur = stage(name, fn, cur)
        pairs = stage(
            "operators.dedup.dedup_minhash_lsh",
            lambda x: DD.dedup_minhash_lsh(x, threshold=0.8), cur,
        )
        out["operators.dedup.dedup_minhash_lsh.pairs"] = out["operators.dedup.dedup_minhash_lsh.rows_out"]
        kept = stage(
            "operators.components.dedup_keep_representatives",
            lambda x: dedup_keep_representatives(
                x, pairs, id_col="doc_id", id_a="doc_a", id_b="doc_b"
            ),
            cur,
        )
        n_kept = kept.count()
        for df in held:
            df.unpersist(blocking=True)
        self.cleanup(spark)
        if n_kept != self.expected_rows:
            raise RuntimeError(f"stage-by-stage chain kept {n_kept}, oracle {self.expected_rows}")
        tr.op = "probe.corpus.pass"
        with tr.span("op"):
            rows = self.run(spark, 0, tr)
        self.cleanup(spark)
        if not self.check(0, rows)[1]:
            raise RuntimeError("layer probe pass differs from the oracle")
        out["spark.repeated_stages"] = rest.op_metrics(tr.op)["spark.repeated_stages"]
        return out

    def negative_check(self, spark) -> bool:
        """Changes one fingerprint of a correct pass; the digest must differ."""
        rows = [tuple(r) for r in self.run(spark, 0, _off())]
        self.cleanup(spark)
        if not self.check(0, rows)[1]:
            return False  # the uncorrupted pass must pass first
        rows[0] = rows[0][:-1] + ("0" * 32,)
        return not self.check(0, rows)[1]


# -- export_requests ---------------------------------------------------------

_DATE_RE = re.compile(r"^\d{4}-\d{2}-\d{2}([ T]\d{2}:\d{2}:\d{2}(\.\d+)?)?$")
_NUM_RE = re.compile(r"^-?\d+(\.\d+)?([eE][-+]?\d+)?$")


def _canon(v) -> str | None:
    """One spelling per value across DuckDB rows, xlsx cells and csv text."""
    if v is None or v == "":
        return None
    if isinstance(v, bool) or v in ("True", "False"):
        return str(v).lower()
    if isinstance(v, str) and _DATE_RE.match(v):
        v = dt.datetime.fromisoformat(v)
    elif isinstance(v, str) and _NUM_RE.match(v):
        v = float(v)
    if isinstance(v, dt.date) and not isinstance(v, dt.datetime):
        v = dt.datetime(v.year, v.month, v.day)
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, (int, float)):
        return repr(float(v))
    return str(v)


def _canon_rows(rows) -> list[tuple]:
    return [tuple(_canon(v) for v in r) for r in rows]


def parse_body(fmt: str, body: bytes) -> list[list]:
    """The data rows of an export body, parsed back from its bytes."""
    if fmt == "xlsx":
        from excelstream_spark.sources.xlsx.reader_core import WorkbookReader

        with WorkbookReader(body) as wb:
            return list(wb.iter_rows(0))[1:]
    return list(csv.reader(io.StringIO(body.decode("utf-8"), newline="")))[1:]


class _TimedFrame:
    """Stands in for a DataFrame inside ``serve_dataframe`` (which only uses
    ``columns`` and ``toLocalIterator``), splitting the request into time
    spent waiting for rows from Spark and time spent encoding them."""

    def __init__(self, df, t_start: float):
        self._df = df
        self.columns = df.columns
        self.t_start = t_start
        self.first_row_s = 0.0
        self.fetch_s = 0.0
        self.between_rows_s = 0.0
        self.rows = 0

    def toLocalIterator(self):
        it = iter(self._df.toLocalIterator())
        first = True
        while True:
            t0 = time.perf_counter()
            try:
                row = next(it)
            except StopIteration:
                self.fetch_s += time.perf_counter() - t0
                return
            t1 = time.perf_counter()
            self.fetch_s += t1 - t0
            self.rows += 1
            if first:
                self.first_row_s = t1 - self.t_start
                first = False
            yield row
            self.between_rows_s += time.perf_counter() - t1


class ExportRequests(Workload):
    name = "export_requests"
    kind = "export"
    size = 100_000
    unit = "rows x 10 cols table, 16-request cycles"
    min_ops = 16
    op_quantum = 16
    max_ops = 384  # the 25th cycle of the script is kept for the warmup

    def load(self, spark) -> None:
        df = load_table(spark, self.inputs, "typed")
        self.df = df.repartition(self.nproc).cache()
        self.df.count()
        self.df.createOrReplaceTempView("t")
        with open(os.path.join(self.inputs, "requests.json")) as f:
            self.script = json.load(f)

    def prepare(self, spark) -> None:
        self.duck = duckdb.connect()
        path = os.path.join(self.inputs, "typed.parquet")
        self.duck.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{path}')")

    def _expected(self, i: int) -> str:
        # a digest, not the rows: the expectation must not inflate the
        # driver's RSS, which python_peak_rss_mb measures
        return _rows_digest(_canon_rows(self.duck.execute(self.script[i]["sql"]).fetchall()))

    def warmup(self, spark) -> None:
        for i in range(len(self.script) - 8, len(self.script)):
            self.check(i, self.run(spark, i, _off()))

    def run(self, spark, i, tr):
        from excelstream_spark.sources.http import serve_dataframe

        req = self.script[i]
        t0 = time.perf_counter()
        with tr.span("sources.http.serve_dataframe", fmt=req["fmt"], kind=req["kind"]) as sp:
            df = spark.sql(req["sql"])
            if tr.enabled:
                df = _TimedFrame(df, t0)
            res = serve_dataframe(df, f"export.{req['fmt']}", fmt=req["fmt"])
        if tr.enabled:
            total = time.perf_counter() - t0
            sp.update(
                first_row_ms=df.first_row_s * 1e3,
                encode_ms=(total - df.fetch_s) * 1e3,
                write_row_s=df.between_rows_s if req["fmt"] == "xlsx" else 0.0,
                rows=df.rows,
                body_bytes=len(res.body),
            )
        return res

    def check(self, i, result):
        rows = parse_body(self.script[i]["fmt"], result.body)
        return len(rows), _rows_digest(_canon_rows(rows)) == self._expected(i)

    def unload(self, spark) -> None:
        self.duck.close()
        self.df.unpersist(blocking=True)

    def layer_probe(self, spark, tr, rest) -> dict[str, float]:
        """Serves one block of the script (one slice, seven aggregates)
        traced, then summarizes every request span of the run."""
        for i in range(8):
            tr.op = f"probe.export{i}"
            with tr.span("op"):
                res = self.run(spark, i, tr)
            if not self.check(i, res)[1]:
                raise RuntimeError(f"layer probe request {i} returned wrong rows")
        reqs = [s for s in tr.spans if s["name"] == "sources.http.serve_dataframe"]
        xlsx = [s for s in reqs if s["fmt"] == "xlsx"]
        return {
            "sources.http.first_row_ms": statistics.median(s["first_row_ms"] for s in reqs),
            "sources.http.encode_ms": statistics.mean(s["encode_ms"] for s in reqs),
            "sources.http.rows": statistics.mean(s["rows"] for s in reqs),
            "sources.http.body_bytes": statistics.mean(s["body_bytes"] for s in reqs),
            "sources.xlsx.writer_core.write_row_s": statistics.mean(s["write_row_s"] for s in xlsx),
        }

    def negative_check(self, spark) -> bool:
        """Drops the last data line of a csv slice and flips one byte of an
        xlsx body; both must fail the check."""
        i = next(k for k, r in enumerate(self.script) if r["kind"] == "slice" and r["fmt"] == "csv")
        res = self.run(spark, i, _off())
        if not self.check(i, res)[1]:
            return False
        res.body = res.body.rstrip(b"\r\n").rsplit(b"\r\n", 1)[0] + b"\r\n"
        caught_csv = not self.check(i, res)[1]
        j = next(k for k, r in enumerate(self.script) if r["kind"] == "slice" and r["fmt"] == "xlsx")
        res = self.run(spark, j, _off())
        body = bytearray(res.body)
        body[len(body) // 2] ^= 0xFF
        res.body = bytes(body)
        try:
            caught_xlsx = not self.check(j, res)[1]
        except Exception:  # as in the timed loop: a check that raises fails
            caught_xlsx = True
        return caught_csv and caught_xlsx


def _off():
    from probes import Tracer

    return Tracer(False)


# the corpus probe is the costliest (~45 s), so it runs last, where the
# deadline of ``layer_probes`` can drop it
WORKLOADS = {w.name: w for w in (XlsxRoundtrip, ExportRequests, CorpusClean)}


def layer_probes(spark, tr, rest, running: Workload, deadline: float) -> dict[str, float]:
    """Every workload's layer probe, each on inputs of its own, so the
    traced run of any workload reports every per-layer metric.  Only the
    running workload's own code is warm; warming the others would cost more
    than a traced run can spend (a cold corpus pass alone takes ~20 s).  A
    probe due after ``deadline`` (``time.perf_counter``) is skipped, so a
    run on a slow host still ends in time; its metrics then read 0."""
    out: dict[str, float] = {}
    for cls in WORKLOADS.values():
        if time.perf_counter() > deadline:
            print(f"[perfbench] past the deadline: {cls.name} probe skipped", file=sys.stderr)
            continue
        wl = cls(running.seed, os.path.join(running.work, f"probe-{cls.name}"), running.nproc)
        wl.generate()
        wl.load(spark)
        wl.prepare(spark)
        out.update(wl.layer_probe(spark, tr, rest))
        wl.unload(spark)
    return out
