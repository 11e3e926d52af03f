"""The file-source core shared by the xlsx and warc Python Data Sources —
the part Spark's built-in formats get from their one file index and
their one ``FileStreamSource``.  Each format passes data in (its file
patterns, its batch reader, its option keys, its part extension);
nothing here depends on which format it serves.

Which files a path names (``input_files``): ``path``, then each entry of
``paths`` (the JSON array Spark passes when ``load()`` gets a list).  A
directory lists the format's patterns recursively, skipping names that
start with ``_`` or ``.`` (``_SUCCESS``, in-flight temps).  An existing
file is read as named.  Anything else is a glob: its directory matches
are listed like directories, and its file matches skip ``_``/``.``
names, so ``out/*`` skips ``_SUCCESS``.  A path that names no file
raises ``FileNotFoundError``.  ``file:`` URIs are local paths; other
schemes fail loudly (``local_path``).

What a file-stream offset holds (``FileStreamReader``): each trigger
picks up files that appeared since the last committed offset, one
partition per new file as the format's batch reader splits it, read
exactly as a batch read of that file would be.  A file must be written
atomically (rename into the watched directory) — the same contract as
Spark's built-in file sources.

Offsets are {"seen": sorted [file, ...]} — the full processed set, so
recovery from any checkpointed offset pair is exact regardless of
listing order or file mtimes.  An offset therefore grows with total
file count; option("maxFileAgeSec", N) switches to COMPACTED offsets
{"mark": max mtime, "recent": [files with mtime >= mark - N]} that stay
bounded by the arrival rate x window instead — the semantics of the
built-in file source's maxFileAge: a file whose mtime is older than the
window behind the newest file is assumed already processed and skipped.
The cutoff is relative to the newest CURRENT file, so if the stream is
down longer than the window while files keep arriving, backlog older
than (newest mtime - N) is skipped too — identical to the built-in
source's purge behavior.  Pick N comfortably above max delivery delay +
max expected downtime.  Enabling compaction on an existing exact-mode
checkpoint is safe (both offset formats are accepted as the start
side); DISABLING it is rejected at the first trigger — the bounded
'recent' list cannot stand in for the full processed set, so
reprocessing everything in the directory would silently follow.
Progress lives entirely in the checkpointed offset, so ``commit`` keeps
the base class's no-op.

How a sink publishes (``PartFileWriter``): by rename, once.  The writer
draws a job id when Spark builds it on the driver, and Spark pickles that
writer to every task and to commit(), so all of them see the same id.
Each task attempt writes a dot-prefixed temp that no reader lists,
``.tmp-{job}-{uuid8}-part-{pid:05d}{ext}``, and hands commit() its
name and partition id.  commit() alone publishes: on overwrite it first
removes the previous ``part-`` files the format reads, then renames each
message's temp to its final name (``part-{pid:05d}-{job}{ext}``, or the
target path itself for a single-file sink), removes this job's other
temps (those of failed, lost or speculative attempts) and writes
``_SUCCESS`` holding ``rows=N``.  abort() removes this job's temps.  A
retried task therefore publishes once, and a failed overwrite leaves the
previous output in place and readable.  A stream sink renames to its
own names under the same protocol (xlsx ``XlsxStreamWriter``).

How a source is registered and checks its options (``FileDataSource``,
``register``): any option key outside the source's ``OPTIONS`` (and the
``paths`` / ``checkpointLocation`` keys Spark passes itself) draws one
UserWarning naming it; registration is idempotent per session.
"""

from __future__ import annotations

import glob
import json
import os
import uuid
import warnings

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    WriterCommitMessage,
)

#: option keys Spark itself passes: load() of several paths, and a
#: stream query's checkpoint
_SPARK_KEYS = frozenset({"paths", "checkpointLocation"})


def local_path(path: str) -> str:
    """Normalize a ``file:``/``file://`` URI to a plain local path.  The
    sources run PYTHON-side (os/glob/open), so only locally-visible
    paths are valid — but callers reasonably pass the same URI form
    Spark's JVM sources accept (export_presigned's ``write_path``
    contract does exactly that), which would otherwise create a literal
    ``./file:`` directory.  Non-file schemes fail loudly instead."""
    if path.startswith("file:") or "://" in path:
        from urllib.parse import urlparse

        u = urlparse(path)
        if u.scheme in ("", "file"):
            return u.path or path
        raise ValueError(
            f"file sources/sinks are Python-filesystem-backed and cannot "
            f"open {u.scheme}:// paths directly; mount the object store "
            f"or write locally and replicate (sources/cloud.py)"
        )
    return path


def _hidden(file: str) -> bool:
    return os.path.basename(file).startswith(("_", "."))


def input_files(options, patterns: tuple[str, ...]) -> list[str]:
    """Every file to read: under ``path``, then under each entry of
    ``paths``; directories list ``patterns`` (e.g. ``("*.xlsx",)``)."""
    paths = [options["path"]] if options.get("path") is not None else []
    if "paths" in options:  # set by Spark, not a user option
        paths += json.loads(options["paths"])
    if not paths:
        raise ValueError("a file source requires a path: load(path) or load([paths])")
    return [f for path in paths for f in _list_files(local_path(path), patterns)]


def _list_files(path: str, patterns: tuple[str, ...]) -> list[str]:
    if os.path.exists(path) and not os.path.isdir(path):
        return [path]
    files = []
    for match in [path] if os.path.isdir(path) else sorted(glob.glob(path)):
        if os.path.isdir(match):
            files += sorted(
                f
                for pat in patterns
                for f in glob.glob(os.path.join(match, "**", pat), recursive=True)
                if not _hidden(f)
            )
        elif not _hidden(match):
            files.append(match)
    if not files:
        raise FileNotFoundError(f"no {' / '.join(patterns)} files at {path}")
    return files


class FileStreamReader(DataSourceStreamReader):
    """Micro-batch file source over a format's batch reader, which
    supplies ``options``, ``patterns``, ``_partitions(files)`` and
    ``read(partition)``; offsets as in the module docstring."""

    def __init__(self, reader):
        self._reader = reader
        age = reader.options.get("maxfileagesec")
        self.max_age = float(age) if age is not None else None

    def _current_files(self) -> list[str]:
        try:
            return input_files(self._reader.options, self._reader.patterns)
        except FileNotFoundError:
            return []

    def initialOffset(self) -> dict:
        if self.max_age is not None:
            return {"mark": 0.0, "recent": []}
        return {"seen": []}

    def latestOffset(self) -> dict:
        files = self._current_files()
        if self.max_age is None:
            return {"seen": files}
        pairs = []
        for f in files:
            try:
                pairs.append((f, os.path.getmtime(f)))
            except OSError:  # raced deletion between list and stat
                pass
        mark = max((m for _, m in pairs), default=0.0)
        return {
            "mark": mark,
            "recent": sorted(f for f, m in pairs if m >= mark - self.max_age),
        }

    def partitions(self, start: dict, end: dict):
        if "recent" in start and self.max_age is None:
            raise ValueError(
                "this checkpoint was written with maxFileAgeSec (compacted "
                "offsets); running without the option would reprocess every "
                "file in the directory — keep the option or start a fresh "
                "checkpoint"
            )
        processed = set(start.get("seen") or start.get("recent") or [])
        new_files = sorted(
            set(end.get("seen") or end.get("recent") or []) - processed
        )
        return self._reader._partitions(new_files)

    def read(self, partition):
        yield from self._reader.read(partition)


class FileDataSource(DataSource):
    """A file format's DataSource: warns on option keys outside the
    subclass's ``OPTIONS`` and streams through ``FileStreamReader`` over
    the subclass's batch ``reader()``."""

    #: every option key the format's source and sink read
    OPTIONS: frozenset[str] = frozenset()

    def __init__(self, options):
        # Spark builds the source once per load or save, batch or stream
        super().__init__(options)
        known = {k.lower() for k in self.OPTIONS | _SPARK_KEYS}
        unknown = sorted(k for k in options if k.lower() not in known)
        if unknown:
            warnings.warn(
                f"{self.name()}: ignoring unknown option(s) {unknown}; known "
                f"options: {sorted(self.OPTIONS, key=str.lower)}",
                UserWarning,
                stacklevel=2,
            )

    def streamReader(self, schema) -> FileStreamReader:
        return FileStreamReader(self.reader(schema))


def register(spark, source_cls: type[DataSource]) -> None:
    """Idempotently register ``source_cls`` on this session.

    Re-registering works but logs a "data source <name> replaced" WARN
    per call (sink entries and repeated bench runs would spam it).  The
    marker lives ON the session object — an id()-keyed set would both
    leak entries and mistake a new session allocated at a recycled
    address for an already-registered one."""
    marker = f"_esspark_{source_cls.name()}_registered"
    if getattr(spark, marker, False):
        return
    try:
        spark.dataSource.register(source_cls)
    except Exception as e:  # already registered is fine
        if "already" not in str(e).lower():
            raise
    # also when someone registered the format outside this helper, or
    # every later call would re-attempt and log the WARN again
    setattr(spark, marker, True)


def partition_id() -> int:
    """The running task's partition id (0 outside a task)."""
    from pyspark import TaskContext

    ctx = TaskContext.get()
    return ctx.partitionId() if ctx else 0


class FileCommitMessage(WriterCommitMessage):
    """A task's hand-over to commit(): its temp ``file`` ("" when it
    wrote none), its ``rows`` and the partition ``pid`` naming its part."""

    def __init__(self, file: str, rows: int, pid: int):
        self.file = file
        self.rows = rows
        self.pid = pid


class PartFileWriter:
    """A file sink's publish-by-rename (module docstring).  The sink calls
    ``_init_output`` when it is built and names the format's reader
    ``patterns``, which an overwrite removes as ``part-`` files."""

    patterns: tuple[str, ...] = ()

    def _init_output(
        self, path: str, ext: str, overwrite: bool = False,
        single_file: bool = False, job: str | None = None,
    ) -> None:
        #: the output directory, or with ``single_file`` the one target
        self.path = path
        self.ext = ext
        self.overwrite = overwrite
        self.single_file = single_file
        self.out_dir = os.path.dirname(os.path.abspath(path)) if single_file else path
        self.job = job or uuid.uuid4().hex[:8]
        os.makedirs(self.out_dir, exist_ok=True)

    def _temp_file(self) -> tuple[str, int]:
        """This task attempt's temp file and its partition id."""
        pid = partition_id()
        name = f".tmp-{self.job}-{uuid.uuid4().hex[:8]}-part-{pid:05d}{self.ext}"
        return os.path.join(self.out_dir, name), pid

    def _glob(self, *patterns: str) -> list[str]:
        where = glob.escape(self.out_dir)
        return [f for pat in patterns for f in glob.glob(os.path.join(where, pat))]

    def _publish(self, messages, final_path, stale=()) -> None:
        """Remove the ``stale`` files, rename each message's temp to
        ``final_path(pid)``, then remove this job's other temps."""
        for f in stale:
            os.remove(f)
        for m in messages:
            if m is not None and m.file:
                os.replace(m.file, final_path(m.pid))
        self._remove_temps()

    def _remove_temps(self) -> None:
        for f in self._glob(f".tmp-{self.job}-*"):
            os.remove(f)

    def commit(self, messages) -> None:
        if self.single_file:
            return self._publish(messages, lambda pid: self.path)
        old = self._glob(*("part-" + pat for pat in self.patterns)) if self.overwrite else []
        self._publish(
            messages,
            lambda pid: os.path.join(self.path, f"part-{pid:05d}-{self.job}{self.ext}"),
            old,
        )
        with open(os.path.join(self.path, "_SUCCESS"), "w") as f:
            f.write(f"rows={sum(m.rows for m in messages if m is not None)}\n")

    def abort(self, messages) -> None:
        self._remove_temps()
