"""Manifest-committed JSONL sink (+ reader) on the Python DataSource API.

The read side of the Spark 4 Python DataSource API is covered by
``http_csv_source.py``; this module exercises the WRITE side — the
task/driver commit protocol that makes a distributed write look
atomic:

- ``write()`` runs per task on EXECUTORS: rows stream to a
  task-unique file under ``<path>/_staging/<job_id>/`` and the task
  returns a :class:`WriterCommitMessage` naming what it wrote.  A
  retried/speculative task writes a DIFFERENT staging file; nothing a
  failed attempt left behind is ever visible.
- ``commit(messages)`` runs ONCE on the driver with the messages of
  the SUCCESSFUL attempt of each task: it moves exactly those files
  into place and then atomically publishes ``_MANIFEST.json``
  (``os.replace``) listing the committed files + row counts.
- ``abort(messages)`` removes the staging directory; a crashed job
  leaves the previous manifest — and therefore the previous table
  contents — untouched.

Readers (the bundled reader, one input partition per manifest entry)
list the MANIFEST, not the directory, so partial/duplicate/aborted
files can never surface: writer-side exactly-once visibility with
reader-side snapshot isolation — the commit design every table format
(Delta/Iceberg/Hive FileOutputCommitter v2) builds on, here in its
minimal auditable form.

Commits are VERSIONED: every commit also writes an immutable snapshot
``_versions/v<N>.json``, and the reader accepts ``option("version",
N)`` for time travel — reading the table exactly as it was after
commit N (an overwrite leaves the replaced files on disk, so old
snapshots remain readable).

Usage::

    df.write.format("jsonl_manifest").mode("overwrite").save(path)
    spark.read.format("jsonl_manifest").schema(ddl).load(path)
    spark.read.format("jsonl_manifest").schema(ddl)
         .option("version", 1).load(path)          # time travel

JSON values: str/int/float/bool pass through; date/timestamp
serialize ISO-8601 and are re-parsed on read via the declared read
schema (the reader requires an explicit schema — same contract as the
http_csv source).

Filesystem assumption: staging, commit, and the manifest all use
plain ``os`` file operations on ``path``, so executor ``write()`` and
driver ``commit()`` compose only when driver and executors see ONE
shared POSIX filesystem — local mode (this repo's test environment)
or a cluster-mounted NFS/FUSE path.  On a real cluster with executor-
local disks the commit would find no staged files; production table
formats solve this with an object-store/DFS client (Delta/Iceberg on
S3A/ABFS), which is out of scope for this minimal auditable form.
The writer fails fast on non-local URI schemes rather than silently
committing an empty table.

Concurrent writers on one table (e.g. two streams with different
``stream_id``) are safe: every commit holds an ``flock`` on
``<path>/_commit.lock`` across the whole read-merge-publish sequence,
and the immutable ``_versions/v<N>.json`` snapshot is created with
``O_EXCL`` as a tripwire — a lost race is therefore impossible to
mistake for success (previously two committers could both read
version N and both publish N+1, silently dropping one side's files).
"""

from __future__ import annotations

import fcntl
import json
import os
import uuid
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    InputPartition,
    WriterCommitMessage,
)

MANIFEST = "_MANIFEST.json"

def _arrow_json_schema(schema):
    """pyarrow schema for the JSON fast path, or None if any field
    needs the row path (temporal / nested types)."""
    import pyarrow as pa
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        StringType,
    )

    m = {
        LongType: pa.int64(),
        IntegerType: pa.int32(),
        DoubleType: pa.float64(),
        FloatType: pa.float32(),
        StringType: pa.string(),
        BooleanType: pa.bool_(),
    }
    fields = []
    for f in schema.fields:
        t = m.get(type(f.dataType))
        if t is None:
            return None
        fields.append(pa.field(f.name, t))
    return pa.schema(fields)


def _require_local_path(path: str) -> str:
    """Fail fast on URI schemes this os-level committer cannot serve."""
    scheme, sep, _ = path.partition("://")
    if sep and scheme not in ("file",):
        raise ValueError(
            f"jsonl_manifest: path {path!r} uses scheme {scheme!r}; this "
            "sink stages and commits via os file ops and requires a "
            "filesystem shared by driver and executors (local path or "
            "file://)"
        )
    return path.removeprefix("file://")


@contextmanager
def _commit_lock(path: str):
    """Exclusive per-table commit lock (flock on ``<path>/_commit.lock``).

    Held across the whole read-merge-publish sequence so concurrent
    writers (two streams, or a stream plus a batch job) serialize
    their manifest versions instead of both publishing v<N+1> and
    silently losing one side's committed files.
    """
    os.makedirs(path, exist_ok=True)
    fd = os.open(os.path.join(path, "_commit.lock"), os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def _publish_manifest(path: str, manifest: dict, commit_id: str) -> None:
    """Immutable snapshot first (O_EXCL — a collision here means the
    commit lock was bypassed and MUST surface, not silently overwrite),
    then the atomic HEAD pointer swap."""
    vdir = os.path.join(path, "_versions")
    os.makedirs(vdir, exist_ok=True)
    with open(
        os.path.join(vdir, f"v{manifest['version']}.json"), "x"
    ) as fh:
        json.dump(manifest, fh)
    tmp = os.path.join(path, f"{MANIFEST}.{commit_id}.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, os.path.join(path, MANIFEST))  # atomic publish


class JsonlCommitMessage(WriterCommitMessage):
    def __init__(self, staged_name: str, n_rows: int):
        self.staged_name = staged_name
        self.n_rows = n_rows


def _write_batches_jsonl(fh, fields, batches) -> int:
    """Serialize Arrow RecordBatches to sorted-key JSONL lines.

    ``json.dumps`` keeps doubles exact (``float.__repr__`` is shortest
    round-trip) — pandas ``to_json`` caps at 15 significant digits and
    would corrupt the low bits, so the per-row encoder stays; the Arrow
    writer's win is skipping the per-row Row-object materialization on
    the Spark→Python transfer (measured ~2× on the 100k-row stream
    sink query).
    """
    n = 0
    dumps = json.dumps
    for batch in batches:
        for d in batch.to_pylist():
            for f in fields:
                v = d[f]
                if v is not None and not isinstance(
                    v, (str, int, float, bool)
                ):
                    d[f] = str(v)
            fh.write(dumps(d, sort_keys=True) + "\n")
            n += 1
    return n


class JsonlManifestWriter(DataSourceArrowWriter):
    def __init__(self, options, schema, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonl_manifest: .save(path) is required")
        self.path = _require_local_path(self.path)
        self.fields = [f.name for f in schema.fields]
        self.overwrite = overwrite
        # chosen on the DRIVER, shipped inside the pickled writer: every
        # task of this job stages under the same job directory
        self.job_id = uuid.uuid4().hex

    # -- executor side ---------------------------------------------------
    def write(self, iterator: Iterator) -> JsonlCommitMessage:
        staging = os.path.join(self.path, "_staging", self.job_id)
        os.makedirs(staging, exist_ok=True)
        name = f"task-{uuid.uuid4().hex}.jsonl"
        with open(os.path.join(staging, name), "w") as fh:
            n = _write_batches_jsonl(fh, self.fields, iterator)
        return JsonlCommitMessage(name, n)

    # -- driver side -----------------------------------------------------
    def commit(self, messages) -> None:
        import shutil

        staging = os.path.join(self.path, "_staging", self.job_id)
        committed = []
        for i, m in enumerate(messages):
            if m is None:
                continue
            final = f"part-{i:05d}-{self.job_id}.jsonl"
            os.replace(
                os.path.join(staging, m.staged_name),
                os.path.join(self.path, final),
            )
            committed.append({"file": final, "n_rows": m.n_rows})
        with _commit_lock(self.path):
            prev = _read_manifest(self.path)
            version = (prev["version"] + 1) if prev else 1
            files = committed if self.overwrite or prev is None else (
                prev["files"] + committed
            )
            manifest = {
                "files": files,
                "job_id": self.job_id,
                "version": version,
            }
            if prev is not None and not self.overwrite:
                # append commits carry auxiliary manifest state forward
                # (e.g. the streaming layer's (stream_id, batch_id)
                # provenance log); overwrite starts a fresh table state
                for k, v in prev.items():
                    if k not in manifest:
                        manifest[k] = v
            _publish_manifest(self.path, manifest, self.job_id)
        shutil.rmtree(staging, ignore_errors=True)

    def abort(self, messages) -> None:
        import shutil

        shutil.rmtree(
            os.path.join(self.path, "_staging", self.job_id),
            ignore_errors=True,
        )


def _read_manifest(path: str, version: int | None = None) -> dict | None:
    """HEAD manifest, or the immutable snapshot for ``version``."""
    if version is not None:
        with open(
            os.path.join(path, "_versions", f"v{version}.json")
        ) as fh:
            return json.load(fh)
    head = os.path.join(path, MANIFEST)
    if not os.path.exists(head):
        return None
    with open(head) as fh:
        m = json.load(fh)
    m.setdefault("version", 1)  # pre-versioning manifests
    return m


class _FilePartition(InputPartition):
    def __init__(self, idx: int, fname: str):
        super().__init__(idx)
        self.fname = fname


class JsonlManifestReader(DataSourceReader):
    def __init__(self, options, schema):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonl_manifest: .load(path) is required")
        self.schema = schema
        v = options.get("version")
        self.version = int(v) if v is not None else None

    def partitions(self):
        m = _read_manifest(self.path, self.version)
        if m is None:
            raise FileNotFoundError(
                f"jsonl_manifest: no manifest at {self.path}"
            )
        files = [e["file"] for e in m["files"]]
        return [_FilePartition(i, f) for i, f in enumerate(files)]

    def read(self, partition: _FilePartition):
        from pyspark.sql.types import (
            DateType,
            TimestampNTZType,
            TimestampType,
        )

        fpath = os.path.join(self.path, partition.fname)
        pa_schema = _arrow_json_schema(self.schema)
        if pa_schema is not None:
            # Arrow fast path: pyarrow's C++ JSON parser with the
            # declared schema yields RecordBatches directly (Spark 4
            # DataSourceReader.read accepts them) — no per-row Python.
            # strtod is correctly-rounded, so doubles written via
            # json.dumps (shortest repr) round-trip bit-exactly.
            import pyarrow as pa
            import pyarrow.json as pajson

            if os.path.getsize(fpath) == 0:  # 0-row task file
                return
            tbl = pajson.read_json(
                fpath,
                parse_options=pajson.ParseOptions(
                    explicit_schema=pa_schema,
                    unexpected_field_behavior="ignore",
                ),
            )
            # a file where a column is null on EVERY row parses as all
            # null regardless; select() restores declared field order
            yield from tbl.select(pa_schema.names).to_batches()
            return

        convs = []
        for f in self.schema.fields:
            if isinstance(f.dataType, (TimestampType, TimestampNTZType)):
                from datetime import datetime

                convs.append((f.name, lambda s: datetime.fromisoformat(s)))
            elif isinstance(f.dataType, DateType):
                from datetime import date

                convs.append((f.name, lambda s: date.fromisoformat(s)))
            else:
                convs.append((f.name, lambda v: v))
        with open(os.path.join(self.path, partition.fname)) as fh:
            for line in fh:
                d = json.loads(line)
                yield tuple(
                    conv(d[name]) if d.get(name) is not None else None
                    for name, conv in convs
                )


class JsonlStreamWriter(DataSourceStreamArrowWriter):
    """Streaming flavor of the manifest commit protocol — exactly-once
    across micro-batch REPLAYS.

    Structured Streaming's contract is at-least-once delivery of each
    micro-batch to the sink: after a crash between sink commit and
    checkpoint advance, the SAME batchId is replayed.  The batch
    writer's job-level atomicity doesn't cover that (each replay is a
    new job).  Here the manifest itself carries a per-stream high-water
    mark (``stream_batches[stream_id] = last committed batchId``), and
    ``commit(messages, batchId)`` is IDEMPOTENT: a replayed batch is
    detected BEFORE any file moves and dropped wholesale — the
    Delta/Iceberg txn-log trick (sink-side transactional dedup by
    (streamId, batchId)) on the DataSource streaming-write API.

    Tasks stage exactly like the batch writer (task-unique files under
    ``_staging/``; a retried task stages a different file); commit
    appends the successful attempts to the manifest as version N+1.
    ``option("stream_id", ...)`` namespaces multiple streams writing to
    one table (default ``"default"``).
    """

    def __init__(self, options, schema):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonl_manifest: .start(path) is required")
        self.path = _require_local_path(self.path)
        self.fields = [f.name for f in schema.fields]
        self.stream_id = options.get("stream_id", "default")

    def _staging(self) -> str:
        # DETERMINISTIC from (path, stream_id): unlike the batch writer,
        # the streaming runtime re-creates the data source independently
        # for executor write() and driver commit(), so instance-random
        # state (a uuid picked in __init__) would diverge between the
        # two and commit would look in the wrong directory.  Per-stream
        # micro-batches are sequential, so the shared directory never
        # holds two in-flight batches of one stream; concurrent STREAMS
        # are namespaced by stream_id.
        return os.path.join(self.path, "_staging", f"stream-{self.stream_id}")

    # -- executor side, once per task per micro-batch --------------------
    def write(self, iterator: Iterator) -> JsonlCommitMessage:
        staging = self._staging()
        os.makedirs(staging, exist_ok=True)
        name = f"task-{uuid.uuid4().hex}.jsonl"
        with open(os.path.join(staging, name), "w") as fh:
            n = _write_batches_jsonl(fh, self.fields, iterator)
        return JsonlCommitMessage(name, n)

    # -- driver side, once per micro-batch -------------------------------
    def commit(self, messages, batchId: int) -> None:
        import shutil

        staging = self._staging()
        with _commit_lock(self.path):
            prev = _read_manifest(self.path)
            seen = (prev or {}).get("stream_batches", {})
            last = seen.get(self.stream_id)
            if last is not None and batchId <= last:
                # replayed micro-batch (crash between sink commit and
                # checkpoint advance): drop it BEFORE any file is
                # published
                shutil.rmtree(staging, ignore_errors=True)
                return
            commit_id = uuid.uuid4().hex
            committed = []
            for i, m in enumerate(messages):
                if m is None:
                    continue
                final = (
                    f"part-b{batchId:06d}-{i:05d}-{self.stream_id}.jsonl"
                )
                os.replace(
                    os.path.join(staging, m.staged_name),
                    os.path.join(self.path, final),
                )
                committed.append({"file": final, "n_rows": m.n_rows})
            version = (prev["version"] + 1) if prev else 1
            manifest = dict(prev or {})
            manifest["files"] = (prev["files"] if prev else []) + committed
            manifest["job_id"] = commit_id
            manifest["version"] = version
            manifest["stream_batches"] = {**seen, self.stream_id: batchId}
            _publish_manifest(self.path, manifest, commit_id)
        # also clears any orphan files a FAILED task attempt staged
        shutil.rmtree(staging, ignore_errors=True)

    def abort(self, messages, batchId: int) -> None:
        import shutil

        shutil.rmtree(self._staging(), ignore_errors=True)


class JsonlManifestDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "jsonl_manifest"

    def writer(self, schema, overwrite: bool) -> JsonlManifestWriter:
        return JsonlManifestWriter(self.options, schema, overwrite)

    def reader(self, schema) -> JsonlManifestReader:
        return JsonlManifestReader(self.options, schema)

    def streamWriter(self, schema, overwrite: bool) -> JsonlStreamWriter:
        return JsonlStreamWriter(self.options, schema)


def register_jsonl_manifest(spark) -> None:
    spark.dataSource.register(JsonlManifestDataSource)
