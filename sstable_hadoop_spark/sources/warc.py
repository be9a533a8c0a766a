"""WARC source + sink (`spark.read.format("warc")`): the Web ARChive
format (ISO 28500 / WARC 1.0 — the public spec; the format CommonCrawl
and every large-scale web corpus ships as, and therefore the ingest
boundary of a 100 TB training-data pipeline).

Layout (from the public spec): a WARC file is a sequence of records —

    WARC/1.0\r\n
    <Name>: <value>\r\n ...          (folded continuations tolerated)
    \r\n
    <Content-Length payload bytes>
    \r\n\r\n                         (record separator)

``.warc.gz`` files concatenate one gzip member PER RECORD (the spec's
recommendation), so readers can skip to member boundaries; Python's
``gzip`` reads concatenated members transparently.

Scale design: gzip members are not byte-addressable without an
external index, so a bare file's unit of parallelism is the FILE —
exactly how every production WARC processor shards (CommonCrawl
publishes ~1 GiB files in the tens of thousands per crawl;
parallelism = file count).  The reader plans one partition per file,
decompresses streamingly (constant memory per task), and emits Arrow
record batches.  The sink writes one ``part-{taskid}.warc.gz`` per
Spark partition — ``df.repartition(n)`` upstream chooses the shard
count/size — AND a ``.cdx`` member-index sidecar (r8: the minimal
(offset, length)-per-member subset of what a CDX index provides);
files over ``max_split_bytes`` that carry a valid index are split at
member boundaries across tasks, so one huge archive no longer
serializes through one task.  Indexless foreign archives keep the
file-per-task behavior unchanged.

Reference scope note: the reference engine reads only its SSTable
format (SSTableDataLoader.scala); WARC is a beyond-reference source
completing the LLM-pipeline ingest path (SURVEY.md §2.13).
"""

from __future__ import annotations

import gzip
import hashlib
import io
import os
from dataclasses import dataclass
from typing import BinaryIO, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from . import fs

CRLF = b"\r\n"

WARC_SCHEMA = StructType([
    StructField("record_id", StringType()),
    StructField("warc_type", StringType()),
    StructField("target_uri", StringType()),
    StructField("warc_date", StringType()),
    StructField("content_type", StringType()),
    StructField("content_length", LongType()),
    StructField("headers", MapType(StringType(), StringType())),
    StructField("payload", BinaryType()),
    StructField("http_status", IntegerType()),
    StructField("http_body", BinaryType()),
    StructField("path", StringType()),
])

_BATCH_ROWS = 256

#: The one header ISO 28500 permits multiple times per record.
_REPEATABLE_HEADERS = {"warc-concurrent-to"}


class WarcRecord:
    __slots__ = ("headers", "payload")

    def __init__(self, headers: dict[str, str], payload: bytes) -> None:
        self.headers = headers
        self.payload = payload


def parse_warc(f: BinaryIO) -> Iterator[WarcRecord]:
    """Iterate records from an UNCOMPRESSED WARC byte stream.  Header
    names are case-preserved as written; lookup helpers below are
    case-insensitive.  Tolerates LF-only line endings and folded
    (indented) continuation lines; raises ValueError on a record
    without Content-Length or a truncated payload."""
    while True:
        line = f.readline()
        if not line:
            return
        version = line.rstrip(b"\r\n")
        if not version:           # stray separator blank lines
            continue
        if not version.startswith(b"WARC/"):
            raise ValueError(
                f"expected WARC/x.y version line, got {version[:40]!r}")
        headers: dict[str, str] = {}
        last: str | None = None
        while True:
            raw = f.readline()
            if not raw:
                raise ValueError("truncated WARC header block")
            hline = raw.rstrip(b"\r\n")
            if not hline:
                break
            if hline[:1] in (b" ", b"\t") and last is not None:
                headers[last] += " " + hline.strip().decode(
                    "utf-8", "replace")
                continue
            name, _, value = hline.partition(b":")
            last = name.decode("utf-8", "replace").strip()
            val = value.decode("utf-8", "replace").strip()
            # ISO 28500 names exactly one repeatable field
            # (WARC-Concurrent-To): accumulate it comma-joined under
            # the first-seen casing.  Everything else stays last-wins
            # — accumulating e.g. a (spec-invalid, wild-occurring)
            # duplicate Content-Length would turn a readable record
            # into an int() parse failure.
            if last.lower() in _REPEATABLE_HEADERS:
                for k in headers:
                    if k.lower() == last.lower():
                        headers[k] += ", " + val
                        last = k
                        break
                else:
                    headers[last] = val
            else:
                headers[last] = val
        n = _header(headers, "Content-Length")
        if n is None:
            raise ValueError(
                f"WARC record without Content-Length: {headers}")
        payload = f.read(int(n))
        if len(payload) != int(n):
            raise ValueError(
                f"truncated WARC payload: expected {n} bytes, "
                f"got {len(payload)}")
        yield WarcRecord(headers, payload)
        # consume the record separator (two blank lines); tolerate EOF
        for _ in range(2):
            pos_line = f.readline()
            if pos_line not in (b"\r\n", b"\n", b""):
                raise ValueError(
                    f"malformed WARC record separator: {pos_line[:40]!r}")


def _header(headers: dict[str, str], name: str) -> str | None:
    lname = name.lower()
    for k, v in headers.items():
        if k.lower() == lname:
            return v
    return None


def open_warc(path: str) -> BinaryIO:
    """Open a .warc / .warc.gz for streaming reads (multi-member gzip
    decoded transparently)."""
    raw = fs.open_input(path)
    if path.endswith(".gz"):
        return gzip.GzipFile(fileobj=raw, mode="rb")  # type: ignore
    return raw


def split_http_payload(payload: bytes) -> tuple[int | None, bytes]:
    """A ``response`` record's payload is an HTTP message: status line,
    headers, blank line, body (the spec's application/http content
    type).  Returns (status_code, body); (None, payload) when no HTTP
    envelope is present."""
    if not payload.startswith(b"HTTP/"):
        return None, payload
    sep = payload.find(b"\r\n\r\n")
    seplen = 4
    if sep < 0:
        sep = payload.find(b"\n\n")
        seplen = 2
    if sep < 0:
        return None, payload
    status_line = payload[:payload.find(b"\n")].split()
    try:
        status = int(status_line[1])
    except (IndexError, ValueError):
        return None, payload
    return status, payload[sep + seplen:]


def write_warc_records(out: BinaryIO, records, compress: bool = True,
                       index: list[tuple[int, int]] | None = None):
    """Write records as one gzip member each (uncompressed when
    ``compress=False``).  ``records`` yields dicts with target_uri,
    payload, and optional warc_type / content_type / warc_date /
    record_id; defaults are deterministic (record id = md5 urn of
    (uri, date), fixed gzip mtime) so re-runs write identical bytes.

    ``index``: a list to receive one ``(byte_offset, byte_length)``
    per member/record written — the member index the sink persists as
    a ``.cdx`` sidecar so readers can split the file (the role a CDX
    index plays for CommonCrawl WARCs; see ``write_member_index``)."""
    pos = 0
    for r in records:
        uri = r.get("target_uri") or ""
        date = r.get("warc_date") or "2013-01-01T00:00:00Z"
        rid = r.get("record_id") or (
            "<urn:md5:"
            + hashlib.md5(f"{uri}\n{date}".encode()).hexdigest() + ">")
        payload = bytes(r.get("payload") or b"")
        headers = [
            ("WARC-Type", r.get("warc_type") or "resource"),
            ("WARC-Record-ID", rid),
            ("WARC-Date", date),
            ("WARC-Target-URI", uri),
            ("Content-Type", r.get("content_type") or "text/plain"),
            ("Content-Length", str(len(payload))),
        ]
        buf = io.BytesIO()
        buf.write(b"WARC/1.0" + CRLF)
        for k, v in headers:
            if v:
                buf.write(f"{k}: {v}".encode() + CRLF)
        buf.write(CRLF)
        buf.write(payload)
        buf.write(CRLF + CRLF)
        member = buf.getvalue()
        if compress:
            z = io.BytesIO()
            with gzip.GzipFile(fileobj=z, mode="wb", mtime=0) as gz:
                gz.write(member)
            member = z.getvalue()
        out.write(member)
        if index is not None:
            index.append((pos, len(member)))
        pos += len(member)


#: Sidecar suffix for the member index.  Real CDX(J) carries
#: urlkey/timestamp/digest fields for replay lookup; this engine only
#: needs the byte-addressability half — (offset, length) per gzip
#: member — so the sidecar is that minimal subset, versioned by a
#: magic header so it is never confused for spec CDX.
INDEX_SUFFIX = ".cdx"
_INDEX_MAGIC = "warc-member-index v1"


def write_member_index(path: str, index: list[tuple[int, int]],
                       total_bytes: int) -> None:
    """Persist the member index for one WARC file: header line
    ``warc-member-index v1 <n_members> <total_bytes>``, then one
    ``<offset> <length>`` line per member.  ``total_bytes`` binds the
    sidecar to the exact file contents — a reader whose file size
    disagrees treats the index as stale and falls back to whole-file
    scanning (never a wrong split)."""
    lines = [f"{_INDEX_MAGIC} {len(index)} {total_bytes}"]
    lines += [f"{off} {ln}" for off, ln in index]
    fs.write_bytes(path, ("\n".join(lines) + "\n").encode())


def load_member_index(warc_path: str) -> list[tuple[int, int]] | None:
    """Member index for ``warc_path`` if a VALID sidecar exists, else
    None.  Valid = magic header, counts parse, members contiguous from
    offset 0, and total equal to the file's actual size — so a stale
    sidecar (file rewritten without its index) can never mis-split."""
    sidecar = warc_path + INDEX_SUFFIX
    if not fs.is_file(sidecar):
        return None
    try:
        lines = fs.read_bytes(sidecar).decode().splitlines()
        head = lines[0].rsplit(" ", 2)
        if head[0] != _INDEX_MAGIC:
            return None
        n, total = int(head[1]), int(head[2])
        index = [(int(o), int(ln))
                 for o, ln in (line.split() for line in lines[1:n + 1])]
        if len(index) != n or total != fs.file_size(warc_path):
            return None
        pos = 0
        for off, ln in index:
            if off != pos or ln <= 0:
                return None
            pos += ln
        if pos != total:
            return None
        return index
    except (OSError, ValueError, IndexError, UnicodeDecodeError):
        return None


class _RangeRaw(io.RawIOBase):
    """Bounded reader over an already-positioned seekable stream —
    hands gzip/parse exactly one split's bytes and EOFs there."""

    def __init__(self, f, length: int) -> None:
        self._f = f
        self._left = length

    def readable(self) -> bool:
        return True

    def readinto(self, b) -> int:
        if self._left <= 0:
            return 0
        data = self._f.read(min(len(b), self._left))
        n = len(data)
        b[:n] = data
        self._left -= n
        return n

    def close(self) -> None:
        try:
            self._f.close()
        finally:
            super().close()


def open_warc_range(path: str, start: int, length: int) -> BinaryIO:
    """Open one member-aligned byte range of a .warc / .warc.gz for
    streaming reads.  Gzip members are self-contained, so a range that
    starts on a member boundary (as the member index guarantees)
    decodes independently of the rest of the file — this is what makes
    a single 100 GiB archive splittable across tasks."""
    raw = fs.open_input(path)
    raw.seek(start)
    bounded = io.BufferedReader(_RangeRaw(raw, length))
    if path.endswith(".gz"):
        return gzip.GzipFile(fileobj=bounded, mode="rb")  # type: ignore
    return bounded


class _WarcFilePartition(InputPartition):
    def __init__(self, path: str, start: int = 0,
                 length: int = -1) -> None:
        self.path = path
        self.start = start
        self.length = length  # -1 = whole file


class WarcReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("warc source requires a path")
        project = options.get("columns")
        self.project = (tuple(c.strip() for c in project.split(",")
                              if c.strip()) if project else None)
        known = {f.name for f in WARC_SCHEMA.fields}
        if self.project and not set(self.project) <= known:
            raise ValueError(
                f"unknown warc columns: "
                f"{sorted(set(self.project) - known)}")
        self.ignore_corrupt = str(options.get("ignore_corrupt_files",
                                              "false")).lower() == "true"
        self.max_split = int(options.get("max_split_bytes",
                                         128 * 1024 * 1024))

    def partitions(self):
        if fs.is_file(self.path):
            files = [self.path]
        else:
            files = sorted(
                f for suffix in (".warc", ".warc.gz")
                for f in fs.list_files(self.path, suffix)
                # skip in-flight/aborted sink temps and hidden files
                # (the Hadoop convention the sink's commit relies on)
                if not os.path.basename(f).startswith((".", "_")))
        # One partition per file — the WARC unit of parallelism (see
        # module doc) — EXCEPT files over max_split_bytes that carry a
        # valid member index (this sink writes one; a CommonCrawl-style
        # CDX converts): those split at member boundaries, so one huge
        # archive no longer serializes through one task.  Empty dir →
        # one empty partition so the scan yields 0 rows instead of
        # failing to plan.
        parts = []
        for f in files:
            parts.extend(self._plan_file(f))
        return parts or [_WarcFilePartition("")]

    def _plan_file(self, f: str) -> list[_WarcFilePartition]:
        try:
            size = fs.file_size(f)
        except OSError:
            return [_WarcFilePartition(f)]
        if size <= self.max_split:
            return [_WarcFilePartition(f)]
        index = load_member_index(f)
        if not index:
            return [_WarcFilePartition(f)]  # not splittable: one task
        parts, start, length = [], 0, 0
        for off, ln in index:
            if length and length + ln > self.max_split:
                parts.append(_WarcFilePartition(f, start, length))
                start, length = off, 0
            length += ln
        if length:
            parts.append(_WarcFilePartition(f, start, length))
        return parts

    def read(self, partition: _WarcFilePartition):
        import pyarrow as pa

        if not partition.path:
            return
        cols = self.project or tuple(f.name for f in WARC_SCHEMA.fields)
        want_http = "http_status" in cols or "http_body" in cols
        rows: list[dict] = []

        def flush():
            arrays, names = [], []
            spark_to_arrow = {
                "record_id": pa.string(), "warc_type": pa.string(),
                "target_uri": pa.string(), "warc_date": pa.string(),
                "content_type": pa.string(),
                "content_length": pa.int64(),
                "headers": pa.map_(pa.string(), pa.string()),
                "payload": pa.binary(), "http_status": pa.int32(),
                "http_body": pa.binary(), "path": pa.string(),
            }
            for c in cols:
                arrays.append(pa.array([r[c] for r in rows],
                                       type=spark_to_arrow[c]))
                names.append(c)
            rows.clear()
            return pa.RecordBatch.from_arrays(arrays, names)

        try:
            with (open_warc(partition.path) if partition.length < 0 else
                  open_warc_range(partition.path, partition.start,
                                  partition.length)) as f:
                for rec in parse_warc(f):
                    h = rec.headers
                    status, body = (split_http_payload(rec.payload)
                                    if want_http else (None, None))
                    n = _header(h, "Content-Length")
                    rows.append({
                        "record_id": _header(h, "WARC-Record-ID"),
                        "warc_type": _header(h, "WARC-Type"),
                        "target_uri": _header(h, "WARC-Target-URI"),
                        "warc_date": _header(h, "WARC-Date"),
                        "content_type": _header(h, "Content-Type"),
                        "content_length":
                            int(n) if n is not None else None,
                        "headers": list(h.items()),
                        "payload": rec.payload,
                        "http_status": status,
                        "http_body": body,
                        "path": partition.path,
                    })
                    if len(rows) >= _BATCH_ROWS:
                        yield flush()
        except (OSError, ValueError, EOFError):
            if not self.ignore_corrupt:
                raise
            rows.clear()
            return
        if rows:
            yield flush()


@dataclass
class _WarcCommit(WriterCommitMessage):
    files: list


class WarcWriteTask(DataSourceWriter):
    """One ``part-{taskid}-{job}.warc[.gz]`` per Spark partition;
    required input columns (target_uri, payload), optional (warc_type,
    content_type, warc_date, record_id).

    Commit protocol (ADVICE r6): each task writes a HIDDEN temp
    (``.part-…-{tid}-{job}….tmp`` — the reader skips dot/underscore
    names), and only the driver-side ``commit()`` renames successful
    tasks' temps to their final names, then sweeps this job's leftover
    temps from failed/speculative attempts.  The job token — minted
    once on the driver when the writer is constructed — keys the final
    names too, so ``mode('append')`` into a directory holding a
    previous job's output can never collide with (and silently
    truncate) those files, and a crashed job leaves only ignorable
    temps, never a torn final-named file."""

    def __init__(self, options: dict) -> None:
        import uuid

        self.path = options.get("path")
        if not self.path:
            raise ValueError("warc sink requires a path")
        self.compress = str(options.get("compress",
                                        "true")).lower() == "true"
        self.index = str(options.get("index", "true")).lower() == "true"
        self.token = uuid.uuid4().hex[:12]

    def write(self, iterator) -> _WarcCommit:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        # taskAttemptId, unlike attemptNumber, is unique across stage
        # REATTEMPTS: a zombie task of a failed stage attempt and its
        # replacement never share a temp
        pid, tid = ctx.partitionId(), ctx.taskAttemptId()
        ext = ".warc.gz" if self.compress else ".warc"
        final = os.path.join(self.path,
                             f"part-{pid:05d}-{self.token}{ext}")
        tmp = os.path.join(
            self.path,
            f".part-{pid:05d}-{tid}-{self.token}{ext}.tmp")
        it = iter(iterator)
        try:
            first = next(it)
        except StopIteration:
            return _WarcCommit(files=[])

        def gen():
            import itertools

            for row in itertools.chain([first], it):
                d = row.asDict()
                if d.get("payload") is not None:
                    d["payload"] = bytes(d["payload"])
                yield d

        fs.makedirs(self.path)
        index: list[tuple[int, int]] | None = [] if self.index else None
        with fs.open_output(tmp) as out:
            write_warc_records(out, gen(), compress=self.compress,
                               index=index)
        pairs = [(tmp, final)]
        if index is not None:
            # the member-index sidecar rides the same hidden-temp +
            # driver-rename protocol as its data file (temp keeps the
            # .tmp suffix so the token sweep reaps orphans of both);
            # total_bytes binds it to these exact bytes, so a reader
            # can never split a file against a stale index
            side_tmp = tmp[:-len(".tmp")] + INDEX_SUFFIX + ".tmp"
            write_member_index(side_tmp, index, fs.file_size(tmp))
            pairs.append((side_tmp, final + INDEX_SUFFIX))
        return _WarcCommit(files=pairs)

    def commit(self, messages) -> None:
        for m in messages:
            if m is not None:
                for tmp, final in m.files:
                    fs.rename(tmp, final)
        self._sweep_temps()

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None:
                for tmp, _ in m.files:
                    try:
                        fs.remove(tmp)
                    except OSError:
                        pass
        self._sweep_temps()

    def _sweep_temps(self) -> None:
        """Drop THIS job's orphan temps (failed/speculative attempts
        that returned no commit message).  Other jobs' files — final
        or in-flight — carry a different token and are untouched."""
        for f in fs.list_dir(self.path):
            name = os.path.basename(f)
            if (name.startswith(".part-") and self.token in name
                    and name.endswith(".tmp")):
                try:
                    fs.remove(f)
                except OSError:
                    pass


class WarcDataSource(DataSource):
    """``spark.read.format("warc")`` / ``df.write.format("warc")``.

    Read options:
      path                  directory (recursed, *.warc / *.warc.gz)
                            or a single file
      columns               comma list — prunes the scan (HTTP payload
                            parsing skipped unless http_* requested)
      ignore_corrupt_files  skip unparseable files (default false)
      max_split_bytes       target split size (default 128 MiB); files
                            over it with a valid .cdx member index are
                            split at member boundaries
    Write options:
      path, compress (default true — one gzip member per record),
      index (default true — write the .cdx member-index sidecar)
    """

    @classmethod
    def name(cls) -> str:
        return "warc"

    def schema(self) -> StructType:
        project = self.options.get("columns")
        if not project:
            return WARC_SCHEMA
        names = [c.strip() for c in project.split(",") if c.strip()]
        fields = {f.name: f for f in WARC_SCHEMA.fields}
        return StructType([fields[n] for n in names if n in fields])

    def reader(self, schema: StructType) -> WarcReader:
        return WarcReader(dict(self.options))

    def writer(self, schema: StructType,
               overwrite: bool) -> WarcWriteTask:
        names = set(schema.fieldNames())
        if not {"target_uri", "payload"} <= names:
            raise ValueError(
                "warc sink requires (target_uri, payload) — got "
                f"{sorted(names)}")
        if overwrite:
            path = self.options.get("path", "")
            for suffix in (".warc", ".warc.gz",
                           ".warc" + INDEX_SUFFIX,
                           ".warc.gz" + INDEX_SUFFIX):
                for f in fs.list_files(path, suffix):
                    if (os.path.dirname(f.rstrip("/")) == path.rstrip("/")
                            and not os.path.basename(f)
                                       .startswith((".", "_"))):
                        fs.remove(f)
            # overwrite means "start fresh": also reap orphan temps
            # left by driver-crashed jobs (their commit/abort never
            # ran, and no later job's sweep matches a foreign token)
            for f in fs.list_dir(path) if fs.exists(path) else []:
                name = os.path.basename(f)
                if name.startswith(".part-") and name.endswith(".tmp"):
                    fs.remove(f)
        return WarcWriteTask(dict(self.options))
