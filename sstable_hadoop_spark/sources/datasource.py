"""PySpark Python DataSource exposing SSTable files as DataFrames:
``spark.read.format("sstable").option("kind", "data").load(dir)``.

Replaces, structurally, the reference's entire scan stack:

- ``SSTableDataInputFormat`` / ``SSTableDataRecordReader`` (whole-file
  scan, reference load/SSTableDataInputFormat.scala:12-21,
  load/SSTableDataRecordReader.scala:23-98)
- ``SplitSSTableDataInputFormat`` / ``SplitSSTableDataRecordReader``
  (manifest-driven parallel scan of compressed files, reference
  load/SplitSSTableDataInputFormat.scala:21-71,
  load/SplitSSTableDataRecordReader.scala:13-79)
- the three chained split-planning MapReduce jobs
  (tools/GenerateSSTableIndexSplits.scala,
  tools/GenerateSSTableDataSplits.scala, tools/ReadSSTableDataFile.scala)
  — their chunk/offset math (``chunksPerSplit = maxSplitSize /
  chunkLength``, GenerateSSTableDataSplits.scala:131-136) runs here at
  ``partitions()`` time instead of as a pre-job writing TSV manifests.

Scale design: planning reads only Index.db offsets (8+len bytes per
row) and CompressionInfo chunk tables — metadata, never data.  Each
partition is an independent uncompressed byte range starting at a row
boundary, so a 100 TB directory of SSTables fans out to
``total_bytes / max_split_bytes`` tasks with no driver-side data
movement.  Reading decompresses chunk-at-a-time (64 KiB peak memory),
unlike the reference's whole-split materialization
(SplitSSTableDataRecordReader.scala:58-72).

Key-range scan pruning: equality/range filters on ``key`` prune whole
partitions using the min/max key recorded per split from Index.db — a
capability the reference reads the index for but never exploits
(``setPartitionFilter`` is a no-op stub, SSTableDataLoader.scala:33).
"""

from __future__ import annotations

import fcntl
import os
import tempfile
import time
import zipfile
import struct
from dataclasses import dataclass
from typing import Callable

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from . import cassandra1x, codec, fs

CELL_STRUCT = StructType([
    StructField("name", BinaryType(), False),
    StructField("state", StringType(), False),
    StructField("data", BinaryType(), True),
    StructField("timestamp", LongType(), False),
    StructField("ttl", LongType(), True),
    StructField("expiration", LongType(), True),
])

DATA_SCHEMA = StructType([
    StructField("key", BinaryType(), False),
    StructField("columns", ArrayType(CELL_STRUCT), False),
    StructField("generation", IntegerType(), False),
])

# kind=cells: one record per CELL (the shape of operators.explode_cells
# output) — batches flush on cell count, so wide rows never materialize
# as a single nested value; prefer it when the first downstream op
# would be explode_cells anyway.
CELLS_SCHEMA = StructType([
    StructField("key", BinaryType(), False),
    StructField("name", BinaryType(), False),
    StructField("state", StringType(), False),
    StructField("data", BinaryType(), True),
    StructField("timestamp", LongType(), False),
    StructField("ttl", LongType(), True),
    StructField("expiration", LongType(), True),
    StructField("generation", IntegerType(), False),
])

INDEX_SCHEMA = StructType([
    StructField("key", BinaryType(), False),
    StructField("pos", LongType(), False),
    StructField("generation", IntegerType(), False),
])

SUMMARY_SCHEMA = StructType([
    StructField("key", BinaryType(), False),
    StructField("index_offset", LongType(), False),
    StructField("generation", IntegerType(), False),
])

# One row per planned split — the split manifest of the reference's
# Job-2 output (GenerateSSTableDataSplits.scala:213) exposed as a
# queryable DataFrame instead of a TSV.  Like the reference,
# byte_start/byte_length are FILE-space (compressed bytes for a
# compressed table: rawSplitPosition/length), inner_offset/inner_length
# locate the split's rows inside the uncompressed view of its chunk
# range (the reference's firstKeyOffset / lastKeyOffset-firstKeyOffset),
# uncompressed_length is the chunk range's uncompressed size, and
# chunks lists the compressed chunk positions the split spans.  Splits
# are planned at ROW boundaries (not chunk boundaries), so adjacent
# compressed splits may share their boundary chunk — byte ranges can
# overlap by at most one chunk; uncompressed files tile exactly.
MANIFEST_SCHEMA = StructType([
    StructField("filename", StringType(), False),
    StructField("split_index", LongType(), False),
    StructField("byte_start", LongType(), False),
    StructField("byte_length", LongType(), False),
    StructField("inner_offset", LongType(), False),
    StructField("inner_length", LongType(), False),
    StructField("uncompressed_length", LongType(), False),
    StructField("chunks", ArrayType(LongType()), True),
    StructField("generation", IntegerType(), False),
])

DEFAULT_MAX_SPLIT_BYTES = 128 * 1024 * 1024  # reference used 256 MiB
                                             # (GenerateSSTableDataSplits.scala:238)

_SCHEMAS_BY_KIND = {"data": DATA_SCHEMA, "cells": CELLS_SCHEMA,
                    "index": INDEX_SCHEMA, "summary": SUMMARY_SCHEMA,
                    "manifest": MANIFEST_SCHEMA}


@dataclass
class RangePartition(InputPartition):
    path: str
    start: int
    end: int
    generation: int
    min_key: bytes | None = None  # exact per-split key bounds from Index.db
    max_key: bytes | None = None


def _parse_columns(options: dict) -> tuple[str, ...] | None:
    """``option("columns", "key,generation")`` → validated projection
    tuple in schema-field order (None = all columns)."""
    raw = options.get("columns")
    if raw is None:
        return None
    kind = options.get("kind", "data")
    names = [c.strip() for c in str(raw).split(",") if c.strip()]
    schema = _SCHEMAS_BY_KIND.get(kind)
    if schema is None:
        raise ValueError(f"unknown kind: {kind}")
    known = schema.fieldNames()
    bad = [n for n in names if n not in known]
    if bad:
        raise ValueError(
            f"columns option names unknown field(s) {bad} for "
            f"kind={kind}; available: {known}")
    if not names:
        raise ValueError("columns option must name at least one field")
    return tuple(n for n in known if n in names)


def _list_files(path: str, suffix: str) -> list[str]:
    """Directory-listing suffix filter, the reference's P1 operator
    (SSTableDataInputFormat.scala:13-18).  Hidden entries — any
    dot/underscore path COMPONENT below the listing root, the full
    Hadoop convention — are skipped: the write sink stages in-flight
    families under dot-names (and layout code stages in dot-dirs), and
    a scan racing a write must never read a half-written Data.db (r7;
    same protocol as the WARC sink).  A path that IS an explicitly
    named file is returned as-is: naming a file directly overrides the
    hidden convention (debugging a staged temp is legitimate).  A named
    file of another component fails: no kind reads one component as
    another."""
    if fs.is_file(path):
        if not path.endswith(suffix):
            raise ValueError(f"{path} is not a *{suffix} file")
        return [path]
    root = path.rstrip("/")

    def hidden(f: str) -> bool:
        rel = f[len(root):] if f.startswith(root) else os.path.basename(f)
        return any(part.startswith((".", "_"))
                   for part in rel.split("/") if part)

    return [f for f in fs.list_files(path, suffix) if not hidden(f)]


def _orphan_companion(path: str) -> bool:
    """True when a companion file's sibling ``Data.db`` is absent.

    A driver that crashes mid-``commit()`` publishes a PREFIX of its
    rename plan: a family whose companions were renamed final but
    whose ``Data.db`` was not would otherwise be served by
    ``kind='index'/'summary'`` scans (which list companions
    independently) while being invisible to data scans — an
    inconsistent metadata view (review r8).  Data scans key off
    ``Data.db``, so guarding the companion kinds restores the
    invariant "a family is visible to ALL kinds or to NONE"; the
    sink's sweep reaps the orphaned bytes later."""
    return (codec.component_of(path) not in (None, "Data")
            and not fs.exists(codec.companion(path, "Data")))


def _cut(path: str, generation: int, total: int, samples,
         max_split: int) -> list[RangePartition]:
    """Split ``path``'s byte range [0, total) at row boundaries: walk
    the ascending ``(key, offset)`` samples and cut wherever the gap
    since the previous cut reaches ``max_split`` — the gap loop of the
    reference's G1 job (GenerateSSTableIndexSplits.scala:75-91) with
    the size target of G2 (GenerateSSTableDataSplits.scala:131-136),
    run as one metadata pass.  The last split runs to ``total``.

    Each split records the exact min/max of its sample keys (correct
    even if keys are unsorted); a sample with key None leaves its
    split unbounded, which pruning never narrows."""
    parts: list[RangePartition] = []
    split_start = 0
    lo = hi = None
    for key, pos in samples:
        if pos - split_start >= max_split:
            parts.append(RangePartition(path, split_start, pos, generation,
                                        lo, hi))
            split_start = pos
            lo = hi = None
        if key is not None:
            lo = key if lo is None or key < lo else lo
            hi = key if hi is None or key > hi else hi
    if split_start < total or not parts:
        parts.append(RangePartition(path, split_start, total, generation,
                                    lo, hi))
    return parts


def _plan_file(data_path: str, max_split: int,
               read_ci=codec.read_compression_info
               ) -> tuple[list[RangePartition], codec.CompressionInfo | None]:
    """Plan one Data.db: ``(splits, CompressionInfo or None)``.

    Splits cut at the row offsets Index.db records, so every split
    starts at a row and carries exact key bounds.  Without an Index.db
    companion the file stays one split — the reference's unsplittable
    whole-file mode (SSTableDataInputFormat.scala:20
    ``isSplitable=false``).  ``read_ci`` parses the CompressionInfo.db
    companion in the file's format."""
    ci_path = codec.companion(data_path, "CompressionInfo")
    info = read_ci(ci_path) if fs.exists(ci_path) else None
    total = (info.uncompressed_length if info is not None
             else fs.file_size(data_path))
    index_path = codec.companion(data_path, "Index")
    samples = (codec.read_index_entries(index_path)
               if fs.exists(index_path) else ())
    return (_cut(data_path, codec.generation_of(data_path), total,
                 samples, max_split), info)


def _native_batches(reader: "SSTableReader", p: RangePartition,
                    flat: bool, skipped: list):
    read = codec.read_cell_batches if flat else codec.read_data_batches
    return read(p.path, p.start, p.end, generation=p.generation,
                skip_values=reader.skip_values, project=reader.project)


def _cassandra_batches(reader: "SSTableReader", p: RangePartition,
                       flat: bool, skipped: list):
    # the 1.x parser decodes whole rows; the Arrow views only narrow
    # what crosses into Spark
    return codec.rows_to_batches(
        cassandra1x.read_cassandra_rows(
            p.path, p.start, p.end, on_unsupported=reader.on_unsupported,
            skipped=skipped),
        generation=p.generation, skip_values=reader.skip_values,
        project=reader.project, flat=flat)


def _native_family(directory: str, name: str, generation: int, rows,
                   **layout) -> list[str]:
    return list(codec.write_sstable(directory, name, rows,
                                    generation=generation,
                                    **layout).values())


@dataclass(frozen=True)
class _Format:
    """What differs between the on-disk formats.  Every format-specific
    step of the source and the sink dispatches through this record,
    looked up once from the ``format`` option.  The chunk checksum
    stays with each format's chunk reader and writer."""

    read_compression_info: Callable
    read_summary: Callable
    #: (reader, partition, flat, skipped) → Arrow batches of one split
    batches: Callable
    #: (dir, name, generation, key-sorted rows, compressed=,
    #: chunk_length=, summary_rate=) → written paths
    write_family: Callable
    #: whether -Filter.db may prune point lookups: a real Cassandra
    #: Filter.db is another serialization, and misparsing it must
    #: never prune
    bloom_prunes: bool


_FORMATS = {
    # this package's layout (codec.py)
    "native": _Format(codec.read_compression_info,
                      codec.read_summary_entries, _native_batches,
                      _native_family, bloom_prunes=True),
    # real Apache Cassandra 1.x files, best-effort (cassandra1x.py)
    "cassandra": _Format(cassandra1x.read_cassandra_compression_info,
                         cassandra1x.read_cassandra_summary_entries,
                         _cassandra_batches,
                         cassandra1x.write_cassandra_family,
                         bloom_prunes=False),
}


def _format(options: dict) -> _Format:
    name = options.get("format", "native")
    if name not in _FORMATS:
        raise ValueError(f"unknown format {name!r}: expected "
                         f"{' | '.join(_FORMATS)}")
    return _FORMATS[name]


class SSTableReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("sstable source requires a path")
        self.kind = options.get("kind", "data")
        self.fmt = _format(options)
        self.max_split = int(options.get("max_split_bytes",
                                         DEFAULT_MAX_SPLIT_BYTES))
        # Spark convention: skip unreadable files instead of failing the
        # job (torn writes, partial uploads). Default false = fail fast.
        self.ignore_corrupt = str(options.get("ignore_corrupt_files",
                                              "false")).lower() == "true"
        # format=cassandra only: error (default) | skip for columns
        # outside the 3-variant model (counters, range tombstones) —
        # real backups can contain them (cassandra1x.py module doc)
        self.on_unsupported = str(options.get("on_unsupported", "error"))
        if self.on_unsupported not in ("error", "skip"):
            raise ValueError(
                f"on_unsupported must be error|skip, "
                f"got {self.on_unsupported!r}")
        # Explicit column projection — the pruning Catalyst cannot push
        # through the Python DataSource API.  columns= narrows the scan
        # schema itself (codec skips materializing pruned fields);
        # skip_values= keeps the schema but nulls cell data without
        # slicing the value bytes.
        self.project = _parse_columns(dict(options))
        self.skip_values = str(options.get("skip_values",
                                           "false")).lower() == "true"
        self._key_lo: bytes | None = None  # inclusive
        self._key_hi: bytes | None = None  # inclusive
        self._gen_lo: int | None = None    # inclusive
        self._gen_hi: int | None = None    # inclusive
        self._gen_in: set[int] | None = None

    def pushFilters(self, filters: list[Filter]):
        """Key-range scan pruning from Index.db split bounds — the
        capability the reference's no-op ``setPartitionFilter`` stub
        never implemented (SSTableDataLoader.scala:33).

        Filters are used ONLY to prune whole partitions; every filter is
        returned to Spark, which re-applies them post-scan, so pruning
        can never change results — only skip unreadable-anyway splits.
        """
        def as_bytes(v):
            if isinstance(v, (bytes, bytearray)):
                return bytes(v)
            if isinstance(v, str):
                return v.encode("utf-8")
            return None

        if self.kind in ("data", "cells"):
            for f in filters:
                attr = getattr(f, "attribute", None)
                if attr != ("key",):
                    continue
                v = as_bytes(getattr(f, "value", None))
                if v is None:
                    continue
                if isinstance(f, EqualTo):
                    self._tighten(v, v)
                elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                    self._tighten(v, None)
                elif isinstance(f, (LessThan, LessThanOrEqual)):
                    self._tighten(None, v)
        # generation is derivable from the FILENAME, so generation
        # predicates prune whole files at plan time, exactly — the
        # incremental-consumer pattern (generation > last_processed)
        # costs a directory listing, not a scan.  Open bounds are
        # adjusted by 1 because file pruning needs inclusive bounds.
        if self.kind in ("data", "cells", "index"):
            for f in filters:
                if getattr(f, "attribute", None) != ("generation",):
                    continue
                v = getattr(f, "value", None)
                if isinstance(f, EqualTo) and isinstance(v, int):
                    self._tighten_gen(v, v)
                elif isinstance(f, GreaterThan) and isinstance(v, int):
                    self._tighten_gen(v + 1, None)
                elif isinstance(f, GreaterThanOrEqual) and isinstance(v, int):
                    self._tighten_gen(v, None)
                elif isinstance(f, LessThan) and isinstance(v, int):
                    self._tighten_gen(None, v - 1)
                elif isinstance(f, LessThanOrEqual) and isinstance(v, int):
                    self._tighten_gen(None, v)
                elif isinstance(f, In):
                    vals = [x for x in getattr(f, "value", ())
                            if isinstance(x, int)]
                    if vals and len(vals) == len(getattr(f, "value", ())):
                        s = set(vals)
                        self._gen_in = (s if self._gen_in is None
                                        else self._gen_in & s)
        return filters  # Spark re-applies everything

    def _tighten(self, lo: bytes | None, hi: bytes | None) -> None:
        if lo is not None and (self._key_lo is None or lo > self._key_lo):
            self._key_lo = lo
        if hi is not None and (self._key_hi is None or hi < self._key_hi):
            self._key_hi = hi

    def _tighten_gen(self, lo: int | None, hi: int | None) -> None:
        if lo is not None and (self._gen_lo is None or lo > self._gen_lo):
            self._gen_lo = lo
        if hi is not None and (self._gen_hi is None or hi < self._gen_hi):
            self._gen_hi = hi

    def _gen_admits(self, path: str) -> bool:
        """File-level generation pruning, exact by construction: it
        tests the same ``codec.generation_of`` value the file's
        partitions emit (Spark still re-applies the filter)."""
        g = codec.generation_of(path)
        return ((self._gen_lo is None or g >= self._gen_lo)
                and (self._gen_hi is None or g <= self._gen_hi)
                and (self._gen_in is None or g in self._gen_in))

    def _overlaps(self, p: RangePartition) -> bool:
        if p.min_key is None or p.max_key is None:
            return True  # no index → cannot prune
        if self._key_lo is not None and p.max_key < self._key_lo:
            return False
        if self._key_hi is not None and p.min_key > self._key_hi:
            return False
        return True

    def _bloom_rejects(self, data_path: str) -> bool:
        """Point lookups (key == k) skip whole files via the per-SSTable
        bloom filter (-Filter.db) — Cassandra's read-path first check.
        Bloom says 'definitely absent' only; false positives just fall
        through to the range-pruned scan."""
        if (not self.fmt.bloom_prunes or self._key_lo is None
                or self._key_lo != self._key_hi):
            return False
        f_path = codec.companion(data_path, "Filter")
        if not fs.exists(f_path):
            return False
        try:
            return not codec.BloomFilter(f_path).might_contain(self._key_lo)
        except (IOError, struct.error):
            return False  # unreadable filter → never prune

    def _plan_data(self, data_path: str):
        """The one Data.db planning call of the batch scan, the stream
        and the manifest: ``(splits, CompressionInfo or None)`` with
        the pushed generation, bloom and key-range pruning applied."""
        if not self._gen_admits(data_path) or \
                self._bloom_rejects(data_path):
            return [], None
        parts, info = _plan_file(data_path, self.max_split,
                                 self.fmt.read_compression_info)
        return [p for p in parts if self._overlaps(p)], info

    def partitions(self):
        if self.kind in ("data", "cells"):
            parts = [p for f in _list_files(self.path, "-Data.db")
                     for p in self._plan_data(f)[0]]
        elif self.kind == "index":
            # an Index.db over max_split_bytes cuts at its Summary.db
            # samples, which are index record boundaries (the
            # reference's GenerateSSTableIndexSplits, IndexMapper
            # :61-96); without a Summary.db it stays one split
            parts = []
            for f in _list_files(self.path, "-Index.db"):
                # explicitly naming the file overrides the orphan
                # guard, same convention as _list_files's hidden skip
                if not self._gen_admits(f) or \
                        (f != self.path and _orphan_companion(f)):
                    continue
                size = fs.file_size(f)
                summary = codec.companion(f, "Summary")
                samples = ()
                if size > self.max_split and fs.is_file(summary):
                    samples = ((None, off) for _key, off in
                               self.fmt.read_summary(summary))
                parts.extend(_cut(f, codec.generation_of(f), size, samples,
                                  self.max_split))
        elif self.kind == "summary":
            parts = [RangePartition(f, 0, fs.file_size(f),
                                    codec.generation_of(f))
                     for f in _list_files(self.path, "-Summary.db")
                     if f == self.path or not _orphan_companion(f)]
        elif self.kind == "manifest":
            # planned-split view; one partition listing all files is fine
            # (manifest rows are tiny metadata).
            return [RangePartition(self.path, 0, 0, 0)]
        else:
            raise ValueError(f"unknown kind: {self.kind}")
        return parts or [RangePartition("", 0, 0, 0)]

    @staticmethod
    def _log_skipped(partition: RangePartition, skipped: list) -> None:
        if skipped[0]:
            import logging

            logging.getLogger(__name__).warning(
                "sstable %s[%d:%d]: skipped %d unsupported column(s) "
                "(on_unsupported=skip)", partition.path, partition.start,
                partition.end, skipped[0])

    def _guarded(self, partition: RangePartition, src, skipped: list):
        """Yield one split's Arrow batches.  A decode error fails the
        task, or — with ``ignore_corrupt_files=true`` — drops the rest
        of the split with one warning naming the file, byte range and
        error."""
        while True:
            try:
                item = next(src)
            except StopIteration:
                self._log_skipped(partition, skipped)
                return
            except (EOFError, IOError, struct.error, KeyError) as exc:
                where = (f"{partition.path}"
                         f"[{partition.start}:{partition.end}]")
                if not self.ignore_corrupt:
                    raise IOError(
                        f"corrupt sstable split {where}: {exc}") from exc
                import logging

                logging.getLogger(__name__).warning(
                    "sstable %s: dropped the rest of a corrupt split "
                    "(ignore_corrupt_files=true): %r", where, exc)
                return
            yield item

    def _project_tuples(self, kind: str, tuples):
        """Narrow the metadata kinds' full-width tuples to
        ``self.project`` (schema-order)."""
        if self.project is None:
            yield from tuples
            return
        names = _SCHEMAS_BY_KIND[kind].fieldNames()
        idx = [names.index(n) for n in self.project]
        for t in tuples:
            yield tuple(t[i] for i in idx)

    def read(self, partition: RangePartition):
        if not partition.path:
            return
        if self.kind in ("data", "cells"):
            # one per-split path for both formats, batch and streaming:
            # Arrow batches, nested (data) or one record per cell
            skipped = [0]
            src = self.fmt.batches(self, partition, self.kind == "cells",
                                   skipped)
            yield from self._guarded(partition, src, skipped)
        elif self.kind == "index":
            yield from self._project_tuples("index", (
                (key, pos, partition.generation)
                for key, pos in codec.read_index_entries(
                    partition.path, partition.start, partition.end)))
        elif self.kind == "summary":
            yield from self._project_tuples("summary", (
                (key, off, partition.generation)
                for key, off in self.fmt.read_summary(partition.path)))
        elif self.kind == "manifest":
            yield from self._project_tuples(
                "manifest", self._manifest_rows(partition))

    def _manifest_rows(self, partition: RangePartition):
        for f in _list_files(partition.path, "-Data.db"):
            gen = codec.generation_of(f)
            parts, ci = self._plan_data(f)
            csize = fs.file_size(f)
            base = codec.root_name(f)
            for i, p in enumerate(parts):
                if ci is None or not ci.chunk_offsets:
                    # uncompressed: file space == uncompressed space
                    yield (base, i, p.start, p.end - p.start,
                           0, p.end - p.start, p.end - p.start,
                           None, gen)
                    continue
                # compressed: map the uncompressed row range onto
                # its chunk range, report compressed-file positions
                # (reference DataSplitReducer,
                # GenerateSSTableDataSplits.scala:187-213)
                lth = ci.chunk_length
                first = p.start // lth
                last = max(first, -(-p.end // lth) - 1)
                cstart = ci.chunk_offsets[first]
                cend = (ci.chunk_offsets[last + 1]
                        if last + 1 < len(ci.chunk_offsets) else csize)
                uncomp = (min(ci.uncompressed_length, (last + 1) * lth)
                          - first * lth)
                yield (base, i, cstart, cend - cstart,
                       p.start - first * lth, p.end - p.start,
                       uncomp, ci.chunk_offsets[first:last + 1], gen)


class SSTableStreamReader(DataSourceStreamReader):
    """Streaming scan: each micro-batch reads SSTable generation files
    that appeared in the directory since the last offset — the
    continuous view of the cell model (SURVEY.md §1.3/§2.8).  Feed a
    ``kind=cells`` stream into ``operators.lww_cell`` with
    ``outputMode("update")`` for a continuously-maintained merged
    table.

    Offsets are a compact ``(mtime_ns, basename)`` high-water mark
    plus a BOUNDED tail of recently-seen basenames — the same shape as
    Spark's file source seen-map with compaction, so the
    checkpoint/offset log stays bounded over a long-running stream
    (a full-file-set offset would grow quadratically).  A file is
    covered by an offset when its stamp is ≤ the watermark AND either
    its mtime is older than the offset's grace floor or its basename
    is in the offset's seen tail; a batch is ``covered(end) −
    covered(start)``.  Out-of-order mtimes are common in practice
    (``cp -p`` / ``rsync -t``, object-store restores, a slow writer
    finishing after a newer file was committed): a late file whose
    mtime lands inside the grace window (``late_file_grace_ms``,
    default 60 s) but whose name is not yet in the seen tail is still
    picked up by the next batch.  Only files later than the grace
    window are excluded — and that exclusion is logged.  The seen tail
    is capped at ``seen_files_cap`` names (default 1024); when the cap
    is hit the effective grace floor rises to the oldest retained
    name, keeping offsets O(cap).  ``max_files_per_trigger`` (Spark
    file-source ``maxFilesPerTrigger`` analog) bounds how many NEW
    files each trigger admits, oldest stamp first — a restarted stream
    over a huge backlog drains it across micro-batches instead of
    planning one giant first batch.  Replay after recovery re-derives
    batch membership from the directory listing with the same covered
    rule, so recovered batches match the originally executed ones for
    any file inside the grace window.  Legacy full-file-set and
    bare-watermark offsets from older checkpoints are still
    understood.

    Reads execute on executors, one partition per planned split per new
    file — the driver only lists the directory.  Each split is decoded
    by the batch scan's own ``SSTableReader.read``, so a stream takes
    the same options and gets the same Arrow batches, unsupported-column
    warnings and ``ignore_corrupt_files`` handling."""

    def __init__(self, options: dict) -> None:
        self._splits = SSTableReader(options)
        if self._splits.kind not in ("data", "cells"):
            raise ValueError(
                "sstable streaming supports kind=data|cells only")
        self.path = self._splits.path
        self.grace_ns = int(options.get("late_file_grace_ms",
                                        60_000)) * 1_000_000
        self.seen_cap = int(options.get("seen_files_cap", 1024))
        # Backpressure (Spark file-source maxFilesPerTrigger analog): a
        # restarted stream facing a 100k-generation backlog must not
        # plan one giant first micro-batch.  Oldest-first admission —
        # late files inside the grace window sort first and are drained
        # with priority.
        raw_mft = (options.get("max_files_per_trigger")
                   or options.get("maxFilesPerTrigger")
                   or options.get("maxfilespertrigger"))
        self.max_files = int(raw_mft) if raw_mft is not None else None
        if self.max_files is not None and self.max_files <= 0:
            raise ValueError("max_files_per_trigger must be positive, "
                             f"got {self.max_files}")
        # driver-side, best-effort late-file detection (log only):
        self._known: set[str] = set()
        self._prev_offset: dict | None = None
        # Spark calls initialOffset() ONLY when no checkpoint exists —
        # so its absence before the first latestOffset() means we are
        # restarting from an unknown committed offset, where capped
        # (oldest-first) admission would emit a coverage-REGRESSING
        # offset and poison the offset chain with re-reads of
        # already-committed files.  Fresh starts cap from trigger 1;
        # restarts emit one uncapped (full-coverage) offset — the
        # planned batch is still only covered(end)−covered(checkpoint),
        # i.e. the true backlog — and cap from trigger 2 on.
        self._fresh_start = False

    def _stamped(self) -> dict[str, tuple[int, str]]:
        """basename → (mtime_ns, basename) for every Data.db present."""
        out = {}
        for f in _list_files(self.path, "-Data.db"):
            base = os.path.basename(f)
            try:
                out[base] = (fs.mtime_ns(f), base)
            except OSError:
                continue  # raced with a concurrent delete
        return out

    def initialOffset(self) -> dict:
        self._fresh_start = True
        return {"wm": [0, ""], "floor": 0, "seen": []}

    def latestOffset(self) -> dict:
        stamped = self._stamped()
        if self._prev_offset is not None:
            # a basename first observed NOW but already covered by the
            # last offset arrived with an mtime beyond the grace window
            # — it will never be read; surface that instead of silence
            for b in self._covered(self._prev_offset, stamped):
                if b not in self._known:
                    import logging

                    logging.getLogger(__name__).warning(
                        "sstable stream %s: file %s appeared with mtime "
                        "at-or-below the committed watermark (beyond the "
                        "%d ms grace window) — excluded from the stream",
                        self.path, b, self.grace_ns // 1_000_000)
        self._known.update(stamped)
        if self.max_files is not None and (self._prev_offset is not None
                                           or self._fresh_start):
            prev = self._prev_offset or {"wm": [0, ""], "floor": 0,
                                         "seen": []}
            already = self._covered(prev, stamped)
            backlog = sorted(s for b, s in stamped.items()
                             if b not in already)
            if len(backlog) > self.max_files:
                admit = set(backlog[:self.max_files])
                # cap the offset advance: excluded files all carry
                # stamps above every admitted stamp, so they stay past
                # the new watermark and surface in later triggers
                stamped = {b: s for b, s in stamped.items()
                           if b in already or s in admit}
        wm = max(stamped.values(), default=(0, ""))
        if self._prev_offset is not None and "wm" in self._prev_offset:
            # never regress the watermark (newest covered file may have
            # been compacted away between triggers)
            wm = max(wm, tuple(self._prev_offset["wm"]))
        floor = wm[0] - self.grace_ns
        recent = sorted((s for s in stamped.values() if s[0] >= floor),
                        reverse=True)
        if len(recent) > self.seen_cap:
            recent = recent[:self.seen_cap]
            floor = recent[-1][0]  # cap hit → grace floor rises
        offset = {"wm": list(wm), "floor": floor,
                  "seen": sorted(b for _, b in recent)}
        self._prev_offset = offset
        return offset

    @staticmethod
    def _covered(offset: dict,
                 stamped: dict[str, tuple[int, str]]) -> set[str]:
        """Basenames a given offset has already committed."""
        if "files" in offset:  # legacy full-set offset (pre-watermark)
            return set(offset["files"])
        wm = tuple(offset.get("wm", (0, "")))
        if "seen" not in offset:  # legacy bare-watermark offset
            return {b for b, s in stamped.items() if s <= wm}
        floor = offset.get("floor", 0)
        seen = set(offset["seen"])
        return {b for b, s in stamped.items()
                if s <= wm and (s[0] < floor or b in seen)}

    def _adopt(self, offset: dict | None) -> None:
        """Ratchet the in-memory previous offset from a CHECKPOINTED
        offset Spark hands back through partitions()/commit().

        After a restart ``self._prev_offset`` is gone, so the first
        ``latestOffset()`` would otherwise admit from scratch — with
        ``max_files_per_trigger`` that means re-admitting the OLDEST
        on-disk files the checkpoint already committed and replaying
        them (duplicate data).  Adopting the checkpoint as the floor
        restores exactly-once: the one batch planned against a stale
        end offset computes covered(end)−covered(start) ⊆ ∅ (an empty
        batch, never a duplicate), and every later trigger builds on
        the adopted checkpoint."""
        if not offset:
            return
        if self._prev_offset is None:
            self._prev_offset = offset
            return
        new_wm = tuple(offset.get("wm", (0, "")))
        cur_wm = tuple(self._prev_offset.get("wm", (0, "")))
        if new_wm > cur_wm:
            self._prev_offset = offset

    def partitions(self, start: dict, end: dict):
        self._adopt(start)
        self._adopt(end)
        stamped = self._stamped()
        new = sorted(self._covered(end, stamped)
                     - self._covered(start, stamped))
        parts: list[RangePartition] = []
        for base in new:
            full = os.path.join(self.path, base)
            if fs.exists(full):
                parts.extend(self._splits._plan_data(full)[0])
        # Spark requires ≥1 partition; empty batch → one no-op marker
        return parts or [RangePartition("", 0, 0, 0)]

    def read(self, partition: RangePartition):
        return self._splits.read(partition)

    def commit(self, end: dict) -> None:
        # nothing to clean up, but ratchet the committed offset so a
        # restart-recovery path that commits before the next
        # latestOffset() also restores the admission floor
        self._adopt(end)


def _batch_rows(batch):
    """(generation, ``codec.Row``) per record of one sink input batch
    (a ``pyarrow.RecordBatch`` of key, columns, generation), reading
    columns and cell fields by name.  A null ``columns`` is a row with
    no cells."""
    lists = batch.column("columns")
    # per-row counts over exactly the cells flatten() keeps (none for a
    # null list, whatever its offsets say), so sliced batches line up
    counts = lists.value_lengths().fill_null(0).to_pylist()
    cells = lists.flatten()
    flat = list(map(codec.Cell, *(cells.field(f).to_pylist()
                                  for f in codec.CELL_FIELDS)))
    start = 0
    for key, gen, n in zip(batch.column("key").to_pylist(),
                           batch.column("generation").to_pylist(), counts):
        yield int(gen), codec.Row(key=key, cells=flat[start:start + n])
        start += n


@dataclass
class _WriteCommit(WriterCommitMessage):
    files: list


class SSTableWriteTask(DataSourceArrowWriter):
    """Distributed SSTable sink: each task writes its partition as one
    SSTable generation family per distinct ``generation`` value,
    key-sorted (rows are buffered and sorted per task — bounded by the
    ~128 MiB partition size, so no global sort is required; pre-
    ``repartitionByRange("key")`` upstream for globally disjoint key
    ranges per file).

    File naming ``{name}p{partition}-{generation}-Data.db`` keeps the
    generation parseable by ``codec.generation_of`` while making task
    outputs collision-free.  Input schema must be DATA_SCHEMA
    (key, columns, generation), in any column or cell-field order.

    Input arrives as Arrow record batches (``DataSourceArrowWriter``):
    ``_batch_rows`` reads the columns by name and builds the codec's
    ``Row``/``Cell`` objects straight from them, with no PySpark
    ``Row`` in between.

    ``option("task_suffix", "false")`` drops the ``p{partition}`` task
    tag, producing classic single-family names ``{name}-{gen}-Data.db``
    — valid ONLY when the input is partitioned so no generation spans
    two tasks (e.g. ``df.repartition(n, "generation")``); a collision
    is detected (the target family already exists) and fails the task
    rather than silently interleaving two writers' rows.

    Commit protocol (r7; same as the WARC sink): tasks write every
    family under a hidden dot-prefixed name (readers skip hidden
    files), and only the driver-side ``commit()`` renames them final —
    companions first, ``Data.db`` LAST, so a half-published family is
    invisible to scans (which key off Data.db).  With
    ``task_suffix=true`` (the default) the final names also carry a
    per-job token, so two append jobs can never silently truncate each
    other's files; ``task_suffix=false`` keeps the classic names its
    mode exists for, guarded by the existing collision check.
    """

    def __init__(self, options: dict) -> None:
        import uuid

        self.path = options.get("path")
        if not self.path:
            raise ValueError("sstable sink requires a path")
        self.name = options.get("name", "sstable")
        self.compressed = str(options.get("compressed", "false")).lower() == "true"
        self.task_suffix = str(options.get("task_suffix",
                                           "true")).lower() == "true"
        self.fmt = _format(options)
        self.chunk_length = int(options.get("chunk_length",
                                            codec.DEFAULT_CHUNK_LENGTH))
        self.summary_rate = int(options.get("summary_rate",
                                            codec.DEFAULT_SUMMARY_RATE))
        self.token = uuid.uuid4().hex[:10]  # minted once, driver-side

    def write(self, iterator) -> _WriteCommit:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        by_gen: dict[int, list[codec.Row]] = {}
        for batch in iterator:
            for gen, row in _batch_rows(batch):
                by_gen.setdefault(gen, []).append(row)
        files = []  # (tmp hidden path, final path) pairs
        stem = (f"{self.name}p{pid}t{self.token}"
                if self.task_suffix else self.name)
        # hidden (dot → _list_files skips it) and globally unique: the
        # job token separates concurrent JOBS (classic-name stems carry
        # no token of their own), and taskAttemptId — unique across
        # stage REATTEMPTS, unlike attemptNumber — separates a zombie
        # prior attempt from its replacement
        prefix = f".{self.token}x{TaskContext.get().taskAttemptId()}x"
        tmp_stem = prefix + stem
        for gen, rows in sorted(by_gen.items()):
            rows.sort(key=lambda r: r.key)
            if not self.task_suffix:
                target = os.path.join(self.path,
                                      f"{stem}-{gen}-Data.db")
                if fs.exists(target):
                    raise IOError(
                        f"sstable sink task_suffix=false collision: "
                        f"{target} already exists — generation {gen} "
                        f"spans multiple tasks; repartition the input "
                        f"by generation first")
            written = self.fmt.write_family(
                self.path, tmp_stem, gen, rows,
                compressed=self.compressed,
                chunk_length=self.chunk_length,
                summary_rate=self.summary_rate)
            # publish order inside commit(): companions first, Data.db
            # last — a family without Data.db is invisible to scans
            written.sort(key=lambda f: codec.component_of(f) == "Data")
            for tmp in written:
                d, base = os.path.split(tmp)
                files.append((tmp, os.path.join(d, base[len(prefix):])))
        return _WriteCommit(files=files)

    def commit(self, messages) -> None:
        pairs = [p for m in messages if m is not None for p in m.files]
        if not self.task_suffix:
            # classic-name mode only (token-mode finals are job-unique
            # by construction): the per-task existence check cannot
            # see a SIBLING task's in-flight family (both are hidden
            # temps), so re-verify here, before anything is published
            from collections import Counter

            counts = Counter(final for _, final in pairs)
            dupes = sorted(f for f, n in counts.items() if n > 1)
            clashes = dupes or sorted(
                f for f in counts if fs.exists(f))
            if clashes:
                self.abort(messages)  # nothing published yet: clean
                raise IOError(
                    f"sstable sink collision on {clashes[:3]} — a "
                    f"generation spans multiple tasks (repartition by "
                    f"generation for task_suffix=false) or the family "
                    f"already exists at the target")
        for tmp, final in pairs:
            fs.rename(tmp, final)
            # rename preserves the WRITE-time mtime; the streaming
            # source admits by mtime vs watermark, so stamp the
            # PUBLISH time or a slow task's family could land beyond
            # the grace window and be skipped (fs.touch: real utime on
            # bare/file:// paths; object stores stamp the move itself)
            fs.touch(final)
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
        """Reap THIS job's orphan hidden families (failed/speculative
        attempts that returned no commit message) — temps in every
        mode start with ``.{token}x``.  Also reap, when older than
        24 HOURS, (a) OTHER jobs' hidden temps (a driver that crashed
        mid-job never ran its own sweep, and nothing else would ever
        clean its leaks) and (b) final-named COMPANIONS whose sibling
        ``Data.db`` is absent — the litter a driver crash mid-commit()
        leaves when it published a family's companions but not its
        Data.db (readers already skip them via ``_orphan_companion``).

        The cutoff is deliberately generous (review r8: the previous
        1h cutoff could reap a LIVE many-wave job's temps — a task
        can finish its family hours before its driver's commit; and a
        live commit publishes companions moments before Data.db).
        Mis-sweeping a live temp fails that job's commit loudly (the
        rename source is gone), never corrupts data — but loud
        failures on 100 TB jobs are expensive, so err long."""
        import re

        stale_re = re.compile(r"^\.[0-9a-f]{10}x\d+x.*\.db$")
        cutoff_ns = (time.time() - 24 * 3600) * 1e9

        def older_than_cutoff(f: str) -> bool:
            try:
                return fs.mtime_ns(f) < cutoff_ns
            except OSError:
                return False

        for f in fs.list_dir(self.path) if fs.exists(self.path) else []:
            name = os.path.basename(f)
            mine = name.startswith(f".{self.token}x") \
                and name.endswith(".db")
            stale = (not mine and stale_re.match(name)
                     and older_than_cutoff(f))
            orphan = (not name.startswith(".")
                      and _orphan_companion(f)
                      and older_than_cutoff(f))
            if mine or stale or orphan:
                try:
                    fs.remove(f)
                except OSError:
                    pass


class SSTableDataSource(DataSource):
    """``spark.read.format("sstable")``.

    Options:
      path             directory (recursed) or single file
      kind             data | cells | index | summary | manifest
                       (default data; cells = one flat record per cell,
                       wide-row-safe)
      format           native | cassandra  (real 1.x files, incl. the
                       persisted IndexSummary layout of Summary.db —
                       writeInt count + writeUTF key / writeLong
                       offset pairs; Summary samples also drive
                       Index.db split planning for files over
                       max_split_bytes, mirroring the reference's
                       GenerateSSTableIndexSplits job)
      max_split_bytes  target uncompressed split size (default 128 MiB)
      on_unsupported   error | skip  (format=cassandra: counter /
                       range-tombstone columns; skip logs a count)
    """

    @classmethod
    def name(cls) -> str:
        return "sstable"

    def schema(self) -> StructType:
        kind = self.options.get("kind", "data")
        full = _SCHEMAS_BY_KIND[kind]
        project = _parse_columns(dict(self.options))
        if project is None:
            return full
        fields = {f.name: f for f in full.fields}
        return StructType([fields[n] for n in project])

    def reader(self, schema: StructType) -> SSTableReader:
        return SSTableReader(dict(self.options))

    def streamReader(self, schema: StructType) -> SSTableStreamReader:
        return SSTableStreamReader(dict(self.options))

    def writer(self, schema: StructType, overwrite: bool) -> SSTableWriteTask:
        names = set(schema.fieldNames())
        if not {"key", "columns", "generation"} <= names:
            raise ValueError(
                "sstable sink requires (key, columns, generation) — got "
                f"{sorted(names)}")
        if overwrite:
            path = self.options.get("path", "")
            for f in fs.list_files(path, ".db"):
                # TOP-LEVEL family files only: overwrite replaces the
                # table at this path, never sstables in nested
                # subdirectories (fs.list_files is recursive; ADVICE
                # r4 — preserve the original glob(path/*.db) scope)
                if (os.path.dirname(f.rstrip("/")) == path.rstrip("/")
                        and codec.component_of(f) is not None):
                    fs.remove(f)
        return SSTableWriteTask(dict(self.options))


_PKG_PREFIX = "sstable_hadoop_spark_pkg_"
_PKG_SWEEP_AGE_S = 3600
# zip path -> descriptor holding a shared flock on it for the life of
# this process: the driver serves an addPyFile'd path to executors that
# join later, so no other process may delete a zip while one is open.
_PKG_HELD: dict[str, int] = {}


def _package_zip(sources, digest: str) -> str:
    """The package zip for ``digest`` in the temp dir, built once under
    a per-process temp name, hard-linked into place (a zip another
    process published first is kept and adopted) and held open under a
    shared flock; other digests' zips that no live process holds are
    swept."""
    tmp_dir = tempfile.gettempdir()
    zip_path = os.path.join(tmp_dir, f"{_PKG_PREFIX}{digest}.zip")
    while zip_path not in _PKG_HELD:
        if not os.path.exists(zip_path):
            tmp = f"{zip_path}.{os.getpid()}.tmp"
            with zipfile.ZipFile(tmp, "w") as zf:
                for full, rel, _mt, _sz in sources:
                    zf.write(full, rel)
            try:  # publish without replacing a zip another process holds
                os.link(tmp, zip_path)
            except FileExistsError:
                pass
            finally:
                os.unlink(tmp)
        try:
            fd = os.open(zip_path, os.O_RDONLY)
        except FileNotFoundError:
            continue
        fcntl.flock(fd, fcntl.LOCK_SH)
        try:  # a sweeper may have unlinked it before we held the lock
            same = os.stat(zip_path).st_ino == os.fstat(fd).st_ino
        except FileNotFoundError:
            same = False
        if same:
            _PKG_HELD[zip_path] = fd
        else:
            os.close(fd)
    _sweep_package_zips(tmp_dir)
    return zip_path


def _sweep_package_zips(tmp_dir: str) -> None:
    """Delete package zips (and temp leftovers) older than an hour that
    no process holds: an exclusive non-blocking flock succeeds only on
    a zip no live session keeps open."""
    cutoff = time.time() - _PKG_SWEEP_AGE_S
    for fn in os.listdir(tmp_dir):
        path = os.path.join(tmp_dir, fn)
        if (not fn.startswith(_PKG_PREFIX) or path in _PKG_HELD
                or not fn.endswith((".zip", ".tmp"))):
            continue
        try:
            if os.stat(path).st_mtime > cutoff:
                continue
            fd = os.open(path, os.O_RDONLY)
        except OSError:
            continue
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            os.unlink(path)
        except OSError:
            pass
        finally:
            os.close(fd)


def ship_package(spark) -> None:
    """Ship this package to Spark's Python workers via ``addPyFile``.

    Needed by anything unpickled inside worker processes — the
    DataSource itself, pandas UDF / mapInPandas closures referencing
    package modules — since workers' ``sys.path`` does not necessarily
    include this package's location (it is not site-installed).
    Idempotent per session; the zip name is content-addressed so stale
    caches from earlier package versions are never shipped, and zips
    of earlier versions are swept once no process holds them."""
    import hashlib

    import sstable_hadoop_spark

    pkg_dir = os.path.dirname(os.path.dirname(
        os.path.abspath(sstable_hadoop_spark.__file__)))
    sources = []
    for root, _dirs, files in os.walk(
            os.path.join(pkg_dir, "sstable_hadoop_spark")):
        for fn in sorted(files):
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                st = os.stat(full)
                sources.append((full, os.path.relpath(full, pkg_dir),
                                st.st_mtime_ns, st.st_size))
    digest = hashlib.md5(repr([(s[1], s[2], s[3])
                               for s in sources]).encode()).hexdigest()[:12]
    if getattr(spark, "_sstable_pkg_digest", None) == digest:
        return
    zip_path = _package_zip(sources, digest)
    spark.sparkContext.addPyFile(zip_path)
    # Streaming source runner processes are spawned BY THE JVM with the
    # environment captured at JVM launch, so mutating os.environ here
    # cannot reach them — only the pre-JVM PYTHONPATH export in
    # plans.session_builder() does.  Streaming reads of this source
    # therefore require the session factory (get_session()); batch
    # reads and UDFs are covered by the addPyFile above either way.
    spark._sstable_pkg_digest = digest


def register(spark) -> None:
    """Idempotently register the source with a SparkSession."""
    ship_package(spark)
    try:
        # pushFilters() on a Python reader requires this flag; without it
        # Spark refuses to plan ANY read of the source.
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass
    from .txlog_stream import TxlogFeedDataSource
    from .warc import WarcDataSource

    for source in (SSTableDataSource, WarcDataSource,
                   TxlogFeedDataSource):
        try:
            spark.dataSource.register(source)
        except Exception as exc:  # already registered
            if "already" not in str(exc).lower():
                raise
            # Spark quirk (observed on 4.1): after session A registers,
            # a sibling newSession() B gets DATA_SOURCE_ALREADY_EXISTS
            # from registerPython — yet B's own sessionState manager
            # has no entry, so reads still fail NOT_FOUND.  Register
            # straight into THIS session's DataSourceManager.
            try:
                mgr = (spark._jsparkSession.sessionState()
                       .dataSourceManager())
                name = source.name()
                if not mgr.dataSourceExists(name):
                    from pyspark.sql.udf import _wrap_function

                    sc = spark.sparkContext
                    ds = getattr(
                        sc._jvm,
                        "org.apache.spark.sql.execution.datasources"
                        ".v2.python.UserDefinedPythonDataSource",
                    )(_wrap_function(sc, source))
                    mgr.registerDataSource(name, ds)
            except Exception as inner:
                # The fallback drives Spark-private APIs observed on
                # 4.1; if an upgrade moves them this must not be a
                # silent no-op — surface it so the eventual NOT_FOUND
                # read failure has a diagnosis attached.
                import warnings

                warnings.warn(
                    f"sibling-session registration fallback for "
                    f"{source.name()!r} failed on Spark "
                    f"{spark.version} ({type(inner).__name__}: "
                    f"{inner}); reads in this session may fail with "
                    f"DATA_SOURCE_NOT_FOUND",
                    RuntimeWarning, stacklevel=2)
