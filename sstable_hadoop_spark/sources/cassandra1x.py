"""Best-effort reader for REAL Cassandra 1.x ``*-Data.db`` files — the
files the reference actually consumes (via the external
``com.tehasdf:scala-sstable-reader`` dependency, reference
pom.xml:73-77; cell variants surfaced at
SSTableDataRecordReader.scala:66-71).

Layout parsed here is the public pre-1.2 "big" row format, as
serialized by ``SSTableWriter`` / ``ColumnSerializer`` in Apache
Cassandra 0.7-1.1 (all integers big-endian, Java DataOutput):

Data.db row::

    u16 key_len, key
    u64 data_size                  -- bytes remaining in this row
    i32 bloom_size,  <bloom_size bytes>    -- row-level bloom (skipped)
    i32 index_size,  <index_size bytes>    -- column index     (skipped)
    i32 local_deletion_time        -- row tombstone info
    i64 marked_for_delete_at
    i32 column_count
    column*:
        u16 name_len, name
        u8  flags                  -- 0x01 DELETION, 0x02 EXPIRATION,
                                   -- 0x04 COUNTER, 0x08 COUNTER_UPDATE,
                                   -- 0x10 RANGE_TOMBSTONE
        [0x02] i32 ttl_secs, i32 local_expiration_time (epoch seconds)
        i64 timestamp              -- microseconds by convention
        i32 value_len, value

Index.db entries are ``u16 key_len, key, u64 data_offset`` — identical
to this package's native index layout, so split planning reuses
``codec.read_index_entries`` unchanged.

Mapping into the engine's cell model (= what the reference's record
reader yields):

- DELETION flag  → ``Cell(state='DELETED')``; the 4-byte value (the
  column's localDeletionTime) is dropped, like the reference's
  ``Deleted(name, timestamp)`` variant.
- EXPIRATION flag → ``Cell(state='EXPIRING', ttl=ttl_secs,
  expiration=local_expiration_time * 1000)`` (model stores ms).
- no flag        → ``Cell(state='NORMAL')``.
- COUNTER flags and RANGE_TOMBSTONE have no counterpart in the
  reference's 3-variant model (SSTableDataRecordReader.scala:66-71
  would hit a MatchError on them too).  Default ``on_unsupported=
  "error"`` raises ``UnsupportedColumnError``; ``"skip"`` parses past
  them using their public 1.x serialized layouts (counter: i64
  timestampOfLastDelete + i64 timestamp + i32/value; counter update:
  i64 timestamp + i32/value; range tombstone: u16/max-name + i32
  localDeletionTime + i64 markedForDeleteAt) and counts them, so one
  exotic column does not fail a whole backup scan.
- Row-level tombstones (``marked_for_delete_at``) are parsed but not
  surfaced — the reference's loader exposes key → columns only.

Compressed 1.x tables are supported for both built-in 1.x compressors
— Snappy (the default) and Deflate (zlib streams): the real
``CompressionInfo.db`` (java DataOutput: ``writeUTF`` compressor class,
option pairs, chunk length, uncompressed data length, chunk count +
compressed chunk offsets — Apache Cassandra 1.x
``CompressionMetadata.Writer``) is parsed into the engine's
``CompressionInfo`` model, and Data.db chunks ([compressed block]
[4-byte Adler32 of the compressed bytes],
``CompressedSequentialWriter``) are streamed through the codec's
chunked reader one chunk at a time — NOT the reference's
whole-split-in-memory decompress
(SplitSSTableDataRecordReader.scala:58-72).  Other compressor classes
raise a clear error.
"""

from __future__ import annotations

import os
import struct
from typing import Iterator

from . import fs

from .codec import (
    STATE_DELETED,
    STATE_EXPIRING,
    STATE_NORMAL,
    Cell,
    CompressionInfo,
    Row,
    _open_reader,
    _write_chunks,
    companion,
)

DELETION_MASK = 0x01
EXPIRATION_MASK = 0x02
COUNTER_MASK = 0x04
COUNTER_UPDATE_MASK = 0x08
RANGE_TOMBSTONE_MASK = 0x10


class UnsupportedColumnError(ValueError):
    """Column kind outside the reference's NORMAL/DELETED/EXPIRING
    model (counters, range tombstones)."""


def _read_exact(f, n: int) -> bytes:
    buf = f.read(n)
    if len(buf) != n:
        raise EOFError(f"truncated cassandra row: wanted {n} bytes, "
                       f"got {len(buf)}")
    return buf


def _decode_modified_utf8(b: bytes) -> str:
    """Java modified UTF-8 → str: U+0000 is written as C0 80 (invalid
    strict UTF-8) and supplementary-plane chars as CESU-8 surrogate
    pairs.  Strict UTF-8 is a fast path; the manual walk only runs for
    payloads strict decoding rejects."""
    try:
        return b.decode("utf-8")
    except UnicodeDecodeError:
        pass
    out, i, n = [], 0, len(b)
    while i < n:
        c = b[i]
        if c < 0x80:
            out.append(chr(c))
            i += 1
        elif c & 0xE0 == 0xC0:
            if i + 1 >= n:
                raise ValueError("truncated modified-UTF-8 sequence")
            out.append(chr(((c & 0x1F) << 6) | (b[i + 1] & 0x3F)))
            i += 2
        elif c & 0xF0 == 0xE0:
            if i + 2 >= n:
                raise ValueError("truncated modified-UTF-8 sequence")
            out.append(chr(((c & 0x0F) << 12) | ((b[i + 1] & 0x3F) << 6)
                           | (b[i + 2] & 0x3F)))
            i += 3
        else:
            raise ValueError(f"invalid modified-UTF-8 byte {c:#x}")
    s = "".join(out)
    # recombine CESU-8 surrogate pairs into supplementary-plane chars;
    # surrogatepass on BOTH legs because a lone surrogate is legal here
    # (Java strings need not be well-formed UTF-16)
    return (s.encode("utf-16-le", "surrogatepass")
             .decode("utf-16-le", "surrogatepass"))


def _encode_modified_utf8(s: str) -> bytes:
    """str → Java modified UTF-8 (writeUTF payload bytes)."""
    out = bytearray()
    for ch in s:
        cp = ord(ch)
        if 0x0001 <= cp <= 0x007F:
            out.append(cp)
        elif cp <= 0x07FF:  # includes U+0000 → C0 80
            out += bytes([0xC0 | (cp >> 6), 0x80 | (cp & 0x3F)])
        elif cp <= 0xFFFF:
            out += bytes([0xE0 | (cp >> 12), 0x80 | ((cp >> 6) & 0x3F),
                          0x80 | (cp & 0x3F)])
        else:  # encode as CESU-8 surrogate pair
            cp -= 0x10000
            for half in (0xD800 | (cp >> 10), 0xDC00 | (cp & 0x3FF)):
                out += bytes([0xE0 | (half >> 12),
                              0x80 | ((half >> 6) & 0x3F),
                              0x80 | (half & 0x3F)])
    return bytes(out)


def _read_java_utf(f) -> str:
    """java DataOutput.writeUTF: u16 length + modified-UTF-8 bytes
    (U+0000 as C0 80, supplementary planes as CESU-8 — real 1.x files
    with non-ASCII keys need the full decode, not strict UTF-8)."""
    (n,) = struct.unpack(">H", _read_exact(f, 2))
    return _decode_modified_utf8(_read_exact(f, n))


def read_cassandra_compression_info(path: str) -> CompressionInfo:
    """Parse a REAL Cassandra 1.x CompressionInfo.db
    (``CompressionMetadata.Writer`` layout: compressor class UTF,
    option-pair count + UTF pairs, i32 chunkLength, i64 dataLength,
    i32 chunkCount, chunkCount × i64 compressed chunk offsets)."""
    with fs.open_input(path) as f:
        compressor = _read_java_utf(f)
        (n_opts,) = struct.unpack(">i", _read_exact(f, 4))
        for _ in range(n_opts):
            _read_java_utf(f), _read_java_utf(f)
        chunk_length, data_length, n_chunks = struct.unpack(
            ">iqi", _read_exact(f, 16))
        offsets = list(struct.unpack(f">{n_chunks}q",
                                     _read_exact(f, 8 * n_chunks)))
    short = compressor.rsplit(".", 1)[-1]
    algo = {"SnappyCompressor": "snappy",
            "DeflateCompressor": "deflate"}.get(short)
    if algo is None:
        raise NotImplementedError(
            f"Cassandra 1.x compressor {compressor!r} is not supported "
            f"(snappy and deflate only)")
    return CompressionInfo(algo, chunk_length, data_length, offsets)


def _checked_size(n: int, what: str, bound: int) -> int:
    """Validate an i32 size field read from the file.  A corrupt or
    adversarial negative value would otherwise seek BACKWARDS and loop
    forever re-reading the same region (never raising, so
    ``ignore_corrupt_files`` — which relies on exceptions — could not
    contain it); an absurdly large one would over-read silently."""
    if n < 0 or n > bound:
        raise IOError(
            f"corrupt cassandra row: {what}={n} outside [0, {bound}]")
    return n


def read_cassandra_rows(data_path: str, start: int = 0,
                        end: int | None = None, *,
                        on_unsupported: str = "error",
                        skipped: list | None = None) -> Iterator[Row]:
    """Iterate rows of a real Cassandra 1.x Data.db within
    uncompressed-space byte range [start, end); ``start`` must be a row
    boundary (0 or an Index.db offset).  Transparently decompresses
    snappy chunked tables (CompressionInfo.db present).

    ``on_unsupported``: "error" (default) raises on counter /
    range-tombstone columns; "skip" parses past them, incrementing
    ``skipped[0]`` when a one-element list is supplied (per-partition
    count, surfaced by the DataSource via a log line).
    """
    if on_unsupported not in ("error", "skip"):
        raise ValueError(f"on_unsupported must be error|skip, "
                         f"got {on_unsupported!r}")
    with _open_reader(data_path, read_cassandra_compression_info,
                      "adler32") as (f, total):
        if end is None:
            end = total
        f.seek(start)
        while f.tell() < end:
            header = f.read(2)
            if not header:
                break
            if len(header) != 2:
                raise EOFError("truncated row key length")
            (key_len,) = struct.unpack(">H", header)
            key = _read_exact(f, key_len)
            (data_size,) = struct.unpack(">Q", _read_exact(f, 8))
            if data_size > total - f.tell():
                raise IOError(
                    f"corrupt cassandra row: data_size={data_size} "
                    f"exceeds remaining file bytes {total - f.tell()}")
            bound = int(data_size)
            (bloom_size,) = struct.unpack(">i", _read_exact(f, 4))
            f.seek(f.tell() + _checked_size(bloom_size, "bloom_size",
                                            bound))  # row bloom filter
            (index_size,) = struct.unpack(">i", _read_exact(f, 4))
            f.seek(f.tell() + _checked_size(index_size, "index_size",
                                            bound))  # column index
            _local_deletion, _marked_for_delete = struct.unpack(
                ">iq", _read_exact(f, 12))
            (n_cols,) = struct.unpack(">i", _read_exact(f, 4))
            _checked_size(n_cols, "column_count", bound)
            cells = []
            for _ in range(n_cols):
                (name_len,) = struct.unpack(">H", _read_exact(f, 2))
                name = _read_exact(f, name_len)
                (flags,) = struct.unpack(">B", _read_exact(f, 1))
                if flags & (COUNTER_MASK | COUNTER_UPDATE_MASK
                            | RANGE_TOMBSTONE_MASK):
                    if on_unsupported == "error":
                        raise UnsupportedColumnError(
                            f"column flags 0x{flags:02x} (counter/range-"
                            f"tombstone) have no reference counterpart "
                            f"(pass on_unsupported=skip to skip them)")
                    if flags & RANGE_TOMBSTONE_MASK:
                        # u16 max-name, i32 localDeletionTime,
                        # i64 markedForDeleteAt (RangeTombstone layout)
                        (mx,) = struct.unpack(">H", _read_exact(f, 2))
                        _read_exact(f, mx + 12)
                    else:
                        if flags & COUNTER_MASK:
                            _read_exact(f, 8)  # timestampOfLastDelete
                        _read_exact(f, 8)  # timestamp
                        (vlen,) = struct.unpack(">i", _read_exact(f, 4))
                        _read_exact(f, _checked_size(vlen, "value_len",
                                                     bound))
                    if skipped is not None:
                        skipped[0] += 1
                    continue
                ttl = expiration = None
                if flags & EXPIRATION_MASK:
                    ttl, local_exp = struct.unpack(
                        ">ii", _read_exact(f, 8))
                    expiration = local_exp * 1000  # epoch s → ms
                (timestamp,) = struct.unpack(">q", _read_exact(f, 8))
                (value_len,) = struct.unpack(">i", _read_exact(f, 4))
                value = _read_exact(f, _checked_size(value_len, "value_len",
                                                     bound))
                if flags & DELETION_MASK:
                    cells.append(Cell(name=name, state=STATE_DELETED,
                                      timestamp=timestamp))
                elif flags & EXPIRATION_MASK:
                    cells.append(Cell(name=name, state=STATE_EXPIRING,
                                      data=value, timestamp=timestamp,
                                      ttl=ttl, expiration=expiration))
                else:
                    cells.append(Cell(name=name, state=STATE_NORMAL,
                                      data=value, timestamp=timestamp))
            yield Row(key=key, cells=cells)


def read_cassandra_summary_entries(path: str) -> "Iterator[tuple[bytes, int]]":
    """Iterate ``(key, index_offset)`` samples from a REAL Cassandra
    1.x ``*-Summary.db`` — the persisted ``IndexSummary`` the
    reference walks via ``IndexSummaryReader`` to plan Index.db byte
    splits (GenerateSSTableIndexSplits.scala:75-91; each yielded
    ``IndexPosition.location`` is the offset of a sampled key's entry
    in Index.db).

    Layout (java DataOutput, all big-endian):
    ``writeInt`` sample count, then per sample ``writeUTF`` key
    (u16 length + modified-UTF-8 bytes) / ``writeLong`` index offset.
    Keys are returned as UTF-8 bytes to match the engine's binary key
    model; a key the writer below escaped (non-UTF-8 bytes as lone
    surrogates, ``surrogateescape``) comes back byte-identical."""
    with fs.open_input(path) as f:
        (count,) = struct.unpack(">i", _read_exact(f, 4))
        if count < 0:
            raise IOError(f"corrupt 1.x Summary.db {path}: "
                          f"negative sample count {count}")
        for _ in range(count):
            key = _read_java_utf(f).encode("utf-8", "surrogateescape")
            (off,) = struct.unpack(">q", _read_exact(f, 8))
            yield key, off


def write_cassandra_summary(path: str,
                            entries: "list[tuple[bytes, int]]") -> None:
    """Fixture/test support: serialize ``(key, index_offset)`` samples
    in the real 1.x ``IndexSummary`` layout parsed above — keys go
    through Java modified UTF-8 (writeUTF), same as the reader.  Binary
    keys that are not UTF-8 decode with ``surrogateescape``: each bad
    byte becomes a lone surrogate, which modified UTF-8 can carry and
    the reader turns back into the same byte."""
    entries = list(entries)
    with fs.open_output(path) as f:
        f.write(struct.pack(">i", len(entries)))
        for key, off in entries:
            s = (key.decode("utf-8", "surrogateescape")
                 if isinstance(key, bytes) else str(key))
            kb = _encode_modified_utf8(s)
            f.write(struct.pack(">H", len(kb)) + kb)
            f.write(struct.pack(">q", off))


def write_cassandra_compressed(data_path: str, raw: bytes,
                               chunk_length: int = 64 * 1024,
                               algo: str = "snappy") -> None:
    """Fixture/test support: write ``raw`` (a concatenation of
    ``encode_cassandra_row`` outputs) as a chunked 1.x Data.db +
    its real-layout CompressionInfo.db companion (snappy or deflate)."""
    with fs.open_output(data_path) as f:
        offsets = _write_chunks(f, raw, chunk_length, algo, "adler32")
    with fs.open_output(companion(data_path, "CompressionInfo")) as f:
        name = (b"org.apache.cassandra.io.compress.SnappyCompressor"
                if algo == "snappy" else
                b"org.apache.cassandra.io.compress.DeflateCompressor")
        f.write(struct.pack(">H", len(name)) + name)
        f.write(struct.pack(">i", 0))  # no options
        f.write(struct.pack(">iqi", chunk_length, len(raw), len(offsets)))
        f.write(struct.pack(f">{len(offsets)}q", *offsets))


def write_cassandra_family(out_dir: str, name: str, generation: int,
                           rows: "list[Row]", *, compressed: bool = False,
                           chunk_length: int = 16 * 1024,
                           summary_rate: int = 32) -> "list[str]":
    """Write one complete 1.x generation family —
    ``{name}-{generation}-{Data,Index,Summary[,CompressionInfo]}.db`` —
    from KEY-SORTED rows: Data.db rows in the public pre-1.2 layout,
    Index.db ``(u16 key, u64 uncompressed offset)`` entries, the
    persisted IndexSummary sampling every ``summary_rate``-th key, and
    (when ``compressed``) snappy chunks behind a real-layout
    CompressionInfo.db.  The write side of the ``format=cassandra``
    scan path; one task per generation keeps global key order, so this
    is the sink body for generation-disjoint distributed writes."""
    fs.makedirs(out_dir)
    data_path = os.path.join(out_dir, f"{name}-{generation}-Data.db")
    index_path = companion(data_path, "Index")
    raw = bytearray()
    samples = []
    with fs.open_output(index_path) as ix:
        for i, row in enumerate(rows):
            if i % summary_rate == 0:
                samples.append((row.key, ix.tell()))
            ix.write(struct.pack(">H", len(row.key)) + row.key
                     + struct.pack(">Q", len(raw)))
            raw += encode_cassandra_row(row)
    summary_path = companion(data_path, "Summary")
    write_cassandra_summary(summary_path, samples)
    files = [data_path, index_path, summary_path]
    if compressed:
        write_cassandra_compressed(data_path, bytes(raw),
                                   chunk_length=chunk_length)
        files.append(companion(data_path, "CompressionInfo"))
    else:
        with fs.open_output(data_path) as f:
            f.write(bytes(raw))
    return files


def encode_unsupported_column(kind: str, name: bytes, *,
                              timestamp: int = 0, value: bytes = b"\0" * 8,
                              max_name: bytes = b"") -> bytes:
    """Fixture/test support: serialize a column OUTSIDE the reference's
    3-variant model, in its public 1.x layout — ``kind`` is "counter",
    "counter_update", or "range_tombstone" — so tests can prove
    ``on_unsupported=skip`` walks past real exotic columns."""
    out = struct.pack(">H", len(name)) + name
    if kind == "counter":
        return (out + struct.pack(">B", COUNTER_MASK)
                + struct.pack(">qq", 0, timestamp)  # lastDelete, ts
                + struct.pack(">i", len(value)) + value)
    if kind == "counter_update":
        return (out + struct.pack(">B", COUNTER_UPDATE_MASK)
                + struct.pack(">q", timestamp)
                + struct.pack(">i", len(value)) + value)
    if kind == "range_tombstone":
        return (out + struct.pack(">B", RANGE_TOMBSTONE_MASK)
                + struct.pack(">H", len(max_name)) + max_name
                + struct.pack(">iq", 0, timestamp))
    raise ValueError(f"unknown unsupported-column kind {kind!r}")


def encode_cassandra_row(row: Row, *, local_deletion_time: int = 0x7FFFFFFF,
                         marked_for_delete_at: int = -(1 << 63),
                         bloom: bytes = b"", column_index: bytes = b"",
                         extra_cells: list[bytes] | None = None) -> bytes:
    """Serialize one row in the 1.x layout — fixture/test support (the
    write path of this engine stays the native format; this exists so
    round-trip tests don't hand-compute length fields).

    ``extra_cells``: pre-serialized column byte strings (e.g. from
    ``encode_unsupported_column``) appended after the model cells and
    counted in the column count."""
    body = bytearray()
    body += struct.pack(">i", len(bloom)) + bloom
    body += struct.pack(">i", len(column_index)) + column_index
    body += struct.pack(">iq", local_deletion_time, marked_for_delete_at)
    body += struct.pack(">i", len(row.cells) + len(extra_cells or []))
    for c in row.cells:
        body += struct.pack(">H", len(c.name)) + c.name
        if c.state == STATE_DELETED:
            # value carries the column's localDeletionTime (4 bytes)
            body += struct.pack(">B", DELETION_MASK)
            body += struct.pack(">q", c.timestamp)
            body += struct.pack(">i", 4) + struct.pack(">i", 0)
        elif c.state == STATE_EXPIRING:
            body += struct.pack(">B", EXPIRATION_MASK)
            body += struct.pack(">ii", c.ttl or 0,
                                (c.expiration or 0) // 1000)
            body += struct.pack(">q", c.timestamp)
            data = c.data or b""
            body += struct.pack(">i", len(data)) + data
        else:
            body += struct.pack(">B", 0)
            body += struct.pack(">q", c.timestamp)
            data = c.data or b""
            body += struct.pack(">i", len(data)) + data
    for raw in extra_cells or []:
        body += raw
    return (struct.pack(">H", len(row.key)) + row.key
            + struct.pack(">Q", len(body)) + bytes(body))
