"""SSTable binary codec — writer + reader for the Cassandra-1.x-style
on-disk family ``*-Data.db`` / ``*-Index.db`` / ``*-Summary.db`` /
``*-CompressionInfo.db``, and the one owner of the family's layout:
its component table, companion paths and generation numbers.

The reference consumes these files through the external (unvendored)
library ``com.tehasdf:scala-sstable-reader`` (reference pom.xml:73-77),
so the byte layout here is our own Cassandra-1.x-inspired format.  What
matters — and what is reproduced exactly — is the *data model* the
reference reads out of these files:

- wide row = ``(key: bytes, ordered cells)``
  (reference SSTableDataRecordReader.scala:26,62-78)
- cell = NORMAL ``(name, data, timestamp)`` | DELETED ``(name,
  timestamp)`` | EXPIRING ``(name, data, ttl_secs, expiration_ms,
  timestamp)`` (reference SSTableDataRecordReader.scala:66-71,
  WritableColumn.java:12-21; ttl in seconds, expiration in ms)
- Index.db = ``(key, byte offset of the row in Data.db)``
  (reference SSTableIndexRecordReader.scala:51)
- Summary.db = every Nth index entry with its offset *into Index.db*
  (reference GenerateSSTableIndexSplits.scala:75-91 walks these)
- CompressionInfo.db = chunk length + ascending compressed chunk
  offsets; Data.db is a sequence of independently-compressed
  fixed-size-uncompressed chunks (reference
  GenerateSSTableDataSplits.scala:129-135,180-192)

Layout (all integers big-endian):

Data.db (uncompressed logical stream; rows start at offset 0):
    row   := u16 key_len, key, u32 n_cells, cell*
    cell  := u16 name_len, name, u8 state(0=NORMAL 1=DELETED 2=EXPIRING),
             i64 timestamp_us,
             [EXPIRING only] i64 ttl_secs, i64 expiration_ms,
             [not DELETED]   u32 data_len, data

Index.db:    entry := u16 key_len, key, u64 data_offset
Summary.db:  u32 sample_rate, then entry := u16 key_len, key, u64 index_offset
CompressionInfo.db:
    u8 algo_len, algo(ascii), u32 chunk_length, u64 uncompressed_length,
    u32 n_chunks, u64 compressed_offset * n_chunks
Compressed Data.db: per chunk — compressed bytes then u32 crc32 of the
    compressed bytes (mirrors Cassandra's per-chunk checksum).
"""

from __future__ import annotations

import io
import os
import re
import struct
import zlib
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import BinaryIO, Iterable, Iterator

import pyarrow as _pa  # ships snappy/lz4/zstd codecs; no python-snappy needed

from . import fs


def _compress(data: bytes, algo: str) -> bytes:
    if algo == "deflate":  # zlib stream (Cassandra DeflateCompressor)
        return zlib.compress(data)
    return _pa.compress(data, codec=algo, asbytes=True)


def _decompress(data: bytes, algo: str, uncompressed_size: int) -> bytes:
    if algo == "deflate":
        return zlib.decompress(data)
    return _pa.decompress(data, decompressed_size=uncompressed_size,
                          codec=algo, asbytes=True)


STATE_NORMAL = "NORMAL"
STATE_DELETED = "DELETED"
STATE_EXPIRING = "EXPIRING"
_STATE_NAMES = (STATE_NORMAL, STATE_DELETED, STATE_EXPIRING)  # by code
_STATE_TO_CODE = {s: code for code, s in enumerate(_STATE_NAMES)}
_CODE_TO_STATE = dict(enumerate(_STATE_NAMES))

DEFAULT_CHUNK_LENGTH = 64 * 1024  # Cassandra default chunk_length_kb=64
DEFAULT_SUMMARY_RATE = 128        # Cassandra default index_interval

#: every component of a generation family ``{name}-{generation}-{C}.db``:
#: Data.db holds the rows, the rest are its companions.  Real Cassandra
#: 1.x families also carry Statistics.db, which nothing here parses.
COMPONENTS = ("Data", "Index", "Summary", "CompressionInfo", "Filter",
              "Statistics")
#: a family file's component suffix, also valid as a Java regex
COMPONENT_SUFFIX = r"-(" + "|".join(COMPONENTS) + r")\.db$"
_COMPONENT_RE = re.compile(COMPONENT_SUFFIX)
_GENERATION_RE = re.compile(r"-(\d+)" + COMPONENT_SUFFIX)


def component_of(path: str) -> str | None:
    """The component a family file is (``Index`` for ``t-3-Index.db``),
    None for any other file."""
    m = _COMPONENT_RE.search(path)
    return m.group(1) if m else None


def companion(path: str, component: str) -> str:
    """The same family's ``component`` file: only the trailing
    component suffix is rewritten (``…/t-3-Data.db`` → ``…/t-3-Index.db``),
    as the reference derives companions (SSTableDataRecordReader.scala:20,
    GenerateSSTableDataSplits.scala:218-225)."""
    if component not in COMPONENTS:
        raise ValueError(f"unknown component {component!r}")
    m = _COMPONENT_RE.search(path)
    if m is None:
        raise ValueError(f"not an sstable family file: {path}")
    return f"{path[:m.start()]}-{component}.db"


def root_name(path: str) -> str:
    """The family's root name: ``…/t-3-Data.db`` → ``t-3``."""
    return _COMPONENT_RE.sub("", os.path.basename(path))


def generation_of(data_path: str) -> int:
    """The generation a family file's name carries, for any component
    (the name ``data_path`` is kept for callers); 0 when it carries
    none.  The scan's ``generation`` column and its generation pruning
    both read this value."""
    m = _GENERATION_RE.search(os.path.basename(data_path))
    return int(m.group(1)) if m else 0


@dataclass
class Cell:
    """One cell; the 3-variant algebraic type of the reference
    (SSTableDataRecordReader.scala:66-71) flattened with a state tag the
    way the Pig loader flattens it (SSTableDataLoader.scala:56-60)."""

    name: bytes
    state: str = STATE_NORMAL
    data: bytes | None = b""
    timestamp: int = 0            # microseconds (Cassandra writetime)
    ttl: int | None = None        # seconds   (EXPIRING only)
    expiration: int | None = None # ms epoch  (EXPIRING only)

    def __post_init__(self) -> None:
        if self.state == STATE_DELETED:
            self.data = None
        if self.state != STATE_EXPIRING:
            self.ttl = None
            self.expiration = None


@dataclass
class Row:
    key: bytes
    cells: list[Cell] = field(default_factory=list)


# ---------------------------------------------------------------------------
# Writing
# ---------------------------------------------------------------------------

def _encode_cell(cell: Cell) -> bytes:
    name = cell.name
    if cell.state == STATE_NORMAL:  # hot path: one struct call
        data = cell.data or b""
        return struct.pack(f">H{len(name)}sBqI", len(name), name, 0,
                           cell.timestamp, len(data)) + data
    if cell.state == STATE_EXPIRING:
        data = cell.data or b""
        return struct.pack(
            f">H{len(name)}sBqqqI", len(name), name, 2, cell.timestamp,
            cell.ttl or 0, cell.expiration or 0, len(data)) + data
    return struct.pack(f">H{len(name)}sBq", len(name), name, 1,
                       cell.timestamp)  # DELETED: no value


def _encode_row(row: Row) -> bytes:
    key = row.key
    return (struct.pack(f">H{len(key)}sI", len(key), key, len(row.cells))
            + b"".join(map(_encode_cell, row.cells)))


class SSTableWriter:
    """Writes one SSTable generation: Data/Index/Summary
    (+CompressionInfo when compressed).  File naming
    ``{name}-{generation}-Data.db`` mirrors Cassandra's
    ``ks-cf-version-generation-Component.db`` convention; the companion
    paths derive by suffix rewrite exactly as the reference derives them
    (SSTableDataRecordReader.scala:20, GenerateSSTableDataSplits.scala:218-225).
    """

    def __init__(self, directory: str, name: str, generation: int = 1,
                 compressed: bool = False, algo: str = "snappy",
                 chunk_length: int = DEFAULT_CHUNK_LENGTH,
                 summary_rate: int = DEFAULT_SUMMARY_RATE) -> None:
        self.directory = directory
        self.base = os.path.join(directory, f"{name}-{generation}")
        self.compressed = compressed
        self.algo = algo
        self.chunk_length = chunk_length
        self.summary_rate = summary_rate
        self._data = io.BytesIO()
        self._index: list[tuple[bytes, int]] = []

    def write_row(self, row: Row) -> None:
        self._index.append((row.key, self._data.tell()))
        self._data.write(_encode_row(row))

    def close(self) -> dict[str, str]:
        fs.makedirs(self.directory)
        paths = {}
        raw = self._data.getvalue()

        data_path = self.base + "-Data.db"
        if self.compressed:
            with fs.open_output(data_path) as f:
                chunk_offsets = _write_chunks(f, raw, self.chunk_length,
                                              self.algo)
            ci_path = self.base + "-CompressionInfo.db"
            with fs.open_output(ci_path) as f:
                algo_b = self.algo.encode("ascii")
                f.write(struct.pack(">B", len(algo_b)))
                f.write(algo_b)
                f.write(struct.pack(">IQI", self.chunk_length, len(raw),
                                    len(chunk_offsets)))
                for off in chunk_offsets:
                    f.write(struct.pack(">Q", off))
            paths["compression_info"] = ci_path
        else:
            with fs.open_output(data_path) as f:
                f.write(raw)
        paths["data"] = data_path

        index_path = self.base + "-Index.db"
        index_offsets: list[int] = []
        with fs.open_output(index_path) as f:
            for key, pos in self._index:
                index_offsets.append(f.tell())
                f.write(struct.pack(">H", len(key)))
                f.write(key)
                f.write(struct.pack(">Q", pos))
        paths["index"] = index_path

        summary_path = self.base + "-Summary.db"
        with fs.open_output(summary_path) as f:
            f.write(struct.pack(">I", self.summary_rate))
            for i in range(0, len(self._index), self.summary_rate):
                key = self._index[i][0]
                f.write(struct.pack(">H", len(key)))
                f.write(key)
                f.write(struct.pack(">Q", index_offsets[i]))
        paths["summary"] = summary_path

        filter_path = self.base + "-Filter.db"
        write_bloom(filter_path, [k for k, _ in self._index])
        paths["filter"] = filter_path
        return paths


#: per-chunk checksum of the compressed bytes: CRC32 here, Adler32 in
#: real Cassandra 1.x (CompressedSequentialWriter)
_CHECKSUMS = {"crc32": zlib.crc32, "adler32": zlib.adler32}


def _write_chunks(f, raw: bytes, chunk_length: int, algo: str,
                  checksum: str = "crc32") -> list[int]:
    """Write ``raw`` as independently compressed ``chunk_length``
    chunks, each followed by the u32 ``checksum`` of its compressed
    bytes; returns the chunks' file offsets."""
    cksum = _CHECKSUMS[checksum]
    offsets = []
    for start in range(0, max(len(raw), 1), chunk_length):
        offsets.append(f.tell())
        comp = _compress(raw[start:start + chunk_length], algo)
        f.write(comp)
        f.write(struct.pack(">I", cksum(comp) & 0xFFFFFFFF))
    return offsets


def write_sstable(directory: str, name: str, rows: Iterable[Row],
                  generation: int = 1, **kwargs) -> dict[str, str]:
    writer = SSTableWriter(directory, name, generation=generation, **kwargs)
    for row in rows:
        writer.write_row(row)
    return writer.close()


# ---------------------------------------------------------------------------
# Reading
# ---------------------------------------------------------------------------

@dataclass
class CompressionInfo:
    algo: str
    chunk_length: int
    uncompressed_length: int
    chunk_offsets: list[int]


def read_compression_info(path: str) -> CompressionInfo:
    with fs.open_input(path) as f:
        (algo_len,) = struct.unpack(">B", f.read(1))
        algo = f.read(algo_len).decode("ascii")
        chunk_length, uncompressed_length, n_chunks = struct.unpack(
            ">IQI", f.read(16))
        offsets = list(struct.unpack(f">{n_chunks}Q", f.read(8 * n_chunks)))
    return CompressionInfo(algo, chunk_length, uncompressed_length, offsets)


class ChunkedDecompressingReader:
    """Sequential reads over the *uncompressed* view of a compressed
    Data.db, decompressing one chunk at a time.

    Deliberately NOT the reference's strategy: its split reader loads
    the whole compressed byte range into memory and decompresses the
    entire stream at once (SplitSSTableDataRecordReader.scala:58-72),
    an OOM hazard at 256 MiB splits.  Chunked streaming keeps peak
    memory at one chunk (64 KiB default) regardless of split size.
    """

    def __init__(self, f: BinaryIO, info: CompressionInfo,
                 file_size: int | None = None,
                 checksum: str = "crc32") -> None:
        self._f = f
        self._info = info
        if file_size is None:
            f.seek(0, os.SEEK_END)
            file_size = f.tell()
        self._file_size = file_size
        if checksum not in _CHECKSUMS:
            raise ValueError(f"unknown chunk checksum: {checksum}")
        self._cksum = _CHECKSUMS[checksum]
        self._chunk_idx = -1
        self._chunk = b""
        self._chunk_pos = 0  # uncompressed offset of start of current chunk
        self._pos = 0        # current uncompressed position

    def seek(self, uncompressed_offset: int) -> None:
        self._pos = uncompressed_offset

    def tell(self) -> int:
        return self._pos

    def _load_chunk(self, idx: int) -> None:
        offs = self._info.chunk_offsets
        start = offs[idx]
        end = offs[idx + 1] if idx + 1 < len(offs) else self._file_size
        self._f.seek(start)
        blob = self._f.read(end - start)
        comp, crc = blob[:-4], struct.unpack(">I", blob[-4:])[0]
        if self._cksum(comp) & 0xFFFFFFFF != crc:
            raise IOError(f"chunk {idx}: checksum mismatch")
        remaining = self._info.uncompressed_length - idx * self._info.chunk_length
        size = min(self._info.chunk_length, remaining)
        self._chunk = _decompress(comp, self._info.algo, size)
        self._chunk_idx = idx
        self._chunk_pos = idx * self._info.chunk_length

    def read(self, n: int) -> bytes:
        out = bytearray()
        while n > 0 and self._pos < self._info.uncompressed_length:
            idx = self._pos // self._info.chunk_length
            if idx != self._chunk_idx:
                self._load_chunk(idx)
            local = self._pos - self._chunk_pos
            take = self._chunk[local:local + n]
            if not take:
                break
            out += take
            self._pos += len(take)
            n -= len(take)
        return bytes(out)


def _read_exact(reader, n: int) -> bytes:
    buf = reader.read(n)
    if len(buf) != n:
        raise EOFError(f"truncated read: wanted {n}, got {len(buf)}")
    return buf


def _read_cell(reader, skip_value: bool = False) -> Cell:
    """``skip_value`` seeks past the value bytes instead of
    materializing them (data → None) — the codec-level half of the
    scan's ``skip_values`` projection: the stream is still consumed
    sequentially (chunk decompression can't skip I/O) but no bytes
    object is built or shipped."""
    (name_len,) = struct.unpack(">H", _read_exact(reader, 2))
    name = _read_exact(reader, name_len)
    state_code, timestamp = struct.unpack(">Bq", _read_exact(reader, 9))
    state = _CODE_TO_STATE[state_code]
    ttl = expiration = None
    data: bytes | None = None
    if state == STATE_EXPIRING:
        ttl, expiration = struct.unpack(">qq", _read_exact(reader, 16))
    if state != STATE_DELETED:
        (data_len,) = struct.unpack(">I", _read_exact(reader, 4))
        if skip_value:
            reader.seek(reader.tell() + data_len)
        else:
            data = _read_exact(reader, data_len)
    return Cell(name=name, state=state, data=data, timestamp=timestamp,
                ttl=ttl, expiration=expiration)


@contextmanager
def _open_reader(data_path: str, read_ci=read_compression_info,
                 checksum: str = "crc32"):
    """Open one Data.db as ``(reader, uncompressed_length)`` and close
    the file on exit.  The reader seeks, tells and reads the
    uncompressed stream: the chunked decompressor when the companion
    CompressionInfo.db exists (parsed by ``read_ci``, chunks verified
    by ``checksum``), else the file itself.  Detecting compression by
    the companion is the reference's ``sstable.compressed`` switch
    (SSTableDataRecordReader.scala:37-45) without manual config."""
    f = fs.open_input(data_path)
    try:
        ci_path = companion(data_path, "CompressionInfo")
        if fs.exists(ci_path):
            info = read_ci(ci_path)
            yield (ChunkedDecompressingReader(f, info, checksum=checksum),
                   info.uncompressed_length)
        else:
            f.seek(0, os.SEEK_END)
            size = f.tell()
            f.seek(0)
            yield f, size
    finally:
        f.close()


def read_data_rows(data_path: str, start: int = 0,
                   end: int | None = None,
                   skip_values: bool = False) -> Iterator[Row]:
    """Iterate rows of one Data.db within uncompressed byte range
    [start, end).  ``start`` must be a row boundary (offset 0 or an
    offset taken from Index.db).  Streams row-at-a-time in O(1) memory,
    like the reference's reader loop (SSTableDataRecordReader.scala:85-97).
    ``skip_values`` seeks past cell value bytes (data → None).
    """
    with _open_reader(data_path) as (reader, total):
        if end is None:
            end = total
        reader.seek(start)
        while reader.tell() < end:
            header = reader.read(2)
            if not header:
                break
            if len(header) != 2:
                raise EOFError("truncated read: wanted 2, got 1")
            (key_len,) = struct.unpack(">H", header)
            key = _read_exact(reader, key_len)
            (n_cells,) = struct.unpack(">I", _read_exact(reader, 4))
            cells = [_read_cell(reader, skip_value=skip_values)
                     for _ in range(n_cells)]
            yield Row(key=key, cells=cells)


#: the six cell fields, in ``datasource.CELL_STRUCT`` order
CELL_FIELDS = ("name", "state", "data", "timestamp", "ttl", "expiration")
_NESTED = ("key", "columns", "generation")       # kind=data
_FLAT = ("key",) + CELL_FIELDS + ("generation",)  # kind=cells
_NO_LIMIT = 1 << 62


def _arrow_fields() -> dict:
    """The scan's Arrow fields by name (``datasource.DATA_SCHEMA`` and
    ``CELLS_SCHEMA``): key, the six cell fields, the nested ``columns``
    list of cell structs, and generation."""
    import pyarrow as pa

    f = {"key": pa.field("key", pa.binary(), nullable=False),
         "name": pa.field("name", pa.binary(), nullable=False),
         "state": pa.field("state", pa.string(), nullable=False),
         "data": pa.field("data", pa.binary()),
         "timestamp": pa.field("timestamp", pa.int64(), nullable=False),
         "ttl": pa.field("ttl", pa.int64()),
         "expiration": pa.field("expiration", pa.int64()),
         "generation": pa.field("generation", pa.int32(), nullable=False)}
    f["columns"] = pa.field(
        "columns", pa.list_(pa.struct([f[n] for n in CELL_FIELDS])),
        nullable=False)
    return f


def _plan_view(flat: bool, project, skip_values: bool):
    """(output field names, cell fields the decoder must fill).  The
    nested view needs every cell field as soon as ``columns`` is kept;
    ``skip_values`` never fills ``data`` (the view writes nulls)."""
    want = tuple(project) if project is not None else (
        _FLAT if flat else _NESTED)
    cell = CELL_FIELDS if "columns" in want else tuple(
        n for n in CELL_FIELDS if n in want)
    return want, tuple(n for n in cell
                       if not (skip_values and n == "data"))


def _to_batch(flat: bool, want, keys, offsets, cols, generation: int,
              fields: dict):
    """One ``pyarrow.RecordBatch`` of ``want`` from a decoded chunk:
    ``keys`` one per row, ``offsets[i]:offsets[i + 1]`` row i's cells in
    the flat ``cols`` lists (state as its code).  The nested view wraps
    the cells in a ``ListArray`` over ``offsets``; the flat view repeats
    each key once per cell."""
    import numpy as np
    import pyarrow as pa

    n_cells = offsets[-1]
    n = n_cells if flat else len(keys)

    def cell(name):
        if name not in cols:  # data under skip_values
            return pa.nulls(n_cells, fields[name].type)
        if name == "state":
            return pa.array(_STATE_NAMES).take(
                pa.array(cols[name], pa.int8()))
        return pa.array(cols[name], fields[name].type)

    arrays = []
    for name in want:
        if name == "key":
            a = pa.array(keys, pa.binary())
            if flat:
                a = a.take(np.repeat(np.arange(len(keys)), np.diff(offsets)))
        elif name == "generation":
            a = pa.array([generation] * n, pa.int32())
        elif name == "columns":
            a = pa.ListArray.from_arrays(
                pa.array(offsets, pa.int32()),
                pa.StructArray.from_arrays(
                    [cell(c) for c in CELL_FIELDS],
                    fields=[fields[c] for c in CELL_FIELDS]))
        else:
            a = cell(name)
        arrays.append(a)
    return pa.RecordBatch.from_arrays(
        arrays, schema=pa.schema([fields[name] for name in want]))


def _clear(keys: list, offsets: list, cols: dict) -> None:
    """Empty a chunk's lists in place for the next one."""
    keys.clear()
    del offsets[1:]
    for c in cols.values():
        c.clear()


def _skip_cells(buf: bytes, p: int, n_cells: int) -> int:
    """Bounds walk: the offset just past ``n_cells`` cells at ``p``,
    building nothing.  Raises ``struct.error``/``EOFError`` when the
    window ends first and ``KeyError`` on a bad state code."""
    unpack_from = struct.unpack_from
    for _ in range(n_cells):
        (name_len,) = unpack_from(">H", buf, p)
        p += 2 + name_len
        (code,) = unpack_from(">B", buf, p)
        if code > 2:
            raise KeyError(f"bad cell state code {code}")
        p += 9 if code != 2 else 25  # state + timestamp [+ ttl, expiry]
        if code != 1:
            (data_len,) = unpack_from(">I", buf, p)
            p += 4 + data_len
    if p > len(buf):
        raise EOFError("row extends past the window")
    return p


def _walk(reader, total: int, data_path: str, start: int, end: int | None,
          fields: tuple, read_block: int, max_rows: int, max_cells: int):
    """The Data.db byte walker behind both Arrow views.

    Parses the rows of uncompressed byte range [start, end) of an open
    ``_open_reader`` (``total`` bytes long) in one pass
    with ``unpack_from`` over in-memory ``read_block`` windows (the
    chunked decompressor underneath keeps its one-chunk memory), and
    yields chunks ``(keys, offsets, cols)`` in ``_to_batch``'s shape,
    filling only the cell ``fields`` asked for.  Without any, rows are
    bounds-walked and no cell is built.  The lists are reused: a chunk
    is valid until the walker resumes.

    A chunk ends after ``max_rows`` whole rows, or after ``max_cells``
    cells even inside a row (a wide row spreads across chunks, so
    memory stays bounded); that row's key is then in both chunks.  A
    row cut by the window edge is rolled back to its start and parsed
    again after a refill; before a mid-row flush the rest of the row is
    bounds-walked once, so a flushed prefix is never rolled back.  A
    truncated stream yields the whole rows before the cut, then raises
    ``EOFError``.
    """
    if end is None:
        end = total
    reader.seek(start)
    remaining = end - start
    buf, pos, base = b"", 0, start  # base: offset of buf[0]
    unpack_from = struct.unpack_from

    keys: list[bytes] = []
    offsets = [0]
    cols = {name: [] for name in fields}
    names, states, datas, stamps, ttls, exps = (
        cols.get(name) for name in CELL_FIELDS)
    any_cell, w_expiry = bool(fields), ttls is not None or exps is not None

    n = 0  # cells in the current chunk
    while True:
        if remaining > 0 and len(buf) - pos < read_block:
            block = reader.read(min(read_block, remaining))
            if not block and len(buf) == pos:
                break
            remaining -= len(block)
            base += pos
            buf = buf[pos:] + block
            pos = 0
        if pos >= len(buf):
            break
        mark = n
        row_end = None
        try:
            (key_len,) = unpack_from(">H", buf, pos)
            p = pos + 2 + key_len
            key = buf[pos + 2:p]
            (n_cells,) = unpack_from(">I", buf, p)
            p += 4
            if not any_cell and n + n_cells < max_cells:
                p = _skip_cells(buf, p, n_cells)
                n += n_cells
            else:
                for i in range(n_cells):
                    if n >= max_cells:
                        if row_end is None:
                            row_end = _skip_cells(buf, p, n_cells - i)
                        keys.append(key)
                        offsets.append(n)
                        yield keys, offsets, cols
                        _clear(keys, offsets, cols)
                        n = mark = 0
                    (name_len,) = unpack_from(">H", buf, p)
                    p += 2
                    if names is not None:
                        names.append(buf[p:p + name_len])
                    p += name_len
                    code, ts = unpack_from(">Bq", buf, p)
                    p += 9
                    if code > 2:
                        raise KeyError(f"bad cell state code {code}")
                    if states is not None:
                        states.append(code)
                    if stamps is not None:
                        stamps.append(ts)
                    if code == 2:  # EXPIRING
                        if w_expiry:
                            ttl, exp = unpack_from(">qq", buf, p)
                            if ttls is not None:
                                ttls.append(ttl)
                            if exps is not None:
                                exps.append(exp)
                        p += 16
                    else:
                        if ttls is not None:
                            ttls.append(None)
                        if exps is not None:
                            exps.append(None)
                    if code != 1:  # not DELETED
                        (data_len,) = unpack_from(">I", buf, p)
                        p += 4
                        if datas is not None:
                            datas.append(buf[p:p + data_len])
                        p += data_len
                    elif datas is not None:
                        datas.append(None)
                    n += 1
                if p > len(buf):
                    raise EOFError("row extends past the window")
        except (struct.error, EOFError):
            for c in cols.values():
                del c[mark:]
            n = mark
            if remaining > 0:
                # the row straddles the window edge: widen and retry
                block = reader.read(min(read_block, remaining))
                if block:
                    remaining -= len(block)
                    base += pos
                    buf = buf[pos:] + block
                    pos = 0
                    continue
            # truncated stream: surface the readable prefix first so
            # ignore_corrupt_files keeps it, then fail the iterator
            if keys:
                yield keys, offsets, cols
            raise EOFError(f"truncated row at uncompressed offset "
                           f"{base + pos} of {data_path}")
        pos = p
        keys.append(key)
        offsets.append(n)
        if n >= max_cells or len(keys) >= max_rows:
            yield keys, offsets, cols
            _clear(keys, offsets, cols)
            n = 0
    if keys:
        yield keys, offsets, cols


def read_data_batches(data_path: str, start: int = 0,
                      end: int | None = None, generation: int = 0,
                      rows_per_batch: int = 4096,
                      read_block: int = 8 * 1024 * 1024,
                      skip_values: bool = False,
                      project: tuple[str, ...] | None = None):
    """Iterate ``pyarrow.RecordBatch`` objects over rows of one Data.db
    within uncompressed byte range [start, end): the nested view of
    ``_walk`` for the Spark DataSource hot path (``kind=data``), one
    batch per ``rows_per_batch`` rows, parsing ``read_block`` windows.

    Schema matches ``datasource.DATA_SCHEMA`` + the partition's
    ``generation``: (key binary, columns list<struct>, generation int32).

    Column projection (the pruning the Python DataSource API cannot
    push down itself — the reference reads Index.db for key-only jobs,
    SSTableIndexRecordReader.scala:47-58, but has no way to prune a
    Data.db scan):
    - ``project`` keeps only the named top-level fields; without
      ``columns`` the walker only bounds-walks the cells — no cell,
      list or bytes slice is built;
    - ``skip_values`` keeps the cell structure but nulls ``data``
      without slicing the value bytes.
    The byte stream itself is still consumed sequentially — chunked
    compression means value bytes must be decompressed regardless; the
    savings are materialization, batch width, and transfer.
    """
    want, fill = _plan_view(False, project, skip_values)
    fields = _arrow_fields()
    with _open_reader(data_path) as (reader, total):
        for keys, offsets, cols in _walk(reader, total, data_path, start,
                                         end, fill, read_block,
                                         rows_per_batch, _NO_LIMIT):
            yield _to_batch(False, want, keys, offsets, cols, generation,
                            fields)


def read_cell_batches(data_path: str, start: int = 0,
                      end: int | None = None, generation: int = 0,
                      cells_per_batch: int = 8192,
                      read_block: int = 8 * 1024 * 1024,
                      skip_values: bool = False,
                      project: tuple[str, ...] | None = None):
    """Iterate FLAT cell ``pyarrow.RecordBatch`` objects (CELLS_SCHEMA
    order, one record per cell) of one Data.db: the flat view of
    ``_walk`` for ``kind=cells``.  Batches hold ``cells_per_batch``
    cells, cut inside a row when needed, so one wide row spreads across
    batches with bounded memory where the nested shape cannot.
    ``project``/``skip_values`` as in ``read_data_batches``."""
    want, fill = _plan_view(True, project, skip_values)
    fields = _arrow_fields()
    with _open_reader(data_path) as (reader, total):
        for keys, offsets, cols in _walk(reader, total, data_path, start,
                                         end, fill, read_block, _NO_LIMIT,
                                         cells_per_batch):
            if offsets[-1]:
                yield _to_batch(True, want, keys, offsets, cols, generation,
                                fields)


def rows_to_batches(row_iter: Iterator[Row], generation: int = 0,
                    rows_per_batch: int = 4096,
                    skip_values: bool = False,
                    project: tuple[str, ...] | None = None,
                    flat: bool = False, cells_per_batch: int = 8192):
    """``Row`` iterator → the same Arrow views as ``read_data_batches``
    (nested) or, with ``flat``, ``read_cell_batches``, with the same
    batch cuts.  For read paths that decode to ``Row`` objects, e.g.
    ``format=cassandra`` (cassandra1x.read_cassandra_rows): the 1.x
    parser must still walk the full row, ``project``/``skip_values``
    only narrow what crosses into Spark."""
    want, fill = _plan_view(flat, project, skip_values)
    fields = _arrow_fields()
    max_rows, max_cells = ((_NO_LIMIT, cells_per_batch) if flat
                           else (rows_per_batch, _NO_LIMIT))
    keys: list[bytes] = []
    offsets = [0]
    cols = {name: [] for name in fill}

    def batch():
        b = _to_batch(flat, want, keys, offsets, cols, generation, fields)
        _clear(keys, offsets, cols)
        return b

    n = 0
    for row in row_iter:
        for cell in row.cells:
            if n >= max_cells:
                keys.append(row.key)
                offsets.append(n)
                yield batch()
                n = 0
            for name, c in cols.items():
                c.append(_STATE_TO_CODE[cell.state] if name == "state"
                         else getattr(cell, name))
            n += 1
        keys.append(row.key)
        offsets.append(n)
        if n >= max_cells or len(keys) >= max_rows:
            yield batch()
            n = 0
    if n if flat else keys:
        yield batch()


def read_index_entries(index_path: str, start: int = 0,
                       end: int | None = None) -> Iterator[tuple[bytes, int]]:
    """Iterate (key, data_offset) from an Index.db
    (reference SSTableIndexRecordReader.scala:47-58)."""
    with fs.open_input(index_path) as f:
        if end is None:
            f.seek(0, os.SEEK_END)
            end = f.tell()
        f.seek(start)
        while f.tell() < end:
            header = f.read(2)
            if not header:
                break
            (key_len,) = struct.unpack(">H", header)
            key = f.read(key_len)
            (pos,) = struct.unpack(">Q", f.read(8))
            yield key, pos


def read_summary_entries(summary_path: str) -> Iterator[tuple[bytes, int]]:
    """Iterate (key, index_offset) samples from a Summary.db
    (reference GenerateSSTableIndexSplits.scala:75-91)."""
    with fs.open_input(summary_path) as f:
        f.read(4)  # sample rate header
        while True:
            header = f.read(2)
            if not header:
                break
            (key_len,) = struct.unpack(">H", header)
            key = f.read(key_len)
            (off,) = struct.unpack(">Q", f.read(8))
            yield key, off


# ---------------------------------------------------------------------------
# Bloom filter (-Filter.db) — Cassandra's per-SSTable key membership
# component.
#
# v1 layout: u32 m_bits, u8 k_hashes, ceil(m/8) filter bytes; k
# INDEPENDENT md5(i || key) positions per key.
# v2 layout (r8): u32 0xFFFFFFFF sentinel (impossible as a real v1
# m_bits — the builder sizes by key count), u8 version=2, then the v1
# header+bits; positions by Kirsch–Mitzenmaier DOUBLE HASHING — one
# md5 per key split into (h1, h2|1), position_i = (h1 + i·h2) mod m —
# which profiling showed cuts the k md5 calls per key to one (the
# bloom build was 48% of the native sink's write time) at an
# asymptotically equivalent false-positive rate.
#
# The reader dispatches on the sentinel, so Filter.db files written by
# earlier rounds keep pruning CORRECTLY (a silent scheme change would
# produce false negatives — pruning files that contain the key).
# ---------------------------------------------------------------------------

import hashlib as _hashlib
import math as _math

_BLOOM_V2_SENTINEL = 0xFFFFFFFF


def _bloom_positions_v1(key: bytes, k: int, m_bits: int) -> list[int]:
    return [int.from_bytes(
        _hashlib.md5(bytes([i]) + key).digest()[:8], "big") % m_bits
        for i in range(k)]


def _bloom_positions(key: bytes, k: int, m_bits: int) -> list[int]:
    d = _hashlib.md5(key).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:], "big") | 1  # odd → full-cycle stride
    return [(h1 + i * h2) % m_bits for i in range(k)]


def build_bloom(keys: list[bytes], fp_rate: float = 0.01) -> tuple[bytes, int, int]:
    """Return (filter_bytes, m_bits, k) sized for ``fp_rate``
    (v2 double-hashing positions)."""
    n = max(len(keys), 1)
    m_bits = max(8, int(-n * _math.log(fp_rate) / (_math.log(2) ** 2)))
    k = max(1, round(m_bits / n * _math.log(2)))
    bits = bytearray((m_bits + 7) // 8)
    for key in keys:
        for pos in _bloom_positions(key, k, m_bits):
            bits[pos // 8] |= 1 << (pos % 8)
    return bytes(bits), m_bits, k


def write_bloom(path: str, keys: list[bytes], fp_rate: float = 0.01) -> None:
    bits, m_bits, k = build_bloom(keys, fp_rate)
    with fs.open_output(path) as f:
        f.write(struct.pack(">IB", _BLOOM_V2_SENTINEL, 2))
        f.write(struct.pack(">IB", m_bits, k))
        f.write(bits)


class BloomFilter:
    def __init__(self, path: str) -> None:
        with fs.open_input(path) as f:
            first, ver = struct.unpack(">IB", f.read(5))
            if first == _BLOOM_V2_SENTINEL:
                if ver != 2:
                    raise ValueError(
                        f"unknown Filter.db version {ver} in {path}")
                self.version = 2
                self.m_bits, self.k = struct.unpack(">IB", f.read(5))
            else:  # legacy v1: those 5 bytes WERE the header
                self.version = 1
                self.m_bits, self.k = first, ver
            self.bits = f.read()

    def might_contain(self, key: bytes) -> bool:
        positions = (_bloom_positions if self.version == 2
                     else _bloom_positions_v1)
        for pos in positions(key, self.k, self.m_bits):
            if not (self.bits[pos // 8] >> (pos % 8)) & 1:
                return False
        return True

