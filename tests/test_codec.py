"""Codec round-trip + split-invariant tests (SURVEY.md §5.3/§5.4)."""

from __future__ import annotations

import os

import pytest

from sstable_hadoop_spark.sources import codec
from sstable_hadoop_spark.sources.codec import (
    Cell,
    Row,
    SSTableWriter,
    read_data_rows,
    read_index_entries,
    read_summary_entries,
)


def _rows_equal(a: Row, b: Row) -> bool:
    if a.key != b.key or len(a.cells) != len(b.cells):
        return False
    return all(x == y for x, y in zip(a.cells, b.cells))


@pytest.mark.parametrize("compressed", [False, True])
def test_roundtrip(tmp_path, cell_fixture, compressed):
    rows = [row for g, row in cell_fixture if g == 1]
    w = SSTableWriter(str(tmp_path), "rt", generation=1,
                      compressed=compressed, chunk_length=1024)
    for row in rows:
        w.write_row(row)
    paths = w.close()
    back = list(read_data_rows(paths["data"]))
    assert len(back) == len(rows)
    for a, b in zip(rows, back):
        assert _rows_equal(a, b)


def test_index_points_at_row_starts(tmp_path, cell_fixture):
    rows = [row for g, row in cell_fixture if g == 2]
    w = SSTableWriter(str(tmp_path), "idx", generation=2)
    for row in rows:
        w.write_row(row)
    paths = w.close()
    entries = list(read_index_entries(paths["index"]))
    assert [k for k, _ in entries] == [r.key for r in rows]
    # reading from each indexed offset must yield exactly that row first
    for (key, pos), expect in zip(entries, rows):
        got = next(read_data_rows(paths["data"], start=pos))
        assert got.key == key
        assert _rows_equal(got, expect)


def test_summary_samples_index(tmp_path, cell_fixture):
    rows = [row for g, row in cell_fixture if g == 1]
    w = SSTableWriter(str(tmp_path), "sm", generation=1, summary_rate=4)
    for row in rows:
        w.write_row(row)
    paths = w.close()
    index = list(read_index_entries(paths["index"]))
    summary = list(read_summary_entries(paths["summary"]))
    assert [k for k, _ in summary] == [k for k, _ in index][::4]
    # index offsets recorded in the summary must be readable seek points
    for key, ioff in summary:
        k2, _pos = next(read_index_entries(paths["index"], start=ioff))
        assert k2 == key


def test_compressed_random_access(tmp_path):
    """Chunked reader must serve reads from arbitrary uncompressed
    offsets (the split-reading path)."""
    rows = [Row(key=f"k{i:05d}".encode(),
                cells=[Cell(name=b"n", data=os.urandom(100), timestamp=i)])
            for i in range(500)]
    w = SSTableWriter(str(tmp_path), "ra", generation=1, compressed=True,
                      chunk_length=512)
    for row in rows:
        w.write_row(row)
    paths = w.close()
    entries = list(read_index_entries(paths["index"]))
    for key, pos in entries[::37]:
        got = next(read_data_rows(paths["data"], start=pos))
        assert got.key == key


def test_partition_planning_tiles_file(tmp_path):
    """G2 invariant: consecutive splits tile the uncompressed stream
    exactly once (GenerateSSTableDataSplits.scala:196-199), and reading
    the planned partitions yields every row exactly once."""
    from sstable_hadoop_spark.sources.datasource import _plan_file

    rows = [Row(key=f"k{i:05d}".encode(),
                cells=[Cell(name=b"n", data=b"x" * 200, timestamp=i)])
            for i in range(300)]
    w = SSTableWriter(str(tmp_path), "pl", generation=1, compressed=True,
                      chunk_length=1024)
    for row in rows:
        w.write_row(row)
    paths = w.close()
    parts, _info = _plan_file(paths["data"], max_split=8 * 1024)
    assert len(parts) > 3
    assert parts[0].start == 0
    for a, b in zip(parts, parts[1:]):
        assert a.end == b.start
    got = []
    for p in parts:
        got.extend(r.key for r in read_data_rows(p.path, p.start, p.end))
    assert got == [r.key for r in rows]


@pytest.mark.parametrize("compressed", [False, True])
def test_read_paths_close_the_data_file(tmp_path, monkeypatch, compressed):
    """Every Data.db handle a read opens is closed once the read is
    fully consumed, and when the iterator is abandoned early."""
    from sstable_hadoop_spark.sources import fs

    paths = codec.write_sstable(
        str(tmp_path), "h", [Row(key=f"k{i:04d}".encode(),
                                 cells=[Cell(name=b"n", data=b"v" * 50)])
                             for i in range(400)],
        compressed=compressed, chunk_length=1024)
    opened = []
    real_open = fs.open_input

    def recording(path):
        f = real_open(path)
        if path == paths["data"]:
            opened.append(f)
        return f

    monkeypatch.setattr(fs, "open_input", recording)
    for read in (codec.read_data_batches, codec.read_cell_batches):
        assert sum(b.num_rows for b in read(paths["data"])) > 0
        gen = read(paths["data"], rows_per_batch=8) \
            if read is codec.read_data_batches \
            else read(paths["data"], cells_per_batch=8)
        next(gen)
        gen.close()
    rows = codec.read_data_rows(paths["data"])
    assert len(list(rows)) == 400
    rows = codec.read_data_rows(paths["data"])
    next(rows)
    rows.close()
    assert len(opened) == 6
    assert all(f.closed for f in opened)


def _drain(batches, errors: list) -> list[dict]:
    """Records of ``batches`` up to the first EOFError, which is kept
    in ``errors``."""
    out = []
    try:
        for b in batches:
            out.extend(b.to_pylist())
    except EOFError as exc:
        errors.append(exc)
    return out


def test_read_data_batches_equals_row_iterator(tmp_path):
    """Both Arrow views must produce exactly what the row iterator
    reads — nested rows for ``read_data_batches``, the flattened cells
    for ``read_cell_batches`` — for all three cell states, both
    compression modes, parse windows far smaller than a row batch
    (window-edge row straddling, multi-batch output), cell batches cut
    inside rows, and a truncated file (the readable prefix, then
    EOFError)."""
    from sstable_hadoop_spark.sources.codec import (
        read_cell_batches,
        read_data_batches,
        rows_to_batches,
    )

    rows = []
    for i in range(500):
        cells = [
            Cell(name=f"n{j}".encode(), state="NORMAL",
                 data=f"v{i}:{j}".encode() * (1 + i % 7),
                 timestamp=10_000 + i) for j in range(i % 4)]
        if i % 3 == 0:
            cells.append(Cell(name=b"dead", state="DELETED",
                              timestamp=20_000 + i))
        if i % 5 == 0:
            cells.append(Cell(name=b"exp", state="EXPIRING", data=b"ttl'd",
                              timestamp=30_000 + i, ttl=60,
                              expiration=40_000 + i))
        rows.append(Row(key=f"key{i:05d}".encode(), cells=cells))

    def nested(recs):
        return [(rec["key"],
                 [(c["name"], c["state"], c["data"], c["timestamp"],
                   c["ttl"], c["expiration"]) for c in rec["columns"]],
                 rec["generation"]) for rec in recs]

    def flat(recs):
        return [(rec["key"], [(rec["name"], rec["state"], rec["data"],
                               rec["timestamp"], rec["ttl"],
                               rec["expiration"])], rec["generation"])
                for rec in recs]

    def reference(path, errors):
        out = []
        try:
            for r in read_data_rows(path):
                out.append((r.key,
                            [(c.name, c.state, c.data, c.timestamp, c.ttl,
                              c.expiration) for c in r.cells], 3))
        except EOFError as exc:
            errors.append(exc)
        return out

    def flattened(expect):
        return [(key, [cell], gen) for key, cells, gen in expect
                for cell in cells]

    for compressed in (False, True):
        d = str(tmp_path / f"eq_{compressed}")
        paths = codec.write_sstable(d, "eq", rows, generation=3,
                                    compressed=compressed, chunk_length=2048)
        expect = reference(paths["data"], [])
        assert len(expect) == 500

        batches = list(read_data_batches(paths["data"], generation=3,
                                         rows_per_batch=64, read_block=512))
        assert len(batches) > 1
        assert nested(r for b in batches for r in b.to_pylist()) == expect
        # the Row adapter behind format=cassandra cuts the same batches
        assert list(rows_to_batches(read_data_rows(paths["data"]),
                                    generation=3, rows_per_batch=64)) \
            == batches

        # 3-cell batches cut rows of up to 5 cells in the middle
        batches = list(read_cell_batches(paths["data"], generation=3,
                                         cells_per_batch=3, read_block=512))
        assert [b.num_rows for b in batches[:-1]] == [3] * (len(batches) - 1)
        assert any(a.column("key")[-1] == b.column("key")[0]
                   for a, b in zip(batches, batches[1:]))
        assert flat(r for b in batches
                    for r in b.to_pylist()) == flattened(expect)
        assert list(rows_to_batches(read_data_rows(paths["data"]),
                                    generation=3, flat=True,
                                    cells_per_batch=3)) == batches

    # truncated mid-row: each view keeps the reference's readable prefix
    data = paths["data"].replace("eq_True", "eq_False")
    cut = str(tmp_path / "cut-3-Data.db")
    with open(data, "rb") as src, open(cut, "wb") as dst:
        dst.write(src.read(os.path.getsize(data) - 31))
    ref_err, nested_err, flat_err = [], [], []
    prefix = reference(cut, ref_err)
    assert ref_err and 0 < len(prefix) < 500
    assert nested(_drain(read_data_batches(
        cut, generation=3, rows_per_batch=64, read_block=512),
        nested_err)) == prefix
    assert flat(_drain(read_cell_batches(
        cut, generation=3, cells_per_batch=3, read_block=512),
        flat_err)) == flattened(prefix)
    assert nested_err and flat_err
    assert "truncated row" in str(nested_err[0])
    assert str(nested_err[0]) == str(flat_err[0])


def test_writer_supports_lz4_and_zstd(tmp_path):
    """The native chunked format stores the codec name, so any pyarrow
    codec round-trips — lz4 and zstd beyond the default snappy (and
    deflate for Cassandra parity)."""
    from sstable_hadoop_spark.sources.codec import (
        Cell,
        Row,
        read_data_rows,
        write_sstable,
    )

    rows = [Row(key=f"k{i:03d}".encode(),
                cells=[Cell(name=b"c", state="NORMAL",
                            data=(f"v{i}" * 20).encode(), timestamp=i)])
            for i in range(200)]
    for algo in ("lz4", "zstd", "deflate"):
        d = str(tmp_path / algo)
        write_sstable(d, "cf", rows, generation=1, compressed=True,
                      algo=algo)
        got = list(read_data_rows(f"{d}/cf-1-Data.db"))
        assert [r.key for r in got] == [r.key for r in rows]
        assert got[5].cells[0].data == rows[5].cells[0].data
