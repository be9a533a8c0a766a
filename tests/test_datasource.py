"""spark.read.format("sstable") — scan correctness over real files."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tests.conftest import cells_as_records


def test_data_scan_all_generations(spark, sstable_dir, cell_fixture):
    df = spark.read.format("sstable").load(sstable_dir)
    assert df.count() == len(cell_fixture)
    gens = {r["generation"] for r in df.select("generation").distinct().collect()}
    assert gens == {g for g, _ in cell_fixture}


def test_data_scan_cell_fidelity(spark, sstable_dir, cell_fixture):
    df = spark.read.format("sstable").load(sstable_dir)
    from sstable_hadoop_spark.operators import explode_cells

    got = {
        (bytes(r["key"]), bytes(r["name"]), r["state"],
         bytes(r["data"]) if r["data"] is not None else None,
         r["timestamp"], r["ttl"], r["expiration"], r["generation"])
        for r in explode_cells(df).collect()
    }
    want = {
        (r["key"], r["name"], r["state"], r["data"], r["timestamp"],
         r["ttl"], r["expiration"], r["generation"])
        for r in cells_as_records(cell_fixture)
    }
    assert got == want


def test_index_scan(spark, sstable_dir, cell_fixture):
    idx = spark.read.format("sstable").option("kind", "index").load(sstable_dir)
    rows = idx.collect()
    assert len(rows) == len(cell_fixture)  # one index entry per row written
    # offsets are non-negative and keys match the data scan keys
    assert all(r["pos"] >= 0 for r in rows)
    data_keys = {(bytes(r["key"]), r["generation"])
                 for r in spark.read.format("sstable").load(sstable_dir)
                 .select("key", "generation").collect()}
    index_keys = {(bytes(r["key"]), r["generation"]) for r in rows}
    assert index_keys == data_keys


def test_index_projection_s8(spark, sstable_dir):
    """S8: the Pig index loader projects away the offset
    (SSTableIndexLoader.scala:24-26)."""
    idx = spark.read.format("sstable").option("kind", "index").load(sstable_dir)
    keys = idx.select(F.col("key").cast("string").alias("key"))
    assert keys.columns == ["key"]
    assert keys.count() > 0


def test_summary_scan(spark, sstable_dir):
    s = spark.read.format("sstable").option("kind", "summary").load(sstable_dir)
    idx = spark.read.format("sstable").option("kind", "index").load(sstable_dir)
    per_gen_summary = {r["generation"]: r["cnt"] for r in
                       s.groupBy("generation").agg(F.count("*").alias("cnt")).collect()}
    per_gen_index = {r["generation"]: r["cnt"] for r in
                     idx.groupBy("generation").agg(F.count("*").alias("cnt")).collect()}
    for g, n_idx in per_gen_index.items():
        # summary_rate=8 in the fixture → ceil(n/8) samples
        assert per_gen_summary[g] == (n_idx + 7) // 8


def test_manifest_scan(spark, sstable_dir):
    m = spark.read.format("sstable").option("kind", "manifest") \
        .option("max_split_bytes", "4096").load(sstable_dir)
    rows = m.collect()
    assert len(rows) >= 4  # at least one split per generation file
    by_file = {}
    for r in sorted(rows, key=lambda r: (r["filename"], r["split_index"])):
        by_file.setdefault(r["filename"], []).append(r)
    for fname, parts in by_file.items():
        compressed = parts[0]["chunks"] is not None
        for a, b in zip(parts, parts[1:]):
            if compressed:
                # compressed-space ranges: monotone and gap-free, but a
                # row-boundary split may share its edge chunk with the
                # next split → overlap of at most one chunk
                assert b["byte_start"] <= a["byte_start"] + a["byte_length"]
                assert b["byte_start"] >= a["byte_start"]
                assert b["chunks"][0] >= a["chunks"][0]
            else:
                # uncompressed files tile exactly (G2 invariant)
                assert a["byte_start"] + a["byte_length"] == b["byte_start"]
        if compressed:
            import os

            from sstable_hadoop_spark.sources.codec import (
                read_compression_info,
            )

            root = parts[0]["filename"]
            ci = read_compression_info(
                os.path.join(sstable_dir, root + "-CompressionInfo.db"))
            # inner ranges cover the whole uncompressed stream exactly
            assert sum(p["inner_length"] for p in parts) \
                == ci.uncompressed_length
            # byte ranges land inside the compressed file
            fsize = os.path.getsize(
                os.path.join(sstable_dir, root + "-Data.db"))
            for p in parts:
                assert 0 <= p["byte_start"] <= fsize
                assert p["byte_start"] + p["byte_length"] <= fsize
                assert 0 <= p["inner_offset"] < max(
                    p["uncompressed_length"], 1)
                # chunks are the compressed positions the split spans
                assert p["chunks"][0] == p["byte_start"]


def test_manifest_compressed_ranges_consumable_like_reference(
        spark, sstable_dir):
    """A reference-style consumer (SplitSSTableDataRecordReader:
    read compressed [byteStart, byteStart+byteLength), decompress the
    chunk list, seek innerOffset, read innerLength) must recover
    exactly the rows of each split — proves the manifest's
    compressed-space fields are actually consumable, not just shaped
    right."""
    from sstable_hadoop_spark.sources.codec import (
        _decompress,
        read_compression_info,
        read_data_rows,
    )

    m = spark.read.format("sstable").option("kind", "manifest") \
        .option("max_split_bytes", "4096").load(sstable_dir)
    rows = [r for r in m.collect() if r["chunks"] is not None]
    assert rows, "fixture should contain compressed generations"
    checked = 0
    for r in rows:
        data_path = os.path.join(sstable_dir, r["filename"] + "-Data.db")
        ci = read_compression_info(
            os.path.join(sstable_dir,
                         r["filename"] + "-CompressionInfo.db"))
        blob = open(data_path, "rb").read()[
            r["byte_start"]:r["byte_start"] + r["byte_length"]]
        # chunk boundaries relative to the fetched range, as the
        # reference offsets them (SplitSSTableDataRecordReader.scala:66)
        rel = [c - r["byte_start"] for c in r["chunks"]] + [len(blob)]
        out = bytearray()
        first_chunk = ci.chunk_offsets.index(r["chunks"][0])
        for i, (s, e) in enumerate(zip(rel, rel[1:])):
            comp = blob[s:e - 4]  # strip the 4-byte checksum trailer
            idx = first_chunk + i
            remaining = ci.uncompressed_length - idx * ci.chunk_length
            out += _decompress(comp, ci.algo,
                               min(ci.chunk_length, remaining))
        inner = bytes(out[r["inner_offset"]:
                          r["inner_offset"] + r["inner_length"]])
        # parse rows straight off the recovered inner range
        got = list(read_data_rows_from_bytes(inner))
        # engine's own uncompressed-range read of the same split
        u_start = first_chunk * ci.chunk_length + r["inner_offset"]
        want = list(read_data_rows(data_path, u_start,
                                   u_start + r["inner_length"]))
        assert [(x.key, x.cells) for x in got] \
            == [(x.key, x.cells) for x in want]
        assert sum(len(c) for c in [x.cells for x in got]) >= 0
        checked += 1
    assert checked >= 2


def read_data_rows_from_bytes(raw: bytes):
    """Parse native-layout rows from an in-memory uncompressed blob
    (test helper emulating the reference's in-memory split parse)."""
    import io
    import struct

    from sstable_hadoop_spark.sources.codec import Row, _read_cell

    buf = io.BytesIO(raw)
    while True:
        header = buf.read(2)
        if not header:
            return
        (key_len,) = struct.unpack(">H", header)
        key = buf.read(key_len)
        (n_cells,) = struct.unpack(">I", buf.read(4))
        yield Row(key=key, cells=[_read_cell(buf) for _ in range(n_cells)])


def _reference_cells(directory: str, skip_values: bool = False):
    """Every cell of every Data.db under ``directory`` as (key, name,
    state, data, timestamp, ttl, expiration, generation), decoded by
    the codec's row-at-a-time reference reader ``read_data_rows``."""
    from sstable_hadoop_spark.sources.codec import (
        generation_of,
        read_data_rows,
    )

    out = []
    for fn in sorted(os.listdir(directory)):
        if fn.endswith("-Data.db"):
            path = os.path.join(directory, fn)
            out.extend((r.key, c.name, c.state, c.data, c.timestamp,
                        c.ttl, c.expiration, generation_of(path))
                       for r in read_data_rows(path, skip_values=skip_values)
                       for c in r.cells)
    return sorted(out, key=repr)


def test_cells_kind_matches_exploded_data_scan(spark, sstable_dir):
    """kind=cells (flat, wide-row-safe) must equal
    explode_cells(kind=data) and the ``read_data_rows`` reference
    cell-for-cell, with splits and key pushdown."""
    from sstable_hadoop_spark.operators import explode_cells

    def snap(df):
        return sorted(
            (bytes(r["key"]), bytes(r["name"]), r["state"],
             None if r["data"] is None else bytes(r["data"]),
             r["timestamp"], r["ttl"], r["expiration"], r["generation"])
            for r in df.collect())

    base = snap(explode_cells(
        spark.read.format("sstable").load(sstable_dir)))
    flat = spark.read.format("sstable").option("kind", "cells") \
        .option("max_split_bytes", "2048").load(sstable_dir)
    assert snap(flat) == base
    assert sorted(snap(flat), key=repr) == _reference_cells(sstable_dir)
    # key filter still correct (partition pruning is correctness-free)
    some_key = base[0][0]
    got = snap(flat.filter(F.col("key") == some_key))
    assert got == [c for c in base if c[0] == some_key]


def test_cells_kind_handles_wide_row(spark, tmp_path):
    """The Cassandra wide-row pathology: one row key holding 200k cells
    streams through kind=cells in bounded batches (the nested shape
    would hold the whole row as a single value)."""
    from sstable_hadoop_spark.sources.codec import (
        Cell,
        Row,
        write_sstable,
    )

    d = str(tmp_path / "wide")
    n = 200_000
    cells = [Cell(f"c{i:06d}".encode(), "NORMAL", b"v", i)
             for i in range(n)]
    write_sstable(d, "wide-cf", [Row(b"widekey", cells)], generation=1)

    flat = spark.read.format("sstable").option("kind", "cells").load(d)
    assert flat.count() == n
    agg = flat.selectExpr("min(timestamp) AS lo", "max(timestamp) AS hi",
                          "count(DISTINCT name) AS names").collect()[0]
    assert (agg["lo"], agg["hi"], agg["names"]) == (0, n - 1, n)


def test_split_scan_matches_whole_scan(spark, sstable_dir):
    whole = spark.read.format("sstable").load(sstable_dir)
    split = spark.read.format("sstable") \
        .option("max_split_bytes", "2048").load(sstable_dir)
    assert split.rdd.getNumPartitions() > whole.rdd.getNumPartitions() or \
        split.count() == whole.count()
    a = {(bytes(r["key"]), r["generation"]) for r in whole.collect()}
    b = {(bytes(r["key"]), r["generation"]) for r in split.collect()}
    assert a == b
    assert split.count() == whole.count()  # no dup rows across splits


def test_write_sink_roundtrip(spark, tmp_path):
    """df.write.format('sstable') → read back → identical cell set
    (distributed writer, 2 generations, one compressed run)."""
    from sstable_hadoop_spark.operators import collect_rows, explode_cells

    cells = spark.createDataFrame(
        [(f"k{i:03d}".encode(), f"c{i % 5}".encode(),
          "NORMAL" if i % 4 else "DELETED",
          None if i % 4 == 0 else f"v{i}".encode(),
          1000 + i, None, None, 1 + (i % 2))
         for i in range(200)],
        "key binary, name binary, state string, data binary, "
        "timestamp bigint, ttl bigint, expiration bigint, generation int")
    nested = collect_rows(cells, by_generation=True)

    out = str(tmp_path / "written")
    (nested.repartition(4, "key").write.format("sstable")
     .option("path", out).mode("append").save())

    back = explode_cells(spark.read.format("sstable").load(out))
    want = {tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v
                  for v in r) for r in cells.collect()}
    got = {tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v
                 for v in r)
           for r in back.select(*cells.columns).collect()}
    assert got == want


def test_write_sink_compressed(spark, tmp_path):
    from sstable_hadoop_spark.operators import collect_rows, explode_cells

    cells = spark.createDataFrame(
        [(f"k{i:03d}".encode(), b"c", "NORMAL", b"v" * 100, i, None, None, 1)
         for i in range(300)],
        "key binary, name binary, state string, data binary, "
        "timestamp bigint, ttl bigint, expiration bigint, generation int")
    out = str(tmp_path / "written_c")
    (collect_rows(cells, by_generation=True).coalesce(2)
     .write.format("sstable").option("path", out)
     .option("compressed", "true").option("chunk_length", "1024")
     .mode("append").save())
    import glob
    assert glob.glob(out + "/*-CompressionInfo.db")
    back = explode_cells(spark.read.format("sstable").load(out))
    assert back.count() == 300


# ---- sink: Arrow batches → codec rows --------------------------------
# The sink reads its input as Arrow record batches by column name; these
# write through df.write.format("sstable") and read the files back with
# the codec's own decoders.

_SINK_ROWS = [
    # (key, cells, generation); a cell is the codec's field order
    (b"k0", [(b"a", "NORMAL", None, 5, None, None),        # null data
             (b"b", "DELETED", None, 6, None, None),
             (b"c", "EXPIRING", b"x", 7, 60, 1_700_000_000_000),
             (b"d", "NORMAL", b"y", 8, None, None)], 1),
    (b"k1", [], 1),                                        # no cells
    (b"k2", None, 1),                                      # null columns
    (b"k3", [(b"a", "NORMAL", b"z", 9, None, None)], 2),
]


def _sink_df(spark, rows, field_order=("name", "state", "data",
                                       "timestamp", "ttl", "expiration")):
    types = {"name": "binary", "state": "string", "data": "binary",
             "timestamp": "bigint", "ttl": "bigint", "expiration": "bigint"}
    canon = ("name", "state", "data", "timestamp", "ttl", "expiration")
    perm = [canon.index(f) for f in field_order]
    struct = ",".join(f"{f}:{types[f]}" for f in field_order)
    return spark.createDataFrame(
        [(k, None if cells is None else
          [tuple(c[i] for i in perm) for c in cells], g)
         for k, cells, g in rows],
        f"key binary, columns array<struct<{struct}>>, generation int")


def _read_back(out, fmt="native"):
    """{(generation, key): [codec.Cell]} of every family under ``out``."""
    from sstable_hadoop_spark.sources import cassandra1x, codec

    read = (codec.read_data_rows if fmt == "native"
            else cassandra1x.read_cassandra_rows)
    got = {}
    for f in sorted(os.listdir(out)):
        if f.endswith("-Data.db"):
            for row in read(os.path.join(out, f)):
                got[(codec.generation_of(f), row.key)] = row.cells
    return got


def _want(rows):
    """What the files must hold: both formats store a live cell's null
    value as empty bytes, and a null ``columns`` as a row with none."""
    from sstable_hadoop_spark.sources.codec import STATE_DELETED, Cell

    def stored(name, state, data, *rest):
        if data is None and state != STATE_DELETED:
            data = b""
        return Cell(name, state, data, *rest)

    return {(g, k): [stored(*c) for c in (cells or [])]
            for k, cells, g in rows}


def _sink_write(df, out, **opts):
    w = df.write.format("sstable").option("path", out).mode("append")
    for k, v in opts.items():
        w = w.option(k, v)
    w.save()


def test_sink_arrow_nulls_empty_and_two_generations(spark, tmp_path):
    """Null data/ttl/expiration, an empty and a null ``columns``, and two
    generations written by one task (two families)."""
    out = str(tmp_path / "o")
    _sink_write(_sink_df(spark, _SINK_ROWS).coalesce(1), out)
    assert sum(f.endswith("-Data.db") for f in os.listdir(out)) == 2
    assert _read_back(out) == _want(_SINK_ROWS)


def test_sink_arrow_reads_cell_fields_by_name(spark, tmp_path):
    """Cell struct fields (and top-level columns) in non-canonical order
    are matched by name, not position."""
    out = str(tmp_path / "o")
    df = _sink_df(spark, _SINK_ROWS, field_order=(
        "expiration", "data", "timestamp", "name", "ttl", "state"))
    _sink_write(df.select("generation", "columns", "key").coalesce(1), out)
    assert _read_back(out) == _want(_SINK_ROWS)


def test_sink_arrow_many_batches_per_task(spark, tmp_path):
    """Many small Arrow batches per task: each batch's list offsets are
    read on their own and every row lands once, in key order."""
    rows = [(b"k%03d" % i,
             [(b"c%d" % j, "NORMAL", b"v%d" % (i * j), i, None, None)
              for j in range(i % 4)], 1 + i % 2)
            for i in range(60)]
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        out = str(tmp_path / "o")
        _sink_write(_sink_df(spark, rows).coalesce(1), out)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    assert _read_back(out) == _want(rows)
    from sstable_hadoop_spark.sources.codec import read_data_rows

    for f in os.listdir(out):
        if f.endswith("-Data.db"):
            keys = [r.key for r in read_data_rows(os.path.join(out, f))]
            assert keys == sorted(keys)


def test_sink_arrow_batch_rows_sliced():
    """``_batch_rows`` on sliced batches: list offsets that do not start
    at zero, and a null ``columns`` slot."""
    import pyarrow as pa

    from sstable_hadoop_spark.sources.codec import Cell
    from sstable_hadoop_spark.sources.datasource import _batch_rows

    cell = pa.struct([("ttl", pa.int64()), ("name", pa.binary()),
                      ("state", pa.string()), ("data", pa.binary()),
                      ("timestamp", pa.int64()),
                      ("expiration", pa.int64())])

    def c(n, ts):
        return {"name": n, "state": "NORMAL", "data": n * 2,
                "timestamp": ts, "ttl": None, "expiration": None}

    batch = pa.record_batch(
        [pa.array([b"k1", b"k2", b"k3", b"k4"]),
         pa.array([[c(b"a", 1)], None, [c(b"b", 2), c(b"c", 3)],
                   [c(b"d", 4)]], type=pa.list_(cell)),
         pa.array([1, 1, 2, 3], pa.int32())],
        names=["key", "columns", "generation"])
    got = [(g, r.key, r.cells) for g, r in _batch_rows(batch.slice(1, 3))]
    assert got == [(1, b"k2", []),
                   (2, b"k3", [Cell(b"b", "NORMAL", b"bb", 2),
                               Cell(b"c", "NORMAL", b"cc", 3)]),
                   (3, b"k4", [Cell(b"d", "NORMAL", b"dd", 4)])]


def test_sink_arrow_cassandra_format(spark, tmp_path):
    """format=cassandra goes through the same conversion."""
    rows = [r for r in _SINK_ROWS if r[1]]  # 1.x rows carry cells
    out = str(tmp_path / "o")
    _sink_write(_sink_df(spark, rows).coalesce(1), out, format="cassandra",
                name="Ks-cf-hc")
    assert _read_back(out, fmt="cassandra") == _want(rows)


def test_corrupt_file_handling(spark, tmp_path):
    """Truncated Data.db: default read fails loudly; with
    ignore_corrupt_files the readable prefix is returned."""
    import pytest as _pytest

    from sstable_hadoop_spark.sources.codec import Cell, Row, write_sstable

    d = str(tmp_path / "corrupt")
    paths = write_sstable(
        d, "ok", [Row(f"k{i}".encode(), [Cell(b"c", "NORMAL", b"v" * 50, i)])
                  for i in range(50)], generation=1)
    # truncate mid-row and drop the index so planning can't see offsets
    import os
    size = os.path.getsize(paths["data"])
    with open(paths["data"], "r+b") as f:
        f.truncate(size - 31)
    os.remove(paths["index"])

    with _pytest.raises(Exception):
        spark.read.format("sstable").load(d).count()

    lenient = (spark.read.format("sstable")
               .option("ignore_corrupt_files", "true").load(d))
    n = lenient.count()
    assert 0 < n < 50  # readable prefix survives, tail dropped


def test_ignore_corrupt_split_is_logged(tmp_path, caplog):
    """ignore_corrupt_files=true drops a split's corrupt tail with one
    warning naming the file, its byte range and the error — on both the
    nested and the flat-cell decoders."""
    import logging

    from sstable_hadoop_spark.sources.codec import Cell, Row, write_sstable
    from sstable_hadoop_spark.sources.datasource import SSTableReader

    d = str(tmp_path / "corrupt_log")
    paths = write_sstable(
        d, "ok", [Row(f"k{i}".encode(), [Cell(b"c", "NORMAL", b"v" * 50, i)])
                  for i in range(50)], generation=1)
    size = os.path.getsize(paths["data"])
    with open(paths["data"], "r+b") as f:
        f.truncate(size - 31)
    os.remove(paths["index"])

    for kind in ("data", "cells"):
        reader = SSTableReader({"path": d, "kind": kind,
                                "ignore_corrupt_files": "true"})
        (part,) = reader.partitions()
        caplog.clear()
        with caplog.at_level(logging.WARNING):
            n = sum(b.num_rows for b in reader.read(part))
        assert 0 < n < 50
        (rec,) = [r for r in caplog.records if "corrupt" in r.getMessage()]
        msg = rec.getMessage()
        assert paths["data"] in msg
        assert f"[{part.start}:{part.end}]" in msg
        assert "ignore_corrupt_files" in msg


def test_bad_state_code_fails_every_projection(tmp_path):
    """A cell state byte outside NORMAL/DELETED/EXPIRING fails the split
    loudly on every projection — including key-only scans, which only
    bounds-walk the cells — instead of misparsing the rows after it."""
    import pytest as _pytest

    from sstable_hadoop_spark.sources.codec import (
        Cell,
        Row,
        read_index_entries,
        write_sstable,
    )
    from sstable_hadoop_spark.sources.datasource import SSTableReader

    d = str(tmp_path / "bad_state")
    rows = [Row(f"k{i:02d}".encode(),
                [Cell(b"c", "NORMAL", b"v" * 9, i),
                 Cell(b"d", "DELETED", None, i)]) for i in range(30)]
    paths = write_sstable(d, "bad", rows, generation=1)
    key, pos = list(read_index_entries(paths["index"]))[12]
    # row := u16 key_len, key, u32 n_cells; cell := u16 name_len, name,
    # u8 state, ...: the state byte of row 12's first cell
    state_at = pos + 2 + len(key) + 4 + 2 + len(b"c")
    with open(paths["data"], "r+b") as f:
        f.seek(state_at)
        assert f.read(1) == b"\x00"
        f.seek(state_at)
        f.write(b"\x07")

    for kind, columns in (("data", "key"), ("data", None),
                          ("cells", None), ("cells", "key")):
        opts = {"path": d, "kind": kind}
        if columns:
            opts["columns"] = columns
        reader = SSTableReader(opts)
        (part,) = reader.partitions()
        with _pytest.raises(IOError, match="corrupt sstable split") as exc:
            for _ in reader.read(part):
                pass
        assert "bad cell state code 7" in str(exc.value), (kind, columns)


# ---- explicit column projection (columns= / skip_values=) ----------
# The Python DataSource API exposes no Catalyst column pruning; these
# options are the engine's explicit stand-in (the reference's key-only
# jobs read Index.db instead — SSTableIndexRecordReader.scala:47-58 —
# but have no way to prune a Data.db scan).

def test_columns_projection_data_kind(spark, sstable_dir, cell_fixture):
    """columns=key,generation: schema narrows, row set matches the full
    scan's (key, generation) projection and the ``read_data_rows``
    reference exactly."""
    from sstable_hadoop_spark.sources.codec import (
        generation_of,
        read_data_rows,
    )

    want = sorted((bytes(r["key"]), r["generation"])
                  for r in spark.read.format("sstable").load(sstable_dir)
                  .select("key", "generation").collect())
    df = (spark.read.format("sstable")
          .option("columns", "key,generation").load(sstable_dir))
    assert df.columns == ["key", "generation"]
    got = sorted((bytes(r["key"]), r["generation"]) for r in df.collect())
    assert got == want
    data = [os.path.join(sstable_dir, fn) for fn in os.listdir(sstable_dir)
            if fn.endswith("-Data.db")]
    assert got == sorted((r.key, generation_of(p))
                         for p in data for r in read_data_rows(p))


def test_columns_projection_order_is_schema_order(spark, sstable_dir):
    df = (spark.read.format("sstable")
          .option("columns", "generation,key").load(sstable_dir))
    assert df.columns == ["key", "generation"]  # schema-field order


def test_skip_values_nulls_data_keeps_structure(spark, sstable_dir,
                                                cell_fixture):
    """skip_values=true: cell structure (name/state/ts/ttl/expiration)
    is bit-identical to the full scan; every data is NULL, as in the
    ``read_data_rows(skip_values=True)`` reference."""
    from sstable_hadoop_spark.operators import explode_cells

    full = {(bytes(r["key"]), bytes(r["name"]), r["state"],
             r["timestamp"], r["ttl"], r["expiration"], r["generation"])
            for r in explode_cells(
                spark.read.format("sstable").load(sstable_dir)).collect()}
    got = explode_cells(
        spark.read.format("sstable").option("skip_values", "true")
        .load(sstable_dir)).collect()
    assert all(r["data"] is None for r in got)
    assert {(bytes(r["key"]), bytes(r["name"]), r["state"],
             r["timestamp"], r["ttl"], r["expiration"],
             r["generation"]) for r in got} == full
    assert sorted(((bytes(r["key"]), bytes(r["name"]), r["state"], None,
                    r["timestamp"], r["ttl"], r["expiration"],
                    r["generation"]) for r in got), key=repr) \
        == _reference_cells(sstable_dir, skip_values=True)


def test_columns_projection_cells_kind(spark, sstable_dir, cell_fixture):
    from tests.conftest import cells_as_records

    df = (spark.read.format("sstable").option("kind", "cells")
          .option("columns", "key,name,timestamp").load(sstable_dir))
    assert df.columns == ["key", "name", "timestamp"]
    got = sorted((bytes(r["key"]), bytes(r["name"]), r["timestamp"])
                 for r in df.collect())
    want = sorted((r["key"], r["name"], r["timestamp"])
                  for r in cells_as_records(cell_fixture))
    assert got == want


def test_columns_projection_index_manifest_summary(spark, sstable_dir):
    idx = (spark.read.format("sstable").option("kind", "index")
           .option("columns", "key").load(sstable_dir))
    assert idx.columns == ["key"] and idx.count() > 0
    man = (spark.read.format("sstable").option("kind", "manifest")
           .option("columns", "filename,byte_length").load(sstable_dir))
    assert man.columns == ["filename", "byte_length"] and man.count() > 0
    summ = (spark.read.format("sstable").option("kind", "summary")
            .option("columns", "key,index_offset").load(sstable_dir))
    assert summ.columns == ["key", "index_offset"] and summ.count() > 0


def test_columns_projection_composes_with_pushdown(spark, sstable_dir,
                                                   cell_fixture):
    """Projection and key-range partition pruning compose: a key
    equality filter over a key-only scan returns exactly that key."""
    some_key = sorted(bytes(r[1].key) for r in cell_fixture)[0]
    df = (spark.read.format("sstable").option("columns", "key,generation")
          .load(sstable_dir).filter(F.col("key") == some_key))
    got = {bytes(r["key"]) for r in df.collect()}
    assert got == {some_key}


def test_columns_unknown_field_rejected(spark, sstable_dir):
    import pytest

    with pytest.raises(Exception, match="columns"):
        (spark.read.format("sstable").option("columns", "key,banana")
         .load(sstable_dir).collect())


def test_skip_values_cassandra_format(spark, tmp_path):
    """format=cassandra prunes post-parse: values null, structure
    intact."""
    import struct as _struct

    from sstable_hadoop_spark.sources.cassandra1x import (
        encode_cassandra_row,
    )
    from sstable_hadoop_spark.sources.codec import Cell, Row

    d = str(tmp_path / "cass")
    os.makedirs(d)
    rows = [Row(key=f"k{i}".encode(),
                cells=[Cell(name=b"c", state="NORMAL", data=b"v" * 20,
                            timestamp=1000 + i)])
            for i in range(10)]
    data_path = os.path.join(d, "Keyspace1-cf-hc-1-Data.db")
    raw = bytearray()
    with open(data_path.replace("-Data.db", "-Index.db"), "wb") as ix:
        for r in rows:
            ix.write(_struct.pack(">H", len(r.key)) + r.key
                     + _struct.pack(">Q", len(raw)))
            raw += encode_cassandra_row(r)
    with open(data_path, "wb") as f:
        f.write(raw)

    got = (spark.read.format("sstable").option("format", "cassandra")
           .option("kind", "cells").option("skip_values", "true")
           .load(d)).collect()
    assert len(got) == 10
    assert all(r["data"] is None for r in got)
    assert {r["timestamp"] for r in got} == {1000 + i for i in range(10)}

    proj = (spark.read.format("sstable").option("format", "cassandra")
            .option("columns", "key,generation").load(d))
    assert proj.columns == ["key", "generation"]
    assert proj.count() == 10


def test_corrupt_file_handling_cells_kind(spark, tmp_path):
    """Truncation semantics hold on the kind=cells windowed fast path
    too: loud failure by default, readable prefix with
    ignore_corrupt_files."""
    import pytest as _pytest

    from sstable_hadoop_spark.sources.codec import Cell, Row, write_sstable

    d = str(tmp_path / "corrupt_cells")
    paths = write_sstable(
        d, "ok", [Row(f"k{i}".encode(), [Cell(b"c", "NORMAL", b"v" * 50, i)])
                  for i in range(50)], generation=1)
    size = os.path.getsize(paths["data"])
    with open(paths["data"], "r+b") as f:
        f.truncate(size - 31)
    os.remove(paths["index"])

    base = spark.read.format("sstable").option("kind", "cells")
    with _pytest.raises(Exception):
        base.load(d).count()
    n = (base.option("ignore_corrupt_files", "true").load(d)).count()
    assert 0 < n < 50


def test_named_file_of_another_component_fails_planning(sstable_dir):
    """A path naming one file is read as that component only: an
    Index.db plans for ``kind=index`` and fails every other kind
    instead of being decoded as a Data.db or a Summary.db."""
    import pytest

    from sstable_hadoop_spark.sources.datasource import SSTableReader

    path = os.path.join(sstable_dir, "ks-cf-1-Index.db")
    (part,) = SSTableReader({"path": path, "kind": "index"}).partitions()
    assert (part.path, part.generation) == (path, 1)
    for kind in ("data", "cells", "summary", "manifest"):
        reader = SSTableReader({"path": path, "kind": kind})
        with pytest.raises(ValueError, match="is not a"):
            for p in reader.partitions():
                list(reader.read(p))


def test_ship_package_sweeps_unheld_zips(tmp_path, monkeypatch):
    """``ship_package`` builds its zip under a per-process temp name,
    holds it, and deletes older package zips and temp leftovers that
    no process holds; a held or young zip of another version stays."""
    import fcntl
    import tempfile
    import time
    from types import SimpleNamespace

    from sstable_hadoop_spark.sources import datasource

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    pkg_held: dict[str, int] = {}
    monkeypatch.setattr(datasource, "_PKG_HELD", pkg_held)
    prefix = "sstable_hadoop_spark_pkg_"
    old = time.time() - 2 * 3600
    for name in ("aaaaaaaaaaaa.zip", "bbbbbbbbbbbb.zip",
                 "cccccccccccc.zip.123.tmp", "dddddddddddd.zip"):
        (tmp_path / f"{prefix}{name}").write_bytes(b"x")
        if not name.startswith("d"):
            os.utime(tmp_path / f"{prefix}{name}", (old, old))
    held = os.open(tmp_path / f"{prefix}bbbbbbbbbbbb.zip", os.O_RDONLY)
    fcntl.flock(held, fcntl.LOCK_SH)  # a live session of another version
    try:
        shipped = []
        for _ in range(2):
            datasource.ship_package(SimpleNamespace(
                sparkContext=SimpleNamespace(addPyFile=shipped.append)))
    finally:
        os.close(held)
        for fd in pkg_held.values():
            os.close(fd)
    assert len(set(shipped)) == 1
    assert os.path.dirname(shipped[0]) == str(tmp_path)
    assert sorted(os.listdir(tmp_path)) == sorted([
        os.path.basename(shipped[0]), f"{prefix}bbbbbbbbbbbb.zip",
        f"{prefix}dddddddddddd.zip"])


def test_ship_package_keeps_a_zip_published_first(tmp_path, monkeypatch):
    """Two processes that both find no zip for a digest both build one;
    the one that publishes second must adopt the first zip, not replace
    the inode the first process holds and registered."""
    import tempfile
    from types import SimpleNamespace

    from sstable_hadoop_spark.sources import datasource

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    first: dict[str, int] = {}
    second: dict[str, int] = {}
    shipped = []

    def session():
        return SimpleNamespace(
            sparkContext=SimpleNamespace(addPyFile=shipped.append))

    try:
        monkeypatch.setattr(datasource, "_PKG_HELD", first)
        datasource.ship_package(session())
        (zip_path,) = shipped
        inode = os.stat(zip_path).st_ino
        # the second process checked for the zip before the first
        # published it, so it builds its own copy
        real_exists = os.path.exists
        monkeypatch.setattr(
            os.path, "exists",
            lambda p: p != zip_path and real_exists(p))
        monkeypatch.setattr(datasource, "_PKG_HELD", second)
        datasource.ship_package(session())
        assert os.fstat(second[zip_path]).st_ino == inode
    finally:
        for fd in [*first.values(), *second.values()]:
            os.close(fd)
    assert shipped == [zip_path, zip_path]
    assert os.stat(zip_path).st_ino == inode
    assert os.listdir(tmp_path) == [os.path.basename(zip_path)]
