"""Filesystem abstraction (sources/fs.py): the engine must read and
write SSTable directories addressed by URI — the reference's whole
deployment model is a distributed filesystem
(FSSeekableDataInputStream.scala:3, SSTableDataInputFormat.scala:13-18).
``file://`` exercises the real pyarrow.fs branch end-to-end through
Spark executors; a registered custom scheme proves arbitrary stores
(s3://, hdfs://, fsspec-backed) slot in with no planner changes."""

from __future__ import annotations

import os

import pytest

from sstable_hadoop_spark.sources import fs
from sstable_hadoop_spark.sources.codec import (
    Cell, Row, read_data_rows, write_sstable,
)


def test_has_scheme():
    assert fs.has_scheme("file:///tmp/x")
    assert fs.has_scheme("s3://bucket/key")
    assert fs.has_scheme("hdfs://nn:8020/a")
    assert not fs.has_scheme("/tmp/x")
    assert not fs.has_scheme("relative/path")
    assert not fs.has_scheme("x")


def test_list_files_missing_dir_is_empty(tmp_path):
    assert fs.list_files(f"file://{tmp_path}/nope", "-Data.db") == []
    assert fs.list_files(f"{tmp_path}/nope", "-Data.db") == []


def _rows():
    return [Row(key=f"k{i:03d}".encode(),
                cells=[Cell(name=b"c", state="NORMAL",
                            data=f"v{i}".encode(), timestamp=1000 + i)])
            for i in range(50)]


def test_file_uri_write_read_roundtrip(tmp_path):
    """write_sstable through file:// and byte-identical read back via
    both the URI and the bare path."""
    d = str(tmp_path / "gen")
    write_sstable(f"file://{d}", "cf", _rows(), generation=1,
                  compressed=True)
    uri_files = fs.list_files(f"file://{d}", "-Data.db")
    assert uri_files == [f"file://{d}/cf-1-Data.db"]
    got_uri = list(read_data_rows(uri_files[0]))
    got_bare = list(read_data_rows(f"{d}/cf-1-Data.db"))
    assert got_uri == got_bare
    assert [r.key for r in got_uri] == [r.key for r in _rows()]


def test_file_uri_spark_scan_matches_bare_path(spark, sstable_dir,
                                               cell_fixture):
    """Executors re-open partition paths carrying the scheme: a
    file:// scan must plan (splits, pruning) and read identically to
    the bare-path scan."""
    bare = (spark.read.format("sstable").option("path", sstable_dir)
            .load().orderBy("key", "generation"))
    uri = (spark.read.format("sstable")
           .option("path", f"file://{sstable_dir}")
           .load().orderBy("key", "generation"))
    assert uri.count() == bare.count()
    assert [r.asDict() for r in uri.collect()] == \
        [r.asDict() for r in bare.collect()]


def test_file_uri_spark_index_and_manifest(spark, sstable_dir):
    idx = (spark.read.format("sstable")
           .option("path", f"file://{sstable_dir}")
           .option("kind", "index").load())
    assert idx.count() > 0
    man = (spark.read.format("sstable")
           .option("path", f"file://{sstable_dir}")
           .option("kind", "manifest").load())
    assert man.count() > 0


def test_file_uri_spark_write_sink(spark, tmp_path):
    """Distributed sink through a URI: tasks write via fs.open_output,
    abort/overwrite paths go through fs.remove."""
    src = spark.createDataFrame(
        [(bytearray(b"k1"),
          [(bytearray(b"c"), "NORMAL", bytearray(b"v"), 5, None, None)],
          1)],
        "key binary, columns array<struct<name:binary,state:string,"
        "data:binary,timestamp:long,ttl:long,expiration:long>>, "
        "generation int")
    out = str(tmp_path / "sunk")
    (src.write.format("sstable").option("path", f"file://{out}")
     .mode("append").save())
    back = (spark.read.format("sstable")
            .option("path", f"file://{out}").load())
    assert back.count() == 1
    assert bytes(back.first()["key"]) == b"k1"


def test_registered_scheme_mounts_custom_store(tmp_path):
    """register_scheme() mounts any pyarrow FileSystem at a new scheme
    — the extension point for stores from_uri cannot build (fsspec
    wrappers, test fakes).  A SubTree filesystem behaves like a remote
    store with its own namespace."""
    from pyarrow import fs as pafs

    root = tmp_path / "fakestore"
    root.mkdir()
    fs.register_scheme("mem", pafs.SubTreeFileSystem(
        str(root), pafs.LocalFileSystem()))
    try:
        write_sstable("mem://bucket/t", "cf", _rows(), generation=2)
        # physically landed inside the subtree, invisible via "mem"
        assert (root / "bucket" / "t" / "cf-2-Data.db").exists()
        listed = fs.list_files("mem://bucket/t", "-Data.db")
        assert listed == ["mem://bucket/t/cf-2-Data.db"]
        assert fs.exists("mem://bucket/t/cf-2-Index.db")
        assert fs.file_size(listed[0]) > 0
        got = list(read_data_rows(listed[0]))
        assert [r.key for r in got] == [r.key for r in _rows()]
        fs.remove("mem://bucket/t/cf-2-Summary.db")
        assert not fs.exists("mem://bucket/t/cf-2-Summary.db")
    finally:
        fs._SCHEMES.pop("mem", None)


def test_registered_scheme_planner_splits(tmp_path):
    """Split planning (the G1/G2 metadata pass) runs against a custom
    scheme without touching local-path code."""
    from pyarrow import fs as pafs

    from sstable_hadoop_spark.sources.datasource import _plan_file

    root = tmp_path / "store2"
    root.mkdir()
    fs.register_scheme("mem2", pafs.SubTreeFileSystem(
        str(root), pafs.LocalFileSystem()))
    try:
        write_sstable("mem2://d", "cf", _rows(), generation=1)
        parts, _info = _plan_file("mem2://d/cf-1-Data.db", max_split=256)
        assert len(parts) > 1  # tiny target forces multiple splits
        seen = []
        for p in parts:
            assert p.path.startswith("mem2://")
            seen.extend(r.key for r in read_data_rows(
                p.path, p.start, p.end))
        assert seen == [r.key for r in _rows()]
    finally:
        fs._SCHEMES.pop("mem2", None)


def test_mtime_ns_uri(tmp_path):
    f = tmp_path / "x.bin"
    f.write_bytes(b"abc")
    assert fs.mtime_ns(f"file://{f}") > 0
    assert fs.file_size(f"file://{f}") == 3
    assert fs.is_file(f"file://{f}")
    assert not fs.is_file(f"file://{tmp_path}")


def test_rename_rejects_cross_filesystem_pairs(tmp_path):
    """rename() is same-filesystem only: a cross-scheme pair must
    raise instead of silently moving to a wrong (relative) path."""
    import pytest as _pytest
    from pyarrow import fs as pafs

    from sstable_hadoop_spark.sources import fs

    src = tmp_path / "a.bin"
    src.write_bytes(b"x")
    root = tmp_path / "memroot4"
    root.mkdir()
    fs.register_scheme("mem4", pafs.SubTreeFileSystem(
        str(root), pafs.LocalFileSystem()))
    with _pytest.raises(ValueError, match="one filesystem"):
        fs.rename(str(src), "mem4://a.bin")
    with _pytest.raises(ValueError, match="one filesystem"):
        fs.rename("mem4://a.bin", str(src))
    assert src.exists()  # nothing moved
    # put_file is the cross-store path, and it COPIES (src preserved)
    fs.put_file(str(src), "mem4://up.bin")
    assert (root / "up.bin").read_bytes() == b"x"
    assert src.exists()


def test_write_bytes_exclusive_local_race_one_winner(tmp_path):
    """The local commit primitive: N threads racing the same path —
    exactly one wins, and the winner's FULL bytes are what readers
    see (the hard-link publish makes name+content atomic)."""
    import threading

    from sstable_hadoop_spark.sources import fs

    target = str(tmp_path / "commit.json")
    payload = {i: (b"%03d" % i) * 5000 for i in range(8)}
    wins = []
    barrier = threading.Barrier(8)

    def racer(i):
        barrier.wait()
        if fs.write_bytes_exclusive(target, payload[i]):
            wins.append(i)

    threads = [threading.Thread(target=racer, args=(i,))
               for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(wins) == 1
    assert fs.read_bytes(target) == payload[wins[0]]
    # losers' and winner's temps are all cleaned up
    leftovers = [p for p in os.listdir(tmp_path) if ".excl-" in p]
    assert leftovers == []


def test_write_bytes_exclusive_never_publishes_torn_content(tmp_path):
    """A writer that dies before the link publishes NOTHING at the
    final name (the r9-ADVICE torn-head-commit window): simulate the
    crash by failing the link step and assert the target never came
    into existence, then confirm a later writer still wins cleanly."""
    from unittest import mock

    from sstable_hadoop_spark.sources import fs

    target = str(tmp_path / "commit.json")
    real_link = os.link

    with mock.patch("os.link",
                    side_effect=KeyboardInterrupt("died pre-publish")):
        try:
            fs.write_bytes_exclusive(target, b"half-written")
        except KeyboardInterrupt:
            pass
    assert not os.path.exists(target)  # no torn head commit
    os.link = real_link
    assert fs.write_bytes_exclusive(target, b"whole") is True
    assert fs.read_bytes(target) == b"whole"


def test_write_bytes_exclusive_scheme_requires_arbiter(tmp_path):
    """A scheme'd path with no registered conditional-create arbiter
    must REFUSE (loud ExclusiveWriteUnsupported), never degrade to
    racy check-then-write."""
    import pytest as _pytest
    from pyarrow import fs as pafs

    from sstable_hadoop_spark.sources import fs

    root = tmp_path / "memroot5"
    root.mkdir()
    fs.register_scheme("mem5", pafs.SubTreeFileSystem(
        str(root), pafs.LocalFileSystem()))
    with _pytest.raises(fs.ExclusiveWriteUnsupported,
                        match="register_exclusive_writer"):
        fs.write_bytes_exclusive("mem5://c.json", b"x")
    assert not (root / "c.json").exists()


def test_register_exclusive_writer_arbitrates_scheme(tmp_path):
    """A registered arbiter (modeling a store's native conditional
    PUT: server-side atomic if-absent create) carries the exactly-
    one-winner guarantee to a scheme whose plain writes are NOT
    exclusive."""
    import threading

    from pyarrow import fs as pafs

    from sstable_hadoop_spark.sources import fs

    root = tmp_path / "memroot6"
    root.mkdir()
    fs.register_scheme("mem6", pafs.SubTreeFileSystem(
        str(root), pafs.LocalFileSystem()))
    server_lock = threading.Lock()  # the store's internal atomicity

    def cond_put(path, data):
        with server_lock:
            if fs.exists(path):
                return False
            fs.write_bytes_atomic(path, data)
            return True

    fs.register_exclusive_writer("mem6", cond_put)
    fs.makedirs("mem6://t")
    wins = []
    barrier = threading.Barrier(6)

    def racer(i):
        barrier.wait()
        if fs.write_bytes_exclusive("mem6://t/v1.json",
                                    b"writer-%d" % i):
            wins.append(i)

    threads = [threading.Thread(target=racer, args=(i,))
               for i in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(wins) == 1
    assert fs.read_bytes("mem6://t/v1.json") == b"writer-%d" % wins[0]
