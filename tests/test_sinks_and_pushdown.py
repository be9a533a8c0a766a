"""S10/S11/S9 compatibility sinks + key-range scan pruning."""

from __future__ import annotations

import base64

from pyspark.sql import functions as F

from sstable_hadoop_spark.functions import (
    companion_path,
    manifest_tsv,
    root_name,
    to_msgpack_base64_lines,
    to_text_lines,
)
from sstable_hadoop_spark.functions.msgpack_lite import packb, unpackb
from sstable_hadoop_spark.operators import (
    collect_rows,
    explode_cells,
    live_view,
    lww_row,
)
from tests.conftest import AS_OF_MS, cells_as_records


def test_msgpack_lite_roundtrip():
    obj = [b"key", [[b"name", b"val", 12345678901234, 0, 0],
                    [b"n2", b"", -5, 1 << 40, 255]]]
    assert unpackb(packb(obj)) == obj


def test_msgpack_sink_decodes_to_merged_rows(spark, sstable_dir, cell_fixture):
    cells = explode_cells(spark.read.format("sstable").load(sstable_dir))
    live = live_view(cells, AS_OF_MS)
    lines = to_msgpack_base64_lines(
        collect_rows(live, by_generation=False)).collect()
    decoded = {bytes(r[0]): r[1]
               for r in (unpackb(base64.b64decode(row["value"]))
                         for row in lines)}
    want_keys = {r["key"] for r in live.select("key").distinct().collect()}
    assert set(decoded) == {bytes(k) for k in want_keys}
    # spot-check cell payload shape: [name, value, ts, expiresMillis, ttlSecs]
    some = next(iter(decoded.values()))
    assert all(len(c) == 5 for c in some)
    assert all(isinstance(c[0], bytes) and isinstance(c[2], int) for c in some)


def test_text_sink_format(spark):
    df = spark.createDataFrame(
        [(b"k1", b"colA", "NORMAL", b"hello", 42, None, None, 1),
         (b"k2", b"colB", "DELETED", None, 43, None, None, 1),
         (b"k3", b"colC", "EXPIRING", b"x", 44, 60, AS_OF_MS, 1)],
        "key binary, name binary, state string, data binary, "
        "timestamp bigint, ttl bigint, expiration bigint, generation int")
    lines = {r["value"] for r in to_text_lines(df).collect()}

    def hx(b: bytes) -> str:  # BytesWritable.toString: hex pairs
        return " ".join(f"{x:02x}" for x in b)

    assert lines == {
        f"k1\tColumn({hx(b'colA')},{hx(b'hello')},42)",
        f"k2\tDeleted({hx(b'colB')})",
        "k3\tUnknown"}


def test_msgpack_sink_tombstone_encoding(spark):
    """DELETED winners keep MsgPackCol defaults — value nil, ts 0 —
    because the reference only assigns value/ts for NORMAL|EXPIRING
    (SSTableData.scala:102-105)."""
    df = spark.createDataFrame(
        [(b"k1", [(b"live", "NORMAL", b"v", 42, None, None),
                  (b"dead", "DELETED", None, 99, None, None),
                  (b"exp", "EXPIRING", b"t", 7, 60, AS_OF_MS)])],
        "key binary, columns array<struct<name:binary,state:string,"
        "data:binary,timestamp:bigint,ttl:bigint,expiration:bigint>>")
    (line,) = to_msgpack_base64_lines(df).collect()
    key, cols = unpackb(base64.b64decode(line["value"]))
    got = {c[0]: c for c in cols}
    assert got[b"live"] == [b"live", b"v", 42, 0, 0]
    assert got[b"dead"] == [b"dead", None, 0, 0, 0]   # nil value, ts=0
    assert got[b"exp"] == [b"exp", b"t", 7, AS_OF_MS, 60]


def test_manifest_tsv(spark, sstable_dir):
    m = spark.read.format("sstable").option("kind", "manifest") \
        .option("max_split_bytes", "4096").load(sstable_dir)
    lines = manifest_tsv(m).collect()
    assert len(lines) == m.count()
    first = lines[0]["value"].split("\t")
    assert len(first) == 8 and first[1].isdigit()


def test_companion_path_and_root_name(spark):
    df = spark.createDataFrame([("/a/b/ks-cf-3-Data.db",)], "path string")
    got = df.select(
        companion_path("path", "CompressionInfo").alias("ci"),
        companion_path("path", "Index").alias("ix"),
        root_name("path").alias("root")).collect()[0]
    assert got["ci"] == "/a/b/ks-cf-3-CompressionInfo.db"
    assert got["ix"] == "/a/b/ks-cf-3-Index.db"
    assert got["root"] == "ks-cf-3"
    # every component the family table accepts rewrites, Filter and
    # Statistics included; only the trailing suffix is touched
    for comp in ("Filter", "Statistics"):
        df = spark.createDataFrame([(f"/a/x-Data.db/ks-cf-3-{comp}.db",)],
                                   "path string")
        got = df.select(companion_path("path", "Data").alias("d"),
                        root_name("path").alias("root")).collect()[0]
        assert got["d"] == "/a/x-Data.db/ks-cf-3-Data.db"
        assert got["root"] == "ks-cf-3"


def test_key_pushdown_prunes_partitions(sstable_dir):
    """Partition pruning via Index.db key bounds (unit level: reader
    object), then end-to-end correctness through Spark."""
    from pyspark.sql.datasource import EqualTo

    from sstable_hadoop_spark.sources.datasource import SSTableReader

    r_all = SSTableReader({"path": sstable_dir, "max_split_bytes": "1024"})
    n_all = len(r_all.partitions())

    r_pruned = SSTableReader({"path": sstable_dir, "max_split_bytes": "1024"})
    kept = r_pruned.pushFilters([EqualTo(("key",), b"key-0001")])
    assert list(kept)  # filters returned → Spark still re-applies
    n_pruned = len(r_pruned.partitions())
    assert 0 < n_pruned < n_all


def test_key_filter_end_to_end(spark, sstable_dir, cell_fixture):
    df = spark.read.format("sstable").option("max_split_bytes", "1024") \
        .load(sstable_dir)
    got = df.filter(F.col("key") == F.lit(b"key-0001")).collect()
    want = [r for g, r in cell_fixture if r.key == b"key-0001"]
    assert len(got) == len(want) > 0


def test_bloom_filter_unit():
    from sstable_hadoop_spark.sources.codec import BloomFilter, write_bloom

    import tempfile, os
    keys = [f"key-{i}".encode() for i in range(1000)]
    path = os.path.join(tempfile.mkdtemp(), "t-Filter.db")
    write_bloom(path, keys, fp_rate=0.01)
    bf = BloomFilter(path)
    assert all(bf.might_contain(k) for k in keys)  # no false negatives
    fp = sum(bf.might_contain(f"absent-{i}".encode()) for i in range(1000))
    assert fp < 50  # ~1% target, generous bound


def test_bloom_prunes_absent_key_files(tmp_path):
    """Point lookup for a key present only in generation 2 must plan
    zero partitions for generation 1's file (bloom rejection)."""
    from pyspark.sql.datasource import EqualTo

    from sstable_hadoop_spark.sources.codec import Cell, Row, write_sstable
    from sstable_hadoop_spark.sources.datasource import SSTableReader

    d = str(tmp_path)
    write_sstable(d, "bf", [Row(f"g1-{i:03d}".encode(),
                                [Cell(b"c", "NORMAL", b"v", i)])
                            for i in range(200)], generation=1)
    write_sstable(d, "bf", [Row(f"g2-{i:03d}".encode(),
                                [Cell(b"c", "NORMAL", b"v", i)])
                            for i in range(200)], generation=2)

    r = SSTableReader({"path": d})
    r.pushFilters([EqualTo(("key",), b"g2-050")])
    parts = [p for p in r.partitions() if p.path]
    assert parts, "the containing generation must survive"
    assert all("bf-2-" in p.path for p in parts), \
        f"gen-1 file should be bloom-pruned: {[p.path for p in parts]}"


def test_bloom_pruned_scan_correct(spark, tmp_path):
    from sstable_hadoop_spark.sources.codec import Cell, Row, write_sstable

    d = str(tmp_path / "bfe2e")
    write_sstable(d, "bf", [Row(f"g1-{i:03d}".encode(),
                                [Cell(b"c", "NORMAL", b"v", i)])
                            for i in range(100)], generation=1)
    write_sstable(d, "bf", [Row(f"g2-{i:03d}".encode(),
                                [Cell(b"c", "NORMAL", b"v", i)])
                            for i in range(100)], generation=2)
    df = spark.read.format("sstable").load(d)
    hit = df.filter(df.key == b"g2-042").collect()
    assert len(hit) == 1 and hit[0]["generation"] == 2
    miss = df.filter(df.key == b"nope").collect()
    assert miss == []


def test_generation_pushdown_prunes_files(spark, tmp_path):
    """Generation predicates prune whole files at PLAN time (generation
    is the filename's generation — exact, and Spark re-applies the
    filter anyway): the incremental-consumer pattern
    `generation > last_processed` costs a listing, not a scan."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        In,
        LessThanOrEqual,
    )

    from sstable_hadoop_spark.sources.codec import Cell, Row, write_sstable
    from sstable_hadoop_spark.sources.datasource import SSTableReader

    d = str(tmp_path / "gens")
    for gen in (1, 2, 3, 4):
        write_sstable(d, "tbl", [
            Row(key=f"k{gen}{i}".encode(),
                cells=[Cell(name=b"c", data=b"v",
                            timestamp=gen * 10 + i)])
            for i in range(5)], generation=gen)

    def planned(*filters):
        r = SSTableReader({"path": d})
        r.pushFilters(list(filters))
        parts = [p for p in r.partitions() if p.path]
        return {p.path.rsplit("-", 2)[-2] for p in parts}

    assert planned() == {"1", "2", "3", "4"}
    assert planned(GreaterThan(("generation",), 2)) == {"3", "4"}
    assert planned(EqualTo(("generation",), 3)) == {"3"}
    assert planned(In(("generation",), (1, 4))) == {"1", "4"}
    assert planned(GreaterThan(("generation",), 1),
                   LessThanOrEqual(("generation",), 3)) == {"2", "3"}
    # non-generation / non-int filters never prune
    assert planned(EqualTo(("other",), 3)) == {"1", "2", "3", "4"}
    assert planned(EqualTo(("generation",), "3")) == {"1", "2", "3", "4"}

    # end to end: results equal the unpruned scan + filter
    base = spark.read.format("sstable").load(d)
    for pred, want in [(F.col("generation") > 2, 10),
                       (F.col("generation") == 3, 5),
                       (F.col("generation").isin(1, 4), 10)]:
        assert base.filter(pred).count() == want
    # index kind prunes too
    idx = (spark.read.format("sstable").option("kind", "index").load(d)
           .filter(F.col("generation") > 3))
    assert idx.count() == 5


def test_orphan_companions_skipped_and_swept(spark, tmp_path):
    """r8: a family whose companions were published but whose Data.db
    was not (driver crash mid-commit) must be invisible to EVERY scan
    kind — kind='index'/'summary' previously listed companions
    independently of Data.db, serving an inconsistent metadata view —
    and the orphaned bytes are reaped by the next job's sweep once
    older than 24h."""
    import os
    import time

    from sstable_hadoop_spark.sources.codec import Cell, Row, SSTableWriter

    d = str(tmp_path / "orphans")
    for gen in (1, 2):
        w = SSTableWriter(d, "ks-cf", generation=gen, summary_rate=4)
        for i in range(8):
            w.write_row(Row(key=f"k{i}".encode(),
                            cells=[Cell(name=b"c", data=b"v",
                                        timestamp=gen)]))
        w.close()

    def counts():
        idx = spark.read.format("sstable").option("kind", "index").load(d)
        summ = spark.read.format("sstable").option("kind", "summary").load(d)
        return idx.count(), summ.count()

    full_idx, full_summ = counts()
    assert full_idx > 0 and full_summ > 0

    # orphan generation 2: its Data.db vanishes (prefix-published family)
    data2 = os.path.join(d, "ks-cf-2-Data.db")
    os.remove(data2)
    idx_n, summ_n = counts()
    assert idx_n == full_idx // 2 and summ_n == full_summ // 2
    # explicitly naming the orphan file overrides the guard (debugging)
    one = (spark.read.format("sstable").option("kind", "index")
           .load(os.path.join(d, "ks-cf-2-Index.db")))
    assert one.count() == full_idx // 2

    # the sink's sweep reaps the orphans once old, leaves them while young
    from sstable_hadoop_spark.sources.datasource import SSTableWriteTask

    sink = SSTableWriteTask({"path": d})
    sink._sweep_temps()
    assert os.path.exists(os.path.join(d, "ks-cf-2-Index.db"))  # young
    old = time.time() - 25 * 3600
    for name in os.listdir(d):
        if "-2-" in name:
            os.utime(os.path.join(d, name), (old, old))
    sink._sweep_temps()
    assert not any("-2-" in n for n in os.listdir(d))  # orphans reaped
    assert sorted(n for n in os.listdir(d) if "-1-" in n)  # gen 1 intact
    assert counts() == (full_idx // 2, full_summ // 2)


def test_bloom_v1_files_still_prune_correctly(tmp_path):
    """r8 bloom format bump: v2 (double hashing, one md5/key) is the
    write default, but Filter.db files written by earlier rounds (v1:
    k independent md5s, headerless) MUST keep reading with the v1
    scheme — a silent scheme switch would produce false negatives,
    i.e. prune files that contain the key."""
    import os
    import struct

    from sstable_hadoop_spark.sources.codec import (
        _BLOOM_V2_SENTINEL,
        BloomFilter,
        _bloom_positions_v1,
        write_bloom,
    )

    keys = [f"key-{i}".encode() for i in range(500)]

    # hand-write a LEGACY v1 filter (the pre-r8 layout + hashing)
    import math
    n = len(keys)
    m_bits = max(8, int(-n * math.log(0.01) / (math.log(2) ** 2)))
    k = max(1, round(m_bits / n * math.log(2)))
    bits = bytearray((m_bits + 7) // 8)
    for key in keys:
        for pos in _bloom_positions_v1(key, k, m_bits):
            bits[pos // 8] |= 1 << (pos % 8)
    v1 = str(tmp_path / "legacy-Filter.db")
    with open(v1, "wb") as f:
        f.write(struct.pack(">IB", m_bits, k) + bytes(bits))

    bf = BloomFilter(v1)
    assert bf.version == 1
    assert all(bf.might_contain(key) for key in keys)  # zero false negs
    absent = sum(bf.might_contain(f"nope-{i}".encode())
                 for i in range(2000))
    assert absent < 2000 * 0.05  # fp rate in range → v1 scheme used

    # v2 written file round-trips and self-identifies
    v2 = str(tmp_path / "new-Filter.db")
    write_bloom(v2, keys)
    with open(v2, "rb") as f:
        sentinel, ver = struct.unpack(">IB", f.read(5))
    assert sentinel == _BLOOM_V2_SENTINEL and ver == 2
    bf2 = BloomFilter(v2)
    assert bf2.version == 2
    assert all(bf2.might_contain(key) for key in keys)
    absent2 = sum(bf2.might_contain(f"nope-{i}".encode())
                  for i in range(2000))
    assert absent2 < 2000 * 0.05
