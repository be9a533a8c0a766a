"""WARC source/sink: spec-shape parsing (ISO 28500 layout), gzip
member handling, HTTP envelope splitting, Spark round-trip fidelity,
and failure modes."""

from __future__ import annotations

import glob
import gzip
import io
import os

import pytest

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _parse_bytes(b: bytes):
    from sstable_hadoop_spark.sources.warc import parse_warc

    return list(parse_warc(io.BytesIO(b)))


def _record(payload: bytes, extra: str = "", version: str = "WARC/1.0",
            sep: bytes = b"\r\n\r\n") -> bytes:
    return (f"{version}\r\nWARC-Type: resource\r\n{extra}"
            f"Content-Length: {len(payload)}\r\n\r\n"
            ).encode() + payload + sep


def test_parse_single_and_multi_record():
    recs = _parse_bytes(_record(b"hello") + _record(b"world!"))
    assert [r.payload for r in recs] == [b"hello", b"world!"]
    assert recs[0].headers["WARC-Type"] == "resource"


def test_parse_lf_only_and_folded_headers():
    raw = (b"WARC/1.0\n"
           b"WARC-Type: resource\n"
           b"WARC-Target-URI: http://very.long/\n"
           b"  continued-path\n"
           b"Content-Length: 2\n"
           b"\n"
           b"ok\n\n")
    (rec,) = _parse_bytes(raw)
    assert rec.payload == b"ok"
    assert rec.headers["WARC-Target-URI"] == \
        "http://very.long/ continued-path"


def test_parse_errors():
    from sstable_hadoop_spark.sources.warc import parse_warc

    with pytest.raises(ValueError, match="version"):
        _parse_bytes(b"NOT-WARC\r\n\r\n")
    with pytest.raises(ValueError, match="Content-Length"):
        _parse_bytes(b"WARC/1.0\r\nWARC-Type: x\r\n\r\n")
    with pytest.raises(ValueError, match="truncated WARC payload"):
        _parse_bytes(b"WARC/1.0\r\nContent-Length: 99\r\n\r\nshort")
    with pytest.raises(ValueError, match="separator"):
        list(parse_warc(io.BytesIO(
            _record(b"a", sep=b"XX") + _record(b"b"))))


def test_writer_deterministic_and_gzip_members():
    from sstable_hadoop_spark.sources.warc import (
        parse_warc,
        write_warc_records,
    )

    recs = [{"target_uri": f"http://x/{i}", "payload": b"p" * i}
            for i in range(1, 4)]
    outs = []
    for _ in range(2):
        buf = io.BytesIO()
        write_warc_records(buf, recs, compress=True)
        outs.append(buf.getvalue())
    assert outs[0] == outs[1]  # byte-deterministic re-runs
    # one gzip member per record: member 1 alone decodes to record 1
    gz = gzip.GzipFile(fileobj=io.BytesIO(outs[0]))
    first_member = gz.read()  # reads ALL members concatenated
    parsed = list(parse_warc(io.BytesIO(first_member)))
    assert [r.payload for r in parsed] == [b"p", b"pp", b"ppp"]
    # distinct record ids derived from (uri, date)
    assert len({r.headers["WARC-Record-ID"] for r in parsed}) == 3


def test_split_http_payload_edges():
    from sstable_hadoop_spark.sources.warc import split_http_payload

    assert split_http_payload(
        b"HTTP/1.1 404 Not Found\r\nX: y\r\n\r\nbody") == (404, b"body")
    assert split_http_payload(
        b"HTTP/1.0 200 OK\n\nlf-body") == (200, b"lf-body")
    raw = b"just text, no envelope"
    assert split_http_payload(raw) == (None, raw)
    garbled = b"HTTP/1.1 nope\r\n\r\nx"
    assert split_http_payload(garbled) == (None, garbled)


def test_spark_roundtrip_fidelity(spark, tmp_path):
    from sstable_hadoop_spark.queries import load

    d = str(tmp_path / "warc")
    docs = load(spark, SF, "documents")
    recs = docs.select(
        F.concat(F.lit("http://c/"), F.col("doc_id")).alias("target_uri"),
        F.encode("text", "UTF-8").alias("payload"))
    recs.repartition(3).write.format("warc").mode("append").save(d)
    files = glob.glob(d + "/*.warc.gz")
    assert len(files) == 3
    back = spark.read.format("warc").load(d)
    assert back.count() == docs.count()
    j = (back.select(
            F.regexp_extract("target_uri", r"(\d+)$", 1).cast("long")
             .alias("doc_id"),
            F.decode("payload", "UTF-8").alias("rt"))
         .join(docs, "doc_id"))
    assert j.filter(F.col("rt") != F.col("text")).count() == 0
    assert j.count() == docs.count()
    # content_length is the payload byte length
    bad = back.filter(
        F.col("content_length") != F.length("payload")).count()
    assert bad == 0


def test_spark_column_pruning_and_schema(spark, tmp_path):
    d = str(tmp_path / "warc")
    df = spark.createDataFrame([("http://a/1", b"x")],
                               "target_uri string, payload binary")
    df.write.format("warc").mode("append").save(d)
    pruned = (spark.read.format("warc")
              .option("columns", "target_uri,content_length").load(d))
    assert pruned.columns == ["target_uri", "content_length"]
    assert pruned.collect()[0]["content_length"] == 1
    with pytest.raises(Exception, match="unknown warc columns"):
        (spark.read.format("warc").option("columns", "nope")
         .load(d).collect())


def test_spark_http_parse_and_overwrite(spark, tmp_path):
    d = str(tmp_path / "warc")
    env = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<h1>t</h1>"
    df = spark.createDataFrame(
        [("http://a/1", env, "response",
          "application/http; msgtype=response")],
        "target_uri string, payload binary, warc_type string, "
        "content_type string")
    df.write.format("warc").mode("append").save(d)
    row = spark.read.format("warc").load(d).collect()[0]
    assert row["http_status"] == 200
    assert bytes(row["http_body"]) == b"<h1>t</h1>"
    assert row["warc_type"] == "response"
    # overwrite replaces top-level files
    df.write.format("warc").mode("overwrite").save(d)
    assert spark.read.format("warc").load(d).count() == 1


def test_spark_empty_dir_and_corrupt(spark, tmp_path):
    d = str(tmp_path / "empty")
    os.makedirs(d)
    assert spark.read.format("warc").load(d).count() == 0
    bad = str(tmp_path / "bad")
    os.makedirs(bad)
    with open(os.path.join(bad, "torn.warc"), "wb") as f:
        f.write(b"WARC/1.0\r\nContent-Length: 100\r\n\r\nshort")
    with pytest.raises(Exception, match="truncated"):
        spark.read.format("warc").load(bad).collect()
    assert (spark.read.format("warc")
            .option("ignore_corrupt_files", "true")
            .load(bad).count() == 0)


def test_spark_uncompressed_and_single_file(spark, tmp_path):
    d = str(tmp_path / "plain")
    df = spark.createDataFrame([("http://a/1", b"abc")],
                               "target_uri string, payload binary")
    df.write.format("warc").option("compress", "false") \
        .mode("append").save(d)
    (one,) = glob.glob(d + "/*.warc")
    with open(one, "rb") as f:
        assert f.read(8) == b"WARC/1.0"  # genuinely uncompressed
    assert spark.read.format("warc").load(one).count() == 1


def test_sink_requires_columns(spark, tmp_path):
    df = spark.createDataFrame([("u",)], "target_uri string")
    with pytest.raises(Exception, match="requires .target_uri, payload"):
        df.write.format("warc").mode("append") \
          .save(str(tmp_path / "x"))


def test_parse_repeated_headers_accumulate():
    """ISO 28500 allows repeated headers (WARC-Concurrent-To):
    values accumulate comma-joined instead of last-wins dropping
    (ADVICE r6)."""
    raw = _record(b"x",
                  extra=("WARC-Concurrent-To: <urn:uuid:a>\r\n"
                         "warc-concurrent-to: <urn:uuid:b>\r\n"))
    (rec,) = _parse_bytes(raw)
    # merged under first-seen casing, both values preserved
    assert rec.headers["WARC-Concurrent-To"] == \
        "<urn:uuid:a>, <urn:uuid:b>"
    assert "warc-concurrent-to" not in rec.headers


def test_sink_append_jobs_never_collide(spark, tmp_path):
    """ADVICE r6: two append jobs into the same directory keep BOTH
    outputs (per-job token in the file name) — the old fixed
    part-NNNNN names truncated the first job's files."""
    d = str(tmp_path / "appends")
    one = spark.createDataFrame([("http://a/1", b"first")],
                                "target_uri string, payload binary")
    two = spark.createDataFrame([("http://a/2", b"second")],
                                "target_uri string, payload binary")
    one.coalesce(1).write.format("warc").mode("append").save(d)
    two.coalesce(1).write.format("warc").mode("append").save(d)
    got = {(r["target_uri"], bytes(r["payload"]))
           for r in spark.read.format("warc").load(d).collect()}
    assert got == {("http://a/1", b"first"), ("http://a/2", b"second")}
    assert len(glob.glob(d + "/part-*.warc.gz")) == 2
    assert not glob.glob(d + "/.part-*")  # temps swept at commit


def test_sink_temps_unique_across_stage_reattempts(tmp_path, monkeypatch):
    """A stage re-attempt restarts attemptNumber at 0, so a zombie task
    of the failed stage attempt and its replacement share partition id
    AND attempt number — only the task attempt id tells them apart,
    and the two must never write the same temp."""
    import pyspark
    from pyspark.sql import Row

    from sstable_hadoop_spark.sources.warc import WarcWriteTask

    class _Ctx:
        def __init__(self, tid: int) -> None:
            self.tid = tid

        def partitionId(self) -> int:
            return 3

        def attemptNumber(self) -> int:
            return 0

        def taskAttemptId(self) -> int:
            return self.tid

    sink = WarcWriteTask({"path": str(tmp_path / "out")})
    temps = []
    for tid in (17, 42):
        monkeypatch.setattr(pyspark.TaskContext, "get",
                            staticmethod(lambda tid=tid: _Ctx(tid)))
        msg = sink.write(iter([Row(target_uri="http://a/1",
                                   payload=bytearray(b"x"))]))
        temps.append({tmp for tmp, _ in msg.files})
    assert temps[0] and temps[1]
    assert not temps[0] & temps[1], temps


def test_reader_ignores_torn_temp_files(spark, tmp_path):
    """A crashed job's in-flight temp (hidden dot-name, possibly torn
    bytes) must be invisible to reads."""
    d = str(tmp_path / "torn")
    df = spark.createDataFrame([("http://a/1", b"ok")],
                               "target_uri string, payload binary")
    df.write.format("warc").mode("append").save(d)
    with open(os.path.join(
            d, ".part-00000-0-deadbeef.warc.gz.tmp"), "wb") as f:
        f.write(b"\x1f\x8b garbage not a full gzip member")
    assert spark.read.format("warc").load(d).count() == 1


def test_parse_duplicate_singular_header_last_wins():
    """Only WARC-Concurrent-To accumulates; a (spec-invalid, seen in
    the wild) duplicated Content-Length must stay last-wins so the
    record still parses instead of crashing int()."""
    payload = b"xy"
    raw = (b"WARC/1.0\r\nWARC-Type: resource\r\n"
           b"Content-Length: 7\r\n"
           + f"Content-Length: {len(payload)}\r\n\r\n".encode()
           + payload + b"\r\n\r\n")
    (rec,) = _parse_bytes(raw)
    assert rec.payload == payload
    assert rec.headers["Content-Length"] == "2"


def test_overwrite_reaps_orphan_temps(spark, tmp_path):
    """mode('overwrite') clears crashed jobs' leftover .tmp staging
    files along with the finals."""
    d = str(tmp_path / "reap")
    df = spark.createDataFrame([("http://a/1", b"ok")],
                               "target_uri string, payload binary")
    df.write.format("warc").mode("append").save(d)
    orphan = os.path.join(d, ".part-00007-0-deadcafe.warc.gz.tmp")
    with open(orphan, "wb") as f:
        f.write(b"torn")
    df.write.format("warc").mode("overwrite").save(d)
    assert not os.path.exists(orphan)
    assert spark.read.format("warc").load(d).count() == 1


def test_member_index_splits_large_file(spark, tmp_path):
    """r8: the sink writes a .cdx member index; a file over
    max_split_bytes with a valid index is split at member boundaries
    across partitions, and the split scan returns exactly the
    whole-file scan's rows.  Indexless or stale-indexed files keep
    the one-partition-per-file behavior (never a wrong split)."""
    import os

    from sstable_hadoop_spark.queries import load
    from sstable_hadoop_spark.sources.warc import (
        INDEX_SUFFIX,
        WarcReader,
        load_member_index,
    )

    d = str(tmp_path / "idx")
    docs = load(spark, SF, "documents")
    recs = docs.select(
        F.concat(F.lit("http://c/"), F.col("doc_id")).alias("target_uri"),
        F.encode("text", "UTF-8").alias("payload"))
    recs.coalesce(1).write.format("warc").mode("append").save(d)

    warcs = [f for f in os.listdir(d) if f.endswith(".warc.gz")]
    assert len(warcs) == 1
    wpath = os.path.join(d, warcs[0])
    index = load_member_index(wpath)
    assert index is not None and len(index) == docs.count()
    assert sum(ln for _, ln in index) == os.path.getsize(wpath)
    # no hidden temps survive the commit
    assert not [f for f in os.listdir(d) if f.endswith(".tmp")]

    whole = spark.read.format("warc").load(d)
    n_total = whole.count()
    body = {(r["target_uri"], bytes(r["payload"]))
            for r in whole.collect()}

    # tiny split target → many member-aligned partitions, same rows
    parts = WarcReader({"path": d, "max_split_bytes": "2048"}).partitions()
    assert len(parts) > 4
    assert sum(p.length for p in parts) == os.path.getsize(wpath)
    split = (spark.read.format("warc")
             .option("max_split_bytes", "2048").load(d))
    assert split.count() == n_total
    assert {(r["target_uri"], bytes(r["payload"]))
            for r in split.collect()} == body

    # stale sidecar (file changed size) → fallback to one partition
    with open(wpath, "ab") as f:
        f.write(b"\x1f\x8b")  # size no longer matches the index total
    assert load_member_index(wpath) is None
    parts = WarcReader({"path": d, "max_split_bytes": "2048"}).partitions()
    assert len(parts) == 1 and parts[0].length == -1

    # corrupt sidecar contents → same fallback
    with open(wpath + INDEX_SUFFIX, "w") as f:
        f.write("not an index\n")
    assert load_member_index(wpath) is None

    # index=false write emits no sidecar
    d2 = str(tmp_path / "noidx")
    recs.coalesce(1).write.format("warc").option("index", "false") \
        .mode("append").save(d2)
    assert not [f for f in os.listdir(d2) if f.endswith(INDEX_SUFFIX)]


def test_member_index_uncompressed_and_overwrite(spark, tmp_path):
    """Member index over an UNCOMPRESSED .warc splits the same way
    (ranges are record-aligned raw bytes), and mode=overwrite reaps
    prior sidecars along with prior data files."""
    import os

    from sstable_hadoop_spark.queries import load
    from sstable_hadoop_spark.sources.warc import INDEX_SUFFIX, WarcReader

    d = str(tmp_path / "plain")
    docs = load(spark, SF, "documents")
    recs = docs.select(
        F.concat(F.lit("http://c/"), F.col("doc_id")).alias("target_uri"),
        F.encode("text", "UTF-8").alias("payload"))
    recs.coalesce(1).write.format("warc").option("compress", "false") \
        .mode("append").save(d)
    n = docs.count()
    whole = spark.read.format("warc").load(d)
    assert whole.count() == n
    parts = WarcReader({"path": d, "max_split_bytes": "4096"}).partitions()
    assert len(parts) > 2
    split = (spark.read.format("warc")
             .option("max_split_bytes", "4096").load(d))
    assert split.count() == n

    # overwrite drops old data AND old sidecars
    before = {f for f in os.listdir(d)}
    recs.limit(3).coalesce(1).write.format("warc") \
        .option("compress", "false").mode("overwrite").save(d)
    after = [f for f in os.listdir(d) if not f.startswith(".")]
    assert not (set(after) & before)
    assert len([f for f in after if f.endswith(".warc")]) == 1
    assert len([f for f in after if f.endswith(INDEX_SUFFIX)]) == 1
    assert spark.read.format("warc").load(d).count() == 3


def test_warc_queries_self_register_on_bare_session(spark):
    """Regression (CORRECTNESS_r08): the driver runs queries on a BARE
    session in arbitrary order.  With the /tmp fixture cache warm, the
    warc queries skip the fixture build, so if nothing earlier in the
    window registered the source, analysis failed with
    DATA_SOURCE_NOT_FOUND.  A fresh ``newSession()`` has isolated
    Python-data-source registration — run both warc queries there
    FIRST and they must self-register."""
    from sstable_hadoop_spark.queries import _QUERIES, _materialize_warc

    _materialize_warc(spark, SF)  # warm the cache like the driver host
    bare = spark.newSession()
    with pytest.raises(Exception, match="DATA_SOURCE"):
        bare.read.format("warc").load("/tmp/definitely-missing").schema
    from sstable_hadoop_spark.queries import load

    n_docs = load(spark, SF, "documents").count()
    for name in ("warc_ingest_split", "warc_ingest"):
        fresh = spark.newSession()
        assert _QUERIES[name](fresh, SF).count() == n_docs
