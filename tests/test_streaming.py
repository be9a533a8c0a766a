"""Structured Streaming: the same window functions run as real streams
(file source, availableNow trigger) must equal their batch twins, and
``lww_cell`` over a stream (a stateful aggregation in update mode) must
converge to the batch lww_cell result when generations arrive in
separate micro-batches."""

from __future__ import annotations

import time

import pytest

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _await(q, timeout=120):
    q.awaitTermination(timeout)
    if q.isActive:
        q.stop()
        raise TimeoutError("stream did not finish")


def test_streaming_tumbling_equals_batch(spark, tmp_path):
    from sstable_hadoop_spark.queries import load
    from sstable_hadoop_spark.streaming import tumbling_counts

    events = load(spark, SF, "events")
    src = str(tmp_path / "events_stream")
    events.repartition(4).write.parquet(src)

    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    out = tumbling_counts(stream, "1 hour", watermark="1 hour")
    q = (out.writeStream.format("memory").queryName("tumbling_sink")
         .outputMode("complete").trigger(availableNow=True).start())
    _await(q)

    got = {tuple(r) for r in
           spark.sql("select * from tumbling_sink").collect()}
    want = {tuple(r) for r in tumbling_counts(events, "1 hour").collect()}
    assert got == want


def test_streaming_lww_converges_to_batch(spark, tmp_path):
    """Feed the derived cell table one generation per micro-batch; the
    final winner per (key, name) must equal batch lww_cell."""
    from sstable_hadoop_spark.operators import lww_cell
    from sstable_hadoop_spark.queries import derived_cells

    cells = derived_cells(spark, SF)
    src = str(tmp_path / "cells_stream")
    # one file per generation → arrivals ordered by generation
    for g in [1, 2, 3, 4]:
        (cells.filter(F.col("generation") == g).coalesce(1)
              .write.mode("append").parquet(src))

    stream = (spark.readStream.schema(cells.schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = (lww_cell(stream)
         .writeStream.format("memory").queryName("lww_sink")
         .outputMode("update").trigger(availableNow=True).start())
    _await(q)

    emitted = spark.sql("select * from lww_sink").collect()
    assert emitted, "stream emitted nothing"
    # the final winner = the max-order emission per (key, name); winners
    # only ever improve, so max over emissions == last state
    rank = {"DELETED": 2, "EXPIRING": 1, "NORMAL": 0}
    final = {}
    for r in emitted:
        k = (bytes(r["key"]), bytes(r["name"]))
        key_order = (r["timestamp"], rank[r["state"]], r["generation"],
                     bytes(r["data"] or b""))
        if k not in final or key_order > final[k][0]:
            final[k] = (key_order, r)
    got = {(k[0], k[1], v[1]["state"], v[1]["timestamp"], v[1]["generation"])
           for k, v in final.items()}
    want = {(bytes(r["key"]), bytes(r["name"]), r["state"], r["timestamp"],
             r["generation"]) for r in lww_cell(cells).collect()}
    assert got == want


def test_sstable_stream_source_incremental(spark, tmp_path):
    """readStream.format('sstable'): generation files appearing in the
    directory stream in incrementally; checkpoint recovery reads only
    new files on restart; streamed total equals batch scan."""
    from sstable_hadoop_spark.sources.codec import Cell, Row, write_sstable

    from pyspark.sql import functions as F

    d = str(tmp_path / "stream_src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "sink")

    def gen(g, n):
        return [Row(f"k{i:03d}".encode(),
                    [Cell(b"c", "NORMAL", f"g{g}".encode(), g * 100 + i)])
                for i in range(n)]

    write_sstable(d, "ks-cf", gen(1, 20), generation=1)
    write_sstable(d, "ks-cf", gen(2, 30), generation=2, compressed=True)

    def run_batch():
        stream = spark.readStream.format("sstable").load(d)
        q = (stream.select(F.col("key").cast("string").alias("key"),
                           F.size("columns").alias("n_cells"), "generation")
             .writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        assert not q.isActive

    run_batch()
    first = spark.read.parquet(out).collect()
    assert len(first) == 50
    assert {r["generation"] for r in first} == {1, 2}

    # a third generation arrives → restart picks up ONLY the new file
    write_sstable(d, "ks-cf", gen(3, 10), generation=3)
    run_batch()
    all_rows = spark.read.parquet(out).collect()
    assert len(all_rows) == 60
    by_gen = {}
    for r in all_rows:
        by_gen[r["generation"]] = by_gen.get(r["generation"], 0) + 1
    assert by_gen == {1: 20, 2: 30, 3: 10}

    batch = spark.read.format("sstable").load(d)
    assert batch.count() == 60


def test_streaming_cells_kind_feeds_lww_state(spark, tmp_path):
    """kind=cells stream: flat records match ``lww_cell``'s input
    schema directly — stream the directory, fold through the stateful
    LWW, final winners equal batch lww over the same files."""
    from pyspark.sql import functions as F

    from sstable_hadoop_spark.operators import explode_cells, lww_cell
    from sstable_hadoop_spark.sources.codec import Cell, Row, write_sstable

    d = str(tmp_path / "cells_src")
    for g in (1, 2):
        write_sstable(
            d, "ks-cf",
            [Row(f"k{i:02d}".encode(),
                 [Cell(b"c", "NORMAL", f"g{g}".encode(), g * 100 + i)])
             for i in range(15)],
            generation=g)

    stream = (spark.readStream.format("sstable")
              .option("kind", "cells").load(d))
    q = (lww_cell(stream)
         .writeStream.format("memory").queryName("cells_lww_sink")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert not q.isActive

    got = {(bytes(r["key"]), bytes(r["name"])): (r["timestamp"],
                                                 r["generation"])
           for r in lww_cell(spark.table("cells_lww_sink")).collect()}
    want = {(bytes(r["key"]), bytes(r["name"])): (r["timestamp"],
                                                  r["generation"])
            for r in lww_cell(explode_cells(
                spark.read.format("sstable").load(d))).collect()}
    assert got == want and len(got) == 15


def test_stream_flush_to_sstables_roundtrip(spark, tmp_path):
    """Streaming ingest → per-batch LWW → SSTable generation flush;
    batch scan + merge of the flushed directory equals batch lww_cell
    over the original cells (write path closes the read-path loop)."""
    from pyspark.sql import functions as F

    from sstable_hadoop_spark.operators import explode_cells, lww_cell
    from sstable_hadoop_spark.queries import derived_cells
    from sstable_hadoop_spark.streaming.compaction import (
        flush_stream_to_sstables,
    )

    cells = derived_cells(spark, "/root/testdata/sf0.001")
    src = str(tmp_path / "cells_in")
    for g in [1, 2, 3, 4]:  # one file per generation, arrival-ordered
        (cells.filter(F.col("generation") == g).coalesce(1)
              .write.mode("append").parquet(src))

    out = str(tmp_path / "sstables_out")
    q = flush_stream_to_sstables(
        spark.readStream.schema(cells.schema)
             .option("maxFilesPerTrigger", "1").parquet(src),
        out, str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    assert not q.isActive

    merged_disk = lww_cell(
        explode_cells(spark.read.format("sstable").load(out)))
    got = {(bytes(r["key"]), bytes(r["name"]), r["state"], r["timestamp"])
           for r in merged_disk.collect()}
    want = {(bytes(r["key"]), bytes(r["name"]), r["state"], r["timestamp"])
            for r in lww_cell(cells).collect()}
    assert got == want


def test_stream_offsets_are_compact_and_legacy_compatible(tmp_path):
    """Offsets are an O(1) (mtime_ns, name) watermark, not the full
    file history; legacy full-set offsets from old checkpoints still
    resolve to the correct new-file set."""
    import os

    from sstable_hadoop_spark.sources.codec import Cell, Row, write_sstable
    from sstable_hadoop_spark.sources.datasource import SSTableStreamReader

    d = str(tmp_path / "src")
    r = SSTableStreamReader({"path": d})
    os.makedirs(d)
    assert r.partitions(r.initialOffset(), r.latestOffset()) and \
        r.partitions(r.initialOffset(), r.latestOffset())[0].path == ""

    def one(g):
        write_sstable(d, "ks-cf", [Row(b"k", [Cell(b"c", "NORMAL", b"v", g)])],
                      generation=g)
        # distinct mtimes even on coarse-granularity filesystems
        path = os.path.join(d, f"ks-cf-{g}-Data.db")
        os.utime(path, ns=(g * 10**9, g * 10**9))

    one(1)
    one(2)
    o1 = r.latestOffset()
    # compact: watermark + bounded seen tail, never the full history
    assert set(o1) == {"wm", "floor", "seen"} and len(o1["wm"]) == 2
    assert len(o1["seen"]) <= r.seen_cap
    got = {os.path.basename(p.path)
           for p in r.partitions(r.initialOffset(), o1)}
    assert got == {"ks-cf-1-Data.db", "ks-cf-2-Data.db"}

    one(3)
    o2 = r.latestOffset()
    got = {os.path.basename(p.path) for p in r.partitions(o1, o2)}
    assert got == {"ks-cf-3-Data.db"}

    # legacy checkpoint offset (pre-watermark full file set)
    legacy = {"files": ["ks-cf-1-Data.db", "ks-cf-2-Data.db"]}
    got = {os.path.basename(p.path) for p in r.partitions(legacy, o2)}
    assert got == {"ks-cf-3-Data.db"}


def test_sstable_stream_projection_options(spark, tmp_path):
    """columns= / skip_values= apply to readStream too: the projected
    stream schema matches the batch reader's, values null out, and row
    sets agree with the batch scan."""
    from sstable_hadoop_spark.sources.codec import Cell, Row, write_sstable

    d = str(tmp_path / "proj_src")
    rows = [Row(f"k{i:02d}".encode(),
                [Cell(b"c", "NORMAL", b"v" * 30, 100 + i)])
            for i in range(25)]
    write_sstable(d, "ks-cf", rows, generation=1, compressed=True)

    proj = (spark.readStream.format("sstable")
            .option("columns", "key,generation").load(d))
    assert proj.schema.fieldNames() == ["key", "generation"]
    q = (proj.writeStream.format("memory").queryName("proj_sink")
         .outputMode("append").trigger(availableNow=True).start())
    _await(q)
    got = sorted(bytes(r["key"])
                 for r in spark.sql("select * from proj_sink").collect())
    assert got == sorted(r.key for r in rows)

    sv = (spark.readStream.format("sstable").option("kind", "cells")
          .option("skip_values", "true").load(d))
    q = (sv.writeStream.format("memory").queryName("sv_sink")
         .outputMode("append").trigger(availableNow=True).start())
    _await(q)
    cells = spark.sql("select * from sv_sink").collect()
    assert len(cells) == 25
    assert all(r["data"] is None for r in cells)
    assert {r["timestamp"] for r in cells} == {100 + i for i in range(25)}


def test_streaming_corpus_pipeline_equals_batch(spark, tmp_path):
    """The corpus curation stages (quality stats → PII redaction →
    token chunking) are stateless projections/explodes, so they run
    UNCHANGED on a readStream input and must produce exactly the batch
    result — continuous corpus ingestion needs no separate code
    path."""
    from sstable_hadoop_spark.operators.corpus import (
        redact_pii,
        token_chunks,
    )
    from sstable_hadoop_spark.operators.text import text_stats
    from sstable_hadoop_spark.queries import load

    docs = load(spark, SF, "documents").limit(200)
    src = str(tmp_path / "docs_stream")
    docs.repartition(4).write.parquet(src)
    batch_in = spark.read.parquet(src)

    def pipeline(df):
        scored = text_stats(df, keep=("text",))
        good = scored.filter(F.col("quality") > 0.3)
        clean = redact_pii(good.select("doc_id", "text"))
        return token_chunks(clean, chunk_size=16)

    stream = (spark.readStream.schema(batch_in.schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = (pipeline(stream).writeStream.format("memory")
         .queryName("corpus_sink").outputMode("append")
         .trigger(availableNow=True).start())
    _await(q)

    got = {(r["doc_id"], r["chunk_idx"], r["chunk_text"])
           for r in spark.sql("select * from corpus_sink").collect()}
    want = {(r["doc_id"], r["chunk_idx"], r["chunk_text"])
            for r in pipeline(batch_in).collect()}
    assert got == want and want


def test_stream_backpressure_max_files_per_trigger(tmp_path):
    """VERDICT r4 #8: a restarted stream facing a big generation
    backlog must not plan one giant first micro-batch —
    ``max_files_per_trigger`` admits oldest-first and drains the
    backlog across triggers; an uncapped reader still sees everything
    at once."""
    import os

    import pytest

    from sstable_hadoop_spark.sources.codec import Cell, Row, write_sstable
    from sstable_hadoop_spark.sources.datasource import SSTableStreamReader

    d = str(tmp_path / "src")
    os.makedirs(d)

    def one(g):
        write_sstable(d, "ks-cf",
                      [Row(b"k", [Cell(b"c", "NORMAL", b"v", g)])],
                      generation=g)
        path = os.path.join(d, f"ks-cf-{g}-Data.db")
        os.utime(path, ns=(g * 10**9, g * 10**9))

    for g in range(1, 8):
        one(g)

    with pytest.raises(ValueError, match="max_files_per_trigger"):
        SSTableStreamReader({"path": d, "max_files_per_trigger": "0"})

    r = SSTableStreamReader({"path": d, "max_files_per_trigger": "2"})
    prev = r.initialOffset()
    batches = []
    for _ in range(10):
        o = r.latestOffset()
        batch = sorted(os.path.basename(p.path)
                       for p in r.partitions(prev, o) if p.path)
        if not batch:
            break
        batches.append(batch)
        prev = o
    # bounded batches, oldest first, full drain, no duplicates
    assert [len(b) for b in batches] == [2, 2, 2, 1]
    assert [f for b in batches for f in b] == \
        [f"ks-cf-{g}-Data.db" for g in range(1, 8)]

    # a LATE file (mtime inside the grace window, below the watermark)
    # is admitted with priority ahead of a newer arrival
    one(9)
    late = os.path.join(d, "ks-cf-8-Data.db")
    write_sstable(d, "ks-cf",
                  [Row(b"k", [Cell(b"c", "NORMAL", b"v", 8)])],
                  generation=8)
    os.utime(late, ns=(8 * 10**9, 8 * 10**9))
    r2 = SSTableStreamReader({"path": d, "max_files_per_trigger": "1",
                              "late_file_grace_ms": str(10**9)})
    # Spark's fresh-start order: initialOffset() BEFORE the first
    # latestOffset() (its absence signals a checkpoint restart, where
    # the first trigger is deliberately uncapped)
    prev0 = r2.initialOffset()
    o = r2.latestOffset()
    # cap=1 admits exactly the oldest uncovered file first
    first = sorted(os.path.basename(p.path)
                   for p in r2.partitions(prev0, o) if p.path)
    assert first == ["ks-cf-1-Data.db"]

    # uncapped reader: the whole directory in one batch
    r3 = SSTableStreamReader({"path": d})
    all_files = sorted(os.path.basename(p.path)
                       for p in r3.partitions(r3.initialOffset(),
                                              r3.latestOffset())
                       if p.path)
    assert all_files == [f"ks-cf-{g}-Data.db" for g in range(1, 10)]


def test_streaming_minhash_dedup_foreach_batch(spark, tmp_path):
    """Continuous-ingest minhash dedup: batches arriving one file per
    trigger dedup against the profile store AND earlier batches'
    profiles, matching the batch incremental operator's verdicts for
    the same corpus split."""
    from sstable_hadoop_spark.operators.dedup import (
        minhash_dedup_incremental,
        minhash_profiles,
    )
    from sstable_hadoop_spark.queries import load
    from sstable_hadoop_spark.streaming.dedup import (
        minhash_dedup_foreach_batch,
    )

    docs = load(spark, SF, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch_docs = docs.filter(F.col("doc_id") % 10 == 0)

    profiles_path = str(tmp_path / "profiles")
    pairs_path = str(tmp_path / "pairs")
    src = str(tmp_path / "incoming")
    # seed the store with the corpus profiles (the production one-time
    # build), then stream the new docs in several micro-batches
    minhash_profiles(corpus, num_perm=16, max_doc_freq=None) \
        .write.parquet(f"{profiles_path}/batch_id=seed")
    batch_docs.select("doc_id", "text").repartition(3).write.parquet(src)

    stream = (spark.readStream
              .schema(batch_docs.select("doc_id", "text").schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = (stream.writeStream
         .foreachBatch(minhash_dedup_foreach_batch(
             profiles_path, pairs_path, num_perm=16, bands=4,
             min_jaccard=0.5, max_doc_freq=None))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    _await(q)

    got = {(r["id_a"], r["id_b"]): round(r["jaccard"], 6)
           for r in spark.read.parquet(pairs_path).collect()}
    stored = minhash_profiles(corpus, num_perm=16, max_doc_freq=None)
    want_df = minhash_dedup_incremental(
        batch_docs, stored, num_perm=16, bands=4,
        min_jaccard=0.5, max_doc_freq=None)
    want = {}
    for r in want_df.collect():
        want[(r["id_a"], r["id_b"])] = round(r["jaccard"], 6)
    # the stream saw new docs split across micro-batches: new×new pairs
    # may be oriented by arrival order instead of id order — normalize
    norm = lambda d: {tuple(sorted(k)): v for k, v in d.items()}
    assert norm(got) == norm(want) and got
    # later batches' profiles landed in the store
    store_ids = {r["id"] for r in
                 spark.read.parquet(profiles_path).select("id").collect()}
    assert {r["doc_id"] for r in batch_docs.collect()} <= store_ids


def test_streaming_minhash_dedup_first_batch_no_store(spark, tmp_path):
    """Before any profile store exists, the first batch dedups against
    itself (batch-internal pairs only) and seeds the store."""
    from sstable_hadoop_spark.streaming.dedup import (
        minhash_dedup_foreach_batch,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "a b c d e f g h i j"),
         (3, "q r s t u v w x y z")],
        "doc_id bigint, text string")
    profiles_path = str(tmp_path / "p")
    pairs_path = str(tmp_path / "out")
    body = minhash_dedup_foreach_batch(profiles_path, pairs_path,
                                       num_perm=16, bands=4,
                                       min_jaccard=0.5,
                                       max_doc_freq=None)
    body(docs, 0)
    pairs = {(r["id_a"], r["id_b"])
             for r in spark.read.parquet(pairs_path).collect()}
    assert pairs == {(1, 2)}
    assert spark.read.parquet(profiles_path).count() == 3


def test_stream_backpressure_restart_is_exactly_once(tmp_path):
    """Restart with max_files_per_trigger: a FRESH reader instance
    (in-memory state lost, no initialOffset call — Spark only invokes
    it when no checkpoint exists) resuming from a checkpointed offset
    must never re-emit files that offset already covered.  The first
    post-restart trigger is deliberately uncapped (a capped oldest-
    first admission would emit a coverage-regressing offset and poison
    the offset chain); capping resumes once the reader has state."""
    import os

    from sstable_hadoop_spark.sources.codec import Cell, Row, write_sstable
    from sstable_hadoop_spark.sources.datasource import SSTableStreamReader

    d = str(tmp_path / "src")
    os.makedirs(d)

    def one(g):
        write_sstable(d, "ks-cf",
                      [Row(b"k", [Cell(b"c", "NORMAL", b"v", g)])],
                      generation=g)
        os.utime(os.path.join(d, f"ks-cf-{g}-Data.db"),
                 ns=(g * 10**9, g * 10**9))

    for g in range(1, 11):
        one(g)

    opts = {"path": d, "max_files_per_trigger": "3"}

    def drain(reader, prev, max_triggers=10):
        seen = []
        for _ in range(max_triggers):
            o = reader.latestOffset()
            batch = sorted(os.path.basename(p.path)
                           for p in reader.partitions(prev, o) if p.path)
            seen.append(batch)
            prev = o
            reader.commit(o)
            if not batch and o == prev:
                pass
        return seen, prev

    # phase 1: first reader commits two capped batches (files 1..6)
    r1 = SSTableStreamReader(opts)
    prev = r1.initialOffset()
    committed = []
    for _ in range(2):
        o = r1.latestOffset()
        committed += [os.path.basename(p.path)
                      for p in r1.partitions(prev, o) if p.path]
        r1.commit(o)
        prev = o
    assert len(committed) == 6 and len(set(committed)) == 6

    # phase 2: RESTART — new reader, only the checkpointed offset
    r2 = SSTableStreamReader(opts)
    emitted = []
    start = prev
    for _ in range(8):
        o = r2.latestOffset()
        batch = [os.path.basename(p.path)
                 for p in r2.partitions(start, o) if p.path]
        emitted += batch
        r2.commit(o)
        start = o
    # every pre-restart file appears ZERO more times; the backlog
    # (7..10) drains exactly once each
    assert not (set(emitted) & set(committed)), \
        f"replayed committed files: {set(emitted) & set(committed)}"
    assert sorted(emitted) == sorted(
        f"ks-cf-{g}-Data.db" for g in range(7, 11))
    assert len(emitted) == len(set(emitted))


def test_stream_backpressure_uncommitted_batch_replay(tmp_path):
    """The other restart path: the offset log holds a planned-but-
    uncommitted batch.  A fresh reader re-running partitions(start,
    end) must emit exactly the original batch (pure function of the
    offsets), and the continuation after commit drains the rest
    without duplicates or losses."""
    import os

    from sstable_hadoop_spark.sources.codec import Cell, Row, write_sstable
    from sstable_hadoop_spark.sources.datasource import SSTableStreamReader

    d = str(tmp_path / "src")
    os.makedirs(d)
    for g in range(1, 8):
        write_sstable(d, "ks-cf",
                      [Row(b"k", [Cell(b"c", "NORMAL", b"v", g)])],
                      generation=g)
        os.utime(os.path.join(d, f"ks-cf-{g}-Data.db"),
                 ns=(g * 10**9, g * 10**9))

    opts = {"path": d, "max_files_per_trigger": "3"}
    r1 = SSTableStreamReader(opts)
    start = r1.initialOffset()
    end = r1.latestOffset()           # plans files 1-3, logged
    original = sorted(os.path.basename(p.path)
                      for p in r1.partitions(start, end) if p.path)
    assert len(original) == 3
    # crash before commit → restart: fresh reader replays (start, end)
    r2 = SSTableStreamReader(opts)
    replayed = sorted(os.path.basename(p.path)
                      for p in r2.partitions(start, end) if p.path)
    assert replayed == original      # bit-identical batch
    r2.commit(end)
    # continuation drains 4-7 exactly once (capped again: 3 then 1)
    emitted, prev = [], end
    for _ in range(4):
        o = r2.latestOffset()
        emitted += [os.path.basename(p.path)
                    for p in r2.partitions(prev, o) if p.path]
        r2.commit(o)
        prev = o
    assert sorted(set(emitted)) == sorted(
        f"ks-cf-{g}-Data.db" for g in range(4, 8))
    assert len(emitted) == len(set(emitted))
    assert not (set(emitted) & set(original))


def test_backpressured_stream_feeds_incremental_dedup_across_restart(
        spark, tmp_path):
    """VERDICT r5 next-round #7 — the composed daily-ingest story:
    SSTable generation files drain through a CAPPED stream
    (max_files_per_trigger=2) into the incremental MinHash dedup
    foreachBatch body, with a crash after batch 1's writes but before
    its offset commit.  The restart replays batch 1 (same batch_id)
    on a FRESH reader and body, then drains the rest.  End state must
    equal composing the batch operator directly over the same file
    batches: pairs identical, every profile stored exactly once."""
    import os

    from sstable_hadoop_spark.operators.dedup import (
        minhash_dedup_incremental,
        minhash_profiles,
    )
    from sstable_hadoop_spark.sources.codec import Cell, Row, write_sstable
    from sstable_hadoop_spark.sources.datasource import (
        SSTableStreamReader,
        register,
    )
    from sstable_hadoop_spark.streaming.dedup import (
        minhash_dedup_foreach_batch,
    )

    register(spark)
    texts = {
        100: "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        101: "one two three four five six seven eight nine ten",
        102: "red orange yellow green blue indigo violet pink brown black",
        103: "north south east west up down left right front back",
        104: "spark shuffle partition broadcast executor driver stage task",
    }
    corpus = spark.createDataFrame(list(texts.items()),
                                   "doc_id bigint, text string")
    new_texts = {
        1: texts[100],                                   # dup of corpus
        2: "lorem ipsum dolor sit amet consectetur adipiscing elit sed do",
        3: "every good boy does fine all cows eat grass every day now",
        4: "lorem ipsum dolor sit amet consectetur adipiscing elit sed do",
        5: "unique five text with its own words nobody else shares them",
        6: "unique six text with different tokens entirely its own set",
        7: "every good boy does fine all cows eat grass every day now",
        8: texts[103],                                   # dup of corpus
        9: "another singleton document with fully distinct vocabulary here",
        10: "yet another singleton nothing matches this string of tokens",
        11: "lorem ipsum dolor sit amet consectetur adipiscing elit sed do",
        12: "final unique document closing the ingest with fresh words",
    }
    src = str(tmp_path / "src")
    os.makedirs(src)
    for g in range(1, 7):  # file g carries docs 2g-1, 2g
        rows = [Row(str(i).encode(),
                    [Cell(b"text", "NORMAL", new_texts[i].encode(), i)])
                for i in (2 * g - 1, 2 * g)]
        write_sstable(src, "docs-cf", rows, generation=g)
        os.utime(os.path.join(src, f"docs-cf-{g}-Data.db"),
                 ns=(g * 10**9, g * 10**9))

    profiles_path = str(tmp_path / "profiles")
    pairs_path = str(tmp_path / "pairs")
    kw = dict(num_perm=16, bands=4, min_jaccard=0.5, max_doc_freq=None)
    minhash_profiles(corpus, num_perm=16, max_doc_freq=None) \
        .write.parquet(f"{profiles_path}/batch_id=seed")

    def batch_df(files):
        from functools import reduce

        dfs = [spark.read.format("sstable").load(p) for p in files]
        nested = reduce(lambda a, b: a.union(b), dfs)
        cell = F.explode("columns").alias("c")
        return (nested.select("key", cell)
                .select(F.decode("key", "UTF-8").cast("bigint")
                         .alias("doc_id"),
                        F.decode(F.col("c.data"), "UTF-8").alias("text")))

    opts = {"path": src, "max_files_per_trigger": "2"}
    body = minhash_dedup_foreach_batch(profiles_path, pairs_path, **kw)

    # trigger 0: committed cleanly
    r1 = SSTableStreamReader(opts)
    prev = r1.initialOffset()
    o0 = r1.latestOffset()
    files0 = [p.path for p in r1.partitions(prev, o0) if p.path]
    body(batch_df(files0), 0)
    r1.commit(o0)
    # trigger 1: body runs (pairs + profiles WRITTEN) — crash before
    # the offset commit
    o1 = r1.latestOffset()
    files1 = [p.path for p in r1.partitions(o0, o1) if p.path]
    body(batch_df(files1), 1)

    # RESTART: fresh reader (no initialOffset call — checkpoint path),
    # fresh body; Spark replays the uncommitted batch with the SAME id
    r2 = SSTableStreamReader(opts)
    body2 = minhash_dedup_foreach_batch(profiles_path, pairs_path, **kw)
    refiles1 = [p.path for p in r2.partitions(o0, o1) if p.path]
    assert sorted(refiles1) == sorted(files1)  # offset-pure replan
    body2(batch_df(refiles1), 1)               # idempotent replay
    r2.commit(o1)
    # continuation drains the last two files
    o2 = r2.latestOffset()
    files2 = [p.path for p in r2.partitions(o1, o2) if p.path]
    assert sorted(os.path.basename(f) for f in files0 + files1 + files2) \
        == [f"docs-cf-{g}-Data.db" for g in range(1, 7)]
    body2(batch_df(files2), 2)
    r2.commit(o2)

    got = {tuple(sorted((r["id_a"], r["id_b"]))): round(r["jaccard"], 6)
           for r in spark.read.parquet(pairs_path).collect()}

    # expected: compose the BATCH operator over the same file batches
    want = {}
    stored = minhash_profiles(corpus, num_perm=16, max_doc_freq=None)
    for files in (files0, files1, files2):
        bdf = batch_df(files)
        pairs = minhash_dedup_incremental(bdf, stored, **kw)
        for r in pairs.collect():
            want[tuple(sorted((r["id_a"], r["id_b"])))] = \
                round(r["jaccard"], 6)
        stored = stored.unionByName(
            minhash_profiles(bdf, num_perm=16, max_doc_freq=None))
    assert got == want and got, got
    # the replayed batch did not duplicate pairs or profiles: every
    # new doc's profile exists exactly once alongside the seed corpus
    prof = spark.read.parquet(profiles_path).groupBy("id").count()
    assert {r["id"] for r in prof.collect()} \
        == set(texts) | set(new_texts)
    assert prof.filter(F.col("count") > 1).count() == 0


def test_stream_upsert_to_bucketed_winners(spark, tmp_path):
    """Streaming ingest → per-batch bucketed upsert; after the stream
    drains, the on-disk bucketed table equals batch lww_cell over all
    cells WITHOUT any read-side merge, and a replayed batch (restart
    with the last commit erased) leaves the table unchanged —
    idempotence by merge algebra, no transaction log."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from sstable_hadoop_spark.operators import lww_cell
    from sstable_hadoop_spark.queries import derived_cells
    from sstable_hadoop_spark.streaming.compaction import (
        upsert_stream_to_bucketed,
    )

    cells = derived_cells(spark, "/root/testdata/sf0.001")
    src = str(tmp_path / "cells_in")
    for g in [1, 2, 3, 4]:
        (cells.filter(F.col("generation") == g).coalesce(1)
              .write.mode("append").parquet(src))

    table = str(tmp_path / "winners")
    ckpt = str(tmp_path / "ckpt")
    q = upsert_stream_to_bucketed(
        spark.readStream.schema(cells.schema)
             .option("maxFilesPerTrigger", "1").parquet(src),
        table, ckpt, n_buckets=8)
    q.awaitTermination(180)
    assert not q.isActive

    def snapshot():
        return {(bytes(r["key"]), bytes(r["name"]), r["state"],
                 r["timestamp"], r["generation"])
                for r in spark.read.parquet(table).collect()}

    want = {(bytes(r["key"]), bytes(r["name"]), r["state"],
             r["timestamp"], r["generation"])
            for r in lww_cell(cells).collect()}
    first = snapshot()
    assert first == want

    # restart with the newest commit erased → Spark replays that batch
    commits = sorted(glob.glob(os.path.join(ckpt, "commits", "*")),
                     key=lambda p: os.path.basename(p))
    os.remove(commits[-1])
    crc = os.path.join(os.path.dirname(commits[-1]),
                       f".{os.path.basename(commits[-1])}.crc")
    if os.path.exists(crc):  # stale checksum blocks the re-commit
        os.remove(crc)
    shutil.rmtree(os.path.join(ckpt, "__tmp_path_dir"),
                  ignore_errors=True)
    q2 = upsert_stream_to_bucketed(
        spark.readStream.schema(cells.schema)
             .option("maxFilesPerTrigger", "1").parquet(src),
        table, ckpt, n_buckets=8)
    q2.awaitTermination(180)
    assert not q2.isActive
    assert snapshot() == want  # replay was a content no-op


def test_stream_upsert_crash_lease_steal_recovery(spark, tmp_path):
    """r8 composed production story (VERDICT r7 #6): kill the streaming
    bucketed-upsert sink mid-batch at several swap crash points (the r7
    sweep's fs-op injection), leave the dead writer's lease behind (as
    a real process kill would), then restart: the new run must STEAL
    the provably-dead lease, run recover_upsert, replay the uncommitted
    batch idempotently, and end with (a) exactly the batch LWW winners
    and (b) a clean table_health report — no marker, no dots, no lease,
    no quarantine."""
    import glob
    import json
    import os
    import shutil
    import socket
    import subprocess

    from pyspark.sql import functions as F

    from sstable_hadoop_spark.operators import lww_cell
    from sstable_hadoop_spark.operators import layout
    from sstable_hadoop_spark.operators.layout import _lock_path, table_health
    from sstable_hadoop_spark.queries import derived_cells
    from sstable_hadoop_spark.sources import fs as fsmod
    from sstable_hadoop_spark.streaming.compaction import (
        upsert_stream_to_bucketed,
    )

    class Crash(Exception):
        """Simulated process death.  Unlike the pure crash-point sweep
        (test_extensions), this must be an Exception: foreachBatch
        callbacks cross the py4j bridge, which only propagates
        Exception cleanly — a BaseException can wedge the callback
        server and hang the query."""

    cells = derived_cells(spark, "/root/testdata/sf0.001")
    src = str(tmp_path / "cells_in")
    for g in [1, 2, 3, 4]:
        (cells.filter(F.col("generation") == g).coalesce(1)
              .write.mode("append").parquet(src))
    want = {(bytes(r["key"]), bytes(r["name"]), r["state"],
             r["timestamp"], r["generation"])
            for r in lww_cell(cells).collect()}

    mutators = ("put_file", "write_bytes", "remove", "rename")
    real = {m: getattr(fsmod, m) for m in mutators}
    real_release = layout._release_table_lock
    proc = subprocess.Popen(["true"])
    proc.wait()
    dead_pid = proc.pid  # reaped: provably dead on this host

    def run_stream(table, ckpt):
        q = upsert_stream_to_bucketed(
            spark.readStream.schema(cells.schema)
                 .option("maxFilesPerTrigger", "1").parquet(src),
            table, ckpt, n_buckets=8)
        try:
            q.awaitTermination(240)
        except Exception:
            pass  # the injected Crash surfaces as a query exception
        finally:
            q.stop()

    for crash_at in (0, 3, 7):
        table = str(tmp_path / f"winners{crash_at}")
        ckpt = str(tmp_path / f"ckpt{crash_at}")
        count = [0]
        crashed = [False]

        def wrap(name):
            def op(*a, **kw):
                target = a[-1] if name in ("rename", "put_file") else a[0]
                # arm only for post-bootstrap batches (batch 0's commit
                # exists) and only for table-dir mutations
                armed = (isinstance(target, str) and table in target
                         and not target.endswith(".upsert-lock.json")
                         and glob.glob(os.path.join(ckpt, "commits", "*")))
                if armed and not crashed[0]:
                    if count[0] >= crash_at:
                        crashed[0] = True
                        raise Crash(f"{name} #{count[0]}")
                    count[0] += 1
                return real[name](*a, **kw)
            return op

        def release_unless_dead(lock, token):
            if not crashed[0]:  # a killed process never releases
                real_release(lock, token)

        for m in mutators:
            setattr(fsmod, m, wrap(m))
        layout._release_table_lock = release_unless_dead
        try:
            run_stream(table, ckpt)
        finally:
            for m in mutators:
                setattr(fsmod, m, real[m])
            layout._release_table_lock = real_release
        assert crashed[0], f"crash point {crash_at} never armed"

        # the dead writer's lease survives; make it look like the dead
        # process it is (same host, reaped pid) instead of ourselves
        lock = _lock_path(table)
        assert os.path.exists(lock), "crashed writer must leave its lease"
        info = json.loads(open(lock).read())
        info.update(pid=dead_pid, host=socket.gethostname())
        with open(lock, "w") as f:
            json.dump(info, f)

        # restart: steal the dead lease, recover, replay idempotently
        run_stream(table, ckpt)
        got = {(bytes(r["key"]), bytes(r["name"]), r["state"],
                r["timestamp"], r["generation"])
               for r in spark.read.parquet(table).collect()}
        assert got == want, f"crash point {crash_at}: content diverged"
        health = {r["bucket"]: r for r in
                  table_health(spark, table, 8).collect()}
        assert health["_table"]["note"] == "", (
            f"crash point {crash_at}: table not clean after recovery: "
            f"{health['_table']['note']}")
        shutil.rmtree(table)
        shutil.rmtree(ckpt)


def test_stream_upsert_to_txlog_winners(spark, tmp_path):
    """r9: streaming ingest through the TRANSACTION-LOG winners table
    (streaming/compaction.upsert_stream_to_txlog).  After the drain,
    the head snapshot equals batch lww_cell with no read-side merge;
    replaying the last micro-batch (restart with the newest stream
    commit erased) appends a NEW log version whose content is
    IDENTICAL — exactly-once at the content level, with the log as
    the audit trail; time travel to the pre-replay head shows the
    same content too."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from sstable_hadoop_spark.operators import lww_cell
    from sstable_hadoop_spark.operators.txlog import (
        txlog_history,
        txlog_read,
        txlog_snapshot,
    )
    from sstable_hadoop_spark.queries import derived_cells
    from sstable_hadoop_spark.streaming.compaction import (
        upsert_stream_to_txlog,
    )

    cells = derived_cells(spark, "/root/testdata/sf0.001")
    src = str(tmp_path / "cells_in")
    for g in [1, 2, 3, 4]:
        (cells.filter(F.col("generation") == g).coalesce(1)
              .write.mode("append").parquet(src))

    table = str(tmp_path / "winners")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = upsert_stream_to_txlog(
            spark.readStream.schema(cells.schema)
                 .option("maxFilesPerTrigger", "1").parquet(src),
            table, ckpt, n_buckets=8)
        q.awaitTermination(180)
        assert not q.isActive

    run()

    def snapshot(version=None):
        return {(bytes(r["key"]), bytes(r["name"]), r["state"],
                 r["timestamp"], r["generation"])
                for r in txlog_read(spark, table, version).collect()}

    want = {(bytes(r["key"]), bytes(r["name"]), r["state"],
             r["timestamp"], r["generation"])
            for r in lww_cell(cells).collect()}
    assert snapshot() == want
    v_drained = txlog_snapshot(table)["version"]
    ops = [h["op"] for h in txlog_history(table)]
    assert ops == ["create"] + ["upsert"] * (v_drained - 1)

    # restart with the newest stream commit erased → batch replays
    commits = sorted(glob.glob(os.path.join(ckpt, "commits", "*")),
                     key=lambda p: os.path.basename(p))
    os.remove(commits[-1])
    crc = os.path.join(os.path.dirname(commits[-1]),
                       f".{os.path.basename(commits[-1])}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    shutil.rmtree(os.path.join(ckpt, "__tmp_path_dir"),
                  ignore_errors=True)
    run()
    v_after = txlog_snapshot(table)["version"]
    assert v_after == v_drained + 1       # the replay IS in the log
    assert snapshot() == want             # ...with identical content
    assert snapshot(version=v_drained) == want


def test_quality_gate_stream_quarantine_and_journal(spark, tmp_path):
    """r10 streaming quality gate (streaming/quality_gate.py): good
    batches land in accepted/, failing batches in quarantine/, every
    batch gets a journaled per-rule report, and a fresh-checkpoint
    replay is idempotent (per-batch overwrite dirs — no duplicate
    rows)."""
    from sstable_hadoop_spark.streaming.quality_gate import (
        quality_gate_stream,
        read_quality_journal,
    )

    src = str(tmp_path / "src")
    # batch files staged with increasing mtimes: file 0 is clean,
    # file 1 carries NULL ids (fails not_null), file 2 is clean
    rows = {
        0: [(1, 10.0), (2, 20.0)],
        1: [(None, 30.0), (4, 40.0)],
        2: [(5, 50.0)],
    }
    schema = "id int, score double"
    for i, data in rows.items():
        d = f"{src}/g{i}"
        spark.createDataFrame(data, schema).coalesce(1).write.parquet(d)
        t = time.time() - 300 + i * 30
        import os as _os

        for f in _os.listdir(d):
            _os.utime(_os.path.join(d, f), (t, t))
    rules = [{"rule": "not_null", "column": "id"},
             {"rule": "range", "column": "score", "min": 0.0},
             {"rule": "row_count", "min": 1}]
    acc = str(tmp_path / "accepted")
    quar = str(tmp_path / "quarantine")
    jr = str(tmp_path / "journal")

    def run(cp):
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1")
                  .option("recursiveFileLookup", "true").parquet(src))
        _await(quality_gate_stream(
            stream, rules, acc, cp, jr,
            on_fail="quarantine", quarantine_dir=quar))

    run(str(tmp_path / "cp1"))
    accepted = {(r["id"], r["score"])
                for r in spark.read.parquet(acc).collect()}
    assert accepted == {(1, 10.0), (2, 20.0), (5, 50.0)}
    quarantined = {(r["id"], r["score"])
                   for r in spark.read.parquet(quar).collect()}
    assert quarantined == {(None, 30.0), (4, 40.0)}
    journal = read_quality_journal(jr)
    assert [e["passed"] for e in journal] == [True, False, True]
    bad = journal[1]
    assert bad["n_rows"] == 2
    failed_rules = [r for r in bad["rules"] if not r["passed"]]
    assert [r["rule"] for r in failed_rules] == ["not_null"]
    assert failed_rules[0]["violations"] == 1
    # fresh-checkpoint replay rewrites identical content — no dups
    run(str(tmp_path / "cp2"))
    assert {(r["id"], r["score"])
            for r in spark.read.parquet(acc).collect()} == accepted
    assert len(read_quality_journal(jr)) == 3


def test_quality_gate_stream_abort_and_admit(spark, tmp_path):
    """abort mode: the failing batch stops the query with
    QualityGateError AFTER journaling it; admit mode: everything
    lands in accepted/ with the failure on record."""
    from pyspark.errors import StreamingQueryException

    from sstable_hadoop_spark.streaming.quality_gate import (
        QualityGateError,
        quality_gate_stream,
        read_quality_journal,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame([(None, 1.0)], "id int, score double") \
         .write.parquet(src)
    rules = [{"rule": "not_null", "column": "id"}]

    q = quality_gate_stream(
        (spark.readStream.schema("id int, score double").parquet(src)),
        rules, str(tmp_path / "acc1"), str(tmp_path / "cp1"),
        str(tmp_path / "jr1"), on_fail="abort")
    with pytest.raises(StreamingQueryException,
                       match="failed constraint"):
        q.awaitTermination(120)
        raise AssertionError("abort gate did not stop the query")
    assert [e["passed"] for e in
            read_quality_journal(str(tmp_path / "jr1"))] == [False]
    assert QualityGateError.__name__ in str(
        q.exception() or "QualityGateError")

    q2 = quality_gate_stream(
        (spark.readStream.schema("id int, score double").parquet(src)),
        rules, str(tmp_path / "acc2"), str(tmp_path / "cp2"),
        str(tmp_path / "jr2"), on_fail="admit")
    _await(q2)
    got = spark.read.parquet(str(tmp_path / "acc2")).collect()
    assert len(got) == 1 and got[0]["id"] is None
    assert [e["passed"] for e in
            read_quality_journal(str(tmp_path / "jr2"))] == [False]

    with pytest.raises(ValueError, match="quarantine_dir"):
        quality_gate_stream(
            spark.readStream.schema("id int").parquet(src), rules,
            "a", "b", "c", on_fail="quarantine")
    with pytest.raises(ValueError, match="quarantine/abort/admit"):
        quality_gate_stream(
            spark.readStream.schema("id int").parquet(src), rules,
            "a", "b", "c", on_fail="drop")


def test_merge_stream_to_txlog_cdc_apply(spark, tmp_path):
    """Streaming MERGE INTO (streaming/compaction.py
    merge_stream_to_txlog): three CDC micro-batches — bootstrap,
    updates+inserts with an in-batch ts race, deletes — drained
    against the txlog must equal the folded dict model, and a commit-
    erased replay appends only content-identical versions."""
    import os
    import shutil

    from sstable_hadoop_spark.operators.txlog import (
        txlog_read,
        txlog_snapshot,
    )
    from sstable_hadoop_spark.streaming.compaction import (
        merge_stream_to_txlog,
    )

    SCHEMA = "k long, color string, ts long, deleted boolean"
    batches = [
        # bootstrap: 1..3 appear
        [(1, "red", 10, False), (2, "blue", 10, False),
         (3, "green", 10, False)],
        # 1 updated twice in-batch (latest ts wins), 4 inserted
        [(1, "mauve", 20, False), (1, "pink", 21, False),
         (4, "grey", 20, False)],
        # 2 deleted, 5 insert+delete in one batch (delete is latest)
        [(2, "blue", 30, True), (5, "white", 30, False),
         (5, "white", 31, True)],
    ]
    src = str(tmp_path / "src")
    for i, rows in enumerate(batches):
        p = os.path.join(src, f"b{i}")
        spark.createDataFrame(rows, SCHEMA).coalesce(1) \
             .write.parquet(p)
        for f in os.listdir(p):
            os.utime(os.path.join(p, f),
                     ((i + 1) * 1000, (i + 1) * 1000))

    def run(ckpt):
        stream = (spark.readStream.schema(SCHEMA)
                  .option("maxFilesPerTrigger", "1")
                  .parquet(os.path.join(src, "b*")))
        q = merge_stream_to_txlog(
            stream, str(tmp_path / "t"), ckpt, on=["k"],
            bucket_by=("k",), n_buckets=4, sort_by=("k",),
            ts_col="ts", delete_col="deleted")
        try:
            q.awaitTermination()
        finally:
            q.stop()

    run(str(tmp_path / "ckpt"))
    path = str(tmp_path / "t")
    got = sorted(tuple(r) for r in txlog_read(spark, path).collect())
    assert got == [(1, "pink"), (3, "green"), (4, "grey")]
    v = txlog_snapshot(path)["version"]
    # commit-erased restart: erase the checkpoint, drain again — the
    # replayed merges append content-identical versions only
    shutil.rmtree(str(tmp_path / "ckpt"))
    run(str(tmp_path / "ckpt2"))
    again = sorted(tuple(r) for r in txlog_read(spark, path).collect())
    assert again == got
    assert txlog_snapshot(path)["version"] > v  # audit trail grew


def test_streaming_ewma_equals_batch(spark, tmp_path):
    """Events arrive in four time-ordered micro-batches (global ts
    quartiles, so every key sees non-decreasing event time across
    batches — the operator's ordering contract); the drained stream's
    non-late emissions must equal the batch ewma_smooth trajectory
    exactly."""
    from pyspark.sql.window import Window

    from sstable_hadoop_spark.operators.timeseries import ewma_smooth
    from sstable_hadoop_spark.queries import load, ts_us
    from sstable_hadoop_spark.streaming.ewma_stream import ewma_stream

    events = load(spark, SF, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
        & F.col("value").isNotNull())
    src = str(tmp_path / "ewma_stream")
    w = Window.orderBy(ts_us(events, "ts"), F.col("event_id"))
    staged = events.withColumn("_q", F.ntile(4).over(w))
    for i in range(1, 5):
        (staged.filter(F.col("_q") == i).drop("_q").coalesce(1)
               .write.mode("append").parquet(src))
        time.sleep(0.05)  # distinct mtimes → deterministic file order

    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    out = ewma_stream(stream, ts_us(events, "ts"), "user_id", "value",
                      shift=3, tie_cols=("event_id",))
    q = (out.writeStream.format("memory").queryName("ewma_sink")
         .outputMode("append").trigger(availableNow=True).start())
    _await(q)

    got = spark.sql("select * from ewma_sink").collect()
    assert got and not any(r.late for r in got)
    want = ewma_smooth(events, ts_us(events, "ts"), "user_id", "value",
                       shift=3, tie_cols=("event_id",)).collect()
    # rn is a per-key total order, so (key, rn) keys both sides
    gm = {(r.user_id, r.rn): (r.ts_us, r.value_c, r.ewma_c)
          for r in got}
    wm = {(r.user_id, r.rn): (r.ts_us, r.value_c, r.ewma_c)
          for r in want}
    assert gm == wm


def test_streaming_ewma_flags_late_rows(spark, tmp_path):
    """A row arriving below its key's folded high-water mark is
    emitted late=true with NULL ewma and must NOT disturb the
    trajectory of subsequent in-order rows."""
    from sstable_hadoop_spark.streaming.ewma_stream import ewma_stream

    src = str(tmp_path / "late_stream")
    b1 = spark.createDataFrame(
        [(1, 1000, 2.0), (1, 2000, 4.0)], "k long, tu long, value double")
    b2 = spark.createDataFrame(
        [(1, 1500, 9.0), (1, 3000, 8.0)], "k long, tu long, value double")
    b1.coalesce(1).write.mode("append").parquet(src)
    time.sleep(0.05)
    b2.coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema(b1.schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = (ewma_stream(stream, "tu", "k", "value", shift=3)
         .writeStream.format("memory").queryName("late_sink")
         .outputMode("append").trigger(availableNow=True).start())
    _await(q)
    rows = sorted(spark.sql("select * from late_sink").collect(),
                  key=lambda r: r.ts_us)
    by_ts = {r.ts_us: r for r in rows}
    assert by_ts[1500].late and by_ts[1500].ewma_c is None
    # trajectory: 200 -> (400 + 7*200)//8 = 225 -> (800 + 7*225)//8=296
    assert (by_ts[1000].ewma_c, by_ts[2000].ewma_c,
            by_ts[3000].ewma_c) == (200, 225, 296)
    assert [by_ts[t].rn for t in (1000, 2000, 3000)] == [1, 2, 3]


def test_streaming_ewma_sorts_across_arrow_chunks(spark, tmp_path):
    """Review r10: one micro-batch arriving as MULTIPLE Arrow chunks
    must sort as a whole — per-chunk sorting mis-flagged ordered rows
    as late.  Force tiny chunks and feed one batch whose natural
    chunking is time-interleaved."""
    from sstable_hadoop_spark.streaming.ewma_stream import ewma_stream

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        src = str(tmp_path / "chunky")
        n = 100
        # write DESCENDING so any chunk-local sort sees later chunks
        # holding EARLIER timestamps
        rows = [(1, (n - i) * 1000, float(i)) for i in range(n)]
        spark.createDataFrame(
            rows, "k long, tu long, value double") \
            .coalesce(1).write.parquet(src)
        stream = (spark.readStream
                  .schema("k long, tu long, value double")
                  .parquet(src))
        q = (ewma_stream(stream, "tu", "k", "value", shift=3)
             .writeStream.format("memory").queryName("chunky_sink")
             .outputMode("append").trigger(availableNow=True).start())
        _await(q)
        got = spark.sql("select * from chunky_sink").collect()
        assert len(got) == n
        assert not any(r.late for r in got)
        assert sorted(r.rn for r in got) == list(range(1, n + 1))
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_append_stream_to_txlog_exactly_once(spark, tmp_path):
    """r11 streaming append ingest: a 4-batch file stream drains into
    a txlog table as pure appends (one version per non-empty batch +
    the empty bootstrap), content equals the full input; a REPLAY of
    the whole stream from a fresh checkpoint (same txn_app) skips
    every batch — content and version count unchanged — because
    append is not content-idempotent and exactly-once must be
    transactional."""
    from sstable_hadoop_spark.operators.txlog import (
        txlog_read,
        txlog_snapshot,
    )
    from sstable_hadoop_spark.streaming.compaction import (
        append_stream_to_txlog,
    )

    rows = spark.range(0, 400).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    src = str(tmp_path / "src")
    rows.repartition(4).write.parquet(src)
    table = str(tmp_path / "t")

    def drain(ckpt: str) -> None:
        stream = (spark.readStream.schema("k long, v long")
                  .option("maxFilesPerTrigger", "1").parquet(src))
        q = append_stream_to_txlog(
            stream, table, str(tmp_path / ckpt),
            bucket_by=("k",), n_buckets=4, txn_app="ingestA")
        q.awaitTermination()

    drain("ckpt1")
    want = sorted((r["k"], r["v"]) for r in rows.collect())
    assert sorted(tuple(r) for r in
                  txlog_read(spark, table).collect()) == want
    v_after = txlog_snapshot(table)["version"]
    # full replay from a FRESH checkpoint: every batch id re-fires,
    # every one must be skipped by the journaled txn high-water
    drain("ckpt2")
    assert txlog_snapshot(table)["version"] == v_after
    assert sorted(tuple(r) for r in
                  txlog_read(spark, table).collect()) == want


def test_streaming_builder_keeps_session_shuffle_width(spark):
    """A streaming query builder pins the state-store shuffle width for
    its own stream only: after building ``streaming_lww_flush`` the
    session's ``spark.sql.shuffle.partitions`` is what it was."""
    from sstable_hadoop_spark.queries import all_queries

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    assert before != "32"  # otherwise a leak would not show
    all_queries()["streaming_lww_flush"](spark, SF)
    assert spark.conf.get(key) == before
