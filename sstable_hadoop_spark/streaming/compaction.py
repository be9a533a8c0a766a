"""Streaming ingest → SSTable flush: Cassandra's memtable/flush write
path as a Structured Streaming job.

Each micro-batch is locally LWW-merged (one winner per (key, name)
within the batch — the memtable dedup) and flushed as a NEW SSTable
generation via the distributed write sink.  The on-disk directory is
then a normal multi-generation SSTable set: batch ``lww_cell`` over a
scan of it reconstructs exactly the LWW state of everything ingested —
read path and write path close the loop.

Scale notes: per-batch merge is the usual one-shuffle partial-agg
aggregation; the flush writes key-sorted files per task partition;
no state store is needed (generations carry the merge semantics, as in
Cassandra — compaction is deferred to readers or a periodic batch
rewrite with ``lww_cell`` + the sink).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _flush_batch(batch_df: DataFrame, batch_id: int, out_dir: str,
                 name: str, compressed: bool) -> None:
    """Memtable-merge one micro-batch and flush it as a new generation."""
    from sstable_hadoop_spark.operators import collect_rows, lww_cell

    winners = lww_cell(batch_df)
    # generation = batch id + 1 (generations are 1-based); newer
    # batches must win ties, matching arrival order
    rows = collect_rows(
        winners.withColumn("generation", F.lit(batch_id + 1).cast("int")),
        by_generation=True)
    (rows.write.format("sstable")
         .option("path", out_dir)
         .option("name", f"{name}-{batch_id + 1}")
         .option("compressed", str(compressed).lower())
         .mode("append").save())


def _start_batches(stream: DataFrame, fn, checkpoint_dir: str):
    """Start ``fn(batch_df, batch_id)`` over every micro-batch of
    ``stream`` until it has drained (``availableNow``); the caller
    awaits and stops the query."""
    return (stream.writeStream
            .foreachBatch(fn)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def flush_stream_to_sstables(cell_stream: DataFrame, out_dir: str,
                             checkpoint_dir: str, name: str = "flush",
                             compressed: bool = False):
    """Start the flush query (caller awaits/stops it).  ``cell_stream``
    must have the exploded cell schema (key, name, state, data,
    timestamp, ttl, expiration, generation)."""
    def flush(batch_df: DataFrame, batch_id: int) -> None:
        _flush_batch(batch_df, batch_id, out_dir, name, compressed)

    return _start_batches(cell_stream, flush, checkpoint_dir)


def flush_stream_to_leveled(cell_stream: DataFrame, out_dir: str,
                            checkpoint_dir: str, name: str = "flush",
                            compressed: bool = False, *,
                            l0_threshold: int = 4,
                            sstable_mb: float = 160.0,
                            fanout: int = 10):
    """The FULL LSM write path as one streaming job: each micro-batch
    memtable-merges and flushes a new L0 generation (exactly
    :func:`flush_stream_to_sstables`), then leveled compaction
    (operators/compaction.py — Cassandra LCS) runs inline whenever L0
    reaches ``l0_threshold``, folding flushed generations into
    non-overlapping level runs.  The directory is therefore both the
    ingest target AND a read-optimized tree at every batch boundary —
    memtable → L0 → leveled levels, the storage-engine loop closed on
    Spark.

    Correctness under crash/replay rides the LWW algebra: a crash
    between a compaction's merged write and its source removals
    leaves DUPLICATE content, and re-merging duplicates under the
    associative idempotent argmax yields the same winners (the same
    argument that makes subset compaction safe at all); a replayed
    batch re-flushes content-identical cells.  The level sidecar is
    advisory — scans never consult it (compaction module contract).
    Single-writer: the stream is the tree's only compactor."""
    from sstable_hadoop_spark.operators.compaction import compact_leveled

    def flush(batch_df: DataFrame, batch_id: int) -> None:
        _flush_batch(batch_df, batch_id, out_dir, name, compressed)
        compact_leveled(batch_df.sparkSession, out_dir,
                        sstable_mb=sstable_mb, fanout=fanout,
                        l0_threshold=l0_threshold)

    return _start_batches(cell_stream, flush, checkpoint_dir)


def upsert_stream_to_bucketed(cell_stream: DataFrame, table_dir: str,
                              checkpoint_dir: str, *,
                              n_buckets: int = 16):
    """Streaming ingest → continuously-maintained BUCKETED winners
    table: the compaction-free alternative to the generation flush
    above.  Each micro-batch is locally LWW-merged (memtable dedup),
    then folded into the key-bucketed winners table by rewriting ONLY
    the buckets its keys hash into (operators/layout.bucketed_upsert
    with lww_refresh inside each) — so the on-disk table IS the
    current merged state at every batch boundary, readable with zero
    exchanges and no read-side merge.

    Restart safety comes from algebra, not a transaction log: the
    argmax merge is idempotent, so a replayed (uncommitted) batch
    rewrites the same winners byte-for-byte — asserted across a
    kill/restart in tests/test_streaming.py.

    Per-batch IO is O(affected buckets + batch): the daily-ingest cost
    of a 100 TB winners table tracks the delta, not the table."""
    import hashlib

    from sstable_hadoop_spark.operators.layout import (
        bucket_files,
        bucketed_upsert,
        recover_upsert,
        write_bucketed,
    )
    from sstable_hadoop_spark.operators.lww import lww_cell, lww_refresh

    tag = hashlib.md5(table_dir.encode()).hexdigest()[:10]

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        from sstable_hadoop_spark.operators.layout import (
            _acquire_table_lock,
            _release_table_lock,
        )

        winners = lww_cell(batch_df)
        # The WHOLE batch — recovery, bootstrap decision, fold — runs
        # under one writer lease: recovering before holding it would
        # let this sink roll back a live foreign writer's staged files
        # (review r7).  A crash mid-swap in a prior batch leaves the
        # table torn; finish/undo it first, then the replayed batch
        # re-applies idempotently.
        lease = _acquire_table_lock(table_dir, 600.0)
        try:
            recover_upsert(table_dir, held_lease=lease)
            if not bucket_files(table_dir):  # first batch bootstraps
                write_bucketed(winners, table_dir, f"upsink_{tag}",
                               bucket_by=("key",), n_buckets=n_buckets,
                               sort_by=("key", "name"))
            else:
                bucketed_upsert(batch_df.sparkSession, table_dir,
                                winners, lww_refresh, bucket_by=("key",),
                                n_buckets=n_buckets,
                                sort_by=("key", "name"),
                                held_lease=lease)
        finally:
            _release_table_lock(*lease)

    return _start_batches(cell_stream, upsert, checkpoint_dir)


def merge_stream_to_txlog(change_stream: DataFrame, table_dir: str,
                          checkpoint_dir: str, *, on: list[str],
                          bucket_by: tuple[str, ...],
                          n_buckets: int = 16,
                          sort_by: tuple[str, ...] = (),
                          ts_col: str | None = None,
                          delete_col: str | None = None):
    """Streaming MERGE INTO — the CDC-apply sink: each micro-batch of
    entity changes folds into the transaction-log table through
    :func:`~..operators.txlog.txlog_merge` (update matched / insert
    new), with ``delete_col`` rows (a boolean CDC delete marker)
    applied as key-only delete merges.  The batch first reduces to
    ONE change per key — latest by ``ts_col`` when given (required
    whenever a feed can carry several changes for a key in one
    batch; ties break on the delete marker then the remaining
    columns, deterministically), else txlog_merge's ambiguity guard
    refuses duplicate keys loudly.

    The table bootstraps from the first batch's upserts when no log
    exists yet.  Exactly-once is CONTENT-level, like every txlog
    writer: a replayed batch re-updates rows to the same values and
    re-deletes absent keys (idempotent merges), appending a
    content-identical version — the log doubles as the replay audit
    trail.  Concurrent batch writers/compactors interleave under the
    normal optimistic-commit rules."""
    from pyspark.sql.window import Window

    from sstable_hadoop_spark.operators.txlog import (
        txlog_create,
        txlog_exists,
        txlog_merge,
    )

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df
        data_cols = [c for c in rows.columns
                     if c not in (ts_col, delete_col)]
        if ts_col is not None:
            order = [F.col(ts_col).desc()]
            if delete_col is not None:
                order.append(F.col(delete_col).desc())
            order += [F.col(c).asc_nulls_last() for c in data_cols
                      if c not in on]
            rows = (rows.withColumn(
                        "_rn", F.row_number().over(
                            Window.partitionBy(*on).orderBy(*order)))
                        .filter(F.col("_rn") == 1)
                        .drop("_rn", ts_col))
        dele = (rows.filter(F.col(delete_col)).select(*on)
                if delete_col is not None else None)
        ups = (rows.filter(~F.coalesce(F.col(delete_col),
                                       F.lit(False)))
               .drop(delete_col)
               if delete_col is not None else rows)
        spark = batch_df.sparkSession
        if not txlog_exists(table_dir):
            if ups.limit(1).count():
                txlog_create(spark, table_dir, ups,
                             bucket_by=bucket_by, n_buckets=n_buckets,
                             sort_by=sort_by)
            # deletes before any table exists target nothing
        elif ups.limit(1).count():
            txlog_merge(spark, table_dir, ups, on, bucket_by,
                        n_buckets, sort_by=sort_by)
        if (dele is not None and txlog_exists(table_dir)
                and dele.limit(1).count()):
            txlog_merge(spark, table_dir, dele, on, bucket_by,
                        n_buckets, sort_by=sort_by,
                        when_matched="delete",
                        when_not_matched="ignore")

    return _start_batches(change_stream, fold, checkpoint_dir)


def append_stream_to_txlog(stream: DataFrame, table_dir: str,
                           checkpoint_dir: str, *,
                           bucket_by: tuple[str, ...],
                           n_buckets: int = 16,
                           sort_by: tuple[str, ...] = (),
                           txn_app: str | None = None):
    """Streaming APPEND-ONLY ingest into a transaction-log table —
    the daily-events tail: each micro-batch lands through
    :func:`~..operators.txlog.txlog_append` (new bucket files, no
    reads, no rewrites, never a writer conflict), so per-batch cost
    is O(batch) at ANY table size and incremental consumers
    (``txlog_diff`` feeds, IVM rollups, HLL registers) read exactly
    the appended files.

    Exactly-once is TRANSACTIONAL, not content-level: an append is
    not idempotent (a replayed batch would double its rows), so
    every commit journals ``(txn_app, batch_id)`` — Delta's
    idempotent-writes pattern.  A restarted query scans the commit
    log once for its high-water batch id and skips replays; the
    two-concurrent-replayers race is closed inside the commit
    (an intervening identical tag turns the claim into a no-op).
    ``txn_app`` defaults to a digest of the checkpoint dir — pass an
    explicit stable name if the checkpoint can MOVE between restarts
    (a moved checkpoint with the default would re-ingest history).

    The table bootstraps EMPTY from the first batch's schema, then
    appends — so batch 0's txn tag is journaled like every other
    batch and its replay is skipped too."""
    import hashlib

    from sstable_hadoop_spark.operators.txlog import (
        txlog_append,
        txlog_create,
        txlog_exists,
        txlog_txn_high_water,
    )

    app = txn_app or ("append-" + hashlib.md5(
        checkpoint_dir.encode()).hexdigest()[:12])
    state = {"hw": None}

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if not txlog_exists(table_dir):
            txlog_create(spark, table_dir, batch_df.limit(0),
                         bucket_by=bucket_by, n_buckets=n_buckets,
                         sort_by=sort_by)
        if state["hw"] is None:
            state["hw"] = txlog_txn_high_water(table_dir, app)
        if batch_id <= state["hw"]:
            return  # replayed batch: already journaled
        txlog_append(spark, table_dir, batch_df, sort_by=sort_by,
                     txn=(app, batch_id))
        state["hw"] = batch_id

    return _start_batches(stream, fold, checkpoint_dir)


def upsert_stream_to_txlog(cell_stream: DataFrame, table_dir: str,
                           checkpoint_dir: str, *,
                           n_buckets: int = 16):
    """Streaming ingest → the TRANSACTION-LOG winners table
    (operators/txlog.py): same per-batch topology as
    ``upsert_stream_to_bucketed`` (local LWW memtable dedup, then an
    O(affected buckets + batch) fold), but committed as optimistic log
    versions instead of a leased in-place swap — so the stream can
    share the table with CONCURRENT batch writers/compactors, readers
    get snapshot isolation while batches land, and a crash needs no
    recovery pass at all: an unfinished batch left only unreferenced
    staged files, and its replay commits the same content as a new
    version (argmax idempotence — exactly-once at the CONTENT level,
    with the log as the audit trail of the replay)."""
    from sstable_hadoop_spark.operators.lww import lww_cell, lww_refresh
    from sstable_hadoop_spark.operators.txlog import (
        txlog_create,
        txlog_exists,
        txlog_upsert,
    )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        winners = lww_cell(batch_df)
        if not txlog_exists(table_dir):
            txlog_create(batch_df.sparkSession, table_dir, winners,
                         bucket_by=("key",), n_buckets=n_buckets,
                         sort_by=("key", "name"))
        else:
            txlog_upsert(batch_df.sparkSession, table_dir, winners,
                         lww_refresh, bucket_by=("key",),
                         n_buckets=n_buckets,
                         sort_by=("key", "name"))

    return _start_batches(cell_stream, upsert, checkpoint_dir)


def delete_stream_to_txlog(condition_stream: DataFrame,
                           table_dir: str, checkpoint_dir: str, *,
                           key_cols: list[str]):
    """Streaming DELETE feed → merge-on-read deletion vectors: each
    micro-batch's rows name keys to erase from the logged table (the
    right-to-be-forgotten queue), applied as one
    ``txlog_delete_rows`` per batch — a pushdown scan + KB commit,
    never a bucket rewrite; :func:`~..operators.txlog.txlog_compact`
    (or ``txlog_maintain``) later materializes the accumulated
    vectors on the maintenance cadence.

    Exactly-once WITHOUT txn tags: a deletion vector is naturally
    idempotent (re-deleting deleted positions journals nothing — the
    no-op short-circuit inside ``txlog_delete_rows``), so replayed
    batches cost one probe scan and zero commits.  Keys collect to
    the driver per batch (delete queues are small by nature; the
    ``max_delete_rows`` bound still applies on the table side)."""
    from sstable_hadoop_spark.operators.txlog import (
        txlog_delete_rows,
        txlog_exists,
    )

    from pyspark.sql import functions as F

    def erase(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if not txlog_exists(table_dir):
            raise FileNotFoundError(
                f"no transaction log at {table_dir} — the delete "
                "sink erases from an EXISTING table")
        keys = (batch_df.select(*key_cols).distinct().collect())
        if not keys:
            return
        if len(key_cols) == 1:
            cond = F.col(key_cols[0]).isin(
                *[r[key_cols[0]] for r in keys])
        else:
            # exact tuple membership: OR of struct equalities (a
            # delete queue's batch is small; Spark has no literal
            # struct IN list)
            probe = F.struct(*[F.col(kc) for kc in key_cols])
            cond = None
            for r in keys:
                c = probe == F.struct(
                    *[F.lit(r[kc]).alias(kc) for kc in key_cols])
                cond = c if cond is None else (cond | c)
        txlog_delete_rows(spark, table_dir, cond)

    return _start_batches(condition_stream, erase, checkpoint_dir)
