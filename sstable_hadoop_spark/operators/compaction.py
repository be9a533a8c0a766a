"""Batch compaction — Cassandra's major compaction as one Spark job:
read every generation in a directory, per-cell LWW merge, write a
single merged generation.

The reference implements exactly this pipeline as a MapReduce job
(ReadSSTableWithoutSplits.scala:14-33: whole-file scan →
MsgPackSSTableDataReducer merge → text output); here the output is a
real SSTable generation readable by the same source, so compaction
composes with everything else.

GC semantics (optional, like Cassandra's gc_grace + TTL purge):
- ``gc_before_ms``: DELETED winners with timestamp older than this
  (µs-compared against ms×1000) are dropped entirely — the tombstone
  has shadowed everything it needed to and can be purged;
- expired EXPIRING winners (expiration ≤ gc_before_ms) are dropped.
Newer tombstones are RETAINED (they must keep shadowing older
generations that might still exist elsewhere).

Scale notes: the default output generation comes from the input
file names (the scan derives its ``generation`` column from them too),
so compaction runs no pre-scan: the write is its only query.  Its
plan is scan + partial LWW merge (map-side combine), final merge +
regroup of the winners into rows, write; ``target_partitions`` makes
the regroup's shuffle a key-range one, so each task writes a
key-sorted, non-overlapping file.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .lww import collect_rows, explode_cells, lww_cell


def _gc(winners: DataFrame, gc_before_ms: int | None) -> DataFrame:
    if gc_before_ms is None:
        return winners
    gc_us = gc_before_ms * 1000
    return winners.filter(~(
        ((F.col("state") == "DELETED") & (F.col("timestamp") < gc_us))
        | ((F.col("state") == "EXPIRING")
           & F.col("expiration").isNotNull()
           & (F.col("expiration") <= gc_before_ms))))


def _next_generation(data_files: list[str]) -> int:
    """One past the newest generation named by ``data_files`` (1 for
    none) — the output generation that beats every input."""
    from sstable_hadoop_spark.sources.codec import generation_of

    return max(map(generation_of, data_files), default=0) + 1


def _write_merged(winners: DataFrame, out_dir: str, generation: int,
                  name: str, target_partitions: int | None,
                  compressed: bool) -> DataFrame:
    merged = winners.withColumn("generation",
                                F.lit(generation).cast("int"))
    if target_partitions:
        # range-partitioned by key already clusters the regroup's
        # (key, generation), so collect_rows plans no shuffle of its own
        merged = merged.repartitionByRange(target_partitions, "key")
    nested = collect_rows(merged, by_generation=True)
    (nested.write.format("sstable")
           .option("path", out_dir)
           .option("name", name)
           .option("compressed", str(compressed).lower())
           .mode("append").save())
    return merged


def compact(spark: SparkSession, in_dir: str, out_dir: str,
            generation: int | None = None,
            gc_before_ms: int | None = None,
            target_partitions: int | None = None,
            compressed: bool = False) -> DataFrame:
    """Compact ``in_dir`` (all generations) into one merged generation
    at ``out_dir``.  Returns the merged-cell DataFrame (lazy reuse).

    One generation, not one file: each reducer task of the regroup
    shuffle (``collect_rows``, which follows the final merge) writes
    its own key-sorted Data.db, and AQE sizes that width from the
    shuffle bytes, so a mid-size input lands as a few files whose key
    ranges may overlap.  Pass ``target_partitions`` for exactly that
    many range-disjoint files.

    ``generation`` defaults to one past the largest generation in the
    input ``-Data.db`` file names, so the compacted file wins any future
    tie against its inputs.  It is read from the directory listing, not
    the data, so the write is the only query this runs; a zero-row
    input generation counts too.
    """
    from sstable_hadoop_spark.sources.datasource import _list_files, register

    register(spark)
    rows = spark.read.format("sstable").load(in_dir)
    if generation is None:
        generation = _next_generation(_list_files(in_dir, "-Data.db"))
    winners = _gc(lww_cell(explode_cells(rows)), gc_before_ms)
    return _write_merged(winners, out_dir, generation, "compacted",
                         target_partitions, compressed)


def pick_size_tiered(in_dir: str, bucket_low: float = 0.5,
                     bucket_high: float = 1.5,
                     min_threshold: int = 4,
                     max_threshold: int = 32) -> list[list[str]]:
    """Size-tiered compaction candidate selection — Cassandra's STCS
    bucketing algorithm on Data.db file sizes: a file joins an existing
    bucket when its size lies within [bucket_low·avg, bucket_high·avg]
    of that bucket's running average; buckets with at least
    ``min_threshold`` files are due for compaction (largest files
    capped at ``max_threshold`` per run).

    Metadata-only (one directory listing + stat per file — no data
    I/O), so it runs on the driver in O(files log files) regardless of
    data volume; returns buckets sorted smallest-average-first, each a
    list of Data.db paths for ``compact_files``.
    """
    from sstable_hadoop_spark.sources.datasource import _list_files

    sized = sorted(((os.path.getsize(f), f)
                    for f in _list_files(in_dir, "-Data.db")))
    buckets: list[tuple[float, list[tuple[int, str]]]] = []
    for size, path in sized:
        placed = False
        for i, (avg, members) in enumerate(buckets):
            if bucket_low * avg <= size <= bucket_high * avg:
                members.append((size, path))
                total = sum(s for s, _ in members)
                buckets[i] = (total / len(members), members)
                placed = True
                break
        if not placed:
            buckets.append((float(size), [(size, path)]))
    due = [(avg, [p for _, p in members[:max_threshold]])
           for avg, members in buckets if len(members) >= min_threshold]
    return [paths for _, paths in sorted(due, key=lambda b: b[0])]


def compact_files(spark: SparkSession, files: list[str], out_dir: str,
                  generation: int | None = None,
                  gc_before_ms: int | None = None,
                  target_partitions: int | None = None,
                  compressed: bool = False) -> DataFrame:
    """Compact an explicit file set (one STCS bucket from
    ``pick_size_tiered``) into a single merged generation, leaving
    every other generation in place — Cassandra's incremental
    size-tiered compaction as a Spark job.  Semantics identical to
    ``compact`` restricted to ``files``."""
    from functools import reduce

    from sstable_hadoop_spark.sources.datasource import _list_files, register

    if not files:
        raise ValueError("compact_files requires a non-empty file list")
    register(spark)
    rows = reduce(lambda a, b: a.unionByName(b),
                  [spark.read.format("sstable").load(f) for f in files])
    if generation is None:
        generation = _next_generation(
            [d for f in files for d in _list_files(f, "-Data.db")])
    winners = _gc(lww_cell(explode_cells(rows)), gc_before_ms)
    return _write_merged(winners, out_dir, generation, "tiered",
                         target_partitions, compressed)


# ---------------------------------------------------------------------------
# Leveled compaction (Cassandra LCS) — the read-optimized sibling of
# the STCS policy above.  Levels L1+ hold runs of NON-OVERLAPPING
# key-range files, each level ``fanout``× the previous level's byte
# budget; new generations land in L0 (mutually overlapping allowed).
# A compaction round merges either (a) all of an over-full L0 with the
# L1 files its key span overlaps, or (b) one over-budget level-N file
# with its overlapping L(N+1) files — so a point read touches at most
# one file per level plus L0, and compaction IO is bounded by the
# overlap, never the level.
#
# The planner is METADATA-ONLY: file sizes from a listing, per-file
# key bounds from the first Index.db entry plus a bounded tail walk
# from the LAST Summary.db sample (≤ one sampling interval of
# entries) — never a data read, mirroring how ``pick_size_tiered``
# stays driver-cheap at any volume.  Level assignments persist in a
# ``_levels.json`` sidecar published atomically; files absent from
# the sidecar are L0 by definition (exactly where a freshly flushed
# or adopted generation belongs), so a lost sidecar degrades to
# re-leveling, never to wrong reads — scans never consult levels.
#
# LWW-merge associativity is what makes subset compaction safe here,
# as it already does for STCS buckets: merging any subset of files
# can only replace rows with the same winners the full merge picks.
# Tombstones are retained (gc_before_ms=None) unless the caller has
# established the Cassandra gc_grace precondition.

_LEVELS_SIDECAR = "_levels.json"


def file_key_range(data_path: str) -> tuple[bytes, bytes]:
    """(first_key, last_key) of a generation, metadata-cheap: the
    first Index.db entry, and a walk from the LAST Summary.db sample
    (bounded by the sampling interval); a generation without a
    Summary.db walks its whole Index.db (still never the data)."""
    from sstable_hadoop_spark.sources import fs
    from sstable_hadoop_spark.sources.codec import (
        companion,
        read_index_entries,
        read_summary_entries,
    )

    index = companion(data_path, "Index")
    it = read_index_entries(index)
    try:
        first = next(it)[0]
    except StopIteration:
        raise ValueError(f"empty Index.db for {data_path}")
    start = 0
    summary = companion(data_path, "Summary")
    if fs.exists(summary):
        for _, off in read_summary_entries(summary):
            start = off
    last = first
    for key, _ in read_index_entries(index, start=start):
        last = key
    return first, last


def read_levels(in_dir: str) -> dict[str, int]:
    """The persisted level of each Data.db basename; files missing
    from the sidecar (or the whole sidecar missing) are L0."""
    import json

    from sstable_hadoop_spark.sources import fs

    path = os.path.join(in_dir, _LEVELS_SIDECAR)
    if not fs.exists(path):
        return {}
    return {k: int(v)
            for k, v in json.loads(fs.read_bytes(path)).items()}


def _write_levels(in_dir: str, levels: dict[str, int]) -> None:
    import json

    from sstable_hadoop_spark.sources import fs

    fs.write_bytes_atomic(
        os.path.join(in_dir, _LEVELS_SIDECAR),
        json.dumps(dict(sorted(levels.items())), indent=0).encode())


def _overlaps(lo_a: bytes, hi_a: bytes, lo_b: bytes, hi_b: bytes) -> bool:
    return not (hi_a < lo_b or hi_b < lo_a)


def pick_leveled(in_dir: str, sstable_mb: float = 160.0,
                 fanout: int = 10,
                 l0_threshold: int = 4) -> dict | None:
    """One due leveled-compaction task, or None when the tree is in
    shape.  Priority: an over-full L0 first (reads suffer most
    there), then the deepest over-budget level.  ``l0_threshold``
    counts L0 generations (flushes), not files: a flush writes one
    file per reducer, and that width must not set the cadence.  Returns
    ``{"level", "sources", "overlapping", "target_level"}`` with
    absolute Data.db paths for :func:`compact_leveled_task`.

    Deterministic: the level-N victim is the file with the smallest
    first key (a fixed sweep order visits every key range — same
    effect as Cassandra's round-robin cursor without mutable state).
    """
    from sstable_hadoop_spark.sources.codec import generation_of
    from sstable_hadoop_spark.sources.datasource import _list_files

    files = _list_files(in_dir, "-Data.db")
    if not files:
        return None
    levels = read_levels(in_dir)
    by_level: dict[int, list[str]] = {}
    for f in files:
        by_level.setdefault(levels.get(os.path.basename(f), 0),
                            []).append(f)
    ranges = {f: file_key_range(f) for f in files}

    def overlapping_in(level: int, lo: bytes, hi: bytes) -> list[str]:
        return [f for f in by_level.get(level, [])
                if _overlaps(lo, hi, *ranges[f])]

    l0 = by_level.get(0, [])
    if len(set(map(generation_of, l0))) >= l0_threshold:
        lo = min(ranges[f][0] for f in l0)
        hi = max(ranges[f][1] for f in l0)
        return {"level": 0, "sources": sorted(l0),
                "overlapping": sorted(overlapping_in(1, lo, hi)),
                "target_level": 1}
    budget = sstable_mb * 1024 * 1024
    # LevelDB-style scoring: compact the level most over its budget
    # (bytes / cap); deeper levels have fanout-times-larger caps, so
    # pressure naturally drains top-down
    best_level, best_score = None, 1.0
    for level in sorted(l for l in by_level if l > 0):
        cap = budget * (fanout ** level)
        score = sum(os.path.getsize(f)
                    for f in by_level[level]) / cap
        if score > best_score:
            best_level, best_score = level, score
    if best_level is None:
        return None
    victim = min(by_level[best_level], key=lambda f: ranges[f][0])
    lo, hi = ranges[victim]
    return {"level": best_level, "sources": [victim],
            "overlapping": sorted(
                overlapping_in(best_level + 1, lo, hi)),
            "target_level": best_level + 1}


def _remove_family(data_path: str) -> None:
    from sstable_hadoop_spark.sources import fs
    from sstable_hadoop_spark.sources.codec import COMPONENTS, companion

    for component in COMPONENTS:
        p = companion(data_path, component)
        if fs.exists(p):
            fs.remove(p)


def compact_leveled_task(spark: SparkSession, in_dir: str,
                         task: dict,
                         target_partitions: int | None = None,
                         compressed: bool = False,
                         sstable_mb: float = 160.0) -> list[str]:
    """Execute one :func:`pick_leveled` task IN PLACE: merge the
    source + overlapping files into a new generation (the range-
    partitioned writer emits key-sorted, non-overlapping files — the
    level invariant by construction), register its Data.db files at
    the target level, then remove the consumed families and their
    sidecar entries.  Returns the new Data.db paths.

    The output is always range-partitioned: into ``target_partitions``
    files, or by default one file per ``sstable_mb`` of consumed
    Data.db bytes (at least one), so the file count never follows the
    shuffle width.

    A level-N≥1 victim with NO overlap in N+1 is a TRIVIAL MOVE
    (LevelDB/RocksDB's optimization): the file is re-registered at
    the target level with zero data IO — no rewrite can change its
    content, and the relabel preserves the non-overlap invariant
    because nothing in the target level overlapped it.  Trivial
    moves also make over-budget cascades terminate cheaply: level
    budgets grow ``fanout``× per level, so a descending file meets a
    big-enough level after O(log) relabels, not O(log) rewrites.

    Concurrency caveat (same contract as Cassandra's own compactor):
    consumed families are REMOVED in place, so a scan running while a
    task lands can lose files mid-plan.  Run leveled compaction in a
    maintenance window, or put the tree behind the transaction log
    (operators/txlog.py txlog_compact) when readers need snapshot
    isolation — this module is the policy for raw SSTable dirs."""
    from sstable_hadoop_spark.sources.datasource import _list_files

    if task["level"] > 0 and not task["overlapping"]:
        levels = read_levels(in_dir)
        for f in task["sources"]:
            levels[os.path.basename(f)] = task["target_level"]
        _write_levels(in_dir, levels)
        return list(task["sources"])
    consumed = list(task["sources"]) + list(task["overlapping"])
    if target_partitions is None:
        in_bytes = sum(os.path.getsize(f) for f in consumed)
        target_partitions = max(
            1, math.ceil(in_bytes / (sstable_mb * 1024 * 1024)))
    before = set(_list_files(in_dir, "-Data.db"))
    compact_files(spark, consumed, in_dir,
                  generation=_next_generation(list(before)),
                  target_partitions=target_partitions,
                  compressed=compressed)
    new = sorted(set(_list_files(in_dir, "-Data.db")) - before)
    levels = read_levels(in_dir)
    for f in new:
        levels[os.path.basename(f)] = task["target_level"]
    for f in consumed:
        levels.pop(os.path.basename(f), None)
    _write_levels(in_dir, levels)
    for f in consumed:
        _remove_family(f)
    return new


def compact_leveled(spark: SparkSession, in_dir: str,
                    sstable_mb: float = 160.0, fanout: int = 10,
                    l0_threshold: int = 4, max_rounds: int = 100,
                    target_partitions: int | None = None,
                    compressed: bool = False) -> int:
    """Run leveled compaction to quiescence (≤ ``max_rounds`` tasks);
    returns the number of tasks performed.  Each round is one bounded
    merge job — a crash between rounds leaves a valid, readable tree
    (scans never depend on levels; the next run re-plans from the
    sidecar + listing)."""
    rounds = 0
    while rounds < max_rounds:
        task = pick_leveled(in_dir, sstable_mb=sstable_mb,
                            fanout=fanout, l0_threshold=l0_threshold)
        if task is None:
            return rounds
        compact_leveled_task(spark, in_dir, task,
                             target_partitions=target_partitions,
                             compressed=compressed,
                             sstable_mb=sstable_mb)
        rounds += 1
    raise RuntimeError(
        f"leveled compaction did not quiesce in {max_rounds} rounds "
        f"on {in_dir} — raise max_rounds or sstable_mb")
