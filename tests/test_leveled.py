"""Leveled compaction (operators/compaction.py LCS half): key-range
probing, planner policy (L0 threshold, level budgets, overlap
selection), in-place task execution, content preservation under full
quiescence, level invariants, and crash-tolerant sidecar semantics."""

from __future__ import annotations

import os
import random

import pytest

from pyspark.sql import functions as F


def _write_gen(d, keys, gen, value=b"v", ts=None):
    from sstable_hadoop_spark.sources.codec import Cell, Row, write_sstable

    rows = [Row(k, [Cell(b"c", "NORMAL", value, ts or gen)])
            for k in sorted(keys)]
    write_sstable(str(d), "tbl", rows, generation=gen)


def _datafiles(d):
    return sorted(f for f in os.listdir(d) if f.endswith("-Data.db"))


def test_file_key_range(tmp_path):
    from sstable_hadoop_spark.operators.compaction import file_key_range

    keys = [f"k{i:04d}".encode() for i in range(300)]
    _write_gen(tmp_path, keys, 1)
    path = os.path.join(tmp_path, _datafiles(tmp_path)[0])
    assert file_key_range(path) == (b"k0000", b"k0299")


def test_pick_l0_threshold_and_overlap(tmp_path):
    from sstable_hadoop_spark.operators.compaction import (
        _write_levels,
        pick_leveled,
    )

    # three L0 files: below the threshold of 4 -> nothing due
    for g in (1, 2, 3):
        _write_gen(tmp_path, [b"a", b"m", b"z"], g)
    assert pick_leveled(str(tmp_path)) is None
    # a fourth L0 file trips the threshold; an L1 file overlapping the
    # L0 span joins the task, a disjoint L1 file does not
    _write_gen(tmp_path, [b"b", b"c"], 4)
    _write_gen(tmp_path, [b"m", b"n"], 5)           # overlaps a..z
    _write_gen(tmp_path, [b"zz", b"zzz"], 6)        # disjoint
    files = _datafiles(tmp_path)
    _write_levels(str(tmp_path), {files[4]: 1, files[5]: 1})
    task = pick_leveled(str(tmp_path))
    assert task["level"] == 0 and task["target_level"] == 1
    assert [os.path.basename(f) for f in task["sources"]] == files[:4]
    assert [os.path.basename(f)
            for f in task["overlapping"]] == [files[4]]


def test_l0_threshold_counts_flushes_not_files(tmp_path):
    """A flush writes one file per reducer, all of one generation:
    three flushes of two files each are three L0 entries, not six."""
    from sstable_hadoop_spark.operators.compaction import pick_leveled
    from sstable_hadoop_spark.sources.codec import Cell, Row, write_sstable

    for g in (1, 2, 3):
        for part, keys in (("p0", [b"a", b"m"]), ("p1", [b"b", b"z"])):
            write_sstable(str(tmp_path), f"flush{part}", [
                Row(k, [Cell(b"c", "NORMAL", b"v", g)]) for k in keys],
                generation=g)
    assert len(_datafiles(tmp_path)) == 6
    assert pick_leveled(str(tmp_path)) is None
    assert pick_leveled(str(tmp_path), l0_threshold=3)["level"] == 0


def test_pick_level_budget_victim_is_smallest_first_key(tmp_path):
    from sstable_hadoop_spark.operators.compaction import (
        _write_levels,
        pick_leveled,
    )

    _write_gen(tmp_path, [b"a", b"b"], 1)
    _write_gen(tmp_path, [b"x", b"y"], 2)
    _write_gen(tmp_path, [b"b", b"c"], 3)    # L2, overlaps gen1 span
    files = _datafiles(tmp_path)
    _write_levels(str(tmp_path),
                  {files[0]: 1, files[1]: 1, files[2]: 2})
    # tiny budget: L1 is over; victim must be gen1 (first key 'a')
    task = pick_leveled(str(tmp_path), sstable_mb=1e-9)
    assert task["level"] == 1 and task["target_level"] == 2
    assert [os.path.basename(f) for f in task["sources"]] == [files[0]]
    assert [os.path.basename(f)
            for f in task["overlapping"]] == [files[2]]


def test_compact_to_quiescence_preserves_content(spark, tmp_path):
    from sstable_hadoop_spark.operators.compaction import (
        compact_leveled,
        pick_leveled,
        read_levels,
    )
    from sstable_hadoop_spark.operators.lww import explode_cells, lww_cell
    from sstable_hadoop_spark.sources.datasource import register

    register(spark)
    # 5 overlapping L0 generations with conflicting writes: the later
    # generation must win after the tree is reorganized
    for g in range(1, 6):
        _write_gen(tmp_path, [f"k{i:03d}".encode()
                              for i in range(g, 60 + g)], g,
                   value=f"v{g}".encode())
    before = lww_cell(explode_cells(
        spark.read.format("sstable").load(str(tmp_path)))) \
        .select("key", "name", "data", "timestamp").collect()
    n = compact_leveled(spark, str(tmp_path), sstable_mb=0.001,
                        l0_threshold=4, max_rounds=30)
    assert n >= 1
    assert pick_leveled(str(tmp_path), sstable_mb=0.001) is None
    after_df = spark.read.format("sstable").load(str(tmp_path))
    after = lww_cell(explode_cells(after_df)) \
        .select("key", "name", "data", "timestamp").collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, before))
    # every surviving file is registered at a level >= 1 or is L0
    levels = read_levels(str(tmp_path))
    for f in _datafiles(tmp_path):
        assert levels.get(f, 0) >= 0


def test_levels_are_nonoverlapping_after_quiescence(spark, tmp_path):
    from sstable_hadoop_spark.operators.compaction import compact_leveled
    from sstable_hadoop_spark.sources.datasource import register

    register(spark)
    for g in range(1, 6):
        _write_gen(tmp_path, [f"k{i:03d}".encode()
                              for i in range(0, 80, g)], g)
    compact_leveled(spark, str(tmp_path), sstable_mb=0.001,
                    l0_threshold=4, max_rounds=30,
                    target_partitions=3)
    _assert_levels_disjoint(tmp_path)


def _assert_levels_disjoint(d) -> dict[int, list]:
    """Assert no two files of one level >= 1 overlap in key range;
    returns the sorted key ranges of each level."""
    from sstable_hadoop_spark.operators.compaction import (
        file_key_range,
        read_levels,
    )

    levels = read_levels(str(d))
    by_level: dict[int, list] = {}
    for f in _datafiles(d):
        by_level.setdefault(levels.get(f, 0), []).append(
            file_key_range(os.path.join(d, f)))
    for lv, ranges in by_level.items():
        ranges.sort()
        if lv == 0:
            continue
        for (lo_a, hi_a), (lo_b, hi_b) in zip(ranges, ranges[1:]):
            assert hi_a < lo_b, f"level {lv} files overlap"
    return by_level


def test_leveled_output_is_range_disjoint_by_default(spark, tmp_path):
    """Without ``target_partitions`` a merge of a few MiB, which AQE
    spreads over several reducers, still lands as range-disjoint files:
    one per ``sstable_mb`` of consumed input."""
    from sstable_hadoop_spark.operators.compaction import (
        compact_leveled,
        pick_leveled,
    )
    from sstable_hadoop_spark.operators.lww import explode_cells, lww_cell
    from sstable_hadoop_spark.sources.datasource import register

    from sstable_hadoop_spark.sources.codec import Cell, Row, write_sstable

    register(spark)
    rnd = random.Random(7)  # incompressible values: shuffle bytes ~ data
    for g in range(1, 5):
        write_sstable(str(tmp_path), "tbl", [
            Row(f"k{i:06d}".encode(),
                [Cell(b"c", "NORMAL", rnd.randbytes(200), g)])
            for i in range(g, 12000, 2)], generation=g)
    in_bytes = sum(os.path.getsize(os.path.join(tmp_path, f))
                   for f in _datafiles(tmp_path))
    assert in_bytes > 4 * 1024 * 1024
    want = sorted(tuple(r) for r in lww_cell(explode_cells(
        spark.read.format("sstable").load(str(tmp_path))))
        .select("key", "data").collect())
    assert compact_leveled(spark, str(tmp_path), sstable_mb=1.0) == 1
    assert pick_leveled(str(tmp_path), sstable_mb=1.0) is None
    by_level = _assert_levels_disjoint(tmp_path)
    assert list(by_level) == [1]
    assert len(by_level[1]) == -(-in_bytes // (1024 * 1024))
    got = sorted(tuple(r) for r in lww_cell(explode_cells(
        spark.read.format("sstable").load(str(tmp_path))))
        .select("key", "data").collect())
    assert got == want


def test_lost_sidecar_degrades_to_releveling_not_wrong_reads(
        spark, tmp_path):
    from sstable_hadoop_spark.operators.compaction import (
        _LEVELS_SIDECAR,
        compact_leveled,
        read_levels,
    )
    from sstable_hadoop_spark.operators.lww import explode_cells, lww_cell
    from sstable_hadoop_spark.sources.datasource import register

    register(spark)
    for g in range(1, 6):
        _write_gen(tmp_path, [f"k{i:03d}".encode()
                              for i in range(40)], g,
                   value=f"v{g}".encode())
    compact_leveled(spark, str(tmp_path), sstable_mb=0.001,
                    l0_threshold=4)
    truth = sorted(
        tuple(r) for r in lww_cell(explode_cells(
            spark.read.format("sstable").load(str(tmp_path))))
        .select("key", "data").collect())
    os.remove(os.path.join(tmp_path, _LEVELS_SIDECAR))
    assert read_levels(str(tmp_path)) == {}
    # reads are level-blind: identical content with the sidecar gone
    again = sorted(
        tuple(r) for r in lww_cell(explode_cells(
            spark.read.format("sstable").load(str(tmp_path))))
        .select("key", "data").collect())
    assert again == truth


def test_quiesce_bound_raises(spark, tmp_path):
    from sstable_hadoop_spark.operators.compaction import compact_leveled
    from sstable_hadoop_spark.sources.datasource import register

    register(spark)
    for g in range(1, 6):
        _write_gen(tmp_path, [b"a", b"b"], g)
    with pytest.raises(RuntimeError, match="did not quiesce"):
        compact_leveled(spark, str(tmp_path), sstable_mb=0.001,
                        l0_threshold=4, max_rounds=0)


def test_streaming_lsm_flush_leveled(spark, tmp_path):
    """The full LSM write path (streaming/compaction.py
    flush_stream_to_leveled): 4 micro-batches flush L0 generations
    and inline LCS reorganizes the tree mid-stream; the drained
    directory's merge must equal the batch LWW of everything
    ingested, and at least one compaction must actually have run."""
    import os

    from sstable_hadoop_spark.operators.compaction import read_levels
    from sstable_hadoop_spark.operators.lww import explode_cells, lww_cell
    from sstable_hadoop_spark.queries import derived_cells
    from sstable_hadoop_spark.sources.datasource import register
    from sstable_hadoop_spark.streaming.compaction import (
        flush_stream_to_leveled,
    )

    register(spark)
    cells = derived_cells(spark, "/root/testdata/sf0.001")
    src = str(tmp_path / "src")
    for g in (1, 2, 3, 4):
        p = os.path.join(src, f"g{g}")
        cells.filter(F.col("generation") == g).coalesce(1) \
             .write.parquet(p)
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (g * 1000, g * 1000))
    out = str(tmp_path / "tree")
    os.makedirs(out)
    stream = (spark.readStream.schema(cells.schema)
              .option("maxFilesPerTrigger", "1")
              .parquet(os.path.join(src, "g*")))
    q = flush_stream_to_leveled(stream, out, str(tmp_path / "ckpt"),
                                l0_threshold=3)
    try:
        q.awaitTermination()
    finally:
        q.stop()
    levels = read_levels(out)
    assert levels and max(levels.values()) >= 1  # LCS really ran
    got = sorted(
        tuple(r) for r in
        lww_cell(explode_cells(
            spark.read.format("sstable").load(out)))
        .select("key", "name", "state", "data", "timestamp").collect())
    want = sorted(tuple(r) for r in lww_cell(cells)
                  .select("key", "name", "state", "data",
                          "timestamp").collect())
    assert got == want


def test_streaming_leveled_levels_disjoint_at_mib_scale(spark, tmp_path):
    """``flush_stream_to_leveled`` on overlapping micro-batches of a few
    MiB, which AQE spreads over several reducers: the compacted levels
    stay range-disjoint and hold the merged content of everything
    ingested."""
    from sstable_hadoop_spark.operators.compaction import read_levels
    from sstable_hadoop_spark.operators.lww import explode_cells, lww_cell
    from sstable_hadoop_spark.sources.datasource import register
    from sstable_hadoop_spark.streaming.compaction import (
        flush_stream_to_leveled,
    )

    register(spark)
    src = str(tmp_path / "src")
    for g in (1, 2, 3):
        p = os.path.join(src, f"g{g}")
        (spark.range(2000 * g, 16000 + 2000 * g)
         .select(F.format_string("k%06d", "id").cast("binary")
                 .alias("key"),
                 F.lit(b"c").alias("name"), F.lit("NORMAL").alias("state"),
                 F.unhex(F.concat(*[  # incompressible, 192 B
                     F.sha2(F.format_string(f"%d-{g}-{i}", "id"), 512)
                     for i in range(3)])).alias("data"),
                 F.lit(g).cast("long").alias("timestamp"),
                 F.lit(None).cast("long").alias("ttl"),
                 F.lit(None).cast("long").alias("expiration"),
                 F.lit(g).cast("int").alias("generation"))
         .coalesce(1).write.parquet(p))
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (g * 1000, g * 1000))
    cells = spark.read.parquet(os.path.join(src, "g*"))
    out = str(tmp_path / "tree")
    os.makedirs(out)
    stream = (spark.readStream.schema(cells.schema)
              .option("maxFilesPerTrigger", "1")
              .parquet(os.path.join(src, "g*")))
    q = flush_stream_to_leveled(stream, out, str(tmp_path / "ckpt"),
                                l0_threshold=3, sstable_mb=1.0)
    try:
        q.awaitTermination()
    finally:
        q.stop()
    levels = read_levels(out)
    assert set(levels.values()) == {1}  # the third flush compacted L0
    by_level = _assert_levels_disjoint(out)
    assert list(by_level) == [1] and len(by_level[1]) > 1
    cols = ["key", "name", "state", "data", "timestamp"]
    got = lww_cell(explode_cells(
        spark.read.format("sstable").load(out))).select(*cols)
    want = lww_cell(cells).select(*cols)
    assert got.count() == want.count() == 20000
    assert got.exceptAll(want).count() == 0
