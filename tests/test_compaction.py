"""Compaction (operators/compaction.py): STCS bucketing, major and
bucket compaction against batch LWW, and the single-query plan — the
output generation comes from the input file names, so no pre-scan
runs."""

from __future__ import annotations

import os


def _last_execution_id(spark) -> int:
    """Id of the newest SQL execution the status store has seen, after
    draining the listener bus.  Ids are allocated consecutively, so the
    difference of two readings counts the executions started between
    them, even once old entries age out of the store."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    if n == 0:
        return -1
    return store.executionsList(n - 1, 1).head().executionId()


def _last_final_plan(spark) -> str:
    """The final (post-AQE) physical plan of the newest SQL execution."""
    store = spark._jsparkSession.sharedState().statusStore()
    desc = store.execution(_last_execution_id(spark)).get() \
        .physicalPlanDescription()
    return desc.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]


def _write_gen(d, gen, keys, ts):
    from sstable_hadoop_spark.sources.codec import Cell, Row, write_sstable

    write_sstable(str(d), "ks-cf",
                  [Row(k, [Cell(b"c", "NORMAL", b"v%d" % gen, ts)])
                   for k in sorted(keys)], generation=gen)


def test_size_tiered_bucketing(tmp_path):
    """STCS semantics on a synthetic size distribution: similar-size
    files bucket together, buckets below min_threshold are not due,
    smallest-average bucket comes first."""
    from sstable_hadoop_spark.operators.compaction import pick_size_tiered

    sizes = {  # 4 small ~1 KiB, 4 big ~1 MiB, 1 outlier
        1: 1000, 2: 1100, 3: 950, 4: 1050,
        5: 1_000_000, 6: 1_050_000, 7: 980_000, 8: 1_020_000,
        9: 50_000_000,
    }
    for g, n in sizes.items():
        (tmp_path / f"ks-cf-{g}-Data.db").write_bytes(b"\0" * n)

    buckets = pick_size_tiered(str(tmp_path), min_threshold=4)
    assert len(buckets) == 2  # outlier bucket has 1 file → not due
    small, big = buckets  # smallest average first
    assert {int(p.rsplit("-", 2)[-2]) for p in small} == {1, 2, 3, 4}
    assert {int(p.rsplit("-", 2)[-2]) for p in big} == {5, 6, 7, 8}
    # raising the threshold empties the due list
    assert pick_size_tiered(str(tmp_path), min_threshold=5) == []


def test_compact_files_merges_only_the_bucket(spark, sstable_dir,
                                              tmp_path):
    """Incremental STCS compaction: compacting an explicit generation
    subset equals batch lww_cell over just those files."""
    import glob

    from sstable_hadoop_spark.operators import explode_cells, lww_cell
    from sstable_hadoop_spark.operators.compaction import compact_files

    files = sorted(glob.glob(str(tmp_path / "nothing")) + [
        f for f in glob.glob(sstable_dir + "/*-Data.db")
        if f.endswith(("-1-Data.db", "-2-Data.db"))])
    assert len(files) == 2
    want = {(bytes(r["key"]), bytes(r["name"]), r["state"], r["timestamp"])
            for r in lww_cell(explode_cells(
                spark.read.format("sstable").load(sstable_dir)
                .filter("generation <= 2"))).collect()}

    out = str(tmp_path / "tiered")
    compact_files(spark, files, out, generation=7)
    back = explode_cells(spark.read.format("sstable").load(out))
    got = {(bytes(r["key"]), bytes(r["name"]), r["state"], r["timestamp"])
           for r in back.collect()}
    assert got == want
    gens = {r["generation"] for r in back.select("generation")
            .distinct().collect()}
    assert gens == {7}


def test_compaction_roundtrip_and_gc(spark, sstable_dir, tmp_path):
    """Major compaction: merged output dir scans back to exactly the
    pre-compaction winners; GC purges old tombstones + expired cells
    but retains newer tombstones."""
    from tests.conftest import AS_OF_MS

    from sstable_hadoop_spark.operators import explode_cells, lww_cell
    from sstable_hadoop_spark.operators.compaction import compact

    cells = explode_cells(spark.read.format("sstable").load(sstable_dir))
    want = {(bytes(r["key"]), bytes(r["name"]), r["state"], r["timestamp"])
            for r in lww_cell(cells).collect()}

    out = str(tmp_path / "compacted")
    compact(spark, sstable_dir, out)
    back = explode_cells(spark.read.format("sstable").load(out))
    got = {(bytes(r["key"]), bytes(r["name"]), r["state"], r["timestamp"])
           for r in back.collect()}
    assert got == want
    # single generation, newer than all inputs
    gens = {r["generation"] for r in back.select("generation").distinct().collect()}
    assert gens == {5}

    # GC: purge everything tombstoned/expired before AS_OF
    out2 = str(tmp_path / "compacted_gc")
    compact(spark, sstable_dir, out2, gc_before_ms=AS_OF_MS)
    back2 = explode_cells(spark.read.format("sstable").load(out2))
    rows2 = back2.collect()
    # every fixture timestamp predates AS_OF → no tombstones survive GC
    assert all(r["state"] != "DELETED" for r in rows2)
    assert all(r["expiration"] is None or r["expiration"] > AS_OF_MS
               for r in rows2)
    # and GC only ever removes rows, never changes surviving winners
    got2 = {(bytes(r["key"]), bytes(r["name"]), r["state"], r["timestamp"])
            for r in rows2}
    assert got2 <= want


def test_compact_and_compact_files_run_one_sql_execution(spark, tmp_path):
    """Choosing the default output generation costs no Spark job: each
    call is exactly one SQL execution (the write)."""
    from sstable_hadoop_spark.operators.compaction import (
        compact,
        compact_files,
    )

    src = tmp_path / "src"
    for gen in (1, 2, 3):
        _write_gen(src, gen, [b"a%d" % i for i in range(gen, 20)], gen)
    before = _last_execution_id(spark)
    compact(spark, str(src), str(tmp_path / "major"))
    assert _last_execution_id(spark) - before == 1

    files = sorted(str(src / f) for f in os.listdir(src)
                   if f.endswith(("-1-Data.db", "-2-Data.db")))
    before = _last_execution_id(spark)
    compact_files(spark, files, str(tmp_path / "bucket"))
    assert _last_execution_id(spark) - before == 1


def test_default_generation_comes_from_file_names(spark, tmp_path):
    """An input generation with zero rows still counts: the output is
    max(file generation) + 1, one past every input."""
    from sstable_hadoop_spark.operators.compaction import (
        compact,
        compact_files,
    )
    from sstable_hadoop_spark.sources.codec import generation_of

    src = tmp_path / "src"
    _write_gen(src, 1, [b"a", b"b"], 10)
    _write_gen(src, 2, [b"b", b"c"], 20)
    _write_gen(src, 5, [], 0)  # an empty generation: a Data.db, no rows
    assert spark.read.format("sstable").load(str(src)) \
        .filter("generation = 5").count() == 0

    def out_gens(out):
        return {generation_of(f) for f in os.listdir(out)
                if f.endswith("-Data.db")}

    compact(spark, str(src), str(tmp_path / "major"))
    assert out_gens(tmp_path / "major") == {6}
    back = spark.read.format("sstable").load(str(tmp_path / "major"))
    assert {(bytes(r["key"]), r["generation"]) for r in back.collect()} \
        == {(b"a", 6), (b"b", 6), (b"c", 6)}

    # compact_files looks only at the files it is given
    two = sorted(str(src / f) for f in os.listdir(src)
                 if f.endswith(("-1-Data.db", "-2-Data.db")))
    compact_files(spark, two, str(tmp_path / "bucket"))
    assert out_gens(tmp_path / "bucket") == {3}


def test_target_partitions_adds_no_regroup_shuffle(spark, tmp_path):
    """With ``target_partitions`` the winners are range-partitioned by
    key BEFORE the (key, generation) regroup, which that partitioning
    already clusters: two shuffles (merge, range), not three.  Without
    it the plan keeps its merge and regroup shuffles."""
    from sstable_hadoop_spark.operators.compaction import compact

    src = tmp_path / "src"
    for gen in (1, 2, 3):
        _write_gen(src, gen, [b"k%04d" % k for k in range(0, 300, gen)],
                   gen)
    out = tmp_path / "ranged"
    compact(spark, str(src), str(out), target_partitions=3)
    plan = _last_final_plan(spark)
    assert plan.count("Exchange (") == 2, plan
    assert len([f for f in os.listdir(out)
                if f.endswith("-Data.db")]) == 3
    assert spark.read.format("sstable").load(str(out)).count() == 300
    compact(spark, str(src), str(tmp_path / "plain"))
    assert _last_final_plan(spark).count("Exchange (") == 2
