"""Transaction-log bucketed tables (operators/txlog.py): commit
protocol, optimistic concurrency, snapshot isolation, time travel,
crash orphans, vacuum, and the threaded-writers race."""

from __future__ import annotations

import json
import os
import tempfile

import pytest

from pyspark.sql import functions as F


def _mk(spark, lo, hi, v):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.lit(v).alias("v"))


def _merge(stored, delta):
    return (stored.unionByName(delta)
            .groupBy("k").agg(F.max("v").alias("v")))


@pytest.fixture()
def tpath(tmp_path):
    return str(tmp_path / "t")


def _content(spark, path, version=None):
    from sstable_hadoop_spark.operators.txlog import txlog_read

    return sorted(tuple(r) for r in
                  txlog_read(spark, path, version).collect())


def test_create_upsert_travel_vacuum(spark, tpath):
    from sstable_hadoop_spark.operators import txlog as tx

    assert tx.txlog_create(spark, tpath, _mk(spark, 0, 60, 1),
                           ("k",), 4) == 1
    with pytest.raises(FileExistsError):
        tx.txlog_create(spark, tpath, _mk(spark, 0, 1, 1), ("k",), 4)
    v1 = _content(spark, tpath)
    ver, buckets = tx.txlog_upsert(spark, tpath, _mk(spark, 30, 90, 2),
                                   _merge, ("k",), 4)
    assert ver == 2 and buckets == [0, 1, 2, 3]
    # head = max-merge of both generations; v1 unchanged (isolation)
    exp = [(k, 1) for k in range(30)] + [(k, 2) for k in range(30, 90)]
    assert _content(spark, tpath) == sorted(exp)
    assert _content(spark, tpath, version=1) == v1
    # vacuum with a grace period keeps v1 readable; age-0 reclaims it
    assert tx.txlog_vacuum(tpath, retain_versions=1,
                           min_age_sec=0) == []
    assert _content(spark, tpath, version=1) == v1
    gone = tx.txlog_vacuum(tpath, retain_versions=0, min_age_sec=0)
    assert gone  # the replaced create-time files
    assert _content(spark, tpath) == sorted(exp)
    # post-vacuum the DIRECTORY equals the head file set (the zero-
    # exchange catalog-read story)
    from sstable_hadoop_spark.operators.layout import bucket_files

    snap = tx.txlog_snapshot(tpath)
    assert sorted(os.path.basename(f)
                  for fl in bucket_files(tpath).values()
                  for f in fl) == sorted(snap["files"])


def test_upsert_touches_only_affected_buckets(spark, tpath):
    from sstable_hadoop_spark.operators import txlog as tx
    from sstable_hadoop_spark.operators.layout import bucket_id

    tx.txlog_create(spark, tpath, _mk(spark, 0, 200, 1), ("k",), 8)
    delta = _mk(spark, 0, 200, 2).filter(
        bucket_id(8, "k") == 3)  # single-bucket delta
    ver, buckets = tx.txlog_upsert(spark, tpath, delta, _merge,
                                   ("k",), 8)
    assert buckets == [3]
    c = tx._read_commit(tpath, ver)
    assert c["buckets"] == [3]
    assert all(b == 3 for _, b in c["adds"])
    # removes are exactly the bucket-3 files of the create commit
    base = tx._read_commit(tpath, 1)
    assert sorted(c["removes"]) == sorted(
        n for n, b in base["adds"] if b == 3)


def test_deterministic_conflict_and_rebase(spark, tpath):
    """Interleave two writers by hand: B commits between A's snapshot
    and A's commit attempt.  Overlapping buckets → A must redo the
    merge (or _try_commit says conflict); disjoint buckets → A
    rebases onto B's head without re-merging."""
    from sstable_hadoop_spark.operators import txlog as tx
    from sstable_hadoop_spark.operators.layout import bucket_id

    tx.txlog_create(spark, tpath, _mk(spark, 0, 200, 1), ("k",), 8)
    in3 = bucket_id(8, "k") == 3
    in5 = bucket_id(8, "k") == 5

    # --- disjoint: A snapshots, B lands bucket-5, A commits bucket-3
    snap_a = tx.txlog_snapshot(tpath)
    tx.txlog_upsert(spark, tpath, _mk(spark, 0, 200, 2).filter(in5),
                    _merge, ("k",), 8)  # B → version 2
    adds = tx._stage_bucket_files(
        _mk(spark, 0, 200, 3).filter(in3), tpath, ("k",), 8, (),
        allowed={3})
    won = tx._try_commit(tpath, snap_a,
                         {"op": "upsert", "writer": "A",
                          "buckets": [3], "adds": adds,
                          "removes": [n for n, b in
                                      snap_a["files"].items()
                                      if b == 3]})
    assert won == 3  # rebased over B, no conflict
    rec = tx._read_commit(tpath, 3)
    assert rec["base_version"] == snap_a["version"] == 1

    # --- overlap: A snapshots, B lands bucket-3 again, A conflicts
    snap_a = tx.txlog_snapshot(tpath)
    tx.txlog_upsert(spark, tpath, _mk(spark, 0, 200, 4).filter(in3),
                    _merge, ("k",), 8)  # B → version 4
    won = tx._try_commit(tpath, snap_a,
                         {"op": "upsert", "writer": "A",
                          "buckets": [3], "adds": [],
                          "removes": []})
    assert won == "conflict"
    # the public API retries internally and lands correctly
    ver, _ = tx.txlog_upsert(spark, tpath,
                             _mk(spark, 0, 200, 5).filter(in3),
                             _merge, ("k",), 8)
    assert ver == 5
    head = dict(_content(spark, tpath))
    # bucket-3 keys saw 1→3→4→5 (max=5), bucket-5 keys 1→2, rest 1
    rows = spark.createDataFrame([(k, v) for k, v in head.items()],
                                 "k long, v int")
    chk = rows.select("k", "v", bucket_id(8, "k").alias("b")).collect()
    for r in chk:
        exp = 5 if r["b"] == 3 else (2 if r["b"] == 5 else 1)
        assert r["v"] == exp, (r["k"], r["b"], r["v"], exp)


def test_crash_orphan_invisible_and_vacuumed(spark, tpath):
    """A writer that stages files and dies before commit leaves only
    unreferenced files: reads never see them, vacuum reclaims them
    after the grace period (and not before)."""
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk(spark, 0, 50, 1), ("k",), 4)
    before = _content(spark, tpath)
    # simulate the crash: stage, never commit
    orphans = tx._stage_bucket_files(_mk(spark, 0, 50, 9), tpath,
                                     ("k",), 4, (),
                                     allowed={0, 1, 2, 3})
    assert orphans
    assert _content(spark, tpath) == before  # invisible
    assert tx.txlog_vacuum(tpath, min_age_sec=3600) == []  # grace
    gone = tx.txlog_vacuum(tpath, min_age_sec=0)
    assert sorted(n for n, _ in orphans) == gone
    assert _content(spark, tpath) == before


def test_torn_final_commit_write_is_unreadable_but_recoverable(
        spark, tpath):
    """A torn COMMIT file (crash mid-create on a store without O_EXCL
    atomicity) must fail loudly on read, and removing it restores the
    table — the log never silently skips a torn head."""
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk(spark, 0, 50, 1), ("k",), 4)
    torn = tx._commit_path(tpath, 2)
    with open(torn, "w") as f:
        f.write('{"version": 2, "adds": [["x", 0')  # torn json
    with pytest.raises(json.JSONDecodeError):
        tx.txlog_snapshot(tpath)
    os.remove(torn)
    assert tx.txlog_snapshot(tpath)["version"] == 1


def test_checkpoint_bounds_replay(spark, tpath):
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk(spark, 0, 40, 1), ("k",), 2)
    for i in range(2, tx.CHECKPOINT_EVERY + 3):
        tx.txlog_upsert(spark, tpath, _mk(spark, 0, 40, i), _merge,
                        ("k",), 2)
    _, checkpoints = tx._list_log(tpath)
    assert checkpoints == [tx.CHECKPOINT_EVERY]
    cp = json.loads(open(tx._checkpoint_path(
        tpath, tx.CHECKPOINT_EVERY)).read())
    # checkpoint live set == snapshot computed by replaying commits
    assert dict(cp["files"]) == tx.txlog_snapshot(
        tpath, tx.CHECKPOINT_EVERY)["files"]
    head = tx.txlog_snapshot(tpath)
    assert head["version"] == tx.CHECKPOINT_EVERY + 2
    assert _content(spark, tpath) == [
        (k, tx.CHECKPOINT_EVERY + 2) for k in range(40)]


def test_threaded_writers_race(spark, tpath):
    """8 concurrent threads × distinct value each, same key space:
    every commit must land (8 versions), and the head must equal the
    max-merge of all deltas — lost updates impossible."""
    import threading

    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk(spark, 0, 64, 0), ("k",), 4)
    errs = []

    def writer(v):
        try:
            tx.txlog_upsert(spark, tpath, _mk(spark, 0, 64, v),
                            _merge, ("k",), 4, max_retries=50)
        except Exception as e:  # noqa: BLE001
            errs.append((v, e))

    threads = [threading.Thread(target=writer, args=(v,))
               for v in range(1, 9)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errs == []
    assert tx.txlog_snapshot(tpath)["version"] == 9
    assert _content(spark, tpath) == [(k, 8) for k in range(64)]
    ops = [h["op"] for h in tx.txlog_history(tpath)]
    assert ops == ["create"] + ["upsert"] * 8


def test_compact_preserves_content(spark, tpath):
    """OPTIMIZE: after several upserts fragment the buckets, compact
    rewrites each to one file as a data-identical commit; a second
    compact is a no-op; vacuum then leaves one file per bucket."""
    from sstable_hadoop_spark.operators import txlog as tx

    # many write tasks × few buckets → multiple files per bucket (the
    # create is the fragmenting writer; upserts REWRITE their buckets,
    # so they come out compact by construction)
    tx.txlog_create(spark, tpath,
                    _mk(spark, 0, 80, 1).repartition(6), ("k",), 4)
    before = _content(spark, tpath)
    snap = tx.txlog_snapshot(tpath)
    per = {}
    for _, b in snap["files"].items():
        per[b] = per.get(b, 0) + 1
    frag = sorted(b for b, c in per.items() if c >= 2)
    assert frag  # genuinely fragmented
    ver, buckets = tx.txlog_compact(spark, tpath)
    assert ver == 2 and buckets == frag
    assert _content(spark, tpath) == before
    after = tx.txlog_snapshot(tpath)
    per2 = {}
    for _, b in after["files"].items():
        per2[b] = per2.get(b, 0) + 1
    assert all(c == 1 for c in per2.values())
    assert tx.txlog_compact(spark, tpath) == (None, [])  # idempotent
    tx.txlog_vacuum(tpath, min_age_sec=0)
    assert _content(spark, tpath) == before


def test_diff_change_feed(spark, tpath):
    """txlog_diff: inserts, updates (delete+insert pair) and the
    O(touched-buckets) property — a version window touching one
    bucket never reads the other buckets' files."""
    from sstable_hadoop_spark.operators import txlog as tx
    from sstable_hadoop_spark.operators.layout import bucket_id

    tx.txlog_create(spark, tpath, _mk(spark, 0, 40, 1), ("k",), 4)
    in2 = bucket_id(4, "k") == 2
    tx.txlog_upsert(spark, tpath,
                    _mk(spark, 0, 60, 2).filter(in2), _merge,
                    ("k",), 4)  # v2: updates + inserts in bucket 2
    d = tx.txlog_diff(spark, tpath, 1).collect()
    ins = {(r["k"], r["v"]) for r in d if r["_change"] == "insert"}
    dels = {(r["k"], r["v"]) for r in d if r["_change"] == "delete"}
    b2 = {r["k"] for r in _mk(spark, 0, 60, 0).filter(in2)
          .select("k").collect()}
    assert ins == {(k, 2) for k in b2}
    assert dels == {(k, 1) for k in b2 if k < 40}  # updates' old rows
    # degenerate window: no commits → empty diff
    assert tx.txlog_diff(spark, tpath, 2, 2).count() == 0
    with pytest.raises(ValueError, match="window"):
        tx.txlog_diff(spark, tpath, 0)
    # scale property: only bucket-2 files enter the plan
    plan = tx.txlog_diff(spark, tpath, 1)._jdf.queryExecution() \
        .executedPlan().toString()
    snap = tx.txlog_snapshot(tpath)
    for n, b in snap["files"].items():
        if b != 2:
            assert n not in plan


def test_range_read_prunes_files(spark, tpath):
    """Data skipping: the commit-journaled footer min/max lets a
    range probe read only overlapping files — correctness equals the
    full-scan filter, and the plan excludes non-overlapping files."""
    from sstable_hadoop_spark.operators import txlog as tx

    # sort_by=k → each bucket file covers a k-range; 1000 keys over
    # 4 buckets, multiple files per bucket via repartition
    tx.txlog_create(spark, tpath,
                    _mk(spark, 0, 1000, 1).repartition(8),
                    ("k",), 4, sort_by=("k",))
    snap = tx.txlog_snapshot(tpath)
    assert snap["stats_col"] == "k"
    assert snap["stats"] and set(snap["stats"]) <= set(snap["files"])
    for st in snap["stats"].values():
        assert st[2] == "num" and st[0] <= st[1]

    got = sorted(r["k"] for r in
                 tx.txlog_read_range(spark, tpath, 100, 120).collect())
    assert got == list(range(100, 121))
    # pruning: files whose [min,max] misses the range never enter
    plan = tx.txlog_read_range(spark, tpath, 100, 120) \
        ._jdf.queryExecution().executedPlan().toString()
    n_out = 0
    for n, st in snap["stats"].items():
        if st[1] < 100 or st[0] > 120:
            assert n not in plan
            n_out += 1
    assert n_out > 0  # the fixture really exercises pruning
    # an upsert refreshes stats for the rewritten buckets
    tx.txlog_upsert(spark, tpath, _mk(spark, 2000, 2050, 2), _merge,
                    ("k",), 4, sort_by=("k",))
    got2 = sorted(r["k"] for r in
                  tx.txlog_read_range(spark, tpath, 2000, 2100)
                  .collect())
    assert got2 == list(range(2000, 2050))
    # empty-overlap range: zero files read, empty result, no error
    assert tx.txlog_read_range(spark, tpath, 90000, 90001).count() == 0


def test_schema_evolution(spark, tpath):
    """merge_schema: a widening merge journals the new schema; old
    untouched buckets read under it with NULL fill; widening without
    the flag and column-dropping/retyping merges are refused."""
    from sstable_hadoop_spark.operators import txlog as tx
    from sstable_hadoop_spark.operators.layout import bucket_id

    tx.txlog_create(spark, tpath, _mk(spark, 0, 40, 1), ("k",), 4)

    def widen(stored, delta):
        return (stored.unionByName(delta, allowMissingColumns=True)
                .groupBy("k").agg(F.max("v").alias("v"),
                                  F.max("w").alias("w")))

    delta = _mk(spark, 0, 40, 2).filter(bucket_id(4, "k") == 1) \
        .withColumn("w", F.col("k") * 10)
    with pytest.raises(ValueError, match="merge_schema"):
        tx.txlog_upsert(spark, tpath, delta, widen, ("k",), 4)
    ver, buckets = tx.txlog_upsert(spark, tpath, delta, widen,
                                   ("k",), 4, merge_schema=True)
    assert buckets == [1]
    head = {r["k"]: (r["v"], r["w"]) for r in
            tx.txlog_read(spark, tpath).collect()}
    assert len(head) == 40
    b1 = {r["k"] for r in _mk(spark, 0, 40, 0)
          .filter(bucket_id(4, "k") == 1).collect()}
    for k, (v, w) in head.items():
        if k in b1:
            assert (v, w) == (2, k * 10)
        else:
            assert (v, w) == (1, None)   # old buckets: NULL fill
    # time travel BEFORE the evolution keeps the old schema
    assert tx.txlog_read(spark, tpath, version=1).columns == ["k", "v"]

    def retype(stored, delta):
        return stored.unionByName(
            delta.select("k", F.col("v").cast("string").alias("v"),
                         "w"),
            allowMissingColumns=True).groupBy("k").agg(
            F.max("v").cast("string").alias("v"), F.max("w").alias("w"))

    with pytest.raises(ValueError, match="preserve column"):
        tx.txlog_upsert(spark, tpath, delta, retype, ("k",), 4,
                        merge_schema=True)


def test_txlog_on_file_uri(spark, tmp_path):
    """The whole txlog lifecycle through a scheme'd file:// URI — the
    fs-portability claim: log listing, exclusive commit creation,
    staging copies, snapshot reads, vacuum all route through
    sources/fs.py."""
    from sstable_hadoop_spark.operators import txlog as tx

    path = "file://" + str(tmp_path / "t")
    tx.txlog_create(spark, path, _mk(spark, 0, 40, 1), ("k",), 4)
    ver, _ = tx.txlog_upsert(spark, path, _mk(spark, 20, 60, 2),
                             _merge, ("k",), 4)
    assert ver == 2
    exp = sorted([(k, 1) for k in range(20)]
                 + [(k, 2) for k in range(20, 60)])
    assert _content(spark, path) == exp
    assert tx.txlog_snapshot(path)["version"] == 2
    d = tx.txlog_diff(spark, path, 1)
    assert d.filter("_change = 'insert'").count() == 40
    # vacuum last — it reclaims v1's files, ending v1 readability
    gone = tx.txlog_vacuum(path, min_age_sec=0)
    assert gone and _content(spark, path) == exp


def test_delete_keys(spark, tpath):
    """txlog_delete: doomed keys gone, neighbors intact, affected
    buckets only, idempotent; missing bucket columns refused."""
    from sstable_hadoop_spark.operators import txlog as tx
    from sstable_hadoop_spark.operators.layout import bucket_id

    tx.txlog_create(spark, tpath, _mk(spark, 0, 60, 1), ("k",), 4)
    doomed = spark.range(0, 60, 5).select(F.col("id").alias("k"))
    ver, buckets = tx.txlog_delete(spark, tpath, doomed, ("k",), 4)
    exp = sorted((k, 1) for k in range(60) if k % 5)
    assert _content(spark, tpath) == exp
    # only buckets containing doomed keys were rewritten
    want_buckets = sorted(r[0] for r in doomed.select(
        bucket_id(4, "k").alias("b")).distinct().collect())
    assert buckets == want_buckets
    # idempotent re-delete
    v2, _ = tx.txlog_delete(spark, tpath, doomed, ("k",), 4)
    assert v2 == ver + 1 and _content(spark, tpath) == exp
    with pytest.raises(ValueError, match="bucket columns"):
        tx.txlog_delete(spark, tpath,
                        doomed.withColumnRenamed("k", "kk"),
                        ("k",), 4)


def test_restore_to_version(spark, tpath):
    """RESTORE: head becomes content-identical to the old version via
    an append-only commit; restoring past a vacuum fails loudly; a
    restore of the current content is a no-op."""
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk(spark, 0, 40, 1), ("k",), 4)
    v1 = _content(spark, tpath)
    files_v1 = set(tx.txlog_snapshot(tpath)["files"])
    tx.txlog_upsert(spark, tpath, _mk(spark, 0, 40, 2), _merge,
                    ("k",), 4)
    tx.txlog_upsert(spark, tpath, _mk(spark, 10, 20, 3), _merge,
                    ("k",), 4)
    assert _content(spark, tpath) != v1
    won = tx.txlog_restore(spark, tpath, 1)
    assert won == 4
    assert _content(spark, tpath) == v1
    # the restore re-references the version-1 files, rewriting none
    assert set(tx.txlog_snapshot(tpath)["files"]) == files_v1
    assert tx.txlog_history(tpath)[-1]["op"] == "restore"
    # restoring to the identical content is a version no-op
    assert tx.txlog_restore(spark, tpath, 4) == 4
    # after vacuum reclaims v2/v3 files, restore THERE fails loudly
    tx.txlog_vacuum(tpath, retain_versions=0, min_age_sec=0)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        tx.txlog_restore(spark, tpath, 3)
    assert _content(spark, tpath) == v1  # untouched by the failure


def test_adopt_existing_bucketed_table(spark, tpath):
    """Zero-copy adoption: an existing write_bucketed table becomes
    commit 1 with its files IN PLACE (no copies), upserts work on it
    afterwards, and a bucketing mismatch is refused."""
    from sstable_hadoop_spark.operators import txlog as tx
    from sstable_hadoop_spark.operators.layout import write_bucketed

    write_bucketed(_mk(spark, 0, 80, 1), tpath, "adopt_t",
                   bucket_by=("k",), n_buckets=4, sort_by=("k",))
    import glob

    files_before = sorted(glob.glob(os.path.join(tpath, "*.parquet")))
    with pytest.raises(ValueError, match="n_buckets"):
        tx.txlog_adopt(spark, tpath, ("k",), 2)
    assert tx.txlog_adopt(spark, tpath, ("k",), 4,
                          sort_by=("k",)) == 1
    assert sorted(glob.glob(os.path.join(tpath, "*.parquet"))) \
        == files_before  # nothing copied
    assert _content(spark, tpath) == [(k, 1) for k in range(80)]
    with pytest.raises(FileExistsError):
        tx.txlog_adopt(spark, tpath, ("k",), 4)
    snap = tx.txlog_snapshot(tpath)
    assert snap["stats_col"] == "k" and snap["stats"]
    # life continues under the log: upsert + range read
    tx.txlog_upsert(spark, tpath, _mk(spark, 70, 90, 2), _merge,
                    ("k",), 4, sort_by=("k",))
    assert dict(_content(spark, tpath))[75] == 2
    assert sorted(
        r["k"] for r in
        tx.txlog_read_range(spark, tpath, 10, 12).collect()) \
        == [10, 11, 12]


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_op = st.one_of(
    st.tuples(st.just("upsert"), st.integers(0, 19),
              st.integers(0, 19), st.integers(1, 9)),
    st.tuples(st.just("delete"), st.integers(0, 19),
              st.integers(0, 19)),
    st.tuples(st.just("compact")),
    st.tuples(st.just("restore")),
    st.tuples(st.just("merge"), st.integers(0, 19),
              st.integers(0, 19), st.integers(1, 9)),
    st.tuples(st.just("rebucket"), st.sampled_from([2, 4, 8])),
    st.tuples(st.just("dv_delete"), st.integers(0, 19),
              st.integers(0, 5)),
    st.tuples(st.just("zorder")),
    st.tuples(st.just("overwrite"), st.integers(1, 9)),
    st.tuples(st.just("rename")),
)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ops=st.lists(_op, min_size=1, max_size=5))
def test_txlog_model_based(spark, tmp_path, ops):
    """Model-based property: a random sequence of upserts (max-merge),
    deletes, compactions, restores, MERGE INTO (update+insert),
    rebuckets, DV deletes, z-order rewrites, full overwrites and
    value-column RENAMES against the txlog must track a plain dict
    model exactly — content after every commit, and time travel to
    any recorded version reproduces the model's history (under THAT
    version's schema: reads extract positionally, rename-agnostic).
    Bucketing changes under rebucket thread through every later
    writer's declaration."""
    import json as _json
    import uuid as _uuid

    from pyspark.sql.types import StructType as _ST

    from sstable_hadoop_spark.operators import txlog as tx

    path = str(tmp_path / f"m{_uuid.uuid4().hex[:8]}")
    tx.txlog_create(spark, path, _mk(spark, 0, 10, 0), ("k",), 2)
    model = {k: 0 for k in range(10)}
    history = {1: dict(model)}
    nb = 2  # current journaled bucket count (rebucket changes it)

    def vc():  # the value column's CURRENT logical name
        snap = tx.txlog_snapshot(path)
        return _ST.fromJson(
            _json.loads(snap["schema"])).fields[1].name

    def delta(lo, hi, v):
        d = _mk(spark, lo, hi, v)
        name = vc()
        return d if name == "v" else d.withColumnRenamed("v", name)

    def max_merge(stored, d):
        # rename-agnostic max-merge: the value column is whatever
        # the CURRENT schema calls it
        val = stored.columns[1]
        return (stored.unionByName(d)
                .groupBy("k").agg(F.max(val).alias(val)))

    def content():
        return dict((r[0], r[1]) for r in
                    tx.txlog_read(spark, path).collect())

    for op in ops:
        if op[0] == "upsert":
            lo, span, v = op[1], op[2], op[3]
            hi = lo + span + 1
            ver, _ = tx.txlog_upsert(
                spark, path, delta(lo, hi, v), max_merge, ("k",), nb)
            for k in range(lo, hi):
                model[k] = max(model.get(k, -1), v)
        elif op[0] == "delete":
            lo, span = op[1], op[2]
            hi = lo + span + 1
            doomed = spark.range(lo, hi).select(F.col("id").alias("k"))
            ver, _ = tx.txlog_delete(spark, path, doomed, ("k",), nb)
            for k in range(lo, hi):
                model.pop(k, None)
        elif op[0] == "compact":
            won, _ = tx.txlog_compact(spark, path)
            if won is None:
                continue
            ver = won
        elif op[0] == "merge":
            lo, span, v = op[1], op[2], op[3]
            hi = lo + span + 1
            ver, _ = tx.txlog_merge(
                spark, path, delta(lo, hi, v), ["k"], ("k",), nb)
            for k in range(lo, hi):
                model[k] = v  # update matched, insert unmatched
        elif op[0] == "dv_delete":
            lo, span = op[1], op[2]
            hi = lo + span + 1
            ver, n_new = tx.txlog_delete_rows(
                spark, path, F.col("k").between(lo, hi - 1))
            if n_new == 0:
                assert content() == model
                continue  # nothing matched: no commit to record
            for k in range(lo, hi):
                model.pop(k, None)
        elif op[0] == "zorder":
            won, _ = tx.txlog_zorder(spark, path, ("k", vc()),
                                     files_per_bucket=2, bits=4)
            if won is None:
                continue
            ver = won
        elif op[0] == "overwrite":
            v = op[1]
            ver = tx.txlog_overwrite(spark, path, delta(0, 8, v))
            model = {k: v for k in range(8)}
        elif op[0] == "rename":
            cur = vc()
            new = "w" if cur == "v" else "v"
            try:
                ver = tx.txlog_rename_column(path, cur, new)
            except ValueError:
                # the target name may be tombstoned/physically live
                # from an earlier era of this sequence — a refusal
                # must leave the table untouched
                assert content() == model
                continue
        elif op[0] == "rebucket":
            target_nb = op[1]
            ver = tx.txlog_rebucket(spark, path, target_nb)
            if target_nb == nb:  # no-op at the current layout
                assert content() == model
                continue
            nb = target_nb
        else:  # restore to the oldest recorded version
            target = min(history)
            ver = tx.txlog_restore(spark, path, target)
            model = dict(history[target])
            # a restore re-references old FILES but keeps the head
            # declaration only if the restored commit did not change
            # it; re-read the journaled layout either way
            nb = tx.txlog_snapshot(path)["n_buckets"]
            if ver in history:   # content-identical no-op restore
                assert content() == model
                continue
        history[ver] = dict(model)
        assert content() == model, (op, ver)
    # time travel reproduces every recorded version (positional
    # extraction: each version reads under its own schema/names)
    for v, snap_model in history.items():
        got = dict((r[0], r[1]) for r in
                   tx.txlog_read(spark, path, version=v).collect())
        assert got == snap_model, v


def test_txlog_health_report(spark, tpath):
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk(spark, 0, 40, 1), ("k",), 4)
    tx.txlog_upsert(spark, tpath, _mk(spark, 0, 40, 2), _merge,
                    ("k",), 4)
    rep = {r["bucket"]: r for r in
           tx.txlog_health(spark, tpath, 4).collect()}
    t = rep["_table"]
    assert "version=2" in t["note"] and "missing=0" in t["note"]
    # replaced create files are retained → unreferenced at head
    assert "unreferenced=0" not in t["note"]
    assert all(rep[str(b)]["n_files"] > 0 for b in range(4))
    assert t["n_files"] == sum(rep[str(b)]["n_files"] for b in range(4))
    # delete a referenced file out-of-band → DATA-LOSS flagged
    victim = next(iter(tx.txlog_snapshot(tpath)["files"]))
    os.remove(os.path.join(tpath, victim))
    note = {r["bucket"]: r["note"] for r in
            tx.txlog_health(spark, tpath, 4).collect()}["_table"]
    assert "DATA-LOSS" in note and victim in note


def test_commit_race_on_non_oexcl_store(tmp_path):
    """The object-store commit path: a scheme whose plain writes are
    NOT exclusive, with a registered conditional-PUT arbiter (the
    store's server-side if-absent create).  Six racing committers on
    disjoint buckets must each win a DISTINCT contiguous version —
    exactly one winner per version, no lost updates — proving the
    multi-writer guarantee does not rest on kernel O_EXCL."""
    import threading

    from pyarrow import fs as pafs

    from sstable_hadoop_spark.operators import txlog as tx
    from sstable_hadoop_spark.sources import fs

    root = tmp_path / "objstore"
    root.mkdir()
    fs.register_scheme("mem7", pafs.SubTreeFileSystem(
        str(root), pafs.LocalFileSystem()))
    server_lock = threading.Lock()

    def cond_put(path, data):
        with server_lock:  # a conditional PUT is atomic server-side
            if fs.exists(path):
                return False
            fs.write_bytes_atomic(path, data)
            return True

    fs.register_exclusive_writer("mem7", cond_put)
    table = "mem7://t"
    fs.makedirs(tx._log_dir(table))
    assert tx._try_commit(table, {"version": 0},
                          {"op": "create", "writer": "w0",
                           "buckets": [], "adds": [],
                           "removes": []}) == 1
    wins: dict[int, int] = {}
    barrier = threading.Barrier(6)

    def committer(i):
        barrier.wait()
        won = tx._try_commit(
            table, {"version": 1},
            {"op": "upsert", "writer": f"w{i}", "buckets": [i],
             "adds": [[f"f{i}.parquet", i]], "removes": []})
        wins[i] = won

    threads = [threading.Thread(target=committer, args=(i,))
               for i in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    # disjoint buckets: everyone eventually wins, versions contiguous
    assert sorted(wins.values()) == list(range(2, 8))
    for i, v in wins.items():
        assert tx._read_commit(table, v)["writer"] == f"w{i}"


def test_restore_conflicts_on_any_concurrent_commit(spark, tpath,
                                                    monkeypatch):
    """ADVICE r9: a commit landing between restore's diff computation
    and its commit must be a CONFLICT even on disjoint buckets —
    otherwise the interleaved rows survive the restore and the head
    is not content-identical to the target.  Inject such a commit and
    assert the retried restore erases it."""
    from sstable_hadoop_spark.operators import txlog as tx
    from sstable_hadoop_spark.operators.layout import bucket_id

    tx.txlog_create(spark, tpath, _mk(spark, 0, 40, 1), ("k",), 4)
    v1 = _content(spark, tpath)
    # v2 touches exactly one bucket (single key)
    tx.txlog_upsert(spark, tpath, _mk(spark, 0, 1, 2), _merge,
                    ("k",), 4)
    # pick a key hashing into a DIFFERENT bucket than k=0
    buckets = {r["k"]: r["b"] for r in
               _mk(spark, 0, 40, 0).select(
                   "k", bucket_id(4, "k").alias("b")).collect()}
    other = next(k for k in sorted(buckets) if buckets[k] != buckets[0])

    real = tx._try_commit
    state = {"injected": False}

    def inject(path, base, record, strict_base=False):
        if record.get("op") == "restore" and not state["injected"]:
            state["injected"] = True
            tx.txlog_upsert(spark, path,
                            _mk(spark, other, other + 1, 9), _merge,
                            ("k",), 4)
        return real(path, base, record, strict_base=strict_base)

    monkeypatch.setattr(tx, "_try_commit", inject)
    tx.txlog_restore(spark, tpath, 1)
    assert state["injected"]
    # head must be content-identical to v1: the injected (other, 9)
    # row must NOT survive (pre-fix, the disjoint rebase kept it)
    assert _content(spark, tpath) == v1


def test_compact_conflict_retries_are_bounded(spark, tpath,
                                              monkeypatch):
    """ADVICE r9: a compaction that keeps losing must raise
    TxConflictError after max_retries (bounded loop), not recurse
    without limit."""
    from sstable_hadoop_spark.operators import txlog as tx

    # many write tasks × few buckets → multiple files per bucket, so
    # compaction has work to do on every retry
    tx.txlog_create(spark, tpath, _mk(spark, 0, 80, 1).repartition(6),
                    ("k",), 4)
    calls = {"n": 0}
    real = tx._try_commit

    def always_lose(path, base, record, strict_base=False):
        if record.get("op") == "compact":
            calls["n"] += 1
            return "conflict"
        return real(path, base, record, strict_base=strict_base)

    monkeypatch.setattr(tx, "_try_commit", always_lose)
    with pytest.raises(tx.TxConflictError, match="compacting"):
        tx.txlog_compact(spark, tpath, max_retries=3)
    assert calls["n"] == 3
    # stale stages were tidied: head content still reads clean
    monkeypatch.setattr(tx, "_try_commit", real)
    assert _content(spark, tpath) == [(k, 1) for k in range(80)]


def test_crashed_writer_temp_is_invisible(spark, tpath):
    """A writer killed between temp-write and link leaves only a
    dot-prefixed ``.excl-`` temp in _txlog; snapshots and new commits
    must ignore it (no wedge, no JSONDecodeError)."""
    import os as _os

    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk(spark, 0, 40, 1), ("k",), 4)
    torn = _os.path.join(
        tx._log_dir(tpath),
        f".{2:020d}.json.excl-deadbeefcafe")
    with open(torn, "w") as f:
        f.write('{"version": 2, "adds": [["x", 0')  # torn, invisible
    assert tx.txlog_snapshot(tpath)["version"] == 1
    v, _ = tx.txlog_upsert(spark, tpath, _mk(spark, 0, 40, 2),
                           _merge, ("k",), 4)
    assert v == 2  # the temp never claimed the version
    assert _content(spark, tpath) == [(k, 2) for k in range(40)]


def test_incremental_rollup_matches_full(spark, tpath):
    """r10 CDC materialized view: txlog_incremental_rollup applies the
    change feed to a stored rollup and must equal the full recompute
    at head — across an update commit, a delete commit that empties
    groups, and a stale-by-two-versions base."""
    from sstable_hadoop_spark.operators import txlog as tx

    def mk(lo, hi, mult):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), (F.col("id") % 5).alias("g"),
            (F.col("id") * mult).alias("x"))

    def replace(stored, delta):
        return stored.join(delta, "k", "left_anti").unionByName(delta)

    tx.txlog_create(spark, tpath, mk(0, 60, 1), ("k",), 4)
    r1 = tx.txlog_rollup(spark, tpath, ["g"], ["x"], version=1)
    tx.txlog_upsert(spark, tpath, mk(20, 40, 10), replace, ("k",), 4)
    r2 = tx.txlog_rollup(spark, tpath, ["g"], ["x"], version=2)
    # delete every k ≡ 0 mod 5 → group g=0 vanishes entirely
    tx.txlog_delete(spark, tpath,
                    mk(0, 60, 1).filter(F.col("k") % 5 == 0)
                                .select("k"),
                    ("k",), 4)
    full = sorted(tuple(r) for r in
                  tx.txlog_rollup(spark, tpath, ["g"], ["x"]).collect())
    for base_version, stored in ((1, r1), (2, r2)):
        inc = sorted(tuple(r) for r in
                     tx.txlog_incremental_rollup(
                         spark, tpath, stored, ["g"], ["x"],
                         v_from=base_version).collect())
        assert inc == full, base_version
    # the emptied group really is gone, not zero-row
    assert all(g != 0 for g, _, _ in full)
    # no-op window: incremental from head to head == stored head
    head_v = tx.txlog_snapshot(tpath)["version"]
    same = sorted(tuple(r) for r in
                  tx.txlog_incremental_rollup(
                      spark, tpath,
                      tx.txlog_rollup(spark, tpath, ["g"], ["x"]),
                      ["g"], ["x"], v_from=head_v).collect())
    assert same == full


def _mk3(spark, lo, hi, status, bump=0):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.lit(status).alias("status"),
        (F.col("id") * 10 + bump).cast("long").alias("total"))


def test_merge_update_insert_delete(spark, tpath):
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk3(spark, 0, 60, "O"), ("k",), 4,
                    sort_by=("k",))
    # update keys 40-59, insert keys 60-79 in ONE merge
    src = _mk3(spark, 40, 80, "U", bump=5)
    ver, buckets = tx.txlog_merge(spark, tpath, src, ["k"],
                                  ("k",), 4, sort_by=("k",))
    assert ver == 2 and buckets == [0, 1, 2, 3]
    exp = ([(k, "O", k * 10) for k in range(40)]
           + [(k, "U", k * 10 + 5) for k in range(40, 80)])
    assert _content(spark, tpath) == sorted(exp)
    # delete keys 0-9 via a key-only source; unmatched key 100 ignored
    doomed = spark.range(0, 10).union(spark.range(100, 101)) \
                  .select(F.col("id").alias("k"))
    tx.txlog_merge(spark, tpath, doomed, ["k"], ("k",), 4,
                   sort_by=("k",), when_matched="delete",
                   when_not_matched="ignore")
    assert _content(spark, tpath) == sorted(
        r for r in exp if r[0] >= 10)
    # re-running the SAME merge is content-idempotent (new version,
    # equal bytes): inserts are matched the second time and update to
    # themselves
    before = _content(spark, tpath)
    tx.txlog_merge(spark, tpath, src, ["k"], ("k",), 4,
                   sort_by=("k",))
    assert _content(spark, tpath) == [
        r if r[0] < 40 else (r[0], "U", r[0] * 10 + 5) for r in before]


def test_merge_matched_condition_gates_update(spark, tpath):
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk3(spark, 0, 20, "O"), ("k",), 2,
                    sort_by=("k",))
    # source totals: k*10+5 for k<10 (higher), k*10-5 for k>=10 (lower)
    src = spark.range(0, 20).select(
        F.col("id").alias("k"), F.lit("U").alias("status"),
        (F.col("id") * 10
         + F.when(F.col("id") < 10, 5).otherwise(-5)).cast("long")
        .alias("total"))
    tx.txlog_merge(spark, tpath, src, ["k"], ("k",), 2,
                   sort_by=("k",), when_not_matched="ignore",
                   matched_condition="s.total > t.total")
    exp = ([(k, "U", k * 10 + 5) for k in range(10)]        # updated
           + [(k, "O", k * 10) for k in range(10, 20)])     # gated out
    assert _content(spark, tpath) == sorted(exp)


def test_merge_keep_is_insert_only(spark, tpath):
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk3(spark, 0, 10, "O"), ("k",), 2,
                    sort_by=("k",))
    src = _mk3(spark, 5, 15, "N")
    tx.txlog_merge(spark, tpath, src, ["k"], ("k",), 2,
                   sort_by=("k",), when_matched="keep")
    exp = ([(k, "O", k * 10) for k in range(10)]
           + [(k, "N", k * 10) for k in range(10, 15)])
    assert _content(spark, tpath) == sorted(exp)


def test_merge_guards(spark, tpath):
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk3(spark, 0, 10, "O"), ("k",), 2,
                    sort_by=("k",))
    src = _mk3(spark, 0, 5, "U")
    with pytest.raises(ValueError, match="update|delete|keep"):
        tx.txlog_merge(spark, tpath, src, ["k"], ("k",), 2,
                       when_matched="upsert")
    with pytest.raises(ValueError, match="insert|ignore"):
        tx.txlog_merge(spark, tpath, src, ["k"], ("k",), 2,
                       when_not_matched="drop")
    with pytest.raises(ValueError, match="bucket columns"):
        tx.txlog_merge(spark, tpath, src, ["status"], ("k",), 2)
    with pytest.raises(ValueError, match="merge key columns"):
        tx.txlog_merge(spark, tpath,
                       src.select("status", "total"), ["k"], ("k",), 2)
    with pytest.raises(ValueError, match="full table schema"):
        tx.txlog_merge(spark, tpath, src.select("k"), ["k"], ("k",), 2)
    with pytest.raises(ValueError, match="ambiguous"):
        tx.txlog_merge(spark, tpath, src.union(src), ["k"], ("k",), 2)
    # nothing committed by any refused merge
    assert tx.txlog_snapshot(tpath)["version"] == 1


def test_bucketing_declaration_is_journaled_and_enforced(spark, tpath):
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk(spark, 0, 40, 1), ("k",), 4,
                    sort_by=("k",))
    snap = tx.txlog_snapshot(tpath)
    assert snap["bucket_by"] == ["k"] and snap["n_buckets"] == 4
    # a writer declaring the wrong layout is refused before staging
    with pytest.raises(ValueError, match="journaled declaration"):
        tx.txlog_upsert(spark, tpath, _mk(spark, 0, 5, 2), _merge,
                        ("k",), 8)
    with pytest.raises(ValueError, match="journaled declaration"):
        tx.txlog_delete(spark, tpath,
                        _mk(spark, 0, 5, 2).select("k"), ("k",), 8)
    assert tx.txlog_snapshot(tpath)["version"] == 1


def test_rebucket_evolves_layout(spark, tpath):
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk(spark, 0, 80, 1), ("k",), 2,
                    sort_by=("k",))
    before = _content(spark, tpath)
    v = tx.txlog_rebucket(spark, tpath, 8)
    assert v == 2
    snap = tx.txlog_snapshot(tpath)
    assert snap["n_buckets"] == 8
    assert sorted(set(snap["files"].values())) == list(range(8))
    # content identical; pre-rebucket version still time-travels
    assert _content(spark, tpath) == before
    assert _content(spark, tpath, version=1) == before
    # writers must now declare the NEW layout
    with pytest.raises(ValueError, match="journaled declaration"):
        tx.txlog_upsert(spark, tpath, _mk(spark, 0, 5, 2), _merge,
                        ("k",), 2)
    ver, buckets = tx.txlog_upsert(spark, tpath,
                                   _mk(spark, 0, 80, 2), _merge,
                                   ("k",), 8)
    assert ver == 3 and buckets == list(range(8))
    assert _content(spark, tpath) == [(k, 2) for k in range(80)]
    # no-op rebucket returns the current head without a new commit
    assert tx.txlog_rebucket(spark, tpath, 8) == 3
    # checkpoints carry the declaration: after 10+ commits the
    # snapshot folds bucketing from the checkpoint, not commit 1
    for i in range(8):
        tx.txlog_upsert(spark, tpath, _mk(spark, i, i + 1, 3), _merge,
                        ("k",), 8)
    snap = tx.txlog_snapshot(tpath)
    assert snap["version"] >= 10 and snap["n_buckets"] == 8


def test_restore_across_rebucket_restores_declaration(spark, tpath):
    """Restoring past a rebucket must re-journal the restored layout:
    the files at the target carry the OLD bucket count, and a later
    writer declaring the head's new count would mis-hash its delta
    against them (duplicate rows)."""
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk(spark, 0, 40, 1), ("k",), 2,
                    sort_by=("k",))
    v1 = _content(spark, tpath)
    tx.txlog_rebucket(spark, tpath, 8)                    # v2
    tx.txlog_upsert(spark, tpath, _mk(spark, 0, 40, 5), _merge,
                    ("k",), 8)                            # v3
    tx.txlog_restore(spark, tpath, 1)                     # v4
    snap = tx.txlog_snapshot(tpath)
    assert snap["n_buckets"] == 2          # declaration restored
    assert _content(spark, tpath) == v1
    # writers against the restored head use the RESTORED layout
    with pytest.raises(ValueError, match="journaled declaration"):
        tx.txlog_upsert(spark, tpath, _mk(spark, 0, 5, 7), _merge,
                        ("k",), 8)
    tx.txlog_upsert(spark, tpath, _mk(spark, 0, 5, 7), _merge,
                    ("k",), 2)
    assert _content(spark, tpath) == sorted(
        [(k, 7) for k in range(5)] + [(k, 1) for k in range(5, 40)])


def test_compact_after_rebucket_uses_live_layout(spark, tpath):
    """Compaction must honor the JOURNALED (post-rebucket) layout —
    reading commit 1's declaration would rewrite buckets under the
    stale count and scatter keys."""
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk(spark, 0, 40, 1), ("k",), 2,
                    sort_by=("k",))
    tx.txlog_rebucket(spark, tpath, 8)
    # fragment a few buckets under the new layout
    for v in (2, 3):
        tx.txlog_upsert(spark, tpath, _mk(spark, 0, 40, v), _merge,
                        ("k",), 8)
    before = _content(spark, tpath)
    # min_files=1 forces a rewrite of every bucket — the point is the
    # LAYOUT the rewrite uses, not the fragmentation trigger
    won, buckets = tx.txlog_compact(spark, tpath, min_files=1)
    assert won is not None and buckets
    snap = tx.txlog_snapshot(tpath)
    assert snap["n_buckets"] == 8
    assert max(snap["files"].values()) <= 7
    assert _content(spark, tpath) == before
    # every compacted bucket is now a single file under the 8-layout
    per = {}
    for n, b in snap["files"].items():
        per.setdefault(b, []).append(n)
    for b in buckets:
        assert len(per[b]) == 1


def test_read_bucketed_zero_exchange_and_content(spark, tpath):
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk(spark, 0, 120, 1), ("k",), 4,
                    sort_by=("k",))
    tx.txlog_upsert(spark, tpath, _mk(spark, 60, 180, 2), _merge,
                    ("k",), 4)
    t = tx.txlog_read_bucketed(spark, tpath, "tx_bkt_test")
    try:
        # content identical to the plain snapshot read
        assert sorted(tuple(r) for r in t.collect()) == \
            _content(spark, tpath)
        # groupBy on the bucket key: ZERO exchanges
        plan = t.groupBy("k").count()._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan, plan
        # self-join on the bucket key: broadcast disabled so the
        # planner must co-locate — bucketed SMJ with NO shuffle
        t2 = tx.txlog_read_bucketed(spark, tpath, "tx_bkt_test2")
        thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = t.join(t2.withColumnRenamed("v", "v2"), "k") \
                ._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                           thresh)
        assert "Exchange" not in plan, plan
        # pinned old version reads the old content through the same
        # path (fresh snapshot dir per version)
        t1 = tx.txlog_read_bucketed(spark, tpath, "tx_bkt_v1",
                                    version=1)
        assert sorted(tuple(r) for r in t1.collect()) == \
            _content(spark, tpath, version=1)
        # reuse: a second declaration over the same version is cheap
        # and identical
        t1b = tx.txlog_read_bucketed(spark, tpath, "tx_bkt_v1b",
                                     version=1)
        assert t1b.count() == t1.count()
    finally:
        for name in ("tx_bkt_test", "tx_bkt_test2", "tx_bkt_v1",
                     "tx_bkt_v1b"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
    # the dot-dirs are invisible to plain txlog reads and health
    rep = tx.txlog_health(spark, tpath, 4)
    note = [r["note"] for r in rep.collect() if r["bucket"] == "_table"]
    assert "missing=0" in note[0]


def test_read_bucketed_guards(spark, tpath):
    from sstable_hadoop_spark.operators import txlog as tx

    with pytest.raises(ValueError, match="local"):
        tx.txlog_read_bucketed(spark, "s3://bucket/t", "nope")


def test_version_at_timestamp(spark, tpath):
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk(spark, 0, 10, 1), ("k",), 2)
    tx.txlog_upsert(spark, tpath, _mk(spark, 0, 10, 2), _merge,
                    ("k",), 2)
    tx.txlog_upsert(spark, tpath, _mk(spark, 0, 10, 3), _merge,
                    ("k",), 2)
    # pin commit mtimes to a controlled timeline
    for v, t in ((1, 1000), (2, 2000), (3, 3000)):
        os.utime(tx._commit_path(tpath, v), (t, t))
    with pytest.raises(ValueError, match="created later"):
        tx.txlog_version_at(tpath, 999.0)
    assert tx.txlog_version_at(tpath, 1000.0) == 1
    assert tx.txlog_version_at(tpath, 2500.0) == 2
    assert tx.txlog_version_at(tpath, 9e9) == 3
    # the mapped version time-travels to the expected content
    v = tx.txlog_version_at(tpath, 2500.0)
    assert _content(spark, tpath, version=v) == [(k, 2)
                                                 for k in range(10)]


# --- per-file Bloom point-lookup skipping ----------------------------------

def _mk_tagged(spark, lo, hi, v):
    # tag ~ k DIV 20: values cluster per bucket-file so pruning has
    # something to prune
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.lit(v).alias("v"),
        F.concat(F.lit("tag"), (F.col("id") / 20).cast("long")
                 .cast("string")).alias("tag"))


def test_bloom_point_lookup_prunes_and_matches(spark, tpath):
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk_tagged(spark, 0, 200, 1),
                    ("k",), 8, sort_by=("k",), bloom_cols=("tag",))
    snap = tx.txlog_snapshot(tpath)
    assert snap["bloom_cols"] == ["tag"]
    # every staged file journaled a bitset for the bloom column
    assert set(snap["blooms"]) == set(snap["files"])
    assert all("tag" in b for b in snap["blooms"].values())

    got = tx.txlog_read_point(spark, tpath, "tag", ["tag3"])
    rows = sorted(tuple(r) for r in got.collect())
    assert rows == [(k, 1, "tag3") for k in range(60, 80)]
    # the probe read FEWER files than the table holds (bloom pruning)
    import pyspark.sql.functions as SF

    n_read = got.select(SF.input_file_name()).distinct().count()
    assert n_read < len(snap["files"])

    # unknown value: zero files pass the bloom, result is empty
    assert tx.txlog_read_point(spark, tpath, "tag",
                               ["nope"]).count() == 0


def test_bloom_survives_upsert_compact_and_restore(spark, tpath):
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk_tagged(spark, 0, 100, 1),
                    ("k",), 4, sort_by=("k",), bloom_cols=("tag",))

    def merge(stored, delta):
        return (stored.unionByName(delta).groupBy("k")
                .agg(F.max("v").alias("v"), F.max("tag").alias("tag")))

    tx.txlog_upsert(spark, tpath, _mk_tagged(spark, 50, 150, 2),
                    merge, ("k",), 4, sort_by=("k",))
    snap = tx.txlog_snapshot(tpath)
    assert set(snap["blooms"]) == set(snap["files"])  # maintained
    exp = sorted([(k, 1, f"tag{k // 20}") for k in range(50)]
                 + [(k, 2, f"tag{k // 20}") for k in range(50, 150)])
    got = tx.txlog_read_point(spark, tpath, "tag",
                              [f"tag{i}" for i in range(8)])
    assert sorted(tuple(r) for r in got.collect()) == exp

    v_before = snap["version"]
    tx.txlog_compact(spark, tpath, min_files=2)
    snap2 = tx.txlog_snapshot(tpath)
    assert set(snap2["blooms"]) == set(snap2["files"])
    tx.txlog_restore(spark, tpath, v_before)
    snap3 = tx.txlog_snapshot(tpath)
    assert set(snap3["blooms"]) == set(snap3["files"])
    got3 = tx.txlog_read_point(spark, tpath, "tag", ["tag2"])
    assert got3.count() == 20


def test_point_read_requires_an_index_and_rejects_empty(spark, tpath):
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk_tagged(spark, 0, 40, 1),
                    ("k",), 2, sort_by=("k",))
    with pytest.raises(ValueError, match="no journaled skipping"):
        tx.txlog_read_point(spark, tpath, "tag", ["tag0"])
    # the sort/stats column IS probe-able (min-max pruning)
    assert tx.txlog_read_point(spark, tpath, "k", [5, 25]).count() == 2
    with pytest.raises(ValueError, match="non-empty"):
        tx.txlog_read_point(spark, tpath, "k", [])


def test_bloom_canonicalization_and_bitset_probe():
    from sstable_hadoop_spark.operators.txlog import (
        _bloom_canon,
        _bloom_positions,
        bloom_might_contain,
    )
    import base64

    assert _bloom_canon(None) is None
    assert _bloom_canon(b"\x00\xff") == "00ff"
    assert _bloom_canon(42) == "42"
    pos = _bloom_positions("x", 8192, 7)
    assert pos == _bloom_positions("x", 8192, 7) and len(pos) == 7
    assert all(0 <= p < 8192 for p in pos)
    bits = bytearray(1024)
    for p in pos:
        bits[p >> 3] |= 1 << (p & 7)
    entry = {"m": 8192, "k": 7,
             "b64": base64.b64encode(bytes(bits)).decode()}
    assert bloom_might_contain(entry, "x")
    assert bloom_might_contain(entry, None)  # NULL: defensive True


def test_bloom_geometry_adapts_and_spills_to_sidecar(spark, tpath):
    """A file with NDV past the inline budget must get a LARGER
    bitset in a hidden sidecar (a fixed 8 Ki bitset would saturate
    to all-ones and prune nothing), the sidecar must survive the
    commit protocol, prune effectively, and vacuum away with its
    data file."""
    import os

    from sstable_hadoop_spark.operators import txlog as tx

    # one bucket, one input partition -> ONE file with 30k distinct
    # tags: m must grow past the inline budget
    df = spark.range(0, 30000).coalesce(1).select(
        F.col("id").alias("k"),
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("tag"))
    tx.txlog_create(spark, tpath, df, ("k",), 1, sort_by=("k",),
                    bloom_cols=("tag",))
    snap = tx.txlog_snapshot(tpath)
    (entry,) = [b["tag"] for b in snap["blooms"].values()]
    assert entry["m"] > tx._BLOOM_INLINE_M
    assert "sidecar" in entry
    side = os.path.join(tpath, entry["sidecar"])
    assert os.path.exists(side)
    assert os.path.getsize(side) == entry["m"] // 8
    # probe correctness + effectiveness (absent value reads 0 files)
    assert tx.txlog_read_point(spark, tpath, "tag",
                               ["t123"]).count() == 1
    assert tx.txlog_read_point(spark, tpath, "tag",
                               ["absent"]).count() == 0

    # rewrite the bucket; vacuum reaps the replaced file AND sidecar
    def merge(stored, delta):
        return stored.unionByName(delta).groupBy("k").agg(
            F.max("tag").alias("tag"))

    tx.txlog_upsert(spark, tpath,
                    df.filter(F.col("k") < 10), merge, ("k",), 1,
                    sort_by=("k",))
    gone = tx.txlog_vacuum(tpath, retain_versions=0, min_age_sec=0)
    assert os.path.basename(side) in gone
    assert not os.path.exists(side)
    # the new file's sidecar still serves probes
    assert tx.txlog_read_point(spark, tpath, "tag",
                               ["t29999"]).count() == 1


# --- multi-column zone maps (stats_cols) ------------------------------------

def test_zone_maps_prune_second_column_range(spark, tpath):
    """A table sorted by k with declared zone maps on a k-correlated
    second column: range probes on THAT column must prune files, and
    the maps must survive upsert/compact/restore like the primary
    stats do."""
    from sstable_hadoop_spark.operators import txlog as tx

    # ts = k * 100: correlated with the sort key, so per-file ts
    # ranges are disjoint and a ts probe can prune
    df = spark.range(0, 400).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("ts"),
        F.lit(1).alias("v"))
    tx.txlog_create(spark, tpath, df, ("k",), 8, sort_by=("k",),
                    stats_cols=("ts",))
    snap = tx.txlog_snapshot(tpath)
    assert snap["stats_cols"] == ["ts"]
    assert set(snap["col_stats"]) == set(snap["files"])

    got = tx.txlog_read_range(spark, tpath, 5000, 7000, col="ts")
    rows = sorted(r.k for r in got.collect())
    assert rows == list(range(50, 71))
    n_read = got.select(F.input_file_name()).distinct().count()
    assert n_read < len(snap["files"])
    # point probe through the same maps
    assert tx.txlog_read_point(spark, tpath, "ts", [5000]).count() == 1

    def merge(stored, delta):
        return stored.unionByName(delta).groupBy("k").agg(
            F.max("ts").alias("ts"), F.max("v").alias("v"))

    v1 = snap["version"]
    tx.txlog_upsert(spark, tpath,
                    df.filter(F.col("k") < 50)
                      .withColumn("v", F.lit(2)),
                    merge, ("k",), 8, sort_by=("k",))
    snap2 = tx.txlog_snapshot(tpath)
    assert set(snap2["col_stats"]) == set(snap2["files"])
    tx.txlog_compact(spark, tpath, min_files=2)
    snap3 = tx.txlog_snapshot(tpath)
    assert set(snap3["col_stats"]) == set(snap3["files"])
    tx.txlog_restore(spark, tpath, v1)
    snap4 = tx.txlog_snapshot(tpath)
    assert set(snap4["col_stats"]) == set(snap4["files"])
    assert tx.txlog_read_range(spark, tpath, 5000, 7000,
                               col="ts").count() == 21


def test_zone_map_reads_refuse_undeclared_columns(spark, tpath):
    from sstable_hadoop_spark.operators import txlog as tx

    df = spark.range(0, 40).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("ts"))
    tx.txlog_create(spark, tpath, df, ("k",), 2, sort_by=("k",))
    with pytest.raises(ValueError, match="no journaled zone maps"):
        tx.txlog_read_range(spark, tpath, 0, 10, col="ts")
    # the primary stats column still works without a declaration
    assert tx.txlog_read_range(spark, tpath, 0, 10).count() == 11


def test_zone_maps_via_adopt(spark, tpath):
    from sstable_hadoop_spark.operators import txlog as tx
    from sstable_hadoop_spark.operators.layout import write_bucketed

    df = spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("ts"))
    write_bucketed(df, tpath, "t_adopt", bucket_by=("k",),
                   n_buckets=4, sort_by=("k",))
    tx.txlog_adopt(spark, tpath, ("k",), 4, sort_by=("k",),
                   stats_cols=("ts",))
    snap = tx.txlog_snapshot(tpath)
    # footer-only maps exist for adopted files immediately
    assert set(snap["col_stats"]) == set(snap["files"])
    assert tx.txlog_read_range(spark, tpath, 100, 200,
                               col="ts").count() == 11


def test_concurrent_writers_maintain_indexes(spark, tpath):
    """Threaded disjoint-bucket writers on a table with declared
    blooms AND zone maps: every surviving file must carry both
    indexes, losers' sidecars must not linger after vacuum, and the
    indexes must answer probes correctly after the dust settles."""
    import threading

    from sstable_hadoop_spark.operators import txlog as tx
    from sstable_hadoop_spark.operators.layout import bucket_id

    df = spark.range(0, 30000).coalesce(1).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("ts"),
        F.concat(F.lit("t"), (F.col("id") % 5000).cast("string"))
         .alias("tag"))
    tx.txlog_create(spark, tpath, df, ("k",), 4, sort_by=("k",),
                    bloom_cols=("tag",), stats_cols=("ts",))

    def merge(stored, delta):
        return stored.unionByName(delta).groupBy("k").agg(
            F.max("ts").alias("ts"), F.max("tag").alias("tag"))

    errs = []

    def writer(b):
        try:
            delta = df.filter(bucket_id(4, "k") == b) \
                      .withColumn("tag", F.lit(f"znew{b}"))
            tx.txlog_upsert(spark, tpath, delta, merge, ("k",), 4,
                            sort_by=("k",))
        except Exception as exc:  # surfaced below
            errs.append(exc)

    threads = [threading.Thread(target=writer, args=(b,))
               for b in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    snap = tx.txlog_snapshot(tpath)
    assert snap["version"] == 5  # four disjoint writers all landed
    assert set(snap["blooms"]) == set(snap["files"])
    assert set(snap["col_stats"]) == set(snap["files"])
    # point probes: every bucket's rewrite tag is findable, originals
    # are gone
    for b in range(4):
        got = tx.txlog_read_point(spark, tpath, "tag", [f"znew{b}"])
        assert got.count() > 0
    assert tx.txlog_read_point(spark, tpath, "tag", ["t1"]).count() == 0
    # zone-map range probe still exact after the rewrites
    want = tx.txlog_read(spark, tpath) \
             .filter(F.col("ts").between(700, 1400)).count()
    assert tx.txlog_read_range(spark, tpath, 700, 1400,
                               col="ts").count() == want
    # vacuum reclaims every replaced file AND its sidecars
    gone = tx.txlog_vacuum(tpath, retain_versions=0, min_age_sec=0)
    assert gone
    leftover = [f for f in os.listdir(tpath)
                if f.endswith(".bloom")
                and f.lstrip(".").split(".parquet")[0] + ".parquet"
                not in snap["files"]]
    assert leftover == []


# --- zero-copy clone ---------------------------------------------------------

def test_clone_is_zero_copy_and_independent(spark, tmp_path):
    from sstable_hadoop_spark.operators import txlog as tx

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    df = spark.range(0, 200).coalesce(1).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("ts"),
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("tag"))
    tx.txlog_create(spark, src, df, ("k",), 4, sort_by=("k",),
                    bloom_cols=("tag",), stats_cols=("ts",))

    def merge(stored, delta):
        return stored.unionByName(delta).groupBy("k").agg(
            F.max("ts").alias("ts"), F.max("tag").alias("tag"))

    tx.txlog_upsert(spark, src, df.filter(F.col("k") < 50)
                    .withColumn("tag", F.lit("znew")),
                    merge, ("k",), 4, sort_by=("k",))
    v2 = _content(spark, src)

    assert tx.txlog_clone(spark, src, dst) == 1
    # content identical; data files are the SAME inodes (zero copy)
    assert _content(spark, dst) == v2
    s_snap, d_snap = tx.txlog_snapshot(src), tx.txlog_snapshot(dst)
    assert d_snap["files"] == s_snap["files"]
    for n in d_snap["files"]:
        assert os.path.samefile(os.path.join(src, n),
                                os.path.join(dst, n))
    # indexes carried: point + range probes work on the clone
    assert tx.txlog_read_point(spark, dst, "tag", ["znew"]).count() == 50
    assert tx.txlog_read_range(spark, dst, 300, 330,
                               col="ts").count() == 11

    # independent lifecycles: write to the clone, source unchanged;
    # vacuum the SOURCE, clone still reads (links pin the bytes)
    tx.txlog_upsert(spark, dst, df.filter(F.col("k") >= 150)
                    .withColumn("tag", F.lit("zzclone")),
                    merge, ("k",), 4, sort_by=("k",))
    assert _content(spark, src) == v2
    tx.txlog_upsert(spark, src, df.filter(F.col("k") % 4 == 1)
                    .withColumn("tag", F.lit("zzsrc")),
                    merge, ("k",), 4, sort_by=("k",))
    tx.txlog_vacuum(src, retain_versions=0, min_age_sec=0)
    got = tx.txlog_read_point(spark, dst, "tag", ["zzclone"])
    assert got.count() == 50
    assert _content(spark, dst) != _content(spark, src)

    # guards
    with pytest.raises(FileExistsError):
        tx.txlog_clone(spark, src, dst)
    with pytest.raises(ValueError, match="local"):
        tx.txlog_clone(spark, "s3://b/t", dst + "2")


def test_clone_pins_a_past_version(spark, tmp_path):
    from sstable_hadoop_spark.operators import txlog as tx

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    tx.txlog_create(spark, src, _mk(spark, 0, 40, 1), ("k",), 2)
    v1 = _content(spark, src)
    tx.txlog_upsert(spark, src, _mk(spark, 0, 40, 2), _merge,
                    ("k",), 2)
    tx.txlog_clone(spark, src, dst, version=1)
    assert _content(spark, dst) == v1
    assert tx.txlog_snapshot(dst)["version"] == 1


# --- r11 ADVICE hardening ----------------------------------------------------

def test_bloom_cols_refuse_unsafe_types(spark, tpath):
    """Bloom declarations on float/decimal/timestamp columns raise at
    create/adopt time: their canonical rendering differs between the
    write path (pyarrow-decoded values) and the probe path (caller
    literals), so a bloom there could FALSELY prune files holding
    matches — a semantics break, not a missed optimization."""
    from sstable_hadoop_spark.operators import txlog as tx
    from sstable_hadoop_spark.operators.layout import write_bucketed

    df = spark.range(0, 20).select(
        F.col("id").alias("k"),
        (F.col("id") / 2.0).alias("price"),
        F.col("id").cast("decimal(10,2)").alias("amt"),
        F.timestamp_micros(F.col("id") * 1000000).alias("at"))
    for col in ("price", "amt", "at"):
        with pytest.raises(TypeError, match=col):
            tx.txlog_create(spark, tpath + "_" + col, df, ("k",), 2,
                            bloom_cols=(col,))
        assert not tx.txlog_exists(tpath + "_" + col)
    # safe types still accepted; absent columns still skipped per-file
    tx.txlog_create(spark, tpath, df.select("k"), ("k",), 2,
                    bloom_cols=("k", "missing"))
    assert tx.txlog_read_point(spark, tpath, "k", [3]).count() == 1
    # adopt validates against the parquet schema too
    apath = tpath + "_adopt"
    write_bucketed(df, apath, "t_adopt_bloom", ("k",), 2)
    with pytest.raises(TypeError, match="price"):
        tx.txlog_adopt(spark, apath, ("k",), 2, bloom_cols=("price",))
    assert not tx.txlog_exists(apath)


def test_vacuum_spares_foreign_bloom_files(spark, tpath):
    """Only sidecars matching OUR naming shape (dot + bucket-file stem
    + column + .bloom) are vacuum candidates; a user's stray *.bloom
    in the table dir survives (ADVICE r10)."""
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk(spark, 0, 40, 1), ("k",), 2,
                    bloom_cols=("k",))
    foreign = [os.path.join(tpath, n) for n in
               ("notes.bloom", ".hidden.bloom",
                ".mydata.parquet.k.bloom")]  # stem not a bucket file
    for f in foreign:
        with open(f, "wb") as fh:
            fh.write(b"user bytes")
    tx.txlog_upsert(spark, tpath, _mk(spark, 0, 40, 2), _merge,
                    ("k",), 2)
    tx.txlog_vacuum(tpath, retain_versions=0, min_age_sec=0)
    for f in foreign:
        assert os.path.exists(f), f
    # our own replaced sidecars were still reaped had any spilled
    # (inline-sized here: nothing to assert beyond no crash), and
    # point reads keep working
    assert tx.txlog_read_point(spark, tpath, "k", [5]).count() == 1


def test_skipping_probes_survive_type_mismatch(spark, tpath):
    """A probe whose Python type mismatches the journaled stat type
    must fall back to a defensive (unpruned) read, not crash with
    TypeError (ADVICE r10) — for point lookups, range reads, and the
    stats_cols ``col=`` path alike."""
    from sstable_hadoop_spark.operators import txlog as tx

    df = spark.range(0, 40).select(
        F.col("id").cast("string").alias("k"),
        F.col("id").alias("v"))
    tx.txlog_create(spark, tpath, df, ("k",), 2, sort_by=("k",),
                    bloom_cols=("k",), stats_cols=("v",))
    # int probe against str-tagged stats: the min/max compare raises
    # TypeError internally -> file kept defensively; the IN/BETWEEN
    # filter then applies with Spark's OWN coercion (string '7'
    # matches 7), so mismatched-type probes mean "whatever the plain
    # filter says", never a crash and never over-pruning
    assert tx.txlog_read_point(spark, tpath, "k", [7]).count() == 1
    assert tx.txlog_read_point(spark, tpath, "k", ["7"]).count() == 1
    assert tx.txlog_read_range(spark, tpath, 1, 2).count() == 2
    assert tx.txlog_read_range(spark, tpath, "1", "2").count() == 12
    # col= path: str probe against num-tagged zone maps
    assert tx.txlog_read_range(spark, tpath, "5", "9",
                               col="v").count() == 5
    assert tx.txlog_read_range(spark, tpath, 5, 9,
                               col="v").count() == 5


def test_bloom_bitset_vectorized_matches_per_value_spec():
    """The numpy bitset builder must reproduce the per-value
    `_bloom_positions` spec bit-for-bit for every allowlisted type —
    the write/probe (and old-table/new-writer) compatibility
    contract of the r11 vectorization."""
    import random

    import pyarrow as pa

    from sstable_hadoop_spark.operators import txlog as tx

    rng = random.Random(7)
    cases = [
        pa.array([rng.randint(-2**62, 2**62) for _ in range(500)],
                 pa.int64()),
        pa.array([f"u{rng.randint(0, 10**9)}" for _ in range(500)]),
        pa.array([rng.randbytes(rng.randint(0, 24))
                  for _ in range(300)], pa.binary()),
        pa.array([True, False]),
    ]
    for arr in cases:
        uniq = pa.compute.unique(arr).drop_null()
        for m in (tx._BLOOM_MIN_M, tx._BLOOM_MIN_M * 4):
            got = tx._bloom_bitset(tx._canon_bytes(uniq), m)
            ref = bytearray(m // 8)
            for v in uniq.to_pylist():
                canon = tx._bloom_canon(v)
                for p in tx._bloom_positions(canon, m, tx._BLOOM_K):
                    ref[p >> 3] |= 1 << (p & 7)
            assert got == bytes(ref), (arr.type, m)


# --- r11: pure-append commits + file-granular diff ---------------------------

def test_append_accumulates_files_and_costs_no_rewrite(spark, tpath):
    """txlog_append journals new bucket files with NO removes: content
    is the multiset union (rows appended AS GIVEN), old versions time
    travel, vacuum reclaims nothing (nothing was replaced), compact
    folds multi-file buckets back to one, and the appended files'
    stats/blooms keep point probes pruning."""
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk(spark, 0, 60, 1), ("k",), 4,
                    sort_by=("k",), bloom_cols=("v",))
    v1_files = set(tx.txlog_snapshot(tpath)["files"])
    ver, buckets = tx.txlog_append(spark, tpath, _mk(spark, 30, 90, 2))
    assert ver == 2 and buckets == [0, 1, 2, 3]
    snap = tx.txlog_snapshot(tpath)
    assert v1_files < set(snap["files"])  # nothing removed
    exp = sorted([(k, 1) for k in range(60)]
                 + [(k, 2) for k in range(30, 90)])
    assert _content(spark, tpath) == exp
    assert _content(spark, tpath, version=1) == \
        sorted((k, 1) for k in range(60))
    # nothing replaced -> vacuum of old versions reclaims nothing
    assert tx.txlog_vacuum(tpath, retain_versions=0,
                           min_age_sec=0) == []
    # blooms journaled for appended files too: a v=2 probe must find
    # its rows (defensive-or-pruned either way, count is the gate)
    assert tx.txlog_read_point(spark, tpath, "v", [2]).count() == 60
    # compact folds the multi-file buckets back to one file each
    tx.txlog_compact(spark, tpath)
    by_bucket: dict[int, int] = {}
    for n, b in tx.txlog_snapshot(tpath)["files"].items():
        by_bucket[b] = by_bucket.get(b, 0) + 1
    assert set(by_bucket.values()) == {1}
    assert _content(spark, tpath) == exp


def test_append_diff_reads_only_appended_files(spark, tpath):
    """The r11 file-granular diff: files common to both snapshots
    cancel exactly and are SKIPPED, so an append-only table's change
    feed scans nothing but the appended files — O(batch), never
    O(corpus)."""
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk(spark, 0, 400, 1), ("k",), 4,
                    sort_by=("k",))
    ver, _ = tx.txlog_append(spark, tpath, _mk(spark, 400, 430, 2))
    assert ver == 2
    appended = {n for n, _ in
                tx._read_commit(tpath, 2)["adds"]}
    d = tx.txlog_diff(spark, tpath, 1, 2)
    scanned = {os.path.basename(f) for f in d.inputFiles()}
    assert scanned == appended, (scanned, appended)
    rows = sorted((r["k"], r["v"], r["_change"]) for r in d.collect())
    assert rows == [(k, 2, "insert") for k in range(400, 430)]
    # a rewriting upsert still diffs at the bucket bound (no skip of
    # rewritten files) and the feed stays exact
    tx.txlog_upsert(spark, tpath, _mk(spark, 0, 5, 3), _merge,
                    ("k",), 4)
    d2 = tx.txlog_diff(spark, tpath, 2, 3)
    got = sorted((r["k"], r["v"], r["_change"]) for r in d2.collect())
    assert got == sorted([(k, 1, "delete") for k in range(5)]
                         + [(k, 3, "insert") for k in range(5)])


def test_append_guards_schema_and_layout(spark, tpath):
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk(spark, 0, 10, 1), ("k",), 2)
    bad = spark.range(3).select(F.col("id").alias("k"),
                                F.lit("x").alias("other"))
    with pytest.raises(ValueError, match="schema"):
        tx.txlog_append(spark, tpath, bad)


def test_concurrent_appends_never_conflict(spark, tpath):
    """Two appends racing into the SAME buckets both land (no removes
    -> commutative rebase); the head holds both batches exactly."""
    import threading

    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk(spark, 0, 20, 1), ("k",), 2)
    errs: list = []

    def worker(lo, hi, v):
        try:
            tx.txlog_append(spark, tpath, _mk(spark, lo, hi, v))
        except Exception as e:  # noqa: BLE001 - collected for assert
            errs.append(e)

    ts = [threading.Thread(target=worker, args=(20, 50, 2)),
          threading.Thread(target=worker, args=(20, 50, 3))]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    assert tx.txlog_snapshot(tpath)["version"] == 3
    exp = sorted([(k, 1) for k in range(20)]
                 + [(k, 2) for k in range(20, 50)]
                 + [(k, 3) for k in range(20, 50)])
    assert _content(spark, tpath) == exp


def test_bucketed_read_over_multifile_buckets(spark, tpath):
    """txlog_read_bucketed stays correct (and exchange-free for the
    groupBy) when appends leave several files per bucket — Spark's
    bucketed scan unions same-bucket files into one partition."""
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk(spark, 0, 40, 1), ("k",), 4,
                    sort_by=("k",))
    tx.txlog_append(spark, tpath, _mk(spark, 0, 40, 2))
    t = tx.txlog_read_bucketed(spark, tpath, "tx_bkt_append")
    try:
        assert sorted(tuple(r) for r in t.collect()) == \
            _content(spark, tpath)
        agg = t.groupBy("k").count()
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert {r["count"] for r in agg.collect()} == {2}
    finally:
        spark.sql("DROP TABLE IF EXISTS tx_bkt_append")


def test_append_txn_exactly_once(spark, tpath):
    """txn-tagged appends replay as no-ops: the same (app, batch)
    never lands twice (sequential replay via the high-water check;
    the concurrent race via the in-commit duplicate check)."""
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk(spark, 0, 10, 1), ("k",), 2)
    v, b = tx.txlog_append(spark, tpath, _mk(spark, 10, 20, 2),
                           txn=("appA", 0))
    assert v == 2 and b == [0, 1]
    exp = _content(spark, tpath)
    # sequential replay: no-op, no new version
    v2, b2 = tx.txlog_append(spark, tpath, _mk(spark, 10, 20, 2),
                             txn=("appA", 0))
    assert (v2, b2) == (2, [])
    assert tx.txlog_snapshot(tpath)["version"] == 2
    assert _content(spark, tpath) == exp
    # a different app's batch 0 is independent
    v3, _ = tx.txlog_append(spark, tpath, _mk(spark, 20, 25, 3),
                            txn=("appB", 0))
    assert v3 == 3
    assert tx.txlog_txn_high_water(tpath, "appA") == 0
    assert tx.txlog_txn_high_water(tpath, "appB") == 0
    assert tx.txlog_txn_high_water(tpath, "appC") == -1


def test_append_txn_high_water_folds_through_checkpoints(spark,
                                                         tpath):
    """txn high-waters fold through snapshots AND checkpoints like
    every commit field, so the replay cursor reads checkpoint + tail
    commits — never the whole log (the 100k-commits/year ingest
    shape)."""
    import json as _json

    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk(spark, 0, 8, 1), ("k",), 2)
    for i in range(12):  # crosses the 10-commit checkpoint boundary
        tx.txlog_append(spark, tpath,
                        _mk(spark, 8 + i, 9 + i, 2),
                        txn=("ing", i))
    assert tx.txlog_snapshot(tpath)["version"] == 13
    cps = [v for v in tx._list_log(tpath)[1]]
    assert cps, "expected a checkpoint past version 10"
    cp = _json.loads(
        open(tx._checkpoint_path(tpath, cps[-1]), "rb").read())
    assert cp["txns"] == {"ing": cps[-1] - 2}  # batches 0..v-2 folded
    assert tx.txlog_txn_high_water(tpath, "ing") == 11
    # replay of an old pre-checkpoint batch is still skipped
    v, b = tx.txlog_append(spark, tpath, _mk(spark, 8, 9, 2),
                           txn=("ing", 3))
    assert (v, b) == (13, [])


# ---------------------------------------------------------------
# OPTIMIZE ZORDER BY (txlog_zorder)
# ---------------------------------------------------------------

def _mk_xy(spark, n, extra_nulls=0):
    """Rows with two independent uniform columns in [0, 10000)."""
    df = (spark.range(n)
          .select(F.col("id").alias("k"),
                  F.pmod(F.hash("id", F.lit(7)),
                         F.lit(10000)).alias("x"),
                  F.pmod(F.hash("id", F.lit(13)),
                         F.lit(10000)).alias("y")))
    if extra_nulls:
        nulls = (spark.range(n, n + extra_nulls)
                 .select(F.col("id").alias("k"),
                         F.lit(None).cast("int").alias("x"),
                         F.pmod(F.hash("id", F.lit(13)),
                                F.lit(10000)).alias("y")))
        df = df.unionByName(nulls)
    return df


def _zorder_fixture(spark, tpath, n=16000, nulls=32):
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk_xy(spark, n, nulls),
                    ("k",), 4)
    # fragment a couple of buckets so the rewrite has work
    def merge(stored, delta):
        return (stored.join(delta, on=["k"], how="left_anti")
                .select(*stored.columns).unionByName(delta))
    tx.txlog_upsert(spark, tpath, _mk_xy(spark, 500), merge,
                    ("k",), 4)
    return tx


def test_zorder_rewrites_layout_not_data(spark, tpath):
    """OPTIMIZE ZORDER changes bytes-on-disk, never the table: content
    is identical, the clustered columns enter stats_cols, each bucket
    lands ~files_per_bucket prefix-cell files."""
    tx = _zorder_fixture(spark, tpath)
    before = _content(spark, tpath)
    v, buckets = tx.txlog_zorder(spark, tpath, ("x", "y"),
                                 files_per_bucket=4, bits=6)
    assert v is not None and buckets == [0, 1, 2, 3]
    assert _content(spark, tpath) == before
    snap = tx.txlog_snapshot(tpath)
    assert snap["stats_cols"] == ["x", "y"]
    per_bucket: dict[int, int] = {}
    for n, b in snap["files"].items():
        per_bucket[b] = per_bucket.get(b, 0) + 1
        # every new file carries zone maps for BOTH clustered columns
        assert set(snap["col_stats"][n]) == {"x", "y"}
    # a prefix cell with no rows emits no file, so <= 2^ceil(log2(k))
    assert all(1 <= c <= 4 for c in per_bucket.values())
    hist = tx.txlog_history(tpath)
    assert hist[-1]["op"] == "zorder"
    # a later writer maintains the unioned zone maps
    def merge(stored, delta):
        return (stored.join(delta, on=["k"], how="left_anti")
                .select(*stored.columns).unionByName(delta))
    tx.txlog_upsert(spark, tpath, _mk_xy(spark, 64), merge,
                    ("k",), 4)
    snap2 = tx.txlog_snapshot(tpath)
    new = set(snap2["files"]) - set(snap["files"])
    assert new and all(
        set(snap2["col_stats"][n]) >= {"x", "y"} for n in new)


def test_zorder_prunes_on_every_clustered_column(spark, tpath):
    """The point of z-order: a narrow range probe on EITHER clustered
    column reads a strict subset of files (a single sort order only
    prunes its leading column), with results identical to the
    unpruned filter."""
    import os as _os

    tx = _zorder_fixture(spark, tpath)
    tx.txlog_zorder(spark, tpath, ("x", "y"), files_per_bucket=4,
                    bits=6)
    snap = tx.txlog_snapshot(tpath)
    total = len(snap["files"])
    for col in ("x", "y"):
        d = tx.txlog_read_range(spark, tpath, 200, 600, col=col)
        nf = len({_os.path.basename(f) for f in d.inputFiles()})
        # k=4 prefix cells split each column into halves: a narrow
        # probe touches only the low-half boxes (+ sampling slack)
        assert nf <= 0.7 * total, (nf, total)
        got = sorted(tuple(r) for r in d.collect())
        want = sorted(tuple(r) for r in tx.txlog_read(spark, tpath)
                      .filter(F.col(col).between(200, 600))
                      .collect())
        assert got == want


def test_zorder_guards(spark, tpath):
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk_xy(spark, 200), ("k",), 2)
    with pytest.raises(ValueError, match="at least two"):
        tx.txlog_zorder(spark, tpath, ("x",))
    with pytest.raises(ValueError, match="64-bit"):
        tx.txlog_zorder(spark, tpath, ("x", "y"), bits=32)
    with pytest.raises(ValueError, match="no column"):
        tx.txlog_zorder(spark, tpath, ("x", "nope"))
    assert tx.txlog_zorder(spark, tpath, ("x", "y"),
                           target_buckets=set()) == (None, [])


def test_zorder_refuses_strings_and_sorted_tables(spark, tpath):
    from sstable_hadoop_spark.operators import txlog as tx

    df = _mk_xy(spark, 100).withColumn("s", F.lit("a"))
    tx.txlog_create(spark, tpath, df, ("k",), 2)
    with pytest.raises(TypeError, match="numeric, date and"):
        tx.txlog_zorder(spark, tpath, ("x", "s"))
    p2 = tpath + "_sorted"
    tx.txlog_create(spark, p2, _mk_xy(spark, 100), ("k",), 2,
                    sort_by=("x",))
    with pytest.raises(ValueError, match="sortedBy"):
        tx.txlog_zorder(spark, p2, ("x", "y"))


# ---------------------------------------------------------------
# Deletion vectors (txlog_delete_rows — merge-on-read DELETE)
# ---------------------------------------------------------------

def _mk_g(spark, n):
    return spark.range(n).select(F.col("id").alias("k"),
                                 (F.col("id") % 100).alias("g"),
                                 (F.col("id") * 2).alias("v"))


def test_dv_delete_reads_and_travel(spark, tpath):
    """A DV delete removes rows from every read path WITHOUT
    rewriting a file; time travel to the pre-delete version still
    sees them; a replay is a no-op commit-wise."""
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk_g(spark, 4000), ("k",), 4)
    files_v1 = set(tx.txlog_snapshot(tpath)["files"])
    v, n = tx.txlog_delete_rows(spark, tpath, "g = 7")
    assert n == 40 and v == 2
    snap = tx.txlog_snapshot(tpath)
    assert set(snap["files"]) == files_v1  # no file rewritten
    assert sum(e["count"] for e in snap["dvs"].values()) == 40
    assert tx.txlog_read(spark, tpath).count() == 3960
    assert tx.txlog_read(spark, tpath).filter("g = 7").count() == 0
    assert tx.txlog_read(spark, tpath, version=1).count() == 4000
    # replay: nothing new matched, head unchanged
    assert tx.txlog_delete_rows(spark, tpath, "g = 7") == (2, 0)
    # second delete merges into the same files' vectors
    v3, n3 = tx.txlog_delete_rows(spark, tpath,
                                  F.col("g").isin(7, 8))
    assert (v3, n3) == (3, 40)
    assert tx.txlog_read(spark, tpath).count() == 3920
    # skipping-index reads apply the vectors too
    got = sorted(r["k"] for r in tx.txlog_read_range(
        spark, tpath, 5, 10).collect())
    assert got == [5, 6, 9, 10]  # k=7 (g=7) and k=8 (g=8) deleted


def test_dv_materializes_on_rewrite_and_guards_bucketed(spark,
                                                        tpath):
    """Upsert/compact re-merge the LIVE view, so deleted rows never
    resurrect; compaction drops the vectors with the rewritten
    files; the catalog-bucketed read refuses vectored tables."""
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk_g(spark, 4000), ("k",), 4)
    tx.txlog_delete_rows(spark, tpath, "g = 7")

    with pytest.raises(ValueError, match="deletion vectors"):
        tx.txlog_read_bucketed(spark, tpath, "dv_guard_t")

    def merge(stored, delta):
        return (stored.join(delta, on=["k"], how="left_anti")
                .select(*stored.columns).unionByName(delta))
    delta = _mk_g(spark, 7)  # keys 0..6 (g=0..6, none re-adds g=7)
    tx.txlog_upsert(spark, tpath, delta, merge, ("k",), 4)
    assert tx.txlog_read(spark, tpath).filter("g = 7").count() == 0
    ver, buckets = tx.txlog_compact(spark, tpath, min_files=1)
    assert ver is not None
    snap = tx.txlog_snapshot(tpath)
    assert not snap["dvs"]
    assert tx.txlog_read(spark, tpath).count() == 3960
    assert tx.txlog_read(spark, tpath).filter("g = 7").count() == 0
    # vectors gone -> the zero-exchange bucketed read works again
    tx.txlog_read_bucketed(spark, tpath, "dv_guard_t").count()
    spark.sql("DROP TABLE IF EXISTS dv_guard_t")


def test_dv_compacts_single_file_buckets(spark, tpath):
    """min_files alone would skip a one-file bucket; a vectored file
    must count as fragmentation or its read tax never clears."""
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk_g(spark, 400), ("k",), 2)
    tx.txlog_delete_rows(spark, tpath, "g = 3")
    ver, buckets = tx.txlog_compact(spark, tpath, min_files=2)
    assert ver is not None and buckets
    assert not tx.txlog_snapshot(tpath)["dvs"]
    # and now a re-compact has nothing to do
    assert tx.txlog_compact(spark, tpath, min_files=2) == (None, [])


def test_dv_diff_and_incremental_rollup(spark, tpath):
    """The change feed surfaces DV'd rows as deletes WITHOUT reading
    untouched common files, and the IVM rollup folds them."""
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk_g(spark, 4000), ("k",), 4)
    stored = tx.txlog_rollup(spark, tpath, ["g"], ["v"])
    v1 = tx.txlog_snapshot(tpath)["version"]
    v2, n = tx.txlog_delete_rows(spark, tpath, "g = 7")
    d = tx.txlog_diff(spark, tpath, v1, v2)
    rows = {(r["_change"], r["g"]) for r in d.collect()}
    assert rows == {("delete", 7)} and d.count() == 40
    inc = tx.txlog_incremental_rollup(spark, tpath, stored,
                                      ["g"], ["v"], v1, v2)
    full = tx.txlog_rollup(spark, tpath, ["g"], ["v"], version=v2)
    assert sorted(map(tuple, inc.collect())) \
        == sorted(map(tuple, full.collect()))


def test_dv_whole_file_delete_becomes_remove(spark, tpath):
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk_g(spark, 200), ("k",), 2)
    v, n = tx.txlog_delete_rows(spark, tpath, "true")
    snap = tx.txlog_snapshot(tpath)
    assert n == 200 and not snap["files"] and not snap["dvs"]
    assert tx.txlog_read(spark, tpath).count() == 0
    hist = tx.txlog_history(tpath)
    assert hist[-1]["op"] == "delete_dv" \
        and hist[-1]["n_removes"] > 0


def test_dv_restore_and_clone_carry_vectors(spark, tmp_path):
    from sstable_hadoop_spark.operators import txlog as tx

    path = str(tmp_path / "t")
    tx.txlog_create(spark, path, _mk_g(spark, 2000), ("k",), 2)
    v2, _ = tx.txlog_delete_rows(spark, path, "g = 5")
    # restore back across the delete clears the vectors
    tx.txlog_restore(spark, path, 1)
    assert tx.txlog_read(spark, path).count() == 2000
    assert not tx.txlog_snapshot(path)["dvs"]
    # restore forward re-applies them
    tx.txlog_restore(spark, path, v2)
    assert tx.txlog_read(spark, path).count() == 1980
    assert tx.txlog_snapshot(path)["dvs"]
    # clone carries the vectors (zero-copy, independent)
    dst = str(tmp_path / "c")
    tx.txlog_clone(spark, path, dst)
    assert tx.txlog_read(spark, dst).count() == 1980
    assert tx.txlog_snapshot(dst)["dvs"]


def test_dv_sidecar_lifecycle_and_vacuum(spark, tpath):
    """A vector too big to inline spills to a dot-prefixed sidecar;
    vacuum keeps it while its version is retained and reclaims it
    after materialization; foreign .dv files are never touched."""
    import os as _os

    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(
        spark, tpath,
        spark.range(300000).select(F.col("id").alias("k"),
                                   (F.col("id") % 2).alias("g")),
        ("k",), 2)
    v, n = tx.txlog_delete_rows(spark, tpath, "g = 1 and k % 3 = 0")
    snap = tx.txlog_snapshot(tpath)
    spilled = [e["sidecar"] for e in snap["dvs"].values()
               if "sidecar" in e]
    assert spilled, "expected a sidecar-spilled vector"
    assert all(_os.path.exists(_os.path.join(tpath, s))
               for s in spilled)
    foreign = _os.path.join(tpath, "user-file.dv")
    open(foreign, "w").write("not ours")
    # retained: vacuum keeps the sidecars
    tx.txlog_vacuum(tpath, retain_versions=0, min_age_sec=0)
    assert all(_os.path.exists(_os.path.join(tpath, s))
               for s in spilled)
    # materialize + vacuum: sidecars reclaimed, foreign file spared
    tx.txlog_compact(spark, tpath, min_files=1)
    tx.txlog_vacuum(tpath, retain_versions=0, min_age_sec=0)
    assert not any(_os.path.exists(_os.path.join(tpath, s))
                   for s in spilled)
    assert _os.path.exists(foreign)


def test_dv_bulk_bound_raises(spark, tpath):
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk_g(spark, 500), ("k",), 2)
    with pytest.raises(ValueError, match="merge-on-write"):
        tx.txlog_delete_rows(spark, tpath, "true",
                             max_delete_rows=100)


def test_dv_zorder_materializes_vectors(spark, tpath):
    """OPTIMIZE ZORDER reads the live view too: rewriting a vectored
    bucket drops the vector and never resurrects deleted rows."""
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk_xy(spark, 4000), ("k",), 2)
    tx.txlog_delete_rows(spark, tpath, "x < 500")
    before = _content(spark, tpath)
    tx.txlog_zorder(spark, tpath, ("x", "y"), files_per_bucket=4,
                    bits=6)
    assert not tx.txlog_snapshot(tpath)["dvs"]
    assert _content(spark, tpath) == before


# ---------------------------------------------------------------
# Journaled row counts (txlog_count) + bounded-write-amp compaction
# ---------------------------------------------------------------

def test_count_is_metadata_only_and_exact(spark, tpath):
    """COUNT(*) folds from journaled per-file row counts — exact
    through appends, DV deletes and time travel, and equal to the
    scan count; files predating row journaling fall back to their
    parquet footers."""
    import json as _json

    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk_g(spark, 5000), ("k",), 4)
    assert tx.txlog_count(tpath) == 5000
    tx.txlog_append(spark, tpath, _mk_g(spark, 5200).filter(
        F.col("k") >= 5000))
    tx.txlog_delete_rows(spark, tpath, "g = 3")
    exp = tx.txlog_read(spark, tpath).count()
    assert tx.txlog_count(tpath) == exp == 5200 - 52
    assert tx.txlog_count(tpath, version=1) == 5000
    # strip the rows field from commit 1 → pre-upgrade shape
    cp = tx._commit_path(tpath, 1)
    c = _json.loads(open(cp, "rb").read())
    c.pop("rows")
    open(cp, "w").write(_json.dumps(c, sort_keys=True))
    assert tx.txlog_count(tpath, version=1) == 5000  # footer path
    assert tx.txlog_count(tpath) == exp


def test_compact_small_file_rows_bounds_write_amp(spark, tpath):
    """small_file_rows bin-packs only the small files: every large
    base file SURVIVES the compaction (bounded write amplification),
    content is unchanged, a re-run is a no-op, and a vectored large
    file is still rewritten (the only way to clear its vector)."""
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath,
                    _mk_g(spark, 20000).repartition(4, "k"),
                    ("k",), 4)
    base = set(tx.txlog_snapshot(tpath)["files"])
    big = min(tx.txlog_snapshot(tpath)["rows"][n] for n in base)
    assert big > 1000  # 4 create tasks → ~5k-row base files
    for w in range(3):
        tx.txlog_append(spark, tpath, _mk_g(spark, 20040 + w * 40)
                        .filter(F.col("k") >= 20000 + w * 40))
    before = _content(spark, tpath)
    nf0 = len(tx.txlog_snapshot(tpath)["files"])
    v, buckets = tx.txlog_compact(spark, tpath, min_files=2,
                                  small_file_rows=1000)
    assert v is not None
    snap = tx.txlog_snapshot(tpath)
    assert base <= set(snap["files"])  # base untouched
    assert len(snap["files"]) < nf0
    assert _content(spark, tpath) == before
    assert tx.txlog_compact(spark, tpath, min_files=2,
                            small_file_rows=1000) == (None, [])
    # a DV on a big file forces its rewrite even in small-file mode
    tx.txlog_delete_rows(spark, tpath, "k = 17")
    v2, _ = tx.txlog_compact(spark, tpath, min_files=2,
                             small_file_rows=1000)
    assert v2 is not None and not tx.txlog_snapshot(tpath)["dvs"]
    assert tx.txlog_count(tpath) == 20120 - 1


def test_minmax_from_zone_maps_and_fallback(spark, tpath):
    """MIN/MAX folds from numeric zone maps; DV'd or unindexed files
    scan (never a wrong answer); string columns always scan."""
    from sstable_hadoop_spark.operators import txlog as tx

    df = _mk_g(spark, 3000).withColumn("s", F.format_string(
        "s%05d", F.col("k")))
    tx.txlog_create(spark, tpath, df, ("k",), 4,
                    stats_cols=("g",))
    assert tx.txlog_minmax(spark, tpath, "k") == (0, 2999)
    assert tx.txlog_minmax(spark, tpath, "g") == (0, 99)
    assert tx.txlog_minmax(spark, tpath, "s") == ("s00000", "s02999")
    # delete the global max: stats alone would answer 2999 wrongly,
    # the DV'd file must be (and is) scanned
    tx.txlog_delete_rows(spark, tpath, "k = 2999")
    assert tx.txlog_minmax(spark, tpath, "k") == (0, 2998)
    # time travel still sees the old extreme
    assert tx.txlog_minmax(spark, tpath, "k", version=1) \
        == (0, 2999)


# ---------------------------------------------------------------
# Metadata-only ALTER TABLE (txlog_add_columns / txlog_drop_columns)
# ---------------------------------------------------------------

def test_add_columns_metadata_only(spark, tpath):
    """ADD COLUMNS touches zero files: old files NULL-fill, later
    writers stage values, pre-add time travel lacks the column."""
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk_g(spark, 200), ("k",), 2)
    files_v1 = set(tx.txlog_snapshot(tpath)["files"])
    v = tx.txlog_add_columns(spark, tpath, {"w": "double",
                                            "tag": "string"})
    assert v == 2
    snap = tx.txlog_snapshot(tpath)
    assert set(snap["files"]) == files_v1  # no data commit
    df = tx.txlog_read(spark, tpath)
    assert df.columns == ["k", "g", "v", "w", "tag"]
    assert df.filter(F.col("w").isNotNull()).count() == 0
    assert tx.txlog_read(spark, tpath, version=1).columns \
        == ["k", "g", "v"]

    def merge(stored, delta):
        return (stored.join(delta, on=["k"], how="left_anti")
                .select(*stored.columns).unionByName(delta))
    delta = (_mk_g(spark, 3)
             .withColumn("w", F.lit(1.5))
             .withColumn("tag", F.lit("x")))
    tx.txlog_upsert(spark, tpath, delta, merge, ("k",), 2)
    assert tx.txlog_read(spark, tpath) \
        .filter("tag = 'x'").count() == 3
    with pytest.raises(ValueError, match="already exists"):
        tx.txlog_add_columns(spark, tpath, {"w": "double"})


def test_drop_columns_metadata_only_and_tombstones(spark, tpath):
    """DROP COLUMNS rewrites nothing: reads stop requesting the
    column, time travel still sees it, the name is tombstoned until
    a rebucket rewrites every file, and structural columns refuse."""
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk_g(spark, 200), ("k",), 2,
                    stats_cols=("g",), bloom_cols=("v",))
    files_v1 = set(tx.txlog_snapshot(tpath)["files"])
    v = tx.txlog_drop_columns(tpath, ["g", "v"])
    snap = tx.txlog_snapshot(tpath)
    assert set(snap["files"]) == files_v1
    assert tx.txlog_read(spark, tpath).columns == ["k"]
    assert snap["stats_cols"] == [] and snap["bloom_cols"] == []
    assert snap["dropped_cols"] == ["g", "v"]
    # time travel: the values are still there at version 1
    old = tx.txlog_read(spark, tpath, version=1)
    assert old.columns == ["k", "g", "v"]
    assert old.filter("g = 3").count() == 2
    # upserts under the narrowed schema work (extra bytes ignored)
    def merge(stored, delta):
        return (stored.join(delta, on=["k"], how="left_anti")
                .select(*stored.columns).unionByName(delta))
    tx.txlog_upsert(spark, tpath,
                    spark.range(3).select(F.col("id").alias("k")),
                    merge, ("k",), 2)
    assert tx.txlog_read(spark, tpath).count() == 200
    # tombstone: the name cannot come back while old bytes live
    with pytest.raises(ValueError, match="rebucket"):
        tx.txlog_add_columns(spark, tpath, {"g": "string"})
    # structural refusals
    with pytest.raises(ValueError, match="structural"):
        tx.txlog_drop_columns(tpath, ["k"])
    with pytest.raises(ValueError, match="no such column"):
        tx.txlog_drop_columns(tpath, ["nope"])
    # a LAYOUT-CHANGING rebucket rewrites every file → the name
    # frees up, as a new type, reading NULL (never the stale bytes);
    # a same-layout rebucket is a no-op and rightly keeps tombstones
    tx.txlog_rebucket(spark, tpath, 4)
    assert tx.txlog_snapshot(tpath)["dropped_cols"] == []
    tx.txlog_add_columns(spark, tpath, {"g": "string"})
    re = tx.txlog_read(spark, tpath)
    assert re.schema["g"].dataType.simpleString() == "string"
    assert re.filter(F.col("g").isNotNull()).count() == 0


def test_schema_change_conflicts_inflight_writers(spark, tpath):
    """A writer whose stage predates a schema-change commit must
    redo its merge under the new declaration — rebasing would
    re-journal a stale schema (the dropped-column resurrection
    race)."""
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk_g(spark, 100), ("k",), 2)
    base = tx.txlog_snapshot(tpath)
    record = {"op": "upsert", "writer": "w1", "buckets": [0],
              "adds": [], "removes": [], "stats": {}, "blooms": {},
              "col_stats": {}, "rows": {}}
    tx.txlog_drop_columns(tpath, ["v"])
    assert tx._try_commit(tpath, base, record) == "conflict"


def test_check_constraints_gate_writes(spark, tpath):
    """Journaled CHECKs refuse violating upserts/appends at the
    commit boundary (SQL semantics: NULL passes, FALSE violates);
    set-time validation scans existing data; drop lifts the gate;
    time-travel versions are unaffected."""
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk_g(spark, 100), ("k",), 2)
    tx.txlog_set_check(spark, tpath, "v_even", "v % 2 = 0")
    # existing data already violates a stricter candidate → refused
    with pytest.raises(tx.TxCheckViolation, match="existing table"):
        tx.txlog_set_check(spark, tpath, "v_small", "v < 10")
    assert "v_small" not in tx.txlog_snapshot(tpath)["checks"]

    def merge(stored, delta):
        return (stored.join(delta, on=["k"], how="left_anti")
                .select(*stored.columns).unionByName(delta))
    bad = (spark.range(1).select(
        F.col("id").alias("k"),
        F.lit(1).cast("long").alias("g"),
        F.lit(3).cast("long").alias("v")))
    v_before = tx.txlog_snapshot(tpath)["version"]
    with pytest.raises(tx.TxCheckViolation, match="v_even"):
        tx.txlog_upsert(spark, tpath, bad, merge, ("k",), 2)
    with pytest.raises(tx.TxCheckViolation, match="v_even"):
        tx.txlog_append(spark, tpath, bad)
    assert tx.txlog_snapshot(tpath)["version"] == v_before
    # NULL passes (SQL CHECK), evens pass
    ok = (spark.range(200, 202)
          .select(F.col("id").alias("k"),
                  F.lit(1).cast("long").alias("g"),
                  F.lit(None).cast("long").alias("v")))
    tx.txlog_append(spark, tpath, ok)
    assert tx.txlog_count(tpath) == 102
    # drop lifts the gate; unknown name refuses
    with pytest.raises(ValueError, match="no CHECK"):
        tx.txlog_drop_check(tpath, "nope")
    tx.txlog_drop_check(tpath, "v_even")
    tx.txlog_append(spark, tpath, bad.withColumn(
        "k", F.lit(999).cast("bigint")))
    assert tx.txlog_count(tpath) == 103
    # checks fold through history: the version WITH the check
    # journaled it, the head no longer does
    assert tx.txlog_snapshot(tpath)["checks"] == {}


def test_reader_protocol_gates_old_builds(spark, tpath):
    """A delete_dv commit raises the table's min_reader to 2; a
    build understanding less must refuse the SNAPSHOT (a pre-DV fold
    would scan raw files and resurrect deleted rows silently); the
    requirement folds through checkpoints and applies to past-the-
    commit versions only."""
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk_g(spark, 100), ("k",), 2)
    assert tx.txlog_snapshot(tpath)["min_reader"] == 1
    tx.txlog_delete_rows(spark, tpath, "k = 5")
    assert tx.txlog_snapshot(tpath)["min_reader"] == 2
    # pre-DV versions stay readable by protocol-1 builds
    assert tx.txlog_snapshot(tpath, version=1)["min_reader"] == 1
    import unittest.mock as mock

    with mock.patch.object(tx, "READER_VERSION", 1):
        with pytest.raises(tx.TxProtocolError, match="protocol 2"):
            tx.txlog_snapshot(tpath)
        # and therefore every read path refuses too
        with pytest.raises(tx.TxProtocolError):
            tx.txlog_read(spark, tpath)
        tx.txlog_snapshot(tpath, version=1)  # old version still ok


def test_rename_column_is_metadata_only(spark, tpath):
    """RENAME COLUMN journals a logical→physical mapping: zero files
    touched, values intact under the new name, time travel sees the
    old name, writers and skipping indexes keep working across the
    rename (files before/after carry the same physical name)."""
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk_g(spark, 400), ("k",), 2,
                    stats_cols=("g",), bloom_cols=("v",))
    files_v1 = set(tx.txlog_snapshot(tpath)["files"])
    tx.txlog_rename_column(tpath, "g", "grp")
    snap = tx.txlog_snapshot(tpath)
    assert set(snap["files"]) == files_v1
    assert snap["column_map"] == {"grp": "g"}
    assert snap["stats_cols"] == ["grp"]
    df = tx.txlog_read(spark, tpath)
    assert df.columns == ["k", "grp", "v"]
    assert df.filter("grp = 3").count() == 4
    assert tx.txlog_read(spark, tpath, version=1).columns \
        == ["k", "g", "v"]

    # writers stage under the stable physical name
    def merge(stored, delta):
        return (stored.join(delta, on=["k"], how="left_anti")
                .select(*stored.columns).unionByName(delta))
    delta = (spark.range(400, 410)
             .select(F.col("id").alias("k"),
                     F.lit(3).cast("long").alias("grp"),
                     F.lit(8).cast("long").alias("v")))
    tx.txlog_upsert(spark, tpath, delta, merge, ("k",), 2)
    assert tx.txlog_read(spark, tpath).filter("grp = 3").count() == 14
    # zone maps + blooms answer under the NEW logical name across
    # old and new files alike (index keys are physical)
    import os as _os

    d = tx.txlog_read_range(spark, tpath, 3, 3, col="grp")
    assert sorted(r["k"] for r in d.collect()) \
        == [3, 103, 203, 303] + list(range(400, 410))
    pr = tx.txlog_read_point(spark, tpath, "v", [8])
    assert pr.count() == 11  # v=8 → k=4 (v=2k) + the ten upserts
    assert len(pr.inputFiles()) <= len(
        tx.txlog_snapshot(tpath)["files"])
    # metadata aggregates follow the logical name
    assert tx.txlog_minmax(spark, tpath, "grp") == (0, 99)


def test_rename_column_guards_and_rebucket_clears(spark, tpath):
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk_g(spark, 100), ("k",), 2)
    tx.txlog_set_check(spark, tpath, "v_even", "v % 2 = 0")
    with pytest.raises(ValueError, match="CHECK 'v_even'"):
        tx.txlog_rename_column(tpath, "v", "val")
    tx.txlog_drop_check(tpath, "v_even")
    tx.txlog_rename_column(tpath, "v", "val")
    with pytest.raises(ValueError, match="already exists"):
        tx.txlog_rename_column(tpath, "g", "val")
    # the old physical name is still in the files: un-addable,
    # un-renamable-to
    with pytest.raises(ValueError, match="PHYSICALLY"):
        tx.txlog_add_columns(spark, tpath, {"v": "string"})
    with pytest.raises(ValueError, match="PHYSICALLY"):
        tx.txlog_rename_column(tpath, "g", "v")
    # catalog-bucketed reads refuse mapped tables
    with pytest.raises(ValueError, match="column mapping"):
        tx.txlog_read_bucketed(spark, tpath, "ren_t")
    # dropping a renamed column tombstones its PHYSICAL name
    tx.txlog_drop_columns(tpath, ["val"])
    snap = tx.txlog_snapshot(tpath)
    assert snap["dropped_cols"] == ["v"]
    assert snap["column_map"] == {}
    # a layout-changing rebucket rewrites files under logical names:
    # mapping + tombstones clear, physical names free again
    tx.txlog_rebucket(spark, tpath, 4)
    snap = tx.txlog_snapshot(tpath)
    assert snap["dropped_cols"] == [] and snap["column_map"] == {}
    tx.txlog_add_columns(spark, tpath, {"v": "string"})
    tx.txlog_read_bucketed(spark, tpath, "ren_t").count()
    spark.sql("DROP TABLE IF EXISTS ren_t")


def test_rename_bucket_column_keeps_writers_honest(spark, tpath):
    """Renaming a bucket key re-journals the declaration: writers
    declare the NEW logical name and the layout check still guards
    mis-declared stragglers."""
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk_g(spark, 100), ("k",), 2)
    tx.txlog_rename_column(tpath, "k", "id")
    snap = tx.txlog_snapshot(tpath)
    assert snap["bucket_by"] == ["id"]

    def merge(stored, delta):
        return (stored.join(delta, on=["id"], how="left_anti")
                .select(*stored.columns).unionByName(delta))
    delta = (spark.range(100, 105)
             .select(F.col("id").cast("long").alias("id"),
                     F.lit(0).cast("long").alias("g"),
                     F.lit(0).cast("long").alias("v")))
    tx.txlog_upsert(spark, tpath, delta, merge, ("id",), 2)
    assert tx.txlog_count(tpath) == 105
    with pytest.raises(ValueError, match="journaled declaration"):
        tx.txlog_upsert(spark, tpath, delta, merge, ("k",), 2)
    # content identical through the rename + upsert
    got = sorted(tuple(r) for r in
                 tx.txlog_read(spark, tpath).collect())
    assert len(got) == 105 and got[0] == (0, 0, 0)


def test_cluster_health_and_targeted_maintain(spark, tpath):
    """The metadata clustering metric separates z-ordered buckets
    (small per-file spans) from eroded ones, and txlog_maintain
    re-clusters ONLY the stale buckets; vacuum dry_run audits
    without deleting."""
    import os as _os

    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk_xy(spark, 8000), ("k",), 4,
                    stats_cols=("x", "y"))
    h0 = {(r["bucket"], r["col"]): r["avg_span"]
          for r in tx.txlog_cluster_health(
              spark, tpath, ["x", "y"]).collect()}
    assert all(v > 0.9 for v in h0.values())  # unclustered
    tx.txlog_zorder(spark, tpath, ("x", "y"), files_per_bucket=4,
                    bits=6)
    h1 = {(r["bucket"], r["col"]): r["avg_span"]
          for r in tx.txlog_cluster_health(
              spark, tpath, ["x", "y"]).collect()}
    assert all(v < 0.75 for v in h1.values())  # prefix-cell boxes
    # erode bucket clustering with an unsorted upsert wave into a
    # subset of keys, then maintain: only stale buckets re-cluster
    def merge(stored, delta):
        return (stored.join(delta, on=["k"], how="left_anti")
                .select(*stored.columns).unionByName(delta))
    tx.txlog_upsert(spark, tpath, _mk_xy(spark, 2000), merge,
                    ("k",), 4)
    before = _content(spark, tpath)
    out = tx.txlog_maintain(spark, tpath, small_file_rows=None,
                            zorder_by=("x", "y"),
                            zorder_span_threshold=0.5,
                            files_per_bucket=4, bits=6)
    # the upsert rewrote whole buckets (nothing small, no vectors):
    # compact is rightly a no-op, the z-pass fixes the erosion
    assert out["compact"]["version"] is None
    assert out["zorder"]["version"] is not None \
        and out["zorder"]["buckets"]
    assert _content(spark, tpath) == before
    h2 = {(r["bucket"], r["col"]): r["avg_span"]
          for r in tx.txlog_cluster_health(
              spark, tpath, ["x", "y"]).collect()}
    assert all(v < 0.75 for v in h2.values())
    # second maintain: everything clustered, nothing to do
    out2 = tx.txlog_maintain(spark, tpath, zorder_by=("x", "y"),
                             zorder_span_threshold=0.5,
                             files_per_bucket=4, bits=6)
    assert out2["compact"]["version"] is None
    assert out2["zorder"]["version"] is None
    # vacuum dry_run reports without deleting
    would = tx.txlog_vacuum(tpath, retain_versions=0,
                            min_age_sec=0, dry_run=True)
    assert would
    assert all(_os.path.exists(_os.path.join(tpath, n))
               for n in would)
    gone = tx.txlog_vacuum(tpath, retain_versions=0, min_age_sec=0)
    assert gone == would


def test_dv_read_plan_is_broadcast_anti_no_shuffle(spark, tpath):
    """The DV subtraction must plan as scan + BROADCAST anti-join on
    only the vectored files — never a shuffled join (at 100 TB the
    vector side is KBs; an exchange there would be a scale bug)."""
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk_g(spark, 2000), ("k",), 2)
    tx.txlog_delete_rows(spark, tpath, "g = 7")
    plan = (tx.txlog_read(spark, tpath)._jdf.queryExecution()
            .executedPlan().toString())
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan
    # the clean-file branch stays a bare scan: exchanges only appear
    # for the broadcast itself
    assert "Exchange hashpartitioning" not in plan


def test_diff_spans_schema_changes(spark, tpath):
    """The change feed stays well-typed across metadata-only schema
    commits inside its window: a rename-only window is EMPTY (not a
    schema-mismatch crash), inserts after a rename emit under the
    TO-version's names, and a widened column NULL-fills the old
    side."""
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk_g(spark, 100), ("k",), 2)
    v1 = 1
    v2 = tx.txlog_rename_column(tpath, "g", "grp")
    assert tx.txlog_diff(spark, tpath, v1, v2).count() == 0
    tx.txlog_append(spark, tpath, _mk_g(spark, 110)
                    .filter(F.col("k") >= 100)
                    .withColumnRenamed("g", "grp"))
    d = tx.txlog_diff(spark, tpath, v1)
    assert d.columns == ["k", "grp", "v", "_change"]
    rows = d.collect()
    assert len(rows) == 10
    assert all(r["_change"] == "insert" and r["grp"] == r["k"] % 100
               for r in rows)
    # widen + delete across the window: one feed, old side NULL-fills
    v3 = tx.txlog_snapshot(tpath)["version"]
    tx.txlog_add_columns(spark, tpath, {"tag": "string"})
    tx.txlog_delete_rows(spark, tpath, "k = 5")
    d2 = tx.txlog_diff(spark, tpath, v3)
    assert d2.columns == ["k", "grp", "v", "tag", "_change"]
    rows2 = d2.collect()
    assert {(r["k"], r["_change"]) for r in rows2} == {(5, "delete")}
    assert rows2[0]["tag"] is None


def test_concurrent_race_with_new_commit_kinds(spark, tpath):
    """Six writers race one table: two upserters (disjoint key
    ranges), an appender, a DV deleter on its own key range, a
    compactor and a z-orderer.  Layout ops are data-identical and
    the data ops touch disjoint keys, so the final content is
    DETERMINISTIC no matter the interleaving; every writer must
    land (bounded retries) and every live file must carry its
    indexes."""
    import threading

    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk_g(spark, 1000), ("k",), 4,
                    stats_cols=("g",))
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)
    errs: list = []

    def run(fn):
        def body():
            try:
                fn()
            except Exception as e:  # noqa: BLE001
                errs.append(e)
        return threading.Thread(target=body)

    def merge(stored, delta):
        return (stored.join(delta, on=["k"], how="left_anti")
                .select(*stored.columns).unionByName(delta))

    def upserter(lo, hi, v):
        def f():
            delta = (_mk_g(spark, hi).filter(F.col("k") >= lo)
                     .withColumn("v", F.lit(v).cast("long")))
            tx.txlog_upsert(spark, tpath, delta, merge, ("k",), 4,
                            max_retries=60)
        return f

    def appender():
        tx.txlog_append(spark, tpath,
                        _mk_g(spark, 2200).filter(F.col("k") >= 2000))

    def deleter():
        tx.txlog_delete_rows(spark, tpath,
                             "k between 900 and 949",
                             max_retries=60)

    def compactor():
        try:
            tx.txlog_compact(spark, tpath, min_files=2,
                             max_retries=60)
        except tx.TxConflictError:
            pass  # loser against a hot table is acceptable

    def zorderer():
        try:
            tx.txlog_zorder(spark, tpath, ("g", "v"),
                            files_per_bucket=2, bits=4,
                            max_retries=60)
        except tx.TxConflictError:
            pass

    def check_setter():
        # r12: ADD CONSTRAINT races the data writers — the new
        # conflict rule makes THEM re-validate under it; every
        # writer's rows satisfy it, so everyone still lands
        try:
            tx.txlog_set_check(spark, tpath, "v_bound", "v >= 0",
                               max_retries=60)
        except tx.TxConflictError:
            pass  # loser against a hot table is acceptable

    threads = [run(upserter(0, 300, 111)),
               run(upserter(300, 600, 222)),
               run(appender), run(deleter),
               run(compactor), run(zorderer), run(check_setter)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
    assert not errs, errs
    # deterministic final content: upserted values, appended tail,
    # deleted range gone — regardless of layout-op interleavings
    got = {r["k"]: r["v"] for r in
           tx.txlog_read(spark, tpath).collect()}
    assert len(got) == 1000 - 50 + 200
    assert all(got[k] == 111 for k in range(0, 300))
    assert all(got[k] == 222 for k in range(300, 600))
    assert all(got[k] == 2 * k for k in range(600, 900))
    assert all(k not in got for k in range(900, 950))
    assert all(got[k] == 2 * k for k in range(2000, 2200))
    assert tx.txlog_count(tpath) == len(got)
    # every live file journals its zone maps (index maintenance
    # survived whichever writer landed it)
    snap = tx.txlog_snapshot(tpath)
    assert all(n in snap["col_stats"] or n in snap["stats"]
               for n in snap["files"])


def test_drop_column_refuses_check_referenced(spark, tpath):
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk_g(spark, 50), ("k",), 2)
    tx.txlog_set_check(spark, tpath, "v_even", "v % 2 = 0")
    with pytest.raises(ValueError, match="CHECK 'v_even'"):
        tx.txlog_drop_columns(tpath, ["v"])
    tx.txlog_drop_check(tpath, "v_even")
    tx.txlog_drop_columns(tpath, ["v"])
    assert tx.txlog_read(spark, tpath).columns == ["k", "g"]


def test_dv_delete_prune_hint_probes_matching_files_only(spark,
                                                         tpath):
    """A sound prune hint cuts the DV delete's probe scan to the
    files the skipping indexes admit, with identical results; an
    unsound-shape hint refuses."""
    from sstable_hadoop_spark.operators import txlog as tx

    df = _mk_g(spark, 20000).repartition(8, "k")
    tx.txlog_create(spark, tpath, df, ("k",), 8,
                    bloom_cols=("g",), stats_cols=("v",))
    total = len(tx.txlog_snapshot(tpath)["files"])

    # point hint via the bloom column
    v, n = tx.txlog_delete_rows(
        spark, tpath, "g = 7 and k < 1000",
        prune=("point", "g", [7]))
    assert n == 10  # k = 7, 107, ..., 907
    assert tx.txlog_read(spark, tpath).filter(
        "g = 7 and k < 1000").count() == 0
    # range hint via zone maps on v (v = 2k, files are k-clustered
    # only by bucket hash → ranges overlap; correctness must hold
    # regardless of how well they prune)
    v2, n2 = tx.txlog_delete_rows(
        spark, tpath, "v between 30000 and 30010",
        prune=("range", "v", 30000, 30010))
    assert n2 == 6  # even v in [30000, 30010]
    with pytest.raises(ValueError, match="prune hint"):
        tx.txlog_delete_rows(spark, tpath, "g = 1",
                             prune=("bogus", "g", [1]))
    # pruned-to-nothing: absent bloom value commits nothing
    v3, n3 = tx.txlog_delete_rows(
        spark, tpath, "g = 12345",
        prune=("point", "g", [12345]))
    assert n3 == 0 and v3 == tx.txlog_snapshot(tpath)["version"]
    assert total == len(tx.txlog_snapshot(tpath)["files"]) \
        + 0  # no file ever rewritten by any of this


# --- r12: DV application is executor-side; check/clone/diff hardening -------


def test_dv_read_builds_no_driver_position_list(spark, tpath,
                                                monkeypatch):
    """VERDICT r11 weak #1: with several STACKED delete commits the
    read path must never materialize the pending positions on the
    driver — `_dv_positions` (the driver-side decoder) is not called
    by `txlog_read`, the (file, position) pairs are decoded in
    executors from the KB-scale journal entries, and the content
    equals the anti-filtered truth."""
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk_g(spark, 30000), ("k",), 2)
    # three stacked deletes on the same files, no compaction between
    tx.txlog_delete_rows(spark, tpath, "g < 20")
    tx.txlog_delete_rows(spark, tpath, "g >= 20 and g < 35")
    tx.txlog_delete_rows(spark, tpath, "k % 1000 = 999")
    assert tx.txlog_snapshot(tpath)["dvs"]  # vectors still pending

    calls = {"n": 0}
    real = tx._dv_positions

    def spy(entry, table_path):
        calls["n"] += 1
        return real(entry, table_path)

    monkeypatch.setattr(tx, "_dv_positions", spy)
    got = sorted(tuple(r) for r in
                 tx.txlog_read(spark, tpath).collect())
    assert calls["n"] == 0, (
        f"txlog_read decoded {calls['n']} DV entries on the driver")
    want = sorted(
        (k, k % 100, k * 2) for k in range(30000)
        if not (k % 100 < 35 or k % 1000 == 999))
    assert got == want


def test_dv_broadcast_threshold_falls_back_to_shuffle(spark, tpath,
                                                      monkeypatch):
    """The DV anti-join broadcasts while the journaled position total
    is at or under `_DV_BROADCAST_POS` and switches to a shuffled
    anti-join above it (a heavily-vectored table must not balloon
    every executor with an unbounded broadcast).  Content is
    identical on both sides of the switch."""
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk_g(spark, 5000), ("k",), 2)
    tx.txlog_delete_rows(spark, tpath, "g < 10")  # 500 positions

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    df = tx.txlog_read(spark, tpath)
    assert "BroadcastHashJoin" in plan(df)
    want = sorted(tuple(r) for r in df.collect())

    monkeypatch.setattr(tx, "_DV_BROADCAST_POS", 100)
    df2 = tx.txlog_read(spark, tpath)
    p2 = plan(df2)
    assert "BroadcastHashJoin" not in p2, p2
    assert sorted(tuple(r) for r in df2.collect()) == want


def test_check_change_conflicts_inflight_writers(spark, tpath):
    """ADVICE r11: an intervening ADD/DROP CONSTRAINT commit must
    CONFLICT in-flight writers — their rows were validated against
    the OLD check set, so rebasing past it (bucket-disjoint or
    commutative append alike) would commit rows the new constraint
    never saw.  Mirrors the schema-change rule; end-to-end, a
    violating append raced by set_check is refused, never silently
    committed."""
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk_g(spark, 100), ("k",), 2)
    base = tx.txlog_snapshot(tpath)
    tx.txlog_set_check(spark, tpath, "v_small", "v < 10000")
    rec_upsert = {"op": "upsert", "writer": "w1", "buckets": [1],
                  "adds": [], "removes": [], "stats": {},
                  "blooms": {}, "col_stats": {}, "rows": {}}
    assert tx._try_commit(tpath, base, rec_upsert) == "conflict"
    rec_append = {"op": "append", "writer": "w2", "buckets": [0],
                  "adds": [], "removes": [], "stats": {},
                  "blooms": {}, "col_stats": {}, "rows": {}}
    assert tx._try_commit(tpath, base, rec_append,
                          commutative=True) == "conflict"
    # end-to-end: the retried append re-validates under the new set
    bad = (spark.range(40000, 40001).select(
        F.col("id").alias("k"), (F.col("id") % 100).alias("g"),
        (F.col("id") * 2).alias("v")))
    with pytest.raises(tx.TxCheckViolation, match="v_small"):
        tx.txlog_append(spark, tpath, bad)


def test_clone_carries_protocol_and_checks(spark, tmp_path):
    """ADVICE r11: a clone of a vectored table must keep the source's
    reader-protocol floor (min_reader 2 — an old reader scanning the
    cloned files raw would resurrect deleted rows), its CHECK
    constraints, and its dropped-physical-name tombstones."""
    from sstable_hadoop_spark.operators import txlog as tx

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    tx.txlog_create(spark, src, _mk_g(spark, 3000), ("k",), 2)
    tx.txlog_set_check(spark, src, "v_even", "v % 2 = 0")
    tx.txlog_delete_rows(spark, src, "g = 3")
    ssnap = tx.txlog_snapshot(src)
    assert ssnap["min_reader"] == 2 and ssnap["dvs"]
    tx.txlog_clone(spark, src, dst)
    dsnap = tx.txlog_snapshot(dst)
    assert dsnap["min_reader"] == 2
    assert dsnap["checks"] == {"v_even": "v % 2 = 0"}
    # the clone's reads apply the vectors (no resurrection)
    assert tx.txlog_read(spark, dst).filter("g = 3").count() == 0
    # and the carried check gates the clone's writers
    bad = (spark.range(90000, 90001).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("g"),
        F.lit(3).cast("long").alias("v")))
    with pytest.raises(tx.TxCheckViolation, match="v_even"):
        tx.txlog_append(spark, dst, bad)


def test_diff_refuses_rebucket_over_mapped_files(spark, tpath):
    """ADVICE r11: a diff window crossing a rebucket that rewrote
    files while a rename mapping was in effect must FAIL LOUDLY —
    the old side's files carry pre-rename physical names the head's
    cleared mapping no longer describes, so reading them under it
    would silently NULL-fill the renamed column.  Windows on either
    side of the rebucket keep working."""
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk_g(spark, 100), ("k",), 2)
    v1 = 1
    tx.txlog_rename_column(tpath, "g", "grp")
    v_rb = tx.txlog_rebucket(spark, tpath, 4)
    tx.txlog_append(spark, tpath,
                    _mk_g(spark, 110).filter(F.col("k") >= 100)
                    .withColumnRenamed("g", "grp"))
    with pytest.raises(ValueError, match="rebucket"):
        tx.txlog_diff(spark, tpath, v1)
    # windows that do not cross the rebucket still work
    d = tx.txlog_diff(spark, tpath, v_rb)
    assert sorted(r["k"] for r in d.collect()) == list(range(100, 110))
    assert tx.txlog_diff(spark, tpath, v1, v_rb - 1).count() == 0


def test_bloom_vectorized_crc_byte_identity():
    """r12 (VERDICT r11 #6): the fully-vectorized bloom write path
    (`_canon_ragged` + `_crc32_vec`) must produce BYTE-IDENTICAL
    bitsets to the per-value zlib path — old fixtures and journaled
    entries stay valid — including empty strings, multi-byte UTF-8,
    negative and 2^62-scale integers, and both crc seeds."""
    import zlib

    import pyarrow as pa

    from sstable_hadoop_spark.operators import txlog as tx

    vals = ["", "a", "hello", "ünïcode✓", "x" * 100] + \
        [str(i * 7919) for i in range(1000)]
    arr = pa.array(vals, type=pa.string())
    data, off = tx._canon_ragged(arr)
    enc = [v.encode() for v in vals]
    h1, h2 = tx._crc32_vec(data, off, seeds=(0, 0x9E3779B9))
    assert h1.tolist() == [zlib.crc32(b) for b in enc]
    assert h2.tolist() == [zlib.crc32(b, 0x9E3779B9) for b in enc]
    m = 1 << 14
    assert tx._bloom_bitset_ragged(data, off, m) == \
        tx._bloom_bitset(tx._canon_bytes(arr), m)
    ints = pa.array(list(range(-500, 500)) + [2 ** 62],
                    type=pa.int64())
    d2, o2 = tx._canon_ragged(ints)
    assert tx._bloom_bitset_ragged(d2, o2, m) == \
        tx._bloom_bitset(tx._canon_bytes(ints), m)
    # binary/boolean fall back to the list path
    assert tx._canon_ragged(pa.array([b"ab"], pa.binary())) is None
    assert tx._canon_ragged(pa.array([True])) is None
    # empty distinct set: all-zero bitset either way
    e, eo = tx._canon_ragged(pa.array([], pa.string()))
    assert tx._bloom_bitset_ragged(e, eo, m) == bytes(m // 8)


def test_crc32_vec_property_random_bytes():
    """Property pin for the vectorized CRC kernel over ARBITRARY
    byte strings (not just canon shapes): random lengths 0..64,
    all byte values, both seeds, against zlib directly."""
    import random
    import zlib

    import numpy as np

    from sstable_hadoop_spark.operators import txlog as tx

    rng = random.Random(20260816)
    vals = [bytes(rng.randrange(256)
                  for _ in range(rng.choice([0, 1, 2, 3, 5, 8, 13,
                                             21, 34, 64])))
            for _ in range(3000)]
    data = np.frombuffer(b"".join(vals), dtype=np.uint8)
    off = np.zeros(len(vals) + 1, dtype=np.int64)
    np.cumsum([len(v) for v in vals], out=off[1:])
    for seed in (0, 0x9E3779B9, 1, 0xFFFFFFFF):
        (got,) = tx._crc32_vec(data, off, seeds=(seed,))
        want = [zlib.crc32(v, seed) for v in vals]
        assert got.tolist() == want, f"seed {seed:#x}"


def test_table_health_reports_and_recommends(spark, tpath):
    """r12 `txlog_table_health`: a METADATA-only ops report (no Spark
    arg, no data read) whose numbers track the table through its
    lifecycle — fragmented create (compact recommended), compacted
    (clean), DV accumulation (read-mode signal + compact
    recommendation), post-compact recovery — and whose
    recommendations never write anything."""
    from sstable_hadoop_spark.operators import txlog as tx

    tx.txlog_create(spark, tpath, _mk_g(spark, 20000), ("k",), 4,
                    bloom_cols=("g",), stats_cols=("v",))
    h = tx.txlog_table_health(tpath)
    assert h["version"] == 1 and h["n_buckets"] == 4
    assert h["rows_total"] == 20000 and h["dv_rows_pending"] == 0
    assert h["dv_read_mode"] == "broadcast"
    assert h["min_reader"] == 1 and not h["column_mapped"]
    assert h["bloom_cols"] == ["g"] and h["stats_cols"] == ["v"]
    # an unshuffled create is genuinely fragmented (task x bucket
    # files): the report says so
    assert h["files_per_bucket_max"] > 1
    assert h["recommendations"] == ["compact"]
    tx.txlog_compact(spark, tpath, min_files=2)
    hc = tx.txlog_table_health(tpath)
    assert hc["files_per_bucket_max"] == 1 and hc["n_files"] == 4
    assert hc["rows_total"] == 20000
    assert hc["recommendations"] == []
    # vectors accumulate: pending counts, compact recommended, and
    # the read-mode signal flips once past the broadcast bound
    tx.txlog_delete_rows(spark, tpath, "g < 10")
    h2 = tx.txlog_table_health(tpath)
    assert h2["dv_files"] > 0 and h2["dv_rows_pending"] == 2000
    assert h2["rows_total"] == 18000
    assert "compact" in h2["recommendations"]
    import unittest.mock as mock

    with mock.patch.object(tx, "_DV_BROADCAST_POS", 100):
        assert tx.txlog_table_health(tpath)["dv_read_mode"] \
            == "shuffle"
    # checks + protocol state surface; compact clears the DV signal
    tx.txlog_set_check(spark, tpath, "v_pos", "v >= 0")
    tx.txlog_compact(spark, tpath, min_files=1)
    h3 = tx.txlog_table_health(tpath)
    assert h3["dv_rows_pending"] == 0 and h3["dv_files"] == 0
    assert h3["checks"] == ["v_pos"] and h3["min_reader"] == 2
    assert "compact" not in h3["recommendations"]
    # time travel: the report folds at any version
    assert tx.txlog_table_health(tpath, version=2)[
        "dv_rows_pending"] == 0


def test_dv_sidecar_loss_fails_reads_loudly(spark, tpath):
    """A vectored read whose `.dv` sidecar was reclaimed out-of-band
    must FAIL, never silently resurrect the deleted rows — the
    executor-side decode (r12) raises from the worker and the read
    job dies.  (Legitimate reclamation goes through txlog_vacuum,
    which keeps sidecars exactly as long as their data files.)"""
    import os

    import pytest

    from sstable_hadoop_spark.operators import txlog as tx

    # one bucket so all deleted positions land in ONE file and the
    # vector exceeds the 4 KiB inline bound -> sidecar
    tx.txlog_create(
        spark, tpath,
        spark.range(200000).select(
            F.col("id").alias("k"), (F.col("id") % 3).alias("g")),
        ("k",), 1)
    tx.txlog_compact(spark, tpath, min_files=2)
    tx.txlog_delete_rows(spark, tpath, "g = 0")
    snap = tx.txlog_snapshot(tpath)
    sidecars = [e["sidecar"] for e in snap["dvs"].values()
                if "sidecar" in e]
    assert sidecars, "fixture must spill a sidecar"
    assert tx.txlog_count(tpath) == 200000 - 66667
    for s in sidecars:
        os.remove(os.path.join(tpath, s))
    with pytest.raises(Exception, match=r"\.dv|No such file"):
        tx.txlog_read(spark, tpath).count()
