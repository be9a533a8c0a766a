"""LWW merge semantics vs a DuckDB differential oracle (SURVEY.md §5.1)
plus golden-rule unit checks (§5.2) and merge algebra properties (§5.3).
"""

from __future__ import annotations

import base64

import duckdb
import pandas as pd
import pytest

from pyspark.sql import functions as F

from sstable_hadoop_spark.operators import (
    collect_rows,
    explode_cells,
    live_view,
    lww_cell,
    lww_row,
)
from sstable_hadoop_spark.operators.lww import CELL_COLS
from sstable_hadoop_spark.sources.codec import Cell, Row
from tests.conftest import AS_OF_MS, cells_as_records

# The deterministic tie-break order (SURVEY.md §2.4) in DuckDB terms.
_ORDER = ("timestamp DESC, CASE state WHEN 'DELETED' THEN 2 WHEN "
          "'EXPIRING' THEN 1 ELSE 0 END DESC, generation DESC, "
          "coalesce(to_base64(data), '') DESC")


def _oracle_df(cell_fixture) -> pd.DataFrame:
    recs = cells_as_records(cell_fixture)
    return pd.DataFrame({
        "key_b64": [base64.b64encode(r["key"]).decode() for r in recs],
        "name_b64": [base64.b64encode(r["name"]).decode() for r in recs],
        "state": [r["state"] for r in recs],
        "data": [r["data"] for r in recs],
        "timestamp": [r["timestamp"] for r in recs],
        "ttl": pd.array([r["ttl"] for r in recs], dtype="Int64"),
        "expiration": pd.array([r["expiration"] for r in recs], dtype="Int64"),
        "generation": [r["generation"] for r in recs],
    })


def _spark_cells(spark, sstable_dir):
    return explode_cells(spark.read.format("sstable").load(sstable_dir))


def _normalize(rows):
    return sorted(tuple(None if v is None else v for v in r) for r in rows)


ORACLE_LWW_CELL = f"""
    SELECT key_b64, name_b64, state, timestamp, generation,
           coalesce(to_base64(data), '') AS data_b64
    FROM cells
    QUALIFY row_number() OVER (PARTITION BY key_b64, name_b64
                               ORDER BY {_ORDER}) = 1
"""


def test_lww_cell_vs_duckdb(spark, sstable_dir, cell_fixture):
    con = duckdb.connect()
    con.register("cells", _oracle_df(cell_fixture))
    want = _normalize(con.sql(ORACLE_LWW_CELL).fetchall())

    got_df = lww_cell(_spark_cells(spark, sstable_dir)).select(
        F.base64("key").alias("key_b64"),
        F.base64("name").alias("name_b64"),
        "state", "timestamp", "generation",
        F.coalesce(F.base64("data"), F.lit("")).alias("data_b64"))
    got = _normalize(tuple(r) for r in got_df.collect())
    assert got == want


def test_lww_row_vs_duckdb(spark, sstable_dir, cell_fixture):
    con = duckdb.connect()
    con.register("cells", _oracle_df(cell_fixture))
    want = _normalize(con.sql(f"""
        SELECT key_b64, name_b64, state, timestamp, generation
        FROM cells
        QUALIFY row_number() OVER (PARTITION BY key_b64
                                   ORDER BY {_ORDER},
                                   name_b64 DESC) = 1
    """).fetchall())
    got_df = lww_row(_spark_cells(spark, sstable_dir)).select(
        F.base64("key").alias("key_b64"),
        F.base64("name").alias("name_b64"),
        "state", "timestamp", "generation")
    got = _normalize(tuple(r) for r in got_df.collect())
    assert got == want


def test_live_view_vs_duckdb(spark, sstable_dir, cell_fixture):
    con = duckdb.connect()
    con.register("cells", _oracle_df(cell_fixture))
    want = _normalize(con.sql(f"""
        WITH w AS (
            SELECT key_b64, name_b64, state, timestamp, expiration
            FROM cells
            QUALIFY row_number() OVER (PARTITION BY key_b64, name_b64
                                       ORDER BY {_ORDER}) = 1
        )
        SELECT key_b64, name_b64, state, timestamp
        FROM w
        WHERE state != 'DELETED'
          AND (expiration IS NULL OR expiration > {AS_OF_MS})
    """).fetchall())
    got_df = live_view(_spark_cells(spark, sstable_dir), AS_OF_MS).select(
        F.base64("key").alias("key_b64"),
        F.base64("name").alias("name_b64"),
        "state", "timestamp")
    got = _normalize(tuple(r) for r in got_df.collect())
    assert got == want


def test_tombstone_shadows_then_drops(spark):
    """Golden rule A4: newest DELETED wins the merge and suppresses the
    older NORMAL value — the live view must NOT resurrect v1."""
    rows = [(1, Row(b"k", [Cell(b"c", "NORMAL", b"v1", 100)])),
            (2, Row(b"k", [Cell(b"c", "DELETED", None, 200)]))]
    df = spark.createDataFrame(
        [(r.key, [(c.name, c.state, c.data, c.timestamp, c.ttl, c.expiration)
                  for c in r.cells], g) for g, r in rows],
        "key binary, columns array<struct<name:binary,state:string,"
        "data:binary,timestamp:bigint,ttl:bigint,expiration:bigint>>, "
        "generation int")
    cells = explode_cells(df)
    winners = lww_cell(cells).collect()
    assert len(winners) == 1 and winners[0]["state"] == "DELETED"
    assert live_view(cells, AS_OF_MS).count() == 0


def test_timestamp_tie_state_precedence(spark):
    """Equal timestamps: DELETED > EXPIRING > NORMAL (deterministic
    replacement for the reference's iteration-order tie-break,
    SSTableData.scala:52,93)."""
    df = spark.createDataFrame(
        [(b"k", [(b"c", "NORMAL", b"v", 100, None, None),
                 (b"c", "DELETED", None, 100, None, None)], 1)],
        "key binary, columns array<struct<name:binary,state:string,"
        "data:binary,timestamp:bigint,ttl:bigint,expiration:bigint>>, "
        "generation int")
    winners = lww_cell(explode_cells(df)).collect()
    assert winners[0]["state"] == "DELETED"


def test_ttl_expiry_boundary(spark):
    """A5: EXPIRING cell visible strictly before expiration, gone at/after."""
    mk = lambda exp: spark.createDataFrame(
        [(b"k", [(b"c", "EXPIRING", b"v", 100, 60, exp)], 1)],
        "key binary, columns array<struct<name:binary,state:string,"
        "data:binary,timestamp:bigint,ttl:bigint,expiration:bigint>>, "
        "generation int")
    assert live_view(explode_cells(mk(AS_OF_MS + 1)), AS_OF_MS).count() == 1
    assert live_view(explode_cells(mk(AS_OF_MS)), AS_OF_MS).count() == 0
    assert live_view(explode_cells(mk(AS_OF_MS - 1)), AS_OF_MS).count() == 0


def test_merge_is_idempotent_and_generation_order_free(spark, sstable_dir):
    """§5.3 properties: lww_cell(lww_cell(x)) == lww_cell(x); result
    independent of generation arrival order (commutativity)."""
    cells = _spark_cells(spark, sstable_dir)
    once = lww_cell(cells)
    twice = lww_cell(once)
    assert _normalize(map(tuple, once.collect())) == \
        _normalize(map(tuple, twice.collect()))

    shuffled = cells.orderBy(F.desc("generation"), F.base64("data"))
    assert _normalize(map(tuple, lww_cell(shuffled).collect())) == \
        _normalize(map(tuple, once.collect()))


def test_explode_collect_roundtrip(spark, sstable_dir):
    df = spark.read.format("sstable").load(sstable_dir)
    back = collect_rows(explode_cells(df), by_generation=True)
    a = {(bytes(r["key"]), r["generation"],
          tuple(sorted((bytes(c["name"]), c["state"], c["timestamp"])
                       for c in r["columns"])))
         for r in df.collect()}
    b = {(bytes(r["key"]), r["generation"],
          tuple(sorted((bytes(c["name"]), c["state"], c["timestamp"])
                       for c in r["columns"])))
         for r in back.collect()}
    assert a == b


def test_lww_refresh_equals_full_merge(spark):
    """lww(lww(A) ∪ B) == lww(A ∪ B): folding a delta generation into
    stored winners is indistinguishable from the full re-merge —
    including when the stored winner is a TOMBSTONE that the delta
    does not beat (dropping tombstones from the store would resurrect
    the older value)."""
    from sstable_hadoop_spark.operators.lww import lww_cell, lww_refresh

    rows = [
        # k1/c: old value (g1) < tombstone (g2, stored winner);
        # the delta's even-older write must NOT resurrect it
        (b"k1", b"c", "NORMAL", b"old", 100, None, None, 1),
        (b"k1", b"c", "DELETED", None, 200, None, None, 2),
        (b"k1", b"c", "NORMAL", b"stale", 50, None, None, 4),
        # k2/c: delta genuinely wins
        (b"k2", b"c", "NORMAL", b"v1", 100, None, None, 1),
        (b"k2", b"c", "NORMAL", b"v2", 300, None, None, 4),
        # k3/c: delta-only key
        (b"k3", b"c", "NORMAL", b"new", 10, None, None, 4),
        # k4/c: stored-only key survives untouched
        (b"k4", b"c", "EXPIRING", b"t", 70, 60, 999999, 3),
    ]
    schema = ("key binary, name binary, state string, data binary, "
              "timestamp long, ttl long, expiration long, generation int")
    cells = spark.createDataFrame(rows, schema)
    stored = lww_cell(cells.filter(F.col("generation") <= 3))
    delta = cells.filter(F.col("generation") == 4)

    def canon(df):
        return {(bytes(r["key"]), bytes(r["name"])):
                (r["state"], bytes(r["data"] or b""), r["timestamp"],
                 r["generation"])
                for r in df.collect()}

    full = canon(lww_cell(cells))
    refreshed = canon(lww_refresh(stored, delta))
    assert refreshed == full
    assert refreshed[(b"k1", b"c")][0] == "DELETED"  # tombstone held
    assert refreshed[(b"k2", b"c")][1] == b"v2"
    # idempotence: refreshing the refreshed view with the same delta
    # changes nothing
    again = canon(lww_refresh(
        lww_refresh(stored, delta), delta))
    assert again == full


_CELLS = ("key binary, name binary, state string, data binary, "
          "timestamp long, ttl long, expiration long, generation int")


def _py_winners(rows, by_name):
    """Winners of ``rows`` (tuples in ``_CELLS`` order) under the LWW
    total order: timestamp, state rank, generation, base64(data), then
    base64(name) for the row merge, then a present value over a
    missing one."""
    rank = {"DELETED": 2, "EXPIRING": 1}
    b64 = lambda b: base64.b64encode(b or b"").decode()
    best = {}
    for r in rows:
        key, name, state, data, ts, _ttl, _exp, gen = r
        group = (key, name) if by_name else key
        order = (ts, rank.get(state, 0), gen, b64(data),
                 "" if by_name else b64(name), data is not None)
        if group not in best or order > best[group][0]:
            best[group] = (order, r)
    return sorted(r for _o, r in best.values())


def test_lww_full_ties_follow_base64_order(spark):
    """Cells equal on (timestamp, state, generation) fall to
    ``base64(data) DESC`` — ``YQ==`` (b"a") beats ``/w==`` (b"\\xff"),
    where raw bytes would pick b"\\xff" — the row merge then breaks a
    name tie by ``base64(name) DESC``, and a present empty value beats
    a missing one.  The winners do not depend on input order."""
    import random

    rows = [
        (b"k1", b"c", "NORMAL", b"a", 100, None, None, 1),
        (b"k1", b"c", "NORMAL", b"\xff", 100, None, None, 1),
        (b"k2", b"a", "NORMAL", b"v", 100, None, None, 2),
        (b"k2", b"\xff", "NORMAL", b"v", 100, None, None, 2),
        (b"k3", b"c", "NORMAL", None, 100, None, None, 3),
        (b"k3", b"c", "NORMAL", b"", 100, None, None, 3),
    ]
    canon = lambda df: sorted(
        tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
        for r in df.select("key", *CELL_COLS).collect())
    cell = _py_winners(rows, by_name=True)
    row = _py_winners(rows, by_name=False)
    assert [r[3] for r in cell if r[0] != b"k2"] == [b"a", b""]
    assert [r[1] for r in row if r[0] == b"k2"] == [b"a"]
    rng = random.Random(7)
    for _ in range(3):
        df = spark.createDataFrame(rows, _CELLS).repartition(4)
        assert canon(lww_cell(df)) == cell
        assert canon(lww_row(df)) == row
        rng.shuffle(rows)


def _reducer_tasks(spark, df):
    """Task counts of the stages that read a shuffle when ``df`` runs
    into the ``noop`` sink."""
    import uuid

    sc = spark.sparkContext
    group = f"lww-width-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setJobGroup(None, None)
    store, tracker = sc._jsc.sc().statusStore(), sc.statusTracker()
    stages = [store.lastStageAttempt(sid)
              for job in tracker.getJobIdsForGroup(group)
              for sid in tracker.getJobInfo(job).stageIds]
    return [s.numTasks() for s in stages
            if s.status().toString() == "COMPLETE"
            and s.shuffleReadRecords() > 0]


def test_lww_reduce_width_follows_shuffle_size(spark):
    """Under the session's AQE settings the final merge of a few-MiB
    cell shuffle runs on more than one reducer, while a sub-MiB one
    still coalesces to a single task."""
    def cells(n):
        rand = lambda i: F.unhex(F.sha2((F.col("id") + i).cast("string"),
                                        512))
        return spark.range(n).select(
            F.unhex(F.sha2(F.col("id").cast("string"), 256)).alias("key"),
            F.lit(b"c").alias("name"), F.lit("NORMAL").alias("state"),
            F.concat(rand(1), rand(2), rand(3)).alias("data"),
            F.col("id").alias("timestamp"),
            F.lit(None).cast("long").alias("ttl"),
            F.lit(None).cast("long").alias("expiration"),
            F.lit(1).alias("generation"))

    wide = _reducer_tasks(spark, lww_cell(cells(40_000)))
    assert max(wide) >= min(2, spark.sparkContext.defaultParallelism)
    assert _reducer_tasks(spark, lww_cell(cells(1_000))) == [1]
