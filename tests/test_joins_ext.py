"""Extended join operators (r10): bucketized interval join
(operators/intervaljoin.py) and the union+window AS-OF join
(operators/asof.py) — both exist to replace nested-loop range joins
with shuffle-partitionable plans, so the tests pin (a) row-identity
to the naive BETWEEN/argmax semantics and (b) the absence of any
cross-product operator in the physical plan."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------- interval

def _mk_interval_fixture(spark):
    pts = spark.createDataFrame(
        [(i, "u%d" % (i % 3), i * 10) for i in range(60)],
        "pid int, u string, ts long")
    iv = spark.createDataFrame(
        [(1, "u0", 95, 205), (2, "u1", 0, 29), (3, "u2", 300, 310),
         (4, "u0", 100, 100), (5, "u1", 580, 9_999)],
        "wid int, u string, lo long, hi long")
    return pts, iv


def _reference_rows(pts, iv, keyed: bool):
    ref = []
    windows = iv.collect()
    for p in pts.collect():
        for w in windows:
            if keyed and p["u"] != w["u"]:
                continue
            if w["lo"] <= p["ts"] <= w["hi"]:
                ref.append((p["pid"], p["u"], p["ts"],
                            w["wid"], w["lo"], w["hi"]))
    return sorted(ref)


def test_interval_join_matches_between_semantics(spark):
    from sstable_hadoop_spark.operators.intervaljoin import interval_join

    pts, iv = _mk_interval_fixture(spark)
    iv_r = iv.withColumnRenamed("u", "iu")   # unkeyed: disjoint names
    for width in (7, 50, 1000):   # buckets smaller/near/larger than spans
        got = sorted(
            tuple(r) for r in
            interval_join(pts, iv_r, "ts", "lo", "hi", width)
            .select("pid", "u", "ts", "wid", "lo", "hi").collect())
        assert got == _reference_rows(pts, iv, keyed=False), width


def test_interval_join_extra_equi_keys(spark):
    from sstable_hadoop_spark.operators.intervaljoin import interval_join

    pts, iv = _mk_interval_fixture(spark)
    got = sorted(
        tuple(r) for r in
        interval_join(pts, iv, "ts", "lo", "hi", 50, on=["u"])
        .select("pid", "u", "ts", "wid", "lo", "hi").collect())
    assert got == _reference_rows(pts, iv, keyed=True)


def test_interval_join_left_keeps_misses(spark):
    from sstable_hadoop_spark.operators.intervaljoin import interval_join

    pts, iv = _mk_interval_fixture(spark)
    out = interval_join(pts, iv, "ts", "lo", "hi", 50, on=["u"],
                        how="left")
    rows = out.collect()
    matched = [r for r in rows if r["wid"] is not None]
    missed = [r for r in rows if r["wid"] is None]
    assert sorted((r["pid"], r["u"], r["ts"], r["wid"], r["lo"], r["hi"])
                  for r in matched) == _reference_rows(pts, iv, True)
    # every point appears: matched keys + missed keys == all points
    matched_pids = {r["pid"] for r in matched}
    assert {r["pid"] for r in missed} == (
        {r["pid"] for r in pts.collect()} - matched_pids)
    assert all(r["lo"] is None and r["hi"] is None for r in missed)


def test_interval_join_plans_no_nested_loop(spark):
    from sstable_hadoop_spark.operators.intervaljoin import interval_join

    pts, iv = _mk_interval_fixture(spark)
    plan = _plan(interval_join(pts, iv, "ts", "lo", "hi", 50,
                               on=["u"]))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # and the naive BETWEEN join would have been a nested loop
    naive = pts.join(iv, (pts["ts"] >= iv["lo"]) & (pts["ts"] <= iv["hi"]))
    assert "NestedLoop" in _plan(naive) or "Cartesian" in _plan(naive)


def test_interval_join_guards(spark):
    from pyspark.errors import SparkRuntimeException

    from sstable_hadoop_spark.operators.intervaljoin import interval_join

    pts, iv = _mk_interval_fixture(spark)
    with pytest.raises(ValueError, match="inner/left"):
        interval_join(pts, iv, "ts", "lo", "hi", 50, how="full")
    with pytest.raises(ValueError, match="positive"):
        interval_join(pts, iv, "ts", "lo", "hi", 0)
    # shared non-key column name is refused
    iv2 = iv.withColumnRenamed("wid", "pid")
    with pytest.raises(ValueError, match="ambiguous"):
        interval_join(pts, iv2, "ts", "lo", "hi", 50)
    # an interval spanning too many buckets fails loudly, not OOM
    huge = spark.createDataFrame([(1, "u0", 0, 10_000_000_000)],
                                 "wid int, u string, lo long, hi long")
    with pytest.raises(SparkRuntimeException,
                       match="max_buckets_per_interval"):
        interval_join(pts, huge, "ts", "lo", "hi", 1,
                      on=["u"]).collect()


# ------------------------------------------------------------------- asof

def test_asof_join_hand_case(spark):
    from sstable_hadoop_spark.operators.asof import asof_join

    quotes = spark.createDataFrame(
        [("a", 100, 10.0), ("a", 200, 11.0), ("a", 200, 11.5),
         ("b", 150, 5.0)],
        "sym string, ts long, px double")
    trades = spark.createDataFrame(
        [("a", 99, 1), ("a", 100, 2), ("a", 250, 3),
         ("b", 100, 4), ("b", 151, 5), ("c", 500, 6)],
        "sym string, ts long, qty int")
    out = {r["qty"]: (r["ts_asof"], r["px_asof"]) for r in
           asof_join(trades, quotes, on="sym", left_ts="ts").collect()}
    assert out[1] == (None, None)          # before any quote
    assert out[2] == (100, 10.0)           # equal ts matches (inclusive)
    assert out[3][0] == 200                # latest prior
    assert out[3][1] in (11.0, 11.5)       # tie: deterministic pick
    assert out[4] == (None, None)
    assert out[5] == (150, 5.0)
    assert out[6] == (None, None)          # key with no rights
    # determinism of the tie pick across runs
    again = {r["qty"]: r["px_asof"] for r in
             asof_join(trades, quotes, on="sym", left_ts="ts").collect()}
    assert again[3] == out[3][1]


def test_asof_join_tolerance_and_bruteforce(spark):
    import random

    from sstable_hadoop_spark.operators.asof import asof_join

    rng = random.Random(7)
    rights = [("k%d" % rng.randrange(4), rng.randrange(1000), i)
              for i in range(120)]
    lefts = [("k%d" % rng.randrange(5), rng.randrange(1000), i)
             for i in range(150)]
    # dedupe rights on (key, ts): the tie pick is deterministic but
    # arbitrary, so the brute-force reference dedupes the same way
    seen = {}
    for k, t, v in rights:
        seen[(k, t)] = v
    rights = [(k, t, v) for (k, t), v in seen.items()]
    rdf = spark.createDataFrame(rights, "k string, ts long, rv int")
    ldf = spark.createDataFrame(lefts, "k string, ts long, lv int")
    for tol in (None, 50):
        got = {r["lv"]: r["rv_asof"] for r in
               asof_join(ldf, rdf, on="k", left_ts="ts",
                         tolerance=tol).collect()}
        for k, t, lv in lefts:
            cand = [(rt, rv) for rk, rt, rv in rights
                    if rk == k and rt <= t
                    and (tol is None or t - rt <= tol)]
            exp = max(cand)[1] if cand else None
            assert got[lv] == exp, (k, t, lv, tol)


def test_asof_join_single_exchange_no_join(spark):
    from sstable_hadoop_spark.operators.asof import asof_join

    rdf = spark.createDataFrame([("a", 1, 1)], "k string, ts long, rv int")
    ldf = spark.createDataFrame([("a", 2, 2)], "k string, ts long, lv int")
    plan = _plan(asof_join(ldf, rdf, on="k", left_ts="ts"))
    assert "Join" not in plan            # union + window, no join at all
    assert "CartesianProduct" not in plan


def test_asof_join_suffix_collision(spark):
    from sstable_hadoop_spark.operators.asof import asof_join

    rdf = spark.createDataFrame([("a", 1, 1)], "k string, ts long, rv int")
    ldf = spark.createDataFrame([("a", 2, 2)],
                                "k string, ts long, rv_asof int")
    with pytest.raises(ValueError, match="suffix"):
        asof_join(ldf, rdf, on="k", left_ts="ts")


# --- skew_join (r10) --------------------------------------------------------

def _skew_frames(spark):
    left = spark.createDataFrame(
        [(1, i) for i in range(500)]            # hot key
        + [(k, k * 10) for k in range(2, 40)]   # cold keys
        + [(99, 0), (None, -1)],                # right-miss + NULL key
        "k long, v long")
    right = spark.createDataFrame(
        [(k, f"r{k}") for k in range(1, 40)] + [(77, "x")],
        "k long, tag string")
    return left, right


def _rows(df):
    return sorted(((r.k is None, r.k), r.v, (r.tag is None, r.tag))
                  for r in df.collect())


def test_skew_join_row_identical_inner_and_left(spark):
    from sstable_hadoop_spark.operators.skew import skew_join

    left, right = _skew_frames(spark)
    for how in ("inner", "left"):
        want = _rows(left.join(right, "k", how))
        assert _rows(skew_join(left, right, "k", how,
                               hot_keys=[1])) == want
        # auto-detection: whatever it decides, rows are identical
        assert _rows(skew_join(left, right, "k", how,
                               sample_rows_per_partition=50)) == want
        # no hot keys declared and none detected -> plain join path
        assert _rows(skew_join(left.filter("k > 1"), right, "k", how,
                               hot_keys=[])) \
            == _rows(left.filter("k > 1").join(right, "k", how))


def test_skew_join_plans_two_legs(spark):
    from sstable_hadoop_spark.operators.skew import skew_join

    left, right = _skew_frames(spark)
    plan = skew_join(left, right, "k", hot_keys=[1]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_skew_join_rejects_right_retaining(spark):
    import pytest as _pytest

    from sstable_hadoop_spark.operators.skew import skew_join

    left, right = _skew_frames(spark)
    with _pytest.raises(ValueError, match="inner/left"):
        skew_join(left, right, "k", how="right")


def test_skew_join_tolerates_none_in_declared_hot_keys(spark):
    """Review r10: a None in hot_keys poisoned isin into three-valued
    logic and BOTH legs dropped every non-listed key."""
    from sstable_hadoop_spark.operators.skew import skew_join

    left, right = _skew_frames(spark)
    want = _rows(left.join(right, "k", "inner"))
    assert _rows(skew_join(left, right, "k", "inner",
                           hot_keys=[1, None])) == want
    assert _rows(skew_join(left, right, "k", "inner",
                           hot_keys=[None])) == want
