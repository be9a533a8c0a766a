"""``operators/skew.py``: the head-sample probe's two paths and the
size gate in front of ``skew_join``'s hot-key detection.

The JVM and Python head-sample paths must sample the same rows, the
JVM path is only taken for small scan-shaped inputs, and inputs below
the skew gate answer from metadata with zero probe jobs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import jobs_triggered, mk_parquet


def test_head_sample_jvm_and_python_paths_sample_identically(spark, tmp_path):
    from sstable_hadoop_spark.operators import _util, skew

    src = str(tmp_path / "ev.parquet")
    spark.range(5000).select(
        (F.col("id") % 37).alias("k"), F.col("id").alias("v")) \
        .coalesce(2).write.parquet(src)
    df = spark.read.parquet(src)

    old = _util._JVM_PROBE_MAX_BYTES
    try:
        _util._JVM_PROBE_MAX_BYTES = 256 * 1024 * 1024  # force JVM path
        jvm = skew._head_sample(df, ["k", "v"], 100, _util.plan_shape(df))
        assert "mapInPandas" not in jvm._jdf.queryExecution() \
            .analyzed().toString()
        jvm_rows = sorted((r["k"], r["v"]) for r in jvm.collect())
        _util._JVM_PROBE_MAX_BYTES = 0  # force Python path
        py = skew._head_sample(df, ["k", "v"], 100, _util.plan_shape(df))
        py_rows = sorted((r["k"], r["v"]) for r in py.collect())
    finally:
        _util._JVM_PROBE_MAX_BYTES = old
    assert jvm_rows == py_rows
    # per-partition head, not a global limit: 100 rows from each of 2
    assert len(jvm_rows) == 200


def test_head_sample_jvm_path_requires_scan_shape(spark, tmp_path):
    """ADVICE r12: the JVM head-sample's size bound is on leaf FILE
    bytes, so a row-expanding plan below (explode) must fall back to
    the early-stopping mapInPandas path; a plain scan keeps the
    codegen path (no Python nodes in the plan)."""
    from sstable_hadoop_spark.operators._util import plan_shape
    from sstable_hadoop_spark.operators.skew import _head_sample

    df = mk_parquet(spark, tmp_path, n=200, name="hs")
    plain = _head_sample(df, ["k"], 5, plan_shape(df))
    plan = plain._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "MapInPandas" not in plan

    exploded = df.select(F.explode(F.array_repeat(F.col("k"), 3))
                         .alias("k"))
    ex = _head_sample(exploded, ["k"], 5, plan_shape(exploded))
    plan_ex = ex._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan_ex or "EvalPython" in plan_ex


def test_head_sample_python_map_takes_python_path(spark, tmp_path):
    """A Python map below changes per-partition row positions and
    would run in full under the codegen filter: a tiny input under
    mapInPandas or mapInArrow keeps the early-stopping Python path."""
    from sstable_hadoop_spark.operators._util import plan_shape
    from sstable_hadoop_spark.operators.skew import _head_sample

    df = mk_parquet(spark, tmp_path, n=200, name="pm")
    for mapped in (df.mapInPandas(lambda it: it, df.schema),
                   df.mapInArrow(lambda it: it, df.schema)):
        sample = _head_sample(mapped, ["k"], 5, plan_shape(mapped))
        plan = sample._jdf.queryExecution().analyzed()
        assert plan.nodeName() == "MapInPandas"  # the early-stopping take
        assert "monotonically_increasing_id" not in plan.toString()
        assert sample.count() == 5 * mapped.rdd.getNumPartitions()


def test_skew_probe_size_gate(spark, tmp_path):
    """Inputs provably below AQE's skewed-partition threshold answer
    the hot-key question from metadata — zero probe jobs — and the
    gated decision can never change results (both join legs exact)."""
    from sstable_hadoop_spark.operators import _util, skew

    src = str(tmp_path / "tiny.parquet")
    spark.range(4000).select(
        F.when(F.col("id") % 2 == 0, F.lit(-1)).otherwise(F.col("id"))
         .alias("k"), F.col("id").alias("v")).coalesce(1).write.parquet(src)
    df = spark.read.parquet(src)
    right = spark.range(50).select(F.col("id").alias("k"),
                                   (F.col("id") * 2).alias("w"))
    want = sorted(map(tuple, df.join(right, "k", "inner").collect()))

    # heavily skewed data, but tiny: no probe jobs at build, the plain
    # join, row-identical
    j, jobs = jobs_triggered(
        spark, lambda: skew.skew_join(df, right, "k", "inner",
                                      hot_keys=None))
    assert jobs == 0
    assert "Union" not in j._jdf.queryExecution().analyzed().toString()
    assert sorted(map(tuple, j.collect())) == want

    # the same data through the probe (gate disabled) DOES find the hot
    # key — the gate is a size decision, not a detection change
    old = _util._SKEW_MIN_INPUT_BYTES
    try:
        _util._SKEW_MIN_INPUT_BYTES = 0
        j = skew.skew_join(df, right, "k", "inner", hot_keys=None)
    finally:
        _util._SKEW_MIN_INPUT_BYTES = old
    assert "Union" in j._jdf.queryExecution().analyzed().toString()
    assert sorted(map(tuple, j.collect())) == want


def test_skew_decision_walks_the_plan_once(spark, tmp_path, monkeypatch):
    """The size gate and the head-sample path choice read one
    ``plan_shape`` walk: a probing ``skew_join`` builds exactly one
    shape."""
    from sstable_hadoop_spark.operators import _util, skew

    calls = []
    real = _util.plan_shape

    def counting(df):
        calls.append(df)
        return real(df)

    monkeypatch.setattr(_util, "plan_shape", counting)
    monkeypatch.setattr(_util, "_SKEW_MIN_INPUT_BYTES", 0)  # probe runs
    df = mk_parquet(spark, tmp_path, n=300, name="once")
    right = spark.range(5).select(F.col("id").alias("k"))
    skew.skew_join(df, right, "k", hot_keys=None)
    assert len(calls) == 1
