"""``operators/_util.py``: the structural plan probe ``plan_shape`` and
the ``ensure_parallelism`` decisions built on it.

ensure_parallelism must never EXECUTE upstream stages at
DataFrame-build time (``df.rdd`` under AQE runs every stage below an
exchange), must spread tiny post-shuffle intermediates, must not stack
a second exchange on an already-repartitioned plan, and must see
through single-row-group parquet files.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import jobs_triggered, mk_parquet


def test_ensure_parallelism_never_runs_jobs_at_build_time(spark, tmp_path):
    from sstable_hadoop_spark.operators._util import ensure_parallelism

    src = str(tmp_path / "docs.parquet")
    spark.range(2000).select(
        F.col("id"), (F.col("id") % 7).alias("k")).coalesce(1) \
        .write.parquet(src)
    base = spark.read.parquet(src)

    # post-shuffle plan: the old implementation ran the aggregation
    # here (AQE materializes stages to answer getNumPartitions)
    agg = base.groupBy("k").agg(F.count("*").alias("n"))
    fixed, jobs = jobs_triggered(spark, lambda: ensure_parallelism(agg))
    assert jobs == 0, "ensure_parallelism executed upstream stages"
    # tiny input (file metadata) → the per-row-heavy chain after the
    # shuffle gets spread over the cores via one explicit repartition
    plan = fixed._jdf.queryExecution().analyzed().toString()
    assert "Repartition" in plan
    # ...and a second ensure_parallelism must NOT stack another one
    again, jobs2 = jobs_triggered(spark, lambda: ensure_parallelism(fixed))
    assert jobs2 == 0
    assert again is fixed

    # results unchanged by the inserted exchange
    assert sorted(r["n"] for r in fixed.collect()) == \
        sorted(r["n"] for r in agg.collect())

    # leaf scan: the row-group probe path still applies (no jobs either)
    leaf, jobs3 = jobs_triggered(spark, lambda: ensure_parallelism(base))
    assert jobs3 == 0


def test_ensure_parallelism_cogroup_starts_no_jobs(spark, tmp_path):
    """A cogrouped applyInPandas plans to two exchanges
    (FlatMapCoGroupsInPandas): probing ``df.rdd`` on it would run them
    at build time, so ensure_parallelism must take the post-shuffle
    branch."""
    from sstable_hadoop_spark.operators._util import ensure_parallelism

    base = mk_parquet(spark, tmp_path, n=500, name="cg")
    cg = base.groupBy("k").cogroup(base.groupBy("k")).applyInPandas(
        lambda left, right: left, base.schema)
    out, jobs = jobs_triggered(spark, lambda: ensure_parallelism(cg))
    assert jobs == 0, "ensure_parallelism executed the cogroup"
    assert sorted(map(tuple, out.collect())) == \
        sorted(map(tuple, base.collect()))


_IDENT = lambda it: it  # noqa: E731

#: case → (build the DataFrame from a parquet scan, expected flags)
_SHAPE_CASES = {
    "scan": (lambda b: b, set()),
    "aggregate": (lambda b: b.groupBy("k").count(), {"has_exchange"}),
    "apply_in_pandas": (lambda b: b.groupBy("k").applyInPandas(
        _IDENT, b.schema), {"has_exchange"}),
    "apply_in_arrow": (lambda b: b.groupBy("k").applyInArrow(
        _IDENT, b.schema), {"has_exchange"}),
    "cogroup_pandas": (lambda b: b.groupBy("k").cogroup(
        b.groupBy("k")).applyInPandas(lambda x, y: x, b.schema),
        {"has_exchange"}),
    "cogroup_arrow": (lambda b: b.groupBy("k").cogroup(
        b.groupBy("k")).applyInArrow(lambda x, y: x, b.schema),
        {"has_exchange"}),
    "map_in_pandas": (lambda b: b.mapInPandas(_IDENT, b.schema),
                      {"has_python_map"}),
    "map_in_arrow": (lambda b: b.mapInArrow(_IDENT, b.schema),
                     {"has_python_map"}),
    "pandas_udf": (lambda b: b.select(
        F.pandas_udf(_IDENT, "long")("id")), set()),
    "explode": (lambda b: b.select(F.explode(F.array("k", "id"))),
                {"has_generate"}),
    "repartition": (lambda b: b.repartition(3),
                    {"has_exchange", "repartitioned"}),
    "rebalance": (lambda b: b.hint("rebalance"),
                  {"has_exchange", "repartitioned"}),
    "except_all": (lambda b: b.exceptAll(b), {"has_exchange"}),
    "intersect_all": (lambda b: b.intersectAll(b), {"has_exchange"}),
    "scalar_subquery": (lambda b: b.filter(
        F.col("k") > b.select(F.avg("k")).scalar()), {"has_exchange"}),
    "checkpointed": (lambda b: b.groupBy("k").count()
                     .localCheckpoint(eager=True), set()),
}

_FLAGS = ("has_exchange", "repartitioned", "has_generate",
          "has_python_map")


@pytest.mark.parametrize("case", list(_SHAPE_CASES))
def test_plan_shape_classifies_every_node_kind(spark, tmp_path, case):
    """One case per Python node kind and per exchange-bearing shape
    the build-time decisions care about, subquery plans included."""
    from sstable_hadoop_spark.operators._util import plan_shape

    build, flags = _SHAPE_CASES[case]
    shape = plan_shape(build(mk_parquet(spark, tmp_path, n=300)))
    assert {f for f in _FLAGS if getattr(shape, f)} == flags


def test_plan_shape_file_facts_and_streams(spark, tmp_path):
    """Leaf bytes, row groups and footer rows come from the scan's
    files; a non-file leaf knows none of them; a stream has no shape."""
    import os

    from sstable_hadoop_spark.operators._util import plan_shape

    base = mk_parquet(spark, tmp_path, n=300, name="ff")
    shape = plan_shape(base.groupBy("k").count())
    files = [f for f in os.listdir(tmp_path / "ff")
             if f.endswith(".parquet")]
    assert shape.leaf_bytes == sum(
        os.path.getsize(tmp_path / "ff" / f) for f in files)
    assert (shape.row_groups, shape.est_rows) == (1, 300)

    rng = plan_shape(spark.range(10))
    assert (rng.leaf_bytes, rng.row_groups, rng.est_rows) == \
        (None, None, None)
    stream = spark.readStream.format("rate").load()
    assert plan_shape(stream) is None


def test_rows_per_slot_caps_tiny_fanout(spark, tmp_path):
    """A light-per-row call site caps the repartition width at
    ceil(rows / rows_per_slot): tiny inputs stop fanning to every
    core, while large inputs (rows >> slot * target) keep the full
    target width — the cap is scale-adaptive, not local-tuned."""
    from sstable_hadoop_spark.operators._util import ensure_parallelism

    df = mk_parquet(spark, tmp_path, n=1000)
    assert df.rdd.getNumPartitions() == 1

    # 1000 rows / 100 rows-per-slot = 10 < target 16
    out = ensure_parallelism(df, min_partitions=16, rows_per_slot=100)
    assert out.rdd.getNumPartitions() == 10

    # heavy rows (slot=1): the cap is far above the target — full width
    out = ensure_parallelism(df, min_partitions=16, rows_per_slot=1)
    assert out.rdd.getNumPartitions() == 16

    # no hint: unchanged r12 behavior (full target width)
    out = ensure_parallelism(df, min_partitions=16)
    assert out.rdd.getNumPartitions() == 16

    # never below 2, even for a handful of rows
    tiny = mk_parquet(spark, tmp_path, n=3, name="tiny")
    out = ensure_parallelism(tiny, min_partitions=16, rows_per_slot=100)
    assert out.rdd.getNumPartitions() == 2


def test_rows_per_slot_post_shuffle_branch(spark, tmp_path):
    """The post-shuffle tiny-input repartition honors the cap too (the
    corpus chains run per-row work after a dedup exchange)."""
    from sstable_hadoop_spark.operators._util import ensure_parallelism

    df = mk_parquet(spark, tmp_path, n=1000, name="ps")
    agg = df.groupBy("k").agg(F.count("*").alias("n"))
    out = ensure_parallelism(agg, min_partitions=16, rows_per_slot=100)
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "Repartition" in plan
    assert out.rdd.getNumPartitions() == 10


def test_shuffle_node_matching_is_line_anchored(spark):
    """ADVICE r12: nodes are matched by class, never by text — a
    CamelCase COLUMN name like SortKey/WindowStart must not route a
    leaf scan into the post-shuffle branch, and SQL DISTINCT (analyzed
    plan node ``Distinct``) must be seen as a shuffle."""
    from sstable_hadoop_spark.operators._util import plan_shape

    leaf = spark.range(10).select(
        F.col("id").alias("SortKey"),
        F.col("id").alias("WindowStart"),
        F.col("id").alias("JoinDate"),
        F.col("id").alias("AggregateRoot"))
    assert plan_shape(leaf).has_exchange is False

    leaf.createOrReplaceTempView("r13_leaf_v")
    distinct_sql = spark.sql("SELECT DISTINCT SortKey FROM r13_leaf_v")
    assert plan_shape(distinct_sql).has_exchange is True

    assert plan_shape(
        spark.range(10).groupBy("id").count()).has_exchange is True


def test_ensure_parallelism_sees_through_row_groups(spark, tmp_path):
    """A big parquet file written as ONE row group presents many
    byte-range partitions that are all empty but one; the effective-
    splits probe must catch it and repartition.  A multi-row-group
    file of the same shape must be left alone (no added shuffle)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sstable_hadoop_spark.operators._util import (
        ensure_parallelism,
        plan_shape,
    )

    tbl = pa.table({"x": list(range(200_000)),
                    "s": ["pad" * 20] * 200_000})
    one = str(tmp_path / "one.parquet")
    many = str(tmp_path / "many.parquet")
    pq.write_table(tbl, one, row_group_size=1 << 21)
    pq.write_table(tbl, many, row_group_size=4096)

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "262144")
        df1 = spark.read.parquet(one)
        assert df1.rdd.getNumPartitions() > 2  # LOOKS parallel
        assert plan_shape(df1).row_groups == 1  # is not
        fixed = ensure_parallelism(df1)
        assert fixed.rdd.getNumPartitions() == \
            spark.sparkContext.defaultParallelism

        dfm = spark.read.parquet(many)
        assert plan_shape(dfm).row_groups >= 16
        assert ensure_parallelism(dfm) is dfm  # untouched: no shuffle
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    # non-file plans: probe answers None, repartition logic unaffected
    assert plan_shape(
        spark.range(10).groupBy().count()).row_groups is None
