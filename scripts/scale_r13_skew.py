#!/usr/bin/env python
"""r13 VERDICT #4: a standing measured number for the SALTED skew path
at a scale ABOVE the probe gate.

At sf10 the events parquet (~112 MB) exceeds _util._SKEW_MIN_INPUT_BYTES
(64 MiB), so ``lww_cell(skew="auto")`` really probes and — with ~40 %
of all cells remapped onto one hot row key (the lww_skewed_auto bench
shape) — takes the salted two-phase merge; ``skew_join`` really
samples hot keys.  Interleaved min-of-N, result-identity checked via
full-column checksums.

Usage: python scripts/scale_r13_skew.py [/tmp/testdata/sf10] [rounds]
"""
import os
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from sstable_hadoop_spark.operators.lww import lww_cell  # noqa: E402
from sstable_hadoop_spark.operators._util import (  # noqa: E402
    _SKEW_MIN_INPUT_BYTES,
)
from sstable_hadoop_spark.operators.skew import (  # noqa: E402
    detect_group_skew,
    skew_join,
)
from sstable_hadoop_spark.plans import get_session  # noqa: E402
from sstable_hadoop_spark.queries import derived_cells, load  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/tmp/testdata/sf10"
ROUNDS = int(sys.argv[2]) if len(sys.argv) > 2 else 3


def skewed_cells(spark):
    cells = derived_cells(spark, SF_DIR)
    return cells.withColumn(
        "key",
        F.when(F.decode(F.col("key"), "UTF-8").cast("int") % 5 < 2,
               F.encode(F.lit("hot"), "UTF-8"))
         .otherwise(F.col("key")))


def checksum(df):
    cols = [F.col(c).cast("string") for c in df.columns]
    return df.select(
        F.sum(F.xxhash64(*cols)).alias("h"),
        F.count(F.lit(1)).alias("n")).collect()[0]


def main():
    spark = get_session("scale_r13_skew")
    spark.sparkContext.setLogLevel("ERROR")
    ev_bytes = os.path.getsize(os.path.join(SF_DIR, "events.parquet"))
    print(f"events.parquet={ev_bytes/2**20:.1f} MiB  "
          f"gate={_SKEW_MIN_INPUT_BYTES/2**20:.0f} MiB  "
          f"above_gate={ev_bytes > _SKEW_MIN_INPUT_BYTES}")
    sk = skewed_cells(spark)
    t0 = time.perf_counter()
    flagged = detect_group_skew(sk, ["key", "name"])
    print(f"detect_group_skew={flagged} probe_wall={time.perf_counter()-t0:.3f}")

    variants = {
        "lww_plain":  lambda: lww_cell(skewed_cells(spark), skew="never"),
        "lww_salted": lambda: lww_cell(skewed_cells(spark), skew="always"),
        "lww_auto":   lambda: lww_cell(skewed_cells(spark), skew="auto"),
    }
    ev = load(spark, SF_DIR, "events").select(
        "user_id", F.floor(F.col("value") * 100 + 0.5).cast("long")
        .alias("value_c"))
    cust = load(spark, SF_DIR, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("seg"))
    variants["join_plain"] = lambda: ev.join(cust, "user_id", "left")
    variants["join_auto"] = lambda: skew_join(ev, cust, "user_id", "left",
                                              hot_keys=None)

    for name, fn in variants.items():  # warm plan shapes
        fn().write.format("noop").mode("overwrite").save()
    res = {k: [] for k in variants}
    for r in range(ROUNDS):
        for name, fn in variants.items():
            spark.sparkContext.setJobDescription(f"{name} r{r}")
            t0 = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            res[name].append(time.perf_counter() - t0)
    for k, v in res.items():
        print(f"{k:12s} min={min(v):.3f} all={[round(x, 3) for x in v]}")

    # result identity (the property both operators certify)
    a, b = checksum(variants["lww_plain"]()), checksum(variants["lww_auto"]())
    print(f"lww identity: plain=({a['h']},{a['n']}) auto=({b['h']},{b['n']}) "
          f"equal={tuple(a) == tuple(b)}")
    c, d = checksum(variants["join_plain"]()), checksum(variants["join_auto"]())
    print(f"join identity: plain=({c['h']},{c['n']}) auto=({d['h']},{d['n']}) "
          f"equal={tuple(c) == tuple(d)}")


if __name__ == "__main__":
    main()
