"""The benchmark's operations: one public-API Spark job per workload,
each returning what is needed to check its output against the fixture
manifest.

Outputs are checked with an order-insensitive digest: the sum of
``crc32`` over the canonical bytes of every output record
(``fixtures.cell_bytes``).  For the ``noop`` job the digest rides on
the timed job itself through ``DataFrame.observe`` (no extra job);
compaction output is read back with the codec after the timed window.
"""

from __future__ import annotations

import os
import shutil

from fixtures import flat_crc

#: what each workload's operation reads: the ``kind`` of its scan and
#: whether it writes SSTables (decides which Spark stage is the sink's)
KIND = {"merge_snapshot": "cells", "compact_gc": "data"}
WRITES = {"merge_snapshot": False, "compact_gc": True}


def _cell_expr(F, name, state, data, ts, ttl, exp):
    """Spark twin of ``fixtures.cell_bytes``."""
    sep = F.unhex(F.lit("00"))
    empty = F.unhex(F.lit(""))

    def num(c):
        return F.coalesce(c.cast("string").cast("binary"), empty)

    return F.concat(name, sep, state.cast("binary"), sep,
                    F.coalesce(data, empty), sep, num(ts), sep, num(ttl),
                    sep, num(exp))


def _flat_digest(F):
    """Per-record digest term of a flat cell DataFrame
    (``fixtures.flat_crc``)."""
    c = F.col
    sep = F.unhex(F.lit("00"))
    return F.crc32(F.concat(
        c("key"), sep,
        _cell_expr(F, c("name"), c("state"), c("data"), c("timestamp"),
                   c("ttl"), c("expiration")),
        sep, c("generation").cast("string").cast("binary")))


def merge_snapshot(spark, fx: dict, work: str) -> dict:
    """kind=cells scan → ``lww_cell`` → noop sink."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from sstable_hadoop_spark.operators.lww import lww_cell

    cells = (spark.read.format("sstable").option("kind", "cells")
             .load(fx["dir"]))
    obs = Observation()
    (lww_cell(cells)
     .observe(obs, F.count(F.lit(1)).alias("n"),
              F.sum(_flat_digest(F)).alias("h"))
     .write.format("noop").mode("overwrite").save())
    return obs.get


def compact_gc(spark, fx: dict, work: str) -> dict:
    """``compaction.compact`` with ``gc_before_ms`` into a fresh dir."""
    from sstable_hadoop_spark.operators.compaction import compact

    out = os.path.join(work, "compact-out")
    shutil.rmtree(out, ignore_errors=True)
    compact(spark, fx["dir"], out, gc_before_ms=fx["gc_before_ms"])
    return {"out": out}


OPS = {"merge_snapshot": merge_snapshot, "compact_gc": compact_gc}


def read_back(out: str) -> dict:
    """Digest and storage footprint of a compaction output directory,
    read with the codec (outside any timed window)."""
    from sstable_hadoop_spark.sources import codec

    n = h = 0
    generations = set()
    files = written = 0
    for root, _dirs, names in os.walk(out):
        for fn in names:
            path = os.path.join(root, fn)
            written += os.path.getsize(path)
            if not fn.endswith("-Data.db") or fn.startswith((".", "_")):
                continue
            files += 1
            gen = codec.generation_of(path)
            generations.add(gen)
            for row in codec.read_data_rows(path):
                for c in row.cells:
                    h += flat_crc(row.key, (c.name, c.state, c.data,
                                            c.timestamp, c.ttl,
                                            c.expiration), gen)
                    n += 1
    return {"n": n, "h": h, "generations": sorted(generations),
            "files": files, "bytes": written}


def check(workload: str, fx: dict, result: dict) -> tuple[bool, dict]:
    """Compare one operation's result with the manifest; returns
    (ok, extra facts such as the compaction output footprint)."""
    exp = fx["expected"]
    if workload == "merge_snapshot":
        want = exp["merge"]
        return (result["n"] == want["n"] and result["h"] == want["h"]), {}
    got = read_back(result["out"])
    shutil.rmtree(result["out"], ignore_errors=True)
    want = exp["compact"]
    ok = (got["n"] == want["n"] and got["h"] == want["h"]
          and got["generations"] == [fx["new_generation"]])
    return ok, got
