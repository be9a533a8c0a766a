from __future__ import annotations

import random

import pytest

from sstable_hadoop_spark.sources.codec import (
    STATE_DELETED,
    STATE_EXPIRING,
    STATE_NORMAL,
    Cell,
    Row,
)

# Fixed reproducibility point for TTL checks (FIXTURES.md):
# 2026-01-01T00:00:00Z in ms.
AS_OF_MS = 1767225600000


@pytest.fixture(scope="session")
def spark():
    from sstable_hadoop_spark.plans.session import session_builder

    spark = (
        session_builder("sstable-tests")
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    from sstable_hadoop_spark.sources.datasource import register

    register(spark)
    yield spark
    spark.stop()


def make_cell_fixture(seed: int = 42, n_keys: int = 60):
    """Deterministic multi-generation cell fixture per FIXTURES.md F1:
    tombstones shadowing older values, TTL cells expired/unexpired
    relative to AS_OF, duplicate (key, name) across generations, and
    exact-timestamp ties for the tie-break test.

    Returns list of (generation, Row) — rows grouped per generation,
    keys sorted within each generation (SSTables are key-sorted).
    """
    rng = random.Random(seed)
    base_ts = 1700000000000000  # µs
    gen_rows: dict[int, dict[bytes, list[Cell]]] = {}
    for ki in range(n_keys):
        key = (f"key-{ki:04d}".encode() if ki % 7 else
               bytes([0xC3, 0x28, ki % 256]))  # some non-UTF8 keys
        n_gens = rng.randint(1, 4)
        gens = rng.sample([1, 2, 3, 4], n_gens)
        names = [f"col{c}".encode() for c in range(rng.randint(1, 8))]
        for g in gens:
            cells = []
            for name in names:
                if rng.random() < 0.6 and g != gens[0]:
                    continue  # not every generation rewrites every cell
                r = rng.random()
                ts = base_ts + rng.randint(0, 1000) * 1000
                if rng.random() < 0.05:
                    ts = base_ts  # forced timestamp ties across gens
                if r < 0.12:
                    cells.append(Cell(name=name, state=STATE_DELETED,
                                      timestamp=ts))
                elif r < 0.24:
                    expired = rng.random() < 0.5
                    exp = AS_OF_MS + (-1 if expired else 1) * rng.randint(
                        1, 10_000_000)
                    cells.append(Cell(
                        name=name, state=STATE_EXPIRING,
                        data=f"v{g}-{rng.randint(0, 99)}".encode(),
                        timestamp=ts, ttl=rng.randint(60, 86400),
                        expiration=exp))
                else:
                    cells.append(Cell(
                        name=name, state=STATE_NORMAL,
                        data=f"v{g}-{rng.randint(0, 99)}".encode(),
                        timestamp=ts))
            if cells:
                gen_rows.setdefault(g, {})[key] = cells
    out = []
    for g in sorted(gen_rows):
        for key in sorted(gen_rows[g]):
            out.append((g, Row(key=key, cells=gen_rows[g][key])))
    return out


@pytest.fixture(scope="session")
def cell_fixture():
    return make_cell_fixture()


@pytest.fixture(scope="session")
def sstable_dir(tmp_path_factory, cell_fixture):
    """The fixture written out as real multi-generation SSTable files
    (uncompressed gens 1-2, snappy-compressed gens 3-4)."""
    from sstable_hadoop_spark.sources.codec import SSTableWriter

    d = tmp_path_factory.mktemp("sstables")
    by_gen: dict[int, list] = {}
    for g, row in cell_fixture:
        by_gen.setdefault(g, []).append(row)
    for g, rows in by_gen.items():
        w = SSTableWriter(str(d), "ks-cf", generation=g,
                          compressed=(g >= 3), chunk_length=4096,
                          summary_rate=8)
        for row in rows:
            w.write_row(row)
        w.close()
    return str(d)


def cells_as_records(cell_fixture):
    """Exploded (key, name, state, data, ts, ttl, exp, generation)
    python records — the flat F1 view used to feed DuckDB oracles."""
    recs = []
    for g, row in cell_fixture:
        for c in row.cells:
            recs.append({
                "key": row.key, "name": c.name, "state": c.state,
                "data": c.data, "timestamp": c.timestamp, "ttl": c.ttl,
                "expiration": c.expiration, "generation": g,
            })
    return recs


def jobs_triggered(spark, fn):
    """(fn(), number of Spark jobs that started while it ran)."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    out = fn()
    after = set(tracker.getJobIdsForGroup(None) or [])
    return out, len(after - before)


def mk_parquet(spark, tmp_path, n=1000, name="t"):
    """A one-file parquet table (id, k = id % 7) of ``n`` rows, read back."""
    from pyspark.sql import functions as F

    p = str(tmp_path / name)
    (spark.range(n).select(F.col("id"), (F.col("id") % 7).alias("k"))
     .coalesce(1).write.mode("overwrite").parquet(p))
    return spark.read.parquet(p)
