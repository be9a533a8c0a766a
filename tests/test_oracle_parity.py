"""Driver-gate rehearsal: run every ``queries()`` entry at sf0.01 and
compare against its ``oracle_sql()`` twin via DuckDB — row count, schema
column names, and order-insensitive values (what CORRECTNESS_r{N}.json
checks)."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def duck():
    """One DuckDB connection with a view per testdata table, shared by
    every oracle in the module: the oracles are read-only SELECTs."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _canon(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, list):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def _rows_canon(df):
    """pandas → sorted list of canonical row tuples, columns sorted by
    name (the driver sorts columns by name before hashing)."""
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        out.append(tuple(_canon(v) for v in row))
    out.sort()
    return cols, out


def _query_names():
    import __spark_entry__ as entrymod

    return sorted(entrymod.queries().keys())


@pytest.mark.parametrize("name", _query_names())
def test_query_matches_oracle(spark, duck, name):
    import __spark_entry__ as entrymod

    fn = entrymod.queries()[name]
    oracle = entrymod.oracle_sql().get(name)
    sdf = fn(spark, SF_DIR)
    spdf = sdf.toPandas()
    if oracle is None:
        assert len(spdf) >= 0  # rows-only check, mirrors driver behavior
        return
    ddf = duck.sql(oracle).df()
    assert len(spdf) == len(ddf), f"{name}: rowcount {len(spdf)} != {len(ddf)}"
    scols, srows = _rows_canon(spdf)
    dcols, drows = _rows_canon(ddf)
    assert scols == dcols, f"{name}: schema {scols} != {dcols}"
    if srows != drows:
        diff_a = [r for r in srows if r not in set(drows)][:5]
        diff_b = [r for r in drows if r not in set(srows)][:5]
        raise AssertionError(
            f"{name}: value mismatch; spark-only={diff_a} duck-only={diff_b}")


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    assert df.count() > 0
    assert df.schema is not None


def test_driver_window_computed_rotation():
    """The driver's correctness gate checks the first 50 registrations.
    VERDICT r7 #1: the window is now COMPUTED from the CORRECTNESS
    ledger (never-green first, then this round's touched code, then
    least-recently-green) so no query's driver evidence can silently
    age.  Pin the policy's invariants rather than a hand-list."""
    from sstable_hadoop_spark import queries as q

    names = list(q.all_queries())
    assert len(names) == len(q._QUERIES)  # reorder loses nothing
    window = names[:50]
    assert len(set(window)) == 50  # the driver checks exactly 50
    last, newest = q._ledger_last_green()
    if not newest:
        pytest.skip("no CORRECTNESS ledger present")
    # 1. anything never green (new registrations, red rows) scheduled
    never = [n for n in q._QUERIES if n not in last]
    assert set(never) <= set(window), \
        f"never-green queries not scheduled: {set(never) - set(window)}"
    # 2. the declared touched-this-round set rides the window and is
    #    small enough to preserve the rotation's staleness bound
    assert len(q._ROUND_PRIORITY) <= 10
    prio = [n for n in q._ROUND_PRIORITY if n in q._QUERIES]
    assert set(prio) <= set(window)
    # 3. the remaining slots are filled least-recently-green first:
    #    every scheduled non-priority query is at least as stale as
    #    every unscheduled one
    sched = [n for n in window if n in last and n not in prio]
    unsched = [n for n in names[50:] if n in last]
    if sched and unsched:
        assert max(last[n] for n in sched) <= min(last[n] for n in unsched)
    # oracles follow the same ordering
    assert [n for n in names if n in q._ORACLES][:10] == \
        [n for n in q.all_oracles()][:10]


def test_driver_window_staleness_guard():
    """VERDICT r5 next-round #8: the curation policy must never let a
    query's latest driver-green row rot silently.  Parse the cumulative
    CORRECTNESS_r*.json ledger; every registered query that is red,
    never-checked, or whose latest green round is more than 2 behind
    the newest ledger round MUST sit inside the first-50 window (i.e.
    be scheduled for re-check next driver run)."""
    import glob
    import json
    import re

    from sstable_hadoop_spark import queries as q

    latest_green: dict[str, int] = {}
    newest = 0
    for p in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", os.path.basename(p)).group(1))
        newest = max(newest, rnd)
        for name, v in json.load(open(p)).items():
            ok = (v.get("rows_match") and v.get("schema_match")
                  and v.get("hash_match", True) and not v.get("err"))
            if ok:
                latest_green[name] = max(latest_green.get(name, 0), rnd)
    if not newest:  # fresh clone without ledger files
        pytest.skip("no CORRECTNESS ledger present")
    window = set(list(q.all_queries())[:50])
    overdue = sorted(
        name for name in q._QUERIES
        if latest_green.get(name, 0) < newest - 2 and name not in window)
    assert not overdue, (
        f"queries stale beyond the 2-round policy and NOT scheduled in "
        f"the driver window: {overdue}")


def test_oracle_output_types_driver_hashable(duck):
    """VERDICT r6 #1: DuckDB widens some aggregate outputs past what the
    driver's value-hash canonicalizes identically to Spark — windowed
    SUM(BIGINT) → HUGEINT (int128) is the trap that made
    corpus_mixture_sample red in r6 despite bit-identical values.
    Assert every oracle's *checked projection* binds only to types with
    one canonical rendering on both engines.  Uses DuckDB's lazy
    relation typing — no rows are fetched."""
    import re

    import __spark_entry__ as entrymod

    allowed = {"BIGINT", "INTEGER", "SMALLINT", "TINYINT", "UTINYINT",
               "DOUBLE", "FLOAT", "VARCHAR", "BOOLEAN"}
    decimal = re.compile(r"^DECIMAL\(\d+,\d+\)$")
    offenders = []
    for name, sql in entrymod.oracle_sql().items():
        rel = duck.sql(sql)
        for col, typ in zip(rel.columns, (str(t) for t in rel.types)):
            if typ not in allowed and not decimal.match(typ):
                offenders.append((name, col, typ))
    assert not offenders, (
        "oracle output types the driver hash may canonicalize "
        f"differently from Spark: {offenders}")
