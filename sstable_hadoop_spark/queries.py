"""Driver-facing named queries + DuckDB oracles.

Each entry exercises one operator family from SURVEY.md §2 over the
driver's parquet tables (`/root/testdata/sf*/`).  The SSTable cell
model (key, name, state, data, timestamp, ttl, expiration, generation)
is derived *deterministically* from the ``events`` table so the same
derivation is expressible in ANSI SQL for the oracle — the driver's
correctness gate compares row count + schema + order-insensitive value
hash at sf0.01.

Conventions (driver compare sorts columns by name then hashes values):
- every computed column is aliased identically in Spark and SQL;
- outputs use string/int/double columns only (binary render as string
  via UTF-8 or base64 — FIXTURES.md oracle notes);
- any time arithmetic is on explicit epoch integers, never wall clock.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sstable_hadoop_spark.operators import (
    collect_rows,
    explode_cells,
    live_view,
    lww_cell,
    lww_row,
)

# Fixed as-of point for TTL visibility: 2026-01-01T00:00:00Z (ms).
AS_OF_MS = 1767225600000

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}

#: DuckDB's RE2 ``\s`` is ``[ \t\n\f\r]`` (NO vertical tab) while the
#: Spark side tokenizes with Java's ``\s`` = ``[ \t\n\x0B\f\r]`` — a
#: doc containing U+000B would silently diverge (ADVICE r8).  Every
#: oracle regex is normalized at registration to the explicit Java
#: class so both engines share one whitespace definition.
_JAVA_WS_CHARS = " \\t\\n\\x0b\\f\\r"


def _normalize_oracle_ws(sql: str) -> str:
    # inside a character class first (`[^...\s]` — nesting `[...]`
    # there would make `[` a literal and break the regex)
    sql = sql.replace("\\s]", _JAVA_WS_CHARS + "]")
    return sql.replace("\\s", "[" + _JAVA_WS_CHARS + "]")


def query(name: str, oracle: str | None = None):
    def deco(fn):
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = _normalize_oracle_ws(oracle)
        return fn
    return deco


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    # The driver session may lack our session defaults; the testdata
    # parquet uses TIMESTAMP(NANOS), readable only as nano-epoch longs.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Python-worker closures (pandas UDFs, mapInPandas) import this
    # package inside worker processes — ship it once per session.
    from sstable_hadoop_spark.sources.datasource import ship_package

    ship_package(spark)
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _dtype(df: DataFrame, name: str) -> str:
    for f in df.schema.fields:
        if f.name == name:
            return f.dataType.simpleString()
    raise KeyError(name)


def ts_us(df: DataFrame, name: str) -> F.Column:
    """Time column → µs epoch long.  Testdata is heterogeneous: `events.ts`
    is TIMESTAMP(NANOS) parquet (read as nano-epoch long via
    nanosAsLong), while orders/lineitem dates are TIMESTAMP_NTZ.

    NB: ``long / int`` in Spark SQL is DOUBLE division — at nano-epoch
    magnitude (~1.7e18 > 2^53) that rounds.  Decimal division is exact.
    """
    c = F.col(name)
    if _dtype(df, name).startswith("timestamp"):
        return F.unix_micros(c.cast("timestamp"))  # session TZ is UTC
    return F.floor(c.cast("decimal(38,0)") / F.lit(1000)).cast("long")


def ts_ms(df: DataFrame, name: str) -> F.Column:
    c = F.col(name)
    if _dtype(df, name).startswith("timestamp"):
        return F.unix_millis(c.cast("timestamp"))
    return F.floor(c.cast("decimal(38,0)") / F.lit(1000000)).cast("long")


def as_timestamp(df: DataFrame, name: str) -> F.Column:
    """Time column → TimestampType (µs precision) for date functions."""
    if _dtype(df, name).startswith("timestamp"):
        return F.col(name).cast("timestamp")
    return F.timestamp_micros(ts_us(df, name))


# ---------------------------------------------------------------------------
# SSTable cell model derived from `events`
#
# key    = user_id (string)          name = event_type
# ts(µs) = event time                generation = event_id % 4 + 1
# state  = DELETED if value < 10, EXPIRING if value > 200, else NORMAL
# data   = props JSON (NULL when DELETED)
# expiration(ms) = event ms + (event_id%3 * 500 + 30) days  (EXPIRING)
#   → mix of expired / unexpired relative to AS_OF_MS
# ---------------------------------------------------------------------------

_DAY_MS = 86400000


def derived_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No ensure_parallelism here: this is a pure codegen projection whose
    # consumers are LWW groupBy aggregations that shuffle (with map-side
    # partial aggregation) anyway — a repartition ahead of that shuffle
    # doubles exchange volume for zero parallelism gain.  Re-measured in
    # the r12 optimization round (interleaved A/B at sf0.1): adding the
    # repartition is 0.49 s → 0.80 s on flagship — the single-core
    # partial LWW max over 100k cells (~0.2 s) is cheaper than the extra
    # exchange barrier + 32-reducer scheduling it buys.  Per-row-heavy
    # operators (shingling, regex, vector math) call ensure_parallelism
    # themselves; see operators/_util.py.
    ev = load(spark, sf_dir, "events")
    state = (F.when(F.col("value") < 10, "DELETED")
              .when(F.col("value") > 200, "EXPIRING")
              .otherwise("NORMAL"))
    expiring = F.col("value") > 200
    return ev.select(
        F.encode(F.col("user_id").cast("string"), "UTF-8").alias("key"),
        F.encode(F.col("event_type"), "UTF-8").alias("name"),
        state.alias("state"),
        F.when(F.col("value") < 10, F.lit(None).cast("binary"))
         .otherwise(F.encode(F.col("props"), "UTF-8")).alias("data"),
        ts_us(ev, "ts").alias("timestamp"),
        F.when(expiring, F.lit(86400)).cast("long").alias("ttl"),
        F.when(expiring,
               ts_ms(ev, "ts")
               + ((F.col("event_id") % 3) * 500 + 30) * _DAY_MS)
         .cast("long").alias("expiration"),
        (F.col("event_id") % 4 + 1).cast("int").alias("generation"),
    )


# The same derivation as a DuckDB CTE.
_CELLS_CTE = f"""
WITH cells AS (
    SELECT cast(user_id AS varchar)                           AS key_str,
           event_type                                         AS name_str,
           CASE WHEN value < 10 THEN 'DELETED'
                WHEN value > 200 THEN 'EXPIRING'
                ELSE 'NORMAL' END                             AS state,
           CASE WHEN value < 10 THEN NULL ELSE props END      AS data_str,
           epoch_us(ts)                                       AS ts_us,
           CASE WHEN value > 200
                THEN epoch_ms(ts) + ((event_id % 3) * 500 + 30) * {_DAY_MS}
                ELSE NULL END                                 AS expiration,
           cast(event_id % 4 + 1 AS int)                      AS generation
    FROM events
)
"""

# Deterministic LWW total order (SURVEY.md §2.4) in DuckDB terms;
# matches the leading order fields of operators.lww._argmax's struct
# exactly (base64 of UTF-8 bytes).
_ORDER = ("ts_us DESC, CASE state WHEN 'DELETED' THEN 2 WHEN 'EXPIRING' "
          "THEN 1 ELSE 0 END DESC, generation DESC, "
          "coalesce(to_base64(encode(data_str)), '') DESC, "
          "to_base64(encode(name_str)) DESC")


def _render_winners(df: DataFrame) -> DataFrame:
    return df.select(
        F.decode(F.col("key"), "UTF-8").alias("key_str"),
        F.decode(F.col("name"), "UTF-8").alias("name_str"),
        F.col("state"),
        F.coalesce(F.decode(F.col("data"), "UTF-8"), F.lit("")).alias("data_str"),
        F.col("timestamp").alias("ts_us"),
        F.col("generation"),
    )


@query("flagship_lww_merge", oracle=f"""
{_CELLS_CTE}
SELECT key_str, name_str, state, coalesce(data_str, '') AS data_str,
       ts_us, generation
FROM cells
QUALIFY row_number() OVER (PARTITION BY key_str, name_str
                           ORDER BY {_ORDER}) = 1
""")
def flagship_lww_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2 pipeline: explode → per-cell LWW across generations (A1+A3).
    One shuffle with map-side partial aggregation."""
    return _render_winners(lww_cell(derived_cells(spark, sf_dir)))


# Same oracle as flagship ON PURPOSE: the incremental refresh must be
# indistinguishable from the full re-merge — lww(lww(gens 1-3) ∪ gen 4)
# == lww(gens 1-4) by argmax associativity (operators/lww.py
# lww_refresh).  A refresh that dropped tombstone winners, re-ordered
# ties, or lost a column would hash-mismatch here.
@query("lww_incremental_refresh", oracle=f"""
{_CELLS_CTE}
SELECT key_str, name_str, state, coalesce(data_str, '') AS data_str,
       ts_us, generation
FROM cells
QUALIFY row_number() OVER (PARTITION BY key_str, name_str
                           ORDER BY {_ORDER}) = 1
""")
def lww_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental LWW view maintenance: generations 1-3 are the
    stored materialized winners (merged once, as a nightly job would
    persist them); generation 4 is the day's delta, folded in WITHOUT
    re-merging history — shuffles O(winners + delta), not O(all
    generations) (operators/lww.py lww_refresh)."""
    from sstable_hadoop_spark.operators.lww import lww_refresh

    cells = derived_cells(spark, sf_dir)
    stored = lww_cell(cells.filter(F.col("generation") <= 3))
    delta = cells.filter(F.col("generation") == 4)
    return _render_winners(lww_refresh(stored, delta))


@query("lww_row_coarse", oracle=f"""
{_CELLS_CTE}
SELECT key_str, name_str, state, ts_us, generation
FROM cells
QUALIFY row_number() OVER (PARTITION BY key_str ORDER BY {_ORDER}) = 1
""")
def lww_row_coarse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: the reference's coarse row-grained merge — single newest cell
    of the entire row (SSTableData.scala:45-62)."""
    return lww_row(derived_cells(spark, sf_dir)).select(
        F.decode(F.col("key"), "UTF-8").alias("key_str"),
        F.decode(F.col("name"), "UTF-8").alias("name_str"),
        F.col("state"), F.col("timestamp").alias("ts_us"),
        F.col("generation"))


@query("live_view_asof", oracle=f"""
{_CELLS_CTE}
SELECT key_str, name_str, state, coalesce(data_str, '') AS data_str,
       ts_us, generation
FROM cells
QUALIFY row_number() OVER (PARTITION BY key_str, name_str
                           ORDER BY {_ORDER}) = 1
   AND state != 'DELETED'
   AND (expiration IS NULL OR expiration > {AS_OF_MS})
""")
def live_view_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4+A5: winners minus tombstones minus expired-at-AS_OF."""
    return _render_winners(live_view(derived_cells(spark, sf_dir), AS_OF_MS))


# ---------------------------------------------------------------------------
# M3 — declared relational surface (SURVEY.md §2.3/§2.5/§2.6/A8).
# The reference delegated all of this to Pig Latin; the engine's native
# surface is Spark DataFrame/SQL.  Aggregated doubles are rounded to
# absorb summation-order ulp noise between engines.
# ---------------------------------------------------------------------------


@query("scan_project_filter", oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
FROM lineitem
WHERE l_quantity > 45 AND l_returnflag = 'R'
""")
def scan_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 + column pruning: predicate and projection reach the parquet
    scan (PushedFilters / ReadSchema in .explain)."""
    li = load(spark, sf_dir, "lineitem")
    return (li.filter((F.col("l_quantity") > 45)
                      & (F.col("l_returnflag") == "R"))
              .select("l_orderkey", "l_linenumber", "l_quantity",
                      "l_extendedprice", "l_returnflag"))


@query("q1_pricing_summary", oracle="""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                AS sum_qty,
       round(sum(l_extendedprice), 2)                           AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)        AS sum_disc_price,
       round(avg(l_quantity), 4)                                AS avg_qty,
       count(*)                                                 AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""")
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 hash aggregation, TPC-H Q1 shape (partial agg map-side; AQE
    coalesces reducers)."""
    li = load(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2).alias("sum_disc_price"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.count("*").alias("count_order")))


@query("join_agg_revenue", oracle="""
SELECT c.c_mktsegment,
       count(DISTINCT o.o_orderkey)                             AS n_orders,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)    AS revenue
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
""")
def join_agg_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.3 equi joins + aggregation: lineitem ⋈ orders ⋈ customer.
    customer is broadcast (small dim); lineitem⋈orders shuffles on the
    shared orderkey.

    Plan shape (r8): lineitem revenue is PRE-AGGREGATED per orderkey
    BEFORE the join — an aggregate-below-join rewrite Catalyst does
    not perform.  It (a) shrinks the join's probe side ~4× (one row
    per order instead of per lineitem, with map-side partials doing
    the reduction inside the same one exchange the join needed
    anyway), and (b) turns the COUNT DISTINCT over the joined fan-out
    — an Expand + second shuffle — into a plain count, since the
    pre-agg emits each orderkey exactly once.  Same result set
    (sum-per-order then sum-per-segment is associative; count of
    joined orders equals distinct orders under the orders-PK join);
    measured 1.34 s → 0.81 s at sf0.1."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    per_order = (li.groupBy("l_orderkey")
                   .agg(F.sum(F.col("l_extendedprice")
                              * (1 - F.col("l_discount"))).alias("rev")))
    return (per_order.join(o, per_order.l_orderkey == o.o_orderkey)
              .join(F.broadcast(c), o.o_custkey == c.c_custkey)
              .groupBy("c_mktsegment").agg(
                  F.count("o_orderkey").alias("n_orders"),
                  F.round(F.sum("rev"), 2).alias("revenue")))


@query("join_semi", oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
""")
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.3 left-semi join."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return (c.join(o, c.c_custkey == o.o_custkey, "left_semi")
             .select("c_custkey", "c_name"))


@query("join_anti", oracle="""
SELECT c_custkey, c_mktsegment
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 400000)
""")
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.3 anti join (tombstone-subtraction shape, A4): customers with
    no large order."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
             .select("c_custkey", "c_mktsegment"))


@query("join_outer_gallery", oracle="""
WITH big AS (
    SELECT o_custkey, count(*) AS n_big, round(sum(o_totalprice), 2) AS big_rev
    FROM orders WHERE o_totalprice > 350000 GROUP BY o_custkey
),
urgent AS (
    SELECT o_custkey, count(*) AS n_urgent
    FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey
)
SELECT coalesce(b.o_custkey, u.o_custkey) AS custkey,
       coalesce(n_big, 0)      AS n_big,
       coalesce(big_rev, 0.0)  AS big_rev,
       coalesce(n_urgent, 0)   AS n_urgent,
       (b.o_custkey IS NULL)   AS only_urgent,
       (u.o_custkey IS NULL)   AS only_big
FROM big b FULL OUTER JOIN urgent u ON b.o_custkey = u.o_custkey
""")
def join_outer_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.3 outer joins (the Pig OUTER JOIN surface the reference's
    loaders feed): FULL OUTER of two per-customer aggregates with
    null-side markers; left/right outer are degenerate cases of the
    same plan."""
    o = load(spark, sf_dir, "orders")
    big = (o.filter(F.col("o_totalprice") > 350000)
            .groupBy("o_custkey")
            .agg(F.count(F.lit(1)).alias("n_big"),
                 F.round(F.sum("o_totalprice"), 2).alias("big_rev")))
    urgent = (o.filter(F.col("o_orderpriority") == "1-URGENT")
               .groupBy(F.col("o_custkey").alias("u_custkey"))
               .agg(F.count(F.lit(1)).alias("n_urgent")))
    j = big.join(urgent, big.o_custkey == urgent.u_custkey, "full_outer")
    return j.select(
        F.coalesce("o_custkey", "u_custkey").alias("custkey"),
        F.coalesce("n_big", F.lit(0)).alias("n_big"),
        F.coalesce("big_rev", F.lit(0.0)).alias("big_rev"),
        F.coalesce("n_urgent", F.lit(0)).alias("n_urgent"),
        F.col("o_custkey").isNull().alias("only_urgent"),
        F.col("u_custkey").isNull().alias("only_big"))


@query("doc_length_histogram", oracle="""
SELECT cast(floor(least(greatest(n_chars, 0), 4999) / 250) AS int)
           AS bucket,
       count(*) AS n_docs,
       cast(min(n_chars) AS bigint) AS min_chars,
       cast(max(n_chars) AS bigint) AS max_chars
FROM documents
GROUP BY 1
""")
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 histogram shape (SURVEY §2.9): fixed-width n_chars buckets
    (250-char bins, clamped to [0, 5000)) with per-bucket extremes —
    explicit floor math on both sides, engine-portable."""
    d = load(spark, sf_dir, "documents")
    bucket = F.floor(
        F.least(F.greatest(F.col("n_chars"), F.lit(0)), F.lit(4999))
        / 250).cast("int")
    return (d.groupBy(bucket.alias("bucket"))
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.min("n_chars").cast("long").alias("min_chars"),
                  F.max("n_chars").cast("long").alias("max_chars")))


@query("join_asof_latest_order", oracle="""
SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
QUALIFY row_number() OVER (PARTITION BY c.c_custkey
                           ORDER BY epoch_us(o.o_orderdate) DESC,
                                    o.o_orderkey DESC) = 1
""")
def join_asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.3 as-of join: latest order per customer — the LWW argmax shape
    (SSTableData.scala:52) over a business table, as max_by."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    latest = (o.groupBy("o_custkey").agg(F.max_by(
        F.struct("o_orderkey", "o_totalprice"),
        F.struct(ts_us(o, "o_orderdate").alias("t"),
                 F.col("o_orderkey").alias("k"))).alias("w")))
    return (c.join(latest, c.c_custkey == latest.o_custkey)
             .select("c_custkey", F.col("w.o_orderkey").alias("o_orderkey"),
                     F.col("w.o_totalprice").alias("o_totalprice")))


@query("window_topk_orders", oracle="""
SELECT o_custkey, o_orderkey, o_totalprice, rk
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders)
WHERE rk <= 3
""")
def window_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 ranking window: top-3 orders by price per customer."""
    from pyspark.sql.window import Window

    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (o.withColumn("rk", F.row_number().over(w))
             .filter(F.col("rk") <= 3)
             .select("o_custkey", "o_orderkey", "o_totalprice", "rk"))


@query("window_running_revenue", oracle="""
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (
           PARTITION BY o_custkey
           ORDER BY epoch_us(o_orderdate), o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running
FROM orders
""")
def window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 analytic window with an explicit frame."""
    from pyspark.sql.window import Window

    o = load(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey")
         .orderBy(ts_us(o, "o_orderdate"), F.asc("o_orderkey"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return o.select("o_custkey", "o_orderkey",
                    F.round(F.sum("o_totalprice").over(w), 2).alias("running"))


@query("rollup_lineitem", oracle="""
SELECT coalesce(l_returnflag, '<all>')  AS l_returnflag,
       coalesce(l_linestatus, '<all>')  AS l_linestatus,
       count(*)                         AS n,
       round(sum(l_quantity), 2)        AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""")
def rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 rollup (subtotals + grand total)."""
    li = load(spark, sf_dir, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(F.coalesce("l_returnflag", F.lit("<all>")).alias("l_returnflag"),
                F.coalesce("l_linestatus", F.lit("<all>")).alias("l_linestatus"),
                "n", "sum_qty"))


@query("cube_orders", oracle="""
SELECT coalesce(o_orderstatus, '<all>')   AS o_orderstatus,
       coalesce(o_orderpriority, '<all>') AS o_orderpriority,
       count(*)                           AS n
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""")
def cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 cube (all grouping-set combinations)."""
    o = load(spark, sf_dir, "orders")
    return (o.cube("o_orderstatus", "o_orderpriority")
             .agg(F.count("*").alias("n"))
             .select(F.coalesce("o_orderstatus", F.lit("<all>"))
                      .alias("o_orderstatus"),
                     F.coalesce("o_orderpriority", F.lit("<all>"))
                      .alias("o_orderpriority"), "n"))


@query("grouping_sets_nation_segment", oracle="""
SELECT coalesce(cast(c_nationkey AS varchar), '<all>') AS nation,
       coalesce(c_mktsegment, '<all>')                 AS segment,
       count(*)                                        AS n,
       round(sum(c_acctbal), 2)                        AS sum_bal
FROM customer
GROUP BY GROUPING SETS ((c_nationkey), (c_mktsegment))
""")
def grouping_sets_nation_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 grouping sets via SQL."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer_gs")
    return spark.sql("""
        SELECT coalesce(cast(c_nationkey AS string), '<all>') AS nation,
               coalesce(c_mktsegment, '<all>')                AS segment,
               count(*)                                       AS n,
               round(sum(c_acctbal), 2)                       AS sum_bal
        FROM customer_gs
        GROUP BY GROUPING SETS ((c_nationkey), (c_mktsegment))
    """)


@query("set_ops_customers", oracle="""
SELECT c_custkey FROM customer WHERE c_acctbal > 5000
INTERSECT
SELECT c_custkey FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
UNION
SELECT c_custkey FROM customer WHERE c_acctbal < -500
""")
def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 set operations: intersect + union (distinct)."""
    c = load(spark, sf_dir, "customer")
    rich = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    seg = c.filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY")) \
           .select("c_custkey")
    poor = c.filter(F.col("c_acctbal") < -500).select("c_custkey")
    return rich.intersect(seg).union(poor).distinct()


@query("except_unordered_parts", oracle="""
SELECT p_partkey FROM part WHERE p_size >= 20
EXCEPT
SELECT p_partkey FROM part WHERE p_type LIKE '%BRASS%'
""")
def except_unordered_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 except — the tombstone-shadowing shape (A4) as a set op."""
    p = load(spark, sf_dir, "part")
    big = p.filter(F.col("p_size") >= 20).select("p_partkey")
    brass = p.filter(F.col("p_type").like("%BRASS%")).select("p_partkey")
    return big.exceptAll(brass).distinct()


@query("topk_global_orders", oracle="""
SELECT o_orderkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
""")
def topk_global_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 global sort + limit (TakeOrderedAndProject — no full sort at
    scale, each partition contributes its local top-k)."""
    o = load(spark, sf_dir, "orders")
    return (o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
             .select("o_orderkey", "o_totalprice").limit(10))


@query("scalar_date_string_math", oracle="""
SELECT strftime(o_orderdate, '%Y-%m')            AS order_month,
       count(*)                                  AS n,
       round(sum(o_totalprice), 2)               AS total,
       round(min(o_totalprice) / 100.0, 4)       AS min_h,
       max(upper(substr(o_orderpriority, 1, 1))) AS pri_initial
FROM orders
GROUP BY strftime(o_orderdate, '%Y-%m')
""")
def scalar_date_string_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 scalar surface: date_format/substr/upper/arithmetic
    (the reference's joda-time dependency never used in source —
    pom.xml:94-97; Spark built-ins are the declared surface)."""
    o = load(spark, sf_dir, "orders")
    return (o.groupBy(F.date_format(as_timestamp(o, "o_orderdate"), "yyyy-MM")
                      .alias("order_month"))
             .agg(F.count("*").alias("n"),
                  F.round(F.sum("o_totalprice"), 2).alias("total"),
                  F.round(F.min("o_totalprice") / 100.0, 4).alias("min_h"),
                  F.max(F.upper(F.substring("o_orderpriority", 1, 1)))
                   .alias("pri_initial")))


@query("json_events_extract", oracle="""
SELECT event_type,
       cast(json_extract_string(props, '$.k') AS bigint) % 10 AS k_bucket,
       count(*)                                              AS n,
       round(avg("value"), 4)                                AS avg_value
FROM events
GROUP BY event_type, cast(json_extract_string(props, '$.k') AS bigint) % 10
""")
def json_events_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 JSON functions over events.props."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint") % 10
    return (ev.groupBy("event_type", k.alias("k_bucket"))
              .agg(F.count("*").alias("n"),
                   F.round(F.avg("value"), 4).alias("avg_value")))


@query("union_slices_distinct", oracle="""
SELECT DISTINCT event_id, user_id FROM (
    SELECT event_id, user_id FROM events WHERE value > 150
    UNION ALL
    SELECT event_id, user_id FROM events WHERE event_type = 'click'
)
""")
def union_slices_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 union (multi-generation concatenation shape) + distinct."""
    ev = load(spark, sf_dir, "events")
    a = ev.filter(F.col("value") > 150).select("event_id", "user_id")
    b = ev.filter(F.col("event_type") == "click").select("event_id", "user_id")
    return a.unionByName(b).distinct()


@query("distinct_exact_counts", oracle="""
SELECT count(DISTINCT user_id)    AS n_users,
       count(DISTINCT event_type) AS n_types,
       count(*)                   AS n_events
FROM events
""")
def distinct_exact_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 distinct aggregation."""
    ev = load(spark, sf_dir, "events")
    return ev.agg(F.countDistinct("user_id").alias("n_users"),
                  F.countDistinct("event_type").alias("n_types"),
                  F.count("*").alias("n_events"))


# HLL++ is a deterministic function of the input SET (register merge is
# commutative/associative → partitioning/order independent), so the
# estimate is pinnable per dataset.  The oracle keys the pin on the
# EXACT cardinality it computes itself — which simultaneously verifies
# the 1% rsd bound (15→15 exact, 150→151, 1500→1507) and fails loudly
# if the data or the sketch implementation changes.
@query("approx_distinct_users", oracle="""
SELECT CASE count(DISTINCT user_id)
            WHEN 15   THEN 15
            WHEN 150  THEN 151
            WHEN 1500 THEN 1507
       END AS approx_users
FROM events
""")
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 approx_count_distinct (HyperLogLog++), exact-keyed pinned
    oracle (sketches are engine-specific, but deterministic per input
    set — see the oracle comment)."""
    ev = load(spark, sf_dir, "events")
    return ev.agg(F.approx_count_distinct("user_id", 0.01).alias("approx_users"))


@query("five_way_join_region_revenue", oracle="""
SELECT r.r_name AS region, n.n_name AS nation,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
""")
def five_way_join_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: one shuffle join on the fact keys, broadcast for
    every dimension (customer/nation/region are tiny at any SF relative
    to lineitem).  r8: lineitem revenue pre-aggregated per orderkey
    below the join (same rewrite as join_agg_revenue — associative sum,
    ~4× smaller probe side through every broadcast stage; measured
    1.05 s → 0.86 s at sf0.1)."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    per_order = (li.groupBy("l_orderkey")
                   .agg(F.sum(F.col("l_extendedprice")
                              * (1 - F.col("l_discount"))).alias("rev")))
    return (per_order.join(o, per_order.l_orderkey == o.o_orderkey)
              .join(F.broadcast(c), o.o_custkey == c.c_custkey)
              .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
              .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
              .groupBy(F.col("r_name").alias("region"),
                       F.col("n_name").alias("nation"))
              .agg(F.round(F.sum("rev"), 2).alias("revenue")))


# ---------------------------------------------------------------------------
# M4 — LLM-pipeline extensions E1-E5 (SURVEY.md §2.9) over documents /
# embeddings.  Deterministic md5-based hashing throughout so DuckDB can
# replicate even the MinHash/LSH pipeline exactly.
# ---------------------------------------------------------------------------

_SHINGLE_N = 4

# Word-4-gram shingles in DuckDB, matching operators.dedup.word_shingles
# exactly: lower → split on \s+ → 1-based windows of 4 → DISTINCT.
_SHINGLES_CTE = f"""
WITH shingles AS (
    SELECT DISTINCT doc_id AS id,
           unnest([array_to_string(toks[i:i+{_SHINGLE_N - 1}], ' ')
                   FOR i IN range(1, greatest(len(toks) - {_SHINGLE_N - 2}, 1))])
               AS shingle
    FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks
          FROM documents)
),
sizes AS (SELECT id, count(*) AS n_sh FROM shingles GROUP BY id)
"""

_JACCARD_SQL = """
, inter AS (
    SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
    FROM shingles a JOIN shingles b
      ON a.shingle = b.shingle AND a.id < b.id
    GROUP BY a.id, b.id
),
jac AS (
    SELECT id_a, id_b,
           inter * 1.0 / (sa.n_sh + sb.n_sh - inter) AS jaccard
    FROM inter
    JOIN sizes sa ON inter.id_a = sa.id
    JOIN sizes sb ON inter.id_b = sb.id
)
"""


@query("dedup_exact", oracle="""
SELECT doc_id, lang, source, n_chars
FROM documents
QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
""")
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1: exact content dedup — md5 grouping, keep lowest doc_id."""
    from sstable_hadoop_spark.operators.dedup import exact_dedup

    docs = load(spark, sf_dir, "documents")
    return exact_dedup(docs).select("doc_id", "lang", "source", "n_chars")


_JACCARD_DOC_FREQ_CAP = 1000

# Doc-frequency-capped Jaccard: drop shingles shared by more than `cap`
# docs BEFORE the pair join (hot "stopword shingles" carry no dedup
# signal and fan out quadratically).  Sizes are recomputed over the
# capped shingle sets — exactly what operators.dedup.jaccard_pairs does.
_JACCARD_CAPPED_SQL = f"""
, freq_ok AS (
    SELECT shingle FROM shingles
    GROUP BY shingle HAVING count(*) <= {_JACCARD_DOC_FREQ_CAP}
),
shingles_c AS (
    SELECT s.id, s.shingle FROM shingles s JOIN freq_ok USING (shingle)
),
sizes_c AS (SELECT id, count(*) AS n_sh FROM shingles_c GROUP BY id),
inter AS (
    SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
    FROM shingles_c a JOIN shingles_c b
      ON a.shingle = b.shingle AND a.id < b.id
    GROUP BY a.id, b.id
),
jac AS (
    SELECT id_a, id_b,
           inter * 1.0 / (sa.n_sh + sb.n_sh - inter) AS jaccard
    FROM inter
    JOIN sizes_c sa ON inter.id_a = sa.id
    JOIN sizes_c sb ON inter.id_b = sb.id
)
"""


@query("dedup_ngram_jaccard", oracle=_SHINGLES_CTE + _JACCARD_CAPPED_SQL + """
SELECT id_a, id_b, round(jaccard, 6) AS jaccard
FROM jac WHERE jaccard >= 0.5
""")
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2a: exact n-gram Jaccard near-dup pairs (shingle equi-join,
    never cross join).  Hot shingles above the doc-frequency cap are
    dropped before the join — bounds the worst key to cap² pairs; the
    oracle CTE replicates the cap exactly."""
    from sstable_hadoop_spark.operators.dedup import jaccard_pairs, word_shingles

    docs = load(spark, sf_dir, "documents")
    sh = word_shingles(docs, n=_SHINGLE_N)
    return (jaccard_pairs(sh, min_jaccard=0.5,
                          max_doc_freq=_JACCARD_DOC_FREQ_CAP)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))


def _minhash_oracle() -> str:
    """DuckDB replica of the full MinHash→LSH→verify pipeline: same md5
    permutations (min of md5('i|' || shingle)), same '#'-joined band
    buckets, same exact-Jaccard verification."""
    num_perm, bands, rows = 16, 4, 4
    sig_aggs = ",\n           ".join(
        f"min(md5(concat('{i}|', shingle))) AS sig_{i}"
        for i in range(num_perm))
    band_list = []
    for b in range(bands):
        parts = [f"'{b}'"] + [f"sig_{b * rows + r}" for r in range(rows)]
        band_list.append("concat_ws('#', " + ", ".join(parts) + ")")
    return (_SHINGLES_CTE + f"""
, sigs AS (
    SELECT id, {sig_aggs}
    FROM shingles GROUP BY id
),
banded AS (
    SELECT id, unnest([{", ".join(band_list)}]) AS bucket FROM sigs
),
cand AS (
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.id < b.id
)
""" + _JACCARD_SQL + """
SELECT j.id_a, j.id_b, round(j.jaccard, 6) AS jaccard
FROM jac j JOIN cand c ON j.id_a = c.id_a AND j.id_b = c.id_b
WHERE j.jaccard >= 0.5
""")


@query("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2b: MinHash + banded LSH candidates, exact-Jaccard verified.
    Deterministic md5 permutations (oracle replicates them exactly)."""
    from sstable_hadoop_spark.operators.dedup import minhash_dedup_pairs

    docs = load(spark, sf_dir, "documents")
    return (minhash_dedup_pairs(docs, n=_SHINGLE_N, num_perm=16, bands=4,
                                min_jaccard=0.5, max_doc_freq=None)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))


def _minhash_incremental_oracle(mod: int = 10) -> str:
    """DuckDB replica of the INCREMENTAL pipeline: same sigs/bands as
    the batch oracle, but candidates are restricted to pairs touching
    the new batch (id % mod = 0, an SF-proportional ~10% slice) —
    new×new kept ordered, new×stored oriented new→stored,
    stored×stored never generated.  Verification reuses the symmetric
    jac CTE via least/greatest."""
    num_perm, bands, rows = 16, 4, 4
    sig_aggs = ",\n           ".join(
        f"min(md5(concat('{i}|', shingle))) AS sig_{i}"
        for i in range(num_perm))
    band_list = []
    for b in range(bands):
        parts = [f"'{b}'"] + [f"sig_{b * rows + r}" for r in range(rows)]
        band_list.append("concat_ws('#', " + ", ".join(parts) + ")")
    return (_SHINGLES_CTE + f"""
, sigs AS (
    SELECT id, {sig_aggs}
    FROM shingles GROUP BY id
),
banded AS (
    SELECT id, unnest([{", ".join(band_list)}]) AS bucket FROM sigs
),
cand AS (
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM banded a JOIN banded b ON a.bucket = b.bucket
    WHERE a.id % {mod} = 0
      AND ((b.id % {mod} = 0 AND a.id < b.id) OR b.id % {mod} <> 0)
)
""" + _JACCARD_SQL + """
SELECT c.id_a, c.id_b, round(j.jaccard, 6) AS jaccard
FROM cand c
JOIN jac j ON j.id_a = least(c.id_a, c.id_b)
          AND j.id_b = greatest(c.id_a, c.id_b)
WHERE j.jaccard >= 0.5
""")


@query("dedup_minhash_incremental", oracle=_minhash_incremental_oracle())
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2b incremental: docs with id % 10 == 0 are 'today's batch'
    (~10% of the corpus at every SF), the rest is the stored corpus
    whose minhash_profiles would be read from parquet in production —
    the corpus is never re-shingled and stored×stored pairs never
    materialize (operators/dedup.py minhash_dedup_incremental).
    id_a is always a new-batch doc."""
    from sstable_hadoop_spark.operators.dedup import (
        minhash_dedup_incremental,
        minhash_profiles,
    )

    docs = load(spark, sf_dir, "documents")
    stored = minhash_profiles(docs.filter(F.col("doc_id") % 10 != 0),
                              n=_SHINGLE_N, num_perm=16,
                              max_doc_freq=None)
    new = docs.filter(F.col("doc_id") % 10 == 0)
    return (minhash_dedup_incremental(new, stored, n=_SHINGLE_N,
                                      num_perm=16, bands=4,
                                      min_jaccard=0.5, max_doc_freq=None)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))


def _simhash_oracle() -> str:
    """DuckDB replica of the SimHash pipeline: the 60-bit token hash
    (``conv(substr(md5, 1, 15), 16, 10)``) is rebuilt with positional
    hex-digit arithmetic, per-bit ±1 votes and the fingerprint with
    ``>>``/``&`` bit ops, block segments with the same 15-bit masks,
    and the exact Hamming verify with ``bit_count(xor(...))``."""
    bits, blocks = 60, 4
    seg_bits = bits // blocks
    mask = (1 << seg_bits) - 1
    hex_terms = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(tok), {i + 1}, 1)) - 1)"
        f" * {16 ** (14 - i)}"
        for i in range(15))
    votes = ",\n           ".join(
        f"sum(CASE WHEN ((h >> {i}) & 1) = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits))
    fp_terms = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(bits))
    segs = ", ".join(
        f"'{i}' || ':' || CAST((fp >> {i * seg_bits}) & {mask} AS VARCHAR)"
        for i in range(blocks))
    return rf"""
WITH toks AS (
    SELECT doc_id AS id,
           unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
    FROM documents
),
hashes AS (SELECT id, ({hex_terms}) AS h FROM toks),
votes AS (
    SELECT id,
           {votes}
    FROM hashes GROUP BY id
),
fps AS (SELECT id, CAST({fp_terms} AS BIGINT) AS fp FROM votes),
segs AS (SELECT id, fp, unnest([{segs}]) AS seg FROM fps),
pairs AS (
    SELECT DISTINCT a.id AS id_a, b.id AS id_b,
           xor(a.fp, b.fp) AS x
    FROM segs a JOIN segs b ON a.seg = b.seg AND a.id < b.id
)
SELECT id_a, id_b, bit_count(x) AS hamming
FROM pairs WHERE bit_count(x) <= 3
"""


@query("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2c: SimHash near-dup pairs via block-key candidate join;
    property-tested (tests/test_extensions.py) AND bit-exactly
    replicated in the DuckDB oracle."""
    from sstable_hadoop_spark.operators.dedup import simhash_near_pairs

    docs = load(spark, sf_dir, "documents")
    # Manku-style parameters: Hamming <= 3 with 4 blocks keeps the
    # pigeonhole recall guarantee (max_hamming < blocks) — the operator
    # raises on parameters that would silently lose pairs.
    return simhash_near_pairs(docs, max_hamming=3, blocks=4)


@query("similarity_topk_bruteforce", oracle="""
SELECT q.vec_id AS query_id, e.vec_id, rk, round(cos, 4) AS cos
FROM (
    SELECT q.vec_id AS qid, e.vec_id AS eid,
           list_cosine_similarity(q.embedding, e.embedding) AS cos,
           row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC,
                        e.vec_id) AS rk
    FROM embeddings q JOIN embeddings e ON q.vec_id != e.vec_id
    WHERE q.vec_id < 8
) s
JOIN embeddings q ON s.qid = q.vec_id
JOIN embeddings e ON s.eid = e.vec_id
WHERE rk <= 5
""")
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3: exact cosine top-5 neighbors for 8 query vectors — broadcast
    nested-loop scoring + per-query rank."""
    from sstable_hadoop_spark.operators.similarity import cosine_topk

    emb = load(spark, sf_dir, "embeddings")
    emb_d = emb.select("vec_id", F.transform(
        "embedding", lambda x: x.cast("double")).alias("embedding"))
    queries_df = emb_d.filter(F.col("vec_id") < 8) \
                      .withColumnRenamed("vec_id", "query_id")
    return (cosine_topk(emb_d, queries_df, k=5)
            .select("query_id", "vec_id", "rk", F.round("cos", 4).alias("cos")))


def _topk_lsh_oracle() -> str:
    """DuckDB replica of the multi-table sign-LSH top-k: hyperplanes
    inlined as literals with the same left-to-right dot fold as Spark's
    ``aggregate(zip_with(...))``, so buckets (and therefore the
    candidate set) match bit-for-bit — the approximation itself is
    oracle-checked, like ``_near_dup_oracle``."""
    from sstable_hadoop_spark.operators.similarity import _hyperplanes

    n_planes, n_tables, dim, k = 3, 6, 64, 5
    bucket_exprs = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, seed=f"table{t}")
        bits = []
        for p, plane in enumerate(planes):
            dot = " + ".join(f"e[{d + 1}]*{plane[d]!r}"
                             for d in range(dim))
            bits.append(f"(CASE WHEN ({dot}) >= 0 "
                        f"THEN {1 << p} ELSE 0 END)")
        bucket_exprs.append(
            f"'{t}' || ':' || CAST({' + '.join(bits)} AS VARCHAR)")
    buckets = ",\n        ".join(bucket_exprs)
    return f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
buckets AS (
    SELECT vec_id, unnest([
        {buckets}]) AS bucket
    FROM emb
),
cand AS (
    SELECT DISTINCT q.vec_id AS query_id, e.vec_id AS vec_id
    FROM buckets q JOIN buckets e ON q.bucket = e.bucket
    WHERE q.vec_id < 8 AND e.vec_id != q.vec_id
),
scored AS (
    SELECT c.query_id, c.vec_id,
           list_cosine_similarity(eq.e, ee.e) AS cos,
           row_number() OVER (
               PARTITION BY c.query_id
               ORDER BY list_cosine_similarity(eq.e, ee.e) DESC,
                        c.vec_id) AS rk
    FROM cand c
    JOIN emb eq ON eq.vec_id = c.query_id
    JOIN emb ee ON ee.vec_id = c.vec_id
)
SELECT query_id, vec_id, rk, round(cos, 4) AS cos
FROM scored WHERE rk <= {k}
"""


@query("similarity_topk_lsh", oracle=_topk_lsh_oracle())
def similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 scale path: random-hyperplane LSH bucketing; recall vs brute
    force asserted in tests/test_extensions.py, and the bucketed
    candidate set itself replicated in the DuckDB oracle."""
    from sstable_hadoop_spark.operators.similarity import cosine_topk_lsh

    emb = load(spark, sf_dir, "embeddings")
    emb_d = emb.select("vec_id", F.transform(
        "embedding", lambda x: x.cast("double")).alias("embedding"))
    queries_df = emb_d.filter(F.col("vec_id") < 8) \
                      .withColumnRenamed("vec_id", "query_id")
    return (cosine_topk_lsh(emb_d, queries_df, k=5)
            .select("query_id", "vec_id", "rk", F.round("cos", 4).alias("cos")))


def _topk_ivf_oracle() -> str:
    """DuckDB replica of the IVF path: the 16 md5-derived centroids are
    inlined, every vector's cell = argmax centroid dot (ties → larger
    cell, matching Spark's ``reverse(array_sort(struct(d, cell)))``),
    queries probe their top-3 cells, candidates get the exact cosine +
    rank."""
    from sstable_hadoop_spark.operators.similarity import _hyperplanes

    n_centroids, n_probe, dim, k = 16, 3, 64, 5
    cents = _hyperplanes(dim, n_centroids, seed="ivf")
    dot_cols = ",\n           ".join(
        "(" + " + ".join(f"e[{d + 1}]*{cent[d]!r}" for d in range(dim))
        + f") AS d_{c}"
        for c, cent in enumerate(cents))
    cells = ", ".join("{'d': d_%d, 'cell': %d}" % (c, c)
                      for c in range(n_centroids))
    return f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
dots AS (
    SELECT vec_id,
           {dot_cols}
    FROM emb
),
ranked AS (
    SELECT vec_id, u.cell, u.d,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY u.d DESC, u.cell DESC) AS cell_rk
    FROM dots, unnest([{cells}]) AS t(u)
),
e_cell AS (SELECT vec_id, cell FROM ranked WHERE cell_rk = 1),
q_cell AS (
    SELECT vec_id AS query_id, cell FROM ranked
    WHERE cell_rk <= {n_probe} AND vec_id < 8
),
scored AS (
    SELECT q.query_id, ec.vec_id,
           list_cosine_similarity(eq.e, ee.e) AS cos,
           row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY list_cosine_similarity(eq.e, ee.e) DESC,
                        ec.vec_id) AS rk
    FROM q_cell q
    JOIN e_cell ec ON ec.cell = q.cell AND ec.vec_id != q.query_id
    JOIN emb eq ON eq.vec_id = q.query_id
    JOIN emb ee ON ee.vec_id = ec.vec_id
)
SELECT query_id, vec_id, rk, round(cos, 4) AS cos
FROM scored WHERE rk <= {k}
"""


@query("similarity_topk_ivf", oracle=_topk_ivf_oracle())
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 IVF variant: nearest-centroid inverted lists, n_probe cells
    per query; recall vs brute force asserted in tests, and the cell
    assignment + probe set replicated in the DuckDB oracle."""
    from sstable_hadoop_spark.operators.similarity import cosine_topk_ivf

    emb = load(spark, sf_dir, "embeddings")
    emb_d = emb.select("vec_id", F.transform(
        "embedding", lambda x: x.cast("double")).alias("embedding"))
    queries_df = emb_d.filter(F.col("vec_id") < 8) \
                      .withColumnRenamed("vec_id", "query_id")
    return (cosine_topk_ivf(emb_d, queries_df, k=5)
            .select("query_id", "vec_id", "rk", F.round("cos", 4).alias("cos")))


def _materialize_ivf_store(spark: SparkSession, sf_dir: str) -> str:
    """Write the embeddings corpus CLUSTERED BY IVF cell (hive-style
    ``_cell=N`` parquet partitions) — idempotent per sf_dir."""
    import hashlib

    from sstable_hadoop_spark.operators.similarity import (
        write_ivf_clustered,
    )

    def build(out: str) -> None:
        emb = load(spark, sf_dir, "embeddings").select(
            "vec_id", F.transform(
                "embedding", lambda x: x.cast("double")).alias("embedding"))
        write_ivf_clustered(emb, out)

    tag = "ivf_store_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    return _idempotent_tmpdir(tag, build)


@query("similarity_topk_ivf_stored", oracle=_topk_ivf_oracle())
def similarity_topk_ivf_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 IVF over a CELL-CLUSTERED store: the corpus is written once
    partitioned by IVF cell (write_ivf_clustered), the query-set probe
    cells become an IN-list so Catalyst prunes unprobed partition
    directories at plan time (n_probe/n_centroids of the corpus never
    leaves disk), and results must be bit-identical to the unstored
    IVF — same oracle (operators/similarity.py
    cosine_topk_ivf_stored)."""
    from sstable_hadoop_spark.operators.similarity import (
        cosine_topk_ivf_stored,
    )

    path = _materialize_ivf_store(spark, sf_dir)
    emb_d = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform(
            "embedding", lambda x: x.cast("double")).alias("embedding"))
    queries_df = emb_d.filter(F.col("vec_id") < 8) \
                      .withColumnRenamed("vec_id", "query_id")
    return (cosine_topk_ivf_stored(spark, path, queries_df, k=5)
            .select("query_id", "vec_id", "rk", F.round("cos", 4).alias("cos")))


# msgpack built IN SQL, byte for byte: each piece is emitted as hex and
# unhex'd once at the end — an oracle fully independent of the Python
# encoder (functions/msgpack_lite.py), so a packing bug on either side
# breaks the hash.  Row shape (reference mapred/SSTableData.scala:64-77):
# [key: bin, [[name: bin, value: bin, ts, expiresMillis, ttlSecs]...]],
# bin-family byte arrays, minimal-width unsigned ints.
_MSGPACK_INT = """CASE WHEN {v} <= 127 THEN printf('%02x', {v})
         WHEN {v} <= 255 THEN 'cc' || printf('%02x', {v})
         WHEN {v} <= 65535 THEN 'cd' || printf('%04x', {v})
         WHEN {v} <= 4294967295 THEN 'ce' || printf('%08x', {v})
         ELSE 'cf' || printf('%016x', {v}) END"""

_MSGPACK_BIN = """CASE WHEN octet_length({b}) <= 255
         THEN 'c4' || printf('%02x', octet_length({b}))
         ELSE 'c5' || printf('%04x', octet_length({b})) END || hex({b})"""


@query("msgpack_sink_lines", oracle=f"""
{_CELLS_CTE}
, live AS (
    SELECT key_str, name_str, data_str, ts_us,
           coalesce(expiration, 0) AS exp_ms,
           CASE WHEN state = 'EXPIRING' THEN 86400 ELSE 0 END AS ttl_s
    FROM cells
    QUALIFY row_number() OVER (PARTITION BY key_str, name_str
                               ORDER BY {_ORDER}) = 1
       AND state != 'DELETED'
       AND (expiration IS NULL OR expiration > {AS_OF_MS})
),
enc AS (
    SELECT key_str, name_str,
           '95'
           || {_MSGPACK_BIN.format(b="encode(name_str)")}
           || {_MSGPACK_BIN.format(b="encode(coalesce(data_str, ''))")}
           || {_MSGPACK_INT.format(v="ts_us")}
           || {_MSGPACK_INT.format(v="exp_ms")}
           || {_MSGPACK_INT.format(v="ttl_s")} AS cell_hex
    FROM live
),
packed AS (
    SELECT key_str, count(*) AS n,
           string_agg(cell_hex, '' ORDER BY hex(encode(name_str)))
               AS cells_hex
    FROM enc GROUP BY key_str
)
SELECT to_base64(unhex(
    '92'
    || {_MSGPACK_BIN.format(b="encode(key_str)")}
    || CASE WHEN n <= 15 THEN printf('%02x', 144 + n)
            ELSE 'dc' || printf('%04x', n) END
    || cells_hex)) AS value
FROM packed
""")
def msgpack_sink_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10: the reference's base64(msgpack(MsgPackRow)) output format
    over the merged live view (mapred/SSTableData.scala:97-118);
    round-trip decodability is asserted in tests/test_sinks_and_pushdown,
    and the DuckDB oracle re-derives the msgpack BYTES independently in
    SQL (hex assembly above), making the line strings hash-checkable."""
    from sstable_hadoop_spark.functions import to_msgpack_base64_lines
    from sstable_hadoop_spark.operators import collect_rows

    live = live_view(derived_cells(spark, sf_dir), AS_OF_MS)
    return to_msgpack_base64_lines(collect_rows(live, by_generation=False))


@query("text_sink_lines", oracle=f"""
{_CELLS_CTE}
SELECT concat(key_str, chr(9),
              CASE WHEN state = 'NORMAL'
                   THEN concat('Column(',
                               rtrim(regexp_replace(lower(hex(encode(name_str))),
                                                    '(..)', '\\1 ', 'g')), ',',
                               rtrim(regexp_replace(lower(hex(encode(data_str))),
                                                    '(..)', '\\1 ', 'g')), ',',
                               cast(ts_us AS varchar), ')')
                   WHEN state = 'DELETED'
                   THEN concat('Deleted(',
                               rtrim(regexp_replace(lower(hex(encode(name_str))),
                                                    '(..)', '\\1 ', 'g')), ')')
                   ELSE 'Unknown' END) AS value
FROM cells
QUALIFY row_number() OVER (PARTITION BY key_str ORDER BY {_ORDER}) = 1
""")
def text_sink_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11: the reference's text output — row-LWW winner rendered via
    WritableColumn.toString (Column(...)/Deleted(...)/Unknown,
    WritableColumn.java:95-103; name/data render as BytesWritable's
    space-separated hex pairs), key TAB-prefixed."""
    from sstable_hadoop_spark.functions import to_text_lines

    return to_text_lines(lww_row(derived_cells(spark, sf_dir)))


@query("text_quality_stats", oracle=r"""
SELECT doc_id,
       length(text) AS n_chars_m,
       len(regexp_split_to_array(lower(text), '\s+')) AS n_tokens,
       len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
       round(len(regexp_extract_all(text, '[^\w\s]')) * 1.0
             / greatest(length(text), 1), 6) AS punct_ratio,
       round(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                             t -> t IN ('the','a','of','and','to','in','is','it')))
             * 1.0 / greatest(len(regexp_split_to_array(lower(text), '\s+')), 1),
             6) AS stopword_ratio,
       round(0.4 * (CASE WHEN length(text) BETWEEN 100 AND 5000
                         THEN 1.0 ELSE 0.0 END)
             + 0.3 * (1.0 - len(regexp_extract_all(text, '[^\w\s]')) * 1.0
                            / greatest(length(text), 1))
             + 0.3 * (len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                          t -> t IN ('the','a','of','and','to','in','is','it')))
                      * 1.0
                      / greatest(len(regexp_split_to_array(lower(text), '\s+')), 1)),
             6) AS quality
FROM documents
""")
def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4: per-document token counts, punctuation/stopword ratios, and
    the composite quality score."""
    from sstable_hadoop_spark.operators.text import text_stats

    docs = load(spark, sf_dir, "documents")
    return text_stats(docs)


@query("lang_id_heuristic", oracle=r"""
WITH scored AS (
    SELECT doc_id, lang AS lang_label,
           len(list_filter(regexp_split_to_array(lower(text), '\s+'),
               t -> t IN ('der','die','und','ist'))) AS score_de,
           len(list_filter(regexp_split_to_array(lower(text), '\s+'),
               t -> t IN ('the','and','of','is'))) AS score_en,
           len(list_filter(regexp_split_to_array(lower(text), '\s+'),
               t -> t IN ('el','la','y','es'))) AS score_es,
           len(list_filter(regexp_split_to_array(lower(text), '\s+'),
               t -> t IN ('le','la','et','est'))) AS score_fr,
           len(list_filter(regexp_split_to_array(lower(text), '\s+'),
               t -> t IN ('的','是','了','在'))) AS score_zh
    FROM documents
)
SELECT doc_id, lang_label,
       greatest(score_de, score_en, score_es, score_fr, score_zh) AS best_score,
       CASE WHEN score_de = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'de'
            WHEN score_en = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'en'
            WHEN score_es = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'es'
            WHEN score_fr = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'fr'
            ELSE 'zh' END AS pred_lang
FROM scored
""")
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4: marker-word language ID with deterministic argmax."""
    from sstable_hadoop_spark.operators.text import lang_id

    docs = load(spark, sf_dir, "documents")
    return lang_id(docs)


@query("doc_fingerprint", oracle=f"""
WITH shingles AS (
    SELECT doc_id AS id,
           unnest([md5(array_to_string(toks[i:i+{_SHINGLE_N - 1}], ' '))
                   FOR i IN range(1, greatest(len(toks) - {_SHINGLE_N - 2}, 1))])
               AS shingle
    FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks
          FROM documents)
)
SELECT id, min(shingle) AS fingerprint
FROM shingles GROUP BY id
""")
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4: winnowing-style rolling-hash fingerprint (min md5 over word
    n-gram shingles)."""
    from sstable_hadoop_spark.operators.text import doc_fingerprint as fp

    docs = load(spark, sf_dir, "documents")
    return fp(docs, n=_SHINGLE_N)


# Rounded per-doc quality, identical to operators.text.text_stats —
# shared by the standalone stats query and the curation pipeline.
_QUALITY_SQL = r"""
round(0.4 * (CASE WHEN length(text) BETWEEN 100 AND 5000
             THEN 1.0 ELSE 0.0 END)
      + 0.3 * (1.0 - len(regexp_extract_all(text, '[^\w\s]')) * 1.0
                     / greatest(length(text), 1))
      + 0.3 * (len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                   t -> t IN ('the','a','of','and','to','in','is','it')))
               * 1.0
               / greatest(len(regexp_split_to_array(lower(text), '\s+')),
                          1)), 6)
"""

_CURATION_QUALITY_MIN = 0.5


@query("corpus_curation_pipeline", oracle=rf"""
WITH uniq AS (
    SELECT * FROM documents
    QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
),
stats AS (
    SELECT doc_id,
           len(regexp_split_to_array(lower(text), '\s+')) AS n_tokens,
           len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]'))
               AS n_bpe_tokens,
           {_QUALITY_SQL} AS quality
    FROM uniq
),
scored AS (
    SELECT doc_id,
           len(list_filter(regexp_split_to_array(lower(text), '\s+'),
               t -> t IN ('der','die','und','ist'))) AS score_de,
           len(list_filter(regexp_split_to_array(lower(text), '\s+'),
               t -> t IN ('the','and','of','is'))) AS score_en,
           len(list_filter(regexp_split_to_array(lower(text), '\s+'),
               t -> t IN ('el','la','y','es'))) AS score_es,
           len(list_filter(regexp_split_to_array(lower(text), '\s+'),
               t -> t IN ('le','la','et','est'))) AS score_fr,
           len(list_filter(regexp_split_to_array(lower(text), '\s+'),
               t -> t IN ('的','是','了','在'))) AS score_zh
    FROM uniq
),
langs AS (
    SELECT doc_id,
           CASE WHEN score_de = greatest(score_de, score_en, score_es,
                                         score_fr, score_zh) THEN 'de'
                WHEN score_en = greatest(score_de, score_en, score_es,
                                         score_fr, score_zh) THEN 'en'
                WHEN score_es = greatest(score_de, score_en, score_es,
                                         score_fr, score_zh) THEN 'es'
                WHEN score_fr = greatest(score_de, score_en, score_es,
                                         score_fr, score_zh) THEN 'fr'
                ELSE 'zh' END AS pred_lang
    FROM scored
)
SELECT pred_lang,
       count(*) AS docs_kept,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(n_bpe_tokens) AS BIGINT) AS total_bpe_tokens,
       round(avg(quality), 6) AS avg_quality
FROM stats JOIN langs USING (doc_id)
WHERE quality >= {_CURATION_QUALITY_MIN}
GROUP BY pred_lang
""")
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1+E4 composed as ONE curation job — the shape of a real
    pretraining-corpus pass: exact-dedup (keep lowest doc_id per
    md5(text)), drop low-quality documents, language-ID the survivors,
    roll up kept-doc/token/quality totals per predicted language.

    Plan: dedup is one hash shuffle; stats and lang-ID chain as codegen
    projections over the survivors via column pass-through (``keep=``)
    — NO re-join on doc_id anywhere; the rollup is a tiny 5-group
    aggregation.  At 100 TB this is dedup-shuffle + one scan, which is
    the minimum any curation pass needs."""
    from sstable_hadoop_spark.operators.dedup import exact_dedup
    from sstable_hadoop_spark.operators.text import lang_id, text_stats

    docs = load(spark, sf_dir, "documents")
    kept = exact_dedup(docs)
    stats = text_stats(kept, keep=("text", "lang")).filter(
        F.col("quality") >= _CURATION_QUALITY_MIN)
    scored = lang_id(stats, keep=("n_tokens", "n_bpe_tokens", "quality"))
    return (scored
            .groupBy("pred_lang")
            .agg(F.count(F.lit(1)).alias("docs_kept"),
                 F.sum("n_tokens").cast("long").alias("total_tokens"),
                 F.sum("n_bpe_tokens").cast("long")
                  .alias("total_bpe_tokens"),
                 F.round(F.avg("quality"), 6).alias("avg_quality")))


@query("token_stats_by_lang", oracle=r"""
SELECT lang, source,
       count(*) AS n_docs,
       CAST(sum(len(regexp_split_to_array(lower(text), '\s+'))) AS BIGINT) AS total_tokens,
       round(avg(n_chars), 4) AS avg_chars
FROM documents
GROUP BY lang, source
""")
def token_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 rollup: corpus token accounting per (lang, source)."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), r"\s+")
    return (docs.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(toks)).alias("total_tokens"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars")))


@query("corpus_repetition_signals", oracle=r"""
WITH base AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\n'),
                       ln -> length(trim(ln)) > 0) AS lines,
           regexp_split_to_array(lower(text), '\s+') AS toks
    FROM documents
), grams AS (
    SELECT b.doc_id, b.toks[i] || ' ' || b.toks[i + 1] AS gram
    FROM base b, unnest(range(1, greatest(len(b.toks), 1))) AS u(i)
    WHERE len(b.toks) >= 2
), top AS (
    SELECT doc_id, max(c) AS top_hits FROM (
        SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY 1, 2
    ) GROUP BY doc_id
)
SELECT b.doc_id,
       round((len(lines) - len(list_distinct(lines)))
             * 1.0 / greatest(len(lines), 1), 6) AS dup_line_frac,
       round(least(coalesce(top_hits, 0) * 2.0
                   / greatest(len(toks), 1), 1.0), 6) AS top_bigram_frac,
       round(len(list_distinct(toks)) * 1.0 / greatest(len(toks), 1), 6)
           AS distinct_token_ratio
FROM base b LEFT JOIN top USING (doc_id)
""")
def corpus_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: duplicate-
    line fraction, modal-2-gram token coverage, distinct-token ratio —
    all per-row array math inside codegen, no explode/shuffle/UDF
    (operators/text.py repetition_signals; the oracle derives the modal
    2-gram by explode+count, proving the per-row run-length formula)."""
    from sstable_hadoop_spark.operators.text import repetition_signals

    docs = load(spark, sf_dir, "documents")
    return repetition_signals(docs)


# Corpus-curation thresholds shared between the Spark operators and
# their oracles (operators/corpus.py derivation: first 8 md5 hex chars
# compared against floor(f·2^32) as fixed-width hex — identical string
# comparison semantics in any engine).
def _hexth(f: float) -> str:
    from sstable_hadoop_spark.operators.corpus import _hex_threshold

    return _hex_threshold(f)


@query("corpus_hash_split", oracle=f"""
SELECT doc_id,
       CASE WHEN substr(md5('split:' || CAST(doc_id AS varchar)), 1, 8)
                 < '{{T90}}' THEN 'train'
            WHEN substr(md5('split:' || CAST(doc_id AS varchar)), 1, 8)
                 < '{{T95}}' THEN 'val'
            ELSE 'test' END AS split
FROM documents
""")
def corpus_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (90/5/5) by id-hash
    threshold — stable across runs/cluster sizes/row orders, zero
    shuffles (operators/corpus.py hash_split)."""
    from sstable_hadoop_spark.operators.corpus import hash_split

    docs = load(spark, sf_dir, "documents")
    return hash_split(docs, weights={"train": 0.9, "val": 0.05,
                                     "test": 0.05}).select(
        "doc_id", "split")


@query("corpus_stratified_sample", oracle=f"""
SELECT doc_id, lang
FROM documents
WHERE substr(md5('sample:' || lang || ':' || CAST(doc_id AS varchar)),
             1, 8)
      < CASE lang WHEN 'en' THEN '{{S50}}'
                  WHEN 'de' THEN '{{S25}}'
                  ELSE '{{S10}}' END
""")
def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum downsampling (rebalance a pretraining
    language mix: keep 50% en, 25% de, 10% everything else) — exact
    filter semantics, no RNG state, no shuffle
    (operators/corpus.py stratified_sample)."""
    from sstable_hadoop_spark.operators.corpus import stratified_sample

    docs = load(spark, sf_dir, "documents")
    return stratified_sample(docs, {"en": 0.5, "de": 0.25},
                             default_fraction=0.1).select(
        "doc_id", "lang")


@query("corpus_token_chunks", oracle=r"""
WITH t AS (
    SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks
    FROM documents
), c AS (
    SELECT doc_id, toks,
           unnest(range(greatest(CAST(ceil(len(toks) / 32.0) AS BIGINT),
                                 1))) AS chunk_idx
    FROM t
)
SELECT doc_id, chunk_idx,
       CAST(len(list_slice(toks, chunk_idx * 32 + 1,
                           chunk_idx * 32 + 32)) AS BIGINT) AS n_tokens,
       array_to_string(list_slice(toks, chunk_idx * 32 + 1,
                                  chunk_idx * 32 + 32), ' ') AS chunk_text
FROM c
""")
def corpus_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token chunking (sequence packing's declarative core):
    every document splits into ≤32-token chunks via one per-row
    sequence explode — no join, no shuffle
    (operators/corpus.py token_chunks)."""
    from sstable_hadoop_spark.operators.corpus import token_chunks

    docs = load(spark, sf_dir, "documents")
    return token_chunks(docs, chunk_size=32).select(
        "doc_id", F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("n_tokens").cast("long").alias("n_tokens"), "chunk_text")


@query("corpus_tfidf_top_terms", oracle=r"""
WITH terms AS (
    SELECT doc_id AS id,
           unnest(regexp_split_to_array(lower(text), '\s+')) AS term
    FROM documents
), tf AS (
    SELECT id, term, count(*) AS tf FROM terms
    WHERE length(term) >= 2 GROUP BY id, term
), dfreq AS (
    SELECT term, count(*) AS df_t FROM tf GROUP BY term
), n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
SELECT id, term, round(tf * ln((n_docs + 1.0) / (df_t + 1.0)), 6) AS tfidf,
       CAST(rk AS INTEGER) AS rk
FROM (
    SELECT tf.id, tf.term, tf.tf, dfreq.df_t, n.n_docs,
           row_number() OVER (
               PARTITION BY tf.id
               ORDER BY tf.tf * ln((n.n_docs + 1.0) / (dfreq.df_t + 1.0))
                        DESC, tf.term) AS rk
    FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
WHERE rk <= 3
""")
def corpus_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms: token explode → tf agg → df agg
    joined by term → broadcast 1-row corpus count → WindowGroupLimit
    top-k (operators/corpus.py tfidf_top_terms)."""
    from sstable_hadoop_spark.operators.corpus import tfidf_top_terms

    docs = load(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=3, min_term_len=2)


def _topk_ivf_trained_oracle() -> str:
    """Hybrid oracle for the TRAINED IVF (same policy as the sequence
    packer): the k-means training loop is iterative (non-SQL), but the
    trainer is bit-deterministic (decimal-exact means,
    partitioning-independent — operators/similarity.py
    train_spherical_kmeans), so its codebook is pinned per corpus —
    selected by a data signature the oracle computes itself — and
    EVERYTHING ELSE (cell assignment, probe set, cosine, rank) is
    re-derived declaratively, identically to the untrained IVF oracle.
    A training change, data change, or nondeterminism mismatches."""
    import json
    import os

    with open(os.path.join(os.path.dirname(__file__), "operators",
                           "_trained_centers.json")) as f:
        pinned = json.load(f)
    n_probe, k = 3, 5
    dim = 64
    rows = []
    for sig, cents in pinned.items():
        for cell, c in enumerate(cents):
            arr = ", ".join(repr(float(x)) for x in c)
            rows.append(f"('{sig}', {cell}, [{arr}]::DOUBLE[])")
    values = ",\n    ".join(rows)
    dot = " + ".join(f"e.e[{i + 1}]*c.c[{i + 1}]" for i in range(dim))
    return f"""
WITH sig AS (
    SELECT CAST(count(*) AS VARCHAR) || ':'
           || CAST(round(sum(embedding[1]), 3) AS VARCHAR) AS s
    FROM embeddings
),
cents AS (
    SELECT t.cell, t.c
    FROM (VALUES
    {values}
    ) AS t(s, cell, c) JOIN sig ON t.s = sig.s
),
emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
dots AS (
    SELECT e.vec_id, c.cell, ({dot}) AS d
    FROM emb e CROSS JOIN cents c
),
ranked AS (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY d DESC, cell DESC) AS cell_rk
    FROM dots
),
e_cell AS (SELECT vec_id, cell FROM ranked WHERE cell_rk = 1),
q_cell AS (
    SELECT vec_id AS query_id, cell FROM ranked
    WHERE cell_rk <= {n_probe} AND vec_id < 8
),
scored AS (
    SELECT q.query_id, ec.vec_id,
           list_cosine_similarity(eq.e, ee.e) AS cos,
           row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY list_cosine_similarity(eq.e, ee.e) DESC,
                        ec.vec_id) AS rk
    FROM q_cell q
    JOIN e_cell ec ON ec.cell = q.cell AND ec.vec_id != q.query_id
    JOIN emb eq ON eq.vec_id = q.query_id
    JOIN emb ee ON ee.vec_id = ec.vec_id
)
SELECT query_id, vec_id, rk, round(cos, 4) AS cos
FROM scored WHERE rk <= {k}
"""


@query("similarity_topk_ivf_trained", oracle=_topk_ivf_trained_oracle())
def similarity_topk_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 IVF with a TRAINED codebook — bit-deterministic spherical
    k-means (operators/similarity.py train_spherical_kmeans) replacing
    the md5 pseudo-codebook; same bucket topology and query-time cost.
    The oracle pins the codebook (training is the one iterative step)
    and re-derives assignment/probe/rank declaratively."""
    from sstable_hadoop_spark.operators.similarity import (
        cosine_topk_ivf_trained,
    )

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding",
                              lambda x: x.cast("double")).alias("embedding"))
    q = emb.filter(F.col("vec_id") < 8).withColumnRenamed(
        "vec_id", "query_id")
    return (cosine_topk_ivf_trained(emb, q, k=5)
            .select("query_id", "vec_id", "rk",
                    F.round("cos", 4).alias("cos")))


@query("corpus_redact_pii", oracle=r"""
WITH seeded AS (
    SELECT doc_id,
           text || ' contact user' || CAST(doc_id AS varchar)
                || '@example.com or +1 555-01'
                || printf('%02d', doc_id % 100)
                || ' ip 10.0.0.' || CAST(doc_id % 256 AS varchar) AS text
    FROM documents
)
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '<EMAIL>', 'g'),
             '\b(?:\d[ -]?){15}\d\b', '<CARD>', 'g'),
           '\+?\d{1,3}[ -]?\(?\d{2,4}\)?[ -]?\d{3,4}[ -]?\d{3,4}',
           '<PHONE>', 'g'),
         '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IPV4>', 'g') AS text,
       CAST(len(regexp_extract_all(text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER)
           AS n_email,
       CAST(len(regexp_extract_all(text,
         '\b(?:\d[ -]?){15}\d\b')) AS INTEGER) AS n_card,
       CAST(len(regexp_extract_all(text,
         '\+?\d{1,3}[ -]?\(?\d{2,4}\)?[ -]?\d{3,4}[ -]?\d{3,4}'))
           AS INTEGER) AS n_phone,
       CAST(len(regexp_extract_all(text,
         '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS INTEGER) AS n_ipv4
FROM seeded
""")
def corpus_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing under the oracle: deterministic synthetic PII
    (email/phone/IP derived from doc_id) is appended to every doc, then
    redacted by the regexp_replace chain with per-pattern hit counts —
    Java and RE2 regex semantics must agree token-for-token
    (operators/corpus.py redact_pii; no UDF, no shuffle)."""
    from sstable_hadoop_spark.operators.corpus import redact_pii

    docs = load(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(F.col("text"),
                 F.lit(" contact user"), F.col("doc_id").cast("string"),
                 F.lit("@example.com or +1 555-01"),
                 F.format_string("%02d", F.col("doc_id") % 100),
                 F.lit(" ip 10.0.0."),
                 (F.col("doc_id") % 256).cast("string")).alias("text"))
    return redact_pii(seeded)


_DECON_N = 8


@query("corpus_decontaminate", oracle=f"""
WITH t AS (
    SELECT doc_id, text,
           regexp_split_to_array(lower(text), '\\s+') AS toks
    FROM documents
), g AS (
    SELECT doc_id,
           unnest(CASE WHEN len(toks) >= {_DECON_N}
                  THEN [md5(array_to_string(toks[i:i+{_DECON_N - 1}], ' '))
                        FOR i IN range(1, len(toks) - {_DECON_N - 2})]
                  ELSE [md5(lower(text))] END) AS gram
    FROM t
), bg AS (
    SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0
), dirty AS (
    SELECT DISTINCT doc_id FROM g JOIN bg USING (gram)
)
SELECT doc_id, lang, source, n_chars FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM dirty)
""")
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination under the oracle: docs with
    doc_id % 97 == 0 act as the eval set; any training doc sharing a
    word 8-gram with it (including the eval docs themselves and their
    duplicates) is dropped.  Benchmark grams broadcast; zero corpus
    shuffles (operators/corpus.py decontaminate)."""
    from sstable_hadoop_spark.operators.corpus import decontaminate

    docs = load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return decontaminate(docs, bench, n=_DECON_N).select(
        "doc_id", "lang", "source", "n_chars")


@query("corpus_training_export", oracle=r"""
WITH sampled AS (
    SELECT * FROM documents
    WHERE substr(md5('sample:' || lang || ':'
                     || CAST(doc_id AS varchar)), 1, 8)
          < CASE lang WHEN 'en' THEN '{S50}'
                      WHEN 'de' THEN '{S25}'
                      ELSE '{S10}' END
), train AS (
    SELECT * FROM sampled
    WHERE substr(md5('split:' || CAST(doc_id AS varchar)), 1, 8)
          < '{T90}'
), t AS (
    SELECT doc_id, lang,
           regexp_split_to_array(lower(text), '\s+') AS toks
    FROM train
), c AS (
    SELECT doc_id, lang, toks,
           unnest(range(greatest(CAST(ceil(len(toks) / 32.0) AS BIGINT),
                                 1))) AS chunk_idx
    FROM t
)
SELECT lang,
       count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_chunks,
       CAST(sum(len(list_slice(toks, chunk_idx * 32 + 1,
                               chunk_idx * 32 + 32))) AS BIGINT)
           AS total_tokens
FROM c GROUP BY lang
""")
def corpus_training_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data export pass in ONE scan, join-free:
    stratified language rebalance → deterministic train split →
    32-token chunking (keep= pass-through carries lang) → per-language
    chunk/token rollup.  Every stage is a projection or per-row
    explode over the previous one — the only shuffles are the final
    rollup's two-phase exact-distinct (plan-verified: the sample/split
    hash filters push into the parquet scan) (operators/corpus.py)."""
    from sstable_hadoop_spark.operators.corpus import (
        hash_split,
        stratified_sample,
        token_chunks,
    )

    docs = load(spark, sf_dir, "documents")
    sampled = stratified_sample(docs, {"en": 0.5, "de": 0.25},
                                default_fraction=0.1)
    train = hash_split(sampled).filter(F.col("split") == "train")
    chunks = token_chunks(train, chunk_size=32, keep=("lang",))
    return (chunks.groupBy("lang")
            .agg(F.count_distinct("doc_id").alias("n_docs"),
                 F.count("*").alias("n_chunks"),
                 F.sum("n_tokens").alias("total_tokens")))


@query("corpus_shuffle_shards", oracle="""
SELECT doc_id,
       CAST(CAST(('0x' || substr(md5('shuffle:' || CAST(doc_id AS varchar)),
                                 1, 8)) AS UBIGINT) % 8 AS INT) AS shard,
       CAST(row_number() OVER (
            PARTITION BY CAST(('0x' || substr(md5('shuffle:'
                              || CAST(doc_id AS varchar)), 1, 8))
                         AS UBIGINT) % 8
            ORDER BY md5('shuffle:' || CAST(doc_id AS varchar))
       ) AS INT) AS shard_pos
FROM documents
""")
def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global pseudo-shuffle ahead of shard-partitioned
    training export: shard + within-shard position are pure md5
    functions of the id, so any cluster produces the identical
    training order (operators/corpus.py shuffle_shards — one exchange,
    the same one the shard write needs)."""
    from sstable_hadoop_spark.operators.corpus import shuffle_shards

    docs = load(spark, sf_dir, "documents")
    return (shuffle_shards(docs, n_shards=8)
            .select("doc_id", "shard", "shard_pos"))


def _zorder_oracle(bits: int = 16) -> str:
    """DuckDB replica of the Morton interleave: per-bit extract/shift
    terms summed — engine-portable bit arithmetic, no UDF."""
    terms = []
    for i in range(bits):
        terms.append(f"(((x >> {i}) & 1) << {2 * i})")
        terms.append(f"(((y >> {i}) & 1) << {2 * i + 1})")
    return f"""
WITH src AS (
    SELECT doc_id,
           least(greatest(doc_id, 0), {(1 << bits) - 1}) AS x,
           least(greatest(n_chars, 0), {(1 << bits) - 1}) AS y
    FROM documents
)
SELECT doc_id, CAST({" + ".join(terms)} AS BIGINT) AS zkey
FROM src
"""


@query("zorder_key_gallery", oracle=_zorder_oracle())
def zorder_key_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/z-order clustering key over (doc_id, n_chars) — the
    multi-column layout clustering `write_zordered` sorts by
    (operators/layout.py); pruning effect proven against a
    single-column sort in tests/test_extensions.py via scan-node
    row-group metrics."""
    from sstable_hadoop_spark.operators.layout import zorder_key

    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        zorder_key("doc_id", "n_chars", bits=16).alias("zkey"))


# substitute the shared hex thresholds into the oracles above
for _q, _subs in (
        ("corpus_hash_split", {"T90": _hexth(0.9), "T95": _hexth(0.95)}),
        ("corpus_stratified_sample", {"S50": _hexth(0.5),
                                      "S25": _hexth(0.25),
                                      "S10": _hexth(0.1)}),
        ("corpus_training_export", {"T90": _hexth(0.9),
                                    "S50": _hexth(0.5),
                                    "S25": _hexth(0.25),
                                    "S10": _hexth(0.1)})):
    for _k, _v in _subs.items():
        _ORACLES[_q] = _ORACLES[_q].replace("{" + _k + "}", _v)


# Driver-robust oracle (r6, per VERDICT r5 #1 / ADVICE r5): the checked
# projection carries only columns BOTH engines re-derive declaratively —
# group assignment, doc counts, token totals, and the bin-packing lower
# bound lb = n_oversize + ceil(small_tokens/budget) (each doc longer
# than the budget occupies a dedicated bin, so it contributes exactly 1
# to the bound instead of ceil(n/256)).  ``bins_ok`` asserts the BFD
# output honors lb <= n_bins <= n_docs cross-engine: Spark computes it
# from the real packing, the oracle emits TRUE, so a broken kernel
# (too few bins / phantom bins) still flips the value hash.  The EXACT
# per-group BFD bin counts — sequential-state output no SQL engine can
# re-derive — are pinned in tests/test_extensions.py instead of in a
# literal CASE whose unmatched keys went silently NULL under the
# driver's DuckDB (the r5 red row).
@query("corpus_pack_sequences", oracle=r"""
WITH meta AS (
    SELECT doc_id,
           CAST(len(regexp_split_to_array(lower(text), '\s+'))
                AS BIGINT) AS n_tokens,
           CAST(CAST(('0x' || substr(md5('pack:' || CAST(doc_id AS varchar)),
                                     1, 8)) AS UBIGINT) % 16 AS INT)
               AS pack_group
    FROM documents
), agg AS (
    SELECT pack_group,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN n_tokens > 256 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_over,
           CAST(sum(CASE WHEN n_tokens <= 256 THEN n_tokens ELSE 0 END)
                AS BIGINT) AS small_tokens
    FROM meta GROUP BY pack_group
)
SELECT pack_group, n_docs, total_tokens,
       n_over + CAST(ceil(small_tokens / 256.0) AS BIGINT) AS min_bins_lb,
       TRUE AS bins_ok
FROM agg
ORDER BY pack_group
""")
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (best-fit-decreasing) into 256-token bins:
    U-applyInPandas over (id, n_tokens) metadata only — text never
    enters the Python kernel (operators/corpus.py pack_sequences).
    Returns the per-group rollup with the cross-engine-checkable
    packing invariant ``min_bins_lb <= n_bins <= n_docs`` folded into
    ``bins_ok``; exact BFD bin counts are pinned in pytest."""
    from sstable_hadoop_spark.operators.corpus import pack_sequences

    docs = load(spark, sf_dir, "documents")
    packed = pack_sequences(docs, budget=256, n_groups=16)
    agg = (packed.groupBy("pack_group")
           .agg(F.count_distinct("bin_id").alias("n_bins"),
                F.count("*").alias("n_docs"),
                F.sum("n_tokens").alias("total_tokens"),
                F.sum(F.when(F.col("n_tokens") > 256, 1).otherwise(0))
                 .alias("n_over"),
                F.sum(F.when(F.col("n_tokens") <= 256, F.col("n_tokens"))
                       .otherwise(F.lit(0))).alias("small_tokens")))
    lb = (F.col("n_over")
          + F.ceil(F.col("small_tokens") / F.lit(256.0))).cast("long")
    return (agg.select(
        "pack_group", "n_docs", "total_tokens",
        lb.alias("min_bins_lb"),
        ((F.col("n_bins") >= lb)
         & (F.col("n_bins") <= F.col("n_docs"))).alias("bins_ok"))
        .orderBy("pack_group"))


# The fake kernel is md5(payload || byte(i)) by design, so DuckDB
# replicates it exactly for UTF-8 payloads: a REAL cross-engine oracle
# for the mapInPandas plumbing (r5 — was the last rows-only E5 query).
@query("multimodal_features", oracle="""
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS modality,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       -- the engine stores features as float32: replicate that exact
       -- quantization (CAST AS FLOAT) before rounding, or the 6th
       -- decimal drifts
       round(CAST(CAST(
           CAST(('0x' || substr(md5(text || chr(0)), 1, 8)) AS UBIGINT)
           / 4294967296.0 AS FLOAT) AS DOUBLE), 6) AS f0
FROM documents
""")
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5: binary-payload feature extraction via Arrow-batched
    mapInPandas (deterministic fake decode; schema/batch plumbing is
    the real thing under test).  The kernel formula is deliberately
    SQL-replicable (see operators/multimodal.py), so even the fake
    path is hash-checked cross-engine."""
    from sstable_hadoop_spark.operators.multimodal import (
        extract_features,
        media_from_documents,
    )

    docs = load(spark, sf_dir, "documents")
    media = media_from_documents(docs)
    return (extract_features(media)
            .select("media_id", "modality", "n_bytes",
                    F.round(F.element_at("features", 1), 6).alias("f0")))


# Pinned-literal oracle (VERDICT r4 next-round #2): payloads are seeded
# per doc_id and the kept id set is a filter (order-independent), so the
# decoded feature aggregates are fixed values at sf0.01; decode
# correctness against known images/clips is proven separately in
# tests/test_extensions.py.
@query("multimodal_real_decode", oracle="""
SELECT * FROM (VALUES
    ('audio', 125, 1644.0, 0.3524),
    ('image', 375, 556.98, 0.5013)
) AS t(modality, n, avg_bytes, avg_f3)
""")
def multimodal_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 real-decode path under the driver gate: deterministic BMP,
    PNG and baseline-JPEG images plus PCM WAV clips are synthesized per
    doc_id ON EXECUTORS (stdlib codecs, operators/multimodal.py +
    jpeg_codec.py), decoded for real by ``extract_features(fake=False)``,
    and reduced per modality — no payload ever reaches the driver."""
    from sstable_hadoop_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_features,
    )

    # filter, not limit(600): the kept id set must be row-order
    # independent so the pinned-literal oracle stays valid
    docs = (load(spark, sf_dir, "documents").select("doc_id")
            .filter(F.col("doc_id") < 600))

    def gen(batches):
        import numpy as np
        import pandas as pd

        from sstable_hadoop_spark.operators.jpeg_codec import encode_jpeg
        from sstable_hadoop_spark.operators.multimodal import (
            encode_bmp,
            encode_png,
            encode_wav,
        )

        for pdf in batches:
            rows = {"media_id": [], "modality": [], "payload": [],
                    "meta": []}
            for did in pdf["doc_id"]:
                did = int(did)
                rng = np.random.default_rng(did)
                if did % 4 == 0:
                    img = rng.integers(0, 256, (8, 9, 3), dtype=np.uint8)
                    payload, modality = encode_bmp(img), "image"
                    meta = {"mime": "image/bmp", "width": 9, "height": 8,
                            "duration_ms": None}
                elif did % 4 == 1:
                    img = rng.integers(0, 256, (8, 9, 3), dtype=np.uint8)
                    payload, modality = encode_png(img), "image"
                    meta = {"mime": "image/png", "width": 9, "height": 8,
                            "duration_ms": None}
                elif did % 4 == 2:
                    img = rng.integers(0, 256, (16, 24, 3), dtype=np.uint8)
                    # alternate subsampling/restart so both decoder
                    # paths stay under the driver gate
                    payload = encode_jpeg(
                        img, 85,
                        subsampling="420" if did % 8 == 2 else "444",
                        restart_interval=2 if did % 16 == 2 else 0)
                    modality = "image"
                    meta = {"mime": "image/jpeg", "width": 24,
                            "height": 16, "duration_ms": None}
                else:
                    pcm = rng.integers(-20000, 20000, 800).astype(np.int16)
                    payload, modality = encode_wav(pcm, 16000), "audio"
                    meta = {"mime": "audio/wav", "width": None,
                            "height": None, "duration_ms": 50}
                rows["media_id"].append(did)
                rows["modality"].append(modality)
                rows["payload"].append(payload)
                rows["meta"].append(meta)
            yield pd.DataFrame(rows)

    media = docs.mapInPandas(gen, schema=MEDIA_SCHEMA)
    # decimal-cast before avg: decimal sums are exact and therefore
    # partitioning/order independent, so the rounded result is a
    # stable pin for the literal oracle (float sums are not)
    return (extract_features(media, fake=False)
            .groupBy("modality")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg(F.col("n_bytes").cast("decimal(20,6)")), 2)
                  .cast("double").alias("avg_bytes"),
                 F.round(F.avg(F.element_at("features", 4)
                               .cast("decimal(24,10)")), 4)
                  .cast("double").alias("avg_f3")))


# Pinned-literal oracle (deterministic fixture, same policy as
# multimodal_real_decode): per-doc MJPEG AVIs are synthesized on
# executors, REALLY frame-sampled and per-frame JPEG-decoded, and the
# rounded decimal aggregates below are order/partitioning independent.
@query("multimodal_video_frames", oracle="""
SELECT * FROM (VALUES
    (0, 500, 1016.83, 0.499),
    (2, 400, 1016.42, 0.5006)
) AS t(frame_idx, n, avg_bytes, avg_mean_r)
""")
def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 video real path under the driver gate: deterministic MJPEG
    AVI containers (2-6 frames, fps 10, alternating omitted-DHT
    frames — the classic headerless-MJPEG quirk) are built per doc_id
    ON EXECUTORS, sampled every 250 ms by ``sample_frames(fake=False)``
    (operators/avi_mjpeg.py), and every sampled frame is decoded for
    real by the baseline JPEG codec; per-frame_idx aggregates pin the
    oracle.  Only sampled JPEG frames cross the shuffle, never
    containers."""
    from sstable_hadoop_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        sample_frames,
    )

    docs = (load(spark, sf_dir, "documents").select("doc_id")
            .filter(F.col("doc_id") < 600))

    def gen(batches):
        import numpy as np
        import pandas as pd

        from sstable_hadoop_spark.operators.avi_mjpeg import (
            encode_avi_mjpeg,
        )

        for pdf in batches:
            rows = {"media_id": [], "modality": [], "payload": [],
                    "meta": []}
            for did in pdf["doc_id"]:
                did = int(did)
                rng = np.random.default_rng(did)
                n_frames = 2 + did % 5
                frames = [rng.integers(0, 256, (16, 24, 3),
                                       dtype=np.uint8)
                          for _ in range(n_frames)]
                payload = encode_avi_mjpeg(
                    frames, fps=10, quality=85,
                    omit_dht=(did % 2 == 0))
                rows["media_id"].append(did)
                rows["modality"].append("video")
                rows["payload"].append(payload)
                rows["meta"].append(
                    {"mime": "video/x-msvideo", "width": 24,
                     "height": 16, "duration_ms": n_frames * 100})
            yield pd.DataFrame(rows)

    media = docs.mapInPandas(gen, schema=MEDIA_SCHEMA)
    frames = sample_frames(media, every_ms=250, fake=False)
    # decode every sampled frame for real with the image kernel,
    # keeping frame_idx alongside (extract_features' schema drops it,
    # so this uses its kernel directly in a dedicated mapInPandas)
    from sstable_hadoop_spark.operators.multimodal import FEATURE_DIM

    def decode(batches):
        import pandas as pd

        from sstable_hadoop_spark.operators.multimodal import (
            _real_features,
        )

        for pdf in batches:
            yield pd.DataFrame({
                "frame_idx": pdf["frame_idx"],
                "n_bytes": pdf["payload"].map(len),
                "mean_r": pdf["payload"].map(
                    lambda p: _real_features(bytes(p), FEATURE_DIM)[3]),
            })

    decoded = frames.mapInPandas(
        decode, schema="frame_idx long, n_bytes long, mean_r double")
    return (decoded
            .filter(F.col("frame_idx") % 2 == 0)  # keep the pin small
            .groupBy("frame_idx")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg(F.col("n_bytes").cast("decimal(20,6)")), 2)
                  .cast("double").alias("avg_bytes"),
                 F.round(F.avg(F.col("mean_r").cast("decimal(24,10)")), 4)
                  .cast("double").alias("avg_mean_r")))


# ---------------------------------------------------------------------------
# M5 — streaming window views in batch mode (SURVEY.md §2.8).  The same
# functions run unchanged on readStream inputs (tests/test_streaming.py
# proves stream == batch); batch mode is the oracle-checkable twin.
# ---------------------------------------------------------------------------


@query("window_tumbling_events", oracle="""
SELECT epoch_us(date_trunc('hour', ts))                    AS w_start_us,
       epoch_us(date_trunc('hour', ts) + INTERVAL 1 HOUR)  AS w_end_us,
       event_type,
       count(*)                                            AS n,
       round(avg("value"), 4)                              AS avg_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
""")
def window_tumbling_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window per event_type (streaming twin:
    tumbling_counts with a watermark)."""
    from sstable_hadoop_spark.streaming import tumbling_counts

    return tumbling_counts(load(spark, sf_dir, "events"), "1 hour")


@query("window_sliding_events", oracle="""
WITH assigned AS (
    SELECT event_type,
           unnest([date_trunc('hour', ts),
                   date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS w_start
    FROM events
)
SELECT epoch_us(w_start)                     AS w_start_us,
       epoch_us(w_start + INTERVAL 2 HOUR)   AS w_end_us,
       event_type,
       count(*)                              AS n
FROM assigned
GROUP BY w_start, event_type
""")
def window_sliding_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2h/1h window counts (each event in 2 windows)."""
    from sstable_hadoop_spark.streaming import sliding_counts

    return sliding_counts(load(spark, sf_dir, "events"), "2 hours", "1 hour")


@query("window_session_events", oracle="""
WITH t AS (
    SELECT user_id, epoch_us(ts) AS t_us, "value",
           CASE WHEN epoch_us(ts)
                     - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                               ORDER BY epoch_us(ts))
                     >= 1800000000 THEN 1 ELSE 0 END AS new_session
    FROM events
),
s AS (
    SELECT user_id, t_us, "value",
           sum(new_session) OVER (PARTITION BY user_id ORDER BY t_us
                                  ROWS UNBOUNDED PRECEDING) AS session_id
    FROM t
)
SELECT min(t_us)                  AS w_start_us,
       max(t_us) + 1800000000     AS w_end_us,
       user_id,
       count(*)                   AS n_events,
       round(sum("value"), 2)     AS sum_value
FROM s
GROUP BY user_id, session_id
""")
def window_session_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user — dynamic-length windows;
    oracle is the classic gaps-and-islands construction."""
    from sstable_hadoop_spark.streaming import session_counts

    return session_counts(load(spark, sf_dir, "events"), "30 minutes")


# ---------------------------------------------------------------------------
# SSTable scan path through the driver gate: materialize the derived
# cell table as REAL multi-generation SSTable files (binary codec),
# read them back through spark.read.format("sstable"), and check
# against the SQL derivation — the full custom-source path
# (S1/S3/S5, A1) under the oracle, not just pytest.
# ---------------------------------------------------------------------------


def _drain_stream(spark: SparkSession, start) -> None:
    """Run ``start()``'s ``availableNow`` streaming query to the end,
    then stop it.  AQE cannot coalesce streaming stages, so the run
    pins the state-store shuffle width at 32 (a bare session would run
    200 near-empty stateful tasks per micro-batch) and restores the
    session's own width afterwards, so no later query inherits it."""
    key = "spark.sql.shuffle.partitions"
    width = spark.conf.get(key)
    spark.conf.set(key, "32")
    try:
        q = start()
        try:
            q.awaitTermination()
        finally:
            q.stop()
    finally:
        spark.conf.set(key, width)


def _idempotent_tmpdir(tag: str, build) -> str:
    """Deterministic temp dir built exactly once per ``tag``: the first
    caller wins a mkdir guard and runs ``build(out_dir)``; concurrent
    callers wait on the sibling ``.done`` marker (kept OUTSIDE the dir
    so directory listings — parquet, file streams — never see it).

    The marker holds the absolute path the dir was built at: fixtures
    may record absolute paths (a file sink's ``_spark_metadata``), so a
    copied or moved dir is rebuilt rather than trusted."""
    import os
    import shutil
    import tempfile
    import time

    out = os.path.join(tempfile.gettempdir(), tag)
    done = out + ".done"

    def built() -> bool:
        try:
            with open(done) as f:
                return f.read() == out
        except OSError:
            return False

    if built():
        return out
    guard = out + ".building"
    try:
        os.makedirs(guard)
    except FileExistsError:
        for _ in range(600):
            if built():
                return out
            time.sleep(0.5)
        raise TimeoutError(f"materialize race never completed: {out}")
    try:
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        build(out)
        with open(done, "w") as f:
            f.write(out)
    finally:
        shutil.rmtree(guard, ignore_errors=True)
    return out


def _materialize_sstables(spark: SparkSession, sf_dir: str) -> str:
    """Write the derived cells as sorted multi-generation SSTables under
    a deterministic temp dir (idempotent per sf_dir; gens 3-4 snappy).

    Fully distributed (VERDICT r5 next-round #6): cells regroup into
    row envelopes JVM-side and flow through the sstable SINK with
    generation-disjoint task partitioning (``task_suffix=false`` →
    classic one-family-per-generation names), so no cell bytes ever
    pass through the driver.  Layout is unchanged — same per-generation
    files, global key order, compression split, summary rate — and
    fully deterministic (collect_rows orders cells by struct sort), so
    the pinned ``sstable_split_manifest`` oracle stays a byte-exact
    drift alarm every driver run."""
    import hashlib

    from sstable_hadoop_spark.sources.datasource import register

    def build(out: str) -> None:
        register(spark)
        nested = collect_rows(derived_cells(spark, sf_dir),
                              by_generation=True)
        for gens, compressed in (((1, 2), False), ((3, 4), True)):
            (nested.filter(F.col("generation").isin(*gens))
                   .repartition(2, "generation")
                   .write.format("sstable").option("path", out)
                   .option("name", "events-cf")
                   .option("task_suffix", "false")
                   .option("compressed", str(compressed).lower())
                   .option("summary_rate", "32").mode("append").save())

    tag = "sstable_rtd_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    return _idempotent_tmpdir(tag, build)


def _fixture_split_bytes(path: str) -> int:
    """Split size keeping ~4 byte-range splits per Data.db at ANY
    fixture scale — small enough that every driver run still exercises
    split tiling (the 64 KiB floor keeps the sf0.01 oracle fixtures
    multi-split), large enough that per-split scheduling overhead
    cannot dominate the scan as the fixture grows.  Measured r6 at
    sf1: 330 fixed 64 KiB splits cost 2.76 s of pure per-partition
    overhead vs 0.74 s with ~650 KiB splits, while the codec itself
    parses the whole fixture in 1.76 s single-threaded — the scan was
    scheduler-bound, not parse-bound.  Re-measured r12 at sf0.1
    (sstable_lww, min-of-6): 8 splits/file 1.85 s, 4 splits 1.19 s,
    2 splits 1.13 s — per-split Python-task overhead again, so the
    divisor moved 8 → 4 (2 keeps only boundary-tiling coverage; 4
    buys ~the whole win and more parallel headroom as files grow).
    (Production scans use the source's 128 MiB default; this helper
    exists because the fixture queries deliberately force multi-split
    files.)"""
    import glob as _glob
    import os

    sizes = [os.path.getsize(f) for f in
             _glob.glob(os.path.join(path, "*-Data.db"))]
    if not sizes:
        return 64 * 1024
    per_file = sum(sizes) // len(sizes) // 4
    return max(64 * 1024, min(per_file, 128 * 1024 * 1024))


@query("sstable_scan_roundtrip", oracle=f"""
{_CELLS_CTE}
SELECT key_str, name_str, state, coalesce(data_str, '') AS data_str,
       ts_us, generation
FROM cells
""")
def sstable_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write derived cells to real SSTable files (2 plain + 2 snappy
    generations), scan via the custom data source, explode — must
    reproduce every input cell exactly (codec+source fidelity under the
    driver's oracle)."""
    from sstable_hadoop_spark.sources.datasource import register

    register(spark)
    path = _materialize_sstables(spark, sf_dir)
    df = spark.read.format("sstable") \
        .option("max_split_bytes", str(_fixture_split_bytes(path))).load(path)
    return _render_winners(explode_cells(df)).withColumn(
        "generation", F.col("generation"))


@query("sstable_cells_scan", oracle=f"""
{_CELLS_CTE}
SELECT key_str, name_str, state, coalesce(data_str, '') AS data_str,
       ts_us, generation
FROM cells
""")
def sstable_cells_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat ``kind=cells`` scan under the oracle: one record per cell
    straight off the source (wide-row-safe — batches flush on cell
    count, no nested row value is ever built), must equal the nested
    scan + explode bit-for-bit."""
    from sstable_hadoop_spark.sources.datasource import register

    register(spark)
    path = _materialize_sstables(spark, sf_dir)
    df = (spark.read.format("sstable").option("kind", "cells")
          .option("max_split_bytes", str(_fixture_split_bytes(path))).load(path))
    return _render_winners(df).withColumn(
        "generation", F.col("generation"))


@query("sstable_lww_merge", oracle=f"""
{_CELLS_CTE}
SELECT key_str, name_str, state, coalesce(data_str, '') AS data_str,
       ts_us, generation
FROM cells
QUALIFY row_number() OVER (PARTITION BY key_str, name_str
                           ORDER BY {_ORDER}) = 1
""")
def sstable_lww_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ACTUAL headline job end-to-end
    (ReadSSTableWithoutSplits.scala:14-33): scan real multi-generation
    SSTable files through the custom source (flat ``kind=cells``, no
    nested assembly) and per-cell LWW-merge them — winners must equal
    the SQL derivation's winners exactly.  One scan + one (key, name)
    shuffle with map-side partial aggregation."""
    from sstable_hadoop_spark.sources.datasource import register

    register(spark)
    path = _materialize_sstables(spark, sf_dir)
    cells = (spark.read.format("sstable").option("kind", "cells")
             .option("max_split_bytes", str(_fixture_split_bytes(path))).load(path))
    return _render_winners(lww_cell(cells))


def _materialize_cassandra(spark: SparkSession, sf_dir: str) -> str:
    """Write the derived cells as REAL Cassandra 1.x-layout files
    (gens 1-2 plain, gens 3-4 snappy-chunked with real-layout
    CompressionInfo.db; Index.db offsets are uncompressed-space, as in
    1.x); idempotent per sf_dir like ``_materialize_sstables``.

    Distributed like the native builder: the sink's
    ``format=cassandra`` write path (one generation family per task,
    sources/cassandra1x.py write_cassandra_family) — no cell bytes
    through the driver."""
    import hashlib

    from sstable_hadoop_spark.sources.datasource import register

    def build(out: str) -> None:
        register(spark)
        nested = collect_rows(derived_cells(spark, sf_dir),
                              by_generation=True)
        for gens, compressed in (((1, 2), False), ((3, 4), True)):
            (nested.filter(F.col("generation").isin(*gens))
                   .repartition(2, "generation")
                   .write.format("sstable").option("path", out)
                   .option("format", "cassandra")
                   .option("name", "Keyspace1-events-hc")
                   .option("task_suffix", "false")
                   .option("compressed", str(compressed).lower())
                   .option("chunk_length", str(16 * 1024))
                   .option("summary_rate", str(_CASSANDRA_SUMMARY_RATE))
                   .mode("append").save())

    tag = "cassandra1x4_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    return _idempotent_tmpdir(tag, build)


_CASSANDRA_SUMMARY_RATE = 32


@query("cassandra_format_scan", oracle=f"""
{_CELLS_CTE}
SELECT key_str, name_str, state, coalesce(data_str, '') AS data_str,
       ts_us, generation
FROM cells
""")
def cassandra_format_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real Cassandra 1.x layout end-to-end: derived cells serialized
    in the public pre-1.2 row format (row bloom + column index +
    deletion info + flagged columns; gens 3-4 snappy-chunked behind a
    real-layout CompressionInfo.db), scanned back through
    ``format=cassandra`` with Index.db-driven splits — every cell must
    survive bit-for-bit under the driver's oracle (closes the r1
    reference-fidelity gap; sources/cassandra1x.py)."""
    from sstable_hadoop_spark.sources.datasource import register

    register(spark)
    path = _materialize_cassandra(spark, sf_dir)
    df = (spark.read.format("sstable").option("format", "cassandra")
          .option("max_split_bytes", str(_fixture_split_bytes(path))).load(path))
    return _render_winners(explode_cells(df)).withColumn(
        "generation", F.col("generation"))


@query("cassandra_summary_splits", oracle=f"""
{_CELLS_CTE}
, keys AS (SELECT DISTINCT key_str, generation FROM cells),
ranked AS (
    SELECT key_str, generation,
           row_number() OVER (PARTITION BY generation
                              ORDER BY key_str) - 1 AS rn
    FROM keys
)
SELECT key_str, generation, (rn % 32 = 0) AS is_sample
FROM ranked
""")
def cassandra_summary_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real 1.x persisted-IndexSummary path under the oracle
    (VERDICT r4 missing #1): every generation's Summary.db (writeInt
    count + writeUTF key / writeLong offset — the file the reference's
    IndexSummaryReader walks, GenerateSSTableIndexSplits.scala:75-91)
    is read through ``kind=summary``, and a deliberately tiny
    ``max_split_bytes`` forces Index.db scans to be BYTE-SPLIT at those
    summary sample offsets (the reference's IndexMapper split rule).
    The result proves both at once: index keys must be exactly the
    distinct (key, generation) set — any split overlap or gap breaks
    the hash — and the summary-flagged keys must be every 32nd key in
    sorted order per generation."""
    from sstable_hadoop_spark.sources.datasource import register

    register(spark)
    path = _materialize_cassandra(spark, sf_dir)
    idx = (spark.read.format("sstable").option("format", "cassandra")
           .option("kind", "index").option("max_split_bytes", "4096")
           .load(path))
    summ = (spark.read.format("sstable").option("format", "cassandra")
            .option("kind", "summary").load(path))
    keys = idx.select(F.decode("key", "UTF-8").alias("key_str"),
                      "generation")
    samples = summ.select(F.decode("key", "UTF-8").alias("key_str"),
                          "generation", F.lit(True).alias("is_sample"))
    return (keys.join(F.broadcast(samples), ["key_str", "generation"],
                      "left")
                .select("key_str", "generation",
                        F.coalesce("is_sample",
                                   F.lit(False)).alias("is_sample")))


def _doc_cassandra_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cells for the Cassandra WRITE-sink driver row, derived from the
    ``documents`` table (a second, independent derivation so the sink
    gets its own ledger row instead of hiding inside
    ``cassandra_format_scan``'s fixture build): three named columns
    per document (chars/lang/source), with deterministic DELETED and
    EXPIRING states so the serializer's flag/ttl/localDeletionTime
    paths are all driver-checked.  ``expiration`` is always a whole
    second (×1000 ms) because the 1.x layout persists
    localDeletionTime in SECONDS (cassandra1x.py encode ``exp//1000``,
    decode ``*1000``) — anything finer cannot round-trip."""
    docs = load(spark, sf_dir, "documents")
    trip = F.array(
        F.struct(F.lit("chars").alias("name_str"),
                 F.col("n_chars").cast("string").alias("val")),
        F.struct(F.lit("lang").alias("name_str"),
                 F.col("lang").alias("val")),
        F.struct(F.lit("source").alias("name_str"),
                 F.col("source").alias("val")))
    e = (docs.select("doc_id", "n_chars", F.explode(trip).alias("c"))
             .select("doc_id", "n_chars",
                     F.col("c.name_str").alias("name_str"),
                     F.col("c.val").alias("val")))
    state = (F.when(((F.col("doc_id") % 7) == 0)
                    & (F.col("name_str") == "lang"), F.lit("DELETED"))
              .when((F.col("n_chars") % 5) == 0, F.lit("EXPIRING"))
              .otherwise(F.lit("NORMAL")))
    e = e.withColumn("state", state)
    expiring = F.col("state") == "EXPIRING"
    return e.select(
        F.encode(F.concat(F.lit("doc:"), F.col("doc_id").cast("string")),
                 "UTF-8").alias("key"),
        F.encode("name_str", "UTF-8").alias("name"),
        "state",
        F.when(F.col("state") == "DELETED", F.lit(None).cast("binary"))
         .otherwise(F.encode("val", "UTF-8")).alias("data"),
        (F.col("doc_id") * 1_000_000 + F.col("n_chars")).cast("long")
         .alias("timestamp"),
        F.when(expiring, F.lit(3600) + F.col("doc_id") % 100)
         .cast("long").alias("ttl"),
        F.when(expiring, F.lit(AS_OF_MS) + F.col("n_chars") * 1000)
         .cast("long").alias("expiration"),
        (F.col("doc_id") % 2 + 1).cast("int").alias("generation"))


def _materialize_cassandra_docs(spark: SparkSession, sf_dir: str) -> str:
    """Document cells → the distributed ``format=cassandra`` WRITE sink
    (gen 1 plain, gen 2 snappy-chunked) — idempotent per sf_dir.

    FIXTURE BUILDER ONLY: the ``coalesce(1)`` below exists because
    ``task_suffix=false`` classic names require one task per
    generation (a deterministic family name the oracle can cite), and
    it serializes the whole write onto one task — fine at driver-
    fixture scale, wrong for production data.  Write real tables with
    ``task_suffix=true`` (the default) and natural parallelism."""
    import hashlib

    from sstable_hadoop_spark.sources.datasource import register

    def build(out: str) -> None:
        register(spark)
        nested = collect_rows(_doc_cassandra_cells(spark, sf_dir),
                              by_generation=True)
        for gen, compressed in ((1, False), (2, True)):
            (nested.filter(F.col("generation") == gen)
                   .coalesce(1)
                   .write.format("sstable").option("path", out)
                   .option("format", "cassandra")
                   .option("name", "Keyspace1-docs-hc")
                   .option("task_suffix", "false")
                   .option("compressed", str(compressed).lower())
                   .option("chunk_length", str(16 * 1024))
                   .option("summary_rate", str(_CASSANDRA_SUMMARY_RATE))
                   .mode("append").save())

    tag = "cassandra1x_docs_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    return _idempotent_tmpdir(tag, build)


@query("cassandra_write_roundtrip", oracle="""
WITH e AS (
    SELECT doc_id, n_chars,
           unnest(['chars', 'lang', 'source'])                 AS name_str,
           unnest([CAST(n_chars AS VARCHAR), lang, source])    AS val
    FROM documents
), cells AS (
    SELECT 'doc:' || CAST(doc_id AS VARCHAR)                   AS key_str,
           name_str,
           CASE WHEN doc_id % 7 = 0 AND name_str = 'lang' THEN 'DELETED'
                WHEN n_chars % 5 = 0                       THEN 'EXPIRING'
                ELSE 'NORMAL' END                              AS state,
           doc_id, n_chars, val
    FROM e
)
SELECT key_str, name_str, state,
       CASE WHEN state = 'DELETED' THEN '' ELSE val END        AS data_str,
       CAST(doc_id * 1000000 + n_chars AS BIGINT)              AS ts_us,
       CASE WHEN state = 'EXPIRING'
            THEN CAST(3600 + doc_id % 100 AS BIGINT) END       AS ttl,
       CASE WHEN state = 'EXPIRING'
            THEN CAST(1767225600000 + n_chars * 1000 AS BIGINT)
            END                                                AS expiration,
       CAST(doc_id % 2 + 1 AS INT)                             AS generation
FROM cells
""")
def cassandra_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERDICT r6 #3b: the Cassandra 1.x WRITE sink as its own driver
    row.  Documents-derived cells (independent of the events
    derivation every other cassandra row uses) go out through the
    distributed ``format=cassandra`` sink — NORMAL, DELETED (flag +
    4-byte localDeletionTime value) and EXPIRING (ttl + whole-second
    localDeletionTime) columns, one plain and one snappy-chunked
    generation — and come back through the ``format=cassandra`` scan
    with byte-range splits.  The oracle re-derives every checked
    column, INCLUDING ttl and expiration, straight from ``documents``
    in SQL: a flag mis-encoded, a ttl dropped, or a deletion time
    rounded wrong hash-mismatches here (sources/cassandra1x.py
    encode_cassandra_row / read_cassandra_rows; reference consumes
    this exact artifact via scala-sstable-reader, pom.xml:73-77)."""
    from sstable_hadoop_spark.sources.datasource import register

    register(spark)
    path = _materialize_cassandra_docs(spark, sf_dir)
    df = (spark.read.format("sstable").option("format", "cassandra")
          .option("max_split_bytes", str(_fixture_split_bytes(path)))
          .load(path))
    cells = explode_cells(df)
    return cells.select(
        F.decode("key", "UTF-8").alias("key_str"),
        F.decode("name", "UTF-8").alias("name_str"),
        "state",
        F.coalesce(F.decode("data", "UTF-8"), F.lit("")).alias("data_str"),
        F.col("timestamp").alias("ts_us"),
        "ttl", "expiration", "generation")


def _materialize_sink(spark: SparkSession, sf_dir: str) -> str:
    """Write the derived cells through the DISTRIBUTED sstable sink
    (each Spark task writes its own key-sorted generation family,
    snappy-compressed) — idempotent per sf_dir."""
    import hashlib

    def build(out: str) -> None:
        nested = collect_rows(derived_cells(spark, sf_dir),
                              by_generation=True)
        (nested.repartitionByRange(4, "key")
               .write.format("sstable").option("path", out)
               .option("name", "sinkrt").option("compressed", "true")
               .option("summary_rate", "32").mode("append").save())

    tag = "sstable_sink_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    return _idempotent_tmpdir(tag, build)


@query("write_sink_roundtrip", oracle=f"""
{_CELLS_CTE}
SELECT key_str, name_str, state, coalesce(data_str, '') AS data_str,
       ts_us, generation
FROM cells
""")
def write_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed write path under the oracle: cells regrouped into row
    envelopes, written by the sstable SINK (key-range-partitioned tasks,
    snappy chunks, datasource.py SSTableWriteTask), re-scanned through
    the source — the write→read identity must hold for every cell."""
    from sstable_hadoop_spark.sources.datasource import register

    register(spark)
    path = _materialize_sink(spark, sf_dir)
    df = (spark.read.format("sstable")
          .option("max_split_bytes", str(_fixture_split_bytes(path))).load(path))
    return _render_winners(explode_cells(df)).withColumn(
        "generation", F.col("generation"))


_COMPACT_GEN = 9


def _materialize_compacted(spark: SparkSession, sf_dir: str) -> str:
    """Run major compaction over the materialized multi-generation
    SSTables into a single merged generation — idempotent per sf_dir."""
    import hashlib

    from sstable_hadoop_spark.operators.compaction import compact

    in_dir = _materialize_sstables(spark, sf_dir)

    def build(out: str) -> None:
        compact(spark, in_dir, out, generation=_COMPACT_GEN,
                target_partitions=4)

    tag = "sstable_compact_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    return _idempotent_tmpdir(tag, build)


@query("compaction_roundtrip", oracle=f"""
{_CELLS_CTE}
SELECT key_str, name_str, state, coalesce(data_str, '') AS data_str,
       ts_us, cast({_COMPACT_GEN} AS int) AS generation
FROM cells
QUALIFY row_number() OVER (PARTITION BY key_str, name_str
                           ORDER BY {_ORDER}) = 1
""")
def compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Major compaction end-to-end under the oracle: 4 generations →
    ``compact()`` (per-cell LWW merge, one merged generation written
    through the distributed sink) → re-scan.  Must equal batch
    ``lww_cell`` of the inputs with the generation relabeled
    (operators/compaction.py; reference pipeline
    ReadSSTableWithoutSplits.scala:14-33)."""
    from sstable_hadoop_spark.sources.datasource import register

    register(spark)
    path = _materialize_compacted(spark, sf_dir)
    df = spark.read.format("sstable").load(path)
    return _render_winners(explode_cells(df)).withColumn(
        "generation", F.col("generation"))


def _stage_cell_stream(spark: SparkSession, sf_dir: str) -> str:
    """Stage the derived cells as one parquet file per generation with
    strictly increasing mtimes, so a file stream (oldest-first default)
    replays generations in order — arrival order then equals generation
    order, which the flush round-trip's tie-break relies on.

    FIXTURE BUILDER ONLY: the ``coalesce(1)`` exists to get exactly
    one file per generation for the mtime choreography above; it
    serializes each generation's write onto one task, which is fine at
    driver-fixture scale and wrong for production data volumes."""
    import hashlib
    import os

    cells = derived_cells(spark, sf_dir)

    def build(out: str) -> None:
        for g in (1, 2, 3, 4):
            before = set(os.listdir(out))
            (cells.filter(F.col("generation") == g).coalesce(1)
                  .write.mode("append").parquet(out))
            for f in os.listdir(out):
                if f.endswith(".parquet") and f not in before:
                    os.utime(os.path.join(out, f), (g * 1000, g * 1000))

    tag = "cells_stream2_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    return _idempotent_tmpdir(tag, build)


@query("streaming_lww_flush", oracle=f"""
{_CELLS_CTE}
SELECT key_str, name_str, state, coalesce(data_str, '') AS data_str,
       ts_us, generation
FROM cells
QUALIFY row_number() OVER (PARTITION BY key_str, name_str
                           ORDER BY {_ORDER}) = 1
""")
def streaming_lww_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming LWW under the oracle: cells arrive one
    generation per micro-batch (file stream, ``maxFilesPerTrigger=1``,
    ``availableNow`` flush); ``lww_cell`` over the stream runs as a
    stateful aggregation and, in update mode, emits the changed
    winners of each batch.  Winners only ever improve under the LWW
    total order, so the max-order emission per (key, name) — reduced
    with the batch ``lww_cell`` over the memory-sink emissions — must
    equal the batch winners exactly."""
    import uuid

    src = _stage_cell_stream(spark, sf_dir)
    cells = derived_cells(spark, sf_dir)
    stream = (spark.readStream.schema(cells.schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    sink = f"lww_flush_{uuid.uuid4().hex[:8]}"
    _drain_stream(spark, lambda: (
        lww_cell(stream)
        .writeStream.format("memory").queryName(sink)
        .outputMode("update").trigger(availableNow=True).start()))
    return _render_winners(lww_cell(spark.table(sink)))


@query("streaming_flush_roundtrip", oracle=f"""
{_CELLS_CTE}
SELECT key_str, name_str, state, coalesce(data_str, '') AS data_str,
       ts_us, generation
FROM cells
QUALIFY row_number() OVER (PARTITION BY key_str, name_str
                           ORDER BY {_ORDER}) = 1
""")
def streaming_flush_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memtable/flush write path under the oracle
    (streaming/compaction.py): cells arrive one generation per
    micro-batch, each batch is locally LWW-merged and flushed as a NEW
    SSTable generation through the distributed sink; batch ``lww_cell``
    over a re-scan of the flushed directory must equal the flat batch
    winners.  Staged mtimes make arrival order == generation order
    (batch g-1 flushes generation g), so winners keep their original
    generation and the LWW tie-break agrees with the SQL twin."""
    import hashlib

    from sstable_hadoop_spark.sources.datasource import register
    from sstable_hadoop_spark.streaming.compaction import (
        flush_stream_to_sstables,
    )

    register(spark)
    src = _stage_cell_stream(spark, sf_dir)
    cells = derived_cells(spark, sf_dir)

    def build(out: str) -> None:
        import os

        stream = (spark.readStream.schema(cells.schema)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        _drain_stream(spark, lambda: flush_stream_to_sstables(
            stream, out, os.path.join(out, "_checkpoint"),
            compressed=True))

    tag = "sstable_flush_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    out = _idempotent_tmpdir(tag, build)
    flushed = spark.read.format("sstable").load(out)
    return _render_winners(lww_cell(explode_cells(flushed)))


@query("lww_skewed_auto", oracle=f"""
{_CELLS_CTE},
skewed AS (
    SELECT CASE WHEN cast(key_str AS int) % 5 < 2
                THEN 'hot' ELSE key_str END AS key_str,
           name_str, state, data_str, ts_us, expiration, generation
    FROM cells
)
SELECT key_str, name_str, state, coalesce(data_str, '') AS data_str,
       ts_us, generation
FROM skewed
QUALIFY row_number() OVER (PARTITION BY key_str, name_str
                           ORDER BY {_ORDER}) = 1
""")
def lww_skewed_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key LWW under the oracle: ~40% of all cells are remapped onto
    one row key (the Cassandra wide-row pathology), then merged with
    the plain ``lww_cell``, which must equal the SQL winners exactly.
    Its partial ``max`` runs below the only Exchange, so the hot
    (key, name) groups reach their reducers as at most one candidate
    per map partition.  The name is kept because the correctness
    ledger records it."""
    cells = derived_cells(spark, sf_dir)
    skewed = cells.withColumn(
        "key",
        F.when(F.decode(F.col("key"), "UTF-8").cast("int") % 5 < 2,
               F.encode(F.lit("hot"), "UTF-8"))
         .otherwise(F.col("key")))
    return _render_winners(lww_cell(skewed))


@query("sstable_index_keys", oracle=f"""
{_CELLS_CTE}
SELECT DISTINCT key_str, generation FROM cells
""")
def sstable_index_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5+S8: scan Index.db files, project keys (offset dropped, the
    Pig index loader's projection — SSTableIndexLoader.scala:24-26)."""
    from sstable_hadoop_spark.sources.datasource import register

    register(spark)
    path = _materialize_sstables(spark, sf_dir)
    idx = spark.read.format("sstable").option("kind", "index").load(path)
    return idx.select(F.col("key").cast("string").alias("key_str"),
                      "generation").distinct()


@query("sstable_scan_file_uri", oracle=f"""
{_CELLS_CTE}
SELECT key_str, name_str, state, coalesce(data_str, '') AS data_str,
       ts_us, generation
FROM cells
""")
def sstable_scan_file_uri(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full scan addressed by URI (``file://``) — every byte of
    list/plan/read flows through the pyarrow.fs filesystem layer
    (sources/fs.py; executors re-open partition paths carrying the
    scheme) and must be bit-identical to the bare-path scan under the
    oracle.  Proves the r4 filesystem abstraction at the driver gate,
    not just in unit tests."""
    from sstable_hadoop_spark.sources.datasource import register

    register(spark)
    path = _materialize_sstables(spark, sf_dir)
    df = spark.read.format("sstable") \
        .option("max_split_bytes", str(_fixture_split_bytes(path))) \
        .load(f"file://{path}")
    return _render_winners(explode_cells(df)).withColumn(
        "generation", F.col("generation"))


@query("sstable_winner_index", oracle=f"""
{_CELLS_CTE}
SELECT key_str, name_str, state, ts_us, generation
FROM cells
QUALIFY row_number() OVER (PARTITION BY key_str, name_str
                           ORDER BY ts_us DESC,
                                    CASE state WHEN 'DELETED' THEN 2
                                         WHEN 'EXPIRING' THEN 1
                                         ELSE 0 END DESC,
                                    generation DESC,
                                    to_base64(encode(name_str)) DESC) = 1
""")
def sstable_winner_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LWW winner INDEX without materializing values: a
    ``skip_values=true`` scan (codec seeks past every value byte)
    feeds the per-cell merge on (timestamp, state, generation) alone —
    the 'which cell version is live' query a compaction planner or
    repair job runs, at key-scan cost instead of full-scan cost.
    Winner identity must match the full merge's (value tie-break never
    fires here because the fixture's (ts,state,gen) order is already
    total — asserted by the oracle's value-free ORDER BY)."""
    from sstable_hadoop_spark.sources.datasource import register

    register(spark)
    path = _materialize_sstables(spark, sf_dir)
    cells = (spark.read.format("sstable").option("kind", "cells")
             .option("skip_values", "true")
             .option("max_split_bytes", str(_fixture_split_bytes(path))).load(path))
    win = lww_cell(cells)
    return win.select(
        F.decode(F.col("key"), "UTF-8").alias("key_str"),
        F.decode(F.col("name"), "UTF-8").alias("name_str"),
        F.col("state"),
        F.col("timestamp").alias("ts_us"),
        F.col("generation"))


@query("sstable_keys_scan", oracle=f"""
{_CELLS_CTE}
SELECT DISTINCT key_str, generation FROM cells
""")
def sstable_keys_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-only DATA scan via the source's explicit column projection
    (``columns=key,generation`` — the pruning Catalyst can't push
    through the Python DataSource API): the codec walks cell headers
    purely to find row boundaries, materializing no cell value, and
    the Arrow batch carries just (key, generation).  Must equal the
    index-derived key set (S5/S8 parity through the Data.db path)."""
    from sstable_hadoop_spark.sources.datasource import register

    register(spark)
    path = _materialize_sstables(spark, sf_dir)
    keys = (spark.read.format("sstable")
            .option("columns", "key,generation").load(path))
    return keys.select(F.col("key").cast("string").alias("key_str"),
                       "generation").distinct()


# Pinned-literal oracle (VERDICT r4 next-round #2): the materialized
# generations are deterministic functions of the sf0.01 events table, so
# the planned-split geometry is a fixed value — pinning it makes every
# codec/split-planner drift hash-visible.  (The driver compares oracles
# at sf=0.01 only; pytest invariants in test_datasource.py cover the
# split semantics at other scales.)
@query("sstable_split_manifest", oracle="""
SELECT * FROM (VALUES
    ('events-cf-1', 5, 0, 69269, 69269),
    ('events-cf-2', 5, 0, 69970, 69970),
    ('events-cf-3', 5, 0, 33401, 129426),
    ('events-cf-4', 5, 0, 33483, 129300)
) AS t(file, n_splits, min_off, max_end, total_bytes)
""")
def sstable_split_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9/G2: the split manifest as a DataFrame + A7 min/max offset
    aggregation over planned splits per file.  Gens 3-4 are
    snappy-compressed: byte-space totals exceed max_end because
    adjacent compressed splits may share a boundary chunk."""
    from sstable_hadoop_spark.sources.datasource import register

    register(spark)
    path = _materialize_sstables(spark, sf_dir)
    m = spark.read.format("sstable").option("kind", "manifest") \
        .option("max_split_bytes", str(16 * 1024)).load(path)
    # basename, not the /tmp fixture path: the result must be
    # machine-layout independent so the literal oracle can pin it
    base = F.element_at(F.split(F.col("filename"), "/"), -1)
    return (m.groupBy(base.alias("file")).agg(
        F.count("*").alias("n_splits"),
        F.min("byte_start").alias("min_off"),
        F.max(F.col("byte_start") + F.col("byte_length")).alias("max_end"),
        F.sum("byte_length").alias("total_bytes")))


# ---------------------------------------------------------------------------
# Coverage widening: subqueries, window gallery, statistics, pivot,
# string functions, embedding near-dup, dedup clustering.
# ---------------------------------------------------------------------------


@query("subquery_above_avg_orders", oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.5 FROM orders)
""")
def subquery_above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery (uncorrelated) — Catalyst folds it to a literal
    after one aggregation pass."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_sq")
    return spark.sql("""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders_sq
        WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.5 FROM orders_sq)
    """)


@query("subquery_correlated_avg_quantity", oracle="""
SELECT p.p_brand,
       CAST(count(*) AS BIGINT) AS n_small,
       CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS revenue_c
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                      FROM lineitem l2
                      WHERE l2.l_partkey = l.l_partkey)
GROUP BY p.p_brand
""")
def subquery_correlated_avg_quantity(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """TPC-H Q17's shape: a correlated scalar AVG subquery (small-
    order detection — line items under 20% of their part's average
    quantity) that Catalyst must DECORRELATE into a per-part
    aggregate join (a per-row re-scan of lineitem would be O(rows ×
    table)); grouped to brand with exact-cent revenue.  Boundary
    determinism: quantities are integral doubles, so the per-part
    average and the 0.2× threshold evaluate to identical IEEE values
    in both engines — no row can flip sides."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("li_sq17")
    load(spark, sf_dir, "part").createOrReplaceTempView("part_sq17")
    return spark.sql("""
        SELECT p.p_brand,
               CAST(count(*) AS BIGINT) AS n_small,
               CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5)
                             AS BIGINT)) AS BIGINT) AS revenue_c
        FROM li_sq17 l JOIN part_sq17 p
            ON p.p_partkey = l.l_partkey
        WHERE l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                              FROM li_sq17 l2
                              WHERE l2.l_partkey = l.l_partkey)
        GROUP BY p.p_brand
    """)


@query("subquery_correlated_max_item", oracle="""
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem l1
WHERE l_extendedprice = (SELECT max(l_extendedprice) FROM lineitem l2
                         WHERE l2.l_orderkey = l1.l_orderkey)
""")
def subquery_correlated_max_item(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery — decorrelated by Catalyst into an
    aggregate + join (no per-row re-execution)."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_sq")
    return spark.sql("""
        SELECT l_orderkey, l_linenumber, l_extendedprice
        FROM lineitem_sq l1
        WHERE l_extendedprice = (SELECT max(l_extendedprice) FROM lineitem_sq l2
                                 WHERE l2.l_orderkey = l1.l_orderkey)
    """)


@query("window_gallery", oracle="""
SELECT o_custkey, o_orderkey,
       lag(o_totalprice) OVER w        AS prev_price,
       lead(o_totalprice) OVER w       AS next_price,
       dense_rank() OVER w2            AS price_drank,
       ntile(4) OVER w2                AS price_quartile,
       round(percent_rank() OVER w2, 6) AS price_prank
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate), o_orderkey),
       w2 AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
""")
def window_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 analytic gallery: lag/lead/dense_rank/ntile/percent_rank."""
    from pyspark.sql.window import Window

    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(ts_us(o, "o_orderdate"),
                                                F.asc("o_orderkey"))
    w2 = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"),
                                                 F.asc("o_orderkey"))
    return o.select(
        "o_custkey", "o_orderkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.dense_rank().over(w2).alias("price_drank"),
        F.ntile(4).over(w2).alias("price_quartile"),
        F.round(F.percent_rank().over(w2), 6).alias("price_prank"))


@query("stats_aggregates", oracle="""
SELECT l_returnflag,
       round(stddev_samp(l_quantity), 6)                 AS sd_qty,
       round(var_samp(l_discount), 6)                    AS var_disc,
       round(corr(l_quantity, l_extendedprice), 6)       AS corr_qty_price,
       round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
       round(median(l_quantity), 4)                      AS med_qty,
       round(quantile_cont(l_extendedprice, 0.9), 4)     AS p90_price
FROM lineitem
GROUP BY l_returnflag
""")
def stats_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 statistical aggregates: stddev/variance/corr/covar/median/
    exact percentile."""
    li = load(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6)
         .alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4)
         .alias("covar_qty_price"),
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("med_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4)
         .alias("p90_price")))


@query("pivot_status_by_priority", oracle="""
SELECT o_orderpriority,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS status_f,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS status_o,
       count(*) FILTER (WHERE o_orderstatus = 'P') AS status_p
FROM orders
GROUP BY o_orderpriority
""")
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts per priority × status (fixed status set →
    bounded output columns; never pivot on unbounded cardinality)."""
    o = load(spark, sf_dir, "orders")
    return (o.groupBy("o_orderpriority")
             .pivot("o_orderstatus", ["F", "O", "P"])
             .agg(F.count(F.lit(1)))
             .select("o_orderpriority",
                     F.coalesce("F", F.lit(0)).alias("status_f"),
                     F.coalesce("O", F.lit(0)).alias("status_o"),
                     F.coalesce("P", F.lit(0)).alias("status_p")))


@query("string_function_gallery", oracle="""
SELECT c_custkey,
       upper(c_name)                                   AS uname,
       substr(c_name, 10, 5)                           AS midpart,
       length(c_name)                                  AS name_len,
       replace(c_mktsegment, 'I', '!')                 AS seg_repl,
       lpad(cast(c_nationkey AS varchar), 4, '0')      AS nat_pad,
       split_part(c_name, '#', 2)                      AS name_num,
       regexp_extract(c_name, '[0-9]+')                AS digits,
       concat_ws('|', c_mktsegment, cast(c_nationkey AS varchar)) AS joined
FROM customer
""")
def string_function_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 string surface: case, substring, replace, pad, split,
    regexp extraction, concat."""
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("uname"),
        F.substring("c_name", 10, 5).alias("midpart"),
        F.length("c_name").alias("name_len"),
        F.replace(F.col("c_mktsegment"), F.lit("I"), F.lit("!"))
         .alias("seg_repl"),
        F.lpad(F.col("c_nationkey").cast("string"), 4, "0").alias("nat_pad"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).alias("name_num"),
        F.regexp_extract(F.col("c_name"), "[0-9]+", 0).alias("digits"),
        F.concat_ws("|", F.col("c_mktsegment"),
                    F.col("c_nationkey").cast("string")).alias("joined"))


@query("null_handling_gallery", oracle="""
SELECT e.event_id,
       coalesce(nullif(e.event_type, 'error'), '<errored>') AS type_or_flag,
       CASE WHEN e."value" IS NULL THEN -1 ELSE e."value" END AS val_nvl,
       least(e."value", 100.0)    AS val_capped,
       greatest(e."value", 1.0)   AS val_floored
FROM events e
""")
def null_handling_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 null semantics: nullif/coalesce/case/least/greatest."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.coalesce(F.nullif(F.col("event_type"), F.lit("error")),
                   F.lit("<errored>")).alias("type_or_flag"),
        F.when(F.col("value").isNull(), -1.0).otherwise(F.col("value"))
         .alias("val_nvl"),
        F.least(F.col("value"), F.lit(100.0)).alias("val_capped"),
        F.greatest(F.col("value"), F.lit(1.0)).alias("val_floored"))


@query("array_agg_sorted_events", oracle="""
SELECT user_id,
       array_to_string(list(event_type ORDER BY epoch_us(ts), event_id), ',')
           AS type_seq,
       count(*) AS n
FROM events
GROUP BY user_id
""")
def array_agg_sorted_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive collect: the per-user event-type sequence in
    event-time order (deterministic via (ts, event_id) sort key)."""
    ev = load(spark, sf_dir, "events")
    pair = F.struct(ts_us(ev, "ts").alias("t"),
                    F.col("event_id").alias("eid"),
                    F.col("event_type").alias("et"))
    return (ev.groupBy("user_id")
              .agg(F.array_sort(F.collect_list(pair)).alias("seq"),
                   F.count("*").alias("n"))
              .select("user_id",
                      F.array_join(F.transform("seq", lambda s: s["et"]), ",")
                       .alias("type_seq"), "n"))


_NEAR_DUP_PLANES, _NEAR_DUP_TABLES, _NEAR_DUP_DIM = 3, 6, 64


def _near_dup_oracle() -> str:
    """DuckDB replica of the sign-LSH bucketed near-dup pipeline: the
    md5-derived hyperplanes are inlined as literals and each dot
    product is written as an explicit left-to-right term sum — the same
    fold order as Spark's ``aggregate(zip_with(...))`` — so every sign
    decision (and therefore every bucket) matches bit-for-bit."""
    from sstable_hadoop_spark.operators.similarity import _hyperplanes

    bucket_exprs = []
    for t in range(_NEAR_DUP_TABLES):
        planes = _hyperplanes(_NEAR_DUP_DIM, _NEAR_DUP_PLANES,
                              seed=f"table{t}")
        bits = []
        for p, plane in enumerate(planes):
            dot = " + ".join(f"e[{d + 1}]*{plane[d]!r}"
                             for d in range(_NEAR_DUP_DIM))
            bits.append(f"(CASE WHEN ({dot}) >= 0 "
                        f"THEN {1 << p} ELSE 0 END)")
        bucket_exprs.append(
            f"'{t}' || ':' || CAST({' + '.join(bits)} AS VARCHAR)")
    buckets = ",\n        ".join(bucket_exprs)
    return f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
buckets AS (
    SELECT vec_id, unnest([
        {buckets}]) AS bucket
    FROM emb
),
cand AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM buckets a JOIN buckets b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT c.id_a, c.id_b,
       round(list_cosine_similarity(ea.e, eb.e), 4) AS cos
FROM cand c
JOIN emb ea ON c.id_a = ea.vec_id
JOIN emb eb ON c.id_b = eb.vec_id
WHERE list_cosine_similarity(ea.e, eb.e) >= 0.5
"""


@query("embedding_cosine_near_dup", oracle=_near_dup_oracle())
def embedding_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 embedding near-dup at scale: sign-LSH bucketed candidates
    (6 tables × 3 planes, deterministic md5 hyperplanes) verified with
    the exact cosine — no cartesian/BNLJ stage anywhere; the oracle
    replicates the buckets exactly, so the approximate candidate set is
    itself oracle-checked (precision 1, recall by S-curve)."""
    from sstable_hadoop_spark.operators.similarity import cosine_near_dup_lsh

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"))
    return (cosine_near_dup_lsh(emb, threshold=0.5,
                                dim=_NEAR_DUP_DIM,
                                n_planes=_NEAR_DUP_PLANES,
                                n_tables=_NEAR_DUP_TABLES)
            .select("id_a", "id_b", F.round("cos", 4).alias("cos")))


def _clusters_oracle(final: str | None = None) -> str:
    """DuckDB replica of the full clustering pipeline: the MinHash-LSH
    pair graph (same capped shingles, md5 permutations, band buckets,
    exact-Jaccard verify as ``_minhash_oracle`` — with the operator's
    default doc-frequency cap) closed into connected components by a
    recursive reachability CTE, min label per node."""
    num_perm, bands, rows = 16, 4, 4
    sig_aggs = ",\n           ".join(
        f"min(md5(concat('{i}|', shingle))) AS sig_{i}"
        for i in range(num_perm))
    band_list = []
    for b in range(bands):
        parts = [f"'{b}'"] + [f"sig_{b * rows + r}" for r in range(rows)]
        band_list.append("concat_ws('#', " + ", ".join(parts) + ")")
    head = _SHINGLES_CTE.replace("WITH shingles",
                                 "WITH RECURSIVE shingles", 1)
    return head + f"""
, freq_ok AS (
    SELECT shingle FROM shingles GROUP BY shingle HAVING count(*) <= 1000
),
shingles_c AS (
    SELECT s.id, s.shingle FROM shingles s JOIN freq_ok USING (shingle)
),
sizes_c AS (SELECT id, count(*) AS n_sh FROM shingles_c GROUP BY id),
sigs AS (SELECT id, {sig_aggs} FROM shingles_c GROUP BY id),
banded AS (
    SELECT id, unnest([{", ".join(band_list)}]) AS bucket FROM sigs
),
cand AS (
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.id < b.id
),
inter_c AS (
    SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
    FROM shingles_c a JOIN shingles_c b
      ON a.shingle = b.shingle AND a.id < b.id
    GROUP BY a.id, b.id
),
pairs AS (
    SELECT c.id_a, c.id_b
    FROM cand c
    JOIN inter_c i ON i.id_a = c.id_a AND i.id_b = c.id_b
    JOIN sizes_c sa ON sa.id = c.id_a
    JOIN sizes_c sb ON sb.id = c.id_b
    WHERE i.inter * 1.0 / (sa.n_sh + sb.n_sh - i.inter) >= 0.5
),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION ALL SELECT id_b, id_a FROM pairs
),
reach AS (
    SELECT DISTINCT src AS id, src AS label FROM edges
    UNION
    SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
),
labels AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id)
""" + (final or """
SELECT d.doc_id,
       coalesce(l.cluster_id, d.doc_id) AS cluster_id,
       d.doc_id = coalesce(l.cluster_id, d.doc_id) AS is_canonical
FROM documents d LEFT JOIN labels l ON l.id = d.doc_id
""")


_CANONICAL_FINAL = """
, clustered AS (
    SELECT d.doc_id, d.n_chars,
           coalesce(l.cluster_id, d.doc_id) AS cl
    FROM documents d LEFT JOIN labels l ON l.id = d.doc_id)
SELECT doc_id, n_chars FROM (
    SELECT doc_id, n_chars,
           row_number() OVER (PARTITION BY cl
                              ORDER BY n_chars DESC, doc_id) AS rn
    FROM clustered) WHERE rn = 1
"""


@query("corpus_dedup_canonical",
       oracle=_clusters_oracle(final=_CANONICAL_FINAL))
def corpus_dedup_canonical(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """r10 quality-aware dedup decision (operators/dedup.py
    dedup_canonical): near-duplicate clusters keep their HIGHEST-
    QUALITY member (here n_chars — the longest copy, a standard
    curation heuristic; ties break to the lowest id), not an
    arbitrary one — dropping the clean copy and keeping the
    boilerplate one is the silent value-loss a naive keep-first dedup
    commits.  The oracle closes the same MinHash pair graph with a
    recursive CTE and applies the identical (quality DESC, id)
    window cut; singletons pass through.  Selection cost beyond the
    cluster pass: one metadata-sized (id, quality) window — text
    never enters the shuffle."""
    from sstable_hadoop_spark.operators.dedup import dedup_canonical

    docs = load(spark, sf_dir, "documents")
    return dedup_canonical(docs, "n_chars").select("doc_id", "n_chars")


@query("dedup_clusters", oracle=_clusters_oracle())
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1/E2 end-game: group near-duplicate docs into clusters
    (connected components over the MinHash pair graph, iterative
    smallest-id label propagation) and pick the canonical doc per
    cluster.  Output: (doc_id, cluster_id, is_canonical).  The oracle
    closes the same pair graph with a recursive CTE — the iterative
    algorithm is fully SQL-checked."""
    from sstable_hadoop_spark.operators.dedup import dedup_components

    docs = load(spark, sf_dir, "documents")
    return dedup_components(docs, min_jaccard=0.5)


@query("array_function_gallery", oracle="""
SELECT vec_id,
       len(embedding)                                  AS dim,
       round(list_aggregate(embedding, 'sum'), 4)      AS vsum,
       round(list_aggregate(embedding, 'max'), 4)      AS vmax,
       round(list_aggregate(embedding, 'min'), 4)      AS vmin,
       round(embedding[1], 4)                          AS first_c,
       round(list_aggregate(embedding[1:8], 'sum'), 4) AS head_sum,
       list_contains([cast(label AS bigint)], 3)       AS is_label3
FROM embeddings
""")
def array_function_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 array surface: size/aggregate/min/max/slice/element_at/
    contains over array<float> (all JVM-side, codegen)."""
    emb = load(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.aggregate(v, F.lit(0.0), lambda a, x: a + x), 4)
         .alias("vsum"),
        F.round(F.array_max(v), 4).alias("vmax"),
        F.round(F.array_min(v), 4).alias("vmin"),
        F.round(F.element_at(v, 1), 4).alias("first_c"),
        F.round(F.aggregate(F.slice(v, 1, 8), F.lit(0.0), lambda a, x: a + x),
                4).alias("head_sum"),
        F.array_contains(F.array(F.col("label").cast("bigint")), 3)
         .alias("is_label3"))


@query("cast_decimal_gallery", oracle="""
SELECT o_orderkey,
       cast(cast(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS price_str,
       cast(cast(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
       cast(o_orderkey AS VARCHAR)                         AS key_str,
       try_cast(o_orderpriority AS BIGINT)                 AS pri_num,
       cast(floor(o_totalprice / 1000) AS INT)             AS bucket_k
FROM orders
""")
def cast_decimal_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 type surface: decimal casts with exact cents arithmetic,
    string casts, try_cast null-on-failure."""
    o = load(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    return o.select(
        "o_orderkey",
        dec.cast("string").alias("price_str"),
        (dec * 100).cast("bigint").alias("cents"),
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.col("o_orderpriority").try_cast("bigint").alias("pri_num"),
        F.floor(F.col("o_totalprice") / 1000).cast("int").alias("bucket_k"))


@query("date_arithmetic_gallery", oracle="""
SELECT o_orderkey,
       strftime(cast(o_orderdate AS DATE), '%Y-%m-%d')        AS d,
       strftime(cast(o_orderdate + INTERVAL 30 DAY AS DATE),
                '%Y-%m-%d')                                   AS d_plus30,
       date_diff('day', DATE '2024-01-01',
                 cast(o_orderdate AS DATE))                   AS days_since,
       extract(year FROM o_orderdate)                         AS y,
       extract(month FROM o_orderdate)                        AS m,
       dayofweek(cast(o_orderdate AS DATE))                   AS dow,
       strftime(cast(date_trunc('week', o_orderdate) AS DATE),
                '%Y-%m-%d')                                   AS week_start
FROM orders
""")
def date_arithmetic_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 date surface: interval arithmetic, datediff, extraction,
    truncation (joda-time was a pom dep the reference never used —
    pom.xml:94-97; this is the declared replacement surface)."""
    o = load(spark, sf_dir, "orders")
    t = as_timestamp(o, "o_orderdate")
    d = t.cast("date")
    return o.select(
        "o_orderkey",
        F.date_format(d, "yyyy-MM-dd").alias("d"),
        F.date_format(F.date_add(d, 30), "yyyy-MM-dd").alias("d_plus30"),
        F.datediff(d, F.lit("2024-01-01").cast("date")).alias("days_since"),
        F.year(t).alias("y"),
        F.month(t).alias("m"),
        # DuckDB dayofweek: Sunday=0; Spark dayofweek: Sunday=1
        (F.dayofweek(d) - 1).alias("dow"),
        F.date_format(F.date_trunc("week", t).cast("date"), "yyyy-MM-dd")
         .alias("week_start"))


@query("range_join_price_bands", oracle="""
WITH bands(band, lo, hi) AS (
    VALUES ('small', 0.0, 100000.0),
           ('mid', 100000.0, 250000.0),
           ('large', 250000.0, 1e9)
)
SELECT b.band, count(*) AS n, round(sum(o.o_totalprice), 2) AS total
FROM orders o JOIN bands b
  ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
GROUP BY b.band
""")
def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.3 theta/range join: orders banded by a small inline range
    dimension — BroadcastNestedLoopJoin (bands broadcast; the fact side
    never shuffles)."""
    o = load(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [("small", 0.0, 100000.0), ("mid", 100000.0, 250000.0),
         ("large", 250000.0, 1e9)], "band string, lo double, hi double")
    return (o.join(F.broadcast(bands),
                   (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi))
             .groupBy("band")
             .agg(F.count("*").alias("n"),
                  F.round(F.sum("o_totalprice"), 2).alias("total")))


@query("map_function_gallery", oracle="""
SELECT event_id,
       array_to_string(json_keys(props), ',')             AS keys_csv,
       cast(json_extract_string(props, '$.k') AS bigint)  AS k_val,
       len(json_keys(props))                              AS n_keys,
       json_extract_string(props, '$.missing') IS NULL    AS no_missing
FROM events
""")
def map_function_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 map surface: JSON parsed to map<string,string>, then
    map_keys/size/element access (from_json + map functions)."""
    ev = load(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,string>")
    return ev.select(
        "event_id",
        F.array_join(F.map_keys(m), ",").alias("keys_csv"),
        F.element_at(m, "k").cast("bigint").alias("k_val"),
        F.size(m).alias("n_keys"),
        F.element_at(m, "missing").isNull().alias("no_missing"))


@query("explode_posexplode_embeddings", oracle="""
SELECT vec_id,
       generate_subscripts(embedding[1:4], 1) - 1 AS pos,
       round(unnest(embedding[1:4]), 4)           AS component
FROM embeddings
WHERE vec_id < 50
""")
def explode_posexplode_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5/A1 generator surface: posexplode over array slices (the
    cell-explode pattern on numeric vectors)."""
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    return (emb.select("vec_id",
                       F.posexplode(F.slice(F.transform(
                           "embedding", lambda x: x.cast("double")), 1, 4)))
               .select("vec_id", F.col("pos"),
                       F.round("col", 4).alias("component")))


@query("grouped_normalize_embeddings", oracle="""
WITH stats AS (
    SELECT label,
           avg(embedding[1]) AS mu,
           stddev_pop(embedding[1]) AS sd
    FROM embeddings GROUP BY label
)
SELECT e.vec_id, e.label,
       round((e.embedding[1] - s.mu)
             / (CASE WHEN s.sd = 0 THEN 1.0 ELSE s.sd END), 6) AS z0
FROM embeddings e JOIN stats s ON e.label = s.label
""")
def grouped_normalize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 grouped-map (applyInPandas, the Reducer-equivalent):
    per-label z-score standardization of embeddings.  Oracle checks the
    first component against the SQL formulation."""
    from sstable_hadoop_spark.operators.grouped import (
        normalize_embeddings_per_label,
    )

    emb = load(spark, sf_dir, "embeddings")
    out = normalize_embeddings_per_label(emb)
    return out.select("vec_id", "label",
                      F.round(F.element_at("normalized", 1), 6).alias("z0"))


def _topk_pq_oracle() -> str:
    """Hybrid oracle for PQ/ADC search (same pinning policy as the
    trained IVF): the per-subspace k-means codebooks — trained by the
    bit-deterministic recipe of operators/similarity.py
    train_pq_codebooks — are pinned per corpus signature; ENCODE
    (argmin-L2 code per subspace), the query normalization, the ADC
    partial dots and their fixed-order sum, and the per-query rank are
    all re-derived declaratively.  Every float op is written in the
    same association order as the Spark plan's sequential folds, so
    the scores compare bit-for-bit before the round(4)."""
    import json
    import os

    with open(os.path.join(os.path.dirname(__file__), "operators",
                           "_pq_codebooks.json")) as f:
        pinned = json.load(f)
    m, d_sub, k = 4, 16, 5
    rows = []
    for sig, books in pinned.items():
        for j, book in enumerate(books):
            for c, cent in enumerate(book):
                arr = ", ".join(repr(float(x)) for x in cent)
                rows.append(f"('{sig}', {j}, {c}, [{arr}]::DOUBLE[])")
    values = ",\n    ".join(rows)
    l2 = " + ".join(
        f"(e.e[cb.j*{d_sub} + {i}] - cb.v[{i}])"
        f"*(e.e[cb.j*{d_sub} + {i}] - cb.v[{i}])"
        for i in range(1, d_sub + 1))
    qnorm = " + ".join(f"e[{i}]*e[{i}]" for i in range(1, 65))
    pdot = " + ".join(f"q.q[cb.j*{d_sub} + {i}] * cb.v[{i}]"
                      for i in range(1, d_sub + 1))
    adc_sum = " + ".join(
        f"max(CASE WHEN j = {j} THEN p END)" for j in range(m))
    return f"""
WITH sig AS (
    SELECT CAST(count(*) AS VARCHAR) || ':'
           || CAST(round(sum(embedding[1]), 3) AS VARCHAR) AS s
    FROM embeddings
),
cb AS (
    SELECT t.j, t.c, t.v
    FROM (VALUES
    {values}
    ) AS t(s, j, c, v) JOIN sig ON t.s = sig.s
),
emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
dists AS (
    SELECT e.vec_id, cb.j, cb.c, ({l2}) AS d
    FROM emb e CROSS JOIN cb
),
codes AS (
    SELECT vec_id, j, c FROM (
        SELECT vec_id, j, c,
               row_number() OVER (PARTITION BY vec_id, j
                                  ORDER BY d, c) AS rk
        FROM dists) WHERE rk = 1
),
qn AS (
    SELECT vec_id AS query_id,
           list_transform(e, x -> x / sqrt({qnorm})) AS q
    FROM emb WHERE vec_id < 8
),
parts AS (
    SELECT q.query_id, codes.vec_id, codes.j, ({pdot}) AS p
    FROM codes
    JOIN cb ON cb.j = codes.j AND cb.c = codes.c
    CROSS JOIN qn q
),
adc AS (
    SELECT query_id, vec_id, {adc_sum} AS adc
    FROM parts GROUP BY query_id, vec_id
)
SELECT query_id, vec_id, rk, round(adc, 4) AS adc FROM (
    SELECT query_id, vec_id, adc,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc DESC, vec_id) AS rk
    FROM adc WHERE vec_id != query_id)
WHERE rk <= {k}
"""


@query("similarity_topk_pq", oracle=_topk_pq_oracle())
def similarity_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 product quantization (r6): vectors compressed to m=4
    subspace codes (k=16 each — the 100 TB storage path, ~100× smaller
    than raw float vectors), searched by ADC lookup against the
    deterministic per-subspace k-means codebooks
    (operators/similarity.py train_pq_codebooks / cosine_topk_pq).
    The oracle pins the codebooks and re-derives encode + ADC + rank
    declaratively."""
    from sstable_hadoop_spark.operators.similarity import cosine_topk_pq

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding",
                              lambda x: x.cast("double")).alias("embedding"))
    q = emb.filter(F.col("vec_id") < 8).withColumnRenamed(
        "vec_id", "query_id")
    return (cosine_topk_pq(emb, q, k=5, m=4, k_codes=16)
            .select("query_id", "vec_id", "rk",
                    F.round("adc", 4).alias("adc")))


def _topk_sq8_oracle(train_where: str = "") -> str:
    """Fully-derived oracle for int8 scalar quantization: the per-
    dimension min/max train, the half-up-floor encode, the asymmetric
    decoded dot, and the per-query rank are ALL re-computed in SQL
    from the same parquet — no pinning needed, min/max of stored
    doubles is exact on both engines.  Every float chain is written in
    the Spark plan's association order, so scores compare bit-for-bit
    before the round(4)."""
    dim, k = 64, 5
    stats = ", ".join(
        f"min(e[{d}]) AS mn{d}, max(e[{d}]) AS mx{d}"
        for d in range(1, dim + 1))
    params = ", ".join(
        f"mn{d}, CASE WHEN mx{d} - mn{d} = 0 THEN 1.0 "
        f"ELSE mx{d} - mn{d} END AS sc{d}"
        for d in range(1, dim + 1))
    enc = ", ".join(
        f"CAST(greatest(0, least(255, floor((e[{d}] - p.mn{d}) "
        f"/ p.sc{d} * 255.0 + 0.5))) AS INTEGER)"
        for d in range(1, dim + 1))
    qnorm = " + ".join(f"e[{i}]*e[{i}]" for i in range(1, dim + 1))
    score = " + ".join(
        f"q.q[{d}] * (p.mn{d} + c.codes[{d}] / 255.0 * p.sc{d})"
        for d in range(1, dim + 1))
    return f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
s AS (SELECT {stats} FROM emb{train_where}),
p AS (SELECT {params} FROM s),
codes AS (
    SELECT vec_id, [{enc}] AS codes
    FROM emb, p),
qn AS (
    SELECT vec_id AS query_id,
           list_transform(e, x -> x / sqrt({qnorm})) AS q
    FROM emb WHERE vec_id < 8),
sc AS (
    SELECT q.query_id, c.vec_id, ({score}) AS sq
    FROM codes c CROSS JOIN qn q CROSS JOIN p
    WHERE c.vec_id != q.query_id)
SELECT query_id, vec_id, rk, round(sq, 4) AS sq FROM (
    SELECT query_id, vec_id, sq,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sq DESC, vec_id) AS rk
    FROM sc)
WHERE rk <= {k}
"""


@query("similarity_topk_sq8", oracle=_topk_sq8_oracle())
def similarity_topk_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 scalar quantization (r9): per-dimension int8 compression
    (operators/similarity.py train_sq8 / sq8_encode /
    cosine_topk_sq8) — the FAISS-QT_8bit/Lucene-int8 storage tier, 4×
    smaller than float32 with much finer order fidelity than PQ's
    shared subspace centroids.  Train is one fused min/max agg (2×dim
    doubles of metadata), encode a scan-local codegen projection,
    search an asymmetric decoded dot against broadcast queries.  The
    oracle re-derives the ENTIRE pipeline — train included — from the
    parquet in SQL."""
    from sstable_hadoop_spark.operators.similarity import cosine_topk_sq8

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding",
                              lambda x: x.cast("double")).alias("embedding"))
    q = emb.filter(F.col("vec_id") < 8).withColumnRenamed(
        "vec_id", "query_id")
    return (cosine_topk_sq8(emb, q, k=5)
            .select("query_id", "vec_id", "rk",
                    F.round("sq", 4).alias("sq")))


def _topk_ivfpq_oracle() -> str:
    """Hybrid oracle for the COMBINED IVF+PQ index: the coarse-cell
    CTEs are the IVF oracle's (inlined md5 centroids, argmax-dot cell,
    top-3 probe, ties → larger cell), the code/ADC CTEs are the PQ
    oracle's (pinned codebooks per corpus signature, argmin-L2 encode,
    fixed-order partial-dot sum), and the only NEW logic is the
    candidate restriction: a (query, doc) pair is scored iff the doc's
    one cell is among the query's probed cells — exactly the stored
    probe's partition pruning, re-derived declaratively."""
    import json
    import os

    from sstable_hadoop_spark.operators.similarity import _hyperplanes

    n_centroids, n_probe, dim, k = 16, 3, 64, 5
    m, d_sub = 4, 16
    cents = _hyperplanes(dim, n_centroids, seed="ivf")
    dot_cols = ",\n           ".join(
        "(" + " + ".join(f"e[{d + 1}]*{cent[d]!r}" for d in range(dim))
        + f") AS d_{c}"
        for c, cent in enumerate(cents))
    cells = ", ".join("{'d': d_%d, 'cell': %d}" % (c, c)
                      for c in range(n_centroids))

    with open(os.path.join(os.path.dirname(__file__), "operators",
                           "_pq_codebooks.json")) as f:
        pinned = json.load(f)
    rows = []
    for sig, books in pinned.items():
        for j, book in enumerate(books):
            for c, cent in enumerate(book):
                arr = ", ".join(repr(float(x)) for x in cent)
                rows.append(f"('{sig}', {j}, {c}, [{arr}]::DOUBLE[])")
    values = ",\n    ".join(rows)
    l2 = " + ".join(
        f"(e.e[cb.j*{d_sub} + {i}] - cb.v[{i}])"
        f"*(e.e[cb.j*{d_sub} + {i}] - cb.v[{i}])"
        for i in range(1, d_sub + 1))
    qnorm = " + ".join(f"e[{i}]*e[{i}]" for i in range(1, dim + 1))
    pdot = " + ".join(f"q.q[cb.j*{d_sub} + {i}] * cb.v[{i}]"
                      for i in range(1, d_sub + 1))
    adc_sum = " + ".join(
        f"max(CASE WHEN j = {j} THEN p END)" for j in range(m))
    return f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
dots AS (
    SELECT vec_id,
           {dot_cols}
    FROM emb
),
cellranked AS (
    SELECT vec_id, u.cell, u.d,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY u.d DESC, u.cell DESC) AS cell_rk
    FROM dots, unnest([{cells}]) AS t(u)
),
e_cell AS (SELECT vec_id, cell FROM cellranked WHERE cell_rk = 1),
q_cell AS (
    SELECT vec_id AS query_id, cell FROM cellranked
    WHERE cell_rk <= {n_probe} AND vec_id < 8
),
sig AS (
    SELECT CAST(count(*) AS VARCHAR) || ':'
           || CAST(round(sum(embedding[1]), 3) AS VARCHAR) AS s
    FROM embeddings
),
cb AS (
    SELECT t.j, t.c, t.v
    FROM (VALUES
    {values}
    ) AS t(s, j, c, v) JOIN sig ON t.s = sig.s
),
dists AS (
    SELECT e.vec_id, cb.j, cb.c, ({l2}) AS d
    FROM emb e CROSS JOIN cb
),
codes AS (
    SELECT vec_id, j, c FROM (
        SELECT vec_id, j, c,
               row_number() OVER (PARTITION BY vec_id, j
                                  ORDER BY d, c) AS rk
        FROM dists) WHERE rk = 1
),
qn AS (
    SELECT vec_id AS query_id,
           list_transform(e, x -> x / sqrt({qnorm})) AS q
    FROM emb WHERE vec_id < 8
),
parts AS (
    SELECT q.query_id, codes.vec_id, codes.j, ({pdot}) AS p
    FROM codes
    JOIN cb ON cb.j = codes.j AND cb.c = codes.c
    CROSS JOIN qn q
),
adc AS (
    SELECT query_id, vec_id, {adc_sum} AS adc
    FROM parts GROUP BY query_id, vec_id
),
candidates AS (
    SELECT a.query_id, a.vec_id, a.adc
    FROM adc a
    JOIN e_cell ec ON ec.vec_id = a.vec_id
    JOIN q_cell qc ON qc.query_id = a.query_id AND qc.cell = ec.cell
    WHERE a.vec_id != a.query_id
)
SELECT query_id, vec_id, rk, round(adc, 4) AS adc FROM (
    SELECT query_id, vec_id, adc,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc DESC, vec_id) AS rk
    FROM candidates)
WHERE rk <= {k}
"""


def _materialize_ivfpq_store(spark: SparkSession, sf_dir: str) -> str:
    """Write the combined IVF+PQ index (codes partitioned by coarse
    cell + codebook sidecar) — idempotent per sf_dir."""
    import hashlib

    from sstable_hadoop_spark.operators.similarity import (
        write_ivfpq_index,
    )

    def build(out: str) -> None:
        emb = load(spark, sf_dir, "embeddings").select(
            "vec_id", F.transform(
                "embedding", lambda x: x.cast("double")).alias("embedding"))
        write_ivfpq_index(emb, out, m=4, k_codes=16)

    tag = "ivfpq_store_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    return _idempotent_tmpdir(tag, build)


@query("similarity_topk_ivfpq", oracle=_topk_ivfpq_oracle())
def similarity_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 combined IVF+PQ stored index (r8): the realistic 100 TB ANN
    deployment — PQ codes (~100× smaller than raw vectors) partitioned
    by coarse IVF cell, probed with Catalyst partition pruning so a
    query reads n_probe/n_centroids of the COMPRESSED index
    (multiplicative I/O win; operators/similarity.py
    write_ivfpq_index / cosine_topk_ivfpq_stored).  Non-residual
    encoding (the standard inner-product choice) reuses the
    bit-deterministic PQ codebooks, so the oracle composes the two
    existing replicas and only adds the probed-cell candidate
    restriction."""
    from sstable_hadoop_spark.operators.similarity import (
        cosine_topk_ivfpq_stored,
    )

    path = _materialize_ivfpq_store(spark, sf_dir)
    emb_d = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform(
            "embedding", lambda x: x.cast("double")).alias("embedding"))
    queries_df = emb_d.filter(F.col("vec_id") < 8) \
                      .withColumnRenamed("vec_id", "query_id")
    return (cosine_topk_ivfpq_stored(spark, path, queries_df, k=5)
            .select("query_id", "vec_id", "rk",
                    F.round("adc", 4).alias("adc")))


def _topk_ivfsq8_oracle(train_where: str = "") -> str:
    """Hybrid oracle for the COMBINED IVF+SQ8 index (r10): the
    coarse-cell CTEs are the IVF oracle's (inlined md5 centroids,
    argmax-dot cell, top-3 probe, ties → larger cell), the
    train/encode/score CTEs are the SQ8 oracle's (min/max derived in
    SQL, half-up-floor encode, fixed-order decoded dot), and the only
    NEW logic is the candidate restriction: a (query, doc) pair is
    scored iff the doc's one cell is among the query's probed cells —
    exactly the stored probe's partition pruning, re-derived
    declaratively."""
    from sstable_hadoop_spark.operators.similarity import _hyperplanes

    n_centroids, n_probe, dim, k = 16, 3, 64, 5
    cents = _hyperplanes(dim, n_centroids, seed="ivf")
    dot_cols = ",\n           ".join(
        "(" + " + ".join(f"e[{d + 1}]*{cent[d]!r}" for d in range(dim))
        + f") AS d_{c}"
        for c, cent in enumerate(cents))
    cells = ", ".join("{'d': d_%d, 'cell': %d}" % (c, c)
                      for c in range(n_centroids))
    stats = ", ".join(
        f"min(e[{d}]) AS mn{d}, max(e[{d}]) AS mx{d}"
        for d in range(1, dim + 1))
    params = ", ".join(
        f"mn{d}, CASE WHEN mx{d} - mn{d} = 0 THEN 1.0 "
        f"ELSE mx{d} - mn{d} END AS sc{d}"
        for d in range(1, dim + 1))
    enc = ", ".join(
        f"CAST(greatest(0, least(255, floor((e[{d}] - p.mn{d}) "
        f"/ p.sc{d} * 255.0 + 0.5))) AS INTEGER)"
        for d in range(1, dim + 1))
    qnorm = " + ".join(f"e[{i}]*e[{i}]" for i in range(1, dim + 1))
    score = " + ".join(
        f"q.q[{d}] * (p.mn{d} + c.codes[{d}] / 255.0 * p.sc{d})"
        for d in range(1, dim + 1))
    return f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
dots AS (
    SELECT vec_id,
           {dot_cols}
    FROM emb
),
cellranked AS (
    SELECT vec_id, u.cell, u.d,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY u.d DESC, u.cell DESC) AS cell_rk
    FROM dots, unnest([{cells}]) AS t(u)
),
e_cell AS (SELECT vec_id, cell FROM cellranked WHERE cell_rk = 1),
q_cell AS (
    SELECT vec_id AS query_id, cell FROM cellranked
    WHERE cell_rk <= {n_probe} AND vec_id < 8
),
s AS (SELECT {stats} FROM emb{train_where}),
p AS (SELECT {params} FROM s),
codes AS (
    SELECT vec_id, [{enc}] AS codes
    FROM emb, p),
qn AS (
    SELECT vec_id AS query_id,
           list_transform(e, x -> x / sqrt({qnorm})) AS q
    FROM emb WHERE vec_id < 8),
sc AS (
    SELECT q.query_id, c.vec_id, ({score}) AS sq
    FROM codes c
    CROSS JOIN qn q
    CROSS JOIN p
    JOIN e_cell ec ON ec.vec_id = c.vec_id
    JOIN q_cell qc ON qc.query_id = q.query_id AND qc.cell = ec.cell
    WHERE c.vec_id != q.query_id)
SELECT query_id, vec_id, rk, round(sq, 4) AS sq FROM (
    SELECT query_id, vec_id, sq,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sq DESC, vec_id) AS rk
    FROM sc)
WHERE rk <= {k}
"""


def _materialize_ivfsq8_store(spark: SparkSession, sf_dir: str) -> str:
    """Write the combined IVF+SQ8 index (int8 codes partitioned by
    coarse cell + params sidecar) — idempotent per sf_dir."""
    import hashlib

    from sstable_hadoop_spark.operators.similarity import (
        write_ivfsq8_index,
    )

    def build(out: str) -> None:
        emb = load(spark, sf_dir, "embeddings").select(
            "vec_id", F.transform(
                "embedding", lambda x: x.cast("double")).alias("embedding"))
        write_ivfsq8_index(emb, out)

    tag = "ivfsq8_store_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    return _idempotent_tmpdir(tag, build)


def _materialize_ivfsq8_appended_store(spark: SparkSession,
                                       sf_dir: str) -> str:
    """The incremental-ingest fixture: index built from the EVEN
    vec_ids (training included), odd vec_ids APPENDED with the stored
    sidecar params — idempotent per sf_dir."""
    import hashlib

    from sstable_hadoop_spark.operators.similarity import (
        ivfsq8_append,
        train_sq8,
        write_ivfsq8_index,
    )

    def build(out: str) -> None:
        emb = load(spark, sf_dir, "embeddings").select(
            "vec_id", F.transform(
                "embedding", lambda x: x.cast("double")).alias("embedding"))
        even = emb.filter(F.col("vec_id") % 2 == 0)
        write_ivfsq8_index(even, out, params=train_sq8(even))
        ivfsq8_append(emb.filter(F.col("vec_id") % 2 == 1), out)

    tag = ("ivfsq8_app_store_"
           + hashlib.md5(sf_dir.encode()).hexdigest()[:10])
    return _idempotent_tmpdir(tag, build)


@query("similarity_topk_ivfsq8_appended",
       oracle=_topk_ivfsq8_oracle(train_where=" WHERE vec_id % 2 = 0"))
def similarity_topk_ivfsq8_appended(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """r10 incremental ANN index maintenance (operators/similarity.py
    ivfsq8_append — FAISS's add()): the index is built and TRAINED
    from the even vec_ids only, then the odd half is appended with
    the sidecar's stored params (never retrained — retrained codes
    would not be comparable to the stored ones), and the probe must
    rank appended and original vectors on one decoded scale.  The
    oracle is the full IVF+SQ8 derivation with a single change: the
    min/max training CTE is restricted to the even ids — exactly the
    fixture's training basis, so a hidden retrain during append
    hash-mismatches.  Ingest cost is one scan of the batch + its
    cell repartition; the stored index is never read."""
    from sstable_hadoop_spark.operators.similarity import (
        cosine_topk_ivfsq8_stored,
    )

    path = _materialize_ivfsq8_appended_store(spark, sf_dir)
    emb_d = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform(
            "embedding", lambda x: x.cast("double")).alias("embedding"))
    queries_df = emb_d.filter(F.col("vec_id") < 8) \
                      .withColumnRenamed("vec_id", "query_id")
    return (cosine_topk_ivfsq8_stored(spark, path, queries_df, k=5)
            .select("query_id", "vec_id", "rk",
                    F.round("sq", 4).alias("sq")))


@query("similarity_topk_ivfsq8", oracle=_topk_ivfsq8_oracle())
def similarity_topk_ivfsq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 combined IVF+SQ8 stored index (r10, VERDICT r9 #5): int8
    codes partitioned by coarse IVF cell — FAISS's "IVF,SQ8" tier —
    probed with Catalyst partition pruning so a query reads
    n_probe/n_centroids of the 4×-compressed index
    (operators/similarity.py write_ivfsq8_index /
    cosine_topk_ivfsq8_stored), at SQ8's near-exact fine order
    instead of PQ's shared-centroid granularity.  The oracle derives
    the WHOLE pipeline in SQL (min/max train included — nothing
    pinned) and adds only the probed-cell candidate restriction."""
    from sstable_hadoop_spark.operators.similarity import (
        cosine_topk_ivfsq8_stored,
    )

    path = _materialize_ivfsq8_store(spark, sf_dir)
    emb_d = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform(
            "embedding", lambda x: x.cast("double")).alias("embedding"))
    queries_df = emb_d.filter(F.col("vec_id") < 8) \
                      .withColumnRenamed("vec_id", "query_id")
    return (cosine_topk_ivfsq8_stored(spark, path, queries_df, k=5)
            .select("query_id", "vec_id", "rk",
                    F.round("sq", 4).alias("sq")))


def _recall_report_oracle() -> str:
    """Recall report oracle: each method's EXISTING oracle replica is
    reused verbatim as a subquery (DuckDB allows WITH inside derived
    tables), so the report certifies the same approximations the
    per-method rows certify — the only new logic is the set
    intersection with brute force and the ratio."""
    methods = {
        "bruteforce": _ORACLES["similarity_topk_bruteforce"],
        "lsh": _topk_lsh_oracle(),
        "ivf": _topk_ivf_oracle(),
        "ivf_trained": _topk_ivf_trained_oracle(),
        "pq": _topk_pq_oracle(),
        "ivfpq": _topk_ivfpq_oracle(),
        "sq8": _topk_sq8_oracle(),
        "ivfsq8": _topk_ivfsq8_oracle(),
    }
    tall = "\n    UNION ALL\n    ".join(
        f"SELECT '{name}' AS method, query_id, vec_id FROM ({sql}) AS t_{name}"
        for name, sql in methods.items())
    return f"""
WITH tall AS (
    {tall}
),
exact AS (SELECT query_id, vec_id FROM tall WHERE method = 'bruteforce'),
n AS (SELECT count(*) AS n_exact FROM exact)
SELECT t.method,
       5 AS k,
       n.n_exact,
       CAST(count(*) AS BIGINT) AS n_returned,
       CAST(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
       CAST(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
            * 10000 // n.n_exact AS BIGINT) AS recall_bp
FROM tall t
LEFT JOIN exact e ON e.query_id = t.query_id AND e.vec_id = t.vec_id
CROSS JOIN n
WHERE t.method != 'bruteforce'
GROUP BY t.method, n.n_exact
ORDER BY t.method
"""


@query("similarity_recall_report", oracle=_recall_report_oracle())
def similarity_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 recall-vs-cost certification (r8): every ANN method (LSH /
    fixed-codebook IVF / trained IVF / PQ-ADC / combined IVF+PQ) scored
    as recall@5
    against the exact brute-force top-5 over the SAME fixed query set
    (vec_id < 8) — the number a user actually tunes when trading probe
    count / table count / code size against quality.  One row per
    method: candidates returned, hits, and recall in basis points
    (integer — immune to float-rounding drift between engines).  The
    per-method floors are pinned in tests/test_extensions.py."""
    from sstable_hadoop_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_ivf,
        cosine_topk_ivf_trained,
        cosine_topk_ivfpq,
        cosine_topk_ivfsq8,
        cosine_topk_lsh,
        cosine_topk_pq,
        cosine_topk_sq8,
        train_pq_codebooks,
    )

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding",
                              lambda x: x.cast("double")).alias("embedding"))
    q = emb.filter(F.col("vec_id") < 8).withColumnRenamed(
        "vec_id", "query_id")
    # one deterministic training serves both the pure-PQ and the
    # combined IVF+PQ rows (identical to what each would train itself)
    books = train_pq_codebooks(emb, m=4, k_codes=16)
    methods = {
        "lsh": cosine_topk_lsh(emb, q, k=5),
        "ivf": cosine_topk_ivf(emb, q, k=5),
        "ivf_trained": cosine_topk_ivf_trained(emb, q, k=5),
        "pq": cosine_topk_pq(emb, q, k=5, m=4, k_codes=16,
                             codebooks=books),
        "ivfpq": cosine_topk_ivfpq(emb, q, k=5, m=4, k_codes=16,
                                   codebooks=books),
        "sq8": cosine_topk_sq8(emb, q, k=5),
        "ivfsq8": cosine_topk_ivfsq8(emb, q, k=5),
    }
    tall = None
    for name, df in methods.items():
        part = df.select(F.lit(name).alias("method"), "query_id", "vec_id")
        tall = part if tall is None else tall.unionByName(part)
    # the exact top-5 set is 8 queries x 5 = tiny: broadcast both the
    # membership probe and the denominator — no shuffle over candidates
    exact = (cosine_topk(emb, q, k=5)
             .select("query_id", "vec_id", F.lit(1).alias("hit")))
    n_exact = exact.agg(F.count("*").alias("n_exact"))
    return (tall
            .join(F.broadcast(exact), ["query_id", "vec_id"], "left")
            .groupBy("method")
            .agg(F.count("*").alias("n_returned"),
                 F.sum(F.coalesce("hit", F.lit(0))).alias("n_hits"))
            .crossJoin(F.broadcast(n_exact))
            .select("method",
                    F.lit(5).alias("k"),
                    "n_exact",
                    F.col("n_returned").cast("long").alias("n_returned"),
                    F.col("n_hits").cast("long").alias("n_hits"),
                    F.floor(F.col("n_hits") * 10000 / F.col("n_exact"))
                     .cast("long").alias("recall_bp"))
            .orderBy("method"))


@query("dedup_common_spans", oracle=r"""
WITH t AS (
    SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks
    FROM documents
), g AS (
    SELECT DISTINCT doc_id,
           unnest([substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 15)
                   FOR i IN range(1, len(toks) - 6)]) AS gh
    FROM t WHERE len(toks) >= 8
), dfreq AS (
    SELECT gh, count(*) AS df FROM g GROUP BY gh
)
SELECT g.doc_id AS id,
       count(*) AS n_grams,
       CAST(sum(CASE WHEN dfreq.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_grams,
       round(sum(CASE WHEN dfreq.df >= 2 THEN 1 ELSE 0 END)
             * 1.0 / greatest(count(*), 1), 6) AS dup_fraction
FROM g JOIN dfreq USING (gh)
GROUP BY g.doc_id
""")
def dedup_common_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 span-level duplication profile (r6): per-doc count/fraction
    of word 8-grams shared with >= 2 documents — the distributed
    n-gram approximation of suffix-array span dedup for LM training
    corpora (operators/dedup.py duplicate_ngram_spans; grams travel as
    60-bit md5-prefix hashes, one explode + one df agg + a
    co-partitioned join back, never all-pairs)."""
    from sstable_hadoop_spark.operators.dedup import duplicate_ngram_spans

    docs = load(spark, sf_dir, "documents")
    return duplicate_ngram_spans(docs, n=8, min_df=2)


@query("dedup_remove_spans", oracle=r"""
WITH t AS (
    -- coalesce mirrors the operator: NULL text → [''] (one "word")
    SELECT doc_id,
           regexp_split_to_array(lower(coalesce(text, '')), '\s+') AS toks
    FROM documents
), pg AS (
    SELECT doc_id,
           unnest([i FOR i IN range(1, len(toks) - 6)])       AS i,
           unnest([substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 15)
                   FOR i IN range(1, len(toks) - 6)])         AS gh
    FROM t WHERE len(toks) >= 8
), dupg AS (
    SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM pg)
    GROUP BY gh HAVING count(*) >= 2
), covered AS (
    SELECT DISTINCT pg.doc_id, pg.i + off.o AS p
    FROM pg JOIN dupg USING (gh)
    CROSS JOIN (SELECT unnest(range(0, 8)) AS o) AS off
), pos AS (
    SELECT doc_id,
           unnest([p FOR p IN range(1, len(toks) + 1)])       AS p,
           unnest(toks)                                       AS word
    FROM t
), kept AS (
    SELECT pos.doc_id, pos.p, pos.word
    FROM pos LEFT JOIN covered
      ON covered.doc_id = pos.doc_id AND covered.p = pos.p
    WHERE covered.p IS NULL
), agg AS (
    SELECT doc_id, string_agg(word, ' ' ORDER BY p) AS text,
           count(*) AS kept_n
    FROM kept GROUP BY doc_id
)
SELECT t.doc_id                                               AS id,
       coalesce(agg.text, '')                                 AS text,
       CAST(len(t.toks) AS BIGINT)                            AS n_words,
       CAST(len(t.toks) - coalesce(agg.kept_n, 0) AS BIGINT)  AS n_removed
FROM t LEFT JOIN agg USING (doc_id)
""")
def dedup_remove_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 span-level dedup REMOVAL (r7): rebuild every document with
    the word positions covered by corpus-duplicated 8-grams deleted —
    the acting half of the r6 span profile, i.e. the boilerplate
    scrubber of an LM curation pipeline (operators/dedup.py
    remove_duplicate_spans; Lee et al. ACL 2022 semantics on the
    distributed n-gram approximation).  Gram/df stages shuffle only
    60-bit hashes and offsets; the rebuild joins the per-doc start
    lists back broadcast when they fit (plan-verified here), one
    id-keyed exchange otherwise, and rebuilds via a codegen
    higher-order filter over the token array."""
    from sstable_hadoop_spark.operators.dedup import remove_duplicate_spans

    docs = load(spark, sf_dir, "documents")
    return remove_duplicate_spans(docs, n=8, min_df=2)


@query("lww_winner_diff", oracle=f"""
{_CELLS_CTE},
wa AS (
    SELECT key_str, name_str, state, coalesce(data_str, '') AS data_str,
           ts_us, generation
    FROM cells WHERE generation <= 2
    QUALIFY row_number() OVER (PARTITION BY key_str, name_str
                               ORDER BY {_ORDER}) = 1
),
wb AS (
    SELECT key_str, name_str, state, coalesce(data_str, '') AS data_str,
           ts_us, generation
    FROM cells
    QUALIFY row_number() OVER (PARTITION BY key_str, name_str
                               ORDER BY {_ORDER}) = 1
)
SELECT coalesce(wa.key_str, wb.key_str) AS key_str,
       coalesce(wa.name_str, wb.name_str) AS name_str,
       CASE WHEN wa.state IS NULL THEN 'only_b'
            WHEN wb.state IS NULL THEN 'only_a'
            ELSE 'differs' END AS status,
       wa.state AS a_state, wa.ts_us AS a_ts_us,
       wa.generation AS a_generation,
       wb.state AS b_state, wb.ts_us AS b_ts_us,
       wb.generation AS b_generation
FROM wa FULL OUTER JOIN wb
  ON wa.key_str = wb.key_str AND wa.name_str = wb.name_str
WHERE wa.state IS NULL OR wb.state IS NULL
   OR NOT (wa.state = wb.state AND wa.ts_us = wb.ts_us
           AND wa.generation = wb.generation
           AND wa.data_str = wb.data_str)
""")
def lww_winner_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy winner diff (r6): LWW winners of the gen<=2 epoch
    vs all generations, full-outer-joined per (key, name), equal
    winners dropped — the repair work-list Cassandra derives via
    Merkle-tree exchange, as one relational plan
    (operators/lww.py winner_diff)."""
    from sstable_hadoop_spark.operators.lww import winner_diff

    cells = derived_cells(spark, sf_dir)
    epoch = cells.filter(F.col("generation") <= 2)
    d = winner_diff(epoch, cells)
    return d.select(
        F.decode("key", "UTF-8").alias("key_str"),
        F.decode("name", "UTF-8").alias("name_str"),
        "status",
        "a_state", F.col("a_timestamp").alias("a_ts_us"), "a_generation",
        "b_state", F.col("b_timestamp").alias("b_ts_us"), "b_generation")


# Mixture recipe (r6): token budgets per source, decaying — enough to
# bite (every budgeted source's corpus exceeds its budget at sf0.01+),
# with every other source dropped.  Shared literal between the Spark
# map and the oracle CASE.
_MIXTURE_BUDGETS = {"src0": 900, "src1": 600, "src2": 450,
                    "src3": 300, "src4": 150, "src5": 75}
_MIXTURE_SHARDS = 4


def _mixture_case() -> str:
    arms = " ".join(f"WHEN '{s}' THEN {b}"
                    for s, b in _MIXTURE_BUDGETS.items())
    return f"CASE source {arms} END"


@query("corpus_mixture_sample", oracle=f"""
WITH base AS (
    SELECT doc_id AS id, source,
           CAST(CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)),
                                     1, 8)) AS UBIGINT)
                % {_MIXTURE_SHARDS} AS INT)                  AS shard,
           CAST(len(regexp_split_to_array(lower(text), '\\s+'))
                AS BIGINT)                                   AS n_tokens,
           substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8) AS pri,
           CAST({{MIX_CASE}} AS BIGINT)                      AS budget
    FROM documents
    WHERE {{MIX_CASE}} IS NOT NULL
), cum AS (
    SELECT id, source, shard, n_tokens, budget,
           -- DuckDB windowed SUM(BIGINT) yields HUGEINT (int128); the
           -- driver hash canonicalizes that differently from Spark's
           -- BIGINT, so cast (house pattern: events_sessionize).
           CAST(SUM(n_tokens) OVER (PARTITION BY source, shard
                                    ORDER BY pri, id
                                    ROWS UNBOUNDED PRECEDING)
                AS BIGINT)                                   AS cum_tokens
    FROM base
)
SELECT id, source, shard, n_tokens, cum_tokens
FROM cum
WHERE cum_tokens <= budget // {_MIXTURE_SHARDS}
                    + CASE WHEN shard < budget % {_MIXTURE_SHARDS}
                           THEN 1 ELSE 0 END
""".replace("{MIX_CASE}", _mixture_case()))
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4+ data-mixture construction (r6): per-source token-budgeted
    sampling in deterministic md5 priority order, budgets pre-split
    across md5 shards so a 100 TB source's greedy prefix parallelizes
    instead of serializing through one task
    (operators/corpus.py mixture_sample).  The training-recipe step
    ("60% web / 20% code / 20% books, N tokens total") as one
    exchange + windowed running sum."""
    from sstable_hadoop_spark.operators.corpus import mixture_sample

    docs = load(spark, sf_dir, "documents")
    return mixture_sample(docs, _MIXTURE_BUDGETS,
                          n_shards=_MIXTURE_SHARDS)


@query("corpus_mixture_holdout", oracle=f"""
WITH base AS (
    SELECT doc_id AS id, source,
           CAST(CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)),
                                     1, 8)) AS UBIGINT)
                % {_MIXTURE_SHARDS} AS INT)                  AS shard,
           CAST(len(regexp_split_to_array(lower(text), '\\s+'))
                AS BIGINT)                                   AS n_tokens,
           substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8) AS pri,
           CAST({{MIX_CASE}} AS BIGINT)                      AS budget
    FROM documents
    WHERE {{MIX_CASE}} IS NOT NULL
), cum AS (
    SELECT id, source, shard, n_tokens, budget,
           CAST(SUM(n_tokens) OVER (PARTITION BY source, shard
                                    ORDER BY pri, id
                                    ROWS UNBOUNDED PRECEDING)
                AS BIGINT)                                   AS cum_tokens
    FROM base
)
SELECT id, source, shard, n_tokens, cum_tokens
FROM cum
WHERE NOT (cum_tokens <= budget // {_MIXTURE_SHARDS}
                         + CASE WHEN shard < budget % {_MIXTURE_SHARDS}
                                THEN 1 ELSE 0 END)
""".replace("{MIX_CASE}", _mixture_case()))
def corpus_mixture_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4+ mixture HOLDOUT (r8, VERDICT r7 #8): the over-budget
    remainder the greedy sampler previously dropped silently, emitted
    in the same single exchange via ``include_holdout=True`` —
    ``filter(~admitted)`` is the reusable surplus table (epoch-2
    recipes, eval holdouts, budget top-ups) instead of a full corpus
    re-scan (operators/corpus.py mixture_sample)."""
    from sstable_hadoop_spark.operators.corpus import mixture_sample

    docs = load(spark, sf_dir, "documents")
    return (mixture_sample(docs, _MIXTURE_BUDGETS,
                           n_shards=_MIXTURE_SHARDS,
                           include_holdout=True)
            .filter(~F.col("admitted"))
            .drop("admitted"))


# Report budgets: the sample budgets plus one source whose corpus
# underfills a huge budget and one source absent from the corpus —
# the two silent-under-delivery cases the report exists to surface.
_MIXTURE_REPORT_BUDGETS = {**_MIXTURE_BUDGETS,
                           "src6": 1_000_000, "books": 500}


def _mixture_report_case() -> str:
    arms = " ".join(f"WHEN '{s}' THEN {b}"
                    for s, b in _MIXTURE_REPORT_BUDGETS.items())
    return f"CASE source {arms} END"


@query("corpus_mixture_report", oracle=f"""
WITH base AS (
    SELECT doc_id AS id, source,
           CAST(CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)),
                                     1, 8)) AS UBIGINT)
                % {_MIXTURE_SHARDS} AS INT)                  AS shard,
           CAST(len(regexp_split_to_array(lower(text), '\\s+'))
                AS BIGINT)                                   AS n_tokens,
           substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8) AS pri,
           CAST({{MIX_CASE}} AS BIGINT)                      AS budget
    FROM documents
    WHERE {{MIX_CASE}} IS NOT NULL
), cum AS (
    SELECT id, source, shard, n_tokens, budget,
           CAST(SUM(n_tokens) OVER (PARTITION BY source, shard
                                    ORDER BY pri, id
                                    ROWS UNBOUNDED PRECEDING)
                AS BIGINT)                                   AS cum_tokens
    FROM base
), admitted AS (
    SELECT source, COUNT(*) AS docs, SUM(n_tokens) AS toks
    FROM cum
    WHERE cum_tokens <= budget // {_MIXTURE_SHARDS}
                        + CASE WHEN shard < budget % {_MIXTURE_SHARDS}
                               THEN 1 ELSE 0 END
    GROUP BY source
)
SELECT r.source,
       CAST(r.budget AS BIGINT)                              AS budget,
       CAST(coalesce(a.docs, 0) AS BIGINT)                   AS admitted_docs,
       CAST(coalesce(a.toks, 0) AS BIGINT)                   AS admitted_tokens,
       coalesce(a.toks, 0) < r.budget                        AS underfilled
FROM (VALUES {", ".join(f"('{s}', {b})"
                        for s, b in _MIXTURE_REPORT_BUDGETS.items())})
     AS r(source, budget)
LEFT JOIN admitted a ON a.source = r.source
""".replace("{MIX_CASE}", _mixture_report_case()))
def corpus_mixture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4+ mixture delivery report (r7, VERDICT r6 #8): per budgeted
    source, what the greedy token-budget sampler actually delivered —
    (budget, admitted_docs, admitted_tokens, underfilled) — including
    a source whose corpus underfills its budget and a source with NO
    corpus rows at all, the two cases where a training run would
    otherwise bake a silently wrong mixture
    (operators/corpus.py mixture_summary)."""
    from sstable_hadoop_spark.operators.corpus import mixture_summary

    docs = load(spark, sf_dir, "documents")
    return mixture_summary(docs, _MIXTURE_REPORT_BUDGETS,
                           n_shards=_MIXTURE_SHARDS)


@query("stats_quantiles", oracle="""
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.25) AS p25,
       quantile_cont(l_extendedprice, 0.5)  AS p50,
       quantile_cont(l_extendedprice, 0.9)  AS p90,
       quantile_disc(l_extendedprice, 0.5)  AS p50_disc,
       median(l_extendedprice)              AS med,
       max(l_extendedprice) - min(l_extendedprice) AS rng
FROM lineitem GROUP BY l_returnflag
""")
def stats_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8+ exact order statistics (r9): per-group continuous and
    discrete percentiles + median over lineitem prices.  Exact
    quantiles are order statistics + one interpolation of exact
    doubles — partition-count independent (no float sums), so Spark's
    `percentile`/`percentile_disc` and DuckDB's `quantile_cont/disc`
    agree bit-for-bit (verified to the last ulp: 52.00000000000003 on
    the probe set).  At 100 TB exact quantiles are a sort-based
    aggregate; `approx_distinct_users` covers the sketch tier the
    scale path would use."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("li_q")
    return spark.sql("""
        SELECT l_returnflag,
               percentile(l_extendedprice, 0.25) AS p25,
               percentile(l_extendedprice, 0.5)  AS p50,
               percentile(l_extendedprice, 0.9)  AS p90,
               percentile_disc(0.5) WITHIN GROUP
                   (ORDER BY l_extendedprice)    AS p50_disc,
               median(l_extendedprice)           AS med,
               max(l_extendedprice) - min(l_extendedprice) AS rng
        FROM li_q GROUP BY l_returnflag
    """)


@query("string_distance_gallery", oracle="""
SELECT p_partkey,
       levenshtein(p_name, reverse(p_name))            AS lv_rev,
       levenshtein(p_name, p_type)                     AS lv_type,
       levenshtein(lower(p_brand), lower(p_type))      AS lv_bt,
       CASE WHEN length(p_name) + length(p_type) > 0
            THEN (length(p_name) + length(p_type)
                  - levenshtein(p_name, p_type)) * 10000
                 // (length(p_name) + length(p_type))
            ELSE 10000 END                             AS sim_bp
FROM part
WHERE p_partkey % 7 = 0
""")
def string_distance_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function coverage (r9): edit-distance family —
    levenshtein against reversals, cross-column distances, and a
    normalized similarity in exact integer basis points (the fuzzy-
    matching primitive of entity-resolution pipelines; per-row
    codegen, no shuffle)."""
    p = load(spark, sf_dir, "part").filter(F.col("p_partkey") % 7 == 0)
    ln = F.length("p_name") + F.length("p_type")
    return p.select(
        "p_partkey",
        F.levenshtein("p_name", F.reverse(F.col("p_name")))
         .alias("lv_rev"),
        F.levenshtein("p_name", "p_type").alias("lv_type"),
        F.levenshtein(F.lower("p_brand"), F.lower("p_type"))
         .alias("lv_bt"),
        F.when(ln > 0,
               F.expr("(length(p_name) + length(p_type) "
                      "- levenshtein(p_name, p_type)) * 10000 "
                      "DIV (length(p_name) + length(p_type))"))
         .otherwise(10000).cast("long").alias("sim_bp"))


_RESAMPLE_STEP_US = 6 * 3600 * 1_000_000


@query("events_resample_gapfill", oracle=f"""
WITH e AS (
    SELECT user_id, epoch_us(ts) AS us,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
    FROM events),
a AS (
    SELECT user_id, us - us % {_RESAMPLE_STEP_US} AS b,
           count(*) AS n, sum(c) AS sc
    FROM e GROUP BY 1, 2),
r AS (SELECT user_id, min(b) AS lo, max(b) AS hi FROM a GROUP BY 1),
g AS (
    SELECT user_id, unnest(range(lo, hi + 1, {_RESAMPLE_STEP_US})) AS b
    FROM r),
j AS (
    SELECT g.user_id, g.b, coalesce(a.n, 0) AS n_obs, a.sc, a.n
    FROM g LEFT JOIN a ON a.user_id = g.user_id AND a.b = g.b),
f AS (
    SELECT user_id, b, n_obs,
           last_value(sc IGNORE NULLS) OVER w AS fsc,
           last_value(n  IGNORE NULLS) OVER w AS fn
    FROM j WINDOW w AS (PARTITION BY user_id ORDER BY b))
SELECT user_id, b AS bucket_us, CAST(n_obs AS INTEGER) AS n_obs,
       CAST(fsc * 10 // fn AS BIGINT) AS avg_milli,
       n_obs = 0 AS filled
FROM f
""")
def events_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4+ time-series resampling (r9, operators/timeseries.py
    resample_gapfill): per-user 6-hour buckets of the events stream,
    densified from each user's first to last bucket with gap rows
    carrying the last observed average forward (TimescaleDB
    time_bucket_gapfill + locf).  All value math is integer (centi-
    unit quantization, milli-unit forward-filled averages) so results
    are bit-identical under any partitioning — no float ever crosses
    an aggregation boundary.  One corpus-sized (key, bucket)
    exchange; the grid stages are O(users × buckets)."""
    from sstable_hadoop_spark.operators.timeseries import resample_gapfill

    ev = load(spark, sf_dir, "events")
    return resample_gapfill(ev, ts_us(ev, "ts"), "user_id", "value",
                            _RESAMPLE_STEP_US)


@query("events_resample_linear", oracle=f"""
WITH e AS (
    SELECT user_id, epoch_us(ts) AS us,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
    FROM events),
a AS (
    SELECT user_id, us - us % {_RESAMPLE_STEP_US} AS b,
           count(*) AS n, sum(c) AS sc
    FROM e GROUP BY 1, 2),
r AS (SELECT user_id, min(b) AS lo, max(b) AS hi FROM a GROUP BY 1),
g AS (
    SELECT user_id, unnest(range(lo, hi + 1, {_RESAMPLE_STEP_US})) AS b
    FROM r),
j AS (
    SELECT g.user_id, g.b, coalesce(a.n, 0) AS n_obs,
           CAST(a.sc * 10 // a.n AS BIGINT) AS oa
    FROM g LEFT JOIN a ON a.user_id = g.user_id AND a.b = g.b),
f AS (
    SELECT user_id, b, n_obs, oa,
           last_value(oa IGNORE NULLS) OVER wb AS pa,
           last_value(CASE WHEN n_obs > 0 THEN b END IGNORE NULLS)
               OVER wb AS pb,
           first_value(oa IGNORE NULLS) OVER wf AS na,
           first_value(CASE WHEN n_obs > 0 THEN b END IGNORE NULLS)
               OVER wf AS nb
    FROM j
    WINDOW wb AS (PARTITION BY user_id ORDER BY b
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wf AS (PARTITION BY user_id ORDER BY b
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT user_id, b AS bucket_us, CAST(n_obs AS INTEGER) AS n_obs,
       CAST(CASE WHEN n_obs > 0 THEN oa
                 WHEN na IS NULL THEN pa
                 ELSE pa + (na - pa) * (b - pb) // (nb - pb)
            END AS BIGINT) AS avg_milli,
       n_obs = 0 AS filled
FROM f
""")
def events_resample_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r9: the LINEAR-interpolation fill of the resampler — gap
    buckets lerp between the surrounding observed averages in exact
    integer milli-units (truncating DIV, identical in both engines),
    trailing gaps fall back to locf.  Same one-corpus-exchange
    topology as events_resample_gapfill."""
    from sstable_hadoop_spark.operators.timeseries import resample_gapfill

    ev = load(spark, sf_dir, "events")
    return resample_gapfill(ev, ts_us(ev, "ts"), "user_id", "value",
                            _RESAMPLE_STEP_US, fill="linear")


_SESSION_GAP_US = 30 * 60 * 1_000_000


@query("events_sessionize", oracle=f"""
WITH e AS (
    SELECT user_id, epoch_us(ts) AS ts_us, value
    FROM events
), flagged AS (
    SELECT user_id, ts_us, value,
           CASE WHEN lag(ts_us) OVER w IS NULL
                  OR ts_us - lag(ts_us) OVER w > {_SESSION_GAP_US}
                THEN 1 ELSE 0 END AS new_sess
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
), sess AS (
    SELECT user_id, ts_us, value,
           CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
                                    ROWS UNBOUNDED PRECEDING) AS INT)
               AS session_seq
    FROM flagged
)
SELECT user_id, session_seq,
       count(*)                    AS n_events,
       min(ts_us)                  AS start_us,
       max(ts_us)                  AS end_us,
       max(ts_us) - min(ts_us)     AS span_us,
       round(sum(value), 4)        AS sum_value
FROM sess
GROUP BY user_id, session_seq
""")
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4+ gap-based sessionization (r6): per-user 30-min-inactivity
    sessions over the event stream, rolled up per session — the batch
    twin of the streaming session_window (streaming/windows.py), as
    ONE exchange (lag + running sum + rollup all ride the user-key
    partitioning; operators/sessions.py)."""
    from sstable_hadoop_spark.operators.sessions import session_rollup

    ev = load(spark, sf_dir, "events")
    return session_rollup(ev, ts_us(ev, "ts"),
                          gap_us=_SESSION_GAP_US)


@query("join_bloom_prefiltered", oracle="""
SELECT p.p_brand,
       CAST(count(*) AS BIGINT) AS n_items,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
           AS revenue
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_size = 1
GROUP BY p.p_brand
""")
def join_bloom_prefiltered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered fact⋈dim join (operators/bloomjoin.py):
    revenue per brand over size-1 parts, with the LINEITEM side
    pre-filtered by a 2^17-bit bloom of the selected part keys BEFORE
    any exchange — the explicit, cross-job-durable form of AQE's
    runtime bloom filter.  The result is row-identical to the plain
    join by construction (no false negatives; the exact join removes
    false positives), which is exactly what the oracle asserts: it is
    the PLAIN join — the bitmap may only change how much of the fact
    side survives to the shuffle (pytest pins that it prunes and that
    the prefilter plan has zero exchanges).  Revenue follows the
    join_agg_revenue house pattern (round(sum, 2) over the identical
    surviving row multiset)."""
    from sstable_hadoop_spark.operators.bloomjoin import (
        bloom_filtered_join,
    )

    li = load(spark, sf_dir, "lineitem")
    parts = (load(spark, sf_dir, "part")
             .where(F.col("p_size") == 1)
             .select(F.col("p_partkey").alias("l_partkey"), "p_brand"))
    joined = bloom_filtered_join(li, parts, "l_partkey")
    return (joined.groupBy("p_brand")
            .agg(F.count("*").cast("long").alias("n_items"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                  .alias("revenue")))


#: Rolling outliers: 24-reading history, 3 sigma, 8-obs warmup.
_OUT_LOOKBACK, _OUT_K_MILLI, _OUT_MIN_OBS = 24, 3000, 8


@query("events_rolling_outliers", oracle=f"""
WITH e AS (
    SELECT user_id AS k, epoch_us(ts) AS tu, event_id AS eid,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL
      AND value IS NOT NULL
),
w AS (
    SELECT k, tu, c,
           count(c) OVER h AS n,
           sum(c) OVER h AS s,
           sum(CAST(c AS HUGEINT) * c) OVER h AS ss
    FROM e
    WINDOW h AS (PARTITION BY k ORDER BY tu, eid
                 ROWS BETWEEN {_OUT_LOOKBACK} PRECEDING
                 AND 1 PRECEDING)
)
SELECT k AS user_id, tu AS ts_us, c AS value_c,
       CAST(n AS INT) AS n_prev,
       CAST(CASE WHEN n >= {_OUT_MIN_OBS}
                  AND CAST(n - 1 AS HUGEINT)
                      * (CAST(n AS HUGEINT) * c - s)
                      * (CAST(n AS HUGEINT) * c - s) * 1000000
                      > CAST({_OUT_K_MILLI * _OUT_K_MILLI} AS HUGEINT)
                        * n * (CAST(n AS HUGEINT) * ss
                               - CAST(s AS HUGEINT) * s)
            THEN 1 ELSE 0 END AS INT) AS is_outlier
FROM w
""")
def events_rolling_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4+ rolling outlier flags (operators/outliers.py
    rolling_outliers): per-user 3-sigma test of each reading against
    its PREVIOUS 24 observations (self-excluded, so a spike cannot
    dilute its own baseline; 8-reading warmup).  The z-test is
    evaluated by comparing SQUARES in exact decimal integers — no
    sqrt, no float stddev, no summation-order dependence:
    (n-1)(nc-S)^2 1e6 > k^2 n (n SS - S^2) — so the oracle reproduces
    every flag bit-for-bit.  ONE corpus exchange (user-partitioned
    window), all codegen."""
    from sstable_hadoop_spark.operators.outliers import rolling_outliers

    ev = load(spark, sf_dir, "events")
    return rolling_outliers(ev, ts_us(ev, "ts"), "user_id", "value",
                            lookback=_OUT_LOOKBACK,
                            k_milli=_OUT_K_MILLI,
                            min_obs=_OUT_MIN_OBS,
                            tie_cols=["event_id"])


#: Cohorts: weekly periods (integer µs buckets, no calendar).
_COHORT_STEP_US = 7 * 86400 * 1_000_000


@query("events_cohort_retention", oracle=f"""
WITH acts AS (
    SELECT DISTINCT user_id AS u,
           epoch_us(ts) - epoch_us(ts) % {_COHORT_STEP_US} AS p
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
first AS (SELECT u, min(p) AS cohort FROM acts GROUP BY u),
j AS (
    SELECT acts.u, cohort,
           (p - cohort) // {_COHORT_STEP_US} AS k
    FROM acts JOIN first ON first.u = acts.u
),
counts AS (
    SELECT cohort, k, count(DISTINCT u) AS n_users
    FROM j GROUP BY cohort, k
),
sz AS (SELECT cohort, n_users AS s FROM counts WHERE k = 0)
SELECT counts.cohort AS cohort_us,
       CAST(k AS INT) AS offset,
       CAST(n_users AS BIGINT) AS n_users,
       CAST(n_users * 10000 // s AS BIGINT) AS retained_bp
FROM counts JOIN sz ON sz.cohort = counts.cohort
""")
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4+ cohort retention (operators/cohort.py cohort_retention):
    users bucketed by first-activity week, each later week counting
    how many returned — the growth-dashboard retention matrix, in
    integer basis points of the cohort.  Two user-keyed exchanges
    (per-user first period; distinct user-period activity, which
    downsamples the corpus to <= users x periods rows with map-side
    partials) and nothing corpus-sized after; periods and offsets are
    pure integer µs arithmetic, so the oracle reproduces the matrix
    exactly."""
    from sstable_hadoop_spark.operators.cohort import cohort_retention

    ev = load(spark, sf_dir, "events")
    return cohort_retention(ev, ts_us(ev, "ts"), "user_id",
                            step_us=_COHORT_STEP_US)


#: Funnel: view -> click -> purchase with the whole chain inside 6h.
_FUNNEL_STEPS = ("view", "click", "purchase")
_FUNNEL_WITHIN_US = 6 * 3600 * 1_000_000


@query("events_funnel_report", oracle=f"""
WITH e AS (
    SELECT user_id AS u, epoch_us(ts) AS tu, event_type AS t,
           event_id AS eid
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL
      AND event_type IS NOT NULL
),
s1 AS (
    SELECT u, tu, t, eid,
           CASE WHEN t = '{_FUNNEL_STEPS[0]}' THEN tu END AS c1
    FROM e
),
m1 AS (
    SELECT *, max(c1) OVER (PARTITION BY u ORDER BY tu, eid
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS p1
    FROM s1
),
s2 AS (
    SELECT *, CASE WHEN t = '{_FUNNEL_STEPS[1]}' AND p1 IS NOT NULL
                    AND p1 >= tu - {_FUNNEL_WITHIN_US}
              THEN p1 END AS c2
    FROM m1
),
m2 AS (
    SELECT *, max(c2) OVER (PARTITION BY u ORDER BY tu, eid
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS p2
    FROM s2
),
s3 AS (
    SELECT *, CASE WHEN t = '{_FUNNEL_STEPS[2]}' AND p2 IS NOT NULL
                    AND p2 >= tu - {_FUNNEL_WITHIN_US}
              THEN p2 END AS c3
    FROM m2
),
r AS (
    SELECT u, max(CASE WHEN c3 IS NOT NULL THEN 3
                       WHEN c2 IS NOT NULL THEN 2
                       WHEN c1 IS NOT NULL THEN 1
                       ELSE 0 END) AS reached
    FROM s3 GROUP BY u
),
rr AS (SELECT unnest(range(1, reached + 1)) AS step
       FROM r WHERE reached >= 1),
counts AS (SELECT step, count(*) AS n FROM rr GROUP BY step),
steps AS (SELECT * FROM (VALUES (1, '{_FUNNEL_STEPS[0]}'),
                                (2, '{_FUNNEL_STEPS[1]}'),
                                (3, '{_FUNNEL_STEPS[2]}'))
          s(step, step_name)),
fl AS (
    SELECT steps.step, step_name,
           CAST(coalesce(n, 0) AS BIGINT) AS n_users
    FROM steps LEFT JOIN counts ON counts.step = steps.step
),
n1 AS (SELECT n_users AS b FROM fl WHERE step = 1)
SELECT CAST(step AS INT) AS step, step_name, n_users,
       CASE WHEN b = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(n_users * 10000 // b AS BIGINT) END AS conv_bp
FROM fl, n1
""")
def events_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4+ windowed funnel (operators/funnel.py funnel_reach /
    funnel_report): users completing view -> click -> purchase with
    the whole chain inside 6 hours — ClickHouse windowFunnel
    semantics expressed as CASCADED RUNNING-MAX WINDOWS sharing one
    per-user partitioning and one (ts, event_id) sort: chain starts
    propagate depth-by-depth through strictly-before frames (one
    event can never advance two steps), the window bound is checked
    against the chain's FIRST event, and keeping the max start per
    depth is greedily optimal.  ONE corpus exchange regardless of
    funnel depth, zero UDFs; the report rollup (reach explode +
    conversion in integer basis points) is user-count-sized.  The
    oracle replays the identical window cascade in SQL."""
    from sstable_hadoop_spark.operators.funnel import funnel_report

    ev = load(spark, sf_dir, "events")
    return funnel_report(ev, ts_us(ev, "ts"), "user_id", "event_type",
                         list(_FUNNEL_STEPS),
                         within_us=_FUNNEL_WITHIN_US,
                         tie_cols=["event_id"])


_CELLS_DDL = ("key BINARY, name BINARY, state STRING, data BINARY, "
              "timestamp BIGINT, ttl BIGINT, expiration BIGINT, "
              "generation INT")


def _bucketed_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cells stored hash-BUCKETED by row key (files written once,
    idempotent per sf_dir; the catalog declaration is re-issued per
    session since bucket metadata lives in the catalog, not the
    files)."""
    import hashlib

    from sstable_hadoop_spark.operators.layout import (
        bucketed_table,
        write_bucketed,
    )

    h = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    table = f"bucketed_cells_{h}"

    def build(out: str) -> None:
        write_bucketed(derived_cells(spark, sf_dir), out, table,
                       bucket_by=("key",), n_buckets=8,
                       sort_by=("key", "name"))

    path = _idempotent_tmpdir("bucketed_cells_" + h, build)
    return bucketed_table(spark, table, path, _CELLS_DDL,
                          bucket_by=("key",), n_buckets=8,
                          sort_by=("key", "name"))


@query("bucketed_table_health", oracle="""
SELECT false AS torn, true AS has_files, CAST(8 AS INT) AS n_bucket_rows
""")
def bucketed_table_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout r7: the read-only bucketed-table fsck
    (operators/layout.py table_health) as a driver row.  The checked
    projection is the report's SF-independent invariants over the
    freshly-built bucketed cells fixture — no torn-swap artifacts, data
    files present, one report row per declared bucket (pinned-literal
    oracle, the house pattern for filesystem-state queries; the
    per-bucket numbers and torn-detection behavior are pinned in
    tests/test_extensions.py, and the swap crash-point sweep exercises
    the states the fsck reports)."""
    import hashlib
    import os
    import tempfile

    from sstable_hadoop_spark.operators.layout import table_health

    _bucketed_cells(spark, sf_dir)  # build/ensure the bucketed fixture
    h = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = os.path.join(tempfile.gettempdir(), "bucketed_cells_" + h)
    rep = table_health(spark, path, 8)
    t = F.col("bucket") == "_table"
    return rep.agg(
        F.max(F.when(t, F.length("note") > 0)).alias("torn"),
        F.max(F.when(t, F.col("n_files") > 0)).alias("has_files"),
        F.sum(F.when(~t, 1).otherwise(0)).cast("int")
         .alias("n_bucket_rows"))


# Same oracle as the flagship ON PURPOSE: the bucketed layout must
# change the PLAN (zero exchanges — asserted in test_plan_hygiene),
# never the result.
@query("lww_bucketed_merge", oracle=f"""
{_CELLS_CTE}
SELECT key_str, name_str, state, coalesce(data_str, '') AS data_str,
       ts_us, generation
FROM cells
QUALIFY row_number() OVER (PARTITION BY key_str, name_str
                           ORDER BY {_ORDER}) = 1
""")
def lww_bucketed_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout r6: the flagship per-cell LWW merge over cells stored
    BUCKETED by row key (operators/layout.py write_bucketed).  The
    scan's bucketing satisfies the merge's (key, name) clustering —
    hash on a subset of the grouping keys co-locates every group — so
    Catalyst plans the whole merge with ZERO exchanges: the recurring
    shuffle of a daily 100 TB merge is paid once, at layout time."""
    return _render_winners(lww_cell(_bucketed_cells(spark, sf_dir)))


# Same oracle as the flagship ON PURPOSE (third member of the family,
# after lww_incremental_refresh and lww_bucketed_merge): a selective
# bucket rewrite that dropped a file, double-applied a delta, or
# mis-hashed a key into the wrong bucket would diverge from the full
# re-merge and hash-mismatch here.
@query("lww_bucketed_upsert", oracle=f"""
{_CELLS_CTE}
SELECT key_str, name_str, state, coalesce(data_str, '') AS data_str,
       ts_us, generation
FROM cells
QUALIFY row_number() OVER (PARTITION BY key_str, name_str
                           ORDER BY {_ORDER}) = 1
""")
def lww_bucketed_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout r6: merge-on-write upsert into the bucketed winners
    table (operators/layout.py bucketed_upsert).  Generations 1-3 are
    merged once and stored key-bucketed; generation 4 is the day's
    delta, folded in by rewriting ONLY the buckets holding delta keys
    (lww_refresh inside each) — O(affected buckets + delta) IO, the
    compaction topology a 100 TB table needs.  The read-back must be
    indistinguishable from a full re-merge of all generations; the
    upsert is idempotent (argmax merge), so the driver re-running this
    query re-applies the same delta onto the same bytes.  (Single
    writer per table, like the sink it models — the driver and the
    parity suite run queries serially.)"""
    import hashlib

    from sstable_hadoop_spark.operators.layout import (
        bucketed_upsert,
        write_bucketed,
    )
    from sstable_hadoop_spark.operators.lww import lww_refresh

    h = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    cells = derived_cells(spark, sf_dir)

    def build(out: str) -> None:
        write_bucketed(lww_cell(cells.filter(F.col("generation") <= 3)),
                       out, f"upsert_base_{h}",
                       bucket_by=("key",), n_buckets=8,
                       sort_by=("key", "name"))

    path = _idempotent_tmpdir("bucketed_upsert_base_" + h, build)
    bucketed_upsert(spark, path,
                    cells.filter(F.col("generation") == 4),
                    lww_refresh, bucket_by=("key",), n_buckets=8,
                    sort_by=("key", "name"))
    return _render_winners(spark.read.parquet(path))


# Fourth member of the flagship-oracle family: the STREAMING
# bucketed-upsert sink.  Cells arrive one generation per micro-batch;
# the winners table on disk after the last batch must equal the batch
# full merge — a dropped bucket file, a bootstrap that clobbered prior
# batches, or a replayed batch that double-applied would all diverge.
@query("streaming_bucketed_upsert", oracle=f"""
{_CELLS_CTE}
SELECT key_str, name_str, state, coalesce(data_str, '') AS data_str,
       ts_us, generation
FROM cells
QUALIFY row_number() OVER (PARTITION BY key_str, name_str
                           ORDER BY {_ORDER}) = 1
""")
def streaming_bucketed_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERDICT r6 #3a: the streaming bucketed-upsert sink
    (streaming/compaction.py upsert_stream_to_bucketed) as its own
    driver row.  Generations arrive one per micro-batch (staged
    mtimes, ``maxFilesPerTrigger=1``, availableNow); batch 0
    bootstraps the key-bucketed winners table, every later batch is
    locally LWW-merged and folded in by rewriting ONLY the buckets its
    keys hash into (operators/layout.bucketed_upsert + lww_refresh).
    The table IS the merged state at every batch boundary — the read
    back here does no merge at all, yet must equal the flagship full
    merge of all four generations."""
    import hashlib
    import os

    from sstable_hadoop_spark.streaming.compaction import (
        upsert_stream_to_bucketed,
    )

    src = _stage_cell_stream(spark, sf_dir)
    cells = derived_cells(spark, sf_dir)

    def build(out: str) -> None:
        table_dir = os.path.join(out, "winners")
        stream = (spark.readStream.schema(cells.schema)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        _drain_stream(spark, lambda: upsert_stream_to_bucketed(
            stream, table_dir, os.path.join(out, "_checkpoint"),
            n_buckets=8))

    tag = ("stream_upsert_"
           + hashlib.md5(sf_dir.encode()).hexdigest()[:10])
    out = _idempotent_tmpdir(tag, build)
    return _render_winners(
        spark.read.parquet(os.path.join(out, "winners")))


# Fifth member of the flagship-oracle family: the MULTI-WRITER
# transaction-log table.  Same winners semantics, but the table is
# built through optimistic log commits (create gens 1-2, upsert gen 3,
# upsert gen 4) — a commit that lost files, replayed a stage, or read
# a torn snapshot would diverge from the full merge and hash-mismatch.
@query("txlog_upsert_roundtrip", oracle=f"""
{_CELLS_CTE}
SELECT key_str, name_str, state, coalesce(data_str, '') AS data_str,
       ts_us, generation
FROM cells
QUALIFY row_number() OVER (PARTITION BY key_str, name_str
                           ORDER BY {_ORDER}) = 1
""")
def txlog_upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r9: merge-on-write upserts through the TRANSACTION LOG
    (operators/txlog.py) — the multi-writer answer to the single-
    writer lease the r7 verdict listed as the one honest gap.  The
    winners table is created from generations 1-2, then generations 3
    and 4 land as two separate optimistic commits (version 2 and 3 of
    the log); the head snapshot read must equal the flagship full
    merge of all four generations.  Re-running the query re-applies
    gen 3/4 as NEW versions with identical content (idempotent
    argmax merge), so the row is driver-stable while the log keeps an
    audit trail of every run.  The data plane is the same O(affected
    buckets + delta) bucket rewrite as lww_bucketed_upsert; commits
    are metadata-sized json."""
    import hashlib

    from sstable_hadoop_spark.operators.lww import lww_refresh
    from sstable_hadoop_spark.operators.txlog import (
        txlog_create,
        txlog_read,
        txlog_upsert,
    )

    h = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    cells = derived_cells(spark, sf_dir)

    def build(out: str) -> None:
        import os

        txlog_create(
            spark, os.path.join(out, "t"),
            lww_cell(cells.filter(F.col("generation") <= 2)),
            bucket_by=("key",), n_buckets=8, sort_by=("key", "name"))

    import os

    base = _idempotent_tmpdir("txlog_upsert_base_" + h, build)
    path = os.path.join(base, "t")
    for gen in (3, 4):
        txlog_upsert(spark, path,
                     cells.filter(F.col("generation") == gen),
                     lww_refresh, bucket_by=("key",), n_buckets=8,
                     sort_by=("key", "name"))
    return _render_winners(txlog_read(spark, path))


# Sixth member of the flagship-oracle family: HARD DELETE through the
# transaction log (right-to-be-forgotten).  Winners for keys ≡ 0 mod 3
# are deleted; the survivors must equal the full merge minus exactly
# those keys — a delete that leaked a row, dropped a neighbor, or
# missed a bucket diverges and hash-mismatches.
@query("txlog_delete_roundtrip", oracle=f"""
{_CELLS_CTE}
SELECT * FROM (
    SELECT key_str, name_str, state, coalesce(data_str, '') AS data_str,
           ts_us, generation
    FROM cells
    QUALIFY row_number() OVER (PARTITION BY key_str, name_str
                               ORDER BY {_ORDER}) = 1)
WHERE CAST(key_str AS BIGINT) % 3 <> 0
""")
def txlog_delete_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r9: key deletion through the transaction log
    (operators/txlog.py txlog_delete) — the GDPR path: rewrite only
    the buckets the doomed keys hash into, as an optimistic commit;
    vacuum later makes the bytes unreachable AND gone.  Idempotent
    (re-deleting absent keys rewrites identical content), so the row
    is driver-stable across reruns while the log keeps the audit
    trail."""
    import hashlib
    import os

    from sstable_hadoop_spark.operators.txlog import (
        txlog_create,
        txlog_delete,
        txlog_read,
    )

    h = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    cells = derived_cells(spark, sf_dir)

    def build(out: str) -> None:
        txlog_create(spark, os.path.join(out, "t"), lww_cell(cells),
                     bucket_by=("key",), n_buckets=8,
                     sort_by=("key", "name"))

    base = _idempotent_tmpdir("txlog_delete_base_" + h, build)
    path = os.path.join(base, "t")
    doomed = (txlog_read(spark, path).select("key").distinct()
              .filter(F.decode(F.col("key"), "UTF-8").cast("long")
                      % 3 == 0))
    txlog_delete(spark, path, doomed, bucket_by=("key",), n_buckets=8,
                 sort_by=("key", "name"))
    return _render_winners(txlog_read(spark, path))


@query("txlog_table_health", oracle="""
SELECT * FROM (VALUES
    (TRUE, TRUE, TRUE, 8, CAST(0 AS INTEGER))
) AS t(logged, no_missing, every_bucket_filled, n_bucket_rows,
       n_lost_files)
""")
def txlog_table_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r9: fsck over the txlog winners fixture (operators/txlog.py
    txlog_health) reduced to its SF- and run-count-independent
    invariants (the bucketed_table_health pattern): a log is present,
    no referenced file is missing from disk, all 8 declared buckets
    hold files, and zero data-loss entries — version numbers and
    unreferenced-file counts grow with driver reruns by design, so
    they stay out of the checked projection."""
    import hashlib
    import os
    import tempfile

    from sstable_hadoop_spark.operators.txlog import txlog_health

    txlog_delete_roundtrip(spark, sf_dir)  # ensure/refresh the fixture
    h = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = os.path.join(tempfile.gettempdir(),
                        "txlog_delete_base_" + h, "t")
    rep = txlog_health(spark, path, 8)
    t = F.col("bucket") == "_table"
    return rep.agg(
        F.max(F.when(t, F.col("note").contains("version=")))
         .alias("logged"),
        F.max(F.when(t, ~F.col("note").contains("DATA-LOSS")))
         .alias("no_missing"),
        F.min(F.when(~t, F.col("n_files") > 0))
         .alias("every_bucket_filled"),
        F.sum(F.when(~t, 1).otherwise(0)).cast("int")
         .alias("n_bucket_rows"),
        F.sum(F.when(t & F.col("note").contains("DATA-LOSS"), 1)
               .otherwise(0)).cast("int").alias("n_lost_files"))


def _profile_branch(col: str, dt: str, render: str) -> str:
    """One UNION ALL branch of the profile oracle: the same stats
    operators/profile.py computes, column-at-a-time in SQL."""
    r = render.format(c=col)
    return f"""
SELECT '{col}' AS col_name, '{dt}' AS data_type,
       count(*) AS n_rows,
       cast(sum(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS bigint)
           AS n_nulls,
       count(DISTINCT {col}) AS n_distinct,
       {render.format(c=f'min({col})')} AS min_val,
       {render.format(c=f'max({col})')} AS max_val,
       cast(coalesce(sum(length({r})), 0) AS bigint) AS total_len
FROM orders"""


_NUM_RENDER = "cast(cast({c} AS DECIMAL(28,6)) AS varchar)"

_PROFILE_ORACLE = "\nUNION ALL".join([
    _profile_branch("o_orderkey", "bigint", _NUM_RENDER),
    _profile_branch("o_custkey", "bigint", _NUM_RENDER),
    _profile_branch("o_orderstatus", "string", "{c}"),
    _profile_branch("o_totalprice", "double", _NUM_RENDER),
    _profile_branch("o_orderpriority", "string", "{c}"),
])


@query("profile_orders_table", oracle=_PROFILE_ORACLE)
def profile_orders_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling r6 (operators/profile.py): per-column ANALYZE
    report — rows, nulls, exact cardinality, portable min/max
    rendering, summed rendered width — as ONE wide aggregation over
    ONE scan (each stat an independent agg expression, map-side
    partials, 1-row shuffle) plus a trivial unpivot.  The oracle
    recomputes every statistic column-at-a-time in SQL.  ``exact=True``
    here because HLL estimates are engine-specific; the default
    approx mode is the single-pass 100 TB path (pytest pins its
    relative error against this exact profile)."""
    from sstable_hadoop_spark.operators.profile import profile_table

    return profile_table(
        load(spark, sf_dir, "orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderpriority"], exact=True)


@query("corpus_quality_filter", oracle=r"""
WITH q AS (
    SELECT doc_id, lang,
           round(0.4 * (CASE WHEN length(text) BETWEEN 100 AND 5000
                             THEN 1.0 ELSE 0.0 END)
                 + 0.3 * (1.0 - len(regexp_extract_all(text, '[^\w\s]')) * 1.0
                                / greatest(length(text), 1))
                 + 0.3 * (len(list_filter(
                              regexp_split_to_array(lower(text), '\s+'),
                              t -> t IN ('the','a','of','and','to','in',
                                         'is','it')))
                          * 1.0
                          / greatest(len(regexp_split_to_array(lower(text),
                                                               '\s+')), 1)),
                 6) AS quality
    FROM documents
)
SELECT doc_id, lang, quality
FROM (SELECT doc_id, lang, quality,
             row_number() OVER (PARTITION BY lang
                                ORDER BY quality DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM q)
WHERE rn <= ceil(0.3 * n)
""")
def corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation r6 (operators/corpus.py quality_filter): keep the top
    30% of documents per language by quality score — exact rank mode
    (one exchange + per-group sort) here for the cross-engine oracle;
    the ``threshold`` mode (approx-quantile broadcast, no corpus sort)
    is the 100 TB path, pinned against this one in pytest."""
    from sstable_hadoop_spark.operators.corpus import quality_filter

    return quality_filter(load(spark, sf_dir, "documents"), 0.3,
                          method="rank")


_VOCAB_SQL = r"""
    SELECT t AS term, count(*) AS term_count,
           count(DISTINCT doc_id) AS doc_count,
           row_number() OVER (ORDER BY count(*) DESC, t) AS rank
    FROM (SELECT doc_id,
                 unnest(regexp_split_to_array(lower(text), '\s+')) AS t
          FROM documents)
    WHERE t <> ''
    GROUP BY t
    HAVING count(*) >= 5
    QUALIFY rank <= 100
"""


@query("corpus_vocab_top_terms", oracle=f"""
WITH vocab AS ({_VOCAB_SQL})
SELECT term, term_count, doc_count, rank FROM vocab
""")
def corpus_vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction r6 (operators/corpus.py build_vocab):
    top-100 whitespace terms with count ≥ 5, ranked by the
    deterministic (count DESC, term ASC) total order.  One term-keyed
    hash-agg with map-side partials, then TakeOrdered — no full
    sort."""
    from sstable_hadoop_spark.operators.corpus import build_vocab

    return build_vocab(load(spark, sf_dir, "documents"), top_n=100,
                       min_count=5)


@query("corpus_oov_rate", oracle=rf"""
WITH vocab AS ({_VOCAB_SQL}),
tok AS (
    SELECT lang,
           unnest(regexp_split_to_array(lower(text), '\s+')) AS term
    FROM documents
),
t2 AS (SELECT lang, tok.term, vocab.term AS v
       FROM tok LEFT JOIN vocab ON tok.term = vocab.term
       WHERE tok.term <> '')
SELECT lang, count(*) AS n_tokens,
       cast(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS bigint)
           AS n_oov,
       round(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS oov_rate
FROM t2 GROUP BY lang
""")
def corpus_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OOV accounting r6 (operators/corpus.py oov_rate): per-language
    fraction of token occurrences the top-100 vocabulary misses.  The
    vocab side is broadcast; the corpus-side token stream is probed
    map-side with zero corpus shuffle before the per-language
    rollup."""
    from sstable_hadoop_spark.operators.corpus import (
        build_vocab,
        oov_rate,
    )

    docs = load(spark, sf_dir, "documents")
    return oov_rate(docs, build_vocab(docs, top_n=100, min_count=5))


_HTTP_ENVELOPE = "HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n"


def _materialize_warc(spark: SparkSession, sf_dir: str) -> str:
    """Write the documents corpus as gzipped WARC ``response`` records
    (HTTP envelope + text payload — the CommonCrawl shape) under a
    deterministic tmp dir; distributed through the warc sink, one gzip
    member per record."""

    def build(out: str) -> None:
        from sstable_hadoop_spark.sources.datasource import register

        register(spark)
        docs = load(spark, sf_dir, "documents")
        payload = F.encode(
            F.concat(F.lit(_HTTP_ENVELOPE), F.col("text")), "UTF-8")
        recs = docs.select(
            F.concat(F.lit("http://corpus.example/doc/"),
                     F.col("doc_id")).alias("target_uri"),
            payload.alias("payload"),
            F.lit("response").alias("warc_type"),
            F.lit("application/http; msgtype=response")
             .alias("content_type"))
        recs.repartition(4).write.format("warc").mode("append").save(out)

    import hashlib

    # tag v2 (r8): the sink now writes .cdx member-index sidecars the
    # split-path query below depends on — regenerate cached fixtures
    tag = "warc_docs2_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    return _idempotent_tmpdir(tag, build)


@query("warc_ingest", oracle="""
SELECT doc_id,
       200                                       AS http_status,
       CAST(45 + octet_length(encode(text)) AS BIGINT)
                                                 AS content_length,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_body_bytes,
       md5(text)                                 AS body_md5
FROM documents
""")
def warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference SOURCE (r6): ingest the corpus from gzipped
    WARC (ISO 28500 — the CommonCrawl interchange format), HTTP
    envelopes parsed executor-side (sources/warc.py).  The fixture is
    written by the warc SINK from the same documents table, so the
    oracle re-derives every checked column — including the md5 of the
    round-tripped HTTP body — straight from ``documents`` in SQL.
    45 = len("HTTP/1.1 200 OK\\r\\nContent-Type: text/plain\\r\\n\\r\\n"),
    the envelope the fixture prepends."""
    assert len(_HTTP_ENVELOPE.encode()) == 45
    return _warc_ingest_df(spark, sf_dir)


def _warc_ingest_df(spark: SparkSession, sf_dir: str,
                    **reader_opts: str) -> DataFrame:
    # MUST self-register: when the /tmp fixture cache is warm the build
    # (and any earlier registering query) is skipped, and a bare driver
    # session has no "warc" source — the r8 driver ran this query 4th
    # and analysis failed with DATA_SOURCE_NOT_FOUND (CORRECTNESS_r08).
    from sstable_hadoop_spark.sources.datasource import register

    register(spark)
    warc_dir = _materialize_warc(spark, sf_dir)
    r = (spark.read.format("warc")
         .option("columns",
                 "target_uri,content_length,http_status,http_body"))
    for k, v in reader_opts.items():
        r = r.option(k, v)
    recs = r.load(warc_dir)
    return recs.select(
        F.regexp_extract("target_uri", r"(\d+)$", 1).cast("long")
         .alias("doc_id"),
        F.col("http_status").cast("int").alias("http_status"),
        F.col("content_length"),
        F.length("http_body").cast("long").alias("n_body_bytes"),
        F.md5("http_body").alias("body_md5"))


@query("warc_ingest_split", oracle="""
SELECT doc_id,
       200                                       AS http_status,
       CAST(45 + octet_length(encode(text)) AS BIGINT)
                                                 AS content_length,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_body_bytes,
       md5(text)                                 AS body_md5
FROM documents
""")
def warc_ingest_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r8: the same WARC ingest forced through MEMBER-INDEX SPLITS — a
    4 KiB split target makes every fixture file split into many
    member-aligned byte ranges (sink-written .cdx sidecars), so the
    ranged gzip decode path itself is oracle-certified, not just the
    whole-file path (sources/warc.py open_warc_range).  At 100 TB this
    is the plan shape a single huge archive gets: parallelism =
    bytes / max_split_bytes instead of one task per file (11.6×
    measured on one 167 MB archive, PERF.md r8)."""
    return _warc_ingest_df(spark, sf_dir, max_split_bytes="4096")


def _html_extract_oracle() -> str:
    """Oracle for html_extract_text: reconstruct the same synthetic
    HTML page from ``documents.text`` in SQL, then run the IDENTICAL
    strip chain (operators/html.py oracle_strip_html_sql) — RE2 vs
    Java regex over the same patterns, certifying the extraction
    semantics cross-engine."""
    from sstable_hadoop_spark.operators.html import oracle_strip_html_sql

    esc = ("replace(replace(replace(text, '&', '&amp;'), "
           "'<', '&lt;'), '>', '&gt;')")
    html = (
        "'<html><head><title>Doc ' || doc_id || ' &amp; co</title>"
        "<style>p {margin: 0}</style>"
        "<script>if (1 < 2) alert(\"x&y\")</script></head>"
        "<body><nav><a href=\"/\">home</a> "
        "<a href=\"/about\">about</a></nav>"
        "<h1>Doc ' || doc_id || '</h1><p>' || " + esc +
        " || '</p><footer>&copy; corpus</footer></body></html>'")
    chain = oracle_strip_html_sql("html")
    return f"""
WITH h AS (SELECT doc_id, {html} AS html FROM documents),
t AS (SELECT doc_id, {chain} AS txt FROM h)
SELECT doc_id,
       'Doc ' || doc_id || ' & co' AS title,
       2 AS n_links,
       CAST(len(list_filter(regexp_split_to_array(txt,
            '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '')) AS INTEGER)
           AS n_words,
       md5(txt) AS text_md5
FROM t
"""


@query("html_extract_text", oracle=_html_extract_oracle())
def html_extract_text_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r9 E4+: HTML → text extraction (operators/html.py) — the
    curation step between WARC ingest and the text-quality/dedup
    operators.  Each document is wrapped into a synthetic page with
    the full boilerplate zoo (head/title with entities, style, script
    with a bare ``<``, nav links, footer), then the regex-tier
    extractor strips it back; title, link count, word count and the
    md5 of the extracted text must match the DuckDB oracle running
    the IDENTICAL pattern chain.  All chained codegen built-ins —
    zero Python, zero shuffles, scan-parallel at 100 TB."""
    from sstable_hadoop_spark.operators.html import (
        escape_html_text,
        extract_html_text,
    )

    docs = load(spark, sf_dir, "documents")
    page = F.concat(
        F.lit("<html><head><title>Doc "), F.col("doc_id"),
        F.lit(" &amp; co</title><style>p {margin: 0}</style>"
              "<script>if (1 < 2) alert(\"x&y\")</script></head>"
              "<body><nav><a href=\"/\">home</a> "
              "<a href=\"/about\">about</a></nav><h1>Doc "),
        F.col("doc_id"),
        F.lit("</h1><p>"), escape_html_text(F.col("text")),
        F.lit("</p><footer>&copy; corpus</footer></body></html>"))
    out = extract_html_text(docs.select("doc_id", page.alias("html")),
                            "html")
    return out.select(
        "doc_id", "title",
        F.col("n_links").cast("int").alias("n_links"),
        F.col("n_words").cast("int").alias("n_words"),
        F.md5("text").alias("text_md5"))


@query("corpus_domain_caps", oracle=r"""
WITH u AS (
    SELECT doc_id,
           'https://www.site' || (doc_id % 37) || '.com/page/'
               || doc_id AS url
    FROM documents),
d AS (
    SELECT doc_id,
           regexp_extract(
               lower(regexp_extract(url,
                     '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)),
               '([^.]+\.[^.]+)$', 1) AS domain
    FROM u)
SELECT doc_id, domain, CAST(rk AS INTEGER) AS rank
FROM (SELECT doc_id, domain,
             row_number() OVER (PARTITION BY domain
                                ORDER BY doc_id) AS rk
      FROM d)
WHERE rk <= 5
""")
def corpus_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r9 E4+: per-domain document caps (operators/corpus.py
    cap_per_domain) — the CommonCrawl-standard guard against one site
    dominating a corpus (C4/RefinedWeb keep bounded pages per
    domain).  URLs are synthesized deterministically over 37 domains;
    host → registrable-domain extraction is scan-local codegen, the
    cap is one domain-hash exchange + an in-partition window.  Kept =
    first 5 docs per domain by doc_id."""
    from sstable_hadoop_spark.operators.corpus import cap_per_domain

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("https://www.site"),
                 F.pmod(F.col("doc_id"), F.lit(37)),
                 F.lit(".com/page/"), F.col("doc_id")).alias("url"))
    out = cap_per_domain(docs, "url", cap=5, order_by=F.col("doc_id"))
    return out.select("doc_id", "domain",
                      F.col("rank").cast("int").alias("rank"))


#: Hosts exercising the PSL snapshot: two-label suffixes (co.uk,
#: com.au), a three-label suffix (nsw.edu.au), a wildcard TLD
#: (*.ck), and a plain .com that must behave exactly like the
#: heuristic.
_PSL_URL_SQL = """CASE doc_id % 5
  WHEN 0 THEN 'https://shop.example' || (doc_id % 11)
       || '.co.uk/p/' || doc_id
  WHEN 1 THEN 'https://www.site' || (doc_id % 13) || '.com.au/x'
  WHEN 2 THEN 'https://site' || (doc_id % 37) || '.com/page'
  WHEN 3 THEN 'https://www.shop.isle' || (doc_id % 9) || '.ck/w'
  ELSE 'https://a.school' || (doc_id % 7) || '.nsw.edu.au/y'
END"""


def _psl_domains_oracle() -> str:
    """Longest-match PSL lookup re-derived in SQL from the SAME
    vendored snapshot tuples the Spark column is built from."""
    from sstable_hadoop_spark.operators.corpus import (
        PSL_SNAPSHOT_2LABEL,
        PSL_SNAPSHOT_3LABEL,
        PSL_SNAPSHOT_WILDCARD_TLD,
    )

    two = ", ".join(f"'{s}'" for s in sorted(PSL_SNAPSHOT_2LABEL))
    three = ", ".join(f"'{s}'" for s in sorted(PSL_SNAPSHOT_3LABEL))
    wild = ", ".join(f"'{s}'"
                     for s in sorted(PSL_SNAPSHOT_WILDCARD_TLD))
    return f"""
WITH u AS (
    SELECT doc_id, {_PSL_URL_SQL} AS url FROM documents
),
h AS (
    SELECT doc_id,
           lower(regexp_extract(url,
                 '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)) AS host
    FROM u),
lab AS (
    SELECT doc_id, host,
           regexp_extract(host, '([^.]+)$', 1) AS l1,
           regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS l2,
           regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+)$', 1) AS l3,
           regexp_extract(host,
               '([^.]+\\.[^.]+\\.[^.]+\\.[^.]+)$', 1) AS l4
    FROM h),
d AS (
    SELECT doc_id,
           CASE WHEN l3 IN ({three}) AND l4 <> '' THEN l4
                WHEN l2 IN ({two}) AND l3 <> '' THEN l3
                WHEN l1 IN ({wild}) AND l3 <> '' THEN l3
                ELSE l2 END AS domain
    FROM lab)
SELECT doc_id, domain, CAST(rk AS INTEGER) AS rank
FROM (SELECT doc_id, domain,
             row_number() OVER (PARTITION BY domain
                                ORDER BY doc_id) AS rk
      FROM d)
WHERE rk <= 5
"""


@query("corpus_domain_caps_psl", oracle=_psl_domains_oracle())
def corpus_domain_caps_psl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10 E4+ (VERDICT r9 #6): per-domain caps under the PSL-backed
    registrable domain — ``url_registrable_domain(psl=True)`` looks
    the host's trailing labels up against the vendored public-suffix
    snapshot (longest match wins), so ``shop.example.co.uk`` caps
    under ``example.co.uk`` instead of the heuristic's wrong
    ``co.uk`` (which would fold EVERY .co.uk site into one cap
    group).  The suffix table is metadata-sized, so the lookup is a
    scan-local literal-array membership — the broadcast join's
    semantics at zero exchanges.  URLs synthesize co.uk / com.au /
    nsw.edu.au / wildcard *.ck / plain-.com shapes; the oracle re-derives the
    longest-match from the same snapshot tuples."""
    from sstable_hadoop_spark.operators.corpus import cap_per_domain

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_PSL_URL_SQL).alias("url"))
    out = cap_per_domain(docs, "url", cap=5, order_by=F.col("doc_id"),
                         psl=True)
    return out.select("doc_id", "domain",
                      F.col("rank").cast("int").alias("rank"))


_PARA_HEADER = "subscribe to our newsletter for updates"
_PARA_FOOTER = "copyright corpus example all rights reserved"


@query("corpus_dedup_paragraphs", oracle=f"""
WITH comp AS (
    SELECT doc_id,
           '{_PARA_HEADER}' || chr(10) || chr(10) || text
           || chr(10) || chr(10) || '{_PARA_FOOTER}' AS t
    FROM documents),
ps AS (
    SELECT doc_id, string_split(t, chr(10) || chr(10)) AS l
    FROM comp),
px AS (
    SELECT doc_id,
           unnest([{{'p': trim(l[i]), 'i': i}}
                   FOR i IN range(1, len(l) + 1)]) AS u
    FROM ps),
p AS (SELECT doc_id, u.p AS p, u.i AS i FROM px WHERE u.p <> ''),
dupes AS (
    SELECT md5(p) AS h
    FROM (SELECT DISTINCT doc_id, md5(p) AS h, p FROM p)
    GROUP BY md5(p) HAVING count(*) >= 2),
f AS (SELECT doc_id, p, i,
             md5(p) IN (SELECT h FROM dupes) AS dead
      FROM p)
SELECT doc_id,
       CAST(count(*) AS INTEGER) AS n_paragraphs,
       CAST(sum(CASE WHEN dead THEN 1 ELSE 0 END) AS INTEGER)
           AS n_removed,
       md5(coalesce(string_agg(CASE WHEN NOT dead THEN p END,
                               chr(10) || chr(10) ORDER BY i), ''))
           AS clean_md5
FROM f GROUP BY doc_id
""")
def corpus_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2+ paragraph-level dedup (r9, operators/dedup.py
    dedup_paragraphs): the RefinedWeb/C4 boilerplate-paragraph pass —
    every document is composed with a shared newsletter header and
    copyright footer, and the operator must strip exactly the
    paragraphs whose distinct-document frequency ≥ 2 (the injected
    boilerplate everywhere, plus the corpus's seeded duplicate
    bodies), leaving unique bodies intact.  Only (id, position,
    60-bit hash) rows shuffle; paragraph text never crosses an
    exchange."""
    from sstable_hadoop_spark.operators.dedup import dedup_paragraphs

    docs = load(spark, sf_dir, "documents")
    composed = docs.select(
        "doc_id",
        F.concat_ws("\n\n", F.lit(_PARA_HEADER), F.col("text"),
                    F.lit(_PARA_FOOTER)).alias("text"))
    out = dedup_paragraphs(composed, min_df=2)
    return out.select(
        "doc_id", "n_paragraphs", "n_removed",
        F.md5("text").alias("clean_md5"))


_SEMDEDUP_TAU = 0.9


def _dedup_semantic_oracle() -> str:
    """SemDeDup replica: the 16 md5 pseudo-centroids are inlined
    (pure seed function — no pinned file needed), the seeded fixture
    (base corpus + exact copies of every 10th vector + one-component
    perturbations of every 17th) is rebuilt in SQL with the same
    double arithmetic, cell = argmax dot (ties to the larger cell),
    and the drop rule (any lower-id same-cell neighbor with cosine >=
    tau) is a within-cell pair join.  The tau margin is structural:
    seeded dup pairs score ~1.0 / ~0.999 and the densest organic pair
    in the testdata scores ~0.55 (measured at every SF), so an
    engine ulp can never flip an admission."""
    from sstable_hadoop_spark.operators.similarity import _hyperplanes

    n_centroids, dim = 16, 64
    cents = _hyperplanes(dim, n_centroids, seed="ivf")
    dot_cols = ",\n           ".join(
        "(" + " + ".join(f"e[{d + 1}]*{cent[d]!r}" for d in range(dim))
        + f") AS d_{c}"
        for c, cent in enumerate(cents))
    cells = ", ".join("{'d': d_%d, 'cell': %d}" % (c, c)
                      for c in range(n_centroids))
    return f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
seeded AS (
    SELECT vec_id, e FROM base
    UNION ALL
    SELECT vec_id + 100000, e FROM base WHERE vec_id % 10 = 0
    UNION ALL
    SELECT vec_id + 200000, list_concat([e[1] + 0.05], e[2:{dim}])
    FROM base WHERE vec_id % 17 = 0
),
dots AS (
    SELECT vec_id,
           {dot_cols}
    FROM seeded
),
ranked AS (
    SELECT vec_id, u.cell,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY u.d DESC, u.cell DESC) AS cell_rk
    FROM dots, unnest([{cells}]) AS t(u)
),
cellof AS (SELECT vec_id, cell FROM ranked WHERE cell_rk = 1),
drops AS (
    SELECT DISTINCT cb.vec_id AS dead
    FROM cellof ca
    JOIN cellof cb ON ca.cell = cb.cell AND ca.vec_id < cb.vec_id
    JOIN seeded a ON a.vec_id = ca.vec_id
    JOIN seeded b ON b.vec_id = cb.vec_id
    WHERE list_cosine_similarity(a.e, b.e) >= {_SEMDEDUP_TAU}
)
SELECT s.vec_id, CAST(c.cell AS INTEGER) AS cell,
       CAST(CASE WHEN d.dead IS NULL THEN 1 ELSE 0 END AS INTEGER)
           AS kept
FROM seeded s
JOIN cellof c USING (vec_id)
LEFT JOIN drops d ON d.dead = s.vec_id
"""


@query("dedup_semantic", oracle=_dedup_semantic_oracle())
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2+ SemDeDup (operators/dedup.py semantic_dedup): embedding-
    space near-dup removal — IVF-cell clustering, then within-cell
    cosine >= tau drops everything but the lowest-id representative.
    The corpus has no organic near-dups (max pair cosine ~0.55), so
    the fixture seeds exact copies (cos ~1.0) of every 10th vector and
    one-component perturbations (cos ~0.999) of every 17th; the audit
    view (flag_only) certifies keeps AND drops in one row set."""
    from sstable_hadoop_spark.operators.dedup import semantic_dedup

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding",
                              lambda x: x.cast("double")).alias("embedding"))
    dup = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    near = emb.filter(F.col("vec_id") % 17 == 0).select(
        (F.col("vec_id") + 200000).alias("vec_id"),
        F.concat(F.array(F.element_at("embedding", 1) + F.lit(0.05)),
                 F.slice("embedding", 2, 63)).alias("embedding"))
    seeded = emb.unionByName(dup).unionByName(near)
    return (semantic_dedup(seeded, tau=_SEMDEDUP_TAU, flag_only=True)
            .select("vec_id", F.col("cell").cast("int").alias("cell"),
                    F.col("kept").cast("int").alias("kept")))


@query("text_lm_scores", oracle=r"""
WITH t AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\s+'),
                       x -> x <> '') AS toks
    FROM documents
),
dg AS (
    SELECT doc_id, g.ctx AS ctx, g.w AS w
    FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(toks) >= 2
                      THEN [{'ctx': toks[i], 'w': toks[i + 1]}
                            FOR i IN range(1, len(toks))]
                      ELSE CAST([] AS STRUCT(ctx VARCHAR, w VARCHAR)[])
                      END) AS g
        FROM t)
),
v AS (
    SELECT count(DISTINCT tok) AS vn
    FROM (SELECT unnest(toks) AS tok FROM t WHERE doc_id % 2 = 0)
),
counts AS (
    SELECT ctx, w, count(*) AS c FROM dg
    WHERE doc_id % 2 = 0 GROUP BY ctx, w
),
ctxtot AS (SELECT ctx, sum(c) AS ct FROM counts GROUP BY ctx),
lp AS (
    SELECT counts.ctx, counts.w,
           CAST(floor(ln((c + 1.0) / (ct + vn)) * 1000000.0) AS BIGINT)
               AS lp
    FROM counts JOIN ctxtot USING (ctx) CROSS JOIN v
),
lp0 AS (
    SELECT ctx,
           CAST(floor(ln(1.0 / (ct + vn)) * 1000000.0) AS BIGINT) AS lp0
    FROM ctxtot CROSS JOIN v
),
scored AS (
    SELECT dg.doc_id,
           coalesce(lp.lp, lp0.lp0,
                    (SELECT CAST(floor(ln(1.0 / vn) * 1000000.0)
                                 AS BIGINT) FROM v)) AS lp
    FROM dg
    LEFT JOIN lp ON lp.ctx = dg.ctx AND lp.w = dg.w
    LEFT JOIN lp0 ON lp0.ctx = dg.ctx
)
SELECT d.doc_id,
       CAST(coalesce(s.n, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(s.tot, 0) AS BIGINT) AS lm_micro_nats
FROM documents d
LEFT JOIN (SELECT doc_id, count(*) AS n, sum(lp) AS tot
           FROM scored GROUP BY doc_id) s USING (doc_id)
""")
def text_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4+ statistical-LM quality scoring (operators/text.py
    ngram_lm_scores): every doc scored by its bigrams' add-one-smoothed
    log-prob under a count LM trained on the even-doc_id half of the
    corpus — reference-corpus mode, so the oracle certifies all three
    probability paths (seen pair, unseen pair with seen context,
    fully-unseen context).  Totals are integer micro-nats (each
    distinct pair's log-prob quantized once), so the cross-engine
    compare is exact-integer, not float."""
    from sstable_hadoop_spark.operators.text import ngram_lm_scores

    docs = load(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    return ngram_lm_scores(docs, lm_df=ref)


_BLOOM_M, _BLOOM_K = 1 << 17, 5


@query("corpus_decontaminate_bloom", oracle=f"""
WITH t AS (
    SELECT doc_id, lang, source, n_chars, lower(text) AS lt,
           regexp_split_to_array(lower(text), '\\s+') AS toks
    FROM documents
),
g AS (
    SELECT doc_id, lang, source, n_chars,
           CASE WHEN len(toks) >= {_DECON_N}
           THEN [md5(array_to_string(toks[i:i+{_DECON_N - 1}], ' '))
                 FOR i IN range(1, len(toks) - {_DECON_N - 2})]
           ELSE [md5(lt)] END AS grams
    FROM t
),
bh AS (
    SELECT CAST(('0x' || substr(gram, 1, 15)) AS BIGINT) % {_BLOOM_M}
               AS h1,
           CAST(('0x' || substr(gram, 17, 15)) AS BIGINT) % {_BLOOM_M}
               AS h2
    FROM (SELECT DISTINCT unnest(grams) AS gram FROM g
          WHERE doc_id % 97 = 0)
),
bl AS (
    SELECT list(DISTINCT pos) AS l
    FROM (SELECT unnest([(h1 + i * h2) % {_BLOOM_M}
                         FOR i IN range({_BLOOM_K})]) AS pos FROM bh)
),
hits AS (
    SELECT doc_id,
           len(list_filter(grams, gr -> list_has_all(bl.l,
               [(CAST(('0x' || substr(gr, 1, 15)) AS BIGINT) % {_BLOOM_M}
                 + i * (CAST(('0x' || substr(gr, 17, 15)) AS BIGINT)
                        % {_BLOOM_M})) % {_BLOOM_M}
                FOR i IN range({_BLOOM_K})]))) AS h
    FROM g CROSS JOIN bl
)
SELECT g.doc_id, g.lang, g.source, g.n_chars
FROM g JOIN hits USING (doc_id)
WHERE hits.h <= 0
""")
def corpus_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4+ bloom-filter decontamination (operators/corpus.py
    decontaminate_bloom) — the fixed-size-filter variant of
    `corpus_decontaminate`, same eval set (doc_id % 97): benchmark
    8-grams compress into a 2^17-bit double-hashed bloom and the
    corpus-side membership test is a scan-local codegen predicate —
    zero joins, zero shuffles (vs the exact path's broadcast semi-join
    + count agg).  The oracle rebuilds the bitmap as a set-bit
    position list and replays the same BIGINT position arithmetic, so
    any false positive the bloom drops is reproduced exactly — the
    one-sided (no-false-negative) error is certified, not assumed."""
    from sstable_hadoop_spark.operators.corpus import decontaminate_bloom

    docs = load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return decontaminate_bloom(docs, bench, n=_DECON_N,
                               m_bits=_BLOOM_M, k=_BLOOM_K).select(
        "doc_id", "lang", "source", "n_chars")


@query("corpus_contamination_scores", oracle=f"""
WITH t AS (
    SELECT doc_id, lower(text) AS lt,
           regexp_split_to_array(lower(text), '\\s+') AS toks
    FROM documents
),
g AS (
    SELECT doc_id,
           list_distinct(CASE WHEN len(toks) >= {_DECON_N}
           THEN [md5(array_to_string(toks[i:i+{_DECON_N - 1}], ' '))
                 FOR i IN range(1, len(toks) - {_DECON_N - 2})]
           ELSE [md5(lt)] END) AS grams
    FROM t
),
bg AS (
    SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0
),
e AS (
    SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS gram FROM g
)
SELECT doc_id,
       CAST(any_value(n_grams) AS INTEGER) AS n_grams,
       CAST(sum(CASE WHEN gram IN (SELECT gram FROM bg)
                THEN 1 ELSE 0 END) AS INTEGER) AS hits,
       CAST(sum(CASE WHEN gram IN (SELECT gram FROM bg)
                THEN 1 ELSE 0 END) * 10000
            // any_value(n_grams) AS INTEGER) AS overlap_bp
FROM e GROUP BY doc_id
""")
def corpus_contamination_scores(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """E4+ graded contamination report (operators/corpus.py
    contamination_scores) — same eval set as `corpus_decontaminate`
    (doc_id % 97) but instead of a binary any-hit drop it returns the
    per-doc overlap ledger: distinct 8-gram count, benchmark hits,
    and overlap in integer basis points — the GPT-3-style threshold
    knob.  Per-doc grams dedup with array_distinct BEFORE the explode
    (no (doc,gram) shuffle); benchmark grams broadcast; the only
    exchange is the final id-keyed agg.  overlap_bp is pure integer
    arithmetic ((hits*10000) DIV n_grams) so both engines hash
    identically."""
    from sstable_hadoop_spark.operators.corpus import contamination_scores

    docs = load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return contamination_scores(docs, bench, n=_DECON_N)


_BPE_MERGES = 16
_BPE_MIN_FREQ = 2


def _bpe_train_ctes(n_merges: int, min_freq: int) -> str:
    """Unrolled classic-BPE training as chained DuckDB CTEs — the
    oracle for operators/tokenizer.py.  Iterative algorithms don't fit
    a single SQL query, but a FIXED merge budget unrolls exactly: per
    merge, one pair-count agg (p), one deterministic argmax (b: count
    DESC, lhs, rhs), one merge rewrite (m) — the same per-symbol
    space-wrapped string replace the Spark side runs, so greedy
    non-overlapping semantics match bit-for-bit (see tokenizer.py
    module docstring).  MATERIALIZED is load-bearing: each m{{i}} is
    referenced twice (p{{i+1}} and m{{i+1}}); inlining would expand
    the plan 2^n."""
    parts = [f"""w AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+'))
               AS word FROM documents)
  WHERE word <> '' GROUP BY word
),
m0 AS MATERIALIZED (
  SELECT regexp_replace(word, '(.)', ' \\1 ', 'g') || ' </w> ' AS syms,
         freq FROM w
)"""]
    for i in range(1, n_merges + 1):
        parts.append(f""",
p{i} AS MATERIALIZED (
  SELECT lhs, rhs, CAST(sum(freq) AS BIGINT) AS cnt FROM (
    SELECT unnest(t[:len(t)-1]) AS lhs, unnest(t[2:]) AS rhs, freq
    FROM (SELECT string_split(trim(syms), '  ') AS t, freq
          FROM m{i - 1})
  ) GROUP BY lhs, rhs
),
b{i} AS MATERIALIZED (
  SELECT lhs, rhs, cnt FROM p{i} WHERE cnt >= {min_freq}
  ORDER BY cnt DESC, lhs ASC, rhs ASC LIMIT 1
),
m{i} AS MATERIALIZED (
  SELECT replace(syms,
      coalesce((SELECT ' ' || lhs || '  ' || rhs || ' ' FROM b{i}),
               chr(1)),
      coalesce((SELECT ' ' || lhs || rhs || ' ' FROM b{i}), chr(1)))
      AS syms,
    freq FROM m{i - 1}
)""")
    return "".join(parts)


def _bpe_train_oracle(n_merges: int, min_freq: int) -> str:
    union = "\nUNION ALL\n".join(
        f"SELECT {i} AS rank, lhs, rhs, lhs || rhs AS merged, "
        f"cnt AS pair_count FROM b{i}"
        for i in range(1, n_merges + 1))
    return (f"WITH {_bpe_train_ctes(n_merges, min_freq)}\n"
            f"SELECT * FROM (\n{union}\n) ORDER BY rank")


def _bpe_tokenize_oracle(n_merges: int, min_freq: int) -> str:
    parts = [f"WITH {_bpe_train_ctes(n_merges, min_freq)},\n"
             """d0 AS MATERIALIZED (
  SELECT doc_id, array_to_string(
      [regexp_replace(w, '(.)', ' \\1 ', 'g') || ' </w> '
       FOR w IN string_split_regex(trim(lower(text)), '\\s+')
       IF w <> ''], '') AS s
  FROM documents
)"""]
    for i in range(1, n_merges + 1):
        parts.append(f""",
d{i} AS MATERIALIZED (
  SELECT doc_id, replace(s,
      coalesce((SELECT ' ' || lhs || '  ' || rhs || ' ' FROM b{i}),
               chr(1)),
      coalesce((SELECT ' ' || lhs || rhs || ' ' FROM b{i}), chr(1)))
      AS s
  FROM d{i - 1}
)""")
    parts.append(f"""
SELECT doc_id,
       CASE WHEN trim(s) = '' THEN 0
            ELSE CAST(len(string_split(trim(s), '  ')) AS INTEGER)
       END AS n_tokens,
       array_to_string(string_split(trim(s), '  '), ' ') AS tokens_str
FROM d{n_merges}""")
    return "".join(parts)


@query("bpe_train_merges", oracle=_bpe_train_oracle(_BPE_MERGES,
                                                    _BPE_MIN_FREQ))
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4+ BPE tokenizer TRAINING (operators/tokenizer.py train_bpe) —
    classic Sennrich byte-pair encoding learned from the documents
    corpus: 16 merges at min_freq=2, returned as the ranked merge
    table (rank, lhs, rhs, merged, pair_count).  One corpus-sized
    exchange total (the word-frequency agg); every merge iteration
    runs on the vocab-sized table with a 1-row argmax collect.  The
    oracle unrolls the same 16 iterations as chained MATERIALIZED
    CTEs — pair counts, deterministic tie-breaks, and the per-symbol
    space-wrapped greedy merge replay all replicated exactly, so the
    entire training trajectory (not just the final vocab) is
    hash-certified."""
    from sstable_hadoop_spark.operators.tokenizer import train_bpe

    docs = load(spark, sf_dir, "documents")
    return train_bpe(docs, n_merges=_BPE_MERGES, min_freq=_BPE_MIN_FREQ)


@query("bpe_train_merges_local",
       oracle=_bpe_train_oracle(_BPE_MERGES, _BPE_MIN_FREQ))
def bpe_train_merges_local(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """E4+ BPE training, PRODUCTION path (r10, VERDICT r9 #4 —
    operators/tokenizer.py train_bpe_local): ONE Spark job collapses
    the corpus to (word, freq); the merge loop folds driver-local
    over that vocab-sized table with an indexed lazy-max heap (the
    subword-nmt/HuggingFace design), so 32k merges are seconds of
    driver CPU instead of 32k sequential Spark jobs.  Must produce
    the IDENTICAL trajectory as `bpe_train_merges` — certified by
    the same unrolled-CTE oracle, and pinned against the per-job
    trainer in pytest."""
    from sstable_hadoop_spark.operators.tokenizer import train_bpe_local

    docs = load(spark, sf_dir, "documents")
    return train_bpe_local(docs, n_merges=_BPE_MERGES,
                           min_freq=_BPE_MIN_FREQ)


@query("bpe_tokenize_docs", oracle=_bpe_tokenize_oracle(_BPE_MERGES,
                                                        _BPE_MIN_FREQ))
def bpe_tokenize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4+ BPE tokenization (operators/tokenizer.py bpe_tokenize) —
    train 16 merges on the documents corpus, then tokenize that
    corpus with the learned table: per doc, the token count and the
    space-joined token string.  The apply path is fully declarative
    (a rank-ordered chain of JVM ``replace`` calls over the doc's
    spaced symbol string — zero Python, zero shuffle); the
    Arrow-batched ``bpe_tokenize_fast`` is pinned token-identical in
    pytest.  Oracle = the unrolled training CTEs + the same 16
    replace replays over each document."""
    from sstable_hadoop_spark.operators.tokenizer import (
        bpe_tokenize,
        train_bpe,
    )

    docs = load(spark, sf_dir, "documents")
    merges = train_bpe(docs, n_merges=_BPE_MERGES,
                       min_freq=_BPE_MIN_FREQ)
    toks = bpe_tokenize(docs, merges)
    return toks.select(
        "doc_id",
        F.col("n_tokens"),
        F.array_join("tokens", " ").alias("tokens_str"))


# Inverted-index probe terms: one rare ("dup", ~26 occurrences at the
# driver SF) and one common ("join", ~950) so the AND result is
# selective and both partition-pruned buckets are exercised.
_INV_TERMS = ("dup", "join")
_INV_BUCKETS = 16


def _materialize_inverted_index(spark: SparkSession, sf_dir: str) -> str:
    """Write the postings index (hive-partitioned by term-hash bucket
    + n_buckets sidecar) — idempotent per sf_dir."""
    import hashlib

    from sstable_hadoop_spark.operators.inverted import (
        write_inverted_index,
    )

    def build(out: str) -> None:
        write_inverted_index(load(spark, sf_dir, "documents"), out,
                             n_buckets=_INV_BUCKETS, positions=True)

    # tag v3: postings gained positions (phrase search) — bump on any
    # further layout change or stale caches serve the old schema
    tag = "inverted_idx3_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    return _idempotent_tmpdir(tag, build)


@query("corpus_inverted_search", oracle=f"""
WITH t AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\\s+'),
                       x -> x <> '') AS toks
    FROM documents
),
c AS (
    SELECT doc_id,
           len(list_filter(toks, x -> x = '{_INV_TERMS[0]}')) AS c1,
           len(list_filter(toks, x -> x = '{_INV_TERMS[1]}')) AS c2
    FROM t
)
SELECT doc_id, CAST(2 AS BIGINT) AS n_terms_hit,
       CAST(c1 + c2 AS BIGINT) AS total_tf
FROM c WHERE c1 > 0 AND c2 > 0
""")
def corpus_inverted_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-term retrieval over a stored inverted index
    (operators/inverted.py): AND-search for {_INV_TERMS} against the
    postings table built from documents — the probe reads ONLY the
    query terms' _b=N partition directories (plan-time partition
    pruning, pytest-asserted), so per-query I/O is n_terms/n_buckets
    of the index at any corpus size.  Oracle re-derives the hit set +
    summed term frequency from the raw corpus in SQL, certifying the
    index round-trip end-to-end."""
    from sstable_hadoop_spark.operators.inverted import search_terms

    path = _materialize_inverted_index(spark, sf_dir)
    return search_terms(spark, path, list(_INV_TERMS), mode="and")


_BM25_TERMS = ("dup", "join", "scan")  # rare (+idf) and near-universal
_BM25_K1, _BM25_B, _BM25_LIMIT = 1200, 750, 10


def _bm25_oracle() -> str:
    legs = "\n   UNION ALL\n".join(
        f"   SELECT doc_id, dl, '{t}' AS term,"
        f" len(list_filter(toks, x -> x = '{t}')) AS tf FROM d"
        for t in _BM25_TERMS)
    return f"""
WITH t AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                                             '\\s+'),
                       x -> x <> '') AS toks
    FROM documents
),
d AS (SELECT doc_id, toks, len(toks) AS dl FROM t),
tot AS (SELECT count(*) AS n, sum(dl) AS tt FROM d),
m AS (SELECT * FROM (
{legs}) WHERE tf > 0),
dfs AS (SELECT term, count(*) AS df FROM m GROUP BY term),
idf AS (
    SELECT term,
           CAST(floor(ln((2*n - 2*df + 1.0) / (2*df + 1.0))
                      * 1000000.0) AS BIGINT) AS idf
    FROM dfs CROSS JOIN tot
),
sc AS (
    SELECT m.doc_id, m.term,
           (idf * tf * ({_BM25_K1} + 1000))
           // (tf * 1000 + ({_BM25_K1} * ((1000 - {_BM25_B})
               + CAST(({_BM25_B} * CAST(dl AS HUGEINT) * n) // tt
                      AS BIGINT))) // 1000) AS contrib
    FROM m JOIN idf USING (term) CROSS JOIN tot
)
SELECT doc_id, CAST(count(DISTINCT term) AS BIGINT) AS n_terms_hit,
       CAST(sum(contrib) AS BIGINT) AS score_micro
FROM sc GROUP BY doc_id
ORDER BY score_micro DESC, doc_id LIMIT {_BM25_LIMIT}
"""


@query("corpus_bm25_topk", oracle=_bm25_oracle())
def corpus_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-ranked retrieval (operators/inverted.py bm25_search) over
    the stored inverted index: top-10 documents for a 3-term query
    mixing a rare term (positive idf) with near-universal ones
    (negative idf, classic BM25 kept as defined).  Scores are EXACT
    integer micro-units — idf quantized once via the trusted
    floor(ln)*1e6 pattern, every other step integer multiply/div
    (truncation identical in Spark and DuckDB) — so the oracle
    re-derives the full ranking from the raw corpus bit-for-bit.
    Probe cost: the partition-pruned postings scan only (df/tf/dl all
    come from probed rows; dl is denormalized so there is no
    doc-length join), one result-sized rollup, TakeOrdered top-k."""
    from sstable_hadoop_spark.operators.inverted import bm25_search

    path = _materialize_inverted_index(spark, sf_dir)
    return bm25_search(spark, path, list(_BM25_TERMS),
                       k1_milli=_BM25_K1, b_milli=_BM25_B,
                       limit=_BM25_LIMIT)


#: Hybrid-retrieval fusion params: each ranker contributes its top
#: _RRF_POOL, fused with the RRF paper's k=60, final top _RRF_LIMIT.
_RRF_POOL, _RRF_K, _RRF_LIMIT = 20, 60, 10


def _rrf_oracle() -> str:
    legs = "\n   UNION ALL\n".join(
        f"   SELECT doc_id, dl, '{t}' AS term,"
        f" len(list_filter(toks, x -> x = '{t}')) AS tf FROM d"
        for t in _BM25_TERMS)
    qlist = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    nq = len(set(_BM25_TERMS))
    return f"""
WITH t AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                                             '\\s+'),
                       x -> x <> '') AS toks
    FROM documents
),
d AS (SELECT doc_id, toks, len(toks) AS dl FROM t),
tot AS (SELECT count(*) AS n, sum(dl) AS tt FROM d),
m AS (SELECT * FROM (
{legs}) WHERE tf > 0),
dfs AS (SELECT term, count(*) AS df FROM m GROUP BY term),
idf AS (
    SELECT term,
           CAST(floor(ln((2*n - 2*df + 1.0) / (2*df + 1.0))
                      * 1000000.0) AS BIGINT) AS idf
    FROM dfs CROSS JOIN tot
),
sc AS (
    SELECT m.doc_id, m.term,
           (idf * tf * ({_BM25_K1} + 1000))
           // (tf * 1000 + ({_BM25_K1} * ((1000 - {_BM25_B})
               + CAST(({_BM25_B} * CAST(dl AS HUGEINT) * n) // tt
                      AS BIGINT))) // 1000) AS contrib
    FROM m JOIN idf USING (term) CROSS JOIN tot
),
bm AS (
    SELECT doc_id, sum(contrib) AS score FROM sc GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT {_RRF_POOL}
),
ra AS (SELECT doc_id,
              row_number() OVER (ORDER BY score DESC, doc_id) AS r
       FROM bm),
jd AS (SELECT doc_id, list_distinct(toks) AS dt FROM t),
js AS (
    SELECT doc_id,
           len(list_filter(dt,
               x -> list_contains([{qlist}], x))) AS inter,
           len(dt) AS nd
    FROM jd
),
jv AS (
    SELECT doc_id,
           CAST(inter * 1000000 // (nd + {nq} - inter) AS BIGINT)
               AS sim
    FROM js WHERE inter > 0
),
jb AS (SELECT doc_id, sim FROM jv
       ORDER BY sim DESC, doc_id LIMIT {_RRF_POOL}),
rb AS (SELECT doc_id,
              row_number() OVER (ORDER BY sim DESC, doc_id) AS r
       FROM jb),
u AS (SELECT doc_id, r FROM ra UNION ALL SELECT doc_id, r FROM rb),
f AS (
    SELECT doc_id,
           CAST(sum(1000000 // ({_RRF_K} + r)) AS BIGINT) AS rrf_micro
    FROM u GROUP BY doc_id
),
top AS (
    SELECT doc_id, rrf_micro,
           CAST(row_number() OVER (ORDER BY rrf_micro DESC, doc_id)
                AS INT) AS fused_rank
    FROM f ORDER BY rrf_micro DESC, doc_id LIMIT {_RRF_LIMIT}
)
SELECT top.doc_id, top.rrf_micro, top.fused_rank,
       CAST(coalesce(ra.r, 0) AS INT) AS rank_bm25,
       CAST(coalesce(rb.r, 0) AS INT) AS rank_jaccard
FROM top LEFT JOIN ra ON ra.doc_id = top.doc_id
         LEFT JOIN rb ON rb.doc_id = top.doc_id
"""


@query("corpus_rrf_hybrid_search", oracle=_rrf_oracle())
def corpus_rrf_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion (operators/
    retrieval.py rrf_fuse / rank_from_scores): the BM25 top-20 from
    the partition-pruned inverted index fused with a token-set-Jaccard
    fuzzy ranking of the same 3-term query — two rankers with
    incompatible score scales combined rank-only, k=60 per the RRF
    paper.  Every step is exact integers (BM25 micro-scores,
    Jaccard = inter * 1e6 div union, contribution = 1e6 div (k+rank)),
    so the oracle re-derives both rankings from the raw corpus and
    reproduces fused scores, order, and the per-system rank columns
    (0 = absent from that ranker's pool) bit-for-bit.  Scale: the
    rankers do the corpus-sized work (pruned postings probe; one
    tokenize scan); the fusion itself touches <= 2 * 20 rows."""
    from sstable_hadoop_spark.operators.inverted import bm25_search
    from sstable_hadoop_spark.operators.retrieval import (
        rank_from_scores,
        rrf_fuse,
    )
    from sstable_hadoop_spark.operators.text import clean_tokens

    path = _materialize_inverted_index(spark, sf_dir)
    bm = bm25_search(spark, path, list(_BM25_TERMS),
                     k1_milli=_BM25_K1, b_milli=_BM25_B,
                     limit=_RRF_POOL)
    rank_a = rank_from_scores(bm, score_col="score_micro",
                              limit=_RRF_POOL)
    docs = load(spark, sf_dir, "documents")
    qt = F.array(*[F.lit(t) for t in sorted(set(_BM25_TERMS))])
    nq = len(set(_BM25_TERMS))
    jac = (docs.select(
               "doc_id",
               F.array_distinct(
                   clean_tokens(F.coalesce(F.col("text"), F.lit(""))))
                .alias("dt"))
           .select("doc_id",
                   F.size(F.array_intersect(F.col("dt"), qt))
                    .cast("long").alias("inter"),
                   F.size("dt").cast("long").alias("nd"))
           .where(F.col("inter") > 0)
           .select("doc_id",
                   F.expr(f"CAST(inter * 1000000 div (nd + {nq} - inter) "
                          "AS BIGINT)").alias("sim_micro")))
    rank_b = rank_from_scores(jac, score_col="sim_micro",
                              limit=_RRF_POOL)
    fused = rrf_fuse([rank_a, rank_b], k=_RRF_K, limit=_RRF_LIMIT)
    return (fused
            .join(rank_a.withColumnRenamed("rank", "rank_bm25"),
                  "doc_id", "left")
            .join(rank_b.withColumnRenamed("rank", "rank_jaccard"),
                  "doc_id", "left")
            .select("doc_id", "rrf_micro", "fused_rank",
                    F.coalesce("rank_bm25", F.lit(0)).cast("int")
                     .alias("rank_bm25"),
                    F.coalesce("rank_jaccard", F.lit(0)).cast("int")
                     .alias("rank_jaccard")))


#: Messy synthetic URLs for the canonicalizer row: case salad,
#: default + explicit ports, tracking params, unsorted params,
#: fragments, missing paths, percent-encoded unreserved characters,
#: lowercase-hex escapes, dot-segments, and a schemeless fall-through.
_MESSY_URL_SQL = """CASE doc_id % 8
  WHEN 0 THEN 'HTTP://WWW.Site' || (doc_id % 37)
       || '.COM:80/Page/' || doc_id || '?utm_source=x&b=2&a=1#frag'
  WHEN 1 THEN 'https://Site' || (doc_id % 37)
       || '.com:443/?gclid=' || doc_id
  WHEN 2 THEN 'https://site' || (doc_id % 37)
       || '.com:8443/p/' || doc_id || '?z=1&y=2&utm_c=3'
  WHEN 3 THEN 'http://site' || (doc_id % 37) || '.com'
  WHEN 4 THEN 'http://user' || doc_id || ':pw@Site' || (doc_id % 37)
       || '.com/acct'
  WHEN 5 THEN 'https://site' || (doc_id % 37)
       || '.com/%7euser/f%2Dile%2e?n=%41%42' || doc_id || '&m=%c3%a9'
  WHEN 6 THEN 'https://site' || (doc_id % 37)
       || '.com/a/b/../c/./d/%2E%2E/e/' || doc_id
  ELSE 'relative/path?a=' || doc_id
END"""


def _url_canon_oracle() -> str:
    """The canonicalizer chain rendered for DuckDB — the percent and
    dot-segment stages come from the SAME spec lists the Spark chain
    is built from (corpus.pct_normalize_sql / dot_segments_sql), so
    the two engines cannot drift."""
    from sstable_hadoop_spark.operators.corpus import (
        dot_segments_sql,
        pct_normalize_sql,
    )

    return f"""
WITH u AS (
    SELECT doc_id, {_MESSY_URL_SQL} AS url FROM documents
),
c0 AS (SELECT doc_id, url,
              {pct_normalize_sql('url')} AS pu FROM u),
c1 AS (SELECT doc_id, url,
              regexp_replace(pu, '#.*', '') AS nofrag FROM c0),
c2 AS (SELECT *,
              regexp_extract(nofrag,
                  '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) AS scheme_raw,
              lower(regexp_extract(nofrag,
                  '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme_l,
              regexp_replace(nofrag,
                  '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
       FROM c1),
c3 AS (SELECT *,
              regexp_replace(regexp_extract(rest, '^([^/?#]*)', 1),
                             '^[^/?#@]*@', '') AS hostport,
              regexp_replace(rest, '^[^/?#]*', '') AS pathq FROM c2),
c4 AS (SELECT *,
              lower(regexp_extract(hostport, '^([^:]*)', 1)) AS host,
              regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
              regexp_extract(pathq, '^([^?]*)', 1) AS path,
              regexp_extract(pathq, '\\?(.*)$', 1) AS query FROM c3),
c5 AS (SELECT *,
              CASE WHEN port = '' OR (scheme_l = 'http' AND port = '80')
                        OR (scheme_l = 'https' AND port = '443')
                   THEN '' ELSE ':' || port END AS port_norm,
              CASE WHEN path = '' THEN '/' ELSE path END AS path_norm0,
              coalesce(array_to_string(list_sort(list_filter(
                  regexp_split_to_array(query, '&'),
                  p -> p <> '' AND NOT regexp_matches(p,
                      '^(utm_[^=]*|gclid|fbclid|msclkid|ref)='))),
                  '&'), '') AS q_norm
       FROM c4),
c6 AS (SELECT *,
              {dot_segments_sql('path_norm0')} AS path_norm FROM c5)
SELECT doc_id, url,
       CASE WHEN scheme_raw = '' THEN url
            ELSE scheme_l || '://' || host || port_norm || path_norm
                 || CASE WHEN q_norm = '' THEN ''
                    ELSE '?' || q_norm END
       END AS canonical_url
FROM c6
"""


@query("corpus_url_canonicalize", oracle=_url_canon_oracle())
def corpus_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (operators/corpus.py canonicalize_url) —
    the C4/CommonCrawl "same page, different link" dedup key: drop
    fragments and tracking params, lowercase scheme/host, strip
    default ports, normalize empty paths, SORT surviving query
    params, normalize percent-encoding (uppercase hex, decode
    unreserved — r10) and resolve path dot-segments (r10);
    schemeless inputs fall through unchanged.  One chained codegen
    expression in the Java-regex/RE2 common subset — the oracle runs
    the IDENTICAL chain in DuckDB over the same synthesized messy
    URLs (eight shapes covering every rule, incl. a userinfo
    credential drop, ``%7e``/``%2D``/``%2e`` unreserved escapes,
    lowercase non-unreserved hex, and a ``%2E%2E``-turned-``..``
    dot-segment)."""
    from sstable_hadoop_spark.operators.corpus import canonicalize_url

    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.expr(_MESSY_URL_SQL).alias("url")
    ).select("doc_id", "url",
             canonicalize_url("url").alias("canonical_url"))


_PHRASE = ("data", "row", "column")  # a consecutive trigram present
# at EVERY testdata SF (0.001/0.01/0.1) — selective but never empty


@query("corpus_phrase_search", oracle=f"""
WITH t AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\\s+'),
                       x -> x <> '') AS toks
    FROM documents
),
s AS (
    SELECT doc_id,
           len([i FOR i IN range(1, len(toks) - {len(_PHRASE) - 2})
                IF {" AND ".join(
                    f"toks[i + {j}] = '{t}'"
                    for j, t in enumerate(_PHRASE))}]) AS n
    FROM t
)
SELECT doc_id, CAST(n AS BIGINT) AS n_occurrences
FROM s WHERE n > 0
""")
def corpus_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase search (operators/inverted.py phrase_search) over
    the positional inverted index: documents containing the
    consecutive trigram ("data", "row", "column") with counts — the
    verbatim-quote / contamination primitive (AND-search finds
    co-occurrence; this certifies ADJACENCY).  The probe reads only
    the phrase terms' partition-pruned buckets and checks adjacency
    in a pure-codegen position-array fold; the oracle re-derives
    occurrences from the raw corpus with a positional list
    comprehension, so the index round-trip incl. overlapping matches
    is certified end-to-end."""
    from sstable_hadoop_spark.operators.inverted import phrase_search

    path = _materialize_inverted_index(spark, sf_dir)
    return phrase_search(spark, path, list(_PHRASE))


# Count-min sketch certification: deliberately TINY width (16 cells a
# row over a 31-word vocabulary) so every row of the sketch carries
# collisions and the report's one-sided error (est >= exact, over_bp
# quantifying the collision inflation) is exercised, not vacuous.
_CMS_K, _CMS_D, _CMS_W = 20, 4, 16


@query("text_cms_heavy_hitters", oracle=f"""
WITH t AS (
    SELECT list_filter(regexp_split_to_array(lower(text), '\\s+'),
                       x -> x <> '') AS toks
    FROM documents
),
tok AS (SELECT unnest(toks) AS w FROM t),
exact AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
hh AS (
    SELECT w, c,
           CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % {_CMS_W}
               AS h1,
           CAST(('0x' || substr(md5(w), 17, 15)) AS BIGINT) % {_CMS_W}
               AS h2
    FROM exact
),
probes AS (
    SELECT w, c, p.r AS r, p.pos AS pos
    FROM (SELECT w, c,
                 unnest([{{'r': i, 'pos': (h1 + i * h2) % {_CMS_W}}}
                         FOR i IN range({_CMS_D})]) AS p
          FROM hh)
),
sketch AS (SELECT r, pos, sum(c) AS sc FROM probes GROUP BY r, pos),
topk AS (SELECT w, c FROM exact ORDER BY c DESC, w LIMIT {_CMS_K}),
est AS (
    SELECT p.w AS w, min(coalesce(s.sc, 0)) AS est_c
    FROM probes p JOIN topk ON topk.w = p.w
    LEFT JOIN sketch s ON s.r = p.r AND s.pos = p.pos
    GROUP BY p.w
)
SELECT topk.w AS word, CAST(topk.c AS BIGINT) AS exact_c,
       CAST(est.est_c AS BIGINT) AS est_c,
       CAST((est.est_c - topk.c) * 10000 // topk.c AS BIGINT)
           AS over_bp
FROM topk JOIN est ON est.w = topk.w
""")
def text_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch certification (operators/sketch.py
    cms_topk_report): the corpus's exact top-20 tokens side-by-side
    with their estimates from a 4x16 double-hashed count-min sketch —
    small enough that every sketch row carries collisions, so the
    report certifies the one-sided error (est_c >= exact_c) and its
    magnitude (over_bp) on real collisions.  Positions are the same
    BIGINT md5 double-hash arithmetic as the bloom decontaminator, so
    the oracle rebuilds the sketch cell-for-cell; counters and the
    basis-point math are integers — exact under any partitioning.
    Production callers use cms_build/cms_estimate alone (depth x width
    counters regardless of corpus size, cell-wise mergeable across
    shards/days); the exact side here is the certification harness."""
    from sstable_hadoop_spark.operators.sketch import cms_topk_report

    docs = load(spark, sf_dir, "documents")
    return cms_topk_report(docs, k=_CMS_K, depth=_CMS_D, width=_CMS_W)


# HLL certification params: p=8 (256 registers) over event_id —
# ~10k distinct at the driver SF, comfortably in the raw-estimator
# regime (n >> 2.5m).  The alpha constant is quantized once in
# Python (sketch.hll_alpha_micro) and injected into BOTH engines.
_HLL_P = 8


def _hll_oracle(p: int) -> str:
    from sstable_hadoop_spark.operators.sketch import hll_alpha_micro

    m = 1 << p
    rmax = 61 - p
    a_num = hll_alpha_micro(m) * m * m * (1 << 62)
    two62 = str(1 << 62)
    return f"""
WITH h AS (
    SELECT CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
                AS BIGINT) AS h
    FROM events WHERE event_id IS NOT NULL
),
pr AS (SELECT h % {m} AS bucket, h // {m} AS rem FROM h),
rg AS (
    SELECT bucket,
           max(CASE WHEN rem = 0 THEN {rmax}
               ELSE {rmax} - length(bin(rem)) END) AS rho
    FROM pr GROUP BY bucket
),
s AS (
    SELECT sum(CAST(1 AS HUGEINT) << (62 - rho)) AS sp,
           count(*) AS cnt
    FROM rg
),
e AS (
    SELECT CASE WHEN cnt = 0 THEN CAST(0 AS BIGINT)
           ELSE CAST(CAST('{a_num}' AS HUGEINT)
                // ((coalesce(sp, 0)
                     + ({m} - cnt) * CAST('{two62}' AS HUGEINT))
                    * 1000000) AS BIGINT) END AS est_distinct
    FROM s
),
x AS (
    SELECT CAST(count(DISTINCT event_id) AS BIGINT) AS exact_distinct
    FROM events WHERE event_id IS NOT NULL
)
SELECT x.exact_distinct, e.est_distinct,
       CASE WHEN x.exact_distinct = 0 THEN CAST(0 AS BIGINT)
       ELSE CAST((e.est_distinct - x.exact_distinct) * 10000
                 // x.exact_distinct AS BIGINT) END AS err_bp
FROM x, e
"""


#: Upsampling recipe: src1's budget is ~2.8x its corpus tokens (two
#: full epochs + a partial), src2's is ~0.65x (partial only) — both
#: regimes of mixture_epochs exercised in one row.
_EPOCH_BUDGETS = {"src1": 4000, "src2": 900}
_EPOCH_SHARDS = 4


@query("corpus_mixture_epochs", oracle=f"""
WITH base AS (
    SELECT doc_id AS id, source,
           CAST(CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)),
                                     1, 8)) AS UBIGINT)
                % {_EPOCH_SHARDS} AS INT)                    AS shard,
           CAST(len(regexp_split_to_array(lower(text), '\\s+'))
                AS BIGINT)                                   AS n_tokens,
           substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8) AS pri,
           CAST(CASE source WHEN 'src1' THEN {_EPOCH_BUDGETS["src1"]}
                WHEN 'src2' THEN {_EPOCH_BUDGETS["src2"]}
                ELSE NULL END AS BIGINT)                     AS budget
    FROM documents
    WHERE source IN ('src1', 'src2')
), cum AS (
    SELECT id, source, shard, n_tokens, pri,
           CAST(SUM(n_tokens) OVER (PARTITION BY source, shard
                                    ORDER BY pri, id
                                    ROWS UNBOUNDED PRECEDING)
                AS BIGINT)                                   AS cum_tokens,
           budget // {_EPOCH_SHARDS}
               + CASE WHEN shard < budget % {_EPOCH_SHARDS}
                      THEN 1 ELSE 0 END                      AS sb
    FROM base
), tot AS (
    SELECT source, shard, CAST(sum(n_tokens) AS BIGINT) AS st
    FROM base GROUP BY source, shard
), j AS (
    SELECT cum.*, tot.st, cum.sb // tot.st AS fullep,
           cum.sb % tot.st AS rem
    FROM cum JOIN tot USING (source, shard)
    WHERE tot.st > 0
)
SELECT id, source, shard, n_tokens, CAST(e AS INT) AS epoch
FROM (SELECT *, unnest(range(fullep + 1)) AS e FROM j)
WHERE e < fullep OR cum_tokens <= rem
""")
def corpus_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4+ mixture construction WITH upsampling (operators/corpus.py
    mixture_epochs): src1's budget is ~2.8x its corpus (two whole
    epochs + a deterministic md5-priority partial), src2's ~0.65x
    (partial only — the mixture_sample regime), so one row certifies
    whole-epoch repetition, the partial prefix, and the downsampling
    degenerate case together.  Same shard split / priority order /
    token definition as the mixture family; the epoch fan-out is a
    codegen explode AFTER admission, so text never multiplies through
    a shuffle."""
    from sstable_hadoop_spark.operators.corpus import mixture_epochs

    docs = load(spark, sf_dir, "documents")
    return mixture_epochs(docs, dict(_EPOCH_BUDGETS),
                          n_shards=_EPOCH_SHARDS)


_WS_K, _WS_SEED = 50, "wsample"


@query("corpus_weighted_sample", oracle=f"""
WITH w AS (
    SELECT doc_id, n_chars,
           CAST(('0x' || substr(md5('{_WS_SEED}:' || doc_id), 1, 15))
                AS BIGINT) AS h
    FROM documents
    WHERE n_chars IS NOT NULL AND n_chars > 0
),
k AS (
    SELECT doc_id, n_chars,
           CAST(floor((floor(ln((h + 1) / 1152921504606846976.0)
                             * 1000000.0) / n_chars) * 1000.0)
                AS BIGINT) AS key_milli
    FROM w
)
SELECT doc_id, n_chars, key_milli
FROM k ORDER BY key_milli DESC, doc_id LIMIT {_WS_K}
""")
def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (operators/corpus.py weighted_sample, Efraimidis-Spirakis): the
    top-50 documents by the ln(u)/w key with w = n_chars — longer
    docs proportionally likelier, the importance-sampling knob for
    quality-weighted curation.  u derives from md5(seed:doc_id)
    (run/order/cluster-stable), ln quantized once to micro-nats, the
    weight division and milli-quantization are single IEEE double
    ops — so the oracle reproduces the key table and the SELECTED SET
    bit-for-bit."""
    from sstable_hadoop_spark.operators.corpus import weighted_sample

    docs = load(spark, sf_dir, "documents")
    return weighted_sample(docs, _WS_K, "n_chars", seed=_WS_SEED)


def _stage_event_stream(spark: SparkSession, sf_dir: str) -> str:
    """events split into 4 parquet files (by event_id % 4) so a
    maxFilesPerTrigger=1 stream delivers 4 micro-batches — idempotent
    per sf_dir."""
    import hashlib
    import os

    def build(out: str) -> None:
        events = load(spark, sf_dir, "events")
        for i in range(4):
            (events.filter(F.col("event_id") % 4 == i)
                   .coalesce(1)  # fixture-scale: one file per batch
                   .write.mode("overwrite")
                   .parquet(os.path.join(out, f"chunk{i}")))

    tag = "event_stream_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    return _idempotent_tmpdir(tag, build)


@query("streaming_hll_registers", oracle=_hll_oracle(_HLL_P))
def streaming_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HLL register store (streaming/sketch_stream.py):
    events arrive in 4 micro-batches (file stream, one file per
    trigger); each batch's registers fold into the persistent store
    by max(rho) — IDEMPOTENT, so replay after a crash between publish
    and checkpoint cannot inflate the count (exactly-once by
    algebra).  The stream-maintained store must estimate exactly what
    the batch sketch over all events estimates, so this row reuses
    the batch row's oracle verbatim: exact distinct, store estimate,
    signed err_bp."""
    import glob
    import os
    import shutil
    import tempfile
    import uuid

    from sstable_hadoop_spark.streaming.sketch_stream import (
        hll_stream_to_registers,
        read_stored_registers,
    )
    from sstable_hadoop_spark.operators.sketch import hll_estimate

    src = _stage_event_stream(spark, sf_dir)
    events = load(spark, sf_dir, "events")
    work = tempfile.mkdtemp(prefix=f"hllstream_{uuid.uuid4().hex[:6]}_")
    store, ckpt = os.path.join(work, "store"), os.path.join(work, "ckpt")
    os.makedirs(store)
    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", "1")
              .parquet(os.path.join(src, "chunk*")))
    _drain_stream(spark, lambda: hll_stream_to_registers(
        stream, "event_id", store, ckpt, p=_HLL_P))
    regs = read_stored_registers(spark, store, p=_HLL_P)
    est = hll_estimate(regs, p=_HLL_P)
    exact = events.where(F.col("event_id").isNotNull()).agg(
        F.countDistinct("event_id").cast("long")
         .alias("exact_distinct"))
    out = (exact.crossJoin(est)
           .select("exact_distinct", "est_distinct",
                   F.expr("(est_distinct - exact_distinct) * 10000 "
                          "div exact_distinct")
                    .cast("long").alias("err_bp"))).localCheckpoint()
    shutil.rmtree(work, ignore_errors=True)
    return out


# Streaming count-min store params: width 64 over ~8 event types —
# ample, but the cells are rebuilt (not assumed) by the oracle, so
# collisions would be certified too if they occurred.
_SCMS_D, _SCMS_W = 4, 64


@query("streaming_cms_counts", oracle=f"""
WITH tok AS (
    SELECT event_type AS w FROM events WHERE event_type IS NOT NULL
),
exact AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
hh AS (
    SELECT w, c,
           CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % {_SCMS_W}
               AS h1,
           CAST(('0x' || substr(md5(w), 17, 15)) AS BIGINT) % {_SCMS_W}
               AS h2
    FROM exact
),
probes AS (
    SELECT w, c, p.r AS r, p.pos AS pos
    FROM (SELECT w, c,
                 unnest([{{'r': i, 'pos': (h1 + i * h2) % {_SCMS_W}}}
                         FOR i IN range({_SCMS_D})]) AS p
          FROM hh)
),
sketch AS (SELECT r, pos, sum(c) AS sc FROM probes GROUP BY r, pos),
est AS (
    SELECT p.w AS w, min(coalesce(s.sc, 0)) AS est_c
    FROM probes p
    LEFT JOIN sketch s ON s.r = p.r AND s.pos = p.pos
    GROUP BY p.w
)
SELECT exact.w AS event_type, CAST(exact.c AS BIGINT) AS exact_c,
       CAST(est.est_c AS BIGINT) AS est_c,
       CAST((est.est_c - exact.c) * 10000 // exact.c AS BIGINT)
           AS over_bp
FROM exact JOIN est ON est.w = exact.w
""")
def streaming_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min store (streaming/sketch_stream.py
    cms_stream_to_store): events arrive in 4 micro-batches; each
    batch's sketch cells SUM into the persistent store.  The sum fold
    is NOT idempotent — unlike the HLL row's max(rho) — so
    exactly-once comes from the transactional watermark instead: the
    store blob carries last_batch_id, published in the SAME atomic
    rename as the cells, and the fold skips replayed batch ids
    (pytest: a full fresh-checkpoint replay leaves the blob
    byte-identical).  Batch-additivity means the stream-maintained
    store must equal the batch sketch over all events, so the oracle
    rebuilds that sketch cell-for-cell and certifies per-event_type
    estimates against exact counts (one-sided error, over_bp)."""
    import os
    import shutil
    import tempfile
    import uuid

    from sstable_hadoop_spark.operators.sketch import cms_estimate
    from sstable_hadoop_spark.streaming.sketch_stream import (
        cms_stream_to_store,
        read_stored_cms,
    )

    src = _stage_event_stream(spark, sf_dir)
    events = load(spark, sf_dir, "events")
    work = tempfile.mkdtemp(prefix=f"cmsstream_{uuid.uuid4().hex[:6]}_")
    store, ckpt = os.path.join(work, "store"), os.path.join(work, "ckpt")
    os.makedirs(store)
    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", "1")
              .parquet(os.path.join(src, "chunk*")))
    _drain_stream(spark, lambda: cms_stream_to_store(
        stream, store, ckpt, token_col="event_type",
        depth=_SCMS_D, width=_SCMS_W))
    cells, _last = read_stored_cms(spark, store,
                                   depth=_SCMS_D, width=_SCMS_W)
    types = (events.where(F.col("event_type").isNotNull())
             .groupBy(F.col("event_type"))
             .agg(F.count("*").cast("long").alias("exact_c")))
    est = cms_estimate(cells, types.select("event_type"),
                       "event_type", depth=_SCMS_D, width=_SCMS_W)
    out = (types.join(est.withColumnRenamed("word", "event_type"),
                      "event_type")
           .select("event_type", "exact_c", "est_c",
                   F.expr("(est_c - exact_c) * 10000 div exact_c")
                    .cast("long").alias("over_bp"))).localCheckpoint()
    shutil.rmtree(work, ignore_errors=True)
    return out


#: Set-algebra predicates over event_id: even ids vs ids of users
#: divisible by 3 — ~1/6 of the id space in the intersection.
_HLL_SET_A = "event_id % 2 = 0"
_HLL_SET_B = "user_id % 3 = 0"


def _hll_set_oracle(p: int) -> str:
    from sstable_hadoop_spark.operators.sketch import hll_alpha_micro

    m = 1 << p
    rmax = 61 - p
    a_num = hll_alpha_micro(m) * m * m * (1 << 62)
    two62 = str(1 << 62)

    def est(tag: str, where: str) -> str:
        return f"""
h_{tag} AS (
    SELECT CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
                AS BIGINT) AS h
    FROM events WHERE event_id IS NOT NULL AND ({where})
),
rg_{tag} AS (
    SELECT h % {m} AS bucket,
           max(CASE WHEN h // {m} = 0 THEN {rmax}
               ELSE {rmax} - length(bin(h // {m})) END) AS rho
    FROM h_{tag} GROUP BY 1
),
e_{tag} AS (
    SELECT CASE WHEN count(*) = 0 THEN CAST(0 AS BIGINT)
           ELSE CAST(CAST('{a_num}' AS HUGEINT)
                // ((coalesce(sum(CAST(1 AS HUGEINT) << (62 - rho)), 0)
                     + ({m} - count(*)) * CAST('{two62}' AS HUGEINT))
                    * 1000000) AS BIGINT) END AS est
    FROM rg_{tag}
)"""

    return f"""
WITH {est('a', _HLL_SET_A)},
{est('b', _HLL_SET_B)},
{est('u', f'({_HLL_SET_A}) OR ({_HLL_SET_B})')},
x AS (
    SELECT CAST(count(*) AS BIGINT) AS exact_intersect FROM (
        SELECT DISTINCT event_id FROM events
        WHERE event_id IS NOT NULL AND ({_HLL_SET_A})
        INTERSECT
        SELECT DISTINCT event_id FROM events
        WHERE event_id IS NOT NULL AND ({_HLL_SET_B})
    )
)
SELECT x.exact_intersect,
       e_a.est AS est_a, e_b.est AS est_b, e_u.est AS est_union,
       CAST(e_a.est + e_b.est - e_u.est AS BIGINT) AS est_intersect,
       CASE WHEN x.exact_intersect = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST((e_a.est + e_b.est - e_u.est - x.exact_intersect)
                      * 10000 // x.exact_intersect AS BIGINT)
       END AS err_bp
FROM x, e_a, e_b, e_u
"""


@query("sketch_hll_set_algebra", oracle=_hll_set_oracle(_HLL_P))
def sketch_hll_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL set algebra (operators/sketch.py hll_set_report): union
    distincts from MERGED register tables (the cross-shard operation
    an opaque approx_count_distinct cannot do on stored sketches) and
    intersection distincts by inclusion-exclusion — signed, not
    clamped, because its error scales with the UNION size and honesty
    about that is the operator's contract.  All three estimates are
    the exact-integer HLL arithmetic, so the oracle rebuilds every
    register table and reproduces est_a/est_b/est_union/
    est_intersect/err_bp bit-for-bit alongside the exact
    intersection."""
    from sstable_hadoop_spark.operators.sketch import hll_set_report

    events = load(spark, sf_dir, "events")
    return hll_set_report(events, "event_id",
                          F.expr(_HLL_SET_A), F.expr(_HLL_SET_B),
                          p=_HLL_P)


def _hll_grouped_oracle(p: int) -> str:
    from sstable_hadoop_spark.operators.sketch import hll_alpha_micro

    m = 1 << p
    rmax = 61 - p
    a_num = hll_alpha_micro(m) * m * m * (1 << 62)
    two62 = str(1 << 62)
    return f"""
WITH h AS (
    SELECT event_type,
           CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
                AS BIGINT) AS h
    FROM events WHERE event_id IS NOT NULL
),
pr AS (SELECT event_type, h % {m} AS bucket, h // {m} AS rem FROM h),
rg AS (
    SELECT event_type, bucket,
           max(CASE WHEN rem = 0 THEN {rmax}
               ELSE {rmax} - length(bin(rem)) END) AS rho
    FROM pr GROUP BY event_type, bucket
),
s AS (
    SELECT event_type,
           sum(CAST(1 AS HUGEINT) << (62 - rho)) AS sp,
           count(*) AS cnt
    FROM rg GROUP BY event_type
),
e AS (
    SELECT event_type,
           CAST(CAST('{a_num}' AS HUGEINT)
                // ((coalesce(sp, 0)
                     + ({m} - cnt) * CAST('{two62}' AS HUGEINT))
                    * 1000000) AS BIGINT) AS est_distinct
    FROM s
),
x AS (
    SELECT event_type,
           CAST(count(DISTINCT event_id) AS BIGINT) AS exact_distinct
    FROM events WHERE event_id IS NOT NULL GROUP BY event_type
)
SELECT x.event_type, x.exact_distinct, e.est_distinct,
       CAST((e.est_distinct - x.exact_distinct) * 10000
            // x.exact_distinct AS BIGINT) AS err_bp
FROM x JOIN e USING (event_type)
"""


@query("sketch_hll_grouped_by_type", oracle=_hll_grouped_oracle(_HLL_P))
def sketch_hll_grouped_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped portable HLL (operators/sketch.py hll_build_grouped /
    hll_estimate_grouped) — the production sketch shape: distinct
    event_ids PER event_type from per-group register tables (<= 2^p
    rows per group, one (group, bucket) exchange with map-side
    partial max; same-group shards merge by max(rho) — the rollup
    that turns daily sketches into monthly distincts without raw
    data).  Same exact-integer estimator as the ungrouped row, so the
    per-group ESTIMATES are oracle-reproduced bit-for-bit alongside
    exact counts and signed err_bp."""
    from sstable_hadoop_spark.operators.sketch import (
        hll_build_grouped,
        hll_estimate_grouped,
    )

    events = load(spark, sf_dir, "events") \
        .where(F.col("event_id").isNotNull())
    regs = hll_build_grouped(events, "event_id", ["event_type"],
                             p=_HLL_P)
    est = hll_estimate_grouped(regs, ["event_type"], p=_HLL_P)
    exact = events.groupBy("event_type").agg(
        F.countDistinct("event_id").cast("long")
         .alias("exact_distinct"))
    return (exact.join(est, "event_type")
            .select("event_type", "exact_distinct", "est_distinct",
                    F.expr("(est_distinct - exact_distinct) * 10000 "
                           "div exact_distinct")
                     .cast("long").alias("err_bp")))


@query("sketch_hll_distinct_events", oracle=_hll_oracle(_HLL_P))
def sketch_hll_distinct_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable-HyperLogLog certification (operators/sketch.py
    hll_build/hll_estimate/hll_report): exact distinct event_ids
    side-by-side with the estimate from a 256-register HLL whose
    registers are a first-class, persistable, cell-wise-mergeable
    TABLE (unlike approx_count_distinct's opaque internal sketch) —
    the sketch-per-shard / merge-later shape a 100 TB multi-day
    ingest needs.  bucket/rho come from BIGINT md5 arithmetic and the
    estimate is evaluated entirely in integer/decimal ops (alpha
    quantized once to micro-units), so the oracle reproduces the
    ESTIMATE bit-for-bit, not just the exact side; err_bp is the
    signed error in basis points (both engines truncate toward
    zero)."""
    from sstable_hadoop_spark.operators.sketch import hll_report

    events = load(spark, sf_dir, "events")
    return hll_report(events, "event_id", p=_HLL_P)


_HDR_S = 7
_HDR_QS = [500, 900, 990, 999]


def _hdr_oracle(s: int, qs: list[int]) -> str:
    m = 1 << s
    q_list = ", ".join(str(q) for q in sorted(set(qs)))
    return f"""
WITH vals AS (
    SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS v
    FROM lineitem
    WHERE l_extendedprice IS NOT NULL
      AND CAST(floor(l_extendedprice * 100) AS BIGINT) >= 0
),
cells AS (
    SELECT CASE WHEN v < {m} THEN v
           ELSE (length(bin(v)) - 1 - {s}) * {m}
                + (v >> (length(bin(v)) - 1 - {s})) END AS idx,
           count(*) AS c
    FROM vals GROUP BY 1
),
walk AS (
    SELECT idx,
           SUM(c) OVER (ORDER BY idx ROWS UNBOUNDED PRECEDING) AS cum,
           (SELECT SUM(c) FROM cells) AS n
    FROM cells
),
qs AS (SELECT unnest([{q_list}]) AS q_pm),
picks AS (
    SELECT q_pm, min(idx) AS idx
    FROM qs, walk
    WHERE cum >= greatest(1, (n * q_pm + 999) // 1000)
    GROUP BY q_pm
),
est AS (
    SELECT q_pm,
           CASE WHEN idx < {m} THEN idx
                ELSE ((idx - (idx // {m} - 1) * {m}) << (idx // {m} - 1))
                     + (((CAST(1 AS BIGINT) << (idx // {m} - 1)) - 1) >> 1)
           END AS est_value
    FROM picks
),
ranked AS (
    SELECT v, row_number() OVER (ORDER BY v) AS rn FROM vals
),
nn AS (SELECT count(*) AS n FROM vals),
exact AS (
    SELECT q_pm, v AS exact_value
    FROM qs, nn, ranked
    WHERE rn = greatest(1, (n * q_pm + 999) // 1000)
)
SELECT CAST(exact.q_pm AS INT)        AS q_pm,
       CAST(exact_value AS BIGINT)    AS exact_value,
       CAST(est_value AS BIGINT)      AS est_value,
       CASE WHEN exact_value = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST((est_value - exact_value) * 10000 // exact_value
                      AS BIGINT) END  AS err_bp
FROM exact JOIN est USING (q_pm)
ORDER BY exact.q_pm
"""


def _hdr_grouped_oracle(s: int, qs: list[int]) -> str:
    m = 1 << s
    q_list = ", ".join(str(q) for q in sorted(set(qs)))
    return f"""
WITH vals AS (
    SELECT l_returnflag AS flag,
           CAST(floor(l_extendedprice * 100) AS BIGINT) AS v
    FROM lineitem
    WHERE l_extendedprice IS NOT NULL
      AND CAST(floor(l_extendedprice * 100) AS BIGINT) >= 0
),
cells AS (
    SELECT flag,
           CASE WHEN v < {m} THEN v
           ELSE (length(bin(v)) - 1 - {s}) * {m}
                + (v >> (length(bin(v)) - 1 - {s})) END AS idx,
           count(*) AS c
    FROM vals GROUP BY 1, 2
),
walk AS (
    SELECT flag, idx,
           SUM(c) OVER (PARTITION BY flag ORDER BY idx
                        ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(c) OVER (PARTITION BY flag) AS n
    FROM cells
),
qs AS (SELECT unnest([{q_list}]) AS q_pm),
picks AS (
    SELECT flag, q_pm, min(idx) AS idx
    FROM qs, walk
    WHERE cum >= greatest(1, (n * q_pm + 999) // 1000)
    GROUP BY flag, q_pm
),
est AS (
    SELECT flag, q_pm,
           CASE WHEN idx < {m} THEN idx
                ELSE ((idx - (idx // {m} - 1) * {m}) << (idx // {m} - 1))
                     + (((CAST(1 AS BIGINT) << (idx // {m} - 1)) - 1) >> 1)
           END AS est_value
    FROM picks
),
ranked AS (
    SELECT flag, v,
           row_number() OVER (PARTITION BY flag ORDER BY v) AS rn
    FROM vals
),
nn AS (SELECT flag, count(*) AS n FROM vals GROUP BY flag),
exact AS (
    SELECT ranked.flag, q_pm, v AS exact_value
    FROM qs, nn, ranked
    WHERE ranked.flag = nn.flag
      AND rn = greatest(1, (n * q_pm + 999) // 1000)
)
SELECT exact.flag                     AS l_returnflag,
       CAST(exact.q_pm AS INT)        AS q_pm,
       CAST(exact_value AS BIGINT)    AS exact_value,
       CAST(est_value AS BIGINT)      AS est_value,
       CASE WHEN exact_value = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST((est_value - exact_value) * 10000 // exact_value
                      AS BIGINT) END  AS err_bp
FROM exact JOIN est ON exact.flag = est.flag AND exact.q_pm = est.q_pm
ORDER BY l_returnflag, exact.q_pm
"""


@query("sketch_hdr_grouped_by_flag",
       oracle=_hdr_grouped_oracle(_HDR_S, [500, 990]))
def sketch_hdr_grouped_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped HDR quantile sketch (operators/sketch.py
    hdr_build_grouped / hdr_quantiles_grouped) — the production
    percentile shape ("p99 per endpoint/segment/day"): p50/p99 of
    lineitem prices in cents PER l_returnflag from per-group
    histograms (<= ~7.4k buckets per group, one (group, idx) exchange
    with map-side partial sums; same-group shard histograms roll up
    by groupBy sum — daily sketches into monthly percentiles without
    raw data).  The cumulative walk windows are PARTITIONED by group,
    so they parallelize across groups instead of serializing on one.
    Exact side = per-group integer rank as an equi join on the dense
    per-group row_number; the oracle rebuilds histogram, walk,
    midpoint, and exact rank per group, bit-identical."""
    from sstable_hadoop_spark.operators.sketch import (
        hdr_build_grouped,
        hdr_quantiles_grouped,
    )
    from pyspark.sql import Window

    qs = [500, 990]
    li = load(spark, sf_dir, "lineitem")
    clean = (li.select(
                F.col("l_returnflag").alias("flag"),
                F.floor(F.col("l_extendedprice") * 100).cast("long")
                 .alias("_v"))
               .where(F.col("_v").isNotNull() & (F.col("_v") >= 0)))
    est = hdr_quantiles_grouped(
        hdr_build_grouped(clean, "_v", ["flag"], sub_bits=_HDR_S),
        ["flag"], qs, sub_bits=_HDR_S)
    ranked = clean.select(
        "flag", "_v",
        F.row_number().over(Window.partitionBy("flag").orderBy("_v"))
         .alias("_rn"))
    qdf = spark.createDataFrame([(q,) for q in sorted(qs)], "q_pm int")
    ranks = (clean.groupBy("flag").agg(F.count("*").alias("n"))
             .crossJoin(F.broadcast(qdf))
             .select("flag", "q_pm",
                     F.greatest(F.lit(1).cast("long"),
                                F.expr("(n * q_pm + 999) div 1000"))
                      .alias("_rn")))
    exact = (ranked.join(F.broadcast(ranks), ["flag", "_rn"])
             .select("flag", "q_pm",
                     F.col("_v").alias("exact_value")))
    return (exact.join(est, ["flag", "q_pm"])
            .select(F.col("flag").alias("l_returnflag"),
                    F.col("q_pm").cast("int").alias("q_pm"),
                    F.col("exact_value").cast("long")
                     .alias("exact_value"),
                    F.col("est_value").cast("long").alias("est_value"),
                    F.expr("CASE WHEN exact_value = 0 "
                           "THEN CAST(0 AS BIGINT) ELSE "
                           "(est_value - exact_value) * 10000 "
                           "div exact_value END")
                     .cast("long").alias("err_bp")))


@query("sketch_hdr_quantiles", oracle=_hdr_oracle(_HDR_S, _HDR_QS))
def sketch_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (operators/sketch.py hdr_build /
    hdr_quantiles / hdr_report) — completes the sketch trio (counts =
    count-min, distincts = HLL, quantiles = this): p50/p90/p99/p99.9
    of lineitem prices in integer cents from an HDR-style histogram
    whose index is pure bitlen+shift arithmetic (NO transcendentals —
    unlike DDSketch's log-gamma), so the DuckDB oracle rebuilds the
    histogram cell-for-cell and reproduces the ESTIMATES bit-for-bit.
    <= ~7.4k buckets at sub_bits=7 no matter the corpus size, ONE
    bucket-keyed exchange with map-side partial sums, shard histograms
    merge by cell-wise addition; relative error <= 2^-sub_bits (78 bp)
    certified per quantile by the signed err_bp column.  The exact
    side uses the integer rank ceil(q*n) = (n*q_pm + 999) div 1000 —
    percentile_disc's definition without its DOUBLE-q rank hazard."""
    from sstable_hadoop_spark.operators.sketch import hdr_report

    li = load(spark, sf_dir, "lineitem")
    cents = li.select(
        F.floor(F.col("l_extendedprice") * 100).cast("long")
         .alias("cents"))
    return hdr_report(cents, "cents", _HDR_QS, sub_bits=_HDR_S)


#: Interval-join fixture shape: 50 disjoint windows tiling the events
#: time range — window w covers [lo + w*stride, lo + w*stride + width]
#: with stride = span DIV 50 and width = span DIV 100 (half the
#: stride, so windows are provably disjoint and roughly half the
#: events fall outside every window).
_IVJ_WINDOWS, _IVJ_STRIDE_DIV, _IVJ_WIDTH_DIV = 50, 50, 100


@query("events_interval_join", oracle=f"""
WITH ev AS (
    SELECT event_id, epoch_us(ts) AS ts FROM events
),
b AS (SELECT min(ts) AS lo, max(ts) - min(ts) AS span FROM ev),
iv AS (
    SELECT w.wid,
           b.lo + w.wid * (b.span // {_IVJ_STRIDE_DIV}) AS wlo,
           b.lo + w.wid * (b.span // {_IVJ_STRIDE_DIV})
               + (b.span // {_IVJ_WIDTH_DIV}) AS whi
    FROM b, (SELECT unnest(range({_IVJ_WINDOWS})) AS wid) AS w
)
SELECT iv.wid,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(ev.event_id) AS BIGINT) AS sum_event_id
FROM ev JOIN iv ON ev.ts BETWEEN iv.wlo AND iv.whi
GROUP BY iv.wid
""")
def events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10 interval join (operators/intervaljoin.py) — point-in-range
    joins as a bucketized equi-join instead of the
    BroadcastNestedLoopJoin Spark plans for a BETWEEN predicate: the
    interval side explodes to the fixed-width buckets it overlaps, the
    point side maps to its one bucket, and a hash join + exact range
    filter reproduces the BETWEEN semantics row-for-row (the oracle IS
    the naive BETWEEN join).  50 disjoint windows tile the events time
    range (bounds collected once — a 1-row scalar agg); per-window
    event count and id-sum certify the match set exactly."""
    from sstable_hadoop_spark.operators.intervaljoin import interval_join

    ev = load(spark, sf_dir, "events")
    pts = ev.select("event_id", ts_us(ev, "ts").alias("ts"))
    b = pts.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")) \
           .collect()[0]
    lo, span = int(b["lo"]), int(b["hi"]) - int(b["lo"])
    stride, width = span // _IVJ_STRIDE_DIV, span // _IVJ_WIDTH_DIV
    iv = spark.range(_IVJ_WINDOWS).select(
        F.col("id").cast("int").alias("wid"),
        (F.lit(lo) + F.col("id") * stride).alias("wlo"),
        (F.lit(lo) + F.col("id") * stride + width).alias("whi"))
    joined = interval_join(pts, iv, "ts", "wlo", "whi",
                           bucket_width=max(width, 1))
    return (joined.groupBy("wid")
            .agg(F.count("*").cast("long").alias("n_events"),
                 F.sum("event_id").cast("long").alias("sum_event_id")))


@query("events_asof_join", oracle="""
WITH ev AS (
    SELECT user_id, event_type, epoch_us(ts) AS ts, value, event_id
    FROM events
),
views_d AS (     -- dedupe rights on (key, ts): the operator's tie
    SELECT user_id, ts, max(value) AS value   -- pick is hash-arbitrary
    FROM ev WHERE event_type = 'view' GROUP BY user_id, ts
),
clicks AS (
    SELECT user_id, ts, event_id FROM ev WHERE event_type = 'click'
),
u AS (
    SELECT user_id, ts, 0 AS side, ts AS vts, value,
           NULL::BIGINT AS event_id
    FROM views_d
    UNION ALL
    SELECT user_id, ts, 1, NULL, NULL, event_id FROM clicks
),
w AS (
    SELECT *,
           last_value(vts IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY ts, side
                ROWS UNBOUNDED PRECEDING) AS ts_asof,
           last_value(value IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY ts, side
                ROWS UNBOUNDED PRECEDING) AS value_asof
    FROM u
)
SELECT event_id, user_id, ts, ts_asof, value_asof
FROM w WHERE side = 1
""")
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10 AS-OF join (operators/asof.py) — for every click event, the
    latest at-or-before view event of the same user (pandas
    merge_asof / kdb aj semantics) via the UNION + last-ignore-nulls
    window: ONE key exchange, zero joins, no
    BroadcastNestedLoopJoin.  Rights are deduped per (user, ts)
    first (max value — the operator's intra-tie pick is a
    deterministic hash, which SQL cannot replay); the oracle runs the
    IDENTICAL union-window algorithm in DuckDB."""
    from sstable_hadoop_spark.operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    base = ev.select("user_id", "event_type",
                     ts_us(ev, "ts").alias("ts"), "value", "event_id")
    views = (base.filter(F.col("event_type") == "view")
                 .groupBy("user_id", "ts")
                 .agg(F.max("value").alias("value")))
    clicks = base.filter(F.col("event_type") == "click") \
                 .select("user_id", "ts", "event_id")
    return asof_join(clicks, views, on="user_id", left_ts="ts") \
        .select("event_id", "user_id", "ts",
                F.col("ts_asof"), F.col("value_asof"))


@query("streaming_quality_gate", oracle=f"""
{_CELLS_CTE}
SELECT key_str, name_str, state, coalesce(data_str, '') AS data_str,
       ts_us, generation
FROM cells
WHERE generation <> 3
""")
def streaming_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10 streaming data-quality circuit breaker
    (streaming/quality_gate.py quality_gate_stream): generations
    arrive one per micro-batch; each batch runs the full constraint
    suite in ONE fused aggregation, writes its per-rule report to the
    journal, and lands in accepted/ or quarantine/ by the verdict —
    here a sql-rule bans generation 3, so the accepted table must
    equal the raw cells MINUS that generation exactly (batch-id-keyed
    overwrite dirs make crash/replay idempotent — re-running the
    driver row replays to identical content).  The oracle is the
    cells CTE with the same generation filter."""
    import hashlib
    import os

    from sstable_hadoop_spark.streaming.quality_gate import (
        quality_gate_stream,
        read_quality_journal,
    )

    src = _stage_cell_stream(spark, sf_dir)
    cells = derived_cells(spark, sf_dir)
    rules = [
        {"rule": "not_null", "column": "key"},
        {"rule": "row_count", "min": 1},
        {"rule": "sql", "predicate": "generation <> 3",
         "name": "no_gen3"},
    ]

    def build(out: str) -> None:
        stream = (spark.readStream.schema(cells.schema)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        q = quality_gate_stream(
            stream, rules,
            os.path.join(out, "accepted"),
            os.path.join(out, "_checkpoint"),
            os.path.join(out, "journal"),
            on_fail="quarantine",
            quarantine_dir=os.path.join(out, "quarantine"))
        try:
            q.awaitTermination()
        finally:
            q.stop()
        verdicts = [e["passed"] for e in
                    read_quality_journal(os.path.join(out, "journal"))]
        if verdicts != [True, True, False, True]:
            raise AssertionError(
                f"gate verdicts {verdicts} != [T, T, F, T]")

    tag = ("quality_gate_"
           + hashlib.md5(sf_dir.encode()).hexdigest()[:10])
    out = _idempotent_tmpdir(tag, build)
    acc = spark.read.parquet(os.path.join(out, "accepted"))
    return acc.select(
        F.decode(F.col("key"), "UTF-8").alias("key_str"),
        F.decode(F.col("name"), "UTF-8").alias("name_str"),
        F.col("state"),
        F.coalesce(F.decode(F.col("data"), "UTF-8"), F.lit(""))
         .alias("data_str"),
        F.col("timestamp").alias("ts_us"),
        F.col("generation"))


@query("quality_check_report", oracle=r"""
WITH t AS (SELECT * FROM orders)
SELECT * FROM (
SELECT 0 AS rule_id, 'not_null' AS rule, 'o_custkey' AS target,
       CAST(count(*) AS BIGINT) AS metric,
       CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT)
           AS violations,
       count(*) FILTER (WHERE o_custkey IS NULL) = 0 AS passed
FROM t
UNION ALL
SELECT 1, 'unique', 'o_orderkey', CAST(count(*) AS BIGINT),
       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT),
       count(*) = count(DISTINCT o_orderkey)
FROM t
UNION ALL
SELECT 2, 'range', 'o_totalprice',
       CAST(count(o_totalprice) AS BIGINT),
       CAST(count(*) FILTER (WHERE o_totalprice IS NOT NULL
            AND (o_totalprice < 2000.0 OR o_totalprice > 400000.0))
            AS BIGINT),
       count(*) FILTER (WHERE o_totalprice IS NOT NULL
            AND (o_totalprice < 2000.0 OR o_totalprice > 400000.0)) = 0
FROM t
UNION ALL
SELECT 3, 'regex', 'o_orderpriority',
       CAST(count(o_orderpriority) AS BIGINT),
       CAST(count(*) FILTER (WHERE o_orderpriority IS NOT NULL
            AND NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$'))
            AS BIGINT),
       count(*) FILTER (WHERE o_orderpriority IS NOT NULL
            AND NOT regexp_matches(o_orderpriority,
                                   '^[1-5]-[A-Z ]+$')) = 0
FROM t
UNION ALL
SELECT 4, 'accepted_values', 'o_orderstatus',
       CAST(count(o_orderstatus) AS BIGINT),
       CAST(count(*) FILTER (WHERE o_orderstatus IS NOT NULL
            AND o_orderstatus NOT IN ('O', 'F')) AS BIGINT),
       count(*) FILTER (WHERE o_orderstatus IS NOT NULL
            AND o_orderstatus NOT IN ('O', 'F')) = 0
FROM t
UNION ALL
SELECT 5, 'row_count', '*', CAST(count(*) AS BIGINT),
       CAST(0 AS BIGINT), count(*) >= 10
FROM t)
""")
def quality_check_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10 data-quality constraint suite (operators/checks.py
    check_constraints) — the Deequ-style "is this table sane" gate:
    six declarative rules (not_null / unique / range / regex /
    accepted_values / row_count) over orders, ALL fused into ONE
    aggregation pass (one scan + one partial→final agg at any table
    size, never one job per rule); the single agg row explodes
    declaratively into the per-rule report, zero driver collects.
    Rules are chosen so both outcomes appear (the range and
    accepted_values rows fail with real violation counts, the rest
    pass); the oracle re-computes every metric in SQL."""
    from sstable_hadoop_spark.operators.checks import check_constraints

    orders = load(spark, sf_dir, "orders")
    rules = [
        {"rule": "not_null", "column": "o_custkey"},
        {"rule": "unique", "columns": ["o_orderkey"]},
        {"rule": "range", "column": "o_totalprice",
         "min": 2000.0, "max": 400000.0},
        {"rule": "regex", "column": "o_orderpriority",
         "pattern": r"^[1-5]-[A-Z ]+$"},
        {"rule": "accepted_values", "column": "o_orderstatus",
         "values": ["O", "F"]},
        {"rule": "row_count", "min": 10},
    ]
    return check_constraints(orders, rules)


@query("txlog_incremental_rollup", oracle=f"""
{_CELLS_CTE}
, w AS (
    SELECT state, generation FROM cells
    QUALIFY row_number() OVER (PARTITION BY key_str, name_str
                               ORDER BY {_ORDER}) = 1
)
SELECT state, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(generation) AS BIGINT) AS sum_generation
FROM w GROUP BY state
""")
def txlog_incremental_rollup(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """r10 CDC materialized view (operators/txlog.py txlog_rollup /
    txlog_incremental_rollup): a per-state count/sum rollup of the
    txlog winners table maintained INCREMENTALLY — the base rollup is
    computed at version 1 (the gens-1-2 create), later commits land
    through the change feed (txlog_diff: inserts add, deletes
    subtract, emptied groups drop), and the result must equal the
    full recompute at head, which the oracle derives as the flagship
    merge's per-state rollup.  Cost of the refresh is O(buckets
    touched since the base + |rollup|), never a table rescan — the
    100 TB "update yesterday's dashboard" path.  Reuses the
    txlog_upsert_roundtrip fixture, so replayed driver runs append
    content-identical versions and the head rollup stays fixed."""
    import hashlib
    import os

    from sstable_hadoop_spark.operators.lww import lww_refresh
    from sstable_hadoop_spark.operators.txlog import (
        txlog_create,
        txlog_incremental_rollup as tx_inc_rollup,
        txlog_rollup,
        txlog_upsert,
    )

    h = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    cells = derived_cells(spark, sf_dir)

    def build(out: str) -> None:
        txlog_create(
            spark, os.path.join(out, "t"),
            lww_cell(cells.filter(F.col("generation") <= 2)),
            bucket_by=("key",), n_buckets=8, sort_by=("key", "name"))

    base = _idempotent_tmpdir("txlog_upsert_base_" + h, build)
    path = os.path.join(base, "t")
    for gen in (3, 4):
        txlog_upsert(spark, path,
                     cells.filter(F.col("generation") == gen),
                     lww_refresh, bucket_by=("key",), n_buckets=8,
                     sort_by=("key", "name"))
    stored = txlog_rollup(spark, path, ["state"], ["generation"],
                          version=1)
    return tx_inc_rollup(spark, path, stored, ["state"],
                         ["generation"], v_from=1)


@query("orders_scd2_history", oracle="""
WITH o AS (
    SELECT o_orderkey AS k, o_orderstatus AS status,
           o_orderpriority AS prio
    FROM orders),
base AS (SELECT * FROM o WHERE k % 7 < 6),
snap AS (
    SELECT k, CASE WHEN k % 5 = 0 THEN 'X' ELSE status END AS status,
           prio
    FROM o WHERE k % 11 <> 0)
SELECT k, status, prio,
       CAST(valid_from_us AS BIGINT) AS valid_from_us,
       CAST(valid_to_us AS BIGINT) AS valid_to_us
FROM (
    SELECT b.k, b.status, b.prio, 1000000 AS valid_from_us,
           2000000 AS valid_to_us
    FROM base b LEFT JOIN snap s ON s.k = b.k
    WHERE s.k IS NULL OR s.status <> b.status OR s.prio <> b.prio
    UNION ALL
    SELECT b.k, b.status, b.prio, 1000000, NULL
    FROM base b JOIN snap s ON s.k = b.k AND s.status = b.status
                           AND s.prio = b.prio
    UNION ALL
    SELECT s.k, s.status, s.prio, 2000000, NULL
    FROM snap s LEFT JOIN base b ON b.k = s.k
    WHERE b.k IS NULL OR b.status <> s.status OR b.prio <> s.prio)
""")
def orders_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10 type-2 slowly-changing dimension (operators/scd.py):
    bootstrap the orders dimension from snapshot 1 (keys k%7<6, µs
    stamp 1000000), then fold snapshot 2 (stamp 2000000) in which
    k%5==0 keys change status to 'X', k%11==0 keys disappear
    (deletion-tracked close), and k%7==6 keys are new.  The resulting
    history — closed [1000000,2000000) versions, surviving opens, new
    opens — must equal the oracle's three-way categorized derivation;
    a missed change, a double-closed row, or a leaked deleted key
    hash-mismatches.  Unchanged keys pass through byte-identical (the
    idempotence contract), and one apply costs O(open rows +
    |snapshot|) — history depth never enters the join."""
    from sstable_hadoop_spark.operators.scd import scd2_apply, scd2_init

    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("prio"))
    base = o.filter(F.col("k") % 7 < 6)
    snap = (o.filter(F.col("k") % 11 != 0)
             .withColumn("status",
                         F.when(F.col("k") % 5 == 0, F.lit("X"))
                          .otherwise(F.col("status"))))
    dim = scd2_init(base, as_of_us=1000000)
    return scd2_apply(dim, snap, ["k"], as_of_us=2000000)


@query("federated_sstable_orders_enrichment", oracle=f"""
{_CELLS_CTE}
, w AS (
    SELECT key_str, state FROM cells
    QUALIFY row_number() OVER (PARTITION BY key_str, name_str
                               ORDER BY {_ORDER}) = 1),
u AS (
    SELECT CAST(key_str AS BIGINT) AS user_id,
           CAST(count(*) FILTER (WHERE state = 'NORMAL') AS BIGINT)
               AS n_live,
           CAST(count(*) AS BIGINT) AS n_cells
    FROM w GROUP BY 1),
o AS (
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_c
    FROM orders GROUP BY 1)
SELECT u.user_id, u.n_live, u.n_cells,
       coalesce(o.n_orders, CAST(0 AS BIGINT)) AS n_orders,
       coalesce(o.revenue_c, CAST(0 AS BIGINT)) AS revenue_c
FROM u LEFT JOIN o ON o.o_custkey = u.user_id
""")
def federated_sstable_orders_enrichment(spark: SparkSession,
                                        sf_dir: str) -> DataFrame:
    """r10 cross-format federation: winners merged from REAL binary
    SSTable files (the custom source, flat ``kind=cells``) joined
    against the parquet orders table in ONE declarative plan — the
    "switch to this engine without abandoning your files" story.
    Per user: live/total winner counts from the SSTable side,
    order count and exact-cent revenue from the parquet side (keys
    line up by construction: cell keys are user ids ⊂ custkeys).
    Both sides PRE-AGGREGATE below the join (the rewrite Catalyst
    lacks — the join moves one row per user/customer, never raw
    cells or orders), and the per-customer rollup (the left join's
    broadcastable right side) is key-cardinality-sized at any fact
    volume.  A wrong winner, a miscounted cell, or a rounding drift
    in the revenue cents hash-mismatches."""
    from sstable_hadoop_spark.sources.datasource import register

    register(spark)
    path = _materialize_sstables(spark, sf_dir)
    cells = (spark.read.format("sstable").option("kind", "cells")
             .option("max_split_bytes",
                     str(_fixture_split_bytes(path))).load(path))
    w = lww_cell(cells)
    u = (w.groupBy(F.decode(F.col("key"), "UTF-8").cast("long")
                   .alias("user_id"))
          .agg(F.count(F.when(F.col("state") == "NORMAL", 1))
                .cast("long").alias("n_live"),
               F.count(F.lit(1)).cast("long").alias("n_cells")))
    orders = load(spark, sf_dir, "orders")
    o = (orders.groupBy(F.col("o_custkey"))
               .agg(F.count(F.lit(1)).cast("long").alias("n_orders"),
                    F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5)
                           .cast("long")).cast("long")
                     .alias("revenue_c")))
    zero = F.lit(0).cast("long")
    return (u.join(o, u["user_id"] == o["o_custkey"], "left")
             .select("user_id", "n_live", "n_cells",
                     F.coalesce("n_orders", zero).alias("n_orders"),
                     F.coalesce("revenue_c", zero).alias("revenue_c")))


@query("txlog_bucketed_read_merge", oracle=f"""
{_CELLS_CTE}
SELECT key_str, name_str, state, coalesce(data_str, '') AS data_str,
       ts_us, generation
FROM cells
QUALIFY row_number() OVER (PARTITION BY key_str, name_str
                           ORDER BY {_ORDER}) = 1
""")
def txlog_bucketed_read_merge(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """r10 zero-exchange txlog reads (operators/txlog.py
    txlog_read_bucketed): the multi-writer winners table is re-read
    as a catalog-declared BUCKETED table (snapshot files hard-linked
    into a version-addressed dot-dir, journaled CLUSTERED BY spec),
    so the re-merge's groupBy(key, name) is satisfied by the key
    bucketing and plans with ZERO exchanges (pytest-asserted, the
    lww_bucketed_merge story extended to logged tables) — the
    read-side payoff plain explicit-file-list snapshot reads cannot
    give.  Layout must change the plan, never the result: the output
    must still equal the flagship full merge."""
    import hashlib
    import os
    import tempfile

    from sstable_hadoop_spark.operators.txlog import (
        txlog_read_bucketed,
    )

    txlog_upsert_roundtrip(spark, sf_dir)  # ensure/refresh the fixture
    h = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = os.path.join(tempfile.gettempdir(),
                        "txlog_upsert_base_" + h, "t")
    stored = txlog_read_bucketed(spark, path, "txlog_snap_merge")
    return _render_winners(lww_cell(stored))


@query("txlog_rebucket_roundtrip", oracle=f"""
{_CELLS_CTE}
SELECT key_str, name_str, state, coalesce(data_str, '') AS data_str,
       ts_us, generation
FROM cells
QUALIFY row_number() OVER (PARTITION BY key_str, name_str
                           ORDER BY {_ORDER}) = 1
""")
def txlog_rebucket_roundtrip(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """r10 bucket-count evolution (operators/txlog.py txlog_rebucket):
    the winners table is created with 4 buckets from generations 1-2,
    rebucketed to 8 as one data-identical strict-base commit (the
    migration a hash-bucketed table needs when it outgrows its
    create-time layout), then generations 3-4 land as upserts
    declaring the NEW layout — the journaled declaration now refuses
    writers still declaring 4 (pytest-pinned), closing the mis-hashed-
    delta corruption hole.  The head must equal the flagship full
    merge; a rebucket that dropped a row, mis-hashed a key, or leaked
    an old bucket file hash-mismatches.  Re-runs: the rebucket is a
    no-op at the target layout, the upserts rewrite identical
    content."""
    import hashlib
    import os

    from sstable_hadoop_spark.operators.lww import lww_refresh
    from sstable_hadoop_spark.operators.txlog import (
        txlog_create,
        txlog_read,
        txlog_rebucket,
        txlog_upsert,
    )

    h = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    cells = derived_cells(spark, sf_dir)

    def build(out: str) -> None:
        txlog_create(
            spark, os.path.join(out, "t"),
            lww_cell(cells.filter(F.col("generation") <= 2)),
            bucket_by=("key",), n_buckets=4, sort_by=("key", "name"))

    base = _idempotent_tmpdir("txlog_rebucket_base_" + h, build)
    path = os.path.join(base, "t")
    txlog_rebucket(spark, path, 8)
    for gen in (3, 4):
        txlog_upsert(spark, path,
                     cells.filter(F.col("generation") == gen),
                     lww_refresh, bucket_by=("key",), n_buckets=8,
                     sort_by=("key", "name"))
    return _render_winners(txlog_read(spark, path))


@query("streaming_scd2_history", oracle="""
WITH e AS (
    SELECT user_id, epoch_us(ts) AS ts_us, event_type,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_c
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND event_type IS NOT NULL AND value IS NOT NULL),
bounds AS (SELECT min(ts_us) AS lo, max(ts_us) AS hi FROM e),
eb AS (
    SELECT user_id, ts_us, event_type, value_c,
           CAST(((ts_us - (SELECT lo FROM bounds)) * 4)
                // ((SELECT hi FROM bounds)
                    - (SELECT lo FROM bounds) + 1) AS INT) AS b
    FROM e),
stamps AS (SELECT b, max(ts_us) AS as_of FROM eb GROUP BY b),
latest AS (
    SELECT user_id, b, event_type, value_c FROM (
        SELECT user_id, b, event_type, value_c,
               row_number() OVER (PARTITION BY user_id, b
                                  ORDER BY ts_us DESC,
                                           event_type ASC,
                                           value_c ASC) AS rn
        FROM eb) WHERE rn = 1),
marked AS (
    SELECT user_id, b, event_type, value_c,
           CASE WHEN lag(b) OVER w IS NULL THEN 1
                WHEN event_type IS DISTINCT FROM lag(event_type) OVER w
                  OR value_c IS DISTINCT FROM lag(value_c) OVER w
                THEN 1 ELSE 0 END AS chg
    FROM latest
    WINDOW w AS (PARTITION BY user_id ORDER BY b)),
changes AS (SELECT * FROM marked WHERE chg = 1)
SELECT c.user_id, c.event_type, c.value_c,
       CAST(s.as_of AS BIGINT) AS valid_from_us,
       CAST(lead(s.as_of) OVER (PARTITION BY c.user_id ORDER BY c.b)
            AS BIGINT) AS valid_to_us
FROM changes c JOIN stamps s ON s.b = c.b
""")
def streaming_scd2_history(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """r10 streaming SCD2 sink (streaming/scd_stream.py
    upsert_stream_to_scd2): the events feed, split into 4
    TIME-ORDERED micro-batches (quartiles of the event-time range —
    the shape of a real CDC tail), maintains a type-2 dimension of
    each user's latest (event_type, value) — per batch the latest
    state per user is snapshotted, stamped at the batch's max event
    time, and folded with partial-feed semantics (absent user =
    unchanged).  The drained store must equal the oracle's
    change-point derivation: one history row per (user, attribute
    change), valid from its batch stamp until the user's next change
    batch.  Exactly-once rides the store's event-time watermark (a
    stale replayed batch is skipped; a same-stamp replay re-applies
    idempotently — pytest-pinned)."""
    import hashlib
    import os

    from sstable_hadoop_spark.streaming.scd_stream import (
        read_scd2_store,
        upsert_stream_to_scd2,
    )

    ev = load(spark, sf_dir, "events")
    # stage the event time as an EXPLICIT nano-epoch long (the sink's
    # ts_us() treats long columns as nanos; the session-dependent
    # timestamp/long duality of the raw column must not reach the
    # fixture) plus a µs twin for the quartile chunking that must
    # match the oracle's epoch_us math
    us = ts_us(ev, "ts")
    feed = (ev.filter(F.col("user_id").isNotNull()
                      & F.col("ts").isNotNull()
                      & F.col("event_type").isNotNull()
                      & F.col("value").isNotNull())
              .select("user_id", "event_type",
                      F.floor(F.col("value") * 100 + 0.5).cast("long")
                       .alias("value_c"),
                      (us * 1000).cast("long").alias("ts"),
                      us.alias("_us")))

    def build(out: str) -> None:
        b = feed.agg(F.min("_us").alias("lo"),
                     F.max("_us").alias("hi")).collect()[0]
        lo, hi = int(b["lo"]), int(b["hi"])
        src = os.path.join(out, "src")
        for i in range(4):
            chunk = feed.filter(
                F.expr(f"((_us - {lo}) * 4) div ({hi} - {lo} + 1)")
                == i).drop("_us")
            p = os.path.join(src, f"chunk{i}")
            chunk.coalesce(1).write.parquet(p)
            for f in os.listdir(p):
                os.utime(os.path.join(p, f),
                         ((i + 1) * 1000, (i + 1) * 1000))
        store = os.path.join(out, "store")
        os.makedirs(store)
        stream = (spark.readStream
                  .schema("user_id long, event_type string, "
                          "value_c long, ts long")
                  .option("maxFilesPerTrigger", "1")
                  .parquet(os.path.join(src, "chunk*")))
        _drain_stream(spark, lambda: upsert_stream_to_scd2(
            stream, store, os.path.join(out, "ckpt"), ["user_id"],
            ts_col="ts"))

    tag = ("scd2_stream2_"
           + hashlib.md5(sf_dir.encode()).hexdigest()[:10])
    out = _idempotent_tmpdir(tag, build)
    return read_scd2_store(spark, os.path.join(out, "store"))


@query("streaming_lsm_flush_leveled", oracle=f"""
{_CELLS_CTE}
SELECT key_str, name_str, state, coalesce(data_str, '') AS data_str,
       ts_us
FROM cells
QUALIFY row_number() OVER (PARTITION BY key_str, name_str
                           ORDER BY {_ORDER}) = 1
""")
def streaming_lsm_flush_leveled(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """r10 full LSM write path (streaming/compaction.py
    flush_stream_to_leveled): generations arrive one per micro-batch
    (staged mtimes), each memtable-merges and flushes a new L0
    SSTable generation, and inline leveled compaction (operators/
    compaction.py LCS, threshold 3) reorganizes the tree MID-STREAM —
    so the drained directory is simultaneously the ingest target and
    a read-optimized leveled tree.  Re-scanning it and re-running the
    per-cell merge must equal the flagship winners (generation labels
    change under compaction, so they stay out of the checked
    projection) — a flush that lost a batch, a compaction that
    dropped or duplicated a winner, or a mis-leveled overlap
    hash-mismatches.  Crash/replay correctness rides the LWW
    algebra (module docstring)."""
    import hashlib
    import os

    from sstable_hadoop_spark.sources.datasource import register
    from sstable_hadoop_spark.streaming.compaction import (
        flush_stream_to_leveled,
    )

    register(spark)
    src = _stage_cell_stream(spark, sf_dir)
    cells = derived_cells(spark, sf_dir)

    def build(out: str) -> None:
        tree = os.path.join(out, "tree")
        os.makedirs(tree)
        stream = (spark.readStream.schema(cells.schema)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        _drain_stream(spark, lambda: flush_stream_to_leveled(
            stream, tree, os.path.join(out, "ckpt"), l0_threshold=3))

    tag = ("lsm_flush_"
           + hashlib.md5(sf_dir.encode()).hexdigest()[:10])
    out = _idempotent_tmpdir(tag, build)
    df = spark.read.format("sstable").load(os.path.join(out, "tree"))
    return _render_winners(lww_cell(explode_cells(df))) \
        .drop("generation")


@query("sstable_leveled_compaction", oracle=f"""
{_CELLS_CTE}
SELECT key_str, name_str, state, coalesce(data_str, '') AS data_str,
       ts_us
FROM cells
QUALIFY row_number() OVER (PARTITION BY key_str, name_str
                           ORDER BY {_ORDER}) = 1
""")
def sstable_leveled_compaction(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """r10 leveled compaction (operators/compaction.py pick_leveled /
    compact_leveled — Cassandra LCS, the read-optimized sibling of
    the shipped STCS policy): the 4 overlapping L0 generations trip
    the L0 threshold and merge into a run of key-range-disjoint L1
    files (range-partitioned writer), levels recorded in the atomic
    ``_levels.json`` sidecar; re-scanning the reorganized tree and
    re-running the per-cell merge must equal the flagship winners —
    compaction may only change LAYOUT, never content (generation
    labels change by design, so they stay out of the checked
    projection).  Planner cost is metadata-only: file sizes from a
    listing, key bounds from the first Index.db entry + a bounded
    walk from the last Summary.db sample.  Scans never consult
    levels, so a lost sidecar degrades to re-leveling, never to
    wrong reads (pytest-pinned)."""
    import hashlib
    import shutil

    from sstable_hadoop_spark.operators.compaction import (
        compact_leveled,
        read_levels,
    )
    from sstable_hadoop_spark.sources.datasource import register

    register(spark)
    in_dir = _materialize_sstables(spark, sf_dir)

    def build(out: str) -> None:
        import os

        for f in os.listdir(in_dir):
            if f.endswith(".db"):
                shutil.copy2(os.path.join(in_dir, f),
                             os.path.join(out, f))
        n = compact_leveled(spark, out, sstable_mb=160.0,
                            l0_threshold=4, target_partitions=4)
        assert n >= 1 and read_levels(out)  # fixture sanity

    tag = ("sstable_lcs_"
           + hashlib.md5(sf_dir.encode()).hexdigest()[:10])
    path = _idempotent_tmpdir(tag, build)
    df = spark.read.format("sstable").load(path)
    return _render_winners(lww_cell(explode_cells(df))) \
        .drop("generation")


@query("orders_scd2_temporal_join", oracle="""
WITH o AS (
    SELECT o_orderkey AS k, o_orderstatus AS status,
           o_orderpriority AS prio
    FROM orders),
base AS (SELECT * FROM o WHERE k % 7 < 6),
snap AS (
    SELECT k, CASE WHEN k % 5 = 0 THEN 'X' ELSE status END AS status,
           prio
    FROM o WHERE k % 11 <> 0),
dim AS (
    SELECT b.k, b.status, b.prio, 1000000 AS vf, 2000000 AS vt
    FROM base b LEFT JOIN snap s ON s.k = b.k
    WHERE s.k IS NULL OR s.status <> b.status OR s.prio <> b.prio
    UNION ALL
    SELECT b.k, b.status, b.prio, 1000000, NULL
    FROM base b JOIN snap s ON s.k = b.k AND s.status = b.status
                           AND s.prio = b.prio
    UNION ALL
    SELECT s.k, s.status, s.prio, 2000000, NULL
    FROM snap s LEFT JOIN base b ON b.k = s.k
    WHERE b.k IS NULL OR b.status <> s.status OR b.prio <> s.prio),
facts AS (
    SELECT o_orderkey AS k,
           CASE WHEN o_orderkey % 2 = 0 THEN 1500000
                ELSE 2500000 END AS ts_us,
           o_custkey AS cust
    FROM orders)
SELECT f.k, CAST(f.ts_us AS BIGINT) AS ts_us, f.cust,
       d.status, d.prio
FROM facts f LEFT JOIN dim d
    ON d.k = f.k AND d.vf <= f.ts_us
   AND (d.vt IS NULL OR d.vt > f.ts_us)
""")
def orders_scd2_temporal_join(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """r10 point-in-time dimension lookup (operators/scd.py
    scd2_temporal_join): fact rows stamped at 1500000 µs (even keys —
    between the two snapshots) or 2500000 µs (odd keys — after the
    second) join the SCD2 orders dimension and must pick the version
    VALID AT THEIR OWN INSTANT: even-key facts see snapshot-1
    attributes, odd-key facts see the post-change attributes, facts
    whose key was deleted (k%11==0) or never dimensioned get NULLs
    via the left join.  At most one version matches per fact
    (disjoint validity intervals), so the join never fans out; the
    plan is an equi hash join on the key with the interval predicate
    residual — never a nested loop (pytest-asserted)."""
    from sstable_hadoop_spark.operators.scd import (
        scd2_apply,
        scd2_init,
        scd2_temporal_join,
    )

    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("prio"))
    base = o.filter(F.col("k") % 7 < 6)
    snap = (o.filter(F.col("k") % 11 != 0)
             .withColumn("status",
                         F.when(F.col("k") % 5 == 0, F.lit("X"))
                          .otherwise(F.col("status"))))
    dim = scd2_apply(scd2_init(base, as_of_us=1000000), snap,
                     ["k"], as_of_us=2000000)
    facts = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.when(F.col("o_orderkey") % 2 == 0, F.lit(1500000))
         .otherwise(F.lit(2500000)).cast("long").alias("ts_us"),
        F.col("o_custkey").alias("cust"))
    return scd2_temporal_join(facts, dim, ["k"], "ts_us")


@query("streaming_attribution_join", oracle="""
WITH c AS (
    SELECT user_id, event_id AS click_id, epoch_us(ts) AS cus
    FROM events WHERE event_type = 'click' AND user_id IS NOT NULL),
v AS (
    SELECT user_id, event_id AS view_id, epoch_us(ts) AS vus
    FROM events WHERE event_type = 'view' AND user_id IS NOT NULL)
SELECT c.user_id,
       CAST(count(*) AS BIGINT)            AS n_pairs,
       CAST(sum(c.click_id) AS BIGINT)     AS sum_click_id,
       CAST(sum(v.view_id) AS BIGINT)      AS sum_view_id,
       CAST(sum(c.cus - v.vus) AS BIGINT)  AS sum_delta_us
FROM c JOIN v ON v.user_id = c.user_id
             AND v.vus BETWEEN c.cus - 86400000000 AND c.cus
GROUP BY c.user_id
""")
def streaming_attribution_join(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """r10 stream-stream interval join (streaming/joins.py
    interval_join) — the attribution query: every click pairs with
    the same user's views in the trailing 24 h.  Clicks and views
    arrive as two INDEPENDENT file streams, each in 4 micro-batches
    (the staged event chunks), so most pairs span micro-batch
    boundaries and only survive if both sides' keyed state buffers
    correctly under the watermark; the drained pair log, re-read in
    batch and rolled up per user (pair count + id checksums + summed
    click→view gaps in µs), must equal the oracle's plain interval
    join over the raw events.  The fixture watermark (35 days) out-
    spans the corpus ON PURPOSE — replayed history joins
    exhaustively; a deployment bounds state with its real
    out-of-orderness instead (module docstring)."""
    import hashlib
    import os

    from sstable_hadoop_spark.streaming.joins import interval_join

    src = _stage_event_stream(spark, sf_dir)
    events = load(spark, sf_dir, "events")

    def build(out: str) -> None:
        def side(ev_type, id_name):
            return (spark.readStream.schema(events.schema)
                    .option("maxFilesPerTrigger", "1")
                    .parquet(os.path.join(src, "chunk*"))
                    .filter((F.col("event_type") == ev_type)
                            & F.col("user_id").isNotNull())
                    .select("user_id",
                            F.col("event_id").alias(id_name), "ts"))

        j = interval_join(side("click", "click_id"),
                          side("view", "view_id"),
                          ["user_id"], max_delay="24 hours",
                          watermark="35 days")
        _drain_stream(spark, lambda: (
            j.writeStream.format("parquet")
            .option("path", os.path.join(out, "pairs"))
            .option("checkpointLocation", os.path.join(out, "ckpt"))
            .trigger(availableNow=True).start()))

    tag = ("attrib_join_"
           + hashlib.md5(sf_dir.encode()).hexdigest()[:10])
    out = _idempotent_tmpdir(tag, build)
    pairs = spark.read.parquet(os.path.join(out, "pairs"))
    return (pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("click_id").cast("long").alias("sum_click_id"),
        F.sum("view_id").cast("long").alias("sum_view_id"),
        F.sum(F.unix_micros("l_event_time")
              - F.unix_micros("r_event_time")).cast("long")
         .alias("sum_delta_us")))


def _corr_matrix_oracle(cols: list[str], quant: int = 100) -> str:
    """One UNION ALL branch per pair: the same quantize-once integer
    moments (DuckDB sums are HUGEINT — exact like Spark's
    DECIMAL(38,0)) and the same short IEEE chain."""
    from itertools import combinations

    branches = []
    for a, b in combinations(cols, 2):
        branches.append(f"""
SELECT '{a}' AS col_a, '{b}' AS col_b, CAST(n AS BIGINT) AS n,
       CASE WHEN da > 0 AND db > 0
            THEN CAST(floor(num / (sqrt(da) * sqrt(db)) * 10000
                            + 0.5) AS BIGINT) END AS corr_bp
FROM (
    SELECT n, CAST(n * sab - sa * sb AS DOUBLE) AS num,
           CAST(n * saa - sa * sa AS DOUBLE) AS da,
           CAST(n * sbb - sb * sb AS DOUBLE) AS db
    FROM (
        SELECT count(*) FILTER (WHERE qa IS NOT NULL
                                  AND qb IS NOT NULL) AS n,
               sum(qa) FILTER (WHERE qb IS NOT NULL) AS sa,
               sum(qb) FILTER (WHERE qa IS NOT NULL) AS sb,
               sum(qa * qa) FILTER (WHERE qb IS NOT NULL) AS saa,
               sum(qb * qb) FILTER (WHERE qa IS NOT NULL) AS sbb,
               sum(qa * qb) AS sab
        FROM (SELECT CAST(floor({a} * {quant} + 0.5) AS BIGINT) AS qa,
                     CAST(floor({b} * {quant} + 0.5) AS BIGINT) AS qb
              FROM lineitem)))""")
    return "\nUNION ALL\n".join(branches)


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@query("lineitem_corr_matrix", oracle=_corr_matrix_oracle(_CORR_COLS))
def lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10 one-pass exact correlation matrix (operators/stats.py
    corr_matrix): every Pearson pair over lineitem's numeric columns
    from ONE scan + ONE aggregation (df.stat.corr runs one float job
    per pair, partitioning-dependent).  Values quantize once to
    centi-units, all moments are exact integers (DECIMAL(38,0) /
    HUGEINT), and the final ratio is a short IEEE chain over them —
    so the signed-bp coefficients are bit-identical in both engines
    under any partitioning.  Pairwise-complete semantics carry a per-
    pair n; a constant side reports NULL."""
    from sstable_hadoop_spark.operators.stats import corr_matrix

    li = load(spark, sf_dir, "lineitem")
    return corr_matrix(li, _CORR_COLS)


# PageRank oracle: the iteration unrolled as one CTE per step (r0..r5)
# — every arithmetic op is BIGINT-truncating in both engines, so the
# ranks are bit-identical; the final projection casts DuckDB's HUGEINT
# sums back to BIGINT (oracle output-type gate).
def _pagerank_oracle(n_iter: int, top: int) -> str:
    ctes = ["""
WITH nn AS (SELECT count(*) AS c FROM documents),
edges AS (
    SELECT d.doc_id AS src,
           (d.doc_id * 31 + j.j * 7919) % (SELECT c FROM nn) AS dst
    FROM documents d CROSS JOIN (VALUES (1), (2), (3)) AS j(j)),
outdeg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS rank FROM nodes)"""]
    for i in range(1, n_iter + 1):
        ctes.append(f"""
r{i} AS (
    SELECT n.id,
           CAST(150000 + (850 * coalesce(c.s, 0)) // 1000 AS BIGINT)
               AS rank
    FROM nodes n LEFT JOIN (
        SELECT e.dst AS id, sum(p.rank // o.d) AS s
        FROM edges e
        JOIN r{i - 1} p ON p.id = e.src
        JOIN outdeg o ON o.src = e.src
        GROUP BY e.dst) c ON c.id = n.id)""")
    return (",".join(ctes)
            + f"\nSELECT id, rank FROM r{n_iter} "
              f"ORDER BY rank DESC, id ASC LIMIT {top}")


@query("docs_link_pagerank", oracle=_pagerank_oracle(5, 50))
def docs_link_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10 link-graph PageRank (operators/graph.py) — the web-corpus
    authority signal training-data curation weights documents by
    (Common-Crawl-style host ranking).  The link graph is synthesized
    deterministically from documents (each doc links to three LCG
    targets mod n_docs) identically in both engines; 5 iterations of
    the exact-integer update (micro-unit ranks, BIGINT-truncating
    contributions — the house quantize-once pattern) must produce
    bit-identical ranks, certified by the oracle's unrolled r0..r5
    CTE chain.  Result = top-50 by (rank DESC, id ASC) — a total
    order, so the LIMIT cut is deterministic.  Scale shape: edges
    carry their out-degree (built once, cached); each iteration is
    one src-keyed join against the node-sized rank table plus one
    dst-keyed partial-agg exchange — O(n_iter × |E|), no driver data,
    lineage truncated per iteration."""
    from sstable_hadoop_spark.operators.graph import pagerank

    docs = load(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    fanout = spark.createDataFrame([(1,), (2,), (3,)], "j long")
    edges = (docs.select("doc_id")
                 .crossJoin(F.broadcast(n))
                 .crossJoin(F.broadcast(fanout))
                 .select(F.col("doc_id").alias("src"),
                         ((F.col("doc_id") * 31 + F.col("j") * 7919)
                          % F.col("_n")).alias("dst")))
    ranks = pagerank(edges, n_iter=5)
    return ranks.orderBy(F.desc("rank"), F.asc("id")).limit(50)


@query("txlog_merge_roundtrip", oracle="""
WITH base AS (
    SELECT o_orderkey AS k, o_orderstatus AS status,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS total_c
    FROM orders WHERE o_orderkey % 7 < 5),
src AS (
    SELECT o_orderkey AS k, 'U' AS status,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) + 50000
               AS total_c
    FROM orders WHERE o_orderkey % 7 IN (4, 5)),
m1 AS (
    SELECT coalesce(s.k, b.k) AS k,
           CASE WHEN s.k IS NOT NULL THEN s.status
                ELSE b.status END AS status,
           CASE WHEN s.k IS NOT NULL THEN s.total_c
                ELSE b.total_c END AS total_c
    FROM base b FULL OUTER JOIN src s ON b.k = s.k)
SELECT k, status, total_c FROM m1 WHERE k % 7 <> 0
""")
def txlog_merge_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10 MERGE INTO through the transaction log (operators/txlog.py
    txlog_merge — the Delta/SQL:2003 MERGE subset): an orders-keyed
    table (keys with k%7<5) takes (1) an update+insert merge whose
    source holds k%7∈{4,5} — 4s exist (update: status→'U', price
    bumped 500.00), 5s don't (insert) — then (2) a key-only delete
    merge for k%7==0.  The head read must equal the oracle's
    full-outer-join + anti-filter derivation; a merge that dropped an
    unmatched stored row, double-applied an update, leaked a deleted
    key, or inserted into the wrong bucket hash-mismatches.  Both
    merges are content-idempotent (re-runs re-match the prior inserts
    and update them to themselves; re-deletes ignore absent keys), so
    the row is driver-stable while the log audits every run.  Data
    plane: O(source-key buckets + |source|) per merge, one optimistic
    metadata commit each."""
    import hashlib
    import os

    from sstable_hadoop_spark.operators.txlog import (
        txlog_create,
        txlog_merge,
        txlog_read,
    )

    h = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    orders = load(spark, sf_dir, "orders")
    total_c = (F.floor(F.col("o_totalprice") * 100 + 0.5)
               .cast("long"))
    k = F.col("o_orderkey")

    def build(out: str) -> None:
        txlog_create(
            spark, os.path.join(out, "t"),
            orders.filter(k % 7 < 5).select(
                k.alias("k"), F.col("o_orderstatus").alias("status"),
                total_c.alias("total_c")),
            bucket_by=("k",), n_buckets=8, sort_by=("k",))

    base = _idempotent_tmpdir("txlog_merge_base_" + h, build)
    path = os.path.join(base, "t")
    src = orders.filter((k % 7).isin(4, 5)).select(
        k.alias("k"), F.lit("U").alias("status"),
        (total_c + 50000).alias("total_c"))
    txlog_merge(spark, path, src, ["k"], ("k",), 8, sort_by=("k",))
    doomed = orders.filter(k % 7 == 0).select(k.alias("k"))
    txlog_merge(spark, path, doomed, ["k"], ("k",), 8,
                sort_by=("k",), when_matched="delete",
                when_not_matched="ignore")
    return txlog_read(spark, path).select("k", "status", "total_c")


# ---------------------------------------------------------------------------
# Anti-entropy replica repair (operators/repair.py) — Cassandra's
# Merkle-digest repair over the reference's cell model
# (SSTableData.scala:45-62).  Two deterministic replicas derived from
# the cells: A misses writes with ts_us % 7 == 3, B misses
# ts_us % 11 == 5 — overlapping, mostly-in-sync cell sets.
# ---------------------------------------------------------------------------

_REPAIR_RANGES = 64

# DuckDB rendering of operators/repair.py cell_digest64 + key_range
# over the cells CTE (ttl reconstructed: derived_cells sets 86400 on
# EXPIRING cells, NULL otherwise).  Every field carries the operator's
# '*' NULL sentinel so the rendering never shifts on a NULL segment.
_REPAIR_CANON = f"""
canon AS (
    SELECT (ts_us % 7 != 3)  AS in_a,
           (ts_us % 11 != 5) AS in_b,
           key_str, name_str, state, data_str, ts_us, generation,
           CAST(('0x' || substr(md5(
               coalesce(to_base64(encode(key_str)), '*') || ':'
               || coalesce(to_base64(encode(name_str)), '*') || ':'
               || coalesce(state, '*') || ':'
               || coalesce(to_base64(encode(data_str)), '*') || ':'
               || coalesce(CAST(ts_us AS VARCHAR), '*') || ':'
               || CASE WHEN state = 'EXPIRING' THEN '86400'
                       ELSE '*' END || ':'
               || coalesce(CAST(expiration AS VARCHAR), '*') || ':'
               || coalesce(CAST(generation AS VARCHAR), '*')),
               1, 15)) AS BIGINT)
               AS digest,
           CAST(CAST(('0x' || substr(md5(
               coalesce(to_base64(encode(key_str)), '*')),
               1, 15)) AS BIGINT)
                % {_REPAIR_RANGES} AS INT) AS range_id
    FROM cells
),
da AS (SELECT range_id, bit_xor(digest) AS digest_a,
              count(*) AS n_a
       FROM canon WHERE in_a GROUP BY range_id),
db AS (SELECT range_id, bit_xor(digest) AS digest_b,
              count(*) AS n_b
       FROM canon WHERE in_b GROUP BY range_id)
"""


def _replica_cells(spark: SparkSession, sf_dir: str):
    cells = derived_cells(spark, sf_dir)
    a = cells.filter(F.col("timestamp") % 7 != 3)
    b = cells.filter(F.col("timestamp") % 11 != 5)
    return a, b


@query("replica_merkle_report", oracle=f"""
{_CELLS_CTE},
{_REPAIR_CANON}
SELECT coalesce(da.range_id, db.range_id) AS range_id,
       coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b,
       coalesce(digest_a, 0) AS digest_a,
       coalesce(digest_b, 0) AS digest_b,
       (coalesce(digest_a, 0) = coalesce(digest_b, 0)
        AND coalesce(n_a, 0) = coalesce(n_b, 0)) AS in_sync
FROM da FULL JOIN db ON da.range_id = db.range_id
""")
def replica_merkle_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10 anti-entropy detection (operators/repair.py merkle_report):
    each replica reduces to a 64-row digest table — ONE aggregation
    exchange apiece, output O(n_ranges) at any corpus size — and the
    comparison is a 64x64 join.  The oracle rebuilds every 60-bit
    xor digest bit-for-bit, so a digest that ever depended on row
    order, partitioning, or a NULL-skipping concat would
    hash-mismatch."""
    from sstable_hadoop_spark.operators.repair import merkle_report

    a, b = _replica_cells(spark, sf_dir)
    return merkle_report(a, b, _REPAIR_RANGES)


@query("replica_repair_stream", oracle=f"""
{_CELLS_CTE},
{_REPAIR_CANON},
bad AS (
    SELECT coalesce(da.range_id, db.range_id) AS range_id
    FROM da FULL JOIN db ON da.range_id = db.range_id
    WHERE NOT (coalesce(digest_a, 0) = coalesce(digest_b, 0)
               AND coalesce(n_a, 0) = coalesce(n_b, 0)))
SELECT 'a_to_b' AS direction, key_str, name_str, state,
       coalesce(data_str, '') AS data_str, ts_us, generation
FROM canon JOIN bad USING (range_id)
WHERE in_a AND digest NOT IN (SELECT digest FROM canon WHERE in_b)
UNION ALL
SELECT 'b_to_a' AS direction, key_str, name_str, state,
       coalesce(data_str, '') AS data_str, ts_us, generation
FROM canon JOIN bad USING (range_id)
WHERE in_b AND digest NOT IN (SELECT digest FROM canon WHERE in_a)
""")
def replica_repair_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10 anti-entropy streaming (operators/repair.py repair_stream):
    cells each replica must send the other, gated by the Merkle
    comparison — out-of-sync range ids are broadcast-semi-joined
    against both replicas BEFORE the full-cell-digest anti join, so
    in-sync ranges never reach a shuffle (with 0.1 % drift at 100 TB,
    the anti join moves 0.1 % of the data).  The gate is part of the
    contract: the oracle applies the identical digest gate, so both
    engines share the same (cryptographically unlikely) collision
    blindness rather than the Spark side silently pruning more than
    the semantics allow."""
    from sstable_hadoop_spark.operators.repair import repair_stream

    a, b = _replica_cells(spark, sf_dir)
    out = repair_stream(a, b, _REPAIR_RANGES)
    return out.select(
        "direction",
        F.decode(F.col("key"), "UTF-8").alias("key_str"),
        F.decode(F.col("name"), "UTF-8").alias("name_str"),
        F.col("state"),
        F.coalesce(F.decode(F.col("data"), "UTF-8"), F.lit(""))
         .alias("data_str"),
        F.col("timestamp").alias("ts_us"),
        F.col("generation"))


@query("events_ewma_smooth", oracle="""
WITH RECURSIVE obs AS (
    SELECT user_id, epoch_us(ts) AS ts_us,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_c,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY epoch_us(ts), event_id) AS rn
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
),
r AS (
    SELECT user_id, ts_us, rn, v_c, v_c AS s FROM obs WHERE rn = 1
    UNION ALL
    SELECT o.user_id, o.ts_us, o.rn, o.v_c,
           (o.v_c + 7 * r.s) // 8
    FROM obs o JOIN r ON o.user_id = r.user_id AND o.rn = r.rn + 1
)
SELECT user_id, ts_us, rn, v_c AS value_c, s AS ewma_c FROM r
""")
def events_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10 exact EWMA (operators/timeseries.py ewma_smooth): per-user
    alpha=1/8 smoothing as a pure-integer truncating recursion —
    non-linearizable (the truncation is inside every step), so it runs
    on the engine's custom-stateful path (applyInPandas, one key
    shuffle) while the oracle replays the identical trajectory with a
    recursive CTE.  Any divergence in ordering (ts ties break on
    event_id), quantization, or division semantics mismatches on the
    first affected key's every subsequent row."""
    from sstable_hadoop_spark.operators.timeseries import ewma_smooth

    ev = load(spark, sf_dir, "events")
    return ewma_smooth(ev, ts_us(ev, "ts"), "user_id", "value",
                       shift=3, tie_cols=("event_id",))


@query("stats_ols_price_on_qty", oracle="""
WITH q AS (
    SELECT l_returnflag,
           CAST(floor(l_quantity + 0.5) AS BIGINT) AS x,
           CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
    FROM lineitem
    WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
),
s AS (
    SELECT l_returnflag,
           CAST(count(*) AS HUGEINT) AS n,
           CAST(sum(x) AS HUGEINT) AS sx,
           CAST(sum(y) AS HUGEINT) AS sy,
           CAST(sum(x * x) AS HUGEINT) AS sxx,
           CAST(sum(x * y) AS HUGEINT) AS sxy
    FROM q GROUP BY l_returnflag
),
c AS (
    SELECT l_returnflag, n, sx, sy,
           n * sxy - sx * sy AS num,
           n * sxx - sx * sx AS den
    FROM s
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n,
       CASE WHEN den != 0
            THEN CAST((num * 1000000) // den AS BIGINT) END
           AS slope_micro,
       CASE WHEN den != 0
            THEN CAST((sy * 1000000
                       - ((num * 1000000) // den) * sx) // n AS BIGINT)
            END AS intercept_micro
FROM c
""")
def stats_ols_price_on_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10 exact OLS (operators/stats.py ols_fit): per-returnflag
    regression of extended price (cents) on quantity by integer
    normal equations — five DECIMAL(38,0) sums in ONE aggregation
    pass, coefficients as truncated micro-units.  The oracle replays
    the identical integer spec over HUGEINT, so a float anywhere in
    the pipeline (or a rounding-mode difference in the two divisions)
    hash-mismatches."""
    from sstable_hadoop_spark.operators.stats import ols_fit

    li = load(spark, sf_dir, "lineitem")
    return ols_fit(
        li.filter(F.col("l_quantity").isNotNull()
                  & F.col("l_extendedprice").isNotNull()),
        "l_returnflag",
        F.floor(F.col("l_quantity") + 0.5).cast("long"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long"))


@query("txlog_point_lookup", oracle="""
SELECT o_orderkey AS k, o_custkey AS cust,
       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS total_c
FROM orders
WHERE o_custkey IN (1, 7, 15, 22, 28)
""")
def txlog_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10 Bloom-indexed point lookup (operators/txlog.py
    txlog_read_point): the orders table logged with
    ``bloom_cols=("cust",)`` — NDV-adaptive per-file bitsets (~10
    bits per distinct value, crc32 double hashing; inline in the
    commit json up to 8 Ki bits, sidecar-spilled above) — then
    probed for five customer ids.  The table is
    bucketed/sorted by ORDER key, so min/max footer stats cannot skip
    a customer probe (every file's custkey range overlaps); the bloom
    prunes to the files actually holding the ids.  Pruning is an
    optimization only — the IN filter always applies — so the result
    must equal the oracle's plain scan+filter."""
    import hashlib
    import os

    from sstable_hadoop_spark.operators.txlog import (
        txlog_create,
        txlog_read_point,
    )

    h = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    orders = load(spark, sf_dir, "orders")

    def build(out: str) -> None:
        txlog_create(
            spark, os.path.join(out, "t"),
            orders.select(
                F.col("o_orderkey").alias("k"),
                F.col("o_custkey").alias("cust"),
                F.floor(F.col("o_totalprice") * 100 + 0.5)
                 .cast("long").alias("total_c")),
            bucket_by=("k",), n_buckets=8, sort_by=("k",),
            bloom_cols=("cust",))

    # tag v2: bloom entries became {"m","k","b64"|"sidecar"} dicts
    # (NDV-adaptive geometry) — v1 fixtures hold plain-b64 entries
    base = _idempotent_tmpdir("txlog_bloom2_" + h, build)
    return txlog_read_point(spark, os.path.join(base, "t"), "cust",
                            [1, 7, 15, 22, 28])


_BS_K, _BS_SEED = 30, "bsample"


@query("corpus_balanced_sample", oracle=f"""
WITH w AS (
    SELECT lang, doc_id, n_chars,
           CAST(('0x' || substr(md5('{_BS_SEED}:' || doc_id), 1, 15))
                AS BIGINT) AS h
    FROM documents
    WHERE lang IS NOT NULL AND doc_id IS NOT NULL
      AND n_chars IS NOT NULL AND n_chars > 0
),
k AS (
    SELECT lang, doc_id, n_chars,
           CAST(floor((floor(ln((h + 1) / 1152921504606846976.0)
                             * 1000000.0) / n_chars) * 1000.0)
                AS BIGINT) AS key_milli
    FROM w
)
SELECT lang, doc_id, n_chars, key_milli, rk FROM (
    SELECT *, CAST(row_number() OVER (
        PARTITION BY lang ORDER BY key_milli DESC, doc_id) AS INT)
        AS rk
    FROM k
) WHERE rk <= {_BS_K}
""")
def corpus_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10 class-balanced sampling (operators/corpus.py
    balanced_sample): exactly min(30, class size) docs PER LANGUAGE,
    weighted by n_chars via the Efraimidis-Spirakis key — the
    fixed-count-per-class primitive fraction-based stratification
    cannot give.  One group exchange; rank<=k plans as
    WindowGroupLimit (map-side per-group pruning before the shuffle).
    The oracle replays the hash→ln(u)/w→rank chain bit-for-bit, so
    the SELECTED SETS match, not just their sizes."""
    from sstable_hadoop_spark.operators.corpus import balanced_sample

    docs = load(spark, sf_dir, "documents")
    return balanced_sample(docs, _BS_K, by=("lang",),
                           weight_col="n_chars", seed=_BS_SEED)


@query("txlog_ivm_join_rollup", oracle="""
WITH dim AS (
    SELECT c_custkey AS cust,
           CASE WHEN c_custkey % 7 = 0 THEN 'MOVED'
                ELSE c_mktsegment END AS seg
    FROM customer
),
fact AS (
    SELECT o_orderkey AS k, o_custkey AS cust,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS total_c
    FROM orders
)
SELECT seg, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(total_c) AS BIGINT) AS rev_c
FROM fact JOIN dim USING (cust) GROUP BY seg
""")
def txlog_ivm_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10 incremental view maintenance (operators/ivm.py): a
    revenue-by-segment rollup over fact(orders)⋈dim(customer) logged
    tables, maintained through a fact insert wave (the k%5 orders
    arrive) AND a dim reclassification (every 7th customer moves to
    segment MOVED) WITHOUT recomputing — signed delta-join algebra
    (ΔF⋈D_old + F_new⋈ΔD) folded into the stored rollup.  The oracle
    computes the final view directly from the final table contents,
    so any sign error, missed cross term, or double-counted group
    hash-mismatches.  Data plane: the fact insert term reads only the
    fact change feed; the dim term's fact scan prunes to the buckets
    the changed customer keys hash into (fact is bucketed by cust)."""
    import hashlib
    import os

    from sstable_hadoop_spark.operators.ivm import (
        incremental_join_rollup,
        join_rollup,
    )
    from sstable_hadoop_spark.operators.txlog import (
        txlog_create,
        txlog_upsert,
    )

    h = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    fact = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("cust"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
         .alias("total_c"))
    dim = cust.select(F.col("c_custkey").alias("cust"),
                      F.col("c_mktsegment").alias("seg"))

    def build(out: str) -> None:
        txlog_create(spark, os.path.join(out, "fact"),
                     fact.filter(F.col("k") % 5 != 0),
                     ("cust",), 8)
        txlog_create(spark, os.path.join(out, "dim"), dim,
                     ("cust",), 4)

    base = _idempotent_tmpdir("txlog_ivm_" + h, build)
    fp, dp = os.path.join(base, "fact"), os.path.join(base, "dim")
    stored = join_rollup(spark, fp, dp, "cust", ["seg"],
                         {"rev_c": "total_c"},
                         fact_version=1, dim_version=1)

    def merge_fact(s, d):
        return s.unionByName(d).groupBy("k").agg(
            F.max("cust").alias("cust"),
            F.max("total_c").alias("total_c"))

    def merge_dim(s, d):
        d2 = d.select(F.col("cust").alias("c2"),
                      F.col("seg").alias("s2"))
        return (s.join(d2, F.col("cust") == F.col("c2"), "full")
                 .select(F.coalesce("cust", "c2").alias("cust"),
                         F.coalesce("s2", "seg").alias("seg")))

    txlog_upsert(spark, fp, fact.filter(F.col("k") % 5 == 0),
                 merge_fact, ("cust",), 8)
    txlog_upsert(spark, dp,
                 dim.filter(F.col("cust") % 7 == 0)
                    .withColumn("seg", F.lit("MOVED")),
                 merge_dim, ("cust",), 4)
    return incremental_join_rollup(
        spark, fp, dp, stored, "cust", ["seg"], {"rev_c": "total_c"},
        fact_from=1, dim_from=1)


@query("join_skew_split_users", oracle="""
SELECT c.c_mktsegment AS seg,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS value_c
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
""")
def join_skew_split_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10 hot-key-split join (operators/skew.py skew_join): events ⋈
    customer on user id with three declared hot users taking a
    broadcast leg while the rest hash-join — ROW-IDENTICAL to the
    plain join by construction (which leg a key takes can never
    change the result; the oracle IS the plain join).  The production
    shape for power-law keys: the hot key's flood never lands on one
    sort-merge task."""
    from sstable_hadoop_spark.operators.skew import skew_join

    ev = load(spark, sf_dir, "events")
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("seg"))
    j = skew_join(
        ev.select("user_id",
                  F.floor(F.col("value") * 100 + 0.5).cast("long")
                   .alias("value_c")),
        cust, on="user_id", how="inner", hot_keys=[1, 2, 3])
    return j.groupBy("seg").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("value_c").cast("long").alias("value_c"))


# ---------------------------------------------------------------------------
# r11 rows: the six r10 pytest-only surfaces get their driver oracles
# (VERDICT r10 next-round #1).
# ---------------------------------------------------------------------------


@query("txlog_zone_map_range", oracle="""
SELECT o_orderkey AS k, o_custkey AS cust,
       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS total_c
FROM orders
WHERE o_custkey BETWEEN 100 AND 500
""")
def txlog_zone_map_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11 second-dimension zone-map probe (operators/txlog.py
    txlog_read_range ``col=``): the orders table logged with
    ``stats_cols=("cust",)`` — per-file min/max zone maps journaled
    for a column BEYOND the sort key — then range-probed on cust.
    The semantics contract under certification: pruning is an
    optimization only (files without stats, or whose range overlaps,
    read defensively; the BETWEEN filter always applies), so the
    result must equal the oracle's plain scan+filter.  Pruning
    EFFECTIVENESS needs a layout correlated with the probe column
    (an ingest stamp, a z-order component) and is pytest-pinned on
    such layouts (tests/test_txlog.py multi-column zone maps); this
    fixture's hash-bucketed layout spreads cust across every file on
    purpose — the worst case the defensive-read rule must survive."""
    import hashlib
    import os

    from sstable_hadoop_spark.operators.txlog import (
        txlog_create,
        txlog_read_range,
    )

    h = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    orders = load(spark, sf_dir, "orders")

    def build(out: str) -> None:
        txlog_create(
            spark, os.path.join(out, "t"),
            orders.select(
                F.col("o_orderkey").alias("k"),
                F.col("o_custkey").alias("cust"),
                F.floor(F.col("o_totalprice") * 100 + 0.5)
                 .cast("long").alias("total_c")),
            bucket_by=("k",), n_buckets=8, sort_by=("k",),
            stats_cols=("cust",))

    base = _idempotent_tmpdir("txlog_zone_" + h, build)
    return txlog_read_range(spark, os.path.join(base, "t"),
                            100, 500, col="cust")


@query("txlog_ivm_left_rollup", oracle="""
WITH dim AS (
    SELECT c_custkey AS cust,
           CASE WHEN c_custkey % 3 = 0 THEN 'NEW'
                ELSE c_mktsegment END AS seg
    FROM customer
    WHERE (c_custkey % 3 != 0 OR c_custkey % 2 = 0)
      AND c_custkey % 7 != 0
),
fact AS (
    SELECT o_orderkey AS k, o_custkey AS cust,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS total_c
    FROM orders
)
SELECT seg, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(total_c) AS BIGINT) AS rev_c
FROM fact LEFT JOIN dim USING (cust) GROUP BY seg
""")
def txlog_ivm_left_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11 LEFT-join view maintenance (operators/ivm.py
    incremental_join_rollup ``how="left"``): the rollup keeps a NULL
    group for DANGLING facts (orders whose customer is not in the
    dim), and the maintenance handles both dangling-fact deltas and
    dim PRESENCE FLIPS — customers entering the dim move their facts
    out of the NULL group (sign −1), customers deleted from it move
    theirs in (+1).  Fixture timeline: dim v1 holds cust%3!=0; a
    fact insert wave lands (k%5 orders, many with dangling custs); a
    dim insert wave admits the even cust%3==0 keys as segment NEW; a
    dim delete wave evicts every cust%7==0 key.  The maintained
    rollup must equal the oracle's left join over the FINAL table
    contents — a missed flip direction, a sign error on the NULL
    group, or a double-counted cross term hash-mismatches.  Data
    plane: fact deltas come from the change feed; the dim-side fact
    scan prunes to the changed keys' buckets (fact bucketed by
    cust)."""
    import hashlib
    import os

    from sstable_hadoop_spark.operators.ivm import (
        incremental_join_rollup,
        join_rollup,
    )
    from sstable_hadoop_spark.operators.txlog import (
        txlog_create,
        txlog_merge,
        txlog_upsert,
    )

    h = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    fact = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("cust"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
         .alias("total_c"))
    dim = cust.select(F.col("c_custkey").alias("cust"),
                      F.col("c_mktsegment").alias("seg"))

    def build(out: str) -> None:
        txlog_create(spark, os.path.join(out, "fact"),
                     fact.filter(F.col("k") % 5 != 0),
                     ("cust",), 8)
        txlog_create(spark, os.path.join(out, "dim"),
                     dim.filter(F.col("cust") % 3 != 0),
                     ("cust",), 4)

    base = _idempotent_tmpdir("txlog_ivm_left_" + h, build)
    fp, dp = os.path.join(base, "fact"), os.path.join(base, "dim")
    stored = join_rollup(spark, fp, dp, "cust", ["seg"],
                         {"rev_c": "total_c"},
                         fact_version=1, dim_version=1, how="left")

    def merge_fact(s, d):
        return s.unionByName(d).groupBy("k").agg(
            F.max("cust").alias("cust"),
            F.max("total_c").alias("total_c"))

    # each wave is content-idempotent (re-runs re-match their prior
    # inserts / re-ignore absent delete keys), so the row is
    # driver-stable while the log audits every run
    txlog_upsert(spark, fp, fact.filter(F.col("k") % 5 == 0),
                 merge_fact, ("cust",), 8)
    entering = (dim.filter((F.col("cust") % 3 == 0)
                           & (F.col("cust") % 2 == 0))
                   .withColumn("seg", F.lit("NEW")))
    txlog_merge(spark, dp, entering, ["cust"], ("cust",), 4)
    leaving = dim.filter(F.col("cust") % 7 == 0).select("cust")
    txlog_merge(spark, dp, leaving, ["cust"], ("cust",), 4,
                when_matched="delete", when_not_matched="ignore")
    return incremental_join_rollup(
        spark, fp, dp, stored, "cust", ["seg"], {"rev_c": "total_c"},
        fact_from=1, dim_from=1, how="left")


def _hll_registers_oracle(p: int) -> str:
    m = 1 << p
    rmax = 61 - p
    return f"""
WITH h AS (
    SELECT event_type,
           CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
                AS BIGINT) AS h
    FROM events WHERE event_id IS NOT NULL
),
pr AS (SELECT event_type, h % {m} AS bucket, h // {m} AS rem FROM h)
SELECT event_type, CAST(bucket AS INT) AS bucket,
       CAST(max(CASE WHEN rem = 0 THEN {rmax}
                ELSE {rmax} - length(bin(rem)) END) AS INT) AS rho
FROM pr GROUP BY event_type, bucket
"""


@query("txlog_ivm_distinct_hll", oracle=_hll_registers_oracle(_HLL_P))
def txlog_ivm_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11 incremental HLL maintenance (operators/ivm.py
    incremental_distinct_registers): per-event-type distinct-user
    register tables maintained from an APPEND-ONLY logged event
    stream — the change feed's inserts build their own registers and
    max-merge into the stored table, register-table EQUALITY with
    the full rebuild because registers form a max-semilattice.
    Fixture: events logged at v1 without the event_id%4==0 wave,
    stored registers built there, the wave appended, registers
    maintained from the feed.  The oracle rebuilds every register
    from ALL events, so the maintained table must be bit-identical
    to a from-scratch build — the dashboard-state shape where the
    raw history is never rescanned (cost: O(feed) + a
    |groups|x2^p-bounded merge).  A delete in the feed raises
    loudly (registers cannot subtract) — pytest-pinned."""
    import hashlib
    import os

    from sstable_hadoop_spark.operators.ivm import (
        incremental_distinct_registers,
    )
    from sstable_hadoop_spark.operators.sketch import hll_build_grouped
    from sstable_hadoop_spark.operators.txlog import (
        txlog_create,
        txlog_read,
        txlog_upsert,
    )

    h = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    ev = (load(spark, sf_dir, "events")
          .filter(F.col("event_id").isNotNull())
          .select("event_id", "event_type"))

    def build(out: str) -> None:
        txlog_create(spark, os.path.join(out, "t"),
                     ev.filter(F.col("event_id") % 4 != 0),
                     ("event_id",), 8)

    base = _idempotent_tmpdir("txlog_hll_" + h, build)
    path = os.path.join(base, "t")
    stored = hll_build_grouped(txlog_read(spark, path, 1),
                               "event_id", ["event_type"], p=_HLL_P)

    def merge_append(s, d):
        # distinct keeps re-runs content-identical (the appended wave
        # is already present) without changing any register: HLL is
        # multiplicity-blind, so collapsing exact-duplicate rows is
        # invisible to the maintained state
        return s.unionByName(d).distinct()

    txlog_upsert(spark, path, ev.filter(F.col("event_id") % 4 == 0),
                 merge_append, ("event_id",), 8)
    return incremental_distinct_registers(
        spark, path, stored, "event_id", ["event_type"],
        fact_from=1, p=_HLL_P)


@query("replica_repair_e2e", oracle=f"""
{_CELLS_CTE},
u AS (
    SELECT key_str, name_str, state,
           coalesce(data_str, '') AS data_str, ts_us, generation
    FROM cells
    WHERE NOT (ts_us % 7 = 3 AND ts_us % 11 = 5)
)
SELECT 'a' AS replica, * FROM u
UNION ALL
SELECT 'b' AS replica, * FROM u
""")
def replica_repair_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11 anti-entropy repair CLOSED over real SSTable directories
    (operators/repair.py repair_replicas): replica A (missing the
    ts%7==3 writes) and replica B (missing ts%11==5) are written as
    real multi-generation SSTable files, repaired through the Merkle
    gate + distributed sink, and read back — BOTH directories must
    then hold the exact cell-set UNION (cells absent from both stay
    absent), generations and timestamps preserved end-to-end because
    streamed cells write per-generation families.  Repair runs once
    in the fixture build and is idempotent (a re-run streams
    nothing — pytest-pinned with exact per-direction counts); the
    driver row certifies the post-repair convergence against the
    oracle's set-union derivation every round."""
    import hashlib
    import os

    from sstable_hadoop_spark.operators.repair import repair_replicas
    from sstable_hadoop_spark.sources.datasource import register

    register(spark)
    cells = derived_cells(spark, sf_dir)

    def build(out: str) -> None:
        for name, keep in (
                ("a", F.col("timestamp") % 7 != 3),
                ("b", F.col("timestamp") % 11 != 5)):
            d = os.path.join(out, name)
            os.makedirs(d)
            (collect_rows(cells.filter(keep), by_generation=True)
             .write.format("sstable").option("path", d)
             .option("name", "events-cf")
             .mode("append").save())
        repair_replicas(spark, os.path.join(out, "a"),
                        os.path.join(out, "b"), n_ranges=_REPAIR_RANGES)

    tag = "repair_e2e_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    out = _idempotent_tmpdir(tag, build)

    def replica(name: str) -> DataFrame:
        cells = explode_cells(
            spark.read.format("sstable").load(os.path.join(out, name)))
        return cells.select(
            F.lit(name).alias("replica"),
            F.decode(F.col("key"), "UTF-8").alias("key_str"),
            F.decode(F.col("name"), "UTF-8").alias("name_str"),
            F.col("state"),
            F.coalesce(F.decode(F.col("data"), "UTF-8"), F.lit(""))
             .alias("data_str"),
            F.col("timestamp").alias("ts_us"),
            F.col("generation"))

    return replica("a").unionByName(replica("b"))


@query("streaming_ewma_smooth", oracle="""
WITH RECURSIVE obs AS (
    SELECT user_id, epoch_us(ts) AS ts_us,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_c,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY epoch_us(ts), event_id) AS rn
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
),
r AS (
    SELECT user_id, ts_us, rn, v_c, v_c AS s FROM obs WHERE rn = 1
    UNION ALL
    SELECT o.user_id, o.ts_us, o.rn, o.v_c,
           (o.v_c + 7 * r.s) // 8
    FROM obs o JOIN r ON o.user_id = r.user_id AND o.rn = r.rn + 1
)
SELECT user_id, ts_us, rn, v_c AS value_c, s AS ewma_c,
       false AS late
FROM r
""")
def streaming_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11 streaming exact EWMA (streaming/ewma_stream.py
    ewma_stream): the events feed, split into 4 TIME-ORDERED
    micro-batches (event-time quartiles, so every key's arrivals are
    non-decreasing ACROSS batches — the ordering contract an
    order-sensitive fold requires of its ingest log), folded through
    applyInPandasWithState with three integers of state per key.  The
    drained trajectory must be BIT-IDENTICAL to the batch operator's
    recursive oracle — same truncating recursion, same (ts, event_id)
    tie order, rn numbering continuous across batch boundaries — and
    every row on-time (late=false): quartile chunking cannot reorder
    a key.  State is constant-size per key; per batch the work is
    linear in arrivals."""
    import hashlib
    import os

    from sstable_hadoop_spark.streaming.ewma_stream import ewma_stream

    ev = load(spark, sf_dir, "events")
    us = ts_us(ev, "ts")
    feed = (ev.filter(F.col("user_id").isNotNull()
                      & F.col("ts").isNotNull()
                      & F.col("value").isNotNull())
              .select("user_id", us.alias("ts_us"), "value",
                      "event_id"))

    def build(out: str) -> None:
        b = feed.agg(F.min("ts_us").alias("lo"),
                     F.max("ts_us").alias("hi")).collect()[0]
        lo, hi = int(b["lo"]), int(b["hi"])
        src = os.path.join(out, "src")
        for i in range(4):
            chunk = feed.filter(
                F.expr(f"((ts_us - {lo}) * 4) div ({hi} - {lo} + 1)")
                == i)
            p = os.path.join(src, f"chunk{i}")
            chunk.coalesce(1).write.parquet(p)
            for f in os.listdir(p):
                os.utime(os.path.join(p, f),
                         ((i + 1) * 1000, (i + 1) * 1000))
        stream = (spark.readStream
                  .schema("user_id long, ts_us long, value double, "
                          "event_id long")
                  .option("maxFilesPerTrigger", "1")
                  .parquet(os.path.join(src, "chunk*")))
        smoothed = ewma_stream(stream, "ts_us", "user_id", "value",
                               shift=3, tie_cols=("event_id",))
        _drain_stream(spark, lambda: (
            smoothed.writeStream.format("parquet")
            .option("path", os.path.join(out, "sink"))
            .option("checkpointLocation", os.path.join(out, "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True).start()))

    tag = ("ewma_stream_"
           + hashlib.md5(sf_dir.encode()).hexdigest()[:10])
    out = _idempotent_tmpdir(tag, build)
    return spark.read.parquet(os.path.join(out, "sink"))


@query("join_skew_auto_users", oracle="""
SELECT coalesce(c.c_mktsegment, 'NONE') AS seg,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS value_c
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1
""")
def join_skew_auto_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11 hot-key AUTO-detection (operators/skew.py skew_join with
    ``hot_keys=None``): the detector reads only the first Arrow batch
    of each partition (O(partitions) at any scale) and routes keys
    above 5 percent of the sample to the broadcast leg — and which
    leg a key takes can NEVER change the result, so the oracle is the
    plain LEFT join regardless of what the sample saw (a detection
    miss costs speed, not correctness — the property this row pins
    every round).  The left-retaining path is exercised too: events
    with no matching customer survive under segment NONE.  (r12: a
    metadata size gate answers "no hot keys" without probe jobs when
    the left side is below AQE's skewed-partition threshold — the
    certified property is exactly that such decisions cannot change
    the result.)"""
    from sstable_hadoop_spark.operators.skew import skew_join

    ev = load(spark, sf_dir, "events")
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("seg"))
    j = skew_join(
        ev.select("user_id",
                  F.floor(F.col("value") * 100 + 0.5).cast("long")
                   .alias("value_c")),
        cust, on="user_id", how="left", hot_keys=None)
    return j.groupBy(F.coalesce("seg", F.lit("NONE")).alias("seg")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("value_c").cast("long").alias("value_c"))


# ---------------------------------------------------------------------------
# r12 rows: the six committed r11 pytest-only surfaces get their driver
# oracles (VERDICT r11 next-round #1; census in SKILL.md r12 note).
# ---------------------------------------------------------------------------


@query("docs_link_pagerank_bucketed", oracle=_pagerank_oracle(5, 50))
def docs_link_pagerank_bucketed(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """r11 pre-bucketed PageRank (operators/graph.py
    stage_pagerank_edges + pagerank_bucketed): the edge-side shuffle
    is paid ONCE at layout time — the fan table ``(_src, _dst, _w,
    _d)`` lands as a catalog-declared bucketed table CLUSTERED BY
    ``_src`` — and every iteration's edge-side join then plans ZERO
    exchanges (plan-asserted in tests/test_graph.py); only the
    node-sized ranks move, O(|V|) per iteration instead of O(|E|).
    Ranks are BIT-IDENTICAL to the in-memory ``pagerank`` path (same
    integer recursion; partitioning never changes integer results),
    so the oracle is the SAME unrolled r0..r5 CTE chain that
    certifies ``docs_link_pagerank`` — one oracle, two physical
    strategies, byte-equal answers."""
    import hashlib
    import os

    from sstable_hadoop_spark.operators.graph import (
        pagerank_bucketed,
        stage_pagerank_edges,
    )
    from sstable_hadoop_spark.operators.layout import bucketed_table

    h = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    docs = load(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    fanout = spark.createDataFrame([(1,), (2,), (3,)], "j long")
    edges = (docs.select("doc_id")
                 .crossJoin(F.broadcast(n))
                 .crossJoin(F.broadcast(fanout))
                 .select(F.col("doc_id").alias("src"),
                         ((F.col("doc_id") * 31 + F.col("j") * 7919)
                          % F.col("_n")).alias("dst")))
    table = f"pagerank_fan_{h}"

    def build(out: str) -> None:
        stage_pagerank_edges(spark, edges, os.path.join(out, "fan"),
                             table, 8)

    base = _idempotent_tmpdir("pagerank_fan_" + h, build)
    fan = bucketed_table(
        spark, table, os.path.join(base, "fan"),
        "_src bigint, _dst bigint, _w bigint, _d bigint",
        ("_src",), 8, sort_by=("_src",))
    ranks = pagerank_bucketed(fan, n_iter=5)
    return ranks.orderBy(F.desc("rank"), F.asc("id")).limit(50)


@query("orders_scd2_bucketed_apply", oracle="""
WITH o AS (
    SELECT o_orderkey AS k, o_orderstatus AS status,
           o_orderpriority AS prio
    FROM orders),
base AS (SELECT * FROM o WHERE k % 7 < 6),
snap AS (
    SELECT k, CASE WHEN k % 5 = 0 THEN 'X' ELSE status END AS status,
           prio
    FROM o WHERE k % 11 <> 0)
SELECT k, status, prio,
       CAST(valid_from_us AS BIGINT) AS valid_from_us,
       CAST(valid_to_us AS BIGINT) AS valid_to_us
FROM (
    SELECT b.k, b.status, b.prio, 1000000 AS valid_from_us,
           2000000 AS valid_to_us
    FROM base b LEFT JOIN snap s ON s.k = b.k
    WHERE s.k IS NULL OR s.status <> b.status OR s.prio <> b.prio
    UNION ALL
    SELECT b.k, b.status, b.prio, 1000000, NULL
    FROM base b JOIN snap s ON s.k = b.k AND s.status = b.status
                           AND s.prio = b.prio
    UNION ALL
    SELECT s.k, s.status, s.prio, 2000000, NULL
    FROM snap s LEFT JOIN base b ON b.k = s.k
    WHERE b.k IS NULL OR b.status <> s.status OR b.prio <> s.prio)
""")
def orders_scd2_bucketed_apply(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """r11 CO-LOCATED SCD2 apply (VERDICT r10 #8): the dimension AND
    the daily snapshot live as txlog tables bucketed by the key, read
    back through ``txlog_read_bucketed`` (catalog-declared CLUSTERED
    BY), and ``scd2_apply(null_safe_keys=False)`` — plain ``=`` keys
    instead of ``<=>``, which plans as coalesce/isnull partitioning
    bucketing can never satisfy — runs its open-rows x snapshot
    full-outer join with ZERO exchanges (plan-asserted in
    tests/test_scd.py).  Content is IDENTICAL to the unbucketed
    ``orders_scd2_history`` row by construction (same snapshots, same
    stamps), so the oracle is that row's three-way categorized
    derivation verbatim: the daily-dimension shape at 100 TB, where
    history depth never re-shuffles, certified against the same SQL
    as the shuffling plan."""
    import hashlib
    import os

    from sstable_hadoop_spark.operators.scd import scd2_apply, scd2_init
    from sstable_hadoop_spark.operators.txlog import (
        txlog_create,
        txlog_read_bucketed,
    )

    h = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("prio"))
    base = o.filter(F.col("k") % 7 < 6)
    snap = (o.filter(F.col("k") % 11 != 0)
             .withColumn("status",
                         F.when(F.col("k") % 5 == 0, F.lit("X"))
                          .otherwise(F.col("status"))))

    def build(out: str) -> None:
        txlog_create(spark, os.path.join(out, "dim"),
                     scd2_init(base, as_of_us=1000000),
                     ("k",), 8, sort_by=("k",))
        txlog_create(spark, os.path.join(out, "snap"), snap,
                     ("k",), 8, sort_by=("k",))

    root = _idempotent_tmpdir("scd2_bkt_" + h, build)
    dim_b = txlog_read_bucketed(spark, os.path.join(root, "dim"),
                                f"scd2_dim_{h}")
    snap_b = txlog_read_bucketed(spark, os.path.join(root, "snap"),
                                 f"scd2_snap_{h}")
    return scd2_apply(dim_b, snap_b, ["k"], as_of_us=2000000,
                      null_safe_keys=False)


_SEMDECON_TAU = 0.9


def _semantic_decontaminate_oracle() -> str:
    """Semantic-decontamination replica (the ``dedup_semantic`` CTE
    machinery with a seeded BENCHMARK side): corpus = the embeddings
    table; benchmark = one-component perturbations (cos ~0.999) of
    every 13th vector.  Both sides take their argmax IVF cell (ties
    to the larger cell — the engine's rule) over the same 16 inlined
    md5 pseudo-centroids, and a corpus row dies iff a same-cell
    benchmark vector scores cosine >= tau.  The tau margin is
    structural (seeded pairs ~0.999, densest organic pair ~0.55
    measured at every SF), so an engine ulp can never flip an
    admission."""
    from sstable_hadoop_spark.operators.similarity import _hyperplanes

    n_centroids, dim = 16, 64
    cents = _hyperplanes(dim, n_centroids, seed="ivf")
    dot_cols = ",\n           ".join(
        "(" + " + ".join(f"e[{d + 1}]*{cent[d]!r}" for d in range(dim))
        + f") AS d_{c}"
        for c, cent in enumerate(cents))
    cells = ", ".join("{'d': d_%d, 'cell': %d}" % (c, c)
                      for c in range(n_centroids))
    return f"""
WITH corpus AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
bench AS (
    SELECT vec_id + 500000 AS vec_id,
           list_concat([e[1] + 0.05], e[2:{dim}]) AS e
    FROM corpus WHERE vec_id % 13 = 0),
cdots AS (SELECT vec_id, {dot_cols} FROM corpus),
bdots AS (SELECT vec_id, {dot_cols} FROM bench),
cranked AS (
    SELECT vec_id, u.cell,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY u.d DESC, u.cell DESC) AS rk
    FROM cdots, unnest([{cells}]) AS t(u)),
branked AS (
    SELECT vec_id, u.cell,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY u.d DESC, u.cell DESC) AS rk
    FROM bdots, unnest([{cells}]) AS t(u)),
ccell AS (SELECT vec_id, cell FROM cranked WHERE rk = 1),
bcell AS (SELECT vec_id, cell FROM branked WHERE rk = 1),
dirty AS (
    SELECT DISTINCT cc.vec_id
    FROM ccell cc
    JOIN bcell bc ON bc.cell = cc.cell
    JOIN corpus c ON c.vec_id = cc.vec_id
    JOIN bench b ON b.vec_id = bc.vec_id
    WHERE list_cosine_similarity(c.e, b.e) >= {_SEMDECON_TAU})
SELECT c.vec_id, CAST(cc.cell AS INTEGER) AS cell,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER)
           AS kept
FROM corpus c
JOIN ccell cc USING (vec_id)
LEFT JOIN dirty d ON d.vec_id = c.vec_id
"""


@query("corpus_semantic_decontaminate",
       oracle=_semantic_decontaminate_oracle())
def corpus_semantic_decontaminate(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """r11 embedding-space benchmark decontamination (operators/
    corpus.py semantic_decontaminate) — the semantic twin of the
    n-gram ``corpus_decontaminate`` row: paraphrased or reformatted
    eval items that verbatim-overlap checks miss are caught in vector
    space.  Corpus rows take their argmax IVF cell in pure codegen
    (no shuffle); the benchmark — perturbed copies of every 13th
    corpus vector, cos ~0.999 — fans to its probe cells and
    BROADCASTS, so the candidate check is a broadcast equi-join on
    the cell key and the corpus never shuffles (plan-asserted in
    tests/test_extensions.py).  The audit view (flag_only) certifies
    keeps AND drops in one row set."""
    from sstable_hadoop_spark.operators.corpus import (
        semantic_decontaminate,
    )

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding",
                    lambda x: x.cast("double")).alias("embedding"))
    bench = emb.filter(F.col("vec_id") % 13 == 0).select(
        (F.col("vec_id") + 500000).alias("vec_id"),
        F.concat(F.array(F.element_at("embedding", 1) + F.lit(0.05)),
                 F.slice("embedding", 2, 63)).alias("embedding"))
    out = semantic_decontaminate(emb, bench, tau=_SEMDECON_TAU,
                                 flag_only=True)
    return out.select("vec_id",
                      F.col("cell").cast("int").alias("cell"),
                      F.col("kept").cast("int").alias("kept"))


@query("txlog_append_roundtrip", oracle="""
SELECT o_orderkey AS k, o_custkey AS cust,
       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS total_c
FROM orders
""")
def txlog_append_roundtrip(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """r11 PURE-APPEND commits (operators/txlog.py txlog_append): the
    orders table bootstraps with k%7<5, then two appends land the
    k%7=5 and k%7=6 slices as NEW bucket files — nothing read,
    nothing rewritten, commit cost O(delta) at any table size, and
    concurrent appends never conflict (pytest pins the race).  The
    read must see base ∪ append₁ ∪ append₂ exactly — the whole
    orders table — with rows appended AS GIVEN (append is not
    upsert).  This is the ingest primitive the O(batch) incremental
    consumers (diff feeds, IVM, matviews) build on."""
    import hashlib
    import os

    from sstable_hadoop_spark.operators.txlog import (
        txlog_append,
        txlog_create,
        txlog_read,
    )

    h = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("cust"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
         .alias("total_c"))

    def build(out: str) -> None:
        t = os.path.join(out, "t")
        txlog_create(spark, t, o.filter(F.col("k") % 7 < 5),
                     ("k",), 8, sort_by=("k",))
        txlog_append(spark, t, o.filter(F.col("k") % 7 == 5),
                     sort_by=("k",))
        txlog_append(spark, t, o.filter(F.col("k") % 7 == 6),
                     sort_by=("k",))

    base = _idempotent_tmpdir("txlog_append_" + h, build)
    return txlog_read(spark, os.path.join(base, "t"))


@query("txlog_append_stream_replay", oracle="""
SELECT o_orderkey AS k, CAST(o_orderkey % 7 AS BIGINT) AS v
FROM orders
""")
def txlog_append_stream_replay(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """r11 txn-tagged streaming append ingest (streaming/compaction.py
    append_stream_to_txlog): a 4-file stream drains into a txlog
    table as pure appends, each commit journaling ``(txn_app,
    batch_id)`` — Delta's idempotent-writes pattern, because an
    append is NOT content-idempotent and exactly-once must be
    transactional.  The fixture then REPLAYS the whole stream from a
    FRESH checkpoint under the same txn_app and raises inside build()
    if the log advanced (the repair_e2e already-converged-fixture
    pattern), so a cached green row certifies both the ingest content
    and the replay no-op.  The read must equal the flat source —
    every row exactly once."""
    import hashlib
    import os

    from sstable_hadoop_spark.operators.txlog import (
        txlog_read,
        txlog_snapshot,
    )
    from sstable_hadoop_spark.streaming.compaction import (
        append_stream_to_txlog,
    )

    h = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    rows = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_orderkey") % 7).cast("long").alias("v"))

    def build(out: str) -> None:
        src = os.path.join(out, "src")
        rows.repartition(4).write.parquet(src)
        table = os.path.join(out, "t")

        def drain(ckpt: str) -> None:
            stream = (spark.readStream.schema("k long, v long")
                      .option("maxFilesPerTrigger", "1").parquet(src))
            _drain_stream(spark, lambda: append_stream_to_txlog(
                stream, table, os.path.join(out, ckpt),
                bucket_by=("k",), n_buckets=8, sort_by=("k",),
                txn_app="driver-append"))

        drain("ckpt1")
        v1 = txlog_snapshot(table)["version"]
        drain("ckpt2")  # full replay from a fresh checkpoint
        if txlog_snapshot(table)["version"] != v1:
            raise AssertionError(
                "replayed append advanced the log: exactly-once broke")

    base = _idempotent_tmpdir("txlog_appstream_" + h, build)
    return txlog_read(spark, os.path.join(base, "t"))


@query("stats_ols_degenerate", oracle="""
WITH src AS (
    SELECT l_returnflag,
           CASE WHEN l_returnflag = 'A' THEN CAST(7 AS BIGINT)
                ELSE CAST(floor(l_quantity + 0.5) AS BIGINT)
           END AS x,
           CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
    FROM lineitem
    WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
s AS (
    SELECT l_returnflag, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
           sum(x * x) AS sxx, sum(x * y) AS sxy
    FROM src GROUP BY l_returnflag),
c AS (
    SELECT l_returnflag, n, sx, sy,
           n * sxy - sx * sy AS num,
           n * sxx - sx * sx AS den
    FROM s)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n,
       CASE WHEN den != 0
            THEN CAST((num * 1000000) // den AS BIGINT) END
           AS slope_micro,
       CASE WHEN den != 0
            THEN CAST((sy * 1000000
                       - ((num * 1000000) // den) * sx) // n AS BIGINT)
            END AS intercept_micro,
       den = 0 AS degenerate
FROM c
""")
def stats_ols_degenerate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11 degenerate-fit flagging (ADVICE r10; operators/stats.py
    ols_fit ``flag_degenerate=True``): NULL coefficients have TWO
    causes — a degenerate group (den = 0: constant x, or n < 2, no
    fit exists) vs DECIMAL(38,0) overflow (the fit exists but the
    integer spec can't express it) — and the flag separates them so
    ``slope_micro IS NULL AND NOT degenerate`` identifies overflow.
    Return flag 'A' regresses on a CONSTANT x (den = n·49n − 49n² =
    0 exactly), pinning the degenerate branch; the other flags fit
    normally, pinning that the flag rides along without disturbing
    the certified integer spec."""
    from sstable_hadoop_spark.operators.stats import ols_fit

    li = load(spark, sf_dir, "lineitem")
    x = (F.when(F.col("l_returnflag") == "A", F.lit(7).cast("long"))
          .otherwise(F.floor(F.col("l_quantity") + 0.5).cast("long")))
    return ols_fit(
        li.filter(F.col("l_quantity").isNotNull()
                  & F.col("l_extendedprice").isNotNull()),
        "l_returnflag", x,
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long"),
        flag_degenerate=True)


# The driver's correctness gate checks the FIRST 50 entries of
# ``all_queries()``.  Registration order above is topical, so the
# window is COMPUTED each round (VERDICT r7 #1 — the hand-curated list
# let 46/109 rows rest on 2-round-old hashes): parse the cumulative
# CORRECTNESS_r*.json ledger the driver leaves at the repo root and
# schedule, in order,
#   1. queries with no green ledger row yet (new registrations and any
#      red row — always window-mandatory), in registration order;
#   2. a small per-round priority set naming code TOUCHED this round
#      (regression risk beats staleness), declared in _ROUND_PRIORITY;
#   3. everything else least-recently-green first (ties: registration
#      order) — pure rotation, so no query's latest green can age past
#      ceil(n_registered / free_slots) rounds by construction.
# Everything stays registered — the local parity suite
# (tests/test_oracle_parity.py) runs the driver-identical compare over
# ALL queries every round; the window only decides which 50 get a
# driver-ledger row THIS round.

#: Queries whose implementation (not just evidence) changed this
#: round; they ride the window ahead of the staleness rotation.  Keep
#: SMALL (<=10) or the rotation loses its staleness bound.
_ROUND_PRIORITY: tuple[str, ...] = (
    "flagship_lww_merge",        # permanent regression anchor
    "streaming_lww_flush",       # stream run restores the session's
                                 # shuffle width; lww_cell over the stream
    # An entry leaves once its fresh driver pass is green in the
    # ledger: every entry kept crowds one stale rotation row out of the
    # window, and the staleness guard fails when a stale row is left out.
)


def _ledger_last_green() -> tuple[dict[str, int], int]:
    """Parse the driver's cumulative CORRECTNESS_r*.json ledger into
    ``({query: latest green round}, newest round seen)``.  Green =
    rows+schema+hash all matched (hash/schema absent — the oracle-less
    rows-only check — counts, matching the driver's own gate)."""
    import glob
    import json
    import os
    import re as _re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    last: dict[str, int] = {}
    newest = 0
    for path in sorted(glob.glob(os.path.join(root,
                                              "CORRECTNESS_r*.json"))):
        m = _re.search(r"r(\d+)", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        newest = max(newest, rnd)
        try:
            with open(path) as f:
                entries = json.load(f)
        except (OSError, ValueError):
            continue
        for name, v in entries.items():
            ok = (bool(v.get("rows_match"))
                  and v.get("schema_match") is not False
                  and v.get("hash_match") is not False
                  and not v.get("err"))
            if ok:
                last[name] = max(last.get(name, 0), rnd)
    return last, newest


def driver_window(size: int = 50) -> list[str]:
    """The computed driver window: never-green first, then this
    round's touched code, then least-recently-green rotation."""
    reg = list(_QUERIES)
    last, newest = _ledger_last_green()
    if not newest:  # fresh clone without ledger files
        return reg[:size]
    order = {n: i for i, n in enumerate(reg)}
    never = [n for n in reg if n not in last]
    priority = [n for n in _ROUND_PRIORITY
                if n in _QUERIES and n not in never]
    rest = sorted((n for n in reg
                   if n in last and n not in priority),
                  key=lambda n: (last[n], order[n]))
    return (never + priority + rest)[:size]


def _window_order(d: dict) -> dict:
    ordered = {k: d[k] for k in driver_window() if k in d}
    ordered.update((k, v) for k, v in d.items() if k not in ordered)
    return ordered


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _window_order(_QUERIES)


def all_oracles() -> dict[str, str]:
    return _window_order(_ORACLES)
