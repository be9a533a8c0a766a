"""Last-write-wins reconciliation — Cassandra read-path merge semantics
over multi-generation SSTable cell data.

Reproduces the reference's two distinct merge operators plus the
tombstone/TTL views:

- ``lww_cell``  — per-(key, cell-name) merge, Cassandra compaction
  semantics: union cells across generations, keep latest per name
  (reference ``MsgPackSSTableDataReducer``, mapred/SSTableData.scala:79-118,
  HashMap merge :85-95).
- ``lww_row``   — COARSE row-grained merge: the single newest cell of
  the whole row wins (reference ``SSTableDataReducer``,
  mapred/SSTableData.scala:45-62, argmax loop :48-53).  Lossy by design;
  kept as a distinct operator, do not confuse with ``lww_cell``.
- ``live_view`` — winners minus tombstones minus expired-at-AS_OF
  (tombstone suppression: SSTableData.scala:102-105,
  WritableColumn.java:51-58; TTL carry: WritableColumn.java:64-72).

Tie-breaking: the reference uses strict ``>`` so the first-encountered
cell wins on equal timestamps (SSTableData.scala:52,93) — MR
iteration-order-dependent, nondeterministic across runs.  The engine
fixes a deterministic total order instead (SURVEY.md §2.4):
``timestamp DESC, state precedence DELETED > EXPIRING > NORMAL,
generation DESC, base64(data) DESC``.  This is a documented deviation.

Scale notes: merges are expressed as ``groupBy().agg(max(struct))``
rather than window ``row_number``, so Spark runs them as aggregations
WITH map-side partial aggregation — each executor pre-merges its local
generations before the shuffle, exactly the combiner topology the
reference's MR jobs lack (they shuffle every cell).  The struct's
leading fields ARE the total order, so each cell crosses the shuffle
once: ``data`` travels only as its base64 order field and ``name`` not
at all when it is a grouping key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Cell-level columns of the exploded view, in canonical order.
CELL_COLS = ["name", "state", "data", "timestamp", "ttl", "expiration",
             "generation"]


def _state_rank(state: Column) -> Column:
    """DELETED > EXPIRING > NORMAL precedence on timestamp ties,
    mirroring Cassandra's rule that a tombstone beats a live cell with
    the same writetime."""
    return (F.when(state == "DELETED", F.lit(2))
             .when(state == "EXPIRING", F.lit(1))
             .otherwise(F.lit(0)))


def explode_cells(df: DataFrame) -> DataFrame:
    """Nested rows → one record per (key, cell).  The reference's
    ``SSTableDataMapper`` (mapred/SSTableData.scala:21-33), minus its
    lossy bytes→UTF-8 key reinterpretation (:24) — we group on raw
    bytes and only *render* as string (SURVEY.md §7 risk 5)."""
    return (df.select("key", "generation",
                      F.explode("columns").alias("cell"))
              .select("key", "cell.*", "generation"))


def _argmax(cells: DataFrame, keys: list[str]) -> DataFrame:
    """The newest cell per ``keys`` group under the LWW total order:
    one ``max`` over a struct led by the order fields (``name`` breaks
    ties only where it is not a key), partial below its shuffle.
    ``data`` is rebuilt from its order field; a present value beats a
    missing one on a full tie."""
    order = [F.col("timestamp"), _state_rank(F.col("state")).alias("sr"),
             F.col("generation"),
             F.coalesce(F.base64("data"), F.lit("")).alias("db64")]
    if "name" not in keys:
        order.append(F.base64("name").alias("nb64"))
    w = F.struct(*order, F.col("data").isNotNull().alias("has_data"),
                 "state", "ttl", "expiration")
    rebuilt = {"name": F.unbase64("w.nb64"),
               "data": F.when(F.col("w.has_data"), F.unbase64("w.db64"))}
    return (cells
            .groupBy(*keys)
            .agg(F.max(w).alias("w"))
            .select(*keys, *[rebuilt.get(c, F.col(f"w.{c}")).alias(c)
                             for c in CELL_COLS if c not in keys]))


def lww_cell(cells: DataFrame) -> DataFrame:
    """One winning cell per (key, name) across all generations.

    Topology identical to the reference's shuffle→HashMap-merge
    (SSTableData.scala:85-95) but with partial aggregation: one
    hash-agg, one shuffle on (key, name).

    Hot keys need no special path: the partial ``max`` runs below the
    only Exchange, so a (key, name) group reaches its reducer as at
    most one candidate per map partition however many cells it holds
    (the Cassandra wide-row pathology that would serialize the
    reference's MR reducer).

    On a streaming DataFrame the same plan runs as a stateful
    aggregation: with ``outputMode("update")`` each micro-batch emits
    the current winner of every (key, name) it touched.
    """
    return _argmax(cells, ["key", "name"])


def lww_refresh(stored_winners: DataFrame,
                new_cells: DataFrame) -> DataFrame:
    """Incremental LWW view maintenance: fold a DELTA (new generations'
    cells) into a previously-materialized winners table without
    re-merging old generations.

    Correct because the per-cell merge is an associative, idempotent
    argmax over the deterministic total order:
    ``lww(lww(A) ∪ B) == lww(A ∪ B)`` — the stored winner of each
    (key, name) is the only row of A that can still win, so carrying
    winners instead of history loses nothing.  (Tombstone winners must
    stay IN the stored table for this to hold — drop them only in a
    read-side ``live_view``, or a resurrected older value could win a
    later refresh.)

    Scale story (the compaction-avoiding path): a 100 TB corpus's
    nightly refresh shuffles O(live cells + delta), not O(all
    generations); store the winners bucketed by (key, name) and the
    union side co-locates, leaving the delta as the only shuffled
    input.  Repeated refreshes are idempotent."""
    cols = ["key", "name", *[c for c in CELL_COLS
                             if c not in ("key", "name")]]
    sw = stored_winners.select(*cols)
    return lww_cell(sw.unionByName(new_cells.select(*cols)))


def lww_row(cells: DataFrame) -> DataFrame:
    """The single newest cell of the entire row (coarse merge,
    reference SSTableDataReducer argmax, SSTableData.scala:48-53)."""
    return _argmax(cells, ["key"])


def live_view(cells: DataFrame, as_of_ms: int) -> DataFrame:
    """Readable state at ``as_of_ms``: per-cell winners, minus DELETED
    winners (a tombstone that wins LWW *shadows* the value — it must win
    first, then be dropped; filtering DELETED before the merge would
    resurrect older values), minus EXPIRING cells already past their
    expiration (ms epoch, WritableColumn.java:21).

    ``as_of_ms`` is an explicit parameter, never wall clock, so results
    are reproducible (SURVEY.md §7 risk 4).
    """
    winners = lww_cell(cells)
    return winners.filter(
        (F.col("state") != "DELETED")
        & (F.col("expiration").isNull() | (F.col("expiration") > F.lit(as_of_ms)))
    )


def collect_rows(cells: DataFrame, by_generation: bool = True) -> DataFrame:
    """Inverse of ``explode_cells``: regroup cells into the nested row
    envelope (key, columns[]) — the shape of the reference's merged
    MsgPackRow output (SSTableData.scala:97-114).

    ``by_generation=True`` regroups per (key, generation) — the
    round-trip identity ``collect_rows(explode_cells(df)) == df``.
    ``by_generation=False`` regroups merged winners per key (cells keep
    their own winning generation inside the struct).  Cell order within
    a row is deterministic: sorted by struct comparison, name bytes
    first."""
    cell_struct = F.struct(*[F.col(c) for c in CELL_COLS[:-1]])
    keys = ["key", "generation"] if by_generation else ["key"]
    out_cols = ["key", "columns", "generation"] if by_generation else [
        "key", "columns"]
    if not by_generation:
        cell_struct = F.struct(*[F.col(c) for c in CELL_COLS])
    return (cells
            .groupBy(*keys)
            .agg(F.array_sort(F.collect_list(cell_struct)).alias("columns"))
            .select(*out_cols))


def winner_diff(cells_a: DataFrame, cells_b: DataFrame) -> DataFrame:
    """Anti-entropy diff between two cell sets (r6): per-cell LWW
    winners of A and B full-outer-joined on (key, name), keeping only
    the cells whose winning version differs — the repair work-list a
    Cassandra operator derives from two replicas' (or two epochs')
    SSTables, computed as one relational plan instead of Merkle-tree
    exchange rounds.

    status: ``only_a`` / ``only_b`` (the cell exists on one side) or
    ``differs`` (both sides have a winner but state, value, timestamp
    or generation disagree).  Equal winners are dropped — the result
    is exactly the divergence set, O(|diff|) output at any corpus
    size.

    Topology: two independent LWW merges (each one shuffle on
    (key, name), map-side partials) feeding a full outer sort-merge
    join on the SAME (key, name) keys — AQE reuses co-partitioning, no
    extra exchange beyond the three unavoidable ones."""
    wa = lww_cell(cells_a).withColumnsRenamed(
        {c: f"a_{c}" for c in CELL_COLS if c not in ("key", "name")})
    wb = lww_cell(cells_b).withColumnsRenamed(
        {c: f"b_{c}" for c in CELL_COLS if c not in ("key", "name")})
    j = wa.join(wb, ["key", "name"], "full_outer")
    same = (
        (F.col("a_state") == F.col("b_state"))
        & (F.col("a_timestamp") == F.col("b_timestamp"))
        & (F.col("a_generation") == F.col("b_generation"))
        & (F.coalesce(F.col("a_data") == F.col("b_data"),
                      F.col("a_data").isNull() & F.col("b_data").isNull()))
    )
    status = (F.when(F.col("a_state").isNull(), F.lit("only_b"))
               .when(F.col("b_state").isNull(), F.lit("only_a"))
               .otherwise(F.lit("differs")))
    return (j.filter(F.col("a_state").isNull()
                     | F.col("b_state").isNull() | ~same)
             .select("key", "name", status.alias("status"),
                     "a_state", "a_timestamp", "a_generation",
                     "b_state", "b_timestamp", "b_generation"))
