"""Materialized rollup views over transaction-log tables, refreshed
INCREMENTALLY with an exactly-once cursor.

The view is itself a logged table (same format, same time travel,
same readers), holding `txlog_rollup`'s shape — one row per group
with ``n_rows`` and ``sum_<c>`` columns.  Each refresh:

1. reads the BASE's change feed from the last refreshed version to
   head (`txlog_diff` — O(files that changed), never O(base));
2. folds it into the stored view with `txlog_incremental_rollup`
   (count/sum self-inversion, exact for integer sums);
3. swaps the view's content in ONE `txlog_overwrite` commit whose
   ``txn`` tag IS the cursor: the view's own commit log records
   "refreshed through base version V", read back via
   `txlog_txn_high_water` — no side-channel state files, and a
   crashed/replayed refresh of the same window is a no-op (the tag
   dedups inside the commit protocol).

At 100 TB the refresh cost tracks the day's commits, not the table:
the base-side reads are the diff's file-granular batch, and the view
side is rollup-sized.  Below the measured crossover (small bases, or
windows that changed most files) a FULL recompute is cheaper than the
fixed diff/commit machinery — ``strategy="auto"`` (default) picks the
side from metadata per refresh (PERF r11/r12).  Compare `streaming/`
for push-based variants; this is the pull-based nightly shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .txlog import (
    txlog_create,
    txlog_exists,
    txlog_incremental_rollup,
    txlog_overwrite,
    txlog_read,
    txlog_rollup,
    txlog_snapshot,
    txlog_txn_high_water,
)

#: txn app name under which refresh cursors journal in the VIEW's log.
MATVIEW_APP = "matview-refresh"


#: Below this many journaled base rows a FULL recompute beats the
#: incremental fold at local[32] (PERF.md, r11 matview crossover: the
#: incremental side is a fixed ~2-4 s of snapshot/diff/commit
#: machinery, flat in base size, while recompute tracks the base —
#: crossover ~sf3-5 ≈ 4-7M rows).  Metadata-only signal (the
#: journaled per-file row counts); tables predating the rows journal
#: fall back to the incremental path, which is always correct.
_FULL_REBUILD_ROWS = 4_000_000
#: Above this fraction of base files changed inside the refresh
#: window, the "incremental" diff reads most of the table anyway
#: (wide delta — PERF r10's 32/32-bucket worst case) and recompute
#: wins regardless of base size.
_FULL_REBUILD_FRAC = 0.5


def _pick_strategy(base_path: str, cur: int, head: int) -> str:
    """``"full"`` or ``"incremental"``, from METADATA only: journaled
    row counts (small base → recompute) and the changed-file fraction
    across the window (wide delta → recompute)."""
    new = txlog_snapshot(base_path, head)
    rows = new.get("rows") or {}
    if rows and len(rows) == len(new["files"]) \
            and sum(rows.values()) < _FULL_REBUILD_ROWS:
        return "full"
    old = txlog_snapshot(base_path, cur)
    o, n = set(old["files"]), set(new["files"])
    changed = len(o ^ n)
    if changed > _FULL_REBUILD_FRAC * max(1, len(n)):
        return "full"
    return "incremental"


def matview_refresh(spark, view_path: str, base_path: str,
                    group_by: list[str], sum_cols: list[str],
                    n_buckets: int = 4,
                    strategy: str = "auto") -> tuple[int, bool]:
    """Create-or-refresh the rollup view of ``base_path`` at
    ``view_path``.  First call full-builds (one base scan); later
    calls fold only the base's change feed since the journaled
    cursor — or, under ``strategy="auto"`` (default), fall back to a
    full recompute when metadata says it is cheaper (small base, or
    a window that changed most files: :func:`_pick_strategy`, the
    measured PERF r11 crossover).  ``strategy="incremental"`` /
    ``"full"`` force a side.  Returns ``(base version now reflected,
    whether work happened)`` — a no-op when the base hasn't
    committed since the last refresh.

    Safe under replays and racing refreshers: the cursor AND the
    stored content are derived from ONE view snapshot (ADVICE r11 —
    two separate reads let a racing refresher commit in between, and
    this refresher would fold its window into a view that already
    reflected part of it, double-counting), the winning refresh
    journals the cursor transactionally inside the overwrite, and a
    rival whose high-water already covers our window turns our
    commit into a no-op (the dedup check rides the overwrite's
    retry loop, so mid-flight races resolve the same way)."""
    if strategy not in ("auto", "incremental", "full"):
        raise ValueError(
            f"strategy must be auto|incremental|full, got "
            f"{strategy!r}")
    head = txlog_snapshot(base_path)["version"]
    if not txlog_exists(view_path):
        full = txlog_rollup(spark, base_path, group_by, sum_cols,
                            version=head)
        txlog_create(spark, view_path, full, tuple(group_by),
                     n_buckets, txn=(MATVIEW_APP, head))
        return head, True
    vsnap = txlog_snapshot(view_path)
    cur = int(vsnap.get("txns", {}).get(MATVIEW_APP, -1))
    if cur < 0:
        raise ValueError(
            f"{view_path} exists but journals no {MATVIEW_APP!r} "
            "cursor — it was not created by matview_refresh; build "
            "the view at a fresh path")
    if head <= cur:
        return cur, False
    if strategy == "auto":
        strategy = _pick_strategy(base_path, cur, head)
    if strategy == "full":
        fresh = txlog_rollup(spark, base_path, group_by, sum_cols,
                             version=head)
    else:
        # the stored content is read at the SAME view version the
        # cursor came from — never the live head
        stored = txlog_read(spark, view_path,
                            version=vsnap["version"])
        fresh = txlog_incremental_rollup(spark, base_path, stored,
                                         group_by, sum_cols,
                                         v_from=cur, v_to=head)
    txlog_overwrite(spark, view_path, fresh,
                    txn=(MATVIEW_APP, head))
    return head, True


def matview_read(spark, view_path: str) -> DataFrame:
    """The view's current content (a plain logged-table read — time
    travel and the streaming source work on it like any table)."""
    return txlog_read(spark, view_path)


def matview_staleness(view_path: str, base_path: str) -> int:
    """How many base versions the view is behind (0 = current) —
    metadata-only, the monitoring hook."""
    cur = txlog_txn_high_water(view_path, MATVIEW_APP)
    if cur < 0:
        raise ValueError(
            f"{view_path} journals no {MATVIEW_APP!r} cursor")
    return txlog_snapshot(base_path)["version"] - cur
