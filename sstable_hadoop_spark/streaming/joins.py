"""Stream-stream interval joins (SURVEY.md §2.8 extension).

The attribution shape: every LEFT event (a click, a conversion) pairs
with the RIGHT events (views, impressions) of the same key that
happened in the trailing window ``[left_ts - max_delay, left_ts]``.
Structured Streaming supports this natively as a watermarked
stream-stream join with a time-range condition — both sides buffer
keyed state, matches emit as they arrive (inner join emits eagerly),
and the watermark bounds how long unmatched state is retained:
state size is O(events inside the watermark horizon × keys), NOT
O(stream length).

The same function runs unchanged on batch DataFrames (Structured
Streaming's unified model), which makes the batch mode the
DuckDB-checkable oracle twin of the stream — the house pattern every
streaming operator here follows (streaming/windows.py,
sketch_stream.py, and ``lww_cell`` over a stream).

Scale notes (100 TB/day event streams): the join shuffles both sides
on the key columns once; the range condition is evaluated inside the
keyed state store, never as a nested loop.  Pick ``watermark`` as the
real out-of-orderness bound (minutes, not days) — the fixture tests
use a horizon wider than the whole corpus so replayed history joins
exhaustively, and that is a TEST choice, not the deployment one.

Reference scope: the reference engine is batch MapReduce over SSTable
snapshots with no streaming surface (SURVEY.md §3); declared
extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .windows import _with_event_time

__all__ = ["interval_join"]


def interval_join(left: DataFrame, right: DataFrame, on: list[str],
                  max_delay: str = "24 hours",
                  watermark: str | None = None,
                  ts_col: str = "ts",
                  how: str = "inner") -> DataFrame:
    """Join each left row to the right rows of the same ``on`` key
    whose event time falls in ``[left_time - max_delay, left_time]``
    (both ends inclusive — a view at the click instant attributes).

    ``ts_col`` on each side is normalized to an event-time timestamp
    (nano-epoch longs handled, the testdata shape) and replaced by
    ``l_event_time`` / ``r_event_time`` in the output; all other
    column names must be DISJOINT between the sides (pre-rename —
    refused loudly otherwise, the silent-ambiguity failure mode).

    ``watermark`` (e.g. ``"1 hour"``) is REQUIRED when both inputs
    are streams — it bounds buffered state and is the lateness bound
    beyond which pairs are missed; batch inputs skip it.  ``how`` is
    ``inner`` (emits eagerly) or ``left`` (unmatched lefts emit with
    NULL right columns once the watermark passes their window —
    stream-stream left joins need the watermark to know a miss is
    final)."""
    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner|left, got {how!r}")
    missing = [k for k in on
               if k not in left.columns or k not in right.columns]
    if missing:
        raise ValueError(f"join keys missing from an input: {missing}")
    l_cols = [c for c in left.columns if c not in on and c != ts_col]
    r_cols = [c for c in right.columns if c not in on and c != ts_col]
    clash = sorted(set(l_cols) & set(r_cols))
    if clash:
        raise ValueError(
            f"non-key columns appear on both sides: {clash} — rename "
            "before joining (the output would be ambiguous)")

    def prep(df, tag, keep):
        out = (_with_event_time(df, ts_col)
               .withColumnRenamed("event_time", f"{tag}_event_time")
               .select(*on, f"{tag}_event_time", *keep))
        if watermark:
            out = out.withWatermark(f"{tag}_event_time", watermark)
        return out

    l = prep(left, "l", l_cols)
    r = prep(right, "r", r_cols)
    cond = [l[k] == r[k] for k in on]
    cond.append(F.expr(
        f"r_event_time BETWEEN l_event_time - INTERVAL {max_delay} "
        "AND l_event_time"))
    j = l.join(r, cond, "inner" if how == "inner" else "leftOuter")
    # keys once (left side), then both event times and the payloads
    return j.select(*[l[k].alias(k) for k in on],
                    "l_event_time", "r_event_time", *l_cols, *r_cols)
