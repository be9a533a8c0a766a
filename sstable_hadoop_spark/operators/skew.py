"""Hot-key join splitting.

A hot GROUP BY key needs no remedy here: the engine's aggregations
(``lww_cell`` included) run a partial aggregate below their shuffle,
so a hot group reaches its reducer as at most one row per map
partition.  A join has no partial step — every row of a hot key meets
every matching row in one task — and AQE's skew-join split only
spreads the oversized partition's files.  ``skew_join`` routes the hot
keys through a broadcast leg instead, finding them with a cheap
partition-head sample when the caller names none.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import _util


def _head_sample(df: DataFrame, cols: Sequence[str],
                 rows_per_partition: int,
                 shape: _util.PlanShape | None) -> DataFrame:
    """First ``rows_per_partition`` rows of every partition.

    Two result-identical implementations picked by ``df``'s plan
    ``shape`` (the caller's ``_util.plan_shape(df)``, so one decision
    walks the plan once) and input size (both sample exactly the same
    rows — the leading rows of each partition in scan order):

    - SCAN-SHAPED inputs (no exchange, Generate or Python map below:
      each would void the size bound or the per-partition row
      positions) whose leaf files total ≤ ``_JVM_PROBE_MAX_BYTES``
      filter on the per-partition row position encoded in
      ``monotonically_increasing_id`` (low 33 bits) — pure codegen,
      no Python worker; the "full" scan it implies is bounded by the
      size + shape checks that selected it;
    - everything else (big, remote, unsized, exploded, Python-mapped
      or post-shuffle inputs) keeps the mapInPandas that stops pulling
      Arrow batches once satisfied — cost O(partitions ×
      rows_per_partition), NOT a full scan, so it stays cheap at
      100 TB (vs ``sample(fraction)``, which reads everything)."""
    proj = df.select(*cols)
    if (shape is not None and not (shape.has_exchange or shape.has_generate
                                   or shape.has_python_map)
            and _util.tiny_input(shape, _util._JVM_PROBE_MAX_BYTES)):
        pos = F.monotonically_increasing_id().bitwiseAND(
            F.lit((1 << 33) - 1))
        return (proj.withColumn("_pp_pos", pos)
                    .filter(F.col("_pp_pos") < rows_per_partition)
                    .drop("_pp_pos"))

    def take(batches):
        n = 0
        for pdf in batches:
            if n >= rows_per_partition:
                break
            chunk = pdf.iloc[:rows_per_partition - n]
            n += len(chunk)
            yield chunk

    return proj.mapInPandas(take, proj.schema)


def skew_join(left: DataFrame, right: DataFrame, on: str,
              how: str = "inner",
              hot_keys: Sequence | None = None,
              sample_rows_per_partition: int = 1000,
              hot_fraction_milli: int = 50) -> DataFrame:
    """Hot-key-split join, ROW-IDENTICAL to ``left.join(right, on,
    how)`` by construction: rows whose key is HOT take a broadcast
    leg (the right side restricted to the hot keys is tiny by
    definition of "few hot keys", so the 90th-percentile key's
    shuffle partition never receives the hot key's flood), everything
    else takes the normal hash join; the two legs union.  The
    straggler-killer for power-law keys (the one user with 10^9
    events) that AQE's skew-split mitigates only partially — AQE
    splits the oversized partition's FILES, but every row of the hot
    key still meets every matching right row in one task's sort-merge.

    ``hot_keys``: explicit hot key values (deterministic, the
    oracle-checkable path).  When None, keys claiming more than
    ``hot_fraction_milli`` per-mille of a head-sample
    (:func:`_head_sample`) are taken — detection reads
    only the first Arrow batches of each partition, O(partitions) at
    any scale; which leg a key takes NEVER changes the result, so a
    detection miss costs speed, not correctness.

    ``how``: ``inner`` or ``left`` (legs partition the LEFT rows, so
    unioning leg results is exact for left-retaining joins; a right/
    full join would need the split on the right side instead —
    unsupported here, loudly)."""
    if how not in ("inner", "left"):
        raise ValueError(
            f"skew_join supports inner/left, got {how!r} (split the "
            "other side for right-retaining joins)")
    if hot_keys is None:
        shape = _util.plan_shape(left)
        if _util.tiny_input(shape, _util._SKEW_MIN_INPUT_BYTES):
            # below AQE's own skewed-partition threshold no key can
            # flood a reducer — the two probe jobs would cost more
            # than the worst case they protect against; the plain
            # join is row-identical by construction (r12)
            hot_keys = []
        else:
            counts = (_head_sample(left, [on], sample_rows_per_partition,
                                   shape)
                      .groupBy(on).count())
            total = counts.agg(F.sum("count")).collect()[0][0] or 1
            cut = total * hot_fraction_milli // 1000
            # top-64 candidates only: the collect stays metadata-sized
            # at any cluster width
            hot_keys = [r[on] for r in
                        counts.orderBy(F.desc("count")).limit(64).collect()
                        if r["count"] > cut and r[on] is not None]
    # a None in a declared list would poison isin into SQL three-
    # valued logic (every non-listed key evaluates NULL and BOTH legs
    # drop it); NULL keys never match an equi join anyway, so routing
    # them to the cold leg below is exact
    hot_keys = [k for k in hot_keys if k is not None]
    if not hot_keys:
        return left.join(right, on, how)
    is_hot = F.col(on).isin(*hot_keys)
    hot = (left.filter(is_hot)
               .join(F.broadcast(right.filter(is_hot)), on, how))
    cold = left.filter(~is_hot | F.col(on).isNull()) \
               .join(right, on, how)
    return hot.unionByName(cold)
