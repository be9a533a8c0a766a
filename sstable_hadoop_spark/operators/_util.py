"""Shared operator utilities."""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame

#: every build-time plan decision reads the analyzed logical plan by
#: node class, matched on the EXACT ``nodeName()`` (the class name; set
#: operations append " All").  "exchange": the node plans to a shuffle
#: or a stage boundary, so ``df.rdd`` would EXECUTE the stages below it
#: at DataFrame-build time (AQE materializes every query stage just to
#: answer ``getNumPartitions``).  "repartition": an explicit exchange —
#: someone (usually ``ensure_parallelism``) already spread the data.
#: "generate": a row-expanding node (explode/posexplode/inline), below
#: which file bytes stop bounding the row count.  "python_map": a
#: per-partition Python map, which changes per-partition row counts.
_NODE_CLASS = {
    **dict.fromkeys((
        "Aggregate", "Join", "LateralJoin", "AsOfJoin", "Window",
        "WindowGroupLimit", "Deduplicate", "DeduplicateWithinWatermark",
        "Distinct", "Intersect", "Intersect All", "Except", "Except All",
        "Sort", "GlobalLimit", "Offset", "Tail", "CoGroup", "MapGroups",
        "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
        "FlatMapGroupsInPandasWithState", "FlatMapGroupsWithState",
        "FlatMapGroupsInR", "FlatMapGroupsInRWithArrow",
        "FlatMapCoGroupsInPandas", "FlatMapCoGroupsInArrow"), "exchange"),
    **dict.fromkeys(("Repartition", "RepartitionByExpression",
                     "RebalancePartitions"), "repartition"),
    "Generate": "generate",
    "MapInPandas": "python_map",
    "MapInArrow": "python_map",
}

#: above this many input files the scan parallelizes regardless of
#: per-file row-group geometry — skip the footer read entirely
_PROBE_MAX_FILES = 64
#: inputs whose leaf files total at most this many bytes are "tiny":
#: one extra exchange over them is cheap, so spreading per-row work
#: across idle cores is always worth it.  Anything bigger trusts AQE.
_TINY_INPUT_MAX_BYTES = 256 * 1024 * 1024
#: scan-shaped inputs of at most this many bytes take the skew probe's
#: JVM head-sample path: a full codegen scan of ≤64 MiB is cheaper than
#: one JVM→Python round trip
_JVM_PROBE_MAX_BYTES = 64 * 1024 * 1024
#: below this total input size no reducer partition can exceed AQE's
#: own skew definition (``spark.sql.adaptive.skewJoin.
#: skewedPartitionThresholdInBytes``, default 256 MB: a partition only
#: COUNTS as skewed above it), so skew probing is pure overhead and
#: ``skew_join`` finds no hot keys from file metadata alone, no job.
#: 64 MiB, not 256: file bytes are COMPRESSED parquet while AQE's
#: threshold measures shuffle bytes, and dictionary/RLE-encoded columns
#: commonly expand several-fold at shuffle (results stay exact either
#: way, the gate trades only probe latency).
_SKEW_MIN_INPUT_BYTES = 64 * 1024 * 1024

#: rows one task needs to amortize its scheduling cost, per per-row
#: cost class — the ``rows_per_slot`` light call sites pass to
#: ``ensure_parallelism``.  Heavy per-row work (the 17-hash shingle
#: pipelines) passes none and always gets the full target width.
#: The cap divides ``PlanShape.est_rows``, which counts LEAF parquet
#: footer rows: after an aggregate it over-counts the rows the call
#: site sees, after an explode it under-counts them.
ROWS_PER_SLOT = {
    "text": 256,    # corpus.py, text.py: regex, tokenize, gram hashes
    "vector": 512,  # similarity.py: vector dots, PQ code lookups
}


class PlanShape(NamedTuple):
    """What build-time decisions need to know about a plan, read from
    plan structure and file metadata without running anything."""

    has_exchange: bool     # an "exchange" or "repartition" node below
    repartitioned: bool    # a "repartition" node below
    has_generate: bool
    has_python_map: bool
    #: total bytes of the local leaf input files, or None when unknown
    #: (no file leaves, remote store, listing failure).  A size CLASS,
    #: never a bound on intermediates: explodes and fan-out joins grow
    #: past it, and compressed parquet expands at shuffle.
    leaf_bytes: int | None
    #: parquet row groups / rows behind the leaves, from the footers
    #: (≤ ``_PROBE_MAX_FILES`` local ``.parquet`` files), else None.
    #: Partition COUNT lies about parquet parallelism: a row group is
    #: the minimum read unit, so a big file written as ONE row group
    #: yields many byte-range partitions of which all but one are empty.
    row_groups: int | None
    est_rows: int | None


def plan_shape(df: DataFrame) -> PlanShape | None:
    """Walk ``df``'s analyzed logical plan (children and subquery
    plans) by node class over py4j and read its leaf files' metadata
    from one ``inputFiles()`` listing plus the bounded footer read.
    None when the plan cannot be read, or on a stream (partitioning is
    the source's business there and ``df.rdd`` is illegal); every
    caller then keeps its safe answer."""
    if df.isStreaming:
        return None
    try:
        root = df._jdf.queryExecution().analyzed()
        subs = root.subqueriesAll()
        stack = [root] + [subs.apply(i) for i in range(subs.size())]
        kinds = set()
        while stack:
            node = stack.pop()
            kinds.add(_NODE_CLASS.get(node.nodeName()))
            kids = node.children()
            stack += [kids.apply(i) for i in range(kids.size())]
    except Exception:
        return None
    return PlanShape("exchange" in kinds or "repartition" in kinds,
                     "repartition" in kinds, "generate" in kinds,
                     "python_map" in kinds, *_file_facts(df))


def _file_facts(df: DataFrame) -> tuple[int | None, int | None,
                                        int | None]:
    """(leaf_bytes, row_groups, est_rows) — see ``PlanShape``."""
    import os
    from urllib.parse import unquote, urlparse

    import pyarrow.parquet as pq

    try:
        files = df.inputFiles()
    except Exception:
        return None, None, None
    paths = []
    for uri in files:
        p = urlparse(uri)
        if p.scheme not in ("", "file"):
            return None, None, None  # remote store: sizes unknown
        paths.append(unquote(p.path) if p.scheme else uri)
    try:
        leaf_bytes = sum(os.path.getsize(p) for p in paths) or None
    except OSError:
        return None, None, None
    if (not paths or len(paths) > _PROBE_MAX_FILES
            or not all(p.endswith(".parquet") for p in paths)):
        return leaf_bytes, None, None
    try:
        footers = [pq.read_metadata(p) for p in paths]
    except Exception:
        return leaf_bytes, None, None
    return (leaf_bytes, sum(m.num_row_groups for m in footers),
            sum(m.num_rows for m in footers))


def tiny_input(shape: PlanShape | None, max_bytes: int) -> bool:
    """True when the plan's leaf files are known and total at most
    ``max_bytes`` (an unreadable plan or unsized input never is)."""
    return shape is not None and 0 < (shape.leaf_bytes or 0) <= max_bytes


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None,
                       rows_per_slot: int | None = None) -> DataFrame:
    """Repartition ONLY if the input is an under-parallelized scan.

    Small single-file parquet inputs arrive as one partition, which
    serializes compute-heavy per-row work (shingling, hashing, vector
    math) onto one core.  At real scale inputs already have
    ≥ default-parallelism partitions and this is a no-op — no shuffle
    is added on the 100 TB path.

    Under-parallelized means partition count OR parquet row-group count
    (``PlanShape.row_groups``) below half the target: a big
    single-row-group file — a real upstream-writer pathology — presents
    plenty of byte-range partitions but all of its rows hide in one of
    them.

    ``rows_per_slot``: LIGHT-per-row call sites pass their
    ``ROWS_PER_SLOT`` class; the repartition width is then capped at
    ``est_rows / rows_per_slot`` (never below 2, never above the
    target).  At scale ``est_rows / rows_per_slot`` exceeds any
    cluster's parallelism and the width is the target, unchanged.
    Measured r13 (sf0.1, local[32], interleaved): a 32-way fan-out of
    5 000 light rows is SLOWER than 8-16-way (similarity 0.54→0.44 s,
    corpus_export 0.61→0.48 s) while the hash-heavy dedup pipeline
    wants every core (2.56 s at 32 vs 3.98 at 8).

    Plans that already contain an exchange are never probed via
    ``df.rdd`` — under AQE that would *execute* the upstream stages at
    build time, a hidden job per operator call.  AQE sizes the
    exchange's output by BYTES, not by downstream CPU cost, so a tiny
    intermediate coalesces to ~1 partition and per-row-heavy work after
    it serializes onto one core: a tiny input (leaf-file metadata) gets
    one cheap exchange that buys back all the cores; big or unknown
    inputs trust AQE's width, and a plan that is already repartitioned
    never gets a second exchange stacked on it."""
    shape = plan_shape(df)
    if shape is None:
        return df
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    floor = max(target // 2, 2)
    if rows_per_slot is not None and shape.est_rows is not None:
        target = min(target, max(2, -(-shape.est_rows // rows_per_slot)))
    if shape.has_exchange:
        if not shape.repartitioned and tiny_input(shape,
                                                  _TINY_INPUT_MAX_BYTES):
            return df.repartition(target)
        return df
    # leaf-ish plan (scan/local values/union of scans): df.rdd is
    # planning-only here — no exchange below means nothing to execute
    want = max(min(floor, target), 2)
    if (df.rdd.getNumPartitions() < want
            or (shape.row_groups is not None and shape.row_groups < want)):
        return df.repartition(target)
    return df
