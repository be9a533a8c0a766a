"""Similarity search over embedding columns (declared extension E3,
SURVEY.md §2.9): brute-force cosine top-k as the exact baseline, and an
LSH-bucketed (random hyperplane / IVF-style) variant as the 100 TB
scale path.

All vector math is JVM-side (``zip_with`` / ``aggregate`` over
``array<float>``); no Python in the hot path.

Scale notes:
- brute force is O(Q×N) — fine for small query sets against big
  corpora (broadcast the queries), unusable for all-pairs at 100 TB;
- the LSH variant buckets vectors by sign-pattern against fixed random
  hyperplanes (deterministically derived from md5, so results are
  reproducible across runs/engines) and only scores within-bucket
  pairs: cost O(N × probes + Σ bucket²).
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._util import ROWS_PER_SLOT

#: per-row work here is LIGHT (see ``_util.ROWS_PER_SLOT``)
_ROWS_PER_SLOT = ROWS_PER_SLOT["vector"]


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _vec_lit(values) -> Column:
    """A float vector as ONE array<double> literal: a per-element
    ``F.lit`` costs a JVM round trip each, which dominated building
    centroid and codebook expressions."""
    import numpy as np

    return F.lit(np.asarray(values, dtype=np.float64))


def _dots(vec: Column, cents: list[list[float]]) -> Column:
    """array<double> of ``vec · cent`` for each of ``cents``, in order:
    one lambda over the centroid literals, so the expression stays small
    however many centroids there are."""
    return F.transform(F.array(*[_vec_lit(c) for c in cents]),
                       lambda c: dot(vec, c))


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding",
                query_id_col: str = "query_id") -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` (small) is broadcast against ``embeddings`` (large): the
    join is a BroadcastNestedLoopJoin — each corpus partition scores
    locally, then a per-query top-k (groupBy + partial top-k via
    window on the joined result).  Self-matches are excluded by id.

    Returns (query_id, vec_id, cos)."""
    from pyspark.sql.window import Window

    from ._util import ensure_parallelism

    embeddings = ensure_parallelism(embeddings, rows_per_slot=_ROWS_PER_SLOT)
    # norms precomputed per side (r12): ``cosine`` inlined per pair
    # evaluates dot + BOTH norms per (query, vector) row — 3× the
    # necessary flops on the O(Q×N) scored set.  Computing each norm
    # once per input row and dividing by the product is the identical
    # float expression (same fold order), ~1/3 the per-pair work.
    q = queries.select(F.col(query_id_col),
                       F.col(vec_col).alias("_qvec"))\
               .withColumn("_qnorm", norm(F.col("_qvec")))
    e = embeddings.select(F.col(id_col), F.col(vec_col).alias("_evec"))\
                  .withColumn("_enorm", norm(F.col("_evec")))
    scored = (e.crossJoin(F.broadcast(q))
               .filter(F.col(id_col) != F.col(query_id_col))
               .select(query_id_col, id_col,
                       (dot(F.col("_qvec"), F.col("_evec"))
                        / (F.col("_qnorm") * F.col("_enorm")))
                       .alias("cos")))
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cos"), F.asc(id_col))
    return (scored.withColumn("rk", F.row_number().over(w))
                  .filter(F.col("rk") <= k)
                  .select(query_id_col, id_col, "cos", "rk"))


def _resolve_dim(dim: int | None, df: DataFrame, vec_col: str) -> int:
    """``dim=None`` derives the width from the data (one-row metadata
    peek on the driver — O(1), same class as the skew probe)."""
    if dim is not None:
        return dim
    row = df.select(F.size(vec_col).alias("d")).first()
    if row is None or row["d"] is None or row["d"] <= 0:
        raise ValueError(
            f"cannot derive embedding dim: column {vec_col!r} is empty")
    return int(row["d"])


def _checked_vec(vec: Column, dim: int, where: str) -> Column:
    """Fail fast (JVM-side, per row) when a vector's width disagrees
    with the hyperplane/centroid dim — ``zip_with`` would otherwise
    silently null-pad and produce wrong buckets."""
    return F.when(F.size(vec) == dim, vec).otherwise(F.raise_error(
        F.format_string(
            f"{where}: embedding dim mismatch — hyperplanes are "
            f"{dim}-dim but vector has %s components (pass dim= "
            "explicitly, or dim=None to derive it from the data)",
            F.size(vec))))


def _hyperplanes(dim: int, n_planes: int, seed: str = "simplanes") -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes from md5 — no RNG
    state, reproducible everywhere.  Component (p, d) maps md5 bytes to
    a uniform in [-1, 1)."""
    planes = []
    for p in range(n_planes):
        comps = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).digest()
            u = int.from_bytes(h[:8], "big") / 2 ** 64  # [0, 1)
            comps.append(2.0 * u - 1.0)
        inv = 1.0 / math.sqrt(sum(c * c for c in comps))
        planes.append([c * inv for c in comps])
    return planes


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id: bit p = 1 iff vec · plane_p >= 0."""
    bucket = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        d = dot(vec, _vec_lit(plane))
        bucket = bucket + F.when(d >= 0, F.lit(1 << p)).otherwise(0).cast("long")
    return bucket


def cosine_topk_ivf(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    query_id_col: str = "query_id", n_centroids: int = 16,
                    n_probe: int = 3, seed: str = "ivf",
                    dim: int | None = 64) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) partitioning: assign
    every corpus vector to its nearest of ``n_centroids`` fixed
    pseudo-random centroids (deterministic md5 derivation — a stand-in
    for a trained k-means codebook); score each query only against the
    ``n_probe`` centroids nearest to it.

    Scale path: corpus partition = centroid cell (cluster by cell at
    write time for locality); per-query cost drops from O(N) to
    O(N·n_probe/n_centroids).  Returns (query_id, vec_id, cos, rk)."""
    from pyspark.sql.window import Window

    dim = _resolve_dim(dim, embeddings, vec_col)
    cents = _hyperplanes(dim, n_centroids, seed=seed)  # unit vectors
    return _ivf_topk(embeddings, queries, cents, k, id_col, vec_col,
                     query_id_col, n_probe, where="cosine_topk_ivf")


def _ivf_topk(embeddings: DataFrame, queries: DataFrame,
              cents: list[list[float]], k: int, id_col: str,
              vec_col: str, query_id_col: str, n_probe: int,
              where: str) -> DataFrame:
    """Shared IVF topology: assign corpus vectors to their best cell by
    dot against the (broadcast-as-literals) centroid table, explode
    each query to its ``n_probe`` nearest cells, bucket-join, exact
    cosine, WindowGroupLimit top-k."""
    from pyspark.sql.window import Window

    from ._util import ensure_parallelism

    embeddings = ensure_parallelism(embeddings, rows_per_slot=_ROWS_PER_SLOT)
    dim = len(cents[0])

    def top_cells(vec, n):
        scored = F.transform(
            _dots(vec, cents),
            lambda d, i: F.struct(d.alias("d"), i.alias("cell")))
        return F.slice(F.reverse(F.array_sort(scored)), 1, n)

    vec_ok = _checked_vec(F.col(vec_col), dim, where)
    e = embeddings.select(
        F.col(id_col), F.col(vec_col).alias("_evec"),
        F.element_at(top_cells(vec_ok, 1), 1)["cell"].alias("_cell"))
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qvec"),
        F.explode(F.transform(top_cells(vec_ok, n_probe),
                              lambda s: s["cell"])).alias("_cell"))
    scored = (e.join(F.broadcast(q), "_cell")
               .filter(F.col(id_col) != F.col(query_id_col))
               .select(query_id_col, id_col,
                       cosine(F.col("_qvec"), F.col("_evec")).alias("cos")))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), F.asc(id_col))
    return (scored.withColumn("rk", F.row_number().over(w))
                  .filter(F.col("rk") <= k)
                  .select(query_id_col, id_col, "cos", "rk"))


def ivf_cell_of(vec_col: str, cents: list[list[float]]):
    """Column expression: the IVF cell (argmax-dot centroid index) of a
    vector — shared by the query-time assignment and the clustered
    writer."""
    scored = F.transform(
        _dots(F.col(vec_col), cents),
        lambda d, i: F.struct(d.alias("d"), i.alias("cell")))
    return F.element_at(F.reverse(F.array_sort(scored)), 1)["cell"]


def write_ivf_clustered(embeddings: DataFrame, path: str,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        n_centroids: int = 16, seed: str = "ivf") -> None:
    """Materialize the corpus CLUSTERED BY IVF cell: one parquet
    partition directory per centroid cell (hive-style ``_cell=N``).
    This is the write-time locality the IVF docstring promises — a
    probe-time read then touches only ``n_probe`` of ``n_centroids``
    directories via Catalyst partition pruning, so query I/O drops to
    ``n_probe/n_centroids`` of the corpus BEFORE any row is read."""
    from ._util import ensure_parallelism

    embeddings = ensure_parallelism(embeddings, rows_per_slot=_ROWS_PER_SLOT)
    dim = _resolve_dim(None, embeddings, vec_col)
    cents = _hyperplanes(dim, n_centroids, seed=seed)
    (embeddings
     .withColumn("_cell", ivf_cell_of(vec_col, cents))
     .repartition("_cell")
     .write.partitionBy("_cell").mode("overwrite").parquet(path))


def cosine_topk_ivf_stored(spark, path: str, queries: DataFrame,
                           k: int = 5, id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           query_id_col: str = "query_id",
                           n_centroids: int = 16, n_probe: int = 3,
                           seed: str = "ivf",
                           dim: int | None = None) -> DataFrame:
    """IVF top-k over a cell-clustered store: probe cells for the
    query set are computed driver-side (|queries| × n_centroids dots —
    metadata-sized), the corpus scan filters ``_cell IN (probed)`` so
    Catalyst prunes unprobed partition directories at plan time, and
    scoring proceeds exactly as ``cosine_topk_ivf``.  Results are
    identical to the unstored IVF with the same centroids/probes."""
    from pyspark.sql.window import Window

    emb = spark.read.parquet(path)
    dim = _resolve_dim(dim, emb, vec_col)
    cents = _hyperplanes(dim, n_centroids, seed=seed)

    def top_cells(vec, n):
        scored = F.transform(
            _dots(vec, cents),
            lambda d, i: F.struct(d.alias("d"), i.alias("cell")))
        return F.slice(F.reverse(F.array_sort(scored)), 1, n)

    vec_ok = _checked_vec(F.col(vec_col), dim, "cosine_topk_ivf_stored")
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qvec"),
        F.explode(F.transform(top_cells(vec_ok, n_probe),
                              lambda s: s["cell"])).alias("_cell"))
    # the probed-cell set is tiny (≤ |queries|·n_probe ≤ n_centroids);
    # an IN-list literal lets Catalyst prune partitions at PLAN time
    probed = sorted({r["_cell"] for r in q.select("_cell")
                    .distinct().collect()})
    e = emb.filter(F.col("_cell").isin(probed)) \
           .select(F.col(id_col), F.col(vec_col).alias("_evec"), "_cell")
    scored = (e.join(F.broadcast(q), "_cell")
               .filter(F.col(id_col) != F.col(query_id_col))
               .select(query_id_col, id_col,
                       cosine(F.col("_qvec"), F.col("_evec")).alias("cos")))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), F.asc(id_col))
    return (scored.withColumn("rk", F.row_number().over(w))
                  .filter(F.col("rk") <= k)
                  .select(query_id_col, id_col, "cos", "rk"))


def train_spherical_kmeans(embeddings: DataFrame,
                           vec_col: str = "embedding",
                           id_col: str = "vec_id",
                           n_centroids: int = 16, n_iter: int = 4,
                           seed: str = "kmeans-ivf",
                           sample_fraction: float | None = None)\
        -> list[list[float]]:
    """Deterministic spherical k-means codebook — bit-reproducible on
    any cluster size / partitioning / row order:

    - init: the ``n_centroids`` unit vectors whose md5(seed:id) ranks
      lowest (a pure function of the data, no RNG);
    - assign: argmax dot against the current centers (per-row double
      arithmetic — partitioning-independent), ties to the larger cell
      (same rule as ``ivf_cell_of``);
    - update: component means aggregated in DECIMAL (exact, so the sum
      is independent of partition/merge order — the step that makes
      floating-point k-means nondeterministic), then L2-normalized in
      double on the driver; empty cells keep their previous center;
    - EXACTLY ``n_iter`` iterations, no convergence test.

    This reproducibility is what lets a driver query pin the trained
    centers in a cross-engine oracle.  Cost per iteration: one
    scan + one tiny groupBy (n_centroids × dim decimal means); at
    100 TB pass ``sample_fraction`` — codebook quality needs only a
    sample."""
    import math

    dim = _resolve_dim(None, embeddings, vec_col)
    base = embeddings.select(F.col(id_col).alias("_id"),
                             F.col(vec_col).cast("array<double>")
                             .alias("_v"))
    if sample_fraction is not None and sample_fraction < 1.0:
        # md5-threshold sample, not .sample(): row-order independent.
        # Reuses corpus._hex_threshold for the fraction>=1.0 clamp
        # semantics (a 9-char '100000000' threshold would silently
        # keep ~1/16 of rows under the 8-char lexicographic compare).
        from .corpus import _hex_threshold

        base = base.filter(
            F.substring(F.md5(F.concat(F.lit(f"{seed}|s|"),
                                       F.col("_id").cast("string"))),
                        1, 8) < _hex_threshold(sample_fraction))
    nrm = F.sqrt(F.aggregate("_v", F.lit(0.0),
                             lambda a, x: a + x * x))
    unit = base.select(
        "_id",
        F.transform("_v", lambda x: x / nrm).alias("_u"))

    init = (unit
            .withColumn("_r", F.md5(F.concat(F.lit(f"{seed}:"),
                                             F.col("_id").cast("string"))))
            .orderBy("_r").limit(n_centroids).collect())
    if not init:
        raise ValueError("cannot train a codebook on an empty corpus")
    # fewer rows than requested centers → every row is its own center
    # (the ML path's k>n behavior); callers get len(result) cells
    n_centroids = min(n_centroids, len(init))
    cents = [[float(x) for x in r["_u"]] for r in init]

    for _ in range(n_iter):
        cell = ivf_cell_of("_u", cents)
        mean_aggs = [
            F.avg(F.element_at("_u", i + 1).cast("decimal(20,18)"))
            .alias(f"m{i}") for i in range(dim)]
        got = {r["_cell"]: [float(r[f"m{i}"]) for i in range(dim)]
               for r in unit.withColumn("_cell", cell)
                            .groupBy("_cell").agg(*mean_aggs).collect()}
        nxt = []
        for c in range(n_centroids):
            if c in got:
                v = got[c]
                inv = 1.0 / (math.sqrt(sum(x * x for x in v)) or 1.0)
                nxt.append([x * inv for x in v])
            else:
                nxt.append(cents[c])
        cents = nxt
    return cents


def cosine_topk_ivf_trained(embeddings: DataFrame, queries: DataFrame,
                            k: int = 5, id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            query_id_col: str = "query_id",
                            n_centroids: int = 16, n_probe: int = 3,
                            seed: int = 7, max_iter: int = 10,
                            sample_fraction: float | None = None,
                            trainer: str = "spherical") -> DataFrame:
    """IVF with a TRAINED codebook, then the same bucket topology as
    ``cosine_topk_ivf`` — data-adaptive cells replace the md5
    pseudo-codebook (tighter clusters → higher recall at equal
    n_probe); centers ship as plan literals, so query-time cost is
    identical.

    ``trainer="spherical"`` (default) uses the bit-deterministic
    in-house spherical k-means above (cross-engine oracle-checkable);
    ``trainer="ml"`` keeps the seeded Spark ML k-means path (same
    topology, centers deterministic only per partitioning)."""
    import math

    if trainer == "spherical":
        cents = train_spherical_kmeans(
            embeddings, vec_col, id_col, n_centroids,
            n_iter=min(max_iter, 4), seed=f"kmeans-ivf-{seed}",
            sample_fraction=sample_fraction)
    else:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        train = embeddings.select(array_to_vector(
            F.col(vec_col).cast("array<double>")).alias("features"))
        if sample_fraction is not None:
            train = train.sample(sample_fraction, seed)
        model = KMeans(k=n_centroids, seed=seed,
                       maxIter=max_iter).fit(train)
        cents = []
        for c in model.clusterCenters():
            comps = [float(x) for x in c]
            inv = 1.0 / (math.sqrt(sum(x * x for x in comps)) or 1.0)
            cents.append([x * inv for x in comps])
    return _ivf_topk(embeddings, queries, cents, k, id_col, vec_col,
                     query_id_col, n_probe, where="cosine_topk_ivf_trained")


def cosine_near_dup_lsh(embeddings: DataFrame, threshold: float = 0.5,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        dim: int | None = 64, n_planes: int = 3,
                        n_tables: int = 6) -> DataFrame:
    """All-pairs embedding near-dup WITHOUT the all-pairs join: bucket
    every vector by sign pattern in ``n_tables`` independent
    random-hyperplane tables; a pair is a candidate iff it collides in
    ANY table; candidates are verified with the exact cosine.

    Semantics: precision = 1 (exact verify), recall < 1 with the
    standard S-curve 1-(1-(1-θ/π)^n_planes)^n_tables — dial n_tables
    up for recall, n_planes up to shrink buckets.  Candidate cost is
    Σ bucket² per table instead of N²; at 100 TB raise ``n_planes``
    so expected bucket size stays bounded (each +1 plane halves it).

    Deterministic md5-derived planes — an engine-independent oracle can
    replicate the buckets bit-for-bit.  Returns (id_a, id_b, cos)."""
    from ._util import ensure_parallelism

    embeddings = ensure_parallelism(embeddings, rows_per_slot=_ROWS_PER_SLOT)
    dim = _resolve_dim(dim, embeddings, vec_col)
    vec = _checked_vec(F.col(vec_col), dim, "cosine_near_dup_lsh")
    buckets = F.array(*[
        F.concat_ws(":", F.lit(str(t)),
                    lsh_bucket(vec,
                               _hyperplanes(dim, n_planes, seed=f"table{t}")))
        for t in range(n_tables)])
    banded = embeddings.select(F.col(id_col).alias("id"),
                               F.explode(buckets).alias("_bucket"))
    a = banded.select(F.col("id").alias("id_a"), "_bucket")
    b = banded.select(F.col("id").alias("id_b"), "_bucket")
    cand = (a.join(b, "_bucket")
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b")
             .distinct())
    pa = embeddings.select(F.col(id_col).alias("id_a"),
                           F.col(vec_col).alias("_va"))
    pb = embeddings.select(F.col(id_col).alias("id_b"),
                           F.col(vec_col).alias("_vb"))
    return (cand.join(pa, "id_a").join(pb, "id_b")
                .select("id_a", "id_b",
                        cosine(F.col("_va"), F.col("_vb")).alias("cos"))
                .filter(F.col("cos") >= threshold))


def cosine_topk_lsh(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    query_id_col: str = "query_id", dim: int | None = 64,
                    n_planes: int = 3, n_tables: int = 6) -> DataFrame:
    """Approximate top-k with multi-table random-hyperplane LSH: the
    corpus is bucketed by sign pattern in each of ``n_tables``
    independent tables; a corpus vector is a candidate if it collides
    with the query in ANY table.

    Per-table collision for neighbors at angle θ is (1−θ/π)^n_planes;
    recall ≈ 1−(1−p)^n_tables while the expected candidate fraction
    stays ≈ n_tables·2^-n_planes — both dials explicit.  Output shape
    matches ``cosine_topk``; a query may return fewer than k rows."""
    from pyspark.sql.window import Window

    from ._util import ensure_parallelism

    embeddings = ensure_parallelism(embeddings, rows_per_slot=_ROWS_PER_SLOT)
    dim = _resolve_dim(dim, embeddings, vec_col)

    def bucketed(df, idc, vec_alias):
        vec = _checked_vec(F.col(vec_col), dim, "cosine_topk_lsh")
        buckets = F.array(*[
            F.concat_ws(":", F.lit(str(t)),
                        lsh_bucket(vec,
                                   _hyperplanes(dim, n_planes,
                                                seed=f"table{t}")))
            for t in range(n_tables)])
        return df.select(F.col(idc), F.col(vec_col).alias(vec_alias),
                         F.explode(buckets).alias("_bucket"))

    e = bucketed(embeddings, id_col, "_evec")
    q = bucketed(queries, query_id_col, "_qvec")
    scored = (e.join(F.broadcast(q), "_bucket")
               .filter(F.col(id_col) != F.col(query_id_col))
               .select(query_id_col, id_col,
                       cosine(F.col("_qvec"), F.col("_evec")).alias("cos"))
               .distinct())
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), F.asc(id_col))
    return (scored.withColumn("rk", F.row_number().over(w))
                  .filter(F.col("rk") <= k)
                  .select(query_id_col, id_col, "cos", "rk"))


# ---------------------------------------------------------------------------
# Product quantization (r6): the 100 TB vector-compression path.  A
# 64-dim float64 vector is 512 bytes; its PQ code is ``m`` small ints.
# Search never touches the original vectors — an ADC (asymmetric
# distance computation) scan scores the CODES against a per-query
# lookup table, so the working set shrinks ~100× and the scan
# parallelizes like any narrow columnar table.  (Jégou et al., "Product
# Quantization for Nearest Neighbor Search", TPAMI 2011 — public.)
# ---------------------------------------------------------------------------

def train_pq_codebooks(embeddings: DataFrame, vec_col: str = "embedding",
                       id_col: str = "vec_id", m: int = 4,
                       k_codes: int = 16, n_iter: int = 4,
                       seed: str = "pq", dim: int | None = None,
                       sample_fraction: float | None = None)\
        -> list[list[list[float]]]:
    """Deterministic per-subspace k-means: split ``dim`` into ``m``
    contiguous subspaces and train ``k_codes`` centroids in each with
    the same bit-reproducible recipe as ``train_spherical_kmeans``
    (md5-ranked init, DECIMAL-exact means, fixed iteration count) —
    but PLAIN L2 k-means on raw subvectors (no normalization: PQ
    approximates the dot product subspace-by-subspace).

    Returns ``codebooks[j][c] = centroid c of subspace j`` (each of
    length dim/m), pinnable in a cross-engine oracle.  Cost: one scan
    + one groupBy (subspace, code) of dim/m decimal means per
    iteration, all subspaces trained in the SAME pass (each row is
    inlined into its m (subspace, code, subvector) triples);
    ``sample_fraction`` bounds the training scan at 100 TB."""
    dim = _resolve_dim(dim, embeddings, vec_col)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d_sub = dim // m
    base = embeddings.select(F.col(id_col).alias("_id"),
                             F.col(vec_col).cast("array<double>")
                             .alias("_v"))
    if sample_fraction is not None and sample_fraction < 1.0:
        from .corpus import _hex_threshold

        base = base.filter(
            F.substring(F.md5(F.concat(F.lit(f"{seed}|s|"),
                                       F.col("_id").cast("string"))),
                        1, 8) < _hex_threshold(sample_fraction))

    init_rows = (base
                 .withColumn("_r", F.md5(F.concat(F.lit(f"{seed}:"),
                                                  F.col("_id")
                                                  .cast("string"))))
                 .orderBy("_r").limit(k_codes).collect())
    if not init_rows:
        raise ValueError("cannot train PQ codebooks on an empty corpus")
    k_codes = min(k_codes, len(init_rows))
    books = [[[float(r["_v"][j * d_sub + i]) for i in range(d_sub)]
              for r in init_rows] for j in range(m)]

    for _ in range(n_iter):
        # one (subspace, code, subvector) row per subspace of each
        # vector: the per-code means are then a d_sub-wide groupBy
        # instead of one m × k_codes × d_sub-wide global agg, whose
        # planning and codegen dominated training on small corpora
        subs = F.array(*[
            F.struct(F.lit(j).alias("_j"),
                     _pq_code_of_sub(F.slice("_v", j * d_sub + 1, d_sub),
                                     books[j]).alias("_c"),
                     F.slice("_v", j * d_sub + 1, d_sub).alias("_s"))
            for j in range(m)])
        means = (base.select(F.inline(subs))
                 .groupBy("_j", "_c")
                 .agg(*[F.avg(F.element_at("_s", i + 1)
                              .cast("decimal(20,15)")).alias(f"m{i}")
                        for i in range(d_sub)])
                 .collect())
        got = {(r["_j"], r["_c"]): r for r in means}
        books = [[[float(got[j, c][f"m{i}"])
                   if (j, c) in got and got[j, c][f"m{i}"] is not None
                   else books[j][c][i]
                   for i in range(d_sub)]
                  for c in range(k_codes)] for j in range(m)]
    return books


def _pq_code_of_sub(sub: Column, book: list[list[float]]) -> Column:
    """Argmin-L2 code of one subvector against one codebook, as a pure
    column expression (ties → LOWER code, the standard argmin rule;
    deterministic because distances are exact doubles either side)."""
    # one lambda over the codebook literal, not one expression tree per
    # centroid: the plan stays small however many codes there are
    dists = F.transform(
        F.array(*[_vec_lit(c) for c in book]),
        lambda c: F.aggregate(
            F.zip_with(sub, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda a, v: a + v))
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def pq_encode(embeddings: DataFrame,
              codebooks: list[list[list[float]]],
              id_col: str = "vec_id", vec_col: str = "embedding")\
        -> DataFrame:
    """(id, codes array<int> of length m): the compressed table a
    100 TB deployment stores INSTEAD of raw vectors.  Pure codegen
    projection — one scan, no shuffle, no Python."""
    m = len(codebooks)
    d_sub = len(codebooks[0][0])
    vec = F.col(vec_col).cast("array<double>")
    codes = F.array(*[
        _pq_code_of_sub(F.slice(vec, j * d_sub + 1, d_sub), codebooks[j])
        for j in range(m)])
    return embeddings.select(F.col(id_col).alias("id"),
                             codes.alias("codes"))


def cosine_topk_pq(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   query_id_col: str = "query_id", m: int = 4,
                   k_codes: int = 16, seed: str = "pq",
                   codebooks: list[list[list[float]]] | None = None,
                   codes: DataFrame | None = None,
                   sample_fraction: float | None = None,
                   rerank_factor: int | None = None) -> DataFrame:
    """ADC top-k over PQ codes: score(q, x) ≈ Σ_j q_j · cb[j][code_j]
    ranked per query (approximate dot; queries are pre-normalized so
    the ranking approximates cosine).

    Topology: the codes table (``m`` ints/row) is the ONLY large input
    — the query side broadcasts, scoring is a fixed-order literal
    lookup expression inside whole-stage codegen (no groupBy: the sum
    over subspaces is an ordered fold, bit-stable for the oracle), and
    the per-query top-k is a WindowGroupLimit.  Pass a pre-encoded
    ``codes`` DataFrame to search without touching vectors at all (the
    production path: encode once, search many).

    ``rerank_factor``: the standard two-stage recipe — ADC shortlists
    ``k × rerank_factor`` candidates per query from the codes alone,
    then ONLY those candidates' original vectors are fetched (a join
    on id, k×factor×|Q| rows — not a scan) and re-ranked by exact
    cosine.  Restores fine-order recall that quantization loses while
    keeping the corpus-sized pass on compressed codes; returns
    (query_id, id, rk, cos) instead of the raw ADC score."""
    from pyspark.sql.window import Window

    from ._util import ensure_parallelism

    if codebooks is None:
        codebooks = train_pq_codebooks(
            embeddings, vec_col, id_col, m, k_codes, seed=seed,
            sample_fraction=sample_fraction)
    m = len(codebooks)
    d_sub = len(codebooks[0][0])
    if codes is None:
        codes = pq_encode(embeddings, codebooks, id_col, vec_col)
    codes = ensure_parallelism(codes, rows_per_slot=_ROWS_PER_SLOT)

    qn = F.col(vec_col).cast("array<double>")
    qunit = F.transform(
        qn, lambda x: x / F.sqrt(F.aggregate(
            qn, F.lit(0.0), lambda a, v: a + v * v)))
    q = queries.select(F.col(query_id_col), qunit.alias("_q"))

    def partial(j):
        book = F.array(*[_vec_lit(c) for c in codebooks[j]])
        cent = F.element_at(book, F.element_at("codes", j + 1) + 1)
        return F.aggregate(
            F.zip_with(F.slice("_q", j * d_sub + 1, d_sub), cent,
                       lambda x, y: x * y),
            F.lit(0.0), lambda a, v: a + v)

    score = partial(0)
    for j in range(1, m):
        score = score + partial(j)
    scored = (codes.crossJoin(F.broadcast(q))
                   .filter(F.col("id") != F.col(query_id_col))
                   .select(query_id_col, "id", score.alias("adc")))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("adc"), F.asc("id"))
    if rerank_factor is None:
        return (scored.withColumn("rk", F.row_number().over(w))
                      .filter(F.col("rk") <= k)
                      .select(query_id_col, F.col("id").alias(id_col),
                              "rk", "adc"))
    short = (scored.withColumn("_srk", F.row_number().over(w))
                   .filter(F.col("_srk") <= k * rerank_factor)
                   .select(query_id_col, "id"))
    vecs = embeddings.select(F.col(id_col).alias("id"),
                             F.col(vec_col).cast("array<double>")
                             .alias("_evec"))
    qv = queries.select(F.col(query_id_col),
                        F.col(vec_col).cast("array<double>")
                        .alias("_qvec"))
    exact = (short.join(vecs, "id").join(F.broadcast(qv), query_id_col)
                  .select(query_id_col, "id",
                          cosine(F.col("_qvec"), F.col("_evec"))
                          .alias("cos")))
    w2 = Window.partitionBy(query_id_col).orderBy(F.desc("cos"),
                                                  F.asc("id"))
    return (exact.withColumn("rk", F.row_number().over(w2))
                 .filter(F.col("rk") <= k)
                 .select(query_id_col, F.col("id").alias(id_col),
                         "rk", "cos"))


# ---------------------------------------------------------------------------
# IVF + PQ combined (r8): the realistic 100 TB ANN deployment — coarse
# IVF cells prune WHICH partitions a query reads (n_probe/n_centroids
# of the corpus), PQ codes shrink WHAT each partition stores (~100×),
# so probe I/O drops multiplicatively: a 100 TB raw-vector corpus
# becomes ~1 TB of codes of which a 3/16 probe reads ~190 GB.
# Non-residual encoding (codes quantize the raw vector, not x−centroid)
# is the standard choice for inner-product/cosine metrics — the ADC
# score needs no per-cell term, so one codebook serves every cell and
# the existing bit-deterministic PQ codebooks are reused unchanged.
# (Jégou et al. TPAMI 2011 §IV "IVFADC"; inner-product non-residual
# variant as in public FAISS IndexIVFPQ by_residual=False.)
# ---------------------------------------------------------------------------

def encode_ivfpq(embeddings: DataFrame,
                 codebooks: list[list[list[float]]],
                 cents: list[list[float]],
                 id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """(id, _cell, codes): each vector's coarse IVF cell (argmax-dot
    against ``cents``) plus its ``m`` PQ subspace codes — the entire
    stored representation of the corpus.  Pure codegen projection:
    one scan, no shuffle, no Python."""
    m = len(codebooks)
    d_sub = len(codebooks[0][0])
    vec = F.col(vec_col).cast("array<double>")
    codes = F.array(*[
        _pq_code_of_sub(F.slice(vec, j * d_sub + 1, d_sub), codebooks[j])
        for j in range(m)])
    return embeddings.select(F.col(id_col).alias("id"),
                             ivf_cell_of(vec_col, cents).alias("_cell"),
                             codes.alias("codes"))


def write_ivfpq_index(embeddings: DataFrame, path: str,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      n_centroids: int = 16, m: int = 4,
                      k_codes: int = 16, seed: str = "ivf",
                      pq_seed: str = "pq",
                      codebooks: list[list[list[float]]] | None = None,
                      sample_fraction: float | None = None)\
        -> list[list[list[float]]]:
    """Materialize the combined index: PQ codes partitioned by IVF
    cell (hive-style ``_cell=N`` dirs, like ``write_ivf_clustered``)
    plus an ``_ivfpq_meta.json`` sidecar pinning the codebooks and
    parameters, so any session can probe without retraining.  Returns
    the codebooks (trained here if not supplied).

    Scale: encode is one scan (no shuffle beyond the cell
    ``repartition``), the written bytes are ~dim·8/m of the raw corpus,
    and the sidecar is O(m·k_codes·dim) — metadata-sized."""
    import json

    from ..sources import fs
    from ._util import ensure_parallelism

    embeddings = ensure_parallelism(embeddings, rows_per_slot=_ROWS_PER_SLOT)
    dim = _resolve_dim(None, embeddings, vec_col)
    cents = _hyperplanes(dim, n_centroids, seed=seed)
    if codebooks is None:
        codebooks = train_pq_codebooks(
            embeddings, vec_col, id_col, m, k_codes, seed=pq_seed,
            sample_fraction=sample_fraction)
    (encode_ivfpq(embeddings, codebooks, cents, id_col, vec_col)
     .repartition("_cell")
     .write.partitionBy("_cell").mode("overwrite").parquet(path))
    meta = {"n_centroids": n_centroids, "m": m,
            "k_codes": len(codebooks[0]), "dim": dim, "seed": seed,
            "codebooks": codebooks}
    fs.write_bytes_atomic(path.rstrip("/") + "/_ivfpq_meta.json",
                          json.dumps(meta).encode())
    return codebooks


def _ivfpq_score(coded: DataFrame, embeddings: DataFrame | None,
                 queries: DataFrame, codebooks: list[list[list[float]]],
                 cents: list[list[float]], k: int, id_col: str,
                 vec_col: str, query_id_col: str, n_probe: int,
                 rerank_factor: int | None, where: str) -> DataFrame:
    """Shared IVFPQ probe: queries explode to their ``n_probe`` best
    cells (each corpus code row lives in exactly ONE cell, so a
    (query, doc) pair joins at most once — no dedup needed), the
    broadcast query side carries the normalized vector, and the ADC
    sum is the same fixed-order fold as ``cosine_topk_pq`` so inline
    and stored probes are bit-identical.  ``rerank_factor`` fetches
    only the shortlisted ids' original vectors (requires
    ``embeddings``) for an exact-cosine second stage."""
    from pyspark.sql.window import Window

    m = len(codebooks)
    d_sub = len(codebooks[0][0])
    dim = len(cents[0])

    def top_cells(vec, n):
        scored = F.transform(
            _dots(vec, cents),
            lambda d, i: F.struct(d.alias("d"), i.alias("cell")))
        return F.slice(F.reverse(F.array_sort(scored)), 1, n)

    qn = F.col(vec_col).cast("array<double>")
    qunit = F.transform(
        qn, lambda x: x / F.sqrt(F.aggregate(
            qn, F.lit(0.0), lambda a, v: a + v * v)))
    vec_ok = _checked_vec(F.col(vec_col), dim, where)
    q = queries.select(
        F.col(query_id_col), qunit.alias("_q"),
        F.explode(F.transform(top_cells(vec_ok, n_probe),
                              lambda s: s["cell"])).alias("_cell"))

    def partial(j):
        book = F.array(*[_vec_lit(c) for c in codebooks[j]])
        cent = F.element_at(book, F.element_at("codes", j + 1) + 1)
        return F.aggregate(
            F.zip_with(F.slice("_q", j * d_sub + 1, d_sub), cent,
                       lambda x, y: x * y),
            F.lit(0.0), lambda a, v: a + v)

    score = partial(0)
    for j in range(1, m):
        score = score + partial(j)
    scored = (coded.join(F.broadcast(q), "_cell")
                   .filter(F.col("id") != F.col(query_id_col))
                   .select(query_id_col, "id", score.alias("adc")))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("adc"), F.asc("id"))
    if rerank_factor is None:
        return (scored.withColumn("rk", F.row_number().over(w))
                      .filter(F.col("rk") <= k)
                      .select(query_id_col, F.col("id").alias(id_col),
                              "rk", "adc"))
    if embeddings is None:
        raise ValueError(f"{where}: rerank_factor needs the original "
                         "vectors — pass embeddings=")
    short = (scored.withColumn("_srk", F.row_number().over(w))
                   .filter(F.col("_srk") <= k * rerank_factor)
                   .select(query_id_col, "id"))
    vecs = embeddings.select(F.col(id_col).alias("id"),
                             F.col(vec_col).cast("array<double>")
                             .alias("_evec"))
    qv = queries.select(F.col(query_id_col),
                        F.col(vec_col).cast("array<double>")
                        .alias("_qvec"))
    exact = (short.join(vecs, "id").join(F.broadcast(qv), query_id_col)
                  .select(query_id_col, "id",
                          cosine(F.col("_qvec"), F.col("_evec"))
                          .alias("cos")))
    w2 = Window.partitionBy(query_id_col).orderBy(F.desc("cos"),
                                                  F.asc("id"))
    return (exact.withColumn("rk", F.row_number().over(w2))
                 .filter(F.col("rk") <= k)
                 .select(query_id_col, F.col("id").alias(id_col),
                         "rk", "cos"))


def cosine_topk_ivfpq(embeddings: DataFrame, queries: DataFrame,
                      k: int = 5, id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      query_id_col: str = "query_id",
                      n_centroids: int = 16, n_probe: int = 3,
                      m: int = 4, k_codes: int = 16, seed: str = "ivf",
                      pq_seed: str = "pq",
                      codebooks: list[list[list[float]]] | None = None,
                      coded: DataFrame | None = None,
                      rerank_factor: int | None = None,
                      sample_fraction: float | None = None,
                      dim: int | None = None) -> DataFrame:
    """Inline IVFPQ top-k: encode (or accept ``coded``), probe
    ``n_probe`` cells per query, ADC-score only in-cell codes.
    Bit-identical to the stored probe with the same codebooks."""
    from ._util import ensure_parallelism

    dim = _resolve_dim(dim, embeddings, vec_col)
    cents = _hyperplanes(dim, n_centroids, seed=seed)
    if codebooks is None:
        codebooks = train_pq_codebooks(
            embeddings, vec_col, id_col, m, k_codes, seed=pq_seed,
            sample_fraction=sample_fraction)
    if coded is None:
        coded = encode_ivfpq(embeddings, codebooks, cents, id_col,
                             vec_col)
    coded = ensure_parallelism(coded, rows_per_slot=_ROWS_PER_SLOT)
    return _ivfpq_score(coded, embeddings, queries, codebooks, cents, k,
                        id_col, vec_col, query_id_col, n_probe,
                        rerank_factor, "cosine_topk_ivfpq")


def cosine_topk_ivfpq_stored(spark, path: str, queries: DataFrame,
                             k: int = 5, id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             query_id_col: str = "query_id",
                             n_probe: int = 3,
                             rerank_factor: int | None = None,
                             embeddings: DataFrame | None = None)\
        -> DataFrame:
    """Probe a ``write_ivfpq_index`` store: parameters and codebooks
    come from the sidecar, the query set's probed cells become an
    IN-list literal so Catalyst prunes unprobed ``_cell=N`` partition
    directories at PLAN time, and only those cells' CODE rows (~m ints
    each) are ever read — I/O = (n_probe/n_centroids) × the compressed
    index, the multiplicative 100 TB win."""
    import json

    from ..sources import fs

    meta = json.loads(fs.read_bytes(
        path.rstrip("/") + "/_ivfpq_meta.json"))
    codebooks = meta["codebooks"]
    cents = _hyperplanes(meta["dim"], meta["n_centroids"],
                         seed=meta["seed"])

    def top_cells(vec, n):
        scored = F.transform(
            _dots(vec, cents),
            lambda d, i: F.struct(d.alias("d"), i.alias("cell")))
        return F.slice(F.reverse(F.array_sort(scored)), 1, n)

    vec_ok = _checked_vec(F.col(vec_col), meta["dim"],
                          "cosine_topk_ivfpq_stored")
    # probed-cell set is ≤ |queries|·n_probe ≤ n_centroids — computed
    # driver-side (metadata-sized) so the scan filter is an IN-list
    # literal Catalyst can prune partition directories with
    probed = sorted({r["_cell"] for r in queries.select(
        F.explode(F.transform(top_cells(vec_ok, n_probe),
                              lambda s: s["cell"])).alias("_cell"))
        .distinct().collect()})
    coded = (spark.read.parquet(path)
             .filter(F.col("_cell").isin(probed)))
    return _ivfpq_score(coded, embeddings, queries, codebooks, cents, k,
                        id_col, vec_col, query_id_col, n_probe,
                        rerank_factor, "cosine_topk_ivfpq_stored")


# ---------------------------------------------------------------------------
# Scalar quantization (r9): per-dimension int8 — the OTHER standard
# vector-compression tier (FAISS ScalarQuantizer QT_8bit; Milvus/
# Lucene int8 HNSW storage).  4× smaller than float32 (8× vs double)
# with far better fine-order fidelity than PQ at m=4: each dimension
# keeps 256 levels instead of sharing one of 16 centroids per
# 16-dim subspace.  Train = per-dimension min/max (one fused agg —
# 2×dim doubles to the driver, metadata), encode = scan-local codegen
# projection, search = asymmetric decoded-dot against broadcast
# queries.  Every float op is a fixed-order chain so a SQL oracle
# reproduces scores bit-for-bit.
# ---------------------------------------------------------------------------

def train_sq8(embeddings: DataFrame, vec_col: str = "embedding",
              dim: int | None = None
              ) -> tuple[list[float], list[float]]:
    """Per-dimension ``(mins, scales)`` over the corpus (scale =
    max−min, 1.0 for constant dimensions).  ONE aggregation pass with
    map-side partials; the result is the 2×dim-double codec artifact
    (same precedent as k-means centroids)."""
    dim = _resolve_dim(dim, embeddings, vec_col)
    vec = F.col(vec_col).cast("array<double>")
    aggs = [F.min(F.element_at(vec, d + 1)).alias(f"mn{d}")
            for d in range(dim)]
    aggs += [F.max(F.element_at(vec, d + 1)).alias(f"mx{d}")
             for d in range(dim)]
    row = embeddings.agg(*aggs).collect()[0]
    mins = [float(row[f"mn{d}"]) for d in range(dim)]
    scales = [float(row[f"mx{d}"]) - float(row[f"mn{d}"]) or 1.0
              for d in range(dim)]
    return mins, scales


def _sq8_code(vec: Column, d: int, mn: float, scale: float) -> Column:
    """Quantized level of dimension ``d``: ``floor((x−mn)/scale*255
    + 0.5)`` clamped to [0, 255] — explicit half-up floor, identical
    arithmetic in the SQL oracle (``round()`` half-even vs half-away
    differences between engines never enter)."""
    z = (F.element_at(vec, d + 1) - F.lit(mn)) / F.lit(scale) * 255.0
    return F.greatest(F.lit(0), F.least(
        F.lit(255), F.floor(z + 0.5))).cast("int")


def sq8_encode(embeddings: DataFrame, mins: list[float],
               scales: list[float], id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """``(id, codes array<int>)`` with one 0–255 level per dimension —
    the compressed table stored instead of raw vectors.  Pure codegen
    projection: one scan, no shuffle, no Python."""
    vec = F.col(vec_col).cast("array<double>")
    codes = F.array(*[_sq8_code(vec, d, mins[d], scales[d])
                      for d in range(len(mins))])
    return embeddings.select(F.col(id_col).alias("id"),
                             codes.alias("codes"))


def cosine_topk_sq8(embeddings: DataFrame, queries: DataFrame,
                    k: int = 5, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    query_id_col: str = "query_id",
                    params: tuple[list[float], list[float]] | None = None,
                    codes: DataFrame | None = None,
                    rerank_factor: int | None = None) -> DataFrame:
    """Asymmetric top-k over int8 codes: score(q, x) = Σ_d q_d ·
    (mn_d + code_d/255·scale_d), queries kept full-precision (the
    standard asymmetric-distance trick — only the corpus side pays
    quantization error).

    Topology mirrors ``cosine_topk_pq``: the codes table is the only
    corpus-sized input, queries broadcast, the decoded dot is a
    fixed-order 64-term chain inside whole-stage codegen, top-k is a
    WindowGroupLimit.  ``rerank_factor`` adds the two-stage exact-
    cosine rerank over k×factor candidates fetched BY ID (a join,
    not a scan).  Pass pre-built ``params``/``codes`` to search
    without touching raw vectors (encode once, search many)."""
    from pyspark.sql.window import Window

    from ._util import ensure_parallelism

    if params is None:
        params = train_sq8(embeddings, vec_col)
    mins, scales = params
    dim = len(mins)
    if codes is None:
        codes = sq8_encode(embeddings, params[0], params[1],
                           id_col, vec_col)
    codes = ensure_parallelism(codes, rows_per_slot=_ROWS_PER_SLOT)

    qn = F.col(vec_col).cast("array<double>")
    qunit = F.transform(
        qn, lambda x: x / F.sqrt(F.aggregate(
            qn, F.lit(0.0), lambda a, v: a + v * v)))
    q = queries.select(F.col(query_id_col), qunit.alias("_q"))

    score = None
    for d in range(dim):
        dec = (F.lit(mins[d])
               + F.element_at("codes", d + 1) / F.lit(255.0)
               * F.lit(scales[d]))
        term = F.element_at("_q", d + 1) * dec
        score = term if score is None else score + term
    scored = (codes.crossJoin(F.broadcast(q))
                   .filter(F.col("id") != F.col(query_id_col))
                   .select(query_id_col, "id", score.alias("sq")))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sq"),
                                                 F.asc("id"))
    if rerank_factor is None:
        return (scored.withColumn("rk", F.row_number().over(w))
                      .filter(F.col("rk") <= k)
                      .select(query_id_col, F.col("id").alias(id_col),
                              "rk", "sq"))
    short = (scored.withColumn("_srk", F.row_number().over(w))
                   .filter(F.col("_srk") <= k * rerank_factor)
                   .select(query_id_col, "id"))
    vecs = embeddings.select(F.col(id_col).alias("id"),
                             F.col(vec_col).cast("array<double>")
                             .alias("_evec"))
    qv = queries.select(F.col(query_id_col),
                        F.col(vec_col).cast("array<double>")
                        .alias("_qvec"))
    exact = (short.join(vecs, "id").join(F.broadcast(qv), query_id_col)
                  .select(query_id_col, "id",
                          cosine(F.col("_qvec"), F.col("_evec"))
                          .alias("cos")))
    w2 = Window.partitionBy(query_id_col).orderBy(F.desc("cos"),
                                                  F.asc("id"))
    return (exact.withColumn("rk", F.row_number().over(w2))
                 .filter(F.col("rk") <= k)
                 .select(query_id_col, F.col("id").alias(id_col),
                         "rk", "cos"))


# ---------------------------------------------------------------------------
# IVF + SQ8 (r10): int8 codes partitioned by coarse IVF cell — the
# FAISS "IVF,SQ8" tier, composing the two orthogonal wins exactly the
# way write_ivfpq_index composes IVF with PQ: plan-time partition
# pruning (read n_probe/n_centroids of the index) × 4-8× scalar
# compression, at SQ8's near-exact fine order (no shared subspace
# centroids).  VERDICT r9 #5.
# ---------------------------------------------------------------------------

def encode_ivfsq8(embeddings: DataFrame, mins: list[float],
                  scales: list[float], cents: list[list[float]],
                  id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """(id, _cell, codes): coarse IVF cell (argmax-dot against
    ``cents``) + per-dimension int8 levels — the stored corpus
    representation.  Pure codegen projection: one scan, no shuffle,
    no Python."""
    vec = F.col(vec_col).cast("array<double>")
    codes = F.array(*[_sq8_code(vec, d, mins[d], scales[d])
                      for d in range(len(mins))])
    return embeddings.select(F.col(id_col).alias("id"),
                             ivf_cell_of(vec_col, cents).alias("_cell"),
                             codes.alias("codes"))


def write_ivfsq8_index(embeddings: DataFrame, path: str,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       n_centroids: int = 16, seed: str = "ivf",
                       params: tuple[list[float], list[float]] | None
                       = None) -> tuple[list[float], list[float]]:
    """Materialize the combined index: int8 codes partitioned by IVF
    cell (hive-style ``_cell=N`` dirs) plus an ``_ivfsq8_meta.json``
    sidecar pinning mins/scales and the centroid parameters, so any
    session probes without retraining.  Returns ``(mins, scales)``.

    Scale: train is one fused min/max agg, encode one scan (the only
    exchange is the cell ``repartition``), written bytes ≈ dim ints
    per vector, sidecar O(dim) doubles — metadata-sized."""
    import json

    from ..sources import fs
    from ._util import ensure_parallelism

    embeddings = ensure_parallelism(embeddings, rows_per_slot=_ROWS_PER_SLOT)
    dim = _resolve_dim(None, embeddings, vec_col)
    cents = _hyperplanes(dim, n_centroids, seed=seed)
    if params is None:
        params = train_sq8(embeddings, vec_col, dim=dim)
    mins, scales = params
    (encode_ivfsq8(embeddings, mins, scales, cents, id_col, vec_col)
     .repartition("_cell")
     .write.partitionBy("_cell").mode("overwrite").parquet(path))
    meta = {"n_centroids": n_centroids, "dim": dim, "seed": seed,
            "mins": mins, "scales": scales}
    fs.write_bytes_atomic(path.rstrip("/") + "/_ivfsq8_meta.json",
                          json.dumps(meta).encode())
    return params


def ivfsq8_append(new_embeddings: DataFrame, path: str,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding") -> int:
    """FAISS ``add()`` for the stored IVF+SQ8 index: encode NEW
    vectors with the index's STORED training (mins/scales and the
    centroid parameters from the sidecar — never retrained, so old
    and new codes score on the same decoded scale and stay mutually
    comparable) and append them to their cell directories.  The
    daily-ingest path: cost is one scan of the BATCH plus its cell
    ``repartition``; the existing index is never read or rewritten.

    Values outside the trained per-dimension range clamp to the
    [0, 255] code ends (exactly FAISS's QT_8bit behavior); a batch
    that drifts far from the training distribution should trigger a
    rebuild instead — compare ``train_sq8(batch)`` against the
    sidecar to decide.  Ids are NOT deduplicated against the stored
    corpus (ids are the caller's contract, as in every store here);
    the vector dimension is validated against the sidecar.  Returns
    the number of appended rows."""
    import json

    from ..sources import fs
    from ._util import ensure_parallelism

    meta = json.loads(fs.read_bytes(
        path.rstrip("/") + "/_ivfsq8_meta.json"))
    new_embeddings = ensure_parallelism(new_embeddings, rows_per_slot=_ROWS_PER_SLOT)
    dim = _resolve_dim(None, new_embeddings, vec_col)
    if dim != int(meta["dim"]):
        raise ValueError(
            f"appended vectors have dim={dim}, index was built with "
            f"dim={meta['dim']}")
    cents = _hyperplanes(int(meta["dim"]), int(meta["n_centroids"]),
                         seed=meta["seed"])
    coded = encode_ivfsq8(new_embeddings, meta["mins"], meta["scales"],
                          cents, id_col, vec_col)
    n = coded.count()
    (coded.repartition("_cell")
          .write.partitionBy("_cell").mode("append").parquet(path))
    return n


def _ivfsq8_score(coded: DataFrame, embeddings: DataFrame | None,
                  queries: DataFrame, mins: list[float],
                  scales: list[float], cents: list[list[float]],
                  k: int, id_col: str, vec_col: str,
                  query_id_col: str, n_probe: int,
                  rerank_factor: int | None, where: str) -> DataFrame:
    """Shared IVF+SQ8 probe: queries explode to their ``n_probe``
    best cells (each code row lives in exactly ONE cell, so a
    (query, doc) pair joins at most once), the broadcast query side
    carries the normalized vector, and the decoded dot is the same
    fixed-order chain as ``cosine_topk_sq8`` so full-scan and probed
    scores agree bit-for-bit on shared candidates."""
    from pyspark.sql.window import Window

    dim = len(mins)

    def top_cells(vec, n):
        scored = F.transform(
            _dots(vec, cents),
            lambda d, i: F.struct(d.alias("d"), i.alias("cell")))
        return F.slice(F.reverse(F.array_sort(scored)), 1, n)

    qn = F.col(vec_col).cast("array<double>")
    qunit = F.transform(
        qn, lambda x: x / F.sqrt(F.aggregate(
            qn, F.lit(0.0), lambda a, v: a + v * v)))
    vec_ok = _checked_vec(F.col(vec_col), dim, where)
    q = queries.select(
        F.col(query_id_col), qunit.alias("_q"),
        F.explode(F.transform(top_cells(vec_ok, n_probe),
                              lambda s: s["cell"])).alias("_cell"))

    score = None
    for d in range(dim):
        dec = (F.lit(mins[d])
               + F.element_at("codes", d + 1) / F.lit(255.0)
               * F.lit(scales[d]))
        term = F.element_at("_q", d + 1) * dec
        score = term if score is None else score + term
    scored = (coded.join(F.broadcast(q), "_cell")
                   .filter(F.col("id") != F.col(query_id_col))
                   .select(query_id_col, "id", score.alias("sq")))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sq"),
                                                 F.asc("id"))
    if rerank_factor is None:
        return (scored.withColumn("rk", F.row_number().over(w))
                      .filter(F.col("rk") <= k)
                      .select(query_id_col, F.col("id").alias(id_col),
                              "rk", "sq"))
    if embeddings is None:
        raise ValueError(f"{where}: rerank_factor needs the original "
                         "vectors — pass embeddings=")
    short = (scored.withColumn("_srk", F.row_number().over(w))
                   .filter(F.col("_srk") <= k * rerank_factor)
                   .select(query_id_col, "id"))
    vecs = embeddings.select(F.col(id_col).alias("id"),
                             F.col(vec_col).cast("array<double>")
                             .alias("_evec"))
    qv = queries.select(F.col(query_id_col),
                        F.col(vec_col).cast("array<double>")
                        .alias("_qvec"))
    exact = (short.join(vecs, "id").join(F.broadcast(qv), query_id_col)
                  .select(query_id_col, "id",
                          cosine(F.col("_qvec"), F.col("_evec"))
                          .alias("cos")))
    w2 = Window.partitionBy(query_id_col).orderBy(F.desc("cos"),
                                                  F.asc("id"))
    return (exact.withColumn("rk", F.row_number().over(w2))
                 .filter(F.col("rk") <= k)
                 .select(query_id_col, F.col("id").alias(id_col),
                         "rk", "cos"))


def cosine_topk_ivfsq8(embeddings: DataFrame, queries: DataFrame,
                       k: int = 5, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       query_id_col: str = "query_id",
                       n_centroids: int = 16, n_probe: int = 3,
                       seed: str = "ivf",
                       params: tuple[list[float], list[float]] | None
                       = None,
                       coded: DataFrame | None = None,
                       rerank_factor: int | None = None,
                       dim: int | None = None) -> DataFrame:
    """Inline IVF+SQ8 top-k: encode (or accept ``coded``), probe
    ``n_probe`` cells per query, decoded-dot-score only in-cell
    codes.  Bit-identical to the stored probe with the same
    params."""
    from ._util import ensure_parallelism

    dim = _resolve_dim(dim, embeddings, vec_col)
    cents = _hyperplanes(dim, n_centroids, seed=seed)
    if params is None:
        params = train_sq8(embeddings, vec_col, dim=dim)
    mins, scales = params
    if coded is None:
        coded = encode_ivfsq8(embeddings, mins, scales, cents,
                              id_col, vec_col)
    coded = ensure_parallelism(coded, rows_per_slot=_ROWS_PER_SLOT)
    return _ivfsq8_score(coded, embeddings, queries, mins, scales,
                         cents, k, id_col, vec_col, query_id_col,
                         n_probe, rerank_factor, "cosine_topk_ivfsq8")


def cosine_topk_ivfsq8_stored(spark, path: str, queries: DataFrame,
                              k: int = 5, id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              query_id_col: str = "query_id",
                              n_probe: int = 3,
                              rerank_factor: int | None = None,
                              embeddings: DataFrame | None = None)\
        -> DataFrame:
    """Probe a ``write_ivfsq8_index`` store: params come from the
    sidecar, the query set's probed cells become an IN-list literal
    so Catalyst prunes unprobed ``_cell=N`` partition directories at
    PLAN time — I/O = (n_probe/n_centroids) × the int8 index, the
    same multiplicative win as the IVFPQ store at SQ8's finer
    order."""
    import json

    from ..sources import fs

    meta = json.loads(fs.read_bytes(
        path.rstrip("/") + "/_ivfsq8_meta.json"))
    mins, scales = meta["mins"], meta["scales"]
    cents = _hyperplanes(meta["dim"], meta["n_centroids"],
                         seed=meta["seed"])

    def top_cells(vec, n):
        scored = F.transform(
            _dots(vec, cents),
            lambda d, i: F.struct(d.alias("d"), i.alias("cell")))
        return F.slice(F.reverse(F.array_sort(scored)), 1, n)

    vec_ok = _checked_vec(F.col(vec_col), meta["dim"],
                          "cosine_topk_ivfsq8_stored")
    probed = sorted({r["_cell"] for r in queries.select(
        F.explode(F.transform(top_cells(vec_ok, n_probe),
                              lambda s: s["cell"])).alias("_cell"))
        .distinct().collect()})
    coded = (spark.read.parquet(path)
             .filter(F.col("_cell").isin(probed)))
    return _ivfsq8_score(coded, embeddings, queries, mins, scales,
                         cents, k, id_col, vec_col, query_id_col,
                         n_probe, rerank_factor,
                         "cosine_topk_ivfsq8_stored")
