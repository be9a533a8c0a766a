"""Deduplication operators for large-scale training-data pipelines —
exact, n-gram Jaccard, MinHash/LSH, and SimHash near-dup detection.

No reference counterpart (declared extension, SURVEY.md §2.9 E1/E2);
built entirely from Spark built-ins so every step stays inside
whole-stage codegen — no Python in the hot path.

Determinism: all hashing derives from md5 of the content (same hex in
every engine), never engine-specific ``hash()``, so results are
reproducible and DuckDB oracles can replicate them bit-for-bit.

Scale notes (100 TB):
- every operator is shuffle-bounded by (hash) or (shingle) keys; no
  cross joins, no driver-side state;
- the shingle→pair join fans out quadratically per shingle, so
  ``max_doc_freq`` drops ultra-common shingles (stopword shingles carry
  no dedup signal; standard winnowing practice) — bounds the worst key
  to ``max_doc_freq²`` pairs;
- MinHash/LSH replaces the all-pairs Jaccard with banded candidate
  generation: cost is ``O(docs × num_perm)`` + per-bucket joins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, content_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """E1: keep the lowest-id row per distinct content (md5 grouping).
    One hash-partition shuffle; survivors keep all original columns."""
    w_id = F.col(id_col)
    h = F.md5(F.col(content_col))
    payload = F.struct(*[F.col(c) for c in df.columns])
    return (df.groupBy(h.alias("_h"))
              .agg(F.min_by(payload, w_id).alias("_keep"))
              .select("_keep.*"))


def _shingle_array(text_col: str, n: int) -> Column:
    """Word n-gram shingles of one document as an ARRAY column —
    the single derivation shared by the exploded (``word_shingles``)
    and per-row (``minhash_profiles``) consumers so they can never
    drift apart.

    1-based slice positions: i in [1, size-n+1].  Guarded: sequence()
    with start > stop generates a DESCENDING array, so short docs
    must yield an empty shingle set explicitly."""
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    return F.when(
        F.size(toks) >= n,
        F.transform(F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    ).otherwise(F.array().cast("array<string>"))


def word_shingles(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", n: int = 4,
                  distinct: bool = True) -> DataFrame:
    """Word n-gram shingles per document: (id, shingle).
    Tokenization is a plain whitespace split (lower-cased).

    ``distinct=False`` skips the dedup shuffle — correct whenever the
    consumer is itself set-semantic (min aggregation, collect_set)."""
    from ._util import ensure_parallelism

    df = ensure_parallelism(df)
    out = df.select(F.col(id_col).alias("id"),
                    F.explode(_shingle_array(text_col, n)).alias("shingle"))
    return out.distinct() if distinct else out


def _shingle_sizes(shingles: DataFrame) -> DataFrame:
    return shingles.groupBy("id").agg(F.count("*").alias("n_sh"))


def jaccard_pairs(shingles: DataFrame, min_jaccard: float = 0.5,
                  max_doc_freq: int | None = 1000) -> DataFrame:
    """Exact n-gram Jaccard similarity join: all (a < b) pairs with
    ``|A∩B| / |A∪B| >= min_jaccard``, via an equi-join on shared
    shingles (never a cross join).

    Returns (id_a, id_b, jaccard)."""
    if max_doc_freq is not None:
        rare = (shingles.groupBy("shingle")
                .agg(F.count("*").alias("df"))
                .filter(F.col("df") <= max_doc_freq)
                .select("shingle"))
        shingles = shingles.join(rare, "shingle")
    sizes = _shingle_sizes(shingles)
    a = shingles.select(F.col("id").alias("id_a"), "shingle")
    b = shingles.select(F.col("id").alias("id_b"), "shingle")
    inter = (a.join(b, "shingle")
              .filter(F.col("id_a") < F.col("id_b"))
              .groupBy("id_a", "id_b")
              .agg(F.count("*").alias("inter")))
    return (inter
            .join(sizes.withColumnsRenamed({"id": "id_a", "n_sh": "n_a"}),
                  "id_a")
            .join(sizes.withColumnsRenamed({"id": "id_b", "n_sh": "n_b"}),
                  "id_b")
            .select("id_a", "id_b",
                    (F.col("inter")
                     / (F.col("n_a") + F.col("n_b") - F.col("inter")))
                    .alias("jaccard"))
            .filter(F.col("jaccard") >= min_jaccard))


def minhash_signatures(shingles: DataFrame,
                       num_perm: int = 16) -> DataFrame:
    """MinHash signature per document: for permutation ``i``, the
    lexicographic min of ``md5(i || '|' || shingle)``.  md5-hex min is a
    uniform minimum — equivalent to a random permutation per ``i`` —
    and is engine-portable (same strings in DuckDB).

    Returns (id, sig_0 .. sig_{num_perm-1}); one aggregation pass."""
    aggs = [F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle"))))
            .alias(f"sig_{i}") for i in range(num_perm)]
    return shingles.groupBy("id").agg(*aggs)


def lsh_candidate_pairs(signatures: DataFrame, bands: int = 4,
                        rows_per_band: int = 4) -> DataFrame:
    """Band the signature (bands × rows_per_band must equal the
    signature width); docs sharing any band bucket become candidates.
    Standard S-curve: P(candidate) = 1-(1-j^rows)^bands."""
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"sig_{b * rows_per_band + r}")
                for r in range(rows_per_band)]
        band_cols.append(F.concat_ws("#", F.lit(str(b)), *cols).alias("bucket"))
    banded = signatures.select(
        "id", F.explode(F.array(*band_cols)).alias("bucket"))
    a = banded.select(F.col("id").alias("id_a"), "bucket")
    b = banded.select(F.col("id").alias("id_b"), "bucket")
    return (a.join(b, "bucket")
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b")
             .distinct())


def _capped_shingles(df: DataFrame, text_col: str, id_col: str, n: int,
                     max_doc_freq: int | None) -> DataFrame:
    """Non-distinct (id, shingle) rows with the hot-shingle cap
    applied — the shared front of every MinHash profile derivation
    (signatures and verification sets must see the SAME shingle
    stream or LSH recall silently drifts from exact Jaccard)."""
    # non-distinct shingles: every consumer below is set-semantic (min /
    # collect_set), so the dedup shuffle would be pure waste
    sh = word_shingles(df, text_col, id_col, n, distinct=False)
    if max_doc_freq is not None:
        # the cap keeps shingles with doc-freq ≤ cap.  The KEPT set is
        # nearly all shingles (huge), the DROPPED set is the handful of
        # stop-word-like shingles exceeding the cap — so express the
        # filter as a broadcast ANTI join against the tiny hot set:
        # one partial-agg shuffle to count doc-freqs, zero shuffles of
        # the shingle fan-out itself (vs distinct + groupBy + inner
        # join with the huge rare set — three fan-out shuffles).
        hot = (sh.groupBy("shingle")
                 .agg(F.count_distinct("id").alias("df"))
                 .filter(F.col("df") > max_doc_freq).select("shingle"))
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    return sh


def _sh_hash() -> Column:
    """60-bit md5-prefix hash of a shingle (lazy: Column construction
    needs an active session — never build it at import time)."""
    return (F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10)
             .cast("long"))


def minhash_profiles(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", n: int = 4,
                     num_perm: int = 16,
                     max_doc_freq: int | None = 1000) -> DataFrame:
    """Per-document MinHash verification profile:
    (id, sig_0..sig_{num_perm-1}, sh_set, n_sh).

    ONE aggregation pass builds everything — the signature, the hashed
    shingle set, and its size.  ``sh_set`` carries 8-byte md5-prefix
    longs, NOT shingle strings: at corpus scale the profile is the
    heavy shuffle payload, and 60-bit longs cut its bytes several-fold
    vs ~25-byte word shingles.  Jaccard over the hashed sets equals
    string-set Jaccard absent a 60-bit collision inside one pair's
    union (P ≈ 2^-60) — and md5 is engine-portable, so DuckDB oracles
    (which self-join raw shingle strings) stay bit-exact.

    This is also the PERSISTENCE format for incremental dedup: write
    it once per corpus snapshot, and new batches dedup against it
    without re-shingling the corpus (minhash_dedup_incremental).

    (r12 note: a per-row HOF formulation — ``array_min(transform(...))``
    over the shingle array, zero shuffles — was prototyped and measured
    ~2-4× SLOWER than this explode→groupBy: Catalyst's project collapse
    inlines the shingle-array expression into each of the 17 consumers
    and higher-order lambdas run interpreted, while explode + codegen
    md5 + partial aggregation hashes each shingle exactly once.)"""
    sh = _capped_shingles(df, text_col, id_col, n, max_doc_freq)
    sig_aggs = [F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle"))))
                .alias(f"sig_{i}") for i in range(num_perm)]
    return (sh.groupBy("id")
              .agg(*sig_aggs,
                   F.collect_set(_sh_hash()).alias("sh_set"))
              .withColumn("n_sh", F.size("sh_set")))


def _verify_pairs(cand: DataFrame, profiles: DataFrame,
                  min_jaccard: float) -> DataFrame:
    """Join the SMALL candidate-pair set back to per-doc profiles and
    compute exact Jaccard via array_intersect — no second shingle
    fan-out join, no all-pairs work."""
    pa = profiles.select(F.col("id").alias("id_a"),
                         F.col("n_sh").alias("n_a"),
                         F.col("sh_set").alias("set_a"))
    pb = profiles.select(F.col("id").alias("id_b"),
                         F.col("n_sh").alias("n_b"),
                         F.col("sh_set").alias("set_b"))
    inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    return (cand.join(pa, "id_a").join(pb, "id_b")
                .select("id_a", "id_b",
                        (inter / (F.col("n_a") + F.col("n_b") - inter))
                        .alias("jaccard"))
                .filter(F.col("jaccard") >= min_jaccard))


def minhash_dedup_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 4,
                        num_perm: int = 16, bands: int = 4,
                        min_jaccard: float = 0.5,
                        max_doc_freq: int | None = 1000,
                        materialize_profiles: bool = True) -> DataFrame:
    """E2 end-to-end: shingle → MinHash → LSH bands → candidate pairs →
    exact-Jaccard verification.  Output (id_a, id_b, jaccard) — LSH may
    miss pairs (recall < 1) but never emits a pair below threshold
    (precision = 1, because candidates are re-verified).

    ``materialize_profiles`` (default on): the profile feeds FOUR plan
    branches — both sides of the band self-join and both sides of the
    verification join — and Spark recomputes the whole scan → shingle →
    16×md5 → aggregate pipeline per branch (4 full corpus passes;
    column pruning even defeats exchange reuse by specializing the
    aggregates per branch).  What gets materialized is ONLY the
    fixed-width signature table (id, sig_0..N) — ``localCheckpoint``
    cuts its lineage so the 16-permutation hashing runs exactly once
    per run (guide §8: compute the lightweight proxy once).  The
    verification profile (``sh_set`` ≈ every shingle of the corpus)
    deliberately stays LAZY: checkpointing it would pin corpus-scale
    state in executor block storage with no unpersist hook (a §5
    memory/spill hazard — the r12 shape did exactly that).  Lazy, its
    join branches re-derive the sets with ONE cheap md5 per shingle
    and share the aggregation exchange via AQE stage reuse.  Results
    are identical; pass ``False`` to keep a fully-lazy plan.  Caveat
    (library default): the eager checkpoint runs its job at
    DataFrame-BUILD time and its blocks have no lineage, so an
    executor loss makes downstream actions fail instead of recompute
    — acceptable for the fixed-width signature table, never for
    ``sh_set``."""
    if materialize_profiles and not df.isStreaming:
        sh = _capped_shingles(df, text_col, id_col, n, max_doc_freq)
        sigs = (minhash_signatures(sh, num_perm)
                .localCheckpoint(eager=True))
        cand = lsh_candidate_pairs(sigs, bands, num_perm // bands)
        # (r13 A/B note: restricting the verification docs to the
        # candidate-id set first — semi join + a second checkpoint —
        # measured WORSE at bench SF than this plain lazy re-derive:
        # near-dup candidates cover most docs, so the extra job
        # barrier buys almost no shingling back.  AQE stage reuse
        # shares the verify aggregation's exchange between the two
        # join branches.)
        verify_prof = (sh.groupBy("id")
                         .agg(F.collect_set(_sh_hash()).alias("sh_set"))
                         .withColumn("n_sh", F.size("sh_set")))
        return _verify_pairs(cand, verify_prof, min_jaccard)
    profile = minhash_profiles(df, text_col, id_col, n, num_perm,
                               max_doc_freq)
    cand = lsh_candidate_pairs(
        profile.select("id", *[f"sig_{i}" for i in range(num_perm)]),
        bands, num_perm // bands)
    return _verify_pairs(cand, profile, min_jaccard)


def write_profile_store(profiles: DataFrame, table_name: str,
                        n_buckets: int = 64) -> None:
    """Persist a ``minhash_profiles`` output as the incremental-dedup
    corpus store: bucketed + sorted by id, so the verification join
    reads the stored side pre-partitioned (no exchange on the corpus
    profiles — only the tiny candidate set shuffles).  Size
    ``n_buckets`` so a bucket's profiles fit one executor's memory at
    the target corpus scale."""
    (profiles.write.bucketBy(n_buckets, "id").sortBy("id")
     .mode("overwrite").saveAsTable(table_name))


def minhash_dedup_incremental(new_docs: DataFrame,
                              stored_profiles: DataFrame,
                              text_col: str = "text",
                              id_col: str = "doc_id", n: int = 4,
                              num_perm: int = 16, bands: int = 4,
                              min_jaccard: float = 0.5,
                              max_doc_freq: int | None = 1000,
                              new_profiles: DataFrame | None = None)\
        -> DataFrame:
    """Incremental near-dup detection: a NEW batch against a stored
    corpus, without re-shingling the corpus.

    ``stored_profiles`` is a prior ``minhash_profiles`` output (read
    from parquet in practice; same n/num_perm required).  Output
    (id_a, id_b, jaccard) where id_a is ALWAYS a new-batch doc and
    id_b is either an older new-batch doc or a stored doc — the pair
    orientation a daily-ingest filter needs ("drop the new doc").
    stored×stored pairs are never generated or verified.

    Ids appearing on BOTH sides (e.g. a crash-replayed micro-batch
    whose own profiles already landed in the store) are excluded from
    the stored side before banding, so re-runs never produce
    jaccard-1.0 self-pairs or doubled verification rows — replay
    output equals first-run output.

    ``new_profiles`` optionally supplies an already-computed
    ``minhash_profiles(new_docs)`` so callers that persist the batch's
    profiles anyway (the streaming foreachBatch) don't shingle the
    batch twice.

    Scale design (the whole point): cost is O(new × num_perm) hashing
    + a band-bucket join where the NEW side is tiny — AQE broadcast-
    promotes it, so the corpus bands are read once and never shuffled.
    A 100 TB corpus deduped daily re-hashes only the day's batch; the
    corpus contributes a columnar scan of (id, sig_*) plus profile
    lookups for the candidate ids.  Store profiles bucketed by id to
    make the verification join co-located.

    Build-time work: on a batch (non-streaming) input, building the
    returned DataFrame already runs Spark jobs — always one eager
    ``localCheckpoint`` of the candidate pairs, which runs the band
    joins, plus one per side whose profiles are computed rather than read from
    files.  Checkpointed data has no lineage: it lives only in executor
    storage, so losing an executor that holds a block fails every
    downstream action on the result instead of recomputing it —
    re-run the call after an executor loss."""
    new_prof = (new_profiles if new_profiles is not None
                else minhash_profiles(new_docs, text_col, id_col, n,
                                      num_perm, max_doc_freq))
    # Both sides feed multiple plan branches (bands + verification, and
    # the stored side additionally the replay anti-join).  A COMPUTED
    # side would be re-shingled/re-aggregated once per branch — cut
    # lineage so the expensive part is built exactly once.  The NEW
    # batch (small by design — a day's ingest) checkpoints its whole
    # profile; the STORED side may be corpus-sized, so only its
    # fixed-width (id, sig_*) projection — what banding and the replay
    # anti-join read — is ever checkpointed, and the ``sh_set``
    # verification branch stays lazy (pinning corpus-scale shingle
    # sets in executor storage is a §5 memory hazard, r12 VERDICT).
    # A plain file read (the production shape: profiles stored as
    # parquet) is left fully lazy — its branches are cheap columnar
    # scans.  When the plan can't be inspected (``plan_shape`` None),
    # uncertainty must never checkpoint (ADVICE r12).
    from ._util import plan_shape

    sig_cols = [f"sig_{i}" for i in range(num_perm)]
    if not new_docs.isStreaming:
        if new_profiles is None and getattr(plan_shape(new_prof),
                                            "has_exchange", False):
            new_prof = new_prof.localCheckpoint(eager=True)
    stored_sigs = stored_profiles.select("id", *sig_cols)
    if (not new_docs.isStreaming
            and getattr(plan_shape(stored_profiles), "has_exchange",
                        False)):
        stored_sigs = stored_sigs.localCheckpoint(eager=True)
    new_ids = new_prof.select("id")
    stored_sigs = stored_sigs.join(new_ids, "id", "left_anti")
    stored_full = stored_profiles.join(new_ids, "id", "left_anti")
    rows_per_band = num_perm // bands

    def banded(profiles: DataFrame) -> DataFrame:
        band_cols = []
        for b in range(bands):
            cols = [F.col(f"sig_{b * rows_per_band + r}")
                    for r in range(rows_per_band)]
            band_cols.append(
                F.concat_ws("#", F.lit(str(b)), *cols).alias("bucket"))
        return profiles.select(
            "id", F.explode(F.array(*band_cols)).alias("bucket"))

    new_b = banded(new_prof.select("id", *sig_cols))
    stored_b = banded(stored_sigs)
    # new×new (ordered) ∪ new×stored; stored×stored never materializes
    nn = (new_b.select(F.col("id").alias("id_a"), "bucket")
          .join(new_b.select(F.col("id").alias("id_b"), "bucket"),
                "bucket")
          .filter(F.col("id_a") < F.col("id_b")))
    ns = (new_b.select(F.col("id").alias("id_a"), "bucket")
          .join(stored_b.select(F.col("id").alias("id_b"), "bucket"),
                "bucket"))
    cand = nn.select("id_a", "id_b").union(
        ns.select("id_a", "id_b")).distinct()
    profiles = new_prof.unionByName(
        stored_full.select(*new_prof.columns))
    if not new_docs.isStreaming:
        # the two verification branches re-derive the LAZY stored side
        # per branch — restrict profiles to ids actually present in
        # the candidate set (result-identical: the verify join is
        # inner on those ids).  The semi join pushes below the union
        # and below the profile aggregates (id is the grouping key),
        # so a COMPUTED store shingles only candidate docs; a parquet
        # store scans only candidate rows.  cand is materialized
        # (fixed-width id pairs) so the restriction re-runs no band
        # join.
        cand = cand.localCheckpoint(eager=True)
        ids = (cand.select(F.col("id_a").alias("id"))
                   .union(cand.select(F.col("id_b").alias("id")))
                   .distinct())
        profiles = profiles.join(ids, "id", "left_semi")
    return _verify_pairs(cand, profiles, min_jaccard)


def dedup_components(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", n: int = 4,
                     min_jaccard: float = 0.5,
                     max_iter: int = 20) -> DataFrame:
    """Group near-duplicates into clusters: connected components over
    the MinHash-LSH pair graph via iterative smallest-label
    propagation, then mark the lowest-id doc per cluster canonical.

    Returns (doc_id, cluster_id, is_canonical) for every input doc
    (singletons are their own cluster).

    Scale notes: each iteration is one join + one aggregation on the
    edge list (O(E) shuffle); iterations needed = graph diameter, and
    near-dup graphs are overwhelmingly tiny cliques (diameter ≤ ~3), so
    the loop converges in a handful of rounds.  ``max_iter`` bounds the
    pathological chain case.  Labels are checkpointed via localCheckpoint
    to keep lineage from growing unboundedly."""
    pairs = minhash_dedup_pairs(df, text_col, id_col, n=n,
                                min_jaccard=min_jaccard)
    edges = (pairs.select("id_a", "id_b")
             .union(pairs.select(F.col("id_b").alias("id_a"),
                                 F.col("id_a").alias("id_b"))))
    # label = min reachable id seen so far, starting with each node's
    # own id over nodes that have at least one edge
    labels = (edges.select(F.col("id_a").alias("id"))
              .distinct()
              .withColumn("label", F.col("id"))).localCheckpoint()
    for _ in range(max_iter):
        neighbor_min = (edges.join(labels,
                                   edges.id_b == labels.id)
                        .groupBy("id_a")
                        .agg(F.min("label").alias("nbr_label")))
        updated = (labels.join(neighbor_min,
                               labels.id == neighbor_min.id_a, "left")
                   .select(F.col("id"),
                           F.least(F.col("label"),
                                   F.coalesce(F.col("nbr_label"),
                                              F.col("label")))
                           .alias("label")))
        updated = updated.localCheckpoint()
        changed = (updated.alias("u")
                   .join(labels.alias("l"), "id")
                   .filter(F.col("u.label") != F.col("l.label")).count())
        labels = updated
        if changed == 0:
            break
    all_docs = df.select(F.col(id_col).alias("doc_id"))
    out = (all_docs.join(labels.withColumnsRenamed(
        {"id": "doc_id", "label": "cluster_id"}), "doc_id", "left")
        .select("doc_id",
                F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id")))
    return out.withColumn(
        "is_canonical", (F.col("doc_id") == F.col("cluster_id")))


def dedup_canonical(df: DataFrame, quality_col: str,
                    text_col: str = "text", id_col: str = "doc_id",
                    n: int = 4, min_jaccard: float = 0.5,
                    max_iter: int = 20) -> DataFrame:
    """The production dedup DECISION: keep exactly one representative
    per near-duplicate cluster — the row with the highest
    ``quality_col`` (ties: lowest id), not an arbitrary one.  A dedup
    pass that keeps the boilerplate-ridden copy and drops the clean
    one loses real training value; selecting by a quality signal
    (length, LM score, repetition signals — anything
    :mod:`operators.text` produces) is what curation pipelines
    actually do.  Singletons survive untouched.

    Returns the SURVIVING rows of ``df`` (full schema).  Cost on top
    of :func:`dedup_components`: one metadata-sized (id, quality)
    join onto the cluster table + one cluster-keyed window + a semi
    join back — document text never enters the selection shuffle."""
    if quality_col not in df.columns:
        raise ValueError(f"quality column {quality_col!r} not in frame")
    from pyspark.sql.window import Window

    comp = dedup_components(df, text_col, id_col, n=n,
                            min_jaccard=min_jaccard, max_iter=max_iter)
    scored = (df.select(F.col(id_col).alias("doc_id"),
                        F.col(quality_col).alias("_q"))
                .join(comp.select("doc_id", "cluster_id"), "doc_id"))
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("_q").desc(), F.col("doc_id").asc())
    keep = (scored.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") == 1)
                  .select(F.col("doc_id").alias(id_col)))
    return df.join(keep, id_col, "left_semi")


def simhash64(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id", bits: int = 60) -> DataFrame:
    """SimHash fingerprint (≤60 bits to stay in a signed bigint): token
    hash bits vote ±1, sign of the per-bit sum becomes the bit.
    Near-duplicate documents differ in few bits (small Hamming
    distance).  Single explode + one aggregation with ``bits``
    column expressions — no per-bit row expansion.

    Returns (id, simhash: bigint)."""
    from ._util import ensure_parallelism

    df = ensure_parallelism(df)
    toks = (df.select(F.col(id_col).alias("id"),
                      F.explode(F.split(F.lower(F.col(text_col)), r"\s+"))
                       .alias("tok")))
    # 60-bit token hash from md5 (15 hex chars), exact via decimal conv
    h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("decimal(20,0)") \
         .cast("long")
    toks = toks.select("id", h.alias("h"))
    votes = [F.sum(F.when(F.shiftright(F.col("h"), i).bitwiseAND(1) == 1,
                          1).otherwise(-1)).alias(f"b{i}")
             for i in range(bits)]
    agg = toks.groupBy("id").agg(*votes)
    fp = None
    for i in range(bits):
        bit = F.when(F.col(f"b{i}") > 0,
                     F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(1 << i).cast("long")
        fp = term if fp is None else fp + term
    return agg.select("id", fp.alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two bigint fingerprints."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_pairs_from_fps(fps: DataFrame, max_hamming: int = 3,
                                bits: int = 60,
                                blocks: int = 4) -> DataFrame:
    """Block-key candidate generation over precomputed fingerprints
    (id, simhash): split the fingerprint into ``blocks`` segments; a
    pair within ``max_hamming`` has differing bits in at most
    ``max_hamming`` distinct segments, so when ``max_hamming < blocks``
    the pigeonhole principle guarantees at least one exactly-equal
    segment — the join is an equi-join on (block_idx, segment), never
    all-pairs, with **recall = 1** (verified by exact Hamming filter,
    so precision = 1 too).

    The invariant is enforced, not documented-and-hoped: parameters
    that void the guarantee raise immediately (the standard Manku/
    Google config is 64-bit, 4 blocks, Hamming <= 3)."""
    if max_hamming >= blocks:
        raise ValueError(
            f"pigeonhole recall guarantee requires max_hamming < blocks "
            f"(got max_hamming={max_hamming}, blocks={blocks}); raise "
            f"blocks or lower max_hamming")
    if blocks > bits:
        raise ValueError(f"blocks={blocks} exceeds bits={bits}")
    seg_bits = bits // blocks
    mask = (1 << seg_bits) - 1
    segs = fps.select(
        "id", "simhash",
        F.explode(F.array(*[
            F.concat_ws(":", F.lit(str(i)),
                        F.shiftright(F.col("simhash"), i * seg_bits)
                         .bitwiseAND(mask))
            for i in range(blocks)])).alias("seg"))
    a = segs.select(F.col("id").alias("id_a"),
                    F.col("simhash").alias("fp_a"), "seg")
    b = segs.select(F.col("id").alias("id_b"),
                    F.col("simhash").alias("fp_b"), "seg")
    return (a.join(b, "seg")
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b",
                     hamming64(F.col("fp_a"), F.col("fp_b"))
                     .alias("hamming"))
             .distinct()
             .filter(F.col("hamming") <= max_hamming))


def simhash_near_pairs(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", max_hamming: int = 3,
                       bits: int = 60, blocks: int = 4) -> DataFrame:
    """Near-dup pairs by SimHash: fingerprint the text, then block-key
    candidate join (see ``simhash_near_pairs_from_fps`` for the recall
    guarantee and parameter invariant)."""
    fps = simhash64(df, text_col, id_col, bits)
    return simhash_near_pairs_from_fps(fps, max_hamming, bits, blocks)


def duplicate_ngram_spans(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", n: int = 8,
                          min_df: int = 2) -> DataFrame:
    """Span-level duplication profile (r6): for every document, how
    much of it is built from word n-grams that also appear in at least
    ``min_df`` documents — the substring-duplication signal behind
    span-dedup of LM training data (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL 2022 uses exact
    suffix-array spans; this is the distributed n-gram approximation
    of the same measure).

    Returns (id, n_grams, n_dup_grams, dup_fraction): distinct n-grams
    per doc, how many of them are corpus-duplicated, and the ratio —
    the curation filter drops or trims docs with high dup_fraction.

    Topology: one shingle explode → distinct → gram doc-frequency agg
    → join BACK on the gram (co-partitioned with the agg's exchange,
    no extra shuffle) → per-doc conditional count.  Grams travel as
    60-bit md5-prefix hashes, not strings (the r5 shuffle-bytes
    lesson).  No all-pairs joins anywhere; the worst key is a gram
    shared by every doc, bounded by the df aggregation itself."""
    gram_hash = F.conv(F.substring(F.md5(F.col("shingle")), 1, 15),
                       16, 10).cast("long")
    grams = (word_shingles(df, text_col, id_col, n=n, distinct=True)
             .select("id", gram_hash.alias("g")))
    dfreq = grams.groupBy("g").agg(F.count("*").alias("_df"))
    return (grams.join(dfreq, "g")
            .groupBy("id")
            .agg(F.count("*").alias("n_grams"),
                 F.sum(F.when(F.col("_df") >= min_df, 1).otherwise(0))
                  .alias("n_dup_grams"))
            .select("id", "n_grams", "n_dup_grams",
                    F.round(F.col("n_dup_grams")
                            / F.greatest(F.col("n_grams"), F.lit(1)), 6)
                    .alias("dup_fraction")))


def remove_duplicate_spans(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", n: int = 8,
                           min_df: int = 2) -> DataFrame:
    """Span-level dedup REMOVAL (r7) — the acting half of
    :func:`duplicate_ngram_spans`: delete from every document the
    word positions covered by any word ``n``-gram that occurs in
    ≥ ``min_df`` documents (the boilerplate/template text an LM would
    otherwise memorize; Lee et al. ACL 2022 remove exact suffix-array
    spans — this is the distributed n-gram approximation acting on the
    same signal).

    Returns (id, text, n_words, n_removed): the rebuilt document
    (whitespace-normalized, lower-cased — span dedup operates on the
    normalized token stream, like the profiling twin), its original
    token count, and how many tokens were removed.  Docs shorter than
    ``n`` words pass through untouched; a fully-boilerplate doc comes
    back as the empty string (the curation step after this drops on
    ``n_removed / n_words``).

    Topology: positional grams (id, start, gram-hash) explode per doc;
    gram doc-frequency over the DISTINCT (id, gram) set exactly as the
    profiler computes it; duplicated starts join back on the gram key
    (co-partitioned with the df agg's exchange); the per-doc start
    list comes home via one id-keyed collect_set, and the rebuild is a
    codegen-only higher-order filter over the token array.  Every
    stage up to the rebuild shuffles only 60-bit gram hashes and start
    offsets; the final rebuild join broadcasts the start lists when
    they fit (AQE decides — plan-verified at driver SF), and when a
    100 TB corpus's start lists outgrow broadcast it degrades to ONE
    id-keyed exchange of the token arrays — the same cost as one
    corpus repartition, the floor for any rebuild that needs global
    duplication knowledge.  Worst-case rebuild cost is
    O(words × dup_starts) per doc inside codegen, bounded in practice
    by dup_fraction; the pathological all-duplicate doc costs
    O(words²) but also produces an empty output — cap dup docs
    upstream with the profiler if that matters."""
    from ._util import ensure_parallelism

    df = ensure_parallelism(df)
    toks = F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))),
                   r"\s+")
    base = df.select(F.col(id_col).alias("id"), toks.alias("_toks"))

    starts_idx = F.when(
        F.size("_toks") >= n,
        F.sequence(F.lit(1), F.size("_toks") - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    gram = F.concat_ws(" ", F.slice(F.col("_toks"), F.col("_i"), n))
    gram_hash = F.conv(F.substring(F.md5(gram), 1, 15), 16, 10) \
                 .cast("long")
    positional = (base.select("id", "_toks",
                              F.explode(starts_idx).alias("_i"))
                      .select("id", F.col("_i"),
                              gram_hash.alias("g")))

    dup_grams = (positional.select("id", "g").distinct()
                 .groupBy("g").agg(F.count("*").alias("_df"))
                 .filter(F.col("_df") >= min_df)
                 .select("g"))
    starts = (positional.join(dup_grams, "g")
              .groupBy("id")
              .agg(F.collect_set("_i").alias("_starts")))

    joined = base.join(starts, "id", "left").select(
        "id", "_toks",
        F.coalesce("_starts", F.array().cast("array<int>"))
         .alias("_starts"))
    covered = lambda p: F.exists(  # noqa: E731 — HOF lambda, not a def
        F.col("_starts"),
        lambda s: (p >= s) & (p <= s + F.lit(n - 1)))
    kept = F.filter(F.sequence(F.lit(1), F.size("_toks")),
                    lambda p: ~covered(p))
    return joined.select(
        "id",
        F.concat_ws(" ", F.transform(
            kept, lambda p: F.element_at("_toks", p))).alias("text"),
        F.size("_toks").cast("long").alias("n_words"),
        (F.size("_toks") - F.size(kept)).cast("long")
         .alias("n_removed"))


def semantic_dedup(embeddings: DataFrame, tau: float = 0.9,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   cents: list[list[float]] | None = None,
                   n_centroids: int = 16, seed: str = "ivf",
                   flag_only: bool = False) -> DataFrame:
    """E2+ semantic (embedding-space) deduplication, SemDeDup-style
    (Abbas et al. 2023, arXiv:2303.09540): cluster the corpus into IVF
    cells, then drop every vector that has a LOWER-id neighbor in the
    same cell with cosine >= ``tau`` — one representative (the lowest
    id) survives each near-duplicate neighborhood.

    The keep rule is declarative, not the paper's sequential greedy
    sweep: a row dies if ANY lower-id same-cell row is within ``tau``,
    even when that lower row itself died.  For transitive chains this
    is slightly more aggressive than greedy (a-b, b-c dups with a-c
    distant keep only a, not a+c), which is the standard trade for an
    engine-parallel formulation — the greedy sweep is inherently
    order-sequential and would serialize per cluster.

    Topology / 100 TB notes:
    - ``cents`` defaults to the md5 pseudo-codebook (``_hyperplanes``),
      reproducible everywhere; pass a ``train_spherical_kmeans``
      codebook for data-adapted cells (same assignment expression);
    - cell assignment is per-row codegen (argmax dot against literal
      centroids), no shuffle;
    - the candidate pair generation is a self equi-join ON THE CELL
      KEY: both sides shuffle once on ``_cell``, and within-cell cost
      is sum(|cell|^2) — the SemDeDup trade.  At 100 TB scale
      ``n_centroids`` with the corpus (the paper uses ~100k clusters
      for 1e9+ docs) so cells stay ~constant-sized; with 16 literal
      centroids this driver-scale default would NOT hold at 100x data;
    - no driver-side state; the drop set is shuffle-bounded by the
      pair fan-out.

    Returns the surviving rows (all original columns + ``cell``), or
    with ``flag_only=True`` every row + ``cell`` + ``kept`` (1/0) —
    the audit view.
    """
    from ._util import ensure_parallelism
    from .similarity import _hyperplanes, _resolve_dim, cosine, ivf_cell_of

    embeddings = ensure_parallelism(embeddings)
    dim = _resolve_dim(None, embeddings, vec_col)
    if cents is None:
        cents = _hyperplanes(dim, n_centroids, seed=seed)

    vd = F.col(vec_col).cast("array<double>")
    assigned = embeddings.withColumn("_vd", vd) \
                         .withColumn("cell", ivf_cell_of("_vd", cents))
    a = assigned.select(F.col(id_col).alias("_ida"), "cell",
                        F.col("_vd").alias("_va"))
    b = assigned.select(F.col(id_col).alias("_idb"), "cell",
                        F.col("_vd").alias("_vb"))
    dropped = (a.join(b, "cell")
                .filter(F.col("_ida") < F.col("_idb"))
                .filter(cosine(F.col("_va"), F.col("_vb")) >= tau)
                .select(F.col("_idb").alias("_dead"))
                .distinct())
    flagged = assigned.drop("_vd").join(
        dropped, assigned[id_col] == dropped["_dead"], "left")
    if flag_only:
        return flagged.select(
            *[F.col(c) for c in embeddings.columns], "cell",
            F.when(F.col("_dead").isNull(), F.lit(1)).otherwise(F.lit(0))
             .alias("kept"))
    return (flagged.filter(F.col("_dead").isNull())
                   .select(*[F.col(c) for c in embeddings.columns], "cell"))


def dedup_paragraphs(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", min_df: int = 2,
                     sep: str = "\n\n") -> DataFrame:
    """Paragraph-level exact dedup (r9) — the RefinedWeb/C4 curation
    pass that strips boilerplate PARAGRAPHS (cookie banners,
    newsletter footers, nav crumbs) repeated across ≥ ``min_df``
    documents, where the 8-gram span remover targets sub-sentence
    templates: split on ``sep``, drop every paragraph whose distinct-
    document frequency reaches ``min_df``, rebuild the document from
    the survivors in order.

    Returns (id, text, n_paragraphs, n_removed).

    Topology (mirrors remove_duplicate_spans one level coarser): only
    (id, position, 60-bit md5 hash) rows ever shuffle — paragraph df
    over the DISTINCT (id, hash) set, duplicated positions join back
    on the hash key co-partitioned with the df agg, the per-doc dead-
    position list comes home via one id-keyed collect_set (broadcast
    when it fits, AQE decides), and the rebuild is a codegen indexed
    filter + array_join.  Paragraph TEXT never crosses an exchange."""
    from ._util import ensure_parallelism

    df = ensure_parallelism(df)
    paras = F.filter(
        F.transform(
            F.split(F.coalesce(F.col(text_col), F.lit("")),
                    _regex_escape(sep)),
            lambda p: F.trim(p)),
        lambda p: p != "")
    base = df.select(F.col(id_col).alias("id"), paras.alias("_ps"))

    pos = (base.select(
        "id", F.posexplode("_ps").alias("_i", "_p"))
        .select("id", "_i",
                F.conv(F.substring(F.md5(F.col("_p")), 1, 15), 16, 10)
                 .cast("long").alias("_h")))
    dup_h = (pos.select("id", "_h").distinct()
                .groupBy("_h").agg(F.count("*").alias("_df"))
                .filter(F.col("_df") >= min_df).select("_h"))
    dead = (pos.join(dup_h, "_h")
               .groupBy("id").agg(F.collect_set("_i").alias("_dead")))
    out = base.join(dead, "id", "left").withColumn(
        "_dead", F.coalesce("_dead", F.array().cast("array<int>")))
    survivors = F.filter(
        F.col("_ps"),
        lambda p, i: ~F.array_contains(F.col("_dead"), i))
    return out.select(
        F.col("id").alias(id_col),
        F.array_join(survivors, sep).alias(text_col),
        F.size("_ps").cast("int").alias("n_paragraphs"),
        F.size("_dead").cast("int").alias("n_removed"))


def _regex_escape(s: str) -> str:
    """Literal → Java-regex-safe pattern (split takes a regex)."""
    import re as _re

    return _re.escape(s)
