"""Corpus-curation operators for training-data pipelines (extension
E4+, SURVEY.md §2.9): deterministic train/val/test splitting,
stratified sampling, fixed-size token chunking (sequence packing's
declarative core), and TF-IDF top-terms.

All Spark built-ins inside codegen — no Python UDFs, no driver-side
data movement.  Determinism everywhere: assignment decisions hash
md5(seed:id) and compare the first 8 hex chars lexicographically
against precomputed fixed-width hex thresholds — fixed-width lowercase
hex compares identically as a string in any engine, so every operator
has a bit-exact DuckDB oracle and re-runs reproduce the same split /
sample on any cluster size or row order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._util import ROWS_PER_SLOT

#: per-row work here is LIGHT (see ``_util.ROWS_PER_SLOT``)
_ROWS_PER_SLOT = ROWS_PER_SLOT["text"]


def _hex_threshold(fraction: float) -> str:
    """fraction in [0,1] → 8-char lowercase hex of floor(f·2^32); a
    uniform md5 prefix is below it with probability ≈ fraction.

    fraction ≥ 1.0 returns ``"g"``: every hex digit sorts below 'g',
    so ``bucket < 'g'`` is trivially true — a clamped 'ffffffff'
    threshold under strict '<' would misassign the ~2^-32 of rows
    whose bucket is exactly 'ffffffff' (ADVICE r4)."""
    if fraction >= 1.0:
        return "g"
    return format(max(int(fraction * 2 ** 32), 0), "08x")


def _bucket(seed: str, *cols: Column) -> Column:
    """Uniform [0,1)-equivalent bucket: first 8 hex chars of
    md5(seed:col:col...)."""
    return F.substring(
        F.md5(F.concat_ws(":", F.lit(seed),
                          *[c.cast("string") for c in cols])), 1, 8)


def hash_split(df: DataFrame, id_col: str = "doc_id",
               weights: dict[str, float] | None = None,
               seed: str = "split") -> DataFrame:
    """Deterministic train/val/test assignment: adds a ``split`` column
    from cumulative weight thresholds over the id-hash bucket.  The
    assignment depends only on (seed, id) — stable across runs,
    cluster sizes, and row orders, and needs no shuffle (a pure
    projection over whatever partitioning the input already has).
    """
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    total = sum(weights.values())
    bucket = _bucket(seed, F.col(id_col))
    expr: Column | None = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        cond = bucket < _hex_threshold(acc)
        expr = (F.when(cond, name) if expr is None
                else expr.when(cond, name))
    split = (F.lit(names[0]) if expr is None
             else expr.otherwise(names[-1]))
    return df.withColumn("split", split)


def stratified_sample(df: DataFrame, fractions: dict[str, float],
                      strata_col: str = "lang",
                      id_col: str = "doc_id",
                      default_fraction: float = 0.0,
                      seed: str = "sample") -> DataFrame:
    """Deterministic per-stratum downsampling (e.g. rebalance languages
    in a pretraining mix): keep a row iff its (seed, stratum, id) hash
    bucket falls below the stratum's fraction threshold.  Exact-filter
    semantics (no RNG state, no sampleBy approximation) — reproducible
    and oracle-checkable; a pure filter, no shuffle."""
    bucket = _bucket(seed, F.col(strata_col), F.col(id_col))
    expr: Column = F.lit(_hex_threshold(default_fraction))
    for stratum, frac in sorted(fractions.items()):
        expr = (F.when(F.col(strata_col) == stratum,
                       F.lit(_hex_threshold(frac))).otherwise(expr))
    return df.filter(bucket < expr)


def shuffle_shards(df: DataFrame, id_col: str = "doc_id",
                   n_shards: int = 8,
                   seed: str = "shuffle") -> DataFrame:
    """Deterministic global pseudo-shuffle for training export: every
    row gets a ``shard`` (which output file it belongs to) and a
    ``shard_pos`` (its position within that file), both pure functions
    of the id — the same corpus always shuffles identically, on any
    cluster size, in any engine (md5-derived, oracle-replicable).

    Training pipelines need exactly this before writing shards: a
    reproducible order that decorrelates neighboring source documents
    so data loaders can stream files sequentially.  Downstream write:
    ``.repartition(n_shards, "shard").sortWithinPartitions("shard_pos")
    .write.partitionBy("shard")...`` — ONE shuffle keyed by shard, the
    within-shard sort rides the shuffle's sort, and shards are
    balanced ±O(√(rows/shards)) by md5 uniformity.

    Scale note: ``row_number`` over the shard partition is the same
    exchange the write needs anyway, so the ranking adds zero extra
    shuffles; no global sort, no driver state."""
    from pyspark.sql import Window

    key = F.md5(F.concat_ws(":", F.lit(seed),
                            F.col(id_col).cast("string")))
    shard = (F.conv(F.substring(key, 1, 8), 16, 10).cast("long")
             % n_shards).cast("int")
    w = Window.partitionBy("shard").orderBy("_shuffle_key")
    return (df.withColumn("_shuffle_key", key)
              .withColumn("shard", shard)
              .withColumn("shard_pos", F.row_number().over(w))
              .drop("_shuffle_key"))


def token_chunks(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id",
                 chunk_size: int = 64,
                 keep: tuple[str, ...] = ()) -> DataFrame:
    """Fixed-size token chunking — the declarative core of sequence
    packing for LM training: each document's whitespace token stream
    splits into ⌈n/chunk_size⌉ chunks of ≤ chunk_size tokens.  One
    explode over a per-row ``sequence`` (no join, no shuffle; output
    partitioning inherits the scan).  Returns (id, chunk_idx, n_tokens,
    chunk_text); ``keep`` passes extra input columns through for
    join-free chaining."""
    from ._util import ensure_parallelism

    df = ensure_parallelism(df, rows_per_slot=_ROWS_PER_SLOT)
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    n = F.size(toks)
    n_chunks = F.ceil(n / F.lit(chunk_size)).cast("int")
    idx = F.explode(F.sequence(F.lit(0), F.greatest(n_chunks, F.lit(1)) - 1))
    out = df.select(F.col(id_col), toks.alias("_toks"),
                    idx.alias("chunk_idx"),
                    *[F.col(c) for c in keep])
    chunk = F.slice(F.col("_toks"),
                    F.col("chunk_idx") * chunk_size + 1, chunk_size)
    return out.select(
        id_col, "chunk_idx",
        F.size(chunk).alias("n_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
        *[F.col(c) for c in keep])


# PII patterns — deliberately simple, public regex shapes (emails,
# international-ish phone numbers, IPv4, 16-digit card runs).  Order
# matters: longer/more-specific first so a card number is not half
# eaten by the phone pattern.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("card", r"\b(?:\d[ -]?){15}\d\b"),
    ("phone", r"\+?\d{1,3}[ -]?\(?\d{2,4}\)?[ -]?\d{3,4}[ -]?\d{3,4}"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b"),
)


def redact_pii(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id",
               keep: tuple[str, ...] = ()) -> DataFrame:
    """Regex PII scrubbing (emails → ``<EMAIL>`` etc.) plus per-doc hit
    counts — the standard pre-training redaction pass.  A chain of
    ``regexp_replace``/``regexp_count`` built-ins inside codegen; no
    UDF, no shuffle.  Returns (id, text, n_email, n_card, n_phone,
    n_ipv4) with ``keep`` pass-through."""
    text = F.col(text_col)
    from ._util import ensure_parallelism

    df = ensure_parallelism(df, rows_per_slot=_ROWS_PER_SLOT)
    counts = [F.regexp_count(text, F.lit(pat)).alias(f"n_{name}")
              for name, pat in PII_PATTERNS]
    for name, pat in PII_PATTERNS:
        text = F.regexp_replace(text, pat, f"<{name.upper()}>")
    return df.select(F.col(id_col), text.alias(text_col), *counts,
                     *[F.col(c) for c in keep])


def _word_gram_hashes(col, n: int):
    """md5-hex word ``n``-grams of a text column, whole-text fallback
    for docs shorter than ``n`` tokens — the shared gram basis of the
    exact and bloom decontamination paths (identical hex, so a bloom
    built by one is probeable by the other)."""
    toks = F.split(F.lower(col), r"\s+")
    return F.when(
        F.size(toks) >= n,
        F.transform(F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                    lambda i: F.md5(F.concat_ws(" ",
                                                F.slice(toks, i, n))))
    ).otherwise(F.array(F.md5(F.lower(col))))


#: Java regex ``\s`` is the ASCII class [ \t\n\x0B\f\r]; Python's is
#: Unicode-aware, so the Arrow replica must spell the class out to
#: tokenize exactly like ``F.split(..., r"\s+")``.
_JAVA_WS = r"[ \t\n\x0b\f\r]+"


def _py_gram_digests(text: str, n: int):
    """Pure-Python replica of :func:`_word_gram_hashes`, yielding the
    16-byte md5 DIGESTS (== ``unhex`` of the SQL path's hex): same
    ASCII-``\\s`` tokenization with empty tokens kept, same whole-text
    fallback for docs shorter than ``n`` tokens.  Pinned equal to the
    SQL path on the testdata corpus in tests; the one documented gap
    is exotic Unicode case folding, where Python ``str.lower`` and
    UTF8String.toLowerCase may disagree (both paths are deterministic
    on their own engine either way)."""
    import hashlib
    import re

    low = text.lower()
    toks = re.split(_JAVA_WS, low)
    if len(toks) >= n:
        join = " ".join
        md5 = hashlib.md5
        for i in range(len(toks) - n + 1):
            yield md5(join(toks[i:i + n]).encode("utf-8")).digest()
    else:
        yield hashlib.md5(low.encode("utf-8")).digest()


def _collect_bench_digests(benchmark: DataFrame, bench_text_col: str,
                           n: int) -> frozenset:
    """The DISTINCT benchmark gram set as md5 digests, computed
    distributed (one benchmark fan-out) — only the distinct digests
    reach the driver, i.e. exactly the payload the SQL path's
    broadcast ships to every executor."""
    rows = (benchmark.select(
        F.explode(_word_gram_hashes(F.col(bench_text_col), n))
         .alias("g"))
        .select(F.unhex("g").alias("g")).distinct().collect())
    return frozenset(bytes(r["g"]) for r in rows)


def decontaminate(df: DataFrame, benchmark: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  bench_text_col: str = "text", n: int = 8,
                  max_hits: int = 0) -> DataFrame:
    """Benchmark decontamination: flag (and drop) training documents
    sharing any word ``n``-gram with a benchmark/eval set — the
    standard guard against test-set leakage into a pretraining corpus.

    Topology: benchmark n-grams are a DISTINCT, typically tiny set →
    broadcast; each training doc checks membership of its own n-grams
    with a broadcast LEFT SEMI-style join and survives iff its overlap
    count ≤ ``max_hits``.  Cost is one pass over the corpus fan-out
    with zero corpus shuffles; the benchmark side is metadata-sized.
    Returns the clean subset of ``df`` (all original columns).

    See ``decontaminate_bloom`` for the constant-size-filter variant
    when the benchmark gram set itself is too big to broadcast."""
    def grams(col):
        return _word_gram_hashes(col, n)

    from ._util import ensure_parallelism

    df = ensure_parallelism(df, rows_per_slot=_ROWS_PER_SLOT)
    bench = (benchmark.select(
        F.explode(grams(F.col(bench_text_col))).alias("gram")).distinct())
    doc_grams = df.select(F.col(id_col).alias("_did"),
                          F.explode(grams(F.col(text_col))).alias("gram"))
    dirty = (doc_grams.join(F.broadcast(bench), "gram", "left_semi")
                      .groupBy("_did")
                      .agg(F.count("*").alias("_hits"))
                      .filter(F.col("_hits") > max_hits)
                      .select("_did"))
    # No broadcast hint on the dirty side: under heavy contamination it
    # can be as large as the overlapping corpus subset, which would
    # blow the broadcast limit at scale (ADVICE r4).  AQE promotes the
    # anti join to broadcast at runtime whenever dirty is actually
    # small, so the common case still avoids shuffling the corpus.
    return df.join(dirty, df[id_col] == dirty["_did"], "left_anti")


def semantic_decontaminate(df: DataFrame, benchmark: DataFrame,
                           tau: float = 0.9,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           cents: list[list[float]] | None = None,
                           n_centroids: int = 16, n_probe: int = 1,
                           seed: str = "ivf",
                           flag_only: bool = False) -> DataFrame:
    """EMBEDDING-space benchmark decontamination — the semantic twin
    of :func:`decontaminate` (n-gram overlap catches verbatim leakage;
    paraphrased or reformatted eval items need the vector test): drop
    every corpus row whose embedding has cosine >= ``tau`` against ANY
    benchmark embedding assigned to the same IVF cell.

    Topology (the SemDeDup trade, operators/dedup.py semantic_dedup):
    corpus rows take their argmax cell in pure codegen (no shuffle);
    the BENCHMARK side — tiny by definition — fans out to its top
    ``n_probe`` cells and broadcasts, so the candidate check is a
    broadcast equi-join on the cell key and the corpus never
    shuffles.  ``n_probe`` buys cross-cell recall on the cheap side:
    a corpus vector near a benchmark vector but argmax-assigned to a
    neighboring cell is caught iff that cell is within the
    benchmark's probe set (n_probe = n_centroids makes the test
    exhaustive at benchmark x corpus broadcast cost).  At 100 TB
    scale ``n_centroids`` with the corpus exactly as semantic_dedup
    documents.

    Returns the clean subset of ``df`` (original columns), or with
    ``flag_only=True`` every row + ``cell`` + ``kept`` — the audit
    ledger a removal decision of this kind should leave behind."""
    from ._util import ensure_parallelism
    from .similarity import (
        _dots,
        _hyperplanes,
        _resolve_dim,
        cosine,
        ivf_cell_of,
    )

    if not 1 <= n_probe:
        raise ValueError(f"n_probe must be >= 1, got {n_probe}")
    df = ensure_parallelism(df, rows_per_slot=_ROWS_PER_SLOT)
    dim = _resolve_dim(None, df, vec_col)
    if cents is None:
        cents = _hyperplanes(dim, n_centroids, seed=seed)
    n_probe = min(n_probe, len(cents))

    vd = F.col(vec_col).cast("array<double>")
    assigned = df.withColumn("_vd", vd) \
                 .withColumn("cell", ivf_cell_of("_vd", cents))

    def top_cells(vec, n):
        ds = _dots(vec, cents)
        scored = F.transform(
            ds, lambda d, i: F.struct(d.alias("d"), i.alias("cell")))
        return F.slice(F.reverse(F.array_sort(scored)), 1, n)

    bvd = F.col(vec_col).cast("array<double>")
    bench = benchmark.select(
        bvd.alias("_bv"),
        F.explode(F.transform(top_cells(bvd, n_probe),
                              lambda s: s["cell"])).alias("cell"))
    dirty = (assigned.select(F.col(id_col).alias("_dead"), "cell",
                             "_vd")
                     .join(F.broadcast(bench), "cell")
                     .filter(cosine(F.col("_vd"), F.col("_bv"))
                             >= tau)
                     .select("_dead").distinct())
    flagged = assigned.drop("_vd").join(
        dirty, assigned[id_col] == dirty["_dead"], "left")
    if flag_only:
        return flagged.select(
            *[F.col(c) for c in df.columns], "cell",
            F.when(F.col("_dead").isNull(), F.lit(1))
             .otherwise(F.lit(0)).alias("kept"))
    return (flagged.filter(F.col("_dead").isNull())
                   .select(*[F.col(c) for c in df.columns], "cell"))


def contamination_scores(df: DataFrame, benchmark: DataFrame,
                         text_col: str = "text", id_col: str = "doc_id",
                         bench_text_col: str = "text",
                         n: int = 8) -> DataFrame:
    """Per-document contamination overlap REPORT — the graded
    companion to ``decontaminate``'s binary any-hit drop: for each
    training doc, how many of its DISTINCT word ``n``-grams appear in
    the benchmark gram set, and the overlap as exact-integer basis
    points.  GPT-3-style contamination analyses threshold on this
    fraction (drop iff overlap above X%) rather than any-hit, because
    a single boilerplate gram shared with an eval set should not
    evict a long document; this op gives the corpus owner that knob
    plus an auditable per-doc ledger.

    Output: one row per input doc — ``(id_col, n_grams, hits,
    overlap_bp)`` with ``overlap_bp = (hits * 10000) DIV n_grams``
    (integer arithmetic, so cross-engine value hashes match
    bit-for-bit).  Join back to the corpus by id if you need payload
    columns; returning metrics-only keeps this op's cost at one
    corpus pass + one id-keyed exchange regardless of row width.

    Topology (same as ``decontaminate``): benchmark grams are a
    DISTINCT, metadata-sized set → broadcast; per-doc grams are
    deduped with ``array_distinct`` BEFORE the explode (no
    (doc, gram) shuffle), and the only exchange is the final id-keyed
    aggregation.  Reference parity: the reference engine has no
    corpus tooling — this extends its scan surface the way
    decontaminate/quality_filter do (SURVEY.md §2 extensions)."""
    from ._util import ensure_parallelism

    df = ensure_parallelism(df, rows_per_slot=_ROWS_PER_SLOT)
    bench = (benchmark.select(
        F.explode(_word_gram_hashes(F.col(bench_text_col), n))
         .alias("gram")).distinct()
        .withColumn("_hit", F.lit(1)))
    per_doc = df.select(
        F.col(id_col),
        F.array_distinct(_word_gram_hashes(F.col(text_col), n))
         .alias("_g"))
    # _word_gram_hashes never returns an empty array (whole-text
    # fallback), so n_grams >= 1 and the DIV below cannot hit zero.
    exploded = per_doc.select(
        F.col(id_col), F.size("_g").alias("_n"),
        F.explode("_g").alias("gram"))
    marked = exploded.join(F.broadcast(bench), "gram", "left")
    return (marked.groupBy(id_col)
            .agg(F.first("_n").alias("_n"),
                 F.coalesce(F.sum("_hit"), F.lit(0)).alias("_h"))
            .select(F.col(id_col),
                    F.col("_n").cast("int").alias("n_grams"),
                    F.col("_h").cast("int").alias("hits"),
                    F.expr("CAST((_h * 10000) DIV _n AS INT)")
                     .alias("overlap_bp")))


def pack_sequences(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", budget: int = 256,
                   n_groups: int = 64) -> DataFrame:
    """Greedy sequence packing for LM training: assign documents to
    fixed-token-budget bins with best-fit-decreasing (same 11/9·OPT+O(1)
    guarantee family as first-fit, O(n log n) via a bisected
    remaining-capacity list) — the stateful packing `token_chunks`
    can't express declaratively.

    Scale design: docs hash into ``n_groups`` independent packing
    groups (set ≈ cluster parallelism), each packed by one
    ``applyInPandas`` kernel that sees only (id, n_tokens) — token
    counts are computed JVM-side and the TEXT NEVER ENTERS the Python
    kernel, so kernel input is ~16 bytes/doc regardless of corpus
    size; join the returned assignment back to the text by id when
    materializing.  Deterministic: group = crc32-style md5 bucket,
    order = (n_tokens desc, id), so re-runs reproduce bin ids exactly.

    Returns (id, n_tokens, pack_group, bin_id, bin_fill) where
    ``bin_id`` is globally unique and ``bin_fill`` is the bin's total
    tokens.  A doc longer than ``budget`` gets a dedicated bin
    (truncation policy belongs to the tokenizer stage)."""
    import pandas as pd

    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    group = (F.conv(_bucket("pack", F.col(id_col)), 16, 10)
             .cast("long") % n_groups).cast("int")
    meta = df.select(F.col(id_col).alias("id"),
                     F.size(toks).cast("long").alias("n_tokens"),
                     group.alias("pack_group"))

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        import bisect

        pdf = pdf.sort_values(["n_tokens", "id"],
                              ascending=[False, True],
                              ignore_index=True)
        g = int(pdf["pack_group"].iloc[0])
        open_bins: list[list[int]] = []  # sorted [remaining, bin_idx]
        fills: list[int] = []            # final fill per bin_idx
        assign: list[int] = []
        for n in pdf["n_tokens"]:
            n = int(n)
            # best fit: the open bin with the SMALLEST remaining
            # capacity that still holds n (ties → lowest bin idx)
            i = bisect.bisect_left(open_bins, [n, -1])
            if i < len(open_bins):
                rem, b = open_bins.pop(i)
                fills[b] += n
                if rem - n > 0:
                    bisect.insort(open_bins, [rem - n, b])
                assign.append(b)
            else:
                b = len(fills)
                fills.append(n)
                if budget - n > 0:
                    bisect.insort(open_bins, [budget - n, b])
                assign.append(b)
        pdf["bin_id"] = [g * (1 << 32) + b for b in assign]
        pdf["bin_fill"] = [fills[b] for b in assign]
        return pdf

    # id keeps the input column's type (string doc ids work like every
    # other corpus operator — ADVICE r4)
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (f"id {id_type}, n_tokens long, pack_group int, "
                  "bin_id long, bin_fill long")
    return meta.groupBy("pack_group").applyInPandas(pack, out_schema)


def tfidf_top_terms(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 3,
                    min_term_len: int = 2) -> DataFrame:
    """Per-document top-k TF-IDF terms (ln((N+1)/(df+1)) idf; ties
    broken by term ascending, so the result is total-ordered).

    Topology: one token explode → (doc, term) count agg → term
    doc-frequency agg joined back on term → WindowGroupLimit top-k.
    The corpus size N rides along as a broadcast 1-row aggregate —
    no driver-side count.  At 100 TB the term join shuffles by term
    (skew on stop-word terms is bounded by ``min_term_len`` plus the
    idf weighting making them never reach top-k)."""
    from ._util import ensure_parallelism

    df = ensure_parallelism(df, rows_per_slot=_ROWS_PER_SLOT)
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    terms = (df.select(F.col(id_col).alias("id"),
                       F.explode(toks).alias("term"))
               .filter(F.length("term") >= min_term_len))
    tf = terms.groupBy("id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df_t"))
    n_docs = df.select(
        F.count_distinct(F.col(id_col)).alias("n_docs"))
    scored = (tf.join(dfreq, "term")
                .crossJoin(F.broadcast(n_docs))
                .select("id", "term",
                        (F.col("tf") * F.log((F.col("n_docs") + F.lit(1.0))
                                             / (F.col("df_t") + F.lit(1.0))))
                        .alias("tfidf")))
    from pyspark.sql.window import Window

    w = Window.partitionBy("id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (scored.withColumn("rk", F.row_number().over(w))
                  .filter(F.col("rk") <= k)
                  .select("id", "term", F.round("tfidf", 6).alias("tfidf"),
                          "rk"))


def mixture_sample(df: DataFrame, budgets: dict[str, int],
                   source_col: str = "source", id_col: str = "doc_id",
                   text_col: str = "text", n_shards: int = 8,
                   seed: str = "mix",
                   include_holdout: bool = False) -> DataFrame:
    """Token-budgeted data-mixture construction: sample each source's
    documents, in a deterministic md5 priority order, until that
    source's token budget is reached — the "data mixture" step every
    LM training pipeline runs to hit per-source token ratios
    (web 60% / code 20% / books 20%-style recipes).

    Scale design: a single per-source cumulative sum would serialize a
    100 TB web crawl through one task, so each source's budget is
    pre-split across ``n_shards`` md5 shards (shard s gets
    ``budget//n + (s < budget % n)`` — exact, engine-replicable) and
    the running total is windowed over (source, shard): one exchange,
    parallelism = sources × shards, every shard an independent greedy
    prefix.  md5 uniformity balances shard token mass ±O(√(tokens)),
    so the realized mixture converges to the recipe while admission
    stays a pure function of (seed, id) — re-runs, any cluster size,
    any row order, and the DuckDB oracle all pick the identical
    document set.

    Returns admitted docs only: (id, source, shard, n_tokens,
    cum_tokens ≤ shard budget).  Sources absent from ``budgets`` are
    dropped.

    ``include_holdout=True`` (r8, VERDICT r7 #8) keeps the over-budget
    remainder too, adding an ``admitted`` boolean instead of
    filtering: once a source's budget fills, the rest of its corpus
    was previously dropped silently (``mixture_summary`` reports the
    shortfall side, not the surplus), so a follow-up recipe — an
    epoch-2 mixture, an eval holdout, a budget top-up — had to re-scan
    the whole corpus.  With the flag, ``filter(~admitted)`` IS the
    holdout table, computed in the same single exchange; admission of
    every row is identical to the default mode (same priority order,
    same cum_tokens), so ``filter(admitted)`` equals the default
    output exactly."""
    from pyspark.sql.window import Window

    from ._util import ensure_parallelism

    df = ensure_parallelism(df, rows_per_slot=_ROWS_PER_SLOT)
    pairs: list[Column] = []
    for s, b in budgets.items():
        pairs += [F.lit(s), F.lit(int(b))]
    budget = F.element_at(F.create_map(*pairs), F.col(source_col))
    key = _bucket(seed, F.col(id_col))
    shard = (F.conv(key, 16, 10).cast("long") % n_shards).cast("int")
    toks = F.size(F.split(F.lower(F.col(text_col)), r"\s+")).cast("long")
    base = (df.select(F.col(id_col).alias("id"),
                      F.col(source_col).alias("source"),
                      shard.alias("shard"),
                      toks.alias("n_tokens"),
                      key.alias("_pri"),
                      budget.alias("_budget"))
              .filter(F.col("_budget").isNotNull()))
    shard_budget = (F.floor(F.col("_budget") / n_shards)
                    + F.when(F.col("shard") < F.col("_budget") % n_shards,
                             1).otherwise(0)).cast("long")
    w = (Window.partitionBy("source", "shard")
               .orderBy(F.asc("_pri"), F.asc("id"))
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = base.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    if include_holdout:
        return cum.select(
            "id", "source", "shard", "n_tokens", "cum_tokens",
            (F.col("cum_tokens") <= shard_budget).alias("admitted"))
    return (cum.filter(F.col("cum_tokens") <= shard_budget)
               .select("id", "source", "shard", "n_tokens", "cum_tokens"))


def mixture_epochs(df: DataFrame, budgets: dict[str, int],
                   source_col: str = "source", id_col: str = "doc_id",
                   text_col: str = "text", n_shards: int = 8,
                   seed: str = "mix") -> DataFrame:
    """Mixture construction WITH upsampling: when a source's token
    budget exceeds its corpus, the source is repeated in whole epochs
    plus a deterministic partial epoch — the standard answer for
    under-represented high-quality sources (books/code repeated 2-3x
    while web caps at 1; cf. the Pile / LLaMA recipes) that
    :func:`mixture_sample` (sampling-down only) cannot express.

    Per (source, md5-shard): ``full = shard_budget div shard_tokens``
    whole epochs, then the shard's md5-priority prefix with
    ``cum_tokens <= shard_budget mod shard_tokens`` rides epoch
    ``full``.  Everything reuses mixture_sample's machinery — same
    shard split, same priority order, same token definition — so
    epoch 0 of this op equals the admitted set of ``mixture_sample``
    whenever budgets fit inside the corpus.

    Topology: the one (source, shard) exchange + a metadata-sized
    per-shard totals agg joined back (AQE-broadcast); the epoch
    fan-out is a codegen ``explode(sequence(...))`` AFTER admission
    logic, so text columns never multiply through a shuffle.  Output:
    (id, source, shard, n_tokens, epoch) with epoch 0-based.
    """
    from pyspark.sql.window import Window

    from ._util import ensure_parallelism

    df = ensure_parallelism(df, rows_per_slot=_ROWS_PER_SLOT)
    pairs: list[Column] = []
    for src, b in budgets.items():
        pairs += [F.lit(src), F.lit(int(b))]
    budget = F.element_at(F.create_map(*pairs), F.col(source_col))
    key = _bucket(seed, F.col(id_col))
    shard = (F.conv(key, 16, 10).cast("long") % n_shards).cast("int")
    toks = F.size(F.split(F.lower(F.col(text_col)), r"\s+")).cast("long")
    base = (df.select(F.col(id_col).alias("id"),
                      F.col(source_col).alias("source"),
                      shard.alias("shard"),
                      toks.alias("n_tokens"),
                      key.alias("_pri"),
                      budget.alias("_budget"))
              .filter(F.col("_budget").isNotNull()))
    shard_budget = (F.floor(F.col("_budget") / n_shards)
                    + F.when(F.col("shard") < F.col("_budget") % n_shards,
                             1).otherwise(0)).cast("long")
    w = (Window.partitionBy("source", "shard")
               .orderBy(F.asc("_pri"), F.asc("id"))
               .rowsBetween(Window.unboundedPreceding,
                            Window.currentRow))
    cum = base.withColumn("cum_tokens", F.sum("n_tokens").over(w))               .withColumn("_sb", shard_budget)
    totals = cum.groupBy("source", "shard").agg(
        F.sum("n_tokens").alias("_st"))
    joined = (cum.join(totals, ["source", "shard"])
                 .filter(F.col("_st") > 0)
                 .withColumn("_full", F.expr("_sb div _st"))
                 .withColumn("_rem", F.col("_sb") % F.col("_st")))
    return (joined
            .select("id", "source", "shard", "n_tokens", "_full",
                    "_rem", "cum_tokens",
                    F.explode(F.sequence(F.lit(0), F.col("_full")))
                     .alias("epoch"))
            .filter((F.col("epoch") < F.col("_full"))
                    | (F.col("cum_tokens") <= F.col("_rem")))
            .select("id", "source", "shard", "n_tokens",
                    F.col("epoch").cast("int").alias("epoch")))


def mixture_summary(df: DataFrame, budgets: dict[str, int],
                    source_col: str = "source", id_col: str = "doc_id",
                    text_col: str = "text", n_shards: int = 8,
                    seed: str = "mix") -> DataFrame:
    """Per-source delivery report for :func:`mixture_sample` — the
    recipe's feedback signal.  ``mixture_sample`` admits by greedy
    prefix per shard, so a source whose corpus UNDERFILLS its budget
    silently delivers fewer tokens than the recipe asked for; a
    training run needs to detect that before it bakes the wrong
    mixture.  Returns one row per budgeted source:
    (source, budget, admitted_docs, admitted_tokens, underfilled)
    with ``underfilled = admitted_tokens < budget``.  Greedy prefixes
    always stop at-or-below budget, so small shortfalls are inherent
    slack (< one document per shard); a LARGE shortfall means the
    corpus ran dry — either way, "the recipe's number is not what you
    got", and the consumer decides its tolerance.

    Sources present in ``budgets`` but absent from the corpus still
    get a row (admitted 0, underfilled true) via a literal
    source-frame left join — absence is the loudest underfill."""
    admitted = mixture_sample(df, budgets, source_col=source_col,
                              id_col=id_col, text_col=text_col,
                              n_shards=n_shards, seed=seed)
    spark = df.sparkSession
    recipe = spark.createDataFrame(
        [(s, int(b)) for s, b in budgets.items()],
        "source string, budget long")
    got = (admitted.groupBy("source")
           .agg(F.count("*").alias("admitted_docs"),
                F.sum("n_tokens").alias("admitted_tokens")))
    return (recipe.join(got, "source", "left")
            .select("source", "budget",
                    F.coalesce("admitted_docs", F.lit(0)).cast("long")
                     .alias("admitted_docs"),
                    F.coalesce("admitted_tokens", F.lit(0)).cast("long")
                     .alias("admitted_tokens"))
            .withColumn("underfilled",
                        F.col("admitted_tokens") < F.col("budget")))


def _es_id_hash(id_col: str, seed: str):
    """The shared md5(seed:id) -> 60-bit long base of every sampling
    key in this module (run/order/cluster-stable)."""
    return F.conv(F.substring(
        F.md5(F.concat(F.lit(seed + ":"),
                       F.col(id_col).cast("string"))), 1, 15),
        16, 10).cast("long")


def _es_key_milli(id_col: str, weight_col: str, seed: str):
    """The Efraimidis-Spirakis ln(u)/w selection key in milli-units —
    ONE implementation shared by weighted_sample and balanced_sample,
    because their oracles replay this exact integer/IEEE chain
    bit-for-bit (u from the id hash, ln quantized once to micro-nats,
    the weight division and milli-quantization single IEEE ops)."""
    h = _es_id_hash(id_col, seed)
    u = (h + F.lit(1)).cast("double") / F.lit(float(1 << 60))
    ln_micro = F.floor(F.log(u) * F.lit(1000000.0))
    return F.floor((ln_micro / F.col(weight_col))
                   * F.lit(1000.0)).cast("long")


def weighted_sample(df: DataFrame, k: int, weight_col: str,
                    id_col: str = "doc_id",
                    seed: str = "wsample") -> DataFrame:
    """Weighted random sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006), deterministic and single-pass: each row gets the
    key ``ln(u)/w`` (u uniform from ``md5(seed:id)``, w its weight)
    and the top-``k`` keys win — inclusion probability proportional
    to weight, the importance-sampling knob a curation recipe uses to
    prefer high-quality docs without hard thresholds.

    Determinism / oracle contract: ``u`` comes from the id hash (same
    md5-BIGINT idiom as :func:`hash_split` — stable across runs,
    cluster sizes, and row orders); ``ln(u)`` is quantized once to
    integer micro-nats (the trusted ``floor(ln)*1e6`` pattern), and
    the division by the weight plus the final milli-quantization are
    single IEEE double ops (exactly rounded, engine-identical), so a
    SQL oracle reproduces keys AND the selected set bit-for-bit.
    Plan: pure projection + distributed TakeOrdered top-k — no
    shuffle beyond the top-k exchange.

    Rows with NULL or non-positive weight are excluded (the ES key is
    undefined there).  Returns (id, weight, key_milli) ordered by
    (key desc, id asc); ties are broken by id so the sample is unique.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    key_milli = _es_key_milli(id_col, weight_col, seed)
    return (df.where(F.col(weight_col).isNotNull()
                     & (F.col(weight_col) > 0))
              .select(F.col(id_col),
                      F.col(weight_col),
                      key_milli.alias("key_milli"))
              .orderBy(F.desc("key_milli"), F.asc(id_col))
              .limit(k))


def quality_filter(df: DataFrame, top_fraction: float, *,
                   by: tuple[str, ...] = ("lang",),
                   method: str = "rank",
                   text_col: str = "text", id_col: str = "doc_id",
                   accuracy: int = 10000) -> DataFrame:
    """Keep the best ``top_fraction`` of documents per ``by`` group,
    ranked by the ``text.text_stats`` quality score — the
    quantile-threshold curation step of a pretraining recipe ("keep
    the top 30% per language").

    ``method``:

    - ``"rank"`` — exact: per-group total order (quality DESC, id ASC)
      keeps ``row_number ≤ ceil(fraction · group_size)`` — bit-exact
      group sizes, engine-replicable (the oracle mode).  Cost: one
      exchange on ``by`` and a per-group sort — fine up to the largest
      group a task can sort, the usual window caveat.
    - ``"threshold"`` — the 100 TB path: per-group approximate
      quantile (Greenwald-Khanna, one agg pass), thresholds broadcast
      back, then a scan-side ``quality ≥ t`` filter.  NO sort of the
      corpus, shuffle carries one score per row into the agg only.
      Selection is approximate at the quantile boundary (and keeps
      ties), so its contract is "≈ fraction, same ordering ideal" —
      pinned against rank mode in pytest, not hash-compared.

    Returns ``(id_col, *by, quality)``."""
    from pyspark.sql.window import Window

    from .text import text_stats

    if method not in ("rank", "threshold"):
        raise ValueError(f"method must be rank|threshold, got {method!r}")
    if not 0.0 < top_fraction <= 1.0:
        raise ValueError(f"top_fraction must be in (0, 1], got "
                         f"{top_fraction}")
    scored = text_stats(df, text_col=text_col, id_col=id_col,
                        keep=tuple(by)).select(
        id_col, *by, "quality")
    if method == "rank":
        part = Window.partitionBy(*by)
        w = part.orderBy(F.desc("quality"), F.asc(id_col))
        # DECIMAL, not double, for the cut: 0.07 * 100 in doubles is
        # 7.000000000000001 and ceils to 8 — decimal arithmetic keeps
        # ceil(f·n) bit-exact and engine-portable
        cut = F.ceil(F.lit(str(top_fraction)).cast("decimal(12,10)")
                     * F.col("_n"))
        return (scored
                .withColumn("_rn", F.row_number().over(w))
                .withColumn("_n", F.count(F.lit(1)).over(part))
                .filter(F.col("_rn") <= cut)
                .drop("_rn", "_n"))
    thresholds = (scored.groupBy(*by)
                  .agg(F.approx_percentile(
                      "quality", F.lit(1.0 - top_fraction),
                      F.lit(accuracy)).alias("_thr"))
                  .withColumnsRenamed({c: f"_t_{c}" for c in by}))
    # null-safe equality so a NULL group key filters like rank mode
    # instead of silently vanishing in an inner join
    cond = [scored[c].eqNullSafe(thresholds[f"_t_{c}"]) for c in by]
    return (scored.join(F.broadcast(thresholds), cond)
                  .filter(F.col("quality") >= F.col("_thr"))
                  .select(id_col, *by, "quality"))


def build_vocab(df: DataFrame, *, top_n: int = 10000,
                min_count: int = 1, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Frequency-cutoff vocabulary over whitespace tokens: the top
    ``top_n`` terms with ``term_count ≥ min_count``, ranked by
    (count DESC, term ASC) — the deterministic total order that makes
    the vocabulary identical on any cluster size, row order, or
    engine.

    Returns ``(term, term_count, doc_count, rank)``.

    Scale shape: explode → one hash-agg on term (map-side partials
    collapse each partition's repeats before the shuffle — for natural
    language, partials shrink the exchange by ~the per-partition
    type/token ratio) → global top-N as TakeOrdered (heap per
    partition + driver merge of N, never a full sort) → rank assigned
    over the N survivors only."""
    from ._util import ensure_parallelism

    from pyspark.sql.window import Window

    df = ensure_parallelism(df, rows_per_slot=_ROWS_PER_SLOT)
    tok = (df.select(F.col(id_col).alias("_doc"),
                     F.explode(F.split(F.lower(F.col(text_col)),
                                       r"\s+")).alias("term"))
             .filter(F.col("term") != ""))
    counts = (tok.groupBy("term")
                 .agg(F.count(F.lit(1)).alias("term_count"),
                      F.count_distinct("_doc").alias("doc_count"))
                 .filter(F.col("term_count") >= min_count))
    top = counts.orderBy(F.desc("term_count"), F.asc("term")) \
                .limit(top_n)
    # rank over the <= top_n survivors: single tiny partition, cheap
    w = Window.orderBy(F.desc("term_count"), F.asc("term"))
    return top.withColumn("rank", F.row_number().over(w))


def oov_rate(df: DataFrame, vocab: DataFrame, *,
             by: tuple[str, ...] = ("lang",), text_col: str = "text",
             id_col: str = "doc_id") -> DataFrame:
    """Out-of-vocabulary accounting per ``by`` group: what fraction of
    token OCCURRENCES a candidate vocabulary fails to cover — the
    go/no-go metric for a tokenizer/vocab choice before a training
    run.

    ``vocab`` is any DataFrame with a ``term`` column (typically
    ``build_vocab``'s output).  The vocab side is broadcast (a vocab
    is ≤ millions of terms; the corpus is the 100 TB side), so the
    token stream is scanned once with a map-side hash probe — no
    corpus shuffle at all until the tiny per-group rollup.

    Returns ``(*by, n_tokens, n_oov, oov_rate)`` with ``oov_rate``
    rounded to 6 places."""
    from ._util import ensure_parallelism

    df = ensure_parallelism(df, rows_per_slot=_ROWS_PER_SLOT)
    tok = (df.select(*[F.col(c) for c in by],
                     F.explode(F.split(F.lower(F.col(text_col)),
                                       r"\s+")).alias("term"))
             .filter(F.col("term") != ""))
    # distinct: a vocab with repeated terms must not multiply matches
    marked = tok.join(
        F.broadcast(vocab.select("term").distinct()
                    .withColumn("_in_v", F.lit(1))), "term", "left")
    return (marked.groupBy(*by)
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.sum(F.col("_in_v").isNull().cast("long"))
                  .alias("n_oov"))
            .select(*by, "n_tokens", "n_oov",
                    F.round(F.col("n_oov") / F.col("n_tokens"), 6)
                     .alias("oov_rate")))


def _bloom_positions(gram_hex, m_bits: int, k: int):
    """The ``k`` bloom bit positions of an md5-hex gram: classic
    Kirsch–Mitzenmaier double hashing, pos_i = (h1 + i·h2) mod m with
    h1/h2 the two 60-bit halves of the md5 — the same scheme as the
    native sink's Filter.db v2, and pure BIGINT arithmetic so a SQL
    oracle reproduces every position exactly (no float, no overflow:
    h2 < m ≤ 2^20 and i < k keep i·h2 well under 2^63)."""
    h1 = F.conv(F.substring(gram_hex, 1, 15), 16, 10).cast("long") % m_bits
    h2 = F.conv(F.substring(gram_hex, 17, 15), 16, 10).cast("long") % m_bits
    return F.transform(F.sequence(F.lit(0), F.lit(k - 1)),
                       lambda i: (h1 + i.cast("long") * h2) % m_bits)


#: Literal-bitmap bound: beyond this the words array stops being a
#: sane plan literal (16 Ki longs ≈ 1 MiB of expression tree).
_BLOOM_LITERAL_MAX_BITS = 1 << 20


def build_ngram_bloom(benchmark: DataFrame, bench_text_col: str = "text",
                      n: int = 8, m_bits: int = 1 << 17,
                      k: int = 5) -> list[int]:
    """Build the benchmark-side bloom bitmap: every benchmark word
    ``n``-gram sets its ``k`` positions in an ``m_bits`` bitmap,
    returned as signed 64-bit words (len = m_bits/64) ready for
    ``decontaminate_bloom(bloom_words=...)``.

    The position computation is distributed (one pass over the
    benchmark fan-out); only the DISTINCT set positions come to the
    driver — at most m_bits of them, i.e. the bitmap itself, which is
    metadata-sized by construction (m_bits/8 bytes ≤ 128 KiB at the
    literal-mode cap).  FP rate ≈ (set_bits/m)^k; size at the standard
    ~10 bits/gram is ~25x smaller than broadcasting the md5-hex gram
    set the exact path ships."""
    if m_bits % 64 or m_bits <= 0:
        raise ValueError("m_bits must be a positive multiple of 64")
    if m_bits > _BLOOM_LITERAL_MAX_BITS:
        raise ValueError(
            f"m_bits={m_bits} exceeds the literal-bitmap bound "
            f"{_BLOOM_LITERAL_MAX_BITS}; shard the benchmark into "
            "several blooms or fall back to the exact broadcast path "
            "(decontaminate)")
    grams = (benchmark.select(
        F.explode(_word_gram_hashes(F.col(bench_text_col), n))
         .alias("gram")).distinct())
    pos = (grams.select(F.explode(
        _bloom_positions(F.col("gram"), m_bits, k)).alias("p"))
        .distinct().collect())
    words = [0] * (m_bits // 64)
    for r in pos:
        p = r["p"]
        words[p >> 6] |= 1 << (p & 63)
    # two's-complement: Spark longs are signed
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def decontaminate_bloom(df: DataFrame, benchmark: DataFrame | None = None,
                        text_col: str = "text", id_col: str = "doc_id",
                        bench_text_col: str = "text", n: int = 8,
                        max_hits: int = 0, m_bits: int = 1 << 17,
                        k: int = 5,
                        bloom_words: list[int] | None = None) -> DataFrame:
    """Bloom-filter benchmark decontamination — the 100 TB variant of
    ``decontaminate``: the benchmark gram set is compressed into an
    ``m_bits`` bloom bitmap and the membership test becomes a
    SCAN-LOCAL codegen predicate over a literal array — the corpus
    side has ZERO joins and ZERO shuffles (the exact path's broadcast
    semi-join + per-doc count agg disappear entirely; ``.explain``
    shows one Filter over the scan).

    One-sided error in the SAFE direction: blooms have no false
    negatives, so no contaminated document ever survives; a false
    positive (≈ (set_bits/m)^k) drops a clean document — the cheap
    trade for a fixed-size filter when benchmark suites reach billions
    of grams.  The bitmap is deterministic (md5 double hashing), so
    results are engine-reproducible, FPs included.

    Pass ``bloom_words`` (from ``build_ngram_bloom``, possibly built
    once and reused across corpus shards/jobs) or a ``benchmark``
    DataFrame to build it here.  Returns the surviving rows (all
    original columns), like ``decontaminate``."""
    from ._util import ensure_parallelism

    if bloom_words is None:
        if benchmark is None:
            raise ValueError(
                "decontaminate_bloom needs a benchmark DataFrame or "
                "prebuilt bloom_words")
        bloom_words = build_ngram_bloom(benchmark, bench_text_col, n,
                                        m_bits, k)
    if len(bloom_words) * 64 != m_bits:
        raise ValueError(
            f"bloom_words has {len(bloom_words)} words "
            f"({len(bloom_words) * 64} bits) but m_bits={m_bits}")
    df = ensure_parallelism(df, rows_per_slot=_ROWS_PER_SLOT)
    # ONE ArrayType Literal, not F.array(*lits): CreateArray with
    # m_bits/64 children re-builds the bitmap PER ROW (~0.5s per
    # million rows at 2048 words — the whole point of the bloom tier
    # is scan-local cheapness)
    words_lit = F.lit(list(bloom_words)).cast("array<bigint>")

    def member(gram_hex):
        return F.forall(
            _bloom_positions(gram_hex, m_bits, k),
            lambda p: F.getbit(
                F.element_at(words_lit, (p / 64).cast("int") + 1),
                p % 64) == 1)

    hits = F.size(F.filter(_word_gram_hashes(F.col(text_col), n), member))
    return df.filter(hits <= F.lit(max_hits))


def url_host(col) -> "F.Column":
    """The host of a URL column — one codegen ``regexp_extract``
    (scheme-relative and schemeless inputs fall through to '')."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.regexp_extract(c, r"^[A-Za-z][A-Za-z0-9+.-]*://"
                                       r"([^/:?#]+)", 1))


#: Vendored public-suffix snapshot (r10, VERDICT r9 #6): the
#: multi-label entries of the Mozilla Public Suffix List for the
#: major ccTLD registries — the rules the last-two-label heuristic
#: gets wrong.  A SNAPSHOT SUBSET, not the full live PSL (which has
#: thousands of entries and needs a network fetch to stay current);
#: deployments tracking the live list pass their own ``suffixes=``.
#: Single-label rules need no entry (the heuristic's default).
PSL_SNAPSHOT_2LABEL: tuple[str, ...] = (
    # United Kingdom / Ireland
    "co.uk", "org.uk", "me.uk", "ltd.uk", "plc.uk", "net.uk",
    "ac.uk", "gov.uk", "nhs.uk", "sch.uk", "police.uk",
    # Australia / New Zealand
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au",
    "id.au", "co.nz", "net.nz", "org.nz", "govt.nz", "ac.nz",
    "school.nz", "geek.nz", "gen.nz", "maori.nz", "iwi.nz",
    # Japan / Korea / China / Taiwan / HK / SE Asia
    "co.jp", "or.jp", "ne.jp", "ac.jp", "ad.jp", "ed.jp", "go.jp",
    "gr.jp", "lg.jp", "co.kr", "or.kr", "ne.kr", "re.kr", "pe.kr",
    "go.kr", "ac.kr", "com.cn", "net.cn", "org.cn", "gov.cn",
    "edu.cn", "ac.cn", "com.tw", "org.tw", "net.tw", "edu.tw",
    "gov.tw", "idv.tw", "com.hk", "org.hk", "net.hk", "edu.hk",
    "gov.hk", "com.sg", "org.sg", "net.sg", "edu.sg", "gov.sg",
    "com.my", "org.my", "net.my", "edu.my", "gov.my", "co.th",
    "or.th", "ac.th", "go.th", "in.th", "com.vn", "net.vn",
    "org.vn", "edu.vn", "gov.vn", "co.id", "or.id", "ac.id",
    "go.id", "web.id", "com.ph", "org.ph", "net.ph", "gov.ph",
    # India / Middle East / Africa
    "co.in", "net.in", "org.in", "firm.in", "gen.in", "ind.in",
    "ac.in", "edu.in", "res.in", "gov.in", "nic.in", "co.il",
    "org.il", "net.il", "ac.il", "gov.il", "muni.il", "com.sa",
    "net.sa", "org.sa", "edu.sa", "gov.sa", "med.sa", "com.eg",
    "net.eg", "org.eg", "edu.eg", "gov.eg", "sci.eg", "com.tr",
    "net.tr", "org.tr", "edu.tr", "gov.tr", "av.tr", "bel.tr",
    "co.za", "net.za", "org.za", "web.za", "gov.za", "ac.za",
    "co.ke", "or.ke", "ne.ke", "go.ke", "ac.ke", "com.ng",
    "net.ng", "org.ng", "edu.ng", "gov.ng",
    # Americas
    "com.br", "net.br", "org.br", "gov.br", "edu.br", "mil.br",
    "art.br", "adv.br", "eco.br", "blog.br", "com.mx", "net.mx",
    "org.mx", "edu.mx", "gob.mx", "com.ar", "net.ar", "org.ar",
    "edu.ar", "gob.ar", "mil.ar", "int.ar", "com.co", "net.co",
    "org.co", "edu.co", "gov.co", "com.pe", "net.pe", "org.pe",
    "edu.pe", "gob.pe", "com.ve", "net.ve", "org.ve", "co.ve",
    "com.uy", "net.uy", "org.uy", "edu.uy", "gub.uy", "com.ec",
    "com.cl", "gob.cl", "gov.cl", "co.cr", "com.do", "com.gt",
    "com.pa", "com.py", "com.bo", "com.ni", "com.sv", "com.hn",
    # Europe (multi-label registries)
    "co.at", "or.at", "ac.at", "gv.at", "com.pl", "net.pl",
    "org.pl", "edu.pl", "gov.pl", "waw.pl", "com.pt", "edu.pt",
    "gov.pt", "org.pt", "net.pt", "com.gr", "edu.gr", "net.gr",
    "org.gr", "gov.gr", "com.ro", "org.ro", "tm.ro", "nt.ro",
    "com.ru", "net.ru", "org.ru", "pp.ru", "msk.ru", "spb.ru",
    "com.ua", "net.ua", "org.ua", "edu.ua", "gov.ua", "in.ua",
    "kiev.ua", "co.hu", "org.hu", "info.hu", "priv.at",
)

#: Three-label public-suffix snapshot entries (rarer; same contract).
PSL_SNAPSHOT_3LABEL: tuple[str, ...] = (
    "pvt.k12.ma.us", "chtr.k12.ma.us", "paroch.k12.ma.us",
    "act.edu.au", "nsw.edu.au", "qld.edu.au", "vic.edu.au",
    "act.gov.au", "nsw.gov.au", "qld.gov.au", "vic.gov.au",
    "sa.edu.au", "wa.edu.au", "tas.edu.au", "nt.edu.au",
)

#: Wildcard PSL rules (``*.ck`` — EVERY second-level label under the
#: TLD is itself a public suffix, so the registrable domain is the
#: last THREE labels).  The PSL's exception entries (``!www.ck``) are
#: not in the snapshot — the affected hosts are a handful of
#: registry sites, not corpus domains.
PSL_SNAPSHOT_WILDCARD_TLD: tuple[str, ...] = (
    "bd", "ck", "er", "fj", "fk", "kh", "mm", "np", "pg", "ye",
)


def url_registrable_domain(col, psl: bool = False,
                           suffixes: tuple[tuple[str, ...],
                                           tuple[str, ...]] | None = None,
                           wildcard_tlds: tuple[str, ...] | None = None
                           ) -> "F.Column":
    """Registrable domain of a URL column.

    Default (``psl=False``): last-two-labels heuristic (``www.news.
    site7.com`` → ``site7.com``) — the zero-dependency scan-local
    tier, wrong only for multi-label public suffixes like ``.co.uk``.

    ``psl=True`` (r10, VERDICT r9 #6): longest-match lookup against
    the vendored public-suffix snapshot (:data:`PSL_SNAPSHOT_2LABEL`
    / :data:`PSL_SNAPSHOT_3LABEL`, or a caller-supplied ``suffixes=
    (two_label, three_label)`` pair), so ``shop.example.co.uk`` →
    ``example.co.uk``.  The suffix table is metadata-sized, so the
    lookup is a scan-local ``array_contains`` against a literal array
    — the broadcast join's plan, minus the join (zero exchanges, same
    longest-match-wins semantics).  A host that IS exactly a public
    suffix returns itself (the pragmatic dedup-key choice; the strict
    PSL says "no registrable domain", which is useless as a grouping
    key).  Wildcard TLD rules (``*.ck`` — every second-level label is
    a suffix) come from :data:`PSL_SNAPSHOT_WILDCARD_TLD`; the PSL's
    rare ``!exception`` entries are not modeled (documented)."""
    host = url_host(col)
    if not psl:
        return F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)
    two, three = suffixes if suffixes is not None else (
        PSL_SNAPSHOT_2LABEL, PSL_SNAPSHOT_3LABEL)
    wild = (PSL_SNAPSHOT_WILDCARD_TLD if wildcard_tlds is None
            else wildcard_tlds)
    last1 = F.regexp_extract(host, r"([^.]+)$", 1)
    last2 = F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)
    last3 = F.regexp_extract(host, r"([^.]+\.[^.]+\.[^.]+)$", 1)
    last4 = F.regexp_extract(host,
                             r"([^.]+\.[^.]+\.[^.]+\.[^.]+)$", 1)
    two_lit = F.lit(sorted(two)).cast("array<string>")
    three_lit = F.lit(sorted(three)).cast("array<string>")
    wild_lit = F.lit(sorted(wild)).cast("array<string>")
    return (F.when(F.array_contains(three_lit, last3) & (last4 != ""),
                   last4)
             .when(F.array_contains(two_lit, last2) & (last3 != ""),
                   last3)
             .when(F.array_contains(wild_lit, last1) & (last3 != ""),
                   last3)
             .otherwise(last2))


#: Query params dropped by canonicalize_url: click/campaign trackers
#: that vary per visit without changing the resource.
TRACKING_PARAM_RE = r"^(utm_[^=]*|gclid|fbclid|msclkid|ref)="

# --- percent-encoding + dot-segment tier (r10, VERDICT r9 #9) -------
# Both engines must run the IDENTICAL chain, so the steps live in
# shared spec lists and each side renders them: Spark as chained
# F.regexp_replace/F.replace, DuckDB via pct_normalize_sql()/
# dot_segments_sql() below.

#: Uppercase the hex digits of percent triplets (RFC 3986 §6.2.2.1):
#: 6 rules for a lowercase FIRST hex digit, then 6 for the second
#: (the first is already uppercased when these run).  Replacement
#: backrefs use $1 (Spark form); the SQL renderer rewrites to \1.
_PCT_UPPER_STEPS: list[tuple[str, str]] = (
    [(f"%{ch}([0-9A-Fa-f])", f"%{ch.upper()}$1") for ch in "abcdef"]
    + [(f"%([0-9A-F]){ch}", f"%$1{ch.upper()}") for ch in "abcdef"]
)

#: Decode percent-escapes of UNRESERVED characters (RFC 3986 §2.3:
#: ALPHA / DIGIT / - . _ ~) — the escapes that never change meaning,
#: the exact set C4-grade canonicalizers decode.  Literal (non-regex)
#: replaces; triplets are already uppercase when these run.  None of
#: the decoded characters is '%', '#', '?', ':' or '/', so decoding
#: can neither cascade nor change URL structure.
_PCT_DECODE_STEPS: list[tuple[str, str]] = (
    [(f"%{ord(c):02X}", c)
     for c in ("ABCDEFGHIJKLMNOPQRSTUVWXYZ"
               "abcdefghijklmnopqrstuvwxyz0123456789-._~")]
)

#: Fixed-point passes for dot-segment resolution: each pass removes
#: one nesting level, so paths with more than this many stacked
#: ``..`` levels stay partially resolved (idempotent, documented).
_DOT_PASSES = 8

#: One ``..``-collapse unit: a preceding segment containing at least
#: one non-dot character (so ``/../..`` never eats a ``..``; RE2 has
#: no lookahead, hence the character-class formulation — all-dot
#: segments like ``...`` are left alone, documented).
_DOT_SEG = r"[^/]*[^/.][^/]*"


def _pct_normalize(c):
    """Apply the shared percent-normalization spec as a Spark chain."""
    for pat, rep in _PCT_UPPER_STEPS:
        c = F.regexp_replace(c, pat, rep)
    for frm, to in _PCT_DECODE_STEPS:
        c = F.replace(c, F.lit(frm), F.lit(to))
    return c


#: The four ``..``-collapse regexes (see _DOT_SEG for the guard).
_DOTDOT_MID = "/" + _DOT_SEG + "/\\.\\./"
_DOTDOT_END = "/" + _DOT_SEG + "/\\.\\.$"


def _resolve_dot_segments(p):
    """RFC 3986 §5.2.4 remove_dot_segments over a PATH column (always
    ``/``-rooted here), as bounded regexp passes."""
    for _ in range(_DOT_PASSES):
        p = F.regexp_replace(p, r"/\./", "/")
    p = F.regexp_replace(p, r"/\.$", "/")
    for _ in range(_DOT_PASSES):
        p = F.regexp_replace(p, _DOTDOT_MID, "/")
        p = F.regexp_replace(p, r"^/\.\./", "/")
    p = F.regexp_replace(p, _DOTDOT_END, "/")
    p = F.regexp_replace(p, r"^/\.\.$", "/")
    return p


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def pct_normalize_sql(expr: str) -> str:
    """Render the percent-normalization chain as a DuckDB expression
    over ``expr`` — identical steps, identical order ('g' flag added:
    DuckDB's regexp_replace is first-match by default; $1 → \\1)."""
    out = expr
    for pat, rep in _PCT_UPPER_STEPS:
        rep_sql = rep.replace("$1", "\\1")
        out = (f"regexp_replace({out}, {_sql_quote(pat)}, "
               f"{_sql_quote(rep_sql)}, 'g')")
    for frm, to in _PCT_DECODE_STEPS:
        out = f"replace({out}, {_sql_quote(frm)}, {_sql_quote(to)})"
    return out


def dot_segments_sql(expr: str) -> str:
    """Render the dot-segment passes as a DuckDB expression."""
    dot_mid = _sql_quote(r"/\./")
    dot_end = _sql_quote(r"/\.$")
    dd_mid = _sql_quote(_DOTDOT_MID)
    dd_root = _sql_quote(r"^/\.\./")
    dd_end = _sql_quote(_DOTDOT_END)
    dd_root_end = _sql_quote(r"^/\.\.$")
    out = expr
    for _ in range(_DOT_PASSES):
        out = f"regexp_replace({out}, {dot_mid}, '/', 'g')"
    out = f"regexp_replace({out}, {dot_end}, '/', 'g')"
    for _ in range(_DOT_PASSES):
        out = f"regexp_replace({out}, {dd_mid}, '/', 'g')"
        out = f"regexp_replace({out}, {dd_root}, '/', 'g')"
    out = f"regexp_replace({out}, {dd_end}, '/', 'g')"
    out = f"regexp_replace({out}, {dd_root_end}, '/', 'g')"
    return out


def canonicalize_url(col) -> "F.Column":
    """Canonical form of a URL column for dedup keys — the C4/
    CommonCrawl "same page, different link" normalizer, as ONE chained
    codegen expression (zero Python, zero shuffle):

      * fragment dropped (``#...`` never reaches the server);
      * scheme and host lowercased (case-insensitive per RFC 3986);
      * default ports stripped (``http://h:80`` == ``http://h``,
        ``https://h:443`` == ``https://h``);
      * empty path becomes ``/``;
      * tracking params (:data:`TRACKING_PARAM_RE`) dropped, the
        remainder SORTED so param order can't split a dedup group;
        an emptied query string loses its ``?``.

      * percent-encoding normalized (r10, VERDICT r9 #9): hex digits
        of ``%xx`` triplets uppercased, escapes of UNRESERVED
        characters decoded (``%7E`` → ``~`` — the C4-grade key where
        the raw form splits a dedup group); runs BEFORE parsing, and
        none of the decoded characters can change URL structure;
      * path dot-segments resolved (``/a/./b/../c`` → ``/a/c``,
        RFC 3986 remove_dot_segments) as :data:`_DOT_PASSES` bounded
        passes — deeper ``..`` stacks stay partially resolved
        (idempotent), and all-dot segments like ``...`` are left
        alone (RE2 has no lookahead to special-case them).

    Inputs without a ``scheme://`` pass through unchanged (same
    fall-through contract as :func:`url_host`).  Userinfo
    (``user:pass@host``) is DROPPED — credentials never belong in a
    dedup key, and keeping them would let ``alice@a.com`` and
    ``bob@a.com`` split one page into two keys.  Out of scope
    (documented, not hidden): IPv6 bracket literals (the regex-tier
    host/port split does not parse ``[::1]:8080``; web corpora
    address hosts by name).  Every step is shared Java-regex/RE2
    syntax, so the DuckDB oracle runs the identical chain
    (:func:`pct_normalize_sql` / :func:`dot_segments_sql` render it).
    """
    c = F.col(col) if isinstance(col, str) else col
    pct = _pct_normalize(c)
    nofrag = F.regexp_replace(pct, r"#.*", "")
    scheme = F.regexp_extract(nofrag, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    rest = F.regexp_replace(nofrag, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    authority = F.regexp_extract(rest, r"^([^/?#]*)", 1)
    hostport = F.regexp_replace(authority, r"^[^/?#@]*@", "")
    pathq = F.regexp_replace(rest, r"^[^/?#]*", "")
    host = F.lower(F.regexp_extract(hostport, r"^([^:]*)", 1))
    port = F.regexp_extract(hostport, r":([0-9]+)$", 1)
    scheme_l = F.lower(scheme)
    default_port = ((scheme_l == "http") & (port == "80")) |                    ((scheme_l == "https") & (port == "443"))
    port_norm = F.when((port == "") | default_port, F.lit(""))                  .otherwise(F.concat(F.lit(":"), port))
    path = F.regexp_extract(pathq, r"^([^?]*)", 1)
    path_norm = _resolve_dot_segments(
        F.when(path == "", F.lit("/")).otherwise(path))
    query = F.regexp_extract(pathq, r"\?(.*)$", 1)
    params = F.filter(
        F.split(query, r"&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE))
    q_norm = F.array_join(F.array_sort(params), "&")
    canon = F.concat(
        scheme_l, F.lit("://"), host, port_norm, path_norm,
        F.when(q_norm == "", F.lit(""))
         .otherwise(F.concat(F.lit("?"), q_norm)))
    return F.when(scheme == "", c).otherwise(canon)


def cap_per_domain(df: DataFrame, url_col: str, cap: int,
                   order_by, keep_rank: bool = True,
                   psl: bool = False) -> DataFrame:
    """Per-domain document cap — the standard CommonCrawl curation
    guard against a single site dominating the corpus (C4 keeps ≤
    some-N pages per domain; Gopher/RefinedWeb likewise).  Keeps the
    first ``cap`` rows of each registrable domain under ``order_by``
    (pass a deterministic total order — e.g. a quality score with a
    doc-id tiebreak — or the cap is nondeterministic under retries).

    ONE exchange on the domain hash, then a window inside each
    partition; with AQE skew handling a mega-domain (the exact thing
    being capped) still splits across tasks for the sort.  Adds
    ``domain`` (+``rank`` when ``keep_rank``).

    Rows whose URL yields no host (schemeless/garbage) share the
    empty-string domain and are capped TOGETHER under it — pre-filter
    ``url_host(col) != ''`` if unknown-domain docs should bypass the
    cap instead."""
    from ._util import ensure_parallelism

    from pyspark.sql import Window

    df = ensure_parallelism(df, rows_per_slot=_ROWS_PER_SLOT)
    order = order_by if isinstance(order_by, (list, tuple)) \
        else [order_by]
    w = Window.partitionBy("domain").orderBy(*order)
    out = (df.withColumn("domain",
                         url_registrable_domain(url_col, psl=psl))
             .withColumn("rank", F.row_number().over(w))
             .filter(F.col("rank") <= cap))
    return out if keep_rank else out.drop("rank")


def balanced_sample(df: DataFrame, k: int,
                    by: tuple[str, ...] = ("lang",),
                    id_col: str = "doc_id",
                    weight_col: str | None = None,
                    seed: str = "bsample") -> DataFrame:
    """FIXED-k per-group sampling — the class-balancing primitive a
    skewed corpus needs when fractions (:func:`stratified_sample`)
    cannot guarantee per-class counts: every ``by`` group contributes
    exactly ``min(k, group size)`` rows.

    Selection key, deterministic in any engine / partitioning / run:

    * unweighted — the md5(seed:id) hash long (uniform within group);
    * ``weight_col`` — the Efraimidis-Spirakis ``ln(u)/w`` key in
      milli-units (:func:`weighted_sample`'s exact integer/IEEE chain,
      inclusion probability proportional to weight WITHIN the group).

    Output: ``(*by, id, weight?, key_milli, rk)`` with ``rk`` the
    row's 1-based rank in its group.

    Plan shape: ONE group-key exchange; the rank<=k predicate plans as
    WindowGroupLimit, so each map task pre-prunes its partition to k
    rows per group BEFORE the shuffle — the moved data is O(groups x
    k) per task, not the corpus.  Rows with NULL group/id (and NULL or
    non-positive weight, when weighted) are excluded."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql.window import Window

    cond = F.col(id_col).isNotNull()
    for c in by:
        cond = cond & F.col(c).isNotNull()
    cols = [*by, id_col]
    if weight_col is None:
        key = _es_id_hash(id_col, seed)
    else:
        cond = cond & F.col(weight_col).isNotNull() \
            & (F.col(weight_col) > 0)
        key = _es_key_milli(id_col, weight_col, seed)
        cols.append(weight_col)
    w = (Window.partitionBy(*[F.col(c) for c in by])
               .orderBy(F.desc("key_milli"), F.asc(id_col)))
    return (df.filter(cond)
              .select(*cols, key.alias("key_milli"))
              .withColumn("rk", F.row_number().over(w))
              .filter(F.col("rk") <= k))
