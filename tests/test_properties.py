"""Property-based tests (hypothesis): codec round-trip fidelity over
arbitrary rows, and the LWW merge against an independent pure-Python
model of the deterministic total order (SURVEY.md §5.3)."""

from __future__ import annotations

import base64

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from sstable_hadoop_spark.sources.codec import (
    Cell,
    Row,
    SSTableWriter,
    read_data_rows,
    read_index_entries,
)

_state = st.sampled_from(["NORMAL", "DELETED", "EXPIRING"])
_bytes = st.binary(min_size=0, max_size=64)
_ts = st.integers(min_value=-2**40, max_value=2**40)


@st.composite
def cells(draw):
    state = draw(_state)
    return Cell(
        name=draw(st.binary(min_size=1, max_size=32)),
        state=state,
        data=None if state == "DELETED" else draw(_bytes),
        timestamp=draw(_ts),
        ttl=draw(st.integers(0, 10**6)) if state == "EXPIRING" else None,
        expiration=draw(st.integers(0, 2**45)) if state == "EXPIRING" else None,
    )


@st.composite
def rows(draw):
    return Row(key=draw(st.binary(min_size=1, max_size=48)),
               cells=draw(st.lists(cells(), min_size=0, max_size=6)))


@settings(max_examples=40, deadline=None)
@given(st.lists(rows(), min_size=1, max_size=12),
       st.booleans(), st.sampled_from([256, 1024, 65536]))
def test_codec_roundtrip_arbitrary(tmp_path_factory, row_list, compressed,
                                   chunk_length):
    d = tmp_path_factory.mktemp("hyp")
    w = SSTableWriter(str(d), "hyp", generation=1, compressed=compressed,
                      chunk_length=chunk_length, summary_rate=3)
    for r in row_list:
        w.write_row(r)
    paths = w.close()
    back = list(read_data_rows(paths["data"]))
    assert len(back) == len(row_list)
    for a, b in zip(row_list, back):
        assert a.key == b.key
        assert a.cells == b.cells
    # index invariant: every offset is a readable row start for its key
    for key, pos in read_index_entries(paths["index"]):
        assert next(read_data_rows(paths["data"], start=pos)).key == key


# --- real Cassandra 1.x codec --------------------------------------------


@st.composite
def cassandra_cells(draw):
    """1.x layout constraints: ttl/localExpiration are i32 seconds, so
    expiration(ms) is a second-multiple below 2^31 s."""
    state = draw(_state)
    return Cell(
        name=draw(st.binary(min_size=1, max_size=32)),
        state=state,
        data=None if state == "DELETED" else draw(_bytes),
        timestamp=draw(_ts),
        ttl=draw(st.integers(0, 2**31 - 1)) if state == "EXPIRING" else None,
        expiration=(draw(st.integers(0, 2**31 - 1)) * 1000
                    if state == "EXPIRING" else None),
    )


@st.composite
def cassandra_rows(draw):
    return Row(key=draw(st.binary(min_size=1, max_size=48)),
               cells=draw(st.lists(cassandra_cells(), min_size=0,
                                   max_size=6)))


@settings(max_examples=30, deadline=None)
@given(st.lists(cassandra_rows(), min_size=1, max_size=10),
       st.booleans(), st.sampled_from([256, 4096]))
def test_cassandra1x_roundtrip_arbitrary(tmp_path_factory, row_list,
                                         compressed, chunk_length):
    """encode → (optionally snappy-chunk) → read reproduces every cell;
    DELETED winners come back data-less with their timestamp."""
    from sstable_hadoop_spark.sources.cassandra1x import (
        encode_cassandra_row,
        read_cassandra_rows,
        write_cassandra_compressed,
    )

    d = tmp_path_factory.mktemp("cass_hyp")
    data = str(d / "ks-cf-hc-1-Data.db")
    raw = b"".join(encode_cassandra_row(r) for r in row_list)
    if compressed:
        write_cassandra_compressed(data, raw, chunk_length=chunk_length)
    else:
        with open(data, "wb") as f:
            f.write(raw)
    back = list(read_cassandra_rows(data))
    assert len(back) == len(row_list)
    for a, b in zip(row_list, back):
        assert a.key == b.key
        assert a.cells == b.cells


# --- LWW model ------------------------------------------------------------

_RANK = {"DELETED": 2, "EXPIRING": 1, "NORMAL": 0}


def _order(rec):
    """The engine's documented total order (operators/lww.py)."""
    _key, _name, state, data, ts, _ttl, _exp, gen = rec
    return (ts, _RANK[state], gen,
            base64.b64encode(data or b"").decode(),
            base64.b64encode(_name).decode())


def model_lww_cell(records):
    winners = {}
    for rec in records:
        k = (rec[0], rec[1])
        if k not in winners or _order(rec) > _order(winners[k]):
            winners[k] = rec
    return winners


_cell_record = st.tuples(
    st.sampled_from([b"k1", b"k2", b"\xc3\x28"]),      # few keys → collisions
    st.sampled_from([b"a", b"b", b"c"]),               # few names → collisions
    _state,
    st.one_of(st.none(), st.binary(max_size=8)),
    st.integers(0, 5),                                 # tiny ts range → ties
    st.one_of(st.none(), st.integers(0, 100)),
    st.one_of(st.none(), st.integers(0, 100)),
    st.integers(1, 4),
)


def _fix(rec):
    k, n, state, data, ts, ttl, exp, gen = rec
    if state == "DELETED":
        data = None
    else:
        data = data or b""
    if state != "EXPIRING":
        ttl = exp = None
    else:
        ttl, exp = ttl or 0, exp or 0
    return (k, n, state, data, ts, ttl, exp, gen)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(_cell_record, min_size=1, max_size=40))
def test_lww_cell_matches_python_model(spark, recs):
    """Spark lww_cell == independent python model on adversarial inputs
    (timestamp ties, duplicate (key,name), tombstones).  Model equality
    implies idempotence/commutativity/associativity of the merge."""
    from sstable_hadoop_spark.operators import lww_cell

    recs = [_fix(r) for r in recs]
    df = spark.createDataFrame(
        recs,
        "key binary, name binary, state string, data binary, "
        "timestamp bigint, ttl bigint, expiration bigint, generation int")
    got = {(bytes(r["key"]), bytes(r["name"])):
           (r["state"], r["timestamp"], r["generation"],
            bytes(r["data"]) if r["data"] is not None else None)
           for r in lww_cell(df).collect()}
    want = {(k, n): (rec[2], rec[4], rec[7], rec[3])
            for (k, n), rec in model_lww_cell(recs).items()}
    assert got == want


@settings(max_examples=25, deadline=None)
@given(st.lists(rows(), min_size=1, max_size=30),
       st.integers(min_value=64, max_value=8192),
       st.booleans())
def test_split_planning_tiles_any_file(tmp_path_factory, row_list,
                                       max_split, compressed):
    """G2 invariant under fuzz: for ANY max_split size, planned
    partitions tile the uncompressed stream exactly and reading them
    yields every row exactly once in order."""
    from sstable_hadoop_spark.sources.datasource import _plan_file

    d = tmp_path_factory.mktemp("hyp_split")
    w = SSTableWriter(str(d), "hs", generation=1, compressed=compressed,
                      chunk_length=512)
    for r in row_list:
        w.write_row(r)
    paths = w.close()
    parts, _info = _plan_file(paths["data"], max_split=max_split)
    assert parts[0].start == 0
    for a, b in zip(parts, parts[1:]):
        assert a.end == b.start
    got = []
    for p in parts:
        got.extend(read_data_rows(p.path, p.start, p.end))
    assert [r.key for r in got] == [r.key for r in row_list]
    assert [r.cells for r in got] == [r.cells for r in row_list]


# ---- corpus operators: pure-Python models over arbitrary docs ------

_word = st.text(alphabet="abcdefg", min_size=1, max_size=6)
_doc = st.lists(_word, min_size=1, max_size=40).map(" ".join)


@given(docs=st.lists(_doc, min_size=1, max_size=12, unique=True),
       chunk=st.integers(min_value=1, max_value=7))
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_token_chunks_tile_any_doc(spark, docs, chunk):
    """Chunks tile every doc exactly: indices contiguous from 0, sizes
    chunk_size except a short tail, re-join restores the token
    stream."""
    from sstable_hadoop_spark.operators.corpus import token_chunks

    df = spark.createDataFrame(list(enumerate(docs)),
                               "doc_id bigint, text string")
    got = {}
    for r in token_chunks(df, chunk_size=chunk).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["n_tokens"], r["chunk_text"]))
    for did, text in enumerate(docs):
        toks = text.lower().split()
        parts = sorted(got[did])
        assert [i for i, _, _ in parts] == list(range(len(parts)))
        assert sum(n for _, n, _ in parts) == len(toks)
        assert all(n == chunk for _, n, _ in parts[:-1])
        assert " ".join(t for _, _, t in parts) == " ".join(toks)


@given(sizes=st.lists(st.integers(min_value=1, max_value=30),
                      min_size=1, max_size=25),
       budget=st.integers(min_value=5, max_value=40))
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_pack_sequences_invariants_any_sizes(spark, sizes, budget):
    """For arbitrary doc sizes and budgets: every doc assigned once,
    no bin over budget unless it is a single oversized doc, and
    bin_fill equals the bin's true total."""
    from sstable_hadoop_spark.operators.corpus import pack_sequences

    df = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in enumerate(sizes)],
        "doc_id bigint, text string")
    out = pack_sequences(df, budget=budget, n_groups=3).collect()
    assert len(out) == len(sizes)
    by_bin = {}
    for r in out:
        assert r["n_tokens"] == sizes[r["id"]]
        by_bin.setdefault(r["bin_id"], []).append(r)
    for rows_ in by_bin.values():
        fill = sum(r["n_tokens"] for r in rows_)
        assert all(r["bin_fill"] == fill for r in rows_)
        if fill > budget:
            assert len(rows_) == 1 and rows_[0]["n_tokens"] > budget


@settings(max_examples=20, deadline=None)
@given(st.lists(rows(), min_size=1, max_size=25),
       st.integers(min_value=64, max_value=4096),
       st.booleans())
def test_projected_scan_matches_full_any_rows(tmp_path_factory, row_list,
                                              max_split, compressed):
    """The r4 projection fast paths must agree with the full parse for
    ANY row content and split plan: key-only batches see exactly the
    full scan's keys per split, and skip_values preserves everything
    except data (which nulls out)."""
    from sstable_hadoop_spark.sources.codec import read_data_batches
    from sstable_hadoop_spark.sources.datasource import _plan_file

    d = tmp_path_factory.mktemp("hyp_proj")
    w = SSTableWriter(str(d), "hp", generation=1, compressed=compressed,
                      chunk_length=512)
    for r in row_list:
        w.write_row(r)
    paths = w.close()
    for p in _plan_file(paths["data"], max_split=max_split)[0]:
        full = [r for b in read_data_batches(p.path, p.start, p.end)
                for r in b.to_pylist()]
        keys = [r["key"] for b in read_data_batches(
                    p.path, p.start, p.end, project=("key",))
                for r in b.to_pylist()]
        assert keys == [r["key"] for r in full]
        skipped = [r for b in read_data_batches(
                       p.path, p.start, p.end, skip_values=True)
                   for r in b.to_pylist()]
        assert len(skipped) == len(full)
        for sr, fr in zip(skipped, full):
            assert sr["key"] == fr["key"]
            for sc, fc in zip(sr["columns"], fr["columns"]):
                assert sc["data"] is None
                assert {k: v for k, v in sc.items() if k != "data"} == \
                    {k: v for k, v in fc.items() if k != "data"}


@given(ids=st.lists(st.integers(min_value=0, max_value=10**9),
                    min_size=1, max_size=60, unique=True))
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_hash_split_matches_python_model(spark, ids):
    """hash_split agrees with an independent pure-Python md5 model for
    arbitrary ids — the engine-portable determinism the oracle relies
    on."""
    import hashlib

    from sstable_hadoop_spark.operators.corpus import (
        _hex_threshold,
        hash_split,
    )

    df = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
    got = {r["doc_id"]: r["split"]
           for r in hash_split(df).select("doc_id", "split").collect()}
    t90, t95 = _hex_threshold(0.9), _hex_threshold(0.95)
    for i in ids:
        b = hashlib.md5(f"split:{i}".encode()).hexdigest()[:8]
        want = "train" if b < t90 else ("val" if b < t95 else "test")
        assert got[i] == want, (i, b, got[i], want)


@given(docs=st.lists(
    st.lists(st.sampled_from("abcdef"), min_size=0, max_size=12)
      .map(lambda ws: " ".join(ws)),
    min_size=1, max_size=10),
    n=st.integers(min_value=2, max_value=4),
    min_df=st.integers(min_value=2, max_value=3))
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_remove_duplicate_spans_matches_python_model(spark, docs, n,
                                                     min_df):
    """Arbitrary tiny corpora (heavy gram collisions by construction):
    the distributed span removal equals a direct Python model — same
    duplicated grams, same covered positions, same rebuilt text."""
    from sstable_hadoop_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    df = spark.createDataFrame(list(enumerate(docs)),
                               "doc_id bigint, text string")
    got = {r["id"]: (r["text"], r["n_words"], r["n_removed"])
           for r in remove_duplicate_spans(
               df, n=n, min_df=min_df).collect()}

    # NB: Spark's split("\s+") of "" yields [""], one "word"
    toks = {i: ([""] if not t else t.lower().split())
            for i, t in enumerate(docs)}
    from collections import defaultdict

    docs_per_gram = defaultdict(set)
    for i, ws in toks.items():
        for s in range(len(ws) - n + 1):
            docs_per_gram[tuple(ws[s:s + n])].add(i)
    dup = {g for g, ds in docs_per_gram.items() if len(ds) >= min_df}
    for i, ws in toks.items():
        covered = set()
        for s in range(len(ws) - n + 1):
            if tuple(ws[s:s + n]) in dup:
                covered.update(range(s, s + n))
        kept = [w for p, w in enumerate(ws) if p not in covered]
        assert got[i] == (" ".join(kept), len(ws), len(covered)), (
            i, docs[i], got[i])


@settings(max_examples=40, deadline=None)
@given(
    payloads=st.lists(st.binary(min_size=0, max_size=400), min_size=1,
                      max_size=30),
    max_split=st.integers(min_value=64, max_value=8192),
    compress=st.booleans(),
)
def test_warc_member_splits_tile_any_file(tmp_path_factory, payloads,
                                          max_split, compress):
    """r8 member-index planner property: for ANY record set and ANY
    split target, the planned ranges are member-aligned, contiguous,
    and exactly tile the file; parsing every range in order yields
    exactly the whole-file record sequence."""
    import os

    from sstable_hadoop_spark.sources.warc import (
        WarcReader,
        load_member_index,
        open_warc_range,
        parse_warc,
        write_member_index,
        write_warc_records,
    )

    d = str(tmp_path_factory.mktemp("warcprop"))
    ext = ".warc.gz" if compress else ".warc"
    path = os.path.join(d, "part-00000-tok" + ext)
    records = [{"target_uri": f"http://x/{i}", "payload": p}
               for i, p in enumerate(payloads)]
    index: list = []
    with open(path, "wb") as out:
        write_warc_records(out, iter(records), compress=compress,
                           index=index)
    write_member_index(path + ".cdx", index, os.path.getsize(path))
    assert load_member_index(path) == index

    parts = WarcReader({"path": d,
                        "max_split_bytes": str(max_split)}).partitions()
    size = os.path.getsize(path)
    if size <= max_split:
        assert len(parts) == 1 and parts[0].length == -1
        return
    # member-aligned exact tiling
    starts = {off for off, _ in index}
    pos = 0
    for p in parts:
        assert p.start == pos and p.start in starts and p.length > 0
        pos += p.length
    assert pos == size
    # each range parses independently; concatenation == whole file
    got = []
    for p in parts:
        with open_warc_range(path, p.start, p.length) as f:
            got.extend(rec.payload for rec in parse_warc(f))
    assert got == [bytes(p) for p in payloads]
