"""Codec unit/property tests (reference Lexicon.cpp:9-41,131-146)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from cs6913_web_search_engines_spark.functions import varbyte


def rt(vals):
    arr = np.asarray(vals, dtype=np.uint64)
    return varbyte.decode(varbyte.encode(arr), arr.size)


@pytest.mark.parametrize(
    "vals",
    [
        [0],
        [127],
        [128],
        [16383, 16384],
        [2**28 - 1, 2**28],
        [2**32 - 1],
        [0, 1, 127, 128, 255, 300, 2**21, 2**28, 2**31],
        [],
    ],
)
def test_roundtrip_boundaries(vals):
    assert rt(vals).tolist() == vals


def test_zero_is_one_byte():
    # Deviation from the reference (whose varbyteEncode emits nothing
    # for 0, Lexicon.cpp:11 — documented SURVEY §2.12.3): ours is total.
    assert varbyte.encode(np.array([0], dtype=np.uint64)) == b"\x00"


def test_wire_format_little_endian_7bit():
    # 300 = 0b10_0101100 → bytes [0xAC|0x80, 0x02] (low group first,
    # continuation bit on all but last) — same wire as the reference.
    assert varbyte.encode(np.array([300], dtype=np.uint64)) == bytes([0xAC, 0x02])
    assert varbyte.encode(np.array([127], dtype=np.uint64)) == bytes([0x7F])
    assert varbyte.encode(np.array([128], dtype=np.uint64)) == bytes([0x80, 0x01])


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**40), max_size=300))
def test_roundtrip_property(vals):
    assert rt(vals).tolist() == vals


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=500),
    st.sampled_from([1, 2, 64, 7]),
)
def test_delta_roundtrip(gaps_src, chunk):
    # build a strictly increasing docID list
    doc_ids = np.cumsum(np.asarray(gaps_src, dtype=np.int64) + 1)
    gaps = varbyte.delta_encode(doc_ids, chunk)
    # chunk-leading entries are absolute (reference resets prevDocId,
    # Lexicon.cpp:143-146)
    assert (gaps[0::chunk] == doc_ids[0::chunk]).all()
    back = varbyte.delta_decode(gaps, chunk)
    assert (back == doc_ids).all()


def test_chunk_independence():
    # any suffix of whole chunks decodes standalone
    doc_ids = np.arange(10, 1000, 7, dtype=np.int64)
    chunk = 64
    gaps = varbyte.delta_encode(doc_ids, chunk)
    back = varbyte.delta_decode(gaps[chunk:], chunk)
    assert (back == doc_ids[chunk:]).all()


def _block_row(doc_ids, tfs, chunk):
    d = np.asarray(doc_ids, dtype=np.int64)
    return (d.size, varbyte.encode(varbyte.delta_encode(d, chunk)),
            varbyte.encode(np.asarray(tfs, dtype=np.int64)))


def _per_row(rows, chunk):
    docs, tfs = [], []
    for n, g, t in rows:
        docs.append(varbyte.delta_decode(varbyte.decode(g, n), chunk))
        tfs.append(varbyte.decode(t, n))
    return np.concatenate(docs), np.concatenate(tfs)


def _batched(rows, chunk):
    return varbyte.decode_blocks([r[0] for r in rows], [r[1] for r in rows],
                                 [r[2] for r in rows], chunk)


def test_decode_blocks_empty_batch():
    docs, tfs = varbyte.decode_blocks([], [], [], 64)
    assert docs.size == 0 and tfs.size == 0
    assert docs.dtype == tfs.dtype == np.int64


def test_decode_blocks_one_row():
    rows = [_block_row([3, 9, 10, 400], [1, 2, 3, 4], 64)]
    docs, tfs = _batched(rows, 64)
    assert docs.tolist() == [3, 9, 10, 400]
    assert tfs.tolist() == [1, 2, 3, 4]


def test_decode_blocks_partial_last_chunk_and_zero_leader():
    # 21 and 5 postings over chunk 8: neither is a multiple of the
    # chunk size; the second row's chunk-leading doc id is 0 (the one
    # id whose absolute encoding is a 0x00 byte)
    a = np.arange(100, 121) * 3
    b = np.array([0, 1, 5, 6, 7])
    rows = [_block_row(a, a % 5 + 1, 8), _block_row(b, [9, 1, 1, 1, 2], 8)]
    docs, tfs = _batched(rows, 8)
    assert docs.tolist() == a.tolist() + b.tolist()
    assert tfs.tolist() == (a % 5 + 1).tolist() + [9, 1, 1, 1, 2]


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.lists(st.integers(min_value=0, max_value=2**33),
                      min_size=1, max_size=200), min_size=1, max_size=12),
    st.sampled_from([1, 3, 16, 64]),
)
def test_decode_blocks_mixed_rows_match_per_row(rows_src, chunk):
    rows = []
    for gaps_src in rows_src:
        # strictly increasing; the first id may be 0
        doc_ids = np.cumsum(np.asarray(gaps_src, dtype=np.int64) + 1) - 1
        rows.append(_block_row(doc_ids, doc_ids % 1000 + 1, chunk))
    want_docs, want_tfs = _per_row(rows, chunk)
    docs, tfs = _batched(rows, chunk)
    assert docs.tolist() == want_docs.tolist()
    assert tfs.tolist() == want_tfs.tolist()


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.tuples(st.lists(st.integers(min_value=0, max_value=300),
                                min_size=1, max_size=80),
                       st.integers(min_value=0, max_value=1000)),
             min_size=0, max_size=8),
    st.sampled_from([1, 3, 16, 64]),
)
def test_score_blocks_matches_per_row_loop(rows_src, chunk):
    # the segment kernel's former per-row loop is the reference: same
    # values to the last bit, doc ids without a length (beyond the
    # norms array or length 0) dropped, rows left empty kept in place
    from cs6913_web_search_engines_spark.config import EngineConfig
    from cs6913_web_search_engines_spark.operators import query_exec as qe

    cfg = EngineConfig(postings_per_chunk=chunk)
    lens = np.arange(1200, dtype=np.int32) % 7      # every 7th id: 0
    avg, k1, b = 3.25, cfg.k1, cfg.b
    rows, dfs = [], []
    for gaps_src, df in rows_src:
        doc_ids = np.cumsum(np.asarray(gaps_src, dtype=np.int64) + 1) - 1
        rows.append(_block_row(doc_ids, doc_ids % 5 + 1, chunk))
        dfs.append(df)
    idf = qe.bm25_idf(dfs, 1000)
    got = qe.score_blocks([r[0] for r in rows], [r[1] for r in rows],
                          [r[2] for r in rows], idf, lens, avg, cfg)
    assert len(got) == len(rows)
    for (n, g, t), df, (ids, contrib) in zip(rows, dfs, got):
        want_ids = varbyte.delta_decode(varbyte.decode(g, n), chunk)
        tf = varbyte.decode(t, n).astype(np.float64)
        dl = np.zeros(want_ids.size)
        m = want_ids < lens.size
        dl[m] = lens[want_ids[m]]
        ok = dl > 0
        want_ids, tf, dl = want_ids[ok], tf[ok], dl[ok]
        row_idf = float(np.log((1000.0 - df + 0.5) / (df + 0.5)))
        K = k1 * ((1.0 - b) + b * dl / avg)
        want = row_idf * (k1 + 1.0) * tf / (K + tf)
        assert ids.tolist() == want_ids.tolist()
        assert contrib.tobytes() == want.tobytes()
