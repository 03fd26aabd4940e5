"""Varbyte + block codec round-trips (upgrade over the reference, which has
no codec tests — ours are property-based per SURVEY.md §5.2.8)."""

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from dynamo2es_lambda_spark.functions import codec


def test_varbyte_known():
    vals = np.array([0, 1, 127, 128, 300, 2**20, 2**40, 2**63 - 1], dtype=np.uint64)
    buf = codec.varbyte_encode(vals)
    out = codec.varbyte_decode(buf)
    assert out.tolist() == vals.tolist()
    assert codec.varbyte_encode(np.array([], dtype=np.uint64)) == b""
    assert codec.varbyte_decode(b"").size == 0
    # single-byte values take exactly one byte
    assert len(codec.varbyte_encode(np.array([5], dtype=np.uint64))) == 1


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500))
@settings(max_examples=100, deadline=None)
def test_varbyte_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert codec.varbyte_decode(codec.varbyte_encode(arr)).tolist() == vals


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**9),   # doc gap
            st.integers(min_value=1, max_value=1000),    # tf
            st.integers(min_value=1, max_value=5000),    # dl
        ),
        min_size=1,
        max_size=700,
    )
)
@settings(max_examples=50, deadline=None)
def test_block_roundtrip(rows):
    gaps = np.array([r[0] for r in rows], dtype=np.int64)
    doc_ids = np.cumsum(gaps + 1) - 1  # strictly increasing
    tfs = np.array([r[1] for r in rows], dtype=np.int64)
    dls = np.array([r[2] for r in rows], dtype=np.int64)
    blocks = codec.encode_blocks(doc_ids, tfs, dls)
    got_ids, got_tfs, got_dls = [], [], []
    for b in blocks:
        ids, t, d = codec.decode_block(
            b["doc_first"], b["doc_bytes"], b["tf_bytes"], b["dl_bytes"]
        )
        assert b["n_docs"] == ids.size <= codec.BLOCK_SIZE
        assert b["doc_first"] == ids[0] and b["doc_last"] == ids[-1]
        assert b["max_tf"] == t.max()
        assert b["min_dl"] == d.min()
        got_ids.append(ids)
        got_tfs.append(t)
        got_dls.append(d)
    assert np.concatenate(got_ids).tolist() == doc_ids.tolist()
    assert np.concatenate(got_tfs).tolist() == tfs.tolist()
    assert np.concatenate(got_dls).tolist() == dls.tolist()


@given(
    st.lists(st.integers(min_value=0, max_value=2**40), max_size=400),
    st.data(),
)
@settings(max_examples=60, deadline=None)
def test_grouped_varbyte_roundtrip(vals, data):
    """varbyte_encode_grouped slices == per-group independent encodes."""
    arr = np.array(vals, dtype=np.uint64)
    sizes = []
    left = len(vals)
    while left > 0:
        s = data.draw(st.integers(min_value=1, max_value=left))
        sizes.append(s)
        left -= s
    groups = codec.varbyte_encode_grouped(arr, np.array(sizes, dtype=np.int64))
    assert len(groups) == len(sizes)
    off = 0
    for g, s in zip(groups, sizes):
        assert g == codec.varbyte_encode(arr[off:off + s])
        assert codec.varbyte_decode(g).tolist() == vals[off:off + s]
        off += s


@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=100),
                 min_size=1, max_size=40),
        min_size=1, max_size=60,
    )
)
@settings(max_examples=60, deadline=None)
def test_segmented_positions_roundtrip(gap_groups):
    """positions → segmented_deltas → segmented_positions is the identity,
    and matches per-group cumsum (the position codec used by phrase search)."""
    pos_groups = [np.cumsum(np.array(g, dtype=np.int64)) for g in gap_groups]
    flat = np.concatenate(pos_groups)
    counts = np.array([len(g) for g in pos_groups], dtype=np.int64)
    deltas = codec.segmented_deltas(flat, counts)
    assert (deltas >= 0).all()  # varbyte-safe
    back = codec.segmented_positions(deltas, counts)
    assert back.tolist() == flat.tolist()
    # full wire round-trip through grouped varbyte + the batch decoder
    payloads = codec.varbyte_encode_grouped(deltas, counts)
    ids = np.arange(counts.size, dtype=np.int64)
    frame = pd.DataFrame(
        codec.encode_blocks(ids, counts, counts, pos_payloads=payloads)
    )
    assert len(frame) == 1
    assert frame["pos_bytes"][0] == b"".join(payloads)
    d = codec.decode_batch(frame, positions=True)
    flat2, starts = d["positions"], d["pos_starts"]
    assert flat2.tolist() == flat.tolist()
    off = 0
    for i, g in enumerate(pos_groups):
        assert starts[i] == off
        off += len(g)


def _reference_decode(frame: pd.DataFrame, pos_by_key: dict) -> dict:
    """Per-block decode_block output concatenated in frame order; positions
    come from the source lists (none for a block without pos_bytes)."""
    ids_l, tfs_l, dls_l, pos_l, pos_starts = [], [], [], [], []
    n_pos = 0
    for row in frame.itertuples(index=False):
        ids, tfs, dls = codec.decode_block(
            row.doc_first, row.doc_bytes, row.tf_bytes, row.dl_bytes
        )
        ids_l.append(ids)
        tfs_l.append(tfs)
        dls_l.append(dls)
        for doc in ids:
            pos_starts.append(n_pos)
            if row.pos_bytes is not None:
                pos = pos_by_key[row.term, int(doc)]
                pos_l.extend(pos)
                n_pos += len(pos)
    return {
        "counts": frame["n_docs"].tolist(),
        "doc_int": np.concatenate(ids_l).tolist(),
        "tf": np.concatenate(tfs_l).tolist(),
        "dl": np.concatenate(dls_l).tolist(),
        "positions": pos_l,
        "pos_starts": pos_starts,
    }


@given(
    st.lists(
        st.tuples(
            st.one_of(
                st.just(1),
                st.just(codec.BLOCK_SIZE + 1),
                st.integers(min_value=1, max_value=3 * codec.BLOCK_SIZE),
            ),                                   # postings of the term
            st.booleans(),                       # term stored with positions
        ),
        min_size=1,
        max_size=4,
    ),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=50, deadline=None)
def test_decode_batch_matches_per_block_decode(terms, seed):
    """decode_batch over a multi-term, multi-block frame == the per-block
    decode_block output concatenated in frame order. Each term's postings
    are split over two CDC batches (two sorted runs) and every block row is
    shuffled, so blocks of the two batches interleave; terms without
    positions store a null pos_bytes."""
    rng = np.random.default_rng(seed)
    rows, pos_by_key = [], {}
    for ti, (n, with_pos) in enumerate(terms):
        term = f"t{ti}"
        doc_ids = np.sort(
            rng.choice(2**62, size=n, replace=False).astype(np.int64)
            - 2**61
        )
        tfs = rng.integers(1, 6, size=n)
        dls = tfs + rng.integers(0, 3000, size=n)
        batch = rng.integers(0, 2, size=n)
        for bi in (0, 1):
            sel = batch == bi
            if not sel.any():
                continue
            payloads = None
            if with_pos:
                payloads = []
                for doc, tf in zip(doc_ids[sel], tfs[sel]):
                    pos = np.cumsum(rng.integers(0, 200, size=tf))
                    pos_by_key[term, int(doc)] = pos.tolist()
                    payloads.append(codec.varbyte_encode(
                        codec.segmented_deltas(pos, np.array([tf]))
                    ))
            for b in codec.encode_blocks(
                doc_ids[sel], tfs[sel], dls[sel], pos_payloads=payloads
            ):
                rows.append({"term": term, **b})
    frame = pd.DataFrame(rows)
    frame = frame.iloc[rng.permutation(len(frame))].reset_index(drop=True)
    want = _reference_decode(frame, pos_by_key)
    got = codec.decode_batch(frame, tf=True, dl=True, positions=True)
    for key, val in want.items():
        assert got[key].tolist() == val, key
    doc_only = codec.decode_batch(frame)
    assert set(doc_only) == {"counts", "doc_int"}
    assert doc_only["doc_int"].tolist() == want["doc_int"]


def test_decode_batch_empty_frame():
    frame = pd.DataFrame(
        {"n_docs": [], "doc_first": [], "doc_bytes": [], "tf_bytes": [],
         "dl_bytes": [], "pos_bytes": []}
    )
    got = codec.decode_batch(frame, tf=True, dl=True, positions=True)
    assert all(v.size == 0 for v in got.values())
