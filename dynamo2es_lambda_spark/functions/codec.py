"""Posting-list compression: delta + varbyte, fixed-size blocks w/ block-max.

The reference stores documents in Elasticsearch, whose Lucene segments keep
delta-encoded, block-compressed postings; the engine builds the same structure
from scratch (BASELINE.json north_star: "delta-encoded, varbyte-compressed
docID+tf blocks with block-max metadata").

All encode/decode paths are numpy-vectorized (no per-element Python loops —
the only loops are over the ≤10 varbyte byte-groups).

Wire format per block (one term, at most BLOCK_SIZE docs, doc ids ascending):
  doc_bytes: varbyte(gaps) with gaps[0] = 0 and gaps[i] = doc_ids[i] -
             doc_ids[i-1]; the first doc id is stored absolutely in doc_first,
             so every block decodes on its own.
  tf_bytes:  varbyte(tf - 1)   (tf >= 1 always)
  dl_bytes:  varbyte(dl - 1)   (doclen >= 1 if the doc has this term) — the
             Lucene-norms analog inlined into the block so query scoring
             never joins doc_stats (a per-query shuffle avoided).
Block metadata (stored as plain columns → parquet min/max pruning works):
  n_docs, doc_first, doc_last, max_tf, min_dl

Positional payloads (optional, for phrase queries — Lucene ``.pos`` analog):
  pos_bytes: concatenation, in block doc order, of each doc's varbyte-encoded
             token positions for the term (first position absolute, rest
             delta-coded). Per-doc boundaries are implicit: doc d contributes
             exactly tf(d) values. Null in stores built without positions.

Readers outside this module decode only through :func:`decode_batch`
(``tests/test_codec_containment.py`` enforces it). It takes a frame of block
rows and decodes each payload column in ONE varbyte pass over the
concatenated bytes (a block holds exactly n_docs gap/tf/dl values and tf(d)
positions per doc, so segmented cumsums recover every block's values). Its
output is the per-block :func:`decode_block` output concatenated in frame
row order — it does not sort. Blocks of one term written by several CDC
batches are separate sorted runs, so a term's doc ids are sorted only within
each block; callers that need one sorted list per term sort it themselves
(``plans.search._decode_positional_terms``).
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128


def _varbyte_parts(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(byte array, per-value byte counts) for LSB-first varbyte."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return np.zeros(0, dtype=np.uint8), np.zeros(0, dtype=np.int64)
    # number of 7-bit groups per value
    ngroups = np.ones(v.size, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        ngroups += (tmp > 0).astype(np.int64)
        tmp = tmp >> np.uint64(7)
    starts = np.concatenate(([0], np.cumsum(ngroups)[:-1]))
    out = np.zeros(int(ngroups.sum()), dtype=np.uint8)
    for k in range(int(ngroups.max())):
        mask = ngroups > k
        pos = starts[mask] + k
        grp = ((v[mask] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (ngroups[mask] - 1 > k).astype(np.uint8) << 7
        out[pos] = grp | cont
    return out, ngroups


def varbyte_encode(values: np.ndarray) -> bytes:
    """LSB-first varbyte (protobuf varint layout), vectorized.

    values: non-negative integers (any int dtype).
    """
    return _varbyte_parts(values)[0].tobytes()


def varbyte_encode_grouped(
    values: np.ndarray, group_sizes: np.ndarray
) -> list[bytes]:
    """Encode a flat value array once, slice into per-group byte strings.

    ``group_sizes`` (int, sums to len(values)) delimits consecutive groups.
    One vectorized encode pass; the only loop is the per-group bytes slicing.
    """
    buf, nbytes = _varbyte_parts(values)
    sizes = np.asarray(group_sizes, dtype=np.int64)
    if sizes.size == 0:
        return []
    ends_v = np.cumsum(sizes)
    byte_cum = np.concatenate(([0], np.cumsum(nbytes)))
    byte_ends = byte_cum[ends_v]
    byte_starts = np.concatenate(([0], byte_ends[:-1]))
    raw = buf.tobytes()
    return [raw[s:e] for s, e in zip(byte_starts, byte_ends)]


def segmented_deltas(flat: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Inverse of :func:`segmented_positions`: absolute per-group ascending
    values → deltas with each group's first value absolute."""
    flat = np.asarray(flat, dtype=np.int64)
    counts = np.asarray(counts, dtype=np.int64)
    if flat.size == 0:
        return np.zeros(0, dtype=np.int64)
    d = flat.copy()
    d[1:] = flat[1:] - flat[:-1]
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    d[starts] = flat[starts]
    return d


def segmented_positions(deltas: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Per-group cumsum: decode flat position deltas (first absolute) into
    flat absolute positions, groups delimited by ``counts``."""
    d = np.asarray(deltas, dtype=np.int64)
    counts = np.asarray(counts, dtype=np.int64)
    if d.size == 0:
        return np.zeros(0, dtype=np.int64)
    c = np.cumsum(d)
    ends = np.cumsum(counts)
    base = np.repeat(
        np.concatenate(([0], c[ends[:-1] - 1])), counts
    )
    return c - base


def varbyte_decode(buf: bytes) -> np.ndarray:
    """Inverse of :func:`varbyte_encode` → uint64 array. Vectorized."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    # value index of each byte = count of terminated values strictly before it
    vidx = np.concatenate(([0], np.cumsum(is_last)[:-1]))
    nvals = int(is_last.sum())
    # position of byte within its value
    value_starts = np.concatenate(([0], np.nonzero(is_last)[0][:-1] + 1))
    k = np.arange(b.size, dtype=np.int64) - value_starts[vidx]
    vals = np.zeros(nvals, dtype=np.uint64)
    payload = (b & 0x7F).astype(np.uint64)
    for g in range(int(k.max()) + 1):
        sel = k == g
        vals[vidx[sel]] |= payload[sel] << np.uint64(7 * g)
    return vals


def encode_blocks(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    pos_payloads=None,
) -> list[dict]:
    """Split one term-segment posting list (sorted by doc_id asc) into blocks.

    Returns a list of block dicts with keys: block_id, n_docs, doc_first,
    doc_last, max_tf, min_dl, doc_bytes, tf_bytes, dl_bytes, pos_bytes.

    ``pos_payloads``: optional sequence (len == len(doc_ids)) of per-doc
    pre-encoded position byte strings; concatenated per block into pos_bytes
    (None when positions are not indexed).
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)
    n = doc_ids.size
    blocks: list[dict] = []
    for bi, lo in enumerate(range(0, n, BLOCK_SIZE)):
        hi = min(lo + BLOCK_SIZE, n)
        ids = doc_ids[lo:hi]
        gaps = np.empty(hi - lo, dtype=np.uint64)
        gaps[0] = 0  # first doc stored absolutely in doc_first
        if hi - lo > 1:
            gaps[1:] = np.diff(ids).astype(np.uint64)
        blocks.append(
            {
                "block_id": bi,
                "n_docs": int(hi - lo),
                "doc_first": int(ids[0]),
                "doc_last": int(ids[-1]),
                "max_tf": int(tfs[lo:hi].max()),
                "min_dl": int(dls[lo:hi].min()),
                "doc_bytes": varbyte_encode(gaps),
                "tf_bytes": varbyte_encode(tfs[lo:hi] - 1),
                "dl_bytes": varbyte_encode(dls[lo:hi] - 1),
                "pos_bytes": (
                    None
                    if pos_payloads is None
                    else b"".join(pos_payloads[lo:hi])
                ),
            }
        )
    return blocks


def decode_block(
    doc_first: int, doc_bytes: bytes, tf_bytes: bytes, dl_bytes: bytes
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Block → (doc_ids int64 asc, tfs int64, dls int64)."""
    gaps = varbyte_decode(doc_bytes).astype(np.int64)
    doc_ids = np.cumsum(gaps) + np.int64(doc_first)
    tfs = varbyte_decode(tf_bytes).astype(np.int64) + 1
    dls = varbyte_decode(dl_bytes).astype(np.int64) + 1
    return doc_ids, tfs, dls


def _decode_column(col) -> np.ndarray:
    """Concatenate a column of varbyte strings and decode it in one pass."""
    return varbyte_decode(b"".join(col)).astype(np.int64)


def decode_batch(
    pdf, tf: bool = False, dl: bool = False, positions: bool = False
) -> dict[str, np.ndarray]:
    """Frame of block rows → flat int64 per-posting arrays, in row order.

    ``pdf`` (pandas) needs n_docs, doc_first and doc_bytes, plus tf_bytes /
    dl_bytes / pos_bytes for the payloads asked for (positions also read
    tf_bytes). Returns ``counts`` (per-block n_docs) and ``doc_int``, plus
    ``tf`` and ``dl`` when asked. ``positions=True`` adds ``tf``, the flat
    absolute ``positions`` and per-doc ``pos_starts``: doc i's positions are
    ``positions[pos_starts[i] : pos_starts[i] + tf[i]]``, ascending. A block
    whose pos_bytes is null owns no positions.
    """
    counts = pdf["n_docs"].to_numpy(np.int64)
    gaps = _decode_column(pdf["doc_bytes"])
    gaps[np.cumsum(counts) - counts] += pdf["doc_first"].to_numpy(np.int64)
    out = {"counts": counts, "doc_int": segmented_positions(gaps, counts)}
    if tf or positions:
        out["tf"] = _decode_column(pdf["tf_bytes"]) + 1
    if dl:
        out["dl"] = _decode_column(pdf["dl_bytes"]) + 1
    if positions:
        has = pdf["pos_bytes"].notna().to_numpy()
        lens = np.where(np.repeat(has, counts), out["tf"], 0)
        out["positions"] = segmented_positions(
            _decode_column(pdf["pos_bytes"][has]), lens[lens > 0]
        )
        out["pos_starts"] = np.cumsum(lens) - lens
    return out
