"""Delta-gap + varint posting-block codec (numpy-vectorized).

The on-disk inverted-index format (index format v1, SURVEY.md §4.2): per
(term, field) the docid-ascending posting list is cut into blocks of
``BLOCK_SIZE`` postings; each block stores

- ``docids``    delta-gapped (first absolute, then gaps) varint bytes
- ``tfs``       varint bytes
- ``doclens``   varint bytes (needed by BM25/Indri scoring without a join)
- ``max_tf``, ``min_doclen``, ``min_docid``, ``max_docid`` — the block-max
  metadata driving query-time block pruning (block-max WAND/MaxScore):
  BM25's tf-weight is increasing in tf and decreasing in doclen, so
  ``ub_tfw = max_tf / (max_tf + k1((1-b) + b·min_doclen/avgdl))`` bounds every
  posting in the block for ANY (k1, b) at query time.

Positions are stored as a single varint stream of within-doc delta gaps with a
per-posting ``tf``-length prefix implicit from ``tfs`` (positions of one doc
are delta-gapped against each other, first absolute).

Varint = LEB128 (7 data bits/byte, high bit = continue) — the classic
Lucene/protobuf encoding, re-implemented here from the public definition.
Encode/decode are numpy-vectorized (no per-int Python in the hot path).
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 1024


# --------------------------------------------------------------------------
# varint (LEB128) — vectorized
# --------------------------------------------------------------------------


def varint_lengths(v: np.ndarray) -> np.ndarray:
    """Per-value LEB128 byte count (at least 1) — exact integer thresholds,
    no float log2 (which misfires at exact powers of two). Early-exits at the
    max value's width: tf/gap streams are mostly 1-byte, so this is one pass,
    not nine."""
    v = np.asarray(v, dtype=np.uint64)
    nbytes = np.ones(v.size, dtype=np.int64)
    if v.size == 0:
        return nbytes
    mx = int(v.max())
    k = 1
    while k < 10 and mx >= (1 << (7 * k)):
        nbytes += (v >= (np.uint64(1) << np.uint64(7 * k))).astype(np.int64)
        k += 1
    return nbytes


def varint_encode(values: np.ndarray) -> bytes:
    """uint64 array -> LEB128 byte stream, vectorized."""
    raw = np.asarray(values)
    # sign check BEFORE the uint64 cast — a negative int64 would otherwise
    # silently wrap to a huge uint64 and encode garbage
    if raw.size and np.issubdtype(raw.dtype, np.signedinteger) and int(raw.min()) < 0:
        raise ValueError("varint_encode requires non-negative values")
    v = raw.astype(np.uint64)
    if v.size == 0:
        return b""
    if int(v.max()) < 0x80:  # all single-byte: the common stream fast path
        return v.astype(np.uint8).tobytes()
    nbytes = varint_lengths(v)
    total = int(nbytes.sum())
    out = np.zeros(total, dtype=np.uint8)
    # byte offsets of each value's first byte
    starts = np.concatenate(([0], np.cumsum(nbytes)[:-1]))
    max_b = int(nbytes.max())
    rem = v.copy()
    for b in range(max_b):
        mask = nbytes > b  # values still emitting bytes
        idx = starts[mask] + b
        chunk = (rem[mask] & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[mask] > (b + 1)).astype(np.uint8) << 7
        out[idx] = chunk | cont
        rem[mask] = rem[mask] >> np.uint64(7)
    return out.tobytes()


def varint_decode(buf: bytes, count: int | None = None) -> np.ndarray:
    """LEB128 byte stream -> uint64 array, vectorized."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    ends = np.flatnonzero(is_last)
    starts = np.concatenate(([0], ends[:-1] + 1))
    n = ends.size
    if count is not None and n != count:
        raise ValueError(f"expected {count} varints, found {n}")
    data = (b & 0x7F).astype(np.uint64)
    # positional shift of each byte within its value
    pos_in_val = np.arange(b.size, dtype=np.int64)
    pos_in_val -= np.repeat(starts, ends - starts + 1)
    shifted = data << (np.uint64(7) * pos_in_val.astype(np.uint64))
    # sum per value via reduceat
    return np.add.reduceat(shifted, starts)


# --------------------------------------------------------------------------
# delta-gap helpers
# --------------------------------------------------------------------------


def delta_encode(sorted_vals: np.ndarray) -> np.ndarray:
    """ascending int array -> [first, gap, gap, ...]."""
    v = np.asarray(sorted_vals, dtype=np.int64)
    if v.size == 0:
        return v.astype(np.uint64)
    out = np.empty_like(v)
    out[0] = v[0]
    np.subtract(v[1:], v[:-1], out=out[1:])
    if v.size > 1 and int(out[1:].min()) < 0:
        raise ValueError("delta_encode requires ascending input")
    return out.astype(np.uint64)


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    return np.cumsum(np.asarray(gaps, dtype=np.uint64)).astype(np.int64)


def positions_encode(pos_lists: list) -> bytes:
    """list of ascending position arrays -> one varint stream (per doc:
    first absolute, then gaps). Lengths are implied by the block's tfs."""
    if not pos_lists:
        return b""
    chunks = [delta_encode(np.asarray(p, dtype=np.int64)) for p in pos_lists]
    return varint_encode(np.concatenate(chunks) if chunks else np.zeros(0, np.uint64))


def positions_encode_flat(flat: np.ndarray, lengths: np.ndarray) -> bytes:
    """Vectorized twin of positions_encode over a FLAT position array with
    per-posting lengths: delta-gap within each run (first absolute), one
    varint stream. Bitwise-identical output to positions_encode."""
    flat = np.asarray(flat, dtype=np.int64)
    lengths = np.asarray(lengths, dtype=np.int64)
    if flat.size == 0:
        return b""
    d = flat.copy()
    d[1:] -= flat[:-1]
    starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    starts = starts[lengths > 0]
    d[starts] = flat[starts]
    if int(d.min()) < 0:
        raise ValueError("positions must be ascending within each run")
    return varint_encode(d.astype(np.uint64))


def positions_pack_flat(flat: np.ndarray, lengths: np.ndarray) -> tuple[bytes, np.ndarray]:
    """(varint stream, per-posting byte lengths) for a FLAT position array
    with per-posting run lengths — one bulk encode; byte-identical to
    concatenating ``positions_encode_flat`` per posting."""
    flat = np.asarray(flat, dtype=np.int64)
    lengths = np.asarray(lengths, dtype=np.int64)
    if flat.size == 0:
        return b"", np.zeros(lengths.size, dtype=np.int64)
    d = flat.copy()
    d[1:] -= flat[:-1]
    starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    starts = starts[lengths > 0]
    d[starts] = flat[starts]
    if int(d.min()) < 0:
        raise ValueError("positions must be ascending within each run")
    data, off = _encode_with_offsets(d.astype(np.uint64))
    ends = np.cumsum(lengths)
    byte_lens = off[ends] - off[np.concatenate(([0], ends[:-1]))]
    return data, byte_lens.astype(np.int64)


def positions_byte_lengths(buf: bytes, tfs: np.ndarray) -> np.ndarray:
    """Per-POSTING byte lengths of a positions varint stream (posting i has
    tfs[i] values) WITHOUT decoding values: LEB128 value boundaries are the
    bytes with the high bit clear."""
    b = np.frombuffer(buf, dtype=np.uint8)
    tfs = np.asarray(tfs, dtype=np.int64)
    n_vals = int(tfs.sum())
    if n_vals == 0:
        return np.zeros(tfs.size, dtype=np.int64)
    ends = np.flatnonzero((b & 0x80) == 0) + 1  # byte index AFTER each value
    if ends.size != n_vals:
        raise ValueError(f"expected {n_vals} varints, found {ends.size}")
    if not np.all(tfs > 0):
        raise ValueError("postings must have tf >= 1")
    post_ends = ends[np.cumsum(tfs) - 1]  # each posting's last value's end
    return np.diff(np.concatenate(([0], post_ends)))


def positions_decode_flat(buf: bytes, tfs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Positions stream -> (flat int64 positions, offsets [n + 1]): posting
    i's positions are ``flat[offsets[i]:offsets[i + 1]]``. One varint decode
    of the whole stream, then a cumsum that restarts at each posting (the
    running sum minus its value before the posting's first gap; uint64
    wrap-around cancels, so every run equals its own delta decode)."""
    gaps = varint_decode(buf)
    offs = _run_offsets(tfs)
    if offs[-1] != gaps.size:
        raise ValueError("positions stream length mismatch")
    return _run_cumsum(gaps, offs), offs


def _run_offsets(lengths: np.ndarray) -> np.ndarray:
    """[0, cumsum(lengths)]: run i spans ``offs[i]:offs[i + 1]``."""
    offs = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(np.asarray(lengths, dtype=np.int64), out=offs[1:])
    return offs


def _run_cumsum(gaps: np.ndarray, offs: np.ndarray) -> np.ndarray:
    """Delta decode of many runs at once: a cumsum that restarts at each run
    start (the running sum minus its value before the run's first gap)."""
    run = np.concatenate((np.zeros(1, np.uint64), np.cumsum(gaps, dtype=np.uint64)))
    return (run[1:] - np.repeat(run[offs[:-1]], np.diff(offs))).astype(np.int64)


def positions_decode(buf: bytes, tfs: np.ndarray) -> list:
    """Per-posting position arrays: ``positions_decode_flat`` split."""
    flat, offs = positions_decode_flat(buf, tfs)
    return np.split(flat, offs[1:-1]) if len(offs) > 1 else []


# --------------------------------------------------------------------------
# block encode/decode
# --------------------------------------------------------------------------


def varint_encode_with_offsets(stream: np.ndarray) -> tuple[bytes, np.ndarray]:
    """(LEB128 bytes, per-value cumulative byte offsets incl. trailing end).
    Single-byte streams (the common case) skip the length pass entirely."""
    data = varint_encode(stream)
    if len(data) == stream.size:
        off = np.arange(stream.size + 1, dtype=np.int64)
    else:
        off = np.concatenate(([0], np.cumsum(varint_lengths(stream))))
    return data, off


_encode_with_offsets = varint_encode_with_offsets


def encode_blocks(
    docids: np.ndarray,
    tfs: np.ndarray,
    doclens: np.ndarray,
    pos_lists: list | None = None,
    block_size: int = BLOCK_SIZE,
    pos_flat: np.ndarray | None = None,
    pos_packed: tuple | None = None,
) -> list[dict]:
    """One (term, field) posting list -> list of block dicts:
    {block_id, n, min_docid, max_docid, max_tf, min_doclen,
     docids:bytes, tfs:bytes, doclens:bytes, positions:bytes}.

    Bulk-encoded: each stream (docid gaps / tfs / doclens / position gaps)
    is varint-encoded in ONE vectorized pass over the whole posting list and
    sliced per block by cumulative byte offsets — bit-identical to per-block
    encoding (LEB128 is per-value; docid gaps restart absolute at each block
    start, position gaps restart absolute at each posting). The per-block
    formulation made ~4 small numpy calls per 1024 postings, and that call
    overhead dominated the merge stage at 100k files (r01: ~46k calls)."""
    docids = np.asarray(docids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    doclens = np.asarray(doclens, dtype=np.int64)
    n = docids.size
    if not (n == tfs.size == doclens.size):
        raise ValueError("parallel arrays required")
    if n == 0:
        return []
    if n > 1 and not np.all(np.diff(docids) > 0):
        raise ValueError("docids must be strictly ascending")
    if pos_flat is None and pos_lists is not None:
        pos_flat = (
            np.concatenate([np.asarray(p, dtype=np.int64) for p in pos_lists])
            if pos_lists
            else np.zeros(0, dtype=np.int64)
        )

    bstarts = np.arange(0, n, block_size, dtype=np.int64)
    bends = np.minimum(bstarts + block_size, n)

    # docid stream: delta-gapped, absolute value restarting at each block
    gaps = np.empty(n, dtype=np.int64)
    gaps[0] = docids[0]
    np.subtract(docids[1:], docids[:-1], out=gaps[1:])
    gaps[bstarts] = docids[bstarts]
    d_stream = gaps.astype(np.uint64)
    t_stream = tfs.astype(np.uint64)
    l_stream = doclens.astype(np.uint64)
    d_bytes, d_off = _encode_with_offsets(d_stream)
    t_bytes, t_off = _encode_with_offsets(t_stream)
    l_bytes, l_off = _encode_with_offsets(l_stream)

    if pos_packed is not None:
        # positions arrive ALREADY varint-encoded (per-posting delta runs —
        # the segment-pass packing is bit-identical to what this function
        # would produce, so the stream passes through untouched and is only
        # SLICED at block boundaries by per-posting byte offsets)
        p_bytes, p_lens = pos_packed
        p_bytes = bytes(p_bytes)
        p_post_off = np.concatenate(([0], np.cumsum(np.asarray(p_lens, np.int64))))
        blocks = []
        d_meta = _block_meta(docids, tfs, doclens, bstarts, bends)
        for bi in range(bstarts.size):
            a, b = int(bstarts[bi]), int(bends[bi])
            blk = d_meta[bi]
            blk["docids"] = d_bytes[int(d_off[a]) : int(d_off[b])]
            blk["tfs"] = t_bytes[int(t_off[a]) : int(t_off[b])]
            blk["doclens"] = l_bytes[int(l_off[a]) : int(l_off[b])]
            blk["positions"] = p_bytes[int(p_post_off[a]) : int(p_post_off[b])]
            blocks.append(blk)
        return blocks

    if pos_flat is not None and pos_flat.size:
        pos_flat = np.asarray(pos_flat, dtype=np.int64)
        # per-posting delta gaps (first absolute per posting run)
        pg = pos_flat.copy()
        pg[1:] -= pos_flat[:-1]
        p_starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
        p_starts = p_starts[tfs > 0]
        pg[p_starts] = pos_flat[p_starts]
        if int(pg.min()) < 0:
            raise ValueError("positions must be ascending within each run")
        p_stream = pg.astype(np.uint64)
        p_bytes, p_off = _encode_with_offsets(p_stream)
        pos_ends = np.cumsum(tfs)  # value index of each posting's end
        blk_p_lo = np.where(bstarts == 0, 0, pos_ends[bstarts - 1])
        blk_p_hi = pos_ends[bends - 1]
    else:
        p_bytes = b""
        blk_p_lo = blk_p_hi = np.zeros(bstarts.size, dtype=np.int64)
        p_off = np.zeros(1, dtype=np.int64)

    blocks = []
    d_meta = _block_meta(docids, tfs, doclens, bstarts, bends)
    for bi in range(bstarts.size):
        a, b = int(bstarts[bi]), int(bends[bi])
        blk = d_meta[bi]
        blk["docids"] = d_bytes[int(d_off[a]) : int(d_off[b])]
        blk["tfs"] = t_bytes[int(t_off[a]) : int(t_off[b])]
        blk["doclens"] = l_bytes[int(l_off[a]) : int(l_off[b])]
        blk["positions"] = p_bytes[
            int(p_off[int(blk_p_lo[bi])]) : int(p_off[int(blk_p_hi[bi])])
        ]
        blocks.append(blk)
    return blocks


def _block_meta(docids, tfs, doclens, bstarts, bends) -> list[dict]:
    max_tf = np.maximum.reduceat(tfs, bstarts)
    min_dl = np.minimum.reduceat(doclens, bstarts)
    return [
        {
            "block_id": bi,
            "n": int(bends[bi] - bstarts[bi]),
            "min_docid": int(docids[int(bstarts[bi])]),
            "max_docid": int(docids[int(bends[bi]) - 1]),
            "max_tf": int(max_tf[bi]),
            "min_doclen": int(min_dl[bi]),
        }
        for bi in range(bstarts.size)
    ]


def decode_blocks_flat(n, docids, tfs, doclens, positions=None):
    """Many blocks in one pass: ``n`` holds their posting counts and each
    stream is the blocks' byte strings concatenated in the same order (e.g.
    ``persist._binary_flat`` of a column). Returns flat (docids, tfs,
    doclens, positions or None); block i's postings are the i-th run of
    n[i], posting j's positions the j-th run of tfs[j]. One varint decode
    per stream and a docid delta decode that restarts at every block —
    equal to ``decode_block`` per block, concatenated."""
    offs = _run_offsets(n)
    total = int(offs[-1])
    docid = _run_cumsum(varint_decode(docids, total), offs)
    tf = varint_decode(tfs, total).astype(np.int64)
    doclen = varint_decode(doclens, total).astype(np.int64)
    pos = None if positions is None else positions_decode_flat(positions, tf)[0]
    return docid, tf, doclen, pos


def decode_block(block: dict, with_positions: bool = False):
    """block dict -> (docids, tfs, doclens[, pos_lists])."""
    n = block["n"]
    docids = delta_decode(varint_decode(block["docids"], n))
    tfs = varint_decode(block["tfs"], n).astype(np.int64)
    doclens = varint_decode(block["doclens"], n).astype(np.int64)
    if with_positions:
        return docids, tfs, doclens, positions_decode(block["positions"], tfs)
    return docids, tfs, doclens
