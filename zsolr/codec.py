"""Posting-block codec: delta-encoded docID gaps + term frequencies,
varint- or bitpack-compressed, in fixed-size blocks carrying block-max
metadata (SURVEY.md §2.1 I6; BASELINE.json north_star: "per-partition sorted
posting lists (term -> delta-encoded docID gaps + term frequencies,
varint/PForDelta-compressed)").

Everything here is vectorized numpy — these functions run inside Arrow
kernels (the build's ``mapInArrow`` encode and the query kernels) on
executors, so per-element Python loops are forbidden (BASELINE.json
input_hint: "no per-row Python"), and so are per-group numpy calls: the
build encodes a whole Arrow batch of posting lists in one
:func:`encode_segments` call, and small lists make per-call overhead
dominate.  Per-block Python work is limited to slicing output blobs.

Blob wire format: 1 codec-id byte (0x01 varint / 0x02 bitpack) + payload.
Bitpack payload: u8 width, u32le count, little-endian bit-packed values.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

from . import BLOCK_SIZE

CODEC_VARINT = 0x01
CODEC_BITPACK = 0x02
CODEC_PFOR = 0x03


# ---------------------------------------------------------------- varint ---

def _varint_encode_sized(vals: np.ndarray):
    """LEB128-encode a uint64 array, vectorized.  Returns (bytes, per-value
    byte counts) so callers can split the stream at value boundaries."""
    vals = np.ascontiguousarray(vals, dtype=np.uint64)
    n = len(vals)
    if n == 0:
        return b"", np.empty(0, dtype=np.int64)
    # bytes needed per value: ceil(bitlen/7), bitlen(0) treated as 1.
    # Exact bit length via 6 whole-array shift passes (float log2 is
    # unsafe near 2^53).
    bitlen = np.zeros(n, dtype=np.int64)
    tmp = vals.copy()
    for shift in (32, 16, 8, 4, 2, 1):  # 6 iterations, each whole-array
        mask = tmp >= (np.uint64(1) << np.uint64(shift))
        bitlen[mask] += shift
        tmp[mask] >>= np.uint64(shift)
    bitlen += 1  # tmp is now 0 or 1; values 0/1 both need 1 bit
    nbytes = (bitlen + 6) // 7
    maxb = int(nbytes.max())
    # 7-bit groups, little-endian
    shifts = (np.arange(maxb, dtype=np.uint64) * np.uint64(7))
    groups = (vals[:, None] >> shifts[None, :]) & np.uint64(0x7F)
    groups = groups.astype(np.uint8)
    byte_idx = np.arange(maxb)[None, :]
    used = byte_idx < nbytes[:, None]
    cont = byte_idx < (nbytes[:, None] - 1)
    groups[cont] |= 0x80
    return groups[used].tobytes(), nbytes


def _varint_encode(vals: np.ndarray) -> bytes:
    return _varint_encode_sized(vals)[0]


def _varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes → uint64 array, vectorized via reduceat."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if len(b) == 0:
        return np.empty(0, dtype=np.uint64)
    ends = np.nonzero(b < 0x80)[0]
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    value_id = np.zeros(len(b), dtype=np.int64)
    value_id[ends[:-1] + 1] = 1
    value_id = np.cumsum(value_id)
    offs = np.arange(len(b), dtype=np.uint64) - starts[value_id].astype(np.uint64)
    contrib = (b & np.uint8(0x7F)).astype(np.uint64) << (offs * np.uint64(7))
    return np.add.reduceat(contrib, starts)


# --------------------------------------------------------------- bitpack ---

def _bitpack_encode(vals: np.ndarray) -> bytes:
    """Frame-of-reference binary packing: fixed bit-width = max bitlen.

    The PForDelta-family fast path (SURVEY.md §2.1 I6 "PForDelta v2"):
    per-block fixed-width packing; block sizes are small (128) so the
    no-exceptions variant stays within ~1 bit/val of patched PFor on
    gap distributions while keeping decode branch-free.
    """
    vals = np.ascontiguousarray(vals, dtype=np.uint64)
    n = len(vals)
    if n == 0:
        return bytes([0]) + np.uint32(0).tobytes()
    mx = int(vals.max())
    width = max(1, mx.bit_length())
    shifts = np.arange(width, dtype=np.uint64)
    bits = ((vals[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.uint8)
    packed = np.packbits(bits.reshape(-1), bitorder="little")
    return bytes([width]) + np.uint32(n).tobytes() + packed.tobytes()


def _bitpack_decode(buf: bytes) -> np.ndarray:
    width = buf[0]
    n = int(np.frombuffer(buf[1:5], dtype=np.uint32)[0])
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    bits = np.unpackbits(np.frombuffer(buf[5:], dtype=np.uint8), bitorder="little")
    bits = bits[: n * width].reshape(n, width).astype(np.uint64)
    shifts = np.arange(width, dtype=np.uint64)
    return (bits << shifts[None, :]).sum(axis=1, dtype=np.uint64)


# ------------------------------------------------------------ patched PFor --

def _pack_width(vals: np.ndarray, width: int) -> bytes:
    bits = ((vals[:, None] >> np.arange(width, dtype=np.uint64)[None, :])
            & np.uint64(1)).astype(np.uint8)
    return np.packbits(bits.reshape(-1), bitorder="little").tobytes()


def _unpack_width(buf: bytes, n: int, width: int) -> np.ndarray:
    bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8),
                         bitorder="little")
    bits = bits[: n * width].reshape(n, width).astype(np.uint64)
    return (bits << np.arange(width, dtype=np.uint64)[None, :]).sum(
        axis=1, dtype=np.uint64)


def _bitlens(vals: np.ndarray) -> np.ndarray:
    """Exact bit length per value (0 → 1), whole-array shift passes."""
    bitlen = np.zeros(len(vals), dtype=np.int64)
    tmp = vals.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        mask = tmp >= (np.uint64(1) << np.uint64(shift))
        bitlen[mask] += shift
        tmp[mask] >>= np.uint64(shift)
    return bitlen + 1


def _pfor_encode(vals: np.ndarray) -> bytes:
    """Patched PForDelta (SURVEY.md I6 v2): fixed base width covering ~90%
    of values; outliers store their low ``width`` bits in-line and their
    positions + high bits as varint exception streams.  Wire:
    u8 width | u32le n | u32le n_exc | u32le pos_nbytes
    | packed lows (ceil(n·width/8) bytes) | varint pos deltas | varint highs
    """
    vals = np.ascontiguousarray(vals, dtype=np.uint64)
    n = len(vals)
    if n == 0:
        return bytes([0]) + np.uint32(0).tobytes() * 3
    bl = _bitlens(vals)
    # 90th-percentile width via explicit linear interpolation between the
    # floor/ceil order statistics — the exact formula _pfor_encode_blocked
    # replicates from histograms, so blocked == per-block byte-identically
    s = np.sort(bl)
    p = 0.9 * (n - 1)
    lo_s, hi_s = int(s[int(np.floor(p))]), int(s[int(np.ceil(p))])
    width = max(1, int(lo_s + (p - np.floor(p)) * (hi_s - lo_s)))
    exc = np.nonzero(bl > width)[0]
    if len(exc) > n // 2:  # degenerate distribution — no patching wins
        width = int(bl.max())
        exc = np.nonzero(bl > width)[0]
    lows = vals & ((np.uint64(1) << np.uint64(width)) - np.uint64(1)) \
        if width < 64 else vals
    packed = _pack_width(lows, width)
    pos_deltas = np.diff(exc, prepend=np.int64(0)).astype(np.uint64) \
        if len(exc) else np.empty(0, dtype=np.uint64)
    pos_blob = _varint_encode(pos_deltas)
    highs = (vals[exc] >> np.uint64(width)) if len(exc) \
        else np.empty(0, dtype=np.uint64)
    high_blob = _varint_encode(highs)
    return (bytes([width]) + np.uint32(n).tobytes()
            + np.uint32(len(exc)).tobytes()
            + np.uint32(len(pos_blob)).tobytes()
            + packed + pos_blob + high_blob)


def _pfor_decode(buf: bytes) -> np.ndarray:
    width = buf[0]
    n = int(np.frombuffer(buf[1:5], dtype=np.uint32)[0])
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    n_exc = int(np.frombuffer(buf[5:9], dtype=np.uint32)[0])
    pos_nbytes = int(np.frombuffer(buf[9:13], dtype=np.uint32)[0])
    low_nbytes = (n * width + 7) // 8
    off = 13
    vals = _unpack_width(buf[off:off + low_nbytes], n, width)
    off += low_nbytes
    if n_exc:
        pos = np.cumsum(
            _varint_decode(buf[off:off + pos_nbytes]).astype(np.int64))
        highs = _varint_decode(buf[off + pos_nbytes:])
        vals[pos] |= highs << np.uint64(width)
    return vals


# ------------------------------------------------------------- public API ---

def encode_u64(vals: np.ndarray, codec: int = CODEC_VARINT) -> bytes:
    if codec == CODEC_VARINT:
        return bytes([CODEC_VARINT]) + _varint_encode(vals)
    if codec == CODEC_BITPACK:
        return bytes([CODEC_BITPACK]) + _bitpack_encode(vals)
    if codec == CODEC_PFOR:
        return bytes([CODEC_PFOR]) + _pfor_encode(
            np.ascontiguousarray(vals, dtype=np.uint64))
    raise ValueError(f"unknown codec {codec}")


def decode_u64(buf: bytes) -> np.ndarray:
    codec = buf[0]
    if codec == CODEC_VARINT:
        return _varint_decode(buf[1:])
    if codec == CODEC_BITPACK:
        return _bitpack_decode(buf[1:])
    if codec == CODEC_PFOR:
        return _pfor_decode(buf[1:])
    raise ValueError(f"unknown codec byte {codec}")


def _block_layout(n: int, starts: np.ndarray):
    """Per-block lengths, per-value block id and per-value offset inside
    its block, for ``n`` values split at ``starts`` (empty blocks allowed)."""
    lens = np.diff(starts, append=np.int64(n))
    block_id = np.repeat(np.arange(len(starts), dtype=np.int64), lens)
    local_idx = np.arange(n, dtype=np.int64) - starts[block_id]
    return lens, block_id, local_idx


def _pack_blocks(vals: np.ndarray, block_id: np.ndarray,
                 local_idx: np.ndarray, lens: np.ndarray, width: np.ndarray):
    """Pack each block's values at its own bit width into one byte-aligned
    little-endian bit arena, so one ``packbits`` yields every block's
    packed stream.  One whole-array pass per bit plane (≤ 64).  Returns
    (packed bytes, per-block byte offset, per-block byte count)."""
    block_bytes = (lens * width + 7) // 8
    byte_base = np.zeros(len(lens), dtype=np.int64)
    byte_base[1:] = np.cumsum(block_bytes)[:-1]
    w_per_val = width[block_id]
    bit_base = byte_base[block_id] * 8 + local_idx * w_per_val
    arena = np.zeros(int(block_bytes.sum()) * 8, dtype=np.uint8)
    for k in range(int(width.max()) if len(width) else 0):
        m = w_per_val > k
        arena[bit_base[m] + k] = (vals[m] >> np.uint64(k)) & np.uint64(1)
    return (np.packbits(arena, bitorder="little").tobytes(),
            byte_base, block_bytes)


def _byte_bounds(sizes: np.ndarray, counts: np.ndarray):
    """[start, end) byte offsets of consecutive runs of ``counts`` values
    in a stream whose values take ``sizes`` bytes each — as Python int
    lists, ready for slicing."""
    csum = np.zeros(len(sizes) + 1, dtype=np.int64)
    np.cumsum(sizes, out=csum[1:])
    vb = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=vb[1:])
    b = csum[vb]
    return b[:-1].tolist(), b[1:].tolist()


def _block_headers(codec_id: int, width: np.ndarray, *u32_cols) -> list[bytes]:
    """Per-block ``codec byte | u8 width | u32le …`` headers, built as one
    array and sliced."""
    nb = len(width)
    hdr = np.empty((nb, 2 + 4 * len(u32_cols)), dtype=np.uint8)
    hdr[:, 0] = codec_id
    hdr[:, 1] = width
    for j, col in enumerate(u32_cols):
        hdr[:, 2 + 4 * j:6 + 4 * j] = np.ascontiguousarray(
            col, dtype="<u4").view(np.uint8).reshape(nb, 4)
    flat, w = hdr.tobytes(), hdr.shape[1]
    return [flat[i:i + w] for i in range(0, nb * w, w)]


def _bitpack_encode_blocked(vals: np.ndarray,
                            starts: np.ndarray) -> list[bytes]:
    """Multi-block bitpack encode, byte-identical to per-block
    :func:`encode_u64` (width = max bit length, 0 for an empty block)."""
    n = len(vals)
    lens, block_id, local_idx = _block_layout(n, starts)
    width = np.zeros(len(starts), dtype=np.int64)
    live = lens > 0
    if n:
        width[live] = np.maximum.reduceat(_bitlens(vals), starts[live])
    packed, base, nbytes = _pack_blocks(vals, block_id, local_idx, lens,
                                        width)
    hdrs = _block_headers(CODEC_BITPACK, width, lens)
    return [h + packed[b:b + k]
            for h, b, k in zip(hdrs, base.tolist(), nbytes.tolist())]


def _pfor_encode_blocked(vals: np.ndarray, starts: np.ndarray) -> list[bytes]:
    """Vectorized multi-block patched-PFor encode: byte-identical to
    per-block :func:`_pfor_encode` (an empty block gets the canonical
    width-0 blob), but every numpy pass runs over the WHOLE array —
    per-block work is only slicing/joining.

    Per-block widths replicate the percentile interpolation between the
    floor/ceil order statistics, read from one segmented sort of the
    bit lengths (memory O(n), not O(blocks × 64)); low bits go through
    :func:`_pack_blocks`; exception positions/highs ride two whole-array
    varint passes split at block boundaries."""
    n = len(vals)
    nb = len(starts)
    if n == 0:
        return [bytes([CODEC_PFOR, 0]) + np.uint32(0).tobytes() * 3] * nb
    lens, block_id, local_idx = _block_layout(n, starts)
    live = lens > 0
    bl = _bitlens(vals)                     # 1..64 per value
    # bit lengths sorted within each block (block_id is the major key, so
    # blocks keep their places) → order statistics by direct indexing
    sbl = np.sort(block_id * 128 + bl, kind="stable") & 127

    def stat(rank):
        return sbl[np.where(live, starts + rank, 0)]

    p = 0.9 * (lens - 1)
    lo_rank = np.floor(p).astype(np.int64)
    hi_rank = np.ceil(p).astype(np.int64)
    lo_stat, hi_stat = stat(lo_rank), stat(hi_rank)
    frac = p - lo_rank
    width = np.where(live, np.maximum(
        1, (lo_stat + frac * (hi_stat - lo_stat)).astype(np.int64)), 0)

    # degenerate blocks (> n/2 exceptions): full width, no patching
    exc_mask = bl > width[block_id]
    n_exc = np.bincount(block_id[exc_mask], minlength=nb)
    degen = n_exc > lens // 2
    if degen.any():
        width = np.where(degen, stat(lens - 1), width)
        exc_mask = bl > width[block_id]
        n_exc = np.bincount(block_id[exc_mask], minlength=nb)

    packed, base, nbytes = _pack_blocks(vals, block_id, local_idx, lens,
                                        width)

    # exception streams: whole-array varint passes, split per block
    exc_idx = np.nonzero(exc_mask)[0]
    exc_local = local_idx[exc_idx]
    first_of_block = np.ones(len(exc_idx), dtype=bool)
    first_of_block[1:] = block_id[exc_idx][1:] != block_id[exc_idx][:-1]
    prev_local = np.zeros(len(exc_idx), dtype=np.int64)
    prev_local[1:] = exc_local[:-1]
    pos_deltas = np.where(first_of_block, exc_local,
                          exc_local - prev_local).astype(np.uint64)
    pos_stream, pos_sizes = _varint_encode_sized(pos_deltas)
    highs = vals[exc_idx] >> width[block_id[exc_idx]].astype(np.uint64)
    high_stream, high_sizes = _varint_encode_sized(highs)
    ps, pe = _byte_bounds(pos_sizes, n_exc)
    hs, he = _byte_bounds(high_sizes, n_exc)
    pos_nbytes = np.subtract(pe, ps, dtype=np.int64)
    hdrs = _block_headers(CODEC_PFOR, width, lens, n_exc, pos_nbytes)
    return [h + packed[b:b + k] + pos_stream[p0:p1] + high_stream[h0:h1]
            for h, b, k, p0, p1, h0, h1 in zip(
                hdrs, base.tolist(), nbytes.tolist(), ps, pe, hs, he)]


def encode_u64_blocked(vals: np.ndarray, starts: np.ndarray,
                       codec: int = CODEC_VARINT) -> list[bytes]:
    """Encode ``vals`` split at ``starts`` (ascending block start offsets;
    empty blocks allowed) → one blob per block, each byte-identical to
    :func:`encode_u64` of that block.  Every codec runs whole-array passes
    then a byte-offset split — per-block numpy-call overhead (which
    dominates at small blocks) is gone."""
    vals = np.ascontiguousarray(vals, dtype=np.uint64)
    starts = np.ascontiguousarray(starts, dtype=np.int64)
    if codec == CODEC_VARINT:
        prefix = bytes([CODEC_VARINT])
        stream, sizes = _varint_encode_sized(vals)
        bs, be = _byte_bounds(sizes, np.diff(starts, append=len(vals)))
        return [prefix + stream[s:e] for s, e in zip(bs, be)]
    if codec == CODEC_PFOR:
        return _pfor_encode_blocked(vals, starts)
    if codec == CODEC_BITPACK:
        return _bitpack_encode_blocked(vals, starts)
    raise ValueError(f"unknown codec {codec}")


class EncodedBlocks(NamedTuple):
    """Parallel per-block columns from :func:`encode_segments`."""
    group: np.ndarray          # index of the segment each block belongs to
    first_doc: np.ndarray
    last_doc: np.ndarray
    n_docs: np.ndarray
    doc_gaps: list[bytes]
    tfs: list[bytes]
    positions: list[bytes] | None
    block_max_tf: np.ndarray


def _segment_block_starts(doc_ids: np.ndarray, seg_id: np.ndarray,
                          block_size: int,
                          align_width: int | None) -> np.ndarray:
    """Block start offsets over concatenated sorted posting lists: a run
    starts at every segment start and (with ``align_width``) at every
    ``doc_id DIV align_width`` change; a block starts every
    ``block_size`` postings inside a run."""
    n = len(doc_ids)
    brk = np.ones(n, dtype=bool)
    brk[1:] = seg_id[1:] != seg_id[:-1]
    if align_width and n:
        shard = doc_ids // align_width
        brk[1:] |= shard[1:] != shard[:-1]
    idx = np.arange(n, dtype=np.int64)
    run_start = np.maximum.accumulate(np.where(brk, idx, 0)) if n else idx
    return np.nonzero((idx - run_start) % block_size == 0)[0]


def _gather_runs(vals: np.ndarray, offs: np.ndarray, order: np.ndarray):
    """Reorder the variable-length runs ``vals[offs[i]:offs[i+1]]`` by
    ``order`` → (values, offsets)."""
    lens = np.diff(offs)[order]
    new_offs = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=new_offs[1:])
    within = np.arange(new_offs[-1], dtype=np.int64) \
        - np.repeat(new_offs[:-1], lens)
    return vals[np.repeat(offs[:-1][order], lens) + within], new_offs


def encode_segments(doc_ids: np.ndarray, tfs: np.ndarray,
                    seg_offsets: np.ndarray,
                    positions: np.ndarray | None = None,
                    pos_offsets: np.ndarray | None = None,
                    block_size: int = BLOCK_SIZE,
                    codec: int = CODEC_VARINT,
                    align_width: int | None = None) -> EncodedBlocks:
    """Encode many posting lists at once — the build's encode kernel.

    ``doc_ids``/``tfs`` hold the postings of every segment (a (term, salt)
    sub-list) back to back, segment ``i`` at
    ``seg_offsets[i]:seg_offsets[i+1]``; ``positions`` holds every
    posting's token positions back to back, posting ``j``'s at
    ``pos_offsets[j]:pos_offsets[j+1]``.  Postings should arrive with
    ascending docIDs inside each segment; if any do not, one stable
    lexsort by (segment, doc_id) restores it.

    Blocks never span a segment (nor, with ``align_width``, a docID
    shard) and hold ≤ ``block_size`` postings.  Gaps restart at 0 in each
    block, so blocks are self-contained (absolute ``first_doc``; decode is
    ``first_doc + cumsum(gaps)``) and salted sub-lists with disjoint docID
    ranges concatenate without re-encoding (SURVEY.md I11/R6).  Positions
    are delta-encoded within each doc.  A fixed number of whole-array
    passes regardless of the segment count."""
    d = np.ascontiguousarray(doc_ids, dtype=np.int64)
    t = np.ascontiguousarray(tfs, dtype=np.int64)
    seg_offsets = np.asarray(seg_offsets, dtype=np.int64)
    seg_id = np.repeat(np.arange(len(seg_offsets) - 1, dtype=np.int64),
                       np.diff(seg_offsets))
    if positions is not None:
        positions = np.asarray(positions, dtype=np.int64)
        pos_offsets = np.asarray(pos_offsets, dtype=np.int64)
    if len(d) > 1 and ((d[1:] <= d[:-1]) & (seg_id[1:] == seg_id[:-1])).any():
        order = np.lexsort((d, seg_id))
        d, t = d[order], t[order]
        if positions is not None:
            positions, pos_offsets = _gather_runs(positions, pos_offsets,
                                                  order)
    starts = _segment_block_starts(d, seg_id, block_size, align_width)
    ends = np.append(starts[1:], np.int64(len(d)))
    gaps = np.zeros(len(d), dtype=np.uint64)
    np.subtract(d[1:], d[:-1], out=gaps[1:], casting="unsafe")
    gaps[starts] = 0
    pos_blobs = None
    if positions is not None:
        deltas = np.empty(len(positions), dtype=np.uint64)
        if len(positions):
            deltas[0] = positions[0]
            np.subtract(positions[1:], positions[:-1], out=deltas[1:],
                        casting="unsafe")
            doc_starts = pos_offsets[:-1][pos_offsets[:-1] < len(positions)]
            deltas[doc_starts] = positions[doc_starts]
        pos_blobs = encode_u64_blocked(deltas, pos_offsets[starts], codec)
    return EncodedBlocks(
        group=seg_id[starts], first_doc=d[starts], last_doc=d[ends - 1],
        n_docs=ends - starts,
        doc_gaps=encode_u64_blocked(gaps, starts, codec),
        tfs=encode_u64_blocked(t, starts, codec),
        positions=pos_blobs,
        block_max_tf=(np.maximum.reduceat(t, starts) if len(starts)
                      else np.empty(0, dtype=np.int64)))


def block_starts(doc_ids: np.ndarray, block_size: int = BLOCK_SIZE,
                 align_width: int | None = None) -> np.ndarray:
    """Block start offsets for one sorted posting list: every
    ``block_size`` postings AND at every ``doc_id DIV align_width``
    boundary.  Alignment guarantees no block spans a docID shard, so
    query-time block→shard routing is 1:1 instead of replicating sparse
    terms' blocks across every shard their range overlaps (the round-1
    scale-killer: one rare-term block fanning out to ~10^5 shard copies at
    10^12 docs).  The one-segment case of :func:`encode_segments`' split."""
    d = np.asarray(doc_ids, dtype=np.int64)
    return _segment_block_starts(d, np.zeros(len(d), dtype=np.int64),
                                 block_size, align_width)


def encode_blocks(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    block_size: int = BLOCK_SIZE,
    codec: int = CODEC_VARINT,
    starts: np.ndarray | None = None,
):
    """Split one term's sorted posting list into blocks — a one-list
    :func:`encode_segments` call.

    Returns parallel lists: (first_doc, last_doc, n, gaps_blob, tfs_blob,
    block_max_tf).  ``starts`` (from :func:`block_starts`) overrides the
    fixed-stride split — used for shard-aligned blocks; each given block
    is then passed as its own segment.
    """
    n = len(doc_ids)
    if starts is None:
        seg_offsets = np.array([0, n], dtype=np.int64)
    else:
        seg_offsets = np.append(np.asarray(starts, dtype=np.int64), n)
        block_size = max(n, 1)
    b = encode_segments(doc_ids, tfs, seg_offsets, block_size=block_size,
                        codec=codec)
    return (b.first_doc.tolist(), b.last_doc.tolist(), b.n_docs.tolist(),
            b.doc_gaps, b.tfs, b.block_max_tf.tolist())


def decode_block(first_doc: int, gaps_blob: bytes, tfs_blob: bytes):
    """Inverse of one encode_blocks element → (doc_ids int64, tfs int64)."""
    gaps = decode_u64(gaps_blob)
    doc_ids = np.cumsum(gaps, dtype=np.uint64).astype(np.int64) + np.int64(first_doc)
    tfs = decode_u64(tfs_blob).astype(np.int64)
    return doc_ids, tfs
