"""Delta-gap + LEB128-varint posting-block codec (numpy-vectorized, no loops
over values — only over the ≤10 varint byte positions).

Physical replacement for the reference's fixed 8-byte postings records
(`T/indexer/model/Posting.java:8-22`, block write `T/indexer/indexes/Index.java:
114-130`): docids are stored as first-difference gaps, then every integer
stream (gaps, TFs, doc lengths) is LEB128-encoded. Typical web-scale posting
blocks compress ~4-6× vs fixed 8-byte records.

These are pure functions over numpy arrays so they are property-testable
off-Spark and run on raw Arrow buffers inside ``mapInArrow`` kernels.
"""

from __future__ import annotations

import numpy as np

_THRESHOLDS = [1 << (7 * k) for k in range(1, 10)]  # 2^7 .. 2^63


def varint_encode_sizes(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128-encode a uint array; also return bytes-per-value (for slicing a
    concatenated multi-block encode back into per-block buffers)."""
    a = np.ascontiguousarray(values, dtype=np.uint64)
    if a.size == 0:
        return b"", np.empty(0, dtype=np.int64)
    nbytes = np.ones(a.size, dtype=np.int64)
    for t in _THRESHOLDS:
        nbytes += a >= np.uint64(t)
    total = int(nbytes.sum())
    out = np.empty(total, dtype=np.uint8)
    offsets = np.concatenate(([0], np.cumsum(nbytes)[:-1]))
    for k in range(10):
        mask = nbytes > k
        if not mask.any():
            break
        chunk = (a[mask] >> np.uint64(7 * k)) & np.uint64(0x7F)
        cont = (nbytes[mask] > k + 1).astype(np.uint8) << 7
        out[offsets[mask] + k] = chunk.astype(np.uint8) | cont
    return out.tobytes(), nbytes


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint array (vectorized over values)."""
    return varint_encode_sizes(values)[0]


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode an LEB128 byte string to a uint64 array (vectorized)."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    if raw.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = raw < 128
    starts = np.concatenate(([0], np.flatnonzero(is_last)[:-1] + 1))
    gid_starts = np.zeros(raw.size, dtype=np.int64)
    gid_starts[starts] = starts
    np.maximum.accumulate(gid_starts, out=gid_starts)
    shifts = (np.arange(raw.size, dtype=np.int64) - gid_starts) * 7
    contrib = (raw & np.uint8(0x7F)).astype(np.uint64) << shifts.astype(np.uint64)
    return np.add.reduceat(contrib, starts)


def delta_encode(docids: np.ndarray) -> np.ndarray:
    """Ascending docids → gaps (first value absolute)."""
    a = np.ascontiguousarray(docids, dtype=np.uint64)
    if a.size == 0:
        return a
    gaps = np.empty_like(a)
    gaps[0] = a[0]
    np.subtract(a[1:], a[:-1], out=gaps[1:])
    return gaps


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    return np.cumsum(gaps.astype(np.uint64), dtype=np.uint64)


def encode_block(
    docids: np.ndarray, tfs: np.ndarray, dls: np.ndarray
) -> tuple[bytes, bytes, bytes]:
    """Encode one posting block (ascending docids) → (gaps, tfs, dls) bytes."""
    return (
        varint_encode(delta_encode(docids)),
        varint_encode(tfs),
        varint_encode(dls),
    )


def encode_blocks_concat(
    docids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    offsets: np.ndarray,
) -> tuple[np.ndarray, bytes, np.ndarray, bytes, np.ndarray, bytes]:
    """Encode MANY posting blocks in one vectorized pass.

    ``docids/tfs/dls`` are the concatenation of all blocks' postings (each
    block docid-ascending); ``offsets`` (len B+1, int64) are the posting-index
    boundaries of the B blocks. Returns, per stream, the per-block BYTE
    boundaries (len B+1, suitable as Arrow binary-array offsets) and one
    concatenated buffer — byte-identical per block to :func:`encode_block`,
    but with zero per-posting (and zero per-block) Python work."""
    docids = np.ascontiguousarray(docids, dtype=np.int64)
    # an empty block's start equals the next block's (or the total size) —
    # drop those so the absolute-value reset only touches real rows
    starts = offsets[:-1]
    starts = starts[starts < docids.size]
    gaps = docids.copy()
    if docids.size:
        gaps[1:] = docids[1:] - docids[:-1]
        gaps[starts] = docids[starts]  # absolute value at each block start

    out = []
    for stream in (gaps, tfs, dls):
        buf, sizes = varint_encode_sizes(
            np.ascontiguousarray(stream, dtype=np.uint64)
        )
        cum = np.zeros(sizes.size + 1, dtype=np.int64)
        np.cumsum(sizes, out=cum[1:])
        out.append(cum[offsets])  # byte boundary per block
        out.append(buf)
    return tuple(out)


def varint_decode_concat(
    buf: bytes, byte_offsets: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Decode the concatenation of MANY LEB128 streams in ONE vectorized pass.

    ``byte_offsets`` (len B+1, int64) are the byte boundaries of the B
    streams inside ``buf``; each stream must hold a whole number of varints
    (always true for posting blocks).  Returns (values, value_offsets):
    ``values[value_offsets[i]:value_offsets[i+1]]`` is stream i — identical
    to calling :func:`varint_decode` per stream, with zero per-stream Python
    work.  Works because LEB128 is self-delimiting: the global decode never
    crosses a stream boundary, so only the SPLIT points need recovering
    (a cumulative count of terminal bytes, one vector op)."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    values = varint_decode(buf)
    cum_last = np.zeros(raw.size + 1, dtype=np.int64)
    np.cumsum(raw < 128, out=cum_last[1:])
    return values, cum_last[byte_offsets]


def decode_blocks_concat(
    gaps_buf: bytes,
    gaps_offsets: np.ndarray,
    tfs_buf: bytes,
    tfs_offsets: np.ndarray,
    dls_buf: bytes,
    dls_offsets: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Decode MANY posting blocks in one vectorized pass — the symmetric
    inverse of :func:`encode_blocks_concat`.

    Inputs are, per stream, one concatenated buffer plus the per-block BYTE
    boundaries (len B+1).  Returns (docids, tfs, dls, value_offsets) where
    ``value_offsets`` (len B+1) slices each int64 array back into blocks —
    per-block identical to :func:`decode_block`.  The delta-decode is
    segmented: one global cumsum over all gaps, then each block subtracts
    the running total at its own start (repeat + subtract — no per-block
    loop, so an Arrow batch of thousands of blocks decodes in ~10 numpy
    calls total)."""
    gaps, voff = varint_decode_concat(gaps_buf, gaps_offsets)
    c = np.cumsum(gaps, dtype=np.uint64)
    starts = voff[:-1]
    base = np.zeros(starts.size, dtype=np.uint64)
    nz = starts > 0
    base[nz] = c[starts[nz] - 1]
    docids = c - np.repeat(base, np.diff(voff))
    tfs, _ = varint_decode_concat(tfs_buf, tfs_offsets)
    dls, _ = varint_decode_concat(dls_buf, dls_offsets)
    return (
        docids.astype(np.int64),
        tfs.astype(np.int64),
        dls.astype(np.int64),
        voff,
    )


def decode_block(
    gaps: bytes, tfs: bytes, dls: bytes
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode one posting block → (docids, tfs, dls) as int64 arrays."""
    return (
        delta_decode(varint_decode(gaps)).astype(np.int64),
        varint_decode(tfs).astype(np.int64),
        varint_decode(dls).astype(np.int64),
    )
