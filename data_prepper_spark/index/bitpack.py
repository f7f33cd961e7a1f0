"""Fixed-width bit-packing + delta-gap codec for posting blocks.

The one block codec (the FastLanes layout idea, VLDB'23, in a scalar
numpy rendition): each block column is packed at the block's max bit
width ``w``, one buffer per block::

    [w:1][ceil(n*w/8) packed bytes]

Value ``i`` occupies bits ``[i*w, (i+1)*w)``, little-endian. Decoding is
one 8-byte gather + shift + mask per value, so ``w`` plus the value's bit
offset within its first byte (<= 7) must fit a 64-bit lane: a segment
whose max needs more than 57 bits packs at w = 64, which is byte-aligned
and costs 8 bytes per value. doc-id gaps are xxhash64-spread (~45-64 bits
at realistic shard densities); tfs and dls pack at a few bits.

Layout per block (see index/build.py): doc_ids are stored as
``first_doc_id`` (int64 column) plus the packed gaps of the *remaining*
doc_ids; tfs and dls are packed as they are. doc_ids within a block are
strictly increasing, so every gap is >= 1.
"""

from __future__ import annotations

import numpy as np

# widest w whose value, shifted by a <= 7-bit offset, still fits 64 bits
_MAX_SHIFTED_W = 57


def _bit_lengths(v: np.ndarray) -> np.ndarray:
    """Bit length of each uint64 in ``v`` (0 for 0), by binary search."""
    v = v.copy()
    n = np.zeros(v.shape, dtype=np.int64)
    for s in (32, 16, 8, 4, 2, 1):
        big = v >= np.uint64(1 << s)
        n[big] += s
        v[big] >>= np.uint64(s)
    return n + (v > 0)


def encode_payload_segmented(values: np.ndarray, seg_lengths: np.ndarray) -> list[bytes]:
    """One packed buffer per segment of ``seg_lengths`` consecutive
    ``values`` (sum == len(values)), each at its own segment's max width.

    A whole column is encoded in one pass: the widths come from one
    ``maximum.reduceat``, every buffer's place in one output array from a
    cumsum, and the bytes from one scatter per lane byte over all values.
    The per-segment ``bytes`` are slices of that array."""
    v = np.asarray(values).astype(np.uint64, copy=False)
    lens = np.asarray(seg_lengths, dtype=np.int64)
    if lens.size == 0:
        return []
    seg_starts = np.cumsum(lens) - lens
    widths = np.zeros(lens.size, dtype=np.int64)
    nonempty = lens > 0
    if v.size:
        widths[nonempty] = _bit_lengths(np.maximum.reduceat(v, seg_starts[nonempty]))
    widths[widths > _MAX_SHIFTED_W] = 64
    # buffer s is out[starts[s]:ends[s]]: its width byte, then packed bytes
    nbytes = (lens * widths + 7) // 8
    ends = np.cumsum(1 + nbytes)
    starts = ends - 1 - nbytes
    seg = np.repeat(np.arange(lens.size), lens)
    bit_off = (np.arange(v.size) - seg_starts[seg]) * widths[seg]
    byte_off = starts[seg] + 1 + (bit_off >> 3)
    shifted = v << (bit_off & 7).astype(np.uint64)
    # a value's bits are disjoint from every other value's, so summing its
    # lane bytes into the output is an OR; lanes past a buffer's last
    # packed byte carry zeros, and the 8 spare bytes absorb them
    size = int(ends[-1]) + 8
    out = np.zeros(size, dtype=np.float64)
    for k in range(8):
        lane = (shifted >> np.uint64(8 * k)) & np.uint64(0xFF)
        out += np.bincount(byte_off + k, weights=lane, minlength=size)
    out[starts] = widths
    buf = out[: int(ends[-1])].astype(np.uint8).tobytes()
    return [buf[s:e] for s, e in zip(starts.tolist(), ends.tolist())]


def decode_payload(buf: bytes, count: int) -> np.ndarray:
    """The ``count`` uint64 values of one packed buffer."""
    if count == 0 or buf[0] == 0:
        return np.zeros(count, dtype=np.uint64)
    w = buf[0]
    payload = np.concatenate((np.frombuffer(buf, dtype=np.uint8, offset=1), np.zeros(8, np.uint8)))
    bit_off = np.arange(count, dtype=np.int64) * w
    # the gather is C-contiguous, so each row of 8 bytes views as one lane
    lanes = payload[(bit_off >> 3)[:, None] + np.arange(8)].view("<u8")[:, 0]
    mask = np.uint64(0xFFFF_FFFF_FFFF_FFFF) >> np.uint64(64 - w)
    return (lanes >> (bit_off & 7).astype(np.uint64)) & mask


def decode_doc_ids_payload(first: int, gaps_buf: bytes, n: int) -> np.ndarray:
    """``n`` int64 doc ids from ``first_doc_id`` and the packed gaps of the
    remaining ``n - 1`` (uint64 wrap-around arithmetic, so the full int64
    range round-trips)."""
    out = np.empty(n, dtype=np.uint64)
    out[0] = np.uint64(first % (1 << 64))
    if n > 1:
        out[1:] = np.cumsum(decode_payload(gaps_buf, n - 1), dtype=np.uint64) + out[0]
    return out.astype(np.int64)
