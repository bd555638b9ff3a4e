"""Vectorized VByte (variable-byte) integer compression.

Format (pinned — on-disk contract for posting segments, SURVEY.md §2.B4):
  each value is stored little-endian in 7-bit groups; every byte carries a
  continuation flag in the MSB — 1 = more bytes follow, 0 = last byte of the
  value. Values must be unsigned and < 2**63.

Both encode and decode are numpy-vectorized: encode places all j-th bytes of
all values with one masked scatter per byte position (<=10 passes); decode
reconstructs values with a single segmented reduce over bit-shifted
contributions. No per-element Python loops — this is the hot kernel of
segment encode (which codes a whole Arrow batch of posting lists in one
call, see ``vb_encode_parts``) and of every decode.

Reference analog: DrQA persists its index as a scipy CSR ``.npz`` (dense
int32/float arrays, no compression) — see SURVEY.md §1.1; delta+varbyte is
the from-scratch scale replacement mandated by BASELINE.json.
"""

from __future__ import annotations

import numpy as np

_MAX_BYTES = 10  # ceil(63 / 7)


def vb_encode_parts(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Encode a 1-D array of unsigned ints (< 2**63) -> (uint8 VByte stream,
    int64 bytes per value).

    Every value is coded on its own, so the stream of a concatenation is the
    concatenation of the streams: a caller holding many lists encodes them
    in one call and cuts each list's blob out by cumulative byte sizes."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size and int(v.max()) >= (1 << 63):
        raise ValueError("vb_encode: values must be < 2**63")
    # bytes needed per value: 1 + number of 7-bit groups above the first
    nbytes = np.ones(v.size, dtype=np.int64)
    for k in range(1, _MAX_BYTES):
        nbytes += (v >= np.uint64(1 << (7 * k))).astype(np.int64)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    out = np.empty(int(ends[-1]) if v.size else 0, dtype=np.uint8)
    for j in range(_MAX_BYTES):
        sel = nbytes > j
        if not sel.any():
            break
        chunk = (v[sel] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = (nbytes[sel] - 1 > j).astype(np.uint8) << 7
        out[starts[sel] + j] = chunk.astype(np.uint8) | cont
    return out, nbytes


def vb_encode(values: np.ndarray) -> bytes:
    """Encode a 1-D array of unsigned ints (< 2**63) to a VByte buffer."""
    return vb_encode_parts(values)[0].tobytes()


def vb_decode(buf: bytes | np.ndarray, n_values: int | None = None) -> np.ndarray:
    """Decode a VByte buffer back to a uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8) if isinstance(buf, (bytes, bytearray, memoryview)) else np.asarray(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    # fast path: every value single-byte (no continuation bit anywhere) —
    # the common case for tf streams; skips five full-array passes
    if n_values is not None and b.size == n_values and not (b & 0x80).any():
        return b.astype(np.uint64)
    is_last = (b & 0x80) == 0
    term_idx = np.nonzero(is_last)[0]
    if n_values is not None and term_idx.size != n_values:
        raise ValueError(f"vb_decode: expected {n_values} values, found {term_idx.size}")
    starts = np.empty(term_idx.size, dtype=np.int64)
    starts[0] = 0
    starts[1:] = term_idx[:-1] + 1
    # byte position of each byte within its value
    value_of_byte = np.cumsum(np.concatenate(([False], is_last[:-1])))
    pos = np.arange(b.size, dtype=np.int64) - starts[value_of_byte]
    contrib = (b & 0x7F).astype(np.uint64) << (np.uint64(7) * pos.astype(np.uint64))
    return np.add.reduceat(contrib, starts)


def delta_encode(sorted_ids: np.ndarray, base: int = 0) -> np.ndarray:
    """Gap-encode a strictly increasing id array relative to ``base``.

    The first gap is ``ids[0] - base`` so a block can be decoded given only
    the previous block's last doc_id (block-local delta restart).
    """
    ids = np.ascontiguousarray(sorted_ids, dtype=np.int64)
    gaps = np.empty(ids.size, dtype=np.int64)
    if ids.size == 0:
        return gaps
    gaps[0] = ids[0] - base
    np.subtract(ids[1:], ids[:-1], out=gaps[1:])
    if gaps.size and gaps.min() < 0:
        raise ValueError("delta_encode: input not sorted ascending / below base")
    return gaps


def delta_decode(gaps: np.ndarray, base: int = 0) -> np.ndarray:
    g = np.ascontiguousarray(gaps, dtype=np.uint64).astype(np.int64)
    return np.cumsum(g) + base
