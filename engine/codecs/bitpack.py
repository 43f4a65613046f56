"""Bit-level kernels: fixed-width bit-packing, ULEB128 varints, zigzag.

Semantics match the reference's bit utilities:
- LSB-first bit packing identical to ``BitWriter::put_value`` /
  ``BitReader::get_batch`` (reference ``src/util/bit_util.rs:266-298,456-528``)
  and the generated ``unpack32`` kernels (``src/util/bit_packing.rs:29-64``).
- ULEB128 as ``put_vlq_int`` (``src/util/bit_util.rs:342-358``).
- Zigzag as ``put_zigzag_vlq_int`` (``src/util/bit_util.rs:359-366``).

Everything is vectorized numpy — no per-value Python in any hot path.
"""

from __future__ import annotations

import numpy as np

MAX_WIDTH = 64  # widths 0..32 for i32 streams; up to 64 for i64 deltas


def _store_dtype(bit_width: int) -> np.dtype:
    if bit_width <= 8:
        return np.dtype("<u1")
    if bit_width <= 16:
        return np.dtype("<u2")
    if bit_width <= 32:
        return np.dtype("<u4")
    return np.dtype("<u8")


def pack(values: np.ndarray, bit_width: int) -> bytes:
    """Pack ``values`` (non-negative, < 2**bit_width) LSB-first at ``bit_width``
    bits each, little-endian within bytes — parquet bit-packed layout.

    bit j of value i lands at overall bit position ``i*bit_width + j``.
    Implementation stays entirely in uint8: each value's LE bytes are
    bit-exploded with ``np.unpackbits`` and the first ``bit_width`` bit
    columns are re-packed — no (n, w) uint64 temporaries.
    """
    n = len(values)
    if bit_width == 0 or n == 0:
        return b""
    if not 0 < bit_width <= MAX_WIDTH:
        raise ValueError(f"bit_width out of range: {bit_width}")
    dt = _store_dtype(bit_width)
    v = np.ascontiguousarray(values, dtype=dt)
    # (n, 8*itemsize) bit matrix, LSB-first within each value
    bits = np.unpackbits(v.view(np.uint8).reshape(n, dt.itemsize), axis=1, bitorder="little")
    return np.packbits(bits[:, :bit_width].reshape(-1), bitorder="little").tobytes()


_MASKS = np.array([(1 << w) - 1 for w in range(MAX_WIDTH + 1)], dtype=np.uint64)
_GATHER_STEP = 1 << 15  # values per gather step: bounds the int64 temporaries


def as_bytes(buf: bytes | bytearray | memoryview | np.ndarray) -> bytes:
    """``buf`` as ``bytes``, so header walks index plain Python ints."""
    return buf.tobytes() if isinstance(buf, np.ndarray) else bytes(buf)


def gather(buf: bytes | np.ndarray, bitpos: np.ndarray, width) -> np.ndarray:
    """Word-level bit unpacking -> uint64 array: value ``i`` is the
    ``width[i]``-bit LSB-first field starting at bit ``bitpos[i]`` of ``buf``
    (``width`` is one int for all values, or one per value).

    Each value costs one unaligned little-endian 8-byte load at its field's
    first byte, a shift by the field's bit offset within that byte and a
    mask -- the numpy form of the reference's word-at-a-time ``unpack32``
    (``src/util/bit_packing.rs:29-64``). A field wider than 56 bits can
    straddle the loaded word, so those alone take a second load of the next
    8 bytes. Loads past the end of ``buf`` read zero padding, never an
    error: callers check their stream's end byte before gathering.
    """
    raw = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    padded = np.zeros(raw.size + 16, dtype=np.uint8)
    padded[: raw.size] = raw
    # word j = bytes padded[j:j+8]: a uint64 view with a 1-byte stride
    words = np.ndarray((raw.size + 9,), dtype="<u8", buffer=padded, strides=(1,))
    per_value = np.ndim(width) > 0
    out = np.empty(bitpos.size, dtype=np.uint64)
    for s in range(0, bitpos.size, _GATHER_STEP):
        bp = bitpos[s : s + _GATHER_STEP]
        w = width[s : s + _GATHER_STEP] if per_value else width
        byte = bp >> 3
        shift = (bp & 7).astype(np.uint64)
        v = words[byte]
        v >>= shift
        wide = np.flatnonzero(np.broadcast_to(np.greater(w, 56), bp.shape))
        if wide.size:  # the bits above 64 - shift come from the next word
            v[wide] |= (words[byte[wide] + 8] << 1) << (63 - shift[wide])
        v &= _MASKS[w]
        out[s : s + bp.size] = v
    return out


def unpack(buf: bytes | np.ndarray, bit_width: int, n: int) -> np.ndarray:
    """Inverse of :func:`pack`; returns uint64 array of length ``n``.

    One :func:`gather` at the fixed bit offsets ``i * bit_width``."""
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    if bit_width == 0:
        return np.zeros(n, dtype=np.uint64)
    raw = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    nbits = n * bit_width
    if raw.size * 8 < nbits:
        raise ValueError(f"buffer too small: {raw.size} bytes for {nbits} bits")
    return gather(raw, np.arange(n, dtype=np.int64) * bit_width, bit_width)


def num_required_bits(x: int) -> int:
    """Bits needed to represent unsigned ``x`` (0 -> 0); reference
    ``num_required_bits``/``log2`` semantics (``src/util/bit_util.rs:91-102``)."""
    return int(x).bit_length()


def dict_bit_width(num_entries: int) -> int:
    """Index width for a dictionary of ``num_entries`` values — 0 for empty,
    1 for a single entry, else ceil(log2(n)); reference
    ``DictEncoder::bit_width`` (``src/encodings/encoding.rs:325-334``)."""
    if num_entries == 0:
        return 0
    if num_entries == 1:
        return 1
    return num_required_bits(num_entries - 1)


# ---------------------------------------------------------------------------
# ULEB128 varints (vectorized batch forms + scalar helpers for headers)
# ---------------------------------------------------------------------------

_ULEB_THRESHOLDS = np.array(
    [1 << 7, 1 << 14, 1 << 21, 1 << 28, 1 << 35, 1 << 42, 1 << 49, 1 << 56, 1 << 63],
    dtype=np.uint64,
)


def uleb128_encode_array(arr: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized ULEB128 of a uint64 array.

    Returns (bytes_out uint8 array, per-value byte lengths).
    """
    x = np.ascontiguousarray(arr, dtype=np.uint64)
    n = x.size
    if n == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    nbytes = 1 + (x[:, None] >= _ULEB_THRESHOLDS[None, :]).sum(axis=1).astype(np.int64)
    offsets = np.concatenate(([0], np.cumsum(nbytes)))
    out = np.zeros(offsets[-1], dtype=np.uint8)
    max_b = int(nbytes.max())
    for k in range(max_b):
        sel = nbytes > k
        b = ((x[sel] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[sel] > k + 1).astype(np.uint8) << 7
        out[offsets[:-1][sel] + k] = b | cont
    return out, nbytes


def uleb128_encode(value: int) -> bytes:
    """Scalar ULEB128 (headers only)."""
    out = bytearray()
    v = int(value)
    if v < 0:
        raise ValueError("uleb128 takes unsigned values")
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def uleb128_decode(buf: np.ndarray, pos: int) -> tuple[int, int]:
    """Scalar decode; returns (value, new_pos)."""
    result = 0
    shift = 0
    while True:
        b = int(buf[pos])
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def zigzag_encode(value: int) -> int:
    """Signed -> unsigned zigzag (64-bit), reference ``put_zigzag_vlq_int``."""
    v = int(value)
    return ((v << 1) ^ (v >> 63)) & ((1 << 64) - 1)


def zigzag_decode(value: int) -> int:
    v = int(value)
    return (v >> 1) ^ -(v & 1)


def orbit_positions(nxt: np.ndarray, n: int) -> np.ndarray:
    """Positions visited by the walk ``0 -> nxt[0] -> ...`` while < n, via
    pointer doubling — O(n log n) vectorized resolution of a sequential
    jump chain (used by FSST's greedy matcher)."""
    if n == 0:
        return np.empty(0, dtype=np.int64)
    visited = np.zeros(n + 1, dtype=bool)
    visited[0] = True
    jump = np.concatenate((np.minimum(nxt[:n], n), [n])).astype(np.int64)
    while True:
        idx = np.flatnonzero(visited)
        before = idx.size
        visited[jump[idx]] = True
        if visited.sum() == before:
            break
        jump = jump[jump]
    return np.flatnonzero(visited[:n])


class BitWriter:
    """Append-only bit writer with parquet LSB-first semantics.

    Mirrors the reference ``BitWriter`` (``src/util/bit_util.rs:136-366``) but
    batch-oriented: callers append whole runs/arrays, never single values in a
    Python loop.
    """

    def __init__(self) -> None:
        self._parts: list[bytes] = []
        self._nbytes = 0

    def __len__(self) -> int:
        return self._nbytes

    def put_aligned_bytes(self, data: bytes) -> None:
        self._parts.append(data)
        self._nbytes += len(data)

    def put_vlq_int(self, value: int) -> None:
        self.put_aligned_bytes(uleb128_encode(value))

    def put_zigzag_vlq_int(self, value: int) -> None:
        self.put_aligned_bytes(uleb128_encode(zigzag_encode(value)))

    def put_packed(self, values: np.ndarray, bit_width: int) -> None:
        self.put_aligned_bytes(pack(values, bit_width))

    def consume(self) -> bytes:
        out = b"".join(self._parts)
        self._parts = [out]
        return out
