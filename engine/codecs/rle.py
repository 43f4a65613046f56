"""RLE / bit-packed hybrid encoding (parquet grammar).

Grammar (reference ``src/encodings/rle.rs:29-47``)::

    encoded-data      := <run>*
    run               := <bit-packed-run> | <rle-run>
    bit-packed-run    := varint(groups << 1 | 1) <bit-packed groups of 8 values>
    rle-run           := varint(count << 1) <value in ceil(bit_width/8) LE bytes>

Run-formation semantics reproduce the reference encoder's 8-value buffered
state machine (``src/encodings/rle.rs:152-316``) at *run* granularity instead
of value granularity, so the hot path is numpy over maximal runs:

- values are conceptually buffered in groups of 8; a group whose 8 values are
  all equal (and any continuation of that value) becomes an RLE run
  (``put``, ``src/encodings/rle.rs:152-184``);
- group alignment is measured from the end of the previous RLE run (the
  buffer resets at ``flush_rle_run``, ``src/encodings/rle.rs:246-260``);
- bit-packed runs hold at most 63 groups = 504 values
  (``MAX_GROUPS_PER_BIT_PACKED_RUN``, flush check ``src/encodings/rle.rs:293-316``);
- the final flush emits a short RLE run when the remaining (<8) buffered
  values are all equal and no bit-packed group is open, else zero-pads the
  last group (``flush``, ``src/encodings/rle.rs:219-244``).

This reproduces the reference's bytes on the golden vectors
(``src/encodings/rle.rs:667-721``) and always emits valid, compact grammar.
"""

from __future__ import annotations

import numpy as np

from . import bitpack

MAX_VALUES_PER_BIT_PACKED_RUN = 504  # 63 groups of 8


def _runs(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Maximal-run decomposition -> (run start indices, run lengths)."""
    n = len(values)
    if n == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    change = np.flatnonzero(values[1:] != values[:-1]) + 1
    starts = np.concatenate(([0], change))
    lengths = np.diff(np.concatenate((starts, [n])))
    return starts, lengths


def _emit_bit_packed(out: list[bytes], seg: np.ndarray, bit_width: int, pad: bool) -> None:
    """Emit one segment as bit-packed runs of <=504 values (63 groups each).

    ``pad``: zero-pad the final partial group (only legal at end of stream).
    """
    n = len(seg)
    if n == 0:
        return
    if n % 8:
        if not pad:
            raise AssertionError("mid-stream bit-packed segment not multiple of 8")
        seg = np.concatenate((seg, np.zeros(8 - n % 8, dtype=seg.dtype)))
        n = len(seg)
    for off in range(0, n, MAX_VALUES_PER_BIT_PACKED_RUN):
        part = seg[off : off + MAX_VALUES_PER_BIT_PACKED_RUN]
        groups = len(part) // 8
        out.append(bitpack.uleb128_encode(groups << 1 | 1))
        out.append(bitpack.pack(part, bit_width))


def _emit_rle(out: list[bytes], value: int, count: int, bit_width: int) -> None:
    out.append(bitpack.uleb128_encode(count << 1))
    vbytes = (bit_width + 7) // 8
    out.append(int(value).to_bytes(vbytes, "little"))


def encode(values: np.ndarray, bit_width: int) -> bytes:
    """Encode non-negative ints (< 2**bit_width) as the RLE/bit-packed hybrid."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = v.size
    if n == 0:
        return b""
    starts, lengths = _runs(v)

    # --- replay the reference's buffer state machine at run granularity ----
    # An RLE run forms when a maximal run fills a whole 8-value group measured
    # from the last reset point (end of previous RLE run); the run's leading
    # values that fall inside a partially-filled group stay bit-packed.
    rle_spans: list[tuple[int, int]] = []  # (start, length) in value coords
    reset_pos = 0
    for j in np.flatnonzero(lengths >= 8):
        s = int(starts[j])
        if s < reset_pos:  # inside a previously committed span (cannot happen)
            continue
        nb = (s - reset_pos) % 8
        head = (8 - nb) % 8
        body = int(lengths[j]) - head
        if body >= 8:
            rle_spans.append((s + head, body))
            reset_pos = s + head + body

    out: list[bytes] = []
    pos = 0
    for span_start, span_len in rle_spans:
        _emit_bit_packed(out, v[pos:span_start], bit_width, pad=False)
        _emit_rle(out, int(v[span_start]), span_len, bit_width)
        pos = span_start + span_len

    # --- final flush semantics -------------------------------------------
    m = n - pos
    tail = m % 8
    full = m - tail
    open_groups = (full // 8) % 63
    if tail and open_groups == 0 and bool(np.all(v[n - tail :] == v[n - tail])):
        _emit_bit_packed(out, v[pos : pos + full], bit_width, pad=False)
        _emit_rle(out, int(v[n - tail]), tail, bit_width)
    else:
        _emit_bit_packed(out, v[pos:], bit_width, pad=True)
    return b"".join(out)


def decode(buf: bytes | np.ndarray, bit_width: int, n: int) -> np.ndarray:
    """Decode ``n`` values from hybrid-encoded ``buf`` -> uint64 array.

    Batch equivalent of the reference's ``RleDecoder::get_batch``
    (``src/encodings/rle.rs:398-434``): the run headers are walked as plain
    ints, recording each run's header and payload offset; then the RLE
    values come out of one :func:`bitpack.gather` at those offsets and one
    ``np.repeat``, and all bit-packed values out of one more gather.
    Trailing zero-padding beyond ``n`` is dropped.
    """
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    data = bitpack.as_bytes(buf)
    vbytes = (bit_width + 7) // 8

    # pass 1: walk the run headers (one scalar step per run)
    headers = []
    offsets = []  # byte offset of each run's payload
    got = 0
    pos = 0
    try:
        while got < n:
            header = data[pos]
            if header & 0x80:
                header, pos = bitpack.uleb128_decode(data, pos)
            else:
                pos += 1
            headers.append(header)
            offsets.append(pos)
            if header & 1:  # bit-packed run of (header >> 1) groups of 8
                got += (header >> 1) * 8
                pos += (header >> 1) * bit_width
            else:  # rle run: one value in vbytes LE bytes
                got += header >> 1
                pos += vbytes
    except IndexError:
        raise ValueError(
            f"RLE/bit-packed hybrid stream truncated: run header needs {pos + 1} "
            f"bytes, buffer has {len(data)}"
        ) from None
    if pos > len(data):
        raise ValueError(
            f"RLE/bit-packed hybrid stream truncated: {n} values need {pos} "
            f"bytes, buffer has {len(data)}"
        )

    # pass 2: materialize; the last run is cut to end at value n
    offs = np.asarray(offsets, dtype=np.int64)
    headers = np.asarray(headers, dtype=np.int64)
    packed = (headers & 1).astype(bool)
    counts = headers >> 1
    counts[packed] *= 8
    counts[-1] -= got - n
    if packed.all():
        return _unpack_runs(data, offs, counts, bit_width)
    out = np.repeat(bitpack.gather(data, offs * 8, 8 * vbytes), counts)
    if packed.any():
        out[np.repeat(packed, counts)] = _unpack_runs(
            data, offs[packed], counts[packed], bit_width
        )
    return out


def _unpack_runs(data: bytes, offs: np.ndarray, counts: np.ndarray, bit_width: int):
    """Values of the bit-packed runs whose payloads start at byte ``offs``,
    ``counts`` values each, as one gather."""
    first = np.cumsum(counts) - counts  # each run's first value in the output
    base = offs * 8 - first * bit_width
    bitpos = np.repeat(base, counts) + np.arange(int(counts.sum())) * bit_width
    return bitpack.gather(data, bitpos, bit_width)


# --- length-prefixed form (levels v1 / boolean RLE value encoding) ---------


def encode_len_prefixed(values: np.ndarray, bit_width: int) -> bytes:
    """Hybrid payload prefixed with its 4-byte LE length — the framing used by
    v1 levels (``src/encodings/levels.rs:134-141``) and the BOOLEAN
    RLE value encoder (``src/encodings/encoding.rs:445-460``)."""
    payload = encode(values, bit_width)
    return len(payload).to_bytes(4, "little") + payload


def decode_len_prefixed(buf: bytes | np.ndarray, bit_width: int, n: int) -> tuple[np.ndarray, int]:
    raw = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    length = int.from_bytes(raw[:4].tobytes(), "little")
    return decode(raw[4 : 4 + length], bit_width, n), 4 + length
