"""RLE/bit-packed hybrid: golden-byte vectors lifted from the reference's
hand-computed fixtures (src/encodings/rle.rs tests) + property round-trips."""

import numpy as np
import pytest

from engine.codecs import rle


# --- golden vectors (FIXTURES.md F3) ---------------------------------------


@pytest.mark.parametrize("width", range(1, 9))
def test_golden_two_rle_runs(width):
    # 50 x 0 then 50 x 1 -> [0x64, 0x00, 0x64, 0x01] for widths 1..8
    # reference src/encodings/rle.rs:667-692
    vals = np.concatenate([np.zeros(50, np.uint64), np.ones(50, np.uint64)])
    assert rle.encode(vals, width) == bytes([0x64, 0x00, 0x64, 0x01])
    np.testing.assert_array_equal(rle.decode(rle.encode(vals, width), width, 100), vals)


def test_golden_bit_packed_alternating():
    # 100 alternating 0/1 at width 1 -> [0x1B, 0xAA*12, 0x0A]
    # reference src/encodings/rle.rs:694-721
    vals = (np.arange(100, dtype=np.uint64)) % 2
    expect = bytes([0x1B] + [0xAA] * 12 + [0x0A])
    assert rle.encode(vals, 1) == expect
    np.testing.assert_array_equal(rle.decode(expect, 1, 100), vals)


def test_golden_decode_0_to_7():
    # [0x03, 0x88, 0xC6, 0xFA] at width 3 -> 0..7
    # reference src/encodings/rle.rs:524-535
    buf = bytes([0x03, 0x88, 0xC6, 0xFA])
    np.testing.assert_array_equal(rle.decode(buf, 3, 8), np.arange(8, dtype=np.uint64))


def test_golden_decode_dict_indices():
    # [0x06,0x00,0x08,0x01,0x0A,0x02] -> 3x0, 4x1, 5x2 (dict run test,
    # reference src/encodings/rle.rs:595-606)
    buf = bytes([0x06, 0x00, 0x08, 0x01, 0x0A, 0x02])
    expect = np.repeat(np.array([0, 1, 2], np.uint64), [3, 4, 5])
    np.testing.assert_array_equal(rle.decode(buf, 2, 12), expect)


# --- state-machine edges ----------------------------------------------------


def test_short_all_equal_tail_is_rle():
    # final flush: <8 equal buffered values, no open group -> RLE run
    # (reference flush() all_repeat branch, src/encodings/rle.rs:219-244)
    vals = np.full(5, 3, np.uint64)
    assert rle.encode(vals, 3) == bytes([0x0A, 0x03])  # varint(5<<1)=10, value 3


def test_misaligned_long_run_keeps_head_bitpacked():
    # run of 9 starting at offset 3: head fills the group (bit-packed),
    # remaining 6 < 8 -> no RLE; everything bit-packed w/ final pad
    vals = np.array([1, 2, 3] + [5] * 9, np.uint64)
    buf = rle.encode(vals, 3)
    np.testing.assert_array_equal(rle.decode(buf, 3, len(vals)), vals)
    assert buf[0] & 1 == 1  # starts with a bit-packed run, not RLE


def test_misaligned_long_run_aligned_tail_becomes_rle():
    # run of 13 starting at offset 3: 5 fill the group, 8 remaining -> RLE(8+)
    vals = np.array([1, 2, 3] + [5] * 13, np.uint64)
    buf = rle.encode(vals, 3)
    np.testing.assert_array_equal(rle.decode(buf, 3, len(vals)), vals)
    # expect: bitpack 1 group (header 0x03) then RLE run of 8 (header 0x10)
    assert buf[0] == 0x03
    assert buf[4] == 0x10 and buf[5] == 0x05


def test_max_groups_per_bit_packed_run():
    # >504 non-repeating values must split bit-packed runs at 63 groups
    vals = (np.arange(1200, dtype=np.uint64)) % 7
    buf = rle.encode(vals, 3)
    assert buf[0] == (63 << 1 | 1) & 0x7F or buf[0] == 0x7F  # 63 groups -> 0x7F
    np.testing.assert_array_equal(rle.decode(buf, 3, 1200), vals)


def test_width_zero():
    vals = np.zeros(20, np.uint64)
    buf = rle.encode(vals, 0)
    np.testing.assert_array_equal(rle.decode(buf, 0, 20), vals)


@pytest.mark.parametrize("width", [1, 2, 3, 5, 8, 12, 20, 32])
@pytest.mark.parametrize(
    "n", [0, 1, 7, 8, 9, 15, 16, 63, 64, 503, 504, 505, 1023, 1024, 4096]
)
def test_roundtrip_random_runs(width, n):
    rng = np.random.default_rng(width * 10000 + n)
    # random run-structured data (geometric run lengths)
    out = []
    total = 0
    while total < n:
        run = int(rng.geometric(0.15))
        out.append(np.full(min(run, n - total), rng.integers(0, 1 << min(width, 16)), np.uint64))
        total += run
    vals = np.concatenate(out)[:n] if out else np.empty(0, np.uint64)
    buf = rle.encode(vals, width)
    np.testing.assert_array_equal(rle.decode(buf, width, n), vals)


def test_len_prefixed_roundtrip():
    vals = np.array([0, 0, 0, 1, 1, 1, 1, 2] * 10, np.uint64)
    buf = rle.encode_len_prefixed(vals, 2)
    out, consumed = rle.decode_len_prefixed(buf, 2, len(vals))
    assert consumed == len(buf)
    np.testing.assert_array_equal(out, vals)


def test_truncated_stream_raises():
    # RLE runs, bit-packed runs and a zero-padded final group
    vals = np.concatenate([np.full(20, 3), np.arange(30) % 5, np.full(9, 1), [2, 4, 6]])
    buf = rle.encode(vals, 3)
    np.testing.assert_array_equal(rle.decode(buf, 3, vals.size), vals)
    for k in range(len(buf)):
        with pytest.raises(ValueError, match="RLE/bit-packed hybrid stream truncated"):
            rle.decode(buf[:k], 3, vals.size)
