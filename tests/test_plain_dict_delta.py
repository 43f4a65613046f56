"""Round-trip + golden tests for PLAIN, DICTIONARY, DELTA_BINARY_PACKED.

Mirrors the reference's EncodingTester round-trip pattern
(src/encodings/encoding.rs:1179-1265) over the FIXTURES.md F2 regimes.
"""

import numpy as np
import pandas as pd
import pytest

from engine.codecs import bitpack, delta_for, dictionary, plain

SIZES = [0, 1, 7, 8, 127, 128, 129, 1023, 1024, 4096]


def regimes(n, seed=42):
    rng = np.random.default_rng(seed)
    i32 = np.iinfo(np.int32)
    out = {
        "lowcard10": rng.integers(0, 10, n).astype(np.int32),
        "lowcard1000": rng.integers(0, 1000, n).astype(np.int32),
        "monotone": np.cumsum(rng.integers(0, 7, n)).astype(np.int32),
        "smallrange": (1000 + rng.integers(0, 1 << 12, n)).astype(np.int32),
        "fullrange": rng.integers(i32.min, i32.max, n, endpoint=True).astype(np.int32),
        "constant": np.full(n, 12345, np.int32),
        "alternating": (np.arange(n) % 2).astype(np.int32),
        "zipf": np.minimum(rng.zipf(1.3, n) if n else np.empty(0), 50_000).astype(np.int32),
    }
    # force i32 boundary pairs into fullrange (wrapping-delta overflow,
    # reference src/encodings/encoding.rs:758-768)
    if n >= 4:
        out["fullrange"][:4] = [i32.min, i32.max, i32.max, i32.min]
    return out


@pytest.mark.parametrize("n", SIZES)
def test_plain_roundtrip_i32(n):
    for name, vals in regimes(n).items():
        buf = plain.encode(vals, "int32")
        assert len(buf) == 4 * n
        np.testing.assert_array_equal(plain.decode(buf, n, "int32"), vals, err_msg=name)


def test_plain_bool():
    rng = np.random.default_rng(1)
    vals = rng.integers(0, 2, 100).astype(bool)
    buf = plain.encode(vals, "bool")
    assert len(buf) == 13
    np.testing.assert_array_equal(plain.decode(buf, 100, "bool"), vals)


def test_plain_byte_arrays_roundtrip():
    strings = [b"", b"parquet", b"x" * 300, b"abc", b"abc"]
    lengths = np.array([len(s) for s in strings])
    buf = plain.encode_byte_arrays(lengths, b"".join(strings))
    # layout: u32 len + bytes per value (src/encodings/encoding.rs:152-158)
    assert buf[:4] == (0).to_bytes(4, "little")
    assert buf[4:8] == (7).to_bytes(4, "little") and buf[8:15] == b"parquet"
    out_lens, out_data = plain.decode_byte_arrays(buf, len(strings))
    np.testing.assert_array_equal(out_lens, lengths)
    assert out_data == b"".join(strings)


@pytest.mark.parametrize("n", SIZES)
def test_dict_roundtrip_i32(n):
    for name, vals in regimes(n).items():
        dict_page, idx = dictionary.encode(vals, "int32")
        out = dictionary.decode(dict_page, idx, n, "int32")
        np.testing.assert_array_equal(out, vals, err_msg=name)


def test_dict_first_occurrence_order_and_sizes():
    # 5 distinct i32 -> 20-byte dict page (src/encodings/encoding.rs:1047-1077)
    vals = np.array([9, 3, 9, 7, 1, 5, 3], np.int32)
    dict_page, idx = dictionary.encode(vals, "int32")
    uniques = np.frombuffer(dict_page, "<i4")
    np.testing.assert_array_equal(uniques, [9, 3, 7, 1, 5])  # insertion order
    assert len(dict_page) == 20
    assert idx[0] == bitpack.dict_bit_width(5) == 3  # width prefix byte


def test_dict_strings_roundtrip():
    s = pd.Series(["web", "web", "code", "books", "web", "chat", "code"])
    dict_page, idx = dictionary.encode_strings(s)
    # dict sizes golden: "abcd","efj" -> 4+4 + 4+3 = 15 bytes
    dp2, _ = dictionary.encode_strings(pd.Series(["abcd", "efj"]))
    assert len(dp2) == 15  # src/encodings/encoding.rs:1047-1077
    lens, data = dictionary.decode_strings(dict_page, idx, len(s))
    off = np.concatenate(([0], np.cumsum(lens.astype(np.int64))))
    out = [data[off[i] : off[i + 1]].decode() for i in range(len(s))]
    assert out == list(s)


@pytest.mark.parametrize("n", SIZES)
def test_delta_roundtrip_i32(n):
    for name, vals in regimes(n).items():
        buf = delta_for.encode(vals, "int32")
        out = delta_for.decode(buf, n, "int32")
        np.testing.assert_array_equal(out, vals, err_msg=name)


def test_delta_roundtrip_i64():
    rng = np.random.default_rng(3)
    i64 = np.iinfo(np.int64)
    vals = rng.integers(i64.min, i64.max, 1000, endpoint=True).astype(np.int64)
    vals[:4] = [i64.min, i64.max, i64.max, i64.min]
    buf = delta_for.encode(vals, "int64")
    np.testing.assert_array_equal(delta_for.decode(buf, 1000, "int64"), vals)


def test_delta_stream_i64_full_range_partial_block_trailing_bytes():
    """Full-range int64 deltas pack at widths up to 64 (the gather's
    second-word path); 299 deltas leave the last block with two empty
    miniblocks; the bytes after the stream are not consumed."""
    rng = np.random.default_rng(11)
    i64 = np.iinfo(np.int64)
    vals = rng.integers(i64.min, i64.max, 300, endpoint=True).astype(np.int64)
    buf = delta_for.encode(vals, "int64")
    out, consumed = delta_for.decode_stream(buf + b"\x07\xff\x00", "int64")
    np.testing.assert_array_equal(out, vals)
    assert consumed == len(buf)


def test_delta_truncated_stream_raises():
    vals = np.cumsum(np.random.default_rng(2).integers(-50, 900, 300)).astype(np.int32)
    buf = delta_for.encode(vals, "int32")
    for k in range(len(buf)):
        with pytest.raises(ValueError, match="DELTA_BINARY_PACKED stream truncated"):
            delta_for.decode_stream(buf[:k])


def test_delta_miniblock_width_over_type_raises():
    buf = bytearray(delta_for.encode(np.array([7, 8, 9, 10], np.int32), "int32"))
    buf[-4] = 33  # first miniblock width byte: past int32
    with pytest.raises(ValueError, match="bit width 33 > 32"):
        delta_for.decode_stream(bytes(buf) + bytes(33 * 4))


def test_delta_bad_block_header_raises():
    # block_size 128 in 3 miniblocks, then count 5, first 0
    buf = bitpack.uleb128_encode(128) + bytes([3, 5, 0])
    with pytest.raises(ValueError, match="cannot split into 3"):
        delta_for.decode_stream(buf)


def test_delta_header_layout():
    # header := uleb(128) uleb(4) uleb(count) zigzag(first)
    # (src/encodings/encoding.rs:511-533)
    vals = np.array([7, 8, 9, 10], np.int32)
    buf = delta_for.encode(vals, "int32")
    raw = np.frombuffer(buf, np.uint8)
    assert (raw[0], raw[1]) == (128 & 0x7F | 0x80, 1)  # uleb(128) = 0x80 0x01
    v, pos = bitpack.uleb128_decode(raw, 2)
    assert v == 4  # num mini blocks
    v, pos = bitpack.uleb128_decode(raw, pos)
    assert v == 4  # total count
    v, pos = bitpack.uleb128_decode(raw, pos)
    assert bitpack.zigzag_decode(v) == 7  # first value
    # block: zigzag(min_delta=1), 4 width bytes (0,0,0,0 -> all deltas equal)
    v, pos = bitpack.uleb128_decode(raw, pos)
    assert bitpack.zigzag_decode(v) == 1
    assert list(raw[pos : pos + 4]) == [0, 0, 0, 0]
    assert pos + 4 == len(raw)  # width-0 miniblocks carry no data


def test_delta_monotone_is_tiny():
    # monotone stream with small steps: ~bits-per-value = width of step range
    vals = np.cumsum(np.ones(4096, np.int64)).astype(np.int32)  # step == 1
    buf = delta_for.encode(vals, "int32")
    assert len(buf) < 200  # 32 blocks x ~6 bytes + header
