"""Loud-failure guards: misuse and overflow paths must raise clean
ValueErrors instead of silently corrupting data (ADVICE r2 items: int64
float64-detour rounding, int32 Arrow-offset wraparound)."""

import numpy as np
import pandas as pd
import pytest

from engine.jobs import decode as decode_job
from engine.jobs import encode as encode_job


def test_scalar_int64_float_detour_raises():
    """Nullable int64 that bypassed encode_table's validity-companion split
    arrives as float64; inexact values must fail loudly, not round."""
    pdf = pd.DataFrame(
        {
            "chunk_id": ["c"] * 3,
            "doc_id": ["a", "b", "c"],
            "v": [1.0, 3.5, 2.0],  # 3.5 cannot be an int64
        }
    )
    with pytest.raises(ValueError, match="lossy"):
        encode_job._encode_group(pdf, {"v": ("int64", None)})


def test_scalar_int64_exact_floats_pass():
    pdf = pd.DataFrame(
        {
            "chunk_id": ["c"] * 3,
            "doc_id": ["a", "b", "c"],
            "v": [1.0, np.nan, float(2**60)],  # all representable exactly
        }
    )
    out = encode_job._encode_group(pdf, {"v": ("int64", None)})
    assert out["null_count"].iloc[0] == 1


def test_list_int64_float_detour_raises():
    pdf = pd.DataFrame(
        {
            "chunk_id": ["c"] * 2,
            "doc_id": ["a", "b"],
            "v": [np.array([1.0, 2.5]), np.array([3.0])],
        }
    )
    with pytest.raises(ValueError, match="lossy"):
        encode_job._encode_group(pdf, {"v": ("list:int64", None)})


def test_nan_survives_null_free_chunk(spark):
    """A float chunk with NaN but ZERO nulls must still return NaN as a
    VALUE: Spark's serializer masks plain numpy series with isnull() (NaN
    included), so the decode path must hand back a masked extension array
    even when nothing is null."""
    from pyspark.sql import functions as F

    df = spark.range(0, 100).select(
        F.col("id").alias("event_id"),
        F.lit("g").alias("grp"),
        F.when(F.col("id") % 7 == 0, F.lit(float("nan")))
        .otherwise(F.col("id").cast("double"))
        .alias("v"),
    )
    cols = encode_job.derive_columns(df)
    chunks = encode_job.encode_table(
        df, columns=cols, rows_per_bucket=512,
        bucket_key="grp", salt_col="event_id", sort_col="event_id",
    )
    assert chunks.where(F.col("column") == "v").first()["null_count"] == 0
    out = decode_job.decode_table(chunks, cols)
    n_nan = out.where(F.isnan("v")).count()
    n_null = out.where(F.col("v").isNull()).count()
    assert (n_nan, n_null) == (15, 0)


def test_ivf_assign_null_embedding_fails_loudly(spark):
    from engine.ops import simsearch

    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, None)], "vec_id long, embedding array<double>"
    )
    cents = np.array([[0.0, 0.0], [1.0, 1.0]])
    with pytest.raises(Exception, match="NULL embedding"):
        simsearch.ivf_assign(df, cents).collect()


def test_string_offsets_overflow_guard():
    """Concatenated byte-array payload past 2^31 bytes must raise, not wrap
    int32 Arrow offsets into silently corrupt values."""
    lengths = np.array([1 << 31], dtype=np.int64)
    with pytest.raises(ValueError, match="2\\^31"):
        decode_job._string_array_from_flat(lengths, b"")


def test_agg_group_missing_column_row_names_colocation():
    """decode_tokens_agg(colocated=True) on re-partitioned chunks sees a
    chunk without all of its tokens/n_tok/doc_id rows: the error must name
    the chunk and the broken co-location, not raise a bare KeyError."""
    import pyarrow as pa

    from engine import chunk

    tbl = pa.table(
        {
            "chunk_id": ["c7", "c7"],
            "column": ["n_tok", "doc_id"],
            "n_docs": [1, 1],
            "payload": [
                chunk.encode_chunk(np.array([2], np.int32), "plain"),
                chunk.encode_chunk(
                    (np.array([1], np.int64), b"a"), "plain_ba", "bytes"
                ),
            ],
        }
    )
    with pytest.raises(ValueError, match="'c7' incomplete in partition.*colocated=False"):
        decode_job._agg_group(tbl)


def test_one_chunk_error_names_column_and_kind():
    import pyarrow as pa

    tbl = pa.table({"toks": pa.chunked_array([[[1]], [[2]]], pa.list_(pa.int32()))})
    with pytest.raises(ValueError, match="'toks' \\(int32_list\\) exceeds 2\\^31 list values"):
        encode_job._one_chunk(tbl, "toks", "int32_list")
    tbl = pa.table({"doc": pa.chunked_array([["a"], ["b"]])})
    with pytest.raises(ValueError, match="'doc' \\(bytes\\) exceeds 2\\^31 bytes"):
        encode_job._one_chunk(tbl, "doc", "bytes")


def test_list_int64_object_nulls_stay_exact():
    """Object lists mixing exact big ints with None keep int64 precision:
    Arrow preserves the integers alongside element validity, and the encode
    path must shred from those buffers instead of the float64+NaN hop that
    would trip the 2^53 guard on values it used to encode exactly (r4
    review finding)."""
    from engine import chunk

    big = 2**60 + 12345  # NOT float64-representable
    pdf = pd.DataFrame(
        {
            "chunk_id": ["c"] * 2,
            "doc_id": ["a", "b"],
            "v": [[big, None, 7], [None, big + 1]],
        }
    )
    out = encode_job._encode_group(pdf, {"v": ("list:int64", None)})
    row = out[out["column"] == "v"].iloc[0]
    assert row["null_count"] == 0  # no null LISTS (element nulls are inner)
    lengths, (values, elem_valid) = chunk.decode_chunk(row["payload"])
    np.testing.assert_array_equal(lengths, [3, 2])
    np.testing.assert_array_equal(
        elem_valid, [True, False, True, False, True]
    )
    np.testing.assert_array_equal(values[elem_valid], [big, 7, big + 1])


def test_list_int64_uint64_overflow_raises():
    """Ints above int64 max must fail loudly, never wrap negative (r4
    review #2). Two entry shapes: Python-int object lists die at Arrow
    inference (converted to a contextual ValueError); numpy uint64-array
    children infer list<uint64> and must be caught before the signed
    astype would wrap them."""
    pdf = pd.DataFrame(
        {
            "chunk_id": ["c"] * 2,
            "doc_id": ["a", "b"],
            "v": [[2**63 + 5, None], [1]],
        }
    )
    with pytest.raises(ValueError, match="int64"):
        encode_job._encode_group(pdf, {"v": ("list:int64", None)})
    pdf2 = pd.DataFrame(
        {
            "chunk_id": ["c"] * 2,
            "doc_id": ["a", "b"],
            "v": [
                np.array([2**63 + 5], np.uint64),
                np.array([1], np.uint64),
            ],
        }
    )
    with pytest.raises(ValueError, match="out of range"):
        encode_job._encode_group(pdf2, {"v": ("list:int64", None)})


def test_list_int32_narrowing_overflow_raises():
    """int64 children narrowing to list:int32 must fail loudly, not wrap
    (r4 third review: 2**40 silently became 0)."""
    pdf = pd.DataFrame(
        {
            "chunk_id": ["c"] * 2,
            "doc_id": ["a", "b"],
            "v": [[2**40], [1]],
        }
    )
    with pytest.raises(ValueError, match="out of range"):
        encode_job._encode_group(pdf, {"v": ("list:int32", None)})
    # negative out-of-range too
    pdf2 = pdf.copy(); pdf2["v"] = [[-(2**40)], [1]]
    with pytest.raises(ValueError, match="out of range"):
        encode_job._encode_group(pdf2, {"v": ("list:int32", None)})


def test_decode_ppm_negative_dims_raise():
    """Negative width/height tokens must raise, not produce an inferred-
    shape garbage array (r4 third review)."""
    from engine.ops import multimodal as M

    for hdr in (b"P5 -1 1 255 ", b"P6 -1 1 255 ", b"P6 2 -3 255 "):
        with pytest.raises(ValueError, match="netpbm|dimensions"):
            M.decode_ppm(hdr + bytes(32))
