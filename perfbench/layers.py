"""Per-layer metrics of a traced run, measured from outside each module by
timing calls into its public functions on samples of the workload's own
inputs, and by reading Spark's SQL metrics for the workload's passes.

Every workload reports every layer. The two Spark-free workloads get their
Spark-layer numbers from one extra corpus-shaped round trip of their own
integer samples, run after the timed rounds.
"""

from __future__ import annotations

import os
import time

import numpy as np

from .harness import SparkHandle, Tracer, measured, median, tracing_overhead
from .local_workloads import ParquetFile, flat_strings

INT_CODECS = ("plain", "dict", "rle", "bitpack", "delta")
BA_CODECS = ("plain_ba", "dict_ba", "delta_length_ba", "delta_ba", "fsst")
SAMPLE_CAP = 1 << 18  # values per integer sample; strings take 1/16 of it
PROBE_ROWS = 1 << 16
PROBE_QUERIES = 20
_HEADER = 36  # chunk frame header bytes

UNITS = {
    **{f"codecs.{c}.{m}": u for c in INT_CODECS + BA_CODECS for m, u in (
        ("encode_mb_per_s", "MB/s"), ("decode_mb_per_s", "MB/s"),
        ("bytes_per_value", "B/value"))},
    "selector.us_per_chunk": "us",
    "selector.best_pick_frac": "fraction",
    "selector.regret_frac": "fraction",
    "selector.estimate_error_frac": "fraction",
    "chunk.frame_overhead_frac": "fraction",
    "chunk.crc_verify_frac": "fraction",
    "compression.zstd.compress_mb_per_s": "MB/s",
    "compression.zstd.decompress_mb_per_s": "MB/s",
    "parquet_out.write_s": "s",
    "parquet_compat.footer_s": "s",
    "parquet_compat.read_s.flat": "s",
    "parquet_compat.read_s.bytes": "s",
    "parquet_compat.read_s.list": "s",
    "parquet_compat.pages_read_frac": "fraction",
    "parquet_compat.rows_kept_frac": "fraction",
    "parquet_compat.pruned_read_p50_ms": "ms",
    "skew.plan_s": "s",
    "skew.buckets": "count",
    "skew.max_over_mean_bucket_rows": "ratio",
    "jobs.encode.s": "s",
    "jobs.decode.s": "s",
    "jobs.encode.input_scans": "count",
    "spark.python_start_s": "s",
    "spark.python_init_s": "s",
    "spark.python_run_s": "s",
    "spark.python_bytes_sent": "B",
    "spark.python_bytes_recv": "B",
    "spark.scan_s": "s",
    "spark.sort_s": "s",
    "spark.shuffle_bytes_written": "B",
    "spark.shuffle_write_s": "s",
    "spark.plan_s": "s",
    "spark.tasks": "count",
    "spark.persisted_rdds_after": "count",
    "spark.cache_scans": "count",
    "trace.overhead_frac": "fraction",
    "trace.pass_coverage": "fraction",
}


def _timed(fn, *args, reps: int = 1, **kw):
    """(result, best wall of ``reps`` calls)."""
    best = float("inf")
    for _ in range(reps):
        t = time.perf_counter()
        out = fn(*args, **kw)
        best = min(best, time.perf_counter() - t)
    return out, best


def _dtype(v: np.ndarray) -> str:
    return "int64" if v.dtype.itemsize == 8 else "int32"


def measure(wl, sh, rounds, tracer, checks, work_dir, seed) -> dict:
    samples = wl.layer_samples(SAMPLE_CAP)
    ints = [(n, np.ascontiguousarray(v)) for n, v in samples["int"]]
    bas = [(n, flat_strings(v)) for n, v in samples["ba"]]
    out = {}
    blobs = codec_layers(ints, bas, checks, out)
    compression_layer(blobs, checks, out)
    parquet_layers(wl, ints, bas, work_dir, checks, out)
    spark_layers(wl, sh, rounds, ints, work_dir, seed, checks, out)
    if wl.uses_spark:
        out["spark.plan_s"] = plan_s(tracer)
    trace_layer(rounds, tracer, out)
    return {k: (out[k], UNITS[k]) for k in UNITS}


def codec_layers(ints, bas, checks, out) -> list[bytes]:
    """Force every codec through ``chunk.encode_chunk``/``decode_chunk`` on
    every sample, then score the selector's picks against the actual sizes.
    Returns the auto-selected chunk blobs."""
    from engine import chunk, selector
    from engine.codecs import bytearrays, delta_for, dictionary, plain

    from .local_workloads import same_values

    streams = [(n, _dtype(v), v, 4 * v.size if _dtype(v) == "int32" else 8 * v.size)
               for n, v in ints]
    streams += [(n, "bytes", v, int(v[0].sum()) + 4 * len(v[0])) for n, v in bas]
    sizes: dict[tuple, int] = {}
    for codec in INT_CODECS + BA_CODECS:
        enc_t = dec_t = raw = nvals = stored = 0
        for name, dtype, v, nbytes in streams:
            if (dtype == "bytes") != (codec in BA_CODECS):
                continue
            blob, te = _timed(chunk.encode_chunk, v, codec, dtype)
            got, td = _timed(chunk.decode_chunk, blob)
            checks.check(same_values(v, got, dtype), f"codecs.{codec}: {name} decoded differently")
            sizes[name, codec] = len(blob)
            enc_t, dec_t, raw, stored = enc_t + te, dec_t + td, raw + nbytes, stored + len(blob)
            nvals += len(v[0]) if dtype == "bytes" else v.size
        out[f"codecs.{codec}.encode_mb_per_s"] = raw / 1e6 / enc_t
        out[f"codecs.{codec}.decode_mb_per_s"] = raw / 1e6 / dec_t
        out[f"codecs.{codec}.bytes_per_value"] = stored / nvals

    picks, sel_t, est_err, blobs = [], 0.0, [], []
    for name, dtype, v, _ in streams:
        pick, t = _timed(chunk.auto_codec, v, dtype)
        sel_t += t
        family = BA_CODECS if dtype == "bytes" else selector.INT_CANDIDATES
        actual = {c: sizes[name, c] for c in family}
        picks.append((actual[pick], min(actual.values())))
        if dtype != "bytes":
            _, _, est = selector.select_codec(v)
            est_err.append(abs(est[pick] - (actual[pick] - _HEADER)) / (actual[pick] - _HEADER))
        blobs.append(chunk.encode_chunk(v, pick, dtype))
    out["selector.us_per_chunk"] = 1e6 * sel_t / len(streams)
    out["selector.best_pick_frac"] = sum(a == b for a, b in picks) / len(picks)
    out["selector.regret_frac"] = sum(a - b for a, b in picks) / sum(b for _, b in picks)
    out["selector.estimate_error_frac"] = float(np.mean(est_err)) if est_err else 0.0

    # frame overhead: encode_chunk against the bare codec call it wraps
    direct = {
        "plain": lambda v, dt: plain.encode(v, dt),
        "delta": lambda v, dt: delta_for.encode(v, dt),
        "dict": lambda v, dt: dictionary.encode(v, dt),
        "plain_ba": lambda v, dt: plain.encode_byte_arrays(*v),
        "delta_length_ba": lambda v, dt: bytearrays.encode_delta_length(*v),
        "delta_ba": lambda v, dt: bytearrays.encode_delta_byte_array(*v),
    }
    framed = bare = 0.0
    for codec, fn in direct.items():
        for _, dtype, v, _ in streams:
            if (dtype == "bytes") == (codec in BA_CODECS):
                framed += _timed(chunk.encode_chunk, v, codec, dtype, reps=3)[1]
                bare += _timed(fn, v, dtype, reps=3)[1]
    out["chunk.frame_overhead_frac"] = (framed - bare) / framed
    # CRC share of decode: alternate verified and unverified decodes of each
    # blob and keep the best of each, so drift hits both sides alike
    with_crc = without = 0.0
    for b in blobs:
        best = [float("inf"), float("inf")]
        for _ in range(5):
            for k, verify in enumerate((True, False)):
                best[k] = min(best[k], _timed(chunk.decode_chunk, b, verify)[1])
        with_crc, without = with_crc + best[0], without + best[1]
    out["chunk.crc_verify_frac"] = (with_crc - without) / with_crc
    return blobs


def compression_layer(blobs, checks, out):
    from engine import compression

    zstd = compression.create_codec("zstd")
    raw = sum(len(b) for b in blobs)
    comp, tc = [], 0.0
    for b in blobs:
        c, t = _timed(zstd.compress, b)
        comp.append(c)
        tc += t
    td = 0.0
    for b, c in zip(blobs, comp):
        d, t = _timed(zstd.decompress, c)
        td += t
        checks.check(bytes(d) == b, "compression.zstd round trip")
    out["compression.zstd.compress_mb_per_s"] = raw / 1e6 / tc
    out["compression.zstd.decompress_mb_per_s"] = raw / 1e6 / td


def _probe_file(wl, ints, bas, work_dir):
    """(write, path, key column, (flat, bytes, list) columns, rows, ranges):
    the workload's own file for ``parquet_file``, else a file of the same
    four column shapes built from the workload's samples."""
    from engine import parquet_out

    path = os.path.join(work_dir, "probe.parquet")
    if isinstance(wl, ParquetFile):
        return (lambda: wl.write(path), path, "id", ("id", "s", "l.list.element"),
                wl.rows, wl.ranges[:PROBE_QUERIES])
    ivals = ints[0][1]
    lens, data = bas[0][1]
    n = min(PROBE_ROWS, ivals.size, len(lens))
    off = np.concatenate(([0], np.cumsum(lens[:n])))
    elems = ints[-1][1]
    # list lengths cycle 0..8, cut short where the element sample runs out
    llen = np.resize(np.arange(9), n)
    llen = np.minimum(llen, np.maximum(0, elems.size - np.concatenate(([0], np.cumsum(llen)[:-1]))))
    loff = np.concatenate(([0], np.cumsum(llen))).astype(np.int64)
    cols = [
        ("key", "int64", "DELTA_BINARY_PACKED", np.arange(n, dtype=np.int64), None),
        ("flat", _dtype(ivals), "AUTO", ivals[:n], None),
        ("bytes", "byte_array", "AUTO", (lens[:n], data[: int(off[-1])]), None),
        ("list", f"list<{_dtype(elems)}>", "PLAIN", (loff, elems[: int(loff[-1])], None), None),
    ]
    rng = np.random.default_rng(n)
    ranges = [(int(lo), int(lo) + n // 100) for lo in rng.integers(0, n - n // 100, PROBE_QUERIES)]

    def write():
        return parquet_out.write_table(path, cols, codec="zstd", page_size_rows=2048,
                                       sorting_columns=[("key", False, False)])
    return write, path, "key", ("flat", "bytes", "list.list.element"), n, ranges


def parquet_layers(wl, ints, bas, work_dir, checks, out):
    from engine import parquet_compat

    os.makedirs(work_dir, exist_ok=True)
    write, path, key, (flat, byt, lst), rows, ranges = _probe_file(wl, ints, bas, work_dir)
    out["parquet_out.write_s"] = _timed(write)[1]
    out["parquet_compat.footer_s"] = _timed(parquet_compat.read_file_info, path, reps=3)[1]
    for kind, col in (("flat", flat), ("bytes", byt), ("list", lst)):
        got, t = _timed(parquet_compat.read_table, path, columns=[col])
        checks.check(len(got[col][1]) == rows, f"parquet_compat.read_table({col}) row count")
        out[f"parquet_compat.read_s.{kind}"] = t
    ids = parquet_compat.read_table(path, columns=[key])[key][0]
    lat, pr_sum, pt_sum, kept, decoded = [], 0, 0, 0, 0.0
    for lo, hi in ranges:
        (got, pr, pt), t = _timed(parquet_compat.read_table_pruned, path, (key, lo, hi))
        lat.append(1e3 * t)
        want = int(((ids >= lo) & (ids <= hi)).sum())
        checks.check(len(got[key][0]) == want, f"read_table_pruned({lo}, {hi}) row count")
        pr_sum, pt_sum, kept, decoded = pr_sum + pr, pt_sum + pt, kept + want, decoded + pr / pt * rows
    out["parquet_compat.pages_read_frac"] = pr_sum / pt_sum
    out["parquet_compat.rows_kept_frac"] = kept / decoded
    out["parquet_compat.pruned_read_p50_ms"] = median(lat)


def _spark_rounds_metrics(sh, rounds, skew_input, out):
    from engine import skew

    from . import sparkstats

    spark = sh.spark

    def stats(r):  # (encode pass, decode pass) SQL metrics of one round
        m = r["marks"]
        return sparkstats.summarize(spark, m[0], m[1]), sparkstats.summarize(spark, m[2], m[3])

    done = [r for r in rounds if len(r.get("marks", ())) == 4]
    cold = stats(done[0])
    per_round = [stats(r) for r in measured(done)]

    def mean(k):
        return float(np.mean([e[k] + d[k] for e, d in per_round]))

    for k in sparkstats.NAMES:
        out[f"spark.{k}"] = mean(k)
    # worker start-up is paid in the cold round; warm rounds reuse the workers
    for k in ("python_start_s", "python_init_s"):
        out[f"spark.{k}"] = cold[0][k] + cold[1][k]
    out["spark.tasks"] = mean("tasks")
    out["spark.cache_scans"] = sum(
        e["cache_scans"] + d["cache_scans"] for e, d in [cold] + per_round)
    out["jobs.encode.input_scans"] = float(np.mean([e["input_scans"] for e, _ in per_round]))
    out["spark.persisted_rdds_after"] = max(
        x["persisted_rdds"] for r in rounds for x in r.get("cache_left", []))
    warm = measured(rounds)
    out["jobs.encode.s"] = median([r["encode_s"] for r in warm])
    out["jobs.decode.s"] = median([r["decode_s"] for r in warm])

    from pyspark.sql import functions as F

    df, key, salt, rpb = skew_input
    _, out["skew.plan_s"] = _timed(
        lambda: skew.plan_buckets(df, key=key, salt_col=salt, rows_per_bucket=rpb).count())
    out["skew.buckets"] = skew.bucket_counts(df, key, rpb).agg(F.sum("bucket_n")).collect()[0][0]
    row = (skew.plan_buckets(df, key=key, salt_col=salt, rows_per_bucket=rpb)
           .groupBy("chunk_id").count().agg(F.max("count"), F.avg("count")).collect()[0])
    out["skew.max_over_mean_bucket_rows"] = row[0] / row[1]
    sh.clear_cache()


def spark_layers(wl, sh, rounds, ints, work_dir, seed, checks, out):
    if wl.uses_spark:
        _spark_rounds_metrics(sh, rounds, wl.skew_input(sh.spark), out)
        return
    # no Spark in the workload: one corpus-shaped round trip of its samples
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .spark_workloads import CorpusRoundtrip

    docs, src, toks = [], [], []
    for name, v in ints:
        v = v.astype(np.int32)  # tokens are int32; a wider sample wraps, still valid data
        for k, part in enumerate(np.array_split(v, max(1, v.size // 512))):
            docs.append(f"{name}-{k:06d}")
            src.append(name)
            toks.append(part)
    path = os.path.join(work_dir, "spark_probe_source")
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": docs,
        "tokens": pa.array(toks, pa.list_(pa.int32())),
        "n_tok": pa.array([len(t) for t in toks], pa.int32()),
        "source": src,
    }), os.path.join(path, "part-0.parquet"))
    probe = CorpusRoundtrip(len(docs), source=path)
    psh = SparkHandle(work_dir)
    try:
        probe.build_inputs(psh, seed, os.path.join(work_dir, "spark_probe_in"))
        probe.load(psh, os.path.join(work_dir, "spark_probe_in"),
                   os.path.join(work_dir, "spark_probe_out"))
        tr = Tracer(True)
        prounds = []
        for i in range(3):
            with tr.span("round", index=i):
                r = probe.run_round(psh, tr, checks, i)
            r["phase"] = "measured" if i else "cold"
            prounds.append(r)
        _spark_rounds_metrics(psh, prounds, probe.skew_input(psh.spark), out)
        out["spark.plan_s"] = plan_s(tr)
    finally:
        psh.stop()


def plan_s(tracer) -> float:
    """Query planning time per traced round (the ``spark.plan`` spans)."""
    plans = [s["end"] - s["start"] for s in tracer.spans if s["name"] == "spark.plan"]
    n = sum(1 for s in tracer.spans if s["name"] == "round")
    return sum(plans) / max(1, n)


def trace_layer(rounds, tracer, out):
    out["trace.overhead_frac"] = tracing_overhead(rounds)["overhead_frac"]
    spans = tracer.spans
    cover = []
    for s in spans:
        if s["name"] == "pass":
            kids = sum(c["end"] - c["start"] for c in spans if c["parent"] == s["id"])
            cover.append(kids / (s["end"] - s["start"]))
    out["trace.pass_coverage"] = min(cover) if cover else 0.0
