"""The two Spark workloads: ``corpus_roundtrip`` (the paper's tokenized
corpus through ``encode_table`` / ``decode_chunks``) and ``table_roundtrip``
(a generic nullable table through ``encode_table`` / ``decode_table``).

A round is two passes, each started after the previous one finished and
was checked. The encode pass reads the input files written at set-up and
writes the chunk rows to files; the decode pass reads those files. Each
pass ends with the Spark cache cleared, so no pass can read another's
cached data.
"""

from __future__ import annotations

import os
import time

import numpy as np

from .harness import digest_files
from .sparkstats import last_execution_id


def content_checksum(hash_cols, extra=()):
    """Order-independent checksum aggregates: row count and the sums of the
    low and high halves of each row's xxhash64 (two sums, so the 64-bit
    hash is kept without overflowing a long)."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*hash_cols)
    return [
        F.count(F.lit(1)),
        F.sum(h.bitwiseAND(0xFFFFFFFF)),
        F.sum(F.shiftrightunsigned(h, 32)),
        *extra,
    ]


class SparkRoundtrip:
    uses_spark = True
    setup_reps = 3
    warmup_rounds = 2  # JIT and Python-worker warm-up runs ~2 rounds past the cold one
    stored_bytes = None

    def load(self, sh, in_dir, out_dir):
        """Paths, and the expected checksums of the input (one Spark job,
        outside set-up: it is the benchmark's check, not engine work)."""
        self.input = os.path.join(in_dir, "input")
        self.chunks = os.path.join(out_dir, "chunks")

    def _pass(self, tr, kind, build, action):
        """Time one pass: ``build`` makes the DataFrame (the calls into the
        engine's job module), ``action`` runs it. Traced, query planning
        gets its own span before the action."""
        t = time.perf_counter()
        with tr.span("pass", kind=kind):
            with tr.span(f"jobs.{kind}"):
                df = build()
            if tr.enabled:
                with tr.span("spark.plan"):
                    df._jdf.queryExecution().executedPlan()
            with tr.span("spark.execute"):
                out = action(df)
        return time.perf_counter() - t, out

    def run_round(self, sh, tr, checks, i):
        spark = sh.spark
        r = {"marks": [last_execution_id(spark)], "cache_left": []}
        try:
            r["encode_s"], _ = self._pass(
                tr, "encode",
                lambda: self.encode_df(spark.read.parquet(self.input)),
                lambda df: df.write.mode("overwrite").parquet(self.chunks),
            )
            r["marks"].append(last_execution_id(spark))
            r["cache_left"].append(sh.clear_cache())
            self.check_chunks(spark, checks)
            r["marks"].append(last_execution_id(spark))
            r["decode_s"], row = self._pass(
                tr, "decode",
                lambda: self.decode_df(spark.read.parquet(self.chunks)),
                lambda df: df.collect()[0],
            )
            r["marks"].append(last_execution_id(spark))
            r["cache_left"].append(sh.clear_cache())
            checks.check(tuple(row) == self.expected,
                         f"round {i}: decoded checksum {tuple(row)} != {self.expected}")
        except Exception as e:  # noqa: BLE001 — a failed pass is counted, the loop goes on
            checks.error(f"round {i}", e)
            r.setdefault("encode_s", float("nan"))
            r.setdefault("decode_s", float("nan"))
        return r

    def check_chunks(self, spark, checks):
        """The encode output covers every input row and value, and its
        stored size is the same on every pass (chunk bytes are a pure
        function of the input)."""
        from pyspark.sql import functions as F

        own = F.col("column") == self.size_column
        stored = F.col("enc_bytes") if self.store_all_columns else F.when(own, F.col("enc_bytes"))
        row = spark.read.parquet(self.chunks).agg(
            F.sum(F.when(own, F.col("n_values"))),
            F.sum(F.when(own, F.col("n_docs"))),
            F.sum(stored),
        ).collect()[0]
        ok = (row[0], row[1]) == (self.n_values, self.expected[0])
        checks.check(ok, f"chunk counts {row[0]}, {row[1]} != {self.n_values}, {self.expected[0]}")
        if self.stored_bytes is None:
            self.stored_bytes = int(row[2])
        else:
            checks.check(int(row[2]) == self.stored_bytes,
                         f"encoded size changed: {row[2]} != {self.stored_bytes}")


def write_corpus(docs: int, seed: int, path: str) -> None:
    """The rows of ``engine.datagen.generate_spark(spark, docs, seed)`` —
    20k-doc slices, slice k drawn with seed + k — generated in this process
    and written as parquet, so set-up starts no Python worker and the first
    encode pass pays that start, as a one-shot job does."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from engine import datagen

    os.makedirs(path, exist_ok=True)
    slice_docs = 20_000
    for k in range(-(-docs // slice_docs)):
        pdf = datagen.generate_pandas(min(slice_docs, docs - k * slice_docs), seed=seed + k)
        pdf["doc_id"] = pdf["doc_id"] + f"-s{k:05d}"
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       os.path.join(path, f"part-{k:05d}.parquet"))


class CorpusRoundtrip(SparkRoundtrip):
    """``engine.datagen`` corpus: five skewed sources, one codec regime each.
    ``bytes_per_raw_byte`` and the sizes count the ``tokens`` column, the
    paper's payload (raw = 4 bytes per int32 token)."""

    name = "corpus_roundtrip"
    size_column = "tokens"
    store_all_columns = False

    def __init__(self, docs: int, source: str | None = None):
        self.docs = docs
        self.source = source  # prebuilt corpus-shaped parquet, else datagen
        self.rows_per_bucket = max(512, docs // 128)

    def build_inputs(self, sh, seed, d):
        path = os.path.join(d, "input")
        if self.source is None:
            write_corpus(self.docs, seed, path)
        else:
            sh.spark.read.parquet(self.source).write.mode("overwrite").parquet(path)
        return digest_files(path)

    def load(self, sh, in_dir, out_dir):
        from pyspark.sql import functions as F

        super().load(sh, in_dir, out_dir)
        row = sh.spark.read.parquet(self.input).agg(
            *content_checksum(["doc_id", "tokens"], [F.sum("n_tok")])
        ).collect()[0]
        self.expected = tuple(row)[:3]
        self.n_values = self.tokens = int(row[3])
        self.docs = int(row[0])
        self.raw_bytes = 4 * self.tokens

    def encode_df(self, df):
        from engine.jobs import encode

        return encode.encode_table(df, rows_per_bucket=self.rows_per_bucket)

    def decode_df(self, chunks):
        from engine.jobs import decode

        return decode.decode_chunks(chunks).agg(*content_checksum(["doc_id", "tokens"]))

    def describe_inputs(self):
        return {"docs": self.docs, "tokens": self.tokens,
                "raw_mb": self.raw_bytes / 1e6, "rows_per_bucket": self.rows_per_bucket}

    def extra_metrics(self, rounds, enc, dec):
        return {
            "encode_tokens_per_s": (self.tokens / enc, "tokens/s"),
            "decode_tokens_per_s": (self.tokens / dec, "tokens/s"),
            "bytes_per_token": (self.stored_bytes / self.tokens, "B/token"),
        }

    def skew_input(self, spark):
        return spark.read.parquet(self.input), "source", "doc_id", self.rows_per_bucket

    def layer_samples(self, cap):
        """Token streams per source and the two string columns, from the
        input files (for the per-layer codec probes)."""
        import pyarrow.parquet as pq

        t = pq.read_table(self.input, columns=["doc_id", "tokens", "source"])
        src = t.column("source").to_numpy(zero_copy_only=False)
        toks = t.column("tokens").combine_chunks()
        offs = toks.offsets.to_numpy()
        flat = toks.values.to_numpy()
        ints = []
        for s in sorted(set(src)):
            rows = np.flatnonzero(src == s)
            parts, n = [], 0
            for j in rows:
                parts.append(flat[offs[j]:offs[j + 1]])
                n += len(parts[-1])
                if n >= cap:
                    break
            ints.append((f"tokens.{s}", np.concatenate(parts)[:cap].astype(np.int32)))
        k = cap // 16
        ids = np.sort(t.column("doc_id").to_numpy(zero_copy_only=False))[:k]
        return {"int": ints, "ba": [("doc_id.sorted", list(ids)), ("source", list(src[:k]))]}


def make_table(rows: int, seed: int):
    """Generic table with the shapes the corpus never has: nullable int64
    (beyond 2^53), float64 holding both NaN and NULL, nullable low-card
    strings, bool, timestamp, and list<int64> with null elements."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    grp = rng.choice(np.array(list("abcdefgh")), rows,
                     p=[0.4, 0.2, 0.12, 0.1, 0.08, 0.05, 0.03, 0.02])
    i64 = rng.integers(-(1 << 62), 1 << 62, rows)
    i64[: rows // 3] = rng.integers(0, 1000, rows // 3)
    f64 = rng.normal(100.0, 30.0, rows).round(2)
    f64[rng.random(rows) < 0.05] = np.nan
    tags = np.array([f"tag-{k:03d}" for k in range(60)])
    lens = rng.integers(0, 9, rows)
    elems = rng.integers(0, 1 << 40, int(lens.sum()))
    enull = rng.random(elems.size) < 0.03
    li = pa.ListArray.from_arrays(
        pa.array(np.concatenate(([0], np.cumsum(lens))), pa.int32()),
        pa.array(elems, pa.int64(), mask=enull),
    )
    return pa.table({
        "id": pa.array(np.arange(rows, dtype=np.int64) * 3 + 1),
        "grp": pa.array(grp),
        "i64": pa.array(i64, mask=rng.random(rows) < 0.1),
        "f64": pa.array(f64, mask=rng.random(rows) < 0.05),
        "tag": pa.array(tags[rng.zipf(1.5, rows) % 60], mask=rng.random(rows) < 0.08),
        "flag": pa.array(rng.random(rows) < 0.3),
        "ts": pa.array(1_700_000_000_000_000 + np.cumsum(rng.integers(0, 5_000_000, rows)),
                       pa.timestamp("us", tz="UTC")),
        "li": li,
    })


class TableRoundtrip(SparkRoundtrip):
    """Generic table through ``derive_columns``, the validity companions
    and the pandas encode/decode paths. Raw bytes are the Arrow buffer size
    of the generated table; the stored size counts every column's chunks."""

    name = "table_roundtrip"
    size_column = "id"
    store_all_columns = True

    def __init__(self, rows: int):
        self.rows = rows
        self.rows_per_bucket = max(1024, rows // 64)

    def build_inputs(self, sh, seed, d):
        import pyarrow.parquet as pq

        tbl = make_table(self.rows, seed)
        path = os.path.join(d, "input")
        os.makedirs(path, exist_ok=True)
        pq.write_table(tbl, os.path.join(path, "part-0.parquet"), row_group_size=1 << 16)
        self.raw_bytes = tbl.nbytes
        return digest_files(path)

    def load(self, sh, in_dir, out_dir):
        from engine.jobs import encode

        super().load(sh, in_dir, out_dir)
        df = sh.spark.read.parquet(self.input)
        self.columns = encode.derive_columns(df)
        self.expected = tuple(df.agg(*self._checksum()).collect()[0])
        self.n_values = self.rows

    def _checksum(self):
        """Per-row hash over every column plus its null flag (and each list
        element's null flag), with NaN and NULL counted apart."""
        from pyspark.sql import functions as F

        names = ["id", "grp", "i64", "f64", "tag", "flag", "ts", "li"]
        cols = [F.col(c) for c in names] + [F.col(c).isNull() for c in names]
        cols.append(F.transform("li", lambda x: x.isNull()))
        return content_checksum(cols, [
            F.sum(F.isnan("f64").cast("long")),
            F.sum(F.col("f64").isNull().cast("long")),
        ])

    def encode_df(self, df):
        from engine.jobs import encode

        return encode.encode_table(
            df, columns=self.columns, rows_per_bucket=self.rows_per_bucket,
            bucket_key="grp", salt_col="id", sort_col="id",
        )

    def decode_df(self, chunks):
        from engine.jobs import decode

        return decode.decode_table(chunks, self.columns).agg(*self._checksum())

    def describe_inputs(self):
        return {"rows": self.rows, "raw_mb": self.raw_bytes / 1e6,
                "rows_per_bucket": self.rows_per_bucket}

    def extra_metrics(self, rounds, enc, dec):
        return {"encode_rows_per_s": (self.rows / enc, "rows/s"),
                "decode_rows_per_s": (self.rows / dec, "rows/s")}

    def skew_input(self, spark):
        return spark.read.parquet(self.input), "grp", "id", self.rows_per_bucket

    def layer_samples(self, cap):
        import pyarrow.parquet as pq

        t = pq.read_table(self.input).slice(0, cap)
        i64 = t.column("i64").drop_null().to_numpy()
        li = t.column("li").combine_chunks().flatten().drop_null().to_numpy()
        tag = t.column("tag").drop_null().to_pylist()[: cap // 16]
        grp = t.column("grp").to_pylist()[: cap // 16]
        return {"int": [("i64", i64), ("li.elements", li), ("id", t.column("id").to_numpy())],
                "ba": [("tag", tag), ("grp", grp)]}
