"""The two single-process workloads, run on one thread with no Spark:
``codec_kernels`` (chunk framing, codecs and selector) and ``parquet_file``
(the parquet writer and reader)."""

from __future__ import annotations

import os
import time

import numpy as np

from .harness import digest

REGIMES = ("zipf", "lowcard1000", "monotone", "smallrange", "runs", "fullrange")


def flat_strings(values: list) -> tuple[np.ndarray, bytes]:
    enc = [v.encode() if isinstance(v, str) else v for v in values]
    return np.fromiter(map(len, enc), np.int64, len(enc)), b"".join(enc)


def _words(rng, n: int) -> list[str]:
    """Short phrases over a zipf-distributed vocabulary. The vocabulary is
    the same for every seed, so the seed changes which words are drawn but
    not how compressible they are."""
    fixed = np.random.default_rng(0)
    letters = np.array(list("etaoinshrdlucmfwypvbgkqjxz"))
    vocab = ["".join(fixed.choice(letters, int(k))) for k in fixed.integers(2, 10, 4000)]
    picks = (rng.zipf(1.2, 4 * n) - 1) % len(vocab)
    sizes = rng.integers(1, 5, n)
    out, j = [], 0
    for k in sizes:
        out.append(" ".join(vocab[p] for p in picks[j:j + k]))
        j += k
    return out


class CodecKernels:
    """One int32 chunk per ``engine.datagen`` regime and three byte-array
    chunks. A round is an encode pass (``chunk.auto_codec`` then
    ``chunk.encode_chunk`` per chunk) and a decode pass
    (``chunk.decode_chunk`` with checksum verification)."""

    name = "codec_kernels"
    uses_spark = False
    setup_reps = 3
    warmup_rounds = 0
    PIECE = 4096

    def __init__(self, values: int, strings: int):
        self.values = values
        self.strings = strings

    def build_inputs(self, sh, seed, d):
        from engine.datagen import _tokens_for

        rng = np.random.default_rng(seed)
        # each chunk is many doc-sized draws of its regime, as in a corpus
        # bucket, so per-draw parameters (a smallrange width, a monotone
        # base) average out and do not make one seed's chunk unlike another's
        sizes = np.diff(np.r_[0:self.values:self.PIECE, self.values])
        arrays = {f"int.{r}": np.concatenate([_tokens_for(r, int(m), rng) for m in sizes])
                  for r in REGIMES}
        n = self.strings
        ids = sorted(f"doc-{s}-{k:08d}" for s, k in zip(
            rng.choice(["web", "code", "books", "wiki", "chat"], n),
            rng.integers(0, 10 * n, n)))
        tags = [f"tag-{k:02d}" for k in rng.integers(0, 24, n)]
        for name, vals in (("doc_id.sorted", ids), ("words", _words(rng, n)), ("tags", tags)):
            lens, data = flat_strings(vals)
            arrays[f"ba.{name}.lengths"] = lens
            arrays[f"ba.{name}.data"] = np.frombuffer(data, np.uint8)
        os.makedirs(d, exist_ok=True)
        np.savez(os.path.join(d, "kernels.npz"), **arrays)
        return digest(*(k.encode() + arrays[k].tobytes() for k in sorted(arrays)))

    def load(self, sh, in_dir, out_dir):
        with np.load(os.path.join(in_dir, "kernels.npz")) as z:
            arrays = {k: z[k] for k in z.files}
        self.chunks = [(k, "int32", arrays[k]) for k in sorted(arrays) if k.startswith("int.")]
        for k in sorted(arrays):
            if k.startswith("ba.") and k.endswith(".lengths"):
                base = k[: -len(".lengths")]
                self.chunks.append((base, "bytes", (arrays[k], arrays[base + ".data"].tobytes())))
        self.raw_bytes = sum(
            4 * v.size if dt == "int32" else int(v[0].sum()) + 4 * len(v[0])
            for _, dt, v in self.chunks
        )
        self.stored_bytes = None

    def run_round(self, sh, tr, checks, i):
        from engine import chunk

        blobs = []
        t = time.perf_counter()
        with tr.span("pass", kind="encode"):
            for name, dtype, v in self.chunks:
                with tr.span("selector.auto_codec", chunk=name):
                    codec = chunk.auto_codec(v, dtype)
                with tr.span("chunk.encode_chunk", chunk=name, codec=codec):
                    blobs.append(chunk.encode_chunk(v, codec, dtype))
        enc_s = time.perf_counter() - t
        out = []
        t = time.perf_counter()
        with tr.span("pass", kind="decode"):
            for (name, _, _), blob in zip(self.chunks, blobs):
                with tr.span("chunk.decode_chunk", chunk=name):
                    try:
                        out.append(chunk.decode_chunk(blob, verify_checksum=True))
                    except ValueError as e:
                        out.append(e)
        dec_s = time.perf_counter() - t
        for (name, dtype, v), got in zip(self.chunks, out):
            checks.check(same_values(v, got, dtype), f"round {i}: {name} decoded differently")
        stored = sum(len(b) for b in blobs)
        if self.stored_bytes is None:
            self.stored_bytes = stored
        checks.check(stored == self.stored_bytes, f"round {i}: stored size changed")
        return {"encode_s": enc_s, "decode_s": dec_s}

    def describe_inputs(self):
        return {"int32_chunks": {r: self.values for r in REGIMES},
                "byte_array_chunks": {"doc_id.sorted": self.strings, "words": self.strings,
                                      "tags": self.strings},
                "raw_mb": self.raw_bytes / 1e6}

    def extra_metrics(self, rounds, enc, dec):
        return {}

    def layer_samples(self, cap):
        ints = [(n, v[:cap]) for n, dt, v in self.chunks if dt == "int32"]
        ba = []
        for n, dt, (lens, data) in (c for c in self.chunks if c[1] == "bytes"):
            off = np.concatenate(([0], np.cumsum(lens)))
            k = min(len(lens), cap // 16)
            ba.append((n, [data[off[j]:off[j + 1]] for j in range(k)]))
        return {"int": ints, "ba": ba}


def same_values(want, got, dtype) -> bool:
    if isinstance(got, Exception):
        return False
    if dtype == "bytes":
        return np.array_equal(np.asarray(got[0], np.int64), want[0]) and bytes(got[1]) == want[1]
    return got.dtype == want.dtype and np.array_equal(got, want)


class ParquetFile:
    """A parquet file of ``rows`` rows with a sorted int64 DELTA column, a
    nullable AUTO int32 column, a dictionary string column and a
    ``list<int32>`` column, zstd, many pages and a page index. A round is a
    write (encode), a full ``read_table`` (decode) and the next ``queries``
    of ten times as many seeded 1%-range ``read_table_pruned`` queries on
    the sorted column."""

    name = "parquet_file"
    uses_spark = False
    setup_reps = 3
    warmup_rounds = 0
    PAGE_ROWS = 8192

    def __init__(self, rows: int, queries: int):
        self.rows = rows
        self.queries = queries

    def build_inputs(self, sh, seed, d):
        rng = np.random.default_rng(seed)
        n = self.rows
        arrays = {
            "id": np.cumsum(rng.integers(1, 6, n)).astype(np.int64),
            "v": (np.minimum(rng.zipf(1.4, n), 1 << 20) - 1).astype(np.int32),
            "v_valid": rng.random(n) >= 0.1,
            "s": rng.integers(0, 200, n),
            "l_len": rng.integers(0, 9, n),
        }
        arrays["l_val"] = rng.integers(0, 30000, int(arrays["l_len"].sum())).astype(np.int32)
        arrays["q_lo"] = rng.integers(0, n - n // 100, 10 * self.queries)
        os.makedirs(d, exist_ok=True)
        np.savez(os.path.join(d, "parquet_inputs.npz"), **arrays)
        return digest(*(k.encode() + arrays[k].tobytes() for k in sorted(arrays)))

    def load(self, sh, in_dir, out_dir):
        with np.load(os.path.join(in_dir, "parquet_inputs.npz")) as z:
            a = {k: z[k] for k in z.files}
        names = np.array([f"city-{k:03d}-{'x' * (k % 7)}" for k in range(200)])
        self.s_values = names[a["s"]].tolist()
        self.l_offsets = np.concatenate(([0], np.cumsum(a["l_len"]))).astype(np.int64)
        self.a = a
        self.columns = [
            ("id", "int64", "DELTA_BINARY_PACKED", a["id"], None),
            ("v", "int32", "AUTO", a["v"], a["v_valid"]),
            ("s", "utf8", "PLAIN_DICTIONARY", flat_strings(self.s_values), None),
            ("l", "list<int32>", "PLAIN", (self.l_offsets, a["l_val"], None), None),
        ]
        self.raw_bytes = (
            8 * self.rows + 4 * self.rows + self.rows
            + int(self.columns[2][3][0].sum()) + 4 * self.rows
            + 4 * a["l_val"].size + 8 * (self.rows + 1)
        )
        self.path = os.path.join(out_dir, "table.parquet")
        os.makedirs(out_dir, exist_ok=True)
        self.stored_bytes = None
        self.ranges = [(int(a["id"][lo]), int(a["id"][lo + self.rows // 100 - 1]))
                       for lo in a["q_lo"]]

    def write(self, path):
        from engine import parquet_out

        return parquet_out.write_table(
            path, self.columns, codec="zstd", page_size_rows=self.PAGE_ROWS,
            sorting_columns=[("id", False, False)],
        )

    def run_round(self, sh, tr, checks, i):
        from engine import parquet_compat

        r = {"pruned_ms": [], "pages_read": 0, "pages_total": 0}
        t = time.perf_counter()
        with tr.span("pass", kind="encode"), tr.span("parquet_out.write_table"):
            self.write(self.path)
        r["encode_s"] = time.perf_counter() - t
        size = os.path.getsize(self.path)
        if self.stored_bytes is None:
            self.stored_bytes = size
        checks.check(size == self.stored_bytes, f"round {i}: file size changed")
        t = time.perf_counter()
        with tr.span("pass", kind="decode"), tr.span("parquet_compat.read_table"):
            full = parquet_compat.read_table(self.path)
        r["decode_s"] = time.perf_counter() - t
        checks.check(self.matches_pyarrow(full), f"round {i}: read_table != pyarrow read")
        k = len(self.ranges)
        with tr.span("pass", kind="pruned"):
            for lo, hi in (self.ranges[(i * self.queries + j) % k] for j in range(self.queries)):
                t = time.perf_counter()
                with tr.span("parquet_compat.read_table_pruned"):
                    got, pr, pt = parquet_compat.read_table_pruned(self.path, ("id", lo, hi))
                r["pruned_ms"].append(1e3 * (time.perf_counter() - t))
                r["pages_read"] += pr
                r["pages_total"] += pt
                checks.check(same_as_filter(full, got, lo, hi),
                             f"round {i}: pruned read [{lo}, {hi}] != filtered full read")
        return r

    def matches_pyarrow(self, full) -> bool:
        """The engine's read equals pyarrow's read of the same file, and
        both equal the written values."""
        import pyarrow.parquet as pq

        ref = pq.read_table(self.path)
        ids, _ = full["id"]
        v, v_valid = full["v"]
        s, _ = full["s"]
        lists, _ = full["l.list.element"]  # the LIST leaf's path
        return (
            np.array_equal(ids, ref.column("id").to_numpy())
            and np.array_equal(ids, self.a["id"])
            and np.array_equal(v_valid, self.a["v_valid"])
            and np.array_equal(v[v_valid], self.a["v"][self.a["v_valid"]])
            and ref.column("v").to_pylist() == [int(x) if ok else None for x, ok in zip(v, v_valid)]
            and [x.decode() if isinstance(x, bytes) else x for x in s] == self.s_values
            and ref.column("s").to_pylist() == self.s_values
            and lists == ref.column("l").to_pylist()
        )

    def describe_inputs(self):
        return {"rows": self.rows, "page_rows": self.PAGE_ROWS, "codec": "zstd",
                "pruned_queries_per_round": self.queries, "raw_mb": self.raw_bytes / 1e6}

    def extra_metrics(self, rounds, enc, dec):
        lat = sorted(x for r in rounds for x in r["pruned_ms"])
        pct = lambda q: lat[min(len(lat) - 1, int(q * len(lat)))]  # noqa: E731
        return {
            "pruned_read_p50_ms": (pct(0.5), "ms"),
            "pruned_read_p90_ms": (pct(0.9), "ms"),
            "pruned_read_samples": (len(lat), "count"),
            "pruned_pages_read_frac": (sum(r["pages_read"] for r in rounds)
                                       / max(1, sum(r["pages_total"] for r in rounds)), "ratio"),
        }

    def layer_samples(self, cap):
        a = self.a
        return {"int": [("id", a["id"][:cap]), ("v", a["v"][a["v_valid"]][:cap]),
                        ("l.elements", a["l_val"][:cap])],
                "ba": [("s", self.s_values[: cap // 16])]}


def same_as_filter(full, got, lo, hi) -> bool:
    ids = full["id"][0]
    keep = np.flatnonzero((ids >= lo) & (ids <= hi))
    for name, (vals, valid) in full.items():
        gv, gvalid = got[name]
        if not np.array_equal(gvalid, valid[keep]):
            return False
        if isinstance(vals, list):
            if [vals[k] for k in keep] != list(gv):
                return False
        elif not np.array_equal(np.asarray(gv)[gvalid], vals[keep][valid[keep]]):
            return False
    return True
