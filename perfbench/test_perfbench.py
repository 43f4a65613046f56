"""Tests of the benchmark itself (not of the engine), run from the repo root:

    python3 -m pytest perfbench -q

Most run every workload at ``--size smoke`` in a subprocess; two run the
corpus workload in this process.
"""

from __future__ import annotations

import functools
import json
import os
import subprocess
import sys

import pytest

from perfbench.run import REPO, WORKLOADS, report_path

with open(os.path.join(REPO, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


@functools.lru_cache(maxsize=None)
def run(workload: str, seed: int = 42, trace: int = 0) -> tuple[dict, dict]:
    """(last stdout line, full report) of one smoke-size run."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    with open(report_path(workload, seed, trace)) as f:
        return json.loads(proc.stdout.strip().splitlines()[-1]), json.load(f)


def _expect(line: dict, spec_key: str) -> None:
    want = {m["name"]: m["unit"] for m in SPEC[spec_key]}
    got = {k: m["unit"] for k, m in line["metrics"].items()}
    assert got == want
    for k, m in line["metrics"].items():
        assert isinstance(m["value"], (int, float)), k


def test_sql_metric_text_is_parsed():
    from perfbench.sparkstats import parse_value

    assert parse_value("25 ms") == 0.025
    assert parse_value("total (min, med, max (stageId: taskId))\n4.4 s (1 ms, 2 ms)") == 4.4
    assert parse_value("60,000") == 60000
    assert parse_value("total (min, med, max)\n1.5 MiB (0.0 B, 1.0 B)") == 1.5 * (1 << 20)


def test_spec_names_known_workloads():
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_emits_every_end_to_end_metric(workload):
    line, report = run(workload)
    assert line["correct"] and line["failed"] == 0 and line["attempted"] > 0
    _expect(line, "end_to_end")
    assert set(report["workload_metrics"]) >= {"error_rate"}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_smoke_emits_every_per_layer_metric_and_spans(workload):
    line, report = run(workload, trace=1)
    assert line["correct"], report["checks"]
    _expect(line, "per_layer")
    spans = report["spans"]
    assert spans and all(s["self_s"] >= -1e-9 for s in spans)
    # child spans account for each pass's wall
    assert line["metrics"]["trace.pass_coverage"]["value"] > 0.9
    assert "overhead_s" in report["tracing_overhead"]


@pytest.mark.parametrize("workload", ["codec_kernels", "parquet_file", "corpus_roundtrip"])
def test_seed_fixes_the_inputs(workload):
    a = run(workload, seed=42)[1]["fingerprint"]
    b = run(workload, seed=42, trace=1)[1]["fingerprint"]
    c = run(workload, seed=7)[1]["fingerprint"]
    assert a == b != c


def test_seed_42_reproduces_bytes_per_token(tmp_path):
    """At bench.py's size (60k docs) the corpus workload encodes the same
    20.2M tokens into the same 1.5521 bytes per token."""
    from perfbench.harness import run_workload
    from perfbench.spark_workloads import CorpusRoundtrip

    report = run_workload(CorpusRoundtrip(60_000), 42, 0, False, str(tmp_path))
    assert report["checks"]["failed"] == 0
    assert report["inputs"]["tokens"] == 20_217_691
    assert round(report["workload_metrics"]["bytes_per_token"]["value"], 4) == 1.5521


def test_no_pass_leaves_or_reads_a_cache():
    for workload in ("corpus_roundtrip", "table_roundtrip"):
        line, report = run(workload, trace=1)
        assert report["cache_left_after_pass"]
        assert all(x == {"persisted_rdds": 0, "cache_entries": 0}
                   for x in report["cache_left_after_pass"])
        assert line["metrics"]["spark.cache_scans"]["value"] == 0
        assert line["metrics"]["spark.persisted_rdds_after"]["value"] == 0


def test_cache_left_by_a_pass_is_detected(tmp_path):
    """Control for the test above: a pass that persists its input leaves a
    CacheManager entry, which the harness records and clears before the
    next pass could read it."""
    from perfbench.harness import run_workload
    from perfbench.spark_workloads import CorpusRoundtrip

    class Persisting(CorpusRoundtrip):
        def encode_df(self, df):
            df = df.persist()
            df.count()
            return super().encode_df(df)

    report = run_workload(Persisting(300), 3, 0, False, str(tmp_path))
    left = report["cache_left_after_pass"]
    assert [x["cache_entries"] for x in left[::2]] == [1] * (len(left) // 2)
    assert all(x["cache_entries"] == 0 for x in left[1::2])
    assert report["checks"]["failed"] == 0


def test_refuses_to_run_without_the_engine(tmp_path):
    os.makedirs(tmp_path / "perfbench")
    with open(os.path.join(REPO, "BENCHMARK.json")) as src:
        (tmp_path / "BENCHMARK.json").write_text(src.read())
    for name in os.listdir(os.path.join(REPO, "perfbench")):
        if name.endswith(".py"):
            with open(os.path.join(REPO, "perfbench", name)) as src:
                (tmp_path / "perfbench" / name).write_text(src.read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "codec_kernels", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=60,
    )
    assert proc.returncode != 0 and proc.stdout == ""
