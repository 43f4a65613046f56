"""Benchmark of the columnar encode engine.

    python3 perfbench/run.py --workload corpus_roundtrip --seed 42 --seconds 12 --trace 0

Run from the repository root. Prints each metric with its unit, then, as
the last line, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the per-layer
metrics). ``--workload all`` runs every workload, each in its own process.
The full report (passes, checks, fingerprint and, traced, the spans with
their self times) is written as JSON under ``.bench_data/``. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("corpus_roundtrip", "codec_kernels", "parquet_file", "table_roundtrip")
E2E = ("setup_s", "encode_mb_per_s", "decode_mb_per_s", "bytes_per_raw_byte", "peak_rss_mb")

# --size bench is what BENCHMARK.json measures; smoke runs every code path
# at tiny size for the benchmark's own tests
SIZES = {
    "bench": {"corpus_roundtrip": {"docs": 20_000},
              "table_roundtrip": {"rows": 80_000},
              "codec_kernels": {"values": 1_000_000, "strings": 20_000},
              "parquet_file": {"rows": 100_000, "queries": 15}},
    "smoke": {"corpus_roundtrip": {"docs": 600},
              "table_roundtrip": {"rows": 3_000},
              "codec_kernels": {"values": 20_000, "strings": 2_000},
              "parquet_file": {"rows": 20_000, "queries": 10}},
}


def make_workload(name: str, size: str):
    from perfbench.local_workloads import CodecKernels, ParquetFile
    from perfbench.spark_workloads import CorpusRoundtrip, TableRoundtrip

    cls = {"corpus_roundtrip": CorpusRoundtrip, "table_roundtrip": TableRoundtrip,
           "codec_kernels": CodecKernels, "parquet_file": ParquetFile}[name]
    return cls(**SIZES[size][name])


def report_path(workload: str, seed: int, trace: int) -> str:
    return os.path.join(REPO, ".bench_data", f"report-{workload}-seed{seed}-trace{trace}.json")


def result_line(report: dict) -> dict:
    metrics = report["per_layer"] if report["trace"] else {
        k: report["end_to_end"][k] for k in E2E}
    c = report["checks"]
    return {"correct": c["failed"] == 0, "attempted": c["attempted"],
            "failed": c["failed"], "metrics": metrics}


def print_report(report: dict) -> None:
    print(f"workload {report['workload']}  seed {report['seed']}  "
          f"fingerprint {report['fingerprint']}  rounds {report['rounds']}  "
          f"cores {report['cores']}")
    print(f"  inputs: {json.dumps(report['inputs'])}")
    for group in ("end_to_end", "workload_metrics", "per_layer"):
        for k, m in report.get(group, {}).items():
            print(f"  {k:44s} {m['value']:>16.6g} {m['unit']}")
    if report["trace"]:
        o = report["tracing_overhead"]
        print(f"  tracing overhead {o['overhead_s']:.4f} s per round ({o['overhead_frac']:.2%})")
        rollup: dict[str, float] = {}
        for s in report["spans"]:
            rollup[s["name"]] = rollup.get(s["name"], 0.0) + s["self_s"]
        for name, t in sorted(rollup.items(), key=lambda kv: -kv[1])[:12]:
            print(f"  self time {name:38s} {t:10.4f} s")
    for msg in report["checks"]["messages"]:
        print(f"  CHECK FAILED: {msg}")


def run_all(args) -> int:
    """Each workload in its own process, exactly as a single run."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--size", args.size]
        proc = subprocess.run(cmd, cwd=REPO, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        if proc.returncode != 0 or not lines:
            print(f"{name}: exit code {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        res = json.loads(lines[-1])
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            combined["metrics"][f"{name}.{k}"] = v
    print(json.dumps(combined))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=tuple(SIZES), default="bench")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(REPO, "engine", "__init__.py")):
        print(f"no engine package under {REPO}: run from a full checkout", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(0, REPO)
    from perfbench.harness import run_workload

    work = os.path.join(REPO, ".bench_data", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    wl = make_workload(args.workload, args.size)
    report = run_workload(wl, args.seed, args.seconds, bool(args.trace), work)
    report["size"] = args.size
    path = report_path(args.workload, args.seed, args.trace)
    with open(path, "w") as f:
        json.dump(report, f, indent=1, default=float)
    print_report(report)
    print(json.dumps(result_line(report)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
