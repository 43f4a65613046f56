"""Shared machinery of the benchmark: spans, the closed-loop pass runner,
the Spark session lifecycle and the result report.

A workload object supplies ``build_inputs``, ``load``, ``run_round`` and
``layer_samples``; :func:`run_workload` owns the timing, the error count and
the report, so every workload is measured the same way.
"""

from __future__ import annotations

import contextlib
import gc
import hashlib
import math
import os
import resource
import statistics
import subprocess
import time

MB = 1e6
_NULL = contextlib.nullcontext()


def cores() -> int:
    return len(os.sched_getaffinity(0))


def median(xs):
    """Median of the finite values (a failed pass records NaN)."""
    xs = [x for x in xs if math.isfinite(x)]
    return statistics.median(xs) if xs else float("nan")


def digest(*parts: bytes) -> str:
    """Input fingerprint: sha256 over the generated inputs' bytes."""
    h = hashlib.sha256()
    for p in parts:
        h.update(p)
    return h.hexdigest()[:16]


def digest_files(path: str) -> str:
    parts = []
    for name in sorted(os.listdir(path)):
        if not name.startswith((".", "_")):  # skip Spark's _SUCCESS and .crc files
            with open(os.path.join(path, name), "rb") as f:
                parts.append(f.read())
    return digest(*parts)


def peak_rss_mb() -> float:
    # ru_maxrss is in KiB on Linux
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024 / MB


class Tracer:
    """In-memory spans (name, start, end, parent). Disabled, ``span`` returns
    a shared no-op context, so untraced runs pay one attribute test."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        return self._span(name, attrs) if self.enabled else _NULL

    @contextlib.contextmanager
    def _span(self, name, attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> list[dict]:
        """Each span with its duration and self time (duration minus the
        time its children cover; spans are nested on one thread, so the
        children never overlap)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        t0 = self.spans[0]["start"] if self.spans else 0.0
        out = []
        for s, c in zip(self.spans, child):
            dur = s["end"] - s["start"]
            out.append({**s, "start": s["start"] - t0, "end": s["end"] - t0,
                        "dur_s": dur, "self_s": dur - c})
        return out


class Checks:
    """Output checks: each is one attempted operation; a failed one is
    counted, never raised, so one bad output cannot end the run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.messages) < 20:
                self.messages.append(what)
        return ok

    def error(self, what: str, exc: BaseException) -> None:
        self.check(False, f"{what}: {type(exc).__name__}: {exc}"[:500])


# --- Spark session -----------------------------------------------------------


class SparkHandle:
    """The benchmark's one Spark session, started through the engine's own
    session factory at ``local[cores]`` with ``2 x cores`` shuffle
    partitions. Temporary files (shuffle files, JVM temp, shipped package)
    stays under ``work_dir``; ``stop`` waits for the JVM to exit."""

    def __init__(self, work_dir: str):
        tmp = os.path.join(work_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--conf spark.local.dir={tmp} "
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
        )
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
        from engine.session import get_spark, ship_package

        n = cores()
        self.spark = get_spark(
            app="perfbench", master=f"local[{n}]", shuffle_partitions=2 * n
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        ship_package(self.spark)

    def clear_cache(self) -> dict:
        """Record what a pass left cached, then drop it, so no later pass
        can read it."""
        js = self.spark._jsparkSession
        left = {
            "persisted_rdds": int(self.spark.sparkContext._jsc.getPersistentRDDs().size()),
            "cache_entries": 0 if js.sharedState().cacheManager().isEmpty() else 1,
        }
        self.spark.catalog.clearCache()
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)
        return left

    def stop(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            # the JVM exits when its stdin closes
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


# --- the closed loop -----------------------------------------------------------


def run_workload(wl, seed: int, seconds: float, trace: bool, work_dir: str) -> dict:
    """Set up, then run rounds back to back (one client; each round is
    checked before the next starts) and return the report.

    ``setup_s`` is the session start (once: a JVM starts once per process)
    plus the median of the workload's ``setup_reps`` input builds. Round 0
    is the cold one and gives ``first_encode_s``. The next
    ``warmup_rounds`` let the JVM's JIT and the Python workers warm up.
    Then rounds are measured for ``seconds``, at least one (two traced),
    and the throughput metrics use their medians. In a traced run the
    measured rounds alternate traced and untraced, and the difference of
    their medians is the tracing overhead."""
    os.makedirs(work_dir, exist_ok=True)
    checks = Checks()
    tracer = Tracer(False)
    rounds: list[dict] = []
    layers = {}
    t0 = time.perf_counter()
    spark = SparkHandle(work_dir) if wl.uses_spark else None
    session_s = time.perf_counter() - t0
    try:
        builds = []
        for k in range(wl.setup_reps):
            t = time.perf_counter()
            fingerprint = wl.build_inputs(spark, seed, os.path.join(work_dir, f"in{k}"))
            builds.append(time.perf_counter() - t)
        setup_s = session_s + median(builds)
        wl.load(spark, os.path.join(work_dir, "in0"), os.path.join(work_dir, "out"))

        need = 2 if trace else 1
        deadline = None
        while True:
            i = len(rounds)
            phase = "cold" if i == 0 else "warmup" if i <= wl.warmup_rounds else "measured"
            if phase == "measured":
                done = sum(r["phase"] == "measured" for r in rounds)
                if deadline is None:
                    deadline = time.perf_counter() + seconds
                elif done >= need and time.perf_counter() >= deadline:
                    break
            gc.collect()  # no collector debt carried from one round into the next
            tracer.enabled = trace and (phase == "cold" or (phase == "measured" and i % 2 == 0))
            t = time.perf_counter()
            with tracer.span("round", index=i, phase=phase):
                r = wl.run_round(spark, tracer, checks, i)
            r.update(wall_s=time.perf_counter() - t, traced=tracer.enabled, phase=phase)
            rounds.append(r)
        tracer.enabled = False
        if trace:
            from . import layers as layers_mod

            layers = layers_mod.measure(wl, spark, rounds, tracer, checks,
                                        os.path.join(work_dir, "layers"), seed)
    finally:
        if spark is not None:
            spark.stop()
    return build_report(wl, seed, seconds, trace, fingerprint, setup_s,
                        session_s, builds, rounds, checks, tracer, layers)


def measured(rounds) -> list[dict]:
    return [r for r in rounds if r["phase"] == "measured"]


def tracing_overhead(rounds) -> dict:
    """Traced minus untraced round wall (medians over the measured rounds)."""
    traced = [r["wall_s"] for r in measured(rounds) if r["traced"]]
    plain = [r["wall_s"] for r in measured(rounds) if not r["traced"]]
    over = median(traced) - median(plain)
    return {"traced_round_s": traced, "untraced_round_s": plain,
            "overhead_s": over, "overhead_frac": over / median(plain)}


def build_report(wl, seed, seconds, trace, fingerprint, setup_s, session_s,
                 builds, rounds, checks, tracer, layers) -> dict:
    warm = measured(rounds)
    enc = median([r["encode_s"] for r in warm])
    dec = median([r["decode_s"] for r in warm])
    raw_mb = wl.raw_bytes / MB
    e2e = {
        "setup_s": (setup_s, "s"),
        "encode_mb_per_s": (raw_mb / enc, "MB/s"),
        "decode_mb_per_s": (raw_mb / dec, "MB/s"),
        "bytes_per_raw_byte": (wl.stored_bytes / wl.raw_bytes, "ratio"),
        "peak_rss_mb": (peak_rss_mb(), "MB"),
    }
    extra = {"first_encode_s": (rounds[0]["encode_s"], "s"),
             **wl.extra_metrics(rounds, enc, dec)}
    extra["error_rate"] = (checks.failed / max(checks.attempted, 1), "fraction")
    report = {
        "workload": wl.name,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "cores": cores(),
        "fingerprint": fingerprint,
        "inputs": wl.describe_inputs(),
        "rounds": len(rounds),
        "measured_rounds": len(warm),
        "setup": {"session_s": session_s, "input_build_s": builds},
        "passes": [{k: v for k, v in r.items() if k not in ("marks", "cache_left")}
                   for r in rounds],
        "cache_left_after_pass": [x for r in rounds for x in r.get("cache_left", [])],
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "workload_metrics": {k: {"value": v, "unit": u} for k, (v, u) in extra.items()},
        "checks": {"attempted": checks.attempted, "failed": checks.failed,
                   "messages": checks.messages},
    }
    if trace:
        report["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        report["tracing_overhead"] = tracing_overhead(rounds)
        report["spans"] = tracer.self_times()
    return report
