"""The run loop shared by every workload: set-up, the closed measuring
loop, correctness checks and the metric record.

One client, one validation job in flight: the next job starts only after
the previous one has returned and been checked, as an ingest gate waits
for its verdict before admitting the next batch.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

from common import (ROOT, WORK, RssSampler, SparkCounters, Tracer,
                    heap_live_gb, median, persisted_frames, start_session,
                    stop_session, timed)

SETUP_REPS = 3      # set-up repeats per run; setup_s takes their median
WARMUP_JOBS = 2     # checked jobs before measuring; JIT settles over both
MIN_JOBS = 3        # jobs per run, even past --seconds (traced runs: 4)
PROBE_REPS = 2      # traced run: repeats of each layer probe


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


class Workload:
    """One named workload. Subclasses generate inputs from the seed, run
    one validation job, check its outputs against an expectation computed
    without the engine, and probe single layers in traced runs."""

    name = ""
    sizes: dict[str, dict] = {}
    # per-layer metrics this workload does not exercise; reported as 0
    not_exercised: frozenset[str] = frozenset()

    def __init__(self, spark, seed: int, size: str, tracer: Tracer):
        self.spark = spark
        self.seed = seed
        self.size = dict(self.sizes[size])
        self.tracer = tracer
        self.dir = os.path.join(WORK, self.name)
        # the self-test shifts one expected count to prove that a wrong
        # output is reported as a failure
        self.expect_offset = 0

    def materialise(self, rep: int) -> dict[str, float]:
        """Generate and lay out the inputs; returns ``generate_s`` and
        ``bucket_s``. The last repetition's tables are the ones measured."""
        raise NotImplementedError

    def prepare(self) -> None:
        """Compute the expected outputs (not timed)."""

    def job(self, i: int) -> dict:
        """Run one validation job. Returns ``rows`` validated and
        ``verdict_at``, the ``perf_counter`` time the verdicts were in."""
        raise NotImplementedError

    def check(self, out: dict) -> list[str]:
        raise NotImplementedError

    def probes(self) -> dict[str, float]:
        """Single-layer measurements for the traced run."""
        return {}

    def job_counters(self, out: dict) -> dict[str, float]:
        """Per-layer values taken from one traced job."""
        return {}

    def span(self, name: str):
        return self.tracer.span(name)

    def probe(self, name: str, fn) -> float:
        with self.span(name):
            dt, _ = timed(fn)
        return dt


def _quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (0.0, 0.0)
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def run(cls, seed: int, seconds: float, trace: bool, size: str = "default",
        expect_offset: int = 0, spark=None, log=print) -> dict:
    """One benchmark run; returns the result record. ``spark`` reuses a
    live session (the self-test); otherwise one is started and stopped."""
    spec = benchmark_spec()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    names = [m["name"] for m in (spec["per_layer"] if trace else spec["end_to_end"])]

    work = os.path.join(WORK, cls.name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    tracer = Tracer(False)
    values: dict[str, float] = {}
    attempted = failed = 0
    own_session = spark is None

    with RssSampler() as rss:
        try:
            t0 = time.perf_counter()
            if own_session:
                spark = start_session(trace)
            session_s = time.perf_counter() - t0
            w = cls(spark, seed, size, tracer)
            w.expect_offset = expect_offset
            reps = []
            for r in range(SETUP_REPS):
                t = time.perf_counter()
                parts = w.materialise(r)
                reps.append((time.perf_counter() - t, parts))
            t = time.perf_counter()
            w.prepare()
            log(f"session {session_s:.2f} s, set-ups "
                + " ".join(f"{r[0]:.2f}" for r in reps)
                + f" s, prepare {time.perf_counter() - t:.2f} s")
            counters = SparkCounters(spark, rest=trace)
            # warm-up: the first jobs pay JIT and codegen; their time
            # belongs to set-up, and they are checked and counted like any
            # other job
            t = time.perf_counter()
            for k in range(WARMUP_JOBS):
                attempted += 1
                try:
                    errs = w.check(w.job(-1 - k))
                except Exception:  # a job that raises counts as failed
                    errs = [traceback.format_exc()]
                if errs:
                    log(f"warm-up job wrong: {errs[:5]}")
                    failed += 1
            warm_s = time.perf_counter() - t
            log(f"warm-up {warm_s:.2f} s")
            setup_s = session_s + median([r[0] for r in reps]) + warm_s

            job_s, verdict_s = [], []
            rows_done = 0
            traced: list[dict] = []
            deadline = time.perf_counter() + seconds
            i = 0
            while time.perf_counter() < deadline or i < MIN_JOBS + trace:
                # traced runs alternate plain and traced jobs so the two
                # medians share the run's conditions
                on = trace and i % 2 == 1
                tracer.enabled = on
                tracer.job = f"job{i}"
                group = counters.group() if on else None
                attempted += 1
                t = time.perf_counter()
                try:
                    if on:
                        with tracer.span("job"):
                            root = len(tracer.spans) - 1
                            out = w.job(i)
                    else:
                        out = w.job(i)
                    dt = time.perf_counter() - t
                    tracer.enabled = False
                    errs = w.check(out)
                except Exception:  # a job that raises counts as failed
                    tracer.enabled = False
                    log(traceback.format_exc())
                    failed += 1
                    i += 1
                    continue
                if errs:
                    log(f"job {i} wrong: {errs[:5]}")
                    failed += 1
                elif on:
                    st = tracer.self_times(root)
                    sc = counters.collect(group)
                    traced.append({"job_s": dt, "self": st,
                                   "counts": w.job_counters(out),
                                   "spark": sc, "rows": out["rows"]})
                    log(f"traced job {i}: {dt:.3f} s = " + " + ".join(
                        f"{k} {v:.3f}" for k, v in sorted(st.items())))
                else:
                    job_s.append(dt)
                    verdict_s.append(out["verdict_at"] - t)
                    rows_done += out["rows"]
                i += 1

            if trace:
                heap_gb = heap_live_gb(spark)
                tracer.enabled = True
                tracer.job = "probes"
                probe_vals: dict[str, list[float]] = {}
                for _ in range(PROBE_REPS):
                    for k, v in w.probes().items():
                        probe_vals.setdefault(k, []).append(v)
                tracer.enabled = False
                values = _layer_values(names, reps, traced, job_s,
                                       probe_vals, spark)
                values["jvm.heap_live_gb"] = heap_gb
                tracer.dump(os.path.join(WORK, "traces",
                                         f"{cls.name}-{seed}.json"))
        finally:
            if own_session:
                stop_session()

    if not trace:
        lo, hi = _quartiles(job_s)
        log(f"job_s samples n={len(job_s)} p25={lo:.4f} p75={hi:.4f}: "
            + " ".join(f"{x:.3f}" for x in job_s))
        values = {
            "setup_s": setup_s,
            # all measured rows over all measured job time: the host's
            # speed swings within a run average out
            "rows_per_s": rows_done / sum(job_s) if job_s else 0.0,
            "job_s_p50": median(job_s),
            "verdict_s_p50": median(verdict_s),
            "peak_rss_gb": rss.peak / 1e9,
            "ok_frac": (attempted - failed) / attempted,
        }
    missing = [n for n in names if n not in values
               and n not in w.not_exercised]
    extra = [n for n in values if n not in names]
    if missing or extra:
        raise RuntimeError(f"metric set mismatch: missing {missing}, "
                           f"extra {extra}")
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": units[n]}
               for n in names}
    for n, m in metrics.items():
        log(f"{n} = {m['value']:.6g} {m['unit']}")
    return {"correct": failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def _layer_values(names, reps, traced, plain_job_s, probe_vals,
                  spark) -> dict[str, float]:
    v: dict[str, float] = {
        "sources.generate_s": median([p["generate_s"] for _, p in reps]),
        "sources.bucket_s": median([p["bucket_s"] for _, p in reps]),
        "operators.cached_frames_left": float(persisted_frames(spark)),
    }
    for k, xs in probe_vals.items():
        v[k] = median(xs)
    if traced:
        # a job span named like a per-layer metric gives its self time
        for n in {n for t in traced for n in t["self"]}:
            if f"{n}_s" in names and f"{n}_s" not in v:
                v[f"{n}_s"] = median([t["self"].get(n, 0.0) for t in traced])
        for k in {k for t in traced for k in t["counts"]}:
            v[k] = median([t["counts"][k] for t in traced])
        sp = [t["spark"] for t in traced]
        v["spark.jobs"] = median([s["jobs"] for s in sp])
        v["spark.stages"] = median([s["stages"] for s in sp])
        v["spark.tasks"] = median([s["tasks"] for s in sp])
        v["spark.shuffle_write_mb"] = median([s["shuffle_write_mb"] for s in sp])
        v["spark.input_rows_per_row"] = median(
            [t["spark"]["input_records"] / t["rows"] for t in traced])
        tj = median([t["job_s"] for t in traced])
        v["trace.job_s"] = tj
        v["trace.residual_s"] = median([t["self"]["job"] for t in traced])
        pj = median(plain_job_s)
        v["trace.overhead_frac"] = (tj - pj) / pj if pj else 0.0
    return v


def main(workloads: dict, argv: list[str]) -> int:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(workloads))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0,
                    help="measuring time; BENCHMARK.json run_seconds")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # a terminated run still stops the JVM and reaps its workers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    res = run(workloads[a.workload], a.seed, a.seconds, bool(a.trace),
              log=lambda s: print(s, file=sys.stderr, flush=True))
    print(json.dumps(res), flush=True)
    return 0
