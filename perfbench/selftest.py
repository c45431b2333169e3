"""Self-test of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py

Checks that BENCHMARK.json is well formed, that every workload emits every
named metric with its unit in both the untraced and the traced mode, that
the traced job spans account for the job's wall time, and that a
deliberately wrong expected count is reported as a failed job. Runs all
workloads in one Spark session; takes a few minutes.
"""

from __future__ import annotations

import json
import os
import re
import sys

from common import WORK, start_session, stop_session, use_checkout

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def check_benchmark_json(spec: dict) -> None:
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}, sorted(spec)
    assert 1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8
    names = [w["name"] for w in spec["workloads"]]
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}, m
        assert 0 < m["bound"] <= 0.25, m
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}, m
    metrics = spec["end_to_end"] + spec["per_layer"]
    names += [m["name"] for m in metrics]
    assert len(names) == len(set(names)), "names must be unique"
    assert all(NAME.match(n) for n in names), names
    assert all(UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
               for m in metrics)
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])


def main() -> int:
    use_checkout()
    import harness
    from workloads import WORKLOADS

    spec = harness.benchmark_spec()
    check_benchmark_json(spec)
    assert sorted(WORKLOADS) == sorted(w["name"] for w in spec["workloads"])
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    logs: list[str] = []
    spark = start_session(trace=True)

    def fresh_catalog() -> None:
        # each run deletes its files; a table left registered by the
        # previous run in this shared session would point at nothing
        for t in spark.catalog.listTables():
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")

    try:
        for name, cls in sorted(WORKLOADS.items()):
            for trace in (False, True):
                fresh_catalog()
                res = harness.run(cls, seed=3, seconds=0, trace=trace,
                                  size="tiny", spark=spark, log=logs.append)
                want = spec["per_layer" if trace else "end_to_end"]
                got = res["metrics"]
                assert res["correct"] and res["failed"] == 0, (name, logs[-5:])
                assert [m["name"] for m in want] == list(got), (name, trace)
                assert all(got[n]["unit"] == units[n] for n in got)
                assert all(isinstance(got[n]["value"], float) for n in got)
                if trace:
                    path = os.path.join(WORK, "traces", f"{name}-3.json")
                    with open(path, encoding="utf-8") as f:
                        spans = json.load(f)
                    _check_spans(spans)
                print(f"ok {name} trace={int(trace)}", flush=True)
            fresh_catalog()
            res = harness.run(cls, seed=3, seconds=0, trace=False, size="tiny",
                              expect_offset=1, spark=spark, log=logs.append)
            assert not res["correct"] and res["failed"] == res["attempted"], \
                (name, res)
            print(f"ok {name} wrong expectation reported as failure", flush=True)
    finally:
        stop_session()
    return 0


def _check_spans(spans: list[dict]) -> None:
    """Each job span's duration equals the self times of its subtree."""
    kids: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        assert s["end"] >= s["start"]
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(i)

    def self_sum(i: int) -> float:
        s = spans[i]
        own = (s["end"] - s["start"]) - sum(
            spans[c]["end"] - spans[c]["start"] for c in kids.get(i, []))
        return own + sum(self_sum(c) for c in kids.get(i, []))

    jobs = [i for i, s in enumerate(spans) if s["name"] == "job"]
    assert jobs, "no traced job"
    for i in jobs:
        wall = spans[i]["end"] - spans[i]["start"]
        assert abs(self_sum(i) - wall) < 1e-6 * max(1.0, wall)


if __name__ == "__main__":
    sys.exit(main())
