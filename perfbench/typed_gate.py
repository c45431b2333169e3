"""typed_gate: the headline path. A typed image+caption table (no bytes) is
validated by ``plans.validation_run.run_validation`` against the flagship
spec plus uniqueness, a reference-table lookup, pHash-weight drift and a
caption null-fraction bound; the violation rows are written to parquet.

Expected outputs come from DuckDB over the materialised parquet files, not
from the engine."""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

import duckdb

import probes
from common import median
from harness import Workload
from specs import phash_weight_reference, typed_gate_spec

DIM_FMT = ["raw", "rawz", "png", "jpg"]

# DuckDB twin of every row-level check the flagship spec compiles to, by
# (keyword, instance_path)
ROW_CHECKS = {
    ("pattern", "/image_id"):
        "image_id IS NOT NULL AND NOT regexp_full_match(image_id, '^img-[0-9]{12}$')",
    ("minimum", "/w"): "w < 1", ("maximum", "/w"): "w > 16384",
    ("minimum", "/h"): "h < 1", ("maximum", "/h"): "h > 16384",
    ("enum", "/fmt"): "fmt NOT IN ('raw', 'rawz', 'png', 'jpg')",
    ("minLength", "/caption"): "length(caption) < 1",
    ("maxLength", "/caption"): "length(caption) > 1024",
    ("pattern", "/caption"):
        "NOT regexp_full_match(caption, '^[\\x20-\\x7E]+$')",
    ("format", "/phash"): "false",
    ("required", "/image_id"): "image_id IS NULL",
    ("required", "/w"): "w IS NULL", ("required", "/h"): "h IS NULL",
    ("required", "/fmt"): "fmt IS NULL",
    ("required", "/caption"): "caption IS NULL",
    ("then", "/"): "fmt = 'jpg' AND w % 8 <> 0",
}


def _ks(cur: dict[int, int], ref: list[list[int]]) -> float:
    buckets = sorted(set(cur) | {b for b, _ in ref})
    refd = {b: c for b, c in ref}
    n_o, n_e = sum(cur.values()), sum(refd.values())
    co = ce = 0
    ks = 0.0
    for b in buckets:
        co += cur.get(b, 0)
        ce += refd.get(b, 0)
        ks = max(ks, abs(co / n_o - ce / n_e))
    return ks


class TypedGate(Workload):
    name = "typed_gate"
    sizes = {"default": {"rows": 150_000, "partitions": 4, "buckets": 8,
                         "files_per_unit": 8},
             "tiny": {"rows": 4_000, "partitions": 2, "buckets": 4,
                      "files_per_unit": 2}}
    not_exercised = frozenset({
        "operators.roundtrip_verdict_s", "operators.roundtrip_violations_s",
        "operators.container_meta_s", "operators.phash_pairs_s"})

    def materialise(self, rep: int) -> dict[str, float]:
        from sparkschema.sources.synthetic import images_df
        from sparkschema.sources.tables import ensure_bucketed_table

        rows = self.size["rows"]
        src = os.path.join(self.dir, f"rep{rep}", "src")
        self.path = os.path.join(self.dir, f"rep{rep}", "table")
        self.table = f"typed_gate_r{rep}"
        t = time.perf_counter()
        (images_df(self.spark, rows, seed=self.seed,
                   partitions=self.size["partitions"])
         .drop("bytes").write.mode("overwrite").parquet(src))
        gen = time.perf_counter() - t
        t = time.perf_counter()
        ensure_bucketed_table(self.spark, self.table, self.path,
                              source_df=self.spark.read.parquet(src),
                              buckets=self.size["buckets"], key="image_id")
        return {"generate_s": gen, "bucket_s": time.perf_counter() - t}

    def prepare(self) -> None:
        from sparkschema.sources.synthetic import dim_fmt_df

        self.df = self.spark.table(self.table)
        self.dims = {"dim_fmt": dim_fmt_df(self.spark)}
        self.spec = typed_gate_spec(self.size["rows"])
        self.out_dir = os.path.join(self.dir, "violations")
        con = duckdb.connect()
        con.execute(f"CREATE VIEW t AS SELECT * FROM "
                    f"read_parquet('{self.path}/*.parquet')")
        q = ", ".join(f"count(*) FILTER (WHERE coalesce({sql}, false))"
                      for sql in ROW_CHECKS.values())
        counts = con.execute(f"SELECT count(*), {q} FROM t").fetchone()
        self.rows = counts[0]
        exp = {k: c for k, c in zip(ROW_CHECKS, counts[1:]) if c}
        self.exp_checks = dict(exp)
        dup_keys, dup_rows = con.execute(
            "SELECT count(*), coalesce(sum(c), 0) FROM (SELECT image_id, "
            "count(*) c FROM t GROUP BY 1 HAVING count(*) > 1)").fetchone()
        dims = ", ".join(f"'{f}'" for f in DIM_FMT)
        orphans = con.execute(
            f"SELECT count(*) FROM t WHERE fmt IS NOT NULL AND fmt NOT IN "
            f"({dims})").fetchone()[0]
        null_frac = con.execute(
            "SELECT avg((caption IS NULL)::int) FROM t").fetchone()[0]
        hist = dict(con.execute(
            "SELECT bit_count(phash) + 1, count(*) FROM t WHERE phash IS "
            "NOT NULL GROUP BY 1").fetchall())
        self.sample = [json.loads(json.dumps(dict(zip(
            ["image_id", "w", "h", "fmt", "caption", "phash"], r))))
            for r in con.execute(
                "SELECT image_id, w, h, fmt, caption, phash FROM t "
                "ORDER BY image_id LIMIT 2000").fetchall()]
        con.close()
        if dup_keys:
            exp[("x-unique", "/image_id")] = dup_keys
        if orphans:
            exp[("$ref_data", "/fmt")] = orphans
        ks = _ks(hist, phash_weight_reference(self.size["rows"]))
        self.expected = {
            "violations": exp,
            "unique": (dup_keys + self.expect_offset, dup_rows),
            "orphans": orphans,
            "null_fraction": null_frac,
            "ks": ks,
        }
        self.codec = probes.codec_sample(self.seed)

    def job(self, i: int) -> dict:
        from sparkschema.operators.caching import CacheScope
        from sparkschema.plans.report import write_violations
        from sparkschema.plans.validation_run import run_validation

        scope = CacheScope()
        with self.span("plans.run_validation"):
            res = run_validation(self.spec, self.df, ["image_id"],
                                 dims=self.dims, scope=scope)
        with self.span("compiler.verdicts"):
            pv = res.partition_verdicts.collect()
        verdict_at = time.perf_counter()
        with self.span("plans.report_write"):
            write_violations(res.violations, self.out_dir)
        with self.span("operators.cache_release"):
            scope.release()
        return {"rows": self.rows, "verdict_at": verdict_at,
                "table_verdicts": res.table_verdicts, "pv": pv}

    def written(self) -> dict[tuple[str, str], int]:
        con = duckdb.connect()
        got = dict(((k, p), c) for k, p, c in con.execute(
            f"SELECT keyword, instance_path, count(*) FROM read_parquet("
            f"'{self.out_dir}/*/*.parquet', hive_partitioning = true) "
            f"GROUP BY 1, 2").fetchall())
        con.close()
        return got

    def check(self, out: dict) -> list[str]:
        e = self.expected
        errs = []
        tv = {v["check"]: v for v in out["table_verdicts"]}
        u = tv.get("unique:image_id", {})
        if (u.get("dup_keys"), u.get("dup_rows")) != e["unique"]:
            errs.append(f"unique {u} != {e['unique']}")
        o = tv.get("ref:fmt->fmt", {})
        if o.get("orphan_rows") != e["orphans"] or o.get("pass") != (e["orphans"] == 0):
            errs.append(f"orphans {o} != {e['orphans']}")
        nf = tv.get("null_fraction:caption", {})
        if abs(nf.get("null_fraction", -1) - e["null_fraction"]) > 1e-12 \
                or nf.get("pass") != (e["null_fraction"] <= 0.01):
            errs.append(f"null_fraction {nf} != {e['null_fraction']}")
        d = tv.get("drift:phash", {})
        if d.get("ks") is None or abs(d["ks"] - e["ks"]) > 1e-9 \
                or d.get("pass") != (e["ks"] <= 0.1):
            errs.append(f"drift {d} != ks {e['ks']}")
        per_check: dict[tuple[str, str], int] = {}
        rows = {}
        for r in out["pv"]:
            kw, _, path = r["check"].partition(":")
            path = path.split("#")[0]
            per_check[(kw, path)] = per_check.get((kw, path), 0) + \
                int(r["metrics"]["fail_count"])
            rows[r["partition_id"]] = int(r["metrics"]["rows"])
        per_check = {k: v for k, v in per_check.items() if v}
        if per_check != self.exp_checks or sum(rows.values()) != self.rows:
            errs.append(f"partition verdicts {per_check} != {self.exp_checks}")
        got = self.written()
        self.violation_rows = sum(got.values())
        if got != e["violations"]:
            errs.append(f"violations {got} != {e['violations']}")
        return errs

    def job_counters(self, out: dict) -> dict[str, float]:
        return {"plans.violation_rows": float(self.violation_rows)}

    def probes(self) -> dict[str, float]:
        from pyspark.sql import functions as F

        from sparkschema.operators import referential, uniqueness
        from sparkschema.operators.drift import drift_check_vs_histogram

        df = self.df
        v, cts = probes.layer_probes(self, self.spec, df)
        v["operators.uniqueness_s"] = self.probe(
            "operators.uniqueness",
            lambda: uniqueness.uniqueness_verdict(df, "image_id").collect())
        v["operators.referential_s"] = self.probe(
            "operators.referential",
            lambda: referential.orphan_verdict(
                df, "fmt", self.dims["dim_fmt"], "fmt",
                strategy="broadcast").collect())
        v.update(self.streaming_probe(cts))
        v["operators.drift_s"] = self.probe(
            "operators.drift",
            lambda: drift_check_vs_histogram(
                df.select(F.bit_count("phash").alias("w")), "w",
                phash_weight_reference(self.size["rows"]), lo=0.0, hi=65.0,
                buckets=65))
        return v

    def streaming_probe(self, cts) -> dict[str, float]:
        """The table's files validated unit by unit by ``run_resumable``
        (partition verdicts per unit, a manifest commit each), then again
        with half of the units already committed."""
        from sparkschema.streaming.checkpoint import run_resumable

        unit_s: list[float] = []

        def unit(df, files):
            t = time.perf_counter()
            rows = {r["partition_id"]: int(r["metrics"]["rows"])
                    for r in cts.verdicts(df).collect()}
            unit_s.append(time.perf_counter() - t)
            return {"rows": sum(rows.values())}

        base = os.path.join(self.dir, "manifests")
        shutil.rmtree(base, ignore_errors=True)
        full, resumed = os.path.join(base, "full"), os.path.join(base, "resumed")
        with self.span("streaming.run_resumable"):
            t = time.perf_counter()
            r1 = run_resumable(self.spark, self.path, full, unit,
                               files_per_unit=self.size["files_per_unit"])
            os.makedirs(resumed)
            shutil.copy(os.path.join(full, "_meta.json"), resumed)
            committed = sorted(glob.glob(os.path.join(full, "unit-*.json")))
            for u in committed[: len(committed) // 2]:
                shutil.copy(u, resumed)
            r2 = run_resumable(self.spark, self.path, resumed, unit,
                               files_per_unit=self.size["files_per_unit"])
            wall = time.perf_counter() - t
        for r in (r1, r2):
            if sum(m["rows"] for m in r.unit_metrics) != self.rows:
                raise RuntimeError(f"resumable units cover {r.unit_metrics}, "
                                   f"not {self.rows} rows")
        return {"streaming.unit_s_p50": median(unit_s),
                "streaming.manifest_overhead_s": wall - sum(unit_s),
                "streaming.resume_skip_frac": r2.skipped_units / max(
                    1, r2.skipped_units + r2.processed_units)}
