"""image_bytes: image+caption rows with encoded bytes, checked against a
pristine reference copy. The round-trip check (PSNR >= 40 dB and caption
equality) runs through ``run_validation``, then the container-header
verdict and the pHash near-duplicate pairs.

Expected outputs come from one single-process pass over the materialised
parquet with pyarrow and the codec kernels, made afresh in every run."""

from __future__ import annotations

import math
import os
import time

import numpy as np
import pyarrow.parquet as pq

import probes
from harness import Workload
from specs import ROUNDTRIP_SPEC


def _read(path: str, cols: list[str]) -> dict[str, list]:
    t = pq.read_table(path, columns=cols)
    return {c: t.column(c).to_pylist() for c in cols}


def expected_outputs(main_path: str, ref_path: str, psnr_min: float) -> dict:
    """Round-trip failures, container-header classes and near-duplicate
    pairs, computed row by row outside Spark."""
    from sparkschema.functions.imagecodec import (FMT_CODES, MAGIC,
                                                  phash_bytes, psnr_bytes)

    m = _read(main_path, ["image_id", "bytes", "w", "h", "fmt", "caption"])
    r = _read(ref_path, ["image_id", "bytes", "caption"])
    ref = {i: (b, c) for i, b, c in zip(r["image_id"], r["bytes"], r["caption"])}
    psnr_fail = cap_fail = 0
    bad = {"bad_header": 0, "dims_mismatch": 0, "fmt_mismatch": 0,
           "bad_length": 0}
    not_ok = 0
    hashes: list[tuple[str, int]] = []
    for iid, b, w, h, fmt, cap in zip(m["image_id"], m["bytes"], m["w"],
                                      m["h"], m["fmt"], m["caption"]):
        rb, rc = ref[iid]
        p = math.inf if b == rb else psnr_bytes(b, rb)
        psnr_fail += not (p >= psnr_min)          # NaN (corrupt) fails
        cap_fail += cap != rc
        header = len(b) >= 9 and b[:4] == MAGIC
        dims = header and int.from_bytes(b[4:6], "little") == w \
            and int.from_bytes(b[6:8], "little") == h
        fmt_ok = header and fmt in FMT_CODES and b[8] == FMT_CODES[fmt]
        length = header and (fmt not in ("raw", "jpg", "png")
                             or len(b) == 9 + w * h * 3)
        bad["bad_header"] += not header
        bad["dims_mismatch"] += header and not dims
        bad["fmt_mismatch"] += header and not fmt_ok
        bad["bad_length"] += header and not length
        not_ok += not (header and dims and fmt_ok and length)
        ph = phash_bytes(b)
        if ph is not None:
            hashes.append((iid, ph))
    # all near pairs of distinct ids, by brute force over the hashes
    ids = np.array([i for i, _ in hashes])
    hv = np.array([h for _, h in hashes], dtype=np.int64).view(np.uint64)
    near: dict[str, int] = {}
    for k in range(len(hashes)):
        x = hv[k] ^ hv[k + 1:]
        d = np.unpackbits(x.view(np.uint8).reshape(-1, 8), axis=1).sum(1)
        for j in np.nonzero(d <= 10)[0]:
            a, b = sorted((ids[k], ids[k + 1 + j]))
            if a != b:
                key = f"{a}|{b}"
                near[key] = min(near.get(key, 64), int(d[j]))
    return {"rows": len(m["image_id"]), "psnr_failures": psnr_fail,
            "caption_mismatches": cap_fail, "container_bad": not_ok,
            "container": bad, "near_pairs": near}


class ImageBytes(Workload):
    name = "image_bytes"
    sizes = {"default": {"rows": 400, "partitions": 4, "buckets": 8},
             "tiny": {"rows": 80, "partitions": 2, "buckets": 2}}
    # anomaly rates raised over the generator defaults so that every run
    # has failures of each kind at this table size
    anomalies = {"dup_fraction": 0.01, "corrupt_fraction": 0.01,
                 "caption_mismatch_fraction": 0.01}
    not_exercised = frozenset({
        "operators.uniqueness_s", "operators.referential_s",
        "operators.drift_s", "streaming.unit_s_p50",
        "streaming.manifest_overhead_s", "streaming.resume_skip_frac"})

    def materialise(self, rep: int) -> dict[str, float]:
        from sparkschema.sources.synthetic import images_df
        from sparkschema.sources.tables import ensure_bucketed_table

        base = os.path.join(self.dir, f"rep{rep}")
        t = time.perf_counter()
        for variant in ("main", "ref"):
            (images_df(self.spark, self.size["rows"], seed=self.seed,
                       with_bytes=True, variant=variant,
                       partitions=self.size["partitions"], **self.anomalies)
             .write.mode("overwrite").parquet(os.path.join(base, variant)))
        gen = time.perf_counter() - t
        t = time.perf_counter()
        self.paths = {}
        self.tables = {}
        for variant in ("main", "ref"):
            path = os.path.join(base, f"{variant}_bkt")
            self.tables[variant] = ensure_bucketed_table(
                self.spark, f"image_bytes_{variant}_r{rep}", path,
                source_df=self.spark.read.parquet(os.path.join(base, variant)),
                buckets=self.size["buckets"], key="image_id")
            self.paths[variant] = path
        return {"generate_s": gen, "bucket_s": time.perf_counter() - t}

    def prepare(self) -> None:
        self.imgs, self.ref = self.tables["main"], self.tables["ref"]
        self.out_dir = os.path.join(self.dir, "violations")
        psnr_min = ROUNDTRIP_SPEC["properties"]["bytes"]["x-roundtrip"]["psnr_db_min"]
        exp = expected_outputs(self.paths["main"], self.paths["ref"], psnr_min)
        exp["psnr_failures"] += self.expect_offset
        self.expected = exp
        meta = _read(self.paths["main"], ["image_id", "w", "h", "fmt",
                                          "caption", "phash"])
        self.sample = [dict(zip(meta, vals)) for vals in zip(*meta.values())]
        self.codec = probes.codec_sample(self.seed)

    def job(self, i: int) -> dict:
        from sparkschema.operators.caching import CacheScope
        from sparkschema.operators.imagedup import image_phash_pairs
        from sparkschema.operators.imagemeta import container_meta_verdict
        from sparkschema.plans.report import write_violations
        from sparkschema.plans.validation_run import run_validation

        scope = CacheScope()
        with self.span("plans.run_validation"):
            res = run_validation(ROUNDTRIP_SPEC, self.imgs, ["image_id"],
                                 ref=self.ref, scope=scope)
        with self.span("compiler.verdicts"):
            pv = res.partition_verdicts.collect()
        with self.span("operators.container_meta"):
            cm = container_meta_verdict(self.imgs).collect()[0].asDict()
        verdict_at = time.perf_counter()
        with self.span("plans.report_write"):
            write_violations(res.violations, self.out_dir)
        with self.span("operators.phash_pairs"):
            pairs = image_phash_pairs(self.imgs, scope=scope).collect()
        with self.span("operators.cache_release"):
            scope.release()
        return {"rows": self.expected["rows"], "verdict_at": verdict_at,
                "table_verdicts": res.table_verdicts, "pv": pv, "cm": cm,
                "pairs": [(r["id_a"], r["id_b"], r["hamming"]) for r in pairs]}

    def check(self, out: dict) -> list[str]:
        import duckdb

        e, errs = self.expected, []
        rt = {v["check"]: v for v in out["table_verdicts"]}.get(
            "roundtrip:bytes", {})
        got = (rt.get("psnr_failures"), rt.get("caption_mismatches"),
               rt.get("missing_refs"))
        if got != (e["psnr_failures"], e["caption_mismatches"], 0):
            errs.append(f"roundtrip {rt}")
        if sum(int(r["metrics"]["fail_count"]) for r in out["pv"]) != 0:
            errs.append("row-level checks failed on valid rows")
        cm = out["cm"]
        if cm["rows"] != e["rows"] or any(cm[k] != v for k, v in
                                          e["container"].items()):
            errs.append(f"container {cm} != {e['container']}")
        con = duckdb.connect()
        written = dict(con.execute(
            f"SELECT keyword, count(*) FROM read_parquet('{self.out_dir}/*/"
            f"*.parquet', hive_partitioning = true) GROUP BY 1").fetchall())
        con.close()
        self.violation_rows = sum(written.values())
        want = {k: v for k, v in (("x-roundtrip", e["psnr_failures"]),
                                  ("x-roundtrip-caption",
                                   e["caption_mismatches"])) if v}
        if written != want:
            errs.append(f"violations {written} != {want}")
        near = e["near_pairs"]
        found = set()
        for a, b, d in out["pairs"]:
            key = f"{a}|{b}"
            found.add(key)
            if key not in near or d > 10:
                errs.append(f"spurious pair {key} at {d}")
        missed = [k for k, d in near.items() if d < 8 and k not in found]
        if missed:
            errs.append(f"missed near pairs {missed[:3]}")
        return errs

    def job_counters(self, out: dict) -> dict[str, float]:
        return {"plans.violation_rows": float(self.violation_rows)}

    def probes(self) -> dict[str, float]:
        from sparkschema.operators.roundtrip import (roundtrip_verdict,
                                                     roundtrip_violations)

        df = self.imgs
        v, _ = probes.layer_probes(self, ROUNDTRIP_SPEC, df,
                                   plan_df=roundtrip_violations(df, self.ref))
        v["operators.roundtrip_verdict_s"] = self.probe(
            "operators.roundtrip_verdict",
            lambda: roundtrip_verdict(df, self.ref).collect())
        v["operators.roundtrip_violations_s"] = self.probe(
            "operators.roundtrip_violations",
            lambda: roundtrip_violations(df, self.ref).write.format(
                "noop").mode("overwrite").save())
        return v
