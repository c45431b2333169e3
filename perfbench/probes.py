"""Layer probes for the traced run: single-thread, in-process probes of
the pure-Python layers on fixed samples (the image codec kernels and the
JSON-Schema interpreter), and the compiler's probes on a workload's table."""

from __future__ import annotations

import time

from common import rate


def codec_sample(seed: int, n: int = 24) -> list[tuple[bytes, bytes]]:
    """Pairs (stored buffer, pristine buffer) of 128x128 images, the
    stored one alternately lossy and zlib-compressed."""
    from sparkschema.functions.imagecodec import encode, synth_pixels

    out = []
    for i in range(n):
        px = synth_pixels(f"probe-{i}", 128, 128, seed)
        out.append((encode(px, ("jpg", "rawz")[i % 2]), encode(px, "raw")))
    return out


def functions_probes(sample: list[tuple[bytes, bytes]]) -> dict[str, float]:
    from sparkschema.functions.imagecodec import decode, phash_bytes, psnr_bytes

    mb = sum(len(a) for a, _ in sample) / 1e6

    def dec() -> float:
        for a, _ in sample:
            decode(a)
        return mb

    def ps() -> float:
        for a, b in sample:
            psnr_bytes(a, b)
        return len(sample)

    def ph() -> float:
        for a, _ in sample:
            phash_bytes(a)
        return len(sample)

    return {"functions.decode_mb_per_s": rate(dec),
            "functions.psnr_per_s": rate(ps),
            "functions.phash_per_s": rate(ph)}


def interpreter_probe(schema, docs: list) -> float:
    """Documents per second through ``Validator.validate``; ``docs`` are
    already-parsed JSON values."""
    from sparkschema.spec.refs import Scope
    from sparkschema.spec.registry import SpecRegistry, sniff_dialect

    reg = SpecRegistry()
    uri = "urn:perfbench:probe"
    reg.index.add_document(uri, schema, sniff_dialect(schema))
    validator = reg.validator()
    scope = Scope(schema, uri)

    def one() -> float:
        for d in docs:
            validator.validate(schema, d, scope)
        return len(docs)

    return rate(one)


def parse_probe(schema) -> float:
    """Seconds per ``parse_spec`` call."""
    from sparkschema.spec.parser import parse_spec

    def one() -> float:
        parse_spec(schema)
        return 1.0

    return 1.0 / rate(one, 0.05)


def layer_probes(w, spec, df, plan_df=None) -> tuple[dict[str, float], object]:
    """The probes every workload shares: parsing ``spec``, the interpreter
    and codec kernels on the workload's fixed samples (``w.sample``,
    ``w.codec``), and the compiled ``spec`` on ``df``. ``plan_df`` is the
    DataFrame whose executed plan is searched for a Python eval node; by
    default the compiled violation rows. Returns the values and the
    compiled spec."""
    from pyspark.sql import functions as F

    from sparkschema.compiler.table import compile_table_spec

    from specs import FLAGSHIP_SPEC

    v = {"spec.parse_s": parse_probe(spec),
         "spec.interpreter_docs_per_s": interpreter_probe(FLAGSHIP_SPEC,
                                                          w.sample)}
    v.update(functions_probes(w.codec))
    with w.span("compiler.compile_table_spec"):
        t = time.perf_counter()
        cts = compile_table_spec(spec, df, key_cols=["image_id"])
        v["compiler.compile_table_spec_s"] = time.perf_counter() - t
    v["compiler.checks"] = float(len(cts.checks))
    plan = cts.violations(df) if plan_df is None else plan_df
    v["compiler.kernel_specs"] = float(
        "ArrowEvalPython" in plan._jdf.queryExecution().executedPlan().toString())
    v["compiler.row_valid_s"] = w.probe(
        "compiler.row_valid", lambda: df.agg(
            F.count(F.lit(1)), F.sum((~cts.row_valid()).cast("long"))).collect())
    v["compiler.violations_s"] = w.probe(
        "compiler.violations",
        lambda: cts.violations(df).write.format("noop").mode("overwrite").save())
    return v, cts
