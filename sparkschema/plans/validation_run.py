"""The flagship end-to-end plan (SURVEY.md §3 "Engine lifecycle"):

``spec JSON → parse/resolve/compile (driver) → Catalyst single-pass row
checks (violations + per-partition verdicts) → table-level operators
(uniqueness, referential, drift, round-trip) → verdict union``.

Row-level work is one scan; each table-level check adds exactly the
exchanges its algorithm needs (uniqueness: one map-side-combined agg;
anti join: 0 with broadcast; round-trip: 0 on co-bucketed tables; drift:
histogram partials only), and runs them once per job. Nothing here
collects raw rows to the driver.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkschema.compiler.table import (CompiledTableSpec, TableRequest,
                                       compile_table_spec, keyed_violations)
from sparkschema.operators import referential, uniqueness
from sparkschema.operators.caching import default_scope
from sparkschema.operators.drift import drift_check, drift_check_vs_histogram
from sparkschema.operators.roundtrip import (roundtrip_frame, roundtrip_verdict,
                                             roundtrip_violations)


@dataclass
class ValidationResult:
    compiled: CompiledTableSpec
    violations: DataFrame          # row-level + table-level violation rows
    partition_verdicts: DataFrame  # (partition_id, check, pass, metrics)
    table_verdicts: list[dict] = field(default_factory=list)

    def passed(self) -> bool:
        if any(not v["pass"] for v in self.table_verdicts):
            return False
        return self.partition_verdicts.where(~F.col("pass")).limit(1).count() == 0


def run_validation(
    spec: Any,
    df: DataFrame,
    key_cols: list[str],
    dims: dict[str, DataFrame] | None = None,
    ref: DataFrame | None = None,
    registry=None,
    dialect: str | None = None,
    scope=None,
) -> ValidationResult:
    """Compile ``spec`` against ``df`` and run every requested check.

    ``key_cols`` are the report's key columns (cast to string in every
    violation row). ``dims`` maps ``$ref_data`` targets (``"dim_fmt.fmt"``
    → the dim DataFrame); ``ref`` is the reference copy for ``x-drift`` /
    ``x-roundtrip``. Check settings come from the spec alone: the
    ``x-drift`` object (bounds, buckets, thresholds, ``kind``,
    ``ref_histogram``) and ``x-roundtrip.psnr_db_min`` (default 40 dB).

    The row-producing table checks (``x-unique``, ``$ref_data``,
    ``x-roundtrip``) share one shape: the check's fact frame (duplicate
    keys, orphan rows, per-image round-trip facts) is persisted once, one
    aggregate over it gives the table verdict and one projection over it
    gives the violation rows — so the lazy violations union never re-runs
    the check's aggregation, join or Python UDF.

    ``scope`` — a :class:`~sparkschema.operators.caching.CacheScope` that
    owns those persisted fact frames. Pass one and ``release()`` it (or
    use it as a context manager) once ``result.violations`` has been
    consumed. **Default-scope obligation:** with ``scope=None`` the frames
    register in the process-wide default scope and stay pinned until the
    caller invokes
    :func:`sparkschema.operators.caching.release_default_cache` —
    long-lived sessions running many validations MUST do one of the two
    or executor storage accumulates (ADVICE r4). Frames persisted before
    a runtime failure belong to the caller's scope, and ``with
    CacheScope() as scope:`` releases them.
    """
    cache_scope = scope if scope is not None else default_scope()

    cts = compile_table_spec(spec, df, key_cols=key_cols, dialect=dialect,
                             registry=registry)
    violations = cts.violations(df)
    table_verdicts: list[dict] = []
    # every check is built before the first persist, so a spec error
    # (a $ref_data dim missing from dims) raises with nothing cached
    requests = [(req, _row_checks(req, df, key_cols, dims or {}, ref))
                for req in cts.table_requests]

    for req, row_checks in requests:
        for chk in row_checks:
            facts = cache_scope.persist(chk.facts)
            row = chk.verdict(facts).collect()[0]
            table_verdicts.append({**row.asDict(), "pass": bool(row["pass"])})
            violations = violations.unionByName(
                keyed_violations(chk.violations(facts), key_cols, chk.key_src),
                allowMissingColumns=True)
        if req.kind == "drift":
            res = _drift_verdict(req, df, ref)
            if res is not None:
                table_verdicts.append(res)
        elif req.kind == "null_fraction":
            thresh = float(req.config)
            row = df.agg(
                (F.sum(F.col(req.column).isNull().cast("long")) /
                 F.count(F.lit(1))).alias("frac")).collect()[0]
            # empty table => frac NULL: vacuous pass (0 rows, 0 nulls) —
            # the old  NULL <= thresh  comparison raised (review find r4)
            frac = row["frac"] if row["frac"] is not None else 0.0
            table_verdicts.append({"check": f"null_fraction:{req.column}",
                                   "pass": bool(frac <= thresh),
                                   "null_fraction": float(frac)})

    return ValidationResult(cts, violations, cts.verdicts(df), table_verdicts)


@dataclass
class _RowCheck:
    """A table check that emits violation rows: its fact frame, the
    aggregate over it giving the one verdict row, and the projection over
    it giving ``(key_src..., VIOLATION_SCHEMA fields)``."""

    facts: DataFrame
    verdict: Callable[[DataFrame], DataFrame]
    violations: Callable[[DataFrame], DataFrame]
    key_src: list[str]


def _row_checks(req: TableRequest, df: DataFrame, key_cols: list[str],
                dims: dict[str, DataFrame], ref: DataFrame | None
                ) -> list[_RowCheck]:
    if req.kind == "unique":
        # x-unique: true ⇒ the annotated column; a list adds more key
        # columns, each checked independently (the north_star's
        # "uniqueness on image_id/phash")
        cols = [req.column]
        if isinstance(req.config, list):
            cols += [c for c in req.config if isinstance(c, str)]
        return [_RowCheck(
            uniqueness.duplicate_keys(df, c),
            lambda f, c=c: uniqueness.uniqueness_verdict(df, c, dups=f),
            lambda f, c=c: uniqueness.duplicate_violations(df, c, dups=f),
            [c]) for c in cols]
    if req.kind == "ref_data":
        target = str(req.config)
        dim_name, _, dim_col = target.partition(".")
        dim = dims.get(dim_name)
        if dim is None:
            raise ValueError(f"$ref_data target {target!r} not provided in dims")
        col, dim_col = req.column, dim_col or req.column
        # the fact frame keeps ONLY the columns the verdict + violation
        # rows read (key cols + the fact column): the orphan frame's
        # full-row projection forced the 20M-row scan to read every
        # column — ReadSchema pruned to 2 of 6 columns cuts the
        # materializing scan roughly in half on the bench image table
        # (guide §2.3 "project before the exchange"; §6 column pruning)
        keep_cols = list(dict.fromkeys(key_cols + [col]))
        return [_RowCheck(
            referential.orphans(df, col, dim, dim_col, strategy="broadcast")
            .select(*keep_cols),
            lambda f: referential.orphan_verdict(
                df, col, dim, dim_col, strategy="broadcast", orphans_df=f),
            lambda f: referential.orphan_violations(
                df, col, dim, dim_col, key_cols, ref_name=dim_name,
                strategy="broadcast", orphans_df=f),
            key_cols)]
    if req.kind == "roundtrip" and ref is not None:
        cfg = req.config if isinstance(req.config, dict) else {}
        pmin = float(cfg.get("psnr_db_min", 40.0))
        return [_RowCheck(
            roundtrip_frame(df, ref, pmin),
            lambda f: roundtrip_verdict(df, ref, pmin, frame=f),
            lambda f: roundtrip_violations(df, ref, pmin, frame=f),
            ["image_id"])]
    return []


def _drift_verdict(req: TableRequest, df: DataFrame,
                   ref: DataFrame | None) -> dict | None:
    """The ``x-drift`` verdict, or None when there is nothing to compare
    against (no ``ref_histogram`` and no ``ref`` table)."""
    dd = dict(req.config) if isinstance(req.config, dict) else {}
    # "kind": "phash_weight" drifts on the 64-bit hash column's
    # Hamming-weight DISTRIBUTION (bit_count ∈ [0, 64]) instead of its
    # raw values — equi-width buckets over a 64-bit hash space carry no
    # signal, the weight histogram does (the north-star "phash
    # distribution histogram" stat; see
    # operators/imagedup.phash_weight_histogram). The fixed [0, 65)×65
    # binning makes stored ref_histograms portable across runs.
    d_src, r_src, d_col = df, ref, req.column
    if dd.get("kind") == "phash_weight":
        d_col = f"__bw_{req.column}"
        bw = F.bit_count(F.col(req.column)).alias(d_col)
        d_src = df.select(bw)
        r_src = ref.select(bw) if ref is not None else None
        dd.setdefault("lo", 0.0)
        dd.setdefault("hi", 65.0)
        dd.setdefault("buckets", 65)
    if "ref_histogram" in dd:
        # stored-histogram drift: works without a live ref table
        res = drift_check_vs_histogram(
            d_src, d_col, dd["ref_histogram"],
            lo=float(dd["lo"]), hi=float(dd["hi"]),
            buckets=int(dd.get("buckets", 64)),
            ks_threshold=dd.get("ks_threshold", 0.1),
            chi2_threshold=dd.get("chi2_threshold"))
    elif ref is None:
        return None
    else:
        stats = d_src.agg(F.min(d_col).cast("double"),
                          F.max(d_col).cast("double")).collect()[0] \
            if ("lo" not in dd or "hi" not in dd) else None
        # an empty / all-NULL column infers min/max as None — fall back
        # to a degenerate [0,1) range; the drift verdict then reports
        # pass=False with NULL statistics (review find r4)
        lo = dd.get("lo")
        if lo is None:
            lo = stats[0] if stats and stats[0] is not None else 0.0
        hi = dd.get("hi")
        if hi is None:
            hi = (stats[1] if stats and stats[1] is not None else 1.0) + 1e-9
        res = drift_check(d_src, r_src, d_col, lo, hi,
                          buckets=int(dd.get("buckets", 64)),
                          ks_threshold=dd.get("ks_threshold", 0.1),
                          chi2_threshold=dd.get("chi2_threshold"))
    res["check"] = f"drift:{req.column}"
    return res
