"""Deterministic hash-based sampling and dataset splitting.

Training-data pipelines need REPRODUCIBLE splits: the same document must
land in the same train/val/test bucket on every run, on any cluster
size, regardless of partitioning — which rules out ``df.sample`` /
``randomSplit`` (partition-order-dependent RNG streams). The standard
fix is a content/id hash mapped to the unit interval.

The hash here is the first 8 hex chars of ``md5(id || salt)`` read as a
32-bit integer — chosen over ``xxhash64`` ONLY because md5 exists in
both Spark and DuckDB with identical output, so every split is
oracle-checkable bit-for-bit (the engine's other fingerprints use
xxhash64 where no cross-engine twin is needed). md5 cost is per-row
O(id length) and embarrassingly parallel: no shuffle, no Python,
whole-stage codegen.

Scale: a split/sample is a pure filter — predicate-pushdown friendly,
zero exchange. Stratified proportions hold per stratum automatically
because the hash is independent of any data column other than the id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_BUCKETS = 1 << 32


def hash_fraction(id_col: Column, salt: str = "") -> Column:
    """Deterministic uniform [0, 1) value per id: first 8 md5 hex chars
    of ``id || salt`` as a 32-bit integer, scaled. NULL id → NULL
    (an absent id cannot be split deterministically; callers decide)."""
    h = F.conv(F.substring(F.md5(F.concat(id_col.cast("string"),
                                          F.lit(salt))), 1, 8), 16, 10)
    return h.cast("double") / F.lit(float(_BUCKETS))


def hash_split(df: DataFrame, id_col: str,
               weights: dict[str, float], salt: str = "") -> DataFrame:
    """Adds a ``split`` column assigning each row to a named bucket with
    the given weights (must sum to ~1.0). Same id + salt ⇒ same bucket,
    forever, at any scale or partitioning. NULL ids get a NULL split.

    ``salt`` versions the split: changing it reshuffles every
    assignment (e.g. ``salt="v2"`` for a fresh holdout)."""
    total = sum(weights.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"split weights sum to {total}, expected 1.0")
    frac = hash_fraction(F.col(id_col), salt)
    # ordered cumulative boundaries: bucket_i gets [cum_{i-1}, cum_i);
    # the LAST bucket is the unconditional fallback so float rounding at
    # the top boundary can never produce an unassigned row
    names = list(weights)
    chain = None
    cum = 0.0
    for name in names[:-1]:
        cum += weights[name]
        cond = frac < F.lit(cum)
        chain = F.when(cond, F.lit(name)) if chain is None \
            else chain.when(cond, F.lit(name))
    assigned = (F.lit(names[-1]) if chain is None
                else chain.otherwise(F.lit(names[-1])))
    return df.withColumn("split", F.when(F.col(id_col).isNull(),
                                         F.lit(None).cast("string"))
                                   .otherwise(assigned))


def cap_per_group(df: DataFrame, group_col: str, id_col: str, k: int,
                  salt: str = "") -> DataFrame:
    """Keep at most ``k`` rows per ``group_col`` value, chosen by
    deterministic hash priority — the standard domain-balancing pass
    (cap documents per source/domain so no single crawl host dominates
    the corpus). Selection is ``row_number()`` ordered by
    ``md5(id || salt)`` then ``id``: same ids + salt ⇒ same survivors on
    every run, at any parallelism, on either engine (md5, like
    :func:`hash_fraction`, exists bit-identically in Spark and DuckDB so
    the whole selection is oracle-checkable).

    NULL ``id_col`` hashes to NULL priority; NULLs sort LAST on both
    engines (``asc_nulls_last`` here, DuckDB's ASC default) so NULL-id
    rows are the first evicted and the tiebreak stays deterministic.
    NULL groups form one group of their own (both engines agree).

    Scale: one hash exchange on the group key, then a per-group sort —
    the same shape as any windowed top-k. A pathologically hot group
    (one domain = 20% of the corpus) serializes that group's sort into
    one task; because the priority is a uniform hash, a pre-filter
    ``hash_fraction < (c·k / est_group_count)`` can shrink such groups
    before the exchange without changing the survivor set as long as
    the threshold keeps ≥ k rows — left to callers since it needs a
    group-size estimate.
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    prio = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    w = (Window.partitionBy(group_col)
               .orderBy(prio.asc_nulls_last(),
                        F.col(id_col).asc_nulls_last()))
    return (df.withColumn("__cap_rn", F.row_number().over(w))
              .where(F.col("__cap_rn") <= k)
              .drop("__cap_rn"))


def weighted_sample_by_group(df: DataFrame, id_col: str, group_col: str,
                             fractions: dict[str, float],
                             default: float = 0.0,
                             salt: str = "") -> DataFrame:
    """Dataset mixing: keep a DIFFERENT deterministic fraction of each
    ``group_col`` value (source/domain) — the standard way to reweight
    a multi-source corpus (e.g. upweight books, downsample crawl)
    without losing reproducibility. A row survives iff its md5 hash
    fraction (see :func:`hash_fraction`) is below its group's fraction;
    groups absent from ``fractions`` (and the NULL group) use
    ``default``.

    Like :func:`hash_sample`, samples NEST per group across runs and
    fraction changes (raising a group's fraction only ADDS documents),
    and NULL-id rows are excluded (NULL hash admits no threshold).

    Scale: a pure filter — zero exchange, whole-stage codegen; the
    per-group thresholds compile to a literal CASE chain (sources are
    low-cardinality by nature). For a high-cardinality weight table,
    broadcast-join the weights instead; the CASE form is kept here
    because it is predicate-pushdown friendly and oracle-replayable.
    """
    for name, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for {name!r} is {frac}, "
                             "outside [0, 1]")
    if not 0.0 <= default <= 1.0:
        raise ValueError(f"default fraction {default} outside [0, 1]")
    g = F.col(group_col)
    chain = None
    for name, frac in fractions.items():
        cond = g == F.lit(name)
        chain = F.when(cond, F.lit(float(frac))) if chain is None \
            else chain.when(cond, F.lit(float(frac)))
    threshold = (F.lit(float(default)) if chain is None
                 else chain.otherwise(F.lit(float(default))))
    return df.where(hash_fraction(F.col(id_col), salt) < threshold)


def hash_sample(df: DataFrame, id_col: str, fraction: float,
                salt: str = "") -> DataFrame:
    """Deterministic ``fraction`` sample: keeps rows whose hash fraction
    falls below ``fraction``. Supersets nest: a 1% sample is a subset of
    the same salt's 10% sample (the property ad-hoc ``sample()`` calls
    lose), so dev slices at increasing sizes stay comparable.

    NULL-id rows are EXCLUDED from every sample (their hash fraction is
    NULL, which no threshold admits) — a row without a stable id cannot
    be sampled reproducibly; assign ids first if those rows matter."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction {fraction} outside [0, 1]")
    return df.where(hash_fraction(F.col(id_col), salt) < F.lit(fraction))
