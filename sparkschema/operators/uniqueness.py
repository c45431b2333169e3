"""Uniqueness checks — the table-level re-expression of ``uniqueItems``
(reference: internal/validators/ArrayConstraintValidators.scala:76-95).

Scale design: a single hash aggregation on the key. For a COUNT
aggregate, Spark's map-side partial aggregation collapses every
partition's copies of a hot key to ONE partial row before the exchange,
so even a billion-row hot key sends at most #map-partitions rows to its
reducer — skew-safe without salting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkschema.compiler.table import violation_columns


def duplicate_keys(df: DataFrame, keys: list[str] | str) -> DataFrame:
    """Keys occurring more than once: ``(key..., dup_count)``."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    return (df.groupBy(*keys).agg(F.count(F.lit(1)).alias("dup_count"))
              .where(F.col("dup_count") > 1))


def duplicate_violations(df: DataFrame, keys: list[str] | str,
                         keyword: str = "x-unique",
                         dups: DataFrame | None = None) -> DataFrame:
    """Duplicate keys rendered as violation rows ``(key...,
    VIOLATION_SCHEMA fields)``. Pass a precomputed (e.g. persisted)
    ``dups`` frame to share the aggregation with a verdict over the same
    keys."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    if dups is None:
        dups = duplicate_keys(df, keys)
    value = F.concat_ws(",", *[F.col(k).cast("string") for k in keys])
    return dups.select(*keys, *violation_columns(
        keyword, "#/x-unique/" + "/".join(keys), "/" + keys[0], value,
        F.concat(F.lit("Key "), value, F.lit(" is duplicated "),
                 F.col("dup_count").cast("string"), F.lit(" times."))))


def uniqueness_verdict(df: DataFrame, keys: list[str] | str,
                       dups: DataFrame | None = None) -> DataFrame:
    """One verdict row: ``(check, pass, dup_keys, dup_rows)``."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    if dups is None:
        dups = duplicate_keys(df, keys)
    return dups.agg(
        F.lit("unique:" + ",".join(keys)).alias("check"),
        (F.count(F.lit(1)) == 0).alias("pass"),
        F.count(F.lit(1)).alias("dup_keys"),
        F.coalesce(F.sum("dup_count"), F.lit(0)).alias("dup_rows"),
    )
