"""Event-time operators: sessionization and as-of joins.

The reference project has no event-time surface (it validates structure
— ``SchemaValidatorSpec.scala`` exercises keywords only); these are part
of the training-data-pipeline mandate layered onto the same engine:
interaction logs get sessionized before per-session quality stats, and
as-of joins attach the latest upstream state (model version, config
snapshot, last error) to each event without a range-join explosion.

Scale design:

- :func:`sessionize` uses Spark's native ``session_window`` groupBy —
  one shuffle on the user key, Catalyst's session-merge aggregation
  within partitions, streaming-compatible (the same expression works
  under ``withWatermark`` for late data). No window sort, no Python.
- :func:`asof_join` re-expresses the as-of join as union → one shuffle
  on the join key → per-key sort → running ``last(ignorenulls)`` —
  O(n log n_partition) instead of the O(n·m) range-join blowup, and the
  right side's payload travels through the exchange exactly once. Skewed
  hot keys behave like any window: one task per key segment; for a
  pathological single key, pre-split by time range.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def sessionize(df: DataFrame, user_col: str, ts_col: str,
               gap: str = "30 minutes") -> DataFrame:
    """Per-(user, session) aggregate rows via native ``session_window``.

    A session extends while consecutive events arrive at most ``gap``
    apart; a difference strictly greater than ``gap`` starts a new
    session (Spark's session-window merge treats the window bound as
    closed: an event landing exactly on a session's expiry instant still
    merges — pinned by
    tests/test_sessions_events.py::test_sessionize_gap_edge).

    Returns ``(user_col, session_start timestamp, session_end timestamp,
    n_events long)`` where ``session_start`` is the first event's
    timestamp and ``session_end`` is the last event's timestamp plus
    ``gap`` (the native window bound — the moment the session would have
    expired).
    """
    return (df.where(F.col(ts_col).isNotNull())
              .groupBy(F.col(user_col),
                       F.session_window(F.col(ts_col), gap).alias("sw"))
              .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
              .select(F.col(user_col),
                      F.col("sw.start").alias("session_start"),
                      F.col("sw.end").alias("session_end"),
                      "n_events"))


def asof_join(left: DataFrame, right: DataFrame, on: str,
              left_ts: str, right_ts: str,
              value_cols: list[str] | None = None,
              suffix: str = "_asof", direction: str = "backward",
              tolerance: str | None = None) -> DataFrame:
    """As-of join: each ``left`` row gets the ``value_cols`` of the
    nearest ``right`` row with the same ``on`` key — the LATEST with
    ``right_ts <= left_ts`` (``direction="backward"``, default) or the
    EARLIEST with ``right_ts >= left_ts`` (``direction="forward"``).
    Both bounds are inclusive: at an exact timestamp tie the right row
    is visible to the left row. Left rows with no qualifying right row
    keep NULLs. Also emits ``<right_ts><suffix>`` — the matched right
    row's timestamp.

    ``tolerance`` (an interval string, e.g. ``"15 minutes"``) NULLs out
    matches farther than the interval from the left timestamp — the
    pandas ``merge_asof(tolerance=...)`` contract, applied as a
    zero-cost post-projection (the single-exchange plan is unchanged).

    Implementation (no range join): tag both sides, union, and run a
    running ``last(ignorenulls)`` over ``(key, ts, side)`` — right rows
    sort before left rows at equal timestamps. One hash exchange on the
    key, one sort per partition; right payload bytes cross the exchange
    once. Ties *within* the right side at identical ``(key, ts)`` resolve
    to the later row in the sort (deterministic only if such ties carry
    equal payloads — at-most-one-row-per-timestamp is the caller's
    contract, same as pandas ``merge_asof``).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in (on, right_ts)]

    # The right payload travels as ONE struct: a NULL inside a matched
    # right row must NOT make last(ignorenulls) skip back to an older
    # right row (it skips only rows where the whole struct is NULL,
    # i.e. left rows).
    r_pay = F.struct(F.col(right_ts).alias("__rts"),
                     *[F.col(c).alias(c) for c in value_cols])
    r_tag = right.select(
        F.col(on).alias("__k"), F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        r_pay.alias("__rpay"))
    l_tag = left.select(
        F.col(on).alias("__k"), F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(r_tag.schema["__rpay"].dataType).alias("__rpay"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__lrow"))
    r_tag = r_tag.withColumn(
        "__lrow", F.lit(None).cast(l_tag.schema["__lrow"].dataType))

    # forward = backward on the reversed timeline: descending timestamps,
    # right rows still first at ties (inclusive bound either direction)
    ts_order = (F.col("__ts").asc() if direction == "backward"
                else F.col("__ts").desc())
    w = (Window.partitionBy("__k").orderBy(ts_order, F.col("__side").asc())
               .rowsBetween(Window.unboundedPreceding, 0))
    carried = l_tag.unionByName(r_tag).select(
        "__side", F.col("__ts").alias("__lts"), "__lrow",
        F.last("__rpay", ignorenulls=True).over(w).alias("__m"))
    if tolerance is not None:
        gap = (F.col("__lts") - F.col("__m.__rts")
               if direction == "backward"
               else F.col("__m.__rts") - F.col("__lts"))
        in_tol = gap <= F.expr(f"INTERVAL {tolerance}")
        carried = carried.withColumn(
            "__m", F.when(in_tol, F.col("__m")))  # else NULL struct
    return (carried.where(F.col("__side") == 1)
                   .select(F.col("__lrow.*"),
                           F.col("__m.__rts").alias(f"{right_ts}{suffix}"),
                           *[F.col(f"__m.{c}").alias(f"{c}{suffix}")
                             for c in value_cols]))

