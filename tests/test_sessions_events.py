"""Event-time operators: sessionize / asof_join / PSI / URL-domain edge
semantics (the oracle suite in test_entry_contract covers the bulk
values; these pin the boundary behaviors the oracles can't isolate)."""

import datetime as dt
import math

from pyspark.sql import Row
from pyspark.sql import functions as F

from sparkschema.operators.sessions import asof_join, sessionize

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ts(minutes: float) -> dt.datetime:
    return T0 + dt.timedelta(minutes=minutes)


def _events(spark, rows):
    return spark.createDataFrame(rows, "user_id int, ts timestamp")


def test_sessionize_gap_edge(spark):
    # Spark's session-window merge is CLOSED at the expiry bound: an
    # event exactly gap after the previous one still merges (probed on
    # the live engine; the DuckDB oracle's lag-rule uses `> gap`
    # accordingly). One microsecond past the bound starts a new session.
    df = _events(spark, [(1, _ts(0)), (1, _ts(30)),
                         (2, _ts(0)),
                         (2, _ts(30) + dt.timedelta(microseconds=1))])
    s = sessionize(df, "user_id", "ts", "30 minutes")
    per_user = sorted((r.user_id, r.n_events) for r in s.collect())
    assert per_user == [(1, 2), (2, 1), (2, 1)]


def test_sessionize_bounds_are_first_event_and_last_plus_gap(spark):
    df = _events(spark, [(7, _ts(0)), (7, _ts(10)), (7, _ts(15))])
    row = sessionize(df, "user_id", "ts", "30 minutes").collect()[0]
    assert row.session_start == _ts(0)
    assert row.session_end == _ts(45)  # last event (15) + 30m gap
    assert row.n_events == 3


def test_sessionize_null_ts_dropped(spark):
    df = spark.createDataFrame([(1, T0), (1, None)],
                               "user_id int, ts timestamp")
    s = sessionize(df, "user_id", "ts", "30 minutes").collect()
    assert len(s) == 1 and s[0].n_events == 1


def _asof_frames(spark):
    left = spark.createDataFrame(
        [(1, _ts(10), "a"), (1, _ts(20), "b"), (2, _ts(5), "c")],
        "k int, ts timestamp, tag string")
    right = spark.createDataFrame(
        [(1, _ts(10), 100.0), (1, _ts(15), None), (2, _ts(6), 7.0)],
        "k int, ts timestamp, v double")
    return left, right


def test_asof_join_backward_inclusive_and_no_match_nulls(spark):
    left, right = _asof_frames(spark)
    out = {r.tag: (r.ts_asof, r.v_asof)
           for r in asof_join(left, right, "k", "ts", "ts",
                              value_cols=["v"]).collect()}
    # tie at ts(10) is INCLUSIVE: left row sees the right row
    assert out["a"] == (_ts(10), 100.0)
    # ts(5) precedes every right row for k=2 -> NULLs
    assert out["c"] == (None, None)


def test_asof_join_null_payload_not_skipped(spark):
    # the matched right row at ts(15) carries v=NULL; a per-column
    # last(ignorenulls) would skip back to ts(10)'s 100.0 — the struct
    # payload must preserve the NULL while still matching ts(15)
    left, right = _asof_frames(spark)
    out = {r.tag: (r.ts_asof, r.v_asof)
           for r in asof_join(left, right, "k", "ts", "ts",
                              value_cols=["v"]).collect()}
    assert out["b"] == (_ts(15), None)


def test_asof_join_keeps_left_schema(spark):
    left, right = _asof_frames(spark)
    out = asof_join(left, right, "k", "ts", "ts", value_cols=["v"])
    assert out.columns == ["k", "ts", "tag", "ts_asof", "v_asof"]
    assert out.count() == 3


def test_psi_zero_for_identical_and_null_for_empty(spark):
    from sparkschema.operators.drift import psi_histograms

    h = spark.createDataFrame([(1, 10), (2, 30)], "bucket int, cnt long")
    empty = spark.createDataFrame([], "bucket int, cnt long")
    same = psi_histograms(h, h).collect()[0]
    assert abs(same.statistic) < 1e-12
    assert same.n_obs == 40 and same.n_exp == 40
    assert psi_histograms(h, empty).collect()[0].statistic is None


def test_psi_detects_novel_bucket(spark):
    from sparkschema.operators.drift import psi_histograms

    a = spark.createDataFrame([(1, 50), (2, 50)], "bucket int, cnt long")
    b = spark.createDataFrame([(1, 50), (3, 50)], "bucket int, cnt long")
    stat = psi_histograms(a, b).collect()[0].statistic
    # bucket 2 exists only in obs, bucket 3 only in exp -> strong drift
    assert stat > 0.25 and math.isfinite(stat)


def test_url_extraction_and_domain_counts(spark):
    from sparkschema.operators.text import domain_counts

    df = spark.createDataFrame(
        [Row(id=1, text="see https://A.example.com/x and http://a.example.com"),
         Row(id=2, text="https://other.org/p?q=1#f trailing"),
         Row(id=3, text="no urls here"),
         Row(id=4, text=None)])
    got = {(r.domain, r.n_urls, r.n_docs)
           for r in domain_counts(df, "text", id_col="id").collect()}
    # domains lower-cased; doc 1 counts once in n_docs, twice in n_urls
    assert got == {("a.example.com", 2, 1), ("other.org", 1, 1)}


def test_asof_join_plan_single_exchange(spark):
    # scale contract: one hash exchange on the key (the union), one sort
    # — no range-join / cartesian anywhere
    left, right = _asof_frames(spark)
    plan = asof_join(left, right, "k", "ts", "ts", value_cols=["v"]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_contamination_flags_planted_and_null(spark):
    from sparkschema.operators.text import contamination_flags

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta iota")],
        "doc_id int, text string")
    corpus = spark.createDataFrame(
        [(1, "x alpha beta gamma delta epsilon zeta eta theta y"),  # 8-gram hit
         (2, "alpha beta gamma delta epsilon zeta eta"),            # only 7 words
         (3, "completely unrelated text with many different words here"),
         (4, None)],
        "doc_id int, text string")
    got = {r.doc_id: r.n_hits
           for r in contamination_flags(corpus, "text", "doc_id",
                                        bench, "text", n=8).collect()}
    assert got == {1: 1}


def test_contamination_benchmark_side_broadcasts(spark):
    from sparkschema.operators.text import contamination_flags

    bench = spark.createDataFrame([(1, "a b c d e f g h")],
                                  "doc_id int, text string")
    corpus = spark.createDataFrame([(2, "a b c d e f g h i")],
                                   "doc_id int, text string")
    plan = contamination_flags(corpus, "text", "doc_id", bench, "text") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # corpus grams never shuffle to join


def test_asof_join_forward_direction(spark):
    left, right = _asof_frames(spark)
    out = {r.tag: (r.ts_asof, r.v_asof)
           for r in asof_join(left, right, "k", "ts", "ts",
                              value_cols=["v"],
                              direction="forward").collect()}
    # earliest right at-or-after: a(10)->right(10) inclusive tie,
    # b(20)->none after, c(5)->right(6)
    assert out["a"] == (_ts(10), 100.0)
    assert out["b"] == (None, None)
    assert out["c"] == (_ts(6), 7.0)


def test_asof_join_tolerance_nulls_far_matches(spark):
    left, right = _asof_frames(spark)
    out = {r.tag: (r.ts_asof, r.v_asof)
           for r in asof_join(left, right, "k", "ts", "ts",
                              value_cols=["v"],
                              tolerance="2 minutes").collect()}
    # a matches at 0 gap; b's nearest backward right is ts(15), 5 min
    # away -> NULLed by tolerance; c has no backward match at all
    assert out["a"] == (_ts(10), 100.0)
    assert out["b"] == (None, None)
    assert out["c"] == (None, None)


def test_asof_join_bad_direction_raises(spark):
    import pytest as _pytest
    left, right = _asof_frames(spark)
    with _pytest.raises(ValueError):
        asof_join(left, right, "k", "ts", "ts", direction="nearest")
