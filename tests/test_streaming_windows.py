"""Watermarked windowed violation counts over a file stream."""

from pyspark.sql import functions as F

from sparkschema.streaming.validate_stream import windowed_violation_counts


def test_windowed_violation_counts(spark, tmp_path):
    src = str(tmp_path / "events_src")
    rows = [(i,
             f"2024-01-01 {i % 3:02d}:15:00",
             i % 10,  # v<3 violates minimum:3
             ) for i in range(300)]
    (spark.createDataFrame(rows, "id long, ts_s string, v int")
          .select("id", F.col("ts_s").cast("timestamp").alias("ts"), "v")
          .write.parquet(src))
    stream = spark.readStream.schema("id long, ts timestamp, v int").parquet(src)
    spec = {"properties": {"v": {"type": "integer", "minimum": 3}}}
    counts = windowed_violation_counts(stream, spec, ["id"], "ts",
                                       window="1 hour", watermark="2 hours")
    out = str(tmp_path / "out")

    q = (counts.writeStream.outputMode("complete")
         .format("memory").queryName("winviol")
         .option("checkpointLocation", out)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.window.start.hour, r.keyword): r.cnt
           for r in spark.sql("select * from winviol").collect()}
    # 300 ids over 3 hourly windows; v = i%10 → 3 violations per 10 ids
    assert got == {(0, "minimum"): 30, (1, "minimum"): 30, (2, "minimum"): 30}


def test_variant_native_predicates_in_streaming(spark, tmp_path):
    """The r3b VARIANT-native constructs (map<string,variant> entries for
    patternProperties, array<variant> tuple items, structural const) are
    stateless Catalyst expressions, so they must run unchanged inside a
    Structured Streaming micro-batch plan."""
    from sparkschema.compiler.variantcol import variant_valid_column

    src = str(tmp_path / "json_src")
    rows = [(i, '{"k%d": %d, "arr": [%d, "x"], "pair": [1, "a"]}'
             % (i % 3, i, i)) for i in range(60)]
    spark.createDataFrame(rows, "id long, js string").write.parquet(src)
    stream = spark.readStream.schema("id long, js string").parquet(src)
    spec = {
        "patternProperties": {"^k[01]$": {"maximum": 40}},
        "properties": {"arr": {"items": [{"multipleOf": 2},
                                         {"maxLength": 1}],
                               "additionalItems": False},
                       "pair": {"const": [1, "a"]}},
    }
    ok = variant_valid_column("js", spec)
    agg = (stream.select(ok.alias("ok"))
                 .groupBy().agg(F.sum(F.col("ok").cast("long")).alias("valid"),
                                F.count(F.lit(1)).alias("total")))
    q = (agg.writeStream.outputMode("complete")
         .format("memory").queryName("vstream")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    row = spark.sql("select * from vstream").collect()[0]
    # kernel-recomputed expectation
    from sparkschema.spec.interpreter import Validator
    import json as _json
    kernel = Validator()
    expected = sum(1 for _, js in rows
                   if not kernel.validate(spec, _json.loads(js)))
    assert row.total == 60 and row.valid == expected, (row, expected)


def test_sessionize_streaming_matches_batch_for_closed_sessions(spark, tmp_path):
    """sessionize() is the same expression batch and streaming: under a
    watermark + append mode, Structured Streaming emits exactly the
    sessions whose expiry precedes the final watermark — which must
    equal the batch sessionize of the same rows (the late sentinel's
    still-open session is withheld, the standard append contract)."""
    import datetime as dt

    from sparkschema.operators.sessions import sessionize

    t0 = dt.datetime(2024, 1, 1)
    rows = ([(1, t0 + dt.timedelta(minutes=m)) for m in (0, 10, 20)]
            + [(2, t0), (2, t0 + dt.timedelta(minutes=45))]
            # sentinel 12h later: pushes the final watermark past every
            # other session's expiry so they all close and emit
            + [(99, t0 + dt.timedelta(hours=12))])
    src = str(tmp_path / "sess_src")
    spark.createDataFrame(rows, "user_id int, ts timestamp") \
         .write.parquet(src)

    stream = spark.readStream.schema("user_id int, ts timestamp").parquet(src)
    sessions = sessionize(stream.withWatermark("ts", "1 hour"),
                          "user_id", "ts", "30 minutes")
    q = (sessions.writeStream.outputMode("append")
         .format("memory").queryName("sess_stream")
         .option("checkpointLocation", str(tmp_path / "ck_sess"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted((r.user_id, r.session_start, r.session_end, r.n_events)
                 for r in spark.sql("select * from sess_stream").collect())

    batch = sessionize(
        spark.createDataFrame(rows, "user_id int, ts timestamp"),
        "user_id", "ts", "30 minutes")
    want = sorted((r.user_id, r.session_start, r.session_end, r.n_events)
                  for r in batch.collect() if r.user_id != 99)
    assert got == want and len(got) == 3

