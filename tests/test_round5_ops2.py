"""Sequence packing, weighted per-source mixing, and Unicode
normalization — semantics the oracles can't isolate (bulk values are
oracle-checked in test_entry_contract via pack_layout_documents /
weighted_mix_documents / normalize_documents)."""

import unicodedata

import pytest
from pyspark.sql import functions as F

from sparkschema.operators.normalize import (nfc_normalize_col,
                                             scrub_control_chars)
from sparkschema.operators.packing import pack_sequences, pack_stats
from sparkschema.operators.sampling import (hash_sample,
                                            weighted_sample_by_group)


# ---------------------------------------------------------------- packing

def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, tokens bigint")


def test_pack_layout_is_contiguous_per_bucket(spark):
    # one bucket => offsets are the prefix sums in id order
    rows = [(i, 10) for i in range(20)]
    out = (pack_sequences(_docs(spark, rows), "doc_id", "tokens",
                          cap=64, n_buckets=1)
           .orderBy("doc_id").collect())
    assert [r.start_offset for r in out] == [10 * i for i in range(20)]
    assert [r.pack_first for r in out] == [(10 * i) // 64
                                           for i in range(20)]
    # doc at offset 60 (tokens 60..69) straddles the 64-boundary
    straddlers = [r.doc_id for r in out if r.packs_spanned == 2]
    assert 6 in straddlers


def test_pack_empty_doc_anchors_without_occupying(spark):
    rows = [(1, 5), (2, 0), (3, 5)]
    out = {r.doc_id: r for r in
           pack_sequences(_docs(spark, rows), "doc_id", "tokens",
                          cap=8, n_buckets=1).collect()}
    assert out[2].start_offset == 5 and out[2].packs_spanned == 1
    assert out[3].start_offset == 5  # empty doc consumed nothing


def test_pack_excludes_null_id_and_null_tokens(spark):
    rows = [(1, 5), (None, 5), (3, None)]
    out = pack_sequences(_docs(spark, rows), "doc_id", "tokens",
                         cap=8, n_buckets=4).collect()
    assert [r.doc_id for r in out] == [1]


def test_pack_layout_stable_across_partitionings(spark):
    rows = [(i, (i * 7) % 23) for i in range(300)]
    df = _docs(spark, rows)
    a = {(r.doc_id, r.bucket, r.start_offset, r.pack_first) for r in
         pack_sequences(df, "doc_id", "tokens", 32, 8).collect()}
    b = {(r.doc_id, r.bucket, r.start_offset, r.pack_first) for r in
         pack_sequences(df.repartition(11), "doc_id", "tokens",
                        32, 8).collect()}
    assert a == b and len(a) == 300


def test_pack_stats_fill_and_straddles(spark):
    rows = [(i, 10) for i in range(10)]  # 100 tokens, cap 64 => 2 packs
    packed = pack_sequences(_docs(spark, rows), "doc_id", "tokens",
                            cap=64, n_buckets=1)
    s = pack_stats(packed, "tokens", cap=64).collect()[0]
    assert s.n_docs == 10 and s.total_tokens == 100
    assert s.n_packs == 2
    assert abs(s.fill_efficiency - 100 / 128) < 1e-6
    assert s.n_straddles == 1


def test_pack_rejects_bad_args(spark):
    df = _docs(spark, [(1, 1)])
    with pytest.raises(ValueError):
        pack_sequences(df, "doc_id", "tokens", 0, 1)
    with pytest.raises(ValueError):
        pack_sequences(df, "doc_id", "tokens", 8, 0)
    with pytest.raises(ValueError):
        pack_stats(df, "tokens", 0)


# ----------------------------------------------------------- weighted mix

def _sourced(spark, n=3000):
    return (spark.range(n).withColumnRenamed("id", "doc_id")
            .withColumn("source",
                        F.element_at(F.array(F.lit("web"), F.lit("books"),
                                             F.lit("code")),
                                     (F.col("doc_id") % 3 + 1)
                                     .cast("int"))))


def test_weighted_mix_respects_per_group_fractions(spark):
    df = _sourced(spark)
    kept = weighted_sample_by_group(
        df, "doc_id", "source", {"web": 0.1, "books": 1.0, "code": 0.5})
    counts = {r.source: r.n for r in
              kept.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
                  .collect()}
    assert counts["books"] == 1000           # fraction 1.0 keeps all
    assert 40 <= counts["web"] <= 160        # ~100 expected
    assert 400 <= counts["code"] <= 600      # ~500 expected


def test_weighted_mix_nests_within_group_and_matches_hash_sample(spark):
    df = _sourced(spark)
    lo = {r.doc_id for r in weighted_sample_by_group(
        df, "doc_id", "source", {"web": 0.05}).collect()}
    hi = {r.doc_id for r in weighted_sample_by_group(
        df, "doc_id", "source", {"web": 0.2}).collect()}
    assert lo <= hi
    # a group at fraction f keeps exactly hash_sample(f) ∩ group
    direct = {r.doc_id for r in
              hash_sample(df.where(F.col("source") == "web"),
                          "doc_id", 0.2).collect()}
    assert hi == direct


def test_weighted_mix_default_covers_unknown_and_null_groups(spark):
    df = _sourced(spark, 300).withColumn(
        "source", F.when(F.col("doc_id") % 2 == 0, F.col("source")))
    none_kept = weighted_sample_by_group(
        df, "doc_id", "source", {"nosuch": 1.0}, default=0.0)
    assert none_kept.count() == 0
    all_default = weighted_sample_by_group(
        df, "doc_id", "source", {}, default=1.0)
    assert all_default.count() == 300  # NULL groups use default too


def test_weighted_mix_rejects_bad_fractions(spark):
    df = _sourced(spark, 10)
    with pytest.raises(ValueError):
        weighted_sample_by_group(df, "doc_id", "source", {"web": 1.5})
    with pytest.raises(ValueError):
        weighted_sample_by_group(df, "doc_id", "source", {}, default=-0.1)


# ----------------------------------------------------------- normalization

def test_nfc_normalize_composes_and_passes_null(spark):
    rows = [(1, "café"),        # e + combining acute
            (2, "café"),              # precomposed
            (3, "각"),     # Hangul jamo L+V+T
            (4, None),
            (5, "plain ascii")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r.norm for r in
           df.select("doc_id",
                     nfc_normalize_col(F.col("text")).alias("norm"))
             .collect()}
    assert out[1] == out[2] == "café"
    assert out[3] == "각"              # precomposed syllable GAG
    assert out[4] is None
    assert out[5] == "plain ascii"
    # engine matches CPython's unicodedata on every row by construction
    assert out[1] == unicodedata.normalize("NFC", rows[0][1])


def test_scrub_control_chars_keeps_whitespace(spark):
    df = spark.createDataFrame(
        [(1, "a\x00b\x07c\td\ne\rf\x7fg"), (2, None)],
        "doc_id bigint, text string")
    out = {r.doc_id: r.s for r in
           df.select("doc_id",
                     scrub_control_chars(F.col("text")).alias("s"))
             .collect()}
    assert out[1] == "abc\td\ne\rfg"
    assert out[2] is None


def test_normalize_then_scrub_is_idempotent(spark):
    rows = [(i, "x̊" * (i % 3) + "\x01ok") for i in range(1, 30)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    once = df.select(
        "doc_id",
        scrub_control_chars(nfc_normalize_col(F.col("text"))).alias("s"))
    twice = once.select(
        "doc_id",
        scrub_control_chars(nfc_normalize_col(F.col("s"))).alias("s"))
    a = {(r.doc_id, r.s) for r in once.collect()}
    b = {(r.doc_id, r.s) for r in twice.collect()}
    assert a == b


# ------------------------------------------------------- streaming safety

def test_split_and_mix_are_streaming_safe(spark, tmp_path):
    """hash_split / weighted_sample_by_group are stateless row filters
    (no window, no agg), so the SAME operator works under readStream —
    and, because assignment is a pure id hash, the streaming survivor
    set equals the batch one regardless of arrival order or batching."""
    src = str(tmp_path / "docs_src")
    df = (spark.range(400).withColumnRenamed("id", "doc_id")
          .withColumn("source", F.concat(F.lit("s"),
                                         (F.col("doc_id") % 2))))
    df.coalesce(2).write.parquet(src)

    stream = spark.readStream.schema("doc_id long, source string") \
                  .parquet(src)
    mixed = weighted_sample_by_group(
        stream, "doc_id", "source", {"s0": 0.7}, default=0.2)
    from sparkschema.operators.sampling import hash_split
    split = hash_split(mixed, "doc_id", {"train": 0.9, "val": 0.1})
    q = (split.writeStream.outputMode("append")
         .format("memory").queryName("mixsplitstream")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.doc_id, r.split) for r in
           spark.sql("select doc_id, split from mixsplitstream").collect()}

    batch = hash_split(
        weighted_sample_by_group(spark.read.parquet(src), "doc_id",
                                 "source", {"s0": 0.7}, default=0.2),
        "doc_id", {"train": 0.9, "val": 0.1})
    expected = {(r.doc_id, r.split) for r in
                batch.select("doc_id", "split").collect()}
    assert got == expected and 0 < len(got) < 400


# ------------------------------------------- image near-dup clusters

def test_image_neardup_clusters_planted_twin_structure(spark):
    """Entry-level structure check for image_neardup_clusters: the seeded
    corpus plants exactly one raw/jpg twin per base image, so the pair
    graph must resolve into size-2 components rooted at the a- id, and
    every node's component must be its own twin (values are separately
    hash-matched against the DuckDB recursive-CTE closure in
    test_entry_contract)."""
    import __spark_entry__ as entry

    rows = entry.queries()["image_neardup_clusters"](
        spark, "/root/testdata/sf0.001").collect()
    assert rows, "planted twins must produce at least one cluster"
    for r in rows:
        assert r.cluster_size == 2
        assert r.component == "a-" + r.id[2:]
        assert r.component.startswith("a-")
