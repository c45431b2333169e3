"""Table-level operators on real testdata: stats, uniqueness, referential,
drift — each verified against DuckDB-computed expected values or closed-form
expectations."""

import duckdb
import pytest
from pyspark.sql import functions as F

from sparkschema.operators import drift, referential, stats, uniqueness

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF}/lineitem.parquet")


@pytest.fixture(scope="module")
def orders(spark):
    return spark.read.parquet(f"{SF}/orders.parquet")


def test_column_stats_against_duckdb(lineitem):
    got = {r.column: r for r in
           stats.column_stats(lineitem, ["l_quantity", "l_returnflag"]).collect()}
    exp = duckdb.sql(f"""
        select count(*) n_rows,
               sum(case when l_quantity is null then 1 else 0 end) nq,
               min(l_quantity) mn, max(l_quantity) mx
        from '{SF}/lineitem.parquet'
    """).fetchone()
    q = got["l_quantity"]
    assert q.rows == exp[0]
    assert q.null_count == exp[1]
    assert float(q.min) == exp[2] and float(q.max) == exp[3]
    # HLL estimate within rsd bounds of exact
    exact = duckdb.sql(
        f"select count(distinct l_returnflag) from '{SF}/lineitem.parquet'"
    ).fetchone()[0]
    assert abs(got["l_returnflag"].approx_distinct - exact) <= max(1, 0.1 * exact)


def test_hll_sketch_merge(lineitem):
    sk = stats.hll_distinct_sketches(lineitem.repartition(8), "l_orderkey")
    est = stats.hll_merge(sk).collect()[0]
    exact = duckdb.sql(
        f"select count(distinct l_orderkey) from '{SF}/lineitem.parquet'"
    ).fetchone()[0]
    assert abs(est.distinct_estimate - exact) / exact < 0.05


def test_duplicate_keys_salted(spark):
    df = spark.createDataFrame(
        [(i % 10, i) for i in range(100)] + [(99, 0)], "k int, v int"
    ).repartition(8)
    dups = {r.k: r.dup_count for r in uniqueness.duplicate_keys(df, "k").collect()}
    assert dups == {i: 10 for i in range(10)}  # k=99 appears once → not a dup


def test_duplicate_on_clean_key(orders):
    assert uniqueness.duplicate_keys(orders, "o_orderkey").count() == 0
    v = uniqueness.uniqueness_verdict(orders, "o_orderkey").collect()[0]
    assert v["pass"] and v.dup_keys == 0


def test_orphans_broadcast_and_shuffle(lineitem, orders):
    exp = duckdb.sql(f"""
        select count(*) from '{SF}/lineitem.parquet' l
        where l.l_orderkey not in (select o_orderkey from '{SF}/orders.parquet')
    """).fetchone()[0]
    for strategy in ("broadcast", "shuffle", "auto"):
        got = referential.orphans(lineitem, "l_orderkey", orders, "o_orderkey",
                                  strategy=strategy).count()
        assert got == exp, strategy


def test_orphan_violations_shape(spark):
    fact = spark.createDataFrame([("a", "jpg"), ("b", "tiff")], "id string, fmt string")
    dim = spark.createDataFrame([("jpg",), ("png",)], "fmt string")
    v = referential.orphan_violations(fact, "fmt", dim, "fmt", ["id"],
                                      ref_name="dim_fmt").collect()
    assert len(v) == 1 and v[0].id == "b"
    assert v[0].msg == "Value tiff not present in reference table dim_fmt."
    assert v[0].keyword == "$ref_data"


def test_drift_same_distribution_passes(lineitem):
    a = lineitem.where(F.col("l_orderkey") % 2 == 0)
    b = lineitem.where(F.col("l_orderkey") % 2 == 1)
    res = drift.drift_check(a, b, "l_extendedprice", 0, 100000, buckets=32)
    assert res["pass"] and res["ks"] < 0.05


def test_drift_shifted_distribution_fails(lineitem):
    a = lineitem
    b = lineitem.withColumn("l_extendedprice", F.col("l_extendedprice") * 3)
    res = drift.drift_check(a, b, "l_extendedprice", 0, 100000, buckets=32)
    assert not res["pass"] and res["ks"] > 0.1


def test_drift_statistics_histograms_matches_verdict_math(lineitem, spark):
    """The one-plan DataFrame variant must agree with the driver-side
    verdict arithmetic (_drift_verdict) statistic for statistic, and
    with psi_histograms, on the same bucket frames."""
    from sparkschema.operators.stats import histogram

    a = lineitem.where(F.col("l_orderkey") % 2 == 0)
    b = lineitem.withColumn("l_extendedprice", F.col("l_extendedprice") * 2) \
                .where(F.col("l_orderkey") % 2 == 1)
    ha = histogram(a, "l_extendedprice", 0, 100000, 32)
    hb = histogram(b, "l_extendedprice", 0, 100000, 32)
    row = drift.drift_statistics_histograms(ha, hb).collect()[0]
    ref = drift._drift_verdict(ha, hb, "x", None, None)
    assert row["ks"] == pytest.approx(ref["ks"], rel=1e-12)
    assert row["chi2"] == pytest.approx(ref["chi2"], rel=1e-12)
    assert row["dof"] == ref["dof"]
    psi = drift.psi_histograms(ha, hb).collect()[0]
    assert row["psi"] == pytest.approx(psi["statistic"], rel=1e-12)
    assert (row["n_obs"], row["n_exp"]) == (psi["n_obs"], psi["n_exp"])
    # planted 2x shift is loud on every statistic
    assert row["ks"] > 0.1 and row["psi"] > 0.25


def test_drift_statistics_histograms_empty_side_degrades(spark):
    ha = spark.createDataFrame([(1, 10), (2, 5)], "bucket int, cnt long")
    he = spark.createDataFrame([], "bucket int, cnt long")
    row = drift.drift_statistics_histograms(ha, he).collect()[0]
    assert row["ks"] is None and row["n_exp"] == 0 and row["n_obs"] == 15


def test_ks_exact_by_group(spark):
    import numpy as np
    rng = np.random.default_rng(42)
    rows = [("g", float(x)) for x in rng.normal(0, 1, 500)]
    ref_rows = [("g", float(x)) for x in rng.normal(0, 1, 500)]
    shifted = [("h", float(x)) for x in rng.normal(0, 1, 500)]
    ref_h = [("h", float(x)) for x in rng.normal(3, 1, 500)]
    df = spark.createDataFrame(rows + shifted, "grp string, v double")
    ref = spark.createDataFrame(ref_rows + ref_h, "grp string, v double")
    got = {r.grp: r.ks for r in drift.ks_exact_by_group(df, "grp", "v", ref).collect()}
    assert got["g"] < 0.15 and got["h"] > 0.5


def test_histogram_counts_match_duckdb(lineitem):
    h = {r.bucket: r.cnt for r in
         stats.histogram(lineitem, "l_extendedprice", 0, 60000, 6).collect()}
    exp = dict(duckdb.sql(f"""
        select case when l_extendedprice < 0 then 0
                    when l_extendedprice >= 60000 then 7
                    else cast(floor(l_extendedprice / 10000) as int) + 1 end b,
               count(*)
        from '{SF}/lineitem.parquet' group by 1
    """).fetchall())
    assert h == exp


def test_drift_vs_stored_histogram(lineitem):
    """Drift against a stored histogram (checkpoint-manifest path)."""
    ref = [(r.bucket, r.cnt) for r in
           stats.histogram(lineitem, "l_extendedprice", 0, 60000, 16).collect()]
    same = drift.drift_check_vs_histogram(lineitem, "l_extendedprice", ref,
                                          0, 60000, 16)
    assert same["pass"] and same["ks"] < 1e-9
    import pyspark.sql.functions as F
    shifted = lineitem.withColumn("l_extendedprice", F.col("l_extendedprice") * 2)
    bad = drift.drift_check_vs_histogram(shifted, "l_extendedprice", ref,
                                         0, 60000, 16)
    assert not bad["pass"]


def test_salted_uniqueness_extreme_skew(spark):
    """1M rows where 50% share ONE key: the single aggregate, made
    skew-safe by map-side partial aggregation, must produce exact counts."""
    df = spark.range(1_000_000).select(
        F.when(F.col("id") % 2 == 0, F.lit(42)).otherwise(F.col("id")).alias("k"))
    dups = uniqueness.duplicate_keys(df, "k")
    rows = {r.k: r.dup_count for r in dups.collect()}
    assert rows == {42: 500_000}


def test_drift_empty_side_degrades_gracefully(spark, lineitem):
    """Review find r4: empty/all-NULL sides crashed (ANSI divide-by-zero
    in ks_histograms, TypeError in the verdict) — now pass=False with
    NULL statistics, and the SQL ks statistic is NULL."""
    empty = lineitem.where(F.lit(False))
    res = drift.drift_check(empty, lineitem, "l_extendedprice", 0, 100000)
    assert res["pass"] is False and res["ks"] is None and res["chi2"] is None

    ha = stats.histogram(lineitem, "l_extendedprice", 0, 100000, 8)
    he = stats.histogram(empty, "l_extendedprice", 0, 100000, 8)
    row = drift.ks_histograms(ha, he).collect()[0]
    assert row["statistic"] is None


def test_ks_exact_by_group_integer_groups(spark):
    """Review find r4: the output schema hardcoded the group column as
    string, failing Arrow conversion for integer group keys."""
    df = spark.createDataFrame([(1, float(x)) for x in range(50)],
                               "grp long, v double")
    ref = spark.createDataFrame([(1, float(x)) for x in range(50)],
                                "grp long, v double")
    got = drift.ks_exact_by_group(df, "grp", "v", ref).collect()
    assert len(got) == 1 and got[0].grp == 1 and got[0].ks == 0.0


def test_ann_paths_ignore_null_vectors(spark):
    """Review find r4: NULL query vectors ranked k fabricated NULL-cosine
    neighbors; a NULL vector in the IVF centroid sample crashed the
    driver. All three ANN paths now exclude malformed embeddings."""
    from sparkschema.operators import similarity

    rows = [(i, [float(i), 1.0, 0.5]) for i in range(20)]
    rows += [(98, None), (99, [1.0, None, 0.5])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.where(F.col("vec_id").isin(0, 98, 99))

    for fn, kw in [(similarity.cosine_topk_bruteforce, {}),
                   (similarity.ann_lsh_topk, {}),
                   (similarity.ivf_topk, {"cells": 4, "nprobe": 2})]:
        out = fn(q, emb, "vec_id", "embedding", "vec_id", "embedding",
                 k=3, **kw).collect()
        qids = {r.query_id for r in out}
        assert 98 not in qids and 99 not in qids, fn.__name__
        assert all(r.cosine is not None for r in out), fn.__name__
        assert all(r.neighbor_id not in (98, 99) for r in out), fn.__name__


def test_validation_run_empty_table_checks(spark, lineitem):
    """Review find r4: x-null-fraction and inferred-range x-drift crashed
    on empty/all-NULL inputs instead of producing verdicts."""
    from sparkschema.plans.validation_run import run_validation

    empty = lineitem.where(F.lit(False))
    res = run_validation(
        {"properties": {"l_extendedprice": {"x-null-fraction": 0.5}}},
        empty, key_cols=["l_orderkey"])
    nf = [v for v in res.table_verdicts if v["check"].startswith("null_fraction")]
    assert nf and nf[0]["pass"] is True and nf[0]["null_fraction"] == 0.0

    res2 = run_validation(
        {"properties": {"l_extendedprice": {"x-drift": True}}},
        empty, key_cols=["l_orderkey"], ref=lineitem)
    dr = [v for v in res2.table_verdicts if v["check"].startswith("drift")]
    assert dr and dr[0]["pass"] is False and dr[0]["ks"] is None


def test_column_stats_empty_table_one_row_per_column(spark, lineitem):
    """Review find r4: groupBy(lit(0)) over an empty table yielded ZERO
    rows, breaking the one-row-per-column contract."""
    empty = lineitem.select("l_orderkey", "l_extendedprice").where(F.lit(False))
    rows = stats.column_stats(empty).collect()
    assert len(rows) == 2
    assert all(r.rows == 0 and r.null_count == 0 and r.null_fraction is None
               for r in rows)


def test_histogram_excludes_nan(spark):
    """Review find r4: NaN passed the NULL filter and produced a NULL
    bucket, crashing the drift verdict's driver-side sort."""
    df = spark.createDataFrame(
        [(1.0,), (float("nan"),), (2.0,)], "v double")
    h = {r.bucket: r.cnt for r in stats.histogram(df, "v", 0, 10, 5).collect()}
    assert None not in h and sum(h.values()) == 2
    ref = spark.createDataFrame([(1.5,), (2.5,)], "v double")
    res = drift.drift_check(df, ref, "v", 0, 10, buckets=5)
    assert res["ks"] is not None  # no TypeError from a None bucket


def test_roundtrip_verdict_empty_and_cause_counters(spark):
    """Review find r4: empty input returned pass=NULL (reported as
    failure); missing-ref rows also counted as psnr AND caption
    failures, tripling triage numbers."""
    from sparkschema.operators.roundtrip import roundtrip_verdict
    from sparkschema.sources.synthetic import images_df

    imgs = images_df(spark, 30, with_bytes=True, corrupt_fraction=0.0)
    ref = images_df(spark, 20, with_bytes=True, variant="ref")  # 10 missing
    empty = imgs.where(F.lit(False))
    row = roundtrip_verdict(empty, ref).collect()[0]
    assert row["pass"] is True and row["rows"] == 0
    assert row["psnr_failures"] == 0 and row["missing_refs"] == 0

    row2 = roundtrip_verdict(imgs, ref).collect()[0]
    assert row2["missing_refs"] == 10
    # the 10 missing rows are NOT recounted as psnr/caption failures
    assert row2["psnr_failures"] == 0
    assert row2["caption_mismatches"] <= 2  # only real caption anomalies


def test_ensure_bucketed_table_reregisters_on_path_change(spark, tmp_path):
    """Review find r4: an existing catalog entry was trusted blindly, so
    a second registration under the same name returned the FIRST path's
    data."""
    from sparkschema.sources.tables import ensure_bucketed_table

    a = spark.createDataFrame([(f"a{i}", i) for i in range(10)],
                              "image_id string, v int")
    b = spark.createDataFrame([(f"b{i}", i) for i in range(20)],
                              "image_id string, v int")
    name = "rt_bkt_rereg_test"
    ta = ensure_bucketed_table(spark, name, str(tmp_path / "ta"), source_df=a)
    assert ta.count() == 10
    tb = ensure_bucketed_table(spark, name, str(tmp_path / "tb"), source_df=b)
    assert tb.count() == 20, "stale catalog entry served the old path"
    spark.sql(f"drop table if exists {name}")
