"""Image perceptual-hash near-dup: the dedup family on the image axis.

The engine codec's lossy fmts quantize to 6 bits/channel, so a re-encode of
the same picture must land within a small pHash Hamming radius while
independent random pictures differ in ~32 of 64 bits.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparkschema.functions.imagecodec import (dct_phash, encode, phash_bytes,
                                              synth_pixels)


def _hamming(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_dct_phash_robust_to_lossy_quantization():
    for i in range(20):
        px = synth_pixels(f"img-{i}", 64, 64)
        raw = phash_bytes(encode(px, "raw"))
        lossy = phash_bytes(encode(px, "jpg"))  # 6-bit quantized twin
        assert _hamming(raw, lossy) <= 8, (i, _hamming(raw, lossy))


def test_dct_phash_separates_distinct_images():
    hashes = [dct_phash(synth_pixels(f"img-{i}", 64, 64)) for i in range(20)]
    ds = [_hamming(hashes[i], hashes[j])
          for i in range(20) for j in range(i + 1, 20)]
    assert min(ds) >= 16, min(ds)  # 63 coin flips: P(<16) ≈ 2e-5 per pair


def test_dct_phash_small_and_rect_images():
    # degenerate dims fall back to nearest sampling; rectangles area-pool
    for w, h in ((8, 8), (16, 64), (100, 40), (33, 31)):
        px = synth_pixels(f"r-{w}x{h}", w, h)
        assert isinstance(dct_phash(px), int)
    assert phash_bytes(b"garbage") is None


def test_image_phash_pairs_finds_planted_twins(spark):
    rows = []
    for i in range(25):
        px = synth_pixels(f"p-{i}", 64, 64)
        rows.append((f"a-{i}", bytearray(encode(px, "raw"))))
        rows.append((f"b-{i}", bytearray(encode(px, "jpg"))))
    rows.append(("corrupt", bytearray(b"not an image")))
    df = spark.createDataFrame(rows, "image_id string, bytes binary")

    from sparkschema.operators.imagedup import image_phash_pairs
    pairs = {(r.id_a, r.id_b) for r in
             image_phash_pairs(df, hamming_max=10).collect()}
    planted = {(f"a-{i}", f"b-{i}") for i in range(25)}
    assert planted <= pairs, planted - pairs
    extras = pairs - planted
    assert not extras, extras  # independent images must not collide


def test_image_phash_bytes_never_shuffle(spark):
    """The 10^12-scale property: the binary column is read once by the
    decode UDF and never crosses an exchange — only 8-byte hashes shuffle.
    Plan strings print top-down (scan at the bottom), so every operator
    ABOVE the ArrowEvalPython node — all joins and exchanges — must not
    reference the byte column. (The original weak version of this test
    only inspected Exchange header lines, which never print column lists,
    and missed a repartition that shuffled the full corpus.)"""
    rows = [(f"x-{i}", bytearray(encode(synth_pixels(f"x-{i}", 16, 16), "raw")))
            for i in range(10)]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    from sparkschema.operators.imagedup import image_phash_pairs
    pairs = image_phash_pairs(df)

    # walk the LIVE physical tree (InMemoryRelation prints its cached
    # definition inside plan strings, so string matching cannot tell a
    # live byte shuffle from the cache's provenance)
    def live_exchange_outputs(jplan, out):
        name = jplan.getClass().getSimpleName()
        if "InMemory" in name:
            return  # cached signature table: its definition is not live
        if name.startswith("AdaptiveSparkPlan"):
            live_exchange_outputs(jplan.initialPlan(), out)
            return
        if "QueryStage" in name:
            live_exchange_outputs(jplan.plan(), out)
            return
        if "Exchange" in name:
            out.append([str(jplan.output().apply(i).name())
                        for i in range(jplan.output().size())])
        for i in range(jplan.children().size()):
            live_exchange_outputs(jplan.children().apply(i), out)

    outs: list = []
    live_exchange_outputs(pairs._jdf.queryExecution().executedPlan(), outs)
    assert outs, "expected at least the bucket-join exchange"
    for cols in outs:
        assert not any("bytes" in c or "__b" in c for c in cols), outs


def test_numeric_quantiles_exact_and_approx(spark):
    import random
    rng = random.Random(7)
    vals = [round(rng.uniform(0, 1000), 2) for _ in range(5000)]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    from sparkschema.operators.stats import numeric_quantiles
    probs = [0.1, 0.5, 0.9, 0.99]
    exact = {r.prob: r.quantile for r in
             numeric_quantiles(df, "x", probs, exact=True).collect()}
    approx = {r.prob: r.quantile for r in
              numeric_quantiles(df, "x", probs, exact=False).collect()}
    s = sorted(vals)
    for p in probs:
        # continuous-interpolation reference (numpy 'linear' = quantile_cont)
        ref = float(np.quantile(np.array(s), p, method="linear"))
        assert exact[p] == pytest.approx(ref, abs=1e-9), p
        assert approx[p] == pytest.approx(ref, rel=0.02), p


def test_phash_thin_images_area_reduce_per_axis(spark):
    """Review find r4: either dimension < 32 used nearest-sample on BOTH
    axes; a thin image's long axis is now area-reduced, so a one-row
    noise edit on a 256x16 image stays within a small Hamming radius."""
    import numpy as np

    from sparkschema.functions.imagecodec import (encode, phash_bytes,
                                                  synth_pixels)

    for name in ("thin", "t2", "t3"):
        px = synth_pixels(name, 256, 16)            # w=256, h=16
        base = phash_bytes(encode(px, "raw"))
        quant = phash_bytes(encode(px, "jpg"))      # 6-bit quantized twin
        noisy = np.clip(px.astype(np.int16) + np.where(
            np.arange(16)[:, None, None] == 3, 6, 0), 0, 255).astype(np.uint8)
        noise = phash_bytes(encode(noisy, "raw"))
        other = phash_bytes(encode(synth_pixels(name + "x", 256, 16), "raw"))
        assert bin(base ^ quant).count("1") <= 6, name
        assert bin(base ^ noise).count("1") <= 6, name
        assert bin(base ^ other).count("1") > 10, name


def test_phash_weight_histogram_buckets_and_drift(spark):
    """Hamming-weight buckets stay in [0, 64], NULL hashes are excluded,
    counts conserve, and a planted low-byte-forced shift is visible to
    the one-plan drift statistics."""
    from sparkschema.operators.drift import drift_statistics_histograms
    from sparkschema.operators.imagedup import phash_weight_histogram
    from sparkschema.sources.synthetic import images_df

    imgs = images_df(spark, 800, partitions=4).select("image_id", "phash")
    h = phash_weight_histogram(imgs)
    rows = h.collect()
    assert all(0 <= r.bucket <= 64 for r in rows)
    assert sum(r.cnt for r in rows) == 800

    withnull = imgs.withColumn(
        "phash", F.when(F.col("image_id").endswith("0"), None)
                  .otherwise(F.col("phash")))
    n_null = withnull.where(F.col("phash").isNull()).count()
    assert n_null > 0
    h2 = phash_weight_histogram(withnull)
    assert sum(r.cnt for r in h2.collect()) == 800 - n_null

    shifted = imgs.select(F.col("phash").bitwiseOR(F.lit(255)).alias("phash"))
    stat = drift_statistics_histograms(
        phash_weight_histogram(shifted), h).collect()[0]
    same = drift_statistics_histograms(h, h).collect()[0]
    assert stat["ks"] > same["ks"] and stat["ks"] > 0.1
    assert same["ks"] == 0.0 and same["psi"] == pytest.approx(0.0, abs=1e-12)


def test_decode_bounds_rawz_expansion():
    """Review find r4: a crafted rawz blob expanding ~1000:1 allocated
    gigabytes before the length check; decompression is now capped at
    the header-declared size."""
    import struct
    import zlib

    import pytest as _pytest

    from sparkschema.functions.imagecodec import MAGIC, CorruptImage, decode

    bomb = bytes(MAGIC) + struct.pack("<HHB", 100, 100, 1) \
        + zlib.compress(b"\x00" * (200 * 1024 * 1024))
    with _pytest.raises(CorruptImage):
        decode(bomb)
    # legitimate rawz still round-trips
    from sparkschema.functions.imagecodec import synth_pixels, encode
    px = synth_pixels("ok", 16, 16)
    out, fmt = decode(encode(px, "rawz"))
    assert fmt == "rawz" and (out == px).all()


def test_phash_pairs_compose_with_component_resolution(spark):
    # cross-operator composition: pHash pair graph -> connected
    # components -> one representative per twin cluster; string ids
    # exercise non-numeric canonical-min semantics
    rows = []
    for i in range(10):
        px = synth_pixels(f"c-{i}", 64, 64)
        rows.append((f"a-{i}", bytearray(encode(px, "raw"))))
        rows.append((f"b-{i}", bytearray(encode(px, "jpg"))))
        rows.append((f"c-{i}", bytearray(encode(px, "png"))))
    df = spark.createDataFrame(rows, "image_id string, bytes binary")

    from sparkschema.operators.dedup import (near_dup_components,
                                             near_dup_dedup)
    from sparkschema.operators.imagedup import image_phash_pairs

    pairs = image_phash_pairs(df, hamming_max=10)
    comps = near_dup_components(pairs)
    got = {r.id: r.component for r in comps.collect()}
    for i in range(10):
        # the a/b/c re-encodes of one picture form one cluster rooted at a-<i>
        assert got.get(f"b-{i}") == f"a-{i}", (i, got.get(f"b-{i}"))
        assert got.get(f"c-{i}") == f"a-{i}", (i, got.get(f"c-{i}"))
    kept = near_dup_dedup(df, pairs, "image_id")
    assert sorted(r.image_id for r in kept.collect()) == \
        sorted(f"a-{i}" for i in range(10))


def test_embedding_centroid_drift_identity_and_nulls(spark):
    """Same slice twice -> cosine 1, zero diff; NULL / NULL-element /
    empty vectors are excluded from both the centroid and the counts."""
    from sparkschema.operators.similarity import embedding_centroid_drift

    rows = [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, None),
            (4, [None, 1.0]), (5, [])]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    same = embedding_centroid_drift(df, df).collect()[0]
    assert same["centroid_cosine"] == pytest.approx(1.0)
    assert same["mean_abs_diff"] == pytest.approx(0.0)
    assert same["dims"] == 2 and same["n_a"] == 2 and same["n_b"] == 2

    # orthogonal slices -> cosine 0
    a = spark.createDataFrame([(1, [1.0, 0.0])], "id long, embedding array<double>")
    b = spark.createDataFrame([(2, [0.0, 1.0])], "id long, embedding array<double>")
    orth = embedding_centroid_drift(a, b).collect()[0]
    assert orth["centroid_cosine"] == pytest.approx(0.0, abs=1e-12)


def test_embedding_centroid_drift_zero_centroid_no_ansi_crash(spark):
    """A slice whose vectors cancel to the exact-zero centroid must yield
    a harmless ~0 cosine (norm product floored at 1e-12, like
    cosine_expr), not an ANSI DIVIDE_BY_ZERO job crash."""
    from sparkschema.operators.similarity import embedding_centroid_drift

    zero = spark.createDataFrame(
        [(1, [1.0, -2.0]), (2, [-1.0, 2.0])],
        "id long, embedding array<double>")
    other = spark.createDataFrame(
        [(3, [1.0, 1.0])], "id long, embedding array<double>")
    row = embedding_centroid_drift(zero, other).collect()[0]
    assert row["centroid_cosine"] == pytest.approx(0.0, abs=1e-9)
    assert row["n_a"] == 2 and row["n_b"] == 1


def test_image_phash_pairs_max_bucket_caps_degenerate_hash(spark):
    """A degenerate corpus (one template image re-encoded under many ids,
    every copy sharing a pHash) floods every chunk bucket; max_bucket
    removes the oversized buckets so the self-join stays bounded, at the
    documented cost of the pairs confined to them. Distinct planted
    twins in small buckets are still found."""
    from sparkschema.operators.caching import CacheScope
    from sparkschema.operators.imagedup import image_phash_pairs

    rows = []
    template = bytearray(encode(synth_pixels("tmpl", 32, 32), "raw"))
    for i in range(30):                       # 30 byte-identical copies
        rows.append((f"t-{i:03d}", template))
    px = synth_pixels("pair", 32, 32)
    rows.append(("p-a", bytearray(encode(px, "raw"))))
    rows.append(("p-b", bytearray(encode(px, "jpg"))))
    df = spark.createDataFrame(rows, "image_id string, bytes binary")

    scope = CacheScope()
    try:
        pairs = {(r.id_a, r.id_b) for r in image_phash_pairs(
            df, hamming_max=10, max_bucket=10, scope=scope).collect()}
        assert ("p-a", "p-b") in pairs
        assert not any(a.startswith("t-") for a, _ in pairs), pairs
        # uncapped: the degenerate cluster produces its full 30*29/2 pairs
        full = image_phash_pairs(df, hamming_max=10, scope=scope).count()
        assert full == 30 * 29 // 2 + 1
    finally:
        scope.release()


def test_exact_image_dup_groups_digest_and_semantics(spark):
    """Byte-identical groups: digest agrees with an independent hashlib
    recomputation over the hex expansion (the DuckDB-portable key), NULL
    buffers are excluded, singletons are dropped, and near-but-not-equal
    re-encodes of the same picture do NOT group."""
    import hashlib

    from sparkschema.operators.imagedup import exact_image_dup_groups

    px = synth_pixels("pic", 32, 32)
    raw = bytes(encode(px, "raw"))
    jpg = bytes(encode(px, "jpg"))        # same picture, different bytes
    other = bytes(encode(synth_pixels("other", 32, 32), "raw"))
    rows = [
        ("a-1", bytearray(raw)), ("a-2", bytearray(raw)),
        ("a-3", bytearray(raw)),                      # group of 3
        ("b-1", bytearray(jpg)),                      # singleton (lossy twin)
        ("c-1", bytearray(other)), ("c-2", bytearray(other)),  # group of 2
        ("n-1", None),  ("n-2", None),                # NULLs never group
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    got = {r.bytes_hash: r for r in exact_image_dup_groups(df).collect()}

    def key(buf: bytes) -> str:
        return hashlib.sha256(buf.hex().upper().encode()).hexdigest()

    assert set(got) == {key(raw), key(other)}
    assert (got[key(raw)].n_rows, got[key(raw)].n_images,
            got[key(raw)].min_id) == (3, 3, "a-1")
    assert (got[key(other)].n_rows, got[key(other)].n_images,
            got[key(other)].min_id) == (2, 2, "c-1")
