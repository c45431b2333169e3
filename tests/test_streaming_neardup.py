"""Streaming SimHash near-dup: cross-batch matching via bucket state,
within-batch matching, NULL filtering, ring-buffer horizon eviction.

The differential oracle is the BATCH numpy SimHash kernel (same seed →
identical signatures): expected pairs are recomputed in plain Python
from batch signatures as { (earlier, later) : popcount(xor) ≤ max and
≥1 shared chunk }, so the test doesn't hand-pick "texts that should
match" — it checks the streaming operator against the algorithm.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sparkschema.streaming.neardup_stream import streaming_simhash_neardup

BASE = ("the quick brown fox jumps over the lazy dog while seven wizards "
        "brew strong potions at midnight near the old mill by the river")

FILE1 = [
    (1, BASE),
    (2, "completely unrelated text about spark physical plans and shuffles"),
    (3, "another distinct document mentioning parquet column pruning only"),
    (4, ""),
    (5, None),
]
FILE2 = [
    (6, BASE.replace("quick", "swift")),          # near-dup of 1 (cross-batch)
    (7, BASE),                                    # exact dup of 1 and near 6
    (8, "yet another unrelated snippet on watermark semantics in streams"),
    (9, None),
]


def _batch_sigs(spark, rows):
    from sparkschema.operators.dedup import simhash_frame
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return {r.id: r.simhash for r in
            simhash_frame(df, "text", "doc_id", impl="numpy").collect()
            if r.simhash is not None}


def _expected_pairs(sigs, hamming_max=12, chunks=8, bits=64):
    width = bits // chunks
    mask = (1 << width) - 1
    u = lambda v: v & ((1 << 64) - 1)
    out = set()
    ids = sorted(sigs)          # arrival order == id order in this corpus
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if bin(u(sigs[a]) ^ u(sigs[b])).count("1") > hamming_max:
                continue
            if any((u(sigs[a]) >> (c * width)) & mask
                   == (u(sigs[b]) >> (c * width)) & mask
                   for c in range(chunks)):
                out.add((str(a), str(b)))
    return out


def _run_stream(spark, tmp_path, files, **kwargs):
    src = tmp_path / "src"
    src.mkdir()
    for i, rows in enumerate(files):
        pd.DataFrame(rows, columns=["doc_id", "text"]).assign(
            doc_id=lambda d: d.doc_id.astype("int64")).to_parquet(
            src / f"f{i}.parquet", index=False)
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    out = streaming_simhash_neardup(stream, "text", "doc_id", **kwargs)
    name = f"neardup{abs(hash(str(tmp_path))) % 10 ** 8}"
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName(name).option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    return spark.sql(f"select * from {name}").collect()


def test_matches_batch_kernel_cross_and_within_batch(spark, tmp_path):
    got = _run_stream(spark, tmp_path, [FILE1, FILE2])
    pairs = {(r.id_a, r.id_b) for r in got}
    sigs = _batch_sigs(spark, FILE1 + FILE2)
    want = _expected_pairs(sigs)
    # sanity on the corpus itself: the base/edit/copy trio must be in
    # play (exact dup at distance 0 always; the one-word edit is near)
    assert ("1", "7") in want
    assert want, "corpus produced no expected pairs - test is vacuous"
    assert pairs == want, (sorted(pairs ^ want))
    # orientation: earlier doc (smaller ts/id here) is always id_a
    assert all(int(r.id_a) < int(r.id_b) for r in got)
    # hamming values agree with the batch signatures
    u = lambda v: v & ((1 << 64) - 1)
    for r in got:
        assert r.hamming == bin(
            u(sigs[int(r.id_a)]) ^ u(sigs[int(r.id_b)])).count("1")


def test_ring_buffer_horizon_evicts_oldest(spark, tmp_path):
    files = [[(1, BASE)], [(2, BASE)], [(3, BASE)]]
    got = _run_stream(spark, tmp_path, files, state_cap=1)
    pairs = {(r.id_a, r.id_b) for r in got}
    # identical docs: with one slot per bucket, 3 only sees 2 (1 evicted)
    assert pairs == {("1", "2"), ("2", "3")}
    assert all(r.hamming == 0 for r in got)

