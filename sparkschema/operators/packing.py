"""Sequence packing: assign documents to fixed-size token windows.

Training prep for autoregressive models concatenates documents into a
token stream and chops it at the context length ("pack and chop", the
layout GPT-style pipelines feed the trainer). The operator computed
here is the ASSIGNMENT, not the tokenization: given a per-document
token count, place every document at a deterministic offset in a
per-bucket stream and report which context windows (packs) it lands
in. Downstream writers can then materialize pack files independently
per bucket.

Determinism contract (the property ``df.repartition`` + ``rand`` style
packing loses): the layout is a pure function of (id, token count,
cap, n_buckets, salt) — same inputs ⇒ same offsets on every run, at
any parallelism, on either engine. Buckets come from the same
md5-32-bit trick as :mod:`sparkschema.operators.sampling` (md5 exists
bit-identically in Spark and DuckDB, so a DuckDB oracle can replay the
whole layout); order within a bucket is ascending id.

Why contiguous chop rather than first-fit bin packing: first-fit needs
a sequential scan with data-dependent state (inherently a per-row
Python loop under ``applyInPandas``), while the chop layout is ONE
window cumulative sum — whole-stage codegen, no Python — and is what
large-scale trainers actually consume (documents may straddle a window
boundary; the trainer masks or splits at read time). ``packs_spanned``
reports the straddle so callers can quantify boundary waste.

Scale: one hash exchange on the bucket key, then a per-bucket sort of
``rows / n_buckets`` documents. Buckets are uniform by construction
(md5), so there is no hot key; choose ``n_buckets`` ≈ a few × total
cores so the sort parallelizes and each bucket's stream stays
task-sized. Rows with a NULL id or NULL token count are excluded —
they have no deterministic position (callers assign ids / counts
first if those rows matter).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pack_sequences(df: DataFrame, id_col: str, tokens_col: str,
                   cap: int, n_buckets: int,
                   salt: str = "") -> DataFrame:
    """Adds the pack-layout columns:

    - ``bucket``          int — md5 hash bucket (independent stream)
    - ``start_offset``    bigint — first token position in the bucket
      stream (0-based)
    - ``pack_first``      bigint — window index of the first token
      (``floor(start_offset / cap)``)
    - ``pack_last``       bigint — window index of the LAST token
      (equals ``pack_first`` for empty documents, which occupy no
      tokens but anchor at their offset)
    - ``packs_spanned``   bigint — ``pack_last - pack_first + 1``

    ``salt`` versions the layout exactly like a split salt: changing it
    re-buckets every document.
    """
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    id_c = F.col(id_col)
    tok = F.col(tokens_col).cast("bigint")
    h32 = F.conv(F.substring(F.md5(F.concat(id_c.cast("string"),
                                            F.lit(salt))), 1, 8), 16, 10)
    bucket = F.pmod(h32.cast("bigint"), F.lit(n_buckets)).cast("int")
    w = (Window.partitionBy("bucket").orderBy(id_c.asc())
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    placed = (df.where(id_c.isNotNull() & tok.isNotNull())
                .withColumn("bucket", bucket)
                .withColumn("__cum", F.sum(tok).over(w)))
    start = (F.col("__cum") - tok).alias("start_offset")
    pack_first = F.floor((F.col("__cum") - tok) / F.lit(cap))
    # last occupied token is cum-1; empty docs anchor at their offset
    pack_last = F.when(tok > 0, F.floor((F.col("__cum") - 1) / F.lit(cap))) \
                 .otherwise(pack_first)
    return (placed
            .withColumn("start_offset", start)
            .withColumn("pack_first", pack_first.cast("bigint"))
            .withColumn("pack_last", pack_last.cast("bigint"))
            .withColumn("packs_spanned",
                        (F.col("pack_last") - F.col("pack_first") +
                         F.lit(1)).cast("bigint"))
            .drop("__cum"))


def pack_stats(packed: DataFrame, tokens_col: str, cap: int) -> DataFrame:
    """Per-bucket layout report over :func:`pack_sequences` output:
    document/token totals, number of context windows the stream fills
    (``ceil(total_tokens / cap)``; 0 for an all-empty bucket), boundary
    straddles (documents spanning >1 window), and fill efficiency =
    ``total_tokens / (n_packs · cap)``. One row per bucket —
    O(n_buckets) result, a map-side-combinable hash aggregate safe at
    any scale."""
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    tok = F.col(tokens_col).cast("bigint")
    agg = (packed.groupBy("bucket")
           .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum(tok).cast("long").alias("total_tokens"),
                F.sum(F.col("packs_spanned") - 1).cast("long")
                 .alias("n_straddles")))
    n_packs = F.ceil(F.col("total_tokens") / F.lit(cap)).cast("long")
    return (agg.withColumn("n_packs", n_packs)
               .withColumn(
                   "fill_efficiency",
                   F.when(F.col("n_packs") > 0,
                          F.round(F.col("total_tokens") /
                                  (F.col("n_packs") * F.lit(cap)), 6))))
