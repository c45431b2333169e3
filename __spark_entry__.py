"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship compiled-spec validation on sf0.001.
``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 (+ the training-data pipeline operators); ``oracle_sql()``
gives the DuckDB twin for every SQL-expressible one. Column names/types are
aligned on both sides; double aggregates go through exact decimal sums or
rounding so value hashes are deterministic.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

ORDERS_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"]

FLAGSHIP_LINEITEM_SPEC = {
    "$schema": "http://json-schema.org/draft-07/schema#",
    "type": "object",
    "required": ["l_orderkey", "l_quantity", "l_returnflag"],
    "properties": {
        "l_quantity": {"type": "number", "minimum": 1, "maximum": 45},
        "l_discount": {"type": "number", "minimum": 0, "exclusiveMaximum": 0.09},
        "l_returnflag": {"enum": ["A", "N", "R"]},
        "l_linenumber": {"type": "integer", "minimum": 1, "maximum": 7,
                         "format": "int32"},
        "l_extendedprice": {"type": "number", "exclusiveMinimum": 0},
    },
}


def _t(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


#: primary key per table — the deterministic spread key for `_read`
_SPREAD_KEYS = {"documents": "doc_id", "events": "event_id",
                "embeddings": "vec_id", "orders": "o_orderkey",
                "customer": "c_custkey", "part": "p_partkey"}


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a testdata table, spreading SMALL single-file tables across
    the session's cores (guide §2: scale-adaptive partitioning).

    The sf documents/events/embeddings tables arrive as one parquet file
    a few MB in size; Spark's split packing then plans 1-4 scan tasks,
    so every regex/HOF-heavy per-row stage runs on 2 of 32 cores
    (measured: pii_redaction 2.8 s → 0.46 s once spread). The
    repartition is SIZE-GATED — a table that already splits into ≥
    cores-worth of scan work passes through untouched, so at real scale
    this is a no-op and nothing ever blanket-shuffles a big corpus. The
    spread key is the table's primary key (hash partitioning, no
    round-robin presort, deterministic row placement); results of every
    downstream aggregate/window are partitioning-independent."""
    path = _t(sf_dir, name)
    df = spark.read.parquet(path)
    cores = spark.sparkContext.defaultParallelism
    try:
        import os as _os
        if _os.path.isdir(path):
            total = sum(_os.path.getsize(_os.path.join(r, f))
                        for r, _, fs in _os.walk(path) for f in fs)
        else:
            total = _os.path.getsize(path)
    except OSError:
        return df
    # < ~8 MB/core of input ⇒ the scan cannot feed every core (split
    # floor is openCostInBytes=4 MB); spread by the primary key
    if total < cores * 8 * 1024 * 1024 and name in _SPREAD_KEYS:
        df = df.repartition(cores, F.col(_SPREAD_KEYS[name]))
    return df


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: compile the constraint spec once, emit violation rows for
    sf0.001 lineitem plus referential-orphan violations vs orders."""
    from sparkschema.compiler.table import compile_table_spec, keyed_violations
    from sparkschema.operators.referential import orphan_violations

    sf = "/root/testdata/sf0.001"
    keys = ["l_orderkey", "l_linenumber"]
    li = spark.read.parquet(_t(sf, "lineitem"))
    orders = spark.read.parquet(_t(sf, "orders"))
    cts = compile_table_spec(FLAGSHIP_LINEITEM_SPEC, li, key_cols=keys)
    ref_viols = orphan_violations(li, "l_orderkey", orders, "o_orderkey",
                                  key_cols=keys, ref_name="orders",
                                  strategy="broadcast")
    return cts.violations(li).unionByName(keyed_violations(ref_viols, keys))


# ---------------------------------------------------------------------------
# queries


def _q_null_fraction_orders(spark, sf):
    o = spark.read.parquet(_t(sf, "orders"))
    aggs = [F.count(F.lit(1)).alias("total_rows")]
    for c in ORDERS_COLS:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}"))
    return o.agg(*aggs)


def _q_minmax_lineitem(spark, sf):
    li = spark.read.parquet(_t(sf, "lineitem"))
    return (li.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.min("l_quantity").alias("min_qty"),
                 F.max("l_quantity").alias("max_qty"),
                 F.sum(F.col("l_quantity").cast("decimal(18,4)"))
                  .cast("double").alias("sum_qty")))


def _q_enum_violations_lineitem(spark, sf):
    li = spark.read.parquet(_t(sf, "lineitem"))
    return li.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.sum((~F.col("l_returnflag").isin("A", "N", "R")).cast("long"))
         .alias("enum_violations"),
        F.sum((~F.col("l_linestatus").isin("O", "F")).cast("long"))
         .alias("status_violations"))


def _q_pattern_match_customer(spark, sf):
    c = spark.read.parquet(_t(sf, "customer"))
    pat = "^Customer#[0-9]{9}$"
    # phone_prefix stays a constant 0 on BOTH sides: the oracle hardcodes it,
    # and a data-dependent Spark branch would silently diverge if the dataset
    # ever gained a c_phone column (ADVICE r1).
    return c.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.sum(F.col("c_name").rlike(pat).cast("long")).alias("matched"),
        F.lit(0).cast("long").alias("phone_prefix"))


def _q_range_violations_lineitem(spark, sf):
    from sparkschema.compiler.table import compile_table_spec

    li = spark.read.parquet(_t(sf, "lineitem"))
    cts = compile_table_spec(FLAGSHIP_LINEITEM_SPEC, li,
                             key_cols=["l_orderkey", "l_linenumber"])
    return cts.violations(li).select(
        "l_orderkey", "l_linenumber", "keyword", "instance_path", "value")


def _q_referential_orphans(spark, sf):
    from sparkschema.operators.referential import orphans

    li = spark.read.parquet(_t(sf, "lineitem"))
    o = spark.read.parquet(_t(sf, "orders"))
    c = spark.read.parquet(_t(sf, "customer"))
    r1 = orphans(li, "l_orderkey", o, "o_orderkey", strategy="broadcast").count()
    r2 = orphans(o, "o_custkey", c, "c_custkey", strategy="broadcast").count()
    return spark.createDataFrame(
        [(int(r1), int(r2))], "lineitem_orphans bigint, order_orphans bigint")


def _q_histogram_extendedprice(spark, sf):
    from sparkschema.operators.stats import histogram

    li = spark.read.parquet(_t(sf, "lineitem"))
    h = histogram(li, "l_extendedprice", 0.0, 60000.0, 6)
    return h.select(F.col("bucket").cast("int").alias("bucket"),
                    F.col("cnt").cast("long").alias("cnt"))


def _q_combinator_part(spark, sf):
    from sparkschema.compiler.table import compile_table_spec

    p = spark.read.parquet(_t(sf, "part"))
    spec = {
        "type": "object",
        "properties": {"p_size": {"type": "integer", "minimum": 1}},
        "oneOf": [
            {"properties": {"p_size": {"maximum": 9}}},
            {"properties": {"p_retailprice": {"minimum": 1500.0}}},
        ],
        "not": {"properties": {"p_brand": {"const": "Brand#99"}}},
    }
    cts = compile_table_spec(spec, p, key_cols=["p_partkey"])
    v = cts.violations(p)
    return (v.groupBy("keyword").agg(F.count(F.lit(1)).alias("cnt"))
             .orderBy("keyword"))


def _q_duplicate_orderkeys(spark, sf):
    from sparkschema.operators.uniqueness import duplicate_keys

    li = spark.read.parquet(_t(sf, "lineitem"))
    return duplicate_keys(li, "l_orderkey").select(
        "l_orderkey", F.col("dup_count").cast("long").alias("dup_count"))


def _q_unique_composite_lineitem(spark, sf):
    from sparkschema.operators.uniqueness import duplicate_keys

    li = spark.read.parquet(_t(sf, "lineitem"))
    d = duplicate_keys(li, ["l_orderkey", "l_linenumber"])
    return d.agg(F.count(F.lit(1)).alias("dup_key_count"))


def _q_exact_dup_documents(spark, sf):
    from sparkschema.operators.dedup import exact_duplicate_groups

    d = _read(spark, sf, "documents")
    g = exact_duplicate_groups(d, "text", "doc_id")
    # min_id/max_id are exact window aggregates (NOT derived from the
    # capped ids sample) — safe to oracle at any group size
    return g.select("content_hash",
                    F.col("group_size").cast("long").alias("group_size"),
                    "min_id", "max_id")


def _q_token_stats_documents(spark, sf):
    from sparkschema.operators.text import token_count, whitespace_token_count

    d = _read(spark, sf, "documents")
    return d.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        whitespace_token_count(F.col("text")).cast("long").alias("n_ws_tokens"),
        F.length("text").cast("long").alias("n_chars_engine"))


def _q_repetition_documents(spark, sf):
    """Word-3-gram repetition ratio (the Gopher-style duplicate-n-gram
    quality filter) per document — pure Column expressions, DuckDB twin
    recomputes the n-grams with list_transform."""
    from sparkschema.operators.text import ngram_repetition, word_ngrams

    d = _read(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.size(word_ngrams(F.col("text"), 3)).cast("long").alias("n_grams"),
        F.round(ngram_repetition(F.col("text"), 3), 6).alias("rep3"))


def _q_lang_counts_documents(spark, sf):
    from sparkschema.operators.text import lang_id

    d = _read(spark, sf, "documents")
    return (d.select(lang_id(F.col("text")).alias("lang"))
             .groupBy("lang").agg(F.count(F.lit(1)).alias("cnt")))


def _q_quality_components_documents(spark, sf):
    from sparkschema.operators.text import quality_features

    d = _read(spark, sf, "documents")
    f = quality_features(F.col("text"))
    return d.select(
        "doc_id",
        f["n_chars"].cast("long").alias("n_chars_q"),
        f["n_tokens"].cast("long").alias("n_tokens_q"),
        f["n_words"].cast("long").alias("n_words_q"),
        F.round(f["punct_ratio"], 4).alias("punct_ratio"),
        f["stopword_hits"].cast("long").alias("stopword_hits"))


def _q_quality_score_documents(spark, sf):
    """Full composite quality score (operators.text.quality_score): the
    DuckDB oracle recomputes the entire documented formula — length band,
    mean word length band, stopword saturation, punct/digit/upper penalty.

    The 6-decimal operator output is re-rounded to 4 via an explicit
    ``floor(x·10⁴ + 0.5)/10⁴`` rather than ``round(x, 4)``: a 6-place
    score ending in "…50" is an exact decimal tie at the 4th place, and
    the engines' round() primitives break such ties differently (Spark
    HALF_UP on the double's shortest decimal repr vs DuckDB's scaled
    std::round on the binary value — multi-seed fuzz find r5, seed 202
    hit 0.378750 → 0.3788 vs 0.3787). floor on the bit-identical double
    is deterministic on both engines; the SQL twin uses the same form."""
    from sparkschema.operators.text import quality_score

    d = _read(spark, sf, "documents")
    q6 = quality_score(F.col("text"))
    return d.select(
        "doc_id",
        (F.floor(q6 * 10000 + F.lit(0.5)) / 10000).alias("q_score"))


def _q_fingerprint_documents(spark, sf):
    from sparkschema.operators.dedup import normalized_text

    d = _read(spark, sf, "documents")
    return d.select("doc_id", F.md5(normalized_text(F.col("text"))).alias("fp_md5"))


def _pii_corpus(spark, sf):
    """documents.text with PII tokens injected deterministically from
    doc_id (the synthetic corpus carries none) — emails vary per doc,
    the other kinds are fixed strings gated by doc_id residues, so
    per-doc counts differ across the corpus. The oracle SQL replays the
    SAME derivation with `||` (NULL-propagating, like F.concat)."""
    d = _read(spark, sf, "documents")

    def gate(mod, s):
        return F.when(F.col("doc_id") % mod == 0, s).otherwise(F.lit(""))

    return d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            gate(5, F.concat(F.lit(" contact user"),
                             F.col("doc_id").cast("string"),
                             F.lit("@example.com now"))),
            gate(7, F.lit(" call 555-010-1234 or 555.010.4321")),
            gate(11, F.lit(" host 10.0.0.1 and 192.168.1.255 up")),
            gate(13, F.lit(" id 987-65-4320 on file")),
        ).alias("text"))


def _q_pii_redaction_documents(spark, sf):
    from sparkschema.operators.pii import pii_stats_frame

    return pii_stats_frame(_pii_corpus(spark, sf), "text", "doc_id")


def _q_vocab_topk_documents(spark, sf):
    from sparkschema.operators.text import vocab_topk

    d = _read(spark, sf, "documents")
    return vocab_topk(d, "text", "doc_id", k=20)


def _q_events_hourly(spark, sf):
    e = _read(spark, sf, "events")
    return (e.groupBy(F.date_format(F.date_trunc("hour", "ts"),
                                    "yyyy-MM-dd HH:mm:ss").alias("hour"),
                      "event_type")
             .agg(F.count(F.lit(1)).alias("cnt"),
                  F.sum(F.col("value").cast("decimal(18,4)"))
                   .cast("double").alias("sum_value")))


# Keyed by the live SparkSession OBJECT (WeakKeyDictionary), not id():
# after a stopped session is garbage-collected, CPython can reuse the
# same id() for a NEW session, which would hand back a DataFrame bound
# to the dead one. Weak keys also let a stopped session's cached plans
# be reclaimed instead of pinning them for the process lifetime.
import weakref as _weakref

_EVENTS_Q_CACHE: "_weakref.WeakKeyDictionary" = _weakref.WeakKeyDictionary()


def _q_events_json_invalid(spark, sf):
    """Memoizing wrapper over :func:`_build_events_json_invalid` —
    compile-once-run-many, the same contract as compile_table_spec (the
    build costs ~2 s of driver-side py4j Column construction).

    NOTE for benchmarking: repeated ``collect()`` of the SAME DataFrame
    reuses the first run's shuffle files (skipped stages), so timing this
    memoized frame measures only the post-barrier aggregate. Time
    :func:`_build_events_json_invalid` (a fresh plan per run) to measure
    the validation work itself — bench.py does (review find r5)."""
    per_session = _EVENTS_Q_CACHE.get(spark)
    if per_session is None:
        per_session = _EVENTS_Q_CACHE.setdefault(spark, {})
    hit = per_session.get(sf)
    if hit is not None:
        return hit
    out = _build_events_json_invalid(spark, sf)
    per_session[sf] = out
    return out


def _build_events_json_invalid(spark, sf):
    # VARIANT-native dynamic-JSON path (Catalyst expressions, no Python).
    # Round-5 shape (VERDICT r4 next #3): the nine keyword trees still
    # mirror AnyConstraintValidators.scala / ObjectValidators.scala
    # semantics unchanged, but the per-document arms now compile through
    # variant_valid_many — ONE binding of the union of the arms' root
    # slots (schema_of_variant, numeric/string/array extractions, object
    # keys, map entries), so three arms over vb and four over v2 no
    # longer re-evaluate the shared root work per arm. Plan shape:
    #
    #   scan -> hash repartition (spread the single-file dev scan)
    #        -> Project: the three try_parse_json documents, ONCE
    #        -> round-robin barrier (parses materialize; without it
    #           CollapseProject inlines concat+parse into every tree)
    #        -> Project: ok + two verdict structs (all interpreted
    #           VARIANT work happens HERE, one struct reference each)
    #        -> round-robin barrier (verdicts materialize as ~10 booleans
    #           — the struct fields can then be read k times without
    #           re-running the trees; this exchange carries booleans,
    #           not parsed documents)
    #        -> partial + final aggregate.
    #
    # Measured sf0.1 quiet-host: 6.1 s (nine per-arm trees over the parse
    # barrier) -> ~0.3-0.6 s execution with this shape. The remaining
    # per-call cost is driver-side Column-tree construction (~2 s of py4j
    # round trips), paid once per (session, sf) via the wrapper's memo —
    # compile-once-run-many, the same contract as compile_table_spec.
    from decimal import Decimal as _Dec

    from sparkschema.compiler.variantcol import (variant_valid,
                                                 variant_valid_many)

    e = _read(spark, sf, "events") \
        .repartition(max(spark.sparkContext.defaultParallelism, 8),
                     "event_id")
    # multipleOf arms over a derived JSON document that exercises every
    # VARIANT numeric tier (VERDICT r2 #2 done-criterion): k (BIGINT),
    # k·10²⁴ (27-digit exact DECIMAL — outside the old decimal(38,12)
    # window), and a double-rendered decimal checked against 0.25.
    # k·10²⁴ via decimal arithmetic (string-padding zeros would render
    # k=0 as an invalid leading-zero JSON literal). try_cast + the
    # explicit armed gates keep engine and oracle aligned on degenerate
    # rows (missing/non-integer k, NULL value) instead of one side
    # counting an unparsable derived document as invalid.
    kstr = F.get_json_object("props", "$.k")
    knum = kstr.try_cast("decimal(14,0)")
    # arm on an exact integer-text guard shared verbatim with the oracle:
    # try_cast to decimal(14,0) ROUNDS fractional text ('4.5' -> 5) while
    # the oracle's bigint try_cast NULLs it — a fractional props.k would
    # desync the arm counts (ADVICE r3 low)
    k_int = kstr.rlike(r"^-?\d{1,14}$")
    # arms exist only where a derived JSON document exists: NaN/±Inf have
    # no JSON rendering (Spark casts them to 'NaN'/'Infinity', which
    # try_parse_json rejects), so non-finite rows are unarmed rather than
    # "invalid because the harness couldn't build the document" — the
    # DuckDB twin gates on isfinite(value) identically (events fuzz find).
    # Spark NaN ordering makes abs(NaN) != inf TRUE, hence the isnan arm.
    finite = ~F.isnan("value") & (F.abs(F.col("value")) != F.lit(float("inf")))
    # get_json_object is Jackson-lenient (accepts {'k': 7} single quotes);
    # the reference's parser and the DuckDB twin are strict RFC 8259 — arm
    # only rows whose props is STRICT-valid JSON so a lenient-only k never
    # arms the engine alone (events fuzz find). try_parse_json here is an
    # extra per-row parse of a tiny string, same cost class as the
    # get_json_object call beside it.
    # armed's strict-parse gate reads the SAME vp parse selected below
    # (post-barrier column reference) instead of a second
    # try_parse_json("props") — one JSON parse per row, not two
    armed_pre = k_int & F.col("value").isNotNull() & finite
    vstr = F.col("value").cast("string")
    # kstr (a Jackson mini-parse of props) is referenced 4× across the
    # two derived documents and knum; bound ONCE through the 1-element-
    # array HOF lambda (char_shingles CollapseProject pattern) so the
    # projection parses props for $.k once per row, not five times.
    # event_type is JSON-escaped before embedding — the current fixture
    # enum is plain words, but a quote/backslash would otherwise desync
    # the engine (unparsable doc ⇒ invalid) from the column-level oracle
    et_esc = F.regexp_replace(F.col("event_type"), r'([\\"])', r'\\$1')
    bound = F.struct(kstr.alias("k"), vstr.alias("q"), et_esc.alias("et"))

    def derived_docs(bk: Column) -> Column:
        big_b = (bk["k"].try_cast("decimal(14,0)") * F.lit(_Dec(10 ** 24))) \
            .cast("decimal(38,0)").cast("string")
        big_json = F.concat(
            F.lit('{"k": '), bk["k"],
            F.lit(', "big": '), big_b,
            F.lit(', "q": '), bk["q"], F.lit("}"))
        # second derived document for the value-reading object keywords /
        # tuple items / structural const (all VARIANT-native since r3)
        doc2 = F.concat(
            F.lit('{"k": '), bk["k"], F.lit(', "q": '), bk["q"],
            F.lit(', "arr": ['), bk["k"], F.lit(', "'), bk["et"],
            F.lit('", '), bk["q"], F.lit('], "pair": ['), bk["k"],
            F.lit(', "a"]}'))
        return F.struct(F.try_parse_json(big_json).alias("vb"),
                        F.try_parse_json(doc2).alias("v2"))

    docs2 = F.get(F.transform(F.array(bound), derived_docs), 0)
    base = e.select(
        F.try_parse_json("props").alias("vp"),
        docs2.alias("__d"),
        armed_pre.alias("armed_pre"),
        F.col("event_type").isNotNull().alias("et_nn"),
    ).repartition(max(spark.sparkContext.defaultParallelism, 8)) \
     .select(
        "vp", F.col("__d.vb").alias("vb"), F.col("__d.v2").alias("v2"),
        (F.col("armed_pre") & F.col("vp").isNotNull()).alias("armed"),
        (F.col("armed_pre") & F.col("vp").isNotNull() & F.col("et_nn"))
        .alias("armed2"),
    )

    # NULL source / unparsable text → False (err.parse.json), like
    # variant_valid_column. NOTE: this deliberately keeps the plan
    # pure-Catalyst and does NOT carry json_valid_auto's per-row
    # kernel reroute for documents Spark's parser rejects but the
    # reference's accepts (duplicate keys) — the events fixtures have
    # single-key props and the derived docs are dup-free by
    # construction, and the DuckDB twin gates identically on parsed k
    SPEC_OK = {"type": "object", "required": ["k"],
               "properties": {"k": {"type": "integer",
                                    "minimum": 0, "maximum": 50}}}
    VB_SPECS = [  # q0=mo7 q1=mo3 q2=mo25
        {"properties": {"k": {"multipleOf": 7}}},
        {"properties": {"big": {"multipleOf": 3}}},
        {"properties": {"q": {"multipleOf": 0.25}}}]
    V2_SPECS = [  # q0=patprops q1=ap_schema q2=tuple_items q3=pair_const
        {"patternProperties": {"^[kq]$": {"maximum": 50}}},
        {"properties": {"arr": True, "pair": True},
         "additionalProperties": {"type": "number", "minimum": 1}},
        {"properties": {"arr": {
            "items": [{"multipleOf": 2}, {"maxLength": 5}],
            "additionalItems": {"maximum": 100}}}},
        {"properties": {"pair": {"const": [42, "a"]}}}]

    # CRITICAL: each verdict struct is referenced exactly ONCE in this
    # projection — a second reference would inline (re-run) the whole
    # interpreted tree. The NULL-doc guards read the exported nb/n2
    # booleans after the barrier instead.
    flags = base.select(
        (F.col("vp").isNotNull()
         & F.coalesce(variant_valid(F.col("vp"), SPEC_OK),
                      F.lit(False))).alias("ok"),
        variant_valid_many(F.col("vb"), VB_SPECS).alias("rb"),
        variant_valid_many(F.col("v2"), V2_SPECS).alias("r2"),
        F.col("vb").isNull().alias("nb"), F.col("v2").isNull().alias("n2"),
        "armed", "armed2",
    ).repartition(max(spark.sparkContext.defaultParallelism, 8))

    def g(nullcol: str, c: Column) -> Column:
        return F.when(F.col(nullcol), F.lit(False)) \
                .otherwise(F.coalesce(c, F.lit(False)))

    inv = lambda c: F.sum(  # noqa: E731
        (F.col("armed") & ~c).cast("long"))
    inv2 = lambda c: F.sum(  # noqa: E731
        (F.col("armed2") & ~c).cast("long"))
    out = flags.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.sum((~F.col("ok")).cast("long")).alias("invalid_rows"),
        inv(g("nb", F.col("rb")["q0"])).alias("inv_k_mo7"),
        inv(g("nb", F.col("rb")["q1"])).alias("inv_big_mo3"),
        inv(g("nb", F.col("rb")["q2"])).alias("inv_q_mo25"),
        inv2(g("n2", F.col("r2")["q0"])).alias("inv_patprops"),
        inv2(g("n2", F.col("r2")["q1"])).alias("inv_ap_min"),
        inv2(g("n2", F.col("r2")["q2"])).alias("inv_tuple"),
        inv2(g("n2", F.col("r2")["q3"])).alias("inv_pair_const"))
    return out


def _q_embedding_topk(spark, sf):
    from sparkschema.operators.similarity import cosine_topk_bruteforce

    emb = _read(spark, sf, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    q = emb.where(F.col("vec_id") < 5)
    top = cosine_topk_bruteforce(q, emb, "vec_id", "embedding",
                                 "vec_id", "embedding", k=3)
    return top.select("query_id", "neighbor_id",
                      F.round("cosine", 4).alias("cosine_r"))


def _q_ngram_jaccard_sample(spark, sf):
    from sparkschema.operators.dedup import ngram_jaccard

    d = _read(spark, sf, "documents").where(F.col("doc_id") < 12) \
             .select("doc_id", "text")
    a = d.select(F.col("doc_id").alias("id_a"), F.col("text").alias("ta"))
    b = d.select(F.col("doc_id").alias("id_b"), F.col("text").alias("tb"))
    pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    return pairs.select(
        "id_a", "id_b",
        F.round(ngram_jaccard(F.col("ta"), F.col("tb"), 3), 4).alias("jaccard_r"))


def _q_array_keywords_lineitem(spark, sf):
    """Array keyword family (minItems/maxItems/uniqueItems/items/contains)
    over per-order line-number arrays — compiled by the columnar engine,
    oracled by DuckDB list functions (VERDICT r1 #1; reference semantics
    ArrayConstraintValidators.scala:34-95)."""
    from sparkschema.compiler.columns import ColumnCompiler

    li = spark.read.parquet(_t(sf, "lineitem"))
    g = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("l_linenumber")).alias("arr"))
    spec = {"minItems": 2, "maxItems": 6, "uniqueItems": True,
            "items": {"type": "integer", "minimum": 1, "maximum": 5},
            "contains": {"minimum": 7}}
    checks = ColumnCompiler().compile_checks(
        spec, F.col("arr"), g.schema["arr"].dataType, "#", "")
    aggs = [F.count(F.lit(1)).alias("n_groups")]
    aggs += [F.sum(c.fail.cast("long")).alias(f"v_{c.keyword.lower()}")
             for c in checks]
    return g.agg(*aggs)


def _q_tuple_items_part(spark, sf):
    """Tuple ``items`` + ``additionalItems`` (TupleValidators.scala:44-108)
    on a constructed 3-element array; oracle re-derives each positional
    check from the scalar columns."""
    from sparkschema.compiler.columns import ColumnCompiler

    p = spark.read.parquet(_t(sf, "part"))
    d = p.select(F.array(F.col("p_size").cast("double"),
                         F.col("p_retailprice"),
                         (F.col("p_partkey") % 3).cast("double")).alias("arr"))
    spec = {"items": [{"minimum": 1, "maximum": 25}, {"minimum": 901}],
            "additionalItems": {"maximum": 1}}
    checks = ColumnCompiler().compile_checks(
        spec, F.col("arr"), d.schema["arr"].dataType, "#", "")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    aggs += [F.sum(c.fail.cast("long")).alias(f"v{i}_{c.keyword.lower()}")
             for i, c in enumerate(checks)]
    return d.agg(*aggs)


def _q_map_keywords_orders(spark, sf):
    """Object keyword family on a MapType column (patternProperties,
    additionalProperties, min/maxProperties, propertyNames, dependencies,
    required, enum-on-value — ObjectValidators.scala:96-171). The map is
    built from order columns with a conditional 'Note' key so key-set-
    dependent keywords vary per row."""
    from sparkschema.compiler.columns import ColumnCompiler

    o = spark.read.parquet(_t(sf, "orders"))
    keys = F.array(F.lit("status"), F.lit("prio"), F.lit("Note"))
    vals = F.array(F.col("o_orderstatus"), F.col("o_orderpriority"),
                   F.when(F.col("o_totalprice") > 200000.0, F.lit("big")))
    m = F.map_filter(F.map_from_arrays(keys, vals),
                     lambda k, v: v.isNotNull())
    d = o.select(m.alias("m"))
    spec = {
        "properties": {"status": {"enum": ["O", "F", "P"]}, "prio": True},
        "required": ["status"],
        "patternProperties": {"^pr": {"pattern": "^[1-3]-"}},
        "additionalProperties": False,
        "minProperties": 2,
        "maxProperties": 2,
        "propertyNames": {"pattern": "^[a-z]+$"},
        "dependencies": {"Note": ["nonexistent"]},
    }
    checks = ColumnCompiler().compile_checks(
        spec, F.col("m"), d.schema["m"].dataType, "#", "")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    aggs += [F.sum(c.fail.cast("long")).alias(f"v{i}_{c.keyword.lower()}")
             for i, c in enumerate(checks)]
    return d.agg(*aggs)


def _q_scalar_keywords_lineitem(spark, sf):
    """multipleOf / minLength (incl. grapheme clusters) / format arms on
    scalar expressions over lineitem — closes the §2.2 oracle gap for the
    keywords the tpch columns don't exercise directly."""
    from pyspark.sql import types as T

    from sparkschema.compiler.columns import ColumnCompiler

    li = spark.read.parquet(_t(sf, "lineitem"))
    cc = ColumnCompiler()
    dbl, st, lng = T.DoubleType(), T.StringType(), T.LongType()
    mo25 = cc.compile_valid({"multipleOf": 0.25}, F.col("l_extendedprice"), dbl)
    mo3 = cc.compile_valid({"multipleOf": 3}, F.col("l_quantity"), dbl)
    s = F.concat(F.col("l_returnflag"), F.repeat(F.lit("x"), F.col("l_linenumber")))
    minlen = cc.compile_valid({"minLength": 4}, s, st)
    graph = F.concat(F.lit("é"), F.repeat(F.lit("́"), F.col("l_linenumber")))
    gmin = cc.compile_valid({"minLength": 2}, graph, st)  # 1 grapheme cluster
    ip = F.concat((F.col("l_partkey") % 300).cast("string"), F.lit(".0.0.1"))
    ipv4 = cc.compile_valid({"format": "ipv4"}, ip, st)
    dtc = F.when(F.col("l_orderkey") % 2 == 0,
                 F.date_format("l_shipdate", "yyyy-MM-dd'T'HH:mm:ss'Z'")) \
           .otherwise(F.lit("not a date"))
    dtv = cc.compile_valid({"format": "date-time"}, dtc, st)
    i32 = cc.compile_valid({"format": "int32"},
                           F.col("l_orderkey") * 1000000, lng)
    # r3 arms: a lone {"type":"null"} fails every PRESENT value (the r2
    # columnar hole), and a ["null","integer"] union runs the runtime
    # integer check on a fractional double
    tnull = cc.compile_valid({"type": "null"}, F.col("l_returnflag"), st)
    tunion = cc.compile_valid({"type": ["null", "integer"]},
                              F.col("l_extendedprice"), dbl)
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((~mo25).cast("long")).alias("v_multipleof_q"),
        F.sum((~mo3).cast("long")).alias("v_multipleof_3"),
        F.sum((~minlen).cast("long")).alias("v_minlength"),
        F.sum((~gmin).cast("long")).alias("v_minlength_grapheme"),
        F.sum((~ipv4).cast("long")).alias("v_ipv4"),
        F.sum((~dtv).cast("long")).alias("v_datetime"),
        F.sum((~i32).cast("long")).alias("v_int32"),
        F.sum((~tnull).cast("long")).alias("v_type_null"),
        F.sum((~tunion).cast("long")).alias("v_type_null_int"))


def _q_combinator2_part(spark, sf):
    """allOf / anyOf / if-then-else / const / boolean-false-schema arms
    (AnyConstraintValidators.scala; SchemaReads7 boolean schemas), each as
    a violation count with a CASE-expression oracle."""
    from pyspark.sql import types as T

    from sparkschema.compiler.columns import ColumnCompiler

    p = spark.read.parquet(_t(sf, "part"))
    cc = ColumnCompiler()
    it, st = T.IntegerType(), T.StringType()
    allof = cc.compile_valid({"allOf": [{"minimum": 5}, {"maximum": 40}]},
                             F.col("p_size"), it)
    anyof = cc.compile_valid({"anyOf": [{"maximum": 5}, {"minimum": 20}]},
                             F.col("p_size"), it)
    ite = cc.compile_valid({"if": {"minimum": 10}, "then": {"multipleOf": 2},
                            "else": {"maximum": 5}}, F.col("p_size"), it)
    cst = cc.compile_valid({"const": "Brand#13"}, F.col("p_brand"), st)
    false_schema = cc.compile_valid(False, F.col("p_size"), it)
    return p.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((~allof).cast("long")).alias("v_allof"),
        F.sum((~anyof).cast("long")).alias("v_anyof"),
        F.sum((~ite).cast("long")).alias("v_ifthenelse"),
        F.sum((~cst).cast("long")).alias("v_const"),
        F.sum((~false_schema).cast("long")).alias("v_false_schema"))


def _q_drift_ks_lineitem(spark, sf):
    from sparkschema.operators.drift import ks_histograms
    from sparkschema.operators.stats import histogram

    li = spark.read.parquet(_t(sf, "lineitem"))
    a = li.where(F.col("l_orderkey") % 2 == 0)
    b = li.where(F.col("l_orderkey") % 2 == 1)
    ha = histogram(a, "l_extendedprice", 0.0, 60000.0, 24)
    hb = histogram(b, "l_extendedprice", 0.0, 60000.0, 24)
    return ks_histograms(ha, hb).select(F.round("statistic", 6).alias("ks"))


def _q_stats_lineitem(spark, sf):
    from sparkschema.operators.stats import column_stats

    li = spark.read.parquet(_t(sf, "lineitem"))
    s = column_stats(li, ["l_quantity", "l_extendedprice", "l_returnflag"])
    return s.select("column", F.col("rows").cast("long").alias("rows_total"),
                    F.col("null_count").cast("long").alias("null_count"),
                    F.col("min").alias("min_str"), F.col("max").alias("max_str"))


def _q_minhash_pairs_documents(spark, sf):
    """MinHash-LSH near-dup detection with a DETERMINISTIC derived check
    (VERDICT r1 #2): plant exact-construction near-duplicates, then verify
    the LSH pair set is a superset of the exact 5-gram-Jaccard ≥ 0.9 pair
    set (12 bands × 4 rows ⇒ per-pair miss probability ≈ 2.7e-6 at j=0.9).
    The oracle recomputes ``exact_pairs`` independently with DuckDB list
    ops and asserts ``missed = 0``. Signatures use the Arrow-batched numpy
    kernel (identical verified pairs to the expression path —
    tests/test_pipeline_operators.py::test_minhash_numpy_kernel_identical_pairs)."""
    from sparkschema.operators.dedup import minhash_lsh_pairs

    d = _read(spark, sf, "documents").where(F.col("doc_id") < 60) \
             .select("doc_id", "text")
    planted = d.select((F.col("doc_id") + 100000).alias("doc_id"),
                       F.concat(F.col("text"), F.lit(" tail tail")).alias("text"))
    corpus = d.unionByName(planted)
    pairs = minhash_lsh_pairs(corpus, "text", "doc_id", num_hashes=48,
                              bands=12, shingle_k=5, jaccard_min=0.6,
                              signature_impl="numpy") \
        .select("id_a", "id_b")
    # shingle once per doc behind a barrier — an inline ngram_jaccard over
    # the crossJoin re-builds both interpreted shingle arrays per PAIR
    # (O(pairs) HOF evaluations instead of O(docs); measured 25×)
    from sparkschema.operators.dedup import char_shingles, normalized_text
    sh = corpus.select(F.col("doc_id"),
                       char_shingles(normalized_text(F.col("text")), 5)
                       .alias("s")).repartition(8, "doc_id")
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    jac = inter / F.greatest(union.cast("double"), F.lit(1.0))
    exact = (a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
              .where(jac >= 0.9)
              .select("id_a", "id_b"))
    missed = exact.join(pairs, ["id_a", "id_b"], "left_anti")
    return exact.agg(F.count(F.lit(1)).alias("exact_pairs")).crossJoin(
        missed.agg(F.count(F.lit(1)).alias("missed")))


def _q_near_dup_clusters(spark, sf):
    """Connected-components resolution of a near-dup pair graph
    (``dedup.near_dup_components``) — the step that turns PAIRS into a
    dedup DECISION (near-dup similarity is not transitive; single-link
    drop-id_b can erase a whole chain). A 4-version chain is planted per
    document (v0, v0+' tail0', +' tail0 tail1', +' tail0 tail1 tail2');
    adjacent versions share ≥0.9 5-gram Jaccard, so every version chain
    must collapse into ONE component rooted at the original doc_id. The
    pair source here is the exact-Jaccard verifier (deterministic on
    both sides — the LSH candidate stage is probabilistic and separately
    oracled by ``minhash_pairs_documents``'s superset check); the oracle
    recomputes shingles, pairs, AND the transitive closure independently
    via a DuckDB recursive CTE, then min-reachable-id per node."""
    from sparkschema.operators.dedup import (char_shingles,
                                             near_dup_components,
                                             normalized_text)

    d = _read(spark, sf, "documents").where(F.col("doc_id") < 40) \
             .select("doc_id", "text")
    versions = [
        d.select((F.col("doc_id") + 100000 * v).alias("id"),
                 (F.col("text") if v == 0 else
                  F.concat(F.col("text"),
                           F.lit("".join(f" tail{i}" for i in range(v)))))
                 .alias("text"))
        for v in range(4)]
    corpus = versions[0]
    for extra in versions[1:]:
        corpus = corpus.unionByName(extra)
    # shingle once per doc behind a barrier (same rationale as
    # minhash_pairs_documents: inline shingles recompute per PAIR)
    sh = corpus.select("id",
                       char_shingles(normalized_text(F.col("text")), 5)
                       .alias("s")).repartition(8, "id")
    a = sh.select(F.col("id").alias("id_a"), F.col("s").alias("sa"))
    b = sh.select(F.col("id").alias("id_b"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    jac = inter / F.greatest(union.cast("double"), F.lit(1.0))
    pairs = (a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
              .where(jac >= 0.9).select("id_a", "id_b"))
    return near_dup_components(pairs).orderBy("id")


def _q_simhash_documents(spark, sf):
    """Per-document SimHash, md5-hash variant: the full algorithm
    (normalize → 3-shingle → feature hash → per-bit majority vote) is
    recomputed independently by the DuckDB oracle — bit-for-bit
    (VERDICT r1 #2). Production uses the faster xxhash64 variant
    (operators.dedup.simhash_frame); the algorithms differ only in the
    feature hash function."""
    from sparkschema.operators.dedup import simhash_md5_frame

    d = _read(spark, sf, "documents")
    return simhash_md5_frame(d, "text", "doc_id", bits=32, prefix_chars=400) \
        .select(F.col("id").alias("doc_id"),
                F.col("simhash").cast("long").alias("simhash32"))


def _q_embedding_near_dup(spark, sf):
    """Hyperplane-LSH embedding near-dup with a deterministic derived
    check: planted identical-vector duplicates hash to identical buckets,
    so the LSH pair set must contain every planted pair (missed = 0), and
    the exact cosine ≥ 0.99 pair count matches DuckDB's independent
    list_cosine_similarity computation."""
    from sparkschema.operators.dedup import _cosine, embedding_near_duplicates

    emb = _read(spark, sf, "embeddings").where(F.col("vec_id") < 200) \
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    planted = emb.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    corpus = emb.unionByName(planted)
    pairs = embedding_near_duplicates(corpus, "embedding", "vec_id",
                                      threshold=0.99, planes=12) \
        .select("id_a", "id_b")
    planted_pairs = emb.select(F.col("vec_id").alias("id_a"),
                               (F.col("vec_id") + 100000).alias("id_b"))
    missed = planted_pairs.join(pairs, ["id_a", "id_b"], "left_anti")
    a = corpus.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = corpus.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    exact = (a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
              .where(_cosine(F.col("ea"), F.col("eb")) >= 0.99))
    return exact.agg(F.count(F.lit(1)).alias("exact_pairs")).crossJoin(
        missed.agg(F.count(F.lit(1)).alias("planted_missed")))


def _q_hll_distinct_lineitem(spark, sf):
    """Sketch-merged distinct estimate with a deterministic derived check:
    the estimate must land within ±5% (≈3·rsd at lg_k=12) of the exact
    distinct count, which the oracle computes independently."""
    from sparkschema.operators.stats import hll_distinct_sketches, hll_merge

    li = spark.read.parquet(_t(sf, "lineitem"))
    est = hll_merge(hll_distinct_sketches(li, "l_orderkey")) \
        .select(F.col("distinct_estimate").cast("double").alias("__est"))
    exact = li.agg(F.countDistinct("l_orderkey").cast("long")
                   .alias("exact_distinct"))
    # the tolerance band is part of the output row so the oracle recomputes
    # the asserted bounds (VERDICT r2 #6), not just the exact count
    return exact.crossJoin(est).select(
        "exact_distinct",
        (F.col("exact_distinct") * F.lit(0.95)).alias("lo_bound"),
        (F.col("exact_distinct") * F.lit(1.05)).alias("hi_bound"),
        ((F.col("__est") >= F.col("exact_distinct") * F.lit(0.95))
         & (F.col("__est") <= F.col("exact_distinct") * F.lit(1.05)))
        .alias("within_tol"))


def _q_quantiles_extendedprice(spark, sf):
    """Exact continuous-interpolation quantiles (hash-matched against
    DuckDB quantile_cont) plus a derived check that the mergeable
    percentile_approx sketch — the 100-TB path — lands inside a ±1% band
    whose bounds the oracle recomputes (same pattern as hll)."""
    from sparkschema.operators.stats import numeric_quantiles

    li = spark.read.parquet(_t(sf, "lineitem"))
    probs = [0.1, 0.5, 0.9, 0.99]
    exact = numeric_quantiles(li, "l_extendedprice", probs, exact=True) \
        .select("prob", F.round("quantile", 4).alias("q_exact_r"))
    approx = numeric_quantiles(li, "l_extendedprice", probs, exact=False) \
        .select(F.col("prob").alias("__p"), F.col("quantile").alias("__qa"))
    j = exact.join(approx, exact["prob"] == approx["__p"])
    lo = F.col("q_exact_r") * F.lit(0.99)
    hi = F.col("q_exact_r") * F.lit(1.01)
    return j.select(
        "prob", "q_exact_r",
        lo.alias("lo_band"), hi.alias("hi_band"),
        ((F.col("__qa") >= lo) & (F.col("__qa") <= hi)).alias("approx_ok"),
    )


# Signature-export contract (VERDICT r3 #1/#2): DuckDB cannot run the
# engine's image codec, but it does not need to — the engine exports the
# codec's OUTPUT (pHash signatures / raw container bytes) as parquet
# under this directory, and the oracle independently recomputes all the
# downstream logic (pigeonhole buckets, Hamming pairs, byte-structural
# checks) from that export. Only the decode stays engine-side; the
# pairing/validation logic gets independent verification — the pattern
# that oracled ann_lsh_embeddings. The engine query runs before its
# oracle (the driver compares their results), so the export exists by
# the time DuckDB reads it; the engine result is computed FROM THE
# READ-BACK FILE so both sides consume identical rows.
# bump the version segment whenever the codec / synthetic generator /
# signature algorithm changes: _export_once reuses an existing export,
# so a stale directory from older operator code must never be picked up
_ORACLE_EXPORT = "/tmp/sparkschema_oracle/v2"


def _export_once(df, path: str) -> None:
    """Write the deterministic export exactly once, atomically.

    The export content is a pure function of seeded generators, so a
    pre-existing complete export (marked by parquet's _SUCCESS) is
    byte-equivalent and reused. First-time creation goes through a
    per-process temp dir + os.rename — rename fails if another process
    won the race, and that winner's identical export is used instead.
    This removes the overwrite-vs-lazy-read race between concurrent
    driver/bench/pytest runs sharing /tmp (review find r4)."""
    import os
    import shutil

    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return
    tmp = f"{path}.tmp-{os.getpid()}"
    df.write.mode("overwrite").parquet(tmp)
    try:
        os.rename(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)  # lost the race: reuse winner's


def _q_image_phash_neardup(spark, sf):
    """Image perceptual-hash near-dup pairs with a full DuckDB twin.

    Deterministic planted twins: every base image appears raw AND
    6-bit-quantized (jpg) under distinct ids; the pigeonhole-bucketed
    pHash pairs recover each twin at small Hamming distance. The engine
    decodes + pHashes once, exports the 64-bit signature table, and
    derives its pair set from the read-back export; the oracle recomputes
    the chunk buckets, bit_count(xor) Hamming distances, and the planted
    flag from the same export in SQL (reference dup-detection contract:
    ArrayConstraintValidators.scala:76-95)."""
    from sparkschema.operators.dedup import hamming_pairs

    path = _phash_sigs_export(spark)
    pairs = hamming_pairs(spark.read.parquet(path), "phash", "id",
                          chunks=8, hamming_max=10)
    planted = (F.substring("id_a", 3, 3) == F.substring("id_b", 3, 3))
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming"),
        planted.alias("planted"))


def _phash_sigs_export(spark) -> str:
    """Seeded raw/jpg-twin corpus, decoded + pHashed once, exported as the
    64-bit signature table both pHash oracles read back (pairs AND
    clusters consume identical rows by construction)."""
    from sparkschema.functions.imagecodec import encode, synth_pixels
    from sparkschema.operators.imagedup import image_phash_frame

    rows = []
    for i in range(40):
        px = synth_pixels(f"pd-{i}", 64, 64)
        rows.append((f"a-{i:03d}", bytearray(encode(px, "raw"))))
        rows.append((f"b-{i:03d}", bytearray(encode(px, "jpg"))))
    df = spark.createDataFrame(rows, "image_id string, bytes binary") \
              .repartition(8)
    sigs = image_phash_frame(df, spread_partitions=8) \
        .where(F.col("phash").isNotNull())
    path = f"{_ORACLE_EXPORT}/phash_sigs"
    _export_once(sigs, path)
    return path


def _q_image_neardup_clusters(spark, sf):
    """Connected-components resolution of the image pHash pair graph —
    the pairs→DECISION step on the image axis (near-dup similarity is
    not transitive: raw/jpg twins chain through shared pHash
    neighborhoods, and a single-link drop-id_b rule can erase a whole
    chain). The engine derives Hamming pairs from the read-back
    signature export (same rows as ``image_phash_neardup``) and resolves
    clusters with ``dedup.near_dup_components`` (iterative min-label
    propagation, one shuffle join + map-side min-agg per round); the
    oracle independently recomputes the chunk-pigeonhole buckets, the
    ``bit_count(xor)`` pair set, AND the transitive closure via a DuckDB
    recursive CTE, then min-reachable-id per node and a window count for
    cluster size. Reference analog: ``$ref`` graphs resolve to a
    fixpoint over edges the same way (``Refs.scala:40-77``)."""
    from sparkschema.operators.dedup import hamming_pairs, near_dup_components
    from pyspark.sql import Window

    path = _phash_sigs_export(spark)
    pairs = hamming_pairs(spark.read.parquet(path), "phash", "id",
                          chunks=8, hamming_max=10)
    comps = near_dup_components(pairs.select("id_a", "id_b"))
    size = F.count(F.lit(1)).over(Window.partitionBy("component"))
    return comps.select("id", "component",
                        size.cast("bigint").alias("cluster_size")) \
                .orderBy("id")


def _q_image_container_meta(spark, sf):
    """Decode-free container structural verdict with a DuckDB byte-
    arithmetic twin. The engine synthesizes a seeded image slice (with
    planted truncations and orphan fmt labels), exports the raw rows, and
    computes the structural verdict from the read-back export; the oracle
    replays every check (magic, u16-LE dims, fmt code, payload length)
    on the hex rendering of the same blobs."""
    from sparkschema.operators.imagemeta import container_meta_verdict
    from sparkschema.sources.synthetic import images_df

    imgs = images_df(spark, 1200, with_bytes=True, corrupt_fraction=0.02,
                     orphan_fmt_fraction=0.02, partitions=8) \
        .select("image_id", "bytes", "w", "h", "fmt")
    path = f"{_ORACLE_EXPORT}/container_images"
    _export_once(imgs, path)
    return container_meta_verdict(spark.read.parquet(path))


def _quality_images_export(spark) -> str:
    """Shared seeded image slice for the quality-gate and caption-dup
    oracles: elevated anomaly rates so every gate class has members."""
    from sparkschema.sources.synthetic import images_df

    imgs = images_df(spark, 1500, with_bytes=True, dup_fraction=0.01,
                     corrupt_fraction=0.03, caption_anomaly_fraction=0.05,
                     orphan_fmt_fraction=0.01, partitions=8)
    path = f"{_ORACLE_EXPORT}/quality_images"
    _export_once(imgs, path)
    return path


def _q_image_quality_images(spark, sf):
    """LAION-style image quality gates with a full DuckDB twin.

    The engine synthesizes a seeded slice (planted truncations, orphan
    fmt labels, NULL/empty captions), exports the raw rows, and computes
    the precedence-attributed drop report from the read-back export; the
    oracle replays every gate (dims, aspect ratio, bytes-per-pixel band
    on octet_length, trimmed caption length / token count / printable
    ratio) and the precedence CASE in SQL. Thresholds chosen so each
    gate class is non-empty on this slice: min_dim=128 drops the 64-px
    tier, max_aspect=3 drops the 4:1 pairs, the [2.0, 3.5] bpp band
    drops truncated payloads and zlib-compressed rawz.

    Reference parity: the image-table analog of the scalar keyword gates
    (NumberConstraints minimum/maximum, StringValidators minLength)."""
    from sparkschema.operators.imagequality import image_quality_report

    path = _quality_images_export(spark)
    return image_quality_report(
        spark.read.parquet(path), min_dim=128, max_aspect=3.0,
        min_bpp=2.0, max_bpp=3.5)


def _q_caption_dups_images(spark, sf):
    """Boilerplate-caption groups (same normalized caption on distinct
    images) over the shared quality export. The oracle replays the
    engine-canonical normalization (_NORM), sha256 keying, and the
    n_rows/n_images/min_id aggregation."""
    from sparkschema.operators.imagequality import duplicate_caption_groups

    path = _quality_images_export(spark)
    return duplicate_caption_groups(spark.read.parquet(path))


def _q_image_exact_dup(spark, sf):
    """Byte-identical image groups over the shared quality export — the
    exact-dedup stage that precedes perceptual near-dup. The engine keys
    on ``sha2(hex(bytes), 256)`` so the oracle can recompute the digest
    independently from the raw binary column (DuckDB's sha256 is
    VARCHAR-only; hex() is byte-identical across both engines)."""
    from sparkschema.operators.imagedup import exact_image_dup_groups

    path = _quality_images_export(spark)
    return exact_image_dup_groups(spark.read.parquet(path))


def _q_aspect_buckets_images(spark, sf):
    """Aspect-ratio training-bucket occupancy over the shared quality
    export. The nearest-bucket rule is evaluated exactly in int64
    (geometric-midpoint boundary crossings — no ``ln`` in either plan),
    so the oracle replays the identical integer CASE sum, the 1-based
    ``list_extract`` bucket lookup, and the exact-fit cross-product
    count; all-integer output hashes bit-for-bit. Reference parity:
    nearest-member assignment over a closed literal set — the graded
    image-table analog of enum membership
    (AnyConstraintValidators.scala)."""
    from sparkschema.operators.imagequality import aspect_bucket_report

    path = _quality_images_export(spark)
    return aspect_bucket_report(
        spark.read.parquet(path).select("image_id", "w", "h"))


def _phash_drift_export(spark) -> str:
    """Two-slice pHash export for the drift oracle: a seeded reference
    slice plus a "current" slice with planted drift (30% of rows get the
    low pHash byte forced to all-ones, shifting the Hamming-weight
    distribution up). Both sides live in one export with a ``side``
    discriminator so the oracle replays everything from the same rows."""
    from sparkschema.sources.synthetic import images_df

    imgs = images_df(spark, 4000, partitions=8).select("image_id", "phash")
    hot = F.abs(F.xxhash64("image_id", F.lit("drift"))) % 10 < 3
    cur = imgs.select(
        "image_id",
        F.when(hot, F.col("phash").bitwiseOR(F.lit(255)))
         .otherwise(F.col("phash")).alias("phash"))
    both = (imgs.select(F.lit("ref").alias("side"), "image_id", "phash")
                .unionByName(cur.select(F.lit("cur").alias("side"),
                                        "image_id", "phash")))
    path = f"{_ORACLE_EXPORT}/phash_drift"
    _export_once(both, path)
    return path


def _q_phash_drift_images(spark, sf):
    """pHash-distribution drift between two image slices — the
    north-star "phash distribution histograms" per-partition stat wired
    into the drift family. Each side reduces to a ≤65-bucket
    Hamming-weight histogram (bit_count(phash), one map-side-combined
    agg); KS + chi² + PSI then come from ONE Catalyst plan
    (drift_statistics_histograms — no driver arithmetic). The oracle
    replays bit_count histograms, the window-cumsum KS, the 0.5-floored
    chi² and PSI from the exported rows.

    Reference parity: the two-sample analog of the reference's per-run
    stat accumulation (Results.merge, SchemaValidatorSpec) applied to
    the image axis."""
    from sparkschema.operators.drift import drift_statistics_histograms
    from sparkschema.operators.imagedup import phash_weight_histogram

    both = spark.read.parquet(_phash_drift_export(spark))
    h_cur = phash_weight_histogram(both.where(F.col("side") == "cur"))
    h_ref = phash_weight_histogram(both.where(F.col("side") == "ref"))
    return drift_statistics_histograms(h_cur, h_ref).select(
        F.round("ks", 6).alias("ks"),
        F.round("chi2", 4).alias("chi2"),
        "dof",
        F.round("psi", 6).alias("psi"),
        "n_obs", "n_exp")


def _image_curation_export(spark) -> tuple[str, str]:
    """Deterministic image-curation slice + its pHash signature table.

    Base: 800 synthetic images with UNIQUE ids (dup_fraction=0 — the
    generator reuses image_id for its dup rows, which would violate the
    curation plan's unique-id contract), truncation corruption (raw →
    structural bad-length; rawz → passes structure, fails decode =
    undecodable), orphan 'tiff' fmt labels and caption anomalies.
    Planted on top, all driver-built at 128x128 so they clear the
    dims/aspect gates:

    - exact byte duplicates: every base row whose md5 lands under ~5%
      re-exported under ``<id>-x`` with identical bytes,
    - 25 near-dup pairs: the same pixels encoded raw (``nd-a-*``) and
      6-bit-quantized jpg (``nd-b-*``) — small pHash Hamming distance,
      distinct bytes,
    - 12 boilerplate-caption rows sharing one normalized caption for the
      caption_cap stage.

    The signature export is ONE Arrow decode pass over every byte row —
    the persisted signature table both the engine (``phash_sigs=``) and
    the DuckDB twin consume, so near-dup replay is exact."""
    from sparkschema.functions.imagecodec import encode, synth_pixels
    from sparkschema.operators.imagedup import image_phash_frame
    from sparkschema.sources.synthetic import images_df

    raw_path = f"{_ORACLE_EXPORT}/curate_images_raw"
    sig_path = f"{_ORACLE_EXPORT}/curate_images_sigs"
    if not __import__("os").path.exists(f"{raw_path}/_SUCCESS"):
        base = images_df(spark, 800, with_bytes=True, dup_fraction=0.0,
                         corrupt_fraction=0.04,
                         caption_anomaly_fraction=0.06,
                         orphan_fmt_fraction=0.03, partitions=8)
        dups = (base.where(
                    F.conv(F.substring(F.md5(F.col("image_id")), 1, 4),
                           16, 10).cast("long") % 100 < 5)
                .withColumn("image_id", F.concat("image_id", F.lit("-x"))))
        extra = []
        for i in range(25):
            px = synth_pixels(f"cur-nd-{i}", 128, 128)
            cap = f"a planted near duplicate pair number {i}"
            extra.append((f"nd-a-{i:03d}", bytearray(encode(px, "raw")),
                          128, 128, "raw", cap))
            extra.append((f"nd-b-{i:03d}", bytearray(encode(px, "jpg")),
                          128, 128, "jpg", cap + " prime"))
        for i in range(12):
            px = synth_pixels(f"cur-cc-{i}", 128, 128)
            extra.append((f"cc-{i:03d}", bytearray(encode(px, "raw")),
                          128, 128, "raw",
                          "Stock   Photo Placeholder Image"))
        from sparkschema.functions.imagecodec import FMT_CODES, MAGIC
        rawz_hdr = (MAGIC + (128).to_bytes(2, "little")
                    + (128).to_bytes(2, "little")
                    + bytes([FMT_CODES["rawz"]]))
        for i in range(5):
            # null payloads (null_bytes stage) and structurally-sound
            # rawz containers whose payload is half the plausible size
            # (bpp stage: 0.5 B/px < the 1.0 floor)
            extra.append((f"nb-{i:03d}", None, 128, 128, "raw",
                          f"a null payload planted row {i}"))
            extra.append((f"bp-{i:03d}",
                          bytearray(rawz_hdr + b"\x22" * (128 * 128 // 2)),
                          128, 128, "rawz",
                          f"a low bpp planted row {i}"))
        extra_df = spark.createDataFrame(
            extra, "image_id string, bytes binary, w int, h int, "
                   "fmt string, caption string") \
            .select("image_id", "bytes", "w", "h", "fmt", "caption",
                    F.lit(None).cast("long").alias("phash"))
        _export_once(base.unionByName(dups).unionByName(extra_df)
                     .repartition(8), raw_path)
    if not __import__("os").path.exists(f"{sig_path}/_SUCCESS"):
        sigs = image_phash_frame(spark.read.parquet(raw_path),
                                 spread_partitions=8)
        _export_once(sigs, sig_path)
    return raw_path, sig_path


def _q_image_curation_report(spark, sf):
    """The end-to-end image-corpus curation plan's one-row drop-stage
    report, fully replayed in DuckDB: structural byte checks (hex
    arithmetic), dims/aspect/bpp/caption gates, exact byte dedup
    (group-by-blob), undecodability from the shared signature export,
    chunk-pigeonhole Hamming pairs + recursive-CTE transitive closure
    for the near-dup clusters, and the md5-priority caption cap — every
    stage attributed by the same precedence CASE.

    Reference parity: the image-axis composition of the per-keyword
    verdicts (SchemaValidatorSpec's pass/fail + violation accumulation)
    into one curation run."""
    from sparkschema.plans.image_curation import curate_images

    raw_path, sig_path = _image_curation_export(spark)
    res = curate_images(
        spark.read.parquet(raw_path),
        phash_sigs=spark.read.parquet(sig_path),
        min_dim=128, max_aspect=3.0, min_bpp=1.0, max_bpp=3.5,
        exact=True, phash_near_dup=True, hamming_max=10,
        caption_cap=2)
    return res.report


def _q_embedding_drift(spark, sf):
    """Embedding-space drift between the label-parity slices of the
    embeddings table: centroid cosine + mean per-dimension |Δmean| —
    the drift family's member for vector columns. The oracle replays
    the per-dimension averages (unnest with ordinality), the cosine,
    and the counts."""
    from sparkschema.operators.similarity import embedding_centroid_drift

    emb = _read(spark, sf, "embeddings")
    a = emb.where(F.col("label") % 2 == 0)
    b = emb.where(F.col("label") % 2 == 1)
    return embedding_centroid_drift(a, b, "embedding").select(
        F.round("centroid_cosine", 5).alias("centroid_cosine"),
        F.round("mean_abs_diff", 6).alias("mean_abs_diff"),
        "dims", "n_a", "n_b")


def _q_token_drift_documents(spark, sf):
    """Token-count-distribution drift between two corpus slices — the
    text-axis twin of ``phash_drift_images``, composing the already-
    twinned BPE-ish token counter with histogram binning and the
    one-plan KS/chi²/PSI statistics (no driver arithmetic). Slices are
    the doc_id parity split; the oracle replays the token regex, the
    width_bucket rule, and all three statistics."""
    from sparkschema.operators.drift import drift_statistics_joined
    from sparkschema.operators.text import token_count

    docs = _read(spark, sf, "documents")
    # ONE aggregation produces the already-joined (bucket, o, e) frame:
    # the previous shape grouped by (parity, bucket) behind an eager
    # localCheckpoint and re-joined the two slices — and its
    # filter-on-tc + group-on-tc plan evaluated the token regex 3× per
    # row (no CSE across Filter/key in the hash aggregate; measured
    # 5.6 s vs 1.9 s for the bare token pass at 50 k docs). Here the
    # regex appears exactly once (the bucket key); the filter is the
    # equivalent raw-column gate (regexp_count is NULL iff its input is
    # NULL, an int cast to double is never NaN, and the parity gate
    # reproduces the old ha/hb `__par == 0/1` row selection — identical
    # for any doc_id sign). Bucket universe = buckets where either
    # slice has rows, exactly the old full-outer join's. No checkpoint,
    # no second job; the conditional sums replay in the oracle as the
    # same counts.
    c = token_count(F.col("text")).cast("double")
    b = F.width_bucket(c, F.lit(0.0), F.lit(400.0), F.lit(20)).alias("bucket")
    par = F.col("doc_id") % 2
    joined = (docs.where(F.col("text").isNotNull() & (par >= 0))
                  .groupBy(b)
                  .agg(F.sum(F.when(par == 0, 1).otherwise(0)).alias("o"),
                       F.sum(F.when(par == 1, 1).otherwise(0)).alias("e")))
    return drift_statistics_joined(joined).select(
        F.round("ks", 6).alias("ks"),
        F.round("chi2", 4).alias("chi2"),
        "dof",
        F.round("psi", 6).alias("psi"),
        "n_obs", "n_exp")


def _q_ann_lsh_embeddings(spark, sf):
    """LSH ANN with a deterministic derived check: recall of the LSH top-5
    against the exact brute-force top-5 (the already-oracled
    ``embedding_topk`` kernel) must reach 0.8. Hashes are seeded, so the
    number is reproducible for a given dataset."""
    from sparkschema.operators.similarity import (ann_lsh_topk,
                                                  cosine_topk_bruteforce)

    emb = _read(spark, sf, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    q = emb.where(F.col("vec_id") < 3)
    lsh = ann_lsh_topk(q, emb, "vec_id", "embedding", "vec_id", "embedding",
                       k=5, planes=4, tables=16).select("query_id", "neighbor_id")
    brute = cosine_topk_bruteforce(q, emb, "vec_id", "embedding",
                                   "vec_id", "embedding", k=5) \
        .select("query_id", "neighbor_id")
    hits = brute.join(lsh, ["query_id", "neighbor_id"], "left_semi")
    # the DuckDB oracle recomputes EVERYTHING: brute top-5 via
    # list_cosine_similarity, the LSH buckets from the same seeded ±1
    # plane matrix (similarity.plane_matrix, embedded as SQL literals;
    # dims=64 matches the testdata embeddings), hits, and the recall
    # arithmetic — scale-independent, no pinned measured constants
    return brute.agg(F.count(F.lit(1)).cast("long").alias("brute_total")) \
        .crossJoin(hits.agg(F.count(F.lit(1)).cast("long").alias("hits"))) \
        .select(
            F.lit(3).cast("long").alias("n_queries"),
            "brute_total", "hits",
            (F.col("hits") / F.col("brute_total").cast("double") >= 0.8)
            .alias("recall_ok"))


def _q_sessions_events(spark, sf):
    """Sessionization via Spark's native ``session_window`` (30-minute
    inactivity gap) — one shuffle on the user key, streaming-compatible.
    The oracle replays the gap rule declaratively (lag + cumulative-sum
    session ids) — a genuinely different algorithm, so the session-merge
    semantics (new session iff the inter-event gap > 30 min; window end
    = last event + gap) are cross-checked, not replicated. Timestamps
    compare as microsecond-precision wall-time strings
    (timezone-independent for the TIMESTAMP_NTZ source)."""
    from sparkschema.operators.sessions import sessionize

    e = _read(spark, sf, "events")
    s = sessionize(e, "user_id", "ts", "30 minutes")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return s.select(F.col("user_id").cast("long").alias("user_id"),
                    F.date_format("session_start", fmt).alias("start_ts"),
                    F.date_format("session_end", fmt).alias("end_ts"),
                    "n_events")


def _q_asof_events(spark, sf):
    """Backward as-of join (brief-mandated operator Spark lacks
    natively): each click event picks up the latest error event of the
    same user at-or-before its timestamp. The engine's union → single
    key shuffle → running last(ignorenulls) plan is cross-checked
    against DuckDB's NATIVE ``ASOF LEFT JOIN`` — two independent
    algorithms for the same semantics."""
    from sparkschema.operators.sessions import asof_join

    e = _read(spark, sf, "events")
    clicks = e.where(F.col("event_type") == "click") \
              .select("event_id", "user_id", "ts")
    errors = e.where(F.col("event_type") == "error") \
              .select("user_id", "ts", "value")
    j = asof_join(clicks, errors, on="user_id", left_ts="ts",
                  right_ts="ts", value_cols=["value"])
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return j.select(F.col("event_id").cast("long").alias("event_id"),
                    F.date_format("ts", fmt).alias("ts_s"),
                    F.date_format("ts_asof", fmt).alias("err_ts_s"),
                    F.col("value_asof").alias("err_value"))


def _q_drift_psi_lineitem(spark, sf):
    """Population Stability Index between the even/odd l_orderkey halves
    of lineitem on l_extendedprice — same histogram split as
    ``drift_ks_lineitem``, third drift statistic (KS, chi², PSI). The
    0.5-count Laplace floor applies to proportion numerators only;
    DuckDB recomputes buckets, floors, and the Σ(pₒ−pₑ)·ln(pₒ/pₑ) sum
    independently."""
    from sparkschema.operators.drift import psi_histograms
    from sparkschema.operators.stats import histogram

    li = spark.read.parquet(_t(sf, "lineitem"))
    a = li.where(F.col("l_orderkey") % 2 == 0)
    b = li.where(F.col("l_orderkey") % 2 == 1)
    ha = histogram(a, "l_extendedprice", 0.0, 60000.0, 24)
    hb = histogram(b, "l_extendedprice", 0.0, 60000.0, 24)
    return psi_histograms(ha, hb).select(
        F.round("statistic", 6).alias("psi"), "n_obs", "n_exp")


def _q_url_domains_documents(spark, sf):
    """Corpus provenance audit: per-domain URL and document counts over
    a deterministically URL-planted corpus (every doc_id % 3 == 0
    document gets one https://site-<doc_id%7>.example.com link appended;
    NULL texts stay NULL). The oracle replays the SAME Java∩RE2 pattern
    strings (text.URL_REGEX) through DuckDB's regexp_extract_all +
    unnest."""
    from sparkschema.operators.text import domain_counts

    d = _read(spark, sf, "documents")
    planted = F.concat(
        F.col("text"), F.lit(" see https://site-"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com/p/"), F.col("doc_id").cast("string"))
    corpus = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, planted)
         .otherwise(F.col("text")).alias("text"))
    return domain_counts(corpus, "text", id_col="doc_id")


def _q_hash_split_documents(spark, sf):
    """Deterministic 80/10/10 train/val/test split by md5(doc_id) hash
    fraction, reported per (split, lang). md5 is used (not xxhash64)
    precisely so DuckDB can recompute every assignment bit-for-bit:
    ('0x' || first-8-hex)::bigint / 2^32 is exact in a double on both
    engines, so the boundary comparisons are exactly reproducible."""
    from sparkschema.operators.sampling import hash_split

    d = _read(spark, sf, "documents")
    s = hash_split(d, "doc_id",
                   {"train": 0.8, "val": 0.1, "test": 0.1})
    return (s.groupBy("split", "lang")
             .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                  F.min("doc_id").cast("long").alias("min_doc"),
                  F.max("doc_id").cast("long").alias("max_doc")))


def _q_cap_per_source_documents(spark, sf):
    """Domain balancing: keep at most 10 documents per source, selected
    by deterministic md5(doc_id) priority, then witness the exact
    survivor set per source (count + sum/min/max of kept ids — sum
    pins the membership, not just the size). DuckDB replays the same
    row_number-over-md5-priority selection bit-for-bit."""
    from sparkschema.operators.sampling import cap_per_group

    d = _read(spark, sf, "documents")
    kept = cap_per_group(d, "source", "doc_id", 10)
    return (kept.groupBy("source")
                .agg(F.count(F.lit(1)).cast("long").alias("n_kept"),
                     F.sum("doc_id").cast("long").alias("sum_doc"),
                     F.min("doc_id").cast("long").alias("min_doc"),
                     F.max("doc_id").cast("long").alias("max_doc")))


def _q_contamination_documents(spark, sf):
    """Benchmark decontamination: documents sharing any word-8-gram with
    the 'benchmark' slice (doc_id < 10) are flagged with their distinct
    matching-gram count. The benchmark gram set broadcasts (plan: the
    corpus side never shuffles its exploded grams); the oracle rebuilds
    normalization → 8-grams → distinct → join in DuckDB list ops."""
    from sparkschema.operators.text import contamination_flags

    d = _read(spark, sf, "documents")
    bench = d.where(F.col("doc_id") < 10)
    out = contamination_flags(d, "text", "doc_id", bench, "text", n=8)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      "n_hits")


def _q_line_dedup_documents(spark, sf):
    """Corpus-wide line-level exact dedup (C4/RefinedWeb boilerplate
    scrub): per-document report of original vs surviving line counts and
    the md5 of the rebuilt text (16 bytes/row — safe to materialize at
    any scale). The oracle independently replays split → first-occurrence
    row_number → string_agg reassembly in DuckDB."""
    from sparkschema.operators.dedup import line_dedup

    d = _read(spark, sf, "documents")
    out = line_dedup(d, "text", "doc_id")
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      "n_lines", "n_kept",
                      F.md5(F.col("text").cast("binary")).alias("kept_md5"))


def _q_curation_report_documents(spark, sf):
    """End-to-end corpus-curation plan (plans/curation_run.py): the
    one-row drop-stage attribution report for the standard pipeline
    (NULL gate -> exact dedup -> language -> quality -> token floor ->
    benchmark decontamination -> per-source cap). The oracle replays
    every stage flag and the precedence CASE in one DuckDB query from
    the already-twinned per-stage fragments."""
    from sparkschema.plans.curation_run import curate_corpus

    d = (_read(spark, sf, "documents")
              .select("doc_id", "text", "source"))
    ev = d.where(F.col("doc_id") < 10).select("doc_id", "text")
    res = curate_corpus(
        d, "text", "doc_id",
        languages=["en", "de"], min_quality=0.45, min_tokens=10,
        exact=True, eval_df=ev, eval_text_col="text",
        per_source_cap=15, source_col="source")
    return res.report


def _q_pack_layout_documents(spark, sf):
    """Sequence packing (pack-and-chop at a 2048-token context cap over
    8 md5 buckets): per-bucket layout report plus an assignment witness
    (sum of doc_id·pack_first pins every document's window, not just
    the totals). The oracle replays bucket → id-ordered cumulative sum
    → floor-division window indexes in DuckDB. fill_ppm uses exact
    integer-fed IEEE division on both engines (no round() tie hazard)."""
    from sparkschema.operators.packing import pack_sequences, pack_stats
    from sparkschema.operators.text import whitespace_token_count

    d = _read(spark, sf, "documents")
    toks = d.select(
        "doc_id",
        whitespace_token_count(F.col("text")).cast("bigint")
         .alias("tokens"))
    packed = pack_sequences(toks, "doc_id", "tokens",
                            cap=2048, n_buckets=8)
    stats = pack_stats(packed, "tokens", cap=2048)
    wit = (packed.groupBy("bucket")
           .agg(F.sum(F.col("doc_id") * F.col("pack_first")).cast("long")
                 .alias("assign_witness"),
                F.max("pack_last").cast("long").alias("max_pack")))
    return (stats.join(wit, "bucket")
            .select(F.col("bucket").cast("int").alias("bucket"),
                    "n_docs", "total_tokens", "n_straddles", "n_packs",
                    # n_packs=0 (an all-empty-text bucket) must yield
                    # NULL, not an ANSI DIVIDE_BY_ZERO crash — the same
                    # guard pack_stats puts on fill_efficiency
                    # (review find r5)
                    F.when(F.col("n_packs") > 0,
                           F.floor(F.col("total_tokens") * F.lit(1000000) /
                                   (F.col("n_packs") * F.lit(2048))))
                     .cast("long").alias("fill_ppm"),
                    "assign_witness", "max_pack"))


def _q_weighted_mix_documents(spark, sf):
    """Dataset mixing: per-source deterministic keep fractions
    (src0=1.0, src1=0.5, src2=0.1, every other source the 0.3 default),
    witnessed per source by count + sum/min/max of kept ids — sum pins
    the exact survivor set. DuckDB replays every md5 hash-fraction
    threshold comparison bit-for-bit."""
    from sparkschema.operators.sampling import weighted_sample_by_group

    d = _read(spark, sf, "documents")
    kept = weighted_sample_by_group(
        d, "doc_id", "source",
        {"src0": 1.0, "src1": 0.5, "src2": 0.1}, default=0.3)
    return (kept.groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_kept"),
                 F.sum("doc_id").cast("long").alias("sum_doc"),
                 F.min("doc_id").cast("long").alias("min_doc"),
                 F.max("doc_id").cast("long").alias("max_doc")))


def _q_normalize_documents(spark, sf):
    """Unicode hygiene: doc_id-keyed injection of decomposed sequences
    (combining acute, combining ring, Hangul jamo L+V+T) plus a C0
    control char, then NFC normalization (Arrow pandas_udf) and the
    control scrub, reported as per-doc changed flag / codepoint counts
    / md5 of the result. DuckDB replays the injection with chr() and
    normalizes via utf8proc's nfc_normalize — two independent
    normalizer implementations agreeing under Unicode's NFC stability
    policy."""
    from sparkschema.operators.normalize import (nfc_normalize_col,
                                                 scrub_control_chars)

    d = _read(spark, sf, "documents")
    inj = F.element_at(
        F.array(F.lit(""),
                F.lit(" cafe\u0301"),      # e + COMBINING ACUTE
                F.lit(" A\u030a"),         # A + COMBINING RING ABOVE
                F.lit(" \u1100\u1161\u11a8\x01")),  # jamo L+V+T + C0
        (F.pmod(F.col("doc_id"), F.lit(4)) + 1).cast("int"))
    raw = F.concat(F.col("text"), inj)
    norm = scrub_control_chars(nfc_normalize_col(raw))
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        (~norm.eqNullSafe(raw)).alias("changed"),
        F.length(raw).cast("long").alias("n_before"),
        F.length(norm).cast("long").alias("n_after"),
        F.md5(norm.cast("binary")).alias("norm_md5"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "null_fraction_orders": _q_null_fraction_orders,
        "minmax_lineitem": _q_minmax_lineitem,
        "enum_violations_lineitem": _q_enum_violations_lineitem,
        "pattern_match_customer": _q_pattern_match_customer,
        "range_violations_lineitem": _q_range_violations_lineitem,
        "referential_orphans": _q_referential_orphans,
        "histogram_extendedprice": _q_histogram_extendedprice,
        "combinator_part": _q_combinator_part,
        "duplicate_orderkeys": _q_duplicate_orderkeys,
        "unique_composite_lineitem": _q_unique_composite_lineitem,
        "exact_dup_documents": _q_exact_dup_documents,
        "token_stats_documents": _q_token_stats_documents,
        "repetition_documents": _q_repetition_documents,
        "lang_counts_documents": _q_lang_counts_documents,
        "quality_components_documents": _q_quality_components_documents,
        "quality_score_documents": _q_quality_score_documents,
        "fingerprint_documents": _q_fingerprint_documents,
        "pii_redaction_documents": _q_pii_redaction_documents,
        "vocab_topk_documents": _q_vocab_topk_documents,
        "events_hourly": _q_events_hourly,
        "sessions_events": _q_sessions_events,
        "asof_events": _q_asof_events,
        "drift_psi_lineitem": _q_drift_psi_lineitem,
        "url_domains_documents": _q_url_domains_documents,
        "hash_split_documents": _q_hash_split_documents,
        "cap_per_source_documents": _q_cap_per_source_documents,
        "contamination_documents": _q_contamination_documents,
        "line_dedup_documents": _q_line_dedup_documents,
        "curation_report_documents": _q_curation_report_documents,
        "pack_layout_documents": _q_pack_layout_documents,
        "weighted_mix_documents": _q_weighted_mix_documents,
        "normalize_documents": _q_normalize_documents,
        "events_json_invalid": _q_events_json_invalid,
        "embedding_topk": _q_embedding_topk,
        "ngram_jaccard_sample": _q_ngram_jaccard_sample,
        "drift_ks_lineitem": _q_drift_ks_lineitem,
        "stats_lineitem": _q_stats_lineitem,
        "array_keywords_lineitem": _q_array_keywords_lineitem,
        "tuple_items_part": _q_tuple_items_part,
        "map_keywords_orders": _q_map_keywords_orders,
        "scalar_keywords_lineitem": _q_scalar_keywords_lineitem,
        "combinator2_part": _q_combinator2_part,
        # approximate operators, each reshaped to a deterministic derived
        # check with a DuckDB twin (r1 had these rows-only):
        "embedding_near_dup": _q_embedding_near_dup,
        "minhash_pairs_documents": _q_minhash_pairs_documents,
        "near_dup_clusters": _q_near_dup_clusters,
        "simhash_documents": _q_simhash_documents,
        "hll_distinct_lineitem": _q_hll_distinct_lineitem,
        "ann_lsh_embeddings": _q_ann_lsh_embeddings,
        "quantiles_extendedprice": _q_quantiles_extendedprice,
        "image_phash_neardup": _q_image_phash_neardup,
        "image_neardup_clusters": _q_image_neardup_clusters,
        "image_container_meta": _q_image_container_meta,
        "image_quality_images": _q_image_quality_images,
        "caption_dups_images": _q_caption_dups_images,
        "image_exact_dup": _q_image_exact_dup,
        "aspect_buckets_images": _q_aspect_buckets_images,
        "phash_drift_images": _q_phash_drift_images,
        "image_curation_report": _q_image_curation_report,
        "token_drift_documents": _q_token_drift_documents,
        "embedding_drift": _q_embedding_drift,
    }


# ---------------------------------------------------------------------------
# oracles (DuckDB; same column names; views pre-registered by the driver)

# ASCII-space trim, NOT DuckDB trim(): DuckDB's trim strips Unicode
# whitespace (U+00A0 etc.) while Spark's trim and the engine's
# normalized_text strip only 0x20 — a leading NBSP diverged every
# md5/shingle twin (pipeline-fuzz find r5). After \\s+ collapse the ends
# hold at most one ASCII space, stray Unicode spaces are text.
_NORM = "regexp_replace(regexp_replace(lower({c}), '\\s+', ' ', 'g'), '^ | $', '', 'g')"
_TOKRE = "[A-Za-z0-9]+|[^A-Za-z0-9 \\t\\n\\r]"


def _sql_null_fraction_orders() -> str:
    nulls = ", ".join(
        f"cast(sum(case when {c} is null then 1 else 0 end) as bigint) as nulls_{c}"
        for c in ORDERS_COLS)
    return f"select cast(count(*) as bigint) as total_rows, {nulls} from orders"


def _sql_range_violations() -> str:
    k = ("cast(l_orderkey as varchar) as l_orderkey, "
         "cast(l_linenumber as varchar) as l_linenumber")
    parts = [
        f"""select {k}, 'maximum' as keyword, '/l_quantity' as instance_path,
               cast(l_quantity as varchar) as value
            from lineitem where l_quantity > 45""",
        f"""select {k}, 'exclusiveMaximum' as keyword, '/l_discount' as instance_path,
               cast(l_discount as varchar) as value
            from lineitem where l_discount >= 0.09""",
        f"""select {k}, 'minimum' as keyword, '/l_quantity' as instance_path,
               cast(l_quantity as varchar) as value
            from lineitem where l_quantity < 1""",
        f"""select {k}, 'minimum' as keyword, '/l_discount' as instance_path,
               cast(l_discount as varchar) as value
            from lineitem where l_discount < 0""",
        f"""select {k}, 'enum' as keyword, '/l_returnflag' as instance_path,
               l_returnflag as value
            from lineitem where l_returnflag not in ('A','N','R')""",
        f"""select {k}, 'minimum' as keyword, '/l_linenumber' as instance_path,
               cast(l_linenumber as varchar) as value
            from lineitem where l_linenumber < 1""",
        f"""select {k}, 'maximum' as keyword, '/l_linenumber' as instance_path,
               cast(l_linenumber as varchar) as value
            from lineitem where l_linenumber > 7""",
        f"""select {k}, 'format' as keyword, '/l_linenumber' as instance_path,
               cast(l_linenumber as varchar) as value
            from lineitem
            where l_linenumber < -2147483648 or l_linenumber > 2147483647""",
        f"""select {k}, 'exclusiveMinimum' as keyword,
               '/l_extendedprice' as instance_path,
               cast(l_extendedprice as varchar) as value
            from lineitem where l_extendedprice <= 0""",
        f"""select {k}, 'required' as keyword, '/l_orderkey' as instance_path,
               'null' as value from lineitem where l_orderkey is null""",
        f"""select {k}, 'required' as keyword, '/l_quantity' as instance_path,
               'null' as value from lineitem where l_quantity is null""",
        f"""select {k}, 'required' as keyword, '/l_returnflag' as instance_path,
               'null' as value from lineitem where l_returnflag is null""",
    ]
    return " union all ".join(parts)


def _sql_simhash_md5() -> str:
    """Independent DuckDB recomputation of the md5-variant SimHash:
    normalize → distinct 3-shingles → 32-bit md5-prefix feature hash →
    per-bit majority vote. Must match simhash_md5_frame bit-for-bit."""
    norm = ("regexp_replace(regexp_replace(lower(substring(text, 1, 400)), "
            "'\\s+', ' ', 'g'), '^ | $', '', 'g')")
    bits = " + ".join(
        f"(case when 2 * len(list_filter(h, x -> (x >> {b}) & 1 = 1)) "
        f">= len(h) then 1 else 0 end) * {1 << b}"
        for b in range(32))
    return f"""
        with d as (select doc_id, {norm} as nt from documents),
        sh as (select doc_id,
                 case when length(nt) < 3 then [nt]
                      else list_distinct(list_transform(
                             range(1, length(nt) - 1),
                             i -> substring(nt, i, 3))) end as s
               from d),
        hs as (select doc_id,
                 list_transform(s, t -> ('0x' || substring(md5(t), 1, 8))::bigint) as h
               from sh)
        select doc_id, case when h is null then null
               else cast({bits} as bigint) end as simhash32 from hs
    """


def _sql_near_dup_clusters() -> str:
    """Independent DuckDB recomputation of the WHOLE clustering pipeline:
    the planted 4-version chain corpus, normalization + 5-gram shingles,
    exact-Jaccard ≥ 0.9 pairs, then the transitive closure via a
    recursive CTE and min-reachable-id per node — the declarative twin of
    the engine's iterative min-label propagation."""
    return """
        with recursive corpus as (
          select cast(doc_id as bigint) as id, text
          from documents where doc_id < 40
          union all
          select cast(doc_id + 100000 as bigint), text || ' tail0'
          from documents where doc_id < 40
          union all
          select cast(doc_id + 200000 as bigint), text || ' tail0 tail1'
          from documents where doc_id < 40
          union all
          select cast(doc_id + 300000 as bigint),
                 text || ' tail0 tail1 tail2'
          from documents where doc_id < 40),
        d as (select id,
                regexp_replace(regexp_replace(lower(text), '\\s+', ' ', 'g'), '^ | $', '', 'g') as nt
              from corpus),
        sh as (select id,
                 case when length(nt) < 5 then [nt]
                      else list_distinct(list_transform(
                             range(1, length(nt) - 3),
                             i -> substring(nt, i, 5))) end as s
               from d),
        p as (select a.id as id_a, b.id as id_b
              from sh a cross join sh b
              where a.id < b.id
                and len(list_intersect(a.s, b.s)) /
                    greatest(cast(len(a.s) + len(b.s)
                                  - len(list_intersect(a.s, b.s)) as double),
                             1.0) >= 0.9),
        edges as (select id_a as u, id_b as v from p
                  union
                  select id_b as u, id_a as v from p),
        reach as (
          select u, u as v from (select distinct u from edges)
          union
          select r.u, e.v from reach r join edges e on r.v = e.u)
        select u as id, min(v) as component
        from reach group by u order by id
    """


def _sql_minhash_superset() -> str:
    """Exact 5-gram-Jaccard ≥ 0.9 pair count over the same
    planted-near-dup corpus the Spark query builds; missed is asserted 0."""
    return """
        with corpus as (
          select doc_id, text from documents where doc_id < 60
          union all
          select doc_id + 100000 as doc_id, text || ' tail tail' as text
          from documents where doc_id < 60),
        d as (select doc_id,
                regexp_replace(regexp_replace(lower(text), '\\s+', ' ', 'g'), '^ | $', '', 'g') as nt
              from corpus),
        sh as (select doc_id,
                 case when length(nt) < 5 then [nt]
                      else list_distinct(list_transform(
                             range(1, length(nt) - 3),
                             i -> substring(nt, i, 5))) end as s
               from d)
        select cast(count(*) as bigint) as exact_pairs,
               cast(0 as bigint) as missed
        from sh a cross join sh b
        where a.doc_id < b.doc_id
          and len(list_intersect(a.s, b.s)) /
              greatest(cast(len(a.s) + len(b.s)
                            - len(list_intersect(a.s, b.s)) as double), 1.0)
              >= 0.9
    """


def _sql_image_curation(raw_glob: str, sigs_glob: str, *, min_dim: int = 128,
                        max_aspect: float = 3.0, min_bpp: float = 1.0,
                        max_bpp: float = 3.5, hamming_max: int = 10,
                        caption_cap: int = 2,
                        row_level: bool = False) -> str:
    """Independent DuckDB replay of the WHOLE image-curation pipeline
    (plans/image_curation.curate_images), parameterized on input globs
    and thresholds so the randomized fuzz lane
    (tests/test_image_curation.py) can drive it over arbitrary corpora;
    the oracle entry binds it to the deterministic export slice.
    ``row_level=True`` returns ``(image_id, drop_stage)`` per row
    instead of the one-row report."""
    body = """
            with recursive raw as (
              select image_id, bytes, w, h, fmt, caption,
                     octet_length(bytes) as len, hex(bytes) as hx
              from '{raw_glob}'),
            sg as (select id, phash
                   from '{sigs_glob}'),
            st as (
              select *,
                coalesce(len >= 9 and substring(hx, 1, 8) = '53534931',
                         false) as header_ok,
                case when len >= 9 then
                  ('0x' || substring(hx, 9, 2))::int
                    + ('0x' || substring(hx, 11, 2))::int * 256 end as w_hdr,
                case when len >= 9 then
                  ('0x' || substring(hx, 13, 2))::int
                    + ('0x' || substring(hx, 15, 2))::int * 256 end as h_hdr,
                case when len >= 9 then
                  ('0x' || substring(hx, 17, 2))::int end as code
              from raw),
            meta as (
              select *,
                header_ok
                and coalesce(header_ok and w_hdr = w and h_hdr = h, false)
                and coalesce(header_ok and code = (case fmt
                      when 'raw' then 0 when 'rawz' then 1
                      when 'jpg' then 2 when 'png' then 3 end), false)
                and coalesce(header_ok and
                      (case when fmt in ('raw', 'jpg', 'png')
                            then len = 9 + cast(w as bigint)
                                       * cast(h as bigint) * 3
                            else true end), false) as meta_ok
              from st),
            g as (
              select *,
                coalesce(w >= {min_dim} and h >= {min_dim}
                         and cast(w as bigint) * h <= 16777216,
                         false) as dims_ok,
                coalesce(cast(greatest(w, h) as double) / least(w, h)
                         <= {max_aspect}, false) as aspect_ok,
                coalesce(cast(len as double) / (cast(w as bigint) * h)
                           >= {min_bpp}
                         and cast(len as double) / (cast(w as bigint) * h)
                           <= {max_bpp}, true) as bpp_ok,
                regexp_replace(caption, '^ +| +$', '', 'g') as ctrim,
                case when length(caption) = 0 then 1.0
                     else 1.0 - cast(length(caption)
                            - length(regexp_replace(caption,
                                '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]',
                                '', 'g')) as double) / length(caption)
                end as pr
              from meta),
            pre as (
              select image_id, bytes, caption,
                case when bytes is null then 'null_bytes'
                     when not meta_ok then 'structural'
                     when not dims_ok then 'dims'
                     when not aspect_ok then 'aspect'
                     when not bpp_ok then 'bpp'
                     when not coalesce(length(ctrim) >= 8
                              and len(regexp_split_to_array(ctrim, '\\s+'))
                                >= 2
                              and pr >= 0.9, false) then 'caption'
                end as p
              from g),
            winners as (
              select min(image_id) as wid
              from pre where p is null group by bytes),
            s1 as (
              select image_id, caption,
                case when p is not null then p
                     when image_id in (select wid from winners) then null
                     else 'exact_dup' end as s
              from pre),
            asig as (
              select a.image_id, a.caption, sg.phash
              from s1 a left join sg on a.image_id = sg.id
              where a.s is null),
            s2 as (
              select image_id, caption,
                case when s is not null then s
                     when image_id in (select image_id from asig
                                       where phash is null)
                       then 'undecodable' end as s
              from s1),
            nodes as (select image_id as id, phash from asig
                      where phash is not null),
            p0 as (
              select a.id as id_a, b.id as id_b
              from nodes a join nodes b on a.id < b.id
              where (((a.phash >> 0) & 255) = ((b.phash >> 0) & 255)
                 or ((a.phash >> 8) & 255) = ((b.phash >> 8) & 255)
                 or ((a.phash >> 16) & 255) = ((b.phash >> 16) & 255)
                 or ((a.phash >> 24) & 255) = ((b.phash >> 24) & 255)
                 or ((a.phash >> 32) & 255) = ((b.phash >> 32) & 255)
                 or ((a.phash >> 40) & 255) = ((b.phash >> 40) & 255)
                 or ((a.phash >> 48) & 255) = ((b.phash >> 48) & 255)
                 or ((a.phash >> 56) & 255) = ((b.phash >> 56) & 255))
                and bit_count(xor(a.phash, b.phash)) <= {hamming_max}),
            edges as (select id_a as u, id_b as v from p0
                      union
                      select id_b as u, id_a as v from p0),
            reach as (
              select u, u as v from (select distinct u from edges)
              union
              select r.u, e.v from reach r join edges e on r.v = e.u),
            nd_drop as (
              select u as id from reach group by u
              having u <> min(v)),
            s3 as (
              select image_id, caption,
                case when s is not null then s
                     when image_id in (select id from nd_drop)
                       then 'near_dup' end as s
              from s2),
            cand as (
              select image_id, {norm} as nc
              from s3
              where s is null and caption is not null
                and length({norm}) > 0),
            ranked as (
              select image_id,
                     row_number() over (partition by nc
                                        order by md5(image_id), image_id)
                       as rn
              from cand),
            final as (
              select image_id,
                case when s is not null then s
                     when image_id in (select image_id from ranked
                                       where rn > {caption_cap})
                       then 'caption_cap' end as s
              from s3)
            """.format(
        raw_glob=raw_glob, sigs_glob=sigs_glob, min_dim=min_dim,
        max_aspect=max_aspect, min_bpp=min_bpp, max_bpp=max_bpp,
        hamming_max=hamming_max, caption_cap=caption_cap,
        norm=_NORM.format(c="caption"))
    if row_level:
        return body + """
            select image_id, s as drop_stage from final order by image_id
        """
    return body + """            select cast(count(*) as bigint) as n_input,
                   coalesce(cast(sum(case when s = 'null_bytes' then 1
                            else 0 end) as bigint), 0) as n_null_bytes,
                   coalesce(cast(sum(case when s = 'structural' then 1
                            else 0 end) as bigint), 0) as n_structural,
                   coalesce(cast(sum(case when s = 'dims' then 1 else 0
                            end) as bigint), 0) as n_dims,
                   coalesce(cast(sum(case when s = 'aspect' then 1 else 0
                            end) as bigint), 0) as n_aspect,
                   coalesce(cast(sum(case when s = 'bpp' then 1 else 0
                            end) as bigint), 0) as n_bpp,
                   coalesce(cast(sum(case when s = 'caption' then 1 else 0
                            end) as bigint), 0) as n_caption,
                   coalesce(cast(sum(case when s = 'exact_dup' then 1
                            else 0 end) as bigint), 0) as n_exact_dup,
                   coalesce(cast(sum(case when s = 'undecodable' then 1
                            else 0 end) as bigint), 0) as n_undecodable,
                   coalesce(cast(sum(case when s = 'near_dup' then 1
                            else 0 end) as bigint), 0) as n_near_dup,
                   coalesce(cast(sum(case when s = 'caption_cap' then 1
                            else 0 end) as bigint), 0) as n_caption_cap,
                   coalesce(cast(sum(case when s is null then 1 else 0
                            end) as bigint), 0) as n_kept
            from final
        """



def oracle_sql() -> dict[str, str]:
    from sparkschema.operators.similarity import plane_matrix
    # the SAME pattern string the engine compiles (Java-regex ∩ RE2
    # common subset — see text.URL_REGEX); embedded verbatim so the
    # two engines can never drift apart silently
    from sparkschema.operators.text import URL_REGEX as _URL_REGEX_SQL

    # the SAME bucket ladder the engine assigns against, so the twin's
    # integer boundary products can never drift from the operator's
    from sparkschema.operators.imagequality import (
        ASPECT_BUCKETS as _ASPECT_BK)

    norm_text = _NORM.format(c="text")
    # PII oracle pieces: the SAME pattern strings the engine compiles
    # (Java-regex ∩ RE2 common subset — pii.PII_PATTERNS docstring) and
    # the same doc_id-derived injection, replayed with NULL-propagating
    # `||` / RE2 'g' replacement
    from sparkschema.operators.pii import PII_PATTERNS
    _pii_text = (
        "text"
        " || case when doc_id % 5 = 0 then ' contact user' ||"
        " cast(doc_id as varchar) || '@example.com now' else '' end"
        " || case when doc_id % 7 = 0 then"
        " ' call 555-010-1234 or 555.010.4321' else '' end"
        " || case when doc_id % 11 = 0 then"
        " ' host 10.0.0.1 and 192.168.1.255 up' else '' end"
        " || case when doc_id % 13 = 0 then"
        " ' id 987-65-4320 on file' else '' end")
    _pii_counts = ",\n                   ".join(
        f"cast(len(regexp_extract_all(t, '{pat}')) as bigint) as n_{kind}"
        for kind, pat, _ in PII_PATTERNS)
    _pii_total = " + ".join(
        f"len(regexp_extract_all(t, '{pat}'))" for _, pat, _ in PII_PATTERNS)
    _pii_redacted = "t"
    for _, pat, repl in PII_PATTERNS:
        _pii_redacted = f"regexp_replace({_pii_redacted}, '{pat}', '{repl}', 'g')"
    # the SAME seeded ±1 hyperplane matrix the engine compiles
    # (similarity.plane_matrix) rendered as SQL literals, so the LSH
    # bucket assignment — and therefore the hit count — is recomputed by
    # DuckDB at ANY scale instead of pinning a per-SF measured constant
    _m = plane_matrix(planes=4, tables=16, dims=64, seed=42)
    _plane_rows = ",\n                   ".join(
        f"({t}, {p}, [{', '.join(str(x) for x in _m[t][p])}])"
        for t in range(16) for p in range(4))
    return {
        "null_fraction_orders": _sql_null_fraction_orders(),
        "minmax_lineitem": """
            select l_returnflag,
                   cast(count(*) as bigint) as cnt,
                   min(l_quantity) as min_qty,
                   max(l_quantity) as max_qty,
                   cast(sum(cast(l_quantity as decimal(18,4))) as double) as sum_qty
            from lineitem group by l_returnflag
        """,
        "enum_violations_lineitem": """
            select cast(count(*) as bigint) as total_rows,
                   cast(sum(case when l_returnflag not in ('A','N','R')
                            then 1 else 0 end) as bigint) as enum_violations,
                   cast(sum(case when l_linestatus not in ('O','F')
                            then 1 else 0 end) as bigint) as status_violations
            from lineitem
        """,
        "pattern_match_customer": """
            select cast(count(*) as bigint) as total_rows,
                   cast(sum(case when regexp_matches(c_name, '^Customer#[0-9]{9}$')
                            then 1 else 0 end) as bigint) as matched,
                   cast(0 as bigint) as phone_prefix
            from customer
        """,
        "range_violations_lineitem": _sql_range_violations(),
        "referential_orphans": """
            select cast((select count(*) from lineitem
                         where l_orderkey is not null and l_orderkey not in
                           (select o_orderkey from orders where o_orderkey is not null))
                        as bigint) as lineitem_orphans,
                   cast((select count(*) from orders
                         where o_custkey is not null and o_custkey not in
                           (select c_custkey from customer where c_custkey is not null))
                        as bigint) as order_orphans
        """,
        "histogram_extendedprice": """
            select cast(case when l_extendedprice < 0 then 0
                        when l_extendedprice >= 60000 then 7
                        else cast(floor(l_extendedprice / 10000) as int) + 1 end as int)
                     as bucket,
                   cast(count(*) as bigint) as cnt
            from lineitem where l_extendedprice is not null
            group by 1
        """,
        "combinator_part": """
            with flags as (
              select case when p_size <= 9 then 1 else 0 end
                     + case when p_retailprice >= 1500.0 then 1 else 0 end as matches,
                     case when p_brand = 'Brand#99' then 1 else 0 end as is99,
                     case when p_size < 1 then 1 else 0 end as small
              from part)
            select keyword, cast(cnt as bigint) as cnt from (
              select 'oneOf' as keyword, count(*) as cnt from flags where matches <> 1
              union all
              select 'not' as keyword, count(*) as cnt from flags where is99 = 1
              union all
              select 'minimum' as keyword, count(*) as cnt from flags where small = 1
            ) where cnt > 0 order by keyword
        """,
        "duplicate_orderkeys": """
            select l_orderkey, cast(count(*) as bigint) as dup_count
            from lineitem group by l_orderkey having count(*) > 1
        """,
        "unique_composite_lineitem": """
            select cast(count(*) as bigint) as dup_key_count from (
              select l_orderkey, l_linenumber from lineitem
              group by 1, 2 having count(*) > 1)
        """,
        "exact_dup_documents": f"""
            select sha256({norm_text}) as content_hash,
                   cast(count(*) as bigint) as group_size,
                   min(doc_id) as min_id, max(doc_id) as max_id
            from documents group by 1 having count(*) > 1
        """,
        "token_stats_documents": f"""
            select doc_id,
                   cast(len(regexp_extract_all(text, '{_TOKRE}')) as bigint)
                     as n_tokens,
                   cast(case when trim(text) = '' then 0
                        else len(regexp_split_to_array(trim(text), '\\s+')) end
                        as bigint) as n_ws_tokens,
                   cast(length(text) as bigint) as n_chars_engine
            from documents
        """,
        "lang_counts_documents": f"""
            with ws as (
              select doc_id,
                     list_distinct(string_split({norm_text}, ' ')) as w
              from documents),
            scores as (
              select doc_id,
                w, len(list_intersect(w, ['der','die','und','das','ist','von','mit','den','nicht','ein'])) as s_de,
                len(list_intersect(w, ['the','and','of','to','in','is','that','it','was','for'])) as s_en,
                len(list_intersect(w, ['de','la','que','el','en','los','del','las','por','un'])) as s_es,
                len(list_intersect(w, ['le','la','les','des','est','dans','que','une','pour','qui'])) as s_fr
              from ws),
            lang as (
              select case
                -- NULL text => NULL lang (NULL-in-NULL-out; without this
                -- branch every comparison below is NULL-false and the CASE
                -- falls through to the LAST language — pipeline-fuzz r5)
                when w is null then null
                when greatest(s_de, s_en, s_es, s_fr) = 0 then 'und'
                when s_de = greatest(s_de, s_en, s_es, s_fr) then 'de'
                when s_en = greatest(s_de, s_en, s_es, s_fr) then 'en'
                when s_es = greatest(s_de, s_en, s_es, s_fr) then 'es'
                else 'fr' end as lang
              from scores)
            select lang, cast(count(*) as bigint) as cnt from lang group by lang
        """,
        "quality_components_documents": f"""
            with toks as (
              select doc_id, length(text) as n_chars,
                     regexp_extract_all(text, '{_TOKRE}') as t,
                     list_distinct(string_split({norm_text}, ' ')) as w
              from documents)
            select doc_id,
                   cast(n_chars as bigint) as n_chars_q,
                   cast(len(t) as bigint) as n_tokens_q,
                   cast(len(list_filter(t, x -> regexp_matches(x, '^[A-Za-z0-9]+$')))
                        as bigint) as n_words_q,
                   round(case when len(t) > 0 then
                     (len(t) - len(list_filter(t, x -> regexp_matches(x, '^[A-Za-z0-9]+$'))))
                     / cast(len(t) as double) else 0.0 end, 4) as punct_ratio,
                   cast(len(list_intersect(w,
                     ['the','and','of','to','in','is','that','it','was','for']))
                     as bigint) as stopword_hits
            from toks
        """,
        "quality_score_documents": f"""
            with f as (
              select doc_id,
                     length(text) as n_chars,
                     regexp_extract_all(text, '{_TOKRE}') as toks,
                     list_filter(regexp_extract_all(text, '{_TOKRE}'),
                                 x -> regexp_matches(x, '^[A-Za-z0-9]+$')) as words,
                     len(list_intersect(list_distinct(string_split({norm_text}, ' ')),
                         ['the','and','of','to','in','is','that','it','was','for']))
                       as stop_hits,
                     length(regexp_replace(text, '[^A-Z]', '', 'g')) as n_upper,
                     length(regexp_replace(text, '[^0-9]', '', 'g')) as n_digit
              from documents),
            g as (
              select doc_id, n_chars, len(toks) as n_tokens, len(words) as n_words,
                     case when len(words) > 0 then
                       list_sum(list_transform(words, w -> length(w)))
                         / cast(len(words) as double) else 0.0 end as mwl,
                     case when len(toks) > 0 then
                       (len(toks) - len(words)) / cast(len(toks) as double)
                       else 0.0 end as punct_ratio,
                     stop_hits,
                     case when n_chars > 0 then n_upper / cast(n_chars as double)
                          else 0.0 end as upper_ratio,
                     case when n_chars > 0 then n_digit / cast(n_chars as double)
                          else 0.0 end as digit_ratio
              from f)
            select doc_id,
                   case when n_chars is null then null else
                   floor(round(greatest(least(
                     0.3 * (case when n_chars >= 20 and n_chars <= 20000 then 1.0
                                 when n_chars > 0 then 0.5 else 0.0 end)
                     + 0.2 * (case when mwl >= 2.5 and mwl <= 12 then 1.0 else 0.3 end)
                     + 0.3 * least(stop_hits / 3.0, 1.0)
                     + 0.2 * (1.0 - least(punct_ratio * 1.5 + digit_ratio + upper_ratio,
                                          1.0)), 1.0), 0.0), 6) * 10000 + 0.5) / 10000
                   end as q_score
            from g
        """,
        "fingerprint_documents": f"""
            select doc_id, md5({norm_text}) as fp_md5 from documents
        """,
        "repetition_documents": """
            with w as (
              select doc_id, string_split(regexp_replace(regexp_replace(lower(text), '\\s+', ' ', 'g'), '^ | $', '', 'g'), ' ') as ws
              from documents),
            g as (
              select doc_id,
                     case when ws is null then null
                          when len(ws) >= 3 then
                       list_transform(generate_series(1, len(ws) - 2),
                                      i -> ws[i] || ' ' || ws[i+1] || ' '
                                           || ws[i+2])
                     else [] end as gr
              from w)
            select doc_id,
                   cast(len(gr) as bigint) as n_grams,
                   case when len(gr) > 0 then
                     round(1.0 - len(list_distinct(gr))
                                   / cast(len(gr) as double), 6)
                   end as rep3
            from g
        """,
        "pii_redaction_documents": f"""
            with p as (select doc_id, {_pii_text} as t from documents)
            select doc_id,
                   {_pii_counts},
                   cast({_pii_total} as bigint) as n_pii,
                   md5({_pii_redacted}) as redacted_md5
            from p
        """,
        "vocab_topk_documents": f"""
            with w as (
              select doc_id,
                     unnest(string_split({norm_text}, ' ')) as word
              from documents)
            select word, cast(count(*) as bigint) as tf,
                   cast(count(distinct doc_id) as bigint) as df
            from w where word <> ''
            group by word
            order by tf desc, df desc, word asc
            limit 20
        """,
        "events_hourly": """
            select strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') as hour,
                   event_type,
                   cast(count(*) as bigint) as cnt,
                   cast(sum(cast(value as decimal(18,4))) as double) as sum_value
            from events group by 1, 2
        """,
        "events_json_invalid": """
            -- multipleOf twins: k mod 7 direct; big = k*10^24 needs
            -- HUGEINT; q = the double's shortest-repr decimal view vs
            -- 0.25 (matching how the engine renders the double into the
            -- derived JSON). Arms count only rows where k parses and
            -- value is non-null — the engine gates identically.
            select cast(count(*) as bigint) as total_rows,
                   -- SPEC_OK twin, type-aware (events fuzz find): the old
                   -- try_cast(ks as bigint) ROUNDED '4.5'→5 and accepted
                   -- string-typed '"12"', both of which JSON-Schema
                   -- type:integer rejects. Valid iff props is an OBJECT
                   -- whose k exists, is integer-typed (native int or a
                   -- whole double, the reference's isWhole rule), and
                   -- lies in [0, 50].
                   cast(sum(case when coalesce(
                              jt = 'OBJECT' and kt is not null and
                              ((kt in ('UBIGINT', 'BIGINT')
                                  and k between 0 and 50)
                               or (kt = 'DOUBLE' and kd = floor(kd)
                                   and kd between 0 and 50)), false)
                            then 0 else 1 end) as bigint) as invalid_rows,
                   cast(sum(case when armed and k % 7 != 0
                            then 1 else 0 end) as bigint) as inv_k_mo7,
                   -- ka (k gated on armed) keeps the hugeint product in
                   -- INT128 range: an unarmed 15+-digit k would overflow
                   -- the multiplication DuckDB evaluates eagerly inside
                   -- the conjunction (events fuzz find)
                   cast(sum(case when armed and (cast(ka as hugeint)
                              * cast('1000000000000000000000000' as hugeint))
                              % 3 != 0 then 1 else 0 end)
                        as bigint) as inv_big_mo3,
                   -- multipleOf 0.25 over the decimal VIEW of the double
                   -- (BigDecimal-of-shortest-repr, the reference rule).
                   -- decimal(38,18) covers |v| < 1e20; larger doubles are
                   -- all integers (multiples of 0.25 — valid, and the
                   -- try_cast NULL falls through to valid); nonzero
                   -- |v| < 1e-18 underflows the scale to a false 0 — the
                   -- explicit tiny-guard counts those invalid, matching
                   -- the engine's exact-decimal remainder (fuzz find)
                   cast(sum(case when armed and
                              ((value != 0 and abs(value) < 1e-18)
                               or qd % 0.25 != 0)
                            then 1 else 0 end)
                        as bigint) as inv_q_mo25,
                   -- r3b twins over the second derived document
                   -- {"k","q","arr":[k,event_type,q],"pair":[k,"a"]}:
                   -- patternProperties ^[kq]$ maximum 50; schema-form
                   -- additionalProperties (extras = k, q) minimum 1;
                   -- tuple items [multipleOf 2, maxLength 5] +
                   -- additionalItems maximum 100; const pair [42,"a"].
                   -- Bounds compare the DOUBLE directly (exact: the
                   -- engine's reparsed q equals value bit-for-bit since
                   -- shortest-repr round-trips; the old decimal detour
                   -- NULLed out 1e308 and under-counted — fuzz find)
                   cast(sum(case when armed2 and (k > 50 or value > 50)
                            then 1 else 0 end) as bigint) as inv_patprops,
                   cast(sum(case when armed2 and (k < 1 or value < 1)
                            then 1 else 0 end) as bigint) as inv_ap_min,
                   cast(sum(case when armed2 and (k % 2 != 0
                              or length(event_type) > 5 or value > 100)
                            then 1 else 0 end) as bigint) as inv_tuple,
                   cast(sum(case when armed2 and k != 42
                            then 1 else 0 end) as bigint) as inv_pair_const
            from (select try_cast(ks as bigint) as k,
                         case when regexp_matches(ks, '^-?\\d{1,14}$')
                              then try_cast(ks as bigint) end as ka,
                         try_cast(json_extract(p, '$.k') as double) as kd,
                         jt, kt, value, event_type,
                         try_cast(cast(value as varchar)
                                  as decimal(38,18)) as qd,
                         -- exact integer-text arm, shared verbatim with
                         -- the engine's rlike gate (ADVICE r3 low); the
                         -- isfinite gate mirrors the engine's "no JSON
                         -- rendering exists for NaN/Inf ⇒ unarmed"
                         (regexp_matches(ks, '^-?\\d{1,14}$')
                            and value is not null
                            and isfinite(value)) as armed,
                         (regexp_matches(ks, '^-?\\d{1,14}$')
                            and value is not null and isfinite(value)
                            and event_type is not null) as armed2
                  from (select value, event_type, p,
                               -- Spark get_json_object returns NULL on
                               -- malformed JSON; DuckDB json_extract_string
                               -- THROWS — guard with json_valid so the twin
                               -- tolerates hostile props (events fuzz find)
                               case when p is not null
                                    then json_extract_string(p, '$.k')
                               end as ks,
                               case when p is not null
                                    then json_type(p) end as jt,
                               case when p is not null
                                    then json_type(p, '$.k') end as kt
                        from (select value, event_type,
                                     case when props is not null
                                               and json_valid(props)
                                          then props end as p
                              from events)))
        """,
        "embedding_topk": """
            select q.vec_id as query_id, c.vec_id as neighbor_id,
                   round(list_cosine_similarity(
                     cast(q.embedding as double[]),
                     cast(c.embedding as double[])), 4) as cosine_r
            from embeddings q cross join embeddings c
            where q.vec_id < 5
            qualify row_number() over (
              partition by q.vec_id
              order by list_cosine_similarity(cast(q.embedding as double[]),
                                              cast(c.embedding as double[])) desc,
                       c.vec_id asc) <= 3
        """,
        "ngram_jaccard_sample": f"""
            with d as (select doc_id, {norm_text} as nt from documents
                       where doc_id < 12),
            sh as (select doc_id,
                     case when length(nt) < 3 then [nt]
                          else list_distinct(list_transform(
                            range(1, length(nt) - 1),
                            i -> substring(nt, i, 3))) end as s
                   from d)
            select a.doc_id as id_a, b.doc_id as id_b,
                   round(len(list_intersect(a.s, b.s)) /
                     greatest(cast(len(a.s) + len(b.s)
                              - len(list_intersect(a.s, b.s)) as double), 1.0), 4)
                     as jaccard_r
            from sh a cross join sh b where a.doc_id < b.doc_id
        """,
        "array_keywords_lineitem": """
            with g as (select l_orderkey, list_sort(list(l_linenumber)) as arr
                       from lineitem group by l_orderkey)
            select cast(count(*) as bigint) as n_groups,
              cast(sum(case when len(arr) < 2 then 1 else 0 end) as bigint)
                as v_minitems,
              cast(sum(case when len(arr) > 6 then 1 else 0 end) as bigint)
                as v_maxitems,
              cast(sum(case when len(list_distinct(arr)) <> len(arr)
                       then 1 else 0 end) as bigint) as v_uniqueitems,
              cast(sum(case when len(list_filter(arr, x -> x < 1 or x > 5)) > 0
                       then 1 else 0 end) as bigint) as v_items,
              cast(sum(case when len(list_filter(arr, x -> x >= 7)) = 0
                       then 1 else 0 end) as bigint) as v_contains
            from g
        """,
        "tuple_items_part": """
            select cast(count(*) as bigint) as n_rows,
              cast(sum(case when p_size < 1 or p_size > 25 then 1 else 0 end)
                   as bigint) as v0_items,
              cast(sum(case when p_retailprice < 901 then 1 else 0 end)
                   as bigint) as v1_items,
              cast(sum(case when (p_partkey % 3) > 1 then 1 else 0 end)
                   as bigint) as v2_additionalitems
            from part
        """,
        "map_keywords_orders": """
            select cast(count(*) as bigint) as n_rows,
              cast(sum(case when o_orderstatus not in ('O','F','P')
                       then 1 else 0 end) as bigint) as v0_enum,
              cast(0 as bigint) as v1_required,
              cast(sum(case when not regexp_matches(o_orderpriority, '^[1-3]-')
                       then 1 else 0 end) as bigint) as v2_pattern,
              -- r3b: map patternProperties / propertyNames attribute to
              -- the INNER keyword (kernel recursion parity), renaming
              -- the derived columns
              cast(sum(case when o_totalprice > 200000.0 then 1 else 0 end)
                   as bigint) as v3_additionalproperties,
              cast(0 as bigint) as v4_minproperties,
              cast(sum(case when o_totalprice > 200000.0 then 1 else 0 end)
                   as bigint) as v5_maxproperties,
              cast(sum(case when o_totalprice > 200000.0 then 1 else 0 end)
                   as bigint) as v6_pattern,
              cast(sum(case when o_totalprice > 200000.0 then 1 else 0 end)
                   as bigint) as v7_dependencies
            from orders
        """,
        "scalar_keywords_lineitem": """
            select cast(count(*) as bigint) as n_rows,
              cast(sum(case when cast(round(l_extendedprice * 100) as bigint)
                            % 25 <> 0 then 1 else 0 end) as bigint)
                as v_multipleof_q,
              cast(sum(case when cast(l_quantity as bigint) % 3 <> 0
                       then 1 else 0 end) as bigint) as v_multipleof_3,
              cast(sum(case when 1 + l_linenumber < 4 then 1 else 0 end)
                   as bigint) as v_minlength,
              cast(count(*) as bigint) as v_minlength_grapheme,
              cast(sum(case when (l_partkey % 300) > 255 then 1 else 0 end)
                   as bigint) as v_ipv4,
              cast(sum(case when l_orderkey % 2 <> 0 then 1 else 0 end)
                   as bigint) as v_datetime,
              cast(sum(case when l_orderkey * 1000000 > 2147483647
                         or l_orderkey * 1000000 < -2147483648
                       then 1 else 0 end) as bigint) as v_int32,
              cast(sum(case when l_returnflag is not null then 1 else 0 end)
                   as bigint) as v_type_null,
              cast(sum(case when l_extendedprice is not null
                         and l_extendedprice <> floor(l_extendedprice)
                       then 1 else 0 end) as bigint) as v_type_null_int
            from lineitem
        """,
        "combinator2_part": """
            select cast(count(*) as bigint) as n_rows,
              cast(sum(case when p_size < 5 or p_size > 40 then 1 else 0 end)
                   as bigint) as v_allof,
              cast(sum(case when not (p_size <= 5 or p_size >= 20)
                       then 1 else 0 end) as bigint) as v_anyof,
              cast(sum(case when (p_size >= 10 and p_size % 2 <> 0)
                         or (p_size < 10 and p_size > 5)
                       then 1 else 0 end) as bigint) as v_ifthenelse,
              cast(sum(case when p_brand <> 'Brand#13' then 1 else 0 end)
                   as bigint) as v_const,
              cast(count(*) as bigint) as v_false_schema
            from part
        """,
        "embedding_near_dup": """
            with corpus as (
              select vec_id, cast(embedding as double[]) as e
              from embeddings where vec_id < 200
              union all
              select vec_id + 100000 as vec_id, cast(embedding as double[]) as e
              from embeddings where vec_id < 200)
            select cast(count(*) as bigint) as exact_pairs,
                   cast(0 as bigint) as planted_missed
            from corpus a cross join corpus b
            where a.vec_id < b.vec_id
              and list_cosine_similarity(a.e, b.e) >= 0.99
        """,
        "minhash_pairs_documents": _sql_minhash_superset(),
        "near_dup_clusters": _sql_near_dup_clusters(),
        "simhash_documents": _sql_simhash_md5(),
        "hll_distinct_lineitem": """
            -- the band bounds are recomputed here; within_tol is the one
            -- engine-computed boolean (the sketch estimate only exists
            -- Spark-side), asserted against the recomputed band
            with x as (select cast(count(distinct l_orderkey) as bigint) as d
                       from lineitem)
            select d as exact_distinct,
                   cast(d as double) * cast(0.95 as double) as lo_bound,
                   cast(d as double) * cast(1.05 as double) as hi_bound,
                   true as within_tol
            from x
        """,
        "ann_lsh_embeddings": f"""
            -- FULL recomputation: the seeded plane matrix is embedded as
            -- literals, DuckDB rebuilds every LSH bucket (sign quantized
            -- at 1e-6 on both engines so summation-order rounding cannot
            -- flip a bit), intersects the candidates with its own
            -- brute-force top-5, and derives hits + recall — valid at
            -- any SF, no pinned measured constants
            with planes(tbl, p, pm) as (values
                   {_plane_rows}),
            sigs as (
              select e.vec_id, pl.tbl,
                     cast(sum(case when round(list_inner_product(
                                cast(e.embedding as double[]), pl.pm), 6) >= 0
                              then cast(power(2, pl.p) as bigint)
                              else 0 end) as bigint) as sig
              from embeddings e cross join planes pl
              group by 1, 2),
            cand as (
              select distinct q.vec_id as query_id, c.vec_id as neighbor_id
              from (select * from sigs where vec_id < 3) q
              join sigs c on q.tbl = c.tbl and q.sig = c.sig),
            brute as (
              select q.vec_id as query_id, c.vec_id as neighbor_id
              from embeddings q cross join embeddings c
              where q.vec_id < 3
              qualify row_number() over (
                partition by q.vec_id
                order by list_cosine_similarity(cast(q.embedding as double[]),
                                                cast(c.embedding as double[])) desc,
                         c.vec_id asc) <= 5),
            h as (select count(*) as c
                  from brute b join cand using (query_id, neighbor_id))
            select cast(3 as bigint) as n_queries,
                   cast((select count(*) from brute) as bigint) as brute_total,
                   cast((select c from h) as bigint) as hits,
                   ((select c from h)
                     / cast((select count(*) from brute) as double)) >= 0.8
                     as recall_ok
        """,
        "quantiles_extendedprice": """
            -- exact side hash-matched; approx_ok is the engine's sketch
            -- asserted against the band this query recomputes (DuckDB
            -- quantile_cont takes only constant probs, hence the union)
            with q as (
              select cast(0.1 as double) as prob,
                     round(quantile_cont(l_extendedprice, 0.1), 4) as q_exact_r
              from lineitem
              union all select cast(0.5 as double),
                     round(quantile_cont(l_extendedprice, 0.5), 4) from lineitem
              union all select cast(0.9 as double),
                     round(quantile_cont(l_extendedprice, 0.9), 4) from lineitem
              union all select cast(0.99 as double),
                     round(quantile_cont(l_extendedprice, 0.99), 4) from lineitem)
            select prob, q_exact_r,
                   q_exact_r * cast(0.99 as double) as lo_band,
                   q_exact_r * cast(1.01 as double) as hi_band,
                   true as approx_ok
            from q
        """,
        "drift_ks_lineitem": """
            with h as (
              select case when l_extendedprice < 0 then 0
                          when l_extendedprice >= 60000 then 25
                          else cast(floor(l_extendedprice / 2500) as int) + 1 end
                       as bucket,
                     sum(case when l_orderkey % 2 = 0 then 1 else 0 end) as o,
                     sum(case when l_orderkey % 2 = 1 then 1 else 0 end) as e
              from lineitem where l_extendedprice is not null group by 1),
            c as (
              select bucket,
                     sum(o) over (order by bucket) / cast(sum(o) over () as double)
                       as cdf_o,
                     sum(e) over (order by bucket) / cast(sum(e) over () as double)
                       as cdf_e
              from h)
            select round(max(abs(cdf_o - cdf_e)), 6) as ks from c
        """,
        "stats_lineitem": """
            select c.column, cast(c.rows_total as bigint) as rows_total,
                   cast(c.null_count as bigint) as null_count,
                   c.min_str, c.max_str
            from (
              select 'l_quantity' as "column", count(*) as rows_total,
                     sum(case when l_quantity is null then 1 else 0 end) as null_count,
                     cast(min(l_quantity) as varchar) as min_str,
                     cast(max(l_quantity) as varchar) as max_str
              from lineitem
              union all
              select 'l_extendedprice', count(*),
                     sum(case when l_extendedprice is null then 1 else 0 end),
                     cast(min(l_extendedprice) as varchar),
                     cast(max(l_extendedprice) as varchar)
              from lineitem
              union all
              select 'l_returnflag', count(*),
                     sum(case when l_returnflag is null then 1 else 0 end),
                     min(l_returnflag), max(l_returnflag)
              from lineitem
            ) c
        """,
        # recomputes the ENGINE-EXPORTED signature table's pairing logic
        # independently: chunk-pigeonhole candidate buckets (8 x 8-bit
        # chunks; masking makes arithmetic shift equal logical), Hamming
        # via bit_count(xor), planted flag from the id layout. Decode
        # stays engine-side by construction — see _q_image_phash_neardup.
        "image_phash_neardup": """
            with sigs as (
              select id, phash
              from '{export}/phash_sigs/*.parquet'),
            pairs as (
              select a.id as id_a, b.id as id_b,
                     cast(bit_count(xor(a.phash, b.phash)) as int) as hamming
              from sigs a join sigs b on a.id < b.id
              where ((a.phash >> 0) & 255) = ((b.phash >> 0) & 255)
               or ((a.phash >> 8) & 255) = ((b.phash >> 8) & 255)
               or ((a.phash >> 16) & 255) = ((b.phash >> 16) & 255)
               or ((a.phash >> 24) & 255) = ((b.phash >> 24) & 255)
               or ((a.phash >> 32) & 255) = ((b.phash >> 32) & 255)
               or ((a.phash >> 40) & 255) = ((b.phash >> 40) & 255)
               or ((a.phash >> 48) & 255) = ((b.phash >> 48) & 255)
               or ((a.phash >> 56) & 255) = ((b.phash >> 56) & 255)
            )
            select id_a, id_b, hamming,
                   (substring(id_a, 3, 3) = substring(id_b, 3, 3)) as planted
            from pairs
            where hamming <= 10
        """.format(export=_ORACLE_EXPORT),
        # same exported signature table and pair recomputation as
        # image_phash_neardup, then an INDEPENDENT transitive closure
        # (recursive CTE, min-reachable-id per node) — the declarative
        # twin of the engine's iterative min-label propagation — plus a
        # window count for cluster size.
        "image_neardup_clusters": """
            with recursive sigs as (
              select id, phash
              from '{export}/phash_sigs/*.parquet'),
            cand as (
              select a.id as id_a, b.id as id_b,
                     cast(bit_count(xor(a.phash, b.phash)) as int) as hamming
              from sigs a join sigs b on a.id < b.id
              where ((a.phash >> 0) & 255) = ((b.phash >> 0) & 255)
               or ((a.phash >> 8) & 255) = ((b.phash >> 8) & 255)
               or ((a.phash >> 16) & 255) = ((b.phash >> 16) & 255)
               or ((a.phash >> 24) & 255) = ((b.phash >> 24) & 255)
               or ((a.phash >> 32) & 255) = ((b.phash >> 32) & 255)
               or ((a.phash >> 40) & 255) = ((b.phash >> 40) & 255)
               or ((a.phash >> 48) & 255) = ((b.phash >> 48) & 255)
               or ((a.phash >> 56) & 255) = ((b.phash >> 56) & 255)
            ),
            pairs as (select id_a, id_b from cand where hamming <= 10),
            edges as (select id_a as u, id_b as v from pairs
                      union
                      select id_b as u, id_a as v from pairs),
            reach as (
              select u, u as v from (select distinct u from edges)
              union
              select r.u, e.v from reach r join edges e on r.v = e.u),
            comp as (select u as id, min(v) as component
                     from reach group by u)
            select id, component,
                   cast(count(*) over (partition by component) as bigint)
                     as cluster_size
            from comp order by id
        """.format(export=_ORACLE_EXPORT),
        # replays every structural byte check of imagemeta.py on the hex
        # rendering of the engine-exported blobs: magic "SSI1"
        # (hex 53534931), u16-LE dims at bytes 5-8, fmt code at byte 9,
        # exact payload length for the uncompressed formats
        "image_container_meta": """
            with imgs as (
              select w, h, fmt, hex(bytes) as hx,
                     octet_length(bytes) as len
              from '{export}/container_images/*.parquet'),
            c as (
              select w, h, fmt, len,
                     coalesce(len >= 9 and substring(hx, 1, 8) = '53534931',
                              false) as header_ok,
                     case when len >= 9 then
                       ('0x' || substring(hx, 9, 2))::int
                         + ('0x' || substring(hx, 11, 2))::int * 256 end as w_hdr,
                     case when len >= 9 then
                       ('0x' || substring(hx, 13, 2))::int
                         + ('0x' || substring(hx, 15, 2))::int * 256 end as h_hdr,
                     case when len >= 9 then
                       ('0x' || substring(hx, 17, 2))::int end as code
              from imgs),
            k as (
              select header_ok,
                     coalesce(header_ok and w_hdr = w and h_hdr = h,
                              false) as dims_match,
                     coalesce(header_ok and code = (case fmt
                                when 'raw' then 0 when 'rawz' then 1
                                when 'jpg' then 2 when 'png' then 3 end),
                              false) as fmt_match,
                     coalesce(header_ok and
                              (case when fmt in ('raw', 'jpg', 'png')
                                    then len = 9 + cast(w as bigint)
                                               * cast(h as bigint) * 3
                                    else true end),
                              false) as length_ok
              from c)
            select 'container:meta' as "check",
                   coalesce(cast(sum(case when not (header_ok and dims_match
                                           and fmt_match and length_ok)
                            then 1 else 0 end) as bigint) = 0, true) as "pass",
                   cast(count(*) as bigint) as "rows",
                   coalesce(cast(sum(case when not header_ok then 1 else 0
                            end) as bigint), 0) as bad_header,
                   coalesce(cast(sum(case when header_ok and not dims_match
                            then 1 else 0 end) as bigint), 0) as dims_mismatch,
                   coalesce(cast(sum(case when header_ok and not fmt_match
                            then 1 else 0 end) as bigint), 0) as fmt_mismatch,
                   coalesce(cast(sum(case when header_ok and not length_ok
                            then 1 else 0 end) as bigint), 0) as bad_length
            from k
        """.format(export=_ORACLE_EXPORT),
        # replays the imagequality gates on the engine-exported slice:
        # dims/aspect on w,h; bpp band on octet_length(bytes); ASCII-
        # space trim + \s+ token split + control-char printable ratio on
        # the caption; then the documented precedence CASE
        # (dims → aspect → bpp → caption) and the one-row report.
        "image_quality_images": """
            with imgs as (
              select w, h, caption,
                     octet_length(bytes) as blen
              from '{export}/quality_images/*.parquet'),
            g as (
              select *,
                coalesce(w >= 128 and h >= 128
                         and cast(w as bigint) * h <= 16777216,
                         false) as dims_ok,
                coalesce(cast(greatest(w, h) as double) / least(w, h)
                         <= 3.0, false) as aspect_ok,
                coalesce(cast(blen as double) / (cast(w as bigint) * h)
                           >= 2.0
                         and cast(blen as double) / (cast(w as bigint) * h)
                           <= 3.5, true) as bpp_ok,
                regexp_replace(caption, '^ +| +$', '', 'g') as ctrim,
                case when length(caption) = 0 then 1.0
                     else 1.0 - cast(length(caption) - length(regexp_replace(
                            caption,
                            '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '',
                            'g')) as double) / length(caption)
                end as pratio
              from imgs),
            k as (
              select dims_ok, aspect_ok, bpp_ok,
                     coalesce(length(ctrim) >= 8
                              and len(regexp_split_to_array(ctrim, '\\s+'))
                                >= 2
                              and pratio >= 0.9, false) as caption_ok
              from g),
            r as (
              select case when not dims_ok then 'dims'
                          when not aspect_ok then 'aspect'
                          when not bpp_ok then 'bpp'
                          when not caption_ok then 'caption' end as reason
              from k)
            select cast(count(*) as bigint) as total,
                   coalesce(cast(sum(case when reason is null then 1 else 0
                            end) as bigint), 0) as kept,
                   coalesce(cast(sum(case when reason = 'dims' then 1 else 0
                            end) as bigint), 0) as drop_dims,
                   coalesce(cast(sum(case when reason = 'aspect' then 1
                            else 0 end) as bigint), 0) as drop_aspect,
                   coalesce(cast(sum(case when reason = 'bpp' then 1 else 0
                            end) as bigint), 0) as drop_bpp,
                   coalesce(cast(sum(case when reason = 'caption' then 1
                            else 0 end) as bigint), 0) as drop_caption
            from r
        """.format(export=_ORACLE_EXPORT),
        # replays duplicate_caption_groups: engine-canonical _NORM
        # normalization, sha256 key, NULL/empty exclusion, group agg.
        "caption_dups_images": """
            with norm as (
              select image_id,
                     {norm} as ncap
              from '{export}/quality_images/*.parquet'
              where caption is not null),
            keyed as (
              select sha256(ncap) as caption_hash, image_id
              from norm where length(ncap) > 0)
            select caption_hash,
                   cast(count(*) as bigint) as n_rows,
                   cast(count(distinct image_id) as bigint) as n_images,
                   min(image_id) as min_id
            from keyed
            group by caption_hash
            having count(*) >= 2
        """.format(export=_ORACLE_EXPORT,
                   norm=_NORM.format(c="caption")),
        # independent digest recomputation from the raw binary column:
        # hex() is byte-identical across Spark and DuckDB (uppercase,
        # two chars per byte), sha256-of-hex is the engine-canonical key
        "image_exact_dup": """
            select sha256(hex(bytes)) as bytes_hash,
                   cast(count(*) as bigint) as n_rows,
                   cast(count(distinct image_id) as bigint) as n_images,
                   min(image_id) as min_id
            from '{export}/quality_images/*.parquet'
            where bytes is not null
            group by 1
            having count(*) >= 2
        """.format(export=_ORACLE_EXPORT),
        # replays aspect_bucket_report: the exact int64 boundary-
        # crossing sum (geometric midpoints as adjacent cross products —
        # no floats anywhere), 1-based list_extract bucket lookup, and
        # the exact-fit cross-product count; invalid dims group under
        # the NULL-bucket row
        "aspect_buckets_images": """
            with imgs as (
              select w, h from '{export}/quality_images/*.parquet'),
            a as (
              select w, h,
                     case when w is null or h is null or w <= 0 or h <= 0
                               or w > 2147483647 or h > 2147483647
                          then null else {terms} end as raw_bucket
              from imgs),
            b as (
              select w, h,
                     cast(raw_bucket as integer) as bucket_id,
                     cast(list_extract({ws}, raw_bucket + 1) as integer)
                       as bucket_w,
                     cast(list_extract({hs}, raw_bucket + 1) as integer)
                       as bucket_h
              from a)
            select bucket_id, bucket_w, bucket_h,
                   cast(count(*) as bigint) as n_images,
                   coalesce(cast(sum(case when cast(w as hugeint) * bucket_h
                                          = cast(h as hugeint) * bucket_w
                                     then 1 else 0 end) as bigint), 0)
                     as n_exact_fit
            from b
            group by bucket_id, bucket_w, bucket_h
        """.format(
            export=_ORACLE_EXPORT,
            terms=" + ".join(
                "case when cast(w as hugeint) * w * {bh} >"
                " cast(h as hugeint) * h * {bw} then 1 else 0 end".format(
                    bh=ah * bh2, bw=aw * bw2)
                for (aw, ah), (bw2, bh2) in zip(_ASPECT_BK, _ASPECT_BK[1:])),
            ws="[" + ", ".join(str(bw) for bw, _ in _ASPECT_BK) + "]",
            hs="[" + ", ".join(str(bh) for _, bh in _ASPECT_BK) + "]"),
        # replays phash_weight_histogram + drift_statistics_histograms:
        # bit_count Hamming-weight buckets per side, full-outer join,
        # window-cumsum KS, chi-square on 0.5-floored scaled
        # expectations, PSI with the 0.5 floor in proportion numerators
        "phash_drift_images": """
            with t as (
              select side, bit_count(phash) as bucket
              from '{export}/phash_drift/*.parquet'
              where phash is not null),
            o as (select bucket, count(*) as o from t
                  where side = 'cur' group by bucket),
            e as (select bucket, count(*) as e from t
                  where side = 'ref' group by bucket),
            j as (select coalesce(o.bucket, e.bucket) as bucket,
                         coalesce(o.o, 0) as o, coalesce(e.e, 0) as e
                  from o full outer join e on o.bucket = e.bucket),
            w as (select bucket, o, e,
                         cast(sum(o) over () as double) as n_o,
                         cast(sum(e) over () as double) as n_e,
                         cast(sum(o) over (order by bucket) as double) as co,
                         cast(sum(e) over (order by bucket) as double) as ce
                  from j),
            terms as (
              select o, e,
                     abs(co / n_o - ce / n_e) as ks_t,
                     pow(o - greatest(e * (n_o / n_e), 0.5), 2)
                       / greatest(e * (n_o / n_e), 0.5) as chi_t,
                     (greatest(o, 0.5) / n_o - greatest(e, 0.5) / n_e)
                       * ln((greatest(o, 0.5) / n_o)
                            / (greatest(e, 0.5) / n_e)) as psi_t
              from w)
            select round(max(ks_t), 6) as ks,
                   round(sum(chi_t), 4) as chi2,
                   cast(count(*) - 1 as bigint) as dof,
                   round(sum(psi_t), 6) as psi,
                   cast(sum(o) as bigint) as n_obs,
                   cast(sum(e) as bigint) as n_exp
            from terms
        """.format(export=_ORACLE_EXPORT),
        # full replay of the image-curation pipeline: structural hex
        # checks, quality gates (min_dim=128, aspect<=3, bpp in [1,3.5],
        # caption 8/2/0.9), exact dedup by group-by-blob, undecodable
        # from the shared signature export, chunk-pigeonhole pairs +
        # recursive transitive closure, md5-priority caption cap (k=2),
        # then the stage-precedence CASE and the one-row report
        # replays embedding_centroid_drift: per-dimension slice means via
        # unnest-with-ordinality (0-based pos = ord - 1), centroid
        # cosine, mean |delta-mean|, and the per-slice counts
        "embedding_drift": """
            with ok as (
              select label, embedding from embeddings
              where embedding is not null and len(embedding) > 0
                and len(list_filter(embedding, x -> x is null)) = 0),
            t as (
              select side, u.s.pos as pos, u.s.v as v from (
                select label % 2 as side,
                       unnest(list_transform(
                         embedding,
                         (x, i) -> struct_pack(pos := i - 1,
                                               v := cast(x as double)))) as s
                from ok) u),
            c as (
              select pos,
                     avg(case when side = 0 then v end) as ca,
                     avg(case when side = 1 then v end) as cb
              from t group by pos),
            m as (
              select sum(ca * cb)
                       / greatest(sqrt(sum(ca * ca)) * sqrt(sum(cb * cb)),
                                  1e-12) as cos_,
                     avg(abs(ca - cb)) as mad,
                     cast(count(*) as bigint) as dims
              from c),
            n as (
              select cast(sum(case when label % 2 = 0 then 1 else 0
                           end) as bigint) as n_a,
                     cast(sum(case when label % 2 = 1 then 1 else 0
                           end) as bigint) as n_b
              from ok)
            select round(cos_, 5) as centroid_cosine,
                   round(mad, 6) as mean_abs_diff, dims, n_a, n_b
            from m, n
        """,
        # replays token_count (BPE-ish regex) -> width_bucket(0,400,20)
        # histograms per parity slice -> the joined-bucket KS / floored
        # chi-square / floored PSI, mirroring the phash_drift twin
        "token_drift_documents": """
            with tc as (
              select doc_id,
                     cast(len(regexp_extract_all(text, '{tokre}'))
                          as double) as tc
              from documents where text is not null),
            o as (select case when tc < 0 then 0 when tc >= 400 then 21
                              else cast(floor(tc / 20) as int) + 1
                         end as bucket, count(*) as o
                  from tc where doc_id % 2 = 0 group by 1),
            e as (select case when tc < 0 then 0 when tc >= 400 then 21
                              else cast(floor(tc / 20) as int) + 1
                         end as bucket, count(*) as e
                  from tc where doc_id % 2 = 1 group by 1),
            j as (select coalesce(o.bucket, e.bucket) as bucket,
                         coalesce(o.o, 0) as o, coalesce(e.e, 0) as e
                  from o full outer join e on o.bucket = e.bucket),
            w as (select bucket, o, e,
                         cast(sum(o) over () as double) as n_o,
                         cast(sum(e) over () as double) as n_e,
                         cast(sum(o) over (order by bucket) as double) as co,
                         cast(sum(e) over (order by bucket) as double) as ce
                  from j),
            terms as (
              select o, e,
                     abs(co / n_o - ce / n_e) as ks_t,
                     pow(o - greatest(e * (n_o / n_e), 0.5), 2)
                       / greatest(e * (n_o / n_e), 0.5) as chi_t,
                     (greatest(o, 0.5) / n_o - greatest(e, 0.5) / n_e)
                       * ln((greatest(o, 0.5) / n_o)
                            / (greatest(e, 0.5) / n_e)) as psi_t
              from w)
            select round(max(ks_t), 6) as ks,
                   round(sum(chi_t), 4) as chi2,
                   cast(count(*) - 1 as bigint) as dof,
                   round(sum(psi_t), 6) as psi,
                   cast(sum(o) as bigint) as n_obs,
                   cast(sum(e) as bigint) as n_exp
            from terms
        """.format(tokre=_TOKRE),
        "image_curation_report": _sql_image_curation(
            f"{_ORACLE_EXPORT}/curate_images_raw/*.parquet",
            f"{_ORACLE_EXPORT}/curate_images_sigs/*.parquet"),
        # Spark session_window cross-checked by the declarative gap
        # rule: new session iff inter-event gap > 30 min (the merge
        # bound is closed); window end = last event ts + gap.
        "sessions_events": """
            with x as (
              select user_id, ts,
                     case when lag(ts) over (partition by user_id order by ts)
                               is null
                          or ts - lag(ts) over (partition by user_id order by ts)
                               > interval '30 minutes'
                          then 1 else 0 end as ns
              from events where ts is not null),
            s as (
              select user_id, ts,
                     sum(ns) over (partition by user_id order by ts
                                   rows unbounded preceding) as sid
              from x)
            select cast(user_id as bigint) as user_id,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') as start_ts,
                   strftime(max(ts) + interval '30 minutes',
                            '%Y-%m-%d %H:%M:%S.%f') as end_ts,
                   cast(count(*) as bigint) as n_events
            from s group by user_id, sid
        """,
        # the engine's union+window as-of plan vs DuckDB's NATIVE ASOF
        # LEFT JOIN — independent algorithms, same inclusive backward
        # semantics
        "asof_events": """
            select cast(c.event_id as bigint) as event_id,
                   strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') as ts_s,
                   strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') as err_ts_s,
                   e.value as err_value
            from (select event_id, user_id, ts from events
                  where event_type = 'click') c
            asof left join
                 (select user_id, ts, value from events
                  where event_type = 'error') e
              on c.user_id = e.user_id and c.ts >= e.ts
        """,
        # same width_bucket layout as drift_ks_lineitem; 0.5-count
        # Laplace floor on proportion NUMERATORS only (denominators are
        # the raw totals), Σ(po−pe)·ln(po/pe)
        "drift_psi_lineitem": """
            with h as (
              select case when l_extendedprice < 0 then 0
                          when l_extendedprice >= 60000 then 25
                          else cast(floor(l_extendedprice / 2500) as int) + 1 end
                       as bucket,
                     sum(case when l_orderkey % 2 = 0 then 1 else 0 end) as o,
                     sum(case when l_orderkey % 2 = 1 then 1 else 0 end) as e
              from lineitem where l_extendedprice is not null group by 1),
            p as (
              select greatest(o, 0.5) / cast(sum(o) over () as double) as po,
                     greatest(e, 0.5) / cast(sum(e) over () as double) as pe,
                     o, e
              from h)
            select round(sum((po - pe) * ln(po / pe)), 6) as psi,
                   cast(sum(o) as bigint) as n_obs,
                   cast(sum(e) as bigint) as n_exp
            from p
        """,
        "url_domains_documents": f"""
            with corpus as (
              select doc_id,
                     case when doc_id % 3 = 0
                          then text || ' see https://site-'
                               || cast(doc_id % 7 as varchar)
                               || '.example.com/p/'
                               || cast(doc_id as varchar)
                          else text end as text
              from documents),
            u as (
              select doc_id,
                     unnest(regexp_extract_all(text,
                         '{_URL_REGEX_SQL}')) as url
              from corpus),
            d as (
              select doc_id,
                     lower(regexp_extract(url,
                         'https?://([A-Za-z0-9.-]+)', 1)) as domain
              from u)
            select domain,
                   cast(count(*) as bigint) as n_urls,
                   cast(count(distinct doc_id) as bigint) as n_docs
            from d where domain != '' group by domain
        """,
        # bit-for-bit md5 hash-fraction replay: ('0x'||hex8)::bigint /
        # 2^32 is exact in a double, so the 0.8/0.9 boundary comparisons
        # reproduce exactly across engines
        "hash_split_documents": """
            with h as (
              select doc_id, lang,
                     ('0x' || substring(md5(cast(doc_id as varchar)), 1, 8))
                       ::bigint / 4294967296.0 as frac
              from documents),
            s as (
              select doc_id, lang,
                     case when frac < 0.8 then 'train'
                          when frac < 0.9 then 'val'
                          else 'test' end as split
              from h)
            select split, lang,
                   cast(count(*) as bigint) as n_docs,
                   cast(min(doc_id) as bigint) as min_doc,
                   cast(max(doc_id) as bigint) as max_doc
            from s group by split, lang
        """,
        # the identical row_number-over-md5-priority selection; NULL
        # priorities sort last on both engines (asc_nulls_last / DuckDB
        # ASC default), though documents.doc_id is never NULL
        "cap_per_source_documents": """
            with r as (
              select source, doc_id,
                     row_number() over (
                       partition by source
                       order by md5(cast(doc_id as varchar)) asc,
                                doc_id asc) as rn
              from documents)
            select source,
                   cast(count(*) as bigint) as n_kept,
                   cast(sum(doc_id) as bigint) as sum_doc,
                   cast(min(doc_id) as bigint) as min_doc,
                   cast(max(doc_id) as bigint) as max_doc
            from r where rn <= 10 group by source
        """,
        # pack-and-chop layout replay: same md5 bucket, same id-ordered
        # cumulative token sum, same floor-division window indexes.
        # fill_ppm feeds exact integers into one IEEE division on both
        # engines, so floor() cannot disagree.
        "pack_layout_documents": """
            with t as (
              select doc_id,
                     cast(case when trim(text) = '' then 0
                          else len(regexp_split_to_array(trim(text),
                                                         '\\s+')) end
                          as bigint) as tokens,
                     cast(('0x' || substring(md5(cast(doc_id as varchar)),
                                             1, 8))::bigint % 8 as int)
                       as bucket
              from documents
              where doc_id is not null and text is not null),
            p as (
              select bucket, doc_id, tokens,
                     sum(tokens) over (
                       partition by bucket order by doc_id
                       rows between unbounded preceding and current row)
                       as cum
              from t),
            l as (
              select bucket, doc_id, tokens,
                     cast(floor((cum - tokens) / 2048.0) as bigint)
                       as pack_first,
                     cast(case when tokens > 0
                          then floor((cum - 1) / 2048.0)
                          else floor((cum - tokens) / 2048.0) end
                          as bigint) as pack_last
              from p)
            select bucket,
                   cast(count(*) as bigint) as n_docs,
                   cast(sum(tokens) as bigint) as total_tokens,
                   cast(sum(pack_last - pack_first) as bigint)
                     as n_straddles,
                   cast(ceil(sum(tokens) / 2048.0) as bigint) as n_packs,
                   cast(case when ceil(sum(tokens) / 2048.0) > 0
                        then floor(sum(tokens) * 1000000 /
                                   (ceil(sum(tokens) / 2048.0) * 2048))
                        end as bigint) as fill_ppm,
                   cast(sum(doc_id * pack_first) as bigint)
                     as assign_witness,
                   cast(max(pack_last) as bigint) as max_pack
            from l group by bucket
        """,
        # per-source threshold replay; sources absent from the CASE (and
        # a NULL source) fall to the 0.3 default on both engines
        "weighted_mix_documents": """
            with h as (
              select doc_id, source,
                     ('0x' || substring(md5(cast(doc_id as varchar)), 1, 8))
                       ::bigint / 4294967296.0 as frac
              from documents)
            select source,
                   cast(count(*) as bigint) as n_kept,
                   cast(sum(doc_id) as bigint) as sum_doc,
                   cast(min(doc_id) as bigint) as min_doc,
                   cast(max(doc_id) as bigint) as max_doc
            from h
            where frac < case source when 'src0' then 1.0
                                     when 'src1' then 0.5
                                     when 'src2' then 0.1
                                     else 0.3 end
            group by source
        """,
        # injection replayed via chr(); utf8proc nfc_normalize is the
        # independent twin of CPython's unicodedata (engine side) —
        # Unicode's NFC stability policy pins both to the same output
        # for assigned codepoints. length() is codepoints on both.
        "normalize_documents": """
            with r as (
              select doc_id,
                     text || case cast(doc_id % 4 as int)
                       when 1 then ' cafe' || chr(769)
                       when 2 then ' A' || chr(778)
                       when 3 then ' ' || chr(4352) || chr(4449) ||
                                   chr(4520) || chr(1)
                       else '' end as raw
              from documents),
            n as (
              select doc_id, raw,
                     regexp_replace(
                       nfc_normalize(raw),
                       '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '',
                       'g') as norm
              from r)
            select doc_id,
                   (norm is distinct from raw) as changed,
                   cast(length(raw) as bigint) as n_before,
                   cast(length(norm) as bigint) as n_after,
                   md5(norm) as norm_md5
            from n
        """,
        # normalization -> word 8-grams -> distinct -> join, replayed in
        # DuckDB list ops over the same _NORM twin
        "curation_report_documents": f"""
            -- independent replay of the curation pipeline's drop-stage
            -- attribution: every stage flag is the already-twinned
            -- fragment (exact-dup winners, lang_id argmax, 4-decimal
            -- floor-tied quality, token regex, 8-gram contamination,
            -- md5-priority source cap) composed through the same
            -- precedence CASE, aggregated to the one report row
            with base as (
              select doc_id, text, source from documents),
            win as (
              select true as keep_exact, min(doc_id) as doc_id
              from base where text is not null
              group by sha256({norm_text})),
            ws as (
              select doc_id,
                     list_distinct(string_split({norm_text}, ' ')) as w
              from base),
            lng as (
              select doc_id, case
                when w is null then null
                when greatest(s_de, s_en, s_es, s_fr) = 0 then 'und'
                when s_de = greatest(s_de, s_en, s_es, s_fr) then 'de'
                when s_en = greatest(s_de, s_en, s_es, s_fr) then 'en'
                when s_es = greatest(s_de, s_en, s_es, s_fr) then 'es'
                else 'fr' end as lg
              from (select doc_id, w,
                len(list_intersect(w, ['der','die','und','das','ist','von','mit','den','nicht','ein'])) as s_de,
                len(list_intersect(w, ['the','and','of','to','in','is','that','it','was','for'])) as s_en,
                len(list_intersect(w, ['de','la','que','el','en','los','del','las','por','un'])) as s_es,
                len(list_intersect(w, ['le','la','les','des','est','dans','que','une','pour','qui'])) as s_fr
                from ws)),
            qf as (
              select doc_id,
                     length(text) as n_chars,
                     regexp_extract_all(text, '{_TOKRE}') as toks,
                     list_filter(regexp_extract_all(text, '{_TOKRE}'),
                                 x -> regexp_matches(x, '^[A-Za-z0-9]+$')) as words,
                     len(list_intersect(list_distinct(string_split({norm_text}, ' ')),
                         ['the','and','of','to','in','is','that','it','was','for']))
                       as stop_hits,
                     length(regexp_replace(text, '[^A-Z]', '', 'g')) as n_upper,
                     length(regexp_replace(text, '[^0-9]', '', 'g')) as n_digit
              from base),
            qg as (
              select doc_id, n_chars, len(toks) as n_tokens,
                     case when len(words) > 0 then
                       list_sum(list_transform(words, x -> length(x)))
                         / cast(len(words) as double) else 0.0 end as mwl,
                     case when len(toks) > 0 then
                       (len(toks) - len(words)) / cast(len(toks) as double)
                       else 0.0 end as punct_ratio,
                     stop_hits,
                     case when n_chars > 0 then n_upper / cast(n_chars as double)
                          else 0.0 end as upper_ratio,
                     case when n_chars > 0 then n_digit / cast(n_chars as double)
                          else 0.0 end as digit_ratio
              from qf),
            qq as (
              select doc_id, n_tokens,
                   floor(round(greatest(least(
                     0.3 * (case when n_chars >= 20 and n_chars <= 20000 then 1.0
                                 when n_chars > 0 then 0.5 else 0.0 end)
                     + 0.2 * (case when mwl >= 2.5 and mwl <= 12 then 1.0 else 0.3 end)
                     + 0.3 * least(stop_hits / 3.0, 1.0)
                     + 0.2 * (1.0 - least(punct_ratio * 1.5 + digit_ratio + upper_ratio,
                                          1.0)), 1.0), 0.0), 6) * 10000 + 0.5) / 10000
                     as q4
              from qg),
            cg as (
              select doc_id,
                     unnest(list_distinct(
                       case when len(wl) >= 8
                            then list_transform(range(1, len(wl) - 6),
                                   i -> array_to_string(
                                          list_slice(wl, i, i + 7), ' '))
                            else [] end)) as gram
              from (select doc_id, string_split({norm_text}, ' ') as wl
                    from base where text is not null)),
            contam as (
              select distinct g.doc_id from cg g
              join (select distinct gram from cg where doc_id < 10) b
                using (gram)),
            st0 as (
              select b.doc_id, b.source, case
                when b.text is null then 'null_text'
                when coalesce(e.keep_exact, false) = false then 'exact_dup'
                when l.lg not in ('en', 'de') then 'language'
                when q.q4 < 0.45 then 'quality'
                when q.n_tokens < 10 then 'min_tokens'
                when c.doc_id is not null then 'contaminated'
              end as stage
              from base b
              left join win e using (doc_id)
              left join lng l using (doc_id)
              left join qq q using (doc_id)
              left join contam c using (doc_id)),
            rn as (
              select doc_id,
                     row_number() over (
                       partition by source
                       order by md5(cast(doc_id as varchar)) asc,
                                doc_id asc) as rn
              from st0 where stage is null),
            st as (
              select s.doc_id,
                     coalesce(s.stage,
                              case when r.rn > 15 then 'source_cap' end)
                       as stage
              from st0 s left join rn r using (doc_id))
            select cast(count(*) as bigint) as n_input,
                   cast(sum(case when stage = 'null_text' then 1 else 0 end) as bigint) as n_null_text,
                   cast(sum(case when stage = 'exact_dup' then 1 else 0 end) as bigint) as n_exact_dup,
                   cast(0 as bigint) as n_near_dup,
                   cast(sum(case when stage = 'language' then 1 else 0 end) as bigint) as n_language,
                   cast(sum(case when stage = 'quality' then 1 else 0 end) as bigint) as n_quality,
                   cast(sum(case when stage = 'min_tokens' then 1 else 0 end) as bigint) as n_min_tokens,
                   cast(sum(case when stage = 'contaminated' then 1 else 0 end) as bigint) as n_contaminated,
                   cast(sum(case when stage = 'source_cap' then 1 else 0 end) as bigint) as n_source_cap,
                   cast(sum(case when stage is null then 1 else 0 end) as bigint) as n_kept
            from st
        """,
        "line_dedup_documents": """
            -- independent replay of line_dedup: split on chr(10) (both
            -- engines keep trailing empty fields), first occurrence =
            -- min (doc_id, pos) per exact line, empty lines exempt
            -- (length >= 1 gate == the engine's min_chars default),
            -- reassembly via order-preserving string_agg; md5 compares
            -- the rebuilt text without shipping it
            with l as (
              -- unnest + generate_subscripts expand in lockstep (DuckDB
              -- has no WITH ORDINALITY)
              select doc_id,
                     unnest(string_split(text, chr(10))) as line,
                     generate_subscripts(string_split(text, chr(10)), 1)
                       as pos
              from documents where text is not null
            ),
            m as (
              select doc_id, pos, line,
                     case when length(line) >= 1 then
                       row_number() over (partition by line
                                          order by doc_id, pos)
                     else cast(1 as bigint) end as rn
              from l
            ),
            r as (
              select doc_id,
                     string_agg(line, chr(10) order by pos) as t,
                     count(*) as n_kept
              from m where rn = 1 group by doc_id
            ),
            c as (select doc_id, count(*) as n_lines from l
                  group by doc_id)
            select cast(c.doc_id as bigint) as doc_id,
                   cast(c.n_lines as bigint) as n_lines,
                   cast(coalesce(r.n_kept, 0) as bigint) as n_kept,
                   md5(coalesce(r.t, '')) as kept_md5
            from c left join r using (doc_id)
        """,
        "contamination_documents": """
            with corpus as (
              select doc_id, NORMEXPR as nt from documents),
            w as (
              select doc_id, string_split(nt, ' ') as ws
              from corpus where nt is not null),
            g as (
              select doc_id,
                     unnest(list_distinct(
                       case when len(ws) >= 8
                            then list_transform(range(1, len(ws) - 6),
                                   i -> array_to_string(
                                          list_slice(ws, i, i + 7), ' '))
                            else [] end)) as gram
              from w),
            b as (select distinct gram from g where doc_id < 10)
            select cast(g.doc_id as bigint) as doc_id,
                   cast(count(distinct g.gram) as bigint) as n_hits
            from g join b using (gram) group by g.doc_id
        """.replace("NORMEXPR", norm_text),
    }
