"""Training-data pipeline operators: dedup (exact/minhash/simhash/ngram/
embedding), similarity search (brute force vs LSH vs IVF recall), text
analysis."""

import pytest
from pyspark.sql import functions as F

from sparkschema.operators import dedup, similarity, text

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


# ---------------------------------------------------------------- dedup

def test_exact_duplicate_groups(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "unique doc"),
         (4, "HELLO WORLD "), (5, "another one")],
        "doc_id long, text string")
    groups = dedup.exact_duplicate_groups(df, "text", "doc_id").collect()
    assert len(groups) == 1 and sorted(groups[0].ids) == [1, 2, 4]
    kept = dedup.exact_dedup(df, "text", "doc_id")
    assert sorted(r.doc_id for r in kept.collect()) == [1, 3, 5]


def test_minhash_lsh_finds_planted_near_dups(spark, documents):
    # plant near-duplicates: copy 5 docs with a one-token edit
    base = documents.limit(5).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"))
    df = documents.select("doc_id", "text").unionByName(base)
    pairs = dedup.minhash_lsh_pairs(df, "text", "doc_id", num_hashes=48,
                                    bands=12, jaccard_min=0.6)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    planted = {(i, i + 100000) for i in range(5)}
    assert planted <= got
    # verified jaccard really is high for planted pairs
    assert all(r.jaccard > 0.6 for r in pairs.collect())


def test_minhash_numpy_kernel_identical_pairs(spark, documents):
    """The Arrow-batched numpy signature kernel (opt-in) must produce the
    same exact-verified pair set as the pure-expression path — different
    hash family, same candidate recall on the corpus, identical output
    after the exact-Jaccard verify stage."""
    base = documents.limit(5).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"))
    df = documents.select("doc_id", "text").unionByName(base)
    kw = dict(num_hashes=48, bands=12, jaccard_min=0.6)
    p_expr = sorted((r.id_a, r.id_b, round(r.jaccard, 9)) for r in
                    dedup.minhash_lsh_pairs(df, "text", "doc_id", **kw).collect())
    p_np = sorted((r.id_a, r.id_b, round(r.jaccard, 9)) for r in
                  dedup.minhash_lsh_pairs(df, "text", "doc_id",
                                          signature_impl="numpy", **kw).collect())
    assert p_expr == p_np and len(p_expr) >= 5


def test_minhash_numpy_kernel_unicode_and_short(spark):
    """Kernel shingle universe matches char_shingles: codepoint k-grams,
    whole-string fallback below k, NULL passthrough."""
    df = spark.createDataFrame(
        [(1, "héllo wörld héllo wörld"), (2, "héllo wörld héllo wörld!"),
         (3, "ab"), (4, "ab"), (5, None)],
        "doc_id long, text string")
    sigs = {r.id: r.sig for r in
            dedup.minhash_signatures(df, "text", "doc_id",
                                     num_hashes=16, impl="numpy").collect()}
    assert sigs[5] is None
    assert sigs[3] == sigs[4]                   # identical short docs
    same = sum(a == b for a, b in zip(sigs[1], sigs[2]))
    assert same >= 10                           # near-dups share most minima


def test_minhash_dedup_removes_planted(spark, documents):
    base = documents.limit(3).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.col("text"))
    df = documents.select("doc_id", "text").unionByName(base)
    kept = dedup.minhash_dedup(df, "text", "doc_id", num_hashes=48, bands=12,
                               jaccard_min=0.8)
    kept_ids = {r.doc_id for r in kept.collect()}
    assert not any(i + 100000 in kept_ids and i in kept_ids for i in range(3))


def test_simhash_candidates(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy cat"),
         (3, "completely different words entirely unrelated text")],
        "doc_id long, text string")
    for impl in ("expr", "numpy"):
        cand = {(r.id_a, r.id_b): r.hamming
                for r in dedup.simhash_candidates(df, "text", "doc_id",
                                                  impl=impl).collect()}
        assert (1, 2) in cand and cand[(1, 2)] <= 12, impl
        assert (1, 3) not in cand, impl  # unrelated text exceeds hamming_max


def test_simhash_numpy_kernel_separates_and_is_deterministic(spark):
    import random
    rng = random.Random(11)
    alphabet = "abcdefghijklmnopqrstuvwxyz "
    rows = [(i, "".join(rng.choice(alphabet) for _ in range(200)))
            for i in range(20)]
    rows += [(100 + i, rows[i][1] + "!") for i in range(5)]  # near-dups
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r.id: r.simhash for r in
         dedup.simhash_frame(df, "text", "doc_id", impl="numpy").collect()}
    b = {r.id: r.simhash for r in
         dedup.simhash_frame(df, "text", "doc_id", impl="numpy").collect()}
    assert a == b  # seeded, deterministic across runs
    ham = lambda x, y: bin((x ^ y) & ((1 << 64) - 1)).count("1")  # noqa: E731
    for i in range(5):
        assert ham(a[i], a[100 + i]) <= 12, i        # planted near-dup
    far = [ham(a[i], a[j]) for i in range(8) for j in range(i + 1, 8)]
    assert min(far) >= 16, far  # unrelated random docs stay apart


def test_ngram_jaccard_expression(spark):
    df = spark.createDataFrame([("abcdef", "abcdeX"), ("abc", "xyz")], "a string, b string")
    got = df.select(dedup.ngram_jaccard(F.col("a"), F.col("b"), 3).alias("j")).collect()
    assert got[0].j > 0.3 and got[1].j == 0.0


def test_embedding_near_duplicates(spark, embeddings):
    # plant exact vector copies — cosine 1.0 must survive LSH bucketing
    copies = embeddings.limit(4).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label")
    df = embeddings.unionByName(copies)
    pairs = dedup.embedding_near_duplicates(df, "embedding", "vec_id",
                                            threshold=0.999)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert {(i, i + 100000) for i in range(4)} <= got


# ------------------------------------------------------------ similarity

def test_ann_recall_vs_bruteforce(spark, embeddings):
    queries = embeddings.where(F.col("vec_id") < 8)
    exact = similarity.cosine_topk_bruteforce(
        queries, embeddings, "vec_id", "embedding", "vec_id", "embedding", k=10)
    truth = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    assert len(truth) == 8 * 10
    # self is always rank 1 with cosine ~1
    r1 = {r.query_id: (r.neighbor_id, r.cosine)
          for r in exact.where("rank = 1").collect()}
    assert all(nid == qid and c > 0.999 for qid, (nid, c) in r1.items())

    # random embeddings are LSH-adversarial (neighbor cosines are low) —
    # few planes + many tables is the right operating point here
    approx = similarity.ann_lsh_topk(
        queries, embeddings, "vec_id", "embedding", "vec_id", "embedding",
        k=10, planes=4, tables=8)
    got = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(got & truth) / len(truth)
    assert recall >= 0.5, recall
    # the true self-match always collides (cosine 1.0 ⇒ same signature)
    self_hits = {r.query_id for r in approx.where("rank = 1").collect()
                 if r.query_id == r.neighbor_id}
    assert len(self_hits) == 8

    ivf = similarity.ivf_topk(
        queries, embeddings, "vec_id", "embedding", "vec_id", "embedding",
        k=10, cells=8, nprobe=4)
    got_ivf = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    recall_ivf = len(got_ivf & truth) / len(truth)
    assert recall_ivf >= 0.5, recall_ivf


# ------------------------------------------------------------------ text

def test_token_counts(spark):
    df = spark.createDataFrame([("Hello, world! 123",), ("",)], "t string")
    got = df.select(text.token_count(F.col("t")).alias("n"),
                    text.whitespace_token_count(F.col("t")).alias("w")).collect()
    assert got[0].n == 5  # Hello , world ! 123
    assert got[0].w == 3
    assert got[1].n == 0 and got[1].w == 0


def test_lang_id(spark):
    df = spark.createDataFrame(
        [("the cat and the dog went to the park",),
         ("el perro y el gato en la casa de los abuelos",),
         ("der hund und die katze sind nicht hier",),
         ("xyzzy plugh",)],
        "t string")
    got = [r.lang for r in df.select(text.lang_id(F.col("t")).alias("lang")).collect()]
    assert got == ["en", "es", "de", "und"]


def test_quality_score_ordering(spark):
    df = spark.createDataFrame(
        [("good", "The quick brown fox jumps over the lazy dog and it is a fine day."),
         ("junk", "!!!! ???? @@@@ #### 1234567890 %%%%"),
         ("empty", "")],
        "kind string, t string")
    got = {r.kind: r.q for r in
           df.select("kind", text.quality_score(F.col("t")).alias("q")).collect()}
    assert got["good"] > 0.7 > got["junk"] > got["empty"] >= 0.0


def test_cache_scope_releases_operator_caches(spark, documents):
    """VERDICT r3 #3: operator-internal persist() must be releasable — two
    sequential minhash_lsh_pairs runs leave zero cached RDDs after
    cleanup (explicit CacheScope and the default-scope sweep both).

    Tracked by RDD *id set*, not count: CacheScope.__exit__ unpersists
    non-blocking, and Spark's GC-driven ContextCleaner can drop an
    unrelated earlier cache entry mid-test — both broke an exact-count
    baseline comparison (full-suite flake, r5)."""
    import time

    from sparkschema.operators.caching import (CacheScope,
                                               release_default_cache)

    def persistent_ids() -> set:
        it = spark.sparkContext._jsc.getPersistentRDDs().keySet().iterator()
        out = set()
        while it.hasNext():
            out.add(it.next())
        return out

    def wait_released(created: set) -> set:
        for _ in range(60):              # async unpersist: bounded wait
            left = persistent_ids() & created
            if not left:
                return left
            time.sleep(0.25)
        return persistent_ids() & created

    release_default_cache(blocking=True)  # start clean
    base = persistent_ids()
    df = documents.limit(50).select("doc_id", "text")

    with CacheScope() as scope:
        pairs = dedup.minhash_lsh_pairs(df, "text", "doc_id", num_hashes=16,
                                        bands=4, scope=scope)
        pairs.count()  # consume inside the scope
        created = persistent_ids() - base
        assert created                 # the signature caches exist...
    assert wait_released(created) == set()   # ...and exit released them

    # default scope: two invocations accumulate, one sweep clears
    dedup.minhash_lsh_pairs(df, "text", "doc_id", num_hashes=16,
                            bands=4).count()
    dedup.minhash_lsh_pairs(df, "text", "doc_id", num_hashes=16,
                            bands=4).count()
    created = persistent_ids() - base
    assert created
    release_default_cache(blocking=True)
    assert wait_released(created) == set()


def test_ngram_repetition(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat"),              # 4 distinct 3-grams
         (2, "buy now buy now buy now buy now"),     # heavy repetition
         (3, "one two"),                             # too short: NULL
         (4, ""),                                    # empty: NULL
         (5, None)],                                 # NULL text: all NULL
        "doc_id long, text string")
    got = {r.doc_id: (r.n, r.rep) for r in df.select(
        "doc_id",
        F.size(text.word_ngrams(F.col("text"), 3)).alias("n"),
        text.ngram_repetition(F.col("text"), 3).alias("rep")).collect()}
    assert got[1] == (4, 0.0)
    # "buy now" x4: 6 3-grams, only 2 distinct -> 4/6 duplicated
    assert got[2][0] == 6 and abs(got[2][1] - 4 / 6) < 1e-12
    assert got[3] == (0, None) and got[4] == (0, None)
    # NULL text propagates NULL (review find r4: the unguarded HOF
    # produced two phantom ['', ''] grams and rep=0.5)
    assert got[5] == (None, None)


def test_quality_score_null_text_is_null(spark):
    """Review find r4: NULL text scored 0.56 (full stopword credit via
    least() skipping NULLs) — a nonexistent doc outranked real low-quality
    text in corpus filters."""
    df = spark.createDataFrame([(1, None), (2, "x"), (3, "the cat and the "
                                "dog went to the market in the morning")],
                               "doc_id long, text string")
    got = {r.doc_id: r.q for r in df.select(
        "doc_id", text.quality_score(F.col("text")).alias("q")).collect()}
    assert got[1] is None
    assert got[2] is not None and got[3] > got[2]


def test_null_text_dedup_semantics(spark):
    """Review find r4: NULL texts are not duplicates — exact_dedup kept
    one NULL row and dropped the rest; the expression SimHash gave every
    NULL doc signature 0, pairing them all."""
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same  TEXT"), (3, None), (4, None),
         (5, None), (6, "unique")], "doc_id long, text string")
    kept = sorted(r.doc_id for r in
                  dedup.exact_dedup(df, "text", "doc_id").collect())
    assert kept == [1, 3, 4, 5, 6]
    groups = dedup.exact_duplicate_groups(df, "text", "doc_id").collect()
    assert len(groups) == 1 and sorted(groups[0].ids) == [1, 2]

    sigs = {r.id: r.simhash for r in
            dedup.simhash_frame(df, "text", "doc_id").collect()}
    assert sigs[3] is None and sigs[4] is None
    pairs = {(r.id_a, r.id_b) for r in
             dedup.simhash_candidates(df, "text", "doc_id").collect()}
    assert all(a not in (3, 4, 5) and b not in (3, 4, 5) for a, b in pairs)


def test_hamming_pairs_bucket_cap(spark):
    """Opt-in max_bucket drops degenerate shared-signature buckets (the
    O(N^2) blow-up guard, same shape as the minhash cap)."""
    rows = [(i, 0) for i in range(50)]          # 50 identical signatures
    # real near pair sharing chunk 1 (value 5) — their other chunks are 0
    # and land in the degenerate buckets the cap removes
    rows += [(100, (5 << 8) | 7), (101, (5 << 8) | 6)]
    sigs = spark.createDataFrame(rows, "id long, sh long")
    capped = dedup.hamming_pairs(sigs, "sh", "id", chunks=8, hamming_max=2,
                                 max_bucket=10)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert got == {(100, 101)}
    uncapped = dedup.hamming_pairs(sigs, "sh", "id", chunks=8, hamming_max=2)
    assert uncapped.count() == 50 * 49 // 2 + 1


def test_exact_duplicate_groups_caps_ids(spark):
    """max_ids caps the diagnostic id sample BEFORE aggregation (the
    row_number filter, not a post-agg slice) while group_size/min_id/
    max_id stay exact — a billion-member group can't blow a task
    (VERDICT r4 #3)."""
    df = spark.createDataFrame(
        [(i, "same text") for i in range(20)] + [(99, "unique")],
        "doc_id long, text string")
    g = dedup.exact_duplicate_groups(df, "text", "doc_id", max_ids=5).collect()
    assert len(g) == 1
    assert g[0].group_size == 20 and g[0].min_id == 0 and g[0].max_id == 19
    assert g[0].ids == [0, 1, 2, 3, 4]  # first max_ids in sort order


# ------------------------------------------------- connected components

def _pairs(spark, rows):
    return spark.createDataFrame(rows, "id_a long, id_b long")


def test_components_chain_resolves_transitively(spark):
    # a-b-c-d chain: single-link "drop id_b of every pair" would drop
    # b, c AND d; components keep exactly one canonical representative
    comps = dedup.near_dup_components(
        _pairs(spark, [(1, 2), (2, 3), (3, 4)]))
    got = {r.id: r.component for r in comps.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_components_multiple_clusters_and_orientation(spark):
    # reversed / duplicated edges and two separate clusters
    comps = dedup.near_dup_components(
        _pairs(spark, [(5, 2), (2, 5), (2, 9), (30, 10), (30, 20)]))
    got = {r.id: r.component for r in comps.collect()}
    assert got == {2: 2, 5: 2, 9: 2, 10: 10, 20: 10, 30: 10}


def test_components_long_path_needs_iterations(spark, monkeypatch):
    # a 12-node path graph exercises true multi-round propagation; a
    # zero byte budget forces the distributed loop (the default budget
    # resolves graphs this small with the driver-side union-find)
    edges = [(i, i + 1) for i in range(100, 112)]
    for budget in (0, dedup._UNION_FIND_MAX_BYTES):
        monkeypatch.setattr(dedup, "_UNION_FIND_MAX_BYTES", budget)
        comps = dedup.near_dup_components(_pairs(spark, edges))
        rows = comps.collect()
        assert len(rows) == 13
        assert {r.component for r in rows} == {100}


def test_components_loop_and_union_find_agree(spark, monkeypatch):
    # the two implementations must produce identical (id, component)
    # sets on a graph mixing chains, stars and singleton-free islands
    edges = ([(i, i + 1) for i in range(200, 206)]
             + [(500, k) for k in (501, 502, 503)]
             + [(900, 901)])
    b = sorted(map(tuple, dedup.near_dup_components(
        _pairs(spark, edges)).collect()))
    monkeypatch.setattr(dedup, "_UNION_FIND_MAX_BYTES", 0)
    a = sorted(map(tuple, dedup.near_dup_components(
        _pairs(spark, edges)).collect()))
    assert a == b


def test_components_empty_and_nonconvergence_guard(spark, monkeypatch):
    assert dedup.near_dup_components(
        _pairs(spark, [])).collect() == []
    monkeypatch.setattr(dedup, "_UNION_FIND_MAX_BYTES", 0)
    with pytest.raises(ValueError, match="did not converge"):
        dedup.near_dup_components(
            _pairs(spark, [(i, i + 1) for i in range(30)]), max_iter=2)


def test_components_union_find_gate_counts_id_bytes(spark, monkeypatch):
    # the driver-side union-find is gated on estimated collected BYTES:
    # the same 4-node-path clusters stay on the driver with integer ids
    # (80 B per directed edge) and take the distributed loop with
    # 200-character string ids (464 B per edge, ~25 MB > 16 MiB)
    calls = []
    real = dedup._union_find_components

    def spy(edges):
        calls.append(len(edges))
        return real(edges)

    monkeypatch.setattr(dedup, "_union_find_components", spy)
    n = 4 * 9_000
    base = spark.range(n).where(F.col("id") % 4 != 3).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    ints = {(r.id, r.component) for r in
            dedup.near_dup_components(base).collect()}
    assert calls == [2 * 3 * 9_000]

    def pad(c):  # zero padding keeps string order == numeric order
        return F.lpad(F.col(c).cast("string"), 200, "0")

    strs = dedup.near_dup_components(
        base.select(pad("id_a").alias("id_a"), pad("id_b").alias("id_b")))
    got = {(int(r.id), int(r.component)) for r in strs.collect()}
    assert calls == [2 * 3 * 9_000]  # the loop ran, not the union-find
    assert got == ints and len(ints) == n


def test_near_dup_dedup_keeps_one_per_cluster(spark):
    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 4, 7, 9)],
        "doc_id long, text string")
    # cluster {1,2,3} via chain, cluster {4,9}; 7 is a singleton
    kept = dedup.near_dup_dedup(
        df, _pairs(spark, [(1, 2), (2, 3), (9, 4)]), "doc_id")
    assert sorted(r.doc_id for r in kept.collect()) == [1, 4, 7]


def test_line_dedup_first_occurrence_and_exemption(spark):
    df = spark.createDataFrame(
        [(1, "HEADER\nbody one\n\nFOOTER\n"),
         (2, "HEADER\nbody two\n\nFOOTER"),
         (3, "HEADER\nFOOTER"),      # every line is a dup -> '' survives?
         (4, None),                  # NULL text: omitted from the report
         (5, "")],                   # one empty (exempt) line
        "doc_id long, text string")
    rows = {r.doc_id: r for r in
            dedup.line_dedup(df, "text", "doc_id").collect()}
    assert set(rows) == {1, 2, 3, 5}
    # doc 1 saw every line first: unchanged text, trailing newline makes
    # a 5th (empty, exempt) line
    assert rows[1].text == "HEADER\nbody one\n\nFOOTER\n"
    assert (rows[1].n_lines, rows[1].n_kept) == (5, 5)
    # doc 2 keeps its unique body and its own (exempt) blank line
    assert rows[2].text == "body two\n"
    assert (rows[2].n_lines, rows[2].n_kept) == (4, 2)
    # doc 3 loses everything
    assert rows[3].text == ""
    assert (rows[3].n_lines, rows[3].n_kept) == (2, 0)
    assert rows[5].text == ""
    assert (rows[5].n_lines, rows[5].n_kept) == (1, 1)


def test_line_dedup_intra_document_and_min_chars(spark):
    df = spark.createDataFrame(
        [(1, "dup\ndup\nab\nunique"),
         (2, "ab\ndup")],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in
            dedup.line_dedup(df, "text", "doc_id", min_chars=3).collect()}
    # intra-doc repeat collapses to the first occurrence; 2-char 'ab'
    # is exempt at min_chars=3 and survives in BOTH docs
    assert rows[1].text == "dup\nab\nunique"
    assert rows[2].text == "ab"
    assert (rows[2].n_lines, rows[2].n_kept) == (2, 1)


def test_minhash_verify_kernels_agree(spark, monkeypatch):
    """r6: the injectivity-certified hashed-shingle verify and the
    shingle-broadcast join must emit exactly the same (id_a, id_b,
    jaccard) rows as the plain string-array shuffled verify."""
    import sparkschema.operators.dedup as dd

    docs = [(i, f"the quick brown fox jumps over dog number {i % 7} "
                f"with padding text {'x' * (i % 3)}") for i in range(60)]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def run():
        out = sorted(map(tuple, dd.minhash_lsh_pairs(
            df, "text", "doc_id", num_hashes=24, bands=6,
            jaccard_min=0.5, signature_impl="expr").collect()))
        dd_release = __import__(
            "sparkschema.operators.caching",
            fromlist=["release_default_cache"]).release_default_cache
        dd_release()
        return out

    base = run()                                   # strings, broadcast
    monkeypatch.setattr(dd, "_HASH_VERIFY_MIN_PAIRS", 0)
    hashed = run()                                 # hashed, broadcast
    monkeypatch.setattr(dd, "_SHINGLE_BROADCAST_MAX_BYTES", 0)
    hashed_shuffled = run()                        # hashed, shuffled
    monkeypatch.setattr(dd, "_HASH_VERIFY_MIN_PAIRS", 10**18)
    strings_shuffled = run()                       # strings, shuffled
    assert base, "corpus must produce pairs for the test to bite"
    assert base == hashed == hashed_shuffled == strings_shuffled


def _broadcast_subtrees(plan: str) -> list[str]:
    """The text of every BroadcastExchange subtree in a plan string."""
    lines = plan.splitlines()

    def col(line):
        return len(line) - len(line.lstrip(" :+-"))

    out = []
    for i, line in enumerate(lines):
        if "BroadcastExchange" in line:
            sub = [line]
            for nxt in lines[i + 1:]:
                if col(nxt) <= col(line):
                    break
                sub.append(nxt)
            out.append("\n".join(sub))
    return out


def test_minhash_shingle_broadcast_gate_counts_bytes(spark, monkeypatch):
    """The exact-verify join broadcasts the shingle table only while its
    estimated bytes (shingle elements x element width) fit
    _SHINGLE_BROADCAST_MAX_BYTES; below that budget the shingle side is
    shuffled and the pairs are unchanged."""
    import sparkschema.operators.dedup as dd
    from sparkschema.operators.caching import CacheScope

    docs = [(i, f"the quick brown fox jumps over dog number {i % 7} "
                f"with padding text {'x' * (i % 3)}") for i in range(60)]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def run():
        with CacheScope() as scope:
            pairs = dd.minhash_lsh_pairs(
                df, "text", "doc_id", num_hashes=24, bands=6,
                jaccard_min=0.5, signature_impl="expr", scope=scope)
            plan = pairs._jdf.queryExecution().executedPlan().toString()
            shingle_bc = [s for s in _broadcast_subtrees(plan)
                          if "sh_a" in s or "sh_b" in s]
            return sorted(map(tuple, pairs.collect())), shingle_bc

    # only the operator's own hints may broadcast
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        broadcast, bc_sides = run()
        monkeypatch.setattr(dd, "_SHINGLE_BROADCAST_MAX_BYTES", 0)
        shuffled, sh_sides = run()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert broadcast and len(bc_sides) == 2, bc_sides
    assert sh_sides == [], sh_sides
    assert shuffled == broadcast
