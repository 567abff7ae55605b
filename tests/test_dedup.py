"""Dedup operators against brute-force Python oracles on constructed
near-duplicate corpora (the oracle the driver can't run in SQL)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fec_cn_support_etl_spark.operators import dedup as D

BASE = (
    "the quick brown fox jumps over the lazy dog while the spark engine "
    "shuffles partitions across the cluster and aggregates the results "
    "into a compact columnar table for later analysis"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact duplicate of 0
        (2, BASE.replace("lazy", "sleepy")),  # near dup of 0
        (3, BASE.replace("quick brown", "slow red").replace("compact", "wide")),  # nearish
        (4, "completely different text about cooking pasta with tomatoes and basil in a large pot"),
        (5, "yet another unrelated document mentioning databases indexes transactions and logs"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _py_shingles(text: str, k: int = 5) -> set:
    if len(text) < k:
        return {text}
    return {text[i : i + k] for i in range(len(text) - k + 1)}


def _py_jaccard(a: str, b: str, k: int = 5) -> float:
    sa, sb = _py_shingles(a, k), _py_shingles(b, k)
    return len(sa & sb) / len(sa | sb)


def test_exact_dedup(spark, docs):
    kept = D.exact_dedup(docs, "text", "doc_id")
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [0, 2, 3, 4, 5]  # doc 1 collapses into 0 (min id wins)


def test_exact_dup_groups(spark, docs):
    groups = {r["canonical_id"]: r["n_copies"] for r in D.exact_dup_groups(docs, "text", "doc_id").collect()}
    assert groups[0] == 2
    assert sum(groups.values()) == 6


def test_minhash_exact_verify_matches_python_jaccard(spark, docs):
    pairs = D.minhash_dedup_pairs(docs, "doc_id", "text", k=5, num_hashes=64, bands=16, threshold=0.5, verify="exact")
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    # exact duplicate and near-dup must be found; their exact Jaccard must match
    assert (0, 1) in got and got[(0, 1)] == pytest.approx(1.0)
    assert (0, 2) in got and got[(0, 2)] == pytest.approx(_py_jaccard(texts[0], texts[2]), abs=1e-9)
    # unrelated docs must not pair
    assert all(not (a in (4, 5) or b in (4, 5)) for a, b in got)


def test_minhash_signature_estimate_close_to_exact(spark, docs):
    est = D.minhash_dedup_pairs(docs, "doc_id", "text", k=5, num_hashes=64, bands=16, threshold=0.5, verify="signature")
    got = {(r["id_a"], r["id_b"]): r["jaccard_est"] for r in est.collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert got[(0, 1)] == pytest.approx(1.0)
    # 64-hash estimate: stderr ~ sqrt(j(1-j)/64) ~ 0.05 -> allow 0.2
    assert got[(0, 2)] == pytest.approx(_py_jaccard(texts[0], texts[2]), abs=0.2)


def test_simhash_near_pairs(spark, docs):
    sims = D.simhash(docs, "doc_id", "text")
    by_id = {r["id"]: r["simhash"] for r in sims.collect()}
    assert by_id[0] == by_id[1]  # identical text -> identical simhash
    pairs = D.simhash_near_pairs(sims, max_hamming=12, chunks=4)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got[(0, 1)] == 0
    assert (0, 2) in got  # one-word change stays within hamming 12
    # verify hamming against python popcount
    import collections

    for (a, b), h in got.items():
        assert bin((by_id[a] ^ by_id[b]) & ((1 << 64) - 1)).count("1") == h
    _ = collections


def test_generated_corpus_planted_recall(spark):
    """corpus.gen_documents plants ground-truth near-dup pairs; the
    end-to-end minhash pipeline (same stages as the catalog query and
    bench_sketch.py) must recover them all at 2k docs, find only
    high-Jaccard pairs, and any extras must share a planted parent
    (sibling dups are genuinely near-dups of each other)."""
    from fec_cn_support_etl_spark.corpus import gen_documents, planted_pairs

    corpus = gen_documents(spark, 2000).persist()
    sh = D.char_shingles(corpus, "doc_id", "text", k=5)
    sig = D.minhash_signatures(sh, 48).persist()
    cand = D.minhash_lsh_pairs(sig, bands=16)
    pruned = D.signature_verify(cand, sig, threshold=0.45).select("id_a", "id_b")
    pairs = D.jaccard_verify(pruned, sh, threshold_frac=(4, 5)).persist()

    planted = planted_pairs(corpus)
    n_planted = planted.count()
    assert n_planted == 200  # dup_fraction 0.1
    recalled = pairs.join(planted, ["id_a", "id_b"], "left_semi").count()
    assert recalled == n_planted, f"missed {n_planted - recalled} planted pairs"
    assert pairs.filter(F.col("jaccard") < 0.8).count() == 0
    # extras are sibling dups: both ids resolve to the same parent
    parent_of = corpus.select(
        "doc_id", F.coalesce("parent_id", "doc_id").alias("root")
    )
    extras = pairs.join(planted, ["id_a", "id_b"], "left_anti")
    bad = (
        extras.join(parent_of.withColumnRenamed("doc_id", "id_a").withColumnRenamed("root", "ra"), "id_a")
        .join(parent_of.withColumnRenamed("doc_id", "id_b").withColumnRenamed("root", "rb"), "id_b")
        .filter(F.col("ra") != F.col("rb"))
        .count()
    )
    assert bad == 0
    spark.catalog.clearCache()


def test_connected_components_shapes(spark):
    """Chain, triangle-ish, pair, and a longer path all resolve to
    min-id components; singleton-free (only ids appearing in pairs)."""
    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (5, 6)] + [(i, i + 1) for i in range(30, 38)]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["id"]: r["component"] for r in D.connected_components(pairs).collect()}
    want = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 5: 5, 6: 5}
    want.update({i: 30 for i in range(30, 39)})  # 9-node path needs multiple rounds
    assert got == want


def test_neardup_clusters_on_generated_corpus(spark):
    """End-to-end dedup: pair finding + clustering on the planted
    corpus. Every doc's cluster is its planted root, and each cluster
    has exactly one canonical survivor."""
    from fec_cn_support_etl_spark.corpus import gen_documents

    corpus = gen_documents(spark, 1000).persist()
    sh = D.char_shingles(corpus, "doc_id", "text", k=5)
    sig = D.minhash_signatures(sh, 48).persist()
    cand = D.minhash_lsh_pairs(sig, bands=16)
    pruned = D.signature_verify(cand, sig, threshold=0.45).select("id_a", "id_b")
    pairs = D.jaccard_verify(pruned, sh, threshold_frac=(4, 5)).select("id_a", "id_b")
    clusters = D.neardup_clusters(pairs).persist()

    joined = clusters.join(corpus, "doc_id").withColumn(
        "root", F.coalesce("parent_id", "doc_id")
    )
    assert joined.filter(F.col("cluster_id") != F.col("root")).count() == 0
    per_cluster = clusters.groupBy("cluster_id").agg(
        F.sum(F.col("is_canonical").cast("int")).alias("n_canon")
    )
    assert per_cluster.filter(F.col("n_canon") != 1).count() == 0
    spark.catalog.clearCache()


def test_ngram_jaccard_pairs(spark, docs):
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.9)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 1) in got
    assert all(not (a in (4, 5) or b in (4, 5)) for a, b in got)


def test_minhash_auto_verify_volume_fallback(spark):
    """verify='auto' guards the exact-Jaccard stage: oversized docs x
    many candidates exceed the byte budget -> signature estimate with
    a disclosed warning (output column jaccard_est); under the budget
    -> exact path, byte-identical to verify='exact'."""
    import warnings

    # 40 documents of ~3000 distinct shingles each, all near-dups of one
    # another => LSH yields O(40^2) candidates; exact verify volume
    # ~ 780 pairs * 2 * 3000 * 8B ~ 37 MB
    base = " ".join(f"tok{i:04d}" for i in range(400))
    rows = [(i, base + f" tail{i}") for i in range(40)]
    big = spark.createDataFrame(rows, ["doc_id", "text"])

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        fb = D.minhash_dedup_pairs(
            big, "doc_id", "text", num_hashes=32, bands=16, threshold=0.5,
            verify="auto", max_exact_bytes=1_000_000,
        )
        assert any("falling back to signature_verify" in str(w.message) for w in caught)
    assert "jaccard_est" in fb.columns  # the estimate path, visible in the schema
    assert fb.count() > 0

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        auto = D.minhash_dedup_pairs(
            big, "doc_id", "text", num_hashes=32, bands=16, threshold=0.5,
            verify="auto", max_exact_bytes=10_000_000_000,
        )
        assert not any("falling back" in str(w.message) for w in caught)
    assert "jaccard" in auto.columns
    exact = D.minhash_dedup_pairs(
        big, "doc_id", "text", num_hashes=32, bands=16, threshold=0.5, verify="exact"
    )
    key = lambda df: sorted((r["id_a"], r["id_b"], round(r["jaccard"], 12)) for r in df.collect())
    assert key(auto) == key(exact)


def test_catalog_sweep_releases_sketch_caches(spark):
    """Two consecutive catalog sweeps must not accumulate cache blocks:
    building the NEXT query releases the previous query's registered
    sketch caches (operators/caching.py) — no reliance on the caller
    calling spark.catalog.clearCache().

    The assertion is DELTA-based against the shared session's context:
    earlier tests may leave localCheckpoint RDDs whose async
    ContextCleaner removal hasn't fired yet (they are persisted entries
    until the JVM weak refs clear), so an absolute ==0 check is racy.
    What this test owns is that the SWEEP adds nothing durable.
    """
    import gc
    import time

    from fec_cn_support_etl_spark.plans import catalog

    sf = "/root/testdata/sf0.001"
    jsc = spark.sparkContext._jsc.sc()

    def rdd_ids():
        m = jsc.getPersistentRDDs()
        it = m.keysIterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        return ids

    before = rdd_ids()
    for _ in range(2):
        catalog.QUERIES["minhash_neardup_pairs"](spark, sf).count()
        assert len(rdd_ids() - before) > 0  # the query did cache
        catalog.QUERIES["simhash_neardup_pairs"](spark, sf).count()
        # at most ONE query's caches alive at any point in the sweep
        catalog.QUERIES["dedup_exact_groups"](spark, sf).count()
    catalog.QUERIES["q1_pricing_summary"](spark, sf)  # plain query construction also releases
    for _ in range(10):  # absorb async ContextCleaner latency
        leaked = rdd_ids() - before
        if not leaked:
            break
        gc.collect()
        time.sleep(1)
    assert not leaked, f"sketch caches leaked across queries: rdd ids {leaked}"


def test_pruned_pairs_equivalence(spark):
    """Round-7 fused prune (bit-plane prefilter + exact agreement,
    pre-distinct) emits exactly the pair set of the unfused
    distinct -> signature_verify pipeline, for both band geometries."""
    from fec_cn_support_etl_spark.operators.dedup import (
        char_shingles,
        minhash_lsh_pairs,
        minhash_lsh_pruned_pairs,
        minhash_signatures,
        signature_verify,
    )
    from fec_cn_support_etl_spark.sources.tpch import load_table

    d = load_table(spark, "/root/testdata/sf0.01", "documents")
    sig = minhash_signatures(char_shingles(d, "doc_id", "text", 5), 48).persist()
    try:
        for bands in (16, 8):
            old = signature_verify(minhash_lsh_pairs(sig, bands), sig, 0.45).select(
                "id_a", "id_b"
            )
            new = minhash_lsh_pruned_pairs(sig, bands, 48, 0.45)
            assert old.exceptAll(new).count() == 0
            assert new.exceptAll(old).count() == 0
            assert new.count() > 0  # non-vacuous
    finally:
        sig.unpersist()


def test_verify_sets_equivalence(spark):
    """Round-7 array-form verify (char_shingle_sets + jaccard_verify_sets)
    reproduces jaccard_verify's output bit-for-bit: same surviving pairs
    AND same jaccard values, via both threshold forms."""
    from fec_cn_support_etl_spark.operators.dedup import (
        char_shingle_sets,
        char_shingles,
        explode_shingle_sets,
        jaccard_verify,
        jaccard_verify_sets,
        minhash_lsh_pruned_pairs,
        minhash_signatures,
    )
    from fec_cn_support_etl_spark.sources.tpch import load_table

    d = load_table(spark, "/root/testdata/sf0.01", "documents")
    sets = char_shingle_sets(d, "doc_id", "text", 5).persist()
    try:
        sh = char_shingles(d, "doc_id", "text", 5)
        # exploded view over the arrays is row-identical to char_shingles
        ex = explode_shingle_sets(sets)
        assert sh.exceptAll(ex).count() == 0
        assert ex.exceptAll(sh).count() == 0
        sig = minhash_signatures(ex, 48)
        pairs = minhash_lsh_pruned_pairs(sig, 16, 48, 0.45).persist()
        for kw in ({"threshold_frac": (4, 5)}, {"threshold": 0.8}):
            old = jaccard_verify(pairs, sh, **kw)
            new = jaccard_verify_sets(pairs, sets, **kw)
            assert old.exceptAll(new).count() == 0
            assert new.exceptAll(old).count() == 0
            assert new.count() > 0  # non-vacuous
        pairs.unpersist()
    finally:
        sets.unpersist()


def test_sym_probe_equivalence(spark):
    """Round-7 symmetric 4x16-bit probe emits exactly the candidate set
    of the 6-chunk radius-1 asymmetric probe under the same
    max_hamming=11 filter (both geometries cover Hamming<=11 with
    certainty, so both equal the full within-bound pair set)."""
    from fec_cn_support_etl_spark.operators.dedup import (
        char_shingles,
        simhash_candidates_probe,
        simhash_candidates_sym,
        simhash_from_hashes,
    )
    from fec_cn_support_etl_spark.sources.tpch import load_table

    d = load_table(spark, "/root/testdata/sf0.01", "documents")
    sims = simhash_from_hashes(
        char_shingles(d, "doc_id", "text", 5).withColumnRenamed("sh", "th")
    ).persist()
    try:
        old = simhash_candidates_probe(sims, 6, max_hamming=11).select("id_a", "id_b")
        new = simhash_candidates_sym(sims, 4, max_hamming=11)
        assert old.exceptAll(new).count() == 0
        assert new.exceptAll(old).count() == 0
        assert new.count() > 0  # non-vacuous
    finally:
        sims.unpersist()


def test_sym_probe_rejects_hamming_past_certainty_bound(spark):
    """Past 3*chunks - 1 the sym probe would silently miss pairs."""
    sims = spark.createDataFrame([(1, 0), (2, 1)], "id long, simhash long")
    with pytest.raises(AssertionError):
        D.simhash_candidates_sym(sims, chunks=4, max_hamming=12)


def test_cc_small_path_equivalence(spark):
    """Round-7 driver union-find fast path produces the identical
    (id, component) fixpoint as the distributed min-label loop."""
    from fec_cn_support_etl_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23), (5, 99), (4, 99)],
        ["id_a", "id_b"],
    )
    small = connected_components(pairs, small_edge_limit=1_000_000)
    big = connected_components(pairs, small_edge_limit=0)
    assert small.exceptAll(big).count() == 0
    assert big.exceptAll(small).count() == 0
    got = {(r["id"], r["component"]) for r in small.collect()}
    assert (23, 20) in got and (99, 4) in got and (3, 1) in got
