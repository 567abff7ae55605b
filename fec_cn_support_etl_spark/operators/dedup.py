"""Deduplication operators for large-scale training-data pipelines.

All hot-path computation is JVM-side (``pyspark.sql.functions`` only:
substr/transform/xxhash64/explode/groupBy/self-join) so it survives
whole-stage codegen and scales by partitioning — no Python per row.

Operators:
- exact_dedup / exact_dup_groups: hash-groupBy exact dedup.
- char_shingles: distinct k-char shingles per doc (explode).
- minhash_signatures: k-permutation MinHash via min(xxhash64(seed, sh)).
- minhash_lsh_pairs: banded LSH candidate pairs + exact Jaccard verify.
- simhash: 64-bit SimHash from token hashes; near-dup pairs by
  banded chunks + popcount Hamming verify.
- ngram_jaccard_pairs: exact n-gram Jaccard similarity join (small/
  verify path).

Scale design (100 TB corpus): the shingle explode multiplies rows by
~doc_len, so shingles are hashed to 8 bytes immediately (never carry
strings through the shuffle); LSH self-join joins on (band_idx,
band_hash) — a uniformly distributed key, so no skew; verify runs only
on candidate pairs (tiny vs corpus). Signatures are O(k) ints per doc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .windows import top1_per_group


# ---------------------------------------------------------------- exact

def exact_dup_groups(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Groups of exact duplicates: (digest, n_copies, canonical_id)."""
    return (
        df.select(F.sha2(F.col(content_col), 256).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.count("*").alias("n_copies"), F.min(id_col).alias("canonical_id"))
    )


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep one row per distinct content (lowest id wins — total order)."""
    return top1_per_group(
        df.withColumn("__digest", F.sha2(F.col(content_col), 256)),
        keys=["__digest"],
        order=[F.asc(id_col)],
    ).drop("__digest")


# ------------------------------------------------------------- shingles

def char_shingles(df: DataFrame, id_col: str, text_col: str, k: int = 5) -> DataFrame:
    """(id, shingle_hash) — distinct k-char shingles, pre-hashed to int64.

    Shingling via substr over a sequence of offsets, all JVM-side;
    strings shorter than k contribute their whole text as one shingle.
    """
    shingle_arr = (
        f"array_distinct(transform(sequence(1, greatest(length({text_col}) - {k - 1}, 1)), "
        f"i -> xxhash64(substr({text_col}, i, {k}))))"
    )
    return df.select(F.col(id_col).alias("id"), F.expr(f"explode({shingle_arr}) AS sh"))


def char_shingle_sets(df: DataFrame, id_col: str, text_col: str, k: int = 5) -> DataFrame:
    """(id, ss: array<bigint>, n) — the SAME distinct k-char shingle
    hashes as :func:`char_shingles`, kept as ONE array row per doc
    instead of exploded rows.

    Round-7 shape change (guide §2.3 "shuffle fewer bytes", §5 cache
    economics): the sketch queries used to cache the EXPLODED rows
    (10.26M rows at sf1.0) because two consumers need shingles — the
    signature/simhash aggregate and the exact-Jaccard verify. But the
    verify stage immediately re-AGGREGATES the exploded rows back into
    per-doc arrays (semi-join + groupBy + collect_list) to run
    array_intersect. Caching the array form instead stores the same
    bytes in 50k rows instead of 10.26M (cache build 3.4s -> 0.9s
    measured at sf1.0), feeds the verify join DIRECTLY (its semi-join +
    collect_list exchange disappears from the plan), and the aggregate
    consumers just re-explode from the cached arrays (explode of an
    in-memory array column is pipeline-local — no extra scan, no
    shuffle).
    """
    shingle_arr = (
        f"array_distinct(transform(sequence(1, greatest(length({text_col}) - {k - 1}, 1)), "
        f"i -> xxhash64(substr({text_col}, i, {k}))))"
    )
    return df.select(F.col(id_col).alias("id"), F.expr(f"{shingle_arr} AS ss")).withColumn(
        "n", F.size("ss")
    )


def explode_shingle_sets(sets: DataFrame) -> DataFrame:
    """(id, sh) view over :func:`char_shingle_sets` output — exactly the
    :func:`char_shingles` row set, derived from the cached arrays."""
    return sets.select("id", F.explode("ss").alias("sh"))


# -------------------------------------------------------------- minhash

def minhash_signatures(shingles: DataFrame, num_hashes: int = 32) -> DataFrame:
    """(id, sig: array<bigint>) — one min per seeded hash family.

    h_i(s) = xxhash64(i, s): k independent families from the seed slot.
    Computed as k min() aggregates in ONE groupBy pass (map-side
    partial min => shuffle carries k ints per doc, not the shingles).
    """
    # built as SQL-text expressions: one py4j round trip for all k agg
    # columns instead of 3k Column-API calls — DataFrame construction
    # is driver-side latency paid per query execution, and the Column
    # API was measured at ~1.4s of pure py4j chatter for k=48
    mins = [F.expr(f"min(xxhash64({i}, sh)) AS h{i}") for i in range(num_hashes)]
    agg = shingles.groupBy("id").agg(*mins)
    sig = F.expr("array(" + ", ".join(f"h{i}" for i in range(num_hashes)) + ") AS sig")
    return agg.select("id", sig)


def _plane_exprs(num_hashes: int, n_planes: int = 8) -> list[str]:
    """SQL text for the packed bit-planes of a signature: bit i of
    plane k = bit k of sig[i] (used by the fused LSH prune's gates)."""
    return [
        "("
        + " | ".join(f"shiftleft(shiftright(sig[{i}], {k}) & 1, {i})" for i in range(num_hashes))
        + f") AS p{k}"
        for k in range(n_planes)
    ]


def with_sig_planes(signatures: DataFrame, num_hashes: int, n_planes: int = 8) -> DataFrame:
    """(id, sig, p0..p{n_planes-1}) — signatures with their bit-planes
    materialized as plain columns.

    Round-7 finding: when the 48-term plane expressions are left to be
    computed in the band-join stage, whole-stage codegen fuses them into
    the join's generated method — the method blows past JIT limits and
    the 186M-row collision loop runs ~2x SLOWER than interpreted
    (measured 6.7s codegen vs 3.3s with codegen disabled at sf1.0).
    Materializing the planes into the CACHED signature table keeps the
    join stage's generated code tiny (column reads + bit_count), which
    is the fix at the plan level rather than a config override. Cost:
    8 extra longs per doc in the cache — linear, negligible."""
    return signatures.select("id", "sig", *[F.expr(p) for p in _plane_exprs(num_hashes, n_planes)])


def _band_table(
    signatures: DataFrame, bands: int, with_sig: bool = False, keep: list[str] | None = None
) -> DataFrame:
    """(id, bh[, sig]) — one hashed band row per (doc, band).

    ``bh = xxhash64(band_idx, band_slice)`` already mixes the band index
    into the hash, so the band self-join keys on the SINGLE long ``bh``
    (round 7): Spark builds the specialized ``LongHashedRelation`` for
    one-long-key joins — measurably faster probes than the generic
    2-column relation the old (band, bh) key forced — and band rows drop
    the band column entirely. Cross-band xxhash64 collisions can only
    ADD candidate pairs (~n²·2⁻⁶⁴ expected — none at any real scale),
    and every consumer exact-verifies candidates, so the final pair set
    is unchanged even if one occurred.

    ``with_sig=True`` carries the full signature array on every band row
    so a consumer can evaluate signature agreement INSIDE the band-join
    stage (see ``minhash_lsh_pruned_pairs``). That widens the band-table
    shuffle from ~16 B to ~(16 + 8k) B per row — still linear in docs —
    in exchange for never shuffling the quadratic candidate set.
    ``keep`` overrides the carried columns explicitly."""
    bands_col = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.xxhash64(b, F.slice(F.col("sig"), b * (F.size("sig") / bands).cast("int") + 1, (F.size("sig") / bands).cast("int")).cast("string")),
    )
    if keep is None:
        keep = ["id", "sig"] if with_sig else ["id"]
    return signatures.select(*keep, F.explode(bands_col).alias("bh"))


def minhash_lsh_pairs(
    signatures: DataFrame,
    bands: int = 8,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) from banded LSH buckets.

    Self-join on (band, band_hash); a pair colliding in any band is a
    candidate once (distinct). Join key is a hash — uniform, skew-free.
    """
    bt = _band_table(signatures, bands)
    a = bt.alias("a")
    b = bt.alias("b")
    return (
        a.join(b, on=[F.col("a.bh") == F.col("b.bh"), F.col("a.id") < F.col("b.id")])
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_lsh_pruned_pairs(
    signatures: DataFrame,
    bands: int,
    num_hashes: int,
    threshold: float,
) -> DataFrame:
    """Banded-LSH candidate pairs with the signature-agreement prune
    FUSED into the band join — identical output to
    ``signature_verify(minhash_lsh_pairs(sig, bands), sig, threshold)
    .select("id_a", "id_b")`` but with the quadratic candidate set never
    crossing a shuffle.

    Why (round-7 measurement, sf1.0 = 50k docs): the raw band join
    yields 195.6M collision rows and 178.0M DISTINCT candidate pairs;
    the old pipeline shuffled those 178M rows once for ``distinct`` and
    twice more through the two signature joins of
    ``signature_verify`` — ~150 s of the 125 s query. Here each band
    row carries its doc's full signature (shuffle stays LINEAR in docs:
    bands x (24 + 8·num_hashes) B per doc), agreement is evaluated
    inside the join stage, and only the ~0.3% of collision rows that
    survive the prune reach the ``distinct`` exchange.

    The residual join condition is ordered cheap-first: ``a.id < b.id``
    short-circuits before the agreement count, halving agreement
    evaluations (SQL AND evaluates left to right). The agreement count
    itself uses the same zip_with/filter/size form as
    ``signature_verify`` — measured 6.5x faster at sf0.1 than an
    unrolled 48-term array-index IF chain, whose 96 GetArrayItem
    expressions degrade the generated join-condition code.

    Equivalence: ``signature_verify`` keeps pairs with
    ``agree / num_hashes >= threshold``; ``agree`` is an integer, so
    that is exactly ``agree >= ceil(threshold * num_hashes)`` (for
    0.45·48 = 21.6 → agree >= 22). Prune-then-distinct equals
    distinct-then-prune because agreement is a pure function of the
    pair. Pinned by tests/test_dedup.py::test_pruned_pairs_equivalence.
    """
    import math

    min_agree = math.ceil(threshold * num_hashes)
    max_mismatch = num_hashes - min_agree
    assert num_hashes <= 63, "bit-plane prefilter packs positions into one long"
    # Three-gate prune, every gate a CERTAIN necessary condition for
    # agree >= min_agree — no gate can drop a pair the exact test
    # keeps, and stage 3 re-applies the exact count, so the survivor
    # set stays bit-identical to signature_verify's.
    #
    # Gate 1 — band join with a zero-allocation bit-plane prune.
    # 4 bit-planes of the signature, packed pre-explode (one long per
    # plane per doc): bit i of plane k = bit k of sig[i]. A MATCHING
    # position contributes identical bits to every plane, so
    #   detected := bit_count(OR_k (a.p_k XOR b.p_k)) <= #mismatches,
    # and agree >= min_agree implies detected <= max_mismatch. A
    # MISMATCHING position slips past 4 planes with probability 2^-4,
    # so the 186M collision rows die in-stage to 7.89M (sf1.0
    # measurement). 4 planes is the measured sweet spot: widening the
    # JOIN residual to 8 planes pushed the generated join code past
    # what codegen handles well (9.7s -> 24.4s for the count), while
    # fewer planes leak quadratically more rows.
    # Planes come precomputed from the cached signature table when the
    # caller used with_sig_planes (the catalog queries do — see its
    # docstring: leaving the 48-term plane expressions to be computed
    # in the join stage makes whole-stage codegen generate a method too
    # large to JIT, 2x slower); computed here otherwise so the operator
    # stays self-contained.
    if "p0" not in signatures.columns:
        signatures = with_sig_planes(signatures, num_hashes)
    bt = _band_table(signatures, bands, keep=["id", "p0", "p1", "p2", "p3"])
    a, b = bt.alias("a"), bt.alias("b")
    plane_or = " | ".join(f"(a.p{k} ^ b.p{k})" for k in range(4))
    residual = F.expr(f"a.id < b.id AND bit_count({plane_or}) <= {max_mismatch}")
    raw = (
        a.join(b, on=[F.col("a.bh") == F.col("b.bh"), residual])
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    # Gate 2 — planes 4-7 re-attached from the doc-level plane table
    # (docs x 5 longs, broadcast) and tested on gate-1 survivors only.
    # Escape probability for a mismatching position falls to 2^-8
    # across the two gates, cutting the leak ~8x (7.89M -> 0.99M at
    # sf1.0) BEFORE the expensive exact count. Two narrow-row
    # broadcast joins on 7.89M rows are far cheaper than widening the
    # gate-1 join residual (see above) or running zip_with at 7.89M.
    pl = signatures.select("id", "p4", "p5", "p6", "p7")
    pa = pl.select(F.col("id").alias("id_a"), *[F.col(f"p{k}").alias(f"qa{k}") for k in range(4, 8)])
    pb = pl.select(F.col("id").alias("id_b"), *[F.col(f"p{k}").alias(f"qb{k}") for k in range(4, 8)])
    gate2_or = " | ".join(f"(qa{k} ^ qb{k})" for k in range(4, 8))
    raw = (
        raw.join(pa, "id_a")
        .join(pb, "id_b")
        .filter(F.expr(f"bit_count({gate2_or}) <= {max_mismatch}"))
        .select("id_a", "id_b")
    )
    # Gate 3 — exact positional agreement on the ~1M double-plane
    # survivors, BEFORE the distinct, by re-attaching the two
    # signatures. At fixture scale the signature table (docs x
    # num_hashes longs) broadcasts, so all three gates and the final
    # filter are one map-side pipeline and the only exchange carrying
    # pair rows is the distinct over exact survivors (~0.3% of
    # collisions). At 100 TB the re-joins degrade to shuffle joins of
    # the plane-pruned candidates — still orders of magnitude fewer
    # rows than the unpruned candidate distinct the old plan shuffled.
    # Prune-then-distinct == distinct-then-prune (agreement is a pure
    # function of the pair).
    sa = signatures.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = signatures.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    agree = F.expr(
        f"size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)) >= {min_agree}"
    )
    return (
        raw.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(agree)
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame,
    shingles: DataFrame,
    threshold: float = 0.7,
    threshold_frac: tuple[int, int] | None = None,
) -> DataFrame:
    """Exact Jaccard on candidate pairs only.

    |A∩B| via shingle-equijoin restricted to candidate pairs;
    |A∪B| = |A|+|B|-|A∩B|. Returns (id_a, id_b, jaccard) ≥ threshold.

    ``threshold_frac=(num, den)`` filters with the integer cross-
    multiply ``inter*den >= union*num`` instead of the float compare —
    boundary-exact, so an external SQL oracle reproduces the row set
    bit-for-bit.

    Scale shape: shingles are needed only for ids appearing in a
    candidate pair, so they're semi-joined to those ids, collected to
    ONE sorted set-array per doc (shingles are distinct per doc by
    construction), and the intersection is a single JVM
    ``array_intersect`` per pair row — no exploded per-shingle join and
    no wide groupBy shuffle. vs the explode-equijoin form this measured
    3-4x faster at sf0.1 (71k candidates, ~200 shingles/doc) with a
    bit-identical pair set. Shuffle volume is |pairs| x 2 set-arrays;
    for corpora with huge per-doc shingle sets, cap candidate volume
    upstream (prefilters/bands — that's what the sketch stages are
    for) or use ``minhash_dedup_pairs(verify="auto")``, which measures
    the volume and falls back to the signature estimate. The internal
    pairs cache is registered with operators/caching.py and released
    on the next catalog-query construction.
    """
    from . import caching

    pairs = caching.cache(pairs)
    ids = (
        pairs.select(F.col("id_a").alias("id"))
        .unionByName(pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )
    sets = (
        shingles.join(ids, "id", "left_semi")
        .groupBy("id")
        .agg(F.collect_list("sh").alias("ss"), F.count("*").alias("n"))
    )
    out = (
        pairs.join(sets.select(F.col("id").alias("id_a"), F.col("ss").alias("ss_a"), F.col("n").alias("na")), "id_a")
        .join(sets.select(F.col("id").alias("id_b"), F.col("ss").alias("ss_b"), F.col("n").alias("nb")), "id_b")
        .withColumn("inter", F.size(F.array_intersect("ss_a", "ss_b")))
    )
    union = F.col("na") + F.col("nb") - F.col("inter")
    if threshold_frac is not None:
        num, den = threshold_frac
        out = out.filter(F.col("inter") * den >= union * num)
    out = out.withColumn("jaccard", F.col("inter") / union)
    if threshold_frac is None:
        out = out.filter(F.col("jaccard") >= threshold)
    return out.select("id_a", "id_b", "jaccard")


def jaccard_verify_sets(
    pairs: DataFrame,
    sets: DataFrame,
    threshold: float = 0.7,
    threshold_frac: tuple[int, int] | None = None,
) -> DataFrame:
    """Exact Jaccard on candidate pairs against a per-doc shingle-SET
    table (``char_shingle_sets`` output) — identical output to
    :func:`jaccard_verify`, minus two plan stages.

    :func:`jaccard_verify` takes EXPLODED shingle rows, so it must
    first rebuild per-doc arrays (semi-join to candidate ids + groupBy
    + collect_list — one exchange over all candidate docs' shingles)
    and must cache ``pairs`` because it consumes them twice (id
    derivation + final join). With the arrays already materialized the
    pairs stream straight into the two set joins (broadcast at fixture
    scale) and are consumed ONCE — no pairs cache, no sets exchange.
    ``array_intersect`` sees the same element sets (order never
    matters for its size), so the surviving pair set and the jaccard
    value are bit-identical; pinned by
    tests/test_dedup.py::test_verify_sets_equivalence.
    """
    out = (
        pairs.join(sets.select(F.col("id").alias("id_a"), F.col("ss").alias("ss_a"), F.col("n").alias("na")), "id_a")
        .join(sets.select(F.col("id").alias("id_b"), F.col("ss").alias("ss_b"), F.col("n").alias("nb")), "id_b")
        .withColumn("inter", F.size(F.array_intersect("ss_a", "ss_b")))
    )
    union = F.col("na") + F.col("nb") - F.col("inter")
    if threshold_frac is not None:
        num, den = threshold_frac
        out = out.filter(F.col("inter") * den >= union * num)
    out = out.withColumn("jaccard", F.col("inter") / union)
    if threshold_frac is None:
        out = out.filter(F.col("jaccard") >= threshold)
    return out.select("id_a", "id_b", "jaccard")


def signature_verify(pairs: DataFrame, signatures: DataFrame, threshold: float = 0.7) -> DataFrame:
    """Estimate Jaccard as the fraction of agreeing minhash positions —
    the scale path for verification: joins only the k-int signatures,
    never the shingle sets. Unbiased estimator with stderr
    ~ sqrt(j(1-j)/k); use jaccard_verify (exact) when candidates are few.
    """
    sa = signatures.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = signatures.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    agree = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard_est", agree / F.size("sig_a"))
        .filter(F.col("jaccard_est") >= threshold)
        .select("id_a", "id_b", "jaccard_est")
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    verify: str = "signature",
    n_partitions: int | None = None,
    max_exact_bytes: int = 2_000_000_000,
) -> DataFrame:
    """End-to-end MinHash+LSH near-dup: shingle -> minhash -> band ->
    bucket-join -> verify (``signature`` estimate at scale, ``exact``
    Jaccard for small/ground-truth runs).

    ``verify="auto"`` guards the exact path against pathological
    corpora (huge docs x many candidates): it estimates the verify-join
    shuffle volume as ``|pairs| * 2 * avg_shingles_per_CANDIDATE_doc *
    8B`` — the average is taken over the docs actually appearing in
    candidate pairs (semi-join), not the whole corpus, so a skewed
    corpus where candidates concentrate on the huge docs cannot sneak
    under the guard — and falls back to the signature estimate,
    disclosed via a warning and visible in the output schema
    (``jaccard_est`` vs ``jaccard``), when it exceeds
    ``max_exact_bytes``. At 100 TB an unguarded exact verify on a bad
    candidate set is an OOM, not a slow query."""
    if n_partitions:
        df = df.repartition(n_partitions)
    sh = char_shingles(df, id_col, text_col, k)
    sig = minhash_signatures(sh, num_hashes)
    pairs = minhash_lsh_pairs(sig, bands)
    if verify == "auto":
        from . import caching

        sh = caching.cache(sh)
        pairs = caching.cache(pairs)
        n_pairs = pairs.count()
        cand_ids = (
            pairs.select(F.col("id_a").alias("id"))
            .unionByName(pairs.select(F.col("id_b").alias("id")))
            .distinct()
        )
        counts = sh.join(cand_ids, "id", "left_semi").groupBy().agg(
            F.count(F.lit(1)).alias("n_sh"), F.count_distinct("id").alias("n_docs")
        ).collect()[0]
        avg_sh = (counts["n_sh"] / counts["n_docs"]) if counts["n_docs"] else 0.0
        est_bytes = n_pairs * 2 * avg_sh * 8
        if est_bytes > max_exact_bytes:
            import warnings

            warnings.warn(
                f"jaccard_verify volume estimate {est_bytes / 1e9:.1f} GB exceeds "
                f"max_exact_bytes={max_exact_bytes / 1e9:.1f} GB "
                f"({n_pairs} candidate pairs x ~{avg_sh:.0f} shingles/doc); "
                "falling back to signature_verify (estimate, column 'jaccard_est')",
                stacklevel=2,
            )
            return signature_verify(pairs, sig, threshold)
        return jaccard_verify(pairs, sh, threshold)
    if verify == "exact":
        return jaccard_verify(pairs, sh, threshold)
    return signature_verify(pairs, sig, threshold)


# -------------------------------------------------------------- simhash

_SIMHASH_LANE = 21  # bit-count sums per lane; 3 lanes fit a signed int64


def simhash_from_hashes(toks: DataFrame, bits: int = 64) -> DataFrame:
    """(id, simhash: bigint) from pre-hashed tokens (id, th: bigint).

    Majority vote per bit: bit i is set iff more than half the tokens
    have it set (2*S_i > n, identical to the classic +1/-1 vote sum).
    The shuffle carries PACKED partial sums — three 21-bit lanes per
    aggregate column (ceil(bits/3)+1 longs per doc instead of ``bits``)
    — cutting agg/shuffle width ~3x. Lane capacity bounds tokens at
    2^21-1 (~2M) per document, far above any real document.

    Token choice is the caller's: whitespace words (``simhash``) or
    char shingles (``char_shingles`` -> aligned with MinHash).
    """
    # Both the packed-lane aggregate and the 64-bit majority
    # reconstruction are built as SQL text (one F.expr each): the
    # Column-API form made ~400 py4j round trips and cost ~5s of
    # DRIVER time per query construction — more than the job itself
    # at fixture scale. Same Catalyst tree either way.
    per_col = 3
    packed_cols = []
    for c in range(0, bits, per_col):
        terms = [
            f"shiftleft(shiftright(th, {i}) & 1, {lane * _SIMHASH_LANE})"
            for lane, i in enumerate(range(c, min(c + per_col, bits)))
        ]
        packed_cols.append(F.expr(f"sum({' + '.join(terms)}) AS p{c // per_col}"))
    agg = toks.groupBy("id").agg(F.expr("count(*) AS __n"), *packed_cols)
    mask = (1 << _SIMHASH_LANE) - 1
    bit_terms = []
    for i in range(bits):
        s_i = f"(shiftright(p{i // per_col}, {(i % per_col) * _SIMHASH_LANE}) & {mask})"
        bit_terms.append(f"shiftleft(CAST({s_i} * 2 > __n AS LONG), {i})")
    packed = F.expr(" | ".join(bit_terms) + " AS simhash")
    return agg.select("id", packed)


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """(id, simhash: bigint) — whitespace-token SimHash, fully JVM-side.
    Tokens -> xxhash64 -> ``simhash_from_hashes``."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).withColumn("th", F.xxhash64("tok")).select("id", "th")
    return simhash_from_hashes(toks, bits)


def simhash_candidates(sims: DataFrame, chunks: int = 4, max_hamming: int | None = None) -> DataFrame:
    """Pigeonhole candidate pairs: split 64 bits into ``chunks`` near-
    equal chunks (widths may differ by one when 64 % chunks != 0); any
    pair with Hamming distance <= chunks-1 shares at least one exact
    chunk WITH CERTAINTY, so self-join per chunk (uniform hash key —
    skew-free). Returns (id_a, id_b, sa, sb) distinct candidates.

    ``chunks`` is the recall/cost dial: capture is guaranteed only up
    to Hamming chunks-1, while each extra chunk narrows the chunk value
    space (64/chunks bits) and so multiplies bucket collisions — pick
    the smallest chunk count whose guarantee covers the target
    distance. At web scale with tight targets (Hamming <= 3) 4x16-bit
    chunks is the classic operating point.

    ``max_hamming`` applies the bit_count(xor) prefilter BEFORE the
    distinct, so the dedup shuffle carries only close pairs instead of
    every chunk collision (~30x fewer rows on the sf0.1 fixture)."""
    base, rem = divmod(64, chunks)
    widths = [base + 1 if c < rem else base for c in range(chunks)]
    offsets = [sum(widths[:c]) for c in range(chunks)]
    chunk_rows = sims.select(
        "id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("chunk"),
                    F.shiftright(F.col("simhash"), offsets[c]).bitwiseAND(F.lit((1 << widths[c]) - 1)).alias("cv"),
                )
                for c in range(chunks)
            ])
        ).alias("c"),
    ).select("id", "simhash", "c.chunk", "c.cv")
    a, b = chunk_rows.alias("a"), chunk_rows.alias("b")
    cand = a.join(
        b, on=[F.col("a.chunk") == F.col("b.chunk"), F.col("a.cv") == F.col("b.cv"), F.col("a.id") < F.col("b.id")]
    ).select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), F.col("a.simhash").alias("sa"), F.col("b.simhash").alias("sb")
    )
    if max_hamming is not None:
        cand = cand.filter(F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))) <= max_hamming)
    return cand.distinct()


def simhash_candidates_probe(
    sims: DataFrame, super_chunks: int = 6, max_hamming: int | None = None
) -> DataFrame:
    """Two-level pigeonhole candidates: ``super_chunks`` WIDE chunks
    (64/6 ≈ 11 bits → 2048 bucket values) joined on exact value OR a
    single-bit flip (multi-probe), instead of many narrow chunks.

    Guarantee: a pair with Hamming ≤ 2*super_chunks - 1 has some chunk
    with ≤ 1 differing bit (pigeonhole), and that chunk matches via the
    probe side's flip — so 6 chunks cover Hamming ≤ 11 with CERTAINTY,
    MORE margin than the 11-narrow-chunk split (≤ 10) while the bucket
    value space is 2^11 instead of 2^5..2^6.  Background collisions
    scale with bucket occupancy squared, so widening the values ~32-64x
    cuts the raw candidate volume ~6x at the sf0.1 fixture (5.0M → .8M)
    and quadratically more as the corpus grows — this is the
    scale-grade geometry for the same exact output.

    Probe-side rows per doc: sum(width+1) per chunk = 64 + 6 = 70 vs 11
    — more build rows, but build rows are linear in docs while bucket
    collisions are quadratic in occupancy; linear costs win at scale.
    A pair (x < y) differing by one bit in a chunk is caught as
    (exact x) ⋈ (probe y): y's flip of that bit equals x's chunk value
    regardless of which doc carries the set bit, so the asymmetric
    exact⋈probe join with ``a.id < b.id`` loses nothing."""
    base, rem = divmod(64, super_chunks)
    widths = [base + 1 if c < rem else base for c in range(super_chunks)]
    offsets = [sum(widths[:c]) for c in range(super_chunks)]

    # expression trees built as SQL text — ~80 struct terms through the
    # Column API is seconds of py4j driver latency per construction
    def chunk_val(c):
        return f"(shiftright(simhash, {offsets[c]}) & {(1 << widths[c]) - 1})"

    exact_structs = ", ".join(
        f"named_struct('chunk', {c}, 'cv', {chunk_val(c)})" for c in range(super_chunks)
    )
    exact_rows = sims.select(
        "id", "simhash", F.expr(f"explode(array({exact_structs})) AS c")
    ).select("id", "simhash", "c.chunk", "c.cv")
    probe_structs = ", ".join(
        f"named_struct('chunk', {c}, 'pv', {chunk_val(c)} ^ {flip})"
        for c in range(super_chunks)
        for flip in [0, *(1 << j for j in range(widths[c]))]
    )
    probe_rows = sims.select(
        "id", "simhash", F.expr(f"explode(array({probe_structs})) AS c")
    ).select("id", "simhash", "c.chunk", "c.pv")
    a, b = exact_rows.alias("a"), probe_rows.alias("b")
    cand = a.join(
        b, on=[F.col("a.chunk") == F.col("b.chunk"), F.col("a.cv") == F.col("b.pv"), F.col("a.id") < F.col("b.id")]
    ).select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), F.col("a.simhash").alias("sa"), F.col("b.simhash").alias("sb")
    )
    if max_hamming is not None:
        cand = cand.filter(F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))) <= max_hamming)
    return cand.distinct()


def simhash_candidates_sym(
    sims: DataFrame, chunks: int = 4, max_hamming: int | None = 11
) -> DataFrame:
    """Symmetric single-bit multi-probe pigeonhole candidates — the
    round-7 geometry for ``max_hamming <= 3*chunks - 1``.

    Both sides emit, per chunk, the exact chunk value plus every
    single-bit flip (width+1 rows/doc/chunk). Two rows meet iff their
    chunk values differ by the XOR of the two applied flips, i.e. any
    pair with PER-CHUNK Hamming distance <= 2 collides in that chunk
    WITH CERTAINTY; by pigeonhole a pair with total Hamming
    <= 3*chunks - 1 has some chunk at distance <= 2 — so 4 chunks of 16
    bits cover Hamming <= 11, the same certainty bound as the 6-chunk
    radius-1 asymmetric probe (``simhash_candidates_probe``), and the
    ``max_hamming`` filter makes the two candidate sets PROVABLY equal
    (both = all pairs within the bound; pinned by
    tests/test_dedup.py::test_sym_probe_equivalence).

    Why it wins (measured at sf1.0, 50k docs): collision volume scales
    with bucket occupancy squared, and 16-bit chunk values spread 50k
    docs ~32x thinner than 11-bit ones — raw collision rows fall 196M
    -> ~22M, pre-hamming — while emitted rows/doc only grow 70 -> 68
    (4 chunks x 17 vs 6 x ~12.7). The join key packs (chunk, flipped
    value) into ONE long (chunk << width | cv — exact, no collisions),
    so the broadcast side builds the specialized LongHashedRelation.
    """
    base, rem = divmod(64, chunks)
    assert rem == 0, "sym probe wants equal chunk widths (64 % chunks == 0)"
    assert max_hamming is None or max_hamming <= 3 * chunks - 1, (
        f"max_hamming={max_hamming} is past the sym probe's certainty bound 3*chunks-1={3 * chunks - 1}"
    )
    width = base

    def rows_sql():
        # per chunk: exact value + every single-bit flip, each packed
        # with the chunk index into one long key
        terms = []
        for c in range(chunks):
            cv = f"(shiftright(simhash, {c * width}) & {(1 << width) - 1})"
            for flip in [0, *(1 << j for j in range(width))]:
                terms.append(f"({c * (1 << width)} + ({cv} ^ {flip}))")
        return f"explode(array({', '.join(terms)})) AS ck"

    rows = sims.select("id", "simhash", F.expr(rows_sql()))
    a, b = rows.alias("a"), rows.alias("b")
    cand = a.join(
        b, on=[F.col("a.ck") == F.col("b.ck"), F.col("a.id") < F.col("b.id")]
    ).select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), F.col("a.simhash").alias("sa"), F.col("b.simhash").alias("sb")
    )
    if max_hamming is not None:
        cand = cand.filter(F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))) <= max_hamming)
    return cand.select("id_a", "id_b").distinct()


def simhash_near_pairs(sims: DataFrame, max_hamming: int = 3, chunks: int = 4) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming: pigeonhole
    candidates (prefiltered pre-distinct) + the hamming column."""
    cand = simhash_candidates(sims, chunks, max_hamming=max_hamming)
    return cand.withColumn("hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))).select(
        "id_a", "id_b", "hamming"
    )


def word_shingles(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, sh) — distinct whitespace tokens per doc, pre-hashed to
    int64 (token strings never cross a shuffle)."""
    toks = F.array_distinct(F.split(F.trim(F.col(text_col)), r"\s+"))
    return df.select(F.col(id_col).alias("id"), F.explode(toks).alias("tok")).select(
        "id", F.xxhash64("tok").alias("sh")
    )


# ------------------------------------------- near-dup clusters (components)

def connected_components(
    pairs: DataFrame, max_iter: int = 25, small_edge_limit: int = 2_000_000
) -> DataFrame:
    """(id, component) for every id in ``pairs`` — component = MIN id
    reachable in the near-dup graph. The training-data dedup step after
    pair finding: pairs alone don't dedup a corpus; clusters pick one
    canonical survivor per group (min id).

    Round 7: ``pairs`` (usually the whole expensive sketch pipeline) is
    persisted and counted ONCE up front — the previous code built the
    doubled edge list as ``pairs UNION swap(pairs)``, and Spark does no
    common-subexpression elimination across union branches, so the pair
    pipeline executed TWICE when edges first materialized. The count
    also gates a small-graph fast path: near-dup pair sets are tiny
    relative to the corpus (0.3% dup rate at the fixture), and below
    ``small_edge_limit`` edges (~32 MB collected) a driver-side
    union-find with min-id labels produces the identical fixpoint in
    ONE job instead of 2 jobs per propagation round — the measured cost
    of the distributed loop at fixture scale was ~5.5s of pure
    driver/job-scheduling overhead on a 512-edge graph. Path equality
    is pinned by tests/test_dedup.py::test_cc_small_path_equivalence.

    Distributed path (above the gate — the 100 TB shape): iterative
    min-label propagation with pointer halving — each round every node
    takes the min of its own label, its neighbors' labels, and its
    label's label (path compression), so convergence is O(log diameter)
    rounds; near-dup graphs (tiny cliques/chains) converge in 2-3. Each
    round is localCheckpoint-ed: iterative DataFrame loops otherwise
    nest the previous round's plan inside the next and the lineage
    grows until the driver chokes — checkpointing truncates it, keeping
    every round O(1) plan size. The loop stops when a round changes
    nothing; ``max_iter`` bounds adversarial chains.
    """
    from . import caching

    pairs = caching.cache(pairs.select("id_a", "id_b"))
    n_pairs = pairs.count()
    if n_pairs <= small_edge_limit:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in pairs.collect():
            a, b = r["id_a"], r["id_b"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min id so the root IS the component label
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        rows = [(x, find(x)) for x in parent]
        spark = pairs.sparkSession
        from pyspark.sql import types as T

        schema = T.StructType(
            [T.StructField("id", T.LongType()), T.StructField("component", T.LongType())]
        )
        return spark.createDataFrame(rows, schema)

    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = edges.unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).persist()
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    try:
        for _ in range(max_iter):
            # min label among self + neighbors (one shuffle) ...
            nbr_min = (
                edges.join(labels.withColumnRenamed("id", "dst"), "dst")
                .groupBy("src")
                .agg(F.min("component").alias("nbr_component"))
                .withColumnRenamed("src", "id")
            )
            stepped = labels.join(nbr_min, "id", "left").select(
                "id",
                F.least(F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))).alias("component"),
            )
            # ... then pointer halving: component <- component's component
            # (every label value is itself a node id, so the join is total)
            grand = stepped.select(F.col("id").alias("component"), F.col("component").alias("grand"))
            new_labels = (
                stepped.join(grand, "component")
                .select("id", F.least(F.col("component"), F.col("grand")).alias("component"))
                .localCheckpoint()
            )
            changed = (
                new_labels.withColumnRenamed("component", "new_component")
                .join(labels, "id")
                .filter(F.col("new_component") != F.col("component"))
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
        return labels
    finally:
        edges.unpersist()


def neardup_clusters(pairs: DataFrame) -> DataFrame:
    """(doc_id, cluster_id, is_canonical) for every doc appearing in a
    near-dup pair: cluster_id = min doc id in the connected component,
    is_canonical marks the one survivor a dedup pass would keep."""
    cc = connected_components(pairs)
    return cc.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("id") == F.col("component")).alias("is_canonical"),
    )


# -------------------------------------------------- n-gram Jaccard (exact)

def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str, n: int = 3, threshold: float = 0.5) -> DataFrame:
    """Exact word-n-gram Jaccard similarity join (all-pairs via shingle
    equi-join — the exact/verify path; use minhash_dedup_pairs at scale).
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - F.lit(n), F.lit(0))),
            lambda i: F.xxhash64(F.concat_ws("", F.slice(toks, i + 1, n))),
        )
    )
    sh = df.select(F.col(id_col).alias("id"), F.explode(grams).alias("sh"))
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, on=[F.col("a.sh") == F.col("b.sh"), F.col("a.id") < F.col("b.id")])
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "na"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "nb"), "id_b")
        .withColumn("jaccard", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
