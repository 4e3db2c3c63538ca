"""Deduplication family for a web-scale training corpus — exact, MinHash
LSH with exact n-gram Jaccard verification, and embedding-cosine near-dup.

The reference only has exact row/key duplicate detection
(src/core/validator.py:101-123, src/core/validation_rules.py:176-193);
the near-duplicate operators here are the standard large-corpus extensions
(MinHash banding per Broder '97), each expressed as pure DataFrame plans
so Catalyst handles partial aggregation, shuffle planning and AQE
skew-splitting.

Scale shapes (what survives a 100 TB corpus):
  * exact dedup      — one groupBy(md5) shuffle; salted two-phase min()
                       (operators/dedup.py pattern) if key skew exists.
  * MinHash LSH      — explode→min-agg per (doc, hash_i) is map-side
                       combinable; banding turns O(n²) pairs into
                       per-bucket candidate joins; only candidates get an
                       exact Jaccard verification.
  * n-gram Jaccard   — exposed standalone for small/verification use; at
                       scale it runs ONLY on LSH candidate pairs.
  * embedding cosine — brute pairwise for verification; ANN (operators/
                       ann.py) is the scale path.

The MinHash and band hashes are engine-portable md5 prefixes, so every
operator has an exact DuckDB SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .text import round6, shingles, spread_small_scan

# MinHash parameters: h_i(x) = (A_i * H28(x) + B_i) mod P, where H28 is a
# 28-bit md5-prefix hash and P = 2^31 - 1. All intermediates stay well
# under 2^63 so the expression is safe under Spark's ANSI overflow checks,
# and the identical integer arithmetic is reproduced in the DuckDB oracle.
#
# The (A_i, B_i) MUST be mutually independent full-range constants.
# Two prior revisions degenerated, both found during the round-5 sf1
# sweep (50k docs):
#   1. A_i = 2i+1, B_i = 104729(i+1): multipliers so small the affine
#      maps barely permute — one globally-common shingle whose H28 lands
#      low wins the min for EVERY i in every doc containing it (the
#      shingle ' questio', H28≈45k, put ~12% of all docs into ONE band
#      bucket → 33.8M LSH candidate pairs).
#   2. A_i = c(i+1), B_i = d(i+1) mod P: large but LINEARLY DEPENDENT —
#      m_i = (i+1)(c·h+d) mod P, and for the shingle minimizing
#      x = (c·h+d) mod P the products (i+1)·x never wrap (16x ≪ P), so
#      that one shingle again wins all 16 minhashes (298-doc bucket).
# md5-derived per-i constants are mutually independent; candidate volume
# is then driven by real Jaccard overlap, which is what makes LSH
# near-linear at corpus scale instead of one-hot-shingle quadratic.
MINHASH_PRIME = 2147483647  # 2^31 - 1 (Mersenne)
N_HASHES = 16
N_BANDS = 4  # 4 rows per band → catches Jaccard ≳ 0.5 reliably


def minhash_coeffs(i: int) -> tuple[int, int]:
    """(A_i, B_i) for the i-th affine permutation — independent
    full-range constants derived from md5 of the permutation index,
    shared verbatim by the Spark expression and the DuckDB oracle SQL
    (queries._minhash_sql). A_i ∈ [1, P-1] so products with the 28-bit
    shingle hash stay < 2^63 (ANSI-safe)."""
    import hashlib

    a = int(hashlib.md5(f"minhash-a-{i}".encode()).hexdigest()[:15], 16) % (
        MINHASH_PRIME - 1
    ) + 1
    b = int(hashlib.md5(f"minhash-b-{i}".encode()).hexdigest()[:15], 16) % (
        MINHASH_PRIME
    )
    return a, b


def minhash_base_hash(col: Column) -> Column:
    """28-bit engine-portable shingle hash (first 7 hex digits of md5)."""
    return F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("bigint")


def _minhash_perm(i: int, h: Column) -> Column:
    a, b = minhash_coeffs(i)
    return (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_PRIME)


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact-content dedup: → (doc_id, is_dup, keeper_doc_id) per doc.

    Keeper = min(doc_id) per md5(text) — deterministic keep-first (the
    clip-dedup semantics of operators/dedup.py applied to text).
    """
    hashed = docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("_h"))
    keepers = hashed.groupBy("_h").agg(F.min(id_col).alias("keeper_doc_id"))
    return (
        hashed.join(keepers, "_h")
        .select(
            id_col,
            (F.col(id_col) != F.col("keeper_doc_id")).alias("is_dup"),
            "keeper_doc_id",
        )
    )


def minhash_signatures(docs: DataFrame, k: int = 8) -> DataFrame:
    """→ (doc_id, sig: array<bigint>[N_HASHES]) MinHash signature.

    Plan: shingle explode → ONE groupBy(doc_id) computing all N_HASHES
    mins in a single partial-aggregatable pass (no per-hash shuffle).

    Measured alternative, rejected: a zero-shuffle shingle-set-array
    formulation (one md5 transform, then N_HASHES array_min folds) runs
    ~2× slower at sf0.1 — Spark's higher-order folds are interpreted per
    element × N_HASHES, while the explode's per-doc shuffle is tiny
    after map-side combine.
    """
    sh = shingles(docs, k)
    h = minhash_base_hash(F.col("shingle"))
    mins = [
        F.min(_minhash_perm(i, h)).alias(f"m{i}") for i in range(N_HASHES)
    ]
    agg = sh.groupBy("doc_id").agg(*mins)
    return agg.select(
        "doc_id", F.array(*[F.col(f"m{i}") for i in range(N_HASHES)]).alias("sig")
    )


def minhash_band_buckets(docs: DataFrame, k: int = 8) -> DataFrame:
    """→ (doc_id, band, bucket): LSH bucket key per band — md5 of the
    band's concatenated signature slice."""
    rows_per_band = N_HASHES // N_BANDS
    sig = minhash_signatures(docs, k)
    # ONE pass: posexplode over the array of per-band keys. The former
    # union-of-4-selects shape replicated the whole signature subtree
    # once per band (ReusedExchange salvaged the shuffle but each branch
    # re-ran the post-shuffle aggregate) — this plan touches sigs once.
    keys = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "_",
                    *[
                        F.col("sig")[i].cast("string")
                        for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                    ],
                )
            )
            for b in range(N_BANDS)
        ]
    )
    return sig.select("doc_id", F.posexplode(keys).alias("band", "bucket"))


def minhash_lsh_pairs(docs: DataFrame, k: int = 8) -> DataFrame:
    """→ (doc_a, doc_b) candidate near-dup pairs: documents sharing any
    LSH band bucket (doc_a < doc_b, distinct).

    The join is per-(band,bucket) — bucket cardinality is tiny for
    non-pathological corpora, and AQE skew-split covers hot buckets (a
    boilerplate-heavy crawl shard). Feed these pairs to
    ``ngram_jaccard_for_pairs`` for exact verification.
    """
    b = minhash_band_buckets(docs, k)
    left = b.alias("l")
    right = b.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame, k: int = 8, threshold: float = 0.5
) -> DataFrame:
    """Exact n-gram Jaccard over ALL pairs sharing ≥1 shingle:
    → (doc_a, doc_b, jaccard) with jaccard ≥ threshold.

    |A∩B| comes from a shingle-equijoin (shuffle on shingle — skew-prone
    on stop-shingles; at scale run only on LSH candidates), |A∪B| =
    |A|+|B|−|A∩B| from per-doc distinct-shingle counts.
    """
    sh = shingles(docs, k).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    # Filter on the RAW ratio (integer counts → one IEEE division:
    # bit-identical across engines) and round only for display via the
    # engine-deterministic round6 — F.round vs DuckDB round diverge on
    # representational ties over 2^a·5^b denominators (see text.round6).
    raw_j = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    jac = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", raw_j.alias("_raw_j"))
    )
    return jac.where(F.col("_raw_j") >= threshold).select(
        "doc_a", "doc_b", round6(F.col("_raw_j")).alias("jaccard")
    )


def shingle_set_col(text_col: str, k: int) -> Column:
    """array<bigint> of the DISTINCT k-char shingles' xxhash64 values,
    computed entirely in whole-stage codegen (no explode, no distinct
    shuffle): transform over a position sequence + array_distinct. Empty
    array for null/short text (identical eligibility to the
    explode-based ``shingles``). Guarded: Spark's sequence(1, stop)
    DESCENDS when stop < 1, which would emit bogus sub-k fragments for
    short texts.

    Hashing inside the same codegen pass gives 8 B per element instead
    of a ~20+ B string header+payload, so every downstream
    shuffle/array_intersect moves ~3× fewer bytes. Set semantics are
    preserved w.h.p. — a collision needs two distinct k-grams of one doc
    pair hashing equal, P ≈ pairs·len²/2⁶⁴ ≈ 10⁻¹² per pair at 2k
    shingles/doc — and the Jaccard VALUE is then bit-identical to the
    string computation, so the exact string-based oracle still applies."""
    arr = F.expr(
        f"transform(sequence(1, length({text_col}) - {k - 1}), "
        f"i -> xxhash64(substr({text_col}, i, {k})))"
    )
    return F.when(
        F.length(text_col) >= F.lit(k), F.array_distinct(arr)
    ).otherwise(F.array().cast("array<bigint>"))


def ngram_jaccard_for_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    k: int = 8,
    threshold: float | None = None,
) -> DataFrame:
    """Exact k-char-shingle Jaccard restricted to the given candidate
    pairs (doc_a, doc_b) — the LSH→verify stage: → (doc_a, doc_b,
    jaccard) for every input pair whose docs both shingle (zero-OVERLAP
    pairs get jaccard 0; docs shorter than k have no shingle set, and
    such pairs are dropped — they can never be LSH candidates anyway).
    With ``threshold`` set, only pairs with jaccard ≥ threshold are
    returned.

    Scale shape (vs the corpus-wide ``ngram_jaccard_pairs``):

    * per-doc shingle SETS are built as xxhash64 int64 arrays in codegen
      (``shingle_set_col``) — no shingle explode, no distinct shuffle,
      and the per-pair array fan-out through the two id-joins (each
      doc's set ships once per candidate pair it appears in — the
      dominant shuffle of this stage) moves 8 B/shingle instead of ~20+
      B string bytes;
    * only docs appearing in some candidate pair are materialized
      (left-semi join);
    * the intersection is ``size(array_intersect(sa, sb))`` computed
      inline after two equi-joins on doc id — no corpus-wide shingle
      equijoin, no O(pairs × doc_len) narrow-row shuffle (the explode
      formulation measured 21 s vs 12 s for this plan at sf0.1 / 312k
      candidates).
    """
    cand_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # Spread the set build across the cluster BEFORE the per-element
    # transform: the candidate-doc frame inherits the corpus scan's
    # partitioning (a single small file ⇒ ONE partition locally), and the
    # higher-order-function lambda is evaluated interpreted, so an
    # unspread build serializes the CPU-heavy stage on one core. Gated:
    # at real corpus scale the semi-join output is already partitioned
    # wider than the cluster and no shuffle is added.
    #
    # Docs shorter than k (empty sets) are dropped on the text length,
    # not on size(ss): Catalyst pushes a filter on the set through the
    # respread and the semi join into the scan, which then builds the set
    # of every doc in the corpus, unspread.
    cdocs = spread_small_scan(
        docs.where(F.length("text") >= k).join(cand_ids, on="doc_id", how="left_semi")
    )
    shset = cdocs.select("doc_id", shingle_set_col("text", k).alias("ss"))
    # Both join sides broadcast this frame; without a barrier each
    # broadcast rebuilds the whole semi-join + set-build subtree (2× the
    # dominant cost). The persisted form is (id, set) for candidate docs
    # only — bounded by the candidate set, not the corpus.
    shset = shset.persist()
    a = shset.select(F.col("doc_id").alias("doc_a"), F.col("ss").alias("sa"))
    b = shset.select(F.col("doc_id").alias("doc_b"), F.col("ss").alias("sb"))
    n_inter = F.size(F.array_intersect("sa", "sb"))
    joined = pairs.join(a, "doc_a").join(b, "doc_b")
    if threshold is not None:
        # lossless size bound (PPJoin-family length filter): J(A,B) ≤
        # min(|A|,|B|)/max(|A|,|B|), so a pair whose set sizes differ by
        # more than the threshold ratio cannot reach it — the filter
        # runs BEFORE the projection, so the O(|A|+|B|) intersect is
        # never evaluated for pruned pairs.
        joined = joined.where(
            F.least(F.size("sa"), F.size("sb"))
            >= F.lit(threshold) * F.greatest(F.size("sa"), F.size("sb"))
        )
    # Same engine-determinism discipline as ngram_jaccard_pairs: the
    # keep/drop decision is made on the RAW ratio (bit-identical across
    # engines — integer sizes, one IEEE division), and round6 (not
    # F.round, which diverges from DuckDB/numpy on representational
    # ties) is display-only. Filtering raw also keeps the size bound
    # exactly lossless: a pair with raw_j < t can round UP to t, so a
    # rounded-value filter would need pairs the size prune correctly
    # discards.
    out = joined.select(
        "doc_a",
        "doc_b",
        (n_inter / (F.size("sa") + F.size("sb") - n_inter)).alias("_raw_j"),
    )
    if threshold is not None:
        out = out.where(F.col("_raw_j") >= threshold)
    return out.select("doc_a", "doc_b", round6(F.col("_raw_j")).alias("jaccard"))


def minhash_verified_pairs(
    docs: DataFrame, k: int = 8, threshold: float = 0.5
) -> DataFrame:
    """The full near-dup tier: MinHash-LSH candidates → exact Jaccard
    verification → pairs with jaccard ≥ threshold. This is the operator
    to run at corpus scale (candidates bound the exact stage); reference
    dedup-decision analog: src/core/validator.py:101-123.

    The candidate list is consumed three times by the verifier (id
    semi-join, intersection fan-out, final pair join); without a
    materialization barrier Spark re-runs the whole
    shingle→minhash→band self-join per consumer (measured 2× wall at
    sf0.1 / 312k candidates). The (doc_a, doc_b) list is therefore
    persisted and eagerly filled — two longs per row, far smaller than
    the corpus, and persist (unlike localCheckpoint, which erases size
    statistics and costs the verify joins their broadcast strategy)
    keeps accurate stats for the planner. The cache entry is
    deliberately left for LRU eviction: the operator returns a lazy frame
    whose consumers still need it. A production pipeline makes this same
    boundary a table write between the LSH and verify jobs.

    Exact duplicates go through the same path: identical texts share
    every band bucket, so a text copied d× adds d·(d−1)/2 candidates,
    each verified at jaccard 1.0. The exact-dup rate of the registry
    corpora is ≤ 0.16%, so that term is negligible there; a crawl that
    is dup-heavy runs ``exact_dedup`` first and near-dups the keepers."""
    cand = minhash_lsh_pairs(docs, k).persist()
    cand.count()
    # threshold is applied to the RAW jaccard inside the verifier (the
    # returned column is display-rounded; filtering it instead would
    # re-admit raw<t pairs that round up to t — a class the lossless
    # size prune has already discarded).
    return ngram_jaccard_for_pairs(docs, cand, k, threshold=threshold)


def neardup_components(
    pairs: DataFrame, max_iter: int = 20, driver_edge_bound: int = 100_000
) -> DataFrame:
    """Connected components of the near-dup pair graph — the step a real
    corpus dedup runs AFTER pair verification: near-duplication is
    transitive in practice (A≈B≈C), so keep/drop decisions must be per
    CLUSTER, not per pair, or A→B and B→C both drop and a whole clique
    vanishes.

    → (doc_id, cluster_id, is_dup) for every doc appearing in ``pairs``:
    cluster_id = min doc_id of the component (so the keeper is the row
    with doc_id == cluster_id, matching the keep-first-min-id semantics
    of every other dedup tier here), is_dup for the rest.

    Plan: min-label propagation — labels start as own id; each round
    every node takes the min of its own and its neighbors' labels; stop
    when a round changes nothing. Rounds = O(component diameter), and
    near-dup components are dense cliques from LSH buckets (diameter
    1–2), so this converges in 2–3 rounds even at corpus scale — each
    round one equi-join + one groupBy on (id), both AQE-planned. Lineage
    is truncated per round with a LAZY localCheckpoint whose
    materialization is the convergence aggregate itself: the 2-longs/row
    label frame is computed, cached, lineage-truncated AND scanned for
    "did anything change" in ONE job per round (the r4 shape paid two —
    an eager checkpoint job plus a limit(1) probe job — and that fixed
    cost dominated wall-time at small sf). An unbounded iterative plan
    without the truncation grows analysis time superlinearly.
    (GraphX/GraphFrames solve this generically; two longs and a loop
    need no extra runtime, and the alternating-star optimization is
    unnecessary at diameter ≤ 3.)

    Small-graph fast path: VERIFIED near-dup pairs are already
    LSH/prune-bounded upstream, so the edge list is usually tiny
    relative to the corpus (1.3k pairs at 50k docs in the sf1 sweep).
    One ``limit(bound+1).collect()`` probes the size; at or under
    ``driver_edge_bound`` edges the components come from a driver-side
    union-find (microseconds, ONE Spark job total) instead of paying
    2–3 propagation rounds of per-round job overhead — the same
    bounded-collect discipline as the IVF index sample. Larger graphs
    fall through to the distributed propagation unchanged, with only
    the bounded probe wasted. Identical output either way: cluster_id
    is the component-min id, an algorithm-independent quantity.
    """
    slim = pairs.select("doc_a", "doc_b")
    head = slim.limit(driver_edge_bound + 1).collect()
    if len(head) <= driver_edge_bound:
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in head:
            a, b = r["doc_a"], r["doc_b"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        cluster_min: dict = {}
        for n in parent:
            root = find(n)
            m = cluster_min.get(root)
            if m is None or n < m:
                cluster_min[root] = n
        id_t = pairs.schema["doc_a"].dataType
        schema = T.StructType(
            [
                T.StructField("doc_id", id_t),
                T.StructField("cluster_id", id_t),
                T.StructField("is_dup", T.BooleanType()),
            ]
        )
        rows = [
            (n, cluster_min[find(n)], n != cluster_min[find(n)]) for n in parent
        ]
        return pairs.sparkSession.createDataFrame(rows, schema)

    edges = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    edges = (
        edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("u").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    # Convergence check without a join: the round's aggregation carries
    # each node's OLD label alongside the new min (the old label is the
    # one row in the union coming from `labels` itself — min over a
    # column that is null on neighbor rows recovers it). The count_if
    # aggregate below is a FULL scan, so it fully materializes the lazy
    # checkpoint in the same job (a short-circuiting probe like
    # limit(1) would leave partitions uncomputed and the truncated
    # lineage unreplayable). Works for any orderable id type (doc ids
    # here are longs, clip ids are strings).
    label_t = labels.schema["label"].dataType
    for _ in range(max_iter):
        nbr = edges.join(
            labels.withColumnRenamed("doc_id", "v"), "v"
        ).select(
            F.col("u").alias("doc_id"),
            "label",
            F.lit(None).cast(label_t).alias("own_label"),
        )
        own = labels.select(
            "doc_id", "label", F.col("label").alias("own_label")
        )
        new = (
            own.unionByName(nbr)
            .groupBy("doc_id")
            .agg(
                F.min("label").alias("label"),
                F.min("own_label").alias("own_label"),
            )
            .localCheckpoint(eager=False)
        )
        changed = new.agg(
            F.count_if(F.col("label") != F.col("own_label")).alias("n")
        ).first()["n"]
        # Block release: Dataset.unpersist only drops cacheManager
        # entries and a localCheckpoint frame never has one, so there is
        # no API to free the previous round's blocks eagerly — they are
        # reclaimed by the ContextCleaner once the superseded frame is
        # GC'd (dropping the only reference here makes that prompt).
        # Bounded exposure: one 2-long/row label frame per in-flight
        # round, and the loop converges in O(diameter) ≈ 2–3 rounds.
        labels = new.drop("own_label")
        if changed == 0:
            break
    edges.unpersist()
    return labels.select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        (F.col("doc_id") != F.col("label")).alias("is_dup"),
    )


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns, computed with
    explicit left-fold aggregation (deterministic summation order)."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
    return dot / (na * nb)


# exact all-pairs is O(n²) compute BY DEFINITION — above this many
# vectors the caller almost certainly wants the candidate-generating
# tiers (minhash_verified_pairs for text, the ann IVF-PQ index for
# embeddings) with this operator as the verify stage over candidates
EMBED_EXACT_MAX = 1_000_000


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "blocked",
    n_blocks: int = 16,
    max_vectors: int = EMBED_EXACT_MAX,
    force: bool = False,
) -> DataFrame:
    """→ (id_a, id_b, cosine) pairs with cosine ≥ threshold, exact.

    strategy="fold": pure column-expression plan (per-pair zip_with fold).
    Engine-portable and oracle-checkable, but the lambda fold is
    interpreted per pair — the verification tier only.

    strategy="blocked" (default): blocked matrix-multiply. Vectors are
    bucketed into ``n_blocks`` blocks; each unordered block pair (bi ≤ bj)
    becomes one group whose members are shipped via an explode-join (each
    row is replicated to the ~n_blocks groups it participates in — the
    standard O(n·√P) shuffle of distributed all-pairs similarity), and a
    grouped Arrow UDF computes the block-vs-block cosine with one numpy
    GEMM. ~50× faster than the fold at 2k vectors and the shape that
    scales: shuffle volume grows with n·n_blocks, compute is
    embarrassingly parallel over n_blocks² groups.

    SIZE GUARD (same discipline as ivfpq_topk_from_index's bounded-Q
    contract): exact all-pairs is O(n²) compute no matter how it is
    distributed — a 10⁹-vector corpus is ~10¹⁸ dot products. Inputs
    above ``max_vectors`` raise unless ``force=True``; the size probe is
    a short-circuiting ``limit(max+1).count()`` (O(max) scan, never a
    full count of an arbitrarily large input). Route oversized corpora
    to the candidate tiers (minhash, the IVF-PQ index) and call this on
    the candidates only.
    """
    if not force:
        probe = emb.select(id_col).limit(max_vectors + 1).count()
        if probe > max_vectors:
            raise ValueError(
                f"embedding_neardup_pairs is the exact O(n²) verification "
                f"tier; input exceeds max_vectors={max_vectors}. Generate "
                "candidates with minhash_verified_pairs / the IVF-PQ index "
                "(ann.build_ivfpq_index + ann.ivfpq_topk_from_index) and "
                "verify those, or pass force=True."
            )
    if strategy == "fold":
        v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        base = emb.select(F.col(id_col).alias("id"), v.alias("v"))
        a, b = base.alias("a"), base.alias("b")
        return (
            a.join(b, F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                round6(cosine_expr(F.col("a.v"), F.col("b.v"))).alias("cosine"),
            )
            .where(F.col("cosine") >= threshold)
        )

    import numpy as np
    import pandas as pd

    base = emb.select(
        F.col(id_col).cast("bigint").alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_blocks)).alias("blk"),
    )
    spark = emb.sparkSession
    pair_rows = [(bi, bj) for bi in range(n_blocks) for bj in range(bi, n_blocks)]
    pairs = F.broadcast(
        spark.createDataFrame(pair_rows, "bi int, bj int")
    )
    # replicate each row into every block-pair group it belongs to
    sides = base.join(
        pairs, (F.col("blk") == F.col("bi")) | (F.col("blk") == F.col("bj"))
    ).select("bi", "bj", "id", "v", "blk")

    thr = float(threshold)

    def _block_cosine(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = key
        left = pdf[pdf["blk"] == bi]
        right = pdf[pdf["blk"] == bj]
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        A = np.stack(left["v"].to_numpy())
        B = np.stack(right["v"].to_numpy())
        An = A / np.linalg.norm(A, axis=1, keepdims=True)
        Bn = B / np.linalg.norm(B, axis=1, keepdims=True)
        # np.round is HALF-EVEN — a third rounding semantics next to
        # F.round (shortest-repr HALF_UP) and DuckDB round (binary
        # half-away). The floor form is the same IEEE ops in all three.
        C = np.floor(An @ Bn.T * 1e6 + 0.5) / 1e6
        ia, ib = np.nonzero(C >= thr)
        id_l = left["id"].to_numpy()[ia]
        id_r = right["id"].to_numpy()[ib]
        if bi == bj:
            keep = id_l < id_r  # left == right: upper triangle only
            id_l, id_r, cos = id_l[keep], id_r[keep], C[ia, ib][keep]
        else:
            cos = C[ia, ib]
        return pd.DataFrame(
            {
                "id_a": np.minimum(id_l, id_r),
                "id_b": np.maximum(id_l, id_r),
                "cosine": cos,
            }
        )

    return (
        sides.groupBy("bi", "bj")
        .applyInPandas(_block_cosine, "id_a bigint, id_b bigint, cosine double")
    )
