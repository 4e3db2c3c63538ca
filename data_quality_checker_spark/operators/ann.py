"""Similarity search over an embedding column (array<float>).

Two tiers, per the standard large-corpus design (Faiss-style):

* ``cosine_topk`` — exact brute-force top-k (broadcast-Q crossJoin +
  windowed row_number). O(Q·N) — the verification baseline, and the
  right tool when Q (queries) is small: Spark broadcasts the Q side so
  the scan of the N side stays embarrassingly parallel with NO shuffle
  of the corpus. On small corpora it is also the fastest tier.

* ``build_ivfpq_index`` / ``ivfpq_topk_from_index`` — product-quantized
  inverted file (Jégou/Douze/Schmid 2011, the Faiss IVFPQ design) with
  an exact refine: postings store pq_m one-byte residual codes instead
  of raw vectors (32× smaller at dim 64, pq_m=16), scoring is per-query
  LUT lookups (ADC) inside mapInPandas over a partition-pruned read, and
  the top ``k·refine_mult`` ADC candidates are re-ranked by exact cosine
  against the raw vectors. The one approximate index: measured recall@5
  0.94 / 1.0 / 1.0 in the general, mid and near-dup regimes at sf0.1
  and sf1 (BENCH ``ann_ivfpq_recall``, ``_mid``, ``_neardup``), never
  more than 0.02 below the sign-LSH and raw-vector IVF tiers it
  replaced in any regime.

Both tiers rank through one exact stage (``_exact_topk``) and return
the same (query_id, neighbor_id, rank, cosine): precision is exact,
only the IVF-PQ tier's recall is approximate.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType

from .simdedup import cosine_expr
from .text import portable_hash64, round6

IVF_CENTROIDS = 128
IVF_SAMPLE = 4096

# Defaults measured in this corpus' hard general regime (true neighbors
# at cosine≈0.37 — PQ distortion is comparable to the neighbor gap, the
# worst case for ADC). PQ_M=16 (dsub=4, 32× compression at dim 64)
# halves the residual quantization distortion vs pq_m=8, which lifts
# sf0.1 recall 0.66 → 0.94 at IVF_NPROBE=64. ivfpq_topk_from_index's
# refine_mult=24 sizes the exact re-rank pool (k·24 = 120 rows/query —
# O(Q·k·dim) work, INDEPENDENT of corpus size): a 10× sweep showed the
# ADC top-40 pool (refine_mult=8) thin as distractor density grows
# (recall 0.94 at 2k vectors → 0.88 at 20k); 120 candidates restore
# 0.94 at 20k and leave sf0.1 recall and wall time unchanged.
IVF_NPROBE = 64
PQ_M = 16    # subspaces (codes per vector, one byte each)
PQ_KS = 256  # entries per subspace codebook (fits a uint8 code)


def _as_double(vec_col: str) -> Column:
    return F.transform(F.col(vec_col), lambda x: x.cast("double"))


def _top(scored: DataFrame, by: str, k: int) -> DataFrame:
    """Per-query top-k of ``scored`` by descending ``by``; ties broken by
    neighbor_id for determinism. Adds ``rank``."""
    w = Window.partitionBy("query_id").orderBy(F.desc(by), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _exact_topk(pairs: DataFrame, k: int) -> DataFrame:
    """(query_id, qv, neighbor_id, nv) pairs → exact-cosine top-k
    (query_id, neighbor_id, rank, cosine), self-matches excluded. Each
    (query_id, neighbor_id) must arrive at most once: the crossJoin and
    the single-assignment IVF-PQ postings both guarantee it."""
    scored = pairs.where(F.col("neighbor_id") != F.col("query_id")).select(
        "query_id",
        "neighbor_id",
        round6(cosine_expr(F.col("qv"), F.col("nv"))).alias("cosine"),
    )
    return _top(scored, "cosine", k).select("query_id", "neighbor_id", "rank", "cosine")


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k: → (query_id, neighbor_id, rank,
    cosine). ``queries`` must be small — it is explicitly broadcast."""
    base = emb.select(F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("nv"))
    q = queries.select(F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv"))
    return _exact_topk(base.crossJoin(F.broadcast(q)), k)


# ---------------------------------------------------------------------------
# IVF-PQ: product-quantized inverted file
# ---------------------------------------------------------------------------
#
# Product quantization (Jégou, Douze & Schmid, "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011 — the Faiss IVFPQ design, public)
# replaces each RESIDUAL (vector − its coarse centroid) with ``pq_m``
# one-byte codes: 64-dim float64 postings (512 B) become 16 bytes, so
# the postings for a trillion vectors fit the cluster's aggregate page
# cache instead of thrashing storage.
#
# Scoring is asymmetric (ADC): cosine(q, x) ≈ q·c_cid + Σ_j LUT_q[j][code_j]
# where LUT_q[j] = codebook_j @ q_sub_j. The LUT depends ONLY on the
# query (residual codebooks are global, and the identity
# q·x = q·c + q·(x−c) is exact), so each query ships one (pq_m × ks)
# float table to the executors; scanning a posting costs pq_m table
# lookups — no floating GEMM against raw vectors at all.


def _driver_sample(
    emb: DataFrame, sample_n: int, id_col: str, vec_col: str
) -> np.ndarray:
    """Bounded deterministic unit-norm training sample (ordered by the
    portable hash of the id — stable across runs/engines, diverse
    across the keyspace). Only ≤ sample_n rows ever reach the driver;
    at any corpus scale this is a TakeOrdered over a column-pruned
    scan. Faiss trains its coarse/PQ quantizers on a capped sample the
    same way. A zero-row corpus gives a (0, 0) sample."""
    rows = (
        emb.select(F.col(id_col).cast("string").alias("i"), _as_double(vec_col).alias("v"))
        .orderBy(portable_hash64(F.col("i")))
        .limit(sample_n)
        .collect()
    )
    if not rows:  # a 1-D empty array has no axis 1 to normalize over
        return np.empty((0, 0))
    x = np.array([r["v"] for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    return x


def _bincount_means(
    assign: np.ndarray, pts: np.ndarray, k: int, out: np.ndarray
) -> None:
    """Cluster means via per-dim weighted bincount (no per-cluster
    boolean-mask passes); clusters with no members keep ``out``'s
    previous centroid."""
    counts = np.bincount(assign, minlength=k).astype(np.float64)
    sums = np.empty((k, pts.shape[1]), dtype=np.float64)
    for d in range(pts.shape[1]):
        sums[:, d] = np.bincount(assign, weights=pts[:, d], minlength=k)
    nz = counts > 0
    out[nz] = sums[nz] / counts[nz, None]


def fit_ivf_centroids(
    x: np.ndarray, n_centroids: int = IVF_CENTROIDS, iters: int = 15, seed: int = 1
) -> np.ndarray:
    """Train unit-norm coarse centroids with seeded spherical k-means on
    the driver sample ``x`` (see _driver_sample)."""
    rng = np.random.default_rng(seed)
    c = x[rng.choice(len(x), min(n_centroids, len(x)), replace=False)].copy()
    for _ in range(iters):
        assign = np.argmax(x @ c.T, axis=1)
        _bincount_means(assign, x, len(c), c)
        c /= np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    return c


def fit_pq_codebooks(
    x: np.ndarray,
    centroids: np.ndarray,
    pq_m: int = PQ_M,
    ks: int = PQ_KS,
    iters: int = 15,
    seed: int = 2,
) -> np.ndarray:
    """Train per-subspace residual codebooks on the driver sample ``x``
    → (pq_m, ks', dim/pq_m) array (ks' = min(ks, sample rows))."""
    dim = x.shape[1]
    if dim % pq_m:
        raise ValueError(f"dim {dim} not divisible by pq_m {pq_m}")
    dsub = dim // pq_m
    resid = x - centroids[np.argmax(x @ centroids.T, axis=1)]
    rng = np.random.default_rng(seed)
    ks_eff = min(ks, len(x))
    books = np.empty((pq_m, ks_eff, dsub), dtype=np.float64)
    for j in range(pq_m):
        sub = resid[:, j * dsub : (j + 1) * dsub]
        c = sub[rng.choice(len(sub), ks_eff, replace=False)].copy()
        for _ in range(iters):
            # argmin ||s-c||² == argmin (||c||² - 2 s·c): the ||s||² term
            # is constant per row, so one GEMM replaces the
            # sample×ks×dsub broadcast tensor (the fit was ~5 s of pure
            # memory traffic at pq_m=16; deterministic either way)
            assign = np.argmin(
                (c * c).sum(axis=1)[None, :] - 2.0 * (sub @ c.T), axis=1
            )
            _bincount_means(assign, sub, ks_eff, c)
        books[j] = c
    return books


def _pq_encode_udf(centroids: np.ndarray, codebooks: np.ndarray):
    """Arrow UDF: vector batch → struct(cid, codes): nearest coarse
    centroid + per-subspace nearest residual codebook entry. One GEMM
    for assignment plus pq_m small distance computations per batch —
    no per-row Python."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [
            StructField("cid", IntegerType()),
            StructField("codes", ArrayType(IntegerType())),
        ]
    )
    c_t = centroids.T.copy()
    pq_m, ks_eff, dsub = codebooks.shape
    # ||codebook entry||² per (j, t): reused by every batch's argmin
    cb_sq = (codebooks**2).sum(axis=2)  # (pq_m, ks)

    @pandas_udf(schema)
    def enc(batch: pd.Series) -> pd.DataFrame:
        if len(batch) == 0:  # zero-row Arrow batch → 1-D array, no axis=1
            return pd.DataFrame({"cid": pd.Series([], dtype="int32"),
                                 "codes": pd.Series([], dtype=object)})
        v = np.array(batch.tolist(), dtype=np.float64)
        if v.ndim != 2:
            raise ValueError(
                f"embedding vectors must share one length; got batch shape {v.shape}"
            )
        v /= np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-12)
        cid = np.argmax(v @ c_t, axis=1)
        resid = v - centroids[cid]
        codes = np.empty((len(v), pq_m), dtype=np.int32)
        for j in range(pq_m):
            sub = resid[:, j * dsub : (j + 1) * dsub]
            # argmin ||sub - c||² = argmin (||c||² - 2 sub·c): one GEMM
            d = cb_sq[j][None, :] - 2.0 * (sub @ codebooks[j].T)
            codes[:, j] = np.argmin(d, axis=1)
        return pd.DataFrame(
            {"cid": cid.astype("int32"), "codes": list(codes)}
        )

    return enc


def build_ivfpq_index(
    emb: DataFrame,
    path: str,
    n_centroids: int = IVF_CENTROIDS,
    pq_m: int = PQ_M,
    ks: int = PQ_KS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[np.ndarray, np.ndarray]:
    """Materialize the PQ index — the production shape (Faiss: train
    once, add once, search many):

    * ``{path}/assigned/cid=K/...`` — postings of (neighbor_id, codes)
      ONLY, pq_m ints per row, never the raw vector; **partitioned by
      cid**, so a probe reads ONLY its probed partitions (manifest-level
      pruning — at 10^12 rows a 64-of-4096-centroid probe touches <2% of
      files). Single assignment: residuals are relative to the OWN
      cell's centroid, recall is bought with nprobe at query time.
    * ``{path}/quantizers.npz`` — the coarse centroids and the residual
      codebooks, both fit on one bounded driver sample.

    A zero-row corpus gives an index with no cells, whose probes return
    zero rows. Returns (centroids, codebooks)."""
    import os

    x = _driver_sample(emb, IVF_SAMPLE, id_col, vec_col)
    if len(x):
        centroids = fit_ivf_centroids(x, n_centroids)
        codebooks = fit_pq_codebooks(x, centroids, pq_m=pq_m, ks=ks)
    else:
        centroids, codebooks = np.empty((0, 0)), np.empty((pq_m, 0, 0))
    enc = _pq_encode_udf(centroids, codebooks)
    (
        emb.select(F.col(id_col).alias("neighbor_id"), enc(F.col(vec_col)).alias("e"))
        .select("neighbor_id", F.col("e.cid").alias("cid"), F.col("e.codes").alias("codes"))
        .write.mode("overwrite")
        .partitionBy("cid")
        .parquet(f"{path}/assigned")
    )
    tmp = f"{path}/quantizers.tmp.npz"
    np.savez(tmp, centroids=centroids, codebooks=codebooks)
    os.replace(tmp, f"{path}/quantizers.npz")
    return centroids, codebooks


def ivfpq_topk_from_index(
    spark,
    path: str,
    queries: DataFrame,
    refine_emb: DataFrame,
    k: int = 5,
    nprobe: int = IVF_NPROBE,
    refine_mult: int = 24,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe the PQ index: partition-pruned read of the probed ``cid=``
    postings, ADC scoring inside mapInPandas (per-query LUT lookups —
    zero raw-vector math on the scan), then Faiss's refine stage: the
    top ``k·refine_mult`` ADC candidates per query are re-ranked by
    exact cosine against ``refine_emb``'s raw vectors — an equi-join on
    neighbor_id touching only Q·k·refine_mult rows.

    → (query_id, neighbor_id, rank, cosine), as ``cosine_topk``.
    Queries are collected driver-side (bounded-Q contract: ≤ IVF_SAMPLE
    rows enforced)."""
    with np.load(f"{path}/quantizers.npz") as z:
        centroids, codebooks = z["centroids"], z["codebooks"]
    qrows = queries.select(
        F.col(id_col).alias("qid"), _as_double(vec_col).alias("qv")
    ).limit(IVF_SAMPLE + 1).collect()
    if len(qrows) > IVF_SAMPLE:
        raise ValueError(f"query batch exceeds the bounded-Q contract ({IVF_SAMPLE})")
    if not qrows or not len(centroids):  # empty query batch or zero-row corpus
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, rank int, cosine double"
        )
    qids = np.array([r["qid"] for r in qrows])
    qv = np.array([r["qv"] for r in qrows], dtype=np.float64)
    qv /= np.maximum(np.linalg.norm(qv, axis=1, keepdims=True), 1e-12)
    qc = qv @ centroids.T                      # (Q, ncent) coarse terms
    nprobe = min(nprobe, qc.shape[1])
    probe = np.argpartition(-qc, nprobe - 1, axis=1)[:, :nprobe]
    pq_m, ks_eff, dsub = codebooks.shape
    # (Q, pq_m, ks) LUTs: q_sub_j · codebook_j[t]
    luts = np.einsum(
        "qjd,jtd->qjt", qv.reshape(len(qv), pq_m, dsub), codebooks
    )
    probe_map: dict[int, list[int]] = {}
    for qi, cids in enumerate(probe):
        for c in cids:
            probe_map.setdefault(int(c), []).append(qi)

    assigned = spark.read.parquet(f"{path}/assigned").where(
        F.col("cid").isin(sorted(probe_map))
    )

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            out_q, out_n, out_s = [], [], []
            for cid, grp in pdf.groupby("cid"):
                qis = probe_map.get(int(cid))
                if not qis:
                    continue
                codes = np.array(list(grp["codes"]), dtype=np.int64)  # (n, pq_m)
                nid = grp["neighbor_id"].to_numpy()
                jj = np.arange(pq_m)
                for qi in qis:
                    s = qc[qi, int(cid)] + luts[qi][jj[:, None], codes.T].sum(axis=0)
                    out_q.append(np.full(len(nid), qids[qi]))
                    out_n.append(nid)
                    out_s.append(s)
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_n),
                        "score": np.concatenate(out_s),
                    }
                )

    scored = assigned.mapInPandas(
        score, "query_id long, neighbor_id long, score double"
    ).where(F.col("neighbor_id") != F.col("query_id"))
    top = _top(scored, "score", k * refine_mult)
    # .tolist() yields native Python floats/ints: list(np_row) keeps
    # np.float64 elements, which createDataFrame's verifier rejects when
    # Arrow conversion is OFF (the driver harness runs without Arrow).
    qdf = spark.createDataFrame(
        pd.DataFrame({"query_id": qids.tolist(), "qv": [v.tolist() for v in qv]}),
        "query_id long, qv array<double>",
    )
    nv = refine_emb.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("nv")
    )
    cand = (
        top.select("query_id", "neighbor_id")
        .join(nv, "neighbor_id")
        .join(F.broadcast(qdf), "query_id")
    )
    return _exact_topk(cand, k)
