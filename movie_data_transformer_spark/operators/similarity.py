"""Similarity search over embedding columns (SURVEY.md §7 M5).

Embeddings are `array<float>` columns; all arithmetic happens JVM-side
with built-in higher-order functions (zip_with / aggregate) — no Python
in the scoring loop.

Scale design:
  - brute-force top-k is the exactness baseline: broadcast the (small)
    query set, score each corpus partition independently, take per-group
    top-k with a window — one shuffle keyed by query id. 100 TB note: the
    corpus side never shuffles; only (n_queries x k) rows move.
  - ivf_topk is the scale path: cluster-prune first (here: coarse
    centroids from the `label` column, i.e. a pre-assigned IVF list per
    vector), probe the nprobe nearest centroids per query, then exact
    top-k inside probed lists only — the classic IVF-Flat recipe.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector (self-matches
    excluded). Cosine rounded to 6 decimals BEFORE ranking so the ranking
    is reproducible across engines/partitionings (FP summation jitter
    stays below the rounding grain); neighbor id breaks exact ties."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
    )


def brute_force_topk_np(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Vectorized brute-force top-k: the numpy/Arrow fast path.

    The query matrix is broadcast to every task (Spark broadcast variable);
    each corpus partition computes a dense (chunk x queries) cosine matrix
    with one BLAS matmul inside mapInPandas, emits its LOCAL top-k per
    query, and a final window over (n_partitions x n_queries x k) rows
    picks the global top-k. Identical results to brute_force_topk (same
    rounding-before-rank contract); ~10x+ faster at scale because the
    scoring loop is BLAS, not expression-tree evaluation."""
    import numpy as np
    import pandas as pd

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)
    sc = corpus.sparkSession.sparkContext
    bq = sc.broadcast((q_ids, q_mat))

    out_schema = "query_id long, neighbor_id long, cos_sim double"

    def _score(batches):
        ids, qm = bq.value
        for pdf in batches:
            c_ids = pdf[id_col].to_numpy(dtype=np.int64)
            c_mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            c_mat /= np.linalg.norm(c_mat, axis=1, keepdims=True)
            sims = c_mat @ qm.T  # (chunk, n_queries)
            n_local = min(k + 1, len(c_ids))  # +1 covers a self-match
            top = np.argpartition(-sims, n_local - 1, axis=0)[:n_local]
            rows = {"query_id": [], "neighbor_id": [], "cos_sim": []}
            for j in range(len(ids)):
                for i in top[:, j]:
                    if c_ids[i] != ids[j]:
                        rows["query_id"].append(ids[j])
                        rows["neighbor_id"].append(int(c_ids[i]))
                        rows["cos_sim"].append(round(float(sims[i, j]), 6))
            yield pd.DataFrame(rows)

    local = corpus.select(id_col, vec_col).mapInPandas(_score, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return local.withColumn("rk", F.row_number().over(w).cast("int")).filter(
        F.col("rk") <= k
    )


def label_centroids(corpus: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Coarse IVF centroids: mean vector per label (posexplode + avg per
    dimension — one shuffle keyed by (label, dim))."""
    dims = corpus.select(
        "label", F.posexplode(F.col(vec_col)).alias("dim", "val")
    )
    return (
        dims.groupBy("label", "dim")
        .agg(F.avg(F.col("val").cast("double")).alias("cval"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "cval"))).alias("pairs"))
        .select(
            "label", F.transform("pairs", lambda p: p["cval"]).alias("centroid")
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: probe the nprobe closest label-centroids per
    query, exact-score only vectors in those lists. Recall measured in
    tests; the driver records a rows-only check (approximation is not
    SQL-reproducible bit-for-bit)."""
    cents = label_centroids(corpus, vec_col)
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("c_sim").desc(), F.col("label").asc()
    )
    probed = (
        q.join(F.broadcast(cents))
        .select(
            "query_id", "q_vec", "label", F.round(cosine(F.col("q_vec"), F.col("centroid")), 6).alias("c_sim")
        )
        .withColumn("p", F.row_number().over(probe_w))
        .filter(F.col("p") <= nprobe)
        .select("query_id", "q_vec", "label")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"), "label"
    )
    scored = probed.join(c, "label").filter(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rk", F.row_number().over(w).cast("int")).filter(F.col("rk") <= k)


def _plane_weight(p: int, d: int) -> float:
    """Deterministic pseudo-random weight in [-1, 1): derived from the
    md5-prefix hash of 'plane{p}:dim{d}' — the same portable-hash formula
    the engine uses in SQL, computed driver-side so the plan carries plain
    literals (a 256-term column-expression tree made analysis/codegen the
    bottleneck: 16s -> <2s)."""
    import hashlib

    h = int(hashlib.md5(f"plane{p}:dim{d}".encode()).hexdigest()[:8], 16)
    return (h % 2001 - 1000) / 1000.0


def hyperplane_signature(vec: Column, n_planes: int = 8, dim: int = 64) -> Column:
    """Random-hyperplane LSH signature: bit p = sign(<v, h_p>), planes
    fixed by _plane_weight (no RNG state — reproducible everywhere).
    Signature collisions approximate angular similarity."""
    sig = None
    for p in range(n_planes):
        weights = F.array(*[F.lit(_plane_weight(p, d)) for d in range(dim)])
        dot = F.aggregate(
            F.zip_with(vec, weights, lambda x, w: x.cast("double") * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bit = F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return sig.cast("int")


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH-bucketed ANN: score only corpus vectors whose hyperplane
    signature matches the query's (expected corpus fraction scanned:
    2^-n_planes per bucket). The second scale path besides IVF; recall
    measured in tests (approximate by construction -> rows-only)."""
    sig = lambda df, idc, vc: df.select(  # noqa: E731
        F.col(idc), F.col(vc), hyperplane_signature(F.col(vc), n_planes, dim).alias("_sig")
    )
    q = sig(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"), "_sig"
    )
    c = sig(corpus, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"), "_sig"
    )
    scored = (
        F.broadcast(q)
        .join(c, "_sig")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rk", F.row_number().over(w).cast("int")).filter(F.col("rk") <= k)


def augmented_embeddings(corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Embeddings + planted semantic near-duplicates, so embedding-space
    dedup has real work (the raw synthetic corpus tops out at cosine
    ~0.45): vectors 0-49 get a copy (id+100000) with even dimensions
    scaled by 1.2 — cosine vs the original ~0.99, far above any organic
    pair. Expression-only augmentation (mirrors dedup.augmented_corpus)."""
    near = corpus.filter(F.col(id_col) < 50).select(
        (F.col(id_col) + 100000).alias(id_col),
        F.transform(
            F.col(vec_col),
            lambda x, i: F.when(i % 2 == 0, x * F.lit(1.2)).otherwise(x * F.lit(1.0)),
        ).alias(vec_col),
        "label",
    )
    return corpus.select(id_col, vec_col, "label").unionAll(near)


def _assign_clusters(
    corpus: DataFrame, centroids, id_col: str, vec_col: str
) -> DataFrame:
    """Nearest-centroid assignment as a pure column expression: the k
    centroids are inlined as literal arrays (k x dim doubles — tiny), so
    assignment is map-side only, no join, no shuffle. Argmin via
    array_min over (distance, index) structs — deterministic tie-break on
    the lower cluster index."""
    entries = []
    for j, c in enumerate(centroids):
        cent = F.array(*[F.lit(float(v)) for v in c])
        d = F.aggregate(
            F.zip_with(
                F.col(vec_col), cent, lambda x, cv: (x.cast("double") - cv) * (x.cast("double") - cv)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        entries.append(F.struct(F.round(d, 9).alias("d"), F.lit(j).alias("j")))
    return corpus.withColumn("cluster", F.array_min(F.array(*entries))["j"].cast("int"))


def kmeans_assign(
    corpus: DataFrame,
    k: int = 8,
    n_iter: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd's k-means over an embedding column — the
    clustering stage of SemDeDup-style semantic dedup (Abbas et al. 2023)
    and of IVF index builds.

    Fully reproducible, partitioning-independent: centroids initialize to
    the embeddings of the k smallest ids; the iteration count is fixed;
    and the update step sorts each cluster's members by id before the
    numpy mean, so float summation order never depends on task layout.

    Per iteration: one map-side literal-centroid assignment (no shuffle)
    + one shuffle into k groups for the applyInPandas mean + a k-row
    collect. Centroid state is k x dim doubles on the driver — the same
    tiny-state design as MLlib's own KMeans. At 100 TB the shuffle
    carries only (vec, cluster) rows; with k clusters >> executor count,
    swap the final mean for a two-level avg (per-partition partial sums)
    — shape documented in SCALE.md."""
    import numpy as np
    import pandas as pd

    # each iteration launches a job (the k-row collect); persist so the
    # corpus lineage (scan + augmentation + widen shuffle) materializes
    # once instead of once per iteration
    corpus = corpus.persist()
    try:
        init = corpus.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
        cents = np.array([r[1] for r in init], dtype=np.float64)
        out_schema = "cluster int, centroid array<double>"

        def _mean(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(id_col)
            m = np.array(list(pdf[vec_col]), dtype=np.float64).mean(axis=0)
            return pd.DataFrame(
                {"cluster": [int(pdf["cluster"].iloc[0])], "centroid": [list(m)]}
            )

        for _ in range(n_iter):
            assigned = _assign_clusters(corpus, cents, id_col, vec_col)
            new = (
                assigned.select(id_col, vec_col, "cluster")
                .groupBy("cluster")
                .applyInPandas(_mean, out_schema)
                .collect()
            )
            for r in new:  # empty clusters keep their previous centroid
                cents[r["cluster"]] = np.asarray(r["centroid"], dtype=np.float64)
        return _assign_clusters(corpus, cents, id_col, vec_col)
    finally:
        # the cache only pays for itself across the iteration collects;
        # without this every registry invocation leaks a cached DataFrame
        # in the shared session for the process lifetime. The returned
        # (lazy) assignment replays the corpus lineage once when consumed.
        corpus.unpersist(blocking=False)


def semdedup_pairs(
    corpus: DataFrame,
    k: int = 8,
    n_iter: int = 4,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup: k-means the embedding space, then compare pairs ONLY
    within a cluster — near-duplicates (cosine >= threshold) land in the
    same cell, so the quadratic comparison is confined to cluster-sized
    blocks instead of the full corpus. Returns (vec_a, vec_b, cos_sim,
    cluster). Approximate by construction (a pair split across clusters
    is missed) -> rows-only driver check; recall vs brute force pinned
    in tests."""
    from movie_data_transformer_spark.operators.sizing import widen_for_compute

    assigned = kmeans_assign(
        widen_for_compute(corpus, id_col), k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col
    )
    a = assigned.select(
        F.col(id_col).alias("vec_a"), F.col(vec_col).alias("va"), "cluster"
    )
    b = assigned.select(
        F.col(id_col).alias("vec_b"), F.col(vec_col).alias("vb"), "cluster"
    )
    # broadcast the build side: a shuffle join on `cluster` would collapse
    # parallelism to k partitions (and skew with cluster sizes); with a
    # broadcast, each probe-side partition expands its own pairs and the
    # per-pair cosine runs at full width
    return (
        a.join(F.broadcast(b), "cluster")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos_sim"),
            "cluster",
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def cosine_near_pairs(
    corpus: DataFrame, threshold: float = 0.9, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Embedding near-duplicate pairs (cosine >= threshold). Exact
    definition is all-pairs; label blocking keeps it from being a cross
    join at scale (near-dups land in the same coarse cell)."""
    from movie_data_transformer_spark.operators.sizing import widen_for_compute

    wide = widen_for_compute(corpus, id_col)
    a = wide.select(F.col(id_col).alias("doc_a"), F.col(vec_col).alias("va"), F.col("label"))
    b = corpus.select(F.col(id_col).alias("doc_b"), F.col(vec_col).alias("vb"), F.col("label"))
    # broadcast the build side (|labels| is small -> a shuffle join would
    # run at |labels| parallelism); probe side stays wide
    return (
        a.join(F.broadcast(b), "label")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN — the memory-bound scale path: vectors are
# compressed to m sub-space codebook codes (here 8 codes x 16 centroids =
# 8 bytes per 64-d vector, a 32x compression), candidates are scored from
# the codes alone (asymmetric distance computation), and only the top
# candidates are re-ranked against the full vectors. At 100 TB the full
# vectors live in cold storage and only the code table (~1% the size) is
# scanned per query.
# ---------------------------------------------------------------------------


def _subvectors(df: DataFrame, id_alias: str, vec_col: str, m: int, dim: int) -> DataFrame:
    """One row per (vector, subspace): subspace index + the dim/m slice.
    Pure JVM slice expressions — no Python in the loop."""
    sub = dim // m
    slices = F.array(
        *[
            F.struct(
                F.lit(i).alias("sub"),
                F.slice(F.col(vec_col), i * sub + 1, sub).alias("subvec"),
            )
            for i in range(m)
        ]
    )
    return df.select(F.col("vec_id").alias(id_alias), F.explode(slices).alias("s")).select(
        id_alias, F.col("s.sub").alias("sub"), F.col("s.subvec").alias("subvec")
    )


def _l2(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double")) ** 2),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_train_codebooks(
    corpus: DataFrame, m: int = 8, ks: int = 16, dim: int = 64, vec_col: str = "embedding"
) -> DataFrame:
    """Deterministic per-subspace codebooks: seed centroids are the
    subvectors of the ks lowest vec_ids, refined by one Lloyd step
    (assign-all + per-dimension mean). Returns (sub, cid, centroid).
    Deterministic regardless of partitioning: seeds are fixed by id
    order, means are exact-by-construction up to FP-sum order only
    inside a (sub,cid,dim) group — acceptable for an ANN index (the
    registry entry is rows-only; recall is pinned in tests)."""
    seed_ids = [r[0] for r in corpus.select("vec_id").orderBy("vec_id").limit(ks).collect()]
    subs = _subvectors(corpus, "vid", vec_col, m, dim)
    rank = {v: i for i, v in enumerate(sorted(seed_ids))}
    seeds = (
        subs.filter(F.col("vid").isin(seed_ids))
        .replace(rank, subset=["vid"])  # vec_id -> dense cid 0..ks-1
        .select(F.col("sub"), F.col("vid").cast("int").alias("cid"), F.col("subvec").alias("centroid"))
    )
    aw = Window.partitionBy("vid", "sub").orderBy(F.asc("d2"), F.asc("cid"))
    assigned = (
        subs.join(F.broadcast(seeds), "sub")
        .withColumn("d2", F.round(_l2(F.col("subvec"), F.col("centroid")), 6))
        .withColumn("rn", F.row_number().over(aw))
        .filter(F.col("rn") == 1)
        .select("vid", "sub", "cid", "subvec")
    )
    return (
        assigned.select("sub", "cid", F.posexplode("subvec").alias("dim", "val"))
        .groupBy("sub", "cid", "dim")
        .agg(F.avg(F.col("val").cast("double")).alias("cval"))
        .groupBy("sub", "cid")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "cval"))).alias("pairs"))
        .select("sub", "cid", F.transform("pairs", lambda p: p["cval"]).alias("centroid"))
    )


def pq_encode(
    corpus: DataFrame, codebooks: DataFrame, m: int = 8, dim: int = 64, vec_col: str = "embedding"
) -> DataFrame:
    """(vec_id, sub, cid): each subvector quantized to its nearest
    codebook centroid (L2). The PQ 'index' — m small ints per vector."""
    subs = _subvectors(corpus, "vec_id", vec_col, m, dim)
    w = Window.partitionBy("vec_id", "sub").orderBy(F.asc("d2"), F.asc("cid"))
    return (
        subs.join(F.broadcast(codebooks), "sub")
        .withColumn("d2", F.round(_l2(F.col("subvec"), F.col("centroid")), 6))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "sub", "cid")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    ks: int = 16,
    dim: int = 64,
    rerank: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ ANN with exact re-rank: ADC-score every coded vector from the
    per-query (sub, cid) dot-product lookup table, keep the rerank*k best
    candidates, then exact-cosine re-rank just those. Output shape matches
    ivf_topk/brute_force_topk: (query_id, neighbor_id, cos_sim, rk).

    Scale shape: codebooks (m*ks rows) broadcast everywhere; the ADC join
    is codes (N*m rows, 3 small ints) x per-query tables (Q*m*ks rows) on
    (sub, cid) — the only big shuffle is the groupBy(query_id, neighbor_id)
    sum, on rows of 3 ints. Full vectors are touched only for Q*rerank*k
    candidate pairs."""
    # persisted: the m*ks-row codebook table is consumed by BOTH the
    # encode pass and the per-query ADC table build — uncached, each
    # re-runs the whole training derivation (seed + Lloyd step) over
    # the corpus
    codebooks = pq_train_codebooks(corpus, m=m, ks=ks, dim=dim, vec_col=vec_col).persist()
    codes = pq_encode(corpus, codebooks, m=m, dim=dim, vec_col=vec_col)
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    qsubs = _subvectors(
        queries.select(F.col(id_col).alias("vec_id"), F.col(vec_col)), "query_id", vec_col, m, dim
    )
    # per-query ADC lookup table: partial dot of each codebook centroid
    table = qsubs.join(F.broadcast(codebooks), "sub").select(
        "query_id", "sub", "cid", _dot(F.col("subvec"), F.col("centroid")).alias("part_dot")
    )
    approx = (
        codes.withColumnRenamed("vec_id", "neighbor_id")
        .join(table, ["sub", "cid"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("part_dot"), 6).alias("adc_dot"))
    )
    cw = Window.partitionBy("query_id").orderBy(F.desc("adc_dot"), F.asc("neighbor_id"))
    cands = approx.withColumn("crn", F.row_number().over(cw)).filter(
        F.col("crn") <= rerank * k
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    rw = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        cands.join(c, "neighbor_id")
        .join(q, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cos_sim"),
        )
        .withColumn("rk", F.row_number().over(rw).cast("int"))
        .filter(F.col("rk") <= k)
    )


def frozen_centroids_micro(
    seed: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Frozen IVF coarse centroids in EXACT integer micro-units:
    (label, centroid_micro array<bigint>). v_micro = floor(double(v) *
    1e6) — floor of an identical IEEE double is bit-identical across
    engines (unlike round, whose midpoint handling diverges — NOTES.md);
    the per-dimension mean is truncating integer division (Spark `div`
    == DuckDB `//` on signed bigints, probed in functions/core.py). The
    whole centroid table is therefore engine- AND partitioning-exact,
    which is what lets incremental cell assignment carry a full DuckDB
    oracle while ivf_topk's double-avg centroids stay rows-only."""
    dims = seed.select("label", F.posexplode(F.col(vec_col)).alias("dim", "val")).selectExpr(
        "label",
        "dim",
        "CAST(floor(CAST(val AS DOUBLE) * 1000000) AS BIGINT) AS vm",
    )
    return (
        dims.groupBy("label", "dim")
        .agg(F.expr("sum(vm) div count(*)").alias("cm"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "cm"))).alias("_p"))
        .selectExpr("label", "transform(_p, x -> x.cm) AS centroid_micro")
    )


def ivf_assign_incremental(
    seed: DataFrame,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental ANN index maintenance — the vector-store mirror of
    incremental_minhash_pairs_from_index: a production store continuously
    ingests embeddings into an IVF index whose coarse centroids are
    FROZEN (retrained offline, not per ingest). Per batch: assign each
    new vector to its nearest centroid (broadcast 10-row centroid table,
    row-local exact integer L2 — no shuffle, no state read) and append
    the (cell, vec_id) rows to the cell-partitioned index; the query
    path (ivf_topk) probes cells exactly as before. Assignment is
    stateless per row, so any micro-batch slicing yields the same index
    (the same append-only machinery as streaming/dedup_stream.py
    composes it into a stream).

    Returns (vec_id, cell, dist_micro): nearest label and its exact
    squared-L2 distance in micro^2 units — fully DuckDB-oracle-checked,
    unlike the approximate ANN entries (exact integer math end-to-end:
    floor-micro quantization, truncating-division centroids, bigint
    distance fold, min(struct) argmin with label tiebreak)."""
    return ivf_assign_from_centroids(
        frozen_centroids_micro(seed, vec_col), batch, id_col, vec_col
    )


def ivf_assign_from_centroids(
    cents: DataFrame,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assignment against an ALREADY-FROZEN centroid table — the form the
    streaming ingest uses (centroids computed once, localCheckpoint'd,
    broadcast into every micro-batch; per-trigger work is map-side only)."""
    b = batch.selectExpr(
        f"{id_col}",
        f"transform({vec_col}, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS _vm",
    )
    scored = b.join(F.broadcast(cents)).selectExpr(
        id_col,
        "label",
        "aggregate(zip_with(_vm, centroid_micro, (x, c) -> (x - c) * (x - c)),"
        " 0L, (a, x) -> a + x) AS dist_micro",
    )
    return (
        scored.groupBy(id_col)
        .agg(F.min(F.struct("dist_micro", "label")).alias("_b"))
        .selectExpr(id_col, "CAST(_b.label AS INT) AS cell", "_b.dist_micro AS dist_micro")
    )
