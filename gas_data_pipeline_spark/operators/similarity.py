"""Vector similarity operators (SURVEY §2.11 X2): exact cosine top-k
and near-dup pairs, hash-bucketed approximate top-k, and one
quantized-index pipeline for IVF, PQ and IVF-PQ.

Exact kernels — block-partitioned GEMM, the distributed
dense-similarity formulation:

- Vectors are packed into per-block matrix rows (``applyInPandas``:
  one row per block carrying ids + a flattened float64 matrix). A
  cross join of blocks (P² rows for near-dup, P rows vs one packed
  query block for top-k) moves each block ~2P times, where a pair
  cross join duplicates every vector once per PAIR (~N times).
- Each block pair scores with ONE `A @ B.T` — BLAS-rate.
- Top-k emits only k rows per (query, corpus-block) map-side — the
  shuffle into the final per-query window is O(P·Q·k), never O(N·Q).

Hash buckets: ``cosine_topk_lsh`` (seeded multi-table random
hyperplanes, rows-only checkable) and the sign-signature twins
``cosine_topk_signed`` / ``semantic_bucket_near_dup`` (plain SQL on the
stored floats, so they value-oracle). Candidates score with the
sequential-fold :func:`cosine`.

Quantized index — ONE pipeline::

    train -> route -> encode -> score (ADC) -> [exact rescore] -> top-k

- Train: two trainers produce the same :class:`AnnModel` — coarse
  centers and/or PQ codebooks, plus whether the centers live on raw or
  on unit vectors. :func:`kmeans_model` is seeded spherical k-means
  (driver numpy up to ``driver_train_bound`` training rows,
  distributed ``pyspark.ml`` KMeans above). The k-center trainer is
  the bounded md5 sample plus greedy selection
  (``selection.kcenter_greedy_sampled`` for centers,
  :func:`pq_kcenter_codebooks_sampled` for codebooks), exactly
  replayable in SQL.
- Route: corpus rows go to their nearest center
  (``selection.assign_to_centers``), queries to their ``n_probe``
  nearest (:func:`probe_cells`); fixed-point argmin, ties to the
  smaller center id.
- Encode: per-subspace fixed-point argmin over the codeword literals
  (:func:`_pq_codes_sql`).
- Score: IVF candidates take the exact :func:`cosine`; PQ candidates
  one ADC expression — per query an (m x n_codes) table of quantized
  subspace dot products, per candidate m integer lookups.
- Rescore: PQ's bounded ADC pool is re-scored with the exact
  fixed-point dot of the unit vectors and re-ranked.

:func:`build_index` (route + encode: one zero-shuffle scan) is the
build half and :func:`ann_topk` the search half. Every stage after
training is native expressions or generated SQL — no Python worker,
the fused-SQL scoring argued for by "ML Inference Pipeline Execution
Using Pure SQL Based on Operator Fusion" (ICDE 2025) — so a k-center
model's whole answer replays in DuckDB. The six
``cosine_topk_{ivf,pq,ivfpq}[_kcenter]`` names are configurations:
the plain ones train k-means (``GasDataEngine.search_similar``
'ivf'/'pq'/'ivfpq', the rows-only ``ann_ivfpq``), the ``_kcenter``
ones take k-center models (``ann_ivf``, ``ann_pq``,
``ann_pq_rescored``, ``ann_ivfpq_kcenter``, ``ann_ivfpq_rescored``).

All pandas UDF / applyInPandas closures are factory-scoped and
self-contained so cloudpickle ships them by value — executors never
import this package.
"""

from __future__ import annotations

import logging
from typing import NamedTuple

import numpy as np
import pandas as pd  # module-level: pandas_udf resolves string type hints here
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gas_data_pipeline_spark.functions.exprs import bind
from gas_data_pipeline_spark.operators.selection import (
    KC_SAMPLE_N,
    KC_SAMPLE_SEED,
    _fp_halfup,
    assign_to_centers,
    center_cands_sql,
    dlit,
    fp_round_sql,
    json_lit,
    kcenter_greedy_local,
    spread_small_scan,
    sq_dist_fp,
)

_log = logging.getLogger(__name__)

BLOCK_SCHEMA = "block int, ids array<bigint>, mat array<double>, dim int"


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i in double, sequential fold (bit-deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def pack_blocks(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_blocks: int,
) -> DataFrame:
    """Pack (id, vector) rows into ``n_blocks`` matrix rows:
    ``(block, ids, row-major float64 mat, dim)``. Rows are sorted by id
    within a block so packing is deterministic. Block assignment hashes
    the id — stable and uniform; one shuffle on the block key."""

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values("__id")
        mat = np.stack(pdf["__vec"].to_numpy()).astype(np.float64)
        return pd.DataFrame(
            {
                "block": [int(pdf["__block"].iloc[0])],
                "ids": [pdf["__id"].tolist()],
                "mat": [mat.ravel().tolist()],
                "dim": [mat.shape[1]],
            }
        )

    packed = df.select(
        F.col(id_col).cast("bigint").alias("__id"),
        F.col(vec_col).alias("__vec"),
        # pmod, not abs(hash)%n: abs(INT_MIN) throws under ANSI mode.
        F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks)).alias("__block"),
    )
    return packed.groupBy("__block").applyInPandas(pack, schema=BLOCK_SCHEMA)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_blocks: int = 16,
) -> DataFrame:
    """Exact brute-force top-k neighbors per query vector.

    Returns (query_id, neighbor_id, rank, cos_sim). The query set packs
    into ONE block row broadcast against corpus blocks; each pair
    scores with a single GEMM and emits only the per-block top-k, so
    the final window sees O(blocks · queries · k) rows."""
    cb = pack_blocks(corpus, id_col, vec_col, n_blocks)
    qb = pack_blocks(queries, id_col, vec_col, 1).select(
        F.col("ids").alias("q_ids"),
        F.col("mat").alias("q_mat"),
        F.col("dim").alias("q_dim"),
    )
    paired = cb.crossJoin(F.broadcast(qb))

    def score(batches):
        import numpy as np

        for pdf in batches:
            out = {"query_id": [], "neighbor_id": [], "cos_sim": []}
            for row in pdf.itertuples():
                dim = int(row.dim)
                A = np.asarray(row.mat, dtype=np.float64).reshape(-1, dim)
                Q = np.asarray(row.q_mat, dtype=np.float64).reshape(-1, dim)
                a_ids = np.asarray(row.ids, dtype=np.int64)
                q_ids = np.asarray(row.q_ids, dtype=np.int64)
                A = A / np.linalg.norm(A, axis=1, keepdims=True)
                Q = Q / np.linalg.norm(Q, axis=1, keepdims=True)
                S = Q @ A.T  # (queries, block_rows)
                S = np.where(q_ids[:, None] == a_ids[None, :], -np.inf, S)
                top = min(k, S.shape[1])
                # argpartition: O(n) per query for the block top-k.
                idx = np.argpartition(-S, top - 1, axis=1)[:, :top]
                for qi in range(S.shape[0]):
                    cols = idx[qi]
                    cols = cols[np.isfinite(S[qi, cols])]
                    out["query_id"].extend([q_ids[qi]] * len(cols))
                    out["neighbor_id"].extend(a_ids[cols].tolist())
                    out["cos_sim"].extend(S[qi, cols].tolist())
            yield pd.DataFrame(out)

    scored = paired.mapInPandas(
        score, schema="query_id bigint, neighbor_id bigint, cos_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    n_blocks: int = 8,
) -> DataFrame:
    """X1 embedding-cosine near-dup: all pairs (a<b) above threshold.

    Exact O(N²) *comparisons* — but via block-pair GEMM: P·(P+1)/2
    block pairs, one matrix multiply each, emitting only qualifying
    pairs. The correctness baseline the LSH path is tested against; at
    scale run LSH first and this kernel only within buckets."""
    blocks = pack_blocks(df, id_col, vec_col, n_blocks)
    a = blocks.select(
        F.col("block").alias("block_a"),
        F.col("ids").alias("ids_a"),
        F.col("mat").alias("mat_a"),
        "dim",
    )
    b = blocks.select(
        F.col("block").alias("block_b"),
        F.col("ids").alias("ids_b"),
        F.col("mat").alias("mat_b"),
        F.col("dim").alias("dim_b"),
    )
    # One task per block pair (see jaccard_pairs_bitset_gemm): AQE
    # coalesces the tiny-byte join output onto 1-2 tasks, serializing
    # the per-pair GEMMs; round-robin restores the fan-out.
    paired = a.join(b, F.col("block_a") <= F.col("block_b")).repartition(
        n_blocks * (n_blocks + 1) // 2
    )

    def score(batches):
        import numpy as np

        for pdf in batches:
            out = {"id_a": [], "id_b": [], "cos_sim": []}
            for row in pdf.itertuples():
                dim = int(row.dim)
                A = np.asarray(row.mat_a, dtype=np.float64).reshape(-1, dim)
                B = np.asarray(row.mat_b, dtype=np.float64).reshape(-1, dim)
                ia = np.asarray(row.ids_a, dtype=np.int64)
                ib = np.asarray(row.ids_b, dtype=np.int64)
                A = A / np.linalg.norm(A, axis=1, keepdims=True)
                B = B / np.linalg.norm(B, axis=1, keepdims=True)
                S = A @ B.T
                keep = S >= threshold
                if row.block_a == row.block_b:
                    # Diagonal block: both sides are the same set —
                    # dedup the unordered pair by id order here.
                    keep &= ia[:, None] < ib[None, :]
                r, c = np.nonzero(keep)
                left, right = ia[r], ib[c]
                # Off-diagonal pairs appear once (each unordered block
                # pair joins once) but in arbitrary id order —
                # canonicalize to id_a < id_b on emission.
                lo = np.minimum(left, right)
                hi = np.maximum(left, right)
                out["id_a"].extend(lo.tolist())
                out["id_b"].extend(hi.tolist())
                out["cos_sim"].extend(S[r, c].tolist())
            yield pd.DataFrame(out)

    return paired.mapInPandas(
        score, schema="id_a bigint, id_b bigint, cos_sim double"
    )


def _top_k(scored: DataFrame, score: str, k: int, *out: Column | str) -> DataFrame:
    """Per-query top-k: rank ``score`` DESC, ties to the smaller
    neighbor_id (the oracles' ORDER BY), keep ranks <= k, return
    (query_id, neighbor_id, rank, *out)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score).desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", *out)
    )


def rp_lsh_table_buckets(
    dim: int,
    n_tables: int,
    n_planes: int,
    seed: int = 42,
):
    """Arrow-vectorized multi-table LSH signatures: vector in,
    ``array<bigint>`` of ``n_tables`` bucket ids out. All
    n_tables·n_planes projections happen in ONE GEMM per Arrow batch
    (vs n_tables·n_planes interpreted dot-product folds per row).
    Factory-scoped; ships by value."""
    from pyspark.sql.functions import pandas_udf

    rng = np.random.default_rng(seed)
    planes = rng.normal(size=(n_tables * n_planes, dim))
    weights = (1 << np.arange(n_planes - 1, -1, -1, dtype=np.int64))

    @pandas_udf("array<bigint>")
    def buckets(vec: pd.Series) -> pd.Series:
        import numpy as np

        V = np.stack(vec.to_numpy()).astype(np.float64)  # (rows, dim)
        signs = (V @ planes.T) >= 0  # (rows, tables*planes)
        bits = signs.reshape(len(V), n_tables, n_planes).astype(np.int64)
        codes = (bits * weights).sum(axis=2)  # (rows, tables)
        return pd.Series(list(codes))

    return buckets


def rp_lsh_tables(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_tables: int,
    n_planes: int,
    seed: int = 42,
) -> DataFrame:
    """Multi-table random-hyperplane LSH: ``n_tables`` independent
    sign-bit signatures of ``n_planes`` hyperplanes each. Each row fans
    out to ``n_tables`` (table, bucket) keys via ``posexplode`` —
    candidate recall is the union over tables: 1-(1-p^planes)^tables,
    the classic recall/cost dial (more tables → recall, more planes →
    selectivity). Narrow op (fan-out is linear, no shuffle)."""
    bucketer = rp_lsh_table_buckets(dim, n_tables, n_planes, seed)
    return df.select(
        "*", F.posexplode(bucketer(F.col(vec_col))).alias("table", "bucket")
    )


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    dim: int = 64,
    n_tables: int = 8,
    n_planes: int = 6,
) -> DataFrame:
    """Approximate top-k: candidates are rows sharing any (table,
    bucket) key with the query — an equi-join replaces the cross
    product, probing ~n_tables/2^n_planes of the corpus — scored with
    the exact sequential-fold :func:`cosine`. Recall < 1 by design;
    tested against cosine_topk ground truth (tests/test_northstar.py)."""
    cb = rp_lsh_tables(corpus, vec_col, dim, n_tables, n_planes).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"), "table", "bucket"
    )
    qb = rp_lsh_tables(queries, vec_col, dim, n_tables, n_planes).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"), "table", "bucket"
    )
    # No forced broadcast of the probe side: AQE broadcasts it when
    # small and falls back to a (skew-splittable) shuffle join when the
    # query set is corpus-sized — no driver/executor memory ceiling.
    pairs = (
        cb.join(qb, ["table", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "q_vec", "neighbor_id", "c_vec")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        cosine(F.col("q_vec"), F.col("c_vec")).alias("cos_sim"),
    )
    return _top_k(scored, "cos_sim", k, "cos_sim")


def sign_bucket(vec: Column, sign_bits: int) -> Column:
    """Deterministic LSH bucket: the sign pattern of the first
    ``sign_bits`` coordinates, as a BIGINT. Plain SQL on the stored
    floats — the portable (exact-oracle-able) twin of the
    engine-seeded random hyperplanes in ``rp_lsh_tables``."""
    bucket = F.lit(0)
    for i in range(sign_bits):
        bucket = bucket + F.when(vec[i] > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket.cast("bigint")


def cosine_topk_signed(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    sign_bits: int = 4,
) -> DataFrame:
    """Approximate top-k with a DETERMINISTIC sign-signature
    partitioner (the ANN counterpart of ``semantic_bucket_near_dup``):
    candidates are corpus rows sharing the query's bucket, scored with
    the exact sequential-fold cosine, per-query window top-k. Because
    the bucket function is plain SQL on the stored floats, the whole
    query replays in DuckDB — the exact-oracled member of the LSH ANN
    family (``cosine_topk_lsh`` keeps the better multi-table geometry
    but its engine-derived planes are rows-only checkable).

    Scale shape: one equi-join on bucket replaces the cross product
    (expected candidates N/2^sign_bits per query for centered data —
    raise ``sign_bits`` with corpus size); the query side stays
    AQE-broadcastable, the corpus never shuffles beyond the join.
    Misses neighbors across a sign boundary, as any single-bucket
    scheme does; recall vs the exact top-k is pinned in
    tests/test_northstar.py."""
    v = F.col(vec_col).cast("array<double>")
    # Per-ROW norms, folded once per vector: the per-pair expression is
    # then one dot fold (the oracle's list_dot_product order).
    base = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        v.alias("cv"),
        sign_bucket(v, sign_bits).alias("bucket"),
    ).withColumn("cn", norm(F.col("cv")))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        v.alias("qv"),
        sign_bucket(v, sign_bits).alias("q_bucket"),
    ).withColumn("qn", norm(F.col("qv")))
    scored = (
        base.join(
            q,
            (F.col("bucket") == F.col("q_bucket"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .withColumn(
            "cos_sim",
            dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
        )
        .select("query_id", "neighbor_id", "cos_sim")
    )
    return _top_k(scored, "cos_sim", k, "cos_sim")


# ---------------------------------------------------------------------------
# Quantized index: train -> route -> encode -> score -> rescore -> top-k
# ---------------------------------------------------------------------------


class AnnModel(NamedTuple):
    """A trained quantizer: what both trainers produce and every later
    stage reads. A model — a few KB of floats — never data.

    - ``centers``: coarse cells ``[{"id": int, "vec": [float]}, ...]``
      for IVF routing; None scans the whole store.
    - ``books``: PQ codebooks, m x n_codes x dim/m floats over UNIT
      subvectors; None scores candidates with the exact cosine.
    - ``unit``: the centers were trained on unit vectors (k-means,
      spherical), so routing reads v/||v||; False routes the raw
      vectors (k-center, replayable on the stored floats)."""

    centers: list[dict] | None = None
    books: list[list[list[float]]] | None = None
    unit: bool = False


def _dbl(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def _unit(v: Column) -> Column:
    """v / ||v|| with the sequential-fold norm (the oracles' order),
    folded once per vector."""
    return bind(
        v, lambda vv: bind(F.sqrt(dot(vv, vv)), lambda n: F.transform(vv, lambda x: x / n))
    )


# --- k-means trainer --------------------------------------------------------


def _kmeans_centroids(
    sample: np.ndarray, n_clusters: int, n_iters: int = 10, seed: int = 42
) -> np.ndarray:
    """Seeded Lloyd k-means on a driver-side training sample
    (normalized vectors → spherical k-means). IVF practice: train on a
    bounded sample, assign the full corpus distributed — the sample is
    the only data that ever reaches the driver."""
    rng = np.random.default_rng(seed)
    X = sample / np.linalg.norm(sample, axis=1, keepdims=True)
    C = X[rng.choice(len(X), size=min(n_clusters, len(X)), replace=False)]
    for _ in range(n_iters):
        assign = np.argmax(X @ C.T, axis=1)
        for c in range(len(C)):
            members = X[assign == c]
            if len(members):
                m = members.mean(axis=0)
                C[c] = m / (np.linalg.norm(m) or 1.0)
    return C


def train_pq_codebooks(
    sample: np.ndarray, m: int = 8, n_codes: int = 32, n_iters: int = 15, seed: int = 42
) -> np.ndarray:
    """Product-quantization codebooks: split the (normalized) vector
    space into ``m`` orthogonal subspaces and run seeded L2 k-means in
    each. Returns (m, n_codes, dim/m). Like IVF centroids, the training
    sample is a bounded stats object — the only vectors that ever
    reach the driver."""
    d = sample.shape[1]
    assert d % m == 0, f"dim {d} not divisible into {m} subvectors"
    dsub = d // m
    X = sample / np.linalg.norm(sample, axis=1, keepdims=True)
    rng = np.random.default_rng(seed)
    books = np.empty((m, n_codes, dsub))
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        C = S[rng.choice(len(S), size=min(n_codes, len(S)), replace=False)]
        for _ in range(n_iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(len(C)):
                members = S[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books[j, : len(C)] = C
        if len(C) < n_codes:  # degenerate tiny sample: pad with repeats
            books[j, len(C):] = C[0]
    return books


# Above this many training vectors, Lloyd's loop moves off the driver:
# the numpy path materializes train_sample * dim float64 on one node
# (1e5 x 64 ≈ 50 MB — fine; 1e7 would not be), so bigger regimes train
# with pyspark.ml KMeans and only the k centroid vectors come back.
DRIVER_TRAIN_BOUND = 100_000


def _train_matrix(
    corpus: DataFrame, id_col: str, vec_col: str, train_sample: int
) -> np.ndarray:
    """Driver-regime training sample: the first ``train_sample`` rows
    by id (TakeOrderedAndProject — bounded collect), as a float64
    matrix. The standard FAISS-style train-on-a-sample regime."""
    pdf = (
        corpus.select(vec_col)
        .orderBy(F.col(id_col))
        .limit(train_sample)
        .toPandas()
    )
    return np.stack(pdf[vec_col].to_numpy()).astype(np.float64)


def _distributed_training_rows(
    corpus: DataFrame, id_col: str, vec_col: str, train_sample: int
) -> DataFrame:
    """Cluster-side training set of ~``train_sample`` rows: one ml
    Vector column ``__feat``, L2-normalized (spherical regime), chosen
    by a deterministic hash stride so the draw is seed-stable and no
    vector ever reaches the driver."""
    from pyspark.ml.feature import Normalizer
    from pyspark.ml.functions import array_to_vector

    n = corpus.count()
    rows = corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec"))
    stride = max(1, n // max(1, train_sample))
    if stride > 1:
        rows = rows.filter(
            F.pmod(F.xxhash64(F.col("__id")), F.lit(stride)) == 0
        )
    vecs = rows.select(
        array_to_vector(F.col("__vec").cast("array<double>")).alias("__mlvec")
    )
    return Normalizer(inputCol="__mlvec", outputCol="__feat", p=2.0).transform(
        vecs
    )


def _kmeans_centroids_distributed(
    train: DataFrame, n_clusters: int, seed: int = 42, n_iters: int = 10
) -> np.ndarray:
    """Large-regime centroids: ``pyspark.ml.clustering.KMeans``
    (k-means|| init, seeded) over the training rows. Only the (k, dim)
    centroid matrix returns to the driver, re-normalized to the unit
    sphere so routing stays spherical like the numpy path."""
    from pyspark.ml.clustering import KMeans

    model = KMeans(
        k=n_clusters, seed=seed, maxIter=n_iters, featuresCol="__feat"
    ).fit(train)
    C = np.stack([np.asarray(c, dtype=np.float64) for c in model.clusterCenters()])
    return C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)


def _pq_codebooks_distributed(
    train: DataFrame, m: int, n_codes: int, seed: int = 42, n_iters: int = 15
) -> np.ndarray:
    """Large-regime PQ codebooks: one distributed L2 KMeans per
    subspace over slices of the normalized training rows — the
    objective of :func:`train_pq_codebooks` with the Lloyd loop on the
    cluster; only m*(n_codes, dim/m) codebook floats reach the driver."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    arr = train.select(vector_to_array(F.col("__feat")).alias("__arr"))
    d = arr.select(F.size("__arr").alias("d")).first()["d"]
    assert d % m == 0, f"dim {d} not divisible into {m} subvectors"
    dsub = d // m
    books = np.empty((m, n_codes, dsub))
    for j in range(m):
        sub = arr.select(
            array_to_vector(F.slice(F.col("__arr"), j * dsub + 1, dsub)).alias("__f")
        )
        model = KMeans(
            k=n_codes, seed=seed + j, maxIter=n_iters, featuresCol="__f"
        ).fit(sub)
        C = np.stack([np.asarray(c, dtype=np.float64) for c in model.clusterCenters()])
        books[j, : len(C)] = C
        if len(C) < n_codes:  # degenerate tiny train set: pad
            books[j, len(C) :] = C[0]
    return books


def kmeans_model(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    n_clusters: int = 0,
    m: int = 0,
    n_codes: int = 32,
    train_sample: int = 4096,
    seed: int = 42,
    driver_train_bound: int = DRIVER_TRAIN_BOUND,
) -> AnnModel:
    """The k-means trainer: ``n_clusters`` spherical IVF centroids
    and/or ``m`` x ``n_codes`` PQ codebooks (0 skips either), on unit
    vectors. The regime switch: up to ``driver_train_bound`` training
    rows, seeded numpy Lloyd on ONE bounded driver sample (first rows
    by id); above it, distributed ``pyspark.ml`` KMeans over ONE cached
    hash-strided training frame, so only centroid floats ever reach
    the driver. The path choice is logged."""
    driver = train_sample <= driver_train_bound
    _log.info(
        "k-means training: %s path (train_sample=%d, bound=%d)",
        "driver numpy" if driver else "distributed ml.KMeans",
        train_sample,
        driver_train_bound,
    )
    if driver:
        sample = _train_matrix(corpus, id_col, vec_col, train_sample)
        C = _kmeans_centroids(sample, n_clusters, seed=seed) if n_clusters else None
        B = train_pq_codebooks(sample, m, n_codes, seed=seed) if m else None
    else:
        # Cached: k-means|| init plus every Lloyd step of every fit
        # re-reads the training rows; uncached each is a corpus re-scan.
        train = _distributed_training_rows(
            corpus, id_col, vec_col, train_sample
        ).cache()
        try:
            C = _kmeans_centroids_distributed(train, n_clusters, seed) if n_clusters else None
            B = _pq_codebooks_distributed(train, m, n_codes, seed) if m else None
        finally:
            train.unpersist()
    return AnnModel(
        centers=None
        if C is None
        else [{"id": i, "vec": c.tolist()} for i, c in enumerate(C)],
        books=None if B is None else B.tolist(),
        unit=True,
    )


# --- k-center trainer (coarse centers: selection.kcenter_greedy_sampled) ----


def pq_kcenter_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    m: int = 8,
    n_codes: int = 8,
    quantum: float = 1e6,
) -> list[list[list[float]]]:
    """DETERMINISTIC product-quantization codebooks: per subspace, a
    greedy k-center codebook over the L2-NORMALIZED subvectors — the
    ``dedup_semantic_buckets`` / ``cosine_topk_ivf_kcenter`` device
    applied to PQ, so the codebooks (and therefore the codes and every
    ADC score) are exactly replayable as SQL.

    Distributed shape: all ``m`` subspaces train SIMULTANEOUSLY — per
    round ONE job computes every subspace's farthest point (an
    m-expression aggregate of (mind, -pid, subvec) structs, max
    ignoring already-chosen rows via when()), so the whole training is
    ``n_codes - 1`` scan+aggregate passes regardless of m; the
    returned books are m x n_codes x (dim/m) Python floats — a model,
    not data. Selection ties break (mind DESC, pid ASC), the oracle's
    ORDER BY mind DESC, vec_id."""
    dim = len(corpus.select(vec_col).first()[0])
    assert dim % m == 0, f"dim {dim} not divisible into {m} subvectors"
    dsub = dim // m

    pts = corpus.select(
        F.col(id_col).alias("pid"), _unit(_dbl(F.col(vec_col))).alias("nv")
    )

    def sub(j: int) -> Column:
        return F.slice(F.col("nv"), j * dsub + 1, dsub)

    seed = pts.orderBy("pid").limit(1).collect()[0]
    seed_nv = [float(x) for x in seed["nv"]]
    books: list[list[list[float]]] = [
        [seed_nv[j * dsub : (j + 1) * dsub]] for j in range(m)
    ]
    chosen: list[list] = [[seed["pid"]] for _ in range(m)]
    state = pts.select(
        "pid",
        "nv",
        *[
            sq_dist_fp(sub(j), books[j][0], quantum).alias(f"mind_{j}")
            for j in range(m)
        ],
    )
    for step in range(1, n_codes):
        far = state.select(
            *[
                F.max(
                    F.when(
                        ~F.col("pid").isin(chosen[j]),
                        F.struct(
                            F.col(f"mind_{j}").alias("mind"),
                            (-F.col("pid")).alias("negpid"),
                            sub(j).alias("sv"),
                        ),
                    )
                ).alias(f"far_{j}")
                for j in range(m)
            ]
        ).collect()[0]
        for j in range(m):
            fj = far[f"far_{j}"]
            if fj is None:  # fewer distinct points than codes
                continue
            chosen[j].append(-fj["negpid"])
            books[j].append([float(x) for x in fj["sv"]])
        state = state.select(
            "pid",
            "nv",
            *[
                F.least(
                    F.col(f"mind_{j}"),
                    sq_dist_fp(sub(j), books[j][-1], quantum),
                ).alias(f"mind_{j}")
                for j in range(m)
            ],
        )
        if step % 4 == 0:
            state = state.localCheckpoint(eager=False)
    return books


def pq_kcenter_codebooks_sampled(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    m: int = 8,
    n_codes: int = 8,
    quantum: float = 1e6,
    sample_n: int | None = None,
    seed: str | None = None,
) -> list[list[list[float]]]:
    """:func:`pq_kcenter_codebooks` trained on the bounded
    deterministic sample (``operators/selection.kcenter_train_sample``
    device — the sample_n smallest md5(seed:id) draws): ONE Spark job
    collects the L2-normalized sample (normalization computed IN
    SPARK, the sequential fold both engines share), then every
    subspace's greedy k-center runs driver-side in numpy with the
    identical fixed-point arithmetic and tie-breaks. Replaces the
    n_codes-1 sequential full-corpus scan+aggregate rounds — at
    100 TB, codebook training must not scale with the corpus; the
    bounded sample makes it constant-cost and still exactly
    replayable as a per-subspace recursive CTE over the same sample.
    When the corpus has ≤ sample_n rows the result is identical to
    the full trainer (pinned in tests/test_northstar.py)."""
    sample_n = KC_SAMPLE_N if sample_n is None else sample_n
    seed = KC_SAMPLE_SEED if seed is None else seed
    if not (1 <= sample_n <= 1_000_000):
        # same bounded-collect guard as kcenter_train_sample
        raise ValueError(f"training sample must be 1..1e6 rows, got {sample_n=}")
    dim = len(corpus.select(vec_col).first()[0])
    assert dim % m == 0, f"dim {dim} not divisible into {m} subvectors"
    dsub = dim // m

    key = F.md5(
        F.concat(F.lit(seed + ":"), F.col(id_col).cast("string"))
    )
    rows = (
        corpus.select(
            F.col(id_col).alias("pid"),
            _unit(_dbl(F.col(vec_col))).alias("nv"),
            key.alias("__draw"),
        )
        .orderBy("__draw")
        .limit(sample_n)
        .select("pid", "nv")
        .collect()
    )
    sample = [(r["pid"], list(r["nv"])) for r in rows]
    books: list[list[list[float]]] = []
    for j in range(m):
        sub_sample = [
            (pid, vec[j * dsub : (j + 1) * dsub]) for pid, vec in sample
        ]
        centers = kcenter_greedy_local(sub_sample, k=n_codes, quantum=quantum)
        books.append([c["vec"] for c in centers])
    return books


# --- route / encode / score kernels -----------------------------------------


def _route_queries(
    qpts: DataFrame,
    centers: list[dict] | None,
    *,
    n_probe: int,
    driver_probe_bound: int,
    quantum: float,
) -> tuple[DataFrame, bool]:
    """The query side of a search, threshold-gated like the dedup
    union-find. ``qpts`` is (query_id, qv, payload...). A batch within
    ``driver_probe_bound`` rows is collected once — with ``centers``,
    probed driver-side by the numpy fixed-point kernel
    (``selection._fp_halfup``, bit-identical to the expression path,
    pinned in tests) — and served back as a local relation: ``small``
    is True and the search join broadcasts it. A larger batch stays
    distributed (the generated-SQL probe) and the join is left to AQE,
    a skew-split shuffle join when the query set is corpus-sized: no
    query set past the bound is ever driver-materialized. With
    ``centers`` there is one row per probed cell (``center_id``), the
    payload computed once per query and carried. Returns (frame,
    small)."""
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    rows = qpts.limit(driver_probe_bound + 1).collect()
    small = len(rows) <= driver_probe_bound
    if centers is None:
        local = qpts.sparkSession.createDataFrame(rows, qpts.schema) if small else qpts
        return local, small
    if small:
        cmat = np.array([c["vec"] for c in centers], dtype="float64")
        cids = [int(c["id"]) for c in centers]
        probed = []
        for r in rows:
            d = np.asarray(r["qv"], dtype="float64") - cmat
            sq = _fp_halfup(d * d * quantum).sum(axis=1)
            order = sorted(range(len(cids)), key=lambda i: (sq[i], cids[i]))
            probed.append((*r, [cids[i] for i in order[:n_probe]]))
        cells = StructField("cells", ArrayType(LongType()))
        q = qpts.sparkSession.createDataFrame(
            probed, StructType(qpts.schema.fields + [cells])
        )
    else:
        cands = F.array_sort(F.expr(center_cands_sql("qv", centers, quantum)))
        q = qpts.withColumn(
            "cells",
            F.transform(F.slice(cands, 1, n_probe), lambda s: s["center_id"]),
        )
    return q.select(*qpts.columns, F.explode("cells").alias("center_id")), small


def probe_cells(
    queries: DataFrame,
    centers: list[dict],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    n_probe: int = 4,
    driver_probe_bound: int = 1024,
    quantum: float = 1e6,
) -> DataFrame:
    """Route each query to its ``n_probe`` nearest coarse-quantizer
    cells (fixed-point argmin, ties to the smaller center id — the
    array_sort struct convention), driver-side within
    ``driver_probe_bound`` queries, distributed above it
    (:func:`_route_queries`). The caller's ``quantum`` threads through
    BOTH paths (ADVICE r9: a hardcoded 1e6 here would quantize probes
    and corpus differently under a non-default quantum), and the
    driver-path schema carries the input's own id type rather than
    assuming bigint. Returns (query_id, qv, center_id) rows — one per
    probed cell."""
    qpts = queries.select(
        F.col(id_col).alias("query_id"), _dbl(F.col(vec_col)).alias("qv")
    )
    q, _ = _route_queries(
        qpts,
        centers,
        n_probe=n_probe,
        driver_probe_bound=driver_probe_bound,
        quantum=quantum,
    )
    return q


def _pq_codes_sql(
    books: list[list[list[float]]], quantum: float = 1e6
) -> str:
    """The m-subspace PQ encoder as ONE generated SQL expression over
    a normalized-vector column named ``nv``: per subspace, fixed-point
    argmin over the codeword literals (ties to the earlier-selected
    code — selection order, both engines). The distance is
    ``selection.sq_dist_fp_sql``'s integer fold, written once per
    subspace as a lambda over code ids, and the argmin an
    ``array_min`` of (sq_fp, code) structs (native compares, where
    ``array_sort`` calls a comparator lambda)."""
    dsub = len(books[0][0])

    def code_sql(j: int) -> str:
        book = json_lit(books[j], "array<array<double>>")
        d = (
            f"aggregate(zip_with(slice(nv, {j * dsub + 1}, {dsub}), {book}[c], "
            f"(a, b) -> (a - b) * (a - b) * {dlit(quantum)}), "
            f"CAST(0 AS BIGINT), (acc, t) -> acc + {fp_round_sql('t')})"
        )
        return (
            f"array_min(transform(sequence(0, {len(books[j]) - 1}), "
            f"c -> named_struct('sq_fp', {d}, 'code', c))).code"
        )

    return "array(" + ",".join(code_sql(j) for j in range(len(books))) + ")"


def _adc_tables_sql(
    books: list[list[list[float]]], quantum: float = 1e6
) -> str:
    """Per-query ADC lookup tables as ONE generated SQL expression over
    a unit query vector ``qnv``: ``lut[j][c] = round(<q_sub_j,
    codeword_jc> * quantum)`` as BIGINT, the oracles' per-subspace
    term. Built once per query, so a candidate's score is m integer
    lookups (:func:`ann_topk`) instead of m float folds."""
    dsub = len(books[0][0])

    def table_sql(j: int) -> str:
        d = (
            f"aggregate(zip_with(slice(qnv, {j * dsub + 1}, {dsub}), cw, "
            f"(a, b) -> a * b), CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
        )
        return (
            f"transform({json_lit(books[j], 'array<array<double>>')}, "
            f"cw -> CAST(round({d} * {dlit(quantum)}, 0) AS BIGINT))"
        )

    return "array(" + ",".join(table_sql(j) for j in range(len(books))) + ")"


# --- build / search ---------------------------------------------------------


def build_index(
    corpus: DataFrame,
    model: AnnModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantum: float = 1e6,
) -> DataFrame:
    """The build half: every corpus vector routed to its nearest cell
    (``centers``) and/or encoded to its m codes (``books``) — both are
    row-wise functions of the vector, so the index is ONE zero-shuffle
    scan (single-file test inputs spread across cores first). Columns:
    ``neighbor_id``, ``center_id`` (IVF), then ``codes`` (PQ: 64 floats
    become m small ints, the raw vectors never read at search time) or
    ``v`` with its norm ``vn`` (no PQ: what exact scoring reads). Build
    once, search many times — FAISS's build/search split; callers
    localCheckpoint it per session, at 100 TB it persists as
    cell-partitioned parquet."""
    pts = spread_small_scan(
        corpus.select(F.col(id_col).alias("pid"), _dbl(F.col(vec_col)).alias("v"))
    )
    if model.unit:
        pts = pts.select("pid", _unit(F.col("v")).alias("v"))
    cells = []
    if model.centers is not None:
        pts = assign_to_centers(pts, model.centers, quantum=quantum, payload_cols=("v",))
        # Declared non-null (it is never null): otherwise the search
        # join infers isnotnull(center_id) and pushes the whole routing
        # expression below the spread repartition, recomputing it in
        # the one scan task of an inline build.
        pts = pts.withColumn("center_id", F.coalesce("center_id", F.lit(-1)))
        cells = ["center_id"]
    if model.books is None:
        return pts.select(
            F.col("pid").alias("neighbor_id"), *cells, "v", norm(F.col("v")).alias("vn")
        )
    nv = F.col("v") if model.unit else _unit(F.col("v"))
    return pts.select(F.col("pid").alias("neighbor_id"), *cells, nv.alias("nv")).select(
        "neighbor_id", *cells, F.expr(_pq_codes_sql(model.books, quantum)).alias("codes")
    )


def ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    model: AnnModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    k: int = 10,
    n_probe: int = 4,
    rescore: int | None = None,
    quantum: float = 1e6,
    driver_probe_bound: int = 1024,
    index: DataFrame | None = None,
) -> DataFrame:
    """The search half: approximate cosine top-k through ``model``.

    - Route: with centers, each query probes its ``n_probe`` nearest
      cells (:func:`_route_queries`) and a cells-keyed equi-join picks
      candidates (~n_probe/n_cells of the store); without, the query
      set crosses the whole store (the PQ full scan). A query batch
      within ``driver_probe_bound`` rows is broadcast; a larger one
      joins distributed, so the query set can be corpus-sized.
    - Score: without books, the exact sequential-fold :func:`cosine`
      (bit-matching DuckDB's list_dot_product) → ``cos_sim``. With
      books, ADC: each query's (m x n_codes) table of quantized
      subspace dot products is built once, before routing, and a
      candidate's score is the integer sum of its m table entries —
      quantized scores collide often, and integer ties break by
      neighbor_id identically in both engines → ``approx_cos``.
    - Rescore (books only): the top ``rescore`` ADC candidates per
      query — a |Q|·rescore pool, joined (broadcast for a bounded
      batch) over ONE more corpus scan — re-scored with the exact
      fixed-point dot of the unit vectors, FAISS's refine step →
      ``cos_sim``.

    Returns (query_id, neighbor_id, rank, score). Pass ``index`` (a
    :func:`build_index` result for the same model) to skip the build."""
    if index is None:
        index = build_index(corpus, model, id_col, vec_col, quantum)
    qv = _dbl(F.col(vec_col))
    q = queries.select(
        F.col(id_col).alias("query_id"), (_unit(qv) if model.unit else qv).alias("qv")
    )
    if model.books is None:
        # Norms fold once per vector (the index carries ``vn``), not
        # once per pair: the same values :func:`cosine` computes.
        q = q.withColumn("qn", norm(F.col("qv")))
    else:
        # Before routing: a query's table is built once, not once per
        # probed cell.
        qnv = F.col("qv") if model.unit else _unit(F.col("qv"))
        q = q.select("query_id", "qv", qnv.alias("qnv")).select(
            "query_id", "qv", F.expr(_adc_tables_sql(model.books, quantum)).alias("lut")
        )
    q, small = _route_queries(
        q,
        model.centers,
        n_probe=n_probe,
        driver_probe_bound=driver_probe_bound,
        quantum=quantum,
    )
    side = F.broadcast(q) if small else q
    pairs = (
        index.crossJoin(side)
        if model.centers is None
        else index.join(side, "center_id")
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    if model.books is None:
        cos = dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("vn"))
        scored = pairs.select("query_id", "neighbor_id", cos.alias("cos_sim"))
        return _top_k(scored, "cos_sim", k, "cos_sim")
    adc = " + ".join(f"lut[{j}][codes[{j}]]" for j in range(len(model.books)))
    scored = pairs.select("query_id", "neighbor_id", F.expr(adc).alias("s_fp"))
    if rescore is None:
        approx = F.round(F.col("s_fp") / F.lit(quantum), 6).alias("approx_cos")
        return _top_k(scored, "s_fp", k, approx)
    nv = _unit(_dbl(F.col(vec_col)))
    qn = queries.select(F.col(id_col).alias("query_id"), nv.alias("qnv"))
    pool = _top_k(scored, "s_fp", rescore).select("query_id", "neighbor_id")
    pool = pool.join(qn, "query_id")
    refined = (
        corpus.select(F.col(id_col).alias("neighbor_id"), nv.alias("nv"))
        .join(F.broadcast(pool) if small else pool, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot(F.col("qnv"), F.col("nv")) * F.lit(quantum), 0)
            .cast("bigint")
            .alias("e_fp"),
        )
    )
    exact = F.round(F.col("e_fp") / F.lit(quantum), 6).alias("cos_sim")
    return _top_k(refined, "e_fp", k, exact)


# --- named configurations ---------------------------------------------------


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    train_sample: int = 4096,
    seed: int = 42,
    driver_train_bound: int = DRIVER_TRAIN_BOUND,
) -> DataFrame:
    """IVF on k-means cells: queries probe ``n_probe`` of
    ``n_clusters`` spherical centroids, candidates score with the exact
    cosine. Recall vs the exact top-k pinned in tests/test_northstar.py."""
    model = kmeans_model(
        corpus, id_col, vec_col, n_clusters=n_clusters,
        train_sample=train_sample, seed=seed,
        driver_train_bound=driver_train_bound,
    )
    return ann_topk(corpus, queries, model, id_col, vec_col, k=k, n_probe=n_probe)


def cosine_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    m: int = 8,
    n_codes: int = 32,
    train_sample: int = 4096,
    seed: int = 42,
    driver_train_bound: int = DRIVER_TRAIN_BOUND,
) -> DataFrame:
    """PQ full scan with ADC over k-means codebooks: corpus vectors
    stored as ``m`` code ids, a row's approximate cosine is m table
    lookups. Scores are quantized; tests assert recall and the ADC
    reconstruction, not score equality with the exact cosine."""
    model = kmeans_model(
        corpus, id_col, vec_col, m=m, n_codes=n_codes,
        train_sample=train_sample, seed=seed,
        driver_train_bound=driver_train_bound,
    )
    return ann_topk(corpus, queries, model, id_col, vec_col, k=k)


def cosine_topk_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    m: int = 16,
    n_codes: int = 32,
    train_sample: int = 4096,
    seed: int = 42,
    driver_train_bound: int = DRIVER_TRAIN_BOUND,
) -> DataFrame:
    """IVF+PQ on k-means (the FAISS production shape): IVF prunes
    WHICH inverted lists a query scans, PQ makes scanning a list cost
    m lookups per row. Both quantizers train from one sample."""
    model = kmeans_model(
        corpus, id_col, vec_col, n_clusters=n_clusters, m=m, n_codes=n_codes,
        train_sample=train_sample, seed=seed,
        driver_train_bound=driver_train_bound,
    )
    return ann_topk(corpus, queries, model, id_col, vec_col, k=k, n_probe=n_probe)


def cosine_topk_ivf_kcenter(
    corpus: DataFrame,
    queries: DataFrame,
    centers: list[dict],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe: int = 4,
    driver_probe_bound: int = 1024,
    index: DataFrame | None = None,
) -> DataFrame:
    """IVF on DETERMINISTIC k-center cells (``centers`` from
    ``selection.kcenter_greedy[_sampled]``): the whole answer —
    train, assign, probe, exact rescoring — value-oracles in SQL.
    ``index``: a :func:`build_index` result for ``AnnModel(centers)``."""
    return ann_topk(
        corpus, queries, AnnModel(centers=centers), id_col, vec_col,
        k=k, n_probe=n_probe, driver_probe_bound=driver_probe_bound, index=index,
    )


def cosine_topk_pq_kcenter(
    corpus: DataFrame,
    queries: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    quantum: float = 1e6,
    codes: DataFrame | None = None,
    rescore: int | None = None,
) -> DataFrame:
    """PQ full scan with ADC over DETERMINISTIC k-center codebooks
    (:func:`pq_kcenter_codebooks[_sampled]`), value-oracled; ``rescore``
    adds the exact refinement stage. ``codes``: a :func:`build_index`
    result for ``AnnModel(books=books)``."""
    return ann_topk(
        corpus, queries, AnnModel(books=books), id_col, vec_col,
        k=k, rescore=rescore, quantum=quantum, index=codes,
    )


def cosine_topk_ivfpq_kcenter(
    corpus: DataFrame,
    queries: DataFrame,
    centers: list[dict],
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe: int = 4,
    quantum: float = 1e6,
    driver_probe_bound: int = 1024,
    index: DataFrame | None = None,
    rescore: int | None = None,
) -> DataFrame:
    """IVF+PQ with DETERMINISTIC k-center quantizers at both levels:
    raw-vector cells route, unit-subvector codebooks score, so the
    composed index value-oracles. ``index``: a :func:`build_index`
    result for ``AnnModel(centers, books)``."""
    return ann_topk(
        corpus, queries, AnnModel(centers=centers, books=books), id_col, vec_col,
        k=k, n_probe=n_probe, rescore=rescore, quantum=quantum,
        driver_probe_bound=driver_probe_bound, index=index,
    )


def semantic_bucket_near_dup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sign_bits: int = 4,
    threshold: float = 0.4,
) -> DataFrame:
    """SemDeDup-style semantic dedup with a DETERMINISTIC partitioner:
    bucket = the sign pattern of the first ``sign_bits`` embedding
    coordinates (:func:`sign_bucket`), near-dup pairs searched only
    within a bucket.

    The random-hyperplane LSH variant (``cosine_topk_lsh``) has better
    bucket geometry but engine-derived projections make it rows-only
    checkable; sign-signature bucketing is the portable twin — the
    bucket function is plain SQL on the stored floats, so the whole
    query has an exact DuckDB oracle. Same scale shape as LSH: an
    equi-join on bucket replaces the all-pairs cross product (expected
    candidate count N²/2^bits for centered data), and the per-pair
    cosine is a codegen'd zip_with/aggregate fold — no Python, no
    shuffle beyond the one bucket join.

    Misses pairs that straddle a sign boundary (any single-bucket
    scheme does); production composes multiple rotated sign tables
    exactly like multi-table LSH. Returns (bucket, id_a, id_b,
    cos_sim) with id_a < id_b.
    """
    v = F.col(vec_col).cast("array<double>")
    # Per-ROW norm, folded once per vector — the per-pair expression is
    # then a single dot fold, not three (sqrt of the same sequential
    # fold the oracle computes, so values are identical).
    base = df.select(
        F.col(id_col).alias("id"),
        v.alias("v"),
        sign_bucket(v, sign_bits).alias("bucket"),
    ).withColumn("nv", norm(F.col("v")))
    a = base.select(
        "bucket",
        F.col("id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("nv").alias("na"),
    )
    b = base.select(
        F.col("bucket").alias("bucket_b"),
        F.col("id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("nv").alias("nb"),
    )
    pairs = (
        a.join(
            b,
            (F.col("bucket") == F.col("bucket_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .withColumn(
            "cos_sim",
            dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
        )
        .filter(F.col("cos_sim") >= F.lit(threshold))
    )
    return pairs.select("bucket", "id_a", "id_b", "cos_sim")
