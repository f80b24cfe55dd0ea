"""Similarity search over embedding columns (``array<float>``).

Every top-k search here is one pipeline: candidate generation, then
scoring, then :func:`topk_per_query`.  The entry points differ only in
how they generate candidates:

- all corpus rows: ``cosine_topk`` / ``cosine_topk_q8`` (the query matrix
  is broadcast and each Arrow batch is scored with one float64 matmul);
- a shared random-hyperplane bucket: ``lsh_topk``;
- the ``n_probe`` nearest IVF posting lists: ``ivf_topk``,
  ``ivf_pq_topk`` and ``ann_index.search_ivf_index``, all through
  :func:`_ivf_search`.  The PQ variant first ranks candidates by ADC over
  the stored codes, then rescores its ``k * rerank`` finalists exactly.

The contract every path shares:

- the query side is small and collected to the driver
  (:func:`_collect_queries`); no queries gives the one empty
  (query_id, neighbor_id, score, rank) frame;
- a query never matches itself (same id);
- scores are cosines in float64, snapped to 9 dp (the cross-engine guard
  band: numpy and a SQL engine's fold-order dot differ by ~1 ulp) and
  then rounded to 6 dp; ADC scores are snapped to 9 dp before the
  finalist cut for the same reason;
- ranks follow the total order (score desc, neighbor_id asc), so results
  are deterministic under any partitioning;
- zero-norm vectors have no cosine.  They are left out of every quantizer
  training sample (a normalised zero is NaN, and one NaN centroid would
  swallow every list), and a zero-norm corpus row scores null and ranks
  after every scored neighbour.

Scoring kernels are Arrow-batched numpy (``pandas_udf`` / ``mapInPandas``):
Spark higher-order functions never enter whole-stage codegen.  The
interpreted folds (``dot``/``norm``/``cosine``) are a reference for tiny
inputs and cross-checks only.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.types import ArrayType, DoubleType, LongType


# --- interpreted reference kernels (HOF fold; NOT the hot path) -----------


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double — interpreted HOF, kept as a
    cross-check reference only.  Use the Arrow kernels for real scoring."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# --- Arrow-batched numpy kernels (the hot path) ---------------------------


def _stack_f64(series: pd.Series) -> np.ndarray:
    """Series of array<float> -> (n, d) float64 matrix.  Cast BEFORE any
    product so the math is float64 end-to-end (matches the oracle's
    CAST(embedding AS DOUBLE[]))."""
    return np.stack(series.to_numpy()).astype(np.float64)


def pairwise_cosine(a: Column, b: Column, single_eval: bool = False) -> Column:
    """Row-wise cosine(a, b) as one vectorized numpy op per Arrow batch.

    Each row's score depends only on its own two vectors, so the result is
    bit-deterministic regardless of batch or partition boundaries.

    ``single_eval=True`` marks the UDF non-deterministic — the values are
    unchanged (see above), but the optimizer may no longer duplicate the
    evaluation when a FILTER references the scored column: the default
    filter-pushdown rewrite of ``withColumn(score).filter(score >= t)``
    plans TWO ArrowEvalPython nodes (one below the pushed filter, one in
    the surviving projection), so every candidate row pays the kernel and
    the embeddings cross the Python boundary twice (r17: observed in the
    semdedup plan; the guide §4.4 shape).  Pass it wherever a threshold
    filter consumes the score; leave it off for pure projections (top-k
    windows rank a materialized column and never duplicate) so those keep
    full optimizer freedom.
    """

    @F.pandas_udf(DoubleType())
    def _pairwise(xa: pd.Series, xb: pd.Series) -> pd.Series:
        if len(xa) == 0:
            return pd.Series([], dtype=np.float64)
        A = _stack_f64(xa)
        B = _stack_f64(xb)
        num = np.einsum("ij,ij->i", A, B)
        den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        return pd.Series(num / den)

    fn = _pairwise.asNondeterministic() if single_eval else _pairwise
    return fn(a, b)


def rounded_pairwise_cosine(a: Column, b: Column) -> Column:
    """The repo-wide ANN score convention: 9-dp snap (cross-engine guard
    band) then the 6-dp serving round — ONE definition shared by every
    search path so the rounding contract can't drift between them."""
    return F.round(F.round(pairwise_cosine(a, b), 9), 6)


def _collect_queries(
    queries: DataFrame, id_col: str, vec_col: str
) -> tuple[list, np.ndarray, np.ndarray]:
    """The query side of every search, collected to the driver (small by
    contract, like a broadcast-join build side): ids, the float64 matrix
    and its row norms."""
    rows = queries.select(id_col, vec_col).collect()
    Q = np.asarray([list(r[1]) for r in rows], dtype=np.float64)
    return [r[0] for r in rows], Q, np.linalg.norm(Q, axis=-1)


def _empty_topk(spark: SparkSession, id_type: str) -> DataFrame:
    """The search result for an empty query set."""
    return spark.createDataFrame(
        [], f"query_id {id_type}, neighbor_id {id_type}, score double, rank bigint"
    )


def topk_per_query(scored: DataFrame, k: int, score_col: str = "score") -> DataFrame:
    """(query_id, neighbor_id, score) -> ranked top-k per query with the
    deterministic (score desc, neighbor_id asc) total order."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc(score_col), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col(score_col).alias("score"), "rank")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k by cosine: broadcast query matrix × corpus batches
    (one numpy matmul per Arrow batch), per-query window top-k.

    Ranking sorts on (rounded score desc, corpus id asc) — fully
    deterministic even through float ties.  The query side is collected to
    the driver and broadcast — same smallness contract as a broadcast-hash
    join build side.
    """
    return _brute_topk(
        corpus, queries, k, id_col, vec_col, exclude_self,
        select_cols=[vec_col],
        to_matrix=lambda pdf: _stack_f64(pdf[vec_col]),
    )


def _brute_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    exclude_self: bool,
    select_cols: list[str],
    to_matrix,
) -> DataFrame:
    """Shared brute-force kernel behind ``cosine_topk`` and
    ``cosine_topk_q8``: broadcast query matrix, one numpy matmul per Arrow
    batch, 9-then-6 dp guard band, (score desc, id asc) window top-k.
    ``to_matrix(pdf) -> float64 matrix`` is the only thing that differs —
    plain stacking vs in-kernel dequantization."""
    spark = corpus.sparkSession
    id_type = corpus.schema[id_col].dataType.simpleString()
    out_ddl = f"neighbor_id {id_type}, query_id {id_type}, _score_raw double"

    q_ids, Q, q_norm = _collect_queries(queries, id_col, vec_col)
    if not q_ids:
        return _empty_topk(spark, id_type)
    bq = spark.sparkContext.broadcast((np.asarray(q_ids), Q, q_norm))

    def _score(batches):
        ids, Qm, qn = bq.value
        m = len(ids)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = to_matrix(pdf)
            cn = np.linalg.norm(C, axis=1)
            S = (C @ Qm.T) / (cn[:, None] * qn[None, :])
            yield pd.DataFrame(
                {
                    "neighbor_id": np.repeat(pdf[id_col].to_numpy(), m),
                    "query_id": np.tile(ids, len(pdf)),
                    "_score_raw": S.ravel(),
                }
            )

    scored = corpus.select(id_col, *select_cols).mapInPandas(_score, schema=out_ddl)
    if exclude_self:
        scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    # the 9-then-6 dp guard band of rounded_pairwise_cosine
    scored = scored.select(
        "query_id", "neighbor_id", F.round(F.round("_score_raw", 9), 6).alias("score")
    )
    return topk_per_query(scored, k)


def cosine_topk_q8(
    corpus_q8: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    q_col: str = "q",
    scale_col: str = "scale",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k by cosine over an int8-QUANTIZED corpus (asymmetric
    search: full-precision queries × dequantized corpus, the standard
    quantized-index shape — queries are few, quantizing them buys nothing).

    ``corpus_q8`` carries (``id_col``, ``q_col``: array<tinyint>,
    ``scale_col``: float) as produced by ``embeddings.quantize_int8`` —
    at 100 TB that is the 4×-smaller table actually persisted in the lake,
    so the scan reads a quarter of the bytes of the float32 path.
    Dequantization is IN-KERNEL and float64 end-to-end
    (``q.astype(f64) * f64(scale)``, never a float32 round-trip), so an
    engine reconstructing ``CAST(q AS DOUBLE) * CAST(scale AS DOUBLE)``
    computes bit-identical scores — which is what the registry oracle does
    from the staged quantized table.  Same output schema, broadcast-query
    contract, 9-then-6 dp guard band, and (score desc, id) ranking as
    ``cosine_topk``; recall vs the float path is gated in
    tests/test_embeddings_ops.py::test_quantized_search_recall.
    """
    def dequant(pdf: pd.DataFrame) -> np.ndarray:
        C = np.stack(pdf[q_col].to_numpy()).astype(np.float64)
        C *= pdf[scale_col].to_numpy().astype(np.float64)[:, None]
        return C

    return _brute_topk(
        corpus_q8, queries, k, id_col, vec_col, exclude_self,
        select_cols=[q_col, scale_col],
        to_matrix=dequant,
    )


def dequantize_f64(q: Column, scale: Column) -> Column:
    """(q: array<tinyint>, scale: float) -> array<double>, one vectorized
    numpy op per Arrow batch.  Float64 end-to-end (never a float32
    round-trip), so downstream scoring matches an engine computing
    ``CAST(q AS DOUBLE) * CAST(scale AS DOUBLE)`` bit-for-bit.  This is the
    scoring-path dequantizer; ``embeddings.dequantize_int8`` is the
    storage-path one (float32, matching the persisted column type)."""
    from pyspark.sql.types import ArrayType

    @F.pandas_udf(ArrayType(DoubleType()))
    def _deq(qs: pd.Series, scales: pd.Series) -> pd.Series:
        if len(qs) == 0:
            return pd.Series([], dtype=object)
        Q = np.stack(qs.to_numpy()).astype(np.float64)
        return pd.Series(list(Q * scales.to_numpy().astype(np.float64)[:, None]))

    return _deq(q, scale)


def ivf_topk_q8(
    corpus_q8: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    q_col: str = "q",
    scale_col: str = "scale",
    vec_col: str = "embedding",
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    sample_size: int = 2048,
    iters: int = 8,
) -> DataFrame:
    """IVF over an int8-quantized corpus — the classic IVF+scalar-quantizer
    index shape: posting lists bound the fraction of the corpus a probe
    touches (n_probe/n_lists) AND the stored vectors are 4× smaller, so a
    probe reads ~n_probe/n_lists of a quarter of the float bytes.

    Composition: dequantize to float64 per Arrow batch (``dequantize_f64``)
    and run the exact ``ivf_topk`` machinery — quantizer training sample,
    list assignment, probing, and re-rank all operate on the dequantized
    vectors, so ``n_probe = n_lists`` degenerates to exactly
    ``cosine_topk_q8`` (asserted in tests), and recall vs the float IVF
    path is gated alongside it.
    """
    corpus = corpus_q8.select(
        F.col(id_col), dequantize_f64(F.col(q_col), F.col(scale_col)).alias(vec_col)
    )
    return ivf_topk(
        corpus, queries, k, id_col, vec_col, n_lists, n_probe, seed, sample_size, iters
    )


def quantized_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Convenience composition: ``quantize_int8`` the float corpus, then
    ``cosine_topk_q8`` over it.  Production pipelines quantize ONCE at
    write time and search the persisted int8 table directly with
    ``cosine_topk_q8``; this wrapper is the one-call form for ad-hoc use
    and parity testing against ``cosine_topk``."""
    from .embeddings import quantize_int8

    q8 = quantize_int8(corpus, vec_col, "_q8").select(
        id_col, F.col("_q8.q").alias("q"), F.col("_q8.scale").alias("scale")
    )
    return cosine_topk_q8(
        q8, queries, k, id_col, "q", "scale", vec_col, exclude_self
    )


def _random_planes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def rp_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH signature: one bit per plane, packed to long.

    All n_planes projections are one numpy matmul per Arrow batch (the HOF
    version paid n_planes interpreted dots per row)."""
    P = np.asarray(planes, dtype=np.float64)
    weights = (np.uint64(1) << np.arange(P.shape[0], dtype=np.uint64))

    @F.pandas_udf(LongType())
    def _sig(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=np.int64)
        C = _stack_f64(vecs)
        bits = (C @ P.T) >= 0.0
        sig = (bits.astype(np.uint64) * weights[None, :]).sum(axis=1)
        return pd.Series(sig.astype(np.int64))

    return _sig(vec)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    n_tables: int = 1,
    multiprobe: bool = False,
) -> DataFrame:
    """Approximate top-k: bucket by random-hyperplane signature, exact cosine
    within the shared bucket.

    At 100 TB the corpus is written bucketed-by-signature once, so a query
    probe touches 1/2^n_planes of the data; here both sides compute the
    signature on the fly.  Returns the same schema as ``cosine_topk`` —
    recall < 1 by construction (scale/recall tradeoff).

    Two standard recall levers, composable:

    - ``n_tables``: T independent plane sets OR-ed together (a neighbor is
      a candidate if it collides in ANY table).  One corpus scan computes
      all T signatures; candidate volume grows ~T×, miss probability
      decays exponentially: (1 - p^h)^T for bit-agreement p.
    - ``multiprobe``: each query also probes the h Hamming-distance-1
      buckets of its signature (flip one bit) per table — the nearest
      misclassified neighbors sit exactly one sign flip away.  Probes per
      query go h+1×, corpus cost is unchanged (no extra corpus rows).
    """
    tables = [_random_planes(dim, n_planes, seed + 7919 * t) for t in range(n_tables)]
    # one scan: all T signatures as columns, exploded to (table, bucket) rows
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("vec"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("table"),
                        rp_signature(F.col(vec_col), planes).alias("bucket"),
                    )
                    for t, planes in enumerate(tables)
                ]
            )
        ).alias("tb"),
    ).select("neighbor_id", "vec", "tb.table", "tb.bucket")
    q_sig = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("table"),
                        rp_signature(F.col(vec_col), planes).alias("sig"),
                    )
                    for t, planes in enumerate(tables)
                ]
            )
        ).alias("tb"),
    ).select("query_id", "query_vec", "tb.table", "tb.sig")
    if multiprobe:
        # probe set = own bucket + every Hamming-1 neighbor (flip bit i)
        probes = F.array(
            F.col("sig"), *[F.expr(f"sig ^ {1 << i}L") for i in range(n_planes)]
        )
        q = q_sig.select(
            "query_id", "query_vec", "table", F.explode(probes).alias("bucket")
        )
    else:
        q = q_sig.withColumnRenamed("sig", "bucket")
    joined = (
        c.join(broadcast(q), ["table", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        # a pair can collide in several tables/probes — score it once
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = joined.select(
        "query_id",
        "neighbor_id",
        rounded_pairwise_cosine(F.col("vec"), F.col("query_vec")).alias("score"),
    )
    return topk_per_query(scored, k)


def recall_at_k(exact: DataFrame, approx: DataFrame) -> float:
    """Mean per-query recall of an approximate top-k result against the
    exact one (both in the ``cosine_topk`` output schema).

    recall(q) = |approx(q) ∩ exact(q)| / |exact(q)|, averaged over the
    queries present in ``exact``.  Computed as one join + one aggregate —
    top-k outputs are small, but the shape stays distributed for large
    query sets.  This is the number to tune ``n_tables``/``multiprobe``
    (LSH) or ``n_probe`` (IVF) against; see
    tests/test_dedup_similarity.py::test_ann_recall_floors for gated
    floors on the sf0.01 embeddings.
    """
    e = exact.select("query_id", "neighbor_id")
    a = approx.select("query_id", "neighbor_id").withColumn("_hit", F.lit(1))
    per_query = (
        e.join(a, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg((F.sum(F.coalesce(F.col("_hit"), F.lit(0))) / F.count(F.lit(1))).alias("_recall"))
    )
    row = per_query.agg(F.avg("_recall").alias("r")).first()
    return float(row["r"]) if row["r"] is not None else 0.0


# --- IVF (inverted-file) ANN: k-means coarse quantizer + probed lists -----


def _kmeans_spherical(X: np.ndarray, n_lists: int, iters: int, seed: int) -> np.ndarray:
    """Seeded Lloyd's k-means on L2-normalized vectors (spherical k-means:
    assignment by max cosine).  Deterministic: fixed init, fixed iteration
    count, argmax ties break to the lowest centroid index."""
    rng = np.random.default_rng(seed)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    C = Xn[rng.choice(len(Xn), size=n_lists, replace=False)]
    for _ in range(iters):
        C = C / np.linalg.norm(C, axis=1, keepdims=True)
        assign = (Xn @ C.T).argmax(axis=1)
        for j in range(n_lists):
            members = Xn[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
    return C / np.linalg.norm(C, axis=1, keepdims=True)


def nearest_list(vec: Column, centroids: np.ndarray) -> Column:
    """Coarse-quantizer assignment: argmax cosine vs the centroid matrix,
    one numpy matmul per Arrow batch (same kernel shape as rp_signature).

    Scores are snapped to 9 dp before the argmax — the repo-wide
    cross-engine guard band: an engine recomputing the assignment with a
    different summation order (e.g. the cluster_docs oracle's
    list_dot_product) agrees unless two centroids' true cosines sit within
    1e-9 of each other AND straddle a rounding boundary.  numpy argmax
    takes the FIRST maximum, so 9-dp ties resolve to the lowest centroid
    index — the same (score desc, index asc) total order the oracle uses.
    """
    C = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf(LongType())
    def _assign(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=np.int64)
        X = _stack_f64(vecs)
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        S = np.round(Xn @ C.T, 9)
        return pd.Series(S.argmax(axis=1).astype(np.int64))

    return _assign(vec)


def nearest_lists(vec: Column, centroids: np.ndarray, n_probe: int) -> Column:
    """Multi-assignment coarse quantization: the ``n_probe`` highest-
    cosine centroid indices per vector, (score desc, index asc) ordered —
    the LSH-multiprobe analogue for cluster-bounded operators.  Same
    9-dp snap and first-maximum tie rule as :func:`nearest_list`
    (``n_probe=1`` selects exactly its assignment), one numpy
    matmul + stable argsort per Arrow batch."""
    C = np.asarray(centroids, dtype=np.float64)
    n = min(n_probe, C.shape[0])

    @F.pandas_udf(ArrayType(LongType()))
    def _assign(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        X = _stack_f64(vecs)
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        S = np.round(Xn @ C.T, 9)
        order = np.argsort(-S, axis=1, kind="stable")[:, :n]
        return pd.Series([r.astype(np.int64).tolist() for r in order])

    return _assign(vec)


def hash_sample(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_size: int = 2048,
) -> np.ndarray:
    """Deterministic driver-side training sample: the ``sample_size``
    smallest ids in xxhash64 order — a seeded pseudo-random permutation of
    the corpus that doesn't depend on partitioning (unlike
    ``sample(seed)``) and runs as TakeOrderedAndProject (top-k per
    partition, no full sort).  Collected ONCE and shared by every
    quantizer fit (coarse centroids + PQ codebooks).

    Zero-norm vectors are left out before the sample is drawn: both fits
    normalise the sample, and one zero row made a NaN centroid that
    ``nearest_list`` then gave every vector while ``probe_lists_for``
    ranked it last, so IVF found nothing.  A corpus with zero rows added
    therefore trains exactly the quantizers it trains without them."""
    sample = (
        corpus.select(
            vec_col, F.col(id_col), F.xxhash64(F.col(id_col), F.lit(seed)).alias("_hid")
        )
        .filter(F.exists(vec_col, lambda x: x != 0))
        .orderBy("_hid", id_col)
        .limit(sample_size)
        .select(vec_col)
        .collect()
    )
    return np.asarray([list(r[0]) for r in sample], dtype=np.float64)


def train_centroids(
    corpus: DataFrame,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_size: int = 2048,
    iters: int = 8,
    sample: np.ndarray | None = None,
) -> np.ndarray:
    """Fit the seeded spherical-k-means coarse quantizer on a deterministic
    corpus sample (``hash_sample``, or a precollected ``sample`` to share
    one collect across fits) and return the (n_lists, dim) L2-normalized
    centroid matrix — shared by the IVF index and corpus clustering."""
    X = (
        sample
        if sample is not None
        else hash_sample(corpus, id_col, vec_col, seed, sample_size)
    )
    return _kmeans_spherical(X, min(n_lists, len(X)), iters, seed)


def cluster_assign(
    corpus: DataFrame,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_size: int = 2048,
    iters: int = 8,
    centroids: np.ndarray | None = None,
    out_col: str = "cluster_id",
) -> DataFrame:
    """Corpus clustering over the embedding column: fit spherical k-means
    on a driver-side deterministic sample (``train_centroids``), broadcast
    the centroid matrix into an Arrow-batched argmax-cosine assigner, and
    tag every row — the training-data workhorse for mixture analysis,
    topic-balanced sampling, and cluster-stratified dedup.

    Map-only after the one-time fit: assignment is a pure projection (one
    numpy matmul per Arrow batch), so a 100 TB corpus streams through with
    no shuffle; the same sampling-fit-on-driver shape is standard IVF/
    k-means practice at scale.  Deterministic: seeded init, fixed
    iterations, argmax ties to the lowest cluster index.  Pass
    ``centroids`` to reuse a fitted quantizer (e.g. to assign a NEW batch
    of documents to an existing clustering).
    """
    if centroids is None:
        centroids = train_centroids(
            corpus, k, id_col=id_col, vec_col=vec_col, seed=seed,
            sample_size=sample_size, iters=iters,
        )
    return corpus.withColumn(out_col, nearest_list(F.col(vec_col), centroids))


def cluster_mix(
    assigned: DataFrame,
    cluster_col: str = "cluster_id",
    strata_col: str | None = None,
) -> DataFrame:
    """Cluster-size report: rows per cluster (optionally per cluster x
    stratum) plus each group's share — one hash aggregate with map-side
    combine, share window over the tiny aggregated table."""
    from pyspark.sql import Window

    keys = [cluster_col] + ([strata_col] if strata_col else [])
    per = assigned.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_vecs"))
    return per.select(
        *keys,
        "n_vecs",
        F.round(F.col("n_vecs") / F.sum("n_vecs").over(Window.partitionBy()), 6).alias(
            "share"
        ),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    sample_size: int = 2048,
    iters: int = 8,
) -> DataFrame:
    """Approximate top-k via an inverted-file index: a seeded spherical
    k-means coarse quantizer partitions the corpus into ``n_lists``
    posting lists; each query probes only its ``n_probe`` nearest lists,
    then exact cosine re-ranks inside them.

    At 100 TB the corpus is written partitioned-by-list once (the quantizer
    is trained on a driver-side sample — standard IVF practice) and a probe
    touches n_probe/n_lists of the data; recall/latency trades off via
    ``n_probe`` (n_probe = n_lists degenerates to exact brute force).
    Returns the ``cosine_topk`` schema; fully deterministic (seeded init,
    fixed iterations, lowest-index tie-breaks).
    """
    centroids, _ = _fit_quantizers(
        corpus, n_lists, id_col=id_col, vec_col=vec_col, seed=seed,
        sample_size=sample_size, iters=iters,
    )
    return _ivf_search(
        _ivf_assign(corpus, id_col, vec_col, centroids), queries, k, n_probe,
        id_col, vec_col, centroids,
    )


def _fit_quantizers(
    corpus: DataFrame,
    n_lists: int,
    pq: bool = False,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_size: int = 2048,
    iters: int = 8,
) -> tuple[np.ndarray, np.ndarray | None]:
    """The coarse quantizer, plus the PQ codebooks when ``pq``, fitted on
    ONE ``hash_sample`` collect: (centroids, codebooks or None)."""
    X = hash_sample(corpus, id_col, vec_col, seed, sample_size)
    centroids = train_centroids(corpus, n_lists, seed=seed, iters=iters, sample=X)
    codebooks = train_pq(corpus, m, n_codes, seed=seed, iters=iters, sample=X) if pq else None
    return centroids, codebooks


def _ivf_assign(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: np.ndarray,
    codebooks: np.ndarray | None = None,
) -> DataFrame:
    """The IVF layout of a corpus: (id, vector, list_id[, codes]), one
    map-only pass of Arrow projections.  The in-memory searches scan it
    directly; ``ann_index`` writes it partitioned by ``list_id``."""
    cols = [
        F.col(id_col),
        F.col(vec_col),
        nearest_list(F.col(vec_col), centroids).alias("list_id"),
    ]
    if codebooks is not None:
        cols.append(pq_codes(F.col(vec_col), codebooks).alias("codes"))
    return corpus.select(*cols)


def _staged(df: DataFrame, stage_dir: str | None, name: str) -> DataFrame:
    """Oracle plumbing: persist ``df`` to ``stage_dir/name`` and read it
    back, so an external engine sees exactly the bits the search used."""
    if stage_dir is None:
        return df
    df.coalesce(1).write.mode("overwrite").parquet(f"{stage_dir}/{name}")
    return df.sparkSession.read.parquet(f"{stage_dir}/{name}")


def _ivf_search(
    assigned: DataFrame,
    queries: DataFrame,
    k: int,
    n_probe: int,
    id_col: str,
    vec_col: str,
    centroids: np.ndarray,
    codebooks: np.ndarray | None = None,
    rerank: int = 8,
    prune: bool = False,
    stage_dir: str | None = None,
) -> DataFrame:
    """The one IVF search behind ``ivf_topk``, ``ivf_pq_topk`` and
    ``ann_index.search_ivf_index``, over an ``_ivf_assign`` layout.

    1. Probe: each query's ``n_probe`` nearest lists (plus its ADC
       look-up table when ``codebooks`` is given) form a small broadcast
       probe table.  ``prune`` filters ``assigned`` to the probed lists
       first; over a ``list_id``-partitioned index that is a file-level
       partition filter.
    2. Score: the exact path scores every probed candidate with
       ``rounded_pairwise_cosine``.  The PQ path ranks candidates by ADC
       over a codes-only projection (parquet column pruning leaves the
       float column unread), snapped to 9 dp, keeps the top
       ``k * rerank`` per query, and scores those finalists exactly.
    3. Rank: ``topk_per_query``.

    ``stage_dir`` persists the encoded corpus (``enc``) and the probe
    table (``probes``) of the PQ path and reads them back (see
    ``ivf_pq_topk``)."""
    spark = assigned.sparkSession
    id_t = assigned.schema[id_col].dataType.simpleString()
    vec_t = assigned.schema[vec_col].dataType.simpleString()
    q_ids, Q, q_norm = _collect_queries(queries, id_col, vec_col)
    if not q_ids:
        return _empty_topk(spark, id_t)
    Qn = Q / q_norm[:, None]
    probe_idx = probe_lists_for(Qn, centroids, n_probe)
    if prune:
        probed = sorted({int(x) for x in probe_idx.ravel()})
        assigned = assigned.filter(F.col("list_id").isin(probed))
    pq = codebooks is not None
    luts = pq_luts(Qn, codebooks).tolist() if pq else None
    probes = [
        (qid, Q[i].tolist(), *([luts[i]] if pq else []), int(lst))
        for i, qid in enumerate(q_ids)
        for lst in probe_idx[i]
    ]
    lut_ddl = "lut array<double>, " if pq else ""
    q = spark.createDataFrame(
        probes, f"query_id {id_t}, query_vec {vec_t}, {lut_ddl}list_id long"
    )
    neighbor = F.col(id_col).alias("neighbor_id")
    not_self = F.col("neighbor_id") != F.col("query_id")
    if not pq:
        pairs = (
            assigned.select(neighbor, "list_id", F.col(vec_col).alias("_nvec"))
            .join(broadcast(q), "list_id")
            .filter(not_self)
        )
    else:
        m, n_codes, _ = codebooks.shape
        enc = _staged(assigned.select(neighbor, "list_id", "codes"), stage_dir, "enc")
        adc = (
            enc.join(broadcast(_staged(q, stage_dir, "probes")), "list_id")
            .filter(not_self)
            .select(
                "query_id",
                "query_vec",
                "neighbor_id",
                F.round(_adc_score(F.col("codes"), F.col("lut"), m, n_codes), 9).alias("adc"),
            )
        )
        w_adc = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("neighbor_id"))
        finalists = adc.withColumn("_r", F.row_number().over(w_adc)).filter(
            F.col("_r") <= k * rerank
        )
        # finalists are |queries| * k * rerank rows: broadcast them onto
        # the float table so only their vectors are ever fetched
        pairs = assigned.select(neighbor, F.col(vec_col).alias("_nvec")).join(
            broadcast(finalists.select("query_id", "query_vec", "neighbor_id")),
            "neighbor_id",
        )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        rounded_pairwise_cosine(F.col("_nvec"), F.col("query_vec")).alias("score"),
    )
    return topk_per_query(scored, k)


# --- IVF-PQ: product quantization + asymmetric distance ------------------


def _kmeans_l2(X: np.ndarray, n_codes: int, iters: int, seed: int) -> np.ndarray:
    """Seeded Lloyd's k-means under plain L2 (sub-vectors are NOT unit
    vectors, so spherical assignment would be wrong here).  Deterministic:
    fixed init, fixed iteration count, argmin ties break to the lowest
    code index (numpy argmin takes the first minimum)."""
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=n_codes, replace=False)].copy()
    for _ in range(iters):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for j in range(n_codes):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
    return C


def train_pq(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_size: int = 2048,
    iters: int = 8,
    sample: np.ndarray | None = None,
) -> np.ndarray:
    """Fit the product-quantizer codebooks on the same deterministic
    hash-ordered driver sample the coarse quantizer uses: vectors are
    L2-normalized (so PQ inner products approximate cosine), split into
    ``m`` contiguous sub-spaces, and each sub-space gets its own seeded
    L2 k-means codebook.  Returns (m, n_codes, dim/m) float64.

    Storage math: a stored code is ``m`` small ints — with m=8, n_codes=16
    that is 8x4 bits = 4 bytes per vector vs 256 bytes of float32 at
    dim 64: 64x compression, the tier BELOW the int8 scalar quantizer's
    4x."""
    X = (
        sample
        if sample is not None
        else hash_sample(corpus, id_col, vec_col, seed, sample_size)
    )
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    dim = Xn.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} sub-spaces")
    dsub = dim // m
    n_codes = min(n_codes, len(Xn))
    return np.stack(
        [
            _kmeans_l2(Xn[:, j * dsub : (j + 1) * dsub], n_codes, iters, seed + j)
            for j in range(m)
        ]
    )


def pq_codes(vec: Column, codebooks: np.ndarray) -> Column:
    """Encode: nearest code per sub-space of the L2-normalized vector —
    one Arrow batch, m small matmuls, argmin ties to the lowest index.
    Returns ``array<int>`` of length m."""
    CB = np.asarray(codebooks, dtype=np.float64)  # (m, n_codes, dsub)
    m, _, dsub = CB.shape

    @F.pandas_udf("array<int>")
    def _enc(vecs: pd.Series) -> pd.Series:
        X = _stack_f64(vecs)
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        codes = np.empty((len(X), m), dtype=np.int32)
        for j in range(m):
            sub = Xn[:, j * dsub : (j + 1) * dsub]
            # ||s - c||^2 = ||s||^2 - 2<s,c> + ||c||^2; argmin over codes
            d2 = (sub**2).sum(1, keepdims=True) - 2 * (sub @ CB[j].T) + (CB[j] ** 2).sum(1)
            codes[:, j] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    return _enc(vec)


def _adc_score(codes: Column, lut_flat: Column, m: int, n_codes: int) -> Column:
    """Asymmetric distance computation: approximate inner product =
    sum over sub-spaces of the query's precomputed look-up-table entry for
    the stored code — a numpy gather per Arrow batch, no float vectors
    touched."""

    @F.pandas_udf(DoubleType())
    def _score(code_s: pd.Series, lut_s: pd.Series) -> pd.Series:
        C = np.asarray([list(c) for c in code_s], dtype=np.int64)  # (n, m)
        L = np.asarray([list(l) for l in lut_s], dtype=np.float64)  # (n, m*n_codes)
        offs = np.arange(m) * n_codes
        return pd.Series(np.take_along_axis(L, C + offs, axis=1).sum(axis=1))

    return _score(codes, lut_flat)


def probe_lists_for(Qn: np.ndarray, centroids: np.ndarray, n_probe: int) -> np.ndarray:
    """Each query's n_probe nearest coarse lists (stable argsort — ties
    resolve to the lowest list index on every engine)."""
    return np.argsort(-(Qn @ centroids.T), kind="stable", axis=1)[:, :n_probe]


def pq_luts(Qn: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """Per-query ADC look-up tables: <q_sub, codebook[j][code]> for every
    (sub-space, code), flattened row-major to m*n_codes doubles."""
    m, n_codes, dsub = codebooks.shape
    return np.einsum(
        "qjd,jcd->qjc", Qn.reshape(len(Qn), m, dsub), codebooks
    ).reshape(len(Qn), m * n_codes)


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    n_probe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    rerank: int = 8,
    seed: int = 42,
    sample_size: int = 2048,
    iters: int = 8,
    stage_dir: str | None = None,
) -> DataFrame:
    """IVF-PQ with exact re-ranking — the deepest tier of the ANN
    compression ladder (float64 brute force -> int8 scalar quantizer ->
    4-bit product quantizer):

    1. coarse quantizer (shared ``train_centroids``) partitions the corpus
       into posting lists; a query touches n_probe/n_lists of them;
    2. inside probed lists candidates are scored by ADC against the
       stored PQ CODES ONLY (4 bytes/vector at the defaults) — the float
       vectors are never read in this stage;
    3. the top ``k * rerank`` ADC candidates per query are re-ranked by
       exact cosine, fetching float vectors for just those rows via a
       broadcast semi-join of the finalist (query, neighbor) pairs.

    At 100 TB the probe reads n_probe/n_lists of a 64x-compressed code
    table plus |queries| x k x rerank float rows — the I/O shape that
    makes PQ the standard billion-vector index.  Deterministic end to end
    (seeded k-means everywhere, first-minimum code ties, (score desc, id
    asc) windows).  Returns the ``cosine_topk`` schema with EXACT cosine
    scores (rerank output), 9-dp snapped then 6-dp rounded like every ANN
    path here.  ADC scores are ALSO 9-dp snapped before the finalist
    window — the same cross-engine guard band: numpy's gather-sum and a
    SQL engine's sequential list fold add the m LUT terms in different
    orders, and the snap (ties then broken by neighbor id) makes the
    finalist cut engine-independent.

    ``stage_dir`` (oracle plumbing): when set, the encoded corpus
    (neighbor_id, list_id, codes) and the probe table (query_id,
    query_vec, lut, list_id) persist to ``stage_dir``/enc and /probes and
    are read back, so an external engine can recompute the ADC scan,
    finalist cut, and exact rerank from exactly the bits this query used.
    """
    centroids, codebooks = _fit_quantizers(
        corpus, n_lists, pq=True, m=m, n_codes=n_codes, id_col=id_col,
        vec_col=vec_col, seed=seed, sample_size=sample_size, iters=iters,
    )
    return _ivf_search(
        _ivf_assign(corpus, id_col, vec_col, centroids, codebooks), queries, k,
        n_probe, id_col, vec_col, centroids, codebooks, rerank, stage_dir=stage_dir,
    )


def semdedup_pairs(
    corpus: DataFrame,
    threshold: float = 0.9,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_size: int = 2048,
    iters: int = 8,
    centroids: np.ndarray | None = None,
    n_probe: int = 1,
) -> DataFrame:
    """SemDedup (Abbas et al. 2023, arXiv:2303.09540): semantic near-dup
    pairs via CLUSTER-BOUNDED pairwise cosine — cluster the embeddings
    with the shared spherical-k-means quantizer (:func:`cluster_assign`),
    then compare vectors only WITHIN each cluster.  Returns every pair
    (id_a < id_b) in the same cluster whose cosine ≥ ``threshold``.

    Scale shape: the all-pairs alternative is O(n²) over the corpus; the
    published algorithm bounds the quadratic term to Σ|cluster|² by
    sizing k so clusters hold a few thousand vectors (k grows WITH the
    corpus — it is a budget knob, not a topic count).  Execution is one
    shuffle of the assigned corpus on cluster_id (both join sides
    co-partition), then a per-cluster self-join whose output is scored by
    the Arrow-batched numpy cosine and filtered before anything else
    materializes.  Parallelism equals the cluster count, so a tiny k on a
    huge corpus both explodes |cluster|² and starves executors — the
    documented contract is k ≈ n / target_cluster_size.

    Recall caveat (inherent to the published algorithm, not this
    implementation): near-dups assigned to DIFFERENT clusters are never
    compared.  Raising k trades recall for cost; the exact alternative is
    the brute-force pair scan.  MEASURED against the numpy all-pairs
    ground truth on the near-random synthetic embeddings at threshold
    0.3 (gated in test_semdedup.py::test_recall_floor_vs_brute_force):
    sf0.01 recall 0.480/0.352/0.243 at k=4/8/16; sf0.1 (n=2000)
    0.287/0.216/0.161 at k=8/16/32 — 2-5x the 1/k random-collision
    baseline, decaying with k exactly as the cost knob predicts, with
    structural precision 1.0 (every emitted pair is a true pair).  Real
    corpora at the published 0.9+ thresholds cluster far more tightly
    than these near-orthogonal vectors, so production recall sits well
    above these floors.  Cosines are snapped to 9 dp before the
    threshold (same guard band as the brute-force twin) so independent
    engines make identical keep/drop decisions away from ties.

    ``n_probe`` > 1 enables MULTI-ASSIGNMENT (the LSH-multiprobe
    analogue): every vector joins its ``n_probe`` nearest clusters, so a
    pair is compared whenever the two share ANY of their assignments —
    lifting exactly the cross-cluster-boundary misses the single-probe
    recall caveat describes, at ~n_probe² the candidate cost (each
    cluster's membership grows ~n_probe-fold).  Single-probe stays the
    default (paper parity); measured recall/cost for n_probe=2 is in
    BASELINE.md and gated in test_semdedup.py.  Output is identical in
    shape; a pair sharing several clusters reports its smallest shared
    cluster_id (deterministic).
    """
    if centroids is None:
        centroids = train_centroids(
            corpus, k, id_col=id_col, vec_col=vec_col, seed=seed,
            sample_size=sample_size, iters=iters,
        )
    return _cluster_pairs(
        corpus, None, centroids, n_probe, threshold, id_col, vec_col, ("id_a", "id_b")
    )


def _cluster_pairs(
    probing: DataFrame,
    other: DataFrame | None,
    centroids: np.ndarray,
    n_probe: int,
    threshold: float,
    id_col: str,
    vec_col: str,
    names: tuple[str, str],
) -> DataFrame:
    """The within-cluster scorer of both SemDedup forms: (``names[0]``,
    ``names[1]``, cluster_id, cos) for every pair that shares a cluster
    and whose 9-dp cosine is >= ``threshold``.

    ``probing`` joins its ``n_probe`` nearest clusters.  ``other`` joins
    its single nearest one; ``other=None`` pairs ``probing`` with itself
    (``names[0]`` < ``names[1]``).  A pair that shares several clusters
    is emitted once, with its smallest shared cluster id.  The cosine is
    ``single_eval`` because the threshold filter consumes it."""
    if n_probe < 1:
        raise ValueError(f"n_probe must be >= 1, got {n_probe}")
    left, right = names
    cluster = (
        nearest_list(F.col(vec_col), centroids)
        if n_probe == 1
        else F.explode(nearest_lists(F.col(vec_col), centroids, n_probe))
    )
    assigned = probing.withColumn("_sem_cluster", cluster)
    assigned_b = (
        assigned
        if other is None
        else other.withColumn("_sem_cluster", nearest_list(F.col(vec_col), centroids))
    )
    a = assigned.select("_sem_cluster", F.col(id_col).alias(left), F.col(vec_col).alias("_va"))
    b = assigned_b.select("_sem_cluster", F.col(id_col).alias(right), F.col(vec_col).alias("_vb"))
    joined = a.join(b, "_sem_cluster")
    if other is None:
        joined = joined.filter(F.col(left) < F.col(right))
    scored = joined.withColumn(
        "_cos9", F.round(pairwise_cosine(F.col("_va"), F.col("_vb"), single_eval=True), 9)
    ).filter(F.col("_cos9") >= threshold)
    if n_probe > 1:
        scored = scored.groupBy(left, right).agg(
            F.min("_sem_cluster").alias("_sem_cluster"),
            F.max("_cos9").alias("_cos9"),
        )
    return scored.select(
        left, right, F.col("_sem_cluster").alias("cluster_id"), F.round("_cos9", 6).alias("cos")
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.9,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centroids: np.ndarray | None = None,
    keep: str = "min_id",
    n_probe: int = 1,
) -> DataFrame:
    """Apply SemDedup: keep ONE member per connected component of the
    :func:`semdedup_pairs` graph, drop the rest.  ``n_probe`` forwards
    the multi-assignment recall knob into the pair generation.

    ``keep`` picks the survivor rule:

    * ``"min_id"`` (default) — the engine's dedup-family convention
      (same as ``exact_dedup_keep_min`` / ``apply_dedup``): fully
      deterministic, so batch reruns and streaming/batch twins agree.
    * ``"far_from_centroid"`` — the published SemDedup heuristic (Abbas
      et al. 2023 §3: keep the example with LOWEST cosine to its cluster
      centroid, preferring the least-typical member to preserve
      diversity).  Deterministic here too: ties on the 9-dp-rounded
      centroid cosine break to the minimum id.

    Either way the corpus streams through one anti-join against the
    (tiny) non-survivor id set — only the pair graph iterates
    (``resolve_dup_clusters``); the ``far_from_centroid`` variant adds
    one argmin over the component-members table, which is pair-graph-
    sized, not corpus-sized."""
    from .dedup import apply_dedup, resolve_dup_clusters

    if keep not in ("min_id", "far_from_centroid"):
        raise ValueError(f"unknown keep rule {keep!r}")
    if centroids is None:
        centroids = train_centroids(
            corpus, k, id_col=id_col, vec_col=vec_col, seed=seed
        )
    pairs = semdedup_pairs(
        corpus, threshold, k, id_col, vec_col, seed, centroids=centroids,
        n_probe=n_probe,
    )
    if keep == "min_id":
        return apply_dedup(corpus, pairs, id_col=id_col)
    clusters = resolve_dup_clusters(pairs, id_col=id_col)
    # centroid cosine for just the component members (pair-graph-sized)
    member_vecs = corpus.select(
        F.col(id_col), F.col(vec_col).alias("_vec")
    ).join(clusters, id_col)
    assigned = cluster_assign(
        member_vecs, k, id_col, "_vec", centroids=centroids, out_col="_cl"
    )
    cent_rows = [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)]
    cent_df = corpus.sparkSession.createDataFrame(
        cent_rows, "_cl int, _centroid array<double>"
    )
    scored = assigned.join(F.broadcast(cent_df), "_cl").withColumn(
        "_ccos", F.round(pairwise_cosine(F.col("_vec"), F.col("_centroid")), 9)
    )
    survivors = scored.groupBy("canonical_id").agg(
        F.min_by(F.col(id_col), F.struct(F.col("_ccos"), F.col(id_col))).alias("_keep")
    )
    losers = (
        scored.select(id_col, "canonical_id")
        .join(survivors, "canonical_id")
        .filter(F.col(id_col) != F.col("_keep"))
        .select(id_col)
    )
    return corpus.join(losers, id_col, "left_anti")


def semdedup_pairs_between(
    new_vecs: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.9,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centroids: np.ndarray | None = None,
    n_probe: int = 1,
) -> DataFrame:
    """Cross-batch SemDedup: (id_new, id_corpus, cluster_id, cos) for
    every NEW vector semantically duplicating an EXISTING corpus vector —
    the embedding-space mirror of ``dedup.minhash_pairs_between``.

    Both sides are assigned with the SAME quantizer (pass the fitted
    ``centroids`` of the standing corpus — refitting on the new batch
    would shift cluster boundaries and silently change which corpus
    vectors each new vector is compared against).  The join is new×corpus
    WITHIN cluster only: cost is |new| x avg_cluster_size, never
    |new| x |corpus|, and the corpus side can be a pre-assigned,
    pre-partitioned table so only the (small) new batch shuffles.

    ``n_probe`` > 1 multi-assigns the NEW side only (IVF-search
    semantics: each new vector probes its n_probe nearest clusters
    against the single-assigned standing corpus) — cross-boundary
    recall lifts at ~n_probe× the probe cost while the corpus table's
    partitioning stays byte-identical, so a persisted pre-assigned
    corpus needs no rebuild when the knob changes."""
    if centroids is None:
        centroids = train_centroids(corpus, k, id_col=id_col, vec_col=vec_col, seed=seed)
    return _cluster_pairs(
        new_vecs, corpus, centroids, n_probe, threshold, id_col, vec_col,
        ("id_new", "id_corpus"),
    )


def incremental_semantic_dedup(
    new_vecs: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.9,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centroids: np.ndarray | None = None,
    n_probe: int = 1,
) -> DataFrame:
    """Drop every new vector that semantically duplicates the standing
    corpus (one anti-join over the flagged id set) — compose AFTER
    within-batch ``semantic_dedup`` of the new rows, the same
    curate-then-compare-to-index pattern as ``dedup.incremental_dedup``.
    ``n_probe`` forwards to :func:`semdedup_pairs_between` (r11 — the r10
    multiprobe knob now reaches the anti-join form too): a new vector
    probing its 2 nearest clusters catches the paraphrase sitting just
    across a cluster boundary that single-probe structurally cannot see,
    at ~n_probe× the probe cost and with the standing corpus's persisted
    single-probe assignment untouched."""
    flagged = semdedup_pairs_between(
        new_vecs, corpus, threshold, k, id_col, vec_col, seed, centroids,
        n_probe=n_probe,
    ).select(F.col("id_new").alias(id_col)).distinct()
    return new_vecs.join(flagged, id_col, "left_anti")


def semantic_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_cols: tuple[str, str] = ("max_bench_cos", "is_contaminated"),
) -> DataFrame:
    """Embedding-space benchmark decontamination: tag every corpus vector
    with its MAXIMUM cosine to any benchmark vector and a flag at
    ``threshold`` — the semantic complement of the n-gram
    ``training.flag_contaminated`` (verbatim overlap can be paraphrased
    away; embedding proximity can't).

    Scale shape: the benchmark set is small by definition (eval suites
    are thousands of items), so its full matrix BROADCASTS and the corpus
    streams through one Arrow-batched numpy matmul per batch — map-only,
    no shuffle, no candidate generation needed (unlike in-corpus SemDedup
    where both sides are 100 TB).  Scores snap to 9 dp before the
    threshold (engine guard band)."""
    score_col, flag_col = out_cols
    b_rows = benchmark.select(vec_col).collect()
    if b_rows:
        B = np.asarray([list(r[0]) for r in b_rows], dtype=np.float64)
        bn = np.linalg.norm(B, axis=1)
        # zero-norm benchmark vectors have no cosine to anything — drop
        # them at the driver so they can't NaN every corpus row's max
        B, bn = B[bn > 0], bn[bn > 0]
    else:
        B = np.empty((0, 0))
    if len(B) == 0:
        return corpus.withColumn(score_col, F.lit(None).cast("double")).withColumn(
            flag_col, F.lit(False)
        )
    bb = corpus.sparkSession.sparkContext.broadcast((B, bn))

    # nullable score column: a zero-norm corpus vector has an undefined
    # cosine and must surface as null, not NaN (Arrow ships NaN as null
    # and a non-nullable schema then kills the job JVM-side)
    out_schema = corpus.withColumn("_max_cos", F.lit(None).cast("double")).schema

    def _score(batches):
        Bm, bnorm = bb.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = _stack_f64(pdf[vec_col])
            cn = np.linalg.norm(C, axis=1)
            safe = cn > 0
            scores = np.full(len(pdf), np.nan)
            if safe.any():
                S = (C[safe] @ Bm.T) / (cn[safe, None] * bnorm[None, :])
                scores[safe] = S.max(axis=1)
            # carry the corpus columns through (map-only: no re-join, no
            # second corpus scan) and hand Arrow None, not NaN
            yield pdf.assign(_max_cos=pd.Series(scores).astype(object).where(
                pd.notna(scores), None
            ))

    scored = corpus.mapInPandas(_score, out_schema)
    # 9-dp guard band FIRST, threshold on the 9-dp value (the engine
    # convention — semdedup_pairs does the same), 6 dp only for display
    cos9 = F.round("_max_cos", 9)
    return scored.select(
        *corpus.columns,
        F.round(cos9, 6).alias(score_col),
        F.coalesce(cos9 >= threshold, F.lit(False)).alias(flag_col),
    )


def remove_semantic_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Drop corpus vectors semantically too close to the benchmark —
    ``semantic_contamination`` + one filter, original columns only."""
    flagged = semantic_contamination(
        corpus, benchmark, threshold, id_col, vec_col
    )
    return flagged.filter(~F.col("is_contaminated")).select(*corpus.columns)
