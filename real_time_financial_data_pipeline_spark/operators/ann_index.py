"""Persisted ANN index: IVF posting lists as parquet PARTITIONS.

``ivf_topk``/``ivf_pq_topk`` (similarity.py) train their quantizer per
call — right for one-shot analytics, wrong for a serving corpus queried
repeatedly.  This module makes the index a lake artifact:

- ``build_ivf_index`` trains the coarse quantizer (and optionally the PQ
  codebooks) ONCE — both fits share one ``hash_sample`` collect — then
  assigns every vector to its posting list and writes the corpus
  ``partitionBy("list_id")``: each posting list is a partition
  DIRECTORY.  Centroids/codebooks/params are tiny sidecar files.
- ``search_ivf_index`` reads the centroids driver-side, picks each
  query's ``n_probe`` lists, and scans the corpus with a
  ``list_id IN (...)`` filter — Spark prunes at the FILE level, so a
  probe literally reads n_probe/n_lists of the index bytes off disk
  (asserted via PartitionFilters in tests).  Scoring inside probed lists
  is exact cosine (float path) or ADC over the stored PQ codes + exact
  rerank (pq path).  The pq ADC stage projects ONLY (id, list_id,
  codes), so parquet column pruning keeps the 64x-larger float column
  unread until the k*rerank finalists fetch theirs.

This turns the IVF cost model from "scan everything, skip most rows"
into "never read the skipped bytes" — at 100 TB the difference between
a full-corpus scan per query batch and touching a few partitions.

Determinism: same seeds/params as the in-memory path; building twice
from the same corpus yields byte-identical assignments, and
``search_ivf_index`` equals ``ivf_topk``/``ivf_pq_topk`` with the same
parameters (asserted in tests — the probe/LUT/rounding machinery is the
SAME shared helpers, not a copy).
"""

from __future__ import annotations

import json
import os

import numpy as np

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..streaming.ingest import start_foreach_batch
from .similarity import (
    _adc_score,
    hash_sample,
    nearest_list,
    pq_codes,
    pq_luts,
    probe_lists_for,
    rounded_pairwise_cosine,
    topk_per_query,
    train_centroids,
    train_pq,
)


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    pq: bool = False,
    m: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    sample_size: int = 2048,
    iters: int = 8,
) -> dict:
    """Train quantizers, assign lists, write the partitioned index.

    Layout: ``{path}/vectors/list_id=N/*.parquet`` (id, embedding, and
    ``codes`` when ``pq``), ``{path}/centroids.json`` (the coarse
    quantizer + PQ codebooks + params — a few KB, read driver-side at
    search time).  One sample collect feeds both quantizer fits; one
    pass over the corpus assigns and encodes (map-only Arrow
    projections); the only data movement is the partitioned write."""
    X = hash_sample(corpus, id_col, vec_col, seed, sample_size)
    centroids = train_centroids(
        corpus, n_lists, id_col=id_col, vec_col=vec_col, seed=seed,
        sample_size=sample_size, iters=iters, sample=X,
    )
    cols = [
        F.col(id_col),
        F.col(vec_col),
        nearest_list(F.col(vec_col), centroids).alias("list_id"),
    ]
    codebooks = None
    if pq:
        codebooks = train_pq(
            corpus, m, n_codes, id_col=id_col, vec_col=vec_col, seed=seed,
            sample_size=sample_size, iters=iters, sample=X,
        )
        cols.append(pq_codes(F.col(vec_col), codebooks).alias("codes"))
    corpus.select(*cols).write.partitionBy("list_id").mode("overwrite").parquet(
        os.path.join(path, "vectors")
    )
    meta = {
        "id_col": id_col,
        "vec_col": vec_col,
        "n_lists": int(centroids.shape[0]),
        "pq": pq,
        "m": m if pq else None,
        "n_codes": int(codebooks.shape[1]) if pq else None,
        "centroids": centroids.tolist(),
        "codebooks": codebooks.tolist() if pq else None,
    }
    with open(os.path.join(path, "centroids.json"), "w") as f:
        json.dump(meta, f)
    return meta


def _empty_result(spark: SparkSession, vectors: DataFrame, id_col: str) -> DataFrame:
    id_t = vectors.schema[id_col].dataType.simpleString()
    return spark.createDataFrame(
        [], f"query_id {id_t}, neighbor_id {id_t}, score double, rank bigint"
    )


def search_ivf_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    rerank: int = 8,
) -> DataFrame:
    """Probe a persisted index: centroids load driver-side (KBs), each
    query's ``n_probe`` nearest lists come from one tiny numpy matmul,
    and the index scan carries ``list_id IN (union of probes)`` so only
    those partition directories are read.  Returns the ``cosine_topk``
    schema (exact cosine scores — the pq path reranks its ADC finalists
    exactly like ``ivf_pq_topk``)."""
    with open(os.path.join(path, "centroids.json")) as f:
        meta = json.load(f)
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    centroids = np.asarray(meta["centroids"], dtype=np.float64)

    q_rows = queries.select(id_col, vec_col).collect()
    vectors = spark.read.parquet(os.path.join(path, "vectors"))
    if not q_rows:
        return _empty_result(spark, vectors, id_col)
    Q = np.asarray([list(r[1]) for r in q_rows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    probe_idx = probe_lists_for(Qn, centroids, n_probe)
    probed_lists = sorted({int(x) for row in probe_idx for x in row})
    # partition pruning: only the probed list_id directories are scanned
    pruned = vectors.filter(F.col("list_id").isin(probed_lists))
    id_t = vectors.schema[id_col].dataType.simpleString()
    vec_t = vectors.schema[vec_col].dataType.simpleString()

    if not meta["pq"]:
        probes = [
            (r[0], list(r[1]), int(lst))
            for r, lists in zip(q_rows, probe_idx)
            for lst in lists
        ]
        q = spark.createDataFrame(
            probes, f"query_id {id_t}, query_vec {vec_t}, list_id long"
        )
        joined = pruned.withColumnRenamed(id_col, "neighbor_id").join(
            broadcast(q), "list_id"
        ).filter(F.col("neighbor_id") != F.col("query_id"))
        scored = joined.select(
            "query_id",
            "neighbor_id",
            rounded_pairwise_cosine(F.col(vec_col), F.col("query_vec")).alias("score"),
        )
        return topk_per_query(scored, k)

    # pq path: ADC over a CODES-ONLY projection of the probed lists
    # (column pruning keeps the float column unread here), then exact
    # rerank fetching floats for just the k*rerank finalists
    codebooks = np.asarray(meta["codebooks"], dtype=np.float64)
    m_eff, n_codes_eff, _ = codebooks.shape
    luts = pq_luts(Qn, codebooks)
    probes = [
        (r[0], list(r[1]), [float(v) for v in lut], int(lst))
        for r, lut, lists in zip(q_rows, luts, probe_idx)
        for lst in lists
    ]
    q = spark.createDataFrame(
        probes,
        f"query_id {id_t}, query_vec {vec_t}, lut array<double>, list_id long",
    )
    codes_only = pruned.select(
        F.col(id_col).alias("neighbor_id"), F.col("list_id"), F.col("codes")
    )
    cand = codes_only.join(broadcast(q), "list_id").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    adc = cand.select(
        "query_id",
        "query_vec",
        "neighbor_id",
        _adc_score(F.col("codes"), F.col("lut"), m_eff, n_codes_eff).alias("adc"),
    )
    w_adc = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("neighbor_id"))
    finalists = adc.withColumn("_r", F.row_number().over(w_adc)).filter(
        F.col("_r") <= k * rerank
    )
    vecs = pruned.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_nvec")
    )
    reranked = vecs.join(
        broadcast(finalists.select("query_id", "query_vec", "neighbor_id")),
        "neighbor_id",
    ).select(
        "query_id",
        "neighbor_id",
        rounded_pairwise_cosine(F.col("_nvec"), F.col("query_vec")).alias("score"),
    )
    return topk_per_query(reranked, k)


def append_to_ivf_index(new_vectors: DataFrame, path: str) -> None:
    """Incrementally index a new batch: encode with the SAVED quantizers
    (no retraining — the index stays consistent with itself) and append
    into the existing partition directories.  The standard IVF posture:
    centroids drift only when a rebuild is scheduled, appends are cheap
    map-only writes."""
    with open(os.path.join(path, "centroids.json")) as f:
        meta = json.load(f)
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    centroids = np.asarray(meta["centroids"], dtype=np.float64)
    cols = [
        F.col(id_col),
        F.col(vec_col),
        nearest_list(F.col(vec_col), centroids).alias("list_id"),
    ]
    if meta["pq"]:
        codebooks = np.asarray(meta["codebooks"], dtype=np.float64)
        cols.append(pq_codes(F.col(vec_col), codebooks).alias("codes"))
    new_vectors.select(*cols).write.partitionBy("list_id").mode("append").parquet(
        os.path.join(path, "vectors")
    )


def stream_search(
    query_stream: DataFrame,
    path: str,
    sink_path: str,
    checkpoint: str,
    k: int = 10,
    n_probe: int = 4,
    rerank: int = 8,
    trigger_available_now: bool = True,
):
    """Continuous ANN serving: a STREAM of query vectors searched against
    the persisted index, results appended to a parquet sink.

    Each micro-batch runs ``search_ivf_index`` inside ``foreachBatch`` —
    the right boundary because probe selection is a driver-side numpy
    step per query batch, and per-query top-k is independent across
    queries, so the streamed result set is EXACTLY the batch search over
    the union of all micro-batches (asserted in tests).  The index is
    re-read per micro-batch: an ``append_to_ivf_index`` between batches
    is visible to the next batch without restarting the stream."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            out = search_ivf_index(
                batch_df.sparkSession, path, batch_df, k, n_probe, rerank
            )
            out.write.mode("append").parquet(sink_path)

    return start_foreach_batch(query_stream, _process, checkpoint, trigger_available_now)
