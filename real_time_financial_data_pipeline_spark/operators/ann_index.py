"""Persisted ANN index: IVF posting lists as parquet PARTITIONS.

``ivf_topk``/``ivf_pq_topk`` (similarity.py) train their quantizer per
call — right for one-shot analytics, wrong for a serving corpus queried
repeatedly.  This module makes the index a lake artifact:

- ``build_ivf_index`` trains the coarse quantizer (and optionally the PQ
  codebooks) ONCE on one ``hash_sample`` collect, lays the corpus out
  as ``_ivf_assign`` does for the in-memory searches, and writes it
  ``partitionBy("list_id")``: each posting list is a partition
  DIRECTORY.  Centroids/codebooks/params are a small sidecar file.
- ``search_ivf_index`` reads the index and hands it to
  ``similarity._ivf_search``, the search core of ``ivf_topk`` and
  ``ivf_pq_topk``, with partition pruning on.  The scan then carries a
  ``list_id IN (probed lists)`` partition filter, so a probe reads
  n_probe/n_lists of the index bytes off disk (asserted in tests).  The
  PQ ADC stage projects only (id, list_id, codes), so parquet column
  pruning leaves the float column unread until the k*rerank finalists
  fetch theirs.

The shared contract: same seeds and parameters give the same quantizers
as the in-memory path, and ``search_ivf_index`` returns exactly what
``ivf_topk``/``ivf_pq_topk`` return — the same probe table, the same
9-dp ADC snap before the finalist cut, the same 9-then-6 dp exact
scores and (score desc, neighbor_id asc) ranking, because it is the same
code (asserted in tests).
"""

from __future__ import annotations

import json
import os

import numpy as np

from pyspark.sql import DataFrame, SparkSession

from ..streaming.ingest import start_foreach_batch
from .similarity import _fit_quantizers, _ivf_assign, _ivf_search


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
    centroids, codebooks = _fit_quantizers(
        corpus, n_lists, pq=pq, m=m, n_codes=n_codes, id_col=id_col,
        vec_col=vec_col, seed=seed, sample_size=sample_size, iters=iters,
    )
    _ivf_assign(corpus, id_col, vec_col, centroids, codebooks).write.partitionBy(
        "list_id"
    ).mode("overwrite").parquet(os.path.join(path, "vectors"))
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


def _load_meta(path: str) -> tuple[dict, np.ndarray, np.ndarray | None]:
    """The index sidecar: (params, centroids, codebooks or None)."""
    with open(os.path.join(path, "centroids.json")) as f:
        meta = json.load(f)
    codebooks = meta["codebooks"]
    return (
        meta,
        np.asarray(meta["centroids"], dtype=np.float64),
        None if codebooks is None else np.asarray(codebooks, dtype=np.float64),
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
    schema — exactly ``ivf_topk`` / ``ivf_pq_topk`` (``rerank`` applies
    to a PQ index only)."""
    meta, centroids, codebooks = _load_meta(path)
    vectors = spark.read.parquet(os.path.join(path, "vectors"))
    return _ivf_search(
        vectors, queries, k, n_probe, meta["id_col"], meta["vec_col"], centroids,
        codebooks, rerank, prune=True,
    )


def append_to_ivf_index(new_vectors: DataFrame, path: str) -> None:
    """Incrementally index a new batch: encode with the SAVED quantizers
    (no retraining — the index stays consistent with itself) and append
    into the existing partition directories.  The standard IVF posture:
    centroids drift only when a rebuild is scheduled, appends are cheap
    map-only writes."""
    meta, centroids, codebooks = _load_meta(path)
    _ivf_assign(
        new_vectors, meta["id_col"], meta["vec_col"], centroids, codebooks
    ).write.partitionBy("list_id").mode("append").parquet(os.path.join(path, "vectors"))


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
