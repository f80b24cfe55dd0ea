"""Persisted IVF index (operators/ann_index.py): search ≡ the in-memory
operators, file-level partition pruning, incremental append."""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_financial_data_pipeline_spark.operators.ann_index import (
    append_to_ivf_index,
    build_ivf_index,
    search_ivf_index,
)
from real_time_financial_data_pipeline_spark.operators.similarity import (
    ivf_pq_topk,
    ivf_topk,
)


def test_search_equals_in_memory_ivf(spark, embeddings, tmp_path):
    path = str(tmp_path / "idx")
    meta = build_ivf_index(embeddings, path, n_lists=8)
    assert meta["n_lists"] == 8 and not meta["pq"]
    q = embeddings.filter(F.col("vec_id") < 3)
    got = search_ivf_index(spark, path, q, k=10, n_probe=2)
    exp = ivf_topk(embeddings, q, k=10, n_lists=8, n_probe=2)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))


def test_pq_search_equals_in_memory_ivf_pq(spark, embeddings, tmp_path):
    """Same rows as ``ivf_pq_topk``, including the 9-dp ADC snap before
    the k*rerank finalist cut, for each (query set, n_probe, rerank)."""
    path = str(tmp_path / "idx_pq")
    meta = build_ivf_index(embeddings, path, n_lists=8, pq=True, m=8, n_codes=16)
    assert meta["pq"] and meta["m"] == 8
    for q, n_probe, rerank in (
        (embeddings.filter(F.col("vec_id") < 3), 2, 8),
        (embeddings.filter(F.col("vec_id").between(100, 119)), 3, 4),
    ):
        got = search_ivf_index(spark, path, q, k=10, n_probe=n_probe, rerank=rerank)
        exp = ivf_pq_topk(
            embeddings, q, k=10, n_lists=8, n_probe=n_probe, rerank=rerank
        )
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))


def test_probe_prunes_partitions_at_file_level(spark, embeddings, tmp_path):
    path = str(tmp_path / "idx_prune")
    build_ivf_index(embeddings, path, n_lists=8)
    q = embeddings.filter(F.col("vec_id") == 0)
    plan = (
        search_ivf_index(spark, path, q, k=5, n_probe=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the scan must carry a partition filter on list_id (file-level skip),
    # never a post-scan row filter over the full index
    assert "PartitionFilters" in plan and "list_id" in plan.split("PartitionFilters", 1)[1][:200]


def test_append_indexes_new_batch_with_saved_quantizer(spark, embeddings, tmp_path):
    import numpy as np

    path = str(tmp_path / "idx_app")
    first = embeddings.filter(F.col("vec_id") < 400)
    build_ivf_index(first, path, n_lists=8)

    # appended batch contains an exact copy of vector 0 under a new id
    v0 = list(embeddings.filter(F.col("vec_id") == 0).collect()[0].embedding)
    rest = embeddings.filter(F.col("vec_id") >= 400).select("vec_id", "embedding")
    clone = spark.createDataFrame(
        [(999_999, v0)], "vec_id long, embedding array<float>"
    )
    append_to_ivf_index(rest.union(clone), path)

    vectors = spark.read.parquet(str(tmp_path / "idx_app" / "vectors"))
    assert vectors.count() == embeddings.count() + 1

    # the clone lands in v0's own list (same quantizer!), so probing with
    # v0 must surface it at rank 1 with cosine 1.0
    q = embeddings.filter(F.col("vec_id") == 0)
    top = search_ivf_index(spark, path, q, k=3, n_probe=1).collect()
    best = next(r for r in top if r.rank == 1)
    assert best.neighbor_id == 999_999 and abs(best.score - 1.0) < 1e-6


def test_stream_search_equals_batch_over_all_queries(spark, embeddings, tmp_path):
    """foreachBatch serving: the streamed result set equals the one-shot
    batch search over the union of all micro-batches (per-query top-k is
    independent across queries)."""
    from real_time_financial_data_pipeline_spark.operators.ann_index import (
        stream_search,
    )

    path = str(tmp_path / "idx_stream")
    build_ivf_index(embeddings, path, n_lists=8)

    qsrc = tmp_path / "queries"
    q_all = embeddings.filter(F.col("vec_id") < 6).select("vec_id", "embedding")
    q_all.filter(F.col("vec_id") < 3).write.parquet(str(qsrc / "f1"))
    q_all.filter(F.col("vec_id") >= 3).write.parquet(str(qsrc / "f2"))
    schema = spark.read.parquet(str(qsrc / "f1")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(qsrc / "*"))
    )
    sink = str(tmp_path / "results")
    q = stream_search(stream, path, sink, str(tmp_path / "ckpt"), k=5, n_probe=2)
    q.awaitTermination(120)

    got = spark.read.parquet(sink)
    exp = search_ivf_index(spark, path, q_all, k=5, n_probe=2)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))
