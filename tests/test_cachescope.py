"""Scoped persist lifetimes (r18, operators/cachescope): a second
same-session invocation of an operator with internal persists must not
reuse the first invocation's MATERIALIZED caches.

Subtlety the assertions respect: invocation 2 re-persists the same
canonical plan, so CacheManager lookups (``df.storageLevel``) match the
NEW entry immediately.  The honest-recompute signal is whether the entry's
column buffers are LOADED — rotation drops invocation 1's bytes, so right
after invocation 2 plans (before its action) the matching entry exists but
holds nothing.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from real_time_financial_data_pipeline_spark.operators import cachescope
from real_time_financial_data_pipeline_spark.operators.dedup import (
    minhash_dedup_pairs,
    minhash_pairs_between,
)


def _docs(spark, n=60, tag=""):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(f"alpha beta gamma delta {tag} doc "), F.col("id") % 7).alias(
            "text"
        ),
    )


def _buffers_loaded(df) -> bool | None:
    """True/False when a cache entry matches df's plan, None when none does."""
    session = df.sparkSession
    cm = session._jsparkSession.sharedState().cacheManager()
    opt = cm.lookupCachedData(df._jdf)
    if not opt.isDefined():
        return None
    return bool(
        opt.get().cachedRepresentation().cacheBuilder().isCachedColumnBuffersLoaded()
    )


def _builder_identity(df) -> int | None:
    """JVM identity of the cache-buffer builder matching df's plan — a NEW
    identity across invocations proves the old materialized bytes were
    dropped and the entry was rebuilt, not reused."""
    session = df.sparkSession
    cm = session._jsparkSession.sharedState().cacheManager()
    opt = cm.lookupCachedData(df._jdf)
    if not opt.isDefined():
        return None
    builder = opt.get().cachedRepresentation().cacheBuilder()
    return int(session._jvm.java.lang.System.identityHashCode(builder))


def test_begin_unpersists_previous_scope(spark):
    df = spark.range(10).select((F.col("id") * 17).alias("v")).persist()
    cachescope.register("t_scope", df)
    df.count()
    assert df.storageLevel.useMemory
    cachescope.begin("t_scope")
    assert not df.storageLevel.useMemory
    assert cachescope.live("t_scope") == []


def test_minhash_dedup_pairs_rotates_caches(spark):
    docs = _docs(spark)
    out1 = minhash_dedup_pairs(docs, threshold=0.5)
    out1.count()
    live1 = cachescope.live("minhash_dedup_pairs")
    assert live1 and all(_buffers_loaded(f) for f in live1)
    ids1 = [_builder_identity(f) for f in live1]

    # invocation 2 rotates: invocation 1's materialized entries are dropped
    # and the same canonical plans get FRESH cache builders (recomputed by
    # invocation 2's own eager count), never the old bytes
    out2 = minhash_dedup_pairs(docs, threshold=0.5)
    live2 = cachescope.live("minhash_dedup_pairs")
    assert [id(f) for f in live2] != [id(f) for f in live1]
    ids2 = [_builder_identity(f) for f in live1]
    assert all(a != b for a, b in zip(ids1, ids2))
    assert sorted(map(tuple, out1.collect())) == sorted(map(tuple, out2.collect()))


def test_minhash_pairs_between_rotates_caches(spark):
    new = _docs(spark, n=20, tag="new")
    corpus = _docs(spark, n=20, tag="new")  # same fabric -> real pairs
    out1 = minhash_pairs_between(new, corpus, threshold=0.5)
    out1.count()
    live1 = cachescope.live("minhash_pairs_between")
    assert live1 and all(_buffers_loaded(f) for f in live1)
    ids1 = [_builder_identity(f) for f in live1]

    minhash_pairs_between(new, corpus, threshold=0.5)
    ids2 = [_builder_identity(f) for f in live1]
    assert all(a != b for a, b in zip(ids1, ids2))


def test_prepare_training_set_frees_its_barrier_without_benchmark(spark):
    """A call without a benchmark persists nothing, yet it still frees the
    previous call's curation barrier instead of plan-matching into it."""
    from real_time_financial_data_pipeline_spark.operators.training import (
        prepare_training_set,
    )

    bench_text = "the quick brown fox jumps over the lazy dog again tonight"
    run8 = " ".join(bench_text.split()[:8])
    corpus = spark.createDataFrame(
        [
            (1, f"intro words {run8} trailing content is here now"),
            (2, "all of the tokens in this document are original and on topic"),
        ],
        "doc_id long, text string",
    )
    benchmark = spark.createDataFrame([(9, bench_text)], "doc_id long, text string")
    knobs = dict(min_quality=0.5, chunk_tokens=8, overlap_tokens=0)

    out1 = prepare_training_set(corpus, benchmark=benchmark, **knobs)
    assert {r.doc_id for r in out1.collect()} == {2}
    live1 = cachescope.live("prepare_training_set")
    assert live1 and all(_buffers_loaded(f) for f in live1)

    out2 = prepare_training_set(corpus, **knobs)
    assert cachescope.live("prepare_training_set") == []
    assert not any(f.storageLevel.useMemory for f in live1)
    assert {r.doc_id for r in out2.collect()} == {1, 2}
