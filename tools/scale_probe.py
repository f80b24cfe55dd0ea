"""Data-scaling probe: measures headline operator families at 1x vs Nx
replicated inputs and prints ONE JSON line — the reproducible harness
behind BASELINE.md's "Nx-data shape" sections (rounds 5-9 ran these as
ad-hoc scripts; this pins the recipe).

Replication recipe (same as BASELINE.md): id-offset copies along the id
axis (documents/embeddings) or the time axis (events) — structure-
preserving, so each family's candidate-generation behavior (dup windows,
cluster densities, gram tables) scales the way a bigger corpus would,
modulo the noted every-copy-is-a-duplicate effect for content-keyed ops.

Usage: python tools/scale_probe.py [replication, default 3]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
       SPARK_GRAFT_PROBE_ONLY (substring filter: run only matching
       sections — e.g. "anchor" or "multiclass" at replication 10
       without paying for the full suite)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from real_time_financial_data_pipeline_spark.catalog import load_table
from real_time_financial_data_pipeline_spark.session import get_spark


def median_of(fn, runs: int = 3) -> float:
    samples = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        samples.append(time.perf_counter() - t0)
    return round(statistics.median(samples), 3)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    rep = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    only = os.environ.get("SPARK_GRAFT_PROBE_ONLY")

    def want(name: str) -> bool:
        return only is None or only in name
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    def replicate(df, id_col):
        out = df
        for i in range(1, rep):
            out = out.union(df.withColumn(id_col, F.col(id_col) + F.lit(i * 1_000_000)))
        return out.persist()

    docs1 = load_table(spark, sf_dir, "documents").persist()
    emb1 = load_table(spark, sf_dir, "embeddings").persist()
    ev1 = load_table(spark, sf_dir, "events").persist()
    docs1.count(), emb1.count(), ev1.count()
    docsN = replicate(docs1, "doc_id")
    embN = replicate(emb1, "vec_id")
    evN = ev1
    for i in range(1, rep):
        evN = evN.union(ev1.withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {i * 37} DAYS")))
    evN = evN.persist()
    docsN.count(), embN.count(), evN.count()

    from real_time_financial_data_pipeline_spark.operators.dedup import (
        apply_substring_dedup,
        minhash_dedup_pairs,
        paragraph_dedup,
        substring_dup_spans,
    )
    from real_time_financial_data_pipeline_spark.operators.finance import (
        activity_bars,
        kyle_lambda,
        vwap_bars,
    )
    from real_time_financial_data_pipeline_spark.operators.lm import (
        perplexity_trigram,
        train_trigram_lm,
    )
    from real_time_financial_data_pipeline_spark.operators.similarity import (
        ivf_pq_topk,
        semdedup_pairs,
    )
    from real_time_financial_data_pipeline_spark.operators.asof import range_join
    from real_time_financial_data_pipeline_spark.operators.sketches import kmv_sketch
    from real_time_financial_data_pipeline_spark.operators.text import corpus_report

    def ticks(ev):
        return ev.select(
            "event_type", "ts", F.col("value").alias("price"),
            F.get_json_object("props", "$.k").cast("double").alias("size"),
        )

    # relational fact replication for the join/rollup probe: lineitem and
    # orders offset along the orderkey axis, dims untouched (a bigger fact
    # against the same dimensions — exactly how the real table grows)
    li1 = load_table(spark, sf_dir, "lineitem").persist()
    od1 = load_table(spark, sf_dir, "orders").persist()
    li1.count(), od1.count()
    liN, odN = li1, od1
    for i in range(1, rep):
        off = F.lit(i * 100_000_000)
        liN = liN.union(li1.withColumn("l_orderkey", F.col("l_orderkey") + off))
        odN = odN.union(od1.withColumn("o_orderkey", F.col("o_orderkey") + off))
    liN, odN = liN.persist(), odN.persist()
    liN.count(), odN.count()
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")

    from real_time_financial_data_pipeline_spark.plans.relational import (
        revenue_rollup,
    )
    from real_time_financial_data_pipeline_spark.streaming.aggregates import (
        run_stream_to_memory,
        tumbling_ohlc,
    )

    # streaming probe: materialize each scale's events once (untimed), then
    # time ONLY the availableNow drain of the watermarked tumbling agg
    _seq = [0]

    def stream_drain(path):
        _seq[0] += 1
        name = f"probe_tumbling_{_seq[0]}"
        schema = spark.read.parquet(path).schema
        raw = spark.readStream.schema(schema).parquet(path)
        run_stream_to_memory(tumbling_ohlc(raw), name, "complete")
        noop(spark.table(name))
        spark.catalog.dropTempView(name)

    stream_dirs = {}
    if want("stream_tumbling"):
        for tag, df in (("1x", ev1), (f"{rep}x", evN)):
            p = f"/tmp/scale_probe_events_{tag}"
            df.write.mode("overwrite").parquet(p)
            stream_dirs[tag] = p

    # trained quality model: fit ONCE on the 1x corpus (untimed — training
    # runs on the weak-label sample in production, not per-scoring-pass),
    # then probe the literal-folded apply at both scales.  Map-only, so
    # the expectation is the corpus_report shape: ~flat at these SFs.
    from real_time_financial_data_pipeline_spark.operators.classifier import (
        apply_quality_classifier,
        quality_feature_exprs,
        train_quality_classifier,
    )

    _exprs = quality_feature_exprs(F.col("text"))
    _labeled1 = docs1.select("doc_id", "text").withColumn(
        "label", (_exprs["stopword_ratio"] > F.lit(0.05)).cast("double")
    )
    qc_weights = train_quality_classifier(_labeled1, "label", "text", max_iter=25).collect()
    qc_weights_df = spark.createDataFrame(qc_weights, "idx int, feature string, weight double")

    # hashed (fastText-style) twin: same fit-once-untimed protocol; apply
    # is the array-literal mean-pool fold — also map-only, but the
    # per-row work adds bigram construction + one hash per gram
    from real_time_financial_data_pipeline_spark.operators.classifier import (
        apply_quality_classifier_hashed,
        train_quality_classifier_hashed,
    )

    qc_hashed_w = train_quality_classifier_hashed(_labeled1, iters=15).persist()
    qc_hashed_w.count()

    # multiclass (fastText-shape) lang-id: fit ONCE untimed on the 1x
    # corpus's lang labels (K=5, 2048 buckets -> K x n_buckets under the
    # literal cap: the codegen'd struct-fold path), and a SYNTHETIC
    # 20-class x 4096-bucket model (over the cap: the broadcast-matrix
    # Arrow path).  Both applies are zero-exchange map-only projections,
    # so the expected shape is the binary classifier's ~flat ratio.
    from real_time_financial_data_pipeline_spark.operators.classifier import (
        QC_HASH_SCHEME,
        apply_multiclass_hashed,
        train_multiclass_hashed,
    )

    mc_w5 = train_multiclass_hashed(
        docs1.select("lang", "text"), label_col="lang", n_buckets=2048, iters=6
    ).persist()
    mc_w5.count()
    _k20 = 20
    _nb20 = 4096
    _rows20 = [(-1, f"c{c:02d}", 0.01 * c - 0.1) for c in range(_k20)] + [
        ((c * 104729 + j * 34807) % _nb20, f"c{c:02d}",
         ((c * 31 + j * 7) % 11 - 5) * 0.25)
        for c in range(_k20)
        for j in range(60)
    ]
    mc_w20 = spark.createDataFrame(
        _rows20, "bucket int, label string, weight double"
    ).select(
        "bucket",
        "label",
        F.col("weight").alias(
            "weight",
            metadata={"qc_n_buckets": _nb20, "qc_ngram": 2,
                      "qc_hash": QC_HASH_SCHEME},
        ),
    ).persist()
    mc_w20.count()

    # probe lambdas take (frame, scale); scale feeds the k∝n SemDedup knob
    probes = {
        "quality_classifier_apply": lambda d, s: noop(
            apply_quality_classifier(d.select("doc_id", "text"), qc_weights_df)
            .select("doc_id", "quality_logit", "quality_keep")),
        "quality_classifier_hashed_apply": lambda d, s: noop(
            apply_quality_classifier_hashed(d.select("doc_id", "text"), qc_hashed_w)
            .select("doc_id", "quality_logit", "quality_keep")),
        "minhash_pairs": lambda d, s: noop(minhash_dedup_pairs(d, threshold=0.5)),
        "paragraph_dedup": lambda d, s: noop(paragraph_dedup(
            d.withColumn("text", F.regexp_replace(F.col("text"), r"((?:\S+ ){3}\S+) ", "$1\n")))),
        "substring_dedup": lambda d, s: noop(apply_substring_dedup(
            d, substring_dup_spans(d, window_tokens=20))),
        "corpus_report": lambda d, s: noop(corpus_report(d)),
        "trigram_perplexity": lambda d, s: noop(
            perplexity_trigram(d, train_trigram_lm(d, vocab_size=20))),
        # sketch build: map-scan-bound, shuffle bounded at partitions x k
        # per key — expect ~linear time, CONSTANT output/shuffle width
        "kmv_sketch_docs": lambda d, s: noop(
            kmv_sketch(d, "text", key_cols=["lang"], k=1024)),
        "multiclass_apply_k5_literal": lambda d, s: noop(
            apply_multiclass_hashed(
                d.select("doc_id", "text"), mc_w5, prob_col="p"
            ).select("doc_id", "pred", "p")),
        "multiclass_apply_k20_broadcast": lambda d, s: noop(
            apply_multiclass_hashed(
                d.select("doc_id", "text"), mc_w20, prob_col="p"
            ).select("doc_id", "pred", "p")),
    }
    emb_probes = {
        # fixed k: the documented super-linear shape (cluster sizes grow
        # with the corpus, Σ|cluster|² grows quadratically per cluster)
        "semdedup_pairs": lambda e, s: noop(semdedup_pairs(e, threshold=0.3, k=8)),
        # k∝n: the scale posture — cluster count grows with the corpus so
        # expected cluster SIZE (and the pair bound per cluster) stays flat
        "semdedup_kprop": lambda e, s: noop(semdedup_pairs(e, threshold=0.3, k=8 * s)),
        "ivf_pq_topk": lambda e, s: noop(
            ivf_pq_topk(e, e.filter(F.col("vec_id") < 5), k=10)),
    }
    ev_probes = {
        "vwap_daily_bars": lambda e, s: noop(
            vwap_bars(ticks(e), "D", group_cols=["event_type"])),
        "activity_bars": lambda e, s: noop(activity_bars(ticks(e), 2000.0, "volume")),
        "kyle_lambda": lambda e, s: noop(kyle_lambda(ticks(e), ["event_type"])),
        # range join with BOTH sides growing (intervals = every 49th
        # event): per-bucket work stays density-bound, never |L| x |R|
        "range_join": lambda e, s: noop(
            range_join(
                e.select("event_id", "ts"),
                e.filter(F.pmod("event_id", F.lit(49)) == 0).select(
                    F.col("event_id").alias("iid"),
                    F.col("ts").alias("w_start"),
                    (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("w_end"),
                ),
                "ts", "w_start", "w_end", bucket="2 hours",
            ).groupBy("iid").count()),
    }

    results: dict[str, dict[str, float]] = {}
    for name, fn in probes.items():
        if not want(name):
            continue
        results[name] = {"1x": median_of(lambda: fn(docs1, 1)), f"{rep}x": median_of(lambda: fn(docsN, rep))}
    for name, fn in emb_probes.items():
        if not want(name):
            continue
        results[name] = {"1x": median_of(lambda: fn(emb1, 1)), f"{rep}x": median_of(lambda: fn(embN, rep))}
    for name, fn in ev_probes.items():
        if not want(name):
            continue
        results[name] = {"1x": median_of(lambda: fn(ev1, 1)), f"{rep}x": median_of(lambda: fn(evN, rep))}
    if want("revenue_rollup"):
        results["revenue_rollup"] = {
            "1x": median_of(lambda: noop(revenue_rollup(li1, od1, cust, nat, reg))),
            f"{rep}x": median_of(lambda: noop(revenue_rollup(liN, odN, cust, nat, reg))),
        }
    if want("stream_tumbling"):
        results["stream_tumbling"] = {
            "1x": median_of(lambda: stream_drain(stream_dirs["1x"])),
            f"{rep}x": median_of(lambda: stream_drain(stream_dirs[f"{rep}x"])),
        }

    # --- anchor profile / anchor-term join (r16) --------------------------
    # anchor_profile: Nx LINK rows over a FIXED domain universe and a
    # FIXED anchor vocabulary — the claim is the only shuffle carries
    # (domain, term, partial count), so its width is domains x vocabulary
    # and the Nx cost is the map-side scan+combine, not the exchange
    # (expect clearly sub-linear).  with_anchor_terms: Nx docs against a
    # FIXED per-domain profile — a size-gated keyed left join, expect the
    # corpus_report-style ~flat-to-linear shape.
    if want("anchor"):
        from real_time_financial_data_pipeline_spark.operators.crawl_graph import (
            anchor_profile,
            with_anchor_terms,
        )

        _vocab = F.lit([f"term{i}" for i in range(50)])
        _n_dom = 5_000

        def anchor_links(scale):
            def term(salt):
                return F.element_at(
                    _vocab,
                    (F.pmod(F.xxhash64("id", F.lit(salt)), F.lit(50)) + 1).cast("int"),
                )

            return spark.range(60_000 * scale).select(
                F.concat(
                    F.lit("https://d"),
                    F.pmod(F.xxhash64("id"), F.lit(_n_dom)).cast("string"),
                    F.lit(".com/p"),
                    F.col("id").cast("string"),
                ).alias("dst"),
                F.concat_ws(" ", term("a"), term("b"), term("c")).alias("anchor_text"),
            )

        links1, linksN = anchor_links(1).persist(), anchor_links(rep).persist()
        links1.count(), linksN.count()
        results["anchor_profile"] = {
            "1x": median_of(lambda: noop(anchor_profile(links1, k=5, stopwords=[]))),
            f"{rep}x": median_of(lambda: noop(anchor_profile(linksN, k=5, stopwords=[]))),
        }
        prof1 = anchor_profile(links1, k=5, stopwords=[]).persist()
        prof1.count()

        def docs_uri(d):
            return d.withColumn(
                "uri",
                F.concat(
                    F.lit("https://d"),
                    F.pmod(F.xxhash64(F.col("doc_id")), F.lit(_n_dom)).cast("string"),
                    F.lit(".com/p"),
                    F.col("doc_id").cast("string"),
                ),
            )

        results["with_anchor_terms"] = {
            "1x": median_of(lambda: noop(with_anchor_terms(docs_uri(docs1), prof1, "uri"))),
            f"{rep}x": median_of(lambda: noop(with_anchor_terms(docs_uri(docsN), prof1, "uri"))),
        }
        prof1.unpersist(), links1.unpersist(), linksN.unpersist()

    if want("stream_fuzzy"):
        # --- streaming fuzzy linkage: stream side Nx, catalog FIXED ---------
        # the per-row HOF signature cost claim: drain wall should scale with
        # the stream row count and nothing else (static catalog index is
        # resolved once per (re)start, reused across micro-batches)
        from real_time_financial_data_pipeline_spark.streaming.linkage import (
            stream_fuzzy_matches,
        )

        names1 = docs1.select(
            F.col("doc_id").alias("cid"),
            F.concat_ws(
                " ", F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 4)
            ).alias("cname"),
        ).filter(F.length("cname") > 0)
        sl_catalog = names1.limit(5000).persist()
        sl_catalog.count()

        def stream_queries(docs):
            return docs.select(
                (F.col("doc_id") + F.lit(10_000_000)).alias("qid"),
                F.concat_ws(
                    " ", F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 4)
                ).alias("qname"),
                (
                    F.to_timestamp(F.lit("2024-01-01 00:00:00"))
                    + F.make_interval(secs=F.pmod("doc_id", F.lit(3600)).cast("double"))
                ).alias("ts"),
            ).filter(F.length("qname") > 0)

        sl_dirs = {}
        for tag, df in (("1x", docs1), (f"{rep}x", docsN)):
            p = f"/tmp/scale_probe_linkage_{tag}"
            stream_queries(df).write.mode("overwrite").parquet(p)
            sl_dirs[tag] = p

        def linkage_drain(path):
            _seq[0] += 1
            name = f"probe_linkage_{_seq[0]}"
            schema = spark.read.parquet(path).schema
            raw = spark.readStream.schema(schema).parquet(path)
            matches = stream_fuzzy_matches(
                raw, sl_catalog, "qname", "cname", "qid", "cid", "ts", threshold=0.5
            )
            run_stream_to_memory(matches, name, "append")
            noop(spark.table(name))
            spark.catalog.dropTempView(name)

        results["stream_fuzzy_matches"] = {
            "1x": median_of(lambda: linkage_drain(sl_dirs["1x"])),
            f"{rep}x": median_of(lambda: linkage_drain(sl_dirs[f"{rep}x"])),
        }
    if want("curriculum_epoch"):

        # --- curriculum -> packing epoch write -------------------------------
        # the full epoch-write composition: chunk (map-only) -> pack (one
        # content-hash shuffle + per-bucket FFD) -> curriculum_order (scoring
        # projection fused under ONE range-partitioned global sort).  Expect
        # ~linear: every stage is one pass, no cross-scale state.
        from real_time_financial_data_pipeline_spark.operators.training import (
            chunk_documents,
            curriculum_order,
            pack_sequences,
        )

        def epoch_write(d, s):
            chunks = chunk_documents(d, chunk_tokens=64, overlap_tokens=8)
            packed = pack_sequences(chunks, token_budget=256, n_buckets=32)
            noop(
                curriculum_order(
                    packed, qc_weights_df, key_cols=["doc_id", "chunk_id"],
                    text_col="chunk_text",
                )
            )

        results["curriculum_epoch_write"] = {
            "1x": median_of(lambda: epoch_write(docs1, 1)),
            f"{rep}x": median_of(lambda: epoch_write(docsN, rep)),
        }

    if want("pagerank_5rounds"):
        # --- PageRank, fixed 5 rounds over an Nx synthetic domain graph ------
        # per round = one keyed hash join (cached pre-normalized shares x
        # ranks) + one hash aggregate; with nodes AND edges both scaled Nx the
        # wall should stay ~linear in |edges| — round count is shape-free
        # (d^k contraction), so fixed rounds isolate the per-round cost
        from real_time_financial_data_pipeline_spark.operators.crawl_graph import (
            pagerank,
        )

        def graph_edges(scale):
            n_nodes, n_edges = 2_000 * scale, 40_000 * scale
            return spark.range(n_edges).select(
                F.concat(
                    F.lit("d"), F.pmod(F.xxhash64("id"), F.lit(n_nodes)).cast("string")
                ).alias("src_domain"),
                F.concat(
                    F.lit("d"),
                    F.pmod(F.xxhash64("id", F.lit("t")), F.lit(n_nodes)).cast("string"),
                ).alias("dst_domain"),
                (F.pmod(F.xxhash64("id", F.lit("w")), F.lit(9)) + 1)
                .cast("double")
                .alias("weight"),
            )

        g1, gN = graph_edges(1).persist(), graph_edges(rep).persist()
        g1.count(), gN.count()
        results["pagerank_5rounds"] = {
            "1x": median_of(lambda: noop(pagerank(g1, tol=None, max_iter=5))),
            f"{rep}x": median_of(lambda: noop(pagerank(gN, tol=None, max_iter=5))),
        }
        g1.unpersist(), gN.unpersist()

    for name, r in results.items():
        r["ratio"] = round(r[f"{rep}x"] / r["1x"], 2) if r["1x"] else None

    warm_res = results_slowmix = None
    if want("pagerank_warm"):
        # --- PageRank warm start: the nightly-delta wall win -----------------
        # the claim (test-pinned in test_crawl_graph.py) is that re-ranking
        # after a small nightly edge fold converges in FEWER ROUNDS from
        # yesterday's fixpoint; this measures what that buys in WALL on the
        # Nx graph.  The graph here must have SKEWED in-degree (cubic-biased
        # destinations): the hash-uniform graph above is near-regular, its
        # fixpoint is near-uniform, and a cold start FROM uniform is then
        # already converged — the degenerate shape where warm starts buy
        # nothing (the r13 test fix documents the same trap).  Yesterday =
        # the graph minus a ~1% "tonight" edge slice; both runs converge to
        # the same fixpoint (unique stationary distribution), so rounds and
        # wall are the only deltas.  d=0.6 / tol=1e-8 keeps the three
        # iterations near ~100 total rounds — round counts scale as
        # ln(tol)/ln(1/d), so the RELATIVE warm/cold gap is the
        # d-independent signal (a d=0.85 variant OOMed the driver with AQE
        # execution metadata for no extra information).  Single timed run
        # each — the signal is tens of rounds, not run-to-run noise.
        n_nodes = 2_000 * rep
        u = F.pmod(F.xxhash64("id", F.lit("d")), F.lit(10_000)).cast("double") / 10_000.0
        gS = (
            spark.range(40_000 * rep)
            .select(
                F.concat(
                    F.lit("d"), F.pmod(F.xxhash64("id"), F.lit(n_nodes)).cast("string")
                ).alias("src_domain"),
                F.concat(
                    F.lit("d"),
                    F.floor(F.pow(u, F.lit(3.0)) * n_nodes).cast("long").cast("string"),
                ).alias("dst_domain"),
                (F.pmod(F.xxhash64("id", F.lit("w")), F.lit(9)) + 1)
                .cast("double")
                .alias("weight"),
            )
            .persist()
        )
        gS.count()
        yesterday = gS.filter(
            F.pmod(F.xxhash64("src_domain", "dst_domain"), F.lit(100)) != 0
        )
        y_prev = pagerank(yesterday, d=0.6, tol=1e-8, max_iter=60).persist()
        y_prev.count()
        c_stats, w_stats = {}, {}
        t0 = time.perf_counter()
        noop(pagerank(gS, d=0.6, tol=1e-8, max_iter=60, stats=c_stats))
        cold_s = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        noop(pagerank(gS, d=0.6, tol=1e-8, max_iter=60, init_ranks=y_prev,
                      stats=w_stats))
        warm_s = round(time.perf_counter() - t0, 3)
        warm_res = {
            "cold_s": cold_s,
            "warm_s": warm_s,
            "cold_rounds": c_stats["n_iter"],
            "warm_rounds": w_stats["n_iter"],
            "wall_ratio": round(warm_s / cold_s, 2) if cold_s else None,
        }
        # --- PageRank warm start, SLOW-MIXING regime (r15) -------------------
        # The block above runs at d=0.6 on a dense hash-random graph, where
        # cold converges in ~tens of rounds and the warm ceiling is small
        # (the r14 honest note).  Two findings pin the regime that matters:
        # (a) d alone does NOT slow mixing on a dense random graph — the
        # d^k bound is worst-case, and the measured d=0.85/tol=1e-6 cold run
        # on the cubic-skew graph converged in 11 rounds (its second
        # eigenvalue is tiny); (b) the slow-mixing shape is CLUSTERED
        # topology — communities with rare cross links push λ₂ toward 1, so
        # the damped walk needs ~ln(tol)/ln(1/(d·λ₂)) rounds.  This block:
        # 20 clusters x 100·rep nodes, 2% cross-cluster edges, cubic-skew
        # in-cluster destinations, d=0.85/tol=1e-6 — measured 49 cold
        # rounds at 1x (the verdict's 30-80 target band).  AQE is disabled
        # for this block only: ~100 adaptive executions' plan metadata is
        # what OOMed the r13 d=0.85 attempt, and the per-round shapes here
        # are fixed-size joins AQE has nothing to re-plan.
        aqe_prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            n_cl, cl_sz = 20, 100 * rep
            scl = F.pmod(F.xxhash64("id"), F.lit(n_cl))
            sidx = F.pmod(F.xxhash64("id", F.lit("s")), F.lit(cl_sz))
            cross = F.pmod(F.xxhash64("id", F.lit("x")), F.lit(50)) == 0
            dcl = F.when(
                cross, F.pmod(F.xxhash64("id", F.lit("c")), F.lit(n_cl))
            ).otherwise(scl)
            didx = F.floor(F.pow(u, F.lit(3.0)) * cl_sz).cast("long")
            gS2 = (
                spark.range(40_000 * rep)
                .select(
                    F.concat(
                        F.lit("c"), scl.cast("string"), F.lit("_"),
                        sidx.cast("string"),
                    ).alias("src_domain"),
                    F.concat(
                        F.lit("c"), dcl.cast("string"), F.lit("_"),
                        didx.cast("string"),
                    ).alias("dst_domain"),
                    (F.pmod(F.xxhash64("id", F.lit("w")), F.lit(9)) + 1)
                    .cast("double")
                    .alias("weight"),
                )
                .persist()
            )
            gS2.count()
            yesterday2 = gS2.filter(
                F.pmod(F.xxhash64("src_domain", "dst_domain"), F.lit(100)) != 0
            )
            y_prev2 = pagerank(yesterday2, d=0.85, tol=1e-6, max_iter=200).persist()
            y_prev2.count()
            c2, w2 = {}, {}
            t0 = time.perf_counter()
            noop(pagerank(gS2, d=0.85, tol=1e-6, max_iter=200, stats=c2))
            cold2_s = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            noop(pagerank(gS2, d=0.85, tol=1e-6, max_iter=200, init_ranks=y_prev2,
                          stats=w2))
            warm2_s = round(time.perf_counter() - t0, 3)
            results_slowmix = {
                "d": 0.85,
                "cold_s": cold2_s,
                "warm_s": warm2_s,
                "cold_rounds": c2["n_iter"],
                "warm_rounds": w2["n_iter"],
                "wall_ratio": round(warm2_s / cold2_s, 2) if cold2_s else None,
            }
            y_prev2.unpersist(), gS2.unpersist()
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", aqe_prev)

        y_prev.unpersist(), gS.unpersist()

    bloom_res = None
    if want("bloom"):
        # --- Bloom-gated known-content exclusion -----------------------------
        # healthy-stream shape: 1/rep of the batch content already landed
        # (docs1's fingerprints), the rest is new (replica text is perturbed
        # with its doc_id so content actually differs).  The Bloom shrinks the
        # exact anti-join's input from |batch| to ~|hits| + fpp*|batch|; the
        # result is identical by contract (test-pinned in test_bloom.py).
        from real_time_financial_data_pipeline_spark.operators.bloom import (
            anti_join_known,
            build_bloom,
            might_contain,
        )
        from real_time_financial_data_pipeline_spark.operators.text import fingerprint

        known = fingerprint(docs1, "text").select("fingerprint").persist()
        known.count()
        kb = build_bloom(known, fpp=0.01)
        batch = fingerprint(
            docsN.withColumn(
                "text",
                F.when(
                    F.col("doc_id") < 1_000_000, F.col("text")
                ).otherwise(F.concat_ws(" ", "text", F.col("doc_id").cast("string"))),
            ),
            "text",
        ).persist()
        batch_rows = batch.count()
        join_input_rows = batch.filter(might_contain(kb, "fingerprint")).count()
        bloom_res = {
            "plain_anti_join": median_of(
                lambda: noop(anti_join_known(batch, known))
            ),
            "bloom_gated": median_of(
                lambda: noop(anti_join_known(batch, known, bloom=kb))
            ),
            "batch_rows": batch_rows,
            "exact_join_input_rows": join_input_rows,
        }
        # the Bloom's design regime is an index too big to broadcast (the
        # 1e9-row lake fingerprint table) — emulate it by disabling
        # auto-broadcast (the same emulation precedent as the salting bench):
        # the plain anti-join then shuffles the WHOLE batch against the index,
        # while the gated path shuffles only hits + fpp*batch
        prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        bloom_res["plain_anti_join_shuffle"] = median_of(
            lambda: noop(anti_join_known(batch, known))
        )
        bloom_res["bloom_gated_shuffle"] = median_of(
            lambda: noop(anti_join_known(batch, known, bloom=kb))
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)

    print(json.dumps({
        "metric": "scale_probe",
        "unit": "sec",
        "replication": rep,
        "sf_dir": sf_dir,
        "timings": results,
        "pagerank_warm_start": warm_res,
        "pagerank_warm_start_slowmix": results_slowmix,
        "bloom_exclusion": bloom_res,
    }))


if __name__ == "__main__":
    main()
