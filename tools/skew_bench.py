"""Skew + percentile scale bench: measures salted vs unsalted shuffle join
on a deliberately skewed key, and exact vs approx percentiles, at
$SPARK_GRAFT_SF_DIR (default sf0.1).  Prints ONE JSON line.

Setup notes:
- the big side gets a hot key (90% of rows collapse to key 0) — the
  classic "one symbol is half the ticks" shape;
- auto-broadcast is disabled for the join comparison (a broadcast join
  sidesteps shuffle skew entirely, which is the right fix when the small
  side fits — salting is for when it doesn't);
- AQE stays ON, as in production: AQE's skew split only kicks in for
  sort-merge joins above its size thresholds, so explicit salting is
  still the lever for hash joins / moderate sizes.

Usage: python tools/skew_bench.py
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
from real_time_financial_data_pipeline_spark.operators.query import percentiles
from real_time_financial_data_pipeline_spark.plans.skew import salted_join
from real_time_financial_data_pipeline_spark.session import get_spark


def median_of(fn, runs: int = 3) -> float:
    samples = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        samples.append(time.perf_counter() - t0)
    return round(statistics.median(samples), 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("skew-bench")
    spark.sparkContext.setLogLevel("ERROR")

    ev = load_table(spark, sf_dir, "events")
    # hot key: 90% of rows land on key 0; the rest keep their user_id
    big = ev.select(
        F.when(F.pmod("event_id", F.lit(10)) < 9, F.lit(0))
        .otherwise(F.col("user_id"))
        .alias("k"),
        "value",
    )
    small = (
        ev.select(F.col("user_id").alias("k")).distinct()
        .union(spark.range(1).select(F.lit(0).alias("k")))
        .distinct()
        .withColumn("label", F.concat(F.lit("u"), F.col("k")))
    )
    big.persist().count()
    small.persist().count()

    def run_join(df):
        df.groupBy("label").agg(F.sum("value")).write.format("noop").mode(
            "overwrite"
        ).save()

    results: dict[str, float] = {}
    with_conf = spark.conf
    prev = with_conf.get("spark.sql.autoBroadcastJoinThreshold")
    with_conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        n_plain = big.join(small, "k").count()
        n_salted = salted_join(big, small, "k").count()
        assert n_plain == n_salted, (n_plain, n_salted)
        results["join_unsalted"] = median_of(lambda: run_join(big.join(small, "k")))
        results["join_salted"] = median_of(lambda: run_join(salted_join(big, small, "k")))
    finally:
        with_conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    def run_pct(approx: bool):
        percentiles(ev, "value", ["event_type"], [0.5, 0.9, 0.99], approx=approx).write.format(
            "noop"
        ).mode("overwrite").save()

    results["percentiles_exact"] = median_of(lambda: run_pct(False))
    results["percentiles_approx"] = median_of(lambda: run_pct(True))

    # --- hot-symbol tick window: monolithic vs day-sliced prefix sum -----
    # 90% of ticks collapse onto ONE symbol ("one symbol is half the
    # tape"), then the table is replicated 24x along the time axis so the
    # hot key's history is genuinely larger than a comfortable single
    # task.  activity_bars sorts the whole hot history in one window
    # partition; activity_bars_sliced bounds each task at a symbol-DAY.
    # Measured on this box: 1.44x at 2.4M ticks, 1.61x at 6.4M — the gap
    # widens with the hot task, and at cluster scale the monolithic form
    # additionally hits the single-task spill/OOM cliff the sliced form
    # structurally cannot.
    from real_time_financial_data_pipeline_spark.operators.finance import (
        activity_bars,
        activity_bars_sliced,
    )

    base = ev.select(
        F.when(F.pmod("event_id", F.lit(10)) < 9, F.lit("HOT"))
        .otherwise(F.col("event_type"))
        .alias("event_type"),
        "ts",
        F.col("value").alias("price"),
        F.get_json_object("props", "$.k").cast("double").alias("size"),
    )
    ticks = None
    for i in range(24):
        shifted = base.withColumn(
            "ts", F.col("ts") + F.expr(f"INTERVAL {i * 37} DAYS")
        )
        ticks = shifted if ticks is None else ticks.union(shifted)
    ticks = ticks.persist()
    n_ticks = ticks.count()

    def run_bars(fn):
        fn(ticks, 2000.0, "volume").write.format("noop").mode("overwrite").save()

    n_mono = activity_bars(ticks, 2000.0, "volume").count()
    n_sliced = activity_bars_sliced(ticks, 2000.0, "volume").count()
    assert n_mono == n_sliced, (n_mono, n_sliced)
    results["activity_bars_hot_monolithic"] = median_of(lambda: run_bars(activity_bars))
    results["activity_bars_hot_sliced"] = median_of(lambda: run_bars(activity_bars_sliced))

    # same hot table through the tick-rule family: kyle_lambda sorts the
    # hot key's whole tape for signs+dp in the monolithic form; sliced=True
    # runs both through the day-bounded tick_rule_signs_sliced kernel
    from real_time_financial_data_pipeline_spark.operators.finance import (
        kyle_lambda,
    )

    def run_kyle(sliced):
        kyle_lambda(ticks, ["event_type"], sliced=sliced).write.format(
            "noop"
        ).mode("overwrite").save()

    results["kyle_lambda_hot_monolithic"] = median_of(lambda: run_kyle(False))
    results["kyle_lambda_hot_sliced"] = median_of(lambda: run_kyle(True))
    ticks.unpersist()

    # --- hot dup-hash groups in the dedup ladder -------------------------
    # Three corpora, same size (documents replicated 8x, a 24-token
    # passage prepended to 90% of docs):
    #   hot     — ONE shared passage: one paragraph-hash / a handful of
    #             window hashes carry 0.9n occurrences (the skew shape);
    #   spread  — the SAME duplicate volume over ~997 distinct passages
    #             (each duplicated ~36x): identical removal/rebuild work,
    #             no hot key — the skew CONTROL;
    #   uniform — unique-per-doc passages: same bytes, no duplicates at
    #             all (isolates the cost of dup work itself).
    # Claim under test: hot ~= spread (map-side combine collapses the hot
    # key's within-partition repeats, so the reduce side sees
    # <= n_partitions rows for it regardless of multiplicity); any
    # hot-vs-uniform gap is REAL dedup work (0.9n docs get rebuilt), not
    # reducer skew.
    from real_time_financial_data_pipeline_spark.operators.dedup import (
        paragraph_dedup,
        substring_dup_spans,
    )

    docs = load_table(spark, sf_dir, "documents")
    docsN = docs
    for i in range(1, 8):
        docsN = docsN.union(
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * 1_000_000))
        )
    boiler = " ".join(f"boiler{j}" for j in range(24))
    uniq = F.concat_ws(
        " ", *[F.concat(F.lit(f"u{j}x"), F.col("doc_id").cast("string")) for j in range(24)]
    )
    pidx = F.pmod(F.col("doc_id"), F.lit(997)).cast("string")
    spread_passage = F.concat_ws(
        " ", *[F.concat(F.lit(f"s{j}x"), pidx) for j in range(24)]
    )
    is_hot = F.pmod("doc_id", F.lit(10)) < 9

    def with_passage(passage_col):
        return docsN.withColumn(
            "text",
            F.when(is_hot, F.concat(passage_col, F.lit(" "), F.col("text"))).otherwise(
                F.col("text")
            ),
        ).persist()

    hot_docs = with_passage(F.lit(boiler))
    spread_docs = with_passage(spread_passage)
    cold_docs = with_passage(uniq)
    n_docs = hot_docs.count()
    spread_docs.count(), cold_docs.count()

    layout = lambda d: d.withColumn(
        "text", F.regexp_replace(F.col("text"), r"((?:\S+ ){3}\S+) ", "$1\n")
    )

    def run_para(d):
        paragraph_dedup(layout(d)).write.format("noop").mode("overwrite").save()

    def run_substr(d):
        substring_dup_spans(d, window_tokens=20).write.format("noop").mode(
            "overwrite"
        ).save()

    results["paragraph_dedup_hot"] = median_of(lambda: run_para(hot_docs))
    results["paragraph_dedup_spread"] = median_of(lambda: run_para(spread_docs))
    results["paragraph_dedup_uniform"] = median_of(lambda: run_para(cold_docs))
    results["substring_spans_hot"] = median_of(lambda: run_substr(hot_docs))
    results["substring_spans_spread"] = median_of(lambda: run_substr(spread_docs))
    results["substring_spans_uniform"] = median_of(lambda: run_substr(cold_docs))
    hot_docs.unpersist()
    spread_docs.unpersist()
    cold_docs.unpersist()

    # --- dup-cluster resolution: chain diameter vs round count ----------
    # An adversarial near-dup CHAIN (A~B~C~..., the shape shingled
    # boilerplate corpora actually produce) has diameter n, so per-round
    # min-label propagation would need O(n) Spark jobs; the
    # large-star/small-star two-phase resolver is O(log n) rounds on any
    # shape.  Planted 4k chain, a 4k random blob graph and a hub forest.
    from real_time_financial_data_pipeline_spark.operators.dedup import (
        resolve_dup_clusters,
    )

    n_chain = 4096
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n_chain - 1)], "id_a long, id_b long"
    ).persist()
    # "blob": a congruential pseudo-random sparse graph — looks benign,
    # but its min-distance-from-root structure has a long diameter too
    rng_edges = [
        ((7919 * i) % n_chain, (104729 * i + 13) % n_chain) for i in range(n_chain)
    ]
    blob = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in rng_edges if a != b],
        "id_a long, id_b long",
    ).persist()
    # "hub": every node at distance <= 2 from one of 64 hubs (already
    # nearly converged: the resolver's fixed per-call overhead)
    hub = spark.createDataFrame(
        [(i, (7919 * i) % 64) for i in range(64, n_chain)],
        "id_a long, id_b long",
    ).persist()
    chain.count(), blob.count(), hub.count()
    stats_chain: dict = {}
    stats_blob: dict = {}
    stats_hub: dict = {}

    def run_star(pairs, stats):
        resolve_dup_clusters(pairs, driver_threshold=0, stats=stats).write.format(
            "noop"
        ).mode("overwrite").save()

    results["cc_star_chain"] = median_of(lambda: run_star(chain, stats_chain), runs=1)
    results["cc_star_blob"] = median_of(lambda: run_star(blob, stats_blob), runs=1)
    results["cc_star_hub"] = median_of(lambda: run_star(hub, stats_hub), runs=1)

    cc_rounds = {
        "chain_nodes": n_chain,
        "star_rounds_chain": stats_chain.get("rounds"),
        "star_rounds_blob": stats_blob.get("rounds"),
        "star_rounds_hub": stats_hub.get("rounds"),
        "log2_chain": round(__import__("math").log2(n_chain), 1),
    }
    chain.unpersist()
    blob.unpersist()
    hub.unpersist()

    # --- range join: bucket decomposition vs the naive inequality join --
    # 2048 content-derived 2-hour intervals against the full event table.
    # The naive BETWEEN join has no equality conjunct, so Spark plans a
    # BroadcastNestedLoopJoin: |points| x |intervals| predicate evals
    # (~2e8 here) no matter how selective the ranges are.  range_join's
    # bucket decomposition turns it into a hash join on the bucket id +
    # refine filter; per-bucket work is |points-in-bucket| x
    # |intervals-overlapping-bucket| — the ONLY pairs that can match.
    # The gap widens linearly with the interval count; past the broadcast
    # threshold the naive form stops planning at all (product join).
    from real_time_financial_data_pipeline_spark.operators.asof import range_join

    points = ev.select("event_id", "ts").persist()
    intervals = (
        ev.filter(F.pmod("event_id", F.lit(49)) == 0)
        .select(
            F.col("event_id").alias("iid"),
            F.col("ts").alias("w_start"),
            (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("w_end"),
        )
        .limit(2048)
        .persist()
    )
    n_points, n_intervals = points.count(), intervals.count()

    naive_cond = (F.col("ts") >= F.col("w_start")) & (F.col("ts") < F.col("w_end"))
    n_naive = points.join(intervals, naive_cond).count()
    n_decomp = range_join(points, intervals, "ts", "w_start", "w_end", bucket="2 hours").count()
    assert n_naive == n_decomp, (n_naive, n_decomp)

    def run_rj(df):
        df.groupBy("iid").count().write.format("noop").mode("overwrite").save()

    results["range_join_naive_bnlj"] = median_of(
        lambda: run_rj(points.join(intervals, naive_cond))
    )
    results["range_join_bucketed"] = median_of(
        lambda: run_rj(
            range_join(points, intervals, "ts", "w_start", "w_end", bucket="2 hours")
        )
    )

    # --- range join under HOT-BUCKET skew -------------------------------
    # Worst case for the decomposition: many intervals overlapping ONE
    # coarse bucket (every campaign window covering the same launch hour).
    # 90% of the intervals collapse onto a single anchor window; per-bucket
    # work is then |points-in-hot-bucket| x |hot intervals| in ONE task
    # group.  Mitigation measured here: a FINER bucket grain shrinks the
    # hot bucket's point population (amplifying each interval by a few
    # extra bucket rows — the cheap side of the trade).  The join must
    # stay a shuffled/broadcast HASH join under skew — BNLJ fallback would
    # mean the equality conjunct was lost, turning skew into a product.
    anchor = ev.agg(F.min("ts")).first()[0]
    hot_intervals = (
        ev.filter(F.pmod("event_id", F.lit(49)) == 0)
        .select(
            F.col("event_id").alias("iid"),
            F.when(F.pmod("event_id", F.lit(10)) < 9, F.lit(anchor))
            .otherwise(F.col("ts"))
            .alias("w_start"),
        )
        .withColumn("w_end", F.col("w_start") + F.expr("INTERVAL 2 HOURS"))
        .limit(2048)
        .persist()
    )
    n_hot = hot_intervals.count()
    hot_plan = (
        range_join(points, hot_intervals, "ts", "w_start", "w_end", bucket="2 hours")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in hot_plan, "BNLJ under skew"
    assert "CartesianProduct" not in hot_plan, "product under skew"
    results["range_join_hot_2h"] = median_of(
        lambda: run_rj(
            range_join(points, hot_intervals, "ts", "w_start", "w_end", bucket="2 hours")
        )
    )
    results["range_join_hot_15m"] = median_of(
        lambda: run_rj(
            range_join(
                points, hot_intervals, "ts", "w_start", "w_end", bucket="15 minutes"
            )
        )
    )
    hot_intervals.unpersist()
    points.unpersist()
    intervals.unpersist()

    # --- fuzzy linkage: LSH blocking vs brute-force cross join ----------
    # 2k query strings against a 5k-name catalog (both content-derived
    # from the documents table).  Brute force = cross join + per-pair
    # char-gram Jaccard (1e7 pairs, each an interpreted HOF set op);
    # fuzzy_join's banded blocking compares only bucket-colliding pairs.
    # The brute quadratic grows 25x on a 5x catalog; blocking grows with
    # collisions (~linear at fixed similarity structure).
    from real_time_financial_data_pipeline_spark.operators.dedup import (
        jaccard as _jaccard,
    )
    from real_time_financial_data_pipeline_spark.operators.linkage import (
        _linkage_text,
        fuzzy_join,
    )

    docs = load_table(spark, sf_dir, "documents")
    names = docs.select(
        F.col("doc_id").alias("cid"),
        F.concat_ws(
            " ", F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 4)
        ).alias("cname"),
    ).filter(F.length("cname") > 0)
    catalog = names.limit(5000).persist()
    queries = (
        names.filter(F.pmod("cid", F.lit(3)) == 0)
        .select((F.col("cid") + F.lit(10_000_000)).alias("qid"), F.col("cname").alias("qname"))
        .limit(2000)
        .persist()
    )
    n_cat, n_q = catalog.count(), queries.count()

    def run_brute():
        lg = queries.select(
            "qid", F.split(_linkage_text(F.col("qname"), "char", 3), " ").alias("ga")
        )
        rg = catalog.select(
            "cid", F.split(_linkage_text(F.col("cname"), "char", 3), " ").alias("gb")
        )
        noop_df = (
            lg.crossJoin(rg)
            .select("qid", "cid", _jaccard(F.col("ga"), F.col("gb")).alias("j"))
            .filter(F.col("j") >= 0.5)
        )
        noop_df.write.format("noop").mode("overwrite").save()

    def run_blocked():
        fuzzy_join(
            queries, catalog, "qname", "cname", "qid", "cid",
            threshold=0.5, top_k=3,
        ).write.format("noop").mode("overwrite").save()

    results["linkage_brute_cross"] = median_of(run_brute)
    results["linkage_lsh_blocked"] = median_of(run_blocked)
    catalog.unpersist()
    queries.unpersist()

    big.unpersist()
    small.unpersist()
    print(
        json.dumps(
            {
                "metric": "skew_and_percentile_bench",
                "unit": "sec",
                "rows_joined": n_plain,
                "hot_ticks": n_ticks,
                "hot_bars": n_mono,
                "hot_corpus_docs": n_docs,
                "linkage_sides": [n_q, n_cat],
                "hot_intervals": n_hot,
                "cc_rounds": cc_rounds,
                "timings": results,
                "sf_dir": sf_dir,
            }
        )
    )


if __name__ == "__main__":
    main()
