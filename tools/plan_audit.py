"""Physical-plan audit: assert the scale-critical plan properties of the
headline queries and print a summary table.

Checks, per query (where applicable):
- filter pushdown reached the parquet scan (PushedFilters non-empty);
- column pruning (ReadSchema narrower than the table);
- dimension joins are BroadcastHashJoin (no accidental SMJ of a dim);
- aggregates have a partial (map-side) phase;
- no CartesianProduct anywhere (except the intentional broadcast
  nested-loop in brute-force ANN).

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import re
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from real_time_financial_data_pipeline_spark.session import get_spark

import __spark_entry__ as entrymod


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


CHECKS = {
    "pricing_summary": dict(pushed=True, partial_agg=True, no_cartesian=True),
    # pre_agg_key: lineitem must be aggregated to order grain BELOW the
    # fact join (the shuffle-join input is |orders|-sized, not |lineitem|)
    "revenue_by_nation": dict(broadcast_min=3, partial_agg=True, no_cartesian=True,
                              pre_agg_key="l_orderkey"),
    "revenue_rollup": dict(broadcast_min=3, partial_agg=True, no_cartesian=True,
                           pre_agg_key="l_orderkey"),
    "top_customers": dict(partial_agg=True, topk=True, no_cartesian=True,
                          pre_agg_key="l_orderkey"),
    "simhash_pairs_docs": dict(no_cartesian=True),
    # URL curation (r13): min-id survivor semi join + the cap's keyed
    # window — hash joins/windows only, no product shapes anywhere
    "url_curation_docs": dict(no_cartesian=True, no_bnlj=True),
    # WARC ingestion (r13): binaryFile scan -> mapInPandas frame ->
    # stateless projections; no join at all, so no product shapes
    "warc_ingest_docs": dict(no_cartesian=True, no_bnlj=True),
    # PageRank (r13): the per-round shares x ranks join must stay a
    # keyed hash join; partial agg on the contribution sums
    "pagerank_domains": dict(partial_agg=True, no_cartesian=True, no_bnlj=True),
    # token-budget sampler: ONE broadcast (the budget lookup map) + ONE
    # hash-partitioned window shuffle — the budget map must never become
    # the shuffle side of a join
    "token_budget_sample_docs": dict(broadcast_min=1, max_exchange=2, no_cartesian=True),
    # OFI: tick-rule window pass + calendar aggregate — partial agg, keyed
    "ofi_daily": dict(partial_agg=True, no_cartesian=True),
    # range join: the bucket decomposition MUST plan as a hash join on the
    # bucket key (the window table broadcasts) — a BroadcastNestedLoopJoin
    # or product means the equality conjunct was lost and the join is
    # O(|left| x |right|) again
    "range_join_windows": dict(broadcast_min=1, partial_agg=True,
                               no_cartesian=True, no_bnlj=True),
    # portfolio: lag window + day aggregate + output-sized running window
    "portfolio_daily": dict(partial_agg=True, no_cartesian=True),
    # repetition metrics must stay a narrow scan: only (doc_id, text) read
    "repetition_docs": dict(pruned_cols="text", no_cartesian=True),
    "domain_mix_docs": dict(partial_agg=True, no_cartesian=True),
    # range volatility: bar-aggregate exchange + ONE series shuffle for the
    # chained trailing windows (same contract as the indicator ladders)
    "range_volatility_daily": dict(max_exchange=2, partial_agg=True, no_cartesian=True),
    # kyle lambda: tick-rule window pass, then the moment aggregate —
    # partial (map-side) covar/var phases must survive
    "kyle_lambda_ticks": dict(partial_agg=True, no_cartesian=True),
    # activity bars: ONE running-sum window exchange + the bar aggregate
    "activity_bars_ticks": dict(max_exchange=2, partial_agg=True, no_cartesian=True),
    "paragraph_dedup_docs": dict(partial_agg=True, no_cartesian=True),
    # BPE encode is map-only: zero exchanges, (doc_id, text) scan only
    "bpe_token_count_docs": dict(max_exchange=0, no_cartesian=True, pruned_cols="text"),
    # trigram scoring: all five model tables broadcast onto the corpus
    "perplexity_trigram_docs": dict(broadcast_min=5, partial_agg=True, no_cartesian=True),
    "ann_ivfpq_topk": dict(no_cartesian=True),
    # data card: one full-width partial-agg pass + the broadcast lang join
    "corpus_report_docs": dict(broadcast_min=1, partial_agg=True, no_cartesian=True),
    "segment_stats": dict(partial_agg=True, no_cartesian=True),
    # substring dedup: windows explode map-side off a (doc_id, text) scan;
    # the dup aggregate keeps its map-side partial phase
    "substring_dedup_docs": dict(partial_agg=True, no_cartesian=True, pruned_cols="text"),
    # end-to-end training-set composition: the decontam benchmark gram set
    # broadcasts, every aggregate keeps its partial phase, no products
    "training_set_docs": dict(broadcast_min=1, partial_agg=True, no_cartesian=True),
    # validated JSONL ingest is a zero-shuffle line scan + projection +
    # rule filters — the whole ingest must stay exchange-free
    "jsonl_ingest_docs": dict(max_exchange=0, no_cartesian=True),
    "events_quality_report": dict(partial_agg=True, no_cartesian=True),
    "ohlcv_daily": dict(partial_agg=True, no_cartesian=True),
    "latest_per_user": dict(partial_agg=True),
    # TPC-H Q4 shape: the exists-test must stay a LeftSemi (never a
    # row-multiplying inner join + distinct), filters pushed to both
    # scans, partial count phase, and exactly the broadcast + the
    # aggregate exchange
    "order_priority_counts": dict(pushed=True, partial_agg=True, semi=True,
                                  max_exchange=2, no_cartesian=True),
    "dedup_exact_docs": dict(partial_agg=True),
    "token_stats": dict(pruned_cols="text"),
    # trained quality scoring is the 100 TB apply path: the weights fold
    # into literals, so the whole pass MUST stay a zero-exchange narrow
    # projection over a (doc_id, text) scan — a join or shuffle here
    # means the weights stopped being broadcast-by-construction
    "quality_classifier_docs": dict(max_exchange=0, no_cartesian=True, pruned_cols="text"),
    # indicator ladders: exactly the bar-aggregate exchange plus ONE series
    # shuffle — the chained window specs / the applyInPandas grouping must
    # not introduce extra exchanges
    "tech_indicators_daily": dict(max_exchange=2, partial_agg=True, no_cartesian=True),
    "ema_macd_daily": dict(max_exchange=2, partial_agg=True, no_cartesian=True),
    # LM scoring: model tables broadcast (scored corpus never SMJs) and the
    # gram/doc aggregates keep their map-side partial phase
    "perplexity_docs": dict(broadcast_min=8, partial_agg=True, no_cartesian=True),
    "events_pruned_week": dict(part_filter="ingest_date", partial_agg=True, no_cartesian=True),
    # bucketed SMJ: the ONLY exchange allowed is the per-segment aggregate's
    "bucketed_order_revenue": dict(max_exchange=1, partial_agg=True, no_cartesian=True),
    # chunking must stay a narrow map-only stage: ZERO exchanges, and the
    # scan reads only (doc_id, text)
    # (retired r16 — oracle moved in-test; plan contract stays audited)
    "chunk_docs": dict(max_exchange=0, no_cartesian=True, pruned_cols="text"),
    # trained multiclass lang-id apply (r16): same 100 TB contract as the
    # binary classifier row — the K weight arrays fold into literals (or
    # broadcast above the cap), so scoring is a ZERO-exchange projection
    # and the scan must prune to (doc_id, text) even though the query
    # function loads lang for training
    "lang_id_trained_docs": dict(max_exchange=0, no_cartesian=True, pruned_cols="text"),
    "tfidf_top_docs": dict(partial_agg=True, no_cartesian=True),
    # decontamination: benchmark gram set must broadcast (the corpus side
    # never shuffles on gram before the join — r8 fix), and the per-doc
    # shared-gram count must have a map-side partial phase
    "contamination_docs": dict(broadcast_min=1, partial_agg=True, no_cartesian=True),
    "split_assignment_events": dict(partial_agg=True, no_cartesian=True),
    "ann_int8_topk": dict(no_cartesian=True),
    # VWAP: one map-side-combined hash aggregate over the tick projection,
    # exactly one exchange (the agg's)
    "vwap_daily": dict(max_exchange=1, partial_agg=True, no_cartesian=True),
    # SemDedup: the per-cluster self-join must be a keyed join on the
    # cluster id, never an all-pairs product
    "semdedup_pairs": dict(no_cartesian=True),
    # fuzzy linkage: blocking contract — banded bucket equi-joins only,
    # never a product or BNLJ of the two tables
    "fuzzy_linkage_docs": dict(no_cartesian=True, no_bnlj=True),
    # KMV sketches: the sketch aggregates keep their map-side partial
    # phase (the mapInPandas pre-prune bounds reducer input), no products
    # (retired r15 — superseded by stream_kmv_fold_docs; contract stays)
    "kmv_sketch_docs": dict(partial_agg=True, no_cartesian=True),
    # streaming KMV fold serving edge: snapshot-vs-direct join stays
    # keyed on lang, sketch aggregates keep the partial phase
    "stream_kmv_fold_docs": dict(partial_agg=True, no_cartesian=True),
    # anchor profile: the ONLY shuffle carries (domain, term, partial
    # count) — map-side combine mandatory, vocabulary-bounded reduce
    # (retired r17 — superseded by stream_anchor_fold_docs; contract stays)
    "anchor_profile_domains": dict(partial_agg=True, no_cartesian=True),
    # retired r12 (oracle rotation, plan contracts stay audited):
    "ann_lsh_topk": dict(no_cartesian=True),
    "value_percentiles": dict(partial_agg=True, no_cartesian=True),
}


def audit(name: str, plan: str, spec: dict) -> list[str]:
    problems = []
    # non-empty list; no closing-] requirement — Spark truncates long
    # filter lists in toString (e.g. once ts range predicates push down)
    if spec.get("pushed") and not re.search(r"PushedFilters: \[[^\]]", plan):
        problems.append("no PushedFilters on scan")
    # a partial phase shows as partial_<fn> in the aggregate's function
    # list; merely containing 'HashAggregate' is NOT evidence of one
    if spec.get("partial_agg") and "partial_" not in plan:
        problems.append("no partial aggregate phase")
    if (bmin := spec.get("broadcast_min")) and plan.count("BroadcastHashJoin") < bmin:
        problems.append(f"expected >= {bmin} broadcast joins, saw {plan.count('BroadcastHashJoin')}")
    if spec.get("topk") and "TakeOrderedAndProject" not in plan:
        problems.append("top-k not planned as TakeOrderedAndProject")
    if (pcol := spec.get("part_filter")) and not re.search(
        rf"PartitionFilters: \[[^\]]*{pcol}[^\]]*\]", plan
    ):
        problems.append(f"no PartitionFilters on {pcol} (partitioned scan not pruned)")
    if (xmax := spec.get("max_exchange")) is not None:
        n_ex = len(re.findall(r"\bExchange\b|BroadcastExchange", plan))
        if n_ex > xmax:
            problems.append(f"expected <= {xmax} exchanges, saw {n_ex}")
    if spec.get("no_cartesian") and "CartesianProduct" in plan:
        problems.append("CartesianProduct in plan")
    if spec.get("no_bnlj") and "BroadcastNestedLoopJoin" in plan:
        problems.append("BroadcastNestedLoopJoin in plan (equality conjunct lost)")
    if spec.get("semi") and "LeftSemi" not in plan:
        problems.append("exists-test not planned as LeftSemi (row-multiplying join?)")
    if (pkey := spec.get("pre_agg_key")) and not re.search(
        rf"HashAggregate\(keys=\[{pkey}", plan
    ):
        problems.append(f"no pre-aggregation on {pkey} below the fact join")
    if (col := spec.get("pruned_cols")) is not None:
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        if m and any(c not in col and c.split(":")[0] not in ("doc_id", col) for c in m.group(1).split(",")):
            read_cols = [c.split(":")[0] for c in m.group(1).split(",")]
            extra = [c for c in read_cols if c not in ("doc_id", col)]
            if extra:
                problems.append(f"scan reads unneeded columns: {extra}")
    return problems


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    # registry + bench overrides + retired-but-still-product-surface
    # callables (oracle rotation removes a query from the 50-slot registry,
    # not from the engine — its plan contract stays audited here)
    qs = {
        **entrymod.queries(),
        **entrymod.BENCH_OVERRIDES,
        "domain_mix_docs": entrymod._domain_mix_docs,
        "events_pruned_week": entrymod._events_pruned_week,
        "segment_stats": entrymod._segment_stats,
        "perplexity_docs": entrymod._perplexity_docs,
        "range_volatility_daily": entrymod._range_volatility_daily,
        "simhash_pairs_docs": entrymod._simhash_pairs_docs,
        "ofi_daily": entrymod._ofi_daily,
        "ann_lsh_topk": entrymod._ann_lsh_topk,
        "vwap_daily": entrymod._vwap_daily,
        "events_quality_report": entrymod._events_quality_report,
        "portfolio_daily": entrymod._portfolio_daily,
        "tfidf_top_docs": entrymod._tfidf_top_docs,
        "kmv_sketch_docs": entrymod._kmv_sketch_docs,
        "chunk_docs": entrymod._chunk_docs,
        "anchor_profile_domains": entrymod._anchor_profile_domains,
    }
    failures = 0
    for name, spec in CHECKS.items():
        plan = plan_of(qs[name](spark, sf_dir))
        problems = audit(name, plan, spec)
        status = "OK " if not problems else "BAD"
        print(f"{status} {name}: {'; '.join(problems) if problems else 'all plan properties hold'}")
        failures += bool(problems)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
