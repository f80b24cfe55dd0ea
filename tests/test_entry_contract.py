"""Driver-contract smoke: entry() runs on a vanilla-style session; every
queries() entry returns a DataFrame at sf0.001; oracle keys are a subset."""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"
SF01 = os.path.join(os.path.dirname(SF), "sf0.01")


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {
        "event_type", "period", "open", "high", "low", "close", "n_events", "sum_value",
    }


def test_every_query_has_an_oracle():
    """Since round 7 every registry query is oracle-checked (the former
    rows-only entries were either retired to pytest anchors or given a
    partition-equivalence oracle), and the registry holds exactly 50
    entries — the driver's correctness sample size."""
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    assert set(os_) == set(qs)
    assert len(qs) == 50


def test_staged_paths_live_in_the_checkout():
    """Staged-oracle tables land under the checkout that runs them, so a
    second checkout never writes (or reads) another one's staging.  The
    oracle SQL reads the same constants."""
    from pathlib import Path

    root = Path(entrymod.__file__).resolve().parent
    staged = {k: v for k, v in vars(entrymod).items() if k.startswith("_STAGED_")}
    assert "_STAGED_IVFPQ_DIR" in staged
    for name, path in staged.items():
        assert Path(path).resolve().is_relative_to(root), (name, path)


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_each_query_runs_at_smallest_sf(spark, name):
    df = entrymod.queries()[name](spark, SF)
    assert df.count() >= 0 and len(df.columns) > 0


def test_segment_stats_duckdb_oracle(spark):
    """Retirement anchor for the segment_stats oracle row (rotated out in
    round 9 for corpus_report_docs): the grouped count + exact-decimal
    average stays DuckDB-checked in-test — same comparison the driver
    row performed, at sf0.001."""
    import duckdb

    got = {
        tuple(r)
        for r in entrymod._segment_stats(spark, SF)
        .selectExpr("mktsegment", "n_customers", "round(avg_acctbal, 6)")
        .collect()
    }
    con = duckdb.connect()
    want = {
        tuple(r)
        for r in con.execute(
            f"""
            SELECT c_mktsegment AS mktsegment, count(*) AS n_customers,
                   round(CAST(sum(CAST(c_acctbal AS DECIMAL(14,4))) AS DOUBLE)
                         / count(*), 6) AS avg_acctbal
            FROM read_parquet('{SF}/customer.parquet') GROUP BY 1
            """
        ).fetchall()
    }
    assert got == want and len(got) >= 3


def test_training_set_oracle_guards_doc_universe(spark, tmp_path):
    """r10 ADVICE pin: the training_set_docs oracle full-outer reconciles
    the recomputed doc universe with the doc-grain staging — a doc present
    on only ONE side (the Spark chain over-filtering, or keeping a doc the
    replay drops) error()s instead of silently vanishing into the join."""
    import duckdb

    from real_time_financial_data_pipeline_spark.catalog import TABLES

    entrymod.queries()["training_set_docs"](spark, SF).collect()  # writes staging
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    sql = entrymod.oracle_sql()["training_set_docs"]
    staged = entrymod._STAGED_TSET_DIR
    assert len(con.execute(sql).fetchall()) > 0  # untouched staging passes
    doctors = [
        # over-filter: staging lost a doc the replay keeps
        f"SELECT * FROM read_parquet('{staged}/*.parquet') WHERE doc_id != "
        f"(SELECT min(doc_id) FROM read_parquet('{staged}/*.parquet'))",
        # under-filter: staging kept a doc the replay never produced
        f"SELECT * FROM read_parquet('{staged}/*.parquet') "
        "UNION ALL SELECT 999999999, 'train'",
    ]
    for i, doctor in enumerate(doctors):
        d = tmp_path / f"doctored{i}"
        d.mkdir()
        con.execute(f"COPY ({doctor}) TO '{d}/part.parquet' (FORMAT PARQUET)")
        with pytest.raises(Exception, match="diverge"):
            con.execute(sql.replace(staged, str(d))).fetchall()


def test_partitioned_scan_equivalence(spark):
    """Retirement anchor for the events_pruned_week oracle row (rotated
    out in round 9): the ingest_date-partitioned lake scan must return
    exactly the rows a direct filtered scan of the source parquet does —
    partition pruning is a performance property (plan_audit asserts the
    PartitionFilters), never a semantics change."""
    from pyspark.sql import functions as F

    from real_time_financial_data_pipeline_spark.catalog import load_table

    pruned = entrymod._events_pruned_week(spark, SF)
    direct = (
        load_table(spark, SF, "events")
        .withColumn("ingest_date", F.to_date("ts"))
        .filter(
            F.col("ingest_date").between("2024-01-08", "2024-01-14")
        )
        .groupBy("event_type", F.col("ingest_date").cast("timestamp").alias("ingest_date"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )
    got = {tuple(r) for r in pruned.collect()}
    want = {tuple(r) for r in direct.collect()}
    assert got == want and len(got) > 0


def test_vwap_daily_duckdb_oracle(spark):
    """Retirement anchor for the vwap_daily oracle row (rotated out in
    round 13 for warc_ingest_docs — its JSON-prop extraction and
    ratio-of-sums VWAP kernels live on verbatim inside the
    activity_bars_ticks oracle): the exact comparison the driver row
    performed, at sf0.001."""
    import duckdb

    got = {tuple(r) for r in entrymod._vwap_daily(spark, SF).collect()}
    con = duckdb.connect()
    want = {
        tuple(r)
        for r in con.execute(
            f"""
            WITH ticks AS (
                SELECT event_type, ts, value AS price,
                       CAST(json_extract_string(props, '$.k') AS DOUBLE) AS size
                FROM read_parquet('{SF}/events.parquet')
            )
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS TIMESTAMP) AS period,
                   round(CASE WHEN sum(size) > 0
                         THEN sum(price * size) / sum(size) END, 6) AS vwap,
                   round(avg(price), 6) AS twap,
                   round(sum(size), 6) AS volume,
                   count(price) AS n_trades,
                   max(price) AS high,
                   min(price) AS low
            FROM ticks GROUP BY 1, 2
            """
        ).fetchall()
    }
    assert got == want and len(got) > 0


def test_events_quality_report_duckdb_oracle(spark):
    """Retirement anchor for the events_quality_report oracle row
    (rotated out in round 13 for url_curation_docs — its conditional
    sum(CASE)/count-distinct kernels stay live in the
    corpus_report_docs oracle): the exact comparison the driver row
    performed, at sf0.001."""
    import duckdb

    got = {tuple(r) for r in entrymod._events_quality_report(spark, SF).collect()}
    con = duckdb.connect()
    want = {
        tuple(r)
        for r in con.execute(
            f"""
            WITH agg AS (
                SELECT count(*) AS total,
                       sum(CASE WHEN user_id IS NOT NULL THEN 0 ELSE 1 END) AS v_user,
                       sum(CASE WHEN ts IS NOT NULL THEN 0 ELSE 1 END) AS v_ts,
                       sum(CASE WHEN value >= 0 AND value <= 1000 THEN 0 ELSE 1 END) AS v_range,
                       sum(CASE WHEN event_type IN ('click','view','purchase','scroll','search')
                            THEN 0 ELSE 1 END) AS v_set,
                       count(*) - count(DISTINCT event_id) AS v_uniq
                FROM read_parquet('{SF}/events.parquet')
            )
            SELECT r.rule,
                   CAST(r.violations AS BIGINT) AS violations,
                   CAST(agg.total AS BIGINT) AS total,
                   r.violations = 0 AS passed
            FROM agg, LATERAL (VALUES
                ('user_id_not_null', v_user),
                ('ts_not_null', v_ts),
                ('value_in_range', v_range),
                ('event_type_in_set', v_set),
                ('event_id_unique', v_uniq)
            ) AS r(rule, violations)
            """
        ).fetchall()
    }
    assert got == want and len(got) == 5


def test_portfolio_daily_duckdb_oracle(spark):
    """Retirement anchor for the portfolio_daily oracle row (rotated out
    in round 14 for stream_graph_fold_docs — its lag-ratio, weighted-sum
    and running log-sum kernels stay live in the tech-indicator,
    activity-bars and budget-sampler oracles): the exact comparison the
    driver row performed, at sf0.001."""
    import duckdb

    got = {tuple(r) for r in entrymod._portfolio_daily(spark, SF).collect()}
    con = duckdb.connect()
    want = {
        tuple(r)
        for r in con.execute(
            f"""
            WITH bars AS (
                SELECT event_type,
                       CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                       arg_max(value, ts) AS close
                FROM read_parquet('{SF}/events.parquet') GROUP BY 1, 2
            ),
            r AS (
                SELECT day,
                       close / lag(close) OVER (
                           PARTITION BY event_type ORDER BY day) - 1 AS ret,
                       CASE event_type WHEN 'purchase' THEN 0.5
                                       WHEN 'click' THEN 0.3
                                       WHEN 'view' THEN 0.2 END AS w
                FROM bars WHERE event_type IN ('purchase', 'click', 'view')
            ),
            d AS (SELECT day, sum(w * ret) AS pr FROM r GROUP BY day)
            SELECT day,
                   round(pr, 6) AS portfolio_return,
                   CASE WHEN min(coalesce(1 + pr, 1.0)) OVER (
                            ORDER BY day ROWS UNBOUNDED PRECEDING) <= 0
                        THEN NULL
                        ELSE round(sum(ln(1 + coalesce(pr, 0.0))) OVER (
                            ORDER BY day ROWS UNBOUNDED PRECEDING), 6)
                   END AS cum_log_growth
            FROM d
            """
        ).fetchall()
    }
    assert got == want and len(got) > 0


def test_tfidf_top_docs_duckdb_oracle(spark):
    """Retirement anchor for the tfidf_top_docs oracle row (rotated out
    in round 15 for anchor_profile_domains — its tokenize/count/top-k
    window kernels stay live there; the idf ln-smoothing join is the
    kernel THIS anchor keeps checked): the exact comparison the driver
    row performed, at sf0.001."""
    import duckdb

    got = {tuple(r) for r in entrymod._tfidf_top_docs(spark, SF).collect()}
    con = duckdb.connect()
    want = {
        tuple(r)
        for r in con.execute(
            f"""
            WITH toks AS (
                SELECT doc_id,
                       unnest(list_filter(string_split(lower(text), ' '),
                                          x -> x != '')) AS term
                FROM read_parquet('{SF}/documents.parquet')
            ),
            tf AS (
                SELECT doc_id, term, count(*) AS tf
                FROM toks
                WHERE term NOT IN
                    ('the','a','and','of','to','in','is','on','for','as')
                GROUP BY 1, 2
            ),
            n AS (
                SELECT count(DISTINCT doc_id) AS n_docs
                FROM read_parquet('{SF}/documents.parquet')
            ),
            dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            scored AS (
                SELECT tf.doc_id, tf.term, tf.tf,
                       round(round(tf.tf *
                           (ln(((SELECT CAST(n_docs AS DOUBLE) FROM n) + 1)
                               / (dfreq.df + 1.0)) + 1.0), 9), 6) AS tf_idf
                FROM tf JOIN dfreq USING (term)
            )
            SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, tf_idf, rank FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY doc_id ORDER BY tf_idf DESC, term) AS rank
                FROM scored
            ) WHERE rank <= 5
            """
        ).fetchall()
    }
    assert got == want and len(got) > 0


def test_anchor_profile_domains_duckdb_oracle(spark):
    """Retirement anchor for the anchor_profile_domains oracle row
    (rotated out in round 17, strictly superseded by
    stream_anchor_fold_docs — which runs the same link fabric and
    tokenize/stopword/count/ranking kernels over the FOLDED snapshot):
    the exact comparison the driver row performed, at sf0.001."""
    import duckdb

    got = {tuple(r) for r in entrymod._anchor_profile_domains(spark, SF).collect()}
    con = duckdb.connect()
    want = {
        tuple(r)
        for r in con.execute(
            f"""
            WITH links AS (
                SELECT 'd' || CAST(abs(doc_id) % 7 AS VARCHAR) || '.com'
                           AS dst_domain,
                       lower(text) AS t
                FROM read_parquet('{SF}/documents.parquet')
                WHERE doc_id % 13 != 0
            ),
            toks AS (
                SELECT dst_domain,
                       unnest(list_filter(string_split(t, ' '),
                                          x -> x != '')) AS term
                FROM links
            ),
            counts AS (
                SELECT dst_domain, term, count(*) AS n
                FROM toks
                WHERE term NOT IN
                    ('the','a','and','of','to','in','is','on','for','as')
                GROUP BY 1, 2
            )
            SELECT dst_domain, term, CAST(n AS BIGINT) AS n, rank FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY dst_domain ORDER BY n DESC, term) AS rank
                FROM counts
            ) WHERE rank <= 3
            """
        ).fetchall()
    }
    assert got == want and len(got) > 0


def test_kmv_sketch_docs_duckdb_oracle(spark):
    """Retirement anchor for the kmv_sketch_docs oracle row (rotated out
    in round 15, strictly superseded by stream_kmv_fold_docs — which
    replays the same distinct/k-smallest/packing/estimator/merge≡union
    kernels through the versioned fold ladder): the exact staged-hash
    comparison the driver row performed, at sf0.001.  Running the Spark
    side first (re)writes the staging this SQL reads, so the pair is
    self-consistent at this SF."""
    import duckdb

    got = {tuple(r) for r in entrymod._kmv_sketch_docs(spark, SF).collect()}
    con = duckdb.connect()
    want = {
        tuple(r)
        for r in con.execute(
            f"""
            WITH h AS (
                SELECT DISTINCT snap, lang, h
                FROM read_parquet('{entrymod._STAGED_KMV_DIR}/*.parquet')
            ),
            ka AS (
                SELECT lang, h FROM (
                    SELECT lang, h, row_number() OVER (
                        PARTITION BY lang ORDER BY h) AS rn
                    FROM h WHERE snap = 'a'
                ) WHERE rn <= 64
            ),
            kb AS (
                SELECT lang, h FROM (
                    SELECT lang, h, row_number() OVER (
                        PARTITION BY lang ORDER BY h) AS rn
                    FROM h WHERE snap = 'b'
                ) WHERE rn <= 64
            ),
            m AS (
                SELECT lang, h FROM (
                    SELECT lang, h, row_number() OVER (
                        PARTITION BY lang ORDER BY h) AS rn
                    FROM (SELECT DISTINCT lang, h FROM (
                        SELECT lang, h FROM ka
                        UNION ALL SELECT lang, h FROM kb))
                ) WHERE rn <= 64
            ),
            d AS (
                SELECT lang, h FROM (
                    SELECT lang, h, row_number() OVER (
                        PARTITION BY lang ORDER BY h) AS rn
                    FROM (SELECT DISTINCT lang, h FROM h)
                ) WHERE rn <= 64
            ),
            agg AS (
                SELECT lang, count(*) AS n, max(h) AS h_k,
                       string_agg(CAST(h AS VARCHAR), ',' ORDER BY h) AS csv
                FROM m GROUP BY lang
            ),
            agg_a AS (
                SELECT lang, count(*) AS n, max(h) AS h_k FROM ka GROUP BY lang),
            agg_b AS (
                SELECT lang, count(*) AS n, max(h) AS h_k FROM kb GROUP BY lang),
            agg_d AS (
                SELECT lang, string_agg(CAST(h AS VARCHAR), ',' ORDER BY h) AS csv
                FROM d GROUP BY lang
            )
            SELECT agg.lang,
                   agg.n AS n_merged,
                   agg.csv AS sketch_csv,
                   round(CASE WHEN agg.n < 64 THEN CAST(agg.n AS DOUBLE)
                         ELSE CAST(63 AS DOUBLE)
                              / (CAST(agg.h_k AS DOUBLE) * power(2.0, -64) + 0.5)
                         END, 1) AS est_merged,
                   round(CASE WHEN agg_a.n < 64 THEN CAST(agg_a.n AS DOUBLE)
                         ELSE CAST(63 AS DOUBLE)
                              / (CAST(agg_a.h_k AS DOUBLE) * power(2.0, -64) + 0.5)
                         END, 1) AS est_a,
                   round(CASE WHEN agg_b.n < 64 THEN CAST(agg_b.n AS DOUBLE)
                         ELSE CAST(63 AS DOUBLE)
                              / (CAST(agg_b.h_k AS DOUBLE) * power(2.0, -64) + 0.5)
                         END, 1) AS est_b,
                   (agg.csv = agg_d.csv) AS merge_eq_union
            FROM agg
            LEFT JOIN agg_a USING (lang)
            LEFT JOIN agg_b USING (lang)
            LEFT JOIN agg_d USING (lang)
            """
        ).fetchall()
    }
    assert got == want and len(got) > 0


def test_correlation_duckdb_oracle(spark):
    """Retirement anchor for the correlation_click_purchase oracle row
    (rotated out in round 13 for pagerank_domains — its Pearson moment
    arithmetic stays live in the kyle_lambda_ticks cov/var replay): the
    exact comparison the driver row performed, at sf0.001."""
    import duckdb

    got = entrymod._correlation(spark, SF).first().correlation
    con = duckdb.connect()
    want = con.execute(
        f"""
        SELECT round(corr(a, b), 6) AS correlation FROM (
            SELECT date_trunc('hour', ts) AS bucket,
                   avg(CASE WHEN event_type = 'click' THEN value END) AS a,
                   avg(CASE WHEN event_type = 'purchase' THEN value END) AS b
            FROM read_parquet('{SF}/events.parquet')
            WHERE event_type IN ('click', 'purchase')
            GROUP BY 1
        )
        """
    ).fetchone()[0]
    assert got == want and want is not None


def test_chunk_docs_duckdb_oracle(spark):
    """Retirement anchor for the chunk_docs oracle row (rotated out in
    round 16 for lang_id_trained_docs): the full per-(doc, chunk) window
    comparison the driver row performed, at sf0.001.  The chunk-universe
    re-derivation itself also stays LIVE in the registry — pack_chunks_docs'
    oracle error()-reconciles its staging against the same
    _CHUNK_UNIVERSE_SQL — so this anchor pins the chunk_text/token-count
    projection that row does not compare."""
    import duckdb

    got = {tuple(r) for r in entrymod._chunk_docs(spark, SF).collect()}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{SF}/documents.parquet')"
    )
    want = {
        tuple(r)
        for r in con.execute(
            f"""
            WITH u AS ({entrymod._CHUNK_UNIVERSE_SQL})
            SELECT doc_id, chunk_id,
                   CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
                   array_to_string(chunk, ' ') AS chunk_text
            FROM u
            """
        ).fetchall()
    }
    assert got == want and len(got) > 0


def test_narrow_shuffle_only_narrows(spark):
    """The eager-phase pin caps the width at 8 and restores it: a vanilla
    session's 200 and a 32-core session's 32 run at 8; a narrower session
    keeps its own width."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    try:
        for width, inside in (("200", "8"), ("32", "8"), ("4", "4")):
            spark.conf.set(key, width)
            with entrymod._narrow_shuffle(spark):
                assert spark.conf.get(key) == inside
            assert spark.conf.get(key) == width
    finally:
        spark.conf.set(key, old)


def test_pipeline_gold_daily_does_not_depend_on_shuffle_width(spark):
    """The gold mean's last bits follow the summation order, which follows
    the shuffle width; at sf0.01 one daily mean sits on a 6-dp half
    boundary.  The served column is the same at width 4 and width 8."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    served = {}
    try:
        for width in (4, 8):
            spark.conf.set(key, str(width))
            rows = entrymod.queries()["pipeline_gold_daily"](spark, SF01).collect()
            served[width] = sorted((r.period, r.event_type, r.avg_value) for r in rows)
    finally:
        spark.conf.set(key, old)
    assert served[4] == served[8] and len(served[4]) > 0
