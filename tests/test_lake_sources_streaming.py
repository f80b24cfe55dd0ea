"""Lake, pipeline orchestrator, source connectors, sinks, streaming."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from real_time_financial_data_pipeline_spark.functions import (
    sanitize_floats,
    timestamps_to_iso,
    to_csv_string,
    to_json_records,
)
from real_time_financial_data_pipeline_spark.lake import DataLake, dataset_name, parse_dataset_name
from real_time_financial_data_pipeline_spark.pipeline import transform_pipeline
from real_time_financial_data_pipeline_spark.sources.connectors import (
    parse_alphavantage_daily,
    parse_alphavantage_economic,
    parse_alphavantage_forex,
    parse_yahoo_chart,
    parse_yahoo_crypto,
)
from real_time_financial_data_pipeline_spark.sources.csv_source import (
    load_economic_csv,
    load_stock_csv,
)

AV_PAYLOAD = {
    "Time Series (Daily)": {
        "2024-01-02": {"1. open": "10", "2. high": "12", "3. low": "9", "4. close": "11", "5. volume": "100"},
        "2024-01-03": {"1. open": "11", "2. high": "13", "3. low": "10", "4. close": "12", "5. volume": "150"},
    }
}


@pytest.fixture()
def lake(spark, tmp_path):
    return DataLake(spark, str(tmp_path / "lake"))


def test_dataset_name_codec_roundtrip():
    import datetime as dt

    name = dataset_name("yahoo", "stock", dt.date(2024, 5, 9))
    assert name == "yahoo_stock_20240509"
    assert parse_dataset_name(name) == {"source": "yahoo", "data_type": "stock", "date": "20240509"}


def test_lake_save_read_info_latest_delete(spark, lake):
    df = parse_alphavantage_daily(spark, AV_PAYLOAD, "AAPL")
    import datetime as dt

    old = dataset_name("alphavantage", "stock", dt.date(2024, 1, 1))
    new = dataset_name("alphavantage", "stock", dt.date(2024, 6, 1))
    lake.save(df, old, "bronze")
    lake.save(df, new, "bronze")
    assert lake.read(new, "bronze").count() == 2
    info = lake.dataset_info(new, "bronze")
    assert info["record_count"] == 2 and info["symbols"] == ["AAPL"]
    assert str(info["first_date"]).startswith("2024-01-02")
    assert lake.latest_dataset("stock", "alphavantage") == new
    assert lake.delete(old, "bronze") and not lake.delete(old, "bronze")


def test_transform_pipeline_end_to_end(spark, lake):
    df = parse_alphavantage_daily(spark, AV_PAYLOAD, "AAPL")
    name = dataset_name("alphavantage", "stock")
    lake.save(df, name, "bronze")
    res = transform_pipeline(lake, name, "bronze", "gold", "aggregate", {"time_period": "M"})
    assert res["status"] == "success" and res["records_count"] == 1
    gold = lake.read(res["dataset"], "gold").collect()[0]
    assert gold.open == 10.0 and gold.close == 12.0 and gold.volume == 250


def test_transform_pipeline_requires_data_type_for_normalize(spark, lake):
    df = parse_alphavantage_daily(spark, AV_PAYLOAD, "AAPL")
    name = dataset_name("alphavantage", "stock")
    lake.save(df, name, "bronze")
    with pytest.raises(ValueError):
        transform_pipeline(lake, name, "bronze", "silver", "normalize")


def test_transform_pipeline_empty_result_keeps_destination(spark, lake):
    """An empty transform result answers the reference's error envelope and
    leaves an existing destination table as it was."""
    df = parse_alphavantage_daily(spark, AV_PAYLOAD, "AAPL")
    lake.save(df, "alphavantage_stock_20240101", "bronze")
    ok = transform_pipeline(
        lake, "alphavantage_stock_20240101", "bronze", "silver", "clean", dest_name="cleaned"
    )
    assert ok["status"] == "success" and ok["records_count"] == 2

    lake.save(df.withColumn("open", F.lit(None).cast("double")), "alphavantage_stock_20240102", "bronze")
    res = transform_pipeline(
        lake, "alphavantage_stock_20240102", "bronze", "silver", "clean", dest_name="cleaned"
    )
    assert res["status"] == "error" and res["records_count"] == 0
    assert res["message"] == "transformation produced no data"
    assert sorted(r.close for r in lake.read("cleaned", "silver").collect()) == [11.0, 12.0]


def test_lake_empty_write_changes_nothing(spark, lake):
    df = parse_alphavantage_daily(spark, AV_PAYLOAD, "AAPL")
    assert lake.save(df, "t", "gold", mode="overwrite")[1] == 2
    assert lake.save(df.limit(0), "t", "gold", mode="overwrite")[1] == 0
    assert lake.save(df.limit(0), "t", "gold")[1] == 0
    assert lake.read("t", "gold").count() == 2
    assert lake.save(df.limit(0), "never", "gold", mode="overwrite")[1] == 0
    assert lake.save(df.limit(0), "never", "gold")[1] == 0
    assert os.listdir(os.path.join(lake.root, "gold")) == ["t"]


def test_lake_write_leaves_session_serializable(spark, lake):
    """A lake write must not leave state on the session that later task
    closures holding the session cannot serialize (an ``Observation`` does,
    and breaks a fitted ``pyspark.ml`` model's ``transform``)."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    df = parse_alphavantage_daily(spark, AV_PAYLOAD, "AAPL")
    lake.save(df, "t", "gold")
    feats = VectorAssembler(inputCols=["open", "close"], outputCol="v").transform(
        df.withColumn("label", (F.col("close") > 11.5).cast("double"))
    )
    model = LogisticRegression(featuresCol="v", maxIter=5).fit(feats)
    assert len(model.transform(feats).select("probability").collect()) == 2


def _jobs(spark, group, fn):
    """Run ``fn`` under a job group; return (its result, Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_each_lake_write_is_one_pass(spark, lake, tmp_path):
    """Writes count their own rows: an ingest is one job, and a transform
    runs no more jobs than its frame written on its own."""
    import uuid

    from real_time_financial_data_pipeline_spark import api
    from real_time_financial_data_pipeline_spark.operators.clean import clean_data

    tag = uuid.uuid4().hex
    df = parse_alphavantage_daily(spark, AV_PAYLOAD, "AAPL")
    res, n_ingest = _jobs(spark, f"ingest-{tag}", lambda: api.ingest(lake, df, "av", "stock"))
    assert res["records_count"] == 2 and n_ingest == 1

    src = res["dataset"]
    _, n_alone = _jobs(
        spark,
        f"alone-{tag}",
        lambda: clean_data(lake.read(src)).write.parquet(str(tmp_path / "alone")),
    )
    res, n_pipeline = _jobs(
        spark,
        f"pipeline-{tag}",
        lambda: transform_pipeline(lake, src, "bronze", "silver", "clean"),
    )
    assert res["status"] == "success" and n_pipeline <= n_alone
    assert res["records_count"] == lake.read(res["dataset"], "silver").count() == 2


def test_lake_read_sees_schema_changes(spark, lake):
    """`read` remembers each table's inferred schema; an overwrite, a
    delete and re-create, and a new partition are all seen by the next
    read."""
    import shutil

    from pyspark.sql.types import DateType

    df = parse_alphavantage_daily(spark, AV_PAYLOAD, "AAPL")
    lake.save(df.select("symbol", "close"), "t", "gold", mode="overwrite")
    assert lake.read("t", "gold").columns == ["symbol", "close", "ingest_date"]

    lake.save(df.select("symbol", "open", "volume"), "t", "gold", mode="overwrite")
    assert lake.read("t", "gold").columns == ["symbol", "open", "volume", "ingest_date"]

    assert lake.delete("t", "gold")
    lake.save(df.select("close"), "t", "gold")
    assert lake.read("t", "gold").columns == ["close", "ingest_date"]

    # removed behind the lake's back, then re-created with another schema
    shutil.rmtree(os.path.join(lake.root, "gold", "t"))
    lake.save(df.select("symbol"), "t", "gold")
    assert lake.read("t", "gold").columns == ["symbol", "ingest_date"]

    day = F.to_date(F.lit("2024-01-01"))
    lake.save(df.withColumn("ingest_date", day), "p", "bronze")
    before = lake.read("p", "bronze")
    lake.save(df.withColumn("ingest_date", F.date_add(day, 1)), "p", "bronze")
    after = lake.read("p", "bronze")
    assert before.count() == 2 and after.count() == 4
    assert after.schema == before.schema and after.schema["ingest_date"].dataType == DateType()
    assert sorted(str(r.ingest_date) for r in after.select("ingest_date").distinct().collect()) == [
        "2024-01-01", "2024-01-02"
    ]


def test_repeated_read_skips_schema_inference(spark, lake):
    """A second read of an unchanged table runs one Spark job fewer than
    the first: the footer-inference job."""
    import uuid

    from real_time_financial_data_pipeline_spark import api

    tag = uuid.uuid4().hex
    lake.save(parse_alphavantage_daily(spark, AV_PAYLOAD, "AAPL"), "t", "gold")
    first, n_first = _jobs(spark, f"first-{tag}", lambda: api.get_data(lake, "gold", "t", limit=10))
    second, n_second = _jobs(spark, f"second-{tag}", lambda: api.get_data(lake, "gold", "t", limit=10))
    assert second == first and len(first) == 2
    assert n_second == n_first - 1


def test_connector_parsers(spark):
    fx = parse_alphavantage_forex(
        spark,
        {"Time Series FX (Daily)": {"2024-01-02": {"1. open": "1.1", "2. high": "1.2", "3. low": "1.0", "4. close": "1.15"}}},
        "EUR",
        "USD",
    ).collect()[0]
    assert fx.rate == 1.15 and fx.from_currency == "EUR"

    eco = parse_alphavantage_economic(
        spark, {"data": [{"date": "2024-01-01", "value": "3.2"}, {"date": "2024-04-01", "value": "."}]}, "GDP"
    ).collect()
    assert eco[0].value == 3.2 and eco[1].value is None  # '.' coerced to null
    assert "date" not in {c for c in ("date",) if c in []}  # raw date column dropped

    y = {"chart": {"result": [{"timestamp": [1704153600], "indicators": {"quote": [{"open": [1.0], "high": [2.0], "low": [0.5], "close": [1.5], "volume": [7]}]}}]}}
    s = parse_yahoo_chart(spark, y, "TSLA").collect()[0]
    assert s.symbol == "TSLA" and s.volume == 7
    c = parse_yahoo_crypto(spark, y, "BTC").collect()[0]
    assert c.base_symbol == "BTC" and c.price == 1.5 and c.data_type == "crypto"


def test_csv_auto_detection(spark, tmp_path):
    p = tmp_path / "ibm_daily.csv"
    p.write_text("Date,Opening,Highest,Lowest,Adjusted_Close,Vol\n2024-01-02,1,2,0.5,1.5,10\n")
    df = load_stock_csv(spark, str(p))
    r = df.collect()[0]
    assert r.symbol == "IBM" and r.close == 1.5 and r.open == 1.0 and r.source == "csv_import"

    p2 = tmp_path / "cpi.csv"
    p2.write_text("period,amount\n2024-01-01,3.1\n")
    eco = load_economic_csv(spark, str(p2), "CPI", date_col="period")
    assert eco.collect()[0].value == 3.1

    p3 = tmp_path / "nodates.csv"
    p3.write_text("a,b\n1,2\n")
    with pytest.raises(ValueError):
        load_economic_csv(spark, str(p3), "X")


def test_sinks_sanitize_iso_json_csv(spark):
    df = spark.createDataFrame(
        [(1, float("inf"), "2024-01-02 03:04:05")], "id long, v double, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    assert sanitize_floats(df).collect()[0].v is None
    assert timestamps_to_iso(df).collect()[0].ts == "2024-01-02T03:04:05.000000Z"
    assert to_json_records(df) == ['{"id":1,"v":null,"ts":"2024-01-02T03:04:05.000000Z"}']
    assert to_csv_string(df).splitlines()[1].startswith("1,,2024-01-02T03:04:05")


def test_sinks_quote_column_names(spark):
    """Names with a dot, a space or a backtick (a CSV header such as
    ``Adj. Close``) are columns, not struct accesses; NaN and +-inf become
    null in float and double columns alike."""
    import datetime as dt

    from pyspark.sql.types import DoubleType, FloatType, StringType, StructField, StructType, TimestampType

    nan, inf = float("nan"), float("inf")
    ts = dt.datetime(2024, 1, 2, 3, 4, 5, 500000)
    schema = StructType([
        StructField("a.b", DoubleType()),
        StructField("x y", FloatType()),
        StructField("ts", TimestampType()),
        StructField("q`t", StringType()),
    ])
    df = spark.createDataFrame(
        [(nan, inf, ts, "p"), (inf, -inf, None, None), (-inf, nan, ts, "r"), (1.5, 2.5, None, "s")], schema
    )
    assert to_json_records(df) == [
        '{"a.b":null,"x y":null,"ts":"2024-01-02T03:04:05.500000Z","q`t":"p"}',
        '{"a.b":null,"x y":null,"ts":null,"q`t":null}',
        '{"a.b":null,"x y":null,"ts":"2024-01-02T03:04:05.500000Z","q`t":"r"}',
        '{"a.b":1.5,"x y":2.5,"ts":null,"q`t":"s"}',
    ]
    assert to_json_records(df, limit=1) == ['{"a.b":null,"x y":null,"ts":"2024-01-02T03:04:05.500000Z","q`t":"p"}']
    assert to_csv_string(df) == (
        "a.b,x y,ts,q`t\n"
        ",,2024-01-02T03:04:05.500000Z,p\n"
        ",,,\n"
        ",,2024-01-02T03:04:05.500000Z,r\n"
        "1.5,2.5,,s\n"
    )
    assert [tuple(r) for r in sanitize_floats(df).collect()] == [
        (None, None, ts, "p"), (None, None, None, None), (None, None, ts, "r"), (1.5, 2.5, None, "s")
    ]
    assert [r["ts"] for r in timestamps_to_iso(df).collect()] == [
        "2024-01-02T03:04:05.500000Z", None, "2024-01-02T03:04:05.500000Z", None
    ]


def test_streaming_ingest_and_tumbling_batch_parity(spark, events, tmp_path):
    from real_time_financial_data_pipeline_spark.operators.aggregate import ohlcv
    from real_time_financial_data_pipeline_spark.streaming.aggregates import (
        run_stream_to_memory,
        tumbling_ohlc,
    )
    from real_time_financial_data_pipeline_spark.streaming.ingest import file_stream, ingest_to_bronze

    src = tmp_path / "src"
    events.limit(300).write.parquet(str(src))
    schema = spark.read.parquet(str(src)).schema

    # ingest: stream -> bronze append
    bronze = str(tmp_path / "bronze")
    q = ingest_to_bronze(
        file_stream(spark, str(src), schema, max_files_per_trigger=2),
        bronze,
        str(tmp_path / "ckpt"),
        trigger_available_now=True,
    )
    q.awaitTermination(120)
    assert spark.read.parquet(bronze).count() == 300

    # windowed agg: streaming result == batch result on the same input
    stream = file_stream(spark, str(src), schema)
    run_stream_to_memory(tumbling_ohlc(stream), "t_parity", "complete")
    got = {
        (r.event_type, r.period): (r.open, r.high, r.low, r.close, r.n_events)
        for r in spark.table("t_parity").collect()
    }
    batch = spark.read.parquet(str(src))
    exp = {
        (r.event_type, r.period): (r.open, r.high, r.low, r.close, r.n_events)
        for r in ohlcv(batch, "D", "ts", "value", ["event_type"]).collect()
    }
    assert got == exp and len(got) > 0


def test_sliding_counts_batch_equivalence(spark, events, tmp_path):
    """Backing anchor for the retired stream_sliding_counts oracle row:
    the watermarked sliding aggregate drained over a static backlog equals
    the batch F.window(size, slide) aggregate, and the 1h/15m overlap
    factor holds exactly (every event lands in 4 windows)."""
    from pyspark.sql import functions as F

    from real_time_financial_data_pipeline_spark.streaming.aggregates import (
        run_stream_to_memory,
        sliding_counts,
    )
    from real_time_financial_data_pipeline_spark.streaming.ingest import file_stream

    src = tmp_path / "src"
    events.limit(400).write.parquet(str(src))
    schema = spark.read.parquet(str(src)).schema

    stream = file_stream(spark, str(src), schema)
    run_stream_to_memory(sliding_counts(stream), "sliding_parity", "complete")
    got = {
        (r.event_type, r.win_start, r.win_end): r.n_events
        for r in spark.table("sliding_parity").collect()
    }
    batch = spark.read.parquet(str(src))
    exp = {
        (r.event_type, r.win.start, r.win.end): r.n_events
        for r in batch.groupBy(
            "event_type", F.window("ts", "1 hour", "15 minutes").alias("win")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert got == exp and len(got) > 0
    assert sum(got.values()) == 4 * 400  # 1h/15m: each event in exactly 4 windows


def test_exactly_once_sink_replay_idempotent(spark, tmp_path):
    """A replayed micro-batch (same batch_id — what foreachBatch delivers
    after a crash between sink write and checkpoint commit) must leave the
    bronze table unchanged under exactly_once, and demonstrably duplicates
    under the plain append sink."""
    from real_time_financial_data_pipeline_spark.streaming.ingest import (
        file_stream,
        ingest_to_bronze,
        make_batch_writer,
    )

    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    df2 = spark.createDataFrame([(3, "c")], "id long, v string")

    bronze = str(tmp_path / "bronze_eo")
    w = make_batch_writer(bronze, exactly_once=True)
    w(df1, 0)
    w(df2, 1)
    assert spark.read.parquet(bronze).count() == 3
    w(df1, 0)  # replay of batch 0
    got = spark.read.parquet(bronze)
    assert sorted(r.id for r in got.collect()) == [1, 2, 3]  # unchanged
    assert "_batch_id" in got.columns  # lineage partition column exposed

    # contrast: at-least-once append duplicates on replay
    bronze_alo = str(tmp_path / "bronze_alo")
    w_alo = make_batch_writer(bronze_alo)
    w_alo(df1, 0)
    w_alo(df1, 0)
    assert spark.read.parquet(bronze_alo).count() == 4

    # end-to-end wiring: streaming availableNow drain through the
    # exactly-once sink lands every row exactly once
    src = tmp_path / "src_eo"
    df1.union(df2).repartition(2).write.parquet(str(src))
    schema = spark.read.parquet(str(src)).schema
    q = ingest_to_bronze(
        file_stream(spark, str(src), schema, max_files_per_trigger=1),
        str(tmp_path / "bronze_stream"),
        str(tmp_path / "ckpt_eo"),
        trigger_available_now=True,
        exactly_once=True,
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "bronze_stream"))
    assert sorted(r.id for r in out.collect()) == [1, 2, 3]


def test_resumed_dedup_stream_keeps_its_checkpoint_width(spark, tmp_path):
    """A stateful stream records its shuffle width (its number of state
    stores) in the checkpoint at first start.  An ingest begun at width 8
    and resumed in a session at width 4 still runs 8 stores, and its dedup
    state still drops a re-delivery: the upgrade path for checkpoints made
    before the session width followed the core count."""
    import datetime as dt

    from real_time_financial_data_pipeline_spark.streaming.ingest import (
        dedup_stream,
        file_stream,
        ingest_to_bronze,
    )

    schema = spark.createDataFrame([], "id long, ts timestamp").schema
    src, bronze, ckpt = (str(tmp_path / d) for d in ("src", "bronze", "ckpt"))
    base = dt.datetime(2024, 1, 2, 9, 30)

    def drop(ids):
        rows = [(i, base + dt.timedelta(seconds=i)) for i in ids]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    def drain(width):
        key = "spark.sql.shuffle.partitions"
        old = spark.conf.get(key)
        spark.conf.set(key, str(width))
        try:
            q = ingest_to_bronze(
                dedup_stream(file_stream(spark, src, schema), ["id"]),
                bronze, ckpt, trigger_available_now=True, exactly_once=True,
            )
            q.awaitTermination(120)
        finally:
            spark.conf.set(key, old)
        assert q.exception() is None
        return q.lastProgress

    drop(range(10))
    assert drain(8)["stateOperators"][0]["numShufflePartitions"] == 8
    drop(range(5, 15))  # ids 5..9 are re-deliveries inside the watermark
    progress = drain(4)
    assert progress["stateOperators"][0]["numShufflePartitions"] == 8
    ids = [r.id for r in spark.read.parquet(bronze).collect()]
    assert sorted(ids) == list(range(15))


def test_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join on planted data == the batch interval
    join, and pairs outside the lookback window are excluded."""
    from real_time_financial_data_pipeline_spark.streaming.ingest import file_stream
    from real_time_financial_data_pipeline_spark.streaming.joins import stream_interval_join

    purchases = [("u1", "2024-01-01 10:00:00", 100), ("u2", "2024-01-01 12:00:00", 101)]
    clicks = [
        ("u1", "2024-01-01 09:30:00", 200),  # within 1h before purchase 100
        ("u1", "2024-01-01 10:00:00", 201),  # boundary: equal ts, inclusive
        ("u1", "2024-01-01 08:59:00", 202),  # 61 min before -> excluded
        ("u1", "2024-01-01 10:05:00", 203),  # after purchase -> excluded
        ("u2", "2024-01-01 11:30:00", 204),  # other user's window
    ]
    p_dir, c_dir = str(tmp_path / "p"), str(tmp_path / "c")
    pdf = spark.createDataFrame(purchases, "p_user string, p_ts string, purchase_id long") \
        .withColumn("p_ts", F.col("p_ts").cast("timestamp"))
    cdf = spark.createDataFrame(clicks, "c_user string, c_ts string, click_id long") \
        .withColumn("c_ts", F.col("c_ts").cast("timestamp"))
    pdf.write.parquet(p_dir)
    cdf.write.parquet(c_dir)

    joined = stream_interval_join(
        file_stream(spark, p_dir, pdf.schema, max_files_per_trigger=None),
        file_stream(spark, c_dir, cdf.schema, max_files_per_trigger=None),
        [("p_user", "c_user")],
        "p_ts",
        "c_ts",
        lookback="1 hour",
    ).select("purchase_id", "click_id")
    q = (
        joined.writeStream.format("memory").queryName("t_ssjoin")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {(r.purchase_id, r.click_id) for r in spark.table("t_ssjoin").collect()}
    assert got == {(100, 200), (100, 201), (101, 204)}

    batch = {
        (r.purchase_id, r.click_id)
        for r in pdf.join(
            cdf,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 hour"))
            & (F.col("c_ts") <= F.col("p_ts")),
        ).collect()
    }
    assert got == batch


def test_lake_compaction_and_retention(spark, tmp_path):
    """Many small appended files compact to one file per partition with
    identical rows; retention drops whole partition dirs by date."""
    from real_time_financial_data_pipeline_spark.lake import DataLake

    lake = DataLake(spark, str(tmp_path / "lake"))
    for day in ("2024-01-01", "2024-01-02", "2024-01-03"):
        for batch in range(3):  # 3 files per partition
            df = spark.createDataFrame(
                [(day, batch, i) for i in range(10)],
                "ingest_date string, batch long, v long",
            ).withColumn("ingest_date", F.col("ingest_date").cast("date")).repartition(2)
            lake.save(df, "smallfiles", mode="append")

    before = lake.read("smallfiles").collect()
    stats = lake.compact("smallfiles")
    assert stats["rows"] == 90 and stats["files_after"] == 3  # one per day
    assert stats["files_before"] > stats["files_after"]
    after = lake.read("smallfiles").collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))

    removed = lake.expire_partitions("smallfiles", before="2024-01-03")
    assert removed == 2
    left = lake.read("smallfiles")
    assert left.count() == 30
    assert {str(r.ingest_date) for r in left.select("ingest_date").distinct().collect()} == {"2024-01-03"}

    import pytest as _pytest
    with _pytest.raises(ValueError):
        lake.expire_partitions("smallfiles")  # cutoff must be explicit


def test_lake_compaction_crash_recovery(spark, tmp_path):
    """compact() must self-heal the three crash states a died swap leaves:
    (a) leftover tmp dir, (b) old copy alongside the new table, (c) old
    copy with the table dir missing entirely."""
    import os
    import shutil

    from real_time_financial_data_pipeline_spark.lake import DataLake

    lake = DataLake(spark, str(tmp_path / "lake"))
    df = spark.createDataFrame(
        [("2024-01-01", i) for i in range(20)], "ingest_date string, v long"
    ).withColumn("ingest_date", F.col("ingest_date").cast("date"))
    lake.save(df, "crashy", mode="append")
    path = lake._path("bronze", "crashy")

    # (a) stale unfinished rewrite
    os.makedirs(path + ".__compacting__/junk")
    stats = lake.compact("crashy")
    assert stats["rows"] == 20 and not os.path.isdir(path + ".__compacting__")

    # (b) crash after the new table landed but before old-copy cleanup
    shutil.copytree(path, path + ".__precompact__")
    stats = lake.compact("crashy")
    assert stats["rows"] == 20 and not os.path.isdir(path + ".__precompact__")

    # (c) crash between the two renames: only the old copy exists
    os.rename(path, path + ".__precompact__")
    stats = lake.compact("crashy")
    assert stats["rows"] == 20
    assert lake.read("crashy").count() == 20
    assert not os.path.isdir(path + ".__precompact__")


@pytest.mark.parametrize("exactly_once", [False, True])
def test_compaction_between_ingest_microbatches_no_loss(spark, tmp_path, exactly_once):
    """Compose the two lake-maintenance features a real deployment runs
    together: an ongoing incremental ingest (checkpointed file stream →
    bronze) with ``compact()`` run between drains — the nightly-maintenance
    protocol for a rename-swap lake (the swap is atomic for readers but not
    for concurrent writers, so compaction runs in the gap between
    micro-batches).  Invariants across the swap:

    - every previously ingested row survives compaction byte-for-byte;
    - the ingest RESUMES from its checkpoint afterwards (the source
      checkpoint tracks source files, not sink layout, so the rewrite must
      not confuse it) — no re-ingestion, no gaps;
    - with ``exactly_once=True`` the ``_batch_id`` partition layout is
      preserved and later batches land in fresh partitions."""
    import os as _os

    from real_time_financial_data_pipeline_spark.streaming.ingest import (
        file_stream,
        ingest_to_bronze,
    )

    lake = DataLake(spark, str(tmp_path / "lake"))
    src = str(tmp_path / "src")
    _os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")
    bronze = _os.path.join(str(tmp_path / "lake"), "bronze", "stream_bronze")
    schema = spark.createDataFrame([], "id long, v double").schema

    def drop(ids):
        spark.createDataFrame([(i, float(i)) for i in ids], schema).coalesce(1) \
            .write.mode("append").parquet(src)

    def drain():
        q = ingest_to_bronze(
            file_stream(spark, src, schema),
            bronze, ckpt, trigger_available_now=True, exactly_once=exactly_once,
        )
        q.awaitTermination(120)

    drop(range(0, 10))
    drop(range(10, 20))
    drop(range(20, 30))
    drain()
    assert sorted(r.id for r in spark.read.parquet(bronze).collect()) == list(range(30))

    stats = lake.compact(
        "stream_bronze", partition_by=["_batch_id"] if exactly_once else None
    )
    assert stats["rows"] == 30
    assert stats["files_after"] <= stats["files_before"]
    assert sorted(r.id for r in spark.read.parquet(bronze).collect()) == list(range(30))

    drop(range(30, 40))
    drop(range(40, 50))
    drain()
    got = sorted(r.id for r in spark.read.parquet(bronze).collect())
    assert got == list(range(50))  # no loss, no duplicates across the swap
    if exactly_once:
        parts = {d for d in _os.listdir(bronze) if d.startswith("_batch_id=")}
        assert len(parts) == 5  # 3 compacted + 2 post-compaction batches


def test_stream_interval_join_left_outer_emits_after_watermark(spark, tmp_path):
    """leftOuter: unmatched left rows emit with nulls once the watermark
    passes their match interval (driven here by a second, later file that
    advances the watermark past batch 1)."""
    from real_time_financial_data_pipeline_spark.streaming.ingest import file_stream
    from real_time_financial_data_pipeline_spark.streaming.joins import stream_interval_join

    p_dir, c_dir = str(tmp_path / "p"), str(tmp_path / "c")
    pdf1 = spark.createDataFrame(
        [("u1", "2024-01-01 10:00:00", 100), ("u2", "2024-01-01 10:00:00", 101)],
        "p_user string, p_ts string, purchase_id long",
    ).withColumn("p_ts", F.col("p_ts").cast("timestamp"))
    cdf1 = spark.createDataFrame(
        [("u1", "2024-01-01 09:30:00", 200)], "c_user string, c_ts string, click_id long"
    ).withColumn("c_ts", F.col("c_ts").cast("timestamp"))
    pdf2 = spark.createDataFrame(
        [("u9", "2024-01-02 10:00:00", 900)], "p_user string, p_ts string, purchase_id long"
    ).withColumn("p_ts", F.col("p_ts").cast("timestamp"))
    cdf2 = spark.createDataFrame(
        [("u9", "2024-01-02 09:30:00", 901)], "c_user string, c_ts string, click_id long"
    ).withColumn("c_ts", F.col("c_ts").cast("timestamp"))
    pdf1.coalesce(1).write.parquet(p_dir)
    cdf1.coalesce(1).write.parquet(c_dir)
    pdf2.coalesce(1).write.mode("append").parquet(p_dir)
    cdf2.coalesce(1).write.mode("append").parquet(c_dir)

    joined = stream_interval_join(
        file_stream(spark, p_dir, pdf1.schema, max_files_per_trigger=1),
        file_stream(spark, c_dir, cdf1.schema, max_files_per_trigger=1),
        [("p_user", "c_user")], "p_ts", "c_ts",
        lookback="1 hour", watermark="10 minutes", how="leftOuter",
    ).select("purchase_id", "click_id")
    q = (
        joined.writeStream.format("memory").queryName("t_ssjoin_outer")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    rows = sorted(
        (r.purchase_id, r.click_id) for r in spark.table("t_ssjoin_outer").collect()
    )
    assert rows == [(100, 200), (101, None), (900, 901)]


def test_tumbling_vwap_batch_parity(spark, events, tmp_path):
    """Streaming VWAP bars drained over a static backlog equal the batch
    vwap_bars on the same ticks (ratio-of-sums is mergeable, so the
    finalized window's divide matches the batch divide exactly)."""
    from real_time_financial_data_pipeline_spark.operators.finance import vwap_bars
    from real_time_financial_data_pipeline_spark.streaming.aggregates import (
        run_stream_to_memory,
        tumbling_vwap,
    )
    from real_time_financial_data_pipeline_spark.streaming.ingest import file_stream

    ticks = events.limit(300).select(
        "event_type",
        "ts",
        F.col("value").alias("price"),
        F.get_json_object("props", "$.k").cast("double").alias("size"),
    )
    src = tmp_path / "ticks"
    ticks.write.parquet(str(src))
    schema = spark.read.parquet(str(src)).schema

    stream = file_stream(spark, str(src), schema)
    run_stream_to_memory(tumbling_vwap(stream), "vwap_parity", "complete")
    got = {
        (r.event_type, r.period): (r.vwap, r.twap, r.volume, r.n_trades, r.high, r.low)
        for r in spark.table("vwap_parity").collect()
    }
    exp = {
        (r.event_type, r.period): (r.vwap, r.twap, r.volume, r.n_trades, r.high, r.low)
        for r in vwap_bars(
            spark.read.parquet(str(src)), "D", "ts", "price", "size", ["event_type"]
        ).collect()
    }
    assert set(got) == set(exp) and len(got) > 0
    for k, gv in got.items():
        ev = exp[k]
        assert gv[3:] == ev[3:], k  # counts/high/low exact
        for g, e in zip(gv[:3], ev[:3]):
            assert (g is None and e is None) or abs(g - e) < 1e-9, k


def test_quarantine_ingest_routes_and_labels(spark, tmp_path):
    """Validated streaming ingest: bad rows land in quarantine with the
    names of every failed rule; good rows land clean; replay of the same
    batch id is idempotent under exactly_once."""
    from real_time_financial_data_pipeline_spark.operators.quality import (
        in_range,
        not_null,
    )
    from real_time_financial_data_pipeline_spark.streaming.ingest import (
        file_stream,
        ingest_with_quarantine,
        make_quarantine_writer,
        split_by_rules,
    )

    rows = [
        (1, 10.0, "click"),
        (2, None, "view"),          # value_not_null fails
        (3, -5.0, "purchase"),      # value_in_range fails
        (4, 1e9, None),             # value_in_range + event_type_not_null fail
        (5, 42.0, "signup"),
    ]
    df = spark.createDataFrame(rows, "event_id long, value double, event_type string")
    rules = [not_null("value"), in_range("value", 0, 1000), not_null("event_type")]

    good, bad = split_by_rules(df, rules)
    assert {r.event_id for r in good.collect()} == {1, 5}
    labels = {r.event_id: set(r._violations) for r in bad.collect()}
    assert labels[2] == {"value_not_null", "value_in_range"}
    assert labels[3] == {"value_in_range"}
    assert labels[4] == {"value_in_range", "event_type_not_null"}

    # end-to-end streaming run
    src = tmp_path / "src"
    df.coalesce(1).write.parquet(str(src))
    stream = file_stream(spark, str(src), spark.read.parquet(str(src)).schema)
    q = ingest_with_quarantine(
        stream,
        str(tmp_path / "good"),
        str(tmp_path / "dlq"),
        str(tmp_path / "ckpt"),
        rules,
        trigger_available_now=True,
        exactly_once=True,
    )
    q.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "good")).count() == 2
    dlq = spark.read.parquet(str(tmp_path / "dlq"))
    assert dlq.count() == 3 and "_violations" in dlq.columns

    # replaying the same batch id must not duplicate either side
    writer = make_quarantine_writer(
        str(tmp_path / "good"), str(tmp_path / "dlq"), rules, exactly_once=True
    )
    writer(df, 0)
    writer(df, 0)
    assert spark.read.parquet(str(tmp_path / "good")).count() == 2
    assert spark.read.parquet(str(tmp_path / "dlq")).count() == 3
