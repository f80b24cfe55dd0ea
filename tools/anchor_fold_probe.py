"""10x scale probe for the versioned anchor-counts fold ladder
(BASELINE.md round 17): synthetic (dst, anchor_text) link tables at 1x
and 10x, folded through make_anchor_counts_folder in 3 batches; wall
of the whole ladder.  Vocabulary and domain count held constant (the
100 TB posture claim: snapshot size and merge cost are domains x
vocabulary bounded, so 10x links should cost ~1x fold wall beyond the
scan).  Recorded (idle host): 1M links 13.85 s, 10M links 13.26 s =
0.96x, snapshot 860 rows both."""
import os, shutil, sys, time
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from pyspark.sql import functions as F
from real_time_financial_data_pipeline_spark.session import get_spark
from real_time_financial_data_pipeline_spark.streaming.crawl_graph import (
    latest_snapshot, make_anchor_counts_folder)

spark = get_spark("anchorprobe")
spark.sparkContext.setLogLevel("ERROR")
WORDS = [f"w{i}" for i in range(40)]

def links(n):
    a = F.abs(F.col("id"))
    text = F.concat_ws(" ", *[
        F.element_at(F.array(*[F.lit(w) for w in WORDS]),
                     ((a * (i + 3)) % 40 + 1).cast("int"))
        for i in range(8)
    ])
    return spark.range(n).select(
        F.concat(F.lit("http://d"), (a % 50).cast("string"), F.lit(".com/p"),
                 a.cast("string")).alias("dst"),
        text.alias("anchor_text"),
        (a % 3).alias("_slice"),
    )

def run(n, tag):
    path = f"/dev/shm/anchor_probe_{tag}"
    shutil.rmtree(path, ignore_errors=True)
    df = links(n).persist(); df.count()
    fold = make_anchor_counts_folder(path, keep_versions=2)
    t0 = time.perf_counter()
    for b in (1, 2, 3):
        fold(df.filter(F.col("_slice") == b - 1).drop("_slice"), b)
    wall = time.perf_counter() - t0
    v, snap = latest_snapshot(spark, path)
    rows = snap.count()
    df.unpersist(); shutil.rmtree(path, ignore_errors=True)
    print(f"{tag}: n={n:,} fold wall {wall:.2f}s snapshot rows {rows}")
    return wall

w1 = run(1_000_000, "1x")
w10 = run(10_000_000, "10x")
print(f"ratio: {w10/w1:.2f}x wall for 10x links")
spark.stop()
