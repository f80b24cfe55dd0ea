"""Relational analytic plans over the TPC-H-ish star schema.

The reference has zero joins (SURVEY.md §2.7) but declares cross-dataset
analysis (`correlation`, schema.py:75).  These plans supply the join and
multi-dimensional aggregate capability, written the way they should run on a
1000-executor cluster:

- dimension tables (region/nation/customer/supplier/part) get explicit
  ``broadcast()`` hints — at 100 TB the fact tables shuffle for nothing if
  the planner mis-sizes a dim; the hint pins the hash-join side;
- money sums are computed in DECIMAL, not double: decimal partial aggregates
  are exact, so results are deterministic regardless of partitioning (and
  match any ANSI oracle bit-for-bit after the final cast);
- aggregations are single hash-aggregates with map-side combine — grouping
  keys are low-cardinality, so shuffle volume is O(groups · partitions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

# Exact money arithmetic: cast inputs to DECIMAL(18,4) before summing, cast
# the exact result back to double at the edge.
def _dec(c: str | Column) -> Column:
    return F.col(c).cast("decimal(14,4)") if isinstance(c, str) else c.cast("decimal(14,4)")


def _frac(c: str) -> Column:
    # rates in [0,1] (discount/tax): the narrowest cast keeps the decimal
    # product chain within 38 digits, so sums stay exact in any engine
    return F.col(c).cast("decimal(6,4)")


def _spread_fact(df: DataFrame, *key_cols: str) -> DataFrame:
    """Hash-spread a narrow fact projection across the default parallelism
    by ``key_cols`` — only when the scan has fewer partitions than cores.

    Exact decimal aggregation is the expensive half of the relational
    fact passes (r18 measured at sf0.1: the order-grain decimal pre-agg
    is 0.99 s against 0.21 s for the bare 3-column scan), and a
    single-file / single-row-group input pins that work to ONE task no
    matter the core count.  Hash-repartitioning the raw rows by
    ``key_cols`` puts the decimal work on every core.  When the downstream
    aggregation groups by the same key, the spread IS its exchange
    (ClusteredDistribution is satisfied by any hash partitioning on the
    key), so the exchange count is unchanged and the shuffle just carries
    raw rows instead of pre-aggregated ones.  When it groups by another
    key (``pricing_summary`` spreads by ``l_orderkey`` and groups by
    returnflag/linestatus), the spread is an EXTRA exchange that shuffles
    every filtered fact row before the partial aggregate.  Keyed
    repartition also avoids round-robin's sort-before-repartition pass
    (guide §2.5).

    At warehouse scale the scan already has >= cores partitions and this
    is a no-op: map-side partial aggregation before the exchange is the
    right shape there (shuffle fewer bytes, guide §2.3) — same
    scale-adaptive contract as ``operators/text._spread_narrow_input``.
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parallelism:
        return df.repartition(parallelism, *[F.col(c) for c in key_cols])
    return df


def pricing_summary(lineitem: DataFrame, cutoff: str = "1998-09-01") -> DataFrame:
    """TPC-H Q1 shape: per (returnflag, linestatus) pricing summary.

    One wide scan -> filter (pushed to parquet) -> hash aggregate.
    """
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast("decimal(6,4)") - _frac("l_discount"))
    charge = disc_price * (F.lit(1).cast("decimal(6,4)") + _frac("l_tax"))
    # spread by the high-cardinality orderkey, NOT the 4-value group key —
    # the partial aggregate then runs on every core and still collapses to
    # |groups| rows per task before the (tiny) final exchange.  No-op at
    # warehouse scale (see _spread_fact).
    filtered = lineitem.filter(
        F.col("l_shipdate") < F.lit(cutoff).cast("timestamp")
    ).select(
        "l_orderkey", "l_returnflag", "l_linestatus",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    )
    return (
        _spread_fact(filtered, "l_orderkey")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # round to scale 2 in the DECIMAL domain before the double cast:
            # a scale-12 decimal -> double conversion can differ by 1 ulp
            # across engines; at scale 2 the conversion is exact
            F.round(F.sum(_dec("l_quantity")), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(_dec("l_extendedprice")), 2).cast("double").alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(charge), 2).cast("double").alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def revenue_by_nation(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """Star join: fact lineitem pre-aggregated to order grain, ⋈ orders,
    then broadcast-joined dims up to region; revenue per (region, nation).

    lineitem is reduced to (orderkey, revenue, count) BEFORE the join —
    decimal sums are exact, so re-summing per-order subtotals is
    hash-identical to summing raw rows.  The groupBy shuffles narrow
    partial-aggregated rows on orderkey, and the join then reuses that
    hash partitioning (no second fact shuffle), so the shuffle-joined row
    count drops from |lineitem| to |orders| — the same 4× here (600k→150k)
    holds at 100 TB, where it's the difference between shuffling the fact
    table and shuffling an order-grain sketch of it.  customer/nation/
    region are broadcast so the fact side never re-shuffles on their keys.
    (Broadcasting orders outright benches marginally faster at sf0.1 but
    is a scale-killer — orders is a fact table and won't fit an executor
    at real SF, so the plan keeps the shuffle join.)
    """
    revenue = _dec("l_extendedprice") * (F.lit(1).cast("decimal(6,4)") - _frac("l_discount"))
    fact = _spread_fact(
        lineitem.select("l_orderkey", "l_extendedprice", "l_discount"),
        "l_orderkey",
    )
    per_order = fact.groupBy("l_orderkey").agg(
        F.sum(revenue).alias("_rev"), F.count(F.lit(1)).alias("_cnt")
    )
    return (
        per_order.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.round(F.sum("_rev"), 2).cast("double").alias("revenue"),
            F.sum("_cnt").alias("n_lineitems"),
        )
    )


def top_customers(
    lineitem: DataFrame, orders: DataFrame, customer: DataFrame, k: int = 10
) -> DataFrame:
    """Top-k customers by revenue: shuffle join on orderkey, aggregate on
    custkey, broadcast-join the customer dim onto the tiny aggregate, then
    TakeOrderedAndProject (no global sort — top-k per partition).

    Revenue is decimal-exact, so the ranking (and therefore the top-k SET)
    is deterministic; custkey breaks any exact ties.

    Pre-agg crossover (profiled at sf0.1, r7): the order-grain pre-agg
    pays for itself even at this SF — warm medians over 5 runs are 1.63 s
    with the pre-agg vs 1.80 s joining raw lineitem; both plans carry the
    same two exchanges (orderkey, then custkey), the pre-agg just shrinks
    the join input |lineitem|→|orders|.  The r6 bench regression (2.26 s,
    spread [1.80, 2.57]) reproduces as cold-JVM variance, not plan cost:
    the identical query re-timed warm lands at 1.61-1.85 s.  At 100× the
    pre-agg's advantage only widens (the join and second shuffle scale
    with |orders|, not |lineitem|).
    """
    revenue = _dec("l_extendedprice") * (F.lit(1).cast("decimal(6,4)") - _frac("l_discount"))
    # order-grain pre-aggregation before the join (exact; see revenue_by_nation)
    fact = _spread_fact(
        lineitem.select("l_orderkey", "l_extendedprice", "l_discount"),
        "l_orderkey",
    )
    per_order = fact.groupBy("l_orderkey").agg(F.sum(revenue).alias("_rev"))
    per_cust = (
        per_order.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(F.round(F.sum("_rev"), 2).alias("rev_dec"))
    )
    return (
        per_cust.join(broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("c_mktsegment").alias("mktsegment"),
            F.round(F.col("rev_dec"), 2).cast("double").alias("revenue"),
        )
        .orderBy(F.desc("revenue"), F.asc("custkey"))
        .limit(k)
    )


def segment_stats(customer: DataFrame) -> DataFrame:
    """Market-segment profile: count + exact-decimal average balance."""
    return customer.groupBy(F.col("c_mktsegment").alias("mktsegment")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        # exact decimal sum -> double, THEN one IEEE division (decimal
        # division scale rules differ across engines; double division doesn't)
        (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("avg_acctbal"),
    )


def revenue_rollup(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """Grouping-set totals: revenue at (region, nation), (region) and grand-
    total levels in ONE pass — ``rollup`` expands to grouping sets inside a
    single hash aggregate, so the fact table is scanned once, not three
    times.  Like ``revenue_by_nation``, lineitem is pre-aggregated to order
    grain before the shuffle join (decimal sums re-sum exactly), so the
    rollup's input is |orders| rows, not |lineitem|.

    Perf note (r8): the r7 bench showed +0.12 s vs r6 (1.95->2.07 s,
    overlapping spreads).  Re-profiled warm at sf0.1, 5 runs after one
    warm-up: median 1.33 s, spread [1.24, 1.52] — comfortably below both
    round medians and the plan unchanged (plan-audit green), confirming
    the drift was cold-JVM/bench-loop variance, not plan cost.  Same
    conclusion as the top_customers r6 investigation above."""
    revenue = _dec("l_extendedprice") * (F.lit(1).cast("decimal(6,4)") - _frac("l_discount"))
    fact = _spread_fact(
        lineitem.select("l_orderkey", "l_extendedprice", "l_discount"),
        "l_orderkey",
    )
    per_order = fact.groupBy("l_orderkey").agg(F.sum(revenue).alias("_rev"))
    # two-level rollup (r18, guide §2.2): aggregate to (region, nation)
    # grain FIRST — 25 rows — then expand grouping sets over that.  The
    # single-level form ran Expand over every order-grain row (3x the join
    # output) and paid the exact-decimal partial aggregate on the tripled
    # row count; summing per-(region, nation) decimal subtotals is exact,
    # so the rollup of sums equals the rollup over raw rows bit-for-bit.
    per_nation = (
        per_order.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(F.sum("_rev").alias("_rev_rn"))
    )
    return (
        per_nation.rollup("region_name", "nation_name")
        .agg(F.round(F.sum("_rev_rn"), 2).cast("double").alias("revenue"))
    )


def lapsed_customers(orders: DataFrame, year_a: int, year_b: int) -> DataFrame:
    """Set difference: customers who ordered in year_a but not year_b
    (EXCEPT DISTINCT).

    r17 single-scan form (guide §1.2): ``keys(a).subtract(keys(b))``
    scanned orders twice and planned a left-anti join over two distinct
    key sets.  One scan filtered to BOTH years + one partial-aggregated
    groupBy with per-year presence flags is the same set — any presence
    in year_b removes the key (exceptAll would only subtract
    multiplicities; ``max(bool)`` is presence, so this stays EXCEPT
    DISTINCT), and null keys group exactly as subtract's null-safe set
    semantics treat them."""
    yr = F.year("o_orderdate")
    return (
        orders.filter(yr.isin(year_a, year_b))
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max(yr == year_a).alias("_in_a"),
            F.max(yr == year_b).alias("_in_b"),
        )
        .filter(F.col("_in_a") & ~F.col("_in_b"))
        .select("custkey")
    )


def order_priority_counts(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q4 shape: orders with at least one lineitem shipped after order
    date, counted per priority — a semi-join (no row multiplication) then a
    tiny aggregate."""
    commits = lineitem.select("l_orderkey", "l_shipdate")
    qualified = orders.join(
        commits,
        (F.col("o_orderkey") == F.col("l_orderkey")) & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return qualified.groupBy(F.col("o_orderpriority").alias("orderpriority")).agg(
        F.count(F.lit(1)).alias("order_count")
    )
