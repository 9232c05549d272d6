"""SQL analytics surface (SURVEY §3.2 Q1-Q5 shapes + §2.6-§2.8 operators),
re-targeted at the driver's TPC-H-ish tables.

Each query is a Spark DataFrame builder `(spark, sf_dir) -> DataFrame`.
Its registry record in oracles/queries.py pairs it with a DuckDB
oracle of IDENTICAL output column names and types, or marks it
rows-only.

Shape parity with the reference's five DuckDB queries
(assignment1.ipynb cells ad0ce8ff, 5dde42b2, d61ce027, 678ca237, 594b2790):

  q1_top_nations          = Q1 busiest-zones    : J1 + A1 + O1
  q2_avg_value_by_hour    = Q2 fare-by-hour     : A2 + O2
  q3_event_type_pct       = Q3 payment pct      : A7 + W1 + O3
  q4_unit_price_by_weekday= Q4 tip% by weekday  : A5 + A4 + O4
  q5_trade_routes         = Q5 top routes       : J2 + A3 + O1
  q6_pricing_summary      = TPC-H Q1 multi-agg  : A6-style wide agg
  q13_windowed_counts     = batch twin of the streaming rollup (§2.11)

Determinism: every top-k adds an explicit tie-break key in BOTH engines
(SURVEY §7.4 #7); every computed column is rounded (6 dp for avg/pct,
4 dp for large sums) so ulp-level float drift between engines cannot
flip the driver's value hash (§7.4 #10).

Scale notes are in each builder's docstring — broadcast choices, where
the unavoidable shuffle is, and what changes at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .derive import weekday_num_expr
from .io import read_table


# ----------------------------------------------------------------------
# q1: top-10 nations by order count (reference Q1 busiest pickup zones:
# fact ⋈ tiny dim → group-count → top-k, ipynb:261-272)
# ----------------------------------------------------------------------

def q1_top_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ customer ⋈ nation → count per nation → top 10.

    Scale: nation (25 rows) is force-broadcast; customer stays
    auto-broadcast under the threshold at bench SF and becomes a shuffle
    hash join on o_custkey at 100 TB — both sides partition on the join
    key, and the post-join agg on 25 nations is map-side partial, so the
    final shuffle carries ≤ 25×partitions rows. Top-k compiles to
    TakeOrderedAndProject (no global sort).
    """
    orders = read_table(spark, sf_dir, "orders", ["o_custkey"])
    customer = read_table(spark, sf_dir, "customer", ["c_custkey", "c_nationkey"])
    nation = read_table(spark, sf_dir, "nation", ["n_nationkey", "n_name"])
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey, "inner")
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("order_cnt"))
        .orderBy(F.desc("order_cnt"), F.asc("n_name"))
        .limit(10)
    )


# ----------------------------------------------------------------------
# q2: average event value by hour (reference Q2 avg fare by pickup hour,
# ipynb:299-307)
# ----------------------------------------------------------------------

def q2_avg_value_by_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single partial+final hash agg on a 24-value key; the shuffle moves
    ≤ 24×partitions pre-aggregated rows regardless of input size."""
    events = read_table(spark, sf_dir, "events", ["ts", "value"])
    return (
        events.groupBy(F.hour("ts").cast("int").alias("event_hour"))
        .agg(F.round(F.avg("value"), 6).alias("avg_value"))
        .orderBy("event_hour")
    )


# ----------------------------------------------------------------------
# q3: percent-of-total by event type (reference Q3 payment-type pct —
# the surface's only window function, W1, ipynb:334-342)
# ----------------------------------------------------------------------

def q3_event_type_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpartitioned window over the AGGREGATED output (≤ 5 rows), not the
    raw data — the single-partition window is fine because its input is
    the post-agg frame (SURVEY §2.7)."""
    events = read_table(spark, sf_dir, "events", ["event_type"])
    counts = events.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy()
    return (
        counts.withColumn(
            "pct", F.round(F.col("cnt") * 100.0 / F.sum("cnt").over(w), 6)
        )
        .orderBy(F.desc("pct"), F.asc("event_type"))
    )


# ----------------------------------------------------------------------
# q4: avg unit price by ship weekday for returned items (reference Q4
# credit-card tip % by weekday: filter → conditional AVG with no ELSE →
# CASE weekday sort, ipynb:369-388)
# ----------------------------------------------------------------------

def q4_unit_price_by_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVG(CASE WHEN qty>0 THEN price/qty END): no otherwise() — nulls are
    excluded from AVG, exactly the reference's semantics (SURVEY §7.4 #2).
    Filter + 7-key agg: filter is pushed to the parquet scan."""
    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_returnflag", "l_quantity", "l_extendedprice", "l_shipdate"],
    )
    return (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy(F.date_format("l_shipdate", "EEEE").alias("ship_dow"))
        .agg(
            F.round(
                F.avg(
                    F.when(
                        F.col("l_quantity") > 0,
                        F.col("l_extendedprice") / F.col("l_quantity"),
                    )
                ),
                6,
            ).alias("avg_unit_price")
        )
        .orderBy(weekday_num_expr(F.col("ship_dow")))
    )


# ----------------------------------------------------------------------
# q5: top-5 supplier-nation → customer-nation trade routes (reference Q5
# top routes: double join against two aliases of the same dim,
# ipynb:413-427)
# ----------------------------------------------------------------------

def q5_trade_routes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ supplier ⋈ nation(supp) ⋈ orders ⋈ customer ⋈ nation(cust).

    Scale: supplier/customer/nation dims broadcast; the one real shuffle
    is lineitem ⋈ orders on orderkey (both fact-sized at 100 TB — with
    both tables bucketed on orderkey at write time this join is
    shuffle-free; AQE handles skewed orderkeys otherwise). The 2-key
    agg output is ≤ 625 rows so its shuffle is noise.
    """
    li = read_table(spark, sf_dir, "lineitem", ["l_orderkey", "l_suppkey"])
    orders = read_table(spark, sf_dir, "orders", ["o_orderkey", "o_custkey"])
    supplier = read_table(spark, sf_dir, "supplier", ["s_suppkey", "s_nationkey"])
    customer = read_table(spark, sf_dir, "customer", ["c_custkey", "c_nationkey"])
    nation = read_table(spark, sf_dir, "nation", ["n_nationkey", "n_name"])
    ns = F.broadcast(nation.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    ))
    nc = F.broadcast(nation.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation")
    ))
    return (
        li.join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(ns, F.col("s_nationkey") == F.col("ns_key"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(nc, F.col("c_nationkey") == F.col("nc_key"))
        .groupBy("supp_nation", "cust_nation")
        .agg(F.count(F.lit(1)).alias("shipments"))
        .orderBy(F.desc("shipments"), F.asc("supp_nation"), F.asc("cust_nation"))
        .limit(5)
    )


# ----------------------------------------------------------------------
# q6: pricing summary (TPC-H Q1 shape — wide multi-aggregate, the A6
# "metric tiles" pattern scaled up)
# ----------------------------------------------------------------------

def q6_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-key groupBy with 8 aggregates in one pass; whole-stage codegen
    keeps every expression JVM-side. The date filter pushes to the scan
    (row-group min/max skipping on l_shipdate at scale)."""
    li = read_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 4).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ----------------------------------------------------------------------
# q13: hourly event-type rollup — batch twin of the Structured Streaming
# query in streaming.py (§2.11); identical results by construction.
# ----------------------------------------------------------------------

def q13_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events", ["ts", "event_type", "value"])
    return (
        events.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("event_cnt"),
            F.round(F.sum("value"), 4).alias("value_sum"),
        )
        .orderBy("window_start", "event_type")
    )


# ----------------------------------------------------------------------
# q14: single-pass cleaning accounting (V5) — the reference's per-step
# removal deltas (ipynb:109-165) as ONE aggregate over one scan.
# ----------------------------------------------------------------------

def q14_clean_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .clean import cleaning_rules
    from .validate import removal_accounting

    events = read_table(spark, sf_dir, "events")
    return removal_accounting(events, cleaning_rules())


# ----------------------------------------------------------------------
# q15: exact-n seeded sample (X1, app.py:99) — pandas' exact-n RNG is
# not reproducible in Spark, so this is deterministic-per-seed but NOT
# oracle-comparable (SURVEY §7.4 #6); driver records rows-only.
# ----------------------------------------------------------------------

def q19_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified Bernoulli sample per event_type (the training-data
    'rebalance by source' op): sampleBy pushes a per-stratum filter on
    a seeded hash — one scan, no shuffle, scalable. Rows-only check:
    sampling semantics are engine-specific by design."""
    events = read_table(spark, sf_dir, "events")
    fractions = {"click": 0.5, "view": 0.1, "purchase": 1.0,
                 "signup": 0.25, "error": 0.0}
    return events.sampleBy("event_type", fractions, seed=42).select(
        "event_id", "event_type", "value"
    )


def q15_sample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-n via orderBy(rand(seed)) + limit: a global top-k on the
    random key (TakeOrderedAndProject — no full sort materialization).
    Fine up to millions of n; for huge n switch to Bernoulli
    df.sample(fraction, seed) and accept approximate counts."""
    events = read_table(spark, sf_dir, "events")
    return (
        events.orderBy(F.rand(42), F.col("event_id"))
        .limit(100)
        .select("event_id", "user_id", "event_type", "value")
    )


# ----------------------------------------------------------------------
# Sessions: a user's events split into a new session wherever the gap
# to the previous event exceeds SESSION_GAP_US. Two spellings of that
# one rule: `sessions` (the engine's session_window; q36 and every
# session stream) and `_number_sessions` (lag + running sum; q16 and
# q69, which need a null-ts row kept and a session number).
# ----------------------------------------------------------------------

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min in microseconds


def sessions(events: DataFrame,
             gap: str = f"{SESSION_GAP_US} microseconds") -> DataFrame:
    """One row per (user_id, session): session_start (first event),
    last_event (max ts), window_end (last event + gap) and n_events.

    session_window merges events exactly one gap apart and splits them
    one microsecond later: the same `> gap` rule as _number_sessions.
    It drops rows with a null ts. On a stream, append mode emits a
    session once the watermark passes its window_end, and state holds
    only the open sessions."""
    return (
        events.groupBy(
            F.session_window(F.col("ts"), gap).alias("w"), "user_id"
        )
        .agg(
            F.max("ts").alias("last_event"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "last_event",
            F.col("w.end").alias("window_end"),
            "n_events",
        )
    )


def _number_sessions(events: DataFrame) -> DataFrame:
    """Adds `us` (ts in unix micros), the `new_sess` flag and `sess_no`
    (0-based, per user) to events carrying user_id, ts and event_id. Windows partition by
    user_id in (ts, event_id) order, so a null ts sorts first and joins
    the user's first session."""
    w_order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w_order.rowsBetween(Window.unboundedPreceding, 0)
    return (
        events.withColumn("us", F.unix_micros("ts"))
        .withColumn(
            "new_sess",
            F.when(
                (F.col("us") - F.lag("us").over(w_order)) > SESSION_GAP_US, 1
            ).otherwise(0),
        )
        .withColumn("sess_no", F.sum("new_sess").over(w_run))
    )


def q16_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session stats: windows partition by user_id (shuffle on
    user_id once; both window functions and the final groupBy reuse that
    partitioning, so the plan has a single exchange). Gap comparison in
    integer microseconds — exact in both engines."""
    events = read_table(spark, sf_dir, "events", ["user_id", "ts", "event_id"])
    per_session = _number_sessions(events).groupBy("user_id", "sess_no").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
            F.round(F.avg("n_events"), 6).alias("avg_session_events"),
        )
        .orderBy("user_id")
    )


# ----------------------------------------------------------------------
# q17: top-k per group — ranking window (absent from the reference,
# which only top-ks globally; standard OLAP pattern)
# ----------------------------------------------------------------------

def q17_top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate first (shrinks fact to one row per customer), THEN
    rank — the window runs over the small aggregated frame, not raw
    orders. Revenue rounded before ranking so both engines rank the
    same values."""
    orders = read_table(spark, sf_dir, "orders", ["o_custkey", "o_totalprice"])
    customer = read_table(spark, sf_dir, "customer", ["c_custkey", "c_nationkey"])
    nation = read_table(spark, sf_dir, "nation", ["n_nationkey", "n_name"])
    rev = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 4).alias("revenue")
    )
    w = Window.partitionBy("n_name").orderBy(
        F.desc("revenue"), F.asc("o_custkey")
    )
    return (
        rev.join(customer, rev.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "n_name",
            F.col("o_custkey").alias("custkey"),
            "revenue",
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("n_name", "rank")
    )


# ----------------------------------------------------------------------
# q18: rollup — hierarchical grouping sets (absent from the reference;
# SURVEY §2.6 "not present" list, added for engine completeness)
# ----------------------------------------------------------------------

def q18_status_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(
        spark, sf_dir, "orders", ["o_orderstatus", "o_orderpriority", "o_totalprice"]
    )
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("o_totalprice"), 4).alias("total"),
        )
        .orderBy(
            F.asc_nulls_first("o_orderstatus"),
            F.asc_nulls_first("o_orderpriority"),
        )
    )


def q33_status_priority_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE companion to q18's ROLLUP: all 2^2 grouping sets."""
    orders = read_table(
        spark, sf_dir, "orders", ["o_orderstatus", "o_orderpriority", "o_totalprice"]
    )
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("o_totalprice"), 4).alias("total"),
        )
        .orderBy(
            F.asc_nulls_first("o_orderstatus"),
            F.asc_nulls_first("o_orderpriority"),
        )
    )
