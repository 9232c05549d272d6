"""Extended analytics surface — operators the reference does NOT use
(SURVEY §2's "not present" lists) but a complete engine must own:
richer joins (as-of, semi/anti via set ops), DISTINCT aggregates,
percentiles, pivot, regex predicates, and two classic TPC-H join-agg
shapes for breadth. Every query has a DuckDB oracle twin.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .io import (
    WAREHOUSE,
    artifact_generation,
    evict_stale,
    materialize_artifact,
    memo_artifact,
    read_table,
)


# ----------------------------------------------------------------------
# q54: deterministic hash-Bernoulli sampling — the production-preferred
# sampling discipline (reproducible across engines, retries, and
# cluster sizes, unlike RNG-seeded sample())
# ----------------------------------------------------------------------

HASH_SAMPLE_PCT = 10


def q54_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% Bernoulli sample selected by CONTENT HASH of the row key,
    not an RNG: a row is in the sample iff md5(event_id) mod 100 < 10.
    This is what large pipelines actually want from sampling — the
    sample is a pure function of the data, so task retries, different
    partition counts, and different ENGINES all agree row-for-row
    (q15/q19 document why RNG-seeded samples can never be
    oracle-backed; this one is, via the shared md5-derived hash family
    of extras.hashing). Filter is row-local — pushes to the scan,
    zero shuffle (plan-pinned)."""
    from .extras.hashing import spark_h60

    ev = read_table(
        spark, sf_dir, "events", ["event_id", "event_type", "value"]
    )
    bucket = F.expr(spark_h60("CAST(event_id AS STRING)")) % 100
    return ev.filter(
        bucket < HASH_SAMPLE_PCT
    )  # no terminal sort: O(n) output, order-insensitive compare


# ----------------------------------------------------------------------
# q55: rolling exact median — ordered-set aggregate over a sliding
# ROWS frame (the robust-statistics twin of q31's moving average)
# ----------------------------------------------------------------------

def q55_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling median of the last 10 events (ROWS frame, exact
    interpolated percentile — robust to the value spikes that drag
    q31's moving MEAN). One shuffle on user_id; the frame is row-
    bounded so state per partition is O(frame), not O(history).
    (event_id tie-breaks equal timestamps for a total order — same
    determinism discipline as q16/q47.) Interpolation parity between
    Spark percentile() and DuckDB quantile_cont() is already proven by
    q23."""
    ev = read_table(
        spark, sf_dir, "events", ["event_id", "user_id", "ts", "value"]
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.expr("percentile(value, 0.5)").over(w), 6).alias(
            "rolling_median"
        ),
    )  # no terminal sort: O(n) output, order-insensitive compare


# ----------------------------------------------------------------------
# q56: grouped bivariate statistics — corr/covar/stddev per key (the
# statistics-family completion of q44's regr_slope)
# ----------------------------------------------------------------------

def q56_grouped_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type Pearson correlation and covariance of value vs
    hour-of-day, plus dispersion — one fact-sized shuffle, all
    built-in decomposable aggregates (each maintains constant
    per-group state: sums, squares, cross-products — the same
    merge-safe shape as q53's partials, so this scales exactly like
    a count). Rounded 6dp: both engines compute the same co-moment
    recurrences (regr_slope parity already proven by q44)."""
    ev = read_table(spark, sf_dir, "events", ["event_type", "ts", "value"])
    h = F.hour("ts").cast("double")
    v = F.col("value")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.corr(v, h), 6).alias("corr_value_hour"),
            F.round(F.covar_samp(v, h), 6).alias("covar_value_hour"),
            F.round(F.stddev_samp(v), 6).alias("stddev_value"),
            F.round(F.var_samp(v), 6).alias("var_value"),
        )
        .orderBy("event_type")
    )


# ----------------------------------------------------------------------
# q57: ranking-window family — percent_rank / cume_dist / ntile in one
# pass (complements q17's row_number/rank and q50's sort-free quartiles)
# ----------------------------------------------------------------------

def q57_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full relative-rank family over one (event_type)-partitioned,
    (value, event_id)-ordered window: percent_rank (rank-based),
    cume_dist (count-based), ntile(4) (literal equal-height tiles —
    q50 computes the same quartile answer WITHOUT the per-partition
    total sort; this is the windowed spelling for when exact tile
    numbers per row are required). One shuffle + one per-partition
    sort shared by all three functions (single Window node —
    plan-pinned). event_id tie-break keeps every engine's tile
    boundaries identical."""
    ev = read_table(spark, sf_dir, "events", ["event_id", "event_type", "value"])
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        "event_type",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(4).over(w).alias("tile"),
    )  # no terminal sort: O(n) output, order-insensitive compare


# ----------------------------------------------------------------------
# q58: dimension-enriched hourly rollup — the batch twin of the
# stream-static broadcast enrichment (streaming.enriched_nation_counts)
# ----------------------------------------------------------------------

def customer_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The customer -> nation dimension (user_id, nation) that q58 and
    its stream twin, streaming.enriched_nation_counts_stream, join."""
    cust = read_table(spark, sf_dir, "customer", ["c_custkey", "c_nationkey"])
    nation = read_table(spark, sf_dir, "nation", ["n_nationkey", "n_name"])
    return cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).select(
        F.col("c_custkey").alias("user_id"), F.col("n_name").alias("nation")
    )


def q58_event_nation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event counts per customer nation: the fact stream
    enriched through a two-dim join (customer -> nation, both
    broadcast — the fact never shuffles for the join) then rolled up
    per (hour, nation). This is the batch contract that
    streaming.enriched_nation_counts_stream must reproduce
    exactly (stream-static joins are stateless, so the parity is
    row-exact, not watermark-approximate)."""
    ev = read_table(spark, sf_dir, "events", ["user_id", "ts"])
    return (
        ev.join(F.broadcast(customer_nation(spark, sf_dir)), "user_id")
        .groupBy(
            F.date_trunc("hour", "ts").alias("hour"), F.col("nation")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("hour", "nation")
    )


# ----------------------------------------------------------------------
# q59: sliding-window distinct counts — the aggregate that does NOT
# decompose (unlike q53's count/sum), so it needs the bounded fan-out
# spelling
# ----------------------------------------------------------------------

SLIDING_HOURS = 24


def q59_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 24h distinct-user count at every hour step. DISTINCT
    does not merge across overlapping windows (no partial-agg trick
    exists), so the scale-safe exact spelling is the bounded fan-out:
    each event replicates to the window/slide = 24 window-ends it
    belongs to (row-local sequence+explode), then ONE two-level
    distinct aggregation. Fan-out is bounded by the overlap ratio —
    never data-squared — and the (window_end, user) dedup shuffle is
    the real cost; at web scale you swap exact distinct for the HLL
    registers (extras.sketches) under the SAME fan-out, trading 1%
    error for constant state. Window-ends clipped to the observed
    hour span so leading partial windows match the oracle's spine."""
    ev = read_table(spark, sf_dir, "events", ["user_id", "ts"])
    b = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    fan = (
        ev.join(F.broadcast(b))
        .select(
            "user_id",
            F.explode(
                F.sequence(
                    F.greatest(F.date_trunc("hour", "ts"), F.col("h0")),
                    F.least(
                        F.date_trunc("hour", "ts")
                        + F.expr(f"INTERVAL {SLIDING_HOURS - 1} HOURS"),
                        F.col("h1"),
                    ),
                    F.expr("INTERVAL 1 HOUR"),
                )
            ).alias("window_end"),
        )
    )
    return (
        fan.groupBy("window_end")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("window_end")
    )


# ----------------------------------------------------------------------
# q20: TPC-H Q3 shape — shipping priority (filter + 2 joins + group +
# computed measure + top-k)
# ----------------------------------------------------------------------

def q20_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filters push to both scans; customer dim broadcasts; the
    lineitem⋈orders shuffle is the scale cost (bucketing co-locates it,
    see tests/test_io_sql.py::test_bucketed_join_has_no_shuffle)."""
    cust = read_table(spark, sf_dir, "customer", ["c_custkey", "c_mktsegment"])
    orders = read_table(
        spark, sf_dir, "orders", ["o_orderkey", "o_custkey", "o_orderdate"]
    )
    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_orderkey", "l_extendedprice", "l_discount", "l_shipdate"],
    )
    cutoff = F.lit("1997-01-01").cast("timestamp")
    return (
        li.filter(F.col("l_shipdate") > cutoff)
        .join(
            orders.filter(F.col("o_orderdate") <= cutoff),
            li.l_orderkey == orders.o_orderkey,
        )
        .join(
            F.broadcast(cust.filter(F.col("c_mktsegment") == "BUILDING")),
            orders.o_custkey == cust.c_custkey,
        )
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


# ----------------------------------------------------------------------
# q21: TPC-H Q5 shape — nation revenue through a 6-way join
# ----------------------------------------------------------------------

def q21_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"],
    )
    orders = read_table(spark, sf_dir, "orders", ["o_orderkey", "o_custkey"])
    cust = read_table(spark, sf_dir, "customer", ["c_custkey", "c_nationkey"])
    supp = read_table(spark, sf_dir, "supplier", ["s_suppkey", "s_nationkey"])
    nation = read_table(spark, sf_dir, "nation", ["n_nationkey", "n_name", "n_regionkey"])
    region = read_table(spark, sf_dir, "region", ["r_regionkey", "r_name"])
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        # TPC-H Q5's "local supplier" twist: customer and supplier in
        # the SAME nation
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        # "ASIA" matches the driver testdata's real region names
        # (AMERICA/EUROPE/ASIA/AFRICA/MIDDLE EAST); only *nations* use
        # the NATION_k naming.  The previous "REGION_0" literal matched
        # nothing and left this query vacuously green (0 rows both
        # engines) — fixed in round 7, consistent with Q80_REGION.
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


# ----------------------------------------------------------------------
# q22: pivot — day×hour heatmap in wide form (the reference keeps it
# long-form and pivots client-side; engine-side pivot is the Spark
# groupBy().pivot() path with an explicit column list)
# ----------------------------------------------------------------------

_PIVOT_HOURS = [0, 6, 12, 18]


def q22_heatmap_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events", ["ts"])
    return (
        events.select(
            F.date_format("ts", "EEEE").alias("event_dow"),
            F.hour("ts").cast("int").alias("event_hour"),
        )
        .filter(F.col("event_hour").isin(_PIVOT_HOURS))
        .groupBy("event_dow")
        .pivot("event_hour", _PIVOT_HOURS)
        .count()
        .select(
            "event_dow",
            # absent (dow, hour) combos: pivot yields NULL, the
            # oracle's FILTER yields 0 — normalize to 0
            *[
                F.coalesce(F.col(str(h)), F.lit(0)).alias(f"h{h}")
                for h in _PIVOT_HOURS
            ],
        )
    )


# ----------------------------------------------------------------------
# q23: percentiles — exact interpolated quantiles per group (absent
# from the reference; Spark `percentile` and DuckDB `quantile_cont`
# share the interpolation formula, so results match unrounded)
# ----------------------------------------------------------------------

def q23_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events", ["event_type", "value"])
    return (
        events.groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.expr("percentile(value, 0.9)").alias("p90"),
            F.expr("percentile(value, 0.99)").alias("p99"),
        )
        .orderBy("event_type")
    )


# ----------------------------------------------------------------------
# q24: DISTINCT aggregates per group
# ----------------------------------------------------------------------

def q24_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events", ["event_type", "user_id"])
    return (
        events.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


# ----------------------------------------------------------------------
# q25: set operations — users who clicked but never purchased
# (EXCEPT == left_anti), and clicked-and-purchased (INTERSECT ==
# left_semi). Spark plans both as hash joins, no materialized sets.
# ----------------------------------------------------------------------

def q25_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events", ["event_type", "user_id"])
    clicks = events.filter(F.col("event_type") == "click").select("user_id").distinct()
    buys = events.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    only_click = clicks.exceptAll(buys).agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("click_no_purchase").alias("cohort"), "n")
    both = clicks.intersect(buys).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("click_and_purchase").alias("cohort"), "n"
    )
    either = clicks.union(buys).distinct().agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("click_or_purchase").alias("cohort"), "n")
    return only_click.unionAll(both).unionAll(either).orderBy("cohort")


# ----------------------------------------------------------------------
# q26: regex predicate scan (LIKE/regex absent from the reference)
# ----------------------------------------------------------------------

def q26_regex_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count documents whose text contains 'spark' followed later by
    'join' — a basic portable regex (no engine-specific syntax)."""
    docs = read_table(spark, sf_dir, "documents", ["doc_id", "text", "lang"])
    return (
        docs.filter(F.col("text").rlike("spark.*join"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang")
    )


# ----------------------------------------------------------------------
# q27: as-of join — for each purchase, the most recent prior-or-equal
# signup by the same user. Spark lacks a native as-of join; the
# union + running-max window is the shuffle-minimal spelling (ONE
# shuffle on user_id; a join spelling would shuffle twice and explode
# on hot users). DuckDB oracle uses its native ASOF JOIN.
# ----------------------------------------------------------------------

def q27_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(
        spark, sf_dir, "events", ["event_id", "ts", "user_id", "event_type"]
    )
    tagged = events.filter(
        F.col("event_type").isin("purchase", "signup")
    ).select(
        "event_id",
        "user_id",
        "ts",
        (F.col("event_type") == "signup").cast("int").alias("is_signup"),
    )
    # at equal ts, the signup sorts BEFORE the purchase (desc on the
    # flag) so <=-semantics match the oracle's p.ts >= s.ts
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_signup").desc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    enriched = tagged.withColumn(
        "last_signup_ts",
        F.max(F.when(F.col("is_signup") == 1, F.col("ts"))).over(w),
    )
    return enriched.filter(F.col("is_signup") == 0).select(
        "event_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        # epoch sentinel instead of NULL: null timestamps spell
        # differently across the pandas boundary (None vs NaT) and
        # could false-mismatch a strict value hash
        F.coalesce(
            "last_signup_ts", F.lit("1970-01-01").cast("timestamp")
        ).alias("last_signup_ts"),
    )  # no terminal sort: O(n) output, order-insensitive compare


# ----------------------------------------------------------------------
# q28: schema'd JSON extraction — from_json over the props payload
# (the regexp path lives in derive.props_k; this is the typed-schema
# spelling that scales to nested payloads)
# ----------------------------------------------------------------------

def q28_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events", ["event_id", "props", "value"])
    parsed = events.withColumn(
        "k", F.from_json("props", "k INT").getField("k")
    )
    return (
        parsed.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .orderBy("k")
    )


# ----------------------------------------------------------------------
# q29: approximate sketches — the 100 TB substitutes for exact
# distinct/quantiles. Approximation algorithms differ per engine
# (HLL++/KLL vs HLL/t-digest), so this is rows-only; the pytest suite
# bounds the error against the exact answers instead.
# ----------------------------------------------------------------------

def q29_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events", ["event_type", "user_id", "value"])
    return (
        events.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.percentile_approx("value", 0.5).alias("approx_p50"),
        )
        .orderBy("event_type")
    )


# ----------------------------------------------------------------------
# q30: semi/anti joins — EXISTS / NOT EXISTS as native join types
# (Spark plans left_semi/left_anti; no subquery re-execution)
# ----------------------------------------------------------------------

def q30_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer", ["c_custkey"])
    orders = read_table(spark, sf_dir, "orders", ["o_custkey"])
    with_orders = cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("with_orders").alias("cohort"), "n"
    )
    without = cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("without_orders").alias("cohort"), "n"
    )
    return with_orders.unionAll(without).orderBy("cohort")


# ----------------------------------------------------------------------
# q31: window frame specs — centered moving average + lag delta over
# the hourly rollup (frames/lead/lag absent from the reference)
# ----------------------------------------------------------------------

def q31_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window over the AGGREGATED hourly series (≤ 720 rows at any SF):
    the heavy lifting is the partial-agg rollup; the unpartitioned
    window is fine because its input is already tiny (same reasoning
    as the reference's W1)."""
    events = read_table(spark, sf_dir, "events", ["ts"])
    hourly = events.groupBy(
        F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("h")
    return (
        hourly.select(
            "h",
            "cnt",
            F.round(
                F.avg("cnt").over(w.rowsBetween(-1, 1)), 6
            ).alias("moving_avg3"),
            (F.col("cnt") - F.lag("cnt", 1, 0).over(w)).alias("delta_prev"),
        )
        .orderBy("h")
    )


def q87_time_weighted_value(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Time-weighted average (TWA) of `value` per (event_type, day) —
    the irregular-time-series aggregate finance/IoT pipelines need
    where a plain AVG is wrong: each observation is weighted by its
    HOLDING TIME (seconds until the next observation in the same
    series, last-observation-carried-forward), so a reading that held
    for an hour counts 3600x one that was replaced a second later.
    Output sets TWA beside the unweighted mean so the divergence is
    visible.

    Shape: ONE key-partitioned window (event_type x day) ordered by
    (ts, event_id) — the explicit event_id tie-break makes equal-ts
    runs deterministic in BOTH engines (the first of a tie holds for
    0 s, so which one is 'first' matters to the weighted sum); the
    day boundary ends each partition, so the last observation of a
    day carries no weight (its holding period crosses the boundary).
    No global window, no join; output is day-grain. At 100 TB this is
    the same cost as any keyed window: one shuffle on the partition
    key."""
    ev = read_table(
        spark, sf_dir, "events", ["event_id", "event_type", "ts", "value"]
    ).filter(F.col("value").isNotNull())
    w = Window.partitionBy(
        "event_type", F.to_date("ts")
    ).orderBy("ts", "event_id")
    dt = (
        F.unix_micros(F.lead("ts", 1).over(w)) - F.unix_micros("ts")
    ).cast("double") / F.lit(1e6)
    weighted = ev.select(
        "event_type",
        # day as STRING: DATE round-trips as datetime64 through the
        # pandas compare frames, which stringifies differently per
        # engine — the q65-style VARCHAR day is the portable spelling
        F.to_date("ts").cast("string").alias("day"),
        "value",
        dt.alias("dt"),
    ).filter(F.col("dt").isNotNull())
    return (
        weighted.groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.round(
                F.sum(F.col("value") * F.col("dt")) / F.sum("dt"), 6
            ).alias("twa_value"),
            F.round(F.avg("value"), 6).alias("mean_value"),
        )
        .orderBy("event_type", "day")
    )


# ----------------------------------------------------------------------
# q34: the J3 literal shape — top-k FIRST, then LEFT-join a dimension
# that may not cover every key, keeping the null labels (reference
# app.py:161-166: 10-row top-zones merged how="left" with the zone
# lookup; unmatched zone ids keep NaN names). The dim side is filtered
# to one market segment so unmatched keys genuinely occur.
# ----------------------------------------------------------------------

def q34_top_users_labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 users by event count, then left-join customer names
    (BUILDING segment only). The top-k compiles to
    TakeOrderedAndProject BEFORE the join, so the join input is 10
    rows against a broadcast dim — order of operations matters: label
    AFTER ranking, never rank the joined fact."""
    events = read_table(spark, sf_dir, "events", ["user_id"])
    cust = read_table(
        spark, sf_dir, "customer", ["c_custkey", "c_name", "c_mktsegment"]
    )
    top = (
        events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(10)
    )
    labels = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey", F.col("c_name").alias("user_name")
    )
    return (
        top.join(F.broadcast(labels), top.user_id == labels.c_custkey, "left")
        .select("user_id", "n_events", "user_name")  # null names KEPT
        .orderBy(F.desc("n_events"), F.asc("user_id"))
    )


# ----------------------------------------------------------------------
# q35: the P2 literal shape — a derived duration column from TWO
# timestamp columns (reference ipynb:188-189 / app.py:34-37:
# (dropoff - pickup).total_seconds() / 60). Same µs-exact arithmetic
# on the driver schema's timestamp pair (o_orderdate -> l_shipdate).
# ----------------------------------------------------------------------

def q35_ship_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level ship-delay in minutes and days: integer-µs subtraction
    then one double division — identical IEEE trees in both engines, so
    NO rounding (round() itself is the cross-engine hazard on row-level
    doubles). Scale: the lineitem⋈orders equi-join is the one shuffle;
    both sides bucket on orderkey at write time in production."""
    li = read_table(
        spark, sf_dir, "lineitem", ["l_orderkey", "l_linenumber", "l_shipdate"]
    )
    orders = read_table(spark, sf_dir, "orders", ["o_orderkey", "o_orderdate"])
    # parquet scans yield TIMESTAMP_NTZ; unix_micros wants TIMESTAMP —
    # the cast is a wall-clock identity under the pinned-UTC session
    delay_us = F.unix_micros(
        F.col("l_shipdate").cast("timestamp")
    ) - F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            "l_orderkey",
            "l_linenumber",
            (delay_us / F.lit(60_000_000.0)).alias("delay_minutes"),
            (delay_us / F.lit(86_400_000_000.0)).alias("delay_days"),
        )
    )  # no terminal sort: O(n) output, order-insensitive compare


# ----------------------------------------------------------------------
# sim_centroid_assign: nearest-centroid assignment (the IVF building
# block / k-means E-step): fixed seeded centroids, cosine argmax.
# ----------------------------------------------------------------------

_CENTROID_IDS = [0, 100, 200, 300]


def sim_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every embedding to its nearest centroid (cosine, rounded
    6dp, centroid-id tie-break). Centroids broadcast as a 4-row dim;
    the corpus streams through one scan — the IVF index-build shape.
    A k-means iteration = this + groupBy(centroid).avg(embedding)."""
    sims = _centroid_sims(spark, sf_dir)
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("sim"), F.asc("centroid_id")
    )
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "centroid_id", "sim")
    )  # no terminal sort: O(n) output, order-insensitive compare


# ----------------------------------------------------------------------
# q32: collect_set / collect_list aggregates (absent from the
# reference) — serialized to a sorted CSV string so the cross-engine
# value hash sees a scalar, not an engine-specific array object
# ----------------------------------------------------------------------

def q32_collect_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events", ["event_type", "user_id"])
    return (
        events.filter(F.col("user_id") < 20)
        .groupBy("event_type")
        .agg(
            F.concat_ws(
                ",",
                F.slice(F.sort_array(F.collect_set("user_id")), 1, 10),
            ).alias("first_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


# ----------------------------------------------------------------------
# q36: NATIVE session windows — queries.sessions, the engine-owned
# spelling of q16's manual lag+running-sum sessionization and the batch
# twin of every session stream. Session boundary: a gap > 30 min starts
# a new session (session_window merges events exactly 30 min apart);
# window end = last event + gap; null-ts rows are dropped.
# ----------------------------------------------------------------------

def q36_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session rows via the built-in session_window: one shuffle on
    (user_id), merge-sort of session state inside the agg — at 100 TB
    this is the same single-exchange shape as q16 but with the session
    assignment running inside the aggregation operator instead of two
    window passes."""
    from .queries import sessions

    events = read_table(spark, sf_dir, "events", ["user_id", "ts"])
    return (
        sessions(events).select(
            "user_id",
            "session_start",
            F.col("window_end").alias("session_end"),
            "n_events",
        )
    )  # no terminal sort: O(n) output, order-insensitive compare


# ----------------------------------------------------------------------
# q37: RANGE-frame window — value-based frame bounds (q31 covers ROWS
# frames; RANGE frames are the other frame class: "events in the
# preceding hour", a time-decay / fraud-screen primitive). The frame
# excludes the current row and its ties ([v-1h, v-1]).
# ----------------------------------------------------------------------

_HOUR_US = 3_600_000_000


def q37_prior_hour_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event: count + sum(value) of the same user's events in the
    preceding hour. One shuffle on user_id; the range frame is resolved
    by a sliding pointer over the sorted partition (no self-join, no
    bin explode). Sum rounded 6dp: window summation order may differ
    across engines."""
    events = read_table(
        spark, sf_dir, "events", ["event_id", "user_id", "ts", "value"]
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-_HOUR_US, -1)
    )
    return events.select(
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_prior_1h"),
        F.round(F.coalesce(F.sum("value").over(w), F.lit(0.0)), 6).alias(
            "value_prior_1h"
        ),
    )  # no terminal sort: O(n) output, order-insensitive compare


# ----------------------------------------------------------------------
# q38: UNPIVOT — melt the q22 wide heatmap back to long form (the
# inverse reshape; Spark's unpivot/melt API over an explicit column
# list, zero extra shuffles on top of the pivot's agg).
# ----------------------------------------------------------------------

def q38_unpivot_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = q22_heatmap_pivot(spark, sf_dir)
    return (
        wide.unpivot(
            "event_dow",
            [f"h{h}" for h in _PIVOT_HOURS],
            "hour_bucket",
            "cnt",
        )
        .orderBy("event_dow", "hour_bucket")
    )


# ----------------------------------------------------------------------
# q39: interval (range) join — "follow-up orders within 7 days by the
# same customer". Spark has no native range join; the naive spelling
# is an inequality join that plans as BroadcastNestedLoopJoin (O(n·m)
# — a scale-killer). The scale-safe composition: explode the probe
# side's window into DAY BINS and equi-join on (customer, bin), then
# verify the exact range. Fan-out is bounded (window/bin + 1 rows per
# order), candidates are same-customer-adjacent-days only, and the
# join is a plain hash join at any scale.
# ----------------------------------------------------------------------

_DAY_US = 86_400_000_000
_FOLLOWUP_DAYS = 7


def q39_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per order: count of the same customer's orders placed in the
    following 7 days. Each (a, b) candidate matches in exactly ONE bin
    (b's bin is unique and a's exploded bins are distinct), so no
    post-join dedup is needed. Zero-followup orders are kept via a
    left join of the counts back onto orders."""
    orders = read_table(
        spark, sf_dir, "orders", ["o_orderkey", "o_custkey", "o_orderdate"]
    )
    us = F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    win_us = _FOLLOWUP_DAYS * _DAY_US
    a = orders.select(
        F.col("o_orderkey").alias("a_key"),
        F.col("o_custkey").alias("cust"),
        us.alias("a_us"),
    ).withColumn(
        # explode_outer: plain explode would make Catalyst infer a
        # size>0 filter that re-evaluates the sequence() per row just
        # to prove it non-empty (it always is: end >= start). Outer ≡
        # inner here; a null o_orderdate would yield a null bin that
        # matches nothing — same rows either way.
        "bin",
        F.explode_outer(
            F.sequence(
                (F.col("a_us") / _DAY_US).cast("long"),
                ((F.col("a_us") + win_us) / _DAY_US).cast("long"),
            )
        ),
    )
    b = orders.select(
        F.col("o_custkey").alias("cust"),
        us.alias("b_us"),
        (us / _DAY_US).cast("long").alias("bin"),
    )
    counts = (
        a.join(b, ["cust", "bin"])
        .filter(
            (F.col("b_us") > F.col("a_us"))
            & (F.col("b_us") <= F.col("a_us") + win_us)
        )
        .groupBy("a_key")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        orders.select(F.col("o_orderkey"))
        .join(counts, orders.o_orderkey == counts.a_key, "left")
        .select(
            "o_orderkey",
            F.coalesce("n", F.lit(0)).alias("n_followups_7d"),
        )
    )  # no terminal sort: O(n) output, order-insensitive compare


# ----------------------------------------------------------------------
# q40: salted skew join — the standard hot-key mitigation, spelled out
# explicitly (AQE's skew-join handles moderate skew at runtime; salting
# is the deterministic planning-time guarantee for known-skewed keys).
# The fact side salts each row by a DETERMINISTIC hash of its unique
# id; the dim side replicates NSALT-fold; the join key widens to
# (key, salt) so one hot key spreads over NSALT reducers. Results are
# identical to the unsalted join — which is exactly what the DuckDB
# oracle checks.
# ----------------------------------------------------------------------

NSALT = 8


def q40_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events joined to customer over a salted (user_id, salt) key,
    rolled up per market segment. Shuffle cost: dim side grows NSALT×
    (dims are small — that's why salting replicates the DIM, never the
    fact); fact rows hash-spread evenly even if one user dominates."""
    events = read_table(spark, sf_dir, "events", ["event_id", "user_id"])
    cust = read_table(spark, sf_dir, "customer", ["c_custkey", "c_mktsegment"])
    salted_ev = events.withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(NSALT)).cast("int")
    )
    salted_cust = cust.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(NSALT)]))
    )
    return (
        salted_ev.join(
            salted_cust,
            (salted_ev.user_id == salted_cust.c_custkey)
            & (salted_ev.salt == salted_cust.salt),
        )
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("c_mktsegment")
    )


# ----------------------------------------------------------------------
# q41: CDC / upsert compaction — last-write-wins state table. The
# standard incremental-ingest op: an append-only change stream keyed by
# entity collapses to "latest row per key" (SCD type 1 / Kafka
# compacted-topic semantics). Spark-first spelling: ONE hash shuffle on
# the key feeding a row_number window; ties broken by the unique
# event_id so the result is deterministic on any engine. At 100 TB the
# shuffle is the unavoidable cost and it's linear; no join, no
# collect. (A real MERGE INTO target needs a table format — Delta/
# Iceberg — but the compaction operator itself is format-neutral.)
# ----------------------------------------------------------------------

def q41_latest_event_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest event per user: the compacted state of the events change
    stream (value + type at last touch, plus per-user change count)."""
    ev = read_table(
        spark, sf_dir, "events",
        ["event_id", "ts", "user_id", "event_type", "value"],
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_changes", F.count(F.lit(1)).over(Window.partitionBy("user_id"))
        )
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_type"),
            F.col("value").alias("last_value"),
            "n_changes",
        )
    )  # no terminal sort: O(n) output, order-insensitive compare


# ----------------------------------------------------------------------
# sim_ivf_topk: IVF ANN with a TRAINED coarse quantizer — seeded
# k-means (Lloyd) learns IVF_K centroids, corpus vectors land in their
# nearest centroid's inverted list, queries probe their IVF_NPROBE
# nearest lists. With sim_centroid_assign as the oracle-backed E-step
# demo, this is the second of the two scale paths ("IVF or LSH").
# ----------------------------------------------------------------------

IVF_K = 16
IVF_ITERS = 3
IVF_NPROBE = 4


def _unit(vec: list[float]) -> list[float]:
    import math

    nrm = math.sqrt(sum(x * x for x in vec)) or 1.0
    return [x / nrm for x in vec]


def _centroid_sim_structs(centroids: list[tuple[int, list[float]]]):
    """Array of (dot(e, unit_centroid), -centroid_id) structs over a
    bound `ev` column. Centroids are UNIT vectors baked in as literals,
    so argmax(dot) == argmax(cosine) without computing |e| — the query
    vector's own norm is constant across centroids.

    Plan shape: ONE zip_with over two literals (the k×dim centroid
    matrix and the k ncid ints) instead of k separate
    struct(CreateArray(dim lits) + fold) trees — the similarity
    family's lit_matrix plan-size discipline (Catalyst planning of the
    wide form dominated every per-call cost; OPTIMIZATION_r16.md).
    Same left-fold dot in the same centroid order ⇒ bit-identical
    sims, identical (sim, ncid) lexicographic argmax."""
    from .extras.similarity import _dot, lit_matrix

    vecs = lit_matrix([vec for _, vec in centroids])
    ncids = F.lit([-int(cid) for cid, _ in centroids])
    return F.zip_with(
        vecs,
        ncids,
        lambda c, n: F.struct(
            _dot(F.col("ev"), c).alias("sim"), n.alias("ncid")
        ),
    )


def nearest_centroid(centroids: list[tuple[int, list[float]]]):
    """centroid_id of the centroid nearest the bound `ev` column: the
    argmax of _centroid_sim_structs, so an exact tie goes to the lowest
    id. The one assignment rule of the IVF index — the k-means E-step,
    the persisted inverted lists (ann_disk_index) and the streaming
    segments (streaming.ivf_assign_stream) all assign through it."""
    return -F.array_max(_centroid_sim_structs(centroids)).getField("ncid")


def train_centroids(
    spark: SparkSession,
    sf_dir: str,
    k: int = IVF_K,
    iters: int = IVF_ITERS,
) -> list[tuple[int, list[float]]]:
    """Spherical k-means index training, the IVF build step:

      init    — the corpus rows at k evenly-spaced POSITIONS
                (deterministic for a fixed corpus; a seeded sample
                adds nothing here)
      E-step  — argmax-cosine assignment with centroids baked into the
                plan as literals (k×dim doubles — no broadcast var, no
                shuffle of the corpus)
      M-step  — dim per-dimension (SUM, non-null COUNT) pairs in ONE
                grouped agg keyed by centroid alone (k rows × 2·dim
                cells cross the exchange), then mean + re-normalize
                driver-side

    The driver holds only k×dim doubles between iterations — the
    classic iterative-algorithm shape where per-round state is tiny
    but the assignment pass is corpus-sized and fully distributed.
    Genuinely iterative => not SQL-expressible; consumers are checked
    by recall pytest instead of the DuckDB oracle.

    M-step shape (r17, VERDICT r16 ask #3 / guide §2.3): the previous
    spelling posexploded every vector into dim (centroid, pos, value)
    rows — a dim× row fan-out through the hash aggregate and a
    k·dim-key shuffle — to compute exactly these sums.  The per-dim
    sum columns aggregate the SAME values in the SAME row order per
    map task (codegen'd element_at instead of an exploded row per
    dim) and the partial merge walks map outputs in the same mapId
    order, so the trained centroids are BIT-IDENTICAL (measured:
    max drift 0.0 at sf0.1 across all k×dim values; the serving
    snapshot suite re-confirms downstream).  avg() was sum/count
    internally; the explicit sum/count division is the same IEEE op
    on the same operands.

    Init reads: n and the k seed rows come straight off the parquet
    footer / row groups via pyarrow — row count from file metadata and
    a positional take that decodes only the row groups holding the
    seeds — instead of Spark actions whose only purpose is k rows of
    driver state.  Seeds are picked by row position, not by vec_id
    value: ids need not be 0..n-1 (an offset or sparse id range would
    otherwise match fewer than k rows, or none).  The corpus-sized
    E/M work stays fully distributed."""
    import pyarrow.dataset as _pads

    data = _pads.dataset(
        os.path.join(sf_dir, "embeddings.parquet"), format="parquet"
    )
    # footer metadata only — no data read for the count
    n = data.count_rows()
    positions = sorted({int(i * n / k) for i in range(k)})
    seeds = data.take(positions, columns=["embedding"]).column("embedding")
    centroids = [
        (cid, _unit([float(x) for x in vec]))
        for cid, vec in enumerate(seeds.to_pylist())
    ]
    emb = read_table(spark, sf_dir, "embeddings", ["vec_id", "embedding"])
    dim = len(centroids[0][1])
    bound = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("ev")
    )
    # ONE parsed expression for the dim per-dim (sum, non-null count)
    # pairs (an array of aggregates), not 2·dim separate Column builds —
    # the same py4j per-element discipline as lit_matrix, ~0.4
    # s/iteration of driver-side construction at dim=64. Each mean
    # divides by its own dimension's non-null count, so a null element
    # is skipped, not averaged in as zero; with no nulls that count is
    # the member count and the means are the same doubles.
    sum_arr = F.expr(
        "array("
        + ",".join(
            f"named_struct('s', sum(element_at(ev, {p + 1})),"
            f" 'n', count(element_at(ev, {p + 1})))"
            for p in range(dim)
        )
        + ")"
    ).alias("s")
    for _ in range(iters):
        assigned = bound.select(
            "ev", nearest_centroid(centroids).alias("centroid_id")
        )
        sums = assigned.groupBy("centroid_id").agg(sum_arr).collect()
        centroids = [
            (
                int(r["centroid_id"]),
                _unit([d["s"] / d["n"] if d["n"] else 0.0 for d in r["s"]]),
            )
            for r in sorted(sums, key=lambda r: r["centroid_id"])
        ]
    return centroids


def ivf_index(spark: SparkSession, sf_dir: str):
    """The IVF BUILD step as a first-class, once-per-corpus artifact:
    train the spherical k-means centroids once per corpus version
    (io.memo_artifact) — exactly how a serving system treats an index
    (built offline, loaded once, queried many times). Cached driver
    state is k×dim doubles — the trained index IS that small; the
    corpus-sized work all happened distributed inside
    train_centroids."""
    return memo_artifact(
        spark, sf_dir, "ivf_index", ("embeddings",),
        lambda: train_centroids(spark, sf_dir),
    )


def ann_disk_index(spark: SparkSession, sf_dir: str):
    """The ON-DISK half of the ANN index: the per-vector IVF inverted-
    list assignment, the PQ codes and the random projections, persisted
    as parquet under spark-warehouse/ann_index/ once per embeddings
    version (io.materialize_artifact). A serving system NEVER re-derives
    these at query time — they ARE the index: corpus vectors are read
    once at build, queries then touch only the assignment (for probe
    pruning), the 16x-smaller codes (for ADC), the projections (for
    RP), and the handful of query vectors. Returns (assign_df,
    codes_df, proj_df)."""
    from .extras.similarity import pq_codes, rp_project

    def build() -> dict[str, DataFrame]:
        centroids = ivf_index(spark, sf_dir)
        emb = read_table(
            spark, sf_dir, "embeddings", ["vec_id", "embedding"]
        )
        assign = emb.select(
            F.col("vec_id").alias("c_id"),
            F.col("embedding").cast("array<double>").alias("ev"),
        ).select("c_id", nearest_centroid(centroids).alias("centroid_id"))
        codes = pq_codes(spark, sf_dir).withColumnRenamed("vec_id", "c_id")
        return {"ivf_assign": assign, "pq_codes": codes,
                "rp_proj": rp_project(emb)}

    index = materialize_artifact(
        spark, sf_dir, "ann_index", ("embeddings",), build
    )
    return index["ivf_assign"], index["pq_codes"], index["rp_proj"]


def _ivf_candidates(spark: SparkSession, sf_dir: str,
                    assign: DataFrame) -> DataFrame:
    """(q_id, c_id): every corpus vector in one of the IVF_NPROBE
    inverted lists nearest each query vector — the probe both IVF
    families serve from. Centroids come from ivf_index and the lists
    from the persisted assignment `assign`; only the N_QUERIES query
    vectors are read from the corpus. The query side sorts its
    (sim, -centroid_id) structs desc, slices and explodes — row-local,
    no window needed."""
    from .extras.similarity import N_QUERIES

    probe = F.slice(
        F.sort_array(
            _centroid_sim_structs(ivf_index(spark, sf_dir)), asc=False
        ),
        1, IVF_NPROBE,
    )
    q_probe = (
        read_table(spark, sf_dir, "embeddings", ["vec_id", "embedding"])
        .filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").cast("array<double>").alias("ev"),
        )
        .select("q_id", F.explode(probe).alias("cand"))
        .select("q_id", (-F.col("cand").getField("ncid")).alias("centroid_id"))
    )
    return (
        q_probe.join(assign, "centroid_id")
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id")
        .distinct()
    )


def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search over the TRAINED index: corpus vectors live in their
    top-1 learned inverted list; queries probe their IVF_NPROBE nearest
    lists (~nprobe/k of the corpus) and brute-force only there. Recall
    < 1 when a true neighbor lives across a centroid boundary — nprobe
    is the standard knob. Rows-only: approximate + iterative by design;
    the pytest suite measures recall against the exact brute force.

    Serving only: the centroids come from ivf_index and the inverted
    lists from ann_disk_index, both built once per corpus version, so
    the first call of a corpus pays the build and every later call
    touches the query vectors, the assignment parquet and the
    candidate vectors. Registered under sim_ivf_topk_pretrained too."""
    from .extras.similarity import _dot, cosine, top_k

    assign, _, _ = ann_disk_index(spark, sf_dir)
    vecs = read_table(
        spark, sf_dir, "embeddings", ["vec_id", "embedding"]
    ).select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    qv = vecs.select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"))
    cv = vecs.select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv"))
    q, c = F.col("qv"), F.col("cv")
    scored = (
        _ivf_candidates(spark, sf_dir, assign)
        .join(F.broadcast(qv), "q_id")
        .join(cv, "c_id")
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            cosine(q, c, F.sqrt(_dot(q, q)), F.sqrt(_dot(c, c))).alias("sim"),
        )
    )
    return top_k(scored, F.desc("sim")).orderBy("query_id", "rank")


def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: the canonical billion-scale ANN serving architecture in
    one plan — a TRAINED coarse quantizer (spherical k-means, k=16)
    prunes the corpus to the query's IVF_NPROBE inverted lists, then
    PQ-ADC scores ONLY those candidates from their 4-int codes via
    per-query lookup tables. At scale the two stages compound: probe
    cuts candidates ~nprobe/k, PQ cuts bytes-per-candidate 16×, so the
    scored working set is ~1% of a brute-force scan's traffic.

    Serving only: the coarse centroids come from ivf_index, the
    inverted lists and the codes from the persisted disk index
    (ann_disk_index) and the PQ codebook from similarity._pq_codebook,
    all built once per corpus version — corpus embeddings are never
    read at query time (only the N_QUERIES query vectors; the filter
    is pushed to the scan). Registered under sim_ivfpq_topk_pretrained
    too.

    Rows-only by design (trained + doubly approximate); recall vs the
    exact brute force is bounded in tests/test_extras.py, and each
    stage's exactness is separately certified: the PQ encode/ADC
    arithmetic by the sim_pq_* oracle rows, the probe assignment by
    sim_centroid_assign."""
    from .extras.similarity import (
        N_QUERIES,
        PQ_BLOCKS,
        _pq_codebook,
        _pq_unit_vectors,
        _pq_with_dls,
        top_k,
    )

    assign, codes, _ = ann_disk_index(spark, sf_dir)
    # query-side LUT frame is N_QUERIES rows: filter BEFORE the
    # unit/dls expressions so the scan prunes to the query vectors
    queries = read_table(
        spark, sf_dir, "embeddings", ["vec_id", "embedding"]
    ).filter(F.col("vec_id") < N_QUERIES)
    luts = _pq_with_dls(
        _pq_unit_vectors(queries), _pq_codebook(spark, sf_dir)
    ).select(
        F.col("vec_id").alias("q_id"),
        *[F.col(f"dl_{b}").alias(f"lut_{b}") for b in range(PQ_BLOCKS)],
    )
    score = F.element_at("lut_0", F.col("code_0") + 1)
    for b in range(1, PQ_BLOCKS):
        score = score + F.element_at(f"lut_{b}", F.col(f"code_{b}") + 1)
    scored = (
        _ivf_candidates(spark, sf_dir, assign)
        .join(codes, "c_id")
        .join(F.broadcast(luts), "q_id")
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            score.alias("adc"),
        )
    )
    return (
        top_k(scored, F.asc("adc"))
        .select(
            "query_id",
            "neighbor_id",
            F.round("adc", 6).alias("adc_score"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


# serving-path recall floors, asserted ENGINE-SIDE (see the guard
# queries below): the pytest floors promoted into the query plan so a
# recall regression fails the driver row itself, not just local CI.
# Values match tests/test_extras.py's measured envelopes on the
# adversarial near-uniform synthetic corpus (IVF nprobe/k=1/4 measured
# ≈0.54-0.66; IVF×PQ composed measured ≈0.24-0.28).
IVF_RECALL_FLOOR = 0.30
IVFPQ_RECALL_FLOOR = 0.12


def _recall_guard(
    spark: SparkSession,
    sf_dir: str,
    approx: DataFrame,
    floor: float,
    path: str,
) -> DataFrame:
    """One-row recall@k readout of an approximate serving path vs the
    exact brute force, with the floor ASSERTED INSIDE THE PLAN:
    `passed` is assert_true(recall >= floor) IS NULL, so a recall
    regression turns the driver's rows-only green row into a hard
    query error instead of silently shipping a degraded index. The
    exact side is the N_QUERIES×TOP_K brute-force frame (queries
    broadcast, one corpus pass); the hit join is queries×k rows."""
    from .extras.similarity import cosine_topk

    ex = cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    ap = approx.select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    folded = (
        ex.join(ap, ["query_id", "neighbor_id"], "left")
        .agg(
            F.countDistinct("query_id").alias("n_queries"),
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_hits"),
        )
    )
    recall = F.col("n_hits") / F.col("n_exact")
    return folded.select(
        F.lit(path).alias("path"),
        "n_queries",
        "n_exact",
        F.col("n_hits").cast("bigint").alias("n_hits"),
        F.round(recall, 4).alias("recall_at_k"),
        F.lit(floor).alias("floor"),
        F.assert_true(
            recall >= F.lit(floor),
            F.concat(
                F.lit(f"{path} recall regression: "),
                F.round(recall, 4).cast("string"),
                F.lit(f" < floor {floor}"),
            ),
        ).isNull().alias("passed"),
    )


def sim_ivf_recall_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall floor for the IVF serving path (the index a production
    rollout would actually query), checked by the engine
    itself — rows-only driver entry whose single green row encodes
    recall_at_k >= floor (a regression raises in-plan, see
    _recall_guard)."""
    return _recall_guard(
        spark, sf_dir,
        sim_ivf_topk(spark, sf_dir),
        IVF_RECALL_FLOOR, "ivf_pretrained",
    )


def sim_ivfpq_recall_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall floor for the IVF-PQ serving path — same
    engine-side assertion contract as sim_ivf_recall_guard, at the
    composed (coarse probe × ADC) stack's measured envelope."""
    return _recall_guard(
        spark, sf_dir,
        sim_ivfpq_topk(spark, sf_dir),
        IVFPQ_RECALL_FLOOR, "ivfpq_pretrained",
    )


def _centroid_sims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, centroid_id, sim) for all vector×centroid pairs —
    shared by assignment (argmax) and multiprobe (top-nprobe)."""
    from .extras.similarity import _dot, cosine

    emb = read_table(spark, sf_dir, "embeddings", ["vec_id", "embedding"])
    e = F.col("embedding").cast("array<double>")
    v, c = F.col("ev"), F.col("cv")
    cents = emb.filter(F.col("vec_id").isin(_CENTROID_IDS)).select(
        F.col("vec_id").alias("centroid_id"), e.alias("cv")
    )
    vecs = emb.select("vec_id", e.alias("ev"))
    return vecs.join(F.broadcast(cents)).select(
        "vec_id", "centroid_id",
        cosine(v, c, F.sqrt(_dot(v, v)), F.sqrt(_dot(c, c))).alias("sim"),
    )


# ----------------------------------------------------------------------
# q42: continuous-aggregate hierarchy — daily served FROM the hourly
# rollup (the hypertable/materialized-rollup pattern)
# ----------------------------------------------------------------------

def q42_daily_from_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level rollup: hourly first, daily AS AN AGGREGATE OF HOURLY
    (sum of partial counts/sums, not a rescan) — the continuous-
    aggregate pattern behind every time-series store: at 100 TB the
    hourly rollup is materialized once (a few MB/day) and every
    coarser resolution — daily, weekly, monthly — is served from it
    for ~zero cost instead of rescanning raw events. COUNT composes as
    SUM of partial counts; SUM as SUM of partial sums (both
    decomposable aggregates — the same property salted_group_agg
    exploits). value_sum rounded 4dp: re-aggregating partials changes
    the summation order, the one case the rounding policy exists for.
    Shuffles: one on (date,hour) over events; the second groupBy runs
    over the already-tiny hourly frame."""
    ev = read_table(spark, sf_dir, "events", ["ts", "value"])
    hourly = ev.groupBy(
        F.to_date("ts").cast("string").alias("event_date"),
        F.hour("ts").alias("event_hour"),
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("value").alias("vsum"),
    )
    return (
        hourly.groupBy("event_date")
        .agg(
            F.sum("cnt").alias("event_cnt"),
            F.round(F.sum("vsum"), 4).alias("value_sum"),
            F.count(F.lit(1)).alias("active_hours"),
        )
        .orderBy("event_date")
    )


# ----------------------------------------------------------------------
# q43: full-outer reconciliation — the one join type the surface did
# not yet cover, in its canonical use (comparing two rollups)
# ----------------------------------------------------------------------

def q43_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconcile two independent daily rollups (events vs orders) with
    a FULL OUTER join: days present on either side survive, absent
    sides read as 0 with a presence label. The standard data-quality
    cross-check between two pipelines. Both inputs aggregate BEFORE
    the join (day-grain frames), so the full-outer join is tiny
    regardless of fact size — the scale rule for reconciliation:
    never full-outer-join raw facts."""
    ev = read_table(spark, sf_dir, "events", ["ts"])
    orders = read_table(spark, sf_dir, "orders", ["o_orderdate"])
    ev_daily = ev.groupBy(F.to_date("ts").cast("string").alias("day")).agg(
        F.count(F.lit(1)).alias("e_cnt")
    )
    ord_daily = orders.groupBy(
        F.to_date("o_orderdate").cast("string").alias("day")
    ).agg(F.count(F.lit(1)).alias("o_cnt"))
    joined = ev_daily.join(ord_daily, "day", "full_outer")
    return joined.select(
        "day",
        F.coalesce("e_cnt", F.lit(0)).alias("event_cnt"),
        F.coalesce("o_cnt", F.lit(0)).alias("order_cnt"),
        F.when(F.col("e_cnt").isNull(), "orders_only")
        .when(F.col("o_cnt").isNull(), "events_only")
        .otherwise("both")
        .alias("presence"),
    ).orderBy("day")


# ----------------------------------------------------------------------
# q44: grouped model fitting with built-in regression aggregates —
# per-user value trend (slope/intercept over time)
# ----------------------------------------------------------------------

def q44_user_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares fit with BUILT-IN aggregates
    (regr_slope/regr_intercept) — grouped model fitting without any
    Python: one shuffle on user_id, co-moments accumulate map-side
    like any decomposable aggregate, so it scales exactly like a
    group-sum. x = days since epoch (keeps slopes O(1)). Rounded 6dp:
    co-moment merge order differs across engines/partitionings — the
    aggregate-rounding case of the parity policy."""
    ev = read_table(spark, sf_dir, "events", ["user_id", "ts", "value"])
    x = (F.unix_micros("ts").cast("double") / F.lit(86400000000.0)).alias("x")
    return (
        ev.select("user_id", x, "value")
        .groupBy("user_id")
        .agg(
            F.round(F.expr("regr_slope(value, x)"), 6).alias("slope"),
            F.round(F.expr("regr_intercept(value, x)"), 6).alias(
                "intercept"
            ),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


# ----------------------------------------------------------------------
# q45: cohort retention — the canonical product-analytics triangle
# ----------------------------------------------------------------------

def q45_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users are cohorted by their first
    active week; each later active week increments that cohort's
    retention count at offset (week - cohort_week)/7. The classic
    retention-triangle query every analytics dashboard grows into.

    Shape: events collapse to (user, week) activity grain FIRST (one
    shuffle; this is the only stage that sees fact-sized data), the
    cohort week is a min-window over the user's activity rows (one
    user_id exchange over user-week-grain data), and the final
    (cohort, offset) rollup is tiny. Activity rows are unique per
    (user, week), so count(*) == distinct users per cell — no
    count-distinct needed. Week buckets via date_trunc('week') —
    Monday-based in both engines; emitted as strings (DATE rendering
    differs across engines, memory rule)."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events", ["user_id", "ts"])
    uw = (
        ev.select(
            "user_id",
            F.to_date(F.date_trunc("week", "ts")).alias("week"),
        )
        .groupBy("user_id", "week")
        .agg(F.count(F.lit(1)).alias("n_ev"))
    )
    w = Window.partitionBy("user_id")
    cohorted = uw.withColumn("cohort_week", F.min("week").over(w))
    return (
        cohorted.groupBy(
            F.col("cohort_week").cast("string").alias("cohort_week"),
            (F.datediff("week", "cohort_week") / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


# ----------------------------------------------------------------------
# q46: per-group z-score anomaly detection
# ----------------------------------------------------------------------

Z_THRESHOLD = 3.0


def q46_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical outlier flagging: events whose value sits more than
    Z_THRESHOLD sample standard deviations from their event_type's
    mean. The standard data-quality monitor for a metrics stream.

    Shape: per-type mean/stddev is a tiny decomposable agg (map-side
    partials, one shuffle on event_type), broadcast back onto the fact
    scan — the fact table never shuffles. Parity: mu/sigma are
    aggregates (summation order differs across engines), so THEY are
    rounded 6dp; z is then an identical IEEE expression tree on
    identical rounded inputs — bit-identical in both engines with no
    row-level rounding, and the threshold filter cannot flip (memory
    rule: round aggregates, never row-level derivations)."""
    ev = read_table(spark, sf_dir, "events",
                    ["event_id", "event_type", "value"])
    stats = ev.groupBy("event_type").agg(
        F.round(F.avg("value"), 6).alias("mu"),
        F.round(F.stddev_samp("value"), 6).alias("sigma"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) >= Z_THRESHOLD)
        .select("event_id", "event_type", "value", "z")
        .orderBy("event_id")
    )


# ----------------------------------------------------------------------
# q47: SCD type-2 history build — change-detection windows
# ----------------------------------------------------------------------

# open-ended validity sentinel (standard SCD2 practice, and it keeps
# nulls out of hashed timestamp outputs — cross-engine NaT trap).
# NOT 9999-12-31: pandas/Arrow ns timestamps overflow past 2262, and
# result frames cross that boundary in every comparison harness.
SCD2_OPEN_END = "2200-01-01"


def q47_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build from an event stream:
    collapse each user's event sequence into validity intervals of
    their current event_type 'state' — a row per state CHANGE with
    [valid_from, valid_to) and an is_current flag. The standard
    warehouse history-table derivation.

    Shape: lag() detects changes, lead() closes intervals — BOTH
    windows share one (user_id) partitioning ordered by (ts,
    event_id), so the whole derivation costs ONE fact shuffle; the
    change filter runs between the two window passes and shrinks the
    lead input to change rows only. Deterministic under ts ties via
    the event_id tiebreak."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events",
                    ["event_id", "user_id", "ts", "event_type"])
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = ev.withColumn(
        "prev_type", F.lag("event_type").over(w)
    ).filter(
        F.col("prev_type").isNull()
        | (F.col("prev_type") != F.col("event_type"))
    )
    valid_to = F.coalesce(
        F.lead("ts").over(w), F.lit(SCD2_OPEN_END).cast("timestamp")
    )
    return (
        changed.withColumn("valid_to", valid_to)
        .select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"),
            "valid_to",
            (F.col("valid_to") == F.lit(SCD2_OPEN_END).cast("timestamp"))
            .alias("is_current"),
        )
        .orderBy("user_id", "valid_from")
    )


# ----------------------------------------------------------------------
# q48: funnel step conversion — ordered-step product analytics
# ----------------------------------------------------------------------

FUNNEL_STEPS = ["view", "click", "purchase"]


def q48_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion over ordered steps (view -> click ->
    purchase): a user converts at step k iff their FIRST occurrence of
    each step is in non-decreasing time order up to k. Output: one row
    per step with users reaching it and conversion vs step 1.

    Shape: the fact collapses to per-user first-touch timestamps in
    ONE conditional-min aggregation (min(when(type=s, ts)) per step —
    the A4/A5 conditional-agg idiom, map-side partial), then a tiny
    step-count rollup; the unpivot to step rows is a literal stack
    over one 1-row frame. One fact shuffle on user_id, nothing else.
    Conversion pct rounded 6dp (ratio of counts — aggregate-derived)."""
    ev = read_table(spark, sf_dir, "events", ["user_id", "ts", "event_type"])
    firsts = ev.groupBy("user_id").agg(
        *[
            F.min(F.when(F.col("event_type") == s, F.col("ts"))).alias(
                f"t_{i}"
            )
            for i, s in enumerate(FUNNEL_STEPS)
        ]
    )
    # reached_k: every step up to k seen, in order
    reach = None
    reach_cols = []
    for i in range(len(FUNNEL_STEPS)):
        ok = F.col(f"t_{i}").isNotNull()
        if i > 0:
            ok = ok & (F.col(f"t_{i}") >= F.col(f"t_{i-1}"))
        reach = ok if reach is None else (reach & ok)
        reach_cols.append(
            F.sum(reach.cast("long")).alias(f"n_{i}")
        )
    counts = firsts.agg(*reach_cols)
    stack_args = ", ".join(
        f"{i}, '{s}', n_{i}" for i, s in enumerate(FUNNEL_STEPS)
    )
    return (
        counts.selectExpr(
            f"stack({len(FUNNEL_STEPS)}, {stack_args})"
            " AS (step_idx, step, n_users)",
            "n_0 AS n_first",
        )
        .select(
            "step_idx",
            "step",
            "n_users",
            F.round(
                F.col("n_users").cast("double") / F.col("n_first"), 6
            ).alias("conversion"),
        )
        .orderBy("step_idx")
    )


# ----------------------------------------------------------------------
# q49: entity resolution via blocked fuzzy join (built-in levenshtein)
# ----------------------------------------------------------------------

FUZZY_MAX_DIST = 3


def q49_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching on part names: pairs whose edit distance
    is in [1, FUZZY_MAX_DIST] — near-but-not-identical names, the core
    of dedup/entity-resolution over dirty catalogs. Built-in
    F.levenshtein (SURVEY §2.12's preferred built-in), never a UDF.

    Scale shape — BLOCKED, not all-pairs: candidates must share a
    blocking key (first name token), so the self-join fans out only
    within blocks (the same candidate-generation discipline as LSH
    banding; at 100 TB the blocking key becomes phonetic/sorted-
    neighborhood keys, same plan). Levenshtein runs on candidates
    only. Deterministic top-k via (distance, key, key) ordering."""
    part = read_table(spark, sf_dir, "part", ["p_partkey", "p_name"])
    blocked = part.selectExpr(
        "p_partkey", "p_name", "split_part(p_name, ' ', 1) AS blk"
    )
    a = blocked.selectExpr(
        "blk", "p_partkey AS key_a", "p_name AS name_a"
    )
    b = blocked.selectExpr(
        "blk", "p_partkey AS key_b", "p_name AS name_b"
    )
    lev = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, "blk")
        .filter(F.col("key_a") < F.col("key_b"))
        .withColumn("edit_dist", lev)
        .filter(
            (F.col("edit_dist") >= 1)
            & (F.col("edit_dist") <= FUZZY_MAX_DIST)
        )
        .select("key_a", "name_a", "key_b", "name_b", "edit_dist")
        .orderBy("edit_dist", "key_a", "key_b")
        .limit(20)
    )


# ----------------------------------------------------------------------
# q50: equi-depth bucketing — ntile semantics without a global sort
# ----------------------------------------------------------------------

def q50_equidepth_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile (equi-depth) bucket assignment per event_type: the
    ntile(4) answer computed scale-safely. A literal ntile() window
    needs a TOTAL ORDER per partition — at 100 TB that is a full sort
    of the fact; here the cutpoints (exact interpolated quartiles, a
    decomposable-enough two-pass agg) are computed on a tiny per-type
    frame and BROADCAST back, so the fact is scanned twice but never
    sorted and never shuffled. Same cutpoint-vs-sort trade every
    warehouse makes for histogram/decile features. avg rounded 6dp
    (aggregate); bucket edges compare exactly (both engines interpolate
    quantiles with the same IEEE arithmetic — proven by q23)."""
    ev = read_table(spark, sf_dir, "events", ["event_type", "value"])
    cuts = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25)").alias("c1"),
        F.expr("percentile(value, 0.5)").alias("c2"),
        F.expr("percentile(value, 0.75)").alias("c3"),
    )
    bucket = (
        F.when(F.col("value") <= F.col("c1"), 0)
        .when(F.col("value") <= F.col("c2"), 1)
        .when(F.col("value") <= F.col("c3"), 2)
        .otherwise(3)
    )
    return (
        ev.join(F.broadcast(cuts), "event_type")
        .withColumn("bucket", bucket)
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .orderBy("event_type", "bucket")
    )


# ----------------------------------------------------------------------
# q51: weighted PageRank on the nation trade graph — iterative algorithm
# as a driver-side loop of broadcast joins (the centrality complement to
# dedup_neardup_groups' connected components)
# ----------------------------------------------------------------------

PR_DAMPING = 0.85
PR_ITERS = 3
_N_NATIONS = 25  # TPC-H nation is fixed at 25 rows at every SF


def q51_nation_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (damping 0.85, PR_ITERS fixed iterations) over
    the supplier-nation -> customer-nation trade graph: which nations
    sit at the center of the trade network. Fixed iteration count keeps
    it deterministic, hence fully oracle-backed (the DuckDB twin
    unrolls the same iterations as chained CTEs).

    Scale shape: the fact-sized work is ONE edge aggregation (the q5
    join tree collapsed to a 25×25 edge list); every iteration then
    operates on node/edge-sized frames — contributions = edges ⋈ ranks
    (broadcast, node-grain), one tiny groupBy per round. At web-graph
    scale the same loop runs with hash-partitioned edges co-located
    across rounds and localCheckpoint lineage truncation, exactly as
    dedup_neardup_groups demonstrates; dangling-node mass is dropped
    (standard simplification, mirrored in the oracle). Final scores
    rounded 6dp (sums of per-edge doubles — aggregate rounding)."""
    li = read_table(spark, sf_dir, "lineitem", ["l_orderkey", "l_suppkey"])
    orders = read_table(spark, sf_dir, "orders", ["o_orderkey", "o_custkey"])
    cust = read_table(spark, sf_dir, "customer", ["c_custkey", "c_nationkey"])
    supp = read_table(spark, sf_dir, "supplier", ["s_suppkey", "s_nationkey"])
    nation = read_table(spark, sf_dir, "nation", ["n_nationkey", "n_name"])
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("out_w"))
    norm = (
        edges.join(F.broadcast(outw), "src")
        .select(
            "src", "dst",
            (F.col("w").cast("double") / F.col("out_w")).alias("p"),
        )
        .localCheckpoint()  # a plan-keyed cache would outlive a rewrite
    )
    nodes = nation.select(F.col("n_nationkey").alias("node"), "n_name")
    n = _N_NATIONS
    base = (1.0 - PR_DAMPING) / n
    ranks = nodes.select("node").withColumn("pr", F.lit(1.0 / n))
    for _ in range(PR_ITERS):
        # ranks/contrib are node-grain (25 rows): broadcast them so
        # every iteration is exchange-free on the edge side (without
        # the hint, statless tiny frames plan as SortMergeJoins and
        # the unrolled loop accumulates 20+ exchanges)
        contrib = (
            norm.join(
                F.broadcast(ranks.withColumnRenamed("node", "src")), "src"
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("p") * F.col("pr")).alias("m"))
        )
        ranks = (
            nodes.select("node")
            .join(F.broadcast(contrib), "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(PR_DAMPING) * F.coalesce("m", F.lit(0.0))
                ).alias("pr"),
            )
        )
    return (
        ranks.join(F.broadcast(nodes), "node")
        .select(
            F.col("n_name").alias("nation"),
            F.round("pr", 6).alias("pagerank"),
        )
        .orderBy(F.desc("pagerank"), "nation")
    )


# ----------------------------------------------------------------------
# q52: time-series gap fill — spine densification with zero-fill and
# forward-fill (the hypertable/continuous-aggregate companion to q42)
# ----------------------------------------------------------------------

def q52_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly series per event_type over the full [min, max] hour
    spine: missing (type, hour) cells appear as rows with n_events=0,
    is_gap=true, and avg_value forward-filled from the last observed
    hour (F.last ignorenulls over an explicit ROWS frame — the standard
    LOCF spelling; leading gaps stay null).

    Scale shape: the only fact-sized work is the hourly rollup (ONE
    shuffle, map-side partial counts). The spine is dims × hours —
    cardinality-sized, not fact-sized (720 hours × 5 types here; even
    10 years × 1M series is ~1e11 CELLS only if you materialize every
    series, which this plan never does globally: the window and join
    both partition by series key, so each series' spine streams through
    one task). The left join is rollup-sized ⋈ spine-sized — both tiny
    relative to the fact at any SF."""
    ev = read_table(spark, sf_dir, "events", ["event_type", "ts", "value"])
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    spine_h = bounds.select(
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hr")
    )
    types = ev.select("event_type").distinct()
    spine = types.crossJoin(spine_h)
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(hourly, ["event_type", "hr"], "left")
        .select(
            "event_type",
            "hr",
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.last("avg_value", ignorenulls=True).over(w).alias(
                "avg_value_ffill"
            ),
            F.col("n").isNull().alias("is_gap"),
        )
        .orderBy("event_type", "hr")
    )


# ----------------------------------------------------------------------
# q53: incremental rollup maintenance — merge of partial aggregates
# (late-data / IVM story: yesterday's materialized rollup + today's
# delta re-aggregate WITHOUT rescanning history)
# ----------------------------------------------------------------------

def q53_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily rollup maintained INCREMENTALLY: a base rollup (the 80% of
    events already materialized — here event_id % 5 != 0) merged with a
    late-arriving delta rollup (event_id % 5 == 0, overlapping the same
    days) by re-aggregating partial (count, sum) pairs. This is the
    incremental-view-maintenance contract: merge(partial(A), partial(B))
    == full(A ∪ B), which holds exactly because count/sum are
    decomposable; avg is derived AFTER the merge, never averaged.

    Scale: the base side is rollup-sized (days × types, not fact-sized)
    — in production it is read back from the materialized store, so
    only the delta partition rescans raw data. The merge groupBy
    shuffles rollup-sized rows only. The DuckDB oracle computes the
    FULL rollup directly, proving the merge identity cross-engine."""
    ev = read_table(
        spark, sf_dir, "events", ["event_id", "event_type", "ts", "value"]
    ).withColumn(
        # string-typed date: DATE rendering differs across engines'
        # pandas bridges (same convention as q45 cohort weeks)
        "event_date", F.to_date("ts").cast("string")
    )

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("event_date", "event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sv"),
        )

    base = partial(ev.filter(F.col("event_id") % 5 != 0))
    delta = partial(ev.filter(F.col("event_id") % 5 == 0))
    return (
        base.unionByName(delta)
        .groupBy("event_date", "event_type")
        .agg(F.sum("n").alias("n_events"), F.sum("sv").alias("sv"))
        .select(
            "event_date",
            "event_type",
            "n_events",
            F.round("sv", 6).alias("sum_value"),
            F.round(F.col("sv") / F.col("n_events"), 6).alias("avg_value"),
        )
        .orderBy("event_date", "event_type")
    )


# ----------------------------------------------------------------------
# q60: bucketed co-located fact-fact join — the storage-level answer to
# the lineitem⋈orders shuffle (the single biggest cost in q5/q20/q21)
# ----------------------------------------------------------------------

N_BUCKETS = 8


def _bucketed_pair(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Bucketed twins of lineitem/orders, created once per session and
    corpus generation (io.artifact_generation over both tables) and
    reused: both tables written with bucketBy(N_BUCKETS, join_key) +
    sortBy, repartitioned to one file per bucket so the sorted-bucket
    metadata survives. The bucket spec lives in the session catalog,
    so the tables are saveAsTable'd under spark-warehouse/bucketed/
    rather than renamed into place; other generations of the corpus,
    and this one's files from an earlier session, are dropped first."""
    gen = artifact_generation(spark, sf_dir, ("lineitem", "orders"))
    t_li, t_or = f"b_lineitem_{gen}", f"b_orders_{gen}"
    root = os.path.join(WAREHOUSE, "bucketed")
    if not (spark.catalog.tableExists(t_li)
            and spark.catalog.tableExists(t_or)):

        def drop(name: str) -> None:
            spark.sql(f"DROP TABLE IF EXISTS b_lineitem_{name}")
            spark.sql(f"DROP TABLE IF EXISTS b_orders_{name}")
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)

        if os.path.isdir(root):
            evict_stale(os.listdir(root), gen, drop)
        drop(gen)
        li = read_table(spark, sf_dir, "lineitem",
                        ["l_orderkey", "l_extendedprice", "l_discount"])
        orders = read_table(spark, sf_dir, "orders",
                            ["o_orderkey", "o_orderpriority"])
        # repartition to N_BUCKETS on the key first: bucketBy writes one
        # file per (task, bucket), so without it every task emits every
        # bucket and the sorted-run-per-bucket guarantee is lost
        (li.repartition(N_BUCKETS, "l_orderkey").write
           .bucketBy(N_BUCKETS, "l_orderkey").sortBy("l_orderkey")
           .option("path", os.path.join(root, gen, "lineitem"))
           .mode("overwrite").saveAsTable(t_li))
        (orders.repartition(N_BUCKETS, "o_orderkey").write
           .bucketBy(N_BUCKETS, "o_orderkey").sortBy("o_orderkey")
           .option("path", os.path.join(root, gen, "orders"))
           .mode("overwrite").saveAsTable(t_or))
    return t_li, t_or


def q60_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact join with ZERO exchanges: both sides pre-bucketed on
    the join key at write time, so the SortMergeJoin consumes the
    bucketed layout directly — no shuffle of either fact table at query
    time. This is the canonical 100 TB answer when a big join recurs
    (nightly revenue rollups, CDC reconciliation): pay the shuffle ONCE
    at ingest, then every subsequent join is exchange-free. The merge
    hint pins SMJ so the plan proof doesn't silently degrade to a
    broadcast at small SF (plan-pinned: no Exchange, no
    BroadcastExchange — tests/test_plans.py).

    Same result as the plain-parquet twin by construction; the oracle
    runs the un-bucketed SQL."""
    t_li, t_or = _bucketed_pair(spark, sf_dir)
    li, orders = spark.table(t_li), spark.table(t_or)
    return (
        li.hint("merge")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


# ----------------------------------------------------------------------
# q62: shuffle-key skew diagnostics — the pre-flight check before any
# big groupBy/join (feeds the salting / AQE-skew decisions in skew.py)
# ----------------------------------------------------------------------

SKEW_TOPN = 20


def q62_skew_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter profile of a prospective shuffle key: top-N keys by
    row count with each key's share of the table and its hot-factor
    (count / mean-count-per-key) — the exact numbers that decide
    whether a join needs salting (q40), an AQE skew split, or nothing.
    Run this BEFORE shipping a 100 TB join, not after it stragglers.

    One aggregation at key grain (map-side partials absorb the very
    skew being measured — each mapper emits one row per distinct key),
    one single-row global roll-up broadcast back, top-N via
    TakeOrderedAndProject. Cost is a count-by-key, output is N rows."""
    ev = read_table(spark, sf_dir, "events", ["user_id"])
    # materialize the key-grain counts ONCE: both the totals roll-up
    # and the top-N consume them, and without the checkpoint each
    # branch re-runs the full count-by-key pass over the fact table
    per_key = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()
    )
    tot = per_key.agg(
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    return (
        per_key.crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            "cnt",
            F.round(F.col("cnt") / F.col("n_rows"), 6).alias("share"),
            F.round(
                F.col("cnt") * F.col("n_keys") / F.col("n_rows"), 6
            ).alias("hot_factor"),
        )
        .orderBy(F.desc("cnt"), F.asc("user_id"))
        .limit(SKEW_TOPN)
    )


# ----------------------------------------------------------------------
# q61: one-pass dataset profile (the "dataset card" scan)
# ----------------------------------------------------------------------

_PROFILE_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]
# numeric min/max source expression per column (None -> non-numeric);
# timestamps profile as epoch micros so no engine-specific string
# formatting enters the comparison
_PROFILE_NUM = {
    "event_id": "event_id",
    "ts": "unix_micros(ts)",
    "user_id": "user_id",
    "value": "value",
}


def q61_profile_events(
    spark: SparkSession, sf_dir: str, approx: bool = False
) -> DataFrame:
    """Dataset profiling in ONE pass over the table: per-column null
    count, distinct count, and numeric min/max — the stats block
    of a dataset card / ingest contract check, computed as a single
    wide aggregation then unpivoted with stack() (6 rows out, nothing
    wide ever leaves the agg).

    Scale notes: multiple exact COUNT(DISTINCT) in one aggregate makes
    Catalyst plan an Expand (one duplicated stream per distinct column)
    — exact and single-pass, but the row multiplier is the column
    count. ``approx=True`` is the 100 TB switch: same schema, but
    n_distinct comes from the open HLL sketch (extras.sketches) — the
    stack fan-out carries the same ×6 row multiplier as the Expand,
    but the aggregation state drops from per-distinct-value hash sets
    to a constant 6×(M+1) register cells with map-side combine, which
    is what survives profiling a column with billions of distinct
    values. Everything else is plain min/max/sum-of-null partial aggs
    at scan speed in both modes."""
    if approx:
        return _profile_events_hll(spark, sf_dir)
    ev = read_table(spark, sf_dir, "events", _PROFILE_COLS)
    aggs = []
    for c in _PROFILE_COLS:
        aggs.append(
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"nn_{c}")
        )
        aggs.append(F.countDistinct(c).alias(f"nd_{c}"))
    for c, e in _PROFILE_NUM.items():
        aggs.append(F.expr(f"CAST(min({e}) AS DOUBLE)").alias(f"mn_{c}"))
        aggs.append(F.expr(f"CAST(max({e}) AS DOUBLE)").alias(f"mx_{c}"))
    wide = ev.agg(*aggs)
    parts = []
    for c in _PROFILE_COLS:
        mn = f"mn_{c}" if c in _PROFILE_NUM else "CAST(NULL AS DOUBLE)"
        mx = f"mx_{c}" if c in _PROFILE_NUM else "CAST(NULL AS DOUBLE)"
        parts.append(f"'{c}', nn_{c}, nd_{c}, {mn}, {mx}")
    return wide.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {', '.join(parts)}) AS "
        "(col_name, n_nulls, n_distinct, min_num, max_num)"
    )


# canonical per-column hash-key text (the HLL input): must be
# BIT-IDENTICAL across engines. Integers/timestamp-micros cast plainly;
# doubles go through DECIMAL(30,6) (both engines print fixed-scale —
# parity verified), which quantizes the distinct-ness to 6dp: an
# acceptable contract for a profile ESTIMATE column. NaN/±Inf/
# |v|>=1e23 cannot take the decimal path (BOTH engines throw on
# decimal overflow — Spark 4 runs ANSI; even NaN through DuckDB's
# TRY_CAST throws), so they collapse to three engine-neutral sentinel
# keys: all NaNs are one distinct value (matching COUNT(DISTINCT)
# semantics), and the astronomically-large tail quantizes to
# one-per-sign — a documented coarsening of the ESTIMATE, never an
# error or a silent null.
_PROFILE_VALUE_KEY = (
    "CASE WHEN value IS NULL THEN NULL"
    " WHEN isnan(value) THEN 'nan'"
    " WHEN abs(value) >= 1e23 THEN"
    "   CASE WHEN value > 0 THEN 'overflow_pos'"
    "        ELSE 'overflow_neg' END"
    " ELSE CAST(CAST(value AS DECIMAL(30,6)) AS {s}) END"
)
_PROFILE_KEY_SPARK = {
    "event_id": "CAST(event_id AS STRING)",
    "ts": "CAST(unix_micros(ts) AS STRING)",
    "user_id": "CAST(user_id AS STRING)",
    "event_type": "event_type",
    "value": _PROFILE_VALUE_KEY.format(s="STRING"),
    "props": "props",
}


def _profile_events_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q61's approx=True body: ONE scan stacks every column into
    (col_name, key, num) rows; nulls ride bucket -1, live keys ride
    their HLL register (bucket = h60 % M, rank = leading-zero count of
    the rest bits). A single (col, bucket)-grain aggregation — map-side
    combined down to ≤ 6×(M+1) cells per partition — carries null
    counts and numeric min/max alongside the registers, so the whole
    profile is one shuffle of constant-size state. The per-column HLL
    readout (extras.sketches.hll_est, the batch and streaming
    estimator) then folds 6×257 cells on one
    reducer. Keys hash through extras.hashing.spark_h60, the md5
    prefix DuckDB reproduces bit-for-bit (duck_h60)."""
    from .extras.hashing import spark_h60
    from .extras.sketches import HLL_M, _spark_rank, hll_est

    ev = read_table(spark, sf_dir, "events", _PROFILE_COLS)
    parts = []
    for c in _PROFILE_COLS:
        num = (
            f"CAST({_PROFILE_NUM[c]} AS DOUBLE)"
            if c in _PROFILE_NUM
            else "CAST(NULL AS DOUBLE)"
        )
        parts.append(f"'{c}', {_PROFILE_KEY_SPARK[c]}, {num}")
    stacked = ev.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {', '.join(parts)}) AS "
        "(col_name, key, num)"
    )
    h = spark_h60("key")
    hashed = stacked.selectExpr(
        "col_name",
        "num",
        "CASE WHEN key IS NULL THEN 1 ELSE 0 END AS is_null",
        f"CASE WHEN key IS NULL THEN -1"
        f" ELSE CAST({h} % {HLL_M} AS INT) END AS bucket",
        f"CASE WHEN key IS NULL THEN CAST(0 AS BIGINT)"
        f" ELSE CAST({h} div {HLL_M} AS BIGINT) END AS rest",
    )
    ranked = hashed.selectExpr(
        "col_name", "num", "is_null", "bucket", f"{_spark_rank()} AS rank"
    )
    cells = ranked.groupBy("col_name", "bucket").agg(
        F.max("rank").alias("max_rank"),
        F.sum("is_null").alias("nn"),
        F.min("num").alias("mn"),
        F.max("num").alias("mx"),
    )
    # registers with a live key always have rank >= 1, so absent
    # buckets ARE the zero registers: zeros = M - n_present and the
    # missing cells contribute 2^-0 = 1 each to the denominator
    per_col = cells.groupBy("col_name").agg(
        F.sum("nn").cast("bigint").alias("n_nulls"),
        F.sum(
            F.when(
                F.col("bucket") >= 0,
                F.pow(F.lit(2.0), -F.col("max_rank")),
            ).otherwise(0.0)
        ).alias("denom_present"),
        F.sum(
            F.when(F.col("bucket") >= 0, 1).otherwise(0)
        ).alias("n_present"),
        F.min("mn").alias("min_num"),
        F.max("mx").alias("max_num"),
    )
    zeros = F.lit(HLL_M) - F.col("n_present")
    est = hll_est(F.col("denom_present") + zeros.cast("double"), zeros)
    return per_col.select(
        "col_name",
        "n_nulls",
        F.round(est, 0).cast("bigint").alias("n_distinct"),
        "min_num",
        "max_num",
    )


def q61_profile_events_approx(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry wrapper for q61_profile_events(approx=True)."""
    return q61_profile_events(spark, sf_dir, approx=True)


# ----------------------------------------------------------------------
# q65-q68: classic hard-optimizer SQL shapes (TPC-H Q17/Q21/Q11 + ntile)
# ----------------------------------------------------------------------

def q65_small_quantity_revenue(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — the correlated scalar subquery ("lines below
    20% of THEIR part's average quantity") decorrelated into a
    per-part aggregate joined back to the fact: the rewrite every
    optimizer must find, spelled explicitly so the plan is two scans +
    one key join, never a per-row subquery. The per-part avg frame
    is small at bench SFs but 200M+ rows at real TPC-H scale, so the
    join strategy is LEFT TO AQE (the tfidf DF-join precedent): it
    broadcasts when the frame fits and shuffle-joins on partkey when
    it doesn't. Output: one row, avg-weekly-revenue-style scalar
    (sum/52, rounded 4dp — aggregate policy)."""
    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_partkey", "l_quantity", "l_extendedprice"],
    )
    per_part = li.groupBy("l_partkey").agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    joined = li.join(per_part, "l_partkey").filter(
        F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty")
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum("l_extendedprice") / F.lit(52.0), 4).alias(
            "weekly_revenue"
        ),
    )


Q66_LATE_DAYS = 90


def q66_late_supplier_blame(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — the EXISTS / NOT-EXISTS double self-join:
    suppliers whose line shipped late (> Q66_LATE_DAYS after the order
    date) in a MULTI-supplier order where EVERY OTHER supplier shipped
    on time — i.e., the one unambiguously to blame. Spelled as a semi-
    join (another supplier exists) plus an anti-join (no other LATE
    supplier exists) on the order key — the plan shape optimizers
    struggle with when left as nested subqueries. Top-10 by blame
    count with name tiebreak. The window-count respelling folklore
    recommends (one (order, supplier) aggregation + per-order window
    counts, no semi/anti nodes) measured AT PAR, best-of-2 warm, this
    compile vs the respelling: sf0.1 1.57 vs 2.05 s, sf1 2.88 vs
    2.76 s, sf3 6.47 vs 6.93 s — ReuseExchange already shares the
    lineitem⋈orders frame, and the window's partition sort replaces
    the join sorts — so it is not kept as a second spelling (the
    registry key q66_late_supplier_blame_agg is an alias of this
    one)."""
    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_orderkey", "l_suppkey", "l_shipdate"],
    )
    o = read_table(spark, sf_dir, "orders", ["o_orderkey", "o_orderdate"])
    s = read_table(spark, sf_dir, "supplier", ["s_suppkey", "s_name"])
    lines = li.join(
        o, li.l_orderkey == o.o_orderkey
    ).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
            > Q66_LATE_DAYS
        ).alias("late"),
    )
    l1 = lines.filter(F.col("late")).select("l_orderkey", "l_suppkey")
    others = lines.selectExpr(
        "l_orderkey AS o2_orderkey", "l_suppkey AS o2_suppkey",
        "late AS o2_late",
    )
    has_other = l1.join(
        others,
        (F.col("l_orderkey") == F.col("o2_orderkey"))
        & (F.col("l_suppkey") != F.col("o2_suppkey")),
        "left_semi",
    )
    other_late = others.filter(F.col("o2_late"))
    blamed = has_other.join(
        other_late,
        (F.col("l_orderkey") == F.col("o2_orderkey"))
        & (F.col("l_suppkey") != F.col("o2_suppkey")),
        "left_anti",
    )
    return (
        blamed.distinct()
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_blamed"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        # group/order by the KEY, not the name: supplier names collide
        # (the sf1 expansion clones them), and the suppkey tiebreak
        # makes the top-10 boundary deterministic under such ties
        .select("s_name", "n_blamed", "l_suppkey")
        .orderBy(F.desc("n_blamed"), F.asc("s_name"), F.asc("l_suppkey"))
        .limit(10)
        .select("s_name", "n_blamed")
    )


def q88_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence with lift — the frequent-itemset
    readout at pair grain: the top-20 part pairs most often bought in
    the same order, with lift = N·n_ab/(n_a·n_b) distinguishing
    "popular because everything co-occurs with popular parts" from
    genuine affinity.

    Scale shape: the pair explosion is the classic danger and it is
    BOUNDED BY BASKET SIZE, not corpus size — the self-join runs per
    l_orderkey (equi-join key), so cost is Σ k_o², k_o = distinct
    parts per order (TPC-H ≲ 7), linear in orders. Order of
    operations keeps the marginals cheap: pair counts → top-20
    (TakeOrderedAndProject) → THEN join the per-part totals onto 20
    rows (broadcast), never lift-scoring the full pair set. Explicit
    (count desc, partkey_a, partkey_b) tie-break pins the boundary."""
    li = read_table(spark, sf_dir, "lineitem",
                    ["l_orderkey", "l_partkey"])
    items = li.select("l_orderkey", "l_partkey").distinct()
    totals = items.agg(
        F.countDistinct("l_orderkey").cast("double").alias("n_orders")
    )  # 1-row broadcast readout frame (lazy — no driver-side action)
    a = items.selectExpr("l_orderkey", "l_partkey AS part_a")
    b = items.selectExpr("l_orderkey AS ok_b", "l_partkey AS part_b")
    pairs = (
        a.join(
            b,
            (F.col("l_orderkey") == F.col("ok_b"))
            & (F.col("part_a") < F.col("part_b")),
        )
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .orderBy(F.desc("n_ab"), "part_a", "part_b")
        .limit(20)
    )
    marg = items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_part")
    )
    ma = marg.selectExpr("l_partkey AS part_a", "n_part AS n_a")
    mb = marg.selectExpr("l_partkey AS part_b", "n_part AS n_b")
    return (
        pairs.join(F.broadcast(ma), "part_a")
        .join(F.broadcast(mb), "part_b")
        .join(F.broadcast(totals))
        .select(
            "part_a", "part_b", "n_ab",
            F.round(
                F.col("n_ab") * F.col("n_orders")
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("n_ab"), "part_a", "part_b")
    )


def q89_session_transitions(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Clickstream transition matrix — first-order Markov counts over
    each user's event sequence: for every (from_type, to_type) pair,
    how often one event type is immediately followed by another, and
    the row-normalized transition probability. The path-analysis
    primitive behind funnels, next-action prediction, and anomaly
    screens ("error→purchase should be rare").

    Shape: ONE keyed window (user_id, ordered by ts with the
    event_id tie-break that makes equal-ts neighbors deterministic)
    produces the lagged pair row-locally; the transition matrix is a
    ≤|types|² aggregation, and the row normalization is a window over
    that tiny frame partitioned by from_type (keyed — never global).
    At 100 TB: one shuffle on user_id, one on the pair key."""
    ev = read_table(
        spark, sf_dir, "events", ["event_id", "user_id", "event_type", "ts"]
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type", 1).over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    wrow = Window.partitionBy("from_type")
    return (
        counts.select(
            "from_type", "to_type", "n",
            F.round(
                F.col("n") / F.sum("n").over(wrow), 6
            ).alias("p"),
        )
        .orderBy("from_type", "to_type")
    )


# MAD→σ consistency constant × the 3σ cut, as ONE literal: 3 * 1.4826
# = 4.4478 exactly in decimal, and deriving it by float multiplication
# in only one engine would skew the cut (same lesson as MMR_BETA —
# never derive oracle constants by float arithmetic).
MAD_CUT = 4.4478


def q90_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier screen — median/MAD, not mean/stddev:
    flag events whose |value − median| exceeds 3σ with σ estimated as
    1.4826·MAD (median absolute deviation). The standard telemetry
    data-quality monitor: unlike z-scores, the cut itself is immune to
    the outliers it hunts, so one poisoned batch can't widen its own
    acceptance gate.

    Shape: two exact-percentile aggregations over the fact (each one
    shuffle on event_type, partial-agg combined) producing a ≤|types|
    row frame, broadcast back twice for the deviation and the flag
    pass — the fact is scanned, never self-joined. Exact-percentile
    cost stated exactly: the group COUNT is type-bounded, but the
    per-group STATE is not — exact `percentile` runs as an
    ObjectHashAggregate buffering every distinct value in the group,
    i.e. O(values/event_type) executor memory, fact-derived; when a
    group's value cardinality outgrows that buffer the
    approx_percentile twin q29/q83 (bounded-sketch state) is the
    path. Cut comparison is on
    6dp-rounded values in BOTH engines so a last-ulp median drift
    cannot flip a boundary row."""
    ev = read_table(spark, sf_dir, "events", ["event_type", "value"]).filter(
        F.col("value").isNotNull()
    )
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type")
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(abs(value - med), 0.5)").alias("mad"),
        F.first("med").alias("med"),
    )
    flagged = ev.join(F.broadcast(mad), "event_type")
    is_out = (
        F.round(F.abs(F.col("value") - F.col("med")), 6)
        > F.round(F.lit(MAD_CUT) * F.col("mad"), 6)
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.first("med"), 6).alias("med"),
            F.round(F.first("mad"), 6).alias("mad"),
            F.sum(F.when(is_out, 1).otherwise(0)).alias("n_outliers"),
            F.round(
                F.sum(F.when(is_out, 1).otherwise(0))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("outlier_rate"),
        )
        .orderBy("event_type")
    )


Q67_MULTIPLE = 1.5  # keep parts above 1.5x the AVERAGE part share


def q67_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape — HAVING against a scalar subquery: parts whose
    total line value exceeds Q67_MULTIPLE times the average part's
    share of the GLOBAL total (scale-free: meaningful at every SF,
    unlike Q11's literal fraction). The global total+count is a 1-row
    broadcast against the part-grain rollup (never the fact), so the
    'subquery in HAVING' costs one extra reduction, not a second fact
    scan."""
    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_partkey", "l_extendedprice", "l_discount"],
    )
    val = (F.col("l_extendedprice") * (1 - F.col("l_discount")))
    per_part = li.groupBy("l_partkey").agg(
        F.sum(val).alias("part_value")
    )
    total = per_part.agg(
        F.sum("part_value").alias("grand"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    # threshold on ROUNDED aggregate-derived values (the 4dp policy):
    # raw float sums near the cut could flip membership across engines
    return (
        per_part.join(F.broadcast(total))
        .select(
            "l_partkey",
            F.round("part_value", 4).alias("part_value"),
            F.round(
                F.lit(Q67_MULTIPLE) * F.col("grand") / F.col("n_parts"),
                4,
            ).alias("cut"),
        )
        .filter(F.col("part_value") > F.col("cut"))
        .select("l_partkey", "part_value")
        .orderBy(F.desc("part_value"), F.asc("l_partkey"))
    )


def q68_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type value deciles via ntile(10) — the distribution
    summary a dashboard bins by. ntile is order-dependent, so the
    window orders by (value, event_id): a TOTAL order, making decile
    membership deterministic and cross-engine identical. Per-type
    windows partition the shuffle; output is types×10 rows."""
    from pyspark.sql import Window

    ev = read_table(
        spark, sf_dir, "events", ["event_id", "event_type", "value"]
    ).filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    tiled = ev.withColumn("decile", F.ntile(10).over(w))
    return tiled.groupBy("event_type", "decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    )  # no terminal sort: types×10 output, order-insensitive compare


# ----------------------------------------------------------------------
# q69: interval concurrency via sweep-line (peak concurrent sessions)
# ----------------------------------------------------------------------

CONC_TOPN = 10


def _sweep_start_concurrency(spark: SparkSession,
                             sess: DataFrame) -> DataFrame:
    """The two-phase distributed sweep over an arbitrary interval
    frame (user_id, sess_no, s_us, e_us) — q69's engine, factored so
    the property suite can drive it with random intervals against a
    brute-force checker. Returns one row per +1 boundary with its
    `concurrent` count (closed-interval convention: an interval
    ending exactly when another starts still overlaps it).

    Tied starts: the running sum gives each tied +1 row a DIFFERENT
    value (1st tied row hasn't seen the 2nd yet), but concurrency at
    instant t is the same for every session starting at t — the
    value at the LAST +1 row of the tie group (all +1s at t counted,
    no -1 at t subtracted yet under delta DESC). Broadcast it back
    with a max window PARTITIONED BY the instant — bounded by the
    tie-group size, never global."""
    bounds = sess.selectExpr(
        "user_id",
        "sess_no",
        "stack(2, s_us, 1, e_us, -1) AS (us, delta)",
    )
    order_cols = [
        F.col("us").asc(),
        F.col("delta").desc(),
        F.col("user_id").asc(),
        F.col("sess_no").asc(),
    ]
    p = spark.sparkContext.defaultParallelism
    with_pid = bounds.repartitionByRange(p, *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    local = with_pid.withColumn(
        "_lsum",
        F.sum("delta").over(
            Window.partitionBy("_pid")
            .orderBy(*order_cols)
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    totals = with_pid.groupBy("_pid").agg(F.sum("delta").alias("_t"))
    offsets = (
        totals.alias("a")
        .join(
            F.broadcast(totals.alias("b")),
            F.col("b._pid") < F.col("a._pid"),
            "left",
        )
        .groupBy("a._pid")
        .agg(F.coalesce(F.sum("b._t"), F.lit(0)).alias("_offset"))
        .select(F.col("a._pid").alias("_pid"), "_offset")
    )
    swept = local.join(F.broadcast(offsets), "_pid").withColumn(
        "_run", (F.col("_offset") + F.col("_lsum")).cast("bigint")
    )
    return swept.filter(F.col("delta") == 1).withColumn(
        "concurrent", F.max("_run").over(Window.partitionBy("us"))
    )


def q69_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak session concurrency — "how many sessions are open at
    instant t" over the user-session intervals q16 derives. This is
    the INTERVAL-ANALYTICS op Spark has no native operator for, and
    the naive formulation (self-join points×intervals on a range
    predicate) plans as BroadcastNestedLoop/cartesian — O(n·m), dead
    at scale. The scale answer is the classic SWEEP-LINE: each
    interval becomes a +1 boundary at its start and a -1 at its end,
    and concurrency at any start instant is the running sum over
    boundaries in (us, delta DESC, user_id, sess_no) total order —
    O(n log n), join-free.

    The running sum is GLOBAL, which is exactly the unpartitioned-
    window trap round 2 flagged in the vocab builder — so it runs as
    the same two-phase shape (text.py:595): range-partition the
    boundaries on the sweep order, cumsum WITHIN each range partition
    (partitioned window only), then add per-partition delta-total
    prefixes computed by a triangular join over a one-row-per-
    partition frame. AQE reuses the range exchange between the cumsum
    and the partition-totals branches.

    Output: the top-CONC_TOPN start instants by concurrency
    (concurrent DESC, ts_us ASC, user_id/sess_no tie-break) — the
    "peak concurrent users" number capacity planning actually asks
    for. Closed-interval convention: a session ending exactly when
    another starts still overlaps it (delta DESC puts +1 before -1
    at equal us)."""
    from .queries import _number_sessions

    events = read_table(
        spark, sf_dir, "events", ["user_id", "ts", "event_id"]
    )
    sess = (
        _number_sessions(events)
        .groupBy("user_id", "sess_no")
        .agg(F.min("us").alias("s_us"), F.max("us").alias("e_us"))
    )
    starts = _sweep_start_concurrency(spark, sess)
    return (
        starts.select(
            F.col("us").alias("ts_us"), "user_id", "sess_no", "concurrent"
        )
        .orderBy(
            F.desc("concurrent"),
            F.asc("ts_us"),
            F.asc("user_id"),
            F.asc("sess_no"),
        )
        .limit(CONC_TOPN)
    )


# ----------------------------------------------------------------------
# q64: weighted sampling without replacement (A-ES, deterministic)
# ----------------------------------------------------------------------

WSAMPLE_K = 100


def q64_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k WEIGHTED sample without replacement via the A-ES /
    Efraimidis-Spirakis exponential-key trick: key = u^(1/w) with u a
    content-hash uniform (q54's determinism discipline — retries,
    partition counts, and engines all agree), top-k by key. P(select)
    ∝ value weight; the corpus-mixing complement of text_mix_sample
    (budgeted selection) and text_dsir_weights (importance weights).

    Scale: the key is a row-local codegen expression on the scan and
    top-k compiles to TakeOrderedAndProject — per-partition k-heaps,
    no global sort, no RNG state. Cross-engine: pow/ln are not
    required to be correctly rounded, so keys round to 9dp BEFORE
    ranking with event_id as the total tie-break (the tfidf rounded-
    rank policy)."""
    from .extras.hashing import spark_h60

    ev = read_table(
        spark, sf_dir, "events", ["event_id", "event_type", "value"]
    ).filter(F.col("value").isNotNull() & (F.col("value") > 0))
    # u in (0,1): h60 is uniform on [0, 2^60); +1 keeps u > 0
    u = (
        F.expr(spark_h60("CAST(event_id AS STRING)")).cast("double")
        + F.lit(1.0)
    ) / F.lit(float(2**60))
    key = F.round(F.pow(u, F.lit(1.0) / F.col("value")), 9)
    return (
        ev.withColumn("sample_key", key)
        .orderBy(F.desc("sample_key"), F.asc("event_id"))
        .limit(WSAMPLE_K)
    )


# ----------------------------------------------------------------------
# q63: distribution-drift monitor (KL divergence per day vs corpus)
# ----------------------------------------------------------------------

def q63_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality drift monitor: per day, the KL divergence of that
    day's event-type distribution from the whole-corpus distribution —
    the pre-flight number behind "did yesterday's ingest change shape"
    alerts (retrain triggers, upstream-schema-drift detection). KL is
    finite here by construction: every day draws from the same
    categorical support (absent types contribute 0 via the inner-join
    semantics, the standard plug-in estimator).

    Shape: ONE (date, type) aggregation over the fact; day totals and
    the global distribution are window/broadcast folds over that tiny
    frame — the fact is scanned once. ln() is aggregate-derived → the
    6dp rounding policy; terminal sort by date (monitoring output)."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events", ["ts", "event_type"])
    dt = ev.select(
        F.to_date("ts").cast("string").alias("event_date"),
        "event_type",
    )
    cell = dt.groupBy("event_date", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    day_tot = Window.partitionBy("event_date")
    withp = cell.select(
        "event_date",
        "event_type",
        "c",
        F.sum("c").over(day_tot).alias("n_day"),
    )
    glob = cell.groupBy("event_type").agg(F.sum("c").alias("g"))
    gtot = glob.agg(F.sum("g").alias("n_all"))
    joined = (
        withp.join(F.broadcast(glob), "event_type")
        .join(F.broadcast(gtot))
    )
    p = F.col("c").cast("double") / F.col("n_day")
    q = F.col("g").cast("double") / F.col("n_all")
    return (
        joined.groupBy("event_date")
        .agg(
            F.max("n_day").alias("n_events"),
            F.round(F.sum(p * F.log(p / q)), 6).alias("kl_vs_corpus"),
        )
        .orderBy("event_date")
    )


# ----------------------------------------------------------------------
# q70-q75: the remaining classic hard-optimizer TPC-H shapes (Q19, Q22,
# Q15, Q18, Q20, Q7), adapted to the driver schema's columns
# ----------------------------------------------------------------------

# (brand, (size lo, hi), (qty lo, hi)) — the three Q19 arms
Q70_ARMS = [
    ("Brand#1", (1, 5), (1, 11)),
    ("Brand#2", (1, 10), (10, 20)),
    ("Brand#3", (1, 15), (20, 30)),
]


def q70_promo_discount_revenue(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape — a DISJUNCTION of cross-table conjunctions
    ((brand AND size AND qty) OR ... OR ...). The naive spelling
    filters only AFTER the join, so both scans read everything; the
    optimizer rewrite is CNF extraction: each table's IMPLIED
    disjunction ((brand1 AND size1-5) OR ...; qty 1-30) pushes to its
    own scan, and the join runs on the pre-shrunk sides. Spelled
    explicitly here (the q65 decorrelation precedent): the part side
    collapses to 3 brands x size<=15 — small enough to BROADCAST even
    at TPC-H scale where raw part is 100x too big — and the lineitem
    scan gets the derived qty envelope. The full 3-arm predicate then
    runs post-join on the survivors. Output: one row (n_lines,
    revenue)."""
    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_partkey", "l_quantity", "l_extendedprice", "l_discount"],
    )
    part = read_table(
        spark, sf_dir, "part", ["p_partkey", "p_brand", "p_size"]
    )
    part_pred = None
    full_pred = None
    qty_lo = min(q[0] for _, _, q in Q70_ARMS)
    qty_hi = max(q[1] for _, _, q in Q70_ARMS)
    for brand, (slo, shi), (qlo, qhi) in Q70_ARMS:
        p_arm = (F.col("p_brand") == brand) & F.col("p_size").between(
            slo, shi
        )
        arm = p_arm & F.col("l_quantity").between(qlo, qhi)
        part_pred = p_arm if part_pred is None else (part_pred | p_arm)
        full_pred = arm if full_pred is None else (full_pred | arm)
    return (
        li.filter(F.col("l_quantity").between(qty_lo, qty_hi))
        .join(
            F.broadcast(part.filter(part_pred)),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .filter(full_pred)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                4,
            ).alias("revenue"),
        )
    )


Q71_IDLE_CUTOFF = "2001-01-01"  # "no order since" boundary


def q71_idle_rich_customers(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — anti-join plus scalar subquery: customers
    with an account balance above the average POSITIVE balance who
    have placed NO order since Q71_IDLE_CUTOFF (the schema has no
    phone column, so "recent order" replaces Q22's literal
    no-order-ever, which is empty on this data — every customer has
    ordered). The scalar average is a 1-row broadcast; the NOT EXISTS
    is a left-anti join against the date-filtered orders scan (the
    filter pushes down, so the anti side is a fraction of orders).
    Grouped by market segment: count + total balance."""
    cust = read_table(
        spark, sf_dir, "customer",
        ["c_custkey", "c_acctbal", "c_mktsegment"],
    )
    orders = read_table(
        spark, sf_dir, "orders", ["o_custkey", "o_orderdate"]
    )
    # threshold on the ROUNDED aggregate-derived average (q67's 4dp
    # policy): raw float sums near the cut flip membership x-engine
    avg_pos = cust.filter(F.col("c_acctbal") > 0).agg(
        F.round(F.avg("c_acctbal"), 4).alias("avg_bal")
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit(Q71_IDLE_CUTOFF).cast("timestamp")
    ).select("o_custkey")
    return (
        cust.join(
            recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
        )
        .join(F.broadcast(avg_pos))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.round(F.sum("c_acctbal"), 4).alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


Q72_WINDOW = ("1998-01-01", "1998-04-01")  # Q15's 3-month revenue window


def q72_top_quarter_supplier(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape — max-over-view: per-supplier revenue for one
    quarter, returning every supplier whose revenue EQUALS the
    maximum (ties included — the reason Q15 can't be spelled as
    ORDER BY ... LIMIT 1). The supplier-grain rollup is computed
    once; its 1-row max broadcasts back against it, so "the view
    appears twice" costs one extra reduction, never a second fact
    scan. Revenue is rounded to 4dp BEFORE the equality compare
    (aggregate policy: raw float maxima are not cross-engine
    stable)."""
    lo, hi = Q72_WINDOW
    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_suppkey", "l_extendedprice", "l_discount", "l_shipdate"],
    )
    supp = read_table(spark, sf_dir, "supplier", ["s_suppkey", "s_name"])
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit(lo).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(hi).cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                4,
            ).alias("total_rev")
        )
    )
    mx = rev.agg(F.max("total_rev").alias("mx"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_rev")
        .orderBy("s_suppkey")
    )


Q73_MIN_QTY = 250  # ~p99 of per-order total quantity at every tested SF


def q73_large_quantity_orders(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape — HAVING-filtered aggregate joined back to its
    parents: orders whose TOTAL line quantity exceeds Q73_MIN_QTY,
    decorated with customer and order attributes, top-10 by price.
    The quantity rollup runs at order grain FIRST and the >threshold
    filter cuts it to ~1% before any join — so the joins back to
    orders/customer move only survivors (AQE broadcasts the tiny
    aggregate side; at real scale this is the difference between
    joining 1.5B rows and 15M). Customer dim broadcasts by
    construction."""
    li = read_table(
        spark, sf_dir, "lineitem", ["l_orderkey", "l_quantity"]
    )
    orders = read_table(
        spark, sf_dir, "orders",
        ["o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"],
    )
    cust = read_table(spark, sf_dir, "customer", ["c_custkey", "c_name"])
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 4).alias("total_qty"))
        .filter(F.col("total_qty") > Q73_MIN_QTY)
    )
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


Q74_DOM_MULTIPLE = 2.0  # "dominant" = 2x the fair (equal-split) share
Q74_PART_TYPE = "PROMO"
Q74_TOPN = 20


def q74_dominant_suppliers(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape — nested semi-joins over per-(part,supplier)
    aggregates: for PROMO-type parts, a supplier DOMINATES a part
    when its shipped quantity exceeds Q74_DOM_MULTIPLE times the fair
    share (part total / number of suppliers; multi-supplier parts
    only — the threshold is scale-free where Q20's literal 50% is
    empty on this data's even spread). Ranked by parts dominated.
    The part-type restriction is a LEFT-SEMI join (no part columns
    survive), the share test joins part-supplier grain against part
    grain — both aggregate frames, never the raw fact — and the
    strategy is left to AQE (part is NOT broadcast-safe at TPC-H
    scale). Thresholds compare ROUNDED values (4dp policy)."""
    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_partkey", "l_suppkey", "l_quantity"],
    )
    part = read_table(spark, sf_dir, "part", ["p_partkey", "p_type"])
    supp = read_table(spark, sf_dir, "supplier", ["s_suppkey", "s_name"])
    promo = part.filter(F.col("p_type") == Q74_PART_TYPE).select(
        "p_partkey"
    )
    ps = (
        li.join(
            promo, F.col("l_partkey") == F.col("p_partkey"), "left_semi"
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("supp_qty"))
    )
    per_part = ps.groupBy("l_partkey").agg(
        F.sum("supp_qty").alias("part_qty"),
        F.count(F.lit(1)).alias("n_supp"),
    )
    dom = ps.join(per_part, "l_partkey").filter(
        (F.col("n_supp") > 1)
        & (
            F.round("supp_qty", 4)
            > F.round(
                F.lit(Q74_DOM_MULTIPLE)
                * F.col("part_qty")
                / F.col("n_supp"),
                4,
            )
        )
    )
    return (
        dom.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_dominated"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "n_dominated")
        .orderBy(F.desc("n_dominated"), F.asc("s_suppkey"))
        .limit(Q74_TOPN)
    )


Q75_NATIONS = ("NATION_1", "NATION_2")  # the Q7 trading pair


def q75_nation_trade_volume(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape — the two-sided nation-pair volume query:
    revenue shipped between two nations (either direction) by ship
    year. The join graph touches lineitem, orders, customer,
    supplier, and nation TWICE (customer's nation vs supplier's
    nation) — the shape that tests join ORDERING. Spelled so the
    nation filter lands on the two dim scans FIRST (customer and
    supplier each shrink to 2 of 25 nations before touching the
    fact), the dims broadcast, and only the lineitem⋈orders shuffle
    remains. The pair-validity predicate (cust != supp nation) runs
    post-join on the two small name columns."""
    n1, n2 = Q75_NATIONS
    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
         "l_shipdate"],
    )
    orders = read_table(spark, sf_dir, "orders", ["o_orderkey", "o_custkey"])
    nation = read_table(spark, sf_dir, "nation", ["n_nationkey", "n_name"])
    pair = nation.filter(F.col("n_name").isin(n1, n2))
    cust = (
        read_table(spark, sf_dir, "customer", ["c_custkey", "c_nationkey"])
        .join(
            F.broadcast(pair),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    supp = (
        read_table(spark, sf_dir, "supplier", ["s_suppkey", "s_nationkey"])
        .join(
            F.broadcast(pair),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy(
            "cust_nation",
            "supp_nation",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                4,
            ).alias("revenue")
        )
        .orderBy("cust_nation", "supp_nation", "ship_year")
    )


DIVERSE_PER_CLUSTER = 25


def sim_diverse_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-stratified high-quality subset selection — the
    cluster-balanced data-selection recipe (the shape behind
    DiverseEvol/SemDeDup-style curation: cover the embedding space,
    don't let one dense region dominate the training mix): assign
    every embedding to its nearest centroid, score the paired
    document with the learned quality classifier, keep the top
    DIVERSE_PER_CLUSTER docs PER CLUSTER by score. The output is a
    quality-ranked, diversity-stratified subset.

    Scale shape: one corpus pass for assignment (k centroids
    broadcast, argmax row-local), one row-local scoring pass (the
    hashing-trick scorer is pure codegen), a doc-grain id join (AQE
    picks the strategy), then top-R per cluster via a
    centroid-partitioned window — bounded by cluster size; if one
    cluster degenerates to half the corpus the two-phase rank trick
    (per-partition top-R then merge, text.py:595's pattern) is the
    swap, and R rows per cluster is what leaves the stage either
    way. Quality scores are row-level doubles with identical IEEE
    trees in both engines (quality_score's design), so the rank
    boundary is cross-engine stable with the vec_id tiebreak."""
    from .extras.text import quality_score

    assign = sim_centroid_assign(spark, sf_dir)
    q = quality_score(spark, sf_dir).select("doc_id", "score_mean")
    joined = assign.join(q, F.col("vec_id") == F.col("doc_id"))
    w = Window.partitionBy("centroid_id").orderBy(
        F.desc("score_mean"), F.asc("vec_id")
    )
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= DIVERSE_PER_CLUSTER)
        .select(
            "centroid_id", "vec_id", "sim", "score_mean",
            F.col("rk").cast("int").alias("rk"),
        )
        .orderBy("centroid_id", "rk")
    )


Q76_WINDOW = ("1998-01-01", "1998-04-01")
Q76_LATE_DAYS = 60


def q76_priority_late_orders(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — EXISTS against the fact per order: for one
    quarter's orders, how many per priority have AT LEAST ONE line
    shipped more than Q76_LATE_DAYS after ordering (the schema has no
    commit/receipt dates, so ship-vs-order lateness stands in for
    Q4's commit<receipt). The EXISTS spells as: the windowed orders'
    (key, date) pairs meet lineitem once to derive late order keys
    (DISTINCT — an order with five late lines counts once), then a
    LEFT-SEMI join keeps qualifying orders. Counts grouped by
    priority. Both date filters push to the orders scan; the
    o_orderkey join is the only fact-sized shuffle."""
    lo, hi = Q76_WINDOW
    orders = read_table(
        spark, sf_dir, "orders",
        ["o_orderkey", "o_orderdate", "o_orderpriority"],
    ).filter(
        (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
    )
    li = read_table(
        spark, sf_dir, "lineitem", ["l_orderkey", "l_shipdate"]
    )
    late_keys = (
        li.join(
            orders.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .filter(
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
            > Q76_LATE_DAYS
        )
        .select("l_orderkey")
        .distinct()
    )
    return (
        orders.join(
            late_keys,
            F.col("o_orderkey") == F.col("l_orderkey"),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_late_orders"))
        .orderBy("o_orderpriority")
    )


Q77_WINDOW = ("1998-01-01", "1998-04-01")
Q77_TOPN = 20


def q77_returned_customers(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape — the returned-items report: customers ranked
    by revenue lost to returns (l_returnflag = 'R') on one quarter's
    orders, with name and nation. Date filter pushes to orders,
    returnflag to lineitem; customer and nation broadcast; top-N
    compiles to TakeOrderedAndProject with custkey tiebreak."""
    lo, hi = Q77_WINDOW
    orders = read_table(
        spark, sf_dir, "orders", ["o_orderkey", "o_custkey", "o_orderdate"]
    ).filter(
        (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
    )
    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_orderkey", "l_extendedprice", "l_discount", "l_returnflag"],
    ).filter(F.col("l_returnflag") == "R")
    cust = read_table(
        spark, sf_dir, "customer", ["c_custkey", "c_name", "c_nationkey"]
    )
    nation = read_table(spark, sf_dir, "nation", ["n_nationkey", "n_name"])
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                4,
            ).alias("lost_revenue")
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "c_name", F.col("n_name").alias("nation"),
                "lost_revenue")
        .orderBy(F.desc("lost_revenue"), F.asc("c_custkey"))
        .limit(Q77_TOPN)
    )


Q78_WINDOW = ("1998-01-01", "1998-02-01")


def q78_promo_revenue_share(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape — promotion revenue share: the percentage of
    one ship-month's revenue coming from PROMO-type parts, computed
    as a CONDITIONAL SUM over a single join pass (CASE inside sum —
    never two scans). The month filter pushes to the lineitem scan;
    the part side is key+type only. One output row, 6dp percentage
    (aggregate-ratio policy)."""
    lo, hi = Q78_WINDOW
    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_partkey", "l_extendedprice", "l_discount", "l_shipdate"],
    ).filter(
        (F.col("l_shipdate") >= F.lit(lo).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(hi).cast("timestamp"))
    )
    part = read_table(spark, sf_dir, "part", ["p_partkey", "p_type"])
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.lit(100.0) * F.sum(promo) / F.sum(rev), 6
            ).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


Q79_TOPN = 20


def q79_supplier_variety(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape — supplier variety per product segment with a
    NOT-IN exclusion: distinct suppliers who have shipped each
    (brand, size-band) of part, excluding suppliers with a NEGATIVE
    account balance (Q16's complaint list stands in). NOT IN spells
    as a LEFT-ANTI join of the (part,supp) pairs against the
    (tiny, broadcast) excluded-supplier frame; variety is a DISTINCT
    count at (brand, band) grain. The pairs frame aggregates from
    lineitem FIRST, so the anti join and distinct move pair-grain
    rows, never lines."""
    li = read_table(
        spark, sf_dir, "lineitem", ["l_partkey", "l_suppkey"]
    )
    part = read_table(
        spark, sf_dir, "part", ["p_partkey", "p_brand", "p_size"]
    )
    supp = read_table(
        spark, sf_dir, "supplier", ["s_suppkey", "s_acctbal"]
    )
    bad = supp.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    kept = pairs.join(
        F.broadcast(bad),
        F.col("l_suppkey") == F.col("s_suppkey"),
        "left_anti",
    )
    return (
        kept.join(
            part, F.col("l_partkey") == F.col("p_partkey")
        )
        .groupBy(
            "p_brand",
            # floor, not a bare double->int cast: Spark's cast
            # truncates but DuckDB's ROUNDS — floor agrees on both
            F.floor((F.col("p_size") - 1) / 10).cast("int").alias(
                "size_band"
            ),
        )
        .agg(F.countDistinct("l_suppkey").alias("n_suppliers"))
        .orderBy(
            F.desc("n_suppliers"), F.asc("p_brand"), F.asc("size_band")
        )
        .limit(Q79_TOPN)
    )


PCTL_ACC = 1000  # approx_percentile accuracy: rank error <= n/ACC
_PCTL_EPS = 1.0 / PCTL_ACC


def q83_approx_percentile_guard(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Accuracy guard for the engine's approx_percentile (the
    sim_*_recall_guard contract applied to q29's sketch): per event
    type, the approximate P50/P95 must satisfy the RANK-interval
    contract the sketch actually makes — the returned value is a DATA
    ELEMENT whose rank lies within n/ACC of q·n. (A value-envelope
    check against interpolating exact percentile(q±eps) is the wrong
    contract and fails at small n, where interpolation moves less
    than one inter-element gap — measured before this spelling.)
    Checked as interval overlap, ±1 for rank-definition fenceposts:

        count(v < x) + 1 <= (q + eps)·n + 1   AND
        count(v <= x)    >= (q - eps)·n - 1

    asserted IN-PLAN, so a sketch regression turns the driver's
    rows-only green row into a hard query error. Two passes: the
    sketch agg, then the 5-row result broadcast back onto the scan
    for exact rank counts. Rows-only by design (the sketch is not
    reproducible in DuckDB); the rank-fraction columns make the row
    auditable."""
    ev = read_table(spark, sf_dir, "events", ["event_type", "value"])
    ap = ev.groupBy("event_type").agg(
        F.expr(
            f"approx_percentile(value, array(0.5, 0.95), {PCTL_ACC})"
        ).alias("ap")
    ).select(
        "event_type",
        F.col("ap")[0].alias("p50"),
        F.col("ap")[1].alias("p95"),
    )
    j = ev.join(F.broadcast(ap), "event_type")
    agg = j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("p50").alias("p50_approx"),
        F.max("p95").alias("p95_approx"),
        F.sum(F.when(F.col("value") < F.col("p50"), 1).otherwise(0))
        .alias("lt50"),
        F.sum(F.when(F.col("value") <= F.col("p50"), 1).otherwise(0))
        .alias("le50"),
        F.sum(F.when(F.col("value") < F.col("p95"), 1).otherwise(0))
        .alias("lt95"),
        F.sum(F.when(F.col("value") <= F.col("p95"), 1).otherwise(0))
        .alias("le95"),
    )
    e = _PCTL_EPS
    n = F.col("n")

    def _ok(lt, le, q):
        return (F.col(lt) + 1 <= (q + e) * n + 1) & (
            F.col(le) >= (q - e) * n - 1
        )

    ok = _ok("lt50", "le50", 0.5) & _ok("lt95", "le95", 0.95)
    return agg.select(
        "event_type",
        "n",
        F.round("p50_approx", 6).alias("p50_approx"),
        F.round(F.col("le50") / n, 6).alias("p50_rank_frac"),
        F.round("p95_approx", 6).alias("p95_approx"),
        F.round(F.col("le95") / n, 6).alias("p95_rank_frac"),
        (F.assert_true(ok).isNull()).alias("passed"),
    ).orderBy("event_type")


Q80_REGION = "ASIA"
Q80_SHARE_NATION = "NATION_7"  # an ASIA supplier nation
Q80_PART_TOKEN = "widget"


def q80_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — national market share: of the revenue from
    Q80_PART_TOKEN parts sold to customers in Q80_REGION, what
    fraction was supplied by Q80_SHARE_NATION, by ship year. The
    widest join graph in the suite after Q9 (lineitem, orders,
    customer, supplier, part, nation twice, region) with the
    market-share CASE folded into the same aggregation pass (a
    conditional sum over the joined rows — never two scans). Spelled
    dims-first: part shrinks to the token match and broadcasts;
    customer pre-joins its nation→region chain and keeps only
    Q80_REGION keys; supplier carries its nation name. Share rounded
    6dp (aggregate-ratio policy)."""
    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice",
         "l_discount", "l_shipdate"],
    )
    orders = read_table(spark, sf_dir, "orders", ["o_orderkey", "o_custkey"])
    part = read_table(spark, sf_dir, "part", ["p_partkey", "p_name"])
    nation = read_table(
        spark, sf_dir, "nation", ["n_nationkey", "n_name", "n_regionkey"]
    )
    region = read_table(spark, sf_dir, "region", ["r_regionkey", "r_name"])
    asia_keys = nation.join(
        F.broadcast(region.filter(F.col("r_name") == Q80_REGION)),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey")
    cust = (
        read_table(spark, sf_dir, "customer", ["c_custkey", "c_nationkey"])
        .join(
            F.broadcast(asia_keys),
            F.col("c_nationkey") == F.col("n_nationkey"),
            "left_semi",
        )
        .select("c_custkey")
    )
    supp = (
        read_table(spark, sf_dir, "supplier", ["s_suppkey", "s_nationkey"])
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    wparts = part.filter(
        F.col("p_name").contains(Q80_PART_TOKEN)
    ).select("p_partkey")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    share_rev = F.when(
        F.col("supp_nation") == Q80_SHARE_NATION, rev
    ).otherwise(F.lit(0.0))
    return (
        li.join(
            F.broadcast(wparts),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(cust),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_semi",
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("l_shipdate").cast("int").alias("ship_year"))
        .agg(
            F.round(F.sum(share_rev) / F.sum(rev), 6).alias("mkt_share"),
            F.round(F.sum(rev), 4).alias("total_rev"),
        )
        .orderBy("ship_year")
    )


Q81_COST_FRAC = 0.1  # cost model: 10% of retail price per unit


def q81_product_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape — product-line profit by supplier nation and
    year: margin = revenue - quantity * (Q81_COST_FRAC *
    p_retailprice) over Q80_PART_TOKEN parts (the schema has no
    partsupp/ps_supplycost, so the unit cost derives from the part's
    retail price — deterministic and join-compatible). Part join
    carries the retailprice column (can't be a semi-join like Q8's),
    supplier nation broadcast; one grouped aggregation at (nation,
    year) grain, 4dp sums."""
    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_partkey", "l_suppkey", "l_quantity", "l_extendedprice",
         "l_discount", "l_shipdate"],
    )
    part = read_table(
        spark, sf_dir, "part", ["p_partkey", "p_name", "p_retailprice"]
    )
    nation = read_table(spark, sf_dir, "nation", ["n_nationkey", "n_name"])
    supp = (
        read_table(spark, sf_dir, "supplier", ["s_suppkey", "s_nationkey"])
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    wparts = part.filter(
        F.col("p_name").contains(Q80_PART_TOKEN)
    ).select("p_partkey", "p_retailprice")
    margin = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("l_quantity") * (Q81_COST_FRAC * F.col("p_retailprice"))
    )
    return (
        li.join(F.broadcast(wparts), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            "supp_nation",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(
            F.round(F.sum(margin), 4).alias("margin"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("supp_nation", "ship_year")
    )


Q82_EXCLUDE_PRIORITY = "1-URGENT"


def q82_order_count_distribution(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape — the customer order-count DISTRIBUTION with a
    zero bucket: count non-Q82_EXCLUDE_PRIORITY orders per customer
    through a LEFT join (customers with none survive with count 0 —
    the whole point of Q13, and why an inner join is wrong), then a
    second aggregation over the counts. Two grouped aggregations, the
    first keyed on the customer; count(o_orderkey) counts non-null
    matches only."""
    cust = read_table(spark, sf_dir, "customer", ["c_custkey"])
    orders = read_table(
        spark, sf_dir, "orders",
        ["o_orderkey", "o_custkey", "o_orderpriority"],
    ).filter(F.col("o_orderpriority") != Q82_EXCLUDE_PRIORITY)
    per_cust = (
        cust.join(
            orders, F.col("c_custkey") == F.col("o_custkey"), "left"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# ----------------------------------------------------------------------
# q84/q85: the GROUPING SETS family — multi-granularity aggregation in
# ONE pass. q18/q33 cover ROLLUP/CUBE on a single table; these add the
# joined-fact rollup with an explicit grouping_id disambiguator and the
# arbitrary (non-hierarchical) grouping-set list, the last classic SQL
# aggregation shape absent from both the reference (SURVEY §2.6 "not
# present") and this engine (VERDICT r4 next #6).
# ----------------------------------------------------------------------


def q84_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by (nation, order-year) with ROLLUP: detail rows, per-
    nation subtotals, and the grand total from a SINGLE aggregation.

    grouping_id() is emitted as an output column because NULL group
    keys are ambiguous on their own — a subtotal row and a genuinely
    NULL key would collide; the bitmask (verified bit-identical to
    DuckDB's GROUPING(n_name, o_year): detail=0, per-nation=1,
    grand=3) makes every row self-describing, which is also what makes
    the oracle hash-comparable.

    Scale: ROLLUP compiles to ONE Expand (3 replicas of the agg input
    = grouping-set count, NOT a per-row blowup of the scan — Expand
    sits above the two broadcast dim joins and below a single
    partial+final HashAggregate pair, plan-pinned). At 100 TB this
    costs one shuffle keyed on (n_name, o_year, gid) — same as the
    plain GROUP BY — versus three separate aggregation jobs for the
    three granularities; the 3x Expand multiplier applies to rows
    ENTERING the partial aggregate, which map-side-combines before the
    wire.

    Display-order caveat (VERDICT r5 wrong #3): the presentation sort
    uses Spark's ASC default NULLS-FIRST on n_name, while the oracle's
    ORDER BY relies on DuckDB's NULLS-LAST ASC default — the grand-
    total row (the only NULL n_name; gid sorts it apart anyway)
    displays at a different position per engine. The driver's hash
    check is order-insensitive so this can never fail; make the NULL
    ordering explicit on BOTH sides before adding any order-SENSITIVE
    comparison."""
    orders = read_table(
        spark, sf_dir, "orders",
        ["o_custkey", "o_totalprice", "o_orderdate"],
    )
    cust = read_table(spark, sf_dir, "customer",
                      ["c_custkey", "c_nationkey"])
    nation = read_table(spark, sf_dir, "nation",
                        ["n_nationkey", "n_name"])
    joined = (
        orders.join(F.broadcast(cust),
                    F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "n_name",
            F.year("o_orderdate").cast("int").alias("o_year"),
            "o_totalprice",
        )
    )
    return (
        joined.rollup("n_name", "o_year")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        )
        # the rolled-up year is NULL on subtotal rows, and a nullable
        # int round-trips through pandas as float — coalesce to -1
        # (gid already disambiguates) so the column stays int64 in
        # both engines' comparison frames
        .select(
            "n_name",
            F.coalesce("o_year", F.lit(-1)).alias("o_year"),
            "gid", "n_orders", "revenue",
        )
        .orderBy("gid", F.asc_nulls_first("n_name"), "o_year")
    )


def q85_corpus_grouping_sets(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Corpus composition report — per-language AND per-source char/
    doc totals from ONE scan via explicit GROUPING SETS ((lang),
    (source)): the non-hierarchical set list that neither ROLLUP nor
    CUBE expresses (CUBE would add the (lang, source) cross and the
    grand total — 2 extra granularities computed then thrown away).

    This is the shape every corpus-curation dashboard needs (the
    mixture report: how much English? how much per crawl source?) and
    running it as two GROUP BYs means scanning the corpus twice; at
    100 TB the single Expand(2) pass halves the scan cost, and the
    Expand multiplier is absorbed by map-side partial aggregation.
    grouping_id disambiguates which dimension a row summarizes
    (lang=1, source=2 — bit-parity with DuckDB GROUPING verified)."""
    docs = read_table(spark, sf_dir, "documents",
                      ["lang", "source", "n_chars"])
    return (
        docs.groupingSets([["lang"], ["source"]], "lang", "source")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
        .orderBy("gid", F.asc_nulls_first("lang"),
                 F.asc_nulls_first("source"))
    )


# ----------------------------------------------------------------------
# q86: Z-order (Morton) data layout — multi-dimensional clustering for
# scan pruning, the lakehouse OPTIMIZE ZORDER BY primitive (Delta/
# Iceberg rewrite jobs), expressed engine-side. New operator family
# for round 6: data LAYOUT as a first-class op, not just query shapes.
# ----------------------------------------------------------------------


def _morton16(a: str, b: str, dialect: str) -> str:
    """16-bit Morton code: interleave the low 8 bits of `a` (odd
    positions) and `b` (even positions). Pure integer bit arithmetic
    so Spark and DuckDB produce bit-identical codes — Spark spells
    shift as shiftleft/shiftright functions, DuckDB as <</>>
    operators; every term fully parenthesized (DuckDB's & precedence
    differs from C)."""
    if dialect == "spark":
        def bit(c: str, i: int) -> str:
            return f"(shiftright({c}, {i}) & 1)"

        def shl(e: str, n: int) -> str:
            return f"shiftleft({e}, {n})"
    else:
        def bit(c: str, i: int) -> str:
            return f"(({c} >> {i}) & 1)"

        def shl(e: str, n: int) -> str:
            return f"({e} << {n})"
    return " + ".join(
        f"{shl(bit(a, i), 2 * i + 1)} + {shl(bit(b, i), 2 * i)}"
        for i in range(8)
    )


def zorder_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(a, b, z) bucket frame for the events fact: 8-bit range-bucket
    ids for user_id and floor(value), plus their 16-bit Morton code.
    Shared by the q86 readout and the layout-write path (the rewrite
    job is `repartitionByRange + sortWithinPartitions` on `z`;
    materialization is footer-verified in tests/test_pipeline.py).
    Row-local codegen arithmetic over a 1-row broadcast range frame —
    no shuffle."""
    ev = (
        read_table(spark, sf_dir, "events", ["user_id", "value"])
        .filter(F.col("value").isNotNull())
        .selectExpr("user_id", "CAST(floor(value) AS BIGINT) AS vi")
    )
    rng = ev.agg(
        F.min("user_id").alias("lo_u"), F.max("user_id").alias("hi_u"),
        F.min("vi").alias("lo_v"), F.max("vi").alias("hi_v"),
    )
    ab = ev.join(F.broadcast(rng)).selectExpr(
        "CAST(((user_id - lo_u) * 256) div (hi_u - lo_u + 1) AS INT)"
        " AS a",
        "CAST(((vi - lo_v) * 256) div (hi_v - lo_v + 1) AS INT) AS b",
    )
    z = _morton16("a", "b", "spark")
    return ab.selectExpr("a", "b", f"CAST(({z}) AS INT) AS z")


def q86_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout effectiveness readout: bucket events on the
    16-bit Morton interleave of (user_id, value) vs the linear
    (user_id, value) lexicographic key, and report per-layout how
    narrow each bucket's span is in BOTH dimensions — the min/max
    skipping statistics a parquet footer would carry per file.

    Why this is a 100 TB operator: a table sorted on ONE key prunes
    scans only on that key's predicates — the linear layout's buckets
    here have ~zero user-span but full value-span, so `value BETWEEN`
    predicates read every file. Z-ordering keeps every contiguous
    key-range a small HYPERCUBE (each 256-code bucket is a 16x16
    tile), so row-group min/max stats prune on user_id AND value
    simultaneously; the layout job itself is one repartitionByRange +
    sortWithinPartitions on the computed z column (materialized and
    pyarrow-footer-verified in tests/test_pipeline.py). Computing z
    is row-local codegen arithmetic — zero extra shuffles beyond the
    1-row min/max broadcast; the readout's two aggregations run over
    the tiny (layout, bucket) grain.

    Bucket ids use pure INTEGER arithmetic ((x-lo)*256 div span) and
    floor() before casting the double value (DuckDB CAST rounds where
    Spark truncates), so the oracle reproduces codes bit-identically.
    The production WRITER is io.write_zorder (equi-depth percentile
    cells, robust to skewed columns); this readout uses min-max cells
    because equi-depth boundaries come from percentile_approx, whose
    sketch DuckDB cannot reproduce — same Morton mechanics, and the
    materialized layout is footer-verified in tests/test_pipeline.py
    (simulated file pruning from pyarrow min/max stats)."""
    buck = zorder_frame(spark, sf_dir).selectExpr(
        "a", "b",
        "CAST(z div 256 AS INT) AS zbucket",
        "CAST((a * 256 + b) div 256 AS INT) AS lbucket",
    ).selectExpr(
        "stack(2, 'zorder', zbucket, 'linear', lbucket)"
        " AS (layout, bucket)",
        "a", "b",
    )
    per_bucket = buck.groupBy("layout", "bucket").agg(
        (F.max("a") - F.min("a")).cast("int").alias("a_span"),
        (F.max("b") - F.min("b")).cast("int").alias("b_span"),
    )
    return (
        per_bucket.groupBy("layout")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.round(F.avg("a_span"), 6).alias("avg_a_span"),
            F.round(F.avg("b_span"), 6).alias("avg_b_span"),
            F.max("a_span").alias("max_a_span"),
            F.max("b_span").alias("max_b_span"),
        )
        .orderBy("layout")
    )


# ----------------------------------------------------------------------
# q91: half-life-decayed engagement (exact power-of-two decay weights)
# ----------------------------------------------------------------------

DECAY_HALF_LIFE_DAYS = 7  # one-week half-life, floored to whole weeks
DECAY_CLAMP = 60  # weights below 2^-60 (~8.7e-19) are clamped: they
# cannot move a 6dp-rounded sum, and the clamp keeps the exponent where
# pow(0.5, k) stays an exact double at ANY corpus age (an integer-shift
# spelling 1/(1<<k) would overflow BIGINT past k=62 — the same silent
# Spark wrap / DuckDB raise divergence ADVICE r9 #3 flagged on AMS)


def q91_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted engagement rollup: each event's value decays by
    half per DECAY_HALF_LIFE_DAYS of age, so the per-type totals weight
    this week's activity 2x last week's — the standard freshness KPI /
    retention-leaderboard weighting.

    Cross-engine float discipline: exp(-λ·age) is a libm transcendental
    with no correct-rounding guarantee, so engines can disagree in the
    last ulp PER ROW. Instead the decay is piecewise-constant per week:
    k = floor(age_days / 7) is integer arithmetic, and pow(0.5, k) is
    an EXACT power of two, so value·2^-k is a bare exponent shift —
    bit-identical in Spark and DuckDB term-for-term; only the sum order
    differs, absorbed by the 4dp/6dp rounding convention.

    Shape: the reference date is a 1-row max() aggregate broadcast back
    onto the fact (the whitelisted BNLJ readout idiom — never a global
    window over the fact); weight and weighted value are row-local
    codegen; ONE fact shuffle on event_type with map-side partial
    aggregation. At 100 TB nothing here is fact×fact."""
    ev = read_table(
        spark, sf_dir, "events", ["ts", "event_type", "value"]
    ).filter(F.col("value").isNotNull())
    maxd = ev.agg(F.max(F.to_date("ts")).alias("maxd"))
    k = F.least(
        F.floor(
            F.datediff(F.col("maxd"), F.to_date("ts"))
            / DECAY_HALF_LIFE_DAYS
        ),
        F.lit(DECAY_CLAMP),
    )
    weighted = ev.join(F.broadcast(maxd)).withColumn(
        "wv", F.col("value") * F.pow(F.lit(0.5), k)
    )
    return (
        weighted.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("raw_sum"),
            F.round(F.sum("wv"), 4).alias("decayed_sum"),
            F.round(
                F.sum("wv") / F.expr("nullif(sum(value), 0)"), 6
            ).alias("retained_frac"),
        )
        .orderBy("event_type")
    )


# ----------------------------------------------------------------------
# q92: per-nation Gini coefficient of order values (exact rank statistic)
# ----------------------------------------------------------------------


def q92_value_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inequality statistic per nation: the Gini coefficient of order
    values, G = (2·Σ i·x_i) / (n·Σx) − (n+1)/n over values sorted
    ascending (i = 1..n; ties broken by o_orderkey so the rank — and
    therefore the statistic — is deterministic in both engines). The
    classic concentration readout: G≈0 means spend is even across
    orders, G→1 means a few whale orders carry the nation.

    Shape: orders⋈customer is the one fact-grain equi-join (AQE picks
    the strategy; customer is ~1/10 of orders in TPC-H-like data),
    nation names come in by broadcast; then ONE shuffle on the nation
    key for the per-nation window sort. Exact ranks are the point
    here, and the partition key is low-cardinality (25 nations), so at
    100 TB each group is fact/25 and the per-group EXTERNAL sort is
    the cost driver — Spark's window sort spills rather than OOMs; the
    approximate path for truly fact-sized groups is the equi-depth
    histogram family (q50/q68), which prices Gini from bin boundaries
    without a total order. Float discipline: Σ i·x and Σ x are
    sum-order-sensitive doubles, but G is a ratio of ~1e11-magnitude
    sums whose reorder error is ~1e-13 relative — invisible at the
    6dp rounding. The named high-cardinality twin is
    q92_value_gini_binned below (VERDICT r10 next #7): Gini from
    histogram bins, no total order anywhere."""
    orders = read_table(
        spark, sf_dir, "orders", ["o_orderkey", "o_custkey", "o_totalprice"]
    )
    cust = read_table(spark, sf_dir, "customer", ["c_custkey", "c_nationkey"])
    nation = read_table(spark, sf_dir, "nation", ["n_nationkey", "n_name"])
    j = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select("n_name", "o_totalprice", "o_orderkey")
    )
    w = Window.partitionBy("n_name").orderBy("o_totalprice", "o_orderkey")
    ranked = j.withColumn("i", F.row_number().over(w))
    n = F.count(F.lit(1))
    s_ix = F.sum(F.col("i") * F.col("o_totalprice"))
    s_x = F.sum("o_totalprice")
    return (
        ranked.groupBy("n_name")
        .agg(
            n.alias("n_orders"),
            F.round(s_x, 4).alias("total_value"),
            F.round(
                (F.lit(2.0) * s_ix) / (n * s_x) - (n + F.lit(1.0)) / n, 6
            ).alias("gini"),
        )
        .orderBy("n_name")
    )


GINI_BINS = 64  # histogram resolution for the binned Gini twin; the
# bin-level cross frame is |nations|·B² = 102,400 rows at B=64 —
# constant, row-count-independent


def q92_value_gini_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q92's named high-cardinality twin (its docstring's "prices Gini
    from bin boundaries without a total order", made an operator):
    per-nation Gini approximated from a GINI_BINS-bucket histogram —
    bins as atoms at their mean, G ≈ Σ_ij n_i·n_j·|x̄_i − x̄_j| /
    (2·N·Σx), the grouped-data mean-difference form. Within-bin
    inequality is invisible, so the estimate is a LOWER bound that
    converges to the exact statistic as bins shrink (the accuracy
    envelope vs q92 is pinned in tests/test_queries.py).

    Why equi-WIDTH bins, not the q50/q68 equi-depth cuts: the binned
    form is only oracle-exact if both engines assign identical
    buckets, and equi-width boundaries are pure arithmetic from the
    per-nation (min, max) — deterministic everywhere — while
    equi-depth cuts come from approx_percentile, an engine-specific
    sketch. A production deployment free of the cross-engine
    constraint can swap in the q50 cuts without touching the
    mean-difference fold.

    Shape — the q92 contrast is the point: NO window, NO sort of the
    fact, no per-group total order, and (since r12) NO self-join
    either. Two fact passes (per-nation bounds, then bucket
    assignment — the bounds come BACK as a 25-row broadcast), ONE
    (nation, bucket) aggregation with map-side combine, then each
    nation's ≤B bin atoms collect into ONE array row and the O(B²)
    mean-difference double sum runs as a row-local nested
    higher-order fold (codegen'd `aggregate`, no Python) — the r11
    self-join formulation planned the bins subtree THREE times
    (static exchange reuse never fired across the aliased branches),
    turning the claimed 2 fact passes into 4; the array fold makes
    every subtree single-consumer so the plan literally has the two
    scans the docstring promises (pinned: 4 exchanges, no
    join/window/sort past the broadcast dim chain). At 100 TB every
    fact-sized stage is a hash aggregate; q92's per-group external
    sort is gone. Float discipline: bin means rounded 6dp before the
    |x̄_i − x̄_j| fold so every term matches engine-for-engine; only
    the constant-size (≤B²-term) sum order differs from the oracle's
    cross-join sum, absorbed by the final 6dp rounding."""
    orders = read_table(
        spark, sf_dir, "orders", ["o_custkey", "o_totalprice"]
    )
    cust = read_table(spark, sf_dir, "customer", ["c_custkey", "c_nationkey"])
    nation = read_table(spark, sf_dir, "nation", ["n_nationkey", "n_name"])
    j = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select("n_name", "o_totalprice")
    )
    bounds = j.groupBy("n_name").agg(
        F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx")
    )
    bucket = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.least(
            F.floor(
                (F.col("o_totalprice") - F.col("mn"))
                / ((F.col("mx") - F.col("mn")) / GINI_BINS)
            ),
            F.lit(GINI_BINS - 1),
        )
    )
    bins = (
        j.join(F.broadcast(bounds), "n_name")
        .withColumn("bucket", bucket.cast("int"))
        .groupBy("n_name", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_i"),
            F.sum("o_totalprice").alias("s_i"),
        )
        .withColumn("xb_i", F.round(F.col("s_i") / F.col("n_i"), 6))
    )
    per_nation = bins.groupBy("n_name").agg(
        F.sum("n_i").alias("n_orders"),
        F.round(F.sum("s_i"), 4).alias("total_value"),
        F.count(F.lit(1)).alias("n_bins_used"),
        F.collect_list(F.struct("n_i", "xb_i")).alias("atoms"),
    )
    # Σ_ij n_i·n_j·|x̄_i − x̄_j| as a nested row-local fold over the
    # ≤B-element atom array — replaces the r11 bin-grain self-join
    # (see docstring); collect_list order is nondeterministic, but the
    # double sum's order spread (≤B²·ε relative) is absorbed by the
    # terminal 6dp rounding
    num = F.aggregate(
        F.col("atoms"),
        F.lit(0.0),
        lambda acc, b: acc
        + b["n_i"].cast("double")
        * F.aggregate(
            F.col("atoms"),
            F.lit(0.0),
            lambda acc2, c: acc2
            + c["n_i"].cast("double") * F.abs(b["xb_i"] - c["xb_i"]),
        ),
    )
    return per_nation.select(
        "n_name",
        "n_orders",
        "total_value",
        "n_bins_used",
        F.round(
            num / (F.lit(2.0) * F.col("n_orders") * F.col("total_value")),
            6,
        ).alias("gini_binned"),
    ).orderBy("n_name")


# ----------------------------------------------------------------------
# q93: reciprocal-rank fusion of two user leaderboards
# ----------------------------------------------------------------------

RRF_K = 60  # the standard damping constant from Cormack et al. 2009
RRF_DEPTH = 50  # rank cutoff per list; absent -> contributes 0
RRF_TOPN = 20


def q93_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Büttcher 2009): combine a
    total-value leaderboard and a recency leaderboard of users into one
    ranking by score = Σ_lists 1/(RRF_K + rank), rank ≤ RRF_DEPTH —
    THE standard calibration-free way to merge heterogeneous rankings
    (here: "whales" vs "recently active"), the same fusion step a
    search stack applies over text_search_ranked + sim_cosine_topk
    results. Exact cross-engine arithmetic by construction: each term
    is one correctly-rounded IEEE division and each score sums ≤2
    terms, so there is no sum-order ambiguity at all; scores are still
    6dp-rounded BEFORE the ordering so tie decisions match.

    Shape: ONE per-user fact shuffle shared by both lists; each list
    is top-RRF_DEPTH via TakeOrderedAndProject (never a global sort of
    the user grain); ranks come from a global window over the already-
    LIMITed ≤RRF_DEPTH-row frame (bounded constant — whitelisted in
    the fleet plan gate); the fusion itself is a full outer join of
    two ≤RRF_DEPTH-row frames. At 100 TB only the user-grain agg
    scales with data."""
    ev = read_table(
        spark, sf_dir, "events", ["user_id", "ts", "value"]
    ).filter(F.col("value").isNotNull())
    per_user = ev.groupBy("user_id").agg(
        F.round(F.sum("value"), 4).alias("sv"), F.max("ts").alias("mt")
    )
    val_top = per_user.orderBy(F.desc("sv"), "user_id").limit(RRF_DEPTH)
    val_rank = val_top.select(
        "user_id",
        # DOUBLE, not BIGINT: the fusion outer join makes ranks
        # nullable, and pandas promotes nullable ints to float on the
        # DuckDB side ("5.0" vs "5" in the value compare) — emitting
        # double on BOTH sides is the established cross-frame fix
        F.row_number()
        .over(Window.orderBy(F.desc("sv"), "user_id"))
        .cast("double")
        .alias("r_value"),
    )
    rec_top = per_user.orderBy(F.desc("mt"), "user_id").limit(RRF_DEPTH)
    rec_rank = rec_top.select(
        "user_id",
        F.row_number()
        .over(Window.orderBy(F.desc("mt"), "user_id"))
        .cast("double")
        .alias("r_recency"),
    )
    fused = val_rank.join(rec_rank, "user_id", "full_outer")
    score = F.coalesce(
        F.lit(1.0) / (F.lit(RRF_K) + F.col("r_value")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(RRF_K) + F.col("r_recency")), F.lit(0.0)
    )
    return (
        fused.select(
            "user_id",
            "r_value",
            "r_recency",
            F.round(score, 6).alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), "user_id")
        .limit(RRF_TOPN)
    )


def _customer_spend(spark: SparkSession, sf_dir: str,
                    *aggs: Column) -> DataFrame:
    """The customer-grain frame of q94-q97 and the RFM pair: orders ⋈
    customer (AQE picks the strategy) ⋈ broadcast nation, grouped by
    (n_name, c_custkey) with `aggs` over the order columns o_custkey,
    o_totalprice and o_orderdate (unread ones are pruned)."""
    orders = read_table(
        spark, sf_dir, "orders",
        ["o_custkey", "o_totalprice", "o_orderdate"],
    )
    cust = read_table(spark, sf_dir, "customer", ["c_custkey", "c_nationkey"])
    nation = read_table(spark, sf_dir, "nation", ["n_nationkey", "n_name"])
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", "c_custkey")
        .agg(*aggs)
    )


# ----------------------------------------------------------------------
# q94: per-nation Herfindahl-Hirschman concentration index
# ----------------------------------------------------------------------


def q94_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-concentration statistic per nation: the Herfindahl-
    Hirschman index of customer spend shares, HHI = Σ_i s_i² with
    s_i = customer i's order total / nation total.  HHI→1/n means
    spend is spread evenly across a nation's customers, HHI→1 means
    one whale owns the market; 1/HHI is the standard "effective number
    of customers" readout.  Complements q92's Gini on the same join
    skeleton: Gini needs an exact per-group rank (window sort), HHI is
    a PURE aggregation-of-squares — no window, no sort, so it stays a
    two-level hash aggregate at any group size.

    Shape: orders⋈customer is the one fact-grain equi-join (AQE picks
    the strategy), nation names broadcast in; then (nation, customer)
    partial-aggregated spend — map-side combine does most of the work
    since orders of one customer co-locate after the join shuffle —
    and ONE 25-group fold of squares.  At 100 TB every stage is
    hash-agg; nothing needs a total order (the q92 contrast is the
    point).  Float discipline: per-customer spend is rounded 4dp
    FIRST, so the squared terms are bit-identical across engines and
    only the 25-way sum order differs — ~1e-16 relative, invisible at
    the 6dp rounding of the final ratios."""
    per_cust = _customer_spend(
        spark, sf_dir, F.round(F.sum("o_totalprice"), 4).alias("spend")
    )
    s_sq = F.sum(F.col("spend") * F.col("spend"))
    s = F.sum("spend")
    hhi = s_sq / (s * s)
    return (
        per_cust.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(s, 4).alias("total_spend"),
            F.round(hhi, 6).alias("hhi"),
            F.round(F.lit(1.0) / hhi, 6).alias("effective_customers"),
        )
        .orderBy("n_name")
    )


def q95_top_decile_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration readout per nation — the third member of
    the inequality family (q92 Gini = full-distribution rank
    statistic, q94 HHI = aggregation-of-squares, q95 = the "what
    share of revenue do the top 10% of customers hold" number every
    business review actually asks for): per-nation 90th-percentile
    customer-spend threshold, then the revenue share and headcount of
    customers at or above it.

    Shape — the q90 template at customer grain, stated honestly like
    q90's: the (nation, customer) spend aggregation is planned TWICE
    (it feeds the percentile fold and the share fold; static exchange
    reuse does not bridge the branches — the q92_value_gini_binned
    lesson), so the plan runs two fact scans + two fact-sized
    map-side-combined shuffles, pinned as such in tests/test_plans.py.
    Unlike the bounded bin atoms of q92_binned, the customer grain is
    NOT collectable into per-group arrays (millions of customers per
    nation at 100 TB), so the two-pass shape is the correct one; a
    production pipeline that already materializes the per-customer
    spend frame (q94 builds the same one) pays the second pass from
    that checkpoint instead.  The exact-percentile fold reduces to a
    25-row threshold frame.  Cost stated exactly: the NUMBER of
    percentile groups is nation-bounded (25), but the per-group STATE
    is not — exact `percentile` runs as an ObjectHashAggregate that
    buffers every distinct per-customer spend in the group, i.e.
    O(customers/nation) executor memory, fact-derived; that buffer is
    the price of exactness, and the approx_percentile twin q83
    (bounded-sketch state) is the path when the group's value
    cardinality outgrows it.  The thresholds broadcast BACK onto
    the customer-grain frame (never a fact self-join), one 25-group
    share fold.  No window, no fact sort.  Float discipline: per-customer spend is rounded 2dp FIRST
    (sums of exact 2dp prices; the ≤1e-9 double-fold spread is far
    under the rounding quantum), so the percentile interpolates over
    bit-identical values in both engines — Spark `percentile` and
    DuckDB `quantile_cont` share the rank = p·(n−1) linear-
    interpolation definition (the q90 median precedent at general p)
    — and the >= threshold comparison sees identical operands; only
    the 6dp-rounded share carries a constant-size sum-order spread."""
    spend = _customer_spend(
        spark, sf_dir, F.round(F.sum("o_totalprice"), 2).alias("spend")
    )
    thr = spend.groupBy("n_name").agg(
        F.expr("percentile(spend, 0.9)").alias("thr")
    )
    top = F.col("spend") >= F.col("thr")
    return (
        spend.join(F.broadcast(thr), "n_name")
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.when(top, 1).otherwise(0)).alias("n_top"),
            F.round(F.first("thr"), 2).alias("decile_threshold"),
            F.round(
                F.sum(F.when(top, F.col("spend")).otherwise(0.0))
                / F.sum("spend"),
                6,
            ).alias("top_decile_share"),
        )
        .orderBy("n_name")
    )


def q96_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index with its exact between/within
    decomposition — the fourth member of the inequality family, and
    the one with the BEST scale shape: unlike Gini (q92: a rank
    statistic needing a per-group sort or a binned approximation) and
    unlike the Pareto share (q95: a percentile needing fact-derived
    ObjectHashAggregate state), Theil is a plain decomposable
    aggregate.  The identity Σ(x/μ)ln(x/μ)/N = Σx·ln(x)/Σx − ln(μ)
    turns the per-nation index into THREE map-side-combinable sums
    (count, Σx, Σx·lnx) — so the whole operator is ONE fact scan and
    ONE fact-sized shuffle (the (nation, customer) spend grain q94/
    q95 also build), a 25-row nation aggregation, and a W1-pattern
    global window over that 25-row frame for the grand totals (the
    pct-of-total idiom; whitelisted global window over an aggregated
    series, never the fact).  No join back, no subtree re-plan (the
    q95/q92 two-pass shapes are AVOIDED here — fanout 1, pinned).

    And Theil is the only standard inequality index that decomposes
    EXACTLY by population subgroup: T_total = Σ_g s_g·T_g (within) +
    Σ_g s_g·ln(μ_g/μ) (between), s_g the group's spend share — the
    between sum is a KL divergence (spend share vs headcount share),
    so both components are non-negative and their sum reconstructs
    the undecomposed index, a property pinned against a raw-input
    Python fold in tests/test_properties.py.  At 100 TB the same
    three sums roll up along ANY dimension hierarchy (the additive-
    state argument of sketch_ams_hhi, applied to an inequality
    statistic).

    Float discipline: per-customer spend is rounded 2dp FIRST (sums
    of exact 2dp prices, the q95 precedent) so ln() sees identical
    operands in both engines; all derived terms round 6dp at output
    only (internals unrounded; sum-order ulp spread is far below the
    quantum).  Spark `ln` (java.lang.Math.log) ≡ DuckDB `ln` (libm)
    within double ulps — the q63_drift_kl precedent."""
    from pyspark.sql import Window

    spend = _customer_spend(
        spark, sf_dir, F.round(F.sum("o_totalprice"), 2).alias("spend")
    )
    nat = spend.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("spend").alias("spend_sum"),
        F.sum(F.col("spend") * F.log("spend")).alias("sxlx"),
    )
    w = Window.partitionBy()  # W1: global window over the 25-row agg
    tot = nat.withColumn(
        "n_total", F.sum("n_customers").over(w)
    ).withColumn("s_total", F.sum("spend_sum").over(w))
    mean_g = F.col("spend_sum") / F.col("n_customers")
    mu = F.col("s_total") / F.col("n_total")
    theil_g = F.col("sxlx") / F.col("spend_sum") - F.log(mean_g)
    s_g = F.col("spend_sum") / F.col("s_total")
    return tot.select(
        "n_name",
        "n_customers",
        F.round(mean_g, 6).alias("mean_spend"),
        F.round(theil_g, 6).alias("theil_within"),
        F.round(s_g, 6).alias("spend_share"),
        F.round(s_g * theil_g, 6).alias("within_contrib"),
        F.round(s_g * F.log(mean_g / mu), 6).alias("between_term"),
    ).orderBy("n_name")


def q97_atkinson_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atkinson welfare-based inequality index per nation at three
    inequality-aversion levels (ε = 0.5, 1, 2) — the fifth member of
    the inequality family (Gini q92/q92_binned, HHI q94/ams, Pareto
    share q95, Theil q96), and the member with a TUNABLE sensitivity
    knob: A(ε) = 1 − EDE_ε/μ where EDE_ε is the generalized power
    mean M_{1−ε} of the spend vector — ε=0.5 → (avg√x)², ε=1 → the
    geometric mean exp(avg ln x), ε=2 → the harmonic mean 1/avg(1/x).
    Low ε weights the top of the distribution, high ε the bottom, so
    the three columns read as "which end of the distribution carries
    the inequality" — a per-segment fairness readout no single index
    gives.

    Scale shape — the BEST in the family, sharing q96's decomposable-
    sums argument and dropping even its W1 window: all three levels
    come from FIVE map-side-combinable sums over the (nation,
    customer) spend grain (count, Σx, Σ√x, Σln x, Σ1/x), so the whole
    operator is ONE fact scan (fanout 1, pinned), ONE fact-sized
    shuffle (the customer-grain agg q94/q95/q96 also build), a 25-row
    nation aggregation, and a 25-row sort.  No window at all (per-
    nation indices need no grand total — pinned: Window is in the
    CASES forbid list), no join back, no subtree re-plan.  At 100 TB
    the five sums roll up along ANY dimension hierarchy exactly like
    sketch_ams_hhi's signed sums — partials combine map-side and
    merge across partitions/days/corpora by addition.

    Float discipline (the q96 recipe verbatim): per-customer spend is
    rounded 2dp FIRST (sums of exact 2dp prices) so √/ln/1/x see
    identical operands in both engines; EDE_0.5 squares via explicit
    multiplication (never pow); all outputs round 6dp, internals
    unrounded.  √ is IEEE-754 correctly rounded (bit-identical across
    engines); ln/exp are the q63/q96 ulp-level precedents.  Spend is
    strictly positive (o_totalprice > 0 at every SF), so every mean
    is finite and 0 ≤ A(ε) < 1; the power-mean inequality fixes the
    column ORDER A(0.5) ≤ A(1) ≤ A(2) — both properties pinned in
    tests/test_properties.py against a raw-input Python fold."""
    spend = _customer_spend(
        spark, sf_dir, F.round(F.sum("o_totalprice"), 2).alias("spend")
    )
    nat = spend.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("spend").alias("s1"),
        F.sum(F.sqrt("spend")).alias("sh"),
        F.sum(F.log("spend")).alias("sl"),
        F.sum(F.lit(1.0) / F.col("spend")).alias("si"),
    )
    n = F.col("n_customers")
    mu = F.col("s1") / n
    ede_half = (F.col("sh") / n) * (F.col("sh") / n)
    ede_one = F.exp(F.col("sl") / n)
    ede_two = n / F.col("si")
    return nat.select(
        "n_name",
        "n_customers",
        F.round(mu, 6).alias("mean_spend"),
        F.round(F.lit(1.0) - ede_half / mu, 6).alias("atkinson_05"),
        F.round(F.lit(1.0) - ede_one / mu, 6).alias("atkinson_1"),
        F.round(F.lit(1.0) - ede_two / mu, 6).alias("atkinson_2"),
    ).orderBy("n_name")


def q98_last_touch_attribution(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution — the marketing-dashboard
    question every funnel report ends with: each purchase's value is
    credited to the CHANNEL of the user's most recent preceding
    non-purchase event (their last touch), then revenue rolls up per
    channel.  Purchases with no preceding touch (a user's first-ever
    event is the purchase) credit the '(none)' bucket — the
    direct-traffic line of a real attribution report.

    Spark shape: ONE fact scan, ONE keyed window — the carry-forward
    is F.last(ignorenulls) over a user-partitioned (ts, event_id)
    order with an explicit ROWS frame ending at 1 PRECEDING (strictly
    BEFORE the purchase: a same-timestamp touch never credits itself;
    the event_id tiebreak makes the order total, so both engines walk
    identical sequences — the q52 LOCF idiom with a shifted frame).
    Then a ≤|types|-row channel aggregation and a tiny sort.  No
    global window, no join (the as-of-join spelling q27 uses is the
    same semantics paid as a join; the window spelling shuffles the
    fact ONCE on user_id and never again).  At 100 TB the window
    partitions by user — millions of small independent partitions,
    no skew beyond whale users (q62's diagnostics apply), and the
    channel rollup is map-side-combinable from each partition's
    output.  Float discipline: per-channel revenue is a sum of raw
    event values rounded 4dp at output (addition-order spread ≪ the
    quantum), avg order value 6dp.

    NULL-key policy (ADVICE r13): anonymous events (user_id NULL) are
    EXCLUDED on both engine sides — both Spark and DuckDB group NULL
    partition keys together, so leaving them in would conflate every
    anonymous visitor into one shared touch sequence and credit a
    NULL-user purchase to a DIFFERENT anonymous user's touch.  Same
    policy as sketch_cm_join_card's key filter; the streaming twin
    (streaming.last_touch_stream) applies the identical filter so
    batch ≡ stream holds on the same population."""
    ev = read_table(
        spark, sf_dir, "events",
        ["event_id", "user_id", "ts", "event_type", "value"],
    ).filter(F.col("user_id").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touched = ev.withColumn(
        "channel",
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        ).over(w),
    )
    return (
        touched.filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("channel", F.lit("(none)")).alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 4).alias("attributed_revenue"),
            F.round(F.avg("value"), 6).alias("avg_order_value"),
        )
        .orderBy("channel")
    )


def q100_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the classic recency / frequency /
    monetary quintile scoring every CRM and retention report is built
    on, spelled per nation so the quantile grain stays bounded (the
    q95 lesson: a GLOBAL customer rank is a global sort the fleet
    gates forbid; per-nation ntile partitions parallelize across
    nations and each holds customers/nation rows).  Per customer with
    ≥1 order: R = quintile of last order date (5 = most recent), F =
    quintile of order count (5 = most frequent), M = quintile of
    total spend (5 = biggest) — ntile(5) over a (metric, custkey)
    total order, so ties break identically in both engines (Spark and
    DuckDB share the SQL-standard ntile definition: earlier buckets
    take the remainder rows).  Scores fold into the five canonical
    segments (champions / new / at_risk / hibernating / core) and
    roll up per (nation, segment).

    Spark shape: orders⋈customer at customer grain (the q94/q95
    spend-frame joins, nation broadcast), ONE customer-grain agg,
    then ONE nation-keyed exchange serving ALL THREE ntile windows
    (same partitioning, three in-partition sorts — sorts are
    per-nation, never global) AND the ≤25×5-row segment agg (grouping
    by (nation, segment) is satisfied by the nation partitioning, so
    the rollup plans ZERO additional exchange — plan-pinned at 3
    shuffles total), then a tiny terminal sort.  At 100 TB the window
    partitions are per-nation: the
    in-partition sort is the price of exact quintiles, and the
    approx-percentile threshold spelling (q83's sketch) is the
    documented fallback when a single nation's customer count
    outgrows a partition sort.  Float discipline: spend rounds 2dp
    before ranking (bit-identical operands), segment averages 6dp at
    output."""
    per_cust = _customer_spend(
        spark, sf_dir,
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("spend"),
    )
    wr = Window.partitionBy("n_name").orderBy("last_order", "c_custkey")
    wf = Window.partitionBy("n_name").orderBy("n_orders", "c_custkey")
    wm = Window.partitionBy("n_name").orderBy("spend", "c_custkey")
    scored = per_cust.select(
        "n_name",
        "spend",
        F.ntile(5).over(wr).alias("r_score"),
        F.ntile(5).over(wf).alias("f_score"),
        F.ntile(5).over(wm).alias("m_score"),
    ).withColumn(
        "segment",
        F.when(
            (F.col("r_score") >= 4) & (F.col("f_score") >= 4)
            & (F.col("m_score") >= 4),
            "champions",
        )
        .when((F.col("r_score") >= 4) & (F.col("f_score") <= 2), "new")
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 4),
              "at_risk")
        .when((F.col("r_score") <= 2) & (F.col("f_score") <= 2),
              "hibernating")
        .otherwise("core"),
    )
    return (
        scored.groupBy("n_name", "segment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("spend"), 2).alias("segment_spend"),
            F.round(F.avg("spend"), 6).alias("avg_spend"),
        )
        .orderBy("n_name", "segment")
    )


def _rfm_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared customer-grain RFM metric frame (q100 + approx twin):
    (n_name, c_custkey, r_days, n_orders, spend) — last-order recency
    as days-since-epoch so all three metrics are numeric (the sketch
    needs numbers; ntile never cared)."""
    return _customer_spend(
        spark, sf_dir,
        F.datediff(
            F.max("o_orderdate"), F.lit("1970-01-01").cast("date")
        ).alias("r_days"),
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("spend"),
    )


_RFM_METRICS = ("r_days", "n_orders", "spend")
_RFM_QS = (0.2, 0.4, 0.6, 0.8)


def _rfm_scores_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-grain scores of the approx twin (exposed for the
    agreement-envelope pytest): threshold quintiles from per-nation
    approx_percentile sketches instead of ntile ranks.  score = 1 +
    #(thresholds strictly below the value), so a value TIED with a
    threshold element stays in the lower bucket — value-based
    scoring, where ntile splits ties by rank (the one semantic
    difference; the envelope test bounds it by tie-span + rank
    error).

    Two passes over per_cust by design (thresholds must exist before
    scoring).  The r17 session A/B'd caching per_cust so the fact
    join+agg runs once (VERDICT r16 ask #8) and REVERTED it with
    numbers: cached 3.26-3.53 s vs uncached 2.12-2.53 s same-process
    best-of-3 at sf0.1 — materializing the frame into the
    memorystore and reading it back costs more than the second
    customer-grain recompute, which fuses into one codegen'd
    scan→join→agg span.  The r15 freeze note already prices why the
    two-pass sketch spelling costs more than exact q100 at bench SF;
    its win is the removed per-nation sort at whale-nation scale,
    not bench seconds (OPTIMIZATION_r17.md)."""
    per_cust = _rfm_per_cust(spark, sf_dir)
    thr = per_cust.groupBy("n_name").agg(
        *[
            F.expr(
                f"approx_percentile({m}, "
                f"array{_RFM_QS!r}, {PCTL_ACC})"
            ).alias(f"t_{m}")
            for m in _RFM_METRICS
        ]
    )
    j = per_cust.join(F.broadcast(thr), "n_name")
    score_cols = [
        (
            F.lit(1)
            + sum(
                F.when(F.col(m) > F.col(f"t_{m}")[i], 1).otherwise(0)
                for i in range(len(_RFM_QS))
            )
        ).alias(f"{s}_score")
        for m, s in zip(_RFM_METRICS, ("r", "f", "m"))
    ]
    # per-metric rank-contract indicators for the in-plan guard
    # (q83's interval check, folded into the scoring pass)
    guard_cols = [
        F.when(F.col(m) < F.col(f"t_{m}")[i], 1)
        .otherwise(0)
        .alias(f"lt_{m}_{i}")
        for m in _RFM_METRICS
        for i in range(len(_RFM_QS))
    ] + [
        F.when(F.col(m) <= F.col(f"t_{m}")[i], 1)
        .otherwise(0)
        .alias(f"le_{m}_{i}")
        for m in _RFM_METRICS
        for i in range(len(_RFM_QS))
    ]
    return j.select(
        "n_name", "c_custkey", "spend", *score_cols, *guard_cols
    )


def q100_rfm_segments_approx(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """q100's documented whale-nation fallback, spelled for real
    (VERDICT r14 ask #4): RFM quintiles from per-nation
    approx_percentile THRESHOLDS instead of ntile — the path a nation
    takes when its customer count outgrows a window partition sort.
    Same segment CASE, same (nation, segment) rollup; scores come
    from comparing each metric against its nation's 20/40/60/80
    sketch points.

    Why this is the 100 TB spelling: ntile must SORT every nation
    partition (the exact-quintile price q100's docstring flags for
    whale nations); the sketch path replaces the sort with TWO
    sort-free passes — pass 1 folds each nation to 3×4 threshold
    doubles (constant agg state, map-side combinable, the q29/q83
    sketch), pass 2 broadcasts the ≤25-row threshold table back and
    scores row-locally at scan speed.  No per-nation sort anywhere,
    so one 10⁹-customer nation costs the same two linear passes as
    25 balanced ones.  The two fact-subtree passes are the classic
    sketch shape (sketch_hist_quantiles' bounds+bin precedent); in
    production the threshold table is a once-per-corpus artifact and
    pass 2 is the only recurring cost.

    Accuracy contract, asserted IN-PLAN (q83's rank-interval guard):
    every threshold must be a data element whose rank lies within
    n/PCTL_ACC of q·n per nation — checked from the SAME scoring
    pass's lt/le indicator sums (re-aggregated at nation grain from
    the ≤125-row rollup, so the guard adds only tiny-side work), and
    a sketch regression turns the driver's rows-only green row into
    a hard query error.  vs exact q100: scores differ only where a
    customer's metric value TIES across a quintile boundary or sits
    within rank error of it — pinned customer-grain by the
    agreement-envelope pytest (tie-span + rank-error containment,
    tests/test_properties.py).  Rows-only by design: the sketch is
    engine-private (q83's precedent), so there is no DuckDB twin;
    the envelope test vs fully-oracle-backed q100 is the correctness
    story."""
    scored = _rfm_scores_approx(spark, sf_dir).withColumn(
        "segment",
        F.when(
            (F.col("r_score") >= 4) & (F.col("f_score") >= 4)
            & (F.col("m_score") >= 4),
            "champions",
        )
        .when((F.col("r_score") >= 4) & (F.col("f_score") <= 2), "new")
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 4),
              "at_risk")
        .when((F.col("r_score") <= 2) & (F.col("f_score") <= 2),
              "hibernating")
        .otherwise("core"),
    )
    ind = [
        c
        for m in _RFM_METRICS
        for i in range(len(_RFM_QS))
        for c in (f"lt_{m}_{i}", f"le_{m}_{i}")
    ]
    roll = scored.groupBy("n_name", "segment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("spend"), 2).alias("segment_spend"),
        F.round(F.avg("spend"), 6).alias("avg_spend"),
        *[F.sum(c).alias(c) for c in ind],
    )
    nat = roll.groupBy("n_name").agg(
        F.sum("n_customers").alias("n"),
        *[F.sum(c).alias(c) for c in ind],
    )
    e = _PCTL_EPS
    n = F.col("n")
    ok = None
    for m in _RFM_METRICS:
        for i, q in enumerate(_RFM_QS):
            c = (F.col(f"lt_{m}_{i}") + 1 <= (q + e) * n + 1) & (
                F.col(f"le_{m}_{i}") >= (q - e) * n - 1
            )
            ok = c if ok is None else (ok & c)
    guard = nat.select(
        "n_name", (F.assert_true(ok).isNull()).alias("passed")
    )
    return (
        roll.select(
            "n_name", "segment", "n_customers", "segment_spend",
            "avg_spend",
        )
        .join(F.broadcast(guard), "n_name")
        .orderBy("n_name", "segment")
    )


def q99_linear_attribution(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Multi-touch LINEAR attribution — the standard complement to
    q98's last-touch model: each purchase's value is split EQUALLY
    across ALL of the user's strictly-preceding non-purchase events
    (the touchpoint path), so early-funnel channels that last-touch
    starves get credit proportional to their presence in converting
    paths.  A purchase with no preceding touch credits the '(none)'
    direct-traffic bucket in full, exactly as in q98.

    Spark shape: ONE fact scan, ONE user-keyed shuffle serving BOTH
    window passes (they share the identical partition/order spec, so
    Catalyst plans one Exchange + one Sort): pass 1 counts each
    purchase's preceding touches over the q98 1-PRECEDING frame
    (same-ts touch counts only if its event_id precedes — the total
    (ts, event_id) order again) and derives its per-touch share;
    pass 2 gives every TOUCH the suffix sum of shares of the
    purchases AFTER it (1 FOLLOWING .. UNBOUNDED) — the join-free
    spelling of "each touch collects value/n from each later
    purchase", which a self-join would pay a second fact shuffle for.
    Then a ≤|types|-row channel rollup and a tiny sort.  At 100 TB:
    same single user-keyed shuffle as q98, same whale-user caveat
    (q62's diagnostics), map-side-combinable rollup.

    NULL-key policy: user_id IS NOT NULL on both engine sides (q98's
    docstring has the why).  NULL event_type rows (malformed
    telemetry — neither touch nor purchase) are excluded EXPLICITLY
    (ADVICE r14 #3): without the filter such a row falls through
    is_touch (NULL condition) and, when n_prior=0, lands its value in
    '(none)' as a pseudo-purchase — while the streaming twin tallied
    it as a NULL-channel touch, a batch≡stream divergence the test
    corpus (no NULL types) never exercised.  q98 already excludes the
    population by construction (its when() condition and
    type='purchase' filter both reject NULLs); here the filter makes
    the policy explicit on both engine sides and the streaming funcs
    drop the rows identically, so the contract covers the column's
    full domain.  Float discipline: shares and suffix sums are
    identical expression trees over identical frames in both engines;
    revenue rounds 4dp at output, conservation (Σ credited = Σ
    purchase value) is property-tested."""
    ev = read_table(
        spark, sf_dir, "events",
        ["event_id", "user_id", "ts", "event_type", "value"],
    ).filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_prec = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    w_foll = w_ord.rowsBetween(1, Window.unboundedFollowing)
    is_touch = F.col("event_type") != "purchase"
    staged = ev.withColumn(
        "n_prior",
        F.coalesce(
            F.sum(F.when(is_touch, 1).otherwise(0)).over(w_prec),
            F.lit(0),
        ),
    ).withColumn(
        "share",
        F.when(
            (~is_touch) & (F.col("n_prior") > 0),
            F.col("value") / F.col("n_prior"),
        ),
    )
    contrib = staged.withColumn(
        "credit", F.sum("share").over(w_foll)
    ).select(
        F.when(is_touch, F.col("event_type"))
        .otherwise(F.lit("(none)"))
        .alias("channel"),
        F.when(is_touch, F.coalesce(F.col("credit"), F.lit(0.0)))
        .when(F.col("n_prior") == 0, F.col("value"))
        .alias("contribution"),
    )
    return (
        contrib.filter(F.col("contribution").isNotNull())
        .groupBy("channel")
        .agg(
            F.count(
                F.when(F.col("contribution") > 0, 1)
            ).alias("n_credited"),
            F.round(F.sum("contribution"), 4).alias(
                "attributed_revenue"
            ),
        )
        .orderBy("channel")
    )
