"""Dashboard chart-data contracts (SURVEY §2.13) + parameterized filter.

The reference dashboard (assignment1_dashboard/app.py) renders six
plotly charts, each consuming a tiny pre-aggregated frame produced from
the sidebar-filtered dataset (app.py:142-148). Rendering is out of
scope; the engine owns the small frames:

  metrics tiles   (A6)            app.py:109-115
  top-10 groups   (A7+O1+J3+O5)   app.py:150-193
  avg by hour     (A2+O2)         app.py:202-236
  histogram       (F10+A9)        app.py:246-275
  type donut      (A7+P6)         app.py:283-315
  day×hour heatmap(A3+O4)         app.py:323-373

The sidebar filter replicates the reference exactly, including two
documented traps (SURVEY §7.4 #3/#4): the date upper bound is MIDNIGHT
of the end day (later rows excluded), and unmapped type codes get a
null label which an IN-filter silently drops. It has one
implementation, `sidebar_filter`, applied either to raw events after
`derive_event_columns` (`filtered_events`) or to the dashboard's
cached derived frame (`CHART_COLUMNS`).

All six frames come from ONE grouping-sets aggregate over the filtered
frame (`chart_aggregate`): grouping sets (user_id), (event_hour), (bin),
(event_type_label), (event_dow, event_hour) and (), told apart by
grouping_id() so a null key is never mistaken for a rolled-up row. One
scan, one Expand, one partial+final hash aggregate; `chart_payload`
collects it once and splits the rows into the six pandas frames on the
driver. The per-chart table `CHARTS` (grouping set, columns, order)
drives both that split and the Spark-side producers (`top_users`, …,
registry entries q7-q11), which are thin selections of the same
aggregate.

Every collected row is bounded by the chart domains (24 hours, 50
bins, 5 labels, 7×24 cells, one total) except the (user_id) set, whose
size is the number of distinct users — unbounded at 100 TB. That set
is therefore ranked inside the plan, by a window partitioned by
grouping id, and only its top k rows (plus its non-null key count,
`n_users`) leave the cluster: the window runs over aggregate output,
one row per group, never over events, and the driver receives at most
~260 rows for any data size. The price is that one task sorts the
whole (user_id) set, one row per user (Spark's sorter spills past its
memory); the other sets' partitions hold at most a few hundred rows.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .derive import (
    EVENT_TYPE_LABELS,
    WEEKDAYS,
    derive_event_columns,
    weekday_num_expr,
)
from .io import read_table

HIST_LO, HIST_HI, HIST_BIN = 0.0, 500.0, 10.0
TOP_K = 10

# what the charts read of the derived events, and nothing else
CHART_COLUMNS = ["ts", "user_id", "value", "event_hour", "event_dow",
                 "event_type_label"]


def sidebar_filter(
    df: DataFrame,
    date_range: tuple[str, str] | None = None,
    hour_range: tuple[int, int] | None = None,
    type_labels: list[str] | None = None,
) -> DataFrame:
    """F7+F8+F9 sidebar filter (app.py:142-148) over a frame that
    already carries the derived columns.

    date_range upper bound is cast to midnight (the reference's
    `date_hi` trap — rows later that day are excluded, replicated
    deliberately). type_labels filters on the DERIVED label; null
    labels (unmapped codes) never match an IN list.
    """
    if date_range is not None:
        lo, hi = date_range
        df = df.filter(
            (F.col("ts") >= F.lit(lo).cast("timestamp"))
            & (F.col("ts") <= F.lit(hi).cast("timestamp"))
        )
    if hour_range is not None:
        df = df.filter(F.col("event_hour").between(*hour_range))
    if type_labels is not None:
        df = df.filter(F.col("event_type_label").isin(*type_labels))
    return df


def filtered_events(
    df: DataFrame,
    date_range: tuple[str, str] | None = None,
    hour_range: tuple[int, int] | None = None,
    type_labels: list[str] | None = None,
) -> DataFrame:
    """The sidebar filter over raw events: derive, then filter."""
    return sidebar_filter(
        derive_event_columns(df), date_range, hour_range, type_labels
    )


# --- one aggregate, six charts ------------------------------------------

@dataclass(frozen=True)
class Chart:
    keys: tuple[str, ...]  # its grouping set
    columns: tuple[tuple[str, str], ...]  # (frame column, aggregate column)
    # (aggregate column, ascending); ascending sorts nulls first, and no
    # descending column can be null, as in Spark's default orderings
    order: tuple[tuple[str, bool], ...] = ()
    drop_null_key: bool = False  # the histogram's clip, the donut's blank


CHARTS: dict[str, Chart] = {
    # A6 metric tiles: one row, even for an empty selection
    "metrics": Chart((), (
        ("total_events", "cnt"), ("avg_value", "avg_value"),
        ("total_value", "total_value"), ("n_users", "n_users"),
        ("min_ts", "min_ts"), ("max_ts", "max_ts"))),
    # A7+O1 top-k, deterministic tie-break (a null user_id is a group)
    "top_users": Chart(("user_id",), (
        ("user_id", "user_id"), ("event_cnt", "cnt")),
        (("cnt", False), ("user_id", True))),
    "avg_value_by_hour": Chart(("event_hour",), (
        ("event_hour", "event_hour"), ("avg_value", "avg_value")),
        (("event_hour", True),)),
    # F10+A9: fixed-width binning owned by the engine (the reference
    # delegates to plotly's nbins; A9 notes it is a data op); values
    # outside the open range (HIST_LO, HIST_HI) have no bin
    "value_histogram": Chart(("bin",), (("bin", "bin"), ("cnt", "cnt")),
                             (("bin", True),), drop_null_key=True),
    # A7+P6: the reference's value_counts drops the null label of
    # unmapped codes, so the donut does too
    "type_donut": Chart(("event_type_label",), (
        ("event_type_label", "event_type_label"), ("cnt", "cnt")),
        (("cnt", False), ("event_type_label", True)), drop_null_key=True),
    # A3+O4: long-form (dow, hour, count), weekday-ordered — the pivot
    # to a 7×24 grid stays display-side, like the reference's unstack
    "day_hour_heatmap": Chart(("event_dow", "event_hour"), (
        ("event_dow", "event_dow"), ("event_hour", "event_hour"),
        ("event_cnt", "cnt")),
        (("event_dow", True), ("event_hour", True))),
}

_KEYS = ["user_id", "event_hour", "bin", "event_type_label", "event_dow"]
# zero, not null, on the metrics row of an empty selection
_COUNTS = ("cnt", "n_users")


def _gid(keys: tuple[str, ...]) -> int:
    """grouping_id() of a grouping set: one bit per key of `_KEYS`,
    first key highest, set when the key is rolled up."""
    return sum(1 << (len(_KEYS) - 1 - i)
               for i, k in enumerate(_KEYS) if k not in keys)


def _spark_order(chart: Chart) -> list[Column]:
    def key(c: str) -> Column:
        return weekday_num_expr(F.col(c)) if c == "event_dow" else F.col(c)

    return [key(c).asc_nulls_first() if asc else key(c).desc_nulls_last()
            for c, asc in chart.order]


def chart_aggregate(df: DataFrame, k: int = TOP_K) -> DataFrame:
    """Every chart's rows from one grouping-sets aggregate over a
    filtered frame: a `gid` column names the set, the (user_id) set
    keeps its top `k` rows and all of its rows carry `n_users`, its
    count of non-null keys (= countDistinct(user_id))."""
    in_range = (F.col("value") > HIST_LO) & (F.col("value") < HIST_HI)
    binned = df.withColumn(
        "bin",
        F.when(in_range, F.floor(F.col("value") / F.lit(HIST_BIN)))
        .cast("int"),
    )
    agg = binned.groupingSets(
        [list(c.keys) for c in CHARTS.values()], *_KEYS
    ).agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("cnt"),
        # rounded here, not in pandas: the same values as separate
        # aggregates would give, to the bit
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.round(F.sum("value"), 4).alias("total_value"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )
    users = CHARTS["top_users"]
    # one partition, one order: both columns come from one sorted Window
    by_set = Window.partitionBy("gid").orderBy(*_spark_order(users))
    whole_set = by_set.rowsBetween(Window.unboundedPreceding,
                                   Window.unboundedFollowing)
    ranked = agg.withColumns({
        "n_users": F.count("user_id").over(whole_set),
        "rank": F.row_number().over(by_set),
    })
    keep = (F.col("gid") != _gid(users.keys)) | (F.col("rank") <= k)
    for c in CHARTS.values():
        if c.drop_null_key:
            keep &= ((F.col("gid") != _gid(c.keys))
                     | F.col(c.keys[0]).isNotNull())
    return ranked.filter(keep)


def _select(df: DataFrame, name: str, k: int = TOP_K) -> DataFrame:
    """One chart's frame, in Spark: its rows of `chart_aggregate`."""
    chart = CHARTS[name]
    return (
        chart_aggregate(df, k)
        .filter(F.col("gid") == _gid(chart.keys))
        .orderBy(*_spark_order(chart))
        .select(*[F.col(src).alias(col) for col, src in chart.columns])
    )


def metrics_summary(df: DataFrame) -> DataFrame:
    """A6 metric tiles: the () row, with n_users from the (user_id) set;
    one row (zero counts, null aggregates) for an empty selection."""
    chart = CHARTS["metrics"]
    agg = chart_aggregate(df)
    total = F.col("gid") == _gid(chart.keys)
    users = F.col("gid") == _gid(CHARTS["top_users"].keys)
    cols = []
    for col, src in chart.columns:
        v = F.max(F.when(users if src == "n_users" else total, F.col(src)))
        if src in _COUNTS:
            v = F.coalesce(v, F.lit(0))
        cols.append(v.alias(col))
    return agg.agg(*cols)


def top_users(df: DataFrame, k: int = TOP_K) -> DataFrame:
    return _select(df, "top_users", k)


def avg_value_by_hour(df: DataFrame) -> DataFrame:
    return _select(df, "avg_value_by_hour")


def value_histogram(df: DataFrame) -> DataFrame:
    return _select(df, "value_histogram")


def type_donut(df: DataFrame) -> DataFrame:
    return _select(df, "type_donut")


def day_hour_heatmap(df: DataFrame) -> DataFrame:
    return _select(df, "day_hour_heatmap")


# --- the same split on the driver ---------------------------------------

_PANDAS_INTS = {"int": "int32", "bigint": "int64"}


def _pandas_key(s: pd.Series) -> pd.Series:
    if s.name == "event_dow":
        return s.map(WEEKDAYS.index, na_action="ignore")
    return s


def chart_payload(df: DataFrame) -> dict[str, pd.DataFrame]:
    """The six chart frames of a filtered frame from one collect of
    `chart_aggregate`, each with the columns, dtypes and row order its
    Spark-side producer's toPandas() gives."""
    agg = chart_aggregate(df)
    ints = {f.name: _PANDAS_INTS[f.dataType.simpleString()]
            for f in agg.schema if f.dataType.simpleString() in _PANDAS_INTS}
    rows = agg.toPandas()
    # n_users is read off the (user_id) set's rows, as metrics_summary does
    users = rows.loc[rows["gid"] == _gid(CHARTS["top_users"].keys)]
    rows["n_users"] = users["n_users"].iloc[0] if len(users) else 0
    out = {}
    for name, chart in CHARTS.items():
        part = rows[rows["gid"] == _gid(chart.keys)]
        if chart.order:
            part = part.sort_values(
                [c for c, _ in chart.order],
                ascending=[asc for _, asc in chart.order],
                na_position="first", key=_pandas_key, kind="stable",
            )
        if not chart.keys:
            # an empty selection has no () row: one row of nulls, zero counts
            part = part.reset_index(drop=True).reindex([0])
            part = part.fillna(dict.fromkeys(_COUNTS, 0))
        frame = pd.DataFrame({
            col: part[src].to_numpy() for col, src in chart.columns
        })
        for col, src in chart.columns:
            # an int key that is null on other sets' rows came back as
            # float64; cast it back unless this frame itself has a null
            if src in ints and not frame[col].isna().any():
                frame[col] = frame[col].astype(ints[src])
        out[name] = frame
    return out


# --- fixed-parameter variants wired into the driver's oracle harness ----

_DATE_LO, _DATE_HI = "2024-01-05", "2024-01-20"
_HOUR_LO, _HOUR_HI = 6, 18
_LABELS = ["Click", "Purchase", "Sign Up"]

# Shared SQL fragments so the oracle filter is char-for-char the same
# semantics as filtered_events().
_LABEL_CASE = "CASE event_type " + " ".join(
    f"WHEN '{k}' THEN '{v}'" for k, v in EVENT_TYPE_LABELS.items()
) + " END"
_FILTER_SQL = (
    f"ts >= TIMESTAMP '{_DATE_LO} 00:00:00' "
    f"AND ts <= TIMESTAMP '{_DATE_HI} 00:00:00' "
    f"AND hour(ts) BETWEEN {_HOUR_LO} AND {_HOUR_HI} "
    f"AND {_LABEL_CASE} IN ({', '.join(repr(l) for l in _LABELS)})"
)


def _filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    return filtered_events(
        read_table(spark, sf_dir, "events"),
        date_range=(_DATE_LO, _DATE_HI),
        hour_range=(_HOUR_LO, _HOUR_HI),
        type_labels=_LABELS,
    )


def q7_filtered_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return metrics_summary(_filtered(spark, sf_dir))


def q8_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    return top_users(_filtered(spark, sf_dir))


def q9_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return value_histogram(_filtered(spark, sf_dir))


def q10_type_donut(spark: SparkSession, sf_dir: str) -> DataFrame:
    return type_donut(_filtered(spark, sf_dir))


def q11_day_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return day_hour_heatmap(_filtered(spark, sf_dir))


def q12_derived_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P6 projection surface: every derived column over raw events
    (unfiltered), hashed row-by-row against the oracle."""
    df = derive_event_columns(read_table(spark, sf_dir, "events"))
    return df.select(
        "event_id",
        "event_hour",
        "event_dow",
        "props_k",
        "event_type_label",
        # deliberately NOT rounded: row-level IEEE ops on identical
        # inputs give bit-identical doubles in Spark and DuckDB, while
        # round() implementations disagree on near-halfway values
        "value_per_k",
        "dow_num",
    )


ORACLE_SQL: dict[str, str] = {
    "q7_filtered_metrics": f"""
        SELECT count(*) AS total_events,
               round(avg(value), 6) AS avg_value,
               round(sum(value), 4) AS total_value,
               count(DISTINCT user_id) AS n_users,
               min(ts) AS min_ts, max(ts) AS max_ts
        FROM events WHERE {_FILTER_SQL}
    """,
    "q8_top_users": f"""
        SELECT user_id, count(*) AS event_cnt
        FROM events WHERE {_FILTER_SQL}
        GROUP BY user_id ORDER BY event_cnt DESC, user_id LIMIT 10
    """,
    "q9_value_histogram": f"""
        SELECT CAST(floor(value / {HIST_BIN}) AS INT) AS bin,
               count(*) AS cnt
        FROM events
        WHERE {_FILTER_SQL} AND value > {HIST_LO} AND value < {HIST_HI}
        GROUP BY 1 ORDER BY 1
    """,
    "q10_type_donut": f"""
        SELECT {_LABEL_CASE} AS event_type_label, count(*) AS cnt
        FROM events WHERE {_FILTER_SQL}
        GROUP BY 1 HAVING event_type_label IS NOT NULL
        ORDER BY cnt DESC, event_type_label
    """,
    "q11_day_hour_heatmap": f"""
        SELECT dayname(ts) AS event_dow, CAST(hour(ts) AS INT) AS event_hour,
               count(*) AS event_cnt
        FROM events WHERE {_FILTER_SQL}
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "q12_derived_events": f"""
        SELECT event_id,
               CAST(hour(ts) AS INT) AS event_hour,
               dayname(ts) AS event_dow,
               CAST(nullif(regexp_extract(props, '"k":\\s*(\\d+)', 1), '')
                    AS INT) AS props_k,
               {_LABEL_CASE} AS event_type_label,
               CASE WHEN CAST(nullif(regexp_extract(props,
                         '"k":\\s*(\\d+)', 1), '') AS INT) > 0
                    THEN value / CAST(nullif(regexp_extract(props,
                         '"k":\\s*(\\d+)', 1), '') AS INT)
                    ELSE 0.0 END AS value_per_k,
               CAST(CASE dayname(ts)
                    WHEN 'Monday' THEN 1 WHEN 'Tuesday' THEN 2
                    WHEN 'Wednesday' THEN 3 WHEN 'Thursday' THEN 4
                    WHEN 'Friday' THEN 5 WHEN 'Saturday' THEN 6
                    WHEN 'Sunday' THEN 7 END AS INT) AS dow_num
        FROM events
    """,
}

QUERIES = {
    "q7_filtered_metrics": q7_filtered_metrics,
    "q8_top_users": q8_top_users,
    "q9_value_histogram": q9_value_histogram,
    "q10_type_donut": q10_type_donut,
    "q11_day_hour_heatmap": q11_day_hour_heatmap,
    "q12_derived_events": q12_derived_events,
}
