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
null label which an IN-filter silently drops. `sidebar_filter` applies
it in Spark, to raw events after `derive_event_columns`
(`filtered_events`, registry entries q7-q11); `_cube_mask` spells the
same predicate on the cube's keys, and it alone serves the dashboard.

The dashboard serves a render in two tiers (dashboard.DashboardSession):

- Tier 1, once per input version: `chart_cube` sums the derived events
  into cells keyed by (event_date, at_midnight, event_hour, event_dow,
  event_type_label, bin), each carrying cnt, sum and count of value,
  and min/max ts, and the dashboard collects them to the driver. The
  chart domains bound the cube at any row count: at most
  days × 25 × 6 × 51 cells (24 hours plus the midnight split of hour
  0, five labels and null, 50 bins and null). So it grows linearly
  with the date span, and so does the fold of it that each render
  runs on the driver (dashboard.py gives measured sizes and costs).
  `number_cells` numbers the cube's sidebar cells (its distinct
  CELL_KEYS), and `user_cells` gives each event its cell, for the
  (user_id, cell) cache.
- Tier 2, per render: `select_cells` evaluates the sidebar once, on
  the cube (`_cube_mask`), and keeps the cached rows whose cell passes
  by one binary literal, a byte per cell, so the generated code is the
  same for every sidebar state; then `collect_user_ranking`, the one
  Spark aggregate. The (user_id) set
  has about as many groups as the data has users, so it stays in the
  cluster and is ranked in-plan: only its top k rows reach the
  driver, with `n_users` observed on the way.

`chart_payload` then folds the cube cells that pass the sidebar into
the metrics tile, avg-by-hour, histogram, donut and heatmap in pandas,
with no Spark work, and takes the top users from tier 2. Averages and
totals round like Spark's `round`: HALF_UP on the double's shortest
decimal. The cube's sums add in another order than a scan does, so
they equal Spark's and DuckDB's within rounding noise (the oracle
tolerance is rel 1e-9, abs 2e-6), not to the bit.

The per-chart table `CHARTS` (keys, columns, order, null-key drop)
drives both that fold and the Spark-side producers (`metrics_summary`,
`top_users`, …, registry entries q7-q11), which group a filtered frame
by the chart's keys directly.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Context, Decimal

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from .derive import WEEKDAYS, derive_event_columns, weekday_num_expr
from .io import read_table

HIST_LO, HIST_HI, HIST_BIN = 0.0, 500.0, 10.0
TOP_K = 10

# the cube's keys that the sidebar predicate reads: a render keeps or
# drops each distinct combination of them, a cell, whole
CELL_KEYS = ["event_date", "at_midnight", "event_hour", "event_type_label"]


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


# --- the per-chart table ------------------------------------------------

@dataclass(frozen=True)
class Chart:
    keys: tuple[str, ...]  # what it groups by
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


def _binned(df: DataFrame) -> DataFrame:
    in_range = (F.col("value") > HIST_LO) & (F.col("value") < HIST_HI)
    return df.withColumn(
        "bin",
        F.when(in_range, F.floor(F.col("value") / F.lit(HIST_BIN)))
        .cast("int"),
    )


def _spark_order(chart: Chart) -> list[Column]:
    def key(c: str) -> Column:
        return weekday_num_expr(F.col(c)) if c == "event_dow" else F.col(c)

    return [key(c).asc_nulls_first() if asc else key(c).desc_nulls_last()
            for c, asc in chart.order]


# --- Spark side: tier 1, tier 2 and the producers -----------------------

def _with_day(df: DataFrame) -> DataFrame:
    """event_date, the day's midnight, a timestamp (so it reaches pandas
    as datetime64 and not as Python objects), and at_midnight, whether
    ts is that midnight (false for a null ts)."""
    ts, day = F.col("ts"), F.date_trunc("day", "ts")
    return df.select("*", day.alias("event_date"),
                     F.coalesce(ts == day, F.lit(False)).alias("at_midnight"))


def chart_cube(df: DataFrame) -> DataFrame:
    """Tier 1: a derived-events frame summed into cube cells, one row
    per (event_date, at_midnight, event_hour, event_dow,
    event_type_label, bin), with cnt, sum_value, n_value (the count of
    non-null values), min_ts and max_ts."""
    return _binned(_with_day(df)).groupBy(
        "event_date", "at_midnight", "event_hour", "event_dow",
        "event_type_label", "bin",
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("value").alias("sum_value"),
        F.count("value").alias("n_value"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )


def number_cells(cube: pd.DataFrame) -> pd.DataFrame:
    """Tier 1: the collected cube with `cell`, its CELL_KEYS
    combination numbered 0..n-1 (a null key is one value among the
    others)."""
    return cube.assign(
        cell=cube.groupby(CELL_KEYS, dropna=False, sort=False).ngroup())


def user_cells(events: DataFrame, cube: pd.DataFrame) -> DataFrame:
    """Tier 1: (user_id, cell) per derived event, its cell found by one
    broadcast null-safe join with the cells of the numbered `cube`. An
    event whose keys the cube lacks finds no cell and has no row."""
    keyed = _with_day(events)
    schema = keyed.select(*CELL_KEYS).schema.add("cell", IntegerType(), False)
    cells = events.sparkSession.createDataFrame(
        cube[CELL_KEYS + ["cell"]].drop_duplicates("cell"), schema)
    on = [keyed[k].eqNullSafe(cells[k]) for k in CELL_KEYS]
    return keyed.join(F.broadcast(cells), on).select("user_id", "cell")


def select_cells(
    df: DataFrame,
    cube: pd.DataFrame,
    date_range: tuple[str, str] | None = None,
    hour_range: tuple[int, int] | None = None,
    type_labels: list[str] | None = None,
) -> tuple[pd.DataFrame, DataFrame]:
    """Tier 2: one sidebar state, evaluated once on the numbered `cube`
    (`_cube_mask`): the cube rows that pass it, for `chart_payload`,
    and the rows of the (user_id, cell) frame `df` whose cell is one of
    theirs, for `collect_user_ranking`. The kept cells reach Spark as
    one binary literal, a byte per cell, and codegen hands a binary
    literal to the generated code by reference: every sidebar state
    runs the code compiled for the first. (Bytes, not a '0'/'1' string:
    a string's substr walks it from its start, once per row.)"""
    keep = _cube_mask(cube, date_range, hour_range, type_labels)
    mask = np.zeros(cube["cell"].nunique(), np.uint8)
    mask[cube["cell"][keep].to_numpy()] = 1
    byte = F.lit(bytearray(mask)).substr(F.col("cell") + 1, F.lit(1))
    return cube[keep], df.filter(byte == F.lit(bytearray(b"\x01")))


def collect_user_ranking(df: DataFrame, k: int = TOP_K) -> pd.DataFrame:
    """Tier 2: the (user_id) set of a filtered frame, ranked in-plan and
    collected: its top `k` (user_id, cnt) rows in the top_users order,
    each carrying `n_users`, the set's count of non-null keys
    (= countDistinct of user_id). The top k is taken in the cluster
    (TakeOrderedAndProject: each partition's top k, then one merge of
    those), so k rows reach the driver at any data size; `n_users` is
    observed (CollectMetrics) as the set streams into it, with no second
    pass."""
    users = Observation()
    top = (
        df.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
        .observe(users, F.count("user_id").alias("n_users"))
        .orderBy(*_spark_order(CHARTS["top_users"]))
        .limit(k)
        .toPandas()
    )
    return top.assign(n_users=users.get["n_users"])


def _spark_chart(df: DataFrame, name: str, k: int = TOP_K) -> DataFrame:
    """One chart's frame, in Spark: a filtered frame grouped by the
    chart's keys, with only the aggregates the chart shows; the top
    users are the first `k` rows."""
    chart = CHARTS[name]
    aggregates = {
        "cnt": F.count(F.lit(1)),
        "avg_value": F.round(F.avg("value"), 6),
        "total_value": F.round(F.sum("value"), 4),
        "n_users": F.count_distinct("user_id"),
        "min_ts": F.min("ts"),
        "max_ts": F.max("ts"),
    }
    agg = _binned(df).groupBy(*chart.keys).agg(*[
        aggregates[src].alias(src)
        for _, src in chart.columns if src in aggregates
    ])
    if chart.drop_null_key:
        agg = agg.filter(F.col(chart.keys[0]).isNotNull())
    if chart.order:
        agg = agg.orderBy(*_spark_order(chart))
    if name == "top_users":
        agg = agg.limit(k)
    return agg.select(*[F.col(src).alias(col) for col, src in chart.columns])


def metrics_summary(df: DataFrame) -> DataFrame:
    """A6 metric tiles: one row (zero counts, null aggregates for an
    empty selection)."""
    return _spark_chart(df, "metrics")


def top_users(df: DataFrame, k: int = TOP_K) -> DataFrame:
    return _spark_chart(df, "top_users", k)


def avg_value_by_hour(df: DataFrame) -> DataFrame:
    return _spark_chart(df, "avg_value_by_hour")


def value_histogram(df: DataFrame) -> DataFrame:
    return _spark_chart(df, "value_histogram")


def type_donut(df: DataFrame) -> DataFrame:
    return _spark_chart(df, "type_donut")


def day_hour_heatmap(df: DataFrame) -> DataFrame:
    return _spark_chart(df, "day_hour_heatmap")


# --- driver side: the six frames from the cube and the user ranking -----

# the frames' int and string columns, typed as Spark's producers'
# toPandas() types them: an int column that holds a null is float64, a
# string column is object with None for null
_DTYPES = {"cnt": "int64", "n_users": "int64", "user_id": "int64",
           "event_hour": "int32", "bin": "int32",
           "event_dow": "object", "event_type_label": "object"}
_FOLD = {"cnt": "sum", "sum_value": "sum", "n_value": "sum",
         "min_ts": "min", "max_ts": "max"}
_WIDE = Context(prec=400)  # room for any double's digits at 6 places


def _spark_round(s: pd.Series, places: int) -> pd.Series:
    """Spark's round() of doubles: HALF_UP on each double's shortest
    decimal, the digits of Double.toString that Scala's BigDecimal(d)
    reads (so 0.285 rounds to 0.29 at 2 places, though the double lies
    below 0.285), not numpy's or Python's half-even."""
    unit = Decimal(1).scaleb(-places)

    def one(x: float) -> float:
        if not math.isfinite(x):
            return x
        return float(Decimal(repr(float(x))).quantize(
            unit, ROUND_HALF_UP, context=_WIDE))

    return pd.Series([one(x) for x in s], index=s.index, dtype="float64")


def _cube_mask(
    cube: pd.DataFrame,
    date_range: tuple[str, str] | None,
    hour_range: tuple[int, int] | None,
    type_labels: list[str] | None,
) -> pd.Series:
    """`sidebar_filter` on the cube's keys: ts >= lo is event_date >= lo,
    and ts <= midnight of hi is event_date < hi or hi's midnight cell.
    Each date_range bound is anything `pd.Timestamp` reads (an ISO
    string, a date, a datetime) that falls on a midnight: the cube
    cannot split a day at any other time."""
    keep = pd.Series(True, index=cube.index)
    if date_range is not None:
        lo, hi = (pd.Timestamp(d) for d in date_range)
        for bound in (lo, hi):
            if bound.tz is not None or bound != bound.normalize():
                raise ValueError(
                    f"date_range bound {bound} is not a naive midnight")
        day = cube["event_date"]
        keep &= (day >= lo) & ((day < hi)
                               | ((day == hi) & cube["at_midnight"]))
    if hour_range is not None:
        keep &= cube["event_hour"].between(*hour_range)
    if type_labels is not None:
        label = cube["event_type_label"]
        keep &= label.notna() & label.isin(list(type_labels))
    return keep


def _fold(cells: pd.DataFrame, keys: tuple[str, ...]) -> pd.DataFrame:
    """Cube cells summed to `keys` (a null key is a group; no keys give
    one row, even from no cells), with Spark's rounded avg and sum,
    null where the group has no value."""
    if keys:
        agg = (cells.groupby(list(keys), dropna=False, sort=False)
               .agg(_FOLD).reset_index())
    else:
        agg = pd.DataFrame({c: [cells[c].agg(f)] for c, f in _FOLD.items()})
    has = agg["n_value"] > 0
    agg["avg_value"] = _spark_round(
        agg["sum_value"] / agg["n_value"].where(has), 6)
    agg["total_value"] = _spark_round(agg["sum_value"].where(has), 4)
    return agg


def _pandas_key(s: pd.Series) -> pd.Series:
    if s.name == "event_dow":
        return s.map(WEEKDAYS.index, na_action="ignore")
    return s


def chart_payload(
    cells: pd.DataFrame, users: pd.DataFrame
) -> dict[str, pd.DataFrame]:
    """The six chart frames of one sidebar state, each with the columns,
    dtypes and row order its Spark-side producer's toPandas() gives:
    the top users and `n_users` from `users` (`collect_user_ranking` of
    the filtered frame), the other charts folded from `cells`, the cube
    cells (`chart_cube`, collected) that pass the sidebar
    (`select_cells`)."""
    n_users = users["n_users"].iloc[0] if len(users) else 0
    out = {}
    for name, chart in CHARTS.items():
        if name == "top_users":
            part = users
        else:
            part = _fold(cells, chart.keys).assign(n_users=n_users)
        if chart.drop_null_key:
            part = part[part[chart.keys[0]].notna()]
        if chart.order:
            part = part.sort_values(
                [c for c, _ in chart.order],
                ascending=[asc for _, asc in chart.order],
                na_position="first", key=_pandas_key, kind="stable",
            )
        frame = pd.DataFrame({
            col: part[src].to_numpy() for col, src in chart.columns
        })
        for col, src in chart.columns:
            s, dtype = frame[col], _DTYPES.get(src)
            if dtype == "object":
                frame[col] = s.astype(object).where(s.notna(), None)
            elif dtype:
                frame[col] = s.astype(dtype if s.notna().all() else "float64")
        out[name] = frame
    return out


# --- fixed-parameter variants wired into the driver's oracle harness ----

_DATE_LO, _DATE_HI = "2024-01-05", "2024-01-20"
_HOUR_LO, _HOUR_HI = 6, 18
_LABELS = ["Click", "Purchase", "Sign Up"]


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
