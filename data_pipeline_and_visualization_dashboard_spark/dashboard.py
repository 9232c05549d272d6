"""Dashboard interaction loop (SURVEY §3.3, entry point C).

The reference dashboard reruns app.py top-to-bottom per widget change:
cached load -> sidebar filter -> six chart producers -> plotly. The
engine-side equivalent serves each interaction in two tiers
(charts.py):

- Tier 1, once per input version (the `@st.cache_data` analogue, S7):
  derive the events and collect `charts.chart_cube`, the derived
  events summed into cells bounded by the chart domains (at most
  days × 25 × 6 × 51 rows, whatever the row count). Number the cube's
  sidebar cells, its distinct (event_date, at_midnight, event_hour,
  event_type_label), 0..n-1 (`charts.number_cells`), and cache each
  event as (user_id, cell) (`charts.user_cells`, one broadcast
  null-safe join with the numbered cells; `value`, the `props` regex
  and the other derived columns never reach the cache). Both are
  rebuilt together when the input's file listing changes, and a build
  is kept only if that listing is unchanged after both scans; if it
  moved, the build is done again. A build over an unchanged listing
  whose cache does not hold every row the cube counts is refused,
  since a row without a cell would silently leave the ranking.
- Tier 2, per render: the sidebar predicate is evaluated once, on the
  cube's cells, and the kept cells reach Spark as one binary literal,
  a byte per cell (`charts.select_cells`), which codegen hands to the
  generated code by reference, so every render runs the code
  compiled for the first (dates and hours written into
  the plan as literals cost three Janino compiles per touch, and the
  JIT's work on each new class). Then ONE Spark aggregate, the
  in-plan (user_id) ranking over the kept rows
  (`charts.collect_user_ranking`): at most three short Spark jobs,
  and at most 10 user rows plus `n_users` reach the driver, whatever
  the number of users. The metrics tile, avg-by-hour, histogram,
  donut and heatmap are folded from the same kept cube cells, in
  pandas, with no Spark work (`charts.chart_payload`, S6).

What reaches the driver: per render, at most 10 user rows plus
`n_users`, at any scale. Per input version, the cube, whose size is
linear in the number of days the data spans (at most 7,650 cells a
day), and each render folds the whole cube in pandas, so the driver's
per-render work is linear in it too. Measured on a 4-vCPU Xeon host:

  cube                           rows    pandas MiB*   fold ms/render
  perfbench seed 1 (100k rows)   44,350   3.4 / 8.0      57
  every cell of 31 days          237,150  17 / 41       105
  every cell of 365 days         2.79 M   205 / 483     612
  (* arrays only / counting each string object)

The cube pays off once one input version serves two or more renders:
building it is a second scan of the input plus a collect, ~1.2 CPU-s
on the seed-1 table (the cache's own scan is ~1.05 CPU-s), about the
CPU the two tiers save per render there (perfbench `dashboard`
`op_cpu_ms`, ~1 s). An input rewritten before every render pays for
both scans on every render. The cache is MEMORY_AND_DISK across
executors; beyond what it holds, swap it for the date-partitioned
parquet written by pipeline.run_events_pipeline (partition pruning
serves the date filter).

Known departure: the dashboard renders the events as read, uncleaned;
the reference cleans them first (app.py:17-52,101).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

# The Spark-side producers and filtered_events stay importable from here:
# registry entries q7-q11 serve them, and they give the frames a render
# folds on the driver.
from .charts import (  # noqa: F401
    avg_value_by_hour,
    chart_cube,
    chart_payload,
    collect_user_ranking,
    day_hour_heatmap,
    filtered_events,
    metrics_summary,
    number_cells,
    select_cells,
    top_users,
    type_donut,
    user_cells,
    value_histogram,
)
from .derive import derive_event_columns
from .io import cache_materialized, read_table, table_version


@dataclass
class DashboardSession:
    """Holds the cached frame and the collected chart cube; one per
    served dashboard. Both are rebuilt whenever the events input's file
    listing changes, so a rewrite of the source (e.g. by the ETL) is
    never served stale."""

    spark: SparkSession
    sf_dir: str
    _base: DataFrame | None = field(default=None, repr=False)
    _cube: pd.DataFrame | None = field(default=None, repr=False)
    _version: str = field(default="", repr=False)

    def base(self) -> DataFrame:
        # the cube and the cache are two scans of the input: a build is
        # kept only if the listing is the same after both as before, so
        # one render never mixes two versions of the input
        version = table_version(self.spark, self.sf_dir, "events")
        while self._base is None or version != self._version:
            self.close()
            events = derive_event_columns(
                read_table(self.spark, self.sf_dir, "events")
            )
            cube = number_cells(chart_cube(events).toPandas())
            base, rows = cache_materialized(user_cells(events, cube))
            built, version = version, table_version(
                self.spark, self.sf_dir, "events")
            if version != built:
                base.unpersist()
                continue
            # a row that found no cell would silently leave the ranking
            want = int(cube["cnt"].sum())
            if rows != want:
                base.unpersist()
                raise RuntimeError(
                    f"the events cache holds {rows} rows, the cube {want}")
            self._base, self._cube, self._version = base, cube, built
        return self._base

    def render_payload(
        self,
        date_range: tuple[str, str] | None = None,
        hour_range: tuple[int, int] | None = None,
        type_labels: list[str] | None = None,
    ) -> dict:
        """One widget interaction: the six chart contracts, each a small
        pandas frame (the §2.13 shapes), from one Spark aggregate (the
        top users) and a driver-side fold of the cube (the rest).
        Each date_range bound must fall on a midnight (a date, or a
        date-time at 00:00)."""
        cells, kept = select_cells(self.base(), self._cube, date_range,
                                   hour_range, type_labels)
        return chart_payload(cells, collect_user_ranking(kept))

    def close(self) -> None:
        if self._base is not None:
            self._base.unpersist()
            self._base = None
            self._cube = None
