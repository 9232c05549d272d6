"""Dashboard interaction loop (SURVEY §3.3, entry point C).

The reference dashboard reruns app.py top-to-bottom per widget change:
cached load -> sidebar filter -> six chart producers -> plotly. The
engine-side equivalent: build + cache the derived frame ONCE (the
`@st.cache_data` analogue, S7), projected to the six columns the charts
read (`charts.CHART_COLUMNS`; the `props` regex and the other derived
columns never reach the cache), then serve each interaction with the
sidebar filter and ONE grouping-sets aggregate over the cached frame
(`charts.chart_payload`), collected once and split into the six tiny
pandas frames on the driver (S6).

Re-render cost = one aggregate over cached data: at most three short
Spark jobs (its query stages), whatever the number of charts, and at
most ~260 collected rows, whatever the number of users (the top-10
user ranking runs inside the plan). At cluster scale the cache is
MEMORY_AND_DISK across executors and interactions are sub-second for
any data size the cache holds; beyond that, swap the cache for the
date-partitioned parquet written by pipeline.run_events_pipeline
(partition pruning serves the date filter).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

# The Spark-side producers and filtered_events stay importable from here:
# they are thin selections of the aggregate a render collects.
from .charts import (  # noqa: F401
    CHART_COLUMNS,
    avg_value_by_hour,
    chart_payload,
    day_hour_heatmap,
    filtered_events,
    metrics_summary,
    sidebar_filter,
    top_users,
    type_donut,
    value_histogram,
)
from .derive import derive_event_columns
from .io import cache_materialized, read_table


def _file_listing(path: str) -> tuple:
    """(path, size, mtime_ns) of every file at or under `path`: a
    rewrite of the input changes it, so it keys the cached frame."""
    if os.path.isfile(path):
        paths = [path]
    else:
        paths = sorted(
            os.path.join(d, f) for d, _, files in os.walk(path)
            for f in files
        )
    stats = [(p, os.stat(p)) for p in paths]
    return tuple((p, st.st_size, st.st_mtime_ns) for p, st in stats)


@dataclass
class DashboardSession:
    """Holds the cached derived frame; one per served dashboard. The cache
    is rebuilt whenever the events input's file listing changes, so a
    rewrite of the source (e.g. by the ETL) is never served stale."""

    spark: SparkSession
    sf_dir: str
    _base: DataFrame | None = field(default=None, repr=False)
    _listing: tuple = field(default=(), repr=False)

    def base(self) -> DataFrame:
        listing = _file_listing(os.path.join(self.sf_dir, "events.parquet"))
        if self._base is not None and listing != self._listing:
            self.close()
        if self._base is None:
            events = read_table(self.spark, self.sf_dir, "events")
            self._base = cache_materialized(
                derive_event_columns(events).select(*CHART_COLUMNS)
            )
            self._listing = listing
        return self._base

    def render_payload(
        self,
        date_range: tuple[str, str] | None = None,
        hour_range: tuple[int, int] | None = None,
        type_labels: list[str] | None = None,
    ) -> dict:
        """One widget interaction: filter + the six chart contracts,
        each returned as a small pandas frame (the §2.13 shapes), from
        one aggregate and one collect."""
        return chart_payload(
            sidebar_filter(self.base(), date_range, hour_range, type_labels)
        )

    def close(self) -> None:
        if self._base is not None:
            self._base.unpersist()
            self._base = None
