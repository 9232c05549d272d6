"""Dashboard interaction loop (SURVEY §3.3, entry point C).

The reference dashboard reruns app.py top-to-bottom per widget change:
cached load -> sidebar filter -> six chart producers -> plotly. The
engine-side equivalent: build + cache the cleaned/derived frame ONCE
(the `@st.cache_data` analogue, S7), then serve each interaction by
running the six small §2.13 aggregations over the cached frame and
handing tiny pandas frames to the renderer (S6).

Re-render cost = six short Spark jobs over cached data; AQE coalesces
their tiny shuffles. At cluster scale the cache is MEMORY_AND_DISK
across executors and interactions are sub-second for any data size the
cache holds; beyond that, swap the cache for the date-partitioned
parquet written by pipeline.run_events_pipeline (partition pruning
serves the date filter).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .charts import (
    avg_value_by_hour,
    day_hour_heatmap,
    filtered_events,
    metrics_summary,
    top_users,
    type_donut,
    value_histogram,
)
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
    """Holds the cached base frame; one per served dashboard. The cache
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
            self._base = cache_materialized(
                read_table(self.spark, self.sf_dir, "events")
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
        each returned as a small pandas frame (the §2.13 shapes)."""
        f = filtered_events(self.base(), date_range, hour_range, type_labels)
        frames = {
            "metrics": metrics_summary(f),
            "top_users": top_users(f),
            "avg_value_by_hour": avg_value_by_hour(f),
            "value_histogram": value_histogram(f),
            "type_donut": type_donut(f),
            "day_hour_heatmap": day_hour_heatmap(f),
        }
        return {name: df.toPandas() for name, df in frames.items()}

    def close(self) -> None:
        if self._base is not None:
            self._base.unpersist()
            self._base = None
