"""Entry point C: the dashboard rerun loop over a cached base frame."""

from __future__ import annotations

from data_pipeline_and_visualization_dashboard_spark.dashboard import (
    DashboardSession,
)
from tests.conftest import SF_SMOKE


def test_dashboard_payload_shapes(spark):
    sess = DashboardSession(spark, SF_SMOKE)
    try:
        payload = sess.render_payload(
            date_range=("2024-01-05", "2024-01-20"),
            hour_range=(6, 18),
            type_labels=["Click", "Purchase"],
        )
        assert set(payload) == {
            "metrics", "top_users", "avg_value_by_hour",
            "value_histogram", "type_donut", "day_hour_heatmap",
        }
        assert len(payload["metrics"]) == 1
        assert len(payload["top_users"]) <= 10
        assert len(payload["type_donut"]) <= 5
        assert payload["avg_value_by_hour"]["event_hour"].between(6, 18).all()
        # second interaction reuses the cache and narrows correctly
        p2 = sess.render_payload(type_labels=["Click"])
        assert set(p2["type_donut"]["event_type_label"]) <= {"Click"}
        assert (
            p2["metrics"]["total_events"][0]
            <= sess.base().count()
        )
    finally:
        sess.close()


def test_dashboard_cache_follows_rewritten_input(spark, tmp_path):
    """A rewrite of the events input (the ETL re-running) must not be
    served from the stale cache: the next render sees the new rows."""
    import os
    import shutil

    import pyarrow.parquet as pq

    path = os.path.join(tmp_path, "events.parquet")
    shutil.copy(os.path.join(SF_SMOKE, "events.parquet"), path)
    table = pq.read_table(path)
    sess = DashboardSession(spark, str(tmp_path))
    try:
        p1 = sess.render_payload()
        assert p1["metrics"]["total_events"][0] == table.num_rows
        kept = table.num_rows // 3
        os.chmod(path, 0o644)
        pq.write_table(table.slice(0, kept), path)
        p2 = sess.render_payload()
        assert p2["metrics"]["total_events"][0] == kept
    finally:
        sess.close()
