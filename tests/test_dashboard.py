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


# --- parity with DuckDB on crafted trap rows -----------------------------

_TYPES = ["click", "view", "purchase", "signup", "error"]
_ALL_LABELS = ["Click", "View", "Purchase", "Sign Up", "Error"]
_END_DAY = "2024-01-08"


def _write_trap_events(directory) -> str:
    """A small events table holding every trap the sidebar must keep:
    rows at 00:00:00 and 00:30 of the end day (only the first passes the
    midnight upper bound), a null user_id that leads the top 10, an
    unmapped event_type (null label), a null ts, a null value, and values
    at 0, at 500 and below 0 (all outside the histogram's open range)."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    start = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(300):
        rows.append((
            start + dt.timedelta(minutes=47 * i),
            None if i % 6 == 0 else i % 23 + 1,
            _TYPES[i % 5],
            (i * 37 % 101) * 4.75,
        ))
    end = dt.datetime.fromisoformat(_END_DAY)
    rows += [
        (end, 5, "click", 12.5),
        (end + dt.timedelta(minutes=30), 5, "click", 13.0),
        (start + dt.timedelta(hours=7), 3, "refund", 42.0),
        (start + dt.timedelta(hours=8), 4, "refund", 43.0),
        (None, 6, "view", 7.0),
        (start + dt.timedelta(hours=9), 7, "view", None),
        (start + dt.timedelta(hours=10), 8, "purchase", 0.0),
        (start + dt.timedelta(hours=11), 9, "purchase", 500.0),
        (start + dt.timedelta(hours=12), 10, "signup", -3.25),
    ]
    ts, user, etype, value = zip(*rows)
    table = pa.table({
        "event_id": pa.array(range(len(rows)), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(user, pa.int64()),
        "event_type": pa.array(etype, pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array(
            [f'{{"k": {i % 4}}}' for i in range(len(rows))], pa.string()
        ),
    })
    path = os.path.join(directory, "events.parquet")
    pq.write_table(table, path)
    return path


def _oracle_payload(path: str, date_range, hour_range, type_labels) -> dict:
    """The six frames in DuckDB SQL, each with its producer's ORDER BY
    (Spark sorts nulls first when ascending, last when descending)."""
    import duckdb

    from data_pipeline_and_visualization_dashboard_spark.charts import (
        HIST_BIN, HIST_HI, HIST_LO,
    )
    from data_pipeline_and_visualization_dashboard_spark.derive import (
        EVENT_TYPE_LABELS, WEEKDAYS,
    )

    label = "CASE event_type " + " ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in EVENT_TYPE_LABELS.items()
    ) + " END"
    dow_num = "CASE event_dow " + " ".join(
        f"WHEN '{d}' THEN {i}" for i, d in enumerate(WEEKDAYS, 1)
    ) + " END"
    where = ["TRUE"]
    if date_range is not None:
        lo, hi = date_range
        where.append(f"ts >= TIMESTAMP '{lo} 00:00:00' "
                     f"AND ts <= TIMESTAMP '{hi} 00:00:00'")
    if hour_range is not None:
        where.append(f"hour(ts) BETWEEN {hour_range[0]} AND {hour_range[1]}")
    if type_labels is not None:
        labels = ", ".join(repr(x) for x in type_labels) or "NULL"
        where.append(f"{label} IN ({labels})")
    src = f"""(SELECT *, CAST(hour(ts) AS INT) AS event_hour,
                      dayname(ts) AS event_dow, {label} AS event_type_label
               FROM read_parquet('{path}') WHERE {' AND '.join(where)})"""
    sql = {
        "metrics": f"""SELECT count(*) AS total_events,
            round(avg(value), 6) AS avg_value,
            round(sum(value), 4) AS total_value,
            count(DISTINCT user_id) AS n_users, min(ts) AS min_ts,
            max(ts) AS max_ts FROM {src}""",
        "top_users": f"""SELECT user_id, count(*) AS event_cnt FROM {src}
            GROUP BY user_id ORDER BY event_cnt DESC, user_id NULLS FIRST
            LIMIT 10""",
        "avg_value_by_hour": f"""SELECT event_hour,
            round(avg(value), 6) AS avg_value FROM {src}
            GROUP BY 1 ORDER BY 1 NULLS FIRST""",
        "value_histogram": f"""SELECT CAST(floor(value / {HIST_BIN}) AS INT)
            AS bin, count(*) AS cnt FROM {src}
            WHERE value > {HIST_LO} AND value < {HIST_HI}
            GROUP BY 1 ORDER BY 1""",
        "type_donut": f"""SELECT event_type_label, count(*) AS cnt FROM {src}
            WHERE event_type_label IS NOT NULL
            GROUP BY 1 ORDER BY cnt DESC, event_type_label""",
        "day_hour_heatmap": f"""SELECT event_dow, event_hour,
            count(*) AS event_cnt FROM {src} GROUP BY 1, 2
            ORDER BY {dow_num} NULLS FIRST, event_hour NULLS FIRST""",
    }
    con = duckdb.connect()
    try:
        frames = {k: con.execute(q).fetchdf() for k, q in sql.items()}
    finally:
        con.close()
    # DuckDB hands timestamps to pandas in microseconds, Spark in ns
    for df in frames.values():
        for c in df.columns:
            if str(df[c].dtype).startswith("datetime64"):
                df[c] = df[c].astype("datetime64[ns]")
    return frames


_TRAP_STATES = [
    (None, None, None),
    (("2024-01-02", _END_DAY), (0, 23), _ALL_LABELS),
    (("2024-01-01", _END_DAY), (6, 18), ["Click", "Purchase"]),
    (None, (0, 5), None),
]


def test_dashboard_matches_oracle_on_trap_rows(spark, tmp_path):
    """Every payload frame equals DuckDB's, column for column, dtype for
    dtype and row for row, over rows built to hit each sidebar trap."""
    import pandas.testing as pdt

    path = _write_trap_events(str(tmp_path))
    sess = DashboardSession(spark, str(tmp_path))
    try:
        for state in _TRAP_STATES:
            got = sess.render_payload(*state)
            want = _oracle_payload(path, *state)
            assert set(got) == set(want)
            for name, frame in want.items():
                pdt.assert_frame_equal(
                    got[name].reset_index(drop=True), frame,
                    check_exact=False, rtol=1e-9, atol=2e-6,
                    obj=f"{state} {name}",
                )
        # the traps really are in the data
        top = sess.render_payload()["top_users"]
        assert top["user_id"].isna().iloc[0]
        edge = sess.render_payload((_END_DAY, _END_DAY), None, None)
        assert edge["metrics"]["total_events"][0] == 1
    finally:
        sess.close()


def test_dashboard_empty_selection(spark, tmp_path):
    """A selection with no rows still yields the one-row metrics tile
    (zero counts, null aggregates) and five empty frames that keep their
    columns and dtypes."""
    _write_trap_events(str(tmp_path))
    sess = DashboardSession(spark, str(tmp_path))
    try:
        for state in [(("2030-01-01", "2030-01-31"), None, None),
                      (None, None, [])]:
            p = sess.render_payload(*state)
            m = p["metrics"]
            assert list(m.columns) == ["total_events", "avg_value",
                                       "total_value", "n_users",
                                       "min_ts", "max_ts"]
            assert len(m) == 1
            assert m["total_events"][0] == 0 and m["n_users"][0] == 0
            assert m[["avg_value", "total_value", "min_ts", "max_ts"]
                     ].isna().all(axis=None)
            assert {c: str(t) for c, t in m.dtypes.items()} == {
                "total_events": "int64", "avg_value": "float64",
                "total_value": "float64", "n_users": "int64",
                "min_ts": "datetime64[ns]", "max_ts": "datetime64[ns]",
            }
            expected = {
                "top_users": {"user_id": "int64", "event_cnt": "int64"},
                "avg_value_by_hour": {"event_hour": "int32",
                                      "avg_value": "float64"},
                "value_histogram": {"bin": "int32", "cnt": "int64"},
                "type_donut": {"event_type_label": "object", "cnt": "int64"},
                "day_hour_heatmap": {"event_dow": "object",
                                     "event_hour": "int32",
                                     "event_cnt": "int64"},
            }
            for name, dtypes in expected.items():
                assert len(p[name]) == 0, name
                assert {c: str(t) for c, t in p[name].dtypes.items()} == dtypes
                assert list(p[name].columns) == list(dtypes)
    finally:
        sess.close()


def test_render_runs_at_most_three_spark_jobs(spark):
    """One render is one aggregate: at most three Spark jobs (its query
    stages), never one or more per chart."""
    sc = spark.sparkContext
    group = "test-dashboard-render"
    sess = DashboardSession(spark, SF_SMOKE)
    try:
        sess.base()
        sc.setJobGroup(group, "one dashboard render")
        try:
            sess.render_payload(("2024-01-05", "2024-01-20"), (6, 18),
                                ["Click", "Purchase"])
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # the status tracker is fed by the listener bus, asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert 1 <= len(jobs) <= 3, f"{len(jobs)} jobs for one render"
    finally:
        sess.close()
