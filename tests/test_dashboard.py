"""Entry point C: the dashboard rerun loop over a cached base frame."""

from __future__ import annotations

import pytest

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


@pytest.mark.parametrize("scheme", ["", "file://"], ids=["path", "uri"])
def test_dashboard_cache_follows_rewritten_input(spark, tmp_path, scheme):
    """A rewrite of the events input (the ETL re-running) must not be
    served from the stale cache: the next render sees the new rows,
    whether the input is a local path or a URI Spark reads through its
    Hadoop FileSystem."""
    import os
    import shutil

    import pyarrow.parquet as pq

    path = os.path.join(tmp_path, "events.parquet")
    shutil.copy(os.path.join(SF_SMOKE, "events.parquet"), path)
    table = pq.read_table(path)
    sess = DashboardSession(spark, scheme + str(tmp_path))
    try:
        p1 = sess.render_payload()
        assert p1["metrics"]["total_events"][0] == table.num_rows
        kept = table.num_rows // 3
        os.chmod(path, 0o644)
        pq.write_table(table.slice(0, kept), path)
        p2 = sess.render_payload()
        assert p2["metrics"]["total_events"][0] == kept
        # both tiers follow: the tile above comes from the cube, the top
        # users and n_users from the Spark aggregate over the cache
        users = table.slice(0, kept).column("user_id").to_pandas()
        counts = users.value_counts(dropna=False)
        assert (p2["top_users"]["event_cnt"].tolist()
                == sorted(counts, reverse=True)[:10])
        assert p2["metrics"]["n_users"][0] == users.nunique()
    finally:
        sess.close()


def test_chart_cube_is_bounded(spark):
    """The collected cube is bounded by the chart domains, not by the
    row count: at most days × 25 × 6 × 51 cells (hours plus the midnight
    split of hour 0, labels plus null, bins plus null), fewer than the
    cached rows, and its counts add up to them."""
    sess = DashboardSession(spark, SF_SMOKE)
    try:
        rows = sess.base().count()
        cube = sess._cube
        days = cube["event_date"].nunique(dropna=False)
        assert len(cube) < rows
        assert len(cube) <= days * 25 * 6 * 51
        assert cube["cnt"].sum() == rows
    finally:
        sess.close()


def test_dashboard_rebuilds_when_input_moves_during_build(spark, monkeypatch):
    """The cache and the cube are two scans of the input: a build during
    which the input's listing changes is not kept, so one render never
    mixes two versions of the input."""
    from data_pipeline_and_visualization_dashboard_spark import dashboard

    versions = iter(["v1", "v2", "v2", "v2"])
    monkeypatch.setattr(dashboard, "table_version", lambda *a: next(versions))
    builds = []
    cube = dashboard.chart_cube
    monkeypatch.setattr(dashboard, "chart_cube",
                        lambda df: builds.append(df) or cube(df))
    sess = DashboardSession(spark, SF_SMOKE)
    try:
        sess.base()
        assert len(builds) == 2 and sess._version == "v2"
        sess.base()
        assert len(builds) == 2
    finally:
        sess.close()


def test_dashboard_rebuilds_when_input_is_rewritten_during_build(
        spark, tmp_path, monkeypatch):
    """The same-named input file rewritten between the cube's scan and
    the cache's: that cache holds other rows than the cube counts, and
    the build is done again over the new input instead of refused."""
    import os
    import shutil

    import pyarrow.parquet as pq

    from data_pipeline_and_visualization_dashboard_spark import dashboard

    path = os.path.join(tmp_path, "events.parquet")
    shutil.copy(os.path.join(SF_SMOKE, "events.parquet"), path)
    table = pq.read_table(path)
    kept = table.num_rows // 3
    cells, builds = dashboard.user_cells, []

    def rewrite_first(events, cube):
        if not builds:
            os.chmod(path, 0o644)
            pq.write_table(table.slice(0, kept), path)
        builds.append(int(cube["cnt"].sum()))
        return cells(events, cube)

    monkeypatch.setattr(dashboard, "user_cells", rewrite_first)
    sess = DashboardSession(spark, str(tmp_path))
    try:
        p = sess.render_payload()
        assert builds == [table.num_rows, kept]
        assert p["metrics"]["total_events"][0] == kept
        assert sess.base().count() == kept and len(builds) == 2
    finally:
        sess.close()


def test_dashboard_refuses_a_cache_that_lost_rows(spark, monkeypatch):
    """A cached row that found no cube cell would silently leave the
    user ranking, so a build whose cache holds fewer rows than the cube
    counts is refused, and nothing of it is kept."""
    from data_pipeline_and_visualization_dashboard_spark import dashboard

    cells = dashboard.user_cells
    monkeypatch.setattr(dashboard, "user_cells",
                        lambda events, cube: cells(events, cube).limit(10))
    sess = DashboardSession(spark, SF_SMOKE)
    with pytest.raises(RuntimeError, match="cache holds 10 rows"):
        sess.base()
    assert sess._base is None and sess._cube is None


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
    # only the null-ts row has no date and no hour to fail
    (None, None, ["View"]),
    # exactly the end day's midnight row
    ((_END_DAY, _END_DAY), (0, 0), ["Click"]),
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


def test_render_reuses_generated_code(spark):
    """The sidebar state reaches Spark as one binary literal, which the
    generated code takes by reference: once two renders have run, a
    touch of the dates, the hours and the labels compiles no new code."""
    compiles = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())
    sess = DashboardSession(spark, SF_SMOKE)
    try:
        sess.render_payload(("2024-01-05", "2024-01-20"), (6, 18),
                            ["Click", "Purchase"])
        sess.render_payload(("2024-01-05", "2024-01-20"), (6, 18), ["Click"])
        before = compiles.getCount()
        for state in [(("2024-01-02", "2024-01-25"), (3, 21),
                       ["View", "Error"]),
                      (("2024-01-08", "2024-01-16"), (0, 11),
                       ["Sign Up", "Click", "Purchase"])]:
            assert sess.render_payload(*state)["metrics"][
                "total_events"][0] > 0
        assert compiles.getCount() == before
    finally:
        sess.close()


# --- the driver fold, without Spark ---------------------------------------

def _cube_rows():
    """Hand-built cube cells: the end day's midnight cell and its 00:30
    cell, a null-ts cell, a null-label cell, and a cell whose average is
    exactly 1/128 (a tie at the sixth decimal place)."""
    import pandas as pd

    nat = pd.NaT
    cells = [
        # event_date, at_midnight, hour, dow, label, bin,
        # cnt, sum_value, n_value, min_ts, max_ts
        ("2024-01-08", True, 0, "Monday", "Click", 1,
         1, 12.5, 1, "2024-01-08 00:00", "2024-01-08 00:00"),
        ("2024-01-08", False, 0, "Monday", "Click", 1,
         1, 13.0, 1, "2024-01-08 00:30", "2024-01-08 00:30"),
        (nat, False, None, None, "View", 0, 1, 7.0, 1, nat, nat),
        ("2024-01-02", False, 7, "Tuesday", None, 4,
         2, 85.0, 2, "2024-01-02 07:00", "2024-01-02 07:30"),
        ("2024-01-03", False, 5, "Wednesday", "Purchase", 0,
         128, 1.0, 128, "2024-01-03 05:00", "2024-01-03 05:59"),
    ]
    cube = pd.DataFrame(cells, columns=[
        "event_date", "at_midnight", "event_hour", "event_dow",
        "event_type_label", "bin", "cnt", "sum_value", "n_value",
        "min_ts", "max_ts"])
    for c in ("event_date", "min_ts", "max_ts"):
        cube[c] = pd.to_datetime(cube[c]).astype("datetime64[ns]")
    cube["event_hour"] = cube["event_hour"].astype("float64")
    return cube


def _users(rows=((3, 2, 2), (4, 1, 2))):
    import pandas as pd

    return pd.DataFrame(list(rows), columns=["user_id", "cnt", "n_users"],
                        dtype="int64")


def test_chart_payload_folds_cube_rows():
    """The driver fold on hand-built cube cells, no Spark: the midnight
    trap, the null-ts and null-label cells, an empty selection, and
    Spark's HALF_UP rounding where numpy and Python round half-even."""
    from data_pipeline_and_visualization_dashboard_spark.charts import (
        _cube_mask, chart_payload,
    )

    # the cube half of charts.select_cells, which also filters a Spark
    # frame by the kept cells
    def payload(cube, users, date_range=None, hour_range=None,
                type_labels=None):
        keep = _cube_mask(cube, date_range, hour_range, type_labels)
        return chart_payload(cube[keep], users)

    cube = _cube_rows()
    labels = ["Click", "View", "Purchase", "Sign Up", "Error"]

    # the end day's midnight cell counts, its 00:30 cell does not
    p = payload(cube, _users(), ("2024-01-07", "2024-01-08"))
    m = p["metrics"]
    assert m["total_events"][0] == 1 and m["avg_value"][0] == 12.5
    assert m["n_users"][0] == 2
    assert str(m["min_ts"][0]) == str(m["max_ts"][0]) == "2024-01-08 00:00:00"

    # a bound given as a date, a datetime or a date-time string at
    # midnight selects the same cells; the cube cannot cut a day at any
    # other time, so such a bound is refused
    import datetime as dt

    import pandas as pd

    for bounds in [(dt.date(2024, 1, 7), dt.date(2024, 1, 8)),
                   ("2024-01-07 00:00:00", pd.Timestamp("2024-01-08")),
                   (dt.datetime(2024, 1, 7), dt.datetime(2024, 1, 8))]:
        assert payload(cube, _users(), bounds)["metrics"].equals(m)
    with pytest.raises(ValueError, match="midnight"):
        payload(cube, _users(), ("2024-01-07", "2024-01-08 00:30"))

    # the null-ts cell survives only with no date and no hour filter,
    # and then forms the null-hour row and the (null, null) heatmap cell
    p = payload(cube, _users(), None, None, ["View"])
    hours = p["avg_value_by_hour"]
    assert hours["event_hour"].isna().all() and len(hours) == 1
    assert str(hours["event_hour"].dtype) == "float64"
    heat = p["day_hour_heatmap"]
    assert heat["event_dow"].tolist() == [None]
    assert heat["event_hour"].isna().all() and heat["event_cnt"][0] == 1
    for state in [(("2024-01-01", "2024-01-31"), None, ["View"]),
                  (None, (0, 23), ["View"])]:
        assert payload(cube, _users(), *state)[
            "metrics"]["total_events"][0] == 0

    # the null label is dropped by any IN list and by the donut
    p = payload(cube, _users(), None, None, labels)
    assert p["metrics"]["total_events"][0] == 131
    donut = payload(cube, _users())["type_donut"]
    assert donut["event_type_label"].tolist() == ["Purchase", "Click", "View"]
    assert donut["cnt"].tolist() == [128, 2, 1]

    # Spark's round(): HALF_UP, where half-even gives 0.007812
    assert round(1 / 128, 6) == 0.007812
    p = payload(cube, _users(), None, (5, 5), None)
    assert p["avg_value_by_hour"]["avg_value"].tolist() == [0.007813]
    assert p["metrics"]["avg_value"][0] == 0.007813
    assert p["metrics"]["total_value"][0] == 1.0
    assert str(p["avg_value_by_hour"]["event_hour"].dtype) == "int32"

    # an empty selection: one metrics row, zero counts, null aggregates,
    # and the dtypes test_dashboard_empty_selection pins
    p = payload(cube, _users(()), ("2030-01-01", "2030-01-31"))
    m = p["metrics"]
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
        "avg_value_by_hour": {"event_hour": "int32", "avg_value": "float64"},
        "value_histogram": {"bin": "int32", "cnt": "int64"},
        "type_donut": {"event_type_label": "object", "cnt": "int64"},
        "day_hour_heatmap": {"event_dow": "object", "event_hour": "int32",
                             "event_cnt": "int64"},
    }
    for name, dtypes in expected.items():
        assert len(p[name]) == 0, name
        assert {c: str(t) for c, t in p[name].dtypes.items()} == dtypes
