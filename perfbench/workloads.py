"""The benchmark's workloads.

Each workload makes its inputs from the seed (gen.py), prepares the
program the way a user would before the first request, then hands the
runner an endless stream of ops. An op is one user-visible call into the
package's public API; its output is kept and checked against an
independent oracle after the timed window closes.

Both are closed loops with one client: the next op is sent when the
previous one returns.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import subprocess
import sys
from collections.abc import Callable, Iterator

import gen
from spans import Tracer, job_stats

EVENT_FILES = 8

Op = tuple[str, Callable[[], object]]  # label, call


class CheckFailed(Exception):
    pass


def _norm(value):
    if value is None:
        return None
    if isinstance(value, float):
        return None if math.isnan(value) else value
    if value != value:  # NaT
        return None
    return str(value)


def _rows(records: list[dict], columns: list[str]) -> list[tuple]:
    rows = [tuple(_norm(r[c]) for c in columns) for r in records]
    return sorted(rows, key=lambda row: [
        (0, round(v, 3)) if isinstance(v, float) else (1, str(v)) for v in row
    ])


def compare(got: list[dict], want: list[dict], columns: list[str], what: str) -> None:
    """Order-insensitive equality; floats to 2e-6 (the frames round to 4-6
    places, and Spark and DuckDB may round a halfway value apart)."""
    if len(got) != len(want):
        raise CheckFailed(f"{what}: {len(got)} rows, oracle {len(want)}")
    for g, w in zip(_rows(got, columns), _rows(want, columns)):
        for c, a, b in zip(columns, g, w):
            same = (math.isclose(a, b, rel_tol=1e-9, abs_tol=2e-6)
                    if isinstance(a, float) and isinstance(b, float) else a == b)
            if not same:
                raise CheckFailed(f"{what}.{c}: {a!r} != oracle {b!r}")


def _write_events(seed: int, out: str, files: int) -> str:
    subprocess.run([sys.executable, gen.__file__, "--seed", str(seed),
                    "--out", out, "--files", str(files)],
                   check=True, stdout=subprocess.DEVNULL)
    return os.path.join(out, "events.parquet")


def _duckdb(views: dict[str, str]):
    import duckdb

    con = duckdb.connect()
    for name, path in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _oracle(con, sql: str) -> tuple[list[dict], list[str]]:
    df = con.execute(sql).fetchdf()
    return df.to_dict("records"), list(df.columns)


class Workload:
    name = ""
    root_span = ""  # the span around each op
    # A run times whole blocks of BLOCK ops. Ops keep getting cheaper for
    # dozens of ops after the first (JIT), so a run is a fixed number of
    # blocks, sized from --seconds by OP_COST_S, a wall time per op at
    # the slow end of what the shared 4-vCPU VM the benchmark was built
    # on gives: every run then takes its median at the same points of
    # that curve, however fast the host is that run.
    BLOCK = 1
    OP_COST_S = 1.0

    def __init__(self, seed: int, work_dir: str, tracer: Tracer) -> None:
        self.seed = seed
        self.work = work_dir
        self.tracer = tracer
        self.spark = None

    def generate(self) -> str:
        """Write the inputs; return their hash."""
        raise NotImplementedError

    def prepare(self, spark) -> None:
        self.spark = spark

    def n_ops(self, seconds: float) -> int:
        """Ops in a run of about ``seconds`` at the reference cost."""
        return self.BLOCK * max(1, math.ceil(seconds / (self.OP_COST_S * self.BLOCK)))

    def ops(self) -> Iterator[Op]:
        raise NotImplementedError

    def check(self, label: str, out: object) -> None:
        raise NotImplementedError

    def install_trace(self) -> None:
        """Wrap the layer functions this workload's ops reach."""

    def op_stats(self, group: str) -> dict[str, float]:
        """Per-op counters read after a traced op."""
        return {}

    def layer_metrics(self, latencies_s: list[float], outs: list) -> dict[str, float]:
        """Per-layer values that are not span self times."""
        return {}

    def close(self) -> None:
        pass


def _spark_job_stats(spark, group: str, layer: str) -> dict[str, float]:
    jobs, tasks, failed = job_stats(spark.sparkContext, group)
    return {f"{layer}.spark_jobs": jobs, f"{layer}.spark_tasks": tasks,
            f"{layer}.failed_tasks": failed}


class Dashboard(Workload):
    """Sidebar interactions through DashboardSession over a cached
    events table."""

    name = "dashboard"
    root_span = "dashboard.render_payload"
    # a block is one sidebar session (gen.make_interactions): the
    # default state, then three widget touches, so every run times the
    # same mix of renders, whatever the seed
    BLOCK = 4
    OP_COST_S = 6.0
    PRODUCERS = ["metrics_summary", "top_users", "avg_value_by_hour",
                 "value_histogram", "type_donut", "day_hour_heatmap"]
    session = None
    _oracle_con = None

    def generate(self) -> str:
        self.events = _write_events(self.seed, self.work, 1)
        self.interactions = gen.make_interactions(self.seed, 200, self.BLOCK)
        return gen.input_hash([self.events], self.interactions)

    def prepare(self, spark) -> None:
        from data_pipeline_and_visualization_dashboard_spark import dashboard

        super().prepare(spark)
        self.session = dashboard.DashboardSession(spark, self.work)
        self.session.base()
        # opening the dashboard: the first page shows the default state
        self._render(gen.DEFAULT_STATE)
        self._oracle_cache: dict[str, dict] = {}

    def _render(self, state: dict) -> dict:
        return self.session.render_payload(
            tuple(state["date_range"]), tuple(state["hour_range"]),
            list(state["type_labels"]))

    def ops(self) -> Iterator[Op]:
        for state in self.interactions:
            yield ("default" if state["widget"] == "default" else "touch",
                   lambda s=state: (s, self._render(s)))

    def install_trace(self) -> None:
        from data_pipeline_and_visualization_dashboard_spark import charts, dashboard

        t = self.tracer
        t.wrap(dashboard, "read_table", "io.read_table")
        t.wrap(dashboard, "cache_materialized", "io.cache_materialized")
        t.wrap(dashboard, "filtered_events", "charts.filtered_events")
        t.wrap(charts, "derive_event_columns", "derive.derive_event_columns")
        for p in self.PRODUCERS:
            t.wrap(dashboard, p, f"charts.{p}", exec_method="toPandas")

    def op_stats(self, group: str) -> dict[str, float]:
        return _spark_job_stats(self.spark, group, "dashboard")

    def _oracle_frames(self, state: dict) -> dict:
        from data_pipeline_and_visualization_dashboard_spark.charts import (
            HIST_BIN, HIST_HI, HIST_LO)
        from data_pipeline_and_visualization_dashboard_spark.derive import (
            EVENT_TYPE_LABELS)

        if self._oracle_con is None:
            self._oracle_con = _duckdb({"events": f"{self.events}/*.parquet"})
        label = "CASE event_type " + " ".join(
            f"WHEN '{k}' THEN '{v}'" for k, v in EVENT_TYPE_LABELS.items()
        ) + " END"
        (lo, hi), (h_lo, h_hi) = state["date_range"], state["hour_range"]
        where = (
            f"ts >= TIMESTAMP '{lo} 00:00:00' AND ts <= TIMESTAMP '{hi} 00:00:00' "
            f"AND hour(ts) BETWEEN {h_lo} AND {h_hi} AND {label} IN "
            f"({', '.join(repr(x) for x in state['type_labels'])})"
        )
        sql = {
            "metrics": f"""SELECT count(*) AS total_events,
                round(avg(value), 6) AS avg_value, round(sum(value), 4) AS total_value,
                count(DISTINCT user_id) AS n_users, min(ts) AS min_ts,
                max(ts) AS max_ts FROM events WHERE {where}""",
            "top_users": f"""SELECT user_id, count(*) AS event_cnt FROM events
                WHERE {where} GROUP BY user_id
                ORDER BY event_cnt DESC, user_id NULLS FIRST LIMIT 10""",
            "avg_value_by_hour": f"""SELECT CAST(hour(ts) AS INT) AS event_hour,
                round(avg(value), 6) AS avg_value FROM events WHERE {where}
                GROUP BY 1""",
            "value_histogram": f"""SELECT CAST(floor(value / {HIST_BIN}) AS INT)
                AS bin, count(*) AS cnt FROM events WHERE {where}
                AND value > {HIST_LO} AND value < {HIST_HI} GROUP BY 1""",
            "type_donut": f"""SELECT {label} AS event_type_label, count(*) AS cnt
                FROM events WHERE {where} GROUP BY 1
                HAVING event_type_label IS NOT NULL""",
            "day_hour_heatmap": f"""SELECT dayname(ts) AS event_dow,
                CAST(hour(ts) AS INT) AS event_hour, count(*) AS event_cnt
                FROM events WHERE {where} GROUP BY 1, 2""",
        }
        return {k: _oracle(self._oracle_con, q) for k, q in sql.items()}

    def check(self, label: str, out: object) -> None:
        state, frames = out
        key = repr((state["date_range"], state["hour_range"], state["type_labels"]))
        if key not in self._oracle_cache:
            self._oracle_cache[key] = self._oracle_frames(state)
        for name, (want, cols) in self._oracle_cache[key].items():
            got = frames[name]
            if sorted(got.columns) != sorted(cols):
                raise CheckFailed(f"{name}: columns {list(got.columns)} != {cols}")
            compare(got.to_dict("records"), want, cols, name)

    def close(self) -> None:
        if self._oracle_con is not None:
            self._oracle_con.close()
        if self.session is not None:
            self.session.close()


class EventsEtl(Workload):
    """pipeline.run_events_pipeline persisting to a fresh path per op."""

    name = "events_etl"
    root_span = "pipeline.run_events_pipeline"
    BLOCK = 4  # so a traced run's ABBA pattern is balanced
    OP_COST_S = 3.0
    STAGES = [("read_table", "io.read_table"),
              ("validate_schema", "validate.validate_schema"),
              ("clean_events_observed", "clean.clean_events_observed"),
              ("derive_event_columns", "derive.derive_event_columns"),
              ("write_parquet", "io.write_parquet")]

    def generate(self) -> str:
        self.expected = gen.expected_report(gen.N_EVENTS, gen.ETL_DIRT)
        self.events = _write_events(self.seed, self.work, EVENT_FILES)
        self.input_bytes = _tree_bytes(self.events)[1]
        self._n = 0
        return gen.input_hash([self.events], self.expected)

    def _run(self):
        from data_pipeline_and_visualization_dashboard_spark import pipeline

        out = os.path.join(self.work, "etl_out", f"op{self._n}")
        self._n += 1
        return pipeline.run_events_pipeline(self.spark, self.work, out_path=out)

    def prepare(self, spark) -> None:
        super().prepare(spark)
        # the first run loads and compiles the classes of the whole path,
        # at several times the cost of a later one
        shutil.rmtree(self._run().out_path)

    def ops(self) -> Iterator[Op]:
        while True:
            yield "run", self._run

    def install_trace(self) -> None:
        from data_pipeline_and_visualization_dashboard_spark import pipeline

        for attr, name in self.STAGES:
            self.tracer.wrap(pipeline, attr, name)

    def op_stats(self, group: str) -> dict[str, float]:
        return _spark_job_stats(self.spark, group, "pipeline")

    def check(self, label: str, out: object) -> None:
        import pyarrow.dataset as ds

        if out.removal_report != self.expected:
            raise CheckFailed(f"removal_report {out.removal_report} != "
                              f"injected {self.expected}")
        persisted = ds.dataset(out.out_path, format="parquet",
                               partitioning="hive").to_table(
            columns=["event_type_label", "props_k"])
        got = (persisted.num_rows, persisted["event_type_label"].null_count,
               persisted["props_k"].null_count)
        want = (self.expected["rows_kept"], gen.ETL_DIRT["unmapped_type"],
                gen.ETL_DIRT["no_k"])
        if got != want:
            raise CheckFailed(f"persisted (rows, unlabeled, no_k) {got} != {want}")

    def layer_metrics(self, latencies_s: list[float], outs: list) -> dict[str, float]:
        files, size = zip(*(_tree_bytes(o.out_path) for o in outs))
        files, size = statistics.median(files), statistics.median(size)
        return {
            "io.write_parquet_files": files,
            "io.write_parquet_bytes": size,
            "pipeline.write_amp": size / self.input_bytes,
            "pipeline.rows_per_s": gen.N_EVENTS / statistics.median(latencies_s),
        }


def _tree_bytes(path: str) -> tuple[int, int]:
    """(parquet files, total bytes) under path."""
    files = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, f))
    return files, size


WORKLOADS = {w.name: w for w in (Dashboard, EventsEtl)}
