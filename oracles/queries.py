"""Registry records and DuckDB oracles of queries."""

from data_pipeline_and_visualization_dashboard_spark.derive import WEEKDAYS
from data_pipeline_and_visualization_dashboard_spark.queries import (
    SESSION_GAP_US, q13_windowed_counts, q14_clean_accounting,
    q15_sample_events, q16_sessionization, q17_top_customers_per_nation,
    q18_status_priority_rollup, q19_stratified_sample, q1_top_nations,
    q2_avg_value_by_hour, q33_status_priority_cube, q3_event_type_pct,
    q4_unit_price_by_weekday, q5_trade_routes, q6_pricing_summary,
)


# Weekday CASE ladder shared by oracle SQL strings (reference O4,
# ipynb:376-386).
_WEEKDAY_CASE = "CASE {col} " + " ".join(
    f"WHEN '{d}' THEN {i + 1}" for i, d in enumerate(WEEKDAYS)
) + " END"

_NULLS = "ts IS NULL OR user_id IS NULL OR event_type IS NULL OR value IS NULL"
_TS_OK = "ts >= TIMESTAMP '2000-01-01' AND ts < TIMESTAMP '2100-01-01'"


ENTRIES = {
    "q14_clean_accounting": (q14_clean_accounting, lambda: f"""
        SELECT count(*) AS rows_in,
               CAST(sum(CASE WHEN {_NULLS} THEN 1 ELSE 0 END) AS BIGINT)
                   AS removed_nulls,
               CAST(sum(CASE WHEN NOT ({_NULLS}) AND NOT (value > 0)
                        THEN 1 ELSE 0 END) AS BIGINT) AS removed_value_pos,
               CAST(sum(CASE WHEN NOT ({_NULLS}) AND value > 0
                             AND NOT (value <= 500)
                        THEN 1 ELSE 0 END) AS BIGINT) AS removed_value_cap,
               CAST(sum(CASE WHEN NOT ({_NULLS}) AND value > 0
                             AND value <= 500 AND NOT ({_TS_OK})
                        THEN 1 ELSE 0 END) AS BIGINT) AS removed_ts_valid,
               CAST(sum(CASE WHEN NOT ({_NULLS}) AND value > 0
                             AND value <= 500 AND {_TS_OK}
                        THEN 1 ELSE 0 END) AS BIGINT) AS rows_kept
        FROM events
    """),
    "q15_sample_events": (q15_sample_events, None),
    "q19_stratified_sample": (q19_stratified_sample, None),
    "q1_top_nations": (q1_top_nations, lambda: """
        SELECT n_name, count(*) AS order_cnt
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        ORDER BY order_cnt DESC, n_name
        LIMIT 10
    """),
    "q2_avg_value_by_hour": (q2_avg_value_by_hour, lambda: """
        SELECT CAST(hour(ts) AS INT) AS event_hour,
               round(avg(value), 6) AS avg_value
        FROM events
        GROUP BY 1
        ORDER BY 1
    """),
    "q3_event_type_pct": (q3_event_type_pct, lambda: """
        SELECT event_type, count(*) AS cnt,
               round(count(*) * 100.0 / sum(count(*)) OVER (), 6) AS pct
        FROM events
        GROUP BY event_type
        ORDER BY pct DESC, event_type
    """),
    "q4_unit_price_by_weekday": (q4_unit_price_by_weekday, lambda: f"""
        SELECT dayname(l_shipdate) AS ship_dow,
               round(avg(CASE WHEN l_quantity > 0
                              THEN l_extendedprice / l_quantity END), 6)
                   AS avg_unit_price
        FROM lineitem
        WHERE l_returnflag = 'R'
        GROUP BY 1
        ORDER BY {_WEEKDAY_CASE.format(col="ship_dow")}
    """),
    "q5_trade_routes": (q5_trade_routes, lambda: """
        SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
               count(*) AS shipments
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ns ON s_nationkey = ns.n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation nc ON c_nationkey = nc.n_nationkey
        GROUP BY 1, 2
        ORDER BY shipments DESC, supp_nation, cust_nation
        LIMIT 5
    """),
    "q6_pricing_summary": (q6_pricing_summary, lambda: """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 4) AS sum_qty,
               round(sum(l_extendedprice), 4) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4)
                   AS sum_charge,
               round(avg(l_quantity), 6) AS avg_qty,
               round(avg(l_extendedprice), 6) AS avg_price,
               round(avg(l_discount), 6) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """),
    "q13_windowed_counts": (q13_windowed_counts, lambda: """
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               count(*) AS event_cnt,
               round(sum(value), 4) AS value_sum
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
    """),
    "q16_sessionization": (q16_sessionization, lambda: f"""
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                            (PARTITION BY user_id
                             ORDER BY ts NULLS FIRST, event_id)
                            > {SESSION_GAP_US}
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
        ), numbered AS (
            SELECT user_id,
                   sum(new_sess) OVER (PARTITION BY user_id
                                       ORDER BY ts NULLS FIRST, event_id
                                       ROWS UNBOUNDED PRECEDING) AS sess_no
            FROM flagged
        ), per_session AS (
            SELECT user_id, sess_no, count(*) AS n_events
            FROM numbered GROUP BY 1, 2
        )
        SELECT user_id, count(*) AS n_sessions,
               max(n_events) AS max_session_events,
               round(avg(n_events), 6) AS avg_session_events
        FROM per_session GROUP BY user_id ORDER BY user_id
    """),
    "q17_top_customers_per_nation": (q17_top_customers_per_nation, lambda: """
        WITH rev AS (
            SELECT o_custkey, round(sum(o_totalprice), 4) AS revenue
            FROM orders GROUP BY o_custkey
        ), ranked AS (
            SELECT n_name, o_custkey AS custkey, revenue,
                   CAST(row_number() OVER (PARTITION BY n_name
                                           ORDER BY revenue DESC, o_custkey)
                        AS INT) AS rank
            FROM rev
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
        )
        SELECT * FROM ranked WHERE rank <= 3 ORDER BY n_name, rank
    """),
    "q18_status_priority_rollup": (q18_status_priority_rollup, lambda: """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS cnt,
               round(sum(o_totalprice), 4) AS total
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """),
    "q33_status_priority_cube": (q33_status_priority_cube, lambda: """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS cnt,
               round(sum(o_totalprice), 4) AS total
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
        ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """),
}
