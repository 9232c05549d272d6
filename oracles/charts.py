"""Registry records and DuckDB oracles of charts."""

from data_pipeline_and_visualization_dashboard_spark.charts import (
    HIST_BIN, HIST_HI, HIST_LO, _DATE_HI, _DATE_LO, _HOUR_HI, _HOUR_LO,
    _LABELS, q10_type_donut, q11_day_hour_heatmap, q12_derived_events,
    q7_filtered_metrics, q8_top_users, q9_value_histogram,
)
from data_pipeline_and_visualization_dashboard_spark.derive import (
    EVENT_TYPE_LABELS,
)


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


ENTRIES = {
    "q7_filtered_metrics": (q7_filtered_metrics, lambda: f"""
        SELECT count(*) AS total_events,
               round(avg(value), 6) AS avg_value,
               round(sum(value), 4) AS total_value,
               count(DISTINCT user_id) AS n_users,
               min(ts) AS min_ts, max(ts) AS max_ts
        FROM events WHERE {_FILTER_SQL}
    """),
    "q8_top_users": (q8_top_users, lambda: f"""
        SELECT user_id, count(*) AS event_cnt
        FROM events WHERE {_FILTER_SQL}
        GROUP BY user_id ORDER BY event_cnt DESC, user_id LIMIT 10
    """),
    "q9_value_histogram": (q9_value_histogram, lambda: f"""
        SELECT CAST(floor(value / {HIST_BIN}) AS INT) AS bin,
               count(*) AS cnt
        FROM events
        WHERE {_FILTER_SQL} AND value > {HIST_LO} AND value < {HIST_HI}
        GROUP BY 1 ORDER BY 1
    """),
    "q10_type_donut": (q10_type_donut, lambda: f"""
        SELECT {_LABEL_CASE} AS event_type_label, count(*) AS cnt
        FROM events WHERE {_FILTER_SQL}
        GROUP BY 1 HAVING event_type_label IS NOT NULL
        ORDER BY cnt DESC, event_type_label
    """),
    "q11_day_hour_heatmap": (q11_day_hour_heatmap, lambda: f"""
        SELECT dayname(ts) AS event_dow, CAST(hour(ts) AS INT) AS event_hour,
               count(*) AS event_cnt
        FROM events WHERE {_FILTER_SQL}
        GROUP BY 1, 2 ORDER BY 1, 2
    """),
    "q12_derived_events": (q12_derived_events, lambda: f"""
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
    """),
}
