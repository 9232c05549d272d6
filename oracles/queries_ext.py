"""Registry records and DuckDB oracles of queries_ext."""

from data_pipeline_and_visualization_dashboard_spark.extras.hashing import (
    duck_h60,
)
from data_pipeline_and_visualization_dashboard_spark.extras.similarity import (
    rp_topk,
)
from data_pipeline_and_visualization_dashboard_spark.extras.sketches import (
    HLL_ALPHA, HLL_M,
)
from data_pipeline_and_visualization_dashboard_spark.extras.text import (
    _qs_weight_exprs,
)
from data_pipeline_and_visualization_dashboard_spark.queries import (
    SESSION_GAP_US,
)
from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
    CONC_TOPN, DECAY_CLAMP, DECAY_HALF_LIFE_DAYS, DIVERSE_PER_CLUSTER,
    FUNNEL_STEPS, FUZZY_MAX_DIST, GINI_BINS, HASH_SAMPLE_PCT, MAD_CUT,
    PR_DAMPING, PR_ITERS, Q66_LATE_DAYS, Q67_MULTIPLE, Q70_ARMS,
    Q71_IDLE_CUTOFF, Q72_WINDOW, Q73_MIN_QTY, Q74_DOM_MULTIPLE, Q74_PART_TYPE,
    Q74_TOPN, Q75_NATIONS, Q76_LATE_DAYS, Q76_WINDOW, Q77_TOPN, Q77_WINDOW,
    Q78_WINDOW, Q79_TOPN, Q80_PART_TOKEN, Q80_REGION, Q80_SHARE_NATION,
    Q81_COST_FRAC, Q82_EXCLUDE_PRIORITY, RRF_DEPTH, RRF_K, RRF_TOPN,
    SCD2_OPEN_END, SKEW_TOPN, SLIDING_HOURS, WSAMPLE_K, Z_THRESHOLD,
    _CENTROID_IDS, _FOLLOWUP_DAYS, _N_NATIONS, _PROFILE_COLS, _PROFILE_NUM,
    _PROFILE_VALUE_KEY, _morton16, q100_rfm_segments, q100_rfm_segments_approx,
    q20_shipping_priority, q21_nation_revenue, q22_heatmap_pivot,
    q23_value_percentiles, q24_distinct_users, q25_set_ops, q26_regex_filter,
    q27_asof_join, q28_json_extract, q29_approx_stats, q30_semi_anti,
    q31_moving_avg, q32_collect_sets, q34_top_users_labeled, q35_ship_delay,
    q36_session_windows, q37_prior_hour_window, q38_unpivot_heatmap,
    q39_interval_join, q40_salted_skew_join, q41_latest_event_state,
    q42_daily_from_hourly, q43_full_outer_reconcile, q44_user_trend,
    q45_cohort_retention, q46_value_anomalies, q47_scd2_history,
    q48_funnel_steps, q49_fuzzy_name_match, q50_equidepth_buckets,
    q51_nation_pagerank, q52_gap_fill, q53_incremental_rollup, q54_hash_sample,
    q55_rolling_median, q56_grouped_stats, q57_rank_family,
    q58_event_nation_counts, q59_sliding_distinct, q60_bucketed_join,
    q61_profile_events, q61_profile_events_approx, q62_skew_stats,
    q63_drift_kl, q64_weighted_sample, q65_small_quantity_revenue,
    q66_late_supplier_blame, q67_important_parts, q68_value_deciles,
    q69_concurrent_sessions, q70_promo_discount_revenue,
    q71_idle_rich_customers, q72_top_quarter_supplier,
    q73_large_quantity_orders, q74_dominant_suppliers, q75_nation_trade_volume,
    q76_priority_late_orders, q77_returned_customers, q78_promo_revenue_share,
    q79_supplier_variety, q80_market_share, q81_product_margin,
    q82_order_count_distribution, q83_approx_percentile_guard,
    q84_rollup_revenue, q85_corpus_grouping_sets, q86_zorder_layout,
    q87_time_weighted_value, q88_basket_pairs, q89_session_transitions,
    q90_mad_outliers, q91_decayed_engagement, q92_value_gini,
    q92_value_gini_binned, q93_rrf_fusion, q94_hhi_concentration,
    q95_top_decile_share, q96_theil_decomposition, q97_atkinson_index,
    q98_last_touch_attribution, q99_linear_attribution, sim_centroid_assign,
    sim_diverse_subset, sim_ivf_recall_guard, sim_ivf_topk,
    sim_ivfpq_recall_guard, sim_ivfpq_topk,
)

from .similarity import _duck_rp_topk_sql


def _duck_hash_sample_sql() -> str:
    return f"""
        SELECT event_id, event_type, value FROM events
        WHERE ({duck_h60("CAST(event_id AS VARCHAR)")}) % 100
              < {HASH_SAMPLE_PCT}
        ORDER BY event_id
    """


def _duck_rolling_median_sql() -> str:
    return """
    SELECT user_id, event_id,
           round(quantile_cont(value, 0.5) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 6)
               AS rolling_median
    FROM events ORDER BY user_id, event_id
"""

def _duck_grouped_stats_sql() -> str:
    return """
    SELECT event_type,
           round(corr(value, CAST(hour(ts) AS DOUBLE)), 6)
               AS corr_value_hour,
           round(covar_samp(value, CAST(hour(ts) AS DOUBLE)), 6)
               AS covar_value_hour,
           round(stddev_samp(value), 6) AS stddev_value,
           round(var_samp(value), 6) AS var_value
    FROM events GROUP BY event_type ORDER BY event_type
"""

def _duck_rank_family_sql() -> str:
    return """
    SELECT event_id, event_type,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           CAST(ntile(4) OVER w AS INT) AS tile
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    ORDER BY event_id
"""

def _duck_event_nation_sql() -> str:
    return """
    SELECT date_trunc('hour', e.ts) AS hour, n.n_name AS nation,
           count(*) AS n_events
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY 1, 2 ORDER BY hour, nation
"""

def _duck_sliding_distinct_sql() -> str:
    return f"""
    WITH bounds AS (
        SELECT date_trunc('hour', min(ts)) AS h0,
               date_trunc('hour', max(ts)) AS h1
        FROM events
    ), spine AS (
        SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS window_end
        FROM bounds
    )
    SELECT s.window_end, count(DISTINCT e.user_id) AS n_users
    FROM spine s
    JOIN events e
      ON date_trunc('hour', e.ts) <= s.window_end
     AND date_trunc('hour', e.ts) > s.window_end - INTERVAL {SLIDING_HOURS} HOURS
    GROUP BY s.window_end ORDER BY window_end
"""

def _duck_q87_sql() -> str:
    return """
    WITH obs AS (
        SELECT event_type,
               CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
               value,
               CAST(epoch_us(lead(ts) OVER (
                        PARTITION BY event_type, CAST(ts AS DATE)
                        ORDER BY ts, event_id))
                    - epoch_us(ts) AS DOUBLE) / 1e6 AS dt
        FROM events WHERE value IS NOT NULL
    )
    SELECT event_type, day,
           count(*) AS n_obs,
           round(sum(value * dt) / sum(dt), 6) AS twa_value,
           round(avg(value), 6) AS mean_value
    FROM obs WHERE dt IS NOT NULL
    GROUP BY event_type, day
    ORDER BY event_type, day
"""


def _duck_pagerank_sql() -> str:
    n = _N_NATIONS
    base = (1.0 - PR_DAMPING) / n
    its = []
    for i in range(PR_ITERS):
        prev = f"it{i}"
        its.append(f"""
        , it{i + 1} AS (
            SELECT nodes.node,
                   {base!r} + {PR_DAMPING!r} * COALESCE(m.s, 0.0) AS pr
            FROM nodes LEFT JOIN (
                SELECT norm.dst AS node, sum(norm.p * {prev}.pr) AS s
                FROM norm JOIN {prev} ON norm.src = {prev}.node
                GROUP BY 1) m USING (node)
        )""")
    return f"""
        WITH edges AS (
            SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
                   count(*) AS w
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY 1, 2
        ), outw AS (
            SELECT src, sum(w) AS out_w FROM edges GROUP BY src
        ), norm AS (
            SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / o.out_w AS p
            FROM edges e JOIN outw o USING (src)
        ), nodes AS (
            SELECT n_nationkey AS node, n_name FROM nation
        ), it0 AS (
            SELECT node, {1.0 / n!r} AS pr FROM nodes
        ){''.join(its)}
        SELECT nodes.n_name AS nation, round(it{PR_ITERS}.pr, 6) AS pagerank
        FROM it{PR_ITERS} JOIN nodes USING (node)
        ORDER BY pagerank DESC, nation
    """


def _duck_skew_sql() -> str:
    return f"""
    WITH per_key AS (
        SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
    ), tot AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
               count(*) AS n_keys FROM per_key
    )
    SELECT user_id, cnt,
           round(CAST(cnt AS DOUBLE) / n_rows, 6) AS share,
           round(CAST(cnt AS DOUBLE) * n_keys / n_rows, 6) AS hot_factor
    FROM per_key, tot
    ORDER BY cnt DESC, user_id LIMIT {SKEW_TOPN}
"""

_PROFILE_KEY_DUCK = {
    "event_id": "CAST(event_id AS VARCHAR)",
    "ts": "CAST(epoch_us(ts) AS VARCHAR)",
    "user_id": "CAST(user_id AS VARCHAR)",
    "event_type": "event_type",
    "value": _PROFILE_VALUE_KEY.format(s="VARCHAR"),
    "props": "props",
}


def _duck_profile_approx_sql() -> str:
    selects = []
    for c in _PROFILE_COLS:
        num = (
            f"CAST({_PROFILE_NUM[c].replace('unix_micros(ts)', 'epoch_us(ts)')}"
            " AS DOUBLE)"
            if c in _PROFILE_NUM
            else "CAST(NULL AS DOUBLE)"
        )
        selects.append(
            f"SELECT '{c}' AS col_name, {_PROFILE_KEY_DUCK[c]} AS key,"
            f" {num} AS num FROM events"
        )
    h = duck_h60("key")
    return f"""
        WITH stacked AS (
            {" UNION ALL ".join(selects)}
        ), hashed AS (
            SELECT col_name, num,
                   CASE WHEN key IS NULL THEN 1 ELSE 0 END AS is_null,
                   CASE WHEN key IS NULL THEN -1
                        ELSE CAST({h} % {HLL_M} AS INT) END AS bucket,
                   CASE WHEN key IS NULL THEN CAST(0 AS BIGINT)
                        ELSE CAST({h} // {HLL_M} AS BIGINT) END AS rest
            FROM stacked
        ), ranked AS (
            SELECT col_name, num, is_null, bucket,
                   CAST(CASE WHEN rest = 0 THEN 53
                        ELSE 53 - length(bin(rest)) END AS INT) AS rank
            FROM hashed
        ), cells AS (
            SELECT col_name, bucket, max(rank) AS max_rank,
                   sum(is_null) AS nn, min(num) AS mn, max(num) AS mx
            FROM ranked GROUP BY col_name, bucket
        ), per_col AS (
            SELECT col_name,
                   CAST(sum(nn) AS BIGINT) AS n_nulls,
                   sum(CASE WHEN bucket >= 0
                            THEN power(2.0, -max_rank)
                            ELSE 0 END) AS denom_present,
                   sum(CASE WHEN bucket >= 0 THEN 1 ELSE 0 END)
                       AS n_present,
                   min(mn) AS min_num, max(mx) AS max_num
            FROM cells GROUP BY col_name
        ), est_calc AS (
            SELECT col_name, n_nulls, min_num, max_num,
                   {HLL_M} - n_present AS zeros,
                   denom_present
                       + CAST({HLL_M} - n_present AS DOUBLE) AS denom
            FROM per_col
        )
        SELECT col_name, n_nulls,
               CAST(round(
                   CASE WHEN {HLL_ALPHA * HLL_M * HLL_M!r} / denom
                             <= {2.5 * HLL_M}
                        AND zeros > 0
                   THEN {float(HLL_M)} * ln({float(HLL_M)} / zeros)
                   ELSE {HLL_ALPHA * HLL_M * HLL_M!r} / denom
                   END) AS BIGINT) AS n_distinct,
               min_num, max_num
        FROM est_calc
    """


def _duck_profile_sql() -> str:
    aggs = []
    for c in _PROFILE_COLS:
        aggs.append(
            f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS nn_{c}"
        )
        aggs.append(f"count(DISTINCT {c}) AS nd_{c}")
    for c, e in _PROFILE_NUM.items():
        duck_e = e.replace("unix_micros(ts)", "epoch_us(ts)")
        aggs.append(f"CAST(min({duck_e}) AS DOUBLE) AS mn_{c}")
        aggs.append(f"CAST(max({duck_e}) AS DOUBLE) AS mx_{c}")
    rows = []
    for c in _PROFILE_COLS:
        mn = f"mn_{c}" if c in _PROFILE_NUM else "CAST(NULL AS DOUBLE)"
        mx = f"mx_{c}" if c in _PROFILE_NUM else "CAST(NULL AS DOUBLE)"
        rows.append(
            f"SELECT '{c}' AS col_name, nn_{c} AS n_nulls,"
            f" nd_{c} AS n_distinct, {mn} AS min_num, {mx} AS max_num"
            " FROM s"
        )
    return (
        "WITH s AS (SELECT " + ", ".join(aggs) + " FROM events) "
        + " UNION ALL ".join(rows)
    )


def _duck_q65_sql() -> str:
    return """
    WITH per_part AS (
        SELECT l_partkey, avg(l_quantity) AS avg_qty
        FROM lineitem GROUP BY l_partkey
    )
    SELECT count(*) AS n_lines,
           round(sum(l.l_extendedprice) / 52.0, 4) AS weekly_revenue
    FROM lineitem l JOIN per_part p USING (l_partkey)
    WHERE l.l_quantity < 0.2 * p.avg_qty
"""

def _duck_q66_sql() -> str:
    return f"""
    WITH lines AS (
        SELECT l_orderkey, l_suppkey,
               l_shipdate > o_orderdate + INTERVAL {Q66_LATE_DAYS} DAY
                   AS late
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), l1 AS (
        SELECT DISTINCT l_orderkey, l_suppkey FROM lines
        WHERE late
          AND EXISTS (SELECT 1 FROM lines o
                      WHERE o.l_orderkey = lines.l_orderkey
                        AND o.l_suppkey != lines.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lines o
                          WHERE o.l_orderkey = lines.l_orderkey
                            AND o.l_suppkey != lines.l_suppkey
                            AND o.late)
    )
    SELECT s_name, n_blamed FROM (
        SELECT s_name, l_suppkey, count(*) AS n_blamed
        FROM l1 JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY s_name, l_suppkey
        ORDER BY n_blamed DESC, s_name, l_suppkey LIMIT 10
    )
"""

def _duck_q88_sql() -> str:
    return """
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               count(*) AS n_ab
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        ORDER BY n_ab DESC, part_a, part_b LIMIT 20
    ), marg AS (
        SELECT l_partkey, count(*) AS n_part FROM items GROUP BY 1
    ), n AS (
        SELECT count(DISTINCT l_orderkey) AS n_orders FROM items
    )
    SELECT part_a, part_b, n_ab,
           round(n_ab * CAST(n_orders AS DOUBLE)
                 / (ma.n_part * mb.n_part), 6) AS lift
    FROM pairs
    JOIN marg ma ON ma.l_partkey = part_a
    JOIN marg mb ON mb.l_partkey = part_b
    CROSS JOIN n
    ORDER BY n_ab DESC, part_a, part_b
"""

def _duck_q89_sql() -> str:
    return """
    WITH seq AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS to_type
        FROM events
    ), counts AS (
        SELECT from_type, to_type, count(*) AS n
        FROM seq WHERE to_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT from_type, to_type, n,
           round(n / sum(n) OVER (PARTITION BY from_type), 6) AS p
    FROM counts ORDER BY from_type, to_type
"""

def _duck_q90_sql() -> str:
    return f"""
    WITH ev AS (
        SELECT event_type, value FROM events WHERE value IS NOT NULL
    ), med AS (
        SELECT event_type, median(value) AS med FROM ev GROUP BY 1
    ), mad AS (
        SELECT e.event_type,
               median(abs(e.value - m.med)) AS mad,
               min(m.med) AS med
        FROM ev e JOIN med m USING (event_type) GROUP BY 1
    )
    SELECT e.event_type,
           count(*) AS n,
           round(min(m.med), 6) AS med,
           round(min(m.mad), 6) AS mad,
           CAST(sum(CASE WHEN round(abs(e.value - m.med), 6)
                              > round({MAD_CUT} * m.mad, 6)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           round(CAST(sum(CASE WHEN round(abs(e.value - m.med), 6)
                                    > round({MAD_CUT} * m.mad, 6)
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS outlier_rate
    FROM ev e JOIN mad m USING (event_type)
    GROUP BY 1 ORDER BY 1
"""

def _duck_q67_sql() -> str:
    return f"""
    WITH per_part AS (
        SELECT l_partkey,
               sum(l_extendedprice * (1 - l_discount)) AS part_value
        FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey, part_value FROM (
        SELECT l_partkey, round(part_value, 4) AS part_value,
               round({Q67_MULTIPLE} * (SELECT sum(part_value) / count(*)
                                       FROM per_part), 4) AS cut
        FROM per_part
    ) WHERE part_value > cut
    ORDER BY part_value DESC, l_partkey
"""

def _duck_q68_sql() -> str:
    return """
    WITH tiled AS (
        SELECT event_type, value,
               ntile(10) OVER (PARTITION BY event_type
                               ORDER BY value, event_id) AS decile
        FROM events WHERE value IS NOT NULL
    )
    SELECT event_type, decile, count(*) AS n,
           min(value) AS lo, max(value) AS hi
    FROM tiled GROUP BY event_type, decile
    ORDER BY event_type, decile
"""


def _duck_concurrent_sessions_sql() -> str:
    return f"""
        WITH ev AS (
            SELECT user_id, epoch_us(ts) AS us, event_id FROM events
        ), flagged AS (
            SELECT user_id, us,
                   CASE WHEN us - lag(us) OVER
                            (PARTITION BY user_id ORDER BY us, event_id)
                        > {SESSION_GAP_US} THEN 1 ELSE 0 END AS new_sess,
                   event_id
            FROM ev
        ), numbered AS (
            SELECT user_id, us,
                   sum(new_sess) OVER
                       (PARTITION BY user_id ORDER BY us, event_id
                        ROWS UNBOUNDED PRECEDING) AS sess_no
            FROM flagged
        ), sess AS (
            SELECT user_id, sess_no,
                   min(us) AS s_us, max(us) AS e_us
            FROM numbered GROUP BY user_id, sess_no
        ), bounds AS (
            SELECT user_id, sess_no, s_us AS us, 1 AS delta FROM sess
            UNION ALL
            SELECT user_id, sess_no, e_us AS us, -1 AS delta FROM sess
        ), swept AS (
            SELECT *,
                   CAST(sum(delta) OVER
                       (ORDER BY us, delta DESC, user_id, sess_no
                        ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS run
            FROM bounds
        ), starts AS (
            -- tied starts all report the tie group's final running
            -- sum (see the Spark side's per-instant max window)
            SELECT us, user_id, sess_no,
                   max(run) OVER (PARTITION BY us) AS concurrent
            FROM swept WHERE delta = 1
        )
        SELECT us AS ts_us, user_id, CAST(sess_no AS BIGINT) AS sess_no,
               concurrent
        FROM starts
        ORDER BY concurrent DESC, ts_us, user_id, sess_no
        LIMIT {CONC_TOPN}
    """


def _duck_weighted_sample_sql() -> str:
    u = (
        f"((CAST({duck_h60('CAST(event_id AS VARCHAR)')} AS DOUBLE)"
        f" + 1.0) / {float(2**60)!r})"
    )
    return f"""
        SELECT event_id, event_type, value,
               round(pow({u}, 1.0 / value), 9) AS sample_key
        FROM events
        WHERE value IS NOT NULL AND value > 0
        ORDER BY sample_key DESC, event_id LIMIT {WSAMPLE_K}
    """


def _duck_drift_sql() -> str:
    return """
    WITH cell AS (
        SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date,
               event_type, count(*) AS c
        FROM events GROUP BY 1, 2
    ), withp AS (
        SELECT event_date, event_type, c,
               sum(c) OVER (PARTITION BY event_date) AS n_day
        FROM cell
    ), gdist AS (
        SELECT event_type, sum(c) AS g FROM cell GROUP BY event_type
    ), gtot AS (
        SELECT sum(g) AS n_all FROM gdist
    )
    SELECT event_date,
           CAST(max(n_day) AS BIGINT) AS n_events,
           round(sum((CAST(c AS DOUBLE) / n_day)
                     * ln((CAST(c AS DOUBLE) / n_day)
                          / (CAST(g AS DOUBLE) / n_all))), 6)
               AS kl_vs_corpus
    FROM withp JOIN gdist USING (event_type) CROSS JOIN gtot
    GROUP BY event_date ORDER BY event_date
"""


def _duck_q70_sql() -> str:
    arms = " OR ".join(
        f"(p_brand = '{b}' AND p_size BETWEEN {slo} AND {shi} "
        f"AND l_quantity BETWEEN {qlo} AND {qhi})"
        for b, (slo, shi), (qlo, qhi) in Q70_ARMS
    )
    return f"""
        SELECT count(*) AS n_lines,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE {arms}
    """


def _duck_q71_sql() -> str:
    return f"""
        SELECT c_mktsegment, count(*) AS n_custs,
               round(sum(c_acctbal), 4) AS total_bal
        FROM customer c
        WHERE c.c_acctbal > (SELECT round(avg(c_acctbal), 4)
                             FROM customer WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= DATE '{Q71_IDLE_CUTOFF}')
        GROUP BY c_mktsegment ORDER BY c_mktsegment
    """


def _duck_q72_sql() -> str:
    lo, hi = Q72_WINDOW
    return f"""
        WITH rev AS (
            SELECT l_suppkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 4)
                       AS total_rev
            FROM lineitem
            WHERE l_shipdate >= DATE '{lo}' AND l_shipdate < DATE '{hi}'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_rev
        FROM rev JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_rev = (SELECT max(total_rev) FROM rev)
        ORDER BY s_suppkey
    """


def _duck_q73_sql() -> str:
    return f"""
        WITH big AS (
            SELECT l_orderkey, round(sum(l_quantity), 4) AS total_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING round(sum(l_quantity), 4) > {Q73_MIN_QTY}
        )
        SELECT c_name, c_custkey, o_orderkey, o_orderdate,
               o_totalprice, total_qty
        FROM orders JOIN big ON o_orderkey = l_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """


def _duck_q74_sql() -> str:
    return f"""
        WITH ps AS (
            SELECT l_partkey, l_suppkey, sum(l_quantity) AS supp_qty
            FROM lineitem
            WHERE l_partkey IN (SELECT p_partkey FROM part
                                WHERE p_type = '{Q74_PART_TYPE}')
            GROUP BY l_partkey, l_suppkey
        ), per_part AS (
            SELECT l_partkey, sum(supp_qty) AS part_qty,
                   count(*) AS n_supp
            FROM ps GROUP BY l_partkey
        )
        SELECT s_suppkey, s_name, n_dominated FROM (
            SELECT l_suppkey, count(*) AS n_dominated
            FROM ps JOIN per_part USING (l_partkey)
            WHERE n_supp > 1
              AND round(supp_qty, 4) >
                  round({Q74_DOM_MULTIPLE} * part_qty / n_supp, 4)
            GROUP BY l_suppkey
        ) JOIN supplier ON l_suppkey = s_suppkey
        ORDER BY n_dominated DESC, s_suppkey LIMIT {Q74_TOPN}
    """


def _duck_q75_sql() -> str:
    n1, n2 = Q75_NATIONS
    return f"""
        SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
               CAST(year(l_shipdate) AS INT) AS ship_year,
               round(sum(l_extendedprice * (1 - l_discount)), 4)
                   AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE cn.n_name IN ('{n1}', '{n2}')
          AND sn.n_name IN ('{n1}', '{n2}')
          AND cn.n_name != sn.n_name
        GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """


def _duck_diverse_subset_sql() -> str:
    w = _qs_weight_exprs("duck")
    cids = ", ".join(map(str, _CENTROID_IDS))
    return rf"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
        ), c AS (
            SELECT vec_id AS centroid_id, v AS cv FROM e
            WHERE vec_id IN ({cids})
        ), sims AS (
            SELECT e.vec_id, c.centroid_id,
                   round(list_dot_product(e.v, c.cv)
                         / (sqrt(list_dot_product(e.v, e.v))
                            * sqrt(list_dot_product(c.cv, c.cv))),
                         6) AS sim
            FROM e, c
        ), assigned AS (
            SELECT vec_id, centroid_id, sim FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY vec_id
                    ORDER BY sim DESC, centroid_id) AS rn
                FROM sims) t
            WHERE rn = 1
        ), toked AS (
            SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\s+') AS tokens
            FROM documents
        ), q AS (
            SELECT doc_id,
                   list_reduce(list_transform(tokens, t -> {w}),
                               (acc, x) -> acc + x)
                       / len(tokens) AS score_mean
            FROM toked
        )
        SELECT centroid_id, vec_id, sim, score_mean, rk FROM (
            SELECT a.centroid_id, a.vec_id, a.sim, q.score_mean,
                   CAST(row_number() OVER (
                       PARTITION BY a.centroid_id
                       ORDER BY q.score_mean DESC, a.vec_id) AS INT)
                       AS rk
            FROM assigned a JOIN q ON a.vec_id = q.doc_id) t
        WHERE rk <= {DIVERSE_PER_CLUSTER}
        ORDER BY centroid_id, rk
    """


def _duck_q76_sql() -> str:
    lo, hi = Q76_WINDOW
    return f"""
        SELECT o_orderpriority, count(*) AS n_late_orders
        FROM orders
        WHERE o_orderdate >= DATE '{lo}' AND o_orderdate < DATE '{hi}'
          AND EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate
                    + INTERVAL {Q76_LATE_DAYS} DAY)
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """


def _duck_q77_sql() -> str:
    lo, hi = Q77_WINDOW
    return f"""
        SELECT c_custkey, c_name, n_name AS nation, lost_revenue
        FROM (
            SELECT o_custkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 4)
                       AS lost_revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= DATE '{lo}'
              AND o_orderdate < DATE '{hi}'
            GROUP BY o_custkey
        )
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        ORDER BY lost_revenue DESC, c_custkey LIMIT {Q77_TOPN}
    """


def _duck_q78_sql() -> str:
    lo, hi = Q78_WINDOW
    return f"""
        SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                      THEN l_extendedprice
                                           * (1 - l_discount)
                                      ELSE 0.0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 6)
                   AS promo_pct,
               count(*) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= DATE '{lo}' AND l_shipdate < DATE '{hi}'
    """


def _duck_q79_sql() -> str:
    return f"""
        WITH pairs AS (
            SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        ), kept AS (
            SELECT * FROM pairs
            WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                    WHERE s_acctbal < 0)
        )
        SELECT p_brand,
               CAST(floor((p_size - 1) / 10.0) AS INT) AS size_band,
               count(DISTINCT l_suppkey) AS n_suppliers
        FROM kept JOIN part ON l_partkey = p_partkey
        GROUP BY 1, 2
        ORDER BY n_suppliers DESC, p_brand, size_band LIMIT {Q79_TOPN}
    """


def _duck_q80_sql() -> str:
    return f"""
        SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
               round(sum(CASE WHEN sn.n_name = '{Q80_SHARE_NATION}'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 6)
                   AS mkt_share,
               round(sum(l_extendedprice * (1 - l_discount)), 4)
                   AS total_rev
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region ON cn.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE r_name = '{Q80_REGION}'
          AND l_partkey IN (SELECT p_partkey FROM part
                            WHERE p_name LIKE '%{Q80_PART_TOKEN}%')
        GROUP BY 1 ORDER BY 1
    """


def _duck_q81_sql() -> str:
    return f"""
        SELECT n_name AS supp_nation,
               CAST(year(l_shipdate) AS INT) AS ship_year,
               round(sum(l_extendedprice * (1 - l_discount)
                         - l_quantity
                           * ({Q81_COST_FRAC} * p_retailprice)), 4)
                   AS margin,
               count(*) AS n_lines
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%{Q80_PART_TOKEN}%'
        GROUP BY 1, 2 ORDER BY 1, 2
    """


def _duck_q82_sql() -> str:
    return f"""
        SELECT c_count, count(*) AS custdist FROM (
            SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer LEFT JOIN orders
              ON c_custkey = o_custkey
             AND o_orderpriority != '{Q82_EXCLUDE_PRIORITY}'
            GROUP BY c_custkey
        )
        GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """


def _duck_q84_sql() -> str:
    return """
    SELECT n_name,
           COALESCE(CAST(year(o_orderdate) AS INT), -1) AS o_year,
           CAST(GROUPING(n_name, CAST(year(o_orderdate) AS INT))
                AS INT) AS gid,
           count(*) AS n_orders,
           round(sum(o_totalprice), 4) AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY ROLLUP (n_name, CAST(year(o_orderdate) AS INT))
    ORDER BY gid, n_name, o_year
"""

def _duck_q85_sql() -> str:
    return """
    SELECT lang, source,
           CAST(GROUPING(lang, source) AS INT) AS gid,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(avg(n_chars), 6) AS avg_chars
    FROM documents
    GROUP BY GROUPING SETS ((lang), (source))
    ORDER BY gid, lang, source
"""


def _duck_q86_sql() -> str:
    z = _morton16("a", "b", "duck")
    return f"""
    WITH ev AS (
        SELECT user_id, CAST(floor(value) AS BIGINT) AS vi
        FROM events WHERE value IS NOT NULL
    ), rng AS (
        SELECT min(user_id) AS lo_u, max(user_id) AS hi_u,
               min(vi) AS lo_v, max(vi) AS hi_v
        FROM ev
    ), ab AS (
        SELECT CAST(((user_id - lo_u) * 256) // (hi_u - lo_u + 1)
                    AS INT) AS a,
               CAST(((vi - lo_v) * 256) // (hi_v - lo_v + 1)
                    AS INT) AS b
        FROM ev, rng
    ), buck AS (
        SELECT 'zorder' AS layout,
               CAST(({z}) // 256 AS INT) AS bucket, a, b
        FROM ab
        UNION ALL
        SELECT 'linear' AS layout,
               CAST((a * 256 + b) // 256 AS INT) AS bucket, a, b
        FROM ab
    ), per_bucket AS (
        SELECT layout, bucket,
               CAST(max(a) - min(a) AS INT) AS a_span,
               CAST(max(b) - min(b) AS INT) AS b_span
        FROM buck GROUP BY layout, bucket
    )
    SELECT layout, count(*) AS n_buckets,
           round(avg(a_span), 6) AS avg_a_span,
           round(avg(b_span), 6) AS avg_b_span,
           max(a_span) AS max_a_span,
           max(b_span) AS max_b_span
    FROM per_bucket GROUP BY layout ORDER BY layout
    """


def _duck_q91_sql() -> str:
    return f"""
    WITH ev AS (
        SELECT event_type, value, CAST(ts AS DATE) AS d
        FROM events WHERE value IS NOT NULL
    ), ref AS (
        SELECT max(d) AS maxd FROM ev
    ), weighted AS (
        SELECT event_type, value,
               value * power(0.5, least(
                   CAST(floor(date_diff('day', d, maxd)
                              / {DECAY_HALF_LIFE_DAYS}) AS BIGINT),
                   {DECAY_CLAMP})) AS wv
        FROM ev CROSS JOIN ref
    )
    SELECT event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS raw_sum,
           round(sum(wv), 4) AS decayed_sum,
           round(sum(wv) / nullif(sum(value), 0), 6) AS retained_frac
    FROM weighted GROUP BY 1 ORDER BY 1
"""

def _duck_q92_sql() -> str:
    return """
    WITH j AS (
        SELECT n.n_name, o.o_totalprice AS x, o.o_orderkey AS k
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
    ), r AS (
        SELECT n_name, x,
               row_number() OVER (PARTITION BY n_name ORDER BY x, k) AS i
        FROM j
    )
    SELECT n_name,
           count(*) AS n_orders,
           round(sum(x), 4) AS total_value,
           round((2.0 * sum(i * x)) / (count(*) * sum(x))
                 - (count(*) + 1.0) / count(*), 6) AS gini
    FROM r GROUP BY 1 ORDER BY 1
"""

def _duck_q92b_sql() -> str:
    return f"""
    WITH j AS (
        SELECT n.n_name, o.o_totalprice AS x
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
    ), bounds AS (
        SELECT n_name, min(x) AS mn, max(x) AS mx FROM j GROUP BY 1
    ), bins AS (
        SELECT j.n_name,
               CAST(CASE WHEN b.mx = b.mn THEN 0
                    ELSE least(CAST(floor((j.x - b.mn)
                                   / ((b.mx - b.mn) / {GINI_BINS}))
                               AS BIGINT), {GINI_BINS - 1})
                    END AS INT) AS bucket,
               count(*) AS n_i, sum(j.x) AS s_i
        FROM j JOIN bounds b USING (n_name)
        GROUP BY 1, 2
    ), binm AS (
        SELECT n_name, bucket, n_i, s_i,
               round(s_i / n_i, 6) AS xb_i
        FROM bins
    ), totals AS (
        SELECT n_name, CAST(sum(n_i) AS BIGINT) AS n_orders,
               round(sum(s_i), 4) AS total_value,
               count(*) AS n_bins_used
        FROM binm GROUP BY 1
    ), md AS (
        SELECT a.n_name,
               sum(a.n_i * b.n_i * abs(a.xb_i - b.xb_i)) AS num
        FROM binm a JOIN binm b USING (n_name)
        GROUP BY 1
    )
    SELECT t.n_name, t.n_orders, t.total_value, t.n_bins_used,
           round(m.num / (2.0 * t.n_orders * t.total_value), 6)
               AS gini_binned
    FROM totals t JOIN md m USING (n_name)
    ORDER BY t.n_name
"""

def _duck_q93_sql() -> str:
    return f"""
    WITH pu AS (
        SELECT user_id, round(sum(value), 4) AS sv, max(ts) AS mt
        FROM events WHERE value IS NOT NULL GROUP BY 1
    ), vr AS (
        SELECT user_id,
               CAST(row_number() OVER (ORDER BY sv DESC, user_id)
                    AS DOUBLE) AS r_value
        FROM pu ORDER BY sv DESC, user_id LIMIT {RRF_DEPTH}
    ), rr AS (
        SELECT user_id,
               CAST(row_number() OVER (ORDER BY mt DESC, user_id)
                    AS DOUBLE) AS r_recency
        FROM pu ORDER BY mt DESC, user_id LIMIT {RRF_DEPTH}
    ), f AS (
        SELECT coalesce(vr.user_id, rr.user_id) AS user_id,
               vr.r_value, rr.r_recency
        FROM vr FULL OUTER JOIN rr ON vr.user_id = rr.user_id
    )
    SELECT user_id, r_value, r_recency,
           round(coalesce(1.0 / ({RRF_K} + r_value), 0.0)
                 + coalesce(1.0 / ({RRF_K} + r_recency), 0.0), 6)
               AS rrf_score
    FROM f ORDER BY rrf_score DESC, user_id LIMIT {RRF_TOPN}
"""

def _duck_q94_sql() -> str:
    return """
    WITH per_cust AS (
        SELECT n.n_name, c.c_custkey,
               round(sum(o.o_totalprice), 4) AS spend
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    )
    SELECT n_name,
           count(*) AS n_customers,
           round(sum(spend), 4) AS total_spend,
           round(sum(spend * spend) / (sum(spend) * sum(spend)), 6)
               AS hhi,
           round(1.0 / (sum(spend * spend)
                        / (sum(spend) * sum(spend))), 6)
               AS effective_customers
    FROM per_cust GROUP BY 1 ORDER BY 1
"""

def _duck_q96_sql() -> str:
    return """
    WITH spend AS (
        SELECT n.n_name, c.c_custkey,
               round(sum(o.o_totalprice), 2) AS spend
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    ), nat AS (
        SELECT n_name,
               count(*) AS n_customers,
               sum(spend) AS spend_sum,
               sum(spend * ln(spend)) AS sxlx
        FROM spend GROUP BY 1
    ), tot AS (
        SELECT *,
               sum(n_customers) OVER () AS n_total,
               sum(spend_sum) OVER () AS s_total
        FROM nat
    )
    SELECT n_name,
           n_customers,
           round(spend_sum / n_customers, 6) AS mean_spend,
           round(sxlx / spend_sum
                 - ln(spend_sum / n_customers), 6) AS theil_within,
           round(spend_sum / s_total, 6) AS spend_share,
           round((spend_sum / s_total)
                 * (sxlx / spend_sum - ln(spend_sum / n_customers)),
                 6) AS within_contrib,
           round((spend_sum / s_total)
                 * ln((spend_sum / n_customers) / (s_total / n_total)),
                 6) AS between_term
    FROM tot ORDER BY n_name
"""

def _duck_q100_sql() -> str:
    return """
    WITH per_cust AS (
        SELECT n.n_name, c.c_custkey,
               max(o.o_orderdate) AS last_order,
               count(*) AS n_orders,
               round(sum(o.o_totalprice), 2) AS spend
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    ), scored AS (
        SELECT n_name, spend,
               ntile(5) OVER (PARTITION BY n_name
                              ORDER BY last_order, c_custkey)
                   AS r_score,
               ntile(5) OVER (PARTITION BY n_name
                              ORDER BY n_orders, c_custkey)
                   AS f_score,
               ntile(5) OVER (PARTITION BY n_name
                              ORDER BY spend, c_custkey)
                   AS m_score
        FROM per_cust
    ), seg AS (
        SELECT n_name, spend,
               CASE
                   WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
                       THEN 'champions'
                   WHEN r_score >= 4 AND f_score <= 2 THEN 'new'
                   WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
                   WHEN r_score <= 2 AND f_score <= 2
                       THEN 'hibernating'
                   ELSE 'core'
               END AS segment
        FROM scored
    )
    SELECT n_name, segment,
           count(*) AS n_customers,
           round(sum(spend), 2) AS segment_spend,
           round(avg(spend), 6) AS avg_spend
    FROM seg
    GROUP BY 1, 2 ORDER BY 1, 2
"""

def _duck_q99_sql() -> str:
    return """
    WITH staged AS (
        SELECT event_type, value,
               coalesce(sum(CASE WHEN event_type <> 'purchase'
                                 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id
                         ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING), 0) AS n_prior,
               user_id, ts, event_id
        FROM events
        WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    ), shared AS (
        SELECT *,
               CASE WHEN event_type = 'purchase' AND n_prior > 0
                    THEN value / n_prior END AS share
        FROM staged
    ), credited AS (
        SELECT event_type, value, n_prior,
               sum(share) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id
                                ROWS BETWEEN 1 FOLLOWING
                                         AND UNBOUNDED FOLLOWING)
                   AS credit
        FROM shared
    ), contrib AS (
        SELECT CASE WHEN event_type <> 'purchase' THEN event_type
                    ELSE '(none)' END AS channel,
               CASE WHEN event_type <> 'purchase'
                    THEN coalesce(credit, 0.0)
                    WHEN n_prior = 0 THEN value END AS contribution
        FROM credited
    )
    SELECT channel,
           count(CASE WHEN contribution > 0 THEN 1 END) AS n_credited,
           round(sum(contribution), 4) AS attributed_revenue
    FROM contrib
    WHERE contribution IS NOT NULL
    GROUP BY 1 ORDER BY 1
"""


def _duck_q98_sql() -> str:
    return """
    WITH touched AS (
        SELECT event_type, value,
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id
                         ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS channel
        FROM events
        WHERE user_id IS NOT NULL
    )
    SELECT coalesce(channel, '(none)') AS channel,
           count(*) AS n_purchases,
           round(sum(value), 4) AS attributed_revenue,
           round(avg(value), 6) AS avg_order_value
    FROM touched
    WHERE event_type = 'purchase'
    GROUP BY 1 ORDER BY 1
"""


def _duck_q97_sql() -> str:
    return """
    WITH spend AS (
        SELECT n.n_name, c.c_custkey,
               round(sum(o.o_totalprice), 2) AS spend
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    ), nat AS (
        SELECT n_name,
               count(*) AS n_customers,
               sum(spend) AS s1,
               sum(sqrt(spend)) AS sh,
               sum(ln(spend)) AS sl,
               sum(1.0 / spend) AS si
        FROM spend GROUP BY 1
    )
    SELECT n_name,
           n_customers,
           round(s1 / n_customers, 6) AS mean_spend,
           round(1.0 - ((sh / n_customers) * (sh / n_customers))
                       / (s1 / n_customers), 6) AS atkinson_05,
           round(1.0 - exp(sl / n_customers)
                       / (s1 / n_customers), 6) AS atkinson_1,
           round(1.0 - (n_customers / si)
                       / (s1 / n_customers), 6) AS atkinson_2
    FROM nat ORDER BY n_name
"""


def _duck_q95_sql() -> str:
    return """
    WITH spend AS (
        SELECT n.n_name, c.c_custkey,
               round(sum(o.o_totalprice), 2) AS spend
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    ), thr AS (
        SELECT n_name, quantile_cont(spend, 0.9) AS thr
        FROM spend GROUP BY 1
    )
    SELECT s.n_name,
           count(*) AS n_customers,
           CAST(sum(CASE WHEN s.spend >= t.thr THEN 1 ELSE 0 END)
                AS BIGINT) AS n_top,
           round(CAST(t.thr AS DOUBLE), 2) AS decile_threshold,
           round(sum(CASE WHEN s.spend >= t.thr THEN s.spend
                          ELSE 0.0 END) / sum(s.spend), 6)
               AS top_decile_share
    FROM spend s JOIN thr t ON s.n_name = t.n_name
    GROUP BY s.n_name, t.thr ORDER BY s.n_name
"""


ENTRIES = {
    "q34_top_users_labeled": (q34_top_users_labeled, lambda: """
        WITH top AS (
            SELECT user_id, count(*) AS n_events
            FROM events GROUP BY user_id
            ORDER BY n_events DESC, user_id LIMIT 10
        )
        SELECT t.user_id, t.n_events, c.c_name AS user_name
        FROM top t
        LEFT JOIN (SELECT c_custkey, c_name FROM customer
                   WHERE c_mktsegment = 'BUILDING') c
          ON t.user_id = c.c_custkey
        ORDER BY n_events DESC, user_id
    """),
    "q35_ship_delay": (q35_ship_delay, lambda: """
        SELECT l_orderkey, l_linenumber,
               (epoch_us(l_shipdate) - epoch_us(o_orderdate))
                   / 60000000.0 AS delay_minutes,
               (epoch_us(l_shipdate) - epoch_us(o_orderdate))
                   / 86400000000.0 AS delay_days
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    """),
    "q36_session_windows": (q36_session_windows, lambda: """
        WITH flagged AS (
            SELECT user_id, ts,
                   CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                            (PARTITION BY user_id ORDER BY ts)
                            > 1800000000 THEN 1 ELSE 0 END AS new_sess
            FROM events WHERE ts IS NOT NULL
        ), numbered AS (
            SELECT user_id, ts,
                   sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS sess_no
            FROM flagged
        )
        SELECT user_id, min(ts) AS session_start,
               max(ts) + INTERVAL 30 MINUTE AS session_end,
               count(*) AS n_events
        FROM numbered GROUP BY user_id, sess_no
        ORDER BY user_id, session_start
    """),
    "q37_prior_hour_window": (q37_prior_hour_window, lambda: """
        SELECT event_id,
               count(*) OVER w AS n_prior_1h,
               round(coalesce(sum(value) OVER w, 0), 6) AS value_prior_1h
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                     RANGE BETWEEN 3600000000 PRECEDING
                           AND 1 PRECEDING)
        ORDER BY event_id
    """),
    "q38_unpivot_heatmap": (q38_unpivot_heatmap, lambda: """
        SELECT event_dow, hour_bucket, cnt FROM (
            SELECT dayname(ts) AS event_dow,
                   count(*) FILTER (hour(ts) = 0) AS h0,
                   count(*) FILTER (hour(ts) = 6) AS h6,
                   count(*) FILTER (hour(ts) = 12) AS h12,
                   count(*) FILTER (hour(ts) = 18) AS h18
            FROM events
            WHERE hour(ts) IN (0, 6, 12, 18)
            GROUP BY 1
        ) UNPIVOT (cnt FOR hour_bucket IN (h0, h6, h12, h18))
        ORDER BY event_dow, hour_bucket
    """),
    "q39_interval_join": (q39_interval_join, lambda: f"""
        SELECT a.o_orderkey,
               count(b.o_orderkey) AS n_followups_7d
        FROM orders a LEFT JOIN orders b
          ON a.o_custkey = b.o_custkey
         AND b.o_orderdate > a.o_orderdate
         AND b.o_orderdate <= a.o_orderdate + INTERVAL {_FOLLOWUP_DAYS} DAY
        GROUP BY a.o_orderkey
        ORDER BY a.o_orderkey
    """),
    "q40_salted_skew_join": (q40_salted_skew_join, lambda: """
        SELECT c_mktsegment, count(*) AS n_events
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment
    """),
    "q41_latest_event_state": (q41_latest_event_state, lambda: """
        SELECT user_id,
               event_id AS last_event_id,
               ts AS last_ts,
               event_type AS last_type,
               value AS last_value,
               count(*) OVER (PARTITION BY user_id) AS n_changes
        FROM events
        QUALIFY row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
        ORDER BY user_id
    """),
    "q42_daily_from_hourly": (q42_daily_from_hourly, lambda: """
        WITH hourly AS (
            SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date,
                   CAST(hour(ts) AS INT) AS event_hour,
                   count(*) AS cnt, sum(value) AS vsum
            FROM events GROUP BY 1, 2
        )
        SELECT event_date,
               CAST(sum(cnt) AS BIGINT) AS event_cnt,
               round(sum(vsum), 4) AS value_sum,
               CAST(count(*) AS BIGINT) AS active_hours
        FROM hourly GROUP BY event_date ORDER BY event_date
    """),
    "q43_full_outer_reconcile": (q43_full_outer_reconcile, lambda: """
        WITH ev AS (
            SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, count(*) AS e_cnt
            FROM events GROUP BY 1
        ), ord AS (
            SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS day, count(*) AS o_cnt
            FROM orders GROUP BY 1
        )
        SELECT COALESCE(ev.day, ord.day) AS day,
               CAST(COALESCE(e_cnt, 0) AS BIGINT) AS event_cnt,
               CAST(COALESCE(o_cnt, 0) AS BIGINT) AS order_cnt,
               CASE WHEN e_cnt IS NULL THEN 'orders_only'
                    WHEN o_cnt IS NULL THEN 'events_only'
                    ELSE 'both' END AS presence
        FROM ev FULL OUTER JOIN ord ON ev.day = ord.day
        ORDER BY day
    """),
    "q44_user_trend": (q44_user_trend, lambda: """
        SELECT user_id,
               round(regr_slope(value, x), 6) AS slope,
               round(regr_intercept(value, x), 6) AS intercept,
               count(*) AS n_events
        FROM (SELECT user_id, value,
                     CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0 AS x
              FROM events)
        GROUP BY user_id ORDER BY user_id
    """),
    "q45_cohort_retention": (q45_cohort_retention, lambda: """
        WITH uw AS (
            SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week,
                   count(*) AS n_ev
            FROM events GROUP BY 1, 2
        ), cohorted AS (
            SELECT user_id, week,
                   min(week) OVER (PARTITION BY user_id) AS cohort_week
            FROM uw
        )
        SELECT CAST(cohort_week AS VARCHAR) AS cohort_week,
               CAST((week - cohort_week) // 7 AS INT) AS week_offset,
               count(*) AS n_users
        FROM cohorted
        GROUP BY 1, 2 ORDER BY cohort_week, week_offset
    """),
    "q46_value_anomalies": (q46_value_anomalies, lambda: f"""
        WITH stats AS (
            SELECT event_type,
                   round(avg(value), 6) AS mu,
                   round(stddev_samp(value), 6) AS sigma
            FROM events GROUP BY event_type
        )
        SELECT e.event_id, e.event_type, e.value,
               (e.value - s.mu) / s.sigma AS z
        FROM events e JOIN stats s USING (event_type)
        WHERE abs((e.value - s.mu) / s.sigma) >= {Z_THRESHOLD}
        ORDER BY event_id
    """),
    "q47_scd2_history": (q47_scd2_history, lambda: f"""
        WITH ordered AS (
            SELECT user_id, event_type, ts, event_id,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev_type
            FROM events
        ), changes AS (
            SELECT user_id, event_type, ts, event_id FROM ordered
            WHERE prev_type IS NULL OR prev_type != event_type
        ), closed AS (
            SELECT user_id, event_type AS state, ts AS valid_from,
                   COALESCE(lead(ts) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id),
                            TIMESTAMP '{SCD2_OPEN_END}') AS valid_to
            FROM changes
        )
        SELECT user_id, state, valid_from, valid_to,
               (valid_to = TIMESTAMP '{SCD2_OPEN_END}') AS is_current
        FROM closed ORDER BY user_id, valid_from
    """),
    "q48_funnel_steps": (q48_funnel_steps, lambda: f"""
        WITH firsts AS (
            SELECT user_id,
                   {', '.join(
                       "min(CASE WHEN event_type = '" + s + "' THEN ts END)"
                       " AS t_" + str(i)
                       for i, s in enumerate(FUNNEL_STEPS))}
            FROM events GROUP BY user_id
        ), counts AS (
            SELECT
                sum(CASE WHEN t_0 IS NOT NULL THEN 1 ELSE 0 END) AS n_0,
                sum(CASE WHEN t_0 IS NOT NULL AND t_1 IS NOT NULL
                         AND t_1 >= t_0 THEN 1 ELSE 0 END) AS n_1,
                sum(CASE WHEN t_0 IS NOT NULL AND t_1 IS NOT NULL
                         AND t_1 >= t_0 AND t_2 IS NOT NULL
                         AND t_2 >= t_1 THEN 1 ELSE 0 END) AS n_2
            FROM firsts
        ), stacked AS (
            {' UNION ALL '.join(
                "SELECT " + str(i) + " AS step_idx, '" + s + "' AS step,"
                " n_" + str(i) + " AS n_users, n_0 AS n_first FROM counts"
                for i, s in enumerate(FUNNEL_STEPS))}
        )
        SELECT CAST(step_idx AS INT) AS step_idx, step,
               CAST(n_users AS BIGINT) AS n_users,
               round(CAST(n_users AS DOUBLE) / n_first, 6) AS conversion
        FROM stacked ORDER BY step_idx
    """),
    "q49_fuzzy_name_match": (q49_fuzzy_name_match, lambda: f"""
        WITH blocked AS (
            SELECT p_partkey, p_name,
                   split_part(p_name, ' ', 1) AS blk
            FROM part
        )
        SELECT a.p_partkey AS key_a, a.p_name AS name_a,
               b.p_partkey AS key_b, b.p_name AS name_b,
               CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
        FROM blocked a JOIN blocked b
          ON a.blk = b.blk AND a.p_partkey < b.p_partkey
        WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND {FUZZY_MAX_DIST}
        ORDER BY edit_dist, key_a, key_b
        LIMIT 20
    """),
    "q50_equidepth_buckets": (q50_equidepth_buckets, lambda: """
        WITH cuts AS (
            SELECT event_type,
                   quantile_cont(value, 0.25) AS c1,
                   quantile_cont(value, 0.5) AS c2,
                   quantile_cont(value, 0.75) AS c3
            FROM events GROUP BY event_type
        )
        SELECT e.event_type,
               CAST(CASE WHEN e.value <= c.c1 THEN 0
                    WHEN e.value <= c.c2 THEN 1
                    WHEN e.value <= c.c3 THEN 2
                    ELSE 3 END AS INT) AS bucket,
               count(*) AS n_events,
               round(avg(e.value), 6) AS avg_value
        FROM events e JOIN cuts c USING (event_type)
        GROUP BY 1, 2 ORDER BY event_type, bucket
    """),
    "q51_nation_pagerank": (q51_nation_pagerank, _duck_pagerank_sql),
    "q52_gap_fill": (q52_gap_fill, lambda: """
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS hr,
                   count(*) AS n, round(avg(value), 6) AS avg_value
            FROM events GROUP BY 1, 2
        ), bounds AS (
            SELECT date_trunc('hour', min(ts)) AS h0,
                   date_trunc('hour', max(ts)) AS h1
            FROM events
        ), spine AS (
            SELECT t.event_type, h.hr
            FROM (SELECT DISTINCT event_type FROM events) t,
                 (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR))
                         AS hr FROM bounds) h
        )
        SELECT s.event_type, s.hr,
               COALESCE(h.n, 0) AS n_events,
               last_value(h.avg_value IGNORE NULLS) OVER (
                   PARTITION BY s.event_type ORDER BY s.hr
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS avg_value_ffill,
               (h.n IS NULL) AS is_gap
        FROM spine s LEFT JOIN hourly h USING (event_type, hr)
        ORDER BY event_type, hr
    """),
    "q53_incremental_rollup": (q53_incremental_rollup, lambda: """
        SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date, event_type,
               count(*) AS n_events,
               round(sum(value), 6) AS sum_value,
               round(sum(value) / count(*), 6) AS avg_value
        FROM events
        GROUP BY 1, 2
        ORDER BY event_date, event_type
    """),
    "q54_hash_sample": (q54_hash_sample, _duck_hash_sample_sql),
    "q55_rolling_median": (q55_rolling_median, _duck_rolling_median_sql),
    "q56_grouped_stats": (q56_grouped_stats, _duck_grouped_stats_sql),
    "q57_rank_family": (q57_rank_family, _duck_rank_family_sql),
    "q58_event_nation_counts": (
        q58_event_nation_counts,
        _duck_event_nation_sql,
    ),
    "q59_sliding_distinct": (q59_sliding_distinct, _duck_sliding_distinct_sql),
    "q28_json_extract": (q28_json_extract, lambda: """
        SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
               count(*) AS cnt,
               round(avg(value), 6) AS avg_value
        FROM events
        GROUP BY 1 ORDER BY 1
    """),
    "q29_approx_stats": (q29_approx_stats, None),
    "q30_semi_anti": (q30_semi_anti, lambda: """
        SELECT 'with_orders' AS cohort,
               (SELECT count(*) FROM customer
                WHERE EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey)) AS n
        UNION ALL
        SELECT 'without_orders',
               (SELECT count(*) FROM customer
                WHERE NOT EXISTS (SELECT 1 FROM orders
                                  WHERE o_custkey = c_custkey))
        ORDER BY cohort
    """),
    "q31_moving_avg": (q31_moving_avg, lambda: """
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS h, count(*) AS cnt
            FROM events GROUP BY 1
        )
        SELECT h, cnt,
               round(avg(cnt) OVER (ORDER BY h
                     ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING), 6)
                   AS moving_avg3,
               cnt - lag(cnt, 1, CAST(0 AS BIGINT)) OVER (ORDER BY h)
                   AS delta_prev
        FROM hourly ORDER BY h
    """),
    "q32_collect_sets": (q32_collect_sets, lambda: """
        SELECT event_type,
               array_to_string(list_sort(list(DISTINCT user_id))[1:10], ',')
                   AS first_users,
               count(*) AS n_events
        FROM events
        WHERE user_id < 20
        GROUP BY event_type ORDER BY event_type
    """),
    "sim_centroid_assign": (sim_centroid_assign, lambda: f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), c AS (
            SELECT vec_id AS centroid_id, v AS cv FROM e
            WHERE vec_id IN ({', '.join(map(str, _CENTROID_IDS))})
        ), sims AS (
            SELECT e.vec_id, c.centroid_id,
                   round(list_dot_product(e.v, c.cv)
                         / (sqrt(list_dot_product(e.v, e.v))
                            * sqrt(list_dot_product(c.cv, c.cv))), 6) AS sim
            FROM e, c
        )
        SELECT vec_id, centroid_id, sim FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY sim DESC, centroid_id) AS rn
            FROM sims) t
        WHERE rn = 1
    """),
    "sim_ivf_topk": (sim_ivf_topk, None),
    "sim_ivfpq_topk": (sim_ivfpq_topk, None),
    # the *_pretrained names are aliases of the one serving function
    # per ANN family, kept for the names bench.py and plans/ use
    "sim_ivf_topk_pretrained": (sim_ivf_topk, None),
    "sim_ivfpq_topk_pretrained": (sim_ivfpq_topk, None),
    "sim_ivf_recall_guard": (sim_ivf_recall_guard, None),
    "sim_ivfpq_recall_guard": (sim_ivfpq_recall_guard, None),
    "q20_shipping_priority": (q20_shipping_priority, lambda: """
        SELECT o_orderkey, o_orderdate,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE l_shipdate > TIMESTAMP '1997-01-01'
          AND o_orderdate <= TIMESTAMP '1997-01-01'
          AND c_mktsegment = 'BUILDING'
        GROUP BY o_orderkey, o_orderdate
        ORDER BY revenue DESC, o_orderkey
        LIMIT 10
    """),
    "q21_nation_revenue": (q21_nation_revenue, lambda: """
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE c_nationkey = s_nationkey AND r_name = 'ASIA'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
    """),
    "q22_heatmap_pivot": (q22_heatmap_pivot, lambda: """
        SELECT dayname(ts) AS event_dow,
               count(*) FILTER (hour(ts) = 0) AS h0,
               count(*) FILTER (hour(ts) = 6) AS h6,
               count(*) FILTER (hour(ts) = 12) AS h12,
               count(*) FILTER (hour(ts) = 18) AS h18
        FROM events
        WHERE hour(ts) IN (0, 6, 12, 18)
        GROUP BY 1 ORDER BY 1
    """),
    "q23_value_percentiles": (q23_value_percentiles, lambda: """
        SELECT event_type,
               quantile_cont(value, 0.5) AS p50,
               quantile_cont(value, 0.9) AS p90,
               quantile_cont(value, 0.99) AS p99
        FROM events GROUP BY event_type ORDER BY event_type
    """),
    "q24_distinct_users": (q24_distinct_users, lambda: """
        SELECT event_type,
               count(DISTINCT user_id) AS n_users,
               count(*) AS n_events
        FROM events GROUP BY event_type ORDER BY event_type
    """),
    "q25_set_ops": (q25_set_ops, lambda: """
        WITH clicks AS (
            SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
        ), buys AS (
            SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        )
        SELECT 'click_and_purchase' AS cohort,
               (SELECT count(*) FROM (SELECT * FROM clicks INTERSECT
                                      SELECT * FROM buys)) AS n
        UNION ALL
        SELECT 'click_no_purchase',
               (SELECT count(*) FROM (SELECT * FROM clicks EXCEPT
                                      SELECT * FROM buys))
        UNION ALL
        SELECT 'click_or_purchase',
               (SELECT count(*) FROM (SELECT * FROM clicks UNION
                                      SELECT * FROM buys))
        ORDER BY cohort
    """),
    "q26_regex_filter": (q26_regex_filter, lambda: """
        SELECT lang, count(*) AS n_docs
        FROM documents
        WHERE regexp_matches(text, 'spark.*join')
        GROUP BY lang ORDER BY lang
    """),
    "q27_asof_join": (q27_asof_join, lambda: """
        WITH purchases AS (
            SELECT event_id, user_id, ts FROM events
            WHERE event_type = 'purchase'
        ), signups AS (
            SELECT user_id, ts FROM events WHERE event_type = 'signup'
        )
        SELECT p.event_id, p.user_id, p.ts AS purchase_ts,
               coalesce(s.ts, TIMESTAMP '1970-01-01') AS last_signup_ts
        FROM purchases p
        ASOF LEFT JOIN signups s
          ON p.user_id = s.user_id AND p.ts >= s.ts
    """),
    "q60_bucketed_join": (q60_bucketed_join, lambda: """
        SELECT o_orderpriority, count(*) AS n_items,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """),
    "q61_profile_events": (q61_profile_events, _duck_profile_sql),
    "q61_profile_events_approx": (
        q61_profile_events_approx,
        _duck_profile_approx_sql,
    ),
    "q62_skew_stats": (q62_skew_stats, _duck_skew_sql),
    "q63_drift_kl": (q63_drift_kl, _duck_drift_sql),
    "q64_weighted_sample": (q64_weighted_sample, _duck_weighted_sample_sql),
    "q65_small_quantity_revenue": (q65_small_quantity_revenue, _duck_q65_sql),
    "q66_late_supplier_blame": (q66_late_supplier_blame, _duck_q66_sql),
    # an alias of q66_late_supplier_blame, kept for its key
    "q66_late_supplier_blame_agg": (q66_late_supplier_blame, _duck_q66_sql),
    "q67_important_parts": (q67_important_parts, _duck_q67_sql),
    "q68_value_deciles": (q68_value_deciles, _duck_q68_sql),
    "q69_concurrent_sessions": (
        q69_concurrent_sessions,
        _duck_concurrent_sessions_sql,
    ),
    "q70_promo_discount_revenue": (q70_promo_discount_revenue, _duck_q70_sql),
    "q71_idle_rich_customers": (q71_idle_rich_customers, _duck_q71_sql),
    "q72_top_quarter_supplier": (q72_top_quarter_supplier, _duck_q72_sql),
    "q73_large_quantity_orders": (q73_large_quantity_orders, _duck_q73_sql),
    "q74_dominant_suppliers": (q74_dominant_suppliers, _duck_q74_sql),
    "q75_nation_trade_volume": (q75_nation_trade_volume, _duck_q75_sql),
    "q76_priority_late_orders": (q76_priority_late_orders, _duck_q76_sql),
    "q77_returned_customers": (q77_returned_customers, _duck_q77_sql),
    "q78_promo_revenue_share": (q78_promo_revenue_share, _duck_q78_sql),
    "q79_supplier_variety": (q79_supplier_variety, _duck_q79_sql),
    "q80_market_share": (q80_market_share, _duck_q80_sql),
    "q81_product_margin": (q81_product_margin, _duck_q81_sql),
    "q82_order_count_distribution": (
        q82_order_count_distribution,
        _duck_q82_sql,
    ),
    "q84_rollup_revenue": (q84_rollup_revenue, _duck_q84_sql),
    "q85_corpus_grouping_sets": (q85_corpus_grouping_sets, _duck_q85_sql),
    "q86_zorder_layout": (q86_zorder_layout, _duck_q86_sql),
    "q87_time_weighted_value": (q87_time_weighted_value, _duck_q87_sql),
    "q88_basket_pairs": (q88_basket_pairs, _duck_q88_sql),
    "q89_session_transitions": (q89_session_transitions, _duck_q89_sql),
    "q90_mad_outliers": (q90_mad_outliers, _duck_q90_sql),
    "q91_decayed_engagement": (q91_decayed_engagement, _duck_q91_sql),
    "q92_value_gini": (q92_value_gini, _duck_q92_sql),
    "q93_rrf_fusion": (q93_rrf_fusion, _duck_q93_sql),
    "q92_value_gini_binned": (q92_value_gini_binned, _duck_q92b_sql),
    "q94_hhi_concentration": (q94_hhi_concentration, _duck_q94_sql),
    "q95_top_decile_share": (q95_top_decile_share, _duck_q95_sql),
    "q96_theil_decomposition": (q96_theil_decomposition, _duck_q96_sql),
    "q97_atkinson_index": (q97_atkinson_index, _duck_q97_sql),
    "q98_last_touch_attribution": (q98_last_touch_attribution, _duck_q98_sql),
    "q99_linear_attribution": (q99_linear_attribution, _duck_q99_sql),
    "q100_rfm_segments": (q100_rfm_segments, _duck_q100_sql),
    # rows-only by design: per-nation approx_percentile thresholds are
    # engine-private sketches (q83's precedent); agreement vs the
    # oracle-backed exact q100 is pinned in tests/test_properties.py
    "q100_rfm_segments_approx": (q100_rfm_segments_approx, None),
    "q83_approx_percentile_guard": (q83_approx_percentile_guard, None),
    "sim_diverse_subset": (sim_diverse_subset, _duck_diverse_subset_sql),
    # an alias of similarity.rp_topk, which already serves from the
    # persisted projections: same builder, same oracle
    "sim_rp_topk_pretrained": (rp_topk, _duck_rp_topk_sql),
}
