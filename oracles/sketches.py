"""Registry records and DuckDB oracles of extras.sketches."""

from data_pipeline_and_visualization_dashboard_spark.extras.hashing import (
    duck_h60, minhash_term,
)
from data_pipeline_and_visualization_dashboard_spark.extras.sketches import (
    AMS_R, BLOOM_BPK, BLOOM_K, BLOOM_MIN_M, BLOOM_SEGMENT, CM_D, CM_JOIN_A,
    CM_JOIN_B, CM_TOPK, CM_W, HIST_BINS, HIST_QS, HLL_ALPHA, HLL_M, KMV_K,
    KMV_OVL_K, _KMV_SPACE, _ams_sign, _bloom_positions, ams_f2, ams_hhi,
    bloom_bits, bloom_prefilter, cm_join_card, countmin_sketch,
    countmin_topk_est, hist_quantiles, hll_estimate, hll_registers,
    kmv_estimate, kmv_overlap,
)

from .dedup import _DUCK_SHINGLES


_DUCK_KEY = "CAST(user_id AS VARCHAR)"


def _duck_base(expr: str) -> str:
    return f"({duck_h60(expr)} % 2147483647)"


def _duck_cm_join_card_sql() -> str:
    base = _duck_base(_DUCK_KEY)
    hashes = ",\n                   ".join(
        f"({minhash_term(j, base)} % {CM_W}) AS w_{j}" for j in range(CM_D)
    )
    union = "\n            UNION ALL\n".join(
        f"            SELECT {j} AS d, w_{j} AS w, ca, cb FROM hashed"
        for j in range(CM_D)
    )
    return f"""
        WITH keyed AS (
            SELECT user_id,
                   sum(CASE WHEN event_type = '{CM_JOIN_A}'
                            THEN 1 ELSE 0 END) AS ca,
                   sum(CASE WHEN event_type = '{CM_JOIN_B}'
                            THEN 1 ELSE 0 END) AS cb
            FROM events
            WHERE user_id IS NOT NULL
              AND event_type IN ('{CM_JOIN_A}', '{CM_JOIN_B}')
            GROUP BY user_id
        ), hashed AS (
            SELECT ca, cb,
                   {hashes}
            FROM keyed
        ), stacked AS (
{union}
        ), cells AS (
            SELECT d, w, sum(ca) AS sa, sum(cb) AS sb,
                   sum(ca * cb) AS p
            FROM stacked GROUP BY d, w
        ), per_d AS (
            SELECT d, sum(sa * sb) AS ip, sum(p) AS exact_d,
                   sum(sa) AS na, sum(sb) AS nb
            FROM cells GROUP BY d
        )
        SELECT CAST(coalesce(min(na), 0) AS BIGINT) AS rows_a,
               CAST(coalesce(min(nb), 0) AS BIGINT) AS rows_b,
               CAST(coalesce(min(exact_d), 0) AS BIGINT)
                   AS exact_join_rows,
               CAST(coalesce(min(ip), 0) AS BIGINT) AS est_join_rows,
               CASE WHEN coalesce(min(exact_d), 0) > 0
                    THEN round((min(ip) - min(exact_d))
                               / CAST(min(exact_d) AS DOUBLE), 6)
                    END AS rel_overcount
        FROM per_d
    """


def _duck_hist_quantiles_sql() -> str:
    return f"""
        WITH ev AS (
            SELECT event_type, value FROM events
            WHERE value IS NOT NULL
        ), rng AS (
            SELECT min(value) AS lo, max(value) AS hi FROM ev
        ), binned AS (
            SELECT event_type,
                   CAST(least(floor((value - lo) * {HIST_BINS}
                                    / (hi - lo)),
                              {HIST_BINS - 1}) AS INT) AS bin,
                   lo, hi
            FROM ev CROSS JOIN rng
        ), hist AS (
            SELECT event_type, bin, lo, hi, count(*) AS cnt
            FROM binned GROUP BY event_type, bin, lo, hi
        ), cum AS (
            SELECT event_type, bin, cnt, lo, hi,
                   sum(cnt) OVER (PARTITION BY event_type
                                  ORDER BY bin) AS cum,
                   sum(cnt) OVER (PARTITION BY event_type) AS total
            FROM hist
        ), qs AS (
            SELECT unnest({list(HIST_QS)}) AS q
        ), crossed AS (
            SELECT *, q * total AS target
            FROM cum CROSS JOIN qs
            WHERE cum >= q * total AND cum - cnt < q * total
        ), sk AS (
            SELECT event_type, q,
                   round(lo + (hi - lo) / {float(HIST_BINS)}
                         * (bin + (target - (cum - cnt)) / cnt),
                         4) AS est
            FROM crossed
        ), exact AS (
            -- quantile_cont needs constant parameters: one SELECT per
            -- quantile literal (mirrors the Spark side's per-literal
            -- aggregates)
{chr(10).join(
    f"            SELECT event_type, CAST({q!r} AS DOUBLE) AS q,"
    f" round(quantile_cont(value, {q!r}), 4) AS exact"
    f" FROM ev GROUP BY event_type"
    + ("" if i == len(HIST_QS) - 1 else chr(10) + "            UNION ALL")
    for i, q in enumerate(HIST_QS)
)}
        )
        SELECT sk.event_type, sk.q, sk.est, exact.exact,
               round(abs(sk.est - exact.exact), 4) AS abs_err
        FROM sk JOIN exact USING (event_type, q)
        ORDER BY event_type, q
    """






def _duck_countmin_sql() -> str:
    base = _duck_base(_DUCK_KEY)
    hashes = ",\n                   ".join(
        f"({minhash_term(j, base)} % {CM_W}) AS w_{j}" for j in range(CM_D)
    )
    union = "\n            UNION ALL\n".join(
        f"            SELECT {j} AS d, w_{j} AS w, c FROM hashed"
        for j in range(CM_D)
    )
    return f"""
        WITH keyed AS (
            SELECT user_id, count(*) AS c FROM events GROUP BY user_id
        ), hashed AS (
            SELECT c,
                   {hashes}
            FROM keyed
        ), stacked AS (
{union}
        )
        SELECT CAST(d AS INT) AS d, CAST(w AS INT) AS w,
               CAST(sum(c) AS BIGINT) AS cnt
        FROM stacked GROUP BY d, w ORDER BY d, w
    """


def _duck_countmin_est_sql() -> str:
    base = _duck_base(_DUCK_KEY)
    hashes = ",\n                   ".join(
        f"CAST({minhash_term(j, base)} % {CM_W} AS INT) AS w_{j}"
        for j in range(CM_D)
    )
    union = "\n            UNION ALL\n".join(
        f"            SELECT user_id, true_cnt, {j} AS d, w_{j} AS w"
        " FROM hashed"
        for j in range(CM_D)
    )
    return f"""
        WITH sketch AS ({_duck_countmin_sql()}),
        counts AS (
            SELECT user_id, count(*) AS true_cnt
            FROM events GROUP BY user_id
            ORDER BY true_cnt DESC, user_id LIMIT {CM_TOPK}
        ), hashed AS (
            SELECT user_id, true_cnt,
                   {hashes}
            FROM counts
        ), stacked AS (
{union}
        )
        SELECT s.user_id, s.true_cnt,
               CAST(min(k.cnt) AS BIGINT) AS est_cnt
        FROM stacked s JOIN sketch k ON s.d = k.d AND s.w = k.w
        GROUP BY s.user_id, s.true_cnt
        ORDER BY true_cnt DESC, user_id
    """


def _duck_hll_registers_sql() -> str:
    h = duck_h60(_DUCK_KEY)
    return f"""
        WITH keys AS (
            SELECT DISTINCT user_id FROM events
        ), bucketed AS (
            SELECT CAST({h} % {HLL_M} AS INT) AS bucket,
                   CAST({h} // {HLL_M} AS BIGINT) AS rest
            FROM keys
        ), ranked AS (
            SELECT bucket,
                   CAST(CASE WHEN rest = 0 THEN 53
                        ELSE 53 - length(bin(rest)) END AS INT)
                       AS rank
            FROM bucketed
        )
        SELECT bucket, CAST(max(rank) AS INT) AS max_rank
        FROM ranked GROUP BY bucket ORDER BY bucket
    """


def _duck_hll_estimate_sql() -> str:
    return f"""
        WITH regs AS ({_duck_hll_registers_sql()}),
        spine AS (
            SELECT unnest(range(0, {HLL_M})) AS bucket
        ), full_regs AS (
            SELECT spine.bucket, COALESCE(regs.max_rank, 0) AS r
            FROM spine LEFT JOIN regs ON spine.bucket = regs.bucket
        ), folded AS (
            SELECT sum(power(2.0, -r)) AS denom,
                   sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS zeros
            FROM full_regs
        ), est_calc AS (
            -- alpha*m^2 pre-folded in Python: a DECIMAL-typed literal
            -- product overflows DuckDB's decimal multiplication
            SELECT CASE WHEN {HLL_ALPHA * HLL_M * HLL_M!r} / denom
                             <= {2.5 * HLL_M}
                        AND zeros > 0
                   THEN {float(HLL_M)} * ln({float(HLL_M)} / zeros)
                   ELSE {HLL_ALPHA * HLL_M * HLL_M!r} / denom
                   END AS est
            FROM folded
        ), exact AS (
            SELECT count(DISTINCT user_id) AS n_exact FROM events
        )
        SELECT n_exact,
               round(est, 4) AS hll_est,
               round(abs(est - n_exact) / n_exact, 4) AS rel_err
        FROM exact CROSS JOIN est_calc
    """


def _duck_kmv_estimate_sql() -> str:
    h = duck_h60(_DUCK_KEY)
    num = float(KMV_K - 1) * _KMV_SPACE
    return f"""
        WITH hashed AS (
            SELECT {h} AS h FROM (
                SELECT DISTINCT user_id FROM events
            )
        ), sk AS (
            SELECT h FROM hashed ORDER BY h LIMIT {KMV_K}
        ), folded AS (
            SELECT max(h) AS kth, count(*) AS n_sk FROM sk
        ), est_calc AS (
            SELECT CASE WHEN n_sk < {KMV_K}
                        THEN CAST(n_sk AS DOUBLE)
                        ELSE {num!r} / kth END AS est
            FROM folded
        ), exact AS (
            SELECT count(DISTINCT user_id) AS n_exact FROM events
        )
        SELECT n_exact,
               round(est, 4) AS kmv_est,
               round(abs(est - n_exact) / n_exact, 4) AS rel_err
        FROM exact CROSS JOIN est_calc
    """


def _duck_kmv_overlap_sql() -> str:
    num = float(KMV_OVL_K - 1) * _KMV_SPACE
    return f"""
        WITH sh AS (
            SELECT length(source) <= 4 AS grp_a,
                   unnest({_DUCK_SHINGLES}) AS shingle
            FROM documents WHERE text IS NOT NULL
        ), hs AS (
            SELECT {duck_h60("shingle")} AS h,
                   max(grp_a) AS in_a, max(NOT grp_a) AS in_b
            FROM sh GROUP BY 1
        ), sk AS (
            SELECT * FROM hs ORDER BY h LIMIT {KMV_OVL_K}
        ), folded AS (
            SELECT max(h) AS kth, count(*) AS n_sk,
                   CAST(sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_both
            FROM sk
        ), exact AS (
            SELECT CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_a,
                   CAST(sum(CASE WHEN in_b THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_b,
                   CAST(sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_inter,
                   count(*) AS n_union
            FROM hs
        ), calc AS (
            SELECT *,
                   CAST(n_both AS DOUBLE)
                       / least({KMV_OVL_K}, n_sk) AS jacc_est_raw,
                   CASE WHEN n_sk < {KMV_OVL_K}
                        THEN CAST(n_sk AS DOUBLE)
                        ELSE {num!r} / kth END AS union_est
            FROM exact CROSS JOIN folded
        )
        SELECT n_a, n_b, n_inter,
               round(CAST(n_inter AS DOUBLE) / n_union, 4) AS jacc_exact,
               round(jacc_est_raw, 4) AS jacc_est,
               round(jacc_est_raw * union_est, 1) AS inter_est
        FROM calc
    """


_DUCK_BLOOM_WIDTH = f"""
            SELECT greatest({BLOOM_MIN_M},
                            count(*) * {BLOOM_BPK}) AS mb
            FROM (SELECT DISTINCT c_custkey FROM customer
                  WHERE c_mktsegment = '{BLOOM_SEGMENT}')
"""


def _duck_bloom_bits_sql() -> str:
    pos = _bloom_positions("CAST(c_custkey AS VARCHAR)", _duck_base)
    arms = " UNION ".join(
        f"SELECT {p} AS bit FROM members CROSS JOIN width" for p in pos
    )
    return f"""
        WITH members AS (
            SELECT DISTINCT c_custkey FROM customer
            WHERE c_mktsegment = '{BLOOM_SEGMENT}'
        ), width AS ({_DUCK_BLOOM_WIDTH})
        SELECT DISTINCT bit FROM ({arms}) ORDER BY bit
    """


def _duck_bloom_prefilter_sql() -> str:
    bpos = _bloom_positions("CAST(c_custkey AS VARCHAR)", _duck_base)
    ppos = _bloom_positions("CAST(o_custkey AS VARCHAR)", _duck_base)
    barms = " UNION ".join(
        f"SELECT {p} AS bit FROM members CROSS JOIN width" for p in bpos
    )
    parms = " UNION ALL ".join(
        f"SELECT o_custkey, {p} AS bit FROM probe CROSS JOIN width"
        for p in ppos
    )
    return f"""
        WITH members AS (
            SELECT DISTINCT c_custkey FROM customer
            WHERE c_mktsegment = '{BLOOM_SEGMENT}'
        ), width AS ({_DUCK_BLOOM_WIDTH}
        ), bits AS (
            SELECT DISTINCT bit FROM ({barms})
        ), probe AS (
            SELECT DISTINCT o_custkey FROM orders
        ), stacked AS (
            {parms}
        ), hits AS (
            SELECT o_custkey FROM stacked JOIN bits USING (bit)
            GROUP BY o_custkey HAVING count(*) = {BLOOM_K}
        ), flagged AS (
            SELECT CASE WHEN h.o_custkey IS NOT NULL THEN 1 ELSE 0 END
                       AS p,
                   CASE WHEN m.c_custkey IS NOT NULL THEN 1 ELSE 0 END
                       AS m
            FROM probe
            LEFT JOIN hits h USING (o_custkey)
            LEFT JOIN members m ON probe.o_custkey = m.c_custkey
        )
        SELECT count(*) AS n_probe,
               CAST(sum(m) AS BIGINT) AS n_members,
               CAST(sum(p) AS BIGINT) AS n_pass,
               CAST(sum(CASE WHEN p = 1 AND m = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_false_pos,
               CAST(sum(CASE WHEN p = 0 AND m = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_missed,
               round(CAST(sum(CASE WHEN p = 1 AND m = 0 THEN 1 ELSE 0 END)
                          AS DOUBLE)
                     / greatest(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END), 1),
                     6) AS fp_rate,
               round(1.0 - CAST(sum(p) AS DOUBLE) / count(*), 6)
                   AS pruned_frac
        FROM flagged
    """


def _duck_ams_f2_sql() -> str:
    base = _duck_base(_DUCK_KEY)
    signs = ",\n               ".join(
        f"{_ams_sign(r, base)} AS s_{r}" for r in range(AMS_R)
    )
    s_sums = ",\n               ".join(
        f"CAST(sum(f * s_{r}) AS BIGINT) AS S_{r}" for r in range(AMS_R)
    )
    # DOUBLE square to mirror the Spark side (BIGINT would raise here
    # at the N where Spark wraps — see the module comment / ADVICE r9)
    sq_list = ", ".join(
        f"CAST(S_{r} AS DOUBLE) * CAST(S_{r} AS DOUBLE)"
        for r in range(AMS_R)
    )
    mid = AMS_R // 2
    return f"""
        WITH f AS (
            SELECT user_id, count(*) AS f FROM events GROUP BY 1
        ), signed AS (
            SELECT f,
               {signs}
            FROM f
        ), sums AS (
            SELECT count(*) AS n_keys,
               CAST(sum(f * f) AS BIGINT) AS f2_exact,
               {s_sums}
            FROM signed
        ), arr AS (
            SELECT n_keys, f2_exact,
                   list_sort([{sq_list}]) AS sq
            FROM sums
        )
        SELECT n_keys, f2_exact,
               CAST(sq[{mid}] + sq[{mid + 1}] AS DOUBLE) / 2.0 AS ams_est,
               round(abs(CAST(sq[{mid}] + sq[{mid + 1}] AS DOUBLE) / 2.0
                         - f2_exact) / f2_exact, 4) AS rel_err
        FROM arr
    """


_AMS_HHI_DUCK_KEY = "CAST(o_custkey AS VARCHAR)"


def _duck_ams_hhi_sql() -> str:
    base = _duck_base(_AMS_HHI_DUCK_KEY)
    signs = ",\n               ".join(
        f"{_ams_sign(r, base)} AS s_{r}" for r in range(AMS_R)
    )
    s_sums = ",\n               ".join(
        f"sum(spend * s_{r}) AS S_{r}" for r in range(AMS_R)
    )
    sq_list = ", ".join(
        f"CAST(S_{r} AS DOUBLE) * CAST(S_{r} AS DOUBLE)"
        for r in range(AMS_R)
    )
    mid = AMS_R // 2
    return f"""
        WITH spend AS (
            SELECT o_custkey,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                        AS DECIMAL(18,2)) AS spend
            FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1
        ), signed AS (
            SELECT spend,
               {signs}
            FROM spend
        ), sums AS (
            SELECT count(*) AS n_customers,
               sum(spend) AS f1,
               sum(CAST(spend AS DOUBLE) * CAST(spend AS DOUBLE))
                   AS f2_exact,
               {s_sums}
            FROM signed
        ), arr AS (
            SELECT n_customers, CAST(f1 AS DOUBLE) AS f1d, f2_exact,
                   list_sort([{sq_list}]) AS sq
            FROM sums
        )
        SELECT n_customers,
               round(f1d * f1d / f2_exact, 4) AS eff_customers_exact,
               round(f1d * f1d /
                     (CAST(sq[{mid}] + sq[{mid + 1}] AS DOUBLE) / 2.0),
                     4) AS eff_customers_est,
               round(abs(CAST(sq[{mid}] + sq[{mid + 1}] AS DOUBLE) / 2.0
                         - f2_exact) / f2_exact, 4) AS rel_err
        FROM arr
    """


ENTRIES = {
    "sketch_countmin": (countmin_sketch, _duck_countmin_sql),
    "sketch_countmin_topk_est": (countmin_topk_est, _duck_countmin_est_sql),
    "sketch_hll_registers": (hll_registers, _duck_hll_registers_sql),
    "sketch_hll_estimate": (hll_estimate, _duck_hll_estimate_sql),
    "sketch_ams_f2": (ams_f2, _duck_ams_f2_sql),
    "sketch_ams_hhi": (ams_hhi, _duck_ams_hhi_sql),
    "sketch_kmv_estimate": (kmv_estimate, _duck_kmv_estimate_sql),
    "sketch_kmv_overlap": (kmv_overlap, _duck_kmv_overlap_sql),
    "sketch_hist_quantiles": (hist_quantiles, _duck_hist_quantiles_sql),
    "sketch_bloom_bits": (bloom_bits, _duck_bloom_bits_sql),
    "sketch_bloom_prefilter": (bloom_prefilter, _duck_bloom_prefilter_sql),
    "sketch_cm_join_card": (cm_join_card, _duck_cm_join_card_sql),
}
