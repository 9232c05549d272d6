"""Registry records and DuckDB oracles of extras.similarity."""

from data_pipeline_and_visualization_dashboard_spark.extras.similarity import (
    MMR_BETA, MMR_CANDS, MMR_K, MMR_LAMBDA, MMR_QUERY, N_PLANES, N_QUERIES,
    PQ_BLOCKS, PQ_BLOCK_DIM, PQ_CODES, TOP_K, _hyperplanes, _rp_matrix,
    cosine_topk, lang_centroids, lsh_buckets, lsh_multiprobe_topk, lsh_topk,
    mmr_rerank, pq_adc_topk, pq_codes, recall_eval, rp_topk, sq_topk,
)


def _duck_bucket_expr(vec_expr: str) -> str:
    """DuckDB spelling of _bucket_expr over an arbitrary DOUBLE[]
    expression: planes embedded as literals via repr() round-trip
    (exact doubles both engines). Spark's aggregate fold and DuckDB's
    list_dot_product both sum left-to-right, so the sign tests agree
    exactly."""
    planes = _hyperplanes()
    terms = []
    for i, plane in enumerate(planes):
        arr = "[" + ", ".join(repr(float(v)) for v in plane) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product({vec_expr},\n"
            f"           {arr}) >= 0 THEN {1 << i} ELSE 0 END)"
        )
    return "CAST(" + "\n         + ".join(terms) + " AS INT)"


def _duck_lsh_buckets_sql() -> str:
    return (
        f"SELECT vec_id, {_duck_bucket_expr('CAST(embedding AS DOUBLE[])')}"
        " AS bucket\nFROM embeddings ORDER BY vec_id"
    )


def _duck_lsh_topk_sql(multiprobe: bool) -> str:
    """Full SQL twin of lsh_topk / lsh_multiprobe_topk: the outputs are
    deterministic (seeded planes + strict tie-breaks), so 'approximate'
    refers to recall vs true neighbors, not to reproducibility — the
    candidate sets themselves are exactly reproducible in DuckDB."""
    b = _duck_bucket_expr("CAST(embedding AS DOUBLE[])")
    if multiprobe:
        probe_list = "[b" + "".join(
            f", xor(b, {1 << i})" for i in range(N_PLANES)
        ) + "]"
        qb = (
            f"SELECT q_id, unnest({probe_list}) AS bucket FROM "
            "(SELECT vec_id AS q_id, bkt.bucket AS b FROM bkt "
            f"WHERE vec_id < {N_QUERIES}) t"
        )
    else:
        qb = (
            f"SELECT vec_id AS q_id, bucket FROM bkt "
            f"WHERE vec_id < {N_QUERIES}"
        )
    return f"""
        WITH bkt AS (
            SELECT vec_id, {b} AS bucket FROM embeddings
        ), qb AS (
            {qb}
        ), q AS (
            SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings WHERE vec_id < {N_QUERIES}
        ), c AS (
            SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings
        ), cand AS (
            SELECT qb.q_id AS query_id, cb.vec_id AS neighbor_id
            FROM qb JOIN bkt cb ON cb.bucket = qb.bucket
            WHERE qb.q_id <> cb.vec_id
        ), sims AS (
            SELECT cand.query_id, cand.neighbor_id,
                   round(list_dot_product(q.e, c.e)
                         / (sqrt(list_dot_product(q.e, q.e))
                            * sqrt(list_dot_product(c.e, c.e))), 6) AS sim
            FROM cand
            JOIN q ON q.q_id = cand.query_id
            JOIN c ON c.c_id = cand.neighbor_id
        )
        SELECT query_id, neighbor_id, sim, CAST(rn AS INT) AS rank
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
              FROM sims) t
        WHERE rn <= {TOP_K}
        ORDER BY query_id, rank
    """


def _duck_recall_eval_sql() -> str:
    b = _duck_bucket_expr("CAST(embedding AS DOUBLE[])")
    return f"""
        WITH bkt AS (
            SELECT vec_id, {b} AS bucket FROM embeddings
        ), q AS (
            SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings WHERE vec_id < {N_QUERIES}
        ), c AS (
            SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings
        ), sims AS (
            SELECT q.q_id AS query_id, c.c_id AS neighbor_id,
                   round(list_dot_product(q.e, c.e)
                         / (sqrt(list_dot_product(q.e, q.e))
                            * sqrt(list_dot_product(c.e, c.e))), 6) AS sim
            FROM q, c WHERE q.q_id <> c.c_id
        ), exact AS (
            SELECT query_id, neighbor_id
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY query_id
                      ORDER BY sim DESC, neighbor_id) AS rn
                  FROM sims) t
            WHERE rn <= {TOP_K}
        ), approx AS (
            SELECT query_id, neighbor_id
            FROM (SELECT s.*, row_number() OVER (
                      PARTITION BY s.query_id
                      ORDER BY s.sim DESC, s.neighbor_id) AS rn
                  FROM sims s
                  JOIN bkt qb ON s.query_id = qb.vec_id
                  JOIN bkt cb ON s.neighbor_id = cb.vec_id
                             AND cb.bucket = qb.bucket) t
            WHERE rn <= {TOP_K}
        )
        SELECT e.query_id, count(*) AS n_exact,
               CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
               CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL
                             THEN 1 ELSE 0 END) AS DOUBLE)
                   / count(*) AS recall
        FROM exact e
        LEFT JOIN approx a ON e.query_id = a.query_id
                          AND e.neighbor_id = a.neighbor_id
        GROUP BY e.query_id ORDER BY e.query_id
    """


def _duck_lang_centroids_sql() -> str:
    return """
    WITH joined AS (
        SELECT d.lang, CAST(e.embedding AS DOUBLE[]) AS v
        FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
    ), exploded AS (
        SELECT lang,
               CAST(unnest(range(1, len(v) + 1)) - 1 AS INT) AS dim,
               unnest(v) AS val
        FROM joined
    )
    SELECT lang, dim, round(avg(val), 6) AS centroid_val,
           count(*) AS n_vecs
    FROM exploded GROUP BY lang, dim ORDER BY lang, dim
"""


def _duck_rp_topk_sql() -> str:
    mat = _rp_matrix()
    rows = ", ".join(
        "list_dot_product(CAST(embedding AS DOUBLE[]), ["
        + ", ".join(repr(float(v)) for v in row)
        + "])"
        for row in mat
    )
    return f"""
        WITH proj AS (
            SELECT vec_id, [{rows}] AS p FROM embeddings
        ), q AS (
            SELECT vec_id AS q_id, p AS e FROM proj
            WHERE vec_id < {N_QUERIES}
        ), c AS (
            SELECT vec_id AS c_id, p AS e FROM proj
        ), sims AS (
            SELECT q.q_id AS query_id, c.c_id AS neighbor_id,
                   round(list_dot_product(q.e, c.e)
                         / (sqrt(list_dot_product(q.e, q.e))
                            * sqrt(list_dot_product(c.e, c.e))), 6)
                       AS rp_sim
            FROM q, c WHERE q.q_id <> c.c_id
        )
        SELECT query_id, neighbor_id, rp_sim, CAST(rn AS INT) AS rank
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY query_id
                  ORDER BY rp_sim DESC, neighbor_id) AS rn
              FROM sims) t
        WHERE rn <= {TOP_K}
        ORDER BY query_id, rank
    """


_DUCK_SQ_QV = """
        SELECT vec_id,
               list_transform(
                   CAST(embedding AS DOUBLE[]),
                   x -> CAST(greatest(-127, least(127,
                        floor(x / sqrt(list_dot_product(
                                  CAST(embedding AS DOUBLE[]),
                                  CAST(embedding AS DOUBLE[])))
                              * 127.0 + 0.5))) AS INT)) AS qv
        FROM embeddings
"""

def _duck_sq_topk() -> str:
    return f"""
    WITH qz AS ({_DUCK_SQ_QV}),
    sims AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(list_dot_product(q.qv, c.qv) AS BIGINT) AS qsim
        FROM qz q, qz c
        WHERE q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, qsim, CAST(rn AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY qsim DESC, neighbor_id) AS rn
          FROM sims) t
    WHERE rn <= {TOP_K}
    ORDER BY query_id, rank
"""


def _duck_mmr_sql() -> str:
    """Unrolled greedy oracle: MMR_K chained argmax CTEs (the
    BPE-oracle pattern for iterative algorithms). Every CTE is
    MATERIALIZED: step i references all of s1..s{i-1}, and inlined
    CTE expansion would otherwise re-expand the whole chain per
    reference — exponential in MMR_K (observed: the un-hinted oracle
    never finished at 500 rows)."""
    steps = []
    union = []
    for i in range(1, MMR_K + 1):
        if i == 1:
            steps.append(
                "s1 AS MATERIALIZED (SELECT 1 AS rank, c_id, rel,"
                " rel AS score"
                " FROM cand ORDER BY rel DESC, c_id LIMIT 1)"
            )
        else:
            prev = " UNION ALL ".join(
                f"SELECT c_id FROM s{j}" for j in range(1, i)
            )
            steps.append(
                f"s{i} AS MATERIALIZED (SELECT {i} AS rank,"
                f" c.c_id, c.rel,"
                f" {MMR_LAMBDA} * c.rel - {MMR_BETA} * ("
                f"SELECT max(p.s) FROM pair p WHERE p.a_id = c.c_id"
                f" AND p.b_id IN ({prev})) AS score"
                f" FROM cand c WHERE c.c_id NOT IN ({prev})"
                f" ORDER BY score DESC, c.c_id LIMIT 1)"
            )
        union.append(f"SELECT * FROM s{i}")
    return f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), q AS (
        SELECT e, sqrt(list_dot_product(e, e)) AS n FROM e
        WHERE vec_id = {MMR_QUERY}
    ), c AS (
        SELECT vec_id AS c_id, e,
               sqrt(list_dot_product(e, e)) AS n
        FROM e WHERE vec_id <> {MMR_QUERY}
    ), cand AS MATERIALIZED (
        SELECT c_id, round(list_dot_product(q.e, c.e) / (q.n * c.n), 6)
                   AS rel,
               c.e AS e, c.n AS n
        FROM q, c
        ORDER BY rel DESC, c_id LIMIT {MMR_CANDS}
    ), pair AS MATERIALIZED (
        SELECT a.c_id AS a_id, b.c_id AS b_id,
               round(list_dot_product(a.e, b.e) / (a.n * b.n), 6) AS s
        FROM cand a JOIN cand b ON a.c_id <> b.c_id
    ), {", ".join(steps)}
    SELECT CAST(rank AS INT) AS rank, c_id, rel,
           round(score, 6) AS mmr_score
    FROM ({" UNION ALL ".join(union)}) ORDER BY rank
    """


_DUCK_PQ_LO = [b * PQ_BLOCK_DIM + 1 for b in range(PQ_BLOCKS)]
_DUCK_PQ_HI = [(b + 1) * PQ_BLOCK_DIM for b in range(PQ_BLOCKS)]


def _duck_pq_base() -> str:
    """Shared CTEs: normalized vectors + the codebook as ONE row whose
    `cs` column is the ordered list of the first PQ_CODES unit vectors
    (so cs[j+1] == code j's source vector — mirroring the Spark
    literal order)."""
    dls = []
    for b in range(PQ_BLOCKS):
        lo, hi = _DUCK_PQ_LO[b], _DUCK_PQ_HI[b]
        dls.append(
            f"list_transform(cs, c ->"
            f" list_dot_product(list_slice(c, {lo}, {hi}),"
            f" list_slice(c, {lo}, {hi}))"
            f" - 2.0 * list_dot_product(list_slice(u, {lo}, {hi}),"
            f" list_slice(c, {lo}, {hi})))"
        )
    code_cols = ", ".join(
        f"CAST(list_position(dl_{b}, list_aggregate(dl_{b}, 'min')) - 1"
        f" AS INT) AS code_{b}"
        for b in range(PQ_BLOCKS)
    )
    dl_cols = ", ".join(f"{d} AS dl_{b}" for b, d in enumerate(dls))
    return f"""
        WITH unit AS (
            SELECT vec_id,
                   list_transform(
                       CAST(embedding AS DOUBLE[]),
                       x -> x / sqrt(list_dot_product(
                                CAST(embedding AS DOUBLE[]),
                                CAST(embedding AS DOUBLE[])))) AS u
            FROM embeddings
        ), cents AS (
            SELECT list(u ORDER BY vec_id) AS cs
            FROM unit WHERE vec_id < {PQ_CODES}
        ), dists AS (
            SELECT vec_id, u, {dl_cols}
            FROM unit, cents
        ), codes AS (
            SELECT vec_id, {code_cols} FROM dists
        )
    """


def _duck_pq_codes_sql() -> str:
    cols = ", ".join(f"code_{b}" for b in range(PQ_BLOCKS))
    return _duck_pq_base() + f"SELECT vec_id, {cols} FROM codes ORDER BY vec_id"


def _duck_pq_adc_sql() -> str:
    lut_cols = ", ".join(f"dl_{b} AS lut_{b}" for b in range(PQ_BLOCKS))
    score = " + ".join(
        f"q.lut_{b}[c.code_{b} + 1]" for b in range(PQ_BLOCKS)
    )
    return _duck_pq_base() + f""", qlut AS (
            SELECT vec_id AS q_id, {lut_cols}
            FROM dists WHERE vec_id < {N_QUERIES}
        ), scored AS (
            SELECT q.q_id AS query_id, c.vec_id AS neighbor_id,
                   {score} AS adc
            FROM qlut q, codes c WHERE q.q_id <> c.vec_id
        )
        SELECT query_id, neighbor_id, round(adc, 6) AS adc_score,
               CAST(rn AS INT) AS rank
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY query_id ORDER BY adc, neighbor_id) AS rn
              FROM scored) t
        WHERE rn <= {TOP_K}
        ORDER BY query_id, rank
    """


def _duck_cosine_base() -> str:
    return f"""
    WITH q AS (
        SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ), c AS (
        SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings
    ), sims AS (
        SELECT q.q_id AS query_id, c.c_id AS neighbor_id,
               round(list_dot_product(q.e, c.e)
                     / (sqrt(list_dot_product(q.e, q.e))
                        * sqrt(list_dot_product(c.e, c.e))), 6) AS sim
        FROM q, c WHERE q.q_id <> c.c_id
    )
    SELECT query_id, neighbor_id, sim,
           CAST(rn AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id) AS rn
          FROM sims) t
    WHERE rn <= {TOP_K}
    ORDER BY query_id, rank
"""


ENTRIES = {
    "sim_cosine_topk": (cosine_topk, _duck_cosine_base),
    "sim_mmr_rerank": (mmr_rerank, _duck_mmr_sql),
    # an alias of sim_cosine_topk, kept for its key
    "sim_cosine_topk_pandas": (cosine_topk, _duck_cosine_base),
    # deterministic candidate sets: the LSH top-k paths are fully
    # SQL-reproducible even though their RECALL is approximate
    "sim_lsh_topk": (lsh_topk, lambda: _duck_lsh_topk_sql(multiprobe=False)),
    "sim_lsh_buckets": (lsh_buckets, _duck_lsh_buckets_sql),
    "sim_lsh_multiprobe_topk": (
        lsh_multiprobe_topk,
        lambda: _duck_lsh_topk_sql(multiprobe=True),
    ),
    "sim_lang_centroids": (lang_centroids, _duck_lang_centroids_sql),
    "sim_rp_topk": (rp_topk, _duck_rp_topk_sql),
    "sim_recall_eval": (recall_eval, _duck_recall_eval_sql),
    "sim_sq_topk": (sq_topk, _duck_sq_topk),
    "sim_pq_codes": (pq_codes, _duck_pq_codes_sql),
    "sim_pq_adc_topk": (pq_adc_topk, _duck_pq_adc_sql),
}
