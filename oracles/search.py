"""Registry records and DuckDB oracles of extras.search."""

from data_pipeline_and_visualization_dashboard_spark.extras.search import (
    BM25_B, BM25_K1, HYBRID_DEPTH, HYBRID_QUERY_VEC, HYBRID_RRF_K, HYBRID_TOPN,
    NEAR_K, NEAR_TERMS, PHRASE, QUERY_AND, QUERY_RANKED, RANKED_K, index_merge,
    index_postings, search_and, search_bm25, search_hybrid_rrf, search_near,
    search_phrase, search_ranked,
)


_DUCK_TOKENS = r"regexp_split_to_array(lower(trim(text)), '\s+')"


def _duck_search_bm25_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in QUERY_RANKED)
    return f"""
        WITH toks AS (
            SELECT doc_id, unnest({_DUCK_TOKENS}) AS term
            FROM documents WHERE text IS NOT NULL
        ), tf AS (
            SELECT doc_id, term, count(*) AS tf
            FROM toks GROUP BY doc_id, term
        ), df AS (
            SELECT term, count(*) AS df FROM tf GROUP BY term
        ), dl AS (
            SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
        ), stats AS (
            SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
        ), scored AS (
            SELECT tf.doc_id,
                   -- parenthesized to MATCH Spark's IEEE association
                   -- exactly: idf * ((tf*(k1+1)) / denom), never
                   -- ((idf*tf)*(k1+1))/denom — one-ulp drift at a
                   -- 0.5e-6 rounding edge would flip a 6dp score
                   round(
                       ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                       * ((tf * ({BM25_K1} + 1))
                          / (tf + {BM25_K1}
                             * (1 - {BM25_B} + {BM25_B} * dl / avgdl))),
                       6) AS w
            FROM tf
            JOIN df USING (term)
            JOIN dl ON tf.doc_id = dl.doc_id
            CROSS JOIN stats
            WHERE term IN ({terms})
        )
        SELECT doc_id, round(sum(w), 6) AS score,
               count(*) AS n_terms
        FROM scored GROUP BY doc_id
        ORDER BY score DESC, doc_id LIMIT {RANKED_K}
    """


_DUCK_POSITIONS = f"""
            SELECT doc_id, gi - 1 AS pos, toks[gi] AS term FROM (
                SELECT doc_id, {_DUCK_TOKENS} AS toks,
                       unnest(range(1, len({_DUCK_TOKENS}) + 1)) AS gi
                FROM documents WHERE text IS NOT NULL
            ) WHERE regexp_full_match(toks[gi], '[a-z]+')
"""


def _duck_postings_sql() -> str:
    return f"""
        WITH pos AS ({_DUCK_POSITIONS}),
        td AS (
            SELECT term, doc_id, count(*) AS c
            FROM pos GROUP BY term, doc_id
        )
        SELECT term, count(*) AS df, CAST(sum(c) AS BIGINT) AS cf,
               array_to_string(list(doc_id ORDER BY doc_id), ',')
                   AS doc_list
        FROM td GROUP BY term ORDER BY term
    """


def _duck_and_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in QUERY_AND)
    return f"""
        WITH pos AS ({_DUCK_POSITIONS})
        SELECT doc_id, count(*) AS n_hits
        FROM pos WHERE term IN ({terms})
        GROUP BY doc_id
        HAVING count(DISTINCT term) = {len(QUERY_AND)}
        ORDER BY doc_id
    """


def _duck_phrase_sql() -> str:
    return f"""
        WITH pos AS ({_DUCK_POSITIONS})
        SELECT a.doc_id, count(*) AS n_phrase
        FROM pos a JOIN pos b
          ON a.doc_id = b.doc_id AND a.pos + 1 = b.pos
        WHERE a.term = '{PHRASE[0]}' AND b.term = '{PHRASE[1]}'
        GROUP BY a.doc_id ORDER BY a.doc_id
    """


def _duck_ranked_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in QUERY_RANKED)
    return f"""
        WITH pos AS ({_DUCK_POSITIONS}),
        tf AS (
            SELECT doc_id, term, count(*) AS tf
            FROM pos GROUP BY doc_id, term
        ), dfq AS (
            SELECT term, count(*) AS df FROM tf GROUP BY term
        ), n AS (
            SELECT count(*) AS n_docs FROM documents
            WHERE text IS NOT NULL
        ), scored AS (
            SELECT tf.doc_id,
                   round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfq.df),
                         6) AS w
            FROM tf JOIN dfq USING (term) CROSS JOIN n
            WHERE tf.term IN ({terms})
        )
        SELECT doc_id, round(sum(w), 6) AS score,
               count(*) AS n_terms
        FROM scored GROUP BY doc_id
        ORDER BY score DESC, doc_id LIMIT {RANKED_K}
    """


def _duck_near_sql() -> str:
    return f"""
        WITH pos AS ({_DUCK_POSITIONS})
        SELECT a.doc_id, count(*) AS n_near
        FROM pos a JOIN pos b
          ON a.doc_id = b.doc_id
         AND abs(a.pos - b.pos) <= {NEAR_K}
        WHERE a.term = '{NEAR_TERMS[0]}' AND b.term = '{NEAR_TERMS[1]}'
        GROUP BY a.doc_id ORDER BY a.doc_id
    """


def _duck_hybrid_rrf_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in QUERY_RANKED)
    return f"""
        WITH pos AS ({_DUCK_POSITIONS}),
        tf AS (
            SELECT doc_id, term, count(*) AS tf
            FROM pos GROUP BY doc_id, term
        ), dfq AS (
            SELECT term, count(*) AS df FROM tf GROUP BY term
        ), n AS (
            SELECT count(*) AS n_docs FROM documents
            WHERE text IS NOT NULL
        ), lex AS (
            SELECT doc_id, round(sum(w), 6) AS score
            FROM (
                SELECT tf.doc_id,
                       round(tf.tf * ln(CAST(n.n_docs AS DOUBLE)
                                        / dfq.df), 6) AS w
                FROM tf JOIN dfq USING (term) CROSS JOIN n
                WHERE tf.term IN ({terms})
            ) GROUP BY doc_id
            ORDER BY score DESC, doc_id LIMIT {HYBRID_DEPTH}
        ), lex_rank AS (
            SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                        AS DOUBLE) AS r_lexical
            FROM lex
        ), qv AS (
            SELECT CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings WHERE vec_id = {HYBRID_QUERY_VEC}
        ), sem AS (
            SELECT c.vec_id AS doc_id,
                   round(list_dot_product(qv.e, c.e)
                         / (sqrt(list_dot_product(qv.e, qv.e))
                            * sqrt(list_dot_product(c.e, c.e))), 6)
                       AS sim
            FROM qv, (SELECT vec_id,
                             CAST(embedding AS DOUBLE[]) AS e
                      FROM embeddings) c
            WHERE c.vec_id <> {HYBRID_QUERY_VEC}
            ORDER BY sim DESC, doc_id LIMIT {HYBRID_DEPTH}
        ), sem_rank AS (
            SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY sim DESC, doc_id)
                        AS DOUBLE) AS r_semantic
            FROM sem
        ), f AS (
            SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
                   l.r_lexical, s.r_semantic
            FROM lex_rank l FULL OUTER JOIN sem_rank s
              ON l.doc_id = s.doc_id
        )
        SELECT doc_id, r_lexical, r_semantic,
               round(coalesce(1.0 / ({HYBRID_RRF_K} + r_lexical), 0.0)
                     + coalesce(1.0 / ({HYBRID_RRF_K} + r_semantic),
                                0.0), 6) AS rrf_score
        FROM f ORDER BY rrf_score DESC, doc_id LIMIT {HYBRID_TOPN}
    """


ENTRIES = {
    "sim_search_rrf": (search_hybrid_rrf, _duck_hybrid_rrf_sql),
    "text_index_postings": (index_postings, _duck_postings_sql),
    "text_search_and": (search_and, _duck_and_sql),
    "text_search_phrase": (search_phrase, _duck_phrase_sql),
    "text_search_ranked": (search_ranked, _duck_ranked_sql),
    "text_search_bm25": (search_bm25, _duck_search_bm25_sql),
    "text_search_near": (search_near, _duck_near_sql),
    # merged incremental index ≡ from-scratch rebuild: same oracle
    "text_index_merge": (index_merge, _duck_postings_sql),
}
