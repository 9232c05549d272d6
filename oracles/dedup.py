"""Registry records and DuckDB oracles of extras.dedup."""

from data_pipeline_and_visualization_dashboard_spark.extras.dedup import (
    CONTAM_EVAL_MODS, CONTAM_THRESHOLD, CURVE_BINS_PER_UNIT, CURVE_MIN_SIM,
    EMB_DUP_THRESHOLD, EMB_LSH_BANDS, EMB_LSH_PLANES, HAMMING_MAX, MAX_BUCKET,
    MIXTURE_TEMPERATURE_ALPHA, NEARDUP_JACCARD, N_TRAINING_SHARDS,
    SEM_CENTROID_IDS, SEM_THRESHOLD, SIMHASH_BANDS, SIMHASH_BITS,
    TRIPLET_BUCKETS, _band_hash_exprs, _emb_planes, canonical_pick,
    containment_topk, contamination, contamination_multi, corpus_data_card,
    corpus_funnel, corpus_mixture_plan, corpus_release_diff_card,
    corpus_shard_diff, corpus_shard_manifest, corpus_survivors,
    dedup_containment_est, dedup_exact_docs, dedup_exact_groups,
    dedup_hash_stage_md5, dedup_incremental_exact, dedup_incremental_pairs,
    dedup_minhash_pairs, dedup_neardup_groups, dedup_neardup_groups_lsss,
    dedup_semantic, dedup_semantic_trained, dedup_snapshot_diff,
    dedup_snapshot_ledger, dedup_split_leakage, dedup_threshold_curve,
    embedding_neardup_pairs, embedding_neardup_pairs_lsh, ngram_jaccard_topk,
    pair_features, q_minhash_signatures, q_simhash_fingerprints,
    simhash_hamming_topk, simhash_pairs, survivor_policy, training_triplets,
)
from data_pipeline_and_visualization_dashboard_spark.extras.hashing import (
    BANDS, NUM_HASHES, duck_base_hash, duck_h60, minhash_term,
)
from data_pipeline_and_visualization_dashboard_spark.extras.text import (
    _VERDICT_CASE, _lang_score_exprs, _qs_weight_exprs,
)

from .text import _DUCK_SPLIT_SQL, _duck_quality_score_sql


def _duck_incremental_exact_sql() -> str:
    return """
    WITH hashed AS (
        SELECT doc_id, md5(text) AS h FROM documents
    ), base_min AS (
        SELECT h, min(doc_id) AS base_keeper FROM hashed
        WHERE doc_id % 10 != 0 GROUP BY h
    ), delta AS (
        SELECT doc_id, h FROM hashed WHERE doc_id % 10 = 0
    ), delta_min AS (
        SELECT h, min(doc_id) AS delta_keeper FROM delta GROUP BY h
    )
    SELECT d.doc_id,
           CASE WHEN b.base_keeper IS NOT NULL THEN 'dup_of_base'
                WHEN d.doc_id > m.delta_keeper THEN 'dup_in_delta'
                ELSE 'new' END AS verdict,
           CASE WHEN b.base_keeper IS NOT NULL THEN b.base_keeper
                WHEN d.doc_id > m.delta_keeper THEN m.delta_keeper
                ELSE NULL END AS dup_of
    FROM delta d
    LEFT JOIN base_min b ON d.h = b.h
    JOIN delta_min m ON d.h = m.h
    ORDER BY d.doc_id
"""









_DUCK_TOKENS = r"string_split_regex(lower(trim(text)), '\s+')"

_DUCK_SHINGLES = f"""
CASE WHEN len({_DUCK_TOKENS}) >= 3 THEN
  list_transform(range(1, len({_DUCK_TOKENS}) - 1),
                 i -> array_to_string(list_slice({_DUCK_TOKENS}, i, i + 2), ' '))
ELSE [array_to_string({_DUCK_TOKENS}, ' ')] END
"""


def _duck_sig_exprs() -> list[str]:
    return [
        f"list_aggregate(list_transform(shingles,"
        f" s -> {minhash_term(j, duck_base_hash('s'))}), 'min') AS sig_{j}"
        for j in range(NUM_HASHES)
    ]


def _duck_containment_est_sql() -> str:
    # arithmetic mirrors the Spark expressions op-for-op (same IEEE
    # order) so the 6dp rounding can never straddle an ulp
    est = f"(CAST(({_DUCK_SIG_AGREE}) AS DOUBLE) / {float(NUM_HASHES)})"
    inter = f"({est} * (za.n_sh + zb.n_sh) / (1.0 + {est}))"
    return f"""
        {_duck_lsh_pairs_ctes()}, sizes AS (
            SELECT doc_id, len(list_distinct(shingles)) AS n_sh
            FROM shingled
        )
        SELECT p.doc_id_a, p.doc_id_b,
               round({est}, 6) AS est_jaccard,
               round(least(1.0, {inter} / za.n_sh), 6) AS cont_ab,
               round(least(1.0, {inter} / zb.n_sh), 6) AS cont_ba
        FROM pairs p
        JOIN sigs a ON a.doc_id = p.doc_id_a
        JOIN sigs b ON b.doc_id = p.doc_id_b
        JOIN sizes za ON za.doc_id = p.doc_id_a
        JOIN sizes zb ON zb.doc_id = p.doc_id_b
        ORDER BY p.doc_id_a, p.doc_id_b
    """


def _duck_containment_topk_sql() -> str:
    return f"""
    WITH sh AS (
        SELECT doc_id, list_distinct({_DUCK_SHINGLES}) AS sh FROM documents
    )
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / CAST(len(a.sh) AS DOUBLE), 6) AS containment
    FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
    ORDER BY containment DESC, doc_id_a, doc_id_b
    LIMIT 20
"""


def _duck_emb_lsh_sql() -> str:
    """Oracle twin of embedding_neardup_pairs_lsh: plane literals via
    repr() round-trip; both engines' dot products fold left-to-right,
    so sign tests and cosine values agree bit-for-bit."""
    planes = _emb_planes()
    P = EMB_LSH_PLANES

    def bucket_expr(b: int) -> str:
        terms = []
        for i in range(P):
            arr = "[" + ", ".join(
                repr(float(v)) for v in planes[b * P + i]
            ) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product(e, {arr}) >= 0"
                f" THEN {1 << i} ELSE 0 END)"
            )
        return " + ".join(terms)

    stacked = "\n            UNION ALL\n".join(
        f"            SELECT vec_id, {b} AS band_idx,"
        f" ({bucket_expr(b)}) AS bucket FROM base"
        for b in range(EMB_LSH_BANDS)
    )
    return f"""
        WITH base AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ), stacked AS (
{stacked}
        ), cand AS (
            SELECT DISTINCT x.vec_id AS vec_id_a, y.vec_id AS vec_id_b
            FROM stacked x JOIN stacked y
              ON x.band_idx = y.band_idx AND x.bucket = y.bucket
            WHERE x.vec_id < y.vec_id
        )
        SELECT * FROM (
            SELECT c.vec_id_a, c.vec_id_b,
                   round(list_dot_product(a.e, b.e)
                         / (sqrt(list_dot_product(a.e, a.e))
                            * sqrt(list_dot_product(b.e, b.e))), 6) AS sim
            FROM cand c
            JOIN base a ON a.vec_id = c.vec_id_a
            JOIN base b ON b.vec_id = c.vec_id_b) t
        WHERE sim >= {EMB_DUP_THRESHOLD}
        ORDER BY vec_id_a, vec_id_b
    """


def _duck_contamination_multi_sql() -> str:
    return f"""
    WITH sh AS (
        SELECT doc_id, unnest(list_distinct({_DUCK_SHINGLES})) AS s
        FROM documents
    ), ev AS (
        SELECT DISTINCT 'bench' || CAST(doc_id % 10 AS VARCHAR)
                   AS eval_set, s
        FROM sh WHERE doc_id % 10 IN {CONTAM_EVAL_MODS}
    ), tr AS (
        SELECT doc_id, s FROM sh
        WHERE doc_id % 10 NOT IN {CONTAM_EVAL_MODS}
    ), n_sh AS (
        SELECT doc_id, count(*) AS n_shingles FROM tr GROUP BY doc_id
    ), hits AS (
        SELECT tr.doc_id, ev.eval_set, count(*) AS n_overlap
        FROM tr JOIN ev ON tr.s = ev.s
        GROUP BY tr.doc_id, ev.eval_set
    ), sets AS (
        SELECT 'bench' || CAST(unnest({list(CONTAM_EVAL_MODS)})
                               AS VARCHAR) AS eval_set
    )
    SELECT n_sh.doc_id, sets.eval_set,
           CAST(n_shingles AS INT) AS n_shingles,
           CAST(COALESCE(n_overlap, 0) AS INT) AS n_overlap,
           CAST(COALESCE(n_overlap, 0) AS DOUBLE) / n_shingles
               AS overlap_ratio,
           (CAST(COALESCE(n_overlap, 0) AS DOUBLE) / n_shingles
            >= {CONTAM_THRESHOLD}) AS is_contaminated
    FROM n_sh CROSS JOIN sets
    LEFT JOIN hits ON hits.doc_id = n_sh.doc_id
                  AND hits.eval_set = sets.eval_set
    ORDER BY n_sh.doc_id, sets.eval_set
"""


def _duck_contamination_sql() -> str:
    return f"""
    WITH sh AS (
        SELECT doc_id, unnest(list_distinct({_DUCK_SHINGLES})) AS s
        FROM documents
    ), ev AS (
        SELECT DISTINCT s FROM sh WHERE doc_id % 10 = 9
    ), tr AS (
        SELECT doc_id, s FROM sh WHERE doc_id % 10 != 9
    ), counted AS (
        SELECT tr.doc_id,
               count(*) AS n_shingles,
               sum(CASE WHEN ev.s IS NOT NULL THEN 1 ELSE 0 END)
                   AS n_overlap
        FROM tr LEFT JOIN ev ON tr.s = ev.s
        GROUP BY tr.doc_id
    )
    SELECT doc_id,
           CAST(n_shingles AS INT) AS n_shingles,
           CAST(n_overlap AS INT) AS n_overlap,
           CAST(n_overlap AS DOUBLE) / n_shingles AS overlap_ratio,
           (CAST(n_overlap AS DOUBLE) / n_shingles
            >= {CONTAM_THRESHOLD}) AS is_contaminated
    FROM counted ORDER BY doc_id
"""


def _duck_survivor_policy_sql() -> str:
    return f"""
        WITH groups AS ({_duck_neardup_groups_sql()}),
        q AS ({_duck_quality_score_sql()}),
        ranked AS (
            SELECT g.group_id, g.doc_id, q.score_mean,
                   row_number() OVER (PARTITION BY g.group_id
                                      ORDER BY q.score_mean DESC,
                                               g.doc_id) AS rn,
                   count(*) OVER (PARTITION BY g.group_id) AS n_members
            FROM groups g JOIN q ON g.doc_id = q.doc_id
        )
        SELECT group_id, doc_id AS survivor_id,
               score_mean AS survivor_score,
               CAST(n_members AS INT) AS n_members
        FROM ranked WHERE rn = 1 ORDER BY group_id
    """


def _duck_canonical_pick_sql() -> str:
    return f"""
        WITH groups AS ({_duck_neardup_groups_sql()}),
        q AS ({_duck_quality_score_sql()}),
        m AS (
            SELECT g.group_id, g.doc_id, q.score_mean
            FROM groups g JOIN q ON g.doc_id = q.doc_id
        ), ranked AS (
            SELECT group_id, doc_id, score_mean,
                   row_number() OVER (PARTITION BY group_id
                                      ORDER BY score_mean DESC,
                                               doc_id) AS rn
            FROM m
        ), agg AS (
            SELECT group_id,
                   max(CASE WHEN rn = 1 THEN doc_id END)
                       AS canonical_id,
                   max(CASE WHEN rn = 1 THEN score_mean END)
                       AS canonical_score,
                   min(doc_id) AS first_id,
                   arg_min(score_mean, doc_id) AS first_score,
                   count(*) AS n_members
            FROM ranked GROUP BY group_id
        )
        SELECT group_id, canonical_id, canonical_score,
               first_id, first_score,
               round(canonical_score - first_score, 6) AS score_delta,
               CAST(n_members AS INT) AS n_members,
               CAST(n_members - 1 AS INT) AS n_dropped,
               canonical_id <> first_id AS changed
        FROM agg ORDER BY group_id
    """


def _duck_shard_manifest_sql() -> str:
    shard = duck_h60("concat('shard', CAST(d.doc_id AS VARCHAR))")
    return _duck_funnel_sql() + rf"""
        SELECT CAST(({shard}) % {N_TRAINING_SHARDS} AS INT) AS shard,
               count(*) AS n_docs,
               CAST(sum(len(string_split_regex(
                   lower(trim(d.text)), '\s+'))) AS BIGINT) AS n_tokens,
               bit_xor({duck_h60("d.text")}) AS content_hash
        FROM documents d
        JOIN (SELECT doc_id FROM final WHERE pn) s
          ON d.doc_id = s.doc_id
        GROUP BY 1 ORDER BY 1
    """


def _duck_data_card_sql() -> str:
    w = _qs_weight_exprs("duck")
    return rf"""
        WITH toked AS (
            SELECT doc_id, lang, source,
                   string_split_regex(lower(trim(text)), '\s+')
                       AS tokens
            FROM documents
        ), scored AS (
            SELECT doc_id, lang, source,
                   CAST(len(tokens) AS INT) AS token_cnt,
                   list_reduce(list_transform(tokens, t -> {w}),
                               (acc, x) -> acc + x) AS score_sum
            FROM toked
        ), q AS (
            SELECT doc_id, lang, source, token_cnt,
                   (score_sum / token_cnt) > 0 AS kept
            FROM scored
        ), groups AS ({_duck_neardup_groups_sql()}),
        agg AS (
            SELECT q.source, q.lang,
                   count(*) AS n_docs,
                   CAST(sum(q.token_cnt) AS BIGINT) AS n_tokens,
                   round(avg(CASE WHEN q.kept THEN 1.0 ELSE 0.0 END),
                         6) AS kept_frac,
                   CAST(sum(CASE WHEN g.doc_id IS NOT NULL
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_dup,
                   round(avg(CASE WHEN g.doc_id IS NOT NULL
                                  THEN 1.0 ELSE 0.0 END), 6)
                       AS dup_rate
            FROM q LEFT JOIN groups g ON q.doc_id = g.doc_id
            GROUP BY 1, 2
        )
        SELECT source, lang, n_docs, n_tokens,
               round(CAST(n_tokens AS DOUBLE)
                     / CAST(sum(n_tokens) OVER () AS DOUBLE), 6)
                   AS token_share,
               kept_frac, n_dup, dup_rate
        FROM agg ORDER BY source, lang
    """


def _duck_mixture_plan_sql() -> str:
    a = MIXTURE_TEMPERATURE_ALPHA
    tgt = "CAST(round(wgt / sum(wgt) OVER () * budget, 0) AS BIGINT)"
    return _duck_funnel_sql() + rf""", surv AS (
            SELECT d.doc_id, d.lang, d.source,
                   len(string_split_regex(lower(trim(d.text)), '\s+'))
                       AS n_tokens
            FROM documents d
            JOIN (SELECT doc_id FROM final WHERE pn) s
              ON d.doc_id = s.doc_id
        ), agg AS (
            SELECT source, lang, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS tokens_avail
            FROM surv GROUP BY 1, 2
        ), shares AS (
            SELECT *,
                   CAST(tokens_avail AS DOUBLE)
                       / CAST(sum(tokens_avail) OVER () AS DOUBLE)
                       AS nat_raw,
                   CAST(sum(tokens_avail) OVER () AS DOUBLE) AS budget
            FROM agg
        ), shaped AS (
            SELECT *, pow(nat_raw, {a}) AS wgt FROM shares
        )
        SELECT source, lang, n_docs, tokens_avail,
               round(nat_raw, 6) AS natural_share,
               round(wgt / sum(wgt) OVER (), 6) AS target_share,
               {tgt} AS target_tokens,
               round(CAST({tgt} AS DOUBLE)
                     / CAST(tokens_avail AS DOUBLE), 6) AS epochs,
               {tgt} > tokens_avail AS upsample
        FROM shaped ORDER BY source, lang
    """


def _duck_training_triplets_sql() -> str:
    bucket = (
        f"CAST({duck_h60('CAST(doc_id AS VARCHAR)')}"
        f" % {TRIPLET_BUCKETS} AS INT)"
    )
    anchor_key = "concat('neg', CAST(anchor AS VARCHAR))"
    nb = (
        f"CAST({duck_h60(anchor_key)}"
        f" % {TRIPLET_BUCKETS} AS INT)"
    )
    return f"""
        WITH pairs AS (
            SELECT doc_id_a, doc_id_b, jaccard
            FROM ({_duck_pairs_sql()}) p
            WHERE p.jaccard >= {NEARDUP_JACCARD}
        ), both_dir AS (
            SELECT doc_id_a AS anchor, doc_id_b AS positive, jaccard
            FROM pairs
            UNION ALL
            SELECT doc_id_b, doc_id_a, jaccard FROM pairs
        ), reps AS (
            SELECT {bucket} AS bucket, min(doc_id) AS negative
            FROM documents GROUP BY 1
        ), groups AS ({_duck_neardup_groups_sql()}),
        cand AS (
            SELECT anchor, positive, jaccard, {nb} AS bucket
            FROM both_dir
        )
        SELECT c.anchor, c.positive, r.negative, c.jaccard
        FROM cand c
        JOIN reps r USING (bucket)
        JOIN groups ga ON ga.doc_id = c.anchor
        LEFT JOIN groups gn ON gn.doc_id = r.negative
        WHERE gn.group_id IS NULL OR gn.group_id != ga.group_id
        ORDER BY anchor, positive
    """


def _duck_pair_features_sql() -> str:
    return _duck_simhash_cte() + f""", pairs AS (
            {_duck_pairs_sql()}
        ), side AS (
            SELECT d.doc_id, d.lang, d.n_chars, fps.fp
            FROM documents d JOIN fps USING (doc_id)
        )
        SELECT p.doc_id_a, p.doc_id_b, p.est_jaccard, p.jaccard,
               CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS sim_hamming,
               CAST(least(a.n_chars, b.n_chars) AS DOUBLE)
                   / greatest(a.n_chars, b.n_chars) AS len_ratio,
               a.lang = b.lang AS same_lang
        FROM pairs p
        JOIN side a ON a.doc_id = p.doc_id_a
        JOIN side b ON b.doc_id = p.doc_id_b
        ORDER BY p.doc_id_a, p.doc_id_b
    """


def _duck_funnel_sql() -> str:
    return f"""
        WITH feats AS (
            SELECT doc_id,
                   len(string_split_regex(trim(text), '\\s+')) AS token_cnt,
                   CAST(length(replace(text, ' ', '')) AS DOUBLE)
                       / len(string_split_regex(trim(text), '\\s+'))
                       AS avg_token_len,
                   CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                        AS DOUBLE) / length(text) AS alpha_ratio,
                   {', '.join(_lang_score_exprs('duck'))}
            FROM documents
        ), qv AS (
            SELECT doc_id, (({_VERDICT_CASE}) = 'kept') AS kept FROM feats
        ), hashed AS (
            SELECT doc_id, md5(text) AS h FROM documents
        ), kept_rank AS (
            SELECT hh.doc_id,
                   row_number() OVER (PARTITION BY hh.h
                                      ORDER BY hh.doc_id) AS rn
            FROM hashed hh JOIN qv USING (doc_id) WHERE qv.kept
        ), groups AS (
            SELECT * FROM ({_duck_neardup_groups_sql()}) g
        ), pe_flags AS (
            SELECT q.doc_id, q.kept,
                   COALESCE(q.kept AND kr.rn = 1, FALSE) AS pe,
                   g.group_id
            FROM qv q
            LEFT JOIN kept_rank kr USING (doc_id)
            LEFT JOIN groups g USING (doc_id)
        ), keepers AS (
            SELECT group_id, min(doc_id) AS g_keeper
            FROM pe_flags WHERE pe AND group_id IS NOT NULL
            GROUP BY group_id
        ), final AS (
            SELECT p.*,
                   (p.pe AND (p.group_id IS NULL
                              OR p.doc_id = k.g_keeper)) AS pn
            FROM pe_flags p LEFT JOIN keepers k USING (group_id)
        )
    """


def _duck_funnel_accounting_sql() -> str:
    return _duck_funnel_sql() + """
        SELECT count(*) AS docs_in,
               CAST(sum(CASE WHEN NOT kept THEN 1 ELSE 0 END) AS BIGINT)
                   AS removed_quality,
               CAST(sum(CASE WHEN kept AND NOT pe THEN 1 ELSE 0 END)
                    AS BIGINT) AS removed_exact,
               CAST(sum(CASE WHEN pe AND NOT pn THEN 1 ELSE 0 END)
                    AS BIGINT) AS removed_neardup,
               CAST(sum(CASE WHEN pn THEN 1 ELSE 0 END) AS BIGINT)
                   AS docs_out
        FROM final
    """


def _duck_survivors_sql() -> str:
    return _duck_funnel_sql() + """
        SELECT doc_id FROM final WHERE pn ORDER BY doc_id
    """






def _duck_signatures_cte() -> str:
    sig_exprs = ",\n               ".join(_duck_sig_exprs())
    return f"""
        WITH shingled AS (
            SELECT doc_id, ({_DUCK_SHINGLES}) AS shingles FROM documents
        ), sigs AS (
            SELECT doc_id, shingles,
               {sig_exprs}
            FROM shingled
        )
    """


_DUCK_SIG_AGREE = " + ".join(
    f"CASE WHEN a.sig_{j} = b.sig_{j} THEN 1 ELSE 0 END"
    for j in range(NUM_HASHES)
)


def _duck_lsh_pairs_ctes() -> str:
    """The oracle's candidate rule as a CTE chain ending in `pairs`:
    signatures -> banded -> stacked buckets -> MAX_BUCKET cap ->
    distinct (doc_id_a < doc_id_b) bucket pairs."""
    band_hashes = ",\n                   ".join(_band_hash_exprs())
    band_union = "\n            UNION ALL\n".join(
        f"            SELECT doc_id, {b} AS band_idx, band_{b} AS band_hash"
        " FROM banded"
        for b in range(BANDS)
    )
    sig_list = ", ".join(f"sig_{j}" for j in range(NUM_HASHES))
    return f"""{_duck_signatures_cte()}, banded AS (
            SELECT doc_id, {sig_list},
                   {band_hashes}
            FROM sigs
        ), buckets_all AS (
{band_union}
        ), sized AS (
            SELECT band_idx, band_hash FROM buckets_all
            GROUP BY 1, 2 HAVING count(*) <= {MAX_BUCKET}
        ), buckets AS (
            SELECT b.* FROM buckets_all b JOIN sized s
            USING (band_idx, band_hash)
        ), pairs AS (
            SELECT DISTINCT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b
            FROM buckets x JOIN buckets y
              ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
            WHERE x.doc_id < y.doc_id
        )"""


def _duck_pairs_sql() -> str:
    return f"""
        {_duck_lsh_pairs_ctes()}
        SELECT p.doc_id_a, p.doc_id_b,
               CAST(({_DUCK_SIG_AGREE}) AS DOUBLE) / {NUM_HASHES}.0 AS est_jaccard,
               CAST(len(list_intersect(list_distinct(sha.shingles),
                                       list_distinct(shb.shingles))) AS DOUBLE)
               / CAST(len(list_distinct(sha.shingles))
                      + len(list_distinct(shb.shingles))
                      - len(list_intersect(list_distinct(sha.shingles),
                                           list_distinct(shb.shingles)))
                      AS DOUBLE) AS jaccard
        FROM pairs p
        JOIN sigs a ON a.doc_id = p.doc_id_a
        JOIN sigs b ON b.doc_id = p.doc_id_b
        JOIN shingled sha ON sha.doc_id = p.doc_id_a
        JOIN shingled shb ON shb.doc_id = p.doc_id_b
        ORDER BY p.doc_id_a, p.doc_id_b
    """


def _duck_simhash_cte() -> str:
    sums = ",\n                   ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{j}"
        for j in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN s_{j} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
            FROM documents
        ), hashed AS (
            SELECT doc_id, {duck_base_hash('t')} AS h FROM toks
        ), bit_sums AS (
            SELECT doc_id,
                   {sums}
            FROM hashed GROUP BY doc_id
        ), fps AS (
            SELECT doc_id, CAST({fp} AS BIGINT) AS fp FROM bit_sums
        )
    """


_DUCK_SIMHASH_BANDS = "\n            UNION ALL\n".join(
    f"            SELECT doc_id, fp, {b} AS band_idx,"
    f" (fp >> {8 * b}) & 255 AS band_val FROM fps"
    for b in range(SIMHASH_BANDS)
)

def _duck_neardup_groups_sql() -> str:
    """Recursive-CTE twin of the label-propagation components: `reach`
    enumerates every (node, reachable id) pair over the undirected pair
    graph (UNION dedups, so the recursion terminates); min reachable id
    per node == the component representative."""
    return f"""
        WITH RECURSIVE pair_graph AS (
            SELECT doc_id_a, doc_id_b FROM ({_duck_pairs_sql()}) p
            WHERE p.jaccard >= {NEARDUP_JACCARD}
        ), edges AS (
            SELECT doc_id_a AS src, doc_id_b AS dst FROM pair_graph
            UNION ALL
            SELECT doc_id_b, doc_id_a FROM pair_graph
        ), reach(node, lab) AS (
            SELECT src AS node, src AS lab FROM edges
            UNION
            SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
        )
        SELECT node AS doc_id, min(lab) AS group_id
        FROM reach GROUP BY node ORDER BY doc_id
    """


def _duck_semantic_sql() -> str:
    return f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), n AS (
        SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
    ), un AS (
        SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM n
    ), c AS (
        SELECT vec_id AS cluster_id, u AS cu FROM un
        WHERE vec_id IN ({", ".join(map(str, SEM_CENTROID_IDS))})
    ), sims AS (
        SELECT un.vec_id, c.cluster_id, un.u,
               round(list_dot_product(un.u, c.cu), 6) AS sim
        FROM un, c
    ), assigned AS (
        SELECT vec_id, cluster_id, u FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                      ORDER BY sim DESC, cluster_id) AS rn
            FROM sims) t
        WHERE rn = 1
    ), dropped AS (
        SELECT DISTINCT a.vec_id
        FROM assigned a JOIN assigned b
          ON a.cluster_id = b.cluster_id AND b.vec_id < a.vec_id
        WHERE round(list_dot_product(a.u, b.u), 6) >= {SEM_THRESHOLD}
    )
    SELECT s.vec_id, s.cluster_id,
           (d.vec_id IS NULL) AS kept
    FROM assigned s LEFT JOIN dropped d ON s.vec_id = d.vec_id
"""

def _duck_hash_stage_sql() -> str:
    return f"""
    WITH sh AS (
        SELECT doc_id, unnest({_DUCK_SHINGLES}) AS s
        FROM documents WHERE text IS NOT NULL
    ), h AS (
        SELECT doc_id, {duck_base_hash('s')} AS h FROM sh
    )
    SELECT doc_id,
           count(*) AS n_shingles,
           min(h) AS min_h,
           max(h) AS max_h,
           CAST(sum(h) AS BIGINT) AS sum_h
    FROM h GROUP BY doc_id
"""


def _duck_threshold_curve_sql() -> str:
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
        ), n AS (
            SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
        ), un AS (
            SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM n
        ), c AS (
            SELECT vec_id AS cluster_id, u AS cu FROM un
            WHERE vec_id IN ({", ".join(map(str, SEM_CENTROID_IDS))})
        ), csims AS (
            SELECT un.vec_id, c.cluster_id, un.u,
                   round(list_dot_product(un.u, c.cu), 6) AS sim
            FROM un, c
        ), assigned AS (
            SELECT vec_id, cluster_id, u FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                          ORDER BY sim DESC, cluster_id) AS rn
                FROM csims) t
            WHERE rn = 1
        ), pair_sims AS (
            SELECT round(list_dot_product(a.u, b.u), 6) AS sim
            FROM assigned a JOIN assigned b
              ON a.cluster_id = b.cluster_id AND b.vec_id < a.vec_id
        ), binned AS (
            SELECT round(floor((sim + 1e-9) * {CURVE_BINS_PER_UNIT})
                         / {CURVE_BINS_PER_UNIT}, 2) AS bin_lo,
                   count(*) AS n_pairs
            FROM pair_sims WHERE sim >= {CURVE_MIN_SIM}
            GROUP BY 1
        )
        SELECT bin_lo, n_pairs,
               CAST(sum(n_pairs) OVER (ORDER BY bin_lo DESC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_pairs_cum
        FROM binned ORDER BY bin_lo DESC
    """


def _duck_snapshot_diff_sql() -> str:
    return """
    WITH docs AS (
        SELECT doc_id, text FROM documents WHERE text IS NOT NULL
    ), prev AS (
        SELECT doc_id, md5(text) AS h_a, length(text) AS len_a
        FROM docs WHERE doc_id % 10 != 0
    ), cur AS (
        SELECT doc_id,
               md5(CASE WHEN doc_id % 7 = 0 THEN text || ' rev2'
                        ELSE text END) AS h_b,
               length(CASE WHEN doc_id % 7 = 0 THEN text || ' rev2'
                           ELSE text END) AS len_b
        FROM docs WHERE doc_id % 13 != 0
    ), joined AS (
        SELECT CASE WHEN h_a IS NULL THEN 'added'
                    WHEN h_b IS NULL THEN 'removed'
                    WHEN h_a != h_b THEN 'changed'
                    ELSE 'unchanged' END AS status,
               coalesce(len_b, len_a) AS n_chars
        FROM prev FULL OUTER JOIN cur USING (doc_id)
    )
    SELECT status, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars
    FROM joined GROUP BY status ORDER BY status
"""

def _duck_release_diff_card_sql() -> str:
    return r"""
    WITH docs AS (
        SELECT doc_id, source, lang, text FROM documents
        WHERE text IS NOT NULL
    ), prev AS (
        SELECT doc_id, source, lang, md5(text) AS h,
               CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                    AS INT) AS n_tokens
        FROM docs WHERE doc_id % 10 != 0
    ), cur AS (
        SELECT doc_id, source, lang,
               md5(CASE WHEN doc_id % 7 = 0 THEN text || ' rev2'
                        ELSE text END) AS h,
               CAST(len(string_split_regex(lower(trim(
                   CASE WHEN doc_id % 7 = 0 THEN text || ' rev2'
                        ELSE text END)), '\s+')) AS INT) AS n_tokens
        FROM docs WHERE doc_id % 13 != 0
    ), joined AS (
        SELECT coalesce(cur.source, prev.source) AS source,
               coalesce(cur.lang, prev.lang) AS lang,
               CASE WHEN prev.h IS NULL THEN 'added'
                    WHEN cur.h IS NULL THEN 'removed'
                    WHEN prev.h != cur.h THEN 'changed'
                    ELSE 'unchanged' END AS status,
               coalesce(prev.n_tokens, 0) AS tok_a,
               coalesce(cur.n_tokens, 0) AS tok_b
        FROM prev FULL OUTER JOIN cur USING (doc_id)
    ), agg AS (
        SELECT source, lang,
               CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END)
                    AS BIGINT) AS docs_added,
               CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END)
                    AS BIGINT) AS docs_removed,
               CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END)
                    AS BIGINT) AS docs_changed,
               CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0
                        END) AS BIGINT) AS docs_unchanged,
               CAST(sum(tok_a) AS BIGINT) AS tokens_prev,
               CAST(sum(tok_b) AS BIGINT) AS tokens_cur,
               CAST(sum(CASE WHEN status = 'added' THEN tok_b ELSE 0
                        END) AS BIGINT) AS tokens_added,
               CAST(sum(CASE WHEN status = 'removed' THEN tok_a ELSE 0
                        END) AS BIGINT) AS tokens_removed
        FROM joined GROUP BY source, lang
    )
    SELECT source, lang, docs_added, docs_removed, docs_changed,
           docs_unchanged, tokens_prev, tokens_cur, tokens_added,
           tokens_removed,
           round(CAST(tokens_prev AS DOUBLE)
                 / CAST(sum(tokens_prev) OVER () AS DOUBLE), 6)
               AS share_prev,
           round(CAST(tokens_cur AS DOUBLE)
                 / CAST(sum(tokens_cur) OVER () AS DOUBLE), 6)
               AS share_cur,
           round(CAST(tokens_cur AS DOUBLE)
                 / CAST(sum(tokens_cur) OVER () AS DOUBLE)
                 - CAST(tokens_prev AS DOUBLE)
                 / CAST(sum(tokens_prev) OVER () AS DOUBLE), 6)
               AS share_drift
    FROM agg ORDER BY source, lang
"""


def _duck_shard_diff_sql() -> str:
    shard = duck_h60("concat('shard', CAST(doc_id AS VARCHAR))")
    h = duck_h60("text")
    return rf"""
        WITH docs AS (
            SELECT doc_id, text FROM documents WHERE text IS NOT NULL
        ), prev AS (
            SELECT doc_id, text FROM docs WHERE doc_id % 10 != 0
        ), cur AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0 THEN text || ' rev2'
                        ELSE text END AS text
            FROM docs WHERE doc_id % 13 != 0
        ), ma AS (
            SELECT CAST(({shard}) % {N_TRAINING_SHARDS} AS INT)
                       AS shard,
                   count(*) AS n_docs,
                   CAST(sum(len(string_split_regex(
                       lower(trim(text)), '\s+'))) AS BIGINT)
                       AS n_tokens,
                   bit_xor({h}) AS checksum
            FROM prev GROUP BY 1
        ), mb AS (
            SELECT CAST(({shard}) % {N_TRAINING_SHARDS} AS INT)
                       AS shard,
                   count(*) AS n_docs,
                   CAST(sum(len(string_split_regex(
                       lower(trim(text)), '\s+'))) AS BIGINT)
                       AS n_tokens,
                   bit_xor({h}) AS checksum
            FROM cur GROUP BY 1
        )
        SELECT coalesce(ma.shard, mb.shard) AS shard,
               coalesce(ma.n_docs, 0) AS n_docs_prev,
               coalesce(mb.n_docs, 0) AS n_docs_cur,
               coalesce(mb.n_docs, 0) - coalesce(ma.n_docs, 0)
                   AS docs_delta,
               coalesce(ma.n_tokens, 0) AS n_tokens_prev,
               coalesce(mb.n_tokens, 0) AS n_tokens_cur,
               coalesce(mb.n_tokens, 0) - coalesce(ma.n_tokens, 0)
                   AS tokens_delta,
               ma.checksum AS checksum_prev,
               mb.checksum AS checksum_cur,
               coalesce(ma.checksum, 0) != coalesce(mb.checksum, 0)
                   AS needs_rewrite
        FROM ma FULL OUTER JOIN mb ON ma.shard = mb.shard
        ORDER BY 1
    """


def _duck_split_leakage_sql() -> str:
    return f"""
    WITH pairs_full AS (
        SELECT * FROM ({_duck_pairs_sql()})
    ), splits AS (
        SELECT * FROM ({_DUCK_SPLIT_SQL})
    ), leaked AS (
        SELECT least(a.split, b.split) AS split_lo,
               greatest(a.split, b.split) AS split_hi,
               p.jaccard
        FROM pairs_full p
        JOIN splits a ON a.doc_id = p.doc_id_a
        JOIN splits b ON b.doc_id = p.doc_id_b
        WHERE p.jaccard >= {NEARDUP_JACCARD}
          AND a.split <> b.split
    )
    SELECT split_lo, split_hi,
           count(*) AS n_pairs,
           round(avg(jaccard), 6) AS avg_jaccard,
           round(max(jaccard), 6) AS max_jaccard
    FROM leaked GROUP BY split_lo, split_hi
    ORDER BY split_lo, split_hi
    """


def _duck_snapshot_ledger_sql() -> str:
    return """
    WITH d AS (
        SELECT doc_id, text FROM documents WHERE text IS NOT NULL
    ), e0 AS (
        SELECT CAST(0 AS BIGINT) AS epoch, 'added' AS status,
               COUNT(*) AS n_docs,
               CAST(SUM(LENGTH(text)) AS BIGINT) AS n_chars
        FROM d WHERE doc_id % 3 <> 0
    ), e1_rows AS (
        SELECT CASE WHEN doc_id % 3 = 0 THEN 'added'
                    WHEN doc_id % 5 = 0 THEN 'changed'
                    WHEN doc_id % 7 = 0 THEN 'unchanged'
                    WHEN doc_id % 11 = 0 THEN 'removed'
               END AS status,
               CASE WHEN doc_id % 3 <> 0 AND doc_id % 5 = 0
                    THEN LENGTH(text) + 3
                    ELSE LENGTH(text) END AS chars
        FROM d
    ), e1 AS (
        SELECT CAST(1 AS BIGINT) AS epoch, status,
               COUNT(*) AS n_docs,
               CAST(SUM(chars) AS BIGINT) AS n_chars
        FROM e1_rows WHERE status IS NOT NULL GROUP BY status
    )
    SELECT epoch, status, n_docs, n_chars FROM e0
    UNION ALL
    SELECT epoch, status, n_docs, n_chars FROM e1
    ORDER BY epoch, status
"""


ENTRIES = {
    "dedup_exact_groups": (dedup_exact_groups, lambda: """
        SELECT md5(text) AS text_hash,
               min(doc_id) AS keeper_doc_id,
               count(*) AS n_copies
        FROM documents GROUP BY 1 ORDER BY keeper_doc_id
    """),
    "dedup_exact_docs": (dedup_exact_docs, lambda: """
        SELECT doc_id, n_chars FROM (
            SELECT doc_id, n_chars,
                   row_number() OVER (PARTITION BY md5(text)
                                      ORDER BY doc_id) AS rn
            FROM documents) t
        WHERE rn = 1 ORDER BY doc_id
    """),
    "dedup_incremental_exact": (
        dedup_incremental_exact,
        _duck_incremental_exact_sql,
    ),
    "dedup_minhash_signatures": (q_minhash_signatures, lambda: (
        _duck_signatures_cte()
        + f"SELECT doc_id, {', '.join(f'sig_{j}' for j in range(NUM_HASHES))} "
        "FROM sigs ORDER BY doc_id"
    )),
    "dedup_minhash_pairs": (dedup_minhash_pairs, _duck_pairs_sql),
    # the incremental pipeline must equal the full pipeline restricted
    # to delta-touching pairs — the restriction IS the oracle
    "dedup_incremental_pairs": (dedup_incremental_pairs, lambda: (
        "SELECT * FROM (" + _duck_pairs_sql() + ") t "
        "WHERE doc_id_a % 10 = 0 OR doc_id_b % 10 = 0 "
        "ORDER BY doc_id_a, doc_id_b"
    )),
    "dedup_neardup_groups": (dedup_neardup_groups, _duck_neardup_groups_sql),
    # same output contract (component min per node) -> same oracle
    "dedup_neardup_groups_lsss": (
        dedup_neardup_groups_lsss,
        _duck_neardup_groups_sql,
    ),
    "dedup_ngram_jaccard_topk": (ngram_jaccard_topk, lambda: f"""
        WITH sh AS (
            SELECT doc_id, list_distinct({_DUCK_SHINGLES}) AS sh FROM documents
        )
        SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
               CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / CAST(len(a.sh) + len(b.sh)
                      - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        ORDER BY jaccard DESC, doc_id_a, doc_id_b
        LIMIT 20
    """),
    "dedup_containment_topk": (containment_topk, _duck_containment_topk_sql),
    "dedup_containment_est": (
        dedup_containment_est,
        _duck_containment_est_sql,
    ),
    "dedup_simhash_fingerprints": (q_simhash_fingerprints, lambda: (
        _duck_simhash_cte() + "SELECT doc_id, fp FROM fps ORDER BY doc_id"
    )),
    "dedup_simhash_pairs": (simhash_pairs, lambda: (
        _duck_simhash_cte() + f""", bands AS (
{_DUCK_SIMHASH_BANDS}
        )
        SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
               CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
        WHERE a.doc_id < b.doc_id
          AND bit_count(xor(a.fp, b.fp)) <= {HAMMING_MAX}
        ORDER BY doc_id_a, doc_id_b
    """)),
    "dedup_simhash_hamming_topk": (simhash_hamming_topk, lambda: (
        _duck_simhash_cte() + """
        SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
               CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
        FROM fps a JOIN fps b ON a.doc_id < b.doc_id
        ORDER BY hamming, doc_id_a, doc_id_b
        LIMIT 20
    """)),
    "dedup_embedding_pairs": (embedding_neardup_pairs, lambda: f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        )
        SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
               round(list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v))
                        * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE round(list_dot_product(a.v, b.v)
                    / (sqrt(list_dot_product(a.v, a.v))
                       * sqrt(list_dot_product(b.v, b.v))), 6)
              >= {EMB_DUP_THRESHOLD}
        ORDER BY vec_id_a, vec_id_b
    """),
    "dedup_embedding_pairs_lsh": (
        embedding_neardup_pairs_lsh,
        _duck_emb_lsh_sql,
    ),
    "corpus_funnel": (corpus_funnel, _duck_funnel_accounting_sql),
    "corpus_survivors": (corpus_survivors, _duck_survivors_sql),
    "corpus_shard_manifest": (corpus_shard_manifest, _duck_shard_manifest_sql),
    "corpus_data_card": (corpus_data_card, _duck_data_card_sql),
    "corpus_mixture_plan": (corpus_mixture_plan, _duck_mixture_plan_sql),
    "corpus_release_diff_card": (
        corpus_release_diff_card,
        _duck_release_diff_card_sql,
    ),
    "corpus_shard_diff": (corpus_shard_diff, _duck_shard_diff_sql),
    "dedup_contamination": (contamination, _duck_contamination_sql),
    "dedup_contamination_multi": (
        contamination_multi,
        _duck_contamination_multi_sql,
    ),
    "dedup_survivor_policy": (survivor_policy, _duck_survivor_policy_sql),
    "dedup_canonical_pick": (canonical_pick, _duck_canonical_pick_sql),
    "dedup_training_triplets": (
        training_triplets,
        _duck_training_triplets_sql,
    ),
    "dedup_pair_features": (pair_features, _duck_pair_features_sql),
    "dedup_hash_stage_md5": (dedup_hash_stage_md5, _duck_hash_stage_sql),
    "dedup_semantic": (dedup_semantic, _duck_semantic_sql),
    "dedup_semantic_trained": (dedup_semantic_trained, None),
    "dedup_snapshot_diff": (dedup_snapshot_diff, _duck_snapshot_diff_sql),
    "dedup_snapshot_ledger": (
        dedup_snapshot_ledger,
        _duck_snapshot_ledger_sql,
    ),
    "dedup_split_leakage": (dedup_split_leakage, _duck_split_leakage_sql),
    "dedup_threshold_curve": (
        dedup_threshold_curve,
        _duck_threshold_curve_sql,
    ),
}
