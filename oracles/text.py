"""Registry records and DuckDB oracles of extras.text."""

from data_pipeline_and_visualization_dashboard_spark.extras.hashing import (
    P_FP, duck_base_hash,
)
from data_pipeline_and_visualization_dashboard_spark.extras.text import (
    BPE_PATTERN, CHUNK_STRIDE, CHUNK_TOKENS, DSIR_DIM, DUP_NGRAM_N, FORGET_MOD,
    GOPHER_MAX_BULLET_FRAC, GOPHER_MAX_ELLIPSIS_FRAC, GOPHER_MAX_SYMBOL_RATIO,
    GOPHER_MAX_WORDS, GOPHER_MAX_WORD_LEN, GOPHER_MIN_ALPHA_WORD_FRAC,
    GOPHER_MIN_STOPWORDS, GOPHER_MIN_WORDS, GOPHER_MIN_WORD_LEN,
    GOPHER_STOPWORDS, HASH_DIM, LINE_TOKENS, MIX_DEN, MIX_NUM, PACK_BUDGET,
    PACK_SEQ_BAND, PACK_SEQ_CTX, PACK_SEQ_SHARDS, PACK_SHARDS, PII_RULES,
    PII_TOKEN, QCAL_BINS, QCAL_LO, QCAL_W, SPLIT_PCTS, TFIDF_TOPK, UNK_ID,
    VOCAB_MIN_DF, _PACK_SEQ_MAX_BAND, _PACK_SEQ_SHARD_KEY, _PADDED, _PRED_CASE,
    _VERDICT_CASE, _lang_score_exprs, _occurrences, _qs_weight_exprs, chunks,
    corpus_forget_impact, dsir_weights, dup_ngrams, dup_spans, fingerprint,
    gopher_rules, hashed_features, lang_id, line_dedup, lm_logprob, mix_sample,
    pack_bestfit, pack_sequences, packing, quality_calibration, quality_filter,
    quality_score, repetition, scrub_pii, split_assign, text_stats, tfidf_topk,
    token_entropy, tokens_bpe, vocab_encode, vocab_table,
)

from .search import _DUCK_POSITIONS


def _duck_token_entropy_sql() -> str:
    return r"""
    WITH cnt AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
        FROM documents
    ), c2 AS (
        SELECT doc_id, t, count(*) AS c FROM cnt GROUP BY 1, 2
    )
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
           round((ln(sum(c)) - sum(c * ln(c)) / sum(c)) / ln(2), 6)
               AS entropy_bits
    FROM c2 GROUP BY doc_id
"""

def _duck_tfidf_sql() -> str:
    return f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
        FROM documents WHERE text IS NOT NULL
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
    ), df AS (
        SELECT term, count(*) AS df FROM tf GROUP BY 1
    ), n AS (
        SELECT count(*) AS n_docs FROM (SELECT doc_id FROM documents
                                        WHERE text IS NOT NULL)
    ), scored AS (
        SELECT tf.doc_id, tf.term, tf.tf,
               round(tf.tf * ln(CAST(n_docs AS DOUBLE) / df.df), 6) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
    ), ranked AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, term) AS rank
        FROM scored
    )
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, tfidf,
           CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {TFIDF_TOPK}
    ORDER BY doc_id, rank
"""

_DUCK_CHUNKS_SQL = f"""
    WITH toked AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\\s+') AS toks
        FROM documents
    ), counted AS (
        SELECT doc_id, toks,
               CASE WHEN len(toks) <= {CHUNK_TOKENS} THEN 1
                    ELSE ((len(toks) - {CHUNK_TOKENS} + {CHUNK_STRIDE} - 1)
                          // {CHUNK_STRIDE}) + 1 END AS n_chunks
        FROM toked
    ), exploded AS (
        SELECT doc_id,
               unnest(generate_series(0, n_chunks - 1)) AS chunk_idx,
               toks
        FROM counted
    ), sliced AS (
        SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
               list_slice(toks, chunk_idx * {CHUNK_STRIDE} + 1,
                          chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS})
                   AS chunk_toks
        FROM exploded
    )
    SELECT doc_id, chunk_idx,
           CAST(len(chunk_toks) AS INT) AS n_chunk_tokens,
           array_to_string(chunk_toks, ' ') AS chunk_text
    FROM sliced ORDER BY doc_id, chunk_idx
"""

_DUCK_SPLIT_SQL = f"""
    WITH bucketed AS (
        SELECT doc_id,
               CAST({duck_base_hash('CAST(doc_id AS VARCHAR)')} % 100
                    AS INT) AS bucket
        FROM documents
    )
    SELECT doc_id, bucket,
           CASE WHEN bucket < {SPLIT_PCTS[0]} THEN 'train'
                WHEN bucket < {SPLIT_PCTS[1]} THEN 'val'
                ELSE 'test' END AS split
    FROM bucketed ORDER BY doc_id
"""

_DUCK_PACKING_SQL = f"""
    WITH ch AS ({{chunks}}), sharded AS (
        SELECT doc_id, chunk_idx, n_chunk_tokens,
               doc_id % {PACK_SHARDS} AS shard
        FROM ch
    ), packed AS (
        SELECT shard, n_chunk_tokens,
               CAST((sum(n_chunk_tokens) OVER (
                         PARTITION BY shard ORDER BY doc_id, chunk_idx
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - n_chunk_tokens) // {PACK_BUDGET} AS INT) AS pack_id
        FROM sharded
    )
    SELECT shard, pack_id,
           count(*) AS n_chunks,
           CAST(sum(n_chunk_tokens) AS BIGINT) AS n_tokens
    FROM packed GROUP BY shard, pack_id ORDER BY shard, pack_id
"""

def _duck_pack_sequences_sql() -> str:
    return f"""
    WITH counted AS (
        SELECT doc_id,
               len(list_filter(regexp_extract_all(text,
                   '{BPE_PATTERN.replace("'", "''")}'),
                   p -> NOT regexp_full_match(p, '\\s+'))) AS n_tokens
        FROM documents
    ), base AS (
        SELECT doc_id, n_tokens,
               least(n_tokens, {PACK_SEQ_CTX}) AS kept,
               doc_id % {PACK_SEQ_SHARDS} AS shard,
               CAST(least(n_tokens // {PACK_SEQ_BAND},
                          {_PACK_SEQ_MAX_BAND}) * {PACK_SEQ_BAND}
                    AS INT) AS band_lo
        FROM counted
    ), packed AS (
        SELECT band_lo, n_tokens, kept,
               shard * {_PACK_SEQ_SHARD_KEY}
               + (sum(kept) OVER (
                      PARTITION BY shard ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - kept) // {PACK_SEQ_CTX} AS bin_key
        FROM base
    )
    SELECT band_lo,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN n_tokens > {PACK_SEQ_CTX} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_truncated,
           round(sum(CASE WHEN n_tokens > {PACK_SEQ_CTX} THEN 1 ELSE 0 END)
                     ::DOUBLE / count(*), 6) AS truncation_fraction,
           CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
           CAST(sum(kept) AS BIGINT) AS tokens_kept,
           CAST(sum(n_tokens) - sum(kept) AS BIGINT) AS tokens_lost,
           count(DISTINCT bin_key) AS bins_used,
           round(sum(kept)::DOUBLE
                 / (count(DISTINCT bin_key) * {PACK_SEQ_CTX}), 6)
               AS pack_efficiency
    FROM packed GROUP BY band_lo ORDER BY band_lo
"""


def _duck_forget_impact_sql() -> str:
    return f"""
    WITH ch AS (SELECT * FROM ({_DUCK_CHUNKS_SQL})), sharded AS (
        SELECT doc_id, chunk_idx, n_chunk_tokens,
               doc_id % {PACK_SHARDS} AS shard
        FROM ch
    ), assignment AS (
        SELECT doc_id, shard,
               CAST((sum(n_chunk_tokens) OVER (
                         PARTITION BY shard ORDER BY doc_id, chunk_idx
                         ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW)
                     - n_chunk_tokens) // {PACK_BUDGET} AS INT)
                   AS pack_id
        FROM sharded
    ), pos AS ({_DUCK_POSITIONS}),
    corpus AS (
        SELECT 'corpus' AS artifact,
               CAST(sum(CASE WHEN doc_id % {FORGET_MOD} = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_affected,
               count(*) AS n_total
        FROM documents
    ), chunks_r AS (
        SELECT 'chunks',
               CAST(sum(CASE WHEN doc_id % {FORGET_MOD} = 0
                             THEN 1 ELSE 0 END) AS BIGINT),
               count(*)
        FROM ch
    ), packs_r AS (
        SELECT 'packs', CAST(sum(aff) AS BIGINT), count(*) FROM (
            SELECT shard, pack_id,
                   max(CASE WHEN doc_id % {FORGET_MOD} = 0
                       THEN 1 ELSE 0 END) AS aff
            FROM assignment GROUP BY 1, 2
        )
    ), postings_r AS (
        SELECT 'postings', CAST(sum(aff) AS BIGINT), count(*) FROM (
            SELECT term,
                   max(CASE WHEN doc_id % {FORGET_MOD} = 0
                       THEN 1 ELSE 0 END) AS aff
            FROM pos GROUP BY 1
        )
    ), unioned AS (
        SELECT * FROM corpus UNION ALL SELECT * FROM chunks_r
        UNION ALL SELECT * FROM packs_r UNION ALL SELECT * FROM postings_r
    )
    SELECT artifact, n_affected, n_total,
           round(CAST(n_affected AS DOUBLE) / n_total, 6)
               AS affected_frac
    FROM unioned ORDER BY artifact
    """


_DUCK_TOKENS = r"string_split_regex(lower(trim(text)), '\s+')"

_DUCK_VOCAB_CTE = f"""
    WITH toks AS (
        SELECT doc_id, unnest({_DUCK_TOKENS}) AS token,
               unnest(range(1, len({_DUCK_TOKENS}) + 1)) AS pos
        FROM documents
    ), tf AS (
        SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2
    ), stats AS (
        SELECT token, count(*) AS n_docs, sum(tf) AS n_occur
        FROM tf GROUP BY token
    ), vocab AS (
        SELECT token,
               CAST(row_number() OVER (
                   ORDER BY n_docs DESC, n_occur DESC, token) AS INT)
                   AS token_id,
               n_docs, n_occur
        FROM stats WHERE n_docs >= {VOCAB_MIN_DF}
    )
"""

def _duck_vocab_sql() -> str:
    return _DUCK_VOCAB_CTE + """
    SELECT token, token_id, n_docs,
           CAST(n_occur AS BIGINT) AS n_occur
    FROM vocab ORDER BY token_id
"""

def _duck_vocab_encode_sql() -> str:
    return _DUCK_VOCAB_CTE + f"""
    , enc AS (
        SELECT t.doc_id, t.pos,
               CAST(COALESCE(v.token_id, {UNK_ID}) AS INT) AS tid
        FROM toks t LEFT JOIN vocab v USING (token)
    )
    SELECT doc_id,
           array_to_string(list(tid ORDER BY pos), ',') AS ids,
           CAST(count(*) AS INT) AS n_tokens,
           CAST(sum(CASE WHEN tid = {UNK_ID} THEN 1 ELSE 0 END) AS INT)
               AS n_unk
    FROM enc GROUP BY doc_id ORDER BY doc_id
"""


def _duck_scrub_sql() -> str:
    clean = "text"
    for _, pat in PII_RULES:
        clean = f"regexp_replace({clean}, '{pat}', '{PII_TOKEN}', 'g')"
    counts = ",\n               ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS INT) AS n_{name}"
        for name, pat in PII_RULES
    )
    return f"""
        SELECT doc_id,
               {clean} AS clean_text,
               {counts}
        FROM documents
    """


_DUCK_MIX_W = "(CAST(substr(source, 4) AS INT) % 3) + 1"

def _duck_line_dedup_sql() -> str:
    return f"""
    WITH toked AS (
        SELECT doc_id, {_DUCK_TOKENS} AS toks,
               (len({_DUCK_TOKENS}) + {LINE_TOKENS} - 1)
                   // {LINE_TOKENS} AS n_lines
        FROM documents
    ), lines AS (
        SELECT doc_id,
               unnest(range(0, n_lines)) AS line_idx,
               unnest(list_transform(range(0, n_lines),
                   i -> array_to_string(list_slice(toks,
                        i * {LINE_TOKENS} + 1,
                        i * {LINE_TOKENS} + {LINE_TOKENS}), ' ')))
                   AS line_text,
               unnest(list_transform(range(0, n_lines),
                   i -> len(list_slice(toks,
                        i * {LINE_TOKENS} + 1,
                        i * {LINE_TOKENS} + {LINE_TOKENS}))))
                   AS nt
        FROM toked
    ), flagged AS (
        SELECT doc_id, nt,
               CASE WHEN row_number() OVER (PARTITION BY line_text
                        ORDER BY doc_id, line_idx) > 1
                    THEN 1 ELSE 0 END AS is_dup
        FROM lines
    )
    SELECT doc_id,
           CAST(count(*) AS INT) AS n_lines,
           CAST(sum(is_dup) AS INT) AS n_dup_lines,
           CAST(sum(nt) AS BIGINT) AS tokens_total,
           CAST(sum(nt * is_dup) AS BIGINT) AS tokens_removed
    FROM flagged GROUP BY doc_id
"""


def _duck_mix_sample_sql() -> str:
    return f"""
        WITH base AS (
            SELECT doc_id, source,
                   len({_DUCK_TOKENS}) AS n_tokens,
                   {duck_base_hash('CAST(doc_id AS VARCHAR)')} AS h
            FROM documents
        ), per_src AS (
            SELECT source, sum(n_tokens) AS src_tokens,
                   CAST({_DUCK_MIX_W} AS BIGINT) AS w
            FROM base GROUP BY source
        ), totals AS (
            SELECT sum(src_tokens) AS t, sum(w) AS sw FROM per_src
        ), budgets AS (
            SELECT source,
                   (CAST({MIX_NUM} AS BIGINT) * t * w)
                       // (CAST({MIX_DEN} AS BIGINT) * sw) AS budget
            FROM per_src, totals
        ), cum AS (
            SELECT doc_id, source, n_tokens,
                   sum(n_tokens) OVER (PARTITION BY source
                       ORDER BY h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_tokens
            FROM base
        )
        SELECT c.doc_id, c.source, CAST(c.n_tokens AS INT) AS n_tokens
        FROM cum c JOIN budgets b USING (source)
        WHERE c.cum_tokens <= b.budget
    """


def _duck_lm_sql() -> str:
    return r"""
    WITH toked AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\s+') AS tokens
        FROM documents WHERE text IS NOT NULL
    ), bi AS (
        SELECT doc_id, b['w1'] AS w1, b['w2'] AS w2 FROM (
            SELECT doc_id, unnest(
                CASE WHEN len(tokens) >= 2 THEN
                    list_transform(generate_series(1, len(tokens) - 1),
                        i -> {'w1': tokens[i], 'w2': tokens[i + 1]})
                ELSE [] END) AS b
            FROM toked) t
    ), big_counts AS (
        SELECT w1, w2, count(*) AS cb FROM bi GROUP BY w1, w2
    ), ctx_counts AS (
        SELECT w1, count(*) AS cu FROM bi GROUP BY w1
    ), vocab_n AS (
        SELECT count(DISTINCT w) AS v FROM (
            SELECT unnest(tokens) AS w FROM toked) t
    ), lp AS (
        SELECT b.w1, b.w2,
               ln(CAST(b.cb + 1 AS DOUBLE) / CAST(c.cu + v.v AS DOUBLE))
                   AS lp
        FROM big_counts b JOIN ctx_counts c ON b.w1 = c.w1, vocab_n v
    )
    SELECT bi.doc_id, count(*) AS n_bigrams,
           round(avg(lp.lp), 6) AS avg_logprob
    FROM bi JOIN lp ON bi.w1 = lp.w1 AND bi.w2 = lp.w2
    GROUP BY bi.doc_id ORDER BY bi.doc_id
"""


def _duck_gopher_sql() -> str:
    sw = " + ".join(
        f"(CASE WHEN {_occurrences(_PADDED, w, 'duck')} > 0"
        " THEN 1 ELSE 0 END)"
        for w in GOPHER_STOPWORDS
    )
    fails = " + ".join(
        f"(CASE WHEN {c} THEN 0 ELSE 1 END)"
        for c in [
            f"n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}",
            f"mean_word_len BETWEEN {GOPHER_MIN_WORD_LEN}"
            f" AND {GOPHER_MAX_WORD_LEN}",
            f"symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO}",
            f"bullet_frac <= {GOPHER_MAX_BULLET_FRAC}",
            f"ellipsis_frac <= {GOPHER_MAX_ELLIPSIS_FRAC}",
            f"alpha_word_frac >= {GOPHER_MIN_ALPHA_WORD_FRAC}",
            f"n_stopwords >= {GOPHER_MIN_STOPWORDS}",
        ]
    )
    return rf"""
        WITH base AS (
            SELECT doc_id,
                   string_split_regex(trim(text), '\s+') AS words,
                   string_split(text, chr(10)) AS lines,
                   ({sw}) AS n_stopwords,
                   (length(text) - length(replace(text, '#', '')))
                   + ((length(text) - length(replace(text, '...', ''))) // 3)
                       AS n_symbols
            FROM documents
        ), feats AS (
            SELECT doc_id,
                   CAST(len(words) AS INT) AS n_words,
                   list_reduce(list_transform(words, w -> CAST(length(w) AS BIGINT)),
                               (acc, x) -> acc + x)
                       / CAST(len(words) AS DOUBLE) AS mean_word_len,
                   n_symbols / CAST(len(words) AS DOUBLE) AS symbol_ratio,
                   len(list_filter(lines, l -> trim(l) LIKE '-%'
                                            OR trim(l) LIKE '*%'))
                       / CAST(len(lines) AS DOUBLE) AS bullet_frac,
                   len(list_filter(lines, l -> rtrim(l) LIKE '%...'))
                       / CAST(len(lines) AS DOUBLE) AS ellipsis_frac,
                   len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))
                       / CAST(len(words) AS DOUBLE) AS alpha_word_frac,
                   n_stopwords
            FROM base
        )
        SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
               ellipsis_frac, alpha_word_frac, n_stopwords,
               CAST(({fails}) AS INT) AS n_rules_failed,
               (({fails}) = 0) AS passes
        FROM feats ORDER BY doc_id
    """


def _duck_quality_score_sql() -> str:
    w = _qs_weight_exprs("duck")
    return rf"""
        WITH toked AS (
            SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\s+') AS tokens
            FROM documents
        ), scored AS (
            SELECT doc_id,
                   CAST(len(tokens) AS INT) AS token_cnt,
                   list_reduce(list_transform(tokens, t -> {w}),
                               (acc, x) -> acc + x) AS score_sum
            FROM toked
        )
        SELECT doc_id, token_cnt, score_sum,
               score_sum / token_cnt AS score_mean,
               (score_sum / token_cnt) > 0 AS kept
        FROM scored ORDER BY doc_id
    """


def _duck_dsir_sql() -> str:
    d = DSIR_DIM
    uni = f"list_transform(tokens, t -> {duck_base_hash('t')} % {d})"
    bi = (
        "CASE WHEN len(tokens) >= 2 THEN "
        "list_transform(generate_series(1, len(tokens) - 1), "
        "i -> "
        + duck_base_hash("concat(tokens[i], ' ', tokens[i + 1])")
        + f" % {d}) ELSE [] END"
    )
    return rf"""
        WITH toked AS (
            SELECT doc_id, lang,
                   string_split_regex(lower(trim(text)), '\s+') AS tokens
            FROM documents WHERE text IS NOT NULL
        ), feats AS (
            SELECT doc_id, lang, unnest(list_concat({uni}, {bi})) AS b
            FROM toked
        ), counts AS (
            SELECT b, count(*) AS c_raw,
                   sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_tgt
            FROM feats GROUP BY b
        ), tot AS (
            SELECT sum(c_raw) AS nr, sum(c_tgt) AS nt FROM counts
        ), ratio AS (
            SELECT b, ln((CAST(c_tgt + 1 AS DOUBLE) / CAST(nt + {d} AS DOUBLE))
                         / (CAST(c_raw + 1 AS DOUBLE) / CAST(nr + {d} AS DOUBLE))) AS lr
            FROM counts, tot
        )
        SELECT f.doc_id, count(*) AS n_feats, sum(r.lr) AS log_weight,
               sum(r.lr) / count(*) AS weight_per_feat
        FROM feats f JOIN ratio r ON f.b = r.b
        GROUP BY f.doc_id ORDER BY f.doc_id
    """


def _duck_dup_spans_sql() -> str:
    n = DUP_NGRAM_N
    return f"""
        WITH toked AS (
            SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\\s+') AS tokens
            FROM documents WHERE text IS NOT NULL
        ), longd AS (
            SELECT * FROM toked WHERE len(tokens) >= {n}
        ), pos AS (
            SELECT doc_id, i,
                   md5(array_to_string(
                       list_slice(tokens, i, i + {n - 1}), ' ')) AS gh
            FROM longd,
                 unnest(generate_series(1, len(tokens) - {n - 1}))
                     AS t(i)
        ), flagged AS (
            SELECT doc_id, i,
                   min(doc_id) OVER (PARTITION BY gh)
                       != max(doc_id) OVER (PARTITION BY gh) AS dup
            FROM pos
        ), runs AS (
            SELECT doc_id, i,
                   i - row_number() OVER (PARTITION BY doc_id ORDER BY i)
                       AS grp
            FROM flagged WHERE dup
        ), spans AS (
            SELECT doc_id, grp, min(i) AS s, max(i) AS e
            FROM runs GROUP BY doc_id, grp
        )
        SELECT doc_id,
               count(*) AS n_spans,
               CAST(sum(e - s + {n}) AS BIGINT) AS dup_tokens,
               CAST(max(e - s + {n}) AS BIGINT) AS longest_span
        FROM spans GROUP BY doc_id ORDER BY doc_id
    """


def _duck_dup_ngrams_sql() -> str:
    return f"""
    WITH toked AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\\s+') AS tokens
        FROM documents WHERE text IS NOT NULL
    ), grams AS (
        SELECT doc_id, list_distinct(
            CASE WHEN len(tokens) >= {DUP_NGRAM_N} THEN
                list_transform(
                    generate_series(1, len(tokens) - {DUP_NGRAM_N - 1}),
                    i -> array_to_string(
                        list_slice(tokens, i, i + {DUP_NGRAM_N - 1}), ' '))
            ELSE [array_to_string(tokens, ' ')] END) AS gs
        FROM toked
    ), e AS (
        SELECT doc_id, md5(g) AS gh
        FROM (SELECT doc_id, unnest(gs) AS g FROM grams) t
    ), counted AS (
        SELECT doc_id, count(*) OVER (PARTITION BY gh) AS n_docs FROM e
    )
    SELECT doc_id,
           count(*) AS n_ngrams,
           CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_ngrams,
           CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*) AS dup_frac
    FROM counted GROUP BY doc_id ORDER BY doc_id
"""

def _duck_hashed_features_sql() -> str:
    return rf"""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
        FROM documents
    )
    SELECT doc_id,
           CAST({duck_base_hash('t')} % {HASH_DIM} AS INT) AS bucket,
           count(*) AS cnt
    FROM tok GROUP BY 1, 2
"""


def _duck_quality_calibration_sql() -> str:
    """text_quality_calibration's oracle: the quality scores joined to
    the near-dup groups. oracles.dedup imports this module at the top,
    so the groups oracle is imported at call time."""
    from .dedup import _duck_neardup_groups_sql

    return f"""
        WITH q AS ({_duck_quality_score_sql()}),
        groups AS ({_duck_neardup_groups_sql()}),
        binned AS (
            SELECT CAST(least(greatest(
                       floor((q.score_mean - ({QCAL_LO}))
                             / {QCAL_W}), 0), {QCAL_BINS - 1})
                   AS INT) AS bin_id,
                   q.token_cnt, q.kept,
                   g.doc_id IS NOT NULL AS is_dup
            FROM q LEFT JOIN groups g ON q.doc_id = g.doc_id
        )
        SELECT bin_id,
               round(CAST({QCAL_LO} + bin_id * {QCAL_W} AS DOUBLE), 2)
                   AS bin_lo,
               count(*) AS n_docs,
               round(avg(token_cnt), 6) AS avg_tokens,
               round(avg(CAST(kept AS DOUBLE)), 6) AS kept_frac,
               CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup,
               round(avg(CASE WHEN is_dup THEN 1.0 ELSE 0.0 END), 6)
                   AS dup_rate
        FROM binned GROUP BY bin_id ORDER BY bin_id
    """


ENTRIES = {
    "text_stats": (text_stats, lambda: r"""
        SELECT doc_id,
               -- INT casts: Spark length()/size() are 32-bit, DuckDB's
               -- are BIGINT; widths must match for the schema check
               CAST(length(text) AS INT) AS n_chars_calc,
               CAST(len(string_split_regex(trim(text), '\s+')) AS INT)
                   AS token_cnt,
               CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS INT)
                   AS alpha_cnt,
               CAST(length(text) - length(replace(text, ' ', '')) AS INT)
                   AS space_cnt,
               CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                   / length(text) AS alpha_ratio,
               CAST(length(replace(text, ' ', '')) AS DOUBLE)
                   / len(string_split_regex(trim(text), '\s+')) AS avg_token_len,
               0.5 * (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                           AS DOUBLE) / length(text))
               + 0.5 * least(len(string_split_regex(trim(text), '\s+')) / 100.0,
                             1.0) AS quality_score,
               CAST(len(regexp_extract_all(text,
                   '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS INT) AS subword_cnt
        FROM documents ORDER BY doc_id
    """),
    "text_token_entropy": (token_entropy, _duck_token_entropy_sql),
    "text_hashed_features": (hashed_features, _duck_hashed_features_sql),
    "text_lang_id": (lang_id, lambda: f"""
        WITH scored AS (
            SELECT doc_id, lang,
                   {', '.join(_lang_score_exprs('duck'))}
            FROM documents
        )
        SELECT doc_id, hits_en, hits_de, hits_fr,
               ({_PRED_CASE}) AS pred_lang,
               (({_PRED_CASE}) = lang) AS lang_match
        FROM scored ORDER BY doc_id
    """),
    "text_tokens_bpe": (tokens_bpe, lambda: f"""
        WITH pieced AS (
            SELECT doc_id, text,
                   regexp_extract_all(text,
                       '{BPE_PATTERN.replace("'", "''")}') AS pieces
            FROM documents
        ), counted AS (
            SELECT doc_id, text, pieces,
                   len(list_filter(pieces,
                       p -> NOT regexp_full_match(p, '\\s+'))) AS n_tok
            FROM pieced
        )
        SELECT doc_id,
               CAST(len(pieces) AS INT) AS n_pieces,
               CAST(n_tok AS INT) AS n_tokens,
               CAST(length(text) AS DOUBLE) / n_tok AS chars_per_token
        FROM counted ORDER BY doc_id
    """),
    "text_fingerprint": (fingerprint, lambda: f"""
        SELECT doc_id,
               CASE WHEN len({_DUCK_TOKENS}) = 0 THEN 0
                    ELSE list_reduce(
                        list_transform({_DUCK_TOKENS},
                                       t -> {duck_base_hash('t')} % {P_FP}),
                        (acc, x) -> (acc * 31 + x) % {P_FP})
               END AS fp,
               CAST(len({_DUCK_TOKENS}) AS INT) AS token_cnt
        FROM documents ORDER BY doc_id
    """),
    "text_quality_filter": (quality_filter, lambda: f"""
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
        )
        SELECT doc_id,
               ({_VERDICT_CASE}) AS verdict,
               (({_VERDICT_CASE}) = 'kept') AS kept
        FROM feats ORDER BY doc_id
    """),
    "text_repetition": (repetition, lambda: r"""
        WITH toked AS (
            SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\s+') AS toks
            FROM documents
        ), grammed AS (
            SELECT doc_id, toks,
                   CASE WHEN len(toks) < 2 THEN []
                        ELSE list_transform(generate_series(1, len(toks) - 1),
                             i -> toks[i] || ' ' || toks[i + 1]) END AS g2,
                   CASE WHEN len(toks) < 3 THEN []
                        ELSE list_transform(generate_series(1, len(toks) - 2),
                             i -> toks[i] || ' ' || toks[i + 1]
                                  || ' ' || toks[i + 2]) END AS g3
            FROM toked
        )
        SELECT doc_id,
               CAST(len(toks) AS INT) AS token_cnt,
               CASE WHEN len(toks) = 0 THEN 0.0
                    ELSE 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
                         / len(toks) END AS dup_token_ratio,
               CASE WHEN len(g2) = 0 THEN 0.0
                    ELSE 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE)
                         / len(g2) END AS dup_2gram_ratio,
               CASE WHEN len(g3) = 0 THEN 0.0
                    ELSE 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE)
                         / len(g3) END AS dup_3gram_ratio
        FROM grammed ORDER BY doc_id
    """),
    "text_tfidf_topk": (tfidf_topk, _duck_tfidf_sql),
    "text_chunks": (chunks, lambda: _DUCK_CHUNKS_SQL),
    "text_packing": (
        packing,
        lambda: _DUCK_PACKING_SQL.format(chunks=_DUCK_CHUNKS_SQL),
    ),
    "text_pack_sequences": (pack_sequences, _duck_pack_sequences_sql),
    "text_pack_bestfit": (pack_bestfit, None),
    "text_split_assign": (split_assign, lambda: _DUCK_SPLIT_SQL),
    "corpus_forget_impact": (corpus_forget_impact, _duck_forget_impact_sql),
    "text_vocab": (vocab_table, _duck_vocab_sql),
    "text_vocab_encode": (vocab_encode, _duck_vocab_encode_sql),
    "text_scrub_pii": (scrub_pii, _duck_scrub_sql),
    "text_mix_sample": (mix_sample, _duck_mix_sample_sql),
    "text_line_dedup": (line_dedup, _duck_line_dedup_sql),
    "text_dup_ngrams": (dup_ngrams, _duck_dup_ngrams_sql),
    "text_dup_spans": (dup_spans, _duck_dup_spans_sql),
    "text_quality_score": (quality_score, _duck_quality_score_sql),
    "text_quality_calibration": (
        quality_calibration,
        _duck_quality_calibration_sql,
    ),
    "text_dsir_weights": (dsir_weights, _duck_dsir_sql),
    "text_gopher_rules": (gopher_rules, _duck_gopher_sql),
    "text_lm_logprob": (lm_logprob, _duck_lm_sql),
}
