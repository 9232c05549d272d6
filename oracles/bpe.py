"""Registry records and DuckDB oracles of extras.bpe."""

from data_pipeline_and_visualization_dashboard_spark.extras.bpe import (
    N_MERGES, bpe_apply, bpe_compression, bpe_train,
)


_DUCK_WORDS = r"unnest(regexp_split_to_array(lower(trim(text)), '\s+'))"

_DUCK_SYMS = "str_split(trim(s, '|'), '||')"

_DUCK_NTOK = "CAST((length(s) - length(replace(s, '|', ''))) // 2 AS INT)"


def _duck_w0() -> str:
    return f"""w0 AS MATERIALIZED (
            SELECT w AS word, count(*) AS freq,
                   regexp_replace(w, '(.)', '|\\1|', 'g') AS s
            FROM (SELECT {_DUCK_WORDS} AS w
                  FROM documents WHERE text IS NOT NULL)
            WHERE regexp_full_match(w, '[a-z]+')
            GROUP BY w
        )"""


def _duck_iteration(i: int) -> str:
    """One merge round: pair counts from w{i-1}, arg-max, replace.
    COALESCE(chr(1)) makes exhausted rounds a no-op replace (chr(1)
    never occurs in a symbol string), mirroring the Spark loop's
    early break."""
    return f"""p{i} AS MATERIALIZED (
            SELECT syms[gi] AS l, syms[gi+1] AS r, sum(freq) AS cnt
            FROM (
                SELECT freq, {_DUCK_SYMS} AS syms,
                       unnest(range(1, len({_DUCK_SYMS}))) AS gi
                FROM w{i - 1}
            ) GROUP BY l, r
        ), t{i} AS MATERIALIZED (
            SELECT l, r, cnt FROM p{i} ORDER BY cnt DESC, l, r LIMIT 1
        ), w{i} AS MATERIALIZED (
            SELECT word, freq,
                   replace(s,
                       COALESCE((SELECT '|' || l || '||' || r || '|'
                                 FROM t{i}), chr(1)),
                       COALESCE((SELECT '|' || l || r || '|'
                                 FROM t{i}), chr(1))) AS s
            FROM w{i - 1}
        )"""


def _duck_train_sql(n_merges: int = N_MERGES) -> str:
    ctes = ",\n        ".join(
        [_duck_w0()] + [_duck_iteration(i) for i in range(1, n_merges + 1)]
    )
    union = "\n            UNION ALL\n".join(
        f"            SELECT {i} AS merge_rank, l AS lhs, r AS rhs,"
        f" CAST(cnt AS BIGINT) AS pair_cnt FROM t{i}"
        for i in range(1, n_merges + 1)
    )
    return f"""
        WITH {ctes}
        SELECT * FROM (
{union}
        ) ORDER BY merge_rank
    """


def _duck_apply_sql(n_merges: int = N_MERGES) -> str:
    """w{n} already holds every distinct word's fully-merged symbol
    string, so the apply oracle reads token counts straight off the
    final training CTE and joins them onto the exploded corpus."""
    ctes = ",\n        ".join(
        [_duck_w0()] + [_duck_iteration(i) for i in range(1, n_merges + 1)]
    )
    return f"""
        WITH {ctes},
        vocab_tok AS MATERIALIZED (
            SELECT word, {_DUCK_NTOK} AS word_toks FROM w{n_merges}
        ), fact AS MATERIALIZED (
            SELECT doc_id, word FROM (
                SELECT doc_id, {_DUCK_WORDS} AS word
                FROM documents WHERE text IS NOT NULL
            ) WHERE regexp_full_match(word, '[a-z]+')
        )
        SELECT f.doc_id,
               count(*) AS n_words,
               CAST(sum(v.word_toks) AS BIGINT) AS n_tokens
        FROM fact f JOIN vocab_tok v USING (word)
        GROUP BY f.doc_id ORDER BY f.doc_id
    """


def _duck_compression_sql(n_merges: int = N_MERGES) -> str:
    """Per-round corpus token totals read off the w{i} chain."""
    ctes = ",\n        ".join(
        [_duck_w0()] + [_duck_iteration(i) for i in range(1, n_merges + 1)]
    )
    tok = "((length(s) - length(replace(s, '|', ''))) // 2)"
    union = "\n            UNION ALL\n".join(
        f"            SELECT {i} AS merge_rank,"
        f" CAST(sum(freq * {tok}) AS BIGINT) AS total_tokens FROM w{i}"
        for i in range(n_merges + 1)
    )
    return f"""
        WITH {ctes},
        chars AS (
            SELECT CAST(sum(freq * length(word)) AS BIGINT) AS n_chars
            FROM w0
        ), curve AS (
{union}
        )
        SELECT CAST(merge_rank AS INT) AS merge_rank, total_tokens,
               round(CAST(n_chars AS DOUBLE) / total_tokens, 4)
                   AS chars_per_token
        FROM curve CROSS JOIN chars ORDER BY merge_rank
    """


ENTRIES = {
    "text_bpe_train": (bpe_train, _duck_train_sql),
    "text_bpe_apply": (bpe_apply, _duck_apply_sql),
    "text_bpe_compression": (bpe_compression, _duck_compression_sql),
}
