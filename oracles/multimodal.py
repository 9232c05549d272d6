"""Registry records and DuckDB oracles of extras.multimodal."""

from data_pipeline_and_visualization_dashboard_spark.extras.multimodal import (
    AUDIO_HOP, AUDIO_WIN, RESIZE_TARGET, SILENCE_TAU, media_audio_windows,
    media_features, media_frames, media_resized,
)


ENTRIES = {
    "media_features": (media_features, lambda: """
        SELECT doc_id,
               'image/fake' AS media_type,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               sha256(text) AS checksum
        FROM documents ORDER BY doc_id
    """),
    "media_resized": (media_resized, lambda: f"""
        WITH sized AS (
            SELECT doc_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS in_bytes
            FROM documents
        ), strided AS (
            SELECT doc_id, in_bytes,
                   CAST(CASE WHEN in_bytes <= {RESIZE_TARGET} THEN 1
                        ELSE (in_bytes + {RESIZE_TARGET} - 1)
                             // {RESIZE_TARGET} END AS INT) AS stride
            FROM sized
        )
        SELECT doc_id, in_bytes, stride,
               CAST((in_bytes + stride - 1) // stride AS BIGINT)
                   AS out_bytes
        FROM strided ORDER BY doc_id
    """),
    "media_frames": (media_frames, lambda: """
        WITH sized AS (
            SELECT doc_id, text,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
            FROM documents
        ), chunked AS (
            SELECT doc_id, text, n_bytes,
                   greatest(1, n_bytes // 64) AS n_chunks,
                   least(4, greatest(1, n_bytes // 64)) AS take
            FROM sized
        )
        SELECT doc_id, CAST(i AS INT) AS frame_idx,
               CAST(least(64, n_bytes - (i * n_chunks // take) * 64)
                    AS BIGINT) AS frame_bytes,
               sha256(substring(text,
                                (i * n_chunks // take) * 64 + 1, 64))
                   AS frame_checksum
        FROM chunked,
             unnest(generate_series(0, take - 1)) AS t(i)
        ORDER BY doc_id, frame_idx
    """),
    "media_audio_windows": (media_audio_windows, lambda: f"""
    WITH d AS (
        SELECT doc_id, text,
               CAST(octet_length(encode(text)) AS BIGINT) AS n
        FROM documents WHERE text IS NOT NULL
    ), counted AS (
        SELECT doc_id, text, n,
               CASE WHEN n >= {AUDIO_WIN}
                    THEN (n - {AUDIO_WIN}) // {AUDIO_HOP} + 1
                    ELSE 1 END AS n_w
        FROM d
    ), win AS (
        SELECT doc_id,
               CAST(i AS INT) AS win_idx,
               least({AUDIO_WIN},
                     n - i * {AUDIO_HOP}) AS n_samples,
               CAST(list_aggregate(
                        list_transform(
                            string_split_regex(
                                substring(text,
                                          i * {AUDIO_HOP} + 1,
                                          {AUDIO_WIN}), ''),
                            x -> ord(x)), 'sum') AS DOUBLE)
                   / least({AUDIO_WIN}, n - i * {AUDIO_HOP}) AS energy
        FROM counted,
             unnest(generate_series(0, n_w - 1)) AS t(i)
    )
    SELECT doc_id,
           count(*) AS n_windows,
           CAST(sum(CASE WHEN energy < {SILENCE_TAU}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_silence,
           round(avg(energy), 6) AS avg_energy,
           round(max(energy), 6) AS max_energy
    FROM win GROUP BY doc_id ORDER BY doc_id
"""),
}
