"""Inverted-index keyword retrieval as DataFrame plans.

The retrieval counterpart to the embedding ANN paths: training-data
pipelines pull TARGETED subsets out of a 100 TB corpus ("every doc
mentioning these terms / this phrase") far more often than they scan
it, and the serving shape for that is the inverted index — term-grain
posting lists built once, then query-time work proportional to the
matched postings, not the corpus.

Operators (all zero-UDF, all DuckDB-oracle-backed):
  * text_index_postings — the index itself: per term, document
    frequency, collection frequency, and the sorted posting list.
    Build = one (doc, term) aggregation + one term-grain aggregation;
    the posting list is term-partitioned, which IS the industry layout
    (a term's postings live together, queries touch only their terms'
    partitions).
  * text_search_and — boolean AND over posting rows: filter the
    (doc, term, positions) fact to the query terms (predicate prunes
    at the scan), one doc-grain aggregation, keep docs matching ALL
    terms. Cost ∝ matched postings.
  * text_search_phrase — positional phrase match: the two terms'
    position lists hash-join on (doc_id, pos+1 = pos) — the classic
    posting-intersection adjacency walk, never a corpus re-scan.
  * text_search_ranked — TF-IDF-scored retrieval: the tfidf_topk
    scoring frame restricted to the query terms, summed per doc,
    global top-k (TakeOrderedAndProject).

Query terms are module literals chosen for non-trivial selectivity on
the synthetic corpus (the driver's documents tables share one
vocabulary); a production wrapper would substitute user terms — the
plans are term-value-independent.

Reference scope: the reference repo has no text retrieval; this is
beyond-reference LLM-data-pipeline surface (task brief).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import read_table

# boolean-AND query: 'dup' is rare (5% of docs), the others common —
# the selectivity mix that exercises posting pruning
QUERY_AND = ("dup", "fast", "key")
# adjacent pair that actually occurs (phrase search is positional)
PHRASE = ("table", "hash")
# ranked query mixing a rare high-idf term with common low-idf ones
QUERY_RANKED = ("dup", "vector", "line")
RANKED_K = 10


def _positions_from(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, term) over an ARBITRARY (doc_id, text) frame
    (streaming micro-batches use this; the batch path wraps it with
    the parallel corpus scan)."""
    from .text import spark_tokens

    return docs.selectExpr(
        "doc_id", f"posexplode_outer({spark_tokens()}) AS (pos, term)"
    ).filter(F.col("term").rlike("^[a-z]+$"))


def _positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, term) — the exploded positional fact every index
    operator starts from. Scan spread before the explode (same
    single-row-group rationale as dedup._read_docs_parallel)."""
    docs = read_table(
        spark, sf_dir, "documents", ["doc_id", "text"]
    ).filter(F.col("text").isNotNull())
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return _positions_from(docs)


def index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inverted index: term → (df, cf, sorted posting list).
    Two-level aggregation — (term, doc) occurrence counts first (the
    only corpus-sized shuffle), then term-grain df/cf/posting fold.
    Posting lists are doc-id-sorted arrays: deterministic, and the
    layout consumed by the search operators below."""
    td = (
        _positions(spark, sf_dir)
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return td.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("c").alias("cf"),
        # posting list stringified (repo convention for array outputs:
        # the comparison harnesses normalize strings, not nested types)
        F.concat_ws(
            ",", F.sort_array(F.collect_list("doc_id"))
        ).alias("doc_list"),
    )  # no terminal sort: term-grain output, order-insensitive compare


def search_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs containing ALL of QUERY_AND, with total hit count. The
    term IN-filter sits directly on the positional fact — at serving
    time this is a posting lookup, so the aggregation only ever sees
    the query terms' postings."""
    n_terms = len(QUERY_AND)
    hits = _positions(spark, sf_dir).filter(
        F.col("term").isin(*QUERY_AND)
    )
    return (
        hits.groupBy("doc_id")
        .agg(
            F.countDistinct("term").alias("n_terms"),
            F.count(F.lit(1)).alias("n_hits"),
        )
        .filter(F.col("n_terms") == n_terms)
        .select("doc_id", "n_hits")
    )


def search_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs containing the exact phrase PHRASE, with occurrence
    count: the first term's positions hash-join the second term's on
    (doc_id, pos + 1) — adjacency via posting intersection, the
    standard positional-index phrase walk."""
    pos = _positions(spark, sf_dir).filter(F.col("term").isin(*PHRASE))
    a = (
        pos.filter(F.col("term") == PHRASE[0])
        .select("doc_id", F.col("pos").alias("pos_a"))
        .alias("a")
    )
    b = (
        pos.filter(F.col("term") == PHRASE[1])
        .select("doc_id", F.col("pos").alias("pos_b"))
        .alias("b")
    )
    matched = a.join(
        b,
        (F.col("a.doc_id") == F.col("b.doc_id"))
        & (F.col("a.pos_a") + 1 == F.col("b.pos_b")),
    ).select(F.col("a.doc_id").alias("doc_id"))
    return matched.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_phrase")
    )


def _query_term_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, term, w): the 6dp-rounded tf·ln(N/df) weight of every
    QUERY_RANKED term occurrence — the scoring frame of search_ranked
    and of search_hybrid_rrf's lexical list. df and N come from the
    full corpus; tf rows are filtered to the query terms before any
    join."""
    tf = (
        _positions(spark, sf_dir)
        .select("doc_id", "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = (
        read_table(spark, sf_dir, "documents", ["doc_id", "text"])
        .filter(F.col("text").isNotNull())
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return (
        tf.filter(F.col("term").isin(*QUERY_RANKED))
        .join(df_, "term")
        .join(F.broadcast(n))
        .withColumn(
            "w",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ),
        )
    )


def search_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-RANKED_K docs by summed TF-IDF over QUERY_RANKED — scored
    retrieval with the same tf·ln(N/df) formula and 6dp rounding
    policy as text_tfidf_topk (ln is aggregate-derived; the top-k
    orders by the ROUNDED score, doc_id tiebreak, so ranks agree
    across engines). df comes from the full corpus (idf must price
    rarity globally), but the scored rows are only the query terms'."""
    ranked = _query_term_weights(spark, sf_dir).groupBy("doc_id").agg(
        F.round(F.sum("w"), 6).alias("score"),
        F.count(F.lit(1)).alias("n_terms"),
    )
    return ranked.orderBy(F.desc("score"), F.asc("doc_id")).limit(
        RANKED_K
    )


BM25_K1 = 1.2
BM25_B = 0.75


def search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-RANKED_K docs by Okapi BM25 over QUERY_RANKED — the
    saturation-and-length-normalized upgrade of search_ranked's raw
    TF-IDF (the default first-stage ranker in every production
    retrieval stack; Robertson & Zaragoza 2009):

        idf = ln((N - df + 0.5) / (df + 0.5) + 1)       [RSJ, +1 floor]
        w   = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    Same plan skeleton as search_ranked — tf rows pre-filtered to the
    query terms before anything joins, df/N price rarity globally —
    plus the two BM25 ingredients: per-doc length dl (doc-grain
    aggregate; the scored-rows⋈dl join is left to AQE, which
    broadcasts the query-terms side) and the 1-row (N, avgdl) stats
    broadcast. Scores rounded 6dp before the top-k order (doc_id
    tiebreak) so ranks agree across engines."""
    toks = _positions(spark, sf_dir).select("doc_id", "term")
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    norm = F.col("tf") * (BM25_K1 + 1) / (
        F.col("tf")
        + BM25_K1
        * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.filter(F.col("term").isin(*QUERY_RANKED))
        .join(df_, "term")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .withColumn("w", F.round(idf * norm, 6))
    )
    ranked = scored.groupBy("doc_id").agg(
        F.round(F.sum("w"), 6).alias("score"),
        F.count(F.lit(1)).alias("n_terms"),
    )
    return ranked.orderBy(F.desc("score"), F.asc("doc_id")).limit(
        RANKED_K
    )


# proximity window for text_search_near (positions within NEAR_K)
NEAR_TERMS = ("dup", "key")
NEAR_K = 3
# delta partition for incremental index maintenance
DELTA_MOD = 10  # doc_id % DELTA_MOD == 0 stands in for the new batch


def search_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity retrieval: docs where NEAR_TERMS co-occur within
    NEAR_K positions, with the qualifying pair count — the
    position-list generalization of phrase search (equi-join on
    doc_id, range residual on the position gap; never a corpus
    re-scan)."""
    pos = _positions(spark, sf_dir).filter(
        F.col("term").isin(*NEAR_TERMS)
    )
    a = (
        pos.filter(F.col("term") == NEAR_TERMS[0])
        .select("doc_id", F.col("pos").alias("pos_a"))
        .alias("a")
    )
    b = (
        pos.filter(F.col("term") == NEAR_TERMS[1])
        .select("doc_id", F.col("pos").alias("pos_b"))
        .alias("b")
    )
    matched = a.join(
        b,
        (F.col("a.doc_id") == F.col("b.doc_id"))
        & (
            F.abs(F.col("a.pos_a") - F.col("b.pos_b")) <= NEAR_K
        ),
    ).select(F.col("a.doc_id").alias("doc_id"))
    return matched.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_near")
    )


def _index_of(positions: DataFrame) -> DataFrame:
    """(term, df, cf, doc-id array) index over an arbitrary positional
    frame — array-typed postings so partial indexes stay mergeable."""
    td = positions.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    return td.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("c").alias("cf"),
        F.sort_array(F.collect_list("doc_id")).alias("docs"),
    )


def index_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance: index the DELTA batch (doc_id %
    DELTA_MOD == 0 stands in for newly ingested docs) separately, then
    merge it into the base index with one term-grain full-outer join —
    df/cf add, posting arrays concatenate (doc sets are disjoint by
    construction). Per-batch cost ∝ delta + |vocab|, never the base
    corpus — the dedup_incremental_* shape applied to retrieval.

    The correctness statement IS the oracle: the merged index must
    hash-equal a from-scratch rebuild over the whole corpus
    (text_index_postings' oracle, reused verbatim)."""
    pos = _positions(spark, sf_dir)
    is_delta = F.col("doc_id") % DELTA_MOD == 0
    base = _index_of(pos.filter(~is_delta)).alias("b")
    delta = _index_of(pos.filter(is_delta)).alias("d")
    merged = base.join(delta, "term", "full")
    empty = F.array().cast("array<bigint>")
    return merged.select(
        "term",
        (
            F.coalesce(F.col("b.df"), F.lit(0))
            + F.coalesce(F.col("d.df"), F.lit(0))
        ).alias("df"),
        (
            F.coalesce(F.col("b.cf"), F.lit(0))
            + F.coalesce(F.col("d.cf"), F.lit(0))
        ).alias("cf"),
        F.concat_ws(
            ",",
            F.sort_array(
                F.concat(
                    F.coalesce(F.col("b.docs"), empty),
                    F.coalesce(F.col("d.docs"), empty),
                )
            ),
        ).alias("doc_list"),
    )


# ----------------------------------------------------------------------
# hybrid retrieval: RRF fusion of the lexical and semantic rankers
# ----------------------------------------------------------------------

# Cormack/Clarke/Büttcher 2009 damping constant (same as q93's RRF_K)
HYBRID_RRF_K = 60
HYBRID_DEPTH = 20  # rank cutoff per list; absent from a list -> 0 term
HYBRID_TOPN = 15
HYBRID_QUERY_VEC = 0  # the semantic query: embeddings.vec_id == 0


def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: reciprocal-rank fusion of the LEXICAL ranking
    (text_search_ranked's TF-IDF over QUERY_RANKED) and the SEMANTIC
    ranking (sim_cosine_topk's exact cosine for query vector
    HYBRID_QUERY_VEC) into one doc ranking by
    score = Σ_lists 1/(HYBRID_RRF_K + rank), rank ≤ HYBRID_DEPTH —
    the fusion step q93_rrf_fusion's docstring names, applied to the
    actual retrieval stack: keyword recall and embedding recall are
    incomparable score scales, and RRF is THE calibration-free merge
    (Cormack et al. 2009).  doc_id and vec_id share the corpus id
    domain (TESTDATA: both 0..n-1), which is exactly how a production
    hybrid index is keyed.

    Exact cross-engine arithmetic by construction (q93's discipline):
    both input rankings order by 6dp-ROUNDED scores with id
    tie-breaks, each fused score is ≤2 correctly-rounded IEEE
    divisions, and fused scores are 6dp-rounded before the final
    order, so rank decisions agree engine-for-engine.  Ranks are cast
    DOUBLE on BOTH sides — the full-outer fusion nulls them, and
    pandas promotes nullable ints to float on the DuckDB side.

    Shape: the lexical side is search_ranked's plan (tf pre-filtered
    to query terms before any join; df/N price rarity globally); the
    semantic side is ONE corpus scan with row-local dot products
    (query row broadcast); each list is top-HYBRID_DEPTH via
    TakeOrderedAndProject, ranks come from global windows over the
    already-LIMITed ≤HYBRID_DEPTH-row frames (bounded constants —
    fleet-gate whitelisted), and the fusion is a full outer join of
    two ≤HYBRID_DEPTH-row frames.  At 100 TB only the two retrieval
    scans scale with data; the fusion cost is a constant."""
    from .similarity import _qc_cosine, _with_norm

    # -- lexical list: search_ranked's scoring frame, depth HYBRID_DEPTH
    lex = (
        _query_term_weights(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.round(F.sum("w"), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(HYBRID_DEPTH)
    )
    from pyspark.sql import Window

    lex_rank = lex.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), F.asc("doc_id")))
        .cast("double")
        .alias("r_lexical"),
    )

    # -- semantic list: exact cosine for the one query vector
    emb = read_table(spark, sf_dir, "embeddings", ["vec_id", "embedding"])
    q = _with_norm(emb.filter(F.col("vec_id") == HYBRID_QUERY_VEC), "q")
    c = _with_norm(emb, "c")
    sem = (
        F.broadcast(q)
        .join(c, F.col("q_id") != F.col("c_id"))
        .select(F.col("c_id").alias("doc_id"), _qc_cosine().alias("sim"))
        .orderBy(F.desc("sim"), F.asc("doc_id"))
        .limit(HYBRID_DEPTH)
    )
    sem_rank = sem.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("sim"), F.asc("doc_id")))
        .cast("double")
        .alias("r_semantic"),
    )

    # -- fusion of two ≤HYBRID_DEPTH-row frames
    fused = lex_rank.join(sem_rank, "doc_id", "full_outer")
    score = F.coalesce(
        F.lit(1.0) / (F.lit(HYBRID_RRF_K) + F.col("r_lexical")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(HYBRID_RRF_K) + F.col("r_semantic")), F.lit(0.0)
    )
    return (
        fused.select(
            "doc_id",
            "r_lexical",
            "r_semantic",
            F.round(score, 6).alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(HYBRID_TOPN)
    )
