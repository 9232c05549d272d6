"""Similarity search over the embeddings table (array<float>, 64-dim).

Every exact cosine of two raw vectors in the package is `cosine`
below, and every per-query top-k is `top_k`; the search paths differ
only in which (query, candidate) pairs reach them and what they score:

  brute force (cosine_topk) — exact; O(|Q|·n) dot products. The
      verification baseline and the right answer when |Q| is small
      (the query side broadcasts; the corpus streams through one scan,
      fully parallel, no shuffle of the corpus).
  LSH (lsh_topk, lsh_multiprobe_topk) — random-hyperplane sign
      buckets: the corpus is bucketed row-locally once, queries probe
      their own bucket (or, multiprobe, the buckets one bit away) and
      score only there. Sub-linear candidates at the cost of recall,
      which recall_eval measures.
  compressed (rp_topk, sq_topk, pq_adc_topk) — rank a projection,
      int8 codes or PQ codes instead of the raw vectors.

Dot products are built-in higher-order functions (zip_with + a
left-fold aggregate) — JVM-side, no Python. `sim_cosine_topk_pandas`
is kept as a registry alias of cosine_topk.

Cosine values: Spark folds left-to-right; DuckDB's list_dot_product may
sum in another order — results differ at ~1 ulp, so ranking uses
ROUNDED similarity (6 dp) with a neighbor-id tie-break, making the
top-k set identical in both engines (SURVEY §7.4 #7/#10). A zero
vector has no cosine: its score is NULL and ranks last, as in DuckDB,
whose division by zero also returns NULL.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import memo_artifact, read_table

N_QUERIES = 5
TOP_K = 10
N_PLANES = 8
_PLANE_SEED = 42


def _dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a, b, na, nb) -> Column:
    """The rounded cosine of vectors a and b whose norms are na and nb:
    _dot over the norm product, rounded to 6 dp. NULL when either norm
    is 0 (try_divide: ANSI division by zero would fail the job)."""
    return F.round(F.try_divide(_dot(a, b), na * nb), 6)


def top_k(scored: DataFrame, order: Column) -> DataFrame:
    """The TOP_K rows per query_id of `scored` by `order`, ties broken
    by the lower neighbor_id, numbered 1..TOP_K in `rank`."""
    w = Window.partitionBy("query_id").orderBy(order, F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= TOP_K
    )


def lit_matrix(rows) -> Column:
    """A constant list of vectors as ONE nested array literal instead
    of len(rows)×dim separate Literal/CreateArray nodes.  Catalyst
    planning cost scales with expression-tree size, and the wide form
    made PLAN CONSTRUCTION — re-paid on every registry call, which is
    exactly what a best-of-N bench sample or a fresh serving request
    pays — the dominant per-call cost of every literal-matrix query
    (PQ codebook, IVF centroids, LSH planes, RP matrix).  Measured at
    sf0.1: the compact form builds ~3× faster with bit-identical
    results; arithmetic order (the left fold in _dot) is untouched, so
    every DuckDB-oracle twin still reproduces exactly
    (OPTIMIZATION_r16.md, guide §7.2/§3.3 plan-size discipline).

    r17: built by ONE sqlParser round-trip (F.expr over a rendered
    array(array(…)) literal) instead of F.lit(nested list), which
    recurses into dim×k element-wise lit() py4j calls — measured
    2.2-2.9 s of pure DRIVER-side construction per call for the
    16×64 / 4×16×16 shapes, the dominant remaining per-call constant
    of the whole family after the r16 plan compaction (guide §7.3's
    driver-overhead class; OPTIMIZATION_r17.md change 1).  One parse
    costs ~8 ms.  Bit-exact: repr() emits the shortest round-trip
    decimal and Spark's double-literal parse (Double.parseDouble) is
    correctly rounded, so every element — denormals included —
    reproduces exactly (tested down to 5e-324); the parsed
    CreateArray tree constant-folds to the same nested Literal, so
    the physical plan keeps the r16 pinned zip_with/transform shape.
    Callers pass finite floats only (seeded matrices / trained
    centroids); inf/nan have no SQL literal spelling, so they are
    rejected up front with a ValueError naming the row and column.

    Public: queries_ext._centroid_sim_structs is a second consumer."""
    rows = [[float(v) for v in row] for row in rows]
    for i, row in enumerate(rows):
        for j, v in enumerate(row):
            if not math.isfinite(v):
                raise ValueError(
                    f"lit_matrix element [{i}][{j}] is {v!r}; only "
                    "finite values have a SQL literal spelling"
                )
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(f"{v!r}D" for v in row) + ")"
            for row in rows
        )
        + ")"
    )


def _with_norm(df: DataFrame, prefix: str) -> DataFrame:
    """Spread the single-row-group embeddings scan across cores before
    the per-row dot-product expressions (same single-file trap and fix
    as dedup._read_docs_parallel / _pq_unit_vectors); for the filtered
    query side the extra exchange moves N_QUERIES rows — noise."""
    e = F.col("embedding").cast("array<double>")
    return df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, "vec_id"
    ).select(
        F.col("vec_id").alias(f"{prefix}_id"),
        e.alias(f"{prefix}_e"),
        F.sqrt(_dot(e, e)).alias(f"{prefix}_norm"),
    )


def _qc_cosine() -> Column:
    """cosine between the q_ and c_ columns of two _with_norm frames."""
    return cosine(F.col("q_e"), F.col("c_e"), F.col("q_norm"), F.col("c_norm"))


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force: queries (vec_id < N_QUERIES) broadcast against
    the corpus; per-query top-k via rank window partitioned by query.

    Scale: the corpus side never shuffles — one scan, row-local dot
    products, then a per-query top-k (tiny). 100×ing the corpus scales
    linearly across executors."""
    emb = read_table(spark, sf_dir, "embeddings", ["vec_id", "embedding"])
    q = _with_norm(emb.filter(F.col("vec_id") < N_QUERIES), "q")
    c = _with_norm(emb, "c")
    scored = (
        F.broadcast(q)
        .join(c, F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            _qc_cosine().alias("sim"),
        )
    )
    return top_k(scored, F.desc("sim")).orderBy("query_id", "rank")


def _hyperplanes(dim: int = 64):
    """Deterministic pseudo-random hyperplanes (seeded numpy), baked into
    the plan as literals — every executor sees identical planes without
    a broadcast variable."""
    import numpy as np

    rng = np.random.default_rng(_PLANE_SEED)
    return rng.standard_normal((N_PLANES, dim))


def _bucket_expr(e: Column, planes) -> Column:
    # one nested literal for the planes + one int-weight literal; the
    # left fold reproduces the original bits[0] + bits[1] + … integer
    # sum exactly (same signs from the same _dot folds)
    weights = F.lit([1 << i for i in range(len(planes))])
    return F.aggregate(
        F.zip_with(
            lit_matrix(planes),
            weights,
            lambda p, w: F.when(_dot(e, p) >= 0, w).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane buckets: corpus bucketed row-locally,
    equi-join queries to their bucket, exact cosine within. Candidates
    drop ~2^N_PLANES-fold; recall is P(no bit differs | similar) —
    tune N_PLANES or use lsh_multiprobe_topk for the recall target.
    Approximate in RECALL but deterministic in OUTPUT (seeded planes,
    strict tie-breaks), so it carries a full DuckDB oracle
    (oracles/similarity.py); sim_recall_eval quantifies the recall."""
    emb = read_table(spark, sf_dir, "embeddings", ["vec_id", "embedding"])
    planes = _hyperplanes()
    q = _with_norm(emb.filter(F.col("vec_id") < N_QUERIES), "q").withColumn(
        "bucket", _bucket_expr(F.col("q_e"), planes)
    )
    c = _with_norm(emb, "c").withColumn(
        "bucket", _bucket_expr(F.col("c_e"), planes)
    )
    scored = (
        F.broadcast(q)
        .join(c, "bucket")
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            _qc_cosine().alias("sim"),
        )
    )
    return top_k(scored, F.desc("sim")).orderBy("query_id", "rank")


def lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DETERMINISTIC core of the LSH ANN path, exposed for the
    oracle gate: (vec_id, bucket) under the seeded hyperplanes. The
    top-k search is approximate by design (rows-only check + recall
    pytest), but bucket assignment is a pure function of the planes —
    DuckDB reproduces it bit-for-bit from the same plane literals, so
    this converts the LSH path's trust from 'pytest says recall>=x'
    to a driver-visible green hash row. Row-local, zero shuffle."""
    emb = read_table(spark, sf_dir, "embeddings", ["vec_id", "embedding"])
    planes = _hyperplanes()
    bound = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("ev")
    )
    return bound.select(
        "vec_id", _bucket_expr(F.col("ev"), planes).cast("int").alias("bucket")
    )  # no terminal sort: O(n) output, order-insensitive compare


def lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe LSH (Lv et al., VLDB'07): each query probes its own
    bucket PLUS the N_PLANES buckets at Hamming distance 1 (one sign
    bit flipped) — the standard recall lever that does NOT touch the
    index: near neighbors that landed just across one hyperplane are
    recovered at the cost of probing 9 buckets instead of 1, still
    ~2^N_PLANES/9-fold candidate pruning. The probe fan-out is on the
    QUERY side (N_QUERIES × (N_PLANES+1) rows — noise); the corpus
    keeps one bucket per vector, so index size is unchanged.

    Deterministic (seeded planes, strict tie-breaks) ⇒ fully
    oracle-backed, like sim_lsh_buckets/sim_recall_eval. A corpus doc
    cannot be double-counted: its single bucket matches at most one of
    a query's 9 distinct probe values."""
    emb = read_table(spark, sf_dir, "embeddings", ["vec_id", "embedding"])
    planes = _hyperplanes()
    q0 = _with_norm(emb.filter(F.col("vec_id") < N_QUERIES), "q").withColumn(
        "bucket0", _bucket_expr(F.col("q_e"), planes)
    )
    probes = F.array(
        F.col("bucket0"),
        *[
            F.col("bucket0").bitwiseXOR(F.lit(1 << i))
            for i in range(N_PLANES)
        ],
    )
    q = q0.withColumn("bucket", F.explode(probes))
    c = _with_norm(emb, "c").withColumn(
        "bucket", _bucket_expr(F.col("c_e"), planes)
    )
    scored = (
        F.broadcast(q)
        .join(c, "bucket")
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            _qc_cosine().alias("sim"),
        )
    )
    return top_k(scored, F.desc("sim")).orderBy("query_id", "rank")


def recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN evaluation AS AN ENGINE OPERATOR: per-query recall@k of the
    LSH path against exact brute-force cosine — the metric that
    decides N_PLANES / multiprobe settings before a corpus-wide
    rollout. Production ANN work runs this on a held-out slice after
    every index build; making it a first-class query means the number
    lands in the same regression harness as the operators it audits.

    Both sides are deterministic (seeded hyperplanes; strict
    sim-then-id tie-break), so unlike the approximate paths themselves
    this evaluation is FULLY oracle-backed: DuckDB recomputes exact
    top-k, the bucketed LSH top-k, and the same recall division.

    Scale: ONE scored frame serves both sides — queries broadcast
    against the corpus once (exact sims), the LSH ranking is the same
    frame filtered to bucket-equal rows (mirroring the oracle's shared
    `sims` CTE), so the evaluation costs one corpus pass, not two; the
    recall join itself is queries×k rows."""
    emb = read_table(spark, sf_dir, "embeddings", ["vec_id", "embedding"])
    planes = _hyperplanes()
    q = _with_norm(emb.filter(F.col("vec_id") < N_QUERIES), "q").withColumn(
        "q_bucket", _bucket_expr(F.col("q_e"), planes)
    )
    c = _with_norm(emb, "c").withColumn(
        "c_bucket", _bucket_expr(F.col("c_e"), planes)
    )
    sims = (
        F.broadcast(q)
        .join(c, F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            _qc_cosine().alias("sim"),
            (F.col("q_bucket") == F.col("c_bucket")).alias("same_bucket"),
        )
        .localCheckpoint()  # scored once, ranked twice below
    )
    ex = top_k(sims, F.desc("sim")).select("query_id", "neighbor_id")
    ap = top_k(sims.filter("same_bucket"), F.desc("sim")).select(
        "query_id", "neighbor_id"
    )
    hits = (
        ex.join(ap, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        ex.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (
                F.coalesce("n_hits", F.lit(0)).cast("double")
                / F.col("n_exact")
            ).alias("recall"),
        )
    )  # no terminal sort: |Q| rows, order-insensitive compare


def lang_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language embedding centroids in LONG form (lang, dim,
    centroid_val, n_vecs) — the domain-centroid computation behind
    embedding-space mixing and SemDeDup-style cluster seeding: join
    the embedding store to document metadata, elementwise-average per
    group. Long form both sidesteps array-typed result comparison and
    IS the storable layout (a centroid table keyed by (domain, dim)).

    Shape: broadcast-joinable doc-meta (vec_id → lang) onto the
    embedding scan, posexplode to (group, dim) grain, ONE grouped
    average with map-side partials — the shuffle carries
    |groups|×dim partial sums, never vectors. avg is rounded 6dp (the
    aggregate-rounding policy: summation order differs between
    engines)."""
    emb = read_table(spark, sf_dir, "embeddings", ["vec_id", "embedding"])
    docs = read_table(spark, sf_dir, "documents", ["doc_id", "lang"])
    e = F.col("embedding").cast("array<double>")
    return (
        emb.join(
            F.broadcast(docs.select(F.col("doc_id").alias("vec_id"), "lang")),
            "vec_id",
        )
        .select("lang", F.posexplode(e).alias("dim", "v"))
        .groupBy("lang", "dim")
        .agg(
            F.round(F.avg("v"), 6).alias("centroid_val"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
    )  # no terminal sort: |langs|×dim rows, order-insensitive compare


# Johnson-Lindenstrauss random projection: 64 -> RP_DIM via a seeded
# Gaussian matrix baked into the plan as literals (same discipline as
# the LSH hyperplanes). The JL lemma bounds pairwise-distance
# distortion, so top-k in the projected space tracks exact cosine at
# half the scoring cost — the cheap-but-unquantized cousin of the PQ
# path. 32 dims is the measured sweet spot on this corpus (recall@10
# 0.24 at 2x compression vs 0.08 at 4x — the synthetic near-uniform
# embeddings are the adversarial case for any distance-distorting
# method, same story as the PQ recall notes).
RP_DIM = 32
_RP_SEED = 20240817


def _rp_matrix(dim: int = 64):
    import numpy as np

    rng = np.random.default_rng(_RP_SEED)
    # 1/sqrt(RP_DIM) scaling preserves expected norms (JL convention)
    return rng.standard_normal((RP_DIM, dim)) / (RP_DIM ** 0.5)


def rp_project(emb: DataFrame) -> DataFrame:
    """(vec_id, p): the RP_DIM-dim JL projection of each embedding —
    the encode stage of the persisted disk index (ann_disk_index
    writes this frame once per corpus; rp_topk ranks it)."""
    mat = _rp_matrix()
    e = F.col("embedding").cast("array<double>")
    # transform over ONE nested matrix literal (RP_DIM×dim) — same
    # per-row folds in the same order, a fraction of the plan nodes
    proj = F.transform(lit_matrix(mat), lambda row: _dot(e, row))
    return emb.select("vec_id", proj.alias("p"))


def _rp_rank(p: DataFrame) -> DataFrame:
    """Exact cosine top-k over a projected frame (vec_id, p) — the
    serving-side half of the RP path."""
    q = _with_norm(
        p.filter(F.col("vec_id") < N_QUERIES).withColumnRenamed(
            "p", "embedding"
        ),
        "q",
    )
    c = _with_norm(p.withColumnRenamed("p", "embedding"), "c")
    scored = (
        F.broadcast(q)
        .join(c, F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            _qc_cosine().alias("rp_sim"),
        )
    )
    return top_k(scored, F.desc("rp_sim")).orderBy("query_id", "rank")


def rp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-projection sketching: every vector projected to
    RP_DIM dims with a shared seeded Gaussian matrix (rp_project — the
    matrix is plan literals, no broadcast variable), then exact cosine
    top-k IN THE PROJECTED SPACE. 2× fewer multiply-adds per candidate
    and a 2× smaller vector store; recall vs true cosine is the JL
    distortion price (floor-tested in pytest, structurally like the PQ
    path but with no codebook to train).

    Serving only: the projections are read from the persisted disk
    index (queries_ext.ann_disk_index), written once per corpus
    version, so the corpus is never re-encoded at query time; the
    first call of a corpus pays the index build. Projections
    round-trip parquet exactly (doubles), so the path stays fully
    oracle-backed: DuckDB reproduces the same projection literals,
    norms, and tie-breaks. Registered under sim_rp_topk_pretrained
    too."""
    from ..queries_ext import ann_disk_index

    _, _, proj = ann_disk_index(spark, sf_dir)
    return _rp_rank(proj)


def _sq_vectors(emb: DataFrame, prefix: str) -> DataFrame:
    """Normalize-then-quantize to int8 range: u = e/||e||, q[i] =
    clip(floor(u[i]*127 + 0.5), -127, 127). floor(x+0.5) is half-up in
    BOTH engines (unlike round(), whose half-way behavior differs), and
    the post-quantization values are small exact integers — the whole
    downstream ranking is integer arithmetic, immune to float drift.
    Repartition: same single-row-group spread as _with_norm."""
    e = F.col("embedding").cast("array<double>")
    emb = emb.repartition(
        emb.sparkSession.sparkContext.defaultParallelism, "vec_id"
    )
    bound = emb.select(
        F.col("vec_id").alias(f"{prefix}_id"),
        e.alias("e"),
        F.sqrt(_dot(e, e)).alias("norm"),
    )
    qv = F.transform(
        "e",
        lambda x: F.greatest(
            F.lit(-127),
            F.least(F.lit(127), F.floor(x / F.col("norm") * 127.0 + 0.5)),
        ).cast("int"),
    )
    return bound.select(f"{prefix}_id", qv.alias(f"{prefix}_qv"))


def _idot(a, b) -> Column:
    """Integer dot product (exact: |q|<=127, 64-dim => |dot| <= ~1.03M,
    well inside bigint and exactly representable in double, so DuckDB's
    list_dot_product agrees bit-for-bit after CAST)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via int8 scalar quantization: the production memory-bandwidth
    lever. A float64 corpus quantized to int8 is 8x smaller on the wire
    and in cache, and the scoring loop is integer multiply-add (SIMD-
    friendly on the JVM). Quantized dot of unit vectors approximates
    cosine*127^2; ranking by it is exact integer comparison — fully
    deterministic, so unlike the float paths this one needs no rounding
    policy at all. Recall vs exact cosine is bounded in pytest
    (tests/test_extras.py); at 64-dim int8 the approximation is tight.

    Scale: corpus quantization is row-local (one scan, no shuffle);
    queries broadcast; per-query top-k window over a corpus-sized but
    narrow (3 ints) candidate stream. Same linear scale-out as
    cosine_topk with ~8x less data moved. Reference parity: the
    reference has no ANN surface; this extends SURVEY 2.10's
    similarity-search mandate (exact twin: cosine_topk)."""
    emb = read_table(spark, sf_dir, "embeddings", ["vec_id", "embedding"])
    q = _sq_vectors(emb.filter(F.col("vec_id") < N_QUERIES), "q")
    c = _sq_vectors(emb, "c")
    scored = (
        F.broadcast(q)
        .join(c, F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            _idot(F.col("q_qv"), F.col("c_qv")).alias("qsim"),
        )
    )
    return top_k(scored, F.desc("qsim")).orderBy("query_id", "rank")


# ----------------------------------------------------------------------
# MMR diverse re-ranking: query-time maximal marginal relevance over
# the ANN candidate set — the serving-side diversity op (RAG context
# selection, dedup'd search results), distinct from the corpus-level
# sim_diverse_subset selection.
# ----------------------------------------------------------------------

MMR_LAMBDA = 0.7  # relevance weight
MMR_BETA = 0.3    # diversity weight — a LITERAL, not 1-lambda: the
#                   float 1-0.7 is 0.30000000000000004 and the oracle
#                   must multiply by the SAME double Spark/pandas use
MMR_CANDS = 24    # candidate pool (top-C by relevance)
MMR_K = 8         # re-ranked output size
MMR_QUERY = 0     # the query vector


def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR re-rank of the exact top-MMR_CANDS cosine candidates for
    one query: greedily pick argmax of
    MMR_LAMBDA·rel − MMR_BETA·max_{s∈selected} sim(c, s)
    (first pick = plain argmax rel; every tie breaks to the lower
    candidate id), emitting (rank, c_id, rel, mmr_score).

    Determinism across engines: rel and the pairwise sims are rounded
    to 6 dp BEFORE the greedy loop, and the loop's arithmetic uses
    the same literal doubles in all three implementations — so the
    Arrow-batch greedy here, the per-step unrolled-CTE DuckDB oracle
    (the BPE-oracle pattern: an iterative algorithm replayed as MMR_K
    chained CTEs, each picking one argmax), and a pytest reference
    agree exactly.

    Scale shape: the corpus pays ONE brute-force scoring scan (or an
    ANN probe in production — any candidate source works) compiled to
    TakeOrderedAndProject; everything after is candidate-pool-sized
    (C² pair sims via a broadcast self-join, then a single
    Arrow-batch greedy over ≤C² rows). The greedy is inherently
    sequential in k but k and C are serving-time constants."""
    emb = read_table(spark, sf_dir, "embeddings", ["vec_id", "embedding"])
    q = _with_norm(emb.filter(F.col("vec_id") == MMR_QUERY), "q")
    c = _with_norm(emb.filter(F.col("vec_id") != MMR_QUERY), "c")
    rel = _qc_cosine()
    cand = (
        F.broadcast(q)
        .join(c)
        .select(F.col("c_id"), rel.alias("rel"))
        .orderBy(F.desc("rel"), F.asc("c_id"))
        .limit(MMR_CANDS)
    )
    cv = c.join(F.broadcast(cand), "c_id")
    a = cv.select(
        F.col("c_id").alias("a_id"), F.col("rel").alias("a_rel"),
        F.col("c_e").alias("a_e"), F.col("c_norm").alias("a_norm"),
    )
    b = cv.select(
        F.col("c_id").alias("b_id"),
        F.col("c_e").alias("b_e"), F.col("c_norm").alias("b_norm"),
    )
    pair_sim = cosine(
        F.col("a_e"), F.col("b_e"), F.col("a_norm"), F.col("b_norm")
    )
    pairs = (
        a.join(F.broadcast(b), F.col("a_id") != F.col("b_id"))
        .select("a_id", "a_rel", "b_id", pair_sim.alias("s"))
    )

    def greedy(pdf):
        import pandas as pd

        rel_by = {}
        sim_by = {}
        for r in pdf.itertuples(index=False):
            rel_by[int(r.a_id)] = float(r.a_rel)
            sim_by[(int(r.a_id), int(r.b_id))] = float(r.s)
        remaining = sorted(rel_by)
        sel: list[int] = []
        rows = []
        for rank in range(1, MMR_K + 1):
            best = None
            for cid in remaining:
                r = rel_by[cid]
                score = (
                    r
                    if not sel
                    else MMR_LAMBDA * r
                    - MMR_BETA * max(sim_by[(cid, s)] for s in sel)
                )
                if best is None or score > best[0]:
                    best = (score, cid)
            score, cid = best
            rows.append((rank, cid, rel_by[cid], score))
            sel.append(cid)
            remaining.remove(cid)
        return pd.DataFrame(
            rows, columns=["rank", "c_id", "rel", "mmr_score"]
        )

    out = pairs.groupBy(F.lit(1).alias("g")).applyInPandas(
        greedy,
        schema="rank int, c_id long, rel double, mmr_score double",
    )
    return out.select(
        "rank", "c_id", "rel", F.round("mmr_score", 6).alias("mmr_score")
    ).orderBy("rank")


# ----------------------------------------------------------------------
# Product quantization (PQ): the classic billion-scale ANN memory path
# (IVF-PQ's second stage). 64-dim unit vector -> PQ_BLOCKS sub-vectors,
# each encoded as the index of its nearest sub-centroid -> 4 small ints
# per vector (16x smaller than float64). Queries score corpus CODES via
# a per-query lookup table (ADC), never touching raw corpus vectors.
# ----------------------------------------------------------------------

PQ_BLOCKS = 4
PQ_BLOCK_DIM = 16  # 64 / PQ_BLOCKS
PQ_CODES = 16  # codebook entries per block


def _pq_unit_vectors(emb: DataFrame) -> DataFrame:
    """(vec_id, u): L2-normalized float64 vectors. Normalizing first
    makes PQ's squared-euclidean ranking equivalent to cosine ranking
    (||a-b||^2 = 2 - 2cos for unit vectors) — same pre-step as sq_topk.
    `nrm` is bound as its own column so the 64 lambda references hit a
    cheap attribute, not 64 re-evaluated dot products.

    The explicit repartition spreads the single-row-group embeddings
    scan across all cores BEFORE the CPU-heavy normalize+encode
    expressions — without it the whole PQ pipeline runs as ONE task
    (same single-file trap, same fix, as dedup._read_docs_parallel)."""
    spark = emb.sparkSession
    e = F.col("embedding").cast("array<double>")
    bound = (
        emb.repartition(spark.sparkContext.defaultParallelism, "vec_id")
        .select("vec_id", e.alias("e"))
        .withColumn("nrm", F.sqrt(_dot(F.col("e"), F.col("e"))))
    )
    return bound.select(
        "vec_id",
        F.transform("e", lambda x: x / F.col("nrm")).alias("u"),
    )


def _pq_codebook(spark: SparkSession, sf_dir: str):
    """Sampled codebook: block-slices of the first PQ_CODES normalized
    corpus vectors (k-means init by sampling; `train_centroids` in
    queries_ext demonstrates the training loop itself). Collected
    driver-side — PQ_CODES x 64 doubles — and baked into the plan as
    literals: the production shape for a trained codebook (broadcast
    constants, fully row-local encode).

    cents[b][j] = 16-dim python float list for block b, code j.

    Built once per corpus version (io.memo_artifact): a serving
    system loads its codebook once, not per query — and in the bench
    harness the collect would otherwise re-run on every timed sample.
    The version (a digest of the file listing, local or through a URI)
    changes when the corpus parquet is regenerated in place (the
    harness does exactly that between rounds); a stale codebook would
    silently diverge from the DuckDB oracle, which always re-derives
    from the current file."""
    return memo_artifact(
        spark, sf_dir, "pq_codebook", ("embeddings",),
        lambda: _sample_pq_codebook(spark, sf_dir),
    )


def _sample_pq_codebook(spark: SparkSession, sf_dir: str) -> list:
    emb = read_table(spark, sf_dir, "embeddings", ["vec_id", "embedding"])
    rows = _pq_unit_vectors(emb.filter(F.col("vec_id") < PQ_CODES)).collect()
    by_id = {r.vec_id: list(r.u) for r in rows}
    missing = [j for j in range(PQ_CODES) if j not in by_id]
    if missing:
        raise ValueError(
            "PQ codebook sampling expects vec_ids 0.."
            f"{PQ_CODES - 1} to all be present in {sf_dir}/embeddings; "
            f"missing: {missing}. Re-sample the codebook (e.g. lowest "
            f"{PQ_CODES} available vec_ids) for this corpus."
        )
    return [
        [
            by_id[j][b * PQ_BLOCK_DIM:(b + 1) * PQ_BLOCK_DIM]
            for j in range(PQ_CODES)
        ]
        for b in range(PQ_BLOCKS)
    ]


def _pq_cnorm(cent: list) -> float:
    """||c||^2 as the same left-fold both engines use (((0+x0²)+x1²)+…)
    — a Python-computed literal is bit-identical to DuckDB's
    list_dot_product(c, c) and to an in-plan aggregate fold, without
    paying 64 interpreted folds PER ROW for a per-codebook constant."""
    acc = 0.0
    for v in cent:
        acc = acc + float(v) * float(v)
    return acc


def _pq_with_dls(unit: DataFrame, cents) -> DataFrame:
    """Bind each block's 16-distance array as its OWN column (dl_b).
    This projection is the whole PQ hot path: downstream argmin needs
    the array twice (array_position + array_min) and the ADC side
    reads it as the lookup table — inlining the expression would
    re-evaluate all 64 interpreted HOF dot products at every
    reference (measured 8.5s -> ~1s at sf0.1 from binding alone, the
    same CollapseProject discipline as shingle_sets).

    Per code j the ranking distance is ||c_j||² − 2⟨x_b, c_j⟩ (the
    ||x_b||² term is constant within a block, so it cancels in the
    argmin); ||c_j||² is the Python-computed _pq_cnorm literal and the
    data-dependent dot is the same in-plan left fold as before — the
    dl values are bit-identical to the old per-code expression and to
    DuckDB's list_dot_product, only the plan SHAPE changed: one
    zip_with over two literals per block instead of 16 separate
    CreateArray(16 lits) + fold trees (the lit_matrix plan-size
    discipline — PQ planning was ~2-3 s of every registry call)."""
    cols = []
    for b in range(PQ_BLOCKS):
        sl = F.slice("u", b * PQ_BLOCK_DIM + 1, PQ_BLOCK_DIM)
        # one parse per block, like lit_matrix: F.lit(list) recurses
        # into a py4j call per element (~0.15 s across the 4 blocks)
        cnorms = F.expr(
            "array("
            + ",".join(f"{float(_pq_cnorm(c))!r}D" for c in cents[b])
            + ")"
        )
        cb = lit_matrix(cents[b])
        cols.append(
            F.zip_with(
                cnorms, cb, lambda n, c: n - F.lit(2.0) * _dot(sl, c)
            ).alias(f"dl_{b}")
        )
    return unit.select("vec_id", *cols)


def _pq_code_cols() -> list[Column]:
    """argmin over a BOUND dl_b column; first-position-of-min breaks
    ties to the lowest code index in both engines."""
    return [
        (
            F.array_position(F.col(f"dl_{b}"), F.array_min(f"dl_{b}")) - 1
        )
        .cast("int")
        .alias(f"code_{b}")
        for b in range(PQ_BLOCKS)
    ]


def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encode: (vec_id, code_0..code_3). Fully row-local — literals
    only, zero shuffle (plan-pinned); at 100 TB this is a map-only pass
    that shrinks the ANN-servable corpus 16x. Deterministic given the
    codebook, hence fully oracle-backed (argmin ties break to the
    lowest code index in both engines via first-position-of-min)."""
    emb = read_table(spark, sf_dir, "embeddings", ["vec_id", "embedding"])
    cents = _pq_codebook(spark, sf_dir)
    return _pq_with_dls(_pq_unit_vectors(emb), cents).select(
        "vec_id", *_pq_code_cols()
    )  # no terminal sort: O(n) output, order-insensitive compare


def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search via ADC (asymmetric distance computation): each query
    precomputes a PQ_BLOCKS x PQ_CODES lookup table of block distances
    (here: LUT arrays on the broadcast query frame); corpus rows are
    scored by 4 array lookups summed in block order — no raw corpus
    vector is ever read at query time. adc_score orders identically to
    squared euclidean (the constant ||q||^2 is omitted), which on unit
    vectors orders identically to cosine DESC.

    Scale: corpus side carries 4 ints per row; queries broadcast; the
    only wide operation is the per-query top-k window — the exact
    shape of cosine_topk with 16x less data moved. Fully deterministic
    (codebook literals + exact float reproduction) => oracle-backed,
    unlike the LSH/IVF paths whose candidate sets are recall-bounded."""
    emb = read_table(spark, sf_dir, "embeddings", ["vec_id", "embedding"])
    cents = _pq_codebook(spark, sf_dir)
    dls = _pq_with_dls(_pq_unit_vectors(emb), cents)
    codes = dls.select("vec_id", *_pq_code_cols())
    # the LUT IS the distance array: dl_b[j] = block-b distance to code
    # j — exactly what ADC looks up (mirrors the oracle's shared
    # `dists` CTE)
    luts = dls.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        *[F.col(f"dl_{b}").alias(f"lut_{b}") for b in range(PQ_BLOCKS)],
    )
    score = F.element_at("lut_0", F.col("code_0") + 1)
    for b in range(1, PQ_BLOCKS):
        score = score + F.element_at(f"lut_{b}", F.col(f"code_{b}") + 1)
    scored = (
        F.broadcast(luts)
        .join(codes, F.col("q_id") != F.col("vec_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            score.alias("adc"),
        )
    )
    return (
        top_k(scored, F.asc("adc"))
        .select(
            "query_id",
            "neighbor_id",
            F.round("adc", 6).alias("adc_score"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )
