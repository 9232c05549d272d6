"""Similarity search over the embeddings table (array<float>, 64-dim).

Two paths, per the standard ANN playbook:

  brute-force cosine top-k — exact; O(|Q|·n) dot products. The
      verification baseline and the right answer when |Q| is small
      (the query side broadcasts; the corpus streams through one scan,
      fully parallel, no shuffle of the corpus).
  LSH-bucketed (random hyperplane / SimHash for vectors) — the scale
      path: corpus is bucketed by sign-pattern once (row-local), then
      queries probe only their bucket. Sub-linear candidates at the
      cost of recall; multiprobe (flipping low-margin bits) is the
      standard recall knob, noted but not enabled by default.

Dot products use built-in higher-order functions (zip_with + aggregate)
— JVM-side, no Python. A Pandas-UDF/numpy variant exists for
wide-vector workloads (matrix multiply beats per-row folds when dim is
large); benchmarked in bench.py, selectable via `impl=`.

Cosine values: Spark folds left-to-right; DuckDB's list_dot_product may
sum in another order — results differ at ~1 ulp, so ranking uses
ROUNDED similarity (6 dp) with a doc-id tie-break, making the top-k
set identical in both engines (SURVEY §7.4 #7/#10).
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import read_table

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

    Public per ADVICE r16 #4 (queries_ext._centroid_sim_structs is a
    second consumer); `_lit_mat` stays as a compatibility alias."""
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


_lit_mat = lit_matrix


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


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force: queries (vec_id < N_QUERIES) broadcast against
    the corpus; per-query top-k via rank window partitioned by query.

    Scale: the corpus side never shuffles — one scan, row-local dot
    products, then a per-query top-k (tiny). 100×ing the corpus scales
    linearly across executors."""
    emb = read_table(spark, sf_dir, "embeddings", ["vec_id", "embedding"])
    q = _with_norm(emb.filter(F.col("vec_id") < N_QUERIES), "q")
    c = _with_norm(emb, "c")
    sim = F.round(
        _dot(F.col("q_e"), F.col("c_e")) / (F.col("q_norm") * F.col("c_norm")), 6
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        F.broadcast(q)
        .join(c, F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            sim.alias("sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


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
            _lit_mat(planes),
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
    (_duck_lsh_topk_sql); sim_recall_eval quantifies the recall."""
    emb = read_table(spark, sf_dir, "embeddings", ["vec_id", "embedding"])
    planes = _hyperplanes()
    q = _with_norm(emb.filter(F.col("vec_id") < N_QUERIES), "q").withColumn(
        "bucket", _bucket_expr(F.col("q_e"), planes)
    )
    c = _with_norm(emb, "c").withColumn(
        "bucket", _bucket_expr(F.col("c_e"), planes)
    )
    sim = F.round(
        _dot(F.col("q_e"), F.col("c_e")) / (F.col("q_norm") * F.col("c_norm")), 6
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        F.broadcast(q)
        .join(c, "bucket")
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            sim.alias("sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


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
    sim = F.round(
        _dot(F.col("q_e"), F.col("c_e")) / (F.col("q_norm") * F.col("c_norm")), 6
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        F.broadcast(q)
        .join(c, "bucket")
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            sim.alias("sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
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
    sim = F.round(
        _dot(F.col("q_e"), F.col("c_e")) / (F.col("q_norm") * F.col("c_norm")),
        6,
    )
    sims = (
        F.broadcast(q)
        .join(c, F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            sim.alias("sim"),
            (F.col("q_bucket") == F.col("c_bucket")).alias("same_bucket"),
        )
        .localCheckpoint()  # scored once, ranked twice below
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    ex = (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id")
    )
    ap = (
        sims.filter("same_bucket")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id")
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


_DUCK_LANG_CENTROIDS_SQL = """
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
    the encode stage shared by rp_topk (inline) and the persisted disk
    index (ann_disk_index writes this frame once per corpus)."""
    mat = _rp_matrix()
    e = F.col("embedding").cast("array<double>")
    # transform over ONE nested matrix literal (RP_DIM×dim) — same
    # per-row folds in the same order, a fraction of the plan nodes
    proj = F.transform(_lit_mat(mat), lambda row: _dot(e, row))
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
    sim = F.round(
        _dot(F.col("q_e"), F.col("c_e")) / (F.col("q_norm") * F.col("c_norm")),
        6,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rp_sim"), F.asc("neighbor_id")
    )
    return (
        F.broadcast(q)
        .join(c, F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            sim.alias("rp_sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


def rp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-projection sketching: project every vector to
    RP_DIM dims with a shared seeded Gaussian matrix (row-local, the
    matrix is plan literals — no broadcast variable), then run exact
    cosine top-k IN THE PROJECTED SPACE. 2× fewer multiply-adds per
    candidate and a 2× smaller vector store; recall vs true cosine is
    the JL distortion price (floor-tested in pytest, structurally like
    the PQ path but with no codebook to train).

    Deterministic end-to-end ⇒ fully oracle-backed: DuckDB reproduces
    the same projection literals, norms, and tie-breaks.

    Bench-number note: this self-contained query RE-PROJECTS the
    corpus every run, and that encode dominates its bench line; a
    serving deployment persists projections once per corpus
    (ann_disk_index does; sim_rp_topk_pretrained serves from it) and
    pays only the RP_DIM-wide scoring."""
    emb = read_table(spark, sf_dir, "embeddings", ["vec_id", "embedding"])
    return _rp_rank(rp_project(emb))


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
    w = Window.partitionBy("query_id").orderBy(
        F.desc("qsim"), F.asc("neighbor_id")
    )
    return (
        F.broadcast(q)
        .join(c, F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            _idot(F.col("q_qv"), F.col("c_qv")).alias("qsim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


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

_DUCK_SQ_TOPK = f"""
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


def cosine_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """numpy/Arrow variant of brute-force cosine: per-partition matrix
    multiply via mapInPandas. Same output contract as cosine_topk;
    wins when dim or |Q| is large (BLAS beats per-row folds). The
    driver-side collect of the query block is |Q|×dim — tiny."""
    import numpy as np

    emb = read_table(spark, sf_dir, "embeddings", ["vec_id", "embedding"])
    qrows = emb.filter(F.col("vec_id") < N_QUERIES).collect()
    q_ids = np.array([r.vec_id for r in qrows])
    q_mat = np.array([r.embedding for r in qrows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)

    def part(batches):
        for pdf in batches:
            c_mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            norms = np.linalg.norm(c_mat, axis=1, keepdims=True)
            sims = (c_mat / norms) @ q_mat.T  # (n_corpus, n_q)
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, len(pdf)),
                    "neighbor_id": np.tile(pdf["vec_id"].values, len(q_ids)),
                    # UNROUNDED: np.round is round-half-even while the
                    # Spark/DuckDB twins round half-up-style; rounding
                    # happens once, in the Spark plan below, so all
                    # three paths share one implementation
                    "sim": sims.T.ravel(),
                }
            )
            yield out[out.query_id != out.neighbor_id]

    cand = emb.mapInPandas(
        part, schema="query_id long, neighbor_id long, sim double"
    ).withColumn("sim", F.round("sim", 6))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


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
    rel = F.round(
        _dot(F.col("q_e"), F.col("c_e"))
        / (F.col("q_norm") * F.col("c_norm")),
        6,
    )
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
    pair_sim = F.round(
        _dot(F.col("a_e"), F.col("b_e"))
        / (F.col("a_norm") * F.col("b_norm")),
        6,
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
    driver-side — PQ_CODES x 64 doubles, bounded like
    cosine_topk_pandas' query block — and baked into the plan as
    literals: the production shape for a trained codebook (broadcast
    constants, fully row-local encode).

    cents[b][j] = 16-dim python float list for block b, code j.

    Cached per (corpus dir, file mtime): a serving system loads its
    codebook once, not per query — and in the bench harness the
    collect would otherwise re-run on every timed sample. The mtime in
    the key invalidates the entry when the corpus parquet is
    regenerated in place (the harness does exactly that between
    rounds); a stale codebook would silently diverge from the DuckDB
    oracle, which always re-derives from the current file."""
    key = (sf_dir, _embeddings_mtime(sf_dir))
    if key in _PQ_CODEBOOK_CACHE:
        return _PQ_CODEBOOK_CACHE[key]
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
    cents = [
        [
            by_id[j][b * PQ_BLOCK_DIM:(b + 1) * PQ_BLOCK_DIM]
            for j in range(PQ_CODES)
        ]
        for b in range(PQ_BLOCKS)
    ]
    for k in [k for k in _PQ_CODEBOOK_CACHE if k[0] == sf_dir]:
        del _PQ_CODEBOOK_CACHE[k]  # evict the stale generation
    _PQ_CODEBOOK_CACHE[key] = cents
    return cents


def _embeddings_mtime(sf_dir: str) -> float:
    import os

    p = os.path.join(sf_dir, "embeddings.parquet")
    try:
        if os.path.isdir(p):  # multi-file table: newest part wins
            return max(
                (e.stat().st_mtime_ns for e in os.scandir(p)), default=0
            )
        return os.stat(p).st_mtime_ns
    except OSError:
        return 0


_PQ_CODEBOOK_CACHE: dict[tuple, list] = {}


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
    CreateArray(16 lits) + fold trees (the _lit_mat plan-size
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
        cb = _lit_mat(cents[b])
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
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc"), F.asc("neighbor_id")
    )
    return (
        F.broadcast(luts)
        .join(codes, F.col("q_id") != F.col("vec_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            score.alias("adc"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round("adc", 6).alias("adc_score"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


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


_DUCK_COSINE_BASE = f"""
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

ORACLE_SQL: dict[str, str] = {
    "sim_cosine_topk": _DUCK_COSINE_BASE,
    "sim_mmr_rerank": _duck_mmr_sql(),
    "sim_cosine_topk_pandas": _DUCK_COSINE_BASE,
    "sim_lsh_buckets": _duck_lsh_buckets_sql(),
    "sim_recall_eval": _duck_recall_eval_sql(),
    # deterministic candidate sets: the LSH top-k paths are fully
    # SQL-reproducible even though their RECALL is approximate
    "sim_lsh_topk": _duck_lsh_topk_sql(multiprobe=False),
    "sim_lsh_multiprobe_topk": _duck_lsh_topk_sql(multiprobe=True),
    "sim_lang_centroids": _DUCK_LANG_CENTROIDS_SQL,
    "sim_rp_topk": _duck_rp_topk_sql(),
    "sim_sq_topk": _DUCK_SQ_TOPK,
    "sim_pq_codes": _duck_pq_codes_sql(),
    "sim_pq_adc_topk": _duck_pq_adc_sql(),
}

QUERIES = {
    "sim_cosine_topk": cosine_topk,
    "sim_mmr_rerank": mmr_rerank,
    "sim_cosine_topk_pandas": cosine_topk_pandas,
    "sim_lsh_topk": lsh_topk,
    "sim_lsh_buckets": lsh_buckets,
    "sim_lsh_multiprobe_topk": lsh_multiprobe_topk,
    "sim_lang_centroids": lang_centroids,
    "sim_rp_topk": rp_topk,
    "sim_recall_eval": recall_eval,
    "sim_sq_topk": sq_topk,
    "sim_pq_codes": pq_codes,
    "sim_pq_adc_topk": pq_adc_topk,
}
