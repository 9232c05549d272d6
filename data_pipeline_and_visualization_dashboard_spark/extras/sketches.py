"""Deterministic frequency/cardinality sketches as DataFrame plans.

Count-min and HyperLogLog are THE streaming/100 TB answers to "how
often does each key occur" and "how many distinct keys" when exact
state would be key-cardinality-sized. Spark ships approx_count_distinct
(HLL++) as an opaque aggregate (q29, rows-only check); these operators
instead BUILD the sketches openly from the md5-derived h60 hash family
(extras.hashing) as ordinary groupBy plans — which makes them fully
DuckDB-oracle-backed: same hash inputs, same registers, same estimates
(modulo the aggregate-rounding policy), unlike typical sketch
implementations whose internal RNG/hashing is engine-private.

Scale shape (both sketches):
  * one key-grain pre-aggregation (the only fact-sized shuffle),
  * one sketch-grain aggregation over D×W (count-min) or M (HLL) cells
    — constant-size output regardless of corpus size,
  * estimation joins broadcast the constant-size sketch, never the
    data.

Merge property (why sketches work on clusters): both are max/sum over
cells, so per-partition partial sketches combine associatively —
Spark's partial aggregation does this automatically map-side.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import read_table
from .dedup import _SPARK_SHINGLES_FROM_TOKENS
from .hashing import minhash_term, spark_h60
from .text import spark_tokens

# count-min: D independent universal hashes (reusing the MinHash
# family's (a,b) parameters) into W buckets. eps ~ e/W, delta ~ e^-D.
CM_D = 4
CM_W = 256
CM_TOPK = 10

# HyperLogLog: M registers addressed by the low bits of h60; the
# remaining 52 bits feed the leading-zero rank.
HLL_M = 256  # 2^8 registers
# bias correction for m >= 128 (Flajolet et al. 2007, public formula)
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)

_SPARK_KEY = "CAST(user_id AS STRING)"


def _spark_base(expr: str) -> str:
    return f"({spark_h60(expr)} % 2147483647)"


# ----------------------------------------------------------------------
# count-min
# ----------------------------------------------------------------------

def cm_cell_rows(df: DataFrame,
                 carry: str | list | None = None) -> DataFrame:
    """Shared D-way (d, w) cell fan-out over a frame carrying a
    user_id column — the ONE definition of the count-min geometry
    for all three spellings that must stay bit-identical: the batch
    sketch BUILD, the streaming twin, and the topk-estimate READ
    path (code-review r12 ×2 — if build and read ever drift on the
    hash family or CM_W derivation, estimates read the wrong cells
    and the over-count invariant silently breaks). `carry` names
    optional column(s) to ride along (the batch twin's per-key
    count; the read path's user_id + true_cnt)."""
    if carry is None:
        carry = []
    elif isinstance(carry, str):
        carry = [carry]
    base = _spark_base(_SPARK_KEY)
    hashed = df.selectExpr(
        *carry,
        *[
            f"({minhash_term(j, base)} % {CM_W}) AS w_{j}"
            for j in range(CM_D)
        ],
    )
    stack_args = ", ".join(f"{j}, w_{j}" for j in range(CM_D))
    return hashed.selectExpr(
        f"stack({CM_D}, {stack_args}) AS (d, w)",
        *carry,
    )


def countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The D×W count-min table over event user_ids: cell (d, w) holds
    the total event count of all keys hashing to bucket w under hash
    d. Keys pre-aggregate FIRST (the only fact-sized shuffle); the D-way
    fan-out then runs over key-grain rows and the cell aggregation
    output is a constant 1024 rows at any corpus size."""
    ev = read_table(spark, sf_dir, "events", ["user_id"])
    keyed = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    return (
        cm_cell_rows(keyed, carry="c")
        .groupBy("d", "w")
        .agg(F.sum("c").alias("cnt"))
        .selectExpr("CAST(d AS INT) AS d", "CAST(w AS INT) AS w", "cnt")
    )  # no terminal sort: O(D*W) output, order-insensitive compare


def countmin_topk_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min read path: estimate = min over the D cells a key maps
    to (over-count only — collisions inflate, never deflate; the test
    pins est >= true). Output: top-CM_TOPK users by TRUE count with
    their sketch estimates, the standard sketch-accuracy readout. The
    1024-cell sketch broadcasts; the fact is touched once for true
    counts."""
    ev = read_table(spark, sf_dir, "events", ["user_id"])
    counts = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("true_cnt")
    )
    top = counts.orderBy(F.desc("true_cnt"), F.asc("user_id")).limit(
        CM_TOPK
    )
    sketch = countmin_sketch(spark, sf_dir)
    stacked = cm_cell_rows(top, carry=["user_id", "true_cnt"]).selectExpr(
        "user_id",
        "true_cnt",
        "CAST(d AS INT) AS d",
        "CAST(w AS INT) AS w",
    )
    return (
        stacked.join(F.broadcast(sketch), ["d", "w"])
        .groupBy("user_id", "true_cnt")
        .agg(F.min("cnt").alias("est_cnt"))
        .orderBy(F.desc("true_cnt"), F.asc("user_id"))
    )


# count-min inner-product join-cardinality estimation: the two event
# streams whose user-join size the operator prices (a real shuffle
# pre-flight: "how many (purchase, click) co-occurrence pairs will the
# user join produce" is exactly the number the join's shuffle/skew
# planning needs before paying for it)
CM_JOIN_A = "purchase"
CM_JOIN_B = "click"


def cm_join_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from count-min sketches (the
    inner-product estimator of Cormode & Muthukrishnan 2005, §4.2):
    |A ⋈_k B| = Σ_k fA(k)·fB(k), estimated by min over the D hash
    rows of Σ_w A_d[w]·B_d[w] — an OVER-estimate only (expanding the
    product adds collision cross-terms to the diagonal, never removes
    them; pinned est ≥ exact in tests/test_properties.py).  This is
    the pre-flight number every big join wants before paying its
    shuffle: two 1024-cell sketches — built independently per stream,
    mergeable across partitions/days — price the join's output size
    (and, per-cell, its heaviest buckets) without touching either
    side's full key set.

    Spark shape — ONE fact scan (fanout 1, pinned), everything after
    the first aggregation bounded by sketch geometry: the scan pivots
    to user grain carrying BOTH sides' counts (ca, cb) in one agg, the
    shared cm_cell_rows fan-out (the count-min geometry's single
    definition) stacks D rows per user, and the (d, w) cell agg keeps
    sa, sb AND the diagonal Σca·cb per cell — so the EXACT join size
    rides the same 1024-row frame as the estimate (every user lands
    once per hash row, so any d's Σp is the true Σca·cb; the 1-row
    readout takes min over d of both).  No join anywhere in the plan
    (the operator that prices joins plans none itself): 4 exchanges —
    user agg, cell agg, per-d agg, 1-row fold.  NULL user_ids are
    filtered first: SQL join semantics never match NULL keys, so they
    must not contribute pairs.  At 100 TB the production form keeps
    one 1024-cell table per stream per day and answers any pairwise
    join-size question by a 1024-row inner product — this operator
    fuses the two builds into one pass so the whole statistic stays
    DuckDB-oracle-checkable (integer cells, md5 family: bit-identical
    both engines; the one division is guarded and rounded 6dp).
    Integer-range note for the geometry: cells and products are
    BIGINT, and under ANSI mode an overflow FAILS the query rather
    than wrapping — the binding term is the per-d inner-product fold
    Σ_w sa·sb ≈ rows²/CM_W, in BIGINT range while per-side streams
    stay ≲ 5×10^10 rows under this CM_W=256 geometry; beyond that
    the production sizing move is a wider CM_W (smaller per-cell
    sums and a smaller rows²/CM_W fold), the same knob that tightens
    the estimate."""
    ev = read_table(spark, sf_dir, "events", ["user_id", "event_type"])
    keyed = (
        ev.filter(F.col("user_id").isNotNull())
        .filter(F.col("event_type").isin(CM_JOIN_A, CM_JOIN_B))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == CM_JOIN_A, 1).otherwise(0)
            ).alias("ca"),
            F.sum(
                F.when(F.col("event_type") == CM_JOIN_B, 1).otherwise(0)
            ).alias("cb"),
        )
    )
    cells = (
        cm_cell_rows(keyed, carry=["ca", "cb"])
        .groupBy("d", "w")
        .agg(
            F.sum("ca").alias("sa"),
            F.sum("cb").alias("sb"),
            F.sum(F.col("ca") * F.col("cb")).alias("p"),
        )
    )
    per_d = cells.groupBy("d").agg(
        F.sum(F.col("sa") * F.col("sb")).alias("ip"),
        F.sum("p").alias("exact_d"),
        F.sum("sa").alias("na"),
        F.sum("sb").alias("nb"),
    )
    # coalesce to 0 (review r13-2 #1): with NO qualifying arrivals the
    # per_d frame is empty and a bare global min would report an
    # all-NULL row — but "the join would produce 0 rows" is a real
    # answer, not missing data. rel_overcount alone stays NULL when
    # the true join is empty (an overcount ratio over 0 is undefined).
    exact = F.coalesce(F.min("exact_d"), F.lit(0))
    est = F.coalesce(F.min("ip"), F.lit(0))
    return per_d.agg(
        F.coalesce(F.min("na"), F.lit(0)).cast("bigint").alias("rows_a"),
        F.coalesce(F.min("nb"), F.lit(0)).cast("bigint").alias("rows_b"),
        exact.cast("bigint").alias("exact_join_rows"),
        est.cast("bigint").alias("est_join_rows"),
        F.when(
            exact > 0,
            F.round((est - exact).cast("double") / exact, 6),
        ).alias("rel_overcount"),
    )


# ----------------------------------------------------------------------
# HyperLogLog
# ----------------------------------------------------------------------

def _spark_rank() -> str:
    """Leading-zero rank of the 52 post-bucket bits: position of the
    first 1-bit from the left, = 53 - bit_length(rest); all-zero rest
    pins the max rank 53. bit_length via length(bin(x)) — identical
    string semantics in Spark and DuckDB for positive BIGINTs."""
    return (
        "CAST(CASE WHEN rest = 0 THEN 53"
        " ELSE 53 - length(bin(rest)) END AS INT)"
    )


def hll_register_rows(keys: DataFrame,
                      carry: str | list | None = None) -> DataFrame:
    """(bucket, rank) fan-out over a user_id frame — ONE definition of
    the HLL GEOMETRY (bucket split + leading-zero rank), shared by the
    batch sketch (hll_registers, over distinct keys) and the streaming
    monitor (streaming.hll_register_stream, over raw arrivals), so the
    register parity is structural (the cm_cell_rows / hist_bin_expr
    precedent). The stream may skip the distinct because rank is a
    PURE function of the key and max() absorbs duplicates:
    max_over_arrivals(rank) == max_over_distinct_keys(rank). `carry`
    names optional column(s) to ride along (the restart pin's
    champion-user search keeps user_id next to its cell)."""
    if carry is None:
        carry = []
    elif isinstance(carry, str):
        carry = [carry]
    h = spark_h60(_SPARK_KEY)
    bucketed = keys.selectExpr(
        *carry,
        f"CAST({h} % {HLL_M} AS INT) AS bucket",
        f"CAST({h} div {HLL_M} AS BIGINT) AS rest",
    )
    return bucketed.selectExpr(
        *carry, "bucket", f"{_spark_rank()} AS rank"
    )


def hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The M-register HLL state over distinct user_ids: register b
    holds the max leading-zero rank among keys bucketed to b. Shuffles:
    key-distinct (fact-sized, the unavoidable one) + the M-cell max —
    constant-size state, mergeable by max() across partitions/days,
    which is why HLL is the standard distributed distinct counter.
    Geometry lives in hll_register_rows (shared with the streaming
    twin)."""
    ev = read_table(spark, sf_dir, "events", ["user_id"])
    keys = ev.select("user_id").distinct()
    return hll_register_rows(keys).groupBy("bucket").agg(
        F.max("rank").alias("max_rank")
    )  # no terminal sort: O(M) output, order-insensitive compare


def hll_est(denom: Column, zeros: Column) -> Column:
    """The HLL estimate from a register fold: alpha*M^2 / denom, where
    denom = Σ2^-r over all M registers, with the small-range linear-
    counting correction M*ln(M/zeros) when that is <= 2.5M and empty
    registers remain. Unrounded."""
    raw = F.lit(HLL_ALPHA * HLL_M * HLL_M) / denom
    return F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (zeros > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / zeros),
    ).otherwise(raw)


def hll_est_from_registers(regs: DataFrame) -> DataFrame:
    """HLL readout over a (bucket, max_rank) register frame: spine out
    to the full 0..M-1 register set (empty registers count rank 0),
    fold Σ2^-r, apply the standard small-range linear-counting
    correction. Returns ONE row (hll_est, unrounded). Shared by the
    batch readout (hll_estimate, which joins the exact count next to
    it) and the streaming monitor's stateless epilogue
    (streaming.hll_estimate_from_cells) — so a live dashboard's
    estimate is definitionally the batch estimate."""
    spark = regs.sparkSession
    spine = spark.range(HLL_M).selectExpr("CAST(id AS INT) AS bucket")
    full = spine.join(F.broadcast(regs), "bucket", "left").select(
        "bucket", F.coalesce("max_rank", F.lit(0)).alias("r")
    )
    folded = full.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("r"))).alias("denom"),
        F.sum(F.when(F.col("r") == 0, 1).otherwise(0)).alias("zeros"),
    )
    return folded.select(
        hll_est(F.col("denom"), F.col("zeros")).alias("hll_est")
    )


def hll_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL readout next to ground truth: raw estimate
    alpha*m^2 / sum(2^-reg) with the standard small-range linear-
    counting correction (E <= 2.5m and empty registers present ->
    m*ln(m/zeros)). One result row: exact distinct count, estimate,
    relative error. Estimate rounded 4dp (register sum + ln are
    aggregate-derived; rounding policy). Readout math lives in
    hll_est_from_registers (shared with the streaming twin's
    epilogue)."""
    folded = hll_est_from_registers(hll_registers(spark, sf_dir))
    ev = read_table(spark, sf_dir, "events", ["user_id"])
    exact = ev.agg(F.countDistinct("user_id").alias("n_exact"))
    joined = exact.join(F.broadcast(folded))
    return joined.select(
        "n_exact",
        F.round("hll_est", 4).alias("hll_est"),
        F.round(
            F.abs(F.col("hll_est") - F.col("n_exact"))
            / F.col("n_exact"),
            4,
        ).alias("rel_err"),
    )


# ----------------------------------------------------------------------
# KMV (K-minimum-values / bottom-k)
# ----------------------------------------------------------------------

# KMV is the third classic cardinality sketch (Bar-Yossef et al. 2002):
# keep the K smallest hash values of the distinct keys; the k-th
# minimum U_(k), normalized to [0,1), estimates the cardinality as
# (K-1)/U_(k). Unlike HLL it supports SET INTERSECTION directly —
# KMV(A ∪ B) is the K smallest of the two sketches' union, and the
# fraction of that union sketch present in BOTH A and B is an unbiased
# Jaccard estimator — which is THE corpus-curation question ("how much
# does the new crawl overlap what we already have?") answered from two
# constant-size sketches instead of a corpus×corpus join
# (dedup_contamination is the exact counterpart of this estimate).
#
# Scale shape: one key-grain aggregation (the only fact-sized
# shuffle), then a bottom-K — which Spark executes as
# TakeOrderedAndProject: per-partition K-heaps merged on one reducer,
# K rows of driver-independent state. Everything downstream of the
# sketch is constant-size.

KMV_K = 64  # user-id cardinality sketch
KMV_OVL_K = 256  # shingle-overlap sketch (σ ≈ 1/√K ≈ 6%)
# h60 is uniform on [0, 2^60); (K-1) * 2^60 pre-folded in Python so
# both engines see one exact double literal (63 and 255 are ≤ 8 bits:
# the product is exactly representable)
_KMV_SPACE = float(2**60)


def _kmv_est_expr(k: int):
    """(k-1) * 2^60 / kth, exact when the sketch holds the whole set
    (n_sk < k ⇒ every distinct value is in the sketch)."""
    return F.when(
        F.col("n_sk") < k, F.col("n_sk").cast("double")
    ).otherwise(F.lit(float(k - 1) * _KMV_SPACE) / F.col("kth"))


def kmv_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-user estimate next to ground truth (one row:
    exact, estimate, relative error — the same readout contract as
    hll_estimate). The exact side exists only for the error column;
    a production pipeline would emit just the K-row sketch."""
    ev = read_table(spark, sf_dir, "events", ["user_id"])
    keys = ev.select("user_id").distinct()
    hashed = keys.selectExpr(f"{spark_h60(_SPARK_KEY)} AS h")
    sk = hashed.orderBy("h").limit(KMV_K)  # TakeOrderedAndProject
    folded = sk.agg(
        F.max("h").alias("kth"), F.count(F.lit(1)).alias("n_sk")
    )
    exact = ev.agg(F.countDistinct("user_id").alias("n_exact"))
    est = _kmv_est_expr(KMV_K)
    return exact.join(F.broadcast(folded)).select(
        "n_exact",
        F.round(est, 4).alias("kmv_est"),
        F.round(
            F.abs(est - F.col("n_exact")) / F.col("n_exact"), 4
        ).alias("rel_err"),
    )


def kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus overlap from KMV sketches: corpus A = short-named
    sources (src0-src9), corpus B = the rest; sets are their 3-word
    shingle sets (the same shingle definition the MinHash dedup path
    uses). One row: exact |A|, |B|, |A∩B| and Jaccard vs the KMV
    estimates.

    Estimator: a TRUE two-sketch deployment — the estimate is computed
    from the two per-corpus bottom-K sketches ONLY (constant state):
    the union sketch is the bottom-K of the merged ≤2K sketch rows,
    with in_a/in_b recording which SKETCH contributed the hash — never
    the full frame. That is exact membership, not an approximation:
    any h in bottom-K(A ∪ B) that belongs to A is among the K smallest
    of A (A ⊆ A∪B), hence inside sketch A. Over the union sketch,
    ρ = |{h : in_a ∧ in_b}| / K estimates J(A,B); ρ · Est(|A∪B|)
    estimates the intersection size.

    Sketch-build sharing (VERDICT r4 next #5, mechanism pinned r6):
    the first cut built each sketch from its own filter→distinct
    pipeline, which re-exploded and re-shuffled the shingle frame
    once PER SKETCH on top of the exact readout's hash-dedup — three
    shingle-grain shuffles total, and the 10×→30× ladder exponent hit
    0.831 (the fleet's worst). Both sketches are instead sliced from
    the ONE deduped hash frame `hs`: {h : in_a} IS corpus A's
    distinct hash set (in_a = any row of A produced h), so bottom-K
    of it is bit-identical to the own-rows-only build — same sketch
    content, same estimate. ReuseExchange alone does NOT collapse the
    three consumers (observed r6: the TakeOrderedAndProject branches
    canonicalize differently and the hash Exchange appeared 3×), so
    `hs` is localCheckpointed: the shingle explode + hash-grain
    shuffle runs ONCE and the two sketch slices plus the exact
    readout scan the checkpointed hash frame (~10 B/row —
    the cheapest frame in the query; spills if distinct-shingle count
    outgrows memory). A checkpoint is never shared between calls, so
    every call pays the one build. Honesty is
    unchanged: the estimator still reads only the ≤2K sketch rows; in
    a two-sided production deployment each corpus job ships its own
    K-row sketch built from its own scan, and `hs` exists here only
    because the exact ground-truth columns need it anyway.

    The exact columns aggregate the cross-corpus deduped shingle frame
    (ground truth for the rel-err readout, same two-pass contract as
    countmin_topk_est); production emits only the two K-row
    sketches."""
    docs = read_table(
        spark, sf_dir, "documents", ["source", "text"]
    ).filter(F.col("text").isNotNull())
    # spread the single-row-group scan before the shingle explode
    # (same rationale as dedup._read_docs_parallel)
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    toks = docs.selectExpr(
        "length(source) <= 4 AS grp_a", f"{spark_tokens()} AS tokens"
    )
    sh = toks.selectExpr(
        "grp_a",
        f"explode_outer({_SPARK_SHINGLES_FROM_TOKENS}) AS shingle",
    )
    hs = (
        sh.selectExpr(f"{spark_h60('shingle')} AS h", "grp_a")
        .groupBy("h")
        .agg(
            F.max("grp_a").alias("in_a"),
            F.max(~F.col("grp_a")).alias("in_b"),
        )
        .localCheckpoint()  # one shingle-grain shuffle for all 3 consumers
    )
    # the two per-corpus bottom-K sketches — the ONLY state a
    # two-sided deployment ships. Sliced from the shared deduped hash
    # frame (bit-identical to the own-rows-only build, see docstring);
    # the post-agg membership filter + TakeOrderedAndProject cost K
    # rows, and all three hs consumers reuse one shuffle.

    def corpus_sketch(flag: str) -> DataFrame:
        return (
            hs.filter(F.col(flag))
            .select("h")
            .orderBy("h")
            .limit(KMV_OVL_K)
        )

    sk_a = corpus_sketch("in_a")
    sk_b = corpus_sketch("in_b")
    sk = (
        sk_a.select(
            "h",
            F.lit(True).alias("in_a"),
            F.lit(False).alias("in_b"),
        )
        .unionByName(
            sk_b.select(
                "h",
                F.lit(False).alias("in_a"),
                F.lit(True).alias("in_b"),
            )
        )
        .groupBy("h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
        .orderBy("h")
        .limit(KMV_OVL_K)
    )
    folded = sk.agg(
        F.max("h").alias("kth"),
        F.count(F.lit(1)).alias("n_sk"),
        F.sum((F.col("in_a") & F.col("in_b")).cast("bigint")).alias(
            "n_both"
        ),
    )
    exact = hs.agg(
        F.sum(F.col("in_a").cast("bigint")).alias("n_a"),
        F.sum(F.col("in_b").cast("bigint")).alias("n_b"),
        F.sum((F.col("in_a") & F.col("in_b")).cast("bigint")).alias(
            "n_inter"
        ),
        F.count(F.lit(1)).alias("n_union"),
    )
    j = exact.join(F.broadcast(folded))
    k_eff = F.least(F.lit(KMV_OVL_K), F.col("n_sk"))
    jacc_est = F.col("n_both") / k_eff
    union_est = _kmv_est_expr(KMV_OVL_K)
    return j.select(
        "n_a",
        "n_b",
        "n_inter",
        F.round(F.col("n_inter") / F.col("n_union"), 4).alias(
            "jacc_exact"
        ),
        F.round(jacc_est, 4).alias("jacc_est"),
        F.round(jacc_est * union_est, 1).alias("inter_est"),
    )


# ----------------------------------------------------------------------
# histogram quantile sketch
# ----------------------------------------------------------------------

# The mergeable-quantile story (the t-digest/KLL role, in open form):
# a fixed-bin equi-width histogram is a decomposable aggregate — bin
# counts add across partitions, days, and corpora — so quantiles over
# any slice combination come from merging constant-size states instead
# of re-scanning values. Exactness trade: error ≤ one bin width.
HIST_BINS = 128
HIST_QS = (0.5, 0.95)


def hist_bin_expr(lo: str, hi: str, value: str = "value") -> str:
    """ONE definition of the equi-width bin assignment — the
    histogram's GEOMETRY — shared by the batch sketch (hist_cells:
    lo/hi are the data-derived global-range columns riding a
    broadcast) and the streaming monitor (streaming.hist_cell_stream:
    lo/hi are a FIXED configured domain), so batch/stream cell parity
    is structural, not a hand-synced spelling (the cm_cell_rows
    precedent, VERDICT r12 #5). Clamps BOTH edges: values below lo
    land in bin 0, values at/above hi in bin HIST_BINS-1 — a no-op
    for the batch caller (lo/hi ARE min/max, so greatest(0, ·) never
    fires) and the standard fixed-domain monitor behavior for the
    stream (out-of-domain arrivals count at the edges, never drop)."""
    return (
        f"CAST(greatest(0, least(floor(({value} - ({lo}))"
        f" * {HIST_BINS} / (({hi}) - ({lo}))),"
        f" {HIST_BINS - 1})) AS INT)"
    )


def hist_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch histogram CELL table — (event_type, bin, cnt, lo,
    hi), ≤ types×HIST_BINS rows — extracted from hist_quantiles so
    the streaming twin's parity test compares cell-for-cell against
    the very frame the batch readout consumes (tests/
    test_streaming.py), and so the two share hist_bin_expr."""
    ev = read_table(spark, sf_dir, "events", ["event_type", "value"])
    ev = ev.filter(F.col("value").isNotNull())
    rng = ev.agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    binned = ev.join(F.broadcast(rng)).selectExpr(
        "event_type",
        f"{hist_bin_expr('lo', 'hi')} AS bin",
        "lo",
        "hi",
    )
    return binned.groupBy("event_type", "bin", "lo", "hi").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def hist_quantile_rows(hist: DataFrame, qs: tuple = HIST_QS) -> DataFrame:
    """Quantile READOUT over a (event_type, bin, cnt, lo, hi) cell
    frame: cumulative counts via a window over the tiny cell table,
    then linear interpolation inside the unique crossing bin. Shared
    by the batch sketch (hist_quantiles) and the streaming monitor's
    stateless epilogue (streaming.hist_quantiles_from_cells) — the
    readout is O(cells) and keyed by event_type, so the window
    partitions on the type key (never global)."""
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("bin")
    wt = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "bin",
        "cnt",
        "lo",
        "hi",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wt).alias("total"),
    )
    spark = hist.sparkSession
    qdf = spark.createDataFrame([(q,) for q in qs], "q double")
    crossed = (
        cum.join(F.broadcast(qdf))
        .withColumn("target", F.col("q") * F.col("total"))
        .filter(
            (F.col("cum") >= F.col("target"))
            & (F.col("cum") - F.col("cnt") < F.col("target"))
        )
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(float(HIST_BINS))
    frac = (F.col("target") - (F.col("cum") - F.col("cnt"))) / F.col(
        "cnt"
    )
    est = F.col("lo") + width * (F.col("bin") + frac)
    return crossed.select(
        "event_type", "q", F.round(est, 4).alias("est")
    )


def hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type, P50/P95 estimated from a shared 128-bin
    equi-width histogram, next to the exact interpolated percentile
    and the absolute error — the sketch-vs-truth readout contract of
    hll_estimate/kmv_estimate, at GROUP grain.

    Shape: one (type, bin) aggregation over the fact (the only
    fact-sized shuffle; output ≤ types×128 rows), cumulative counts
    via a window over that tiny frame, and the quantile row is the
    unique bin where the cumulative count crosses q·N (linear
    interpolation inside the bin). The global [min,max] frame and the
    2-row quantile list ride broadcasts. The exact side re-aggregates
    the fact once for ground truth (readout-only, same two-pass
    contract as countmin_topk_est). The cell build (hist_cells,
    sharing hist_bin_expr's geometry with the 18th streaming family)
    and the interpolation readout (hist_quantile_rows, shared with
    the stream's stateless epilogue) are the extracted pieces."""
    ev = read_table(spark, sf_dir, "events", ["event_type", "value"])
    ev = ev.filter(F.col("value").isNotNull())
    sketch_side = hist_quantile_rows(hist_cells(spark, sf_dir))
    # percentile() needs a foldable percentage: one aggregate per
    # quantile literal, stack-unpivoted back to (type, q) grain
    wide = ev.groupBy("event_type").agg(
        *[
            F.expr(f"percentile(value, {q!r})").alias(f"ex_{i}")
            for i, q in enumerate(HIST_QS)
        ]
    )
    stack_args = ", ".join(
        f"CAST({q!r} AS DOUBLE), ex_{i}" for i, q in enumerate(HIST_QS)
    )
    exact = wide.selectExpr(
        "event_type",
        f"stack({len(HIST_QS)}, {stack_args}) AS (q, ex)",
    ).select("event_type", "q", F.round("ex", 4).alias("exact"))
    return sketch_side.join(exact, ["event_type", "q"]).select(
        "event_type",
        "q",
        "est",
        "exact",
        F.round(F.abs(F.col("est") - F.col("exact")), 4).alias(
            "abs_err"
        ),
    )


# ----------------------------------------------------------------------
# Bloom filter (runtime join-filter pattern)
# ----------------------------------------------------------------------

# The fourth classic sketch, and the one modern engines inject into
# JOINS: build an M-bit / K-hash Bloom filter over the small side's
# join keys, broadcast it, and pre-filter the big side's scan so only
# probable matches pay the shuffle (Spark's own
# spark.sql.optimizer.runtime.bloomFilter.* does exactly this; the
# engine-owned version here makes the mechanics testable and the
# false-positive accounting explicit). Scenario: customers in one
# market segment (the selective dim predicate) filter the orders fact
# — the canonical "filter the fact by a dim predicate WITHOUT joining
# the whole fact" case.
#
# Scale shape: the filter is a constant-size bit set (<= BLOOM_M rows
# as (bit) rows, mergeable by UNION/DISTINCT across partitions or
# streaming batches — OR-decomposable like every Bloom filter). The
# build side aggregates to key grain first; the probe side computes
# its K positions row-locally and semi-joins the broadcast bit set.

BLOOM_K = 4      # hash functions
BLOOM_BPK = 10   # bits per build key: fp ~ (1 - e^(-K/BPK))^K ~ 1.2%
BLOOM_MIN_M = 64
BLOOM_SEGMENT = "BUILDING"  # the selective dim predicate


def _bloom_positions(key_expr: str, base_fn) -> list[str]:
    """K bit positions; `mb` (the filter width) is a COLUMN joined in
    from the 1-row sizing frame, not a literal — a fixed M saturates
    as the build set grows (measured: 4096 bits at sf0.1 -> 80% fp);
    m = BPK * n is the standard dimensioning and holds the fp rate
    flat at every scale."""
    base = base_fn(key_expr)
    return [
        f"CAST({minhash_term(j, base)} % mb AS INT)"
        for j in range(BLOOM_K)
    ]


def _bloom_width(members: DataFrame) -> DataFrame:
    return members.agg(
        F.greatest(
            F.lit(BLOOM_MIN_M),
            F.count(F.lit(1)) * BLOOM_BPK,
        ).alias("mb")
    )


def _bloom_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONE distinct build-key frame every Bloom stage derives from
    (width sizing, bit set, exact membership) — one shared subplan, so
    ReuseExchange dedupes the dim scan+distinct at runtime instead of
    paying it per consumer."""
    return (
        read_table(spark, sf_dir, "customer",
                   ["c_custkey", "c_mktsegment"])
        .filter(F.col("c_mktsegment") == BLOOM_SEGMENT)
        .select("c_custkey")
        .distinct()
    )


def bloom_bit_rows(keyed: DataFrame, key_expr: str,
                   keep: tuple = ()) -> DataFrame:
    """The BLOOM_K bit-position rows for every input row, under the
    width carried by the frame's `mb` column — ONE definition of the
    Bloom geometry (hash family, K, modulus) shared by the batch
    filter build (_bloom_bits_from), the batch probe fan-out
    (bloom_prefilter), the fixed-width counting cells
    (bloom_counting_cells), and the streaming bit monitor
    (streaming.bloom_cell_stream), so their parity is structural,
    not a hand-synced spelling.  `keep` names pass-through columns
    (e.g. the probe key) to carry alongside the stacked bits."""
    pos = _bloom_positions(key_expr, _spark_base)
    stack_args = ", ".join(pos)
    return keyed.selectExpr(
        *keep, f"stack({BLOOM_K}, {stack_args}) AS bit"
    )


def _bloom_bits_from(members: DataFrame) -> DataFrame:
    return bloom_bit_rows(
        members.join(F.broadcast(_bloom_width(members))),
        "CAST(c_custkey AS STRING)",
    ).distinct()


def bloom_counting_cells(keys: DataFrame, mb: int) -> DataFrame:
    """Batch counting-Bloom cell table under a FIXED width: one row
    per arrival in `keys` (column `k`), pre-aggregated to key grain
    (the only fact-sized shuffle carries key grain, the countmin_sketch
    shape), then the K-bit fan-out via bloom_bit_rows and a bit-grain
    sum.  cell(bit) = Σ_keys→bit count(key) = Σ_arrivals→bit 1, so the
    streaming twin (which stacks every arrival and counts — no
    key-grain frame at all) lands the IDENTICAL table cell-for-cell:
    integer counts, no float discipline.  Presence (classic Bloom) is
    cnt > 0; keeping counts instead of bits is the counting-Bloom
    form, whose cells stay additive across partitions, days, and
    micro-batches.  The fixed width is the streaming monitor's
    geometry contract — the batch build's dynamic BPK sizing
    (_bloom_width) cannot move once counts exist under a modulus."""
    if int(mb) < 1:
        raise ValueError(f"bloom width must be >= 1, got {mb}")
    pre = keys.groupBy("k").agg(F.count(F.lit(1)).alias("cnt"))
    rows = bloom_bit_rows(
        pre.withColumn("mb", F.lit(int(mb))),
        "CAST(k AS STRING)",
        keep=("cnt",),
    )
    return rows.groupBy("bit").agg(F.sum("cnt").alias("cnt"))


def bloom_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build side: the distinct set bit positions of the Bloom filter
    over BLOOM_SEGMENT customers' keys, with the width sized from the
    build cardinality (BLOOM_BPK bits/key — constant ~1.2% fp at any
    scale). Key-distinct first (dim-sized shuffle), the 1-row width
    broadcasts on, K row-local hash positions, then a bounded
    distinct — the output is <= m rows (m/key-count fixed) and merges
    with any other filter of the same width by UNION DISTINCT."""
    return _bloom_bits_from(_bloom_members(spark, sf_dir))
    # no terminal sort: <= m rows, order-insensitive compare


def bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe side + accounting: every distinct orders custkey probes
    the broadcast bit set; a key PASSES iff all BLOOM_K of its bits
    are set (count of matched bits == K). One result row compares the
    Bloom verdict against exact membership: pass count, true-member
    count, false positives, the false-positive rate among
    non-members, and the fraction of probe keys the filter would
    prune from the shuffle. No false NEGATIVES is the Bloom
    guarantee — pinned by n_missed = 0 in the output (and asserted in
    tests/test_extras.py)."""
    orders = read_table(spark, sf_dir, "orders", ["o_custkey"])
    probe = orders.select("o_custkey").distinct()
    members_frame = _bloom_members(spark, sf_dir)
    width = _bloom_width(members_frame)
    stacked = bloom_bit_rows(
        probe.join(F.broadcast(width)),
        "CAST(o_custkey AS STRING)",
        keep=("o_custkey",),
    )
    bits = _bloom_bits_from(members_frame)
    hits = (
        stacked.join(F.broadcast(bits), "bit")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .filter(F.col("n_hit") == BLOOM_K)
        .select("o_custkey")
    )
    members = members_frame.select(
        F.col("c_custkey").alias("o_custkey")
    )
    flagged = (
        probe.join(
            hits.withColumn("bloom_pass", F.lit(1)), "o_custkey", "left"
        )
        .join(
            members.withColumn("is_member", F.lit(1)), "o_custkey", "left"
        )
        .select(
            F.coalesce("bloom_pass", F.lit(0)).alias("p"),
            F.coalesce("is_member", F.lit(0)).alias("m"),
        )
    )
    return flagged.agg(
        F.count(F.lit(1)).alias("n_probe"),
        F.sum("m").alias("n_members"),
        F.sum("p").alias("n_pass"),
        F.sum(F.when((F.col("p") == 1) & (F.col("m") == 0), 1).otherwise(0))
        .alias("n_false_pos"),
        F.sum(F.when((F.col("p") == 0) & (F.col("m") == 1), 1).otherwise(0))
        .alias("n_missed"),
        F.round(
            F.sum(
                F.when((F.col("p") == 1) & (F.col("m") == 0), 1).otherwise(0)
            ).cast("double")
            / F.greatest(
                F.sum(F.when(F.col("m") == 0, 1).otherwise(0)), F.lit(1)
            ),
            6,
        ).alias("fp_rate"),
        F.round(
            1.0
            - F.sum("p").cast("double") / F.count(F.lit(1)),
            6,
        ).alias("pruned_frac"),
    )


# ----------------------------------------------------------------------
# AMS F2 (tug-of-war) second-moment sketch
# ----------------------------------------------------------------------

# AMS (Alon-Matias-Szegedy 1996, public): F2 = Σ f(x)² — the self-join
# size / repeat-rate moment behind join-size estimation and skew
# screens (q62 measures the heavy hitters; F2 summarizes the whole
# distribution in one number). Each estimator keeps ONE integer
# S_r = Σ f(x)·s_r(x) with s_r(x) ∈ {−1,+1}; E[S²] = F2. AMS_R
# estimators are combined by their median. Signs come from the
# md5-derived h60 family (mod-2 of a universal hash — the standard
# construction; md5 stands in for 4-wise independence, noted here),
# so the whole sketch is DuckDB-reproducible bit-for-bit: S_r is
# exact BIGINT arithmetic in both engines, S_r² is taken in DOUBLE
# (exact below 2^53, and merely rounded — never wrapped — above it;
# a BIGINT square would silently wrap in non-ANSI Spark once
# |S_r| > ~3·10⁹, i.e. N ≈ billions of events, while DuckDB raises —
# the engines would diverge exactly at the 100 TB scale this targets;
# ADVICE r9 #3), and the median of an even count is spelled as the
# explicit mean of the two middle elements rather than an engine
# median() whose interpolation could differ.  The double median's
# relative rounding error (≤2⁻⁵²) is noise against the estimator's
# own ~1/√R statistical error.
AMS_R = 16
_ams_rng = random.Random(1337)
AMS_A = [_ams_rng.randrange(1, 2147483647) for _ in range(AMS_R)]
AMS_B = [_ams_rng.randrange(0, 2147483647) for _ in range(AMS_R)]
_AMS_P = 4_294_967_311  # P_HASH (extras.hashing)


def _ams_sign(r: int, base: str) -> str:
    """Engine-neutral ±1 sign: 1 − 2·((a·h + b) mod P mod 2)."""
    return f"(1 - 2 * ((({AMS_A[r]} * {base} + {AMS_B[r]}) % {_AMS_P}) % 2))"


def ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS F2 readout next to ground truth (one row: key count, exact
    F2, median-of-16 estimate, relative error — the hll_estimate/
    kmv_estimate readout contract).

    Scale shape: ONE key-grain aggregation (the only fact-sized
    shuffle — the same frequency frame a production pipeline already
    has); the 16 signed sums fold in ONE global aggregation whose
    state is 16 longs (partial sums combine map-side — the sketch's
    mergeability is literally Spark's partial aggregation). In a
    stream, S_r is updatable per-arrival without the frequency frame:
    state is 16 longs total, independent of key cardinality — that
    twin is SHIPPED as streaming.ams_f2_stream (a plain streaming
    global aggregation; bit-for-bit S_r parity and the one-state-row
    pin are in tests/test_streaming.py). The exact-F2 column exists
    only for the error readout."""
    ev = read_table(spark, sf_dir, "events", ["user_id"])
    f = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("f"))
    base = _spark_base(_SPARK_KEY)
    signed = f.selectExpr(
        "f", *[f"{_ams_sign(r, base)} AS s_{r}" for r in range(AMS_R)]
    )
    sums = signed.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.expr("f * f")).alias("f2_exact"),
        *[F.sum(F.expr(f"f * s_{r}")).alias(f"S_{r}") for r in range(AMS_R)],
    )
    # square in DOUBLE: |S_r| can approach N, so a BIGINT square wraps
    # silently (non-ANSI Spark) once N > ~3e9 while DuckDB raises —
    # double never wraps and is exact below 2^53 (ADVICE r9 #3)
    sq = F.array_sort(
        F.array(*[
            (F.col(f"S_{r}").cast("double") * F.col(f"S_{r}").cast("double"))
            for r in range(AMS_R)
        ])
    )
    mid = AMS_R // 2
    est = (
        F.element_at(sq, mid) + F.element_at(sq, mid + 1)
    ).cast("double") / F.lit(2.0)
    return sums.select(
        "n_keys",
        "f2_exact",
        est.alias("ams_est"),
        F.round(
            F.abs(est - F.col("f2_exact")) / F.col("f2_exact"), 4
        ).alias("rel_err"),
    )


# ----------------------------------------------------------------------
# weighted AMS → streaming-estimable HHI
# ----------------------------------------------------------------------
# The AMS construction generalizes verbatim to WEIGHTED frequency
# vectors (Alon-Matias-Szegedy 1996 §2 — f(x) is any additive weight):
# with spend(c) = Σ order amounts of customer c,
#   S_r = Σ_c spend(c)·s_r(c)  and  E[S_r²] = Σ_c spend(c)² ,
# the numerator of the Herfindahl-Hirschman index
#   HHI = Σ spend² / (Σ spend)² .
# Because S_r is per-ARRIVAL updatable (each order adds
# sign(cust)·amount) and the denominator is a plain global sum, the
# whole market-concentration monitor is TWO streaming global sums —
# one state row, no per-customer state — the streaming twin is
# streaming.hhi_ams_stream.  Amounts are cast DECIMAL(18,2) (every
# o_totalprice is an exact 2dp value) so the signed sums are EXACT
# integers-in-decimal in both engines and the batch/stream/oracle
# parity is bit-for-bit regardless of addition order; only the final
# ratio readouts are double.

_AMS_HHI_SPARK_KEY = "CAST(o_custkey AS STRING)"


def ams_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global customer-concentration (HHI) readout next to its
    weighted-AMS estimate (one row: customer count, exact and
    estimated effective-customer counts 1/HHI, F2 relative error —
    the ams_f2/hll_estimate readout contract).

    Scale shape: ONE customer-grain aggregation (the only fact-sized
    shuffle — the per-customer spend frame q94 already builds), then
    the 16 signed sums + the spend sum fold in ONE global aggregation
    whose state is 17 decimals; partial sums combine map-side.  The
    exact Σspend² column exists only for the error readout — the
    production path at 100 TB is the estimate, whose stream twin
    (streaming.hhi_ams_stream) never materializes the customer grain
    at all.  Float discipline: per-customer spend is exact
    DECIMAL(18,2) (so the S_r decimals match the oracle bit-for-bit);
    Σspend² is a double fold whose addition-order spread (≲n·ε,
    relative ~1e-12 at bench SFs) is absorbed by the 4dp readout
    rounding."""
    orders = read_table(
        spark, sf_dir, "orders", ["o_custkey", "o_totalprice"]
    )
    spend = (
        orders.filter(F.col("o_custkey").isNotNull())
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("spend")
        )
    )
    base = _spark_base(_AMS_HHI_SPARK_KEY)
    signed = spend.selectExpr(
        "spend",
        *[f"CAST({_ams_sign(r, base)} AS INT) AS s_{r}"
          for r in range(AMS_R)],
    )
    sums = signed.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("spend").alias("f1"),
        F.sum(
            F.col("spend").cast("double") * F.col("spend").cast("double")
        ).alias("f2_exact"),
        *[
            F.sum(F.col("spend") * F.col(f"s_{r}")).alias(f"S_{r}")
            for r in range(AMS_R)
        ],
    )
    sq = F.array_sort(
        F.array(*[
            (F.col(f"S_{r}").cast("double") * F.col(f"S_{r}").cast("double"))
            for r in range(AMS_R)
        ])
    )
    mid = AMS_R // 2
    est = (
        F.element_at(sq, mid) + F.element_at(sq, mid + 1)
    ).cast("double") / F.lit(2.0)
    f1d = F.col("f1").cast("double")
    return sums.select(
        "n_customers",
        F.round(f1d * f1d / F.col("f2_exact"), 4).alias(
            "eff_customers_exact"
        ),
        F.round(f1d * f1d / est, 4).alias("eff_customers_est"),
        F.round(
            F.abs(est - F.col("f2_exact")) / F.col("f2_exact"), 4
        ).alias("rel_err"),
    )
