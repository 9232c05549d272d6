"""Distributed BPE tokenizer training and application as DataFrame plans.

Byte-pair-encoding merge training (Sennrich et al. 2016, public
algorithm) is the canonical "iterative algorithm the engine must not
collapse into a driver loop over the corpus": each round counts
adjacent symbol pairs and merges the most frequent one everywhere.
The classic scalability trick — train on the WORD-FREQUENCY table,
not the corpus — makes the iteration state vocab-grain: the corpus is
touched exactly once (tokenize + word count, the only fact-sized
shuffle), and every merge round is one tiny aggregation over distinct
words weighted by their corpus frequencies. At 100 TB the word table
is millions of rows where the corpus is billions; rounds cost seconds.

Symbol-string representation (engine-neutral, zero UDF): a word's
symbol sequence is encoded as ``|sym|`` pieces sharing interior
separators — ``abc`` → ``|a||b||c|`` (single ``|`` at the ends, double
between symbols). Applying merge (L, R) is then the plain literal
``replace(s, '|L||R|', '|LR|')``: the doubled interior separator means
consecutive occurrences never share a boundary character, so SQL's
left-to-right non-overlapping replace implements exactly BPE's greedy
left-to-right merge semantics ([a,a,a] → [aa,a], [a,a,a,a] →
[aa,aa]), and the full ``|…|`` anchoring prevents false sub-symbol
matches. The trainer's word contract is ``^[a-z]+$`` (so ``|`` can
never occur inside a symbol); non-conforming words are excluded on
both engines.

The DuckDB oracle replays the SAME n_merges iterations as an unrolled
CTE chain (the q51 PageRank precedent): pair-count → arg-max → replace
per round, with the merge pattern injected via scalar subqueries — so
the iterative trainer is fully hash-checked, not just rows-counted.
Ties break (count DESC, lhs ASC, rhs ASC); lowercase-ASCII ordering is
identical across engines.

Reference scope: the reference repo has no tokenizer training; this is
part of the beyond-reference LLM-data-pipeline surface (task brief),
sibling to text_vocab/text_tokens_bpe (which count GPT-2-regex pieces
but do not LEARN merges).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import memo_artifact, read_table
from .text import spark_tokens

N_MERGES = 20

# symbol-array extraction from the |a||b||c| encoding
_SPARK_SYMS = "split(trim(BOTH '|' FROM s), '\\\\|\\\\|')"

# tokens per fully-merged symbol string: the invariant carries exactly
# 2 pipes per symbol (2 at the ends + 2 per interior gap)
_SPARK_NTOK = "CAST((length(s) - length(replace(s, '|', ''))) / 2 AS INT)"


def _word_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, freq) over the corpus — the ONE fact-sized pass. The
    scan is spread before the explode (single-row-group parquet would
    otherwise run the tokenize stage on one core; same rationale as
    dedup._read_docs_parallel)."""
    docs = read_table(spark, sf_dir, "documents", ["text"]).filter(
        F.col("text").isNotNull()
    )
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    words = docs.selectExpr(f"explode({spark_tokens()}) AS word").filter(
        F.col("word").rlike("^[a-z]+$")
    )
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))


# per-scan candidate window for the batched trainer: the driver reads
# the top TOP_PAIRS pairs per scan (bounded state — NOT vocab-grain);
# candidates at or below the window's cut count are never accepted, so
# a window too small only costs an extra scan, never a wrong merge
TOP_PAIRS = 256


def train_bpe_merges(
    spark: SparkSession, sf_dir: str, n_merges: int = N_MERGES
) -> list[tuple[int, str, str, int]]:
    """The merge table [(rank, lhs, rhs, pair_count)] — the tokenizer
    artifact a serving path ships as plan literals.

    Loop hygiene (mirrors the CC/k-means loops): the word table is
    localCheckpointed up front so the corpus pass runs ONCE, and
    re-checkpointed every 6 applied merges so the replayed
    replace-chain depth stays bounded. Per-scan driver state is the
    top-TOP_PAIRS pair-count rows — O(1) in the corpus AND the vocab.

    BATCHED ROUNDS (r17, VERDICT r16 ask #4 / guide §2.4): one
    pair-count scan used to buy exactly ONE merge, so 20 rounds paid
    20 × (job fixed cost + tiny agg) — the dominant cost at any scale
    where the vocab table is small (measured ~0.35 s/round at sf0.1,
    ~7 s of the 8.3 s line). One scan now accepts a PREFIX of the
    sorted pair table, provably equal to what 1-merge-per-scan would
    pick, so 20 merges cost ~8-10 scans on English-like text.

    Why the batch is exact (the committed merge table is
    hash-checked by the DuckDB oracle, so this must be a proof, not
    a heuristic). Let S = all symbols of the merges accepted so far
    in THIS batch, plus each new symbol l+r (guarding re-created
    symbols). Applying an accepted merge (l, r) can only change the
    count of pairs touching an actual merged occurrence — pairs with
    l or r as an endpoint lose occurrences, pairs gaining the new
    symbol lr appear — and every NEW pair's count is bounded by a
    PRE-BATCH pair that shares a symbol with S: each occurrence of
    (x, lr) was an (x, l) occurrence, each (lr, y) was (r, y), and
    (l₁r₁, l₂r₂) was (r₁, l₂). Therefore, walking the pair table in
    exact (cnt DESC, l ASC, r ASC) order:
      * a pair DISJOINT from S still has its exact count;
      * the first pair SHARING a symbol with S has an unknown
        (only-decreased) count — the batch STOPS there, because
        every later candidate could be overtaken by it;
      * a candidate is accepted only if NO pair anywhere in the
        table ties its count while sharing a symbol with S — else a
        decreased-to-tie stale pair or a new pair bounded by that
        tie could win the lexicographic tie-break at its round.
    Any pair that could outrank candidate i at its true round is
    either a previously accepted merge (gone by then), a stale pair
    sorted above it (stop rule), or a tie (tie guard) — so the
    accepted prefix equals the sequential argmax sequence, with each
    recorded count unchanged by the batch's earlier disjoint
    replaces (patterns over disjoint symbols can neither create nor
    destroy each other's occurrences).
    The window cut (TOP_PAIRS) additionally ends the batch before
    any candidate whose tie band might extend past the collected
    rows. First candidate always accepts ⇒ ≥1 merge per scan ⇒
    termination. Bit-equality with textbook BPE is pinned by
    tests/test_extras.py::test_bpe_train_matches_reference_implementation
    (real corpus) and ::test_bpe_batched_trainer_exact_under_ties
    (engineered tie-dense vocab)."""
    base = _word_freqs(spark, sf_dir).withColumn(
        "s", F.regexp_replace("word", "(.)", r"|$1|")
    )
    cur = base.localCheckpoint()
    # right-size the loop state to the VOCAB, not the corpus: the
    # checkpoint inherits the corpus pass's partitioning, and the
    # merge rounds' task scheduling over mostly-empty partitions is
    # pure overhead (measured 12.4s -> 5s at sf0.01). ~50k
    # words/partition keeps real web-scale vocabs (1e7 words)
    # parallel.  Integer pair counts make the table exact under ANY
    # partitioning, so re-shaping here can never move a merge.
    n_words = cur.count()  # free: the checkpoint just materialized
    parts = max(
        1,
        min(spark.sparkContext.defaultParallelism, n_words // 50_000 + 1),
    )
    if parts < cur.rdd.getNumPartitions():
        cur = cur.coalesce(parts).localCheckpoint()
    merges: list[tuple[int, str, str, int]] = []
    depth = 0  # replace-chain depth since the last checkpoint
    while len(merges) < n_merges:
        pairs = (
            cur.withColumn("syms", F.expr(_SPARK_SYMS))
            .filter(F.size("syms") >= 2)
            .select(
                "freq",
                F.expr(
                    "explode(transform(sequence(1, size(syms) - 1),"
                    " i -> struct(element_at(syms, i) AS l,"
                    " element_at(syms, i + 1) AS r))"
                    ") AS p"
                ),
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("cnt"))
        )
        rows = (
            pairs.orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(TOP_PAIRS)
            .collect()
        )
        if not rows:
            break  # every word fully merged; oracle CTEs go empty too
        tbl = [(row.l, row.r, int(row.cnt)) for row in rows]
        # a full window may hide ties below its last row: accept only
        # candidates whose count strictly exceeds the cut
        cut = tbl[-1][2] if len(tbl) == TOP_PAIRS else None
        touched: set[str] = set()
        batch: list[tuple[str, str, int]] = []
        for l, r, cnt in tbl:
            if len(merges) + len(batch) >= n_merges:
                break
            if cut is not None and cnt <= cut:
                break
            if l in touched or r in touched:
                break  # count may be stale — next scan re-prices it
            if any(
                c2 == cnt and (l2 in touched or r2 in touched)
                for l2, r2, c2 in tbl
                if (l2, r2) != (l, r)
            ):
                break  # a stale tie could win the lex tie-break
            batch.append((l, r, cnt))
            touched.update((l, r, l + r))
        if not batch:
            # the window cut can exclude even the head row (every
            # collected count equal) — but row 0 is the exact global
            # argmax (the sort precedes the limit) and no batch merge
            # precedes it, so accepting it alone is always safe
            batch = [tbl[0]]
        for l, r, cnt in batch:
            merges.append((len(merges) + 1, l, r, cnt))
            cur = cur.withColumn(
                "s", F.expr(f"replace(s, '|{l}||{r}|', '|{l}{r}|')")
            )
            depth += 1
            if depth >= 6:
                cur = cur.localCheckpoint()
                depth = 0
    return merges


def _trained_merges(spark: SparkSession, sf_dir: str) -> list:
    """The trained merges, once per corpus version (io.memo_artifact):
    bpe_apply and repeated calls reuse one training run."""
    return memo_artifact(
        spark, sf_dir, "bpe_merges", ("documents",),
        lambda: train_bpe_merges(spark, sf_dir),
    )


def bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge table as a DataFrame (rank-ordered)."""
    merges = _trained_merges(spark, sf_dir)
    return spark.createDataFrame(
        merges, "merge_rank INT, lhs STRING, rhs STRING, pair_cnt BIGINT"
    ).orderBy("merge_rank")


def merge_chain_expr(merges: list, var: str = "word") -> str:
    """The trained tokenizer as ONE codegen expression over ``var``:
    seed the symbol string, then replay every merge as a literal
    replace in rank order. Shippable anywhere an expression goes —
    batch vocab tables, streaming projections, HOF lambdas."""
    s = f"regexp_replace({var}, '(.)', '|$1|')"
    for _, l, r, _cnt in merges:
        s = f"replace({s}, '|{l}||{r}|', '|{l}{r}|')"
    return s


def bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc BPE token accounting with the trained merges — the
    tokenize-the-corpus serving path. The merge replay (20 chained
    replaces + the regexp seed) runs at VOCAB grain (once per distinct
    word), joined back onto the exploded fact; per-doc totals are
    one fact-sized aggregation. This is the production shape: the
    expensive expression runs |vocab| times, not |corpus| times. The
    vocab join is left to AQE (the tfidf DF-join precedent): a test
    corpus's vocab broadcasts, a web-scale 1e8-word vocab exceeds
    broadcast and shuffle-joins on the token key."""
    merges = _trained_merges(spark, sf_dir)
    docs = read_table(
        spark, sf_dir, "documents", ["doc_id", "text"]
    ).filter(F.col("text").isNotNull())
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    fact = docs.selectExpr(
        "doc_id", f"explode({spark_tokens()}) AS word"
    ).filter(F.col("word").rlike("^[a-z]+$"))
    vocab = fact.select("word").distinct()
    s = merge_chain_expr(merges, "word")
    # bind the merge chain as its own projection: _SPARK_NTOK references
    # `s` twice, and the double reference keeps CollapseProject from
    # inlining (= re-evaluating) the 20-replace chain per use
    vocab_s = vocab.selectExpr("word", f"{s} AS s")
    vocab_tok = vocab_s.selectExpr("word", f"{_SPARK_NTOK} AS word_toks")
    joined = fact.join(vocab_tok, "word")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("word_toks").alias("n_tokens"),
    )  # no terminal sort: doc-grain output, order-insensitive compare


def bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer evaluation as an operator (the sim_recall_eval
    pattern): the corpus compression curve — total token count and
    chars-per-token after each merge round, 0..N_MERGES. The quality
    readout a tokenizer-training pipeline gates on (is another 10k
    merges still buying compression?).

    ONE vocab-grain pass: every round's symbol string is a bound
    projection chained off the previous round (s_0..s_N), and all N+1
    weighted token sums fold in a single aggregate; stack() unpivots
    the wide result. No corpus re-scan per round."""
    merges = _trained_merges(spark, sf_dir)
    # the curve always spans rounds 0..N_MERGES: if training exhausted
    # early (pair supply ran dry), the remaining rounds are no-op
    # copies — EXACTLY what the oracle's COALESCE(chr(1)) no-op
    # replaces produce, so row counts agree on degenerate corpora too
    n = N_MERGES
    cur = _word_freqs(spark, sf_dir).withColumn(
        "s_0", F.regexp_replace("word", "(.)", r"|$1|")
    )
    for i in range(1, n + 1):
        if i <= len(merges):
            _, l, r, _cnt = merges[i - 1]
            expr = f"replace(s_{i - 1}, '|{l}||{r}|', '|{l}{r}|')"
        else:
            expr = f"s_{i - 1}"  # exhausted round: no-op
        cur = cur.withColumn(f"s_{i}", F.expr(expr))
    tok = "CAST((length(s_{i}) - length(replace(s_{i}, '|', ''))) / 2 AS BIGINT)"
    folded = cur.agg(
        F.expr("CAST(sum(freq * length(word)) AS BIGINT)").alias(
            "n_chars"
        ),
        *[
            F.expr(f"sum(freq * {tok.format(i=i)})").alias(f"t_{i}")
            for i in range(n + 1)
        ],
    )
    stack_args = ", ".join(f"{i}, t_{i}" for i in range(n + 1))
    return folded.selectExpr(
        f"stack({n + 1}, {stack_args}) AS (merge_rank, total_tokens)",
        "n_chars",
    ).selectExpr(
        "CAST(merge_rank AS INT) AS merge_rank",
        "total_tokens",
        "round(CAST(n_chars AS DOUBLE) / total_tokens, 4)"
        " AS chars_per_token",
    )  # no terminal sort: O(N_MERGES) output, order-insensitive compare
