"""Physical-plan regression tests: the scale properties argued in
docstrings must stay true as code evolves — dims broadcast, filters
reach the parquet scan, top-k avoids global sorts, no accidental
cartesian products, shuffle counts stay at their minimums."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_CORRECT


def _plan(spark, name: str) -> str:
    # delegate to physical_plan for its raised-metadata-limit
    # stringification — a second direct toString() spelling would
    # silently truncate path-bearing metadata (the vacuous-gate class
    # of bug fixed in code-review r12)
    from data_pipeline_and_visualization_dashboard_spark.plans import (
        physical_plan,
    )

    df = entrymod.queries()[name](spark, SF_CORRECT)
    return physical_plan(df)


def _shuffles(plan: str) -> int:
    return (
        plan.count("Exchange hashpartitioning")
        + plan.count("Exchange rangepartitioning")
        + plan.count("Exchange SinglePartition")
    )


CASES = {
    # name: (must_contain, must_not_contain, max_shuffles)
    "text_quality_score": (
        # the learned classifier is ONE row-local codegen projection
        [],
        ["Exchange", "CartesianProduct", "BroadcastNestedLoopJoin"],
        0,
    ),
    "text_gopher_rules": (
        # the full rule battery is likewise zero-shuffle
        [],
        ["Exchange", "CartesianProduct", "BroadcastNestedLoopJoin"],
        0,
    ),
    "text_dup_ngrams": (
        # grams hash to md5 BEFORE the shuffle; one gram-keyed window
        # exchange + one doc-grain agg exchange, no joins
        ["Window", "HashAggregate"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        3,  # repartition(doc_id) + gram window + doc agg
    ),
    "text_dup_spans": (
        # grams hash BEFORE the gram shuffle; islands merge in a
        # doc-partitioned window; the (doc,grp)->doc agg chain reuses
        # the doc partitioning — no joins anywhere
        ["Window", "HashAggregate"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        3,  # repartition(doc_id) + gram window + doc window
    ),
    "text_dsir_weights": (
        # the DSIR_DIM-row profile must come BACK as broadcasts — the
        # corpus-sized stream is never shuffled for the scoring join
        ["BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct"],
        3,
    ),
    "q84_rollup_revenue": (
        # ROLLUP = ONE Expand above the broadcast dim joins feeding a
        # single partial+final HashAggregate pair — NOT three separate
        # aggregation jobs; both dims broadcast
        ["Expand", "HashAggregate", "BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct"],
        2,  # grouped-agg exchange + final presentation sort
    ),
    "q85_corpus_grouping_sets": (
        # explicit GROUPING SETS ((lang),(source)): one corpus scan,
        # one Expand(2), one agg — not two GROUP-BY jobs
        ["Expand", "HashAggregate"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        2,
    ),
    "q86_zorder_layout": (
        # Morton codes are row-local codegen arithmetic over the
        # 1-row broadcast range frame; the fact is NEVER shuffled at
        # row grain — the only exchanges are the range-frame
        # SinglePartition, the (layout,bucket) agg, the layout agg,
        # and the 2-row presentation sort
        ["Generate stack", "HashAggregate", "BroadcastExchange"],
        ["SortMergeJoin", "CartesianProduct"],
        4,
    ),
    "q62_skew_stats": (
        # heavy-hitter top-N: single-row totals broadcast back, top-N
        # compiles to TakeOrderedAndProject — no global sort
        ["TakeOrderedAndProject"],
        ["SortMergeJoin", "CartesianProduct"],
        2,
    ),
    "sim_lang_centroids": (
        # doc-meta broadcasts onto the embedding scan; ONE grouped
        # average at (lang, dim) grain
        ["BroadcastHashJoin", "HashAggregate"],
        ["SortMergeJoin", "CartesianProduct"],
        1,
    ),
    "dedup_incremental_exact": (
        # base collapses to hash-grain BEFORE the join; no broadcast
        # assumption (at scale neither side fits), so shuffled
        # hash-joins on the 16-byte key are the expected shape
        ["HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
        6,
    ),
    "q1_top_nations": (
        ["BroadcastHashJoin", "TakeOrderedAndProject"],
        ["SortMergeJoin", "CartesianProduct", "GlobalLimit 10\n+- Sort"],
        1,
    ),
    "q5_trade_routes": (
        ["BroadcastHashJoin", "TakeOrderedAndProject"],
        ["CartesianProduct"],
        1,
    ),
    "q6_pricing_summary": (
        ["HashAggregate", "PushedFilters: [IsNotNull(l_shipdate)",
         "LessThanOrEqual(l_shipdate,2000-09-02T00:00)"],
        # terminal orderBy of the 6-row agg output adds a (harmless)
        # range exchange; the data-sized shuffle stays at 1
        ["SortMergeJoin"],
        2,
    ),
    "q4_unit_price_by_weekday": (
        ["PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)]"],
        [],
        2,
    ),
    "q17_top_customers_per_nation": (
        ["BroadcastHashJoin"],
        ["CartesianProduct"],
        3,
    ),
    "q20_shipping_priority": (
        ["BroadcastHashJoin", "TakeOrderedAndProject",
         "EqualTo(c_mktsegment,BUILDING)",
         "GreaterThan(l_shipdate,1997-01-01T00:00)"],
        ["CartesianProduct"],
        2,
    ),
    "q27_asof_join": (
        ["Window"],
        ["CartesianProduct", "SortMergeJoin"],
        1,
    ),
    "text_scrub_pii": (
        # regex redaction is pure row-local codegen: NO exchange at all
        [],
        ["Exchange", "CartesianProduct", "BroadcastNestedLoopJoin"],
        0,
    ),
    "text_mix_sample": (
        # budget frame broadcasts back onto the doc grain; the only
        # BNLJ is the 1-row totals cross (constant), never data-sized
        ["BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin"],
        4,
    ),
    "dedup_semantic": (
        # centroid cross is a 16-row broadcast; within-cluster pairing
        # is an equi-join on cluster_id — no corpus-sized cartesian
        [],
        ["CartesianProduct"],
        6,
    ),
    "text_line_dedup": (
        # line window explode is row-local; ONE data-sized exchange on
        # line_text for the keeper rank + the doc-grain re-agg
        ["Window", "HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
        3,
    ),
    "q34_top_users_labeled": (
        # top-k must compile BEFORE the left join; dim broadcasts
        ["TakeOrderedAndProject", "BroadcastHashJoin", "LeftOuter, BuildRight"],
        ["SortMergeJoin", "CartesianProduct"],
        2,  # agg shuffle + terminal 10-row sort
    ),
    "q35_ship_delay": (
        [],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
        3,
    ),
    "q36_session_windows": (
        # one user_id exchange feeding the session aggregation
        ["HashAggregate"],
        ["CartesianProduct"],
        1,
    ),
    "q37_prior_hour_window": (
        # one user_id exchange feeding the range-frame window
        ["Window", "RangeFrame, -3600000000, -1"],
        ["SortMergeJoin", "CartesianProduct"],
        1,
    ),
    "q39_interval_join": (
        # the whole point: a range join that does NOT plan as a
        # nested-loop — the bin-explode turns it into hash joins
        [],
        ["BroadcastNestedLoopJoin", "CartesianProduct"],
        3,
    ),
    "q40_salted_skew_join": (
        # salted dim still broadcasts; no nested loop from the 2-key join
        ["BroadcastHashJoin"],
        ["BroadcastNestedLoopJoin", "CartesianProduct", "SortMergeJoin"],
        2,
    ),
    "q42_daily_from_hourly": (
        # two-level rollup: (date,hour) agg + date re-agg + terminal sort
        ["HashAggregate"],
        ["SortMergeJoin", "CartesianProduct"],
        3,
    ),
    "q43_full_outer_reconcile": (
        # both sides aggregate BEFORE the join; the join reuses the agg
        # partitioning on day, so: 2 agg shuffles + terminal sort only
        ["FullOuter"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
        3,
    ),
    "q44_user_trend": (
        # one user_id exchange + terminal sort; regression co-moments
        # accumulate map-side (partial HashAggregate)
        ["HashAggregate"],
        ["SortMergeJoin", "CartesianProduct"],
        2,
    ),
    "q45_cohort_retention": (
        # fact collapses to (user,week) grain first; cohort min-window
        # on user_id; tiny (cohort,offset) rollup + terminal sort
        ["Window", "HashAggregate"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        4,
    ),
    "q46_value_anomalies": (
        # per-type stats broadcast back onto the fact scan: the fact
        # table itself never shuffles (stats agg + terminal sort only)
        ["BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        2,
    ),
    "text_tfidf_topk": (
        # corpus-size N rides a 1-row broadcast cross join (the one
        # legitimate BroadcastNestedLoopJoin on the surface); top-k
        # window per doc; no sort-merge or cartesian anywhere
        ["Window"],
        ["SortMergeJoin", "CartesianProduct"],
        6,
    ),
    "q47_scd2_history": (
        # lag-filter-lead SCD2 build: BOTH windows share ONE user_id
        # exchange (plus the terminal sort) — change detection and
        # interval closing never re-shuffle the fact
        ["Window"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        2,
    ),
    "q48_funnel_steps": (
        # per-user first-touch mins partial-aggregate map-side; one
        # user_id shuffle + the 1-row rollup — no joins anywhere
        ["HashAggregate"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        2,
    ),
    "q49_fuzzy_name_match": (
        # blocked self-join broadcasts (dim-sized input); top-k
        # compiles to TakeOrderedAndProject — zero shuffles total
        ["BroadcastHashJoin", "TakeOrderedAndProject"],
        ["SortMergeJoin", "CartesianProduct"],
        0,
    ),
    "q50_equidepth_buckets": (
        # cutpoints broadcast back onto the fact: percentile agg +
        # (type,bucket) agg + terminal sort, never a fact-wide sort
        ["BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        3,
    ),
    "q51_nation_pagerank": (
        # node-grain loop frames broadcast each iteration — no
        # sort-merge joins anywhere; the static plan repeats the
        # (cached) edge subtree per unrolled iteration, hence the
        # generous shuffle bound
        ["BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct"],
        14,
    ),
    "q54_hash_sample": (
        # content-hash Bernoulli filter is row-local: scan + filter,
        # nothing else
        ["Filter"],
        ["Exchange"],
        0,
    ),
    "q55_rolling_median": (
        # one user_id shuffle feeding the ROWS-framed window
        ["Window"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        1,
    ),
    "q56_grouped_stats": (
        # one fact-sized co-moment agg + terminal sort; no joins
        ["HashAggregate"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        2,
    ),
    "q57_rank_family": (
        # all three rank functions share ONE window (one shuffle, one
        # per-partition sort)
        ["Window"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        1,
    ),
    "q58_event_nation_counts": (
        # both dims broadcast — the fact shuffles only for the
        # (hour, nation) rollup + terminal sort
        ["BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        2,
    ),
    "q59_sliding_distinct": (
        # explode fan-out must stay a map-stage Generate; two-level
        # distinct agg + terminal sort; the 1-row bounds frame rides a
        # broadcast nested loop by design
        ["Generate", "HashAggregate"],
        ["SortMergeJoin", "CartesianProduct"],
        5,
    ),
    "sim_pq_codes": (
        # PQ encode is a map pass: codebook baked in as literals,
        # argmin per block row-local. The ONE allowed exchange is the
        # deliberate round-the-cores spread of the single-row-group
        # local scan (dedup._read_docs_parallel discipline) — at real
        # scale the scan has many splits and the encode itself still
        # adds nothing
        [],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        1,
    ),
    "q52_gap_fill": (
        # the rollup⋈spine join broadcasts (both cardinality-sized);
        # the only fact-sized shuffle is the hourly agg; the tiny
        # types×hours cross join is a broadcast nested loop BY DESIGN
        # (cardinality-sized, never fact-sized)
        ["BroadcastHashJoin", "Window"],
        ["SortMergeJoin", "CartesianProduct"],
        6,
    ),
    "q53_incremental_rollup": (
        # two partial aggs + merge agg + terminal sort; zero joins
        ["HashAggregate"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        3,
    ),
    "sketch_countmin": (
        # key-grain pre-agg (the only fact-sized shuffle) + the
        # constant 1024-cell aggregation; no joins
        ["HashAggregate"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        2,
    ),
    "sketch_hll_registers": (
        # key-distinct + the 256-register max — constant-size state
        ["HashAggregate"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        2,
    ),
    "text_chunks": (
        # 1->N fan-out must stay a map stage: zero shuffles
        ["Generate posexplode"],
        ["Exchange"],
        0,
    ),
    "text_split_assign": ([], ["Exchange"], 0),
    "text_packing": (
        # shard window shuffle + terminal sort; per-pack agg reuses the
        # shard partitioning
        ["Window"],
        ["SortMergeJoin", "CartesianProduct"],
        2,
    ),
    "dedup_contamination": (
        # eval shingle set broadcasts; explode->distinct->agg shuffles
        ["BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct"],
        3,
    ),
    "dedup_exact_groups": ([], ["Exchange rangepartitioning"], 1),
    "q88_basket_pairs": (
        # pair explosion bounded by basket size (equi-join on the
        # order key, never cross-corpus); top-20 compiles to
        # TakeOrderedAndProject BEFORE the marginals join, so lift is
        # computed on 20 rows against broadcasts
        ["TakeOrderedAndProject", "BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct"],
        9,
    ),
    "q89_session_transitions": (
        # one user-keyed window builds the lagged pair row-locally;
        # the matrix is a <=|types|^2 agg and the row normalization is
        # a KEYED window over that tiny frame
        ["Window", "HashAggregate"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin",
         "Join"],
        4,
    ),
    "q87_time_weighted_value": (
        # TWA: ONE keyed (event_type x day) window + the day-grain agg
        # + presentation sort — no joins, no global window
        ["Window", "HashAggregate"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin",
         "Join"],
        3,
    ),
    "dedup_split_leakage": (
        # the LSH pair stage's plan plus split joins: everything the
        # pair set touches stays broadcast (pairs are the small side);
        # no sort-merge, no cartesian anywhere in the composition
        ["BroadcastHashJoin", "HashAggregate"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        16,  # the pair stage's own exchanges + the pair-grain aggs
    ),
    "media_audio_windows": (
        # Arrow-batched 1->N fan-out feeding the doc-grain agg: the
        # ONLY exchanges are the agg + presentation sort — the window
        # explosion itself never shuffles
        ["MapInPandas", "HashAggregate"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin",
         "Window"],
        2,
    ),
    "q66_late_supplier_blame": (
        # Q21 shape: EXISTS/NOT EXISTS must compile to semi + anti
        # joins on the order key — fact-fact, so SortMergeJoin is the
        # CORRECT strategy (neither side fits a broadcast at scale);
        # what must never appear is a nested-loop fallback
        ["LeftSemi", "LeftAnti"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
        9,
    ),
    "dedup_contamination_multi": (
        # N-benchmark screen: tagged eval shingles broadcast, ONE
        # doc-grain conditional-sum agg + stack — no doc×set spine
        # join, no SortMergeJoin, no second corpus pass
        ["BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        3,
    ),
    "q69_concurrent_sessions": (
        # sweep-line concurrency: the global cumsum must run as the
        # range-partitioned two-phase (range exchange + partitioned
        # windows only — no unpartitioned window, which would show as
        # a SinglePartition exchange under the Window), final top-k is
        # TakeOrderedAndProject, and there is NO join between points
        # and intervals (the naive range self-join would plan
        # CartesianProduct/SMJ). The only BNLJ is the triangular
        # offsets join over the one-row-per-partition totals frame —
        # bounded by partition count, never data (text.py:595
        # precedent) — so BNLJ is deliberately NOT in the avoid list.
        ["TakeOrderedAndProject", "Exchange rangepartitioning"],
        ["CartesianProduct", "SortMergeJoin", "Exchange SinglePartition"],
        # 10 pre-AQE: session window + range repartition + the
        # tie-group max window's hash exchange, double-counted across
        # the cumsum/totals branches that AQE collapses to
        # ReusedExchange at runtime (verified: final plan has 2)
        10,
    ),
    "sketch_kmv_estimate": (
        # bottom-K must be TakeOrderedAndProject (per-partition heaps),
        # never a global Sort; the 1-row readout join may be BNLJ (1×1)
        ["TakeOrderedAndProject"],
        ["SortMergeJoin", "CartesianProduct"],
        3,
    ),
    "sketch_kmv_overlap": (
        # 4 shuffles since the true-two-sketch rewrite (ADVICE r3):
        # per-corpus hash dedupe ×2 (each over its own corpus only),
        # the cross-corpus dedupe for the exact readout, and its
        # 1-row fold; each bottom-K is TakeOrderedAndProject
        ["TakeOrderedAndProject"],
        ["SortMergeJoin", "CartesianProduct"],
        4,
    ),
    "text_index_postings": (
        # two-level agg: (term,doc) then term-grain — no joins at all
        [],
        ["SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"],
        2,
    ),
    "text_search_phrase": (
        # posting adjacency walk: one hash join, one doc-grain agg
        ["BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        2,
    ),
    "text_search_ranked": (
        # scored retrieval must end in TakeOrderedAndProject; the
        # 1-row n_docs factor rides a BNLJ broadcast (allowed)
        ["TakeOrderedAndProject", "BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct"],
        5,
    ),
    "text_search_bm25": (
        # BM25 adds the dl join and the 1-row (N, avgdl) stats BNLJ
        # broadcast to the ranked skeleton; still ends in top-k
        ["TakeOrderedAndProject", "BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct"],
        7,
    ),
    "text_bpe_apply": (
        # vocab-grain merge replay broadcast onto the exploded fact:
        # vocab distinct + doc-grain agg are the only shuffles
        ["BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        2,
    ),
    "text_stats": ([], ["Exchange"], 0),
    "sketch_ams_f2": (
        # one key-grain agg + ONE global fold whose state is 16 longs
        # (the sketch's mergeability IS partial aggregation); signs are
        # row-local codegen — no join, no window, no Python
        ["HashAggregate"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin",
         "Window", "BatchEvalPython", "ArrowEvalPython"],
        2,  # user_id agg + SinglePartition fold
    ),
    "q95_top_decile_share": (
        # q90's template at customer grain: ONE fact-sized (nation,
        # customer) agg, exact-percentile fold to a 25-row threshold
        # frame that comes BACK as a broadcast (never a fact
        # self-join), one 25-group share fold; no window, no fact sort
        ["BroadcastHashJoin", "HashAggregate"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin",
         "Window", "BatchEvalPython", "ArrowEvalPython"],
        5,  # 2x (nation,customer) agg (the spend subtree feeds the
        # threshold fold and the share fold) + percentile fold +
        # share fold + terminal 25-row sort
    ),
    "sketch_ams_hhi": (
        # one customer-grain agg + ONE global fold whose state is 17
        # decimals (weighted AMS — the streaming twin keeps exactly
        # this state row); signs are row-local codegen — no join, no
        # window, no Python
        ["HashAggregate"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin",
         "Window", "BatchEvalPython", "ArrowEvalPython"],
        2,  # o_custkey agg + SinglePartition fold
    ),
    "text_pack_bestfit": (
        # the one legitimate applyInPandas BATCH operator: per-shard
        # BFD placement loop (FlatMapGroupsInPandas), then the shared
        # band rollup — no joins, no fact self-join, ONE fact scan
        ["FlatMapGroupsInPandas", "HashAggregate"],
        ["SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
         "CartesianProduct", "BroadcastNestedLoopJoin",
         "BatchEvalPython", "ArrowEvalPython"],
        4,  # shard grouping + countDistinct two-phase agg + band sort
    ),
    "q96_theil_decomposition": (
        # ONE fact scan (pinned by the fanout gate at 1): customer-
        # grain agg -> 25-row nation agg of three decomposable sums ->
        # W1 global window for the grand totals -> row-local Theil
        # math -> 25-row sort. No join back, no subtree re-plan, no
        # Python
        ["Window", "HashAggregate"],
        ["SortMergeJoin", "ShuffledHashJoin",
         "CartesianProduct", "BroadcastNestedLoopJoin",
         "BatchEvalPython", "ArrowEvalPython"],
        4,  # custkey agg + nation agg + SinglePartition window + sort
    ),
    "dedup_canonical_pick": (
        # best-vs-first keeper policy over the MATERIALIZED
        # cluster_table artifact (r15: the component build runs once
        # per corpus, this query prices the policy stage): the
        # artifact parquet scan — WITH size stats, so the small
        # dup-only side broadcasts (BuildLeft BHJ) — joins the
        # zero-shuffle quality scorer, then BOTH picks fold in ONE
        # cluster-grain aggregation (partial+final max_by/min_by over
        # a totalized (score,-doc_id) order -> SortAggregate pair,
        # map-side combinable).  NO window — that is the thesis vs
        # dedup_survivor_policy's row_number spelling — and no
        # Python, no cartesian.  At 100 TB the artifact outgrows the
        # broadcast threshold and Catalyst flips to an SMJ on doc_id,
        # which is why SortMergeJoin is NOT in the forbid list
        ["SortAggregate", "BroadcastHashJoin"],
        ["Window", "CartesianProduct", "BroadcastNestedLoopJoin",
         "FlatMapGroupsInPandas", "BatchEvalPython", "ArrowEvalPython"],
        1,  # the cluster-grain agg exchange
    ),
    "corpus_shard_manifest": (
        # r16 artifact re-plumb (VERDICT r15 ask #4): ONE pruned scan
        # of the survivors_table artifact (doc_id, n_tokens,
        # doc_hash — document text never read) -> row-local shard
        # arithmetic on doc_id -> ONE <=n_shards-row agg
        # (count/sum/bit_xor, all map-side combinable) + tiny sort.
        # The funnel the manifest composes runs ONCE at artifact
        # build (priced in bench index_build_sec); the query now
        # prices its own stage: TWO exchanges total, NO join of any
        # kind, no window, no Python, no cartesian
        ["HashAggregate"],
        ["SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
         "Window", "CartesianProduct", "BroadcastNestedLoopJoin",
         "FlatMapGroupsInPandas", "BatchEvalPython",
         "ArrowEvalPython"],
        2,  # shard agg + terminal sort — nothing else
    ),
    "corpus_shard_diff": (
        # two doc-grain manifest projections (row-local shard/token/
        # hash arithmetic — no text past the scan) -> two
        # <=n_shards-row aggs -> a 16-row-vs-16-row full-outer join
        # on shard -> tiny sort.  The join sides are agg outputs, so
        # the exchanges are the two agg shuffles + the join's
        # re-partition of each 16-row side + the sort — all tiny; NO
        # window, no Python, no cartesian, and the fact fans out
        # exactly twice (one scan per release side, under the
        # fanout-3 gate)
        ["HashAggregate"],
        ["Window", "CartesianProduct", "BroadcastNestedLoopJoin",
         "FlatMapGroupsInPandas", "BatchEvalPython",
         "ArrowEvalPython"],
        6,  # 2 agg + 2 tiny join-side exchanges + join sort + sort
    ),
    "corpus_release_diff_card": (
        # two doc-grain snapshot projections (hash + token count —
        # never text past the scan) -> doc_id-keyed FULL OUTER SMJ
        # (the dedup_snapshot_diff bound: O(|A|+|B|), hashes only) ->
        # row-local verdict -> ONE (source x lang) slice agg (all
        # conditional sums, map-side combinable) -> W1 global window
        # folding BOTH release token totals over the <=dozens-row
        # aggregate (GLOBAL_WINDOW_OK) -> tiny sort.  5 exchanges: 2
        # join sides + slice agg + SinglePartition fold + terminal
        # sort.  No Python, no cartesian, no pair-grain anything
        ["SortMergeJoin", "HashAggregate", "Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin",
         "FlatMapGroupsInPandas", "BatchEvalPython",
         "ArrowEvalPython"],
        5,
    ),
    "corpus_data_card": (
        # ONE zero-shuffle quality pass over documents (fanout 1 —
        # (lang, source) ride the scoring projection free) -> LEFT
        # join with the cluster_table artifact (broadcasts at test
        # SF, doc-grain SMJ at 100 TB — not pinned) -> tiny
        # (source x lang) agg -> W1 global window over the <=dozens-
        # row aggregate for token shares (the q96 idiom; whitelisted
        # in GLOBAL_WINDOW_OK) -> tiny sort.  No Python, no
        # cartesian, never pair-grain
        ["HashAggregate", "Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin",
         "FlatMapGroupsInPandas", "BatchEvalPython",
         "ArrowEvalPython"],
        3,  # slice agg + SinglePartition share fold + terminal sort
    ),
    "corpus_mixture_plan": (
        # survivors_table ARTIFACT scan (doc_id, n_tokens — the
        # funnel is priced once in the artifact build) joined with
        # the documents (doc_id, lang, source) metadata projection
        # (column-pruned; broadcasts at test SF, doc-grain SMJ at
        # 100 TB — not pinned) -> ONE tiny (source x lang) agg ->
        # TWO SinglePartition window folds over the <=dozens-row
        # aggregate (token total, then the pow-weight normalizer —
        # dependent, so they cannot collapse, but they share ONE
        # exchange; GLOBAL_WINDOW_OK) -> terminal sort, exchange-free
        # on the already-single partition.  2 exchanges total; no
        # Python, no cartesian, never touches document text
        ["HashAggregate", "Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin",
         "FlatMapGroupsInPandas", "BatchEvalPython",
         "ArrowEvalPython"],
        2,  # slice agg + shared SinglePartition fold
    ),
    "q98_last_touch_attribution": (
        # ONE fact scan, ONE keyed (user-partitioned) window for the
        # last-touch carry-forward — never a global sort — then a
        # <=|types|-row channel agg and a tiny terminal sort.  The
        # as-of-join spelling would pay a join; the window spelling
        # shuffles the fact once on user_id and never again
        ["Window", "HashAggregate"],
        ["SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
         "CartesianProduct", "BroadcastNestedLoopJoin",
         "BatchEvalPython", "ArrowEvalPython"],
        3,  # user window shuffle + channel agg + terminal sort
    ),
    "text_quality_calibration": (
        # zero-shuffle scorer -> doc-grain LEFT join with the
        # MATERIALIZED cluster_table artifact (r15: parquet scan WITH
        # stats, so the small dup-only side broadcasts; at 100 TB it
        # outgrows the threshold and flips to the doc-grain SMJ —
        # join type deliberately NOT pinned) -> 20-row fixed-bin agg
        # -> tiny sort.  No window, no Python, no cartesian, and
        # never a pair-grain join
        ["HashAggregate"],
        ["Window", "CartesianProduct", "BroadcastNestedLoopJoin",
         "BatchEvalPython", "ArrowEvalPython",
         "FlatMapGroupsInPandas"],
        2,  # bin agg + terminal sort (join side broadcasts at test SF)
    ),
    "q100_rfm_segments": (
        # customer-grain agg exchange, then ONE nation-keyed exchange
        # serving all THREE ntile windows (three in-partition sorts,
        # never a global sort) AND the (nation, segment) rollup —
        # grouping on a superset of the partition key plans zero
        # additional exchange — then the terminal 25x5-row sort.
        # Joins broadcast at test SF (customer side flips to SMJ at
        # 100x, so SMJ is not forbidden); no Python, no cartesian
        ["Window", "HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin",
         "BatchEvalPython", "ArrowEvalPython"],
        3,  # cust agg + nation window/rollup + terminal sort
    ),
    "q100_rfm_segments_approx": (
        # the whale-nation fallback's thesis, pinned: NO Window and
        # no per-nation sort anywhere — quintiles come from two
        # sort-free passes (per-nation approx_percentile sketch agg,
        # then the <=25-row threshold table broadcast back onto the
        # customer grain for row-local scoring).  The two per_cust
        # subtrees are the classic sketch bounds+score shape
        # (sketch_hist_quantiles precedent); the rank guard and
        # segment rollup are tiny-side aggs + broadcast joins.
        # Customer joins broadcast at test SF (SMJ at 100x, so SMJ
        # is not forbidden)
        ["HashAggregate", "BroadcastHashJoin"],
        ["Window", "CartesianProduct", "BroadcastNestedLoopJoin",
         "FlatMapGroupsInPandas", "BatchEvalPython",
         "ArrowEvalPython"],
        10,  # 2x (per_cust agg pair) + thr agg + rollup + guard + sort
    ),
    "q99_linear_attribution": (
        # ONE fact scan, ONE user-keyed exchange + ONE sort serving
        # BOTH window passes (identical partition/order spec — the
        # plan shows two adjacent Window nodes over one Exchange),
        # then the channel agg and a tiny terminal sort.  The
        # self-join spelling of "each touch collects value/n from
        # each later purchase" would pay a second fact shuffle;
        # every join type is in the forbid list to pin the
        # window-only thesis
        ["Window", "HashAggregate"],
        ["SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
         "CartesianProduct", "BroadcastNestedLoopJoin",
         "BatchEvalPython", "ArrowEvalPython"],
        3,  # user window shuffle + channel agg + terminal sort
    ),
    "sketch_cm_join_card": (
        # the operator that prices joins plans NONE itself: ONE fact
        # scan (fanout 1, pinned) -> user-grain pivot agg carrying
        # both sides' counts -> cm_cell_rows stack (row-local) ->
        # 1024-cell agg -> CM_D-row per-d agg -> 1-row fold.  No join,
        # no window, no sort, no Python anywhere
        ["HashAggregate"],
        ["SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
         "CartesianProduct", "BroadcastNestedLoopJoin", "Window",
         "BatchEvalPython", "ArrowEvalPython"],
        4,  # user agg + cell agg + per-d agg + SinglePartition fold
    ),
    "q97_atkinson_index": (
        # ONE fact scan (pinned by the fanout gate at 1): customer-
        # grain agg -> 25-row nation agg of FIVE decomposable sums ->
        # row-local power-mean math -> 25-row sort.  NO window at all
        # (q96 still needs its W1 grand-total fold; the per-nation
        # Atkinson levels don't) — Window is in the forbid list to pin
        # that thesis.  No join back, no subtree re-plan, no Python
        ["HashAggregate"],
        ["Window", "SortMergeJoin", "ShuffledHashJoin",
         "CartesianProduct", "BroadcastNestedLoopJoin",
         "BatchEvalPython", "ArrowEvalPython"],
        3,  # custkey agg + nation agg + terminal 25-row sort
    ),
    "text_pack_sequences": (
        # row-local BPE token count -> ONE shard exchange for the
        # running-total window (per-shard frame, no global sort) ->
        # distinct-(band,bin) pre-agg -> 4-band agg -> 4-row sort;
        # no join, no fact self-join, no Python
        ["Window", "HashAggregate"],
        ["SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
         "CartesianProduct", "BroadcastNestedLoopJoin",
         "BatchEvalPython", "ArrowEvalPython"],
        4,  # shard window + countDistinct two-phase agg + band sort
    ),
    "text_token_entropy": (
        # explode -> (doc,token) partial-combined agg -> doc-grain agg;
        # entropy math is codegen'd into the final agg — no join, no
        # Python eval anywhere
        ["HashAggregate"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin",
         "BatchEvalPython", "ArrowEvalPython"],
        2,  # (doc_id, t) agg + doc_id agg
    ),
    "q90_mad_outliers": (
        # the <=|types|-row median/MAD frames come BACK as broadcasts —
        # the fact is scanned and aggregated, never shuffled for a join
        # (exact percentile = ObjectHashAggregate, the sort-based agg)
        ["BroadcastHashJoin", "ObjectHashAggregate"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        4,  # 3 agg exchanges + the final tiny-frame sort
    ),
    "q91_decayed_engagement": (
        # the 1-row max-date readout comes BACK as the whitelisted
        # BNLJ broadcast; decay weight is row-local codegen (exact
        # powers of two); one event_type agg + the tiny terminal sort
        ["BroadcastNestedLoopJoin", "HashAggregate"],
        ["SortMergeJoin", "CartesianProduct"],
        4,  # max-date agg + type agg exchanges + terminal 5-row sort
    ),
    "q92_value_gini": (
        # both joins broadcast (customer ~1/10 of orders at every SF;
        # nation tiny); ONE nation-keyed window sort carries the rank
        # assignment, then the nation-grain agg reuses its partitioning
        ["BroadcastHashJoin", "Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
        4,
    ),
    "q92_value_gini_binned": (
        # the operator's THESIS (its reason to exist next to q92): NO
        # Window, NO sort of the fact, and no join at all past the
        # broadcast dim chain — two fact passes end in hash
        # aggregates, the per-nation bounds come BACK as a 25-row
        # broadcast, and the O(B²) mean-difference runs as a
        # row-local nested higher-order fold over each nation's
        # collect_list'ed bin atoms (the r11 self-join form planned
        # the bins subtree 3×); no Python eval anywhere
        ["BroadcastHashJoin", "HashAggregate"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin",
         "Window", "BatchEvalPython", "ArrowEvalPython"],
        4,  # bounds agg + (nation,bucket) agg + nation agg +
        # terminal 25-row sort
    ),
    "q93_rrf_fusion": (
        # both leaderboards are TakeOrderedAndProject over ONE shared
        # per-user agg (never a global sort of the user grain); rank =
        # global window over the already-LIMITed <=RRF_DEPTH rows
        # (fleet-gate whitelisted); the fusion join is SMJ because
        # Spark cannot broadcast a full-outer side — it joins two
        # <=50-row frames, so the exchanges are constant-size
        ["TakeOrderedAndProject", "Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
        5,  # user agg + 2 rank SinglePartition + 2 tiny join exchanges
    ),
    "q94_hhi_concentration": (
        # pure two-level hash aggregation — the no-sort complement to
        # q92's rank-statistic Gini: both joins broadcast, then the
        # (nation, customer) spend agg and the 25-group fold of
        # squares; NO window, NO sort of the fact anywhere
        ["BroadcastHashJoin", "HashAggregate"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin",
         "Window"],
        3,  # per-customer agg + nation agg + terminal 25-row sort
    ),
    "sim_search_rrf": (
        # both retrieval lists end in TakeOrderedAndProject; the 1-row
        # n_docs factor rides the text_search_ranked BNLJ broadcast;
        # ranks = global windows over the already-LIMITed <=20-row
        # frames (fleet-gate whitelisted); the fusion SMJ joins two
        # <=20-row frames (Spark can't broadcast a full-outer side)
        ["TakeOrderedAndProject", "Window", "BroadcastHashJoin"],
        ["CartesianProduct"],
        7,
    ),
    "text_hashed_features": (
        # explode + hash + bucket are row-local; ONE (doc_id, bucket)
        # agg exchange with map-side partial combine — no dictionary,
        # no join, unlike the vocab/encode path
        ["HashAggregate"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        1,
    ),
    "text_fingerprint": ([], ["Exchange"], 0),
    "q12_derived_events": ([], ["Exchange"], 0),
    "q70_promo_discount_revenue": (
        # Q19 disjunction: the part side pre-shrinks and BROADCASTS;
        # the derived qty envelope must reach the lineitem scan
        # (checked via PushedFilters below); one single-row final agg
        ["BroadcastHashJoin", "GreaterThanOrEqual(l_quantity,1.0)"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        1,
    ),
    "q71_idle_rich_customers": (
        # Q22: date filter pushes to the anti side's orders scan; the
        # 1-row avg-balance frame rides a BNLJ broadcast (allowed)
        ["BroadcastHashJoin", "GreaterThanOrEqual(o_orderdate,"],
        ["SortMergeJoin", "CartesianProduct"],
        3,
    ),
    "q72_top_quarter_supplier": (
        # Q15 max-over-view: quarter filter pushes to BOTH uses of the
        # rollup; the 1-row max and the supplier dim broadcast
        ["BroadcastHashJoin", "GreaterThanOrEqual(l_shipdate,"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        4,
    ),
    "q73_large_quantity_orders": (
        # Q18: HAVING-filtered order-grain aggregate broadcasts back
        # onto orders; top-10 compiles to TakeOrderedAndProject
        ["BroadcastHashJoin", "TakeOrderedAndProject"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        2,
    ),
    "q74_dominant_suppliers": (
        # Q20 nested semi: PROMO part-keys semi-filter the fact; both
        # share-test sides are aggregate frames; never a nested loop
        ["TakeOrderedAndProject"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
        5,
    ),
    "q76_priority_late_orders": (
        # Q4 EXISTS: date window pushes to the orders scan on BOTH
        # uses; the late-keys distinct + left-semi never nested-loops
        ["GreaterThanOrEqual(o_orderdate,", "LeftSemi"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
        5,
    ),
    "q77_returned_customers": (
        # Q10: returnflag pushes to lineitem, window to orders; agg
        # runs BEFORE the dim joins; customer/nation broadcast; top-N
        # is TakeOrderedAndProject
        ["EqualTo(l_returnflag,R)", "BroadcastHashJoin",
         "TakeOrderedAndProject"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        2,
    ),
    "q78_promo_revenue_share": (
        # Q14: ONE join pass, month filter at the lineitem scan, part
        # broadcast, single-row conditional-sum output
        ["BroadcastHashJoin", "GreaterThanOrEqual(l_shipdate,"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        1,
    ),
    "q79_supplier_variety": (
        # Q16: pair-grain distinct first; NOT IN = broadcast anti
        # join; final distinct count at (brand, band) grain
        ["TakeOrderedAndProject"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
        5,
    ),
    "q80_market_share": (
        # Q8: token-filtered part + region-filtered customer ride
        # LEFT-SEMI broadcasts; nation names broadcast; only the
        # lineitem⋈orders shuffle is fact-sized
        ["BroadcastHashJoin", "LeftSemi"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        2,
    ),
    "q81_product_margin": (
        # Q9: part carries retailprice (real join, broadcast);
        # supplier-nation map broadcast; one (nation, year) agg
        ["BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
        2,
    ),
    "q82_order_count_distribution": (
        # Q13: LEFT join keeps zero-order customers; two grouped aggs
        ["HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
        4,
    ),
    "dedup_snapshot_diff": (
        # two doc-grain 16-byte-hash frames full-outer join on the id
        # key: shuffle join is the EXPECTED shape (neither side
        # broadcastable at scale) — pin only against degenerate plans
        ["HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
        4,
    ),
    "sim_diverse_subset": (
        # the 4-row centroid frame rides a BNLJ broadcast BY DESIGN
        # (cardinality-sized, the q52 pattern); the id join broadcasts;
        # quality scorer is row-local codegen; per-cluster top-R window
        ["BroadcastHashJoin", "Window"],
        ["CartesianProduct", "SortMergeJoin"],
        5,
    ),
    "q75_nation_trade_volume": (
        # Q7 join ordering: nation-filtered customer/supplier maps
        # broadcast; only lineitem⋈orders shuffles; nation IN-list
        # pushes to both dim scans
        ["BroadcastHashJoin", "In(n_name"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
        2,
    ),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_plan_properties(spark, name):
    want, avoid, max_shuffles = CASES[name]
    plan = _plan(spark, name)
    for w in want:
        assert w in plan, f"{name}: expected {w!r} in plan\n{plan[:3000]}"
    for a in avoid:
        assert a not in plan, f"{name}: unwanted {a!r} in plan\n{plan[:3000]}"
    n = _shuffles(plan)
    assert n <= max_shuffles, (
        f"{name}: {n} shuffles (max {max_shuffles})\n{plan[:3000]}"
    )


def test_pipeline_output_partition_pruning(spark, tmp_path):
    """F7 at 100 TB: the pipeline writes event_date-partitioned parquet
    (pipeline.py) — a date filter over the RE-READ output must prune at
    planning time (PartitionFilters on the scan) and touch only the
    matching partition's files, not scan-then-filter the world."""
    from pyspark.sql import functions as F

    from data_pipeline_and_visualization_dashboard_spark.pipeline import (
        run_events_pipeline,
    )
    from tests.conftest import SF_SMOKE

    out = str(tmp_path / "events_clean")
    res = run_events_pipeline(spark, SF_SMOKE, out_path=out)
    dates = sorted(
        r.event_date
        for r in res.cleaned.select("event_date").distinct().collect()
    )
    assert len(dates) > 1, "need multiple partitions to prove pruning"
    pick = dates[0]
    filtered = res.cleaned.filter(F.col("event_date") == F.lit(pick))
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_date" in plan, plan[:2000]
    assert f" = {pick})" in plan, plan[:2000]  # (event_date#N = <date>)
    # DataFilters must stay empty: the predicate is fully satisfied by
    # directory pruning, no per-row filtering work remains
    assert "PushedFilters: []" in plan, plan[:2000]
    # physical proof: the executed scan's numFiles metric counts only
    # the matching partition's files (inputFiles() ignores filters, so
    # the runtime metric is the honest witness)
    filtered.collect()
    leaf = filtered._jdf.queryExecution().executedPlan().collectLeaves().head()
    n_files = leaf.metrics().apply("numFiles").value()
    total_files = len(res.cleaned.inputFiles())
    assert total_files >= len(dates)
    assert n_files < total_files, (n_files, total_files)
    assert n_files <= total_files // len(dates) + 1


def test_dynamic_partition_pruning_on_dim_join(spark, tmp_path):
    """DPP at 100 TB: when the partition key is only constrained
    THROUGH a join (fact partitioned by date ⋈ filtered dim of dates),
    static pruning can't fire — Spark must inject a dynamicpruning
    subquery on the fact scan so only the dim-selected partitions are
    read. This is the mechanism that makes date-dim star joins
    affordable on a partitioned lake; pin that our partitioned layout
    actually triggers it."""
    from pyspark.sql import functions as F

    from data_pipeline_and_visualization_dashboard_spark.pipeline import (
        run_events_pipeline,
    )
    from tests.conftest import SF_SMOKE

    out = str(tmp_path / "events_clean")
    res = run_events_pipeline(spark, SF_SMOKE, out_path=out)
    dates = sorted(
        r.event_date
        for r in res.cleaned.select("event_date").distinct().collect()
    )
    assert len(dates) > 1
    # a real date-dim: parquet-backed, SAME key dtype as the partition
    # column (a cast on the pruning key defeats DPP), with a selective
    # label predicate — the star-schema shape DPP was built for
    dim_path = str(tmp_path / "date_dim")
    spark.createDataFrame(
        [(d, "picked" if d == dates[0] else "other") for d in dates],
        "d_date string, d_label string",
    ).select(
        F.col("d_date").cast("date").alias("d_date"), "d_label"
    ).write.parquet(dim_path)
    dim = spark.read.parquet(dim_path).filter(
        F.col("d_label") == "picked"
    )
    joined = res.cleaned.join(
        F.broadcast(dim), res.cleaned.event_date == dim.d_date
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, plan[:3000]
    # the pruning subquery must sit on the fact scan's
    # PartitionFilters, keyed by the partition column
    assert "PartitionFilters" in plan and "event_date" in plan.split(
        "dynamicpruning"
    )[0].rsplit("PartitionFilters", 1)[-1], plan[:3000]
    # physical witness is semantic here: a per-file probe via
    # input_file_name() can't be used (a nondeterministic projection
    # on the scan suppresses DPP insertion itself), and the static
    # twin above already proves directory pruning reaches numFiles.
    # The join must return exactly the picked partition's rows.
    expected = res.cleaned.filter(
        F.col("event_date") == F.lit(dates[0])
    ).count()
    assert joined.count() == expected > 0


def test_minhash_explode_stays_above_repartition(spark):
    """InferFiltersFromGenerate regression pin: a plain explode() over
    the computed shingle array makes Catalyst synthesize a
    `size(shingles) > 0` filter whose condition INLINES the whole
    tokenize+shingle expression, then pushes it below the doc_id
    repartition — so split(lower(trim(text))) runs 4× per row inside
    the single-task scan stage (2.3s vs 0.2s at sf0.1). The
    explode_outer spelling must keep the scan-side plan free of any
    tokenizer work: below the Exchange there may be only the scan and
    the pushed isnotnull(text) filter."""
    from data_pipeline_and_visualization_dashboard_spark.extras import dedup

    sh = dedup.shingle_sets(spark, SF_CORRECT)
    from pyspark.sql import functions as F

    ex = sh.select("doc_id", F.explode_outer("shingles").alias("s"))
    plan = ex._jdf.queryExecution().executedPlan().toString()
    below_exchange = plan.split("Exchange hashpartitioning", 1)[1]
    assert "split(" not in below_exchange, below_exchange[:2000]
    assert "transform(" not in below_exchange, below_exchange[:2000]
    # and the explode itself must not have regrown an inferred filter
    # node between Generate and the Exchange (size(shingles)>0 check)
    head = plan.split("Exchange hashpartitioning", 1)[0]
    assert "Filter" not in head, head[:2000]


def test_projection_pushdown_reaches_scan(spark):
    """S2: a two-column projection must shrink the parquet ReadSchema
    (SURVEY §2.1) — reading all columns for a 2-column query is wrong."""
    from data_pipeline_and_visualization_dashboard_spark.io import read_table

    df = read_table(spark, SF_CORRECT, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan

def test_dynamic_partition_pruning_on_date_partitioned_fact(spark, tmp_path):
    """DPP proof — the F7-at-100TB story, dynamic edition: a fact table
    partitioned by event_date joined to a dim filtered on a NON-join
    column must get a runtime dynamicpruning PartitionFilter (the dim's
    broadcast result prunes fact partitions before the scan), so only
    matching date directories are read even though the matching dates
    are not known at plan time.

    Catalyst gotcha pinned here: the dim-side predicate must be
    'likely selective' (EqualTo/IN/LIKE...). A bare boolean attribute
    filter (.filter(F.col('is_hot'))) is NOT considered selective and
    silently disables DPP — spell dim flags as value comparisons."""
    from pyspark.sql import functions as F

    from data_pipeline_and_visualization_dashboard_spark.io import read_table

    ev = read_table(spark, SF_CORRECT, "events",
                    ["event_id", "ts", "user_id", "value"])
    ev = ev.withColumn("event_date", F.to_date("ts"))
    fdir = str(tmp_path / "fact")
    ddir = str(tmp_path / "dim")
    ev.write.partitionBy("event_date").mode("overwrite").parquet(fdir)
    fact = spark.read.parquet(fdir)
    dim = fact.select("event_date").distinct().withColumn(
        "tag", F.when(F.dayofmonth("event_date") <= 3, "hot")
               .otherwise("cold"))
    dim.write.mode("overwrite").parquet(ddir)
    dimdf = spark.read.parquet(ddir).filter(F.col("tag") == "hot")
    j = fact.join(dimdf, "event_date").groupBy("event_date").agg(
        F.sum("value").alias("v"))
    j.collect()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan, plan[:2000]
    assert "SubqueryBroadcast" in plan  # reused broadcast, no extra job


def test_runtime_bloom_filter_prunes_shuffle_join(spark):
    """Runtime bloom-filter join pruning: for a shuffle join where one
    side is selectively filtered, Catalyst builds a bloom filter from
    the filtered side and pushes might_contain onto the big side's
    scan — rows that can't join die before the shuffle. At 100 TB this
    is the difference between shuffling all of lineitem and shuffling
    the ~20% that survives the orders predicate. Thresholds are scaled
    down here (the application-side default is 10 GB) to prove the
    mechanics on test-sized data."""
    from pyspark.sql import functions as F

    from data_pipeline_and_visualization_dashboard_spark.io import read_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        orders = read_table(
            spark, SF_CORRECT, "orders", ["o_orderkey", "o_orderpriority"]
        ).filter(F.col("o_orderpriority") == "1-URGENT")
        li = read_table(spark, SF_CORRECT, "lineitem",
                        ["l_orderkey", "l_quantity"])
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).agg(
            F.sum("l_quantity").alias("qty"))
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_splits_skewed_join_at_runtime(spark, tmp_path):
    """AQE skew-join: a hot key whose shuffle partition dwarfs the
    median gets SPLIT at runtime — the engine-owned complement to the
    deterministic salting of q40 (salting pre-plans the spread; AQE
    reacts to skew it discovers in the shuffle stats). At 100 TB this
    is what keeps one boilerplate join key from pinning a single
    executor for hours. Thresholds are scaled down to demonstrate the
    mechanics on test-sized data; the assertion pins the runtime plan
    markers (SortMergeJoin(skew=true), AQEShuffleRead ... skewed).

    Note the test's join deliberately has NO downstream aggregation:
    splitting a partition breaks the join's hash-partitioning
    guarantee, so AQE declines the optimization when a downstream
    stage depends on that partitioning — itself a scale lesson (pair
    skew-join with sinks, or force with forceOptimizeSkewedJoin)."""
    from pyspark.sql import functions as F

    d = str(tmp_path)
    hot = spark.range(500_000).selectExpr("0 AS k", "id AS payload")
    cold = spark.range(10_000).selectExpr(
        "(id % 100) + 1 AS k", "id AS payload"
    )
    hot.unionAll(cold).write.mode("overwrite").parquet(d + "/fact")
    spark.range(101).selectExpr(
        "id AS k", "concat('dim_', id) AS label"
    ).write.mode("overwrite").parquet(d + "/dim")
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        fact = spark.read.parquet(d + "/fact")
        dim = spark.read.parquet(d + "/dim")
        j = fact.join(dim, "k").select("payload", "label")
        assert len(j.collect()) == 510_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin(skew=true)" in plan, plan[:2000]
        assert "skewed" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

def test_vocab_rank_has_no_single_partition_window(spark):
    """vocab_table's total-order ids must come from the two-phase rank
    (range partition + local row_number + offset join), never a global
    window: every Window node in the plan must carry a real partition
    spec (the rank width is sized to the DATA — ~1M rows/task — so the
    production path legitimately collapses to one range partition on a
    30k-token test vocab; the multi-partition mechanics are pinned
    below by forcing a small rows_per_task)."""
    plan = _plan(spark, "text_vocab")
    for line in plan.splitlines():
        if "windowspecdefinition(" in line:
            spec = line.split("windowspecdefinition(", 1)[1]
            # partitioned window specs lead with the partition column
            # (_pid#N); an empty partition spec would lead with the
            # order key directly
            assert spec.lstrip().startswith("_pid#"), line


def test_two_phase_rank_multi_partition_equals_window(spark):
    """Force the two-phase rank to actually fan out (tiny
    rows_per_task) and pin BOTH properties the scale argument needs:
    the plan carries a real range exchange with no unpartitioned
    window, and the ids are IDENTICAL to a single-partition
    row_number over the same strict order."""
    from pyspark.sql import Window, functions as F

    from data_pipeline_and_visualization_dashboard_spark.extras.text import (
        _global_row_number,
    )
    from data_pipeline_and_visualization_dashboard_spark.io import read_table

    docs = read_table(spark, SF_CORRECT, "documents",
                      ["doc_id", "n_chars"])
    ranked = _global_row_number(
        docs, [F.desc("n_chars"), F.asc("doc_id")], "rk",
        rows_per_task=50,
    )
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "Exchange rangepartitioning" in plan
    for line in plan.splitlines():
        if "windowspecdefinition(" in line:
            spec = line.split("windowspecdefinition(", 1)[1]
            assert spec.lstrip().startswith("_pid#"), line
    w = Window.orderBy(F.desc("n_chars"), F.asc("doc_id"))
    expected = {
        r.doc_id: r.rk
        for r in docs.withColumn("rk", F.row_number().over(w)).collect()
    }
    got = {r.doc_id: r.rk for r in ranked.collect()}
    assert got == expected


def test_bucketed_join_query_is_exchange_free(spark):
    """q60's whole point: with both facts bucketed on the join key at
    write time, the SortMergeJoin must consume the bucketed layout —
    no shuffle exchange AND no broadcast on either side (a broadcast
    would hide the missing co-location at small SF). The final agg may
    exchange on its (tiny) group key; the pin is on the join inputs:
    no Exchange at all between the scans and the SMJ."""
    from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
        q60_bucketed_join,
    )
    from tests.conftest import SF_SMOKE

    df = q60_bucketed_join(spark, SF_SMOKE)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # examine only AQE's final plan (the appended "Initial Plan" echo
    # repeats every node and would false-trip the Exchange scan below)
    plan = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" in plan, plan[:2000]
    assert "BroadcastExchange" not in plan, plan[:2000]
    join_part = plan.split("SortMergeJoin", 1)[1]
    assert "Exchange hashpartitioning" not in join_part, join_part[:2000]
    assert "Bucketed: true" in plan, plan[:2000]


def test_plan_audit_api(spark):
    """The user-facing audit must report the same facts the pins
    assert: q1 is a broadcast join with one shuffle and a top-k; the
    zero-shuffle codegen scorer shows no exchanges and no joins; scan
    columns prove projection pushdown."""
    from data_pipeline_and_visualization_dashboard_spark.plans import (
        plan_audit,
    )

    qs = entrymod.queries()
    a = plan_audit(qs["q1_top_nations"](spark, SF_CORRECT))
    assert a["joins"].get("BroadcastHashJoin", 0) >= 1
    assert a["shuffles"] <= 1 and a["top_k"] and not a["cartesian"]
    assert any(
        set(cols) <= {"c_custkey", "c_nationkey"} and len(cols) > 0
        for cols in a["scan_columns"]
    )  # customer scan pruned to the two join columns

    b = plan_audit(qs["text_quality_score"](spark, SF_CORRECT))
    assert b["shuffles"] == 0 and not b["joins"] and not b["cartesian"]
    # codegen spans only appear post-execution under AQE
    assert b["codegen_spans"] >= 0


def test_plan_audit_flags_global_windows(spark):
    """The audit's global-window detector (the round-2 vocab-builder
    scale trap, institutionalized): a deliberately unpartitioned
    window trips it; the repo's two-phase scale-safe spellings —
    q69's sweep cumsum and the vocab rank — audit clean; q31's
    KNOWN-tiny global window (pct-of-total over an aggregated series,
    the reference's own W1 pattern) is correctly reported as global."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_pipeline_and_visualization_dashboard_spark.plans import (
        plan_audit,
    )

    df = spark.range(10).withColumn("g", F.col("id") % 2)
    bad = df.withColumn("r", F.sum("id").over(Window.orderBy("id")))
    good = df.withColumn(
        "r", F.sum("id").over(Window.partitionBy("g").orderBy("id"))
    )
    assert plan_audit(bad)["global_windows"] == 1
    assert plan_audit(good)["global_windows"] == 0

    qs = entrymod.queries()
    assert (
        plan_audit(qs["q69_concurrent_sessions"](spark, SF_CORRECT))[
            "global_windows"
        ]
        == 0
    )
    assert (
        plan_audit(qs["text_vocab"](spark, SF_CORRECT))["global_windows"]
        == 0
    )
    assert (
        plan_audit(qs["q3_event_type_pct"](spark, SF_CORRECT))[
            "global_windows"
        ]
        >= 1
    )  # W1: agg-output-sized by construction — reported, not hidden


def test_kmv_overlap_single_shingle_exchange(spark):
    """VERDICT r5 next #1: the three `hs` consumers (sketch A slice,
    sketch B slice, exact readout) must share ONE shingle-grain
    build. ReuseExchange cannot collapse them (the
    TakeOrderedAndProject branches canonicalize differently — r6
    observed the hash Exchange 3x with distinct plan_ids), so
    kmv_overlap localCheckpoints `hs`; the pin is the checkpoint: the
    build runs once, before the plan, each of the three consumers
    scans the checkpoint (Scan ExistingRDD), and the printed plan
    holds no hash-grain Exchange at all — an independent build per
    consumer would print one each."""
    import re

    plan = _plan(spark, "sketch_kmv_overlap")
    assert plan.count("Scan ExistingRDD") == 3
    ids = re.findall(r"Exchange hashpartitioning\(h#\d+L?, \d+\)", plan)
    assert not ids, ids
    assert "TakeOrderedAndProject" in plan  # distributed bottom-K
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


# Fleet-wide plan gate (round 6): the per-query CASES above pin the
# queries we thought to pin; this sweep audits EVERY registry entry so
# a future query can't silently ship the two classic scale-killers.
# The whitelists are exhaustive equality, not membership — an entry
# that stops tripping the flag must be REMOVED here, keeping the lists
# honest.

# agg-output-sized window inputs, documented in each docstring (W1
# pct-of-total; ≤720-row hourly series; ≤N_BINS calibration bins)
GLOBAL_WINDOW_OK = {
    "q3_event_type_pct",
    "q93_rrf_fusion",  # 2 rank windows over already-LIMITed <=50-row frames
    "sim_search_rrf",  # 2 rank windows over already-LIMITed <=20-row frames
    "q31_moving_avg",
    "dedup_threshold_curve",
    # grand-total fold over the 25-row nation aggregate (the W1
    # pct-of-total idiom) — chosen INSTEAD of a 1-row readout join so
    # the fact subtree is planned once (fanout 1, unlike q95's
    # bounds-then-use double pass)
    "q96_theil_decomposition",
    # same idiom: token-share fold over the <=|sources x langs|-row
    # slice aggregate
    "corpus_data_card",
    # same idiom twice over the same slice aggregate (both release
    # token totals fold in ONE SinglePartition window)
    "corpus_release_diff_card",
    # same idiom, two DEPENDENT folds (token total, then the
    # pow-weight normalizer) sharing one SinglePartition exchange
    # over the <=|sources x langs|-row aggregate
    "corpus_mixture_plan",
}

# the deliberate BroadcastNestedLoopJoin idiom: a 1-row/tiny broadcast
# readout frame (min-max ranges, sketch folds, percentile cutpoints,
# centroid/projection/codebook literals) cross-joined onto the stream —
# plus the brute-force all-pairs ORACLE paths, which are documented as
# verification twins, never the scale path
CARTESIAN_OK = {
    "dedup_containment_topk",
    "q91_decayed_engagement",  # 1-row max-date readout broadcast
    "dedup_embedding_pairs", "dedup_ngram_jaccard_topk",
    "dedup_semantic", "dedup_semantic_trained",
    "dedup_simhash_hamming_topk", "dedup_threshold_curve",
    "q52_gap_fill", "q59_sliding_distinct", "q62_skew_stats",
    "q63_drift_kl", "q67_important_parts", "q69_concurrent_sessions",
    "q71_idle_rich_customers", "q86_zorder_layout",
    "q88_basket_pairs",
    "sim_centroid_assign", "sim_cosine_topk", "sim_diverse_subset",
    "sim_cosine_topk_pandas",  # an alias of sim_cosine_topk
    "sim_ivf_recall_guard", "sim_ivfpq_recall_guard",
    "sim_mmr_rerank",
    "sim_pq_adc_topk", "sim_rp_topk", "sim_rp_topk_pretrained",
    "sim_sq_topk", "sketch_bloom_bits", "sketch_bloom_prefilter",
    "sketch_hist_quantiles", "sketch_hll_estimate",
    "sketch_kmv_estimate", "sketch_kmv_overlap", "text_dsir_weights",
    "text_lm_logprob", "text_mix_sample", "text_search_bm25",
    "sim_search_rrf",  # 1-row n_docs broadcast + 1-row query-vector join
    "text_search_ranked", "text_tfidf_topk", "text_vocab",
    "text_vocab_encode",
}


# Queries allowed to plan >= 3 FileScans of the same FACT table (the
# r12 duplicated-subtree gate; see plans._fact_scan_fanout). Each
# entry has a structural reason — a pair join rejoins the corpus once
# per side, a funnel re-reads per curation stage, a recall harness
# runs index + query + oracle over the same embeddings, a multi-pass
# statistic (median/MAD, set ops, unrolled PageRank) scans per pass.
# What the gate prevents is the q92_value_gini_binned failure mode:
# an operator whose DOCSTRING claims k passes silently planning more
# because static exchange reuse never bridges re-aliased aggregate
# branches. New >= 3-fanout queries must be added HERE deliberately,
# with their reason.
FACT_FANOUT_OK = {
    # pair/candidate joins — corpus texts rejoined per pair side,
    # plus the signature/candidate build itself. NOT here: the
    # entries whose signature, verified-pair or fingerprint frame is a
    # checkpoint and whose plan then reads documents at most twice
    # (dedup_minhash_pairs, dedup_incremental_pairs,
    # dedup_containment_est, dedup_training_triplets,
    # dedup_simhash_pairs), and dedup_simhash_hamming_topk, which
    # reads its fingerprint subtree once per pair side:
    "dedup_incremental_exact", "dedup_pair_features",
    "dedup_embedding_pairs_lsh",
    "dedup_split_leakage", "dedup_semantic", "dedup_threshold_curve",
    # staged curation funnels — one pass per quality/exact/near stage
    # (corpus_shard_manifest left r16: it reads the survivors_table
    # artifact now, zero fact scans in its own plan; corpus_funnel and
    # corpus_survivors left when their stage flags became a
    # checkpoint, which their plans read instead of the documents):
    "corpus_forget_impact",
    # ANN index + query + (for guards) brute-force oracle over the
    # same embeddings; MMR re-ranks against the candidate pool:
    "sim_ivf_topk", "sim_ivf_topk_pretrained",
    "sim_ivf_recall_guard", "sim_ivfpq_recall_guard", "sim_mmr_rerank",
    # retrieval — postings build + corpus-stats frame + doc-length
    # norm over the same documents:
    "text_search_bm25", "text_search_ranked", "text_tfidf_topk",
    "text_lm_logprob", "text_mix_sample", "sim_search_rrf",
    # multi-pass SQL statistics — one scan per pass by construction
    # (NOT here: q51_nation_pagerank and sketch_kmv_overlap, whose
    # edge matrix and hash frame are checkpoints their plans never
    # rescan):
    "q25_set_ops",          # each set-op branch scans
    "q39_interval_join",    # as-of bounds + probe sides
    "q52_gap_fill",         # spine bounds + LOCF source + fill
    "q63_drift_kl",         # per-day dist + corpus dist + readout
    "q66_late_supplier_blame",  # EXISTS/NOT-EXISTS double self-join
    "q66_late_supplier_blame_agg",  # an alias of q66_late_supplier_blame
    "q69_concurrent_sessions",  # sweep endpoints from both interval ends
    "q88_basket_pairs",     # basket pair sides + basket sizes
    "q90_mad_outliers",     # median pass + MAD pass + flag pass
    "sketch_hist_quantiles",  # bounds pass + bin pass + readout
    "q100_rfm_segments_approx",  # sketch pass + scoring pass (per_cust
    # subtree planned twice — the classic two-pass threshold shape;
    # in production pass 1's 25-row table is a per-corpus artifact)
}


# Queries whose OWN constructor marks a subtree .cache()d, so their
# plan prints InMemoryTableScan at the cache boundary and
# fact_scan_fanout is a LOWER bound for them (ADVICE r12 #2 — the
# per-query clearCache clears OTHER entries' caches, not a query's
# own). Every entry caches deliberately: the cache IS the fix for a
# multi-consumer subtree that would otherwise re-plan (the q92 lesson
# applied in the other direction), so the carve-out is explicit and
# annotated rather than silent.
#
# None today: the MinHash signature, verified-pair and SimHash
# fingerprint frames, q51's edge matrix, kmv_overlap's hash frame and
# the funnel's stage flags are localCheckpointed, not cached, so their
# entries plan an existing-RDD scan, not an InMemoryTableScan (a cache
# over a fresh checkpoint could never be hit again; corpus_funnel and
# corpus_survivors left on that ground, corpus_shard_manifest in r16:
# the artifact scan caches nothing).
SELF_CACHE_OK: set[str] = set()


# weakref-keyed (ADVICE r12 #3, hardened by the r13 self-review): a
# re-created or re-configured session in the same process must not
# reuse a stale sweep. An id(spark) key would be wrong twice — CPython
# can reuse a freed session's address (stale hit), and dead ids would
# pile up (no eviction). A WeakKeyDictionary holds the session itself
# while alive (identity cannot be recycled under a live key) and the
# entry vanishes with the session.
import weakref

_FLEET_SWEEPS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _fleet_sweep(spark) -> dict:
    """ONE full-registry planning sweep shared by both fleet gates
    (code-review r12: the two gates used to each pay the ~150-query
    planning loop, and cache state leaked between them and between
    registry entries). Per-query spark.catalog.clearCache() makes
    every plan COLD-cache deterministic: registry constructors call
    .cache() during frame construction, so without the per-query
    clear a subtree cached by an earlier entry prints
    InMemoryTableScan in later plans — hiding FileScans (weakening
    the fanout gate), and potentially hiding joins/windows inside the
    cached block (coupling the plan gate to test execution order).
    dedup_snapshot_ledger is skipped: building its frame drives a
    Structured Streaming job; its readout is a plain partitioned
    scan."""
    cached = _FLEET_SWEEPS.get(spark)
    if cached is not None:
        return cached
    from data_pipeline_and_visualization_dashboard_spark.plans import (
        plan_audit,
    )
    from tests.conftest import SF_SMOKE

    gw, cart, fanout, selfcache = set(), set(), set(), set()
    for name, fn in entrymod.queries().items():
        if name == "dedup_snapshot_ledger":
            continue
        spark.catalog.clearCache()
        a = plan_audit(fn(spark, SF_SMOKE))
        if a["global_windows"]:
            gw.add(name)
        if a["cartesian"]:
            cart.add(name)
        if any(n >= 3 for n in a["fact_scan_fanout"].values()):
            fanout.add(name)
        if a["cached_scans"]:
            selfcache.add(name)
    spark.catalog.clearCache()
    flags = dict(gw=gw, cart=cart, fanout=fanout, selfcache=selfcache)
    _FLEET_SWEEPS[spark] = flags
    return flags


def test_fleet_scan_fanout_gate(spark):
    """No registry query may plan >= 3 FileScans of the same fact
    table unless it is on the annotated whitelist (exact equality
    from a per-query cold cache, so stale entries fail too). This is
    the anti-regression gate for the r12 q92_value_gini_binned
    finding: its self-join formulation planned the bins subtree 3x —
    4 fact passes where the docstring promised 2 — and nothing
    failed.

    Stated carve-out (ADVICE r12 #2): the per-query clearCache makes
    plans cold with respect to OTHER entries' caches, but a query
    whose own constructor calls .cache() prints InMemoryTableScan at
    that boundary, so for the SELF_CACHE_OK set the FileScan count is
    a lower bound — those queries' fanout is governed by the
    self-cache gate below, not this one."""
    flagged = _fleet_sweep(spark)["fanout"]
    assert flagged == FACT_FANOUT_OK, (
        f"new >=3-fact-scan fanout: {flagged - FACT_FANOUT_OK}; "
        f"stale whitelist: {FACT_FANOUT_OK - flagged}"
    )


def test_fleet_self_cache_gate(spark):
    """Exactly the annotated SELF_CACHE_OK queries plan an
    InMemoryTableScan from their own constructor's .cache() (exact
    equality, cold cache). This makes the fanout gate's blind spot
    explicit AND bounded: a new self-caching operator must be listed
    here with its reuse reason, and a whitelisted one that stops
    caching must be removed — so 'the fanout count is a lower bound'
    is only ever true for queries this list names."""
    flagged = _fleet_sweep(spark)["selfcache"]
    assert flagged == SELF_CACHE_OK, (
        f"new self-caching plans: {flagged - SELF_CACHE_OK}; "
        f"stale whitelist: {SELF_CACHE_OK - flagged}"
    )


def test_fleet_plan_gate(spark):
    """No registry query may carry an unpartitioned window or an
    unconditioned join that is not on the documented whitelist
    (exact equality, so stale whitelist entries fail too)."""
    flags = _fleet_sweep(spark)
    flagged_gw, flagged_cart = flags["gw"], flags["cart"]
    assert flagged_gw == GLOBAL_WINDOW_OK, (
        f"new global windows: {flagged_gw - GLOBAL_WINDOW_OK}; "
        f"stale whitelist: {GLOBAL_WINDOW_OK - flagged_gw}"
    )
    assert flagged_cart == CARTESIAN_OK, (
        f"new cartesian/BNLJ: {flagged_cart - CARTESIAN_OK}; "
        f"stale whitelist: {CARTESIAN_OK - flagged_cart}"
    )


def test_literal_matrices_stay_compact(spark):
    """r16 optimization pin (OPTIMIZATION_r16.md change 1): constant
    matrices enter plans as ONE nested array literal consumed through
    a higher-order function — `zip_with([…` / `transform([…` in the
    plan text — never as dim×k separate CreateArray(lit, …) trees,
    whose Catalyst planning cost dominated every per-call cost of the
    similarity family (the wide form plans a separate fold per
    code/centroid/plane: 64 `aggregate(zip_with(slice…` subtrees for
    PQ alone).  Counts are exact so a regression OR a further
    restructuring both surface here deliberately."""
    # PQ encode: one zip_with-over-literal per block, no per-code trees
    plan = _plan(spark, "sim_pq_codes")
    from data_pipeline_and_visualization_dashboard_spark.extras.similarity import (
        PQ_BLOCKS,
    )

    assert plan.count("zip_with([") == PQ_BLOCKS, plan[:2000]
    # RP projection: the whole matrix rides ONE transform-over-literal
    # (planned over the embeddings: the encode runs when the disk index
    # is built, and sim_rp_topk ranks the persisted projections)
    from pyspark.sql import functions as F

    from data_pipeline_and_visualization_dashboard_spark import queries_ext as qx
    from data_pipeline_and_visualization_dashboard_spark.extras.similarity import (
        rp_project,
    )
    from data_pipeline_and_visualization_dashboard_spark.io import read_table
    from data_pipeline_and_visualization_dashboard_spark.plans import (
        physical_plan,
    )

    emb = read_table(spark, SF_CORRECT, "embeddings", ["vec_id", "embedding"])
    plan = physical_plan(rp_project(emb))
    assert plan.count("transform([") >= 1, plan[:2000]
    # LSH bucketing: planes as one literal fold on each side (query +
    # corpus), never 8 separate when(dot(CreateArray…)) chains
    plan = _plan(spark, "sim_lsh_buckets")
    assert plan.count("zip_with([") == 1, plan[:2000]
    # IVF centroid structs: one zip_with-over-literal per side (corpus
    # assign + query probe), never k separate struct(CreateArray…)
    # trees — the sims themselves still fold via zip_with(ev, c)
    # inside the lambda, which prints differently and is not counted
    # (>= 2, not ==: several operators print the same probe/assign
    # expression, so the exact count tracks plan printing, not code —
    # a revert to the wide form zeroes it, which is what this pins).
    # The corpus side is planned over the embeddings as the disk-index
    # build and the stream run it; sim_ivf_topk plans the query probe
    # over the persisted assignment.
    assign = physical_plan(
        emb.select(F.col("embedding").cast("array<double>").alias("ev"))
        .select(qx.nearest_centroid(qx.ivf_index(spark, SF_CORRECT)))
    )
    plan = _plan(spark, "sim_ivf_topk")
    n_assign, n_probe = assign.count("zip_with(["), plan.count("zip_with([")
    assert n_assign >= 1 and n_probe >= 1, (assign[:2000], plan[:2000])
