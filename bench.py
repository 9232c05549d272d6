"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:

  {"metric": "total_query_sec", "value": N, "unit": "sec",
   "queries": {name: sec, ...}, "sf": 0.1}

Each query is fully materialized ENGINE-SIDE via the noop sink (every
column computed, nothing shipped to the Python driver) — measuring the
engine, not py4j row transfer. Session startup is excluded; a full
warmup pass primes JVM/codegen so numbers reflect steady state.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

import __spark_entry__ as entrymod
from data_pipeline_and_visualization_dashboard_spark.session import get_spark


def family(name: str) -> str:
    """Query-name → bench family. THE single classifier: the final
    summary line's family_sec and scripts/fit_scale_ladder.py's
    per-op family tags both import this, so the two records can never
    diverge."""
    if name.startswith("q"):
        return "sql"
    if name.startswith(("dedup_", "corpus_")):
        return "dedup"
    prefix = name.split("_", 1)[0]
    return {"sim": "similarity", "sketch": "sketches",
            "text": "text", "media": "media"}.get(prefix, "other")

# HEADLINE vs registry — the exclusion policy (VERDICT r6 next #7).
# The registry holds 215 entries; HEADLINE benches 136.  The 79
# excluded entries fall into six families, each excluded for a reason,
# not forgotten:
#   1. display-grain chart twins / plan-shape variants of benched
#      queries (q2-q4, q7-q11, q15, q17-q19, q22-q26, q28-q35,
#      q38-q44, q46, q49, q54-q59, q65, q67, q68, q66_agg,
#      sim_centroid_assign, text_lang_id, sketch_countmin_topk_est,
#      sketch_kmv_estimate): every distinct physical plan shape
#      (join strategy, window kind, Expand, sample, skew salt) is
#      covered by a HEADLINE representative; benching both members
#      would double-count the same engine path.
#   2. artifact-stage readouts (dedup_minhash_signatures,
#      dedup_simhash_fingerprints, sim_pq_codes, sim_lsh_buckets,
#      sketch_hll_registers, sketch_bloom_bits, text_vocab,
#      text_tokens_bpe, text_chunks, text_packing, text_split_assign,
#      text_quality_filter, media_resized, corpus_survivors,
#      dedup_exact_docs, dedup_survivor_policy, dedup_training_triplets,
#      dedup_pair_features, dedup_contamination): intermediate stages
#      whose cost is already inside a benched downstream op (funnel,
#      *_pretrained serving, bpe_apply) or under index_build_sec.
#   3. brute-force accuracy-oracle twins (dedup_embedding_pairs,
#      dedup_ngram_jaccard_topk, dedup_containment_topk,
#      dedup_simhash_hamming_topk, dedup_embedding_pairs_lsh's exact
#      side, and text_pack_bestfit — the BFD planning tool that
#      prices the concat packer's splits; the benched scale path is
#      text_pack_sequences): exist to verify/measure, not to be
#      fast; timing them would reward paths the engine must never
#      take at scale.
#   4. aliases (sim_ivf_topk, sim_ivfpq_topk, sim_cosine_topk_pandas):
#      the same functions as the benched *_pretrained names and
#      sim_cosine_topk; the one-time index build is priced separately
#      in index_build_sec.
#   5. streaming harness (dedup_snapshot_ledger): timing would
#      measure checkpoint/trigger scheduling, not an operator (see
#      the note at the end of this list).
#   6. search micro-probes (text_search_and, text_search_near):
#      boolean/positional walks over the same postings frame whose
#      build + ranked/phrase/bm25 probes are all benched.
# Per-query baseline re-freezes overlaid on the frozen r6 floor when
# computing baseline_ratio (VERDICT r8 housekeeping #2).  The r6 file
# BENCH_full_r06.json is NEVER mutated — it stays the pristine round-6
# record per the BASELINE.md re-freeze policy; these entries replace
# its values inside the ratio only, each with its reason here and a
# matching paragraph in BASELINE.md.
BASELINE_REFREEZE = {
    # r6's 0.44s was the vacuous-era floor: the query filtered on the
    # phantom literal REGION_0 (0-row aggregation).  r7 fixed it to
    # ASIA; the honest post-fix floor is the r8 full-run best-of-3
    # (BENCH_full_r08.json).  Keeping 0.44 showed a fake ×2.04.
    # Re-frozen DOWNWARD r14 per the stricter-only clause: the r14
    # session's fleet scan (the r13 uniformity lesson, applied to the
    # WHOLE overlay every round now) found BENCH_full_r14b.json
    # reading 0.793, under the r8 freeze:
    "q21_nation_revenue": 0.793,
    # ---- r10 COVERAGE EXTENSION (VERDICT r9 ask #3): the overlay now
    # also ADDS baseline entries for every headline query added after
    # the r6 freeze, so baseline_ratio covers the FULL headline
    # (baseline_n_common == len(HEADLINE)) instead of the 112-key r6
    # subset.  Values are each query's FIRST committed >=2-run floor —
    # never a later (possibly improved or degraded) draw:
    # r9 additions, from BENCH_full_r09.json (2-run floor);
    # q90_mad_outliers and dedup_containment_est re-frozen DOWNWARD
    # r16 per the uniform stricter-only fleet scan (session floors
    # 0.613 / 1.349 undercut the r9 freezes 0.617 / 1.394); q90
    # tightened again by the r16 optimization-phase run 15 (.new14,
    # 0.581):
    "q90_mad_outliers": 0.581,
    "text_token_entropy": 0.338,
    "dedup_containment_est": 1.349,
    "sketch_ams_f2": 0.361,
    # r10 additions, originally frozen from the hot-box
    # BENCH_full_r10.json 4-run floor (0.332/0.806/0.258/0.485) and
    # re-frozen DOWNWARD r12 from the BENCH_full_r12{,b,c}.json 3-run
    # floor per BASELINE.md's stricter-only clause (the r12 floors
    # confirmed the r11 driver's cool-box reading; drift log closes
    # the r10 hot-box caveat):
    "q91_decayed_engagement": 0.291,
    "q92_value_gini": 0.763,
    "q93_rrf_fusion": 0.224,
    "text_hashed_features": 0.426,
    # r11 additions, frozen r12 at their FIRST committed >=2-run floor
    # (BENCH_full_r12{,b,c}.json 3-run floor — VERDICT r11 ask #1);
    # q94 re-frozen DOWNWARD r14 (fleet scan: BENCH_full_r14i.json
    # read 0.423 — 1 ms, applied anyway, the clause is uniform):
    "q94_hhi_concentration": 0.423,
    "sim_search_rrf": 0.970,
    # r12 additions, frozen at their first committed floor: the
    # BENCH_full_r12b/r12c 2-run floor (run 1 predates
    # q92_value_gini_binned's self-join->array-fold rewrite and
    # sketch_ams_hhi's registration, so it is excluded for both):
    "q92_value_gini_binned": 0.669,
    "sketch_ams_hhi": 0.820,
    # frozen at its first committed floor, the BENCH_full_r12d/r12e
    # 2-run pair (registered after the r12/b/c runs); re-frozen
    # DOWNWARD r14 per the stricter-only clause (fleet scan:
    # BENCH_full_r14b.json read 0.560):
    "q95_top_decile_share": 0.560,
    # r13 additions, each frozen at its first committed >=2-run floor.
    # text_pack_sequences: first frozen at the r13{,b,c} 3-run floor
    # (0.393), then re-frozen DOWNWARD r14 per BASELINE.md's
    # stricter-only clause to the BENCH_full_r13k.json reading (0.386)
    # — VERDICT r13 ask #2: the clause that re-froze q97/cm in-session
    # applies uniformly, and run k's 0.386 undercut the abc freeze.
    # q96_theil_decomposition: the r13d/r13e pair (registered after
    # the abc runs).  The r13 session started in a SLOW box regime
    # that decayed to baseline across the five runs (drift log r13:
    # fleet 5-run floor ×1.007 over r6), so both freezes sit at or
    # near regime-neutral floors:
    "text_pack_sequences": 0.386,
    "q96_theil_decomposition": 0.439,
    # late-r13 additions, frozen at their first committed >=2-run
    # floors and re-frozen DOWNWARD in the same session when the
    # third wave (BENCH_full_r13{j,k}.json) decayed toward baseline
    # (ratios 1.096/1.052 after the hot f-i wave's 1.13-1.35 —
    # exactly the stricter-only clause's purpose).
    # q97_atkinson_index: 6-run floor (f 0.802 under the session's
    # own pytest load — drift log; g/h/i 0.538/0.533/0.543; j/k
    # 0.500/0.510); re-frozen DOWNWARD r16 per the uniform
    # stricter-only scan (BENCH_full_r16.json.new9, the session's
    # coolest late draw, read 0.487).
    # sketch_cm_join_card: 4-run floor (h/i 0.353/0.368, j/k
    # 0.322/0.320; registered after f/g).
    # q98_last_touch_attribution: the j/k pair (registered after i):
    "q97_atkinson_index": 0.487,
    "sketch_cm_join_card": 0.320,
    "q98_last_touch_attribution": 0.347,
    # r14 addition, first frozen at the BENCH_full_r14/r14b 2-run
    # floor (2.708, dominated by the near-dup component build the
    # operator re-ran per query).  RE-BASED r15 on the deliberate-
    # engine-change clause: the operator now reads the materialized
    # cluster_table artifact (built once per corpus, priced in
    # index_build_sec) and prices the policy stage alone — new floor
    # from the BENCH_full_r15/r15.new 2-run pair (1.234/1.330, both
    # hot-regime ratios 1.206/1.184); tightened IN-SESSION per the
    # stricter-only clause by the cooler third run (r15.new2, 1.140)
    # and again by run 5 (r15.new4, 1.137) — the 6-run session
    # floor; tightened again r16 optimization phase (.new13, 0.979):
    "dedup_canonical_pick": 0.979,
    # second r14 addition, first frozen at the BENCH_full_r14c/r14d
    # pair floor (0.556/0.647, both hot-regime) and re-frozen
    # DOWNWARD in the same session when the confirmation pair's run h
    # (BENCH_full_r14h.json) read 0.547 — the stricter-only clause,
    # as forecast in the first freeze comment; run i then read 0.490
    # and the clause applied again:
    "q99_linear_attribution": 0.490,
    # third r14 addition, first frozen at the BENCH_full_r14e/r14f
    # pair floor (0.775/1.161 — e partially under the session's own
    # pytest load, f clean) and re-frozen DOWNWARD in the same
    # session from the confirmation pair (g 0.756, h 0.712 —
    # BENCH_full_r14h.json), then again from run i (0.697) and
    # once more r16 optimization phase (.new14, 0.683):
    "q100_rfm_segments": 0.683,
    # fourth r14 addition, frozen at the r14i/j pair floor (3.437),
    # re-frozen 3.337 from the r14 driver's post-session run
    # (stricter-only, VERDICT r14 ask #5), then RE-BASED r15 on the
    # deliberate-engine-change clause: the diagnostic now reads the
    # materialized cluster_table artifact instead of re-running the
    # component build per query — new floor from the
    # BENCH_full_r15/r15.new 2-run pair (1.247/1.271, hot-regime
    # runs); tightened in-session from the cooler third run
    # (r15.new2, 1.150) and again r16 optimization phase (.new12,
    # 0.994):
    "text_quality_calibration": 0.994,
    # r15 addition 1, first frozen at 4.258 (r15 2-run floor) and
    # tightened to 3.479 across the r15 session — the cost was the
    # curation funnel the manifest re-composed per query.  RE-BASED
    # r16 on the deliberate-engine-change clause (VERDICT r15 ask
    # #4): the query now reads the materialized survivors_table
    # artifact — (doc_id, n_tokens, doc_hash) scan + ONE
    # <=n_shards-row agg, zero joins, text never read — and prices
    # its own stage the way canonical_pick does; the funnel is priced
    # once per corpus in the new survivors_table index_build_sec line
    # (4.4 s cold at sf0.1, ~0.08 s on cache hit), and corpus_funnel/
    # corpus_survivors keep their fresh floors so end-to-end stays
    # measured.  New floor from the BENCH_full_r16/.new 2-run pair
    # (0.171/0.188, ratios 1.050/1.141); tightened in-session per the
    # stricter-only clause by run 4 (.new3, 0.164):
    "corpus_shard_manifest": 0.164,
    # r15 addition 2, frozen at its first committed >=2-run floor
    # (BENCH_full_r15/r15.new: 1.804/2.090).  At sf0.1 the fallback
    # pays MORE than exact q100 (0.827): two fact passes + the
    # 24-indicator rank guard vs one cheap in-partition sort — the
    # honest bench-SF price of a spelling whose win is the removed
    # per-nation sort at whale-nation scale (see the ladder wave).
    # Tightened in-session by run 3 (1.780) and again by run 6
    # (r15.new5, 1.662); re-frozen DOWNWARD r16 per the uniform
    # stricter-only fleet scan (BENCH_full_r16.json read 1.654):
    "q100_rfm_segments_approx": 1.654,
    # r15 addition 3, frozen at its first committed >=2-run floor
    # (BENCH_full_r15.json.new4/.new5: 1.401/1.265, both hot-regime
    # runs — ratios 1.233/1.267).  One quality pass + the broadcast
    # cluster-artifact join + a tiny slice agg; most of the reading
    # is the corpus scan the scorer shares with text_quality_score.
    # Tightened in-session by run 7 (r15.new6, 1.175); re-frozen
    # DOWNWARD r16 per the uniform stricter-only fleet scan
    # (BENCH_full_r16.json read 1.172), then again in the r16
    # optimization phase (.new13, 1.079):
    "corpus_data_card": 1.079,
    # r16 addition, frozen at its first committed >=2-run floor
    # (BENCH_full_r16/.new: 0.490/0.561, ratios 1.050/1.141).  Two
    # doc-grain hash+count projections -> full-outer SMJ on doc_id ->
    # slice agg -> W1 double-total share fold; the reading is
    # scan+join-bound (two passes over documents), well under the
    # funnel-composing ops by construction:
    "corpus_release_diff_card": 0.490,
    # second r16 addition (registered after the first three full
    # runs — the q95/corpus_data_card precedent), frozen at its first
    # committed >=2-run floor (BENCH_full_r16.json.new3/.new4:
    # 0.382/0.533).  Two <=n_shards-row manifest aggs + a 16-row
    # full-outer join — the incremental-publish readout; the doc
    # scans are the whole cost:
    "corpus_shard_diff": 0.382,
    # third r16 addition, frozen at its first committed >=2-run floor
    # (BENCH_full_r16.json.new7/.new8: 0.382/0.423, both hot-regime
    # draws — ratios 1.416/1.328), tightened in-session per the
    # stricter-only clause when the cooler run 11 (.new10, ratio
    # 1.214) read 0.369; tightened again by the optimization-phase
    # run 14 (.new13, 0.342):
    "corpus_mixture_plan": 0.342,
    # ---- r16 OPTIMIZATION-PHASE deliberate-engine-change re-bases:
    # the literal-matrix plan compaction (similarity.lit_matrix,
    # OPTIMIZATION_r16.md change 1) removed the Catalyst planning of
    # dim x k separate literal nodes that every registry call re-paid
    # on the PQ/IVF serving paths — results bit-identical (17/17
    # snapshot hashes, 219/219 oracle sweep), only plan-construction
    # and interpreted-projection cost dropped.  New floors from the
    # post-change 3-run floor (BENCH_full_r16.json.new12/13/14 —
    # all HOT-regime draws, fleet ratios 1.431/1.519/1.338, so these
    # freezes are conservative; the quiet-box subset A/B read lower
    # still).  Only the four entries whose post-change floors undercut
    # the r6 freeze are re-based; the rest of the touched family keeps
    # its cooler-box r6 floors.  Evidence note (ADVICE r16 #2): the
    # no-regression claim for the touched entries whose post-change
    # full-run floors still sit above r6 (sim_rp_topk_pretrained,
    # sim_lsh_topk, sim_lsh_multiprobe_topk) rests on the one
    # quiet-box subset A/B draw per query plus the hot-regime fleet
    # signature of those three runs; the r17 session's full runs are
    # the multi-run confirmation (r17 floors: see BENCH_full_r17*):
    "sim_pq_adc_topk": 1.527,
    "sim_ivfpq_topk_pretrained": 2.027,
    "sim_ivfpq_recall_guard": 2.624,
    "sim_ivf_recall_guard": 1.537,
}

# headline queries that READ a materialized per-corpus artifact
# instead of rebuilding it per call — their frozen floors price the
# consuming stage alone, so any bench path that skips the artifact
# builds (SPARK_GRAFT_BENCH_SKIP_INDEX subset ladders) must still warm
# these artifacts or the first consumer pays the build inside its
# timed window (ADVICE r15 #2)
CLUSTER_ARTIFACT_CONSUMERS = {
    "dedup_canonical_pick",
    "dedup_survivor_policy",
    "text_quality_calibration",
    "corpus_data_card",
}
SURVIVORS_ARTIFACT_CONSUMERS = {
    "corpus_shard_manifest",
    "corpus_mixture_plan",
}


def baseline_gate(timings: dict, sf: float, subset,
                  base_path: str | None = None):
    """BASELINE.md gate, computed automatically (VERDICT r7 wrong #1):
    ratio of this run vs the frozen round-6 floor over the queries
    common to both maps — sum(cur[q]) / sum(base[q]).  Queries added
    after the freeze extend the headline total but are excluded from
    the ratio (BASELINE.md comparison policy).  The ≤2.0 gate applies
    ONLY to `baseline_ratio`, which is non-null ONLY on a full
    HEADLINE run at the frozen record's scale factor:
      - sf mismatch (ADVICE r8 #1): an sf1/sf3 ladder run shares keys
        with the sf0.1 floor and would emit a meaningless ~4-5x ratio
        → null, with baseline_skip_reason="sf_mismatch".
      - subset wave (ADVICE r8 #3): per-query best-of-N drift over a
        handful of keys far exceeds the 12-26% full-floor band, so a
        subset can legitimately exceed 2.0 with zero regression → the
        ratio goes to the distinct field `baseline_ratio_partial`
        (NOT gated) and `baseline_ratio` stays null.
      - missing/corrupt frozen record or no common keys → null.
    Returns (baseline_ratio, baseline_ratio_partial, n_common,
    skip_reason). Extracted from main() so every branch is unit-
    testable (tests/test_pipeline.py) without a bench run."""
    baseline_ratio = None
    baseline_ratio_partial = None
    baseline_n_common = 0
    baseline_skip_reason = None
    if base_path is None:
        base_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "BENCH_full_r06.json",
        )
    try:
        with open(base_path) as f:
            base_rec = json.load(f)
        base_q = {**base_rec["queries"], **BASELINE_REFREEZE}
        if not (isinstance(base_q, dict) and all(
            isinstance(v, (int, float)) and not isinstance(v, bool)
            for v in base_q.values()
        )):
            raise ValueError("frozen record queries map is not numeric")
        common = [q for q in timings if q in base_q]
        baseline_n_common = len(common)
        base_sum = sum(base_q[q] for q in common)
        if base_rec.get("sf") != sf:
            baseline_skip_reason = "sf_mismatch"
        elif base_sum <= 0:
            baseline_skip_reason = "no_common_keys"
        else:
            ratio = round(sum(timings[q] for q in common) / base_sum, 3)
            if subset is None:
                baseline_ratio = ratio
            else:
                baseline_ratio_partial = ratio
                baseline_skip_reason = "subset_run"
    except (OSError, KeyError, ValueError, TypeError):
        baseline_skip_reason = "baseline_record_unreadable"
    return (baseline_ratio, baseline_ratio_partial, baseline_n_common,
            baseline_skip_reason)


def _infer_session_round(repo_dir: str) -> str | None:
    """Highest round NN with a committed/diverted full-run archive
    (`BENCH_full_r{NN}*.json*`) in the repo — the round the CURRENT
    session is building, when the caller didn't say (VERDICT r15
    wrong #1: the DRIVER's bench invocation sets neither --round nor
    SPARK_GRAFT_ROUND, so its committed BENCH_r{N}.json recorded the
    degenerate single-run "floor" while the session's real multi-run
    floor sat in the archives the glob would have found).  Letter
    siblings (r14b) and .new siblings both count; files that don't
    parse the round number are ignored."""
    import glob
    import re as _re

    best = None
    for p in glob.glob(os.path.join(repo_dir, "BENCH_full_r*.json*")):
        m = _re.match(r"BENCH_full_r(\d+)", os.path.basename(p))
        if m:
            best = max(best or 0, int(m.group(1)))
    return None if best is None else str(best)


def session_floor_gate(timings: dict, sf: float, subset, rnd,
                       repo_dir: str | None = None,
                       base_path: str | None = None):
    """Session-FLOOR baseline ratio (VERDICT r14 wrong #2 / ask #6):
    the committed BENCH_r{N}.json used to carry only the last draw's
    single-run `baseline_ratio`, so a session whose final run landed
    in a hot box regime read as a regression even when the session's
    per-query floors sat at baseline (r14: last draw 1.406, floor
    1.027).  BASELINE.md's comparison policy has always said "compare
    floors"; this emits that number in the driver-visible record.

    Per-query floor = min over THIS run and every archived full run of
    the same round — `BENCH_full_r{NN}.json`, letter-suffix siblings
    (`_r{NN}b.json`, the r13/r14 divert convention) AND dotted .new/
    .newK siblings (the r15 one); same sf, full-headline runs only —
    then the standard baseline_gate ratio over the floor map.  When
    the caller gives no round (the driver's invocation), the round is
    INFERRED from the highest archive present (VERDICT r15 wrong #1)
    so the committed record carries the session's real floor instead
    of the single-draw degenerate.  Subset waves still get the
    current run alone.  Returns (ratio, n_runs)."""
    import glob

    if repo_dir is None:
        repo_dir = os.path.dirname(os.path.abspath(__file__))
    if rnd is None and subset is None:
        rnd = _infer_session_round(repo_dir)
    floors = dict(timings)
    n_runs = 1
    if subset is None and rnd is not None:
        # both divert conventions (VERDICT r15 wrong #3): the dotted
        # .new siblings AND the letter-suffix siblings — a record in
        # either style is a same-session run the floor must see
        stem = os.path.join(repo_dir, f"BENCH_full_r{int(rnd):02d}")
        paths = sorted(
            set(glob.glob(stem + ".json*"))
            | set(glob.glob(stem + "[a-z].json*"))
        )
        for p in paths:
            try:
                with open(p) as f:
                    rec = json.load(f)
            except (OSError, ValueError):
                continue
            qs = rec.get("queries")
            if rec.get("sf") != sf or not isinstance(qs, dict):
                continue
            if rec.get("baseline_skip_reason") == "subset_run":
                continue
            n_runs += 1
            for q, v in qs.items():
                if (q in floors and isinstance(v, (int, float))
                        and not isinstance(v, bool)):
                    floors[q] = min(floors[q], v)
    ratio, ratio_partial, _, _ = baseline_gate(
        floors, sf, subset, base_path
    )
    return (ratio if subset is None else ratio_partial), n_runs


def count_round_runs(repo_dir: str, rnd, sf: float) -> int:
    """Number of committed/diverted full-run archives for round `rnd`
    at scale factor `sf` (VERDICT r16 ask #9: floor comparisons across
    rounds need the draw count on BOTH sides, because a floor over 18
    runs drifts ~10-20% below a floor over 7 runs from sampling alone
    — the r16 fleet-wide floor delta was partly that bias).  Counts
    the same files session_floor_gate's glob folds into the floor:
    full-headline runs only, subset waves excluded."""
    import glob

    if rnd is None:
        return 0
    n = 0
    stem = os.path.join(repo_dir, f"BENCH_full_r{int(rnd):02d}")
    for p in sorted(set(glob.glob(stem + ".json*"))
                    | set(glob.glob(stem + "[a-z].json*"))):
        try:
            with open(p) as f:
                rec = json.load(f)
        except (OSError, ValueError):
            continue
        if (rec.get("sf") == sf and isinstance(rec.get("queries"), dict)
                and rec.get("baseline_skip_reason") != "subset_run"):
            n += 1
    return n


def inline_queries_subset(timings: dict, budget_chars: int = 1150) -> dict:
    """The per-query slice of the final one-line JSON (VERDICT r16 ask
    #2).  The driver parses the LAST line of a 2000-char stdout tail
    (measured: every BENCH_r*.json stores exactly 2000 tail chars, and
    r03's single 1999-char line came back parsed:null with its front
    eaten), so the FULL 140-query map can never ride the final line —
    the names alone are 2.6 KB.  This picks the slowest queries by
    their FROZEN baseline floors (r6 record + re-freeze overlay — NOT
    this run's draws, so membership is identical across runs and core
    counts and the driver's 32-core/low-core scaling pass can
    intersect the two maps) until a fixed per-entry byte estimate
    exhausts the budget.  The complete map still lands in
    BENCH_full.json / the committed round archives; this inline slice
    restores per-query + scaling visibility to PERF for the queries
    that carry the fleet's cost mass."""
    base_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "BENCH_full_r06.json",
    )
    try:
        with open(base_path) as f:
            base_q = {**json.load(f)["queries"], **BASELINE_REFREEZE}
    except (OSError, ValueError, KeyError):
        base_q = {}
    order = sorted(timings, key=lambda q: (-float(base_q.get(q, 0.0)), q))
    out = {}
    used = 2  # braces
    for q in order:
        cost = len(q) + 11  # "name":NN.NNN, (fixed estimate: 7 val chars)
        if used + cost > budget_chars:
            continue  # shorter names later may still fit
        used += cost
        out[q] = timings[q]
    return out


HEADLINE = [
    # reference-surface analytics
    "q1_top_nations",
    "q5_trade_routes",
    "q6_pricing_summary",
    "q12_derived_events",
    "q13_windowed_counts",
    "q14_clean_accounting",
    # beyond-reference SQL surface
    "q16_sessionization",
    "q20_shipping_priority",
    "q21_nation_revenue",
    "q27_asof_join",
    "q36_session_windows",
    "q37_prior_hour_window",
    "q45_cohort_retention",
    "q47_scd2_history",
    "q48_funnel_steps",
    "q50_equidepth_buckets",
    "q51_nation_pagerank",  # iterative loop, broadcast node frames
    "q52_gap_fill",  # spine densification + LOCF
    "q53_incremental_rollup",  # partial-agg merge (IVM)
    "q60_bucketed_join",  # pre-bucketed fact-fact join (zero exchange)
    "q61_profile_events",  # one-pass dataset profile (expand + stack)
    "q61_profile_events_approx",  # HLL profile mode (constant agg state)
    "q62_skew_stats",  # heavy-hitter shuffle-key diagnostics
    "q66_late_supplier_blame",  # EXISTS/NOT-EXISTS double self-join
    "q69_concurrent_sessions",  # sweep-line interval concurrency
    "q70_promo_discount_revenue",  # Q19 disjunctive CNF pushdown
    "q71_idle_rich_customers",  # Q22 anti-join + scalar subquery
    "q72_top_quarter_supplier",  # Q15 max-over-view (ties kept)
    "q73_large_quantity_orders",  # Q18 HAVING-agg joined back
    "q74_dominant_suppliers",  # Q20 nested semi over agg frames
    "q75_nation_trade_volume",  # Q7 two-sided nation pair, dims first
    "q76_priority_late_orders",  # Q4 EXISTS-per-order lateness
    "q77_returned_customers",  # Q10 returned-items report
    "q78_promo_revenue_share",  # Q14 conditional-sum share
    "q79_supplier_variety",  # Q16 NOT-IN + distinct supplier count
    "q80_market_share",  # Q8 7-relation conditional market share
    "q81_product_margin",  # Q9 cost-model margin by nation/year
    "q82_order_count_distribution",  # Q13 left-join zero-bucket dist
    "q83_approx_percentile_guard",  # in-plan percentile-sketch bound
    "q84_rollup_revenue",  # joined-fact ROLLUP, one Expand+agg pass
    "q85_corpus_grouping_sets",  # explicit non-hierarchical set list
    "q86_zorder_layout",  # Morton layout skipping-stats readout
    "q87_time_weighted_value",  # irregular-series TWA (keyed window)
    "q88_basket_pairs",  # basket-bounded pair lift (Σk², not n²)
    "q89_session_transitions",  # Markov transition matrix (keyed windows)
    "q90_mad_outliers",  # median/MAD robust outlier screen (exact pctl)
    "q91_decayed_engagement",  # half-life decay rollup (BNLJ readout)
    "q92_value_gini",  # per-nation Gini (exact rank statistic)
    "q92_value_gini_binned",  # grouped-data Gini, no window/fact sort
    "q93_rrf_fusion",  # reciprocal-rank fusion of two top-k lists
    "q94_hhi_concentration",  # per-nation HHI (pure agg-of-squares)
    "q95_top_decile_share",  # Pareto top-10% share (exact pctl, q90 shape)
    "q96_theil_decomposition",  # decomposable Theil index (fanout-1)
    "q97_atkinson_index",  # 3-level Atkinson (5 sums, no window)
    "sketch_cm_join_card",  # CM inner-product join-size estimate
    "q98_last_touch_attribution",  # keyed-window last-touch credit
    "q99_linear_attribution",  # suffix-sum multi-touch credit split
    "q100_rfm_segments",  # per-nation RFM quintile segmentation
    "q100_rfm_segments_approx",  # whale-nation sketch fallback (no window)
    "sim_recall_eval",  # LSH recall@k vs exact (eval as an operator)
    "sim_ivf_recall_guard",  # pretrained-IVF recall floor, in-plan assert
    "sim_ivfpq_recall_guard",  # pretrained-IVF-PQ floor, in-plan assert
    # LLM-data extras
    "dedup_exact_groups",
    "dedup_minhash_pairs",
    "dedup_incremental_pairs",  # delta-vs-corpus (per-batch ingest cost)
    "dedup_incremental_exact",  # delta-vs-corpus exact tier (hash join)
    "dedup_neardup_groups",  # iterative connected components
    "dedup_neardup_groups_lsss",  # web-scale large-star/small-star CC
    "dedup_canonical_pick",  # best-vs-first keeper policy, priced
    "corpus_funnel",  # end-to-end: quality gate -> exact -> near-dup
    "corpus_shard_manifest",  # survivors -> shard manifest (funnel + agg)
    "corpus_data_card",  # per-(source, lang) release accounting
    "corpus_release_diff_card",  # slice-grain composition drift
    "corpus_shard_diff",  # shard-grain rewrite set between releases
    "corpus_mixture_plan",  # alpha-scaled sampling shares per slice
    "dedup_simhash_pairs",
    "dedup_containment_est",  # sketch-path containment over LSH candidates
    "dedup_snapshot_diff",  # content-hash corpus version diff
    "dedup_split_leakage",  # cross-split near-dup contamination screen
    "dedup_contamination_multi",  # N-benchmark screen, one corpus pass
    "text_stats",
    "text_fingerprint",
    "text_repetition",  # n-gram array build + distinct per doc
    "sim_cosine_topk",
    "sim_lsh_topk",
    "sim_lsh_multiprobe_topk",  # Hamming-1 probe fan-out (recall lever)
    "sim_rp_topk",  # JL random-projection sketch scoring (2x cheaper)
    "sim_rp_topk_pretrained",  # same function as sim_rp_topk
    "sim_lang_centroids",  # domain-centroid table (elementwise mean)
    "sim_sq_topk",  # int8 quantized scoring (production memory path)
    "sim_pq_adc_topk",  # product quantization + ADC (billion-scale path)
    "sim_mmr_rerank",  # query-time MMR diversity re-rank (tiny tail)
    # the *_pretrained names serve from the cached trained index —
    # query cost only; the one-time k-means build is timed separately
    # below and reported as index_build_sec (plain sim_ivf_topk /
    # sim_ivfpq_topk are the same functions, not benched twice)
    "sim_ivf_topk_pretrained",
    "sim_ivfpq_topk_pretrained",
    # isolated MinHash base-hash stage: prices the md5 base hash
    # without the LSH join cost that drowns it at funnel grain
    "dedup_hash_stage_md5",
    "sketch_countmin",  # deterministic frequency sketch
    "sketch_hll_estimate",  # deterministic cardinality sketch
    "sketch_ams_f2",  # tug-of-war second-moment (join-size) sketch
    "sketch_ams_hhi",  # weighted AMS -> streaming-estimable HHI
    "sketch_kmv_overlap",  # bottom-k cross-corpus overlap estimate
    "sketch_hist_quantiles",  # mergeable fixed-bin quantile sketch
    "sketch_bloom_prefilter",  # adaptive Bloom runtime join filter
    "q63_drift_kl",  # per-day distribution drift vs corpus
    "q64_weighted_sample",  # A-ES weighted top-k sample (row-local keys)
    # bpe training is a one-time artifact: its cost is the bpe_merges
    # line in index_build_sec; the query entries measure the artifact
    # readout (train) and the vocab-grain serving replay (apply)
    "text_bpe_train",
    "text_bpe_apply",
    "text_bpe_compression",  # per-round token curve, one vocab pass
    "text_tfidf_topk",
    "text_index_postings",  # inverted-index build (posting lists)
    "text_search_phrase",  # positional phrase walk over postings
    "text_search_ranked",  # tf-idf scored retrieval, top-k
    "text_search_bm25",  # Okapi BM25 (saturation + length norm)
    "text_index_merge",  # incremental postings merge == rebuild
    "sim_search_rrf",  # hybrid lexical+semantic RRF fusion
    "text_vocab_encode",  # vocab build + id encode (embedding prep)
    "text_pack_sequences",  # whole-doc context packing accounting

    "text_scrub_pii",  # regex redaction + per-rule accounting (codegen)
    "text_mix_sample",  # domain-weighted token-budget sampling
    "corpus_forget_impact",  # deletion propagation across artifacts
    "dedup_semantic",  # cluster -> within-cluster cosine dedup
    "dedup_threshold_curve",  # near-dup threshold calibration bins
    "sim_diverse_subset",  # cluster-stratified quality selection
    "text_line_dedup",  # C4-style corpus-wide repeated-span removal
    "text_dup_ngrams",  # per-doc repeated-span (5-gram) accounting
    "text_dup_spans",  # maximal duplicated-span cut list (Lee et al.)
    "text_quality_score",  # hashing-trick linear classifier (codegen)
    "text_quality_calibration",  # score-bin x dup-rate cross diagnostic
    "text_gopher_rules",  # full Gopher heuristic battery (codegen)
    "text_dsir_weights",  # DSIR importance weights (profile broadcast)
    "text_lm_logprob",  # bigram LM scoring (CCNet-style quality)
    "text_token_entropy",  # unigram-entropy quality signal (2-stage agg)
    "text_hashed_features",  # hashing-trick featurizer (bounded grain)
    "dedup_semantic_trained",  # SemDeDup on the cached trained clusters
    "media_features",
    "media_frames",  # 1->N frame-sampling fan-out (mapInPandas)
    "media_audio_windows",  # overlapping 1->N audio segmentation
    # dedup_snapshot_ledger is deliberately NOT benched: it drives a
    # Structured Streaming query over a written fixture (checkpoint +
    # trigger scheduling dominate), so its timing would measure the
    # streaming harness, not an operator — its cost story is the
    # per-batch O(state+batch) bound pinned in tests
]


def _parse_round_arg(argv: list[str], env: dict) -> str | None:
    """Resolve the round number from --round N / SPARK_GRAFT_ROUND,
    validating BEFORE the expensive run.

    A malformed value used to crash AFTER BENCH_full.json was written
    but BEFORE the archive copy and summary line, silently dropping
    the round record the flag exists to guarantee (ADVICE r9 #1).
    Fail fast with a clear message instead.
    """
    rnd = env.get("SPARK_GRAFT_ROUND")
    if "--round" in argv:
        i = argv.index("--round")
        if i + 1 >= len(argv):
            raise SystemExit(
                "bench.py: --round requires a value (e.g. --round 10)"
            )
        rnd = argv[i + 1]
    if rnd is None:
        return None
    try:
        int(rnd)
    except ValueError:
        raise SystemExit(
            f"bench.py: --round value {rnd!r} is not an integer"
        )
    return rnd


def _divert_archive_path(arch_path: str) -> str:
    """First free `.new` sibling for a diverted round archive (ADVICE
    r10 #3): the automated-caller collision path must not clobber a
    pre-existing .new either — each diverted run gets its own
    .new/.new2/.new3… file, so no record is ever silently lost; every
    diverted record still needs manual adjudication against the
    committed one before any re-freeze uses it."""
    sibling = arch_path + ".new"
    k = 2
    while os.path.exists(sibling):
        sibling = f"{arch_path}.new{k}"
        k += 1
    return sibling


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    # optional subset (comma-separated names), e.g. the sf1 appendix
    # run (scripts/gen_sf1.py) times only the scale-argument queries
    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    # round archiving resolved UP FRONT so both failure modes abort
    # before the 15-minute run, not after it: a malformed --round
    # (ADVICE r9 #1) and a stale --round that would clobber an
    # existing committed round record (ADVICE r9 #2 — round files are
    # immutable per the BASELINE.md provenance policy; the q21
    # re-freeze value is derived from one).  --force overrides the
    # overwrite guard deliberately.
    rnd = _parse_round_arg(sys.argv, os.environ)
    arch_path = None
    if rnd is not None and subset is None:
        arch_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            f"BENCH_full_r{int(rnd):02d}.json",
        )
        if os.path.exists(arch_path) and "--force" not in sys.argv:
            if "--round" in sys.argv:
                # interactive typo (a stale --round): fail fast BEFORE
                # the 15-minute run rather than after it
                raise SystemExit(
                    f"bench.py: {os.path.basename(arch_path)} already "
                    "exists; committed round records are immutable "
                    "(BASELINE.md provenance policy) — pass --force to "
                    "overwrite deliberately"
                )
            # env-var path (SPARK_GRAFT_ROUND): likely an automated
            # caller — never abort its run; archive to a .new sibling
            # so the committed record stays intact AND the run's
            # summary line still prints.  The sibling is uniquified
            # (ADVICE r10 #3): a pre-existing .new is never clobbered
            # either — each diverted run lands in its own .new/.newK
            # file, and every diverted record needs MANUAL adjudication
            # against the committed one before any re-freeze uses it.
            sibling = _divert_archive_path(arch_path)
            print(
                f"# WARNING: {os.path.basename(arch_path)} already "
                f"exists — archiving to {os.path.basename(sibling)} "
                "instead (immutable round records; pass --force to "
                "overwrite). Diverted records require manual "
                "adjudication against the committed one.",
                flush=True,
            )
            arch_path = sibling
    headline = (
        [q.strip() for q in subset.split(",") if q.strip()]
        if subset
        else HEADLINE
    )
    # NOTE: measured on this box, an oversized driver heap (48g) makes
    # identical queries 3-20x SLOWER (huge-heap GC/page-fault costs);
    # the 8g default is right for these working sets — raise only with
    # data that actually needs it
    spark = get_spark(app_name="bench")

    registry = entrymod.queries()

    def run_noop(name: str) -> None:
        """Materialize fully ENGINE-SIDE (noop sink): every column is
        computed, nothing crosses py4j — no driver OOM risk at high SF."""
        registry[name](spark, sf_dir).write.mode("overwrite").format(
            "noop"
        ).save()

    # index BUILD cost, timed once before anything touches the caches:
    # the trained IVF centroids and PQ codebook are per-corpus
    # artifacts (built offline in production), so their cost is a
    # separate line, not part of any query's best-of-N
    from data_pipeline_and_visualization_dashboard_spark.extras.similarity import (
        _pq_codebook,
    )
    from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
        ivf_index,
    )

    from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
        ann_disk_index,
    )

    # subset ladder runs over queries that touch no trained artifact
    # can skip the index builds (at sf3 the BPE training alone costs
    # minutes that the measured ops never use)
    skip_index = os.environ.get("SPARK_GRAFT_BENCH_SKIP_INDEX") == "1"
    if skip_index:
        ivf_build = pq_build = disk_build = bpe_build = -1.0
        cluster_build = survivors_build = -1.0
        # ADVICE r15 #2: a skip-index ladder/subset run whose headline
        # still contains an ARTIFACT-CONSUMING query must not let that
        # query pay the full artifact build inside its timed window —
        # the artifact-era floors (dedup_canonical_pick 1.137 etc.)
        # were re-based assuming the build is priced separately, so a
        # cold-warehouse skip run would read as a fake 2x+ regression.
        # Warm exactly the artifacts the headline consumes, timed into
        # their build lines (so the record still prices them).
        from data_pipeline_and_visualization_dashboard_spark.extras.dedup import (
            cluster_table,
            survivors_table,
        )

        if set(headline) & CLUSTER_ARTIFACT_CONSUMERS:
            t0 = time.perf_counter()
            cluster_table(spark, sf_dir)
            cluster_build = round(time.perf_counter() - t0, 3)
        if set(headline) & SURVIVORS_ARTIFACT_CONSUMERS:
            t0 = time.perf_counter()
            survivors_table(spark, sf_dir)
            survivors_build = round(time.perf_counter() - t0, 3)
    else:
        t0 = time.perf_counter()
        ivf_index(spark, sf_dir)
        ivf_build = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        _pq_codebook(spark, sf_dir)
        pq_build = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        ann_disk_index(spark, sf_dir)  # persisted IVF assign + PQ codes
        disk_build = round(time.perf_counter() - t0, 3)
        from data_pipeline_and_visualization_dashboard_spark.extras.bpe import (
            _trained_merges,
        )

        t0 = time.perf_counter()
        _trained_merges(spark, sf_dir)  # BPE training (one-time artifact)
        bpe_build = round(time.perf_counter() - t0, 3)
        from data_pipeline_and_visualization_dashboard_spark.extras.dedup import (
            cluster_table,
            survivors_table,
        )

        # full runs price the TRUE cold artifact build (VERDICT r16
        # ask #5 / wrong #3): the mtime-keyed parquet generations in
        # spark-warehouse/ survive across bench processes, so without
        # this purge the lines record a warm directory-listing hit
        # (~0.1 s) from whichever session built them first instead of
        # the ~2 s / ~4.4 s builds the record claims to price
        import shutil

        from data_pipeline_and_visualization_dashboard_spark.io import (
            WAREHOUSE,
        )

        for kind in ("cluster_table", "survivors_table"):
            shutil.rmtree(os.path.join(WAREHOUSE, kind), ignore_errors=True)
        # near-dup component artifact (r15): built once per corpus,
        # consumed by canonical_pick / survivor_policy /
        # quality_calibration — their per-query timings price the
        # policy stage; THIS line prices the build (cold by the purge
        # above)
        t0 = time.perf_counter()
        cluster_table(spark, sf_dir)
        cluster_build = round(time.perf_counter() - t0, 3)
        # curation-survivor artifact (r16, VERDICT r15 ask #4): built
        # once per corpus, consumed by corpus_shard_manifest + the
        # shard writer so they price their own stage; corpus_funnel /
        # corpus_survivors stay on the fresh chain so the end-to-end
        # funnel cost remains measured
        t0 = time.perf_counter()
        survivors_table(spark, sf_dir)
        survivors_build = round(time.perf_counter() - t0, 3)
        print(
            f"# index build: ivf {ivf_build}s, pq codebook {pq_build}s, "
            f"disk index {disk_build}s, bpe merges {bpe_build}s, "
            f"cluster table {cluster_build}s, "
            f"survivors table {survivors_build}s",
            flush=True,
        )

    # warmup: one full pass primes JVM JIT, per-query codegen (janino
    # compiles the wide agg/stack expressions on first use) and the
    # parquet footer cache — timings below are steady-state throughput
    for name in headline:
        run_noop(name)

    # best-of-N per query: a loaded box inflates single-sample timings
    # 3-20x (judge re-measured 9.4s -> 0.49s on an idle machine); min
    # over 3 runs reports the engine's cost, not the neighbors'
    samples = int(os.environ.get("SPARK_GRAFT_BENCH_SAMPLES", "3"))
    timings: dict[str, float] = {}
    for name in headline:
        best = float("inf")
        for _ in range(samples):
            spark.catalog.clearCache()  # each run pays its own caching
            t0 = time.perf_counter()
            run_noop(name)
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        print(f"# {name}: {timings[name]}s", flush=True)

    # cold-vs-steady split for the expression-heavy PQ serving plans
    # (VERDICT r5 next #5): "cold" = one fresh registry call (Catalyst
    # must constant-fold the 64 literal codebook arrays into the plan)
    # plus its first execution; "steady" = re-executing the SAME
    # DataFrame object, the profile of a serving process that builds
    # the plan once and answers many requests. This replaces the
    # README's prose ~0.5s steady-state claim with a measured line.
    pq_cold_steady: dict[str, dict[str, float]] = {}
    for name in ("sim_pq_adc_topk", "sim_ivfpq_topk_pretrained"):
        if name not in headline:
            continue
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        df = registry[name](spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
        cold = round(time.perf_counter() - t0, 3)
        steady = float("inf")
        for _ in range(samples):
            t0 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            steady = min(steady, time.perf_counter() - t0)
        pq_cold_steady[name] = {
            "cold_sec": cold, "steady_sec": round(steady, 3)
        }
        print(f"# {name}: cold {cold}s, steady {round(steady, 3)}s",
              flush=True)

    total = round(sum(timings.values()), 3)
    index_build = {"ivf": ivf_build, "pq_codebook": pq_build,
                   "disk_index": disk_build, "bpe_merges": bpe_build,
                   "cluster_table": cluster_build,
                   "survivors_table": survivors_build}

    (baseline_ratio, baseline_ratio_partial, baseline_n_common,
     baseline_skip_reason) = baseline_gate(timings, sf, subset)
    # session-floor ratio computed BEFORE this run is archived, so the
    # glob inside sees only the session's PRIOR runs (this run's
    # timings enter the floor map directly)
    baseline_ratio_floor, baseline_floor_runs = session_floor_gate(
        timings, sf, subset, rnd
    )
    # draw-count context for floor comparisons (VERDICT r16 ask #9):
    # how many archived full runs back the PREVIOUS round's floor, so
    # a round-over-round floor delta can be draw-count corrected
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    rnd_eff = rnd if rnd is not None else _infer_session_round(repo_dir)
    floor_runs_prev = (
        count_round_runs(repo_dir, int(rnd_eff) - 1, sf)
        if rnd_eff is not None else 0
    )
    full = {
        "metric": "total_query_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "index_build_sec": index_build,
        "pq_cold_steady_sec": pq_cold_steady,
        "samples_per_query": samples,
        "baseline_ratio": baseline_ratio,
        "baseline_ratio_partial": baseline_ratio_partial,
        "baseline_n_common": baseline_n_common,
        "baseline_skip_reason": baseline_skip_reason,
        "baseline_ratio_floor": baseline_ratio_floor,
        "baseline_floor_runs": baseline_floor_runs,
        "baseline_floor_runs_prev": floor_runs_prev,
        "sf": sf,
    }
    # The full per-query map outgrew the driver's fixed-size tail
    # buffer in round 3 (BENCH_r03.json came back "parsed": null with
    # its FRONT truncated).  So: persist the full record to a file,
    # print it FIRST (truncation eats the front, not the tail), and
    # make the LAST line a compact (<2 KB) summary the driver can
    # always parse — headline total + per-family subtotals.
    # BENCH_full.json is deliberately UNTRACKED (.gitignore): the
    # driver re-runs bench.py and overwrites it, which in round 4
    # left the working tree disagreeing with the committed record
    # (VERDICT r4 wrong #2).  The canonical per-round record is the
    # manually frozen copy BENCH_full_r0N.json committed at round end.
    # subset runs (SPARK_GRAFT_BENCH_QUERIES) must not clobber the
    # full-run record
    out_name = "BENCH_full.json" if subset is None else "BENCH_full_subset.json"
    out_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), out_name
    )
    with open(out_path, "w") as f:
        json.dump(full, f, indent=1)
    # un-forgettable archiving (VERDICT r8 next #2): `--round N` (or
    # SPARK_GRAFT_ROUND=N) additionally freezes the full map as
    # BENCH_full_r{NN}.json in the same run — the committed per-round
    # record can no longer lapse by forgetting the manual copy.
    # Subset waves never archive (they are not the round record).
    # arch_path was validated (parse + overwrite guard) at the TOP of
    # main(), before the run — see _parse_round_arg and ADVICE r9.
    if arch_path is not None:
        with open(arch_path, "w") as f:
            json.dump(full, f, indent=1)
        print(f"# archived round record: {os.path.basename(arch_path)}",
              flush=True)
    print(json.dumps(full), flush=True)

    subtotals: dict[str, float] = {}
    for name, sec in timings.items():
        fam = family(name)
        subtotals[fam] = round(subtotals.get(fam, 0.0) + sec, 3)
    # the final line is what the driver parses: it sees ONLY the last
    # 2000 stdout chars (r03 lesson), so the line carries the frozen-
    # floor-slowest per-query slice that fits (inline_queries_subset,
    # VERDICT r16 ask #2 — per-query + scaling visibility), compact
    # separators to buy ~200 chars, and the full map stays in full_map
    print(json.dumps({
        "metric": "total_query_sec",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        # per-query timing = MIN over this many runs after a full
        # warmup pass (VERDICT r5 next #3: single samples drift ±30%
        # on a shared box; cross-round deltas need the floor, not one
        # draw) — the driver-visible record states it explicitly
        "samples_per_query": samples,
        # deterministic slowest-by-frozen-floor slice of the full map
        # (same membership at every core count / draw)
        "queries": inline_queries_subset(timings),
        # single-run total vs the frozen BASELINE.md floor over common
        # keys (gate: <= 2.0; 12-26% single-run drift is expected).
        # Non-null ONLY on a full HEADLINE run at the frozen sf;
        # subset waves report the ungated baseline_ratio_partial and
        # sf-mismatched ladder runs report neither (skip_reason says
        # which) — see the policy comment above.
        "baseline_ratio": baseline_ratio,
        "baseline_ratio_partial": baseline_ratio_partial,
        "baseline_n_common": baseline_n_common,
        "baseline_skip_reason": baseline_skip_reason,
        # the gate-relevant number (BASELINE.md floors doctrine): ratio
        # of the SESSION's per-query floors (this run min'd with every
        # archived same-round full run) vs the frozen baseline — the
        # committed round record carries it alongside the single draw
        "baseline_ratio_floor": baseline_ratio_floor,
        "baseline_floor_runs": baseline_floor_runs,
        "baseline_floor_runs_prev": floor_runs_prev,
        "family_sec": subtotals,
        "index_build_sec": index_build,
        "pq_cold_steady_sec": pq_cold_steady,
        "full_map": out_name,
    }, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
