"""End-to-end pipeline test: ingest -> validate -> clean -> derive ->
persist (partitioned) -> read back -> analyze, with the accounting
invariant and SQL-view registration checked."""

from __future__ import annotations

import pytest

from data_pipeline_and_visualization_dashboard_spark.pipeline import (
    run_events_pipeline,
)
from data_pipeline_and_visualization_dashboard_spark.validate import (
    SchemaValidationError, validate_schema,
)
from data_pipeline_and_visualization_dashboard_spark.schemas import EVENTS
from tests.conftest import SF_SMOKE


def test_pipeline_end_to_end(spark, tmp_path):
    out = str(tmp_path / "clean_events")
    res = run_events_pipeline(spark, SF_SMOKE, out_path=out)

    r = res.removal_report
    removed = sum(v for k, v in r.items() if k.startswith("removed_"))
    assert r["rows_in"] == r["rows_kept"] + removed

    # persisted data reads back with derived columns and full row count
    assert res.cleaned.count() == r["rows_kept"]
    for c in ["event_hour", "event_dow", "value_per_k", "event_date"]:
        assert c in res.cleaned.columns

    # partition pruning: a date filter must read a subset of partitions
    one_day = res.cleaned.filter("event_date = '2024-01-02'")
    assert 0 < one_day.count() < r["rows_kept"]

    # SQL view registered
    n = spark.sql("SELECT count(*) AS n FROM events_clean").first().n
    assert n == r["rows_kept"]


def test_observed_accounting_matches_standalone(spark):
    """clean_events_observed must report the same V5 metrics as the
    standalone removal_accounting scan — but collected DURING the job
    that materializes the cleaned frame (zero extra passes), with the
    CollectMetrics node sitting between scan and keep-filter so the
    metrics see rejected rows."""
    from data_pipeline_and_visualization_dashboard_spark.clean import (
        clean_events_observed, clean_events_with_report,
    )
    from data_pipeline_and_visualization_dashboard_spark.io import read_table

    events = read_table(spark, SF_SMOKE, "events")
    cleaned_obs, obs = clean_events_observed(events)
    # metrics must NOT lose rejected rows to filter pushdown
    plan = cleaned_obs._jdf.queryExecution().executedPlan().toString()
    assert "CollectMetrics" in plan
    cleaned_obs.write.mode("overwrite").format("noop").save()
    got = dict(obs.get)
    cleaned_ref, report_df = clean_events_with_report(events)
    want = report_df.first().asDict()
    assert got == want
    assert got["rows_kept"] == cleaned_ref.count()


def test_split_quarantine_consistent_with_accounting(spark):
    """good/bad split must reconcile with clean_events and the
    accounting report, and reasons must match the removal attribution."""
    from data_pipeline_and_visualization_dashboard_spark.clean import (
        clean_events, clean_events_with_report, split_events,
    )
    from data_pipeline_and_visualization_dashboard_spark.io import read_table

    events = read_table(spark, SF_SMOKE, "events")
    good, bad = split_events(events)
    cleaned, report = clean_events_with_report(events)
    r = report.first().asDict()
    assert good.count() == r["rows_kept"] == cleaned.count()
    assert bad.count() == r["rows_in"] - r["rows_kept"]
    from pyspark.sql import functions as F

    by_reason = {
        row.reject_reason: row.n
        for row in bad.groupBy("reject_reason")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for reason, n in by_reason.items():
        assert r[f"removed_{reason}"] == n


def test_accounting_attributes_null_rows(spark):
    """First-failing-rule attribution: a row with null value lands in
    removed_nulls (rule order), not value_pos."""
    from pyspark.sql import functions as F

    from data_pipeline_and_visualization_dashboard_spark.clean import (
        cleaning_rules, split_events,
    )
    from data_pipeline_and_visualization_dashboard_spark.io import read_table
    from data_pipeline_and_visualization_dashboard_spark.validate import (
        removal_accounting,
    )

    events = read_table(spark, SF_SMOKE, "events")
    dirty = events.union(
        events.limit(2).withColumn("value", F.lit(None).cast("double"))
    )
    r = removal_accounting(dirty, cleaning_rules()).first().asDict()
    assert r["removed_nulls"] == 2
    assert r["removed_value_pos"] == 0
    good, bad = split_events(dirty)
    reasons = [x.reject_reason for x in bad.collect()]
    assert reasons == ["nulls", "nulls"]


def test_validate_schema_raises_on_missing(spark):
    from data_pipeline_and_visualization_dashboard_spark.io import read_table

    df = read_table(spark, SF_SMOKE, "events").drop("value")
    with pytest.raises(SchemaValidationError):
        validate_schema(df, EVENTS)


def test_validate_schema_raises_on_dtype(spark):
    from data_pipeline_and_visualization_dashboard_spark.io import read_table

    from pyspark.sql import functions as F

    df = read_table(spark, SF_SMOKE, "events").withColumn(
        "ts", F.lit(0).cast("long")
    )
    with pytest.raises(SchemaValidationError):
        validate_schema(df, EVENTS, timestamp_columns=["ts"])


def test_run_corpus_pipeline_writes_all_artifacts(spark, tmp_path):
    """The corpus runner must leave a complete, consistent artifact
    set: curated corpus = funnel survivors exactly; packs conserve the
    curated chunks; every survivor gets one split; the tokenizer
    carries all N_MERGES merges; the index covers the curated vocab;
    the contamination report covers every training doc x benchmark."""
    from data_pipeline_and_visualization_dashboard_spark.extras.bpe import (
        N_MERGES,
    )
    from data_pipeline_and_visualization_dashboard_spark.extras.dedup import (
        CONTAM_EVAL_MODS,
    )
    from data_pipeline_and_visualization_dashboard_spark.pipeline import (
        run_corpus_pipeline,
    )
    from tests.conftest import SF_SMOKE

    out = str(tmp_path / "artifacts")
    res = run_corpus_pipeline(spark, SF_SMOKE, out)
    assert res.funnel["docs_in"] == (
        res.funnel["removed_quality"]
        + res.funnel["removed_exact"]
        + res.funnel["removed_neardup"]
        + res.funnel["docs_out"]
    )
    curated = spark.read.parquet(f"{out}/curated/documents.parquet")
    assert curated.count() == res.n_survivors > 0
    splits = spark.read.parquet(f"{out}/splits.parquet")
    assert splits.count() == res.n_survivors
    packs = spark.read.parquet(f"{out}/packs.parquet")
    assert res.n_packs == packs.count() > 0
    merges = spark.read.parquet(f"{out}/tokenizer_merges.parquet")
    assert merges.count() == res.n_merges == N_MERGES
    idx = spark.read.parquet(f"{out}/index.parquet")
    assert idx.count() > 0
    contam = spark.read.parquet(f"{out}/contamination.parquet")
    n_train_docs = contam.select("doc_id").distinct().count()
    assert contam.count() == n_train_docs * len(CONTAM_EVAL_MODS)
    # scrub-at-ingest: the curated text is the redacted clean_text —
    # no PII pattern may survive in any curated doc — and the report
    # artifact accounts every survivor exactly once
    from pyspark.sql import functions as F

    from data_pipeline_and_visualization_dashboard_spark.extras.text import (
        PII_RULES,
    )

    for name, pat in PII_RULES:
        leaked = curated.filter(
            F.regexp_count("text", F.lit(pat)) > 0
        ).count()
        assert leaked == 0, f"curated corpus leaks {name}"
    pii = spark.read.parquet(f"{out}/pii_report.parquet").first()
    assert pii.docs_scrubbed == res.n_survivors
    assert all(pii[f"n_{name}"] >= 0 for name, _ in PII_RULES)

    # r16, the release loop closed (VERDICT r15 ask #3): shard files +
    # manifest + data card complete the release in the same call.
    # (a) shard-file layout ≡ manifest, pinned at the parquet footer
    # (the write_training_shards pattern): per-directory footer row
    # counts match the manifest's n_docs shard-for-shard, and the
    # manifest's doc total is exactly the curated corpus
    import glob as _glob
    import os as _os

    import pyarrow.parquet as _pq

    manifest = {
        r.shard: (r.n_docs, r.n_tokens)
        for r in spark.read.parquet(
            f"{out}/shard_manifest.parquet"
        ).collect()
    }
    assert res.n_shards == len(manifest) > 0
    assert sum(n for n, _ in manifest.values()) == res.n_survivors
    for shard, (n_docs, _) in manifest.items():
        parts = _glob.glob(
            _os.path.join(out, "shards", f"shard={shard}", "*.parquet")
        )
        assert parts, f"shard {shard} wrote no files"
        rows = sum(_pq.ParquetFile(p).metadata.num_rows for p in parts)
        assert rows == n_docs
    # shards carry the SCRUBBED text (written from out/curated): the
    # PII gate holds on the shard files too
    shards_back = spark.read.parquet(f"{out}/shards")
    for name, pat in PII_RULES:
        assert shards_back.filter(
            F.regexp_count("text", F.lit(pat)) > 0
        ).count() == 0, f"shard files leak {name}"
    # (b) data-card totals ≡ funnel accounting: the card's doc total
    # is the raw corpus (the funnel's pre-curation denominator), the
    # token-share column partitions to 1, and the card's near-dup
    # accounting matches the materialized cluster membership the
    # funnel's near-dup stage consumed.  (kept_frac deliberately NOT
    # tied to removed_quality: the card reports the LEARNED scorer's
    # keep-rate, the funnel gate is the Gopher rule set — different
    # instruments by design.)
    from data_pipeline_and_visualization_dashboard_spark.extras.dedup import (
        cluster_table,
    )

    card = spark.read.parquet(f"{out}/data_card.parquet").collect()
    assert sum(r.n_docs for r in card) == res.funnel["docs_in"]
    assert abs(sum(r.token_share for r in card) - 1.0) < 1e-4
    assert sum(r.n_dup for r in card) == cluster_table(
        spark, SF_SMOKE
    ).count()

    # (b2) mixture plan ≡ manifest accounting (r16): the emitted
    # sampling table is computed over the curated (scrubbed) layout
    # with the shared tokenizer, so its doc and token totals are
    # DEFINITIONALLY the shard manifest's — the trainer's sampling
    # budget prices exactly the bytes on disk; and the plan algebra
    # holds (shares renormalize, token budget balances to within
    # half a token per slice)
    plan = spark.read.parquet(f"{out}/mixture_plan.parquet").collect()
    assert len(plan) > 1
    assert sum(r.n_docs for r in plan) == res.n_survivors
    assert sum(r.tokens_avail for r in plan) == sum(
        t for _, t in manifest.values()
    )
    assert abs(sum(r.target_share for r in plan) - 1.0) <= 1e-6 * len(
        plan
    )
    assert abs(
        sum(r.target_tokens for r in plan)
        - sum(r.tokens_avail for r in plan)
    ) <= 0.5 * len(plan)

    # (c) incremental publish (r16): a SECOND release of the unchanged
    # corpus, diffed against the first via prev_release_dir, must need
    # ZERO shard rewrites — release-grain write-twice determinism (the
    # whole chain funnel → scrub → shard assignment → checksum is a
    # pure function of the data) plus the content-hash localization
    # claim, both read from the emitted shard_manifest_diff artifact
    out2 = str(tmp_path / "artifacts2")
    res2 = run_corpus_pipeline(
        spark, SF_SMOKE, out2, prev_release_dir=out
    )
    diff = spark.read.parquet(
        f"{out2}/shard_manifest_diff.parquet"
    ).collect()
    assert len(diff) == res2.n_shards == res.n_shards
    for r in diff:
        assert not r.needs_rewrite, r
        assert r.docs_delta == 0 and r.tokens_delta == 0
        assert r.checksum_prev == r.checksum_cur


def test_zorder_write_prunes_trailing_dim_predicates(spark, tmp_path):
    """The q86 layout claim, materialized: write the events bucket
    frame under (a) the z-order rewrite (repartitionByRange +
    sortWithinPartitions on the Morton code) and (b) a linear
    (user, value) lexicographic sort, read each FILE's parquet footer
    min/max statistics with pyarrow — the skipping metadata a 100 TB
    scan planner actually consults — and simulate predicate pruning.
    The decisive metric is FILES READ for a trailing-dim predicate
    (`value BETWEEN ...` with no user filter): under the linear
    layout every user-block repeats the full value range, so nearly
    every file's [bmin,bmax] intersects the band; under z-order only
    the tiles crossing the band qualify. Leading-dim predicates must
    keep pruning under both layouts."""
    import glob

    import pyarrow.parquet as pq

    from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
        zorder_frame,
    )

    from tests.conftest import SF_CORRECT

    # sf0.01, not smoke: the linear layout's failure regime needs
    # MORE distinct leading-key buckets than files (each file then
    # holds several user blocks, so its value range is ~full); smoke
    # has only ~15 distinct user buckets for 64 files and the linear
    # layout accidentally prunes values too
    frame = zorder_frame(spark, SF_CORRECT)
    zdir = str(tmp_path / "zorder")
    ldir = str(tmp_path / "linear")
    # 64 files over the 16-bit z space = ~1024 codes (a 32x32 tile)
    # per file — enough resolution to separate the layouts at smoke
    # scale
    n_files = 64
    (frame.repartitionByRange(n_files, "z")
     .sortWithinPartitions("z").write.parquet(zdir))
    (frame.repartitionByRange(n_files, "a", "b")
     .sortWithinPartitions("a", "b").write.parquet(ldir))

    def footer_stats(path):
        out = []
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            if md.num_rows == 0:
                continue
            idx = {
                md.schema.column(i).name: i
                for i in range(len(md.schema))
            }
            mm = {}
            for rg in range(md.num_row_groups):
                for col in ("a", "b"):
                    st = md.row_group(rg).column(idx[col]).statistics
                    lo, hi = mm.get(col, (st.min, st.max))
                    mm[col] = (min(lo, st.min), max(hi, st.max))
            out.append(mm)
        return out

    def frac_hit(stats, col, lo, hi):
        n = sum(
            1 for mm in stats
            if mm[col][0] <= hi and mm[col][1] >= lo
        )
        return n / len(stats)

    zs, ls = footer_stats(zdir), footer_stats(ldir)
    assert len(zs) >= 16 and len(ls) >= 16  # range partitioner filled
    bands = [(x, x + 15) for x in range(0, 256, 32)]
    z_b = sum(frac_hit(zs, "b", lo, hi) for lo, hi in bands) / len(bands)
    l_b = sum(frac_hit(ls, "b", lo, hi) for lo, hi in bands) / len(bands)
    z_a = sum(frac_hit(zs, "a", lo, hi) for lo, hi in bands) / len(bands)
    l_a = sum(frac_hit(ls, "a", lo, hi) for lo, hi in bands) / len(bands)
    # trailing-dim predicate: linear reads ~every file, z-order skips
    # most (observed at smoke scale: ~0.9 vs ~0.3)
    assert l_b > 2 * z_b, (z_b, l_b)
    # leading-dim predicate: BOTH layouts must still prune — z-order
    # pays at most a modest factor over the perfectly-sorted layout
    assert z_a <= 3 * max(l_a, 1 / len(zs)), (z_a, l_a)
    assert z_a < 0.75, z_a


def test_write_training_shards_layout_and_determinism(spark, tmp_path):
    """io.write_training_shards (VERDICT r14 ask #2): the written
    shard=NNN layout agrees file-for-file with the oracle-backed
    manifest (per-directory parquet footer row counts == n_docs; doc
    and token totals == the survivors frame), every surviving doc
    lands in exactly one shard, and a SECOND write produces the
    identical per-shard doc_id sequence — the deterministic seeded
    shuffle contract (no RNG anywhere, so retries and re-runs are
    byte-stable)."""
    import glob
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from data_pipeline_and_visualization_dashboard_spark.extras.dedup import (
        corpus_shard_manifest, corpus_survivors,
    )
    from data_pipeline_and_visualization_dashboard_spark.io import (
        write_training_shards,
    )

    out1 = str(tmp_path / "shards1")
    manifest = {
        r.shard: (r.n_docs, r.n_tokens, r.content_hash)
        for r in write_training_shards(spark, SF_SMOKE, out1).collect()
    }
    assert manifest and sum(n for n, _, _ in manifest.values()) == (
        corpus_survivors(spark, SF_SMOKE).count()
    )
    # the returned manifest is recomputed from the WRITTEN FILES
    # (ADVICE r15 #4); the artifact-side registry query must agree
    # row-for-row — files on disk ≡ survivors_table accounting
    assert manifest == {
        r.shard: (r.n_docs, r.n_tokens, r.content_hash)
        for r in corpus_shard_manifest(spark, SF_SMOKE).collect()
    }

    # footer row counts per shard directory == manifest n_docs
    for shard, (n_docs, n_tokens, _) in manifest.items():
        parts = glob.glob(os.path.join(out1, f"shard={shard}", "*.parquet"))
        assert parts, f"shard {shard} wrote no files"
        rows = sum(pq.ParquetFile(p).metadata.num_rows for p in parts)
        assert rows == n_docs

    # read-back: disjoint doc sets, token sums match the manifest
    back = spark.read.parquet(out1)
    got = {
        r.shard: (r.n, r.t)
        for r in back.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_tokens").alias("t"),
        )
        .collect()
    }
    assert {
        s: (n, t) for s, (n, t, _) in manifest.items()
    } == got
    assert back.select("doc_id").distinct().count() == back.count()

    # determinism: a second write yields the identical per-shard
    # doc_id SEQUENCE (order included — the seeded-shuffle contract)
    out2 = str(tmp_path / "shards2")
    write_training_shards(spark, SF_SMOKE, out2)

    def seqs(d):
        out = {}
        for s in sorted(manifest):
            parts = sorted(glob.glob(os.path.join(d, f"shard={s}", "*.parquet")))
            out[s] = [
                v
                for p in parts
                for v in pq.read_table(
                    p, columns=["doc_id"]
                )["doc_id"].to_pylist()
            ]
        return out

    assert seqs(out1) == seqs(out2)


def test_baseline_gate_branches(tmp_path):
    """Every branch of bench.baseline_gate (the ADVICE r8 fixes) in one
    table-driven pass: full-run ratio, sf mismatch, subset partial,
    unreadable/corrupt record, no common keys, refreeze overlay."""
    import json

    import bench

    base = tmp_path / "base.json"
    base.write_text(json.dumps(
        {"sf": 0.1, "queries": {"a": 1.0, "b": 3.0}}
    ))
    timings = {"a": 2.0, "b": 6.0, "post_freeze": 9.9}

    # full run at the frozen sf: gated ratio, post-freeze key excluded
    r, rp, n, skip = bench.baseline_gate(timings, 0.1, None, str(base))
    assert (r, rp, n, skip) == (2.0, None, 2, None)
    # sf mismatch (ladder run): neither ratio, reason recorded
    r, rp, n, skip = bench.baseline_gate(timings, 1.0, None, str(base))
    assert (r, rp) == (None, None) and skip == "sf_mismatch"
    # subset wave: ungated partial field only
    r, rp, n, skip = bench.baseline_gate(
        {"a": 2.0}, 0.1, "a", str(base)
    )
    assert (r, rp, skip) == (None, 2.0, "subset_run")
    # no common keys
    r, rp, n, skip = bench.baseline_gate(
        {"zzz": 1.0}, 0.1, None, str(base)
    )
    assert (r, rp, n, skip) == (None, None, 0, "no_common_keys")
    # missing file
    r, rp, n, skip = bench.baseline_gate(
        timings, 0.1, None, str(tmp_path / "nope.json")
    )
    assert skip == "baseline_record_unreadable" and r is None
    # corrupt record: a null timing value (the TypeError ADVICE case)
    bad = tmp_path / "bad.json"
    bad.write_text(json.dumps({"sf": 0.1, "queries": {"a": None}}))
    r, rp, n, skip = bench.baseline_gate(timings, 0.1, None, str(bad))
    assert skip == "baseline_record_unreadable" and r is None
    # refreeze overlay: q21's entry is replaced inside the ratio
    over = tmp_path / "over.json"
    over.write_text(json.dumps(
        {"sf": 0.1, "queries": {"q21_nation_revenue": 0.44}}
    ))
    r, rp, n, skip = bench.baseline_gate(
        {"q21_nation_revenue": bench.BASELINE_REFREEZE[
            "q21_nation_revenue"]},
        0.1, None, str(over),
    )
    assert r == 1.0  # ratio vs the OVERLAID value, not the stale 0.44


def test_session_floor_gate(tmp_path):
    """bench.session_floor_gate (VERDICT r14 ask #6): the session-floor
    ratio mins the current run with every archived same-round full run
    (including diverted .new siblings), skips sf-mismatched and subset
    records, and degrades to the single-run ratio when no archives or
    no round exist."""
    import json

    import bench

    base = tmp_path / "base.json"
    base.write_text(json.dumps(
        {"sf": 0.1, "queries": {"a": 1.0, "b": 1.0}}
    ))
    timings = {"a": 2.0, "b": 2.0}

    # no round: floor == this run alone
    r, n = bench.session_floor_gate(
        timings, 0.1, None, None, str(tmp_path), str(base)
    )
    assert (r, n) == (2.0, 1)
    # archived prior run undercuts one key; .new sibling the other;
    # an sf-mismatched ladder record and a subset record are ignored
    (tmp_path / "BENCH_full_r15.json").write_text(json.dumps(
        {"sf": 0.1, "queries": {"a": 1.0, "b": 9.0}}
    ))
    (tmp_path / "BENCH_full_r15.json.new").write_text(json.dumps(
        {"sf": 0.1, "queries": {"a": 9.0, "b": 1.0}}
    ))
    (tmp_path / "BENCH_full_r15.json.new2").write_text(json.dumps(
        {"sf": 1.0, "queries": {"a": 0.1, "b": 0.1}}
    ))
    (tmp_path / "BENCH_full_r15.json.new3").write_text(json.dumps(
        {"sf": 0.1, "baseline_skip_reason": "subset_run",
         "queries": {"a": 0.1}}
    ))
    r, n = bench.session_floor_gate(
        timings, 0.1, None, "15", str(tmp_path), str(base)
    )
    assert (r, n) == (1.0, 3)  # floors {a:1.0, b:1.0} over 3 live runs
    # r16 (VERDICT r15 wrong #3): LETTER-suffix siblings — the r13/r14
    # divert convention — are seen too, not just dotted .new ones
    (tmp_path / "BENCH_full_r15b.json").write_text(json.dumps(
        {"sf": 0.1, "queries": {"a": 9.0, "b": 0.5}}
    ))
    r, n = bench.session_floor_gate(
        timings, 0.1, None, "15", str(tmp_path), str(base)
    )
    # floors {a:1.0, b:0.5} -> total 1.5 over baseline total 2.0
    assert (r, n) == (0.75, 4)
    # r16 (VERDICT r15 wrong #1): when the caller gives NO round on a
    # full-headline run — the driver's invocation — the round is
    # inferred from the highest archive present, so the committed
    # record carries the session floor instead of the single-draw
    # degenerate
    assert bench._infer_session_round(str(tmp_path)) == "15"
    r, n = bench.session_floor_gate(
        timings, 0.1, None, None, str(tmp_path), str(base)
    )
    assert (r, n) == (0.75, 4)
    # subset waves never mix archives in (and report the partial side)
    r, n = bench.session_floor_gate(
        {"a": 2.0}, 0.1, "a", "15", str(tmp_path), str(base)
    )
    assert (r, n) == (2.0, 1)


def test_count_round_runs(tmp_path):
    """bench.count_round_runs (VERDICT r16 ask #9): counts exactly the
    archives session_floor_gate folds into a round's floor — full
    runs at the same sf, both divert conventions, subsets and
    sf-mismatches excluded — so baseline_floor_runs_prev lets a
    round-over-round floor delta be draw-count corrected."""
    import json

    import bench

    (tmp_path / "BENCH_full_r15.json").write_text(json.dumps(
        {"sf": 0.1, "queries": {"a": 1.0}}
    ))
    (tmp_path / "BENCH_full_r15.json.new").write_text(json.dumps(
        {"sf": 0.1, "queries": {"a": 2.0}}
    ))
    (tmp_path / "BENCH_full_r15b.json").write_text(json.dumps(
        {"sf": 0.1, "queries": {"a": 3.0}}
    ))
    (tmp_path / "BENCH_full_r15.json.new2").write_text(json.dumps(
        {"sf": 1.0, "queries": {"a": 0.1}}       # ladder: excluded
    ))
    (tmp_path / "BENCH_full_r15.json.new3").write_text(json.dumps(
        {"sf": 0.1, "baseline_skip_reason": "subset_run",
         "queries": {"a": 0.1}}                  # subset: excluded
    ))
    (tmp_path / "BENCH_full_r15.json.new4").write_text("not json")
    assert bench.count_round_runs(str(tmp_path), 15, 0.1) == 3
    assert bench.count_round_runs(str(tmp_path), 14, 0.1) == 0
    assert bench.count_round_runs(str(tmp_path), None, 0.1) == 0


def test_inline_queries_subset(tmp_path):
    """bench.inline_queries_subset (VERDICT r16 ask #2): the final
    one-line JSON's per-query slice must (1) fit the driver's
    2000-char tail window with every other summary field around it,
    (2) pick membership from the FROZEN floors only — identical
    across draws and core counts, so the driver's scaling pass can
    intersect the 32-core and low-core maps — and (3) carry this
    run's actual values."""
    import json

    import bench

    full = json.load(open("BENCH_full_r06.json"))
    timings = {q: 9.999 for q in bench.HEADLINE}
    sub = bench.inline_queries_subset(timings)
    assert 20 <= len(sub) < len(bench.HEADLINE)
    assert all(v == 9.999 for v in sub.values())
    # membership is draw-independent
    other = {q: i * 0.001 for i, q in enumerate(bench.HEADLINE)}
    assert set(sub) == set(bench.inline_queries_subset(other))
    # the serialized slice respects the byte budget it was sized for
    assert len(json.dumps(sub, separators=(",", ":"))) <= 1200
    # membership prefers the slowest frozen floors: the overall
    # slowest frozen query is always present
    base_q = {**full["queries"], **bench.BASELINE_REFREEZE}
    slowest = max(
        (q for q in bench.HEADLINE if q in base_q), key=lambda q: base_q[q]
    )
    assert slowest in sub


def test_parse_round_arg_branches():
    """bench._parse_round_arg (ADVICE r9 #1): every branch — env,
    flag, flag-overrides-env, absent, and the two fail-fast malformed
    cases that used to crash AFTER the run."""
    import pytest

    import bench

    assert bench._parse_round_arg(["bench.py"], {}) is None
    assert bench._parse_round_arg(["bench.py"], {"SPARK_GRAFT_ROUND": "9"}) == "9"
    assert bench._parse_round_arg(["bench.py", "--round", "10"], {}) == "10"
    # flag wins over env
    assert bench._parse_round_arg(
        ["bench.py", "--round", "10"], {"SPARK_GRAFT_ROUND": "9"}
    ) == "10"
    # --round as the last token: clear SystemExit, not IndexError
    with pytest.raises(SystemExit, match="requires a value"):
        bench._parse_round_arg(["bench.py", "--round"], {})
    # non-numeric value: clear SystemExit, not ValueError mid-archive
    with pytest.raises(SystemExit, match="not an integer"):
        bench._parse_round_arg(["bench.py", "--round", "ten"], {})
    with pytest.raises(SystemExit, match="not an integer"):
        bench._parse_round_arg(["bench.py"], {"SPARK_GRAFT_ROUND": "x"})


def test_divert_archive_path_never_clobbers(tmp_path):
    """ADVICE r10 #3 pin: the diverted-archive fallback must uniquify —
    a second (and third) collision lands in .new2/.new3 instead of
    silently overwriting the first diverted record."""
    import bench

    base = str(tmp_path / "BENCH_full_r99.json")
    assert bench._divert_archive_path(base) == base + ".new"
    open(base + ".new", "w").write("{}")
    assert bench._divert_archive_path(base) == base + ".new2"
    open(base + ".new2", "w").write("{}")
    assert bench._divert_archive_path(base) == base + ".new3"


def test_baseline_covers_full_headline():
    """VERDICT r9 ask #3 pin: every HEADLINE query has a baseline entry
    (the frozen r6 floor or the BASELINE_REFREEZE overlay), so
    baseline_ratio is computed over the FULL headline — a new headline
    query without a deliberate frozen baseline fails here."""
    import json
    import os

    import bench

    base_path = os.path.join(
        os.path.dirname(os.path.abspath(bench.__file__)),
        "BENCH_full_r06.json",
    )
    with open(base_path) as f:
        covered = set(json.load(f)["queries"]) | set(bench.BASELINE_REFREEZE)
    missing = [q for q in bench.HEADLINE if q not in covered]
    assert not missing, f"headline queries without a frozen baseline: {missing}"

def test_incremental_shard_write_matches_full_rewrite(spark, tmp_path):
    """io.write_training_shards_incremental (r16): corpus_shard_diff's
    localization claim, ACTED on and pinned at the filesystem — after
    a small corpus revision (a handful of docs revised, a handful
    removed), the incremental publish (a) produces a layout whose
    per-shard doc_id SEQUENCES and manifest are identical to a
    from-scratch rewrite of the new corpus, and (b) leaves every
    clean shard's files byte-untouched on disk (same path set, same
    mtime_ns) while replacing exactly the dirty shards.  curated=True
    throughout: the test isolates the writer, not the funnel."""
    import glob
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from data_pipeline_and_visualization_dashboard_spark.io import (
        write_training_shards, write_training_shards_incremental,
    )

    # corpus v2 on disk: revise doc_id%97==0, drop doc_id%89==0
    docs = spark.read.parquet(SF_SMOKE + "/documents.parquet")
    v2dir = str(tmp_path / "corpus_v2")
    (
        docs.filter(F.col("doc_id") % 89 != 0)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 97 == 0,
                F.concat(F.col("text"), F.lit(" rev2")),
            ).otherwise(F.col("text")),
        )
        .write.parquet(os.path.join(v2dir, "documents.parquet"))
    )

    out_inc = str(tmp_path / "shards_inc")
    write_training_shards(spark, SF_SMOKE, out_inc, curated=True)

    def files_with_mtimes(d):
        out = {}
        for s in range(16):
            parts = sorted(
                glob.glob(os.path.join(d, f"shard={s}", "*.parquet"))
            )
            out[s] = [(p, os.stat(p).st_mtime_ns) for p in parts]
        return out

    before = files_with_mtimes(out_inc)
    m_inc = sorted(map(tuple, write_training_shards_incremental(
        spark, v2dir, out_inc, curated=True
    ).collect()))
    after = files_with_mtimes(out_inc)

    out_full = str(tmp_path / "shards_full")
    m_full = sorted(map(tuple, write_training_shards(
        spark, v2dir, out_full, curated=True
    ).collect()))
    assert m_inc == m_full  # manifests agree exactly (checksums too)

    def seqs(d):
        out = {}
        for s in range(16):
            parts = sorted(
                glob.glob(os.path.join(d, f"shard={s}", "*.parquet"))
            )
            out[s] = [
                v
                for p in parts
                for v in pq.read_table(p, columns=["doc_id"])[
                    "doc_id"
                ].to_pylist()
            ]
        return out

    inc_seqs, full_seqs = seqs(out_inc), seqs(out_full)
    assert inc_seqs == full_seqs  # layout == from-scratch rewrite

    # ground-truth dirty set: shards holding a revised or removed doc
    import hashlib as _hl

    def shard_of(doc_id):
        h = int(_hl.md5(f"shard{doc_id}".encode()).hexdigest()[:15], 16)
        return h % 16

    touched = {
        shard_of(r.doc_id)
        for r in docs.select("doc_id").collect()
        if r.doc_id % 89 == 0 or r.doc_id % 97 == 0
    }
    assert 0 < len(touched) < 16  # the fixture leaves BOTH kinds
    for s in range(16):
        if s in touched:
            assert before[s] != after[s], f"dirty shard {s} untouched"
        else:
            assert before[s] == after[s], f"clean shard {s} rewritten"


def test_null_counts_matches_duckdb(spark, tmp_path):
    """V4 (ipynb:167): per-column null counts over a crafted frame
    with nulls in some columns, none in one, all in another, and a NaN
    (not a null in either engine), against DuckDB's count(*) -
    count(col)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_and_visualization_dashboard_spark.validate import (
        null_counts,
    )

    path = str(tmp_path / "nulls.parquet")
    pq.write_table(
        pa.table({
            "id": pa.array([1, 2, 3, 4, 5], pa.int64()),
            "user_id": pa.array([1, None, 3, None, None], pa.int64()),
            "event_type": pa.array(["a", None, "b", "c", None]),
            "value": pa.array([1.0, float("nan"), None, 2.0, 3.0]),
            "props": pa.array([None] * 5, pa.string()),
        }),
        path,
    )
    got = null_counts(spark.read.parquet(path))
    cols = ["id", "user_id", "event_type", "value", "props"]
    row = duckdb.connect().execute(
        "SELECT " + ", ".join(f"count(*) - count({c})" for c in cols)
        + f" FROM read_parquet('{path}')"
    ).fetchone()
    want = dict(zip(cols, row))
    assert want == {
        "id": 0, "user_id": 3, "event_type": 2, "value": 1, "props": 5
    }
    assert got == want
