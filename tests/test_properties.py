"""Property-based spot checks (SURVEY §5): invariants that must hold
for arbitrary inputs, generated by hypothesis over small frames (few
examples — each example pays a Spark job)."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

_settings = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    intervals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),  # start
            st.integers(min_value=0, max_value=25),  # length
        ),
        min_size=1,
        max_size=40,
    )
)
@_settings
def test_sweep_concurrency_matches_bruteforce(spark, intervals):
    """q69's distributed two-phase sweep ≡ brute-force interval
    concurrency for ANY interval set (closed-interval convention:
    touching endpoints overlap) — including zero-length intervals,
    duplicate intervals, and tied starts, the cases the tie-group
    max window exists for."""
    from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
        _sweep_start_concurrency,
    )

    rows = [
        (i, 0, s, s + ln) for i, (s, ln) in enumerate(intervals)
    ]
    sess = spark.createDataFrame(
        rows, "user_id long, sess_no long, s_us long, e_us long"
    )
    got = {
        (r.user_id, r.us): r.concurrent
        for r in _sweep_start_concurrency(spark, sess).collect()
    }
    for uid, _, s, e in rows:
        brute = sum(1 for _, _, s2, e2 in rows if s2 <= s <= e2)
        assert got[(uid, s)] == brute, (uid, s, e, got[(uid, s)], brute)


@given(
    values=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        ),
        min_size=1,
        max_size=50,
    )
)
@_settings
def test_salted_agg_invariant(spark, values):
    """salted two-phase agg ≡ plain agg for any data."""
    from data_pipeline_and_visualization_dashboard_spark.skew import (
        salted_group_agg,
    )

    df = spark.createDataFrame(values, "k string, v double")
    plain = {
        r.k: (r.cnt, round(r.total, 6))
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("v").alias("total"))
        .collect()
    }
    salted = {
        r.k: (r.cnt, round(r.total, 6))
        for r in salted_group_agg(df, ["k"], "v", salts=4).collect()
    }
    assert plain == salted


@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.floats(min_value=-100, max_value=1000,
                                           allow_nan=False)),
        ),
        min_size=1,
        max_size=40,
    )
)
@_settings
def test_accounting_invariant(spark, rows):
    """rows_in == rows_kept + sum(removed_*) for ANY value column
    (nulls, negatives, over-cap) — the V5 conservation law."""
    from data_pipeline_and_visualization_dashboard_spark.validate import (
        removal_accounting,
    )

    df = spark.createDataFrame(rows, "value double")
    rules = {
        "nulls": F.col("value").isNotNull(),
        "value_pos": F.col("value") > 0,
        "value_cap": F.col("value") <= 500.0,
    }
    r = removal_accounting(df, rules).first().asDict()
    removed = sum(v for k, v in r.items() if k.startswith("removed_"))
    assert r["rows_in"] == r["rows_kept"] + removed
    assert r["rows_in"] == len(rows)


def test_percent_of_total_sums_to_100(spark):
    """Q3 property: the pct column must sum to 100 (±float dust)."""
    from data_pipeline_and_visualization_dashboard_spark.queries import (
        q3_event_type_pct,
    )
    from tests.conftest import SF_SMOKE

    rows = q3_event_type_pct(spark, SF_SMOKE).collect()
    assert abs(sum(r.pct for r in rows) - 100.0) < 1e-6


def test_unmapped_type_label_silently_dropped(spark):
    """SURVEY §7.4 #4 trap, replicated deliberately: an event_type with
    no label mapping gets a null label, which an IN-filter silently
    excludes and the donut omits."""
    from data_pipeline_and_visualization_dashboard_spark.charts import (
        filtered_events, type_donut,
    )
    from data_pipeline_and_visualization_dashboard_spark.io import read_table
    from tests.conftest import SF_SMOKE

    events = read_table(spark, SF_SMOKE, "events")
    with_unknown = events.union(
        events.limit(7).withColumn("event_type", F.lit("refund"))
    )
    all_labels = ["Click", "View", "Purchase", "Sign Up", "Error"]
    filtered = filtered_events(with_unknown, type_labels=all_labels)
    assert filtered.count() == events.count()  # the 7 refunds vanished
    donut = type_donut(
        filtered_events(with_unknown)  # no label filter
    ).collect()
    assert "refund" not in {r.event_type_label for r in donut}
    assert sum(r.cnt for r in donut) == events.count()


@given(
    words=st.lists(
        st.text(alphabet="ab", min_size=1, max_size=12),
        min_size=1,
        max_size=12,
    ),
    merges=st.lists(
        st.tuples(
            st.text(alphabet="ab", min_size=1, max_size=2),
            st.text(alphabet="ab", min_size=1, max_size=2),
        ),
        min_size=1,
        max_size=3,
    ),
)
@_settings
def test_bpe_separator_encoding_equals_greedy_merge(spark, words, merges):
    """The doubled-separator replace encoding must implement EXACTLY
    greedy left-to-right non-overlapping BPE merging for arbitrary
    symbol sequences — including the adversarial overlap cases
    ('aaaa' + merge (a,a) → [aa,aa], never [aa,a,a]) a naive
    single-separator encoding gets wrong. Reference: direct Python
    greedy merge over symbol tuples."""

    def py_merge(syms, l, r):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                out.append(l + r)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    df = spark.createDataFrame([(w,) for w in words], "word string")
    expr = "regexp_replace(word, '(.)', '|$1|')"
    expected = []
    for w in words:
        syms = list(w)
        for l, r in merges:
            syms = py_merge(syms, l, r)
        expected.append(syms)
    for l, r in merges:
        expr = f"replace({expr}, '|{l}||{r}|', '|{l}{r}|')"
    got = [
        r.syms
        for r in df.selectExpr(
            f"split(trim(BOTH '|' FROM {expr}), '\\\\|\\\\|') AS syms"
        ).collect()
    ]
    assert got == expected


# --- CDC snapshot-diff model test (round 6) -------------------------------

_OP = st.tuples(
    st.integers(min_value=0, max_value=3),                  # seq
    st.integers(min_value=0, max_value=4),                  # doc_id
    st.sampled_from([None, "a", "b", "longer text"]),       # text
    st.sampled_from(["upsert", "delete"]),                  # op
)


def _model_apply(state, batch):
    """Python reference model of streaming.merge_batch: one op per doc
    (max seq; ties broken by op desc then md5(text) desc), null-safe
    hash compare with an explicit presence notion, per-status doc/char
    accounting with SQL SUM null semantics."""
    import hashlib as hl

    def h(t):
        return (
            None if t is None else hl.md5(t.encode()).hexdigest()
        )

    winners = {}
    for seq, doc, text, op in batch:
        key = (seq, op, h(text) or "")
        if doc not in winners or key > winners[doc][0]:
            winners[doc] = (key, text, op)
    deltas = {}

    def acct(status, chars):
        n, tot = deltas.get(status, (0, None))
        if chars is not None:
            tot = (tot or 0) + chars
        deltas[status] = (n + 1, tot)

    for doc, (_, text, op) in sorted(winners.items()):
        present = doc in state
        if op == "delete":
            if present:
                acct("removed", state[doc][1])
                del state[doc]
            continue  # absent delete: no-op tombstone, no ledger row
        hn = h(text)
        ln = None if text is None else len(text)
        if not present:
            acct("added", ln)
        elif state[doc][0] != hn:
            acct("changed", ln if ln is not None else state[doc][1])
        else:
            acct("unchanged", ln)
        state[doc] = (hn, ln)
    return deltas


@given(
    batches=st.lists(
        st.lists(_OP, min_size=1, max_size=6), min_size=1, max_size=3
    )
)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_snapshot_diff_matches_model(spark, batches, tmp_path_factory):
    """The streaming CDC snapshot diff must equal the reference model
    for ARBITRARY op sequences: same per-epoch ledger (status, doc
    and char accounting, SQL SUM null semantics) and same final state
    — exercising seq-tie determinism, NULL-text transitions, absent
    deletes, and multi-epoch state evolution far beyond the
    hand-written cases. All batch files are written up front with
    forced mtime order, so ONE drain processes them as consecutive
    epochs in a single stream session per example."""
    import os
    import time

    from data_pipeline_and_visualization_dashboard_spark import streaming

    root = tmp_path_factory.mktemp("sdp")
    in_dir, work = str(root / "in"), str(root / "sd")
    base = time.time() - 1000
    for k, batch in enumerate(batches):
        spark.createDataFrame(
            batch, "seq long, doc_id long, text string, op string"
        ).coalesce(1).write.parquet(in_dir, mode="append")
        # pin mtime order so epoch k == batches[k] (FileStreamSource
        # lists oldest-first); only files newer than the previous
        # append need stamping
        for f in os.listdir(in_dir):
            p = os.path.join(in_dir, f)
            if f.endswith(".parquet") and os.path.getmtime(p) > base + k:
                os.utime(p, (base + k, base + k))
    deltas = os.path.join(work, "deltas")
    streaming.drain(streaming.snapshot_diff_stream(
        spark, in_dir, os.path.join(work, "state"), deltas,
        os.path.join(work, "ckpt"),
    ))
    ledger = streaming.read_snapshot_deltas(spark, deltas)
    got = {
        (r.epoch, r.status): (r.n_docs, r.n_chars)
        for r in ledger.collect()
    }
    state = {}
    want = {}
    for k, batch in enumerate(batches):
        for status, (n, tot) in _model_apply(state, batch).items():
            want[(k, status)] = (n, tot)
    assert got == want
    import os.path as osp

    if osp.exists(osp.join(work, "state")):
        got_state = {
            r.doc_id: (r.h, r.n_chars)
            for r in spark.read.parquet(osp.join(work, "state")).collect()
        }
    else:
        got_state = {}
    assert got_state == state


@given(
    a_tokens=st.lists(
        st.sampled_from("alpha beta gamma delta eps zeta".split()),
        min_size=3, max_size=12,
    ),
    suffix=st.lists(
        st.sampled_from("omega psi chi phi".split()),
        min_size=0, max_size=6,
    ),
)
@_settings
def test_containment_prefix_subset_is_one(spark, tmp_path, a_tokens, suffix):
    """Containment algebra (dedup_containment_topk): when doc B has
    doc A as a token PREFIX, every 3-gram shingle of A appears in B,
    so C(a→b) must be exactly 1.0 and C(b→a) = |Sa|/|Sb| — for ANY
    token sequences, including repeated tokens (shingle sets are
    de-duplicated)."""
    import uuid

    from data_pipeline_and_visualization_dashboard_spark.extras import dedup

    a = " ".join(a_tokens)
    b = a + ((" " + " ".join(suffix)) if suffix else " tail token here")
    d = str(tmp_path / f"c{uuid.uuid4().hex[:8]}")
    spark.createDataFrame(
        [(0, a), (1, b)], "doc_id long, text string"
    ).write.parquet(d + "/documents.parquet")
    out = {
        (r.doc_id_a, r.doc_id_b): r.containment
        for r in dedup.containment_topk(spark, d).collect()
    }
    assert out[(0, 1)] == 1.0
    # the reverse direction is |Sa|/|Sb| <= 1, equal iff same shingle set
    assert 0.0 < out[(1, 0)] <= 1.0


@given(
    base=st.lists(
        st.floats(min_value=10.0, max_value=20.0,
                  allow_nan=False, allow_infinity=False),
        min_size=12, max_size=30,
    ),
    n_out=st.integers(min_value=1, max_value=3),
)
@_settings
def test_mad_cut_resists_contamination(spark, tmp_path, base, n_out):
    """q90's robustness claim, as a property: injecting a few extreme
    outliers must (a) flag AT LEAST those points and (b) leave the
    median inside the clean data's range — the poisoned batch cannot
    widen its own acceptance gate (a mean/stddev z-score fails (b):
    the outliers inflate sigma until they pass)."""
    import uuid

    from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
        q90_mad_outliers,
    )

    rows = [("t", float(v)) for v in base]
    rows += [("t", 1e7 + i) for i in range(n_out)]
    d = str(tmp_path / f"m{uuid.uuid4().hex[:8]}")
    spark.createDataFrame(
        rows, "event_type string, value double"
    ).write.parquet(d + "/events.parquet")
    r = q90_mad_outliers(spark, d).first()
    assert r.n == len(rows)
    # +/-1e-6 envelope = exactly the 6dp rounding quantum: q90 emits
    # its median ROUNDED to 6dp for cross-engine parity
    # (queries_ext.py q90_mad_outliers), so a base max of 10.9921875
    # legitimately rounds UP to 10.992188 (VERDICT r11 wrong #2).
    assert min(base) - 1e-6 <= r.med <= max(base) + 1e-6
    # degenerate clean data (all values identical -> mad 0) flags every
    # deviation, which only strengthens (a)
    assert r.n_outliers >= n_out


@given(
    tokens=st.lists(
        st.sampled_from("aa bb cc dd ee".split()),
        min_size=1, max_size=30,
    )
)
@_settings
def test_token_entropy_bounds(spark, tmp_path, tokens):
    """Unigram entropy invariants for ANY token multiset: 0 ≤ H ≤
    log2(#distinct), H = 0 iff one distinct token, and H = log2(n)
    when all n tokens are distinct (uniform case, exact after 6dp
    rounding)."""
    import math
    import uuid

    from data_pipeline_and_visualization_dashboard_spark.extras.text import (
        token_entropy,
    )

    d = str(tmp_path / f"e{uuid.uuid4().hex[:8]}")
    spark.createDataFrame(
        [(0, " ".join(tokens))], "doc_id long, text string"
    ).write.parquet(d + "/documents.parquet")
    r = token_entropy(spark, d).first()
    assert r.n_tokens == len(tokens)
    distinct = len(set(tokens))
    assert -1e-9 <= r.entropy_bits <= round(math.log2(distinct), 6) + 1e-9
    if distinct == 1:
        assert r.entropy_bits == 0.0
    if distinct == len(tokens):
        assert abs(r.entropy_bits - round(math.log2(len(tokens)), 6)) <= 1e-6


@given(
    values=st.lists(
        st.floats(min_value=1.0, max_value=1000.0,
                  allow_nan=False, allow_infinity=False),
        min_size=3, max_size=25,
    ),
    equal=st.booleans(),
)
@_settings
def test_gini_invariants(spark, tmp_path, values, equal):
    """q92's statistic, as a property over arbitrary order values:
    0 ≤ G < 1 always; G == 0 exactly for all-equal values (the formula
    telescopes to (n+1)/n − (n+1)/n — no float residue survives the
    6dp rounding); appending a whale order 1000× the current total
    strictly increases G (concentration monotonicity)."""
    import uuid

    from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
        q92_value_gini,
    )

    if equal:
        values = [values[0]] * len(values)

    def write(dirname, vals):
        d = str(tmp_path / dirname)
        spark.createDataFrame(
            [(i, 1, float(v)) for i, v in enumerate(vals)],
            "o_orderkey long, o_custkey long, o_totalprice double",
        ).write.parquet(d + "/orders.parquet")
        spark.createDataFrame(
            [(1, 7)], "c_custkey long, c_nationkey int"
        ).write.parquet(d + "/customer.parquet")
        spark.createDataFrame(
            [(7, "X")], "n_nationkey int, n_name string"
        ).write.parquet(d + "/nation.parquet")
        return d

    tag = uuid.uuid4().hex[:8]
    g = q92_value_gini(spark, write(f"g{tag}", values)).first().gini
    assert -1e-9 <= g < 1.0
    if equal:
        assert abs(g) <= 1e-9
    whale = sum(values) * 1000.0
    g2 = q92_value_gini(
        spark, write(f"w{tag}", values + [whale])
    ).first().gini
    assert g2 > g


@given(
    user_vals=st.dictionaries(
        st.integers(min_value=1, max_value=30),
        st.floats(min_value=1.0, max_value=100.0,
                  allow_nan=False, allow_infinity=False),
        min_size=2, max_size=20,
    )
)
@_settings
def test_rrf_fusion_invariants(spark, tmp_path, user_vals):
    """q93 invariants for arbitrary per-user (value, recency) data
    where one synthetic user dominates BOTH lists: that user must rank
    1 in both (score exactly round(2/(K+1), 6), the maximum possible),
    must top the fused output, every emitted score lies in (0, 2/(K+1)],
    and emitted ranks are within [1, RRF_DEPTH]."""
    import uuid

    from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
        RRF_DEPTH, RRF_K, q93_rrf_fusion,
    )

    champ = 999
    rows = []
    eid = 0
    for u, v in user_vals.items():
        rows.append((eid, u, float(v), f"2024-01-01 00:{eid % 60:02d}:00"))
        eid += 1
    rows.append((eid, champ, sum(v for v in user_vals.values()) + 1.0,
                 "2024-06-01 00:00:00"))
    d = str(tmp_path / f"r{uuid.uuid4().hex[:8]}")
    spark.createDataFrame(
        rows, "event_id long, user_id long, value double, ts string"
    ).selectExpr(
        "event_id", "user_id", "value", "CAST(ts AS TIMESTAMP) AS ts"
    ).write.parquet(d + "/events.parquet")
    out = q93_rrf_fusion(spark, d).collect()
    top = out[0]
    max_score = round(2.0 / (RRF_K + 1), 6)
    assert top.user_id == champ
    assert top.r_value == 1.0 and top.r_recency == 1.0
    assert top.rrf_score == max_score
    for r in out:
        assert 0.0 < r.rrf_score <= max_score
        for rank in (r.r_value, r.r_recency):
            if rank is not None:
                assert 1 <= rank <= RRF_DEPTH


@given(
    spends=st.lists(
        st.floats(min_value=1.0, max_value=1000.0,
                  allow_nan=False, allow_infinity=False),
        min_size=1, max_size=20,
    ),
    equal=st.booleans(),
)
@_settings
def test_hhi_invariants(spark, tmp_path, spends, equal):
    """q94's statistic, as a property over arbitrary per-customer
    spends: 1/n ≤ HHI ≤ 1 always; HHI == 1.0 exactly for a single
    customer (x²/x² — no float residue); all-equal spends give
    HHI ≈ 1/n and effective_customers ≈ n; appending a whale customer
    spending 1000× the current total strictly increases HHI
    (concentration monotonicity — the same direction q92's Gini
    moves, measured without a sort)."""
    import uuid

    from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
        q94_hhi_concentration,
    )

    if equal:
        spends = [spends[0]] * len(spends)

    def write(dirname, vals):
        d = str(tmp_path / dirname)
        spark.createDataFrame(
            [(i, i, float(v)) for i, v in enumerate(vals)],
            "o_orderkey long, o_custkey long, o_totalprice double",
        ).write.parquet(d + "/orders.parquet")
        spark.createDataFrame(
            [(i, 7) for i in range(len(vals) + 1)],
            "c_custkey long, c_nationkey int",
        ).write.parquet(d + "/customer.parquet")
        spark.createDataFrame(
            [(7, "X")], "n_nationkey int, n_name string"
        ).write.parquet(d + "/nation.parquet")
        return d

    tag = uuid.uuid4().hex[:8]
    n = len(spends)
    r = q94_hhi_concentration(spark, write(f"h{tag}", spends)).first()
    assert r.n_customers == n
    assert 1.0 / n - 1e-6 <= r.hhi <= 1.0 + 1e-9
    if n == 1:
        assert r.hhi == 1.0 and r.effective_customers == 1.0
    if equal:
        assert abs(r.hhi - 1.0 / n) <= 1e-6
        assert abs(r.effective_customers - n) <= 1e-3
    if n > 1:
        whale = sum(spends) * 1000.0
        r2 = q94_hhi_concentration(
            spark, write(f"w{tag}", spends + [whale])
        ).first()
        # Adding a 1000x whale only strictly increases HHI when the
        # prior distribution is less concentrated than ~0.998: for
        # spends like [1000, 1] both old and new HHI round to the
        # same 6dp value (new is smaller by ~1000/1001^4 unrounded —
        # ADVICE r11 #2), so assert strictness only below 0.99 and a
        # rounding-quantum non-decrease otherwise.
        assert r2.hhi >= r.hhi - 1e-6
        if r.hhi < 0.99:
            assert r2.hhi > r.hhi


@given(
    fillers=st.lists(
        st.sampled_from("alpha beta gamma delta zeta".split()),
        min_size=2, max_size=12,
    ),
    champ_tf=st.integers(min_value=3, max_value=12),
)
@_settings
def test_hybrid_rrf_invariants(spark, tmp_path, fillers, champ_tf):
    """sim_search_rrf invariants on a corpus where doc 1 dominates
    BOTH retrieval lists (sole holder of a query term lexically;
    embedding exactly parallel to the query vector semantically): it
    must carry rank 1.0 in both, top the fused output with score
    exactly round(2/(K+1), 6) — the maximum possible — and every
    emitted score/rank must respect the bounds.  Filler docs use a
    vocabulary disjoint from QUERY_RANKED and embeddings strictly
    less aligned than the champion, so no tie can displace it."""
    import uuid

    from data_pipeline_and_visualization_dashboard_spark.extras.search import (
        HYBRID_DEPTH,
        HYBRID_RRF_K,
        search_hybrid_rrf,
    )

    n_docs = len(fillers) + 1
    docs = [(1, "dup " * champ_tf)] + [
        (i + 2, f"{w} {w} filler") for i, w in enumerate(fillers)
    ]
    # vec 0 = the query vector; doc 1 parallel to it (cosine exactly
    # 1.0); fillers pick up a growing orthogonal component -> cosine
    # strictly < 1 and strictly decreasing, so ranks are unambiguous
    embs = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [2.0, 0.0, 0.0, 0.0])] + [
        (i + 2, [1.0, float(i + 1), 0.0, 0.0]) for i in range(len(fillers))
    ]
    d = str(tmp_path / f"hy{uuid.uuid4().hex[:8]}")
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        d + "/documents.parquet"
    )
    spark.createDataFrame(
        embs, "vec_id long, embedding array<float>"
    ).write.parquet(d + "/embeddings.parquet")
    out = search_hybrid_rrf(spark, d).collect()
    assert 0 < len(out) <= n_docs
    top = out[0]
    max_score = round(2.0 / (HYBRID_RRF_K + 1), 6)
    assert top.doc_id == 1
    assert top.r_lexical == 1.0 and top.r_semantic == 1.0
    assert top.rrf_score == max_score
    for r in out:
        assert 0.0 < r.rrf_score <= max_score
        for rank in (r.r_lexical, r.r_semantic):
            if rank is not None:
                assert 1 <= rank <= HYBRID_DEPTH


@given(
    vals=st.lists(
        st.floats(min_value=1.0, max_value=100.0,
                  allow_nan=False, allow_infinity=False),
        min_size=1, max_size=15,
    ),
    ages_w=st.lists(st.integers(min_value=0, max_value=80),
                    min_size=1, max_size=15),
)
@_settings
def test_decay_matches_exact_python_fold(spark, tmp_path, vals, ages_w):
    """q91's exactness claim, as a property: because every decay weight
    is an exact power of two (floor week exponent, clamped at 60), a
    plain Python fold over the same (value, age) pairs reproduces the
    engine's decayed_sum bit-for-bit before rounding — no libm, no
    engine-specific transcendental. Also pins the clamp: ages past 60
    weeks keep contributing 2^-60, never underflow to a different
    branch, and all-age-0 input gives retained_frac exactly 1.0."""
    import uuid
    from datetime import datetime, timedelta

    from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
        DECAY_CLAMP, DECAY_HALF_LIFE_DAYS, q91_decayed_engagement,
    )

    n = min(len(vals), len(ages_w))
    vals, ages_w = vals[:n], ages_w[:n]
    # ensure age 0 exists so max(event date) anchors the reference
    ages_w[0] = 0
    ref = datetime(2024, 6, 1)
    rows = [
        ("t", float(v), ref - timedelta(days=7 * a))
        for v, a in zip(vals, ages_w)
    ]
    d = str(tmp_path / f"d{uuid.uuid4().hex[:8]}")
    spark.createDataFrame(
        rows, "event_type string, value double, ts timestamp"
    ).write.parquet(d + "/events.parquet")
    r = q91_decayed_engagement(spark, d).first()
    want = sum(
        v * 0.5 ** min(a, DECAY_CLAMP)
        for v, a in zip(vals, ages_w)
    )
    assert r.n_events == n
    assert abs(r.decayed_sum - round(want, 4)) <= 1e-3
    if all(a == 0 for a in ages_w):
        assert r.retained_frac == 1.0
    assert DECAY_HALF_LIFE_DAYS == 7  # the python fold above assumes it


@given(
    tokens=st.lists(
        st.sampled_from("alpha beta gamma delta x1 y2".split()),
        min_size=1, max_size=40,
    )
)
@_settings
def test_hashed_features_invariants(spark, tmp_path, tokens):
    """Hashing-trick invariants for ANY token sequence: per-doc counts
    sum to the token count (hashing never drops or duplicates a
    token), every bucket is in [0, HASH_DIM), and the featurizer is a
    pure function of the text — a second doc with identical text gets
    the identical sparse vector (the shard-independence property the
    docstring claims)."""
    import uuid

    from data_pipeline_and_visualization_dashboard_spark.extras.text import (
        HASH_DIM, hashed_features,
    )

    text = " ".join(tokens)
    d = str(tmp_path / f"h{uuid.uuid4().hex[:8]}")
    spark.createDataFrame(
        [(0, text), (1, text)], "doc_id long, text string"
    ).write.parquet(d + "/documents.parquet")
    rows = hashed_features(spark, d).collect()
    by_doc: dict[int, set] = {0: set(), 1: set()}
    for r in rows:
        assert 0 <= r.bucket < HASH_DIM
        by_doc[r.doc_id].add((r.bucket, r.cnt))
    assert sum(c for _, c in by_doc[0]) == len(tokens)
    assert by_doc[0] == by_doc[1]


@given(
    spends=st.lists(
        st.floats(min_value=1.0, max_value=1000.0,
                  allow_nan=False, allow_infinity=False),
        min_size=2, max_size=20,
    ),
)
@_settings
def test_top_decile_share_invariants(spark, tmp_path, spends):
    """q95's statistic over arbitrary per-customer spends: the share
    is a proper fraction; at least one customer sits at/above the
    90th-percentile threshold (the max always does); and the
    mean-dominance bound share ≥ n_top/n holds — every top customer
    spends ≥ the threshold > every non-top customer, so the top
    group's mean dominates the overall mean. Bounds carry the ±1e-6
    rounding-quantum envelope (6dp share, 2dp spends — the r11
    lesson: any engine-vs-raw-input comparison must allow the
    emitted rounding)."""
    import uuid

    from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
        q95_top_decile_share,
    )

    def write(dirname, vals):
        d = str(tmp_path / dirname)
        spark.createDataFrame(
            [(i, i, float(v)) for i, v in enumerate(vals)],
            "o_orderkey long, o_custkey long, o_totalprice double",
        ).write.parquet(d + "/orders.parquet")
        spark.createDataFrame(
            [(i, 7) for i in range(len(vals) + 1)],
            "c_custkey long, c_nationkey int",
        ).write.parquet(d + "/customer.parquet")
        spark.createDataFrame(
            [(7, "X")], "n_nationkey int, n_name string"
        ).write.parquet(d + "/nation.parquet")
        return d

    tag = uuid.uuid4().hex[:8]
    n = len(spends)
    r = q95_top_decile_share(spark, write(f"p{tag}", spends)).first()
    assert r.n_customers == n
    assert 1 <= r.n_top <= n
    assert 0.0 < r.top_decile_share <= 1.0 + 1e-9
    assert r.top_decile_share >= r.n_top / n - 1e-6
    # the threshold is a real quantile of the (2dp-rounded) spends
    assert (
        min(spends) - 1e-2 - 1e-6
        <= r.decile_threshold
        <= max(spends) + 1e-2 + 1e-6
    )


@given(
    spends_a=st.lists(
        st.floats(min_value=1.0, max_value=1000.0,
                  allow_nan=False, allow_infinity=False),
        min_size=2, max_size=12,
    ),
    spends_b=st.lists(
        st.floats(min_value=1.0, max_value=1000.0,
                  allow_nan=False, allow_infinity=False),
        min_size=2, max_size=12,
    ),
)
@_settings
def test_top_decile_share_nation_independence(
    spark, tmp_path, spends_a, spends_b
):
    """q95's per-nation independence (VERDICT r12 #7): the statistic
    for a nation computed from a TWO-nation corpus must equal the
    statistic computed from that nation's customers alone, value for
    value — the percentile threshold, top headcount, and share never
    mix across the grouping key. Same engine both sides, so the
    comparison is exact (no rounding envelope needed)."""
    import uuid

    from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
        q95_top_decile_share,
    )

    def write(dirname, vals_by_nation):
        d = str(tmp_path / dirname)
        orders, custs = [], []
        cid = 0
        for nk, vals in vals_by_nation.items():
            for v in vals:
                orders.append((cid, cid, float(v)))
                custs.append((cid, nk))
                cid += 1
        spark.createDataFrame(
            orders,
            "o_orderkey long, o_custkey long, o_totalprice double",
        ).write.parquet(d + "/orders.parquet")
        spark.createDataFrame(
            custs, "c_custkey long, c_nationkey int"
        ).write.parquet(d + "/customer.parquet")
        spark.createDataFrame(
            [(7, "A"), (9, "B")], "n_nationkey int, n_name string"
        ).write.parquet(d + "/nation.parquet")
        return d

    tag = uuid.uuid4().hex[:8]
    both = {
        r.n_name: r
        for r in q95_top_decile_share(
            spark, write(f"dual{tag}", {7: spends_a, 9: spends_b})
        ).collect()
    }
    assert set(both) == {"A", "B"}
    alone_a = q95_top_decile_share(
        spark, write(f"a{tag}", {7: spends_a})
    ).first()
    alone_b = q95_top_decile_share(
        spark, write(f"b{tag}", {9: spends_b})
    ).first()
    for got, want in ((both["A"], alone_a), (both["B"], alone_b)):
        assert got.n_customers == want.n_customers
        assert got.n_top == want.n_top
        assert got.decile_threshold == want.decile_threshold
        assert got.top_decile_share == want.top_decile_share


@given(
    cents=st.lists(
        st.integers(min_value=100, max_value=100000),
        min_size=1, max_size=20,
    ),
)
@_settings
def test_ams_hhi_invariants(spark, tmp_path, cents):
    """sketch_ams_hhi invariants over arbitrary 2dp order amounts
    (cent-grid inputs: the DECIMAL(18,2) ingest cast rounds arbitrary
    floats, and rounding does NOT commute with scaling — hypothesis
    found 16.125 breaking a naive float-strategy version of (c)):
    (a) exact effective-customers within [1, n] (+ the rounding
    quantum); (b) a SINGLE customer gives hhi exact 1 on BOTH the
    exact and the estimated path (S_r = ±spend → median of squares =
    spend² = F2 = F1², no float residue); (c) the weighted-AMS
    estimate is EXACTLY scale-invariant for ×4: signs depend only on
    the key, 2dp amounts stay on the cent grid under ×4, so c·S_r is
    exact decimal and (c·S_r)²/(c·F1)² cancels bit-for-bit — the
    readouts must be identical, not merely close."""
    import uuid

    from data_pipeline_and_visualization_dashboard_spark.extras.sketches import (
        ams_hhi,
    )

    def write(dirname, vals, per_cust):
        d = str(tmp_path / dirname)
        rows = []
        for i, v in enumerate(vals):
            rows.append((i, i % per_cust if per_cust else i, float(v)))
        spark.createDataFrame(
            rows, "o_orderkey long, o_custkey long, o_totalprice double"
        ).write.parquet(d + "/orders.parquet")
        return d

    tag = uuid.uuid4().hex[:8]
    spends = [c / 100.0 for c in cents]
    n_keys = len(spends)
    r = ams_hhi(spark, write(f"a{tag}", spends, None)).first()
    assert r.n_customers == n_keys
    assert 1.0 - 1e-6 <= r.eff_customers_exact <= n_keys + 1e-6
    if n_keys == 1:
        assert r.eff_customers_exact == 1.0
        assert r.eff_customers_est == 1.0
        assert r.rel_err == 0.0
    # (c) exact scale invariance, power-of-two factor keeps 2dp exact
    scaled = [v * 4.0 for v in spends]
    r2 = ams_hhi(spark, write(f"s{tag}", scaled, None)).first()
    assert r2.eff_customers_exact == r.eff_customers_exact
    assert r2.eff_customers_est == r.eff_customers_est
    assert r2.rel_err == r.rel_err


@given(
    counts=st.lists(st.integers(min_value=1, max_value=100),
                    min_size=1, max_size=30),
)
@_settings
def test_pack_sequences_matches_reference_fold(spark, tmp_path, counts):
    """text_pack_sequences vs an exact Python reference of its own
    contract — greedy concat packing in doc_id order over
    PACK_SEQ_SHARDS independent running totals, truncate-to-CTX,
    band = min(n_tokens div BAND, 3)*BAND — for ANY token-count
    multiset. Integer columns must match exactly (mass conservation:
    tokens_total/kept/lost add up; windows: a doc starts in exactly
    one bin); the two 6dp-rounded ratios carry the rounding-quantum
    envelope (the r11 lesson). Texts are built as k space-joined
    letter words, which the BPE pre-tokenizer counts as exactly k
    non-whitespace pieces — so the fixture controls n_tokens
    directly."""
    import uuid

    from data_pipeline_and_visualization_dashboard_spark.extras.text import (
        _PACK_SEQ_MAX_BAND,
        PACK_SEQ_BAND,
        PACK_SEQ_CTX,
        PACK_SEQ_SHARDS,
        pack_sequences,
    )

    d = str(tmp_path / f"pk{uuid.uuid4().hex[:8]}")
    spark.createDataFrame(
        [(i, " ".join(["tok"] * k)) for i, k in enumerate(counts)],
        "doc_id long, text string",
    ).write.parquet(d + "/documents.parquet")

    ref: dict[int, dict] = {}
    cums = {s: 0 for s in range(PACK_SEQ_SHARDS)}
    for i, n in enumerate(counts):
        kept = min(n, PACK_SEQ_CTX)
        s = i % PACK_SEQ_SHARDS
        start, cums[s] = cums[s], cums[s] + kept
        band = min(n // PACK_SEQ_BAND, _PACK_SEQ_MAX_BAND) * PACK_SEQ_BAND
        r = ref.setdefault(
            band,
            dict(n_docs=0, n_trunc=0, tot=0, kept=0, bins=set()),
        )
        r["n_docs"] += 1
        r["n_trunc"] += int(n > PACK_SEQ_CTX)
        r["tot"] += n
        r["kept"] += kept
        r["bins"].add((s, start // PACK_SEQ_CTX))

    got = {r.band_lo: r for r in pack_sequences(spark, d).collect()}
    assert set(got) == set(ref)
    for band, want in ref.items():
        g = got[band]
        assert g.n_docs == want["n_docs"]
        assert g.n_truncated == want["n_trunc"]
        assert g.tokens_total == want["tot"]
        assert g.tokens_kept == want["kept"]
        assert g.tokens_lost == want["tot"] - want["kept"]
        assert g.bins_used == len(want["bins"])
        assert 1 <= g.bins_used <= g.n_docs
        assert abs(
            g.truncation_fraction - want["n_trunc"] / want["n_docs"]
        ) <= 1e-6
        assert abs(
            g.pack_efficiency
            - want["kept"] / (len(want["bins"]) * PACK_SEQ_CTX)
        ) <= 1e-6


@given(
    cents_a=st.lists(st.integers(min_value=100, max_value=100_000_00),
                     min_size=2, max_size=12),
    cents_b=st.lists(st.integers(min_value=100, max_value=100_000_00),
                     min_size=2, max_size=12),
)
@_settings
def test_theil_decomposition_additivity(spark, tmp_path, cents_a, cents_b):
    """q96's reason to exist, verified against a raw-input Python fold
    for ANY two-nation spend multiset (cent-grid inputs so the 2dp
    spend rounding is a no-op — the r12 DECIMAL lesson): (a) the
    per-nation theil_within matches the direct Σ(x/μ)ln(x/μ)/n fold;
    (b) Σ within_contrib + Σ between_term reconstructs the
    UNDECOMPOSED global Theil index exactly (the decomposition
    identity); (c) both components are non-negative in aggregate
    (within: Jensen; between: a KL divergence). Envelopes cover the
    6dp output rounding times the number of summed terms."""
    import math
    import uuid

    from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
        q96_theil_decomposition,
    )

    spends = {7: [c / 100.0 for c in cents_a],
              9: [c / 100.0 for c in cents_b]}
    d = str(tmp_path / f"th{uuid.uuid4().hex[:8]}")
    orders, custs = [], []
    cid = 0
    for nk, vals in spends.items():
        for v in vals:
            orders.append((cid, cid, float(v)))
            custs.append((cid, nk))
            cid += 1
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_totalprice double"
    ).write.parquet(d + "/orders.parquet")
    spark.createDataFrame(
        custs, "c_custkey long, c_nationkey int"
    ).write.parquet(d + "/customer.parquet")
    spark.createDataFrame(
        [(7, "A"), (9, "B")], "n_nationkey int, n_name string"
    ).write.parquet(d + "/nation.parquet")

    rows = {r.n_name: r for r in q96_theil_decomposition(spark, d).collect()}
    assert set(rows) == {"A", "B"}

    def theil(xs):
        mu = sum(xs) / len(xs)
        return sum((x / mu) * math.log(x / mu) for x in xs) / len(xs)

    for name, nk in (("A", 7), ("B", 9)):
        assert abs(rows[name].theil_within - theil(spends[nk])) <= 1e-5
        assert rows[name].n_customers == len(spends[nk])
    all_x = spends[7] + spends[9]
    total = theil(all_x)
    within = sum(r.within_contrib for r in rows.values())
    between = sum(r.between_term for r in rows.values())
    assert abs((within + between) - total) <= 1e-4
    assert within >= -1e-6
    assert between >= -1e-6


@given(
    cents=st.lists(st.integers(min_value=100, max_value=100_000_00),
                   min_size=2, max_size=12),
)
@_settings
def test_atkinson_index_properties(spark, tmp_path, cents):
    """q97 vs a raw-input Python fold for ANY one-nation spend multiset
    (cent-grid inputs so the 2dp spend rounding is a no-op — the r12
    DECIMAL lesson), plus the structural properties the docstring
    claims: (a) each level matches the direct generalized-mean fold;
    (b) 0 ≤ A(ε) < 1 (strict positivity of spends); (c) the power-mean
    ordering A(0.5) ≤ A(1) ≤ A(2); (d) scale invariance — ×4 every
    spend (stays on the cent grid) and every index is unchanged, only
    the mean moves.  Envelopes cover the 6dp output rounding."""
    import math
    import uuid

    from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
        q97_atkinson_index,
    )

    def write_fixture(vals, d):
        orders = [(i, i, float(v)) for i, v in enumerate(vals)]
        custs = [(i, 7) for i in range(len(vals))]
        spark.createDataFrame(
            orders, "o_orderkey long, o_custkey long, o_totalprice double"
        ).write.parquet(d + "/orders.parquet")
        spark.createDataFrame(
            custs, "c_custkey long, c_nationkey int"
        ).write.parquet(d + "/customer.parquet")
        spark.createDataFrame(
            [(7, "A")], "n_nationkey int, n_name string"
        ).write.parquet(d + "/nation.parquet")

    xs = [c / 100.0 for c in cents]
    d1 = str(tmp_path / f"atk{uuid.uuid4().hex[:8]}")
    write_fixture(xs, d1)
    row = q97_atkinson_index(spark, d1).collect()[0]

    def atkinson(vals):
        n = len(vals)
        mu = sum(vals) / n
        ede05 = (sum(math.sqrt(v) for v in vals) / n) ** 2
        ede1 = math.exp(sum(math.log(v) for v in vals) / n)
        ede2 = n / sum(1.0 / v for v in vals)
        return (1 - ede05 / mu, 1 - ede1 / mu, 1 - ede2 / mu)

    a05, a1, a2 = atkinson(xs)
    assert row.n_customers == len(xs)
    assert abs(row.atkinson_05 - a05) <= 1e-5
    assert abs(row.atkinson_1 - a1) <= 1e-5
    assert abs(row.atkinson_2 - a2) <= 1e-5
    for v in (row.atkinson_05, row.atkinson_1, row.atkinson_2):
        assert -1e-6 <= v < 1.0
    assert row.atkinson_05 <= row.atkinson_1 + 1e-6
    assert row.atkinson_1 <= row.atkinson_2 + 1e-6

    d2 = str(tmp_path / f"atk{uuid.uuid4().hex[:8]}")
    write_fixture([4.0 * x for x in xs], d2)
    row4 = q97_atkinson_index(spark, d2).collect()[0]
    assert abs(row4.atkinson_05 - row.atkinson_05) <= 2e-6
    assert abs(row4.atkinson_1 - row.atkinson_1) <= 2e-6
    assert abs(row4.atkinson_2 - row.atkinson_2) <= 2e-6
    assert abs(row4.mean_spend - 4.0 * row.mean_spend) <= 1e-4


@given(
    cents_a=st.lists(st.integers(min_value=100, max_value=100_000_00),
                     min_size=2, max_size=10),
    cents_b=st.lists(st.integers(min_value=100, max_value=100_000_00),
                     min_size=2, max_size=10),
)
@_settings
def test_atkinson_nation_independence(spark, tmp_path, cents_a, cents_b):
    """q97's per-nation independence (the q95 VERDICT-r12-#7
    precedent applied to the new inequality member): every Atkinson
    level for a nation computed from a TWO-nation corpus must equal
    the level computed from that nation's customers alone, value for
    value — the five decomposable sums never mix across the grouping
    key. Same engine both sides, so the comparison is exact (no
    rounding envelope needed)."""
    import uuid

    from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
        q97_atkinson_index,
    )

    def write(dirname, vals_by_nation):
        d = str(tmp_path / dirname)
        orders, custs = [], []
        cid = 0
        for nk, vals in vals_by_nation.items():
            for v in vals:
                orders.append((cid, cid, float(v)))
                custs.append((cid, nk))
                cid += 1
        spark.createDataFrame(
            orders,
            "o_orderkey long, o_custkey long, o_totalprice double",
        ).write.parquet(d + "/orders.parquet")
        spark.createDataFrame(
            custs, "c_custkey long, c_nationkey int"
        ).write.parquet(d + "/customer.parquet")
        spark.createDataFrame(
            [(7, "A"), (9, "B")], "n_nationkey int, n_name string"
        ).write.parquet(d + "/nation.parquet")
        return d

    xa = [c / 100.0 for c in cents_a]
    xb = [c / 100.0 for c in cents_b]
    tag = uuid.uuid4().hex[:8]
    both = {
        r.n_name: r
        for r in q97_atkinson_index(
            spark, write(f"adual{tag}", {7: xa, 9: xb})
        ).collect()
    }
    assert set(both) == {"A", "B"}
    alone_a = q97_atkinson_index(spark, write(f"aa{tag}", {7: xa})).first()
    alone_b = q97_atkinson_index(spark, write(f"ab{tag}", {9: xb})).first()
    for got, want in ((both["A"], alone_a), (both["B"], alone_b)):
        assert got.n_customers == want.n_customers
        assert got.mean_spend == want.mean_spend
        assert got.atkinson_05 == want.atkinson_05
        assert got.atkinson_1 == want.atkinson_1
        assert got.atkinson_2 == want.atkinson_2


@given(
    arrivals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),   # user
            st.sampled_from(["purchase", "click", "view"]),
        ),
        min_size=1, max_size=60,
    ),
)
@example(arrivals=[(0, "view")])  # review r13-2 #1: the empty-join
# case must return the ZERO row, not an all-NULL row — pinned
# deterministically, not left to the generator's luck
@_settings
def test_cm_join_card_one_sided_and_exact(spark, tmp_path, arrivals):
    """sketch_cm_join_card's contract for ANY arrival multiset: (a)
    exact_join_rows equals the raw Python fold Σ_u ca(u)·cb(u) — the
    diagonal column really is the true join size, and rows_a/rows_b
    really are the two sides' row counts; (b) the inner-product
    estimate is ONE-SIDED: est_join_rows ≥ exact_join_rows always
    (collision cross-terms add, never subtract) — the invariant that
    makes the estimate safe for shuffle provisioning; (c) the guarded
    rel_overcount is NULL exactly when the true join is empty."""
    import uuid
    from collections import Counter

    from data_pipeline_and_visualization_dashboard_spark.extras.sketches import (
        cm_join_card,
    )

    d = str(tmp_path / f"cmj{uuid.uuid4().hex[:8]}")
    rows = [
        (i, u, t, float(i)) for i, (u, t) in enumerate(arrivals)
    ]
    spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double"
    ).write.parquet(d + "/events.parquet")

    ca = Counter(u for u, t in arrivals if t == "purchase")
    cb = Counter(u for u, t in arrivals if t == "click")
    exact = sum(ca[u] * cb[u] for u in ca)

    row = cm_join_card(spark, d).collect()[0]
    assert row.rows_a == sum(ca.values())
    assert row.rows_b == sum(cb.values())
    assert row.exact_join_rows == exact
    assert row.est_join_rows >= row.exact_join_rows
    if exact == 0:
        assert row.rel_overcount is None
    else:
        assert row.rel_overcount >= 0


@given(
    arrivals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),    # user
            st.sampled_from(["purchase", "click", "view"]),
        ),
        min_size=1, max_size=40,
    ),
)
@_settings
def test_last_touch_attribution_matches_fold(spark, tmp_path, arrivals):
    """q98 vs a raw Python fold of the last-touch contract for ANY
    arrival sequence: walking each user's events in (ts, event_id)
    order, a purchase credits the channel of the most recent PRECEDING
    non-purchase event ('(none)' if there is none — including when the
    only earlier events are purchases).  Timestamps are deliberately
    PAIRED (ts = base + i//2 seconds) so same-timestamp neighbors
    exercise the event_id tiebreak both engines must share; the fold
    orders by arrival index, which is exactly (ts, event_id)."""
    import datetime as dt
    import uuid
    from collections import defaultdict

    from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
        q98_last_touch_attribution,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, u, base + dt.timedelta(seconds=i // 2), t, float(i) + 0.25)
        for i, (u, t) in enumerate(arrivals)
    ]
    d = str(tmp_path / f"att{uuid.uuid4().hex[:8]}")
    spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, "
        "event_type string, value double",
    ).write.parquet(d + "/events.parquet")

    last_touch: dict = {}
    want = defaultdict(lambda: [0, 0.0])
    for i, (u, t) in enumerate(arrivals):
        if t == "purchase":
            ch = last_touch.get(u, "(none)")
            want[ch][0] += 1
            want[ch][1] += float(i) + 0.25
        else:
            last_touch[u] = t

    got = {
        r.channel: (r.n_purchases, r.attributed_revenue)
        for r in q98_last_touch_attribution(spark, d).collect()
    }
    assert set(got) == set(want)
    for ch, (n, rev) in want.items():
        assert got[ch][0] == n
        assert abs(got[ch][1] - round(rev, 4)) <= 1e-9


def test_rfm_segments_partition_customers(spark):
    """q100's defining invariants, checked against direct
    recomputation at smoke SF: (1) the segment rollup PARTITIONS the
    purchasing customers — per nation, Σ n_customers over segments ==
    distinct customers with ≥1 order (the CASE has an ELSE, so no
    customer can fall through; a broken ntile or a dropped score
    combination breaks the headcount); (2) segment labels come from
    the canonical 5-name set.  Value-level quintile correctness is
    the oracle differential's job."""
    from data_pipeline_and_visualization_dashboard_spark.io import (
        read_table,
    )
    from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
        q100_rfm_segments,
    )
    from tests.conftest import SF_SMOKE as _SF

    rows = q100_rfm_segments(spark, _SF).collect()
    assert rows
    labels = {"champions", "new", "at_risk", "hibernating", "core"}
    assert {r.segment for r in rows} <= labels
    got_counts: dict = {}
    for r in rows:
        got_counts[r.n_name] = got_counts.get(r.n_name, 0) + r.n_customers
    orders = read_table(spark, _SF, "orders", ["o_custkey"])
    cust = read_table(spark, _SF, "customer",
                      ["c_custkey", "c_nationkey"])
    nation = read_table(spark, _SF, "nation",
                        ["n_nationkey", "n_name"])
    want_counts = {
        r.n_name: r.n
        for r in orders.join(
            cust, orders.o_custkey == cust.c_custkey
        )
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    assert got_counts == want_counts


@given(
    arrivals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),    # user
            st.sampled_from(["purchase", "click", "view"]),
        ),
        min_size=1, max_size=40,
    ),
)
@_settings
def test_linear_attribution_matches_fold(spark, tmp_path, arrivals):
    """q99 vs a raw Python fold of the linear-attribution contract for
    ANY arrival sequence: each purchase's value splits equally across
    the user's strictly-preceding touches (a no-touch purchase goes to
    '(none)' whole), every touch collects its fractional credits from
    all LATER purchases, and Σ credited == Σ purchase value always
    (conservation).  Timestamps are PAIRED (ts = base + i//2 s) so the
    same-ts tiebreak is exercised exactly as in the q98 fold test."""
    import datetime as dt
    import uuid
    from collections import defaultdict

    from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
        q99_linear_attribution,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, u, base + dt.timedelta(seconds=i // 2), t, float(i) + 0.25)
        for i, (u, t) in enumerate(arrivals)
    ]
    d = str(tmp_path / f"lin{uuid.uuid4().hex[:8]}")
    spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, "
        "event_type string, value double",
    ).write.parquet(d + "/events.parquet")

    # fold: per user, walk in arrival order (== (ts, event_id));
    # credit[touch_index] accumulates value/n from later purchases
    touches: dict = defaultdict(list)   # user -> [(idx, type)]
    want = defaultdict(lambda: [0, 0.0])  # channel -> [n>0 credits, rev]
    credit = defaultdict(float)         # touch idx -> credited value
    for i, (u, t) in enumerate(arrivals):
        v = float(i) + 0.25
        if t == "purchase":
            prior = touches[u]
            if prior:
                for idx, _ in prior:
                    credit[idx] += v / len(prior)
            else:
                want["(none)"][0] += 1
                want["(none)"][1] += v
        else:
            touches[u].append((i, t))
    for u, lst in touches.items():
        for idx, t in lst:
            if credit[idx] > 0:
                want[t][0] += 1
            want[t][1] += credit[idx]
    # drop channels with zero touches AND zero revenue that never
    # appear (a touch channel always appears, even all-zero-credit)
    got = {
        r.channel: (r.n_credited, r.attributed_revenue)
        for r in q99_linear_attribution(spark, d).collect()
    }
    assert set(got) == set(want)
    total_purchase = sum(
        float(i) + 0.25
        for i, (u, t) in enumerate(arrivals)
        if t == "purchase"
    )
    # per-channel sums are rounded 4dp, so the recomposed total can
    # differ from the exact purchase total by one quantum per channel
    assert (
        abs(sum(v for _, v in got.values()) - total_purchase) <= 1e-3
    )
    for ch, (n, rev) in want.items():
        assert got[ch][0] == n
        # shares involve division, so fold vs engine addition order
        # can differ by ulps; allow one 4dp rounding-boundary flip
        assert abs(got[ch][1] - rev) <= 2e-4


@given(
    kepts=st.lists(st.integers(min_value=1, max_value=64),
                   min_size=0, max_size=200),
)
@_settings
def test_bfd_place_matches_linear_scan(kepts):
    """Per-PLACEMENT pin for the bisect BFD probe (review r14 #2: the
    band-grain differential can't see which doc lands in which
    window): _bfd_place must be bit-identical to the quadratic
    linear-scan spelling it replaced — tightest remaining capacity
    that fits, first-opened wins ties, new window otherwise — for ANY
    kept-count sequence, including exact fits (remaining 0), repeated
    sizes (the tie path), and full-size docs."""
    from data_pipeline_and_visualization_dashboard_spark.extras.text import (
        PACK_SEQ_CTX, _bfd_place,
    )

    rem: list = []
    want = []
    for k in kepts:
        best, best_rem = -1, PACK_SEQ_CTX + 1
        for i, r in enumerate(rem):
            if k <= r < best_rem:
                best, best_rem = i, r
        if best < 0:
            rem.append(PACK_SEQ_CTX - k)
            want.append(len(rem) - 1)
        else:
            rem[best] -= k
            want.append(best)
    assert _bfd_place(kepts) == want


@given(
    counts=st.lists(st.integers(min_value=1, max_value=100),
                    min_size=1, max_size=30),
)
@_settings
def test_pack_bestfit_matches_reference_fold(spark, tmp_path, counts):
    """text_pack_bestfit vs an exact Python reference of its contract
    — per-shard best-fit-decreasing (kept DESC, doc_id ASC; tightest
    fitting open window, first-opened on ties) — for ANY token-count
    multiset. This is the rows-only entry's correctness gate (no
    DuckDB oracle can express the packing loop — the sampling/ANN
    precedent). Also pinned: the layout-independent columns (doc,
    truncation, token totals) must be IDENTICAL to pack_sequences'
    (same _pack_seq_base geometry, only the window layout differs),
    no reference window overfills CTX, and BFD can never use fewer
    windows than concat packing (concat is bin-count optimal because
    it splits docs)."""
    import uuid

    from data_pipeline_and_visualization_dashboard_spark.extras.text import (
        _PACK_SEQ_MAX_BAND,
        PACK_SEQ_BAND,
        PACK_SEQ_CTX,
        PACK_SEQ_SHARDS,
        pack_bestfit,
        pack_sequences,
    )

    d = str(tmp_path / f"bf{uuid.uuid4().hex[:8]}")
    spark.createDataFrame(
        [(i, " ".join(["tok"] * k)) for i, k in enumerate(counts)],
        "doc_id long, text string",
    ).write.parquet(d + "/documents.parquet")

    # reference BFD per shard
    docs = []
    for i, n in enumerate(counts):
        docs.append(
            dict(doc_id=i, n=n, kept=min(n, PACK_SEQ_CTX),
                 shard=i % PACK_SEQ_SHARDS,
                 band=min(n // PACK_SEQ_BAND, _PACK_SEQ_MAX_BAND)
                 * PACK_SEQ_BAND)
        )
    ref: dict[int, dict] = {}
    for s in range(PACK_SEQ_SHARDS):
        mine = sorted(
            (x for x in docs if x["shard"] == s),
            key=lambda x: (-x["kept"], x["doc_id"]),
        )
        rem: list[int] = []
        for x in mine:
            k = x["kept"]
            best, best_rem = -1, PACK_SEQ_CTX + 1
            for j, r in enumerate(rem):
                if k <= r < best_rem:
                    best, best_rem = j, r
            if best < 0:
                rem.append(PACK_SEQ_CTX - k)
                x["bin"] = len(rem) - 1
            else:
                rem[best] -= k
                x["bin"] = best
        assert all(0 <= r <= PACK_SEQ_CTX for r in rem)  # no overfill
    for x in docs:
        r = ref.setdefault(
            x["band"],
            dict(n_docs=0, n_trunc=0, tot=0, kept=0, bins=set()),
        )
        r["n_docs"] += 1
        r["n_trunc"] += int(x["n"] > PACK_SEQ_CTX)
        r["tot"] += x["n"]
        r["kept"] += x["kept"]
        r["bins"].add((x["shard"], x["bin"]))

    got = {r.band_lo: r for r in pack_bestfit(spark, d).collect()}
    assert set(got) == set(ref)
    for band, want in ref.items():
        g = got[band]
        assert g.n_docs == want["n_docs"]
        assert g.n_truncated == want["n_trunc"]
        assert g.tokens_total == want["tot"]
        assert g.tokens_kept == want["kept"]
        assert g.tokens_lost == want["tot"] - want["kept"]
        assert g.bins_used == len(want["bins"])
        assert abs(
            g.pack_efficiency
            - want["kept"] / (len(want["bins"]) * PACK_SEQ_CTX)
        ) <= 1e-6
    # layout-independent columns identical to the concat packer
    # (same _pack_seq_base geometry — only the window layout differs)
    concat = {r.band_lo: r for r in pack_sequences(spark, d).collect()}
    assert set(concat) == set(got)
    for band, g in got.items():
        c = concat[band]
        assert (g.n_docs, g.n_truncated, g.tokens_total,
                g.tokens_kept, g.tokens_lost) == (
            c.n_docs, c.n_truncated, c.tokens_total,
            c.tokens_kept, c.tokens_lost)
    # NOTE on the window-count-optimality claim (split-free BFD never
    # uses fewer windows than concat's ceil(kept/CTX) per shard): it
    # is a THEOREM implied by the no-overfill assert above, so
    # asserting it here would be a tautology (both sides derive from
    # the same reference — r13 third review); the engine's actual
    # window counts are already pinned exactly by the bins_used
    # equality per band, and band-grain counts are NOT comparable
    # across packers (each attributes shared windows to bands
    # differently), which is why no cross-packer bins assertion
    # appears here.


def test_rfm_approx_agreement_envelope(spark):
    """q100_rfm_segments_approx vs exact q100 (VERDICT r14 ask #4):
    customer-grain agreement envelope derived from the sketch's OWN
    rank contract — for every (nation, metric, customer), the
    threshold score must lie in

        [1 + #{i: q_i·n + E <  lo},  1 + #{i: q_i·n − E < lo}]

    where lo = 1 + #(values < v) (the customer's first tie-group
    rank: a threshold element t_i counts iff t_i < v, i.e. iff
    rank(t_i) < lo) and E = n·eps + 1 is the rank-error contract plus
    the fencepost.  This bounds the threshold spelling EXACTLY, with
    no reference to ntile: vs ntile ranks the scores additionally
    differ by the documented value-vs-rank semantics (ties share a
    threshold bucket; nations with n < 5 can reach bucket 5 where
    ntile stops at bucket n) — which is why the fallback is an
    agreement envelope, not an equality.  Also pins the rollup
    invariants (same nation set and per-nation customer totals as
    exact q100 — segments partition customers identically) and that
    the in-plan rank guard passed (a guard failure would have errored
    the collect)."""
    from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
        _PCTL_EPS,
        _RFM_METRICS,
        _rfm_per_cust,
        _rfm_scores_approx,
        q100_rfm_segments,
        q100_rfm_segments_approx,
    )
    from tests.conftest import SF_SMOKE

    metrics = {}
    for r in _rfm_per_cust(spark, SF_SMOKE).collect():
        metrics.setdefault(r.n_name, []).append(
            (r.c_custkey, {"r_days": r.r_days, "n_orders": r.n_orders,
                           "spend": r.spend})
        )
    approx = {
        (r.n_name, r.c_custkey): {"r_days": r.r_score,
                                  "n_orders": r.f_score,
                                  "spend": r.m_score}
        for r in _rfm_scores_approx(spark, SF_SMOKE).collect()
    }
    assert approx

    from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
        _RFM_QS,
    )

    for nat, rows in metrics.items():
        n = len(rows)
        err = _PCTL_EPS * n + 1
        for m in _RFM_METRICS:
            vals = sorted(cv[1][m] for cv in rows)
            for ck, mv in rows:
                v = mv[m]
                lo = sum(1 for x in vals if x < v) + 1
                s_min = 1 + sum(1 for q in _RFM_QS if q * n + err < lo)
                s_max = 1 + sum(1 for q in _RFM_QS if q * n - err < lo)
                got = approx[(nat, ck)][m]
                assert s_min <= got <= s_max, (
                    f"{nat} {m} cust {ck}: score {got} outside "
                    f"[{s_min},{s_max}] (lo={lo}, n={n}, E={err:.2f})"
                )

    exact_roll = q100_rfm_segments(spark, SF_SMOKE).collect()
    approx_roll = q100_rfm_segments_approx(spark, SF_SMOKE).collect()
    assert all(r.passed is True for r in approx_roll)  # in-plan guard
    per_nat_exact, per_nat_approx = {}, {}
    for r in exact_roll:
        per_nat_exact[r.n_name] = (
            per_nat_exact.get(r.n_name, 0) + r.n_customers
        )
    for r in approx_roll:
        per_nat_approx[r.n_name] = (
            per_nat_approx.get(r.n_name, 0) + r.n_customers
        )
    assert per_nat_exact == per_nat_approx  # segments partition customers


def test_mixture_plan_invariants(spark):
    """corpus_mixture_plan's temperature-sampling algebra, checked on
    the real corpus at SF_SMOKE (r16):

    - target shares renormalize: sum(target_share) == 1 (up to the
      6dp output rounding x slice count), and the integer token
      budget balances to within half a token per slice;
    - ORDER is preserved (a bigger slice never gets a smaller
      target) while the alpha < 1 temperature FLATTENS: epochs —
      the target/available repetition factor — is anti-monotone in
      natural share, so low-resource slices up-sample and the
      head down-samples (the mT5/XLM-R intent, asserted not assumed);
    - upsample is exactly the epochs > 1 predicate at token grain;
    - alpha = 1 degenerates to the identity plan: every target_share
      equals its natural_share and every epoch factor is 1.0 (no
      rebalance at temperature 1 — pins the normalizer algebra).
    """
    from data_pipeline_and_visualization_dashboard_spark.extras.dedup import (
        corpus_mixture_plan,
    )
    from tests.conftest import SF_SMOKE

    rows = corpus_mixture_plan(spark, SF_SMOKE).collect()
    assert len(rows) > 1
    n = len(rows)
    assert abs(sum(r.target_share for r in rows) - 1.0) <= 1e-6 * n
    assert abs(
        sum(r.target_tokens for r in rows)
        - sum(r.tokens_avail for r in rows)
    ) <= 0.5 * n

    by_nat = sorted(rows, key=lambda r: (r.natural_share, r.source))
    for a, b in zip(by_nat, by_nat[1:]):
        if a.natural_share < b.natural_share:
            assert a.target_share <= b.target_share  # order preserved
            assert a.epochs >= b.epochs  # temperature flattens
    for r in rows:
        assert r.upsample == (r.target_tokens > r.tokens_avail)

    ident = corpus_mixture_plan(spark, SF_SMOKE, alpha=1.0).collect()
    for r in ident:
        assert r.target_share == r.natural_share
        assert abs(r.epochs - 1.0) <= 1e-4


def test_mixture_plan_of_matches_reference_fold(spark):
    """mixture_plan_of vs a pure-Python reference of the temperature
    algebra on a handcrafted 4-slice frame with 5 orders of magnitude
    of skew (r16) — the strong form of the corpus-grain invariant
    test: every output column is checked against an independently
    computed expectation, including the half-up integer rounding of
    target_tokens (floor(x + 0.5), the Spark/DuckDB shared semantic)
    and the 6dp share rounding."""
    import math

    from data_pipeline_and_visualization_dashboard_spark.extras.dedup import (
        MIXTURE_TEMPERATURE_ALPHA, mixture_plan_of,
    )

    slices = [
        ("web", "en", 900, 1_000_000),
        ("web", "de", 40, 12_345),
        ("books", "en", 7, 1_000),
        ("forums", "fr", 2, 17),
    ]
    agg = spark.createDataFrame(
        slices, "source string, lang string, n_docs long, "
        "tokens_avail long"
    )
    got = {(r.source, r.lang): r
           for r in mixture_plan_of(agg).collect()}

    total = float(sum(t for *_, t in slices))
    wgts = {(s, l): (t / total) ** MIXTURE_TEMPERATURE_ALPHA
            for s, l, _, t in slices}
    wsum = sum(wgts.values())
    for s, l, n, t in slices:
        r = got[(s, l)]
        share = wgts[(s, l)] / wsum
        tgt = math.floor(share * total + 0.5)
        assert r.n_docs == n and r.tokens_avail == t
        assert abs(r.natural_share - t / total) <= 5.01e-7
        assert abs(r.target_share - share) <= 5.01e-7
        assert r.target_tokens == tgt
        assert abs(r.epochs - tgt / t) <= 5.01e-7
        assert r.upsample == (tgt > t)
    # the skew head down-samples, the tail up-samples — by a lot
    assert got[("web", "en")].epochs < 1.0
    assert got[("forums", "fr")].epochs > 50.0

    # budget-linearity: an explicit 2x trainer budget doubles every
    # target against the SAME shares (checked against the same
    # reference fold at the doubled budget — including the half-up
    # rounding, which is applied to the scaled product, not scaled
    # after rounding)
    got2 = {(r.source, r.lang): r
            for r in mixture_plan_of(agg,
                                     budget_tokens=2 * total).collect()}
    for s, l, n, t in slices:
        r2, r1 = got2[(s, l)], got[(s, l)]
        assert r2.target_share == r1.target_share
        share = wgts[(s, l)] / wsum
        assert r2.target_tokens == math.floor(share * 2 * total + 0.5)
        assert r2.upsample == (r2.target_tokens > t)
