"""Differential tests: every Spark query vs its DuckDB oracle at sf0.01.

This mirrors the driver's t2 harness (row count + column names +
order-insensitive value comparison) so breakage shows up locally before
a round submission. The reference itself was "tested" by DuckDB being
the engine (SURVEY §5) — DuckDB is the natural oracle.
"""

from __future__ import annotations

import math

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_CORRECT, SF_SMOKE


def _normalize(rows, columns):
    out = []
    for row in rows:
        vals = []
        for c in columns:
            v = row[c]
            if v is None:
                v = "NULL"
            elif isinstance(v, float):
                v = round(v, 6)
                if math.isnan(v):
                    v = "NULL"  # pandas renders SQL NULL doubles as NaN
            elif v != v:  # pd.NaT (null timestamps from fetchdf)
                v = "NULL"
            vals.append((c, str(v)))
        out.append(tuple(sorted(vals)))
    return sorted(out)


def _compare(spark, duck, name, sf_dir=SF_CORRECT):
    qfn = entrymod.queries()[name]
    sql = entrymod.oracle_sql()[name]
    sdf = qfn(spark, sf_dir)
    spark_cols = sdf.columns
    spark_rows = [r.asDict() for r in sdf.collect()]
    ddf = duck.execute(sql).fetchdf()
    duck_cols = list(ddf.columns)
    duck_rows = ddf.to_dict("records")
    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    sn = _normalize(spark_rows, sorted(spark_cols))
    dn = _normalize(duck_rows, sorted(spark_cols))
    assert sn == dn, f"{name}: value mismatch\nspark={sn[:3]}\nduck={dn[:3]}"
    return spark_rows


ORACLE_BACKED = sorted(entrymod.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLE_BACKED)
def test_query_matches_oracle(spark, duck, name):
    _compare(spark, duck, name)


def test_session_oracles_match_engine_on_edge_rows(spark, tmp_path):
    """q16 and q36 against their oracles on crafted events: a gap of
    exactly 30 min (one session), a gap of 30 min + 1 us (two), and a
    null-ts row. Spark sorts the null first, so q16 counts it into the
    user's first session (sizes 3, 1, 1, not 2, 1, 2), and q36's
    session_window drops it (3 sessions, not 4)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    minute = 60 * 1_000_000
    t0 = 1_700_000_000 * 1_000_000
    t_split = t0 + 60 * minute + 1  # 30 min + 1 us after t0 + 30 min
    rows = [  # (event_id, ts_us, user_id)
        (1, t0, 1),
        (2, t0 + 30 * minute, 1),  # exactly one gap: same session
        (3, t_split, 1),
        (4, t_split + 31 * minute, 1),
        (5, None, 1),
        (6, t0, 2),
        (7, t0 + 10 * minute, 2),
    ]
    pq.write_table(
        pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array(["view"] * len(rows), pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }),
        str(tmp_path / "events.parquet"),
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'events.parquet'}')"
    )
    q16 = _compare(spark, con, "q16_sessionization", str(tmp_path))
    assert sorted(
        (r["user_id"], r["n_sessions"], r["max_session_events"])
        for r in q16
    ) == [(1, 3, 3), (2, 1, 2)]
    q36 = _compare(spark, con, "q36_session_windows", str(tmp_path))
    assert sorted((r["user_id"], r["n_events"]) for r in q36) == [
        (1, 1), (1, 1), (1, 2), (2, 2)
    ]


def test_cosine_oracles_match_engine_on_zero_norms_and_ties(
    spark, tmp_path
):
    """Nine cosine entries against their oracles on sf0.001's
    embeddings with three zero vectors — id 2 (a query), id 100 (a
    sim_centroid_assign centroid) and id 7 (a corpus row) — and ids
    20..31 set to copies of id 17, query 0's nearest neighbour, so 13
    equal scores straddle query 0's top-k cut. A zero vector has no
    cosine: its score is NULL and ranks last in both engines, and equal
    scores rank by the lower id."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_and_visualization_dashboard_spark.extras import (
        similarity,
    )

    src = pq.read_table(f"{SF_SMOKE}/embeddings.parquet")
    vecs = dict(zip(src["vec_id"].to_pylist(), src["embedding"].to_pylist()))
    dim = len(vecs[0])
    for vid in (2, 7, 100):
        vecs[vid] = [0.0] * dim
    for vid in range(20, 32):
        vecs[vid] = vecs[17]
    ids = src["vec_id"].to_pylist()
    src = src.set_column(
        src.schema.get_field_index("embedding"),
        "embedding",
        pa.array([vecs[i] for i in ids], src.schema.field("embedding").type),
    )
    pq.write_table(src, str(tmp_path / "embeddings.parquet"))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'embeddings.parquet'}')"
    )
    for name in (
        "sim_cosine_topk_pandas", "sim_lsh_topk", "sim_lsh_multiprobe_topk",
        "sim_recall_eval", "sim_mmr_rerank", "dedup_embedding_pairs",
        "dedup_embedding_pairs_lsh",
    ):
        _compare(spark, con, name, str(tmp_path))
    top = _compare(spark, con, "sim_cosine_topk", str(tmp_path))
    by_query = {}
    for r in sorted(top, key=lambda r: (r["query_id"], r["rank"])):
        by_query.setdefault(r["query_id"], []).append(r)
    assert [r["neighbor_id"] for r in by_query[0]] == [
        17, *range(20, 20 + similarity.TOP_K - 1)
    ]
    assert len({r["sim"] for r in by_query[0]}) == 1
    assert all(r["sim"] is None for r in by_query[2])
    assert not [
        r for r in top
        if r["query_id"] != 2 and r["neighbor_id"] in (2, 7, 100)
    ]
    assign = _compare(spark, con, "sim_centroid_assign", str(tmp_path))
    assert {r["vec_id"] for r in assign if r["sim"] is None} == {2, 7, 100}
    assert all(r["centroid_id"] != 100 for r in assign)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["n_name", "order_cnt"]


def test_all_queries_have_callables(spark):
    qs = entrymod.queries()
    assert set(entrymod.oracle_sql()) <= set(qs)


def test_registry_has_no_silent_collisions():
    """Module registries must not shadow each other's query names."""
    import oracles

    tables = [m.ENTRIES for m in oracles.MODULES]
    total = sum(len(t) for t in tables)
    assert len(entrymod.queries()) == total
    total_oracles = sum(
        sum(oracle is not None for _, oracle in t.values()) for t in tables
    )
    assert len(entrymod.oracle_sql()) == total_oracles


def test_package_import_builds_no_oracle():
    """In a fresh interpreter, importing every package module loads no
    oracles module, and no package module defines a registry table
    (QUERIES, ORACLE_SQL) or a DuckDB oracle (_duck*, _DUCK*): each
    entry's record and oracle live in oracles/ only."""
    import json
    import os
    import subprocess
    import sys

    code = """
import importlib, json, pkgutil, sys
import data_pipeline_and_visualization_dashboard_spark as pkg
bad = []
for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
    mod = importlib.import_module(info.name)
    bad += [f"{info.name}.{n}" for n in vars(mod)
            if n in ("QUERIES", "ORACLE_SQL")
            or n.startswith(("_duck", "_DUCK"))]
loaded = [m for m in sys.modules if m.split(".")[0] == "oracles"]
print(json.dumps({"oracles": loaded, "bad": bad}))
"""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code], cwd=root,
                         capture_output=True, text=True, check=True)
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got == {"oracles": [], "bad": []}


# Entries where an empty result at SF_CORRECT is provably the right
# answer (each needs a justifying comment).  Currently none: VERDICT r6
# found exactly one zero-row oracle fleet-wide (q21's phantom
# "REGION_0" literal, vacuously green since r1) and it was a bug, not a
# legitimately-empty answer.
VACUOUS_WHITELIST: frozenset[str] = frozenset()

# Cardinality floor guard (VERDICT r8 next #6): for queries whose row
# count is STRUCTURAL — fixed by a top-k constant, a calendar/bucket
# domain, or the testdata's categorical shape, not by data volume —
# pin the exact expected count at SF_CORRECT.  A ≥1-row check would
# pass a top-10 that silently returned 3 rows; this won't.  Counts
# verified against the DuckDB oracle at sf0.01 (round 9).
EXPECTED_CARDINALITY = {
    "q1_top_nations": 10,            # top-10
    "q2_avg_value_by_hour": 24,      # hour domain
    "q3_event_type_pct": 5,          # event-type domain
    "q4_unit_price_by_weekday": 7,   # weekday domain
    "q5_trade_routes": 5,            # top-5
    "q8_top_users": 10,              # top-10
    "q10_type_donut": 3,             # fixed IN-list of 3 types
    "q17_top_customers_per_nation": 75,  # 3 per nation x 25 nations
    "q18_status_priority_rollup": 19,  # 3x5 cells + 3 subtotals + grand
    "q22_heatmap_pivot": 7,          # weekday rows (hours as columns)
    "q23_value_percentiles": 5,      # fixed percentile list
    "q33_status_priority_cube": 24,  # (3+1)x(5+1) cube lattice
    "q34_top_users_labeled": 10,     # top-10, left join preserves k
    "q50_equidepth_buckets": 20,     # fixed bucket count
    "q61_profile_events": 6,         # one row per profiled column
    "q64_weighted_sample": 100,      # exact-n weighted sample
    "q73_large_quantity_orders": 10,  # top-10
    "q80_market_share": 7,           # order-year domain
    "q89_session_transitions": 25,   # 5x5 type-pair matrix (dense)
    "dedup_ngram_jaccard_topk": 20,  # top-20
    "dedup_containment_topk": 20,    # top-20
    "dedup_simhash_hamming_topk": 20,  # top-20
    "sim_cosine_topk": 50,           # k x query count
    "sketch_hist_quantiles": 10,     # fixed quantile grid
    "text_bpe_compression": 21,      # merge rounds 0..20 inclusive
    "q91_decayed_engagement": 5,     # event-type domain
    "q92_value_gini": 25,            # nation domain
    "q93_rrf_fusion": 20,            # top-20 fused
    "q92_value_gini_binned": 25,     # nation domain
    "q94_hhi_concentration": 25,     # nation domain
    "sim_search_rrf": 15,            # top-15 fused (union of two
                                     # depth-20 lists always >= 15)
    "sketch_ams_hhi": 1,             # one-row global monitor readout
    "q95_top_decile_share": 25,      # nation domain
    "text_pack_sequences": 4,        # doc-length band domain (32-token
                                     # bands over 10-99-token docs)
    "q96_theil_decomposition": 25,   # nation domain
    "q97_atkinson_index": 25,        # nation domain
    "sketch_cm_join_card": 1,        # one-row join-size readout
    "q98_last_touch_attribution": 5,  # 4 non-purchase channels + (none)
    "q99_linear_attribution": 5,     # same channel domain as q98
    "q100_rfm_segments": 125,        # 25 nations x 5 canonical
                                     # segments (dense at sf0.01)
}


def test_structural_cardinalities_pinned(duck):
    """Oracle row counts for structurally-sized queries must equal the
    pinned constants — the strong form of the vacuous-green guard: a
    top-k that returns fewer than k, a calendar domain with holes, or
    a sample that under-fills fails here even though every row still
    hash-matches. The duck side suffices (the differential test pins
    spark_rows == duck_rows)."""
    oracles = entrymod.oracle_sql()
    wrong = {}
    for name, want in EXPECTED_CARDINALITY.items():
        got = len(duck.execute(oracles[name]).fetchall())
        if got != want:
            wrong[name] = (got, want)
    assert not wrong, f"structural cardinality drift (got, want): {wrong}"


def test_binned_gini_accuracy_envelope(spark):
    """q92_value_gini_binned's estimate quality vs the exact rank
    statistic at SF_CORRECT: binned-from-atoms Gini ignores within-bin
    inequality, so per nation it must (a) never exceed the exact value
    by more than float noise (lower-bound property) and (b) sit within
    a small absolute envelope of it at 64 bins — the twin is an
    approximation of the SAME quantity, not a different statistic."""
    from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
        q92_value_gini,
        q92_value_gini_binned,
    )

    exact = {
        r.n_name: r.gini for r in q92_value_gini(spark, SF_CORRECT).collect()
    }
    binned = {
        r.n_name: r.gini_binned
        for r in q92_value_gini_binned(spark, SF_CORRECT).collect()
    }
    assert set(binned) == set(exact) and len(exact) == 25
    for nation, g in exact.items():
        gb = binned[nation]
        assert gb <= g + 1e-6, (nation, gb, g)
        assert g - gb <= 0.02, (nation, gb, g)


def test_no_vacuously_green_oracles(duck):
    """Every oracle-backed query must return >=1 row at SF_CORRECT.

    Guard for the q21 class of bug (VERDICT r6 wrong #1): a filter
    literal that matches nothing makes BOTH engines return 0 rows, so
    the hash comparison passes forever without the query's logic ever
    being exercised.  The duck side suffices: the per-query
    differential test already pins spark_rows == duck_rows, so a
    non-empty oracle forces a non-empty Spark result too.
    """
    empty = []
    for name, sql in entrymod.oracle_sql().items():
        if name in VACUOUS_WHITELIST:
            continue
        if len(duck.execute(sql).fetchall()) == 0:
            empty.append(name)
    assert not empty, (
        f"vacuously-green oracle queries (0 rows at {SF_CORRECT}): {empty}; "
        "fix the query or whitelist with a justification"
    )


def test_check_first_oracles_not_vacuous(duck):
    """Fast-tier share of test_no_vacuously_green_oracles (which runs
    every oracle and so sits in the slow tier): the oracle of each
    entry in the driver's correctness window (_CHECK_FIRST) must
    return >=1 row at SF_CORRECT, so the default tier keeps a
    vacuous-green guard. The window holds the dashboard's q7-q12."""
    from oracles.charts import ENTRIES as DASHBOARD_ENTRIES

    oracles = entrymod.oracle_sql()
    names = [
        n for n in entrymod._CHECK_FIRST
        if n in oracles and n not in VACUOUS_WHITELIST
    ]
    assert set(DASHBOARD_ENTRIES) <= set(names)
    empty = [n for n in names if not duck.execute(oracles[n]).fetchall()]
    assert not empty, (
        f"vacuously-green oracle queries (0 rows at {SF_CORRECT}): {empty}"
    )


def test_readme_counts_match_registry():
    """README's headline registry counts must track the actual
    registry — docs that overstate (or understate) coverage are worse
    than no docs."""
    import re

    text = open("README.md").read()
    m = re.search(r"(\d+) queries, (\d+) DuckDB-oracle-backed", text)
    assert m, "README must state the registry counts"
    assert int(m.group(1)) == len(entrymod.queries())
    assert int(m.group(2)) == len(entrymod.oracle_sql())
    # The rows-only count (queries minus oracles) drifted once
    # (README said 14 when the registry had 15 — VERDICT r4 wrong #1);
    # pin it so all three numbers move together or the test fails.
    m2 = re.search(r"the (\d+)\s*\nrows-only entries", text)
    assert m2, "README must state the rows-only entry count"
    assert int(m2.group(1)) == (
        len(entrymod.queries()) - len(entrymod.oracle_sql())
    )


def test_bench_headline_and_window_wellformed():
    """Two string lists silently degrade on typos: a HEADLINE name
    missing from the registry crashes bench.py only at runtime, and a
    misspelled _CHECK_FIRST entry is silently DROPPED by the window
    builder (`if k in registry`), shrinking the driver's 50-slot
    correctness window without any error. Pin both."""
    import __spark_entry__ as entrymod
    from bench import HEADLINE, family

    registry = entrymod.queries()
    missing = [q for q in HEADLINE if q not in registry]
    assert not missing, f"HEADLINE names not in registry: {missing}"
    assert len(set(HEADLINE)) == len(HEADLINE)  # no duplicates
    assert all(
        family(q) in {"sql", "dedup", "text", "similarity",
                      "sketches", "media"}
        for q in HEADLINE
    )
    window = entrymod._CHECK_FIRST
    unknown = [q for q in window if q not in registry]
    assert not unknown, f"_CHECK_FIRST names not in registry: {unknown}"
    assert len(window) == 50, (
        f"driver window must fill exactly its 50 slots, got "
        f"{len(window)}"
    )
    assert len(set(window)) == 50  # duplicates would waste slots
