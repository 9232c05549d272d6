"""S3/S5/S6 coverage: CSV dimension scan, SQL entry point over
registered views (SURVEY §3.2 — the reference's five queries were SQL
text), Arrow to-pandas handoff, salting equivalence, bucketed joins."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_pipeline_and_visualization_dashboard_spark.io import (
    read_all_tables, read_csv_dim, read_table, register_views, to_pandas,
)
from data_pipeline_and_visualization_dashboard_spark.skew import (
    salted_group_agg, salted_group_count,
)
from tests.conftest import SF_SMOKE


def test_csv_dim_scan_and_join(spark, tmp_path):
    """S3: write the nation dim as CSV, read with explicit schema,
    broadcast-join against orders-per-nation (J1 with a CSV dim)."""
    from data_pipeline_and_visualization_dashboard_spark.schemas import NATION

    nation = read_table(spark, SF_SMOKE, "nation")
    csv_path = str(tmp_path / "nation_csv")
    nation.write.option("header", True).mode("overwrite").csv(csv_path)

    dim = read_csv_dim(spark, csv_path, schema=NATION)
    assert dim.count() == nation.count()
    assert [f.dataType for f in dim.schema.fields] == [
        f.dataType for f in NATION.fields
    ]

    customer = read_table(spark, SF_SMOKE, "customer")
    joined = customer.join(
        F.broadcast(dim), customer.c_nationkey == dim.n_nationkey
    )
    assert joined.count() == customer.count()


def test_sql_entry_point(spark):
    """S5: register all tables as views, run the flagship query as SQL
    text — must equal the DataFrame API result (same Catalyst plan)."""
    register_views(spark, read_all_tables(spark, SF_SMOKE))
    sql_result = spark.sql(
        """
        SELECT n_name, count(*) AS order_cnt
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        ORDER BY order_cnt DESC, n_name
        LIMIT 10
        """
    ).collect()
    from data_pipeline_and_visualization_dashboard_spark.queries import (
        q1_top_nations,
    )

    df_result = q1_top_nations(spark, SF_SMOKE).collect()
    assert [tuple(r) for r in sql_result] == [tuple(r) for r in df_result]


def test_to_pandas_handoff(spark):
    """S6: Arrow-accelerated toPandas of a chart contract frame."""
    from data_pipeline_and_visualization_dashboard_spark.queries import (
        q2_avg_value_by_hour,
    )

    pdf = to_pandas(q2_avg_value_by_hour(spark, SF_SMOKE))
    assert list(pdf.columns) == ["event_hour", "avg_value"]
    assert len(pdf) == 24


def test_portable_oracle_sql_runs_in_spark(spark):
    """SQL/DataFrame 1:1 (SURVEY §7.1): the dialect-portable oracle
    texts must run unchanged through spark.sql and produce the same
    rows as the DataFrame builders."""
    import __spark_entry__ as entrymod
    from data_pipeline_and_visualization_dashboard_spark.io import (
        read_all_tables,
    )

    register_views(spark, read_all_tables(spark, SF_SMOKE))
    portable = [
        "q1_top_nations", "q5_trade_routes", "q20_shipping_priority",
        "q21_nation_revenue", "q24_distinct_users", "q30_semi_anti",
    ]
    qs, oq = entrymod.queries(), entrymod.oracle_sql()
    for name in portable:
        sql_rows = sorted(map(tuple, spark.sql(oq[name]).collect()))
        df_rows = sorted(map(tuple, qs[name](spark, SF_SMOKE).collect()))
        assert sql_rows == df_rows, name


def test_group_by_select_alias(spark):
    """SURVEY §2.8 note: the reference's Q5 groups by a SELECT alias —
    spark.sql.groupByAliases (default true) must keep that SQL valid."""
    from data_pipeline_and_visualization_dashboard_spark.io import (
        read_all_tables,
    )

    register_views(spark, read_all_tables(spark, SF_SMOKE))
    rows = spark.sql(
        """
        SELECT n_name AS nation_alias, count(*) AS cnt
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY nation_alias
        ORDER BY cnt DESC, nation_alias LIMIT 5
        """
    ).collect()
    assert len(rows) == 5


def test_download_file_idempotent(tmp_path):
    """S1: streams to disk, skips when present (file:// URL stands in
    for the CDN)."""
    from data_pipeline_and_visualization_dashboard_spark.io import download_file

    src = tmp_path / "src.bin"
    src.write_bytes(b"x" * 100_000)
    dest = str(tmp_path / "out" / "data.bin")
    url = "file://" + str(src)
    p1 = download_file(url, dest)
    assert open(p1, "rb").read() == b"x" * 100_000
    src.write_bytes(b"y")  # would change the content if re-fetched
    p2 = download_file(url, dest)  # skip: already present
    assert open(p2, "rb").read() == b"x" * 100_000


def test_orc_and_json_roundtrip(spark, tmp_path):
    """Source/sink breadth beyond parquet/CSV: ORC and JSON round-trips
    preserve rows and schema (JSON with an explicit schema — no
    inference in the engine path)."""
    from data_pipeline_and_visualization_dashboard_spark.schemas import NATION

    nation = read_table(spark, SF_SMOKE, "nation")
    orc_p, json_p = str(tmp_path / "n_orc"), str(tmp_path / "n_json")

    nation.write.mode("overwrite").orc(orc_p)
    back = spark.read.orc(orc_p)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, nation.collect())
    )

    nation.write.mode("overwrite").json(json_p)
    back = spark.read.schema(NATION).json(json_p)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, nation.collect())
    )


def test_salted_count_equals_plain(spark):
    events = read_table(spark, SF_SMOKE, "events")
    plain = {
        (r.event_type,): r.cnt
        for r in events.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    salted = {
        (r.event_type,): r.cnt
        for r in salted_group_count(events, ["event_type"]).collect()
    }
    assert plain == salted


def test_salted_agg_equals_plain(spark):
    events = read_table(spark, SF_SMOKE, "events")
    plain = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 4).alias("total")
    )
    p = {r.event_type: (r.cnt, r.total) for r in plain.collect()}
    s = {
        r.event_type: (r.cnt, round(r.total, 4))
        for r in salted_group_agg(events, ["event_type"], "value").collect()
    }
    assert p == s


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Scale path for the q5 fact-fact join: bucket both tables on the
    join key at write time -> the join plans without an Exchange."""
    import uuid

    li = read_table(spark, SF_SMOKE, "lineitem", ["l_orderkey", "l_quantity"])
    orders = read_table(spark, SF_SMOKE, "orders", ["o_orderkey", "o_custkey"])
    t1, t2 = f"li_b_{uuid.uuid4().hex[:8]}", f"ord_b_{uuid.uuid4().hex[:8]}"
    (li.write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
       .mode("overwrite").saveAsTable(t1))
    (orders.write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
       .mode("overwrite").saveAsTable(t2))
    try:
        joined = spark.table(t1).join(
            spark.table(t2),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan
        assert joined.count() == li.count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t1}")
        spark.sql(f"DROP TABLE IF EXISTS {t2}")


def test_write_sorted_layout_prunes_row_groups(spark, tmp_path):
    """S4b scale layout: range-sorted parquet gives disjoint per-file
    min/max ts ranges, and a narrow ts predicate physically reads far
    fewer rows than the same predicate over an unsorted copy (row-group
    stats pruning — the footer min/max actually doing work)."""
    import pyarrow.parquet as pq

    from data_pipeline_and_visualization_dashboard_spark.io import write_sorted

    events = read_table(spark, SF_SMOKE, "events", ["event_id", "ts", "value"])
    sorted_dir = str(tmp_path / "events_sorted")
    shuffled_dir = str(tmp_path / "events_shuffled")
    write_sorted(events, sorted_dir, ["ts"], num_files=8)
    # unsorted control: same data, same file count, hash-scattered rows
    events.repartition(8, "event_id").write.mode("overwrite").parquet(
        shuffled_dir
    )

    # 1) file-level min/max ranges on ts are pairwise disjoint
    import glob

    ranges = []
    for f in glob.glob(sorted_dir + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        st = md.row_group(0).column(idx["ts"]).statistics
        lo, hi = st.min, st.max
        for g in range(1, md.num_row_groups):
            s2 = md.row_group(g).column(idx["ts"]).statistics
            lo, hi = min(lo, s2.min), max(hi, s2.max)
        ranges.append((lo, hi))
    ranges.sort()
    assert len(ranges) == 8
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev <= lo_next

    def rows_read(path: str) -> int:
        df = spark.read.parquet(path)
        mid = df.selectExpr(
            "timestamp_micros(cast(percentile(unix_micros(ts), 0.5) AS long)) AS m"
        ).first().m
        flt = df.filter(
            (F.col("ts") >= F.lit(mid))
            & (F.col("ts") <= F.lit(mid) + F.expr("INTERVAL 1 HOUR"))
        )
        flt.collect()
        leaf = flt._jdf.queryExecution().executedPlan().collectLeaves().head()
        return leaf.metrics().apply("numOutputRows").value()

    total = events.count()
    read_sorted = rows_read(sorted_dir)
    read_shuffled = rows_read(shuffled_dir)
    # the unsorted copy reads ~everything (every row group overlaps the
    # range); the sorted copy skips all but the matching neighborhood
    assert read_shuffled > total * 0.9
    assert read_sorted < read_shuffled / 4


def test_jsonl_round_trip_with_schema(spark, tmp_path):
    """S8: documents -> JSONL -> read back with explicit schema equals
    the original (exact-typed columns; explicit schema avoids the
    inference pre-scan that doubles I/O at scale)."""
    from data_pipeline_and_visualization_dashboard_spark.io import (
        read_jsonl, write_jsonl,
    )

    docs = read_table(spark, SF_SMOKE, "documents")
    d = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, d)
    back = read_jsonl(spark, d, schema=docs.schema)
    assert back.schema == docs.schema
    a = sorted(tuple(r) for r in docs.collect())
    b = sorted(tuple(r) for r in back.collect())
    assert a == b


def test_compact_files_reduces_file_count_losslessly(spark, tmp_path):
    """S9: a 64-small-file directory compacts to the computed file
    count; row content identical before/after. Named by a file://
    URI, it compacts again to the count its size and the target
    give."""
    import os

    from data_pipeline_and_visualization_dashboard_spark.io import (
        compact_files,
    )

    events = read_table(spark, SF_SMOKE, "events",
                        ["event_id", "user_id", "value"])
    d = str(tmp_path / "shattered")
    events.repartition(64).write.mode("overwrite").parquet(d)
    import glob

    before_files = glob.glob(d + "/*.parquet")
    assert len(before_files) == 64
    before_rows = sorted(tuple(r) for r in spark.read.parquet(d).collect())
    n = compact_files(spark, d, target_file_bytes=128 * 1024 * 1024)
    after_files = glob.glob(d + "/*.parquet")
    assert len(after_files) == n < 64
    after_rows = sorted(tuple(r) for r in spark.read.parquet(d).collect())
    assert before_rows == after_rows
    size = sum(os.path.getsize(f) for f in after_files)
    n = compact_files(spark, "file://" + d, target_file_bytes=size // 3 + 1)
    assert len(glob.glob(d + "/*.parquet")) == n == 3
    assert sorted(tuple(r) for r in spark.read.parquet(d).collect()) == (
        before_rows)


def test_compact_files_survives_a_failed_swap(spark, tmp_path,
                                             monkeypatch):
    """S9: a compaction whose swap into place fails leaves every row
    readable, and the next call compacts. Siblings that merely share
    the directory's name (a dated snapshot, a `.old` backup) are not
    debris of a publish and survive both calls."""
    import glob
    import os

    import pytest

    from data_pipeline_and_visualization_dashboard_spark.io import (
        compact_files,
    )

    d = str(tmp_path / "shattered")
    read_table(spark, SF_SMOKE, "events", ["event_id", "value"]).repartition(
        8
    ).write.parquet(d)
    before = sorted(tuple(r) for r in spark.read.parquet(d).collect())
    siblings = [d + ".20240101", d + ".2", d + ".old"]
    for s in siblings:
        os.makedirs(s)
        open(os.path.join(s, "keep"), "w").close()
    replace, failed = os.replace, []

    def fail_once_onto(src, dst):
        if dst == d and not failed:
            failed.append(src)
            raise OSError("swap into place failed")
        replace(src, dst)

    monkeypatch.setattr(os, "replace", fail_once_onto)
    with pytest.raises(OSError, match="swap into place failed"):
        compact_files(spark, d)
    assert failed
    assert sorted(tuple(r) for r in spark.read.parquet(d).collect()) == before
    n = compact_files(spark, d)
    assert len(glob.glob(d + "/*.parquet")) == n == 1
    assert sorted(tuple(r) for r in spark.read.parquet(d).collect()) == before
    assert sorted(os.listdir(tmp_path)) == sorted(
        os.path.basename(p) for p in [d, *siblings])
    assert all(os.listdir(s) == ["keep"] for s in siblings)


def test_publish_dir_never_replaces_a_concurrent_create(tmp_path):
    """A publish of a path that was absent when it began creates it:
    if another publish put the path in place meanwhile (a concurrent
    build of one artifact generation), the rename in fails and the
    other copy stays, never moved aside; no debris is left."""
    import os

    import pytest

    from data_pipeline_and_visualization_dashboard_spark.io import (
        publish_dir,
    )

    path = str(tmp_path / "gen")

    def winner(staging):
        os.makedirs(staging)
        open(os.path.join(staging, "winner"), "w").close()

    def loser(staging):
        os.makedirs(staging)
        publish_dir(path, winner)  # completes while this one writes

    with pytest.raises(OSError):
        publish_dir(path, loser)
    assert sorted(os.listdir(path)) == ["_SUCCESS", "winner"]
    assert os.listdir(tmp_path) == ["gen"]


def test_incremental_ingest_processes_each_file_once(spark, tmp_path):
    """S10: two ingest rounds — the second processes only the newly
    arrived file; a third with nothing new is a no-op. Output equals
    the union of all inputs exactly once."""
    from data_pipeline_and_visualization_dashboard_spark.io import (
        ingest_incremental,
    )

    nation = read_table(spark, SF_SMOKE, "nation")
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    state = str(tmp_path / "state" / "manifest.txt")
    first = nation.filter(F.col("n_nationkey") < 10)
    second = nation.filter(F.col("n_nationkey") >= 10)
    first.coalesce(1).write.mode("overwrite").parquet(in_dir)

    n1 = ingest_incremental(spark, in_dir, out_dir, state)
    assert n1 >= 1
    assert spark.read.parquet(out_dir).count() == first.count()

    # a new file arrives (write via temp dir, move one parquet in)
    import glob
    import shutil

    tmp2 = str(tmp_path / "stage2")
    second.coalesce(1).write.mode("overwrite").parquet(tmp2)
    src = glob.glob(tmp2 + "/*.parquet")[0]
    shutil.copy(src, in_dir + "/part-new.parquet")

    n2 = ingest_incremental(spark, in_dir, out_dir, state)
    assert n2 == 1
    got = sorted(
        tuple(r) for r in spark.read.parquet(out_dir)
        .select(*nation.columns).collect()
    )
    want = sorted(tuple(r) for r in nation.collect())
    assert got == want

    assert ingest_incremental(spark, in_dir, out_dir, state) == 0


def test_schema_evolution_merge(spark, tmp_path):
    """mergeSchema: an ingest whose later files carry an added column
    reads as the superset schema with nulls backfilled — the schema-
    evolution contract a long-lived corpus directory needs."""
    nation = read_table(spark, SF_SMOKE, "nation")
    d = str(tmp_path / "evolving")
    nation.select("n_nationkey", "n_name").write.mode(
        "overwrite"
    ).parquet(d)
    nation.select(
        "n_nationkey", "n_name", F.lit("round2").alias("ingest_tag")
    ).write.mode("append").parquet(d)
    merged = spark.read.option("mergeSchema", "true").parquet(d)
    assert set(merged.columns) == {"n_nationkey", "n_name", "ingest_tag"}
    n = nation.count()
    assert merged.count() == 2 * n
    assert merged.filter(F.col("ingest_tag").isNull()).count() == n


def test_read_table_normalizes_both_timestamp_flavors(spark, tmp_path):
    """The driver's testdata generator has shipped `ts` as parquet
    TIMESTAMP(NANOS) (round 1, read as long under nanosAsLong) and as
    TIMESTAMP(MICROS) NTZ (round 2). read_table must normalize BOTH to
    session-tz TIMESTAMP with identical values, so a testdata
    regeneration never breaks type-strict call sites (unix_micros,
    window, watermarks) again."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = pq.read_table(SF_SMOKE + "/events.parquet")
    i = src.schema.get_field_index("ts")

    ns_dir = str(tmp_path / "flavor_ns")
    ntz_dir = str(tmp_path / "flavor_ntz")
    for d, typ in ((ns_dir, pa.timestamp("ns")), (ntz_dir, pa.timestamp("us"))):
        cast = src.set_column(
            i, pa.field("ts", typ), src.column("ts").cast(typ)
        )
        import os

        os.makedirs(d)
        pq.write_table(cast, d + "/events.parquet")

    a = read_table(spark, ns_dir, "events")
    b = read_table(spark, ntz_dir, "events")
    assert dict(a.dtypes)["ts"] == "timestamp"
    assert dict(b.dtypes)["ts"] == "timestamp"
    va = [(r.event_id, r.ts) for r in a.orderBy("event_id").limit(50).collect()]
    vb = [(r.event_id, r.ts) for r in b.orderBy("event_id").limit(50).collect()]
    assert va == vb


def test_jsonl_corrupt_record_quarantine(spark, tmp_path):
    """Malformed JSONL lines must land in the quarantine output with
    their raw text preserved; clean rows parse fully; nothing is
    silently dropped (clean + quarantine == input lines)."""
    from data_pipeline_and_visualization_dashboard_spark.io import (
        read_jsonl_quarantined,
    )

    p = tmp_path / "docs.jsonl"
    lines = [
        '{"doc_id": 1, "text": "alpha"}',
        '{"doc_id": 2, "text": "beta"',  # truncated — malformed
        'not json at all',
        '{"doc_id": 3, "text": "gamma"}',
    ]
    p.write_text("\n".join(lines) + "\n")
    clean, quarantine = read_jsonl_quarantined(
        spark, str(p), "doc_id long, text string"
    )
    got_clean = sorted((r.doc_id, r.text) for r in clean.collect())
    assert got_clean == [(1, "alpha"), (3, "gamma")]
    bad = sorted(r.raw_line for r in quarantine.collect())
    assert bad == sorted([lines[1], lines[2]])
    assert clean.count() + quarantine.count() == len(lines)


def test_write_zorder_prunes_on_both_columns(spark, tmp_path):
    """S4c Z-order layout: after Morton-clustering events on
    (user_id, value), footer min/max stats must rule out a large
    fraction of row groups for a point filter on user_id AND for a
    narrow range filter on value — partial pruning on BOTH columns is
    the point of the interleave (the hash-scattered control admits
    ~every row group for either predicate). Asserted directly on
    parquet metadata so the result is reader-implementation-agnostic."""
    import glob

    import pyarrow.parquet as pq

    from data_pipeline_and_visualization_dashboard_spark.io import write_zorder

    events = read_table(spark, SF_SMOKE, "events",
                        ["event_id", "user_id", "value"])
    z_dir = str(tmp_path / "events_z")
    shuf_dir = str(tmp_path / "events_shuf")
    write_zorder(events, z_dir, "user_id", "value", num_files=16)
    events.repartition(16, "event_id").write.mode("overwrite").parquet(
        shuf_dir
    )

    def admitted(path: str, col: str, lo, hi) -> tuple[int, int]:
        """(row groups whose [min,max] intersects [lo,hi], total)."""
        hit = total = 0
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = {md.schema.column(i).name: i
                   for i in range(md.num_columns)}
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(idx[col]).statistics
                total += 1
                if st.min <= hi and st.max >= lo:
                    hit += 1
        return hit, total

    # pick predicates guaranteed non-empty
    some_user = events.groupBy("user_id").count().orderBy(
        F.desc("count")
    ).first().user_id
    p50 = events.selectExpr("percentile(value, 0.5) AS m").first().m
    v_lo, v_hi = p50, p50 + (events.agg(F.max("value")).first()[0] - p50) * 0.1

    for col, lo, hi in (("user_id", some_user, some_user),
                        ("value", v_lo, v_hi)):
        hit_s, tot_s = admitted(shuf_dir, col, lo, hi)
        hit_z, tot_z = admitted(z_dir, col, lo, hi)
        assert hit_s == tot_s, f"scattered copy should admit all ({col})"
        assert hit_z <= tot_z * 0.6, (
            f"z-order should prune >=40% of row groups on {col}: "
            f"{hit_z}/{tot_z}"
        )

    # layout is lossless
    assert spark.read.parquet(z_dir).count() == events.count()


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """S2b/S4c: ORC sink + scan roundtrip — values survive exactly
    (same rows as the parquet source), partition pruning works through
    the directory layout, and a column projection + predicate reach
    the ORC reader (ReadSchema pruned, PushedFilters non-empty)."""
    from data_pipeline_and_visualization_dashboard_spark.io import (
        read_orc,
        write_orc,
    )

    events = read_table(
        spark, SF_SMOKE, "events", ["event_id", "event_type", "value"]
    )
    d = str(tmp_path / "events_orc")
    write_orc(events, d, partition_by=["event_type"])
    back = read_orc(spark, d, ["event_id", "event_type", "value"])
    want = {(r.event_id, r.event_type, r.value) for r in events.collect()}
    got = {(r.event_id, r.event_type, r.value) for r in back.collect()}
    assert got == want
    q = read_orc(spark, d, ["event_id", "value"]).filter(
        F.col("value") > 50
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<event_id:bigint,value:double>" in plan
    assert "PushedFilters: [IsNotNull(value), GreaterThan(value,50.0)]" in plan
    pruned = read_orc(spark, d).filter(F.col("event_type") == "click")
    pplan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in pplan and "event_type" in pplan.split(
        "PartitionFilters", 1)[1][:200]
