"""Structured Streaming twin of the batch analytics (SURVEY §2.11).

The reference is batch-only; the north star adds streaming ETL. The
`events` table is stream-shaped (event_id, ts, user_id, event_type,
value, props), so the rollup that queries.q13 computes in batch is
re-expressed as a watermarked tumbling-window streaming aggregation:

    readStream(parquet dir) -> withWatermark(ts, 10 min)
      -> groupBy(window(ts, 1 hour), event_type)
      -> count + sum(value) -> sink

Batch/stream parity: by the Dataflow/Structured-Streaming model the
complete output of the windowed streaming agg over a finite input
equals the batch groupBy over the same input — tested in
tests/test_streaming.py by driving the file source to completion.
Every finite run is one call: `drain(query)` processes all input
and stops the query, and `to_memory(stream, mode)` drains a stream
into a memory sink and returns its table with the stopped query,
whose progress (`state_rows`) stays readable.

At scale: the parquet file source is the smoke harness; production
swaps `readStream.format("kafka")` with the same downstream plan.
State store sizing = |windows in flight| × |event types|; the 10-min
watermark bounds it. foreachBatch gives exactly-once parquet output:
each epoch's complete result is published whole by io.publish_dir.

Sessions have one definition, queries.sessions (the engine's
session_window, merged across micro-batches in the state store):
q36_session_windows and the three session builders call it, so state
is the open sessions only and a late event that bridges two sessions
merges them. The per-user applyInPandasWithState handler
(_per_user_stream) serves the families no engine operator covers:
transitions, last-touch and linear attribution.
"""

from __future__ import annotations

import collections
import functools
import os
import shutil
import uuid
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .extras.text import spark_tokens
from .io import local_path, publish_dir, recover_dir
from .queries import sessions


# streaming needs an explicit schema; the driver parquet stores ts as
# TIMESTAMP(MICROS, isAdjustedToUTC=false) -> declare NTZ to match the
# file exactly, then cast to session-tz TIMESTAMP (UTC-pinned, so the
# cast is wall-clock-preserving) for watermarks/windows.
_STREAM_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)


# Epoch fence for the foreachBatch merge sinks. foreachBatch is
# AT-LEAST-ONCE: if the process dies after the state is published but
# before the streaming checkpoint records the batch, restart replays
# the same epoch. A last-write-wins merge is naturally idempotent
# under that replay; an ADDITIVE merge (counts, sums) is not. So the
# state carries its last-applied epoch_id in a `_LAST_EPOCH` file
# written into the staging copy of io.publish_dir, which swaps state
# and fence in together, and the merge is a no-op for
# epoch_id <= last applied.
_EPOCH_SIDECAR = "_LAST_EPOCH"


def _state_last_epoch(state_dir: str) -> int:
    p = os.path.join(local_path(state_dir), _EPOCH_SIDECAR)
    if os.path.exists(p):
        with open(p) as f:
            return int(f.read().strip())
    return -1


def _fenced(merged: DataFrame, epoch_id: int):
    """io.publish_dir's `write` for a fenced sink: the merged state
    parquet plus the `epoch_id` fence beside it."""
    def write(staging: str) -> None:
        merged.write.parquet(staging)
        with open(os.path.join(staging, _EPOCH_SIDECAR), "w") as f:
            f.write(str(epoch_id))
    return write


def _with_state(partial: DataFrame, state_dir: str) -> DataFrame:
    """A fenced sink's batch partials plus its published state, if any."""
    if not os.path.exists(local_path(state_dir)):
        return partial
    return partial.unionByName(partial.sparkSession.read.parquet(state_dir))


def _epoch_is_new(state_dir: str, epoch_id: int) -> bool:
    """The fenced merge sinks' prologue: recover an interrupted
    publish, then say whether `epoch_id` is past the state's fence.
    False means a replayed epoch whose merge is already in the state:
    skip it."""
    recover_dir(state_dir)
    return epoch_id > _state_last_epoch(state_dir)


def _read_files(spark: SparkSession, schema: str, path: str,
                glob: str | None = None) -> DataFrame:
    """Parquet file-source stream over the directory `path`, every file
    its own micro-batch: the stateful builders need that, because batch
    boundaries drive their state and watermarks, and a one-file input
    reads the same either way. `glob` narrows it to matching file
    names (one table of a testdata directory)."""
    reader = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader.parquet(path)


def read_event_stream(spark: SparkSession, path: str,
                      glob: str | None = None) -> DataFrame:
    """Events file-source stream (kafka in production), with `ts` cast
    to session-tz TIMESTAMP for watermarks and windows (see
    _STREAM_SCHEMA). Over a testdata directory, pass
    glob="events.parquet"."""
    raw = _read_files(spark, _STREAM_SCHEMA, path, glob)
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def drain(*queries):
    """Run started queries until their finite input is consumed, then
    stop every one whatever happens. Returns the stopped query (or the
    tuple of them); its lastProgress and a memory sink's table stay
    readable after the stop."""
    try:
        for q in queries:
            q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()
    return queries[0] if len(queries) == 1 else queries


def to_memory(stream: DataFrame, mode: str):
    """Drain `stream` in output `mode` into a memory sink under a fresh
    name; returns (the sink's table as a batch DataFrame, the stopped
    query). Like any memory sink's, the table holds its rows on the
    driver until the session ends: for finite, small outputs."""
    name = f"drained_{uuid.uuid4().hex}"
    q = drain(
        stream.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    return stream.sparkSession.table(name), q


def state_rows(query) -> int:
    """State-store rows summed over the stateful operators of a
    (stopped) query's last progress, so callers can assert a bounded-
    state claim rather than trust a docstring. Raises rather than
    return a sentinel when there is no progress record: the readout
    cannot be computed at all, and the caller's assertion should fail
    with that cause."""
    prog = query.lastProgress
    if prog is None:
        raise RuntimeError(
            f"stream {query.name or query.id} finished without a "
            "progress record; state rows cannot be read from lastProgress"
        )
    return sum(op["numRowsTotal"] for op in prog["stateOperators"])


def windowed_event_counts(events: DataFrame,
                          watermark: str = "10 minutes",
                          window: str = "1 hour") -> DataFrame:
    """Tumbling-window rollup with late-data watermark — the streaming
    twin of queries.q13_windowed_counts."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count(F.lit(1)).alias("event_cnt"),
            F.round(F.sum("value"), 4).alias("value_sum"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "event_cnt",
            "value_sum",
        )
    )


def run_windowed_with_late_metrics(spark: SparkSession, in_dir: str,
                                   watermark: str = "10 minutes"):
    """Drive the windowed rollup in UPDATE mode (watermarks only drop
    rows in update/append — complete mode keeps everything) and
    return (result_df, n_dropped_by_watermark): the per-deployment
    "how many rows did the watermark kill" number every production
    stream publishes next to its output. Late-drop counts come from
    the engine's own state-operator metrics
    (numRowsDroppedByWatermark summed across micro-batches) — the
    honest source, not a re-derivation. Two engine facts the parity
    test pins (tests/test_streaming.py): late events filter against
    the PREVIOUS trigger's watermark (SPARK-39931 era semantics), and
    the metric counts state-INPUT rows — map-side partials, one per
    late (window, key) group, not raw events. The memory sink holds
    one row per (window, type) UPDATE; callers take the LAST update
    per key (max is enough for the monotone count/sum here)."""
    import time as _time

    from pyspark.sql.streaming import StreamingQueryListener

    class _DropListener(StreamingQueryListener):
        """Counts numRowsDroppedByWatermark via the listener bus —
        NOT q.recentProgress, which is a ring buffer capped at
        spark.sql.streaming.numRecentProgressUpdates (default 100):
        with maxFilesPerTrigger=1 a 150-file directory would silently
        lose the first ~50 batches' drops from recentProgress, which
        is exactly the failure a drop-accounting helper must not
        have."""

        def __init__(self) -> None:
            self.dropped = collections.Counter()
            self.last_batch = {}

        def onQueryStarted(self, event) -> None:  # noqa: N802
            pass

        def onQueryProgress(self, event) -> None:  # noqa: N802
            p, qid = event.progress, str(event.progress.id)
            for op in p.stateOperators:
                self.dropped[qid] += op.numRowsDroppedByWatermark or 0
            self.last_batch[qid] = max(self.last_batch.get(qid, -1),
                                       p.batchId)

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            pass

    listener = _DropListener()
    spark.streams.addListener(listener)
    try:
        out, q = to_memory(
            windowed_event_counts(read_event_stream(spark, in_dir), watermark),
            "update",
        )
        # the listener bus is ASYNC: wait until it has seen the stopped
        # query's final batch (events arrive in batch order, so seeing
        # the last batchId means every earlier one is counted)
        last = (q.lastProgress or {}).get("batchId", -1)
        deadline = _time.time() + 30
        while (listener.last_batch.get(q.id, -1) < last
               and _time.time() < deadline):
            _time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
    return out, listener.dropped[q.id]


def dedup_event_stream(events: DataFrame,
                       watermark: str = "10 minutes") -> DataFrame:
    """Stateful streaming dedup on event_id: the streaming twin of
    exact dedup (extras.dedup) for at-least-once sources; duplicates
    arriving across micro-batches are dropped exactly like within one.

    State honesty (corrected round 9): with the dedup subset NOT
    containing the event-time column, dropDuplicates' key state is
    NEVER watermark-evicted — the watermark only drops late input
    rows. That is the EXACT-forever guarantee (right for replayable
    finite backfills and bounded key domains) at the cost of state =
    |distinct ids|. For unbounded runs use the bounded twin below,
    dedup_event_stream_bounded (dropDuplicatesWithinWatermark), whose
    state is time-evicted — the production at-least-once config, since
    redeliveries arrive within a bounded delay."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def dedup_event_stream_bounded(events: DataFrame,
                               watermark: str = "10 minutes") -> DataFrame:
    """BOUNDED-STATE streaming dedup (dropDuplicatesWithinWatermark):
    drops duplicates of an event_id that arrive within the watermark
    delay of the first-seen row, and EVICTS each id from the state
    store once the watermark passes its event time — state size is
    O(ids per watermark window), independent of stream lifetime, which
    is what lets the query run forever.

    Contract difference vs dedup_event_stream: a duplicate redelivered
    LATER than the watermark delay can be re-emitted (its state is
    gone). At-least-once sources redeliver within a bounded horizon
    (the delivery timeout), so the watermark is set to that horizon
    and the configs trade exactly: unbounded state + perfect dedup vs
    bounded state + dedup-within-horizon. Both pinned in
    tests/test_streaming.py, including the state-eviction readout from
    the query's own progress metrics."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


class _UserFold(NamedTuple):
    """One per-user stateful family, as `_per_user_stream` runs it.

    `fold(user_id, pdf_iter, *state) -> (rows, new_state)` is pure: it
    walks one micro-batch of the user's rows from the stored state (or
    `init` for a user never seen) and never sees the GroupState.  Rows
    are tuples in `out_schema` order.  A bounded spelling arms its
    timeout from the state's first field, the user's last event time
    (us).  `drop_null_users` is the family's population policy."""

    fold: Callable
    init: tuple
    out_schema: str
    state_schema: str
    drop_null_users: bool = False


def _per_user_handler(key, pdf_iter, state, family, horizon_us, cols):
    """The GroupState protocol, once for every per-user family.

    A key whose event-time timeout fired (Spark delivers it only to
    keys with no data in the batch) has its state removed and emits
    nothing.  Otherwise the fold runs from the stored or initial
    state, and its new state is stored.  With a horizon, the timeout
    is armed at last event + horizon; setTimeoutTimestamp must exceed
    the current watermark, so a user whose horizon already elapsed is
    armed at watermark + 1 ms and fires in the next batch without
    their data.  Rows leave as one frame with the family's columns."""
    import pandas as pd

    (user_id,) = key
    if state.hasTimedOut:
        state.remove()
        return
    rows, new_state = family.fold(
        user_id, pdf_iter, *(state.get if state.exists else family.init)
    )
    state.update(new_state)
    if horizon_us is not None:
        state.setTimeoutTimestamp(
            max(
                (new_state[0] + horizon_us) // 1000 + 1,
                state.getCurrentWatermarkMs() + 1,
            )
        )
    if rows:
        yield pd.DataFrame(rows, columns=cols)


def _per_user_stream(events: DataFrame, watermark: str, family: _UserFold,
                     horizon_us: int | None = None) -> DataFrame:
    """Build one per-user stateful stream: the family's population
    policy, then withWatermark -> groupBy(user_id) ->
    applyInPandasWithState in append mode.  `horizon_us` None keeps
    every user's state for ever (NoTimeout); a horizon evicts users
    idle past it in event time (EventTimeTimeout)."""
    if family.drop_null_users:
        events = events.filter(F.col("user_id").isNotNull())
    handler = functools.partial(
        _per_user_handler,
        family=family,
        horizon_us=horizon_us,
        cols=[f.split()[0] for f in family.out_schema.split(",")],
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            handler,
            family.out_schema,
            family.state_schema,
            "append",
            "NoTimeout" if horizon_us is None else "EventTimeTimeout",
        )
    )


def sessionize_stream(events: DataFrame,
                      watermark: str = "10 minutes") -> DataFrame:
    """Streaming twin of queries.q16_sessionization: one row per user
    session (user_id, session_start, session_end = last event,
    n_events), built on queries.sessions, so a session splits where
    the gap to the previous event exceeds 30 min.

    Append mode emits a session once the watermark passes its last
    event + gap, the user's final session included, so after the
    watermark passes every user's last event + gap the output equals
    full batch sessionization. A late event admitted by the watermark
    merges every open session it lands within one gap of, including
    two it bridges; any watermark delay is accepted. State holds only
    the open sessions and is evicted as they close, whatever the
    number of users ever seen."""
    return sessions(events.withWatermark("ts", watermark)).select(
        "user_id",
        "session_start",
        F.col("last_event").alias("session_end"),
        "n_events",
    )


sessionize_stream_timeout = sessionize_stream


def sessionize_stream_native(events: DataFrame,
                             watermark: str = "10 minutes",
                             gap: str = "30 minutes") -> DataFrame:
    """sessionize_stream with the session window's own end as
    session_end (last event + gap), the column q36_session_windows
    reports; `gap` sets the session gap."""
    return sessions(events.withWatermark("ts", watermark), gap).select(
        "user_id",
        "session_start",
        F.col("window_end").alias("session_end"),
        "n_events",
    )


def _transition_fold(user_id, pdf_iter, last_us, last_eid, last_type):
    """Per-user transition fold: state = the user's LAST event (ts,
    event_id, type); each batch buffers the user's rows, sorts the
    union by (ts, event_id) ONCE — the exact tie order the batch q89
    window uses, so a micro-batch split can never reorder equal
    timestamps differently — then emits one (from, to) row per
    consecutive pair, bridging the batch boundary through the carried
    state. State is three scalars per active user.

    NULL event types follow q89, which pairs each event with its
    lead() and keeps pairs whose to_type IS NOT NULL: a NULL-typed
    event emits no pair of its own but is still the next pair's
    from_type. Whether a previous event exists is therefore read from
    its position — the initial state's (-1, -1) — never from
    last_type, which may be NULL."""
    import pandas as pd

    frames = [
        pd.DataFrame(
            {
                "us": pdf["ts"].astype("int64") // 1000,
                "eid": pdf["event_id"],
                "et": pdf["event_type"],
            }
        )
        for pdf in pdf_iter
    ]
    rows = []
    if frames:
        df = pd.concat(frames).sort_values(["us", "eid"])
        for us, eid, et in df.itertuples(index=False):
            if et is not None and (last_us, last_eid) != (-1, -1):
                rows.append((user_id, last_type, et))
            last_us, last_eid, last_type = int(us), int(eid), et
    return rows, (last_us, last_eid, last_type)


_TRANSITIONS = _UserFold(
    fold=_transition_fold,
    init=(-1, -1, None),
    out_schema="user_id long, from_type string, to_type string",
    state_schema="last_us long, last_eid long, last_type string",
)


def transition_stream(events: DataFrame,
                      watermark: str = "10 minutes") -> DataFrame:
    """Streaming twin of q89_session_transitions' pair stage: emits
    each (user, from_type, to_type) transition as the follow-up event
    arrives, across micro-batch boundaries — the live feed a
    next-action model or an anomaly screen ("error→purchase spiking")
    consumes. Aggregating the emitted pairs reproduces the batch
    transition matrix exactly on time-split input (parity-tested);
    state is one (ts, event_id, type) triple per user EVER SEEN —
    under "NoTimeout" it is never evicted (the unbounded-domain
    spelling is an EventTimeTimeout that drops users idle past a horizon, trading
    the first post-return transition of a long-idle user)."""
    return _per_user_stream(events, watermark, _TRANSITIONS)


TRANSITION_IDLE_US = 30 * 24 * 3600 * 1_000_000  # 30-day idle horizon


def transition_stream_bounded(events: DataFrame,
                              watermark: str = "10 minutes") -> DataFrame:
    """UNBOUNDED-DOMAIN transition emitter: transition_stream with an
    EventTimeTimeout that evicts users idle past TRANSITION_IDLE_US —
    state is O(users active within one horizon), independent of stream
    lifetime. An evicted user emits nothing (the last event is only a
    transition SOURCE). The traded semantics, stated precisely (the
    tests/test_streaming.py fixture demonstrates both sides): the
    bridging (pre-idle → first-new) pair is dropped IF a batch without
    that user's data ran after the watermark passed their horizon
    (Spark only delivers the timeout to keys with no data in the
    batch — an expired key whose return arrives before any such batch
    is processed with its state intact, i.e. the exact twin's
    behavior). Output therefore sits between the exact twin and the
    strict horizon cut; what the timeout GUARANTEES is the state
    bound — idle entries cannot outlive the horizon by more than one
    batch interval. Within the horizon, output is identical to the
    exact twin (parity-tested — the horizon dominates the test
    corpus's span, so the matrices are equal; the eviction itself is
    pinned on a synthetic idle-user fixture via the progress metrics).
    Restart recovery — state AND armed timeout — is pinned in
    test_bounded_transitions_survive_restart."""
    return _per_user_stream(
        events, watermark, _TRANSITIONS, TRANSITION_IDLE_US
    )


def _last_touch_fold(user_id, pdf_iter, last_us, last_eid, channel,
                     touch_us, touch_eid):
    """Per-user last-touch fold, shared by both last-touch spellings.
    State = the user's last event position of ANY type (ts, event_id
    — the idle-timeout anchor for the bounded spelling) plus the
    carried CHANNEL (last non-purchase type — the LOCF carry-forward
    q98 computes with a window, kept live) and that touch's own (ts,
    event_id) position.  Five scalars per user; a user who has only
    ever purchased carries a NULL channel (the '(none)' direct-traffic
    bucket downstream).

    Each batch: buffer the user's rows, sort the union by (ts,
    event_id) ONCE — the exact total order the batch q98 window walks,
    so a micro-batch split can never reorder equal timestamps
    differently — then walk it: a
    purchase CREDITS the carried channel (strictly-preceding rows
    only, because the carry updates after the credit check — the
    1-PRECEDING frame), a non-purchase BECOMES the carry.  Rows with a
    NULL event_type are dropped up front — malformed telemetry that
    the batch twin counts as neither touch nor purchase (ADVICE r14
    #3; q98's when/filter construction and q99's explicit IS NOT NULL
    exclude them), so the stream must not fold them as NULL-channel
    touches.  Purchases never move the CARRY, matching q98's
    when(type != 'purchase') inside last(ignorenulls) — but they DO
    advance (last_us, last_eid), which tracks the user's last event
    of ANY type: the bounded spelling arms its idle timeout from it,
    and eviction is about user IDLENESS, not touch age (review r14
    #1: arming from the last touch would evict an actively-PURCHASING
    user 30 days after their last touch and silently mis-credit their
    next purchase to '(none)').

    Cross-batch order envelope (ADVICE r14 #1/#2): the fold is
    order-aware where bounded state allows it —
      * the CARRY tracks its own position (touch_us, touch_eid): a
        late-but-within-watermark touch arriving in a LATER batch
        updates the carry only if it postdates the carried touch in
        event time, so an older late touch can never overwrite a
        newer one, and the carry CONVERGES to the batch value (the
        event-time-latest touch seen) under EVERY arrival order;
      * (last_us, last_eid) only ever advances (max fold), so a late
        batch of old events can never regress the bounded spelling's
        idle-eviction deadline.
    What bounded state canNOT repair is credit timing: a purchase is
    credited from the carry at its OWN fold time, so per-credit
    output equals batch exactly iff each purchase arrives after every
    touch that event-time-precedes it and before every touch that
    event-time-follows it (the test corpora's time-split replays
    satisfy this; a violation mis-credits ONLY that purchase — the
    carry self-heals for all later ones).  Exact repair would need
    the full touch path, which is precisely the unbounded state this
    family avoids.  Returns (emit_rows,
    new_state)."""
    import pandas as pd

    frames = [
        pd.DataFrame(
            {
                "us": pdf["ts"].astype("int64") // 1000,
                "eid": pdf["event_id"],
                "et": pdf["event_type"],
                "val": pdf["value"],
            }
        )
        for pdf in pdf_iter
    ]
    rows = []
    if frames:
        df = pd.concat(frames)
        df = df[df["et"].notna()].sort_values(["us", "eid"])
        for us, eid, et, val in df.itertuples(index=False):
            us, eid = int(us), int(eid)
            if et == "purchase":
                rows.append((user_id, channel, val))
            else:
                if (us, eid) > (touch_us, touch_eid):
                    channel = et
                    touch_us, touch_eid = us, eid
            if (us, eid) > (last_us, last_eid):
                last_us, last_eid = us, eid
    return rows, (last_us, last_eid, channel, touch_us, touch_eid)


_LAST_TOUCH = _UserFold(
    fold=_last_touch_fold,
    init=(-1, -1, None, -1, -1),
    out_schema="user_id long, channel string, value double",
    # STATE-SCHEMA BREAK (r15 → ADVICE r15 #3): this schema widened
    # from 3 to 5 fields (touch_us, touch_eid added for the order-aware
    # carry). applyInPandasWithState state schemas are NOT
    # migration-safe: a checkpoint written under the 3-field schema
    # must be DISCARDED before resuming under this one (recovery would
    # fail or misbind state). Fresh checkpoints — every test and the
    # documented deployment recipe (new checkpoint dir per operator
    # version) — are unaffected.  If a long-lived deployment needs a
    # live migration, drain the old query (stop at a quiet watermark),
    # then start v2 with a NEW checkpoint dir against the same sink:
    # the fold reconverges from the sink's replayable input, which is
    # why the carry is designed to converge under every arrival order.
    state_schema=(
        "last_us long, last_eid long, channel string, "
        "touch_us long, touch_eid long"
    ),
    drop_null_users=True,
)


def last_touch_stream(events: DataFrame,
                      watermark: str = "10 minutes") -> DataFrame:
    """Streaming twin of q98_last_touch_attribution's credit stage
    (22nd stateful family): each purchase is credited to the channel
    of the user's most recent preceding non-purchase event the moment
    it arrives — the live feed a marketing dashboard rolls up instead
    of recomputing the window over history.  last_touch_rollup over
    the emitted credits reproduces the batch q98 output exactly on
    time-split input (parity-tested).  NULL user_ids are excluded —
    the SAME population policy as the batch twin (its docstring has
    the why: grouping NULL keys would conflate every anonymous
    visitor).  State is one (ts, event_id, channel) triple per user
    EVER SEEN; under "NoTimeout" it is never evicted — the
    bounded-domain spelling is last_touch_stream_bounded."""
    return _per_user_stream(events, watermark, _LAST_TOUCH)


LAST_TOUCH_IDLE_US = 30 * 24 * 3600 * 1_000_000  # 30-day idle horizon


def last_touch_stream_bounded(events: DataFrame,
                              watermark: str = "10 minutes") -> DataFrame:
    """UNBOUNDED-DOMAIN last-touch attributor: last_touch_stream with
    an EventTimeTimeout that evicts users idle past
    LAST_TOUCH_IDLE_US — state is O(users active within one horizon),
    independent of stream lifetime (the transition family's
    bounded-state story, applied to the 22nd family).  The traded
    semantics, stated precisely (the eviction test demonstrates both
    sides): a purchase by a user whose pre-idle touch was evicted
    credits '(none)' instead of the stale channel — arguably the
    RIGHT attribution call (a 30-day-old touch has expired in most
    attribution models), and exactly the transition family's timeout
    mechanics: Spark only delivers the timeout to keys with no data
    in the batch, so an expired key whose purchase arrives before any
    such batch still credits the intact state.  The deadline is armed
    from the fold's last_us, which only advances (a MAX fold, ADVICE
    r14 #2): a late batch containing only OLDER events leaves it at
    the user's true latest event, so a user is never evicted earlier
    than the horizon past their real last event.  Within the horizon,
    output is identical to the exact twin (the parity corpus spans
    less than the horizon, so the restart pin compares equal); the
    eviction semantics themselves are pinned on a synthetic idle-user
    fixture."""
    return _per_user_stream(
        events, watermark, _LAST_TOUCH, LAST_TOUCH_IDLE_US
    )


def _linear_attr_fold(user_id, pdf_iter, channels, counts):
    """Per-user LINEAR-attribution fold: state is the
    user's per-channel preceding-touch COUNTS (two parallel arrays,
    ≤|event types| entries — the insight that makes this streamable:
    equal splitting needs only the channel histogram of the path, not
    the path itself, so state is bounded by the type domain, not by
    path length).  Each purchase emits one credit row per seen
    channel (value·count/total), or a NULL-channel row for the whole
    value when no touch precedes — q99's '(none)' bucket.  Purchases
    with a NULL value emit nothing (q99 derives a NULL share from
    them; pandas NaN is the Arrow image of that NULL and must not
    poison the sums).  Rows with a NULL event_type are dropped up
    front — the batch twin's explicit IS NOT NULL policy (ADVICE r14
    #3): before this filter a NULL-typed row fell through is_touch on
    the batch side (landing in '(none)' as a pseudo-purchase when
    n_prior=0) while the stream tallied it as a NULL-channel touch —
    both engines now exclude the malformed population identically.

    Cross-batch order envelope (ADVICE r14 #1, stated like
    _last_touch_fold's): the histogram is a COUNT of touches, so
    touch arrival order never matters — the tally converges to the
    batch histogram under every arrival order.  Credit timing is the
    one order-sensitive step: a purchase splits over the tally at its
    OWN fold time, so its split equals batch exactly iff it arrives
    after every touch that event-time-precedes it and before every
    touch that event-time-follows it (time-split replays satisfy
    this); a violation mis-splits ONLY that purchase — unlike
    last-touch there is no carry to heal because nothing persists a
    wrong value past the purchase itself.  Exact repair would need
    per-purchase retraction (unbounded emitted-credit state), which
    this family deliberately avoids."""
    import pandas as pd

    tally = {c: int(n) for c, n in zip(channels, counts)}
    frames = [
        pd.DataFrame(
            {
                "us": pdf["ts"].astype("int64") // 1000,
                "eid": pdf["event_id"],
                "et": pdf["event_type"],
                "val": pdf["value"],
            }
        )
        for pdf in pdf_iter
    ]
    rows = []
    if frames:
        df = pd.concat(frames)
        df = df[df["et"].notna()].sort_values(["us", "eid"])
        for us, eid, et, val in df.itertuples(index=False):
            if et == "purchase":
                if val != val:  # NaN == SQL NULL here: no credit
                    continue
                n = sum(tally.values())
                if n:
                    for ch, c in tally.items():
                        rows.append((user_id, ch, val * c / n))
                else:
                    rows.append((user_id, None, val))
            else:
                tally[et] = tally.get(et, 0) + 1
    return rows, (list(tally.keys()), list(tally.values()))


_LINEAR_ATTR = _UserFold(
    fold=_linear_attr_fold,
    init=([], []),
    out_schema="user_id long, channel string, credit double",
    state_schema="channels array<string>, counts array<bigint>",
    drop_null_users=True,
)


def linear_attribution_stream(events: DataFrame,
                              watermark: str = "10 minutes",
                              ) -> DataFrame:
    """Streaming twin of q99_linear_attribution's credit stage (23rd
    stateful family): each purchase's equal-split credits are emitted
    the moment it arrives.  The batch query needs TWO window passes
    over history (count preceding touches, then suffix-sum the
    shares); the stream needs neither — equal splitting depends only
    on the per-channel count of preceding touches, so the keyed state
    is a channel HISTOGRAM (≤|event types| counters per user, bounded
    regardless of path length).  `linear_attr_rollup` over the emitted credits matches
    q99's per-channel attributed_revenue on time-split input
    (parity-tested), with the one honest asymmetry documented there:
    a touch channel never credited by any purchase appears in batch
    q99 with 0.0 revenue but produces no stream emission.  NULL
    user_ids excluded — the family's shared population policy.

    No bounded-eviction spelling is shipped ON PURPOSE: evicting a
    user's histogram silently RE-WEIGHTS every later purchase's
    split (the forgotten touches' share redistributes), unlike
    last-touch where eviction cleanly maps to "the stale touch
    expired".  A lookback-bounded attribution model belongs in the
    batch query's filter, not in silent state loss; the 22nd family's
    timeout spelling is the template if a deployment accepts the
    trade."""
    return _per_user_stream(events, watermark, _LINEAR_ATTR)


def linear_attr_rollup(credits: DataFrame) -> DataFrame:
    """Stateless per-channel revenue rollup over emitted credits —
    q99's attributed_revenue column (coalesce NULL → '(none)', 4dp),
    map-side-combinable over any credit window."""
    return (
        credits.groupBy(
            F.coalesce("channel", F.lit("(none)")).alias("channel")
        )
        .agg(F.round(F.sum("credit"), 4).alias("attributed_revenue"))
        .orderBy("channel")
    )


def last_touch_rollup(credits: DataFrame) -> DataFrame:
    """Stateless channel rollup over emitted credits — column-for-
    column the batch q98 epilogue (coalesce NULL carry to '(none)',
    count / 4dp revenue sum / 6dp avg order value), kept OUTSIDE the
    stream so the state stays the raw per-user carry and the rollup
    is map-side-combinable over whatever credit window a dashboard
    selects."""
    return (
        credits.groupBy(
            F.coalesce("channel", F.lit("(none)")).alias("channel")
        )
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 4).alias("attributed_revenue"),
            F.round(F.avg("value"), 6).alias("avg_order_value"),
        )
        .orderBy("channel")
    )


def view_purchase_join_stream(events: DataFrame,
                              watermark: str = "10 minutes",
                              horizon: str = "1 hour") -> DataFrame:
    """Watermarked stream-stream INNER join: purchases attributed to a
    prior view by the same user within the horizon — the canonical
    funnel/attribution join, streaming edition. Both sides carry a
    watermark and the join predicate bounds purchase_ts to
    [view_ts, view_ts + horizon], so the state store retains each view
    for horizon + watermark and each purchase for watermark only —
    bounded state, the requirement for an unbounded run. Inner join in
    append mode emits every match exactly once regardless of watermark
    progress (the watermark only gates state EVICTION), which is what
    makes the batch twin an exact oracle on finite input."""
    views = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    ).withWatermark("view_ts", watermark)
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", watermark)
    return purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {horizon}")
        ),
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "view_id",
        "purchase_ts",
        "view_ts",
        "purchase_value",
    )


def view_purchase_join_batch(events: DataFrame,
                             horizon: str = "1 hour") -> DataFrame:
    """Batch twin of view_purchase_join_stream over the same (static)
    events frame — the parity oracle for the stream-stream join."""
    views = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {horizon}")
        ),
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "view_id",
        "purchase_ts",
        "view_ts",
        "purchase_value",
    )


def view_purchase_left_join_stream(events: DataFrame,
                                   watermark: str = "10 minutes",
                                   horizon: str = "1 hour") -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join: every view, with its
    attributed purchase where one arrived inside the horizon and NULL
    purchase columns where none did — the abandonment/funnel-drop
    query, the outer half of view_purchase_join_stream.

    The semantics worth the separate operator: matched rows emit as
    soon as both sides meet (same as inner), but an UNMATCHED view can
    only emit once the engine can prove no purchase will ever match —
    i.e. when the watermark passes view_ts + horizon. Outer results
    are therefore delayed by the state-eviction bound, and on a finite
    input the tail of views whose windows never close before the final
    watermark never emits a NULL row at all. The batch twin + parity
    test drive the stream with a sentinel flush event that pushes the
    final watermark past every real view's window, making the outer
    semantics exactly checkable (tests/test_streaming.py). State bound
    is identical to the inner join: views retained horizon+watermark,
    purchases watermark only."""
    views = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    ).withWatermark("view_ts", watermark)
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", watermark)
    return views.join(
        purchases,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {horizon}")
        ),
        "leftOuter",
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "view_ts",
        "purchase_id",
        "purchase_ts",
        "purchase_value",
    )


def view_purchase_left_join_batch(events: DataFrame,
                                  horizon: str = "1 hour") -> DataFrame:
    """Batch twin of view_purchase_left_join_stream — the parity
    oracle for the outer stream-stream join."""
    views = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return views.join(
        purchases,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {horizon}")
        ),
        "left_outer",
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "view_ts",
        "purchase_id",
        "purchase_ts",
        "purchase_value",
    )


_DOC_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def read_document_stream(spark: SparkSession, path: str,
                         glob: str | None = None) -> DataFrame:
    """Documents file-source stream — the streaming face of the
    corpus-curation surface (kafka/object-store listing in production;
    documents arrive continuously from crawlers). Over a testdata
    directory, pass glob="documents.parquet"."""
    return _read_files(spark, _DOC_SCHEMA, path, glob)


def curation_stats_stream(docs: DataFrame) -> DataFrame:
    """Streaming corpus curation: the Gopher-style quality gate applied
    per micro-batch (row-local expressions — the batch plan fragment
    runs unchanged), rolled up into a running per-verdict histogram.
    This is the live data-quality monitor a crawl-ingest pipeline
    watches: drop-rate spikes surface immediately rather than at the
    next batch audit. State = one row per verdict class (bounded)."""
    from .extras.text import quality_verdicts

    return quality_verdicts(docs).groupBy("verdict").agg(
        F.count(F.lit(1)).alias("doc_cnt")
    )


def upsert_state_stream(spark: SparkSession, in_dir: str, state_dir: str,
                        checkpoint_dir: str):
    """Streaming CDC-upsert sink: maintain a compacted latest-state
    table (one row per user: last event + change count) from an event
    change stream — the streaming twin of q41_latest_event_state.

    foreachBatch merge: each micro-batch is reduced to per-user
    partials (latest row + count — both decomposable), merged with the
    current state parquet, and the state is replaced by
    io.publish_dir (staged, marked, swapped). State size
    = |distinct users|, independent of stream length; the merge cost
    per batch is state-size + batch-size, not history-size.
    Idempotence: the latest-row part is last-write-wins (naturally
    replay-safe) but n_changes is additive, so the state carries the
    `_LAST_EPOCH` fence (see _fenced) and a replayed epoch is a
    no-op — exactly-once on top of foreachBatch's at-least-once."""
    events = read_event_stream(spark, in_dir)

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if not _epoch_is_new(state_dir, epoch_id):
            return  # replayed epoch: already merged, skip
        w = Window.partitionBy("user_id").orderBy(
            F.desc("last_ts"), F.desc("last_event_id")
        )
        partial = (
            batch_df.select(
                "user_id",
                F.col("event_id").alias("last_event_id"),
                F.col("ts").alias("last_ts"),
                F.col("event_type").alias("last_type"),
                F.col("value").alias("last_value"),
            )
            .withColumn("n_changes", F.lit(1).cast("long"))
        )
        partial = _with_state(partial, state_dir)
        merged = (
            partial.withColumn("rn", F.row_number().over(w))
            .withColumn(
                "total_changes",
                F.sum("n_changes").over(Window.partitionBy("user_id")),
            )
            .filter(F.col("rn") == 1)
            .drop("rn", "n_changes")
            .withColumnRenamed("total_changes", "n_changes")
        )
        publish_dir(state_dir, _fenced(merged, epoch_id))

    return (
        events.writeStream.outputMode("append")
        .foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def enriched_nation_counts_stream(events: DataFrame,
                                  sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment — the canonical streaming
    join pattern this module was missing: each micro-batch joins the
    live events against a STATIC dimension (customer nation, read
    from `sf_dir` by queries_ext.customer_nation), then rolls up per
    (1h window, nation). Stream-static inner joins are STATELESS (the
    static side is re-resolved per micro-batch and broadcast; nothing
    is buffered across batches), so unlike the stream-stream join
    there is no watermark-bounded state and the batch twin
    (q58_event_nation_counts) must match row-exactly."""
    from .queries_ext import customer_nation

    dim = customer_nation(events.sparkSession, sf_dir)
    return (
        events.withWatermark("ts", "1 hour")
        .join(F.broadcast(dim), "user_id")
        .groupBy(F.window("ts", "1 hour").alias("w"), "nation")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("hour"), "nation", "n_events"
        )
    )


def rollup_merge_stream(spark: SparkSession, in_dir: str, state_dir: str,
                        checkpoint_dir: str):
    """Streaming incremental-view maintenance: a daily (date, type)
    rollup maintained CONTINUOUSLY from the event stream — the
    streaming twin of q53_incremental_rollup, and the same merge
    identity: each micro-batch reduces to per-key partial
    (count, sum) pairs (decomposable), which merge with the current
    state by plain re-aggregation. avg is never stored — always
    derived after merging, so it stays exact.

    State size = |days × types| (rollup-sized, independent of stream
    length); per-batch cost = state + batch, never history. The merge
    is ADDITIVE, so replay safety cannot come from last-write-wins:
    the state carries the `_LAST_EPOCH` fence and is published by
    io.publish_dir — see _fenced and _epoch_is_new above. The final
    state reads out as q53's frame through read_rollup_state."""
    events = read_event_stream(spark, in_dir)

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if not _epoch_is_new(state_dir, epoch_id):
            return  # replayed epoch: already merged, skip
        partial = batch_df.groupBy(
            F.to_date("ts").cast("string").alias("event_date"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sv"),
        )
        partial = _with_state(partial, state_dir)
        merged = partial.groupBy("event_date", "event_type").agg(
            F.sum("n_events").alias("n_events"), F.sum("sv").alias("sv")
        )
        publish_dir(state_dir, _fenced(merged, epoch_id))

    return (
        events.writeStream.outputMode("append")
        .foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def read_rollup_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Readout: rollup_merge_stream's state shaped exactly like
    q53_incremental_rollup's output (avg derived after merging)."""
    state = spark.read.parquet(state_dir)
    return state.select(
        "event_date",
        "event_type",
        "n_events",
        F.round("sv", 6).alias("sum_value"),
        F.round(F.col("sv") / F.col("n_events"), 6).alias("avg_value"),
    ).orderBy("event_date", "event_type")


def shard_manifest_stream(spark: SparkSession, in_dir: str,
                          state_dir: str, checkpoint_dir: str,
                          n_shards: int | None = None):
    """Streaming training-shard MANIFEST maintenance — incremental-view
    maintenance for the shard accounting (the r15 training-shard
    writer's live twin): as documents arrive, each micro-batch reduces
    to per-shard partials (doc count, token count, bit_xor of per-doc
    content hashes — dedup._shard_proj, the IDENTICAL row-local
    projection the batch manifest and the shard writer use) and merges
    into a manifest-sized state table.  Every aggregate is
    DECOMPOSABLE — counts and token sums merge by addition, the
    checksum by xor (associative, commutative, and order-insensitive,
    exactly why the manifest chose xor over a positional hash) — so
    maintenance is EXACT: the state after any prefix of the stream
    equals the batch manifest over that prefix, row-for-row
    (parity-tested, including across a mid-stream wave boundary).
    Content-hash shard assignment means arriving docs NEVER reshuffle
    existing manifest rows — each batch touches only the shards its
    docs land in.

    Raw-document grain ON PURPOSE: the streaming curation screen
    (curation_stats_stream / contamination_screen_stream) is its own
    operator, and production chains screen → manifest; fusing them
    here would hide the screen's cost and couple two independently
    replayable stages.

    State size = n_shards rows, independent of stream length;
    per-batch cost = batch + n_shards, never history.  The merge is
    additive, so replay safety is the `_LAST_EPOCH` fence published
    with the state (_fenced) — the rollup_merge_stream discipline."""
    from .extras.dedup import N_TRAINING_SHARDS, _shard_proj

    if n_shards is None:
        n_shards = N_TRAINING_SHARDS
    docs = read_document_stream(spark, in_dir)

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if not _epoch_is_new(state_dir, epoch_id):
            return  # replayed epoch: already merged, skip
        partial = (
            batch_df.select(*_shard_proj(n_shards))
            .groupBy("shard")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tokens").alias("n_tokens"),
                F.expr("bit_xor(doc_hash)").alias("content_hash"),
            )
        )
        partial = _with_state(partial, state_dir)
        merged = partial.groupBy("shard").agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.expr("bit_xor(content_hash)").alias("content_hash"),
        )
        publish_dir(state_dir, _fenced(merged, epoch_id))

    return (
        docs.writeStream.outputMode("append")
        .foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def data_card_stream(spark: SparkSession, in_dir: str, state_dir: str,
                     checkpoint_dir: str, groups: DataFrame):
    """Streaming CORPUS DATA CARD maintenance — incremental-view
    maintenance for the per-(source, lang) release-composition table
    (corpus_data_card's live twin, r16): as documents arrive, each
    micro-batch runs the IDENTICAL row-local learned-scorer projection
    the batch card uses (text.quality_score_of — kept flag, token
    count), LEFT-joins the batch against the STATIC near-dup
    cluster-membership frame (the stream-static join production runs
    against the materialized cluster_table artifact; the dup-only
    frame is small, so the join broadcasts), reduces to per-slice
    partials and merges into a |sources × langs|-row state table.

    Every state column is ADDITIVE (doc count, token sum, kept count,
    dup count), so maintenance is EXACT — the ratios the published
    card carries (kept_frac, dup_rate, token_share) are computed at
    READOUT over the state, exactly like ams_f2_stream keeps raw
    mergeable sums and leaves the median readout to the consumer:
    state stays mergeable across independent streams by addition, and
    the readout divides the same bigints the batch card's avg/window
    fold divides, so prefix state ≡ batch card over that prefix
    row-for-row (parity-tested, including across a wave boundary and
    a restart).

    The STATIC side is the honest semantic: near-dup membership is a
    corpus-build artifact (components exist only relative to a corpus
    version), so the live card answers "composition of what has
    arrived, dup-flagged against the last corpus build" — the same
    reading a production dashboard gives between nightly component
    rebuilds.  State size = slice count, independent of stream
    length; per-batch cost = batch + |slices|, never history."""
    from .extras.text import quality_score_of

    docs = read_document_stream(spark, in_dir)
    dup = F.broadcast(
        groups.select("doc_id", F.lit(True).alias("is_dup"))
    )

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if not _epoch_is_new(state_dir, epoch_id):
            return  # replayed epoch: already merged, skip
        scored = quality_score_of(batch_df, ("lang", "source"))
        partial = (
            scored.join(dup, "doc_id", "left")
            .select(
                "source",
                "lang",
                "token_cnt",
                F.col("kept").cast("bigint").alias("kept_l"),
                F.coalesce("is_dup", F.lit(False))
                .cast("bigint")
                .alias("dup_l"),
            )
            .groupBy("source", "lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("token_cnt").alias("n_tokens"),
                F.sum("kept_l").alias("n_kept"),
                F.sum("dup_l").alias("n_dup"),
            )
        )
        partial = _with_state(partial, state_dir)
        merged = partial.groupBy("source", "lang").agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("n_kept").alias("n_kept"),
            F.sum("n_dup").alias("n_dup"),
        )
        publish_dir(state_dir, _fenced(merged, epoch_id))

    return (
        docs.writeStream.outputMode("append")
        .foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def read_data_card_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Readout: fold the additive state into corpus_data_card's exact
    column set.  kept_frac/dup_rate divide the state's bigints —
    numerically identical to the batch card's avg-of-cast (a sum of
    0.0/1.0 doubles is integer-exact, so both spellings divide the
    same values) — and token_share is the same W1 global-window share
    fold over the ≤|slices|-row state."""
    state = spark.read.parquet(state_dir)
    total = F.sum("n_tokens").over(Window.partitionBy())
    return state.select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_tokens").cast("double") / total.cast("double"), 6
        ).alias("token_share"),
        F.round(
            F.col("n_kept").cast("double")
            / F.col("n_docs").cast("double"),
            6,
        ).alias("kept_frac"),
        "n_dup",
        F.round(
            F.col("n_dup").cast("double")
            / F.col("n_docs").cast("double"),
            6,
        ).alias("dup_rate"),
    ).orderBy("source", "lang")


def read_mixture_plan_state(spark: SparkSession, state_dir: str,
                            alpha: float | None = None) -> DataFrame:
    """LIVE training-mixture readout (r16): dedup.mixture_plan_of —
    the temperature-sampling algebra corpus_mixture_plan applies to
    the curation survivors — applied to the data-card maintainer's
    additive slice state instead: "if we cut a release from what has
    ARRIVED, what would the sampling table be".  Same population
    caveat as the live card itself (arrivals, not survivors — the
    funnel is a corpus-build decision, not a per-row one), stated
    rather than hidden.  Pure composition: the state is ≤|slices|
    rows, the algebra adds two SinglePartition folds over it; no
    corpus scan, no new state."""
    from .extras.dedup import MIXTURE_TEMPERATURE_ALPHA, mixture_plan_of

    if alpha is None:
        alpha = MIXTURE_TEMPERATURE_ALPHA
    agg = spark.read.parquet(state_dir).select(
        "source", "lang", "n_docs",
        F.col("n_tokens").alias("tokens_avail"),
    )
    return mixture_plan_of(agg, alpha)


def publish_lag_readout(spark: SparkSession, state_dir: str,
                        published_manifest: DataFrame) -> DataFrame:
    """Publish-lag readout (r16): the live shard-manifest state (what
    has ARRIVED — shard_manifest_stream's state_dir) diffed against
    the last PUBLISHED release's persisted manifest, through the same
    dedup.manifest_diff_of the batch release diff uses.  needs_rewrite
    marks the shards an incremental publish would rewrite right now,
    and docs_delta/tokens_delta quantify the backlog per shard — the
    "how stale is the published release" dashboard row, computed from
    two ≤n_shards-row frames with no corpus scan on either side.
    Composition only: both inputs are maintained artifacts, the diff
    is the already-tested 16-row join."""
    from .extras.dedup import manifest_diff_of

    state = spark.read.parquet(state_dir).select(
        "shard", "n_docs", "n_tokens", "content_hash"
    )
    return manifest_diff_of(published_manifest, state).select(
        "shard",
        F.col("n_docs_prev").alias("n_docs_published"),
        F.col("n_docs_cur").alias("n_docs_arrived"),
        "docs_delta",
        F.col("n_tokens_prev").alias("n_tokens_published"),
        F.col("n_tokens_cur").alias("n_tokens_arrived"),
        "tokens_delta",
        "needs_rewrite",
    )


def ams_f2_stream(events: DataFrame) -> DataFrame:
    """Streaming AMS F2 (tug-of-war) second-moment monitor — the
    incremental twin of extras.sketches.ams_f2, making that
    docstring's scale claim literally true (VERDICT r9 ask #5): in a
    stream, S_r updates per-arrival WITHOUT the key-frequency frame,
    because S_r = Σ_x f(x)·s_r(x) = Σ_arrivals s_r(key) — each
    arrival just adds its ±1 sign. That reduces the whole sketch to a
    plain streaming GLOBAL aggregation: Spark's aggregation state
    store holds exactly ONE row of AMS_R signed sums (+ a row count)
    — "16 longs in a stream" — independent of key cardinality AND
    stream length, with no watermark and no custom state operator.
    Per-micro-batch partial sums combine map-side (the sketch's
    mergeability IS Spark's partial aggregation); the single state
    row folds each batch's partials in. Parity: the final S_r vector
    — and therefore the median-of-squares F2 estimate — equals the
    batch operator's output bit-for-bit; the O(1) state-row claim is
    pinned from the query's own progress metrics (both in
    tests/test_streaming.py). The estimate readout stays OUTSIDE the
    stream on purpose: squaring/median over 16 columns is a stateless
    O(1) epilogue any consumer can apply to the emitted row, while
    keeping the streaming state the raw mergeable sums means two
    independent stream sketches remain combinable by addition."""
    from .extras.sketches import AMS_R, _SPARK_KEY, _ams_sign, _spark_base

    base = _spark_base(_SPARK_KEY)
    # NULL keys are filtered BEFORE signing (ADVICE r10 #4): md5(NULL)
    # yields NULL signs that every S_r sum already skips, so a NULL
    # arrival could never contribute to the sketch — but it would have
    # inflated n_rows, making the readout's row count disagree with the
    # count of rows actually sketched. The batch twin prices the same
    # set: a NULL group's S_r contribution is NULL-skipped there too.
    signed = events.filter(F.col("user_id").isNotNull()).selectExpr(
        *[
            f"CAST({_ams_sign(r, base)} AS BIGINT) AS s_{r}"
            for r in range(AMS_R)
        ]
    )
    return signed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.sum(f"s_{r}").alias(f"S_{r}") for r in range(AMS_R)],
    )


def _global_sketch_merge_stream(monitor: DataFrame, state_dir: str,
                                checkpoint_dir: str,
                                stamp: dict | None = None):
    """Shared restartable variant for the sketch monitors: `monitor`
    (a monitor's aggregation over its file-source stream) persisted
    through foreachBatch with a checkpoint, so a crash/restart resumes
    the sums from the aggregation state store instead of restarting
    the sketch. Complete-mode output is the WHOLE sketch every
    trigger, so the sink publishes it whole over the state dir by
    io.publish_dir (last-write-wins — no epoch fence needed, unlike
    the ADDITIVE rollup merge where a replayed batch would
    double-count); a failed or killed publish leaves the previous
    state readable. `state_dir` is local or a file:// URI
    (io.local_path).

    `stamp` is the geometry a caller supplies per start, as
    {column: value} (the histogram domain, the Bloom width): recovered
    cells are only meaningful under the geometry that built them, so
    the persisted table carries it as literal columns and a restart
    under another geometry raises before any state is touched
    (_check_state_stamp)."""
    if stamp:
        _check_state_stamp(monitor.sparkSession, state_dir, stamp)
        monitor = monitor.withColumns(
            {c: F.lit(v) for c, v in stamp.items()}
        )

    def persist(batch_df: DataFrame, epoch_id: int) -> None:
        publish_dir(state_dir, batch_df.coalesce(1).write.parquet)

    return (
        monitor.writeStream.outputMode("complete")
        .foreachBatch(persist)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def _check_state_stamp(spark: SparkSession, state_dir: str,
                       stamp: dict) -> None:
    """Fail unless the monitor state at `state_dir` is absent (first
    start), holds no cells yet, or was built under `stamp`. It
    recovers an interrupted publish first (io.recover_dir), so a
    killed swap reads as the state it left. The guard fails CLOSED: a
    dir that exists but holds no readable parquet
    (UNABLE_TO_INFER_SCHEMA) or a pre-stamp state parquet without the
    geometry columns raises instead of silently disabling the
    same-geometry enforcement."""
    from pyspark.errors import AnalysisException

    recover_dir(state_dir)
    try:
        df = spark.read.parquet(state_dir)
    except AnalysisException as e:
        cond = (getattr(e, "getCondition", None) or e.getErrorClass)()
        if cond == "PATH_NOT_FOUND":
            return  # first start: nothing to validate
        raise ValueError(
            f"monitor state at {state_dir} exists but is unreadable "
            f"({cond}); cannot validate the geometry the recovered "
            "checkpoint counts were built under"
        ) from e
    missing = [c for c in stamp if c not in df.columns]
    if missing:
        raise ValueError(
            f"monitor state at {state_dir} predates the "
            f"geometry-stamped format (no {'/'.join(missing)} "
            "columns); cannot validate its geometry — start a fresh "
            "state/checkpoint pair"
        )
    row = df.select(*stamp).first()
    if row is not None and tuple(row) != tuple(stamp.values()):
        raise ValueError(
            f"monitor restarted with geometry {stamp} but the state at "
            f"{state_dir} was built under {row.asDict()}; recovered "
            "cells are only meaningful under the geometry that built "
            "them — resume with the original geometry, or start a "
            "fresh state/checkpoint pair"
        )


def ams_merge_stream(spark: SparkSession, in_dir: str, state_dir: str,
                     checkpoint_dir: str):
    """Restartable AMS F2 monitor (_global_sketch_merge_stream over
    ams_f2_stream). Restart recovery lives in the aggregation state
    store inside the checkpoint: a memory-sink run (to_memory) never
    re-reads a checkpoint, so THIS variant is what the restart pin
    exercises (the 15th stateful family to carry one)."""
    return _global_sketch_merge_stream(
        ams_f2_stream(read_event_stream(spark, in_dir)), state_dir,
        checkpoint_dir,
    )


def countmin_cell_stream(events: DataFrame) -> DataFrame:
    """Live count-min sketch — the streaming twin of
    extras.sketches.countmin_sketch (17th stateful family): every
    arrival fans out to its CM_D cells and the (d, w) keyed streaming
    aggregation maintains the cell table continuously. Cell counts
    are ADDITIVE integers, so there is no watermark and no custom
    operator, and total state is bounded by the sketch GEOMETRY —
    ≤ CM_D·CM_W cells (+ CM_D NULL-key cells) regardless of key
    cardinality or stream length. The batch twin pre-aggregates keys
    first (its fact-sized shuffle carries key grain); the stream
    skips that frame entirely — cell(d, w) = Σ_keys→w count(key) =
    Σ_arrivals→w 1, so the final table is IDENTICAL row-for-row
    (integer counts: no float discipline needed). NULL keys are kept,
    matching the batch twin cell-for-cell: md5(NULL) makes every w_j
    NULL, so they land in the CM_D (d, NULL) cells both sides. The
    cell fan-out itself is sketches.cm_cell_rows — ONE definition of
    the geometry shared with the batch twin, so the parity is
    structural, not a hand-synced spelling."""
    from .extras.sketches import cm_cell_rows

    return (
        cm_cell_rows(events)
        .groupBy("d", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .selectExpr("CAST(d AS INT) AS d", "CAST(w AS INT) AS w", "cnt")
    )


def countmin_merge_stream(spark: SparkSession, in_dir: str,
                          state_dir: str, checkpoint_dir: str):
    """Restartable count-min cell monitor (_global_sketch_merge_stream
    over countmin_cell_stream): complete-mode output is the WHOLE cell
    table every trigger, so the published state is idempotent and
    restart recovery lives in the aggregation state store."""
    return _global_sketch_merge_stream(
        countmin_cell_stream(read_event_stream(spark, in_dir)),
        state_dir, checkpoint_dir,
    )


def _hist_domain(lo: float, hi: float) -> tuple[float, float]:
    """A fixed histogram domain as floats. A degenerate domain would
    not error but pile EVERY arrival into the top bin (a NULL bin
    division), and an inverted one scatters arrivals into the edge
    bins, so both are rejected at the entry point."""
    lo, hi = float(lo), float(hi)
    if not hi > lo:
        raise ValueError(
            f"histogram domain must satisfy hi > lo, got [{lo}, {hi})"
        )
    return lo, hi


def hist_cell_stream(events: DataFrame, lo: float, hi: float) -> DataFrame:
    """Live histogram-quantile monitor (18th stateful family, VERDICT
    r12 #5) — the streaming twin of extras.sketches.hist_quantiles'
    cell table: every arrival lands in its equi-width bin and the
    (event_type, bin) keyed streaming aggregation maintains the cell
    table continuously. Cell counts are ADDITIVE integers, so there is
    no watermark and no custom operator, and total state is bounded by
    the histogram GEOMETRY × the type domain — ≤ |types|·HIST_BINS
    rows regardless of value cardinality or stream length (the
    count-min pattern at value-distribution grain).

    The one semantic difference from the batch sketch, stated
    honestly: batch derives [lo, hi] from the data's global min/max —
    a stream cannot (bin edges must never move once counts are in
    them, or cells stop being additive across batches) — so the
    monitor takes a FIXED configured domain, production-monitor
    style, and out-of-domain arrivals clamp into the edge bins. Bin
    assignment is sketches.hist_bin_expr — ONE definition of the
    geometry shared with the batch cell build (hist_cells), so when
    the configured domain equals the batch min/max the cell tables
    match cell-for-cell (integer counts, no float discipline; pinned
    in tests/test_streaming.py). Value-NULL arrivals are filtered,
    matching the batch twin's WHERE value IS NOT NULL. The quantile
    readout stays OUTSIDE the stream (hist_quantiles_from_cells):
    state remains raw additive counts, so two independent monitors
    stay combinable by addition — and this monitor is the documented
    streaming approximate-percentile path for the exact-percentile
    batch queries (q90/q95) whose ObjectHashAggregate state is
    fact-derived."""
    from .extras.sketches import hist_bin_expr

    lo, hi = _hist_domain(lo, hi)
    return (
        events.filter(F.col("value").isNotNull())
        .selectExpr(
            "event_type",
            f"{hist_bin_expr(repr(lo), repr(hi))} AS bin",
        )
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hist_merge_stream(spark: SparkSession, in_dir: str, state_dir: str,
                      checkpoint_dir: str, lo: float, hi: float):
    """Restartable histogram-quantile monitor
    (_global_sketch_merge_stream over hist_cell_stream): complete-mode
    output is the WHOLE cell table every trigger, so the overwrite
    sink is idempotent and restart recovery lives in the aggregation
    state store. The domain (lo, hi) is the sketch's GEOMETRY, exactly
    like CM_D/CM_W for the count-min monitor — recovered cells are
    only meaningful under the edges that built them — but unlike
    those module constants it is caller-supplied per start, so the
    same-domain-across-restarts contract is ENFORCED, not just
    documented (r13 self-review): the emitted cell table carries the
    domain as two literal columns, and a restart whose domain differs
    from the persisted state's raises before any state is touched."""
    lo, hi = _hist_domain(lo, hi)
    return _global_sketch_merge_stream(
        hist_cell_stream(read_event_stream(spark, in_dir), lo, hi),
        state_dir, checkpoint_dir, {"lo": lo, "hi": hi},
    )


def hist_quantiles_from_cells(cells: DataFrame, lo: float,
                              hi: float, qs: tuple | None = None) -> DataFrame:
    """Stateless O(cells) readout epilogue for the histogram monitor:
    attach the monitor's configured domain to the emitted cell table
    and run sketches.hist_quantile_rows — the SAME cumulative-window
    + in-bin interpolation the batch sketch reads out with, so the
    estimate any dashboard computes from the live cells is
    definitionally the batch estimate (structural parity, like
    hhi_from_row for the HHI monitor). Kept outside the stream for
    the same reason as every sketch epilogue here: the streaming
    state stays raw mergeable counts."""
    from .extras.sketches import HIST_QS, hist_quantile_rows

    hist = cells.select(
        "event_type",
        "bin",
        "cnt",
        F.lit(float(lo)).alias("lo"),
        F.lit(float(hi)).alias("hi"),
    )
    return hist_quantile_rows(hist, qs if qs is not None else HIST_QS)


def hll_register_stream(events: DataFrame) -> DataFrame:
    """Live distinct-user (HLL) monitor (19th stateful family) — the
    streaming twin of extras.sketches.hll_registers: every arrival
    fans out to its (bucket, rank) cell and the bucket-keyed streaming
    aggregation maintains the M-register table continuously. Register
    merge is max() — idempotent AND additive-free — so there is no
    watermark and no custom operator, and total state is bounded by
    the sketch GEOMETRY: ≤ HLL_M registers (+1 NULL-hash register)
    regardless of key cardinality or stream length.

    The batch twin runs key-distinct FIRST (its fact-sized shuffle);
    the stream skips the distinct entirely — rank is a PURE function
    of the key, so max over raw arrivals equals max over distinct
    keys, and the register tables agree cell-for-cell (integer ranks:
    no float discipline). That reduction is the whole point: the
    classic "how many distinct users so far" stream question needs
    per-key state in exact form, but HLL's answer is M integers. The
    fan-out itself is sketches.hll_register_rows — ONE definition of
    the geometry shared with the batch twin (the cm_cell_rows /
    hist_bin_expr precedent). NULL user_ids are kept, matching the
    batch: md5(NULL) makes bucket and rank NULL, so both sides carry
    the same (NULL, NULL) register row. The cardinality readout stays
    OUTSIDE the stream (hll_estimate_from_cells): state remains the
    raw mergeable registers, so two independent monitors (or a batch
    sketch and a live one) stay combinable by max()."""
    from .extras.sketches import hll_register_rows

    return (
        hll_register_rows(events.select("user_id"))
        .groupBy("bucket")
        .agg(F.max("rank").alias("max_rank"))
    )


def hll_merge_stream(spark: SparkSession, in_dir: str, state_dir: str,
                     checkpoint_dir: str):
    """Restartable HLL register monitor (_global_sketch_merge_stream
    over hll_register_stream): complete-mode output is the WHOLE
    register table every trigger, so the published state is idempotent
    and restart recovery lives in the aggregation state store. One
    honesty note for the restart pin: max() is IDEMPOTENT, so a
    replayed batch could never inflate a register — what the pin
    proves here is state RECOVERY (registers whose max was seen only
    before the stop must survive the restart), asserted against the
    second wave's own registers, not just A∪B."""
    return _global_sketch_merge_stream(
        hll_register_stream(read_event_stream(spark, in_dir)),
        state_dir, checkpoint_dir,
    )


def hll_estimate_from_cells(cells: DataFrame) -> DataFrame:
    """Stateless O(M) readout epilogue for the HLL monitor: run
    sketches.hll_est_from_registers — the SAME spine/fold/correction
    the batch readout uses — over the emitted register table, rounded
    to the batch twin's 4dp policy. NULL-register rows (the NULL-hash
    key) are dropped first, exactly as the batch spine join drops
    them (a NULL bucket matches no spine row)."""
    from .extras.sketches import hll_est_from_registers

    regs = cells.filter(F.col("bucket").isNotNull())
    return hll_est_from_registers(regs).select(
        F.round("hll_est", 4).alias("hll_est")
    )


def bloom_cell_stream(events: DataFrame, mb: int) -> DataFrame:
    """Live counting-Bloom membership filter over the user-id stream
    (20th stateful family) — the streaming twin of the fixed-width
    batch cells (extras.sketches.bloom_counting_cells): every arrival
    fans out to its BLOOM_K bit positions under the FIXED width `mb`
    and the bit-keyed streaming aggregation maintains the cell table
    continuously.  Cell counts are ADDITIVE integers, so there is no
    watermark and no custom operator, and total state is bounded by
    the filter GEOMETRY — ≤ mb live-bit cells (+1 for the NULL-key
    cell) regardless of key cardinality or stream length.  That bound
    is the monitor's reason to exist next to the exact streaming
    dedup family: dropDuplicates-forever state grows O(distinct ids),
    the watermark variant trades coverage for its bound — the Bloom
    monitor's state NEVER exceeds its configured geometry, and the
    price is a calibrated false-positive rate on the membership
    readout (bloom_pass_from_cells), never a false negative.

    The batch twin pre-aggregates to key grain first (its fact-sized
    shuffle carries key grain); the stream skips that frame entirely —
    cell(bit) = Σ_keys→bit count(key) = Σ_arrivals→bit 1 — so the
    final table is IDENTICAL cell-for-cell (integer counts, no float
    discipline).  NULL user-ids are kept, matching the batch twin:
    md5(NULL) makes every position NULL, so both sides land one
    (bit NULL) cell.  The bit fan-out is sketches.bloom_bit_rows —
    ONE definition of the geometry (hash family, K, modulus) shared
    with the batch build and probe paths, so parity is structural.
    Like the histogram monitor's domain, the width is geometry that
    must never move once counts exist under its modulus — batch
    bloom_bits' dynamic BPK sizing is exactly what a stream cannot
    do, so `mb` is a configured contract, sized from the expected
    key budget (BLOOM_BPK × keys) and ENFORCED across restarts by
    bloom_merge_stream's stamp guard."""
    from .extras.sketches import bloom_bit_rows

    mb = _bloom_width(mb)
    keyed = events.select(F.col("user_id").alias("k")).withColumn(
        "mb", F.lit(mb)
    )
    return (
        bloom_bit_rows(keyed, "CAST(k AS STRING)")
        .groupBy("bit")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("bit", "cnt", F.lit(mb).alias("mb"))
    )


def _bloom_width(mb: int) -> int:
    """A fixed Bloom width as an int; below 1 there is no modulus, so
    it is rejected at the entry point."""
    mb = int(mb)
    if mb < 1:
        raise ValueError(f"bloom width must be >= 1, got {mb}")
    return mb


def bloom_merge_stream(spark: SparkSession, in_dir: str, state_dir: str,
                       checkpoint_dir: str, mb: int):
    """Restartable counting-Bloom monitor (_global_sketch_merge_stream
    over bloom_cell_stream): complete-mode output is the WHOLE cell
    table every trigger, so the published state is idempotent and
    restart recovery lives in the aggregation state store.  The width
    `mb` is the filter's GEOMETRY — recovered cells are only
    meaningful under the modulus that built them — and like the
    histogram monitor's domain it is caller-supplied per start, so
    the same-width-across-restarts contract is ENFORCED via the
    stamped `mb` column and the shared fail-closed stamp guard
    (_check_state_stamp): a restart whose width differs from the
    persisted state's raises before any state is touched."""
    mb = _bloom_width(mb)
    return _global_sketch_merge_stream(
        bloom_cell_stream(read_event_stream(spark, in_dir), mb),
        state_dir, checkpoint_dir, {"mb": mb},
    )


def cm_join_cell_stream(events: DataFrame) -> DataFrame:
    """Live join-cardinality cells (21st stateful family) — the
    streaming twin of extras.sketches.cm_join_card's cell stage: the
    two sides' count-min tables maintained side by side in ONE
    (d, w)-keyed streaming aggregation (sa = purchase arrivals in the
    cell, sb = click arrivals), so any trigger can price the
    purchase⋈click user-join's output size from a 1024-row inner
    product BEFORE anyone pays its shuffle.  Cell counts are ADDITIVE
    integers — no watermark, no custom operator — and total state is
    bounded by the sketch GEOMETRY: ≤ CM_D·CM_W rows regardless of
    key cardinality or stream length (NULL user_ids are filtered, as
    in the batch twin: join semantics never match NULL keys).

    One honesty note, the sketch_ams_hhi precedent: the batch twin
    also carries the exact diagonal Σca·cb on its cells to price the
    estimate's error — a PRODUCT of per-key counts, which is not
    additive across arrivals, so the stream cannot maintain it
    without key-grain state.  The monitor therefore serves the
    ESTIMATE only (exactly the production division of labor: the
    batch run calibrates the overcount, the live monitor answers the
    sizing question), and its cells are definitionally the batch
    cells — the fan-out is sketches.cm_cell_rows, the same single
    definition of the count-min geometry, so sa/sb parity with the
    batch operator is structural (pinned cell-free via the shared
    readout in tests/test_streaming.py)."""
    from .extras.sketches import CM_JOIN_A, CM_JOIN_B, cm_cell_rows

    filt = events.filter(F.col("user_id").isNotNull()).filter(
        F.col("event_type").isin(CM_JOIN_A, CM_JOIN_B)
    )
    return (
        cm_cell_rows(filt, carry="event_type")
        .groupBy("d", "w")
        .agg(
            F.sum(
                F.when(F.col("event_type") == CM_JOIN_A, 1).otherwise(0)
            ).alias("sa"),
            F.sum(
                F.when(F.col("event_type") == CM_JOIN_B, 1).otherwise(0)
            ).alias("sb"),
        )
        .selectExpr("CAST(d AS INT) AS d", "CAST(w AS INT) AS w",
                    "sa", "sb")
    )


def cm_join_merge_stream(spark: SparkSession, in_dir: str,
                         state_dir: str, checkpoint_dir: str):
    """Restartable join-cardinality monitor (_global_sketch_merge_stream
    over cm_join_cell_stream): complete-mode output is the WHOLE cell
    table every trigger, so the published state is idempotent and
    restart recovery lives in the aggregation state store.  The
    geometry is the module-constant CM_D/CM_W, exactly like the
    count-min monitor — no per-start stamp needed."""
    return _global_sketch_merge_stream(
        cm_join_cell_stream(read_event_stream(spark, in_dir)),
        state_dir, checkpoint_dir,
    )


def cm_join_est_from_cells(cells: DataFrame) -> DataFrame:
    """Stateless O(cells) readout epilogue for the join-cardinality
    monitor: per-d inner products and side totals over the emitted
    (d, w, sa, sb) cell table, min-folded to one row — the SAME
    estimator the batch operator computes on the same cell grain, so
    the estimate any dashboard reads from the live cells equals
    cm_join_card's est_join_rows/rows_a/rows_b columns to the row
    (structural parity, like hhi_from_row).  Kept outside the stream
    so the state stays raw additive counts."""
    per_d = cells.groupBy("d").agg(
        F.sum(F.col("sa") * F.col("sb")).alias("ip"),
        F.sum("sa").alias("na"),
        F.sum("sb").alias("nb"),
    )
    # coalesce to 0 (ADVICE r13): an EMPTY cell table (the state
    # parquet after a first trigger carrying only non-qualifying
    # events) means "the join would produce 0 rows" — a real answer,
    # not missing data — exactly the no-arrivals case the batch twin
    # cm_join_card coalesces (extras/sketches.py); the readout and
    # the batch operator must agree on it.
    return per_d.agg(
        F.coalesce(F.min("na"), F.lit(0)).cast("bigint").alias("rows_a"),
        F.coalesce(F.min("nb"), F.lit(0)).cast("bigint").alias("rows_b"),
        F.coalesce(F.min("ip"), F.lit(0))
        .cast("bigint")
        .alias("est_join_rows"),
    )


def bloom_pass_from_cells(cells: DataFrame, probe: DataFrame,
                          key_col: str) -> DataFrame:
    """Stateless membership readout over the live cell table: a probe
    key PASSES iff all BLOOM_K of its bit positions hold live cells
    (cnt > 0) — the Bloom guarantee is no false NEGATIVES for any key
    the monitor ever ingested (pinned in tests/test_streaming.py);
    false positives run at the calibrated rate the width buys.  The
    probe fan-out is the SAME sketches.bloom_bit_rows geometry under
    the width stamped on the cells (a 1-row broadcast, never a
    collect), so the readout is definitionally probing the filter the
    monitor built — the structural-parity argument of every sketch
    epilogue here (hhi_from_row, hist_quantiles_from_cells).  Kept
    outside the stream so the state stays raw additive counts."""
    from .extras.sketches import BLOOM_K, bloom_bit_rows

    width = cells.agg(F.max("mb").alias("mb"))
    keys = probe.select(F.col(key_col).alias("k")).distinct()
    stacked = bloom_bit_rows(
        keys.join(F.broadcast(width)), "CAST(k AS STRING)", keep=("k",)
    )
    live = cells.filter(F.col("cnt") > 0).select(
        F.col("bit").alias("lbit")
    ).distinct()
    # every match below is NULL-SAFE (review r13-2 #2): the monitor
    # deliberately keeps NULL keys as one (bit NULL) cell, and a NULL
    # probe key stacks K NULL positions — a plain equi-join would drop
    # both sides and report a FALSE NEGATIVE for an ingested NULL key,
    # breaking the one guarantee this readout pins.  eqNullSafe keeps
    # the broadcast hash joins and makes NULL behave as the ordinary
    # (single-cell) key the cell table already treats it as.
    hits = (
        stacked.join(
            F.broadcast(live), F.col("bit").eqNullSafe(F.col("lbit"))
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    hits = hits.select(F.col("k").alias("hk"), "n_hit")
    return keys.join(
        hits, F.col("k").eqNullSafe(F.col("hk")), "left"
    ).select(
        "k",
        (F.coalesce("n_hit", F.lit(0)) == BLOOM_K).alias("bloom_pass"),
    )


# orders arrive as their own stream for the market-concentration
# monitor; same NTZ-timestamp declaration rationale as _STREAM_SCHEMA
_ORDERS_STREAM_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp_ntz, "
    "o_orderpriority string"
)


def read_order_stream(spark: SparkSession, path: str,
                      glob: str | None = None) -> DataFrame:
    """Orders file-source stream for the market-concentration monitor.
    Over a testdata directory, pass glob="orders.parquet"."""
    return _read_files(spark, _ORDERS_STREAM_SCHEMA, path, glob)


def hhi_ams_stream(orders: DataFrame) -> DataFrame:
    """Live market-concentration (HHI) monitor — the streaming twin of
    extras.sketches.ams_hhi (VERDICT r11 next #7): HHI = Σspend²/F1²
    where both terms are per-ARRIVAL updatable global sums.  The
    numerator is the weighted AMS estimate — each order adds
    sign_r(custkey)·amount to S_r, so E[S_r²] = Σ_c spend(c)² with NO
    per-customer state — and the denominator is the plain amount sum.
    Like ams_f2_stream this reduces the whole monitor to ONE streaming
    global aggregation: the state store holds exactly one row of
    AMS_R+2 values regardless of customer cardinality or stream
    length, partial sums combine map-side, no watermark, no custom
    operator.

    Parity contract: amounts are cast DECIMAL(18,2) (o_totalprice is
    an exact 2dp value) so every signed sum is EXACT decimal
    arithmetic — the emitted S_r/F1 equal the batch twin's
    customer-grain sums bit-for-bit regardless of micro-batch
    boundaries or addition order (a double fold would make stream ≡
    batch parity hold only to ulps).  The HHI readout (median of
    squares / F1²) stays OUTSIDE the stream — a stateless O(1)
    epilogue (hhi_from_row) — keeping the state raw mergeable sums so
    two independent stream monitors remain combinable by addition.
    NULL custkeys are filtered before signing for the same n_rows
    honesty reason as ams_f2_stream."""
    from .extras.sketches import (
        AMS_R,
        _AMS_HHI_SPARK_KEY,
        _ams_sign,
        _spark_base,
    )

    base = _spark_base(_AMS_HHI_SPARK_KEY)
    signed = orders.filter(F.col("o_custkey").isNotNull()).selectExpr(
        "CAST(o_totalprice AS DECIMAL(18,2)) AS amount",
        *[
            f"CAST({_ams_sign(r, base)} AS INT) AS sg_{r}"
            for r in range(AMS_R)
        ],
    )
    return signed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("amount").alias("F1"),
        *[
            F.sum(F.col("amount") * F.col(f"sg_{r}")).alias(f"S_{r}")
            for r in range(AMS_R)
        ],
    )


def hhi_from_row(row) -> dict:
    """Stateless O(1) readout epilogue over one emitted monitor row:
    median-of-squares F2 estimate, HHI estimate, effective customers.
    Lives outside the stream on purpose (see hhi_ams_stream).

    Degenerate rows get ONE consistent encoding: before any sketched
    arrival the complete-mode global agg legitimately emits n_rows=0
    with NULL F1/S_r (count over zero rows is 0, sums are NULL), and
    an all-zero-amount stream gives F1=0 — both return None readouts
    rather than a TypeError / NaN / inf zoo."""
    from .extras.sketches import AMS_R

    if (
        not row["n_rows"]
        or row["F1"] is None
        or float(row["F1"]) == 0.0
    ):
        return {
            "n_rows": int(row["n_rows"] or 0),
            "est_f2": None,
            "hhi_est": None,
            "eff_customers_est": None,
        }
    sq = sorted(float(row[f"S_{r}"]) ** 2 for r in range(AMS_R))
    est_f2 = (sq[AMS_R // 2 - 1] + sq[AMS_R // 2]) / 2.0
    f1 = float(row["F1"])
    hhi = est_f2 / (f1 * f1)
    return {
        "n_rows": row["n_rows"],
        "est_f2": est_f2,
        "hhi_est": hhi,
        "eff_customers_est": (1.0 / hhi) if hhi > 0.0 else None,
    }


def hhi_merge_stream(spark: SparkSession, in_dir: str, state_dir: str,
                     checkpoint_dir: str):
    """Restartable HHI monitor (_global_sketch_merge_stream over
    hhi_ams_stream) — the 16th stateful family's restart pin drives
    this variant."""
    return _global_sketch_merge_stream(
        hhi_ams_stream(read_order_stream(spark, in_dir)),
        state_dir, checkpoint_dir,
    )


BLOOM_STREAM_M = 1 << 16  # provisioned width — a stream filter cannot
# resize without a rebuild, so unlike the batch bloom_bits (width
# adapts to the build cardinality) the streaming filter provisions for
# the EXPECTED key cardinality up front; the n_inserts column is the
# load monitor (distinct bits / M approaching 1 - e^(-K*n/M) says when
# to rebuild wider)


def bloom_bit_stream(events: DataFrame) -> DataFrame:
    """Streaming Bloom membership filter: the set-bit positions of
    every purchasing user, maintained live — the continuously-built
    twin of extras.sketches.bloom_bits, serving "has this key EVER
    been seen" prefilters (fraud allow-lists, first-touch detection,
    runtime join filters against an unbounded stream). The insert
    operation is set-bit (OR), IDEMPOTENT like the HLL max: a key
    arriving a thousand times across micro-batches sets exactly the
    bits one arrival sets, so no dedup state and no watermark — total
    state is <= BLOOM_STREAM_M bit rows regardless of stream length.
    Same plan fragment batch and stream (the parity oracle in
    tests/test_streaming.py applies THIS function to a batch read).

    Since the counting-Bloom monitor landed this is a thin
    composition over it — the purchase-filtered instance of
    bloom_cell_stream at the provisioned width, keeping its original
    (bit, n_inserts) output contract — so the bit geometry lives in
    exactly one place (sketches.bloom_bit_rows)."""
    return bloom_cell_stream(
        events.filter(F.col("event_type") == "purchase"),
        BLOOM_STREAM_M,
    ).select("bit", F.col("cnt").alias("n_inserts"))


def stream_to_parquet(spark: SparkSession, sf_dir: str, out_dir: str,
                      checkpoint_dir: str):
    """Production-shaped sink: foreachBatch publishes each epoch's
    complete result over `out_dir` by io.publish_dir — a replayed
    epoch republishes the same rows, and a failed or killed write
    leaves the previous epoch's output readable (exactly-once on top
    of the at-least-once micro-batch contract). `out_dir` is local or
    a file:// URI (io.local_path)."""
    agg = windowed_event_counts(
        read_event_stream(spark, sf_dir, "events.parquet")
    )

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        publish_dir(
            out_dir,
            batch_df.withColumn("epoch", F.lit(epoch_id)).write.parquet,
        )

    return (
        agg.writeStream.outputMode("complete")
        .foreachBatch(write_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def composed_pipeline_start(spark: SparkSession, in_dir: str,
                            root: str) -> list:
    """The end-to-end streaming story in ONE deployment: three
    production sinks consuming the SAME event source, checkpointed
    under one root so the whole set stops and restarts as a unit —
    the shape of a real ingest service (monitor + latest-state table
    + continuously-maintained rollup side by side):

      monitor — HLL cardinality registers (idempotent max-merge, no
                replay hazard by construction), memory sink
      cdc     — upsert_state_stream: compacted latest-row-per-user
                state under <root>/cdc_state
      rollup  — rollup_merge_stream: additive daily (date, type)
                rollup under <root>/rollup_state

    Every query gets its own checkpoint SUBDIR (Structured Streaming
    requires one per query) but they share the root: killing the set
    mid-stream and restarting replays each query from its own offsets,
    and the _LAST_EPOCH fences make the two merge sinks exactly-once
    through the crash window. Batch parity for all three after a
    mid-stream restart is tests/test_streaming.py::
    test_composed_pipeline_survives_midstream_restart."""
    raw = read_event_stream(spark, in_dir)
    monitor = (
        hll_register_stream(raw)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("composed_hll")
        .option(
            "checkpointLocation", os.path.join(root, "ckpt", "monitor")
        )
        .start()
    )
    cdc = upsert_state_stream(
        spark, in_dir, os.path.join(root, "cdc_state"),
        os.path.join(root, "ckpt", "cdc"),
    )
    rollup = rollup_merge_stream(
        spark, in_dir, os.path.join(root, "rollup_state"),
        os.path.join(root, "ckpt", "rollup"),
    )
    return [monitor, cdc, rollup]


def scrub_stream(docs: DataFrame) -> DataFrame:
    """Streaming PII scrub: the redaction step applied at INGEST time —
    a pure map-only (stateless) streaming transform, so it needs no
    watermark, no state store, and composes in front of any sink. The
    expressions are exactly extras.text.scrub_pii's (same rules, same
    order), so stream output ≡ batch output row-for-row on the same
    input — asserted in tests/test_streaming.py."""
    from .extras.text import PII_RULES, PII_TOKEN

    clean = F.col("text")
    for _, pat in PII_RULES:
        clean = F.regexp_replace(clean, pat, PII_TOKEN)
    return docs.select(
        "doc_id",
        clean.alias("clean_text"),
        *[
            F.regexp_count("text", F.lit(pat)).cast("int").alias(f"n_{name}")
            for name, pat in PII_RULES
        ],
    )


def minhash_index_stream(spark: SparkSession, in_dir: str, index_dir: str,
                         pairs_dir: str, checkpoint_dir: str):
    """Streaming MinHash/LSH INDEX MAINTENANCE — the ingest-time shape
    of dedup_incremental_pairs, run continuously: each micro-batch of
    new documents (1) computes signatures + band buckets + shingle
    sets for the batch ONLY, (2) joins the batch's buckets against the
    persisted index (plus itself, for within-batch dups), (3) verifies
    candidates with exact shingle Jaccard and emits the new near-dup
    pairs, (4) appends the batch's rows to the index. Per-batch cost
    is O(batch × bucket_density) — the base corpus is never re-paired
    against itself, which is the whole point of maintaining the index.

    Exactly-once without a fence: every write is an OVERWRITE of an
    epoch-keyed subdirectory (index/epoch=N, pairs/epoch=N), so a
    replayed epoch rewrites its own output byte-for-byte instead of
    appending twice — idempotence by path layout, the simplest of the
    replay-safety recipes in this module (cf. _fenced's epoch fence
    for merges that must rewrite shared state). The epoch dirs double
    as the append log: a real deployment writes them to an
    LSM/lakehouse table (Delta/Iceberg append), which is byte-layout
    identical to this pattern.

    Candidates and verification are dedup's own: the current corpus
    is index ∪ batch with the batch rows flagged as the candidate
    rule's `new` docs (dedup._lsh_candidate_pairs, whose MAX_BUCKET
    cap therefore sees the whole current corpus), scored by the one
    verifier (dedup._pair_scores). Every pair is emitted exactly once
    — when its LATER doc arrives (earlier member is then in the index
    or the same batch), so the union of all epochs' pairs equals the
    batch pipeline's output on the same corpus (asserted in tests
    against dedup_minhash_pairs, bucket-cap permitting)."""
    from .extras.dedup import (
        BANDS,
        _lsh_candidate_pairs,
        _pair_scores,
        distinct_shingles,
        shingle_sets_from,
        sig_array,
        signatures_from,
    )

    docs = read_document_stream(spark, in_dir)

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        ss = batch_df.sparkSession
        batch = batch_df.filter(F.col("text").isNotNull())
        delta_meta = (
            signatures_from(batch)
            .select(
                "doc_id",
                sig_array().alias("sig"),
                *[F.col(f"band_{b}") for b in range(BANDS)],
            )
            .join(distinct_shingles(shingle_sets_from(batch)), "doc_id")
            .localCheckpoint()  # one materialization; read 3x below
        )
        if not delta_meta.take(1):
            return
        current = delta_meta.withColumn("new", F.lit(True))
        if os.path.isdir(index_dir):
            current = (
                ss.read.parquet(index_dir)
                .drop("epoch")
                .withColumn("new", F.lit(False))
                .unionByName(current)
            )
        pairs = _pair_scores(
            _lsh_candidate_pairs(current, F.col("new")),
            current.select("doc_id", "sig", "sh"),
        )
        pairs.write.mode("overwrite").parquet(
            os.path.join(pairs_dir, f"epoch={epoch_id}")
        )
        delta_meta.write.mode("overwrite").parquet(
            os.path.join(index_dir, f"epoch={epoch_id}")
        )

    return (
        docs.writeStream.outputMode("append")
        .foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def quality_score_stream(docs: DataFrame) -> DataFrame:
    """Streaming LEARNED quality gate: the hashing-trick linear
    classifier (extras.text.quality_score) applied at ingest time.
    Like scrub_stream it is a pure stateless projection — the batch
    plan fragment runs unchanged per micro-batch, no watermark, no
    state — which is exactly why the hashing-trick classifier shape
    matters in production: a learned filter that is just codegen
    expressions deploys on the stream with zero new infrastructure
    (same rules, same frozen weights ⇒ stream ≡ batch row-for-row,
    asserted in tests)."""
    from .extras.text import _qs_weight_exprs

    w = _qs_weight_exprs("spark")
    return docs.selectExpr(
        "doc_id",
        f"{spark_tokens()} AS tokens",
    ).selectExpr(
        "doc_id",
        "size(tokens) AS token_cnt",
        f"aggregate(transform(tokens, t -> {w}),"
        " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) AS score_sum",
    ).selectExpr(
        "doc_id",
        "token_cnt",
        "score_sum",
        "score_sum / token_cnt AS score_mean",
        "(score_sum / token_cnt) > 0 AS kept",
    )


def tokenize_stream(docs: DataFrame, merges: list) -> DataFrame:
    """Streaming BPE tokenization: the trained merge table replayed as
    plan literals at ingest. Like the quality gate, the tokenizer is a
    pure stateless projection (no watermark, no state): the batch
    path's vocab-grain join trick needs the corpus vocabulary up
    front, so the stream pays the per-OCCURRENCE price instead — the
    honest trade for statelessness; a long-lived deployment would
    front it with a foreachBatch vocab cache. The merge chain is bound
    as its own HOF projection so it runs once per word, not once per
    downstream reference.

    Row-for-row ≡ extras.bpe.bpe_apply on the same corpus+merges
    (asserted in tests): docs with zero conforming words are dropped
    to match the batch inner join."""
    from .extras.bpe import merge_chain_expr

    chain = merge_chain_expr(merges, "t")
    return (
        docs.selectExpr(
            "doc_id",
            f"filter({spark_tokens()},"
            " w -> w rlike '^[a-z]+$') AS words",
        )
        .selectExpr(
            "doc_id",
            "CAST(size(words) AS BIGINT) AS n_words",
            f"transform(words, t -> {chain}) AS ss",
        )
        .selectExpr(
            "doc_id",
            "n_words",
            "aggregate(transform(ss,"
            " s -> CAST((length(s) - length(replace(s, '|', ''))) / 2"
            " AS BIGINT)), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            " AS n_tokens",
        )
        .filter("n_words > 0")
    )


def postings_index_stream(spark: SparkSession, in_dir: str,
                          index_dir: str, checkpoint_dir: str):
    """Streaming inverted-index maintenance, LSM-style: each
    micro-batch of new documents is indexed ALONE (term, df, cf,
    posting array over just the batch) and written as an immutable
    SEGMENT (index/epoch=N); readers merge segments on read and a
    compactor can fold old segments with exactly the
    extras.search.index_merge join. This is how real search engines
    ingest — segment files + merge-on-read + background compaction —
    and per-batch cost is O(batch), never the base corpus.

    Replay safety: same epoch-keyed overwrite recipe as
    minhash_index_stream — a replayed epoch rewrites its own segment
    byte-for-byte instead of double-counting."""
    from .extras.search import _index_of, _positions_from

    docs = read_document_stream(spark, in_dir)

    def write_segment(batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df.filter(F.col("text").isNotNull())
        seg = _index_of(_positions_from(batch))
        seg.write.mode("overwrite").parquet(
            os.path.join(index_dir, f"epoch={epoch_id}")
        )

    return (
        docs.writeStream.outputMode("append")
        .foreachBatch(write_segment)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def read_postings_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """Merge-on-read over the segment layout: df/cf add across
    segments, posting arrays flatten — doc sets are disjoint across
    epochs (each doc arrives once), so the merged view carries the
    text_index_postings contract exactly (same column names/types:
    term, df, cf, stringified sorted doc_list)."""
    segs = spark.read.parquet(index_dir)
    return segs.groupBy("term").agg(
        F.sum("df").alias("df"),
        F.sum("cf").alias("cf"),
        F.concat_ws(
            ",", F.sort_array(F.flatten(F.collect_list("docs")))
        ).alias("doc_list"),
    )


def _compact_recover(index_dir: str) -> None:
    """Finish or roll back an interrupted compaction. The direction is
    decided by whether the compact_tmp dir still exists:

    * tmp PRESENT — the folded segment was never installed (install =
      the os.replace of tmp onto the base epoch, which removes tmp
      atomically), so the crash hit the victim-move phase: ROLL BACK —
      restore every segment parked aside, drop tmp. The index is its
      exact pre-compaction self.
    * tmp ABSENT but aside present — the install COMPLETED and the
      crash hit the aside cleanup: ROLL FORWARD — the folded base
      already contains every victim's postings, so restoring asides
      would double-count and (worse) restoring the victim base epoch
      OVER the installed fold would lose the other victims' data
      outright. Just finish deleting the aside dir.
    """
    aside = index_dir.rstrip("/") + ".aside"
    tmp = index_dir.rstrip("/") + ".compact_tmp"
    if os.path.isdir(tmp):
        if os.path.isdir(aside):  # roll back: restore victims
            for d in os.listdir(aside):
                dst = os.path.join(index_dir, d)
                if os.path.exists(dst):
                    shutil.rmtree(dst)
                os.replace(os.path.join(aside, d), dst)
            os.rmdir(aside)
        shutil.rmtree(tmp)
    elif os.path.isdir(aside):  # roll forward: fold is installed
        shutil.rmtree(aside)


def compact_postings_segments(spark: SparkSession, index_dir: str,
                              keep_latest: int = 1) -> int:
    """The background COMPACTION half of the LSM story (the stream
    writes segments; this folds them): all completed epoch segments
    except the newest `keep_latest` are merged — term-grain sums, one
    flattened sorted posting array, exactly the index_merge
    combination — into a single base segment that replaces them, so
    merge-on-read cost stays O(#recent segments) instead of growing
    with stream lifetime. The newest epochs are left alone because
    foreachBatch is at-least-once: a replayed epoch must still find
    its own segment dir to overwrite (compacting it away would let the
    replay double-count into a folded base).

    Crash safety (single-writer maintenance, like any LSM compactor):
    victims are renamed ASIDE (outside index_dir, so partition
    discovery never sees debris), the folded segment renamed in, then
    the asides dropped; _compact_recover restores any interrupted
    state before each run. Returns the number of segments folded (0 =
    nothing to do)."""
    if keep_latest < 1:
        # folding the newest epoch away would break the documented
        # at-least-once invariant: a replayed last batch must find its
        # own segment dir to overwrite, not double-count into the base
        raise ValueError("keep_latest must be >= 1 (replay safety)")
    _compact_recover(index_dir)
    epochs = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(index_dir)
        if d.startswith("epoch=")
    )
    victims = epochs[: len(epochs) - keep_latest]
    if len(victims) <= 1:
        return 0
    segs = spark.read.parquet(
        *[os.path.join(index_dir, f"epoch={e}") for e in victims]
    )
    folded = segs.groupBy("term").agg(
        F.sum("df").alias("df"),
        F.sum("cf").alias("cf"),
        F.sort_array(F.flatten(F.collect_list("docs"))).alias("docs"),
    )
    tmp = index_dir.rstrip("/") + ".compact_tmp"
    aside = index_dir.rstrip("/") + ".aside"
    folded.write.mode("overwrite").parquet(tmp)
    os.makedirs(aside)
    for e in victims:
        os.replace(
            os.path.join(index_dir, f"epoch={e}"),
            os.path.join(aside, f"epoch={e}"),
        )
    os.replace(tmp, os.path.join(index_dir, f"epoch={victims[0]}"))
    shutil.rmtree(aside)
    return len(victims)


def hist_segments_stream(spark: SparkSession, in_dir: str,
                         seg_dir: str, checkpoint_dir: str,
                         lo: float, hi: float):
    """Streaming histogram-sketch maintenance — the LIVE demonstration
    of the sketch's defining property (extras.sketches.hist_quantiles:
    'bin counts add across partitions, days, and corpora'): each
    micro-batch folds its events into hist_cell_stream's (type, bin,
    cnt) cell frame over the FIXED [lo, hi] bin grid (the one bin
    geometry, sketches.hist_bin_expr; fixed bins are what make
    segments mergeable — the grid is the corpus-level contract, passed
    in, never re-derived per batch) and writes it as an epoch segment;
    readers sum cells across segments and get EXACTLY the batch
    histogram (asserted in tests). Same epoch-overwrite replay safety
    as the other index streams."""
    lo, hi = _hist_domain(lo, hi)
    ev = read_event_stream(spark, in_dir)

    def write_segment(batch_df: DataFrame, epoch_id: int) -> None:
        hist_cell_stream(batch_df, lo, hi).write.mode("overwrite").parquet(
            os.path.join(seg_dir, f"epoch={epoch_id}")
        )

    return (
        ev.writeStream.outputMode("append")
        .foreachBatch(write_segment)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def read_hist_segments(spark: SparkSession, seg_dir: str) -> DataFrame:
    """Merge-on-read: cell counts add across epoch segments."""
    return (
        spark.read.parquet(seg_dir)
        .groupBy("event_type", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )


def contamination_screen_stream(spark: SparkSession, in_dir: str,
                                eval_shingles: DataFrame, out_dir: str,
                                checkpoint_dir: str):
    """Ingest-time benchmark decontamination: incoming docs are
    screened against the STATIC eval-benchmark shingle set (a
    benchmark is an offline artifact — the natural stream-static
    broadcast) and per-doc overlap ratios + contamination flags are
    written per epoch. Per-doc state is confined to its arrival batch
    (a doc's shingles arrive together), so the screen is a per-batch
    batch-plan replay inside foreachBatch — no watermark, no standing
    state — with the epoch-overwrite replay safety of the other
    ingest streams. Row-for-row ≡ the batch extras.dedup.contamination
    on the same corpus (asserted in tests)."""
    from .extras.dedup import CONTAM_THRESHOLD, shingle_sets_from

    docs = read_document_stream(spark, in_dir)
    # dedup defensively: the batch twin distincts its eval set
    # internally, and a caller passing naturally-exploded benchmark
    # shingles (duplicates) would otherwise fan every matching train
    # shingle out per duplicate, inflating both counters
    ev = eval_shingles.distinct().withColumn("hit", F.lit(1))

    def screen(batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df.filter(F.col("text").isNotNull())
        sh = shingle_sets_from(batch).select(
            "doc_id",
            F.explode(F.array_distinct("shingles")).alias("s"),
        )
        counted = (
            sh.join(F.broadcast(ev), "s", "left")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_shingles"),
                F.sum(F.coalesce("hit", F.lit(0))).alias("n_overlap"),
            )
        )
        ratio = F.col("n_overlap").cast("double") / F.col("n_shingles")
        out = counted.select(
            "doc_id",
            F.col("n_shingles").cast("int").alias("n_shingles"),
            F.col("n_overlap").cast("int").alias("n_overlap"),
            ratio.alias("overlap_ratio"),
            (ratio >= CONTAM_THRESHOLD).alias("is_contaminated"),
        )
        out.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"epoch={epoch_id}")
        )

    return (
        docs.writeStream.outputMode("append")
        .foreachBatch(screen)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def ivf_assign_stream(spark: SparkSession, in_dir: str, index_dir: str,
                      checkpoint_dir: str, centroids: list):
    """Streaming maintenance of the VECTOR index (the piece the
    postings/MinHash streams didn't cover): newly arriving embeddings
    are assigned to their inverted list under the FROZEN trained
    coarse quantizer (queries_ext.ivf_index — in production the
    centroids are an offline artifact; serving ingest only ever
    assigns against them, retraining is a scheduled rebuild) and each
    micro-batch's (c_id, centroid_id) rows land as an immutable
    epoch segment of the same layout ann_disk_index persists. Readers
    union segments — vec sets are disjoint across epochs — so the
    merged view is byte-identical to the batch assignment and the
    IVF serving path can probe a LIVE index.

    Per-batch cost is O(batch × k·dim literals): centroids ride the
    plan, nothing joins the base corpus. Replay safety: epoch-keyed
    overwrite, same recipe as minhash/postings index streams."""
    from .queries_ext import nearest_centroid

    emb = _read_files(spark, "vec_id long, embedding array<float>, label int",
                      in_dir)
    centroid_id = nearest_centroid(centroids).alias("centroid_id")

    def write_segment(batch_df: DataFrame, epoch_id: int) -> None:
        assign = batch_df.select(
            F.col("vec_id").alias("c_id"),
            F.col("embedding").cast("array<double>").alias("ev"),
        ).select("c_id", centroid_id)
        assign.write.mode("overwrite").parquet(
            os.path.join(index_dir, f"epoch={epoch_id}")
        )

    return (
        emb.writeStream.outputMode("append")
        .foreachBatch(write_segment)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def read_ivf_assign(spark: SparkSession, index_dir: str) -> DataFrame:
    """Merge-on-read over the assignment segments: plain union (vec
    sets are disjoint across epochs), projected to the ann_disk_index
    assignment contract (c_id, centroid_id)."""
    return spark.read.parquet(index_dir).select("c_id", "centroid_id")


# ---------------------------------------------------------------------------
# Streaming corpus snapshot diff (CDC twin of dedup_snapshot_diff)
# ---------------------------------------------------------------------------

# The batch dedup_snapshot_diff (extras/dedup.py) compares two FULL
# corpus snapshots post hoc. The streaming twin answers the same
# question continuously: maintain the content-hash table of the live
# corpus from a document change stream and emit the added / removed /
# changed / unchanged accounting PER MICRO-BATCH, so "what changed
# since the last build" is a running ledger instead of a scheduled
# corpus x corpus job. Same scale shape as the batch op: state and
# deltas carry (doc_id, 16-byte hash, length) rows only — text never
# enters state, the join, or the sink.

_DOC_CDC_SCHEMA = "seq long, doc_id long, text string, op string"


def snapshot_diff_stream(spark: SparkSession, in_dir: str,
                         state_dir: str, deltas_dir: str,
                         checkpoint_dir: str):
    """Streaming snapshot-diff sink over a document CDC stream
    (op = 'upsert' | 'delete'; `seq` orders ops within a batch).

    Per micro-batch: reduce the batch to one op per doc (max-seq
    wins; seq ties break deterministically by op then content hash),
    hash upserted text (md5, same content key as the batch twin;
    NULL text hashes to NULL and compares null-safely, so a doc whose
    content flips to/from NULL classifies as changed), classify
    against the current state —

        upsert, key absent            -> added
        upsert, key present, new hash -> changed
        upsert, key present, same hash-> unchanged
        delete, key present           -> removed
        delete, key absent            -> dropped (no-op tombstone)

    — append the per-status doc/char accounting to an epoch-keyed
    delta ledger, then upsert the (doc_id, h, n_chars) state.

    Exactly-once on at-least-once foreachBatch: deltas are written by
    epoch-dir OVERWRITE **before** the fenced state is published
    (_fenced). A replay after a crash between the two
    recomputes from the UNCHANGED state, produces byte-identical
    deltas, overwrites the same epoch dir, and re-commits; a replay
    after the state committed hits the epoch fence and is a no-op
    (its deltas are already on disk). Per-batch cost is
    O(state + batch) hash-grain rows — one key-partitioned join,
    independent of stream history, the streaming analogue of the
    batch op's O(|A| + |B|) bound."""
    raw = _read_files(spark, _DOC_CDC_SCHEMA, in_dir)

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if not _epoch_is_new(state_dir, epoch_id):
            return  # replayed epoch: deltas + state already applied
        sess = batch_df.sparkSession
        # deterministic max-seq-wins: ties on seq break by op (upsert
        # over delete) then content hash, so a crash-replay of the
        # same batch picks the same winner — the replay-proof below
        # needs byte-identical deltas, so the reduction must be a
        # pure function of the batch's row SET, not its order
        w = Window.partitionBy("doc_id").orderBy(
            F.desc("seq"), F.desc("op"), F.desc(F.md5("text"))
        )
        ops = (
            batch_df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "doc_id", "op",
                F.when(F.col("op") == "upsert", F.md5("text"))
                .alias("h_new"),
                F.when(F.col("op") == "upsert", F.length("text"))
                .alias("len_new"),
            )
        )
        if os.path.exists(local_path(state_dir)):
            state = sess.read.parquet(state_dir).select(
                "doc_id", "h", "n_chars"
            )
        else:
            state = sess.createDataFrame(
                [], "doc_id long, h string, n_chars int"
            )
        # `present` marks key-in-state independently of the stored
        # hash: an upsert with NULL text yields h = md5(NULL) = NULL
        # in state, so h.isNull() cannot double as the absence test
        # and h != h_new would return NULL (not true) when content
        # changes to/from NULL — null-safe compare + explicit marker
        j = ops.join(
            state.withColumn("present", F.lit(True)),
            "doc_id", "left_outer",
        )
        status = (
            F.when(
                (F.col("op") == "delete") & F.col("present").isNotNull(),
                F.lit("removed"),
            )
            .when(F.col("op") == "delete", F.lit(None))  # no-op tomb
            .when(F.col("present").isNull(), F.lit("added"))
            .when(
                ~F.col("h").eqNullSafe(F.col("h_new")), F.lit("changed")
            )
            .otherwise(F.lit("unchanged"))
        )
        classified = j.select(
            status.alias("status"),
            # chars of the CURRENT version; the previous one for
            # removals — the batch twin's convention
            F.coalesce("len_new", "n_chars").alias("chars"),
            "doc_id", "op", "h_new", "len_new",
        ).filter(F.col("status").isNotNull())
        classified.persist()
        try:
            deltas = (
                classified.groupBy("status")
                .agg(
                    F.count(F.lit(1)).alias("n_docs"),
                    F.sum("chars").cast("bigint").alias("n_chars"),
                )
            )
            # ledger BEFORE state swap (see docstring replay proof)
            deltas.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(deltas_dir, f"epoch={epoch_id}")
            )
            upserts = classified.filter(
                F.col("op") == "upsert"
            ).select(
                "doc_id",
                F.col("h_new").alias("h"),
                F.col("len_new").alias("n_chars"),
            )
            touched = classified.select("doc_id")
            merged = state.join(
                touched, "doc_id", "left_anti"
            ).unionByName(upserts)
            publish_dir(state_dir, _fenced(merged, epoch_id))
        finally:
            classified.unpersist()

    return (
        raw.writeStream.outputMode("append")
        .foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def read_snapshot_deltas(spark: SparkSession,
                         deltas_dir: str) -> DataFrame:
    """The per-epoch change ledger (epoch, status, n_docs, n_chars);
    epoch comes free from partition discovery over the epoch=N dirs."""
    return spark.read.parquet(deltas_dir).select(
        F.col("epoch").cast("long").alias("epoch"),
        "status", "n_docs", "n_chars",
    )
