"""Seeded input generator for the benchmark.

Everything a workload feeds the program is made here from one seed:

- ``events``: the raw events table, split across parquet files, ``ts``
  stored as TIMESTAMP(MICROS) like the repository test data, with dirt
  injected at exact, disjoint row counts for every cleaning rule (so the
  pipeline's removal report has a known right answer) plus rows that
  survive cleaning but derive to nulls (unmapped type codes, props
  without ``k``);
- ``interactions``: the dashboard's sidebar sequence, made of sessions
  that each open on the sidebar's default state and then touch one
  widget at a time.

The same seed gives byte-identical files; ``input_hash`` fingerprints
them. The benchmark writes files through this module's command line, in
a child process, so the memory it takes is not counted as the
program's: ``python3 perfbench/gen.py --seed 7 --out DIR --files 8``
writes one ``N_EVENTS``-row events table and prints its hash.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_CODES = ["click", "view", "purchase", "signup", "error"]
UNMAPPED_CODES = ["refund", "share"]
LABELS = ["Click", "View", "Purchase", "Sign Up", "Error"]
JAN_2024 = np.datetime64("2024-01-01T00:00:00", "us")
JAN_DAYS = 30
US_PER_DAY = 86_400 * 1_000_000
N_EVENTS = 100_000
# The sidebar before any widget is touched: the whole month, every
# hour, every label.
DEFAULT_STATE = {"date_range": ["2024-01-01", "2024-01-31"],
                 "hour_range": [0, 23], "type_labels": LABELS}
WIDGETS = ["date_range", "hour_range", "type_labels"]

# Dirt injected into the events, one disjoint row set per
# kind. The first four are the cleaning rules, in the pipeline's
# attribution order; the last two survive cleaning.
ETL_DIRT = {
    "nulls": 1_500,
    "value_pos": 1_200,
    "value_cap": 900,
    "ts_valid": 600,
    "unmapped_type": 2_000,
    "no_k": 1_700,
}
CRITICAL = ["ts", "user_id", "event_type", "value"]


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per input kind, so adding one kind never
    shifts another's values."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def expected_report(n_rows: int, dirt: dict[str, int]) -> dict[str, int]:
    """The removal report the cleaning chain must give for events made
    with ``dirt``."""
    rules = ("nulls", "value_pos", "value_cap", "ts_valid")
    report = {"rows_in": n_rows}
    report.update({f"removed_{r}": dirt[r] for r in rules})
    report["rows_kept"] = n_rows - sum(dirt[r] for r in rules)
    return report


def make_events(seed: int, n_rows: int, dirt: dict[str, int]) -> pa.Table:
    """Raw events with ``dirt`` injected."""
    rng = _rng(seed, "events")
    offsets = np.sort(rng.integers(0, JAN_DAYS * US_PER_DAY, n_rows))
    ts = (JAN_2024 + offsets.astype("timedelta64[us]")).astype("datetime64[us]")
    user_id = rng.integers(0, 1_500, n_rows)
    codes = np.array(EVENT_CODES, dtype=object)[rng.integers(0, 5, n_rows)]
    value = np.clip(np.round(rng.exponential(50.0, n_rows), 2), 0.01, 499.99)
    ks = rng.integers(1, 101, n_rows)
    props = np.array([f'{{"k": {k}}}' for k in ks], dtype=object)

    picked = rng.permutation(n_rows)
    rows, start = {}, 0
    for kind, n in dirt.items():
        rows[kind] = picked[start:start + n]
        start += n
    null_masks = {c: np.zeros(n_rows, dtype=bool) for c in CRITICAL}
    for i, r in enumerate(rows["nulls"]):
        null_masks[CRITICAL[i % len(CRITICAL)]][r] = True
    r = rows["value_pos"]
    value[r] = -np.round(rng.uniform(0, 100, len(r)), 2)
    r = rows["value_cap"]
    value[r] = np.round(rng.uniform(500.01, 5_000, len(r)), 2)
    r = rows["ts_valid"]
    bad_days = np.where(rng.random(len(r)) < 0.5, -9_000, 40_000)
    ts[r] = JAN_2024 + (bad_days * US_PER_DAY).astype("timedelta64[us]")
    r = rows["unmapped_type"]
    codes[r] = np.array(UNMAPPED_CODES, dtype=object)[rng.integers(0, 2, len(r))]
    props[rows["no_k"]] = '{"q": 1}'

    table = pa.table(
        {
            "event_id": pa.array(np.arange(n_rows), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us"), mask=null_masks["ts"]),
            "user_id": pa.array(user_id, pa.int64(), mask=null_masks["user_id"]),
            "event_type": pa.array(codes, pa.string(),
                                   mask=null_masks["event_type"]),
            "value": pa.array(value, pa.float64(), mask=null_masks["value"]),
            "props": pa.array(props, pa.string()),
        }
    )
    return table


def write_events(table: pa.Table, out_dir: str, n_files: int) -> str:
    """Write ``events.parquet`` as a directory of ``n_files`` files."""
    path = os.path.join(out_dir, "events.parquet")
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))
    return path


def _touch(rng: np.random.Generator, widget: str) -> object:
    """A new value for one widget. The value distributions are the
    benchmark's assumption: no trace of real sidebar use exists."""
    if widget == "date_range":
        lo = int(rng.integers(1, 28))
        hi = min(lo + int(rng.integers(1, 15)), 31)
        return [f"2024-01-{lo:02d}", f"2024-01-{hi:02d}"]
    if widget == "hour_range":
        h_lo = int(rng.integers(0, 20))
        return [h_lo, int(rng.integers(h_lo + 1, 24))]
    mask = rng.random(len(LABELS)) < 0.6
    if not mask.any():
        mask[int(rng.integers(0, len(LABELS)))] = True
    return [l for l, m in zip(LABELS, mask) if m]


def make_interactions(seed: int, n: int, session: int) -> list[dict]:
    """Sidebar states, ``session`` renders per dashboard session. Each
    session opens on ``DEFAULT_STATE``, which every session renders
    first; each later render changes one seeded widget of the state
    before it, as Streamlit reruns the whole script on every widget
    touch. A touch always yields a state not rendered before, so the
    default state of every session but the first is the only exact
    repeat: a share of 1/session in any aligned window after the first.
    ``widget`` names what changed (``default`` for a session's opening
    render)."""
    rng = _rng(seed, "interactions")
    out: list[dict] = []
    seen: set[str] = set()
    for i in range(n):
        if i % session == 0:
            state = dict(DEFAULT_STATE, widget="default")
        else:
            while True:
                widget = WIDGETS[int(rng.integers(0, len(WIDGETS)))]
                state = dict(out[-1], widget=widget)
                state[widget] = _touch(rng, widget)
                if _key(state) not in seen:
                    break
        state["repeat"] = _key(state) in seen
        seen.add(_key(state))
        out.append(state)
    return out


def _key(state: dict) -> str:
    return json.dumps([state[w] for w in WIDGETS])


def input_hash(paths: list[str], extra: object = None) -> str:
    """sha256 over every file under ``paths`` (sorted) plus ``extra``."""
    h = hashlib.sha256()
    for root in sorted(paths):
        files = ([root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs))
        for f in sorted(files):
            h.update(os.path.relpath(f, os.path.dirname(root)).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    h.update(json.dumps(extra, sort_keys=True).encode())
    return h.hexdigest()


def main() -> None:
    ap = argparse.ArgumentParser(description="Write one seeded events table "
                                 "and print its hash.")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--files", type=int, default=1)
    args = ap.parse_args()
    table = make_events(args.seed, N_EVENTS, ETL_DIRT)
    print(input_hash([write_events(table, args.out, args.files)]))


if __name__ == "__main__":
    main()
