"""Seeded benchmark inputs.

The base tables in `data/` are the sf0.01 star schema, events, documents and
embeddings. A seed fixes, per table, a row permutation and the split of the
rows into part files; the part count is fixed so that scan parallelism does
not change between seeds. For the event stream the seed also fixes the
arrival order: which offset range is replayed, the batch boundaries, and
the shares of held-back (out-of-order), late and duplicate arrivals.

The shares are design choices of this benchmark, not measured traffic: no
rates for late, duplicate or out-of-order events come with the fixture.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE = os.path.join(HERE, "data")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
PARTS = 4

MIN_US = 60 * 1_000_000
# event-stream shape; the shares are drawn from these ranges per seed
STREAM_EVENTS = 2400
N_BATCHES = 5
LATE_SHARE = (0.005, 0.015)
DUP_SHARE = (0.01, 0.03)
HOLD_SHARE = (0.5, 1.0)              # of the events that may be held back
# the watermark delay the workload passes to every watermarked pipeline
# (StreamWorkload.scala); longer than EventStreams' 10-minute default so
# that events close enough to a batch's end to be held back exist at the
# fixture's density of one event per ~4 minutes
WATERMARK_DELAY_US = 120 * MIN_US
SESSION_GAP_US = 30 * MIN_US          # EventStreams' default session gap
HOLD_MARGIN_US = 5 * MIN_US           # held-back events stay this far inside
LATE_MARGIN_US = 60 * MIN_US          # late arrivals trail by > 1 h


def _rng(seed, *salt):
    return np.random.default_rng([seed, *salt])


def _write_parts(table, path, rng):
    """Write `table` as PARTS files under directory `path`, cut at seeded
    offsets within ±10 % of an even split: uneven parts would make a scan's
    tasks, and so its time, depend on the seed."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    k = min(PARTS, max(n, 1))
    even = np.arange(1, k) * n / k
    cuts = np.clip(np.round(even + rng.uniform(-0.1, 0.1, k - 1) * n / k), 1, n - 1)
    bounds = [0, *sorted(int(c) for c in cuts), n]
    for i in range(k):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"), version="2.6")


def arrivals(events, seed):
    """Arrival order of a seeded run of STREAM_EVENTS consecutive `events`
    (a pandas frame; consecutive by `event_id`, the log offset) as a stream
    of N_BATCHES micro-batches. Returns (arrivals frame with `seq` and
    `batch`, meta).

    Events arrive in offset order, which is event-time order, cut into
    batches at seeded offsets within ±10 % of an even split (the latency of
    a micro-batch grows with its size). Spark treats a micro-batch as a
    set, so only disorder across batches is seen by the engine:

    - held back: an event less than the watermark delay (minus a margin)
      behind the latest event of its batch arrives one batch later, after
      that later event has moved the watermark. It is still admitted, and
      the stateful operators must merge it into what they stored. A seeded
      share of these events is held back. Those whose user has a stored
      session within the session gap always are, so that the merge of an
      admitted straggler into stored session state runs wherever the
      seed's events allow it (`held_into_session` counts these merges);
    - late: a seeded share is held back to a later batch whose watermark
      has passed it by more than LATE_MARGIN_US, under either watermark
      Spark may apply (the one from the batch before, or the one before
      that), so each such event is dropped by every watermarked pipeline;
    - duplicate: a seeded share arrives twice, in the same batch."""
    rng = _rng(seed, 1_000)
    ev = events.sort_values("event_id", kind="mergesort")
    n = min(STREAM_EVENTS, len(ev))
    start = int(rng.integers(0, len(ev) - n + 1))
    ev = ev.iloc[start:start + n].sort_values(["ts", "event_id"], kind="mergesort").reset_index(drop=True)
    ts = ev["ts"].to_numpy().astype("datetime64[us]").astype("int64")
    user = ev["user_id"].to_numpy()
    late_share = float(rng.uniform(*LATE_SHARE))
    dup_share = float(rng.uniform(*DUP_SHARE))
    hold_share = float(rng.uniform(*HOLD_SHARE))
    even = np.arange(1, N_BATCHES) * n / N_BATCHES
    cuts = np.round(even + rng.uniform(-0.1, 0.1, N_BATCHES - 1) * n / N_BATCHES)
    batch = np.searchsorted(cuts, np.arange(n), side="right")
    top = np.array([ts[batch == b].max() for b in range(N_BATCHES)])
    is_top = ts == top[batch]
    # the latest event of each batch stays in place, so the watermark after
    # batch b is still top[b] - delay; ts is sorted, so top is increasing
    target = batch.copy()

    # held back: behind the batch's latest event, inside the watermark
    can_hold = (batch < N_BATCHES - 1) & ~is_top & \
        (ts > top[batch] - WATERMARK_DELAY_US + HOLD_MARGIN_US)
    anchored = np.zeros(n, dtype=bool)
    for i in np.flatnonzero(can_hold):
        near = (user == user[i]) & ~can_hold & (batch <= batch[i]) & \
            (np.abs(ts - ts[i]) <= SESSION_GAP_US)
        anchored[i] = near.any()
    held = can_hold & (anchored | (rng.random(n) < hold_share))
    target[held] += 1

    # late: never a batch's latest event, which sets the watermark
    cand = np.flatnonzero(~held & ~is_top)
    late_idx = rng.choice(cand, int(round(late_share * n)), replace=False)
    late = np.zeros(n, dtype=bool)
    for i in late_idx:
        # first batch k whose latest event is past ts + margin + delay;
        # arriving at k + 2 keeps even the older of the two watermarks past it
        past = np.flatnonzero(top > ts[i] + LATE_MARGIN_US + WATERMARK_DELAY_US)
        if len(past) == 0:
            continue
        t = int(past[0]) + 2 + int(rng.integers(0, 2))
        if t < N_BATCHES:
            target[i] = t
            late[i] = True

    rows = np.arange(n)
    dup_idx = rng.choice(rows[~late], int(round(dup_share * n)), replace=False)
    order = np.concatenate([rows, dup_idx])
    order = order[np.lexsort((order, target[order]))]

    out = ev.iloc[order].reset_index(drop=True)
    out.insert(0, "batch", target[order].astype("int32"))
    out.insert(0, "seq", np.arange(len(out), dtype="int64"))
    seqs = out["seq"].to_numpy()
    # a held-back event changes a stored session when an earlier-arriving,
    # admitted event of its user lies within the session gap
    into_session = sum(
        bool(((user == user[i]) & ~late & (target < target[i]) &
              (np.abs(ts - ts[i]) <= SESSION_GAP_US)).any())
        for i in np.flatnonzero(held))
    meta = {
        "events": int(n), "arrivals": int(len(out)), "batches": N_BATCHES,
        "watermark_delay_us": WATERMARK_DELAY_US,
        "late_share": late_share, "dup_share": dup_share, "hold_share": hold_share,
        "late": int(late.sum()), "duplicates": int(len(dup_idx)),
        "held_back": int(held.sum()), "held_into_session": int(into_session),
        "late_seqs": [int(s) for s in seqs[late[order]]],
        "held_seqs": [int(s) for s in seqs[held[order]]],
    }
    return out, meta


def source_key(seed):
    """SHA-256 over what the inputs are made from: the seed, this module's
    code and the base tables. Inputs stamped with another key are stale."""
    h = hashlib.sha256(f"seed={seed}\0".encode())
    for path in [os.path.abspath(__file__)] + \
            [os.path.join(BASE, f"{name}.parquet") for name in TABLES]:
        h.update(os.path.basename(path).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def make(seed, out_dir):
    """Write every seeded table (and the stream arrivals) under `out_dir`;
    return the input signature."""
    for i, name in enumerate(TABLES):
        table = pq.read_table(os.path.join(BASE, f"{name}.parquet"))
        rng = _rng(seed, i)
        table = table.take(pa.array(rng.permutation(table.num_rows)))
        _write_parts(table, os.path.join(out_dir, f"{name}.parquet"), rng)
    events = pq.read_table(os.path.join(BASE, "events.parquet")).to_pandas()
    arr, meta = arrivals(events, seed)
    stream = os.path.join(out_dir, "stream")
    os.makedirs(stream, exist_ok=True)
    table = pa.Table.from_pandas(arr, preserve_index=False)
    table = table.set_column(table.schema.get_field_index("ts"), "ts",
                             table.column("ts").cast(pa.timestamp("us")))
    pq.write_table(table, os.path.join(stream, "arrivals.parquet"), version="2.6")
    with open(os.path.join(stream, "meta.json"), "w") as f:
        json.dump(meta, f)
    sig = signature(out_dir)
    with open(os.path.join(out_dir, STAMP), "w") as f:
        json.dump({"source": source_key(seed), "signature": sig}, f)
    return sig


STAMP = "STAMP.json"


def signature(out_dir):
    """SHA-256 over every input file's relative path and bytes."""
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(out_dir)):
        for name in sorted(files):
            if name == STAMP:
                continue
            path = os.path.join(root, name)
            h.update(os.path.relpath(path, out_dir).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def ensure(seed, out_dir):
    """Inputs for `seed` under `out_dir` and their signature. They are made
    once and reused while they were made from the same seed, code and base
    tables (`source_key`) and their files still match the stamped signature."""
    try:
        with open(os.path.join(out_dir, STAMP)) as f:
            stamp = json.load(f)
        sig = signature(out_dir)
        if stamp == {"source": source_key(seed), "signature": sig}:
            return out_dir, sig
    except (OSError, ValueError):
        pass
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    return out_dir, make(seed, out_dir)
