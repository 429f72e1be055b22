"""Correctness checks, run outside the timed window.

Batch queries: each result is compared with the query's DuckDB oracle SQL
(`SparkEntry.oracleSql`) over the same seeded inputs, as a multiset of rows
(row order is not compared: the seed permutes the inputs, so ties may come
out in another order). Columns are compared by name; a column that is
floating point on either side is compared as floats, exactly. Queries
without oracle SQL must return at least one row.

Event stream: the first drain's outputs are compared with a batch
computation over the same arrivals, late, held-back and duplicate events
included.
"""
import glob
import hashlib
import json
import os

import numpy as np
import pandas as pd
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import inputs

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _cell(v):
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return "<NULL>"
    if isinstance(v, (float, np.floating)):
        return repr(float(v))
    return str(v)


def canonical(got, exp):
    """Both frames as sorted lists of row strings, columns by name."""
    cols = sorted(got.columns)
    if cols != sorted(exp.columns):
        return None, None
    out = []
    for df in (got, exp):
        df = df.reindex(columns=cols).reset_index(drop=True)
        fields = []
        for c in cols:
            floaty = got[c].dtype.kind == "f" or exp[c].dtype.kind == "f"
            col = df[c]
            if floaty and col.dtype.kind in "iufb":
                col = col.astype("float64")
            fields.append([_cell(v) for v in col.tolist()])
        out.append(sorted("\x1f".join(r) for r in zip(*fields)) if fields else [])
    return out[0], out[1]


def compare(got, exp):
    """(ok, reason) for a result frame against the oracle frame."""
    g, e = canonical(got, exp)
    if g is None:
        return False, f"columns {sorted(got.columns)} vs {sorted(exp.columns)}"
    if len(g) != len(e):
        return False, f"rows {len(g)} vs {len(e)}"
    if g != e:
        bad = next(i for i, (a, b) in enumerate(zip(g, e)) if a != b)
        return False, f"row {bad}: {g[bad]!r} vs {e[bad]!r}"
    return True, ""


def read_result(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return pd.DataFrame()
    return pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)


def oracle_frames(inputs_dir, oracle_sql, cache_dir):
    """Run each oracle query once per input set. Results are kept under
    `cache_dir`, which belongs to one input signature, keyed by the SQL
    text."""
    import duckdb
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    frames = {}
    for name, sql in oracle_sql.items():
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        path = os.path.join(cache_dir, f"{name}-{key}.parquet")
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{inputs_dir}/{t}.parquet/*.parquet')")
            pq.write_table(con.execute(sql).arrow(), path + ".tmp")
            os.replace(path + ".tmp", path)
        frames[name] = pq.read_table(path).to_pandas()
    return frames


def check_batch(record, inputs_dir, results_dir, cache_dir):
    """{query: failure reason or None}."""
    oracle_sql = record.get("oracle_sql", {})
    expected = oracle_frames(inputs_dir, oracle_sql, cache_dir)
    out = {}
    for name, err in record["verify_errors"].items():
        if err:
            out[name] = f"verify run threw: {err}"
            continue
        got = read_result(os.path.join(results_dir, name))
        if name in expected:
            ok, why = compare(got, expected[name])
            out[name] = None if ok else f"oracle mismatch: {why}"
        else:
            out[name] = None if len(got) > 0 else "no rows"
    return out


# ---- event stream ---------------------------------------------------------

WINDOW_US = 10 * 60 * 1_000_000
GAP_MS = inputs.SESSION_GAP_US // 1000
TOPK = 3


def _us(series):
    """Timestamps as UTC epoch microseconds; naive values are read as UTC."""
    s = pd.to_datetime(series, utc=True).dt.tz_localize(None)
    return s.to_numpy().astype("datetime64[us]").astype("int64")


def _watermark_us(iso):
    return int(np.datetime64(iso.replace("Z", ""), "us").astype("int64"))


def _close(a, b):
    return len(a) == len(b) and np.allclose(a, b, rtol=1e-9, atol=1e-9)


def expected_sessions(admitted, wm_us):
    """Gap-merged sessions per user (inclusive gap), closed under `wm_us`."""
    rows = []
    for user, g in admitted.groupby("user_id"):
        g = g.assign(ms=_us(g["ts"]) // 1000).sort_values("ms", kind="mergesort")
        ms, vals = g["ms"].to_numpy(), g["value"].to_numpy()
        start = last = ms[0]
        n, total = 0, 0.0
        for t, v in zip(ms, vals):
            if n and t > last + GAP_MS:
                rows.append((user, n, start, last, total))
                start, n, total = t, 0, 0.0
            last = max(last, t)
            n += 1
            total += v
        rows.append((user, n, start, last, total))
    return sorted(r for r in rows if r[3] + GAP_MS < wm_us // 1000)


def check_stream(inputs_dir, out_dir):
    """{pipeline: failure reason or None} for the first drain."""
    arr = pq.read_table(os.path.join(inputs_dir, "stream", "arrivals.parquet")).to_pandas()
    with open(os.path.join(inputs_dir, "stream", "meta.json")) as f:
        meta = json.load(f)
    with open(os.path.join(out_dir, "progress.json")) as f:
        progress = json.load(f)
    late = arr["seq"].isin(set(meta["late_seqs"]))
    admitted = arr[~late]
    res = {}

    expect = admitted.drop_duplicates("event_id")
    sink = ds.dataset(progress["sink"], format="parquet", partitioning="hive").to_table().to_pandas()
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    g = sorted(map(tuple, sink.assign(ts=_us(sink["ts"]))[cols].itertuples(index=False)))
    e = sorted(map(tuple, expect.assign(ts=_us(expect["ts"]))[cols].itertuples(index=False)))
    res["dedup_sink"] = None if g == e else f"sink rows {len(g)} vs {len(e)} expected"
    dropped = progress["dedup"]["late_rows_dropped"]
    res["late_rows"] = None if dropped == meta["late"] else \
        f"dropped {dropped} late rows, generator made {meta['late']}"

    tum = pq.read_table(os.path.join(out_dir, "tumbling")).to_pandas()
    wm = _watermark_us(progress["tumbling"]["watermark"])
    a = admitted.assign(w=_us(admitted["ts"]) // WINDOW_US * WINDOW_US)
    agg = a.groupby(["w", "event_type"]).agg(n=("value", "size"), total=("value", "sum")).reset_index()
    agg = agg[agg["w"] + WINDOW_US <= wm].sort_values(["w", "event_type"])
    tum = tum.assign(w=_us(tum["window_start"])).sort_values(["w", "event_type"])
    same = (list(zip(tum["w"], tum["event_type"], tum["n"])) ==
            list(zip(agg["w"], agg["event_type"], agg["n"])) and
            _close(tum["total_value"].to_numpy(), agg["total"].to_numpy()))
    res["tumbling"] = None if same else f"windows {len(tum)} vs {len(agg)} expected"

    ses = pq.read_table(os.path.join(out_dir, "sessions")).to_pandas()
    want = expected_sessions(admitted, _watermark_us(progress["sessions"]["watermark"]))
    got = sorted(zip(ses["user_id"], ses["n_events"], _us(ses["session_start"]) // 1000,
                     _us(ses["session_end"]) // 1000, ses["total_value"]))
    same = ([r[:4] for r in got] == [r[:4] for r in want] and
            _close(np.array([r[4] for r in got]), np.array([r[4] for r in want])))
    res["sessions"] = None if same else f"sessions {len(got)} vs {len(want)} expected"

    top = pq.read_table(os.path.join(out_dir, "topk")).to_pandas()
    last = top[top["batch_id"] == top.groupby("user_id")["batch_id"].transform("max")]
    got = sorted(zip(last["user_id"], last["rank"], last["value"], last["event_id"]))
    best = arr.sort_values(["user_id", "value", "event_id"], ascending=[True, False, True])
    best = best.groupby("user_id").head(TOPK)
    best = best.assign(rank=best.groupby("user_id").cumcount() + 1)
    want = sorted(zip(best["user_id"], best["rank"], best["value"], best["event_id"]))
    res["topk"] = None if got == want else f"top-k rows {len(got)} vs {len(want)} expected"
    return res
