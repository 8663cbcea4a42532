"""Correctness checks: every checked op's dumped result against an
independent recompute.

* declared queries against their DuckDB oracle SQL over the same
  generated tables;
* seeded ``TsdbStore.fetch*`` calls and the store rollup against a
  recompute from the raw ``events`` rows in DuckDB;
* ``ingest`` read-backs against the generator's own rows.

A result matches when it has the same columns and, after sorting rows,
the same values (floats to a relative 1e-9).
"""
import math
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(data_dir, temp_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    con.execute(f"SET temp_directory='{temp_dir}'")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            # events is read by every store recompute: load it once
            kind = "TABLE" if t == "events" else "VIEW"
            con.execute(f"CREATE {kind} {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _cell(v):
    """A hashable, comparable form of one cell."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    if isinstance(v, (np.floating, float)):
        return float(v)
    if isinstance(v, (np.integer, int, bool, np.bool_)):
        return int(v)
    if isinstance(v, pd.Timestamp):
        return v.value // 1000
    if hasattr(v, "isoformat"):
        return str(pd.Timestamp(v).value // 1000)
    return str(v) if not isinstance(v, str) else v


def _close(a, b):
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return a == b or abs(a - b) <= 1e-9 * max(abs(a), abs(b), 1e-300)
    return a == b


def _norm(v):
    """Sort key of one cell: floats to 9 significant digits, so float
    noise between the engines does not reorder rows."""
    if v is None:
        return (0, "")
    if isinstance(v, float):
        return (1, f"{v:.9g}")
    if isinstance(v, tuple):
        return (2, tuple(_norm(x) for x in v))
    return (3, repr(v))


def compare(got, exp):
    """None when the two frames hold the same rows, else a reason."""
    gc, ec = sorted(got.columns), sorted(exp.columns)
    if gc != ec:
        return f"columns {gc} != {ec}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"

    def rows(df):
        cells = [tuple(_cell(v) for v in r) for r in df[gc].itertuples(index=False)]
        return sorted(cells, key=lambda r: tuple(_norm(v) for v in r))
    for g, e in zip(rows(got), rows(exp)):
        if not _close(g, e):
            return f"row {g} != {e}"
    return None


# ---- store recomputes from raw events ----------------------------------

VALUE_CF = {
    "average": "CAST(sum(cents) AS DOUBLE) / 100.0 / CAST(count(*) AS DOUBLE)",
    "min": "CAST(min(cents) AS DOUBLE) / 100.0",
    "max": "CAST(max(cents) AS DOUBLE) / 100.0",
    "sum": "CAST(sum(cents) AS DOUBLE) / 100.0",
}
STEPS = (21600, 86400)


def _raw(where):
    return ("SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, "
            "CAST(round(value * 100) AS BIGINT) AS cents FROM events "
            f"WHERE {where}")


def best_step(resolution):
    fits = [s for s in STEPS if s <= resolution and resolution % s == 0]
    return max(fits) if fits else 0


def store_expect(con, kind, args):
    """The recompute of one store read from raw events."""
    if kind in ("fetch", "fetchAuto"):
        user, typ, b, e, step, cf = int(args[0]), args[1], int(args[2]), int(args[3]), int(args[4]), args[5]
        if kind == "fetchAuto":
            step = best_step(step)
        sel = f"user_id = {user} AND event_type = '{typ}'"
        if step == 0:
            return con.execute(
                f"SELECT ts_us, CAST(cents AS DOUBLE) / 100.0 AS value FROM ({_raw(sel)}) "
                f"WHERE ts_us >= {b}000000 AND ts_us < {e}000000").df()
        return con.execute(
            f"SELECT (ts_us // {step * 1000000}) * {step} AS slot_ts, {VALUE_CF[cf]} AS value "
            f"FROM ({_raw(sel)}) GROUP BY 1 HAVING slot_ts >= {b} AND slot_ts < {e}").df()
    if kind == "fetchQuantile":
        user, typ, b, e, step, q = int(args[0]), args[1], int(args[2]), int(args[3]), int(args[4]), float(args[5])
        df = con.execute(
            f"SELECT (ts_us // {step * 1000000}) * {step} AS slot_ts, cents FROM "
            f"({_raw(f'user_id = {user} AND event_type = {chr(39)}{typ}{chr(39)}')}) "
            f"WHERE (ts_us // {step * 1000000}) * {step} >= {b} "
            f"AND (ts_us // {step * 1000000}) * {step} < {e}").df()
        out = [(int(s), sorted(g["cents"])[max(1, math.ceil(q * len(g))) - 1] / 100.0)
               for s, g in df.groupby("slot_ts")]
        return pd.DataFrame(out, columns=["slot_ts", "value"])
    if kind == "fetchBulk":
        series = [s.split(":") for s in args[0].split(",")]
        b, e, step, cf = int(args[1]), int(args[2]), int(args[3]), args[4]
        sel = " OR ".join(f"(user_id = {u} AND event_type = '{t}')" for u, t in series)
        if step == 0:
            return con.execute(
                f"SELECT user_id, event_type, ts_us, CAST(cents AS DOUBLE) / 100.0 AS value "
                f"FROM ({_raw(sel)}) WHERE ts_us >= {b}000000 AND ts_us < {e}000000").df()
        return con.execute(
            f"SELECT user_id, event_type, (ts_us // {step * 1000000}) * {step} AS slot_ts, "
            f"{VALUE_CF[cf]} AS value FROM ({_raw(sel)}) GROUP BY 1, 2, 3 "
            f"HAVING slot_ts >= {b} AND slot_ts < {e}").df()
    if kind == "rollup":
        types = ", ".join(f"'{t}'" for t in args[0].split(","))
        b, e = int(args[1]), int(args[2])
        return con.execute(
            f"SELECT user_id, event_type, (ts_us // 86400000000) * 86400 AS slot_ts, "
            f"CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents, "
            f"min(cents) AS min_cents, max(cents) AS max_cents, "
            f"CAST(sum(cents) AS DOUBLE) / 100.0 / CAST(count(*) AS DOUBLE) AS avg_value "
            f"FROM ({_raw(f'event_type IN ({types})')}) "
            f"WHERE ts_us >= {b}000000 AND ts_us < {e}000000 GROUP BY 1, 2, 3").df()
    if kind == "rollupQuantile":
        types = ", ".join(f"'{t}'" for t in args[0].split(","))
        b, e = int(args[1]), int(args[2])
        df = con.execute(
            f"SELECT user_id, event_type, (ts_us // 86400000000) * 86400 AS slot_ts, cents "
            f"FROM ({_raw(f'event_type IN ({types})')}) "
            f"WHERE ts_us >= {b}000000 AND ts_us < {e}000000").df()
        out = [(int(u), t, int(s), sorted(g["cents"])[max(1, math.ceil(0.95 * len(g))) - 1])
               for (u, t, s), g in df.groupby(["user_id", "event_type", "slot_ts"])]
        return pd.DataFrame(out, columns=["user_id", "event_type", "slot_ts", "p95_cents"])
    raise ValueError(kind)
