"""Seeded input generators for the benchmark.

Two generators, both pure functions of a seed:

* ``fixture_tables`` writes the ten fixture tables the declared queries
  read (TPC-H-ish star schema, ``events``, ``documents``,
  ``embeddings``) as one parquet file each, with the schemas and value
  domains that FIXTURES.md describes.
* ``snmp_feed`` makes the ``ingest`` workload's SNMP-like poll feed: a
  fixed poll step with jitter, wrapping counters, and a share of late
  and duplicate samples, cut into an initial load and hourly batches.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(1970, 1, 1)
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
WRAP_CENTS = 1_000_000  # graft.Tables.WrapCap: counters wrap at 10000.00


def _days(rng, n, first, last):
    """n timestamps at midnight, uniform over [first, last] (dates)."""
    lo = (first - EPOCH.date()).days
    hi = (last - EPOCH.date()).days
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def fixture_tables(out_dir, seed, sf=0.1):
    """Write the fixture tables at scale factor ``sf`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs = 5000 if sf >= 0.1 else 500
    n_vecs = 2000 if sf >= 0.1 else 500

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    colors = np.array("blue old small new large hot cold red".split())
    nouns = np.array("widget gizmo ring gear bolt plate rod anvil".split())
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(colors[rng.integers(0, 8, n_part)], " "),
                              nouns[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", (rng.integers(1, 26, n_part)).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)]})
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4))})

    # events: sorted, distinct µs timestamps over 30 days of January 2024
    t0 = int((dt.datetime(2024, 1, 1) - EPOCH).total_seconds()) * 1_000_000
    ts = np.sort(rng.choice(30 * 86_400_000_000, n_ev, replace=False)) + t0
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    # documents: word soup over a 30-word vocabulary; 5% near-duplicates
    # (an earlier text plus " dup") and a few exact duplicates
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 20 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 20 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    v = rng.normal(0.0, 1.0, (n_vecs, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32)})
    return {"events": n_ev, "users": n_users, "docs": n_docs, "vectors": n_vecs}


# ---- ingest workload: SNMP-like poll feed ---------------------------------

FEED_START_S = int((dt.datetime(2024, 3, 1) - EPOCH).total_seconds())
FEED_TYPES = ["in_octets", "out_octets", "in_errors", "out_errors", "in_discards"]
INITIAL_H = 24


def snmp_feed(seed, devices=20, step_s=300, initial_h=INITIAL_H, batch_h=1,
              batches=48, late_frac=0.05, dup_frac=0.02):
    """The ingest workload's feed as a list of row batches.

    Series are (device, counter type) pairs polled every ``step_s``
    seconds with up to 10% jitter. Values are counters that wrap at
    10000.00, so the store's wrap-corrected rates see wraps. Batch 0 is
    the initial load (``initial_h`` hours). Each later batch carries the
    next ``batch_h`` hours, minus a ``late_frac`` share held back to the
    following batch, plus a ``dup_frac`` share of re-sent samples from
    the previous batch (same event id, timestamp and value). Each row is
    ``(event_id, ts_us, user_id, event_type, value)``.
    """
    rng = np.random.default_rng([seed, 2])
    n_series = devices * len(FEED_TYPES)
    dev = np.repeat(np.arange(devices), len(FEED_TYPES))
    typ = np.array(FEED_TYPES * devices)
    rate = rng.integers(100, 40_000, n_series) * step_s  # cents per poll
    start = rng.integers(0, WRAP_CENTS, n_series)
    hours = initial_h + batch_h * batches
    polls = hours * 3600 // step_s
    p = np.arange(polls)[:, None]
    jitter = rng.integers(-step_s // 10, step_s // 10 + 1, (polls, n_series))
    ts_s = np.maximum(FEED_START_S + p * step_s + jitter, FEED_START_S)
    ts_us = ts_s * 1_000_000 + rng.integers(0, 1_000_000, (polls, n_series))
    cents = (start + (p + 1) * rate) % WRAP_CENTS
    hour = np.minimum((ts_s - FEED_START_S) // 3600, hours - 1).ravel()
    order = np.argsort(ts_us.ravel(), kind="stable")
    rows = list(zip(range(polls * n_series),
                    ts_us.ravel()[order].tolist(),
                    np.broadcast_to(dev, (polls, n_series)).ravel()[order].tolist(),
                    np.broadcast_to(typ, (polls, n_series)).ravel()[order].tolist(),
                    (cents.ravel()[order] / 100.0).tolist()))
    hour = hour[order]
    bounds = np.searchsorted(hour, np.arange(hours + 1))
    by_hour = [rows[bounds[h]:bounds[h + 1]] for h in range(hours)]
    out = [[r for h in range(initial_h) for r in by_hour[h]]]
    held = []
    for b in range(batches):
        h0 = initial_h + b * batch_h
        fresh = [r for h in range(h0, h0 + batch_h) for r in by_hour[h]]
        late = rng.random(len(fresh)) < late_frac
        recent = out[-1][-len(fresh):]
        dups = [recent[i] for i in np.flatnonzero(rng.random(len(recent)) < dup_frac)]
        out.append(held + [r for r, l in zip(fresh, late) if not l] + dups)
        held = [r for r, l in zip(fresh, late) if l]
    return out


def write_feed_batch(path, rows):
    """One feed batch as an events-shaped parquet file."""
    eid, ts, dev, typ, val = zip(*rows) if rows else ((),) * 5
    pq.write_table(pa.table({
        "event_id": pa.array(eid, pa.int64()),
        "ts": pa.array(np.array(ts, dtype="datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(dev, pa.int64()),
        "event_type": pa.array(typ, pa.string()),
        "value": pa.array(val, pa.float64()),
        "props": pa.array(["{}"] * len(eid), pa.string())}), path)
