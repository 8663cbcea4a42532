"""Seeded op schedules, one per workload.

A schedule is a list of ops ``(phase, round, id, kind, args)``. The
client runs the ``warm`` ops untimed (the warm-up round, whose results
are checked), then the timed ``pre`` ops, the ``loop`` rounds and the
``post`` ops, all of them. The number of timed rounds follows from
``--seconds`` (:func:`timed_rounds`), so a seed and a duration fix the
whole schedule. Every round holds the same multiset of op shapes, so
runs with different seeds measure the same mix; the seed draws the
order and every parameter.
"""
import math

import numpy as np

import gen

# Interactive declared queries of the dashboard: one from each family
# (ts, window, agg, sql, join), each with a DuckDB oracle and a small
# result, and none that needs a store fixture outside the checkout. The
# set is fixed rather than drawn per seed: the families' queries differ
# fourfold in cost, and a drawn set would make seeds measure different
# work. One per family keeps a run near a minute, so that the runs that
# judge a change fit their time budget.
DASHBOARD_QUERIES = ["q_ts_cume_users", "q_window_rank", "q_agg_cube",
                     "q_sql_not_exists", "q_join_asof"]
# LLM-data families of the pipeline, each with a DuckDB oracle.
PIPELINE_QUERIES = [
    "q_dedup_containment", "q_dedup_exact", "q_text_tfidf",
    "q_sim_cosine_topk", "q_multimodal_join",
]
# Store reads of one dashboard round, stratified so that every round
# (and every seed) asks for the same mix of read shapes; the seed draws
# the series, the exact bounds and the order. Each entry is the shape
# parameter of one read: fetch (step, cf), fetchAuto (resolution, cf),
# fetchQuantile (step, q), fetchBulk (step, cf).
FETCH_SHAPES = {
    "fetch": [(0, "average")] + [(step, cf) for step in (21600, 86400)
                                 for cf in ("average", "min", "max", "sum")],
    "fetchAuto": [(res, "average") for res in (300, 3600, 21600, 43200, 86400, 172800)],
    "fetchQuantile": [(step, q) for step in (21600, 86400) for q in (0.5, 0.9, 0.99)],
    "fetchBulk": [(0, "average"), (21600, "average"), (21600, "max"), (86400, "max")],
}
# Nominal seconds of one timed round on a 4-core host: a run times
# max(1, seconds // ROUND_SECONDS) rounds.
ROUND_SECONDS = {"dashboard": 8, "pipeline": 12, "ingest": 4}
READBACKS = 2              # ingest: reads after each mutation

DATA_END_S = 1706659200    # 2024-01-31T00:00Z, the end of the events fixture
DATA_START_S = 1704067200  # 2024-01-01T00:00Z
EVENT_TYPES = list(gen.EVENT_TYPES)


def timed_rounds(workload, seconds):
    """Timed rounds of a run of ``seconds``: at least one."""
    return max(1, int(seconds // ROUND_SECONDS[workload]))


def _zipf_series(rng, n_users, size):
    """Series keys Zipf-skewed (s = 1.1) over every (user, type) pair,
    hot keys placed by a seeded permutation."""
    n = n_users * len(EVENT_TYPES)
    w = 1.0 / np.arange(1, n + 1) ** 1.1
    hot = rng.permutation(n)[rng.choice(n, size, p=w / w.sum())]
    return [(int(k // len(EVENT_TYPES)), EVENT_TYPES[k % len(EVENT_TYPES)]) for k in hot]


def _range(rng, i, n):
    """The range of read i of n: spans are stratified log-uniform over
    1 h - 30 d (read i draws from the i-th of n equal strata), bounds are
    unaligned, and four reads in five end at now."""
    lo, hi = math.log(3600), math.log(30 * 86400)
    span = int(math.exp(lo + (hi - lo) * (i + rng.random()) / n))
    if i % 5 != 4:
        end = DATA_END_S - int(rng.integers(0, 3600))
    else:
        end = int(rng.integers(DATA_START_S + span, DATA_END_S))
    return end - span, end


def _phase(r):
    """Round 0 is the untimed warm-up round; the rest are timed."""
    return "warm" if r == 0 else "loop"


def dashboard(seed, n_users, rounds):
    """The warm-up round, then ``rounds`` timed rounds. Each draws its
    own series and bounds, so the timed reads do not replay the warm-up's
    ranges and graft's range-keyed caches start cold for them."""
    rng = np.random.default_rng([seed, 3])
    n_reads = sum(len(v) for v in FETCH_SHAPES.values())
    ops = []
    for r in range(rounds + 1):
        keys = _zipf_series(rng, n_users, n_reads * 9)
        round_ops = [("query", [q]) for q in DASHBOARD_QUERIES]
        i = 0
        for kind, shapes in FETCH_SHAPES.items():
            for j, (a, b) in enumerate(shapes):
                (u, t), (lo, hi) = keys[i], _range(rng, j, len(shapes))
                if kind == "fetchBulk":
                    pool = keys[n_reads + 8 * i:n_reads + 8 * i + int(rng.integers(2, 9))]
                    series = ",".join(f"{u2}:{t2}" for u2, t2 in dict.fromkeys(pool))
                    round_ops.append((kind, [series, lo, hi, a, b]))
                else:
                    round_ops.append((kind, [u, t, lo, hi, a, b]))
                i += 1
        types = ("click,view", "click", "view")[r % 3]
        span = int(rng.integers(3, 15)) * 86400
        end = DATA_END_S - int(rng.integers(0, 3600))
        round_ops.append(("rollup", [types, end - span, end]))
        # the quantile rewrite needs day-aligned bounds
        span = int(rng.integers(3, 15)) * 86400
        end = DATA_END_S - int(rng.integers(0, 2)) * 86400
        round_ops.append(("rollupQuantile", [types, end - span, end]))
        for j in rng.permutation(len(round_ops)):
            kind, args = round_ops[j]
            ops.append((_phase(r), r, f"r{r}-{len(ops)}", kind, [str(a) for a in args]))
    return ops


def pipeline(seed, rounds):
    """The warm-up round, then ``rounds`` timed rounds of every query."""
    rng = np.random.default_rng([seed, 4])
    ops = []
    for r in range(rounds + 1):
        for j in rng.permutation(len(PIPELINE_QUERIES)):
            ops.append((_phase(r), r, f"r{r}-{len(ops)}", "query", [PIPELINE_QUERIES[j]]))
    return ops


def ingest(seed, feed, feed_files):
    """Ingest, then per round one upsert batch and a compaction of the day
    it touched, then one series delete and a final vacuum. Each mutation
    is followed by READBACKS raw reads of series it touched. ``feed``
    holds the initial load and one batch per round. There is no warm-up:
    mutations cannot be replayed, so the initial ingest runs cold."""
    rng = np.random.default_rng([seed, 5])
    hour = 3600
    start = gen.FEED_START_S
    first_batch_s = start + gen.INITIAL_H * hour

    def readbacks(phase, rnd, rows, lo, hi):
        """READBACKS raw reads of series in ``rows`` over [lo, hi)."""
        out = []
        for _ in range(READBACKS):
            _, _, u, t, _ = rows[int(rng.integers(0, len(rows)))]
            out.append((phase, rnd, None, "readback", [u, t, lo, hi, 0, "average"]))
        return out

    ops = [("pre", -1, None, "ingest", [feed_files[0]])]
    ops += readbacks("pre", -1, feed[0], start, first_batch_s + hour)
    for r, rows in enumerate(feed[1:]):
        b0 = first_batch_s + r * hour
        ops.append(("loop", r, None, "upsert", [feed_files[r + 1]]))
        ops += readbacks("loop", r, rows, b0 - 2 * hour, b0 + 2 * hour)
        day = b0 // 86400 * 86400
        ops.append(("loop", r, None, "compact", [np.datetime64(day, "s").astype("datetime64[D]")]))
        ops += readbacks("loop", r, rows, day, day + 86400)
    victim = feed[0][int(rng.integers(0, len(feed[0])))]
    end = start + 10 * 86400
    ops.append(("post", -1, None, "delete", [victim[2], victim[3]]))
    ops.append(("post", -1, None, "readback", [victim[2], victim[3], start, end, 0, "average"]))
    ops += readbacks("post", -1, feed[0], start, end)[1:]
    ops.append(("post", -1, None, "vacuum", []))
    ops += readbacks("post", -1, feed[0], start, end)
    return [(p, r, f"i{i}", k, [str(a) for a in args]) for i, (p, r, _, k, args) in enumerate(ops)]
