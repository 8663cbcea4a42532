"""The benchmark's arithmetic: percentiles, span self time, amplification."""
import statistics

TAIL_BEYOND = 10


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values):
    """The highest percentile with at least ten samples beyond it.

    Returns ``(value, percentile, n)``: the sample with exactly ten
    samples above it, the percentile it sits at, and the sample count.
    With ten samples or fewer no percentile has ten beyond it; the
    maximum is returned at percentile 100.
    """
    n = len(values)
    if n == 0:
        return 0.0, 0.0, 0
    s = sorted(values)
    if n <= TAIL_BEYOND:
        return s[-1], 100.0, n
    return s[n - 1 - TAIL_BEYOND], 100.0 * (n - TAIL_BEYOND) / n, n


def covered(intervals, lo, hi):
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans):
    """Self time of every span: its duration minus the part of it that
    its children cover. Children of a span are the spans of the same op
    naming it as parent; overlapping children count once.

    ``spans`` are dicts with ``name``, ``start_ms``, ``end_ms``,
    ``parent`` and ``op``. Returns ``[(span, self_ms), ...]``.
    """
    by_parent = {}
    for sp in spans:
        by_parent.setdefault((sp["op"], sp["parent"]), []).append(sp)
    out = []
    for sp in spans:
        kids = by_parent.get((sp["op"], sp["name"]), [])
        cov = covered([(k["start_ms"], k["end_ms"]) for k in kids], sp["start_ms"], sp["end_ms"])
        out.append((sp, max(0.0, sp["end_ms"] - sp["start_ms"] - cov)))
    return out


def layer_of(name):
    """The layer a span belongs to: its first name component; the op
    root and its write span are the root's own time."""
    return "root" if name in ("op", "op.write") else name.split(".")[0]


def layer_self_ms(spans):
    """Total self time per layer."""
    out = {}
    for sp, ms in self_times(spans):
        out[layer_of(sp["name"])] = out.get(layer_of(sp["name"]), 0.0) + ms
    return out


ROW_FIXED_BYTES = 8 * 4  # event_id, ts, user_id, value


def user_row_bytes(rows):
    """Logical size of user rows ``(event_id, ts_us, user_id, type, value)``:
    four 8-byte fields plus the UTF-8 series type."""
    return sum(ROW_FIXED_BYTES + len(r[3].encode()) for r in rows)


def write_amp(bytes_written, user_bytes):
    """Bytes written to the store per byte of user rows ingested."""
    return bytes_written / user_bytes if user_bytes else 0.0


def space_amp(store_bytes, live_user_bytes):
    """Store bytes per byte of live user rows."""
    return store_bytes / live_user_bytes if live_user_bytes else 0.0
