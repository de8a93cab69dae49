"""Pure helpers of the benchmark: percentiles, the open-loop lag rule and
per-layer self time. No I/O; unit-tested in perfbench/tests."""
import math

# A percentile is only reported as supported when at least this many
# samples lie beyond it.
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p % of the
    samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def median(values):
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("median of no samples")
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


def beyond(n, p):
    """Samples strictly beyond the nearest-rank p-th percentile of n."""
    return n - max(1, math.ceil(p / 100.0 * n))


def supported(n, p):
    """True when the p-th percentile of n samples has MIN_BEYOND beyond it."""
    return beyond(n, p) >= MIN_BEYOND


def highest_supported(n, candidates=(99, 95, 90, 75, 50)):
    """Highest candidate percentile that n samples support, or None."""
    for p in candidates:
        if supported(n, p):
            return p
    return None


def due_us(ts_us, t0_us, ts0_us, interval_ms, advance_s):
    """Wall time an event is due in an open-loop replay: the replay maps
    `advance_s` of event time onto `interval_ms` of wall time from t0."""
    return t0_us + (ts_us - ts0_us) * (interval_ms * 1000.0) / (advance_s * 1e6)


def on_grid(start_us, interval_ms, tolerance_ms=50):
    """True when a trigger fired on its processing-time slot, i.e. it did not
    start late because its predecessor overran."""
    return start_us % (interval_ms * 1000) < tolerance_ms * 1000


def trigger_lags(triggers, ts_of_offset, interval_ms, advance_s, from_us=0):
    """Lag of each timed trigger: from its newest event's due time to the end
    of its sink call, plus how late the trigger started against that due
    time.

    `triggers` are dicts with `start_us`, `end_offset` (replay slices served
    so far) and `sink_end_us`, in trigger order from the query's first;
    `ts_of_offset(i)` is the event time of the i-th slice. Processing-time
    triggers fire on a grid of `interval_ms`. The timed triggers are those
    after the first that start at or after `from_us`. A query's first
    triggers also build the source's cursor and catch up, so the open-loop
    clock starts at the first timed trigger that fires on its slot: that
    trigger's window is due exactly when its slot opens. If none does, the
    query ran over capacity throughout; the clock then starts at the first
    timed trigger's slot and the lag grows from there. Returns (lag_ms,
    late_ms) from that trigger on."""
    timed = [i for i, t in enumerate(triggers) if i >= 1 and t["start_us"] >= from_us]
    if not timed:
        return []
    k = next((i for i in timed if on_grid(triggers[i]["start_us"], interval_ms)), timed[0])
    step = interval_ms * 1000.0
    t0 = (triggers[k]["start_us"] // step) * step - (k + 1) * step
    ts0 = ts_of_offset(0)
    out = []
    for t in triggers[k:]:
        if t.get("sink_end_us") is None:
            continue
        due = due_us(ts_of_offset(t["end_offset"] - 1), t0, ts0, interval_ms, advance_s)
        out.append(((t["sink_end_us"] - due) / 1000.0, (t["start_us"] - due) / 1000.0))
    return out


def self_times(spans):
    """Self time per span name: each span's duration minus the part of its
    interval covered by its children (children may overlap each other)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                     for c in children.get(s["id"], []))
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end_ms"] - s["start_ms"]) - covered
    return out
