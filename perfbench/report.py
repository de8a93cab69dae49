"""Turns the JVM side's raw samples into the benchmark's metrics and runs
the output checks. One `report_<workload>` per workload; each returns a
Report with end-to-end metrics, per-layer metrics (traced runs), the
attempted/failed counts including failed checks, and input properties."""
import csv
import json
import math
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import checks
import gen
import stats

LAYERS = ["model", "query", "exec", "ops", "sources", "streaming", "functions"]

# Every per-layer metric, with its unit. Traced runs print all of them; a
# layer the workload does not exercise reads 0.
PER_LAYER = (
    [("model.spec_roundtrip_ms", "ms"), ("query.build_ms", "ms"),
     ("plans.analysis_ms", "ms"), ("plans.optimization_ms", "ms"), ("plans.planning_ms", "ms"),
     ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
     ("exec.task_ms", "ms"), ("exec.wall_ms", "ms"), ("exec.core_use", "ratio"),
     ("exec.shuffle_bytes", "bytes"), ("exec.input_rows", "count"),
     ("ops.bundle_ms", "ms"), ("ops.features_ms", "ms"), ("ops.geo_ms", "ms"),
     ("ops.cache_frames", "count")]
    + [(f"streaming.{n}", u) for n, u in [
        ("latest_offset_ms", "ms"), ("query_planning_ms", "ms"), ("add_batch_ms", "ms"),
        ("wal_commit_ms", "ms"), ("commit_offsets_ms", "ms"), ("trigger_ms", "ms"),
        ("sink_ms", "ms"), ("state_rows", "count"), ("state_bytes", "bytes"),
        ("rows_per_trigger", "count"), ("trigger_late_ms", "ms"),
        ("jobs_per_trigger", "count"), ("tasks_per_trigger", "count")]]
    + [(f"functions.{k}_ms", "ms") for k in ("dotD", "dotFold", "l2sqD", "l2sqFold")]
    + [(f"sources.{n}", u) for n, u in [
        ("read_csv_ms", "ms"), ("automap_ms", "ms"), ("to_long_ms", "ms"),
        ("append_series_ms", "ms"), ("files_written", "count"), ("store_files", "count"),
        ("read_query_ms", "ms"), ("read_jobs", "count"), ("read_tasks", "count")]]
    + [(f"self.{layer}_ms", "ms") for layer in LAYERS]
    + [("trace.spans_per_op", "count")])

END_TO_END = [("setup_s", "s"), ("mem.retained_heap_mb", "MB"), ("latency_p50_ms", "ms"),
              ("throughput_per_s", "1/s")]


@dataclass
class Report:
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    inputs: dict = field(default_factory=dict)
    notes: dict = field(default_factory=dict)

    def fail(self, n, why):
        self.failed += n
        self.problems.append(why)


def _med(xs):
    xs = [x for x in xs if x is not None]
    return stats.median(xs) if xs else 0.0


def _base(res):
    r = Report(attempted=int(res["attempted"]), failed=int(res["failed"]))
    r.problems += res.get("errors", [])
    r.e2e["setup_s"] = stats.median(res["setup_s"])
    r.e2e["mem.retained_heap_mb"] = res["retained_heap_mb"]
    return r


def _latency(r, values, what):
    """Median as the end-to-end metric; p90 goes to the summary only, since a
    run's sample count leaves fewer than ten samples beyond it."""
    n = len(values)
    r.e2e["latency_p50_ms"] = stats.percentile(values, 50)
    r.notes["latency"] = (f"{what}: n={n}, p50={stats.percentile(values, 50):.1f} ms,"
                          f" p90={stats.percentile(values, 90):.1f} ms with"
                          f" {stats.beyond(n, 90)} samples beyond it"
                          f" (highest supported percentile: {stats.highest_supported(n)})")


def _exec_layers(L, counter_list, walls_ms, cores):
    """exec.* as medians over the workload's unit operations."""
    def med(k):
        return _med([c.get(k, 0.0) for c in counter_list])
    L["exec.jobs"], L["exec.stages"], L["exec.tasks"] = med("jobs"), med("stages"), med("tasks")
    L["exec.task_ms"], L["exec.input_rows"] = med("task_ms"), med("input_rows")
    L["exec.shuffle_bytes"] = _med([c.get("shuffle_read_bytes", 0) + c.get("shuffle_write_bytes", 0)
                                    for c in counter_list])
    L["exec.wall_ms"] = _med(walls_ms)
    L["exec.core_use"] = _med([c.get("task_ms", 0) / (w * cores)
                               for c, w in zip(counter_list, walls_ms) if w > 0])
    L["plans.analysis_ms"] = med("analysis_ms")
    L["plans.optimization_ms"] = med("optimization_ms")
    L["plans.planning_ms"] = med("planning_ms")


def _span_layers(L, spans, n_ops):
    """Per-span medians, self time per layer per operation, span count."""
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s["end_ms"] - s["start_ms"])
    if "model.spec_roundtrip" in by:
        L["model.spec_roundtrip_ms"] = _med(by["model.spec_roundtrip"])
    if "query.build" in by:
        L["query.build_ms"] = _med(by["query.build"])
    selfs = stats.self_times(spans)
    for layer in LAYERS:
        tot = sum(v for k, v in selfs.items() if k.split(".")[0] == layer)
        L[f"self.{layer}_ms"] = tot / max(n_ops, 1)
    L["trace.spans_per_op"] = len(spans) / max(n_ops, 1)
    return by


# ----------------------------------------------------------------- dashboard

def report_dashboard(res, man, trace):
    r = _base(res)
    s = res["samples"]
    reqs = s["requests"]
    _latency(r, [q["ms"] for q in reqs], "request latency")
    # The end-to-end latency is each kind's median weighted by the kind's
    # share of the request pattern: a median over the whole mix would sit
    # on the edge between the slower bundles and the faster kinds.
    pattern = gen.REQUEST_PATTERN
    by_kind = {k: [q["ms"] for q in reqs if q["kind"] == k] for k in set(pattern)}
    r.e2e["latency_p50_ms"] = sum(pattern.count(k) / len(pattern) * stats.percentile(v, 50)
                                  for k, v in by_kind.items())
    r.notes["latency_by_kind"] = {k: f"n={len(v)}, p50={stats.percentile(v, 50):.1f} ms"
                                  for k, v in sorted(by_kind.items())}
    r.e2e["throughput_per_s"] = len(reqs) / s["elapsed_s"]
    seen, repeats, kinds = set(), 0, {}
    for q in reqs:
        repeats += q["key"] in seen
        seen.add(q["key"])
        kinds[q["kind"]] = kinds.get(q["kind"], 0) + 1
    r.notes["warm_ms"] = [round(x) for x in s["warm_ms"]]
    r.notes["requests (kind, key, ms)"] = [(q["kind"], q["key"], round(q["ms"])) for q in reqs]
    r.inputs = {"requests": len(reqs), "distinct": len(seen),
                "repeat_share": round(repeats / max(len(reqs), 1), 3),
                "type_mix": {k: round(v / len(reqs), 3) for k, v in sorted(kinds.items())}}
    # Checks: every distinct request against DuckDB; every repeat must
    # return the same frames as the first response of its key.
    by_key, reqdefs = {}, {}
    with open(man["requests"]) as f:
        for line in f:
            q = json.loads(line)
            if q["key"] in s["responses"] and q["key"] not in reqdefs:
                reqdefs[q["key"]] = q
    con = checks.connect(man["data"])
    bad_keys = set()
    for key, frames in s["responses"].items():
        want = checks.dashboard_oracle(con, reqdefs[key])
        for name, ref in want.items():
            diff = checks.frames_equal(checks.engine_frame(frames[name]), ref)
            if diff:
                bad_keys.add(key)
                r.problems.append(f"{key}/{name}: {diff}")
                break
    for q in reqs:
        first = by_key.setdefault(q["key"], q["digests"])
        if q["key"] in bad_keys:
            r.failed += 1
        elif q["digests"] != first:
            r.fail(1, f"request {q['id']}: repeat of {q['key']} returned different rows")
    if trace:
        L = r.layers
        spans = res["spans"]
        ops = [x for x in spans if x["name"].startswith("ops.")]
        _exec_layers(L, [o["counters"] for o in ops],
                     [o["end_ms"] - o["start_ms"] for o in ops], s["cores"])
        by = _span_layers(L, spans, len(ops))
        for k in ("bundle", "features", "geo"):
            L[f"ops.{k}_ms"] = _med(by.get(f"ops.{k}", []))
        L["ops.cache_frames"] = s["cache_frames_end"]
    return r


# ------------------------------------------------------------- stream replay

def _replay_table(man):
    t = pq.read_table(man["replay_path"], columns=["event_id", "ts", "user_id", "value"])
    ts = t.column("ts").cast("int64").to_numpy()
    return {"ts": ts, "event_id": t.column("event_id").to_numpy(),
            "user": t.column("user_id").to_numpy(), "value": t.column("value").to_numpy(),
            "distinct_ts": np.unique(ts)}


def _moments(v):
    if len(v) == 0:
        return [0, 0.0, math.inf, -math.inf, 0.0]
    return [len(v), float(np.sum(v)), float(np.min(v)), float(np.max(v)), float(np.sum(v * v))]


def _check_prefix(r, tab, trig, subject_users, label):
    """Sink moments and replayed rows after the last reported trigger equal
    the same aggregate over the replay table's prefix up to its offset. On a
    mismatch every trigger of the phase counts as failed."""
    last = [t for t in trig if t.get("moments")]
    if not last:
        r.fail(1, f"{label}: no completed trigger")
        return
    t = last[-1]
    cutoff = tab["distinct_ts"][t["end_offset"] - 1]
    pre = tab["ts"] <= cutoff
    problems = []
    replayed = sum(x["rows"] for x in trig if x["batch"] <= t["batch"])
    if replayed != int(pre.sum()):
        problems.append(f"replayed {replayed} rows, table prefix has {int(pre.sum())}")
    _, first = np.unique(tab["event_id"][pre], return_index=True)
    v, u = tab["value"][pre][first], tab["user"][pre][first]
    want = [_moments(v[u < subject_users]), _moments(v)]
    for side, got, exp in zip(("subject", "control"), t["moments"], want):
        ok = (got[0] == exp[0] and checks.close(got[1], exp[1]) and got[2] == exp[2]
              and got[3] == exp[3] and checks.close(got[4], exp[4]))
        if not ok:
            problems.append(f"{side} moments {got} != {exp}")
    if problems:
        r.fail(len(trig), f"{label}: " + "; ".join(problems))


def report_stream_replay(res, man, trace):
    r = _base(res)
    s = res["samples"]
    # Operations: every paced trigger and the full replay.
    paced = s.get("paced", [])
    r.attempted = len(paced) + 1
    tab = _replay_table(man)
    dts = tab["distinct_ts"]
    # The paced query's first triggers (one-time cursor build, catch-up) run
    # during the warm-up; lag and capacity are figures over the timed ones.
    start_us = s["measure_start_us"]
    lags = stats.trigger_lags(paced, lambda i: dts[i], s["interval_ms"], s["advance_sec"],
                              from_us=start_us)
    timed = [t for t in paced[1:] if t["start_us"] >= start_us]
    if not lags:
        r.fail(1, "paced: no timed trigger")
        lags, timed = [(0.0, 0.0)], [{"rows": 0, "duration_ms": {"triggerExecution": 1}}]
    _latency(r, [lag for lag, _ in lags], "trigger lag")
    # Capacity: events per second of trigger execution over the timed
    # triggers.
    r.e2e["throughput_per_s"] = (sum(t["rows"] for t in timed) * 1000.0
                                 / sum(t["duration_ms"]["triggerExecution"] for t in timed))
    rows_pt = [t["rows"] for t in timed]
    t0 = paced[0]["start_us"] if paced else 0
    r.notes["paced_triggers (start ms, trigger ms, rows, lag ms, late ms)"] = [
        (round((t["start_us"] - t0) / 1000), t["duration_ms"]["triggerExecution"], t["rows"],
         round(lag), round(late)) for t, (lag, late) in zip(paced[len(paced) - len(lags):], lags)]
    r.inputs = {"paced_triggers": len(paced), "timed_triggers": len(timed),
                "rows_per_trigger": _med(rows_pt),
                "offered_events_per_s": _med(rows_pt) * 1000.0 / s["interval_ms"],
                "interval_ms": s["interval_ms"], "advance_sec": s["advance_sec"]}
    _check_prefix(r, tab, paced, man["subject_users"], "paced")
    comp = s.get("complete")
    if comp:
        _, first = np.unique(tab["event_id"], return_index=True)
        v, u = tab["value"][first], tab["user"][first]
        sv = v[u < man["subject_users"]]
        k = dict(zip(comp["columns"], comp["kpis"]))
        want = {"subj_avg": float(np.mean(sv)), "subj_min": float(sv.min()),
                "subj_max": float(sv.max()), "subj_rows": len(sv), "ctrl_avg": float(np.mean(v)),
                "ctrl_std": float(np.std(v, ddof=1)), "ctrl_rows": len(v),
                "delta_avg": float(np.mean(sv) - np.mean(v))}
        problems = [f"{c}: {k[c]} != {w}" for c, w in want.items() if not checks.close(k[c], w)]
        if comp["rows"] != len(tab["ts"]):
            problems.append(f"read {comp['rows']} rows, table has {len(tab['ts'])}")
        if problems:
            r.fail(1, "full replay: " + "; ".join(problems))
    if trace:
        L = r.layers
        spans = res["spans"]
        trig = [x for x in spans if x["name"] == "streaming.trigger" and x["ref"].startswith("paced:")]
        _exec_layers(L, [t["counters"] for t in trig],
                     [t["end_ms"] - t["start_ms"] for t in trig], s["cores"])
        by = _span_layers(L, spans, len(trig))
        d = lambda k: _med([t["duration_ms"][k] for t in timed])
        L["streaming.latest_offset_ms"] = d("latestOffset")
        L["streaming.query_planning_ms"] = d("queryPlanning")
        L["streaming.add_batch_ms"] = d("addBatch")
        L["streaming.wal_commit_ms"] = d("walCommit")
        L["streaming.commit_offsets_ms"] = d("commitOffsets")
        L["streaming.trigger_ms"] = d("triggerExecution")
        L["streaming.sink_ms"] = _med([(t["sink_end_us"] - t["sink_start_us"]) / 1000.0
                                       for t in timed if t.get("sink_end_us")])
        L["streaming.state_rows"] = _med([t["state_rows"] for t in timed])
        L["streaming.state_bytes"] = _med([t["state_bytes"] for t in timed])
        L["streaming.rows_per_trigger"] = _med(rows_pt)
        L["streaming.trigger_late_ms"] = _med([late for _, late in lags])
        L["streaming.jobs_per_trigger"] = _med([t["counters"].get("jobs", 0) for t in trig])
        L["streaming.tasks_per_trigger"] = _med([t["counters"].get("tasks", 0) for t in trig])
    return r


# -------------------------------------------------------------------- ingest

def _long_rows(path, features):
    """Long rows (user, ts, feature, value) of one wide CSV chunk, as the
    import should produce them: non-empty, positive cells."""
    out = []
    with open(path) as f:
        rd = csv.reader(f)
        head = next(rd)
        cols = [(head.index(lbl), feat) for lbl, feat in features]
        for row in rd:
            for i, feat in cols:
                if row[i] and float(row[i]) > 0:
                    out.append((row[0], row[1], feat, float(row[i])))
    return out


def report_ingest(res, man, trace):
    r = _base(res)
    s = res["samples"]
    chunks = s["chunks"]
    _latency(r, [c["read_ms"] for c in chunks], "read-after-write query latency")
    # Read latency grows with the store, so the end-to-end figure is the
    # mean over a round's chunk positions of each position's median: a
    # plain median would jump between the smaller and the larger stores.
    by_pos = {}
    for c in chunks:
        by_pos.setdefault(c["chunk"] % man["chunks_per_round"], []).append(c["read_ms"])
    r.e2e["latency_p50_ms"] = sum(stats.median(v) for v in by_pos.values()) / len(by_pos)
    r.notes["latency_by_position"] = {k: f"n={len(v)}, median={stats.median(v):.1f} ms"
                                      for k, v in sorted(by_pos.items())}
    per_chunk = [_long_rows(man["chunks"][c["chunk"]], man["features"]) for c in chunks]
    r.notes["chunks (round, append s, read ms)"] = [
        (c["round"], round(c["append_s"], 3), round(c["read_ms"])) for c in chunks]
    # Import rate: the median over chunks of each chunk's long rows per
    # second of append time, so one stalled write does not set the figure.
    r.e2e["throughput_per_s"] = stats.median([len(x) / c["append_s"]
                                              for x, c in zip(per_chunk, chunks)])
    rounds = sorted({c["round"] for c in chunks})
    r.inputs = {"chunks": len(chunks), "rounds": len(rounds),
                "chunks_per_round": man["chunks_per_round"],
                "wide_rows_per_chunk": man["sizes"]["rows_per_chunk"],
                "long_rows_per_chunk": _med([len(x) for x in per_chunk])}
    want_map = {feat: lbl for lbl, feat in man["features"]}
    con = checks.connect(man["data"])
    c = man["read_cohort"]
    segs = ", ".join(f"'{x}'" for x in c["segments"])
    acc = {k: [] for k in rounds}  # long rows imported so far, per round table
    for ch, rows in zip(chunks, per_chunk):
        if ch["mapping"] != want_map:
            r.fail(1, f"chunk {ch['chunk']}: mapping {ch['mapping']}")
            continue
        acc[ch["round"]] += rows
        con.register("imported", pd.DataFrame(acc[ch["round"]],
                                              columns=["user_id", "ts", "metric", "value"]))
        want = con.sql(f"""
          WITH win AS (SELECT CAST(user_id AS BIGINT) user_id, value FROM imported
            WHERE metric = '{man['read_metric']}'
              AND CAST(CAST(ts AS TIMESTAMP) AS DATE) BETWEEN DATE '{c['start']}' AND DATE '{c['end']}'),
          subj AS (SELECT c_custkey FROM customer
            WHERE (c_acctbal BETWEEN {c['acctbal'][0]!r} AND {c['acctbal'][1]!r} OR c_acctbal IS NULL)
              AND (c_mktsegment IN ({segs}) OR c_mktsegment IS NULL)),
          sw AS (SELECT * FROM win WHERE user_id IN (SELECT c_custkey FROM subj)),
          cw AS (SELECT * FROM win WHERE user_id IN (SELECT c_custkey FROM customer))
          SELECT s.a subj_avg, s.mn subj_min, s.mx subj_max, s.n subj_rows,
            k.a ctrl_avg, k.sd ctrl_std, k.n ctrl_rows, s.a - k.a delta_avg
          FROM (SELECT avg(value) a, min(value) mn, max(value) mx, count(*) n FROM sw) s,
               (SELECT avg(value) a, stddev_samp(value) sd, count(*) n FROM cw) k""").df()
        mine = checks.engine_frame({"columns": s["kpi_columns"], "rows": [ch["kpis"]]})
        diff = checks.frames_equal(mine, want)
        if diff:
            r.fail(1, f"chunk {ch['chunk']} read-after-write: {diff}")
    for k in rounds:
        stored = s["store_rows"].get(str(k))
        if stored != len(acc[k]):
            r.fail(1, f"round {k} store holds {stored} rows, imported {len(acc[k])}")
    kern = s["kernels"]
    for a, b in (("dotD", "dotFold"), ("l2sqD", "l2sqFold")):
        r.attempted += 1
        if a not in kern or kern[a]["value_bits"] != kern[b]["value_bits"]:
            r.fail(1, f"kernel {a} differs from {b}")
    if trace:
        L = r.layers
        spans = res["spans"]
        ops = [x for x in spans if x["name"] == "ops.append" and x["ref"].startswith("chunk:")]
        walls = [c["append_s"] * 1000 + c["read_ms"] for c in chunks]
        both = [{k: c["append_counters"].get(k, 0) + c["read_counters"].get(k, 0)
                 for k in set(c["append_counters"]) | set(c["read_counters"])} for c in chunks]
        _exec_layers(L, both, walls, s["cores"])
        by = _span_layers(L, spans, len(ops))
        for k in ("read_csv", "automap", "to_long", "append_series", "read_query"):
            L[f"sources.{k}_ms"] = _med(by.get(f"sources.{k}", []))
        # Store files after each round's last chunk, and files each append
        # wrote (the first chunk of a round starts from an empty table).
        ends, written = [], []
        for k in rounds:
            files = [c["store_files"] for c in chunks if c["round"] == k]
            ends.append(files[-1])
            written += [b - a for a, b in zip([0] + files, files)]
        L["sources.store_files"] = _med(ends)
        L["sources.files_written"] = _med(written)
        L["sources.read_jobs"] = _med([c["read_counters"].get("jobs", 0) for c in chunks])
        L["sources.read_tasks"] = _med([c["read_counters"].get("tasks", 0) for c in chunks])
        r.inputs["store_files_end"] = L["sources.store_files"]
        for name in ("dotD", "dotFold", "l2sqD", "l2sqFold"):
            L[f"functions.{name}_ms"] = kern.get(name, {}).get("ms", 0.0)
    return r


REPORTS = {"dashboard": report_dashboard, "stream_replay": report_stream_replay,
           "ingest": report_ingest}
