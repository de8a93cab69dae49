"""Seeded input generators for the graft benchmark.

Everything the engine reads in a run is made here from `--seed`: the
parquet tables (same schemas as the engine's canonical tables), the
dashboard request stream, the streaming replay table, the wide CSV
import chunks and the embeddings of the kernel step. The same seed always gives byte-identical inputs.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EPOCH_2024_US = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6)
DAY_US = 86_400 * 1_000_000

# Wide-CSV labels of the import hub, as a wearable export would name them,
# and the canonical feature each should map to.
CSV_FEATURES = [
    ("Heart Rate (bpm)", "heart_rate"),
    ("Step Count", "steps"),
    ("Calories Burned (kcal)", "calories"),
    ("Sleep Minutes", "sleep_minutes"),
]
CSV_USER, CSV_TS = "Participant", "Recorded At"


def rng_for(seed, stream):
    """Independent, reproducible stream per (seed, purpose)."""
    return np.random.default_rng([seed, stream])


def _ts_array(us):
    # Wall-clock UTC timestamps without a zone, as in the canonical tables.
    return pa.array(us, type=pa.timestamp("us"))


def _utc(table):
    """Same table with `ts` marked as a UTC instant (the replay source and
    the watermark read it as Spark's TIMESTAMP type)."""
    i = table.schema.get_field_index("ts")
    return table.set_column(i, "ts", table.column("ts").cast(pa.timestamp("us", tz="UTC")))


def _write(table, path):
    pq.write_table(table, path, row_group_size=1 << 20)


def customers(rng, n):
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)]),
    })


def events(rng, n, users, days=30):
    ts = np.sort(EPOCH_2024_US + rng.integers(0, int(days * DAY_US), n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts_array(ts),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        # Strictly positive so every event survives the import cleanse.
        "value": pa.array(np.round(rng.uniform(0.01, 560.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def embeddings(rng, n, dims=64, clusters=10):
    centers = rng.normal(0, 1, (clusters, dims))
    label = rng.integers(0, clusters, n)
    v = centers[label] + rng.normal(0, 1.2, (n, dims))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


# ---------------------------------------------------------------- dashboard

def zipf_ranks(rng, n, pool, s=1.1):
    """`n` ranks in [0, pool) with P(r) ∝ 1/(r+1)^s, drawn by inverting the
    CDF at a golden-ratio sequence from a seeded start. Every stretch of the
    stream follows the distribution closely, so the repeat share of a short
    run depends little on the seed; the seed still picks the cohorts."""
    w = 1.0 / np.arange(1, pool + 1) ** s
    cdf = np.cumsum(w / w.sum())
    u = (rng.random() + np.arange(n) * (np.sqrt(5.0) - 1.0) / 2.0) % 1.0
    return np.minimum(np.searchsorted(cdf, u, side="right"), pool - 1)


def cohort_pool(rng, pool):
    """Seeded pool of cohort selections (acctbal range, segment set, window)."""
    out = []
    for _ in range(pool):
        lo = float(np.round(rng.uniform(-500, 6000), 2))
        hi = float(np.round(lo + rng.uniform(1500, 6000), 2))
        segs = sorted(rng.choice(SEGMENTS, size=int(rng.integers(1, 4)), replace=False).tolist())
        start = int(rng.integers(1, 22))
        end = start + int(rng.integers(3, 9))
        out.append({"acctbal": [lo, hi], "segments": segs,
                    "start": f"2024-01-{start:02d}", "end": f"2024-01-{end:02d}"})
    return out


def spec_json(cohort):
    """QuerySpec JSON (the engine's json4s wire form) for one cohort:
    subjects by attributes, control = every user."""
    subj = {"jsonClass": "ByAttributes", "attrFilters": [
        {"jsonClass": "CohortFilter$NumericRange", "colName": "c_acctbal",
         "lo": cohort["acctbal"][0], "hi": cohort["acctbal"][1], "nullOk": True},
        {"jsonClass": "CohortFilter$CategoricalIn", "colName": "c_mktsegment",
         "values": cohort["segments"], "nullOk": True}]}
    return json.dumps({"subjectSelection": subj,
                       "controlSelection": {"jsonClass": "AllUsers$"},
                       "startDate": cohort["start"], "endDate": cohort["end"]})


# Request kinds cycle in a fixed pattern (half bundles, a quarter each of
# feature tables and geo requests), so a short run has the same mix on
# every seed; the seed picks the cohorts.
REQUEST_PATTERN = ["bundle", "geo", "bundle", "features"]


def dashboard_requests(rng, n, pool=48):
    cohorts = cohort_pool(rng, pool)
    kinds = [REQUEST_PATTERN[i % len(REQUEST_PATTERN)] for i in range(n)]
    ranks = zipf_ranks(rng, n, pool)
    reqs = []
    for i, (kind, r) in enumerate(zip(kinds, ranks)):
        c = cohorts[int(r)]
        req = {"id": i, "kind": str(kind), "key": f"{kind}:{int(r)}",
               "spec": spec_json(c), "cohort": c}
        if kind == "geo":
            # Radius-search center: a fixed point per cohort.
            req["center"] = [34.0 + (int(r) % 7) * 0.12, -117.9 + (int(r) % 5) * 0.8]
            req["radius_km"] = 25.0
        reqs.append(req)
    return reqs


# ------------------------------------------------------------------ ingest

def wide_chunks(rng, n_chunks, rows_per_chunk, users):
    """Wide CSV chunks: one row per (user, minute), one column per feature;
    a fifth of the cells are empty (no reading). Each chunk covers its own
    400 minutes, so chunks never overlap."""
    t0 = dt.datetime(2024, 1, 1)
    header = [CSV_USER, CSV_TS] + [lbl for lbl, _ in CSV_FEATURES]
    chunks = []
    for c in range(n_chunks):
        keys = np.unique(rng.integers(0, 400 * users, rows_per_chunk * 2))[:rows_per_chunk]
        minute, user = c * 400 + keys // users, keys % users
        vals = rng.uniform(0.5, 200.0, (len(keys), len(CSV_FEATURES)))
        empty = rng.random((len(keys), len(CSV_FEATURES))) < 0.2
        stamp = {m: (t0 + dt.timedelta(minutes=m)).strftime("%Y-%m-%d %H:%M:%S")
                 for m in range(c * 400, c * 400 + 400)}
        rows = [header]
        for m, u, vs, es in zip(minute.tolist(), user.tolist(), vals.tolist(), empty.tolist()):
            rows.append([str(u), stamp[m]] + ["" if e else f"{v:.2f}" for v, e in zip(vs, es)])
        chunks.append(rows)
    return chunks


def write_csv(rows, path):
    with open(path, "w") as f:
        for r in rows:
            f.write(",".join(r) + "\n")


# --------------------------------------------------------------- per workload

SIZES = {
    "dashboard": dict(customers=15000, events=100_000, users=1500, requests=1000),
    "stream_replay": dict(events=20_000, days=6, users=1500, dup_share=0.03),
    "ingest": dict(customers=15000, users=1500, chunks=24, chunks_per_round=2,
                   rows_per_chunk=3000, embeddings=300, kernel_sample=150),
}

# Ingest phases: `warm_chunks` untimed imports, then a fixed number of
# rounds, `rounds_per_s` times the run's seconds.
INGEST = dict(warm_chunks=3, rounds_per_s=1 / 6)

# Dashboard phases: fixed request counts; the timed phase issues
# `requests_per_s` times the run's seconds.
DASHBOARD = dict(warm_requests=9, requests_per_s=1.0)

# Stream pacing: each trigger serves `advance_sec` of event time and is
# scheduled every `interval_ms`; a fixed offered load, not a tuned one.
STREAM = dict(advance_sec=10800.0, interval_ms=1500, watermark="1 hour",
              prime_triggers=3, subject_users=750)


def generate(workload, seed, out):
    """Write the workload's inputs under `out/data`; return the manifest the
    JVM side reads."""
    data = f"{out}/data"
    os.makedirs(data, exist_ok=True)
    z = SIZES[workload]
    man = {"workload": workload, "seed": seed, "data": data, "sizes": z}
    if workload in ("dashboard", "ingest"):
        _write(customers(rng_for(seed, 1), z["customers"]), f"{data}/customer.parquet")
    if workload == "dashboard":
        _write(events(rng_for(seed, 2), z["events"], z["users"]), f"{data}/events.parquet")
        reqs = dashboard_requests(rng_for(seed, 3), z["requests"])
        man["requests"] = f"{data}/requests.jsonl"
        with open(man["requests"], "w") as f:
            for r in reqs:
                f.write(json.dumps(r) + "\n")
        # Warm-up: each kind on three cohorts outside the pool, with one, two
        # and three segments, so every filter shape the pool can produce has
        # been planned and compiled before the timed phase.
        warm = cohort_pool(rng_for(seed, 9), 3)
        for n, c in enumerate(warm, 1):
            c["segments"] = SEGMENTS[:n]
        man["warmup"] = [{"id": -1 - 3 * j - i, "kind": k, "key": f"warm:{k}:{j}",
                          "spec": spec_json(c), "center": [34.3, -117.5], "radius_km": 25.0}
                         for j, c in enumerate(warm)
                         for i, k in enumerate(["bundle", "features", "geo"])]
        man.update(DASHBOARD)
    elif workload == "stream_replay":
        ev = events(rng_for(seed, 2), z["events"], z["users"], days=z["days"])
        # The replay table re-delivers a share of events (same row twice), so
        # the within-watermark dedup has work; rows stay in event-time order.
        rng = rng_for(seed, 10)
        dup = np.sort(rng.choice(ev.num_rows, int(ev.num_rows * z["dup_share"]), replace=False))
        idx = np.sort(np.concatenate([np.arange(ev.num_rows), dup]), kind="stable")
        man["replay_path"] = f"{data}/replay.parquet"
        _write(_utc(ev.take(pa.array(idx))), man["replay_path"])
        man["warm_path"] = f"{data}/warm.parquet"
        _write(_utc(events(rng_for(seed, 11), 10_000, z["users"], days=3)), man["warm_path"])
        man.update(STREAM)
    elif workload == "ingest":
        os.makedirs(f"{data}/csv", exist_ok=True)
        chunks = wide_chunks(rng_for(seed, 8), z["chunks"] + 1, z["rows_per_chunk"], z["users"])
        paths = []
        for i, rows in enumerate(chunks):
            p = f"{data}/csv/chunk_{i:03d}.csv"
            write_csv(rows, p)
            paths.append(p)
        man["warm_chunk"], man["chunks"] = paths[-1], paths[:-1]
        man["chunks_per_round"] = z["chunks_per_round"]
        # Embeddings for the kernel step that runs after the timed phase.
        _write(embeddings(rng_for(seed, 6), z["embeddings"]), f"{data}/embeddings.parquet")
        man["kernel_sample"] = z["kernel_sample"]
        man["features"] = [list(f) for f in CSV_FEATURES]
        man["csv_user"], man["csv_ts"] = CSV_USER, CSV_TS
        read_c = {"acctbal": [0.0, 8000.0], "segments": ["BUILDING", "HOUSEHOLD", "MACHINERY"],
                  "start": "2024-01-01", "end": "2024-01-31"}
        man["read_cohort"], man["read_spec"] = read_c, spec_json(read_c)
        man["read_metric"] = "heart_rate"
        man.update(INGEST)
    return man
