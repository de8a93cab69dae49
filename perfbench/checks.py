"""Output checks of the benchmark. Every engine output is compared with an
independent recomputation in DuckDB over the same generated inputs; each
mismatch counts as a failed operation."""
import math
import os

import duckdb
import pandas as pd

TABLES = ["customer", "events"]


def connect(data_dir):
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    for t in TABLES:
        p = f"{data_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


# ------------------------------------------------------------ canonical form

def _cell(v):
    if v is None:
        return None
    if hasattr(v, "item"):  # numpy scalar
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return None
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return [_cell(x) for x in v]
    return v


def _order(v):
    """Sort key that orders ints and floats of equal value alike."""
    if v is None:
        return (0, 0.0, "")
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        return (2, 0.0, repr(v))
    return (1, float(v), "")


def canonical(df):
    """Rows with columns sorted by name, rows sorted, NaN as NULL: the
    order-free form tools/compare.py compares in."""
    df = df[sorted(df.columns)]
    rows = [[_cell(v) for v in r] for r in df.itertuples(index=False, name=None)]
    rows.sort(key=lambda r: [_order(x) for x in r])
    return rows


# ------------------------------------------------------------ value compare

def close(a, b, rel=1e-9):
    if a is None or b is None:
        return a is None and b is None
    return abs(a - b) <= rel * max(1.0, abs(a), abs(b))


# ------------------------------------------------------------------ dashboard

def _subj_cte(c):
    segs = ", ".join(f"'{s}'" for s in c["segments"])
    lo, hi = c["acctbal"]
    return (f"subj AS (SELECT c_custkey AS user_id FROM customer"
            f" WHERE (c_acctbal BETWEEN {lo!r} AND {hi!r} OR c_acctbal IS NULL)"
            f" AND (c_mktsegment IN ({segs}) OR c_mktsegment IS NULL)),"
            f" win AS (SELECT * FROM events WHERE CAST(ts AS DATE)"
            f" BETWEEN DATE '{c['start']}' AND DATE '{c['end']}'),"
            f" sw AS (SELECT * FROM win WHERE user_id IN (SELECT user_id FROM subj)),"
            f" cw AS (SELECT * FROM win WHERE user_id IN (SELECT c_custkey FROM customer))")


TOD = [("Workout", "06:45:00", "09:30:00"), ("Afternoon", "12:30:00", "16:00:00"),
       ("Sleep", "20:00:00", "04:45:00")]
PTS = ("pts AS (SELECT user_id, event_id, ts, -118.0 + value/100 AS lon,"
       " 34.0 + CAST(json_extract_string(props, '$.k') AS BIGINT)/100.0 AS lat FROM sw)")


def dashboard_oracle(con, req):
    """Expected frames of one request, as DataFrames with the engine's
    column names. Averages stay unrounded: rounding two engines' doubles
    separately flips at exact decimal ties (a mean of 2-decimal values often
    is one), so they are compared within a relative 1e-9 instead."""
    c = req["cohort"]
    w = "WITH " + _subj_cte(c)
    if req["kind"] == "bundle":
        kpis = con.sql(
            f"{w}, s AS (SELECT avg(value) a, min(value) mn, max(value) mx, count(*) n FROM sw),"
            f" k AS (SELECT avg(value) a, stddev_samp(value) sd, count(*) n FROM cw)"
            f" SELECT s.a subj_avg, s.mn subj_min, s.mx subj_max, s.n subj_rows,"
            f" k.a ctrl_avg, k.sd ctrl_std, k.n ctrl_rows, s.a - k.a delta_avg FROM s, k").df()
        parts = []
        for label, a, b in TOD:
            tod = "strftime(ts, '%H:%M:%S')"
            pred = (f"{tod} BETWEEN '{a}' AND '{b}'" if a <= b
                    else f"({tod} >= '{a}' OR {tod} <= '{b}')")
            parts.append(f"SELECT '{label}' range_label, avg(value) avg_value,"
                         f" min(value) min_value, max(value) max_value, count(*) n"
                         f" FROM sw WHERE {pred}")
        tod = con.sql(f"{w} " + " UNION ALL ".join(parts)).df()
        spans = con.sql(f"{w} SELECT user_id, epoch_us(min(ts)) AS start,"
                        f" epoch_us(max(ts)) AS \"end\", count(*) n FROM sw GROUP BY 1").df()
        return {"kpis": kpis, "tod_kpis": tod, "user_spans": spans}
    if req["kind"] == "features":
        parts = [f"SELECT '{f}' feature, s.a subj_avg, s.mn subj_min, s.mx subj_max,"
                 f" s.n subj_rows, k.a ctrl_avg, k.n ctrl_rows, s.a - k.a delta_avg FROM"
                 f" (SELECT avg(value) a, min(value) mn, max(value) mx, count(*) n"
                 f"  FROM sw WHERE event_type = '{f}') s,"
                 f" (SELECT avg(value) a, count(*) n FROM cw WHERE event_type = '{f}') k"
                 for f in ("click", "purchase", "view")]
        return {"features": con.sql(f"{w} " + " UNION ALL ".join(parts)).df()}
    lat, lon = req["center"]
    path = con.sql(
        f"{w}, {PTS}, p AS (SELECT user_id, list(struct_pack(lon := lon, lat := lat)"
        f" ORDER BY ts, event_id) AS l FROM pts GROUP BY 1)"
        f" SELECT user_id, CAST(len(l) AS BIGINT) AS n_points,"
        f" round(CASE WHEN len(l) > 1 THEN list_sum(list_transform(range(2, len(l) + 1),"
        f" i -> sqrt((l[i].lon - l[i-1].lon) * (l[i].lon - l[i-1].lon) +"
        f" (l[i].lat - l[i-1].lat) * (l[i].lat - l[i-1].lat)))) ELSE 0.0 END, 6) AS path_len"
        f" FROM p").df()
    near = con.sql(
        f"{w}, {PTS}, d AS (SELECT event_id, 12742.0 * asin(sqrt(pow(sin(radians(lat - {lat!r}) / 2), 2)"
        f" + cos(radians({lat!r})) * cos(radians(lat)) * pow(sin(radians(lon - ({lon!r})) / 2), 2))) AS dist"
        f" FROM pts) SELECT event_id, round(dist, 4) AS dist_km FROM d"
        f" WHERE dist <= {req['radius_km']!r}").df()
    return {"path_length": path, "radius": near}


def engine_frame(resp):
    """Engine response (columns + rows) as a DataFrame."""
    return pd.DataFrame(resp["rows"], columns=resp["columns"])


def frames_equal(mine, ref):
    """Value comparison of two frames in canonical form: floats within a
    relative 1e-9 (summation order differs between engines), everything
    else exactly. Kinds are ignored: the engine's JSON rows carry no dtypes,
    so ints may arrive as floats."""
    ra, rb = canonical(mine), canonical(ref)
    if sorted(mine.columns) != sorted(ref.columns):
        return f"columns {sorted(mine.columns)} vs {sorted(ref.columns)}"
    if len(ra) != len(rb):
        return f"rows {len(ra)} vs {len(rb)}"
    for i, (x, y) in enumerate(zip(ra, rb)):
        for a, b in zip(x, y):
            if a is None and b is None:
                continue
            if isinstance(a, (int, float)) and isinstance(b, (int, float)):
                if not close(float(a), float(b)):
                    return f"row {i}: {x!r} vs {y!r}"
            elif a != b:
                return f"row {i}: {x!r} vs {y!r}"
    return None
