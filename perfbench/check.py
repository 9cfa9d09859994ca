"""Output checks for the benchmark workloads.

- Registry workloads: a result is compared with DuckDB running the
  query's oracle SQL over the same generated input, after the
  normalisation of ``tools/compare.py`` (columns by name, rows by every
  column, floats compared exactly).
- aq_pipeline: the staged store must hold exactly the generator's
  expected rows on ``(city, time)`` (last write wins across batches, mean
  inside a batch), with the derived columns the staging rules give, and
  every report must carry the key set those rows imply.

Every check returns a list of problems; an empty list means correct.
"""
import glob
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))
from compare import canon  # noqa: E402  the repo's own oracle normalisation

import gen  # noqa: E402

TOP_K_CITIES = 6
HIST_BINS = 40


def frames_equal(got: pd.DataFrame, want: pd.DataFrame):
    """Problems between two result frames, ignoring row and column order."""
    g, w = canon(got), canon(want)
    if list(g.columns) != list(w.columns):
        return [f"columns {list(g.columns)} != {list(w.columns)}"]
    if len(g) != len(w):
        return [f"rows {len(g)} != {len(w)}"]
    bad = []
    for c in g.columns:
        a, b = g[c], w[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            af, bf = a.astype(float), b.astype(float)
            eq = (af.values == bf.values) | (af.isna().values & bf.isna().values)
        else:
            eq = (a.astype(str) == b.astype(str)).values
        if not eq.all():
            bad.append(f"column {c}: {int((~eq).sum())} rows differ")
    return bad


def oracle_frame(con, sql, input_dir):
    """DuckDB's answer for one query over the generated tables."""
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(input_dir, t + '.parquet')}'")
    return con.sql(sql).df()


def severity(r):
    def z(v):
        return 0.0 if v is None else v
    pm10, pm2_5, co, no2, so2, o3 = r
    # the staging rule's term order, so the double sum is bit-identical
    return (z(pm2_5) * 5.0 + z(pm10) * 3.0 + z(no2) * 4.0 + z(so2) * 4.0
            + z(co) * 2.0 + z(o3) * 3.0)


def risk_class(sev):
    return "High Risk" if sev > 400 else "Moderate Risk" if sev > 200 else "Low Risk"


def aqi(v):
    if v is None:
        return "Unknown"
    if v <= 50:
        return "Good"
    if 51 <= v <= 100:
        return "Moderate"
    if 101 <= v <= 200:
        return "Unhealthy"
    if 201 <= v <= 300:
        return "Very Unhealthy"
    if v > 300:
        return "Hazardous"
    return "Unknown"


def _nan_to_none(v):
    return None if v is None or v != v else v


def read_store(store):
    cols = ", ".join(gen.POLLUTANTS)
    rows = duckdb.sql(
        f"SELECT city, strftime(time, '%Y-%m-%dT%H:%M') AS t, hour, {cols}, uv_index, "
        f"aqi_pm25, severity, risk_class FROM read_parquet('{store}/*.parquet')").fetchall()
    return rows


def check_store(rows, expected):
    """Problems between the store's rows and the expected (city, hour) map."""
    want = {(c, gen.hour_str(h)): v for (c, h), v in expected.items()}
    problems, seen = [], set()
    for city, t, hour, *rest in rows:
        vals = tuple(_nan_to_none(v) for v in rest[:len(gen.POLLUTANTS)])
        uv, aqi_c, sev, risk = rest[len(gen.POLLUTANTS):]
        key = (city, t)
        if key in seen:
            problems.append(f"duplicate key {key}")
        seen.add(key)
        if key not in want:
            problems.append(f"unexpected key {key}")
            continue
        if vals != want[key]:
            problems.append(f"{key}: {vals} != {want[key]}")
        s = severity(vals)
        if (hour != int(t[11:13]) or uv is not None or sev != s
                or risk != risk_class(s) or aqi_c != aqi(vals[1])):
            problems.append(f"{key}: derived columns wrong")
    missing = set(want) - seen
    if missing:
        problems.append(f"{len(missing)} expected keys missing, e.g. {sorted(missing)[0]}")
    return problems


def read_report(path):
    files = glob.glob(os.path.join(path, "*.csv"))
    if len(files) != 1:
        raise ValueError(f"{path}: expected one CSV part, found {len(files)}")
    return pd.read_csv(files[0], dtype=str, keep_default_na=False)


def check_reports(processed, expected):
    """Key-set checks of the five AQ reports against the expected rows."""
    keys = {(c, gen.hour_str(h)) for c, h in expected}
    cities = {c for c, _ in keys}
    problems = []
    try:
        sm = read_report(os.path.join(processed, "summary_metrics"))
        if set(sm["metric"]) != {"city_highest_avg_pm2_5", "city_highest_severity",
                                 "hour_with_worst_avg_pm2_5"}:
            problems.append("summary_metrics: metric set")
        crd = read_report(os.path.join(processed, "city_risk_distribution"))
        if sorted(crd["city"]) != sorted(cities):
            problems.append("city_risk_distribution: city set")
        pt = read_report(os.path.join(processed, "pollution_trends"))
        if len(pt) != len(keys) or {(c, t[:16]) for c, t in zip(pt["city"], pt["time"])} != keys:
            problems.append("pollution_trends: (city, time) set")
        hist = read_report(os.path.join(processed, "hist_pm2_5"))
        non_null = sum(1 for v in expected.values() if v[1] is not None)
        if (not set(hist["bin"].astype(int)) <= set(range(HIST_BINS))
                or hist["n"].astype(int).sum() != non_null):
            problems.append("hist_pm2_5: bins or counts")
        counts = {}
        for c, _ in keys:
            counts[c] = counts.get(c, 0) + 1
        top = sorted(counts, key=lambda c: (-counts[c], c))[:TOP_K_CITIES]
        tr = read_report(os.path.join(processed, "hourly_pm2_5_trends"))
        if {(c, t[:16]) for c, t in zip(tr["city"], tr["hour_start"])} != \
                {k for k in keys if k[0] in top}:
            problems.append("hourly_pm2_5_trends: (city, hour) set")
    except (OSError, ValueError, KeyError) as e:
        problems.append(f"reports unreadable: {e}")
    return problems


def check_aq_unit(unit_dir, expected):
    store = os.path.join(unit_dir, "staged", "air_quality")
    try:
        rows = read_store(store)
    except duckdb.Error as e:
        return [f"store unreadable: {e}"]
    return check_store(rows, expected) + check_reports(
        os.path.join(unit_dir, "processed"), expected)


def same_aq_outputs(a_dir, b_dir):
    """Problems if two aq units' stores or reports differ."""
    problems = []
    if sorted(map(repr, read_store(os.path.join(a_dir, "staged", "air_quality")))) != \
            sorted(map(repr, read_store(os.path.join(b_dir, "staged", "air_quality")))):
        problems.append("stores differ")
    for name in sorted(os.listdir(os.path.join(a_dir, "processed"))):
        ra = read_report(os.path.join(a_dir, "processed", name))
        rb = read_report(os.path.join(b_dir, "processed", name))
        if frames_equal(ra, rb):
            problems.append(f"report {name} differs")
    return problems
