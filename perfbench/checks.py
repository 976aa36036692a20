"""Output checks of the benchmark, run after the JVM exits.

Each returns the number of failed operations it found:
- pipeline: every pass's gold reconciles with the generator's manifest, and
  DuckDB's recomputation of the by-stop-line aggregate from gold features
  matches the gold aggregate (training_rows.row_id is not compared: it is not
  deterministic);
- dashboard: DuckDB re-answers the sampled refreshes over the same gold;
- catalog: each query's order-insensitive digest equals the recorded one in
  expected_digests.json, which was taken from results that tools/check.py
  matched against the DuckDB oracle.
"""
import json
import math
import os
import sys

import duckdb

ACCENTED = ["Genève-Cornavin", "Carouge-Marché", "Chêne-Bourg", "Thônex-Vallard",
            "Vernier-Église", "Genève-Plage"]
MEASURES = ["temp_c", "rain_mm", "wind_ms", "gust_ms", "wind_dir_deg", "rel_humidity",
            "pressure_hpa", "global_rad_wm2", "sunshine_min", "dewpoint_c"]


def close(a, b, tol=1e-9):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, str) or isinstance(b, str):
        return a == b
    return math.isclose(float(a), float(b), rel_tol=tol, abs_tol=tol)


def rows_close(xs, ys, tol=1e-9):
    return len(xs) == len(ys) and all(
        len(x) == len(y) and all(close(a, b, tol) for a, b in zip(x, y)) for x, y in zip(xs, ys))


def complain(msg):
    print(f"check failed: {msg}", file=sys.stderr)


def table(gold, t):
    return f"read_parquet('{gold}/{t}/**/*.parquet', hive_partitioning = false)"


def check_pipeline_gold(con, gold, m, skip=()):
    """Problems found in one pass's gold, as messages; `skip` names tables
    that this gold does not have."""
    bad = []

    def one(sql):
        return con.execute(sql).fetchone()[0]

    def count(t, where="true"):
        return one(f"select count(*) from {table(gold, t)} where {where}")

    expect = {"gtfs_routes": m["gtfs_routes"], "gtfs_trips": m["gtfs_trips"],
              "gtfs_stop_times": m["gtfs_stop_times"], "gtfs_stops": m["gtfs_stops"],
              "ist_events": m["ist_events"], "weather_obs": m["weather_obs"],
              "features": m["ist_events"], "training_rows": m["ist_events"],
              "by_stop_line": m["by_stop_line"]}
    for t, n in expect.items():
        if t in skip:
            continue
        got = count(t)
        if got != n:
            bad.append(f"{t}: {got} rows, expected {n}")
    accented = ", ".join("'" + s + "'" for s in ACCENTED)
    for what, where, n in [
        ("shadow rows kept by the dedupe",
         "arrival_status = 'PROGNOSE' or depart_status = 'PROGNOSE'", 0),
        ("accented stop names", f"stop_name in ({accented})", m["ist_accented"]),
        ("undecodable stop names", "stop_name like '%�%'", 0),
        ("rows of the Latin-1 day", "service_date = DATE '2024-06-01'", m["ist_latin1_rows"]),
    ]:
        got = count("ist_events", where)
        if got != n:
            bad.append(f"ist_events {what}: {got}, expected {n}")
    if bad:
        return bad
    # DuckDB recomputation of the by-stop-line aggregate from gold features
    mismatched = one(f"""
      with ref as (
        select line_text, stop_code, sched_bin, count(*) as n_trips,
               avg(delay_min) as delay_avg_min,
               quantile_cont(delay_min, 0.5) as delay_p50_min,
               quantile_cont(delay_min, 0.9) as delay_p90_min,
               avg((delay_min >= 2)::double) as share_late_ge2,
               avg(used_arrival_sched::double) as share_used_arrival_sched,
               avg(temp_c) as temp_c_avg, max(rain_mm) as rain_mm_max
        from {table(gold, 'features')} group by all)
      select count(*) from ref full outer join {table(gold, 'by_stop_line')} g
        using (line_text, stop_code, sched_bin)
      where g.n_trips is distinct from ref.n_trips
         or abs(coalesce(g.delay_avg_min, 1e300) - coalesce(ref.delay_avg_min, 1e300)) > 1e-9
         or abs(coalesce(g.delay_p50_min, 1e300) - coalesce(ref.delay_p50_min, 1e300)) > 1e-9
         or abs(coalesce(g.delay_p90_min, 1e300) - coalesce(ref.delay_p90_min, 1e300)) > 1e-9
         or abs(g.share_late_ge2 - ref.share_late_ge2) > 1e-9
         or abs(g.share_used_arrival_sched - ref.share_used_arrival_sched) > 1e-9
         or abs(coalesce(g.temp_c_avg, 1e300) - coalesce(ref.temp_c_avg, 1e300)) > 1e-9
         or g.rain_mm_max is distinct from ref.rain_mm_max""")
    if mismatched:
        bad.append(f"by_stop_line: {mismatched} bins differ from the DuckDB recomputation")
    return bad


def pipeline(res):
    con = duckdb.connect()
    failed = 0
    for gold in res["golds"]:
        bad = check_pipeline_gold(con, gold, res["manifest"])
        for b in bad:
            complain(f"{gold}: {b}")
        failed += bool(bad)
    return failed


def dashboard(res):
    con = duckdb.connect()
    gold = res["gold"]
    feats, ev, bsl = (table(gold, t) for t in ("features", "ist_events", "by_stop_line"))
    # the dashboards' gold has no GTFS tables and no training rows
    bad = check_pipeline_gold(con, gold, res["manifest"], skip=(
        "gtfs_routes", "gtfs_trips", "gtfs_stop_times", "gtfs_stops", "training_rows"))
    for b in bad:
        complain(f"dashboard gold: {b}")
    if bad:
        return res["attempted"]
    failed = 0

    def q(sql):
        return [list(r) for r in con.execute(sql).fetchall()]

    full = " and ".join(f"{c} is not null" for c in MEASURES)
    kpi = q(f"""select count(*),
        sum((depart_time_sched is not null and depart_time_est is not null)::bigint),
        sum(used_arrival_sched::bigint), sum(used_arrival_est::bigint),
        sum((used_arrival_sched or used_arrival_est)::bigint),
        avg((used_arrival_sched or used_arrival_est)::double) * 100.0,
        sum((sched_ts is null or est_ts is null)::bigint), sum(({full})::bigint)
      from {feats}""")
    cols = [r[0] for r in con.execute(f"describe select * from {feats}").fetchall()]
    nulls = q("select " + ", ".join(f"avg(({c} is null)::double)" for c in cols) +
              f" from {feats}")[0]
    profile = sorted(([c, round(f * 1000.0) / 10.0] for c, f in zip(cols, nulls)),
                     key=lambda r: (-r[1], r[0]))[:20]
    latest = q(f"""select strftime(service_date, '%Y-%m-%d'),
        strftime(coalesce(depart_time_sched, arrival_time_sched)::timestamp, '%Y-%m-%d %H:%M:%S')
      from {ev} where operator_abbr = 'TPG'
        and (product_id in ('Bus', 'Tram') or product_id is null)
      order by service_date desc, coalesce(depart_time_sched, arrival_time_sched) desc
      limit 50""")
    for s in res["samples"]:
        wrong = []
        if s["app"] == "qa":
            if not rows_close(s["kpi_slice"], kpi):
                wrong.append("kpi_slice")
            if not rows_close(s["missing_profile"], profile):
                wrong.append("missing_profile")
            if [[r[0], r[3]] for r in s["latest_events"]] != latest:
                wrong.append("latest_events")
        else:
            lines = ", ".join("'" + x + "'" for x in s["lines"])
            where = (f"line_text in ({lines}) and sched_bin::timestamp::date "
                     f"between DATE '{s['from']}' and DATE '{s['to']}'")
            sl = q(f"select count(*), coalesce(sum(n_trips), 0), coalesce(sum(delay_avg_min), 0)"
                   f" from {bsl} where {where}")[0]
            if not all(close(a, b) for a, b in zip(s["slice"], sl)):
                wrong.append("slice")
            kp = q(f"select sum(n_trips), avg(delay_avg_min), avg(delay_p90_min),"
                   f" avg(share_late_ge2) * 100.0 from {bsl} where {where}")
            if not rows_close(s["slice_kpis"], kp):
                wrong.append("slice_kpis")
            hm = q(f"select isodow(sched_bin::timestamp), hour(sched_bin::timestamp),"
                   f" avg(delay_avg_min), sum(n_trips) from {bsl} where {where} group by all")
            if not rows_close(sorted(s["heatmap"]), sorted(hm)):
                wrong.append("heatmap")
        if wrong:
            complain(f"dashboard {s['app']} refresh differs from DuckDB: {', '.join(wrong)}")
            failed += 1
    return failed


def catalog(res, bench):
    with open(os.path.join(bench, "expected_digests.json")) as fh:
        expected = json.load(fh)
    failed = 0
    for q, d in res["digests"].items():
        if expected.get(q) != d:
            complain(f"catalog {q}: digest {d} != expected {expected.get(q)}")
            failed += res["executions"][q]
    return failed


def run(workload, res, bench):
    if workload == "pipeline":
        return pipeline(res)
    if workload == "dashboard":
        return dashboard(res)
    return catalog(res, bench)
