"""Output checks the benchmark runs with DuckDB after the timed region.

Each check returns a list of problems; an empty list means the outputs are
right. They read the parquet and JSON files the engine wrote.
"""
import datetime as dt
import math

import duckdb


def silver_rel(path):
    return (f"read_parquet('{path}/**/*.parquet', hive_partitioning = true, "
            f"union_by_name = true)")


def warehouse(con, wh, manifest):
    """Manifest counts: rounds per course in fact_rounds, valid plus
    quarantined fixes, quarantined fixes, and padding slots."""
    problems = []
    rounds = dict(con.execute(
        f"SELECT course_id, count(*) FROM read_parquet('{wh}/gold/fact_rounds/*.parquet') "
        "GROUP BY 1").fetchall())
    silver = {c: (n, p) for c, n, p in con.execute(
        f"SELECT course_id, count(*), count(*) FILTER (WHERE is_location_padding) "
        f"FROM {silver_rel(wh + '/fact_telemetry_event')} GROUP BY 1").fetchall()}
    quarantine = dict(con.execute(
        f"SELECT course_id, count(*) FROM read_json_auto("
        f"'{wh}/quarantine/silver/*/*/*/*.json', hive_partitioning = true) "
        "GROUP BY 1").fetchall())
    for cid, c in manifest["courses"].items():
        n, pad = silver.get(cid, (0, 0))
        q = quarantine.get(cid, 0)
        if rounds.get(cid) != c["rounds"]:
            problems.append(f"{cid}: fact_rounds has {rounds.get(cid)} rounds, "
                            f"expected {c['rounds']}")
        if n + q != c["fixes"]:
            problems.append(f"{cid}: {n} valid + {q} quarantined fixes, expected {c['fixes']}")
        if q != c["quarantined"]:
            problems.append(f"{cid}: {q} quarantined, expected {c['quarantined']}")
        if pad != c["padding"]:
            problems.append(f"{cid}: {pad} padding slots, expected {c['padding']}")
    return problems


QUERIES = {
    "overviewStats": """
        SELECT count(DISTINCT course_id) AS total_courses,
               count(DISTINCT round_id) AS total_rounds,
               count(*) AS total_events,
               count(*) FILTER (WHERE NOT is_location_padding) AS real_events,
               min(event_date) AS earliest_date, max(event_date) AS latest_date
        FROM silver""",
    "eventsPerCourse": """
        SELECT course_id, count(DISTINCT round_id) AS rounds,
               count(*) AS total_events,
               count(*) FILTER (WHERE NOT is_location_padding) AS real_events,
               min(event_date) AS first_date, max(event_date) AS last_date,
               count(DISTINCT event_date) AS playing_days,
               round(count(*) * 1.0e0 / nullif(count(DISTINCT round_id), 0), 0)
                 AS avg_events_per_round
        FROM silver GROUP BY course_id""",
    "roundMapPoints": """
        SELECT location_index, latitude, longitude, nine_number, hole_number,
               section_number, fix_timestamp, pace,
               row_number() OVER (PARTITION BY round_id ORDER BY location_index)
                 AS event_sequence
        FROM silver
        WHERE course_id = $course AND round_id = $round
          AND NOT is_location_padding
          AND latitude IS NOT NULL AND longitude IS NOT NULL""",
}


def norm(v):
    """One text form for a value printed by Spark or returned by DuckDB."""
    if v is None or v == "null":
        return None
    if isinstance(v, (dt.datetime, dt.date)):
        v = str(v)
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, (int, float)):
        return float(v)
    s = str(v)
    try:
        return float(s)
    except ValueError:
        return s[:-2] if s.endswith(".0") and ":" in s else s


def same(a, b):
    a, b = norm(a), norm(b)
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def query(con, chk):
    """A dashboard result must equal DuckDB's recomputation over the silver
    parquet the engine wrote."""
    con.execute(f"CREATE OR REPLACE VIEW silver AS SELECT * FROM {silver_rel(chk['path'])}")
    params = {}
    if chk["name"] == "roundMapPoints":
        params = dict(zip(("course", "round"), chk["params"].split("/")))
    rel = con.execute(QUERIES[chk["name"]], params)
    cols = [d[0] for d in rel.description]
    want = rel.fetchall()
    got = chk["rows"]
    if len(want) != len(got):
        return [f"{chk['name']}({chk['params']}): {len(got)} rows, DuckDB has {len(want)}"]
    idx = [chk["columns"].index(c) for c in cols]
    key = lambda r: tuple(str(norm(v)) for v in r)
    want = sorted(want, key=key)
    got = sorted(([r[i] for i in idx] for r in got), key=key)
    for w, g in zip(want, got):
        if not all(same(x, y) for x, y in zip(w, g)):
            return [f"{chk['name']}({chk['params']}): row {g} differs from DuckDB's {list(w)}"]
    return []


def silver(con, wh, manifest):
    """The dashboard's warehouse holds every generated row and round."""
    have = {c: (n, r) for c, n, r in con.execute(
        f"SELECT course_id, count(*), count(DISTINCT round_id) "
        f"FROM {silver_rel(wh + '/fact_telemetry_event')} GROUP BY 1").fetchall()}
    return [f"{cid}: silver has {have.get(cid)} (rows, rounds), expected "
            f"{(c['rows'], c['rounds'])}"
            for cid, c in manifest["courses"].items()
            if have.get(cid) != (c["rows"], c["rounds"])]
