"""Seeded raw-export generator for the lakehouse benchmark.

Writes round exports shaped like the pilot courses' data and a manifest of
the counts the pipeline must reproduce:

  <out>/backfill/<course>/*.csv|*.json   one export per course, plus a
                                         re-export carrying duplicates
  <out>/manifest.json                    expected counts

and, for the dashboard workload, silver-shaped rows instead (`silver_seed`):

  <out>/silver_seed.json                 one JSON object per fix, in the
                                         columns of the silver telemetry table

Properties the silver ETL depends on, and how they are produced:
  - both wire formats: two courses export wide CSV, two export MongoDB
    extended JSON;
  - every CSV file has its own `locations[N]` column set (as wide as its
    widest round) and its own column order, and one course has two;
  - JSON `_id`/`startTime`/`endTime`/`device`/`firstFix` are `$oid`/`$date`
    structs, and on one course some structs are partial or absent;
  - a few fixes carry out-of-bounds coordinates (quarantined, not dropped);
  - re-export files repeat some rounds with different cache/battery flags
    (dedup keeps one fix per round, timestamp and slot);
  - rounds per course-day follow a tee sheet: 50 tee times 8-10 minutes
    apart from 06:30.

Only the standard library is used; the same seed gives byte-identical files.
"""
import datetime as dt
import json
import os
import random

# (course id, layout, wire format, re-export with duplicates). Layouts drive
# hole/section numbering. Each CSV header is its own scan in the silver job,
# so only one CSV course gets a second file: enough for the union by name.
COURSES = [
    ("pinehurst4", "18", "csv", True),
    ("americanfalls", "9loop", "csv", False),
    ("bradshawfarmgc", "27", "json", True),
    ("erinhills", "18", "json_partial", False),
]
CENTERS = {
    "pinehurst4": (-79.47, 35.19), "americanfalls": (-112.85, 42.78),
    "bradshawfarmgc": (-84.87, 33.21), "erinhills": (-88.38, 43.25),
}
MIN_LOC, MAX_LOC = 18, 40
BACKFILL_DAYS = 3
OOB_RATE = 0.003
TEE_TIMES = 50  # a fixed count keeps the work per seed the same
REEXPORT_ROUNDS = 6
FIRST_DAY = dt.date(2025, 6, 2)
LOC_FIELDS = ["hole", "holeSection", "sectionNumber", "startTime", "date",
              "fixCoordinates[0]", "fixCoordinates[1]", "isProjected",
              "isProblem", "isCache", "paceGap", "positionalGap", "pace",
              "batteryPercentage"]
OPTIONAL_LOC_FIELDS = ["isProblem", "positionalGap"]
ROUND_FIELDS = ["startTime", "endTime", "device", "startHole", "goalTime",
                "isNineHole", "complete", "currentNine", "goalName",
                "isSecondary", "isAutoAssigned", "currentSection",
                "currentHole"]


def iso(t):
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def sections_for(layout, nine_hole):
    """Ordered (hole, section, holeSection, nine) a round walks through."""
    holes = {"18": 18, "27": 27, "9loop": 18}[layout]
    if nine_hole:
        holes = 9
    out = []
    for h in range(holes):
        for hs in range(3):
            section = h * 3 + hs + 1
            if layout == "9loop":
                hole, section = h % 9 + 1, (h % 9) * 3 + hs + 1
            elif layout == "27":
                hole = h % 9 + 1
            else:
                hole = h + 1
            out.append((hole, section, hs + 1, h // 9 + 1))
    return out


def make_round(rng, course, layout, tee, max_loc=MAX_LOC):
    nine_hole = rng.random() < 0.1
    path = sections_for(layout, nine_hole)
    n = rng.randint(MIN_LOC, max_loc)
    duration = (120 if nine_hole else 240) * 60 + rng.randint(-1800, 1800)
    lon0, lat0 = CENTERS[course]
    battery = rng.uniform(60, 100)
    locs = []
    for k in range(n):
        hole, section, hole_section, nine = path[k * len(path) // n]
        offset = round(k * duration / n + rng.uniform(0, 5), 1)
        oob = rng.random() < OOB_RATE  # quarantined, not dropped
        battery = max(1.0, battery - rng.uniform(0, 0.8))
        locs.append({
            "hole": hole, "holeSection": hole_section, "sectionNumber": section,
            "startTime": offset,
            "date": iso(tee + dt.timedelta(seconds=int(offset))),
            "lon": 200.0 if oob else round(lon0 + section * 1e-4 + rng.uniform(0, 1e-4), 6),
            "lat": 100.0 if oob else round(lat0 + hole * 1e-4 + rng.uniform(0, 1e-4), 6),
            "isProjected": rng.random() < 0.05, "isProblem": rng.random() < 0.02,
            "isCache": rng.random() < 0.1,
            "paceGap": round(rng.gauss(0, 90), 3),
            "positionalGap": round(rng.gauss(0, 2), 3),
            "pace": round(rng.gauss(0, 120), 3),
            "batteryPercentage": round(battery, 1), "_nine": nine,
        })
    start_hole = 10 if (layout in ("18", "27") and rng.random() < 0.15) else 1
    return {
        "_id": "%024x" % rng.getrandbits(96),
        "course": course,
        "startTime": iso(tee),
        "endTime": iso(tee + dt.timedelta(seconds=duration)),
        "device": "TM-%04d" % rng.randint(1, 400),
        "startHole": start_hole, "goalTime": 14400 if not nine_hole else 7200,
        "isNineHole": nine_hole, "complete": rng.random() < 0.9,
        "currentNine": locs[-1]["_nine"], "goalName": "Standard",
        "isSecondary": rng.random() < 0.03, "isAutoAssigned": rng.random() < 0.2,
        "currentSection": locs[-1]["sectionNumber"],
        "currentHole": locs[-1]["hole"],
        "locations": locs,
    }


def tee_sheet(rng, day):
    """One course-day of tee times: TEE_TIMES groups, 8-10 minutes apart."""
    t = dt.datetime.combine(day, dt.time(6, 30))
    out = []
    for _ in range(TEE_TIMES):
        out.append(t)
        t += dt.timedelta(minutes=rng.choice([8, 9, 10]))
    return out


def redelivered(r):
    """A re-export of round `r`: same fixes, different cache/battery flags."""
    copy = dict(r)
    copy["locations"] = [dict(l, isCache=not l["isCache"],
                              batteryPercentage=max(1.0, l["batteryPercentage"] - 1.0))
                         for l in r["locations"]]
    return copy


def write_csv(rng, path, rounds, optional_fields):
    width = max(len(r["locations"]) for r in rounds)
    loc_fields = [f for f in LOC_FIELDS
                  if f not in OPTIONAL_LOC_FIELDS or optional_fields]
    rng.shuffle(loc_fields)
    round_fields = list(ROUND_FIELDS)
    rng.shuffle(round_fields)
    header = ["_id", "course"] + round_fields + [
        "locations[%d].%s" % (i, f) for i in range(width) for f in loc_fields]

    def cell(v):
        if isinstance(v, bool):
            return "true" if v else "false"
        return "" if v is None else str(v)

    with open(path, "w", newline="") as f:
        f.write(",".join(header) + "\n")
        for r in rounds:
            row = [r["_id"], r["course"]] + [cell(r[k]) for k in round_fields]
            for i in range(width):
                if i < len(r["locations"]):
                    l = r["locations"][i]
                    vals = dict(l, **{"fixCoordinates[0]": l["lon"],
                                      "fixCoordinates[1]": l["lat"]})
                    row += [cell(vals[fld]) for fld in loc_fields]
                else:
                    row += [""] * len(loc_fields)
            f.write(",".join(row) + "\n")
    return width


def write_json(rng, path, rounds, partial):
    docs = []
    for r in rounds:
        d = {k: v for k, v in r.items() if k != "locations"}
        d["_id"] = {"$oid": r["_id"]}
        d["startTime"] = {"$date": r["startTime"]}
        if partial and rng.random() < 0.2:
            d.pop("endTime")  # absent field → NULL round end
        else:
            d["endTime"] = {"$date": r["endTime"]}
        # a struct with only one of the two Mongo keys
        d["device"] = {"$oid": r["device"]}
        if not partial:
            d["firstFix"] = {"$date": r["startTime"]}
        d["locations"] = [{
            "hole": l["hole"], "sectionNumber": l["sectionNumber"],
            "holeSection": l["holeSection"], "startTime": l["startTime"],
            "fixCoordinates": [l["lon"], l["lat"]],
            "isProjected": l["isProjected"], "isProblem": l["isProblem"],
            "isCache": l["isCache"], "paceGap": l["paceGap"],
            "positionalGap": l["positionalGap"], "pace": l["pace"],
            "batteryPercentage": l["batteryPercentage"]} for l in r["locations"]]
        docs.append(d)
    with open(path, "w") as f:
        json.dump(docs, f, separators=(",", ":"))


def write_export(rng, dirpath, stem, fmt, rounds, reexport):
    """Write one export file and, if asked, a re-export that repeats a few
    of its rounds with another header. Returns the CSV width (the widest
    file's location slots, which every CSV row is padded to), or 0 for
    JSON."""
    os.makedirs(dirpath, exist_ok=True)
    dups = [redelivered(r) for r in rng.sample(rounds, REEXPORT_ROUNDS)] if reexport else []
    if fmt == "csv":
        width = write_csv(rng, os.path.join(dirpath, stem + ".csv"), rounds, True)
        if dups:  # the re-export lacks the optional columns
            width = max(width, write_csv(
                rng, os.path.join(dirpath, stem + "_reexport.csv"), dups, False))
        return width
    write_json(rng, os.path.join(dirpath, stem + ".json"), rounds,
               fmt == "json_partial")
    if dups:
        write_json(rng, os.path.join(dirpath, stem + "_reexport.json"), dups,
                   fmt == "json_partial")
    return 0


def day_counts(rounds, width):
    """(real fixes, slots): CSV rows are padded to the export's width."""
    real = sum(len(r["locations"]) for r in rounds)
    slots = width * len(rounds) if width else real
    return real, slots


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def generate(out, seed):
    """Write the backfill exports and return the manifest."""
    rng = random.Random(seed)
    courses = {}
    backfill = os.path.join(out, "backfill")
    for course, layout, fmt, reexport in COURSES:
        rounds = []
        for d in range(BACKFILL_DAYS):
            day = FIRST_DAY + dt.timedelta(days=d)
            rounds += [make_round(rng, course, layout, t)
                       for t in tee_sheet(rng, day)]
        # one export per course, as the pilot's `<course>.rounds.csv`
        width = write_export(rng, os.path.join(backfill, course),
                             course + ".rounds", fmt, rounds, reexport)
        real, slots = day_counts(rounds, width)
        courses[course] = {
            "format": "csv" if fmt == "csv" else "json",
            "rounds": len(rounds), "fixes": slots, "padding": slots - real,
            "quarantined": sum(l["lon"] > 180 for r in rounds for l in r["locations"]),
        }

    manifest = {"seed": seed, "courses": courses, "raw_bytes": dir_bytes(backfill)}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


DASH_DAYS = 3
DASH_MAX_LOC = 60


def silver_rows(course, fmt, rounds, width):
    """Flatten rounds into silver telemetry rows. CSV courses carry padding
    slots up to the export's width, as the wide CSV leaves them."""
    for r in rounds:
        start = dt.datetime.strptime(r["startTime"], "%Y-%m-%dT%H:%M:%SZ")
        end = dt.datetime.strptime(r["endTime"], "%Y-%m-%dT%H:%M:%SZ")
        base = {
            "round_id": r["_id"], "course_id": course, "ingest_date": "2025-06-30",
            "round_start_time": r["startTime"], "round_end_time": r["endTime"],
            "start_hole": r["startHole"], "is_nine_hole": r["isNineHole"],
            "current_nine": r["currentNine"], "goal_time": r["goalTime"],
            "is_complete": r["complete"], "device": r["device"],
            "goal_name": r["goalName"], "is_secondary": r["isSecondary"],
            "is_auto_assigned": r["isAutoAssigned"],
            "current_section": r["currentSection"], "current_hole": r["currentHole"],
            "round_duration_minutes": round((end - start).total_seconds() / 60.0, 2),
        }
        slots = width if fmt == "csv" else len(r["locations"])
        for i in range(slots):
            row = dict(base, location_index=i)
            if i < len(r["locations"]):
                l = r["locations"][i]
                ts = start + dt.timedelta(seconds=int(l["startTime"]))
                row.update(
                    fix_timestamp=iso(ts), event_date=ts.date().isoformat(),
                    is_location_padding=False, is_timestamp_missing=False,
                    hole_number=l["hole"], section_number=l["sectionNumber"],
                    hole_section=l["holeSection"], nine_number=l["_nine"],
                    longitude=l["lon"], latitude=l["lat"],
                    is_cache=l["isCache"], is_projected=l["isProjected"],
                    is_problem=l["isProblem"], pace_gap=l["paceGap"],
                    positional_gap=l["positionalGap"], pace=l["pace"],
                    battery_percentage=l["batteryPercentage"],
                    geometry_wkt="POINT(%s %s)" % (l["lon"], l["lat"]),
                    event_year=ts.year, event_month=ts.month, event_day=ts.day,
                    event_weekday=ts.isoweekday() % 7 + 1)
            else:
                row.update(event_date="1900-01-01", is_location_padding=True,
                           is_timestamp_missing=True)
            yield row


def silver_seed(out, seed):
    """Write silver-shaped rows for DASH_DAYS days of every course and
    return the manifest (rows and rounds per course)."""
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    courses = {}
    with open(os.path.join(out, "silver_seed.json"), "w") as f:
        for course, layout, fmt, _ in COURSES:
            rounds = []
            for d in range(DASH_DAYS):
                day = FIRST_DAY + dt.timedelta(days=d)
                rounds += [make_round(rng, course, layout, t, DASH_MAX_LOC)
                           for t in tee_sheet(rng, day)]
            # out-of-bounds fixes never reach silver
            for r in rounds:
                r["locations"] = [l for l in r["locations"] if l["lon"] <= 180]
            width = max(len(r["locations"]) for r in rounds)
            n = 0
            for row in silver_rows(course, fmt, rounds, width):
                f.write(json.dumps(row, separators=(",", ":")) + "\n")
                n += 1
            courses[course] = {"rounds": len(rounds), "rows": n}
    manifest = {"seed": seed, "courses": courses,
                "raw_bytes": os.path.getsize(os.path.join(out, "silver_seed.json"))}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
