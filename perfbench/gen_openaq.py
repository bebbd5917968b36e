"""Seeded OpenAQ-shaped inputs for the elt_daily workload.

Writes, under <out>/:

  pages/<day>/measurements/<sensor_id>/page_<n>.ndjson   API pages, one record a line
  pages/<day>/measurements/<sensor_id>/page_<n>.failures transient failures to inject
  pages/<day>/locations/<location_id>/page_1.ndjson      that day's location snapshot
  tails/<day>.ndjson                                    blank and corrupt lake lines
  manifest.json                                          sizes, shares and expected counts

The page tree is read by the program's FixturePageClient through the
graft-paged source. Location name, country and coordinates are drawn once
per location and kept on every snapshot day: the mart grain includes
latitude/longitude, so drifting coordinates would multiply mart rows.

Usage: python3 gen_openaq.py <out_dir> <seed> <locations> <days> <backfill_days>
"""
import datetime
import json
import os
import random
import sys

# (parameter id, name, units, low, high) -- valid physical ranges follow
# Gold.intValidMeasurements; both marts get values.
PARAMETERS = [
    (2, "pm25", "µg/m³", 1.0, 80.0),
    (1, "pm10", "µg/m³", 2.0, 150.0),
    (3, "o3", "µg/m³", 5.0, 120.0),
    (5, "no2", "µg/m³", 1.0, 90.0),
    (100, "temperature", "c", -15.0, 35.0),
    (98, "relativehumidity", "%", 10.0, 100.0),
]
COUNTRIES = [(1, "US", "United States"), (2, "DE", "Germany"), (3, "IN", "India"),
             (4, "BR", "Brazil"), (5, "AU", "Australia"), (6, "FR", "France")]
TIMEZONES = ["America/New_York", "Europe/Berlin", "Asia/Kolkata",
             "America/Sao_Paulo", "Australia/Sydney", "Europe/Paris"]

FIRST_DAY = datetime.date(2025, 3, 1)
PAGE_LIMIT = 10          # records per page: 24 hourly readings -> 3 pages
SHARE_DUP = 0.03         # records repeated on the next page (dropped in flight)
SHARE_STALE = 0.05       # sensor-days that re-extract the previous day's last 3 hours
SHARE_FLAGGED = 0.02     # readings with hasFlags=true (dropped by the valid gate)
SHARE_OUT_OF_RANGE = 0.01  # readings outside physical bounds (dropped by the valid gate)
SHARE_FAILING_PAGE = 0.02  # pages whose first 1-2 fetches fail (retried, backoffMs small)
SHARE_CORRUPT = 0.004    # lake lines that are truncated JSON, per extracted record
SHARE_BLANK = 0.004      # blank lake lines, per extracted record


def iso(t):
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def measurement(rng, param, start):
    pid, name, units, lo, hi = param
    flagged = rng.random() < SHARE_FLAGGED
    bad = rng.random() < SHARE_OUT_OF_RANGE
    value = round(rng.uniform(lo, hi), 1)
    if bad:
        value = -5.0 if pid != 100 else 75.0
    end = start + datetime.timedelta(hours=1)
    return {"value": value,
            "parameter": {"id": pid, "name": name, "units": units},
            "period": {"label": "1 hour", "interval": "01:00:00",
                       "datetimeFrom": {"utc": iso(start), "local": iso(start)},
                       "datetimeTo": {"utc": iso(end), "local": iso(end)}},
            "flagInfo": {"hasFlags": flagged},
            "coordinates": None, "summary": None,
            "coverage": {"expectedCount": 1, "observedCount": 1}}


def write_lines(path, lines):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")


def main(out, seed, n_locations, n_days, backfill_days):
    rng = random.Random(seed)
    locations = []
    for i in range(n_locations):
        c = rng.randrange(len(COUNTRIES))
        loc_id = 1000 + i
        sensors = [(100000 + loc_id * 10 + k, p) for k, p in enumerate(PARAMETERS)]
        locations.append({
            "id": loc_id, "name": f"Station {loc_id}", "timezone": TIMEZONES[c],
            "country": {"id": COUNTRIES[c][0], "code": COUNTRIES[c][1], "name": COUNTRIES[c][2]},
            "provider": {"id": 119, "name": "AirNow"}, "isMobile": False, "isMonitor": True,
            "coordinates": {"latitude": round(rng.uniform(-60, 70), 4),
                            "longitude": round(rng.uniform(-170, 170), 4)},
            "sensors": [{"id": sid, "name": f"{p[1]} {p[2]}",
                         "parameter": {"id": p[0], "name": p[1], "units": p[2], "displayName": p[1]}}
                        for sid, p in sensors],
            "_sensors": sensors})

    days, totals = [], {"page_records": 0, "dup_records": 0, "stale_records": 0,
                        "extracted_records": 0, "corrupt_lines": 0, "blank_lines": 0,
                        "failing_pages": 0, "injected_failures": 0}
    prev = {}  # sensor id -> that sensor's readings of the previous day
    for d in range(n_days):
        day = FIRST_DAY + datetime.timedelta(days=d)
        root = os.path.join(out, "pages", day.isoformat())
        extracted = 0
        for loc in locations:
            snap = {k: v for k, v in loc.items() if k != "_sensors"}
            write_lines(os.path.join(root, "locations", str(loc["id"]), "page_1.ndjson"),
                        [json.dumps(snap, ensure_ascii=False)])
            for sid, param in loc["_sensors"]:
                midnight = datetime.datetime.combine(day, datetime.time())
                readings = [measurement(rng, param, midnight + datetime.timedelta(hours=h))
                            for h in range(24)]
                records = list(readings)
                if sid in prev and rng.random() < SHARE_STALE:
                    records = prev[sid][-3:] + records
                    totals["stale_records"] += 3
                prev[sid] = readings
                unique = len(records)
                out_records = []
                for r in records:
                    out_records.append(r)
                    if rng.random() < SHARE_DUP:
                        out_records.append(r)
                        totals["dup_records"] += 1
                # in-flight dedup is first-wins per entity, whichever page
                # the copy lands on
                pages = [out_records[i:i + PAGE_LIMIT]
                         for i in range(0, len(out_records), PAGE_LIMIT)]
                sdir = os.path.join(root, "measurements", str(sid))
                for n, page in enumerate(pages, start=1):
                    write_lines(os.path.join(sdir, f"page_{n}.ndjson"),
                                [json.dumps(r, ensure_ascii=False) for r in page])
                    if rng.random() < SHARE_FAILING_PAGE:
                        k = rng.randint(1, 2)
                        with open(os.path.join(sdir, f"page_{n}.failures"), "w") as f:
                            f.write(str(k))
                        totals["failing_pages"] += 1
                        totals["injected_failures"] += k
                totals["page_records"] += len(out_records)
                extracted += unique
        n_corrupt = max(1, round(extracted * SHARE_CORRUPT))
        n_blank = max(1, round(extracted * SHARE_BLANK))
        tail = []
        for i in range(n_corrupt + n_blank):
            if i < n_corrupt:
                tail.append('{"data": {"value": 1.0, "parameter": {"id": 2, "name": "pm25"')
            else:
                tail.append("")
        rng.shuffle(tail)
        write_lines(os.path.join(out, "tails", f"{day.isoformat()}.ndjson"), tail)
        totals["corrupt_lines"] += n_corrupt
        totals["blank_lines"] += n_blank
        totals["extracted_records"] += extracted
        days.append({"day": day.isoformat(), "extracted_records": extracted,
                     "corrupt_lines": n_corrupt, "blank_lines": n_blank})

    manifest = {
        "seed": seed, "location_ids": [loc["id"] for loc in locations],
        "sensor_ids": [sid for loc in locations for sid, _ in loc["_sensors"]],
        "days": days, "backfill_days": backfill_days, "page_limit": PAGE_LIMIT,
        "shares": {"dup": SHARE_DUP, "stale": SHARE_STALE, "flagged": SHARE_FLAGGED,
                   "out_of_range": SHARE_OUT_OF_RANGE, "failing_page": SHARE_FAILING_PAGE,
                   "corrupt": SHARE_CORRUPT, "blank": SHARE_BLANK},
        "totals": totals,
        # bronze holds every extracted record once per run (in-flight dedup
        # drops the page duplicates), and no corrupt or blank line
        "expected_bronze_measurements": totals["extracted_records"],
        "expected_bronze_locations": n_locations * n_days,
    }
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)


if __name__ == "__main__":
    a = sys.argv[1:]
    main(a[0], *(int(x) for x in a[1:5]))
