#!/usr/bin/env python3
"""Derive the raw air-quality test fixture from the vendored staged golden.

Reads src/test/resources/golden/aq_staged_from_committed_raw.csv (the
reference transform's output over its committed raws: 5 cities x 109
hours, one row per (city, time)) and writes one Open-Meteo hourly-array
JSON file per city to src/test/resources/aq_raw/, in the FIXTURES.md A2
shape: parallel `hourly` arrays for time and the six pollutants, no city
field in the payload (the city comes from the filename stem), and no
`uv_index` key.

Each staged row is already the (city, time) mean, so one array element
per row reproduces it exactly; values are written with Python's float
repr, which round-trips every double. Running the staged transform over
the output therefore gives back the golden CSV: the AQ golden test is a
round trip over this derived fixture.

Usage: python3 tools/gen_aq_fixture.py   (from the repo root; idempotent)
"""
import csv
import json
import os
from collections import defaultdict

GOLDEN = "src/test/resources/golden/aq_staged_from_committed_raw.csv"
OUT_DIR = "src/test/resources/aq_raw"
POLLUTANTS = ["pm10", "pm2_5", "carbon_monoxide", "nitrogen_dioxide",
              "sulphur_dioxide", "ozone"]
UNITS = {"time": "iso8601", "pm10": "μg/m³", "pm2_5": "μg/m³",
         "carbon_monoxide": "μg/m³", "nitrogen_dioxide": "μg/m³",
         "sulphur_dioxide": "μg/m³", "ozone": "μg/m³"}
STAMP = "20251215T130000Z"


def number(text: str):
    return None if text == "" else float(text)


def main() -> None:
    by_city = defaultdict(list)
    with open(GOLDEN, newline="") as f:
        for row in csv.DictReader(f):
            by_city[row["city"]].append(row)
    os.makedirs(OUT_DIR, exist_ok=True)
    for city, rows in sorted(by_city.items()):
        rows.sort(key=lambda r: r["time"])
        # "2025-12-11 00:00:00+00:00" -> Open-Meteo's "2025-12-11T00:00"
        hourly = {"time": [r["time"][:16].replace(" ", "T") for r in rows]}
        for p in POLLUTANTS:
            hourly[p] = [number(r[p]) for r in rows]
        payload = {"utc_offset_seconds": 0, "timezone": "GMT",
                   "timezone_abbreviation": "GMT", "hourly_units": UNITS,
                   "hourly": hourly}
        path = os.path.join(OUT_DIR, f"{city}_raw_{STAMP}.json")
        with open(path, "w", encoding="utf-8") as out:
            json.dump(payload, out, ensure_ascii=False, separators=(",", ":"))
            out.write("\n")
        print(f"wrote {path}: {len(rows)} hours")


if __name__ == "__main__":
    main()
