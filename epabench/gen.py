"""Seeded input generator for the EPA benchmark workloads.

Every file the program reads comes from here; the same seed gives
byte-identical inputs. Nothing is downloaded. The hourly CSV follows
FIXTURES.md A1: one file per pollutant x year (one per pollutant x day
for the lake's daily appends), the real EPA header, all 18 truncated
state names, NO2/SO2 in ppb.

Sizes live in SIZES so a reader can see each workload's input next to
the cache it stresses (see README.md, "Sizing").
"""
import datetime as dt
import json
import math
import os
import random

# 18 names EPA clips at 9 characters (MeasurementIngest.StateNameRepairs)
# followed by six names that need no repair.
TRUNCATED = [
    ("Californi", "California"), ("Connectic", "Connecticut"),
    ("Country O", "Country Of Mexico"), ("District", "District Of Columbia"),
    ("Massachus", "Massachusetts"), ("Mississip", "Mississippi"),
    ("New Hamps", "New Hampshire"), ("New Jerse", "New Jersey"),
    ("New Mexic", "New Mexico"), ("North Car", "North Carolina"),
    ("North Dak", "North Dakota"), ("Pennsylva", "Pennsylvania"),
    ("Puerto Ri", "Puerto Rico"), ("Rhode Isl", "Rhode Island"),
    ("South Car", "South Carolina"), ("South Dak", "South Dakota"),
    ("Washingto", "Washington"), ("West Virg", "West Virginia")]
PLAIN = ["Texas", "Ohio", "Utah", "Iowa", "Maine", "Oregon"]
STATES = [(i + 1, full, short) for i, (short, full) in enumerate(TRUNCATED)] + \
    [(19 + i, name, name) for i, name in enumerate(PLAIN)]

POLLUTANTS = ["PM25", "NO2", "SO2"]
UNITS = {"PM25": "Micrograms/cubic meter (LC)", "NO2": "Parts per billion",
         "SO2": "Parts per billion"}
PARAM = {"PM25": ("88101", "PM2.5 - Local Conditions"),
         "NO2": ("42602", "Nitrogen dioxide (NO2)"),
         "SO2": ("42401", "Sulfur dioxide")}
BASE = {"PM25": 12.0, "NO2": 18.0, "SO2": 3.0}

HEADER = ('"State Code","County Code","Site Num","Parameter Code","POC",'
          '"Latitude","Longitude","Datum","Parameter Name","Date Local",'
          '"Time Local","Date GMT","Time GMT","Sample Measurement",'
          '"Units of Measure","MDL","Uncertainty","Qualifier","Method Type",'
          '"Method Code","Method Name","State Name","County Name",'
          '"Date of Last Change"\n')

SIZES = {
    # epa_batch: one DAG pass reads every file under raw/: 24 hourly
    # readings on two days a month.
    "epa_batch": {"years": [2018, 2019, 2020], "days": [1, 16], "hours": list(range(24))},
    # lake_refresh: history loaded in set-up, then one day per iteration.
    "lake_refresh": {"history_days": 10, "days": 120,
                     "start": "2019-01-01", "hours": list(range(0, 24, 2))},
}


def _value(rng, pollutant, state_idx, day, hour):
    """A 2-decimal reading with a seasonal and weekly shape.

    The per-state offset keeps state averages apart, so ranks rarely tie.
    """
    season = 1.0 + 0.35 * math.sin(2 * math.pi * (day.timetuple().tm_yday / 365.25))
    weekend = 1.15 if day.weekday() >= 5 and state_idx % 3 == 0 else 1.0
    diurnal = 1.0 + 0.2 * math.sin(2 * math.pi * hour / 24.0)
    base = BASE[pollutant] * (0.6 + 0.05 * state_idx)
    v = base * season * weekend * diurnal * rng.uniform(0.55, 1.45)
    return max(0.01, round(v, 2))


def _days(start, n):
    return [start + dt.timedelta(days=i) for i in range(n)]


def write_hourly_csv(path, rng, pollutant, days, hours, clip_before_year):
    """One EPA hourly file, one site per state. States clip to 9 characters
    before the year given."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    code, pname = PARAM[pollutant]
    units = UNITS[pollutant]
    rows = 0
    with open(path, "w") as f:
        f.write(HEADER)
        for si, (scode, full, short) in enumerate(STATES):
            for day in days:
                name = short if day.year < clip_before_year else full
                ds = day.isoformat()
                pre = (f'"{scode:02d}","001","0001","{code}","1",'
                       f'"{30 + si * 0.5:.4f}","{-80 - si:.4f}","WGS84","{pname}","{ds}",')
                post = (f',"{units}","0.1","","","FEM","170","Instrumental","{name}",'
                        f'"County 1","2024-01-01"\n')
                for h in hours:
                    v = _value(rng, pollutant, si, day, h)
                    if pollutant != "PM25":
                        v = round(v, 1)
                    f.write(f'{pre}"{h:02d}:00","{ds}","{h:02d}:00","{v}"{post}')
                    rows += 1
    return rows


def gen_batch(root, seed):
    s = SIZES["epa_batch"]
    out = {"files": [], "rows": 0, "bytes": 0}
    for p in POLLUTANTS:
        for y in s["years"]:
            rng = random.Random(f"{seed}/raw/{p}/{y}")
            days = [d for d in _days(dt.date(y, 1, 1), 366)
                    if d.year == y and d.day in s["days"]]
            path = os.path.join(root, "raw", p, f"hourly_{p}_{y}.csv")
            out["rows"] += write_hourly_csv(path, rng, p, days, s["hours"], min(s["years"]) + 1)
            out["files"].append([p, path])
            out["bytes"] += os.path.getsize(path)
    ny, nst = len(s["years"]), len(STATES)
    # [least, most] rows the generator implies for Q01-Q10 over the PM25
    # layers. Q01, Q05 and Q09 keep every row ranked 10 or better (RANK):
    # a tie at the 10th place adds rows, and Q05 ranks a 4-decimal average,
    # so a tie can happen. Q07 counts (state, year, quartile) groups of
    # quartiles taken over all years: with two days a month a year may
    # miss a quartile, so only the bounds are known. The LIMIT-bounded
    # queries are exact.
    out["expected_query_rows"] = {
        "q01": [10 * ny, nst * ny], "q02": [50, 50], "q03": [10 * ny, 10 * ny],
        "q04": [nst * ny * 12] * 2, "q05": [20, nst], "q06": [50, 50],
        "q07": [nst * 4, nst * ny * 4], "q08": [15, 15], "q09": [20, nst], "q10": [15, 15]}
    return out


def gen_lake(root, seed):
    s = SIZES["lake_refresh"]
    start = dt.date.fromisoformat(s["start"])
    out = {"history_files": [], "days": [], "bytes": 0, "rows": 0}
    hist_days = _days(start, s["history_days"])
    for p in POLLUTANTS:
        path = os.path.join(root, "history", f"{p}.csv")
        out["rows"] += write_hourly_csv(path, random.Random(f"{seed}/hist/{p}"), p,
                                        hist_days, s["hours"], 0)
        out["bytes"] += os.path.getsize(path)
        out["history_files"].append([p, path])
    first = start + dt.timedelta(days=s["history_days"])
    for d in _days(first, s["days"]):
        files = []
        for p in POLLUTANTS:
            path = os.path.join(root, "days", d.isoformat(), f"{p}.csv")
            rows = write_hourly_csv(path, random.Random(f"{seed}/day/{p}/{d}"), p,
                                    [d], s["hours"], 0)
            files.append([p, path, rows, os.path.getsize(path)])
        out["days"].append({"date": d.isoformat(), "files": files})
    return out


def generate(workload, root, seed):
    os.makedirs(root, exist_ok=True)
    fn = {"epa_batch": gen_batch, "lake_refresh": gen_lake}[workload]
    manifest = fn(root, seed)
    manifest["sizes"] = SIZES[workload]
    manifest["seed"] = seed
    with open(os.path.join(root, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest
