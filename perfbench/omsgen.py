"""Seeded landing directories for the oms_dir workload, with ground truth.

The files reproduce the header dialects the operational pipeline's synonym
table maps (OmsPipeline.v5ColumnSynonyms):

* Johns-Hopkins style: ``Province/State,Country/Region,Lat,Long,Date,...``
  with ``M/d/yy`` dates and cumulative counters only, so the pipeline
  derives the daily deltas;
* OWID style: ``location,date,total_cases,new_cases,...`` with a
  ``per_million`` column;
* report style: ``country,report_date,cases,fatalities,latitude,longitude``
  (cumulative only);
* a JSON records array;
* one file whose columns map to nothing, which the pipeline must skip.

Disease keywords sit in the file names (covid, coronavirus, monkeypox,
mpox, ebola; two names carry none). The same seed always writes
byte-identical files.

The previous load the upserts merge into is generated as a small star
(CSV tables), so it does not depend on the code under test.

``truth()`` replays the pipeline's semantics on the generated rows: the
>= 2019 date filter, per-file delta derivation when a file has no
non-zero ``new_cases``, the (country, date) dedup-sum, and the
last-write-wins upsert of the landing load over the previous load.
"""

import datetime
import json
import os
import random

COUNTRIES = [
    ("Afghanistan", 33.9, 67.7), ("Albania", 41.2, 20.2),
    ("Algeria", 28.0, 1.7), ("Angola", -11.2, 17.9),
    ("Argentina", -38.4, -63.6), ("Australia", -25.3, 133.8),
    ("Austria", 47.5, 14.6), ("Bangladesh", 23.7, 90.4),
    ("Belgium", 50.5, 4.5), ("Bolivia", -16.3, -63.6),
    ("Brazil", -14.2, -51.9), ("Bulgaria", 42.7, 25.5),
    ("Cameroon", 7.4, 12.4), ("Canada", 56.1, -106.3),
    ("Chile", -35.7, -71.5), ("China", 35.9, 104.2),
    ("Colombia", 4.6, -74.3), ("Cuba", 21.5, -77.8),
    ("Denmark", 56.3, 9.5), ("Egypt", 26.8, 30.8),
    ("Ethiopia", 9.1, 40.5), ("Finland", 61.9, 25.7),
    ("France", 46.2, 2.2), ("Germany", 51.2, 10.5),
    ("Ghana", 7.9, -1.0), ("Greece", 39.1, 21.8),
    ("Guinea", 9.9, -9.7), ("India", 20.6, 79.0),
    ("Indonesia", -0.8, 113.9), ("Ireland", 53.4, -8.2),
    ("Italy", 41.9, 12.6), ("Japan", 36.2, 138.3),
    ("Kenya", -0.0, 37.9), ("Liberia", 6.4, -9.4),
    ("Mexico", 23.6, -102.6), ("Morocco", 31.8, -7.1),
    ("Nigeria", 9.1, 8.7), ("Norway", 60.5, 8.5),
    ("Peru", -9.2, -75.0), ("Poland", 51.9, 19.1),
    ("Portugal", 39.4, -8.2), ("Senegal", 14.5, -14.5),
    ("Sierra Leone", 8.5, -11.8), ("Spain", 40.5, -3.7),
    ("Sweden", 60.1, 18.6), ("Uganda", 1.4, 32.3),
    ("Ukraine", 48.4, 31.2), ("Viet Nam", 14.1, 108.3),
]

# (file stem, dialect, countries, days) of the landing directory: four
# reference-sized files of 40k rows (the reference's covid_global_3.csv
# holds 49k, monkeypox_report_2.csv 114k) and eleven small ones of 1k rows,
# in every dialect; with the unmappable file, 16 files. Run time follows
# the file count more than the row count (a few Spark jobs per file).
LANDING = [
    ("covid_global_0", "jhu", 40, 1000),
    ("monkeypox_report_0", "report", 40, 1000),
    ("coronavirus_owid_0", "owid", 40, 1000),
    ("ebola_cases_0", "json", 40, 1000),
    ("covid_global_1", "jhu", 10, 100),
    ("mpox_report_1", "report", 10, 100),
    ("flu_tracker_0", "owid", 10, 100),
    ("ebola_cases_1", "json", 10, 100),
    ("coronavirus_daily_0", "owid", 10, 100),
    ("mpox_global_0", "jhu", 10, 100),
    ("covid_report_0", "report", 10, 100),
    ("ebola_update_0", "json", 10, 100),
    ("flu_tracker_1", "owid", 10, 100),
    ("monkeypox_global_0", "jhu", 10, 100),
    ("covid_cases_0", "json", 10, 100),
]
UNMAPPABLE = "hospital_capacity.csv"
UNMAPPABLE_ROWS = 200
# the previous load's star: countries, diseases and days it covers
PREVIOUS = (12, ("COVID-19", "Monkeypox"), 60)
START = datetime.date(2019, 12, 20)


def _series(rnd, countries, days, first):
    """Rows (country, lat, long, date, cum_cases, cum_deaths, new_cases,
    new_deaths) for each country over `days` consecutive days."""
    rows = []
    for name, lat, lon in countries:
        cases = rnd.randint(0, 500)
        deaths = rnd.randint(0, 20)
        for d in range(days):
            nc = rnd.randint(0, 60)
            nd = rnd.randint(0, 4)
            cases += nc
            deaths += nd
            rows.append((name, lat, lon, first + datetime.timedelta(days=d),
                         cases, deaths, nc, nd))
    return rows


def _write(path, dialect, rows):
    if dialect == "json":
        recs = [{"country": c, "date": d.isoformat(), "total_cases": tc,
                 "total_deaths": td, "new_cases": nc, "new_deaths": nd}
                for c, _, _, d, tc, td, nc, nd in rows]
        with open(path, "w", encoding="utf-8") as f:
            json.dump(recs, f, separators=(",", ":"))
        return
    with open(path, "w", encoding="utf-8", newline="") as f:
        if dialect == "jhu":
            f.write("Province/State,Country/Region,Lat,Long,Date,"
                    "Confirmed,Deaths,Recovered,Active\n")
            for c, lat, lon, d, tc, td, _, _ in rows:
                date = "%d/%d/%02d" % (d.month, d.day, d.year % 100)
                f.write(",%s,%.4f,%.4f,%s,%d,%d,%d,%d\n" % (
                    c, lat, lon, date, tc, td, tc // 2, tc - tc // 2 - td))
        elif dialect == "owid":
            f.write("iso_code,continent,location,date,total_cases,new_cases,"
                    "total_deaths,new_deaths,total_cases_per_million\n")
            for c, _, _, d, tc, td, nc, nd in rows:
                f.write("%s,World,%s,%s,%d,%d,%d,%d,%.3f\n" % (
                    c[:3].upper(), c, d.isoformat(), tc, nc, td, nd,
                    tc / 37.0))
        else:
            f.write("country,report_date,cases,fatalities,latitude,"
                    "longitude\n")
            for c, lat, lon, d, tc, td, _, _ in rows:
                f.write("%s,%s,%d,%d,%.4f,%.4f\n" % (
                    c, d.isoformat(), tc, td, lat, lon))


def _file_rows(rnd, dialect, n_countries, days):
    countries = rnd.sample(COUNTRIES, n_countries)
    # Johns-Hopkins files open in late 2018: the pipeline must drop those
    # rows before deriving deltas
    first = datetime.date(2018, 12, 15) if dialect == "jhu" else START
    first += datetime.timedelta(days=rnd.randint(0, 10))
    return _series(rnd, countries, days, first)


def generate(out_dir, seed):
    """Writes under out_dir the landing directory a load reads (landing/)
    and the previous load's star as CSV tables (prev/). Returns the ground
    truth of loading the one into the other."""
    rnd = random.Random(seed)
    prev = _previous(rnd, os.path.join(out_dir, "prev"))
    return truth(_landing(rnd, os.path.join(out_dir, "landing")), prev)


def _landing(rnd, d):
    os.makedirs(d, exist_ok=True)
    files = []
    for stem, dialect, n, days in LANDING:
        rows = _file_rows(rnd, dialect, n, days)
        ext = ".json" if dialect == "json" else ".csv"
        _write(os.path.join(d, stem + ext), dialect, rows)
        files.append((stem, dialect, rows))
    with open(os.path.join(d, UNMAPPABLE), "w", encoding="utf-8",
              newline="") as f:
        f.write("facility,beds,occupancy\n")
        for i in range(UNMAPPABLE_ROWS):
            f.write("H%04d,%d,%.2f\n" % (i, rnd.randint(10, 900),
                                          rnd.random()))
    return files


def _previous(rnd, d):
    """The previous load: a star over some countries and days that
    overlap the landing files. Returns (countries, diseases, facts)."""
    n, diseases, days = PREVIOUS
    countries = sorted(c[0] for c in rnd.sample(COUNTRIES, n))
    os.makedirs(d, exist_ok=True)

    def table(name, header, rows):
        with open(os.path.join(d, name + ".csv"), "w", encoding="utf-8",
                  newline="") as f:
            f.write(header + "\n")
            for r in rows:
                f.write(",".join(str(v) for v in r) + "\n")
    table("pays", "country,id_pays",
          [(c, i + 1) for i, c in enumerate(countries)])
    table("region", "id_region,nom_region,id_pays",
          [(i + 1, c, i + 1) for i, c in enumerate(countries)])
    table("maladie", "id_maladie,nom_maladie",
          [(i + 1, m) for i, m in enumerate(diseases)])
    facts = {}
    rows = []
    for i, c in enumerate(countries):
        first = START + datetime.timedelta(days=rnd.randint(-10, 10))
        for k in range(days):
            date = (first + datetime.timedelta(days=k)).isoformat()
            cases = rnd.randint(0, 80)
            facts[(c, date)] = cases
            rows.append((i + 1, date, rnd.randint(1, len(diseases)),
                         "%d.0" % rnd.randint(0, 5), "%d.0" % cases,
                         "%d.0" % rnd.randint(0, 900)))
    table("statistique",
          "id_region,date,id_maladie,nouveau_mort,nouveau_cas,total_mort",
          rows)
    return set(countries), set(diseases), facts


def disease(stem):
    s = stem.lower()
    for key, name in (("covid", "COVID-19"), ("coronavirus", "COVID-19"),
                      ("monkeypox", "Monkeypox"), ("mpox", "Monkeypox"),
                      ("ebola", "Ebola Virus Disease")):
        if key in s:
            return name
    return "Inconnue"


def _facts(files):
    """(country, date) -> summed daily cases over one directory's files."""
    facts = {}
    for _, dialect, rows in files:
        kept = [r for r in rows if r[3] >= datetime.date(2019, 1, 1)]
        given = dialect in ("owid", "json") and any(r[6] != 0 for r in kept)
        by_country = {}
        for r in kept:
            by_country.setdefault(r[0], []).append(r)
        for country, rs in by_country.items():
            rs.sort(key=lambda r: (r[3], r[4], r[5]))
            prev = None
            for r in rs:
                nc = r[6] if given else (0 if prev is None else r[4] - prev)
                prev = r[4]
                key = (country, r[3].isoformat())
                facts[key] = facts.get(key, 0) + nc
    return facts


def truth(files, prev):
    prev_countries, prev_diseases, old = prev
    new = _facts(files)
    merged = dict(old)
    merged.update(new)
    landed = {r[0] for f in files for r in f[2]}
    countries = prev_countries | landed
    return {
        "processed": len(files), "skipped": 1,
        "pays": len(countries), "region": len(countries),
        "maladie": len(prev_diseases | {disease(f[0]) for f in files}),
        "fact_rows": len(merged),
        "sum_nouveau_cas": sum(merged.values()),
        "region_geo": len(landed),
        "input_rows": sum(len(f[2]) for f in files) + UNMAPPABLE_ROWS,
    }
