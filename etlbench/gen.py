"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its variant number, so the same
variant always yields byte-identical files.

* ``etl_inputs`` writes one fixture tree per run date in the layout
  ``graft.apps.PipelineApps`` reads (``eia930/``, ``eia7a/``, ``eia814/``,
  ``openmeteo/``), at the reference's daily volume: ~70 balancing
  authorities x 24 hours across the three EIA-930 endpoints in 5,000-row
  pages, and 150 coordinates x 24 hours x 30 weather variables. The edge
  rows the reference cleans away are included: non-numeric values, rows
  past the cutoff hour, respondents missing from the reference table,
  "Total" customs rows, null county names, rows outside the target quarter,
  a null weather reading and one location with fewer than 24 hours.
* ``corpus_inputs`` writes ``documents.parquet`` in the shape of the
  engine's sf0.1 documents table (5,000 rows): words drawn uniformly from
  a 30-word vocabulary, 10-100 words per document, 5% near-duplicates (an
  earlier document's text with the word "dup" appended), languages en 40%
  and de/es/fr/zh 15% each, twenty sources in rotation.
"""

import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PAGE_ROWS = 5000

VOCAB = ("a the data table row column key value part hash join merge sort "
         "scan filter group agg order line query spark batch stream window "
         "vector small big fast slow customer").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.40, 0.15, 0.15, 0.15, 0.15]

FUEL_TYPES = ["COL", "NG", "NUC", "OIL", "SUN", "WAT", "WND", "OTH"]
REGION_TYPES = ["D", "DF", "NG", "TI"]
WEATHER_VARS = [
    "temperature_2m", "relative_humidity_2m", "dew_point_2m",
    "apparent_temperature", "precipitation", "rain", "snowfall", "snow_depth",
    "weather_code", "pressure_msl", "surface_pressure", "cloud_cover",
    "cloud_cover_low", "cloud_cover_mid", "cloud_cover_high",
    "et0_fao_evapotranspiration", "vapour_pressure_deficit", "wind_speed_10m",
    "wind_speed_100m", "wind_direction_10m", "wind_direction_100m",
    "wind_gusts_10m", "soil_temperature_0_to_7cm", "soil_temperature_7_to_28cm",
    "soil_temperature_28_to_100cm", "soil_temperature_100_to_255cm",
    "soil_moisture_0_to_7cm", "soil_moisture_7_to_28cm",
    "soil_moisture_28_to_100cm", "soil_moisture_100_to_255cm"]
STATES = [
    "Alabama", "Alaska", "Arizona", "Arkansas", "California", "Colorado",
    "Connecticut", "Delaware", "Florida", "Georgia", "Hawaii", "Idaho",
    "Illinois", "Indiana", "Iowa", "Kansas", "Kentucky", "Louisiana", "Maine",
    "Maryland", "Massachusetts", "Michigan", "Minnesota", "Mississippi",
    "Missouri", "Montana", "Nebraska", "Nevada", "New Hampshire", "New Jersey",
    "New Mexico", "New York", "North Carolina", "North Dakota", "Ohio",
    "Oklahoma", "Oregon", "Pennsylvania", "Rhode Island", "South Carolina",
    "South Dakota", "Tennessee", "Texas", "Utah", "Vermont", "Virginia",
    "Washington", "West Virginia", "Wisconsin", "Wyoming"]

N_BAS = 70
FIRST_RUN_DATE = dt.date(2026, 8, 12)


def run_dates(variant: int, n: int) -> list:
    """`n` consecutive run dates; the variant shifts the first one."""
    first = FIRST_RUN_DATE + dt.timedelta(days=7 * variant)
    return [first + dt.timedelta(days=i) for i in range(n)]


# ---------------------------------------------------------------- corpus

def corpus_inputs(out: str, variant: int, n_docs: int) -> None:
    rng = np.random.default_rng(1_000 + variant)
    os.makedirs(out, exist_ok=True)
    # the same multiset of lengths in every variant (spread evenly over
    # 10-100 words, shuffled), so variants differ in content, not volume
    lengths = rng.permutation(10 + np.arange(n_docs) * 91 // n_docs)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    # 5% near-duplicates, as in the reference table: an earlier document's
    # text plus the word "dup", the shared n-grams the boilerplate and dedup
    # operators exist to find
    for i in sorted(rng.choice(np.arange(1, n_docs), n_docs // 20, replace=False)):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    ids = np.arange(n_docs, dtype=np.int64)
    docs = pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(len(LANGS), n_docs, p=LANG_WEIGHTS)]),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    pq.write_table(docs, os.path.join(out, "documents.parquet"))


# ---------------------------------------------------------------- ETL

def _envelope(rows: list, frequency: str) -> str:
    return json.dumps({"response": {"data": rows, "total": str(len(rows))},
                       "request": {"params": {"frequency": frequency}}})


def _write_pages(d: str, rows: list, frequency: str, empty_tail: bool) -> None:
    os.makedirs(d, exist_ok=True)
    pages = [rows[i:i + PAGE_ROWS] for i in range(0, len(rows), PAGE_ROWS)]
    if empty_tail:
        pages.append([])
    for i, page in enumerate(pages):
        with open(os.path.join(d, f"page{i}.json"), "w") as f:
            f.write(_envelope(page, frequency))


def _value(rng: random.Random) -> str:
    """A numeric string, occasionally one the cleaners must coerce away."""
    r = rng.random()
    if r < 0.002:
        return "NA"
    if r < 0.003:
        return ""
    return f"{rng.uniform(-50, 5000):.2f}"


def _eia930(root: str, run_date: dt.date, rng: random.Random) -> None:
    bas = [f"B{i:03d}" for i in range(N_BAS)]
    d = os.path.join(root, "eia930")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "ba.csv"), "w") as f:
        f.write("BA Code,BA Name,Time Zone,Region/Country Code,"
                "Region/Country Name,Generation Only BA\n")
        for i, ba in enumerate(bas):
            f.write(f"{ba},{ba} name,{['Eastern', 'Central', 'Mountain', 'Pacific'][i % 4]},"
                    f"US{i % 13},Region {i % 13},{'Yes' if i % 9 == 0 else 'No'}\n")
    with open(os.path.join(d, "energy.csv"), "w") as f:
        f.write("Energy Source Code,Energy Source Name\n")
        for ft in FUEL_TYPES:
            f.write(f"{ft},{ft} source\n")
    # 24 hours before the cutoff (run date - 2 days, hour 00) plus two hours
    # at/after it, which the cleaner trims; three unknown respondents are
    # semi-join filtered.
    cutoff = dt.datetime.combine(run_date - dt.timedelta(days=2), dt.time())
    hours = [cutoff + dt.timedelta(hours=h) for h in range(-24, 2)]
    respondents = bas + ["X01", "X02", "X03"]

    def rows(make):
        out = []
        for t in hours:
            period = t.strftime("%Y-%m-%dT%H")
            for r in respondents:
                out.extend(make(period, r))
        return out

    fuel = rows(lambda p, r: [
        {"period": p, "respondent": r, "respondent-name": f"{r} name",
         "fueltype": ft, "type-name": f"{ft} name", "value": _value(rng),
         "value-units": "megawatthours"} for ft in FUEL_TYPES])
    region = rows(lambda p, r: [
        {"period": p, "respondent": r, "respondent-name": f"{r} name",
         "type": ty, "type-name": f"{ty} name", "value": _value(rng),
         "value-units": "megawatthours"} for ty in REGION_TYPES])
    inter = rows(lambda p, r: [
        {"period": p, "fromba": r, "fromba-name": f"{r} name",
         "toba": bas[(int(r[1:]) * 7 + k) % N_BAS] if r[0] == "B" else bas[k],
         "toba-name": "neighbor", "value": _value(rng),
         "value-units": "megawatthours"} for k in range(3)])
    _write_pages(os.path.join(d, "fuel"), fuel, "hourly", empty_tail=False)
    _write_pages(os.path.join(d, "region"), region, "hourly", empty_tail=False)
    _write_pages(os.path.join(d, "interchange"), inter, "hourly", empty_tail=False)


def _quarter(day: dt.date) -> tuple:
    return day.year, (day.month - 1) // 3 + 1


def _eia7a(root: str, run_date: dt.date, rng: random.Random) -> None:
    # target quarter = run date minus 6 months; pages arrive newest first and
    # end with rows from the quarter before it, which stop the fetch
    m = run_date.month - 6
    y, q = _quarter(dt.date(run_date.year + (m - 1) // 12, (m - 1) % 12 + 1, 1))
    target = f"{y}-Q{q}"
    prev = f"{y}-Q{q - 1}" if q > 1 else f"{y - 1}-Q4"
    d = os.path.join(root, "eia7a")

    def customs(period):
        district = rng.choice(["Buffalo", "Detroit", "Seattle", "Norfolk", "Total"])
        return {"period": period, "exportImportType": rng.choice(["import", "export"]),
                "coalRankId": rng.choice(["BIT", "SUB", "LIG"]),
                "coalRankDescription": "rank", "countryId": rng.choice(["CA", "CO", "AU"]),
                "countryDescription": "country", "customsDistrictId": f"{rng.randrange(40):02d}",
                "customsDistrictDescription": district, "price": _value(rng),
                "quantity": f"{rng.randrange(1, 90000)}", "price-units": "usd",
                "quantity-units": "tons"}

    def mine(period):
        row = {"period": period, "plantStateId": "AL", "plantStateDescription": "Alabama",
               "mineStateId": rng.choice(["WV", "KY", "WY"]), "mineStateDescription": "state",
               "mineTypeId": rng.choice(["U", "S"]), "mineTypeDescription": "type",
               "mineMSHAID": f"{rng.randrange(4_000_000, 4_700_000)}", "mineName": "Mine",
               "mineBasinId": "APP", "mineBasinDescription": "Appalachia",
               "mineCountyId": f"{rng.randrange(1, 120)}",
               "mineCountyName": None if rng.random() < 0.1 else "County",
               "contractType": "Contract", "transportationMode": "Rail",
               "coalSupplier": "Supplier", "coalRankId": "BIT",
               "coalRankDescription": "Bituminous", "plantId": f"{rng.randrange(1, 9000)}",
               "plantName": "Plant", "ash-content": f"{rng.uniform(3, 15):.1f}",
               "heat-content": f"{rng.randrange(8000, 13000)}", "price": _value(rng),
               "quantity": f"{rng.randrange(100, 40000)}",
               "sulfur-content": f"{rng.uniform(0.2, 4):.2f}"}
        for u in ["ash-content", "heat-content", "price", "quantity", "sulfur-content"]:
            row[u + "-units"] = "units"
        return row

    for sub, make, n in [("customs", customs, 600), ("mine", mine, 900)]:
        rows = [make(target) for _ in range(n)] + [make(prev) for _ in range(40)]
        _write_pages(os.path.join(d, sub), rows, "quarterly", empty_tail=False)


def _eia814(root: str, run_date: dt.date, rng: random.Random) -> None:
    rows = []
    for back in range(1, 13):
        m = run_date.month - back
        period = f"{run_date.year + (m - 1) // 12}-{(m - 1) % 12 + 1:02d}"
        for _ in range(150):
            rows.append({
                "period": period, "originId": rng.choice(["CA", "MX", "SA", "IQ"]),
                "originName": "origin", "originType": "CTY", "originTypeName": "Country",
                "destinationId": f"{rng.randrange(10, 60)}", "destinationName": "PADD",
                "destinationType": "PAD", "destinationTypeName": "PAD District",
                "gradeId": rng.choice(["HSO", "LSW", "MED"]), "gradeName": "grade",
                "quantity": _value(rng), "quantity-units": "thousand barrels"})
    _write_pages(os.path.join(root, "eia814"), rows, "monthly", empty_tail=True)


def _openmeteo(root: str, run_date: dt.date, rng: random.Random) -> None:
    d = os.path.join(root, "openmeteo")
    os.makedirs(d, exist_ok=True)
    coords = []
    for s_i, state in enumerate(STATES):
        for k in range(3):
            coords.append((state, round(25 + s_i * 0.45 + k * 0.1, 2),
                           round(-120 + s_i * 0.9 - k * 0.1, 2)))
    with open(os.path.join(d, "coords.csv"), "w") as f:
        f.write("State,Latitude,Longitude\n")
        for state, lat, lon in coords:
            f.write(f"{state},{lat},{lon}\n")
    day = dt.datetime.combine(run_date - dt.timedelta(days=1), dt.time(),
                              tzinfo=dt.timezone.utc)
    start = int(day.timestamp())
    for i, (_, lat, lon) in enumerate(coords):
        n_hours = 23 if i == 7 else 24
        hourly = {"time": [start + 3600 * h for h in range(n_hours)]}
        for v in WEATHER_VARS:
            hourly[v] = [round(rng.uniform(-20, 40), 3) for _ in range(n_hours)]
        if i == 3:
            hourly["temperature_2m"][5] = None
        body = {"latitude": lat, "longitude": lon, "utc_offset_seconds": 0,
                "hourly": hourly}
        with open(os.path.join(d, f"loc{i:03d}.json"), "w") as f:
            json.dump(body, f)


def etl_inputs(out: str, variant: int, n_dates: int) -> list:
    """One fixture tree per run date under `out/<run date>/`."""
    dates = run_dates(variant, n_dates)
    for day in dates:
        rng = random.Random(f"{variant}:{day.isoformat()}")
        root = os.path.join(out, day.isoformat())
        _eia930(root, day, rng)
        _eia7a(root, day, rng)
        _eia814(root, day, rng)
        _openmeteo(root, day, rng)
    return [d.isoformat() for d in dates]
