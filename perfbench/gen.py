"""Seeded input generators for the benchmark.

Everything here is a pure function of (seed, size): the same seed
writes byte-identical inputs. Two families:

* ``citibike_month`` — one month of Citi-Bike-shaped staging input as
  the reference pipeline crawls it: trip events as two gzip CSVs
  (NYC + Jersey City) with the trip-history headers, hourly weather
  observations at :51 past the hour as JSON array files, an
  uppercase-header covid CSV, and GBFS station snapshots. The crawled
  oddities stay in: ~2% blank birth years, non-numeric ``short_name``s
  (``JC005``), null gusts, one missing covid day per month and
  duplicated snapshot rows.
* ``lake_tables`` — the TPC-H-ish star tables plus ``events``,
  ``documents`` and ``embeddings`` that the query suite reads, with the
  column types and value ranges of the engine's test tables.
"""
import csv
import gzip
import io
import json
import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

EVENT_HEADERS = ["tripduration", "starttime", "stoptime",
                 "start station id", "start station name",
                 "start station latitude", "start station longitude",
                 "end station id", "end station name",
                 "end station latitude", "end station longitude",
                 "bikeid", "usertype", "birth year", "gender"]

STATION_HEADERS = ["", "station_id", "external_id", "name", "short_name",
                   "region_id", "legacy_id", "station_type", "lat", "lon",
                   "capacity", "has_kiosk", "electric_bike_surcharge_waiver",
                   "eightd_has_key_dispenser", "rental_methods"]

COVID_HEADERS = ["", "DATE_OF_INTEREST",
                 "BX_CASE_COUNT", "BX_PROBABLE_CASE_COUNT",
                 "BK_CASE_COUNT", "BK_PROBABLE_CASE_COUNT",
                 "MN_CASE_COUNT", "MN_PROBABLE_CASE_COUNT",
                 "QN_CASE_COUNT", "QN_PROBABLE_CASE_COUNT",
                 "SI_CASE_COUNT", "SI_PROBABLE_CASE_COUNT", "INCOMPLETE"]

NYC_STATIONS = range(3000, 3900)
JC_STATIONS = range(3900, 4000)
JC_SHARE = 0.13


def _rng(seed, *salt):
    return np.random.default_rng([seed, *salt])


def _write_gz_csv(path, headers, rows):
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(headers)
    w.writerows(rows)
    # mtime=0: identical bytes for identical rows
    with open(path, "wb") as raw, \
            gzip.GzipFile(fileobj=raw, mode="wb", mtime=0) as f:
        f.write(buf.getvalue().encode())


def _month_bounds(year, month):
    start = datetime(year, month, 1, tzinfo=timezone.utc)
    nxt = datetime(year + month // 12, month % 12 + 1, 1, tzinfo=timezone.utc)
    return start, nxt


def citibike_month(out, seed, year, month, n_trips):
    """Write one month of staging input under ``out``."""
    for sub in ("events", "weathers", "stations", "covids"):
        os.makedirs(os.path.join(out, sub), exist_ok=True)
    rng = _rng(seed, year, month)
    start, end = _month_bounds(year, month)
    t0 = int(start.timestamp())
    month_secs = int((end - start).total_seconds())
    tag = f"{year}{month:02d}"

    n_jc = int(n_trips * JC_SHARE)
    ids = np.arange(NYC_STATIONS.start, JC_STATIONS.stop)
    names = np.array([f"st {i}" for i in ids], dtype=object)
    lats = np.array([f"{40.7 + i / 1e5:.6f}" for i in ids], dtype=object)
    lons = np.array([f"{-74.0 + i / 1e5:.6f}" for i in ids], dtype=object)
    for fname, n, stations in (
            (f"{tag}-citibike-tripdata.csv.gz", n_trips - n_jc, NYC_STATIONS),
            (f"JC-{tag}-citibike-tripdata.csv.gz", n_jc, JC_STATIONS)):
        secs = np.sort(rng.integers(0, month_secs, n))
        frac = np.char.zfill(rng.integers(0, 10000, n).astype(str), 4)
        dur = rng.integers(61, 7200, n)
        s_id = rng.integers(stations.start, stations.stop, n)
        e_id = rng.integers(stations.start, stations.stop, n)
        bike = rng.integers(30000, 45000, n)
        subscriber = rng.random(n) < 0.8
        blank_birth = rng.random(n) < 0.02
        birth = rng.integers(1940, 2004, n)
        gender = rng.integers(0, 3, n)

        def stamp(offsets):
            t = (np.datetime64(t0, "s") + offsets).astype("datetime64[s]")
            return np.char.add(np.char.add(
                np.char.replace(np.datetime_as_string(t), "T", " "), "."), frac)

        s_ix, e_ix = s_id - ids[0], e_id - ids[0]
        table = pa.table([
            pa.array(dur), pa.array(stamp(secs)), pa.array(stamp(secs + dur)),
            pa.array(s_id), pa.array(names[s_ix], pa.string()),
            pa.array(lats[s_ix], pa.string()), pa.array(lons[s_ix], pa.string()),
            pa.array(e_id), pa.array(names[e_ix], pa.string()),
            pa.array(lats[e_ix], pa.string()), pa.array(lons[e_ix], pa.string()),
            pa.array(bike), pa.array(np.where(subscriber, "Subscriber", "Customer")),
            pa.array(birth, mask=blank_birth), pa.array(gender)], names=EVENT_HEADERS)
        buf = io.BytesIO()
        buf.write((",".join(EVENT_HEADERS) + "\n").encode())
        pacsv.write_csv(table, buf, pacsv.WriteOptions(include_header=False,
                                                       quoting_style="none"))
        with open(os.path.join(out, "events", fname), "wb") as raw, \
                gzip.GzipFile(fileobj=raw, mode="wb", mtime=0) as f:
            f.write(buf.getvalue())

    # hourly METAR observations at :51 (the fact's hour key is shifted
    # by -540 s onto them); roughly half the gusts are null
    by_day = {}
    hour = start.replace(minute=51)
    while hour < end:
        by_day.setdefault(f"{hour:%Y%m%d}", []).append({
            "valid_time_gmt": int(hour.timestamp()),
            "temp": int(rng.integers(20, 45)), "dewPt": int(rng.integers(10, 35)),
            "rh": int(rng.integers(30, 90)),
            "day_ind": "D" if 6 <= hour.hour <= 18 else "N",
            "wspd": int(rng.integers(0, 25)),
            "gust": None if rng.random() < 0.5 else int(rng.integers(15, 40)),
            "pressure": round(29.0 + float(rng.random()) * 2, 2),
            "precip_hrly": round(float(rng.random()) * 0.3, 2) if rng.random() < 0.2 else 0.0,
            "wx_phrase": str(rng.choice(["Fair", "Cloudy", "Rain", "Snow"])),
        })
        hour += timedelta(hours=1)
    for day, obs in by_day.items():
        with open(os.path.join(out, "weathers", f"{day}.json"), "w") as f:
            json.dump(obs, f)

    # GBFS snapshot: every station once, every 10th twice (repeated
    # crawls); Jersey City short_names are not numbers
    rows, i = [], 0
    for sid in list(NYC_STATIONS) + list(JC_STATIONS):
        short = f"JC{sid - JC_STATIONS.start:03d}" if sid in JC_STATIONS else f"{sid}.01"
        capacity = int(rng.integers(15, 60))
        for _ in range(2 if sid % 10 == 0 else 1):
            rows.append([i, sid, f"uuid-{sid}", f"Station {sid}", short,
                         71, sid, "classic", f"{40.7 + sid / 1e5:.6f}",
                         f"{-74.0 + sid / 1e5:.6f}", capacity, "True", "False",
                         "False", "['KEY', 'CREDITCARD']"])
            i += 1
    _write_gz_csv(os.path.join(out, "stations", f"stations-{tag}.csv.gz"),
                  STATION_HEADERS, rows)

    # covid cases: one row per day except one seeded missing day, so
    # the fact's LEFT join leaves that day's covid_id null
    days = (end - start).days
    missing = int(rng.integers(0, days))
    rows = []
    for d in range(days):
        if d == missing:
            continue
        day = start + timedelta(days=d)
        rows.append([d, f"{day:%m/%d/%Y}"] + [int(x) for x in rng.integers(0, 500, 11)])
    _write_gz_csv(os.path.join(out, "covids", f"covid-{tag}.csv.gz"),
                  COVID_HEADERS, rows)


VOCAB = ("a the spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row agg key query scan batch").split()
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
PART_NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]


def _ts(days_from, base):
    """Day offsets → naive microsecond timestamps at midnight."""
    return pa.array((np.datetime64(base, "us") + days_from.astype("timedelta64[D]"))
                    .astype("datetime64[us]"), pa.timestamp("us"))


def _write(out, name, table):
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def lake_tables(out, seed, sf, n_docs, n_vecs):
    """Write the query suite's tables under ``out`` at scale ``sf``."""
    os.makedirs(out, exist_ok=True)
    rng = _rng(seed, 7)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_events = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    _write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}))
    _write(out, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s)}))
    _write(out, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2), f64)}))
    _write(out, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2), f64)}))
    _write(out, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["O", "P", "F"], n_ord), s),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2), f64),
        "o_orderdate": _ts(rng.integers(0, 2404, n_ord), "1995-01-01"),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), s)}))
    _write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), f64),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n_line), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), s),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_line), s),
        "l_shipdate": _ts(rng.integers(1, 2499, n_line), "1995-01-01")}))
    secs = np.sort(rng.uniform(0, 30 * 86400, n_events))
    _write(out, "events", pa.table({
        "event_id": pa.array(np.arange(n_events), i64),
        "ts": pa.array((np.datetime64("2024-01-01", "us")
                        + (secs * 1e6).astype("timedelta64[us]")), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_cust // 10 or 1, n_events), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events), s),
        "value": pa.array(np.round(rng.exponential(30.0, n_events), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)], s)}))

    # documents: random words from a small vocabulary; ~5% are a copy
    # of another document plus " dup" (near duplicates)
    texts = [" ".join(rng.choice(VOCAB, int(rng.integers(10, 101))))
             for _ in range(n_docs)]
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        j = int(rng.integers(0, n_docs))
        if j != i and not texts[j].endswith(" dup"):
            texts[i] = texts[j] + " dup"
    _write(out, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)}))

    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vecs), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), i32)}))
