"""Output checks, run after the timed region.

* ``check_elt`` recomputes what a two-month load must produce with an
  independent DuckDB pass over the same staged files and compares it
  with the lake the engine wrote.
* ``check_oracles`` compares query results with their DuckDB oracle
  SQL, normalized the way ``tools/selfcheck.py`` does it: columns
  sorted by name, floats rounded to 9 places, rows sorted.
"""
import math
import os

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

STATION_COLS = ("station_id, external_id, name, short_name, region_id, legacy_id, "
                "station_type, lat, lon, capacity, has_kiosk, "
                "electric_bike_surcharge_waiver, eightd_has_key_dispenser, rental_methods")


def _staged(con, month_dirs, suffix):
    """Tables ev/cov/wx/st<suffix> over the given staged month dirs."""
    def glob(sub, pattern):
        return "[" + ", ".join(f"'{d}/{sub}/{pattern}'" for d in month_dirs) + "]"
    con.execute(f"""CREATE TABLE ev{suffix} AS SELECT starttime, bikeid, usertype, gender,
        "birth year" AS birth_year FROM read_csv({glob('events', '*.csv.gz')},
        header=true, all_varchar=true)""")
    con.execute(f"""CREATE TABLE cov{suffix} AS SELECT date_of_interest FROM read_csv(
        {glob('covids', '*.csv.gz')}, header=true, all_varchar=true)""")
    con.execute(f"""CREATE TABLE wx{suffix} AS SELECT valid_time_gmt FROM read_json(
        {glob('weathers', '*.json')}, format='array')""")
    con.execute(f"""CREATE TABLE st{suffix} AS SELECT DISTINCT {STATION_COLS} FROM read_csv(
        {glob('stations', '*.csv.gz')}, header=true, all_varchar=true)""")


def _lake(lake, table):
    return f"read_parquet('{lake}/{table}.parquet/**/*.parquet', hive_partitioning=true)"


def check_elt(lake, month_dirs, months):
    """Checks one lake holding ``months`` (``YYYYMM`` strings) loaded
    in order from ``month_dirs``. Each month's load joins only that
    month's staging, so the per-month fact counts are recomputed per
    month; the dimensions accumulate over all months. Returns (ok per
    month, problems)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    problems = []
    month_ok = [True] * len(months)
    q = lambda sql: con.execute(sql).fetchone()[0]
    try:
        con.execute(f"""CREATE TABLE fact AS SELECT id, year, month,
            covid_id IS NULL AS no_covid, weather_id IS NULL AS no_weather
            FROM {_lake(lake, 'bikeshare_fact_table')}""")
        for i, (d, m) in enumerate(zip(month_dirs, months)):
            _staged(con, [d], i)
            part = f"fact WHERE year = {int(m[:4])} AND month = {int(m[4:])}"
            expect = {
                "fact rows": (f"SELECT count(*) FROM {part}", f"SELECT count(*) FROM ev{i}"),
                "null covid_id": (
                    f"SELECT count(*) FILTER (WHERE no_covid) FROM {part}",
                    f"""SELECT count(*) FROM ev{i} LEFT JOIN cov{i} ON
                        strptime(date_of_interest, '%m/%d/%Y')::DATE = starttime[1:10]::DATE
                        WHERE date_of_interest IS NULL"""),
                "null weather_id": (
                    f"SELECT count(*) FILTER (WHERE no_weather) FROM {part}",
                    f"""SELECT count(*) FROM ev{i} LEFT JOIN wx{i} ON valid_time_gmt =
                        epoch(date_trunc('hour', starttime::TIMESTAMP))::BIGINT - 540
                        WHERE valid_time_gmt IS NULL"""),
            }
            for what, (got_sql, want_sql) in expect.items():
                got, want = q(got_sql), q(want_sql)
                if got != want or (what == "fact rows" and want == 0):
                    month_ok[i] = False
                    problems.append(f"{m} {what}: lake {got} != staged {want}")
        union = lambda t: " UNION ALL ".join(f"SELECT * FROM {t}{i}" for i in range(len(months)))
        expect = {
            "distinct fact ids": (
                "SELECT count(DISTINCT id) FROM fact",
                f"SELECT count(DISTINCT md5(starttime || bikeid)) FROM ({union('ev')})"),
            "dim_time_table rows": (
                f"SELECT count(*) FROM {_lake(lake, 'dim_time_table')}",
                f"SELECT count(DISTINCT starttime::TIMESTAMP) FROM ({union('ev')})"),
            "dim_user_agg_table rows": (
                f"SELECT count(*) FROM {_lake(lake, 'dim_user_agg_table')}",
                f"""SELECT count(*) FROM (SELECT DISTINCT usertype, gender,
                    nullif(birth_year, '') FROM ({union('ev')}))"""),
            "dim_bike_table rows": (
                f"SELECT count(*) FROM {_lake(lake, 'dim_bike_table')}",
                f"SELECT count(DISTINCT bikeid) FROM ({union('ev')})"),
            "dim_covid_table rows": (
                f"SELECT count(*) FROM {_lake(lake, 'dim_covid_table')}",
                f"SELECT count(DISTINCT date_of_interest) FROM ({union('cov')})"),
            "dim_weather_table rows": (
                f"SELECT count(*) FROM {_lake(lake, 'dim_weather_table')}",
                f"SELECT count(DISTINCT valid_time_gmt) FROM ({union('wx')})"),
            "dim_station rows": (
                f"SELECT count(*) FROM {_lake(lake, 'dim_station')}",
                f"SELECT count(*) FROM (SELECT DISTINCT * FROM ({union('st')}))"),
            "dim_station non-numeric short_names": (
                f"SELECT count(*) FROM {_lake(lake, 'dim_station')} WHERE short_name IS NULL",
                f"""SELECT count(*) FROM (SELECT DISTINCT * FROM ({union('st')}))
                    WHERE TRY_CAST(short_name AS DOUBLE) IS NULL"""),
        }
        for what, (got_sql, want_sql) in expect.items():
            got, want = q(got_sql), q(want_sql)
            if got != want:
                problems.append(f"{what}: lake {got} != staged {want}")
                # the accumulated dimensions are the last load's output
                month_ok[-1] = False
    except Exception as e:  # a missing table is a failed load
        problems.append(f"{type(e).__name__}: {e}")
        month_ok = [False] * len(months)
    finally:
        con.close()
    return month_ok, problems


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9) + 0.0
    if isinstance(v, int):
        return v
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return str(v)


def canon(table):
    cols = sorted(table.column_names)
    rows = list(zip(*[[_norm(v) for v in table.column(c).to_pylist()] for c in cols]))
    return cols, sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))


def check_oracles(tables_dir, results_dir, oracle_sql):
    """Returns {query: problem or None} for every query with an oracle."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        path = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    verdict = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            got = canon(pq.read_table(os.path.join(results_dir, name)))
            want = canon(con.execute(sql).arrow())
            if got[0] != want[0]:
                verdict[name] = f"columns {got[0]} != {want[0]}"
            elif got[1] != want[1]:
                verdict[name] = f"{len(got[1])} rows differ from the oracle's {len(want[1])}"
            else:
                verdict[name] = None
        except Exception as e:
            verdict[name] = f"{type(e).__name__}: {str(e)[:200]}"
    con.close()
    return verdict
