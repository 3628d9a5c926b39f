package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Star-schema table builds — one pure `DataFrame => DataFrame`
  * function per output table, re-expressing the reference's SQL
  * (spark_elt_emr.py:62-185) in the DataFrame DSL so Catalyst sees a
  * fully declarative plan.
  *
  * Scale design (vs the reference's 1M rows/month):
  *   - the fact build's two dimension joins (covid ≤731 rows/yr,
  *     weather ≤ ~9k obs/yr) are explicit `broadcast()` — the trip
  *     side never shuffles for the joins, matching what Catalyst
  *     auto-picked for the reference but pinned for determinism;
  *   - DISTINCT dim builds are two-phase hash aggregates (map-side
  *     partial dedup), the right plan at any scale;
  *   - the faithful global ORDER BY before write (O1) is a range
  *     sort and is always applied, although partitioned parquet does
  *     not preserve global order — at 100 TB that sort is pure cost.
  */
object StarSchema {

  /** Fact build (reference spark_elt_emr.py:62-81).
    * J1: LEFT join covid on computed date key.
    * J2: LEFT join weather on the hour-bucket epoch key: truncate
    * `starttime` to the hour via substr/concat, epoch-convert, shift
    * by -540 s onto the :51-past-the-hour METAR observation time.
    * F1/F2: md5-of-concat surrogate id; null-propagating concat
    * `user_agg_id` (NULL birth_year/gender ⇒ NULL key — preserved).
    */
  def buildFact(events: DataFrame, covids: DataFrame, weathers: DataFrame): DataFrame = {
    val startTs = to_timestamp(col("starttime"))
    val hourBucketEpoch =
      unix_seconds(to_timestamp(concat(substring(col("starttime"), 0, 13), lit(":00:00")))) - lit(540L)
    events
      .join(broadcast(covids),
        to_date(col("starttime")) === to_date(col("date_of_interest"), "MM/dd/yyyy"),
        "left")
      .join(broadcast(weathers),
        hourBucketEpoch === col("valid_time_gmt"),
        "left")
      .select(
        md5(concat(col("starttime"), col("bikeid"))).as("id"),
        startTs.as("start_time"),
        col("tripduration").as("duration"),
        year(startTs).as("year"),
        month(startTs).as("month"),
        col("start_station_id"),
        col("end_station_id"),
        col("bikeid").as("bike_id"),
        concat(col("usertype"), col("gender"), col("birth_year")).as("user_agg_id"),
        to_date(col("date_of_interest"), "MM/dd/yyyy").as("covid_id"),
        // reference `to_timestamp(valid_time_gmt)` over the JSON-inferred
        // long = CAST(seconds AS TIMESTAMP); timestamp_seconds is the
        // explicit Scala form (SURVEY §2.8 F4)
        timestamp_seconds(col("valid_time_gmt")).as("weather_id"))
      // F13: the explicit schema boundary the reference's README
      // documents but its code never enforces — duration/stations/
      // bike ids become ints here, not in some downstream consumer
      .transform(Schemas.conform(Schemas.fact))
      .orderBy(col("start_time"))
  }

  /** Time dimension (reference spark_elt_emr.py:86-105). The
    * reference selects a nonexistent `dat` column — an
    * AnalysisException as written; we implement the intended
    * `start_time` per the README data dictionary (README.md:119-130,
    * SURVEY.md §5 divergence note). */
  def buildTimeDim(events: DataFrame): DataFrame = {
    val st = col("start_time")
    events
      .select(to_timestamp(col("starttime")).as("start_time"))
      .distinct()
      .select(
        st,
        minute(st).as("minute"),
        hour(st).as("hour"),
        dayofmonth(st).as("day"),
        weekofyear(st).as("week"),
        month(st).as("month"),
        year(st).as("year"),
        dayofweek(st).as("weekday"))
      .transform(Schemas.conform(Schemas.dimTime))
  }

  /** User-aggregate dimension (reference spark_elt_emr.py:108-117):
    * DISTINCT over the composite key + its parts; the concat key
    * null-propagates by design. */
  def buildUserAggDim(events: DataFrame): DataFrame =
    events
      .select(
        concat(col("usertype"), col("gender"), col("birth_year")).as("user_agg_id"),
        col("usertype"),
        col("gender"),
        col("birth_year"))
      .distinct() // distinct on the raw values (reference parity), then type
      .transform(Schemas.conform(Schemas.dimUserAgg))

  /** Bike dimension (reference spark_elt_emr.py:120-126). */
  def buildBikeDim(events: DataFrame): DataFrame =
    events.select(col("bikeid").as("bike_id")).distinct()
      .transform(Schemas.conform(Schemas.dimBike))
      .orderBy(col("bike_id")) // typed sort: numeric, not lexicographic

  /** Covid dimension (reference spark_elt_emr.py:129-145): projection
    * with MM/dd/yyyy date-key parse; borough counts stay the scanned
    * strings, faithful to the reference's no-cast behavior. */
  def buildCovidDim(covids: DataFrame): DataFrame =
    covids.select(
      to_date(col("date_of_interest"), "MM/dd/yyyy").as("covid_id"),
      col("bx_case_count"), col("bx_probable_case_count"),
      col("bk_case_count"), col("bk_probable_case_count"),
      col("mn_case_count"), col("mn_probable_case_count"),
      col("qn_case_count"), col("qn_probable_case_count"),
      col("si_case_count"), col("si_probable_case_count"),
      col("incomplete"))
      .transform(Schemas.conform(Schemas.dimCovid))

  /** Weather dimension (reference spark_elt_emr.py:148-163). `dewPt`
    * resolves case-insensitively (P5); `day_ind` lands in `wind`
    * (reference mislabel, kept — SURVEY §5); null gust defaults to 0
    * (F12). */
  def buildWeatherDim(weathers: DataFrame): DataFrame =
    weathers.select(
      timestamp_seconds(col("valid_time_gmt")).as("weather_id"),
      col("temp").as("temperature"),
      col("dewPt").as("dew_point"),
      col("rh").as("humidity"),
      col("day_ind").as("wind"),
      col("wspd").as("wind_speed"),
      coalesce(col("gust"), lit(0L)).as("wind_gust"),
      col("pressure"),
      col("precip_hrly").as("precip"),
      col("wx_phrase").as("condition"))
      .transform(Schemas.conform(Schemas.dimWeather))
      .orderBy(col("weather_id"))

  /** Station dimension (reference spark_elt_emr.py:166-185): DISTINCT
    * over all 14 projected columns (dedups repeated GBFS snapshots),
    * `lon` → `longtitude` [sic] kept for output-schema parity.
    * `rental_methods` arrives as the crawl's stringified Python list
    * (reference crawl_to_local.py:36-38 pandas-dumps the GBFS JSON:
    * `"['KEY', 'CREDITCARD']"`) — parsed to a real ArrayType by
    * swapping the quote style and `from_json`, per the dictionary's
    * `list` type (README.md:117). */
  def buildStationDim(stations: DataFrame): DataFrame =
    stations.select(
      col("station_id"),
      col("external_id"),
      col("name"),
      col("short_name"),
      col("region_id"),
      col("legacy_id"),
      col("station_type"),
      col("lat").as("latitude"),
      col("lon").as("longtitude"),
      col("capacity"),
      col("has_kiosk"),
      col("electric_bike_surcharge_waiver"),
      col("eightd_has_key_dispenser"),
      from_json(translate(col("rental_methods"), "'", "\""),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType)).as("rental_methods"))
      .distinct()
      .transform(Schemas.conform(Schemas.dimStation))
      .orderBy(col("station_id"))

  /** All seven output tables from staged inputs. */
  def buildAll(staging: Staging): Map[String, DataFrame] = Map(
    "bikeshare_fact_table" -> buildFact(staging.events, staging.covids, staging.weathers),
    "dim_time_table" -> buildTimeDim(staging.events),
    "dim_user_agg_table" -> buildUserAggDim(staging.events),
    "dim_bike_table" -> buildBikeDim(staging.events),
    "dim_covid_table" -> buildCovidDim(staging.covids),
    "dim_weather_table" -> buildWeatherDim(staging.weathers),
    "dim_station" -> buildStationDim(staging.stations))
}
