package graft.etl

import graft.SparkTestSession
import graft.quality.{DataQuality, QualityViolation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** End-to-end star-schema ELT over the handwritten staging fixtures
  * (FIXTURES.md): scan → normalize → join → distinct → sort → sink →
  * quality-validate, the reference's whole lifecycle (SURVEY §3). */
class StarSchemaSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private val fixtures = getClass.getResource("/citibike").getPath
  private lazy val staging = Ingest.stageAll(spark, fixtures)

  test("events glob scan unions both monthly files with normalized headers") {
    assert(staging.events.count() == 8) // 6 NYC (incl. 1 dup) + 2 JC
    assert(staging.events.columns.contains("birth_year"))
    assert(staging.events.columns.contains("start_station_id"))
  }

  test("covid headers are lowercased") {
    assert(staging.covids.columns.contains("date_of_interest"))
    assert(staging.covids.columns.contains("bx_case_count"))
  }

  test("ORC round-trip: schema and rows survive, filters push to the scan") {
    import SparkTestSession.sfDir
    import graft.Tables
    val docs = Tables.documents(spark, sfDir)
    val dir = Files.createTempDirectory("graft_orc").toString + "/docs"
    Ingest.writeOrc(docs, dir)
    val back = Ingest.readOrc(spark, dir)
    assert(back.schema == docs.schema)
    assert(back.count() == docs.count())
    val a = docs.orderBy(col("doc_id")).collect().map(_.toSeq)
    val b = back.orderBy(col("doc_id")).collect().map(_.toSeq)
    assert(a.sameElements(b))
    // the ORC reader must receive the pushed predicate like parquet does
    val plan = back.filter(col("doc_id") === 7L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,7)]"),
      s"plan without pushdown:\n$plan")
  }

  test("fact: row per trip, md5 id, computed partitions") {
    val fact = StarSchema.buildFact(staging.events, staging.covids, staging.weathers)
    assert(fact.count() == 8)
    val row = fact.filter(col("bike_id") === "30002" && col("duration") === "610").head()
    // id = md5(concat(starttime, bikeid)) over the raw strings
    val expectedId = java.security.MessageDigest.getInstance("MD5")
      .digest("2020-01-01 08:45:10.000030002".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(row.getAs[String]("id") == expectedId)
    assert(row.getAs[Int]("year") == 2020 && row.getAs[Int]("month") == 1)
  }

  test("fact J1: covid left join matches by date, null for uncovered date") {
    val fact = StarSchema.buildFact(staging.events, staging.covids, staging.weathers)
    val jan05 = fact.filter(col("start_time").cast("date") === "2020-01-05")
    assert(jan05.count() == 1)
    assert(jan05.filter(col("covid_id").isNull).count() == 1)
    val jan02 = fact.filter(col("start_time").cast("date") === "2020-01-02")
    assert(jan02.filter(col("covid_id").isNull).count() == 0)
  }

  test("fact J2: every trip lands on its hour's :51 weather observation") {
    val fact = StarSchema.buildFact(staging.events, staging.covids, staging.weathers)
    assert(fact.filter(col("weather_id").isNull).count() == 0)
    // weather_id = HH-1:51:00 (hour epoch - 540s)
    val m = fact.filter(col("bike_id") === "30002" && col("duration") === "610")
      .select(date_format(col("weather_id"), "yyyy-MM-dd HH:mm:ss")).head().getString(0)
    assert(m == "2020-01-01 07:51:00")
  }

  test("fact F2: null-propagating user_agg_id for empty birth_year") {
    val fact = StarSchema.buildFact(staging.events, staging.covids, staging.weathers)
    assert(fact.filter(col("user_agg_id").isNull).count() == 1)
  }

  test("time dim: distinct start times, calendar decomposition") {
    val td = StarSchema.buildTimeDim(staging.events)
    assert(td.count() == 7) // 8 trips, 1 duplicate starttime
    val r = td.filter(date_format(col("start_time"), "yyyy-MM-dd HH:mm") === "2020-01-03 07:59").head()
    assert(r.getAs[Int]("hour") == 7 && r.getAs[Int]("weekday") == 6) // Friday
  }

  test("user agg dim: distinct composite rows incl. the null-keyed one") {
    val ud = StarSchema.buildUserAggDim(staging.events)
    assert(ud.count() == 7) // 8 trips, dup trip collapses
    assert(ud.filter(col("user_agg_id").isNull).count() == 1)
  }

  test("bike dim: sorted distinct bike ids, typed int per the dictionary") {
    val bikes = StarSchema.buildBikeDim(staging.events)
      .collect().map(_.getInt(0))
    assert(bikes.toSeq == Seq(30001, 30002, 30003, 40001, 40002))
  }

  test("F13: every output table conforms to the README data dictionary") {
    val built = StarSchema.buildAll(staging)
    for ((table, schema) <- Schemas.byTable) {
      // compare (name, type) — nullability is plan-derived (e.g. the
      // coalesced wind_gust is provably non-null), not contract
      val got = built(table).schema.fields.map(f => (f.name, f.dataType)).toSeq
      val want = schema.fields.map(f => (f.name, f.dataType)).toSeq
      assert(got == want,
        s"$table schema drifted:\n  got      $got\n  expected $want")
    }
  }

  test("F13: typed values survive the casts (no silent null-out)") {
    val fact = StarSchema.buildFact(staging.events, staging.covids, staging.weathers)
    // every fixture trip has a parseable duration and station ids
    assert(fact.filter(col("duration").isNull).count() == 0)
    assert(fact.filter(col("start_station_id").isNull).count() == 0)
    val cd = StarSchema.buildCovidDim(staging.covids)
    assert(cd.filter(col("bx_case_count").isNull).count() == 0)
    val wd = StarSchema.buildWeatherDim(staging.weathers)
    assert(wd.filter(col("temperature").isNull).count() == 0)
    assert(wd.filter(col("pressure").isNull).count() == 0)
    val ud = StarSchema.buildUserAggDim(staging.events)
    // gender parses everywhere; birth_year is NULL exactly where the
    // raw value was the empty string (the null-propagation fixture row)
    assert(ud.filter(col("gender").isNull).count() == 0)
    assert(ud.filter(col("birth_year").isNull).count() == 1)
  }

  test("rental_methods is a real array column with the GBFS values") {
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val sd = StarSchema.buildStationDim(staging.stations)
    assert(sd.schema("rental_methods").dataType == ArrayType(StringType))
    val methods = sd.filter(col("station_id") === 72)
      .select(col("rental_methods")).head().getSeq[String](0)
    assert(methods == Seq("KEY", "CREDITCARD"))
  }

  test("station dim: distinct collapses the duplicated GBFS row") {
    val sd = StarSchema.buildStationDim(staging.stations)
    assert(sd.count() == 5)
    assert(sd.columns.contains("longtitude")) // [sic] parity
  }

  test("weather dim: null gust defaults to 0, case-insensitive dewPt") {
    val wd = StarSchema.buildWeatherDim(staging.weathers)
    assert(wd.filter(col("wind_gust").isNull).count() == 0)
    assert(wd.filter(col("wind_gust") === 0).count() > 0)
    assert(wd.columns.contains("dew_point"))
  }

  test("covid dim: MM/dd/yyyy key parse") {
    val cd = StarSchema.buildCovidDim(staging.covids)
    assert(cd.count() == 3)
    assert(cd.filter(col("covid_id") === "2020-01-01").count() == 1)
  }

  test("full ELT writes 7 tables; reference + extended quality suites pass") {
    val out = Files.createTempDirectory("graft_elt").toString
    StarSchemaWriter.runElt(spark, fixtures, out)
    DataQuality.validate(spark, out, DataQuality.referenceSuite)
    DataQuality.validate(spark, out, DataQuality.extendedSuite)
    DataQuality.schemaSuite(spark, out) // written tables honor the dictionary too
    val fact = spark.read.parquet(s"$out/bikeshare_fact_table.parquet")
    assert(fact.count() == 8)
    // hive partitioning materialized
    assert(fact.columns.contains("year") && fact.columns.contains("month"))
  }

  test("S5 append semantics vs idempotent dynamic-overwrite re-run") {
    val out = Files.createTempDirectory("graft_elt_inc").toString
    StarSchemaWriter.runElt(spark, fixtures, out)
    StarSchemaWriter.runElt(spark, fixtures, out) // blind append, ref parity
    assert(spark.read.parquet(s"$out/bikeshare_fact_table.parquet").count() == 16)
    StarSchemaWriter.runElt(spark, fixtures, out, idempotent = true)
    assert(spark.read.parquet(s"$out/bikeshare_fact_table.parquet").count() == 8)
  }

  test("quality harness raises on violation") {
    import spark.implicits._
    val bad = Seq((null.asInstanceOf[String], 1)).toDF("id", "x")
    intercept[QualityViolation] {
      DataQuality.runCheck(DataQuality.isNull("t", "id"), bad)
    }
    val empty = spark.emptyDataFrame
    intercept[QualityViolation] {
      DataQuality.runCheck(DataQuality.isEmpty("t"), empty)
    }
  }

  test("orphanedKeys: duplicated dim keys count the same orphans as the deduplicated dim") {
    import spark.implicits._
    val fact = Seq(Some(1), Some(2), Some(2), Some(3), Some(4), None).toDF("k")
    val dim = Seq(1, 1, 3, 3, 3).toDF("k")
    // orphans are the distinct fact values 2 and 4; the NULL key is skipped
    assert(DataQuality.orphanedKeys(fact, "k", dim, "k") == 2L)
    assert(DataQuality.orphanedKeys(fact, "k", dim.distinct(), "k") == 2L)
  }

  test("writeAll leaves the session's partitionOverwriteMode as it found it") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    def observed = (spark.conf.getOption(key), spark.conf.getAll.get(key))
    val preset = spark.conf.getAll.get(key)
    try {
      spark.conf.unset(key)
      val unset = observed
      StarSchemaWriter.runElt(spark, fixtures,
        Files.createTempDirectory("graft_conf_unset").toString, idempotent = true)
      assert(observed == unset)
      assert(spark.conf.getAll.get(key).isEmpty)

      spark.conf.set(key, "static")
      StarSchemaWriter.runElt(spark, fixtures,
        Files.createTempDirectory("graft_conf_static").toString, idempotent = true)
      assert(spark.conf.getAll.get(key).contains("static"))
    } finally preset match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("writeAll rethrows the error of a table whose write fails") {
    val out = Files.createTempDirectory("graft_elt_fail").toString
    // a regular file where the time dim's parquet directory belongs:
    // an append cannot write under it (an overwrite would delete it)
    Files.write(java.nio.file.Paths.get(s"$out/dim_time_table.parquet"),
      "not a table".getBytes("UTF-8"))
    val err = intercept[Exception] {
      StarSchemaWriter.runElt(spark, fixtures, out)
    }
    val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(e => String.valueOf(e.getMessage).contains("dim_time_table")), err)
  }

  test("validate runs one aggregate per distinct table; the first declared violation is thrown") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.util.QueryExecutionListener
    val out = Files.createTempDirectory("graft_gate").toString
    StarSchemaWriter.runElt(spark, fixtures, out)

    def drainListenerBus(): Unit = {
      val bus = spark.sparkContext.getClass.getMethod("listenerBus")
        .invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }
    val aggregates = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val readsLake = qe.analyzed.exists {
          case l: LogicalRelation => l.relation match {
            case h: HadoopFsRelation => h.location.rootPaths.exists(_.toString.contains(out))
            case _ => false
          }
          case _ => false
        }
        if (readsLake && qe.optimizedPlan.exists(_.isInstanceOf[Aggregate]))
          aggregates.incrementAndGet()
      }
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    drainListenerBus()
    spark.listenerManager.register(listener)
    try {
      DataQuality.validate(spark, out, DataQuality.extendedSuite)
      drainListenerBus()
    } finally spark.listenerManager.unregister(listener)
    val suite = DataQuality.extendedSuite
    assert(suite.size == 11 && suite.map(_.tableName).distinct.size == 7)
    assert(aggregates.get == 7)

    // two violating tables: an empty bike dim (declared 7th) and a
    // covid dim with NULL keys (declared 10th)
    StarSchema.buildBikeDim(staging.events).limit(0)
      .write.mode("overwrite").parquet(s"$out/dim_bike_table.parquet")
    StarSchema.buildCovidDim(staging.covids)
      .withColumn("covid_id", lit(null).cast("date"))
      .write.mode("overwrite").parquet(s"$out/dim_covid_table.parquet")
    val first = intercept[QualityViolation] {
      DataQuality.validate(spark, out, suite)
    }
    assert(first.getMessage ==
      "is_empty check failed on dim_bike_table: observed 0, expected > 0")
    val reversed = intercept[QualityViolation] {
      DataQuality.validate(spark, out, suite.reverse)
    }
    assert(reversed.getMessage ==
      "is_null check failed on dim_covid_table: observed 3, expected == 0")
  }

  test("monthly incremental: append accumulates months; idempotent re-run replaces only its month") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    // stage a February input: same dims, two new trips
    val febIn = Files.createTempDirectory("graft_feb").toString
    for (sub <- Seq("weathers", "stations", "covids")) {
      Files.createDirectories(Paths.get(s"$febIn/$sub"))
      val listing = Files.list(Paths.get(s"$fixtures/$sub"))
      try listing.iterator().asScala.foreach { f =>
        Files.copy(f, Paths.get(s"$febIn/$sub/${f.getFileName}"),
          StandardCopyOption.REPLACE_EXISTING)
      } finally listing.close()
    }
    Files.createDirectories(Paths.get(s"$febIn/events"))
    val febCsv =
      "tripduration,starttime,stoptime,start station id,start station name," +
        "start station latitude,start station longitude,end station id," +
        "end station name,end station latitude,end station longitude," +
        "bikeid,usertype,birth year,gender\n" +
        "300,2020-02-01 09:00:00.0000,,72,st 72,40.7,-74.0,79,st 79,40.8,-73.9,30001,Subscriber,1980,1\n" +
        "400,2020-02-02 10:00:00.0000,,79,st 79,40.7,-74.0,72,st 72,40.8,-73.9,30002,Customer,1991,2\n"
    val gz = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(Paths.get(s"$febIn/events/202002-citibike-tripdata.csv.gz")))
    gz.write(febCsv.getBytes("UTF-8")); gz.close()

    val out = Files.createTempDirectory("graft_elt_months").toString
    StarSchemaWriter.runElt(spark, fixtures, out, idempotent = true)  // January
    StarSchemaWriter.runElt(spark, febIn, out, idempotent = true)     // February
    val fact = spark.read.parquet(s"$out/bikeshare_fact_table.parquet")
    assert(fact.filter(col("month") === 1).count() == 8)
    assert(fact.filter(col("month") === 2).count() == 2)
    // re-run February in idempotent mode: month 2 replaced, month 1 untouched
    StarSchemaWriter.runElt(spark, febIn, out, idempotent = true)
    val fact2 = spark.read.parquet(s"$out/bikeshare_fact_table.parquet")
    assert(fact2.filter(col("month") === 1).count() == 8,
      "idempotent Feb re-run must not clobber January partitions")
    assert(fact2.filter(col("month") === 2).count() == 2)
    // reference-faithful hazard: dims are rebuilt from the CURRENT
    // month only (the reference cleans staging between runs), so the
    // bike dim now holds only February's bikes while January fact rows
    // still reference the old ones — the referential check sees it
    val bikes = spark.read.parquet(s"$out/dim_bike_table.parquet")
    assert(bikes.count() == 2) // 30001, 30002 from February
    intercept[QualityViolation] {
      DataQuality.referentialCheck(fact2, "bike_id", bikes, "bike_id", "fact->bike")
    }
    // within a single month the integrity holds
    DataQuality.referentialCheck(
      fact2.filter(col("month") === 2), "bike_id", bikes, "bike_id", "feb->bike")

    // --- dim maintenance mode: the beyond-parity fix ---
    val out2 = Files.createTempDirectory("graft_elt_maint").toString
    StarSchemaWriter.runElt(spark, fixtures, out2, idempotent = true, maintainDims = true)
    StarSchemaWriter.runElt(spark, febIn, out2, idempotent = true, maintainDims = true)
    val mFact = spark.read.parquet(s"$out2/bikeshare_fact_table.parquet")
    val mBikes = spark.read.parquet(s"$out2/dim_bike_table.parquet")
    // January's bikes survive the February run: referential integrity
    // holds across months
    assert(mBikes.count() == 5) // Jan's 30001-30003,40001,40002 ∪ Feb's 30001,30002
    DataQuality.referentialCheck(mFact, "bike_id", mBikes, "bike_id", "maint fact->bike")
    // re-running February is still idempotent (DISTINCT collapses it)
    StarSchemaWriter.runElt(spark, febIn, out2, idempotent = true, maintainDims = true)
    assert(spark.read.parquet(s"$out2/dim_bike_table.parquet").count() == 5)
    assert(spark.read.parquet(s"$out2/bikeshare_fact_table.parquet").count() == 10)
  }
}
