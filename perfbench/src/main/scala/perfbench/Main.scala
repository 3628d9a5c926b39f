package perfbench

import java.io.PrintStream
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{Bench, SparkEntry}
import graft.etl.{Ingest, StarSchemaWriter}
import graft.quality.DataQuality

/** Runs one workload against the engine's public entry points for a
  * fixed time and writes every raw measurement to `<out>/result.json`.
  * `perfbench/run.py` builds this, launches it, checks the outputs and
  * turns the raw records into metrics.
  *
  * Usage: perfbench.Main --workload W --data DIR --out DIR --seconds S
  *   --trace 0|1 --cores N [--months m1,m2] [--order-seed N]
  */
object Main {
  import Json._

  /** One timed operation: a month's load, a query, or a stream query. */
  final case class Op(pass: Int, index: Int, name: String, group: String,
      startMs: Double, endMs: Double, ok: Boolean, error: String,
      rows: Long, digest: String) {
    def json: String = obj("pass" -> num(pass), "index" -> num(index),
      "name" -> str(name), "group" -> str(group), "start_ms" -> num(startMs),
      "end_ms" -> num(endMs), "ok" -> bool(ok), "error" -> str(error),
      "rows" -> num(rows), "digest" -> str(digest))
  }

  /** A timed call into one layer's public function. */
  final case class Call(op: Int, layer: String, name: String,
      startMs: Double, endMs: Double) {
    def json: String = obj("op" -> num(op), "layer" -> str(layer),
      "name" -> str(name), "start_ms" -> num(startMs), "end_ms" -> num(endMs))
  }

  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with sub-millisecond resolution. */
  def now(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  final class Recorder {
    val ops = mutable.ArrayBuffer.empty[Op]
    val calls = mutable.ArrayBuffer.empty[Call]
    var pass = 0

    def call[T](layer: String, name: String)(body: => T): T = {
      val t0 = now()
      try body finally calls += Call(ops.size, layer, name, t0, now())
    }

    /** Times `body`, which returns (row count, result rows or null,
      * result schema); records the result's digest after the clock stops. */
    def op(name: String, group: String)(body: => (Long, Array[Row], StructType)): Option[(Array[Row], StructType)] = {
      val t0 = now()
      try {
        val (rows, result, schema) = body
        val t1 = now()
        val digest = if (result == null) "" else Main.digest(result, schema.fieldNames.toSeq)
        ops += Op(pass, ops.size, name, group, t0, t1, ok = true, "", rows, digest)
        Option(result).map(_ -> schema)
      } catch {
        case t: Throwable =>
          ops += Op(pass, ops.size, name, group, t0, now(), ok = false,
            s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}", 0L, "")
          None
      }
    }
  }

  trait Workload {
    def warm(spark: SparkSession): Unit
    def runPass(spark: SparkSession, rec: Recorder): Unit
    def extra: String = "{}"
  }

  /** The paper's monthly ELT: each pass loads consecutive months into
    * a fresh lake, gating after every month. */
  final class EltMonthly(data: String, out: String, months: Seq[String]) extends Workload {
    val lakes = mutable.ArrayBuffer.empty[String]
    def warm(spark: SparkSession): Unit = {
      spark.read.option("header", "true").csv(s"$data/${months.head}/covids/*.csv.gz").count()
      spark.range(0, 100000, 1, 4).selectExpr("id % 97 AS k").distinct().count()
    }
    def runPass(spark: SparkSession, rec: Recorder): Unit = {
      val lake = s"$out/lake-${rec.pass}"
      lakes += lake
      months.foreach { m =>
        rec.op(s"month-$m", "etl") {
          val staging = rec.call("etl", "Ingest.stageAll")(Ingest.stageAll(spark, s"$data/$m"))
          rec.call("etl", "StarSchemaWriter.writeAll")(StarSchemaWriter.writeAll(
            spark, staging, lake, idempotent = true, maintainDims = true))
          rec.call("quality", "DataQuality.validate")(
            DataQuality.validate(spark, lake, DataQuality.extendedSuite))
          rec.call("quality", "DataQuality.schemaSuite")(DataQuality.schemaSuite(spark, lake))
          rec.call("quality", "DataQuality.referentialCheck") {
            def t(name: String) = spark.read.parquet(s"$lake/$name.parquet")
            val fact = t("bikeshare_fact_table")
            // the two dims a month's load rebuilds from its own staging
            // and must merge with earlier months to keep every key
            Seq(("bike_id", "dim_bike_table", "bike_id"),
              ("user_agg_id", "dim_user_agg_table", "user_agg_id")).foreach {
              case (fk, dim, pk) => DataQuality.referentialCheck(fact, fk, t(dim), pk, s"$fk->$dim")
            }
          }
          (0L, null, null)
        }
      }
    }
    override def extra: String = obj("lakes" -> arr(lakes.toSeq.map(str)))
  }

  /** Query passes over the generated lake tables; the first pass's
    * results are written out for the oracle compare. */
  final class QueryPasses(data: String, out: String, names: Seq[String],
      group: String => String, orderSeed: Long) extends Workload {
    private val queries = SparkEntry.queries
    private val oracles = SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }
    val missing = names.filterNot(queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    def warm(spark: SparkSession): Unit = {
      Seq("lineitem", "documents", "embeddings").foreach { t =>
        spark.read.parquet(s"$data/$t.parquet").limit(1).count()
      }
      spark.range(0, 100000, 1, 4).selectExpr("id % 97 AS k").distinct().count()
    }
    def runPass(spark: SparkSession, rec: Recorder): Unit = {
      // the seed orders the suite queries; memo-sharing curation pairs
      // keep their order after them
      val (suite, rest) = names.partition(_.startsWith("q"))
      val order = new scala.util.Random(orderSeed * 1000 + rec.pass).shuffle(suite) ++ rest
      order.foreach { name =>
        val result = rec.op(name, group(name)) {
          val df = rec.call("queries", s"SparkEntry.queries($name)")(queries(name)(spark, data))
          val rows = rec.call("spark", "collect")(df.collect())
          (rows.length.toLong, rows, df.schema)
        }
        spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
        if (rec.pass == 0 && oracles.contains(name))
          result.foreach { case (rows, schema) => saveResult(spark, name, rows, schema) }
      }
    }
    private def saveResult(spark: SparkSession, name: String, rows: Array[Row],
        schema: StructType): Unit =
      try spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/results/$name")
      catch {
        case t: Throwable => System.err.println(s"[perfbench] could not save $name: $t")
      }
    override def extra: String = obj("oracle_sql" -> obj(oracles.toSeq.map { case (n, sql) => n -> str(sql) }: _*))
  }

  /** Canonical digest of a result: columns by name, values
    * normalized, rows sorted. */
  def digest(rows: Array[Row], cols: Seq[String]): String = {
    val order = cols.zipWithIndex.sortBy(_._1).map(_._2)
    def canon(v: Any): String = v match {
      case null => "∅"
      case d: Double => canonD(d)
      case f: Float => canonD(f.toDouble)
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case x => x.toString
    }
    def canonD(d: Double): String =
      if (d.isNaN) "NaN" else if (d.isInfinite) d.toString
      else BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_EVEN).bigDecimal.stripTrailingZeros.toPlainString
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  def prefixed(prefixes: Seq[String]): Seq[String] = {
    val names = SparkEntry.queries.keys.toSeq
    prefixes.map(p => names.find(_.startsWith(p)).getOrElse(sys.error(s"no query named $p*")))
  }

  def workload(name: String, data: String, out: String, months: Seq[String],
      orderSeed: Long): Workload = name match {
    case "elt_monthly" => new EltMonthly(data, out, months)
    case "query_mix" =>
      new QueryPasses(data, out, prefixed(QueryMix.suite ++ QueryMix.curation ++ QueryMix.streams),
        QueryMix.group, orderSeed)
    case other => sys.error(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wlName = opts("workload")
    val data = opts("data")
    val out = opts("out")
    val seconds = opts("seconds").toDouble
    val trace = opts.get("trace").contains("1")
    val cores = opts("cores").toInt
    val months = opts.get("months").map(_.split(',').toSeq).getOrElse(Nil)
    val orderSeed = opts.get("order-seed").map(_.toLong).getOrElse(0L)

    val tee = new MemoTee(System.err)
    System.setErr(new PrintStream(tee, true))
    val launchMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val tMain = now()
    val wl = workload(wlName, data, out, months, orderSeed)
    val tEngine = now()

    // set-up: JVM launch to a warmed session, then twice more from a
    // stopped context to a warmed new one
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var tSession = 0.0
    (0 until 3).foreach { i =>
      val t0 = if (i == 0) launchMs else now()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = Bench.buildSession()
      spark.sparkContext.setLogLevel("WARN")
      if (i == 0) tSession = now()
      wl.warm(spark)
      setups += (now() - t0) / 1000.0
    }
    val tSetup = now()
    val calibPre = Bench.calibScalarMedian(cores)
    val tCalib = now()

    val collector = new Collector(tracing = trace)
    val sc = spark.sparkContext
    sc.addSparkListener(collector.spark)
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

    val rec = new Recorder
    val passes = mutable.ArrayBuffer.empty[String]
    val start = now()
    // whole passes until the time is up; a pass that would overrun it
    // by more than a quarter is not started
    var lastPass = 0.0
    def more: Boolean = {
      val spent = now() - start
      rec.pass == 0 || (spent < seconds * 1000 && spent + lastPass <= seconds * 1250)
    }
    while (more) {
      // a new session per pass: memo keys carry the session id, so each
      // pass starts cold, like the next day's job
      val session = spark.newSession()
      session.listenerManager.register(collector.queries)
      session.streams.addListener(collector.streams)
      val p0 = now()
      wl.runPass(session, rec)
      passes += obj("pass" -> num(rec.pass), "start_ms" -> num(p0), "end_ms" -> num(now()))
      session.streams.removeListener(collector.streams)
      lastPass = now() - p0
      rec.pass += 1
    }
    drain(spark)
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    val tMeasured = now()
    val calibPost = Bench.calibScalarMedian(cores)

    val json = obj(
      "workload" -> str(wlName), "cores" -> num(cores), "trace" -> bool(trace),
      "setup_s" -> arr(setups.toSeq.map(num(_))),
      "phases_ms" -> obj("launch" -> num(launchMs), "main" -> num(tMain),
        "engine_loaded" -> num(tEngine), "first_session" -> num(tSession),
        "setup_done" -> num(tSetup),
        "calib_done" -> num(tCalib), "measured" -> num(tMeasured), "written" -> num(now())),
      "calib_scalar_pre_s" -> num(calibPre), "calib_scalar_post_s" -> num(calibPost),
      "passes" -> arr(passes.toSeq),
      "ops" -> arr(rec.ops.toSeq.map(_.json)),
      "calls" -> arr(rec.calls.toSeq.map(_.json)),
      "memo" -> obj(tee.counts.asScala.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v.longValue) }: _*),
      "heap_peak_bytes" -> num(heapPeak),
      "collector" -> collector.json,
      "workload_extra" -> wl.extra)
    Files.writeString(Paths.get(s"$out/result.json"), json)
    spark.stop()
  }

  /** Waits until the listener bus has delivered every event. */
  private def drain(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: Throwable => Thread.sleep(500) }
}

/** The query mix: one suite query per operator class (aggregate,
  * joins, anti join, windows, surrogate keys, CTE, JSON, set ops, rollup,
  * pivot, string functions), then one or two corpus-curation queries per ops
  * family (the memo-sharing pair x8 -> x10 in order) and an admission
  * stream that appends to and probes its stores. */
object QueryMix {
  // q22 is left out: its cent-rounded revenue can land on a half cent
  // (order 6436 at seed 207 sums to 611516.155), where Spark's and the
  // oracle's summation orders round apart
  val suite: Seq[String] = Seq(1, 2, 3, 5, 6, 9, 11, 14, 16, 21, 24, 25, 26, 28, 30).map(i => s"q${i}_")
  val curation: Seq[String] = Seq("x8_", "x10_", "x34_", "x38_", "x106_")
  val streams: Seq[String] = Seq("x211_")

  private val family: Map[String, String] = Map(
    "x8" -> "dedup", "x10" -> "dedup", "x34" -> "similarity",
    "x38" -> "text", "x106" -> "classifier", "x211" -> "streaming")

  def group(name: String): String = {
    val id = name.takeWhile(_ != '_')
    if (id.startsWith("q")) { if (id.drop(1).toInt <= 21) "relational" else "analytics" }
    else family(id)
  }
}
