package perfbench

import java.io.{OutputStream, PrintStream}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in measurement for every workload: one SparkListener for
  * jobs, stages, tasks, SQL executions and block-manager storage, one
  * QueryExecutionListener for file writes, one StreamingQueryListener
  * for micro-batches, and a stderr tee that counts the engine's
  * `[memo]` lines. Everything is kept in memory and dumped as JSON
  * once the workload ends. Times are epoch milliseconds. Task-level
  * bookkeeping (skew, the layer columns) runs only in a traced run. */
final class Collector(tracing: Boolean) {
  import Json._

  /** Per-stage totals plus the task-level split of executor run time
    * into scan / compute / exchange / write. The split is summed from
    * task ends; the totals come from the stage-completed event, so
    * comparing the two checks that no task event was lost. */
  final class StageAcc(val id: Int, val attempt: Int) {
    var job = -1
    var name = ""
    var submitMs = 0L
    var completeMs = 0L
    var tasks = 0
    var cpuNs = 0L
    var runMs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var outputBytes = 0L
    var shuffleReadBytes = 0L
    var fetchWaitMs = 0L
    var shuffleWriteBytes = 0L
    var shuffleWriteNs = 0L
    var spillBytes = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
    var colScan, colCompute, colExchange, colWrite = 0.0

    def json: String = {
      val sorted = taskMs.sorted
      val median = if (sorted.isEmpty) 0L else sorted(sorted.size / 2)
      obj("id" -> num(id), "attempt" -> num(attempt), "job" -> num(job),
        "name" -> str(name), "submit_ms" -> num(submitMs),
        "complete_ms" -> num(completeMs), "tasks" -> num(tasks),
        "cpu_ns" -> num(cpuNs), "run_ms" -> num(runMs), "gc_ms" -> num(gcMs),
        "input_bytes" -> num(inputBytes), "output_bytes" -> num(outputBytes),
        "shuffle_read_bytes" -> num(shuffleReadBytes),
        "fetch_wait_ms" -> num(fetchWaitMs),
        "shuffle_write_bytes" -> num(shuffleWriteBytes),
        "shuffle_write_ns" -> num(shuffleWriteNs), "spill_bytes" -> num(spillBytes),
        "task_max_ms" -> num(sorted.lastOption.getOrElse(0L)),
        "task_median_ms" -> num(median), "traced_tasks" -> num(sorted.size),
        "col_scan_ms" -> num(colScan), "col_compute_ms" -> num(colCompute),
        "col_exchange_ms" -> num(colExchange), "col_write_ms" -> num(colWrite))
    }
  }

  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageAcc]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val jobs = mutable.ArrayBuffer.empty[String]
  private val jobStart = mutable.HashMap.empty[Int, (Long, Seq[Int])]
  private val sqlStart = mutable.HashMap.empty[Long, Long]
  private val sqlExecs = mutable.ArrayBuffer.empty[String]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var blockBytes = 0L
  @volatile var blockPeak = 0L
  private val writes = new ConcurrentLinkedQueue[String]
  private val progress = new ConcurrentLinkedQueue[String]
  private val streamStarts = new ConcurrentLinkedQueue[String]

  private def stage(id: Int, attempt: Int): StageAcc =
    stages.getOrElseUpdate((id, attempt), new StageAcc(id, attempt))

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStart(e.jobId) = (e.time, e.stageIds)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      val (start, ids) = jobStart.remove(e.jobId).getOrElse((e.time, Nil))
      jobs += obj("id" -> num(e.jobId), "start_ms" -> num(start),
        "end_ms" -> num(e.time), "stages" -> arr(ids.map(num(_))))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (tracing && m != null) {
        val s = stage(e.stageId, e.stageAttemptId)
        s.taskMs += m.executorRunTime
        val exchange = math.min(m.executorRunTime.toDouble,
          m.shuffleReadMetrics.fetchWaitTime + m.shuffleWriteMetrics.writeTime / 1e6)
        val rest = m.executorRunTime - exchange
        s.colExchange += exchange
        if (m.outputMetrics.bytesWritten > 0) s.colWrite += rest
        else if (m.inputMetrics.bytesRead > 0) s.colScan += rest
        else s.colCompute += rest
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val s = stage(i.stageId, i.attemptNumber())
      s.job = stageJob.getOrElse(i.stageId, -1)
      s.name = i.name
      s.submitMs = i.submissionTime.getOrElse(0L)
      s.completeMs = i.completionTime.getOrElse(0L)
      s.tasks = i.numTasks
      val m = i.taskMetrics
      if (m != null) {
        s.cpuNs = m.executorCpuTime
        s.runMs = m.executorRunTime
        s.gcMs = m.jvmGCTime
        s.inputBytes = m.inputMetrics.bytesRead
        s.outputBytes = m.outputMetrics.bytesWritten
        s.shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime
        s.shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten
        s.shuffleWriteNs = m.shuffleWriteMetrics.writeTime
        s.spillBytes = m.diskBytesSpilled
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val key = info.blockId.name
        val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        blockBytes += size - blocks.getOrElse(key, 0L)
        if (size > 0) blocks(key) = size else blocks.remove(key)
        blockPeak = math.max(blockPeak, blockBytes)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized { sqlStart(s.executionId) = s.time }
      case s: SparkListenerSQLExecutionEnd => synchronized {
        sqlStart.remove(s.executionId).foreach { t0 =>
          sqlExecs += obj("start_ms" -> num(t0), "end_ms" -> num(s.time))
        }
      }
      case _ => ()
    }
  }

  /** Successful file writes, attributed by output path. */
  val queries: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val paths = (Seq(qe.logical) ++ Option(qe.commandExecuted).toSeq).flatMap(_.collect {
        case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
      }).distinct
      val end = System.currentTimeMillis()
      paths.foreach { p =>
        writes.add(obj("path" -> str(p), "end_ms" -> num(end), "dur_ms" -> num(durationNs / 1e6)))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      streamStarts.add(obj("id" -> str(e.id.toString),
        "ts_ms" -> num(java.time.Instant.parse(e.timestamp).toEpochMilli)))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      progress.add(obj("id" -> str(p.id.toString), "batch" -> num(p.batchId),
        "ts_ms" -> num(java.time.Instant.parse(p.timestamp).toEpochMilli),
        "trigger_ms" -> num(d.getOrElse("triggerExecution", 0L)),
        "add_batch_ms" -> num(d.getOrElse("addBatch", 0L)),
        "commit_ms" -> num(d.getOrElse("commitOffsets", 0L) + d.getOrElse("walCommit", 0L))))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def json: String = synchronized {
    obj(
      "stages" -> arr(stages.values.toSeq.map(_.json)),
      "jobs" -> arr(jobs.toSeq),
      "sql_executions" -> arr(sqlExecs.toSeq),
      "writes" -> arr(writes.asScala.toSeq),
      "stream_progress" -> arr(progress.asScala.toSeq),
      "stream_starts" -> arr(streamStarts.asScala.toSeq),
      "cached_peak_bytes" -> num(blockPeak))
  }
}

/** Counts the engine's `[memo] <name> <outcome> key=...` stderr lines
  * while passing every byte through to the real stderr. */
final class MemoTee(out: PrintStream) extends OutputStream {
  val counts = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val line = new java.io.ByteArrayOutputStream()

  override def write(b: Int): Unit = synchronized {
    out.write(b)
    if (b == '\n') { scan(); line.reset() } else if (line.size < 256) line.write(b)
  }
  override def flush(): Unit = out.flush()

  private def scan(): Unit = {
    val s = line.toString("UTF-8")
    if (s.startsWith("[memo] ")) {
      val parts = s.split(' ')
      if (parts.length >= 3) counts.merge(parts(2), 1L, (a, b) => a + b)
    }
  }
}

/** Just enough JSON writing for the result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(x: Long): String = x.toString
  def num(x: Int): String = x.toString
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.math.BigDecimal.valueOf(x).toPlainString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
