package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one stage listener every in-engine timer shares
  * ([[Bench.StageMetrics]]), exercised against a live session:
  * counts a shuffle query, zeroes on reset, stops on remove. */
class StageMetricsSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private def shuffleQuery(): Unit =
    spark.range(0L, 200000L, 1L, 4).groupBy((col("id") % 97).as("k"))
      .agg(sum(col("id"))).collect()

  private def counters(sm: Bench.StageMetrics): Seq[Long] =
    Seq(sm.cpuNs, sm.runMs, sm.gcMs, sm.shufRead, sm.shufWrite,
      sm.spillBytes, sm.stages).map(_.sum)

  test("counts a shuffle query, zeroes on reset, stops counting once removed") {
    val sm = new Bench.StageMetrics(spark)
    try {
      sm.drain(); sm.reset()
      shuffleQuery()
      sm.drain()
      assert(sm.stages.sum > 0)
      assert(sm.cpuNs.sum > 0)
      assert(sm.shufBytes > 0)
      assert(sm.gcMs.sum >= 0)
      assert(sm.topStages(3).nonEmpty)
      assert(sm.topStages(3).map(_.runMs) == sm.topStages(3).map(_.runMs).sorted.reverse)

      sm.reset()
      assert(counters(sm).forall(_ == 0L), counters(sm))
      assert(sm.topStages(3).isEmpty)

      sm.remove()
      shuffleQuery()
      sm.drain()
      assert(counters(sm).forall(_ == 0L), counters(sm))
    } finally sm.remove()
  }
}
