package graft

/** Warm-run stage-metrics profiler — the methodology CLAUDE.md/PERF.md
  * prescribe ("`.count()` lies; cold local timings are JIT-dominated;
  * compare warm runs or stage CPU"), packaged as a main so a
  * regression verdict never again rests on one cold wall-clock number.
  *
  * Per run it reports wall time plus the stage metrics of the shared
  * [[Bench.StageMetrics]] listener: executor CPU, executor run time,
  * shuffle bytes read/written, spill, GC and stage count. CPU vs wall
  * separates "the query does more work" from "the machine was busy";
  * shuffle bytes separate plan regressions from noise.
  *
  * Usage: sbt "runMain graft.ProfileQuery <query> [sfDir] [runs] [stages]"
  * — the optional 4th arg `stages` additionally prints, per run, the
  * top stages by executor run time (stage id, task count, run/cpu
  * seconds, a name snippet) so an over-spread or stalled stage can be
  * NAMED instead of inferred from totals (r20 verdict item 2).
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      sys.error("usage: ProfileQuery <query> [sfDir] [runs] [stages]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val runs = args.lift(2).map(_.toInt).getOrElse(3)
    val dumpStages = args.lift(3).contains("stages")
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name'; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
    val spark = Bench.buildSession()
    spark.sparkContext.setLogLevel("WARN")
    val sm = new Bench.StageMetrics(spark)
    Bench.warmup(spark, sfDir); sm.drain()
    for (i <- 1 to runs) {
      sm.reset()
      val t0 = System.nanoTime()
      Bench.materialize(name, fn(spark, sfDir))
      val wall = (System.nanoTime() - t0) / 1e9
      sm.drain()
      println(f"[profile] $name run=$i wall=$wall%.3fs " +
        f"cpu=${sm.cpuNs.sum / 1e9}%.3fs taskRun=${sm.runMs.sum / 1e3}%.3fs " +
        f"shufRead=${sm.shufRead.sum / 1e6}%.1fMB shufWrite=${sm.shufWrite.sum / 1e6}%.1fMB " +
        f"spill=${sm.spillBytes.sum / 1e6}%.1fMB gc=${sm.gcMs.sum / 1e3}%.3fs stages=${sm.stages.sum}")
      if (dumpStages)
        sm.topStages(12).foreach { r =>
          println(f"[stage] run=$i id=${r.id} tasks=${r.tasks} " +
            f"taskRun=${r.runMs / 1e3}%.3fs cpu=${r.cpuNs / 1e9}%.3fs ${r.name}")
        }
    }
    sm.remove()
    spark.stop()
  }
}
