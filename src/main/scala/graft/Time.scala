package graft

/** Local timing harness: run named queries against a sf dir with the bench
  * noop sink and print per-query seconds (first run + warm rerun). Usage:
  *   runMain graft.Time <sfDir> <name> [name...]
  */
object Time {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = EngineIO.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // job/stage counters: cheap attribution for "is this query driver-paced"
    // (many tiny jobs) vs "one big job" — the profiling signal the r21/r22
    // maintenance-loop work keys on
    val jobs = new java.util.concurrent.atomic.LongAdder
    val stages = new java.util.concurrent.atomic.LongAdder
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.increment()
      override def onStageCompleted(
          st: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stages.increment()
    })
    args.tail.foreach { name =>
      (1 to 2).foreach { pass =>
        val j0 = jobs.sum(); val st0 = stages.sum()
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[time] $name pass$pass $sec%.2f s jobs=${jobs.sum() - j0} stages=${stages.sum() - st0}")
      }
    }
    spark.stop()
  }
}
