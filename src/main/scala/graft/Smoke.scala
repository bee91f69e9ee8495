package graft

/** t1 smoke twin: run SparkEntry.entry exactly as the driver does and print
  * the row count (must be > 0).
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = EngineIO.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    val n = SparkEntry.entry(spark).count()
    println(s"[smoke] entry rows = $n")
    spark.stop()
  }
}
