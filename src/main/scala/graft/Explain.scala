package graft
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = EngineIO.localSession(4)
    args.foreach { name =>
      println(s"==== $name ====")
      SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").explain("formatted")
    }
    spark.stop()
  }
}
