package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test JVM (Test/fork := true). */
object TestSpark {
  lazy val spark: SparkSession = graft.EngineIO.localSession(4)
}

abstract class SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import scala.jdk.CollectionConverters._

  /** Collect a DataFrame to a sorted Seq of row-seqs for order-insensitive
    * comparison.
    */
  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  /** A fresh directory under this JVM's scratch root, deleted with the
    * root at exit.
    */
  def tempDir(tag: String): String = {
    val d = graft.queries.Scratch.dir(tag, System.nanoTime().toString)
    new java.io.File(d).mkdirs()
    d
  }

  /** (Spark jobs started, generated classes compiled) while `f` runs.
    * Compiles are Spark's codegen compilation count (updated in the
    * compiling thread); jobs come from a listener, read after the
    * listener bus drains.
    */
  def jobsAndCompiles(f: => Unit): (Long, Long) = {
    import org.apache.spark.metrics.source.CodegenMetrics
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    drainListenerBus()
    sc.addSparkListener(listener)
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try f
    finally {
      drainListenerBus()
      sc.removeSparkListener(listener)
    }
    (jobs.get, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
  }

  /** Wait until every listener has seen every event posted so far
    * (`listenerBus` is `private[spark]` in Scala, public in bytecode).
    */
  def drainListenerBus(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus): Unit
  }

  def strings(df: DataFrame, colName: String): Seq[String] =
    df.select(colName).collect().toSeq.map(r => Option(r.get(0)).map(_.toString).orNull)

  /** Set SQL confs for the duration of `f`, then RESTORE the prior values
    * (not the defaults) — the session is shared across every suite in the
    * JVM, so a plain set/unset would erase another suite's override and
    * make test outcomes order-dependent.
    */
  def withSQLConf(kv: (String, String)*)(f: => Unit): Unit = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
