package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.queries.Fixtures
import graft.sources.Sources

/** One benchmark run of one workload in one JVM, driven by `run.py`.
  *
  * Usage: `Main <workload> <work dir> <trace 0|1> <seconds> <seed> <cpus>`.
  * The work dir holds `inputs.json` (written by the input generator) and
  * receives `result.json`, `spans.jsonl` (traced runs) and the outputs
  * the checks read. All timing is closed-loop with one client thread.
  */
object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Ctx(
      spark: SparkSession,
      tracer: Tracer,
      work: String,
      inputs: JsonNode,
      seconds: Double,
      seed: Long)

  def main(args: Array[String]): Unit = {
    val Array(workload, work, trace, seconds, seed, cpus) = args
    val inputs = json.readTree(Files.readString(Paths.get(work, "inputs.json")))
    val tracer = new Tracer(trace == "1", s"$workload-$seed-${ProcessHandle.current().pid()}")
    val (spark, setupWall, setupCpu) = setUp(cpus.toInt, workload, inputs)
    tracer.attach(spark.sparkContext)
    val ctx = Ctx(spark, tracer, work, inputs, seconds.toDouble, seed.toLong)
    val jit0 = Jvm.jitS
    val gc0 = Jvm.gcS
    val body: Map[String, Any] = workload match {
      case "permit_chain"    => PermitChain.run(ctx)
      case "analyst_session" => AnalystSession.run(ctx)
      case "index_lifecycle" => IndexLifecycle.run(ctx)
      case "setup"           => Map.empty // session start only: the build records its classes
    }
    val result = body ++ Map(
      "setup_wall_s" -> setupWall,
      "setup_cpu_s" -> setupCpu,
      "jvm" -> Map("jit_s" -> (Jvm.jitS - jit0), "gc_s" -> (Jvm.gcS - gc0)),
      "peak_rss_mb" -> Jvm.peakRssMb)
    if (tracer.enabled)
      Files.writeString(
        Paths.get(work, "spans.jsonl"),
        tracer.spans.map(json.writeValueAsString).mkString("", "\n", "\n"))
    Files.writeString(Paths.get(work, "result.json"), json.writeValueAsString(result))
    spark.stop()
  }

  /** Start the local session, run its first job and register the
    * workload's inputs as temporary views, opened with the engine's own
    * readers. Returns the session with the wall seconds since JVM start
    * and the CPU seconds the process (every thread) has used since then.
    */
  private def setUp(cpus: Int, workload: String, in: JsonNode): (SparkSession, Double, Double) = {
    val spark = graft.EngineIO.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    // Fixtures.t, not Fixtures.events: the latter changes a session setting
    // that the analyst session's first events query is meant to change
    def fixtures(names: String*): Unit =
      names.foreach(n => Fixtures.t(spark, str(in, "fixtures"), n).createOrReplaceTempView(n))
    workload match {
      case "permit_chain" =>
        Sources.readPinUniverseCsv(spark, str(in, "universe")).createOrReplaceTempView("universe")
        req(in, "batches").elements().asScala.zipWithIndex.foreach { case (b, i) =>
          Sources.readPermitsJson(spark, str(b, "json")).createOrReplaceTempView(s"permits_$i")
        }
      case "analyst_session" => fixtures("customer", "orders", "documents", "events")
      case "index_lifecycle" => fixtures("documents", "embeddings")
      case "setup"           =>
      case other             => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val wall =
      System.currentTimeMillis() / 1e3 - ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    (spark, wall, os.getProcessCpuTime / 1e9)
  }

  /** The value of `key` in `n`; fails when it is missing. */
  def req(n: JsonNode, key: String): JsonNode =
    Option(n.get(key)).getOrElse(throw new IllegalArgumentException(s"inputs.json: no '$key'"))

  def str(n: JsonNode, key: String): String = req(n, key).asText()

  /** Seconds since `t0` (a `System.nanoTime`). */
  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val os =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Run `body` and return its result with its wall seconds and the CPU
    * seconds the whole process (every thread) spent meanwhile.
    */
  def timed[T](body: => T): (T, Double, Double) = {
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val r = body
    (r, since(t0), (os.getProcessCpuTime - c0) / 1e9)
  }
}
