package graft.perfbench

import org.apache.spark.sql.functions._

import graft.ops.PinOps
import graft.pipeline.PermitPipeline
import graft.sources.{Sources, Xlsx}

/** The reference's production chain, one permit batch per operation:
  * Socrata JSON + PIN-universe CSV → [[PermitPipeline.run]] → batched
  * upload files → two-sheet review workbook → one zip of the batch's
  * output directory. Batches are new data to the engine, so no memo is
  * ever hit. Every batch runs once, and batches are reused round-robin
  * until the warm batches (all but the first) have run for `seconds`.
  */
object PermitChain {
  private val outCols = Seq(
    "permit_no", "pin", "issue_date", "amount", "applicant",
    "applicant_street_address", "suggested_pins", "matched_keywords")

  def run(ctx: Main.Ctx): Map[String, Any] = {
    import ctx.{spark, tracer}
    import scala.jdk.CollectionConverters._
    val batches = Main.req(ctx.inputs, "batches").elements().asScala.toVector
    val universe = Main.str(ctx.inputs, "universe")
    val ops = Vector.newBuilder[Map[String, Any]]
    var tWarm = 0L
    var i = 0
    while (i < batches.length || Main.since(tWarm) < ctx.seconds) {
      if (i == 1) tWarm = System.nanoTime()
      val b = batches(i % batches.length)
      val out = s"${ctx.work}/out/op_$i"
      val (_, wall, cpu) = Main.timed(tracer.span("batch", "op" -> i, "batch" -> (i % batches.length)) {
        val (raw, uni) = tracer.span("sources.read") {
          (Sources.readPermitsJson(spark, Main.str(b, "json")),
            Sources.readPinUniverseCsv(spark, universe))
        }
        val (upload, review) = tracer.span("pipeline.construct") {
          val (up, rev) = PermitPipeline.run(raw, uni, existing = None)
          (up, rev.select(outCols.map(col) :+ array_join(col("errors"), "; ").as("errors"): _*))
        }
        val pins = uni
          .select(PinOps.zfill14(col("pin")).as("pin"))
          .withColumn("pin_hyphenated", PinOps.hyphenate(col("pin")))
        tracer.span("pipeline.plan") {
          upload.queryExecution.executedPlan
          review.queryExecution.executedPlan
        }
        tracer.span("sources.write_batched") {
          Sources.writeBatched(upload, s"$out/batch/upload", maxRecords = 10000)
        }
        tracer.span("sources.xlsx_write") {
          Xlsx.writeSheets(
            Seq("Permits" -> review, "Universe of Valid PINs" -> pins), s"$out/batch/review.xlsx")
        }
        tracer.span("sources.zip") {
          Sources.zipDirectory(s"$out/batch", s"$out/batch.zip")
        }
      })
      ops += Map(
        "op" -> i, "batch" -> (i % batches.length), "cold" -> (i == 0), "wall_s" -> wall,
        "cpu_s" -> cpu,
        "permits" -> Main.req(b, "permits").asLong(),
        "input_bytes" -> (Main.req(b, "bytes").asLong() + Main.req(ctx.inputs, "universe_bytes").asLong()),
        "zip" -> s"$out/batch.zip")
      i += 1
    }
    Map(
      "ops" -> ops.result(),
      "oracle_sql" -> Seq("pipeline_upload", "pipeline_review")
        .map(n => n -> graft.SparkEntry.oracleSql(n)).toMap)
  }
}
