package graft.ext

import graft.SparkSpecBase
import graft.functions.LongParam
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

/** Index maintenance compiles each plan shape once: the era stamps are
  * parameters of the generated code ([[LongParam]]), not literals in its
  * source, so a maintenance cycle after the first compiles nothing.
  */
class PlanShapeSpec extends SparkSpecBase {

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  /** The generated Java source of every query `f` executes. */
  private def generatedCode(f: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan): Unit
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try f
    finally {
      drainListenerBus()
      spark.listenerManager.unregister(l)
    }
    plans.toArray(Array.empty[SparkPlan]).toSeq.flatMap(p => codegenStringSeq(p).map(_._2))
  }

  /** The first differing line of two sources, with its neighbours. */
  private def firstDiff(a: String, b: String): String = {
    val (x, y) = (a.split("\n"), b.split("\n"))
    val i = x.indices.find(i => i >= y.length || x(i) != y(i)).getOrElse(x.length)
    def around(l: Array[String]) = l.slice(i - 3, i + 3).mkString("\n")
    s"at line $i:\n${around(x)}\n----\n${around(y)}"
  }

  test("append and delete stamped at two different eras generate byte-identical code") {
    val tbl = s"psspec_code_${System.nanoTime()}"
    Dedup.persistLshIndex(docs.filter(col("doc_id") % 2 === 0), col("doc_id"), col("text"), tbl, 4)
    val ids = docs.filter(col("doc_id") % 4 === 1)
    // the tombstone table exists before either measured delete, so both
    // are appends to it
    Dedup.deleteFromLshIndex(spark, tbl, ids, col("doc_id"), era = 10L)
    val appends = Seq(1792424378915L, 1792424378916L).map { era =>
      generatedCode(Dedup.appendLshIndex(
        docs.filter(col("doc_id") % 2 === 1), col("doc_id"), col("text"), tbl, 4, era = era))
    }
    val deletes = Seq(1792424378917L, 1792424378918L).map { era =>
      generatedCode(Dedup.deleteFromLshIndex(spark, tbl, ids, col("doc_id"), era = era))
    }
    for ((name, Seq(a, b)) <- Seq("append" -> appends, "delete" -> deletes)) {
      assert(a.nonEmpty, s"$name generated no code")
      val (x, y) = (a.mkString("\n"), b.mkString("\n"))
      if (x != y) fail(s"$name code depends on the era ${firstDiff(x, y)}")
      if (x.contains("1792424378")) fail(s"$name inlines its era")
    }
  }

  test("frames that differ only in a parameter get different memo keys") {
    val tag = s"psspec_memo_${System.nanoTime()}"
    def stamped(era: Long): DataFrame = docs.select(col("doc_id"), LongParam.col(era).as("seq"))
    val (a, b) = (stamped(1L).queryExecution.analyzed, stamped(2L).queryExecution.analyzed)
    assert(a.canonicalized.toString != b.canonicalized.toString)
    assert(a.semanticHash() != b.semanticHash())
    assert(LongParam(7L).toString.contains("7") && LongParam(7L).sql.contains("7"))
    graft.Memo.planFrame(stamped(1L), tag).collect(): Unit
    graft.Memo.planFrame(stamped(2L), tag).collect(): Unit
    graft.Memo.planFrame(stamped(1L), tag).collect(): Unit
    val keys = graft.Memo.census().collect { case graft.Memo.Row(k, graft.Memo.Frame, _, _) if k.startsWith(tag) => k }
    assert(keys.size == 2, s"expected one memo entry per era, got $keys")
    assert(graft.Memo.planFrame(stamped(2L), tag).filter(col("seq") =!= 2L).isEmpty)
  }

  /** One maintenance cycle per family, the shape of the index_lifecycle
    * benchmark: append, delete, probe and census, ids chosen by an
    * IN-list (an `InSet`, whose values are a parameter too).
    */
  private final class Cycle(rng: scala.util.Random) {
    val lsh = s"psspec_lsh_${System.nanoTime()}"
    val ann = s"psspec_ann_${System.nanoTime()}"
    private lazy val coarse = Similarity.kmeansCentroids(emb, "vec_id", "embedding", nlist = 4, iters = 1)
    private lazy val books = Similarity.pqTrain(emb, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1)
    private def pick(df: DataFrame, idCol: String, n: Int): DataFrame = {
      val all = df.select(idCol).collect().map(_.getLong(0))
      df.filter(col(idCol).isin(rng.shuffle(all.toSeq).take(n): _*))
    }

    def persist(): Unit = {
      Dedup.persistLshIndex(docs.filter(col("doc_id") % 3 =!= 0), col("doc_id"), col("text"), lsh, 4)
      Similarity.persistAnnIndex(
        emb.filter(col("vec_id") % 3 =!= 0), "vec_id", "embedding", coarse, books, ann, 4)
    }

    def run(): Unit = {
      Dedup.appendLshIndex(pick(docs, "doc_id", 20), col("doc_id"), col("text"), lsh, 4)
      Dedup.deleteFromLshIndex(spark, lsh, pick(docs, "doc_id", 12), col("doc_id"))
      Dedup.probeLshIndex(spark, lsh, pick(docs, "doc_id", 20), col("doc_id"), col("text")).collect()
      Maintenance.indexCensus(spark, lsh, "corpus_id", "lsh").collect()
      Similarity.appendAnnIndex(pick(emb, "vec_id", 20), "vec_id", "embedding", coarse, books, ann, 4)
      Similarity.deleteFromAnnIndex(spark, ann, pick(emb, "vec_id", 12), "vec_id")
      Similarity.scoreAgainstAnnIndex(
        spark, ann, pick(emb, "vec_id", 20), "vec_id", "embedding", coarse, books, nprobe = 2, k = 3)
        .collect()
      Maintenance.indexCensus(spark, ann, "cand_id", "ann").collect(): Unit
    }
  }

  test("a second append, delete, probe and census cycle compiles no generated class") {
    val c = new Cycle(new scala.util.Random(7))
    c.persist()
    c.run()
    val (_, compiles) = jobsAndCompiles(c.run())
    assert(compiles == 0L, s"the second maintenance cycle compiled $compiles classes")
  }
}
