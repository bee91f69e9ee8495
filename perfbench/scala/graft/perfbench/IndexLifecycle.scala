package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Maintenance, Similarity}
import graft.sources.Sources

/** Persisted-index maintenance interleaved with reads, for two index
  * families: the MinHash-LSH text index over `documents` and the IVF-PQ
  * vector index over `embeddings`. After both initial builds over 70 %
  * of the ids, each cycle appends 40 new ids, deletes 20 live ids, probes
  * with 40 ids and takes a census, per family; every second cycle also
  * compacts. At least two cycles run, then cycles continue until they have
  * run for `seconds`. The seed picks the initial, appended, deleted and
  * probing ids.
  */
object IndexLifecycle {
  private val Buckets = 8
  private val InitialFrac = 0.7
  private val AppendN = 40
  private val DeleteN = 20
  private val ProbeN = 40
  private val CompactEvery = 2
  private val MinCycles = 2

  /** One index family behind a uniform write/read surface. */
  private abstract class Family(val name: String, val table: String, val idCol: String) {
    val all: DataFrame
    def persist(ids: Seq[Long], tbl: String): Unit
    def append(ids: Seq[Long]): Unit
    def delete(ids: Seq[Long]): Unit
    def probe(queryIds: Seq[Long], tbl: String): Array[Row]
    def compact(): Unit
    def census(): Array[Row]
    def rows(ids: Seq[Long]): DataFrame = all.filter(col(idCol).isin(ids: _*))
  }

  private def lsh(s: SparkSession, docs: DataFrame, table: String): Family =
    new Family("lsh", table, "doc_id") {
      val all = docs
      def persist(ids: Seq[Long], tbl: String): Unit =
        Dedup.persistLshIndex(rows(ids), col("doc_id"), col("text"), tbl, Buckets)
      def append(ids: Seq[Long]): Unit =
        Dedup.appendLshIndex(rows(ids), col("doc_id"), col("text"), table, Buckets)
      def delete(ids: Seq[Long]): Unit =
        Dedup.deleteFromLshIndex(s, table, rows(ids), col("doc_id"))
      def probe(queryIds: Seq[Long], tbl: String): Array[Row] =
        Dedup.probeLshIndex(s, tbl, rows(queryIds), col("doc_id"), col("text")).collect()
      def compact(): Unit = Dedup.compactLshIndex(s, table, Buckets)
      def census(): Array[Row] = Maintenance.indexCensus(s, table, "corpus_id", "lsh").collect()
    }

  private def ann(s: SparkSession, emb: DataFrame, table: String): Family =
    new Family("ann", table, "vec_id") {
      val all = emb
      // the pinned model, trained once over the whole corpus (memoized)
      private lazy val coarse =
        Similarity.kmeansCentroidsCached(emb, "vec_id", "embedding", nlist = 8, iters = 2)
      private lazy val books =
        Similarity.pqTrainCached(emb, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1)
      def persist(ids: Seq[Long], tbl: String): Unit =
        Similarity.persistAnnIndex(rows(ids), "vec_id", "embedding", coarse, books, tbl, Buckets)
      def append(ids: Seq[Long]): Unit =
        Similarity.appendAnnIndex(rows(ids), "vec_id", "embedding", coarse, books, table, Buckets)
      def delete(ids: Seq[Long]): Unit =
        Similarity.deleteFromAnnIndex(s, table, rows(ids), "vec_id")
      def probe(queryIds: Seq[Long], tbl: String): Array[Row] =
        Similarity.scoreAgainstAnnIndex(
          s, tbl, rows(queryIds), "vec_id", "embedding", coarse, books, nprobe = 2, k = 3).collect()
      def compact(): Unit = Similarity.compactAnnIndex(s, table, Buckets)
      def census(): Array[Row] = Maintenance.indexCensus(s, table, "cand_id", "ann").collect()
    }

  def run(ctx: Main.Ctx): Map[String, Any] = {
    import ctx.{spark, tracer}
    val pid = ProcessHandle.current().pid()
    val families = Seq(
      lsh(spark, spark.table("documents"), s"pb_lsh_$pid"),
      ann(spark, spark.table("embeddings"), s"pb_ann_$pid"))
    val rng = new scala.util.Random(ctx.seed)

    final class State(f: Family) {
      val ids: Vector[Long] =
        f.all.select(col(f.idCol)).collect().map(_.getLong(0)).toVector.sorted
      val (liveInit, reserveInit) = rng.shuffle(ids).splitAt((ids.length * InitialFrac).toInt)
      var live: Set[Long] = liveInit.toSet
      var pool: List[Long] = reserveInit.toList // never-live ids, then deleted ones
      var lastProbe: Seq[Long] = Nil
      var lastResult: Array[Row] = Array.empty
      // data files committed to the index and its tombstone table
      def files: Int = Seq(Similarity.servingTable(spark, f.table), Similarity.tombTable(f.table))
        .map(Sources.tableFileCount(spark, _)).sum
    }
    val states = families.map(f => f -> new State(f)).toMap
    val ops = Vector.newBuilder[Map[String, Any]]

    def op(f: Family, kind: String, cycle: Int, n: Int)(body: => Unit): Unit = {
      val st = states(f)
      val files0 = st.files
      val span = if (kind == "census") "ext.maintenance.census" else s"ext.index.$kind"
      val (_, wall, cpu) = Main.timed(tracer.span(span, "family" -> f.name, "cycle" -> cycle)(body))
      ops += Map("family" -> f.name, "kind" -> kind, "cycle" -> cycle, "wall_s" -> wall, "cpu_s" -> cpu, "ids" -> n,
        "files_delta" -> (st.files - files0))
    }

    // initial builds: the cold metric
    families.foreach { f =>
      val st = states(f)
      op(f, "persist", -1, st.live.size)(f.persist(st.live.toSeq.sorted, f.table))
    }
    val t0 = System.nanoTime()
    var cycle = 0
    while (cycle < MinCycles || Main.since(t0) < ctx.seconds) {
      families.foreach { f =>
        val st = states(f)
        val (add, rest) = st.pool.splitAt(AppendN)
        op(f, "append", cycle, add.size)(f.append(add))
        st.live ++= add
        val del = rng.shuffle(st.live.toVector.sorted).take(DeleteN)
        op(f, "delete", cycle, del.size)(f.delete(del))
        st.live --= del
        st.pool = rest ++ del
        val q = rng.shuffle(st.ids).take(ProbeN).sorted
        var res: Array[Row] = Array.empty
        op(f, "probe", cycle, q.size) { res = f.probe(q, f.table) }
        st.lastProbe = q
        st.lastResult = res
        var census: Array[Row] = Array.empty
        op(f, "census", cycle, 0) { census = f.census() }
        val c = census.head
        ops += Map("family" -> f.name, "kind" -> "state", "cycle" -> cycle,
          "files_per_bucket" -> Maintenance.filesPerBucket(spark, f.table, Buckets),
          "index_docs" -> c.getAs[Long]("index_docs"),
          "tomb_entries" -> c.getAs[Long]("tomb_entries"))
        if (cycle % CompactEvery == CompactEvery - 1)
          op(f, "compact", cycle, 0)(f.compact())
      }
      cycle += 1
    }

    // output check, untimed: the last probe against the maintained index
    // must equal the same probe against a fresh index over the live ids
    val checks = families.map { f =>
      val st = states(f)
      val fresh = s"${f.table}_fresh"
      f.persist(st.live.toSeq.sorted, fresh)
      val want = f.probe(st.lastProbe, fresh).map(_.toString).sorted.toSeq
      val got = st.lastResult.map(_.toString).sorted.toSeq
      val plant = Main.req(ctx.inputs, "plant_drop_row").asBoolean()
      val gotChecked = if (plant) got.drop(1) else got
      Map("family" -> f.name, "rows" -> want.size, "ok" -> (gotChecked == want), "live" -> st.live.size)
    }
    Map("ops" -> ops.result(), "checks" -> checks, "cycles" -> cycle)
  }
}
