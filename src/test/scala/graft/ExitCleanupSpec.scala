package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions.col

import graft.ext.{Dedup, Multimodal}

/** Each JVM owns its files: every table (index companions included) lies
  * under this JVM's warehouse, every spill under its scratch root, and a
  * JVM deletes both roots whole when it exits.
  */
class ExitCleanupSpec extends SparkSpecBase {
  import spark.implicits._

  private def under(root: String, p: Path): Boolean =
    p.toAbsolutePath.normalize.startsWith(Paths.get(root).toAbsolutePath.normalize)

  test("index tables, their companions and memo spills live under this JVM's roots") {
    val n = System.nanoTime()
    val lsh = s"exitspec_lsh_$n"
    val ham = s"exitspec_ham_$n"
    val textA = "accept all cookies to continue to the site you were reading before this banner"
    val textB = "subscribe to our newsletter for weekly updates delivered straight to your inbox"
    val docs = ((1L to 12L).map((_, textA)) ++ Seq((41L, textB), (42L, textB))).toDF("doc_id", "text")
    val frames = (1L to 12L).map(i => (i, 42L)).toDF("asset_id", "fp")
    val seen = scala.collection.mutable.Set.empty[String]
    // every catalog table of the two indexes, checked after each step
    def placed(): Unit =
      spark.catalog.listTables().collect().map(_.name)
        .filter(t => t.startsWith(lsh) || t.startsWith(ham))
        .foreach { t =>
          val p = Paths.get(spark.sessionState.catalog.defaultTablePath(TableIdentifier(t)))
          assert(under(EngineIO.warehouseDir, p) && Files.isDirectory(p),
            s"table $t is not stored under ${EngineIO.warehouseDir}: $p")
          seen += t
        }
    Dedup.persistLshIndex(docs, col("doc_id"), col("text"), lsh, buckets = 4)
    placed()
    Dedup.deleteFromLshIndex(spark, lsh, Seq(3L, 7L).toDF("id"), col("id"))
    placed()
    Dedup.compactLshIndex(spark, lsh, buckets = 4)
    placed()
    Dedup.rebuildLshIndex(spark, lsh, docs, col("doc_id"), col("text"), buckets = 4)
    placed()
    Multimodal.persistHammingIndex(frames, "asset_id", "fp", ham, buckets = 4, maxBucket = 10)
    Multimodal.quarantineHammingIndex(
      spark, ham, frames, "asset_id", "fp", buckets = 4, maxBucket = 10)
    placed()
    val companions = Set(lsh, s"${lsh}_tomb", s"${lsh}__v1", ham, s"${ham}_quar", s"${ham}_quar_wm")
    assert(companions.subsetOf(seen), s"lifecycle did not mint ${companions -- seen}")

    Memo.frame("exitspec", Some(s"k$n"), spark)(Seq(1L, 2L).toDF("id")).collect()
    val spills = Memo.census().collect {
      case Memo.Row(k, Memo.Frame, p: String, _) if k.startsWith("exitspec_") => Paths.get(p)
    }
    assert(spills.nonEmpty && spills.forall(under(EngineIO.scratchRoot, _)),
      s"memo spills outside ${EngineIO.scratchRoot}: $spills")
  }

  test("a JVM deletes its warehouse and scratch roots whole at exit") {
    val whBase = tempDir("exitspec_wh_base")
    val scBase = tempDir("exitspec_sc_base")
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    // the parent's JVM flags carry the --add-opens set over
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(_.startsWith("-Djava.class.path="))
    val cmd = Seq(javaBin) ++ jvmArgs ++
      Seq("-cp", System.getProperty("java.class.path"), ExitCleanupChild.getClass.getName.stripSuffix("$"))
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    pb.environment().put("SPARK_GRAFT_WAREHOUSE_DIR", whBase)
    pb.environment().put("SPARK_GRAFT_SCRATCH_ROOT", scBase)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    assert(proc.waitFor() == 0, s"child JVM failed:\n$out")
    val roots = out.linesIterator.collect { case l if l.startsWith("root=") => l.stripPrefix("root=") }.toSeq
    assert(roots.size == 2, s"child printed no roots:\n$out")
    assert(under(whBase, Paths.get(roots.head)) && under(scBase, Paths.get(roots(1))),
      s"roots $roots are not under the bases $whBase, $scBase")
    roots.foreach(r => assert(!Files.exists(Paths.get(r)), s"root $r survived its JVM"))
    Seq(whBase, scBase).foreach { b =>
      val left = Option(new java.io.File(b).list()).map(_.toSeq).getOrElse(Nil)
      assert(left.isEmpty, s"base $b gained entries: $left")
    }
  }
}

/** Child JVM of the exit spec: touches both roots, writes one file under
  * each, prints them and exits.
  */
object ExitCleanupChild {
  def main(args: Array[String]): Unit =
    Seq(EngineIO.warehouseDir, EngineIO.scratchRoot).foreach { root =>
      Files.writeString(Paths.get(root, "probe.txt"), "x")
      println(s"root=$root")
    }
}
