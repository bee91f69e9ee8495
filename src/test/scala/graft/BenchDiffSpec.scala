package graft

import org.scalatest.funsuite.AnyFunSuite

/** BenchDiff's exact work comparison: a changed `jobs` or `compiles`
  * count is a mover whatever the time did, and history files written
  * before those counts existed still parse.
  */
class BenchDiffSpec extends AnyFunSuite {

  private def entry(name: String, sec: Double, jobs: Long, compiles: Long): String =
    s""""$name":{"sec":$sec,"shuffle_mb":0.000,"spill_mb":0.000,"sec_raw":$sec,"sec_min":$sec,""" +
      s""""jobs":$jobs,"tasks":${4 * jobs},"compiles":$compiles}"""

  private def file(entries: String*): String =
    s"""{"metric":"total","value":1.000,"unit":"sec","queries":{${entries.mkString(",")}},"failed":0}"""

  private def diff(before: String, after: String): Seq[String] =
    BenchDiff.report(before, after, topN = 10, noiseAbs = 0.35, noiseRel = 0.30)

  private def movers(report: Seq[String]): Seq[String] = {
    val i = report.indexWhere(_.startsWith("work movers"))
    assert(i >= 0, report.mkString("\n"))
    report.drop(i + 1).takeWhile(_.startsWith("  "))
  }

  // two runs of one build: times scatter inside the band, counts agree
  private val runA = file(entry("index_probe", 0.412, 5, 0), entry("sweep_tick", 1.310, 9, 2))
  private val runB = file(entry("index_probe", 0.455, 5, 0), entry("sweep_tick", 1.208, 9, 2))

  test("two runs of one build report no movers") {
    val r = diff(runA, runB)
    assert(r.contains("work movers (jobs or compiles changed): 0"), r.mkString("\n"))
    assert(r.exists(_.startsWith("movements beyond the noise band")) &&
      r.exists(_.contains("): 0 (top")), r.mkString("\n"))
  }

  test("one planted extra job is reported although its time did not move") {
    val planted = file(entry("index_probe", 0.412, 6, 0), entry("sweep_tick", 1.310, 9, 2))
    assert(movers(diff(runA, planted)) == Seq("  index_probe jobs 5->6"))
    val recompiled = file(entry("index_probe", 0.412, 5, 0), entry("sweep_tick", 1.310, 9, 7))
    assert(movers(diff(runA, recompiled)) == Seq("  sweep_tick compiles 2->7"))
  }

  test("a history file from before the work counts still parses") {
    val old = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("bench_history/r21.json")), "UTF-8")
    assert(!old.contains("\"jobs\""), "r21.json predates the work counts")
    val r = diff(old, old)
    val carried = "carried=(\\d+) ".r.findFirstMatchIn(r.head).map(_.group(1).toInt)
    assert(carried.exists(_ > 200), r.mkString("\n"))
    assert(movers(r).isEmpty, r.mkString("\n"))
    // against a file that carries the counts: one side has none, no mover
    val name = "\"([^\"]+)\":\\{\"sec\"".r.findFirstMatchIn(old).get.group(1)
    val mixed = diff(old, file(entry(name, 0.5, 3, 1)))
    assert(mixed.head.startsWith("carried=1 "), mixed.mkString("\n"))
    assert(movers(mixed).isEmpty, mixed.mkString("\n"))
  }
}
