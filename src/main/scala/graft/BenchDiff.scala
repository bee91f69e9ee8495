package graft

/** Round-over-round bench localizer: diff two per-query bench maps (the
  * files under `bench_history/`) and print the significant per-query time
  * deltas plus any shuffle/spill movements — so a drifting total names its
  * regressor instead of requiring a reviewer to eyeball 270+ plans.
  *
  * Usage: `runMain graft.BenchDiff <before.json> <after.json> [topN] [noiseAbs] [noiseRel]`
  *
  * Noise discipline: a carried delta only counts as a MOVEMENT when it
  * clears the measured run-to-run band — `|d| > max(noiseAbs,
  * noiseRel × before)` — everything inside the band is counted and
  * summarized as noise, not listed (a diff tool reading noisy numbers
  * cries wolf and buries real regressions). The default band is the
  * back-to-back-at-HEAD measurement recorded in bench_history/README.md;
  * override per-invocation when hunting smaller effects.
  *
  * Work counts are exact, not banded: every carried query whose `jobs` or
  * `compiles` differs between the two files is listed as a WORK MOVER,
  * whether or not its time moved (times scatter with host load; counts
  * do not). Files written before an entry carried a count compare
  * nothing for it.
  *
  * Failed-query sentinels (sec = -1.0) never enter totals or deltas: a
  * query failed on either side is reported on its own FAILED line —
  * a -1.0 "before" would otherwise print as a fake multi-second movement
  * and a failed→ok flip would inflate the carried-total drift.
  *
  * The files are the single-line JSON objects [[Bench]] writes; the
  * per-query map is a fixed machine-written shape
  * (`"name":{"sec":S,"shuffle_mb":M,"spill_mb":P}`), so a regex parse is
  * exact here — this tool must not pull a JSON library the build does not
  * have, and must keep working on partially-written files (best effort).
  */
object BenchDiff {
  private case class Q(
      sec: Double, shuffleMb: Double, spillMb: Double, floorSec: Double = -1.0,
      jobs: Option[Long] = None, compiles: Option[Long] = None)

  // floor_sec is optional (r16+ stream entries carry their applicable
  // per-query harness floor; older files don't) — tolerate any trailing
  // fields so the parser keeps reading every vintage of history file;
  // the work counts are read from that tail when present
  private val entry =
    """"([^"]+)":\{"sec":(-?[0-9.]+),"shuffle_mb":(-?[0-9.]+),"spill_mb":(-?[0-9.]+)(?:,"floor_sec":(-?[0-9.]+))?([^}]*)\}""".r

  private def count(field: String, tail: String): Option[Long] =
    s""""$field":([0-9]+)""".r.findFirstMatchIn(tail).map(_.group(1).toLong)

  private def load(text: String): Map[String, Q] =
    entry
      .findAllMatchIn(text)
      .map(m =>
        m.group(1) -> Q(
          m.group(2).toDouble,
          m.group(3).toDouble,
          m.group(4).toDouble,
          Option(m.group(5)).map(_.toDouble).getOrElse(-1.0),
          count("jobs", m.group(6)),
          count("compiles", m.group(6))))
      .toMap

  // Stream-harness floor recorded by Bench (the fixed MemoryStream /
  // micro-batch cost every stream_* query pays — StreamHarness.harnessFloor).
  // Absent in pre-r15 history files → 0.0, i.e. the old behavior.
  private val floorRe = """"harness_floor_sec":(-?[0-9.]+)""".r
  private def loadFloor(text: String): Double =
    floorRe
      .findFirstMatchIn(text)
      .map(_.group(1).toDouble)
      .filter(_ >= 0)
      .getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: BenchDiff <before.json> <after.json> [topN] [noiseAbs] [noiseRel]")
    def read(path: String) = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
    report(
      read(args(0)), read(args(1)),
      topN = if (args.length >= 3) args(2).toInt else 10,
      // measured band: see bench_history/README.md (back-to-back at r14 HEAD)
      noiseAbs = if (args.length >= 4) args(3).toDouble else 0.35,
      noiseRel = if (args.length >= 5) args(4).toDouble else 0.30)
      .foreach(println)
  }

  /** The diff of two bench_history file contents, one report line each. */
  def report(beforeText: String, afterText: String, topN: Int, noiseAbs: Double, noiseRel: Double): Seq[String] = {
    val out = Seq.newBuilder[String]
    def say(line: String): Unit = out += line
    val before = load(beforeText)
    val after = load(afterText)
    def f(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)

    val common = after.keySet.intersect(before.keySet).toSeq
    // comparable = measured on BOTH sides; failed-anywhere goes to its own line
    val carried = common.filter(k => before(k).sec >= 0 && after(k).sec >= 0)
    val failedSomewhere = common.filter(k => before(k).sec < 0 || after(k).sec < 0).sorted
    val added = after.keySet.diff(before.keySet).toSeq.sorted
    val removed = before.keySet.diff(after.keySet).toSeq.sorted
    def tot(m: Map[String, Q], ks: Seq[String]) = ks.iterator.map(m(_).sec).sum

    say(s"carried=${carried.size} added=${added.size} removed=${removed.size} failed=${failedSomewhere.size}")
    say(s"carried total (ok-both-sides): ${f(tot(before, carried))}s -> ${f(tot(after, carried))}s")
    if (failedSomewhere.nonEmpty)
      say("FAILED (excluded from totals/deltas): " + failedSomewhere.map { k =>
        def st(q: Q) = if (q.sec < 0) "FAIL" else f(q.sec) + "s"
        s"$k ${st(before(k))}->${st(after(k))}"
      }.mkString(", "))
    if (added.nonEmpty)
      say(s"added (${f(added.iterator.map(after(_).sec).filter(_ >= 0).sum)}s): ${added.mkString(", ")}")
    if (removed.nonEmpty) say(s"removed: ${removed.mkString(", ")}")

    // stream_* queries: subtract each side's measured harness floor before
    // banding, so the relative band applies to OPERATOR time, not the 1.5-4.5 s
    // fixed micro-batch constant (under which a 0.5 s operator regression on a
    // 4 s entry reads as 12% and drowns in the 30% relative band), and a
    // floor shift between runs (host-load) doesn't masquerade as a movement.
    // r16+ entries carry their own `floor_sec` (the APPLICABLE floor —
    // stateful machines pay the state-store floor, map-only pipelines the
    // stateless one); older files fall back to the file-level stateless
    // floor, which under-adjusts stateful entries by the ~0.5 s floor gap.
    val floorB = loadFloor(beforeText)
    val floorA = loadFloor(afterText)
    if (floorB > 0 || floorA > 0)
      say(
        s"stream harness floor subtracted for stream_* deltas: per-entry floor_sec where " +
          s"present, else file-level fallback before=${f(floorB)}s after=${f(floorA)}s " +
          "(fallback under-adjusts stateful entries)")
    // per-entry floor with a SYMMETRIC fallback: when exactly one side
    // lacks floor_sec (an r15-or-older file), borrow the OTHER side's —
    // floors are host constants, not per-run, and the old asymmetric
    // fallback (stateful after-side floor ~0.8 s vs stateless file-level
    // ~0.3 s on the before side) biased stateful stream deltas down by
    // the ~0.5 s floor gap, masking real regressions of that size.
    def floorFor(own: Q, other: Q, ownFile: Double) =
      if (own.floorSec >= 0) own.floorSec
      else if (other.floorSec >= 0) other.floorSec
      else ownFile
    def adj(k: String, q: Q, other: Q, fileFloor: Double) =
      if (k.startsWith("stream_"))
        math.max(0.0, q.sec - floorFor(q, other, fileFloor))
      else q.sec
    def band(k: String) = math.max(noiseAbs, noiseRel * adj(k, before(k), after(k), floorB))
    val deltas =
      carried.map(k => (k, adj(k, after(k), before(k), floorA) - adj(k, before(k), after(k), floorB)))
    val (moved, noise) = deltas.partition { case (k, d) => math.abs(d) > band(k) }
    say(s"movements beyond the noise band |d| > max(${f(noiseAbs)}s, ${f(noiseRel * 100)}% of before): " +
      s"${moved.size} (top $topN shown); ${noise.size} carried deltas within band suppressed as noise")
    moved
      .sortBy { case (_, d) => -math.abs(d) }
      .take(topN)
      .foreach { case (k, d) =>
        val sh = after(k).shuffleMb - before(k).shuffleMb
        val shTxt = if (math.abs(sh) >= 0.5) s" shuffle ${f(before(k).shuffleMb)}->${f(after(k).shuffleMb)}MB" else ""
        say(f"  ${if (d >= 0) "+" else ""}${f(d)}%8s  $k (${f(before(k).sec)}s -> ${f(after(k).sec)}s)$shTxt")
      }

    // exact work counts: a changed count is listed even inside the time band
    def change(k: String, q: Q => Option[Long]) = (q(before(k)), q(after(k))) match {
      case (Some(b), Some(a)) if a != b => Some(s"$b->$a")
      case _                            => None
    }
    val work = carried.sorted.flatMap { k =>
      val d = Seq("jobs" -> change(k, _.jobs), "compiles" -> change(k, _.compiles))
        .collect { case (n, Some(m)) => s"$n $m" }
      if (d.isEmpty) None else Some(s"  $k ${d.mkString(" ")}")
    }
    say(s"work movers (jobs or compiles changed): ${work.size}")
    work.foreach(say)

    val newSpill = carried.filter(k => after(k).spillMb > 0 && before(k).spillMb == 0)
    if (newSpill.nonEmpty)
      say(s"NEW SPILL: ${newSpill.map(k => s"$k=${f(after(k).spillMb)}MB").mkString(", ")}")
    out.result()
  }
}
