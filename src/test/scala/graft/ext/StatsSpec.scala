package graft.ext

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class StatsSpec extends SparkSpecBase {
  import spark.implicits._

  test("exactQuantiles matches the (n-1)p interpolation definition") {
    // values 0..100: quantile p is exactly 100p (positions land between
    // integers only for p=0.9 → 90.0 exactly too)
    val df = (0 to 100).toDF("v")
    val q = Stats
      .exactQuantiles(df, col("v"), Seq(0.25, 0.5, 0.75, 0.9))
      .collect()
      .map(r => r.getDouble(0) -> r.getDouble(1))
      .toMap
    assert(q == Map(0.25 -> 25.0, 0.5 -> 50.0, 0.75 -> 75.0, 0.9 -> 90.0))
  }

  test("exactQuantiles interpolates between straddling values") {
    // four values, p=0.5 → pos 1.5 → midpoint of 2nd and 3rd
    val df = Seq(10, 20, 40, 80).toDF("v")
    val q = Stats.exactQuantiles(df, col("v"), Seq(0.5)).collect()
    assert(q.length == 1 && q(0).getDouble(1) == 30.0)
  }

  test("exactQuantiles ranks in a PARTITIONED window (no single-task global sort)") {
    // 0..4095 spreads over many equal-width value buckets in the test
    // session (4 shuffle partitions → 16 buckets)
    val df = (0 until 4096).toDF("v")
    val out = Stats.exactQuantiles(df, col("v"), Seq(0.5, 0.99))
    val plan = out.queryExecution.executedPlan.toString
    // every window in the plan must carry a partition key: a global
    // row_number window would render windowspecdefinition(v ... ) with no
    // partition column before the sort spec
    val specs = "windowspecdefinition\\(([^)]*)\\)".r.findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(specs.nonEmpty)
    assert(
      specs.forall(s => s.contains("b#")),
      s"found an unpartitioned ranking window:\n$specs")
    // and the two-phase ranking is still exact
    val q = out.collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(q(0.5) == 4095 * 0.5 && q(0.99) == 4095 * 0.99)
  }

  test("exactQuantiles excludes null values (quantile_cont semantics, no null-bucket NPE)") {
    // nulls interleaved with values: n must count only non-nulls, so the
    // quantiles equal those of the null-free frame (the r6 regression: a
    // null bucket key NPE'd the offsets collect and n counted null rows)
    val df = (0 to 100).map(i => if (i % 3 == 0) None else Some(i))
      .toDF("v")
    val q = Stats.exactQuantiles(df, col("v"), Seq(0.5)).collect()
    val dense = (0 to 100).filter(_ % 3 != 0)
    val expect = { // (n-1)p interpolation over the 67 non-null values
      val pos = (dense.length - 1) * 0.5
      val lo = dense(math.floor(pos).toInt)
      val hi = dense(math.ceil(pos).toInt)
      lo + (hi - lo) * (pos - math.floor(pos))
    }
    assert(q.length == 1 && q(0).getDouble(1) == expect)
    // all-null input behaves as empty, not as a crash
    val allNull = Seq[Option[Int]](None, None).toDF("v")
    assert(Stats.exactQuantiles(allNull, col("v"), Seq(0.5)).collect().isEmpty)
  }

  test("exactQuantiles ranking stage runs >1 task on a multi-bucket input") {
    // the Stats scaladoc promises the ranking window fans out across value
    // buckets; assert the EXECUTED plan gives the window a hash exchange on
    // the bucket key with >1 partition (= >1 ranking task). AQE off so the
    // static plan's partition count IS the task count (tiny test data would
    // otherwise coalesce to one partition and prove nothing)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = (0 until 4096).toDF("v")
      val out = Stats.exactQuantiles(df, col("v"), Seq(0.5, 0.99))
      out.collect()
      val windows = out.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty, "expected a window in the ranking plan")
      val exchanges = windows.flatMap(_.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e.outputPartitioning
      })
      val hashParts = exchanges.collect {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning => h
      }
      assert(
        hashParts.exists(h =>
          h.numPartitions > 1 && h.expressions.exists(_.toString.contains("b#"))),
        s"ranking window not hash-distributed on the bucket key: $exchanges")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("exactQuantiles is exact on a skewed multiset (duplicates straddle the position)") {
    // heavy duplicates force rank ranges wider than 1 on both probes
    val df = (Seq.fill(50)(1) ++ Seq.fill(30)(5) ++ Seq.fill(20)(9)).toDF("v")
    val q = Stats.exactQuantiles(df, col("v"), Seq(0.25, 0.5, 0.8, 0.995))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    // n=100: pos(.25)=24.75 sits inside the 1-run; pos(.5)=49.5 straddles
    // the 1→5 boundary (ranks 50,51); pos(.8)=79.2 straddles 5→9
    assert(q(0.25) == 1.0 && q(0.5) == 1.0 + (5.0 - 1.0) * (49.5 - 49.0))
    assert(q(0.8) == 5.0 + (9.0 - 5.0) * (79.2 - 79.0))
    assert(q(0.995) == 9.0)
  }

  test("quantileBuckets assigns balanced, monotone deciles and matches brute force") {
    val df = (1 to 1000).map(i => (i.toLong, i.toLong)).toDF("id", "x")
    val out = Stats.quantileBuckets(df, $"id", $"x", (1 to 9).map(_ / 10.0))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.length == 1000)
    // brute force with the same cut definition: pos = 999p → cut = 1 + 999p
    val cuts = (1 to 9).map(p => 1.0 + 999.0 * p / 10.0)
    out.foreach { case (_, v, b) =>
      val expect = 1 + cuts.count(v.toDouble > _)
      assert(b == expect, s"v=$v bucket $b != $expect")
    }
    // balanced on uniform data: each decile holds ~100
    val sizes = out.groupBy(_._3).view.mapValues(_.size).toMap
    assert(sizes.keySet == (1 to 10).toSet)
    assert(sizes.values.forall(s => s >= 80 && s <= 120), s"unbalanced deciles $sizes")
    // monotone: bucket ordering follows value ordering
    val byV = out.sortBy(_._2).map(_._3)
    assert(byV.zip(byV.tail).forall { case (a, b) => a <= b })
  }

  test("quantileBuckets assignment pass is map-only after the cuts are known") {
    val df = (1 to 100).map(i => (i.toLong, i.toLong)).toDF("id", "x")
    val out = Stats.quantileBuckets(df, $"id", $"x", Seq(0.5))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assignment must not shuffle:\n$plan")
  }

  test("outliersExact matches the float z-score definition away from boundaries") {
    // group a: tight cluster + one far point; group b: uniform, no outliers
    val df = (Seq.fill(20)(("a", 100)) :+ (("a", 10000))).zipWithIndex.map { case ((g, v), i) => (g, i.toLong, v) }
      .++((0 until 10).map(i => ("b", 100L + i, 50 + i)))
      .toDF("g", "id", "v")
    val out = Stats.outliersExact(df, col("g"), col("id"), col("v"), k = 3)
      .collect().map(r => r.getLong(1) -> r.getBoolean(3)).toMap
    // driver-side float twin
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    val byG = rows.groupBy(_._1)
    rows.foreach { case (g, id, x) =>
      val xs = byG(g).map(_._3.toDouble)
      val mu = xs.sum / xs.length
      val sigma = math.sqrt(xs.map(v => (v - mu) * (v - mu)).sum / xs.length)
      assert(out(id) == math.abs(x - mu) > 3 * sigma, s"id=$id g=$g x=$x")
    }
    assert(out.values.count(identity) == 1) // exactly the far point
  }

  test("groupedQuantile computes each group's interpolated quantile independently") {
    val df = Seq(
      ("a", 10), ("a", 20), ("a", 40), ("a", 80), // p=.5 → pos 1.5 → 30
      ("b", 1), ("b", 2), ("b", 3), // odd count → exact middle 2
      ("c", 7) // singleton → itself
    ).toDF("g", "v")
    val out = Stats
      .groupedQuantile(df, col("g"), col("v"), p = 0.5)
      .collect()
      .map(r => r.getString(0) -> r.getDouble(1))
      .toMap
    assert(out == Map("a" -> 30.0, "b" -> 2.0, "c" -> 7.0))
  }

  test("groupedQuantile agrees with exactQuantiles run per group on random data") {
    val rnd = new scala.util.Random(11)
    val df = (0 until 300)
      .map(i => (s"g${i % 7}", rnd.nextInt(1000)))
      .toDF("g", "v")
    val grouped = Stats
      .groupedQuantile(df, col("g"), col("v"), p = 0.25)
      .collect()
      .map(r => r.getString(0) -> r.getDouble(1))
      .toMap
    for (g <- 0 until 7) {
      val single = Stats
        .exactQuantiles(df.filter(col("g") === s"g$g"), col("v"), Seq(0.25))
        .collect()(0)
        .getDouble(1)
      assert(grouped(s"g$g") == single, s"group g$g")
    }
  }

  test("approx_percentile (the 100 TB scale path) stays within tolerance of exactQuantiles") {
    // the scaladoc contract: exactQuantiles is the small-SF validation twin
    // of the distributed t-digest path — prove the pairing actually holds
    val rnd = new scala.util.Random(3)
    val df = (0 until 10000).map(_ => rnd.nextInt(100000)).toDF("v")
    val exact = Stats
      .exactQuantiles(df, col("v"), Seq(0.25, 0.5, 0.9))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val approx = df
      .agg(percentile_approx(col("v"), array(lit(0.25), lit(0.5), lit(0.9)), lit(10000)).as("q"))
      .collect()(0).getSeq[Int](0)
    for (((p, e), a) <- Seq(0.25, 0.5, 0.9).map(p => p -> exact(p)).zip(approx))
      assert(math.abs(a - e) / math.max(e, 1.0) < 0.01, s"p=$p approx $a vs exact $e")
  }

  test("corrExact: perfectly linear data gives r=1, anti-linear r=-1, and matches corr() closely") {
    // r is deterministic but the two sqrts round independently, so a
    // mathematically-exact 1 can land 1 ulp under it
    val lin = (1 to 50).map(i => (i.toLong, 3L * i + 7L)).toDF("x", "y")
    assert(math.abs(Stats.corrExact(lin, col("x"), col("y")).collect()(0).getDouble(1) - 1.0) < 1e-12)

    val anti = (1 to 50).map(i => (i.toLong, -2L * i)).toDF("x", "y")
    assert(math.abs(Stats.corrExact(anti, col("x"), col("y")).collect()(0).getDouble(1) + 1.0) < 1e-12)

    val noisy = (1 to 200).map(i => (i.toLong, (i * i % 97).toLong)).toDF("x", "y")
    val exact = Stats.corrExact(noisy, col("x"), col("y")).collect()(0).getDouble(1)
    val builtin = noisy.agg(corr(col("x"), col("y"))).collect()(0).getDouble(0)
    assert(math.abs(exact - builtin) < 1e-9)
  }

  test("corrExact stays exact when n*Σx² exceeds Long range (decimal(38,0) moments)") {
    // x ≈ 3e9: Σx² over 100 rows ≈ 9e20 > 2⁶³ ≈ 9.2e18 — Long moments
    // would silently wrap (the pre-r5 defect); decimal(38,0) matches
    // DuckDB's HUGEINT promotion instead
    val rnd = new scala.util.Random(7)
    val data = (0 until 100).map { i =>
      val x = 3000000000L + i * 1000000L
      (x, x / 3 + rnd.nextInt(1000000).toLong)
    }
    val df = data.toDF("x", "y")
    val r = Stats.corrExact(df, col("x"), col("y")).collect()(0).getDouble(1)
    // reference value from arbitrary-precision BigInt moments, same
    // fixed-order double tail
    val n = BigInt(data.length)
    val sx = data.map(d => BigInt(d._1)).sum
    val sy = data.map(d => BigInt(d._2)).sum
    val sxx = data.map(d => BigInt(d._1) * BigInt(d._1)).sum
    val syy = data.map(d => BigInt(d._2) * BigInt(d._2)).sum
    val sxy = data.map(d => BigInt(d._1) * BigInt(d._2)).sum
    assert(n * sxx > BigInt(Long.MaxValue), "fixture must actually exceed Long range")
    val expect = (n * sxy - sx * sy).toDouble /
      (math.sqrt((n * sxx - sx * sx).toDouble) * math.sqrt((n * syy - sy * sy).toDouble))
    assert(math.abs(r - expect) < 1e-12, s"engine $r vs BigInt reference $expect")
  }

  test("corrExactBy matches corrExact run per group") {
    val df = (0 until 300)
      .map(i => (s"s${i % 3}", (i + 1).toLong, ((i.toLong * i) % 101)))
      .toDF("g", "x", "y")
    val grouped = Stats
      .corrExactBy(df, col("g"), col("x"), col("y"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(grouped.keySet == Set("s0", "s1", "s2"))
    for (g <- 0 until 3) {
      val single = Stats
        .corrExact(df.filter(col("g") === s"s$g"), col("x"), col("y"))
        .collect()(0)
      assert(
        grouped(s"s$g") == ((single.getLong(0), single.getDouble(1))),
        s"group s$g diverges from the ungrouped moments")
    }
  }

  test("madOutliers: doubled-domain medians are exact Longs and only true outliers flag") {
    // values 1..9 plus 100: v2 = 2..18,200 → med2 = (10+12)/2 = 11;
    // dev4 = 2|2x−11| = [18,14,10,6,2,2,6,10,14,378] → mad4 = (10+10)/2 = 10
    val df = ((1 to 9) :+ 100).zipWithIndex.map { case (v, i) => (i.toLong, v.toLong) }.toDF("rid", "v")
    val out = Stats.madOutliers(df, col("rid"), col("v"), k = 3).collect()
    assert(out.forall(r => r.getLong(3) == 11L && r.getLong(4) == 10L), "med2/mad4 wrong")
    assert(out.filter(_.getBoolean(5)).map(_.getLong(1)).toSet == Set(100L))
  }

  test("ksDrift: planted shift scores its exact sup distance; identical halves score 0") {
    // group "x": A = 1..100, B = 51..150 → the ECDF gap peaks at v=50
    // (F_A=0.5, F_B=0): D = |50·100 − 0·100| / (100·100) = 0.5 exactly.
    // group "y": both sides identical → D = 0. group "z": A-only → KS
    // undefined → the group is absent, not zero-scored.
    val rows =
      (1 to 100).map(v => ("x", v.toLong, true)) ++
        (51 to 150).map(v => ("x", v.toLong, false)) ++
        (1 to 40).flatMap(v => Seq(("y", v.toLong, true), ("y", v.toLong, false))) ++
        (1 to 5).map(v => ("z", v.toLong, true))
    val df = rows.toDF("g", "v", "a")
    val out = Stats.ksDrift(df, col("g"), col("v"), col("a"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out.keySet == Set("x", "y"), s"one-sided group must drop: $out")
    assert(out("x") == ((100L, 100L, 0.5)), s"planted shift: $out")
    assert(out("y") == ((40L, 40L, 0.0)), s"identical halves: $out")
  }

  test("ksDrift is side-symmetric and bounded in [0, 1] on random data") {
    // |F_A − F_B| doesn't care which snapshot is called A — and the
    // distance is a probability-scale statistic, so values outside [0,1]
    // would mean the cross-product rank math is wrong
    val rng = new scala.util.Random(7)
    val rows = (1 to 400).map(i =>
      (s"g${rng.nextInt(3)}", rng.nextInt(40).toLong, rng.nextBoolean()))
    val df = rows.toDF("g", "v", "a")
    def asMap(r: Array[org.apache.spark.sql.Row]) =
      r.map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    val fwd = asMap(Stats.ksDrift(df, col("g"), col("v"), col("a")).collect())
    val rev = asMap(Stats.ksDrift(df, col("g"), col("v"), !col("a")).collect())
    assert(fwd.keySet == rev.keySet)
    for ((g, (na, nb, d)) <- fwd) {
      assert(rev(g) == ((nb, na, d)), s"side swap must transpose counts, keep D: $g")
      assert(d >= 0.0 && d <= 1.0, s"D out of range: $g -> $d")
    }
  }

  test("tvdDrift: disjoint category mixes score 1, identical mixes 0, one-sided groups drop") {
    val rows =
      (1 to 10).map(_ => ("x", "a", true)) ++ (1 to 10).map(_ => ("x", "b", false)) ++
        (1 to 5).flatMap(_ => Seq(("y", "a", true), ("y", "a", false),
          ("y", "b", true), ("y", "b", false))) ++
        (1 to 3).map(_ => ("z", "a", true))
    val out = Stats.tvdDrift(rows.toDF("g", "c", "a"), col("g"), col("c"), col("a"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out.keySet == Set("x", "y"), s"one-sided group must drop: $out")
    assert(out("x") == ((10L, 10L, 1.0)), s"disjoint mixes: $out")
    assert(out("y") == ((10L, 10L, 0.0)), s"identical mixes: $out")
    // a 3:1 vs 1:3 flip: TVD = 1/2(|3/4-1/4| + |1/4-3/4|) = 0.5 exactly
    val skew = ((1 to 3).map(_ => ("s", "a", true)) :+ (("s", "b", true))) ++
      ((1 to 3).map(_ => ("s", "b", false)) :+ (("s", "a", false)))
    val d = Stats.tvdDrift(skew.toDF("g", "c", "a"), col("g"), col("c"), col("a"))
      .collect().head.getDouble(3)
    assert(d == 0.5, s"3:1 flip must score exactly 0.5: $d")
  }

  test("psiDrift: identical mixes score 0, one-sided groups drop, shifts score positive") {
    val rows =
      (1 to 5).flatMap(_ => Seq(("y", "a", true), ("y", "a", false),
        ("y", "b", true), ("y", "b", false))) ++
        (1 to 10).map(_ => ("x", "a", true)) ++ (1 to 10).map(_ => ("x", "b", false)) ++
        (1 to 3).map(_ => ("z", "a", true))
    val out = Stats.psiDrift(rows.toDF("g", "c", "a"), col("g"), col("c"), col("a"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out.keySet == Set("x", "y"), s"one-sided group must drop: $out")
    assert(out("y") == ((10L, 10L, 0.0)), s"identical mixes: $out")
    // disjoint mixes, Laplace-smoothed: p = (11/12, 1/12), q = (1/12, 11/12)
    // → PSI = 2 · (10/12) · ln(11) = 3.996492 to 6 dp
    assert(out("x")._3 == 3.996492, s"disjoint mixes: $out")
  }

  test("psiDrift is side-symmetric and non-negative on random data") {
    // (p−q)·ln(p/q) ≥ 0 term-by-term and is invariant under p↔q, so the
    // score must survive an A/B relabel with only the counts transposed
    val rng = new scala.util.Random(11)
    val rows = (1 to 400).map(i =>
      (s"g${rng.nextInt(3)}", s"c${rng.nextInt(5)}", rng.nextBoolean()))
    val df = rows.toDF("g", "c", "a")
    def asMap(r: Array[org.apache.spark.sql.Row]) =
      r.map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    val fwd = asMap(Stats.psiDrift(df, col("g"), col("c"), col("a")).collect())
    val rev = asMap(Stats.psiDrift(df, col("g"), col("c"), !col("a")).collect())
    assert(fwd.keySet == rev.keySet && fwd.nonEmpty)
    for ((g, (na, nb, v)) <- fwd) {
      assert(rev(g) == ((nb, na, v)), s"side swap must transpose counts, keep PSI: $g")
      assert(v >= 0.0, s"PSI must be non-negative: $g -> $v")
    }
  }

  test("jsdDrift: identical mixes 0, disjoint mixes exactly 1, bounded and symmetric") {
    val rows =
      (1 to 10).map(_ => ("x", "a", true)) ++ (1 to 10).map(_ => ("x", "b", false)) ++
        (1 to 5).flatMap(_ => Seq(("y", "a", true), ("y", "a", false),
          ("y", "b", true), ("y", "b", false))) ++
        (1 to 3).map(_ => ("z", "a", true))
    val out = Stats.jsdDrift(rows.toDF("g", "c", "a"), col("g"), col("c"), col("a"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out.keySet == Set("x", "y"), s"one-sided group must drop: $out")
    assert(out("x") == ((10L, 10L, 1.0)), s"disjoint mixes must hit the base-2 ceiling: $out")
    assert(out("y") == ((10L, 10L, 0.0)), s"identical mixes: $out")
    val rng = new scala.util.Random(13)
    val rnd = (1 to 400).map(i =>
      (s"g${rng.nextInt(3)}", s"c${rng.nextInt(5)}", rng.nextBoolean())).toDF("g", "c", "a")
    def asMap(r: Array[org.apache.spark.sql.Row]) =
      r.map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    val fwd = asMap(Stats.jsdDrift(rnd, col("g"), col("c"), col("a")).collect())
    val rev = asMap(Stats.jsdDrift(rnd, col("g"), col("c"), !col("a")).collect())
    for ((g, (na, nb, v)) <- fwd) {
      assert(rev(g) == ((nb, na, v)), s"JSD is symmetric in its two sides: $g")
      assert(v >= 0.0 && v <= 1.0, s"JSD out of [0,1]: $g -> $v")
    }
  }

  test("welchT: closed forms, degenerate-group drops, side antisymmetry") {
    val rows =
      // g1: A = {1,3} (mean 2, s²=2), B = {7,9} (mean 8, s²=2)
      // → t = −6/√2 = −4.242641, df = (1+1)²/(1+1) = 2
      Seq(("g1", 1L, true), ("g1", 3L, true), ("g1", 7L, false), ("g1", 9L, false)) ++
        // g2: identical sides → t = 0
        Seq(("g2", 1L, true), ("g2", 3L, true), ("g2", 1L, false), ("g2", 3L, false)) ++
        // g3: two constants → t undefined → dropped, never ±∞
        Seq(("g3", 5L, true), ("g3", 5L, true), ("g3", 7L, false), ("g3", 7L, false)) ++
        // g4: one observation on a side → sample variance undefined → dropped
        Seq(("g4", 1L, true), ("g4", 2L, true), ("g4", 9L, false))
    val df = rows.toDF("g", "v", "a")
    val out = Stats.welchT(df, col("g"), col("v"), col("a"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(out.keySet == Set("g1", "g2"), s"degenerate groups must drop: ${out.keySet}")
    assert(out("g1") == ((2L, 2L, -4.242641, 2.0)), s"planted shift: ${out("g1")}")
    assert(out("g2")._3 == 0.0, s"identical sides: ${out("g2")}")
    // relabeling A↔B negates t and keeps df
    val rev = Stats.welchT(df, col("g"), col("v"), !col("a"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    for ((g, (na, nb, t, d)) <- out)
      assert(rev(g) == ((nb, na, -t, d)), s"side swap must negate t, keep df: $g")
  }

  test("bootstrapMeanCI: constant groups collapse to a point CI, spread groups bracket") {
    val rows = (1 to 200).map(i => ("const", i.toLong, 100L)) ++
      (1 to 200).map(i => ("spread", 1000L + i, (i % 50).toLong * 10))
    val df = rows.toDF("g", "id", "v")
    val out = Stats.bootstrapMeanCI(df, col("g"), col("id"), col("v"), reps = 32)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    // every Poisson replicate of a constant column has mean exactly 100
    assert(out("const") == ((200L, 100.0, 100.0, 100.0)), s"${out("const")}")
    val (n, mean, lo, hi) = out("spread")
    assert(n == 200L && lo < mean && mean < hi, s"CI must bracket the mean: ${out("spread")}")
    assert(hi - lo < 100.0, s"CI absurdly wide for n=200: ${out("spread")}")
    // deterministic: identical on re-run
    val again = Stats.bootstrapMeanCI(df, col("g"), col("id"), col("v"), reps = 32)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(again("spread") == lo)
  }

  test("bootstrapMeanCI: overflow guard routes huge values through the decimal fallback") {
    // 4·n·max|v| ≥ 2^63 for these rows, so the guarded long plan must
    // discard itself and recompute in decimal(38,0) — a constant group
    // still collapses to a point CI, proving the fallback produced exact
    // sums instead of wrapped longs
    // 2^61: w=4 times it overflows a long per ROW (ANSI throws in the long
    // plan), and being a power of two keeps every double in the CI tail
    // exact, so the point-CI assertion below is ulp-safe
    val big = 1L << 61
    val df = (1 to 64).map(i => ("g", i.toLong, big)).toDF("g", "id", "v")
    val out = Stats.bootstrapMeanCI(df, col("g"), col("id"), col("v"), reps = 32)
      .collect().head
    assert(out.getAs[Long]("n") == 64L)
    val mean = out.getAs[Double]("mean")
    assert(mean == big.toDouble, s"wrapped-long corruption would skew the mean: $mean")
    assert(out.getAs[Double]("ci_lo") == mean && out.getAs[Double]("ci_hi") == mean,
      s"constant group must collapse to a point CI: $out")
  }

  test("bootstrapMeanCI: a Long.MinValue row matches the all-decimal plan under ANSI on and off") {
    // |Long.MinValue| has no long: a long abs wraps to the value itself
    // (ANSI off, so the certificate passes and the long sums wrap) or
    // throws (ANSI on, also inside the decimal fallback)
    val data = (1 to 64).map(i => ("min", i.toLong, Long.MinValue)) ++
      (1 to 64).map(i => ("mix", 100L + i, if (i == 1) Long.MinValue else i * 1000L))
    // 4·64·2^61 ≥ 2^63: this group alone sends the whole call down the
    // all-decimal plan, whatever the other groups hold
    val trip = (1 to 64).map(i => ("trip", 1000L + i, 1L << 61))
    def ci(d: Seq[(String, Long, Long)]): Map[String, Seq[Any]] =
      Stats.bootstrapMeanCI(d.toDF("g", "id", "v"), col("g"), col("id"), col("v"))
        .collect().map(r => r.getString(0) -> r.toSeq).toMap - "trip"
    Seq("true", "false").foreach { ansi =>
      withSQLConf("spark.sql.ansi.enabled" -> ansi) {
        val got = ci(data)
        assert(got == ci(data ++ trip), s"ansi=$ansi")
        val m = Long.MinValue.toDouble
        assert(got("min") == Seq("min", 64L, m, m, m), s"ansi=$ansi: exact sums collapse to a point")
      }
    }
  }

  test("groupedQuantiles: one pass serves all quartiles; robustScale handles IQR 0") {
    val rows = (0 to 8).map(v => ("g", v.toLong, v.toLong)) ++
      (1 to 4).map(i => ("const", 100L + i, 7L))
    val df = rows.toDF("g", "id", "v")
    val q = Stats.groupedQuantiles(df, col("g"), col("v"), Seq(0.25, 0.5, 0.75))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(q("g") == ((2.0, 4.0, 6.0)), s"quartiles of 0..8: ${q("g")}")
    assert(q("const") == ((7.0, 7.0, 7.0)), s"constant group: ${q("const")}")
    val scaled = Stats.robustScale(df, col("g"), col("id"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> Option(r.get(5)).map(_.asInstanceOf[Double]))
      .toMap
    assert(scaled(("g", 8L)).contains(1.0) && scaled(("g", 4L)).contains(0.0) &&
      scaled(("g", 0L)).contains(-1.0), s"(v-med)/iqr: $scaled")
    assert(scaled(("const", 101L)).isEmpty, s"IQR 0 must scale to NULL, never inf: $scaled")
  }

  test("cusumChangepoint localizes a step shift at the last pre-shift day; flat walks score 0") {
    def d(i: Int) = java.sql.Date.valueOf(f"2024-01-${i}%02d")
    val rows =
      // step: 10 days at 10, then 2 days at 30 → N=12, S=160; the walk
      // runs −40 per pre-shift day, so |C| peaks at 400 on day 10
      (1 to 10).map(i => ("step", d(i), 10L)) ++ Seq(("step", d(11), 30L), ("step", d(12), 30L)) ++
        // flat: every deviation is 0 → tie on |C|=0 → earliest day wins
        (1 to 5).map(i => ("flat", d(i), 7L))
    val out = Stats
      .cusumChangepoint(rows.toDF("g", "day", "v"), col("g"), col("day"), col("v"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDate(2).toString, r.getLong(3))))
      .toMap
    assert(out("step") == ((12L, "2024-01-10", 400L)), s"step: ${out("step")}")
    assert(out("flat") == ((5L, "2024-01-01", 0L)), s"flat: ${out("flat")}")
  }

  test("chi2Assoc closed forms: perfect association, independence, zero cells, drop rule") {
    val rows =
      // perfect: x determines y exactly → χ² = n = 20, V = 1
      (1 to 10).map(_ => ("perfect", "a", 0L)) ++ (1 to 10).map(_ => ("perfect", "b", 1L)) ++
        // independent: uniform 2×2 → χ² = 0, V = 0
        (for (x <- Seq("a", "b"); y <- Seq(0L, 1L); _ <- 1 to 5) yield ("indep", x, y)) ++
        // zero cell (b,1) absent: hand-computed χ² = 1/3+2/3+2/3+4/3 = 3,
        // dof 1, V = √(3/12) = 0.5 — exercises the n + Σ_obs folding
        ((1 to 4).map(_ => ("zerocell", "a", 0L)) ++ (1 to 4).map(_ => ("zerocell", "a", 1L)) ++
          (1 to 4).map(_ => ("zerocell", "b", 0L))) ++
        // single x category → R < 2 → dropped, not scored
        (1 to 6).map(_ => ("degenerate", "only", 0L))
    val df = rows.toDF("g", "x", "y")
    val out = Stats.chi2Assoc(df, col("g"), col("x"), col("y"))
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6))))
      .toMap
    assert(out.keySet == Set("perfect", "indep", "zerocell"), s"got ${out.keySet}")
    assert(out("perfect") == ((20L, 2L, 2L, 1L, 20.0, 1.0)), s"${out("perfect")}")
    assert(out("indep") == ((20L, 2L, 2L, 1L, 0.0, 0.0)), s"${out("indep")}")
    assert(out("zerocell") == ((12L, 2L, 2L, 1L, 3.0, 0.5)), s"${out("zerocell")}")
  }

  test("madOutliers boundary: dev4 == k·mad4 is NOT an outlier (strict Hampel rule)") {
    // same fixture, k=1 → threshold mad4 = 10: x=3 and x=8 sit exactly on
    // dev4 = 10 and must stay unflagged; 14 and 18 and 378 flag
    val df = ((1 to 9) :+ 100).zipWithIndex.map { case (v, i) => (i.toLong, v.toLong) }.toDF("rid", "v")
    val out = Stats.madOutliers(df, col("rid"), col("v"), k = 1).collect()
    assert(out.filter(_.getBoolean(5)).map(_.getLong(1)).toSet == Set(1L, 2L, 9L, 100L))
  }
}
