package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Numeric profile statistics over corpus columns, computed with
  * ENGINE-EXACT arithmetic so every result has a bit-identical DuckDB
  * twin: inputs quantize to integers, every sum is an integer sum
  * (associative — immune to summation order), and the only floating
  * point is a fixed-order tail of correctly-rounded IEEE primitives
  * (+ − × ÷ sqrt), which agree across engines. `corr()`-style running
  * float aggregates can NOT be verified this way (their result depends
  * on partition merge order) — which is exactly why these exist.
  */
object Stats {

  /** Exact linear-interpolated quantiles (the `quantile_cont`
    * definition: index (n−1)·p into the sorted values, interpolate
    * between the straddling pair). One row per requested p.
    *
    * TWO-PHASE ranking — no global single-task window (the r5 design
    * debt): (1) a value histogram (groupBy value, partial-agg, state =
    * |distinct|) is split into equal-WIDTH value buckets, whose per-bucket
    * totals (≤ `buckets` rows) come to the driver as prefix offsets;
    * (2) ranking runs in a window PARTITIONED BY bucket — parallel across
    * buckets — and the bucket offset lifts each within-bucket cumulative
    * count to a global rank range [rank_lo+1, rank_hi] per distinct value.
    * Equal-width bucketing is deterministic (no range-sampler reruns) and
    * value-ordered, which is all global ranking needs; skewed buckets cost
    * balance, not correctness. The straddling pair then comes from two
    * broadcast probes into the ranked histogram.
    *
    * 100 TB stance: this is the EXACT path (answers are oracle-matched);
    * `approx_percentile` (t-digest) remains the cheap alternative when a
    * distributional estimate suffices.
    */
  def exactQuantiles(df: DataFrame, valueCol: Column, ps: Seq[Double]): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    // nulls are excluded up front (quantile_cont semantics) so n, the
    // histogram, and the rank ranges all agree — a null value would
    // otherwise form a null bucket whose offset collect NPEs
    val vals = df.select(valueCol.cast("long").as("v")).filter(col("v").isNotNull)
    val head = vals.agg(min(col("v")), max(col("v")), count(lit(1))).collect()(0)
    val n = head.getLong(2)
    if (n == 0 || ps.isEmpty)
      return ps.toDF("p").withColumn("q", lit(null).cast("double")).limit(0)
    val vmin = head.getLong(0)
    val parallelism = s.conf.get("spark.sql.shuffle.partitions", "200").toInt
    // span overflow (vmax−vmin+1 beyond Long) degrades to one bucket —
    // the pre-r6 single-window behavior — instead of wrong buckets
    val span =
      try Math.addExact(Math.subtractExact(head.getLong(1), vmin), 1L)
      catch { case _: ArithmeticException => 0L }
    val buckets = if (span <= 0) 1 else math.min(span, math.max(1, parallelism * 4L))
    val width = if (span <= 0) 1L else (span + buckets - 1) / buckets
    // SQL `div` = exact integer division (a `/` would round-trip through
    // double and mis-bucket beyond 2^53)
    val hist = vals
      .groupBy(col("v"))
      .agg(count(lit(1)).as("c"))
      .withColumn("b", if (span <= 0) lit(0) else expr(s"cast((v - ${vmin}L) div ${width}L as int)"))
    val offsets: Map[Int, Long] = {
      val totals = hist.groupBy(col("b")).agg(sum(col("c")).as("t")).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
      totals.scanLeft((0, 0L)) { case ((_, acc), (b, t)) => (b, acc + t) }
        .sliding(2).map(w => w(1)._1 -> w(0)._2).toMap
    }
    val off = offsets.toSeq.toDF("b", "off")
    val ranked = hist
      .withColumn("cs", sum(col("c")).over(Window.partitionBy(col("b")).orderBy(col("v"))))
      .join(broadcast(off), Seq("b"))
      .withColumn("rank_hi", col("cs") + col("off"))
      .withColumn("rank_lo", col("rank_hi") - col("c"))
    val targets = ps.map { p =>
      val pos = (n - 1) * p
      (p, pos, math.floor(pos).toLong + 1, math.ceil(pos).toLong + 1)
    }.toDF("p", "pos", "rlo", "rhi")
    // v_lo + (v_hi − v_lo)·(pos − lo), evaluated in exactly this
    // association — the oracle mirrors it token for token
    ranked
      .join(broadcast(targets), col("rlo") > col("rank_lo") && col("rlo") <= col("rank_hi"))
      .select(col("p"), col("pos"), col("rlo"), col("rhi"), col("v").as("v_lo"))
      .join(
        ranked.select(col("v").as("v_hi"), col("rank_lo").as("rl2"), col("rank_hi").as("rh2")),
        col("rhi") > col("rl2") && col("rhi") <= col("rh2"))
      .select(
        col("p"),
        (col("v_lo").cast("double") +
          (col("v_hi").cast("double") - col("v_lo").cast("double")) *
          (col("pos") - (col("rlo") - 1).cast("double"))).as("q")
      )
  }

  /** Per-group exact interpolated quantile — same (n−1)p definition as
    * [[exactQuantiles]], but every window is PARTITIONED by the group, so
    * ranking scales out across groups (no global sort anywhere). One row
    * per group: (grp, q). This is the shape grouped quantiles should take
    * at 100 TB when group cardinality is high and per-group rows are
    * bounded; for the opposite shape (few huge groups) use
    * approx_percentile per group.
    */
  def groupedQuantile(df: DataFrame, groupCol: Column, valueCol: Column, p: Double): DataFrame = {
    require(p >= 0 && p <= 1, "p must be in [0,1]")
    val w = Window.partitionBy(col("__g")).orderBy(col("__v"))
    val cw = Window.partitionBy(col("__g"))
    df.select(groupCol.as("__g"), valueCol.cast("long").as("__v"))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(cw))
      .withColumn("__pos", (col("__n") - 1) * lit(p))
      .withColumn("__lo", floor(col("__pos")).cast("long"))
      .withColumn("__hi", ceil(col("__pos")).cast("long"))
      .filter(col("__rn") === col("__lo") + 1 || col("__rn") === col("__hi") + 1)
      .groupBy(col("__g"))
      .agg(
        max(when(col("__rn") === col("__lo") + 1, col("__v"))).as("__vlo"),
        max(when(col("__rn") === col("__hi") + 1, col("__v"))).as("__vhi"),
        max(col("__pos")).as("__p"),
        max(col("__lo")).as("__l")
      )
      .select(
        col("__g").as("grp"),
        (col("__vlo").cast("double") +
          (col("__vhi").cast("double") - col("__vlo").cast("double")) *
          (col("__p") - col("__l").cast("double"))).as("q")
      )
  }

  /** [[groupedQuantile]] for SEVERAL probabilities in ONE pass — the
    * shape that matters at 100 TB: one per-group sort window serves every
    * requested quantile (three separate calls would sort the corpus three
    * times), straddling rows filter down before the aggregate, and the
    * output is one wide row per group (`grp, q25, q50, …` — columns named
    * by rounded percent). Null values are excluded (quantile_cont
    * semantics).
    */
  def groupedQuantiles(
      df: DataFrame,
      groupCol: Column,
      valueCol: Column,
      ps: Seq[Double]
  ): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1), "ps must be in [0,1]")
    // output columns are named q<round(p·100)> — reject probabilities that
    // collide after rounding (e.g. 0.251 and 0.254 → two q25 columns), which
    // would yield a frame with duplicate names that misbinds downstream
    locally {
      val names = ps.map(p => "q" + math.round(p * 100))
      require(
        names.distinct.size == names.size,
        s"quantile probabilities collide after rounding to column names ${names.mkString(", ")} — " +
          "pick ps that round to distinct whole-percent labels")
    }
    val w = Window.partitionBy(col("__g")).orderBy(col("__v"))
    val cw = Window.partitionBy(col("__g"))
    val base = df
      .select(groupCol.as("__g"), valueCol.cast("long").as("__v"))
      .filter(col("__v").isNotNull)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(cw))
    def lo(p: Double) = floor((col("__n") - 1) * lit(p)).cast("long")
    def hi(p: Double) = ceil((col("__n") - 1) * lit(p)).cast("long")
    val keep = ps.map(p => col("__rn") === lo(p) + 1 || col("__rn") === hi(p) + 1).reduce(_ || _)
    val aggs = ps.zipWithIndex.flatMap { case (p, i) =>
      Seq(
        max(when(col("__rn") === lo(p) + 1, col("__v"))).as(s"__vlo$i"),
        max(when(col("__rn") === hi(p) + 1, col("__v"))).as(s"__vhi$i"),
        max((col("__n") - 1) * lit(p)).as(s"__pos$i"),
        max(lo(p)).as(s"__lo$i"))
    }
    val agg = base.filter(keep).groupBy(col("__g")).agg(aggs.head, aggs.tail: _*)
    val qs = ps.zipWithIndex.map { case (p, i) =>
      (col(s"__vlo$i").cast("double") +
        (col(s"__vhi$i").cast("double") - col(s"__vlo$i").cast("double")) *
        (col(s"__pos$i") - col(s"__lo$i").cast("double"))).as("q" + math.round(p * 100))
    }
    agg.select(col("__g").as("grp") +: qs: _*)
  }

  /** Robust (median/IQR) feature scaling per group — the ML-prep
    * transform that survives outliers where (x−μ)/σ does not:
    * `scaled = (v − median) / (Q3 − Q1)`, NULL when the IQR is 0 (a
    * constant-bulk group has no honest scale, and ±∞ is not a feature).
    * The group statistics come from ONE [[groupedQuantiles]] pass and
    * broadcast back over the corpus — the big side shuffles once for the
    * quantile sort and never again. Fixed-order IEEE tail, 6 dp.
    */
  def robustScale(
      df: DataFrame,
      groupCol: Column,
      idCol: Column,
      valueCol: Column
  ): DataFrame = {
    val stats = groupedQuantiles(df, groupCol, valueCol, Seq(0.25, 0.5, 0.75))
      .withColumn("iqr", col("q75") - col("q25"))
    df.select(groupCol.as("grp"), idCol.as("id"), valueCol.cast("long").as("v"))
      .join(broadcast(stats), Seq("grp"))
      .select(
        col("grp"), col("id"), col("v"),
        col("q50").as("median"), col("iqr"),
        when(col("iqr") > 0,
          round((col("v").cast("double") - col("q50")) / col("iqr"), 6)).as("scaled"))
  }

  /** Cumulative Poisson(1) CDF thresholds (P ≤ 0..3), hard-coded so the
    * engine and every oracle share the same literals; mass above 3 maps
    * to weight 4 (P ≈ 1.9% — the truncation bias is far below the CI
    * resolution at 32 replicates).
    */
  private[graft] val PoissonCdf =
    Seq(0.36787944117144233, 0.7357588823428847, 0.9196986029286058, 0.9810118431238462)

  /** Poisson-bootstrap confidence interval for per-group means — the
    * UNCERTAINTY companion to the drift family, in the one bootstrap
    * formulation that works at 100 TB: instead of resampling rows
    * (which would shuffle the corpus B times), every row carries B
    * independent Poisson(1) weights and ALL B replicate sums land in ONE
    * partial-agg'd pass (Chamandy et al., "Estimating Uncertainty for
    * Massive Data Streams", Google 2012). The weights are deterministic —
    * the md5 gate on (id, replicate) through the shared inverse-CDF
    * thresholds — so the interval is engine-replayable and retry-stable;
    * a production run swaps the gate for a CSPRNG, shape unchanged.
    *
    * Replicate means are correctly-rounded divisions of exact integer
    * sums; the CI reads off the sorted 32-length replicate array
    * ROW-LOCALLY ((n−1)p interpolation, the [[groupedQuantile]] rule).
    * Groups where any replicate draws zero total weight report NULL
    * bounds (tiny groups have no honest bootstrap).
    *
    * @return (grp, n, mean, ci_lo, ci_hi) — mean 6 dp, CI at 2.5/97.5%
    */
  def bootstrapMeanCI(
      df: DataFrame,
      groupCol: Column,
      idCol: Column,
      valueCol: Column,
      reps: Int = 32
  ): DataFrame = {
    require(reps >= 4, "need at least 4 replicates")
    val dec = "decimal(38,0)"
    val base = df
      .select(groupCol.as("grp"), idCol.cast("string").as("__id"), valueCol.cast("long").as("v"))
      .filter(col("v").isNotNull)
    // one md5 yields FOUR independent 32-bit lanes — 128 bits buys 4
    // replicates, so 32 replicates cost 8 digests per row, not 32. The
    // lanes come from the native extractor (graft.functions.Md5Lanes):
    // the hex-string idiom (substring + conv-through-BigInteger per lane)
    // measured as 2.0 s of this query's 3.6 s at sf0.1; the native form is
    // value-identical lane for lane, so the DuckDB twin keeps the
    // conv(substring(md5…)) formulation
    val withHashes = (0 until (reps + 3) / 4).foldLeft(base)((d, g) =>
      d.withColumn(s"__h$g", call_function("graft_md5_lanes", concat(col("__id"), lit(s"_$g")))))
    val weighted = (0 until reps).foldLeft(withHashes) { (d, b) =>
      val u = (element_at(col(s"__h${b / 4}"), b % 4 + 1) % 1000000L)
        .cast("double") / lit(1000000.0)
      d.withColumn(
        s"__w$b",
        when(u < PoissonCdf(0), 0L)
          .when(u < PoissonCdf(1), 1L)
          .when(u < PoissonCdf(2), 2L)
          .when(u < PoissonCdf(3), 3L)
          .otherwise(4L))
    }
    // GUARDED LONG sums (r21 verdict item 9): the 2·reps+1 replicate sums
    // were decimal(38,0) for overflow headroom, and the decimal aggregate
    // lanes measured as ~half this query's steady-state cost. Weights are
    // capped at 4 by the inverse-CDF chain, so Σ w·v over a group is
    // bounded by 4·n·max|v| — an EXACT per-group overflow certificate,
    // computed first from a cheap (count, min v, max v) aggregate of the
    // unweighted rows; |v| is taken in decimal because a long
    // abs(Long.MinValue) wraps, or throws under ANSI. If ANY group's bound
    // reaches 2^63 the original decimal plan runs instead (exactness never
    // at risk — the guard is sufficient, not heuristic). Below the bound no
    // long product or sum can overflow, and long and decimal sums are the
    // same integers, so the output is bit-identical. The certificate is
    // its own small job rather than a read of a cached long aggregate: the
    // returned plan then holds the one replicate aggregate itself, and no
    // cache outlives the call.
    val overflowPossible = {
      val r = base
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n"), min(col("v")).as("minv"), max(col("v")).as("maxv"))
        .select(max(
          when(
            greatest(abs(col("minv").cast(dec)), abs(col("maxv").cast(dec))) *
              col("n") * lit(4) >= lit(Long.MaxValue).cast(dec),
            1).otherwise(0)).as("u"))
        .collect()(0)
      !r.isNullAt(0) && r.getInt(0) == 1
    }
    // the fallback computes the w·v product IN decimal — a long-first
    // product would hit the per-row ANSI overflow the fallback exists for
    val sumType = if (overflowPossible) dec else "long"
    val prod: Int => Column =
      if (overflowPossible) b => col(s"__w$b").cast(dec) * col("v").cast(dec)
      else b => col(s"__w$b") * col("v")
    val aggs = Seq(count(lit(1)).as("n"), sum(col("v").cast(sumType)).as("__sx")) ++
      (0 until reps).flatMap(b =>
        Seq(
          sum(prod(b).cast(sumType)).as(s"__s$b"),
          sum(col(s"__w$b")).as(s"__n$b")))
    val agg = weighted.groupBy(col("grp")).agg(aggs.head, aggs.tail: _*)
    val means = array((0 until reps).map(b =>
      when(col(s"__n$b") > 0, col(s"__s$b").cast("double") / col(s"__n$b").cast("double"))): _*)
    def interp(arr: Column, p: Double): Column = {
      val pos = (reps - 1) * p
      val lo = math.floor(pos).toInt
      val vlo = element_at(arr, lo + 1)
      val vhi = element_at(arr, math.ceil(pos).toInt + 1)
      vlo + (vhi - vlo) * lit(pos - lo)
    }
    agg
      .withColumn("__m", array_sort(means))
      .select(
        col("grp"),
        col("n"),
        round(col("__sx").cast("double") / col("n").cast("double"), 6).as("mean"),
        when(!array_contains(transform(col("__m"), m => m.isNull), true),
          round(interp(col("__m"), 0.025), 6)).as("ci_lo"),
        when(!array_contains(transform(col("__m"), m => m.isNull), true),
          round(interp(col("__m"), 0.975), 6)).as("ci_hi"))
  }

  /** Per-group z-score outlier flag with NO floating point anywhere:
    * |x − μ| > k·σ (population σ) is multiplied through by n² into the
    * all-integer predicate `(n·x − S)² > k²·(n·SS − S²)` over
    * decimal(38,0) moments — so the flag is bit-identical in any engine
    * (DuckDB evaluates the same integers in HUGEINT), unlike any
    * mean/stddev-based formulation whose float rounding can flip rows
    * sitting exactly on the boundary. Shape: keyed partial-agg to
    * |groups| moment rows, broadcast back over the corpus — the big side
    * never shuffles.
    */
  def outliersExact(
      df: DataFrame,
      groupCol: Column,
      idCol: Column,
      valueCol: Column,
      k: Int
  ): DataFrame = {
    require(k > 0, "k must be positive")
    val d = "decimal(38,0)"
    val moments = df
      .groupBy(groupCol.as("grp"))
      .agg(
        count(lit(1)).cast(d).as("__n"),
        sum(valueCol.cast("long").cast(d)).as("__s"),
        sum((valueCol.cast("long").cast(d)) * (valueCol.cast("long").cast(d))).as("__ss")
      )
    df.select(groupCol.as("grp"), idCol.as("id"), valueCol.cast("long").as("x"))
      .join(broadcast(moments), Seq("grp"))
      .select(
        col("grp"),
        col("id"),
        col("x"),
        ((col("__n") * col("x") - col("__s")) * (col("__n") * col("x") - col("__s")) >
          lit(k.toLong * k) * (col("__n") * col("__ss") - col("__s") * col("__s")))
          .as("is_outlier")
      )
  }

  /** Robust (median/MAD) outlier flag — the resistant complement of
    * [[outliersExact]]: a few extreme rows shift a mean-based z-score's
    * own yardstick, but the median and the median-absolute-deviation
    * ignore them, so the flag `|x − median| > k·MAD` is the robust
    * choice for long-tailed corpus stats (Hampel's rule, k=3 classic).
    *
    * NO floating point anywhere, despite the interpolated-median
    * definition: values enter DOUBLED (`v2 = 2x`), so the even-count
    * midpoint `(a+b)/2` of two even integers is itself an integer, and
    * deviations are doubled once more (`dev4 = 2·|v2 − med2| = 4·|x −
    * median|`) so THEIR median (`mad4 = 4·MAD`) is integral too. The
    * flag compares `dev4 > k·mad4` — all Long, bit-identical in any
    * engine, boundary rows can never flip on rounding.
    *
    * Shape at 100 TB: two [[exactQuantiles]] passes (two-phase parallel
    * ranking, bounded driver scalars — the sanctioned collect) plus one
    * MAP-ONLY flag pass; the corpus itself never shuffles.
    *
    * @return (id, x, dev4, med2, mad4, is_outlier) per non-null row;
    *         med2 = 2·median and mad4 = 4·MAD ride along so callers can
    *         report the robust center/spread without re-deriving them
    */
  def madOutliers(df: DataFrame, idCol: Column, valueCol: Column, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val v = df.select(idCol.as("id"), valueCol.cast("long").as("x")).filter(col("x").isNotNull)
    def medianOf(frame: DataFrame, c: Column): Long = {
      val q = exactQuantiles(frame, c, Seq(0.5)).collect()(0).getDouble(1)
      // doubled domains make the interpolated midpoint exactly integral
      require(q == math.rint(q), s"doubled-domain median must be integral, got $q")
      q.toLong
    }
    val med2 = medianOf(v, col("x") * 2)
    val dev = v.withColumn("dev4", abs(col("x") * 2 - lit(med2)) * 2)
    val mad4 = medianOf(dev, col("dev4"))
    dev.select(
      col("id"),
      col("x"),
      col("dev4"),
      lit(med2).as("med2"),
      lit(mad4).as("mad4"),
      (col("dev4") > lit(k.toLong) * lit(mad4)).as("is_outlier"))
  }

  /** Pearson correlation via integer-exact moment sums: one
    * partial-aggregated pass accumulates (n, Σx, Σy, Σx², Σy², Σxy) as
    * `decimal(38,0)`, then the textbook formula runs once on the final
    * scalars. Distribution-friendly (map-side combine, 6 decimals of
    * state) AND engine-exact — unlike `corr()`, whose streaming
    * covariance updates depend on partition merge order. Decimal(38,0)
    * covers the same ±1.7e38 range as DuckDB's HUGEINT promotion, so
    * n·Σx² at corpus scale (≈1M docs × 5000² chars ≈ 2.5e19) stays exact
    * on both sides instead of silently wrapping a Long.
    */
  /** Quantile-bucket assignment (decile/percentile banding): each row gets
    * `1 + |{cuts c : v > c}|`, with the cut points from [[exactQuantiles]]
    * at `ps` — the scale-safe replacement for `ntile(k)` OVER (), whose
    * empty window spec serializes the whole dataset through one task's
    * sort. Here the cuts are |ps| driver-side scalars (the sanctioned
    * bounded collect, same as the quantile offsets) folded into a chain of
    * integer comparisons: the assignment pass is MAP-ONLY, and the only
    * distributed work is the two-phase quantile ranking itself.
    *
    * @return (id, v, q_bucket) for every non-null value row
    */
  def quantileBuckets(df: DataFrame, idCol: Column, valueCol: Column, ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty, "ps must be non-empty")
    val cuts: Array[Double] = exactQuantiles(df, valueCol, ps)
      .orderBy(col("p"))
      .collect()
      .map(_.getDouble(1))
    val base = df
      .select(idCol.as("id"), valueCol.cast("long").as("v"))
      .filter(col("v").isNotNull)
    val bucket = cuts.foldLeft(lit(1): Column) { (acc, c) =>
      acc + (col("v").cast("double") > lit(c)).cast("int")
    }
    base.withColumn("q_bucket", bucket)
  }

  /** Two-sample Kolmogorov–Smirnov distance per group — THE distribution-
    * drift monitor between two corpus snapshots (old release vs new crawl,
    * train vs serving): for each group,
    * `D = max_x |F_A(x) − F_B(x)| = max_v |cumA(v)·n_B − cumB(v)·n_A| / (n_A·n_B)`
    * with the sup taken over the pooled distinct values (where both step
    * ECDFs can differ). The numerator cross-products run in decimal(38,0)
    * — exact while `n_A · n_B < 10³⁸` (e.g. both sides under ~10¹⁹ rows,
    * or any split whose product stays under the bound; the same bound
    * applies to [[tvdDrift]]). Past it the non-ANSI product goes NULL and
    * `max` skips that value — a silently understated distance, not an
    * error — so a deployment at that scale must pre-aggregate or widen
    * the arithmetic first. Only the final ratio is a correctly-rounded
    * double, so any engine replays the distances bit-exactly. Groups
    * missing either side are dropped (KS is undefined there), not
    * zero-scored.
    *
    * Scale shape: one partial-agg-friendly (group, value) count collapses
    * the data to |distinct values| rows BEFORE any window; the cumulative
    * sums run per group (AQE-splittable key, bounded by the value
    * histogram, not the corpus); the final max is one more partial agg.
    * No sort of raw rows, no self-join, no driver state.
    *
    * @param inA boolean column: true → snapshot A, false → snapshot B
    * @return (grp, n_a, n_b, ks) — one row per group present in both sides
    */
  def ksDrift(df: DataFrame, groupCol: Column, valueCol: Column, inA: Column): DataFrame = {
    val counts = df
      .select(groupCol.as("grp"), valueCol.cast("long").as("v"), inA.as("a"))
      .groupBy(col("grp"), col("v"))
      .agg(
        sum(when(col("a"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("a"), 0L).otherwise(1L)).as("cb"))
    val byG = Window.partitionBy(col("grp"))
    val cum = counts
      .withColumn("cuma", sum(col("ca")).over(byG.orderBy(col("v"))))
      .withColumn("cumb", sum(col("cb")).over(byG.orderBy(col("v"))))
      .withColumn("na", sum(col("ca")).over(byG))
      .withColumn("nb", sum(col("cb")).over(byG))
    cum
      .groupBy(col("grp"))
      .agg(
        max(col("na")).as("n_a"),
        max(col("nb")).as("n_b"),
        max(abs(col("cuma").cast(Dec) * col("nb") - col("cumb").cast(Dec) * col("na")))
          .as("__dnum"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
      .select(
        col("grp"),
        col("n_a"),
        col("n_b"),
        round(
          col("__dnum").cast("double") / (col("n_a").cast("double") * col("n_b").cast("double")),
          6).as("ks"))
  }

  /** Total-variation distance per group — [[ksDrift]]'s categorical
    * complement (language mix, source mix, label distribution — anywhere
    * the values have no order for an ECDF to walk):
    * `TVD = ½ Σ_c |p_c − q_c| = Σ_c |a_c·n_B − b_c·n_A| / (2·n_A·n_B)`,
    * over the union of categories (a category absent from one side
    * contributes its full mass). Cross products in decimal(38,0), one
    * rounded double at the end, one-sided groups dropped — the exact
    * discipline of the KS monitor.
    *
    * Scale shape: one partial-agg-friendly (group, category) count, one
    * bounded per-group total, one more partial agg for the sum — no
    * window at all, no sort, no self-join.
    */
  def tvdDrift(df: DataFrame, groupCol: Column, catCol: Column, inA: Column): DataFrame = {
    val counts = df
      .select(groupCol.as("grp"), catCol.as("cat"), inA.as("a"))
      .groupBy(col("grp"), col("cat"))
      .agg(
        sum(when(col("a"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("a"), 0L).otherwise(1L)).as("cb"))
    val byG = Window.partitionBy(col("grp"))
    counts
      .withColumn("na", sum(col("ca")).over(byG))
      .withColumn("nb", sum(col("cb")).over(byG))
      .groupBy(col("grp"))
      .agg(
        max(col("na")).as("n_a"),
        max(col("nb")).as("n_b"),
        sum(abs(col("ca").cast(Dec) * col("nb") - col("cb").cast(Dec) * col("na")))
          .as("__dnum"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
      .select(
        col("grp"),
        col("n_a"),
        col("n_b"),
        round(
          col("__dnum").cast("double") /
            (lit(2.0) * col("n_a").cast("double") * col("n_b").cast("double")),
          6).as("tvd"))
  }

  /** Population Stability Index per group — the industry-standard scorecard
    * drift monitor ([[tvdDrift]]'s log-weighted cousin; TVD is linear in
    * the mass moved, PSI amplifies shifts in SMALL categories, which is
    * what makes it the alert metric risk/quality teams page on):
    * `PSI = Σ_c (p_c − q_c)·ln(p_c/q_c)` with Laplace smoothing
    * `p_c = (a_c+1)/(n_A+C)` (C = categories present in the group) so a
    * category seen on only one side contributes a finite, sample-size-
    * aware penalty instead of ∞.
    *
    * Determinism contract (the engine-exactness discipline of this
    * module, adapted to a transcendental): counts are exact integers; the
    * smoothed ratios are single correctly-rounded IEEE divisions
    * (bit-identical in any engine); the only cross-engine wobble is ln's
    * final ulp, so each term is rounded to 9 dp and summed as
    * decimal(28,9) — an order-free exact sum — before the final 6 dp
    * round. A flipped 9th decimal would need ln to land within half an
    * ulp of a rounding boundary; at 6 dp output it is unobservable.
    *
    * Scale shape: one partial-agg (group, category) count, one per-group
    * window over ≤|categories| rows, one more partial agg. No raw-row
    * window, no join. One-sided groups are dropped like [[ksDrift]].
    */
  def psiDrift(df: DataFrame, groupCol: Column, catCol: Column, inA: Column): DataFrame = {
    val counts = df
      .select(groupCol.as("grp"), catCol.as("cat"), inA.as("a"))
      .groupBy(col("grp"), col("cat"))
      .agg(
        sum(when(col("a"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("a"), 0L).otherwise(1L)).as("cb"))
    val byG = Window.partitionBy(col("grp"))
    counts
      .withColumn("na", sum(col("ca")).over(byG))
      .withColumn("nb", sum(col("cb")).over(byG))
      .withColumn("ncat", count(lit(1)).over(byG))
      .withColumn(
        "p",
        (col("ca") + lit(1L)).cast("double") / (col("na") + col("ncat")).cast("double"))
      .withColumn(
        "q",
        (col("cb") + lit(1L)).cast("double") / (col("nb") + col("ncat")).cast("double"))
      .withColumn(
        "term",
        round((col("p") - col("q")) * log(col("p") / col("q")), 9).cast(DecTerm))
      .groupBy(col("grp"))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"), sum(col("term")).as("__t"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
      .select(
        col("grp"), col("n_a"), col("n_b"),
        round(col("__t").cast("double"), 6).as("psi"))
  }

  /** Jensen–Shannon divergence per group (base 2, so the result lives in
    * [0, 1]) — the SYMMETRIC, zero-tolerant drift monitor:
    * `JSD = ½·KL(p‖m) + ½·KL(q‖m)`, `m = (p+q)/2`. Unlike [[psiDrift]] it
    * needs no smoothing (a category absent from one side contributes
    * `½·p·log₂2 = p/2`, never ∞) and unlike KL it is bounded, which makes
    * it the metric to TREND over time rather than threshold once.
    *
    * Same determinism contract as [[psiDrift]]: exact integer counts,
    * correctly-rounded IEEE divisions, per-term 9 dp round into an exact
    * decimal sum. Base conversion happens once at the end via the
    * hard-coded double literal for ln 2 (0.6931471805599453 — both
    * engines would otherwise call their own `ln(2)`), so the only ln in
    * play is the per-term one already quantized away.
    */
  def jsdDrift(df: DataFrame, groupCol: Column, catCol: Column, inA: Column): DataFrame = {
    val counts = df
      .select(groupCol.as("grp"), catCol.as("cat"), inA.as("a"))
      .groupBy(col("grp"), col("cat"))
      .agg(
        sum(when(col("a"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("a"), 0L).otherwise(1L)).as("cb"))
    val byG = Window.partitionBy(col("grp"))
    counts
      .withColumn("na", sum(col("ca")).over(byG))
      .withColumn("nb", sum(col("cb")).over(byG))
      // one-sided groups drop BEFORE the ratios: q = cb/0 is an ANSI
      // divide-by-zero, not a droppable row, if left to the final filter
      .filter(col("na") > 0 && col("nb") > 0)
      .withColumn("p", col("ca").cast("double") / col("na").cast("double"))
      .withColumn("q", col("cb").cast("double") / col("nb").cast("double"))
      .withColumn("m", (col("p") + col("q")) / lit(2.0))
      .withColumn(
        "term",
        round(
          lit(0.5) * when(col("p") > 0, col("p") * log(col("p") / col("m"))).otherwise(lit(0.0)) +
            lit(0.5) * when(col("q") > 0, col("q") * log(col("q") / col("m"))).otherwise(lit(0.0)),
          9).cast(DecTerm))
      .groupBy(col("grp"))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"), sum(col("term")).as("__t"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
      .select(
        col("grp"), col("n_a"), col("n_b"),
        round(col("__t").cast("double") / lit(0.6931471805599453), 6).as("jsd"))
  }

  /** Exact decimal carrier for 9-dp-quantized per-category drift terms:
    * 19 integer digits bounds |Σ terms| far beyond any real PSI/JSD (each
    * |term| ≤ ~45 after smoothing), and the decimal sum is associative —
    * immune to partial-agg merge order.
    */
  private val DecTerm = "decimal(28,9)"

  /** Welch's two-sample t statistic per group — the SIGNIFICANCE companion
    * to the drift family: KS/TVD/PSI/JSD say how far two snapshots sit
    * apart, Welch's t says whether the MEAN moved more than sampling noise
    * explains (the unequal-variance form, the safe default for A/B and
    * release-over-release metric checks). Also emits the Welch–
    * Satterthwaite degrees of freedom so a caller can threshold against
    * any t table.
    *
    * Exactness: values must arrive integer-quantized (cents/micros — the
    * module contract); counts, sums, and sums-of-squares are exact
    * decimal(38,0) moments, and the whole tail is a FIXED-ORDER chain of
    * correctly-rounded IEEE primitives (÷, ×, −, √ — no transcendental at
    * all), so the statistic replays bit-exactly in any engine before the
    * final 6/4 dp rounds. Groups need n ≥ 2 on each side (sample variance
    * undefined otherwise) and at least one side with spread (t undefined
    * on two constants — dropped, not scored ±∞).
    *
    * Scale shape: ONE partial-agg'd groupBy carrying six moment columns —
    * |groups| rows shuffle, nothing else; the tail is row-local on the
    * aggregate.
    */
  def welchT(df: DataFrame, groupCol: Column, valueCol: Column, inA: Column): DataFrame = {
    val base = df
      .select(groupCol.as("grp"), valueCol.cast("long").as("v"), inA.as("a"))
      .filter(col("v").isNotNull)
    val vDec = col("v").cast(Dec)
    val zero = lit(0L).cast(Dec)
    val m = base
      .groupBy(col("grp"))
      .agg(
        sum(when(col("a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("a"), 0L).otherwise(1L)).as("n_b"),
        sum(when(col("a"), vDec).otherwise(zero)).as("sa"),
        sum(when(!col("a"), vDec).otherwise(zero)).as("sb"),
        sum(when(col("a"), vDec * vDec).otherwise(zero)).as("qa"),
        sum(when(!col("a"), vDec * vDec).otherwise(zero)).as("qb"))
      .filter(col("n_a") >= 2 && col("n_b") >= 2)
    val naD = col("n_a").cast(Dec)
    val nbD = col("n_b").cast(Dec)
    m
      // sample variance s² = (n·Σv² − S²) / (n·(n−1)): exact decimal
      // numerator/denominator, ONE division each — ≥ 0 by Cauchy–Schwarz
      .withColumn(
        "__va",
        (naD * col("qa") - col("sa") * col("sa")).cast("double") /
          (naD * (naD - lit(1))).cast("double"))
      .withColumn(
        "__vb",
        (nbD * col("qb") - col("sb") * col("sb")).cast("double") /
          (nbD * (nbD - lit(1))).cast("double"))
      .withColumn("__sea", col("__va") / col("n_a").cast("double"))
      .withColumn("__seb", col("__vb") / col("n_b").cast("double"))
      .filter(col("__sea") + col("__seb") > 0) // two constants → t undefined
      .select(
        col("grp"),
        col("n_a"),
        col("n_b"),
        round(
          (col("sa").cast("double") / col("n_a").cast("double") -
            col("sb").cast("double") / col("n_b").cast("double")) /
            sqrt(col("__sea") + col("__seb")),
          6).as("t"),
        round(
          ((col("__sea") + col("__seb")) * (col("__sea") + col("__seb"))) /
            (col("__sea") * col("__sea") / (col("n_a") - 1).cast("double") +
              col("__seb") * col("__seb") / (col("n_b") - 1).cast("double")),
          4).as("df"))
  }

  /** Pearson chi-square test of independence + Cramér's V per group — the
    * categorical ASSOCIATION audit (are `lang` and `length-bucket`
    * independent within each source? is a label correlated with its
    * shard?): over the R×C contingency table of two categorical columns,
    * `χ² = Σ_cells (O−E)²/E` with `E = rowTot·colTot/n`, plus the
    * effect-size normalization `V = √(χ² / (n·min(R−1,C−1)))` that makes
    * scores comparable across groups of different size.
    *
    * Zero cells without materializing them: a missing (x,y) combination
    * has O=0 but E>0 and the full-grid sum is `χ² = n + Σ_observed
    * [(O−E)²/E − E]` (since Σ_all E = n) — so only observed cells are ever
    * rows, and the grid never cross-joins.
    *
    * Determinism contract ([[ksDrift]]'s): counts and margin products are
    * exact decimal(38,0) (`diff = O·n − rt·ct` holds to ~10¹² rows per
    * side); each cell term is a FIXED-ORDER chain of correctly-rounded
    * IEEE ops (cast, ×, ÷, −), rounded to 9 dp and summed as an exact
    * decimal before the final 6 dp rounds. √ is correctly rounded, so V
    * replays bit-exactly from the rounded χ².
    *
    * Scale shape: one partial-agg'd (group, x, y) cell count, windows over
    * ≤|cells| rows per group, one more partial agg — raw data shuffles
    * once as counts, never as rows. Groups with R<2 or C<2 drop (no
    * association definable) rather than scoring 0/∞.
    */
  def chi2Assoc(df: DataFrame, groupCol: Column, xCol: Column, yCol: Column): DataFrame = {
    val cells = df
      .select(groupCol.as("grp"), xCol.as("x"), yCol.as("y"))
      .groupBy(col("grp"), col("x"), col("y"))
      .agg(count(lit(1)).cast(Dec).as("o"))
    val byG = Window.partitionBy(col("grp"))
    val byGX = Window.partitionBy(col("grp"), col("x"))
    val byGY = Window.partitionBy(col("grp"), col("y"))
    cells
      .withColumn("n", sum(col("o")).over(byG))
      .withColumn("rt", sum(col("o")).over(byGX))
      .withColumn("ct", sum(col("o")).over(byGY))
      // distinct-category counts via dense_rank→max: no distinct-window
      // aggregate needed, and the rank windows run over cell counts only
      .withColumn("r", max(dense_rank().over(byG.orderBy(col("x")))).over(byG))
      .withColumn("c", max(dense_rank().over(byG.orderBy(col("y")))).over(byG))
      .withColumn("__d", (col("o") * col("n") - col("rt") * col("ct")).cast("double"))
      .withColumn(
        "term",
        round(
          col("__d") * col("__d") / (col("n") * col("rt") * col("ct")).cast("double") -
            (col("rt") * col("ct")).cast("double") / col("n").cast("double"),
          9).cast(DecTerm))
      .groupBy(col("grp"))
      .agg(
        max(col("n")).as("__n"),
        max(col("r")).as("r"),
        max(col("c")).as("c"),
        sum(col("term")).as("__t"))
      .filter(col("r") >= 2 && col("c") >= 2)
      .withColumn("n", col("__n").cast("long"))
      .withColumn("chi2", round(col("n").cast("double") + col("__t").cast("double"), 6))
      .select(
        col("grp"), col("n"), col("r").cast("long").as("r"), col("c").cast("long").as("c"),
        ((col("r") - 1) * (col("c") - 1)).cast("long").as("dof"),
        col("chi2"),
        round(
          sqrt(
            col("chi2") /
              (col("n").cast("double") * least(col("r") - 1, col("c") - 1).cast("double"))),
          6).as("cramers_v"))
  }

  /** CUSUM change-point localization per group — the WHEN companion to
    * the drift family (KS/TVD/PSI say two snapshots differ; CUSUM points
    * at the day the level shifted): over each group's daily totals, the
    * classic offline estimator walks the cumulative deviation from the
    * GLOBAL mean and the change point is where |walk| peaks — for a step
    * shift at day τ the walk is piecewise linear with its extremum at
    * τ−1 (the last pre-shift day). ALL-INTEGER by scaling: with `S_N`
    * the exact total over the group's `N` days, the walk is
    * `C_i = Σ_{j≤i} (N·x_j − S_N)` — no division anywhere (and `C_N = 0`
    * by construction, a free invariant check), so argmax and magnitude
    * replay bit-exactly in any engine. Ties on |C| break to the earliest
    * day; single-day groups report their day with magnitude 0.
    *
    * Scale shape: raw rows partial-agg to (group, day) totals ONCE; the
    * walk and argmax run on the |days|-per-group frame —
    * calendar-bounded windows, the [[Stats]] discipline. One row per
    * group: `(grp, n_days, cp_day, max_abs_cusum)` (magnitude in
    * value·N units).
    */
  def cusumChangepoint(
      df: DataFrame,
      groupCol: Column,
      dayCol: Column,
      valueCol: Column
  ): DataFrame = {
    val dec = "decimal(38,0)"
    val daily = df
      .select(groupCol.as("grp"), dayCol.as("day"), valueCol.cast("long").as("v"))
      .groupBy(col("grp"), col("day"))
      .agg(sum(coalesce(col("v"), lit(0L))).cast(dec).as("x"))
    val byG = Window.partitionBy(col("grp"))
    val byDay = byG.orderBy(col("day"))
    daily
      .withColumn("__n", count(lit(1)).over(byG))
      .withColumn("__s", sum(col("x")).over(byG))
      .withColumn(
        "__c",
        sum(col("x") * col("__n") - col("__s"))
          .over(byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn(
        "__pick",
        row_number().over(byG.orderBy(abs(col("__c")).desc, col("day").asc)))
      .filter(col("__pick") === 1)
      .select(
        col("grp"),
        col("__n").as("n_days"),
        col("day").as("cp_day"),
        abs(col("__c")).cast("long").as("max_abs_cusum"))
  }

  def corrExact(df: DataFrame, xCol: Column, yCol: Column): DataFrame =
    corrMoments(
      df.select(xCol.cast("long").as("x"), yCol.cast("long").as("y"))
        .agg(momentAggs.head, momentAggs.tail: _*))

  /** [[corrExact]] per group — the profiling shape a curation user runs
    * (corr(quality, length) by source). Same decimal moments, but the
    * aggregate is keyed so it partial-aggregates and shuffles only
    * |groups| rows. One row per group: (grp, n, r).
    */
  def corrExactBy(df: DataFrame, groupCol: Column, xCol: Column, yCol: Column): DataFrame =
    corrMoments(
      df.select(groupCol.as("grp"), xCol.cast("long").as("x"), yCol.cast("long").as("y"))
        .groupBy(col("grp"))
        .agg(momentAggs.head, momentAggs.tail: _*),
      keyCols = Seq(col("grp"))
    )

  private val Dec = "decimal(38,0)"

  private def momentAggs: Seq[Column] = Seq(
    count(lit(1)).as("n"),
    sum(col("x").cast(Dec)).as("sx"),
    sum(col("y").cast(Dec)).as("sy"),
    sum(col("x").cast(Dec) * col("x").cast(Dec)).as("sxx"),
    sum(col("y").cast(Dec) * col("y").cast(Dec)).as("syy"),
    sum(col("x").cast(Dec) * col("y").cast(Dec)).as("sxy")
  )

  private def corrMoments(m: DataFrame, keyCols: Seq[Column] = Nil): DataFrame = {
    val nD = col("n").cast(Dec)
    m.select(
      keyCols ++ Seq(
        col("n"),
        ((nD * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt((nD * col("sxx") - col("sx") * col("sx")).cast("double")) *
            sqrt((nD * col("syy") - col("sy") * col("sy")).cast("double")))).as("r")
      ): _*
    )
  }
}
