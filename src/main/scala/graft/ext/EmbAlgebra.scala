package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding LINEAR ALGEBRA: the dimensionality-structure toolkit an
  * embedding pipeline runs between ingestion and indexing — exact
  * integer-grid covariance, top-principal-component fit (power
  * iteration), map-only projection serve, and a Johnson–Lindenstrauss
  * distortion audit for the SRP sketch family.
  *
  * The family follows the engine's fit/serve doctrine (the NB classifier
  * and k-means precedents):
  *
  *   - FIT is relational and combine-friendly: the co-moment pyramid is a
  *     map-side HOF that emits the d(d+1)/2 upper-triangle products per
  *     row and ONE partial-aggregated groupBy — the shuffle moves at most
  *     d(d+1)/2 rows per map partition regardless of corpus size, and the
  *     driver holds only the d×d model (the covariance), never data.
  *   - The POWER ITERATION runs on the driver over that model — d²
  *     integers, bounded by dimension, not rows — in exact BigInt
  *     arithmetic with one fixed-order double renormalization per round,
  *     so any engine replays it bit-for-bit.
  *   - SERVE is map-only: the fitted component is baked into the plan as
  *     literals and the projection is a per-row integer dot product —
  *     the same column scores a table or a stream.
  *
  * Exactness contract (the [[Similarity.quantize]] grid): elements are
  * milli-quantized half-up, every aggregate is an integer sum (order-
  * free), and each double step is a fixed-order expression over
  * exactly-cast integers — IEEE-identical in any engine.
  */
object EmbAlgebra {

  /** Exact co-moment sums over the upper triangle (i ≤ j): one row per
    * dimension pair with `(i, j, n, sx, sy, sxy)` — all integer sums of
    * milli-quantized elements, plus the ppm covariance estimate
    * `cov_ppm = round((n·Σxy − Σx·Σy) / n²)` (milli² per-pair units make
    * the ratio directly parts-per-million of the raw covariance).
    *
    * Shape at 100 TB: the pair products are built per row by a
    * higher-order function (no self-join — joining the exploded frame
    * with itself would shuffle at data grain), the frame is fenced before
    * the explode (the built array must not inline into the Generate and
    * re-evaluate per element), and the single groupBy partial-aggregates
    * to ≤ d(d+1)/2 groups per partition. The n·d² multiply work is
    * covariance's inherent cost; the shuffle is model-sized.
    *
    * Overflow: with |x_q| ≤ 1000·max|x| the long sums hold past 10¹³
    * rows of unit-normalized vectors; the cov numerator n·Σxy − Σx·Σy is
    * computed in decimal(38,0) before one double division of exact
    * integers.
    */
  def covariance(df: DataFrame, vecCol: Column, dim: Int): DataFrame = {
    import graft.ops.agg.CoMomentPyramid
    val q = df.select(Similarity.quantize(vecCol).as("q"))
    // ONE bounded-buffer aggregate accumulates the whole pyramid per
    // partition (tight primitive loop, ~17 KB buffer through the
    // exchange) instead of exploding d(d+1)/2 struct rows per vector
    // into a 2080-group hash aggregate — same exact integer sums, same
    // output rows (parity with covarianceHof is spec-pinned)
    val flat = q.agg(CoMomentPyramid.column(dim)(col("q")).as("m"))
    val (is, js) = CoMomentPyramid.pairCoords(dim)
    val num = (col("n").cast("decimal(38,0)") * col("sxy").cast("decimal(38,0)")
      - col("sx").cast("decimal(38,0)") * col("sy").cast("decimal(38,0)"))
    val den = col("n").cast("decimal(38,0)") * col("n").cast("decimal(38,0)")
    flat
      .select(col("m"), posexplode(slice(col("m"), dim + 2, dim * (dim + 1) / 2)).as(Seq("p", "sxy")))
      .select(
        element_at(typedLit(is), col("p") + 1).as("i"),
        element_at(typedLit(js), col("p") + 1).as("j"),
        element_at(col("m"), 1).as("n"),
        element_at(col("m"), element_at(typedLit(is), col("p") + 1) + 2).as("sx"),
        element_at(col("m"), element_at(typedLit(js), col("p") + 1) + 2).as("sy"),
        col("sxy"))
      // empty-input parity with the HOF form: no vectors → no rows (the
      // zero buffer would otherwise emit an all-zero pyramid with n = 0)
      .filter(col("n") > 0)
      .withColumn(
        "cov_ppm",
        floor(num.cast("double") / den.cast("double") + lit(0.5)).cast("long"))
  }

  /** The HOF formulation of [[covariance]] — kept as the executable
    * definition of the exactness contract the bounded-buffer aggregate
    * must match (parity spec-asserted), exactly like dot/dotHof.
    */
  private[graft] def covarianceHof(df: DataFrame, vecCol: Column, dim: Int): DataFrame = {
    val q = df.select(Similarity.quantize(vecCol).as("q"))
    val pairsArr = flatten(
      transform(
        sequence(lit(0), lit(dim - 1)),
        i =>
          transform(
            sequence(i, lit(dim - 1)),
            j =>
              struct(
                i.as("i"),
                j.as("j"),
                element_at(col("q"), i + 1).as("xi"),
                element_at(col("q"), j + 1).as("xj")))))
    val num = (col("n").cast("decimal(38,0)") * col("sxy").cast("decimal(38,0)")
      - col("sx").cast("decimal(38,0)") * col("sy").cast("decimal(38,0)"))
    val den = col("n").cast("decimal(38,0)") * col("n").cast("decimal(38,0)")
    graft.ops.PlanOps
      .fence(q.select(pairsArr.as("p")))
      .select(explode(col("p")).as("e"))
      .select(col("e.i").as("i"), col("e.j").as("j"), col("e.xi").as("xi"), col("e.xj").as("xj"))
      .groupBy(col("i"), col("j"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("xi")).as("sx"),
        sum(col("xj")).as("sy"),
        sum(col("xi") * col("xj")).as("sxy"))
      .withColumn(
        "cov_ppm",
        floor(num.cast("double") / den.cast("double") + lit(0.5)).cast("long"))
  }

  /** Collect the fitted ppm covariance as a dense symmetric matrix —
    * MODEL STATE: d(d+1)/2 integers bounded by dimension, the only thing
    * that ever reaches the driver (the k-means-centroid discipline).
    */
  def covPpmMatrix(df: DataFrame, vecCol: Column, dim: Int): Array[Array[Long]] = {
    val m = Array.ofDim[Long](dim, dim)
    covariance(df, vecCol, dim)
      .select(col("i"), col("j"), col("cov_ppm"))
      .collect()
      .foreach { r =>
        val (i, j, c) = (r.getInt(0), r.getInt(1), r.getLong(2))
        m(i)(j) = c
        m(j)(i) = c
      }
    m
  }

  /** [[covPpmMatrix]] through the fitted-model memo
    * ([[graft.Memo.model]]): the covariance is a deterministic function of (corpus, dim),
    * so repeated invocations — bench passes, the fit+serve query — pay ONE
    * aggregation pass. Model-state-sized value: d² longs.
    */
  def covPpmMatrixCached(df: DataFrame, vecCol: Column, dim: Int): Array[Array[Long]] =
    graft.Memo.model("cov", df, s"$vecCol|$dim")(
      covPpmMatrix(df, vecCol, dim))

  /** FIT state in RAW-SUM form: the flat co-moment pyramid
    * `[n, Σx_i (d), Σx_i·x_j (d(d+1)/2, row-major i ≤ j)]` over
    * milli-quantized elements — the covariance SUFFICIENT STATISTIC,
    * which (unlike the derived ppm matrix) is ADDITIVE across corpora:
    * sums over a union are the elementwise sums of the parts. This is
    * what makes the model REFRESHABLE under index maintenance: fold an
    * appended batch's pyramid in with [[mergeCoMoments]] and re-derive
    * components via [[covPpmFromSums]] — one aggregation pass over the
    * BATCH, never a retrain over the union. Model-sized driver state:
    * 1 + d + d(d+1)/2 longs (2145 for d = 64).
    */
  def coMomentFlat(df: DataFrame, vecCol: Column, dim: Int): Array[Long] = {
    import graft.ops.agg.CoMomentPyramid
    df.select(Similarity.quantize(vecCol).as("q"))
      .agg(CoMomentPyramid.column(dim)(col("q")).as("m"))
      .collect()(0)
      .getSeq[Long](0)
      .toArray
  }

  /** [[coMomentFlat]] through the fitted-model memo — repeated refresh
    * cycles pay ONE aggregation pass per distinct (corpus, dim).
    */
  def coMomentFlatCached(df: DataFrame, vecCol: Column, dim: Int): Array[Long] =
    graft.Memo.model("comom", df, s"$vecCol|$dim")(
      coMomentFlat(df, vecCol, dim))

  /** MERGE two co-moment pyramids — exact elementwise long addition (the
    * same merge the distributed aggregate runs), so
    * `mergeCoMoments(fit(A), fit(B)) == fit(A ∪ B)` holds bit-for-bit
    * and a refreshed model is INDISTINGUISHABLE from a full retrain.
    */
  def mergeCoMoments(a: Array[Long], b: Array[Long]): Array[Long] = {
    require(a.length == b.length, s"pyramid lengths differ: ${a.length} != ${b.length}")
    Array.tabulate(a.length)(i => a(i) + b(i))
  }

  /** Derive the ppm covariance matrix from a raw-sum pyramid — the SAME
    * `floor((n·Σxy − Σx·Σy) / n² + 0.5)` rule [[covariance]] computes
    * relationally (exact integer products, then ONE correctly-rounded
    * double division), so the derived matrix equals [[covPpmMatrix]] of
    * the same corpus exactly (spec-pinned) and every downstream consumer
    * ([[topComponent]], [[topComponents]], the reduced-dim IVF chain)
    * serves refresh-fit and full-fit models identically.
    */
  def covPpmFromSums(flat: Array[Long], dim: Int): Array[Array[Long]] = {
    require(
      flat.length == 1 + dim + dim * (dim + 1) / 2,
      s"pyramid length ${flat.length} != ${1 + dim + dim * (dim + 1) / 2} for dim $dim")
    val n = BigInt(flat(0))
    require(n > 0, "empty corpus — no covariance to derive")
    val den = (n * n).doubleValue
    val m = Array.ofDim[Long](dim, dim)
    var p = 1 + dim
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val num = n * BigInt(flat(p)) - BigInt(flat(1 + i)) * BigInt(flat(1 + j))
        val c = math.floor(num.doubleValue / den + 0.5).toLong
        m(i)(j) = c
        m(j)(i) = c
        p += 1
        j += 1
      }
      i += 1
    }
    m
  }

  /** Top principal component by `rounds` fixed rounds of integer power
    * iteration over the ppm covariance. Deterministic and replayable in
    * any engine: v₀ = 10⁶·1⃗; each round s = C_q·v exactly in BigInt,
    * then v′_i = floor(s_i/max|s| · 10⁶ + 0.5) — one fixed-order double
    * step per component over exactly-cast integers (both casts are
    * IEEE-correctly-rounded, so the renormalized grid vector cannot
    * drift between engines). The sign is pinned by the all-positive
    * start; a fixed round count keeps the loop bounded (the convergence
    * DELTA is reported, not waited on — the fixpoint-certificate
    * doctrine).
    *
    * @return (v_R, v_{R−1}, lambda_ppm) — the fitted component on the
    *         10⁶ grid, the previous round (for the convergence delta),
    *         and the Rayleigh quotient λ = vᵀCv / vᵀv in covariance ppm
    *         units (exact BigInt sums, one double division).
    */
  def topComponent(cov: Array[Array[Long]], rounds: Int): (Array[Long], Array[Long], Long) =
    topComponent(cov, rounds, _ => 1000000L)

  /** [[topComponent]] with an explicit start vector rule.
    * [[topComponents]] passes the index-perturbed start `10⁶ + i`: the
    * flat all-10⁶ start can be EXACTLY orthogonal to the dominant
    * eigenvector of a deflated matrix (e.g. any symmetric 2×2 — its
    * second eigenvector is (1, −1)), which zeroes the very first matvec;
    * the per-index perturbation breaks that orthogonality while staying
    * a pure literal any SQL twin replays.
    */
  def topComponent(
      cov: Array[Array[Long]],
      rounds: Int,
      start: Int => Long
  ): (Array[Long], Array[Long], Long) = {
    require(rounds >= 1 && rounds <= 16, "rounds must be in [1, 16] — fixed unrolled rounds")
    val dim = cov.length
    var v = Array.tabulate(dim)(start)
    var prev = v
    for (_ <- 1 to rounds) {
      val s = Array.tabulate(dim) { i =>
        var acc = BigInt(0)
        var j = 0
        while (j < dim) { acc += BigInt(cov(i)(j)) * v(j); j += 1 }
        acc
      }
      val m = s.map(_.abs).max
      require(m > 0, "zero covariance matrix — nothing to iterate")
      prev = v
      v = s.map(x => math.floor(x.doubleValue / m.doubleValue * 1000000d + 0.5).toLong)
    }
    var num = BigInt(0)
    var den = BigInt(0)
    var i = 0
    while (i < dim) {
      var si = BigInt(0)
      var j = 0
      while (j < dim) { si += BigInt(cov(i)(j)) * v(j); j += 1 }
      num += si * v(i)
      den += BigInt(v(i)) * v(i)
      i += 1
    }
    val lambda = math.floor(num.doubleValue / den.doubleValue + 0.5).toLong
    (v, prev, lambda)
  }

  /** Top-`m` principal components by DEFLATION over [[topComponent]]'s
    * fixed-round power iteration: fit component k on the k-times-deflated
    * matrix, then subtract its rank-1 term — `c′_ij = c_ij −
    * floor(λ·v_i·v_j / (vᵀv) + 0.5)`, exact HUGEINT products and ONE
    * correctly-rounded double division per entry (the lambda rule), so a
    * SQL twin replays the whole fit verbatim, deflations included. The
    * standard d→m dimensionality reduction an embedding pipeline runs
    * before indexing (PCA → IVF); still d²-bounded driver model state,
    * never data.
    *
    * Convergence caveats inherit from [[topComponent]]: fixed rounds
    * (certificate, not wait), sign pinned by the all-positive start, and
    * grid-rounded deflation means the components are NEAR-orthogonal on
    * the ppm grid, not exactly — the serving contract is determinism,
    * not textbook orthogonality (spec-audited within tolerance).
    *
    * @return one (component, lambda_ppm) per rank, strongest first
    */
  def topComponents(cov: Array[Array[Long]], m: Int, rounds: Int): Seq[(Array[Long], Long)] = {
    val dim = cov.length
    require(m >= 1 && m <= dim, s"m must be in [1, $dim]")
    var c = cov.map(_.clone())
    (1 to m).map { _ =>
      val (v, _, lambda) = topComponent(c, rounds, i => 1000000L + i)
      var den = BigInt(0)
      var i = 0
      while (i < dim) { den += BigInt(v(i)) * v(i); i += 1 }
      c = Array.tabulate(dim, dim) { (a, b) =>
        val num = BigInt(lambda) * v(a) * v(b)
        c(a)(b) - math.floor(num.doubleValue / den.doubleValue + 0.5).toLong
      }
      (v, lambda)
    }
  }

  /** SERVE, multi-component: the m integer projection scores of an
    * ALREADY-quantized vector attribute — one native exact long dot per
    * component against its literal, no re-quantization per component
    * (callers stage `quantize(vec)` once, the staging discipline).
    */
  def projectScoresQ(qCol: Column, comps: Seq[Array[Long]]): Column =
    array(comps.map(v => call_function("graft_dotl", qCol, typedLit(v.toSeq))): _*)

  /** The REDUCED d→m coordinate of a quantized vector: per component,
    * `floor(score/10⁶ + 0.5)` — one half-up double division of the exact
    * integer score, scaling the 10⁹-ish projection back to the milli
    * grid (|r| ≤ ~2.6·10⁵ for unit-ish vectors, exactly representable in
    * FLOAT, so the reduced vector feeds the existing ANN machinery —
    * whose own quantize step multiplies the integer by 1000 losslessly).
    */
  def pcaReducedVec(qCol: Column, comps: Seq[Array[Long]]): Column =
    array(comps.map { v =>
      floor(
        call_function("graft_dotl", qCol, typedLit(v.toSeq)).cast("double") / lit(1000000d)
          + lit(0.5)
      ).cast("float")
    }: _*)

  /** SERVE: project each embedding onto a fitted component — map-only,
    * the component rides the plan as literals (like the NB model), so
    * the identical column scores a batch table or a firehose. Score
    * units: milli-element × 10⁶-grid component = 10⁹ × cosine-scale,
    * far inside long range for any practical dimension.
    */
  def projectScore(vecCol: Column, component: Array[Long]): Column = {
    val comp = array(component.toIndexedSeq.map(lit(_)): _*)
    aggregate(
      zip_with(Similarity.quantize(vecCol), comp, (x, w) => x * w),
      lit(0L),
      (acc, x) => acc + x)
  }

  /** The exact integer dot/self-dot triple of two quantized vectors and
    * the one-division cosine over them — the fixed-order double formula
    * shared verbatim by the JL audit's original and projected spaces.
    */
  private[ext] def cosineOfSums(sab: Column, saa: Column, sbb: Column): Column =
    sab.cast("double") / (sqrt(saa.cast("double")) * sqrt(sbb.cast("double")))

  /** Johnson–Lindenstrauss DISTORTION AUDIT for the SRP sketch family:
    * project a deterministic md5-gated stratum of vectors through the
    * SAME md5-derived coefficient matrix the LSH buckets use
    * ([[Similarity.srpCoefficients]]), pair the stratum (id_lo < id_hi),
    * and histogram `cos(projected) − cos(original)` in 1%-wide ppm
    * buckets. The quality gauge for every sketch consumer: how much
    * cosine geometry K planes actually preserve.
    *
    * Scale: the gate fraction is fixed, so pair count grows as
    * (gate·N)² — the caller tightens `gateMod` with corpus size exactly
    * like the recall audit's stratum; the pair join is on the gated
    * stratum only, never data-grain. All dots are exact integer sums;
    * the two cosines and the bucket cut are fixed-order double steps.
    */
  def jlDistortion(
      df: DataFrame,
      idCol: Column,
      vecCol: Column,
      dim: Int,
      planes: Int,
      gateMod: Int
  ): DataFrame = {
    val coef = Similarity.srpCoefficients(dim, planes)
    val projArr = array((0 until planes).map { k =>
      aggregate(
        zip_with(col("q"), array(coef(k).map(lit(_)): _*), (x, w) => x * w),
        lit(0L),
        (acc, x) => acc + x)
    }: _*)
    val gated = df
      .select(idCol.as("id"), Similarity.quantize(vecCol).as("q"))
      .filter(graft.ops.Hashing.md5Mod(col("id").cast("string"), gateMod.toLong) === 0)
      .withColumn("p", projArr)
      .withColumn("qq", aggregate(col("q"), lit(0L), (acc, x) => acc + x * x))
      .withColumn("pp", aggregate(col("p"), lit(0L), (acc, x) => acc + x * x))
    val fenced = graft.ops.PlanOps.fence(gated)
    val a = fenced.select(
      col("id").as("id_lo"), col("q").as("qa"), col("p").as("pa"),
      col("qq").as("qqa"), col("pp").as("ppa"))
    val b = fenced.select(
      col("id").as("id_hi"), col("q").as("qb"), col("p").as("pb"),
      col("qq").as("qqb"), col("pp").as("ppb"))
    val pairs = a
      .crossJoin(b)
      .filter(col("id_lo") < col("id_hi"))
      .filter(col("qqa") > 0 && col("qqb") > 0 && col("ppa") > 0 && col("ppb") > 0)
      .withColumn(
        "sq",
        aggregate(zip_with(col("qa"), col("qb"), (x, y) => x * y), lit(0L), (acc, x) => acc + x))
      .withColumn(
        "sp",
        aggregate(zip_with(col("pa"), col("pb"), (x, y) => x * y), lit(0L), (acc, x) => acc + x))
      .withColumn("cos_o", cosineOfSums(col("sq"), col("qqa"), col("qqb")))
      .withColumn("cos_p", cosineOfSums(col("sp"), col("ppa"), col("ppb")))
      .withColumn(
        "d_ppm",
        floor((col("cos_p") - col("cos_o")) * lit(1000000d) + lit(0.5)).cast("long"))
    pairs
      .groupBy(floor(col("d_ppm").cast("double") / lit(10000d)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_pairs"))
  }
}
