package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dataset-curation operators for training-data pipelines (north-star
  * extension, SURVEY.md §7.5): rebalancing a corpus by downsampling
  * over-represented strata (languages, sources, quality bands).
  */
object Curation {

  /** Working-column collision guard: these operators stage intermediate
    * values in fixed `__`-prefixed columns; silently replacing (and then
    * dropping) a caller column of the same name would lose data, so the
    * names are required absent up front — matching the defensive stance of
    * the rest of the operator surface.
    */
  private def requireWorkCols(df: DataFrame, names: String*): Unit = {
    // case-INSENSITIVE match: withColumn/drop resolve case-insensitively
    // under the default spark.sql.caseSensitive=false, so a caller column
    // "__RK" would be silently replaced by our "__rk" if only exact names
    // were rejected
    val clash = names.filter(n => df.columns.exists(_.equalsIgnoreCase(n)))
    require(
      clash.isEmpty,
      s"input columns ${clash.mkString(", ")} collide with reserved working columns")
  }

  /** Deterministic per-stratum downsampling: keep a row iff
    * md5(id) mod 1000 < rate(stratum) × 1000.
    *
    * Hash-gated rather than `rand()`-gated on purpose:
    *   - reproducible — the same corpus always yields the same sample, so
    *     downstream runs, retried tasks, and AQE re-executions agree
    *     (rand() re-draws per task attempt, silently changing the sample
    *     under speculative execution or stage retry);
    *   - engine-neutral — any SQL engine with md5 verifies the exact rows;
    *   - map-side only — a pure filter, no shuffle, scales linearly.
    *
    * Rates are millage-quantized (0.1% granularity) so the gate is exact
    * integer arithmetic.
    *
    * @param idCol       stable row identity (the hash input)
    * @param stratumCol  stratum key (e.g. language id)
    * @param rates       keep-fraction per stratum value, in [0, 1]
    * @param defaultRate keep-fraction for strata not in `rates`
    */
  def stratifiedSample(
      df: DataFrame,
      idCol: Column,
      stratumCol: Column,
      rates: Map[String, Double],
      defaultRate: Double = 1.0
  ): DataFrame = {
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0 && r <= 1), "rates must be in [0,1]")
    val gate = graft.ops.Hashing.md5Mod(idCol.cast("string"), 1000L)
    val rateCol = rates.foldLeft(lit(math.round(defaultRate * 1000)): Column) {
      case (acc, (k, v)) => when(stratumCol === k, lit(math.round(v * 1000))).otherwise(acc)
    }
    df.filter(gate < rateCol)
  }

  /** Exact-size-k deterministic uniform sample: the k rows with the
    * smallest md5-derived hash of their id (ties broken on the id). Unlike
    * [[stratifiedSample]] (rate-based, approximate size) this yields
    * EXACTLY k rows, and unlike `orderBy(rand()).limit(k)` it is
    * retry-stable and engine-reproducible. Plans as TakeOrdered —
    * per-partition top-k heaps merged on k rows, no global sort ever
    * materializes, which is what makes "give me 10k random docs" safe
    * against a 100 TB corpus.
    */
  def sampleExactK(df: DataFrame, idCol: Column, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    df.orderBy(graft.ops.Hashing.md5Long(idCol.cast("string")).asc, idCol.asc).limit(k)
  }

  /** Per-GROUP exact-k deterministic sample: at most `k` rows per group,
    * the ones with the smallest md5-derived id hash (id tiebreak) — the
    * "cap every domain at k docs" curation step. Ranking is a window
    * PARTITIONED by the group, so it scales out across groups exactly like
    * [[graft.ext.Stats.groupedQuantile]]; no global order anywhere. Same
    * retry-stability rationale as [[sampleExactK]].
    */
  def sampleExactKPerGroup(df: DataFrame, groupCol: Column, idCol: Column, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    requireWorkCols(df, "__rk")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol)
      .orderBy(graft.ops.Hashing.md5Long(idCol.cast("string")).asc, idCol.asc)
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .drop("__rk")
  }

  /** Privacy release gate — k-anonymity and l-diversity per
    * quasi-identifier group: before a corpus (or its metadata) ships, every
    * combination of quasi-identifiers must cover at least `k` records
    * (re-identification resistance) and at least `l` distinct values of
    * the sensitive attribute (attribute-disclosure resistance — a k-large
    * group whose sensitive value is constant still leaks it). One row per
    * group with exact counts and both verdicts; the release step is then
    * a semi-join against the passing groups.
    *
    * Scale shape: ONE partial-agg'd groupBy on the quasi-identifier tuple
    * (count + count_distinct — Spark plans the distinct as a two-phase
    * expand-aggregate, still partial-agg'd); |groups| rows shuffle,
    * verdicts are row-local integer compares. NULL quasi-identifier
    * values form their own group (standard: NULL is a value an attacker
    * sees too).
    */
  def kAnonymity(
      df: DataFrame,
      quasiCols: Seq[Column],
      sensitiveCol: Column,
      k: Int,
      l: Int
  ): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier")
    require(k >= 1 && l >= 1, "k and l must be >= 1")
    df.groupBy(quasiCols: _*)
      .agg(
        count(lit(1)).as("n"),
        count_distinct(sensitiveCol).as("n_sensitive"))
      .withColumn("k_ok", col("n") >= k)
      .withColumn("l_ok", col("n_sensitive") >= l)
  }

  /** Differentially-private group-count release (ε-DP, Laplace mechanism,
    * sensitivity 1 — the statistic publishers run BEFORE sharing corpus
    * composition tables that [[kAnonymity]] alone can't protect, since
    * exact counts re-identify under composition): each group's count gets
    * Laplace(1/ε) noise via the inverse CDF
    * `−(1/ε)·sgn(u)·ln(1 − 2|u|)`, `u ∈ (−½, ½)`.
    *
    * The uniform draw is DETERMINISTIC — the shared md5 gate over the
    * group key, mapped to the grid `v/10⁶ − ½` with `v ∈ [1, 999998]` (so
    * `ln`'s argument stays in [2·10⁻⁶, 1] — never 0) — which makes the
    * release testable and engine-replayable: real deployments swap the
    * gate for a CSPRNG, everything else unchanged. ln is the one
    * non-correctly-rounded primitive; the noise is rounded to 6 dp before
    * the add (the PSI/JSD quantization argument: a cross-engine flip
    * needs ln within half an ulp of a 6 dp boundary).
    *
    * Scale shape: one partial-agg'd groupBy; the noise is row-local
    * column algebra on the |groups|-row aggregate. No collect, no join.
    */
  /** Quality-gate FUNNEL — the data-card table that explains WHERE a
    * curation pipeline loses its corpus (every gate's pass rate is
    * meaningless without the upstream context; "40% pass length" reads
    * differently after "8% pass lang"): stages apply CUMULATIVELY in
    * order, and each row reports survivors through stage i. ONE
    * partial-agg'd pass over the corpus — the cumulative AND chains are
    * row-local columns, the per-stage sums one aggregate; the funnel
    * rows unpivot from the single result row. NULL conditions count as
    * fail (a gate that can't evaluate does not pass a document).
    *
    * @return one row per stage: (stage_idx, stage, n_total, n_pass,
    *         pass_ppm) — ppm exact integer div against the corpus total
    */
  def gateFunnel(df: DataFrame, stages: Seq[(String, Column)]): DataFrame = {
    require(stages.nonEmpty, "need at least one gate")
    val cums = stages.scanLeft(lit(true))((acc, s) => acc && coalesce(s._2, lit(false))).tail
    val aggs = count(lit(1)).as("n_total") +:
      cums.zipWithIndex.map { case (c, i) => sum(when(c, 1L).otherwise(0L)).as(s"__c$i") }
    df.agg(aggs.head, aggs.tail: _*)
      .select(
        col("n_total"),
        posexplode(array(stages.zipWithIndex.map { case ((name, _), i) =>
          struct(lit(name).as("stage"), col(s"__c$i").as("n_pass"))
        }: _*)).as(Seq("__i", "__s")))
      .select(
        (col("__i") + 1).cast("int").as("stage_idx"),
        col("__s.stage").as("stage"),
        col("n_total"),
        col("__s.n_pass").as("n_pass"),
        // empty corpus → a well-defined all-zero funnel, not a div-by-zero
        when(col("n_total") > 0, expr("`__s`.n_pass * 1000000 div n_total"))
          .otherwise(lit(0L))
          .as("pass_ppm"))
  }

  /** The deterministic Laplace(1/ε) draw keyed on a group identity —
    * [[dpNoisyCounts]]'s noise as a standalone Column so a STREAMING
    * aggregate can apply the identical release post-state (noise is
    * stateless row-local algebra; only the count needs streaming state).
    * 6-dp-quantized for cross-engine ln portability.
    */
  def dpLaplaceNoise(key: Column, eps: Double): Column = {
    require(eps > 0, "epsilon must be positive")
    val v = graft.ops.Hashing.md5Mod(key, 999998L) + lit(1L)
    val u = v.cast("double") / lit(1000000.0) - lit(0.5)
    round(lit(-1.0 / eps) * signum(u) * log(lit(1.0) - lit(2.0) * abs(u)), 6)
  }

  def dpNoisyCounts(df: DataFrame, keys: Seq[Column], eps: Double): DataFrame = {
    require(keys.nonEmpty, "need at least one group key")
    val agg = df.groupBy(keys: _*).agg(count(lit(1)).as("n"))
    val keyCols = agg.columns.dropRight(1).map(c => col(c).cast("string"))
    val noise = dpLaplaceNoise(concat_ws("|", keyCols: _*), eps)
    agg
      .withColumn("n_dp", round(col("n").cast("double") + noise, 6))
      .withColumn("epsilon", lit(eps))
      // the TRUE count must not escape a DP release — publishing it next
      // to the noised one would void the privacy guarantee
      .drop("n")
  }

  /** WEIGHTED exact-k sample without replacement — Efraimidis–Spirakis
    * A-Res (Inf. Proc. Letters 97(5), 2006): each row draws a key
    * `u^(1/w)` from its deterministic uniform `u` and the k LARGEST keys
    * win; the selection distribution is exactly "probability proportional
    * to weight, without replacement". Ranked in log space (`ln(u)/w`,
    * same order, no tiny-power underflow) with the uniform derived from
    * the shared md5 gate — `u = (md5Long(id)+1)/2^32 ∈ (0, 1]` — so the
    * draw is retry-stable and engine-replayable like [[sampleExactK]].
    * The length-weighted corpus draw ("sample docs proportional to token
    * count") is this with w = n_tokens.
    *
    * Scale: plans as TakeOrdered — per-partition k-heaps merged on k rows,
    * no global sort; weights are read row-locally, so the whole selection
    * is one map + one k-row reduce. Non-positive weights can never win
    * (their mathematical key is 0 only at w→∞) and are filtered up front
    * — which also keeps ANSI division happy at w = 0. Ordering ulp note:
    * ln is the only non-correctly-rounded primitive; a cross-engine flip
    * would need the rank-k/rank-k+1 keys within one ulp, and ties break
    * on the id.
    */
  def sampleWeighted(df: DataFrame, idCol: Column, weightCol: Column, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val w = weightCol.cast("double")
    val u = (graft.ops.Hashing.md5Long(idCol.cast("string")) + lit(1L)).cast("double") /
      lit(4294967296.0)
    df.filter(w > 0).orderBy((log(u) / w).desc, idCol.asc).limit(k)
  }

  /** Benchmark decontamination: flag training documents whose word-n-gram
    * overlap with a benchmark/eval set reaches `threshPct` percent of the
    * document's own distinct n-grams — the standard filter run before
    * training so eval material never leaks into the corpus.
    *
    * Shape at 100 TB: the benchmark side is always small (eval sets), so
    * its distinct gram set BROADCASTS; the train side explodes grams into
    * a map-side hash-join probe plus one partial-aggregated groupBy on
    * doc_id. Nothing pairwise, no corpus self-join. The threshold compare
    * is integer arithmetic (`hits·100 ≥ grams·pct`) — engine-exact.
    *
    * @return one row per training doc: (doc_id, n_grams, n_hits,
    *         contaminated)
    */
  def decontaminate(
      train: DataFrame,
      idCol: Column,
      textCol: Column,
      benchmark: DataFrame,
      benchTextCol: Column,
      n: Int,
      threshPct: Int
  ): DataFrame = {
    require(threshPct >= 0 && threshPct <= 100, "threshPct must be in [0,100]")
    val g = Dedup.shingled(train, idCol, textCol, n)
    val totals = g.select(col("doc_id"), size(col("grams")).cast("long").as("n_grams"))
    // PlanOps.fence before every explode of the gram arrays: the optimizer
    // inlines the single-consumer gram-building expression into the
    // Generate node, which re-evaluates it per OUTPUT ELEMENT — ~m× the
    // work per doc (measured 12s -> 0.1s for the train-side explode at
    // sf0.1; see PlanOps)
    val benchGrams = graft.ops.PlanOps
      .fence(Dedup.shingled(benchmark, lit(0L), benchTextCol, n))
      .select(explode(col("grams")).as("gram"))
      .distinct()
    // grams are distinct per doc, so the join-count IS the distinct-hit count
    val hits = graft.ops.PlanOps
      .fence(g)
      .select(col("doc_id"), explode(col("grams")).as("gram"))
      .join(broadcast(benchGrams), "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
    totals
      .join(hits, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) * 100 >= col("n_grams") * threshPct)
          .as("contaminated")
      )
  }

  /** Deterministic train/validation/test split assignment: each row gets
    * the split whose permille range contains `md5(key) mod 1000`. The
    * split column is a pure map-side expression — no shuffle, no state,
    * linear at any corpus size — and hash-gated rather than `rand()`-gated
    * for the same three reasons as [[stratifiedSample]] (retry-stable,
    * engine-reproducible, corpus-order-independent).
    *
    * The leakage guard is the KEY CHOICE, not extra machinery: pass a
    * per-row id and you get an iid split; pass a GROUP key (domain, near-dup
    * cluster representative, author) and every member of the group lands in
    * the same split — the standard defense against eval contamination by
    * near-duplicates straddling train/test (see `corpus_split_leakage_safe`,
    * which keys by the connected-components cluster id).
    *
    * @param keyCol stable split key (hash input; group key ⇒ group-atomic split)
    * @param splits (name, permille) in priority order; permilles must be
    *               positive and sum to exactly 1000, so every row is
    *               assigned and the gate stays integer-exact
    */
  def hashSplit(df: DataFrame, keyCol: Column, splits: Seq[(String, Int)]): DataFrame = {
    require(splits.nonEmpty, "splits must be non-empty")
    require(splits.forall(_._2 > 0), "split permilles must be positive")
    require(splits.map(_._2).sum == 1000, "split permilles must sum to 1000")
    require(splits.map(_._1).distinct.size == splits.size, "split names must be unique")
    val g = graft.ops.Hashing.md5Mod(keyCol.cast("string"), 1000L)
    // cumulative upper bounds; the last bucket is the otherwise-arm so the
    // assignment is total by construction
    val upper = splits.scanLeft(0)(_ + _._2).tail
    val assign = splits.init.zip(upper.init).foldRight(lit(splits.last._1): Column) {
      case (((name, _), hi), acc) => when(g < hi, name).otherwise(acc)
    }
    df.withColumn("split", assign)
  }

  /** Deterministic training-order shuffle: every row gets a (shard, pos)
    * coordinate from the md5 of its key — the global random-but-
    * reproducible interleave a training run reads shard by shard. The
    * shard assignment is a map-only hash gate and the position a window
    * PER SHARD (shards are independent, so the sort parallelizes across
    * them — no global sort, no single task). md5 rather than `rand()`:
    * task retries and different engines produce the identical order, so
    * the training data order is an auditable artifact, not an accident of
    * execution. Hash ties (32-bit, birthday-real at corpus scale) break
    * on the key, keeping the order total and stable.
    *
    * @return (doc_id, shard, pos) — pos is 1-based and dense within its
    *         shard
    */
  def shuffleShards(df: DataFrame, idCol: Column, shards: Int): DataFrame = {
    require(shards > 0, "shards must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("__h"), col("doc_id"))
    df.select(idCol.as("doc_id"))
      .withColumn("__h", graft.ops.Hashing.md5Long(col("doc_id").cast("string")))
      .withColumn("shard", pmod(col("__h"), lit(shards.toLong)).cast("int"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** Deterministic round-robin source interleaving (the equal-ratio
    * `interleave_datasets` dataloader shape): each source's rows get a
    * deterministic within-source shuffle order (md5 gate, id tie-break),
    * and global position `r·|S| + src_idx` deals the sources out
    * alternately — position p reads source p mod |S|, so any contiguous
    * slice of the ordering carries every source in equal measure (up to
    * the shorter sources running dry at the tail). The epoch literal
    * reshuffles WITHIN sources while preserving the interleave — the
    * per-epoch reshuffle a training loop wants, retry-stable unlike
    * rand().
    *
    * Scale shape: one bounded distinct for the source index (the global
    * window ranks |sources| rows — model-sized, the [[shuffleShards]]
    * rationale), broadcast back; the within-source ranking is one window
    * per source key. No global sort: downstream writers range-partition
    * on `pos` if a totally-ordered layout is needed.
    */
  def interleaveRoundRobin(
      df: DataFrame,
      idCol: Column,
      sourceCol: Column,
      epoch: Int = 0
  ): DataFrame = {
    requireWorkCols(df, "__h", "__r", "__sidx", "__nsrc")
    import org.apache.spark.sql.expressions.Window
    val base = df.select(idCol.as("doc_id"), sourceCol.as("source"))
    val srcIdx = base
      .select(col("source"))
      .distinct()
      .withColumn("__sidx", row_number().over(Window.orderBy(col("source"))).cast("long") - 1)
    val nSrc = srcIdx.agg(count(lit(1)).as("__nsrc"))
    val w = Window.partitionBy(col("source")).orderBy(col("__h"), col("doc_id"))
    base
      .withColumn(
        "__h",
        graft.ops.Hashing.md5Long(concat(lit(s"e$epoch#"), col("doc_id").cast("string"))))
      .withColumn("__r", row_number().over(w).cast("long") - 1)
      .join(broadcast(srcIdx), Seq("source"))
      .crossJoin(broadcast(nSrc)) // one-row frame: the cross join is a scalar
      .select(
        col("doc_id"),
        col("source"),
        (col("__r") * col("__nsrc") + col("__sidx")).as("pos"))
  }

  /** Group-level quality gate: keep every document whose GROUP's mean of
    * `valueCol` clears `minMean` — the "drop low-quality domains
    * wholesale" curation step (a per-document filter can't express it: the
    * decision is an aggregate over the whole domain). Two stages, both
    * scale-safe: a keyed partial-agg reduces the corpus to |groups| rows
    * of integer (sum, count) moments, and the qualifying group set
    * broadcast-semi-joins back onto the corpus — the big side never
    * shuffles. The mean is one double division of two exact integers, so
    * any SQL engine reproduces the comparison bit-for-bit.
    */
  def filterByGroupMean(
      df: DataFrame,
      groupCol: Column,
      valueCol: Column,
      minMean: Double
  ): DataFrame = {
    requireWorkCols(df, "__g", "__s", "__n")
    val good = df
      .groupBy(groupCol.as("__g"))
      .agg(sum(valueCol.cast("long")).as("__s"), count(lit(1)).as("__n"))
      .filter(col("__s").cast("double") / col("__n").cast("double") >= minMean)
      .select(col("__g"))
    df.join(broadcast(good), groupCol === col("__g"), "left_semi")
  }

  /** Keep rows at or above their OWN GROUP's p-quantile of `valueCol`
    * (p = pNum/pDen): per-group quality-threshold curation — "drop each
    * source's bottom half by length" — where a global threshold would
    * gut small strata. The threshold is the type-1 (lower) order
    * statistic: the value at ascending rank `⌈p·n⌉`, picked with pure
    * integer rank arithmetic; rows TIED with the threshold value are
    * kept (the compare is on values, not ranks), so the output is
    * insensitive to tie order and engine-exact.
    *
    * Scale shape: one per-group window ranks values (AQE-splittable on
    * the group key), the threshold table is one row per group (broadcast
    * back), and the keep filter is map-side. The reference analogue is
    * the validity-band filtering of §2.10, generalized to data-derived
    * per-stratum cut points.
    */
  def filterByGroupQuantile(
      df: DataFrame,
      groupCol: Column,
      valueCol: Column,
      pNum: Int,
      pDen: Int
  ): DataFrame = {
    require(pNum > 0 && pNum <= pDen, "p = num/den must be in (0, 1]")
    requireWorkCols(df, "__g", "__rk", "__n", "__thr")
    import org.apache.spark.sql.expressions.Window
    val ranked = df
      .withColumn("__rk", row_number().over(Window.partitionBy(groupCol).orderBy(valueCol.asc)))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(groupCol)))
    val thr = ranked
      .filter(col("__rk") === expr(s"cast(($pNum * __n + ${pDen - 1}) div $pDen as bigint)"))
      .select(groupCol.as("__g"), valueCol.as("__thr"))
    df.join(broadcast(thr), groupCol <=> col("__g"))
      .filter(valueCol >= col("__thr"))
      .drop("__g", "__thr")
  }

  /** Per-stratum keep-rate table for the mix operators: given tiny
    * `(__s, __n, __u)` stratum counts, pick the bottleneck (argmin n/u —
    * the double division is used for ORDERING only, and a correctly-rounded
    * division of the same integers is identical in any engine; ties break
    * on the stratum name in binary order) and emit one
    * `(__s, __r = ⌊n_b·u_s·10⁶ / (u_b·n_s)⌋)` row per stratum.
    *
    * The rate arithmetic runs in 38-digit decimal ON THE COUNTS TABLE ONLY
    * (a handful of rows), never per data row — exact for any corpus up to
    * ~10³⁸ in the product n_b·u_s·10⁶, i.e. unbounded for practical
    * purposes, where the former per-row Long triple product
    * `gate·u_b·n_s` overflowed silently once √n̅_b·n_s exceeded ~9·10¹².
    * Since the bottleneck minimizes n/u, every rate is ≤ 10⁶ and the
    * bottleneck's own rate is exactly 10⁶ (kept whole).
    */
  private def keepRates(counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bottleneck = counts
      .withColumn(
        "__rk",
        row_number().over(
          Window.orderBy(
            (col("__n").cast("double") / col("__u").cast("double")).asc,
            col("__s").asc))
      )
      .filter(col("__rk") === 1)
      .select(col("__n").as("__nb"), col("__u").as("__ub"))
    counts
      .crossJoin(bottleneck)
      .withColumn(
        "__r",
        expr(
          "(cast(__nb as decimal(38,0)) * __u * 1000000) div (cast(__ub as decimal(38,0)) * __n)"))
      .select(col("__s"), col("__r"))
  }

  /** Rebalance a corpus to TARGET mix proportions (static domain mixing):
    * given integer weights `w_s` per stratum, keep the largest sample whose
    * stratum proportions are exactly `w_s`-proportional — the bottleneck
    * stratum (minimum n_s/w_s) is kept whole and every other stratum is
    * hash-downsampled to match.
    *
    * Fully declarative and engine-exact: stratum counts come from one tiny
    * aggregate (broadcast back — never collected to the driver), the
    * bottleneck and the per-stratum keep rates fall out of [[keepRates]]
    * (exact decimal arithmetic on the tiny counts table), and the per-row
    * keep gate is a single Long compare `hash(id) < r_s` — no
    * data-proportional product exists to overflow, and no floating-point
    * rate exists to diverge between engines. Same determinism rationale as
    * [[stratifiedSample]] (retry-stable, no rand()).
    */
  def mixToTarget(
      df: DataFrame,
      idCol: Column,
      stratumCol: Column,
      weights: Map[String, Int],
      defaultWeight: Int = 1
  ): DataFrame = {
    require((weights.values ++ Seq(defaultWeight)).forall(_ > 0), "weights must be positive")
    requireWorkCols(df, "__s", "__n", "__u", "__r")
    val uOf: Column => Column = s =>
      weights.foldLeft(lit(defaultWeight.toLong): Column) {
        case (acc, (k, v)) => when(s === k, lit(v.toLong)).otherwise(acc)
      }
    val counts = df
      .groupBy(stratumCol.as("__s"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__u", uOf(col("__s")))
    // `<=>` so a NULL stratum matches its own rate row instead of being
    // silently inner-joined away — defaultWeight promises unlisted strata
    // (NULL included) participate, and groupBy already emits a NULL group
    df.join(broadcast(keepRates(counts)), stratumCol <=> col("__s"))
      .filter(graft.ops.Hashing.md5Mod(idCol.cast("string"), 1000000L) < col("__r"))
      .drop("__s", "__r")
  }

  /** Temperature-flattened source mixing (the multilingual-LM sampling
    * rule, e.g. XLM-R: target share ∝ n^α with α = 1/2): downsample each
    * stratum so kept sizes are proportional to √n̅ — over-represented
    * sources flatten toward the tail without upsampling anything. The
    * stratum maximizing u/n (here the SMALLEST, since u = √n̅ ) is the
    * bottleneck kept at 100%; every other stratum keeps
    * `(n_b·u_s)/(u_b·n_s)` of its rows via the same md5 gate as
    * [[mixToTarget]] — deterministic, retry-stable, map-side.
    *
    * α is fixed at 1/2 deliberately: the weight is then `floor(√n̅·10⁶)`,
    * and IEEE-754 sqrt is correctly rounded in every engine, so the
    * oracle reproduces the weights bit-exactly. A general `pow(n, α)` has
    * no such cross-engine guarantee. The keep rates come from
    * [[keepRates]] (exact decimal on the tiny counts table) and the
    * per-row gate is one Long compare — overflow-free at any corpus size.
    */
  def temperatureMix(df: DataFrame, idCol: Column, stratumCol: Column): DataFrame = {
    requireWorkCols(df, "__s", "__n", "__u", "__r")
    val counts = df
      .groupBy(stratumCol.as("__s"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__u", floor(sqrt(col("__n").cast("double")) * 1000000d).cast("long"))
    df.join(broadcast(keepRates(counts)), stratumCol <=> col("__s"))
      .filter(graft.ops.Hashing.md5Mod(idCol.cast("string"), 1000000L) < col("__r"))
      .drop("__s", "__r")
  }

  /** Unsigned-byte UTF-8 ordering — the collation Spark's UTF8String AND
    * DuckDB's default BLOB-ish VARCHAR compare both use. Scala's default
    * String ordering compares UTF-16 code units, which diverges from
    * code-point (= UTF-8 byte) order for supplementary-plane characters
    * (e.g. U+FFFD sorts ABOVE U+1F600 in UTF-16 but BELOW it in UTF-8), so
    * any driver-side tie-break that must agree with a relational window's
    * string ordering has to compare bytes, not chars. NULL sorts first,
    * matching Spark's `asc` (NULLS FIRST) default.
    */
  private[graft] val utf8ByteOrder: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = (a, b) match {
      case (null, null) => 0
      case (null, _)    => -1
      case (_, null)    => 1
      case _ =>
        java.util.Arrays.compareUnsigned(
          a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  /** Trained [[temperatureMix]] model: one `(stratum, keepRate)` row per
    * stratum — the bounded scalar state a STATELESS streaming filter
    * serves with (the DSIR-serving pattern: train relationally once, bake
    * the model into the plan as literals). The bottleneck pick tie-breaks
    * in UTF-8 byte order ([[utf8ByteOrder]]) so it matches the relational
    * window (n/u ascending, then stratum in binary collation) for
    * non-ASCII stratum names too; rates are computed driver-side in BigInt
    * — exact at any corpus size, same arithmetic as [[keepRates]].
    */
  def temperatureMixModel(
      df: DataFrame,
      stratumCol: Column
  ): Seq[(String, Long)] = {
    val rows = df
      .groupBy(stratumCol.as("__s"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__u", floor(sqrt(col("__n").cast("double")) * 1000000d).cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    val (_, nb, ub) = rows.min(
      Ordering.Tuple2(Ordering.Double.TotalOrdering, utf8ByteOrder)
        .on[(String, Long, Long)] { case (s, n, u) => (n.toDouble / u.toDouble, s) })
    rows.map { case (s, n, u) =>
      (s, (BigInt(nb) * u * 1000000L / (BigInt(ub) * n)).toLong)
    }
  }

  /** The stateless serving gate of [[temperatureMix]]: TRUE iff the row
    * survives the trained model's keep-rate for its stratum — the same
    * single Long compare as the batch join form, with the (tiny)
    * per-stratum rate table folded into a literal CASE chain instead of a
    * broadcast join. Unknown strata (absent at training) yield NULL →
    * filtered out, the honest answer for a stratum the model has no rate
    * for; a NULL stratum key matches via isNull, mirroring the batch
    * form's null-safe join.
    */
  def temperatureGate(
      idCol: Column,
      stratumCol: Column,
      model: Seq[(String, Long)]
  ): Column = {
    val rCol = model.foldLeft(lit(null).cast("long")) {
      case (acc, (s, r)) =>
        val hit = if (s == null) stratumCol.isNull else stratumCol === lit(s)
        when(hit, lit(r)).otherwise(acc)
    }
    graft.ops.Hashing.md5Mod(idCol.cast("string"), 1000000L) < rCol
  }

  /** Cluster-balanced exact-k sampling over an embedding column: assign
    * every vector to its nearest trained k-means cell (the SAME coarse
    * quantizer the ANN serving path uses — first-min tie rule, integer
    * distances), then keep the k lowest-md5 ids PER CELL. This is the
    * embedding-space twin of [[sampleExactKPerGroup]]: semantic
    * diversity-preserving downsampling (SemDeDup/DSIR-adjacent "cover
    * every region of embedding space" curation) instead of metadata
    * strata.
    *
    * Scale shape: cell assignment is map-only (centroid matrix rides the
    * plan as a literal, nlist×dim longs); the per-cell top-k is one
    * bounded window over the cell key — nlist partitions, k rows kept
    * each. No corpus self-join, no global sort.
    */
  def clusterBalancedSample(
      emb: DataFrame,
      idCol: Column,
      vecCol: Column,
      centroids: Array[Seq[Long]],
      k: Int
  ): DataFrame = {
    require(k > 0, "k must be positive")
    requireWorkCols(emb, "__q", "__d", "__gate")
    import org.apache.spark.sql.expressions.Window
    val cmat = typedLit(centroids.map(_.toSeq).toSeq)
    val assigned = emb
      .select(idCol.as("vec_id"), Similarity.quantize(vecCol).as("__q"))
      .withColumn("__d", Similarity.distancesTo(cmat, col("__q")))
      .withColumn("cell", (array_position(col("__d"), array_min(col("__d"))) - 1).cast("int"))
      .withColumn("__gate", graft.ops.Hashing.md5Mod(col("vec_id").cast("string"), 1000000L))
    val w = Window.partitionBy(col("cell")).orderBy(col("__gate").asc, col("vec_id").asc)
    assigned
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("cell"), col("vec_id"), col("rk"))
  }

  /** Embedding-space outlier audit (the SemDeDup-adjacent "prune the
    * fringe" curation step): assign every vector to its nearest TRAINED
    * k-means cell (the same coarse quantizer the ANN serving path uses —
    * first-min tie rule, exact integer squared-L2 over quantized
    * coordinates), then flag the vectors whose distance to their own
    * centroid exceeds the cell's p-quantile — mislabeled scrapes, OCR
    * garbage, and off-manifold embeddings sit in exactly that tail. The
    * threshold is the type-1 order statistic at rank ⌈p·n⌉ per cell
    * (the [[filterByGroupQuantile]] integer rank rule; value ties at the
    * cut are kept INLIERS — strict `>` flags), so any engine replays the
    * flags bit-exactly.
    *
    * Scale shape: assignment + distance are map-only (the centroid matrix
    * rides the plan as an nlist×dim literal); the quantile needs one
    * bounded per-cell window (nlist partitions, AQE-splittable) and the
    * threshold table broadcast back is one row per cell — model-sized,
    * never data-sized. No corpus self-join, no global sort.
    *
    * @return (cell, vec_id, d2, is_outlier) — every input vector, flagged
    */
  def centroidOutliers(
      emb: DataFrame,
      idCol: Column,
      vecCol: Column,
      centroids: Array[Seq[Long]],
      pNum: Int,
      pDen: Int
  ): DataFrame = {
    require(pNum > 0 && pNum <= pDen, "p = num/den must be in (0, 1]")
    requireWorkCols(emb, "__q", "__d", "__rk", "__n", "__c", "__thr")
    import org.apache.spark.sql.expressions.Window
    val cmat = typedLit(centroids.map(_.toSeq).toSeq)
    // cell = argmin (first-min on a distance tie, matching array_position
    // semantics and the IVF assignment rule); d2 = that min distance
    val ad = emb
      .select(idCol.as("vec_id"), Similarity.quantize(vecCol).as("__q"))
      .withColumn("__d", Similarity.distancesTo(cmat, col("__q")))
      .select(
        col("vec_id"),
        (array_position(col("__d"), array_min(col("__d"))) - 1).cast("int").as("cell"),
        array_min(col("__d")).as("d2"))
    val byCell = Window.partitionBy(col("cell"))
    val thr = ad
      .withColumn("__rk", row_number().over(byCell.orderBy(col("d2").asc)))
      .withColumn("__n", count(lit(1)).over(byCell))
      .filter(col("__rk") === expr(s"cast(($pNum * __n + ${pDen - 1}) div $pDen as bigint)"))
      .select(col("cell").as("__c"), col("d2").as("__thr"))
    // plain (not null-safe) equality: a NULL cell (null embedding) drops,
    // agreeing with the oracle's inner join — the engine-parity rule
    ad.join(broadcast(thr), col("cell") === col("__c"))
      .select(
        col("cell"),
        col("vec_id"),
        col("d2"),
        (col("d2") > col("__thr")).as("is_outlier"))
  }

  /** Corpus-internal duplicated-content fraction: for every document, the
    * share of its distinct word-n-grams that also occur in at least one
    * OTHER document (well, in ≥2 documents — grams are distinct per doc,
    * so document frequency 2 means two different docs). The standard
    * repeated-span diagnostic run before near-dedup to size boilerplate
    * (unlike [[decontaminate]], which compares against an external eval
    * set, this is the corpus against itself).
    *
    * Shape at 100 TB: explode grams once, compute document frequency as a
    * COUNT window over the gram key (one shuffle, no self-join, nothing
    * scanned twice), then re-aggregate per doc (second shuffle). Both
    * shuffles are partial-aggregation-friendly and AQE-skew-splittable;
    * the hot-gram skew case is the window partition on a boilerplate
    * gram, which AQE handles because the window state is one counter.
    */
  def dupSpanFraction(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      n: Int
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // fence: explode of the expensively-built gram array would otherwise
    // re-run the gram build per output element (see PlanOps)
    val e = graft.ops.PlanOps
      .fence(Dedup.shingled(df, idCol, textCol, n))
      .select(col("doc_id"), explode(col("grams")).as("gram"))
    e.withColumn("df", count(lit(1)).over(Window.partitionBy(col("gram"))))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup")
      )
      .select(
        col("doc_id"),
        col("n_grams"),
        col("n_dup"),
        round(col("n_dup").cast("double") / col("n_grams").cast("double"), 6).as("dup_frac")
      )
  }

  /** Overlapping token-window chunking (the RAG / context-window
    * primitive): split each document into windows of `chunkTokens` words
    * starting every `stride` words. One row per (doc, window) with the
    * window's text and token count.
    *
    * Row-local end to end: the offsets are an in-plan integer `sequence`,
    * so chunking is a generator over each row — no shuffle, no state,
    * scales as a pure map stage. The words array is fenced before the
    * offset explode (the [[graft.ops.PlanOps]] Generate trap: an inlined
    * single-consumer split would re-run per emitted chunk).
    */
  def chunkWindows(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      chunkTokens: Int,
      stride: Int
  ): DataFrame = {
    require(chunkTokens > 0 && stride > 0, "chunk size and stride must be positive")
    val staged = graft.ops.PlanOps.fence(
      df.select(
        idCol.as("doc_id"),
        split(trim(textCol), "\\s+").as("words")
      ).withColumn("n_words", size(col("words")))
        .withColumn("offs", sequence(lit(0), greatest(col("n_words") - 1, lit(0)), lit(stride)))
    )
    staged
      .select(
        col("doc_id"),
        col("n_words").cast("long").as("n_words"),
        col("words"),
        posexplode(col("offs")).as(Seq("chunk_idx", "off"))
      )
      .select(
        col("doc_id"),
        col("n_words"),
        col("chunk_idx"),
        col("off"),
        array_join(slice(col("words"), col("off") + 1, lit(chunkTokens)), " ").as("chunk"),
        size(slice(col("words"), col("off") + 1, lit(chunkTokens))).as("n_chunk_tokens")
      )
  }

  /** Sequence packing for training batches: assign documents to packs of
    * ~`budget` tokens by cumulative fill — pack p of a salt group holds the
    * docs whose exclusive running token total lands in
    * [p·budget, (p+1)·budget). A doc straddling a boundary joins the
    * earlier pack (cumulative-fill semantics, the standard distributed
    * approximation of greedy bin packing — greedy's "close the bin early"
    * rule needs a sequential scan).
    *
    * DISTRIBUTED by construction: packing runs per salt group
    * (`id mod salts`), so the window sort shuffles into `salts` independent
    * partitions instead of one global task — packs never cross salt groups,
    * which training doesn't care about (any grouping of ~budget tokens is a
    * valid pack). `budget` must be a power of two so the pack index
    * (floor of an exact binary division) is bit-identical in any engine.
    *
    * @return input columns + n_tokens, cum_tokens (inclusive, within salt),
    *         pack_id (= salt·2⁴⁰ + local pack — the shift leaves 2⁴⁰ local
    *         packs per salt, ≈10¹² · budget tokens, before adjacent salts
    *         could collide; a 10⁶ multiplier demonstrably could at 100 TB),
    *         pack_pos (1-based within pack)
    */
  def packSequences(
      df: DataFrame,
      idCol: Column,
      nTokensCol: Column,
      budget: Int,
      salts: Int
  ): DataFrame = {
    require(budget > 0 && (budget & (budget - 1)) == 0, "budget must be a power of two")
    require(salts > 0 && salts <= (1 << 20), "salts must fit the pack_id high bits")
    import org.apache.spark.sql.expressions.Window
    val bySalt = Window.partitionBy(col("salt")).orderBy(idCol)
    val withCum = df
      .withColumn("salt", pmod(idCol, lit(salts)).cast("long"))
      .withColumn("n_tokens", nTokensCol.cast("long"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(bySalt))
    val byPack = Window.partitionBy(col("salt"), col("pack_local")).orderBy(idCol)
    withCum
      .withColumn(
        "pack_local",
        floor((col("cum_tokens") - col("n_tokens")).cast("double") / budget).cast("long")
      )
      .withColumn("pack_id", shiftleft(col("salt"), 40) + col("pack_local"))
      .withColumn("pack_pos", row_number().over(byPack).cast("long"))
      .drop("salt", "pack_local")
  }

  /** Token-budget selection — "take the best `budget` tokens": greedy
    * selection of documents in (score DESC, id ASC) order until the next
    * document no longer fits, i.e. a doc is selected iff its inclusive
    * running token total in that order is ≤ `budget`. The curation step
    * that turns a scored corpus into a right-sized training mix.
    *
    * NEVER a global sort: `scoreCol` must be an integer GRID (a quantized
    * quality score — e.g. `floor(quality·10⁴)`; cardinality ≤ grid size),
    * and the selection runs in two phases on that grid:
    *   1. one partial-agg'd (score → token-total) histogram, collected as
    *      bounded model state (grid-sized, like the engine's quantile cuts
    *      and DSIR weights) and folded into a per-score verdict: scores
    *      whose prefix fits entirely → ALL, scores past the budget →
    *      NONE, the one straddling score → PARTIAL + residual budget;
    *   2. the verdict broadcast-joins back (map-only for ALL/NONE rows);
    *      only the straddling score class shuffles into a running-sum
    *      window to spend the residual in id order.
    * The one-partition window is bounded by a single grid cell — refine
    * the grid if a cell can hold a data-proportional share of the corpus.
    *
    * @return (id, score, n_tokens, selected) for every input row — the
    *         flag (not a filter) so audits can diff the rejected side
    */
  def tokenBudgetSelect(
      df: DataFrame,
      idCol: Column,
      scoreCol: Column,
      nTokensCol: Column,
      budget: Long
  ): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    val spark = df.sparkSession
    import spark.implicits._
    // the scored base feeds TWO passes (histogram, then the verdict join);
    // spill it once so an expensive upstream score (e.g. the stopword
    // quality scan) is computed once, not per pass
    val base = graft.Memo.planFrame(
      df.select(
        idCol.as("id"),
        scoreCol.cast("long").as("score"),
        nTokensCol.cast("long").as("n_tokens")),
      "token_budget_base")
    // grid-sized histogram: the only driver-side state, same class as
    // quantile cuts (ext/Stats) and DSIR bucket weights
    val hist = base
      .groupBy(col("score"))
      .agg(sum(col("n_tokens")).as("bt"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(-_._1)
    var cumBefore = 0L
    val verdicts = hist.map { case (score, bt) =>
      // NONE only when strictly past the budget: at cumBefore == budget a
      // zero-token doc still "fits" (inclusive cum == budget) under the
      // greedy rule, so that bucket is PARTIAL with residual 0
      val v =
        if (cumBefore + bt <= budget) (score, "all", 0L)
        else if (cumBefore > budget) (score, "none", 0L)
        else (score, "partial", budget - cumBefore)
      cumBefore += bt
      v
    }.toSeq
    val plan = broadcast(verdicts.toDF("score", "mode", "residual"))
    val joined = base.join(plan, Seq("score"))
    val decided = joined
      .filter(col("mode") =!= "partial")
      .withColumn("selected", col("mode") === "all")
    import org.apache.spark.sql.expressions.Window
    val wCut = Window.partitionBy(col("score")).orderBy(col("id"))
    val partial = joined
      .filter(col("mode") === "partial")
      .withColumn("selected", sum(col("n_tokens")).over(wCut) <= col("residual"))
    decided
      .unionByName(partial)
      .select(col("id"), col("score"), col("n_tokens"), col("selected"))
  }

  /** DSIR-style hashed importance weights (Xie et al. 2023,
    * arXiv:2302.03169 — Data Selection with Importance Resampling): one
    * weight per hashed-token bucket, high where the TARGET corpus is
    * denser than the RAW corpus. The paper's weight is the log-ratio of
    * add-one-smoothed hashed-ngram probabilities; this module's
    * engine-reproducibility stance (see [[graft.ext.Ranking]]) replaces
    * transcendental log with an integer-quantized LINEAR ratio:
    *
    *   w(f) = (scale · (ct_f+1) · (R+B)) div ((cr_f+1) · (T+B))
    *
    * — exact BIGINT products and one floor division, bit-identical in any
    * engine (monotone in the paper's per-feature ratio, so bucket
    * ordering is preserved; document scores become sums of integer
    * weights instead of sums of logs — a documented surrogate, not the
    * paper's estimator). `scale` and add-one smoothing must keep
    * scale·(ct+1)·(R+B) inside BIGINT: at larger corpora pre-divide the
    * counts (per-mille bucket probabilities), same formula shape.
    *
    * Both corpus passes are one explode + one B-row aggregation
    * (map-side combine; B buckets, e.g. 256 — the output is model-sized,
    * never data-sized). Tokens are the corpus convention: whitespace
    * split of trimmed text, empties dropped; bucket = md5 first-8-hex
    * mod B ([[graft.ops.Hashing.md5Long]]).
    *
    * @return (bucket, w) — one row per bucket in [0, buckets)
    */
  def dsirBucketWeights(
      raw: DataFrame,
      target: DataFrame,
      textCol: Column,
      buckets: Int = 256,
      scale: Long = 1000000L
  ): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    def bucketCounts(df: DataFrame, name: String): DataFrame =
      tokenBuckets(df.select(textCol.as("__text")), col("__text"), buckets)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as(name))
    val cr = bucketCounts(raw, "cr")
    val ct = bucketCounts(target, "ct")
    // totals: two scalar aggregates broadcast to the B-row frame — the
    // bounded one-row-stat crossJoin shape used by Ranking's idf surrogate
    val totals = broadcast(
      cr.agg(sum(col("cr")).as("r_tot"))
        .crossJoin(ct.agg(sum(col("ct")).as("t_tot"))))
    raw.sparkSession
      .range(buckets)
      .select(col("id").cast("long").as("bucket"))
      .join(cr, Seq("bucket"), "left")
      .join(ct, Seq("bucket"), "left")
      .crossJoin(totals)
      .select(
        col("bucket"),
        expr(
          s"($scale * (coalesce(ct, 0) + 1) * (coalesce(r_tot, 0) + $buckets)) DIV " +
            s"((coalesce(cr, 0) + 1) * (coalesce(t_tot, 0) + $buckets))").as("w")
      )
  }

  /** Importance score per document under [[dsirBucketWeights]]: the sum of
    * its tokens' bucket weights (with multiplicity, the paper's hashed
    * bag-of-ngrams). Exact long sums — order-independent, so the score is
    * reproducible across partitionings and engines. The weight table is
    * B rows, broadcast; the corpus pays one explode + one per-doc
    * aggregation, no data-sized shuffle beyond the doc-key combine.
    * Select with e.g. `orderBy(desc("score"), idCol).limit(k)` — a
    * TakeOrdered, never a global window.
    *
    * @return (id, score) — documents with no tokens are absent
    */
  def dsirScores(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      weights: DataFrame,
      buckets: Int = 256
  ): DataFrame =
    tokenBuckets(df.select(idCol.as("id"), textCol.as("__text")), col("__text"), buckets)
      .join(broadcast(weights), Seq("bucket"))
      .groupBy(col("id"))
      .agg(sum(col("w")).as("score"))

  /** SERVING form of [[dsirScores]]: the trained weight table as a dense
    * literal array (B longs — model state, like the ANN centroid matrix),
    * scored per row with one HOF pass — no explode, no join, NO SHUFFLE.
    * This is the shape a stateless streaming scorer (or a 100 TB batch
    * scan that wants zero movement) uses; exact long arithmetic keeps it
    * bit-identical to the exploded batch form. Tokenless rows score 0
    * here (the relational form drops them) — filter upstream when parity
    * with [[dsirScores]]' row set matters.
    *
    * @param weights dense per-bucket weights, index = bucket id
    */
  def dsirScoreColumn(textCol: Column, weights: Seq[Long]): Column = {
    val wlit = typedLit(weights)
    aggregate(
      transform(
        filter(split(trim(textCol), "\\s+"), t => t =!= ""),
        t =>
          element_at(
            wlit,
            (pmod(graft.ops.Hashing.md5Long(t), lit(weights.size.toLong)) + 1).cast("int"))
      ),
      lit(0L),
      (acc, v) => acc + v
    )
  }

  /** One row per (carried columns, token bucket): whitespace-split the
    * trimmed text, drop empties, hash each token to its bucket. Shared by
    * the weight estimator (corpus side) and the scorer (document side) so
    * the feature definition cannot drift between them.
    */
  private def tokenBuckets(df: DataFrame, textCol: Column, buckets: Int): DataFrame =
    df.select(
        df.columns.filter(_ != "__text").map(col).toSeq :+
          explode(filter(split(trim(textCol), "\\s+"), t => t =!= "")).as("__tok"): _*)
      .withColumn("bucket", pmod(graft.ops.Hashing.md5Long(col("__tok")), lit(buckets.toLong)))
      .drop("__tok", "__text")
  }
