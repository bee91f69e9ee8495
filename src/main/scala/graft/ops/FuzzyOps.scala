package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Fuzzy (edit-distance) record linkage — the approximate-match join the
  * reference's address-dedupe chain gestures at (smartfile canon +
  * 7-key anti-dedupe catch exact variants; this family catches typos).
  *
  * Shape: pigeonhole SEGMENT BLOCKING + exact `levenshtein` verify —
  * the PassJoin/Ed-Join family's candidate generator re-expressed as an
  * ordinary Spark equi-join. Each string splits into `maxDist + 1`
  * contiguous segments at integer-division boundaries (the same
  * engine-replayable boundary formula the audio envelope frames use);
  * candidates are pairs agreeing on at least one (segment index,
  * segment value); every candidate is verified with the full edit
  * distance.
  *
  * Recall guarantee (pigeonhole): two EQUAL-LENGTH strings within
  * substitution distance ≤ maxDist differ in ≤ maxDist positions, so at
  * least one of the maxDist+1 segments is untouched on both sides and
  * they collide on it. UNEQUAL lengths segment on different grids and
  * collide only coincidentally — length-changing edits are largely
  * MISSED (spec-pinned). This targets substitution-dominant domains
  * (typos in fixed-format keys: PINs, normalized addresses, hashes);
  * for indel-heavy matching, block on q-gram sets instead.
  *
  * Scale shape — the text-LSH pair plan in edit-distance space:
  * segments explode map-side (maxDist+1 rows per record), ONE shuffle
  * clusters each block, the self-join's two sides reuse that exchange,
  * and a `maxBlock` cap quarantines degenerate blocks (constant
  * prefixes) exactly like the MinHash-LSH `maxBucket` cap — candidate
  * count is Σ block², never |corpus|². The verify is per-candidate
  * `levenshtein` (codegen'd built-in), and `distinct` on the id pair
  * dedupes multi-segment agreement before verification so each pair is
  * verified once.
  */
object FuzzyOps {

  /** (id, segment index, segment value, full string) — one row per
    * segment of every record; blocks are (seg_i, seg) groups.
    */
  private def segmented(df: DataFrame, idCol: Column, strCol: Column, nseg: Int): DataFrame =
    df.select(idCol.as("id"), strCol.as("s"))
      .withColumn("seg_i", explode(array((0 until nseg).map(lit): _*)))
      // seg i of length-L string = substr [i·L div n, (i+1)·L div n) —
      // exact integer boundaries both engines replay token-for-token
      .withColumn(
        "seg",
        expr(s"substring(s, (seg_i * length(s)) div $nseg + 1," +
          s" ((seg_i + 1) * length(s)) div $nseg - (seg_i * length(s)) div $nseg)"))

  /** Self-join near-match pairs: (id_lo, id_hi, dist) for every pair of
    * records with `levenshtein ≤ maxDist` that shares at least one
    * segment block of size ≤ `maxBlock`.
    */
  /** @param contentKey when set, the verified pair frame lands in the
    *                    content-keyed parquet spill
    *                    ([[graft.Memo.frame]]): the caller asserts
    *                    the key identifies the input data and blocking
    *                    params. The fixture corpus feeds THREE declared
    *                    queries with one (input, maxDist, maxBlock) triple
    *                    (fuzzy_name_pairs, er_blocking_quality,
    *                    er_entities), so the segment join + levenshtein
    *                    verify runs once per corpus instead of thrice —
    *                    the multi-consumer spill discipline
    *                    (dedup_clusters precedent).
    */
  def editBlockedPairs(
      df: DataFrame,
      idCol: Column,
      strCol: Column,
      maxDist: Int,
      maxBlock: Int,
      contentKey: Option[String] = None
  ): DataFrame = {
    require(maxDist >= 1, "maxDist must be at least 1")
    require(maxBlock > 1, "maxBlock must allow at least a pair")
    val segs = segmented(df, idCol, strCol, maxDist + 1)
    val sized = segs.join(
      segs.groupBy(col("seg_i"), col("seg")).agg(count(lit(1)).as("__bn")),
      Seq("seg_i", "seg"))
      .filter(col("__bn") <= maxBlock)
    val lo = sized.select(col("seg_i"), col("seg"), col("id").as("id_lo"), col("s").as("s_lo"))
    val hi = sized.select(col("seg_i"), col("seg"), col("id").as("id_hi"), col("s").as("s_hi"))
    val pairs = lo.join(hi, Seq("seg_i", "seg"))
      .filter(col("id_lo") < col("id_hi"))
      .select(col("id_lo"), col("id_hi"), col("s_lo"), col("s_hi"))
      .distinct()
      .withColumn("dist", levenshtein(col("s_lo"), col("s_hi")))
      .filter(col("dist") <= maxDist)
      .select(col("id_lo"), col("id_hi"), col("dist"))
    graft.Memo.frame("edit_pairs", contentKey.map(key => s"$key|d=$maxDist|b=$maxBlock"), df.sparkSession)(
      pairs)
  }

  /** The quarantine report: blocks larger than `maxBlock` (with sizes),
    * i.e. where [[editBlockedPairs]] recall was traded away — the same
    * honesty contract as the LSH `oversizedBuckets` report.
    */
  def oversizedBlocks(
      df: DataFrame,
      idCol: Column,
      strCol: Column,
      maxDist: Int,
      maxBlock: Int
  ): DataFrame =
    segmented(df, idCol, strCol, maxDist + 1)
      .groupBy(col("seg_i"), col("seg"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBlock)

  /** Blocking-quality audit — MEASURED pair completeness of
    * [[editBlockedPairs]] instead of the assumed pigeonhole guarantee
    * (which holds for substitutions and is spec-documented to miss
    * length-changing edits): exact all-pairs truth is computed on a
    * DETERMINISTIC md5-gated eval stratum and compared against the pairs
    * blocking found there. One summary row:
    * `(n_records, n_stratum, n_true_stratum, n_blocked_stratum,
    * completeness_ppm)` — completeness is an exact integer ppm, NULL when
    * the stratum holds no true pairs (no honest rate from 0/0).
    *
    * The stratum all-pairs join is BOUNDED EVAL STATE, not a data
    * cartesian: the caller scales `strataMod` with corpus size so the
    * stratum stays ~constant (the fixed-eval-set discipline every
    * recall@k audit in this engine follows — at 1000× the data you raise
    * the mod 1000×, truth cost is unchanged). Blocked pairs restrict to
    * the stratum with two semi-joins; they are a subset of truth by the
    * verify step, so completeness ≤ 10⁶ by construction.
    */
  def blockingQuality(
      df: DataFrame,
      idCol: Column,
      strCol: Column,
      maxDist: Int,
      maxBlock: Int,
      strataMod: Long,
      contentKey: Option[String] = None
  ): DataFrame = {
    require(strataMod >= 1, "strataMod must be >= 1")
    val names = df.select(idCol.as("id"), strCol.as("s"))
    val inStratum = Hashing.md5Mod(col("id").cast("string"), strataMod) === 0
    val stratum = names.filter(inStratum)
    val truth = stratum
      .select(col("id").as("id_lo"), col("s").as("s_lo"))
      .crossJoin(stratum.select(col("id").as("id_hi"), col("s").as("s_hi")))
      .filter(col("id_lo") < col("id_hi"))
      .filter(levenshtein(col("s_lo"), col("s_hi")) <= maxDist)
    val blockedStratum = editBlockedPairs(names, col("id"), col("s"), maxDist, maxBlock, contentKey)
      .join(stratum.select(col("id").as("id_lo")), Seq("id_lo"), "left_semi")
      .join(stratum.select(col("id").as("id_hi")), Seq("id_hi"), "left_semi")
    names
      .agg(
        count(lit(1)).as("n_records"),
        sum(when(inStratum, 1L).otherwise(0L)).as("n_stratum"))
      .crossJoin(truth.agg(count(lit(1)).as("n_true_stratum")))
      .crossJoin(blockedStratum.agg(count(lit(1)).as("n_blocked_stratum")))
      .withColumn(
        "completeness_ppm",
        when(col("n_true_stratum") > 0,
          expr("n_blocked_stratum * 1000000 div n_true_stratum")).cast("long"))
  }
}
