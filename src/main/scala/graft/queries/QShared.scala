package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ext.{Curation, Dedup, Multimodal, Ranking, Similarity, Sketches, Stats, TextStats}
import graft.ops.{TemporalOps, ZOrderOps}
import graft.streaming.Sessionize

/** Fixture/table helpers shared by every query family file (split out of
  * Extensions.scala — one definition so the families cannot drift).
  */
private[queries] object QShared {

  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Fixtures.t(s, dir, name) // schema-asserted: drift fails with a named diff

  /** Fixture parquet is one file with ONE row group — a scan is a single
    * partition. Queries whose first stage does heavy per-row work (shingle
    * + k×md5 signatures, per-row m² counting, the string-heavy permit
    * chain) repartition first so the full core count works; at production
    * scale the input arrives already split and the ~MB shuffle is noise
    * next to the map stage.
    */
  private[queries] def par(s: SparkSession, df: DataFrame): DataFrame =
    df.repartition(s.conf.get("spark.sql.shuffle.partitions", "32").toInt)

  /** [[par]] over one fixture table. */
  private[queries] def tPar(s: SparkSession, dir: String, name: String): DataFrame =
    par(s, t(s, dir, name))

  /** The module-wide quantization (see [[Similarity.quantize]]) — one
    * definition so the oracles cannot drift from the engine.
    */
  private[queries] def qz(v: Column): Column = Similarity.quantize(v)

  /** Frame-grain dHash fingerprints keyed `asset·8 + frame` — the Hamming
    * index family's input, the SAME grain QMultimodal's frame queries use
    * (one definition for the maintenance fleet fixtures and the
    * frame-index CDC stream; the formula-level replay lives in the shared
    * frame CTE the oracles compose). Plan-keyed disk spill: every fixture
    * shares one GIF-decode+dHash pass per sf.
    */
  private[queries] def frameHashes(s: SparkSession, dir: String): DataFrame =
    graft.Memo.planFrame(
      Multimodal
        .dHashFrames(
          Multimodal.synthGifAnimations(tPar(s, dir, "documents"), "doc_id"), everyNth = 1)
        .toDF()
        .withColumn("frame_key", col("asset_id") * 8 + col("frame_idx")),
      "mnt_frame_hashes")

  /** Synthetic fuzzy-name fixture shared by the matcher and the ER
    * composition: groups of 5 docs derive one canonical 9-char name, four
    * of them perturbed by one substitution at an id-dependent position.
    */
  private[queries] def fuzzyNames(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id").as("id"),
      expr(
        """CASE WHEN doc_id % 5 = 0 THEN substring(md5(cast(doc_id div 5 as string)), 1, 9)
           ELSE concat(
             substring(substring(md5(cast(doc_id div 5 as string)), 1, 9), 1, cast(doc_id % 9 as int)),
             char(85 + doc_id % 6),
             substring(substring(md5(cast(doc_id div 5 as string)), 1, 9), cast(doc_id % 9 as int) + 2))
           END""").as("s"))

  private[queries] def ldot(a: Column, b: Column): Column =
    call_function("graft_dotl", a, b)
}
