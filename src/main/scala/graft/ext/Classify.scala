package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** In-engine supervised text classification — the trainable half of the
  * quality/curation toolchain. A fasttext-style external classifier is the
  * common way corpora get quality/language labels, but a multinomial Naive
  * Bayes is the one classifier whose TRAINING is pure counting — two
  * map-side-combinable aggregates — so both halves (fit and serve) stay
  * inside the engine, deterministic, and SQL-oracle-replayable. That makes
  * the label assignment itself an auditable query instead of an opaque
  * model artifact.
  *
  * Determinism discipline (the [[TextStats.lmScoreDF]] millinat contract):
  * every log-probability term quantizes to an integer millinat
  * (`round(1000·ln r)`) BEFORE any sum, so scores are exact integer sums —
  * merge-order-free and engine-replayable; argmax ties break on the class
  * name, so the prediction is a pure function of the counts.
  *
  * Scale shape (what makes this runnable over 100 TB):
  *   - the model is state-BOUNDED by construction: `vocabK` tokens ×
  *     |classes| likelihood rows plus |classes| priors — broadcast is the
  *     doctrinally correct plan for every serving join (model state, not
  *     data grain);
  *   - training is two partial-agg count pyramids over the (doc, token)
  *     collapse; the collapse itself is shared between the vocabulary
  *     pass, the count pass, and the scoring pass through the content-
  *     keyed parquet spill (the lm-score discipline), so tokenize+explode
  *     runs exactly once per corpus;
  *   - serving is a broadcast hash join plus one (doc, class) aggregate —
  *     no shuffle keyed on anything wider than doc_id, and the per-doc
  *     argmax window partitions on doc_id with |classes| rows per key.
  */
object Classify {

  private def tokens(textCol: Column): Column =
    split(trim(coalesce(textCol, lit(""))), "\\s+")

  /** Multinomial-NB train-and-serve audit: fit add-one-smoothed token
    * likelihoods on the md5-gated train permille, score the held-out rest,
    * and return the confusion matrix `(label, predicted, n_docs)` — the
    * end-to-end check a label-assignment pipeline publishes before anyone
    * trusts the labels.
    *
    * Semantics: P(c|d) ∝ ln P(c) + Σ_t m_t · ln((c_{t,c}+1)/(T_c+V)) over
    * the `vocabK`-token vocabulary (top train-count, tiebreak token asc);
    * out-of-vocabulary tokens are ignored (the standard restriction — they
    * carry no trained signal), and a test doc with no vocab tokens falls
    * back to the prior argmax. All ln terms are millinat-quantized
    * integers; the argmax tiebreak is class-name ascending.
    *
    * @param trainPermille md5(doc_id) permille below which a doc trains
    * @param vocabK        vocabulary cap — the model-state bound
    * @param corpusKey     identifies the input corpus + gate for the spill
    */
  def nbConfusion(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      labelCol: Column,
      trainPermille: Int,
      vocabK: Int,
      corpusKey: String): DataFrame = {
    val f = nbFrames(df, idCol, textCol, labelCol, trainPermille, vocabK, corpusKey)
    val terms = f.perDocTok
      .filter(!col("is_train"))
      .join(broadcast(f.ll), Seq("tok"))
      .groupBy(col("doc_id"), col("cls"))
      .agg(sum(col("m") * col("ll")).as("s"))
    // score every held-out doc × class off the base scan so token-free docs
    // still rank (on priors alone); the argmax window holds |classes| rows
    // per doc_id key
    val scored = f.base
      .filter(!col("is_train"))
      .select(col("doc_id"), col("label"))
      .crossJoin(broadcast(f.prior))
      .join(terms, Seq("doc_id", "cls"), "left")
      .select(
        col("doc_id"), col("label"), col("cls"),
        (col("pr") + coalesce(col("s"), lit(0L))).as("score"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("cls").asc)
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .groupBy(col("label"), col("cls").as("predicted"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** The fitted model as driver-side state: class-asc priors plus the
    * per-class token→millinat-ll map — `vocabK × |classes|` entries, the
    * bounded model-state collect the broadcast doctrine whitelists. This
    * is the handoff from relational training to stateless serving
    * ([[nbServe]]); both derive from the SAME [[nbFrames]] plan, so the
    * served scores are integer-identical to [[nbConfusion]]'s.
    */
  final case class NbModel(priors: Seq[(String, Long)], ll: Map[String, Map[String, Long]])

  def nbFit(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      labelCol: Column,
      trainPermille: Int,
      vocabK: Int,
      corpusKey: String): NbModel = {
    val f = nbFrames(df, idCol, textCol, labelCol, trainPermille, vocabK, corpusKey)
    val priors = f.prior
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)
      .toSeq
    val ll = f.ll
      .collect()
      .map(r => (r.getString(1), r.getString(0), r.getLong(2)))
      .groupBy(_._1)
      .map { case (cls, rows) => cls -> rows.map(r => r._2 -> r._3).toMap }
    NbModel(priors, ll)
  }

  /** Stateless serving column: the per-row prediction with the model baked
    * in as literals — the DSIR/mixing serving discipline (map-only, no
    * join, no state store), which is what lets the SAME classifier run
    * unchanged inside an append-mode stream. Score algebra and tiebreak
    * mirror [[nbConfusion]] exactly: integer millinat sums over in-vocab
    * tokens (multiplicity via the token array), prior fallback for
    * token-free rows, argmax ties to the class-name-ascending class.
    */
  def nbServe(textCol: Column, model: NbModel): Column = {
    require(model.priors.nonEmpty, "model must have at least one trained class")
    val toks = filter(tokens(textCol), t => length(t) > 0)
    val clsAsc = model.priors.map(_._1)
    val n = clsAsc.size
    // per-class integer score; element_at misses (OOV) contribute 0
    val scores = model.priors.map { case (cls, pr) =>
      val m = typedLit(model.ll.getOrElse(cls, Map.empty[String, Long]))
      aggregate(toks, lit(pr), (acc, t) => acc + coalesce(element_at(m, t), lit(0L)))
    }
    // argmax with class-ASC tiebreak: structs order by (score, revRank)
    // and revRank decreases with class rank, so equal scores pick the
    // lexicographically smallest class — same as the batch window
    val packed = scores.zipWithIndex.map { case (s, i) =>
      struct(s.as("s"), lit((n - 1 - i).toLong).as("r"))
    }
    val best = array_max(array(packed: _*))
    clsAsc.zipWithIndex.tail.foldLeft(lit(clsAsc.head)) { case (acc, (cls, i)) =>
      when(best.getField("r") === (n - 1 - i).toLong, cls).otherwise(acc)
    }
  }

  private final case class NbFrames(base: DataFrame, perDocTok: DataFrame, ll: DataFrame, prior: DataFrame)

  /** The shared training plan: md5-gated base scan, the one tokenize+
    * explode+collapse (content-key-spilled), and the model-state frames —
    * `ll (tok, cls, ll)` dense over vocab × classes and `prior (cls, pr)`.
    */
  private def nbFrames(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      labelCol: Column,
      trainPermille: Int,
      vocabK: Int,
      corpusKey: String): NbFrames = {
    require(trainPermille > 0 && trainPermille < 1000, "train gate must split both ways")
    require(vocabK > 0, "vocabK must be positive")
    require(corpusKey.nonEmpty, "corpusKey must identify the input corpus")
    val base = df.select(
      idCol.as("doc_id"),
      labelCol.as("label"),
      (graft.ops.Hashing.md5Mod(idCol.cast("string"), 1000L) < trainPermille).as("is_train"),
      tokens(textCol).as("w"))
    // ONE tokenize+explode+collapse per corpus, shared by the vocabulary,
    // count, and scoring passes through the content-keyed spill. The fence
    // keeps the Generate from re-evaluating the split per output element.
    val perDocTok = graft.Memo.frame("nb_doctok", Some(s"$corpusKey|gate=$trainPermille"), df.sparkSession)(
      graft.ops.PlanOps
        .fence(base.select(col("doc_id"), col("label"), col("is_train"), explode(col("w")).as("tok")))
        .filter(length(col("tok")) > 0)
        .groupBy(col("doc_id"), col("label"), col("is_train"), col("tok"))
        .agg(count(lit(1)).as("m")))
    val train = perDocTok.filter(col("is_train"))
    // model state from here down: vocabK rows, then vocabK × |classes|
    val vocab = train
      .groupBy(col("tok")).agg(sum(col("m")).as("c"))
      .orderBy(col("c").desc, col("tok").asc)
      .limit(vocabK)
      .select(col("tok"))
    // priors count DOCS (incl. token-free ones), so they come off the base
    // scan, not the token collapse
    val classes = base.filter(col("is_train")).groupBy(col("label").as("cls")).agg(count(lit(1)).as("n_docs"))
    val nTrain = classes.agg(sum(col("n_docs")).as("n"))
    val vSize = vocab.agg(count(lit(1)).as("v"))
    val cnt = train
      .join(broadcast(vocab), Seq("tok"))
      .groupBy(col("label").as("cls"), col("tok"))
      .agg(sum(col("m")).as("c"))
    val tot = cnt.groupBy(col("cls")).agg(sum(col("c")).as("t"))
    // dense (tok, cls) grid: unseen-in-class vocab tokens still get their
    // smoothed ln(1/(T_c+V)) row — all frames here are model-state-sized,
    // so the joins are trivially local however AQE plans them
    val ll = vocab
      .crossJoin(classes.select(col("cls")))
      .join(cnt, Seq("tok", "cls"), "left")
      .join(tot, Seq("cls"))
      .crossJoin(vSize)
      .select(
        col("tok"),
        col("cls"),
        round(
          lit(1000.0) * log(
            (coalesce(col("c"), lit(0L)) + lit(1L)).cast("double") /
              (col("t") + col("v")).cast("double")),
          0).cast("long").as("ll"))
    val prior = classes
      .crossJoin(nTrain)
      .select(
        col("cls"),
        round(lit(1000.0) * log(col("n_docs").cast("double") / col("n").cast("double")), 0)
          .cast("long").as("pr"))
    NbFrames(base, perDocTok, ll, prior)
  }

  /** Class-based TF-IDF distinctive-term extraction (the BERTopic c-TF-IDF
    * idea): for each class/cluster, the tokens whose in-class frequency is
    * high relative to how many classes carry them — the human-readable
    * label a corpus-cartography report attaches to each subcorpus.
    *
    * Score = round(10⁶ · (c_{t,cls}/T_cls) · ln((C+1)/df_t)) where df_t =
    * number of classes containing t and C = number of classes — the one
    * transcendental rides the micro-integer grid, and per-class ranking
    * breaks ties on the token, so the top-k is count-deterministic.
    *
    * Scale shape: the candidate space is capped FIRST — only the `vocabK`
    * globally-most-frequent tokens compete — so every frame after the one
    * (cls, tok) count pyramid is model-state-sized and the joins broadcast
    * by doctrine, not by luck. Output is |classes| × topK rows.
    */
  def ctfidfTerms(
      df: DataFrame,
      classCol: Column,
      textCol: Column,
      vocabK: Int,
      topK: Int): DataFrame = {
    require(vocabK > 0 && topK > 0, "vocabK and topK must be positive")
    val tok = graft.ops.PlanOps
      .fence(df.select(classCol.as("cls"), explode(tokens(textCol)).as("tok")))
      .filter(length(col("tok")) > 0)
    val ctc = tok.groupBy(col("cls"), col("tok")).agg(count(lit(1)).as("c"))
    val vocab = ctc
      .groupBy(col("tok")).agg(sum(col("c")).as("g"))
      .orderBy(col("g").desc, col("tok").asc)
      .limit(vocabK)
      .select(col("tok"))
    val inVocab = ctc.join(broadcast(vocab), Seq("tok"))
    val tcls = ctc.groupBy(col("cls")).agg(sum(col("c")).as("t")) // totals over ALL tokens
    val dfc = inVocab.groupBy(col("tok")).agg(count(lit(1)).as("cf"))
    val ncls = tcls.agg(count(lit(1)).as("nc"))
    // Exactness: the ONLY transcendental is quantized to an integer grid
    // on its own — idf_milli = round(1000·ln((nc+1)/cf)) — before being
    // combined (the nbFrames millinat discipline). Composing 1e6·(c/t)·ln
    // in one double rounding instead would let a 1-ulp JVM-vs-DuckDB ln
    // difference flip score_micro (hence top-k rank) on a .5 boundary;
    // here everything after the idf grid is integer: c·idf_milli·1000 is
    // an exact long (c ≤ corpus tokens ~1e9, idf_milli ≤ ~10⁴ → < 2⁶³),
    // and `div t` is integral division in both engines. idf > 0 always
    // (cf ≤ nc < nc+1), so half-up vs floor-div sign quirks never bite.
    val scored = inVocab
      .join(tcls, Seq("cls"))
      .join(broadcast(dfc), Seq("tok"))
      .crossJoin(ncls)
      .select(
        col("cls"), col("tok"),
        round(lit(1000.0) * log((col("nc") + lit(1L)).cast("double") / col("cf").cast("double")), 0)
          .cast("long").as("idf_milli"),
        col("c"), col("t"))
      .select(
        col("cls"), col("tok"),
        expr("c * idf_milli * 1000 div t").as("score_micro"))
    val w = Window.partitionBy(col("cls")).orderBy(col("score_micro").desc, col("tok").asc)
    scored
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= topK)
      .select(col("cls"), col("rk"), col("tok"), col("score_micro"))
  }
}
