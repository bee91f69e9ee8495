package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.PlanOps.freeCheckpoint

/** Text-analysis operators for training-data curation (north-star
  * extensions, SURVEY.md §7.5) — generalizes the reference's keyword tagger
  * (chicago/permit_cleaning.py:810-816) into language-ID, quality scoring,
  * token counting and content fingerprinting. All per-row column algebra:
  * map-side only, no shuffle, linear in corpus size.
  */
object TextStats {

  /** Tiny per-language stopword lexicons for the n-gram/stopword-hit
    * language heuristic. Deterministic and oracle-expressible; a real
    * deployment would swap in larger lexicons (same plan shape).
    */
  val StopwordLexicons: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of ", " a "),
    "es" -> Seq(" el ", " la ", " de ", " y "),
    "fr" -> Seq(" le ", " la ", " et ", " de "),
    "de" -> Seq(" der ", " und ", " die ", " das ")
  )

  /** Space-padded lowered text — the shared input every occurrence count
    * probes. Stage it as a real attribute column (see the staged *DF forms
    * below) so CollapseProject cannot re-inline the lower+concat per term.
    */
  def padded(textCol: Column): Column =
    concat(lit(" "), lower(coalesce(textCol, lit(""))), lit(" "))

  private def occIn(p: Column, term: String): Column =
    ((length(p) - length(replace(p, lit(term), lit("")))) / term.length).cast("long")

  private def occurrences(textCol: Column, term: String): Column =
    occIn(padded(textCol), term)

  /** Stopword-hit score for one language's lexicon. */
  def langScore(textCol: Column, lexicon: Seq[String]): Column =
    lexicon.map(occurrences(textCol, _)).reduce(_ + _)

  /** Stopword-hit score over a pre-staged padded attribute. */
  def langScoreFrom(paddedCol: Column, lexicon: Seq[String]): Column =
    lexicon.map(occIn(paddedCol, _)).reduce(_ + _)

  /** Predicted language = argmax of per-language stopword hits; ties and
    * zero-hit rows fall back to "und" (undetermined). Priority on ties is
    * lexicon order (deterministic). Convenience single-Column form — the
    * argmax references each score 3× so inlining re-runs the replace chains;
    * [[langIdDF]] is the scale path.
    */
  def langId(textCol: Column): Column = {
    val scores = StopwordLexicons.map { case (lang, lex) => (lang, langScore(textCol, lex)) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Character-trigram profiles for the n-gram language heuristic — the
    * highest-frequency trigrams (with word-boundary spaces) per language.
    * Deterministic, oracle-expressible with the same occurrence counting as
    * the stopword lexicons; real deployments load bigger profiles, same
    * plan shape.
    */
  val TrigramProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", " th", "he ", "and", " an", "ing", "ng "),
    "es" -> Seq(" de", "de ", "la ", " la", "os ", "ión", "es "),
    "fr" -> Seq(" le", "le ", " de", "es ", "ent", "eur", "que"),
    "de" -> Seq("er ", "der", "ein", "ich", "sch", "und", "en ")
  )

  /** Staged char-n-gram language ID: same argmax shape as [[langIdDF]] but
    * scoring trigram-profile hits instead of stopwords.
    */
  def langIdNgramDF(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val scored = df
      .select(idCol.as("doc_id"), padded(textCol).as("__p"))
      .select(
        col("doc_id") +:
          TrigramProfiles.map { case (lang, grams) => langScoreFrom(col("__p"), grams).as(s"s_$lang") }: _*
      )
      .withColumn("best", greatest(TrigramProfiles.map(l => col(s"s_${l._1}")): _*))
    val pred = TrigramProfiles.foldRight(lit("und"): Column) { case ((lang, _), acc) =>
      when(col(s"s_$lang") === col("best") && col("best") > 0, lit(lang)).otherwise(acc)
    }
    scored.select(col("doc_id"), pred.as("lang_pred"))
  }

  /** Staged langId: padded text and per-language scores each materialize as
    * attributes, so every replace chain runs exactly once per row.
    */
  def langIdDF(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val scored = df
      .select(idCol.as("doc_id"), padded(textCol).as("__p"))
      .select(
        col("doc_id") +:
          StopwordLexicons.map { case (lang, lex) => langScoreFrom(col("__p"), lex).as(s"s_$lang") }: _*
      )
      .withColumn("best", greatest(StopwordLexicons.map(l => col(s"s_${l._1}")): _*))
    val pred = StopwordLexicons.foldRight(lit("und"): Column) { case ((lang, _), acc) =>
      when(col(s"s_$lang") === col("best") && col("best") > 0, lit(lang)).otherwise(acc)
    }
    scored.select(col("doc_id"), pred.as("lang_pred"))
  }

  /** Staged quality score: (doc_id, n_tokens, score) with the padded text
    * and intermediate metrics evaluated once each.
    */
  def qualityDF(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    df.select(idCol.as("doc_id"), coalesce(textCol, lit("")).as("__t"), padded(textCol).as("__p"))
      .select(
        col("doc_id"),
        length(col("__t")).cast("double").as("__nchars"),
        tokenCount(col("__t")).as("n_tokens"),
        langScoreFrom(col("__p"), StopwordLexicons.flatMap(_._2)).cast("double").as("__stop"),
        (length(col("__t")) - length(regexp_replace(col("__t"), "[.,;:!?]", "")))
          .cast("double").as("__punct")
      )
      .select(
        col("doc_id"),
        col("n_tokens"),
        round(
          when(col("__nchars") >= 50 && col("__nchars") <= 5000, lit(1.0)).otherwise(lit(0.0)) * 0.4 +
            least(
              when(col("n_tokens") > 0, col("__stop") / col("n_tokens").cast("double")).otherwise(lit(0.0)) * 2.0,
              lit(1.0)
            ) * 0.4 +
            when(
              when(col("__nchars") > 0, col("__punct") / col("__nchars")).otherwise(lit(0.0)) <= 0.1,
              lit(0.2)
            ).otherwise(lit(0.0)),
          4
        ).as("score")
      )

  /** Per-language stopword scores through the native `graft_occ_counts`
    * expression (requires [[graft.GraftExtensions]] on the session — every
    * graft entry point registers it). One allocation-free pass over the
    * padded text replaces the 16 `replace`-and-measure string copies per
    * row; counting semantics are identical to [[langScoreFrom]] (both count
    * non-overlapping left-to-right matches), so oracles are unchanged.
    */
  def langScoresNativeDF(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val terms = StopwordLexicons.flatMap(_._2)
    val staged = df.select(
      idCol.as("doc_id"),
      call_function("graft_occ_counts", padded(textCol), array(terms.map(lit): _*)).as("__occ")
    )
    val offsets = StopwordLexicons.map(_._2.length).scanLeft(0)(_ + _)
    staged.select(
      col("doc_id") +:
        StopwordLexicons.zipWithIndex.map { case ((lang, lex), li) =>
          lex.indices
            .map(j => element_at(col("__occ"), offsets(li) + j + 1))
            .reduce(_ + _)
            .as(s"s_$lang")
        }: _*
    )
  }

  /** Staged corpus profile: (doc_id, lang, score, n_tokens) — the composed
    * quality-gate inputs in ONE staged chain. Same formulas as
    * [[langIdDF]] + [[qualityDF]] (identical values), but padded text,
    * per-language scores, and the quality metrics each materialize exactly
    * once per row; the convenience single-Column forms re-run the replace
    * chains per reference once CollapseProject inlines them (measured
    * 3.9s → map-speed at sf0.1 for the corpus_filter query).
    *
    * The lexicon scores come from the native `graft_occ_counts` expression
    * ([[graft.GraftExtensions]] required — every graft entry point
    * registers it): a pushed-down filter predicate duplicating the score
    * tree (the optimizer substitutes projections into the predicate)
    * duplicates one allocation-free byte scan instead of 16
    * replace-and-measure copies.
    */
  def profileNativeDF(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val terms = StopwordLexicons.flatMap(_._2)
    val offsets = StopwordLexicons.map(_._2.length).scanLeft(0)(_ + _)
    profileTail(profileStage(df, idCol, textCol) { p =>
      val occ = call_function("graft_occ_counts", p, array(terms.map(lit): _*))
      // one staged array column, then per-language slice sums
      Seq(occ.as("__occ"))
    }.select(
      col("*") +:
        StopwordLexicons.zipWithIndex.map { case ((lang, lex), li) =>
          lex.indices
            .map(j => element_at(col("__occ"), offsets(li) + j + 1))
            .reduce(_ + _)
            .as(s"s_$lang")
        }: _*
    ))
  }

  /** Shared first stage: quality metrics + whatever score columns
    * `scores(paddedCol)` contributes, each materialized once per row.
    */
  private def profileStage(df: DataFrame, idCol: Column, textCol: Column)(
      scores: Column => Seq[Column]
  ): DataFrame =
    df.select(idCol.as("doc_id"), coalesce(textCol, lit("")).as("__t"), padded(textCol).as("__p"))
      .select(
        Seq(
          col("doc_id"),
          length(col("__t")).cast("double").as("__nchars"),
          tokenCount(col("__t")).as("n_tokens"),
          (length(col("__t")) - length(regexp_replace(col("__t"), "[.,;:!?]", "")))
            .cast("double").as("__punct")
        ) ++ scores(col("__p")): _*
      )

  /** Shared profile tail over a staged frame carrying `s_<lang>` scores and
    * the quality metrics: argmax language + composite score.
    */
  private def profileTail(stagedScores: DataFrame): DataFrame = {
    val staged = stagedScores
      .withColumn("best", greatest(StopwordLexicons.map(l => col(s"s_${l._1}")): _*))
    val pred = StopwordLexicons.foldRight(lit("und"): Column) { case ((lang, _), acc) =>
      when(col(s"s_$lang") === col("best") && col("best") > 0, lit(lang)).otherwise(acc)
    }
    // stopword total = sum of the already-staged per-language scores (the
    // per-language sums partition the flat lexicon, duplicates included, so
    // the sum over languages IS the flat-lexicon score qualityScore computes)
    val stopTotal = StopwordLexicons.map(l => col(s"s_${l._1}")).reduce(_ + _).cast("double")
    staged.select(
      col("doc_id"),
      pred.as("lang"),
      round(
        when(col("__nchars") >= 50 && col("__nchars") <= 5000, lit(1.0)).otherwise(lit(0.0)) * 0.4 +
          least(
            when(col("n_tokens") > 0, stopTotal / col("n_tokens").cast("double")).otherwise(lit(0.0)) * 2.0,
            lit(1.0)
          ) * 0.4 +
          when(
            when(col("__nchars") > 0, col("__punct") / col("__nchars")).otherwise(lit(0.0)) <= 0.1,
            lit(0.2)
          ).otherwise(lit(0.0)),
        4
      ).as("score"),
      col("n_tokens")
    )
  }

  /** Whitespace token count (0 for blank/null). */
  def tokenCount(textCol: Column): Column =
    when(length(trim(coalesce(textCol, lit("")))) === 0, lit(0))
      .otherwise(size(split(trim(textCol), "\\s+")))
      .cast("long")

  /** BPE-ish subword count: word-piece regex split — letters runs, digit
    * runs, and single punctuation each count as one token (a cheap,
    * deterministic proxy for byte-pair tokenizer counts).
    */
  def subwordCount(textCol: Column): Column =
    size(
      regexp_extract_all(
        coalesce(textCol, lit("")),
        lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"),
        lit(0)
      )
    ).cast("long")

  /** Quality heuristics: character length, token count, mean token length,
    * punctuation count, stopword ratio — combined into a [0,1] score.
    * Pure integer/decimal arithmetic until the final rounded ratio, so the
    * value is oracle-exact.
    */
  def qualityScore(textCol: Column): Column = {
    val nChars = length(coalesce(textCol, lit(""))).cast("double")
    val nTokens = tokenCount(textCol).cast("double")
    val stopHits = langScore(textCol, StopwordLexicons.flatMap(_._2)).cast("double")
    val punct = (length(coalesce(textCol, lit(""))) -
      length(regexp_replace(coalesce(textCol, lit("")), "[.,;:!?]", ""))).cast("double")
    // length band 50..5000 chars, some stopwords, light punctuation
    val lenOk = when(nChars >= 50 && nChars <= 5000, lit(1.0)).otherwise(lit(0.0))
    val stopRatio = when(nTokens > 0, stopHits / nTokens).otherwise(lit(0.0))
    val punctRatio = when(nChars > 0, punct / nChars).otherwise(lit(0.0))
    round(
      lenOk * 0.4 + least(stopRatio * lit(2.0), lit(1.0)) * 0.4 +
        when(punctRatio <= 0.1, lit(0.2)).otherwise(lit(0.0)),
      4
    )
  }

  /** PII patterns for [[scrubbedDF]]: conservative regex syntax shared by
    * Java's regex engine and RE2-family engines, so oracles reproduce the
    * exact same matches.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\d{3}-\\d{3}-\\d{4}"

  /** PII scrubbing: replace emails/phone numbers with typed placeholder
    * tags and count what was redacted (the audit trail a curation pipeline
    * keeps). Emails are replaced before phones so a digit run inside an
    * email can never double-match. Staged: the text attribute is consumed
    * by three regex passes but materialized once.
    */
  def scrubbedDF(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    df.select(idCol.as("doc_id"), coalesce(textCol, lit("")).as("__t"))
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("__t"), lit(EmailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(col("__t"), lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
        regexp_replace(
          regexp_replace(col("__t"), EmailRe, "<EMAIL>"),
          PhoneRe,
          "<PHONE>"
        ).as("scrubbed")
      )

  /** Gopher-style repetition signals: duplicate-word fraction, duplicate
    * word-bigram fraction, and the most frequent word's share of the doc —
    * the standard filters for boilerplate/degenerate generations. Per-row
    * array algebra only (the top-share count is O(uniq·words) per row,
    * bounded by document length — never corpus-quadratic).
    */
  def repetitionDF(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val nb = greatest(size(col("__w")) - 1, lit(0))
    val bigrams = transform(
      sequence(lit(1), nb, lit(1)),
      i => concat_ws(" ", try_element_at(col("__w"), i), try_element_at(col("__w"), i + 1))
    )
    df.select(idCol.as("doc_id"), split(trim(coalesce(textCol, lit(""))), "\\s+").as("__w"))
      .select(
        col("doc_id"),
        col("__w"),
        size(col("__w")).cast("long").as("n_words"),
        size(array_distinct(col("__w"))).cast("long").as("n_uniq"),
        nb.cast("long").as("__nb"),
        // when nb = 0, sequence(1, 0, 1) is empty in Spark only with an
        // explicit step guard — build the empty array directly instead
        when(nb === 0, array().cast("array<string>")).otherwise(bigrams).as("__bg")
      )
      .select(
        col("doc_id"),
        col("n_words"),
        col("n_uniq"),
        round(
          when(col("n_words") === 0, lit(0.0))
            .otherwise((col("n_words") - col("n_uniq")).cast("double") / col("n_words")),
          6
        ).as("dup_word_frac"),
        round(
          when(col("__nb") === 0, lit(0.0))
            .otherwise(
              (col("__nb") - size(array_distinct(col("__bg"))).cast("long")).cast("double") /
                col("__nb")
            ),
          6
        ).as("dup_bigram_frac"),
        round(
          when(col("n_words") === 0, lit(0.0))
            .otherwise(
              array_max(
                transform(array_distinct(col("__w")), u => size(filter(col("__w"), x => x === u)))
              ).cast("double") / col("n_words")
            ),
          6
        ).as("top_word_share")
      )
  }

  /** N-gram familiarity score: for every document, the document-frequency
    * statistics of its distinct word n-grams against the whole corpus —
    * how much of this doc's phrasing the corpus has seen elsewhere, a
    * CCNet-style quality signal computable without any external language
    * model. Integer-exact columns (`n_grams`, `df_sum` = Σ corpus df of
    * the doc's grams) plus one double ratio, so any engine reproduces it.
    *
    * The join of exploded grams against the df table is the HYBRID
    * hot/cold shape — the skew answer when salting ([[graft.ops.SkewOps]])
    * would inflate the small side `salts`×: gram frequency is zipf-shaped,
    * so the `hotK` head grams (think "of the and") carry most matches and
    * would hot-spot a plain shuffle join. They take a BROADCAST join (the
    * head is hotK rows by construction); the long tail — skew-free once
    * the head is gone — takes the ordinary shuffle join. Both paths are
    * map-side-combine aggregated before the final per-doc sum.
    *
    * @param hotK head grams (by df, gram tiebreak) routed via broadcast
    * @return (doc_id, n_grams, df_sum, fam_avg = round(df_sum/n_grams, 6))
    */
  def ngramFamiliarity(df: DataFrame, idCol: Column, textCol: Column, n: Int, hotK: Int): DataFrame = {
    require(n > 0 && hotK > 0, "n and hotK must be positive")
    // per-doc DISTINCT grams (Dedup.shingled), so per-gram row counts ARE
    // document frequencies; fence before the explode (generator
    // re-evaluation trap — see PlanOps)
    val exploded = graft.ops.PlanOps
      .fence(Dedup.shingled(df, idCol, textCol, n))
      .select(col("doc_id"), explode(col("grams")).as("gram"))
    val dfCounts = exploded.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    val hot = dfCounts.orderBy(col("df").desc, col("gram")).limit(hotK)
    val hotHits = exploded.join(broadcast(hot), Seq("gram"))
    val coldHits = exploded
      .join(broadcast(hot.select(col("gram"))), Seq("gram"), "left_anti")
      .join(dfCounts, Seq("gram"))
    hotHits
      .unionByName(coldHits)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), sum(col("df")).as("df_sum"))
      .select(
        col("doc_id"),
        col("n_grams"),
        col("df_sum"),
        round(col("df_sum").cast("double") / col("n_grams"), 6).as("fam_avg")
      )
  }

  /** BPE tokenizer TRAINING (Sennrich et al. 2016) over the corpus's word
    * sequences: `k` rounds of count-adjacent-pairs → merge the most
    * frequent pair (ties: lexicographic on (a, b)) → greedily rewrite
    * every document left-to-right. Returns the merge table
    * (rank, a, b, merged = a||b, cnt) — the artifact a tokenizer ships.
    *
    * This is the engine's second deliberately ITERATIVE operator (after
    * [[Dedup.connectedComponents]], same shape): a driver loop where each
    * round is one distributed pair-count (partial-agg groupBy, argmax via
    * TakeOrdered on ONE row) plus one map-only rewrite pass, with
    * `localCheckpoint` per round so round k's plan does not replay rounds
    * 1..k-1 (O(k) passes total, not O(k²)); the previous round's blocks
    * are freed eagerly, holding storage at 2×. Driver state is k merge
    * rows — nothing corpus-sized ever leaves the executors.
    *
    * The greedy rewrite is a fold into a U+0001-joined accumulator
    * (tokens must not contain that byte — whitespace-split words never
    * do): if the accumulator's last token is `a` and the next is `b`,
    * the tail becomes the merged symbol, else append. Fixed left-to-right
    * order, string-exact — any engine's fold reproduces the corpus state
    * and therefore every later round's counts.
    */
  /** The k fitted merges as driver-held model state, through the fitted-
    * model memo ([[graft.Memo.model]]): training is k deterministic
    * Spark rounds over (corpus, k), so the encode query, repeated bench
    * passes, and any stream twin share ONE training loop. Rank-ordered
    * (left, right) pairs — exactly what [[bpeEncode]] consumes.
    */
  def bpeMergesModel(df: DataFrame, idCol: Column, textCol: Column, k: Int): Seq[(String, String)] =
    graft.Memo.model("bpe", df, s"$idCol|$textCol|$k")(
      bpeMerges(df, idCol, textCol, k)
        .orderBy(col("rank"))
        .collect()
        .map(r => (r.getString(1), r.getString(2)))
        .toSeq)

  def bpeMerges(df: DataFrame, idCol: Column, textCol: Column, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val spark = df.sparkSession
    val sep = "\u0001"
    var corpus = df
      .select(idCol.as("doc_id"), split(trim(textCol), "\\s+").as("toks"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= k && !exhausted) {
      val top = corpus
        .select(
          explode(
            filter(
              zip_with(
                col("toks"),
                slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))),
                (x, y) => struct(x.as("a"), y.as("b"))),
              p => p.getField("b").isNotNull
            )
          ).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val a: String = top.head.getString(0)
        val b: String = top.head.getString(1)
        val cnt: Long = top.head.getLong(2)
        merges += ((round, a, b, a + b, cnt))
        if (round < k) {
          val rewritten = corpus
            .withColumn("toks", mergeFold(col("toks"), a, b))
            .localCheckpoint()
          freeCheckpoint(corpus)
          corpus = rewritten
        }
      }
      round += 1
    }
    freeCheckpoint(corpus)
    import spark.implicits._
    merges.toSeq.toDF("rank", "a", "b", "merged", "cnt")
      .select(col("rank").cast("int").as("rank"), col("a"), col("b"), col("merged"), col("cnt"))
  }

  /** One greedy left-to-right merge rewrite of a token array: every
    * adjacent (a, b) pair fuses into a+b, folding through a
    * chr(1)-joined accumulator. ONE definition shared by the training
    * rounds ([[bpeMerges]]) and the apply path ([[bpeEncode]]) — and
    * mirrored token-for-token by the SQL oracles — so the corpus state
    * after any round is identical everywhere.
    */
  private def mergeFold(toks: Column, a: String, b: String): Column = {
    val sep = "\u0001"
    split(
      aggregate(
        toks,
        lit(""),
        (acc, t) =>
          when(acc === "", t)
            .when(
              (acc === a || acc.endsWith(lit(sep + a))) && t === b,
              concat(acc.substr(lit(1), length(acc) - lit(a.length)), lit(a + b)))
            .otherwise(concat(acc, lit(sep), t))
      ),
      sep
    )
  }

  /** APPLY trained BPE merges to a corpus — the tokenizer's serving half,
    * closing the train→encode loop ([[bpeMerges]] is the training half).
    * The k merges chain as k map-only rewrites of the token array inside
    * ONE stage (no checkpoint, no shuffle — encode is embarrassingly
    * parallel, which is why tokenizing 100 TB is a pure scan cost).
    * Output: (doc_id, n_raw, n_bpe) token counts before/after — the
    * compression measurement a tokenizer report cares about; swap the
    * final select to keep `toks` when the encoded ids themselves are the
    * product.
    *
    * @param merges (a, b) pairs IN RANK ORDER (apply order matters: later
    *               merges see earlier merges' fused tokens)
    */
  def bpeEncode(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      merges: Seq[(String, String)]
  ): DataFrame = {
    var cur = df
      .select(idCol.as("doc_id"), split(trim(textCol), "\\s+").as("toks"))
      .withColumn("n_raw", size(col("toks")).cast("long"))
    merges.foreach { case (a, b) => cur = cur.withColumn("toks", mergeFold(col("toks"), a, b)) }
    cur.select(col("doc_id"), col("n_raw"), size(col("toks")).cast("long").as("n_bpe"))
  }

  /** Rolling polynomial fingerprint of the word sequence:
    * acc = (acc * 131 + wordHash) mod (2^31 - 1), folded left-to-right,
    * where wordHash = the first 4 hex chars of md5(word) read as an integer
    * via digit positions (no engine-specific hash function, so any SQL
    * oracle can reproduce it).
    */
  /** Corpus-trained bigram language-model scoring — the CCNet-style
    * perplexity quality gate, self-supervised (the corpus is its own
    * reference): train add-one-smoothed bigram counts over the whole
    * input, then score every document by its mean token log-probability
    * `avg_lp = (1/n) Σ ln((c(w₁w₂)+1) / (c(w₁·)+V))` and the derived
    * perplexity `ppl = e^(−avg_lp)` — boilerplate and fluent text score
    * low-ppl, junk (rare transitions, OCR noise, gibberish) scores high,
    * which is THE sort key for perplexity-bucket corpus filtering.
    *
    * Determinism: counts are exact integers and each ln term quantizes to
    * an integer MILLINAT (`round(1000·ln r)`) before any sum, so every
    * aggregate is an exact integer sum — merge-order-free and
    * engine-replayable. The quantization grid is the semantic contract
    * (scores are millinat-precise, plenty for a quality gate) and it is
    * what makes the one transcendental safe: ln's cross-engine ulp wobble
    * (~1e-12 at this magnitude) flips an integer millinat only within
    * ~1e-12 of a .5 boundary — finer per-term rounding (the 9-dp decimal
    * first cut) measurably DID flip, because one popular transition's
    * flipped term replicates corpus-wide. The mean is one exact-integer
    * double division rounded at 6 dp; the final exp rounds at 4.
    *
    * Scale shape (what makes this runnable over 100 TB):
    *   - ONE (doc, bigram) partial-agg collapses each doc to its distinct
    *     transitions with multiplicities, shared across the probe and the
    *     model through a plan-keyed parquet spill (the dedup/graph-family
    *     discipline), so tokenize+explode runs exactly once per corpus.
    *   - The global bigram model aggregates the collapsed frame (≤ one
    *     row per distinct transition), and head counts c(w₁·) aggregate
    *     the MODEL, not the corpus — marginalizing the count table is
    *     |bigram vocab| work, corpus-free.
    *   - The score join splits hot vs cold like [[ngramFamiliarity]]:
    *     the `hotK` most frequent transitions ("of the"…) broadcast so
    *     their probe rows never converge on one reducer; the tail — flat
    *     by construction once the head is gone — takes the ordinary
    *     shuffle join, and the head-count join rides AQE's skew split.
    *   - V (distinct tokens) is ONE scalar row, cross-joined broadcast.
    *
    * @param hotK transitions routed via broadcast (by count, tiebreak on
    *             the bigram)
    * @return (doc_id, n_bigrams, avg_lp, ppl), docs with ≥ 2 tokens
    */
  def lmScoreDF(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      corpusKey: String,
      hotK: Int = 64): DataFrame = {
    require(hotK > 0, "hotK must be positive")
    require(corpusKey.nonEmpty, "corpusKey must identify the input corpus")
    // ONE tokenize pass, spilled: (doc_id, tokens, bigram array). The spill
    // (not a fence, not a cache) is what makes the sharing real — a fenced
    // plan roots in a fresh LogicalRDD whose canonicalization changes per
    // invocation, defeating both exchange reuse AND the plan-keyed memo;
    // a parquet scan canonicalizes stably, and exploding a SCANNED column
    // is a plain Generate over an attribute (no expression re-evaluation),
    // so nothing downstream needs a fence at all.
    val words = df
      .select(idCol.as("doc_id"), split(trim(coalesce(textCol, lit(""))), "\\s+").as("w"))
      .filter(size(col("w")) >= 2)
    // fence: the bigram array is expensively built and exploded — unfenced,
    // the Generate node re-evaluates the transform per output element
    val bigrams = graft.ops.PlanOps
      .fence(words.select(
        col("doc_id"),
        transform(
          sequence(lit(0), size(col("w")) - 2),
          i => concat(element_at(col("w"), i + 1), lit(" "), element_at(col("w"), i + 2))
        ).as("bgs")))
      .select(col("doc_id"), explode(col("bgs")).as("b"))
    // the collapsed (doc, bigram, m) frame feeds THREE consumers (probe ×2
    // union branches + the model). Shared through a CONTENT-KEYED parquet
    // spill: the fence above roots the plan in a fresh LogicalRDD per
    // invocation, so neither exchange reuse nor a plan-keyed memo can fire
    // — the caller's corpusKey carries the identity instead, and tokenize
    // + explode + collapse runs exactly once per corpus
    val perDoc = graft.Memo.frame("lm_bigrams", Some(corpusKey), df.sparkSession)(
      bigrams.groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("m")))
    val model = perDoc.groupBy(col("b")).agg(sum(col("m")).as("cb"))
    val heads = model
      .groupBy(substring_index(col("b"), " ", 1).as("w1"))
      .agg(sum(col("cb")).as("ch"))
    // one scalar row — broadcast; spilled on the same key (its fenced
    // token explode would otherwise re-tokenize the corpus per invocation)
    val vocab = graft.Memo.frame("lm_vocab", Some(corpusKey), df.sparkSession)(
      graft.ops.PlanOps
        .fence(words.select(explode(col("w")).as("tok")).filter(length(col("tok")) > 0))
        .agg(count_distinct(col("tok")).as("v")))
    val hot = model.orderBy(col("cb").desc, col("b")).limit(hotK)
    val probe = perDoc.withColumn("w1", substring_index(col("b"), " ", 1))
    val hotHits = probe.join(broadcast(hot), Seq("b"))
    val coldHits = probe
      .join(broadcast(hot.select(col("b"))), Seq("b"), "left_anti")
      .join(model, Seq("b"))
    hotHits
      .unionByName(coldHits)
      .join(heads, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn(
        "term",
        col("m") * round(
          lit(1000.0) *
            log((col("cb") + lit(1L)).cast("double") / (col("ch") + col("v")).cast("double")),
          0).cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_bigrams"), sum(col("term")).as("__mlp"))
      .withColumn(
        "avg_lp",
        round(col("__mlp").cast("double") / (lit(1000.0) * col("n_bigrams").cast("double")), 6))
      .select(
        col("doc_id"),
        col("n_bigrams"),
        col("avg_lp"),
        round(exp(-col("avg_lp")), 4).as("ppl"))
  }

  def fingerprint(textCol: Column): Column = {
    val tokens = split(trim(coalesce(textCol, lit(""))), "\\s+")
    val hashes = transform(
      tokens,
      w => {
        val h = md5(w)
        (0 until 4)
          .map { j =>
            conv(substring(h, j + 1, 1), 16, 10).cast("long") * (1L << (4 * (3 - j)))
          }
          .reduce(_ + _)
      }
    )
    aggregate(hashes, lit(0L), (acc, x) => (acc * 131L + x) % 2147483647L)
  }

  /** Shannon character entropy per document (bits/char) — the gibberish
    * and compression gate: natural prose sits ~4–4.5 bits, base64 blobs
    * and minified payloads push toward 6, constant-padding spam drops
    * toward 0; curation pipelines band-pass on it. Counts are exact
    * integers ((doc, char) partial agg — the per-doc frame is bounded by
    * alphabet size, not text length); each `−p·log₂p` term is a
    * fixed-order IEEE chain with the one `ln` quantized to an INTEGER
    * micro-bit grid before the sum (the millinat discipline — a p = c/n
    * ratio recurs across thousands of docs, so a 9-dp decimal boundary
    * flip would replicate corpus-wide; on the 10⁻⁶ grid the flip
    * probability is ~ulp/grid ≈ 10⁻¹⁰ per distinct ratio), and the base
    * conversion uses the shared ln 2 literal. Terms are ≥ 0, so HALF_UP
    * and half-away-from-zero agree. Empty documents are absent.
    */
  def charEntropy(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val counts = df
      .select(idCol.as("doc_id"), explode(split(coalesce(textCol, lit("")), "")).as("ch"))
      .filter(length(col("ch")) > 0)
      .groupBy(col("doc_id"), col("ch"))
      .agg(count(lit(1)).as("c"))
    val byDoc = Window.partitionBy(col("doc_id"))
    counts
      .withColumn("n", sum(col("c")).over(byDoc))
      .withColumn("p", col("c").cast("double") / col("n").cast("double"))
      .withColumn(
        "t_micro",
        round(-(col("p") * log(col("p"))) / lit(0.6931471805599453) * lit(1000000.0), 0)
          .cast("long"))
      .groupBy(col("doc_id"))
      .agg(
        max(col("n")).as("n_chars_counted"),
        count(lit(1)).as("n_distinct_chars"),
        round(sum(col("t_micro")).cast("double") / lit(1000000.0), 6).as("entropy_bits"))
  }

  /** Flesch–Kincaid readability grade per document — the classic
    * text-difficulty gate (curricula pipelines keep a band, conversational
    * corpora drop legalese outliers): `0.39·(W/S) + 11.8·(Y/W) − 15.59`
    * with all three counts EXACT integers — words are the module's
    * whitespace tokens, sentences are `[.!?]+` runs (floored at 1 so a
    * fragment still scores), syllables use the standard vowel-run
    * heuristic (`[aeiouy]+` runs per lowercased word, floored at 1 —
    * "rhythm" counts its y, "xyzzy" never scores 0). The grade itself is
    * one fixed-order IEEE tail over the integer counts, rounded to 6 dp.
    * Token-less documents are absent. Map-only column algebra — the
    * counts fold inside one `aggregate` HOF, no explode, no shuffle.
    */
  def readability(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val words = "filter(split(trim(lower(coalesce(__t, ''))), '\\\\s+'), w -> length(w) > 0)"
    df.select(idCol.as("doc_id"), textCol.as("__t"))
      .withColumn("n_words", expr(s"cast(size($words) as bigint)"))
      .filter(col("n_words") > 0)
      .withColumn(
        "n_sentences",
        expr("greatest(1L, cast(size(regexp_extract_all(coalesce(__t, ''), '[.!?]+', 0)) as bigint))"))
      .withColumn(
        "n_syllables",
        expr(s"aggregate($words, 0L, (acc, w) -> " +
          "acc + greatest(1L, cast(size(regexp_extract_all(w, '[aeiouy]+', 0)) as bigint)))"))
      .select(
        col("doc_id"), col("n_words"), col("n_sentences"), col("n_syllables"),
        round(
          lit(0.39) * (col("n_words").cast("double") / col("n_sentences").cast("double")) +
            lit(11.8) * (col("n_syllables").cast("double") / col("n_words").cast("double")) -
            lit(15.59),
          6).as("fk_grade"))
  }

  /** Out-of-vocabulary rate per document against the corpus' OWN top-K
    * vocabulary — the tokenizer-coverage audit run before committing a
    * vocab size (docs with high OOV ppm will fragment into byte
    * fallbacks and train badly). Two passes, both scale-safe: the vocab
    * is a bounded TakeOrdered top-K (count desc, token asc tie-break —
    * deterministic at the cut) that broadcasts as model state, then one
    * token-proportional membership join aggregates back per doc. The
    * rate is an exact integer ppm (`div`), never a float ratio.
    * Token-less documents are absent (0/0 has no honest rate).
    */
  def oovRate(df: DataFrame, idCol: Column, textCol: Column, topK: Int): DataFrame = {
    require(topK > 0, "topK must be positive")
    val tok = df
      .select(idCol.as("doc_id"), explode(split(trim(textCol), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
    val vocab = tok
      .groupBy(col("token"))
      .agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("token"))
      .limit(topK)
      .select(col("token"), lit(true).as("__in_vocab"))
    tok
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("__in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_ppm", expr("n_oov * 1000000 div n_tokens"))
  }
}
