package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.PlanOps.freeCheckpoint

/** Large-scale dedup operators for training-data pipelines (north-star
  * extensions, SURVEY.md §7.5). Generalizes the reference's exact anti-join
  * dedupe (chicago/permit_cleaning.py:838-883) to content-similarity dedup.
  *
  * Scale design: every variant is shuffle-bounded by the *candidate* set —
  * exact and near-dup both group on a short digest/bucket key, never pairwise
  * over the corpus. MinHash-LSH candidate generation is the 100 TB path:
  * signatures are computed per-row (map-side, no shuffle), and only band
  * buckets shuffle.
  */
object Dedup {

  /** Census of the spilled frames in [[graft.Memo]]: one (key, onDiskBytes)
    * row per frame entry. */
  private[graft] def spillCensus(): Seq[(String, Long)] =
    graft.Memo.census().collect { case graft.Memo.Row(k, graft.Memo.Frame, _, b) => (k, b) }

  /** Exact dedup: group identical `textCol` content by md5 digest, keep the
    * lowest id as canonical. Output one row per distinct content with the
    * survivor id and the duplicate count.
    */
  def exact(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    df.groupBy(md5(textCol).as("digest"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_dupes"))

  /** Corpus-level LINE deduplication (boilerplate removal — the CCNet /
    * RefinedWeb pipeline shape): a line occurring in more than `maxDocs`
    * DISTINCT documents is boilerplate (nav bars, cookie banners, footers)
    * and is stripped from every document. Every input id survives; a
    * document whose lines are all boilerplate comes back with empty text.
    *
    * Scale shape: two shuffles, both partial-agg friendly — (line-digest →
    * distinct-doc count), then a broadcast anti-join of the (small,
    * by definition corpus-wide) boilerplate set back onto the exploded
    * lines. The hot lines ARE the boilerplate, and they collapse map-side
    * in the count stage; reassembly is an order-preserving `array_sort`
    * over (line_no, line) structs — grouped, never a global window.
    */
  def stripBoilerplate(df: DataFrame, idCol: String, textCol: String, maxDocs: Int): DataFrame = {
    require(maxDocs > 0, "maxDocs must be positive")
    val lines = df.select(
      col(idCol).as("__id"),
      posexplode(split(coalesce(col(textCol), lit("")), "\n")).as(Seq("__ln", "__line")))
    val common = lines
      .groupBy(md5(col("__line")).as("__h"))
      .agg(count_distinct(col("__id")).as("__docs"))
      .filter(col("__docs") > maxDocs)
      .select(col("__h"))
    // one NULL-line sentinel per doc: md5(null) never matches the
    // boilerplate set, so every id reaches reassembly even when all its
    // real lines are stripped — WITHOUT a corpus-wide outer join to
    // resurrect the empties (the null sorts first and concat_ws skips it)
    val withSentinel = lines.unionByName(
      df.select(
        col(idCol).as("__id"),
        lit(-1).as("__ln"),
        lit(null).cast("string").as("__line")))
    withSentinel
      .join(broadcast(common), md5(col("__line")) === common("__h"), "left_anti")
      .groupBy(col("__id"))
      .agg(array_sort(collect_list(struct(col("__ln"), col("__line")))).as("__arr"))
      .select(
        col("__id").as(idCol),
        concat_ws("\n", transform(col("__arr"), s => s.getField("__line"))).as(textCol))
  }

  /** Word n-gram shingles (distinct, first-occurrence order). Built per-row
    * with array higher-order functions — no explode, no shuffle.
    */
  def wordShingles(textCol: Column, n: Int): Column = {
    val words = split(trim(textCol), "\\s+")
    val count = greatest(size(words) - (n - 1), lit(1))
    // try_element_at: out-of-range indices (docs shorter than n words) yield
    // null, which concat_ws skips — ANSI-mode safe.
    array_distinct(
      transform(
        sequence(lit(0), count - 1),
        i => concat_ws(" ", (0 until n).map(j => try_element_at(words, i + j + 1)): _*)
      )
    )
  }

  private def saltedMd5(g: Column, salt: Int): Column =
    if (salt == 0) md5(g) else md5(concat(g, lit("#" + salt)))

  /** k minima from the per-salt md5 arrays: 4 non-overlapping 8-char windows
    * per salt, window minima taken over cheap substring-of-attribute lambdas.
    */
  private def sigFromHexes(hexCols: Seq[Column]): Column =
    array(hexCols.flatMap { hc =>
      (0 until 4).map(w => array_min(transform(hc, h => substring(h, w * 8 + 1, 8))))
    }: _*)

  /** Staged signature pipeline: id + `sig` (array of k hex minima), with
    * optional carried-through columns (e.g. an event-time column for the
    * streaming variant). Permutation hashes are non-overlapping 8-hex-char
    * (32-bit) windows of md5(gram) and md5(gram || "#s") salts — fixed-width
    * lowercase hex, so lexicographic MIN == numeric MIN, and the same
    * construction is expressible in any SQL oracle without a shared integer
    * hash function. k must be a multiple of 4 (4 windows per md5).
    *
    * Each stage materializes its intermediate as a named attribute in its own
    * projection. CollapseProject refuses to merge projections whose producer
    * expressions are non-cheap and consumed more than once, so the regex
    * `split`, the shingle build, and each md5 pass are evaluated exactly once
    * per row — the naive single-expression form re-evaluates the split
    * 3×n×k times per row via lambda inlining (measured 150s → <2s at sf0.1).
    */
  def minhashSignatures(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      n: Int,
      k: Int,
      carry: Seq[String] = Nil
  ): DataFrame = {
    require(k % 4 == 0, s"k must be a multiple of 4, got $k")
    val salts = 0 until k / 4
    val kept = carry.map(col)
    df.select(idCol.as("id") +: kept :+ split(trim(textCol), "\\s+").as("words"): _*)
      .select(col("id") +: kept :+ gramsFromWords(col("words"), n).as("grams"): _*)
      .select(
        (col("id") +: kept) ++
          salts.map(s => transform(col("grams"), g => saltedMd5(g, s)).as(s"hex$s")): _*
      )
      .select(col("id") +: kept :+ sigFromHexes(salts.map(s => col(s"hex$s"))).as("sig"): _*)
  }

  /** Distinct word n-grams from a pre-split `words` attribute (cheap lambda
    * body: element_at over an attribute reference).
    */
  private def gramsFromWords(words: Column, n: Int): Column = {
    val count = greatest(size(words) - (n - 1), lit(1))
    array_distinct(
      transform(
        sequence(lit(0), count - 1),
        i => concat_ws(" ", (0 until n).map(j => try_element_at(words, i + j + 1)): _*)
      )
    )
  }

  /** Staged shingle pipeline: id + distinct n-gram array, split evaluated
    * once per row (see [[minhashSignatures]] for why staging matters).
    *
    * Grams come back SORTED (sort_array / binary UTF8 order): every
    * consumer is set-semantic (jaccard verifies, minhash min-folds, gram
    * explodes), and the sorted representation is the precondition of the
    * merge-walk [[jaccardSorted]] the verify stages run per candidate
    * pair — one O(g log g) per-document sort at build buys a
    * zero-allocation compare at every pair.
    */
  def shingled(df: DataFrame, idCol: Column, textCol: Column, n: Int): DataFrame =
    df.select(idCol.as("doc_id"), split(trim(textCol), "\\s+").as("words"))
      .select(col("doc_id"), sort_array(gramsFromWords(col("words"), n)).as("grams"))

  /** MinHash + LSH banding: candidate near-duplicate pairs.
    *
    * Pipeline: staged per-row signature (map-only, single pass) → explode
    * `bands` rows/doc → in-bucket pair generation by SELF-JOIN on the
    * (band, band-hash) key → distinct. Pairs are ROWS, never array elements:
    * a hot bucket of m members costs m²/2 join-output rows spread across
    * tasks, not an m²-element array in one row (the single-task OOM shape of
    * the collect_set formulation this replaces). The two join sides are
    * byte-identical plans, so ReusedExchange computes the signature shuffle
    * once. Shuffle volume is `bands × corpus`, never O(n²) corpus-wide.
    *
    * Boilerplate-heavy corpora still make hot buckets expensive (the pairs
    * themselves are quadratic in bucket size). `maxBucket > 0` bounds that:
    * buckets with more members are dropped from pair generation — inspect
    * them with [[oversizedBuckets]] (same parameters) and handle the
    * quarantined content upstream. The cap is explicit, never silent.
    *
    * @param n         word-shingle width
    * @param k         minhash permutations (multiple of 4)
    * @param bands     LSH bands (k / bands rows per band)
    * @param maxBucket drop buckets with more members than this (0 = no cap)
    * @return (id_lo, id_hi) candidate pairs, id_lo < id_hi
    */
  def minhashLshPairs(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      n: Int = 3,
      k: Int = 8,
      bands: Int = 4,
      maxBucket: Int = 0
  ): DataFrame = {
    // pin the shuffle on the bucket key BEFORE self-joining: both sides then
    // canonicalize to the same exchange and ReusedExchange materializes the
    // signature computation exactly once (without this, the planner broadcasts
    // one side at small stats and computes every signature twice). The
    // repartition comes BEFORE the cap window so the window's clustering
    // requirement is already satisfied — one exchange total, not two.
    val banded = capBuckets(
      bandedIds(df, idCol, textCol, n, k, bands).repartition(col("band"), col("bh")),
      Seq("band", "bh"),
      maxBucket
    )
    val lo = banded.select(col("band"), col("bh"), col("id").as("id_lo"))
    val hi = banded.select(col("band"), col("bh"), col("id").as("id_hi"))
    lo.join(hi, Seq("band", "bh"))
      .filter(col("id_lo") < col("id_hi"))
      .select(col("id_lo"), col("id_hi"))
      .distinct() // a pair collides in several bands; report it once
  }

  /** Incremental-ingestion LSH probe: candidate near-duplicates of an
    * INCOMING batch against an EXISTING corpus — the production shape for
    * continuous ingestion, where re-running the full self-join per batch
    * would redo O(corpus) signature work for every arrival.
    *
    * Same signature/banding scheme as [[minhashLshPairs]], but the pair
    * stage is a two-sided equi-join on (band, band-hash): incoming rows
    * probe the corpus's bucket keys, so join output is only the
    * cross-side collisions (never corpus×corpus). The corpus-side
    * (band, bh, id) frame is precisely the index a production pipeline
    * persists bucketed by (band, bh) — then each batch pays its own
    * signatures plus one co-partitioned join, nothing corpus-sized.
    *
    * `maxBucket` caps the CORPUS index side (a boilerplate bucket there
    * multiplies every future batch's fan-out; the batch side is assumed
    * ingestion-sized). Quarantine inspection is [[oversizedBuckets]] on
    * the corpus, same parameters.
    *
    * @return (new_id, corpus_id) candidate pairs
    */
  def minhashLshProbePairs(
      corpus: DataFrame,
      incoming: DataFrame,
      idCol: Column,
      textCol: Column,
      n: Int = 3,
      k: Int = 8,
      bands: Int = 4,
      maxBucket: Int = 0
  ): DataFrame = {
    val corpusIdx = capBuckets(
      bandedIds(corpus, idCol, textCol, n, k, bands).repartition(col("band"), col("bh")),
      Seq("band", "bh"),
      maxBucket
    ).select(col("band"), col("bh"), col("id").as("corpus_id"))
    bandedIds(incoming, idCol, textCol, n, k, bands)
      .select(col("band"), col("bh"), col("id").as("new_id"))
      .join(corpusIdx, Seq("band", "bh"))
      .select(col("new_id"), col("corpus_id"))
      .distinct() // a pair collides in several bands; report it once
  }

  /** The corpus half of [[minhashLshProbePairs]] as a standalone
    * (band, bh, corpus_id) frame — the LSH index itself, computed once.
    * [[persistLshIndex]] writes it bucketed; a caller that wants to manage
    * persistence differently (Delta, Iceberg, a stream's `foreachBatch`
    * state table) takes this frame and stores it however it likes.
    */
  def lshIndex(
      corpus: DataFrame,
      idCol: Column,
      textCol: Column,
      n: Int = 3,
      k: Int = 8,
      bands: Int = 4,
      maxBucket: Int = 0
  ): DataFrame =
    capBuckets(
      bandedIds(corpus, idCol, textCol, n, k, bands).repartition(col("band"), col("bh")),
      Seq("band", "bh"),
      maxBucket
    ).select(col("band"), col("bh"), col("id").as("corpus_id"))

  /** The LSH family's [[BucketedIndex.Layout]]: rows
    * (band, bh, corpus_id, seq) bucketed by (band, bh).
    */
  private[graft] val LshLayout = BucketedIndex.Layout("corpus_id", Seq("band", "bh"))

  /** LAYOUT TIME — paid once per corpus refresh: persist the LSH index as
    * a parquet table bucketed+sorted on (band, bh), the probe join's key.
    * Every subsequent batch probe then reads the corpus side EXCHANGE-FREE
    * (the bucketed scan already satisfies the join's clustering); only the
    * batch's own (small) band frame shuffles. At 100 TB this turns per-batch
    * cost from O(corpus signatures + corpus shuffle) into O(batch). The
    * lifecycle (eras, tombstones, compaction, versions, quarantine sweep)
    * is [[BucketedIndex]]'s.
    */
  def persistLshIndex(
      corpus: DataFrame,
      idCol: Column,
      textCol: Column,
      table: String,
      buckets: Int,
      n: Int = 3,
      k: Int = 8,
      bands: Int = 4,
      maxBucket: Int = 0,
      era: Long = 0L
  ): Unit =
    LshLayout.persist(lshIndex(corpus, idCol, textCol, n, k, bands, maxBucket), table, buckets, era)

  /** MAINTENANCE TIME — paid per ingested batch: append the batch's own
    * (band, bh, id) rows into a [[persistLshIndex]] table, so LATER
    * batches' probes can match THIS batch's documents; no rewrite of
    * existing files. Probe-then-append per batch is the full
    * index-maintenance cycle — the `foreachBatch` production shape
    * `stream_index_maintain` exercises.
    *
    * CACHE CAVEAT: the append invalidates the relation cache of the
    * session it WRITES through (`incoming`'s). Any OTHER session that
    * already read the table holds a stale cached file listing and will
    * silently miss the appended bands — call
    * `session.catalog.refreshTable(table)` in the probing session after an
    * append from elsewhere (inside `foreachBatch`, the batch frame belongs
    * to the stream-execution clone, not the session that built the query).
    */
  def appendLshIndex(
      incoming: DataFrame,
      idCol: Column,
      textCol: Column,
      table: String,
      buckets: Int,
      n: Int = 3,
      k: Int = 8,
      bands: Int = 4,
      era: Long = BucketedIndex.nextEra()
  ): Unit =
    LshLayout.append(lshIndex(incoming, idCol, textCol, n, k, bands), table, buckets, era)

  /** QUERY TIME — paid per batch, corpus side exchange-free: probe a
    * [[persistLshIndex]] table with an incoming batch. Identical pair
    * semantics to [[minhashLshProbePairs]] (cross-side collisions only,
    * each pair once); the only difference is WHERE the corpus index comes
    * from — the persisted bucketed table instead of a recompute.
    * PlanAuditSpec asserts the probe join plans with no exchange above the
    * index scan.
    */
  def probeLshIndex(
      s: org.apache.spark.sql.SparkSession,
      table: String,
      incoming: DataFrame,
      idCol: Column,
      textCol: Column,
      n: Int = 3,
      k: Int = 8,
      bands: Int = 4
  ): DataFrame =
    bandedIds(incoming, idCol, textCol, n, k, bands)
      .select(col("band"), col("bh"), col("id").as("new_id"))
      .join(LshLayout.live(s, table), Seq("band", "bh"))
      .select(col("new_id"), col("corpus_id"))
      .distinct() // a pair collides in several bands; report it once

  /** MAINTENANCE TIME — retract documents: era-stamped tombstones that
    * every [[probeLshIndex]] anti-joins out. Delete-then-probe ≡
    * rebuild-without-deleted-then-probe, which the dedup_index_delete
    * oracle checks hash-exactly.
    */
  def deleteFromLshIndex(
      s: org.apache.spark.sql.SparkSession,
      table: String,
      ids: DataFrame,
      idCol: Column,
      era: Long = BucketedIndex.nextEra()
  ): Unit =
    LshLayout.delete(s, table, ids, idCol, era)

  /** MAINTENANCE — bucket-preserving compaction of a [[persistLshIndex]]
    * table; `maxBucket > 0` also re-caps regrown buckets
    * ([[BucketedIndex.Layout.compact]]).
    */
  def compactLshIndex(
      s: org.apache.spark.sql.SparkSession,
      table: String,
      buckets: Int,
      maxBucket: Int = 0
  ): Unit =
    LshLayout.compact(s, table, buckets, maxBucket)

  /** LAYOUT TIME — the RECOVERY side of a capped LSH layout: persist the
    * banded rows the cap dropped ([[capDropped]], the exact complement of
    * the rows [[persistLshIndex]] stored) under `<table>_quar` — the text
    * twin of [[Multimodal.quarantineHammingIndex]]. (Measured honesty: the
    * synthetic `documents` corpus never concentrates — max bucket 6 at
    * sf0.1 — so the capped LSH posture stays OPT-IN; real web corpora with
    * boilerplate pages do concentrate, which is what the cap + this
    * recovery exist for. Spec-pinned on an engineered boilerplate
    * stratum.)
    */
  def quarantineLshIndex(
      s: org.apache.spark.sql.SparkSession,
      table: String,
      corpus: DataFrame,
      idCol: Column,
      textCol: Column,
      buckets: Int,
      maxBucket: Int,
      n: Int = 3,
      k: Int = 8,
      bands: Int = 4,
      era: Long = 0L
  ): Unit =
    LshLayout.quarantine(
      s, table,
      capDropped(bandedIds(corpus, idCol, textCol, n, k, bands), Seq("band", "bh"), maxBucket)
        .select(col("band"), col("bh"), col("id").as("corpus_id")),
      buckets, era)

  /** MAINTENANCE — one bounded TICK of the LSH quarantine sweep
    * ([[BucketedIndex.sweepTick]]): candidate pairs of the incoming batch
    * against the quarantined members of the next `maxBucketsPerTick`
    * unswept buckets, in [[probeLshIndex]]'s pair schema (`new_id,
    * corpus_id` — the exact Jaccard verify is the caller's composition).
    * Once the watermark closes, capped-probe ∪ sweep ≡ uncapped-probe,
    * tombstones respected (DedupSpec pins it). Returns the
    * `(swept_through, quar_buckets)` the tick committed.
    */
  def sweepLshQuarantine(
      s: org.apache.spark.sql.SparkSession,
      table: String,
      incoming: DataFrame,
      idCol: Column,
      textCol: Column,
      maxBucketsPerTick: Int,
      sink: String,
      n: Int = 3,
      k: Int = 8,
      bands: Int = 4
  ): (Long, Long) =
    BucketedIndex.sweepTick(s, table, maxBucketsPerTick, sink)((lo, hi) =>
      sweepLshTickFrame(s, table, incoming, idCol, textCol, lo, hi, n, k, bands))

  /** One tick's candidate frame over bucket ranks `(lo, hi]` — the pure
    * computation behind [[sweepLshQuarantine]].
    */
  private[graft] def sweepLshTickFrame(
      s: org.apache.spark.sql.SparkSession,
      table: String,
      incoming: DataFrame,
      idCol: Column,
      textCol: Column,
      lo: Long,
      hi: Long,
      n: Int = 3,
      k: Int = 8,
      bands: Int = 4
  ): DataFrame = {
    val members = LshLayout.sweepMembers(s, table, lo, hi)
    bandedIds(incoming, idCol, textCol, n, k, bands)
      .select(col("band"), col("bh"), col("id").as("new_id"))
      .join(members, Seq("band", "bh"))
      .filter(col("new_id") =!= col("corpus_id"))
      .select(col("new_id"), col("corpus_id"))
      .distinct()
  }

  /** MAINTENANCE — versioned probe-safe REBUILD of a [[persistLshIndex]]
    * table ([[BucketedIndex.rebuild]]): when the corpus is re-cleaned or
    * the shingling policy changes (an LSH index has no trained model, so
    * its "retrain" is a re-shingle), build the fresh index aside and
    * publish it as the next version. The rebuild corpus is the new
    * authority, so previously retracted ids it re-includes are visible
    * after the swap; a kept quarantine side is re-decided against it.
    */
  def rebuildLshIndex(
      s: org.apache.spark.sql.SparkSession,
      table: String,
      corpus: DataFrame,
      idCol: Column,
      textCol: Column,
      buckets: Int,
      n: Int = 3,
      k: Int = 8,
      bands: Int = 4,
      maxBucket: Int = 0
  ): Unit =
    BucketedIndex.rebuild(s, table, maxBucket)((bld, era) =>
      persistLshIndex(corpus, idCol, textCol, bld, buckets, n, k, bands, maxBucket, era = era))(
      quarantineLshIndex(s, table, corpus, idCol, textCol, buckets, maxBucket, n, k, bands))

  /** One (id, band, bh) row per document per band — the LSH bucket keys the
    * pair self-join runs on.
    */
  private def bandedIds(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      n: Int,
      k: Int,
      bands: Int
  ): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rows = k / bands
    // fence before the posexplode: `sig` has a single consumer, so the
    // optimizer inlines the whole staged signature pipeline into the
    // Generate node, where it is re-evaluated per emitted band (bands× the
    // signature work per doc; see PlanOps). The fence pins `sig` as a real
    // attribute. Both self-join sides reference this same fenced frame, so
    // the downstream bucket-key exchange still canonicalizes to one
    // ReusedExchange.
    graft.ops.PlanOps.fence(minhashSignatures(df, idCol, textCol, n, k)).select(
      col("id"),
      posexplode(
        transform(
          sequence(lit(0), lit(bands - 1)),
          b => md5(array_join(slice(col("sig"), b * rows + 1, lit(rows)), "|"))
        )
      ).as(Seq("band", "bh"))
    )
  }

  /** Drop members of buckets larger than `maxBucket` (window count on the
    * bucket key — same shuffle key as the pair join that follows). No-op
    * when maxBucket <= 0. Shared with the Hamming fingerprint family
    * ([[Multimodal.persistHammingIndex]]) — one cap, one quarantine
    * doctrine across the banded-LSH indexes.
    */
  private[ext] def capBuckets(banded: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame =
    if (maxBucket <= 0) banded
    else {
      import org.apache.spark.sql.expressions.Window
      banded
        .withColumn("__bsz", count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
        .filter(col("__bsz") <= maxBucket)
        .drop("__bsz")
    }

  /** The COMPLEMENT of [[capBuckets]] — the member rows the cap dropped
    * (same window count, opposite filter), factored so the persisted
    * quarantine ([[Multimodal.quarantineHammingIndex]]) and the cap can
    * never disagree about which side of the boundary a row fell on.
    * Requires a positive cap (the [[oversized]] doctrine: asking for the
    * drops of an uncapped run is a caller error, not "everything").
    */
  private[ext] def capDropped(banded: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame = {
    require(maxBucket > 0, "capDropped needs the positive cap actually used at layout")
    import org.apache.spark.sql.expressions.Window
    banded
      .withColumn("__bsz", count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      .filter(col("__bsz") > maxBucket)
      .drop("__bsz")
  }

  /** The quarantine side of [[minhashLshPairs]]' cap: (band, bh, n_members)
    * for every bucket whose membership exceeds `maxBucket` — the boilerplate
    * clusters excluded from pair generation, surfaced for upstream handling.
    * `maxBucket` must be the positive cap actually used for pairing (0
    * means "no cap" there, under which nothing is quarantined — asking for
    * the quarantine of an uncapped run is a caller error, not "everything").
    */
  def oversizedBuckets(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      n: Int = 3,
      k: Int = 8,
      bands: Int = 4,
      maxBucket: Int
  ): DataFrame =
    oversized(bandedIds(df, idCol, textCol, n, k, bands), Seq("band", "bh"), maxBucket)

  /** The quarantine census core shared with the Hamming family
    * ([[Multimodal.oversizedHammingBuckets]]) — one definition of "what
    * did the cap drop", like [[capBuckets]] is one definition of the cap.
    */
  private[ext] def oversized(banded: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame = {
    require(maxBucket > 0, "oversizedBuckets needs the positive cap actually used for pairing")
    banded
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") > maxBucket)
  }

  /** Cluster resolution over near-dup candidate pairs — the final stage of
    * a production dedup: group pairs into connected components and elect the
    * minimum id as each component's canonical document.
    *
    * Iterative min-label propagation WITH edge contraction on DataFrames:
    * every node starts labeled with itself; each round takes the min of its
    * own and its neighbors' labels, then REWRITES the edge list through the
    * new labels (an edge (a,b) becomes (label(a), label(b))). Contraction
    * shrinks component diameter geometrically, so convergence is
    * O(log diameter) rounds — a pathological 10⁶-doc boilerplate CHAIN
    * resolves in ~20 rounds, where plain propagation would need 10⁶. This
    * is the one deliberately ITERATIVE operator in the engine (GraphX's cc
    * without the GraphX dependency): a driver loop of joins with
    * `localCheckpoint` per round to cut lineage — each round is one
    * self-contained shuffle stage, the classic Spark iterative shape.
    *
    * @param pairs (id_lo, id_hi) undirected candidate pairs
    * @return (doc_id, canonical_id) for every id appearing in `pairs`
    */
  /** LSH candidates verified by exact shingle Jaccard ≥ tau — the
    * (id_lo, id_hi, jac_raw) pair set both the standalone verified-pairs
    * query and the data-card near-dup rate consume. Optionally
    * content-key-spilled: the signature chain + two shingle re-widen
    * joins + the merge-walk verify run once per (corpus, params), and
    * every consumer reads the verified pairs. jac_raw spills as the raw
    * IEEE double (parquet round-trips doubles exactly); consumers round
    * for OUTPUT only — rounding before the spill would move the tau
    * boundary.
    */
  def verifiedNearDupPairs(
      docs: DataFrame,
      idCol: Column,
      textCol: Column,
      n: Int,
      k: Int,
      bands: Int,
      tau: Double,
      contentKey: Option[String] = None
  ): DataFrame = {
    val cands = minhashLshPairs(docs, idCol, textCol, n, k, bands)
    val g = shingled(docs, idCol, textCol, n)
    val ver = cands
      .join(g.select(col("doc_id").as("id_lo"), col("grams").as("g_lo")), "id_lo")
      .join(g.select(col("doc_id").as("id_hi"), col("grams").as("g_hi")), "id_hi")
      .select(col("id_lo"), col("id_hi"), jaccardSorted(col("g_lo"), col("g_hi")).as("jac_raw"))
      .filter(col("jac_raw") >= tau)
    graft.Memo.frame(
      "near_verified", contentKey.map(key => s"$key|n=$n|k=$k|b=$bands|tau=$tau"), docs.sparkSession)(ver)
  }

  /** [[connectedComponents]] through the content-keyed spill. Unlike the
    * fixed-round loops (kcore/LPA/BFS), the cc loop is EAGER — it runs
    * per-round convergence counts and localCheckpoints while building —
    * so the memo must wrap the builder itself, not its result frame: on a
    * hit the loop never starts. Three same-corpus consumers
    * (dedup_clusters, dedup_survivors, corpus_split_leakage_safe) compute
    * identical labels; the caller asserts input identity via contentKey
    * (corpus + pair-generation params), the [[graft.Memo.frame]] contract.
    */
  def connectedComponentsKeyed(
      pairs: => DataFrame,
      contentKey: String,
      spark: org.apache.spark.sql.SparkSession,
      maxIter: Int = 25
  ): DataFrame =
    graft.Memo.frame("cc_labels", Some(s"$contentKey|cc|$maxIter"), spark)(
      connectedComponents(pairs, maxIter))

  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    // Pacing: LAZY local checkpoints + a fused convergence count. Each
    // round runs exactly ONE Spark action (the `changed` count), which as a
    // side effect materializes the round's checkpointed label frame AND any
    // not-yet-materialized lazy checkpoint feeding it (the previous
    // contraction's edge frame). The eager pacing this replaces paid three
    // driver-synced jobs per round — checkpoint(updated), count,
    // checkpoint(edges) — which dominated the loop's wall clock at fixture
    // scale (r21 verdict item 5). Lineage is still severed every round
    // (localCheckpoint truncates the logical plan whether or not the RDD
    // has materialized), so plan size stays bounded.
    val e0 = pairs.select(col("id_lo").as("a"), col("id_hi").as("b"))
    var edges = e0
      .unionByName(e0.select(col("b").as("a"), col("a").as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(false)
    // labels over the ORIGINAL node set (contraction rewrites edges to run
    // between component representatives, so they leave the node set)
    var labels = edges
      .select(col("a").as("id"))
      .distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(false)
    // the superseded edge frame backs the CURRENT edges' lazy checkpoint
    // until the next count job materializes it — freed one round late
    var edgesToFree: Option[DataFrame] = None
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      // (1) edge step on the contracted graph: each representative adopts
      // the min of itself and its neighbors
      val repNext = edges
        .groupBy(col("a").as("nid"))
        .agg(min(col("b")).as("nbr_min"))
        .select(col("nid"), least(col("nid"), col("nbr_min")).as("rep_next"))
      val stepped = labels
        .join(repNext, labels("label") === repNext("nid"), "left")
        .select(
          col("id"),
          col("label").as("prev"),
          least(col("label"), coalesce(col("rep_next"), col("label"))).as("l1")
        )
      // (2) pointer jump: follow the new label to ITS new label — without
      // this a doc can point at a node whose own label already moved on
      // (labels only decrease, so the jump target is always <=)
      val jumpTo = stepped.select(col("id").as("jid"), col("l1").as("jlab"))
      val updated = stepped
        .join(jumpTo, stepped("l1") === jumpTo("jid"), "left")
        .select(
          col("id"),
          col("prev"),
          least(col("l1"), coalesce(col("jlab"), col("l1"))).as("next")
        )
        .localCheckpoint(false)
      // the round's ONE action: counts convergence and materializes
      // `updated` (and, transitively, this round's lazy edge checkpoint)
      changed = updated.filter(col("next") < col("prev")).count()
      // everything the count just superseded is now safe to release, so
      // storage stays 2×, not rounds×
      edgesToFree.foreach(freeCheckpoint)
      edgesToFree = None
      freeCheckpoint(labels)
      labels = updated.select(col("id"), col("next").as("label"))
      // (3) contract: rewrite edges through the new labels, drop self-loops
      // — component diameter shrinks geometrically, so adversarial chains
      // converge in O(log n) rounds, not O(n)
      if (changed > 0) {
        val lab = labels
        val ea = edges
          .join(lab, edges("a") === lab("id"))
          .select(col("label").as("a2"), col("b"))
        val nextEdges = ea
          .join(lab, ea("b") === lab("id"))
          .select(col("a2").as("a"), col("label").as("b"))
          .filter(col("a") =!= col("b"))
          .distinct()
          .localCheckpoint(false)
        // edges is an input of nextEdges' unmaterialized checkpoint — free
        // it only after the NEXT round's count job runs
        edgesToFree = Some(edges)
        edges = nextEdges
      } else {
        freeCheckpoint(edges)
      }
      i += 1
    }
    // an unconverged exit must be observable, not silent: partially-converged
    // labels would flow wrong canonical_ids into dedup decisions. Contraction
    // converges in O(log diameter) rounds, so the default maxIter=25 covers
    // any graph with diameter < 2^25 — hitting this means maxIter was
    // lowered or the loop regressed.
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge after $maxIter rounds " +
          s"($changed labels still moving) — raise maxIter"
      )
    labels.select(col("id").as("doc_id"), col("label").as("canonical_id"))
  }

  /** QUALITY-AWARE survivor election: one row per cluster, keeping the
    * member with the HIGHEST score (ties → smallest id) — the RefinedWeb
    * convention (keep the best document of a duplicate cluster, not the
    * arbitrary minimum id the CC label happens to pin). Compose with
    * [[connectedComponentsKeyed]] for the labels and any scoring column
    * ([[TextStats.qualityScore]], length, recency) for the election.
    *
    * Scale shape: ONE hash aggregate — the election is
    * `max(struct(score, −id))` (struct ordering = score DESC, then id
    * ASC via the negation), so partials combine map-side and the shuffle
    * carries one ≤(score, id, cluster) row per cluster per partition —
    * never the window formulation's full-cluster sort.
    *
    * @param labeled one row per doc with the cluster and score columns
    *                already attached (unclustered docs are their own
    *                cluster — coalesce the label upstream)
    * @return (cluster_id, doc_id, `scoreName`) — the elected survivor
    */
  def survivorsBy(
      labeled: DataFrame,
      clusterCol: Column,
      idCol: Column,
      scoreCol: Column,
      scoreName: String = "score"
  ): DataFrame =
    labeled
      .groupBy(clusterCol.as("cluster_id"))
      .agg(max(struct(scoreCol.as("s"), (-idCol).as("nid"))).as("w"))
      .select(
        (-col("w.nid")).as("doc_id"),
        col("cluster_id"),
        col("w.s").as(scoreName))

  /** 32-bit SimHash over word tokens. Bit i of the fingerprint is the sign
    * of the sum over tokens of ±1, where the vote is bit (i mod 4) of hex
    * digit (i div 4) of md5(token). Pure per-row array algebra: fingerprints
    * are computed map-side; grouping equal fingerprints finds near-dups.
    *
    * Convenience single-Column form — the 32 bit-sums each re-evaluate the
    * md5 transform when inlined. [[simhashed]] is the scale path.
    */
  def simhash32(textCol: Column): Column = {
    val tokens = array_distinct(split(trim(textCol), "\\s+"))
    val h32 = transform(tokens, t => conv(substring(md5(t), 1, 8), 16, 10).cast("long"))
    simhashFromH32(h32)
  }

  /** Fingerprint from a per-token array of 32-bit hash values (the first 8
    * hex chars of md5(token) as a long). Bit (4*(7-digit)+bit) of the hash
    * IS the vote for fingerprint bit i = digit*4 + bit — same bit layout as
    * the hex-digit formulation above.
    */
  private def simhashFromH32(h32: Column): Column =
    (0 until 32).map { i =>
      val digitIdx = i / 4
      val bitIdx = i % 4
      val shift = 4 * (7 - digitIdx) + bitIdx
      val s = aggregate(
        h32,
        lit(0L),
        (acc, v) => acc + when(shiftright(v, shift) % 2 === 1, lit(1L)).otherwise(lit(-1L))
      )
      when(s > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Staged SimHash pipeline: one md5 pass per token materialized as an
    * attribute, then the 32 bit-sums run shift arithmetic over it — the
    * single-expression form re-evaluates the md5 transform 32× per row once
    * CollapseProject inlines it (measured 5.7s → <1s at sf0.1).
    */
  def simhashed(df: DataFrame, idCol: Column, textCol: Column, outName: String = "fp"): DataFrame =
    df.select(idCol.as("id"), array_distinct(split(trim(textCol), "\\s+")).as("toks"))
      .select(
        col("id"),
        transform(col("toks"), t => conv(substring(md5(t), 1, 8), 16, 10).cast("long")).as("h32")
      )
      .select(col("id"), simhashFromH32(col("h32")).as(outName))

  /** N-gram Jaccard similarity between two shingle arrays (exact
    * verification stage after LSH candidates; |A∩B| / |A∪B| as double).
    * Generic form: no ordering assumption (hash-based built-ins).
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }

  /** [[jaccard]] over SORTED distinct arrays ([[shingled]]'s contract):
    * ONE zero-allocation merge walk replaces array_intersect's AND
    * array_union's per-pair hash sets — `|A∪B| = |A| + |B| − |A∩B|`, so
    * the union is never materialized at all. Same integers divided, so
    * every verify value (and oracle hash) is unchanged.
    */
  def jaccardSorted(a: Column, b: Column): Column = {
    val inter = call_function("graft_inter_sorted", a, b)
    val union = size(a).cast("long") + size(b).cast("long") - inter
    when(union === 0, lit(0.0)).otherwise(inter.cast("double") / union.cast("double"))
  }

  /** EXACT set-similarity self-join (token-set Jaccard ≥ τ) via PREFIX
    * FILTERING — the deterministic complement of MinHash LSH: LSH trades
    * recall for speed probabilistically; prefix filtering prunes with a
    * THEOREM. Order every document's distinct tokens canonically by
    * ascending document frequency (rarest first, ties by token); if
    * J(A,B) ≥ τ, then A and B MUST share a token within their first
    * `|X| − ⌈τ·|X|⌉ + 1` tokens (skipping a full prefix leaves too few
    * tokens to reach τ — the PPJoin/AllPairs prefix principle). So the
    * candidate join runs on PREFIX tokens only — by construction the
    * RAREST tokens, whose postings are short: the frequent-token blowup
    * an any-token join suffers is exactly what df-ordering excludes from
    * prefixes. Every candidate is verified with the exact intersection,
    * and the threshold compare is cross-multiplied integers
    * (`inter·den ≥ num·(|A|+|B|−inter)`) — no float can flip a
    * boundary pair.
    *
    * τ is the rational num/den; recall is 100% by the prefix theorem,
    * precision 100% by the verify — output IS the truth, which is what
    * the oracle computes directly (no replay of the pruning needed).
    *
    * Scale shape (full PPJoin, Xiao et al. 2008): one token-key shuffle
    * for df counts, one doc-key re-agg for the canonical ordering, then a
    * NARROW prefix-token self-join — each side carries only
    * `(ptoken, id, n, p)`, never the token arrays — pruned by THREE
    * sound filters before anything wide moves:
    *  - prefix filter (which tokens explode at all);
    *  - LENGTH filter: J ≥ τ forces min(|A|,|B|) ≥ τ·max(|A|,|B|), so
    *    cross-size candidates die at the join;
    *  - POSITIONAL filter: a shared token at (1-based) positions
    *    (p_lo, p_hi) bounds the overlap by
    *    `min(p_lo,p_hi) − 1` (commons strictly before it — both arrays
    *    share one global order) `+ 1 + min(n_lo−p_lo, n_hi−p_hi)`
    *    (commons from it on); J ≥ τ ⟺ inter·(num+den) ≥ num·(n_lo+n_hi),
    *    so rows whose bound can't reach that die too. Sound because for
    *    a true pair the FIRST shared prefix token's bound ≥ the true
    *    intersection ≥ the requirement — some row always survives.
    * Only the surviving `(id_lo, id_hi)` pairs — deduped while still
    * narrow — re-join the token arrays (by id, two broadcast-or-shuffle
    * hash joins) for the single exact intersection verify, with the
    * threshold compare in cross-multiplied integers so no float flips a
    * boundary pair. The df join is the familiarity-style vocabulary
    * join; at corpora where the vocabulary head dominates, swap in the
    * same hot-broadcast/cold-shuffle split.
    */
  /** Asymmetric CONTAINMENT join: ordered pairs `(id_a, id_b)`, a ≠ b,
    * with `|A∩B| / |A| ≥ τ` — the QUOTE/SUBSET detector symmetric Jaccard
    * misses by construction (a tweet quoted inside a long article scores
    * near-zero Jaccard but containment 1.0; so do boilerplate inclusions
    * and excerpt pages). τ is exact rational `tauNum/tauDen`, every
    * compare cross-multiplied integers.
    *
    * Same PPJoin skeleton as [[prefixFilterPairs]] with the containment
    * prefix principle: if `|A∩B| ≥ ⌈τ|A|⌉` then A's df-ordered prefix of
    * length `|A| − ⌈τ|A|⌉ + 1` must hit B (else the remaining suffix
    * can't reach the bound) — but the INDEX side posts its FULL token
    * set (containment imposes no upper bound on |B|, so the symmetric
    * length filter is unsound here; only `|B| ≥ ⌈τ|A|⌉` survives —
    * overlap can't exceed |B|). That full-set posting IS the classic
    * inverted index — token-proportional, the cost containment
    * fundamentally needs. Candidates dedupe while narrow, then ONE exact
    * merge-walk verify (`graft_inter_sorted`) per pair.
    *
    * The set universe matters: over raw unigrams a small shared
    * vocabulary makes near-everything contained in near-everything
    * (measured: ~80k pairs on the 500-doc fixture) — so the operator
    * works over `shingle`-gram sets (distinct word n-grams, the
    * [[shingled]] universe), where containment means SHARED PHRASING,
    * not shared vocabulary. `shingle = 1` degrades to unigrams
    * explicitly.
    *
    * @return (id_a, id_b, inter, n_a, n_b, containment_ppm) — ppm exact
    *         integer div of inter·10⁶ by |A|
    */
  def containmentPairs(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      tauNum: Int,
      tauDen: Int,
      shingle: Int = 3
  ): DataFrame = {
    require(tauNum > 0 && tauNum <= tauDen, "τ = num/den must be in (0, 1]")
    require(shingle >= 1, "shingle width must be >= 1")
    val tok =
      if (shingle == 1)
        df.select(idCol.as("id"), explode(array_distinct(split(trim(textCol), "\\s+"))).as("token"))
          .filter(length(col("token")) > 0)
      else
        df.select(idCol.as("id"), split(trim(textCol), "\\s+").as("__w"))
          .select(col("id"), explode(gramsFromWords(col("__w"), shingle)).as("token"))
          .filter(length(col("token")) > 0)
    val dfreq = tok.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val ordered = graft.Memo.planFrame(
      tok
        .join(dfreq, Seq("token"))
        .groupBy(col("id"))
        .agg(
          sort_array(collect_list(struct(col("df"), col("token")))).as("ord"),
          count(lit(1)).as("n"))
        .withColumn(
          "L",
          (col("n") - expr(s"cast(($tauNum * n + ${tauDen - 1}) div $tauDen as bigint)") + 1)
            .cast("int"))
        .select(
          col("id"),
          col("n"),
          expr("transform(slice(ord, 1, L), x -> x.token)").as("pref"),
          sort_array(expr("transform(ord, x -> x.token)")).as("toks")),
      "contain_ord")
    val prefA = ordered
      .select(col("id").as("id_a"), col("n").as("n_a"), explode(col("pref")).as("ptoken"))
    val allB = ordered
      .select(col("id").as("id_b"), col("n").as("n_b"), explode(col("toks")).as("ptoken"))
    val cand = prefA
      .join(allB, Seq("ptoken"))
      .filter(col("id_a") =!= col("id_b"))
      // overlap ≤ |B|: candidates with |B|·den < num·|A| can never reach τ
      .filter(col("n_b") * tauDen >= lit(tauNum) * col("n_a"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    cand
      .join(ordered.select(col("id").as("id_a"), col("toks").as("t_a"), col("n").as("n_a")), Seq("id_a"))
      .join(ordered.select(col("id").as("id_b"), col("toks").as("t_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("inter", call_function("graft_inter_sorted", col("t_a"), col("t_b")))
      .filter(col("inter") * tauDen >= lit(tauNum) * col("n_a"))
      .select(
        col("id_a"), col("id_b"), col("inter"), col("n_a"), col("n_b"),
        expr("inter * 1000000 div n_a").as("containment_ppm"))
  }

  def prefixFilterPairs(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      tauNum: Int,
      tauDen: Int
  ): DataFrame = {
    require(tauNum > 0 && tauNum <= tauDen, "τ = num/den must be in (0, 1]")
    val tok = df
      .select(idCol.as("id"), explode(array_distinct(split(trim(textCol), "\\s+"))).as("token"))
      .filter(length(col("token")) > 0)
    val dfreq = tok.groupBy(col("token")).agg(count(lit(1)).as("df"))
    // Spilled once: the plan references `ordered` FOUR times (both candidate
    // sides + both re-widen joins), and without materialization each
    // reference recomputes tokenize → df-join → sort-agg from the scan.
    // Two token representations, each sized for its consumer: `pref` keeps
    // ONLY the df-ordered prefix (≈ (1−τ)·n tokens — at τ=19/20 that is
    // 5% of the document); `toks` is the full set sorted in sort_array
    // (binary UTF8) order, the precondition of the native merge-walk
    // verify (graft_inter_sorted). The df-ordered full array is never
    // materialized past the aggregate.
    val ordered = graft.Memo.planFrame(
      tok
        .join(dfreq, Seq("token"))
        .groupBy(col("id"))
        .agg(
          sort_array(collect_list(struct(col("df"), col("token")))).as("ord"),
          count(lit(1)).as("n"))
        .withColumn(
          "L",
          (col("n") - expr(s"cast(($tauNum * n + ${tauDen - 1}) div $tauDen as bigint)") + 1).cast("int"))
        .select(
          col("id"),
          col("n"),
          expr("transform(slice(ord, 1, L), x -> x.token)").as("pref"),
          sort_array(expr("transform(ord, x -> x.token)")).as("toks")),
      "setsim_ord")
    // prefix positions, 1-based: (ptoken, id, n, p) — the ONLY columns that
    // enter the candidate join; the widest column (toks) stays home.
    val pref = ordered
      .select(col("id"), col("n"), posexplode(col("pref")).as(Seq("p0", "ptoken")))
      .select(col("ptoken"), col("id"), col("n"), (col("p0") + 1).as("p"))
    val lo = pref.select(col("ptoken"), col("id").as("id_lo"), col("n").as("n_lo"), col("p").as("p_lo"))
    val hi = pref.select(col("ptoken"), col("id").as("id_hi"), col("n").as("n_hi"), col("p").as("p_hi"))
    val overlapBound = // upper bound on |A∩B| given this shared token's positions
      least(col("p_lo"), col("p_hi")) - 1 + lit(1) +
        least(col("n_lo") - col("p_lo"), col("n_hi") - col("p_hi"))
    val cand = lo.join(hi, Seq("ptoken"))
      .filter(col("id_lo") < col("id_hi"))
      // length filter: min·den ≥ num·max
      .filter(least(col("n_lo"), col("n_hi")) * tauDen >=
        lit(tauNum) * greatest(col("n_lo"), col("n_hi")))
      // positional filter: bound·(num+den) ≥ num·(n_lo+n_hi)
      .filter(overlapBound * (tauNum + tauDen) >= lit(tauNum) * (col("n_lo") + col("n_hi")))
      .select(col("id_lo"), col("id_hi"))
      .dropDuplicates("id_lo", "id_hi")
    // re-widen ONLY survivors: two id-key hash joins bring the sorted
    // arrays back for the single exact verify pass — a zero-allocation
    // merge walk (graft_inter_sorted) instead of array_intersect's
    // per-pair hash set; identical cardinality, so the oracle is unmoved.
    // The verified pair set is itself spilled: it is the shared input of
    // every downstream consumer (the dedup report, the triangle census,
    // survivor selection), and a session computing two of them would
    // otherwise run the candidate join + verify once per consumer.
    graft.Memo.planFrame(
      cand
        .join(ordered.select(col("id").as("id_lo"), col("toks").as("t_lo"), col("n").as("n_lo")), Seq("id_lo"))
        .join(ordered.select(col("id").as("id_hi"), col("toks").as("t_hi"), col("n").as("n_hi")), Seq("id_hi"))
        .withColumn("inter", call_function("graft_inter_sorted", col("t_lo"), col("t_hi")))
        .filter(col("inter") * tauDen >= lit(tauNum) * (col("n_lo") + col("n_hi") - col("inter")))
        .select(col("id_lo"), col("id_hi"), col("inter"), col("n_lo"), col("n_hi")),
      "setsim_pairs")
  }

  /** Cross-document EXACT substring overlap — the positional complement of
    * set-based n-gram Jaccard: two documents sharing `r` CONSECUTIVE word
    * n-grams share an exact `(r + n - 1)`-token substring (the
    * exact-substring dedup signal of "Deduplicating Training Data Makes
    * Language Models Better", Lee et al. 2022). Emits, per ordered pair,
    * the number of shared (gram, position) matches, the longest shared run
    * in tokens, and that run's 0-based token offset in the lo-side
    * document, for pairs whose longest run spans at least `minRunGrams`
    * grams.
    *
    * Scale posture: an inverted-index self-join on RARE grams only
    * (document frequency ≤ `maxDocFreq` — the frequent-gram quarantine
    * that bounds bucket fan-out, same rationale as the LSH band cap), with
    * the shuffle pinned on the gram key before the self-join so both sides
    * reuse one exchange. Runs resolve with a single gaps-and-islands
    * window pass per (pair, diagonal) — matches on one diagonal
    * (`pos_lo - pos_hi` constant) with consecutive positions form one
    * island, so the window never sees more rows than the match set.
    */
  def sharedNgramRuns(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      n: Int = 3,
      maxDocFreq: Int = 10,
      minRunGrams: Int = 2,
      contentKey: Option[String] = None
  ): DataFrame = {
    require(n >= 1, "n must be positive")
    require(maxDocFreq >= 1, "maxDocFreq must be positive")
    require(minRunGrams >= 1, "minRunGrams must be positive")
    val g = rareGramsKeyed(df, idCol, textCol, n, maxDocFreq, contentKey)
    val lo = g.select(col("gram"), col("doc_id").as("id_lo"), col("pos").as("pos_lo"))
    val hi = g.select(col("gram"), col("doc_id").as("id_hi"), col("pos").as("pos_hi"))
    val m = lo
      .join(hi, Seq("gram"))
      .filter(col("id_lo") < col("id_hi"))
      .select(col("id_lo"), col("id_hi"), col("pos_lo"), col("pos_hi"))
    ngramRunStats(m, n, minRunGrams)
  }

  /** Cross-table variant of [[sharedNgramRuns]] — span-level benchmark
    * contamination evidence: for every (training doc, probe doc) pair
    * sharing at least one rare n-gram, the match count and the longest
    * exact shared token run. Complements [[graft.ext.Curation.decontaminate]]
    * (which answers "how much of this doc is benchmark material") with
    * WHERE the overlap is and HOW LONG its longest verbatim span runs.
    * The probe side is assumed benchmark-sized and broadcasts; the rare
    * quarantine is computed on the training side (the side whose
    * boilerplate explodes fan-out).
    */
  def crossNgramRuns(
      train: DataFrame,
      idCol: Column,
      textCol: Column,
      probe: DataFrame,
      probeIdCol: Column,
      probeTextCol: Column,
      n: Int = 3,
      maxDocFreq: Int = 10,
      minRunGrams: Int = 2,
      contentKey: Option[String] = None
  ): DataFrame = {
    require(n >= 1, "n must be positive")
    require(maxDocFreq >= 1, "maxDocFreq must be positive")
    require(minRunGrams >= 1, "minRunGrams must be positive")
    val gt = rareGramsKeyed(train, idCol, textCol, n, maxDocFreq, contentKey)
    val gp = positionalGrams(probe, probeIdCol, probeTextCol, n)
    val m = gt
      .join(
        broadcast(gp.select(col("gram"), col("doc_id").as("id_hi"), col("pos").as("pos_hi"))),
        "gram")
      .select(col("doc_id").as("id_lo"), col("id_hi"), col("pos").as("pos_lo"), col("pos_hi"))
    ngramRunStats(m, n, minRunGrams)
      .select(
        col("id_lo").as("doc_id"),
        col("id_hi").as("bench_id"),
        col("n_matches"),
        col("max_run_tokens"),
        col("max_run_start"))
  }

  /** Positional grams with the frequent-gram quarantine already applied.
    * The explode runs ONCE: the gram-keyed repartition is pinned BEFORE
    * the plan branches, so the frequency branch and the quarantine join
    * both read the same reused exchange (`PlanOps.fence` blocks expression
    * inlining but does not materialize — an unpinned branch would
    * re-execute the explode per consumer). The frequency count itself is
    * distinct→partial-agg: duplicate (gram, doc) pairs collapse MAP-SIDE
    * before any shuffle, so a boilerplate gram's millions of occurrences
    * reduce to its document count instead of concentrating in one task
    * (a per-gram window sort cannot be skew-split), and a null doc id
    * counts as one document, not one per occurrence. The quarantine join
    * is hinted shuffle-hash: sort-merge would sort every gram partition
    * of the UNFILTERED frame — frequent grams included — before the
    * filter could drop them. The trailing repartition moves only the
    * rare-filtered rows and roots the frame so BOTH downstream self-join
    * sides reuse the entire chain.
    */
  /** [[rareGrams]], optionally content-key-spilled (the kcorePeel
    * round-sharing discipline): gram extraction + frequency quarantine is
    * deterministic in (corpus, n, maxDocFreq), so when the caller asserts
    * the input's identity the rare positional-gram index lands in the
    * plan-keyed parquet memo ONCE and every consumer — the same-corpus
    * runs query, the contamination probe, and repeated bench passes —
    * reads the built index instead of replaying explode + doc-freq +
    * quarantine join. The self-join sides re-shuffle only the
    * rare-filtered rows off the spill (small by construction).
    */
  private def rareGramsKeyed(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      n: Int,
      maxDocFreq: Int,
      contentKey: Option[String]
  ): DataFrame =
    graft.Memo.frame("rare_grams", contentKey.map(key => s"$key|n=$n|df=$maxDocFreq"), df.sparkSession)(
      rareGrams(df, idCol, textCol, n, maxDocFreq))

  private def rareGrams(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      n: Int,
      maxDocFreq: Int
  ): DataFrame = {
    val g0 = positionalGrams(df, idCol, textCol, n).repartition(col("gram"))
    val rare = g0
      .select(col("gram"), col("doc_id"))
      .distinct()
      .groupBy("gram")
      .agg(count(lit(1)).as("__ndocs"))
      .filter(col("__ndocs") <= maxDocFreq)
      .select("gram")
    g0.join(rare.hint("shuffle_hash"), "gram")
      .repartition(col("gram"))
  }

  /** Positional word n-grams: one (doc_id, pos, gram) row per gram
    * occurrence — NOT distinct, positions are the point. Fenced to stop
    * the optimizer inlining the gram lambda into downstream operators.
    */
  private def positionalGrams(df: DataFrame, idCol: Column, textCol: Column, n: Int): DataFrame = {
    // REGEX trim, not trim(): trim strips only spaces, so a tab/newline-led
    // document would survive the emptiness guard and split to a leading ""
    // ARTIFACT token — a bogus gram at pos 0 shifting every position after
    // it (and falsely pairing whitespace-only docs at n=1)
    val clean = regexp_replace(textCol, "^\\s+|\\s+$", "")
    val toks = split(clean, "\\s+")
    graft.ops.PlanOps.fence(
      df
        .filter(length(clean) > 0)
        .select(idCol.as("doc_id"), toks.as("__toks"))
        .filter(size(col("__toks")) >= n)
        .select(
          col("doc_id"),
          posexplode(
            transform(
              sequence(lit(0), size(col("__toks")) - n),
              i => concat_ws(" ", (0 until n).map(k => element_at(col("__toks"), i + lit(k + 1))): _*)
            )
          ).as(Seq("pos", "gram"))
        )
    )
  }

  /** Gaps-and-islands run resolution over a positional match set
    * `(id_lo, id_hi, pos_lo, pos_hi)`: matches on one diagonal
    * (`pos_lo - pos_hi` constant) with consecutive positions form one
    * island; the longest island is the longest exact shared substring, and
    * `max_run_start` is its 0-based token offset in the lo-side document
    * (smallest offset on ties — deterministic for the oracle compare).
    */
  private def ngramRunStats(m: DataFrame, n: Int, minRunGrams: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("id_lo"), col("id_hi"), col("__diag")).orderBy(col("pos_lo"))
    val wp = Window.partitionBy(col("id_lo"), col("id_hi"))
    m.withColumn("__diag", col("pos_lo") - col("pos_hi"))
      .withColumn("__isl", col("pos_lo") - row_number().over(w))
      .groupBy(col("id_lo"), col("id_hi"), col("__diag"), col("__isl"))
      .agg(count(lit(1)).as("__run"), min(col("pos_lo")).as("__start"))
      // the pair-level max run, visible per island row so the start of the
      // winning island(s) survives the final aggregation
      .withColumn("__maxrun", max(col("__run")).over(wp))
      .groupBy(col("id_lo"), col("id_hi"))
      // total matches = sum of run lengths, so one aggregation tree serves
      // all outputs instead of a second pass over the match set
      .agg(
        sum(col("__run")).as("n_matches"),
        max(col("__run")).as("__best"),
        min(when(col("__run") === col("__maxrun"), col("__start"))).as("__beststart"))
      .filter(col("__best") >= minRunGrams)
      .select(
        col("id_lo"),
        col("id_hi"),
        col("n_matches").cast("long").as("n_matches"),
        (col("__best") + (n - 1)).cast("long").as("max_run_tokens"),
        col("__beststart").cast("long").as("max_run_start")
      )
  }

  /** Streaming exact dedup: keep the first occurrence of each content
    * digest in an event-time stream. State is the digest set within the
    * watermark horizon — `dropDuplicatesWithinWatermark` evicts state for
    * digests older than the watermark, so memory is bounded by the horizon's
    * arrival rate instead of the full stream history (the streaming twin of
    * [[exact]]; a training-data ingest pipeline dedupes its firehose this
    * way).
    */
  def streamingExactDedup(
      stream: DataFrame,
      textCol: Column,
      tsCol: String,
      watermark: String
  ): DataFrame =
    stream
      .withColumn("__digest", md5(textCol))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__digest")
      .drop("__digest")

  /** Streaming twin of [[minhashLshPairs]]: near-dup CANDIDATE PAIRS over an
    * event-time stream via a watermarked stream-stream self-join on the LSH
    * band buckets. Each arriving doc maps to `bands` (band, band-hash) rows
    * (stateless, map-side); the self-join keeps per-bucket state only inside
    * the watermark horizon, so state is bounded by the horizon's arrival
    * rate — the firehose-ingest shape of a training-data pipeline, where a
    * doc only needs comparing against the recent window.
    *
    * Emits (id_lo, id_hi, band) with id_lo < id_hi; a pair colliding in
    * several bands surfaces once per band (streaming global dedupe would
    * need its own state — downstream exact verification is idempotent).
    */
  def streamingLshCandidates(
      stream: DataFrame,
      idCol: Column,
      textCol: Column,
      tsCol: String,
      watermark: String,
      horizonSeconds: Long,
      n: Int = 3,
      k: Int = 8,
      bands: Int = 4
  ): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rows = k / bands
    val banded = minhashSignatures(stream, idCol, textCol, n, k, carry = Seq(tsCol))
      .select(
        col("id"),
        col(tsCol),
        posexplode(
          transform(
            sequence(lit(0), lit(bands - 1)),
            b => md5(array_join(slice(col("sig"), b * rows + 1, lit(rows)), "|"))
          )
        ).as(Seq("band", "bh"))
      )
      .withWatermark(tsCol, watermark)
    val lo = banded.select(col("band"), col("bh"), col("id").as("id_lo"), col(tsCol).as("ts_lo"))
    val hi = banded.select(col("band"), col("bh"), col("id").as("id_hi"), col(tsCol).as("ts_hi"))
    lo.join(
        hi,
        lo("band") === hi("band") && lo("bh") === hi("bh") &&
          col("id_lo") < col("id_hi") &&
          col("ts_hi").between(
            col("ts_lo") - expr(s"INTERVAL $horizonSeconds SECONDS"),
            col("ts_lo") + expr(s"INTERVAL $horizonSeconds SECONDS")
          )
      )
      .select(col("id_lo"), col("id_hi"), lo("band").as("band"))
  }

  /** Streaming form of [[minhashLshProbePairs]]: a STREAM-STATIC inner
    * equi-join of the incoming document stream's band hashes against the
    * static corpus index — the continuous-ingestion dedup shape. The join
    * is STATELESS (no watermark, no state store, append mode): every
    * arriving micro-batch probes the index and emits its matches
    * immediately, which is exactly the semantics of running the batch
    * probe per arrival. A pair surfaces once per colliding band;
    * distinct-on-drain (or downstream state) reduces to the batch answer.
    *
    * The static side is the same capped (band, bh, corpus_id) index the
    * batch probe builds — at scale it is persisted once and only the
    * stream side pays per-batch signature work. No optimizer fence on the
    * stream side (illegal there — see [[graft.ops.PlanOps.fence]]): the
    * per-band signature re-evaluation is the documented cost the batch
    * path's fence avoids.
    */
  def streamingIncrementalCandidates(
      corpus: DataFrame,
      incoming: DataFrame,
      idCol: Column,
      textCol: Column,
      n: Int = 3,
      k: Int = 8,
      bands: Int = 4,
      maxBucket: Int = 0
  ): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rows = k / bands
    val corpusIdx = capBuckets(
      bandedIds(corpus, idCol, textCol, n, k, bands).repartition(col("band"), col("bh")),
      Seq("band", "bh"),
      maxBucket
    ).select(col("band"), col("bh"), col("id").as("corpus_id"))
    minhashSignatures(incoming, idCol, textCol, n, k)
      .select(
        col("id").as("new_id"),
        posexplode(
          transform(
            sequence(lit(0), lit(bands - 1)),
            b => md5(array_join(slice(col("sig"), b * rows + 1, lit(rows)), "|"))
          )
        ).as(Seq("band", "bh"))
      )
      .join(corpusIdx, Seq("band", "bh"))
      .select(col("new_id"), col("corpus_id"))
  }

  /** Embedding-cosine near-duplicate pairs: SRP-bucket the vectors (see
    * [[Similarity.srpBucket]]), generate candidate pairs within each bucket
    * by self-join, keep pairs with cosine ≥ `threshold`. Pairs are rows —
    * a hot bucket spreads its m²/2 candidates across tasks instead of
    * building them inside one row's array (see [[minhashLshPairs]]); the
    * identical join sides share one shuffle via ReusedExchange. Candidate
    * volume is Σ bucket² instead of n². Approximate: near-dups split across
    * buckets are missed (raise `planes` ↔ recall tradeoff).
    *
    * Norms are staged per VECTOR before the join — computing them inside
    * the pair comparison would redo each one once per candidate pair.
    * `maxBucket > 0` drops buckets with more members (explicit quarantine
    * cap for degenerate embedding clusters, 0 = no cap).
    */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: Column,
      vecCol: Column,
      dim: Int,
      planes: Int,
      threshold: Double,
      maxBucket: Int = 0
  ): DataFrame = {
    // explicit bucket-key repartition: the self-join sides canonicalize to
    // one exchange, so SRP hashing + norms run once (see minhashLshPairs).
    // Vectors are integer-quantized so the sim math is exact and
    // engine-reproducible; the quantized copy is staged as an attribute so
    // bucket + norm share one transform per row (see Similarity.srpBucketQ).
    val bucketed = capBuckets(
      df.select(idCol.as("id"), Similarity.quantize(vecCol).as("vec"))
        .select(
          col("id"),
          col("vec"),
          Similarity.srpBucketQ(col("vec"), dim, planes).as("bucket"),
          Similarity.norm(col("vec")).as("nrm")
        )
        .repartition(col("bucket")),
      Seq("bucket"),
      maxBucket
    )
    val lo = bucketed.select(col("bucket"), col("id").as("id_lo"),
      col("vec").as("vec_lo"), col("nrm").as("nrm_lo"))
    val hi = bucketed.select(col("bucket"), col("id").as("id_hi"),
      col("vec").as("vec_hi"), col("nrm").as("nrm_hi"))
    lo.join(hi, Seq("bucket"))
      .filter(col("id_lo") < col("id_hi"))
      .select(
        col("id_lo"),
        col("id_hi"),
        round(Similarity.dot(col("vec_lo"), col("vec_hi")) / (col("nrm_lo") * col("nrm_hi")), 6)
          .as("sim")
      )
      .filter(col("sim") >= threshold)
      // no distinct: each id lives in exactly ONE srp bucket, so every pair
      // is generated at most once — the dedupe shuffle would buy nothing
  }

  /** Embedding-space form of [[minhashLshProbePairs]]: the incoming
    * batch's vectors probe the corpus's SRP-bucket index — cross-side
    * collisions only, never corpus×corpus. Each vector lives in exactly
    * one bucket, so no distinct is needed (unlike the banded text probe).
    * Same quantized, engine-reproducible cosine as
    * [[embeddingNearDupPairs]]; `maxBucket` caps the CORPUS index side
    * (a degenerate embedding cluster there taxes every future batch).
    *
    * @return (new_id, corpus_id, sim) pairs with sim ≥ threshold
    */
  def embeddingIncrementalPairs(
      corpus: DataFrame,
      incoming: DataFrame,
      idCol: Column,
      vecCol: Column,
      dim: Int,
      planes: Int,
      threshold: Double,
      maxBucket: Int = 0
  ): DataFrame = {
    def staged(df: DataFrame, idName: String, suffix: String): DataFrame =
      df.select(idCol.as(idName), Similarity.quantize(vecCol).as(s"vec_$suffix"))
        .select(
          col(idName),
          col(s"vec_$suffix"),
          Similarity.srpBucketQ(col(s"vec_$suffix"), dim, planes).as("bucket"),
          Similarity.norm(col(s"vec_$suffix")).as(s"nrm_$suffix")
        )
    val corpusIdx = capBuckets(
      staged(corpus, "corpus_id", "old").repartition(col("bucket")),
      Seq("bucket"),
      maxBucket
    )
    staged(incoming, "new_id", "new")
      .join(corpusIdx, Seq("bucket"))
      .select(
        col("new_id"),
        col("corpus_id"),
        round(
          Similarity.dot(col("vec_new"), col("vec_old")) / (col("nrm_new") * col("nrm_old")),
          6
        ).as("sim")
      )
      .filter(col("sim") >= threshold)
  }

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    * arXiv:2303.09540): partition the embedding space with a TRAINED
    * coarse quantizer (the paper's k-means clustering step —
    * [[Similarity.kmeansCentroids]], fixed-iteration Lloyd's), then
    * compare pairs only WITHIN a cluster and keep those with cosine ≥
    * `tau`. Complements [[embeddingNearDupPairs]]: SRP buckets are
    * data-independent hyperplane signs (cheap, recall depends on plane
    * count), k-means cells follow the corpus's actual density (the
    * paper's finding: semantic duplicates concentrate inside clusters).
    *
    * Same scale shape as the SRP form: one map-side cell assignment
    * (argmin over a broadcast literal centroid matrix, exact integer
    * squared-L2, first-min tie rule), one explicit cell-key repartition
    * that both self-join sides reuse (ReusedExchange — assignment and
    * norms computed once), candidate volume Σ cell² not n². `maxCell`
    * quarantines degenerate clusters (0 = no cap); at 100 TB `nlist`
    * scales with the corpus so cells stay pair-join-sized, the cap
    * making that bound explicit rather than silent.
    *
    * All sim math is the module's exact integer-quantized contract, so a
    * SQL twin replays training AND pruning bit-for-bit.
    *
    * @param cents trained (or sampled) centroid matrix — model state,
    *              passed in so training cost is paid once per corpus
    * @return (cell, id_lo, id_hi, sim) with id_lo < id_hi, sim ≥ tau
    */
  def semanticPairs(
      df: DataFrame,
      idCol: Column,
      vecCol: Column,
      cents: Array[Seq[Long]],
      tau: Double,
      maxCell: Int = 0
  ): DataFrame = {
    val assigned = capBuckets(
      semanticAssigned(df, idCol, vecCol, cents).repartition(col("cell")),
      Seq("cell"),
      maxCell
    )
    val lo = assigned.select(col("cell"), col("id").as("id_lo"),
      col("vec").as("vec_lo"), col("nrm").as("nrm_lo"))
    val hi = assigned.select(col("cell"), col("id").as("id_hi"),
      col("vec").as("vec_hi"), col("nrm").as("nrm_hi"))
    lo.join(hi, Seq("cell"))
      .filter(col("id_lo") < col("id_hi"))
      .select(
        col("cell"),
        col("id_lo"),
        col("id_hi"),
        round(Similarity.dot(col("vec_lo"), col("vec_hi")) / (col("nrm_lo") * col("nrm_hi")), 6)
          .as("sim")
      )
      .filter(col("sim") >= tau)
    // no distinct: an id lives in exactly ONE cell (first-min tie rule),
    // so each pair is generated at most once
  }

  /** Survivors of [[semanticPairs]]: drop every id that has a LOWER-id
    * within-cell neighbor at cosine ≥ tau (greedy keep-lowest-id — this
    * module's deterministic convention, cf. the CC survivors' min-id
    * representative). The paper ranks within a duplicate group by
    * centroid distance; id order is used here so the kept set is total-
    * order-reproducible without a float ranking. One anti-join against
    * the (small) dropped-id side — the corpus never shuffles twice.
    */
  def semanticSurvivors(
      df: DataFrame,
      idCol: Column,
      vecCol: Column,
      cents: Array[Seq[Long]],
      tau: Double,
      maxCell: Int = 0
  ): DataFrame = {
    val dropped = semanticPairs(df, idCol, vecCol, cents, tau, maxCell)
      .select(col("id_hi").as("__drop"))
    df.join(dropped, idCol === col("__drop"), "left_anti")
  }

  /** QUALITY-AWARE [[semanticSurvivors]] — the RefinedWeb convention
    * ([[survivorsBy]]) applied to the semantic path: per near-dup pair,
    * drop the member with the LOWER score (ties → keep the lower id, the
    * same tiebreak as the quality-blind form). The greedy pairwise shape
    * is kept on purpose — in any pair exactly one member loses, so the
    * kept set is total-order-reproducible and the corpus still shuffles
    * once; only the election key changed from id order to (score, −id)
    * order.
    *
    * Scale shape: the pair frame is output-grain (small); its two score
    * joins broadcast the pairs, and the final anti-join's dropped side is
    * ≤ one id per pair.
    *
    * @param scoreCol quality score column of `df` (higher = better —
    *                 [[TextStats.qualityScore]], length, recency)
    */
  def semanticSurvivorsBy(
      df: DataFrame,
      idCol: Column,
      vecCol: Column,
      cents: Array[Seq[Long]],
      tau: Double,
      scoreCol: Column,
      maxCell: Int = 0
  ): DataFrame = {
    val sc = df.select(idCol.as("__sid"), scoreCol.as("__s"))
    val dropped = semanticPairs(df, idCol, vecCol, cents, tau, maxCell)
      .join(sc.select(col("__sid").as("id_lo"), col("__s").as("s_lo")), "id_lo")
      .join(sc.select(col("__sid").as("id_hi"), col("__s").as("s_hi")), "id_hi")
      // id_lo < id_hi by construction, so the tie keeps the lower id
      .select(
        when(col("s_lo") >= col("s_hi"), col("id_hi")).otherwise(col("id_lo")).as("__drop"))
      .distinct()
    df.join(dropped, idCol === col("__drop"), "left_anti")
  }

  /** One (id, vec, cell, nrm) row per vector: quantize, assign the nearest
    * trained cell (map-side argmin, first-min tie rule — the IVF
    * assignment shape), stage the norm. Shared by the self-join pair
    * generator and the persisted-index forms so assignment semantics
    * cannot drift between layout time and query time.
    */
  private def semanticAssigned(
      df: DataFrame,
      idCol: Column,
      vecCol: Column,
      cents: Array[Seq[Long]]
  ): DataFrame = {
    val cmat = typedLit(cents.map(_.toSeq).toSeq)
    df.select(idCol.as("id"), Similarity.quantize(vecCol).as("vec"))
      .withColumn("__d", Similarity.distancesTo(cmat, col("vec")))
      .select(
        col("id"),
        col("vec"),
        (array_position(col("__d"), array_min(col("__d"))) - 1).cast("int").as("cell"),
        Similarity.norm(col("vec")).as("nrm")
      )
  }

  /** The semantic family's [[BucketedIndex.Layout]]: rows
    * (cell, corpus_id, vec, nrm, seq) bucketed by `cell`.
    */
  private[graft] val SemanticLayout = BucketedIndex.Layout("corpus_id", Seq("cell"))

  /** LAYOUT TIME — paid once per corpus: persist the semantic cell index
    * (cell, corpus_id, vec, nrm) `bucketBy(cell)`, so every future
    * incremental batch probes it with ZERO exchange on the corpus side —
    * the embedding-space twin of [[persistLshIndex]], keyed by the
    * TRAINED quantizer's cells instead of band hashes. The centroid
    * matrix is model state: the same `cents` must be passed at probe
    * time (a re-trained quantizer is a new index).
    */
  def persistSemanticIndex(
      corpus: DataFrame,
      idCol: Column,
      vecCol: Column,
      cents: Array[Seq[Long]],
      table: String,
      buckets: Int,
      era: Long = 0L
  ): Unit =
    SemanticLayout.persist(semanticIndexRows(corpus, idCol, vecCol, cents), table, buckets, era)

  private def semanticIndexRows(
      df: DataFrame, idCol: Column, vecCol: Column, cents: Array[Seq[Long]]): DataFrame =
    semanticAssigned(df, idCol, vecCol, cents)
      .select(col("cell"), col("id").as("corpus_id"), col("vec"), col("nrm"))

  /** MAINTENANCE — append a batch to a [[persistSemanticIndex]] table,
    * assigned with the PINNED centroid matrix (no retrain, no rebuild).
    * Under a pinned model, append-then-probe ≡ rebuild-then-probe
    * exactly, because cell/nrm are per-row functions of (vector, model)
    * alone. A re-trained quantizer is a NEW index — never append rows
    * assigned under different centroids.
    *
    * OVERLAP CAVEAT (differs from the other indexes): the semantic
    * probe emits one pair per matching index ROW (no distinct — justified
    * by one-cell-per-id), so a batch appended twice (at-least-once retry)
    * produces DUPLICATE pairs at probe time until [[compactSemanticIndex]]
    * dedupes the rows. Retry-prone writers pass
    * `distinctPairs = true` to [[probeSemanticIndex]] (the enforced
    * at-least-once posture — DedupSpec pins both behaviors) or compact
    * after recovery.
    */
  def appendSemanticIndex(
      incoming: DataFrame,
      idCol: Column,
      vecCol: Column,
      cents: Array[Seq[Long]],
      table: String,
      buckets: Int,
      era: Long = BucketedIndex.nextEra()
  ): Unit =
    SemanticLayout.append(semanticIndexRows(incoming, idCol, vecCol, cents), table, buckets, era)

  /** MAINTENANCE — retract vectors from the semantic cell index
    * ([[BucketedIndex.Layout.delete]]). Contract: delete-then-probe ≡
    * rebuild-without-deleted-then-probe.
    */
  def deleteFromSemanticIndex(
      s: org.apache.spark.sql.SparkSession,
      table: String,
      ids: DataFrame,
      idCol: Column,
      era: Long = BucketedIndex.nextEra()
  ): Unit =
    SemanticLayout.delete(s, table, ids, idCol, era)

  /** MAINTENANCE — bucket-preserving compaction for the semantic index
    * ([[BucketedIndex.Layout.compact]]).
    */
  def compactSemanticIndex(
      s: org.apache.spark.sql.SparkSession,
      table: String,
      buckets: Int
  ): Unit =
    SemanticLayout.compact(s, table, buckets, maxBucket = 0)

  /** MAINTENANCE — versioned probe-safe REBUILD of a
    * [[persistSemanticIndex]] table: the semantic index's model IS the
    * pinned centroid matrix, so re-clustering (new `cents`) demands a
    * full re-assign of the corpus, published as the next version
    * ([[BucketedIndex.publishVersion]]).
    */
  def rebuildSemanticIndex(
      s: org.apache.spark.sql.SparkSession,
      table: String,
      corpus: DataFrame,
      idCol: Column,
      vecCol: Column,
      cents: Array[Seq[Long]],
      buckets: Int
  ): Unit =
    BucketedIndex.publishVersion(s, table)((bld, era) =>
      persistSemanticIndex(corpus, idCol, vecCol, cents, bld, buckets, era = era))

  /** QUERY TIME — paid per batch, corpus side exchange-free: assign the
    * incoming vectors to their cells (map-side, same shared assignment)
    * and join the persisted index on `cell`; keep cross-side pairs with
    * cosine ≥ tau. Identical pair semantics to restricting
    * [[semanticPairs]] to cross-side pairs — layout is execution, not
    * meaning. Each vector lives in exactly ONE cell, so no distinct is
    * needed (unlike the banded LSH probe) — UNLESS the index may hold
    * duplicate rows from an at-least-once append retry or a
    * delete-then-reappend (the re-appended row coexists with the
    * tombstoned one until compaction folds them): `distinctPairs = true`
    * is the enforced posture for such writers, paying one output-grain
    * distinct for exactly-once pair semantics. Tombstoned ids
    * ([[deleteFromSemanticIndex]]) anti-join out before the cell join.
    *
    * @return (new_id, corpus_id, sim) pairs with sim ≥ tau
    */
  def probeSemanticIndex(
      s: org.apache.spark.sql.SparkSession,
      table: String,
      incoming: DataFrame,
      idCol: Column,
      vecCol: Column,
      cents: Array[Seq[Long]],
      tau: Double,
      distinctPairs: Boolean = false
  ): DataFrame = {
    val pairs = semanticAssigned(incoming, idCol, vecCol, cents)
      .select(col("cell"), col("id").as("new_id"), col("vec").as("vec_new"),
        col("nrm").as("nrm_new"))
      .join(SemanticLayout.live(s, table), Seq("cell"))
      .select(
        col("new_id"),
        col("corpus_id"),
        round(Similarity.dot(col("vec_new"), col("vec")) / (col("nrm_new") * col("nrm")), 6)
          .as("sim"))
      .filter(col("sim") >= tau)
    if (distinctPairs) pairs.distinct() else pairs
  }
}
