package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search (north-star extension, SURVEY.md §7.5).
  *
  * Vectors are `array<float>` columns. All arithmetic is built-in array
  * higher-order functions (`zip_with` + `aggregate`) — codegen'd, per-row,
  * deterministic left-to-right accumulation in double precision (so results
  * are bit-reproducible and oracle-comparable).
  *
  * Scale paths:
  *   - [[bruteForceTopK]]: query-set broadcast × corpus scan — exact, O(Q·N),
  *     right when Q is small (the usual "probe a handful of queries" shape).
  *   - [[lshBucketTopK]]: sign-random-projection bucketing — each vector maps
  *     to a small bucket key; candidates shuffle only within buckets
  *     (IVF-style). Approximate: probes its own bucket.
  */
object Similarity {

  /** Left-to-right double-precision dot product of two quantized vectors —
    * the native codegen expression ([[graft.functions.ArrayDot]], requires
    * [[graft.GraftExtensions]], which every entry point registers).
    * Bit-identical to [[dotHof]], the built-in formulation it replaced:
    * same casts, same multiply, same fold order (parity spec-asserted).
    */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** The built-in HOF formulation of [[dot]] — kept as the executable
    * definition of the exactness contract the native expression must
    * match, and for sessions without the extension registered.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v
    )

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k by cosine for each query vector: broadcast the (small)
    * query set against the corpus, admit into a BOUNDED per-query heap.
    * Ties broken by candidate id for determinism. Vectors are integer-
    * quantized (see [[quantize]]) so the ranking is engine-reproducible.
    *
    * Scale shape: the q×N scoring work is brute force's inherent cost,
    * but the EXCHANGE is not — a window rank
    * (`row_number() OVER (PARTITION BY query_id)`) would shuffle every
    * scored pair (linear in corpus size: 80 MB at sf0.1, ~8 GB at
    * 100×); the [[graft.ops.agg.TopKHeapSim]] typed Aggregator admits
    * map-side into ≤k-element heaps and merges partials, so the shuffle
    * carries at most q×k rows per map partition regardless of N. Same
    * (sim DESC, cand_id ASC) total order as the window it replaced —
    * hash-identical output (ordering parity argued at the Aggregator).
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    // norms are staged once PER SIDE before the join — cosine() inside the
    // join condition would recompute the query norm N times and each
    // candidate norm Q times (values identical: exact integer math)
    val q = broadcast(
      queries
        .select(col(idCol).as("query_id"), quantize(col(vecCol)).as("q_vec"))
        .withColumn("q_nrm", norm(col("q_vec")))
    )
    val c = corpus
      .select(col(idCol).as("cand_id"), quantize(col(vecCol)).as("c_vec"))
      .withColumn("c_nrm", norm(col("c_vec")))
    val scored = c
      .join(q, col("query_id") =!= col("cand_id"))
      .withColumn("sim", dot(col("q_vec"), col("c_vec")) / (col("q_nrm") * col("c_nrm")))
    heapTopKDesc(scored, "sim", k).withColumn("sim", round(col("sim"), 6))
  }

  /** Deterministic training-free coarse quantizer: the `nlist` lowest-id
    * corpus vectors, collected as floats then quantized driver-side with
    * the same floor(x*1000+0.5) rule as the plan-side vectors — so the
    * whole assignment + ranking pipeline downstream is exact integer math
    * (engine-neutral). `nlist × dim` longs must stay driver-small (they
    * are the model, not the data).
    */
  def sampleCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int
  ): Array[Seq[Long]] =
    corpus
      .orderBy(col(idCol))
      .limit(nlist)
      .select(col(vecCol))
      .collect()
      .map(_.getSeq[Float](0).map(x => math.floor(x.toDouble * 1000 + 0.5).toLong))

  /** TRAINED coarse quantizer: fixed-iteration distributed Lloyd's k-means
    * over the quantized vectors, seeded by [[sampleCentroids]] (the
    * deterministic init). Each iteration is ONE Spark job with the
    * IVF assignment shape itself: a map-side nearest-centroid argmin
    * (distances to a broadcast literal centroid matrix, exact integer
    * squared-L2), then a single combine-friendly (cell, dim) aggregation
    * whose output is `nlist × dim` rows — the only thing collected, the
    * model, never the data. No mllib, no RDDs, no per-row UDF.
    *
    * Exactness: members' quantized coordinates are integers, so the cell
    * sums are order-independent; the new coordinate is
    * floor(sum/n + 0.5) — one correctly-rounded double division of exact
    * integers, bit-identical in any engine (the module's half-up
    * convention), so a SQL twin can replay training verbatim. Empty cells
    * keep their previous centroid (standard Lloyd's degenerate-cell rule),
    * deterministically. The iteration count is FIXED, not convergence-
    * tested: convergence thresholds reintroduce float comparisons and make
    * the oracle a moving target; at 100 TB each extra iteration is one
    * linear scan, so the caller budgets them explicitly.
    */
  def kmeansCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      iters: Int
  ): Array[Seq[Long]] = {
    require(iters >= 0, "iters must be >= 0")
    var cents = sampleCentroids(corpus, idCol, vecCol, nlist)
    val dim = if (cents.isEmpty) 0 else cents(0).length
    for (_ <- 1 to iters) {
      val cmat = typedLit(cents.map(_.toSeq).toSeq)
      val assigned = corpus
        .select(quantize(col(vecCol)).as("q"))
        .withColumn("__d", distancesTo(cmat, col("q")))
        .withColumn("cell", (array_position(col("__d"), array_min(col("__d"))) - 1).cast("int"))
        .drop("__d")
      // fence before the posexplode: `q` is a BUILT array (quantize) with a
      // single consumer — unfenced, the transform inlines into Generate and
      // re-evaluates per emitted element (dim× work per row; see PlanOps)
      val sums = graft.ops.PlanOps
        .fence(assigned)
        .select(col("cell"), posexplode(col("q")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
        .select(
          col("cell"),
          col("pos"),
          floor(col("s").cast("double") / col("n").cast("double") + 0.5).cast("long").as("v"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
        }
      cents = cents.indices.map { cell =>
        val next = sums.getOrElse(cell, cents(cell))
        require(next.length == dim, s"cell $cell: dim drift ${next.length} vs $dim")
        next
      }.toArray
    }
    cents
  }

  /** Squared-L2 distances of `vec` to every row of the literal centroid
    * matrix `cmat` — the native kernel ([[graft.functions.ArrayL2SqAll]]);
    * ONE nested-array literal probed per row, so the plan stays small and
    * data-independent in shape regardless of the centroid set. Arithmetic
    * and per-entry nulls are identical to [[distancesToHof]], the HOF
    * formulation it replaced (parity spec-asserted in ArrayDistSpec).
    */
  private[ext] def distancesTo(cmat: Column, vec: Column): Column =
    call_function("graft_l2sq", cmat, vec)

  /** The built-in HOF formulation of [[distancesTo]] — kept as the
    * executable exactness contract the native kernel must match.
    */
  private[ext] def distancesToHof(cmat: Column, vec: Column): Column =
    transform(
      cmat,
      c =>
        aggregate(
          zip_with(vec, c, (x, y) => (x - y) * (x - y)),
          lit(0L),
          (acc, v) => acc + v
        )
    )

  /** PQ asymmetric-distance sum `Σ_j tbl[j][codes[j]]` — the native
    * kernel ([[graft.functions.ArrayAdcSum]]), evaluated once per
    * candidate pair in PQ/IVFPQ ranking. Identical to [[adcSumHof]]
    * (parity spec-asserted in ArrayDistSpec).
    */
  /** Per-query top-k of a scored candidate frame by (`simCol` DESC,
    * cand_id ASC) through the BOUNDED heap ([[graft.ops.agg.TopKHeapSim]])
    * — the shared ranking tail of every top-k server in this module. The
    * window formulation it replaced (`row_number() OVER (PARTITION BY
    * query_id ORDER BY sim DESC, cand_id)`) shuffles every scored
    * candidate to keep k: at audit grain (625 queries × the corpus at
    * sf0.1) that was 80 MB — linear in corpus size. The heap admits
    * map-side and merges partials, so the exchange carries ≤ q×k rows
    * per map partition. Identical total order → hash-identical output.
    */
  private[graft] def heapTopKDesc(scored: DataFrame, simCol: String, k: Int): DataFrame =
    scored
      .groupBy(col("query_id"))
      .agg(graft.ops.agg.TopKHeapSim.column(k)(col(simCol), col("cand_id").cast("long")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(
        col("query_id"),
        col("col._2").as("cand_id"),
        (col("pos") + 1).as("rank"),
        col("col._1").as(simCol))

  /** [[heapTopKDesc]] for ASCENDING integer distances (the ADC/PQ order:
    * smallest distance first, candidate-id ties): rides the exact
    * (Long, Long) heap on the NEGATED pair — greatest (−adc, −cand_id)
    * is exactly (adc ASC, cand_id ASC) — so the integer distances never
    * touch a float on their way through the heap.
    */
  private def heapBottomKLong(scored: DataFrame, valCol: String, k: Int): DataFrame =
    scored
      .groupBy(col("query_id"))
      .agg(
        graft.ops.agg.TopKHeap
          .column(k)(-col(valCol), -col("cand_id").cast("long"))
          .as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(
        col("query_id"),
        (-col("col._2")).as("cand_id"),
        (col("pos") + 1).as("rank"),
        (-col("col._1")).as(valCol))

  private[ext] def adcSum(tbl: Column, codes: Column): Column =
    call_function("graft_adc", tbl, codes)

  /** The built-in HOF formulation of [[adcSum]] — the executable
    * exactness contract the native kernel must match.
    */
  private[ext] def adcSumHof(tbl: Column, codes: Column): Column =
    aggregate(
      zip_with(tbl, codes, (t, cd) => element_at(t, cd + 1)),
      lit(0L),
      (acc, v) => acc + v)

  /** IVF-style approximate nearest neighbors: a coarse quantizer assigns
    * every corpus vector to its nearest centroid (one cell id per vector,
    * computed map-side); each query probes its `nprobe` nearest cells and
    * ranks only those cells' members. The cell assignment shuffle is the
    * only corpus-wide movement — candidate volume is the probed cells'
    * population, not the corpus.
    *
    * The coarse quantizer is model state by nature. Pass `trainIters = 0`
    * for the training-free deterministic sample ([[sampleCentroids]],
    * FAISS's `nlist`-sample shape) or `> 0` for fixed-iteration Lloyd's
    * training ([[kmeansCentroids]]) — same serving plan either way, the
    * trained centroids just partition the space better (higher recall at
    * equal nprobe; audited in SimilaritySpec).
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      nprobe: Int,
      k: Int,
      trainIters: Int = 0
  ): DataFrame = {
    require(nprobe <= nlist, "nprobe must be <= nlist")
    val centroids: Array[Seq[Long]] =
      if (trainIters == 0) sampleCentroids(corpus, idCol, vecCol, nlist)
      else kmeansCentroids(corpus, idCol, vecCol, nlist, trainIters)
    // a corpus smaller than nlist yields fewer centroids; probing cells that
    // don't exist would zip_with null-padded distances and silently drop
    // neighbors, so clamp the cell count to what was actually collected
    val cells = centroids.length
    val probes = math.min(nprobe, cells)

    // the distance array is staged as an attribute before the argmin so it
    // evaluates once (SCALING.md expression staging)
    val cmat = typedLit(centroids.map(_.toSeq).toSeq)
    def distances(vec: Column): Column = distancesTo(cmat, vec)

    val c = corpus
      .select(col(idCol).as("cand_id"), quantize(col(vecCol)).as("c_vec"))
      .withColumn("c_nrm", norm(col("c_vec")))
      .withColumn("__d", distances(col("c_vec")))
      .withColumn("cell", (array_position(col("__d"), array_min(col("__d"))) - 1).cast("int"))
      .drop("__d")

    // query side: nprobe nearest cells via sorting (distance, idx) structs;
    // the query norm is staged BEFORE the probe explode (once per query,
    // not once per probed cell or candidate pair)
    val q = broadcast(
      queries
        .select(col(idCol).as("query_id"), quantize(col(vecCol)).as("q_vec"))
        .withColumn("q_nrm", norm(col("q_vec")))
        .withColumn("__d", distances(col("q_vec")))
        .withColumn(
          "cell",
          explode(
            slice(
              transform(
                array_sort(
                  zip_with(col("__d"), sequence(lit(0), lit(cells - 1)), (d, i) => struct(d.as("d"), i.as("i")))
                ),
                s => s.getField("i")
              ),
              1,
              probes
            )
          )
        )
        .drop("__d")
    )

    // NO dedupe stage: a candidate carries exactly ONE cell (the argmin is
    // scalar) and a query's probed cells are distinct by construction, so
    // each (query_id, cand_id) pair surfaces at most once from the cell
    // join — the dropDuplicates this replaced was a defensive no-op that
    // cost a full candidate-grain exchange
    val scored = c
      .join(q, Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("sim", dot(col("q_vec"), col("c_vec")) / (col("q_nrm") * col("c_nrm")))
    heapTopKDesc(scored, "sim", k).withColumn("sim", round(col("sim"), 6))
  }

  /** IVFPQ: FAISS's serving composition of the two halves built above —
    * the coarse quantizer prunes candidates to `nprobe` cells
    * ([[ivfTopK]]'s shape) and the fine ranking is PQ asymmetric distance
    * ([[pqAdcTopK]]'s shape) instead of full-vector dots. The corpus-side
    * index row is (cell, codes, id): nsub+1 small ints per vector — the
    * layout a billion-vector index actually stores. One corpus pass
    * computes cell AND codes map-side; the only corpus-wide movement is
    * the (small) cell-key shuffle of that compressed row.
    *
    * Ranking is by ADC distance (ascending, candidate-id ties) over the
    * probed cells' members only. Same exactness contract as both halves:
    * integer distances, first-min tie rule, engine-replayable.
    */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: Array[Seq[Long]],
      nprobe: Int,
      books: Array[Array[Seq[Long]]],
      k: Int
  ): DataFrame = {
    val cells = coarse.length
    val probes = math.min(nprobe, cells)
    val nsub = books.length
    val dsub = books(0)(0).length
    val cmat = typedLit(coarse.map(_.toSeq).toSeq)
    val pm = typedLit(books.map(_.map(_.toSeq).toSeq).toSeq)
    val c = ivfPqIndexFrame(corpus, idCol, vecCol, coarse, books)
    val q = broadcast(
      queries
        .select(col(idCol).as("query_id"), quantize(col(vecCol)).as("q"))
        .withColumn("__d", distancesTo(cmat, col("q")))
        .withColumn(
          "tbl",
          transform(
            sequence(lit(0), lit(nsub - 1)),
            j => distancesTo(element_at(pm, j + 1), slice(col("q"), j * dsub + 1, lit(dsub)))))
        .withColumn(
          "cell",
          explode(
            slice(
              transform(
                array_sort(
                  zip_with(col("__d"), sequence(lit(0), lit(cells - 1)), (d, i) => struct(d.as("d"), i.as("i")))
                ),
                s => s.getField("i")
              ),
              1,
              probes
            )
          )
        )
        .select(col("query_id"), col("cell"), col("tbl")))
    // no dedupe: one cell per candidate × distinct probed cells ⇒ each
    // (query_id, cand_id) pair is unique off the cell join (see ivfTopK)
    val scored = c
      .join(q, Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("adc", adcSum(col("tbl"), col("codes")))
    heapBottomKLong(scored, "adc", k)
  }

  /** The IVFPQ serving-index frame: (cand_id, cell, codes) — one corpus
    * pass, map-side coarse assignment AND PQ coding. This is what
    * [[ivfPqTopK]] computes inline and what [[persistAnnIndex]] stores.
    */
  def ivfPqIndexFrame(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: Array[Seq[Long]],
      books: Array[Array[Seq[Long]]]
  ): DataFrame = {
    val nsub = books.length
    val nlistSub = books(0).length
    val dsub = books(0)(0).length
    val cmat = typedLit(coarse.map(_.toSeq).toSeq)
    val pm = typedLit(books.map(_.map(_.toSeq).toSeq).toSeq)
    def pqCode(j: Column): Column = {
      val d = distancesTo(element_at(pm, j + 1), slice(col("q"), j * dsub + 1, lit(dsub)))
      element_at(
        array_sort(
          zip_with(d, sequence(lit(0), lit(nlistSub - 1)), (dd, ii) => struct(dd.as("d"), ii.as("i")))),
        1
      ).getField("i").cast("int")
    }
    corpus
      .select(col(idCol).as("cand_id"), quantize(col(vecCol)).as("q"))
      .withColumn("__d", distancesTo(cmat, col("q")))
      .withColumn("cell", (array_position(col("__d"), array_min(col("__d"))) - 1).cast("int"))
      .withColumn("codes", transform(sequence(lit(0), lit(nsub - 1)), pqCode(_)))
      .select(col("cand_id"), col("cell"), col("codes"))
  }

  /** The IVF-PQ family's [[BucketedIndex.Layout]]: rows
    * (cand_id, cell, codes, seq) bucketed by `cell`.
    */
  private[graft] val AnnLayout = BucketedIndex.Layout("cand_id", Seq("cell"))

  /** LAYOUT TIME — persist the IVFPQ serving index bucketed by `cell`.
    * The stored row is (cand_id, cell, codes): nsub+1 small ints per
    * vector. A BROADCASTABLE query set never needs this (the cell join
    * broadcasts the queries; the index side never shuffles anyway) — the
    * layout pays off for BATCH SCORING, where the query frame is itself
    * large: both sides then shuffle-join on cell, and the bucketed index
    * side plans exchange-free ([[scoreAgainstAnnIndex]]). The lifecycle
    * (eras, tombstones, compaction, versions) is [[BucketedIndex]]'s.
    */
  def persistAnnIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: Array[Seq[Long]],
      books: Array[Array[Seq[Long]]],
      table: String,
      buckets: Int,
      era: Long = 0L
  ): Unit =
    AnnLayout.persist(ivfPqIndexFrame(corpus, idCol, vecCol, coarse, books), table, buckets, era)

  /** MAINTENANCE — append new vectors to a [[persistAnnIndex]] table,
    * encoded with the FITTED model (the memoized coarse/books — no
    * retrain, no rebuild). Under a pinned model, append-then-probe equals
    * one-shot-rebuild-then-probe exactly (the ann_index_append oracle), because cell and codes are per-row functions of the model
    * alone. Model drift is the trade — audit it with [[pqQuantError]]
    * before trusting an aged model on shifted data.
    */
  def appendAnnIndex(
      incoming: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: Array[Seq[Long]],
      books: Array[Array[Seq[Long]]],
      table: String,
      buckets: Int,
      era: Long = BucketedIndex.nextEra()
  ): Unit =
    AnnLayout.append(ivfPqIndexFrame(incoming, idCol, vecCol, coarse, books), table, buckets, era)

  /** The serving table and tombstone table of a logical index name —
    * [[BucketedIndex.servingTable]] / [[BucketedIndex.tombTable]] under
    * the names `perfbench/scala` calls.
    */
  private[graft] def servingTable(s: org.apache.spark.sql.SparkSession, table: String): String =
    BucketedIndex.servingTable(s, table)
  private[graft] def tombTable(table: String): String = BucketedIndex.tombTable(table)

  /** MAINTENANCE — retract vectors: era-stamped tombstones that every
    * probe anti-joins out before ranking ([[BucketedIndex.Layout.delete]]).
    * Delete-then-probe equals rebuild-without-deleted-then-probe exactly
    * (the ann_index_delete oracle).
    */
  def deleteFromAnnIndex(
      s: org.apache.spark.sql.SparkSession,
      table: String,
      ids: DataFrame,
      idCol: String,
      era: Long = BucketedIndex.nextEra()
  ): Unit =
    AnnLayout.delete(s, table, ids, col(idCol), era)

  /** MAINTENANCE — fold tombstones and append file-sets back to one file
    * per `cell` bucket; probe results are hash-identical before/after
    * ([[BucketedIndex.Layout.compact]]).
    */
  def compactAnnIndex(
      s: org.apache.spark.sql.SparkSession,
      table: String,
      buckets: Int
  ): Unit =
    AnnLayout.compact(s, table, buckets, maxBucket = 0)

  /** MAINTENANCE — blue/green REBUILD, the staleness loop's last arc:
    * when [[pqQuantError]] says the aged model no longer fits the corpus,
    * build the retrained index ASIDE and publish it as the next serving
    * version ([[BucketedIndex.publishVersion]]: probe-safe, one catalog
    * RENAME). Its rows carry a fresh era, so tombstones recorded against
    * the old version cannot hide a re-crawled id in it.
    */
  def rebuildAnnIndex(
      s: org.apache.spark.sql.SparkSession,
      table: String,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: Array[Seq[Long]],
      books: Array[Array[Seq[Long]]],
      buckets: Int
  ): Unit =
    BucketedIndex.publishVersion(s, table)((bld, era) =>
      persistAnnIndex(corpus, idCol, vecCol, coarse, books, bld, buckets, era = era))

  /** STALENESS SIGNAL — the PQ quantization error of an ALREADY-quantized
    * vector under fitted codebooks: Σ over subspaces of the minimum exact
    * integer squared-L2 distance from the slice to its codebook (the
    * distance the assigned code achieves, since coding is argmin).
    * Map-only, model as literals. Rising mean error on appended batches
    * vs the training-time population is the "retrain the quantizer"
    * signal an aging [[appendAnnIndex]] index emits — quantization error
    * bounds ADC ranking fidelity.
    */
  def pqQuantError(qCol: Column, books: Array[Array[Seq[Long]]]): Column = {
    val dsub = books(0)(0).length
    books.indices
      .map { j =>
        array_min(
          distancesTo(
            typedLit(books(j).map(_.toSeq).toSeq),
            slice(qCol, j * dsub + 1, dsub)))
      }
      .reduce(_ + _)
  }

  /** QUERY TIME, batch form — score a LARGE query frame (too big to
    * broadcast) against a [[persistAnnIndex]] table: each query row
    * carries its nprobe probed cells and its ADC table (nsub·nlist
    * integers), shuffles on the cell key, and sort-merge-joins the
    * bucketed index with NO exchange on the index side. Ranking semantics
    * identical to [[ivfPqTopK]].
    */
  def scoreAgainstAnnIndex(
      s: org.apache.spark.sql.SparkSession,
      table: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: Array[Seq[Long]],
      books: Array[Array[Seq[Long]]],
      nprobe: Int,
      k: Int
  ): DataFrame =
    scoreAgainstAnnIndexWhere(s, table, queries, idCol, vecCol, coarse, books, nprobe, k, None)

  /** [[scoreAgainstAnnIndex]] with a candidate PRE-FILTER — the
    * metadata-filtered vector search every serving stack needs ("only
    * documents ingested before X", "only this tenant"): the predicate
    * applies to the index scan BEFORE the cell join and ranking, so each
    * query still gets k survivors FROM THE ALLOWED SET (post-filtering a
    * top-k would under-fill it). A sargable predicate (range/equality/IN
    * on stored columns — ids are ingest-ordered, so recency cutoffs are
    * id ranges) pushes into the parquet scan (`PushedFilters`,
    * plan-asserted): non-qualifying row groups never decode, and the scan
    * keeps its bucketed output partitioning — filter + exchange-free
    * probe compose.
    */
  def scoreAgainstAnnIndexWhere(
      s: org.apache.spark.sql.SparkSession,
      table: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: Array[Seq[Long]],
      books: Array[Array[Seq[Long]]],
      nprobe: Int,
      k: Int,
      candPred: Option[Column]
  ): DataFrame = {
    val cells = coarse.length
    val probes = math.min(nprobe, cells)
    val nsub = books.length
    val dsub = books(0)(0).length
    val cmat = typedLit(coarse.map(_.toSeq).toSeq)
    val pm = typedLit(books.map(_.map(_.toSeq).toSeq).toSeq)
    val q = queries
      .select(col(idCol).as("query_id"), quantize(col(vecCol)).as("q"))
      .withColumn("__d", distancesTo(cmat, col("q")))
      .withColumn(
        "tbl",
        transform(
          sequence(lit(0), lit(nsub - 1)),
          j => distancesTo(element_at(pm, j + 1), slice(col("q"), j * dsub + 1, lit(dsub)))))
      .withColumn(
        "cell",
        explode(
          slice(
            transform(
              array_sort(
                zip_with(col("__d"), sequence(lit(0), lit(cells - 1)), (d, i) => struct(d.as("d"), i.as("i")))
              ),
              s2 => s2.getField("i")
            ),
            1,
            probes
          )
        )
      )
      .select(col("query_id"), col("cell"), col("tbl"))
    // no dedupe: one cell per stored row × distinct probed cells ⇒ each
    // (query_id, cand_id) pair is unique off the cell join (see ivfTopK);
    // tombstoned ids ([[deleteFromAnnIndex]]) anti-join out BEFORE the
    // cell join — broadcast, so the index side stays exchange-free; the
    // caller's candidate pre-filter lands on the scan itself
    val live = AnnLayout.live(s, table)
    val scored = candPred.fold(live)(live.filter)
      .join(q, Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("adc", adcSum(col("tbl"), col("codes")))
    heapBottomKLong(scored, "adc", k)
  }

  /** floor(x*1000 + 0.5) integer quantization — deterministic in any engine
    * (unlike round() tie modes), and exact integer arithmetic downstream is
    * associative, so no engine's summation order can change a result.
    */
  def quantize(vecCol: Column): Column =
    transform(vecCol, x => floor(x.cast("double") * 1000 + 0.5).cast("long"))

  // ---- product quantization (the FAISS-style compression half) ----------

  /** Train `nsub` PQ sub-quantizers (one `nlistSub`-centroid codebook per
    * contiguous dim/nsub slice) with fixed-iteration Lloyd's — the vector-
    * compression half of the FAISS serving stack ([[ivfTopK]] is the
    * candidate-pruning half; compose them for IVFPQ). Seeded like
    * [[sampleCentroids]]: the `nlistSub` lowest-id vectors, sliced.
    *
    * ALL subspaces train together, one job per iteration: rows explode to
    * (subspace, slice) pairs — nsub× row amplification of dsub-length
    * arrays, the same bytes as the original vector — then one map-side
    * argmin against the nested codebook literal and ONE combine-friendly
    * (subspace, cell, dim) aggregation whose output is nsub·nlistSub·dsub
    * rows: the model, never the data. Same exactness contract as
    * [[kmeansCentroids]] (integer slices, half-up mean, empty cell keeps
    * its centroid), so a SQL twin replays training verbatim.
    *
    * @return codebooks[subspace][cell][dim within slice], quantized longs
    */
  /** Census of the fitted models in [[graft.Memo]]: one (key, valueClass,
    * approxBytes) row per value entry. */
  private[graft] def modelMemoCensus(): Seq[(String, String, Long)] =
    graft.Memo.census().collect { case graft.Memo.Row(k, graft.Memo.Value, v, b) => (k, v.getClass.getName, b) }

  /** [[pqTrain]] through the model memo — the registration-site entry
    * point, so the audit and the serving queries share one training pass.
    */
  def pqTrainCached(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nsub: Int,
      nlistSub: Int,
      iters: Int
  ): Array[Array[Seq[Long]]] =
    graft.Memo.model("pq", corpus, s"$idCol|$vecCol|$nsub|$nlistSub|$iters")(
      pqTrain(corpus, idCol, vecCol, nsub, nlistSub, iters))

  /** [[kmeansCentroids]] through the model memo (the IVF coarse quantizer
    * is retrained identically by ann_ivf_kmeans / ann_ivfpq_topk /
    * ann_index_scored on the same corpus).
    */
  def kmeansCentroidsCached(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      iters: Int
  ): Array[Seq[Long]] =
    graft.Memo.model("km", corpus, s"$idCol|$vecCol|$nlist|$iters")(
      kmeansCentroids(corpus, idCol, vecCol, nlist, iters))

  def pqTrain(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nsub: Int,
      nlistSub: Int,
      iters: Int
  ): Array[Array[Seq[Long]]] = {
    require(nsub > 0 && nlistSub > 0 && iters >= 0, "nsub, nlistSub > 0; iters >= 0")
    val seed = sampleCentroids(corpus, idCol, vecCol, nlistSub)
    require(seed.nonEmpty, "corpus must be non-empty")
    val dim = seed(0).length
    require(dim % nsub == 0, s"nsub must divide dim ($dim % $nsub != 0)")
    val dsub = dim / nsub
    var books: Array[Array[Seq[Long]]] =
      Array.tabulate(nsub)(j => seed.map(v => v.slice(j * dsub, (j + 1) * dsub)))
    for (_ <- 1 to iters) {
      val cm = typedLit(books.map(_.map(_.toSeq).toSeq).toSeq)
      val sliced = corpus
        .select(quantize(col(vecCol)).as("q"))
        .select(
          posexplode(
            transform(
              sequence(lit(0), lit(nsub - 1)),
              j => slice(col("q"), j * dsub + 1, lit(dsub)))
          ).as(Seq("j", "qs")))
      val assigned = sliced
        .withColumn("__d", distancesTo(element_at(cm, col("j") + 1), col("qs")))
        .withColumn("cell", (array_position(col("__d"), array_min(col("__d"))) - 1).cast("int"))
        .drop("__d")
      val sums = graft.ops.PlanOps
        .fence(assigned)
        .select(col("j"), col("cell"), posexplode(col("qs")).as(Seq("pos", "x")))
        .groupBy(col("j"), col("cell"), col("pos"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
        .select(
          col("j"), col("cell"), col("pos"),
          floor(col("s").cast("double") / col("n").cast("double") + 0.5).cast("long").as("v"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case (jc, rows) => jc -> rows.sortBy(_.getInt(2)).map(_.getLong(3)).toSeq }
      books = Array.tabulate(nsub) { j =>
        Array.tabulate(nlistSub) { c =>
          val next = sums.getOrElse((j, c), books(j)(c))
          require(next.length == dsub, s"subspace $j cell $c: dim drift")
          next
        }
      }
    }
    books
  }

  /** PQ-encode every vector: `codes[j]` = nearest codebook-`j` centroid of
    * the vector's j-th slice. Map-only — nsub·nlistSub·dsub integer ops
    * per row, nothing shuffles; the nsub small ints per vector ARE the
    * compressed representation a serving index stores (dim×8 bytes →
    * nsub ints). Argmin ties break on the LOWER cell (the sort is by
    * (distance, cell), the same rule the training assignment uses).
    */
  def pqCodes(
      df: DataFrame,
      idCol: Column,
      vecCol: Column,
      books: Array[Array[Seq[Long]]]
  ): DataFrame = {
    val nsub = books.length
    val nlistSub = books(0).length
    val dsub = books(0)(0).length
    val cm = typedLit(books.map(_.map(_.toSeq).toSeq).toSeq)
    df.select(idCol.as("id"), quantize(vecCol).as("q"))
      .select(
        col("id"),
        transform(
          sequence(lit(0), lit(nsub - 1)),
          j => {
            val d = distancesTo(element_at(cm, j + 1), slice(col("q"), j * dsub + 1, lit(dsub)))
            element_at(
              array_sort(
                zip_with(d, sequence(lit(0), lit(nlistSub - 1)), (dd, ii) => struct(dd.as("d"), ii.as("i")))),
              1
            ).getField("i").cast("int")
          }
        ).as("codes"))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: each query computes
    * its per-(subspace, cell) distance TABLE once (map-side on the
    * broadcast query set — nsub·nlistSub integers per query), and a
    * candidate's score is nsub table lookups summed: the classic PQ
    * serving trade of dim multiplies for nsub reads. Exact integer math
    * end to end, ranked by ascending ADC distance with candidate-id ties.
    *
    * Scale: this form scans all codes per query (the compression-only
    * path). At 100 TB compose with [[ivfTopK]]'s cell pruning — assign
    * codes within IVF cells and probe nprobe cells — for FAISS's IVFPQ;
    * the two halves here are exactly those building blocks.
    */
  def pqAdcTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      books: Array[Array[Seq[Long]]],
      k: Int
  ): DataFrame = {
    val nsub = books.length
    val dsub = books(0)(0).length
    val cm = typedLit(books.map(_.map(_.toSeq).toSeq).toSeq)
    val c = pqCodes(corpus, col(idCol), col(vecCol), books)
      .select(col("id").as("cand_id"), col("codes"))
    val q = broadcast(
      queries
        .select(col(idCol).as("query_id"), quantize(col(vecCol)).as("q"))
        .select(
          col("query_id"),
          transform(
            sequence(lit(0), lit(nsub - 1)),
            j => distancesTo(element_at(cm, j + 1), slice(col("q"), j * dsub + 1, lit(dsub)))
          ).as("tbl")))
    val scored = c
      .join(q, col("query_id") =!= col("cand_id"))
      .withColumn("adc", adcSum(col("tbl"), col("codes")))
    heapBottomKLong(scored, "adc", k)
  }

  /** Per-group embedding centroids (mean-pool): one row per
    * (group, dimension) with the member count, the exact integer
    * quantized sum, and the mean. The class-prototype primitive —
    * centroid init for IVF, per-label prototypes for probing classifiers,
    * diversity audits.
    *
    * Shape at 100 TB: `posexplode` the RAW vector attribute (exploding a
    * plain column has no re-evaluation trap — quantization happens on the
    * scalar element AFTER the explode), then one partial-aggregated
    * groupBy on (group, dim): dim× row amplification into a combine-
    * friendly shuffle whose output is |groups|·dim rows, independent of
    * corpus size. Sums are integer-exact, so the mean (one double
    * division of exact integers) is bit-identical in any engine.
    */
  def groupCentroids(df: DataFrame, groupCol: Column, vecCol: Column): DataFrame =
    df.select(groupCol.as("grp"), posexplode(vecCol).as(Seq("pos", "x")))
      .select(
        col("grp"),
        col("pos"),
        floor(col("x").cast("double") * 1000 + 0.5).cast("long").as("v")
      )
      .groupBy(col("grp"), col("pos"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("v")).as("sum_q"))
      .withColumn("mean_q", col("sum_q").cast("double") / col("n_vecs").cast("double"))

  /** Per-group embedding DIVERSITY audit: mean pairwise similarity inside
    * each group, computed by the sum-of-vectors identity
    * `Σ_{i≠j} u_i·u_j = ‖Σu‖² − Σ‖u_i‖²` — O(n·dim) with one combine-
    * friendly (group, dim) aggregation, never the O(n²) pairwise join.
    * The collapse detector for synthetic/near-duplicate strata: a group
    * whose members all point the same way scores ≈ 1.
    *
    * Exactness: vectors are unit-normalized PER ROW (fixed-order double
    * math, identical in any engine) then quantized half-up to integers
    * scaled 1000 — after that every aggregate is integer arithmetic, so
    * the group sums are order-independent and engine-exact; the only
    * floats in the output are one final division and the ÷10⁶ rescale.
    * Zero vectors quantize to zeros (they contribute nothing to either
    * side of the identity).
    *
    * @return (label, n_vecs, dot_ss = ‖Σu‖², self_sum = Σ‖u_i‖²,
    *         mean_cos ≈ mean pairwise cosine, rounded 6) for groups ≥ 2
    */
  def groupDiversity(df: DataFrame, groupCol: Column, vecCol: Column): DataFrame = {
    val qd = df.select(groupCol.as("grp"), quantize(vecCol).as("q"))
      .withColumn("sdot", aggregate(col("q"), lit(0L), (acc, x) => acc + x * x))
      .withColumn(
        "u",
        when(col("sdot") === 0, transform(col("q"), _ => lit(0L)))
          .otherwise(
            transform(
              col("q"),
              x =>
                floor(x.cast("double") * 1000 / sqrt(col("sdot").cast("double")) + lit(0.5))
                  .cast("long"))))
    // fence before the posexplode: `u` is an expensively-BUILT array with a
    // single consumer — unfenced, the normalize+quantize pipeline inlines
    // into the Generate node and re-evaluates per emitted element (dim× the
    // work per row; see PlanOps)
    graft.ops.PlanOps
      .fence(qd.select(col("grp"), col("u")))
      .select(col("grp"), posexplode(col("u")).as(Seq("pos", "ux")))
      .groupBy(col("grp"), col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("ux")).as("s"), sum(col("ux") * col("ux")).as("ss"))
      .groupBy(col("grp"))
      .agg(
        max(col("n")).as("n_vecs"),
        sum(col("s") * col("s")).as("dot_ss"),
        sum(col("ss")).as("self_sum"))
      .filter(col("n_vecs") >= 2)
      .select(
        col("grp").as("label"),
        col("n_vecs"),
        col("dot_ss"),
        col("self_sum"),
        round(
          (col("dot_ss") - col("self_sum")).cast("double")
            / (col("n_vecs") * (col("n_vecs") - 1)) / 1000000L,
          6
        ).as("mean_cos")
      )
  }

  /** Symmetric int8 quantization per vector (the storage/bandwidth
    * reduction step an embedding pipeline runs before ANN serving): code =
    * round(x · 127/max|x|), one row per (vec, dim). Map-side only — the
    * max|x| reduction is per-row, the explode amplifies a RAW attribute
    * (no Generate re-evaluation trap), nothing shuffles. The arithmetic is
    * a fixed-order double expression over exactly-cast floats, so any
    * engine reproduces the codes bit-for-bit (the floor(+0.5) half-up
    * convention shared by every quantizer here). A zero vector quantizes
    * to zeros instead of dividing by zero.
    */
  def quantizeInt8(df: DataFrame, idCol: Column, vecCol: Column): DataFrame =
    df.select(
        idCol.as("vec_id"),
        vecCol.as("v"),
        array_max(transform(vecCol, x => abs(x.cast("double")))).as("maxabs")
      )
      .select(col("vec_id"), col("maxabs"), posexplode(col("v")).as(Seq("pos", "x")))
      .select(
        col("vec_id"),
        col("pos"),
        when(col("maxabs") === 0, lit(0))
          .otherwise(
            floor(col("x").cast("double") * (lit(127.0) / col("maxabs")) + 0.5).cast("int"))
          .as("code")
      )

  /** [[quantizeInt8]]'s codes as one `array<long>` per vector (the layout
    * a serving index stores). The per-vector scale is STAGED as its own
    * attribute before the code transform — referencing the array_max
    * expression inside the lambda would re-evaluate it per element (the
    * lambda-inlining trap; see SCALING.md).
    */
  def int8Codes(df: DataFrame, idCol: Column, vecCol: Column): DataFrame =
    df.select(
        idCol.as("id"),
        vecCol.as("v"),
        array_max(transform(vecCol, x => abs(x.cast("double")))).as("maxabs")
      )
      .select(
        col("id"),
        when(col("maxabs") === 0, transform(col("v"), _ => lit(0L)))
          .otherwise(transform(
            col("v"),
            x => floor(x.cast("double") * (lit(127.0) / col("maxabs")) + 0.5).cast("long")))
          .as("codes")
      )

  /** Serving-path top-k over int8 codes: score = integer dot product of
    * the [[int8Codes]] arrays — exact integer arithmetic end to end (no
    * float staging needed for engine reproducibility), which is the
    * standard int8 shortcut: rank by code-dot, equivalent to cosine up to
    * the two per-vector scales. Same broadcast-queries × corpus-scan shape
    * as [[bruteForceTopK]]; ties break on candidate id.
    */
  def int8TopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    val q = broadcast(
      int8Codes(queries, col(idCol), col(vecCol))
        .select(col("id").as("query_id"), col("codes").as("qc")))
    val c = int8Codes(corpus, col(idCol), col(vecCol))
      .select(col("id").as("cand_id"), col("codes").as("cc"))
    val scored = c
      .join(q, col("query_id") =!= col("cand_id"))
      // native integer dot (graft_dotl) — exact long fold, see ArrayDot
      .withColumn("score", call_function("graft_dotl", col("qc"), col("cc")))
    // exact long heap on the NEGATED pair: greatest (score, −cand_id) is
    // (score DESC, cand_id ASC) — the integer score never becomes a float
    scored
      .groupBy(col("query_id"))
      .agg(
        graft.ops.agg.TopKHeap
          .column(k)(col("score"), -col("cand_id").cast("long"))
          .as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(
        col("query_id"),
        (-col("col._2")).as("cand_id"),
        (col("pos") + 1).as("rank"),
        col("col._1").as("score"))
  }

  /** Plane `p`'s component `d`: an INTEGER in [-500, 500) derived from
    * md5(p ∥ "_" ∥ d) — first 8 hex chars as a number, mod 1000, minus 500.
    * Computed DRIVER-side once and shipped as literal arrays: the values are
    * constant per (plane, dim), and deriving them inside a zip_with lambda
    * would re-hash dim × planes times per ROW (the lambda variable blocks
    * constant folding). Any engine with md5 reproduces the same table —
    * engine-private hashes (murmur3) would make the buckets unverifiable.
    */
  def srpCoefficients(dim: Int, planes: Int, offset: Int = 0): Seq[Seq[Long]] = {
    def md5Hex8(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16)
    }
    (offset until offset + planes).map(p => (0 until dim).map(d => md5Hex8(s"${p}_$d") % 1000L - 500L))
  }

  /** Sign-random-projection bucket key: the sign bits of the vector's dot
    * products with `planes` fixed pseudo-random hyperplanes (coefficients
    * from [[srpCoefficients]]). The vector is integer-quantized before
    * projecting, so the whole projection is exact integer math —
    * reproducible with no stored model.
    *
    * NOTE: this convenience form embeds the quantize transform in every
    * plane's subtree (planes× re-evaluation per row once inlined). Callers
    * that already stage a quantized copy of the vector as its own column —
    * all the ops in this module do — should pass it to [[srpBucketQ]].
    */
  def srpBucket(vecCol: Column, dim: Int, planes: Int): Column =
    srpBucketQ(quantize(vecCol), dim, planes)

  /** [[srpBucket]] over an ALREADY-quantized vector attribute. Each
    * plane's projection is the native exact long dot (`graft_dotl`,
    * [[graft.functions.ArrayDotLong]]) against the literal coefficient
    * vector — same wrapping-long fold as the HOF form it replaced, and
    * this runs once per plane per CORPUS ROW at bucketing time.
    */
  def srpBucketQ(qVec: Column, dim: Int, planes: Int, offset: Int = 0): Column = {
    val coeffs = srpCoefficients(dim, planes, offset)
    val bits = (0 until planes).map { j =>
      val proj = call_function("graft_dotl", qVec, typedLit(coeffs(j)))
      when(proj >= 0, lit(1)).otherwise(lit(0)) * lit(1 << j)
    }
    bits.reduce(_ + _)
  }

  /** Approximate nearest neighbors: corpus and queries are bucketed by SRP
    * sign-bits; ranking happens only within a query's probed buckets. At
    * 100 TB the corpus side is a single map+shuffle on small bucket keys
    * instead of a broadcast × full-scan product.
    *
    * `multiProbe = true` additionally probes every bucket at Hamming
    * distance 1 from the query's own (standard LSH multi-probe): recall
    * rises sharply — a near neighbor differing in one sign bit is found —
    * for `planes`× more query-side rows, which only scales the (small)
    * broadcast, not the corpus shuffle.
    *
    * `tables > 1` is the classic AND-OR amplification (Indyk–Motwani):
    * `tables` independent hash tables of `planes` sign bits each (table t
    * reads global plane indices [t·planes, (t+1)·planes)), a candidate
    * surfaces if it collides with the query in ANY table. Recall across L
    * independent tables is `1 − (1 − r)^L` for single-table recall r —
    * the knob that turns a 0.24-recall single table into a serving-grade
    * path. Cost shape: the corpus side maps each row to L (table, bucket)
    * keys — L× the (narrow) shuffle volume, still one shuffle and no
    * broadcast of the corpus; the query side is L× more probe rows on the
    * already-small broadcast.
    */
  def lshBucketTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      planes: Int,
      k: Int,
      multiProbe: Boolean = false,
      tables: Int = 1
  ): DataFrame = {
    require(tables >= 1, "tables must be >= 1")
    // vectors are integer-quantized for ranking: the dot/norm sums are then
    // exact integer math (associative), so the reported sim is reproducible
    // by any engine regardless of its summation order
    // quantize staged as an attribute FIRST: buckets + norm all read it, so
    // the transform runs once per row instead of once per plane (+1)
    def buckets(vec: Column): Column =
      array((0 until tables).map(t => srpBucketQ(vec, dim, planes, t * planes)): _*)
    val c = corpus
      .select(col(idCol).as("cand_id"), quantize(col(vecCol)).as("c_vec"))
      .select(
        col("cand_id"),
        col("c_vec"),
        norm(col("c_vec")).as("c_nrm"),
        posexplode(buckets(col("c_vec"))).as(Seq("tbl", "bucket"))
      )
    val q0 = queries
      .select(col(idCol).as("query_id"), quantize(col(vecCol)).as("q_vec"))
      .select(
        col("query_id"),
        col("q_vec"),
        norm(col("q_vec")).as("q_nrm"),
        posexplode(buckets(col("q_vec"))).as(Seq("tbl", "bucket"))
      )
    val probed =
      if (!multiProbe) q0
      else
        q0.select(
          col("query_id"),
          col("q_vec"),
          col("q_nrm"),
          col("tbl"),
          explode(
            array_distinct(
              array(
                col("bucket") +:
                  (0 until planes).map(p => col("bucket").bitwiseXOR(lit(1 << p))): _*
              )
            )
          ).as("bucket")
        )
    val q = broadcast(probed)
    val scored = c
      .join(q, Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      // a candidate can surface via several probed buckets/tables — it
      // must rank ONCE. No dropDuplicates stage: that was a candidate-
      // grain exchange shuffling full vector rows; the duplicates carry
      // a bit-identical (sim, cand_id) pair (same vectors, same
      // expression), and TopKHeapSim's set semantics hold each pair once
      .withColumn("sim", dot(col("q_vec"), col("c_vec")) / (col("q_nrm") * col("c_nrm")))
    heapTopKDesc(scored, "sim", k).withColumn("sim", round(col("sim"), 6))
  }

  /** RADIUS search (range query) over the SRP-LSH buckets: every candidate
    * within cosine ≥ tauNum/tauDen of each query — the "find everything
    * this similar" retrieval mode (near-dup sweeps, dedup-against-index,
    * recommendation fan-out) where top-k's fixed cutoff is the wrong
    * contract because the answer size is data-dependent.
    *
    * Candidate generation is [[lshBucketTopK]]'s verbatim: L independent
    * SRP tables, optional 1-bit multi-probe, corpus side shuffled only on
    * its (table, bucket) keys, query side broadcast. The threshold is then
    * EXACT INTEGER math on the quantized vectors — `d ≥ 0 ∧
    * d²·tauDen² ≥ qq·cc·tauNum²` in decimal(38,0) cross-products — so the
    * accept/reject decision has no float boundary to wobble across
    * engines; the reported sim is the usual one-rounded-double cosine.
    * Recall is the LSH contract (union over tables/probes), measured in
    * SimilaritySpec against the brute-force truth.
    */
  def lshRangeSearch(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      planes: Int,
      tauNum: Int,
      tauDen: Int,
      multiProbe: Boolean = true,
      tables: Int = 4
  ): DataFrame = {
    require(tables >= 1, "tables must be >= 1")
    require(tauDen > 0 && tauNum >= 0 && tauNum <= tauDen, "tau must be in [0, 1]")
    def buckets(vec: Column): Column =
      array((0 until tables).map(t => srpBucketQ(vec, dim, planes, t * planes)): _*)
    val c = corpus
      .select(col(idCol).as("cand_id"), quantize(col(vecCol)).as("c_vec"))
      .select(
        col("cand_id"),
        col("c_vec"),
        dot(col("c_vec"), col("c_vec")).as("cc"),
        posexplode(buckets(col("c_vec"))).as(Seq("tbl", "bucket"))
      )
    val q0 = queries
      .select(col(idCol).as("query_id"), quantize(col(vecCol)).as("q_vec"))
      .select(
        col("query_id"),
        col("q_vec"),
        dot(col("q_vec"), col("q_vec")).as("qq"),
        posexplode(buckets(col("q_vec"))).as(Seq("tbl", "bucket"))
      )
    val probed =
      if (!multiProbe) q0
      else
        q0.select(
          col("query_id"),
          col("q_vec"),
          col("qq"),
          col("tbl"),
          explode(
            array_distinct(
              array(
                col("bucket") +:
                  (0 until planes).map(p => col("bucket").bitwiseXOR(lit(1 << p))): _*
              )
            )
          ).as("bucket")
        )
    val dec = "decimal(38,0)"
    // score and threshold BEFORE the dedupe, then dedupe on a NARROW
    // projection: the old order shuffled full 64-long vector rows for
    // every bucket collision just to drop duplicates — scoring first is
    // map-side (dup multiplicity is the small table/probe co-collision
    // count), the threshold discards non-matches pre-exchange, and the
    // exchange then carries five numeric columns for matches only.
    // Duplicates are identical in all five columns (same vectors, same
    // exact integer math), so dedupe placement cannot change the set.
    c.join(broadcast(probed), Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("d", dot(col("q_vec"), col("c_vec")))
      .filter(
        col("d") >= 0 &&
          col("d").cast(dec) * col("d").cast(dec) * lit(tauDen.toLong * tauDen) >=
          col("qq").cast(dec) * col("cc").cast(dec) * lit(tauNum.toLong * tauNum))
      .select(col("query_id"), col("cand_id"), col("d"), col("qq"), col("cc"))
      .dropDuplicates(Seq("query_id", "cand_id"))
      .select(
        col("query_id"),
        col("cand_id"),
        round(
          col("d").cast("double") /
            (sqrt(col("qq").cast("double")) * sqrt(col("cc").cast("double"))),
          6).as("sim"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of two
    * ranked retrieval lists: `rrf(d) = Σ_lists 1/(c + rank_list(d))`, a
    * candidate present in only one list contributes one term. Fusion is
    * RANK-only — it never touches scores — so two approximate rankers
    * with uncorrelated failure modes (IVF's cell pruning vs LSH's
    * hyperplane buckets) ensemble into better recall than either alone,
    * without calibrating their incomparable score scales.
    *
    * Inputs carry `(query_id, cand_id, rank)` (this module's top-k output
    * shape). Exactness: ranks are ints, each term is one IEEE double
    * division `1.0/(c + rank)` and one sum — bit-identical in any engine —
    * and the final ordering ties on cand_id (two candidates CAN collide at
    * the same rrf, e.g. ranks (5, 12) vs (12, 5)).
    *
    * Scale shape: one equi-join of two already-k-bounded frames (≤ q·k
    * rows each) and a per-query window — the expensive work happened in
    * the upstream rankers; fusion itself is candidate-bounded, never
    * corpus-bounded.
    */
  /** Scan-cheap → rerank-exact serving composition (the shape every
    * production vector store runs): the int8 code scan ranks the WHOLE
    * corpus by integer code-dot and keeps `depth` candidates per query,
    * then only those q·depth survivors are re-scored with the exact
    * quantized cosine ([[quantize]] + `graft_dotl`, the `ann_cosine_topk`
    * arithmetic) and cut to `k`. Candidate recall@depth is what bounds
    * final recall — at depth ≫ k the cheap ranker only has to get the
    * true top-k somewhere into its top-`depth`, which is a far weaker
    * ask than ranking them correctly (measured on the fixture: int8@5
    * alone 0.68, rerank@5 at depth 100 → 1.00; floor in SimilaritySpec).
    *
    * Scale shape: the corpus is scanned twice, never shuffled — the int8
    * pass is the [[int8TopK]] broadcast-queries scan, and the exact-vector
    * fetch is a broadcast semi-join of the (q·depth)-row candidate list
    * against the corpus. The exact cosine runs q·depth times, not q·N.
    * Ties break on candidate id in both stages.
    */
  def int8RerankTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      depth: Int,
      k: Int
  ): DataFrame = {
    val cands = int8TopK(corpus, queries, idCol, vecCol, depth)
      .select(col("query_id"), col("cand_id"))
    exactCosineRerank(corpus, queries, idCol, vecCol, cands, k)
  }

  /** The same two-stage serving shape with PQ/ADC as the candidate
    * generator: the ADC scan ([[pqAdcTopK]]) keeps `depth` candidates per
    * query — nsub table lookups per candidate, the cheapest full-corpus
    * ranker this module has — and the exact quantized cosine recovers the
    * order over the q·depth survivors. This is the honest posture for
    * flat PQ on data with no cluster structure: isotropic vectors are
    * PQ's pathological case AS A RANKER (the fixture's 8-bit codes score
    * recall@5 ≈ 0.06 — see SimilaritySpec's budget ladder), but at depth
    * ≫ k the code scan only has to LAND the true top-k in its top-depth,
    * which even coarse codes do reliably; the rerank does the ranking.
    */
  def pqRerankTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      books: Array[Array[Seq[Long]]],
      depth: Int,
      k: Int
  ): DataFrame = {
    val cands = pqAdcTopK(corpus, queries, idCol, vecCol, books, depth)
      .select(col("query_id"), col("cand_id"))
    exactCosineRerank(corpus, queries, idCol, vecCol, cands, k)
  }

  /** Shared exact-rerank tail of the two-stage servers: re-score the
    * (q·depth)-row candidate list with the exact quantized cosine
    * ([[quantize]] + `graft_dotl`, the `ann_cosine_topk` arithmetic) and
    * cut to `k`. The corpus is never shuffled — the exact-vector fetch is
    * a broadcast join of the bounded candidate list against the corpus
    * scan, and the exact cosine runs q·depth times, not q·N. Ties break
    * on candidate id.
    */
  private def exactCosineRerank(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      cands: DataFrame,
      k: Int
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // self-dots staged per side, same reasoning as bruteForceTopK
    val q = broadcast(
      queries
        .select(col(idCol).as("query_id"), quantize(col(vecCol)).as("qv"))
        .withColumn("naa", call_function("graft_dotl", col("qv"), col("qv"))))
    val c = corpus
      .select(col(idCol).as("cand_id"), quantize(col(vecCol)).as("cv"))
      .withColumn("ncc", call_function("graft_dotl", col("cv"), col("cv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("cand_id").asc)
    c.join(broadcast(cands), Seq("cand_id"))
      .join(q, Seq("query_id"))
      .withColumn(
        "sim",
        call_function("graft_dotl", col("qv"), col("cv")).cast("double") /
          sqrt(col("naa").cast("double") * col("ncc").cast("double")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("rank"), col("sim"))
  }

  /** Recall@k audit of approximate rankers against [[bruteForceTopK]]
    * truth, as a QUERYABLE frame: one row per ranker —
    * `(ranker, n_queries, n_truth, n_hits, recall_ppm)` with recall an
    * exact integer ppm (no float rate to wobble across engines).
    *
    * The query set is the caller's DETERMINISTIC eval stratum (md5-gated
    * at the registration site) — the fixed-eval-set discipline of
    * [[graft.ops.FuzzyOps.blockingQuality]]: at 1000× the corpus the
    * caller raises the stratum mod 1000×, so truth cost (|stratum| × N
    * broadcast-join dots, linear scans) is unchanged. Hits are counted by
    * a semi-join of each approximate top-k against the truth top-k on
    * (query_id, cand_id) — rank positions inside the top-k don't matter,
    * membership does (the standard recall@k definition).
    */
  def recallAudit(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rankers: Seq[(String, (DataFrame, DataFrame) => DataFrame)]
  ): DataFrame = {
    require(rankers.nonEmpty, "need at least one ranker to audit")
    // truth is read by every ranker branch (one base agg + one semi-join
    // each) — spill it once via the plan-keyed memo instead of re-running
    // the brute-force scoring per branch
    val truth = graft.Memo.planFrame(
      bruteForceTopK(corpus, queries, idCol, vecCol, k)
        .select(col("query_id"), col("cand_id")),
      "recall_truth")
    // a misconfigured stratum gate (empty eval set) must fail the audit
    // loudly, not read as a vacuous all-null-ppm pass: n_truth = 0 would
    // otherwise make every recall_ppm a silent null under integer `div`
    val base = truth
      .agg(
        countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_truth"))
      .withColumn(
        "n_truth",
        when(col("n_truth") > 0, col("n_truth"))
          .otherwise(raise_error(lit(
            "recallAudit: empty eval stratum — the md5 gate selected no queries; widen the gate"))))
    rankers
      .map { case (name, rank) =>
        val hits = rank(corpus, queries)
          .select(col("query_id"), col("cand_id"))
          .join(truth, Seq("query_id", "cand_id"), "left_semi")
        base
          .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
          .select(
            lit(name).as("ranker"),
            col("n_queries"),
            col("n_truth"),
            col("n_hits"),
            expr("n_hits * 1000000 div n_truth").as("recall_ppm"))
      }
      .reduce(_.unionByName(_))
  }

  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, c: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fa = a.select(col("query_id"), col("cand_id"), col("rank").as("__rank_a"))
    val fb = b.select(col("query_id"), col("cand_id"), col("rank").as("__rank_b"))
    val fused = fa
      .join(fb, Seq("query_id", "cand_id"), "full_outer")
      .withColumn(
        "rrf",
        coalesce(lit(1.0) / (lit(c) + col("__rank_a")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("__rank_b")), lit(0.0)))
    val w = Window.partitionBy(col("query_id")).orderBy(col("rrf").desc, col("cand_id").asc)
    fused
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("rank"), round(col("rrf"), 6).as("rrf"))
  }

  /** k-center greedy coreset selection (Gonzalez farthest-point — the
    * 2-approximation to the k-center cover): pick the point FARTHEST from
    * everything chosen so far, k times — the diversity-maximizing
    * data-selection pass active-learning and "train on a representative
    * 1%" pipelines run over embeddings. Deterministic end to end: seed =
    * smallest id, distances exact integer L2² on the quantized grid (the
    * `graft_l2sq` kernel), argmax ties break to the smallest id.
    *
    * Scale shape: k bounded driver rounds; each round adds ONE distance
    * column against the newest center (incremental min maintenance — the
    * corpus is never re-scored against all centers) and reduces with a
    * TakeOrdered(1). Total kernel work O(k·n) dots; driver state is the
    * k selected rows — bounded model state, the [[kmeansCentroids]]
    * contract. The base frame persists across rounds via the plan-keyed
    * spill so tokenise/quantize runs once, not k times.
    *
    * @return one row per selection: (round, vec_id, dist_sq) — dist_sq is
    *         the point's min squared distance to all PRIOR centers at the
    *         moment it was chosen (the seed reports 0); the classic
    *         coverage-radius curve reads straight off this column
    */
  def kcenterCoreset(df: DataFrame, idCol: Column, vecCol: Column, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val s = df.sparkSession
    import s.implicits._
    val base = graft.Memo.planFrame(
      df.select(idCol.cast("long").as("id"), quantize(vecCol).as("qv")),
      "coreset_base")
    def vecOf(r: org.apache.spark.sql.Row): Seq[Long] = r.getSeq[Long](1)
    val seed = base.orderBy(col("id").asc).limit(1).collect()(0)
    val picks = scala.collection.mutable.ArrayBuffer((1, seed.getLong(0), 0L))
    var minD = base.withColumn("min_d", lit(Long.MaxValue))
    var center = vecOf(seed)
    for (r <- 2 to k) {
      minD = minD.withColumn(
        "min_d",
        least(
          col("min_d"),
          element_at(
            call_function("graft_l2sq", array(typedLit(center)), col("qv")), 1)))
      if (r % 3 == 0) minD = minD.localCheckpoint()
      val far = minD.orderBy(col("min_d").desc, col("id").asc).limit(1).collect()(0)
      picks += ((r, far.getLong(0), far.getLong(2)))
      center = vecOf(far)
    }
    picks.toSeq.toDF("round", "vec_id", "dist_sq")
  }
}
