package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ext.{Classify, Curation, Dedup, EmbAlgebra, Maintenance, Multimodal, Ranking, Similarity, Sketches, Stats, TextStats}
import graft.ops.{TemporalOps, ZOrderOps}
import graft.streaming.Sessionize

/** ANN / embedding-similarity family: brute-force and approximate top-k
  * (SRP-LSH, IVF, PQ/IVF-PQ, int8), recall audits, coreset/diversity
  * curation over the `embeddings` fixture.
  *
  * Split out of Extensions.scala (round 15): same entries, same maps —
  * [[Extensions]] aggregates the families, so the driver contract
  * (SparkEntry.queries / oracleSql) is unchanged.
  */
private[queries] object QAnn {
  import QShared._
  import OracleSql._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_cosine_topk" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      // self-dots staged per SIDE (computing them in the sim expression
      // would redo the query one N times and each candidate one Q times);
      // sim keeps the sqrt(naa*ncc) structure the oracle uses — it is NOT
      // bit-identical to sqrt(naa)*sqrt(ncc)
      val q = broadcast(
        e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), qz(col("embedding")).as("qv"))
          .withColumn("naa", ldot(col("qv"), col("qv")))
      )
      val c = e
        .select(col("vec_id").as("cand_id"), qz(col("embedding")).as("cv"))
        .withColumn("ncc", ldot(col("cv"), col("cv")))
      // bounded heap, not a window rank: the q×N scored pairs never
      // shuffle — Similarity.heapTopKDesc carries ≤ q×k per partition
      Similarity.heapTopKDesc(
        c.join(q, col("query_id") =!= col("cand_id"))
          .withColumn(
            "sim",
            ldot(col("qv"), col("cv")).cast("double") /
              sqrt(col("naa").cast("double") * col("ncc").cast("double"))),
        "sim", k = 5)
    },
    // k-center greedy coreset (Gonzalez farthest-point): the 8 most
    // mutually-distant vectors — diversity-maximizing data selection;
    // k bounded driver rounds, incremental min maintenance, exact,
    // integer L2² via the graft_l2sq kernel, ties to the smallest id
    "curation_coreset" -> { (s, dir) =>
      Similarity.kcenterCoreset(
        t(s, dir, "embeddings"), col("vec_id"), col("embedding"), k = 8)
    },
    // FILTERED vector search — the serving shape every vector store added
    // in 2024: top-k under a metadata predicate (label = 3). PRE-filter
    // semantics: the candidate scan applies the predicate BEFORE ranking
    // (post-filtering an unfiltered top-k silently under-returns when the
    // filter is selective); the predicate reaches the parquet scan as a,
    // pushed filter, so the filtered corpus is all that's ever scored
    "ann_filtered_topk" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val q = broadcast(
        e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), qz(col("embedding")).as("qv"))
          .withColumn("naa", ldot(col("qv"), col("qv")))
      )
      val c = e
        .filter(col("label") === 3)
        .select(col("vec_id").as("cand_id"), qz(col("embedding")).as("cv"))
        .withColumn("ncc", ldot(col("cv"), col("cv")))
      Similarity.heapTopKDesc(
        c.join(q, col("query_id") =!= col("cand_id"))
          .withColumn(
            "sim",
            ldot(col("qv"), col("cv")).cast("double") /
              sqrt(col("naa").cast("double") * col("ncc").cast("double"))),
        "sim", k = 5)
    },
    // Approximate path (SRP-bucketed). md5-derived planes + integer-exact,
    // quantized math => full DuckDB twin; recall also gated in SimilaritySpec.
    "ann_lsh_topk" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.lshBucketTopK(
        e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        dim = 64, planes = 6, k = 5, multiProbe = true, tables = 4
      )
    },
    // radius search over the same SRP tables: every candidate with cosine
    // >= 0.3 of each probe (the fixture's pairwise cosines top out ~0.5,
    // so 0.3 is the regime with real matches) — data-dependent answer
    // size, exact integer threshold (d²·100 >= qq·cc·9, decimal cross-,
    // products, no float boundary), LSH recall measured in SimilaritySpec
    "ann_range_search" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.lshRangeSearch(
        e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        dim = 64, planes = 6, tauNum = 3, tauDen = 10, multiProbe = true, tables = 4)
    },
    // reciprocal-rank fusion of the two approximate rankers with
    // uncorrelated failure modes (IVF cell pruning vs SRP hyperplane
    // buckets): rank-only ensembling, no score calibration. Fusion depth
    // matches the serving k ON PURPOSE — deeper input lists dilute the
    // stronger ranker with the weaker tail (SimilaritySpec measures
    // 0.92 → 0.66 recall from depth 5 → 20)
    // scan-cheap → rerank-exact: int8 code-dot keeps 100 candidates per
    // query, exact quantized cosine re-ranks to 5 — the two-stage serving
    // shape that lifts int8's 0.68 recall@5 to ~1.0 (floor in,
    // SimilaritySpec) while the exact scorer touches q·depth rows, not q·N
    "ann_int8_rerank" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.int8RerankTopK(
        e, e.filter(col("vec_id") < 10), "vec_id", "embedding", depth = 100, k = 5)
    },
    "ann_rrf_hybrid" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val ivf = Similarity.ivfTopK(e, q, "vec_id", "embedding", nlist = 16, nprobe = 4, k = 5)
      val lsh = Similarity.lshBucketTopK(
        e, q, "vec_id", "embedding", dim = 64, planes = 6, k = 5, multiProbe = true, tables = 4)
      Similarity.rrfFuse(ivf, lsh, k = 5)
    },
    // cluster-balanced curation: k lowest-hash vectors per TRAINED k-means
    // cell (the ann_ivf_kmeans quantizer) — embedding-space-stratified
    // downsampling that covers every region instead of oversampling the,
    // head; the oracle replays training + assignment + the per-cell gate
    "curation_cluster_balance" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val cents = Similarity.kmeansCentroidsCached(e, "vec_id", "embedding", nlist = 8, iters = 2)
      Curation.clusterBalancedSample(e, col("vec_id"), col("embedding"), cents, k = 20)
    },
    // embedding-space outlier audit under the SAME trained quantizer:
    // vectors beyond their cell's 9/10-quantile centroid distance are the
    // off-manifold fringe (mislabeled scrapes, OCR garbage) — integer,
    // order-statistic threshold, strict-> flags, full DuckDB replay
    "curation_emb_outliers" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val cents = Similarity.kmeansCentroidsCached(e, "vec_id", "embedding", nlist = 8, iters = 2)
      Curation.centroidOutliers(e, col("vec_id"), col("embedding"), cents, pNum = 9, pDen = 10)
    },
    // IVF variant (coarse quantizer cells, nprobe probing). The centroid
    // sample is deterministic (nlist lowest ids) and the math integer-exact,
    // so the whole assignment+probe+rank pipeline has a DuckDB twin.,
    "ann_ivf_topk" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        nlist = 16, nprobe = 4, k = 5)
    },
    // TRAINED IVF: two fixed Lloyd's iterations refine the sampled coarse
    // quantizer before serving — the oracle replays the training verbatim
    // (each iteration unrolled as assign→mean CTEs, the text_bpe_merges,
    // pattern), so centroid drift between engines would hash-mismatch.
    "ann_ivf_kmeans" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        nlist = 8, nprobe = 2, k = 5, trainIters = 2)
    },
    // product quantization: train 4 sub-codebooks (one Lloyd's iteration,
    // seeded from the 4 lowest-id vectors' slices), PQ-encode the corpus,
    // and serve top-k by asymmetric distance — nsub table lookups per
    // candidate instead of dim multiplies. The oracle replays training,
    // coding, and the ADC sum per subspace in exact integer math.,
    "ann_pq_topk" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val books = Similarity.pqTrainCached(e, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1)
      Similarity.pqAdcTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", books, k = 5)
    },
    // PQ as candidate generator, exact cosine as ranker — the honest
    // serving posture for flat PQ on cluster-free data (isotropic vectors
    // are PQ's pathological case as a RANKER, but landing the true top-5
    // anywhere in the ADC top-100 is a far weaker ask; the rerank recovers
    // the order — recall floor 0.80, measured 0.92, in SimilaritySpec).
    // 8x8 codes on purpose: candidate recall is what bounds final recall,
    // and the 8-bit 4x4 code only lands ~54% of the true top-5 in its,
    // top-100 on isotropic data
    "ann_pq_rerank" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val books = Similarity.pqTrainCached(e, "vec_id", "embedding", nsub = 8, nlistSub = 8, iters = 1)
      Similarity.pqRerankTopK(
        e, e.filter(col("vec_id") < 10), "vec_id", "embedding", books, depth = 100, k = 5)
    },
    // IVFPQ — FAISS's serving composition: the TRAINED coarse quantizer
    // (same 8-cell/2-iteration model as ann_ivf_kmeans) prunes candidates
    // to 2 probed cells, and ranking is PQ asymmetric distance (same 4x4,
    // codebooks as ann_pq_topk). The oracle composes both oracles' CTEs.
    "ann_ivfpq_topk" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val coarse = Similarity.kmeansCentroidsCached(e, "vec_id", "embedding", nlist = 8, iters = 2)
      val books = Similarity.pqTrainCached(e, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1)
      Similarity.ivfPqTopK(
        e, e.filter(col("vec_id") < 10), "vec_id", "embedding", coarse, nprobe = 2, books, k = 5)
    },
    // BATCH scoring against the PERSISTED serving index: the (cell, codes,
    // id) frame is written bucketBy(cell) once, and a 50-query batch (the
    // too-big-to-broadcast case) shuffle-joins it with no exchange on the
    // index side. Same ranking semantics as the inline composition —
    // layout is execution, not meaning — so the oracle differs only in,
    // probe predicate and k.
    "ann_index_scored" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val coarse = Similarity.kmeansCentroidsCached(e, "vec_id", "embedding", nlist = 8, iters = 2)
      val books = Similarity.pqTrainCached(e, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1)
      val tbl = Scratch.table("ann_idx")
      graft.Memo.once(tbl, dir)(
        Similarity.persistAnnIndex(e, "vec_id", "embedding", coarse, books, tbl, buckets = 8))
      Similarity.scoreAgainstAnnIndex(
        s, tbl, e.filter(col("vec_id") < 50), "vec_id", "embedding",
        coarse, books, nprobe = 2, k = 3)
    },
    // metadata-FILTERED serving against the persisted index — the
    // filter+rank composition every vector store needs: the predicate
    // (ids are ingest-ordered, so a recency cutoff IS an id range)
    // restricts the index scan BEFORE ranking, so each query's k
    // survivors come from the allowed set (post-filtering a top-k would
    // under-fill it). The range predicate pushes into the parquet scan
    // (PushedFilters, plan-asserted) and the scan keeps its bucketed
    // layout — filter and exchange-free probe compose. Same table as
    // ann_index_scored (one build serves both)
    "ann_index_filtered" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val coarse = Similarity.kmeansCentroidsCached(e, "vec_id", "embedding", nlist = 8, iters = 2)
      val books = Similarity.pqTrainCached(e, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1)
      val tbl = Scratch.table("ann_idx")
      graft.Memo.once(tbl, dir)(
        Similarity.persistAnnIndex(e, "vec_id", "embedding", coarse, books, tbl, buckets = 8))
      Similarity.scoreAgainstAnnIndexWhere(
        s, tbl, e.filter(col("vec_id") >= 180 && col("vec_id") < 220), "vec_id", "embedding",
        coarse, books, nprobe = 2, k = 3, candPred = Some(col("cand_id") < 300))
    },
    // index MAINTENANCE cycle: build the bucketed index from one era,
    // append the next era ENCODED WITH THE SAME FITTED (memoized) model —
    // no retrain, no rebuild — then probe the grown table. The oracle is
    // the one-shot index over the full corpus: under a pinned model,
    // append-then-probe must equal rebuild-then-probe EXACTLY (cell and
    // codes are per-row functions of the model alone), so a hash match IS
    // the equivalence proof. LSH text-index cycle precedent: appendLshIndex
    "ann_index_append" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val coarse = Similarity.kmeansCentroidsCached(e, "vec_id", "embedding", nlist = 8, iters = 2)
      val books = Similarity.pqTrainCached(e, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1)
      val tbl = Scratch.table("ann_idx_app")
      graft.Memo.once(tbl, dir) {
        val g = graft.ops.Hashing.md5Mod(col("vec_id").cast("string"), 4L)
        Similarity.persistAnnIndex(
          e.filter(g =!= 0), "vec_id", "embedding", coarse, books, tbl, buckets = 8)
        Similarity.appendAnnIndex(
          e.filter(g === 0), "vec_id", "embedding", coarse, books, tbl, buckets = 8)
      }
      Similarity.scoreAgainstAnnIndex(
        s, tbl, e.filter(col("vec_id") >= 50 && col("vec_id") < 80), "vec_id", "embedding",
        coarse, books, nprobe = 2, k = 3)
    },
    // blue/green REBUILD — the staleness loop's last arc: the serving
    // index was built from one era under an AGED model (trained on that
    // era alone) and carries accumulated tombstones; the rebuild retrains
    // on the full corpus, builds the new index ASIDE (<tbl>__next), swaps
    // it into the serving name, and clears the stale tombstones. The
    // oracle is simply the fresh full-corpus index probe: post-swap, no
    // trace of the aged model, the old era split, or the old tombstones
    // may remain — a hash match IS that proof
    "ann_index_rebuild" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val old = e.filter(col("vec_id") % 2 === 0)
      val staleCoarse = Similarity.kmeansCentroidsCached(old, "vec_id", "embedding", nlist = 8, iters = 2)
      val staleBooks = Similarity.pqTrainCached(old, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1)
      val coarse = Similarity.kmeansCentroidsCached(e, "vec_id", "embedding", nlist = 8, iters = 2)
      val books = Similarity.pqTrainCached(e, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1)
      val tbl = Scratch.table("ann_idx_bg")
      graft.Memo.once(tbl, dir) {
        Similarity.persistAnnIndex(
          old, "vec_id", "embedding", staleCoarse, staleBooks, tbl, buckets = 8)
        Similarity.deleteFromAnnIndex(
          s, tbl,
          e.filter(graft.ops.Hashing.md5Mod(col("vec_id").cast("string"), 5L) === 0),
          "vec_id")
        Similarity.rebuildAnnIndex(
          s, tbl, e, "vec_id", "embedding", coarse, books, buckets = 8)
      }
      Similarity.scoreAgainstAnnIndex(
        s, tbl, e.filter(col("vec_id") >= 220 && col("vec_id") < 260), "vec_id", "embedding",
        coarse, books, nprobe = 2, k = 3)
    },
    // index STALENESS audit: mean PQ quantization error of the training-
    // time population vs an appended batch under simulated drift (every
    // element shifted +0.25 — a deterministic distribution shift both
    // engines replay exactly). Rising mean_qerr on appended batches is
    // the retrain signal an aging appendAnnIndex index emits; all sums
    // exact integers, the mean one half-up double division
    "ann_index_staleness" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val books = Similarity.pqTrainCached(e, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1)
      val g = graft.ops.Hashing.md5Mod(col("vec_id").cast("string"), 4L)
      val shifted = transform(
        col("embedding"),
        x => floor((x.cast("double") + lit(0.25)) * 1000 + lit(0.5)).cast("long"))
      val base = e.select(lit("base").as("population"), qz(col("embedding")).as("q"))
      val drifted = e.filter(g === 0)
        .select(lit("appended_drifted").as("population"), shifted.as("q"))
      base.unionByName(drifted)
        .select(col("population"), Similarity.pqQuantError(col("q"), books).as("qe"))
        .groupBy(col("population"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("qe")).as("sum_qerr"))
        .withColumn(
          "mean_qerr",
          floor(col("sum_qerr").cast("double") / col("n_vecs").cast("double") + 0.5).cast("long"))
    },
    // MAINTENANCE POLICY — the decision operator over the signals the
    // index lifecycles emit, closing the observability→action loop: three
    // real persisted indexes in three distinct states (ANN: clean but
    // DRIFTED — the incoming batch's mean PQ quantization error vs the
    // training population's crosses the rebuild threshold; LSH: a md5%3
    // takedown stratum tombstoned — tombstone load crosses the compact
    // threshold; semantic: freshly built — none). Census values are all
    // table-derived aggregates and the thresholds are plan literals, so
    // the oracle replays census AND decision exactly; the one
    // non-portable signal (physical file amplification) is spec-pinned in
    // MaintenanceSpec instead
    "index_maintenance_plan" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val docs = t(s, dir, "documents")
      val coarse = Similarity.kmeansCentroidsCached(e, "vec_id", "embedding", nlist = 8, iters = 2)
      val books = Similarity.pqTrainCached(e, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1)
      val g = graft.ops.Hashing.md5Mod(col("vec_id").cast("string"), 4L)
      // ANN index: one era persisted + one appended, no tombstones
      val annTbl = Scratch.table("ann_idx_cen")
      graft.Memo.once(annTbl, dir) {
        Similarity.persistAnnIndex(
          e.filter(g =!= 0), "vec_id", "embedding", coarse, books, annTbl, buckets = 8)
        Similarity.appendAnnIndex(
          e.filter(g === 0), "vec_id", "embedding", coarse, books, annTbl, buckets = 8)
      }
      // LSH index: corpus persisted, md5%3 takedown stratum tombstoned
      val lshTbl = Scratch.table("lsh_idx_cen")
      val dcorp = docs.filter(col("doc_id") % 5 =!= 0)
      graft.Memo.once(lshTbl, dir) {
        Dedup.persistLshIndex(
          dcorp, col("doc_id"), col("text"), table = lshTbl, buckets = 8,
          n = 3, k = 8, bands = 4)
        Dedup.deleteFromLshIndex(
          s, lshTbl,
          dcorp.filter(graft.ops.Hashing.md5Mod(col("doc_id").cast("string"), 3L) === 0),
          col("doc_id"))
      }
      // semantic index: freshly built, nothing pending
      val semTbl = Scratch.table("sem_idx_cen")
      graft.Memo.once(semTbl, dir)(
        Dedup.persistSemanticIndex(
          e.filter(col("vec_id") % 5 =!= 0), col("vec_id"), col("embedding"), coarse,
          semTbl, buckets = 8))
      // Hamming frame index: CAPPED at layout (maxBucket = 64, the frame
      // family's production posture), then an append regrows the
      // quarantined boilerplate buckets — appends are never re-capped, so
      // ONLY the capped_ppm regrowth signal (no tombstones, eras below
      // threshold, no trained model to drift) demands the compact that
      // re-caps. This is the loop-closure over the documented gap:
      // quarantine regrowth is noticed by the POLICY, not by an operator
      // reading SCALING.md
      val hamTbl = Scratch.table("frm_idx_cen")
      graft.Memo.once(hamTbl, dir) {
        val fh = frameHashes(s, dir)
        Multimodal.persistHammingIndex(
          fh.filter(col("asset_id") % 5 =!= 0 && col("asset_id") % 3 =!= 0),
          "frame_key", "dhash", hamTbl, buckets = 8, maxBucket = 64)
        Multimodal.appendHammingIndex(
          fh.filter(col("asset_id") % 5 =!= 0 && col("asset_id") % 3 === 0),
          "frame_key", "dhash", hamTbl, buckets = 8)
      }
      // the plan is built from REGISTRY + BATCH alone: each family's
      // ManagedIndex carries its own drift measurement (the ANN thunk
      // closes over the pinned codebooks and the +0.25-shifted incoming
      // stratum, measured BEFORE appending — the staleness workflow;
      // model-free families read 0), and fleetCensus derives the policy
      // input uniformly — no hand-wired per-member census columns
      val registry = maintenanceRegistry(
        s, dir, annTbl, lshTbl, semTbl, hamTbl,
        annDrift = () => quantDriftPpmFrame(e, books, g))
      Maintenance.indexMaintenancePlan(
        Maintenance.fleetCensus(s, registry),
        rebuildDriftPpm = 1200000L,
        compactTombPpm = 100000L,
        compactAppendEras = 4L,
        compactCappedPpm = 50000L)
    },
    // the maintenance EXECUTOR — closes the observability→decision→ACTION
    // loop the plan query opened: the same three-index fleet (drifted ANN
    // ⇒ rebuild, tombstoned LSH ⇒ compact, fresh semantic ⇒ none) is
    // PLANNED then APPLIED (Maintenance.applyMaintenancePlan running the
    // real rebuildAnnIndex / compactLshIndex actions), and the result is
    // the post-action AUDIT: re-taken census per index + the decision
    // that drove it. Rebuilt/compacted rows must show zero tombstones and
    // one append era — the healed state; the oracle replays the plan's
    // thresholds AND the per-decision post-state over the same strata.
    // The audit persists at build time (re-planning after the apply would
    // see the healed fleet and decide 'none' — the decision is an
    // artifact of the PRE-state)
    "index_maintenance_apply" -> { (s, dir) =>
      val auditTbl = Scratch.table("mnt_audit")
      graft.Memo.once(auditTbl, dir) {
        val (plan, fleet) = buildMaintenanceFleet(s, dir, "apl")
        val audit = Maintenance.applyMaintenancePlan(s, plan, fleet)
        audit.write.mode("overwrite").format("parquet").saveAsTable(auditTbl)
      }
      s.table(auditTbl)
    },
    // the maintenance FIXED POINT — plan → apply → REPLAN in one arc: the
    // replanned fleet must decide all-`none`, because the healed state is
    // the policy's own fixed point (closes the audit-is-pre-state caveat:
    // the apply query's audit is a snapshot of the decision's pre-state
    // artifact; THIS query re-runs the decision on the post-state). The
    // replan's drift signal is the NEXT incoming batch — a fresh,
    // UNSHIFTED crawl, whose quantization error vs the training
    // population is the ~10⁶-ppm self-ratio of undrifted data, below the
    // rebuild threshold (drift is a property of batch × model: the
    // rebuild absorbed the re-crawl, and the next batch arrives clean).
    // The oracle replays BOTH rounds of thresholds; MaintenanceSpec pins
    // non-vacuity (a too-low threshold does NOT reach the fixpoint)
    "index_maintenance_fixpoint" -> { (s, dir) =>
      val fxTbl = Scratch.table("mnt_fixpoint")
      graft.Memo.once(fxTbl, dir) {
        val e = t(s, dir, "embeddings")
        val books = Similarity.pqTrainCached(e, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1)
        val g = graft.ops.Hashing.md5Mod(col("vec_id").cast("string"), 4L)
        val (plan, fleet) = buildMaintenanceFleet(s, dir, "fx")
        Maintenance.applyMaintenancePlan(s, plan, fleet).collect(): Unit
        // REPLAN over the healed fleet: the SAME registry with only the
        // ANN drift thunk rebound to the unshifted next batch (drift is a
        // property of batch × model — the registry carries the model, the
        // tick supplies the batch), decided under the same plan literals
        val fleet2 = fleet.updated(
          "ann_ivfpq",
          fleet("ann_ivfpq").copy(
            drift = Some(() => quantDriftPpmFrame(e, books, g, shift = 0.0))))
        Maintenance
          .indexMaintenancePlan(
            Maintenance.fleetCensus(s, fleet2),
            rebuildDriftPpm = 1200000L,
            compactTombPpm = 100000L,
            compactAppendEras = 4L,
            compactCappedPpm = 50000L)
          .write.mode("overwrite").format("parquet").saveAsTable(fxTbl)
      }
      s.table(fxTbl)
    },
    // index RETRACTION — the delete half of the maintenance cycle the
    // append query opened: build the index over the FULL corpus, tombstone
    // an md5-gated stratum (Similarity.deleteFromAnnIndex — the J4
    // anti-join retraction applied to the serving index), then probe. The
    // oracle is the rebuild WITHOUT the deleted ids: under tombstone
    // semantics, delete-then-probe must hash-equal
    // rebuild-without-deleted-then-probe. Probe stays exchange-free on
    // the index side (the tombstones ride a broadcast anti-join —
    // PlanAuditSpec)
    "ann_index_delete" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val coarse = Similarity.kmeansCentroidsCached(e, "vec_id", "embedding", nlist = 8, iters = 2)
      val books = Similarity.pqTrainCached(e, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1)
      val tbl = Scratch.table("ann_idx_del")
      graft.Memo.once(tbl, dir) {
        Similarity.persistAnnIndex(e, "vec_id", "embedding", coarse, books, tbl, buckets = 8)
        Similarity.deleteFromAnnIndex(
          s, tbl,
          e.filter(graft.ops.Hashing.md5Mod(col("vec_id").cast("string"), 5L) === 0),
          "vec_id")
      }
      Similarity.scoreAgainstAnnIndex(
        s, tbl, e.filter(col("vec_id") >= 100 && col("vec_id") < 140), "vec_id", "embedding",
        coarse, books, nprobe = 2, k = 3)
    },
    // DELETE-THEN-REAPPEND — the takedown-reversal workflow: tombstone the
    // md5%5 stratum, then re-append its even half (encoded with the same
    // pinned model). Era-stamped tombstones hide only rows at era <=
    // tomb_seq, so the re-appended rows (higher era) are visible
    // IMMEDIATELY — the oracle is rebuild-with-reappended, and a hash
    // match proves the composition needs no compaction between the
    // delete and the re-append (the r17 footgun this closes)
    "ann_index_reappend" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val coarse = Similarity.kmeansCentroidsCached(e, "vec_id", "embedding", nlist = 8, iters = 2)
      val books = Similarity.pqTrainCached(e, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1)
      val tbl = Scratch.table("ann_idx_reapp")
      val delGate = graft.ops.Hashing.md5Mod(col("vec_id").cast("string"), 5L) === 0
      graft.Memo.once(tbl, dir) {
        Similarity.persistAnnIndex(e, "vec_id", "embedding", coarse, books, tbl, buckets = 8)
        Similarity.deleteFromAnnIndex(s, tbl, e.filter(delGate), "vec_id")
        Similarity.appendAnnIndex(
          e.filter(delGate && col("vec_id") % 2 === 0),
          "vec_id", "embedding", coarse, books, tbl, buckets = 8)
      }
      Similarity.scoreAgainstAnnIndex(
        s, tbl, e.filter(col("vec_id") >= 260 && col("vec_id") < 300), "vec_id", "embedding",
        coarse, books, nprobe = 2, k = 3)
    },
    // index COMPACTION — the full maintenance lifecycle: build one era,
    // append the next (multi-file buckets), tombstone a stratum, then
    // compactAnnIndex folds the tombstones into the files and merges each
    // bucket back to ONE file WITHOUT changing the bucket hashing. The
    // oracle is again rebuild-without-deleted: compaction is layout, not
    // meaning (and the file-count drop + preserved exchange-free probe are
    // asserted in PlanAuditSpec/SimilaritySpec)
    "ann_index_compact" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val coarse = Similarity.kmeansCentroidsCached(e, "vec_id", "embedding", nlist = 8, iters = 2)
      val books = Similarity.pqTrainCached(e, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1)
      val tbl = Scratch.table("ann_idx_cmp")
      graft.Memo.once(tbl, dir) {
        val g = graft.ops.Hashing.md5Mod(col("vec_id").cast("string"), 4L)
        Similarity.persistAnnIndex(
          e.filter(g =!= 0), "vec_id", "embedding", coarse, books, tbl, buckets = 8)
        Similarity.appendAnnIndex(
          e.filter(g === 0), "vec_id", "embedding", coarse, books, tbl, buckets = 8)
        Similarity.deleteFromAnnIndex(
          s, tbl,
          e.filter(graft.ops.Hashing.md5Mod(col("vec_id").cast("string"), 5L) === 0),
          "vec_id")
        Similarity.compactAnnIndex(s, tbl, buckets = 8)
      }
      Similarity.scoreAgainstAnnIndex(
        s, tbl, e.filter(col("vec_id") >= 140 && col("vec_id") < 180), "vec_id", "embedding",
        coarse, books, nprobe = 2, k = 3)
    },
    // recall@k as a DRIVER-CHECKED number, not just a spec-side assertion:
    // the three approximate serving paths (4-table multiprobe SRP-LSH,
    // sample-centroid IVF 16/4, 4x4 PQ/ADC) audited against brute-force
    // truth on a deterministic md5-gated query stratum (67 of 500 vectors;
    // at 1000x the corpus you raise the mod 1000x — truth cost unchanged,
    // the blockingQuality fixed-eval-set discipline). Output is one row per
    // ranker with recall as exact integer ppm; the oracle replays truth AND,
    // all three ranker chains, so a recall regression hash-mismatches.
    "ann_recall_audit" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val stratum = e.filter(
        graft.ops.Hashing.md5Mod(col("vec_id").cast("string"), 8L) === 0)
      Similarity.recallAudit(
        e, stratum, "vec_id", "embedding", k = 5,
        rankers = Seq(
          "ivf_16_4" -> ((c, q) =>
            Similarity.ivfTopK(c, q, "vec_id", "embedding", nlist = 16, nprobe = 4, k = 5)),
          "lsh_srp_4t" -> ((c, q) =>
            Similarity.lshBucketTopK(
              c, q, "vec_id", "embedding",
              dim = 64, planes = 6, k = 5, multiProbe = true, tables = 4)),
          "pq_adc_4x4" -> ((c, q) => {
            val books = Similarity.pqTrainCached(c, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1)
            Similarity.pqAdcTopK(c, q, "vec_id", "embedding", books, k = 5)
          })))
    },
    // ---- embedding linear algebra (EmbAlgebra) ---------------------------
    // exact integer-grid covariance: the d(d+1)/2 co-moment pyramid — the
    // shuffle is model-sized (<= 2080 groups) regardless of corpus rows
    "emb_covariance" -> { (s, dir) =>
      EmbAlgebra.covariance(t(s, dir, "embeddings"), col("embedding"), dim = 64)
    },
    // fit/serve: covariance fit (memoized model state) + driver power
    // iteration (6 fixed rounds, replayable — the oracle unrolls them as
    // CTEs) + map-only projection serve; lambda_ppm is the Rayleigh
    // quotient and conv_delta the round-6-vs-5 grid movement (the
    // fixpoint-certificate doctrine: reported, not waited on)
    "emb_pca_project" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val cov = EmbAlgebra.covPpmMatrixCached(e, col("embedding"), dim = 64)
      val (v, prev, lambda) = EmbAlgebra.topComponent(cov, rounds = 6)
      val delta = v.zip(prev).map { case (a, b) => math.abs(a - b) }.max
      e.select(
        col("vec_id"),
        EmbAlgebra.projectScore(col("embedding"), v).as("score"),
        lit(lambda).as("lambda_ppm"),
        lit(delta).as("conv_delta"))
    },
    // multi-component fit/serve: m=8 deflated power-iteration components
    // over the SAME memoized covariance (one aggregation pass feeds
    // emb_pca_project, this, and ann_pca_reduced), served as a map-only
    // posexplode of 8 exact integer projections per vector; the oracle
    // unrolls all 8 fits (6 rounds each) AND the deflations as CTEs
    "emb_pca_topm" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val cov = EmbAlgebra.covPpmMatrixCached(e, col("embedding"), dim = 64)
      val comps = EmbAlgebra.topComponents(cov, m = 8, rounds = 6)
      val lams = typedLit(comps.map(_._2))
      val staged = graft.ops.PlanOps.fence(
        e.select(col("vec_id"), Similarity.quantize(col("embedding")).as("q"))
          .select(
            col("vec_id"),
            EmbAlgebra.projectScoresQ(col("q"), comps.map(_._1)).as("scores")))
      staged
        .select(col("vec_id"), posexplode(col("scores")).as(Seq("pc0", "score")))
        .select(
          col("vec_id"),
          (col("pc0") + 1).cast("long").as("pc"),
          col("score"),
          element_at(lams, col("pc0") + 1).as("lambda_ppm"))
    },
    // INCREMENTAL model refresh — closing the loop ann_index_staleness
    // opened: the covariance sufficient statistic (the raw co-moment
    // pyramid) is ADDITIVE, so an appended batch folds into the memoized
    // base-era sums with one aggregation pass over the BATCH (never a
    // retrain over the union), and the components re-derive from the
    // merged sums. The oracle is emb_pca_topm's fit-on-the-full-corpus
    // twin VERBATIM: refresh(base, batch) must hash-equal fit(base ∪
    // batch) — a refreshed model is indistinguishable from a full
    // retrain (EmbAlgebra.mergeCoMoments)
    "emb_pca_refresh" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val g = graft.ops.Hashing.md5Mod(col("vec_id").cast("string"), 4L)
      val sumsBase = EmbAlgebra.coMomentFlatCached(e.filter(g =!= 0), col("embedding"), dim = 64)
      val sumsBatch = EmbAlgebra.coMomentFlatCached(e.filter(g === 0), col("embedding"), dim = 64)
      val cov = EmbAlgebra.covPpmFromSums(
        EmbAlgebra.mergeCoMoments(sumsBase, sumsBatch), dim = 64)
      val comps = EmbAlgebra.topComponents(cov, m = 8, rounds = 6)
      val lams = typedLit(comps.map(_._2))
      val staged = graft.ops.PlanOps.fence(
        e.select(col("vec_id"), Similarity.quantize(col("embedding")).as("q"))
          .select(
            col("vec_id"),
            EmbAlgebra.projectScoresQ(col("q"), comps.map(_._1)).as("scores")))
      staged
        .select(col("vec_id"), posexplode(col("scores")).as(Seq("pc0", "score")))
        .select(
          col("vec_id"),
          (col("pc0") + 1).cast("long").as("pc"),
          col("score"),
          element_at(lams, col("pc0") + 1).as("lambda_ppm"))
    },
    // the dim-reduction serving composition (PCA -> IVF): project corpus
    // and queries onto the 8 fitted components, round to the milli grid,
    // build IVF(16, probe 4) over the REDUCED vectors, and recall-audit
    // against the FULL-dimension brute-force truth (the same memo-spilled
    // truth set ann_recall_audit reads). 8-dim dots instead of 64-dim on
    // the serving path — the standard cost/recall trade, measured here as
    // an exact-ppm driver-checked number. On this ISOTROPIC fixture the
    // honest reading is low (~10x chance at sf0.1): random vectors have
    // no low-dim structure for PCA to keep — exactly what the audit is
    // for; on clustered data the same composition holds a 0.80 recall
    // floor (SimilaritySpec "PCA-reduced IVF")
    "ann_pca_reduced" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val cov = EmbAlgebra.covPpmMatrixCached(e, col("embedding"), dim = 64)
      val comps = EmbAlgebra.topComponents(cov, m = 8, rounds = 6).map(_._1)
      val stratum = e.filter(
        graft.ops.Hashing.md5Mod(col("vec_id").cast("string"), 8L) === 0)
      def reduced(df: DataFrame): DataFrame =
        graft.ops.PlanOps.fence(
          df.select(col("vec_id"), Similarity.quantize(col("embedding")).as("q"))
            .select(col("vec_id"), EmbAlgebra.pcaReducedVec(col("q"), comps).as("rvec")))
      Similarity.recallAudit(
        e, stratum, "vec_id", "embedding", k = 5,
        rankers = Seq(
          "ivf_pca_m8" -> ((c, q) =>
            Similarity.ivfTopK(
              reduced(c), reduced(q), "vec_id", "rvec", nlist = 16, nprobe = 4, k = 5))))
    },
    // JL distortion audit for the SRP sketch family: cos(projected) −
    // cos(original) histogram over an md5-gated pair stratum, same
    // coefficients the LSH buckets use
    "emb_jl_distortion" -> { (s, dir) =>
      EmbAlgebra.jlDistortion(
        t(s, dir, "embeddings"), col("vec_id"), col("embedding"),
        dim = 64, planes = 6, gateMod = 4)
    },
    // ---- text analysis ---------------------------------------------------,
    // order double arithmetic, bit-identical codes in any engine
    "emb_quantize_int8" -> { (s, dir) =>
      Similarity.quantizeInt8(t(s, dir, "embeddings"), col("vec_id"), col("embedding"))
    },
    // the serving composition over those codes: integer-dot top-k,
    "ann_int8_topk" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.int8TopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
    },
    // group-level quality gate: drop whole sources whose mean doc length,
    // per (label, dim) — class prototypes / IVF centroid init
    "emb_label_centroid" -> { (s, dir) =>
      Similarity
        .groupCentroids(t(s, dir, "embeddings"), col("label"), col("embedding"))
        .select(col("grp").as("label"), col("pos"), col("n_vecs"), col("sum_q"), col("mean_q"))
    },
    // per-label embedding diversity: mean pairwise cosine via the
    // sum-of-vectors identity — O(n·dim), no pairwise join; the collapse,
    // detector for synthetic or near-duplicate strata
    "emb_label_diversity" -> { (s, dir) =>
      Similarity.groupDiversity(t(s, dir, "embeddings"), col("label"), col("embedding"))
    },
    // EWMA smoothing (α=1/4, 8-row tail) per user: integer weight algebra,
    // one rounded division — the monitoring smoother beside ev_rolling,
  )

  /** One-row (`drift_ppm`) frame: quantizer drift of the `shift`-shifted
    * md5-gated stratum vs the training population, as ONE exact integer
    * floor-division (remainder subtraction over DecimalType(38,0), so the
    * DuckDB HUGEINT twin hash-matches bit-for-bit). Shared by
    * `index_maintenance_plan` and the apply/fixpoint fleet — one
    * definition so the fixtures' staleness signals cannot drift.
    * `shift = 0.0` measures an UNDRIFTED batch (the fixpoint replan's
    * next-crawl signal — the ratio degenerates to the stratum's
    * ~10⁶-ppm self-ratio against the population).
    */
  private def quantDriftPpmFrame(
      e: DataFrame,
      books: Array[Array[Seq[Long]]],
      gate: Column,
      shift: Double = 0.25
  ): DataFrame = {
    val qz = Similarity.quantize(col("embedding"))
    val shifted = transform(
      col("embedding"),
      x => floor((x.cast("double") + lit(shift)) * 1000 + lit(0.5)).cast("long"))
    val qeSums = e
      .select(
        Similarity.pqQuantError(qz, books).as("qe_b"),
        when(gate === 0, Similarity.pqQuantError(shifted, books)).as("qe_d"))
      .agg(
        sum(col("qe_b")).as("sum_b"), count(col("qe_b")).as("n_b"),
        sum(col("qe_d")).as("sum_d"), count(col("qe_d")).as("n_d"))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val num = col("sum_d").cast(dec) * col("n_b") * lit(1000000L)
    val den = col("sum_b").cast(dec) * col("n_d")
    qeSums.select(((num - pmod(num, den)) / den).cast("long").as("drift_ppm"))
  }

  /** The four-family EXECUTOR REGISTRY over the given tables — one
    * definition of the fleet's names, id columns, real actions, bucket
    * specs, and the ANN drift measurement ([[Maintenance.ManagedIndex]]'s
    * `drift` thunk; the model-free families read 0), shared by the
    * plan/apply/fixpoint fixtures and the fleet stream loop so the
    * recipes cannot drift. With the registry in hand the policy input is
    * `Maintenance.fleetCensus(s, registry)` — registry + batch alone.
    */
  private[queries] def maintenanceRegistry(
      s: SparkSession,
      dir: String,
      annTbl: String,
      lshTbl: String,
      semTbl: String,
      hamTbl: String,
      annDrift: () => DataFrame
  ): Map[String, Maintenance.ManagedIndex] = {
    val e = t(s, dir, "embeddings")
    val docs = t(s, dir, "documents")
    val coarse = Similarity.kmeansCentroidsCached(e, "vec_id", "embedding", nlist = 8, iters = 2)
    val books = Similarity.pqTrainCached(e, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1)
    val dcorp = docs.filter(col("doc_id") % 5 =!= 0)
    val scorp = e.filter(col("vec_id") % 5 =!= 0)
    val hcorp = frameHashes(s, dir).filter(col("asset_id") % 5 =!= 0)
    Map(
      "ann_ivfpq" -> Maintenance.ManagedIndex(
        annTbl, "cand_id",
        compact = () => Similarity.compactAnnIndex(s, annTbl, buckets = 8),
        rebuild = () =>
          Similarity.rebuildAnnIndex(
            s, annTbl, e, "vec_id", "embedding", coarse, books, buckets = 8),
        drift = Some(annDrift)),
      "lsh_text" -> Maintenance.ManagedIndex(
        lshTbl, "corpus_id",
        compact = () => Dedup.compactLshIndex(s, lshTbl, buckets = 8),
        rebuild = () =>
          Dedup.rebuildLshIndex(s, lshTbl, dcorp, col("doc_id"), col("text"), buckets = 8)),
      "semantic_cell" -> Maintenance.ManagedIndex(
        semTbl, "corpus_id",
        compact = () => Dedup.compactSemanticIndex(s, semTbl, buckets = 8),
        rebuild = () =>
          Dedup.rebuildSemanticIndex(
            s, semTbl, scorp, col("vec_id"), col("embedding"), coarse, buckets = 8)),
      "hamming_frame" -> Maintenance.ManagedIndex(
        hamTbl, "corpus_id",
        compact = () => Multimodal.compactHammingIndex(s, hamTbl, buckets = 8, maxBucket = 64),
        rebuild = () =>
          Multimodal.rebuildHammingIndex(
            s, hamTbl, hcorp, "frame_key", "dhash", buckets = 8, maxBucket = 64),
        bucketKeys = Seq("band", "bv"), bucketCap = 64))
  }

  /** Build the FOUR-index maintenance fleet on fresh `_<suffix>` tables
    * (the executor MUTATES them — the plan query's fleet must stay
    * pristine): drifted ANN ⇒ rebuild, tombstoned LSH ⇒ compact, fresh
    * semantic ⇒ none, append-regrown capped Hamming ⇒ compact (the
    * capped_ppm branch running END-TO-END: the policy notices quarantine
    * regrowth and the compact re-caps it). Returns the round-1 PLAN
    * (decided under the same plan literals the plan query publishes,
    * from `fleetCensus` over the registry) and the registry itself —
    * shared by `index_maintenance_apply` and `index_maintenance_fixpoint`
    * so the two fixtures cannot drift.
    */
  private def buildMaintenanceFleet(
      s: SparkSession,
      dir: String,
      suffix: String
  ): (DataFrame, Map[String, Maintenance.ManagedIndex]) = {
    val e = t(s, dir, "embeddings")
    val docs = t(s, dir, "documents")
    val coarse = Similarity.kmeansCentroidsCached(e, "vec_id", "embedding", nlist = 8, iters = 2)
    val books = Similarity.pqTrainCached(e, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1)
    val g = graft.ops.Hashing.md5Mod(col("vec_id").cast("string"), 4L)
    val dcorp = docs.filter(col("doc_id") % 5 =!= 0)
    val scorp = e.filter(col("vec_id") % 5 =!= 0)
    val fh = frameHashes(s, dir)
    val hcorp = fh.filter(col("asset_id") % 5 =!= 0)
    val annTbl = Scratch.table(s"ann_idx_$suffix")
    val lshTbl = Scratch.table(s"lsh_idx_$suffix")
    val semTbl = Scratch.table(s"sem_idx_$suffix")
    val hamTbl = Scratch.table(s"frm_idx_$suffix")
    Similarity.persistAnnIndex(
      e.filter(g =!= 0), "vec_id", "embedding", coarse, books, annTbl, buckets = 8)
    Similarity.appendAnnIndex(
      e.filter(g === 0), "vec_id", "embedding", coarse, books, annTbl, buckets = 8)
    Dedup.persistLshIndex(
      dcorp, col("doc_id"), col("text"), table = lshTbl, buckets = 8, n = 3, k = 8, bands = 4)
    Dedup.deleteFromLshIndex(
      s, lshTbl,
      dcorp.filter(graft.ops.Hashing.md5Mod(col("doc_id").cast("string"), 3L) === 0),
      col("doc_id"))
    Dedup.persistSemanticIndex(
      scorp, col("vec_id"), col("embedding"), coarse, semTbl, buckets = 8)
    Multimodal.persistHammingIndex(
      hcorp.filter(col("asset_id") % 3 =!= 0), "frame_key", "dhash", hamTbl,
      buckets = 8, maxBucket = 64)
    Multimodal.appendHammingIndex(
      hcorp.filter(col("asset_id") % 3 === 0), "frame_key", "dhash", hamTbl, buckets = 8)
    val fleet = maintenanceRegistry(
      s, dir, annTbl, lshTbl, semTbl, hamTbl,
      annDrift = () => quantDriftPpmFrame(e, books, g))
    val plan = Maintenance.indexMaintenancePlan(
      Maintenance.fleetCensus(s, fleet),
      rebuildDriftPpm = 1200000L,
      compactTombPpm = 100000L,
      compactAppendEras = 4L,
      compactCappedPpm = 50000L)
    (plan, fleet)
  }

  val oracles: Map[String, String] = Map(
    "ann_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
         s AS (
           SELECT query_id, cand_id,
             CAST(list_sum(list_transform(range(1, 65), i ->
               CAST(floor(CAST(qv[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT) *
               CAST(floor(CAST(cv[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT))) AS BIGINT) AS dot,
             CAST(list_sum(list_transform(range(1, 65), i ->
               CAST(floor(CAST(qv[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT) *
               CAST(floor(CAST(qv[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT))) AS BIGINT) AS naa,
             CAST(list_sum(list_transform(range(1, 65), i ->
               CAST(floor(CAST(cv[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT) *
               CAST(floor(CAST(cv[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT))) AS BIGINT) AS ncc
           FROM c JOIN q ON query_id <> cand_id
         ), scored AS (
           SELECT query_id, cand_id, CAST(dot AS DOUBLE) / sqrt(CAST(naa AS DOUBLE) * CAST(ncc AS DOUBLE)) AS sim
           FROM s
         ), ranked AS (
           SELECT query_id, cand_id, sim,
                  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS INTEGER) AS rank
           FROM scored
         )
         SELECT query_id, cand_id, rank, sim FROM ranked WHERE rank <= 5""",
    "curation_coreset" -> coresetOracleSql(8),
    // filtered twin: the exact-cosine chain with the metadata predicate,
    // applied at the candidate scan (pre-filter semantics)
    "ann_filtered_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings WHERE label = 3),
         s AS (
           SELECT query_id, cand_id,
             CAST(list_sum(list_transform(range(1, 65), i ->
               CAST(floor(CAST(qv[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT) *
               CAST(floor(CAST(cv[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT))) AS BIGINT) AS dot,
             CAST(list_sum(list_transform(range(1, 65), i ->
               CAST(floor(CAST(qv[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT) *
               CAST(floor(CAST(qv[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT))) AS BIGINT) AS naa,
             CAST(list_sum(list_transform(range(1, 65), i ->
               CAST(floor(CAST(cv[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT) *
               CAST(floor(CAST(cv[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT))) AS BIGINT) AS ncc
           FROM c JOIN q ON query_id <> cand_id
         ), scored AS (
           SELECT query_id, cand_id, CAST(dot AS DOUBLE) / sqrt(CAST(naa AS DOUBLE) * CAST(ncc AS DOUBLE)) AS sim
           FROM s
         ), ranked AS (
           SELECT query_id, cand_id, sim,
                  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS INTEGER) AS rank
           FROM scored
         )
         SELECT query_id, cand_id, rank, sim FROM ranked WHERE rank <= 5""",
    "ann_lsh_topk" ->
      (qzCte + s"""
        , bkt AS (
${(0 until 4).map(t => s"          SELECT vec_id, q, $t AS tbl, ${srpBucketSql(6, t * 6)} AS bucket FROM qz").mkString("\n          UNION ALL\n")}
        ), probes AS (
          SELECT vec_id AS query_id, tbl,
                 unnest(list_distinct([bucket, xor(bucket, 1), xor(bucket, 2), xor(bucket, 4),
                                       xor(bucket, 8), xor(bucket, 16), xor(bucket, 32)])) AS bucket
          FROM bkt WHERE vec_id < 10
        ), cand AS (
          SELECT DISTINCT p.query_id, c.vec_id AS cand_id
          FROM probes p JOIN bkt c ON c.tbl = p.tbl AND c.bucket = p.bucket
          WHERE c.vec_id <> p.query_id
        ), scored AS (
          SELECT u.query_id, u.cand_id, ${cosSql("qa.q", "qb.q")} AS sim
          FROM cand u
          JOIN qz qa ON qa.vec_id = u.query_id
          JOIN qz qb ON qb.vec_id = u.cand_id
        ), ranked AS (
          SELECT query_id, cand_id, sim,
                 CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS INTEGER) AS rank
          FROM scored
        )
        SELECT query_id, cand_id, rank, round(sim, 6) AS sim FROM ranked WHERE rank <= 5"""),
    // radius-search twin: the ann_lsh_topk candidate chain verbatim, then
    // the exact integer threshold instead of a rank cut (HUGEINT cross-,
    // products; tau = 8/10 → d²·100 ≥ qq·cc·64)
    "ann_range_search" ->
      (qzCte + s"""
        , bkt AS (
${(0 until 4).map(t => s"          SELECT vec_id, q, $t AS tbl, ${srpBucketSql(6, t * 6)} AS bucket FROM qz").mkString("\n          UNION ALL\n")}
        ), probes AS (
          SELECT vec_id AS query_id, tbl,
                 unnest(list_distinct([bucket, xor(bucket, 1), xor(bucket, 2), xor(bucket, 4),
                                       xor(bucket, 8), xor(bucket, 16), xor(bucket, 32)])) AS bucket
          FROM bkt WHERE vec_id < 10
        ), cand AS (
          SELECT DISTINCT p.query_id, c.vec_id AS cand_id
          FROM probes p JOIN bkt c ON c.tbl = p.tbl AND c.bucket = p.bucket
          WHERE c.vec_id <> p.query_id
        ), scored AS (
          SELECT u.query_id, u.cand_id,
                 CAST(list_sum(list_transform(range(1, 65), i -> qa.q[i] * qb.q[i])) AS HUGEINT) AS d,
                 CAST(list_sum(list_transform(range(1, 65), i -> qa.q[i] * qa.q[i])) AS HUGEINT) AS qq,
                 CAST(list_sum(list_transform(range(1, 65), i -> qb.q[i] * qb.q[i])) AS HUGEINT) AS cc
          FROM cand u
          JOIN qz qa ON qa.vec_id = u.query_id
          JOIN qz qb ON qb.vec_id = u.cand_id
        )
        SELECT query_id, cand_id,
               round(CAST(d AS DOUBLE) / (sqrt(CAST(qq AS DOUBLE)) * sqrt(CAST(cc AS DOUBLE))), 6) AS sim
        FROM scored
        WHERE d >= 0 AND d * d * 100 >= qq * cc * 9"""),
    // RRF fusion twin: both depth-20 ranker chains replayed (IVF 16/4 with
    // i-prefixed CTEs, 4-table SRP-LSH with l-prefixed CTEs), then the
    // rank-only reciprocal sum — 1.0/(60 + rank) is one IEEE division per,
    // term, bit-identical across engines
    "ann_rrf_hybrid" ->
      (qzCte + s"""
        , icent AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell, q AS cq
          FROM (SELECT vec_id, q FROM qz ORDER BY vec_id LIMIT 16)
        ), icdist AS (
          SELECT z.vec_id, c.cell,
                 list_sum(list_transform(range(1, 65), i -> (z.q[i] - c.cq[i]) * (z.q[i] - c.cq[i]))) AS d
          FROM qz z CROSS JOIN icent c
        ), iassign AS (
          SELECT vec_id, cell FROM (
            SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
            FROM icdist) WHERE rn = 1
        ), iqprobe AS (
          SELECT vec_id AS query_id, cell FROM (
            SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
            FROM icdist WHERE vec_id < 10) WHERE rn <= 4
        ), icand AS (
          SELECT DISTINCT p.query_id, a.vec_id AS cand_id
          FROM iqprobe p JOIN iassign a ON a.cell = p.cell
          WHERE a.vec_id <> p.query_id
        ), iscored AS (
          SELECT u.query_id, u.cand_id, ${cosSql("qa.q", "qb.q")} AS sim
          FROM icand u
          JOIN qz qa ON qa.vec_id = u.query_id
          JOIN qz qb ON qb.vec_id = u.cand_id
        ), iranked AS (
          SELECT query_id, cand_id,
                 CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS INTEGER) AS rank
          FROM iscored
        ), lbkt AS (
${(0 until 4).map(t => s"          SELECT vec_id, q, $t AS tbl, ${srpBucketSql(6, t * 6)} AS bucket FROM qz").mkString("\n          UNION ALL\n")}
        ), lprobes AS (
          SELECT vec_id AS query_id, tbl,
                 unnest(list_distinct([bucket, xor(bucket, 1), xor(bucket, 2), xor(bucket, 4),
                                       xor(bucket, 8), xor(bucket, 16), xor(bucket, 32)])) AS bucket
          FROM lbkt WHERE vec_id < 10
        ), lcand AS (
          SELECT DISTINCT p.query_id, c.vec_id AS cand_id
          FROM lprobes p JOIN lbkt c ON c.tbl = p.tbl AND c.bucket = p.bucket
          WHERE c.vec_id <> p.query_id
        ), lscored AS (
          SELECT u.query_id, u.cand_id, ${cosSql("qa.q", "qb.q")} AS sim
          FROM lcand u
          JOIN qz qa ON qa.vec_id = u.query_id
          JOIN qz qb ON qb.vec_id = u.cand_id
        ), lranked AS (
          SELECT query_id, cand_id,
                 CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS INTEGER) AS rank
          FROM lscored
        ), fused AS (
          SELECT COALESCE(i.query_id, l.query_id) AS query_id,
                 COALESCE(i.cand_id, l.cand_id) AS cand_id,
                 COALESCE(1.0 / (60 + i.rank), 0) + COALESCE(1.0 / (60 + l.rank), 0) AS rrf
          FROM (SELECT * FROM iranked WHERE rank <= 5) i
          FULL OUTER JOIN (SELECT * FROM lranked WHERE rank <= 5) l
            ON i.query_id = l.query_id AND i.cand_id = l.cand_id
        ), rr AS (
          SELECT query_id, cand_id, rrf,
                 CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, cand_id) AS INTEGER) AS rank
          FROM fused
        )
        SELECT query_id, cand_id, rank, round(rrf, 6) AS rrf FROM rr WHERE rank <= 5"""),
    // cluster-balanced curation twin: the trained-quantizer assignment is
    // ivfKmeansCtesSql's `assign` verbatim; the per-cell keep gate is the,
    // md5 hash order with id tie-break
    "curation_cluster_balance" ->
      (qzCte + "\n        " + ivfKmeansCtesSql + s"""
        , rk AS (
          SELECT a.cell, a.vec_id,
                 CAST(row_number() OVER (PARTITION BY a.cell
                   ORDER BY CAST(concat('0x', substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000,
                            a.vec_id) AS INTEGER) AS rk
          FROM assign a
        )
        SELECT cell, vec_id, rk FROM rk WHERE rk <= 20"""),
    // embedding-outlier twin: trained-quantizer distances are
    // ivfKmeansCtesSql's `cdist` verbatim; assigned distance = per-vector
    // min (first-cell tie rule), threshold = type-1 order statistic at,
    // rank ceil(9n/10) per cell, strict > flags (cut ties stay inliers)
    "curation_emb_outliers" ->
      (qzCte + "\n        " + ivfKmeansCtesSql + s"""
        , ad AS (
          SELECT vec_id, cell, d FROM (
            SELECT vec_id, cell, d, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
            FROM cdist) WHERE rn = 1
        ), rkd AS (
          SELECT cell, vec_id, d,
                 row_number() OVER (PARTITION BY cell ORDER BY d) AS rk,
                 count(*) OVER (PARTITION BY cell) AS n
          FROM ad
        ), thr AS (
          SELECT cell, d AS thr FROM rkd WHERE rk = CAST((9 * n + 9) // 10 AS BIGINT)
        )
        SELECT a.cell, a.vec_id, CAST(a.d AS BIGINT) AS d2, a.d > t.thr AS is_outlier
        FROM ad a JOIN thr t ON a.cell = t.cell"""),
    "ann_ivf_topk" ->
      (qzCte + s"""
        , cent AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell, q AS cq
          FROM (SELECT vec_id, q FROM qz ORDER BY vec_id LIMIT 16)
        ), cdist AS (
          SELECT z.vec_id, c.cell,
                 list_sum(list_transform(range(1, 65), i -> (z.q[i] - c.cq[i]) * (z.q[i] - c.cq[i]))) AS d
          FROM qz z CROSS JOIN cent c
        ), assign AS (
          SELECT vec_id, cell FROM (
            SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
            FROM cdist) WHERE rn = 1
        ), qprobe AS (
          SELECT vec_id AS query_id, cell FROM (
            SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
            FROM cdist WHERE vec_id < 10) WHERE rn <= 4
        ), cand AS (
          SELECT DISTINCT p.query_id, a.vec_id AS cand_id
          FROM qprobe p JOIN assign a ON a.cell = p.cell
          WHERE a.vec_id <> p.query_id
        ), scored AS (
          SELECT u.query_id, u.cand_id, ${cosSql("qa.q", "qb.q")} AS sim
          FROM cand u
          JOIN qz qa ON qa.vec_id = u.query_id
          JOIN qz qb ON qb.vec_id = u.cand_id
        ), ranked AS (
          SELECT query_id, cand_id, sim,
                 CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS INTEGER) AS rank
          FROM scored
        )
        SELECT query_id, cand_id, rank, round(sim, 6) AS sim FROM ranked WHERE rank <= 5"""),
    "ann_pq_topk" -> pqAdcSql,
    "ann_pq_rerank" -> pqRerankSql,
    "ann_ivf_kmeans" -> (qzCte + "\n        " + ivfKmeansCtesSql + s"""
        , cand AS (
          SELECT DISTINCT p.query_id, a.vec_id AS cand_id
          FROM qprobe p JOIN assign a ON a.cell = p.cell
          WHERE a.vec_id <> p.query_id
        ), scored AS (
          SELECT u.query_id, u.cand_id, ${cosSql("qa.q", "qb.q")} AS sim
          FROM cand u
          JOIN qz qa ON qa.vec_id = u.query_id
          JOIN qz qb ON qb.vec_id = u.cand_id
        ), ranked AS (
          SELECT query_id, cand_id, sim,
                 CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS INTEGER) AS rank
          FROM scored
        )
        SELECT query_id, cand_id, rank, round(sim, 6) AS sim FROM ranked WHERE rank <= 5"""),
    "ann_ivfpq_topk" -> ivfPqSql,
    "ann_index_scored" -> annIndexScoredSql,
    "ann_index_filtered" -> annIndexFilteredSql,
    "ann_index_append" -> annIndexAppendSql,
    "ann_index_delete" -> annIndexDeleteSql,
    "ann_index_reappend" -> annIndexReappendSql,
    "ann_index_compact" -> annIndexCompactSql,
    // post-swap there is no trace of the aged model, old era, or old
    // tombstones: the oracle is the plain fresh full-corpus index probe
    "ann_index_rebuild" -> annIndexScoredSqlFor("vec_id >= 220 AND vec_id < 260", 3),
    "ann_index_staleness" -> annIndexStalenessSql,
    "index_maintenance_plan" -> indexMaintenancePlanSql,
    "index_maintenance_apply" -> indexMaintenanceApplySql,
    "index_maintenance_fixpoint" -> indexMaintenanceFixpointSql,
    "ann_recall_audit" -> recallAuditSql,
    "emb_covariance" -> embCovarianceSql,
    "emb_pca_project" -> embPcaProjectSql,
    "emb_pca_topm" -> embPcaTopmSql,
    // refresh ≡ retrain: the additive-sufficient-statistic contract means
    // the refreshed model's oracle IS the fit-on-union twin, shared
    // verbatim with emb_pca_topm
    "emb_pca_refresh" -> embPcaTopmSql,
    "ann_pca_reduced" -> annPcaReducedSql,
    "emb_jl_distortion" -> embJlDistortionSql,
    "emb_quantize_int8" ->
      """WITH m AS (SELECT vec_id, embedding,
             list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max') AS maxabs
           FROM embeddings),
         e AS (SELECT vec_id, maxabs, CAST(i - 1 AS INTEGER) AS pos,
                      CAST(embedding[i] AS DOUBLE) AS x
               FROM m, range(1, 65) t(i))
         SELECT vec_id, pos,
           CAST(CASE WHEN maxabs = 0 THEN 0
                ELSE floor(x * (127.0 / maxabs) + 0.5) END AS INTEGER) AS code
         FROM e""",
    "ann_int8_rerank" ->
      """WITH m AS (SELECT vec_id, embedding,
             list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max') AS maxabs
           FROM embeddings),
         c8 AS (SELECT vec_id,
                 CASE WHEN maxabs = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                 ELSE list_transform(embedding, x ->
                   CAST(floor(CAST(x AS DOUBLE) * (127.0 / maxabs) + 0.5) AS BIGINT)) END AS codes
               FROM m),
         q8 AS (SELECT vec_id AS query_id, codes AS qc FROM c8 WHERE vec_id < 10),
         s8 AS (SELECT q8.query_id, c8.vec_id AS cand_id,
                 CAST(list_sum(list_transform(range(1, 65), i -> qc[i] * codes[i])) AS BIGINT) AS score
               FROM c8, q8 WHERE c8.vec_id <> q8.query_id),
         cand AS (SELECT query_id, cand_id FROM
                 (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id) AS rk
                  FROM s8)
                 WHERE rk <= 100),
         qv AS (SELECT vec_id AS query_id,
                  list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qv
                FROM embeddings WHERE vec_id < 10),
         cv AS (SELECT vec_id AS cand_id,
                  list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS cv
                FROM embeddings),
         ex AS (SELECT cand.query_id, cand.cand_id,
                  CAST(list_sum(list_transform(range(1, 65), i -> qv[i] * cv[i])) AS BIGINT) AS dot,
                  CAST(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i])) AS BIGINT) AS naa,
                  CAST(list_sum(list_transform(range(1, 65), i -> cv[i] * cv[i])) AS BIGINT) AS ncc
                FROM cand JOIN qv USING (query_id) JOIN cv USING (cand_id)),
         scored AS (SELECT query_id, cand_id,
                  CAST(dot AS DOUBLE) / sqrt(CAST(naa AS DOUBLE) * CAST(ncc AS DOUBLE)) AS sim
                FROM ex),
         ranked AS (SELECT query_id, cand_id, sim,
                  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS INTEGER) AS rank
                FROM scored)
         SELECT query_id, cand_id, rank, sim FROM ranked WHERE rank <= 5""",
    "ann_int8_topk" ->
      """WITH m AS (SELECT vec_id, embedding,
             list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max') AS maxabs
           FROM embeddings),
         c AS (SELECT vec_id,
                 CASE WHEN maxabs = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                 ELSE list_transform(embedding, x ->
                   CAST(floor(CAST(x AS DOUBLE) * (127.0 / maxabs) + 0.5) AS BIGINT)) END AS codes
               FROM m),
         q AS (SELECT vec_id AS query_id, codes AS qc FROM c WHERE vec_id < 5),
         s AS (SELECT q.query_id, c.vec_id AS cand_id,
                 CAST(list_sum(list_transform(range(1, 65), i -> qc[i] * codes[i])) AS BIGINT) AS score
               FROM c, q WHERE c.vec_id <> q.query_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id) AS rk
               FROM s)
         SELECT query_id, cand_id, CAST(rk AS INTEGER) AS rank, score
         FROM r WHERE rk <= 10""",
    "emb_label_centroid" ->
      """WITH x AS (
           SELECT label, CAST(i - 1 AS INTEGER) AS pos,
                  CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS v
           FROM embeddings, range(1, 65) t(i))
         SELECT label, pos, CAST(count(*) AS BIGINT) AS n_vecs, CAST(sum(v) AS BIGINT) AS sum_q,
                CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_q
         FROM x GROUP BY label, pos""",
    "emb_label_diversity" ->
      """WITH q1 AS (
           SELECT vec_id, label,
             list_transform(range(1, 65),
               i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS q
           FROM embeddings),
         sd AS (
           SELECT vec_id, label, q,
             list_sum(list_transform(q, x -> x * x)) AS sdot
           FROM q1),
         un AS (
           SELECT vec_id, label,
             CASE WHEN sdot = 0 THEN list_transform(q, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(q,
                    x -> CAST(floor(CAST(x AS DOUBLE) * 1000
                                    / sqrt(CAST(sdot AS DOUBLE)) + 0.5) AS BIGINT))
             END AS u
           FROM sd),
         e AS (
           SELECT label, CAST(i - 1 AS INTEGER) AS pos, u[i] AS ux
           FROM un, range(1, 65) t(i)),
         s1 AS (
           SELECT label, pos, count(*) AS n, sum(ux) AS s, sum(ux * ux) AS ss
           FROM e GROUP BY 1, 2),
         s2 AS (
           SELECT label, max(n) AS n_vecs, sum(s * s) AS dot_ss, sum(ss) AS self_sum
           FROM s1 GROUP BY 1)
         SELECT label,
           CAST(n_vecs AS BIGINT) AS n_vecs,
           CAST(dot_ss AS BIGINT) AS dot_ss,
           CAST(self_sum AS BIGINT) AS self_sum,
           round(CAST(dot_ss - self_sum AS DOUBLE)
                 / (n_vecs * (n_vecs - 1)) / 1000000, 6) AS mean_cos
         FROM s2 WHERE n_vecs >= 2""",
    // EWMA twin: the bounded window replayed as an rn band self-join; the
    // lag weights (aD−aN)^j·aD^(N−1−j) are the exact integers the Spark,
  )
}
