package graft.ext

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Dedup extensions (SURVEY.md §7.5a). */
class DedupSpec extends SparkSpecBase {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near-dup of 1
    (3L, "completely different content about spark catalyst optimizer internals"),
    (4L, "the quick brown fox jumps over the lazy dog again and again today")    // exact dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup groups identical content, keeps lowest id") {
    val out = Dedup.exact(docs, $"doc_id", $"text")
    assert(out.count() == 3)
    val dupGroup = out.filter($"n_dupes" === 2).collect().head
    assert(dupGroup.getAs[Long]("keep_id") == 1L)
  }

  test("minhashLshPairs finds exact and near dups, not unrelated docs") {
    val pairs = Dedup.minhashLshPairs(docs, $"doc_id", $"text", n = 3, k = 8, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))        // exact dup: all bands agree
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near-dup caught by some band
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L }) // unrelated never pairs
  }

  test("minhash signature is a k-array of 8-hex-char minima, equal for equal text") {
    val sigs = Dedup.minhashSignatures(docs, $"doc_id", $"text", n = 3, k = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sigs(1L).size == 8 && sigs(1L).forall(_.matches("^[0-9a-f]{8}$")))
    assert(sigs(1L) == sigs(4L))       // identical docs → identical signature
    assert(sigs(1L) != sigs(3L))       // different docs → different signature
    val overlap12 = sigs(1L).zip(sigs(2L)).count { case (a, b) => a == b }
    assert(overlap12 > 0, "near-dups share some minima")
  }

  test("minhashLshProbePairs equals the cross-side restriction of the self-join pairs") {
    // same scheme, two derivations: probing incoming against corpus must
    // yield exactly the self-join's pairs that straddle the two sides
    val corpus = docs.filter($"doc_id" =!= 4L)
    val incoming = docs.filter($"doc_id" === 4L)
    val probe = Dedup
      .minhashLshProbePairs(corpus, incoming, $"doc_id", $"text", n = 3, k = 8, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val self = Dedup.minhashLshPairs(docs, $"doc_id", $"text", n = 3, k = 8, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => (a == 4L) != (b == 4L) }
      .map { case (a, b) => if (a == 4L) (a, b) else (b, a) }
      .toSet
    assert(probe == self, s"probe $probe != cross-side self-join $self")
    assert(probe.contains((4L, 1L)), "exact dup of corpus doc 1 must be found")
  }

  test("minhashLshProbePairs caps the corpus index side, not the incoming batch") {
    // 30 identical corpus docs form one boilerplate bucket per band;
    // cap 10 quarantines them, so the incoming exact dup finds nothing
    val boiler = (1L to 30L)
      .map(i => (i, "the quick brown fox jumps over the lazy dog again and again today"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again today"))
      .toDF("doc_id", "text")
    val capped = Dedup.minhashLshProbePairs(
      boiler, incoming, $"doc_id", $"text", n = 3, k = 8, bands = 4, maxBucket = 10)
    assert(capped.count() == 0, "capped corpus bucket must not produce pairs")
    val uncapped = Dedup.minhashLshProbePairs(
      boiler, incoming, $"doc_id", $"text", n = 3, k = 8, bands = 4)
    assert(uncapped.count() == 30, "uncapped probe pairs the dup with every corpus copy")
  }

  test("simhash32: equal text equal fingerprint; near-dups within small hamming distance") {
    val fps = docs.select($"doc_id", Dedup.simhash32($"text").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(4L))
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(hamming(fps(1L), fps(2L)) < hamming(fps(1L), fps(3L)))
  }

  test("jaccard: identity 1.0, disjoint 0.0, empty-vs-empty 0.0") {
    val df = Seq(
      (Seq("a", "b"), Seq("a", "b")),
      (Seq("a"), Seq("b")),
      (Seq.empty[String], Seq.empty[String])
    ).toDF("x", "y")
    val out = df.select(Dedup.jaccard($"x", $"y").as("j")).collect().map(_.getDouble(0))
    assert(out sameElements Array(1.0, 0.0, 0.0))
  }

  test("LSH recall against exact-Jaccard ground truth on fixture documents") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // exact ground truth: all-pairs 3-gram Jaccard (50 docs → 1225 pairs)
    val g = Dedup.shingled(docs, $"doc_id", $"text", 3)
    val truth = g.as("a").join(g.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("lo"), col("b.doc_id").as("hi"),
        Dedup.jaccard(col("a.grams"), col("b.grams")).as("jac"))
      .filter($"jac" >= 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "fixture should contain planted near-dups")
    val candidates = Dedup.minhashLshPairs(docs, $"doc_id", $"text", n = 3, k = 8, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.count(candidates.contains).toDouble / truth.size
    // deterministic (md5-based): expected ≥ 1-(1-s²)^bands ≈ 0.93 at s=0.7
    assert(recall >= 0.85, s"LSH recall $recall below bound; truth=${truth.size}")
  }

  test("embeddingNearDupPairs finds planted near-identical vectors, skips distant ones") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(0.999f, 0.01f, 0.0f, 0.0f)), // near-dup of 1
      (3L, Seq(0.0f, 0.0f, 1.0f, 0.0f))     // orthogonal
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(vecs, $"vec_id", $"embedding", dim = 4, planes = 2, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L))) // same SRP bucket + cosine ≈ 1
  }

  test("embeddingIncrementalPairs equals the cross-side restriction of the self-join pairs") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(0.999f, 0.01f, 0.0f, 0.0f)), // near-dup of 1
      (3L, Seq(0.0f, 0.0f, 1.0f, 0.0f)),    // orthogonal
      (5L, Seq(1.0f, 0.001f, 0.0f, 0.0f))   // "incoming" near-dup of 1 and 2
    ).toDF("vec_id", "embedding")
    val corpus = vecs.filter($"vec_id" =!= 5L)
    val incoming = vecs.filter($"vec_id" === 5L)
    val probe = Dedup
      .embeddingIncrementalPairs(corpus, incoming, $"vec_id", $"embedding",
        dim = 4, planes = 2, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val self = Dedup
      .embeddingNearDupPairs(vecs, $"vec_id", $"embedding", dim = 4, planes = 2, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => (a == 5L) != (b == 5L) }
      .map { case (a, b) => if (a == 5L) (a, b) else (b, a) }
      .toSet
    assert(probe == self, s"probe $probe != cross-side self-join $self")
    assert(probe.contains((5L, 1L)) && probe.contains((5L, 2L)))
    assert(!probe.exists(_._2 == 3L), "orthogonal corpus vector must not pair")
  }

  test("hot bucket: pairs are rows (no in-row m² arrays) and maxBucket quarantines") {
    // 10⁴ identical docs — ONE band value shared by all of them, the
    // boilerplate-corpus skew shape that OOM'd the collect_set formulation
    // (10⁸ structs in a single row's array). With pair-by-self-join + cap,
    // the hot bucket is excluded wholesale and the query completes.
    val hot = spark.range(0, 10000)
      .select($"id".as("doc_id"), lit("terms of service apply to all users of this site").as("text"))
    // exact duplicates: every band collides, so the pair survives for sure
    // (near-dup recall is covered elsewhere; this test is about the cap)
    val tail = Seq(
      (20001L, "unique snowflake document about catalyst optimizer rules"),
      (20002L, "unique snowflake document about catalyst optimizer rules")
    ).toDF("doc_id", "text")
    val docs = hot.unionByName(tail)
    val pairs = Dedup.minhashLshPairs(docs, $"doc_id", $"text", n = 3, k = 8, bands = 4, maxBucket = 100)
    // plan sanity: pair generation is a join, not an array build
    val plan = pairs.queryExecution.optimizedPlan.toString
    assert(!plan.contains("collect_set") && !plan.contains("collect_list"))
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((20001L, 20002L)), s"only the small-bucket near-dup pair survives, got $got")
    // the quarantine side reports the hot bucket (once per band that collides)
    val quarantined = Dedup.oversizedBuckets(docs, $"doc_id", $"text", n = 3, k = 8, bands = 4, maxBucket = 100)
      .collect()
    assert(quarantined.nonEmpty && quarantined.forall(_.getAs[Long]("n_members") == 10000L))
  }

  test("embedding hot bucket: cap bounds pair generation, pairs stay correct") {
    val hot = spark.range(0, 2000)
      .select($"id".as("vec_id"),
        array(lit(1.0f), lit(0.0f), lit(0.0f), lit(0.0f)).as("embedding"))
    val tail = Seq(
      (30001L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (30002L, Seq(0.0f, 0.999f, 0.01f, 0.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(
      hot.unionByName(tail), $"vec_id", $"embedding", dim = 4, planes = 2,
      threshold = 0.99, maxBucket = 100
    ).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((30001L, 30002L)), s"hot identical-vector bucket quarantined, got $pairs")
  }

  test("semanticPairs: trained cells pair the planted near-dups, survivors keep lowest ids") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(0.998f, 0.02f, 0.0f, 0.0f)),  // near-dup of 1
      (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, Seq(0.01f, 0.999f, 0.0f, 0.0f)),  // near-dup of 3
      (5L, Seq(0.0f, 0.0f, 0.0f, 1.0f))      // lone axis vector
    ).toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(vecs, "vec_id", "embedding", nlist = 3, iters = 2)
    val pairs = Dedup.semanticPairs(vecs, $"vec_id", $"embedding", cents, tau = 0.9)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((1L, 2L), (3L, 4L)), s"expected the two planted dup pairs, got $pairs")
    val surv = Dedup.semanticSurvivors(vecs, $"vec_id", $"embedding", cents, tau = 0.9)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(surv == Set(1L, 3L, 5L), s"greedy lowest-id keep, got $surv")
  }

  test("semanticPairs: maxCell quarantines a degenerate cluster, tail pairs survive") {
    // the two tail vectors get the LOWEST ids so they seed the quantizer
    // (sampleCentroids is lowest-id) — the 500-strong identical cluster
    // then lands in its own trained cell and is quarantined by the cap
    val hot = spark.range(100, 600)
      .select($"id".as("vec_id"),
        array(lit(1.0f), lit(0.0f), lit(0.0f), lit(0.0f)).as("embedding"))
    val tail = Seq(
      (0L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (1L, Seq(0.0f, 0.999f, 0.01f, 0.0f))
    ).toDF("vec_id", "embedding")
    val all = hot.unionByName(tail)
    val cents = Similarity.kmeansCentroids(all, "vec_id", "embedding", nlist = 2, iters = 1)
    val pairs = Dedup.semanticPairs(all, $"vec_id", $"embedding", cents, tau = 0.9, maxCell = 100)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((0L, 1L)), s"hot identical-vector cell quarantined, got $pairs")
  }

  test("probeSemanticIndex equals the cross-side restriction of semanticPairs") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(0.998f, 0.02f, 0.0f, 0.0f)),  // near-dup of 1
      (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, Seq(0.01f, 0.999f, 0.0f, 0.0f)),  // near-dup of 3
      (5L, Seq(1.0f, 0.002f, 0.0f, 0.0f))    // "incoming" near-dup of 1 and 2
    ).toDF("vec_id", "embedding")
    // nlist = 2: with 3 cells, v2 is its own SEED and keeps its own cell
    // (sim(5,2) is high but cross-cell — the documented approximation);
    // at 2 cells training pulls v2 back into v1's cluster
    val cents = Similarity.kmeansCentroids(vecs, "vec_id", "embedding", nlist = 2, iters = 2)
    val corpus = vecs.filter($"vec_id" =!= 5L)
    val incoming = vecs.filter($"vec_id" === 5L)
    Dedup.persistSemanticIndex(corpus, $"vec_id", $"embedding", cents,
      table = "graft_sem_idx_spec", buckets = 2)
    val probe = Dedup
      .probeSemanticIndex(spark, "graft_sem_idx_spec", incoming, $"vec_id", $"embedding",
        cents, tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val self = Dedup.semanticPairs(vecs, $"vec_id", $"embedding", cents, tau = 0.9)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
      .filter { case (a, b) => (a == 5L) != (b == 5L) }
      .map { case (a, b) => if (a == 5L) (a, b) else (b, a) }
      .toSet
    assert(probe == self, s"probe $probe != cross-side self-join $self")
    assert(probe == Set((5L, 1L), (5L, 2L)), s"incoming must pair with both planted dups: $probe")
  }

  test("streamingLshCandidates: near-dup pairs emerge from the watermarked band self-join") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import java.sql.Timestamp
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, String, Timestamp)]
    val stream = mem.toDF().toDF("doc_id", "text", "ts")
    val cands = Dedup.streamingLshCandidates(
      stream, $"doc_id", $"text", "ts", watermark = "10 minutes", horizonSeconds = 3600)
    mem.addData(
      (1L, "the quick brown fox jumps over the lazy dog again and again today", ts("2024-01-01 10:00:00")),
      (2L, "the quick brown fox jumps over the lazy dog again and again today", ts("2024-01-01 10:05:00")),
      (3L, "completely different content about spark catalyst optimizer internals", ts("2024-01-01 10:06:00"))
    )
    val q = cands.writeStream
      .format("memory").queryName("lsh_cand_test").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("lsh_cand_test").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct.toSet
    assert(pairs == Set((1L, 2L)), s"exact dup within horizon must pair, unrelated must not: $pairs")
  }

  test("streamingIncrementalCandidates: stream-static probe matches the batch probe") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    val corpus = docs.filter($"doc_id" =!= 4L)
    val mem = MemoryStream[(Long, String)]
    val cands = Dedup.streamingIncrementalCandidates(
      corpus, mem.toDF().toDF("doc_id", "text"), $"doc_id", $"text", n = 3, k = 8, bands = 4)
    mem.addData((4L, "the quick brown fox jumps over the lazy dog again and again today"))
    val q = cands.writeStream
      .format("memory").queryName("inc_probe_test").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("inc_probe_test").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct.toSet
    val batch = Dedup
      .minhashLshProbePairs(corpus, docs.filter($"doc_id" === 4L), $"doc_id", $"text",
        n = 3, k = 8, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch, s"stream $streamed != batch $batch")
    assert(streamed.contains((4L, 1L)), "the exact corpus dup must be found")
    spark.catalog.dropTempView("inc_probe_test")
  }

  test("connectedComponents: chains resolve to the min id across >1 hop") {
    // 5-4, 4-3, 3-2, 2-1 is a diameter-4 chain: min-label propagation needs
    // several rounds, not just one neighbor lookup
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("id_lo", "id_hi")
    val out = Dedup.connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((1L to 5L).forall(out(_) == 1L), s"chain must collapse to 1: $out")
    assert(out(10L) == 10L && out(11L) == 10L)
    assert(out.size == 7)
  }

  test("connectedComponents: a diameter-200 chain converges within the log-round budget") {
    // contraction + pointer jumping converge in O(log diameter) rounds —
    // plain propagation would need 200 rounds and silently stop at maxIter
    val pairs = spark.range(1, 200)
      .select($"id".as("id_lo"), ($"id" + 1).as("id_hi"))
    val out = Dedup.connectedComponents(pairs, maxIter = 12).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == 200)
    assert(out.forall(_._2 == 1L), "every chain member must resolve to id 1")
  }

  test("connectedComponents: an unconverged exit throws instead of returning wrong labels") {
    // a diameter-200 chain cannot converge in 2 rounds — partially-converged
    // canonical_ids must never flow silently into dedup decisions
    val pairs = spark.range(1, 200)
      .select($"id".as("id_lo"), ($"id" + 1).as("id_hi"))
    val err = intercept[IllegalStateException] {
      Dedup.connectedComponents(pairs, maxIter = 2).collect()
    }
    assert(err.getMessage.contains("did not converge"))
  }

  test("wordShingles: distinct n-grams, short docs yield one (possibly partial) gram") {
    val df = Seq("a b c d", "a b").toDF("t")
    val out = df.select(Dedup.wordShingles($"t", 3).as("g")).collect().map(_.getSeq[String](0))
    assert(out(0) == Seq("a b c", "b c d"))
    assert(out(1) == Seq("a b")) // fewer words than n: concat_ws skips missing
  }

  test("sharedNgramRuns finds the exact shared substring span and its match count") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "xx quick brown fox jumps yy zz"),
      (3L, "completely different words here entirely")
    ).toDF("doc_id", "text")
    val out = Dedup.sharedNgramRuns(df, $"doc_id", $"text", n = 3, maxDocFreq = 10, minRunGrams = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // docs 1,2 share "quick brown fox jumps": grams "quick brown fox" and
    // "brown fox jumps" — one diagonal run of 2 grams = 4 tokens, starting
    // at token offset 1 of doc 1
    assert(out == Map((1L, 2L) -> ((2L, 4L, 1L))))
  }

  test("sharedNgramRuns quarantines frequent grams and drops sub-threshold runs") {
    // the gram "a b c" appears in 3 docs; with maxDocFreq=2 it is
    // boilerplate and generates no pairs at all
    val common = Seq(
      (1L, "a b c one"),
      (2L, "a b c two"),
      (3L, "a b c three")
    ).toDF("doc_id", "text")
    assert(Dedup.sharedNgramRuns(common, $"doc_id", $"text", 3, maxDocFreq = 2, 1).count() == 0)
    // a single shared gram (run of 1) is below minRunGrams=2
    val single = Seq(
      (1L, "shared tri gram tail one"),
      (2L, "head shared tri gram")
    ).toDF("doc_id", "text")
    assert(Dedup.sharedNgramRuns(single, $"doc_id", $"text", 3, 10, minRunGrams = 2).count() == 0)
    // but it IS reported at minRunGrams=1, as a 3-token run
    val one = Dedup.sharedNgramRuns(single, $"doc_id", $"text", 3, 10, minRunGrams = 1).collect()
    assert(one.map(r => (r.getLong(2), r.getLong(3))).toSeq == Seq((1L, 3L)))
  }

  test("sharedNgramRuns: repeated grams inside one doc count every positional match") {
    val df = Seq(
      (1L, "x y z p q x y z"),     // "x y z" at pos 0 and pos 5
      (2L, "x y z tail tokens")
    ).toDF("doc_id", "text")
    val out = Dedup.sharedNgramRuns(df, $"doc_id", $"text", 3, 10, minRunGrams = 1).collect()
    // two (gram,pos) matches for the pair, both runs of length 1; the
    // tie-broken start is the smaller offset
    assert(out.map(r => (r.getLong(2), r.getLong(3), r.getLong(4))).toSeq == Seq((2L, 3L, 0L)))
  }

  test("sharedNgramRuns counts null doc ids as ONE document in the quarantine") {
    // two null-id rows + docs 1 and 2 all share "a b c"; with maxDocFreq=3
    // the nulls must collapse to one distinct doc (ndocs=3) so the real
    // 1-2 pair survives — counting each null row separately would push
    // ndocs to 4 and silently quarantine the gram
    val df = Seq[(java.lang.Long, String)](
      (null, "a b c x"),
      (null, "a b c y"),
      (1L, "a b c one"),
      (2L, "a b c two")
    ).toDF("doc_id", "text")
    val out = Dedup.sharedNgramRuns(df, $"doc_id", $"text", n = 3, maxDocFreq = 3, minRunGrams = 1)
      .collect().map(r => (r.get(0), r.get(1)))
    assert(out.contains((1L, 2L)), s"real pair lost to null-inflated quarantine: ${out.toSeq}")
  }

  test("sharedNgramRuns at n=1 ignores empty/whitespace-only documents") {
    // tab/newline-only text defeats space-only trim(); the regex trim must
    // catch every \s flavor, and a tab-LED doc must not grow a bogus
    // leading token that shifts positions
    val df = Seq((1L, ""), (2L, "   "), (3L, "\t"), (4L, "\n\n"), (5L, "solo")).toDF("doc_id", "text")
    assert(Dedup.sharedNgramRuns(df, $"doc_id", $"text", n = 1, 10, 1).count() == 0)
    val led = Seq((1L, "\tshared token run here"), (2L, "shared token run here")).toDF("doc_id", "text")
    val out = Dedup.sharedNgramRuns(led, $"doc_id", $"text", n = 1, 10, 1).collect()
    // 4 matching tokens on ONE diagonal (no artifact offset shift): run of
    // 4 starting at pos 0
    assert(out.map(r => (r.getLong(2), r.getLong(3), r.getLong(4))).toSeq == Seq((4L, 4L, 0L)))
  }

  test("crossNgramRuns locates the contaminating span against a probe set") {
    val train = Seq(
      (1L, "intro text then the secret benchmark answer is here trailing words"),
      (2L, "nothing in common with anything at all")
    ).toDF("doc_id", "text")
    val probe = Seq(
      (100L, "the secret benchmark answer is"),
      (200L, "unrelated probe content entirely different")
    ).toDF("doc_id", "text")
    val out = Dedup.crossNgramRuns(
      train, $"doc_id", $"text", probe, $"doc_id", $"text", n = 3, maxDocFreq = 10, minRunGrams = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // probe 100's 5-token text = three 3-grams, all matching doc 1 on one
    // diagonal -> one run of 3 grams = 5 shared tokens, starting at token
    // offset 3 of the training doc ("the secret benchmark ...")
    assert(out == Map((1L, 100L) -> ((3L, 5L, 3L))))
    // the probe-gram join must come from OUR broadcast hint, not from the
    // auto-broadcast threshold picking up a small frame — disable auto
    // broadcasting and the hint must still win
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val plan = Dedup.crossNgramRuns(
        train, $"doc_id", $"text", probe, $"doc_id", $"text", 3, 10, 2)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), plan)
    }
  }

  test("stripBoilerplate removes only over-threshold lines, preserves order, keeps all ids") {
    // HEADER in 4 docs, FOOTER in 3, bodies unique; maxDocs=2 strips both
    // frames and nothing else
    val df = Seq(
      (1L, "HEADER\nbody one\nFOOTER"),
      (2L, "HEADER\nbody two line a\nbody two line b\nFOOTER"),
      (3L, "HEADER\nbody three\nFOOTER"),
      (4L, "HEADER"), // all boilerplate → empty text, id survives
      (5L, "no frame at all")
    ).toDF("doc_id", "text")
    val out = Dedup.stripBoilerplate(df, "doc_id", "text", maxDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(
      1L -> "body one",
      2L -> "body two line a\nbody two line b",
      3L -> "body three",
      4L -> "",
      5L -> "no frame at all"
    ))
  }

  test("prefixFilterPairs: exact threshold join, boundary pair kept by integer compare") {
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d e"), // identical → J = 1
      (3L, "a b c d f"), // J vs 1/2 = 4/6 = 2/3 — EXACTLY on the threshold
      (4L, "x y z w v") // disjoint
    ).toDF("doc_id", "text")
    val out = Dedup
      .prefixFilterPairs(docs, col("doc_id"), col("text"), tauNum = 2, tauDen = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    // the 2/3 boundary pair must survive: inter·3 ≥ 2·(5+5−4) is 12 ≥ 12,
    // which no float formulation is guaranteed to get right
    assert(out == Set((1L, 2L, 5L), (1L, 3L, 4L), (2L, 3L, 4L)))
  }

  test("prefixFilterPairs prefixes are the RAREST tokens (df-ordered, bounded postings)") {
    // 10 docs share the frequent token 'the'; at τ=0.8 with 5-token sets
    // the prefix is 2 tokens and 'the' (df=10) sorts last, so it can
    // never be a prefix token — the any-token hot posting never joins
    val docs = (0 until 10).map(i => (i.toLong, s"the u$i v$i w$i x$i")).toDF("doc_id", "text")
    val pairs = Dedup.prefixFilterPairs(docs, col("doc_id"), col("text"), tauNum = 4, tauDen = 5)
    assert(pairs.count() == 0L, "distinct docs sharing only 'the' must produce no pairs")
  }

  test("prefixFilterPairs spill memo keys on input identity — no stale reuse across inputs") {
    // same session, two DIFFERENT corpora through the same operator: the
    // second call must reflect its own input, not the first call's spilled
    // ordered-token table (the bench runs warmup sf0.001 then timed sf0.1
    // through one session — a plan-identity collision would silently score
    // the wrong corpus)
    val a = Seq((1L, "p q r s t"), (2L, "p q r s t")).toDF("doc_id", "text")
    val b = Seq((1L, "m n o"), (2L, "m n o"), (3L, "m n z")).toDF("doc_id", "text")
    val outA = Dedup.prefixFilterPairs(a, col("doc_id"), col("text"), 9, 10)
      .select("id_lo", "id_hi").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val outB = Dedup.prefixFilterPairs(b, col("doc_id"), col("text"), 9, 10)
      .select("id_lo", "id_hi").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(outA == Set((1L, 2L)))
    assert(outB == Set((1L, 2L)), s"B must see its own 3-doc corpus, got $outB")
    // and rerunning A again still serves A's pairs (memo hit, same answer)
    val outA2 = Dedup.prefixFilterPairs(a, col("doc_id"), col("text"), 9, 10)
      .select("id_lo", "id_hi").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(outA2 == outA)
  }

  test("containmentPairs is asymmetric: the quote scores 1.0, the quoting doc does not") {
    // doc 1 is quoted verbatim inside doc 2 (plus extra prose); doc 3
    // shares vocabulary but no 3-word phrasing
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "intro words alpha beta gamma delta and a long tail of extra prose here"),
      (3L, "delta alpha words beta prose gamma extra intro")
    ).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(df, col("doc_id"), col("text"), 9, 10, shingle = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(5))
      .toMap
    // A ⊂ B at full strength; NO other ordered pair reaches 90%
    assert(out == Map((1L, 2L) -> 1000000L), s"got $out")
  }

  test("deleteFromLshIndex: tombstone-then-probe equals rebuild-without-deleted-then-probe") {
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = all.filter(col("doc_id") % 5 =!= 0)
    val incoming = all.filter(col("doc_id") % 5 === 0)
    def probe(tbl: String) = Dedup
      .probeLshIndex(spark, tbl, incoming, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val rebuilt = s"lshspec_nodel_${System.nanoTime()}"
    Dedup.persistLshIndex(
      corpus.filter(col("doc_id") % 3 =!= 0), col("doc_id"), col("text"), rebuilt, buckets = 4)
    val tombed = s"lshspec_tomb_${System.nanoTime()}"
    Dedup.persistLshIndex(corpus, col("doc_id"), col("text"), tombed, buckets = 4)
    val before = probe(tombed)
    Dedup.deleteFromLshIndex(
      spark, tombed, all.filter(col("doc_id") % 3 === 0), col("doc_id"))
    val after = probe(tombed)
    assert(after == probe(rebuilt),
      "tombstone-then-probe must equal rebuild-without-deleted-then-probe")
    // observable retraction: the %3 stratum must actually lose matches
    assert(before.exists(_._2 % 3 == 0), s"fixture too weak — no deleted id matched before")
    assert(!after.exists(_._2 % 3 == 0), s"deleted corpus ids still matched: $after")
  }

  test("compactLshIndex folds tombstones, merges bucket files, probe unchanged") {
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = all.filter(col("doc_id") % 5 =!= 0)
    val incoming = all.filter(col("doc_id") % 5 === 0)
    def probe(tbl: String) = Dedup
      .probeLshIndex(spark, tbl, incoming, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val tbl = s"lshspec_cmp_${System.nanoTime()}"
    // repartition(3): each era writes from 3 tasks — deterministic
    // multi-file buckets for compaction to heal
    Dedup.persistLshIndex(
      corpus.filter(col("doc_id") % 2 === 0).repartition(3), col("doc_id"), col("text"), tbl, buckets = 4)
    Dedup.appendLshIndex(
      corpus.filter(col("doc_id") % 2 === 1).repartition(3), col("doc_id"), col("text"), tbl, buckets = 4)
    Dedup.deleteFromLshIndex(spark, tbl, all.filter(col("doc_id") % 3 === 0), col("doc_id"))
    val preFiles = graft.sources.Sources.tableFileCount(spark, tbl)
    assert(preFiles > 4, s"persist+append must leave multi-file buckets, got $preFiles")
    val pre = probe(tbl)
    Dedup.compactLshIndex(spark, tbl, buckets = 4)
    assert(probe(tbl) == pre, "compaction changed probe results")
    val postFiles = graft.sources.Sources.tableFileCount(spark, tbl)
    assert(postFiles <= 4, s"compaction must leave at most one file per bucket, got $postFiles")
    assert(!spark.catalog.tableExists(Similarity.tombTable(tbl)),
      "applied tombstones must be retired by compaction")
  }

  test("semantic index lifecycle: append ≡ rebuild, delete ≡ rebuild-without-deleted, compact heals") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding", nlist = 4, iters = 1)
    val corpus = e.filter(col("vec_id") % 5 =!= 0)
    val incoming = e.filter(col("vec_id") % 5 === 0)
    def probe(tbl: String) = Dedup
      .probeSemanticIndex(spark, tbl, incoming, col("vec_id"), col("embedding"), cents, tau = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(p => (p._1, p._2)).toSeq
    // ground truth: one-shot index over corpus-minus-deleted
    val truth = s"semspec_truth_${System.nanoTime()}"
    Dedup.persistSemanticIndex(
      corpus.filter(col("vec_id") % 3 =!= 0), col("vec_id"), col("embedding"), cents, truth, buckets = 4)
    // lifecycle: build era-0, append era-1 TWICE (retry shape), delete, compact
    val tbl = s"semspec_mnt_${System.nanoTime()}"
    Dedup.persistSemanticIndex(
      corpus.filter(col("vec_id") % 2 === 0).repartition(3),
      col("vec_id"), col("embedding"), cents, tbl, buckets = 4)
    val era1 = corpus.filter(col("vec_id") % 2 === 1).repartition(3)
    Dedup.appendSemanticIndex(era1, col("vec_id"), col("embedding"), cents, tbl, buckets = 4)
    Dedup.appendSemanticIndex(era1, col("vec_id"), col("embedding"), cents, tbl, buckets = 4)
    Dedup.deleteFromSemanticIndex(
      spark, tbl, e.filter(col("vec_id") % 3 === 0), col("vec_id"))
    // NOTE: unlike the ANN heap (set semantics) and the LSH probe
    // (distinct), the semantic probe relies on one-row-per-id — a
    // double-appended index emits duplicate pairs until compaction
    // dedupes the rows (documented in appendSemanticIndex); hence the
    // probe parity is asserted on the POST-compact table
    Dedup.compactSemanticIndex(spark, tbl, buckets = 4)
    assert(probe(tbl) == probe(truth),
      "append+delete+compact must equal one-shot rebuild-without-deleted")
    assert(spark.table(tbl).count() == corpus.filter(col("vec_id") % 3 =!= 0).count(),
      "compaction must fold tombstones and drop the double-append duplicates")
    val files = graft.sources.Sources.tableFileCount(spark, tbl)
    assert(files <= 4, s"compaction must leave at most one file per cell bucket, got $files")
    assert(!spark.catalog.tableExists(Similarity.tombTable(tbl)),
      "applied tombstones must be retired")
  }

  test("deleteFromLshIndex then re-append: era tombstones match the re-appended doc immediately") {
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = all.filter(col("doc_id") % 5 =!= 0)
    val incoming = all.filter(col("doc_id") % 5 === 0)
    def probe(tbl: String) = Dedup
      .probeLshIndex(spark, tbl, incoming, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // ground truth: rebuild WITH the re-appended even half of the stratum
    val rebuilt = s"lshspec_reapp_truth_${System.nanoTime()}"
    Dedup.persistLshIndex(
      corpus.filter(col("doc_id") % 3 =!= 0 || col("doc_id") % 2 === 0),
      col("doc_id"), col("text"), rebuilt, buckets = 4)
    val tbl = s"lshspec_reapp_${System.nanoTime()}"
    Dedup.persistLshIndex(corpus, col("doc_id"), col("text"), tbl, buckets = 4)
    Dedup.deleteFromLshIndex(spark, tbl, all.filter(col("doc_id") % 3 === 0), col("doc_id"))
    Dedup.appendLshIndex(
      corpus.filter(col("doc_id") % 3 === 0 && col("doc_id") % 2 === 0),
      col("doc_id"), col("text"), tbl, buckets = 4)
    val after = probe(tbl)
    assert(after == probe(rebuilt),
      "delete-then-reappend-then-probe must equal rebuild-with-reappended (no compaction needed)")
    assert(after.exists(p => p._2 % 3 == 0 && p._2 % 2 == 0),
      s"fixture too weak — no re-appended doc matched: $after")
    assert(!after.exists(p => p._2 % 3 == 0 && p._2 % 2 == 1),
      s"non-reappended deleted docs must stay hidden: $after")
  }

  test("probeSemanticIndex: overlap append duplicates pairs; distinctPairs enforces exactly-once") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding", nlist = 4, iters = 1)
    val corpus = e.filter(col("vec_id") % 5 =!= 0)
    val incoming = e.filter(col("vec_id") % 5 === 0)
    def probe(tbl: String, dp: Boolean) = Dedup
      .probeSemanticIndex(spark, tbl, incoming, col("vec_id"), col("embedding"), cents,
        tau = 0.2, distinctPairs = dp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(p => (p._1, p._2)).toSeq
    val truth = s"semspec_dp_truth_${System.nanoTime()}"
    Dedup.persistSemanticIndex(corpus, col("vec_id"), col("embedding"), cents, truth, buckets = 4)
    val expected = probe(truth, dp = false)
    // the at-least-once retry shape: era-1 lands twice (distinct auto eras)
    val tbl = s"semspec_dp_${System.nanoTime()}"
    Dedup.persistSemanticIndex(
      corpus.filter(col("vec_id") % 2 === 0), col("vec_id"), col("embedding"), cents, tbl, buckets = 4)
    val era1 = corpus.filter(col("vec_id") % 2 === 1)
    Dedup.appendSemanticIndex(era1, col("vec_id"), col("embedding"), cents, tbl, buckets = 4)
    Dedup.appendSemanticIndex(era1, col("vec_id"), col("embedding"), cents, tbl, buckets = 4)
    // the documented asymmetry, now spec-pinned from BOTH sides: the bare
    // probe duplicates exactly the odd-corpus pairs ...
    val bare = probe(tbl, dp = false)
    assert(bare != expected && bare.size > expected.size,
      "fixture too weak — the double append produced no duplicate pairs")
    assert(bare.distinct == expected, s"duplicates must be copies, not new pairs")
    // ... and distinctPairs = true is the enforced at-least-once posture
    assert(probe(tbl, dp = true) == expected,
      "distinctPairs must restore exactly-once pair semantics over a bloated index")
    // compaction heals the bloat for bare probes too
    Dedup.compactSemanticIndex(spark, tbl, buckets = 4)
    assert(probe(tbl, dp = false) == expected, "post-compact bare probe must be clean")
  }

  test("semantic index delete-then-reappend: the re-appended vector pairs again immediately") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding", nlist = 4, iters = 1)
    val corpus = e.filter(col("vec_id") % 5 =!= 0)
    val incoming = e.filter(col("vec_id") % 5 === 0)
    def probe(tbl: String) = Dedup
      .probeSemanticIndex(spark, tbl, incoming, col("vec_id"), col("embedding"), cents, tau = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(p => (p._1, p._2)).toSeq
    val truth = s"semspec_reapp_truth_${System.nanoTime()}"
    Dedup.persistSemanticIndex(
      corpus.filter(col("vec_id") % 3 =!= 0 || col("vec_id") % 2 === 0),
      col("vec_id"), col("embedding"), cents, truth, buckets = 4)
    val tbl = s"semspec_reapp_${System.nanoTime()}"
    Dedup.persistSemanticIndex(corpus, col("vec_id"), col("embedding"), cents, tbl, buckets = 4)
    Dedup.deleteFromSemanticIndex(spark, tbl, e.filter(col("vec_id") % 3 === 0), col("vec_id"))
    Dedup.appendSemanticIndex(
      corpus.filter(col("vec_id") % 3 === 0 && col("vec_id") % 2 === 0),
      col("vec_id"), col("embedding"), cents, tbl, buckets = 4)
    // the tombstoned original row is anti-joined out and the re-appended
    // row (higher era) serves — so NO duplicate pair appears either
    assert(probe(tbl) == probe(truth),
      "semantic delete-then-reappend-then-probe must equal rebuild-with-reappended")
  }

  test("semanticSurvivorsBy keeps the higher-score member of a pair; ties keep the lower id") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f), 1L),
      (2L, Seq(0.999f, 0.001f, 0.0f, 0.0f), 5L), // near-dup of 1, higher score
      (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f), 2L),
      (4L, Seq(0.0f, 0.999f, 0.001f, 0.0f), 2L), // near-dup of 3, exact tie
      (7L, Seq(0.0f, 0.0f, 1.0f, 0.0f), 0L) // isolated: survives regardless of score
    ).toDF("vec_id", "embedding", "score")
    val cents = Array(Seq(1000L, 0L, 0L, 0L), Seq(0L, 1000L, 0L, 0L), Seq(0L, 0L, 1000L, 0L))
    def kept(out: org.apache.spark.sql.DataFrame) =
      out.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    val quality = kept(Dedup.semanticSurvivorsBy(
      df, col("vec_id"), col("embedding"), cents, tau = 0.9, scoreCol = col("score")))
    assert(quality == Seq(2L, 3L, 7L), s"got $quality")
    // the quality-blind greedy keeps the LOWER id of the first pair — the
    // two elections must actually disagree on this fixture
    val blind = kept(Dedup.semanticSurvivors(df, col("vec_id"), col("embedding"), cents, tau = 0.9))
    assert(blind == Seq(1L, 3L, 7L), s"got $blind")
  }

  test("survivorsBy elects max-quality (tie min id) — diverging from the min-id winner") {
    // cluster {1,2,4}: doc 2 has strictly higher score than the min-id
    // member, so the quality election and the min-id election DISAGREE;
    // singleton 3 survives as its own cluster; exact tie {5,6} breaks to
    // the smaller id
    val labeled = Seq(
      (1L, 1L, 0.40), (2L, 1L, 0.90), (4L, 1L, 0.40),
      (3L, 3L, 0.10),
      (5L, 5L, 0.70), (6L, 5L, 0.70)
    ).toDF("doc_id", "cluster_id", "quality")
    val out = Dedup
      .survivorsBy(labeled, col("cluster_id"), col("doc_id"), col("quality"), "quality")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(out == Seq((2L, 1L, 0.90), (3L, 3L, 0.10), (5L, 5L, 0.70)), s"got $out")
    assert(out.head._1 != 1L, "quality election must not degenerate to the min-id winner")
  }

  test("rebuildLshIndex publishes a version: probe equals a fresh full-corpus index, tombstones clear") {
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = all.filter(col("doc_id") % 5 =!= 0)
    val incoming = all.filter(col("doc_id") % 5 === 0)
    def probe(tbl: String) = Dedup
      .probeLshIndex(spark, tbl, incoming, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val fresh = s"lshspec_rb_truth_${System.nanoTime()}"
    Dedup.persistLshIndex(corpus, col("doc_id"), col("text"), fresh, buckets = 4)
    // stale serving state: half the corpus, plus a tombstoned stratum
    val tbl = s"lshspec_rb_${System.nanoTime()}"
    Dedup.persistLshIndex(
      corpus.filter(col("doc_id") % 2 === 0), col("doc_id"), col("text"), tbl, buckets = 4)
    Dedup.deleteFromLshIndex(spark, tbl, all.filter(col("doc_id") % 3 === 0), col("doc_id"))
    Dedup.rebuildLshIndex(spark, tbl, corpus, col("doc_id"), col("text"), buckets = 4)
    val after = probe(tbl)
    assert(after == probe(fresh),
      "rebuild-then-probe must equal a fresh full-corpus index")
    // the stale tombstones dropped with the new authority: previously
    // retracted ids the rebuild corpus re-includes are visible again
    assert(after.exists(_._2 % 3 == 0),
      s"rebuild must clear the old tombstones (re-included ids visible): $after")
    // versioned publication: the serving state lives under __v1, the bare
    // name is gone, and the tombstone companion is retired
    assert(spark.catalog.tableExists(s"${tbl}__v1"), "rebuild must publish __v1")
    // the pre-rebuild bare table stays ONE cycle as the reader grace set;
    // serving resolution must already point at the published version
    assert(Similarity.servingTable(spark, tbl) == s"${tbl}__v1")
    assert(!spark.catalog.tableExists(Similarity.tombTable(tbl)))
  }

  test("LSH lifecycle continues on the serving version after a rebuild: append, delete, compact") {
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = all.filter(col("doc_id") % 5 =!= 0)
    val incoming = all.filter(col("doc_id") % 5 === 0)
    def probe(tbl: String) = Dedup
      .probeLshIndex(spark, tbl, incoming, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val fresh = s"lshspec_rbl_truth_${System.nanoTime()}"
    Dedup.persistLshIndex(
      corpus.filter(col("doc_id") % 3 =!= 0), col("doc_id"), col("text"), fresh, buckets = 4)
    val tbl = s"lshspec_rbl_${System.nanoTime()}"
    Dedup.persistLshIndex(
      corpus.filter(col("doc_id") % 2 === 0), col("doc_id"), col("text"), tbl, buckets = 4)
    // rebuild to HALF the corpus, then run the whole maintenance cycle
    // against the versioned serving table: append the other half, delete
    // the %3 stratum, compact — every step must resolve __v1, not the
    // retired bare name
    Dedup.rebuildLshIndex(
      spark, tbl, corpus.filter(col("doc_id") % 2 === 0), col("doc_id"), col("text"), buckets = 4)
    Dedup.appendLshIndex(
      corpus.filter(col("doc_id") % 2 === 1), col("doc_id"), col("text"), tbl, buckets = 4)
    Dedup.deleteFromLshIndex(spark, tbl, all.filter(col("doc_id") % 3 === 0), col("doc_id"))
    val pre = probe(tbl)
    assert(pre == probe(fresh),
      "append+delete against the serving version must equal rebuild-without-deleted")
    Dedup.compactLshIndex(spark, tbl, buckets = 4)
    assert(probe(tbl) == pre, "compaction on the serving version changed probe results")
    val files = graft.sources.Sources.tableFileCount(spark, s"${tbl}__v1")
    assert(files <= 4, s"compaction must heal the VERSION table's buckets, got $files files")
  }

  test("a fresh persist after a versioned rebuild retires the versions: new epoch serves") {
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = all.filter(col("doc_id") % 5 =!= 0)
    val incoming = all.filter(col("doc_id") % 5 === 0)
    def probe(tbl: String) = Dedup
      .probeLshIndex(spark, tbl, incoming, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val tbl = s"lshspec_epoch_${System.nanoTime()}"
    Dedup.persistLshIndex(
      corpus.filter(col("doc_id") % 2 === 0), col("doc_id"), col("text"), tbl, buckets = 4)
    Dedup.rebuildLshIndex(spark, tbl, corpus, col("doc_id"), col("text"), buckets = 4)
    assert(Similarity.servingTable(spark, tbl) == s"${tbl}__v1")
    // a NEW index epoch under the same logical name (fresh corpus build):
    // without version retirement the bare write would be outranked by the
    // stale __v1 at every append/census/live resolution — split-brain
    val truth = s"lshspec_epoch_truth_${System.nanoTime()}"
    Dedup.persistLshIndex(
      corpus.filter(col("doc_id") % 3 =!= 0), col("doc_id"), col("text"), truth, buckets = 4)
    Dedup.persistLshIndex(
      corpus.filter(col("doc_id") % 3 =!= 0), col("doc_id"), col("text"), tbl, buckets = 4)
    assert(Similarity.servingTable(spark, tbl) == tbl,
      "fresh persist must retire published versions — the bare table is the new authority")
    assert(probe(tbl) == probe(truth), "the new epoch's content must serve")
  }

  test("publishVersion keeps takedowns recorded DURING the build window, purges pre-build ones") {
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = all.filter(col("doc_id") % 5 =!= 0)
    val incoming = all.filter(col("doc_id") % 5 === 0)
    def probe(tbl: String) = Dedup
      .probeLshIndex(spark, tbl, incoming, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val tbl = s"lshspec_midtomb_${System.nanoTime()}"
    Dedup.persistLshIndex(corpus, col("doc_id"), col("text"), tbl, buckets = 4)
    // PRE-build takedown: the rebuild corpus re-includes these ids, so the
    // tombstone is inert against the new era and must be purged
    Dedup.deleteFromLshIndex(spark, tbl, all.filter(col("doc_id") % 2 === 0), col("doc_id"))
    // rebuild from the full corpus; a takedown lands MID-BUILD (the thunk
    // IS the build window — full-corpus encodes are the longest op)
    BucketedIndex.publishVersion(spark, tbl) { (bld, era) =>
      Dedup.persistLshIndex(corpus, col("doc_id"), col("text"), bld, buckets = 4, era = era)
      Dedup.deleteFromLshIndex(spark, tbl, all.filter(col("doc_id") % 3 === 0), col("doc_id"))
    }
    val truth = s"lshspec_midtomb_truth_${System.nanoTime()}"
    Dedup.persistLshIndex(
      corpus.filter(col("doc_id") % 3 =!= 0), col("doc_id"), col("text"), truth, buckets = 4)
    val after = probe(tbl)
    assert(after == probe(truth),
      "the mid-build takedown must hide its ids in the published version; " +
        "pre-build tombstones must not hide the re-included ids")
    assert(!after.exists(_._2 % 3 == 0), "mid-build takedown leaked into the probe")
    assert(after.exists(_._2 % 2 == 0), "pre-build tombstones must purge at publication")
    // only the surviving (mid-build) retractions remain in the companion
    val tombs = spark.table(Similarity.tombTable(tbl))
      .select(col("corpus_id")).collect().map(_.getLong(0)).toSet
    assert(tombs.nonEmpty && tombs.forall(_ % 3 == 0), s"got $tombs")
  }

  test("publishVersion recovers from a crashed prior rebuild: leftover __build staging is overwritten") {
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = all.filter(col("doc_id") % 5 =!= 0)
    val incoming = all.filter(col("doc_id") % 5 === 0)
    def probe(tbl: String) = Dedup
      .probeLshIndex(spark, tbl, incoming, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val fresh = s"lshspec_crash_truth_${System.nanoTime()}"
    Dedup.persistLshIndex(corpus, col("doc_id"), col("text"), fresh, buckets = 4)
    val tbl = s"lshspec_crash_${System.nanoTime()}"
    Dedup.persistLshIndex(
      corpus.filter(col("doc_id") % 2 === 0), col("doc_id"), col("text"), tbl, buckets = 4)
    // a prior rebuild died after staging: its half-written __build table is
    // still in the catalog under the name the NEXT rebuild will stage to —
    // the retry must overwrite it, not adopt or refuse it
    Dedup.persistLshIndex(
      corpus.filter(col("doc_id") % 7 === 0), col("doc_id"), col("text"),
      s"${tbl}__v1__build", buckets = 4)
    Dedup.rebuildLshIndex(spark, tbl, corpus, col("doc_id"), col("text"), buckets = 4)
    assert(probe(tbl) == probe(fresh),
      "a retried rebuild over a crashed staging table must serve the retry's corpus")
    assert(!spark.catalog.tableExists(s"${tbl}__v1__build"),
      "publication must consume the staging name")
  }

  test("spill memo evicts oldest-unused beyond the byte cap; evicted keys recompute") {
    val n = System.nanoTime()
    def mk(i: Int) = Seq((i.toLong, s"spill fixture $i $n")).toDF("id", "text")
    def census() = Dedup.spillCensus().filter(_._1.startsWith("evspec_")).toMap
    def acquire(i: Int) = graft.Memo.frame("evspec", Some(s"evict_fixture_${n}_$i"), spark)(mk(i))
    val before = graft.Memo.evictions
    val cap0 = graft.Memo.setCapBytes(Long.MaxValue)
    try {
      // three tiny spills under a generous cap: all retained; record each
      // entry's memo key as it appears (census delta per acquisition)
      val keys = (1 to 3).map { i =>
        val pre = census().keySet
        acquire(i).count(): Unit
        (census().keySet -- pre).head
      }
      assert(census().size == 3 && census().values.forall(_ > 0))
      // refresh 1 and 3, leaving 2 the OLDEST-UNUSED, then shrink the cap
      // to ~3 spills: the 4th acquisition must evict exactly entry 2 —
      // LRU order, and never the newcomer itself
      acquire(1).count(): Unit
      acquire(3).count(): Unit
      // 3.5 spills' worth: the 4th pushes over, ONE eviction brings it
      // back under (the four spills are byte-identical single-row parquet)
      val perSpill = census().values.max
      graft.Memo.setCapBytes(perSpill * 7 / 2): Unit
      acquire(4).count(): Unit
      val after = census()
      assert(graft.Memo.evictions > before, "the cap must have evicted")
      assert(!after.contains(keys(1)), "the oldest-unused entry (2) must be the eviction")
      assert(after.contains(keys(0)) && after.contains(keys(2)),
        "recently-touched entries must survive")
      assert(after.size == 3, s"post-eviction census: ${after.keys}")
      // a re-request of ANY content — evicted or live — recomputes/serves
      // correctly (the memo is a pure performance cache)
      (1 to 4).foreach { i =>
        assert(acquire(i).collect().map(_.getLong(0)).toSeq == Seq(i.toLong),
          s"post-eviction re-request of spill $i must serve the right content")
      }
    } finally graft.Memo.setCapBytes(cap0): Unit
  }

  test("LSH quarantine sweep: capped-probe ∪ sweep equals uncapped, tombstones respected") {
    // engineered boilerplate stratum (identical text ⇒ identical signature
    // ⇒ one hot (band, bh) bucket per band — the cookie-banner shape the
    // cap exists for; the synthetic documents corpus never concentrates,
    // max bucket 6 at sf0.1, so the capped-LSH posture is opt-in and this
    // spec is its recovery witness): 12× boilerplate A, 2× boilerplate B
    val textA = "accept all cookies to continue to the site you were reading before this banner"
    val textB = "subscribe to our newsletter for weekly updates delivered straight to your inbox"
    val corpus = ((1L to 12L).map((_, textA)) ++ Seq((41L, textB), (42L, textB)))
      .toDF("doc_id", "text")
    val incoming = Seq((100L, textA), (102L, textB)).toDF("doc_id", "text")
    val tbl = s"lshspec_sweep_${System.nanoTime()}"
    Dedup.persistLshIndex(
      corpus, col("doc_id"), col("text"), tbl, buckets = 4, maxBucket = 10)
    Dedup.quarantineLshIndex(
      spark, tbl, corpus, col("doc_id"), col("text"), buckets = 4, maxBucket = 10)
    assert(BucketedIndex.quarantineWatermark(spark, tbl) == ((0L, 4L)),
      "the boilerplate cluster quarantines one bucket per band")
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // capped probe sees only the small stored cluster
    val probed = pairsOf(
      Dedup.probeLshIndex(spark, tbl, incoming, col("doc_id"), col("text")))
    assert(probed == Seq((102L, 41L), (102L, 42L)), s"got $probed")
    // a takedown of quarantined ids hides them from the sweep too
    Dedup.deleteFromLshIndex(spark, tbl, Seq(3L, 7L).toDF("id"), col("id"))
    // bounded ticks drain the quarantine: tick 1 takes 3 of the 4 buckets,
    // tick 2 the last; a third tick sweeps nothing
    var tickNo = 0
    def tick() = {
      tickNo += 1
      val sink = s"${tempDir("lshspec_sweep")}/t$tickNo"
      Dedup.sweepLshQuarantine(
        spark, tbl, incoming, col("doc_id"), col("text"),
        maxBucketsPerTick = 3, sink = sink)
      if (new java.io.File(sink).exists)
        pairsOf(spark.read.parquet(sink).select("new_id", "corpus_id"))
      else Seq.empty[(Long, Long)]
    }
    val want100 = (1L to 12L).filterNot(Set(3L, 7L)).map((100L, _))
    val t1 = tick()
    assert(t1 == want100, s"tick 1: $t1")
    assert(BucketedIndex.quarantineWatermark(spark, tbl) == ((3L, 4L)))
    val t2 = tick()
    assert(t2 == want100, "the last bucket repeats the same candidates (4-band redundancy)")
    assert(BucketedIndex.quarantineWatermark(spark, tbl) == ((4L, 4L)))
    assert(tick().isEmpty && BucketedIndex.quarantineWatermark(spark, tbl) == ((4L, 4L)))
    // the recovery contract vs an UNCAPPED index over the live corpus
    val unc = s"lshspec_sweep_unc_${System.nanoTime()}"
    Dedup.persistLshIndex(
      corpus.filter(!col("doc_id").isin(3L, 7L)), col("doc_id"), col("text"), unc, buckets = 4)
    val want = pairsOf(Dedup.probeLshIndex(spark, unc, incoming, col("doc_id"), col("text")))
    assert((probed ++ t1).distinct.sorted == want,
      "capped probe plus completed sweep must equal the uncapped probe")
    // compact capture: regrow the stored B bucket past the cap, compact
    // at cap — the newly dropped rows must land in the quarantine (reset
    // watermark) and stay sweepable, and the tombstoned A rows must leave
    // it (retirement assumes every hiding store was rewritten)
    Dedup.appendLshIndex(
      (51L to 62L).map((_, textB)).toDF("doc_id", "text"),
      col("doc_id"), col("text"), tbl, buckets = 4)
    Dedup.compactLshIndex(spark, tbl, buckets = 4, maxBucket = 10)
    assert(BucketedIndex.quarantineWatermark(spark, tbl)._1 == 0L,
      "compact capture must reset the sweep watermark")
    assert(
      Dedup.probeLshIndex(spark, tbl, incoming, col("doc_id"), col("text")).count() == 0,
      "the regrown bucket must be re-capped out of the serving path")
    Dedup.LshLayout.resetSweep(spark, tbl)
    val (_, total) = BucketedIndex.quarantineWatermark(spark, tbl)
    val afterCompact = (1L to (total + 2) / 3).flatMap(_ => tick()).distinct.sorted
    val wantB = ((41L to 42L) ++ (51L to 62L)).map((102L, _))
    assert(afterCompact == (want100 ++ wantB).sorted,
      s"compact-dropped rows must be sweepable, tombstones still hidden: $afterCompact")
  }

  test("rebuildSemanticIndex re-assigns under fresh centroids: probe equals a fresh index") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = e.filter(col("vec_id") % 5 =!= 0)
    val incoming = e.filter(col("vec_id") % 5 === 0)
    val staleCents =
      Similarity.kmeansCentroids(e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", nlist = 4, iters = 1)
    val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding", nlist = 4, iters = 1)
    def probe(tbl: String) = Dedup
      .probeSemanticIndex(spark, tbl, incoming, col("vec_id"), col("embedding"), cents, tau = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(p => (p._1, p._2)).toSeq
    val fresh = s"semspec_rb_truth_${System.nanoTime()}"
    Dedup.persistSemanticIndex(corpus, col("vec_id"), col("embedding"), cents, fresh, buckets = 4)
    val tbl = s"semspec_rb_${System.nanoTime()}"
    Dedup.persistSemanticIndex(
      corpus.filter(col("vec_id") % 2 === 0), col("vec_id"), col("embedding"), staleCents, tbl,
      buckets = 4)
    Dedup.deleteFromSemanticIndex(spark, tbl, e.filter(col("vec_id") % 3 === 0), col("vec_id"))
    Dedup.rebuildSemanticIndex(spark, tbl, corpus, col("vec_id"), col("embedding"), cents, buckets = 4)
    assert(probe(tbl) == probe(fresh),
      "rebuild under fresh centroids must equal a fresh full-corpus index")
    assert(spark.catalog.tableExists(s"${tbl}__v1"), "rebuild must publish __v1")
    // the pre-rebuild bare table stays ONE cycle as the reader grace set;
    // serving resolution must already point at the published version
    assert(Similarity.servingTable(spark, tbl) == s"${tbl}__v1")
    assert(!spark.catalog.tableExists(Similarity.tombTable(tbl)))
  }
}
