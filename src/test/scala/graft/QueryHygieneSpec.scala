package graft

import org.apache.spark.sql.functions._

/** Session-hygiene contracts for `SparkEntry.queries` entries that register
  * session-global state: bench runs each query three times (warmup + two
  * timed passes) in one JVM, so anything a query registers and does not
  * drop accumulates for the JVM's lifetime.
  */
class QueryHygieneSpec extends SparkSpecBase {

  private val sfDir = "/root/testdata/sf0.001"

  test("every contentKey at a registration site embeds the sf dir") {
    // The content-keyed spill (Memo.frame and the wrappers built on
    // it: rareGramsKeyed, connectedComponentsKeyed, verifiedNearDupPairs,
    // triangleStats, kcorePeel/LPA/BFS) trusts the CALLER to identify the
    // input data. One JVM runs the same query at multiple scale factors
    // (bench warms at sf0.001, times at sf0.1), so a key that omits the
    // data dir silently serves one scale's spill to another — wrong
    // results that every per-sf gate would miss because each gate runs in
    // its own JVM. Static check: every contentKey string literal under
    // queries/ must interpolate `$dir`.
    val root = new java.io.File("src/main/scala/graft/queries")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    // matches BOTH forms at a registration site: `contentKey = Some(s"…")`
    // (the Option-typed spill entry points) and `contentKey = s"…"` (the
    // String-typed wrappers, e.g. connectedComponentsKeyed) — the r15
    // regex only caught the former, so String-typed call sites escaped
    // the very check whose comment claims to cover them
    val keyRe = """contentKey\s*=\s*(?:Some\()?(s?"[^"]*")""".r
    val bad = walk(root).filter(_.getName.endsWith(".scala")).flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      keyRe.findAllMatchIn(src).collect {
        case m if !m.group(1).contains("$dir") => s"${f.getName}: ${m.matched}"
      }
    }
    assert(bad.isEmpty, s"contentKeys missing the sf dir (cross-SF spill collision): $bad")
  }

  test("model memo holds only model-shaped, bounded values; spill census reads clean") {
    // populate the memo through its real entry points: a covariance fit,
    // a PQ training, a k-means training, a BPE merge model
    val e = graft.queries.Fixtures.t(spark, sfDir, "embeddings")
    graft.ext.EmbAlgebra.covPpmMatrixCached(e, col("embedding"), dim = 64)
    graft.ext.Similarity.pqTrainCached(e, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1)
    graft.ext.Similarity.kmeansCentroidsCached(e, "vec_id", "embedding", nlist = 8, iters = 1)
    val docs = graft.queries.Fixtures.t(spark, sfDir, "documents")
    graft.ext.TextStats.bpeMergesModel(docs, col("doc_id"), col("text"), k = 8)
    val census = graft.ext.Similarity.modelMemoCensus()
    assert(census.nonEmpty, "the memo entry points above must have populated the census")
    // the contract: ONLY model-state classes, each bounded — a data-sized
    // value (a collected DataFrame, a row array) must never enter
    val allowedPrefixes = Seq("cov_", "pq_", "km_", "bpe_")
    census.foreach { case (key, cls, bytes) =>
      assert(allowedPrefixes.exists(key.startsWith),
        s"memo key '$key' outside the registered model families")
      assert(cls.startsWith("[") || cls.startsWith("scala.collection."),
        s"memo value for '$key' is not an array/seq model: $cls")
      assert(bytes > 0 && bytes <= 16L * 1024 * 1024,
        s"memo value for '$key' is not model-state-sized: $bytes bytes")
    }
    // the spill census must read without throwing and report real paths
    graft.ext.Dedup.spillCensus().foreach { case (key, bytes) =>
      assert(bytes >= 0, s"spill census for '$key' negative: $bytes")
    }
  }

  test("JVM-global concurrent maps and references live only in the memo and the allowlist") {
    // One memo (graft.Memo) instead of one cache per module: a new
    // ConcurrentHashMap / WeakHashMap / AtomicReference field anywhere
    // else in main code fails here, so adding a cache means removing one
    // or extending this list in review. BucketedIndex keeps its table-state
    // caches (served version, quarantine watermark/rank mirrors, in-flight
    // builds) behind its one writer; Scratch keeps its exit-time deletion set.
    val allowed = Set(
      "BucketedIndex.scala:versionMemo", "BucketedIndex.scala:inFlightBuilds",
      "BucketedIndex.scala:wmMirror", "BucketedIndex.scala:rankMirror",
      "Scratch.scala:created")
    // a declaration typed as, or initialised (possibly on the next line)
    // with, one of the three classes
    val t = "(?:ConcurrentHashMap|WeakHashMap|AtomicReference)"
    val fieldRe =
      (raw"""\b(?:val|var)\s+(\w+)\s*(?::[^=\n]*\b$t\b[^=\n]*|""" +
        raw"""(?::[^=\n]*)?=\s*(?:new\s+)?[\w.]*\b$t\b)""").r
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val found = walk(new java.io.File("src/main/scala"))
      .filter(f => f.getName.endsWith(".scala") && f.getName != "Memo.scala")
      .flatMap { f =>
        val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        fieldRe.findAllMatchIn(src).map(m => s"${f.getName}:${m.group(1)}")
      }
    assert(found.toSet.contains("Scratch.scala:created"), s"the scan must see known fields: $found")
    val extra = found.filterNot(allowed)
    assert(extra.isEmpty, s"JVM-global caches outside graft.Memo and the allowlist: $extra")
  }

  test("every registered query has an oracle twin, and no oracle is orphaned") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without an oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without a query: ${(o -- q).toSeq.sorted}")
  }

  test("only the stream harness starts, feeds and stops streams (StreamQ declares, never drives)") {
    // Bench attributes each stream entry's harness floor from the state
    // operators StreamHarness.stopRecording observes; a query that drove
    // its own stream would bypass that observation (and grow back the
    // per-query clone/feed/sink/drain copies the run loops replaced)
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/queries/StreamQ.scala")), "UTF-8")
    assert(src.contains("sinkRun(") && src.contains("cycles("), "the scan must see the run loops")
    val found = Seq("writeStream", "MemoryStream", "processAllAvailable", "foreachBatch", ".stop()")
      .filter(src.contains)
    assert(found.isEmpty, s"StreamQ.scala drives streams itself: $found")
  }

  test("stream statefulness observation matches the pin on both classes (plan-derived floors)") {
    // Bench derives each stream entry's floor from the EXECUTED plan's
    // state operators (StreamHarness.stopRecording). This drives one
    // representative of each class through the real harness and asserts
    // the observation mechanism sees the class the plan has.
    for ((name, expectStateful) <- Seq(
        "stream_tumbling_parity" -> true, // windowed aggregation: state store
        "stream_pca_serve_parity" -> false // map-only model serve: no state store
      )) {
      graft.queries.StreamHarness.resetStateObservation()
      SparkEntry.queries(name)(spark, sfDir).collect(): Unit
      val seen = graft.queries.StreamHarness.stateOpsSeen
      assert(seen >= 0, s"$name: no stream observation recorded — stop not routed through stopRecording?")
      assert((seen > 0) == expectStateful,
        s"$name: observed stateOperators=$seen disagrees with expected stateful=$expectStateful")
    }
  }

  test("attribution splits conserve cents exactly for every credited purchase") {
    // the defining invariant of both multi-touch schemes: however the
    // credit is divided (equal shares / 40-20-40 with remainders), the
    // per-purchase sum must equal the purchase's integer cents EXACTLY
    val cents = graft.queries.Fixtures.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(
        col("event_id").as("purchase_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    for (q <- Seq("ev_attribution_linear", "ev_attribution_ushape")) {
      val out = SparkEntry.queries(q)(spark, sfDir)
      val bad = out
        .groupBy(col("purchase_id"))
        .agg(sum(col("credit_cents")).as("s"))
        .join(cents, Seq("purchase_id"))
        .filter(col("s") =!= col("cents"))
        .count()
      assert(bad == 0L, s"$q leaks or invents cents on $bad purchases")
    }
    // and the U-shape role structure: n>=3 → exactly one first + one last,
    // n==2 → first+last, n==1 → solo
    val roles = SparkEntry.queries("ev_attribution_ushape")(spark, sfDir)
      .groupBy(col("purchase_id"), col("n_touches"))
      .agg(
        sum(when(col("role") === "first", 1).otherwise(0)).as("nf"),
        sum(when(col("role") === "last", 1).otherwise(0)).as("nl"),
        sum(when(col("role") === "solo", 1).otherwise(0)).as("ns"))
    assert(roles.filter(
      (col("n_touches") >= 2 && (col("nf") =!= 1 || col("nl") =!= 1)) ||
        (col("n_touches") === 1 && col("ns") =!= 1)).count() == 0L)
  }

  test("stream-parity queries drop their memory-sink temp views and still return the result") {
    val out = graft.queries.StreamQ.queries("stream_dedup_parity")(spark, sfDir)
    // the drained result is a local DataFrame — usable after the view is gone
    assert(out.count() > 0)
    // sink views live in the low-partition CLONE's catalog, not the base
    // session's — assert against the session the query actually ran on
    // (the base-session listing would pass even with the drop removed)
    val ran = graft.queries.StreamHarness.lastStreamSession
    assert(ran != null, "stream-parity query did not record its stream session")
    val leaked = ran.catalog.listTables().collect().map(_.name).filter(_.startsWith("stream_"))
    assert(leaked.isEmpty, s"leaked memory-sink views: ${leaked.toSeq}")
  }

  test("tumbling stream parity matches its batch twin after the sink is drained") {
    val streamed = graft.queries.StreamQ.queries("stream_tumbling_parity")(spark, sfDir)
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    val batch = graft.queries.Extensions.queries("ev_tumbling")(spark, sfDir)
      .select(
        date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"),
        col("n"))
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(streamed.toSeq == batch.toSeq)
  }
}
