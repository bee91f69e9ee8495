package graft.ext

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Similarity search extensions (SURVEY.md §7.5b). */
class SimilaritySpec extends SparkSpecBase {
  import spark.implicits._

  // 4-dim toy corpus with a known neighborhood structure around v1
  private val vecs = Seq(
    (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
    (2L, Seq(0.9f, 0.1f, 0.0f, 0.0f)),  // closest to 1
    (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),  // orthogonal to 1
    (4L, Seq(0.7f, 0.3f, 0.0f, 0.0f)),  // second closest to 1
    (5L, Seq(-1.0f, 0.0f, 0.0f, 0.0f))  // opposite of 1
  ).toDF("vec_id", "embedding")

  test("cosine: parallel 1, orthogonal 0, antiparallel -1") {
    val df = Seq(
      (Seq(1.0f, 0.0f), Seq(2.0f, 0.0f)),
      (Seq(1.0f, 0.0f), Seq(0.0f, 3.0f)),
      (Seq(1.0f, 0.0f), Seq(-1.0f, 0.0f))
    ).toDF("a", "b")
    val out = df.select(round(Similarity.cosine($"a", $"b"), 6).as("c")).collect().map(_.getDouble(0))
    assert(out sameElements Array(1.0, 0.0, -1.0))
  }

  test("bruteForceTopK ranks by cosine desc with id tiebreak, excludes self") {
    val q = vecs.filter($"vec_id" === 1L)
    val out = Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", k = 3)
      .orderBy($"rank").collect().map(r => (r.getLong(1), r.getInt(2)))
    assert(out.map(_._1).toSeq == Seq(2L, 4L, 3L)) // by descending cosine to v1
  }

  test("lshBucketTopK: same-vector queries land in their own bucket; results subset of brute-force ordering") {
    val q = vecs.filter($"vec_id" === 1L)
    val brute = Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(1), r.getDouble(3))).toMap
    val approx = Similarity.lshBucketTopK(vecs, q, "vec_id", "embedding", dim = 4, planes = 2, k = 5)
      .collect().map(r => (r.getLong(1), r.getDouble(3)))
    // every approximate hit must carry the exact brute-force similarity
    approx.foreach { case (id, sim) => assert(math.abs(brute(id) - sim) < 1e-9) }
  }

  test("multiProbe recovers neighbors that differ in one sign bit") {
    val q = vecs.filter($"vec_id" === 1L)
    val single = Similarity.lshBucketTopK(vecs, q, "vec_id", "embedding", dim = 4, planes = 3, k = 5)
      .count()
    val multi = Similarity.lshBucketTopK(vecs, q, "vec_id", "embedding", dim = 4, planes = 3, k = 5,
      multiProbe = true).count()
    assert(multi >= single) // probing ±1-bit buckets can only add candidates
    // and every multi-probe hit is ranked exactly once
    val ranked = Similarity.lshBucketTopK(vecs, q, "vec_id", "embedding", dim = 4, planes = 3, k = 5,
      multiProbe = true).collect()
    assert(ranked.map(_.getLong(1)).distinct.length == ranked.length)
  }

  test("ivfTopK: every hit carries the exact brute-force similarity; probing more cells only adds") {
    val q = vecs.filter($"vec_id" === 1L)
    val brute = Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(1), r.getDouble(3))).toMap
    val ivf1 = Similarity.ivfTopK(vecs, q, "vec_id", "embedding", nlist = 3, nprobe = 1, k = 5).collect()
    val ivf3 = Similarity.ivfTopK(vecs, q, "vec_id", "embedding", nlist = 3, nprobe = 3, k = 5).collect()
    ivf1.foreach(r => assert(math.abs(brute(r.getLong(1)) - r.getDouble(3)) < 1e-9))
    assert(ivf3.length >= ivf1.length)
    // full probing (nprobe = nlist) degenerates to exact: same top-k as brute
    val fullIds = ivf3.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq
    val bruteIds = Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", k = 5)
      .orderBy($"rank").collect().map(_.getLong(1)).toSeq
    assert(fullIds == bruteIds)
  }

  test("ivfTopK clamps to the real centroid count when the corpus is tiny") {
    // corpus of 4 vectors but nlist=16: only 4 centroids exist — probing
    // must clamp to them instead of zip_with-padding distances with nulls
    val q = vecs.filter($"vec_id" === 1L)
    val out = Similarity.ivfTopK(vecs, q, "vec_id", "embedding", nlist = 16, nprobe = 16, k = 5)
      .collect()
    val brute = Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", k = 5)
      .collect()
    assert(out.length == brute.length, "clamped full probe must see every candidate")
  }

  test("groupCentroids mean-pools quantized vectors per group and dimension") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1, Seq(1.0f, 2.0f)),
      (1, Seq(3.0f, 4.0f)),
      (2, Seq(10.0f, -10.0f))
    ).toDF("label", "embedding")
    val out = Similarity
      .groupCentroids(df, col("label"), col("embedding"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(out((1, 0)) == ((2L, 4000L, 2000.0)))
    assert(out((1, 1)) == ((2L, 6000L, 3000.0)))
    assert(out((2, 0)) == ((1L, 10000L, 10000.0)))
    assert(out((2, 1)) == ((1L, -10000L, -10000.0)))
  }

  test("groupDiversity: identical members score 1, orthogonal members 0, singletons drop") {
    val df = Seq(
      ("same", Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      ("same", Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      ("orth", Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      ("orth", Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      ("solo", Seq(0.5f, 0.5f, 0.0f, 0.0f))
    ).toDF("label", "embedding")
    val out = Similarity.groupDiversity(df, $"label", $"embedding")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(4)))).toMap
    assert(out("same") == ((2L, 1.0)))
    assert(out("orth") == ((2L, 0.0)))
    assert(!out.contains("solo"), "groups of one have no pairs")
  }

  test("groupDiversity matches the brute-force mean pairwise dot of quantized unit vectors") {
    val raw = Seq(
      Seq(1.0f, 0.0f, 0.0f, 0.0f),
      Seq(0.9f, 0.1f, 0.0f, 0.0f),
      Seq(0.7f, 0.3f, 0.0f, 0.0f))
    val df = raw.map(("g", _)).toDF("label", "embedding")
    // reference: same quantize → unit(×1000) pipeline, then all pairs
    def unit(v: Seq[Float]): Seq[Long] = {
      val q = v.map(x => math.floor(x.toDouble * 1000 + 0.5).toLong)
      val sd = q.map(x => x * x).sum
      if (sd == 0) q.map(_ => 0L)
      else q.map(x => math.floor(x.toDouble * 1000 / math.sqrt(sd.toDouble) + 0.5).toLong)
    }
    val us = raw.map(unit)
    val pairs = for (i <- us.indices; j <- us.indices if i < j)
      yield us(i).zip(us(j)).map { case (a, b) => a * b }.sum
    val expect = BigDecimal(pairs.sum.toDouble / pairs.length / 1e6)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Similarity.groupDiversity(df, $"label", $"embedding")
      .collect().head.getDouble(4)
    assert(math.abs(got - expect) < 1e-9, s"got $got expect $expect")
  }

  test("groupDiversity: zero vectors contribute nothing and never divide by zero") {
    val df = Seq(
      ("g", Seq(0.0f, 0.0f, 0.0f, 0.0f)),
      ("g", Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      ("g", Seq(1.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("label", "embedding")
    val r = Similarity.groupDiversity(df, $"label", $"embedding").collect().head
    assert(r.getLong(1) == 3L)
    // only the two unit vectors pair: Σ_{i≠j} = 2·10⁶ over n(n-1)=6 → 1/3
    assert(math.abs(r.getDouble(4) - 0.333333) < 1e-9)
  }

  test("quantizeInt8 codes stay in [-127,127], extremes hit ±127, zero vector yields zeros") {
    val df = Seq(
      (1L, Seq(2.0f, -4.0f, 1.0f)),  // maxabs 4 → codes 64, -127, 32
      (2L, Seq(0.0f, 0.0f, 0.0f))    // zero vector: no division by zero
    ).toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(df, col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(out((1L, 0)) == 64 && out((1L, 1)) == -127 && out((1L, 2)) == 32)
    assert(out((2L, 0)) == 0 && out((2L, 1)) == 0 && out((2L, 2)) == 0)
    // every code of the toy corpus stays inside the int8 symmetric range
    val codes = Similarity.quantizeInt8(vecs, col("vec_id"), col("embedding")).collect()
    assert(codes.forall(r => r.getInt(2) >= -127 && r.getInt(2) <= 127))
  }

  test("int8TopK preserves the toy neighborhood ordering through the codes") {
    val out = Similarity
      .int8TopK(vecs, vecs.filter($"vec_id" === 1), "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(1), r.getInt(2))).toList
    // v2 and v4 both point v1's way (per-vector max scaling makes their
    // code-dots tie; candidate-id tiebreak orders them), v3 orthogonal
    assert(out == List((2L, 1), (4L, 2), (3L, 3)))
    // scores are exact integers: re-running reproduces them bit-for-bit
    val s1 = Similarity.int8TopK(vecs, vecs, "vec_id", "embedding", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sorted.toSeq
    val s2 = Similarity.int8TopK(vecs, vecs, "vec_id", "embedding", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sorted.toSeq
    assert(s1 == s2)
  }

  test("kmeansCentroids converges to the exact cluster means on separated clusters") {
    // two tight clusters far apart: Lloyd's from the 2 lowest-id seeds
    // (one per cluster here) must land each centroid on its cluster's
    // exact quantized mean within one iteration and stay there
    val df = Seq(
      (1L, Seq(10.0f, 0.0f)), (3L, Seq(10.2f, 0.2f)), (5L, Seq(9.8f, -0.2f)),
      (2L, Seq(-10.0f, 0.0f)), (4L, Seq(-10.2f, 0.2f)), (6L, Seq(-9.8f, -0.2f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.kmeansCentroids(df, "vec_id", "embedding", nlist = 2, iters = 2)
    // cluster A = {10000, 10200, 9800} → mean 10000; dims likewise
    assert(got(0) == Seq(10000L, 0L), s"cluster A centroid: ${got(0)}")
    assert(got(1) == Seq(-10000L, 0L), s"cluster B centroid: ${got(1)}")
    // idempotence: more iterations do not move converged centroids
    val more = Similarity.kmeansCentroids(df, "vec_id", "embedding", nlist = 2, iters = 4)
    assert(more.toSeq == got.toSeq)
  }

  test("kmeansCentroids: an empty cell keeps its previous centroid") {
    // both seeds sit in one cluster; every vector assigns to the nearer
    // seed, the other cell empties and must retain its seed coordinates
    val df = Seq(
      (1L, Seq(10.0f, 0.0f)), (2L, Seq(10.0f, 0.1f)),
      (3L, Seq(10.0f, 0.2f)), (4L, Seq(10.0f, 0.3f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.kmeansCentroids(df, "vec_id", "embedding", nlist = 2, iters = 1)
    // seed 0 = v1 (10000, 0), seed 1 = v2 (10000, 100); members split
    // {v1} / {v2,v3,v4} → means (10000,0) and (10000,200): no empty cell
    // yet — force one with iters=2 where cell 0 captures only v1 again
    assert(got.length == 2)
    // the real assertion: a corpus whose vectors ALL sit at one seed
    val one = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val c = Similarity.kmeansCentroids(one, "vec_id", "embedding", nlist = 2, iters = 3)
    assert(c(0) == Seq(1000L, 0L))
    assert(c(1) == Seq(1000L, 0L), "cell 1 emptied; must keep its seed (v2 == v1 here)")
  }

  // ---- ANN quality audit on the real embeddings fixture -----------------
  // recall@k of each approximate path against the exact brute-force ranks:
  // the quality evidence the plan-shape tests can't give. Floors are
  // empirical on the sf0.001 fixture (500 × 64-dim vectors, 10 queries)
  // minus a safety margin; a regression in bucketing/probing/training
  // drops recall far below them.
  private lazy val fixtureEmb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def recallAtK(approx: Array[(Long, Long)], exact: Array[(Long, Long)]): Double = {
    val a = approx.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val e = exact.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val per = e.toSeq.map { case (q, ids) =>
      a.getOrElse(q, Set.empty[Long]).intersect(ids).size.toDouble / ids.size
    }
    per.sum / per.size
  }

  private def pairs(df: org.apache.spark.sql.DataFrame): Array[(Long, Long)] =
    df.select("query_id", "cand_id").collect().map(r => (r.getLong(0), r.getLong(1)))

  test("ANN recall@5 on the embeddings fixture: floors hold; trained IVF >= sampled IVF") {
    val e = fixtureEmb
    val q = e.filter($"vec_id" < 10)
    val exact = pairs(Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5))
    val lsh = recallAtK(
      pairs(Similarity.lshBucketTopK(e, q, "vec_id", "embedding", dim = 64, planes = 6, k = 5,
        multiProbe = true, tables = 4)),
      exact)
    val lshOneTable = recallAtK(
      pairs(Similarity.lshBucketTopK(e, q, "vec_id", "embedding", dim = 64, planes = 6, k = 5,
        multiProbe = true)),
      exact)
    val ivfSampled = recallAtK(
      pairs(Similarity.ivfTopK(e, q, "vec_id", "embedding", nlist = 8, nprobe = 2, k = 5)),
      exact)
    val ivfTrained = recallAtK(
      pairs(Similarity.ivfTopK(e, q, "vec_id", "embedding", nlist = 8, nprobe = 2, k = 5, trainIters = 2)),
      exact)
    val int8 = recallAtK(
      pairs(Similarity.int8TopK(e, q, "vec_id", "embedding", k = 5)),
      exact)
    // measured on the fixture: 4-table lsh ~0.7+, single-table lsh 0.24,
    // ivf sampled/trained 0.86, int8 0.68 — floors sit a margin below.
    // The fixture embeddings are near-uniform, so training neither helps
    // nor hurts here (the clustered audit below is where it must win);
    // one 6-plane SRP table on near-random 64-dim vectors is inherently
    // low-signal — AND-OR amplification across 4 independent tables is
    // what lifts recall to a serving-grade floor, and the 4-table form is
    // what ann_lsh_topk ships.
    info(f"recall@5 — lsh(4 tables)=$lsh%.2f lsh(1 table)=$lshOneTable%.2f " +
      f"ivf(sampled)=$ivfSampled%.2f ivf(trained)=$ivfTrained%.2f int8=$int8%.2f")
    assert(ivfTrained >= ivfSampled,
      f"training must not lose recall: trained=$ivfTrained%.2f < sampled=$ivfSampled%.2f")
    assert(lsh >= 0.60, f"4-table lsh multi-probe recall@5 $lsh%.2f below floor")
    assert(lsh > lshOneTable,
      f"table amplification must add recall: 4-table=$lsh%.2f <= 1-table=$lshOneTable%.2f")
    assert(ivfSampled >= 0.70, f"sampled-IVF recall@5 $ivfSampled%.2f below floor")
    assert(ivfTrained >= 0.70, f"trained-IVF recall@5 $ivfTrained%.2f below floor")
    assert(int8 >= 0.50, f"int8 recall@5 $int8%.2f below floor")
    // scan-cheap → rerank-exact: at depth 100 the int8 stage only has to
    // land the true top-5 anywhere in its top-100 (vs ranking them right),
    // and the exact cosine rerank recovers the order — serving-grade recall
    // from the cheap scan
    val rerank = recallAtK(
      pairs(Similarity.int8RerankTopK(e, q, "vec_id", "embedding", depth = 100, k = 5)),
      exact)
    info(f"recall@5 — int8+rerank(depth=100)=$rerank%.2f")
    assert(rerank >= 0.90, f"int8+exact-rerank recall@5 $rerank%.2f below floor")
    assert(rerank > int8, f"rerank must add recall over raw int8: $rerank%.2f <= $int8%.2f")
  }

  test("recallAudit: the registered audit frame is shaped right and its ppm floors hold") {
    val e = fixtureEmb
    // the ann_recall_audit registration verbatim (md5-gated stratum, k=5)
    val stratum = e.filter(
      graft.ops.Hashing.md5Mod($"vec_id".cast("string"), 8L) === 0)
    val rows = Similarity
      .recallAudit(e, stratum, "vec_id", "embedding", k = 5,
        rankers = Seq(
          "ivf_16_4" -> ((c, q) =>
            Similarity.ivfTopK(c, q, "vec_id", "embedding", nlist = 16, nprobe = 4, k = 5)),
          "lsh_srp_4t" -> ((c, q) =>
            Similarity.lshBucketTopK(c, q, "vec_id", "embedding",
              dim = 64, planes = 6, k = 5, multiProbe = true, tables = 4)),
          "pq_adc_4x4" -> ((c, q) =>
            Similarity.pqAdcTopK(c, q, "vec_id", "embedding",
              Similarity.pqTrainCached(c, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1), k = 5)),
          "pq_adc_8x8" -> ((c, q) =>
            Similarity.pqAdcTopK(c, q, "vec_id", "embedding",
              Similarity.pqTrainCached(c, "vec_id", "embedding", nsub = 8, nlistSub = 8, iters = 1), k = 5))))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    for ((name, (nq, nt, nh, ppm)) <- rows) {
      assert(nq == 67, s"$name: md5-mod-8 stratum of the 500-vector fixture must gate 67 queries")
      assert(nt == nq * 5, s"$name: truth must hold exactly k rows per query")
      assert(nh <= nt && ppm == nh * 1000000L / nt, s"$name: ppm must be exact integer recall")
    }
    info(s"stratum ppm: ${rows.view.mapValues(_._4).toMap}")
    // measured on the fixture: ivf 0.53, lsh 0.67 — floors a margin below
    // (same discipline as the 10-query ladder above; the 67-query stratum
    // is what the driver-checked ann_recall_audit query ships)
    assert(rows("ivf_16_4")._4 >= 400000L, s"ivf recall ppm ${rows("ivf_16_4")._4} below floor")
    assert(rows("lsh_srp_4t")._4 >= 500000L, s"lsh recall ppm ${rows("lsh_srp_4t")._4} below floor")
    // PQ floors on the SAME shipped stratum (previously only in the
    // 10-query ladder): flat 4x4 ADC as a top-5 RANKER on isotropic
    // vectors is known-weak (the rerank form is the serving posture), so
    // its floor is a chance-level guard — chance is k/N = 5/500 = 10,000
    // ppm; 3x that proves the codes carry signal — plus the resolution
    // ladder: 8x8 codes must strictly beat 4x4 on the same stratum.
    // Measured (deterministic — md5 gate + seeded training): 4x4 35,820,
    // 8x8 119,402.
    assert(rows("pq_adc_4x4")._4 >= 30000L,
      s"pq 4x4 recall ppm ${rows("pq_adc_4x4")._4} at/below chance guard")
    assert(rows("pq_adc_8x8")._4 > rows("pq_adc_4x4")._4,
      s"resolution ladder inverted: 8x8 ${rows("pq_adc_8x8")._4} <= 4x4 ${rows("pq_adc_4x4")._4}")
  }

  test("lshRangeSearch: no false accepts, sims exact, recall floor vs brute-force truth") {
    val e = fixtureEmb
    val q = e.filter($"vec_id" < 10)
    // brute-force truth at tau = 0.3 over the quantized cosine (depth 100
    // is far beyond the fixture's above-threshold neighborhood sizes)
    val brute = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 100)
      .filter($"sim" >= 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    val got = Similarity.lshRangeSearch(e, q, "vec_id", "embedding",
      dim = 64, planes = 6, tauNum = 3, tauDen = 10, multiProbe = true, tables = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(got.nonEmpty, "fixture must yield matches at tau = 0.3")
    // soundness: every accepted pair is genuinely above threshold with the
    // exact brute-force similarity (the integer predicate can't overshoot)
    got.foreach { case (key, sim) =>
      assert(brute.contains(key), s"false accept: $key")
      assert(brute(key) == sim, s"sim drift at $key: ${brute(key)} vs $sim")
    }
    // completeness is the LSH contract: union over 4 tables + multiprobe
    // recovers most of the true range set (measured ~0.8+; floor w/ margin)
    val recall = got.size.toDouble / brute.size
    assert(recall >= 0.5, s"range recall $recall below floor (${got.size}/${brute.size})")
  }

  test("rrfFuse: reciprocal sums, single-list candidates, cand_id tie-break") {
    val a = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3)).toDF("query_id", "cand_id", "rank")
    val b = Seq((1L, 11L, 1), (1L, 13L, 2)).toDF("query_id", "cand_id", "rank")
    val out = Similarity.rrfFuse(a, b, k = 4).orderBy("rank")
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getDouble(3)))
    // 11: 1/62 + 1/61 ≈ .032525 wins; 10: 1/61 ≈ .016393; 13: 1/62 ≈ .016129; 12: 1/63
    assert(out.map(_._1).toSeq == Seq(11L, 10L, 13L, 12L))
    assert(out.head._3 == BigDecimal(1.0 / 62 + 1.0 / 61).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // exact-tie case: ranks (1,2) vs (2,1) collide — lower cand_id first
    val ta = Seq((7L, 100L, 1), (7L, 200L, 2)).toDF("query_id", "cand_id", "rank")
    val tb = Seq((7L, 200L, 1), (7L, 100L, 2)).toDF("query_id", "cand_id", "rank")
    val tie = Similarity.rrfFuse(ta, tb, k = 2).orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(tie == Seq(100L, 200L))
  }

  test("rrfFuse of IVF + LSH lifts recall over the weaker ranker on the fixture") {
    val e = fixtureEmb
    val q = e.filter($"vec_id" < 10)
    val exact = pairs(Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5))
    // fusion depth = serving k, deliberately: deeper input lists DILUTE a
    // strong ranker with the weak one's noisy tail (measured here:
    // depth 5/8/10/20 → fused 0.92/0.78/0.70/0.66 vs ivf@5 0.94) because a
    // both-lists tail candidate (1/65 + 1/65) outscores a one-list head
    // candidate (1/61). RRF's robustness contract — don't need to know
    // which ranker is better — holds at matched depth.
    val ivf = Similarity.ivfTopK(e, q, "vec_id", "embedding", nlist = 16, nprobe = 4, k = 5)
    val lsh = Similarity.lshBucketTopK(e, q, "vec_id", "embedding", dim = 64, planes = 6, k = 5,
      multiProbe = true, tables = 4)
    val fusedR = recallAtK(pairs(Similarity.rrfFuse(ivf, lsh, k = 5)), exact)
    val ivfR = recallAtK(pairs(ivf), exact)
    val lshR = recallAtK(pairs(lsh), exact)
    info(f"recall@5 — fused=$fusedR%.2f ivf=$ivfR%.2f lsh=$lshR%.2f")
    assert(fusedR >= lshR, f"fusion must not lose to the weaker ranker: $fusedR%.2f < $lshR%.2f")
    assert(fusedR >= 0.80, f"hybrid recall@5 $fusedR%.2f below floor")
  }

  test("trained IVF strictly beats the sampled quantizer on clustered data with skewed seeds") {
    // 4 tight clusters (center 100·e_c, deterministic jitter ±5), ids
    // ordered so the 4 LOWEST ids — the sampled seeds — all sit in
    // cluster 0: the adversarial case for the training-free quantizer
    // (its Voronoi cells cut the other clusters arbitrarily). Lloyd's
    // iterations must recover the true clusters and lift recall to 1.
    val dim = 16; val perC = 50
    val rows = (0 until 4 * perC).map { id =>
      val c = id / perC
      val v = (0 until dim).map { d =>
        val base = if (d == c) 100.0f else 0.0f
        base + ((id * 31 + d * 7) % 11 - 5).toFloat
      }
      (id.toLong, v)
    }
    val e = rows.toDF("vec_id", "embedding")
    val q = e.filter($"vec_id" % perC === 25) // one mid-cluster query per cluster
    val exact = pairs(Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5))
    val sampled = recallAtK(
      pairs(Similarity.ivfTopK(e, q, "vec_id", "embedding", nlist = 4, nprobe = 1, k = 5)),
      exact)
    val trained = recallAtK(
      pairs(Similarity.ivfTopK(e, q, "vec_id", "embedding", nlist = 4, nprobe = 1, k = 5, trainIters = 2)),
      exact)
    info(f"clustered recall@5 — sampled=$sampled%.2f trained=$trained%.2f")
    assert(trained > sampled, f"training must win on clustered data: $trained%.2f <= $sampled%.2f")
    assert(trained >= 0.99, f"trained-IVF must fully recover the clusters, got $trained%.2f")
  }

  test("model memo stays bounded: oldest entries evict, a re-request recomputes") {
    // flood with synthetic model-shaped entries well past a cap of 256
    // such entries; the memo is a pure performance cache, so eviction is
    // always safe
    def fit(i: Int, v: Long) = graft.Memo.value("km_spec_evict", s"$i", spark)(Array(Seq(v)))
    val before = graft.Memo.evictions
    val cap0 = graft.Memo.setCapBytes(256 * graft.Memo.approxBytes(Array(Seq(0L))))
    try {
      (0 until 300).foreach(i => fit(i, i.toLong))
      assert(Similarity.modelMemoCensus().size <= 256,
        s"memo must stay bounded: ${Similarity.modelMemoCensus().size}")
      assert(graft.Memo.evictions > before, "flooding past the bound must evict")
      // an evicted key recomputes on demand — no correctness dependence on
      // residency (the value below differs from the original on purpose)
      val v = fit(0, 42L)
      assert(v(0) == Seq(42L) || v(0) == Seq(0L), s"unexpected value: ${v(0)}")
    } finally graft.Memo.setCapBytes(cap0): Unit
  }

  test("memoized: a throwing compute leaves no queue residue and the key stays computable") {
    def qSize = graft.Memo.census().size
    val qBefore = qSize
    for (_ <- 1 to 5)
      intercept[RuntimeException](
        graft.Memo.value[AnyRef]("km_spec_fail", "k", spark)(throw new RuntimeException("training failed")))
    // failures must not leave an entry: a stale key with no model would
    // burn eviction-loop iterations forever
    assert(qSize == qBefore, s"failed computes leaked memo entries: $qBefore -> $qSize")
    // the key is not poisoned — a later successful fit lands normally
    // (the memo grows by AT MOST one: when the memo sits at its cap, the
    // eviction loop retires an oldest entry in the same call)
    val v = graft.Memo.value("km_spec_fail", "k", spark)(Array(Seq(7L)))
    assert(v(0) == Seq(7L))
    assert(qSize <= qBefore + 1)
  }

  test("appendAnnIndex: append-then-probe hash-equals one-shot rebuild under a pinned model") {
    val e = fixtureEmb
    val coarse = Similarity.kmeansCentroids(e, "vec_id", "embedding", nlist = 4, iters = 1)
    val books = Similarity.pqTrain(e, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1)
    val q = e.filter($"vec_id" < 5)
    val oneShot = s"annspec_oneshot_${System.nanoTime()}"
    Similarity.persistAnnIndex(e, "vec_id", "embedding", coarse, books, oneShot, buckets = 4)
    val grown = s"annspec_grown_${System.nanoTime()}"
    Similarity.persistAnnIndex(
      e.filter($"vec_id" % 2 === 0), "vec_id", "embedding", coarse, books, grown, buckets = 4)
    Similarity.appendAnnIndex(
      e.filter($"vec_id" % 2 === 1), "vec_id", "embedding", coarse, books, grown, buckets = 4)
    def rows(tbl: String) = Similarity
      .scoreAgainstAnnIndex(spark, tbl, q, "vec_id", "embedding", coarse, books, nprobe = 2, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).sorted.toSeq
    assert(rows(grown) == rows(oneShot),
      "append-then-probe must equal rebuild-then-probe under the same fitted model")
    // an appended candidate (odd id) must actually be servable
    assert(rows(grown).exists(_._2 % 2 == 1), s"no appended row surfaced: ${rows(grown)}")
  }

  test("deleteFromAnnIndex: delete-then-probe equals rebuild-without-deleted-then-probe") {
    val e = fixtureEmb
    val coarse = Similarity.kmeansCentroids(e, "vec_id", "embedding", nlist = 4, iters = 1)
    val books = Similarity.pqTrain(e, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1)
    val q = e.filter($"vec_id" < 5)
    def probe(tbl: String) = Similarity
      .scoreAgainstAnnIndex(spark, tbl, q, "vec_id", "embedding", coarse, books, nprobe = 2, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).sorted.toSeq
    // rebuild-without-deleted: the ground truth the tombstone path must hit
    val rebuilt = s"annspec_nodel_${System.nanoTime()}"
    Similarity.persistAnnIndex(
      e.filter($"vec_id" % 3 =!= 0), "vec_id", "embedding", coarse, books, rebuilt, buckets = 4)
    // full index + tombstoned stratum
    val tombed = s"annspec_tomb_${System.nanoTime()}"
    Similarity.persistAnnIndex(e, "vec_id", "embedding", coarse, books, tombed, buckets = 4)
    val before = probe(tombed)
    Similarity.deleteFromAnnIndex(spark, tombed, e.filter($"vec_id" % 3 === 0), "vec_id")
    val after = probe(tombed)
    assert(after == probe(rebuilt),
      "tombstone-then-probe must equal rebuild-without-deleted-then-probe")
    // the retraction must be OBSERVABLE: a deleted id that ranked before
    // may not rank after (the %3 stratum includes former candidates)
    assert(before.exists(_._2 % 3 == 0), s"fixture too weak — no deleted id ranked before: $before")
    assert(!after.exists(_._2 % 3 == 0), s"deleted ids still served: $after")
  }

  test("compactAnnIndex: folds tombstones + merges buckets to one file, probe hash-identical") {
    val e = fixtureEmb
    val coarse = Similarity.kmeansCentroids(e, "vec_id", "embedding", nlist = 4, iters = 1)
    val books = Similarity.pqTrain(e, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1)
    val q = e.filter($"vec_id" < 5)
    def probe(tbl: String) = Similarity
      .scoreAgainstAnnIndex(spark, tbl, q, "vec_id", "embedding", coarse, books, nprobe = 2, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).sorted.toSeq
    val tbl = s"annspec_cmp_${System.nanoTime()}"
    // repartition(3): each era writes from 3 tasks, so a populated bucket
    // holds up to 3 files per era — the multi-file accumulation compaction
    // exists to heal, made deterministic at fixture scale
    Similarity.persistAnnIndex(
      e.filter($"vec_id" % 2 === 0).repartition(3), "vec_id", "embedding", coarse, books, tbl, buckets = 4)
    Similarity.appendAnnIndex(
      e.filter($"vec_id" % 2 === 1).repartition(3), "vec_id", "embedding", coarse, books, tbl, buckets = 4)
    Similarity.deleteFromAnnIndex(spark, tbl, e.filter($"vec_id" % 3 === 0), "vec_id")
    val preFiles = graft.sources.Sources.tableFileCount(spark, tbl)
    assert(preFiles > 4, s"persist+append must leave multi-file buckets, got $preFiles")
    val pre = probe(tbl)
    Similarity.compactAnnIndex(spark, tbl, buckets = 4)
    // layout, not meaning: same rows, ≤ one file per bucket, tombs retired
    assert(probe(tbl) == pre, "compaction changed probe results")
    val postFiles = graft.sources.Sources.tableFileCount(spark, tbl)
    assert(postFiles <= 4, s"compaction must leave at most one file per bucket, got $postFiles")
    assert(!spark.catalog.tableExists(Similarity.tombTable(tbl)),
      "applied tombstones must be retired by compaction")
    assert(!spark.catalog.tableExists(tbl + "__compact_stage"), "stage table must be dropped")
    // a LATER delete on the compacted table still works (fresh tomb table)
    Similarity.deleteFromAnnIndex(spark, tbl, e.filter($"vec_id" % 5 === 0), "vec_id")
    assert(!probe(tbl).exists(_._2 % 5 == 0), "post-compact delete must still retract")
  }

  test("compactAnnIndex heals an OVERLAPPING append: duplicate rows drop, probe unchanged") {
    // the at-least-once retry shape: the same batch appended twice stores
    // every row twice — inert at probe time (TopKHeap set semantics) but
    // index bloat; compaction dedupes exact full rows
    val e = fixtureEmb
    val coarse = Similarity.kmeansCentroids(e, "vec_id", "embedding", nlist = 4, iters = 1)
    val books = Similarity.pqTrain(e, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1)
    val q = e.filter($"vec_id" < 5)
    def probe(tbl: String) = Similarity
      .scoreAgainstAnnIndex(spark, tbl, q, "vec_id", "embedding", coarse, books, nprobe = 2, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).sorted.toSeq
    val tbl = s"annspec_retry_${System.nanoTime()}"
    Similarity.persistAnnIndex(
      e.filter($"vec_id" % 2 === 0), "vec_id", "embedding", coarse, books, tbl, buckets = 4)
    val retryBatch = e.filter($"vec_id" % 2 === 1)
    Similarity.appendAnnIndex(retryBatch, "vec_id", "embedding", coarse, books, tbl, buckets = 4)
    Similarity.appendAnnIndex(retryBatch, "vec_id", "embedding", coarse, books, tbl, buckets = 4)
    val n = e.count()
    assert(spark.table(tbl).count() > n, "double append must have bloated the index")
    // the probe is CORRECT even while bloated — the heap's set semantics
    val pre = probe(tbl)
    Similarity.compactAnnIndex(spark, tbl, buckets = 4)
    assert(spark.table(tbl).count() == n, "compaction must drop exact-duplicate rows")
    assert(probe(tbl) == pre, "healing the bloat must not change probe results")
  }

  test("deleteFromAnnIndex then re-append: era tombstones serve the re-appended id immediately") {
    // the takedown-reversal workflow: the tombstone hides only rows at
    // era <= tomb_seq, so a LATER append of the same id is visible with
    // NO compaction in between — delete-then-reappend-then-probe must
    // equal rebuild-with-reappended-then-probe
    val e = fixtureEmb
    val coarse = Similarity.kmeansCentroids(e, "vec_id", "embedding", nlist = 4, iters = 1)
    val books = Similarity.pqTrain(e, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1)
    val q = e.filter($"vec_id" < 5)
    def probe(tbl: String) = Similarity
      .scoreAgainstAnnIndex(spark, tbl, q, "vec_id", "embedding", coarse, books, nprobe = 2, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).sorted.toSeq
    // ground truth: rebuild WITH the re-appended even half of the stratum
    val rebuilt = s"annspec_reapp_truth_${System.nanoTime()}"
    Similarity.persistAnnIndex(
      e.filter($"vec_id" % 3 =!= 0 || $"vec_id" % 2 === 0),
      "vec_id", "embedding", coarse, books, rebuilt, buckets = 4)
    // lifecycle path: full build, delete %3 stratum, re-append its evens
    val tbl = s"annspec_reapp_${System.nanoTime()}"
    Similarity.persistAnnIndex(e, "vec_id", "embedding", coarse, books, tbl, buckets = 4)
    Similarity.deleteFromAnnIndex(spark, tbl, e.filter($"vec_id" % 3 === 0), "vec_id")
    val hidden = probe(tbl)
    Similarity.appendAnnIndex(
      e.filter($"vec_id" % 3 === 0 && $"vec_id" % 2 === 0),
      "vec_id", "embedding", coarse, books, tbl, buckets = 4)
    val after = probe(tbl)
    assert(after == probe(rebuilt),
      "delete-then-reappend-then-probe must equal rebuild-with-reappended")
    // observability of BOTH halves: a re-appended id serves again, an
    // odd deleted id stays retracted
    assert(!hidden.exists(_._2 % 3 == 0), s"delete did not retract: $hidden")
    assert(after.exists(c => c._2 % 3 == 0 && c._2 % 2 == 0),
      s"fixture too weak — no re-appended id ranked: $after")
    assert(!after.exists(c => c._2 % 3 == 0 && c._2 % 2 == 1),
      s"non-reappended deleted ids must stay hidden: $after")
    // a SECOND delete retracts the re-appended rows too (its fresh era
    // covers them)
    Similarity.deleteFromAnnIndex(spark, tbl, e.filter($"vec_id" % 3 === 0), "vec_id")
    assert(!probe(tbl).exists(_._2 % 3 == 0), "second delete must cover the re-appended era")
  }

  test("rebuildAnnIndex is probe-safe: concurrent probes never miss the table or mix eras") {
    // versioned publication: a probe planned at ANY point during (or
    // between) rebuilds must resolve a complete, immutable version —
    // never a missing name, never a half-written table, never a blend of
    // two eras. The probe thread hammers while the main thread rebuilds
    // back and forth between two corpora; every observed result must be
    // byte-equal to one of the two era truths.
    val e = fixtureEmb
    val evens = e.filter($"vec_id" % 2 === 0)
    val coarse = Similarity.kmeansCentroids(e, "vec_id", "embedding", nlist = 4, iters = 1)
    val books = Similarity.pqTrain(e, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1)
    val q = e.filter($"vec_id" < 5)
    def probe(tbl: String) = Similarity
      .scoreAgainstAnnIndex(spark, tbl, q, "vec_id", "embedding", coarse, books, nprobe = 2, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).sorted.toSeq
    val truthEvens = s"annspec_swap_te_${System.nanoTime()}"
    val truthAll = s"annspec_swap_ta_${System.nanoTime()}"
    Similarity.persistAnnIndex(evens, "vec_id", "embedding", coarse, books, truthEvens, buckets = 4)
    Similarity.persistAnnIndex(e, "vec_id", "embedding", coarse, books, truthAll, buckets = 4)
    val eras = Set(probe(truthEvens), probe(truthAll))
    val tbl = s"annspec_swap_${System.nanoTime()}"
    Similarity.persistAnnIndex(evens, "vec_id", "embedding", coarse, books, tbl, buckets = 4)
    probe(tbl): Unit // JIT/codegen warm-up so in-flight probes are era-scale fast
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failure = new java.util.concurrent.atomic.AtomicReference[String](null)
    val probes = new java.util.concurrent.atomic.AtomicInteger(0)
    val prober = new Thread(() => {
      while (!stop.get()) {
        try {
          val r = probe(tbl)
          probes.incrementAndGet()
          if (!eras.contains(r)) { failure.set(s"mixed-era result: $r"); stop.set(true) }
        } catch {
          case t: Throwable => failure.set(s"probe failed mid-swap: $t"); stop.set(true)
        }
      }
    })
    prober.start()
    try {
      (1 to 3).foreach { i =>
        val corpus = if (i % 2 == 1) e else evens
        Similarity.rebuildAnnIndex(spark, tbl, corpus, "vec_id", "embedding", coarse, books, buckets = 4)
      }
    } finally { stop.set(true); prober.join(60000) }
    assert(failure.get() == null, String.valueOf(failure.get()))
    assert(probes.get() > 0, "the probe thread never completed a probe — the race was not exercised")
    // the final serving version is rebuild #3's corpus (all), under the
    // logical name, with only the grace version retained behind it
    assert(probe(tbl) == probe(truthAll), "post-rebuild probe must serve the last era")
    assert(BucketedIndex.servingVersion(spark, tbl) == 3)
    assert(!spark.catalog.tableExists(s"${tbl}__v1"), "retired versions must be dropped")
    assert(spark.catalog.tableExists(s"${tbl}__v2"), "the grace version must be retained")
  }

  test("servingVersion follows publish and reset, out-of-band drops degrade safely") {
    val e = fixtureEmb
    val coarse = Similarity.kmeansCentroids(e, "vec_id", "embedding", nlist = 4, iters = 1)
    val books = Similarity.pqTrain(e, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1)
    val tbl = s"annspec_versions_${System.nanoTime()}"
    Similarity.persistAnnIndex(e, "vec_id", "embedding", coarse, books, tbl, buckets = 4)
    // the bare resolution, twice: resolving changes nothing
    assert(Similarity.servingTable(spark, tbl) == tbl)
    assert(Similarity.servingTable(spark, tbl) == tbl)
    // after a publication the next resolution serves __v1, then __v2
    Similarity.rebuildAnnIndex(spark, tbl, e, "vec_id", "embedding", coarse, books, buckets = 4)
    assert(Similarity.servingTable(spark, tbl) == s"${tbl}__v1")
    Similarity.rebuildAnnIndex(spark, tbl, e, "vec_id", "embedding", coarse, books, buckets = 4)
    assert(Similarity.servingTable(spark, tbl) == s"${tbl}__v2")
    // a fresh persist under the same logical name resets version history;
    // resolution must return to the bare table, not the retired __v2
    Similarity.persistAnnIndex(e, "vec_id", "embedding", coarse, books, tbl, buckets = 4)
    assert(Similarity.servingTable(spark, tbl) == tbl)
    // out-of-band version drop (neither publish nor reset saw it):
    // resolution lists the catalog and degrades to the bare table, never
    // a missing-table read
    Similarity.rebuildAnnIndex(spark, tbl, e, "vec_id", "embedding", coarse, books, buckets = 4)
    assert(Similarity.servingTable(spark, tbl) == s"${tbl}__v1")
    spark.sql(s"DROP TABLE `${tbl}__v1`")
    assert(Similarity.servingTable(spark, tbl) == tbl)
  }

  test("servingVersion sees out-of-band publishes with no conf") {
    // resolution lists the catalog on every call, so a __v<N> table
    // materialized by another writer (never via publishVersion here) is
    // served from the next resolution on — no setting to flip
    val e = fixtureEmb
    val coarse = Similarity.kmeansCentroids(e, "vec_id", "embedding", nlist = 4, iters = 1)
    val books = Similarity.pqTrain(e, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1)
    val tbl = s"annspec_extpub_${System.nanoTime()}"
    Similarity.persistAnnIndex(e, "vec_id", "embedding", coarse, books, tbl, buckets = 4)
    assert(Similarity.servingTable(spark, tbl) == tbl)
    // an external publisher copies the bare table to __v1: visible at once
    spark.table(tbl).write.saveAsTable(s"${tbl}__v1")
    assert(Similarity.servingTable(spark, tbl) == s"${tbl}__v1")
    // and a second external change is seen too
    spark.table(tbl).write.saveAsTable(s"${tbl}__v2")
    assert(Similarity.servingTable(spark, tbl) == s"${tbl}__v2")
  }

  test("abandoned build stage: killed rebuild is flagged, janitor heals, fixpoint holds") {
    val e = fixtureEmb
    val coarse = Similarity.kmeansCentroids(e, "vec_id", "embedding", nlist = 4, iters = 1)
    val books = Similarity.pqTrain(e, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1)
    val tbl = s"annspec_janitor_${System.nanoTime()}"
    Similarity.persistAnnIndex(e, "vec_id", "embedding", coarse, books, tbl, buckets = 4)
    Similarity.rebuildAnnIndex(spark, tbl, e, "vec_id", "embedding", coarse, books, buckets = 4)
    assert(BucketedIndex.servingVersion(spark, tbl) == 1)
    // kill a rebuild BETWEEN staging and publication: the stage table is
    // fully written, the rename never runs — and while the build is
    // in-flight it must NOT read as abandoned
    intercept[RuntimeException] {
      BucketedIndex.publishVersion(spark, tbl) { (bld, era) =>
        Similarity.persistAnnIndex(e, "vec_id", "embedding", coarse, books, bld, buckets = 4)
        assert(BucketedIndex.abandonedBuilds(spark, tbl).isEmpty,
          "a stage inside a live publishVersion call is in-flight, not abandoned")
        throw new RuntimeException(s"killed before publishing era $era")
      }
    }
    assert(spark.catalog.tableExists(s"${tbl}__v2__build"), "the killed stage leaks")
    assert(BucketedIndex.servingVersion(spark, tbl) == 1, "version arithmetic untouched by the abort")
    assert(BucketedIndex.abandonedBuilds(spark, tbl) == Seq(s"${tbl}__v2__build"))
    // the policy notices (stale_builds census signal), the executor heals
    // (janitor drops the stage), and the replan reaches the fixed point
    def planOf() = {
      val c = Maintenance
        .indexCensus(spark, tbl, "cand_id", "ann")
        .withColumn("drift_ppm", lit(0L))
      Maintenance.indexMaintenancePlan(
        c, rebuildDriftPpm = 1200000L, compactTombPpm = 1000000L, janitorStaleBuilds = 1L)
    }
    val p1 = planOf().collect().head
    assert(p1.getAs[String]("decision") == "janitor")
    val fleet = Map("ann" -> Maintenance.ManagedIndex(
      tbl, "cand_id",
      compact = () => fail("janitor plan must not compact"),
      rebuild = () => fail("janitor plan must not rebuild")))
    val audit = Maintenance.applyMaintenancePlan(
      spark,
      planOf().select(col("index_name"), col("decision")),
      fleet)
    assert(audit.collect().head.getAs[String]("decision") == "janitor")
    assert(!spark.catalog.tableExists(s"${tbl}__v2__build"), "janitor must drop the stage")
    assert(BucketedIndex.abandonedBuilds(spark, tbl).isEmpty)
    assert(planOf().collect().head.getAs[String]("decision") == "none",
      "post-janitor replan must reach the all-none fixed point")
    // version arithmetic stays intact END TO END: the next real rebuild
    // publishes v2 and serves it
    Similarity.rebuildAnnIndex(spark, tbl, e, "vec_id", "embedding", coarse, books, buckets = 4)
    assert(BucketedIndex.servingVersion(spark, tbl) == 2)
    // a fresh persist under the same name also reaps a leaked stage (the
    // fresh-epoch doctrine), not just the janitor
    intercept[RuntimeException] {
      BucketedIndex.publishVersion(spark, tbl) { (bld, _) =>
        Similarity.persistAnnIndex(e, "vec_id", "embedding", coarse, books, bld, buckets = 4)
        throw new RuntimeException("killed again")
      }
    }
    assert(BucketedIndex.abandonedBuilds(spark, tbl).nonEmpty)
    Similarity.persistAnnIndex(e, "vec_id", "embedding", coarse, books, tbl, buckets = 4)
    assert(BucketedIndex.abandonedBuilds(spark, tbl).isEmpty,
      "resetVersions must reap abandoned stages with the rest of the version history")
    assert(BucketedIndex.servingVersion(spark, tbl) == 0)
  }

  test("rebuildAnnIndex: blue/green swap serves the retrained index, clears stale state") {
    val e = fixtureEmb
    val old = e.filter($"vec_id" % 2 === 0)
    val staleCoarse = Similarity.kmeansCentroids(old, "vec_id", "embedding", nlist = 4, iters = 1)
    val staleBooks = Similarity.pqTrain(old, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1)
    val coarse = Similarity.kmeansCentroids(e, "vec_id", "embedding", nlist = 4, iters = 1)
    val books = Similarity.pqTrain(e, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1)
    val q = e.filter($"vec_id" < 5)
    def probe(tbl: String) = Similarity
      .scoreAgainstAnnIndex(spark, tbl, q, "vec_id", "embedding", coarse, books, nprobe = 2, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).sorted.toSeq
    // ground truth: a fresh index under the retrained model
    val fresh = s"annspec_fresh_${System.nanoTime()}"
    Similarity.persistAnnIndex(e, "vec_id", "embedding", coarse, books, fresh, buckets = 4)
    // blue: aged model over the old era, with accumulated tombstones
    val tbl = s"annspec_bg_${System.nanoTime()}"
    Similarity.persistAnnIndex(
      old, "vec_id", "embedding", staleCoarse, staleBooks, tbl, buckets = 4)
    Similarity.deleteFromAnnIndex(spark, tbl, e.filter($"vec_id" % 3 === 0), "vec_id")
    Similarity.rebuildAnnIndex(spark, tbl, e, "vec_id", "embedding", coarse, books, buckets = 4)
    // green serves under the same name, identical to the fresh build —
    // and the %3 tombstones are GONE (they belonged to the blue era)
    assert(probe(tbl) == probe(fresh), "post-swap probe must equal the fresh rebuild")
    assert(probe(tbl).exists(_._2 % 3 == 0), "stale tombstones must not survive the swap")
    assert(!spark.catalog.tableExists(tbl + "__next"), "the staging name must be gone")
    assert(!spark.catalog.tableExists(Similarity.tombTable(tbl)), "old tombstones must be dropped")
    // the bucket spec is catalog metadata and survives the rename: the
    // probe still plans exchange-free off the bucketed scan
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val plan = Similarity
        .scoreAgainstAnnIndex(spark, tbl, q, "vec_id", "embedding", coarse, books, nprobe = 2, k = 3)
        .queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"rename lost the bucket spec:\n$plan")
      assert("Exchange hashpartitioning\\(cell".r.findAllIn(plan).size == 1,
        s"rename degraded the layout:\n$plan")
    }
  }

  test("pqQuantError: zero on codebook seeds, grows under distribution shift") {
    val e = fixtureEmb
    // iters = 0: codebooks ARE the slices of the 4 lowest-id vectors, so
    // those vectors quantize with error exactly 0
    val seedBooks = Similarity.pqTrain(e, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 0)
    val qe = e.select($"vec_id",
        Similarity.pqQuantError(Similarity.quantize($"embedding"), seedBooks).as("qe"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to 3L).foreach(id => assert(qe(id) == 0L, s"seed $id must reconstruct exactly: ${qe(id)}"))
    assert(qe.values.forall(_ >= 0L), "squared error cannot be negative")
    // shift every element by +0.25: mean error must strictly rise — the
    // staleness signal ann_index_staleness reports
    val books = Similarity.pqTrain(e, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1)
    val shifted = transform($"embedding", x => floor((x.cast("double") + lit(0.25)) * 1000 + lit(0.5)).cast("long"))
    def meanQe(q: org.apache.spark.sql.Column): Double = e
      .select(Similarity.pqQuantError(q, books).as("qe"))
      .agg(avg($"qe")).collect()(0).getDouble(0)
    val base = meanQe(Similarity.quantize($"embedding"))
    val drifted = meanQe(shifted)
    info(f"mean qerr base=$base%.0f drifted=$drifted%.0f")
    assert(drifted > base, s"drifted batch must show higher quantization error: $drifted <= $base")
  }

  test("PCA-reduced IVF: 16d -> 4d keeps clustered recall@5 above the floor") {
    // same 4-axis-cluster construction as the trained-IVF audit: the top-4
    // principal components are (near) the cluster axes, so the d->m
    // reduction preserves the neighborhoods and the reduced-dimension IVF
    // serves 4-long dots instead of 16-long ones — the PCA->IVF serving
    // composition ann_pca_reduced drives, recall-floored here
    val dim = 16; val perC = 50
    val rows = (0 until 4 * perC).map { id =>
      val c = id / perC
      val v = (0 until dim).map { d =>
        val base = if (d == c) 100.0f else 0.0f
        base + ((id * 31 + d * 7) % 11 - 5).toFloat
      }
      (id.toLong, v)
    }
    val e = rows.toDF("vec_id", "embedding")
    val q = e.filter($"vec_id" % perC === 25)
    val exact = pairs(Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5))
    val cov = EmbAlgebra.covPpmMatrix(e, $"embedding", dim)
    val comps = EmbAlgebra.topComponents(cov, m = 4, rounds = 6).map(_._1)
    def reduced(df: org.apache.spark.sql.DataFrame) =
      graft.ops.PlanOps.fence(
        df.select(col("vec_id"), Similarity.quantize(col("embedding")).as("q"))
          .select(col("vec_id"), EmbAlgebra.pcaReducedVec(col("q"), comps).as("rvec")))
    val got = pairs(Similarity.ivfTopK(
      reduced(e), reduced(q), "vec_id", "rvec", nlist = 4, nprobe = 1, k = 5, trainIters = 2))
    val recall = recallAtK(got, exact)
    info(f"PCA-reduced(4d) trained-IVF clustered recall@5 = $recall%.2f")
    assert(recall >= 0.80, f"reduced-dimension recall $recall%.2f below floor")
  }

  test("pqCodes: one code per subspace, codes within the codebook, deterministic") {
    val e = fixtureEmb
    val books = Similarity.pqTrain(e, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1)
    assert(books.length == 4 && books.forall(_.length == 4) && books.forall(_.forall(_.length == 16)))
    val codes = Similarity.pqCodes(e, col("vec_id"), col("embedding"), books).collect()
    assert(codes.length == e.count())
    codes.foreach { r =>
      val cs = r.getSeq[Int](1)
      assert(cs.length == 4, "one code per subspace")
      assert(cs.forall(c => c >= 0 && c < 4), s"code out of codebook: $cs")
    }
    val again = Similarity.pqCodes(e, col("vec_id"), col("embedding"), books).collect()
    assert(codes.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("PQ/ADC recall@5: floor on the fixture; near-exact on clustered data") {
    val e = fixtureEmb
    val q = e.filter($"vec_id" < 10)
    val exact = pairs(Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5))
    val books = Similarity.pqTrain(e, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1)
    val pq = recallAtK(
      pairs(Similarity.pqAdcTopK(e, q, "vec_id", "embedding", books, k = 5)),
      exact)
    // near-uniform 64-dim vectors are PQ's pathological case (measured:
    // 8-bit 0.06, 24-bit 0.18, 64-bit 0.32 — random chance ~0.01). The
    // fixture evidence is therefore the BUDGET LADDER: recall must climb
    // with code bits, and even the coarse code must beat chance.
    val books8 = Similarity.pqTrain(e, "vec_id", "embedding", nsub = 8, nlistSub = 8, iters = 1)
    val pq8 = recallAtK(
      pairs(Similarity.pqAdcTopK(e, q, "vec_id", "embedding", books8, k = 5)),
      exact)
    info(f"PQ recall@5 on fixture — 4x4 = $pq%.2f, 8x8 = $pq8%.2f")
    assert(pq >= 0.03, f"coarse PQ recall@5 $pq%.2f at chance level — plumbing broken")
    assert(pq8 > pq, f"more code bits must buy recall: 8x8 $pq8%.2f <= 4x4 $pq%.2f")
    // the SHIPPED posture for flat PQ on cluster-free data (ann_pq_rerank):
    // the 8x8 code (24 bits — codes must be sized for CANDIDATE recall on
    // isotropic data; the 8-bit 4x4 lands only ~54% of the true top-5 in
    // its top-100) generates candidates at depth 100 (1/5 of this
    // 500-vector corpus), and the exact quantized cosine reranks the
    // survivors. This is the defensible fixture floor; the 0.06-as-a-ranker
    // number above stays only as the budget-ladder probe.
    val pqrr = recallAtK(
      pairs(Similarity.pqRerankTopK(e, q, "vec_id", "embedding", books8, depth = 100, k = 5)),
      exact)
    info(f"PQ(8x8)+exact-rerank recall@5 (depth=100) = $pqrr%.2f")
    assert(pqrr >= 0.80, f"PQ+rerank recall@5 $pqrr%.2f below floor (measured 0.92)")
    assert(pqrr > pq8, f"rerank must beat raw ADC ranking: $pqrr%.2f <= $pq8%.2f")
    // clustered data (same construction as the IVF audit): the codebooks
    // align with the clusters and ADC recovers the true neighbors
    val dim = 16; val perC = 50
    val rows2 = (0 until 4 * perC).map { id =>
      val c = id / perC
      val v = (0 until dim).map { d =>
        val base = if (d == c) 100.0f else 0.0f
        base + ((id * 31 + d * 7) % 11 - 5).toFloat
      }
      (id.toLong, v)
    }
    val e2 = rows2.toDF("vec_id", "embedding")
    val q2 = e2.filter($"vec_id" % perC === 25)
    val exact2 = pairs(Similarity.bruteForceTopK(e2, q2, "vec_id", "embedding", k = 5))
    val books2 = Similarity.pqTrain(e2, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 2)
    val pq2 = recallAtK(
      pairs(Similarity.pqAdcTopK(e2, q2, "vec_id", "embedding", books2, k = 5)),
      exact2)
    info(f"PQ recall@5 on clustered = $pq2%.2f")
    assert(pq2 >= 0.60, f"clustered PQ recall@5 $pq2%.2f below floor")
  }

  test("ivfPqTopK: ADC scores agree with full-scan PQ; clustered recall holds at nprobe=1") {
    val e = fixtureEmb
    val q = e.filter($"vec_id" < 10)
    val books = Similarity.pqTrain(e, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1)
    val coarse = Similarity.kmeansCentroids(e, "vec_id", "embedding", nlist = 8, iters = 2)
    // pruning must not change WHAT a candidate scores — every IVFPQ pair's
    // ADC must equal the full-scan PQ ADC for the same pair
    val ivfpq = Similarity.ivfPqTopK(e, q, "vec_id", "embedding", coarse, nprobe = 2, books, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(ivfpq.nonEmpty)
    val full = Similarity.pqAdcTopK(e, q, "vec_id", "embedding", books, k = 500)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    ivfpq.foreach { case (pair, adc) =>
      assert(full.contains(pair) && full(pair) == adc, s"$pair: ADC diverges from full-scan PQ")
    }
    // clustered data: trained coarse cells align with the clusters, so
    // even nprobe=1 candidate pruning keeps PQ-level recall
    val dim = 16; val perC = 50
    val rows2 = (0 until 4 * perC).map { id =>
      val c = id / perC
      val v = (0 until dim).map { d =>
        val base = if (d == c) 100.0f else 0.0f
        base + ((id * 31 + d * 7) % 11 - 5).toFloat
      }
      (id.toLong, v)
    }
    val e2 = rows2.toDF("vec_id", "embedding")
    val q2 = e2.filter($"vec_id" % perC === 25)
    val exact2 = pairs(Similarity.bruteForceTopK(e2, q2, "vec_id", "embedding", k = 5))
    val coarse2 = Similarity.kmeansCentroids(e2, "vec_id", "embedding", nlist = 4, iters = 2)
    val books2 = Similarity.pqTrain(e2, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 2)
    val r = recallAtK(
      pairs(Similarity.ivfPqTopK(e2, q2, "vec_id", "embedding", coarse2, nprobe = 1, books2, k = 5)),
      exact2)
    info(f"IVFPQ recall@5 on clustered (nprobe=1) = $r%.2f")
    assert(r >= 0.60, f"clustered IVFPQ recall@5 $r%.2f below floor")
  }

  test("srpBucket is deterministic and within [0, 2^planes)") {
    val b1 = vecs.select(Similarity.srpBucket($"embedding", 4, 3).as("b")).collect().map(_.getInt(0))
    val b2 = vecs.select(Similarity.srpBucket($"embedding", 4, 3).as("b")).collect().map(_.getInt(0))
    assert(b1 sameElements b2)
    assert(b1.forall(b => b >= 0 && b < 8))
  }

  test("kcenterCoreset: greedy farthest-point picks, deterministic seed and tie-break") {
    // corners of a right triangle + an interior point; seed = smallest id
    // (0,0); the two 10-away corners tie at round 2 → smallest id wins
    val df = Seq(
      (1L, Array(0f, 0f)), (2L, Array(10f, 0f)), (3L, Array(0f, 10f)), (4L, Array(5f, 5f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.kcenterCoreset(df, $"vec_id", $"embedding", k = 4)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(out == Seq(
      (1, 1L, 0L),
      (2, 2L, 100000000L),  // quantized 10 → 10000; d² = 1e8; tie with id 3 → id 2
      (3, 3L, 100000000L),  // still 1e8 from {c1, c2}
      (4, 4L, 50000000L)    // interior point last, d² = 2·(5000²)
    ), s"got $out")
  }
}
