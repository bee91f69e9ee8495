package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ext.{BucketedIndex, Classify, Curation, Dedup, Multimodal, Ranking, Similarity, Sketches, Stats, TextStats}
import graft.ops.{TemporalOps, ZOrderOps}
import graft.streaming.Sessionize

/** Multimodal family: JDK-only image/audio/video decode, perceptual
  * hashing, histograms, fingerprints, scene cuts over binary payloads.
  *
  * Split out of Extensions.scala (round 15): same entries, same maps —
  * [[Extensions]] aggregates the families, so the driver contract
  * (SparkEntry.queries / oracleSql) is unchanged.
  */
private[queries] object QMultimodal {
  import QShared._
  import OracleSql._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_payload_meta" -> { (s, dir) =>
      Multimodal
        .fromText(t(s, dir, "documents"), "doc_id", "text")
        .select(
          col("asset_id"),
          col("media_type"),
          col("meta.n_bytes").as("n_bytes"),
          col("meta.digest").as("digest"),
          col("decoded.width").as("width"),
          col("decoded.height").as("height")
        )
    },
    // frame-sampling plumbing: one row per sampled frame with its byte range,
    "mm_frame_sample" -> { (s, dir) =>
      Multimodal
        .sampleFrames(
          Multimodal.fromText(t(s, dir, "documents"), "doc_id", "text"),
          frameBytes = 64, everyNth = 2
        )
        .select(col("asset_id"), col("sample_idx"), col("frame_idx"),
          col("byte_start"), col("byte_len"))
    },
    // mapPartitions decode path (per-partition codec context; the stub
    // codec's dims formula is deterministic byte arithmetic, reproduced in,
    // the DuckDB twin via per-char code points — fixture text is ASCII)
    "mm_decode_partitioned" -> { (s, dir) =>
      Multimodal
        .decodePartitioned(Multimodal.fromText(t(s, dir, "documents"), "doc_id", "text"))
        .toDF()
    },
    // REAL image decode end-to-end: genuine PNG/BMP bytes are encoded
    // executor-side (javax.imageio) from id-derived pixels, then decoded
    // back by the real codec; the oracle recomputes dims + raw pixel sum
    // arithmetically from the same id formula — a lossy or fake decode,
    // path cannot hash-match it
    "mm_decode_real" -> { (s, dir) =>
      Multimodal
        .decodeImages(Multimodal.synthImages(tPar(s, dir, "documents"), "doc_id"))
        .toDF()
    },
    // blur detection: variance-of-Laplacian sharpness over the REAL
    // decode path — exact Long 4-neighbour Laplacian squares, one rounded,
    // mean; sub-3x3 images report 0/NULL instead of a fake score
    "mm_image_sharpness" -> { (s, dir) =>
      Multimodal
        .imageSharpness(Multimodal.synthImages(tPar(s, dir, "documents"), "doc_id"))
        .toDF()
    },
    // vision data-card: per-image 8-bin luma histogram over the REAL
    // decode — the full brightness distribution next to the exposure,
    // scalars; map-only flatMap, empty bins absent
    "mm_image_histogram" -> { (s, dir) =>
      Multimodal
        .imageHistogram(Multimodal.synthImages(tPar(s, dir, "documents"), "doc_id"), bins = 8)
        .toDF()
    },
    // exposure audit: exact-integer mean luma, population RMS contrast
    // (fixed-order IEEE √ tail), and histogram-rail clip counts over the,
    // REAL decode path — the under/over-exposure + flat-frame gate
    "mm_image_exposure" -> { (s, dir) =>
      Multimodal
        .imageExposure(Multimodal.synthImages(tPar(s, dir, "documents"), "doc_id"))
        .toDF()
    },
    // REAL JPEG decode end-to-end: genuine baseline-JFIF bytes encoded
    // executor-side at quality 1.0 from CONSTANT-gray id-derived images —
    // the one shape lossy JPEG round-trips exactly (DC-only blocks) — then,
    // decoded back by the real codec; oracle: pix_sum = w·h·v arithmetic
    "mm_decode_jpeg" -> { (s, dir) =>
      Multimodal
        .decodeImages(Multimodal.synthJpegImages(tPar(s, dir, "documents"), "doc_id"))
        .toDF()
    },
    // REAL perceptual hash: genuine PNG/BMP bytes decoded, NN-sampled to a
    // 9x7 grid (resizeImages' integer-div convention), 56-bit dHash; the
    // oracle replays the grid sampling + gradient bits arithmetically from,
    // the id-derived pixel formula — a wrong decode or sampling cannot match
    "mm_image_dhash" -> { (s, dir) =>
      Multimodal
        .dHashImages(Multimodal.synthImages(tPar(s, dir, "documents"), "doc_id"))
        .toDF()
    },
    // image near-dup pairs over the dHash fingerprints: 4x14-bit banded-LSH
    // candidates + exact bit_count(xor) Hamming verify — the text-LSH shape,
    // in Hamming space; oracle shares the dhash CTE and replays the bands
    "mm_image_neardup" -> { (s, dir) =>
      Multimodal
        .dhashNearDupPairs(
          Multimodal
            .dHashImages(Multimodal.synthImages(tPar(s, dir, "documents"), "doc_id"))
            .toDF(),
          maxHamming = 8)
    },
    // PERSISTED image-hash index — the production shape the self-join
    // cannot serve: "does this new image dup the corpus". The corpus
    // images' dHash band buckets are written bucketBy(band, bv) ONCE
    // (layout time, the text-LSH doctrine applied to the image modality);
    // each incoming batch then probes the corpus side EXCHANGE-FREE
    // (PlanAuditSpec) with the exact bit_count(xor) verify riding the
    // stored fingerprint — no second corpus join. The persist rides the
    // image family's DEFAULT cap (maxBucket = 64): the uncapped posture
    // was scale-laddered and measured QUADRATIC (10× corpus → 101× pair
    // volume, SCALING.md r19), so capped is the production default and
    // oversizedHammingBuckets is the quarantine audit
    "mm_index_probe" -> { (s, dir) =>
      val hashes = Multimodal
        .dHashImages(Multimodal.synthImages(tPar(s, dir, "documents"), "doc_id"))
        .toDF()
      val tbl = Scratch.table("img_idx")
      graft.Memo.once(tbl, dir)(
        Multimodal.persistImageIndex(
          hashes.filter(col("asset_id") % 5 =!= 0), "asset_id", "dhash", tbl, buckets = 8))
      Multimodal.probeImageIndex(
        s, tbl, hashes.filter(col("asset_id") % 5 === 0), "asset_id", "dhash", maxHamming = 8)
    },
    // the image index's FULL maintenance lifecycle (the same
    // build→append→delete→compact symmetry the text/vector/semantic
    // indexes carry): build one era CAPPED (the family default), append
    // the next under the same bucket spec (appends are never re-capped),
    // tombstone an md5%7 takedown stratum (era-stamped, broadcast
    // anti-join), compact back to one file per bucket, probe. Oracle =
    // the capped-era census ∪ the uncapped append, minus the takedowns:
    // append and compaction are layout, the cap and the tombstone are
    // meaning
    "mm_index_maintain" -> { (s, dir) =>
      val hashes = Multimodal
        .dHashImages(Multimodal.synthImages(tPar(s, dir, "documents"), "doc_id"))
        .toDF()
      val corpus = hashes.filter(col("asset_id") % 5 =!= 0)
      val tbl = Scratch.table("img_idx_mnt")
      graft.Memo.once(tbl, dir) {
        val g = graft.ops.Hashing.md5Mod(col("asset_id").cast("string"), 4L)
        Multimodal.persistImageIndex(
          corpus.filter(g =!= 0), "asset_id", "dhash", tbl, buckets = 8)
        Multimodal.appendImageIndex(
          corpus.filter(g === 0), "asset_id", "dhash", tbl, buckets = 8)
        Multimodal.deleteFromImageIndex(
          s, tbl,
          hashes.filter(graft.ops.Hashing.md5Mod(col("asset_id").cast("string"), 7L) === 0),
          col("asset_id"))
        Multimodal.compactImageIndex(s, tbl, buckets = 8)
      }
      Multimodal.probeImageIndex(
        s, tbl, hashes.filter(col("asset_id") % 5 === 0), "asset_id", "dhash", maxHamming = 8)
    },
    // versioned probe-safe REBUILD for the image index — the re-crawl
    // arc: a STALE index (half the corpus) with an md5%7 takedown stratum
    // tombstoned is replaced by a full-corpus rebuild published as an
    // immutable version in one catalog RENAME (the shared publishVersion
    // machinery all four index families ride); the tombstones drop with
    // the new authority, so the probe equals the fresh-full-corpus index
    // exactly — oracle shared verbatim with mm_index_probe
    "mm_index_rebuild" -> { (s, dir) =>
      val hashes = Multimodal
        .dHashImages(Multimodal.synthImages(tPar(s, dir, "documents"), "doc_id"))
        .toDF()
      val corpus = hashes.filter(col("asset_id") % 5 =!= 0)
      val tbl = Scratch.table("img_idx_rb")
      graft.Memo.once(tbl, dir) {
        Multimodal.persistImageIndex(
          corpus.filter(col("asset_id") % 2 === 0), "asset_id", "dhash", tbl, buckets = 8)
        Multimodal.deleteFromImageIndex(
          s, tbl,
          hashes.filter(graft.ops.Hashing.md5Mod(col("asset_id").cast("string"), 7L) === 0),
          col("asset_id"))
        Multimodal.rebuildImageIndex(s, tbl, corpus, "asset_id", "dhash", buckets = 8)
      }
      Multimodal.probeImageIndex(
        s, tbl, hashes.filter(col("asset_id") % 5 === 0), "asset_id", "dhash", maxHamming = 8)
    },
    // PERSISTED audio near-dup index — the energy-envelope fingerprints
    // through the SAME modality-agnostic Hamming index the image dHash
    // rides (persistHammingIndex/probeHammingIndex): corpus fingerprints
    // bucketed once on (band, bv), each incoming batch probes the corpus
    // side exchange-free with the exact bit_count(xor) verify. With this,
    // every fingerprinted modality has the full persisted lifecycle
    "mm_audio_index_probe" -> { (s, dir) =>
      val fps = Multimodal
        .audioFingerprints(Multimodal.synthWavAudio(tPar(s, dir, "documents"), "doc_id"))
        .toDF()
      val tbl = Scratch.table("aud_idx")
      graft.Memo.once(tbl, dir)(
        Multimodal.persistHammingIndex(
          fps.filter(col("asset_id") % 5 =!= 0), "asset_id", "fingerprint", tbl, buckets = 8))
      Multimodal.probeHammingIndex(
        s, tbl, fps.filter(col("asset_id") % 5 === 0), "asset_id", "fingerprint",
        maxHamming = 8)
    },
    // FRAME-level fingerprint index — the video modality's entry into the
    // shared Hamming lifecycle: every frame of the corpus clips is
    // dHashed (same 9×7 gradient grid as the image hash) and persisted
    // keyed by (asset*8 + frame); an incoming clip's frames then probe
    // the corpus exchange-free — "does any frame of this new clip
    // near-dup any corpus frame", the clip-containment / re-edit
    // detection shape whole-asset hashing cannot answer
    "mm_frame_index_probe" -> { (s, dir) =>
      val fh = frameHashes(s, dir) // the shared spilled frame-key grain
      val tbl = Scratch.table("frm_idx")
      // maxBucket = 64: frame fingerprints concentrate HARD (the all-ones
      // 14-bit band value — saturated monotone gradients — holds ~29% of
      // all frames in this corpus, the dark-frame/test-card shape of real
      // video), and candidates are Σ bucket²; the cap quarantines the
      // boilerplate buckets at layout time, measured 93 MB → ~1 MB of
      // pair-distinct shuffle at sf0.1 for the same non-boilerplate pairs
      graft.Memo.once(tbl, dir)(
        Multimodal.persistHammingIndex(
          fh.filter(col("asset_id") % 5 =!= 0), "frame_key", "dhash", tbl, buckets = 8,
          maxBucket = 64))
      Multimodal.probeHammingIndex(
        s, tbl, fh.filter(col("asset_id") % 5 === 0), "frame_key", "dhash", maxHamming = 8)
    },
    // the QUARANTINE census of the frame index's layout-time cap: which
    // band values were too popular to index (the boilerplate clusters —
    // saturated gradients / dark frames) and how populous each was —
    // surfaced for upstream handling, the oversizedBuckets twin in
    // Hamming space; an operator, because "what did the cap silently
    // drop" is the first question a capped index gets asked
    "mm_frame_quarantine" -> { (s, dir) =>
      val fh = frameHashes(s, dir) // the shared spilled frame-key grain
      Multimodal.oversizedHammingBuckets(
        fh.filter(col("asset_id") % 5 =!= 0), "frame_key", "dhash", maxBucket = 64)
    },
    // the CAP-EXCLUSION audit — measure, don't guess, what the layout
    // cap costs: probe a SAMPLE of the incoming frames (1/5 stratum)
    // against both the capped and an uncapped index and report the kept
    // pair fraction as exact integer ppm. The excluded pairs are
    // boilerplate by design (that's the cap's thesis); this query is the
    // number that keeps the thesis honest per corpus. Sampling bounds
    // the uncapped probe's candidate volume — the audit is a
    // maintenance-epoch measurement, never a serving-path cost
    "mm_frame_cap_audit" -> { (s, dir) =>
      val fh = frameHashes(s, dir) // the shared spilled frame-key grain
      val corpus = fh.filter(col("asset_id") % 5 =!= 0)
      val sample = fh.filter(col("asset_id") % 25 === 0) // 1/5 of the incoming stratum
      val capped = Scratch.table("frm_idx") // shared build with mm_frame_index_probe
      graft.Memo.once(capped, dir)(
        Multimodal.persistHammingIndex(
          corpus, "frame_key", "dhash", capped, buckets = 8, maxBucket = 64))
      val uncapped = Scratch.table("frm_idx_unc")
      graft.Memo.once(uncapped, dir)(
        Multimodal.persistHammingIndex(corpus, "frame_key", "dhash", uncapped, buckets = 8))
      val nC = Multimodal
        .probeHammingIndex(s, capped, sample, "frame_key", "dhash", maxHamming = 8)
        .agg(count(lit(1)).as("pairs_capped"))
      val nU = Multimodal
        .probeHammingIndex(s, uncapped, sample, "frame_key", "dhash", maxHamming = 8)
        .agg(count(lit(1)).as("pairs_uncapped"))
      val nS = sample.agg(count(lit(1)).as("n_probe_frames"))
      val num = col("pairs_capped") * lit(1000000L)
      val den = greatest(col("pairs_uncapped"), lit(1L))
      nS.crossJoin(nU).crossJoin(nC)
        .select(
          col("n_probe_frames"), col("pairs_uncapped"), col("pairs_capped"),
          ((num - pmod(num, den)) / den).cast("long").as("kept_ppm"))
    },
    // the RECOVERY side of the frame index's layout cap: the quarantine
    // had observability (mm_frame_quarantine) but no recovery — dups in
    // hot buckets were permanently unprobeable. Persist the dropped
    // banded rows beside the capped index, then sweep them in BOUNDED
    // ticks (16 hottest unswept buckets each, watermark-tracked) against
    // a bounded incoming stratum (%25 — the cap-audit sampling doctrine:
    // recovered boilerplate pair volume is quadratic in the stratum, so
    // the probe side is sampled, the sweep amortized). Output =
    // capped-probe ∪ completed sweep; the oracle computes the UNCAPPED
    // probe directly — equality IS the recovery contract
    "mm_quarantine_sweep" -> { (s, dir) =>
      val fh = frameHashes(s, dir) // the shared spilled frame-key grain
      val corpus = fh.filter(col("asset_id") % 5 =!= 0)
      val incoming = fh.filter(col("asset_id") % 25 === 0)
      val tbl = Scratch.table("frm_idx_sw")
      graft.Memo.once(tbl, dir) {
        Multimodal.persistHammingIndex(
          corpus, "frame_key", "dhash", tbl, buckets = 8, maxBucket = 64)
        Multimodal.quarantineHammingIndex(
          s, tbl, corpus, "frame_key", "dhash", buckets = 8, maxBucket = 64)
      }
      // fresh PASS per run (the fixture index builds once, bench re-runs
      // the query): watermark back to zero, per-run sweep sink
      Multimodal.HammingLayout.resetSweep(s, tbl)
      val sink = Scratch.dir("quar_sweep", dir)
      Scratch.reset(sink)
      // each tick writes its pairs to the sink, commits the watermark
      // AFTER the write (at-least-once — see the operator doc) and returns
      // the state it committed, so progress needs no read-back
      var (swept, total) = BucketedIndex.quarantineWatermark(s, tbl)
      var wrote = false
      while (swept < total) {
        val st = Multimodal.sweepHammingQuarantine(
          s, tbl, incoming, "frame_key", "dhash",
          maxHamming = 8, maxBucketsPerTick = 16, sink = sink)
        wrote = true
        swept = st._1
        total = st._2
      }
      val probed = Multimodal.probeHammingIndex(
        s, tbl, incoming, "frame_key", "dhash", maxHamming = 8)
      (if (wrote) probed.unionByName(s.read.parquet(sink)) else probed).distinct()
    },
    // the sweep as a SCHEDULED MAINTENANCE ACTION — the policy loop over
    // the new third decision: census reads the sweep watermark, the plan
    // decides `sweep` while quarantined buckets remain unswept (below
    // compact/rebuild precedence — those reset the watermark), the
    // executor runs the registered bounded tick, and the trace converges
    // to `none` in ceil(quar_buckets/16)+1 ticks. Output = the per-tick
    // decision trace; the oracle re-derives the watermark recurrence from
    // the quarantined-bucket census arithmetically
    "mm_sweep_scheduled" -> { (s, dir) =>
      val fh = frameHashes(s, dir) // the shared spilled frame-key grain
      val corpus = fh.filter(col("asset_id") % 5 =!= 0)
      val incoming = fh.filter(col("asset_id") % 25 === 0)
      val tbl = Scratch.table("frm_idx_sched")
      graft.Memo.once(tbl, dir) {
        Multimodal.persistHammingIndex(
          corpus, "frame_key", "dhash", tbl, buckets = 8, maxBucket = 64)
        Multimodal.quarantineHammingIndex(
          s, tbl, corpus, "frame_key", "dhash", buckets = 8, maxBucket = 64)
      }
      val sink = Scratch.dir("sched_sweep", dir)
      Scratch.reset(sink)
      val fleet = Map("frame_hamming" -> graft.ext.Maintenance.ManagedIndex(
        tbl, "corpus_id",
        compact = () => Multimodal.compactHammingIndex(s, tbl, buckets = 8, maxBucket = 64),
        rebuild = () => Multimodal.rebuildHammingIndex(
          s, tbl, corpus, "frame_key", "dhash", buckets = 8, maxBucket = 64),
        bucketKeys = Seq("band", "bv"), bucketCap = 64,
        sweep = Some(() => Multimodal.sweepHammingQuarantine(
          s, tbl, incoming, "frame_key", "dhash",
          maxHamming = 8, maxBucketsPerTick = 16, sink = sink))))
      Multimodal.HammingLayout.resetSweep(s, tbl)
      val recs = scala.collection.mutable.ListBuffer[(Long, String, Long, Long, String)]()
      var tick = 1L
      var continue = true
      while (continue && tick <= 1024) {
        val censusDf = graft.ext.Maintenance
          .indexCensus(s, tbl, "corpus_id", "frame_hamming", Seq("band", "bv"), 64)
          .withColumn("drift_ppm", lit(0L))
        // materialize ONCE: the recorded row and the applied decision
        // must be one observation (the stream-loop doctrine)
        val cRows = censusDf.collect()
        val cDf = s.createDataFrame(java.util.Arrays.asList(cRows: _*), censusDf.schema)
        val plan = graft.ext.Maintenance.indexMaintenancePlan(
          cDf,
          rebuildDriftPpm = 1200000L,
          compactTombPpm = 1000000L,
          sweepUnsweptBuckets = 1L)
        val pRows = plan.collect()
        val decision = pRows.head.getAs[String]("decision")
        val c = cRows.head
        recs += ((tick, "frame_hamming",
          c.getAs[Long]("swept_through"), c.getAs[Long]("quar_unswept"), decision))
        // audit = false: this loop discards the post-action audit (the next
        // tick's census IS the observability), so the re-census per tick is
        // skipped — decisions and recorded rows are unchanged
        graft.ext.Maintenance.applyMaintenancePlan(
          s, s.createDataFrame(java.util.Arrays.asList(pRows: _*), plan.schema), fleet,
          audit = false): Unit
        continue = decision == "sweep"
        tick += 1
      }
      import s.implicits._
      recs.toSeq.toDF("tick", "index_name", "swept_through", "quar_unswept", "decision")
    },
    // CLIP CONTAINMENT — the asset-grain decision on top of the frame
    // pairs: how many of an incoming clip's frames near-dup frames of
    // one corpus clip, as an exact integer ppm of the incoming clip's
    // frame count; kept at ≥ half. Frame pairs are evidence, this is the
    // verdict (the video twin of dedup_containment's asymmetric
    // containment): output is ASSET-grain — the frame-pair volume never
    // leaves the aggregation
    "mm_clip_containment" -> { (s, dir) =>
      val fh = frameHashes(s, dir) // the shared spilled frame-key grain
      val tbl = Scratch.table("frm_idx")
      graft.Memo.once(tbl, dir)(
        Multimodal.persistHammingIndex(
          fh.filter(col("asset_id") % 5 =!= 0), "frame_key", "dhash", tbl, buckets = 8,
          maxBucket = 64))
      val pairs = Multimodal.probeHammingIndex(
        s, tbl, fh.filter(col("asset_id") % 5 === 0), "frame_key", "dhash", maxHamming = 8)
      val matched = pairs
        .select(
          floor(col("new_id") / 8).cast("long").as("new_asset"),
          pmod(col("new_id"), lit(8)).as("new_frame"),
          floor(col("corpus_id") / 8).cast("long").as("corpus_asset"))
        .groupBy(col("new_asset"), col("corpus_asset"))
        .agg(countDistinct(col("new_frame")).as("n_matched"))
      val nf = fh
        .filter(col("asset_id") % 5 === 0)
        .groupBy(col("asset_id").as("new_asset"))
        .agg(max(col("n_frames")).cast("long").as("n_frames"))
      val num = col("n_matched") * lit(1000000L)
      matched
        .join(nf, "new_asset")
        .select(
          col("new_asset"), col("corpus_asset"), col("n_matched"), col("n_frames"),
          ((num - pmod(num, col("n_frames"))) / col("n_frames")).cast("long")
            .as("containment_ppm"))
        .filter(col("containment_ppm") >= 500000L)
    },
    // REAL multi-frame decode end-to-end: genuine animated GIF89a bytes
    // (explicit gray palette → lossless index coding) encoded executor-side,
    // then getNumImages/read(i) samples every 2nd frame; the oracle,
    // recomputes frame count, dims, and per-frame pixel sums arithmetically
    "mm_frames_real" -> { (s, dir) =>
      Multimodal
        .decodeFrames(
          Multimodal.synthGifAnimations(tPar(s, dir, "documents"), "doc_id"),
          everyNth = 2)
        .toDF()
    },
    // REAL video demux end-to-end: genuine RIFF/AVI (MJPEG) containers
    // assembled executor-side with constant-gray q=1.0 JPEG frames (the
    // exact-round-trip shape); the demuxer walks the chunk tree, checks the,
    // avih frame count, decodes every 2nd frame; oracle: pix_sum = w·h·v_f
    "mm_video_frames" -> { (s, dir) =>
      Multimodal
        .demuxVideoFrames(
          Multimodal.synthMjpegVideos(tPar(s, dir, "documents"), "doc_id"),
          everyNth = 2)
        .toDF()
    },
    // shot-boundary detection over the REAL demux+decode path: per-pixel
    // mean luma delta between consecutive frames, cut at >100 (the synth
    // frame values step by 17 mod 256, so only the mod-wrap transitions,
    // fire — data-dependent across assets, arithmetic the oracle replays)
    "mm_video_scene_cuts" -> { (s, dir) =>
      Multimodal.sceneCuts(
        Multimodal.synthMjpegVideos(tPar(s, dir, "documents"), "doc_id"),
        thresholdPerPixel = 100)
    },
    // REAL audio decode end-to-end: genuine RIFF/WAVE PCM-16 bytes encoded
    // executor-side (javax.sound.sampled) from id-derived samples, decoded
    // back by the real codec; PCM is lossless so the oracle recomputes,
    // rate/count/amplitude-sum arithmetically
    "mm_decode_audio" -> { (s, dir) =>
      Multimodal
        .decodeAudio(Multimodal.synthWavAudio(tPar(s, dir, "documents"), "doc_id"))
        .toDF()
    },
    // REAL audio fingerprint: decode the WAV payload, 57 integer-div
    // envelope frames, exact Σs² energies, 56 gradient bits; the oracle,
    // replays the frame boundaries and energies from the id-derived PCM
    "mm_audio_fingerprint" -> { (s, dir) =>
      Multimodal
        .audioFingerprints(Multimodal.synthWavAudio(tPar(s, dir, "documents"), "doc_id"))
        .toDF()
    },
    // audio near-dup pairs over the energy-envelope fingerprints — the,
    // same banded Hamming LSH as the image dHash family
    "mm_audio_neardup" -> { (s, dir) =>
      Multimodal.hammingNearDupPairs(
        Multimodal
          .audioFingerprints(Multimodal.synthWavAudio(tPar(s, dir, "documents"), "doc_id"))
          .toDF()
          .withColumnRenamed("fingerprint", "fp"),
        "fp",
        maxHamming = 8)
    },
    // silence / dropout / clipping audit over the REAL WAV decode: exact
    // counts under |s|<100 and at |s|>=1000, integer ppm share, and the
    // longest consecutive silent run (row-local scan; the oracle needs a,
    // gaps-and-islands window to replay it)
    "mm_audio_silence" -> { (s, dir) =>
      Multimodal
        .audioSilence(
          Multimodal.synthWavAudio(tPar(s, dir, "documents"), "doc_id"),
          silenceThreshold = 100, clipThreshold = 1000)
        .toDF()
    },
    // REAL audio analysis end-to-end: decode the WAV payload, then frame
    // the 16-bit sample stream (50 samples/frame) into short-time energy +
    // zero-crossing counts — all integer math, so the oracle recomputes,
    // every frame descriptor arithmetically from the synth formula
    "mm_audio_features" -> { (s, dir) =>
      Multimodal
        .audioFrameFeatures(
          Multimodal.synthWavAudio(tPar(s, dir, "documents"), "doc_id"),
          frameLen = 50)
        .toDF()
    },
    // REAL resize end-to-end: synth → decode → integer-exact NN resample →
    // re-encode → decode again; the oracle recomputes the resampled pixel
    // sum arithmetically (all integer division, no float scale), so a,
    // lossy re-encode or wrong sample mapping cannot hash-match
    "mm_resize_real" -> { (s, dir) =>
      Multimodal
        .decodeImages(
          Multimodal.resizeImages(
            Multimodal.synthImages(tPar(s, dir, "documents"), "doc_id"), maxSide = 8))
        .toDF()
    },
    // corpus-level line dedup (boilerplate removal, CCNet/RefinedWeb
    // shape): frame every doc with synthetic nav/footer lines (the fixture
    // has no newlines), then strip lines occurring in > maxDocs distinct,
  )

  /** Shared frame-fingerprint CTEs: replay the per-frame dHash
    * arithmetically from the GIF fixture formula (dims 1+id%13 × 5+id%11,
    * nf = 1+id%4, pixel = (id·31 + f·17 + 7x + 13y) mod 256 — lossless
    * palette round-trip), band the 56-bit hashes, and derive the
    * corpus-side bucket census for the layout-time maxBucket = 64 cap.
    * Shared by the frame-pair twin and the clip-containment twin — one
    * definition so the hash/banding/cap replay cannot drift.
    */
  private[queries] lazy val frameHashCtesBody: String =
    """dims AS (
         SELECT doc_id AS id,
                1 + doc_id % 13 AS w,
                5 + doc_id % 11 AS h,
                1 + doc_id % 4 AS nf
         FROM documents),
       frames AS (
         SELECT d.id, d.w, d.h, f.g AS f
         FROM dims d JOIN generate_series(0, 3) AS f(g) ON f.g < d.nf),
       grid AS (
         SELECT fr.id, fr.f, x.g AS x, y.g AS y,
                (fr.id * 31 + fr.f * 17
                 + 7 * ((x.g * fr.w) // 9) + 13 * ((y.g * fr.h) // 7)) % 256 AS v
         FROM frames fr
         CROSS JOIN generate_series(0, 8) AS x(g)
         CROSS JOIN generate_series(0, 6) AS y(g)),
       bits AS (
         SELECT a.id, a.f, CAST(a.y * 8 + a.x AS BIGINT) AS bit
         FROM grid a JOIN grid b ON a.id = b.id AND a.f = b.f AND a.y = b.y AND b.x = a.x + 1
         WHERE a.x < 8 AND b.v > a.v),
       hashes AS (
         SELECT fr.id, fr.f, fr.id * 8 + fr.f AS key,
                CAST(COALESCE(bit_or(1::BIGINT << b.bit), 0) AS BIGINT) AS dhash
         FROM frames fr LEFT JOIN bits b ON b.id = fr.id AND b.f = fr.f
         GROUP BY fr.id, fr.f),
       bands AS (
         SELECT key, id, dhash, b.g AS band, (dhash >> (b.g * 14)) & 16383 AS bv
         FROM hashes CROSS JOIN generate_series(0, 3) AS b(g))"""

  private[queries] lazy val frameBandsCtesSql: String =
    "WITH " + frameHashCtesBody + """,
       cb AS (
         SELECT band, bv, count(*) AS n FROM bands WHERE id % 5 <> 0 GROUP BY 1, 2),
       fpairs AS (
         SELECT DISTINCT l.key AS new_id, l.id AS new_asset, l.f AS new_frame,
                r.key AS corpus_id, r.id AS corpus_asset,
                CAST(bit_count(xor(l.dhash, r.dhash)) AS INTEGER) AS hamming
         FROM (SELECT b.*, h.f FROM bands b JOIN hashes h ON h.key = b.key) l
         JOIN bands r ON l.band = r.band AND l.bv = r.bv
         JOIN cb ON cb.band = r.band AND cb.bv = r.bv
         WHERE l.id % 5 = 0 AND r.id % 5 <> 0 AND l.key <> r.key
           AND cb.n <= 64
           AND bit_count(xor(l.dhash, r.dhash)) <= 8)"""

  val oracles: Map[String, String] = Map(
    "mm_payload_meta" ->
      """SELECT doc_id AS asset_id, 'text/plain' AS media_type,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         sha256(text) AS digest,
         CAST(strpos('0123456789abcdef', substr(sha256(text), 1, 1)) * 64 AS INTEGER) AS width,
         CAST(strpos('0123456789abcdef', substr(sha256(text), 2, 1)) * 64 AS INTEGER) AS height
         FROM documents""",
    "mm_decode_partitioned" ->
      """WITH ch AS (
           SELECT doc_id,
             list_transform(range(1, length(coalesce(text, '')) + 1),
               i -> ascii(substr(text, i, 1))) AS codes
           FROM documents)
         SELECT doc_id AS asset_id, 'text/plain' AS media_type,
           CAST(len(codes) AS BIGINT) AS n_bytes,
           CAST(CASE WHEN len(codes) = 0 THEN 0
                     ELSE (list_sum(codes) % 16 + 1) * 64 END AS INTEGER) AS width,
           CAST(CASE WHEN len(codes) = 0 THEN 0
                     ELSE (list_reduce(list_prepend(CAST(0 AS BIGINT),
                            list_transform(codes, c -> CAST(c % 16 AS BIGINT))),
                            (a, b) -> xor(a, b)) + 1) * 64 END AS INTEGER) AS height
         FROM ch""",
    "mm_decode_real" -> decodeRealOracleSql,
    // sharpness twin: the id-derived pixel formula replayed through the,
    // 4-neighbour Laplacian on the interior grid; sums exact integers
    "mm_image_sharpness" ->
      """WITH dims AS (
           SELECT doc_id AS id,
                  CAST(1 + doc_id % 13 AS INTEGER) AS w,
                  CAST(1 + doc_id % 11 AS INTEGER) AS h
           FROM documents),
         lap AS (
           SELECT d.id,
             (4 * ((d.id * 31 + 7 * x.g + 13 * y.g) % 256)
                - ((d.id * 31 + 7 * (x.g - 1) + 13 * y.g) % 256)
                - ((d.id * 31 + 7 * (x.g + 1) + 13 * y.g) % 256)
                - ((d.id * 31 + 7 * x.g + 13 * (y.g - 1)) % 256)
                - ((d.id * 31 + 7 * x.g + 13 * (y.g + 1)) % 256)) AS l
           FROM dims d
           CROSS JOIN generate_series(1, 11) AS x(g)
           CROSS JOIN generate_series(1, 9) AS y(g)
           WHERE x.g <= d.w - 2 AND y.g <= d.h - 2),
         agg AS (SELECT id, CAST(count(*) AS BIGINT) AS n, CAST(sum(l * l) AS BIGINT) AS sq
                 FROM lap GROUP BY id)
         SELECT d.id AS asset_id,
                CASE WHEN d.id % 2 = 0 THEN 'image/png' ELSE 'image/bmp' END AS media_type,
                d.w AS width, d.h AS height,
                coalesce(agg.n, 0) AS n_interior,
                coalesce(agg.sq, 0) AS lap_sq_sum,
                CASE WHEN agg.n > 0 THEN round(CAST(agg.sq AS DOUBLE) / CAST(agg.n AS DOUBLE), 6) END
                  AS lap_mean
         FROM dims d LEFT JOIN agg ON agg.id = d.id""",
    // histogram twin: the pixel formula bucketed by p // 32, zero bins out,
    "mm_image_histogram" ->
      """WITH dims AS (
           SELECT doc_id AS id,
                  CAST(1 + doc_id % 13 AS INTEGER) AS w,
                  CAST(1 + doc_id % 11 AS INTEGER) AS h
           FROM documents),
         px AS (
           SELECT d.id, ((d.id * 31 + 7 * x.g + 13 * y.g) % 256) AS p
           FROM dims d
           CROSS JOIN generate_series(0, 12) AS x(g)
           CROSS JOIN generate_series(0, 10) AS y(g)
           WHERE x.g < d.w AND y.g < d.h)
         SELECT id AS asset_id, CAST(p // 32 AS INTEGER) AS bin,
                CAST(count(*) AS BIGINT) AS cnt
         FROM px GROUP BY 1, 2""",
    // exposure twin: the id-derived pixel formula over the FULL grid —,
    // exact sums, the fixed-order √((n·Σp²−(Σp)²))/n tail, rail counts
    "mm_image_exposure" ->
      """WITH dims AS (
           SELECT doc_id AS id,
                  CAST(1 + doc_id % 13 AS INTEGER) AS w,
                  CAST(1 + doc_id % 11 AS INTEGER) AS h
           FROM documents),
         px AS (
           SELECT d.id, d.w, d.h, ((d.id * 31 + 7 * x.g + 13 * y.g) % 256) AS p
           FROM dims d
           CROSS JOIN generate_series(0, 12) AS x(g)
           CROSS JOIN generate_series(0, 10) AS y(g)
           WHERE x.g < d.w AND y.g < d.h),
         agg AS (SELECT id, w, h, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(p) AS BIGINT) AS s, CAST(sum(p * p) AS BIGINT) AS ss,
                   CAST(sum(CASE WHEN p <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS lo,
                   CAST(sum(CASE WHEN p >= 253 THEN 1 ELSE 0 END) AS BIGINT) AS hi
                 FROM px GROUP BY 1, 2, 3)
         SELECT id AS asset_id,
                CASE WHEN id % 2 = 0 THEN 'image/png' ELSE 'image/bmp' END AS media_type,
                w AS width, h AS height, n AS n_px,
                round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_luma,
                round(sqrt(CAST(n * ss - s * s AS DOUBLE)) / CAST(n AS DOUBLE), 6)
                  AS rms_contrast,
                lo AS n_clip_lo, hi AS n_clip_hi
         FROM agg""",
    // silence twin: the id-derived PCM formula with a gaps-and-islands,
    // window for the max consecutive silent run the engine scans row-local
    "mm_audio_silence" ->
      """WITH dims AS (
           SELECT doc_id AS id, CAST(100 + doc_id % 200 AS INTEGER) AS n,
                  CASE WHEN doc_id % 2 = 0 THEN 8000 ELSE 16000 END AS rate
           FROM documents),
         smp AS (SELECT d.id, d.n, d.rate, i.g AS i,
                   abs((d.id * 31 + 7 * i.g) % 2003 - 1001) AS a
                 FROM dims d CROSS JOIN generate_series(0, 298) AS i(g)
                 WHERE i.g < d.n),
         sil AS (SELECT id, i, i - row_number() OVER (PARTITION BY id ORDER BY i) AS grp
                 FROM smp WHERE a < 100),
         runs AS (SELECT id, CAST(count(*) AS BIGINT) AS run FROM sil GROUP BY id, grp),
         mx AS (SELECT id, max(run) AS max_run FROM runs GROUP BY id),
         agg AS (SELECT id, max(n) AS n, max(rate) AS rate,
                   CAST(sum(CASE WHEN a < 100 THEN 1 ELSE 0 END) AS BIGINT) AS silent,
                   CAST(sum(CASE WHEN a >= 1000 THEN 1 ELSE 0 END) AS BIGINT) AS clipped
                 FROM smp GROUP BY id)
         SELECT a.id AS asset_id, a.rate AS sample_rate, CAST(a.n AS BIGINT) AS n_samples,
                a.silent AS n_silent,
                CAST(a.silent * 1000000 // a.n AS BIGINT) AS silent_ppm,
                coalesce(m.max_run, 0) AS max_silent_run,
                a.clipped AS n_clipped
         FROM agg a LEFT JOIN mx m ON m.id = a.id""",
    "mm_image_dhash" -> dhashOracleSql,
    "mm_image_neardup" -> dhashNearDupOracleSql,
    // incremental probe twin: cross-side banded collisions only (incoming
    // %5 stratum vs the persisted corpus), exact Hamming verify — layout
    // (bucketed index vs recompute) is execution, not meaning. The corpus
    // side rides the image family's DEFAULT layout cap (maxBucket = 64 —
    // the scale-ladder flip, SCALING.md r19): buckets over the cap are
    // quarantined at persist and never probed
    "mm_index_probe" ->
      s"""$dhashCtesSql,
       bands AS (
         SELECT id, dhash, b.g AS band, (dhash >> (b.g * 14)) & 16383 AS bv
         FROM hashes CROSS JOIN generate_series(0, 3) AS b(g)),
       cb AS (
         SELECT band, bv, count(*) AS n FROM bands WHERE id % 5 <> 0 GROUP BY 1, 2)
       SELECT DISTINCT l.id AS new_id, r.id AS corpus_id,
              CAST(bit_count(xor(l.dhash, r.dhash)) AS INTEGER) AS hamming
       FROM bands l JOIN bands r ON l.band = r.band AND l.bv = r.bv
       JOIN cb ON cb.band = r.band AND cb.bv = r.bv
       WHERE l.id % 5 = 0 AND r.id % 5 <> 0 AND l.id <> r.id
         AND cb.n <= 64
         AND bit_count(xor(l.dhash, r.dhash)) <= 8""",
    // lifecycle twin under the CAPPED default: the persist-era stratum
    // (md5%4 ≠ 0) is capped against its own layout-time census, the
    // appended stratum (md5%4 = 0) is never re-capped (the documented
    // append posture), the tombstoned md5%7 stratum is excluded, and the
    // COMPACT then RE-CAPS the tombstone-filtered live set against its
    // own census (compaction is the cheap re-cap point — the family
    // default) — append/compaction are layout under the same banding,
    // the caps and the tombstone are meaning
    "mm_index_maintain" ->
      s"""$dhashCtesSql,
       bands AS (
         SELECT id, dhash, b.g AS band, (dhash >> (b.g * 14)) & 16383 AS bv
         FROM hashes CROSS JOIN generate_series(0, 3) AS b(g)),
       cbp AS (
         SELECT band, bv, count(*) AS n FROM bands
         WHERE id % 5 <> 0 AND NOT (${md5GateSql("id", 4)}) GROUP BY 1, 2),
       live AS (
         SELECT b.* FROM bands b
         LEFT JOIN cbp ON cbp.band = b.band AND cbp.bv = b.bv
         WHERE b.id % 5 <> 0
           AND NOT (${md5GateSql("b.id", 7)})
           AND ((${md5GateSql("b.id", 4)}) OR cbp.n <= 64)),
       lcb AS (SELECT band, bv, count(*) AS n FROM live GROUP BY 1, 2)
       SELECT DISTINCT l.id AS new_id, r.id AS corpus_id,
              CAST(bit_count(xor(l.dhash, r.dhash)) AS INTEGER) AS hamming
       FROM bands l
       JOIN live r ON l.band = r.band AND l.bv = r.bv
       JOIN lcb ON lcb.band = r.band AND lcb.bv = r.bv
       WHERE l.id % 5 = 0 AND l.id <> r.id
         AND lcb.n <= 64
         AND bit_count(xor(l.dhash, r.dhash)) <= 8""",
    // rebuild-equivalence: the versioned rebuild's serving state IS the
    // fresh full-corpus index at the same cap, so the probe oracle is the
    // mm_index_probe twin verbatim
    "mm_index_rebuild" ->
      s"""$dhashCtesSql,
       bands AS (
         SELECT id, dhash, b.g AS band, (dhash >> (b.g * 14)) & 16383 AS bv
         FROM hashes CROSS JOIN generate_series(0, 3) AS b(g)),
       cb AS (
         SELECT band, bv, count(*) AS n FROM bands WHERE id % 5 <> 0 GROUP BY 1, 2)
       SELECT DISTINCT l.id AS new_id, r.id AS corpus_id,
              CAST(bit_count(xor(l.dhash, r.dhash)) AS INTEGER) AS hamming
       FROM bands l JOIN bands r ON l.band = r.band AND l.bv = r.bv
       JOIN cb ON cb.band = r.band AND cb.bv = r.bv
       WHERE l.id % 5 = 0 AND r.id % 5 <> 0 AND l.id <> r.id
         AND cb.n <= 64
         AND bit_count(xor(l.dhash, r.dhash)) <= 8""",
    // frame-index twin: the shared frame CTEs (hash replay + banding +
    // the layout-time corpus bucket cap) reduced to the pair output
    "mm_frame_index_probe" ->
      s"""$frameBandsCtesSql
         SELECT new_id, corpus_id, hamming FROM fpairs""",
    // quarantine twin: the corpus bucket census above the cap
    "mm_frame_quarantine" ->
      s"""$frameBandsCtesSql
         SELECT CAST(band AS INTEGER) AS band, bv,
                CAST(n AS BIGINT) AS n_members
         FROM cb WHERE n > 64""",
    // cap-audit twin: the sampled probe's pair counts with and without
    // the corpus bucket filter, one exact integer ppm
    "mm_frame_cap_audit" ->
      s"""$frameBandsCtesSql,
         up AS (
           SELECT DISTINCT l.key AS nk, r.key AS ck
           FROM bands l JOIN bands r ON l.band = r.band AND l.bv = r.bv
           WHERE l.id % 25 = 0 AND r.id % 5 <> 0 AND l.key <> r.key
             AND bit_count(xor(l.dhash, r.dhash)) <= 8),
         cp AS (
           SELECT DISTINCT new_id, corpus_id FROM fpairs WHERE new_asset % 25 = 0)
         SELECT (SELECT CAST(count(*) AS BIGINT) FROM hashes WHERE id % 25 = 0) AS n_probe_frames,
                (SELECT CAST(count(*) AS BIGINT) FROM up) AS pairs_uncapped,
                (SELECT CAST(count(*) AS BIGINT) FROM cp) AS pairs_capped,
                ((SELECT count(*) FROM cp) * 1000000)
                  // greatest((SELECT count(*) FROM up), 1) AS kept_ppm""",
    // quarantine-sweep twin: the recovery contract is capped-probe ∪
    // completed-sweep ≡ UNCAPPED probe on the sampled stratum, so the
    // oracle is the banded collision join with NO bucket cap — which
    // side of the cap a candidate pair rode through is execution, the
    // pair set is meaning
    "mm_quarantine_sweep" ->
      s"""WITH $frameHashCtesBody
         SELECT DISTINCT l.key AS new_id, r.key AS corpus_id,
                CAST(bit_count(xor(l.dhash, r.dhash)) AS INTEGER) AS hamming
         FROM bands l JOIN bands r ON l.band = r.band AND l.bv = r.bv
         WHERE l.id % 25 = 0 AND r.id % 5 <> 0 AND l.key <> r.key
           AND bit_count(xor(l.dhash, r.dhash)) <= 8""",
    // scheduled-sweep twin: the watermark recurrence re-derived from the
    // quarantined-bucket census — tick t sees least((t-1)*16, total)
    // swept, decides sweep while any bucket remains, and the trace runs
    // ceil(total/16)+1 ticks (the closing none included)
    "mm_sweep_scheduled" ->
      s"""WITH $frameHashCtesBody,
         cb AS (
           SELECT band, bv, count(*) AS n FROM bands WHERE id % 5 <> 0 GROUP BY 1, 2),
         nq AS (SELECT CAST(count(*) AS BIGINT) AS total FROM cb WHERE n > 64),
         ticks AS (
           SELECT CAST(t.g AS BIGINT) AS tick, nq.total AS total
           FROM generate_series(1, 4096) AS t(g), nq
           WHERE t.g <= (nq.total + 15) // 16 + 1)
         SELECT tick, 'frame_hamming' AS index_name,
                least((tick - 1) * 16, total) AS swept_through,
                total - least((tick - 1) * 16, total) AS quar_unswept,
                CASE WHEN total - least((tick - 1) * 16, total) >= 1
                     THEN 'sweep' ELSE 'none' END AS decision
         FROM ticks""",
    // clip-containment twin: the same pairs rolled up to ASSET grain —
    // distinct matched incoming frames per (new, corpus) asset pair,
    // exact integer ppm of the incoming clip's frame count, kept ≥ half
    "mm_clip_containment" ->
      s"""$frameBandsCtesSql,
         m AS (
           SELECT new_asset, corpus_asset,
                  CAST(count(DISTINCT new_frame) AS BIGINT) AS n_matched
           FROM fpairs GROUP BY 1, 2)
         SELECT m.new_asset, m.corpus_asset, m.n_matched,
                CAST(d.nf AS BIGINT) AS n_frames,
                (m.n_matched * 1000000) // d.nf AS containment_ppm
         FROM m JOIN dims d ON d.id = m.new_asset
         WHERE (m.n_matched * 1000000) // d.nf >= 500000""",
    "mm_audio_fingerprint" -> audioFpOracleSql,
    "mm_audio_neardup" -> audioNearDupOracleSql,
    // audio index probe twin: the audio-FP CTEs replay the envelope
    // fingerprints arithmetically, then the same cross-side banded
    // collision + exact Hamming verify the image index twin uses
    "mm_audio_index_probe" ->
      s"""$audioFpCtesSql,
       bands AS (
         SELECT id, fingerprint, b.g AS band, (fingerprint >> (b.g * 14)) & 16383 AS bv
         FROM fps CROSS JOIN generate_series(0, 3) AS b(g))
       SELECT DISTINCT l.id AS new_id, r.id AS corpus_id,
              CAST(bit_count(xor(l.fingerprint, r.fingerprint)) AS INTEGER) AS hamming
       FROM bands l JOIN bands r ON l.band = r.band AND l.bv = r.bv
       WHERE l.id % 5 = 0 AND r.id % 5 <> 0 AND l.id <> r.id
         AND bit_count(xor(l.fingerprint, r.fingerprint)) <= 8""",
    "mm_decode_jpeg" ->
      """SELECT doc_id AS asset_id,
                'image/jpeg' AS media_type,
                CAST(1 + doc_id % 13 AS INTEGER) AS width,
                CAST(1 + doc_id % 11 AS INTEGER) AS height,
                CAST((1 + doc_id % 13) * (1 + doc_id % 11) * ((doc_id * 31) % 256) AS BIGINT) AS pix_sum
         FROM documents""",
    "mm_frames_real" ->
      """WITH a AS (
           SELECT doc_id AS id,
                  CAST(1 + doc_id % 13 AS INTEGER) AS width,
                  CAST(5 + doc_id % 11 AS INTEGER) AS height,
                  CAST(1 + doc_id % 4 AS INTEGER) AS n_frames
           FROM documents),
         fr AS (
           SELECT id, width, height, n_frames, CAST(unnest(range(0, n_frames)) AS INTEGER) AS f
           FROM a),
         sel AS (SELECT * FROM fr WHERE f % 2 = 0)
         SELECT s.id AS asset_id,
                'image/gif' AS media_type,
                s.f AS frame_idx,
                s.n_frames,
                s.width,
                s.height,
                CAST(sum((s.id * 31 + s.f * 17 + 7 * x.g + 13 * y.g) % 256) AS BIGINT) AS pix_sum
         FROM sel s
         CROSS JOIN generate_series(0, 12) AS x(g)
         CROSS JOIN generate_series(0, 14) AS y(g)
         WHERE x.g < s.width AND y.g < s.height
         GROUP BY 1, 2, 3, 4, 5, 6""",
    // scene-cut replay: frame value (id*31 + f*17) % 256, delta_sum =,
    // w*h*|v_f - v_{f-1}|, cut iff |Δv| > 100 (the cross-multiplied form)
    "mm_video_scene_cuts" ->
      """WITH a AS (
           SELECT doc_id AS id,
                  CAST(1 + doc_id % 13 AS INTEGER) AS width,
                  CAST(1 + doc_id % 11 AS INTEGER) AS height,
                  CAST(1 + doc_id % 3 AS INTEGER) AS n_frames
           FROM documents),
         fr AS (
           SELECT id, width, height, CAST(unnest(range(0, n_frames)) AS INTEGER) AS f
           FROM a),
         fv AS (SELECT id, width, height, f, (id * 31 + f * 17) % 256 AS v FROM fr),
         d AS (
           SELECT id, width, height, f, v,
                  lag(v) OVER (PARTITION BY id ORDER BY f) AS pv
           FROM fv)
         SELECT id AS asset_id, f AS frame_idx,
                CAST(width * height * abs(v - pv) AS BIGINT) AS delta_sum,
                abs(v - pv) > 100 AS is_cut
         FROM d WHERE pv IS NOT NULL""",
    "mm_video_frames" ->
      """WITH a AS (
           SELECT doc_id AS id,
                  CAST(1 + doc_id % 13 AS INTEGER) AS width,
                  CAST(1 + doc_id % 11 AS INTEGER) AS height,
                  CAST(1 + doc_id % 3 AS INTEGER) AS n_frames
           FROM documents),
         fr AS (
           SELECT id, width, height, n_frames, CAST(unnest(range(0, n_frames)) AS INTEGER) AS f
           FROM a)
         SELECT id AS asset_id,
                'video/x-msvideo' AS media_type,
                f AS frame_idx,
                n_frames,
                width,
                height,
                CAST(width * height * ((id * 31 + f * 17) % 256) AS BIGINT) AS pix_sum
         FROM fr
         WHERE f % 2 = 0""",
    "mm_decode_audio" ->
      """WITH a AS (
           SELECT doc_id AS id, CAST(100 + doc_id % 200 AS BIGINT) AS n
           FROM documents)
         SELECT a.id AS asset_id,
                'audio/wav' AS media_type,
                CAST(CASE WHEN a.id % 2 = 0 THEN 8000 ELSE 16000 END AS INTEGER) AS sample_rate,
                CAST(1 AS INTEGER) AS channels,
                CAST(16 AS INTEGER) AS bits,
                a.n AS n_samples,
                CAST(sum((a.id * 31 + 7 * i.g) % 2003 - 1001) AS BIGINT) AS amp_sum
         FROM a
         CROSS JOIN generate_series(0, 298) AS i(g)
         WHERE i.g < a.n
         GROUP BY 1, 2, 3, 4, 5, 6""",
    "mm_audio_features" ->
      """WITH a AS (
           SELECT doc_id AS id, CAST(100 + doc_id % 200 AS BIGINT) AS n
           FROM documents),
         s AS (
           SELECT a.id, i.g AS i,
                  (a.id * 31 + 7 * i.g) % 2003 - 1001 AS v,
                  i.g // 50 AS f
           FROM a CROSS JOIN generate_series(0, 298) AS i(g)
           WHERE i.g < a.n),
         w AS (
           SELECT id, i, v, f,
                  lag(v) OVER (PARTITION BY id ORDER BY i) AS pv
           FROM s)
         SELECT id AS asset_id,
                CAST(f AS INTEGER) AS frame_idx,
                CAST(count(*) AS BIGINT) AS n_samples,
                CAST(sum(v * v) AS BIGINT) AS energy,
                CAST(sum(CASE WHEN i % 50 > 0 AND pv * v < 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS zero_crossings
         FROM w GROUP BY 1, 2""",
    "mm_resize_real" ->
      """WITH dims AS (
           SELECT doc_id,
                  CAST(1 + doc_id % 13 AS BIGINT) AS w,
                  CAST(1 + doc_id % 11 AS BIGINT) AS h
           FROM documents),
         t AS (
           SELECT doc_id, w, h,
                  CASE WHEN w <= 8 AND h <= 8 THEN w
                       ELSE greatest(1, (w * 8) // greatest(w, h)) END AS tw,
                  CASE WHEN w <= 8 AND h <= 8 THEN h
                       ELSE greatest(1, (h * 8) // greatest(w, h)) END AS th
           FROM dims)
         SELECT t.doc_id AS asset_id,
                CASE WHEN t.doc_id % 2 = 0 THEN 'image/png' ELSE 'image/bmp' END AS media_type,
                CAST(t.tw AS INTEGER) AS width,
                CAST(t.th AS INTEGER) AS height,
                CAST(sum((t.doc_id * 31
                          + 7 * ((x.g * t.w) // t.tw)
                          + 13 * ((y.g * t.h) // t.th)) % 256) AS BIGINT) AS pix_sum
         FROM t
         CROSS JOIN generate_series(0, 12) AS x(g)
         CROSS JOIN generate_series(0, 10) AS y(g)
         WHERE x.g < t.tw AND y.g < t.th
         GROUP BY 1, 2, 3, 4""",
    "mm_frame_sample" ->
      """WITH a AS (
           SELECT doc_id AS asset_id,
                  CAST(floor(octet_length(encode(text)) / 64) AS INTEGER) AS n
           FROM documents)
         SELECT asset_id,
                CAST(f // 2 AS INTEGER) AS sample_idx,
                CAST(f AS INTEGER) AS frame_idx,
                CAST(f * 64 AS INTEGER) AS byte_start,
                CAST(64 AS INTEGER) AS byte_len
         FROM a, unnest(range(0, n)) t(f)
         WHERE f % 2 = 0""",
  )
}
