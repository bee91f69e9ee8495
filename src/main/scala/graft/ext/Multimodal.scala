package graft.ext

import java.awt.image.BufferedImage
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.reflect.runtime.universe.TypeTag

/** Multimodal column plumbing (north-star extension, SURVEY.md §7.5).
  *
  * Images/audio/video are opaque `binary` columns plus a typed metadata
  * struct. The Spark-side plumbing — schema, batched per-partition
  * processing, partitioning discipline — is real. IMAGE decode is REAL
  * ([[decodeImages]], [[decodeFrames]] and the image branch of
  * [[decodePartitioned]]): actual PNG/BMP/JPEG/animated-GIF bytes parsed
  * with JDK-only `javax.imageio`. AUDIO decode is REAL
  * ([[decodeAudio]]): WAV/PCM via JDK-only `javax.sound.sampled`. VIDEO
  * is REAL at the container level ([[demuxVideoFrames]]): a general RIFF
  * chunk walker demuxes MJPEG-in-AVI and the real JPEG reader decodes the
  * frames — the JDK ships no inter-frame video codec, so non-MJPEG
  * streams fall back to the clearly-marked stand-ins ([[stubDecode]] /
  * [[sampleFrames]] byte-stride path).
  */
object Multimodal {

  /** Canonical schema for a multimodal asset table. */
  val assetSchema: StructType = StructType(
    Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("media_type", StringType, nullable = false),
      StructField("payload", BinaryType, nullable = true),
      StructField(
        "meta",
        StructType(
          Seq(
            StructField("n_bytes", LongType, nullable = true),
            StructField("digest", StringType, nullable = true),
            StructField("width", IntegerType, nullable = true),
            StructField("height", IntegerType, nullable = true)
          )
        ),
        nullable = true
      )
    )
  )

  /** Wrap any string column as a binary payload (UTF-8) — used to exercise
    * the binary plumbing against the text fixtures.
    */
  def asPayload(c: Column): Column = encode(c, "UTF-8")

  /** Content metadata over a binary payload: byte length + sha256 digest.
    * Pure Catalyst expressions — the cheap, always-real part of the stack.
    */
  def payloadMeta(payload: Column): Column =
    struct(
      length(payload).cast("long").as("n_bytes"),
      sha2(payload, 256).as("digest")
    )

  /** ======================== STUB ========================
    * Deterministic FAKE media decode: derives pseudo width/height from the
    * payload digest instead of decoding pixels. A real deployment replaces
    * this body with a codec call inside `mapPartitions` (batch-amortized,
    * one codec context per partition); the signature, schema, and plan shape
    * stay identical.
    */
  def stubDecode(payload: Column): Column = {
    val h = sha2(payload, 256)
    val w = ((conv(substring(h, 1, 1), 16, 10).cast("long") + 1) * 64).cast("int")
    val ht = ((conv(substring(h, 2, 1), 16, 10).cast("long") + 1) * 64).cast("int")
    struct(w.as("width"), ht.as("height"))
  }

  /** Assemble an asset table from a text corpus: real binary payloads,
    * real metadata, stubbed decode. Pure projection — no shuffle; decode
    * work downstream is map-only, so input splits already balance it.
    */
  def fromText(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val payload = asPayload(col(textCol))
    df.select(
      col(idCol).as("asset_id"),
      lit("text/plain").as("media_type"),
      payload.as("payload"),
      payloadMeta(payload).as("meta"),
      stubDecode(payload).as("decoded")
    )
  }

  /** One decoded asset row produced by the partition-batched decode path. */
  final case class DecodedAsset(
      asset_id: Long,
      media_type: String,
      n_bytes: Long,
      width: Int,
      height: Int
  )

  /** The asset loop every per-asset media operator is a kernel over — the
    * imperative decode path a codec needs: `mapPartitions` with one codec
    * context amortized across the partition's rows (opening a decoder per
    * row is the classic per-row-UDF mistake; per-partition batching is the
    * Scala twin of an Arrow-batched Pandas UDF). Selects `asset_id` (as
    * long), `media_type` only when the kernel reads it (the kernel sees
    * `null` otherwise) and `payload`; each row flat-maps through the kernel
    * into rows of `R`. Map-only: no shuffle before or after the decode.
    */
  private def perAsset[R <: Product: TypeTag](assets: DataFrame, mediaType: Boolean)(
      kernel: (ImageCodec, Long, String, Array[Byte]) => IterableOnce[R]): Dataset[R] = {
    val cols = Seq(col("asset_id").cast("long")) ++ Option.when(mediaType)(col("media_type")) :+ col("payload")
    assets.select(cols: _*).mapPartitions { rows =>
      val codec = new ImageCodec
      rows.flatMap { r =>
        kernel(codec, r.getLong(0), if (mediaType) r.getString(1) else null, r.getAs[Array[Byte]](r.length - 1))
      }
    }(Encoders.product[R])
  }

  /** The id loop behind every `synth*` fixture generator: each id of
    * `idCol` (as long) runs through `kernel` with one codec per partition,
    * which returns the asset's media type and payload bytes. Output is the
    * (asset_id, media_type, payload) asset triple.
    */
  private def perId(df: DataFrame, idCol: String)(
      kernel: (ImageCodec, Long) => (String, Array[Byte])): DataFrame =
    df.select(col(idCol).cast("long"))
      .as[Long](Encoders.scalaLong)
      .mapPartitions { ids =>
        val codec = new ImageCodec
        ids.map { id =>
          val (mt, payload) = kernel(codec, id)
          (id, mt, payload)
        }
      }(Encoders.product[(Long, String, Array[Byte])])
      .toDF("asset_id", "media_type", "payload")

  /** Partition-batched decode over an asset table with (asset_id: long,
    * media_type: string, payload: binary).
    *
    * `image/…`-typed payloads take the REAL branch — `javax.imageio` parses the
    * actual PNG/BMP bytes for dimensions. Non-image payloads (text, and
    * audio/video for which the JDK ships no codec) fall back to the
    * deterministic byte-derived dims of [[byteDims]] — that fallback
    * is the remaining STUB surface, clearly scoped.
    */
  def decodePartitioned(assets: DataFrame): Dataset[DecodedAsset] =
    perAsset(assets, mediaType = true) { (codec, id, mt, payload) =>
      val (w, h) =
        if (mt != null && mt.startsWith("image/") && payload != null) {
          val img = codec.decode(payload, s"asset $id")
          (img.getWidth, img.getHeight)
        } else byteDims(payload)
      Some(DecodedAsset(id, mt, if (payload == null) 0L else payload.length.toLong, w, h))
    }

  /** One decoded image row: REAL dimensions and raw-sample pixel sum. */
  final case class DecodedImage(
      asset_id: Long,
      media_type: String,
      width: Int,
      height: Int,
      pix_sum: Long
  )

  final case class ImageSharpness(
      asset_id: Long,
      media_type: String,
      width: Int,
      height: Int,
      n_interior: Long,
      lap_sq_sum: Long,
      lap_mean: Option[Double]
  )

  /** REAL image decode (JDK-only `javax.imageio`, PNG + BMP): parses the
    * actual payload bytes inside the partition-batched plumbing and folds
    * band-0 raster samples into a pixel checksum ([[band0Sum]]).
    */
  def decodeImages(assets: DataFrame): Dataset[DecodedImage] =
    perAsset(assets, mediaType = true) { (codec, id, mt, payload) =>
      val img = codec.decode(payload, s"asset $id")
      Some(DecodedImage(id, mt, img.getWidth, img.getHeight, band0Sum(img)))
    }

  /** Image SHARPNESS audit — the variance-of-Laplacian blur detector every
    * vision-data curation pipeline runs before training (blurry frames and
    * up-scaled thumbnails score near zero and get dropped): per interior
    * pixel the 4-neighbour Laplacian `4p − p← − p→ − p↑ − p↓` of band 0,
    * squared and summed in EXACT Long arithmetic (|lap| ≤ 1020, lap² ≤
    * ~1e6 — a petapixel per image before overflow), one rounded division
    * for the per-pixel mean at the end. Images too small for an interior
    * (w < 3 or h < 3) report 0/NULL rather than a fake score.
    *
    * Same decode plumbing as [[decodeImages]]: partition-batched real
    * codec, no shuffle before or after — map-only over the asset table.
    */
  def imageSharpness(assets: DataFrame): Dataset[ImageSharpness] =
    perAsset(assets, mediaType = true) { (codec, id, mt, payload) =>
      val img = codec.decode(payload, s"asset $id")
      val r = img.getRaster
      val w = img.getWidth
      val h = img.getHeight
      var sq = 0L
      var n = 0L
      var y = 1
      while (y < h - 1) {
        var x = 1
        while (x < w - 1) {
          val lap = 4L * r.getSample(x, y, 0) -
            r.getSample(x - 1, y, 0) - r.getSample(x + 1, y, 0) -
            r.getSample(x, y - 1, 0) - r.getSample(x, y + 1, 0)
          sq += lap * lap
          n += 1
          x += 1
        }
        y += 1
      }
      val mean = if (n == 0) None else Some(round6(sq.toDouble / n.toDouble))
      Some(ImageSharpness(id, mt, w, h, n, sq, mean))
    }

  final case class ImageExposure(
      asset_id: Long,
      media_type: String,
      width: Int,
      height: Int,
      n_px: Long,
      mean_luma: Double,
      rms_contrast: Double,
      n_clip_lo: Long,
      n_clip_hi: Long
  )

  /** Image EXPOSURE audit — the other half of the vision-curation gate
    * next to [[imageSharpness]]: under/over-exposed and flat frames score
    * low RMS contrast or pile pixels at the histogram rails, and training
    * sets drop them. Per image (band 0): exact Long Σp and Σp², the
    * population RMS contrast `√(n·Σp² − (Σp)²)/n` as a FIXED-ORDER IEEE
    * tail (one cast, one √, one ÷ — bit-identical in any engine), and
    * exact rail counts (p ≤ 2, p ≥ 253 — the camera-clip sentinels).
    * `n·Σp² ≤ n²·255²` holds in a Long to ~7·10¹⁵ pixels per image.
    *
    * Same decode plumbing as [[decodeImages]]: partition-batched real
    * codec, map-only — no shuffle before or after.
    */
  def imageExposure(assets: DataFrame): Dataset[ImageExposure] =
    perAsset(assets, mediaType = true) { (codec, id, mt, payload) =>
      val img = codec.decode(payload, s"asset $id")
      val r = img.getRaster
      val w = img.getWidth
      val h = img.getHeight
      var s = 0L
      var ss = 0L
      var lo = 0L
      var hi = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val p = r.getSample(x, y, 0).toLong
          s += p
          ss += p * p
          if (p <= 2) lo += 1
          if (p >= 253) hi += 1
          x += 1
        }
        y += 1
      }
      val n = w.toLong * h
      val mean = round6(s.toDouble / n.toDouble)
      val rms = round6(math.sqrt((n * ss - s * s).toDouble) / n.toDouble)
      Some(ImageExposure(id, mt, w, h, n, mean, rms, lo, hi))
    }

  final case class ImageHistBin(asset_id: Long, bin: Int, cnt: Long)

  /** Per-image luma histogram (`256/bins`-wide buckets over band 0) — the
    * vision data-card statistic next to [[imageExposure]]'s scalars: the
    * full brightness distribution, per asset, as (asset_id, bin, cnt)
    * rows. Empty bins are absent (emitting zeros would multiply output by
    * the alphabet for no information). Map-only partition-batched real
    * decode; one flatMap, no shuffle.
    */
  def imageHistogram(assets: DataFrame, bins: Int): Dataset[ImageHistBin] = {
    require(bins >= 1 && 256 % bins == 0, "bins must divide 256")
    val width = 256 / bins
    perAsset(assets, mediaType = false) { (codec, id, _, payload) =>
      val img = codec.decode(payload, s"asset $id")
      val r = img.getRaster
      val h = new Array[Long](bins)
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          h(r.getSample(x, y, 0) / width) += 1
          x += 1
        }
        y += 1
      }
      (0 until bins).iterator.filter(h(_) > 0).map(b => ImageHistBin(id, b, h(b)))
    }
  }

  /** Deterministic REAL JPEG fixture: encodes actual baseline-JFIF bytes
    * executor-side — CONSTANT-gray images (`v = id*31 % 256`,
    * `w = 1 + id%13`, `h = 1 + id%11`) at compression quality 1.0.
    * Constant images are the one shape baseline JPEG round-trips EXACTLY:
    * every 8×8 block (edge blocks padded by replication stay constant) has
    * a DC-only DCT that quantizes losslessly at quality 1.0, so
    * `pix_sum = w·h·v` is arithmetically oracle-checkable even though the
    * codec is lossy in general (verified: 0 mismatched pixels over the id
    * range). The general lossy path is bound-checked in MultimodalSpec.
    */
  def synthJpegImages(df: DataFrame, idCol: String): DataFrame =
    perId(df, idCol) { (codec, id) =>
      val v = ((id * 31) % 256).toInt
      val img = filled((1 + id % 13).toInt, (1 + id % 11).toInt, BufferedImage.TYPE_BYTE_GRAY)((_, _) => v)
      ("image/jpeg", codec.encodeJpeg(img))
    }

  /** Deterministic REAL image fixture: encodes actual PNG (even ids,
    * 8-bit grayscale) and BMP (odd ids, 24-bit with equal channels)
    * payloads executor-side. Dimensions and every pixel derive from the id
    * alone — `w = 1 + id%13`, `h = 1 + id%11`,
    * `pixel(x,y) = (id*31 + 7x + 13y) % 256` — so a SQL oracle can compute
    * the expected decode output arithmetically while the bytes on the wire
    * are genuine codec output.
    */
  def synthImages(df: DataFrame, idCol: String): DataFrame =
    perId(df, idCol) { (codec, id) =>
      val png = id % 2 == 0
      val img = filled(
        (1 + id % 13).toInt, (1 + id % 11).toInt,
        if (png) BufferedImage.TYPE_BYTE_GRAY else BufferedImage.TYPE_3BYTE_BGR
      )((x, y) => ((id * 31 + 7L * x + 13L * y) % 256).toInt)
      (if (png) "image/png" else "image/bmp", codec.encode(img, bmp = !png))
    }

  /** REAL image resize: decode → nearest-neighbor resample → re-encode,
    * inside the partition-batched plumbing. The contract is integer-exact
    * so a SQL oracle can reproduce it bit-for-bit: target dims cap the
    * larger side at `maxSide` via integer division
    * (`tw = max(1, w*maxSide div max(w,h))`, identity when both sides fit),
    * and target pixel (x,y) copies source sample
    * (`x*w div tw`, `y*h div th`) per band — no float scale factor
    * anywhere. Output schema matches the synth/asset triple, so
    * [[decodeImages]] composes directly for verification.
    */
  def resizeImages(assets: DataFrame, maxSide: Int): DataFrame = {
    require(maxSide > 0, "maxSide must be positive")
    perAsset(assets, mediaType = true) { (codec, id, mt, payload) =>
      val img = codec.decode(payload, s"asset $id")
      val (w, h) = (img.getWidth, img.getHeight)
      val (tw, th) =
        if (w <= maxSide && h <= maxSide) (w, h)
        else {
          val m = math.max(w, h)
          (math.max(1, w * maxSide / m), math.max(1, h * maxSide / m))
        }
      val outType =
        if (img.getType == BufferedImage.TYPE_CUSTOM) BufferedImage.TYPE_3BYTE_BGR
        else img.getType
      val out = new BufferedImage(tw, th, outType)
      val src = img.getRaster
      val dst = out.getRaster
      val bands = math.min(src.getNumBands, dst.getNumBands)
      var y = 0
      while (y < th) {
        val sy = y * h / th
        var x = 0
        while (x < tw) {
          val sx = x * w / tw
          var b = 0
          while (b < bands) { dst.setSample(x, y, b, src.getSample(sx, sy, b)); b += 1 }
          x += 1
        }
        y += 1
      }
      val bytes =
        if (mt != null && mt.endsWith("jpeg")) codec.encodeJpeg(out)
        else codec.encode(out, bmp = mt != null && mt.endsWith("bmp"))
      Some((id, mt, bytes))
    }.toDF("asset_id", "media_type", "payload")
  }

  /** One perceptual-hash row: REAL decode dims + the 56-bit dHash. */
  final case class ImageHash(asset_id: Long, width: Int, height: Int, dhash: Long)

  /** REAL perceptual hash (difference hash) over actual image bytes — the
    * standard image near-dup fingerprint for training-corpus dedup: decode
    * (JDK `javax.imageio`), nearest-neighbor downsample band 0 to a 9×7
    * grid with the SAME integer-exact convention as [[resizeImages]]
    * (`sx = x·w div 9`, `sy = y·h div 7` — no float scale anywhere), then
    * one bit per horizontal gradient (`sample(x+1) > sample(x)`), row-major
    * bits 0..55. 56 bits deliberately (not 64): the hash stays positive in
    * any engine's BIGINT, so band extraction and XOR never touch the sign
    * bit (DuckDB overflow-checks `1<<63`; Spark wraps — 56 bits keeps the
    * twins exactly comparable).
    *
    * Map-only with per-partition codec reuse, like every decode in this
    * module: at 100 TB the hash pass is one scan, and only
    * the (asset_id, w, h, dhash) row — never payload bytes — flows into
    * the dedup join downstream ([[dhashNearDupPairs]]).
    */
  def dHashImages(assets: DataFrame): Dataset[ImageHash] =
    perAsset(assets, mediaType = false) { (codec, id, _, payload) =>
      val img = codec.decode(payload, s"asset $id")
      Some(ImageHash(id, img.getWidth, img.getHeight, dhash9x7(img)))
    }

  /** The shared 56-bit gradient hash: 9×7 NN sample grid of raster band 0
    * (resizeImages' integer-div convention), one horizontal-gradient bit
    * per adjacent pair — used verbatim by the whole-image hash
    * ([[dHashImages]]) and the per-frame hash ([[dHashFrames]]) so the
    * two can never drift in grid convention.
    */
  private def dhash9x7(img: BufferedImage): Long = {
    val raster = img.getRaster
    val (w, h) = (img.getWidth, img.getHeight)
    val g = Array.ofDim[Int](7, 9)
    var y = 0
    while (y < 7) {
      val sy = y * h / 7
      var x = 0
      while (x < 9) {
        g(y)(x) = raster.getSample(x * w / 9, sy, 0)
        x += 1
      }
      y += 1
    }
    var hash = 0L
    y = 0
    while (y < 7) {
      var x = 0
      while (x < 8) {
        if (g(y)(x + 1) > g(y)(x)) hash |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    hash
  }

  final case class FrameHash(
      asset_id: Long, frame_idx: Int, n_frames: Int, width: Int, height: Int, dhash: Long)

  /** Per-FRAME dHash over multi-frame payloads (animated GIF / keyframe
    * sets) — the video modality's entry into the Hamming fingerprint
    * family: decode every `everyNth` frame with the real codec and hash
    * each with the SAME 9×7 gradient grid as [[dHashImages]]. Keyed by
    * (asset, frame), these rows ride the persisted
    * [[persistHammingIndex]] lifecycle unchanged, answering the
    * FRAME-level production question the whole-asset hash cannot: "does
    * any frame of this new clip near-dup any frame of the corpus" (clip
    * containment / re-edit detection). Map-only like every decode here.
    */
  def dHashFrames(assets: DataFrame, everyNth: Int): Dataset[FrameHash] =
    perAsset(assets, mediaType = false) { (codec, id, _, payload) =>
      codec.decodeGifFrames(payload, s"asset $id", everyNth).map { case (f, n, img) =>
        FrameHash(id, f, n, img.getWidth, img.getHeight, dhash9x7(img))
      }
    }

  /** Image near-duplicates from [[dHashImages]] fingerprints: banded-LSH
    * candidate generation (the minhash-LSH shape from `Dedup` applied to
    * Hamming space — 4 bands × 14 bits; two hashes within Hamming distance
    * d collide on ≥1 band whenever d < 4 by pigeonhole) and an exact
    * `bit_count(xor)` verify. Output: (id_lo, id_hi, hamming) pairs with
    * hamming ≤ `maxHamming`, distinct, engine-exact.
    *
    * Scale posture: identical to the text-LSH family — the only corpus
    * movement is the (band, value) shuffle of 4 small rows per image;
    * candidates are Σ bucket², never a cartesian; the verify is a
    * constant-time integer op per candidate.
    */
  def dhashNearDupPairs(hashes: DataFrame, maxHamming: Int = 8): DataFrame =
    hammingNearDupPairs(hashes, "dhash", maxHamming)

  /** The modality-agnostic half of [[dhashNearDupPairs]]: banded Hamming
    * LSH over ANY 56-bit fingerprint column (image dHash, audio energy
    * envelope). Same guarantees: pairs within Hamming 3 always collide on
    * a band (pigeonhole over 4 × 14 bits); farther pairs are found iff a
    * band agrees, and every candidate is verified exactly.
    */
  def hammingNearDupPairs(
      hashes: DataFrame,
      hashCol: String,
      maxHamming: Int,
      maxBucket: Int = 0
  ): DataFrame = {
    // NO forced band repartition here (unlike the text-LSH band join):
    // the banded fingerprint row is 3 longs — the planner broadcasts one
    // side at any realistic fingerprint-table size, and a measured
    // attempt to pin both sides to one reused exchange (r16) doubled the
    // query's time by forcing the shuffle broadcast avoids. The query's
    // remaining exchange is the pair-output distinct — output-grain,
    // not corpus-grain: a pair ships only once it verified ≤ maxHamming.
    // `maxBucket > 0` drops over-popular band values before pairing —
    // candidates are Σ bucket², and fingerprint spaces have boilerplate
    // buckets too (saturated-gradient slices: dark frames, test cards) —
    // the text-LSH cap + quarantine doctrine (Dedup.capBuckets), shared.
    val banded = graft.ext.Dedup.capBuckets(
      bandedFingerprints(hashes, "asset_id", hashCol), Seq("band", "bv"), maxBucket)
    val lo = banded.select(col("band"), col("bv"), col("id").as("id_lo"), col("fp").as("h_lo"))
    val hi = banded.select(col("band"), col("bv"), col("id").as("id_hi"), col("fp").as("h_hi"))
    lo.join(hi, Seq("band", "bv"))
      .filter(col("id_lo") < col("id_hi"))
      .select(col("id_lo"), col("id_hi"), bit_count(col("h_lo").bitwiseXOR(col("h_hi"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** One (band, bv, id, fp) row per fingerprint per band — the shared
    * banding of the Hamming-LSH family (4 × 14-bit slices of a 56-bit
    * fingerprint), factored so the self-join pair generator and the
    * persisted index cannot drift in band assignment.
    */
  private def bandedFingerprints(hashes: DataFrame, idCol: String, hashCol: String): DataFrame =
    hashes
      .select(
        col(idCol).as("id"),
        col(hashCol).as("fp"),
        explode(
          array((0 until 4).map(b =>
            struct(lit(b).as("band"), shiftright(col(hashCol), b * 14).bitwiseAND(lit(16383L)).as("bv"))): _*)
        ).as("bb")
      )
      .select(col("bb.band").as("band"), col("bb.bv").as("bv"), col("id"), col("fp"))

  /** LAYOUT TIME — persist a Hamming near-dup index over ANY 56-bit
    * fingerprint column (image dHash, audio energy envelope — the
    * modality-agnostic doctrine of [[hammingNearDupPairs]], persisted):
    * band buckets written `bucketBy(band, bv)`, the same lifecycle as the
    * text LSH index ([[graft.ext.Dedup.persistLshIndex]]). Every later
    * batch of incoming fingerprints probes the corpus side EXCHANGE-FREE
    * ("does this new image/clip dup the corpus" — the production shape
    * the self-join pair generator cannot serve incrementally). The stored
    * row is (band, bv, corpus_id, fp, seq): the full fingerprint rides
    * along so the exact `bit_count(xor)` verify needs no second corpus
    * join, and `seq` is the append era the tombstone half keys on.
    */
  def persistHammingIndex(
      hashes: DataFrame,
      idCol: String,
      hashCol: String,
      table: String,
      buckets: Int,
      era: Long = 0L,
      maxBucket: Int = 0
  ): Unit =
    persistHammingIndexRows(
      bandedFingerprints(hashes, idCol, hashCol), table, buckets, era, maxBucket)

  /** The Hamming family's [[BucketedIndex.Layout]]: rows
    * (band, bv, corpus_id, fp, seq) bucketed by (band, bv).
    */
  private[graft] val HammingLayout = BucketedIndex.Layout("corpus_id", Seq("band", "bv"))

  /** The banded-row core of [[persistHammingIndex]] — takes the
    * already-banded (band, bv, id, fp) frame so lifecycle specs can pin
    * cap/regrowth semantics on hand-built bucket layouts. `maxBucket > 0`
    * quarantines boilerplate band values AT LAYOUT TIME (every probe
    * against a hot bucket pays its full membership; frame corpora
    * concentrate hard — saturated gradients, black frames).
    */
  private[graft] def persistHammingIndexRows(
      banded: DataFrame,
      table: String,
      buckets: Int,
      era: Long = 0L,
      maxBucket: Int = 0
  ): Unit =
    HammingLayout.persist(
      hammingRows(graft.ext.Dedup.capBuckets(banded, Seq("band", "bv"), maxBucket)),
      table, buckets, era)

  private def hammingRows(banded: DataFrame): DataFrame =
    banded.select(col("band"), col("bv"), col("id").as("corpus_id"), col("fp"))

  /** MAINTENANCE — append a batch's fingerprints to a
    * [[persistHammingIndex]] table under the same bucket spec: one
    * map-side banding pass, one bucketed append; the table stays
    * exchange-free for every future probe. For an UNCAPPED layout,
    * append-then-probe ≡ rebuild-then-probe exactly (banding is a
    * per-row function of the fingerprint alone). Under a `maxBucket`
    * cap that equivalence is layout-epoch-scoped: the cap is a
    * corpus-global census taken at persist/rebuild time, and appends
    * are NOT re-capped — appended rows land in (and can regrow)
    * quarantined buckets until the next compaction or rebuild at the
    * same cap, which are the re-cap points.
    */
  def appendHammingIndex(
      hashes: DataFrame,
      idCol: String,
      hashCol: String,
      table: String,
      buckets: Int,
      era: Long = BucketedIndex.nextEra()
  ): Unit =
    appendHammingIndexRows(bandedFingerprints(hashes, idCol, hashCol), table, buckets, era)

  /** The banded-row core of [[appendHammingIndex]] (see
    * [[persistHammingIndexRows]]).
    */
  private[graft] def appendHammingIndexRows(
      banded: DataFrame,
      table: String,
      buckets: Int,
      era: Long = BucketedIndex.nextEra()
  ): Unit =
    HammingLayout.append(hammingRows(banded), table, buckets, era)

  /** MAINTENANCE — the retraction half (takedown of corpus assets):
    * era-stamped tombstones, broadcast anti-joined out of every probe
    * ([[BucketedIndex.Layout.delete]]). A later re-append of the same id
    * (higher era) is visible immediately.
    */
  def deleteFromHammingIndex(
      s: org.apache.spark.sql.SparkSession,
      table: String,
      ids: DataFrame,
      idCol: Column,
      era: Long = BucketedIndex.nextEra()
  ): Unit =
    HammingLayout.delete(s, table, ids, idCol, era)

  /** MAINTENANCE — bucket-preserving compaction
    * ([[BucketedIndex.Layout.compact]]); `maxBucket > 0` makes it a
    * RE-CAP point. Re-capping here costs nothing extra (compaction
    * rewrites every live row anyway), versus a full rebuild whose only cap
    * advantage is a refreshed fingerprint computation. For buckets that
    * were UNDER the cap at layout time, compact-at-cap equals
    * rebuild-at-cap exactly, even when retried appends stored a row
    * twice. The censuses differ in SCOPE, though: compaction re-caps
    * relative to STORED content, a rebuild relative to the FULL corpus —
    * a bucket quarantined at persist (its original members never stored)
    * whose appended rows alone stay under the cap SURVIVES compaction but
    * would be re-quarantined by a rebuild at the same cap (MultimodalSpec
    * pins the divergence). Compact heals regrowth; only rebuild
    * re-decides the original quarantine.
    */
  def compactHammingIndex(
      s: org.apache.spark.sql.SparkSession,
      table: String,
      buckets: Int,
      maxBucket: Int = 0
  ): Unit =
    HammingLayout.compact(s, table, buckets, maxBucket)

  /** MAINTENANCE — versioned probe-safe REBUILD of a
    * [[persistHammingIndex]] table ([[BucketedIndex.rebuild]]): the
    * fingerprint index has no trained model, so its rebuild trigger is a
    * corpus re-crawl / re-decode (new payload bytes ⇒ new fingerprints).
    * `maxBucket` rides through — the rebuild IS a re-cap point, and one
    * that silently dropped the cap would republish every quarantined
    * boilerplate bucket — and a kept quarantine side is re-decided
    * against the rebuild's full corpus.
    */
  def rebuildHammingIndex(
      s: org.apache.spark.sql.SparkSession,
      table: String,
      hashes: DataFrame,
      idCol: String,
      hashCol: String,
      buckets: Int,
      maxBucket: Int = 0
  ): Unit =
    BucketedIndex.rebuild(s, table, maxBucket)((bld, era) =>
      persistHammingIndex(hashes, idCol, hashCol, bld, buckets, era = era, maxBucket = maxBucket))(
      quarantineHammingIndex(s, table, hashes, idCol, hashCol, buckets, maxBucket))

  /** QUERY TIME — probe a [[persistHammingIndex]] table with a batch of
    * incoming fingerprints: band the batch map-side, join the live index
    * on (band, bv) with NO exchange on the corpus side (PlanAuditSpec),
    * verify candidates exactly with `bit_count(xor)`. Identical pair
    * semantics to [[hammingNearDupPairs]] restricted to cross-side pairs;
    * self-pairs (a re-crawled id probing its own stored row) are excluded
    * by id.
    *
    * @return (new_id, corpus_id, hamming) with hamming ≤ maxHamming, distinct
    */
  def probeHammingIndex(
      s: org.apache.spark.sql.SparkSession,
      table: String,
      incoming: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int
  ): DataFrame =
    hammingVerified(bandedFingerprints(incoming, idCol, hashCol), HammingLayout.live(s, table), maxHamming)

  /** The family's verify join: incoming banded fingerprints against stored
    * rows on (band, bv), exact `bit_count(xor)` ≤ `maxHamming`, self-pairs
    * excluded by id, each pair once.
    */
  private def hammingVerified(incoming: DataFrame, stored: DataFrame, maxHamming: Int): DataFrame =
    incoming
      .select(col("band"), col("bv"), col("id").as("new_id"), col("fp").as("h_new"))
      .join(stored, Seq("band", "bv"))
      .filter(col("new_id") =!= col("corpus_id"))
      .select(
        col("new_id"), col("corpus_id"),
        bit_count(col("h_new").bitwiseXOR(col("fp"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()

  /** The quarantine side of the Hamming cap ([[persistHammingIndex]]'s
    * `maxBucket`): (band, bv, n_members) for every band value whose
    * membership exceeds the cap — the boilerplate fingerprint clusters
    * (saturated gradients, black frames) excluded from the index at
    * layout time, surfaced for upstream handling. The
    * [[graft.ext.Dedup.oversizedBuckets]] twin in Hamming space; same
    * contract: `maxBucket` must be the positive cap actually used at
    * layout (an uncapped layout quarantines nothing — asking for its
    * quarantine is a caller error).
    */
  def oversizedHammingBuckets(
      hashes: DataFrame,
      idCol: String,
      hashCol: String,
      maxBucket: Int
  ): DataFrame =
    graft.ext.Dedup.oversized(
      bandedFingerprints(hashes, idCol, hashCol), Seq("band", "bv"), maxBucket)

  /** LAYOUT TIME — persist the RECOVERY side of a capped Hamming layout:
    * the banded rows the cap dropped ([[graft.ext.Dedup.capDropped]], the
    * exact complement of the rows [[persistHammingIndex]] stored) under
    * `<table>_quar` ([[BucketedIndex.Layout.quarantine]]), as a fresh
    * sweep pass.
    *
    * This closes the capped posture's one gap: the cap trades recall for
    * probe cost, and before this the dropped side had observability
    * ([[oversizedHammingBuckets]]) but no recovery — duplicates living in
    * hot buckets were permanently unprobeable. With the quarantine
    * persisted, [[sweepHammingQuarantine]] recovers them in bounded
    * per-tick batches, and capped-probe ∪ completed-sweep equals the
    * uncapped probe exactly (the driver's mm_quarantine_sweep oracle).
    *
    * Scale shape: one banding pass over the corpus fingerprints (tiny
    * rows — id + 56-bit hash), one window count on the same (band, bv)
    * key the index layout shuffles on. The quarantine's row count is the
    * over-cap mass the cap excluded — large in members, SMALL in buckets
    * (each holds > cap members by definition), which is what makes the
    * bucket-at-a-time sweep bounded.
    */
  def quarantineHammingIndex(
      s: org.apache.spark.sql.SparkSession,
      table: String,
      hashes: DataFrame,
      idCol: String,
      hashCol: String,
      buckets: Int,
      maxBucket: Int,
      era: Long = 0L
  ): Unit =
    HammingLayout.quarantine(
      s, table,
      hammingRows(graft.ext.Dedup.capDropped(
        bandedFingerprints(hashes, idCol, hashCol), Seq("band", "bv"), maxBucket)),
      buckets, era)

  /** MAINTENANCE — one bounded TICK of the quarantine sweep
    * ([[BucketedIndex.sweepTick]]): exact `bit_count(xor)` verification
    * of the incoming batch against the quarantined members of the next
    * `maxBucketsPerTick` unswept buckets (sweep order: membership DESC —
    * the regrowth-heaviest boilerplate first — then band, bv), advancing
    * the persisted watermark. Emits the SAME pair schema as
    * [[probeHammingIndex]] (`new_id, corpus_id, hamming`), so
    * capped-probe ∪ sweep composes by plain union: once the watermark
    * closes, the union IS the uncapped probe (self-pairs excluded by id
    * both sides, tombstones anti-joined out exactly as the serving scan
    * does).
    *
    * Cost per tick is the point: a hot bucket's pair volume is its
    * membership × the incoming rows banding into it, and this touches at
    * most `maxBucketsPerTick` buckets — the quadratic boilerplate mass
    * the cap evicted from the serving path is repaid in scheduled,
    * bounded installments instead of never ([[Maintenance]]'s `sweep`
    * decision schedules it). Returns the `(swept_through, quar_buckets)`
    * the tick committed.
    */
  def sweepHammingQuarantine(
      s: org.apache.spark.sql.SparkSession,
      table: String,
      incoming: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int,
      maxBucketsPerTick: Int,
      sink: String
  ): (Long, Long) =
    BucketedIndex.sweepTick(s, table, maxBucketsPerTick, sink)((lo, hi) =>
      sweepHammingTickFrame(s, table, incoming, idCol, hashCol, maxHamming, lo, hi))

  /** One tick's pair frame over bucket ranks `(lo, hi]` — the pure
    * computation behind [[sweepHammingQuarantine]], exposed for plan
    * audits and spec-level composition.
    */
  private[graft] def sweepHammingTickFrame(
      s: org.apache.spark.sql.SparkSession,
      table: String,
      incoming: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int,
      lo: Long,
      hi: Long
  ): DataFrame = {
    val members = HammingLayout.sweepMembers(s, table, lo, hi)
    hammingVerified(bandedFingerprints(incoming, idCol, hashCol), members, maxHamming)
  }

  /** The image-modality names of the fingerprint-index lifecycle — thin
    * forwards over the modality-agnostic `*HammingIndex` core (the
    * [[dhashNearDupPairs]]/[[hammingNearDupPairs]] precedent): image
    * callers read "image index", audio callers use the generic names over
    * [[audioFingerprints]]' envelope hashes.
    *
    * The image-named persist/rebuild CAP BY DEFAULT (`maxBucket = 64`):
    * the uncapped whole-asset posture was scale-laddered (SCALING.md r19)
    * and measured QUADRATIC — 10× corpus → 101× verified pair volume at
    * sf0.01→0.1, the same boilerplate concentration the frame grain
    * showed (duplicate-heavy image corpora collapse to few hashes, and
    * probe cost is Σ bucket²). The cap bounds that to ~3× per 10× data
    * (measured), and [[oversizedHammingBuckets]] surfaces what it
    * quarantined. Pass `maxBucket = 0` to opt out where exhaustive pair
    * recall over boilerplate clusters is genuinely wanted.
    */
  def persistImageIndex(
      hashes: DataFrame, idCol: String, hashCol: String, table: String,
      buckets: Int, era: Long = 0L, maxBucket: Int = 64): Unit =
    persistHammingIndex(hashes, idCol, hashCol, table, buckets, era, maxBucket)

  /** See [[persistImageIndex]]. */
  def appendImageIndex(
      hashes: DataFrame, idCol: String, hashCol: String, table: String,
      buckets: Int, era: Long = BucketedIndex.nextEra()): Unit =
    appendHammingIndex(hashes, idCol, hashCol, table, buckets, era)

  /** See [[persistImageIndex]]. */
  def deleteFromImageIndex(
      s: org.apache.spark.sql.SparkSession, table: String, ids: DataFrame,
      idCol: Column, era: Long = BucketedIndex.nextEra()): Unit =
    deleteFromHammingIndex(s, table, ids, idCol, era)

  /** See [[persistImageIndex]] — compaction carries the SAME capped
    * default as the persist/rebuild pair, because compaction is the
    * cheap re-cap point: a default-capped image index whose compact did
    * NOT re-cap could never heal the `capped_ppm` regrowth signal, and a
    * maintenance policy watching it would re-decide `compact` forever (a
    * full-table rewrite per cycle — the same no-fixed-point failure mode
    * the era collapse closes for `append_eras`). Opting out of the cap
    * means opting out EVERYWHERE (persist, rebuild, compact) — mixed
    * postures across one index's lifecycle are the livelock.
    */
  def compactImageIndex(
      s: org.apache.spark.sql.SparkSession, table: String, buckets: Int,
      maxBucket: Int = 64): Unit =
    compactHammingIndex(s, table, buckets, maxBucket)

  /** See [[persistImageIndex]] — the rebuild carries the same capped
    * default (a rebuild that silently dropped the cap would republish
    * every quarantined boilerplate bucket).
    */
  def rebuildImageIndex(
      s: org.apache.spark.sql.SparkSession, table: String, hashes: DataFrame,
      idCol: String, hashCol: String, buckets: Int, maxBucket: Int = 64): Unit =
    rebuildHammingIndex(s, table, hashes, idCol, hashCol, buckets, maxBucket)

  /** See [[persistImageIndex]]. */
  def probeImageIndex(
      s: org.apache.spark.sql.SparkSession, table: String, incoming: DataFrame,
      idCol: String, hashCol: String, maxHamming: Int): DataFrame =
    probeHammingIndex(s, table, incoming, idCol, hashCol, maxHamming)

  /** Target-dimension arithmetic alone (no pixels) — kept as the cheap
    * metadata projection for non-image media whose decode the JDK lacks.
    * Plan shape: pure projection, map-side.
    */
  def resized(decoded: DataFrame, maxSide: Int): DataFrame = {
    val scale = least(
      lit(maxSide).cast("double") / greatest(col("width"), lit(1)),
      lit(maxSide).cast("double") / greatest(col("height"), lit(1)),
      lit(1.0)
    )
    decoded
      .withColumn("__scale", scale)
      .withColumn("out_width", floor(col("width") * col("__scale")).cast("int"))
      .withColumn("out_height", floor(col("height") * col("__scale")).cast("int"))
      .drop("__scale")
  }

  /** Deterministic REAL animated-GIF fixture: encodes actual multi-frame
    * GIF89a bytes executor-side with an explicit 256-level gray palette —
    * GIF's LZW coding is lossless over palette indices, so every pixel
    * round-trips exactly. Shapes derive from the id alone:
    * `w = 1 + id%13`, `h = 5 + id%11`, `n_frames = 1 + id%4`,
    * `pixel(f,x,y) = (id*31 + f*17 + 7x + 13y) % 256`. Height starts at 5
    * because the JDK GIF writer corrupts the final rows of 2–4-row-high
    * frames (verified empirically; h=1 and h≥5 are exact).
    */
  def synthGifAnimations(df: DataFrame, idCol: String): DataFrame =
    perId(df, idCol) { (codec, id) =>
      val frames = (0 until (1 + id % 4).toInt).map { f =>
        filled((1 + id % 13).toInt, (5 + id % 11).toInt, BufferedImage.TYPE_BYTE_INDEXED)(
          (x, y) => ((id * 31 + f * 17 + 7L * x + 13L * y) % 256).toInt)
      }
      ("image/gif", codec.encodeGif(frames))
    }

  /** One decoded animation frame: REAL per-frame dims and pixel sum. */
  final case class DecodedFrame(
      asset_id: Long,
      media_type: String,
      frame_idx: Int,
      n_frames: Int,
      width: Int,
      height: Int,
      pix_sum: Long
  )

  /** REAL multi-frame decode (JDK `javax.imageio` GIF reader):
    * `getNumImages(true)` counts the animation's frames, `read(i)` decodes
    * each sampled one (every `everyNth`, starting at frame 0), and the gray
    * level is read through the color model (`getRGB & 0xff`) so the sum is
    * palette-independent. Map-only: no shuffle — input splits already
    * balance the decode, and one reader instance serves the whole
    * partition.
    */
  def decodeFrames(assets: DataFrame, everyNth: Int): Dataset[DecodedFrame] = {
    require(everyNth > 0, "everyNth must be positive")
    perAsset(assets, mediaType = true) { (codec, id, mt, payload) =>
      codec.decodeGifFrames(payload, s"asset $id", everyNth).map { case (f, n, img) =>
        var sum = 0L
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) { sum += (img.getRGB(x, y) & 0xff); x += 1 }
          y += 1
        }
        DecodedFrame(id, mt, f, n, img.getWidth, img.getHeight, sum)
      }
    }
  }

  /** Deterministic REAL audio fixture: encodes actual RIFF/WAVE PCM-16
    * mono bytes executor-side via `javax.sound.sampled` (the audio codec
    * the JDK DOES ship). Everything derives from the id alone:
    * `n_samples = 100 + id%200`, `sample_rate = 8000|16000` by parity,
    * `sample(i) = (id*31 + 7i) % 2003 - 1001`. PCM is lossless, so an
    * arithmetic SQL oracle reproduces the decode exactly.
    */
  def synthWavAudio(df: DataFrame, idCol: String): DataFrame =
    perId(df, idCol) { (_, id) =>
      val n = (100 + (id % 200)).toInt
      val rate = if (id % 2 == 0) 8000 else 16000
      val pcm = new Array[Byte](n * 2)
      var i = 0
      while (i < n) {
        val s = ((id * 31 + 7L * i) % 2003 - 1001).toInt
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
        i += 1
      }
      ("audio/wav", AudioCodec.encodeWav(pcm, n, rate))
    }

  /** One decoded audio row: REAL format fields and exact PCM sample sum. */
  final case class DecodedAudio(
      asset_id: Long,
      media_type: String,
      sample_rate: Int,
      channels: Int,
      bits: Int,
      n_samples: Long,
      amp_sum: Long
  )

  /** REAL audio decode (JDK `javax.sound.sampled`, WAV/PCM): parses the
    * actual RIFF header for format fields and folds the signed little-endian
    * 16-bit samples into an amplitude sum. Map-only — no shuffle before the
    * decode; the WAVE SPI provider is resolved once per JVM
    * ([[AudioCodec]]), not per row. Mono only ([[AudioCodec.monoPcm16]]):
    * `n_samples` counts FRAMES while `amp_sum` folds every 16-bit word, so
    * for multi-channel audio the two would disagree in units.
    */
  def decodeAudio(assets: DataFrame): Dataset[DecodedAudio] =
    perAsset(assets, mediaType = true) { (_, id, mt, payload) =>
      val (fmt, s) = AudioCodec.monoPcm16(id, payload)
      var sum = 0L
      var i = 0
      while (i < s.length) { sum += s(i); i += 1 }
      Some(DecodedAudio(
        id, mt, fmt.getSampleRate.toInt, fmt.getChannels, fmt.getSampleSizeInBits, s.length.toLong, sum))
    }

  final case class AudioSilence(
      asset_id: Long,
      sample_rate: Int,
      n_samples: Long,
      n_silent: Long,
      silent_ppm: Long,
      max_silent_run: Long,
      n_clipped: Long
  )

  /** Audio SILENCE / CLIPPING audit over the real WAV decode — the
    * speech-data curation gate: assets that are mostly silence (dead mic,
    * padding) or contain long dropout runs get quarantined, and clipped
    * recordings (samples pinned at the rails) flag a broken capture
    * chain. Per asset, single pass over the signed 16-bit samples:
    * exact counts of |s| < `silenceThreshold` and |s| ≥ `clipThreshold`,
    * the integer ppm silent share (exact `div`, no float), and the
    * LONGEST consecutive silent run — the row-local scan a per-sample
    * explode would need a gaps-and-islands window for (which is exactly
    * how the DuckDB twin replays it).
    *
    * Same decode plumbing as [[decodeAudio]]: partition-batched real
    * `javax.sound.sampled` codec, map-only, mono PCM-16 LE contract.
    */
  def audioSilence(
      assets: DataFrame,
      silenceThreshold: Int,
      clipThreshold: Int
  ): Dataset[AudioSilence] =
    perAsset(assets, mediaType = false) { (_, id, _, payload) =>
      val (fmt, s) = AudioCodec.monoPcm16(id, payload)
      var silent = 0L
      var clipped = 0L
      var run = 0L
      var maxRun = 0L
      var i = 0
      while (i < s.length) {
        val a = math.abs(s(i).toInt)
        if (a < silenceThreshold) {
          silent += 1
          run += 1
          if (run > maxRun) maxRun = run
        } else run = 0
        if (a >= clipThreshold) clipped += 1
        i += 1
      }
      val n = s.length
      val ppm = if (n == 0) 0L else silent * 1000000L / n
      Some(AudioSilence(id, fmt.getSampleRate.toInt, n.toLong, silent, ppm, maxRun, clipped))
    }

  /** One analysis frame of an audio asset: the classic frame descriptors
    * in exact integer arithmetic (no float windowing), so the row is
    * bit-reproducible in any engine.
    */
  final case class AudioFrameFeatures(
      asset_id: Long,
      frame_idx: Int,
      n_samples: Long,
      energy: Long,
      zero_crossings: Long
  )

  /** Frame-level audio feature extraction over REAL WAV/PCM payloads
    * (speech/music preprocessing shape: short-time energy + zero-crossing
    * rate, the two standard integer-computable frame descriptors). Decodes
    * the RIFF/WAVE container with the real JDK codec ([[AudioCodec]]),
    * splits the signed 16-bit sample stream into fixed-length frames
    * (last frame may be short), and per frame computes
    * `energy = Σ s²` and the count of sign changes `s[i-1]·s[i] < 0`
    * (frame-local; zeros never cross). All integer math — `s² ≤ 2³⁰` and
    * the sum rides a long — so the DuckDB oracle reproduces it exactly.
    *
    * Scale shape: map-only like [[decodeAudio]] — no shuffle touches the
    * payload bytes; the fan-out to frames happens after decode, inside the
    * same partition loop, emitting only the 5-column feature rows.
    */
  def audioFrameFeatures(assets: DataFrame, frameLen: Int = 50): Dataset[AudioFrameFeatures] = {
    require(frameLen > 0, "frameLen must be positive")
    perAsset(assets, mediaType = false) { (_, id, _, payload) =>
      val s = AudioCodec.monoPcm16(id, payload)._2
      val n = s.length
      (0 until (n + frameLen - 1) / frameLen).map { f =>
        val lo = f * frameLen
        val hi = math.min(lo + frameLen, n)
        var energy = 0L
        var zc = 0L
        var i = lo
        while (i < hi) {
          energy += s(i).toLong * s(i)
          if (i > lo && s(i - 1) * s(i) < 0) zc += 1
          i += 1
        }
        AudioFrameFeatures(id, f, (hi - lo).toLong, energy, zc)
      }
    }
  }

  /** One audio fingerprint row: sample count + the 56-bit energy-envelope
    * hash — the audio twin of [[ImageHash]].
    */
  final case class AudioFingerprint(asset_id: Long, n_samples: Long, fingerprint: Long)

  /** REAL audio fingerprint over WAV/PCM payloads — the energy-envelope
    * analogue of [[dHashImages]] for audio near-dup dedup: decode with the
    * real JDK codec, split the sample stream into 57 EQUAL integer-div
    * frames (`frame f = samples [f·n div 57, (f+1)·n div 57)` — boundaries
    * a SQL oracle replays exactly, unlike fixed-length frames whose count
    * varies per asset), fold each frame's exact energy Σs², and set bit f
    * when `energy(f+1) > energy(f)` — 56 gradient bits, positive BIGINT in
    * any engine (same 56-bit rationale as the image hash). Robust to
    * uniform gain DIRECTION the way dHash is to brightness: the envelope
    * shape, not its scale, carries the bits.
    *
    * Map-only like every decode here; downstream near-dup pairing is
    * [[hammingNearDupPairs]] over the fingerprint column.
    */
  def audioFingerprints(assets: DataFrame): Dataset[AudioFingerprint] =
    perAsset(assets, mediaType = false) { (_, id, _, payload) =>
      val s = AudioCodec.monoPcm16(id, payload)._2
      val n = s.length
      require(n >= 57, s"asset $id: need >= 57 samples for 57 envelope frames, got $n")
      val energy = Array.tabulate(57) { f =>
        var e = 0L
        var i = f * n / 57
        while (i < (f + 1) * n / 57) { e += s(i).toLong * s(i); i += 1 }
        e
      }
      var hash = 0L
      var f = 0
      while (f < 56) {
        if (energy(f + 1) > energy(f)) hash |= 1L << f
        f += 1
      }
      Some(AudioFingerprint(id, n.toLong, hash))
    }

  /** Deterministic REAL video fixture: assembles actual RIFF/AVI
    * (MJPEG-in-AVI — `vids`/`MJPG` stream, `00dc` frame chunks) bytes
    * executor-side. Every frame is a genuine JDK-encoded CONSTANT-gray
    * JPEG at quality 1.0 (the exact-round-trip shape, see
    * [[synthJpegImages]]): `w = 1 + id%13`, `h = 1 + id%11`,
    * `n_frames = 1 + id%3`, `frame f value = (id*31 + f*17) % 256`. The
    * container layout (hdrl/avih/strl/strh/strf, movi, even-padded
    * chunks) follows the AVI RIFF spec, so any standard demuxer reads it.
    */
  def synthMjpegVideos(df: DataFrame, idCol: String): DataFrame =
    perId(df, idCol) { (codec, id) =>
      val (w, h) = ((1 + id % 13).toInt, (1 + id % 11).toInt)
      val frames = (0 until (1 + id % 3).toInt).map { f =>
        val v = ((id * 31 + f * 17) % 256).toInt
        codec.encodeJpeg(filled(w, h, BufferedImage.TYPE_BYTE_GRAY)((_, _) => v))
      }
      ("video/x-msvideo", Avi.build(frames, w, h, fps = 10))
    }

  /** REAL video demux + frame decode: walks the RIFF chunk tree of an AVI
    * payload (no fixed offsets — chunk headers + even-padding rule, `movi`
    * list located wherever it sits), cross-checks the `avih` declared
    * frame count against the `00dc`/`00db` chunks found, then decodes
    * every `everyNth`-th frame with the real JPEG reader. Map-only; one
    * codec per partition.
    */
  def demuxVideoFrames(assets: DataFrame, everyNth: Int): Dataset[DecodedFrame] = {
    require(everyNth > 0, "everyNth must be positive")
    perAsset(assets, mediaType = true) { (codec, id, mt, payload) =>
      val (declared, ranges) = Avi.frameRanges(payload, s"asset $id")
      require(
        declared == ranges.length,
        s"asset $id: avih declares $declared frames, movi holds ${ranges.length}")
      ranges.zipWithIndex
        .filter { case (_, f) => f % everyNth == 0 }
        .map { case ((off, len), f) =>
          val img = codec.decode(java.util.Arrays.copyOfRange(payload, off, off + len), s"asset $id frame $f")
          DecodedFrame(id, mt, f, ranges.length, img.getWidth, img.getHeight, band0Sum(img))
        }
    }
  }

  /** Shot-boundary (scene-cut) detection over REAL demuxed + decoded
    * video frames — the segmentation step a video training pipeline runs
    * before frame sampling, so samples don't straddle a cut. Every
    * consecutive frame pair of each asset scores the absolute luma-sum
    * delta; a cut fires when the PER-PIXEL mean delta exceeds
    * `thresholdPerPixel`, compared in cross-multiplied integers
    * (`|Δsum| > thr·w·h`) so no division exists to diverge between
    * engines.
    *
    * Scale shape: the demux/decode is map-only (one codec per partition);
    * the pairing is one lag window per asset key, bounded by that asset's
    * frame count — never a corpus-wide sort. First frames (no
    * predecessor) emit no row: a cut is a property of a transition.
    */
  def sceneCuts(assets: DataFrame, thresholdPerPixel: Int): DataFrame = {
    require(thresholdPerPixel >= 0, "threshold must be non-negative")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("asset_id")).orderBy(col("frame_idx"))
    demuxVideoFrames(assets, everyNth = 1)
      .toDF()
      .withColumn("__prev", lag(col("pix_sum"), 1).over(w))
      .filter(col("__prev").isNotNull)
      .select(
        col("asset_id"),
        col("frame_idx"),
        abs(col("pix_sum") - col("__prev")).as("delta_sum"),
        (abs(col("pix_sum") - col("__prev")) >
          lit(thresholdPerPixel.toLong) * col("width") * col("height")).as("is_cut"))
  }

  /** WAVE codec with the SPI providers resolved ONCE per JVM: the
    * `AudioSystem` statics re-walk the provider registry on every call —
    * at one call per row that scan dominates tiny-clip workloads (measured
    * ~10× on the audio benchmark; the same pathology [[ImageCodec]]
    * documents for `ImageIO`). The providers come from the public
    * `javax.sound.sampled.spi` ServiceLoader surface; WAV readers/writers
    * are stateless, so JVM-wide sharing is thread-safe. Falls back to the
    * statics if no WAVE provider is registered.
    */
  private[ext] object AudioCodec {
    import javax.sound.sampled._
    import scala.jdk.CollectionConverters._

    private lazy val wavReader: Option[spi.AudioFileReader] =
      java.util.ServiceLoader.load(classOf[spi.AudioFileReader]).asScala
        .find(r =>
          try {
            r.getAudioFileFormat(new java.io.ByteArrayInputStream(probeWav)) != null
          } catch { case _: Exception => false })
    private lazy val wavWriter: Option[spi.AudioFileWriter] =
      java.util.ServiceLoader.load(classOf[spi.AudioFileWriter]).asScala
        .find(_.isFileTypeSupported(AudioFileFormat.Type.WAVE))

    // a minimal valid WAV used once to identify the WAVE-capable reader
    private lazy val probeWav: Array[Byte] = {
      val fmt = new AudioFormat(8000f, 16, 1, true, false)
      val ais = new AudioInputStream(new java.io.ByteArrayInputStream(new Array[Byte](2)), fmt, 1L)
      val baos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, baos)
      baos.toByteArray
    }

    /** The mono PCM-16 LE contract every audio kernel holds: a WAV payload
      * (> 44 bytes) of 16-bit little-endian mono samples, read whole and
      * returned beside its format. Anything else fails naming the asset.
      */
    def monoPcm16(id: Long, payload: Array[Byte]): (AudioFormat, Array[Short]) = {
      require(payload != null && payload.length > 44, s"asset $id: not a WAV payload")
      val in =
        try openWav(payload)
        catch {
          case e: UnsupportedAudioFileException =>
            throw new IllegalArgumentException(s"asset $id: not a WAV payload", e)
        }
      try {
        val fmt = in.getFormat
        require(
          fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian && fmt.getChannels == 1,
          s"asset $id: expected mono PCM-16 LE, got $fmt")
        val data = in.readAllBytes()
        val samples = new Array[Short](data.length / 2)
        java.nio.ByteBuffer.wrap(data).order(java.nio.ByteOrder.LITTLE_ENDIAN).asShortBuffer.get(samples)
        (fmt, samples)
      } finally in.close()
    }

    def openWav(payload: Array[Byte]): AudioInputStream = {
      val in = new java.io.ByteArrayInputStream(payload)
      wavReader match {
        case Some(r) => r.getAudioInputStream(in)
        case None    => AudioSystem.getAudioInputStream(in)
      }
    }

    def encodeWav(pcm: Array[Byte], nSamples: Int, rate: Int): Array[Byte] = {
      val fmt = new AudioFormat(rate.toFloat, 16, 1, true, false)
      val ais = new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
      val baos = new java.io.ByteArrayOutputStream()
      wavWriter match {
        case Some(w) => w.write(ais, AudioFileFormat.Type.WAVE, baos)
        case None    => AudioSystem.write(ais, AudioFileFormat.Type.WAVE, baos)
      }
      baos.toByteArray
    }
  }

  /** Minimal spec-conformant RIFF/AVI assembly and demux for MJPEG video.
    * Writer emits the standard header tree (`avih`, one `vids`/`MJPG`
    * stream with `strh`+`strf` BITMAPINFOHEADER) and even-padded `00dc`
    * frame chunks; the demuxer is a general RIFF walker that finds the
    * `movi` list and the `avih` header wherever the chunk tree puts them.
    */
  private object Avi {
    private def le16(b: java.io.ByteArrayOutputStream, v: Int): Unit = {
      b.write(v & 0xff); b.write((v >> 8) & 0xff)
    }
    private def le32(b: java.io.ByteArrayOutputStream, v: Int): Unit = {
      b.write(v & 0xff); b.write((v >> 8) & 0xff)
      b.write((v >> 16) & 0xff); b.write((v >> 24) & 0xff)
    }
    private def fourcc(b: java.io.ByteArrayOutputStream, s: String): Unit =
      b.write(s.getBytes("US-ASCII"))
    private def chunk(id: String, payload: Array[Byte]): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      fourcc(b, id); le32(b, payload.length); b.write(payload)
      if (payload.length % 2 == 1) b.write(0) // even-padding rule
      b.toByteArray
    }
    private def list(typ: String, bodies: Seq[Array[Byte]]): Array[Byte] = {
      val inner = bodies.foldLeft(Array.emptyByteArray)(_ ++ _)
      val b = new java.io.ByteArrayOutputStream()
      fourcc(b, "LIST"); le32(b, 4 + inner.length); fourcc(b, typ); b.write(inner)
      b.toByteArray
    }

    def build(frames: Seq[Array[Byte]], w: Int, h: Int, fps: Int): Array[Byte] = {
      val maxFrame = if (frames.isEmpty) 0 else frames.map(_.length).max
      val avih = {
        val b = new java.io.ByteArrayOutputStream()
        le32(b, 1000000 / fps) // us per frame
        le32(b, maxFrame * fps) // max bytes/sec
        le32(b, 0) // padding granularity
        le32(b, 0) // flags: no AVIF_HASINDEX — the file carries no idx1 chunk
        le32(b, frames.length) // total frames
        le32(b, 0) // initial frames
        le32(b, 1) // streams
        le32(b, maxFrame) // suggested buffer size
        le32(b, w); le32(b, h)
        (0 until 4).foreach(_ => le32(b, 0)) // reserved
        b.toByteArray
      }
      val strh = {
        val b = new java.io.ByteArrayOutputStream()
        fourcc(b, "vids"); fourcc(b, "MJPG")
        le32(b, 0) // flags
        le16(b, 0); le16(b, 0) // priority, language
        le32(b, 0) // initial frames
        le32(b, 1); le32(b, fps) // scale, rate -> fps
        le32(b, 0) // start
        le32(b, frames.length) // length in frames
        le32(b, maxFrame) // suggested buffer size
        le32(b, -1) // quality (default)
        le32(b, 0) // sample size (0: varying)
        le16(b, 0); le16(b, 0); le16(b, w); le16(b, h) // rcFrame
        b.toByteArray
      }
      val strf = { // BITMAPINFOHEADER
        val b = new java.io.ByteArrayOutputStream()
        le32(b, 40) // biSize
        le32(b, w); le32(b, h)
        le16(b, 1); le16(b, 24) // planes, bit count
        fourcc(b, "MJPG") // biCompression
        le32(b, w * h * 3) // biSizeImage
        le32(b, 0); le32(b, 0); le32(b, 0); le32(b, 0)
        b.toByteArray
      }
      val hdrl = list("hdrl", Seq(chunk("avih", avih), list("strl", Seq(chunk("strh", strh), chunk("strf", strf)))))
      val movi = list("movi", frames.map(f => chunk("00dc", f)))
      val body = hdrl ++ movi
      val out = new java.io.ByteArrayOutputStream()
      fourcc(out, "RIFF"); le32(out, 4 + body.length); fourcc(out, "AVI ")
      out.write(body)
      out.toByteArray
    }

    private def rdLe32(p: Array[Byte], off: Int): Int =
      (p(off) & 0xff) | ((p(off + 1) & 0xff) << 8) | ((p(off + 2) & 0xff) << 16) | ((p(off + 3) & 0xff) << 24)
    private def rdCc(p: Array[Byte], off: Int): String =
      new String(p, off, 4, "US-ASCII")

    /** Walk the RIFF tree: returns (avih-declared frame count, the
      * (offset, length) of every video frame chunk in `movi` order).
      */
    def frameRanges(payload: Array[Byte], ctx: String): (Int, Seq[(Int, Int)]) = {
      require(payload != null && payload.length >= 12, s"$ctx: truncated payload")
      require(
        rdCc(payload, 0) == "RIFF" && rdCc(payload, 8) == "AVI ",
        s"$ctx: payload is not a RIFF/AVI container")
      var declared = -1
      val ranges = Seq.newBuilder[(Int, Int)]
      def walk(start: Int, end: Int, inMovi: Boolean): Unit = {
        var pos = start
        while (pos + 8 <= end) {
          val id = rdCc(payload, pos)
          val size = rdLe32(payload, pos + 4)
          val dataOff = pos + 8
          // corrupt/truncated containers must fail loudly here, not leak
          // out-of-range frame offsets (Arrays.copyOfRange would silently
          // zero-pad them into garbage decoder input) or stall the walk on
          // a negative size
          // long arithmetic: a crafted size near Int.MaxValue must not
          // wrap negative and slip past the bounds check
          require(
            size >= 0 && dataOff.toLong + size <= payload.length,
            s"$ctx: corrupt chunk '$id' at offset $pos (size $size, payload ${payload.length})")
          if (id == "LIST") {
            // the list-type fourcc and the avih fields live INSIDE the
            // chunk: their reads must be covered by the declared size too,
            // or a truncated header crashes with a bare index exception
            // instead of this contextual failure
            require(size >= 4, s"$ctx: LIST chunk at offset $pos too small for a type fourcc")
            val typ = rdCc(payload, dataOff)
            walk(dataOff + 4, dataOff + size, inMovi || typ == "movi")
          } else if (id == "avih") {
            require(size >= 20, s"$ctx: avih chunk at offset $pos too small (size $size)")
            declared = rdLe32(payload, dataOff + 16) // dwTotalFrames
          } else if (inMovi && (id.endsWith("dc") || id.endsWith("db"))) {
            ranges += ((dataOff, size))
          }
          pos = dataOff + size + (size % 2) // even-padding rule
        }
      }
      // the top-level walk is bounded by the RIFF header's declared size,
      // not payload.length: bytes appended after a valid container must
      // surface as the 'trailing data' diagnosis below, not be parsed as
      // chunks and fail as a misleading 'corrupt chunk'
      val riffEnd = {
        val riffSize = rdLe32(payload, 4)
        require(
          riffSize >= 4 && 8L + riffSize <= payload.length,
          s"$ctx: RIFF header declares $riffSize bytes but payload holds ${payload.length}")
        8 + riffSize
      }
      require(
        payload.length - riffEnd <= 1, // even-padding byte at most
        s"$ctx: ${payload.length - riffEnd} trailing bytes after the declared RIFF container")
      walk(12, riffEnd, inMovi = false)
      require(declared >= 0, s"$ctx: no avih header found")
      (declared, ranges.result())
    }
  }

  /** ======================== STUB ========================
    * Frame sampling: one output row per sampled frame with its byte-range
    * into the payload — the explode/offset plumbing a video pipeline needs
    * (posexplode over the frame index sequence; each row carries a slice
    * reference, not a copy). The decode of each frame slice is the stubbed
    * part.
    */
  def sampleFrames(assets: DataFrame, frameBytes: Int, everyNth: Int): DataFrame = {
    val nFrames = floor(length(col("payload")) / frameBytes).cast("int")
    assets
      .withColumn("__n", coalesce(nFrames, lit(0)))
      .select(
        col("asset_id"),
        col("media_type"),
        posexplode(
          when(
            col("__n") > 0,
            filter(sequence(lit(0), col("__n") - 1), i => i % everyNth === 0)
          ).otherwise(array().cast("array<int>"))
        ).as(Seq("sample_idx", "frame_idx"))
      )
      .withColumn("byte_start", col("frame_idx") * frameBytes)
      .withColumn("byte_len", lit(frameBytes))
  }

  /** Per-partition image codec: PNG/BMP reader and writer instances are
    * resolved ONCE and reused across the partition's rows. The static
    * `ImageIO.read`/`write` helpers re-scan the plugin registry and route
    * through a (default disk-backed) stream cache on every call — at one
    * call per image that overhead dominates tiny-image workloads
    * (measured ~4× on the resize benchmark). Format is picked by magic
    * bytes; unknown formats fall back to the sniffing static path.
    */
  private final class ImageCodec extends Serializable {
    import javax.imageio.ImageIO
    import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}
    private lazy val pngReader = ImageIO.getImageReadersByFormatName("png").next()
    private lazy val bmpReader = ImageIO.getImageReadersByFormatName("bmp").next()
    private lazy val jpegReader = ImageIO.getImageReadersByFormatName("jpeg").next()
    private lazy val pngWriter = ImageIO.getImageWritersByFormatName("png").next()
    private lazy val bmpWriter = ImageIO.getImageWritersByFormatName("bmp").next()
    private lazy val jpegWriter = ImageIO.getImageWritersByFormatName("jpeg").next()
    private lazy val gifReader = ImageIO.getImageReadersByFormatName("gif").next()
    private lazy val gifWriter = ImageIO.getImageWritersByFormatName("gif").next()

    def decode(payload: Array[Byte], ctx: String): BufferedImage = {
      require(payload != null && payload.length >= 2, s"$ctx: empty payload")
      val reader =
        if ((payload(0) & 0xff) == 0x89 && payload(1) == 'P'.toByte) pngReader
        else if (payload(0) == 'B'.toByte && payload(1) == 'M'.toByte) bmpReader
        else if ((payload(0) & 0xff) == 0xff && (payload(1) & 0xff) == 0xd8) jpegReader
        else null
      if (reader == null) {
        val img = ImageIO.read(new java.io.ByteArrayInputStream(payload))
        require(img != null, s"$ctx: payload is not a decodable image")
        img
      } else {
        val iis = new MemoryCacheImageInputStream(new java.io.ByteArrayInputStream(payload))
        try {
          reader.setInput(iis)
          reader.read(0)
        } finally {
          reader.setInput(null)
          iis.close()
        }
      }
    }

    def encode(img: BufferedImage, bmp: Boolean): Array[Byte] = {
      val w = if (bmp) bmpWriter else pngWriter
      val baos = new java.io.ByteArrayOutputStream()
      val ios = new MemoryCacheImageOutputStream(baos)
      try {
        w.setOutput(ios)
        w.write(img)
        ios.flush()
      } finally {
        w.setOutput(null)
        ios.close()
      }
      baos.toByteArray
    }

    /** Baseline JFIF encode at explicit quality 1.0 — the setting under
      * which constant-color images round-trip exactly (DC-only blocks
      * quantize losslessly; see [[Multimodal.synthJpegImages]]).
      */
    def encodeJpeg(img: BufferedImage): Array[Byte] = {
      val param = jpegWriter.getDefaultWriteParam
      param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      param.setCompressionQuality(1.0f)
      val baos = new java.io.ByteArrayOutputStream()
      val ios = new MemoryCacheImageOutputStream(baos)
      try {
        jpegWriter.setOutput(ios)
        jpegWriter.write(null, new javax.imageio.IIOImage(img, null, null), param)
        ios.flush()
      } finally {
        jpegWriter.setOutput(null)
        ios.close()
      }
      baos.toByteArray
    }

    /** Multi-frame GIF89a encode via the sequence-write API
      * (`prepareWriteSequence`/`writeToSequence`/`endWriteSequence`).
      * Frames should be `TYPE_BYTE_INDEXED` so indices are stored verbatim
      * (non-indexed input is dithered through a web palette — lossy).
      */
    def encodeGif(frames: Seq[BufferedImage]): Array[Byte] = {
      require(frames.nonEmpty, "encodeGif: no frames")
      val baos = new java.io.ByteArrayOutputStream()
      val ios = new MemoryCacheImageOutputStream(baos)
      try {
        gifWriter.setOutput(ios)
        gifWriter.prepareWriteSequence(null)
        frames.foreach { img =>
          gifWriter.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        }
        gifWriter.endWriteSequence()
        ios.flush()
      } finally {
        gifWriter.setOutput(null)
        ios.close()
      }
      baos.toByteArray
    }

    /** Decode the sampled frames of an animated GIF: `getNumImages(true)`
      * for the frame count, `read(i)` per kept frame (every `everyNth`,
      * from 0). Returns (frame_idx, n_frames, image) triples, materialized
      * before the reader is released.
      */
    def decodeGifFrames(
        payload: Array[Byte],
        ctx: String,
        everyNth: Int
    ): Seq[(Int, Int, BufferedImage)] = {
      require(payload != null && payload.length >= 6, s"$ctx: empty payload")
      require(
        payload(0) == 'G'.toByte && payload(1) == 'I'.toByte && payload(2) == 'F'.toByte,
        s"$ctx: payload is not a GIF")
      val iis = new MemoryCacheImageInputStream(new java.io.ByteArrayInputStream(payload))
      try {
        gifReader.setInput(iis)
        val n = gifReader.getNumImages(true)
        (0 until n by everyNth).map(f => (f, n, gifReader.read(f)))
      } finally {
        gifReader.setInput(null)
        iis.close()
      }
    }
  }

  private object ImageCodec {
    /** Identity 256-level gray palette: index i ↦ rgb(i,i,i), so GIF's
      * lossless index coding round-trips gray values exactly. One instance
      * per JVM, shared read-only by every indexed frame.
      */
    lazy val grayPalette: java.awt.image.IndexColorModel = {
      val g = Array.tabulate[Byte](256)(i => i.toByte)
      new java.awt.image.IndexColorModel(8, 256, g, g, g)
    }
  }

  /** A `w`×`h` image of `imgType` with every band of pixel (x, y) set to
    * `pixel(x, y)` — the one raster fill behind every synthesized image,
    * GIF frame and MJPEG frame. Indexed images take the identity
    * [[ImageCodec.grayPalette]], so a palette index IS its gray value.
    */
  private def filled(w: Int, h: Int, imgType: Int)(pixel: (Int, Int) => Int): BufferedImage = {
    val img =
      if (imgType == BufferedImage.TYPE_BYTE_INDEXED) new BufferedImage(w, h, imgType, ImageCodec.grayPalette)
      else new BufferedImage(w, h, imgType)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = pixel(x, y)
        var b = 0
        while (b < raster.getNumBands) { raster.setSample(x, y, b, v); b += 1 }
        x += 1
      }
      y += 1
    }
    img
  }

  /** Σ of the band-0 raster samples of the whole image. Raster samples (not
    * `getRGB`) on purpose: `getRGB` routes gray images through a
    * linear-gray→sRGB color transform and would corrupt the raw values.
    */
  private def band0Sum(img: BufferedImage): Long = {
    val raster = img.getRaster
    var sum = 0L
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) { sum += raster.getSample(x, y, 0); x += 1 }
      y += 1
    }
    sum
  }

  /** `x` rounded half-up to 6 decimals, the scale the DuckDB twins round to. */
  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  /** STUB fallback for NON-IMAGE payloads (the JDK ships no audio/video
    * codec): deterministic dims from a byte checksum.
    */
  private def byteDims(payload: Array[Byte]): (Int, Int) = {
    if (payload == null || payload.isEmpty) return (0, 0)
    var a = 0; var b = 0
    var i = 0
    while (i < payload.length) { a = (a + (payload(i) & 0xff)) % 16; b = (b ^ (payload(i) & 0xff)) % 16; i += 1 }
    ((a + 1) * 64, ((b & 0xf) + 1) * 64)
  }
}
