package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: treat media payloads as opaque `binary`
  * columns with typed metadata, and run batch decode/feature-extract
  * over them with `mapPartitions`.
  *
  * Two codecs share one plumbing path: [[ImageCodec]] is a REAL
  * PNG/JPEG decode via the JDK's `javax.imageio` (exercised by
  * MultimodalSpec over generated PNG fixtures), and [[FakeCodec]] is
  * the deterministic stand-in the driver gate runs — the DuckDB
  * oracle can't decode PNG, so the gated queries need byte-math both
  * engines can compute. Everything around the codec — binary schema,
  * batched per-partition execution, fixed-shape feature output,
  * partition preservation — is identical between the two, which is
  * the point: swapping in a production codec (JNI native lib, or
  * `mapInPandas`+PIL on PySpark) changes one function value.
  *
  * Scale: decode is per-row CPU-bound work with no shuffle;
  * `mapPartitions` amortizes codec init once per partition (the same
  * reason `mapInPandas` batches in arrow chunks). Payload bytes never
  * shuffle — features (few floats) do.
  */
object Multimodal {

  /** Stand-in decode: N-bucket byte histogram + simple moments.
    * Deterministic in the payload bytes. A real codec slots in here
    * with the identical signature. */
  object FakeCodec {
    val FeatureDim = 4
    def decodeFeatures(payload: Array[Byte]): Array[Double] = {
      // ??? — real codec goes here; deterministic fake for plumbing tests
      var s0 = 0L; var s1 = 0L; var mn = 255L; var mx = 0L
      var i = 0
      while (i < payload.length) {
        val b = payload(i) & 0xffL
        s0 += b; s1 += b * b; mn = math.min(mn, b); mx = math.max(mx, b)
        i += 1
      }
      val n = math.max(payload.length, 1)
      Array(s0.toDouble / n, s1.toDouble / n, mn.toDouble, mx.toDouble)
    }
  }

  /** Real image decode via `javax.imageio` — PNG/JPEG codecs ship
    * with the JDK, no external library. Identical signature to
    * [[FakeCodec.decodeFeatures]], so the same mapPartitions plumbing
    * runs either codec; MultimodalSpec drives THIS path over real PNG
    * fixture payloads, while the driver gate keeps the deterministic
    * stand-in (the DuckDB oracle cannot decode PNG).
    *
    * Features: width, height, per-channel means, Rec.601 luma mean —
    * pixel statistics a decode must get right (the encoded byte
    * stream's statistics are unrelated to the pixel statistics, so a
    * byte-histogram fake cannot fake these). */
  object ImageCodec {
    val FeatureDim = 6
    def decodeFeatures(payload: Array[Byte]): Array[Double] = {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      require(img != null, "payload is not a decodable image")
      val w = img.getWidth; val h = img.getHeight
      var sr = 0L; var sg = 0L; var sb = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
          x += 1
        }
        y += 1
      }
      val n = (w.toLong * h).toDouble
      Array(w.toDouble, h.toDouble, sr / n, sg / n, sb / n,
        (0.299 * sr + 0.587 * sg + 0.114 * sb) / n)
    }
  }

  case class MediaRow(doc_id: Long, payload: Array[Byte],
      media_type: String, byte_len: Long)
  case class MediaFeatures(doc_id: Long, media_type: String,
      byte_len: Long, features: Array[Double])

  /** Build a media table from `documents`: payload = UTF-8 bytes of
    * the text standing in for an encoded image. Schema is the real
    * thing: binary payload + typed metadata columns.
    *
    * byte_len is `octet_length` (UTF-8 bytes, = payload size), matching
    * FakeCodec's per-byte loop. NOTE: the m01 oracle walks code points
    * (`ascii(text[j])`), which coincides with bytes only because the
    * driver corpus is pure ASCII — a documented assumption shared with
    * the oracle, not an accident. */
  def mediaTable(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    graft.operators.TextHash.fanOut(graft.engine.Tables.t(s, dir, "documents"))
      .select(col("doc_id"),
        col("text").cast("binary").as("payload"),
        lit("text/fake-image").as("media_type"),
        octet_length(col("text")).cast("long").as("byte_len"))
      .as[MediaRow]
  }

  /** Batched decode: one codec init per partition, fixed-shape
    * feature vectors out. The codec is pluggable (default: the gated
    * deterministic stand-in; pass [[ImageCodec.decodeFeatures]] for a
    * real JDK image decode over the identical plumbing). */
  def extractFeatures(media: Dataset[MediaRow],
      codec: Array[Byte] => Array[Double] = FakeCodec.decodeFeatures)
      : Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // codec/session init would happen here, once per partition
      rows.map { r =>
        MediaFeatures(r.doc_id, r.media_type, r.byte_len,
          codec(r.payload))
      }
    }
  }

  case class MediaResized(doc_id: Long, n_frames: Long, fs_sum: Long,
      q_sums: Array[Long], q_lens: Array[Long])

  /** Resize + frame-sample stand-ins over the payload bytes — the two
    * remaining media primitives of a training-data pipeline. Both are
    * pure integer byte-math so the plumbing is oracle-checkable:
    *  - frame-sample: every 50th byte (a video keyframe stride);
    *  - resize: 4 quarter-of-payload block sums (a 2×2 thumbnail's
    *    pooled regions). A real implementation swaps the byte loop for
    *    a codec call; schema, batching, and shuffle profile stay. */
  def resizeFrames(media: Dataset[MediaRow]): Dataset[MediaResized] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val p = r.payload
        val n = p.length
        var fsSum = 0L; var nFrames = 0L
        var i = 0
        while (i < n) { fsSum += p(i) & 0xff; nFrames += 1; i += 50 }
        val q = n / 4
        val bounds = Array(0, q, 2 * q, 3 * q, n)
        val qSums = new Array[Long](4); val qLens = new Array[Long](4)
        var k = 0
        while (k < 4) {
          var j = bounds(k); var s = 0L
          while (j < bounds(k + 1)) { s += p(j) & 0xff; j += 1 }
          qSums(k) = s; qLens(k) = bounds(k + 1) - bounds(k)
          k += 1
        }
        MediaResized(r.doc_id, nFrames, fsSum, qSums, qLens)
      }
    }
  }

  /** Driver-facing query for [[resizeFrames]]: quarter means as
    * floor(mean·1e6) longs (deterministic: exact integer sums, one
    * correctly-rounded double division per value). */
  def resized(s: SparkSession, dir: String): DataFrame = {
    def qm(i: Int) =
      floor(expr(s"q_sums[$i]") / greatest(expr(s"q_lens[$i]"), lit(1L))
        * 1000000).cast("long").as(s"q${i + 1}_e6")
    resizeFrames(mediaTable(s, dir))
      .select(col("doc_id"), col("n_frames"), col("fs_sum"),
        qm(0), qm(1), qm(2), qm(3))
      .orderBy("doc_id")
  }

  /** Driver-facing query: features flattened to columns (longs only —
    * sums are exact integers scaled by 1e0/1e6 deterministically). */
  def features(s: SparkSession, dir: String): DataFrame = {
    extractFeatures(mediaTable(s, dir))
      .select(col("doc_id"), col("byte_len"),
        floor(expr("features[0]") * 1000000).cast("long").as("mean_e6"),
        floor(expr("features[1]") * 1000000).cast("long").as("mom2_e6"),
        expr("features[2]").cast("long").as("min_byte"),
        expr("features[3]").cast("long").as("max_byte"))
      .orderBy("doc_id")
  }

  /** 64-bit average-hash over a payload: bit b is set when block b's
    * byte mean exceeds the whole payload's mean, blocks being the 64
    * equal floor-boundary slices — the aHash member of the
    * perceptual-hash family (aHash/dHash/pHash), computed on the
    * encoded bytes here; a production image pipeline feeds it the
    * decoded 8×8 grayscale thumbnail instead (same 64 comparisons).
    * The mean comparison is cleared of denominators
    * (blockSum·n > total·blockLen), so the hash is pure integer math
    * the oracle replicates from code points (ASCII corpus — the
    * documented m01 assumption). */
  def aHash64(payload: Array[Byte]): Long = {
    val n = payload.length
    if (n == 0) return 0L
    var total = 0L
    var i = 0
    while (i < n) { total += payload(i) & 0xffL; i += 1 }
    var hash = 0L
    var b = 0
    while (b < 64) {
      val lo = (b.toLong * n / 64).toInt
      val hi = ((b + 1).toLong * n / 64).toInt
      var bs = 0L
      var j = lo
      while (j < hi) { bs += payload(j) & 0xffL; j += 1 }
      if (bs * n > total * (hi - lo)) hash |= (1L << b)
      b += 1
    }
    hash
  }

  /** m03 (gated): perceptual-signature extraction — every payload
    * reduced to its 8-byte [[aHash64]] inside the mapPartitions codec
    * boundary, the "compress the corpus to signatures" index-build
    * job of an image-dedup pipeline (s05's PQ encode for the binary
    * modality). The pairing stage over these signatures is
    * [[ahashPairs]]; on THIS corpus it is honestly empty — the
    * payloads are text stand-ins whose token-level near-dups perturb
    * every byte position, which is exactly the transformation class a
    * perceptual hash does NOT absorb (measured: true d02 pairs sit at
    * hamming 14–43, inside the background) — so the gate checks the
    * signatures, and MultimodalSpec proves the pairing semantics on
    * payloads with genuine perceptual structure (uniform brightness
    * shift ⇒ hamming 0). */
  def ahashes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir)
      .filter(octet_length(col("payload")) > 0)
      .as[MediaRow]
      .mapPartitions(_.map(r => (r.doc_id, aHash64(r.payload))))
      .toDF("doc_id", "ahash")
      .orderBy("doc_id")
  }

  /** Perceptual near-duplicate pairs over precomputed [[aHash64]]
    * signatures: 8×8-bit LSH bands for candidates (any shared band ⇒
    * candidate, pigeonhole-complete for hamming ≤ 7), exact
    * hamming ≤ 6 to confirm — d04's shape applied to the binary
    * modality, including its dense-band skip cap. Signatures-in
    * rather than dir-in so re-encoded/edited fixture corpora (and
    * tests) drive the same plan. */
  def ahashPairsOf(hashed: DataFrame): DataFrame = {
    val bands0 = hashed.select(col("doc_id"), col("ahash"),
        posexplode(expr(
          "transform(sequence(0, 7), b -> shiftright(ahash, b * 8) & 255)")))
      .toDF("doc_id", "ahash", "band_idx", "band_key")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band_idx"), col("band_key"))
    // persisted: the self-join would re-run hashing + the cap window
    val bands = bands0
      .withColumn("bucket_n", count(lit(1)).over(w))
      .filter(col("bucket_n") <= Dedup.SimhashBucketCap)
      .drop("bucket_n")
      .transform(graft.engine.Caches.persist)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"),
        expr("bit_count(a.ahash ^ b.ahash)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 6)
      .orderBy("ida", "idb")
  }

  /** [[ahashPairsOf]] over the corpus signatures. */
  def ahashPairs(s: SparkSession, dir: String): DataFrame =
    ahashPairsOf(ahashes(s, dir))

  /** m05 frame width in samples and the per-sample mean-square
    * silence threshold (a frame is silent when energy < n·threshold —
    * the comparison stays integral, no division). Interpolated into
    * the oracle. */
  val AudioFrameSamples = 256
  val AudioSilenceMeanSq = 100L

  /** m05 sample decode: payload byte → centered PCM8 sample. 96 sits
    * between the ASCII space/punctuation band (32–64, negative) and
    * the lowercase-letter band (97–122, positive), so text payloads
    * produce sign-alternating "waveforms" with non-trivial
    * zero-crossing structure. */
  @inline private def pcm8(b: Byte): Long = (b & 0xffL) - 96L

  case class AudioFrameCard(doc_id: Long, n_samples: Long,
      n_frames: Long, total_energy: Long, peak_energy: Long,
      n_silent: Long, zcr: Long)

  /** m05: audio frame analysis — the third media modality's decode
    * stand-in (m01/m03 = image, m02 = video keyframes, THIS = audio).
    * The payload decodes to centered PCM8 samples ([[pcm8]]) which are
    * cut into [[AudioFrameSamples]]-sample frames; per document the
    * card reports frame count, total and peak frame energy (Σx²),
    * silent-frame count (energy < n·[[AudioSilenceMeanSq]] — the VAD
    * trim decision a speech pipeline makes before transcription), and
    * the zero-crossing count (the classic cheap voiced/unvoiced
    * signal). All integers, so the byte-walking oracle gates the
    * plumbing exactly; a real audio codec (PCM16 WAV parse, or a JNI
    * resampler) slots into the same mapPartitions boundary with this
    * loop's signature.
    *
    * Scale shape: identical to m01/m02 — per-row CPU work inside
    * mapPartitions, payload bytes never shuffle, the card (7 longs)
    * is what moves. */
  def audioFrames(media: Dataset[MediaRow]): Dataset[AudioFrameCard] = {
    import media.sparkSession.implicits._
    val frameN = AudioFrameSamples
    val thresh = AudioSilenceMeanSq
    media.mapPartitions { rows =>
      rows.map { r =>
        val p = r.payload
        val n = p.length
        var totalE = 0L; var peakE = 0L; var nSilent = 0L; var zcr = 0L
        var frameE = 0L; var inFrame = 0
        var nFrames = 0L
        var prevNeg = false
        var i = 0
        while (i < n) {
          val x = pcm8(p(i))
          frameE += x * x
          val neg = x < 0
          if (i > 0 && neg != prevNeg) zcr += 1
          prevNeg = neg
          inFrame += 1
          if (inFrame == frameN || i == n - 1) {
            totalE += frameE
            if (frameE > peakE) peakE = frameE
            if (frameE < inFrame * thresh) nSilent += 1
            nFrames += 1
            frameE = 0L; inFrame = 0
          }
          i += 1
        }
        AudioFrameCard(r.doc_id, n.toLong, nFrames, totalE, peakE,
          nSilent, zcr)
      }
    }
  }

  /** Driver-facing m05 query over the corpus media table. */
  def audioCards(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    audioFrames(mediaTable(s, dir)).toDF().orderBy("doc_id")
  }

  /** Real container magic numbers, checked in fixed order by
    * [[sniffFormat]]. The PUBLIC byte signatures (PNG/JPEG/GIF/RIFF)
    * every ingestion router matches on. */
  val MagicNumbers: Seq[(String, Array[Byte])] = Seq(
    "png" -> Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a),
    "jpeg" -> Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte),
    "gif" -> "GIF89a".getBytes("US-ASCII"),
    "riff" -> "RIFF".getBytes("US-ASCII"))

  /** Byte-walking magic-number sniff — first matching signature wins,
    * "unknown" otherwise. This is the REAL router logic (spec-tested
    * on genuine headers); the gated corpus feeds it deterministically
    * tagged payloads ([[taggedMedia]]). */
  def sniffFormat(payload: Array[Byte]): String = {
    MagicNumbers.collectFirst {
      case (name, magic) if payload.length >= magic.length &&
        magic.indices.forall(i => payload(i) == magic(i)) => name
    }.getOrElse("unknown")
  }

  /** The corpus media table with a deterministic container tag:
    * doc_id mod 7 selects a real magic prefix (png/jpeg/gif) or no
    * prefix — the synthetic stand-in for a mixed-container ingest
    * directory, same posture as m01's fake codec (the ROUTING logic
    * is real; the payloads are the stand-in). Mod SEVEN, not a divisor
    * of 20: the corpus assigns source = src(doc_id mod 20), so any
    * tag modulus sharing a factor with 20 would freeze each source on
    * one format (measured: the mod-4 rule produced exactly one format
    * per source) — coprime 7 spreads all four routing classes across
    * every source. */
  val TagMod = 7L

  def taggedMedia(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    val prefixes = MagicNumbers.take(3).map(_._2)
    graft.operators.TextHash.fanOut(graft.engine.Tables.t(s, dir, "documents"))
      .select(col("doc_id"), col("source"), col("text").cast("binary").as("body"))
      .map { r =>
        val id = r.getLong(0)
        val body = r.getAs[Array[Byte]]("body")
        val payload = (id % TagMod) match {
          case m if m < 3 => prefixes(m.toInt) ++ body
          case _ => body
        }
        MediaRow(id, payload, r.getString(1), payload.length.toLong)
      } // media_type field carries the SOURCE here (routing dimension)
  }

  /** m06: format sniffing / modality routing — the FIRST stage of any
    * multimodal ingest: walk each payload's leading bytes against the
    * real container magic numbers ([[MagicNumbers]]) and report the
    * routing card per (source, sniffed format): object count, total
    * and max payload bytes. Production replaces [[taggedMedia]] with
    * the real blob column and keeps [[sniffFormat]] and this
    * aggregation verbatim; the downstream decode stages (m01 image,
    * m02 video, m05 audio) are what the router fans out to.
    *
    * Scale shape: the sniff is per-row CPU inside mapPartitions —
    * payload bytes never shuffle; what moves is the (source, format)
    * pair and two longs, and the rollup is a partial-agg groupBy on a
    * (sources × 5)-bounded key space. */
  def formatRouting(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    taggedMedia(s, dir)
      .mapPartitions { rows =>
        rows.map(r => (r.media_type, sniffFormat(r.payload), r.byte_len))
      }
      .toDF("source", "format", "byte_len")
      .groupBy("source", "format")
      .agg(count(lit(1)).as("n_docs"), sum(col("byte_len")).as("total_bytes"),
        max(col("byte_len")).as("max_bytes"))
      .orderBy("source", "format")
  }
}
