package graft.operators

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import javax.imageio.ImageIO

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal.{ImageCodec, FakeCodec, MediaRow}

/** Real-decode proof for the multimodal plumbing: deterministic PNGs
  * are generated in-memory (LCG pixels), pushed through the SAME
  * `mapPartitions` boundary the gated m01 query uses, but with the
  * JDK `javax.imageio` codec — and the extracted features must equal
  * the pixel statistics of the ORIGINAL pixel arrays. PNG is a
  * compressed container, so encoded-byte statistics are unrelated to
  * pixel statistics: matching them is only possible via an actual
  * decode (the byte-histogram FakeCodec provably differs on the same
  * payloads).
  */
class MultimodalSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.engine.Sessions.local(4)

  /** Deterministic LCG pixel for (img, x, y) — same generator on the
    * fixture side and the expectation side. */
  private def px(id: Long, x: Int, y: Int): Int = {
    val seed = id * 1000003L + y * 131L + x
    val m = seed * 6364136223846793005L + 1442695040888963407L
    (((m >>> 33) & 0xffffff)).toInt // 24-bit RGB
  }

  private val W = 8
  private val H = 6

  /** (png bytes, expected [w, h, meanR, meanG, meanB, meanLuma]). */
  private def fixture(id: Long): (Array[Byte], Array[Double]) = {
    val img = new BufferedImage(W, H, BufferedImage.TYPE_INT_RGB)
    var sr = 0L; var sg = 0L; var sb = 0L
    for (y <- 0 until H; x <- 0 until W) {
      val rgb = px(id, x, y)
      img.setRGB(x, y, rgb)
      sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    val n = (W * H).toDouble
    (bos.toByteArray,
      Array(W.toDouble, H.toDouble, sr / n, sg / n, sb / n,
        (0.299 * sr + 0.587 * sg + 0.114 * sb) / n))
  }

  test("javax.imageio codec recovers exact pixel statistics from PNG payloads") {
    import spark.implicits._
    val fixtures = (0L until 20L).map(i => i -> fixture(i)).toMap
    val media = spark.createDataset(fixtures.toSeq.map {
      case (id, (png, _)) => MediaRow(id, png, "image/png", png.length.toLong)
    }).repartition(3) // decode must be partition-independent
    val out = Multimodal.extractFeatures(media, ImageCodec.decodeFeatures)
      .collect().map(f => f.doc_id -> f.features).toMap
    assert(out.keySet == fixtures.keySet)
    for ((id, (_, exp)) <- fixtures) {
      val got = out(id)
      assert(got.length == ImageCodec.FeatureDim)
      // PNG is lossless and the sums are exact integers: the only
      // float op is one final division, identical on both sides
      assert(got.sameElements(exp),
        s"img $id decoded features ${got.toSeq} != pixel truth ${exp.toSeq}")
    }
  }

  test("the byte-histogram stand-in cannot reproduce pixel statistics") {
    // guards the spec itself: if PNG bytes ever *were* the pixels,
    // the previous test would pass without any decode happening
    val (png, exp) = fixture(7L)
    val fake = FakeCodec.decodeFeatures(png)
    assert(!(math.abs(fake(0) - exp(2)) < 1e-9 &&
        math.abs(fake(1) - exp(3)) < 1e-9),
      "encoded-byte stats unexpectedly equal pixel stats")
  }

  test("real-codec decode is deterministic across repeated runs") {
    import spark.implicits._
    val media = spark.createDataset((0L until 10L).map { i =>
      val (png, _) = fixture(i)
      MediaRow(i, png, "image/png", png.length.toLong)
    }).repartition(2)
    def run() = Multimodal.extractFeatures(media, ImageCodec.decodeFeatures)
      .collect().map(f => f.doc_id -> f.features.toSeq).sortBy(_._1).toSeq
    assert(run() == run())
  }

  /** Payload with genuine block structure: 64 blocks of 32 bytes,
    * block b's level driven by an LCG on (seed, b) — the "image" an
    * average-hash is meant for. */
  private def blockPayload(seed: Long, shift: Int = 0): Array[Byte] = {
    val out = new Array[Byte](64 * 32)
    for (b <- 0 until 64; j <- 0 until 32) {
      val level = ((seed * 6364136223846793005L + b * 1442695040888963407L)
        >>> 33) % 200
      out(b * 32 + j) = math.min(255, level + shift).toByte
    }
    out
  }

  test("codec boundary is partition-layout independent (repartition(k) law)") {
    // VERDICT r14 item 7: the fake codec runs inside mapPartitions —
    // the one structural freedom a real codec swap must also respect
    // is that NOTHING may depend on which rows share a partition or
    // their order within it (a codec that carried state across rows,
    // seeded per-partition, or emitted partition-relative values
    // would pass every row-level test and still break under Spark's
    // free choice of layout). Law: every m-family codec output is
    // invariant, AS A SET, under repartition(k) for random k.
    import org.scalacheck.Gen
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val media = Multimodal.mediaTable(spark, dir)
    // deep-render rows: array fields stringify by identity otherwise
    def deep(p: Product): String = p.productIterator.map {
      case a: Array[_] => a.mkString("[", ",", "]")
      case x => String.valueOf(x)
    }.mkString("|")
    def run(m: org.apache.spark.sql.Dataset[MediaRow]): Seq[Set[String]] =
      Seq(
        Multimodal.extractFeatures(m).collect().map(deep).toSet,
        Multimodal.resizeFrames(m).collect().map(deep).toSet,
        Multimodal.audioFrames(m).collect().map(deep).toSet,
        m.mapPartitions(_.map(r =>
          (r.doc_id, Multimodal.aHash64(r.payload)))).collect()
          .map(deep).toSet)
    val baseline = run(media)
    val ks = Gen.listOfN(4, Gen.chooseNum(1, 40)).sample.get.distinct
    for (k <- ks) {
      val got = run(media.repartition(k))
      assert(got == baseline,
        s"codec output depends on partition layout at repartition($k)")
    }
  }

  test("aHash is invariant under uniform brightness shift, not under restructure") {
    val base = Multimodal.aHash64(blockPayload(7))
    // +20 on every byte moves every block mean AND the global mean
    // equally: all 64 comparisons unchanged — the perceptual property
    assert(Multimodal.aHash64(blockPayload(7, shift = 20)) == base,
      "uniform brightness shift must not change the aHash")
    // a different block structure flips many comparisons
    val other = Multimodal.aHash64(blockPayload(99))
    assert(java.lang.Long.bitCount(base ^ other) > 6,
      "distinct structures must not collide within the dedup threshold")
  }

  test("ahash pairing catches the brightened copy and only it") {
    import spark.implicits._
    val rows = Seq(
      (1L, Multimodal.aHash64(blockPayload(7))),
      (2L, Multimodal.aHash64(blockPayload(7, shift = 20))), // re-exposed copy
      (3L, Multimodal.aHash64(blockPayload(99))),
      (4L, Multimodal.aHash64(blockPayload(123))))
    val pairs = Multimodal.ahashPairsOf(rows.toDF("doc_id", "ahash")).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    assert(pairs.head.getAs[Int]("hamming") == 0)
  }

  test("corpus ahash pairing agrees with brute-force hamming") {
    // the text corpus has no perceptual near-dups (documented in
    // Multimodal.ahashes) — the banded path must agree with the
    // brute-force all-pairs count, not silently diverge from it
    val hashes = Multimodal.ahashes(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (ida, ha) <- hashes; (idb, hb) <- hashes
      if ida < idb && java.lang.Long.bitCount(ha ^ hb) <= 6
    } yield (ida, idb)).toSet
    val banded = Multimodal.ahashPairs(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == brute, s"banded=$banded brute=$brute")
  }
}
