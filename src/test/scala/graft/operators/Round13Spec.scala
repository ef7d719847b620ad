package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the round-13 Lloyd rewrite and the x33
  * shard round trip that the row-hash oracle can't express: the
  * map-side argmin must agree with a first-principles window-rule
  * replica (same argmin, same smallest-bucket tie-break), and x33's
  * trained-filter manifest must survive a real partitionBy("shard")
  * write → read round trip the way x32's does (VERDICT r12 item 5). */
class Round13Spec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.01"

  test("map-side argmin replays the (d2, bucket) window rule exactly") {
    // first-principles replica of the WHOLE 2-round loop in plain
    // collections — first-K init, per-round argmin with the (d2,
    // bucket) tie-break the oracle's row_number states, floor-mean
    // M-step — so the fold rewrite is proven a pure plan change, not
    // a rule change (the final assignment scores against the ROUND-2
    // INPUT centroids, which kmeansLloyd's post-M-step output can't
    // reproduce directly)
    val xs = graft.engine.Tables.t(spark, dir, "embeddings")
      .selectExpr("vec_id",
        "transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS x")
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Long]]("x").toVector)
      .sortBy(_._1)
    val n = xs.length.toLong
    val kk = math.max(Similarity.KmeansK.toLong, math.min(
      Similarity.KmeansKMax,
      (n + Similarity.SemDedupChunkTarget - 1) /
        Similarity.SemDedupChunkTarget)).toInt
    var cents: Map[Int, Vector[Long]] = xs.filter(_._1 < kk)
      .map { case (vid, x) => vid.toInt -> x }.toMap
    var asg: Map[Long, Int] = Map.empty
    for (_ <- 1 to Similarity.KmeansRounds) {
      asg = xs.map { case (vid, x) =>
        val best = cents.toSeq.map { case (b, c) =>
          (b, x.zip(c).map { case (a2, b2) =>
            val d = a2 - b2; d * d }.sum)
        }.minBy { case (b, d2) => (d2, b) }
        vid -> best._1
      }.toMap
      val byBucket = xs.groupBy { case (vid, _) => asg(vid) }
      cents = cents.map { case (b, prev) =>
        b -> byBucket.get(b).map { members =>
          prev.indices.map { d =>
            val s2 = members.map(_._2(d)).sum
            Math.floorDiv(s2, members.length.toLong)
          }.toVector
        }.getOrElse(prev)
      }
    }
    val got = Similarity.semanticDedupAssignment(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("bucket")).toMap
    assert(got.size == xs.length,
      s"assignment emitted ${got.size} rows for ${xs.length} vectors — " +
        "the one-row-per-vector law broke")
    asg.foreach { case (vid, b) =>
      assert(got(vid) == b,
        s"vec $vid: fold assigned ${got(vid)}, window rule says $b")
    }
  }

  test("x33: the trained-filter manifest survives a partitionBy(shard) " +
      "write→read round trip with doc and token conservation") {
    // VERDICT r12 item 5: x32's manifest is proven by a real write →
    // read; the trained twin deserves the same — same law, swapped
    // filter. Conservation: the round trip keeps the document set,
    // every per-doc token count, and each shard's intervals tile its
    // re-derived mass.
    val manifest = Pipeline.finalAssemblyTrained(spark, dir)
    val out = java.nio.file.Files
      .createTempDirectory("graft_shards_x33_").toString
    try {
      manifest.write.mode("overwrite").partitionBy("shard").parquet(out)
      val back = spark.read.parquet(out)
      val wrote = manifest.collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("shard"), r.getAs[Long]("n_bpe"),
            r.getAs[Long]("start_tok"))).toMap
      assert(wrote.nonEmpty,
        "x33 manifest is empty — a degenerate model reached the writer")
      val read = back.collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Any]("shard").toString.toLong, r.getAs[Long]("n_bpe"),
            r.getAs[Long]("start_tok"))).toMap
      assert(read == wrote,
        "round trip changed the manifest (docs, shards, counts or offsets)")
      val shardDirs = new java.io.File(out).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("shard="))
        .map(_.getName.stripPrefix("shard=").toLong).toSet
      assert(shardDirs == wrote.values.map(_._1).toSet,
        "shard directories diverge from the manifest's shard set")
      read.values.groupBy(_._1).foreach { case (sh, rs) =>
        val mass = rs.map(_._2).sum
        assert(rs.map(r => r._3 + r._2).max == mass,
          s"shard $sh: re-read intervals do not tile its mass")
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(new java.io.File(out))
    }
  }
}
