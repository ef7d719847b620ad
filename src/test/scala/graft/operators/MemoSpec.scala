package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkJobs

/** The memo laws, table-driven over all 14 build-once frames.
  *
  * For every frame: the held frame is a checkpoint of what the build
  * returns; a second access hands out the same frame; after
  * [[Memos.invalidate]] the next access builds a new frame with its
  * own probe key; a frame whose checkpoint blocks were lost is
  * rebuilt, not handed out dead; a build leaves nothing it persisted
  * in the cache manager (its scope frees it); and a gated producer's
  * rebuild is what later consumers see. The probe key and rate limit, the
  * self-time timer and the memo-vs-direct row identity are pinned
  * once below the table.
  *
  * Runs at sf0.001 and frees its own checkpoint blocks at the end, so
  * CacheSpec's residue law still measures only its own queries. */
class MemoSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.engine.Sessions.local(4)

  val dir = "/root/testdata/sf0.001"

  /** One memo: a consumer read of its frames, its build before the
    * checkpoint, and the gated query that refreshes it, if any. */
  case class Row(name: String, read: () => Seq[DataFrame],
      refresh: () => Seq[DataFrame], lazyBuild: () => Seq[DataFrame],
      producer: Option[String])

  private def row[V](m: Memo[V], producer: Option[String] = None)(
      implicit f: Memo.Frames[V]): Row =
    Row(m.name, () => f.of(m(spark, dir)), () => f.of(m.refresh(spark, dir)),
      () => f.of(m.lazyBuild(spark, dir)), producer)

  lazy val rows: Seq[Row] = Seq(
    row(TextHash.shingleHashesMemo),
    row(Dedup.minhashLshPairsMemo, Some("d03_dedup_minhash_lsh")),
    row(Dedup.substringSpansMemo),
    row(Dedup.decontamBaseMemo),
    row(Similarity.embeddingNearDupsBucketedMemo,
      Some("d08_neardup_bucketed")),
    row(Similarity.knnGraphMemo, Some("s09_knn_graph")),
    row(Similarity.lloydStateMemo, Some("s26_kmeans_lloyd")),
    row(TextAnalysis.labeledFeaturesMemo),
    row(TextAnalysis.clsWeightsMemo),
    row(TextAnalysis.clsEvalMemo),
    row(DupCluster.minhashLabels, Some("d06_dup_clusters")),
    row(DupCluster.embLabels, Some("d09_embedding_clusters")),
    row(DupCluster.ahashLabels, Some("m07_ahash_clusters")),
    row(DupCluster.knnLabels, Some("s11_knn_components")))

  /** Every frame of `a` is the one in `b` / none of them is. */
  private def same(a: Seq[DataFrame], b: Seq[DataFrame]): Boolean =
    a.zip(b).forall { case (x, y) => x eq y }
  private def rebuilt(a: Seq[DataFrame], b: Seq[DataFrame]): Boolean =
    a.zip(b).forall { case (x, y) => !(x eq y) }

  private def rddIds(g: DataFrame): Seq[Int] = g.queryExecution.logical.collect {
    case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
  }

  /** RDDs persisted before this suite ran: everything else persisted
    * at the end is this suite's and is freed synchronously (the async
    * ContextCleaner would race CacheSpec's storage accounting). */
  private var before = Set.empty[Int]
  override def beforeAll(): Unit = {
    before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    Memos.invalidate()
  }
  override def afterAll(): Unit = {
    Memos.invalidate()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before(id)) rdd.unpersist(blocking = true)
    }
  }

  test("the table covers every memo") {
    rows // constructs (and so registers) every memo in the table
    import scala.jdk.CollectionConverters._
    val registered = Memos.registry.asScala.map(_.name)
      .filterNot(_.startsWith("spec_")).toSet
    assert(rows.map(_.name).toSet == registered && rows.size == 14)
  }

  private def isCheckpointScan(g: DataFrame): Boolean =
    g.queryExecution.logical.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]

  rows.foreach { r =>
    test(s"${r.name}: the memo checkpoints what its build returns") {
      val held = r.read()
      assert(held.forall(isCheckpointScan), "a held frame is not a checkpoint scan:\n" +
        held.map(_.queryExecution.logical).mkString("\n"))
      graft.engine.Caches.scoped {
        val built = r.lazyBuild()
        assert(built.size == held.size && !built.exists(isCheckpointScan),
          "the build checkpoints its own result; the memo does that")
      }
    }

    test(s"${r.name}: a second access returns the same frame") {
      val a = r.read()
      assert(same(r.read(), a), "second access rebuilt the frame")
    }

    test(s"${r.name}: invalidate forces a rebuild with a new probe key") {
      val a = r.read()
      Memos.invalidate()
      val b = r.read()
      assert(rebuilt(a, b), "invalidate did not drop the memo")
      assert(a.map(Memos.probeKey) != b.map(Memos.probeKey),
        "a rebuilt frame must carry its own checkpoint identity")
    }

    test(s"${r.name}: lost checkpoint blocks are rebuilt, not handed out") {
      val ids = r.read().flatMap(rddIds).toSet
      assert(ids.nonEmpty, "a memo frame must be checkpoint-backed")
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (ids(id)) rdd.unpersist(blocking = true)
      }
      Memos.lastProbeNs.clear()
      r.read().foreach(_.count())
    }

    test(s"${r.name}: a build leaves nothing it persisted in the cache manager") {
      spark.catalog.clearCache() // start from an empty cache manager
      r.refresh()
      assert(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sharedState.cacheManager.isEmpty, "the build's persists outlived it")
    }

    r.producer.foreach { q =>
      test(s"${r.name}: a producer refresh is what later consumers see") {
        val a = r.read()
        val fresh = r.refresh()
        assert(rebuilt(a, fresh),
          "refresh handed back the held frame instead of rebuilding")
        assert(same(r.read(), fresh), "the memo did not pick up the refresh")
        // the gated entry itself always rebuilds and refreshes
        graft.SparkEntry.queries(q)(spark, dir)
        val b = r.read()
        assert(rebuilt(fresh, b), s"$q did not refresh the memo")
        assert(same(r.read(), b))
      }
    }
  }

  test("labeled features: the memo serves the un-memoized stream") {
    def rows(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet
    val direct = rows(TextAnalysis.labeledFeatures(spark, dir))
    assert(rows(TextAnalysis.labeledFeaturesMemo(spark, dir)) == direct)
    Memos.invalidate()
    assert(rows(TextAnalysis.labeledFeaturesMemo(spark, dir)) == direct)
  }

  test("self time: a nested memo build is not counted in its parent") {
    val d = "memo-spec-timing"
    val inner = Memo("spec_inner") { (s, _) =>
      Thread.sleep(1000); s.range(1).toDF()
    }
    val outer = Memo("spec_outer") { (s, _) =>
      inner(s, d); Thread.sleep(100); s.range(1).toDF()
    }
    outer(spark, d)
    val sec = Memos.buildSecFor(d)
    assert(sec("spec_inner") >= 1.0)
    assert(sec("spec_outer") >= 0.1 && sec("spec_outer") < 1.0,
      s"outer build counted its nested build: $sec")
  }

  test("probe keys by checkpoint RDD id and re-probes after invalidate") {
    import spark.implicits._
    Memos.invalidate()
    val g = Seq(1L, 2L, 3L).toDF("x").localCheckpoint()
    // the key IS the checkpoint scan's RDD id — not an object hash
    val key = Memos.probeKey(g)
    assert(key == rddIds(g).map(_.toLong).sorted,
      s"probe key $key != checkpoint RDD ids ${rddIds(g)}")

    // first access probes (one job); a fresh access inside the rate
    // window trusts the freshness and runs NO job
    assert(SparkJobs.during(spark)(assert(Memos.alive(g))) >= 1,
      "first alive() must pay the 1-row probe job (CollectLimit may\n" +
        "      split it across >1 incremental job)")
    assert(SparkJobs.during(spark)(assert(Memos.alive(g))) == 0,
      "rate-limited alive() must not run a job")

    // invalidate drops freshness with the frames: the NEXT access
    // probes again
    Memos.invalidate()
    assert(Memos.lastProbeNs.isEmpty,
      "invalidate() must clear the probe-freshness map")
    assert(SparkJobs.during(spark)(assert(Memos.alive(g))) >= 1,
      "post-invalidate alive() must re-probe")

    // a REBUILT frame has its own id — its first access probes even
    // while the old frame's freshness is still warm (no inheritance)
    val g2 = Seq(4L, 5L).toDF("x").localCheckpoint()
    assert(Memos.probeKey(g2) != key,
      "rebuilt frame must not reuse the old probe key")
    assert(SparkJobs.during(spark)(assert(Memos.alive(g2))) >= 1,
      "rebuilt frame must pay its own probe")
    // a frame COMPOSED over two checkpointed frames keys on ALL its
    // checkpoint leaves, so its freshness is distinct from both
    // components'
    val both = Memos.probeKey(g.union(g2))
    assert(both.size == 2 && both != key && both != Memos.probeKey(g2),
      s"composed frame must key on all checkpoint leaves, got $both")
    Memos.invalidate()
  }
}
