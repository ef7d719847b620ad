package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One build-once frame (or pair of frames): the single caching path
  * behind every memo accessor — see [[Memos]] for the contract.
  *
  * Consumers call `apply` (get-or-build); the gated producer of a
  * frame calls `refresh`, which always rebuilds and holds the result,
  * so the producer's bench cost stays honest and every later consumer
  * sees what it built. `K` is an extra key beyond (session, dir) —
  * `Unit` for all frames but the kNN graph, which keys on `k`.
  *
  * Not synchronized: memos assume a single-threaded driver, like every
  * query builder in this repo. Frames are built, looked up and
  * invalidated on the driver thread; only actions on them may run from
  * other threads. */
final class Memo[K, V] private (val name: String,
    build: (SparkSession, String, K) => V)(implicit frames: Memo.Frames[V]) {

  @volatile private var held: Option[(SparkSession, String, K, V)] = None
  Memos.registry.add(this)

  def apply(s: SparkSession, dir: String, key: K): V = held match {
    case Some((ms, mdir, mk, v)) if (ms eq s) && mdir == dir && mk == key &&
        frames.of(v).forall(Memos.alive) => v
    case _ => Memos.timed(name, dir)(refresh(s, dir, key))
  }

  def refresh(s: SparkSession, dir: String, key: K): V = {
    val v = build(s, dir, key)
    held = Some((s, dir, key, v))
    v
  }

  def apply(s: SparkSession, dir: String)(implicit u: Unit =:= K): V =
    apply(s, dir, u(()))

  def refresh(s: SparkSession, dir: String)(implicit u: Unit =:= K): V =
    refresh(s, dir, u(()))

  private[operators] def clear(): Unit = held = None
}

object Memo {
  /** The frames a memo value holds: what the liveness probe checks. */
  trait Frames[V] { def of(v: V): Seq[DataFrame] }
  object Frames {
    implicit val one: Frames[DataFrame] = Seq(_)
    implicit val two: Frames[(DataFrame, DataFrame)] = p => Seq(p._1, p._2)
  }

  def apply[V: Frames](name: String)(
      build: (SparkSession, String) => V): Memo[Unit, V] =
    new Memo[Unit, V](name, (s, dir, _) => build(s, dir))

  def keyed[K, V: Frames](name: String)(
      build: (SparkSession, String, K) => V): Memo[K, V] =
    new Memo(name, build)
}

/** The memo contract — the one place it is stated.
  *
  * A [[Memo]] holds the last frame it built (localCheckpoint-
  * materialized, so reuse replays no lineage) and hands it out again
  * only when all of these hold:
  *  - Key: the same session (by reference), the same dir and the same
  *    extra key. The parquet under a dir is assumed immutable for the
  *    session; a long-lived session that rewrites a corpus dir calls
  *    [[invalidate]], and the next access rebuilds from the files.
  *  - Liveness: [[alive]] passes on every frame the memo holds.
  *    localCheckpoint blocks are UNREPLICATED: on a real cluster an
  *    executor loss poisons a memoized frame for good, so a bounded
  *    1-row job (limit(1).count) touches the checkpoint storage, and a
  *    frame whose blocks are gone is dropped and rebuilt. The probe
  *    reads at most one partition, so it cannot catch a loss confined
  *    to a later partition; a session that knows it lost executors
  *    calls [[invalidate]] for certainty. Probes are RATE-LIMITED per
  *    frame: a frame probed alive within [[ProbeIntervalNs]] (30 s) is
  *    trusted without a job, because hot accessors are consulted during
  *    plan construction (EXPLAIN sweeps, plan census). The cost is a
  *    ≤30 s stale window after an executor loss, in which the
  *    consumer's own action throws and the next access rebuilds.
  *
  * Memo frames deliberately survive `spark.catalog.clearCache()`: their
  * checkpoint blocks are CacheSpec's allowed residue, reclaimed by the
  * ContextCleaner once [[invalidate]] drops the last reference.
  *
  * A consumer-side build is timed under the frame's name into
  * [[buildSec]], which Bench and perfbench report as the cold-start
  * cost that median-of-repeats excludes. The recorded time is the
  * frame's SELF time: builds of other memos it touches are timed under
  * their own names and subtracted, so the sum counts each second once.
  * A producer `refresh` is the query's own work and is not recorded. */
object Memos {
  private[operators] val registry =
    new java.util.concurrent.ConcurrentLinkedQueue[Memo[_, _]]()

  /** Drop every memo (each registers itself at construction) and the
    * probe freshness: an entry surviving its frame could vouch for a
    * frame that was never probed. */
  def invalidate(): Unit = {
    registry.forEach(_.clear())
    lastProbeNs.clear()
  }

  /** Build seconds per "frame|dir"; a rebuild adds to the same key. */
  private[graft] val buildSec =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  /** Wall time of the memo builds nested inside the current one. */
  private var nestedNs = 0L

  private[operators] def timed[T](frame: String, dir: String)(body: => T): T = {
    val outer = nestedNs
    nestedNs = 0L
    val t0 = System.nanoTime()
    try {
      val r = body
      buildSec.merge(s"$frame|$dir",
        java.lang.Double.valueOf((System.nanoTime() - t0 - nestedNs) / 1e9),
        (a, b) => java.lang.Double.valueOf(a + b))
      r
    } finally nestedNs = outer + (System.nanoTime() - t0)
  }

  /** Snapshot of the recorded build costs for `dir`, frame → sec. */
  private[graft] def buildSecFor(dir: String): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    buildSec.asScala.toMap.collect {
      case (k, v) if k.endsWith(s"|$dir") =>
        k.stripSuffix(s"|$dir") -> v.doubleValue()
    }
  }

  private val ProbeIntervalNs = 30L * 1000 * 1000 * 1000
  private[graft] val lastProbeNs =
    new java.util.concurrent.ConcurrentHashMap[Seq[Long], java.lang.Long]()

  /** Rate-limit key: ALL checkpoint RDD ids in the frame's plan,
    * sorted, so a frame composed over two checkpointed frames never
    * shares freshness with the frame owning just one of them. RDD ids
    * come from a SparkContext-global counter that is never recycled,
    * so a rebuilt frame cannot inherit a dropped frame's freshness. A
    * frame with no LogicalRDD gets no key and probes every time. */
  private[graft] def probeKey(g: DataFrame): Option[Seq[Long]] = {
    val ids = g.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id.toLong
    }.sorted
    if (ids.isEmpty) None else Some(ids)
  }

  private[operators] def alive(g: DataFrame): Boolean = {
    val key = probeKey(g)
    val now = System.nanoTime()
    val last = key.flatMap(k => Option(lastProbeNs.get(k)))
    if (last.exists(now - _ < ProbeIntervalNs)) true
    else
      try {
        g.limit(1).count()
        key.foreach(lastProbeNs.put(_, now))
        true
      } catch { case scala.util.control.NonFatal(_) =>
        key.foreach(lastProbeNs.remove(_)); false }
  }
}
