package graft.engine

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Query-scoped caching: the one way `src/main` persists a frame and the
  * one statement of how long a cached frame lives.
  *
  *  - [[persist]] caches a frame. If its plan was not cached already, the
  *    frame is recorded in the innermost scope open on the calling thread.
  *  - [[scoped]] opens a scope and, when its body returns or throws,
  *    unpersists (blocking) exactly the frames it recorded, last first.
  *
  * Bench, Verify and Inspect run each query inside a scope, and every
  * memo build runs inside one ([[graft.operators.Memo]]), so a build's
  * intermediates are freed as it returns and only its checkpoint blocks
  * stay. A library caller that wants the same wraps its action:
  * `Caches.scoped(op(spark, dir).write…)`. A scope never drops a cache
  * entry it did not record: a persist of an already-cached plan is a
  * no-op in Spark and is not recorded, since unpersist removes by plan
  * and would evict the other owner's entry (another tenant of a shared
  * session, or an enclosing query). Fully loaded caches and caches of
  * unrelated plans keep their blocks too. The one exception is Spark's:
  * a cache that is only partly loaded and whose plan reads a frame the
  * scope frees stays registered but loses its blocks, and is recomputed
  * on its next use. A persist with no scope open lives until the
  * session ends or the caller unpersists it.
  *
  * Scopes are thread-confined: operators build their frames on the
  * calling thread, and only actions run elsewhere. */
object Caches {

  private val open = ThreadLocal.withInitial[List[ArrayBuffer[Dataset[_]]]](() => Nil)

  def persist[T](ds: Dataset[T]): Dataset[T] = {
    val fresh = ds.storageLevel == StorageLevel.NONE
    ds.persist()
    if (fresh) open.get.headOption.foreach(_ += ds)
    ds
  }

  def scoped[T](body: => T): T = {
    val mine = ArrayBuffer.empty[Dataset[_]]
    open.set(mine :: open.get)
    try body
    finally {
      open.set(open.get.tail)
      mine.reverseIterator.foreach(_.unpersist(blocking = true))
    }
  }
}
