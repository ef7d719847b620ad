package graft.engine

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The query cache scope itself ([[Caches]]), and the source rule that
  * keeps it the only caching mechanism in `src/main`. CacheSpec and
  * MemoSpec pin what the scopes free on real queries and memo builds. */
class CachesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  test("a scope frees what it cached when its body throws, inner scopes first") {
    val (outer, inner) = (spark.range(11).toDF("x"), spark.range(13).toDF("x"))
    intercept[IllegalStateException](Caches.scoped {
      Caches.persist(outer)
      Caches.scoped(Caches.persist(inner))
      assert(inner.storageLevel == StorageLevel.NONE, "the inner scope kept its frame")
      assert(outer.storageLevel != StorageLevel.NONE)
      throw new IllegalStateException("query failed")
    })
    assert(outer.storageLevel == StorageLevel.NONE, "a failed query kept its cache")
  }

  test("a partly loaded cache over a frame a scope frees stays registered and exact") {
    // the one exception the Caches scaladoc states: Spark re-plans a
    // not-fully-loaded cache whose plan reads the unpersisted frame,
    // so the other owner keeps its entry and recomputes on next use
    val x = spark.range(0, 4000, 1, 8).toDF("x")
    def tenantPlan = x.selectExpr("x", "x * 3 AS y").filter("x % 7 <> 0")
    val expected = tenantPlan.collect().toSet
    val tenant = tenantPlan.persist()
    try {
      tenant.limit(1).collect() // loads the first partition only
      Caches.scoped(Caches.persist(x).count())
      assert(x.storageLevel == StorageLevel.NONE, "the scope kept its frame")
      assert(tenant.storageLevel != StorageLevel.NONE,
        "the scope evicted another owner's partly loaded cache")
      assert(tenant.collect().toSet == expected,
        "the re-planned cache returns other rows than its plan")
    } finally tenant.unpersist(blocking = true)
  }

  test("src/main caches only through Caches and never clears the session cache") {
    val main = Paths.get("src/main")
    val sources = Files.walk(main).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.exists(_.endsWith("Caches.scala")), s"no sources under ${main.toAbsolutePath}")
    def offenders(pattern: String, allowed: Set[String]): Seq[String] =
      sources.filterNot(p => allowed(p.getFileName.toString)).flatMap { p: Path =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if pattern.r.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
        }
      }
    assert(offenders("""clearCache\(""", Set.empty).isEmpty)
    assert(offenders("""\.persist\(""", Set("Caches.scala")).isEmpty)
    assert(offenders("""\.unpersist\(""", Set("Caches.scala")).isEmpty)
  }
}
