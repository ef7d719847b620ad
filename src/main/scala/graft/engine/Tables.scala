package graft.engine

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Registers the driver-generated parquet tables (TESTDATA.md) as temp
  * views so both the DataFrame API and `spark.sql` paths can use them.
  *
  * At 100 TB these would be catalog tables over partitioned parquet;
  * temp views over `spark.read.parquet` keep the exact same plan shape
  * (LogicalRelation with full pushdown support), so every query below
  * is scale-transparent: swap the view registration for
  * `spark.table("db.t")` and nothing else changes.
  *
  * Like a catalog, it stores each table's schema once: a JVM-wide map
  * from a file's identity (qualified path, length, modification time)
  * to the `StructType` Spark inferred for it. Spark's parquet inference
  * runs one job per file, so only the first session in a JVM pays it;
  * every later session, on any SparkContext, reads with the stored
  * schema and registers its views without a job. Inference runs once
  * rather than never (no declared schemas, no footer reader of our
  * own) because `events.ts` has changed footer type between data
  * refreshes (see [[ensure]]) and only inference follows that; a
  * rewritten file has a new length or modification time and is
  * inferred again. What inference returns also depends on two confs,
  * `nanosAsLong` and `inferTimestampNTZ`, which `ensure` pins before
  * any read, so they cannot differ between the sessions sharing the
  * map.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val confKey = "graft.tables.dir"

  /** Inferred schema per (qualified path, length, modification time);
    * guarded by the object's lock, which `ensure` holds. */
  private val schemas = mutable.Map.empty[(String, Long, Long), StructType]

  private def read(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val st = fs.getFileStatus(p)
    val key = (fs.makeQualified(p).toString, st.getLen, st.getModificationTime)
    spark.read.schema(schemas.getOrElseUpdate(key, spark.read.parquet(path).schema))
      .parquet(path)
  }

  /** Idempotent per (session, dir): registers each parquet file as a
    * same-named temp view.
    *
    * `events.ts` is TIMESTAMP(NANOS) in the parquet footer, which
    * Spark's vectorized reader rejects; `nanosAsLong` reads it as
    * nanos-since-epoch and we restore a microsecond TimestampType
    * column (`timestamp_micros(ns / 1000)`) so downstream code sees a
    * normal timestamp.
    */
  def ensure(spark: SparkSession, dir: String): Unit = synchronized {
    graft.functions.TextHashExprs.register(spark)
    if (spark.conf.getOption(confKey).contains(dir)) return
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Driver refreshes of the testdata have alternated between
    // TIMESTAMP(NANOS) and un-adjusted TIMESTAMP(MICROS) footers for
    // `events.ts`. With NTZ inference on (the Spark 4 default) the
    // latter reads as TIMESTAMP_NTZ, which `unix_micros` rejects.
    // Disabling inference reads the stored int64 as a plain
    // TimestampType holding those micros verbatim — exactly what the
    // DuckDB oracle's `epoch_us(ts)` sees — independent of the
    // session timezone.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    names.foreach { n =>
      var df = read(spark, s"$dir/$n.parquet")
      df.schema.fields.foreach { f =>
        if (f.dataType == org.apache.spark.sql.types.LongType &&
            f.name == "ts") {
          // Integer division: `/` would promote to double and lose
          // sub-microsecond exactness at epoch-nanos magnitude (ulp 256ns).
          df = df.withColumn("ts",
            org.apache.spark.sql.functions.timestamp_micros(
              org.apache.spark.sql.functions.expr("ts div 1000")))
        }
      }
      df.createOrReplaceTempView(n)
    }
    spark.conf.set(confKey, dir)
  }

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    ensure(spark, dir)
    spark.table(name)
  }
}
