package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-provided parquet tables (TESTDATA.md). */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.ts has shipped in two physical forms across testdata
      // generations: parquet TIMESTAMP(NANOS) (vectorized reader rejects
      // it — read as raw nanos via the legacy conf and convert), and
      // untagged timestamp[us] (Spark 4 infers TIMESTAMP_NTZ — cast to
      // the session type). Both normalize to TimestampType so every
      // consumer sees one schema; sessions pin UTC, so the NTZ cast is
      // value-preserving and agrees with DuckDB's naive read.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = readParquet(spark, s"$dir/$name.parquet")
      import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      // NB: integer division — `/ 1000` would be DOUBLE division, and
      // 2024-epoch nanos exceed 2^53, silently shifting timestamps by 1us.
      df.schema("ts").dataType match {
        case LongType =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType =>
          df.withColumn("ts", col("ts").cast(TimestampType))
        case _ => df
      }
    } else normalizeNtz(readParquet(spark, s"$dir/$name.parquet"))
  }

  /** What a schema was inferred under: every file's (path, length,
    * mtime) and the session's `*.parquet.*` confs (the nanos-as-long
    * switch changes the inferred type).
    */
  private type Fingerprint = (Seq[(String, Long, Long)], Seq[(String, String)])

  /** Inferred schemas by path, each with its fingerprint. A rewritten
    * file or a changed conf misses and re-infers.
    */
  private val schemas = new ConcurrentHashMap[String, (Fingerprint, StructType)]()

  /** `spark.read.parquet(path)` without the one-task schema-inference job
    * on every read after the first: the schema is kept per path and
    * handed to the reader. A missing path reads plainly, so it fails
    * with Spark's own error.
    */
  private def readParquet(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) spark.read.parquet(path)
    else {
      val files = Iterator.unfold(fs.listFiles(p, true))(it =>
          Option.when(it.hasNext)(it.next() -> it))
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
        .toSeq.sortBy(_._1)
      val fp: Fingerprint =
        (files, spark.conf.getAll.filter(_._1.contains(".parquet.")).toSeq.sorted)
      val schema = Option(schemas.get(path)).filter(_._1 == fp).map(_._2)
        .getOrElse {
          val inferred = spark.read.parquet(path).schema
          schemas.put(path, fp -> inferred)
          inferred
        }
      spark.read.schema(schema).parquet(path)
    }
  }

  /** Untagged parquet timestamps (timestamp[us], no UTC flag) infer as
    * TIMESTAMP_NTZ under Spark 4; sessions pin UTC, so casting them to
    * the session TimestampType preserves every value while restoring the
    * one schema all operators (windows, watermarks, unix_timestamp) were
    * built against. DuckDB reads the same files as naive timestamps, so
    * the oracle sees identical values.
    */
  private def normalizeNtz(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val ntz = df.schema.fields.filter(_.dataType == TimestampNTZType)
    if (ntz.isEmpty) df
    else df.withColumns(
      ntz.map(f => f.name -> col(f.name).cast(TimestampType)).toMap)
  }
}

/** A named family of queries plus their DuckDB oracle SQL. SparkEntry
  * aggregates all packs; the driver's Verify/Bench mains consume the union.
  *
  * Contract (builder prompt): for every query key present in `oracles`, the
  * SQL must produce the same column NAMES (the driver sorts columns by name
  * then hashes values) and — for doubles — explicitly rounded values on both
  * sides so cross-engine float noise can't flip the hash.
  */
trait QueryPack {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}
