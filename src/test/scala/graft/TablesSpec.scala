package graft

import java.nio.file.Files

import org.apache.spark.sql.types.{LongType, StringType}

/** [[Tables.load]] keeps each parquet schema it inferred; a file rewritten
  * under the same path must still read with its new schema.
  */
class TablesSpec extends SparkSpec {

  test("a table rewritten with another schema loads with the new schema") {
    val dir = Files.createTempDirectory("graft-tables-").toString
    val path = s"$dir/t.parquet"
    try {
      spark.range(3).toDF("a").write.parquet(path)
      val first = Tables.load(spark, dir, "t")
      assert(first.schema.map(f => f.name -> f.dataType) == Seq("a" -> LongType))
      assert(Tables.load(spark, dir, "t").schema == first.schema)

      spark.range(2).selectExpr("CAST(id AS STRING) AS b", "id AS c")
        .write.mode("overwrite").parquet(path)
      val second = Tables.load(spark, dir, "t")
      assert(second.schema.map(f => f.name -> f.dataType) ==
        Seq("b" -> StringType, "c" -> LongType))
      assert(second.collect().map(_.getString(0)).sorted.toSeq == Seq("0", "1"))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
