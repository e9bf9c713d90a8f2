package graft

import java.nio.file.Files

import org.apache.spark.sql.types.{BinaryType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession
import TestSpark._

/** [[GraftSession.readParquet]] reuses an inferred schema only for the same
  * file version and Parquet confs: the cached read must always equal a
  * plain `spark.read.parquet`.
  */
class ParquetSchemaCacheSpec extends AnyFunSuite {
  import spark.implicits._

  private def tempPath(tag: String): String =
    Files.createTempDirectory(s"graft_pq_$tag").resolve("t.parquet").toString

  test("a rewritten file is read with its new schema") {
    val path = tempPath("rewrite")
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").write.parquet(path)
    assert(GraftSession.readParquet(spark, path).schema.toDDL == "id BIGINT,name STRING")
    Seq((1.5, 3)).toDF("score", "rank").write.mode("overwrite").parquet(path)
    val again = GraftSession.readParquet(spark, path)
    assert(again.schema.toDDL == "score DOUBLE,rank INT")
    assert(again.collect().map(r => (r.getDouble(0), r.getInt(1))).toSeq == Seq((1.5, 3)))
  }

  test("flipping spark.sql.parquet.binaryAsString re-infers") {
    // written with the plain Parquet API: a Spark-written footer carries
    // its Spark schema, which inference prefers over binaryAsString
    val path = tempPath("binary")
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required binary b; }")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(path)).withType(schema).build()
    try w.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      .newGroup().append("b", "hi"))
    finally w.close()
    def bType = GraftSession.readParquet(spark, path).schema("b").dataType
    val key = "spark.sql.parquet.binaryAsString"
    val before = spark.conf.getOption(key)
    try {
      assert(bType == BinaryType)
      spark.conf.set(key, "true")
      assert(bType == StringType)
      assert(GraftSession.readParquet(spark, path).collect().head.getString(0) == "hi")
      spark.conf.set(key, "false")
      assert(bType == BinaryType)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("every fixture table reads as a plain spark.read.parquet does") {
    val tables = new java.io.File(sfDir).list().filter(_.endsWith(".parquet")).sorted
    assert(tables.length >= 10)
    tables.foreach { t =>
      val path = s"$sfDir/$t"
      val plain = spark.read.parquet(path)
      // twice: the first read infers, the second reuses the schema
      Seq.fill(2)(GraftSession.readParquet(spark, path)).foreach { cached =>
        assert(cached.schema.toDDL == plain.schema.toDDL, t)
        assert(rows(cached) == rows(plain), t)
      }
    }
  }
}
