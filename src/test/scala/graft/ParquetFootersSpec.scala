package graft

import java.io.File
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{BinaryType, StringType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ParquetFooters

/** The driver-side footer reader resolves exactly what
  * `spark.read.parquet` resolves (schema, or error condition), and its
  * row count is the count a scan returns.
  */
class ParquetFootersSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def names(dir: String): Set[String] =
    Option(new File(dir).list()).map(_.toSet).getOrElse(Set.empty)

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val prev = kv.map { case (k, _) => k -> conf.getOption(k) }
    kv.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** Resolve `path` both ways; they must agree, schema or error. */
  private def resolution(path: String): Either[String, StructType] = {
    def resolve(df: => DataFrame): Either[String, StructType] =
      try Right(df.schema) catch { case e: SparkThrowable => Left(e.getCondition) }
    val ours = resolve(ParquetFooters.read(spark, path))
    val theirs = resolve(spark.read.parquet(path))
    assert(ours == theirs, s"footer reader resolved $ours, spark.read.parquet $theirs")
    ours
  }

  private def schemaOf(path: String): StructType =
    resolution(path).fold(c => fail(s"unexpected $c for $path"), identity)

  /** A parquet file without Spark's row-metadata key, as pyarrow or
    * any non-Spark writer produces.
    */
  private def writeExample(file: String): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional binary raw; optional binary name (UTF8); optional double x; }")
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(file), new Configuration()))
      .withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try (1 to 3).foreach { i =>
      writer.write(groups.newGroup().append("id", i.toLong)
        .append("raw", Binary.fromString(s"r$i")).append("name", s"n$i").append("x", i * 0.5))
    } finally writer.close()
  }

  test("schema: Spark-written directory with _SUCCESS") {
    val p = tmp("pf-success") + "/t"
    Seq((1, "a", 1.5), (2, "b", 2.5)).toDF("id", "s", "d").repartition(2).write.parquet(p)
    assert(names(p).contains("_SUCCESS"))
    assert(schemaOf(p).fieldNames.toSeq == Seq("id", "s", "d"))
  }

  test("schema: key=value partitioned directory") {
    val p = tmp("pf-part") + "/t"
    Seq((1, "a", 10), (2, "b", 20), (3, "c", 10)).toDF("id", "s", "k")
      .write.partitionBy("k").parquet(p)
    assert(names(p).exists(_.startsWith("k=")))
    assert(schemaOf(p).fieldNames.toSeq == Seq("id", "s", "k"))
  }

  test("schema: summary files (parquet.summary.metadata.level=ALL)") {
    val p = tmp("pf-summary") + "/t"
    Seq((1, "a"), (2, "b")).toDF("id", "s").repartition(2)
      .write.option("parquet.summary.metadata.level", "ALL").parquet(p)
    assert(Set("_metadata", "_common_metadata").subsetOf(names(p)), names(p))
    assert(schemaOf(p).fieldNames.toSeq == Seq("id", "s"))
    withConf("spark.sql.parquet.mergeSchema" -> "true") {
      assert(schemaOf(p).fieldNames.toSeq == Seq("id", "s"))
    }
  }

  test("schema: two files with different columns, with and without mergeSchema") {
    val p = tmp("pf-merge") + "/t"
    Seq((1, "a")).toDF("id", "a").write.parquet(p)
    Seq((2, 2.5)).toDF("id", "b").write.mode("append").parquet(p)
    val merged = withConf("spark.sql.parquet.mergeSchema" -> "true")(schemaOf(p))
    assert(merged.fieldNames.toSet == Set("id", "a", "b"))
    // without merging: the first data file by sorted path decides
    assert(schemaOf(p).fieldNames.length == 2)
  }

  test("schema: binary column under spark.sql.parquet.binaryAsString=true") {
    val spark_ = tmp("pf-binary") + "/spark"
    Seq((1, Array[Byte](1, 2))).toDF("id", "b").write.parquet(spark_)
    val example = tmp("pf-binary") + "/example"
    writeExample(example + "/part-0.parquet")
    withConf("spark.sql.parquet.binaryAsString" -> "true") {
      // Spark's own row metadata keeps binary; a bare footer converts
      assert(schemaOf(spark_)("b").dataType == BinaryType)
      assert(schemaOf(example)("raw").dataType == StringType)
    }
    assert(schemaOf(example)("raw").dataType == BinaryType)
  }

  test("schema: file without Spark's row-metadata key (ExampleParquetWriter)") {
    val p = tmp("pf-example") + "/t"
    writeExample(p + "/part-0.parquet")
    assert(schemaOf(p).fieldNames.toSeq == Seq("id", "raw", "name", "x"))
    assert(ParquetFooters.read(spark, p).orderBy("id").as[(Long, Array[Byte], String, Double)]
      .collect().map(_._3).toSeq == Seq("n1", "n2", "n3"))
  }

  test("errors: a missing path is PATH_NOT_FOUND, an empty directory UNABLE_TO_INFER_SCHEMA") {
    assert(resolution(tmp("pf-missing") + "/nope") == Left("PATH_NOT_FOUND"))
    assert(resolution(tmp("pf-empty")) == Left("UNABLE_TO_INFER_SCHEMA"))
  }

  test("rowCount equals a scan's count: multi-file, zero-row, two appends, summary files") {
    def check(p: String, expected: Long): Unit = {
      assert(spark.read.parquet(p).count() == expected)
      assert(ParquetFooters.rowCount(spark, p) == expected)
    }
    val multi = tmp("pf-count") + "/multi"
    spark.range(0, 1000, 1, 4).write.parquet(multi)
    assert(names(multi).count(_.endsWith(".parquet")) == 4)
    check(multi, 1000L)

    val empty = tmp("pf-count") + "/empty"
    spark.range(0).write.parquet(empty)
    check(empty, 0L)

    val appended = tmp("pf-count") + "/appended"
    spark.range(10).write.parquet(appended)
    spark.range(7).write.mode("append").parquet(appended)
    spark.range(5).write.mode("append").parquet(appended)
    check(appended, 22L)

    // summary files repeat every row group: they must not be counted
    val summary = tmp("pf-count") + "/summary"
    spark.range(0, 30, 1, 3).write.option("parquet.summary.metadata.level", "ALL").parquet(summary)
    assert(names(summary).contains("_metadata"))
    check(summary, 30L)

    val e = intercept[org.apache.spark.sql.AnalysisException] {
      ParquetFooters.rowCount(spark, tmp("pf-count") + "/missing")
    }
    assert(e.getCondition == "PATH_NOT_FOUND")
  }
}
