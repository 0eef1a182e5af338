package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Tables

/** The [[Tables]] loaders infer each table's schema once: a later read
  * launches no Spark job, an in-place overwrite or a parquet conf that
  * changes the inferred types is never served a stale schema, and the
  * cached-schema read scans exactly what a bare `spark.read.parquet` does. */
class TablesSpec extends AnyFunSuite {
  import TestSpark.{spark, sfSmoke}
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def jobsLaunched(tag: String)(body: => Unit): Int =
    JobCount.launched(spark, tag)(body)

  test("(a) a second lineitem read and its schema launch no Spark job") {
    // a fresh copy, so the first read below is this JVM's first of the path
    val dir = tmpDir("tables_a")
    Tables.lineitem(spark, sfSmoke).write.parquet(s"$dir/lineitem.parquet")
    val first = jobsLaunched("tables-spec-first")(Tables.lineitem(spark, dir).schema)
    assert(first >= 1, "the first read infers the schema with a Spark job")
    val second = jobsLaunched("tables-spec-second")(Tables.lineitem(spark, dir).schema)
    assert(second === 0)
  }

  test("(b) overwriting a table with a new schema is read back with the new schema") {
    val dir = tmpDir("tables_b")
    Seq((1L, 10L), (2L, 20L)).toDF("doc_id", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(Tables.documents(spark, dir).schema("n_chars").dataType === LongType)
    Seq((3L, "thirty")).toDF("doc_id", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val after = Tables.documents(spark, dir)
    assert(after.schema("n_chars").dataType === StringType)
    assert(after.as[(Long, String)].collect().toSeq === Seq((3L, "thirty")))
  }

  test("(c) spark.sql.parquet.binaryAsString in a second session changes the read type") {
    // written without Spark's schema metadata (which a Spark-written file
    // carries, and which wins over binaryAsString), as a non-Spark writer does
    val dir = tmpDir("tables_c")
    val schema = MessageTypeParser.parseMessageType("""message media {
      required int64 doc_id; required binary format (UTF8);
      required int64 n_bytes; required binary content; }""")
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/media.parquet")).withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("doc_id", 1L)
      .append("format", "png").append("n_bytes", 2L)
      .append("content", Binary.fromConstantByteArray(Array[Byte](104, 105))))
    finally writer.close()
    val other = spark.newSession()
    other.conf.set("spark.sql.parquet.binaryAsString", "true")
    def content(s: org.apache.spark.sql.SparkSession) = Tables.media(s, dir).get.schema("content").dataType
    assert(content(spark) === BinaryType)
    assert(content(other) === StringType)
    assert(content(spark) === BinaryType)
    assert(Tables.media(other, dir).get.select("content").as[String].collect().toSeq === Seq("hi"))
    assert(Tables.media(spark, tmpDir("tables_c_none")).isEmpty)
  }

  test("(d) every harness table reads the same schema and rows as a bare read") {
    val loaders: Seq[(String, DataFrame, DataFrame)] = Seq(
      "region" -> Tables.region _, "nation" -> Tables.nation _,
      "supplier" -> Tables.supplier _, "customer" -> Tables.customer _,
      "part" -> Tables.part _, "orders" -> Tables.orders _,
      "lineitem" -> Tables.lineitem _, "documents" -> Tables.documents _,
      "embeddings" -> Tables.embeddings _
    ).map { case (name, load) =>
      load(spark, sfSmoke) // the first read fills the cache
      (name, load(spark, sfSmoke), spark.read.parquet(s"$sfSmoke/$name.parquet"))
    } :+ {
      Tables.events(spark, sfSmoke)
      ("events", Tables.events(spark, sfSmoke),
        Tables.normalizeTs(spark.read.parquet(s"$sfSmoke/events.parquet")))
    }
    loaders.foreach { case (name, cached, bare) =>
      assert(cached.schema === bare.schema, name) // StructType equality covers nullability
      assert(cached.count() === bare.count(), name)
      assert(cached.exceptAll(bare).isEmpty && bare.exceptAll(cached).isEmpty, name)
    }
  }

  test("(e) a filtered lineitem read plans one bare scan with the pushed filter") {
    Tables.lineitem(spark, sfSmoke)
    val df = Tables.lineitem(spark, sfSmoke).filter(col("l_quantity") > 45)
    df.collect()
    val scans = new AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(df.queryExecution.executedPlan) { case f: FileSourceScanExec => f }
    assert(scans.length === 1)
    val pushed = scans.head.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThan(l_quantity,45"), pushed)
  }
}
