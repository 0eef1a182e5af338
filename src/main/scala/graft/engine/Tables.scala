package graft.engine

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Schema-checked loaders for the harness parquet tables.
  *
  * One parquet file per table per scale factor at `<sfDir>/<table>.parquet`
  * (schemas verified in FIXTURES.md §1). Loaders are thin on purpose: the
  * parquet scans must stay bare `FileSourceScanExec`s so Catalyst can push
  * filters and prune columns into the scan — at 100 TB the scan is the
  * dominant cost and pushdown is the whole ballgame.
  *
  * Each table's schema is inferred once per JVM. A bare
  * `spark.read.parquet(path)` launches a one-task schema-merge job
  * (`ParquetUtils.inferSchema`) on every call, even for one file with
  * `mergeSchema` off — about 80 ms a call before the operator's own work.
  * The loaders cache the inferred schema and read every later call with
  * `spark.read.schema(cached).parquet(path)`, which launches no job and
  * opens no footer; the scan stays the same bare `FileSourceScanExec`
  * (Spark makes a file source's data schema nullable either way).
  *
  * The cache can never serve a stale schema. An entry is keyed on the path
  * and the session's explicitly set parquet confs (`spark.sql.parquet.*`,
  * `spark.sql.legacy.parquet.*`, `spark.sql.caseSensitive`: `nanosAsLong`
  * and `binaryAsString` change the inferred types, and streaming replays run
  * on cloned sessions), and it is used only while the files are unchanged:
  * the (path, length, mtime) of the file, or of each entry of a directory
  * table's non-recursive listing, read without a Spark job. Overwriting a
  * table in place changes that status, and the next read infers again.
  */
object Tables {
  private type Status = Seq[(String, Long, Long)]
  private val schemas = new ConcurrentHashMap[(String, Map[String, String]), (Status, StructType)]()

  private def inferenceConf(key: String): Boolean =
    key.startsWith("spark.sql.parquet.") || key.startsWith("spark.sql.legacy.parquet.") ||
      key == "spark.sql.caseSensitive"

  /** (path, length, mtime) of the file, or of each entry of the directory;
    * empty when the path does not exist. */
  private def status(spark: SparkSession, path: String): Status = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val root = fs.getFileStatus(p)
      val entries = if (root.isDirectory) fs.listStatus(p).toSeq else Seq(root)
      entries.map(s => (s.getPath.toString, s.getLen, s.getModificationTime)).sorted
    } catch { case _: FileNotFoundException => Nil }
  }

  /** The parquet file or directory at `path`, whose status is `files`, read
    * with its cached schema. A missing path (or an empty directory) keeps no
    * entry and fails as a bare read does. */
  private def read(spark: SparkSession, path: String, files: Status): DataFrame = {
    if (files.isEmpty) return spark.read.parquet(path)
    val key = (path, spark.conf.getAll.filter { case (k, _) => inferenceConf(k) })
    val schema = Option(schemas.get(key)).collect { case (`files`, s) => s }.getOrElse {
      val inferred = spark.read.parquet(path).schema
      schemas.put(key, (files, inferred))
      inferred
    }
    spark.read.schema(schema).parquet(path)
  }

  private def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    read(spark, path, status(spark, path))
  }

  def region(spark: SparkSession, dir: String): DataFrame     = t(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = t(spark, dir, "nation")
  def supplier(spark: SparkSession, dir: String): DataFrame   = t(spark, dir, "supplier")
  def customer(spark: SparkSession, dir: String): DataFrame   = t(spark, dir, "customer")
  def part(spark: SparkSession, dir: String): DataFrame       = t(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = t(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = t(spark, dir, "lineitem")
  /** `events.ts` normalization — the harness has shipped this column under
    * THREE parquet encodings across rounds, so the loader adapts on the
    * file's actual schema rather than assuming one:
    *   - TIMESTAMP(NANOS): Spark 4 refuses to map it to TimestampType;
    *     Sessions set `spark.sql.legacy.parquet.nanosAsLong=true`, so it
    *     arrives as epoch-ns BIGINT → `DIV 1000` to µs (exact: the dataset
    *     has no sub-µs residue, verified in FIXTURES).
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false) (round-8 regeneration):
    *     arrives as TIMESTAMP_NTZ, which functions like `unix_micros`
    *     reject → cast to TimestampType (exact: the session timezone is
    *     pinned to UTC in [[Sessions]], so NTZ→instant is the identity).
    *   - TIMESTAMP(MICROS, UTC): already TimestampType; pass through.
    * Downstream queries always see an ordinary µs TimestampType column. */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(t(spark, dir, "events"))

  /** The [[events]] `ts` normalization, for a frame (batch or stream) read
    * with the events file's own schema. */
  def normalizeTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  def documents(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "embeddings")
  /** `<dir>/media.parquet`, if the data dir ships one (the harness dirs do
    * not; [[graft.queries.Multimodal.mediaTable]] then derives the table). */
  def media(spark: SparkSession, dir: String): Option[DataFrame] = {
    val path = s"$dir/media.parquet"
    val files = status(spark, path)
    if (files.isEmpty) None else Some(read(spark, path, files))
  }

  /** The file schema of `<dir>/<table>.parquet`, before any normalization —
    * what a stream replay of the table declares to `readStream`. */
  def fileSchema(spark: SparkSession, dir: String, table: String): StructType =
    t(spark, dir, table).schema

  /** Round-robin rebalance to one partition per core, for placing in front
    * of stages whose PER-ROW compute dwarfs a row's shuffle cost (interpreted
    * shingle-building HOFs, banded LSH projections, |q|×|c| kernel fan-outs).
    * The harness tables are single-row-group parquet files, so their scans
    * arrive as ONE partition no matter how `maxPartitionBytes` is set —
    * without this, a compute-bound stage pins one core while the other 31
    * idle. At production scale the scan yields many splits and this degrades
    * to a cheap rebalance guarding against coarse or skewed upstream
    * partitioning; the explicit N (not a bare `repartition()`) keeps AQE from
    * coalescing the tiny local partitions back into one.
    *
    * NOT a blanket fix (measured): round-robin repartition local-sorts every
    * row before the exchange (retry determinism), so on codegen'd column
    * algebra that feeds a partial agg (the ML chain, tf-idf, lang-id) the
    * sort+shuffle costs more than the single-task pipeline it replaces —
    * those paths stay unfanned on purpose. */
  def fanOut(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
}
