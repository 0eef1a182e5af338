package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._

import graft.streaming.StreamingOps

/** The streaming calls: the engine's stateful operators over a file-stream
  * replay of `events`, run to a memory table by the engine's own streaming
  * runner.
  *
  * The registry keys (x02 and the rest) stage their stream input under a fixed
  * `/tmp` path, outside the benchmark's checkout, so the harness builds the
  * replay itself: a directory under the work dir holding a link to the
  * events table, read with the schema normalization the engine's replay
  * applies. Each query checkpoints in a temporary directory under the JVM's
  * `java.io.tmpdir`, which `run.py` points into the work dir. The runner
  * `StreamingOps.runToTable` (state-store provider, stream partitions, the
  * single-batch guard) is private, so it is reached by reflection; a rename
  * fails every streaming call of the run. */
object Streams {
  private lazy val runner = {
    val m = StreamingOps.getClass.getDeclaredMethods
      .find(_.getName.endsWith("runToTable"))
      .getOrElse(throw new NoSuchMethodException("StreamingOps.runToTable"))
    m.setAccessible(true)
    m
  }

  def run(streamed: DataFrame, name: String, outputMode: String): DataFrame =
    runner.invoke(StreamingOps, streamed.sparkSession, streamed,
      s"${name}_${System.nanoTime()}", outputMode).asInstanceOf[DataFrame]

  /** `<dir>/events.parquet` replayed as a stream. */
  def events(spark: SparkSession, dir: String, work: String): DataFrame = {
    val staged = Paths.get(work, "stream-in", "events")
    Files.createDirectories(staged)
    val link = staged.resolve("events.parquet")
    if (!Files.exists(link))
      Files.createSymbolicLink(link, Paths.get(dir, "events.parquet").toAbsolutePath)
    val rawType = spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", rawType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val raw = spark.readStream.schema(schema).parquet(staged.toString)
    rawType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** x02's body: tumbling 1 h counts and sums under a 10-minute watermark. */
  def tumbling(work: String): Call = Call("stream_tumbling", "x02_stream_tumbling_watermark",
    (spark, dir) => run(StreamingOps.tumblingWithWatermark(events(spark, dir, work)),
      "perfbench_tumbling", "complete"))
}

/** Micro-batch progress of the streaming calls, from a listener the harness
  * registers. Each batch keeps its trigger start (epoch ms), so it can be
  * parented to the call whose window holds it. */
final class StreamTracer extends StreamingQueryListener {
  import StreamingQueryListener._

  final case class Batch(query: String, start: Long, durations: Map[String, Long],
                         stateRows: Long, stateCommitMs: Long, stateMemoryBytes: Long)

  val batches = ArrayBuffer.empty[Batch]

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    batches += Batch(p.runId.toString, java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      ops.map(_.numRowsTotal).sum, ops.map(_.commitTimeMs).sum,
      ops.map(_.memoryUsedBytes).sum)
  }

  def clear(): Unit = synchronized { batches.clear() }
}
