package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block launches, by job tag. */
object JobCount {
  private def tagged[T](spark: SparkSession, tag: String)(body: => T): T = {
    spark.sparkContext.addJobTag(tag)
    try body finally spark.sparkContext.removeJobTag(tag)
  }

  /** The number of Spark jobs `body` launches under `tag`. The listener
    * bus delivers events in order, so once a later marker job's start is
    * seen, every job `body` launched has been seen too. */
  def launched(spark: SparkSession, tag: String)(body: => Unit): Int = {
    val seen = new ConcurrentLinkedQueue[Set[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .fold(Set.empty[String])(_.split(",").toSet))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      tagged(spark, tag)(body)
      val marker = s"$tag-marker"
      tagged(spark, marker)(spark.sparkContext.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(_.contains(marker)) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.asScala.exists(_.contains(marker)), "listener never saw the marker job")
      seen.asScala.count(_.contains(tag))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
