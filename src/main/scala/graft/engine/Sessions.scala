package graft.engine

import org.apache.spark.sql.SparkSession

/** Shared SparkSession configuration so Verify, Bench, and tests all run the
  * engine under identical semantics. */
object Sessions {
  /** Configs every graft session needs regardless of entry point. */
  def withGraftConf(b: SparkSession.Builder): SparkSession.Builder =
    b
      // native codegen'd vector kernels (fvec_dot / fvec_l2sq)
      .withExtensions(graft.engine.expr.GraftExtensions.install)
      // events.parquet carries TIMESTAMP(NANOS); map it to epoch-ns BIGINT and
      // let Tables.events normalize to µs TimestampType (Spark's native unit).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // AQE re-plans joins/skew from runtime stats — the 100 TB posture.
      .config("spark.sql.adaptive.enabled", "true")
      // bucketed-table demos write managed tables; keep them out of the repo
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")

  def local(cores: Int, shufflePartitions: Int): SparkSession = {
    val s = withGraftConf(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
