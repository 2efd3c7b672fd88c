package graft

import org.apache.spark.sql.SparkSession

/** Shared local-session factory for the harness mains (Bench, Verify,
  * Plans, ExportDemo): ONE place for the conf every entry point needs —
  * UTC session zone, TIMESTAMP(NANOS) parquet tolerance (see
  * Tables.events), shuffle partitions = cores, and the fork-free local
  * file system ([[ForklessLocalFs]]) for both Hadoop file APIs. Hadoop
  * caches `FileSystem` instances by scheme and user, not by conf, so the
  * session must exist before anything in the JVM calls `FileSystem.get`
  * on a `file://` path. Per-main differences
  * (AQE on for bench, off for static plan audits) are explicit
  * parameters instead of copy-paste drift. */
object LocalSpark {
  def session(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"),
              aqe: Option[Boolean] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.hadoop.fs.file.impl",
        classOf[ForklessLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[ForklessLocalFs].getName)
    aqe.foreach(v => b.config("spark.sql.adaptive.enabled", v.toString))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
