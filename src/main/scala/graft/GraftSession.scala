package graft

import org.apache.spark.sql.SparkSession

/** The one local session builder behind Bench, Probe, Verify and the
  * specs, so every entry point runs the queries under the same confs. */
object GraftSession {

  /** `local[cpus]` with one shuffle partition per core, UTC session
    * time, no UI and WARN logging. `overrides` are applied last.
    *
    * `spark.sql.legacy.parquet.nanosAsLong`: events.parquet may carry
    * TIMESTAMP(NANOS) ts values, which Spark reads only as long under
    * this conf (QueriesOps.events converts them). */
  def local(cpus: Int, overrides: (String, String)*): SparkSession = {
    val confs = Seq(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false") ++ overrides
    val s = confs.foldLeft(SparkSession.builder().master(s"local[$cpus]").appName("graft")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
