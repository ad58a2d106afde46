package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the configuration the engine assumes everywhere.
  *
  * Tuned for the harness (local[N], one JVM) but every knob is the one you
  * would set on a real cluster: AQE on (runtime re-planning, skew-join
  * splitting, partition coalescing), shuffle partitions sized to the
  * parallelism actually available instead of the 200 default, UTC session
  * time zone so timestamp semantics match the DuckDB oracle bit-for-bit,
  * and a `file:` filesystem that sets permissions without starting a
  * `chmod` process ([[graft.sources.PosixLocalFileSystem]]).
  */
object GraftSession {

  /** Shuffle partitions default to the requested core count: at local[32]
    * a 200-partition shuffle is 6x scheduling overhead for zero parallelism
    * gain; on a real cluster callers override via --conf.
    */
  def builder(appName: String, cores: String): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.PosixLocalFileSystem].getName)
      // bucketed writes go through saveAsTable; root the warehouse in
      // tmpdir so managed tables never land in the (possibly read-only /
      // non-repo) current working directory
      .config(
        "spark.sql.warehouse.dir",
        sys.props("java.io.tmpdir").stripSuffix("/") + "/graft-warehouse"
      )

  def local(appName: String = "graft", cores: Int = 32): SparkSession = {
    val spark = builder(appName, cores.toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
