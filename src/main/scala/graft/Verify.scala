package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Hardened after the round-9 gate zeroed to `{}` (VERDICT r09 #1):
  *  - `oracle_sql.json` is written FIRST — it depends on nothing computed
  *    in the dump loop, so a wall-clock-truncated run still hands the
  *    driver the oracle map for every query that did land;
  *  - the dump loop runs CHEAP-FIRST ([[QueryCost]] anchors), so a
  *    truncated run records the maximum number of green rows;
  *  - the default core count is the host's (was a fixed 4 — the dump
  *    phase is embarrassingly parallel across a query's 32 shuffle
  *    partitions, and 4 threads ran the 141-query loop at ~22 min).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [nameSubstring ...] — the optional filters run a
    // subset while iterating locally; the driver passes exactly two args
    val (sfDir, outDir) = (args(0), args(1))
    val names = QueryCost.selected(args.drop(2).toSeq)
    val cpus = sys.env.getOrElse(
      "SPARK_GRAFT_CPUS",
      math.min(Runtime.getRuntime.availableProcessors, 32).toString
    )
    // the engine's own session config (AQE, UTC, extensions) — correctness
    // must be verified under the same planner the bench and users run
    val spark = GraftSession.builder("graft-verify", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracle map BEFORE the dump loop, emitted in the same cheap-first
    // order as the dumps (python dicts preserve insertion order, so a
    // budgeted compare phase also reaches the cheap gates first)
    val oracle = SparkEntry.oracleSql
    val json = names
      .filter(oracle.contains)
      .map(k => s"${q(k)}: ${q(oracle(k))}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val queries = SparkEntry.queries
    // Round-13 (VERDICT r12 #1): the sequential 174-query loop took
    // ~6.5 min — dominated by per-query planning/scheduling latency, not
    // compute, at sf0.01 — and contributed to the driver gate overrunning
    // its budget three rounds straight. The dump is embarrassingly
    // parallel across queries (every query writes its OWN outDir/<name>
    // and its OWN dumpPath artifact; the one temp view is private to its
    // query), so run it on a bounded worker pool. Submission order stays
    // cheap-first, so a budget-truncated run still lands the maximum
    // number of green rows.
    val par = math.max(1, sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "8").toInt)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    try {
      names.map { name =>
        pool.submit(new Runnable {
          def run(): Unit =
            try queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            catch { case e: Throwable =>
              System.err.println(s"[verify] $name failed: ${e.getMessage}")
            }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    spark.stop()
  }
}
