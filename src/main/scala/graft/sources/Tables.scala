package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loader for the fixture tables (TPC-H-ish star schema + events/documents/
  * embeddings, see TESTDATA.md). One parquet file per table; Spark's
  * vectorized parquet reader + Catalyst column pruning / predicate pushdown
  * make `load` the only scan primitive the whole engine needs for file data.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, dir) else spark.read.parquet(s"$dir/$name.parquet")

  /** [[load]] with the input-skew remedy (guide §2.5): a table stored as
    * one file with one row group scans as ONE task no matter how many
    * cores the session has — parquet's split granularity is the row
    * group — and every scan-side kernel pass downstream (text kernels,
    * vector kernels, explodes, broadcast lookups, map-side partial
    * aggregation) inherits that single task. Measured at sf0.1/local[32]
    * (r19): the langid chain ran its whole scoring scan on one core —
    * the mechanism behind the 8-core board beating the 32-core board
    * across the kernel families. The standard fix is "repartition
    * immediately after the read": when the scan plans FEWER partitions
    * than the session's parallelism, spread it round-robin to the
    * parallelism; otherwise — every production layout, where file count
    * alone exceeds core count — this is a no-op by construction, so
    * nothing here is local-mode tuning. The round-robin exchange is
    * deterministic (sort-before-repartition is on by default) and every
    * operator in the engine is partition-order-free (the oracle
    * discipline), so results are unchanged — the tri-scale gate pins
    * that.
    *
    * OPT-IN per call site, not folded into [[load]]: the exchange plus
    * its AQE stage cost a fixed ~0.1–0.3 s per evaluation at any data
    * size, which only kernel-dominated queries recoup — measured on the
    * full board, spreading every scan cut the kernel families 2–8×
    * while taxing ~115 sub-second scan/aggregate gates ~0.3–0.7 s each.
    * The under-parallelized-scan check itself is memoized per
    * (path, parallelism) — the file layout is static within a session,
    * and re-planning the probe scan per evaluation measured ~0.2 s.
    */
  def loadSpread(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = load(spark, dir, name)
    val par = spark.sparkContext.defaultParallelism
    val key = (s"$dir/$name", par)
    val needs = spreadDecision.computeIfAbsent(key, _ => df.rdd.getNumPartitions < par)
    if (needs) df.repartition(par) else df
  }

  /** Plan-shape memo for [[loadSpread]]'s probe — a boolean per
    * (path, parallelism), never data. */
  private val spreadDecision =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), java.lang.Boolean]()

  /** The events fixture stores `ts` as parquet TIMESTAMP(NANOS), which Spark
    * refuses by default (PARQUET_TYPE_ILLEGAL). Read the raw nanos as long
    * and truncate to microseconds with integer division — the same
    * truncation DuckDB applies, so event-time results hash-match the oracle.
    */
  private def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }
}
