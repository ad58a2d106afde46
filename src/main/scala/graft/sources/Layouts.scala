package graft.sources

import org.apache.spark.sql.DataFrame

final case class CompactReport(rows: Long, filesBefore: Int, filesAfter: Int)

/** Storage-layout strategies beyond flat sharding — the two levers that
  * matter most for downstream reads at 100 TB:
  *
  *  - PARTITIONED layout (`partitionBy`): directory-encoded key columns.
  *    Readers filtering on the partition key scan only matching
  *    directories (partition pruning — `PartitionFilters` in the plan),
  *    turning a full-corpus scan into a touched-partitions scan.
  *  - BUCKETED layout (`bucketBy` + `sortBy`, table-managed): rows
  *    hash-bucketed on the join key at WRITE time. Two tables bucketed the
  *    same way join with NO shuffle exchange — the join that dominates a
  *    pipeline's cost runs co-located, paid once at ingest instead of on
  *    every query.
  *
  * Both compose with [[ParquetLayout]]'s file knobs.
  */
object Layouts {

  def writePartitioned(
      df: DataFrame,
      dir: String,
      partitionCols: Seq[String],
      layout: ParquetLayout = ParquetLayout()
  ): Unit =
    df.write
      .mode("overwrite")
      .partitionBy(partitionCols: _*)
      .options(layout.writerOptions)
      .parquet(dir)

  /** Bucketed + sorted table write (bucketing lives in the catalog, so
    * this goes through `saveAsTable`). Join two tables written with the
    * same `buckets`/`key` and the exchange disappears from the plan.
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      buckets: Int,
      key: String,
      layout: ParquetLayout = ParquetLayout()
  ): Unit = {
    // a fresh in-memory catalog forgets managed tables from previous
    // sessions but their directories survive in the warehouse, and
    // saveAsTable refuses to adopt an existing location — drop both the
    // catalog entry and any stale directory so overwrite means overwrite
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val path = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"), table)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) fs.delete(path, true)
    df.write
      .mode("overwrite")
      .format("parquet")
      .option("maxRecordsPerFile", layout.maxRecordsPerFile)
      .option("compression", layout.codec)
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(table)
  }

  /** Small-file compaction — the maintenance operator every long-running
    * ingest needs: streaming/micro-batch writers leave thousands of tiny
    * files whose per-file open/footer cost eventually dominates scans.
    * Rewrites `srcDir` into `destDir` as exactly ⌈rows /
    * targetRecordsPerFile⌉ files, one per round-robin shuffle partition.
    * The shuffle is deliberate: `coalesce` would be free but can only
    * merge whole input partitions, so it inherits their skew and can
    * never split an oversized one. File SIZES are approximately even —
    * round-robin balance is exact only within each input partition, so a
    * file can exceed the target by up to the input-partition count; the
    * file COUNT is what the operator guarantees (deliberately no
    * maxRecordsPerFile here — a splitter would turn a slightly-over
    * partition back into a tiny-file pair, recreating the problem being
    * fixed). Compaction runs rarely and off the hot path. Cannot compact
    * in place (Spark cannot overwrite a path it is reading); callers swap
    * directories after the report comes back.
    */
  def compact(
      spark: org.apache.spark.sql.SparkSession,
      srcDir: String,
      destDir: String,
      targetRecordsPerFile: Long,
      layout: ParquetLayout = ParquetLayout()
  ): CompactReport = {
    def parquetFiles(dir: String): Int = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) 0
      else
        fs.listStatus(p).count { st =>
          st.isFile && st.getPath.getName.endsWith(".parquet")
        }
    }
    val df = spark.read.parquet(srcDir)
    val rows = df.count()
    val parts = math.max(1L, (rows + targetRecordsPerFile - 1) / targetRecordsPerFile).toInt
    df.repartition(parts)
      .write
      .mode("overwrite")
      .option("parquet.block.size", layout.rowGroupBytes)
      .option("parquet.page.size", layout.pageBytes)
      .option("compression", layout.codec)
      .parquet(destDir)
    CompactReport(rows, parquetFiles(srcDir), parquetFiles(destDir))
  }
}
