package graft.operators

import graft.sources.{DumpReport, NoteSource, ParquetLayout, ShardedParquetSink}
import org.apache.spark.sql.SparkSession

/** M0 parity pipeline (SURVEY.md §7): the reference's entire `main`
  * (`dump_table.py:175-248`) as one declarative Spark job —
  * scan → optional LIMIT → sharded parquet write → footer read-back report.
  *
  * Semantics preserved from the reference:
  *  - LIMIT without ORDER BY takes an arbitrary subset (`dump_table.py:94`);
  *    callers must only rely on the count, never on which rows.
  *  - grab-everything mode omits the limit entirely instead of limiting to a
  *    pre-counted (and possibly stale) total — fixing the count/scan race
  *    noted in SURVEY.md §3.4 (`dump_table.py:192-197`).
  *  - the post-write self-check re-opens the directory and proves schema
  *    unity + per-file/total row counts from footers (`dump_table.py:235-248`).
  *
  * Scale design: the scan parallelizes via JDBC range partitions or parquet
  * splits. Without a limit, or with one above the source count (which is
  * then dropped, see below), the write is shuffle-free: scan partitions
  * stream straight into shard files, split at `maxRecordsPerFile`. A limit
  * at or below the count over a multi-partition scan plans a global LIMIT,
  * which gathers the rows into one writer task. Nothing is collected on the
  * driver at any size.
  */
object OmopDump {

  final case class Result(report: DumpReport, sourceCount: Long)

  def run(
      spark: SparkSession,
      source: NoteSource,
      outputDir: String,
      limit: Option[Long] = Some(2000000L), // DEFAULT_N_TO_FETCH, dump_table.py:28
      layout: ParquetLayout = ParquetLayout()
  ): Result = {
    // O2 parity: count at the source before the dump (dump_table.py:192).
    val sourceCount = source.countAtSource(spark)
    val scanned = source.scan(spark)
    val limited = limit.fold(scanned) { n =>
      // A silent clamp would dump fewer rows than asked — fail loudly; the
      // reference's own > 2^31 case is GRAB_EVERYTHING (limit = None).
      require(
        n > 0 && n <= Int.MaxValue,
        s"limit $n out of range (1..${Int.MaxValue}); use grab-everything (no limit) beyond that"
      )
      // A limit above the count cannot bite, and the read-back check below
      // accepts the same outcomes without it; applied, it would shuffle
      // every row into one writer task.
      if (n <= sourceCount) scanned.limit(n.toInt) else scanned
    }
    ShardedParquetSink.write(limited, outputDir, layout)
    val report = ShardedParquetSink.readBackReport(spark, outputDir)
    val expected = limit.fold(sourceCount)(n => math.min(n, sourceCount))
    require(
      report.totalRows == expected,
      s"read-back total ${report.totalRows} != expected $expected"
    )
    Result(report, sourceCount)
  }
}
