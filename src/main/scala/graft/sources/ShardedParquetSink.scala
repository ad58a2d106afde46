package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** Output layout knobs, defaulting to the reference's tuning envelope
  * (`dump_table.py:182-190`; `readme.md:15`): ~524k-row shards
  * (rows_per_pq_file = 2^19), 1 MiB pages, and a row-group target. The
  * reference expresses row groups in rows (2^17); parquet-mr expresses them
  * in bytes (`parquet.block.size`), so the default here is 128 MiB — the
  * parquet-mr default, which lands in the same "a few row groups per shard"
  * envelope the reference tuned for.
  *
  * WIDE-TEXT GUIDANCE (measured, BASELINE.md "Round-15 LOB-scale dump
  * smoke"): the row-count template assumes narrow OMOP rows. For LOB
  * tables (multi-MB `NOTE_TEXT`), override `maxRecordsPerFile ≈
  * targetShardBytes / avgRowBytes` (e.g. 512 for 1 MiB notes at a
  * 512 MiB shard target) — at the default a FULL 2^19-row shard of
  * 1 MiB notes would be ~0.5 TiB per file. Shard size is the only
  * thing at risk: write-side memory is bounded by ONE buffered row
  * group per open writer regardless of row width (measured
  * layout-insensitive), so keep `rowGroupBytes` at the default unless
  * task memory is genuinely tight, and throughput does not move.
  */
final case class ParquetLayout(
    maxRecordsPerFile: Long = 524288L, // 2^19, dump_table.py:182
    rowGroupBytes: Long = 128L * 1024 * 1024,
    pageBytes: Long = 1048576L, // 2^20, dump_table.py:189
    codec: String = "snappy"
)

object ParquetLayout {

  /** The measured wide-row rule as API (VERDICT r15 №5): a layout whose
    * shard size targets `targetShardBytes` given the table's average row
    * width — `maxRecordsPerFile = targetShardBytes / avgRowBytes`,
    * floored at one row per file. A user dumping multi-MB `NOTE_TEXT`
    * should not hand-compute the one knob that prevents a 0.5 TiB shard
    * (the default 2^19-row template at 1 MiB rows). Everything else
    * stays at the default on purpose: the LOB smoke measured write-side
    * memory bounded by one buffered row group per writer REGARDLESS of
    * row width, and throughput layout-insensitive — shard size is the
    * only thing at risk (BASELINE.md "Round-15 LOB-scale dump smoke").
    * `avgRowBytes` comes from the source's own stats (e.g.
    * `avg(octet_length(note_text))` on a sample, or the JDBC column
    * width) — estimate HIGH when unsure: the failure mode of a low
    * estimate is the oversized shard this exists to prevent.
    */
  def forWideRows(
      avgRowBytes: Long,
      targetShardBytes: Long = 512L * 1024 * 1024
  ): ParquetLayout = {
    require(avgRowBytes >= 1, s"need avgRowBytes >= 1, got $avgRowBytes")
    require(targetShardBytes >= 1, s"need targetShardBytes >= 1, got $targetShardBytes")
    ParquetLayout(maxRecordsPerFile = math.max(1L, targetShardBytes / avgRowBytes))
  }
}

/** One output shard as seen by the read-back verifier: path + footer row count. */
final case class ShardInfo(path: String, rows: Long)

/** Read-back verification report — parity with the reference's self-check
  * (`dump_table.py:235-248`): unified schema, per-file counts, total.
  */
final case class DumpReport(schemaDdl: String, shards: Seq[ShardInfo]) {
  def totalRows: Long = shards.map(_.rows).sum
  def numFiles: Int = shards.size
}

/** O9 + O10 + O11 (SURVEY.md §2): sharded parquet sink with layout control,
  * plus footer-only read-back verification.
  *
  * The reference hand-rolls file splitting with a flush buffer
  * (`dump_table.py:213-233`); Spark's `maxRecordsPerFile` performs the same
  * split exactly (and per-task, in parallel), with no driver-side buffering —
  * and unlike the reference it cannot OOM, because nothing accumulates rows
  * outside the streaming write path.
  */
object ShardedParquetSink {

  def write(df: DataFrame, outputDir: String, layout: ParquetLayout = ParquetLayout()): Unit =
    df.write
      .mode("overwrite")
      .option("maxRecordsPerFile", layout.maxRecordsPerFile)
      .option("parquet.block.size", layout.rowGroupBytes)
      .option("parquet.page.size", layout.pageBytes)
      .option("compression", layout.codec)
      .parquet(outputDir)

  /** [[write]] plus the reference's EXACT shard naming
    * (`dump_table.py:157`: `omop_notes.{N}.parquet`, N sequential from
    * 0): the parallel write runs unchanged, then the driver renames the
    * committed `part-*` files in their sorted (= partition-order) name
    * sequence — a pure FileSystem-metadata pass, one rename per shard
    * (a dump produces at most thousands), after the commit protocol has
    * already made the output durable. Returns the renamed paths in
    * shard order. This closes the one layout difference SURVEY §7
    * documented as a trade: downstream tooling keyed on the reference's
    * template now reads this engine's output unmodified.
    */
  def writeNamed(
      df: DataFrame,
      outputDir: String,
      table: String,
      layout: ParquetLayout = ParquetLayout()
  ): Seq[String] = {
    require(table.nonEmpty && !table.contains("/"), s"bad table name: '$table'")
    write(df, outputDir, layout)
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val dir = new Path(outputDir)
    val fs = dir.getFileSystem(conf)
    listParquetFiles(conf, outputDir).zipWithIndex.map { case (p, i) =>
      val target = new Path(dir, s"$table.$i.parquet")
      require(fs.rename(p, target), s"rename failed: $p -> $target")
      target.toString
    }
  }

  /** How many shards the driver-side footer pool handles before
    * [[readBackReport]] distributes the walk as an executor job: under
    * it, a 32-thread driver pool finishes in well under a second with
    * no job-scheduling overhead; past it (a 100 TB dump at the 512 MiB
    * envelope is ~200k shards) the driver would serialize hundreds of
    * thousands of metadata round-trips through one host's NIC.
    */
  val DistributedReportThreshold: Int = 4096

  /** O11: verify the output directory from parquet FOOTERS only — no
    * data pages are read, matching the reference's fragment-metadata walk
    * (`dump_table.py:243-248`). Each shard's footer is opened once and
    * gives both its row count and its Spark schema (Spark's own footer
    * reader, made nullable as a file relation reports it, so the DDL is
    * `spark.read.parquet(dir).schema.toDDL` without a Spark job or a file
    * index). Every shard must carry the same schema — the reference's
    * unified-schema check (`dump_table.py:235-248`) — and a directory
    * with no shards is refused by name.
    */
  def readBackReport(
      spark: SparkSession,
      outputDir: String,
      distributedThreshold: Int = DistributedReportThreshold
  ): DumpReport = footerReport(spark, Seq(outputDir), distributedThreshold)

  /** [[readBackReport]] over the shards of every directory in `dirs`, in
    * (directory, shard index) order: one footer walk for a dump written
    * to several directories (a resumable dump's chunks). Each directory
    * must hold at least one shard, and `distributedThreshold` counts the
    * shards of all of them.
    */
  private[sources] def footerReport(
      spark: SparkSession,
      dirs: Seq[String],
      distributedThreshold: Int = DistributedReportThreshold
  ): DumpReport = {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val files = dirs.flatMap { dir =>
      val shards = listParquetFiles(hadoopConf, dir)
      require(shards.nonEmpty, s"read-back: no parquet shards in $dir")
      shards
    }
    // the session's SQL confs carry the schema converter's settings
    val sqlConfs = spark.conf.getAll
    // Footer reads are independent metadata IO — concurrent driver pool
    // up to the threshold, executor job past it; both keep `files`' order
    val footers =
      if (files.size <= distributedThreshold) {
        val read = footerReader(hadoopConf, sqlConfs)
        val pool =
          java.util.concurrent.Executors.newFixedThreadPool(math.min(32, files.size))
        try {
          val futures = files.map(p => pool.submit(new java.util.concurrent.Callable[ShardFooter] {
            def call(): ShardFooter = read(p)
          }))
          futures.map(_.get())
        } finally pool.shutdown()
      } else {
        // ship the hadoop conf as its entry map (Configuration is not
        // serializable; executors overlay the driver's entries on their
        // own defaults), fan the path list out ~1k paths per task, and
        // collect one tiny footer summary per shard — driver memory stays
        // O(shards), the IO runs cluster-wide, and collect returns the
        // partitions' slices of the list in order
        val entries = {
          val it = hadoopConf.iterator()
          val b = Seq.newBuilder[(String, String)]
          while (it.hasNext) { val e = it.next(); b += ((e.getKey, e.getValue)) }
          b.result()
        }
        val tasks = math.max(1, math.min(files.size / 1024 + 1, 10000))
        spark.sparkContext
          .parallelize(files.map(_.toString), tasks)
          .mapPartitions { paths =>
            val c = new Configuration()
            entries.foreach { case (k, v) => c.set(k, v) }
            val read = footerReader(c, sqlConfs)
            paths.map(p => read(new Path(p)))
          }
          .collect()
          .toSeq
      }
    val schema = footers.head.schema
    val other = footers.find(_.schema != schema)
    require(
      other.isEmpty,
      s"read-back: shards disagree on the schema: ${footers.head.path} has " +
        s"${schema.toDDL} but ${other.get.path} has ${other.get.schema.toDDL}"
    )
    DumpReport(schema.toDDL, footers.map(f => ShardInfo(f.path, f.rows)))
  }

  /** One shard's footer as the read-back sees it. */
  private final case class ShardFooter(path: String, rows: Long, schema: StructType)

  /** A footer reader: opens a shard's footer once for its row count and
    * nullable Spark schema, converted under the session's `sqlConfs`.
    */
  private def footerReader(conf: Configuration, sqlConfs: Map[String, String]): Path => ShardFooter = {
    val sqlConf = new SQLConf
    sqlConfs.foreach { case (k, v) => sqlConf.setConfString(k, v) }
    val converter = new ParquetToSparkSchemaConverter(sqlConf)
    file => {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      try {
        val footer = reader.getFooter
        ShardFooter(
          file.toString,
          footer.getBlocks.asScala.map(_.getRowCount.longValue).sum,
          ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer), converter).toNullable
        )
      } finally reader.close()
    }
  }

  // Spark task files (`part-00042-<uuid>…parquet`) and this sink's renamed
  // shards (`<table>.42.parquet`) both carry their shard index numerically.
  private val SparkPartName = """part-(\d+)\D.*""".r
  private val NamedShard = """.*\.(\d+)\.parquet""".r

  /** (ADVICE r11) Shard index parsed from the file name, for NUMERIC
    * ordering: lexicographic name sort misorders once indices outgrow
    * their zero-padding (Spark pads task ids to 5 digits, so
    * `part-100000` < `part-99999`; the renamed form is unpadded and
    * misorders at 10 files). Unrecognized names sort last, by name —
    * deterministic, and impossible for the two layouts this sink
    * produces and reads back.
    */
  private def shardIndex(name: String): Long = name match {
    case SparkPartName(d) => d.toLong
    case NamedShard(d) => d.toLong
    case _ => Long.MaxValue
  }

  private def listParquetFiles(conf: Configuration, dir: String): Seq[Path] = {
    val path = new Path(dir)
    val fs = path.getFileSystem(conf)
    fs.listStatus(path)
      .toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath)
      .sortBy(p => (shardIndex(p.getName), p.getName))
  }
}
