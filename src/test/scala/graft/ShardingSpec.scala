package graft

import graft.sources.{ParquetLayout, ShardedParquetSink}
import org.apache.spark.sql.functions._

/** O9–O11 invariants (SURVEY.md §5): for arbitrary row counts vs
  * maxRecordsPerFile — including the tail-flush and the n < max cases —
  * Σ per-file footer rows = input rows, no file exceeds the cap, and the
  * read-back schema matches what was written. Multi-partition inputs
  * exercise the per-task split the q50 oracle entry (single-partition,
  * deterministic file count) deliberately avoids.
  */
class ShardingSpec extends SparkSpec {

  private def roundTrip(n: Long, maxPerFile: Long, parts: Int): Unit = {
    val dir = s"$testOut/shard_${n}_${maxPerFile}_$parts"
    val df = spark
      .range(n)
      .repartition(parts)
      .select(col("id"), (col("id") % 7).as("grp"), concat(lit("row-"), col("id")).as("payload"))
    ShardedParquetSink.write(df, dir, ParquetLayout(maxRecordsPerFile = maxPerFile))
    val report = ShardedParquetSink.readBackReport(spark, dir)
    assert(report.totalRows == n, s"total rows $n")
    assert(report.shards.forall(_.rows <= maxPerFile), "per-file cap")
    assert(report.shards.forall(_.rows > 0), "no empty shards")
    // parquet round-trips drop NOT NULL (file formats store everything
    // nullable) — names and types must survive exactly
    assert(
      spark.read.parquet(dir).schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        df.schema.fields.map(f => (f.name, f.dataType)).toSeq,
      "column names and types survive round-trip"
    )
    // at least ceil(n / maxPerFile) files regardless of partitioning
    assert(report.numFiles >= ((n + maxPerFile - 1) / maxPerFile).toInt)
  }

  test("sharding invariant: tail flush, multi-partition") { roundTrip(10237, 1000, 4) }
  test("sharding invariant: exact multiple") { roundTrip(4000, 1000, 2) }
  test("sharding invariant: n < maxRecordsPerFile") { roundTrip(37, 1000, 3) }
  test("sharding invariant: single row") { roundTrip(1, 1000, 1) }
  test("ParquetLayout.forWideRows: shard-size targeting as API (VERDICT r15 №5)") {
    // the measured rule: maxRecordsPerFile = targetShardBytes / avgRowBytes
    assert(ParquetLayout.forWideRows(1024 * 1024).maxRecordsPerFile === 512L,
      "1 MiB rows at the 512 MiB default target -> 512 rows per shard")
    assert(ParquetLayout.forWideRows(4L * 1024 * 1024).maxRecordsPerFile === 128L)
    assert(ParquetLayout.forWideRows(2048, targetShardBytes = 1024 * 1024).maxRecordsPerFile === 512L)
    // a row wider than the target still writes — one row per file, never zero
    assert(ParquetLayout.forWideRows(10, targetShardBytes = 4).maxRecordsPerFile === 1L)
    // everything else stays at the measured-safe defaults
    val d = ParquetLayout()
    val w = ParquetLayout.forWideRows(1024 * 1024)
    assert((w.rowGroupBytes, w.pageBytes, w.codec) === ((d.rowGroupBytes, d.pageBytes, d.codec)))
    intercept[IllegalArgumentException](ParquetLayout.forWideRows(0))
    intercept[IllegalArgumentException](ParquetLayout.forWideRows(1, targetShardBytes = 0))
    // and the knob drives the real write path: ~2 KiB rows at a 64 KiB
    // target -> 32-row shards, footer-verified
    val dir = s"$testOut/shard_wide"
    val wide = spark.range(100).select(col("id"), rpad(lit("x"), 2048, "x").as("payload")).coalesce(1)
    ShardedParquetSink.write(wide, dir, ParquetLayout.forWideRows(2048, targetShardBytes = 64 * 1024))
    val report = ShardedParquetSink.readBackReport(spark, dir)
    assert(report.totalRows === 100L)
    assert(report.shards.forall(_.rows <= 32L), "per-file cap from the wide-row rule")
    assert(report.numFiles >= 4)
  }

  test("readBackReport: the distributed footer walk == the driver pool, shard for shard (r16)") {
    val dir = s"$testOut/shard_dist_report"
    val df = spark
      .range(5000)
      .repartition(4)
      .select(col("id"), concat(lit("row-"), col("id")).as("payload"))
    ShardedParquetSink.write(df, dir, ParquetLayout(maxRecordsPerFile = 100))
    // ~13 files per task partition -> >= 50 shards; force both paths
    val pooled = ShardedParquetSink.readBackReport(spark, dir)
    val distributed = ShardedParquetSink.readBackReport(spark, dir, distributedThreshold = 1)
    assert(pooled.shards.size >= 50, s"need enough shards to mean anything: ${pooled.shards.size}")
    assert(distributed.shards === pooled.shards, "same shards, same counts, same order")
    assert(distributed.schemaDdl === pooled.schemaDdl)
    assert(distributed.totalRows === 5000L)
  }

  test("readBackReport: the footer schema is spark.read.parquet's, and every shard must carry it") {
    val dir = s"$testOut/shard_footer_schema"
    val df = spark
      .range(40)
      .select(
        col("id"),
        when(col("id") % 5 =!= 0, struct(col("id").as("a"), concat(lit("s"), col("id")).as("b"))).as("st"),
        when(col("id") % 4 =!= 0, array(col("id"), lit(null).cast("long"))).as("arr"),
        when(col("id") % 3 =!= 0, map(concat(lit("k"), col("id")), col("id") * 2)).as("m"),
        when(col("id") % 2 =!= 0, (col("id") / 7).cast("decimal(12,3)")).as("dec"),
        when(col("id") % 6 =!= 0, date_add(lit("2020-01-01").cast("date"), col("id").cast("int"))).as("d"),
        when(col("id") % 7 =!= 0, timestamp_seconds(col("id") * 3600)).as("ts"),
        when(col("id") % 8 =!= 0, col("id").cast("string").cast("binary")).as("bin"),
        lit(1).as("not_null")
      )
      .repartition(3)
    ShardedParquetSink.write(df, dir)
    def report(threshold: Int) =
      ShardedParquetSink.readBackReport(spark, dir, distributedThreshold = threshold)
    val expected = spark.read.parquet(dir).schema.toDDL
    assert(report(ShardedParquetSink.DistributedReportThreshold).schemaDdl === expected)
    assert(report(1).schemaDdl === expected, "the distributed walk reads the same schema")
    assert(report(1).totalRows === 40L)
    // a shard with another schema makes the directory two datasets
    spark.range(3).write.mode("append").parquet(dir)
    for (threshold <- Seq(ShardedParquetSink.DistributedReportThreshold, 1)) {
      val e = intercept[IllegalArgumentException](report(threshold))
      assert(e.getMessage.contains("disagree on the schema"), e.getMessage)
    }
    // no shards: a named refusal, not UNABLE_TO_INFER_SCHEMA
    val emptyDir = new java.io.File(s"$testOut/shard_no_files")
    org.apache.commons.io.FileUtils.deleteDirectory(emptyDir)
    emptyDir.mkdirs()
    val e = intercept[IllegalArgumentException](ShardedParquetSink.readBackReport(spark, emptyDir.getPath))
    assert(e.getMessage.contains("no parquet shards"), e.getMessage)
  }

  test("ParquetLayout.writerOptions carries the four layout values") {
    def opts(maxRecords: String) = Map(
      "maxRecordsPerFile" -> maxRecords,
      "parquet.block.size" -> "134217728",
      "parquet.page.size" -> "1048576",
      "compression" -> "snappy"
    )
    assert(ParquetLayout().writerOptions === opts("524288"))
    assert(ParquetLayout.forWideRows(1 << 20).writerOptions === opts("512"))
  }

  test("sharding invariant: reference layout constant 2^19") {
    assert(ParquetLayout().maxRecordsPerFile == 524288L)
  }

  test("writeNamed: the reference's omop_notes.{N}.parquet template, content transparent") {
    val dir = s"$testOut/shard_named"
    val df = spark
      .range(1050)
      .coalesce(1)
      .select(col("id"), concat(lit("row-"), col("id")).as("payload"))
    val paths = ShardedParquetSink.writeNamed(df, dir, "omop_notes", ParquetLayout(maxRecordsPerFile = 400L))
    // dump_table.py:157 template, N sequential from 0, no part-* residue
    assert(paths.size == 3)
    paths.zipWithIndex.foreach { case (p, i) =>
      assert(p.endsWith(s"omop_notes.$i.parquet"), s"template name: $p")
    }
    val listed = new java.io.File(dir).listFiles().map(_.getName).filter(_.endsWith(".parquet")).sorted
    assert(listed.toSeq == Seq("omop_notes.0.parquet", "omop_notes.1.parquet", "omop_notes.2.parquet"))
    // read-back verification still works on the renamed files, and the
    // content round-trips exactly
    val report = ShardedParquetSink.readBackReport(spark, dir)
    assert(report.totalRows == 1050L)
    assert(report.shards.map(_.rows) == Seq(400L, 400L, 250L))
    assert(spark.read.parquet(dir).count() == 1050L)
    assert(
      spark.read.parquet(dir).agg(sum(col("id"))).head.getLong(0) ==
        (0L until 1050L).sum
    )
    intercept[IllegalArgumentException](ShardedParquetSink.writeNamed(df, dir, "a/b"))
  }

  test("shard listing is NUMERIC, not lexicographic (ADVICE r11): unpadded names past 9") {
    // the renamed `<table>.N.parquet` form is unpadded, so a name sort
    // misorders at 10 files ("t.10.parquet" < "t.9.parquet"); the
    // read-back report must walk shards 0,1,…,11 in numeric order
    val dir = s"$testOut/shard_numorder"
    val df = spark
      .range(1200)
      .coalesce(1)
      .select(col("id"), concat(lit("row-"), col("id")).as("payload"))
    val paths = ShardedParquetSink.writeNamed(df, dir, "t", ParquetLayout(maxRecordsPerFile = 100L))
    assert(paths.size == 12)
    paths.zipWithIndex.foreach { case (p, i) => assert(p.endsWith(s"t.$i.parquet"), p) }
    val report = ShardedParquetSink.readBackReport(spark, dir)
    val idx = report.shards.map(s => s.path.split('.').dropRight(1).last.toInt)
    assert(idx == (0 until 12), s"numeric shard order, got $idx")
    // content transparent: every shard full except the deterministic tail
    assert(report.shards.map(_.rows) == Seq.fill(12)(100L))
  }

  test("shard listing is NUMERIC past the 5-digit task-id padding (ADVICE r11)") {
    // Spark pads task ids to 5 digits, so lexicographic order breaks at
    // 100000 ("part-100000…" < "part-99999…"); simulate the boundary by
    // cloning one real shard under both names and checking report order
    val srcDir = s"$testOut/shard_bigids_src"
    val dir = s"$testOut/shard_bigids"
    spark.range(10).coalesce(1).write.mode("overwrite").parquet(srcDir)
    val part = new java.io.File(srcDir).listFiles().filter(_.getName.endsWith(".parquet")).head
    val d = new java.io.File(dir); org.apache.commons.io.FileUtils.deleteDirectory(d); d.mkdirs()
    Seq("part-99998-a.snappy.parquet", "part-99999-a.snappy.parquet",
        "part-100000-a.snappy.parquet", "part-100001-a.snappy.parquet").foreach { n =>
      java.nio.file.Files.copy(part.toPath, new java.io.File(d, n).toPath)
    }
    val report = ShardedParquetSink.readBackReport(spark, dir)
    val ids = report.shards.map(s => s.path.split('/').last.split('-')(1).toLong)
    assert(ids == Seq(99998L, 99999L, 100000L, 100001L), s"numeric order past padding, got $ids")
  }
}
