package graft

import graft.operators.OmopDump
import graft.sources.{KeyRange, NoteSource, ParquetLayout, ParquetNoteSource, ResumableDump}
import org.apache.spark.sql.functions._

/** The parity pipeline end-to-end (dump_table.py:175-248 semantics):
  * limit mode caps at min(n, |table|), grab-everything dumps all rows,
  * out-of-range limits fail loudly instead of silently clamping.
  */
class DumpSpec extends SparkSpec {

  private def src(coalesce: Option[Int] = None) =
    new ParquetNoteSource(s"$Sf0001/documents.parquet", coalesce)

  private lazy val total = src().countAtSource(spark)

  test("limit mode: exactly min(n, count) rows round-trip") {
    val res = OmopDump.run(spark, src(), s"$testOut/dump_limit", Some(7L), ParquetLayout(maxRecordsPerFile = 5L))
    assert(res.report.totalRows == math.min(7L, total))
    assert(res.sourceCount == total)
  }

  test("limit larger than table: whole table") {
    val res =
      OmopDump.run(spark, src(), s"$testOut/dump_biglimit", Some(total + 1000), ParquetLayout())
    assert(res.report.totalRows == total)
  }

  test("grab-everything mode: no limit, all rows") {
    val res = OmopDump.run(spark, src(), s"$testOut/dump_all", None, ParquetLayout(maxRecordsPerFile = 11L))
    assert(res.report.totalRows == total)
    assert(res.report.shards.forall(_.rows <= 11L))
  }

  test("limit beyond Int.MaxValue fails loudly (no silent clamp)") {
    intercept[IllegalArgumentException] {
      OmopDump.run(spark, src(), s"$testOut/dump_huge", Some(Int.MaxValue.toLong + 1), ParquetLayout())
    }
  }

  test("DumpProgress: per-task progress ticks during the dump, totals exact (tqdm parity)") {
    // the reference ticks a bar per fetchmany batch (dump_table.py:209-213);
    // the Spark analog ticks per completed write task with cumulative rows
    // from executor-reported output metrics — assert the LIVE ticks fired
    // during a real multi-shard dump and the drained total is exact
    import scala.jdk.CollectionConverters._
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val (res, progress) = graft.sources.DumpProgress.withProgress(
      spark, "omop_notes", s => { lines.add(s); () }) {
      OmopDump.run(spark, src(), s"$testOut/dump_progress", None, ParquetLayout(maxRecordsPerFile = 11L))
    }
    assert(progress.rowsWritten === res.report.totalRows, "drained listener total == footer total")
    assert(progress.writeTasksCompleted >= 1L)
    assert(!lines.isEmpty, "at least one live progress tick")
    assert(lines.asScala.forall(_.contains("omop_notes")), s"ticks name the table: $lines")
    // cumulative: the last tick reports the full row count
    assert(lines.asScala.last.contains(f"${res.report.totalRows}%,d"))
  }

  test("DumpProgress: a concurrent writer thread's rows do not tick into the dump's count") {
    // the writer thread exists before withProgress, so it does not carry
    // the dump's job tag; it writes once before the dump starts (while the
    // listener is attached) and keeps writing until the dump returns
    val go = new java.util.concurrent.CountDownLatch(1)
    val firstWrite = new java.util.concurrent.CountDownLatch(1)
    @volatile var stop = false
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val writer = new Thread(() =>
      try {
        go.await()
        while (!stop) {
          spark.range(0L, 500L, 1L, 2).write.mode("overwrite").parquet(s"$testOut/dump_progress_other")
          firstWrite.countDown()
        }
      } catch { case t: Throwable => failure.set(t); firstWrite.countDown() }
    )
    writer.start()
    val (res, progress) =
      try
        graft.sources.DumpProgress.withProgress(spark, "omop_notes", _ => ()) {
          go.countDown()
          assert(firstWrite.await(120, java.util.concurrent.TimeUnit.SECONDS), "writer never wrote")
          OmopDump.run(spark, src(), s"$testOut/dump_progress_own", None, ParquetLayout(maxRecordsPerFile = 11L))
        }
      finally {
        stop = true
        go.countDown()
        writer.join()
      }
    assert(failure.get == null, s"writer failed: ${failure.get}")
    assert(progress.rowsWritten === res.report.totalRows)
  }

  test("DumpProgress: a killed attempt's rows are not counted — the retry counts once (ADVICE r15)") {
    // a speculative/preempted attempt reports the rows it wrote before
    // dying; counting it AND its retry would overcount vs totalRows.
    // Drive the listener directly with the events such a scenario
    // delivers (GraftTestBridge builds the private[spark] payloads).
    import org.apache.spark.GraftTestBridge
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val p = new graft.sources.DumpProgress("t", "t-dump", s => { lines.add(s); () })
    p.onJobStart(GraftTestBridge.jobStart("t-dump"))
    p.onTaskEnd(GraftTestBridge.taskEnd(GraftTestBridge.success, 100L, index = 0))
    p.onTaskEnd(GraftTestBridge.taskEnd(GraftTestBridge.killed, 50L, index = 1)) // dies mid-write
    p.onTaskEnd(GraftTestBridge.taskEnd(GraftTestBridge.success, 50L, index = 1, attemptNumber = 1)) // its retry
    assert(p.rowsWritten === 150L, "killed attempt excluded, retry counted once")
    assert(p.writeTasksCompleted === 2L)
    assert(lines.size === 2, "no tick for the killed attempt")
  }

  test("DumpProgress: duplicate speculative SUCCESSES count once per task (ADVICE r16)") {
    // under speculation an original and a speculative attempt can BOTH
    // finish with Success — Spark posts a TaskEnd(Success) for each, so
    // reason-filtering alone still double-counts; successes dedupe per
    // (stageId, stageAttemptId, task index)
    import org.apache.spark.GraftTestBridge
    val p = new graft.sources.DumpProgress("t", "t-dump", _ => ())
    p.onJobStart(GraftTestBridge.jobStart("t-dump"))
    p.onTaskEnd(GraftTestBridge.taskEnd(GraftTestBridge.success, 100L, index = 0))
    p.onTaskEnd(GraftTestBridge.taskEnd(GraftTestBridge.success, 100L, index = 0,
      attemptNumber = 1, speculative = true)) // the speculative twin also succeeds
    p.onTaskEnd(GraftTestBridge.taskEnd(GraftTestBridge.success, 40L, index = 1))
    assert(p.rowsWritten === 140L, "speculative duplicate success not double-counted")
    assert(p.writeTasksCompleted === 2L)
  }

  test("non-positive limit fails") {
    intercept[IllegalArgumentException] {
      OmopDump.run(spark, src(), s"$testOut/dump_zero", Some(0L), ParquetLayout())
    }
  }

  // ------------------------------------------------------ resumable ingest

  private def docsTable = spark.read.parquet(s"$Sf0001/documents.parquet")
  private def sameContent(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Boolean =
    a.except(b).isEmpty && b.except(a).isEmpty

  test("resumable dump, fresh run: full coverage, per-chunk _SUCCESS, read == table") {
    val dir = s"$testOut/resume_fresh"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    val res = ResumableDump.run(spark, src(), "doc_id", dir, 4, ParquetLayout(maxRecordsPerFile = 64L))
    assert(res.ranChunks == (0 until 4) && res.skippedChunks.isEmpty)
    assert(res.report.totalRows == total)
    assert(sameContent(ResumableDump.read(spark, dir), docsTable))
    // idempotent re-entry: everything complete, NOTHING re-runs
    val again = ResumableDump.run(spark, src(), "doc_id", dir, 4, ParquetLayout(maxRecordsPerFile = 64L))
    assert(again.ranChunks.isEmpty && again.skippedChunks == (0 until 4))
    assert(again.report.totalRows == total)
  }

  test("resumable read-back: one report over every chunk == the per-chunk reports, concatenated in chunk order") {
    val dir = s"$testOut/resume_readback"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    val res = ResumableDump.run(spark, src(), "doc_id", dir, 4, ParquetLayout(maxRecordsPerFile = 40L))
    val perChunk = (0 until 4).map(i => graft.sources.ShardedParquetSink.readBackReport(spark, f"$dir/chunk_$i%05d"))
    assert(perChunk.forall(_.numFiles > 1), "every chunk holds several shards, so shard order is pinned")
    assert(res.report.schemaDdl == perChunk.head.schemaDdl)
    assert(res.report.shards == perChunk.flatMap(_.shards))
  }

  test("resumable read-back: a chunk rewritten with a different schema is refused by name") {
    import spark.implicits._
    val dir = s"$testOut/resume_schema"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    ResumableDump.run(spark, src(), "doc_id", dir, 4, ParquetLayout())
    // a committed rewrite (with _SUCCESS), so re-entry skips every chunk
    Seq((1L, 2L)).toDF("doc_id", "other").write.mode("overwrite").parquet(s"$dir/chunk_00002")
    val refused = intercept[IllegalArgumentException] {
      ResumableDump.run(spark, src(), "doc_id", dir, 4, ParquetLayout())
    }
    assert(refused.getMessage.contains("disagree on the schema"), refused.getMessage)
    assert(refused.getMessage.contains("chunk_00002"), refused.getMessage)
  }

  test("resume equals fresh: a crashed chunk (no _SUCCESS) and a missing chunk re-run; complete chunks skip") {
    val dir = s"$testOut/resume_crash"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    ResumableDump.run(spark, src(), "doc_id", dir, 4, ParquetLayout())
    // crash state A: chunk 1's marker never landed (mid-write kill) —
    // delete its _SUCCESS and corrupt its content to prove the rewrite
    assert(new java.io.File(s"$dir/chunk_00001/_SUCCESS").delete())
    new java.io.File(s"$dir/chunk_00001").listFiles().filter(_.getName.endsWith(".parquet")).foreach(_.delete())
    // crash state B: chunk 3 never started
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/chunk_00003"))
    val res = ResumableDump.run(spark, src(), "doc_id", dir, 4, ParquetLayout())
    assert(res.ranChunks == Seq(1, 3), s"only the incomplete chunks re-run, got ${res.ranChunks}")
    assert(res.skippedChunks == Seq(0, 2))
    assert(res.report.totalRows == total)
    assert(sameContent(ResumableDump.read(spark, dir), docsTable), "resume == fresh")
  }

  test("kill mid-run, then resume: completed chunks survive, the rest complete") {
    val dir = s"$testOut/resume_kill"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    // a source that dies on its 3rd chunk scan — chunks 0 and 1 land, 2 kills
    val killing = new NoteSource {
      var calls = 0
      def scan(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = src().scan(s)
      def countAtSource(s: org.apache.spark.sql.SparkSession): Long = src().countAtSource(s)
      override def rangeScan(s: org.apache.spark.sql.SparkSession, key: String, r: KeyRange) = {
        calls += 1
        if (calls == 3) throw new RuntimeException("connection reset (simulated)")
        super.rangeScan(s, key, r)
      }
    }
    val died = intercept[RuntimeException] {
      ResumableDump.run(spark, killing, "doc_id", dir, 4, ParquetLayout())
    }
    assert(died.getMessage.contains("simulated"))
    assert(new java.io.File(s"$dir/chunk_00001/_SUCCESS").exists(), "completed chunks are durable")
    assert(!new java.io.File(s"$dir/chunk_00002").exists() || !new java.io.File(s"$dir/chunk_00002/_SUCCESS").exists())
    val res = ResumableDump.run(spark, src(), "doc_id", dir, 4, ParquetLayout())
    assert(res.ranChunks == Seq(2, 3) && res.skippedChunks == Seq(0, 1))
    assert(sameContent(ResumableDump.read(spark, dir), docsTable))
  }

  test("resume manifest pins the chunking: mismatched re-entry fails fast") {
    val dir = s"$testOut/resume_manifest"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    ResumableDump.run(spark, src(), "doc_id", dir, 4, ParquetLayout())
    intercept[IllegalArgumentException] {
      ResumableDump.run(spark, src(), "doc_id", dir, 8, ParquetLayout())
    }
    val otherKey = intercept[IllegalArgumentException] {
      ResumableDump.run(spark, src(), "n_chars", dir, 4, ParquetLayout())
    }
    assert(otherKey.getMessage.contains("resume manifest mismatch") && otherKey.getMessage.contains("'n_chars'"))
  }

  test("a manifest from the plan that dropped NULL-key rows fails fast, naming the difference") {
    val dir = s"$testOut/resume_manifest_old"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    ResumableDump.run(spark, src(), "doc_id", dir, 4, ParquetLayout())
    // the same chunking as written before NULL-key rows rode chunk 0,
    // through the Hadoop file system as the dump writes it (checksum too)
    val manifest = new org.apache.hadoop.fs.Path(dir, "_resume.json")
    val out = manifest.getFileSystem(spark.sparkContext.hadoopConfiguration).create(manifest, true)
    try out.write("""{"keyCol":"doc_id","lo":0,"hi":499,"chunks":4}""".getBytes("UTF-8"))
    finally out.close()
    val refused = intercept[IllegalArgumentException] {
      ResumableDump.run(spark, src(), "doc_id", dir, 4, ParquetLayout())
    }
    assert(refused.getMessage.contains("NULL-key rows"), refused.getMessage)
  }

  test("NULL-key rows ride chunk 0 exactly once; a table with no non-NULL key is one chunk") {
    import spark.implicits._
    val keyed = s"$testOut/resume_nullkey_src"
    Seq[(Option[Long], String)]((Some(5L), "a"), (None, "b"), (Some(9L), "c"), (None, "d"), (Some(1L), "e"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(keyed)
    val dir = s"$testOut/resume_nullkey"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    val res = ResumableDump.run(spark, new ParquetNoteSource(keyed), "doc_id", dir, 3, ParquetLayout())
    assert(res.ranChunks == (0 until 3) && res.report.totalRows == 5L)
    assert(spark.read.parquet(s"$dir/chunk_00000").filter(col("doc_id").isNull).count() == 2L)
    assert(sameContent(ResumableDump.read(spark, dir), spark.read.parquet(keyed)))
    val allNull = s"$testOut/resume_allnull_src"
    Seq[(Option[Long], String)]((None, "a"), (None, "b")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(allNull)
    val nullDir = s"$testOut/resume_allnull"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(nullDir))
    val whole = ResumableDump.run(spark, new ParquetNoteSource(allNull), "doc_id", nullDir, 4, ParquetLayout())
    assert(whole.ranChunks == Seq(0) && whole.report.totalRows == 2L)
  }

  test("the chunk range filter reaches the source scan (pushdown — skipped ranges never cross the wire)") {
    val slice = src().rangeScan(spark, "doc_id", KeyRange(10L, 20L, first = false, last = false))
    val plan = slice.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(doc_id"), s"range not pushed:\n$plan")
  }

  test("DumpAll: continue-on-error collects outcomes; strict throws AT THE END; re-entry re-runs only failures") {
    val root = s"$testOut/dumpall_err"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    val dying = new NoteSource {
      def scan(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame =
        throw new RuntimeException("table locked (simulated)")
      def countAtSource(s: org.apache.spark.sql.SparkSession): Long = 0L
    }
    def specs(mid: NoteSource) = Seq(
      graft.sources.DumpAll.TableSpec("docs", src(), keyCol = Some("doc_id"), chunks = 3),
      graft.sources.DumpAll.TableSpec("locked", mid),
      graft.sources.DumpAll.TableSpec("docs_dim", src())
    )
    // strict: throws at the END, naming the failed table — the healthy
    // tables before AND after it must still have landed
    val died = intercept[IllegalStateException] {
      graft.sources.DumpAll.run(spark, specs(dying), root)
    }
    assert(died.getMessage.contains("locked") && died.getMessage.contains("1/3"))
    assert(new java.io.File(s"$root/docs/chunk_00002/_SUCCESS").exists(), "keyed table landed")
    assert(new java.io.File(s"$root/docs_dim/_SUCCESS").exists(), "table AFTER the failure landed")
    // non-strict: same run reports the outcome instead of throwing
    val outcomes = graft.sources.DumpAll.run(spark, specs(dying), root, strict = false)
    assert(outcomes.map(_.ok) == Seq(true, false, true))
    assert(outcomes.filter(_.ok).forall(_.ranChunks == 0), "healthy tables re-enter metadata-only")
    // fix the cause, re-run strict: only the failed table does work
    val fixed = graft.sources.DumpAll.run(spark, specs(src()), root)
    assert(fixed.forall(_.ok))
    assert(fixed.map(o => o.table -> o.ranChunks).toMap === Map("docs" -> 0, "locked" -> 1, "docs_dim" -> 0))
    assert(fixed.map(_.rows).sum === 3 * total)
    intercept[IllegalArgumentException] {
      graft.sources.DumpAll.run(spark, specs(src()) :+ specs(src()).head, root)
    }
  }

  test("DumpAll: a FATAL error propagates — never a per-table 'outcome' (VERDICT r13)") {
    val root = s"$testOut/dumpall_fatal"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    val fatal = new NoteSource {
      def scan(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame =
        throw new LinkageError("broken classpath (simulated)")
      def countAtSource(s: org.apache.spark.sql.SparkSession): Long = 0L
    }
    // the old `catch Throwable` turned this into outcomes(ok=false) and the
    // loop marched on; NonFatal lets it kill the run immediately
    val died = intercept[LinkageError] {
      graft.sources.DumpAll.run(
        spark,
        Seq(
          graft.sources.DumpAll.TableSpec("broken", fatal),
          graft.sources.DumpAll.TableSpec("never_reached", src())
        ),
        root,
        strict = false
      )
    }
    assert(died.getMessage.contains("simulated"))
    assert(!new java.io.File(s"$root/never_reached").exists(), "fatal error must abort the loop")
  }

  test("CLI --tables: 2-table extraction through the DumpMain entry; --resume gates re-entry (VERDICT r13)") {
    val root = s"$testOut/dumpall_cli"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    val tables = DumpMain.parseTables("docs:doc_id:3,docs_dim")
    val makeSource: String => NoteSource = _ => src()
    val fresh = DumpMain.runDumpAll(spark, tables, makeSource, root, resume = false)
    assert(fresh.map(_.table) === Seq("docs", "docs_dim"))
    assert(fresh.forall(_.ok) && fresh.map(_.rows).sum === 2 * total)
    assert(new java.io.File(s"$root/docs/chunk_00002/_SUCCESS").exists(), "keyed table chunked")
    assert(new java.io.File(s"$root/docs_dim/_SUCCESS").exists(), "unkeyed dimension guarded whole")
    // WITHOUT --resume a root holding any listed table dir fails fast —
    // stale _SUCCESS markers silently skipping data is invisible in the
    // report, so re-entry must be the operator's explicit choice
    val refused = intercept[IllegalArgumentException] {
      DumpMain.runDumpAll(spark, tables, makeSource, root, resume = false)
    }
    assert(refused.getMessage.contains("--resume"))
    // WITH --resume: re-entrant, all work skips
    val again = DumpMain.runDumpAll(spark, tables, makeSource, root, resume = true)
    assert(again.forall(o => o.ok && o.ranChunks == 0))
    assert(again.map(_.rows).sum === 2 * total)
  }

  test("more chunks than keys: degenerate tails skip, coverage intact") {
    val dir = s"$testOut/resume_tiny"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    import spark.implicits._
    val tiny = s"$testOut/resume_tiny_src"
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(tiny)
    val res = ResumableDump.run(spark, new ParquetNoteSource(tiny), "doc_id", dir, 8, ParquetLayout())
    assert(res.report.totalRows == 3L)
    assert(sameContent(ResumableDump.read(spark, dir), spark.read.parquet(tiny)))
  }
}
