package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import graft.{GraftSession, SparkEntry}
import graft.functions.TextFunctions
import graft.operators.{Decontaminate, Dedup, Heuristics, OmopDump, Pipeline, Repetition, SequencePack}
import graft.sources.{JdbcNoteSource, JdbcSource, JdbcSourceConfig, ShardedParquetSink}
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Command line of one harness run (all paths inside the checkout). */
final case class Opts(
    workload: String,
    inputs: String,
    work: String,
    out: String,
    seconds: Double,
    trace: Boolean,
    cpus: Int,
    setups: Int,
    seed: Long,
)

/** Raw measurements of one run. `run.py` turns them into metrics, so every
  * statistic (medians, percentiles, no-job time, span self time) is
  * computed in one tested place.
  */
final class Record {
  val series = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, Any]
  val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  var spans: Seq[Span] = Nil

  def add(name: String, v: Double): Unit = series.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += Map("name" -> name, "ok" -> ok, "detail" -> (if (ok) "" else detail))
    if (!ok) System.err.println(s"[perfbench] check failed: $name: $detail")
  }

  def json: String = Json(
    Map(
      "series" -> series.map { case (k, v) => k -> v.toSeq }.toMap,
      "values" -> values.toMap,
      "ops" -> ops.toSeq,
      "checks" -> checks.toSeq,
      "spans" -> spans.map(s =>
        Map("id" -> s.id, "parent" -> s.parent, "run" -> s.run, "name" -> s.name,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    )
  )
}

/** Minimal JSON renderer for the record (maps, sequences, strings, numbers). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case x => str(x.toString)
  }

  private def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}

/** Context a workload runs in: the current session, the record, and the
  * tracing state (listener and spans exist only in a traced section).
  */
final class Ctx(val opts: Opts, val rec: Record) {
  var spark: SparkSession = _
  var listener: Option[EngineListener] = None
  var spans: Option[Spans] = None
  var iter = 0

  def span[T](name: String)(body: => T): T = spans.fold(body)(_(name)(body))

  def jobs(): Seq[JobRecord] = listener.fold(Seq.empty[JobRecord]) { l =>
    PerfbenchBridge.flush(spark.sparkContext)
    l.drain()
  }

  /** Time one closed-loop operation; an exception counts as a failed op.
    * `body` returns the items it processed and any extra fields to record.
    */
  def op(name: String)(body: => (Long, Map[String, Any])): Unit = {
    jobs() // drop jobs of untimed work before this op
    val t0ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (items, extra, err) =
      try { val (n, x) = span(name)(body); (n, x, None) }
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $name failed: $e")
          (0L, Map.empty[String, Any], Some(Option(e.getMessage).getOrElse(e.toString).take(300)))
      }
    val wall = (System.nanoTime() - t0) / 1e9
    val t1ms = System.currentTimeMillis()
    rec.ops += Map(
      "name" -> name, "iter" -> iter, "t0_ms" -> t0ms, "t1_ms" -> t1ms, "wall_s" -> wall,
      "items" -> items, "ok" -> err.isEmpty, "err" -> err, "traced" -> listener.isDefined,
      "jobs" -> jobs().map(jobJson)
    ) ++ extra
  }

  def jobJson(j: JobRecord): Map[String, Any] = Map(
    "id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs, "stages" -> j.stages,
    "tasks" -> j.tasks, "single_task_stages" -> j.singleTaskStages,
    "executor_run_ms" -> j.executorRunMs, "executor_cpu_ns" -> j.executorCpuNs,
    "gc_ms" -> j.gcMs, "shuffle_read_bytes" -> j.shuffleReadBytes,
    "shuffle_write_bytes" -> j.shuffleWriteBytes, "spill_bytes" -> j.spillBytes,
    "task_ms" -> j.taskMs
  )

  /** A traced layer probe: one public call, timed, with the jobs it ran. */
  def probe(name: String)(body: => Unit): Seq[JobRecord] = {
    jobs()
    val t0 = System.nanoTime()
    span(name)(body)
    rec.add(name, (System.nanoTime() - t0) / 1e9)
    jobs()
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def path(name: String): String = Paths.get(opts.work, name).toAbsolutePath.toString
}

/** One benchmark workload: how to load its inputs, warm it up, run one
  * closed-loop iteration, check outputs, and probe its layers when traced.
  */
trait Workload {
  def prepare(c: Ctx): Unit = ()
  def warm(c: Ctx): Unit
  def iteration(c: Ctx): Unit
  def check(c: Ctx): Unit
  def layers(c: Ctx): Unit
}

object Harness {

  def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(
      get("workload"), get("inputs"), get("work"), get("out"), get("seconds").toDouble,
      get("trace") == "1", get("cpus").toInt, get("setups").toInt,
      get("seed").toLong
    )
  }

  def startSession(cpus: Int): SparkSession = {
    val spark = GraftSession.builder("perfbench", cpus.toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val rec = new Record
    val c = new Ctx(opts, rec)
    val w: Workload = opts.workload match {
      case "dump_note" => new DumpNote
      case "curate_corpus" => new CurateCorpus
      case other => sys.error(s"unknown workload $other")
    }
    rec.values("cpus") = Runtime.getRuntime.availableProcessors
    try {
      // set-up, several times: session start plus the warm-up pass, which
      // runs the timed path, so the set-ups are also what settles JIT and
      // caches before timing; the one-off input load (excluded from set-up)
      // runs after the first start
      for (i <- 0 until opts.setups) {
        if (c.spark != null) c.spark.stop()
        val t0 = System.nanoTime()
        c.spark = startSession(opts.cpus)
        val started = (System.nanoTime() - t0) / 1e9
        if (i == 0) {
          val p0 = System.nanoTime()
          w.prepare(c)
          rec.values("prepare_s") = (System.nanoTime() - p0) / 1e9
        }
        val w0 = System.nanoTime()
        w.warm(c)
        rec.add("GraftSession.start_s", started)
        rec.add("setup_s", started + (System.nanoTime() - w0) / 1e9)
      }
      // the timed loop; a traced run alternates untraced and traced
      // iterations, so the difference between them is the tracing overhead
      heapPools.foreach(_.resetPeakUsage())
      val l = new EngineListener
      val spans = new Spans(s"${opts.workload}-${opts.seed}")
      def tracing(on: Boolean): Unit =
        if (on && c.listener.isEmpty) {
          c.spark.sparkContext.addSparkListener(l)
          c.listener = Some(l)
          c.spans = Some(spans)
        } else if (!on && c.listener.nonEmpty) {
          c.spark.sparkContext.removeSparkListener(l)
          c.listener = None
          c.spans = None
        }
      runLoop(c, w, opts.seconds)(i => tracing(opts.trace && i % 2 == 1))
      tracing(false)
      rec.values("jvm.peak_heap_mb") = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      w.check(c)
      if (opts.trace) {
        tracing(true)
        w.layers(c)
        rec.spans = spans.all
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        rec.check("harness", ok = false, e.toString)
    } finally {
      Files.writeString(Paths.get(opts.out), rec.json)
      if (c.spark != null) c.spark.stop()
      if (opts.workload == "dump_note") DumpNote.shutdownDerby()
    }
  }

  /** Closed loop: the next iteration starts when the previous one ends,
    * for `seconds` of wall time and at least three iterations, so the
    * median of a slow workload is not the mean of two; `before(i)`
    * runs ahead of iteration i, outside its timing.
    */
  def runLoop(c: Ctx, w: Workload, seconds: Double)(before: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var n = 0
    while (n < 3 || (System.nanoTime() - t0) / 1e9 < seconds) {
      before(n)
      w.iteration(c)
      c.iter += 1
      n += 1
    }
    c.rec.values("loop_s") = (System.nanoTime() - t0) / 1e9
  }
}

// ------------------------------------------------------------- dump_note

object DumpNote {
  val Columns: Seq[(String, String)] = Seq(
    "NOTE_ID" -> "BIGINT NOT NULL PRIMARY KEY",
    "PERSON_ID" -> "BIGINT NOT NULL",
    "NOTE_DATE" -> "DATE NOT NULL",
    "NOTE_DATETIME" -> "TIMESTAMP",
    "NOTE_TYPE_CONCEPT_ID" -> "BIGINT NOT NULL",
    "NOTE_CLASS_CONCEPT_ID" -> "BIGINT NOT NULL",
    "NOTE_TITLE" -> "VARCHAR(250)",
    "NOTE_TEXT" -> "CLOB NOT NULL",
    "ENCODING_CONCEPT_ID" -> "BIGINT NOT NULL",
    "LANGUAGE_CONCEPT_ID" -> "BIGINT NOT NULL",
    "PROVIDER_ID" -> "BIGINT",
    "VISIT_OCCURRENCE_ID" -> "BIGINT",
    "VISIT_DETAIL_ID" -> "BIGINT",
    "NOTE_SOURCE_VALUE" -> "VARCHAR(50)"
  )

  /** Batched inserts with each column bound by its declared type (Spark's
    * JDBC writer binds a NULL string as CLOB, which Derby's VARCHAR
    * columns refuse).
    */
  def load(df: DataFrame, url: String): Unit = {
    val names = Columns.map(_._1)
    val fields = names.map(df.schema.fieldIndex)
    val sql = names.mkString("INSERT INTO NOTE (", ", ", ") VALUES ") + names.map(_ => "?").mkString("(", ", ", ")")
    val sqlTypes = Columns.map {
      case (_, t) if t.startsWith("BIGINT") => java.sql.Types.BIGINT
      case (_, t) if t.startsWith("DATE") => java.sql.Types.DATE
      case (_, t) if t.startsWith("TIMESTAMP") => java.sql.Types.TIMESTAMP
      case (_, t) if t.startsWith("CLOB") => java.sql.Types.CLOB
      case _ => java.sql.Types.VARCHAR
    }
    df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      val conn = java.sql.DriverManager.getConnection(url, "app", "")
      conn.setAutoCommit(false)
      val ps = conn.prepareStatement(sql)
      try {
        rows.grouped(500).foreach { batch =>
          batch.foreach { r =>
            fields.zip(sqlTypes).zipWithIndex.foreach { case ((f, t), i) =>
              if (r.isNullAt(f)) ps.setNull(i + 1, t)
              else t match {
                case java.sql.Types.BIGINT => ps.setLong(i + 1, r.getLong(f))
                case java.sql.Types.DATE => ps.setDate(i + 1, r.get(f) match {
                  case d: java.time.LocalDate => java.sql.Date.valueOf(d)
                  case d: java.sql.Date => d
                })
                case java.sql.Types.TIMESTAMP => ps.setTimestamp(i + 1, r.get(f) match {
                  case t: java.time.LocalDateTime => java.sql.Timestamp.valueOf(t)
                  case t: java.sql.Timestamp => t
                })
                case _ => ps.setString(i + 1, r.getString(f))
              }
            }
            ps.addBatch()
          }
          ps.executeBatch()
        }
        conn.commit()
      } finally { ps.close(); conn.close() }
    }
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]()).forEach(f => Files.delete(f))

  def shutdownDerby(): Unit =
    try java.sql.DriverManager.getConnection("jdbc:derby:;shutdown=true")
    catch { case _: java.sql.SQLException => () } // Derby signals a clean shutdown by throwing
}

final class DumpNote extends Workload {
  private var manifest: Map[String, Long] = Map.empty
  private var url = ""
  private val fetchTaskMs = mutable.ArrayBuffer.empty[Seq[Long]]

  private def cfg(c: Ctx) = JdbcSourceConfig(
    host = "", port = 0, service = "", user = "app", password = "",
    partitionColumn = Some("NOTE_ID"), numPartitions = c.opts.cpus, urlOverride = Some(url)
  )

  private def source(c: Ctx) = new JdbcNoteSource(cfg(c), "NOTE")

  private def query(sql: String): Seq[Long] = {
    val conn = java.sql.DriverManager.getConnection(url, "app", "")
    try {
      val rs = conn.createStatement().executeQuery(sql)
      rs.next()
      (1 to rs.getMetaData.getColumnCount).map(i => rs.getLong(i))
    } finally conn.close()
  }

  /** Load the generated NOTE table into on-disk embedded Derby, once per
    * seed: a marker file records a completed load.
    */
  override def prepare(c: Ctx): Unit = {
    manifest = Manifest.read(s"${c.opts.inputs}/manifest.json")
    val db = s"${c.opts.inputs}/derby"
    url = s"jdbc:derby:$db"
    val marker = Paths.get(s"${c.opts.inputs}/derby.loaded")
    if (!Files.exists(marker)) {
      DumpNote.deleteTree(Paths.get(db))
      val conn = java.sql.DriverManager.getConnection(s"$url;create=true", "app", "")
      try {
        conn.createStatement().execute(
          DumpNote.Columns.map { case (n, t) => s"$n $t" }.mkString("CREATE TABLE NOTE (", ", ", ")"))
      } finally conn.close()
      DumpNote.load(c.spark.read.parquet(s"${c.opts.inputs}/notes.parquet").repartition(c.opts.cpus), url)
      Files.writeString(marker, "ok")
    }
    // input integrity: what Derby holds is what the generator wrote
    val Seq(n, sumId, sumLen, nullProv) = query(
      "SELECT COUNT(*), SUM(NOTE_ID), SUM(CAST(LENGTH(NOTE_TEXT) AS BIGINT)), " +
        "SUM(CASE WHEN PROVIDER_ID IS NULL THEN 1 ELSE 0 END) FROM NOTE")
    c.rec.values("derby") = Map("rows" -> n, "sum_note_id" -> sumId, "sum_text_utf16" -> sumLen, "null_provider" -> nullProv)
    c.rec.check("derby.rows", n == manifest("rows"), s"$n != ${manifest("rows")}")
    c.rec.check("derby.sum_note_id", sumId == manifest("sum_note_id"), s"$sumId")
    c.rec.check("derby.sum_text_utf16", sumLen == manifest("sum_text_utf16"), s"$sumLen != ${manifest("sum_text_utf16")}")
    c.rec.check("derby.null_provider", nullProv == manifest("null_provider"), s"$nullProv")
    c.rec.values("source_bytes") = manifest("source_bytes")
  }

  override def warm(c: Ctx): Unit =
    OmopDump.run(c.spark, source(c), c.path("dump_warm"), limit = None)

  override def iteration(c: Ctx): Unit = c.op("dump") {
    val r = c.span("operators.OmopDump.run")(OmopDump.run(c.spark, source(c), c.path("dump_out"), limit = None))
    require(r.report.totalRows == manifest("rows"), s"read-back ${r.report.totalRows} != ${manifest("rows")}")
    (r.sourceCount, Map("bytes" -> manifest("source_bytes"), "files" -> r.report.numFiles))
  }

  override def check(c: Ctx): Unit = {
    val out = c.spark.read.parquet(c.path("dump_out"))
    c.rec.check("dump.provider_id_long", out.schema("PROVIDER_ID").dataType == LongType,
      s"PROVIDER_ID is ${out.schema("PROVIDER_ID").dataType}")
    val r = out.agg(
      count(lit(1)), sum(col("NOTE_ID")), sum(length(col("NOTE_TEXT")).cast("long")),
      sum((octet_length(encode(col("NOTE_TEXT"), "UTF-16LE")) / 2).cast("long")),
      sum(when(col("PROVIDER_ID").isNull, 1L).otherwise(0L))
    ).head()
    val Seq(n, sumId, chars, utf16, nullProv) = (0 until 5).map(r.getLong)
    val derby = c.rec.values("derby").asInstanceOf[Map[String, Long]]
    c.rec.check("dump.rows", n == derby("rows"), s"$n != ${derby("rows")}")
    c.rec.check("dump.sum_note_id", sumId == derby("sum_note_id"), s"$sumId != ${derby("sum_note_id")}")
    c.rec.check("dump.sum_text_utf16", utf16 == derby("sum_text_utf16"), s"$utf16 != ${derby("sum_text_utf16")}")
    c.rec.check("dump.sum_text_chars", chars == manifest("sum_text_chars"), s"$chars != ${manifest("sum_text_chars")}")
    c.rec.check("dump.null_provider", nullProv == derby("null_provider"), s"$nullProv != ${derby("null_provider")}")
  }

  override def layers(c: Ctx): Unit = for (_ <- 1 to 3) probes(c)

  private def probes(c: Ctx): Unit = {
    val spark = c.spark
    c.probe("sources.JdbcSource.countAtSource")(JdbcSource.countAtSource(spark, cfg(c), "NOTE"))
    // the fetch alone: the same scan the dump runs, into the noop sink
    val fetch = c.probe("sources.JdbcSource.readTable")(c.noop(source(c).scan(spark)))
    c.rec.values("sources.JdbcSource.scan_tasks") = fetch.map(_.tasks).sum
    fetchTaskMs += fetch.flatMap(_.taskMs)
    c.rec.values("sources.JdbcSource.fetch_task_ms") = fetchTaskMs.toSeq
    // fetch + encode + write: the sink fed by the JDBC scan
    c.probe("sources.ShardedParquetSink.write[jdbc]")(
      ShardedParquetSink.write(source(c).scan(spark), c.path("dump_probe")))
    // encode + write alone: re-write the dumped Parquet, so no fetch
    val w0 = System.currentTimeMillis()
    val write = c.probe("sources.ShardedParquetSink.write")(
      ShardedParquetSink.write(spark.read.parquet(c.path("dump_out")), c.path("dump_rewrite")))
    val returned = w0 + (c.rec.series("sources.ShardedParquetSink.write").last * 1000).toLong
    c.rec.add("sources.ShardedParquetSink.commit_s",
      math.max(0L, returned - write.map(_.endMs).foldLeft(w0)(math.max)) / 1000.0)
    var files = 0
    c.probe("sources.ShardedParquetSink.readBackReport") {
      files = ShardedParquetSink.readBackReport(spark, c.path("dump_out")).numFiles
    }
    c.rec.values("sources.ShardedParquetSink.files") = files
    val outBytes = Files.list(Paths.get(c.path("dump_out"))).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).map(Files.size(_)).sum
    c.rec.values("sources.ShardedParquetSink.out_bytes") = outBytes
  }
}

// --------------------------------------------------------- curate_corpus

object CurateCorpus {
  /** The hygienic funnel's stages in order; a document's reject reason is
    * the first of them it fails, or `kept`.
    */
  val Stages: Seq[String] = Seq("gopher", "quality", "repetition", "decontamination", "exact_dedup", "near_dedup", "mix")
}

final class CurateCorpus extends Workload {
  private var planted: Map[String, Long] = Map.empty
  private var nDocs = 0L
  private val funnels = mutable.ArrayBuffer.empty[Seq[(String, Long, Long)]]
  // (rows, digest of every row) of each hygienic iteration's output
  private val outputs = mutable.ArrayBuffer.empty[(Long, Long)]

  private def docs(c: Ctx) = c.spark.read.parquet(s"${c.opts.inputs}/documents.parquet")
  private def bench(c: Ctx) = c.spark.read.parquet(s"${c.opts.inputs}/bench.parquet")

  override def prepare(c: Ctx): Unit = {
    val m = Manifest.read(s"${c.opts.inputs}/manifest.json")
    nDocs = m("docs")
    planted = m.collect { case (k, v) if k.startsWith("planted.") => k.stripPrefix("planted.") -> v }
  }

  /** The warm-up pass: one hygienic call on the first tenth of the corpus,
    * written and read back as an iteration is.
    */
  override def warm(c: Ctx): Unit = {
    val small = docs(c).filter(col("doc_id") < nDocs / 10)
    ShardedParquetSink.write(Pipeline.hygienicTrainingData(small, bench(c)), c.path("curate_warm"))
    ShardedParquetSink.readBackReport(c.spark, c.path("curate_warm"))
  }

  /** One timed iteration: the hygienic selection, written and read back;
    * then, outside the timing, the digest of what it wrote.
    */
  override def iteration(c: Ctx): Unit = {
    c.op("hygienic") {
      val out = c.span("operators.Pipeline.hygienicTrainingData")(Pipeline.hygienicTrainingData(docs(c), bench(c)))
      c.span("sources.ShardedParquetSink.write")(ShardedParquetSink.write(out, c.path("curate_out")))
      val report = c.span("sources.ShardedParquetSink.readBackReport")(
        ShardedParquetSink.readBackReport(c.spark, c.path("curate_out")))
      (nDocs, Map("rows_out" -> report.totalRows, "files" -> report.numFiles))
    }
    if (c.rec.ops.last("ok") == true) {
      val out = c.spark.read.parquet(c.path("curate_out"))
      val d = out.agg(count(lit(1)), coalesce(bit_xor(xxhash64(out.columns.map(col).toIndexedSeq: _*)), lit(0L))).head()
      outputs += ((d.getLong(0), d.getLong(1)))
    }
  }

  /** The row-level audit, once per run after the loop: every document's
    * reject reason (`Pipeline.rejectReasons`, collected), as an op of its
    * own (iteration -2: not a loop op). Returns (doc_id, reason) rows.
    */
  private def audit(c: Ctx): Seq[(Long, String)] = {
    val loop = c.iter
    c.iter = -2
    var rows = Seq.empty[(Long, String)]
    c.op("audit") {
      rows = c.span("operators.Pipeline.rejectReasons")(Pipeline.rejectReasons(docs(c), bench(c)).collect())
        .map(r => r.getLong(0) -> r.getString(1)).toSeq
      (nDocs, Map.empty)
    }
    c.iter = loop
    rows
  }

  override def check(c: Ctx): Unit = {
    val rows = audit(c)
    val reasons = rows.toMap
    // every timed hygienic iteration wrote the same rows
    c.rec.values("curate.outputs") = outputs.distinct.map { case (n, h) => Map("rows" -> n, "digest" -> h) }
    c.rec.check("curate.output_repeats", outputs.nonEmpty && outputs.distinct.size == 1,
      s"${outputs.distinct.size} distinct outputs over ${outputs.size} iterations")
    // the documents in the output are exactly the ones the audit marks kept
    val kept = c.spark.read.parquet(c.path("curate_out")).select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    val marked = reasons.collect { case (id, "kept") => id }.toSet
    c.rec.values("curate.kept_docs") = kept.size
    c.rec.check("curate.kept_ids_match_reasons", kept == marked,
      s"output has ${kept.size} docs, rejectReasons keeps ${marked.size}, ${(kept diff marked).size} only in the output")
    // the funnel: each stage's input, and its output after the documents
    // whose first failing stage it is
    c.rec.check("curate.audit_covers_input", rows.size == nDocs && reasons.size == nDocs,
      s"${rows.size} reasons for ${reasons.size} of $nDocs docs")
    val byReason = reasons.values.groupBy(identity).map { case (r, xs) => r -> xs.size.toLong }
    c.rec.check("curate.audit_reasons", byReason.keySet.subsetOf(CurateCorpus.Stages.toSet + "kept"),
      s"reasons ${byReason.keySet.mkString(",")}")
    val funnel = CurateCorpus.Stages.scanLeft(("input", 0L, reasons.size.toLong)) { case ((_, _, in), stage) =>
      (stage, in, in - byReason.getOrElse(stage, 0L))
    }.tail
    funnels += funnel
    c.rec.values("curate.funnel") = funnel.map { case (s, i, o) => Map("stage" -> s, "n_in" -> i, "n_out" -> o) }
    // Each planted document fails exactly one stage, and natural documents
    // pass every row-local gate, so the row-local stages drop exactly what
    // was planted. Decontamination matches k-gram hashes modulo a ~2^30
    // prime, so it also drops the few documents whose grams collide with
    // the index (about 0.2% at these sizes): it must drop every planted
    // document plus at most 0.5% of its input. A collision can take the
    // original of a planted copy with it, so the dedup stages may drop up
    // to that excess fewer; near-dup detection is MinHash-approximate.
    val dropped = funnel.map { case (s, in, out) => s -> (in - out) }.toMap
    val excess = dropped.getOrElse("decontamination", 0L) - planted.getOrElse("decontamination", 0L)
    c.rec.values("curate.decontamination_excess") = excess
    funnel.foreach { case (stage, in, out) =>
      c.rec.check(s"curate.$stage.keeps_and_drops", out > 0 && out < in, s"n_in=$in n_out=$out")
      planted.get(stage).foreach { p =>
        val n = dropped(stage)
        val ok = stage match {
          case "decontamination" => n >= p && n <= p + in / 200
          case "exact_dedup" => n <= p && n >= p - excess
          case "near_dedup" => n <= p && n >= p * 9 / 10 - excess
          case _ => n == p
        }
        c.rec.check(s"curate.$stage.planted", ok, s"dropped $n, planted $p")
      }
    }
  }

  override def layers(c: Ctx): Unit = {
    val spark = c.spark
    c.iter = -1
    c.op("attrition") {
      val rows = c.span("operators.Pipeline.attrition")(Pipeline.attrition(docs(c), bench(c)).collect())
      funnels += rows.toSeq.sortBy(_.getLong(0)).map(r => (r.getString(1), r.getLong(2), r.getLong(4)))
      (nDocs, Map.empty)
    }
    // the attrition funnel counts what the row-level audit counted
    c.rec.check("curate.funnel_repeats", funnels.distinct.size == 1, s"${funnels.distinct.size} distinct funnels")
    // each stage alone on one shared scrubbed input, through the noop sink
    docs(c).select(col("doc_id"), col("lang"), TextFunctions.scrub(col("text")).as("text"))
      .write.mode("overwrite").parquet(c.path("curate_scrubbed"))
    val s = spark.read.parquet(c.path("curate_scrubbed"))
    val b = bench(c).select(TextFunctions.scrub(col("text")).as("text"))
    c.probe("functions.TextFunctions.scrub_quality")(c.noop(
      docs(c).select(col("doc_id"), TextFunctions.scrub(col("text")).as("text"))
        .filter(TextFunctions.qualityScoreFused(col("text")) >= Pipeline.Config().minQuality)))
    c.probe("operators.Heuristics.filterGopher")(c.noop(Heuristics.filterGopher(s)))
    c.probe("operators.Repetition.filterRepetitive")(c.noop(Repetition.filterRepetitive(s, 2, 0.3, 0.2)))
    c.probe("operators.Decontaminate.clean")(c.noop(Decontaminate.clean(s, b, 4)))
    c.probe("operators.Dedup.exact")(c.noop(Dedup.exact(s)))
    c.probe("operators.Dedup.dedupNearBest")(c.noop(Dedup.dedupNearBest(s, 0.8)))
    c.probe("operators.SequencePack.pack")(c.noop(SequencePack.pack(s, 96, 64, 8, carry = Seq("lang"))))
    var pairs = 0L
    c.probe("operators.Dedup.minhashPairs") { pairs = Dedup.minhashPairs(s, 0.8).count() }
    c.rec.values("operators.Dedup.near_pairs") = pairs
    // the SparkEntry path: the hygienic pipeline's gate over this corpus
    // (the inputs directory holds it as `documents.parquet`), with building
    // the frame, planning and execution timed apart
    val name = "q82_hygienic_pipeline"
    c.op("gate") {
      val t0 = System.nanoTime()
      val df = c.span("SparkEntry.build")(SparkEntry.queries(name)(spark, c.opts.inputs))
      val t1 = System.nanoTime()
      c.span("SparkEntry.plan")(df.queryExecution.executedPlan)
      val t2 = System.nanoTime()
      c.span("SparkEntry.exec")(c.noop(df))
      val t3 = System.nanoTime()
      (0L, Map("query" -> name, "build_s" -> (t1 - t0) / 1e9, "plan_s" -> (t2 - t1) / 1e9, "exec_s" -> (t3 - t2) / 1e9))
    }
  }
}

/** The generator's manifest: a flat JSON object of integers, with one
  * nested object (`planted`) flattened to `planted.<key>`.
  */
object Manifest {
  def read(path: String): Map[String, Long] = {
    val s = Files.readString(Paths.get(path))
    val nested = """"(\w+)"\s*:\s*\{([^}]*)\}""".r
    val pair = """"(\w+)"\s*:\s*(-?\d+)""".r
    val inner = nested.findAllMatchIn(s).flatMap { m =>
      pair.findAllMatchIn(m.group(2)).map(p => s"${m.group(1)}.${p.group(1)}" -> p.group(2).toLong)
    }.toMap
    val flat = pair.findAllMatchIn(nested.replaceAllIn(s, "")).map(p => p.group(1) -> p.group(2).toLong).toMap
    flat ++ inner
  }
}
