package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Each query is forced through the `noop` sink — unlike `count()`, which
  * lets Catalyst prune the plan to nothing, noop materializes every output
  * column through the full pipeline, so timings reflect real work.
  * A warmup action first absorbs session/codegen startup cost.
  */
object Bench {

  /** True median: the reported reading of a query's reps (board line
    * and `.stats.json`).
    */
  def median(ts: Seq[Double]): Double = {
    val s = ts.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  /** Adaptive-rep trigger (VERDICT r17 №5): a median of 3 absorbs ONE
    * stalled rep by construction, but a sticky host window long enough
    * to swallow TWO reps drags the median itself out of band (q85
    * official r17: reps 6.47 / 28.12 / 28.90 — the in-band minimum
    * proves the plan, the median still flags). When the median of the
    * runs so far exceeds 2x their minimum, the spread is a stall
    * signature, not steady-state variance — run another rep in the same
    * JVM (up to `maxReps` total) so the reported median is taken over
    * enough post-stall runs to self-heal. A real regression moves every
    * rep together (med ≈ min), so it never triggers extra reps and can
    * never be averaged away by them.
    */
  def extraRepNeeded(runs: Seq[Double], maxReps: Int): Boolean =
    runs.length >= 2 && runs.length < maxReps && median(runs) > 2.0 * runs.min

  /** One host-context sample (VERDICT r17 №4): 1-min loadavg plus the
    * cumulative (iowait, total) jiffies from `/proc/stat`'s aggregate
    * cpu line. Sampled before/after every query so the `.stats.json`
    * side file carries machine evidence for each reading's window —
    * the residual flag class is "sticky host window", previously
    * adjudicated by prose and separate probe rounds. Returns zeros when
    * /proc is unreadable (non-Linux host): the instrumentation must
    * never fail the bench.
    */
  final case class HostStat(load1: Double, iowaitJiffies: Long, totalJiffies: Long)

  def sampleHost(): HostStat =
    try {
      val load = java.nio.file.Files
        .readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split("\\s+")(0)
        .toDouble
      // Files.readString, not Source.fromFile: an unclosed Source leaks
      // one fd per sample and this runs 2x per query (r18 review)
      val cpu = java.nio.file.Files
        .readString(java.nio.file.Paths.get("/proc/stat"))
        .linesIterator
        .find(_.startsWith("cpu "))
        .getOrElse("cpu 0")
      // cpu user nice system idle iowait irq softirq steal guest guest_nice
      val fields = cpu.trim.split("\\s+").drop(1).map(_.toLong)
      val iowait = if (fields.length > 4) fields(4) else 0L
      HostStat(load1 = load, iowaitJiffies = iowait, totalJiffies = fields.sum)
    } catch { case _: Exception => HostStat(0.0, 0L, 0L) }

  /** Percent of the window's cpu jiffies spent in iowait — the write-path
    * discriminator for the fileio family (a loaded disk window reads
    * high here while a pure-cpu stall does not).
    */
  def iowaitPct(before: HostStat, after: HostStat): Double = {
    val dt = after.totalJiffies - before.totalJiffies
    if (dt <= 0) 0.0
    else 100.0 * (after.iowaitJiffies - before.iowaitJiffies).toDouble / dt.toDouble
  }

  /** The ONE-LINE board JSON, exactly as printed (pure — BenchSpec pins
    * the tail contract on it): the driver's artifact keeps only the LAST
    * ~2 KB of stdout, so the leading "metric"/"value" headline is
    * exactly what truncation eats — the `"summary"` block repeating the
    * totals rides the END of the line (after "sf"), making the retained
    * tail self-sufficient at ANY query count (the r17 board was lost to
    * a dict that outgrew the tail before the summary existed).
    * `queries` must be in run order (cheap-first), so the truncated tail
    * retains the expensive families' readings.
    */
  def benchLine(
      benchMode: String,
      reps: Int,
      queries: Seq[(String, Double)],
      errors: Seq[(String, String)],
      rLsh: Double,
      rIvf: Double,
      sfDir: String
  ): String = {
    val qs = queries
      .map { case (name, sec) => "\"" + name + "\":" + f"$sec%.3f" }
      .mkString("{", ",", "}")
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    }
    val errs = errors
      .map { case (name, e) => "\"" + name + "\":\"" + esc(e) + "\"" }
      .mkString("{", ",", "}")
    val total = queries.map(_._2).sum
    val nAll = queries.length + errors.length
    val summary =
      s""""summary":{"total_sec":${f"$total%.3f"},"n_queries":$nAll,"n_ok":${queries.length},"n_failed":${errors.length},"bench_mode":"$benchMode","reps":$reps}"""
    s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","bench_mode":"$benchMode","queries":$qs,"errors":$errs,"n_failed":${errors.length},"recall_at_10":{"ann_lsh":${f"$rLsh%.3f"},"ann_ivf":${f"$rIvf%.3f"}},"sf":"$sfDir",$summary}"""
  }

  def main(args: Array[String]): Unit = {
    // args: [--reps N] [nameSubstring ...], parsed before the session
    // starts so a bad argument fails before any work. `--reps N` /
    // SPARK_GRAFT_BENCH_REPS overrides the rep count; every other argument
    // is a query-name filter (QueryCost.selected) that re-times a subset,
    // e.g. `--reps 8 q02_` for one gate. A trailing `--reps` with no value
    // fails rather than silently running the default 3 reps (ADVICE r17).
    require(
      !args.lastOption.contains("--reps"),
      "--reps requires a value (usage: --reps N)"
    )
    val repsAt = args.indexOf("--reps")
    val reps = (if (repsAt >= 0) Some(args(repsAt + 1).toInt) else None)
      .orElse(sys.env.get("SPARK_GRAFT_BENCH_REPS").map(_.toInt))
      .getOrElse(3)
    require(reps >= 1, s"need --reps >= 1, got $reps")
    val benchMode = s"median_of_$reps"
    // adaptive ceiling (VERDICT r17 №5): up to 2 extra reps when the base
    // reps read med > 2x min (a two-rep sticky window)
    val maxReps = reps + 2
    // cheap-first (QueryCost anchors): the run order is also the JSON dict
    // order, so the driver's 2 KB TAIL-truncated artifact always retains the
    // expensive families' readings (VERDICT r09 #8 — lexicographic order put
    // q100+ in the truncated half); total/errors/n_failed/recall/summary
    // still land last on the line, where the tail keeps them.
    val ordered = QueryCost.selected(
      if (repsAt >= 0) args.toSeq.patch(repsAt, Nil, 2) else args.toSeq
    )

    // board-level host context bracket (№4): the warmup is inside the
    // bracket on purpose — a loaded window during warmup shifts first
    // readings too
    val hostStart = sampleHost()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder("graft-bench", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warmup: JVM + codegen + parquet footer caches. The q01 pass warms
    // scan/agg codegen; the extra passes warm the two one-shot costs the
    // r07 probes measured landing inside first runs elsewhere in the
    // sequence — the JSON parse path (q11: first run 7.5 s vs 0.73 s
    // steady in an 8-run probe) and the iterative cluster machinery's
    // generated band join + checkpoint path (q32: 7.8 s vs 1.9 s
    // steady). Warmup work is NOT measured; under a loaded host the JIT
    // of these paths is exactly what best-of-2 fails to absorb.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    SparkEntry.queries("q01_pricing_summary")(spark, sfDir).write.format("noop").mode("overwrite").save()
    spark
      .range(1000L)
      .selectExpr("""get_json_object(concat('{"k":', id, '}'), '$.k') AS k""")
      .selectExpr("sum(cast(k as bigint))")
      .collect()
    import spark.implicits._
    val warmDocs = spark
      .range(200L)
      .map(i => (i, if (i % 10 == 1) s"warm doc ${i - 1} tokens here" else s"warm doc $i tokens here"))
      .toDF("doc_id", "text")
    graft.operators.Dedup.clusters(warmDocs, 0.5).count()
    // window/agg path (q34/q35's shape — explode + hash agg + ranked
    // window): their driver readings sat above band in r05 and r07 while
    // every dev re-probe landed inside; on a loaded host the one-shot
    // WindowExec + explode codegen JIT is the only q34/q35-specific cost
    // a first run can pay, so absorb it here like the JSON/cluster paths
    spark
      .range(500L)
      .selectExpr("id % 5 AS g", "id", "concat('w', id % 17, ' w', id % 13, ' w', id % 7) AS text")
      .selectExpr("g", "id", "explode(split(text, ' ')) AS term")
      .groupBy("g", "term")
      .agg(org.apache.spark.sql.functions.count("*").as("c"))
      .selectExpr("g", "term", "c", "row_number() OVER (PARTITION BY g ORDER BY c DESC, term) AS rn")
      .filter("rn <= 3")
      .collect()
    // IVF/Lloyd path (q37/q83's shape — the r08 out-of-band pair): the
    // trained-quantizer chain's generated code (seeded centroids, two
    // refine rounds of cosine-argmax + integer-quantized means, probe
    // ranking, int8 candidate codes) is a one-shot JIT cost nothing
    // above warms; r08 read q37 at 2.8x and q83 at 2.0x their anchors
    // with the code untouched — the same first-run signature q11/q32/
    // q34/q35 showed before their warmups landed. A 200-vector synthetic
    // corpus drives the full chain (both the float and the quantized
    // candidate scorers) in well under a second.
    val warmEmb = spark
      .range(200L)
      .selectExpr(
        "id AS vec_id",
        s"transform(sequence(0, ${graft.operators.Similarity.Dim - 1})," +
          " j -> cast(pmod(id * 31 + j * 7, 97) - 48 AS float)) AS embedding"
      )
    graft.operators.Similarity.annIvf(warmEmb, Seq(0L, 1L), 5).count()
    graft.operators.Similarity.annIvfQuantized(warmEmb, Seq(0L, 1L), 5).count()
    // r09 additions with their own one-shot codegen: the decimal
    // second-moment + power-round arithmetic (q138/q139 — probe run-1
    // read 1.8x median, enough to breach the ±50% band on a loaded
    // host) and the greedy-walk frontier joins (q134). Tiny frames
    // drive both chains end to end.
    graft.operators.Spectral
      .projectPrincipal(warmEmb, graft.operators.Spectral.principalComponent(warmEmb, 2))
      .count()
    locally {
      import spark.implicits._
      val warmDocs2 = spark
        .range(60L)
        .map(i => (i, s"alpha beta${i % 7} gamma alphabet"))
        .toDF("doc_id", "text")
      val wv = graft.operators.Vocabulary
        .subwordVocab(graft.operators.Vocabulary.wordpieceSegmentations(warmDocs2, 2))
      graft.operators.Vocabulary.greedySegmentations(warmDocs2, wv, 8).count()
      ()
    }
    spark.catalog.clearCache()

    // A failed query must NEVER record a (near-zero) time — that would
    // IMPROVE the bench as queries break. Failures go to an errors map and
    // are excluded from the timings (VERDICT.md "What's wrong" #9).
    //
    // Measurement mode (VERDICT r16 №3): each query runs `reps` times in
    // this one JVM and reports the per-query MEDIAN (default 3). The r09–
    // r16 rounds each spent a round-opening milestone adjudicating single-
    // run stalls on disjoint query sets — a median absorbs one stalled run
    // per query BY CONSTRUCTION, so a noisy host window can no longer
    // manufacture a flag, while a real regression (which moves every rep)
    // still reads true. The first rep still pays one-shot codegen/cache
    // warmup the later reps don't, which is exactly why the median (not
    // the mean) is the steady-state number a cluster would see.
    val queryFns = SparkEntry.queries
    // one measured reading per query: the reported number, the full rep
    // spread, the host context of the query's window, and any error
    case class Reading(
        name: String,
        reported: Double,
        runs: Seq[Double],
        err: Option[String],
        load1Before: Double,
        load1After: Double,
        iowait: Double
    )
    val results = ordered.map(name => (name, queryFns(name))).map { case (name, fn) =>
      // per-query honesty: drop cache entries leaked by EARLIER queries
      // (CacheManager dedups identical persisted plans, so without this the
      // later dedup-family queries silently ride caches the earlier ones
      // warmed and their timings look better than a cold run). Within the
      // query, the reps still measure the steady state it builds itself.
      spark.catalog.clearCache()
      def once(): (Double, Option[String]) = {
        val t0 = System.nanoTime()
        val err =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
          catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
              Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
          }
        ((System.nanoTime() - t0) / 1e9, err)
      }
      val hostBefore = sampleHost()
      val runs = scala.collection.mutable.ArrayBuffer.empty[Double]
      var err: Option[String] = None
      var i = 0
      while (i < reps && err.isEmpty) {
        val (t, e) = once()
        err = e
        if (e.isEmpty) runs += t
        i += 1
      }
      // adaptive reps: only on the stall signature.
      // A failure HERE must not discard the complete base-rep
      // measurement (r18 review): the extra reps are diagnostic — the
      // query already measured successfully `reps` times, so log the
      // failure and report the runs that exist instead of turning a
      // flagged-but-valid reading into a board error.
      var extraFailed = false
      while (err.isEmpty && !extraFailed && extraRepNeeded(runs.toSeq, maxReps)) {
        val (t, e) = once()
        if (e.isEmpty) runs += t
        else {
          extraFailed = true
          System.err.println(
            s"[bench] $name: adaptive extra rep failed (${e.get}); keeping the " +
              s"${runs.length} completed reps"
          )
        }
      }
      val hostAfter = sampleHost()
      if (err.isEmpty && runs.length > reps)
        System.err.println(
          f"[bench] $name: med>2x min after $reps reps — ran ${runs.length} total " +
            f"(spread ${runs.min}%.3f/${median(runs.toSeq)}%.3f/${runs.max}%.3f)"
        )
      val reported = if (runs.isEmpty) 0.0 else median(runs.toSeq)
      Reading(
        name, reported, runs.toSeq, err,
        hostBefore.load1, hostAfter.load1, iowaitPct(hostBefore, hostAfter))
    }
    val ok = results.filter(_.err.isEmpty)
    val total = ok.map(_.reported).sum
    // measured ANN quality next to the timings (VERDICT r01: correct-vs-
    // mirror is not correct-vs-purpose) — recall@10 of each approximate
    // path against exact brute force on this scale factor
    def recallOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val exact = recallOf(graft.operators.Similarity.bruteForceTopK(emb, qids, 10))
    def recall(approx: Set[(Long, Long)]): Double = (exact & approx).size.toDouble / exact.size
    val rLsh = recall(recallOf(graft.operators.Similarity.annLsh(emb, qids, 10)))
    val rIvf = recall(recallOf(graft.operators.Similarity.annIvf(emb, qids, 10)))
    val json = benchLine(
      benchMode,
      reps,
      ok.map(r => r.name -> r.reported),
      results.collect { case r if r.err.isDefined => r.name -> r.err.get },
      rLsh,
      rIvf,
      sfDir
    )
    println(json)
    // sbt wraps stdout lines in "[info] " — a consumer grepping for a bare
    // JSON line never finds one. Emit the same line to a file (path
    // overridable via SPARK_GRAFT_BENCH_OUT) so the result is parseable
    // regardless of what log framework wraps the streams.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_OUT.json")
    // full per-query rep spread (min/med/max) rides a SIDE file, not the
    // stdout line: the driver keeps only the line's last ~2 KB, and
    // tripling the per-query payload would push most of the board out of
    // the retained tail — the spread is a local diagnosis artifact
    val hostEnd = sampleHost()
    val stats = ok
      .map { r =>
        // "reps_run" records adaptive extensions (№5); the load/iowait
        // stamps are the query's own window (№4) so a flagged reading
        // carries its machine evidence inline instead of needing a probe
        // round.
        "\"" + r.name + "\":{" +
          f""""min":${r.runs.min}%.3f,"med":${median(r.runs)}%.3f,"max":${r.runs.max}%.3f""" +
          f""","reps_run":${r.runs.length},"load1_before":${r.load1Before}%.2f""" +
          f""","load1_after":${r.load1After}%.2f,"iowait_pct":${r.iowait}%.2f""" + "}"
      }
      .mkString(
        s"""{"bench_mode":"$benchMode","reps":$reps,"sf":"$sfDir",""" +
          s""""host":{"cpus":${Runtime.getRuntime.availableProcessors}""" +
          f""","load1_start":${hostStart.load1}%.2f,"load1_end":${hostEnd.load1}%.2f""" +
          f""","iowait_pct":${iowaitPct(hostStart, hostEnd)}%.2f},"queries":{""",
        ",",
        "}}"
      )
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outPath),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)
      )
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outPath.stripSuffix(".json") + ".stats.json"),
        (stats + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)
      )
    } catch {
      case e: Exception => System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    spark.stop()
    if (results.length != ok.length) sys.exit(1)
  }
}
