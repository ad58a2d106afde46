package graft.streaming

import graft.operators.{Deidentify, Retrieval, Similarity, Sketch, Spectral}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import java.time.Instant

/** Structured Streaming forms of the event-time operators. The reference is
  * strictly bounded (its generator loop, `dump_table.py:81-111`, is cursor
  * iteration, not a stream), so these are north-star extensions: the same
  * `window`/`session_window` logic as graft.operators.EventOps, lifted to
  * `readStream` with watermarks, plus a custom-state sessionizer via
  * `flatMapGroupsWithState` for semantics the built-ins can't express.
  *
  * Design for scale: state is keyed (user_id / window), so it partitions
  * across executors; the watermark bounds state size — without it an
  * unbounded-lateness stream would accumulate state forever.
  *
  * The batch scorers whose stream side is a per-row projection plus a
  * broadcast lookup (`NgramLM.scoredGrams`, `Importance.scoredFeatures`,
  * `Retrieval.matchedTerms`, `Classifier.scoredFeatures`,
  * `LangId.scoredPairs`) run on a streaming frame as they are and stay
  * stateless; their per-doc aggregate belongs in `foreachBatch`, where the
  * batch `score` is micro-batch-exact (a document's rows arrive with the
  * document). Artifacts that grow with the stream are maintained as
  * [[Lsm]]s.
  */
object StreamingOps {

  /** Watermarked sliding-window counts over a streaming events frame. */
  def windowedCounts(
      events: DataFrame,
      watermark: String = "10 minutes",
      width: String = "1 hour",
      slide: String = "30 minutes"
  ): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n_events"), col("sum_value"))

  /** Watermarked session windows (built-in session_window). */
  def sessionCounts(events: DataFrame, watermark: String = "10 minutes", gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n_events"))

  // java.time.Instant, not java.sql.Timestamp: Spark timestamps carry
  // MICROSECONDS and Timestamp.getTime truncates to millis — a sessionizer
  // built on getTime would emit session starts that no longer equal the
  // batch operator's (micro-precision) output.
  final case class Ev(event_id: Long, ts: Instant, user_id: Long, event_type: String, value: Double)
  final case class OpenSession(start: Long, end: Long, n: Long) // epoch micros
  final case class SessState(open: List[OpenSession])
  final case class SessionOut(user_id: Long, session_start: Instant, n_events: Long)

  private def micros(i: Instant): Long = i.getEpochSecond * 1000000L + i.getNano / 1000L
  private def instant(us: Long): Instant =
    Instant.ofEpochSecond(Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)

  /** Custom stateful sessionizer via interval merge — the
    * flatMapGroupsWithState extension point for state machines the
    * declarative API can't express.
    *
    * Bounded by construction (the round-1 version buffered and SORTED a
    * user's whole trigger batch in memory — a skewed user OOMs the task):
    * each event is folded into the per-user set of open session intervals
    * in O(#open sessions), order-insensitive, so out-of-order arrivals
    * within the watermark need no sort and per-key state is proportional
    * to concurrently-open sessions, not events. An event bridging two open
    * intervals merges them — same semantics as `session_window`.
    *
    * Emission is event-time: a session closes when the watermark passes
    * `end + gap` (no earlier event can still join it), driven by
    * EventTimeTimeout between batches. Session membership is strict
    * (`|t − boundary| < gap` joins, `= gap` starts a new session) —
    * matching the batch EventOps.sessions / q14 oracle semantics.
    */
  def sessionize(
      events: Dataset[Ev],
      gapMs: Long = 30 * 60 * 1000L,
      watermarkDelay: String = "0 seconds"
  ): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionOut](
        OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout
      ) { (user: Long, rows: Iterator[Ev], state: GroupState[SessState]) =>
        val gapUs = gapMs * 1000L
        var open: List[OpenSession] = state.getOption.map(_.open).getOrElse(Nil)
        if (!state.hasTimedOut) {
          rows.foreach { ev =>
            val t = micros(ev.ts)
            val (hit, rest) = open.partition(s => t > s.start - gapUs && t < s.end + gapUs)
            val merged =
              if (hit.isEmpty) OpenSession(t, t, 1)
              else
                OpenSession(
                  math.min(hit.map(_.start).min, t),
                  math.max(hit.map(_.end).max, t),
                  hit.map(_.n).sum + 1
                )
            open = merged :: rest
          }
        }
        val wmUs = state.getCurrentWatermarkMs() * 1000L
        val (closed, stillOpen) = open.partition(_.end + gapUs <= wmUs)
        if (stillOpen.nonEmpty) {
          state.update(SessState(stillOpen))
          // earliest possible close, rounded up past the ms-granularity
          // watermark (setTimeoutTimestamp must exceed the current watermark)
          state.setTimeoutTimestamp(stillOpen.map(_.end).min / 1000L + gapMs + 1L)
        } else {
          state.remove()
        }
        closed.sortBy(_.start).map(s => SessionOut(user, instant(s.start), s.n)).iterator
      }
  }

  /** Streaming NEAR-dedup within the stream itself: drops any arriving
    * document whose 32-bit SimHash fingerprint was already admitted inside
    * the watermark. SimHash collision is a locality-sensitive near-dup
    * signal: exact duplicates always collide, light rewrites (token swaps
    * that don't flip a majority vote) usually do, unrelated documents
    * almost never. The fingerprint is the one-pass codegen kernel
    * ([[graft.functions.SimHash32]]) — per-row column work, no
    * pre-aggregation — so the ONLY stateful operator is
    * `dropDuplicatesWithinWatermark` itself, whose state is one row per
    * distinct fingerprint and is evicted once no in-watermark arrival can
    * still collide. The streaming face of [[graft.operators.Dedup]]'s
    * near-dedup for ingest pipelines that must admit-or-drop in flight;
    * run the full banded MinHash dedup in batch for the stronger contract.
    */
  def nearDedupStream(
      stream: DataFrame,
      tsCol: String,
      watermark: String,
      textCol: String = "text"
  ): DataFrame =
    stream
      .withColumn("fp", graft.functions.GraftExpressions.simhash32(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(Seq("fp"))
      .drop("fp")

  /** Streaming near-duplicate detection against a STATIC reference corpus —
    * the in-flight ingest filter of an LLM data pipeline: each arriving
    * document is checked against the existing corpus before admission.
    *
    * Pure stream-static composition of the batch dedup kernels: the corpus
    * side is banded once (persisted signatures + LSH band index); each
    * micro-batch computes the fused shingle+minhash kernel per incoming
    * doc, then explodes its band keys WITH the shingle hashes carried
    * alongside — one straight-line projection, so the stream side never
    * references itself. (Joining the banding back to its own source on
    * doc_id — the round-2 shape — made both join inputs derive from the
    * stream, which Spark plans as a stateful stream-stream self-join with
    * no watermark: unbounded state, and replayed doc_ids matching rows
    * from earlier batches.) No streaming state at all — every operator is
    * per-batch — so there is nothing to watermark and nothing that grows.
    * STATELESSNESS over tidiness: a pair matching in several bands emits
    * once per band (≤ Bands rows); a stateful dedup would reintroduce
    * unbounded state. Consumers dedupe per batch (foreachBatch +
    * dropDuplicates) if they need exactly-one.
    *
    * Emits (doc_id, corpus_doc_id, jaccard) for every match ≥ threshold.
    */
  def nearDupAgainst(
      corpus: DataFrame,
      stream: DataFrame,
      threshold: Double
  ): DataFrame = {
    import graft.operators.Dedup
    val base = Dedup.shingleSignatures(corpus, "text", "doc_id")
    val corpusBands = Dedup
      .bandsOf(base, Dedup.Bands, Dedup.RowsPerBand)
      .withColumnRenamed("doc_id", "corpus_doc_id")
    val streamSig = stream
      .select(
        col("doc_id"),
        graft.functions.GraftExpressions
          .shingle_minhash(col("text"), Dedup.ShingleK, Dedup.NumHashes)
          .as("sm")
      )
      .select(col("doc_id"), col("sm.sh").as("sh"), col("sm.sig").as("sig"))
    val streamBands = Dedup.bandsOf(streamSig, Dedup.Bands, Dedup.RowsPerBand, carry = Seq("sh"))
    streamBands
      .join(corpusBands, Seq("band", "band_key"))
      .join(base.select(col("doc_id").as("corpus_doc_id"), col("sh").as("c_sh")), "corpus_doc_id")
      .select(
        col("doc_id"),
        col("corpus_doc_id"),
        round(Dedup.jaccard(col("sh"), col("c_sh")), 6).as("jaccard")
      )
      .filter(col("jaccard") >= threshold)
  }

  /** Streaming COPY detection against a static reference corpus — the
    * winnowing counterpart of [[nearDupAgainst]]: flags arriving documents
    * that share rare winnowed fingerprints with an existing document,
    * i.e. copied RUNS of ≥ w+k−1 tokens, which whole-document similarity
    * misses when the rest of the document is new.
    *
    * Stream-static and stateless by the same discipline as
    * [[nearDupAgainst]]: the corpus fingerprint index is winnowed,
    * df-capped (ubiquitous boilerplate fingerprints dropped — they carry
    * no copy signal and would fan out per batch) and persisted ONCE on
    * the static side; each micro-batch winnows its own documents in one
    * straight-line projection + explode and equi-joins the index. No
    * aggregation crosses batches, so there is no state and nothing to
    * watermark. STATELESSNESS over tidiness: emits one row per shared
    * rare fingerprint (doc_id, corpus_doc_id, fp); consumers wanting a
    * per-pair shared count aggregate within foreachBatch (a streaming
    * groupBy here would reintroduce unbounded state).
    */
  def copyDetectAgainst(
      corpus: DataFrame,
      stream: DataFrame,
      k: Int = graft.operators.Dedup.ShingleK,
      w: Int = graft.operators.Dedup.WinnowW,
      maxDf: Int = graft.operators.Dedup.WinnowMaxDf
  ): DataFrame = {
    import graft.operators.Dedup
    // persist the POST-cap index, not the raw fingerprints: the df-cap
    // aggregate and rare-join run once (first batch materializes the
    // cache); later batches replay a plain cached-table join instead of a
    // corpus-wide shuffle aggregation per micro-batch
    val corpusFps = Dedup.winnowedFingerprintRows(corpus, k, w)
    val rare = corpusFps
      .groupBy("fp")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select("fp")
    val index = corpusFps
      .join(rare, "fp")
      .withColumnRenamed("doc_id", "corpus_doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    stream
      .select(
        col("doc_id"),
        explode(graft.functions.TextFunctions.winnow(col("text"), k, w)).as("fp")
      )
      .join(index, "fp")
      .select(col("doc_id"), col("corpus_doc_id"), col("fp"))
  }

  /** Streaming DECONTAMINATION — flag in-flight documents sharing an
    * exact k-gram with a static benchmark set
    * ([[graft.operators.Decontaminate]]'s check applied at ingest time,
    * before a contaminated page ever lands in the corpus). Returns
    * `(doc_id, gh)` per shared gram hash; filter the ingest with an anti
    * join inside `foreachBatch`, or count per doc there (a streaming
    * groupBy here would add needless state).
    *
    * Same discipline as [[copyDetectAgainst]]: the stream side is one
    * stateless projection (explode + broadcast-able equi-join against a
    * persisted static index), so there is NO streaming state — the
    * benchmark index is built and persisted once, and every micro-batch
    * replays a plain cached-table join.
    */
  def decontaminateAgainst(
      benchmark: DataFrame,
      stream: DataFrame,
      k: Int = graft.operators.Decontaminate.DefaultK
  ): DataFrame = {
    val index = graft.operators.Decontaminate
      .benchmarkIndex(benchmark, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    stream
      .select(
        col("doc_id"),
        explode(graft.functions.TextFunctions.shingleHashes(col("text"), k)).as("gh")
      )
      .join(index, "gh")
      .select(col("doc_id"), col("gh"))
  }

  /** Streaming MEMORIZATION profiling — the in-flight form of q154:
    * each arriving document's positional k-gram hits against the STATIC
    * broadcast benchmark index
    * ([[graft.operators.Decontaminate.benchmarkIndex]], caller-owned
    * lifecycle). The stream side is the stateless hit projection —
    * `(doc_id, i)` per benchmark-covered window position, zero
    * streaming state (the gaps-and-islands window would plan a
    * StateStore on a stream); the per-doc run-length fold belongs in
    * `foreachBatch`, where
    * [[graft.operators.Decontaminate.memorizationProfile]] on the batch
    * frame is micro-batch-exact (a document's windows arrive with the
    * document).
    */
  def profileMemorizationAgainst(
      benchmarkIdx: DataFrame,
      stream: DataFrame,
      k: Int = graft.operators.Decontaminate.DefaultK,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame =
    stream
      .select(
        col(idCol),
        posexplode(
          graft.functions.TextFunctions.positionalShingleHashes(col(textCol), k)
        ).as(Seq("i", "gh"))
      )
      .join(broadcast(benchmarkIdx), Seq("gh"))
      .select(col(idCol), col("i"))

  /** Streaming SEMANTIC decontamination — the stateless twin of
    * [[graft.operators.Decontaminate.semanticOverlap]]: a vector
    * arrives WHOLE in its row, so its max cosine against the (1-row
    * broadcast) benchmark ARRAY is a row-local fold — no explode-join,
    * no aggregate, no StateStore; an append-mode projection a live
    * ingest runs per micro-batch at full rate. The fold's `greatest` is
    * order-free exactly, so the arbitrary `collect_list` order of the
    * benchmark array cannot move the result, and the quantize-after-max
    * arithmetic is the batch operator's — streaming == batch per vector
    * (spec-pinned).
    */
  def scoreSemanticAgainst(
      benchEmb: DataFrame,
      stream: DataFrame,
      tauMicro: Long
  ): DataFrame = {
    val benchArr = benchEmb.agg(collect_list(col("embedding")).as("__bs"))
    stream
      .crossJoin(broadcast(benchArr))
      .withColumn(
        "__max_cos",
        aggregate(
          col("__bs"),
          lit(-2.0),
          (acc, b) =>
            greatest(acc, graft.functions.VectorFunctions.cosineHof(col("embedding"), b))
        )
      )
      .withColumn(
        "max_cos_micro",
        expr("CAST(floor(__max_cos * 1000000 + 0.5) AS BIGINT)")
      )
      .withColumn("flagged", col("max_cos_micro") >= tauMicro)
      .drop("__bs", "__max_cos")
  }

  /** LIVE CORPUS CARD — the streaming face of
    * [[graft.operators.Report.corpusCard]]: per (event-time window,
    * source) document/token counts over an ingest stream, the datasheet
    * accumulating as the crawl lands. A genuinely STATEFUL streaming
    * aggregation (unlike the scoring twins, which are deliberately
    * stateless projections): the state is keyed on (window, source) —
    * bounded by sources × open windows — and the watermark closes
    * windows, so state is evicted as event time advances; in append
    * mode a window's row emits exactly once, when it can no longer
    * change. Token counts ride the same projection as the grouping
    * (one kernel call per row), so the stream side never re-reads a
    * document.
    */
  def cardStream(
      docs: DataFrame,
      tsCol: String = "ts",
      sourceCol: String = "source",
      textCol: String = "text",
      watermark: String = "10 minutes",
      width: String = "1 hour"
  ): DataFrame =
    docs
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), width).as("w"), col(sourceCol).as("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(graft.functions.TextFunctions.tokenCount(col(textCol)).cast("long")).as("n_tokens")
      )
      .select(col("w.start").as("window_start"), col("source"), col("n_docs"), col("n_tokens"))

  /** Watermarked STREAM-STREAM interval join — the attribution shape: for
    * each purchase, every signup by the same user in the `window` before
    * it (inclusive on both ends). Both sides carry a watermark and the
    * join condition bounds signup_ts to [purchase_ts − window,
    * purchase_ts], so Spark derives exactly how long each side's rows can
    * still match and evicts state beyond it — the one join shape where
    * stream-vs-stream state stays BOUNDED. (Contrast the batch as-of join,
    * which picks the single most recent signup over an UNBOUNDED past —
    * that contract cannot bound state and is deliberately not offered on
    * streams; bound the lookback or run it in batch.)
    */
  def purchaseAttribution(
      purchases: DataFrame,
      signups: DataFrame,
      window: String = "1 hour",
      watermark: String = "10 minutes"
  ): DataFrame = {
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    val s = signups
      .select(col("event_id").as("signup_id"), col("user_id").as("s_user_id"), col("ts").as("signup_ts"))
      .withWatermark("signup_ts", watermark)
    p.join(
      s,
      col("user_id") === col("s_user_id") &&
        col("signup_ts") >= col("purchase_ts") - expr(s"INTERVAL $window") &&
        col("signup_ts") <= col("purchase_ts")
    ).select(col("purchase_id"), col("user_id"), col("purchase_ts"), col("signup_id"), col("signup_ts"))
  }

  /** Continuous ingest — the streaming face of the dump pipeline
    * (O9/O10): stream → sharded parquet with the same layout knobs as
    * [[graft.sources.ShardedParquetSink]], exactly-once via the
    * checkpointed file-sink log. `Trigger.AvailableNow` drains everything
    * available then stops — the batch-friendly trigger for scheduled
    * ingest runs; pass a processing-time trigger for true always-on
    * tailing. Micro-batch writers fragment files over time; compose with
    * [[graft.sources.Layouts.compact]] as the maintenance pass.
    */
  def streamDump(
      stream: DataFrame,
      dir: String,
      checkpointDir: String,
      layout: graft.sources.ParquetLayout = graft.sources.ParquetLayout()
  ): StreamingQuery =
    stream.writeStream
      .format("parquet")
      .option("path", dir)
      .option("checkpointLocation", checkpointDir)
      .options(layout.writerOptions)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Composed streaming INGEST ADMISSION — the streaming twin of
    * [[graft.operators.Pipeline.trainingData]]'s front half: scrub →
    * quality gate → exact dedup within the batch → near-dedup against a
    * static corpus snapshot → append to sharded parquet. One call gives a
    * crawl consumer the complete admit-or-drop path with the dump layout
    * knobs.
    *
    * The scrub + quality stages are stateless column ops on the stream
    * itself; the dedup stages run INSIDE `foreachBatch`, i.e. in batch
    * land with exact semantics and zero streaming state — the same
    * micro-batch-exact discipline as [[copyDetectAgainst]]. Contracts,
    * stated honestly:
    *  - admission is against the FIXED corpus snapshot passed in (its
    *    banded signature index is persisted once and reused across
    *    batches by plan-cache identity); near-dups BETWEEN separate
    *    micro-batches are not collapsed — re-index periodically, exactly
    *    like a daily-crawl incremental dedup;
    *  - within one batch, exact duplicates collapse to the min id and
    *    near-dups are delegated to [[graft.operators.Dedup.dedupAgainst]]
    *    (whose new-vs-new caveat applies);
    *  - `foreachBatch` + append parquet is at-least-once under retry (the
    *    file-sink transaction log is bypassed); admission is a pure
    *    function of content, so a replayed batch writes identical rows —
    *    dedupe by doc_id downstream if exactly-once matters.
    */
  def admitIngest(
      corpus: DataFrame,
      stream: DataFrame,
      dir: String,
      checkpointDir: String,
      minQuality: Double = 0.4275,
      threshold: Double = 0.8,
      layout: graft.sources.ParquetLayout = graft.sources.ParquetLayout()
  ): StreamingQuery = {
    import graft.functions.TextFunctions
    import graft.operators.Dedup
    val gated = stream
      .withColumn("text", TextFunctions.scrub(col("text")))
      .filter(TextFunctions.qualityScoreFused(col("text")) >= minQuality)
    gated.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the batch feeds both the exact-dedup aggregate and the semi
        // join, and dedupAgainst reads the survivors twice more — persist
        // for the batch's lifetime, release before returning
        val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val exact = b.join(
          b.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id")).select("doc_id"),
          Seq("doc_id"),
          "left_semi"
        )
        try
          Dedup
            .dedupAgainst(exact, corpus, threshold)
            .write
            .mode("append")
            .options(layout.writerOptions)
            .parquet(dir)
        finally {
          // dedupAgainst persisted a signature frame for THIS batch's
          // delta (a distinct plan every batch — left alone, a
          // long-running ingest accumulates one dead cache entry per
          // micro-batch); the corpus-side entry deliberately stays, it
          // is the cross-batch index
          Dedup.releaseSignatures(exact)
          b.unpersist()
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** A MAINTAINED ARTIFACT over a stream, in the append-only LSM shape:
    * each micro-batch writes ONLY its own `part=<batchId>`, built from
    * the batch by `part` (O(batch) work; a retry overwrites the same
    * directory with identical content, so at-least-once replay is
    * idempotent), and readers merge on read through `fold`. Every family
    * below folds EXACTLY — postings re-aggregate, counts and sums add,
    * bucket rows union — so [[current]] equals the family's one-pass
    * batch build over everything ever streamed, and [[compact]] folds the
    * parts into one without changing it (both spec-pinned per family):
    * read cost stays bounded by the parts-since-last-compaction count
    * while write cost stays O(batch).
    *
    * `fold` takes an EXPLICIT part-path set, so the live view and the
    * compaction fold share one implementation — compacting can never
    * produce a frame the view would not have served.
    *
    * Contract mirror of the batch operators: admission upstream must
    * keep the same document from being streamed twice ([[admitIngest]]);
    * a document's text SPLIT across batches still merges exactly (tf and
    * dl sum, df stays exact).
    */
  final case class Lsm(
      kind: String,
      part: DataFrame => DataFrame,
      fold: (SparkSession, Seq[String]) => DataFrame
  ) {

    /** [[Lsm.maintainAll]] with this artifact as the only target. */
    def maintain(
        stream: DataFrame,
        dir: String,
        checkpointDir: String,
        autoCompactEvery: Int = 0,
        trigger: Trigger = Trigger.AvailableNow()
    ): StreamingQuery =
      Lsm.maintainAll(stream, checkpointDir, Seq(this -> dir), autoCompactEvery, trigger)

    /** The merge-on-read view: ONE multi-path scan over the live parts,
      * folded once — a single FileScan node at any part count, where a
      * per-part union tree grows the plan linearly in the batch count.
      * "Live" honors an in-flight compaction's marker
      * ([[livePartPaths]]), so the view is complete at every crash point
      * of [[compact]].
      */
    def current(spark: SparkSession, dir: String): DataFrame = {
      val paths = livePartPaths(spark, dir)
      require(paths.nonEmpty, s"no $kind parts under $dir")
      fold(spark, paths)
    }

    /** Fold every part into one through [[compactLsm]]'s crash-safe
      * protocol. Run it QUIESCED — with the maintaining stream stopped —
      * like every compaction ([[graft.sources.Layouts.compact]] included).
      */
    def compact(spark: SparkSession, dir: String): Unit = compactLsm(spark, dir, fold)
  }

  object Lsm {

    /** ONE streaming query and ONE checkpoint feeding several artifacts:
      * each micro-batch runs every target's auto-compaction hook
      * ([[maybeAutoCompact]], when `autoCompactEvery > 0`), then writes
      * the target's part through [[writeLsmPart]]'s guards. The targets
      * share the checkpoint's lineage and batch ids, so a replayed batch
      * rewrites all of its parts together.
      */
    def maintainAll(
        stream: DataFrame,
        checkpointDir: String,
        targets: Seq[(Lsm, String)],
        autoCompactEvery: Int = 0,
        trigger: Trigger = Trigger.AvailableNow()
    ): StreamingQuery =
      stream.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val sp = batch.sparkSession
          val lineage = lineageOf(sp, checkpointDir)
          targets.foreach { case (lsm, dir) =>
            maybeAutoCompact(sp, dir, autoCompactEvery, batchId, lsm.fold)
            writeLsmPart(lsm.part(batch), dir, batchId, lineage)
          }
        }
        .option("checkpointLocation", checkpointDir)
        .trigger(trigger)
        .start()

    /** A fold that is one multi-path scan plus the family's merge. */
    private def scan(merge: DataFrame => DataFrame)(spark: SparkSession, paths: Seq[String]): DataFrame =
      merge(spark.read.parquet(paths: _*))

    /** The inverted index ([[Retrieval.invertedIndex]]): partials merge
      * through the q115 posting re-aggregation.
      */
    def index(textCol: String = "text", idCol: String = "doc_id"): Lsm =
      Lsm("index", Retrieval.invertedIndex(_, textCol, idCol), scan(Retrieval.mergeIndexes(_)))

    /** The BM25 norms table ([[Retrieval.docLengths]]): dl sums per doc
      * like tf does. Maintained with [[index]] by one query
      * ([[maintainAll]]), `bm25TopKIndexed` over the two views ==
      * `bm25TopK` over every document ever streamed — ranked retrieval
      * over a live crawl whose queries never touch corpus text.
      */
    def norms(textCol: String = "text", idCol: String = "doc_id"): Lsm =
      Lsm("norms", Retrieval.docLengths(_, textCol, idCol),
        scan(_.groupBy(col("doc_id")).agg(sum(col("dl")).as("dl"))))

    /** The ANN bucket index ([[Similarity.lshIndex]]): the hyperplanes are
      * data-independent, so a vector's bucket rows are final when computed
      * and the union of parts IS the index.
      */
    val lsh: Lsm = Lsm("LSH index", Similarity.lshIndex, scan(identity))

    /** A count-min sketch ([[Sketch.cmsSketch]]): counter grids add. */
    def cms(keyCol: String, depth: Int = 4, width: Int = 1024): Lsm =
      Lsm("CMS", Sketch.cmsSketch(_, keyCol, depth, width), scan(Sketch.cmsMerge(_)))

    /** The k-anonymity release census ([[Deidentify.cellCounts]]): cell
      * counts add, so a live de-identified feed judges arrivals with
      * `suppressAgainstCounts` against the census-so-far with no stateful
      * streaming aggregation (that state would be cell-cardinality-sized
      * and unbounded).
      */
    def census(quasiCols: Seq[String]): Lsm = {
      require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
      Lsm("census", Deidentify.cellCounts(_, quasiCols), censusFold("__graft_cell_n", "census"))
    }

    /** The clipped-sum census ([[Deidentify.cellSums]]): the clamp is
      * per-row and clipped sums add, so `dpSumsFromTotals` over the view
      * == `dpCellSums` of everything streamed.
      */
    def sumCensus(quasiCols: Seq[String], valueCol: String, clip: Long): Lsm = {
      require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
      Lsm("sum census", Deidentify.cellSums(_, quasiCols, valueCol, clip),
        censusFold("__graft_cell_s", "sum census"))
    }

    /** The spectral moment sketch ([[Spectral.momentSketch]]): centering
      * does not commute with micro-batching, so parts hold RAW moment
      * sums, which add; `secondMomentFromSketch` centers once, globally,
      * and the streamed principal component equals the batch one bit for
      * bit.
      */
    val moments: Lsm = Lsm("moment-sketch", Spectral.momentSketch, scan(Spectral.mergeMoments(_)))
  }

  /** The live part PATHS of an LSM dir under the compaction marker
    * protocol ([[Lsm.current]] reads them in ONE multi-path scan): with
    * no marker, the `part=<n>` dirs; with a marker naming fold boundary
    * `hi` and the staged `part=<hi>.compacted` dir still present, that
    * dir is authoritative for every part ≤ hi (they are mid-delete) plus
    * the parts > hi; a marker whose staged dir is GONE means the rename
    * already landed — plain parts again.
    *
    * Resolution is a STABLE-SNAPSHOT loop (r17 review): the marker read
    * and the part listing are two filesystem reads, and a compaction
    * swap advancing between them could resolve a view that silently
    * MISSES the fold (list taken after the superseded-part deletes,
    * marker read after the uncommit — only parts > hi survive both).
    * Before auto-compaction that interleaving required racing a rare
    * quiesced manual fold; with [[maybeAutoCompact]] the swap is
    * routine, so the resolver now re-reads (marker, parts) until two
    * consecutive snapshots agree — a swap step between the paired reads
    * changes one of the two, so an agreeing pair brackets no mutation.
    * (The only mutation-invisible pair is a single-part fold replacing
    * `part=hi` with its own exact merge — content-identical, so the
    * view is still right.) Files can still vanish between resolution
    * and the SCAN (any merge-on-read over a mutating dir has that
    * window); that failure mode is LOUD (FileNotFound — re-run the
    * view), never a silent undercount.
    */
  private def livePartPaths(spark: SparkSession, indexDir: String): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the staged dir's existence is PART of the snapshot: checking it
    // after agreement would reopen the same window (marker stable, but
    // the rename lands between the paired reads and the late exists()
    // sees it gone — the fold would silently drop out of the view)
    def snapshot(): (Option[Long], Seq[Long], Boolean) = {
      val marker = readCompactMarker(fs, indexDir)
      val parts = listParts(spark, indexDir).sorted.toSeq
      val staged = marker.exists(hi =>
        fs.exists(new org.apache.hadoop.fs.Path(compactedStaging(indexDir, hi)))
      )
      (marker, parts, staged)
    }
    var prev = snapshot()
    var attempts = 0
    while (attempts < 100) {
      val cur = snapshot()
      if (cur == prev) {
        val (marker, parts, staged) = cur
        return marker match {
          case Some(hi) if staged =>
            compactedStaging(indexDir, hi) +:
              parts.filter(_ > hi).map(p => s"$indexDir/part=$p")
          case _ =>
            // no marker, or the rename already landed on BOTH reads —
            // the fold (if any) is a plain part=hi in the listing
            parts.map(p => s"$indexDir/part=$p")
        }
      }
      prev = cur
      attempts += 1
    }
    throw new IllegalStateException(
      s"live-part snapshot of $indexDir would not stabilize after $attempts attempts — " +
        "a compaction appears to be churning continuously; quiesce the maintainer or retry"
    )
  }

  private def compactedStaging(indexDir: String, hi: Long): String =
    s"$indexDir/part=$hi.compacted"

  /** Marker file inside a compacted fold's part dir (underscore-prefixed,
    * so parquet directory reads ignore it). It lets [[writeLsmPart]]
    * distinguish the one part a maintainer must NEVER overwrite — the
    * fold holds the dir's entire pre-compaction history — from the
    * maintainer's own parts, which a retried micro-batch legitimately
    * rewrites with identical content.
    */
  private val CompactedFoldMarker = "_graft_compacted"

  /** Marker file inside every maintainer-written part naming the
    * checkpoint LINEAGE that wrote it (underscore-prefixed — parquet
    * directory reads ignore it). The lineage id is the streaming
    * checkpoint's own query id, which Spark regenerates exactly when the
    * checkpoint is wiped — the event that resets batch numbering and
    * makes part-id collisions possible at all.
    */
  private val LineageMarker = "_graft_lineage"

  /** Read a small UTF-8 text file (marker/metadata) — the one Hadoop-FS
    * idiom under every marker in this module.
    */
  private def readUtf8(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path
  ): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** [[readUtf8]] when the file may legitimately not exist. */
  private def readUtf8IfExists(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path
  ): Option[String] =
    if (fs.exists(p)) Some(readUtf8(fs, p)) else None

  private def writeUtf8(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path,
      s: String
  ): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The maintainer's lineage id: the unique query id from the
    * checkpoint's `metadata` file (`{"id":"<uuid>"}`), written by Spark
    * at query start and regenerated on a fresh checkpoint — even one
    * recreated at the SAME path, which a checkpoint-dir-string token
    * could not distinguish. Falls back to the checkpoint path only when
    * the file is ABSENT (a markerless configuration: same path ⇒ same
    * token, so retries still pass). An IO failure reading an EXISTING
    * metadata file propagates loudly (r17 review): silently degrading
    * to the path token would brand/compare mismatched tokens — a
    * transient blip during a replay would kill a legitimate stream with
    * a false fresh-checkpoint error, and a persistent one would quietly
    * downgrade the guard to the token the uuid exists to be stronger
    * than. A loud batch failure retries under Spark's own restart
    * machinery instead.
    */
  private def lineageOf(spark: SparkSession, checkpointDir: String): String = {
    val p = new org.apache.hadoop.fs.Path(checkpointDir, "metadata")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readUtf8IfExists(fs, p)
      .map(txt =>
        """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(txt).map(_.group(1)).getOrElse(checkpointDir)
      )
      .getOrElse(checkpointDir)
  }

  /** The single write path for per-batch LSM parts (census, sums census,
    * index partials, LSH, CMS, moments, IVF vectors). Two guards, both
    * failing BEFORE any data moves:
    *  - never overwrite a compacted fold: a maintainer restarted on a
    *    FRESH checkpoint re-begins batch numbering at 0, and once its
    *    batchId reaches the fold's id the overwrite would silently
    *    replace the dir's full history with one micro-batch's partial —
    *    a quiet corruption of everything served from the view (for the
    *    census, a privacy regression: suppression would judge against
    *    undercounts);
    *  - never overwrite a PLAIN part across lineages (ADVICE r16): the
    *    same fresh-checkpoint maintainer silently replaces part=0..k
    *    dirs holding uncompacted history long before it reaches a fold.
    *    Every part is branded with its writer's lineage id; an existing
    *    part with a DIFFERENT lineage is refused, while a same-lineage
    *    retry (the at-least-once replay this write path exists to
    *    absorb) overwrites idempotently as before. A part with no brand
    *    (hand-built fixtures, pre-r17 dirs) stays overwritable — a
    *    crashed attempt that wrote parquet but died before branding must
    *    not wedge its own retry;
    *  - never write into a dir holding ANY part of a different lineage
    *    (r17 review): the per-id collision check alone lets a
    *    fresh-checkpoint maintainer interleave its parts 0..k-1 into a
    *    compacted dir (those ids were folded away, so nothing collides
    *    until the fold id) — and a restarted-from-scratch checkpoint
    *    replays the SOURCE from zero, so those foreign parts
    *    double-count every cell the fold already holds. [[compactLsm]]
    *    propagates the brand onto its fold so a compacted dir stays
    *    owned.
    * The foreign-lineage scan is INCREMENTAL per batch, not
    * once-per-process (ADVICE r17, both items): the cache remembers the
    * (part name, mtime) pairs already verified for this (dir, lineage),
    * each write lists the dir and reads markers only for UNSEEN pairs —
    * a part is "seen" only as the exact on-disk incarnation that was
    * verified, so
    *  - a dir wiped and recreated at the same path in a long-lived
    *    driver (fixed tmp paths in dev/test loops) re-presents even
    *    same-NAMED parts with fresh mtimes — the stale verdict stops
    *    matching and the recreated parts are re-verified instead of
    *    being served the pre-wipe answer (mtime resolution bounds the
    *    detectable window; an adversarial same-millisecond wipe is out
    *    of scope);
    *  - two maintainers with different lineages racing an empty dir
    *    (the first-verification TOCTOU) both pass batch 0's scan of
    *    nothing, but the interloper's branded parts are UNSEEN pairs at
    *    this maintainer's very next batch and refused there — detection
    *    moved from "a later process" to "the next micro-batch", at the
    *    cost of one `listStatus` per batch and marker reads amortized
    *    O(1) (own parts enter the seen-set as they are written).
    * Unbranded dirs (hand-built fixtures, pre-r17 history) remain
    * writable by anyone once — the first r17 maintainer brands them.
    * The contract, now enforced rather than documented: one checkpoint
    * lineage per dir; to migrate, resume the original checkpoint or
    * maintain into a fresh dir.
    */
  private val verifiedDirLineage =
    scala.collection.concurrent.TrieMap.empty[(String, String), Set[(String, Long)]]

  private def writeLsmPart(df: DataFrame, dir: String, batchId: Long, lineage: String): Unit = {
    val target = new org.apache.hadoop.fs.Path(s"$dir/part=$batchId")
    val fs = target.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    require(
      !fs.exists(new org.apache.hadoop.fs.Path(target, CompactedFoldMarker)),
      s"part=$batchId under $dir is a compacted fold holding this dir's full history; " +
        "a maintainer with a fresh checkpoint has re-begun batch numbering and would " +
        "overwrite it — resume with the original checkpoint (the checkpoint is the " +
        "batch-lineage contract) or maintain into a fresh dir"
    )
    val key = (dir, lineage)
    val root = new org.apache.hadoop.fs.Path(dir)
    val live: Set[(String, Long)] =
      if (fs.exists(root))
        fs.listStatus(root)
          .filter(_.getPath.getName.startsWith("part="))
          .map(st => (st.getPath.getName, st.getModificationTime))
          .toSet
      else Set.empty
    val seen = verifiedDirLineage.getOrElse(key, Set.empty)
    val foreign = (live -- seen).toSeq.sorted.flatMap { case (name, _) =>
      readUtf8IfExists(fs, new org.apache.hadoop.fs.Path(s"$dir/$name", LineageMarker))
        .map(_.trim)
        .filter(_ != lineage)
        .map((name, _))
    }
    require(
      foreign.isEmpty,
      s"$dir already holds ${foreign.length} part(s) written by a different checkpoint " +
        s"lineage (${foreign.head._1} carries ${foreign.head._2}, this maintainer is " +
        s"$lineage) — a fresh-checkpoint maintainer replays its source from zero, so " +
        "interleaving its parts would double-count the dir's history; resume with the " +
        "original checkpoint or maintain into a fresh dir"
    )
    df.write.mode("overwrite").parquet(target.toString)
    writeUtf8(fs, new org.apache.hadoop.fs.Path(target, LineageMarker), lineage)
    // remember the LIVE incarnations this write verified, with our own
    // part re-stat'ed AFTER the brand landed (the marker write bumps the
    // part dir's mtime — storing the pre-brand time would make the very
    // next batch re-read our own marker forever)
    val ownMtime = fs.getFileStatus(target).getModificationTime
    verifiedDirLineage.put(
      key,
      live.filterNot(_._1 == target.getName) + ((target.getName, ownMtime))
    )
  }

  private def compactMarkerPath(indexDir: String) =
    new org.apache.hadoop.fs.Path(s"$indexDir/_compacting")

  private def readCompactMarker(
      fs: org.apache.hadoop.fs.FileSystem,
      indexDir: String
  ): Option[Long] =
    readUtf8IfExists(fs, compactMarkerPath(indexDir)).map(_.trim.toLong)

  /** The stage→commit→swap compaction under every [[Lsm]], crash-safe
    * at every point:
    *  1. stage the fold as `part=<hi>.compacted` (invisible to
    *     [[listParts]] — a crash here leaves the old parts untouched);
    *  2. COMMIT by writing the `_compacting` marker naming `hi` —
    *     readers now treat the staged dir as authoritative for parts
    *     ≤ hi ([[livePartPaths]]), so the deletes that follow never
    *     make data unreachable;
    *  3. delete the superseded parts, atomically rename the staged dir
    *     to `part=<hi>`, drop the marker.
    * A crashed compaction RESUMES: re-invoking with the marker present
    * skips the merge and finishes step 3 (all idempotent); the marker is
    * never dropped while the staged fold is still present.
    *
    * `merged` folds an EXPLICIT part-path set (not the whole live view):
    * the auto-compaction path (VERDICT r16 №4) must fold only parts
    * `< below` — parts from batches whose checkpoint commit is durable.
    * Folding the in-flight batch's own part would name the fold after
    * it, and a crash-then-replay of that batch would collide with its
    * own fold; capping the fold at the current batchId makes the hazard
    * structurally impossible. Manual compaction passes no cap (every
    * existing part is from a committed batch once the maintainer is
    * quiesced).
    */
  private def compactLsm(
      spark: SparkSession,
      indexDir: String,
      merged: (SparkSession, Seq[String]) => DataFrame,
      below: Long = Long.MaxValue
  ): Unit = {
    val root = new org.apache.hadoop.fs.Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hi = readCompactMarker(fs, indexDir) match {
      case Some(prev) => prev // resume a crashed run — its fold is committed
      case None =>
        val parts = listParts(spark, indexDir).filter(_ < below)
        require(parts.nonEmpty, s"no LSM partials under $indexDir")
        val boundary = parts.max
        merged(spark, parts.sorted.toSeq.map(p => s"$indexDir/part=$p"))
          .write.mode("overwrite").parquet(compactedStaging(indexDir, boundary))
        // brand the fold BEFORE committing it: [[writeLsmPart]] must be
        // able to tell it from a maintainer part at every later point
        fs.create(
          new org.apache.hadoop.fs.Path(
            compactedStaging(indexDir, boundary), CompactedFoldMarker), true
        ).close()
        // and propagate the maintainer's LINEAGE brand onto the fold
        // (r17 review): an unbranded fold reopens the dir to a foreign
        // fresh-checkpoint maintainer — its parts 0..hi-1 would land in
        // ids the fold absorbed, nothing colliding until the fold id
        // itself, double-counting the dir's whole history in the view
        readUtf8IfExists(
          fs,
          new org.apache.hadoop.fs.Path(s"$indexDir/part=$boundary", LineageMarker)
        ).foreach(brand =>
          writeUtf8(
            fs,
            new org.apache.hadoop.fs.Path(compactedStaging(indexDir, boundary), LineageMarker),
            brand.trim
          )
        )
        writeUtf8(fs, compactMarkerPath(indexDir), boundary.toString)
        boundary
    }
    val staged = new org.apache.hadoop.fs.Path(compactedStaging(indexDir, hi))
    if (fs.exists(staged)) {
      // superseded parts (≤ hi) are all contained in the staged fold
      listParts(spark, indexDir).filter(_ <= hi).foreach { p =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$indexDir/part=$p"), true)
        ()
      }
      // (ADVICE r11) a false-returning rename — destination exists on some
      // filesystems — would silently lose the staged fold AFTER the
      // superseded parts were deleted; fail loudly instead, leaving the
      // marker + staged dir in place so a re-invocation can resume.
      val dest = new org.apache.hadoop.fs.Path(s"$indexDir/part=$hi")
      require(fs.rename(staged, dest), s"rename failed: $staged -> $dest")
    }
    // uncommit ONLY once the staged dir is verifiably gone (the rename
    // landed now, or on a previous attempt) — never drop the marker over
    // a still-present fold
    require(!fs.exists(staged), s"staged fold still present after rename: $staged")
    fs.delete(compactMarkerPath(indexDir), false)
    ()
  }

  /** The auto-compaction policy hook (VERDICT r16 №4) every LSM
    * maintainer runs at the TOP of its micro-batch when
    * `autoCompactEvery > 0`: once the committed live-part count reaches
    * the threshold, fold them through the maintainer family's own
    * [[compactLsm]] — same stage→commit→swap protocol, same crash
    * safety, so a long-lived streamed release is self-bounding instead
    * of relying on an operator remembering to call `compact`.
    *
    * Replay-safety is positional, not incidental: the fold considers
    * only parts `< batchId` — batches whose checkpoint commit is
    * durable (Spark replays at most the current uncommitted batch). A
    * crashed attempt's own stale `part=<batchId>` therefore never enters
    * a fold, so the subsequent [[writeLsmPart]] retry never collides
    * with a fold named after itself. A marker left by a crashed fold is
    * finished first regardless of the count (the fold is committed; only
    * steps 3 remain), exactly like a manual re-invocation. Single-writer
    * is preserved — the fold runs inside the maintainer's own serialized
    * batch slot — and concurrent readers follow the same marker protocol
    * they already follow under manual compaction.
    */
  private def maybeAutoCompact(
      spark: SparkSession,
      dir: String,
      every: Int,
      batchId: Long,
      merged: (SparkSession, Seq[String]) => DataFrame
  ): Unit =
    if (every > 0) {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val committed = listParts(spark, dir).count(_ < batchId)
      if (committed >= every || readCompactMarker(fs, dir).isDefined)
        compactLsm(spark, dir, merged, below = batchId)
    }

  /** Streaming maintenance of the IVF serve artifact — the third ANN
    * maintenance mode, and the one with real re-training pressure: a
    * trained codebook DRIFTS as the vector distribution grows (contrast
    * [[Lsm.lsh]]'s data-independent hyperplanes and [[Lsm.index]]'s
    * mergeable postings), so maintenance is
    * (a) append each micro-batch's raw vectors as `vectors/part=<id>`
    * (O(batch), retry-idempotent) and (b) every `refitEvery`-th batch
    * REFIT the codebook on everything so far (optionally on the 1-in-
    * `sampleEvery` sample — the production trainer shape) and rewrite
    * the `gen=<id>/{centroids,index}` pair, retiring older generations
    * once durable. Between refits the artifact lags the stream — that
    * is not a bug to hide but the design point
    * [[graft.operators.Similarity.annIvfServeFresh]] exists for: serve
    * = artifact candidates ∪ exhaustive scan of the un-indexed tail
    * parts, so a vector is searchable the batch it arrives and cell
    * quality is restored at the next refit. Replay is idempotent: the
    * trainer is deterministic on the same vector set, so a retried
    * refit rewrites an identical generation.
    */
  def maintainIvf(
      stream: DataFrame,
      dir: String,
      checkpointDir: String,
      refitEvery: Int = 4,
      sampleEvery: Int = 1,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery = {
    require(refitEvery >= 1, s"need refitEvery >= 1, got $refitEvery")
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sp = batch.sparkSession
        writeLsmPart(
          batch.select(col("vec_id"), col("embedding")), s"$dir/vectors", batchId,
          lineageOf(sp, checkpointDir))
        if ((batchId + 1) % refitEvery == 0) {
          // one multi-path scan over every vector part (r16): the refit
          // reads the WHOLE history, so a per-part union tree would grow
          // the plan linearly in the batch count
          val all = sp.read.parquet(
            listParts(sp, s"$dir/vectors").map(p => s"$dir/vectors/part=$p").toSeq: _*
          )
          val cb = graft.operators.Similarity
            .persistCodebook(graft.operators.Similarity.trainCodebook(all, sampleEvery))
          try {
            graft.operators.Similarity
              .ivfIndex(all, cb)
              .write.mode("overwrite").parquet(s"$dir/gen=$batchId/index")
            // centroids last: a generation without them is not current
            cb.centroids.write.mode("overwrite").parquet(s"$dir/gen=$batchId/centroids")
          } finally graft.operators.Similarity.releaseCodebook(cb)
          val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(sp.sparkContext.hadoopConfiguration)
          listGens(sp, dir).filter(_ < batchId).foreach { g =>
            fs.delete(new org.apache.hadoop.fs.Path(s"$dir/gen=$g"), true)
            ()
          }
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }

  /** The live view of a [[maintainIvf]] deployment: the latest
    * generation's artifact pair plus the un-indexed tail (vector parts
    * newer than the generation; `None` right after a refit).
    */
  final case class IvfView(
      centroids: DataFrame,
      index: DataFrame,
      tail: Option[DataFrame]
  )

  def currentIvf(spark: SparkSession, dir: String): IvfView = {
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gens = listGens(spark, dir)
    // a generation is CURRENT only once its centroids are durable
    // (ADVICE r10): [[maintainIvf]] writes index THEN centroids, so a
    // reader arriving between the two writes — or after a crash
    // mid-refit, before the streaming retry — must resolve the previous
    // complete generation, not a gen= dir whose centroids parquet does
    // not exist yet. The committer's _SUCCESS on the LAST-written
    // artifact is the commit marker (it also rules out a half-written
    // centroids dir from a crashed attempt); fall back to bare
    // directory existence if the committer was configured markerless.
    def complete(g: Long): Boolean =
      fs.exists(new org.apache.hadoop.fs.Path(s"$dir/gen=$g/centroids/_SUCCESS")) ||
        (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/gen=$g/centroids")) &&
          gens.forall(h =>
            !fs.exists(new org.apache.hadoop.fs.Path(s"$dir/gen=$h/centroids/_SUCCESS"))
          ))
    val eligible = gens.filter(complete)
    require(
      eligible.nonEmpty,
      s"no COMPLETE IVF generation under $dir (has a refit batch finished?)"
    )
    val g = eligible.max
    val tailParts = listParts(spark, s"$dir/vectors").filter(_ > g)
    IvfView(
      spark.read.parquet(s"$dir/gen=$g/centroids"),
      spark.read.parquet(s"$dir/gen=$g/index"),
      if (tailParts.isEmpty) None
      // bounded by refitEvery, but the single scan is free to do anyway
      else Some(spark.read.parquet(tailParts.map(p => s"$dir/vectors/part=$p").toSeq: _*))
    )
  }

  /** Search a [[maintainIvf]] deployment as it stands: artifact serve
    * with the exhaustive fresh-tail union when a tail exists.
    */
  def searchIvfLive(spark: SparkSession, dir: String, queries: DataFrame, k: Int): DataFrame = {
    val v = currentIvf(spark, dir)
    v.tail match {
      case None =>
        graft.operators.Similarity.annIvfServe(v.index, v.centroids, queries, k)
      case Some(t) =>
        graft.operators.Similarity.annIvfServeFresh(v.index, v.centroids, t, queries, k)
    }
  }

  /** The COMPOSED streaming de-identified release feed — the q167
    * enclave-exit path as a live pipeline: every arriving batch is
    * date-shifted on the RAW entity key (so the offset replays from the
    * source key), pseudonymized (both projections stateless —
    * referential consistency across batches comes from the salted hash,
    * not from state), judged against the PUBLISHED release census
    * (`suppressAgainstCounts` — the k-anonymity promise is relative to
    * the release's cell sizes, never a micro-batch's own), and appended
    * to the release artifact with the dump layout knobs. Contracts,
    * stated honestly (the admitIngest conventions): the census is a
    * fixed snapshot (read [[Lsm.census]]'s `current` inside foreachBatch
    * for a census-so-far feed); foreachBatch +
    * append parquet is at-least-once under retry, and every projection
    * is a pure function of content, so a replayed batch writes
    * identical rows.
    */
  def deidFeed(
      stream: DataFrame,
      census: DataFrame,
      dir: String,
      checkpointDir: String,
      pseudoCols: Map[String, String],
      tsCol: String,
      entityCol: String,
      quasiCols: Seq[String],
      k: Long,
      maxShiftDays: Int = 30,
      salt: String = "release",
      layout: graft.sources.ParquetLayout = graft.sources.ParquetLayout(),
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery = {
    val deid = Deidentify.pseudonymize(
      Deidentify.dateShift(stream, tsCol, entityCol, maxShiftDays, salt),
      pseudoCols,
      salt
    )
    Deidentify
      .suppressAgainstCounts(deid, census, quasiCols, k)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write
          .mode("append")
          .options(layout.writerOptions)
          .parquet(dir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }

  /** Footer schemas already verified, keyed by (part path, dir mtime) —
    * NOT path alone (ADVICE r17): a part is immutable only while the dir
    * is never wiped, and a long-lived driver re-running a fixture loop
    * at a fixed tmp path would otherwise be served the PRE-WIPE schema —
    * the exact silent null-fill/coercion corruption this check exists
    * to catch. Rewriting a part dir (wipe-recreate, retry overwrite)
    * bumps its modification time, so the stale entry simply stops being
    * addressable; stale keys are dropped eagerly per path (one live key
    * each) so the map stays bounded by the live-part count.
    */
  private val censusSchemaCache = scala.collection.concurrent.TrieMap
    .empty[(String, Long), Seq[(String, org.apache.spark.sql.types.DataType)]]

  /** The census families' fold: ONE multi-path scan over the given parts,
    * then the cell-bounded re-aggregate (parquet resolves columns by NAME
    * and every part comes from the same maintainer aggregate, so the
    * multi-path read is exact). Fails loudly on the wrong census kind (a
    * COUNT dir read as sums would otherwise silently treat the count
    * column as a quasi column) and on schema drift across parts.
    */
  private def censusFold(cellCol: String, kind: String)(
      spark: SparkSession,
      paths: Seq[String]
  ): DataFrame = {
    val dir = new org.apache.hadoop.fs.Path(paths.head).getParent
    // the loud-failure property the old unionByName gave for free
    // (ADVICE r16 — full version): EVERY live part must agree on the
    // full schema, names AND types. The r16 oldest-vs-newest name check
    // only caught monotone drift; a redeploy A→B then rollback to A
    // leaves B-schema parts in the MIDDLE, and a same-name type change
    // passes any name-set comparison — after either, the multi-path
    // scan silently null-fills or coerces and the census feeds
    // corrupted counts to suppression / the DP serve path. Footer-only
    // schema reads through a driver pool (the readBackReport pattern)
    // are cheap relative to the scan, and bounded once auto-compaction
    // bounds the live-part count.
    if (paths.size > 1) {
      // per-path schema CACHE (r17 review; keyed on (path, mtime) per
      // ADVICE r17): an unmodified part pays its footer read ONCE per
      // process — a long-lived serve loop over an uncompacted dir
      // re-checks only parts new OR rewritten since its last call, and
      // the comparison over cached entries is in-memory. Cold paths
      // still read through a bounded driver pool (readBackReport
      // pattern). The mtime probe is one getFileStatus per part per
      // call — cheap next to the scan the view feeds.
      val fsv = new org.apache.hadoop.fs.Path(paths.head)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def keyOf(p: String): (String, Long) =
        (p, fsv.getFileStatus(new org.apache.hadoop.fs.Path(p)).getModificationTime)
      def fields(p: String) = spark.read.parquet(p).schema.fields.toSeq
        .map(f => (f.name, f.dataType))
        .sortBy(_._1)
      val keyed = paths.map(p => (p, keyOf(p)))
      val cold = keyed.filterNot { case (_, k) => censusSchemaCache.contains(k) }
      // cold schemas land in a LOCAL map first: a concurrent call's
      // eviction of superseded mtimes must never strand THIS call's
      // lookup between put and read (r18 review — the eviction made a
      // bare censusSchemaCache(k) racy, a crash path the old
      // never-evicting cache did not have)
      val fresh = new scala.collection.concurrent.TrieMap[(String, Long), Seq[
        (String, org.apache.spark.sql.types.DataType)
      ]]
      if (cold.nonEmpty) {
        val pool = java.util.concurrent.Executors
          .newFixedThreadPool(math.min(32, cold.size))
        try {
          val futures = cold.map { case (p, k) =>
            pool.submit(new java.util.concurrent.Callable[Unit] {
              def call(): Unit = {
                fresh.put(k, fields(p))
                // one live key per path: evict superseded mtimes, then
                // publish for later calls
                censusSchemaCache.keys.filter(_._1 == p).foreach(censusSchemaCache.remove)
                censusSchemaCache.put(k, fresh(k))
                ()
              }
            })
          }
          futures.foreach(_.get())
        } finally pool.shutdown()
      }
      val schemas = keyed.map { case (p, k) =>
        (p, fresh.getOrElse(k, censusSchemaCache.getOrElse(k, fields(p))))
      }
      val want = schemas.head._2
      val bad = schemas.find(_._2 != want)
      require(
        bad.isEmpty,
        s"$kind parts disagree on schema (quasi-set drift) under $dir: " +
          s"${schemas.head._1} has ${want.mkString(", ")} but ${bad.get._1} has " +
          s"${bad.get._2.mkString(", ")} — all parts of one census dir must " +
          "come from one maintainer with one quasi-column set (names and types)"
      )
    }
    val all = spark.read.parquet(paths: _*)
    require(
      all.columns.contains(cellCol),
      s"not a $kind (no $cellCol; found ${all.columns.mkString(", ")}): $dir"
    )
    val quasi = all.columns.filter(_ != cellCol).toSeq
    all
      .groupBy(quasi.map(org.apache.spark.sql.functions.col): _*)
      .agg(org.apache.spark.sql.functions.sum(org.apache.spark.sql.functions.col(cellCol)).as(cellCol))
  }

  /** The numeric ids of the `<prefix><n>` dirs under `dir` — empty for a
    * dir that has never been written. Parses ONLY pure-numeric ids: a
    * crash-stranded `part=<n>.compacted` staging dir must never be listed
    * as live, and must not crash the listing.
    */
  private def listIds(spark: SparkSession, dir: String, prefix: String): Array[Long] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Array.empty[Long]
    else
      fs.listStatus(root)
        .map(_.getPath.getName)
        .collect {
          case s if s.startsWith(prefix) && s.stripPrefix(prefix).forall(_.isDigit) =>
            s.stripPrefix(prefix).toLong
        }
  }

  private def listParts(spark: SparkSession, dir: String): Array[Long] = listIds(spark, dir, "part=")

  private def listGens(spark: SparkSession, dir: String): Array[Long] = listIds(spark, dir, "gen=")

  /** Run a streaming frame to completion against bounded input via the
    * memory sink (used by tests; production would writeStream to parquet/
    * kafka with a real trigger).
    */
  def runToMemory(spark: SparkSession, df: DataFrame, name: String, mode: String = "append"): DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }
}
