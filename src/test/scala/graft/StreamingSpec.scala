package graft

import graft.operators.EventOps
import graft.sources.Tables
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{Ev, Lsm}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.time.Instant

/** A timestamped ingest document — top-level so Spark can instantiate it
  * without an outer-instance reference (an inner case class fails
  * deserialization in MemoryStream).
  */
final case class DocEv(doc_id: Long, ts: Instant, source: String, text: String)

/** Streaming == batch equivalence on the events fixture: the same logic
  * must produce the same rows whether it runs as a bounded DataFrame job
  * or through readStream with watermarks and state.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val events = Tables.load(spark, Sf0001, "events")

  /** The count census over one quasi column, the shape most laws here use. */
  private val nationCensus = Lsm.census(Seq("nation"))

  private lazy val evSeq: Seq[Ev] = events
    .select("event_id", "ts", "user_id", "event_type", "value")
    .as[Ev]
    .collect()
    .toSeq

  test("streaming windowedCounts (complete mode) == batch aggregation") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    stream.addData(evSeq)
    val streamed = StreamingOps.runToMemory(
      spark,
      StreamingOps.windowedCounts(stream.toDF()),
      "win_complete",
      mode = "complete"
    )
    val batch = StreamingOps.windowedCounts(events) // watermark is a no-op in batch
    val got = streamed.as[(Instant, String, Long, Double)].collect().toSet
    val exp = batch.as[(Instant, String, Long, Double)].collect().toSet
    assert(got == exp)
  }

  test("cardStream: watermarked live corpus card == batch card per closed window") {
    implicit val sqlCtx = spark.sqlContext
    val t0 = Instant.parse("2026-01-01T00:10:00Z")
    val mkDocs = Seq(
      DocEv(1L, t0, "web", "a b c"),
      DocEv(2L, t0.plusSeconds(60), "web", "d e"),
      DocEv(3L, t0.plusSeconds(120), "books", "f"),
      DocEv(4L, t0.plusSeconds(3700), "web", "g h i j") // next window
    )
    val stream = MemoryStream[DocEv]
    stream.addData(mkDocs)
    // a late far-future row advances the watermark past window 1+2
    stream.addData(DocEv(9L, t0.plusSeconds(20000), "web", "zz"))
    val streamed = StreamingOps.runToMemory(
      spark,
      StreamingOps.cardStream(stream.toDF(), watermark = "0 seconds"),
      "card_stream"
    )
    // append mode emitted exactly the CLOSED windows, matching the batch
    // aggregation restricted to them
    val got = streamed
      .as[(Instant, String, Long, Long)].collect().toSet
    val batch = StreamingOps
      .cardStream(mkDocs.toDF())
      .as[(Instant, String, Long, Long)].collect().toSet
    assert(got.subsetOf(batch))
    assert(got.map(_._1).size === 2) // both pre-watermark windows closed
    assert(got === batch.filter(_._1.isBefore(t0.plusSeconds(19000))))
    // and the stateful aggregation carries watermark-scoped state only:
    // the plan is a streaming aggregate (StateStore present by design)
    assert(got.contains((Instant.parse("2026-01-01T00:00:00Z"), "web", 2L, 5L)))
    assert(got.contains((Instant.parse("2026-01-01T00:00:00Z"), "books", 1L, 1L)))
    assert(got.contains((Instant.parse("2026-01-01T01:00:00Z"), "web", 1L, 4L)))
  }

  test("custom interval-merge sessionizer == batch sessions after watermark flush") {
    implicit val sqlCtx = spark.sqlContext
    val gapMs = 30 * 60 * 1000L
    // keep the test light: a user subset, fed across two batches to
    // exercise state carry-over, then sentinel batches to advance the
    // watermark past every real session's close
    val subset = evSeq.filter(_.user_id < 40)
    val (b1, b2) = subset.splitAt(subset.length / 2)
    val maxTs = subset.map(_.ts.toEpochMilli).max
    def sentinel(i: Int) =
      Ev(-i.toLong, Instant.ofEpochMilli(maxTs + i * 10 * gapMs), -1L, "sentinel", 0.0)

    val stream = MemoryStream[Ev]
    val q = StreamingOps
      .sessionize(stream.toDS(), gapMs)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("sess_custom")
      .start()
    stream.addData(b1); q.processAllAvailable()
    stream.addData(b2); q.processAllAvailable()
    stream.addData(Seq(sentinel(1))); q.processAllAvailable()
    stream.addData(Seq(sentinel(2))); q.processAllAvailable()
    q.stop()

    val got = spark
      .table("sess_custom")
      .filter(col("user_id") >= 0)
      .select("user_id", "session_start", "n_events")
      .as[(Long, Instant, Long)]
      .collect()
      .toSet
    val exp = EventOps
      .sessions(events.filter(col("user_id") < 40), "30 minutes")
      .select("user_id", "session_start", "n_events")
      .as[(Long, Instant, Long)]
      .collect()
      .toSet
    assert(got == exp)
  }

  test("streaming dedup drops replayed duplicates; enrichment joins static dims") {
    implicit val sqlCtx = spark.sqlContext
    val subset = evSeq.filter(_.user_id < 20)
    val stream = MemoryStream[Ev]
    val deduped = stream.toDF().withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(Seq("event_id"))
    val q = deduped.writeStream.outputMode("append").format("memory").queryName("dedup_s").start()
    stream.addData(subset); q.processAllAvailable()
    stream.addData(subset.take(50)) // replayed delivery inside the watermark
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_s").select("event_id").as[Long].collect().toSeq
    assert(got.length == subset.length, "replays dropped")
    assert(got.distinct.length == got.length)

    val dims = Seq((0L, "gold"), (1L, "silver")).toDF("user_id", "tier")
    val stream2 = MemoryStream[Ev]
    val enriched = stream2.toDF().join(broadcast(dims), Seq("user_id"), "left")
    val q2 = enriched.writeStream.outputMode("append").format("memory").queryName("enrich_s").start()
    stream2.addData(subset.filter(_.user_id <= 2)); q2.processAllAvailable()
    q2.stop()
    val out = spark.table("enrich_s")
    assert(out.filter(col("user_id") === 0 && col("tier") =!= "gold").count() == 0)
    assert(out.filter(col("user_id") === 2).count() > 0) // left join keeps unmatched
    assert(out.filter(col("user_id") === 2 && col("tier").isNotNull).count() == 0)
  }

  test("streaming copy detection flags lifted paragraphs, stateless, == batch") {
    implicit val sqlCtx = spark.sqlContext
    val para = (1 to 30).map(i => s"lifted$i").mkString(" ")
    val corpus = Seq(
      (100L, (1 to 80).map(i => s"c$i").mkString(" ") + " " + para),
      (101L, (1 to 60).map(i => s"d$i").mkString(" "))
    ).toDF("doc_id", "text")
    val arrivals = Seq(
      (1L, para + " " + (1 to 80).map(i => s"n$i").mkString(" ")), // lifts the paragraph
      (2L, (1 to 80).map(i => s"z$i").mkString(" ")) // clean
    )
    val stream = MemoryStream[(Long, String)]
    val flagged = StreamingOps.copyDetectAgainst(corpus, stream.toDF().toDF("doc_id", "text"))
    val q = flagged.writeStream.outputMode("append").format("memory").queryName("copydetect_s").start()
    stream.addData(arrivals); q.processAllAvailable()
    assert(
      q.lastProgress.stateOperators.isEmpty,
      "copyDetectAgainst must plan stateless"
    )
    q.stop()
    val got = spark
      .table("copydetect_s")
      .select("doc_id", "corpus_doc_id", "fp")
      .as[(Long, Long, Long)]
      .collect()
      .toSet
    val byDoc = got.groupBy(_._1)
    assert(byDoc.contains(1L) && byDoc(1L).map(_._2) == Set(100L), "doc 1 flagged against doc 100 only")
    assert(byDoc(1L).size >= 2, "the lifted paragraph shares several fingerprints")
    assert(!byDoc.contains(2L), "clean doc not flagged")
    // streaming == batch: the same composition over a batch frame agrees row-for-row
    val batch = StreamingOps
      .copyDetectAgainst(corpus, arrivals.toDF("doc_id", "text"))
      .as[(Long, Long, Long)]
      .collect()
      .toSet
    assert(got == batch)
  }

  test("streaming decontamination flags benchmark k-gram overlap, stateless, == batch") {
    implicit val sqlCtx = spark.sqlContext
    val evalItem = (1 to 10).map(i => s"bench$i").mkString(" ")
    val benchmark = Seq((900L, evalItem)).toDF("doc_id", "text")
    val arrivals = Seq(
      (1L, (1 to 40).map(i => s"a$i").mkString(" ") + " " + evalItem), // contains the eval item
      (2L, (1 to 40).map(i => s"b$i").mkString(" ")) // clean
    )
    val stream = MemoryStream[(Long, String)]
    val flagged =
      StreamingOps.decontaminateAgainst(benchmark, stream.toDF().toDF("doc_id", "text"), k = 4)
    val q = flagged.writeStream.outputMode("append").format("memory").queryName("decon_s").start()
    stream.addData(arrivals); q.processAllAvailable()
    assert(q.lastProgress.stateOperators.isEmpty, "decontaminateAgainst must plan stateless")
    q.stop()
    val got = spark.table("decon_s").as[(Long, Long)].collect().toSet
    assert(got.nonEmpty && got.forall(_._1 == 1L), "only the contaminated doc is flagged")
    // streaming == batch row-for-row
    val batch = StreamingOps
      .decontaminateAgainst(benchmark, arrivals.toDF("doc_id", "text"), k = 4)
      .as[(Long, Long)]
      .collect()
      .toSet
    assert(got == batch)
  }

  test("streaming LM-rarity scoring is stateless; foreachBatch aggregate == batch score") {
    implicit val sqlCtx = spark.sqlContext
    def walk(start: Int, len: Int): String =
      (0 until len).map(i => s"t${(start + i) % 10}").mkString(" ")
    val reference = (0 until 30).map(d => (d.toLong, walk(d % 10, 25))).toDF("doc_id", "text")
    val arrivals = Seq(
      (1L, walk(3, 15)), // in-distribution
      (2L, (0 until 15).map(i => s"t${((7 - i) % 10 + 10) % 10}").mkString(" ")) // reversed
    )
    val stream = MemoryStream[(Long, String)]
    val model =
      graft.operators.NgramLM.persistModel(graft.operators.NgramLM.train(reference))
    val scored = graft.operators.NgramLM.scoredGrams(stream.toDF().toDF("doc_id", "text"), model)
    val q = scored.writeStream.outputMode("append").format("memory").queryName("lm_s").start()
    stream.addData(arrivals); q.processAllAvailable()
    assert(q.lastProgress.stateOperators.isEmpty, "NgramLM.scoredGrams must plan stateless on a stream")
    q.stop()
    graft.operators.NgramLM.releaseModel(model)
    // the foreachBatch-side aggregate over the streamed gram rows ==
    // NgramLM.score over the same docs as a batch
    val streamAgg = spark
      .table("lm_s")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(col("unseen")).as("n_unseen"),
        expr("sum(rarity) div count(*)").as("rarity_avg")
      )
      .as[(Long, Long, Long, Long)]
      .collect()
      .toSet
    val batch = graft.operators.NgramLM
      .score(arrivals.toDF("doc_id", "text"), model)
      .as[(Long, Long, Long, Long)]
      .collect()
      .toSet
    assert(streamAgg == batch)
    // and the in-distribution doc scores as more fluent
    val byDoc = batch.map(r => r._1 -> r._4).toMap
    assert(byDoc(1L) < byDoc(2L), s"in-distribution ${byDoc(1L)} should beat reversed ${byDoc(2L)}")
  }

  test("streaming importance scoring is stateless; foreachBatch aggregate == batch score") {
    implicit val sqlCtx = spark.sqlContext
    val target = Seq((100L, "alpha beta alpha beta alpha beta")).toDF("doc_id", "text")
    val rawRef = Seq((200L, "gamma delta gamma delta gamma delta")).toDF("doc_id", "text")
    val weights = graft.operators.Importance.train(target, rawRef).localCheckpoint(true)
    val arrivals = Seq(
      (1L, "alpha beta alpha"), // target-like
      (2L, "gamma delta gamma") // raw-like
    )
    val stream = MemoryStream[(Long, String)]
    val scored = graft.operators.Importance.scoredFeatures(stream.toDF().toDF("doc_id", "text"), weights)
    val q = scored.writeStream.outputMode("append").format("memory").queryName("imp_s").start()
    stream.addData(arrivals); q.processAllAvailable()
    assert(q.lastProgress.stateOperators.isEmpty, "Importance.scoredFeatures must plan stateless on a stream")
    q.stop()
    // the foreachBatch-side per-doc mean over the streamed feature rows
    // == Importance.score over the same docs as a batch
    val streamAgg = spark
      .table("imp_s")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_toks"),
        expr("cast(sum(cast(w as decimal(38,0))) div count(*) as bigint)").as("imp_avg")
      )
      .as[(Long, Long, Long)]
      .collect()
      .toSet
    val batch = graft.operators.Importance
      .score(arrivals.toDF("doc_id", "text"), weights)
      .as[(Long, Long, Long)]
      .collect()
      .toSet
    assert(streamAgg == batch)
    // and the target-like arrival outranks the raw-like one
    val byDoc = batch.map(r => r._1 -> r._3).toMap
    assert(byDoc(1L) > byDoc(2L), s"target-like ${byDoc(1L)} should beat raw-like ${byDoc(2L)}")
  }

  test("streaming memorization profiling is stateless; foreachBatch fold == batch profile") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Decontaminate
    val bench = Seq((100L, "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10")).toDF("doc_id", "text")
    val idx = Decontaminate.benchmarkIndex(bench, 4).localCheckpoint(true)
    val arrivals = Seq(
      (1L, "own opening words b3 b4 b5 b6 b7 b8 b9 and an own tail here"),
      (2L, "nothing shared with that benchmark at all in any window")
    )
    val stream = MemoryStream[(Long, String)]
    val hits = StreamingOps.profileMemorizationAgainst(idx, stream.toDF().toDF("doc_id", "text"), 4)
    val q = hits.writeStream.outputMode("append").format("memory").queryName("mem_s").start()
    stream.addData(arrivals); q.processAllAvailable()
    assert(q.lastProgress.stateOperators.isEmpty, "profileMemorizationAgainst must plan stateless")
    q.stop()
    // foreachBatch side: the gaps-and-islands fold over the streamed hit
    // rows == memorizationProfile on the batch frame (for docs with hits)
    val streamAgg = spark.sql(
      """SELECT doc_id, CAST(SUM(run) AS BIGINT) AS n_hit_windows,
        |  CAST(MAX(run) + 3 AS BIGINT) AS max_span_tokens
        |FROM (
        |  SELECT doc_id, grp, CAST(COUNT(*) AS BIGINT) AS run FROM (
        |    SELECT doc_id, i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
        |    FROM mem_s) t GROUP BY doc_id, grp
        |) r GROUP BY doc_id""".stripMargin
    ).as[(Long, Long, Long)].collect().toSet
    val batch = Decontaminate
      .memorizationProfile(arrivals.toDF("doc_id", "text"), bench, 4)
      .filter(col("n_hit_windows") > 0)
      .as[(Long, Long, Long)].collect().toSet
    assert(streamAgg === batch)
    assert(streamAgg.map(_._1) === Set(1L), "only the quoting doc carries hits")
  }

  test("streaming learned-quality scoring is stateless; foreachBatch aggregate == batch score") {
    implicit val sqlCtx = spark.sqlContext
    val pos = Seq((100L, "careful analysis reports clear evidence methods")).toDF("doc_id", "text")
    val neg = Seq((200L, "click free offer buy now bonus prize")).toDF("doc_id", "text")
    val model = graft.operators.Classifier.train(pos, neg).localCheckpoint(true)
    val arrivals = Seq(
      (1L, "careful analysis evidence methods"), // positive-like
      (2L, "click buy free bonus") // negative-like
    )
    val stream = MemoryStream[(Long, String)]
    val scored = graft.operators.Classifier.scoredFeatures(stream.toDF().toDF("doc_id", "text"), model)
    val q = scored.writeStream.outputMode("append").format("memory").queryName("qual_s").start()
    stream.addData(arrivals); q.processAllAvailable()
    assert(q.lastProgress.stateOperators.isEmpty, "Classifier.scoredFeatures must plan stateless on a stream")
    q.stop()
    val streamAgg = spark
      .table("qual_s")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_feats"),
        expr("cast(sum(cast(w as decimal(38,0))) div count(*) as bigint)").as("q_micro")
      )
      .as[(Long, Long, Long)]
      .collect()
      .toSet
    val batch = graft.operators.Classifier
      .score(arrivals.toDF("doc_id", "text"), model)
      .as[(Long, Long, Long)]
      .collect()
      .toSet
    assert(streamAgg == batch)
    val byDoc = batch.map(r => r._1 -> r._3).toMap
    assert(byDoc(1L) > graft.operators.Classifier.Scale && byDoc(2L) < graft.operators.Classifier.Scale)
  }

  test("streaming language-id is stateless; foreachBatch argmin == batch assign") {
    implicit val sqlCtx = spark.sqlContext
    val labeled = Seq(
      (1L, "en", "the quick brown fox jumps over the lazy dog while the rain falls"),
      (2L, "en", "she sells sea shells by the shore and the wind whispers"),
      (3L, "de", "der schnelle braune fuchs springt über den faulen hund im wald"),
      (4L, "de", "sie verkauft muscheln am ufer und der wind flüstert durch die eichen")
    ).toDF("doc_id", "lang", "text")
    val model = graft.operators.LangId.train(labeled)
    val persisted = graft.operators.LangId.persistModel(model)
    try {
      val arrivals = Seq(
        (11L, "the old dog sleeps by the fire while the children play"),
        (12L, "der alte hund schläft am feuer während die kinder spielen")
      )
      val stream = MemoryStream[(Long, String)]
      val scored = graft.operators.LangId.scoredPairs(stream.toDF().toDF("doc_id", "text"), persisted)
      val q = scored.writeStream.outputMode("append").format("memory").queryName("lang_s").start()
      stream.addData(arrivals); q.processAllAvailable()
      assert(q.lastProgress.stateOperators.isEmpty, "LangId.scoredPairs must plan stateless on a stream")
      q.stop()
      // foreachBatch side: per-(doc, lang) mean + argmin over the
      // streamed occurrence rows == LangId.assign on the batch frame
      val streamAssign = spark
        .table("lang_s")
        .groupBy("doc_id", "lang")
        .agg(expr("cast(sum(cast(rarity as decimal(38,0))) div count(*) as bigint)").as("ra"))
        .groupBy("doc_id")
        .agg(min(struct(col("ra"), col("lang"))).as("m"))
        .select(col("doc_id"), col("m.lang").as("lang_pred"), col("m.ra").as("rarity_avg"))
        .as[(Long, String, Long)]
        .collect()
        .toSet
      val batch = graft.operators.LangId
        .assign(arrivals.toDF("doc_id", "text"), persisted)
        .as[(Long, String, Long)]
        .collect()
        .toSet
      assert(streamAssign == batch)
      val byDoc = batch.map(r => r._1 -> r._2).toMap
      assert(byDoc === Map(11L -> "en", 12L -> "de"))
    } finally graft.operators.LangId.releaseModel(persisted)
  }

  test("streaming BM25 scoring is stateless; foreachBatch aggregate == batch score") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Tables.load(spark, Sf0001, "documents")
    val model = graft.operators.Retrieval
      .bm25Model(corpus, "text", Seq("dup", "vector", "merge"))
      .localCheckpoint(true)
    val arrivals = corpus.select("doc_id", "text").as[(Long, String)].collect().take(20).toSeq
    val stream = MemoryStream[(Long, String)]
    val scored = graft.operators.Retrieval.matchedTerms(stream.toDF().toDF("doc_id", "text"), model, "text")
    val q = scored.writeStream.outputMode("append").format("memory").queryName("bm25_s").start()
    stream.addData(arrivals); q.processAllAvailable()
    assert(q.lastProgress.stateOperators.isEmpty, "Retrieval.matchedTerms must plan stateless on a stream")
    q.stop()
    // foreachBatch side: per-doc tf + the shared integer arithmetic over
    // the streamed matched-term rows == the batch scorer on the same docs
    val streamAgg = spark
      .table("bm25_s")
      .groupBy("doc_id", "dl", "tok", "df", "n", "avgdl_m")
      .agg(count(lit(1)).as("tf"))
      .select(
        col("doc_id"),
        expr(
          "((n - df) * 1000000 div (df + 1)) * (tf * 2200)" +
            " div (tf * 1000 + (300 + (900 * dl * 1000) div avgdl_m))"
        ).as("term_score")
      )
      .groupBy("doc_id")
      .agg(sum("term_score").as("score"))
      .as[(Long, Long)]
      .collect()
      .toSet
    val batch = graft.operators.Retrieval
      .bm25ScoreAgainst(arrivals.toDF("doc_id", "text"), model, "text")
      .as[(Long, Long)]
      .collect()
      .toSet
    assert(streamAgg == batch)
    assert(streamAgg.nonEmpty, "no arrival matched a query term — law vacuous")
  }

  test("streaming near-dup against a static corpus finds each doc's own copy") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.load(spark, Sf0001, "documents")
    val sample = docs.select("doc_id", "text").as[(Long, String)].collect().take(30)
    val stream = MemoryStream[(Long, String)]
    val flagged = StreamingOps.nearDupAgainst(docs, stream.toDF().toDF("doc_id", "text"), 0.99)
    val q = flagged.writeStream.outputMode("append").format("memory").queryName("neardup_s").start()
    // two batches: the second replays half of the first. Statelessness means
    // a replayed doc matches only the STATIC corpus again — row counts stay
    // per-batch, nothing joins against rows remembered from batch 1.
    stream.addData(sample); q.processAllAvailable()
    val batch1Rows = spark.table("neardup_s").count()
    stream.addData(sample.take(15)); q.processAllAvailable()
    // the whole pipeline must plan stateless — a stream-stream self-join
    // (the round-2 bug: banding joined back to its own streaming source)
    // would show up here as a stateful operator with unbounded state
    val stateOps = q.lastProgress.stateOperators
    assert(stateOps.isEmpty, s"nearDupAgainst must be stateless, found state operators: ${stateOps.map(_.operatorName).mkString(",")}")
    q.stop()
    val got = spark
      .table("neardup_s")
      .select("doc_id", "corpus_doc_id")
      .as[(Long, Long)]
      .collect()
      .toSet // bands may emit a pair multiple times; set-dedupe
    // every streamed doc is already in the corpus: its own copy must be found
    sample.foreach { case (id, _) =>
      assert(got.contains((id, id)), s"doc $id should match itself in the corpus")
    }
    // replayed docs re-match the corpus identically: batch 2 emits exactly
    // the batch-1 rows for the replayed half (15 of 30 docs), not cross-batch
    // pairs against previously-streamed rows
    assert(spark.table("neardup_s").count() > batch1Rows, "replay batch produced no output")
  }

  test("nearDedupStream drops in-watermark near-dup arrivals, keeps distinct docs") {
    implicit val sqlCtx = spark.sqlContext
    // 100 tokens, 5 distinct × 20 repeats: every simhash bit's vote margin
    // is ≥ 20, so a ONE-token rewrite (±2 votes per bit) cannot flip any
    // majority — the fingerprints of base and variant collide by
    // construction, not by luck
    val base = Seq.fill(20)("alpha beta gamma delta epsilon").mkString(" ")
    val nearVariant = base.replaceFirst("alpha", "zeta") // one-token rewrite
    val distinctDoc = "completely unrelated content about catalyst optimizer rule injection order"
    // the near-dup claim is only valid when the fingerprints actually
    // collide — pin that premise explicitly so the test can't pass vacuously
    assert(
      graft.functions.Kernels.simhash32(
        org.apache.spark.unsafe.types.UTF8String.fromString(base), false
      ) == graft.functions.Kernels.simhash32(
        org.apache.spark.unsafe.types.UTF8String.fromString(nearVariant), false
      ),
      "premise: one-token rewrite keeps the simhash fingerprint"
    )
    val t0 = java.sql.Timestamp.from(Instant.parse("2024-01-01T00:00:00Z"))
    def ts(s: Long) = java.sql.Timestamp.from(Instant.parse("2024-01-01T00:00:00Z").plusSeconds(s))
    val stream = MemoryStream[(Long, java.sql.Timestamp, String)]
    val deduped = StreamingOps.nearDedupStream(
      stream.toDF().toDF("doc_id", "ts", "text"), "ts", "10 minutes"
    )
    val q = deduped.writeStream.outputMode("append").format("memory").queryName("neardedup_s").start()
    stream.addData(Seq((1L, t0, base), (2L, ts(30), base), (3L, ts(60), nearVariant), (4L, ts(90), distinctDoc)))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("neardedup_s").select("doc_id").as[Long].collect().toSet
    assert(kept.contains(4L), "distinct doc admitted")
    assert((kept & Set(1L, 2L, 3L)).size == 1, s"one representative of the near-dup trio, got $kept")
  }

  test("stream-stream interval join == batch join on the same window") {
    implicit val sqlCtx = spark.sqlContext
    val purchases = evSeq.filter(e => e.event_type == "purchase" && e.user_id < 50)
    val signups = evSeq.filter(e => e.event_type == "signup" && e.user_id < 50)
    val ps = MemoryStream[Ev]
    val ss = MemoryStream[Ev]
    val joined = StreamingOps.purchaseAttribution(ps.toDF(), ss.toDF())
    val q = joined.writeStream.outputMode("append").format("memory").queryName("attr_s").start()
    // two batches per side — matches must form across batch boundaries
    ps.addData(purchases.take(purchases.length / 2)); ss.addData(signups)
    q.processAllAvailable()
    ps.addData(purchases.drop(purchases.length / 2))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("attr_s")
      .select("purchase_id", "signup_id").as[(Long, Long)].collect().toSet
    // batch oracle: same interval condition as a plain join
    val p = purchases.toDF().select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("purchase_ts"))
    val s2 = signups.toDF().select(col("event_id").as("signup_id"), col("user_id").as("su"), col("ts").as("signup_ts"))
    val exp = p.join(
      s2,
      col("user_id") === col("su") &&
        col("signup_ts") >= col("purchase_ts") - expr("INTERVAL 1 hour") &&
        col("signup_ts") <= col("purchase_ts")
    ).select("purchase_id", "signup_id").as[(Long, Long)].collect().toSet
    assert(got == exp, s"stream ${got.size} vs batch ${exp.size} matches")
  }

  test("streamDump writes checkpointed parquet shards that read back exactly") {
    implicit val sqlCtx = spark.sqlContext
    val dir = s"$testOut/stream_dump"
    val ckpt = s"$testOut/stream_dump_ckpt"
    // clean slate: the file-sink log remembers previous runs
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    val docs = Tables.load(spark, Sf0001, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val stream = MemoryStream[(Long, String)]
    stream.addData(docs)
    val q = StreamingOps.streamDump(stream.toDF().toDF("doc_id", "text"), dir, ckpt)
    q.awaitTermination() // AvailableNow: drains the batch then stops
    val back = spark.read.parquet(dir)
    assert(back.count() == docs.length)
    assert(back.select("doc_id").distinct().count() == docs.length)
  }

  test("full ingest pipeline: stream -> in-flight near-dedup -> parquet shards") {
    // the operators compose: nearDedupStream's stateful drop feeds
    // streamDump's checkpointed file sink in ONE streaming query — the
    // complete admit-or-drop ingest a training pipeline runs
    implicit val sqlCtx = spark.sqlContext
    val dir = s"$testOut/dedup_ingest"
    val ckpt = s"$testOut/dedup_ingest_ckpt"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    val t0 = Instant.parse("2024-01-01T00:00:00Z")
    def ts(s: Long) = java.sql.Timestamp.from(t0.plusSeconds(s))
    val base = Seq.fill(20)("alpha beta gamma delta epsilon").mkString(" ")
    val other = "some completely different document contents for the second admit"
    val rows = Seq(
      (1L, ts(0), base),
      (2L, ts(10), base), // exact dup inside watermark -> dropped
      (3L, ts(20), other)
    )
    val stream = MemoryStream[(Long, java.sql.Timestamp, String)]
    stream.addData(rows)
    val deduped = StreamingOps.nearDedupStream(
      stream.toDF().toDF("doc_id", "ts", "text"), "ts", "10 minutes"
    )
    val q = StreamingOps.streamDump(deduped, dir, ckpt)
    q.awaitTermination()
    val back = spark.read.parquet(dir).select("doc_id").as[Long].collect().toSet
    assert(back.size == 2 && back.contains(3L), s"expected one of {1,2} plus 3, got $back")
  }

  test("admitIngest: composed streaming admission == the batch front half") {
    // the streaming twin of Pipeline.trainingData's front half: scrub ->
    // quality -> batch-exact dedup -> near-dedup vs a corpus snapshot ->
    // parquet. Fed the documents fixture in TWO micro-batches against a
    // corpus of its own 'train' split, the written rows must equal the
    // batch composition over the same data (per-batch exact semantics) —
    // modulo cross-batch near-dup admission, which the contract scopes out,
    // so the split here puts each doc's near-dups in the corpus, not in the
    // other batch.
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.TextFunctions
    import graft.operators.Dedup
    val dir = s"$testOut/admit_ingest"
    val ckpt = s"$testOut/admit_ingest_ckpt"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)

    val docs = Tables.load(spark, Sf0001, "documents")
    val corpus = docs.filter(TextFunctions.splitAssign(col("text"), 80) === "train")
    val deltaRows = docs
      .filter(TextFunctions.splitAssign(col("text"), 80) === "val")
      .select("doc_id", "lang", "text")
      .as[(Long, String, String)]
      .collect()
      .toSeq
    val (b1, b2) = deltaRows.splitAt(deltaRows.length / 2)

    val stream = MemoryStream[(Long, String, String)]
    stream.addData(b1)
    stream.addData(b2)
    val cachedBefore = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val q = StreamingOps.admitIngest(
      corpus,
      stream.toDF().toDF("doc_id", "lang", "text"),
      dir,
      ckpt
    )
    q.awaitTermination()
    val got = spark.read.parquet(dir).select("doc_id").as[Long].collect().toSet
    // cache hygiene: per-batch signature/batch caches are released inside
    // foreachBatch — only the corpus-side index may persist across the
    // run, so cached-RDD growth must not scale with the batch count
    val cachedAfter = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    assert(
      (cachedAfter -- cachedBefore).size <= 1,
      s"per-batch cache leak: ${(cachedAfter -- cachedBefore).size} new cached RDDs for 2 batches"
    )

    // batch reference: same stages per half-batch, unioned
    def admitBatch(rows: Seq[(Long, String, String)]): Set[Long] = {
      val b = rows.toDF("doc_id", "lang", "text")
        .withColumn("text", TextFunctions.scrub(col("text")))
        .filter(TextFunctions.qualityScoreFused(col("text")) >= 0.4275)
      val exact = b.join(
        b.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id")).select("doc_id"),
        Seq("doc_id"),
        "left_semi"
      )
      Dedup.dedupAgainst(exact, corpus, 0.8).select("doc_id").as[Long].collect().toSet
    }
    val want = admitBatch(b1) ++ admitBatch(b2)
    assert(got === want, s"streaming admission != batch: extra=${got -- want} missing=${want -- got}")
    assert(got.nonEmpty, "admission should admit something from the fixture delta")
  }

  test("built-in session_window streaming == batch sessions after flush") {
    implicit val sqlCtx = spark.sqlContext
    val gapMs = 30 * 60 * 1000L
    val subset = evSeq.filter(_.user_id < 40)
    val maxTs = subset.map(_.ts.toEpochMilli).max
    def sentinel(i: Int) =
      Ev(-i.toLong, Instant.ofEpochMilli(maxTs + i * 10 * gapMs), -1L, "sentinel", 0.0)

    val stream = MemoryStream[Ev]
    val q = StreamingOps
      .sessionCounts(stream.toDF(), watermark = "0 seconds")
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("sess_builtin")
      .start()
    stream.addData(subset); q.processAllAvailable()
    stream.addData(Seq(sentinel(1))); q.processAllAvailable()
    stream.addData(Seq(sentinel(2))); q.processAllAvailable()
    q.stop()

    val got = spark
      .table("sess_builtin")
      .filter(col("user_id") >= 0)
      .select("user_id", "session_start", "n_events")
      .as[(Long, Instant, Long)]
      .collect()
      .toSet
    val exp = EventOps
      .sessions(events.filter(col("user_id") < 40), "30 minutes")
      .select("user_id", "session_start", "n_events")
      .as[(Long, Instant, Long)]
      .collect()
      .toSet
    assert(got == exp)
  }

  test("streaming index maintenance: persisted artifact == full rebuild after every batch") {
    import graft.operators.Retrieval
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-idx-stream").toString
    val idxDir = s"$dir/index"
    val docs = spark.read
      .parquet(s"$Sf001/documents.parquet")
      .select("doc_id", "text")
      .as[(Long, String)]
      .collect()
      .toSeq
    def flat(df: org.apache.spark.sql.DataFrame) =
      df.select("tok", "df", "doc_ids", "tfs")
        .as[(String, Long, Seq[Long], Seq[Long])]
        .collect()
        .map(r => r._1 -> ((r._2, r._3, r._4)))
        .toMap
    val stream = MemoryStream[(Long, String)]
    val normsDir = s"$dir/norms"
    // one query and one checkpoint feed both artifacts of the retrieval
    // deployment: the index LSM and the norms LSM
    val q = Lsm.maintainAll(
      stream.toDF().toDF("doc_id", "text"),
      s"$dir/ckpt",
      Seq(Lsm.index() -> idxDir, Lsm.norms() -> normsDir),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)
    )
    val (b1, rest) = docs.splitAt(docs.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 2)
    stream.addData(b1); q.processAllAvailable()
    stream.addData(b2); q.processAllAvailable()
    // mid-stream: the artifact equals rebuilding everything streamed so far
    assert(
      flat(Lsm.index().current(spark, idxDir))
        === flat(Retrieval.invertedIndex((b1 ++ b2).toDF("doc_id", "text")))
    )
    stream.addData(b3); q.processAllAvailable()
    q.stop()
    // drained: merged-on-read == the full-corpus rebuild EXACTLY, and
    // each batch wrote one part into each artifact
    assert(
      flat(Lsm.index().current(spark, idxDir))
        === flat(Retrieval.invertedIndex(docs.toDF("doc_id", "text")))
    )
    for (d <- Seq(idxDir, normsDir))
      assert(new java.io.File(d).list().count(_.startsWith("part=")) === 3, d)
    // ranked retrieval over the live artifacts == batch BM25 over every
    // document ever streamed — the law the norms LSM exists for
    val served = Retrieval
      .bm25TopKIndexed(
        Lsm.index().current(spark, idxDir),
        Lsm.norms().current(spark, normsDir),
        Seq("dup", "vector", "merge"),
        10
      )
      .as[(Long, Long, Long)].collect().toSeq
    val direct = Retrieval
      .bm25TopK(docs.toDF("doc_id", "text"), "text", Seq("dup", "vector", "merge"), 10)
      .as[(Long, Long, Long)].collect().toSeq
    assert(served === direct)
  }

  test("streaming LSH maintenance: union of parts == from-scratch index; serve == batch ANN") {
    import graft.operators.Similarity
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh-stream").toString
    val vecs = spark.read
      .parquet(s"$Sf001/embeddings.parquet")
      .select("vec_id", "embedding")
      .as[(Long, Seq[Float])]
      .collect()
      .toSeq
    val stream = MemoryStream[(Long, Seq[Float])]
    val q = Lsm.lsh.maintain(
      stream.toDF().toDF("vec_id", "embedding"),
      s"$dir/index",
      s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)
    )
    val (b1, b2) = vecs.splitAt(vecs.length / 2)
    stream.addData(b1); q.processAllAvailable()
    stream.addData(b2); q.processAllAvailable()
    q.stop()
    // the union of parts IS the index — no merge arithmetic exists to get wrong
    val live = Lsm.lsh.current(spark, s"$dir/index")
    val batch = Similarity.lshIndex(vecs.toDF("vec_id", "embedding"))
    assert(live.except(batch).count() === 0L && batch.except(live).count() === 0L)
    // and serving from the streamed artifact == the batch ANN, bit-for-bit
    val emb = vecs.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id").isin(0L, 1L, 2L))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rnk", "neighbor_id", "cosine")
        .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    assert(
      rows(Similarity.annLshServe(live, queries, 10))
        === rows(Similarity.annLsh(emb, Seq(0L, 1L, 2L), 10))
    )
    // compaction (r16, shared compactLsm protocol) folds the parts to
    // one and changes neither the index nor the serve results
    assert(new java.io.File(s"$dir/index").list().count(_.startsWith("part=")) === 2)
    Lsm.lsh.compact(spark, s"$dir/index")
    assert(new java.io.File(s"$dir/index").list().count(_.startsWith("part=")) === 1)
    val folded = Lsm.lsh.current(spark, s"$dir/index")
    assert(folded.except(batch).count() === 0L && batch.except(folded).count() === 0L)
    assert(
      rows(Similarity.annLshServe(folded, queries, 10))
        === rows(Similarity.annLsh(emb, Seq(0L, 1L, 2L), 10))
    )
  }

  test("streaming IVF maintenance: refit generations, fresh tail searchable, boundary == batch") {
    import graft.operators.Similarity
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-stream").toString
    val vecs = spark.read
      .parquet(s"$Sf001/embeddings.parquet")
      .select("vec_id", "embedding")
      .as[(Long, Seq[Float])]
      .collect()
      .toSeq
    val stream = MemoryStream[(Long, Seq[Float])]
    val q = StreamingOps.maintainIvf(
      stream.toDF().toDF("vec_id", "embedding"),
      s"$dir/ivf",
      s"$dir/ckpt",
      refitEvery = 2,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)
    )
    val batches = vecs.grouped((vecs.length + 2) / 3).toSeq // 3 batches
    stream.addData(batches(0)); q.processAllAvailable()
    stream.addData(batches(1)); q.processAllAvailable() // batch 1 -> refit, gen=1
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rnk", "neighbor_id", "cosine")
        .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    // refit boundary, no tail: live serve == the batch train+search over
    // everything streamed (the trainer is deterministic on the set)
    val streamed2 = (batches(0) ++ batches(1)).toDF("vec_id", "embedding")
    val queries2 = streamed2.filter(col("vec_id").isin(0L, 1L, 2L))
    val view2 = StreamingOps.currentIvf(spark, s"$dir/ivf")
    assert(view2.tail.isEmpty, "no tail right after a refit")
    assert(
      rows(StreamingOps.searchIvfLive(spark, s"$dir/ivf", queries2, 5))
        === rows(Similarity.annIvfWith(streamed2, Similarity.trainCodebook(streamed2), Seq(0L, 1L, 2L), 5))
    )
    // mid-interval: plant a near-duplicate of query 0 in the tail batch —
    // it must be found at rank 1 despite not being in any cell yet
    val q0 = vecs.find(_._1 == 0L).get._2
    val planted = 900000L -> q0.map(x => x * 0.999f + 0.0001f)
    stream.addData(batches(2) :+ planted); q.processAllAvailable()
    q.stop()
    val view3 = StreamingOps.currentIvf(spark, s"$dir/ivf")
    assert(view3.tail.isDefined, "tail exists between refits")
    val live = StreamingOps
      .searchIvfLive(spark, s"$dir/ivf", queries2.filter(col("vec_id") === 0L), 5)
      .select("rnk", "neighbor_id")
      .as[(Long, Long)]
      .collect()
      .toMap
    assert(live(1L) === 900000L, s"planted tail near-dup not at rank 1: $live")
  }

  test("streaming semantic decon == batch semanticOverlap, per vector, stateless") {
    import graft.operators.Decontaminate
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet(s"$Sf001/embeddings.parquet").select("vec_id", "embedding")
    val corp = emb.filter(col("vec_id") % 10 =!= 9)
    val bench = emb.filter(col("vec_id") % 10 === 9)
    val vecs = corp.as[(Long, Seq[Float])].collect().toSeq
    val stream = MemoryStream[(Long, Seq[Float])]
    val scored = StreamingOps.scoreSemanticAgainst(
      bench,
      stream.toDF().toDF("vec_id", "embedding"),
      800000L
    )
    vecs.grouped((vecs.length + 1) / 2).foreach(stream.addData(_))
    val got = StreamingOps
      .runToMemory(spark, scored, "sem_decon_live")
      .select("vec_id", "max_cos_micro", "flagged")
      .as[(Long, Long, Boolean)].collect().map { case (i, m, f) => i -> ((m, f)) }.toMap
    val batch = Decontaminate.semanticOverlap(corp, bench, 800000L)
      .as[(Long, Long, Boolean)].collect().map { case (i, m, f) => i -> ((m, f)) }.toMap
    assert(got.size === batch.size)
    batch.foreach { case (i, v) => assert(got(i) === v, s"vec $i diverges") }
  }

  test("de-identification on a stream: stateless projections, streamed == batch") {
    // pseudonymize/dateShift are pure scan-side projections, so they
    // apply to a streaming frame DIRECTLY (no foreachBatch, no state) —
    // the de-identified live ingest an enclave-side tap needs
    import graft.operators.Deidentify
    implicit val sqlCtx = spark.sqlContext
    val ords = sources.Tables
      .load(spark, Sf0001, "orders")
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val rows = ords
      .as[(Long, Long, java.sql.Timestamp)]
      .collect()
      .toSeq
    val stream = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val deid = Deidentify.dateShift(
      Deidentify.pseudonymize(
        stream.toDF().toDF("o_orderkey", "o_custkey", "o_orderdate"),
        Map("o_orderkey" -> "order"),
        "s1"
      ),
      "o_orderdate",
      "o_custkey",
      30,
      "s1"
    )
    assert(deid.isStreaming, "projections must preserve streaming-ness")
    rows.grouped((rows.length + 1) / 2).foreach(stream.addData(_))
    val got = StreamingOps
      .runToMemory(spark, deid, "deid_live")
      .as[(Long, Long, java.sql.Timestamp)]
      .collect()
      .toSet
    val batch = Deidentify
      .dateShift(
        Deidentify.pseudonymize(ords, Map("o_orderkey" -> "order"), "s1"),
        "o_orderdate",
        "o_custkey",
        30,
        "s1"
      )
      .as[(Long, Long, java.sql.Timestamp)]
      .collect()
      .toSet
    assert(got === batch)
  }

  test("streaming k-anonymity: suppressAgainstCounts vs the release census, stateless") {
    // late arrivals are judged against the PUBLISHED release's cell
    // sizes (their own micro-batch census would suppress everything)
    import graft.operators.Deidentify
    implicit val sqlCtx = spark.sqlContext
    val snapshot = sources.Tables
      .load(spark, Sf0001, "customer")
      .select(col("c_custkey"), col("c_nationkey").cast("long").as("nation"))
    val counts = Deidentify.cellCounts(snapshot, Seq("nation")).localCheckpoint(true)
    val late = snapshot.limit(40).as[(Long, Long)].collect().toSeq
    val stream = MemoryStream[(Long, Long)]
    val deid = Deidentify.suppressAgainstCounts(
      stream.toDF().toDF("c_custkey", "nation"),
      counts,
      Seq("nation"),
      5L
    )
    assert(deid.isStreaming)
    late.grouped(15).foreach(stream.addData(_))
    val got = StreamingOps
      .runToMemory(spark, deid, "kanon_live")
      .as[(Long, Option[Long], Boolean)].collect().toSet
    val batch = Deidentify
      .suppressAgainstCounts(snapshot.limit(40), counts, Seq("nation"), 5L)
      .as[(Long, Option[Long], Boolean)].collect().toSet
    assert(got === batch)
  }

  test("streaming census maintenance: merge-on-read == one-pass census; live suppression == batch") {
    import graft.operators.Deidentify
    implicit val sqlCtx = spark.sqlContext
    val full = sources.Tables
      .load(spark, Sf0001, "customer")
      .select(col("c_custkey"), col("c_nationkey").cast("long").as("nation"))
    val rows = full.as[(Long, Long)].collect().toSeq
    // fresh per run: a persisted fixed dir+ckpt pair resumes the old
    // checkpoint, skips reprocessing, and the assertions silently grade
    // the PREVIOUS run's parts (the deid_feed stale-state class, r18)
val dir =
      java.nio.file.Files.createTempDirectory("graft-census-lsm").toString + "/census"
    val stream = MemoryStream[(Long, Long)]
    rows.grouped(40).foreach(stream.addData(_))
    val q = nationCensus.maintain(
      stream.toDF().toDF("c_custkey", "nation"),
      dir,
      s"$dir/_ckpt"
    )
    q.processAllAvailable(); q.stop()
    val merged = nationCensus.current(spark, dir)
    val batch = Deidentify.cellCounts(full, Seq("nation"))
    val a = merged.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = batch.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a === b, "merge-on-read census must equal the one-pass census exactly")
    // the composition: suppressing against the merged census == suppressSmallGroups
    val viaLsm = Deidentify
      .suppressAgainstCounts(full, merged, Seq("nation"), 5L)
      .as[(Long, Option[Long], Boolean)].collect().toSet
    val direct = Deidentify.suppressSmallGroups(full, Seq("nation"), 5L)
      .as[(Long, Option[Long], Boolean)].collect().toSet
    assert(viaLsm === direct)
  }

  test("streaming DP release: dpFromCounts over the census LSM == dpCellCounts of everything streamed") {
    // the DP release is LSM-composable because counts merge exactly and
    // the draw is a pure function of (cell key, salt) — no noise state;
    // a census maintained across micro-batches must release the SAME
    // noised histogram as a one-pass batch release, bit for bit
    import graft.operators.Deidentify
    implicit val sqlCtx = spark.sqlContext
    val full = sources.Tables
      .load(spark, Sf0001, "customer")
      .select(col("c_custkey"), col("c_nationkey").cast("long").as("nation"))
    val rows = full.as[(Long, Long)].collect().toSeq
    val dir =
      java.nio.file.Files.createTempDirectory("graft-census-dp-lsm").toString + "/census"
    val stream = MemoryStream[(Long, Long)]
    rows.grouped(35).foreach(stream.addData(_))
    val q = nationCensus.maintain(
      stream.toDF().toDF("c_custkey", "nation"),
      dir,
      s"$dir/_ckpt"
    )
    q.processAllAvailable(); q.stop()
    val viaLsm = Deidentify
      .dpFromCounts(nationCensus.current(spark, dir), Seq("nation"), 1000000L, "rel")
      .as[(Long, Long, Long)].collect().toSet
    val batch = Deidentify
      .dpCellCounts(full, Seq("nation"), 1000000L, "rel")
      .select("nation", "n_dp", "epsilon_micro")
      .as[(Long, Long, Long)].collect().toSet
    assert(viaLsm === batch, "LSM-composed DP release must equal the batch release exactly")
  }

  test("streaming DP quantiles: post-processing the census LSM == the batch quantiles") {
    // the r14 post-processing tier composes with the streamed census for
    // free: dpQuantiles is a pure function of the released histogram, and
    // the LSM census releases the SAME histogram as batch (the law above),
    // so the quantiles must agree bit for bit — no new streaming machinery
    import graft.operators.Deidentify
    implicit val sqlCtx = spark.sqlContext
    val full = sources.Tables
      .load(spark, Sf0001, "customer")
      .select(
        col("c_custkey"),
        col("c_mktsegment").as("seg"),
        (floor(col("c_acctbal") / 2000d) * 2000).cast("long").as("band_lo")
      )
    val rows = full.as[(Long, String, Long)].collect().toSeq
    val dir =
      java.nio.file.Files.createTempDirectory("graft-census-dpq-lsm").toString + "/census"
    val stream = MemoryStream[(Long, String, Long)]
    rows.grouped(40).foreach(stream.addData(_))
    val segBand = Lsm.census(Seq("seg", "band_lo"))
    val q = segBand.maintain(
      stream.toDF().toDF("c_custkey", "seg", "band_lo"),
      dir,
      s"$dir/_ckpt"
    )
    q.processAllAvailable(); q.stop()
    def quantiles(rel: org.apache.spark.sql.DataFrame) = Deidentify
      .dpQuantiles(rel, Seq("seg"), "band_lo", Seq(250, 500, 750))
      .as[(String, Int, Long, Long, Long)].collect().toSet
    val viaLsm = quantiles(
      Deidentify.dpFromCounts(
        segBand.current(spark, dir), Seq("seg", "band_lo"), 1000000L, "relq"))
    val batch = quantiles(Deidentify.dpCellCounts(full, Seq("seg", "band_lo"), 1000000L, "relq"))
    assert(viaLsm === batch, "streamed-census quantiles must equal the batch quantiles exactly")
  }

  test("streaming DP means + top-k: the census LSM pair == the batch releases (VERDICT r14 №7)") {
    // means need BOTH halves streamed: counts from the count census,
    // clipped sums from the r15 sum census (clamp is per-row, clipped
    // sums add — merge-on-read == batch cellSums exactly). The two LSMs
    // are maintained with DIFFERENT micro-batch sizes on purpose: the
    // law must not depend on batch boundaries. Top-k is pure
    // post-processing of the streamed count release.
    import graft.operators.Deidentify
    implicit val sqlCtx = spark.sqlContext
    val full = sources.Tables
      .load(spark, Sf0001, "customer")
      .select(
        col("c_custkey"),
        col("c_nationkey").cast("long").as("nation"),
        pmod(col("c_custkey"), lit(13L)).as("v")
      )
    val rows = full.as[(Long, Long, Long)].collect().toSeq
    val mbase = java.nio.file.Files.createTempDirectory("graft-census-means").toString
    val cdir = s"$mbase/counts"
    val sdir = s"$mbase/sums"
    val cs = MemoryStream[(Long, Long, Long)]
    rows.grouped(40).foreach(cs.addData(_))
    val q1 = nationCensus.maintain(
      cs.toDF().toDF("c_custkey", "nation", "v"), cdir, s"$cdir/_ckpt")
    q1.processAllAvailable(); q1.stop()
    val ss = MemoryStream[(Long, Long, Long)]
    rows.grouped(37).foreach(ss.addData(_))
    val sums = Lsm.sumCensus(Seq("nation"), "v", 8L)
    val q2 = sums.maintain(ss.toDF().toDF("c_custkey", "nation", "v"), sdir, s"$sdir/_ckpt")
    q2.processAllAvailable(); q2.stop()
    val countsLsm = Deidentify
      .dpFromCounts(nationCensus.current(spark, cdir), Seq("nation"), 1000000L, "mA")
    val sumsLsm = Deidentify.dpSumsFromTotals(
      sums.current(spark, sdir), Seq("nation"), "v", 8L, 2000000L, "mB")
    val batchCounts = Deidentify.dpCellCounts(full, Seq("nation"), 1000000L, "mA")
    val batchSums = Deidentify.dpCellSums(full, Seq("nation"), "v", 8L, 2000000L, "mB")
    def means(c: org.apache.spark.sql.DataFrame, s: org.apache.spark.sql.DataFrame) =
      Deidentify.dpCellMeans(c, s, Seq("nation"))
        .as[(Long, Long, Long, Option[Long], Long)].collect().toSet
    assert(means(countsLsm, sumsLsm) === means(batchCounts, batchSums),
      "streamed-census means must equal the batch means exactly")
    def topk(rel: org.apache.spark.sql.DataFrame) =
      Deidentify.dpTopK(rel, Seq("nation"), 5)
        .as[(Long, Long, Int, Long)].collect().toSet
    assert(topk(countsLsm) === topk(batchCounts),
      "streamed-census top-k must equal the batch top-k exactly")

    // ledger/enforcement law rides the same fixtures: a manifest of the
    // LSM release equals the batch release's manifest column-for-column
    // (same cells ⇒ same n_cells AND same salt-free domain digest), so
    // budget accounting cannot tell streamed from batch — and the
    // enforcement guard behaves identically over it (at-cap passes,
    // over-cap raises)
    def manifest(rel: org.apache.spark.sql.DataFrame, id: String, eps: Long) =
      Deidentify.dpManifest(rel, Seq("nation"), id, "count", eps, 1L, "mA")
    val mLsm = manifest(countsLsm, "r1", 1000000L).head()
    val mBatch = manifest(batchCounts, "r1", 1000000L).head()
    assert(mLsm === mBatch, "LSM manifest must equal the batch manifest (n_cells + domain digest)")
    val ledger = Deidentify.dpLedger(Seq(
      manifest(countsLsm, "r1", 1000000L),
      manifest(Deidentify.dpFromCounts(
        nationCensus.current(spark, cdir), Seq("nation"), 500000L, "mC"), "r2", 500000L)
    ))
    assert(Deidentify.enforceBudget(ledger, 1500000L).count() === 2L, "at-cap passes on the streamed ledger")
    // the enforced frame itself is row-identical to the batch-assembled
    // ledger's (VERDICT r15 №7): budget accounting cannot tell streamed
    // from batch in any column, cumulative ε included
    val batchLedger = Deidentify.dpLedger(Seq(
      manifest(batchCounts, "r1", 1000000L),
      manifest(Deidentify.dpCellCounts(full, Seq("nation"), 500000L, "mC"), "r2", 500000L)
    ))
    assert(
      Deidentify.enforceBudget(ledger, 1500000L).orderBy("release_id").collect().toSeq ===
        Deidentify.enforceBudget(batchLedger, 1500000L).orderBy("release_id").collect().toSeq,
      "enforceBudget over the streamed ledger must equal the batch ledger row for row")
    val e = intercept[Exception](Deidentify.enforceBudget(ledger, 1499999L).collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("DP budget exceeded")), s"over-cap raises: ${msgs(e)}")
    val eBatch = intercept[Exception](Deidentify.enforceBudget(batchLedger, 1499999L).collect())
    assert(msgs(eBatch).exists(_.contains("DP budget exceeded")), "the raise fires identically on batch")
    // a COUNT census dir is not a sum census — fail loudly, not nonsense
    intercept[IllegalArgumentException](sums.current(spark, cdir))
  }

  test("streaming range join: live points vs static intervals — stateless, == batch") {
    // the attribution shape with a STATIC interval table (campaign
    // windows, maintenance windows): pointInInterval is explode +
    // equi-join + filter, all stateless — a live feed needs no
    // watermark and no state store
    import graft.operators.RangeJoin
    implicit val sqlCtx = spark.sqlContext
    val intervals = (0L until 20L).map(i => (i, i * 50L, i * 50L + 120L)).toDF("i_id", "s", "e")
      .localCheckpoint(true)
    val pts = (0L until 300L).map(i => (i, (i * 37L) % 1000L))
    val stream = MemoryStream[(Long, Long)]
    val joined = RangeJoin.pointInInterval(
      stream.toDF().toDF("p_id", "p"), intervals, "p", "s", "e", 100L)
    assert(joined.isStreaming)
    pts.grouped(100).foreach(stream.addData(_))
    val got = StreamingOps
      .runToMemory(spark, joined.select("p_id", "i_id"), "range_live")
      .as[(Long, Long)].collect().toSet
    val batch = RangeJoin
      .pointInInterval(pts.toDF("p_id", "p"), intervals, "p", "s", "e", 100L)
      .select("p_id", "i_id").as[(Long, Long)].collect().toSet
    assert(got === batch)
    assert(batch.nonEmpty)
  }

  test("streaming de-identified release feed: shift + pseudonymize + suppress-vs-census + append == batch chain") {
    import graft.operators.Deidentify
    implicit val sqlCtx = spark.sqlContext
    val orders = sources.Tables
      .load(spark, Sf0001, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
      .limit(120)
      .localCheckpoint(true)
    // the published release's census over the generalized price band
    val banded = Deidentify.generalize(orders, "o_totalprice", 50000L, "price_band")
    val census = Deidentify.cellCounts(banded, Seq("price_band")).localCheckpoint(true)

    // a FRESH dir+checkpoint per run: the old fixed `$testOut/deid_feed`
    // path made re-runs read back the PREVIOUS run's appended rows while
    // the persisted checkpoint skipped reprocessing — the law held only
    // while the chain's outputs were bit-identical across code versions,
    // i.e. the test silently compared stale state (caught by the r18
    // pseudonym-encoding change, which the stale rows predated)
    val dir = java.nio.file.Files.createTempDirectory("graft-deid-feed").toString + "/out"
    val rows = orders.collect().toSeq
    val tupleStream = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    rows
      .map(r => (r.getLong(0), r.getLong(1), java.sql.Timestamp.valueOf(r.getAs[java.time.LocalDateTime](2)), r.getDouble(3)))
      .grouped(40)
      .foreach(tupleStream.addData(_))
    val live = Deidentify.generalize(
      tupleStream.toDF().toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
      "o_totalprice", 50000L, "price_band"
    )
    val q = StreamingOps.deidFeed(
      live, census, dir, s"$dir/_ckpt",
      Map("o_orderkey" -> "order", "o_custkey" -> "cust"),
      "o_orderdate", "o_custkey", Seq("price_band"), 5L, 30, "rel-live"
    )
    q.processAllAvailable(); q.stop()

    // canonicalize the timestamp to micros: the tuple stream carries
    // TIMESTAMP while the parquet fixture reads TIMESTAMP_NTZ (same
    // instants under the pinned UTC session)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = df
      .select(
        col("o_orderkey"), col("o_custkey"),
        expr("unix_micros(cast(o_orderdate as timestamp))").as("ts_us"),
        col("price_band"), col("suppressed")
      )
      .collect().map(_.toString).sorted.toSeq
    val got = canon(spark.read.parquet(dir))
    val batchChain = canon(
      Deidentify.suppressAgainstCounts(
        Deidentify.pseudonymize(
          Deidentify.dateShift(banded, "o_orderdate", "o_custkey", 30, "rel-live"),
          Map("o_orderkey" -> "order", "o_custkey" -> "cust"),
          "rel-live"
        ),
        census, Seq("price_band"), 5L
      )
    )
    assert(got === batchChain)
    assert(got.nonEmpty)
  }

  test("streaming moment maintenance: centered matrix and PC == batch, bit for bit") {
    import graft.operators.Spectral
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-moments-stream").toString
    val vecs = spark.read
      .parquet(s"$Sf001/embeddings.parquet")
      .select("vec_id", "embedding")
      .as[(Long, Seq[Float])]
      .collect()
      .toSeq
    val stream = MemoryStream[(Long, Seq[Float])]
    val q = Lsm.moments.maintain(
      stream.toDF().toDF("vec_id", "embedding"),
      s"$dir/moments",
      s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)
    )
    vecs.grouped((vecs.length + 2) / 3).foreach { b => stream.addData(b); q.processAllAvailable() }
    q.stop()
    val all = vecs.toDF("vec_id", "embedding")
    val fromSketch = Spectral
      .secondMomentFromSketch(Lsm.moments.current(spark, s"$dir/moments"))
    val batch = Spectral.secondMoment(all)
    // centering does not commute with sharding — the raw-sums identity
    // must reconstruct the batch-centered matrix EXACTLY
    assert(fromSketch.except(batch).count() === 0L && batch.except(fromSketch).count() === 0L)
    // and therefore the streamed principal component IS the batch one
    val pcStream = Spectral
      .powerIterate(fromSketch, 12)
      .orderBy(col("j"))
      .as[(Long, Long)]
      .collect()
      .toSeq
    val pcBatch = Spectral
      .principalComponent(all, 12)
      .orderBy(col("j"))
      .as[(Long, Long)]
      .collect()
      .toSeq
    assert(pcStream === pcBatch)
    // the sketch LSM shares the compaction protocol (r16): folding the
    // three per-batch partials into one changes nothing in the view
    assert(new java.io.File(s"$dir/moments").list().count(_.startsWith("part=")) === 3)
    Lsm.moments.compact(spark, s"$dir/moments")
    assert(new java.io.File(s"$dir/moments").list().count(_.startsWith("part=")) === 1)
    val afterCompact = Spectral
      .secondMomentFromSketch(Lsm.moments.current(spark, s"$dir/moments"))
    assert(afterCompact.except(batch).count() === 0L && batch.except(afterCompact).count() === 0L)
  }

  test("streaming CMS maintenance: merge-on-read == one-pass sketch of everything streamed") {
    import graft.operators.Sketch
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-cms-stream").toString
    val docs = spark.read
      .parquet(s"$Sf001/documents.parquet")
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .as[String]
      .collect()
      .toSeq
    val stream = MemoryStream[String]
    val cms = Lsm.cms("tok", depth = 3, width = 256)
    val q = cms.maintain(
      stream.toDF().toDF("tok"),
      s"$dir/cms",
      s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)
    )
    docs.grouped((docs.length + 2) / 3).foreach { b => stream.addData(b); q.processAllAvailable() }
    q.stop()
    val merged = cms.current(spark, s"$dir/cms")
    val whole = Sketch.cmsSketch(docs.toDF("tok"), "tok", depth = 3, width = 256)
    assert(merged.except(whole).count() === 0L && whole.except(merged).count() === 0L)
    // compaction (r16, shared protocol) folds to one part, sketch unchanged
    cms.compact(spark, s"$dir/cms")
    assert(new java.io.File(s"$dir/cms").list().count(_.startsWith("part=")) === 1)
    val folded = cms.current(spark, s"$dir/cms")
    assert(folded.except(whole).count() === 0L && whole.except(folded).count() === 0L)
  }

  test("every Lsm family: current == the one-pass batch build at autoCompactEvery 0 and 2; compact leaves one part") {
    import graft.operators.{Deidentify, Retrieval, Similarity, Sketch, Spectral}
    import org.apache.spark.sql.{DataFrame, Encoders, Row}
    val docs = Tables.load(spark, Sf0001, "documents").select("doc_id", "text")
    val vecs = spark.read.parquet(s"$Sf0001/embeddings.parquet").select("vec_id", "embedding")
    val toks = docs.select(explode(split(col("text"), " ")).as("tok")).filter(length(col("tok")) > 0)
    val cust = Tables.load(spark, Sf0001, "customer").select(
      col("c_custkey"), col("c_nationkey").cast("long").as("nation"), pmod(col("c_custkey"), lit(13L)).as("v"))
    // (family, the rows it is streamed, its one-pass batch build over all of them)
    val families = Seq(
      (Lsm.index(), docs, Retrieval.invertedIndex(docs)),
      (Lsm.norms(), docs, Retrieval.docLengths(docs)),
      (Lsm.lsh, vecs, Similarity.lshIndex(vecs)),
      (Lsm.cms("tok", depth = 3, width = 256), toks, Sketch.cmsSketch(toks, "tok", depth = 3, width = 256)),
      (nationCensus, cust, Deidentify.cellCounts(cust, Seq("nation"))),
      (Lsm.sumCensus(Seq("nation"), "v", 8L), cust, Deidentify.cellSums(cust, Seq("nation"), "v", 8L)),
      (Lsm.moments, vecs, Spectral.momentSketch(vecs))
    )
    def same(a: DataFrame, b: DataFrame): Boolean = {
      val cols = a.columns.sorted.map(col)
      val (x, y) = (a.select(cols: _*), b.select(cols: _*))
      x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty
    }
    def partCount(d: String) = new java.io.File(d).list()
      .count(s => s.startsWith("part=") && !s.endsWith(".compacted"))
    for ((lsm, rows, batch) <- families; every <- Seq(0, 2)) {
      val base = java.nio.file.Files.createTempDirectory("graft-lsm-law").toString
      val dir = s"$base/artifact"
      val all = rows.collect().toSeq
      val stream = MemoryStream[Row](Encoders.row(rows.schema), spark.sqlContext)
      val q = lsm.maintain(
        stream.toDF(), dir, s"$base/ckpt",
        autoCompactEvery = every,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      all.grouped((all.length + 2) / 3).foreach { b => stream.addData(b); q.processAllAvailable() }
      q.stop()
      val at = s"${lsm.kind} at autoCompactEvery=$every"
      // 3 batches: every part, or at 2 the fold of the first two + the third
      assert(partCount(dir) === (if (every == 0) 3 else 2), at)
      assert(same(lsm.current(spark, dir), batch), s"$at: current != the one-pass build")
      lsm.compact(spark, dir)
      assert(partCount(dir) === 1, at)
      assert(same(lsm.current(spark, dir), batch), s"$at: compaction changed the view")
    }
  }

  test("LSM index maintenance: append-only partials, merge-on-read == rebuild, compaction preserves") {
    import graft.operators.Retrieval
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-idx-lsm").toString
    val idxDir = s"$dir/index"
    val docs = spark.read
      .parquet(s"$Sf001/documents.parquet")
      .select("doc_id", "text")
      .as[(Long, String)]
      .collect()
      .toSeq
    def flat(df: org.apache.spark.sql.DataFrame) =
      df.select("tok", "df", "doc_ids", "tfs")
        .as[(String, Long, Seq[Long], Seq[Long])]
        .collect()
        .map(r => r._1 -> ((r._2, r._3, r._4)))
        .toMap
    def partCount = new java.io.File(idxDir).list().count(_.startsWith("part="))
    val stream = MemoryStream[(Long, String)]
    val q = Lsm.index().maintain(
      stream.toDF().toDF("doc_id", "text"),
      idxDir,
      s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)
    )
    val (b1, rest) = docs.splitAt(docs.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 2)
    stream.addData(b1); q.processAllAvailable()
    stream.addData(b2); q.processAllAvailable()
    q.stop()
    // each batch wrote ONLY its own partial; the merged view == rebuild
    assert(partCount === 2)
    assert(
      flat(Lsm.index().current(spark, idxDir))
        === flat(Retrieval.invertedIndex((b1 ++ b2).toDF("doc_id", "text")))
    )
    // compaction (quiesced) folds partials into one and changes nothing
    Lsm.index().compact(spark, idxDir)
    assert(partCount === 1)
    assert(
      flat(Lsm.index().current(spark, idxDir))
        === flat(Retrieval.invertedIndex((b1 ++ b2).toDF("doc_id", "text")))
    )
    // maintenance resumes on top of the compacted part — with the
    // ORIGINAL checkpoint: that is the contract the r17 lineage guard
    // enforces (a fresh checkpoint replays its source from zero and
    // would double-count the dir's folded history; it is refused)
    val q2 = Lsm.index().maintain(
      stream.toDF().toDF("doc_id", "text"),
      idxDir,
      s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)
    )
    stream.addData(b3); q2.processAllAvailable()
    q2.stop()
    assert(
      flat(Lsm.index().current(spark, idxDir))
        === flat(Retrieval.invertedIndex(docs.toDF("doc_id", "text")))
    )
  }

  test("compactIndex crash points: every interruption leaves a complete readable index (ADVICE r10)") {
    import graft.operators.Retrieval
    val dir = java.nio.file.Files.createTempDirectory("graft-idx-crash").toString
    val idxDir = s"$dir/index"
    val docs = spark.read
      .parquet(s"$Sf001/documents.parquet")
      .select("doc_id", "text")
      .as[(Long, String)]
      .collect()
      .toSeq
    def flat(df: org.apache.spark.sql.DataFrame) =
      df.select("tok", "df", "doc_ids", "tfs")
        .as[(String, Long, Seq[Long], Seq[Long])]
        .collect()
        .map(r => r._1 -> ((r._2, r._3, r._4)))
        .toMap
    val (b1, b2) = docs.splitAt(docs.length / 2)
    Retrieval.invertedIndex(b1.toDF("doc_id", "text")).write.parquet(s"$idxDir/part=0")
    Retrieval.invertedIndex(b2.toDF("doc_id", "text")).write.parquet(s"$idxDir/part=1")
    val want = flat(Retrieval.invertedIndex(docs.toDF("doc_id", "text")))
    // crash state A — staged fold written, marker NOT yet committed:
    // readers must see the plain parts (the staged dir is invisible)
    Lsm.index().current(spark, idxDir)
      .write.parquet(s"$idxDir/part=1.compacted")
    assert(flat(Lsm.index().current(spark, idxDir)) === want)
    // crash state B — marker committed, superseded parts mid-delete:
    // the staged dir is authoritative, the view still complete
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$idxDir/_compacting"), "1")
    assert(flat(Lsm.index().current(spark, idxDir)) === want)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$idxDir/part=0"))
    assert(flat(Lsm.index().current(spark, idxDir)) === want)
    // resume from B: finishes deletes + rename + uncommit, nothing lost
    Lsm.index().compact(spark, idxDir)
    val names = new java.io.File(idxDir).list().toSet
    assert(names.contains("part=1") && !names.contains("_compacting"), s"got $names")
    assert(!names.exists(_.endsWith(".compacted")), s"staged dir must be renamed away: $names")
    assert(flat(Lsm.index().current(spark, idxDir)) === want)
    // crash state C — rename landed but the marker survived: the view is
    // the plain parts, and a resume only uncommits
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$idxDir/_compacting"), "1")
    assert(flat(Lsm.index().current(spark, idxDir)) === want)
    Lsm.index().compact(spark, idxDir)
    assert(!new java.io.File(s"$idxDir/_compacting").exists())
    assert(flat(Lsm.index().current(spark, idxDir)) === want)
  }

  test("census LSM compaction: folded view == uncompacted view == batch census; maintenance resumes (VERDICT r15 №2)") {
    import graft.operators.Deidentify
    implicit val sqlCtx = spark.sqlContext
    val full = sources.Tables
      .load(spark, Sf0001, "customer")
      .select(col("c_custkey"), col("c_nationkey").cast("long").as("nation"),
        (col("c_custkey") % 100L).as("v"))
    val rows = full.as[(Long, Long, Long)].collect().toSeq
    val (b12, b3) = rows.splitAt(rows.length * 2 / 3)
    // fresh dir per run: a checkpoint surviving under the fixed testOut
    // would desync a re-created MemoryStream's offsets
    val base = java.nio.file.Files.createTempDirectory("graft-census-compact").toString
    val cdir = s"$base/census_compact"
    val sdir = s"$base/sumcensus_compact"
    def censusSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def partCount(d: String) = new java.io.File(d).list().count(_.startsWith("part="))
    // maintain both censuses over two micro-batches (explicit batch
    // boundaries: ProcessingTime + processAllAvailable per group —
    // AvailableNow folds everything queued into one batch/part)
    val cs = MemoryStream[(Long, Long, Long)]
    val q1 = nationCensus.maintain(
      cs.toDF().toDF("c_custkey", "nation", "v"), cdir, s"$cdir/_ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    b12.grouped((b12.length + 1) / 2).foreach { b => cs.addData(b); q1.processAllAvailable() }
    q1.stop()
    val ss = MemoryStream[(Long, Long, Long)]
    val sums = Lsm.sumCensus(Seq("nation"), "v", 40L)
    val q2 = sums.maintain(
      ss.toDF().toDF("c_custkey", "nation", "v"), sdir, s"$sdir/_ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    b12.grouped((b12.length + 1) / 2).foreach { b => ss.addData(b); q2.processAllAvailable() }
    q2.stop()
    assert(partCount(cdir) >= 2 && partCount(sdir) >= 2)
    val b12df = b12.toDF("c_custkey", "nation", "v")
    val wantC = censusSet(Deidentify.cellCounts(b12df, Seq("nation")))
    val wantS = censusSet(Deidentify.cellSums(b12df, Seq("nation"), "v", 40L))
    assert(censusSet(nationCensus.current(spark, cdir)) === wantC)
    assert(censusSet(sums.current(spark, sdir)) === wantS)
    // compaction (quiesced) folds to ONE part and changes nothing
    nationCensus.compact(spark, cdir)
    sums.compact(spark, sdir)
    assert(partCount(cdir) === 1 && partCount(sdir) === 1)
    assert(censusSet(nationCensus.current(spark, cdir)) === wantC)
    assert(censusSet(sums.current(spark, sdir)) === wantS)
    // the kind check survives compaction: a COUNT dir read as sums raises
    intercept[IllegalArgumentException](sums.current(spark, cdir))
    // maintenance resumes on top of the folded part; view == full batch.
    // Resumed with the ORIGINAL checkpoint (same MemoryStream instance,
    // offsets align) — the r17 lineage guard refuses a fresh checkpoint
    // here, because a real fresh checkpoint replays the source from zero
    // and would double-count the folded history
    cs.addData(b3)
    val q3 = nationCensus.maintain(
      cs.toDF().toDF("c_custkey", "nation", "v"), cdir, s"$cdir/_ckpt")
    q3.processAllAvailable(); q3.stop()
    assert(censusSet(nationCensus.current(spark, cdir)) ===
      censusSet(Deidentify.cellCounts(full, Seq("nation"))))
    // and the DP serve path reads the compacted LSM identically
    val viaLsm = Deidentify
      .dpFromCounts(nationCensus.current(spark, cdir), Seq("nation"), 1000000L, "rel")
      .as[(Long, Long, Long)].collect().toSet
    val batchRel = Deidentify
      .dpCellCounts(full, Seq("nation"), 1000000L, "rel")
      .select("nation", "n_dp", "epsilon_micro")
      .as[(Long, Long, Long)].collect().toSet
    assert(viaLsm === batchRel)
  }

  test("compactCensus crash points: every interruption leaves a complete census view") {
    import graft.operators.Deidentify
    val dir = java.nio.file.Files.createTempDirectory("graft-census-crash").toString
    val cdir = s"$dir/census"
    val rows = (0L until 300L).map(i => (i, i % 7))
    val (b1, b2) = rows.splitAt(150)
    Deidentify.cellCounts(b1.toDF("id", "nation"), Seq("nation"))
      .write.parquet(s"$cdir/part=0")
    Deidentify.cellCounts(b2.toDF("id", "nation"), Seq("nation"))
      .write.parquet(s"$cdir/part=1")
    def view = nationCensus.current(spark, cdir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Deidentify.cellCounts(rows.toDF("id", "nation"), Seq("nation"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // crash state A — staged fold written, marker NOT yet committed:
    // the staged dir is invisible, the plain parts serve
    nationCensus.current(spark, cdir).write.parquet(s"$cdir/part=1.compacted")
    assert(view === want)
    // crash state B — marker committed, superseded parts mid-delete:
    // the staged dir is authoritative, the view complete throughout
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$cdir/_compacting"), "1")
    assert(view === want)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$cdir/part=0"))
    assert(view === want)
    // resume from B: deletes + rename + uncommit finish, nothing lost
    nationCensus.compact(spark, cdir)
    val names = new java.io.File(cdir).list().toSet
    assert(names.contains("part=1") && !names.contains("_compacting"), s"got $names")
    assert(!names.exists(_.endsWith(".compacted")), s"staged dir must be renamed away: $names")
    assert(view === want)
    // crash state C — rename landed but the marker survived: a resume
    // only uncommits
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$cdir/_compacting"), "1")
    assert(view === want)
    nationCensus.compact(spark, cdir)
    assert(!new java.io.File(s"$cdir/_compacting").exists())
    assert(view === want)
  }

  test("a maintainer cannot overwrite a compacted fold in an UNBRANDED legacy dir (r16 review)") {
    import graft.operators.Deidentify
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-fold-guard").toString
    val cdir = s"$base/census"
    val rows = (0L until 200L).map(i => (i, i % 5))
    // a pre-r17 dir: parts written WITHOUT lineage brands, then folded —
    // the dir-level lineage check cannot protect it (nothing is branded,
    // so the fold carries no brand either), which is exactly why the
    // fold marker stays a separate, unconditional guard
    Deidentify.cellCounts(rows.take(100).toDF("id", "nation"), Seq("nation"))
      .write.parquet(s"$cdir/part=0")
    Deidentify.cellCounts(rows.drop(100).toDF("id", "nation"), Seq("nation"))
      .write.parquet(s"$cdir/part=1")
    nationCensus.compact(spark, cdir)
    assert(new java.io.File(s"$cdir/part=1/_graft_compacted").exists(), "fold is marked")
    assert(!new java.io.File(s"$cdir/part=1/_graft_lineage").exists(),
      "legacy fold carries no lineage brand")
    // a maintainer pointed at the legacy dir re-begins batch ids: batch 0
    // lands in a NEW part (counts still compose — no brand refuses it),
    // but batch 1 would overwrite the fold — it must fail BEFORE any
    // data moves
    val cs2 = MemoryStream[(Long, Long)]
    val q2 = nationCensus.maintain(
      cs2.toDF().toDF("id", "nation"), cdir, s"$base/ckpt2",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    cs2.addData(rows.take(10)); q2.processAllAvailable() // batch 0 -> part=0, fine
    cs2.addData(rows.take(10))
    val e = intercept[Exception](q2.processAllAvailable()) // batch 1 -> fold collision
    q2.stop()
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("compacted fold")), s"got: ${msgs(e)}")
    // the fold survived untouched: its counts still carry the full history
    val fold = spark.read.parquet(s"$cdir/part=1")
    assert(fold.agg(sum(col("__graft_cell_n"))).head().getLong(0) === 200L)
  }

  test("a compacted fold inherits the maintainer's lineage brand: a fresh checkpoint is refused at batch 0 (r17 review)") {
    import graft.operators.Deidentify
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-fold-lineage").toString
    val cdir = s"$base/census"
    val rows = (0L until 200L).map(i => (i, i % 5))
    val cs = MemoryStream[(Long, Long)]
    val q1 = nationCensus.maintain(
      cs.toDF().toDF("id", "nation"), cdir, s"$base/ckpt1",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    rows.grouped(100).foreach { b => cs.addData(b); q1.processAllAvailable() }
    q1.stop()
    nationCensus.compact(spark, cdir)
    // the fold keeps the dir OWNED: without brand propagation a foreign
    // maintainer's parts 0..hi-1 would interleave into ids the fold
    // absorbed — nothing collides until the fold id, and a
    // restarted-from-scratch checkpoint replays its source from zero,
    // double-counting the dir's whole history in the served view
    assert(new java.io.File(s"$cdir/part=1/_graft_lineage").exists(), "fold carries the brand")
    val before = nationCensus.current(spark, cdir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cs2 = MemoryStream[(Long, Long)]
    val q2 = nationCensus.maintain(
      cs2.toDF().toDF("id", "nation"), cdir, s"$base/ckpt2",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    cs2.addData(rows.take(10))
    val e = intercept[Exception](q2.processAllAvailable()) // batch 0 — refused at once
    q2.stop()
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("lineage")), s"got: ${msgs(e)}")
    // nothing landed, the view is intact
    assert(!new java.io.File(s"$cdir/part=0").exists(), "no foreign part was written")
    assert(nationCensus.current(spark, cdir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet === before)
  }

  test("census views raise on quasi-set drift across parts (r16 review)") {
    import graft.operators.Deidentify
    val base = java.nio.file.Files.createTempDirectory("graft-census-drift").toString
    val cdir = s"$base/census"
    // a redeploy that changed quasiCols mid-dir: the multi-path scan
    // would silently null-fill the missing column — the endpoint
    // schema check must refuse instead
    Deidentify.cellCounts((0L until 50L).map(i => (i, i % 5)).toDF("id", "nation"), Seq("nation"))
      .write.parquet(s"$cdir/part=0")
    Deidentify.cellCounts(
      (0L until 50L).map(i => (i, i % 5, i % 3)).toDF("id", "nation", "segment"),
      Seq("nation", "segment"))
      .write.parquet(s"$cdir/part=1")
    val e = intercept[IllegalArgumentException](nationCensus.current(spark, cdir))
    assert(e.getMessage.contains("quasi-set drift"), e.getMessage)
  }

  test("census views raise on NON-monotone and same-name TYPE drift across parts (ADVICE r16)") {
    import graft.operators.Deidentify
    val base = java.nio.file.Files.createTempDirectory("graft-census-drift2").toString
    // rollback drift: a redeploy A→B then rollback to A leaves B-schema
    // parts in the MIDDLE — the r16 oldest-vs-newest endpoint check
    // passed this and the scan silently null-filled the extra column
    val cdir = s"$base/rollback"
    Deidentify.cellCounts((0L until 50L).map(i => (i, i % 5)).toDF("id", "nation"), Seq("nation"))
      .write.parquet(s"$cdir/part=0")
    Deidentify.cellCounts(
      (0L until 50L).map(i => (i, i % 5, i % 3)).toDF("id", "nation", "segment"),
      Seq("nation", "segment"))
      .write.parquet(s"$cdir/part=1")
    Deidentify.cellCounts((50L until 90L).map(i => (i, i % 5)).toDF("id", "nation"), Seq("nation"))
      .write.parquet(s"$cdir/part=2")
    val e1 = intercept[IllegalArgumentException](nationCensus.current(spark, cdir))
    assert(e1.getMessage.contains("quasi-set drift"), e1.getMessage)
    // type drift: identical column NAMES, but the quasi column changed
    // type mid-dir — any name-set comparison passes, after which the
    // multi-path scan would coerce/corrupt; the full-schema check refuses
    val tdir = s"$base/typedrift"
    Deidentify.cellCounts((0L until 50L).map(i => (i, i % 5)).toDF("id", "nation"), Seq("nation"))
      .write.parquet(s"$tdir/part=0")
    Deidentify.cellCounts(
      (0L until 50L).map(i => (i, (i % 5).toString)).toDF("id", "nation"), Seq("nation"))
      .write.parquet(s"$tdir/part=1")
    val e2 = intercept[IllegalArgumentException](nationCensus.current(spark, tdir))
    assert(e2.getMessage.contains("quasi-set drift"), e2.getMessage)
  }

  test("a fresh-checkpoint maintainer cannot overwrite a PLAIN part; same-lineage retry can (ADVICE r16)") {
    import graft.operators.Deidentify
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-lineage-guard").toString
    val cdir = s"$base/census"
    val rows = (0L until 200L).map(i => (i, i % 5))
    def censusSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // two batches into parts 0,1 — UNCOMPACTED history, lineage-branded
    val cs = MemoryStream[(Long, Long)]
    val q1 = nationCensus.maintain(
      cs.toDF().toDF("id", "nation"), cdir, s"$base/ckpt1",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    rows.grouped(100).foreach { b => cs.addData(b); q1.processAllAvailable() }
    q1.stop()
    assert(new java.io.File(s"$cdir/part=0/_graft_lineage").exists(), "parts are branded")
    val before = censusSet(nationCensus.current(spark, cdir))
    // same-lineage REPLAY: delete the newest commit so the restarted
    // query re-executes its last batch — the retry overwrites part=1
    // idempotently (the at-least-once contract the write path absorbs)
    val commits = new java.io.File(s"$base/ckpt1/commits").listFiles().map(_.getName)
      .filter(_.forall(_.isDigit))
    val newest = commits.map(_.toInt).max
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$base/ckpt1/commits/$newest"))
    // the local checksum FS keeps a shadow .crc — a stale one makes the
    // replayed commit's atomic rename fail as a concurrent-writer error
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$base/ckpt1/commits/.$newest.crc"))
    val q1b = nationCensus.maintain(
      cs.toDF().toDF("id", "nation"), cdir, s"$base/ckpt1",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    q1b.processAllAvailable(); q1b.stop()
    assert(censusSet(nationCensus.current(spark, cdir)) === before,
      "same-lineage retry overwrote its own part idempotently")
    // a maintainer on a FRESH checkpoint re-begins at batch 0: part=0
    // holds uncompacted history it would silently replace — refused
    // BEFORE any data moves (the pre-r17 guard only protected folds)
    val cs2 = MemoryStream[(Long, Long)]
    val q2 = nationCensus.maintain(
      cs2.toDF().toDF("id", "nation"), cdir, s"$base/ckpt2",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    cs2.addData(rows.take(10))
    val e = intercept[Exception](q2.processAllAvailable())
    q2.stop()
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("lineage")), s"got: ${msgs(e)}")
    // part=0 survived untouched
    assert(censusSet(nationCensus.current(spark, cdir)) === before)
  }

  test("autoCompactEvery wires the right fold per family: LSH and CMS self-bound and stay exact (VERDICT r16 №4)") {
    // every maintainer passes ITS OWN fold function to the shared
    // auto-compaction hook — a census fold wired into the LSH maintainer
    // would corrupt the dir silently, so a second and third family pin
    // the per-family wiring, not just the census path
    import graft.operators.{Similarity, Sketch}
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-autocompact2").toString
    val vecs = spark.read
      .parquet(s"$Sf001/embeddings.parquet")
      .select("vec_id", "embedding")
      .as[(Long, Seq[Float])]
      .collect()
      .toSeq
    def partCount(d: String) = new java.io.File(d).list()
      .count(s => s.startsWith("part=") && !s.endsWith(".compacted"))
    // LSH: 5 batches, fold every 2 — the fold is a plain union rewrite
    val ls = MemoryStream[(Long, Seq[Float])]
    val q1 = Lsm.lsh.maintain(
      ls.toDF().toDF("vec_id", "embedding"), s"$base/lsh", s"$base/lshckpt",
      autoCompactEvery = 2,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    vecs.grouped((vecs.length + 4) / 5).foreach { b => ls.addData(b); q1.processAllAvailable() }
    q1.stop()
    assert(partCount(s"$base/lsh") <= 3, s"lsh parts: ${partCount(s"$base/lsh")}")
    val live = Lsm.lsh.current(spark, s"$base/lsh")
    val batch = Similarity.lshIndex(vecs.toDF("vec_id", "embedding"))
    assert(live.except(batch).count() === 0L && batch.except(live).count() === 0L,
      "auto-compacted LSH index == batch build")
    // CMS: counter grids add — the folded sketch must equal the one-pass build
    val rows = (0L until 600L).map(i => (i, s"k${i % 37}"))
    val cs = MemoryStream[(Long, String)]
    val q2 = Lsm.cms("k").maintain(
      cs.toDF().toDF("id", "k"), s"$base/cms", s"$base/cmsckpt",
      autoCompactEvery = 2,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    rows.grouped(120).foreach { b => cs.addData(b); q2.processAllAvailable() }
    q2.stop()
    assert(partCount(s"$base/cms") <= 3, s"cms parts: ${partCount(s"$base/cms")}")
    def grid(df: org.apache.spark.sql.DataFrame) = df
      .select(col("row").cast("long"), col("cms_col").cast("long"), col("cnt").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(
      grid(Lsm.cms("k").current(spark, s"$base/cms"))
        === grid(Sketch.cmsSketch(rows.toDF("id", "k"), "k")),
      "auto-compacted CMS == one-pass sketch")
  }

  test("autoCompactEvery: census LSM is self-bounding — auto == manual == uncompacted == batch; crash mid-fold resumes (VERDICT r16 №4)") {
    import graft.operators.Deidentify
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-autocompact").toString
    val adir = s"$base/auto"
    val udir = s"$base/plain"
    val rows = (0L until 400L).map(i => (i, i % 7))
    val batches = rows.grouped(50).toSeq // 8 micro-batches
    def run(dir: String, ckpt: String, every: Int): MemoryStream[(Long, Long)] = {
      val st = MemoryStream[(Long, Long)]
      val q = nationCensus.maintain(
        st.toDF().toDF("id", "nation"), dir, ckpt,
        autoCompactEvery = every,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      batches.foreach { b => st.addData(b); q.processAllAvailable() }
      q.stop()
      st
    }
    val stA = run(adir, s"$base/ckptA", 3)
    run(udir, s"$base/ckptU", 0)
    def partCount(d: String) = new java.io.File(d).list()
      .count(s => s.startsWith("part=") && !s.endsWith(".compacted"))
    // self-bounding: the fold fires whenever >= 3 committed parts exist,
    // so the live count never exceeds every + 1 (fold + in-flight part)
    assert(partCount(adir) <= 4, s"auto dir should stay bounded, got ${partCount(adir)}")
    assert(partCount(udir) >= 8, s"control dir grows one part per batch, got ${partCount(udir)}")
    def censusSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = censusSet(Deidentify.cellCounts(rows.toDF("id", "nation"), Seq("nation")))
    assert(censusSet(nationCensus.current(spark, adir)) === want, "auto == batch")
    assert(censusSet(nationCensus.current(spark, udir)) === want, "uncompacted == batch")
    nationCensus.compact(spark, udir)
    assert(censusSet(nationCensus.current(spark, udir)) === want, "manual == batch")
    // crash mid-auto-fold at the COMMIT point (state B of the compactLsm
    // walk): stage a fold of everything live, brand it, commit the
    // marker — then die. The view stays complete, and the NEXT maintainer
    // batch finishes the fold first (marker-resume inside
    // maybeAutoCompact) before writing its own part.
    val hi = new java.io.File(adir).list()
      .collect { case s if s.startsWith("part=") && s.stripPrefix("part=").forall(_.isDigit) =>
        s.stripPrefix("part=").toLong }
      .max
    nationCensus.current(spark, adir).write.parquet(s"$adir/part=$hi.compacted")
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$adir/part=$hi.compacted/_graft_compacted"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$adir/_compacting"), hi.toString)
    assert(censusSet(nationCensus.current(spark, adir)) === want,
      "view complete at the crash point")
    val extra = (400L until 450L).map(i => (i, i % 7))
    // resume with the ORIGINAL checkpoint (same MemoryStream instance) —
    // the lineage guard refuses a fresh checkpoint over a branded dir
    val q2 = nationCensus.maintain(
      stA.toDF().toDF("id", "nation"), adir, s"$base/ckptA",
      autoCompactEvery = 3,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    stA.addData(extra); q2.processAllAvailable(); q2.stop()
    assert(!new java.io.File(s"$adir/_compacting").exists(), "crashed fold finished")
    val wantAll = censusSet(
      Deidentify.cellCounts((rows ++ extra).toDF("id", "nation"), Seq("nation")))
    assert(censusSet(nationCensus.current(spark, adir)) === wantAll,
      "resumed fold + new batch == batch census of everything")
    assert(partCount(adir) <= 4, "still bounded after the resume")
  }

  test("currentIvf skips a generation whose centroids are not durable yet (ADVICE r10)") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-gen").toString
    val vecs = spark.read
      .parquet(s"$Sf001/embeddings.parquet")
      .select("vec_id", "embedding")
      .as[(Long, Seq[Float])]
      .collect()
      .toSeq
    val stream = MemoryStream[(Long, Seq[Float])]
    val q = StreamingOps.maintainIvf(
      stream.toDF().toDF("vec_id", "embedding"),
      s"$dir/ivf",
      s"$dir/ckpt",
      refitEvery = 1,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)
    )
    stream.addData(vecs); q.processAllAvailable()
    q.stop()
    val complete = StreamingOps.currentIvf(spark, s"$dir/ivf")
    val completeIdx = complete.index.count()
    // simulate the mid-refit window: a NEWER gen= dir exists with its
    // index written but its centroids not durable yet — the reader must
    // resolve the previous complete generation, not die on the torn one
    complete.index.write.parquet(s"$dir/ivf/gen=99/index")
    val view = StreamingOps.currentIvf(spark, s"$dir/ivf")
    assert(view.index.count() === completeIdx)
    assert(view.centroids.count() > 0)
    // a centroids dir WITHOUT the committer's _SUCCESS is still torn
    complete.centroids.write.parquet(s"$dir/ivf/gen=99/centroids")
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/ivf/gen=99/centroids/_SUCCESS")
    )
    val view2 = StreamingOps.currentIvf(spark, s"$dir/ivf")
    assert(view2.index.count() === completeIdx)
  }

  test("currentIvf on a directory that has never been written is a named refusal") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-fresh").toString + "/ivf"
    val e = intercept[IllegalArgumentException](StreamingOps.currentIvf(spark, dir))
    assert(e.getMessage.contains(s"no COMPLETE IVF generation under $dir"), e.getMessage)
  }

  test("compactIndex: a FAILED rename keeps the marker + staged fold, then resumes (ADVICE r11)") {
    import graft.operators.Retrieval
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-idx-failren").toString
    val idxDir = s"$dir/index"
    def flat(df: org.apache.spark.sql.DataFrame) =
      df.select("tok", "df", "doc_ids", "tfs")
        .as[(String, Long, Seq[Long], Seq[Long])]
        .collect()
        .map(r => r._1 -> ((r._2, r._3, r._4)))
        .toMap
    val docs = Seq((1L, "a b c"), (2L, "b c d"), (3L, "c d e"), (4L, "x y z"))
    val (b1, b2) = docs.splitAt(2)
    Retrieval.invertedIndex(b1.toDF("doc_id", "text")).write.parquet(s"$idxDir/part=0")
    Retrieval.invertedIndex(b2.toDF("doc_id", "text")).write.parquet(s"$idxDir/part=1")
    val want = flat(Retrieval.invertedIndex(docs.toDF("doc_id", "text")))
    // committed crash state: staged fold + marker present, parts still live
    Lsm.index().current(spark, idxDir)
      .write.parquet(s"$idxDir/part=1.compacted")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$idxDir/_compacting"), "1")
    // resume through a filesystem whose rename(staged → part=1) returns
    // false: the old code swallowed it and deleted the marker anyway,
    // losing the only remaining copy (the superseded parts are deleted
    // first); the fix must fail loudly and leave marker + staged intact
    spark.sparkContext.hadoopConfiguration
      .set("fs.failrename.impl", classOf[FailRenameFs].getName)
    FailRenameFs.armed.set(true)
    try intercept[IllegalArgumentException] {
      Lsm.index().compact(spark, s"failrename:$idxDir")
    } finally FailRenameFs.armed.set(false)
    assert(new java.io.File(s"$idxDir/_compacting").exists(), "marker must survive the failed rename")
    assert(new java.io.File(s"$idxDir/part=1.compacted").exists(), "staged fold must survive")
    // the view is still complete (served from the committed staged fold)
    assert(flat(Lsm.index().current(spark, idxDir)) === want)
    // re-invocation on a healthy filesystem finishes: rename + uncommit
    Lsm.index().compact(spark, idxDir)
    val names = new java.io.File(idxDir).list().toSet
    assert(names.contains("part=1") && !names.contains("_compacting"), s"got $names")
    assert(!names.exists(_.endsWith(".compacted")), s"staged dir renamed away: $names")
    assert(flat(Lsm.index().current(spark, idxDir)) === want)
  }

  test("lineage guard re-verifies per batch: a foreign part appearing AFTER first verification is refused at the next micro-batch (ADVICE r17)") {
    import graft.operators.Deidentify
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-lineage-toctou").toString
    val cdir = s"$base/census"
    // maintainer A verifies an EMPTY dir at batch 0 — the one-shot cache
    // of r17 froze that verdict for the process lifetime, so an
    // interloper's parts written after it interleaved undetected
    val cs = MemoryStream[(Long, Long)]
    val q1 = nationCensus.maintain(
      cs.toDF().toDF("id", "nation"), cdir, s"$base/ckpt1",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    cs.addData((0L until 50L).map(i => (i, i % 5)))
    q1.processAllAvailable()
    assert(new java.io.File(s"$cdir/part=0/_graft_lineage").exists())
    // an interloper (emulating the TOCTOU loser: it verified the same
    // empty dir concurrently, then wrote) lands a foreign-branded part
    Deidentify.cellCounts((0L until 20L).map(i => (i, i % 3)).toDF("id", "nation"), Seq("nation"))
      .write.parquet(s"$cdir/part=7")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$cdir/part=7/_graft_lineage"),
      "foreign-lineage-toctou".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // maintainer A's NEXT batch must refuse — detection moved from "a
    // later process" to "the next micro-batch"
    cs.addData((50L until 100L).map(i => (i, i % 5)))
    val e = intercept[Exception](q1.processAllAvailable())
    q1.stop()
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("lineage")), s"got: ${msgs(e)}")
  }

  test("lineage guard verdict does not outlive a wiped-and-recreated dir at the same path (ADVICE r17)") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-lineage-wipe").toString
    val cdir = s"$base/census"
    def rmrf(p: java.io.File): Unit = {
      Option(p.listFiles()).foreach(_.foreach(rmrf))
      p.delete(); ()
    }
    // maintainer A owns the dir and caches its verdict
    val cs = MemoryStream[(Long, Long)]
    val q1 = nationCensus.maintain(
      cs.toDF().toDF("id", "nation"), cdir, s"$base/ckpt1",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    cs.addData((0L until 50L).map(i => (i, i % 5)))
    q1.processAllAvailable()
    // the dev-loop pattern the advice names: the dir is wiped and a NEW
    // maintainer (fresh checkpoint = new lineage) recreates it at the
    // same path, reusing even the same part NAMES
    rmrf(new java.io.File(cdir))
    Thread.sleep(50) // stay above local-FS mtime resolution
    val cs2 = MemoryStream[(Long, Long)]
    val q2 = nationCensus.maintain(
      cs2.toDF().toDF("id", "nation"), cdir, s"$base/ckpt2",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    cs2.addData((0L until 30L).map(i => (i, i % 3)))
    q2.processAllAvailable()
    q2.stop()
    assert(new java.io.File(s"$cdir/part=0/_graft_lineage").exists())
    // maintainer A writes again: its cached verdict covered the PRE-WIPE
    // part=0, not this incarnation — the recreated part's fresh mtime
    // makes it unseen, its foreign brand is read, and the write refused
    // (the r17 one-shot cache let A interleave into B's dir here)
    cs.addData((50L until 100L).map(i => (i, i % 5)))
    val e = intercept[Exception](q1.processAllAvailable())
    q1.stop()
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("lineage")), s"got: ${msgs(e)}")
  }

  test("census schema check re-reads a part REWRITTEN at the same path: type drift after a wipe is still refused (ADVICE r17)") {
    import graft.operators.Deidentify
    val base = java.nio.file.Files.createTempDirectory("graft-schema-stale").toString
    val cdir = s"$base/census"
    def rmrf(p: java.io.File): Unit = {
      Option(p.listFiles()).foreach(_.foreach(rmrf))
      p.delete(); ()
    }
    val good = (0L until 50L).map(i => (i, i % 5)).toDF("id", "nation")
    Deidentify.cellCounts(good, Seq("nation")).write.parquet(s"$cdir/part=0")
    Deidentify.cellCounts(good, Seq("nation")).write.parquet(s"$cdir/part=1")
    // first read verifies and CACHES both part schemas
    assert(nationCensus.current(spark, cdir).count() === 5)
    // part=1 is wiped and recreated at the same path with a type-drifted
    // quasi column (string nation) — the r17 path-keyed cache kept
    // serving the pre-wipe schema and the view silently coerced
    rmrf(new java.io.File(s"$cdir/part=1"))
    Thread.sleep(50) // stay above local-FS mtime resolution
    Deidentify
      .cellCounts((0L until 50L).map(i => (i, (i % 5).toString)).toDF("id", "nation"), Seq("nation"))
      .write.parquet(s"$cdir/part=1")
    val e = intercept[IllegalArgumentException](nationCensus.current(spark, cdir))
    assert(e.getMessage.contains("quasi-set drift"), e.getMessage)
  }
}

/** A local filesystem whose `rename` into a `part=<n>` destination can be
  * armed to return false — Hadoop's documented failure mode on filesystems
  * where the destination already exists — so specs can pin compactIndex's
  * behavior when the final publish rename does not land. Top-level with a
  * no-arg constructor because Hadoop instantiates it reflectively from
  * `fs.failrename.impl`.
  */
class FailRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("failrename:///")
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean =
    if (FailRenameFs.armed.get() && dst.getName.startsWith("part=") && !dst.getName.contains(".compacted"))
      false
    else super.rename(src, dst)
}

object FailRenameFs {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}
