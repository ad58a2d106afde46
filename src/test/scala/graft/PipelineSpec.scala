package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Pipeline, SequencePack}

/** Laws of the COMPOSED training pipeline (q65): stage contracts hold end
  * to end, not just per stage.
  */
class PipelineSpec extends SparkSpec {

  private lazy val docs = sources.Tables.load(spark, Sf0001, "documents")

  /** The crafted hygienic corpus and its benchmark: one casualty per
    * stage, plus two robustness inputs — a NULL text (its NULL Gopher
    * predicate fails the gate) and an id on two rows of which only one
    * carries the benchmark run (the id-keyed decontamination anti join
    * removes both rows).
    *
    * ~100 DISTINCT tokens: lenScore 1.0 alone passes the quality gate
    * (0.5 + punctScore 0.2 = 0.7) and repetition stays near zero. Every
    * doc that must reach a LATER stage carries "the of" (two distinct
    * engine stopwords) and word-shaped tokens, so the r07 structural
    * Gopher gate (>=50 words, mean len 3-10, >=80% alpha, >=2 distinct
    * stopwords) passes it and the intended stage still does the cutting.
    */
  private def hygienicCorpus: (DataFrame, DataFrame) = {
    val s = spark
    import s.implicits._
    val base = (0 until 98).map(i => s"word$i").mkString(" ") + " the of"
    val other = (100 until 200).map(i => s"vocab$i").mkString(" ")
    val terms = (300 until 400).map(i => s"term$i").mkString(" ")
    val benchRun = (1 to 10).map(i => s"bench$i").mkString(" ")
    val crafted = Seq(
      (1L, "en", base + " unique one"), // survives everything
      (2L, "en", base + " unique one"), // exact dup of 1 -> collapses
      // repetitive -> cut by the repetition stage (dup_frac ~1); "the of"
      // keeps it past the structural gate so that stage gets to bite
      (3L, "en", Seq.fill(118)("loop").mkString(" ") + " the of"),
      // contains a benchmark 4-gram -> decontaminated (after passing gopher)
      (4L, "en", s"$other $benchRun the of"),
      (5L, "fr", other + " a is autre chose"),
      // structural casualty: >=50 alphabetic words but ZERO stopwords —
      // only the NEW gopher stage can cut this one (quality 0.7 passes)
      (6L, "en", (0 until 60).map(i => s"keyword$i").mkString(" ")),
      // one id, two rows: only the second carries the benchmark run
      (7L, "de", s"$terms the of"),
      (7L, "de", s"$terms $benchRun the of"),
      (8L, "en", null) // NULL text
    ).toDF("doc_id", "lang", "text")
    (crafted, Seq((900L, "xx", benchRun)).toDF("doc_id", "lang", "text"))
  }

  /** ACTIONS `body` fires, not jobs: AQE materializes every shuffle stage
    * as its own job, so a single collect over a join tree is many jobs —
    * the QueryExecutionListener fires exactly once per action (collect /
    * checkpoint). The listener bus posts async; settle until two
    * consecutive reads agree (actions are blocking, so every event is
    * queued when the body returns).
    */
  private def actionsIn(body: => Unit): Int = {
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        actions.incrementAndGet()
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit =
        actions.incrementAndGet()
    }
    def settled(): Int = {
      var last = -1
      var cur = actions.get()
      while (cur != last) { Thread.sleep(200); last = cur; cur = actions.get() }
      cur
    }
    spark.listenerManager.register(listener)
    try {
      val before = settled()
      body
      settled() - before
    } finally spark.listenerManager.unregister(listener)
  }

  test("composition laws: sample bound, quality gate, dedup, conservation") {
    val cfg = Pipeline.Config()
    val out = Pipeline.trainingData(docs, cfg).persist()
    try {
      val outDocs = out.select("doc_id", "lang").distinct()
      // at most perGroupN docs per lang
      val over = outDocs
        .groupBy("lang")
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > cfg.perGroupN)
        .count()
      assert(over === 0L)
      // carried lang matches the source table's lang for every doc
      val langMismatch = outDocs
        .join(docs.select(col("doc_id"), col("lang").as("src_lang")), "doc_id")
        .filter(col("lang") =!= col("src_lang"))
        .count()
      assert(langMismatch === 0L)
      // every surviving doc passes the quality gate on its scrubbed text
      val belowGate = docs
        .join(outDocs.select("doc_id"), Seq("doc_id"), "left_semi")
        .filter(
          TextFunctions.qualityScoreFused(TextFunctions.scrub(col("text"))) < cfg.minQuality
        )
        .count()
      assert(belowGate === 0L)
      // no two surviving docs share identical scrubbed text (exact dedup)
      val dupTexts = docs
        .join(outDocs.select("doc_id"), Seq("doc_id"), "left_semi")
        .groupBy(TextFunctions.scrub(col("text")).as("t"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > 1)
        .count()
      assert(dupTexts === 0L)
      // token conservation: per-doc packed totals == chunk totals of the
      // same scrubbed text under the same chunking constants
      val scrubbedKept = docs
        .join(outDocs.select("doc_id"), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), TextFunctions.scrub(col("text")).as("text"))
      val chunkTotals = SequencePack
        .chunkFrame(scrubbedKept, cfg.chunkSize, cfg.overlap)
        .groupBy("doc_id")
        .agg(sum("n_tok").as("chunk_toks"))
      val mism = out
        .groupBy("doc_id")
        .agg(sum("n_tokens").as("pack_toks"))
        .join(chunkTotals, "doc_id")
        .filter(col("pack_toks") =!= col("chunk_toks"))
        .count()
      assert(mism === 0L)
      // deterministic under repartitioning
      val again = Pipeline.trainingData(docs.repartition(13), cfg)
      assert(out.except(again).count() === 0L && again.except(out).count() === 0L)
    } finally out.unpersist()
  }

  test("writeCorpus: selection persists through the sharded sink and verifies") {
    val dir = s"$testOut/pipeline_corpus"
    val report = Pipeline.writeCorpus(docs, dir)
    val selected = Pipeline.selectCorpus(docs)
    // footer read-back total == selection count (the reference's own
    // self-check applied to the pipeline output)
    assert(report.totalRows === selected.count())
    assert(report.numFiles >= 1)
    assert(report.schemaDdl.contains("doc_id") && report.schemaDdl.contains("text"))
    // the written rows ARE the selection (ids round-trip exactly)
    val back = spark.read.parquet(dir)
    assert(back.select("doc_id").except(selected.select("doc_id")).count() === 0L)
    assert(selected.select("doc_id").except(back.select("doc_id")).count() === 0L)
    // packing the written corpus equals packing the in-flight selection:
    // the persisted artifact is a faithful pipeline checkpoint
    val cfg = Pipeline.Config()
    val packedBack = graft.operators.SequencePack
      .pack(back, cfg.budget, cfg.chunkSize, cfg.overlap, carry = Seq("lang"))
    val packedLive = Pipeline.trainingData(docs)
    assert(packedBack.except(packedLive).count() === 0L && packedLive.except(packedBack).count() === 0L)
  }

  test("scrub runs BEFORE hashing: docs differing only in PII collapse") {
    import spark.implicits._
    // 120 stopword tokens → quality 1.0 (passes any gate); docs 1 and 2
    // differ only by the email local-part, so they are distinct strings
    // raw but IDENTICAL after scrub — exact dedup must collapse them,
    // which can only happen if scrubbing precedes the text hash
    val base = Seq.fill(12)("the a of to and in is it you that").mkString(" ")
    val crafted = Seq(
      (1L, "en", s"$base alice@example.com"),
      (2L, "en", s"$base bob@example.com"),
      (3L, "en", base)
    ).toDF("doc_id", "lang", "text")
    val out = Pipeline.trainingData(crafted)
    val kept = out.select("doc_id").distinct().as[Long].collect().toSet
    // {1,2} collapse exactly; near-dedup then merges 3 into the same
    // cluster (the texts share nearly all shingles) and the tie on
    // quality resolves to the min id — one survivor, doc 1
    assert(kept === Set(1L))
  }

  test("hygienic pipeline: each new stage bites on a crafted corpus, composition holds") {
    import spark.implicits._
    val (crafted, benchmark) = hygienicCorpus
    val selected = Pipeline.selectHygienic(crafted, benchmark)
    val ids = selected.select("doc_id").as[Long].collect().toSet
    // 6 and the NULL-text 8 cut by the structural gate, 2 collapsed into
    // 1, 3 repetitive, 4 and both rows of 7 contaminated; 1 and 5 survive
    // (fr is the rarest group -> temperature keeps it whole; en's single
    // survivor group also keeps rate 1.0 since both groups have size 1)
    assert(ids === Set(1L, 5L))
    // token conservation through packing: packed n_tokens sums to the
    // selected docs' CHUNK tokens (overlap duplicates overlap*(nChunks-1)
    // tokens per doc by design — compare against independent chunking)
    val packed = Pipeline.hygienicTrainingData(crafted, benchmark)
    val packedTokens = packed.agg(sum("n_tokens")).as[Long].head()
    val chunkTokens = selected
      .select(explode(TextFunctions.chunks(col("text"), 64, 8)).as("c"))
      .select(size(TextFunctions.tokens(col("c"))).cast("long").as("n"))
      .agg(sum("n"))
      .as[Long]
      .head()
    assert(packedTokens === chunkTokens)
  }

  test("attrition funnel + reject reasons: chained counts, per-stage attribution, kept == pipeline") {
    import spark.implicits._
    val (crafted, benchmark) = hygienicCorpus

    val funnel = Pipeline
      .attrition(crafted, benchmark)
      .orderBy("stage_idx")
      .as[(Long, String, Long, Long, Long)]
      .collect()
    // fixed 7-row shape in stage order
    assert(funnel.map(_._2).toSeq === Seq(
      "gopher", "quality", "repetition", "decontamination", "exact_dedup", "near_dedup", "mix"
    ))
    // the funnel chains: n_out(i) == n_in(i+1), n_in - n_dropped == n_out
    assert(funnel.head._3 === 8L) // distinct input ids
    funnel.foreach { case (_, _, nIn, nDropped, nOut) => assert(nIn - nDropped === nOut) }
    funnel.sliding(2).foreach { w => assert(w(0)._5 === w(1)._3) }
    // each crafted casualty lands in its intended stage
    val drops = funnel.map(f => f._2 -> f._4).toMap
    assert(drops("gopher") === 2L) // doc 6 and the NULL-text doc 8
    assert(drops("repetition") === 1L) // doc 3
    assert(drops("decontamination") === 2L) // doc 4 and the shared id 7
    assert(drops("exact_dedup") === 1L) // doc 2 collapses into 1
    assert(funnel.last._5 === 2L) // docs 1 and 5 survive

    val reasons = Pipeline
      .rejectReasons(crafted, benchmark)
      .as[(Long, String)]
      .collect()
      .toMap
    assert(reasons.size === 8) // one row per INPUT id
    assert(reasons(6L) === "gopher")
    assert(reasons(3L) === "repetition")
    assert(reasons(4L) === "decontamination")
    assert(reasons(7L) === "decontamination") // leaves with both rows
    assert(reasons(8L) === "gopher")
    assert(reasons(2L) === "exact_dedup")
    assert(reasons(1L) === "kept")
    assert(reasons(5L) === "kept")
    // reason counts ARE the funnel's drop column
    val reasonCounts = reasons.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    funnel.foreach { case (_, stage, _, nDropped, _) =>
      assert(reasonCounts.getOrElse(stage, 0L) === nDropped, s"stage $stage")
    }
    // kept ids == the pipeline's own output
    val keptIds = reasons.collect { case (id, "kept") => id }.toSet
    val pipelineIds =
      Pipeline.selectHygienic(crafted, benchmark).select("doc_id").as[Long].collect().toSet
    assert(keptIds === pipelineIds)
  }

  test("attrition adds ONE action beyond the chain's own checkpoints (VERDICT r13 one-pass funnel)") {
    import spark.implicits._
    val base = (0 until 98).map(i => s"word$i").mkString(" ") + " the of"
    val crafted = Seq(
      (1L, "en", base + " unique one"),
      (2L, "en", base + " unique one"),
      (3L, "fr", base + " autre chose")
    ).toDF("doc_id", "lang", "text")
    val benchmark = Seq((900L, "xx", "bench run only")).toDF("doc_id", "lang", "text")
    // building rejectReasons is LAZY apart from the chain's eager
    // checkpoints — its action count IS the chain's own unavoidable work
    val chainActions = actionsIn(Pipeline.rejectReasons(crafted, benchmark))
    // the funnel must add exactly the single groupBy(reason) collect on
    // top of that — the old shape added 8 sequential boundary counts
    val attrActions = actionsIn(Pipeline.attrition(crafted, benchmark))
    assert(chainActions > 0, "the chain's checkpoints run eagerly")
    assert(
      attrActions <= chainActions + 1,
      s"funnel must be one action: $attrActions vs chain $chainActions"
    )
  }

  test("one shape: building selectHygienic and rejectReasons fires the same actions") {
    val (crafted, benchmark) = hygienicCorpus
    // the pipeline and its audit build the SAME chain — no extra audit
    // checkpoints, no lazier pipeline-only branch
    val pipelineActions = actionsIn(Pipeline.selectHygienic(crafted, benchmark))
    val auditActions = actionsIn(Pipeline.rejectReasons(crafted, benchmark))
    assert(pipelineActions > 0, "the chain's checkpoints run eagerly")
    assert(auditActions === pipelineActions)
  }

  test("mixing pipeline: importance, temperature, budget, and shard stages all bite; plan laws hold") {
    import spark.implicits._
    // Every doc passes the structural gate (>=50 words, word-shaped, two
    // distinct stopwords) and the quality gate (lenScore 1.0). The vocab
    // T docs are SHUFFLED copies of the target's vocabulary (disjoint
    // shingle sets — not near-dups), so DSIR scores them high; the vocab
    // B docs repeat 25 foreign tokens 4x each, so their raw counts are
    // high and target counts zero — scored LOW, cut by the mean-relative
    // importance threshold. 8 en vs 1 fr makes the temperature stage
    // sample en at sqrt(1/8); all en survivors share one source against
    // a budget smaller than two documents, so the budget stage cuts too.
    val vocabT = (0 until 100).map(i => s"targ$i")
    val vocabB = (0 until 25).flatMap(i => Seq.fill(4)(s"foreign$i"))
    def shuffled(seed: Int, v: Seq[String]) =
      new scala.util.Random(seed).shuffle(v).mkString(" ") + " the of"
    val target = Seq((900L, "en", "bench", shuffled(0, vocabT)))
      .toDF("doc_id", "lang", "source", "text")
    val crafted = (
      (1 to 8).map(i => (i.toLong, "en", "web", shuffled(i, vocabT) + s" unique$i")) ++
        Seq(
          (9L, "fr", "books", shuffled(9, vocabT) + " unique9"),
          (10L, "en", "web", shuffled(10, vocabB)),
          (11L, "en", "web", shuffled(11, vocabB))
        )
    ).toDF("doc_id", "lang", "source", "text")
    val out = Pipeline
      .mixCorpus(crafted, target, budgetTokens = 150L, nShards = 4, seed = 7L)
      .persist()
    val rows = out.collect()
    val ids = rows.map(_.getAs[Long]("doc_id")).toSet
    // importance bites: both foreign-vocab docs are gone
    assert(!ids.contains(10L) && !ids.contains(11L))
    // temperature bites: fr (rarest group) kept whole, en sampled below 8
    assert(ids.contains(9L))
    val nEn = rows.count(_.getAs[String]("lang") == "en")
    assert(nEn > 0 && nEn < 8, s"temperature must sample en below 8, got $nEn")
    // budget bites: every admitted doc respects the cap, and the web
    // source could not fit two ~103-token docs under 150
    assert(rows.forall(_.getAs[Long]("cum_tok") <= 150L))
    assert(rows.count(_.getAs[String]("source") == "web") === 1)
    // shard-plan laws: shard in range, positions dense 1..n per shard
    assert(rows.forall(r => r.getAs[Long]("shard") >= 0L && r.getAs[Long]("shard") < 4L))
    rows.groupBy(_.getAs[Long]("shard")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("position")).sorted.toSeq === (1L to rs.length).toSeq)
    }
    // column contract: the mix keys ride the whole chain unchanged
    val src = crafted.select("doc_id", "lang", "source").as[(Long, String, String)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(rows.forall { r =>
      src(r.getAs[Long]("doc_id")) ==
        (r.getAs[String]("lang"), r.getAs[String]("source"))
    })
    out.unpersist()
  }

  test("writeMixed: one position-sorted file per shard; read-back equals the plan") {
    import spark.implicits._
    val dir = s"$testOut/mix_artifact"
    val bucket = functions.GraftExpressions.poly_hash(col("text")) % 10
    val corpus = docs.filter(bucket < 9)
    val target = docs.filter(bucket >= 9)
    val back = Pipeline
      .writeMixed(corpus, target, budgetTokens = 300L, nShards = 4, outputDir = dir, seed = 42L)
      .persist()
    val plan = Pipeline.mixCorpus(corpus, target, budgetTokens = 300L, nShards = 4, seed = 42L)
    // the artifact holds exactly the plan (columns minus text)
    val backPlan = back.drop("text")
    assert(backPlan.except(plan).count() === 0L && plan.except(backPlan).count() === 0L)
    // one file per non-empty shard
    val filesPerShard = back
      .select(input_file_name().as("f"), col("shard"))
      .distinct()
      .groupBy("shard")
      .agg(countDistinct("f").as("nf"))
      .as[(Long, Long)]
      .collect()
    assert(filesPerShard.nonEmpty && filesPerShard.forall(_._2 === 1L), filesPerShard.toSeq)
    // physical row order within each file IS position order (the
    // training reader streams the file; no sort at read time)
    val physical = spark.read
      .parquet(dir)
      .select(input_file_name().as("f"), col("position"), monotonically_increasing_id().as("m"))
      .collect()
      .groupBy(_.getString(0))
    physical.foreach { case (f, rows) =>
      val pos = rows.sortBy(_.getLong(2)).map(_.getLong(1)).toSeq
      assert(pos === pos.sorted, s"file $f not in position order: $pos")
    }
    back.unpersist()
  }

  test("writeCorpus chaos: mid-write crash + stale shards, then re-run — read-back invariant holds") {
    import spark.implicits._
    val dir = s"$testOut/pipeline_corpus_chaos"
    // 1. Debris of an EARLIER, different run: a committed shard with rows
    //    that must NOT survive (the resume-after-crash hazard the
    //    reference's re-runnable dump has no negative test for).
    Seq((9999L, "xx", "stale shard from a previous crashed run"))
      .toDF("doc_id", "lang", "text")
      .write
      .mode("overwrite")
      .parquet(dir)
    // 2. A mid-WRITE crash: poison one row of the final selection so the
    //    parquet job itself dies after other tasks have started — the
    //    poison sits on the last frame, so every upstream pipeline stage
    //    completes and the failure lands inside the write job, leaving
    //    commit-protocol debris (_temporary attempt dirs) behind.
    val selected = Pipeline.selectCorpus(docs)
    val victim = selected.agg(min("doc_id")).as[Long].head()
    val boom = udf { (id: Long) =>
      if (id == victim) throw new RuntimeException("chaos: injected mid-write failure")
      id
    }
    intercept[Exception] {
      sources.ShardedParquetSink.write(selected.withColumn("doc_id", boom(col("doc_id"))), dir)
    }
    // 3. Clean RE-RUN over the crash site: overwrite mode must wipe every
    //    stale artifact and the read-back report must verify the new
    //    corpus exactly — no stale rows, no debris-inflated counts.
    val report = Pipeline.writeCorpus(docs, dir)
    assert(report.totalRows === selected.count())
    val back = spark.read.parquet(dir)
    assert(back.filter(col("doc_id") === 9999L).count() === 0L)
    assert(back.select("doc_id").except(selected.select("doc_id")).count() === 0L)
    assert(selected.select("doc_id").except(back.select("doc_id")).count() === 0L)
    // footer totals agree with an actual data-page read of the same dir
    assert(report.totalRows === back.count())
    // 4. Idempotence: a second full re-run reproduces the same artifact —
    //    same schema, same total, same id set. (Materialize the first
    //    artifact's ids BEFORE overwriting: `back`'s plan pins the old
    //    shard file names, which the re-run deletes.)
    val idsBefore = back.select("doc_id").as[Long].collect().toSet
    val report2 = Pipeline.writeCorpus(docs, dir)
    assert(report2.schemaDdl === report.schemaDdl)
    assert(report2.totalRows === report.totalRows)
    val idsAfter = spark.read.parquet(dir).select("doc_id").as[Long].collect().toSet
    assert(idsAfter === idsBefore)
  }
}
