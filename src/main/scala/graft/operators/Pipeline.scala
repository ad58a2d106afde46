package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{GraftExpressions, TextFunctions}

/** The COMPOSED training-data pipeline — every stage the engine ships,
  * chained the way a real corpus build runs them:
  *
  *   scrub → quality gate → exact dedup → near dedup (best-quality rep)
  *         → balanced per-group sample → chunk → pack
  *
  * Each stage is individually oracle-gated elsewhere (q22/q20/q42/q63/
  * q58/q60); this operator gates their COMPOSITION — the column
  * contracts between stages and the cache scopes across the clustering
  * boundary — which is the surface a user hits first. The reference's
  * whole value is likewise one composed `main`
  * (dump_table.py:175-248: count→schema→fetch→shard→verify); this is the
  * training-data analog.
  *
  * Scale shape: every stage is shuffle-bounded by what it must do —
  * quality is scan-only, exact dedup one hash-aggregate, near-dedup the
  * banded-LSH + star-contraction path (internally persisted /
  * checkpointed), sampling a bounded-heap aggregate, packing a window
  * partitioned by doc_id. Stage handoffs are LEFT SEMI joins on the id
  * (small survivor sets; broadcast-able after dedup shrinks the corpus).
  * The exact-dedup survivor frame is localCheckpoint-ed: the clustering
  * loop's own actions would otherwise re-evaluate the scan+filter
  * upstream once per internal action, and checkpointing (not persist)
  * leaves no cache-lifetime obligation on the caller.
  */
object Pipeline {

  /** Tuning knobs. `minQuality` applies to the q22-pinned fused quality
    * score; the default sits in a measured gap of the fixture's score
    * distribution (no document within 1.9e-3 of the threshold at sf0.01
    * or sf0.1), so cross-engine double rounding cannot flip a document
    * across the gate.
    */
  final case class Config(
      minQuality: Double = 0.4275,
      nearDupThreshold: Double = 0.8,
      perGroupN: Int = 40,
      budget: Int = 96,
      chunkSize: Int = 64,
      overlap: Int = 8
  )

  /** Chunk + pack a selection (q58/q60 semantics); groupCol rides
    * through the pack aggregate as a carry column so no second pipeline
    * evaluation is needed to re-attach it. ONE definition shared by both
    * composed pipelines.
    */
  private def packSelection(
      selected: DataFrame,
      cfg: Config,
      textCol: String,
      idCol: String,
      groupCol: String
  ): DataFrame =
    SequencePack.pack(
      selected,
      cfg.budget,
      cfg.chunkSize,
      cfg.overlap,
      textCol,
      idCol,
      carry = Seq(groupCol)
    )

  /** PII-shaped redaction BEFORE any hashing (so duplicates of a page
    * differing only in a scrubbed email still collapse) — stage 1 of
    * both composed pipelines.
    */
  private def scrubDocs(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      groupCol: String
  ): DataFrame =
    docs.select(col(idCol), col(groupCol), TextFunctions.scrub(col(textCol)).as(textCol))

  /** Scrub then quality-gate: [[scrubDocs]] followed by the fused
    * one-kernel quality filter — both scan-only. Shared stage 1-2 of
    * both composed pipelines (the hygienic chain inserts the structural
    * Gopher gate between them).
    */
  private def scrubAndGate(
      docs: DataFrame,
      minQuality: Double,
      textCol: String,
      idCol: String,
      groupCol: String
  ): DataFrame =
    scrubDocs(docs, textCol, idCol, groupCol)
      .filter(TextFunctions.qualityScoreFused(col(textCol)) >= minQuality)

  /** Exact + near dedup of a gated frame, checkpoint-scoped: keep the
    * min-id document per identical text (q20 semantics) as ONE
    * hash-aggregate carrying the keeper's columns via min_by — the
    * groupBy + semi-join shape evaluated the upstream scan on BOTH sides
    * (the dominant cost at 500k docs) and added a second shuffle — then
    * one best-quality representative per MinHash-LSH cluster (q42
    * semantics). Both frames localCheckpoint: the clustering loop runs
    * its own actions per round, and downstream stages read the survivors
    * more than once; without materialization each action re-runs the
    * whole upstream chain. Shared dedup core of both composed pipelines —
    * the checkpoint scoping and keeper-column subtleties live HERE, once.
    */
  private def dedupSurvivors(
      gated: DataFrame,
      nearDupThreshold: Double,
      textCol: String,
      idCol: String,
      carryCols: Seq[String]
  ): DataFrame =
    dedupStages(gated, nearDupThreshold, textCol, idCol, carryCols)._2

  /** [[dedupSurvivors]] with the intermediate exact-dedup frame exposed —
    * the attrition report needs the per-stage boundary, and computing it
    * HERE keeps one source of truth for the keeper-struct and checkpoint
    * subtleties. Returns `(exactKept, nearKept)`, both checkpointed.
    */
  private def dedupStages(
      gated: DataFrame,
      nearDupThreshold: Double,
      textCol: String,
      idCol: String,
      carryCols: Seq[String]
  ): (DataFrame, DataFrame) = {
    val keeperFields = (idCol +: carryCols).map(col)
    val exactKept = gated
      .groupBy(col(textCol))
      .agg(min_by(struct(keeperFields: _*), col(idCol)).as("__keeper"))
      .select((idCol +: carryCols).map(c => col(s"__keeper.$c")) :+ col(textCol): _*)
      .localCheckpoint(true)
    val reps = Dedup
      .dedupNearBest(exactKept, nearDupThreshold, textCol, idCol)
      .select(col("doc_id").as(idCol))
    (exactKept, exactKept.join(reps, Seq(idCol), "left_semi").localCheckpoint(true))
  }

  /** Run the full pipeline; returns one row per training sequence:
    * `(doc_id, <groupCol>, seq_id, n_chunks, n_tokens)`.
    */
  def trainingData(
      docs: DataFrame,
      cfg: Config = Config(),
      textCol: String = "text",
      idCol: String = "doc_id",
      groupCol: String = "lang"
  ): DataFrame =
    packSelection(selectCorpus(docs, cfg, textCol, idCol, groupCol), cfg, textCol, idCol, groupCol)

  /** The SELECTION half of the pipeline — stages 1-5 (scrub → quality →
    * exact dedup → near dedup → balanced sample), returning the surviving
    * documents `(id, <groupCol>, <textCol>)` with scrubbed text.
    * [[trainingData]] packs this; [[writeCorpus]] persists it.
    */
  def selectCorpus(
      docs: DataFrame,
      cfg: Config = Config(),
      textCol: String = "text",
      idCol: String = "doc_id",
      groupCol: String = "lang"
  ): DataFrame = {
    // stages 1-4: shared scrub → quality → exact+near dedup core
    val qualified = scrubAndGate(docs, cfg.minQuality, textCol, idCol, groupCol)
    val survivors = dedupSurvivors(qualified, cfg.nearDupThreshold, textCol, idCol, Seq(groupCol))
    // 5. balanced sample: n smallest content hashes per group — the
    //    training-mix step (q63 semantics, bounded-heap, no group sort).
    val picks = Sampling
      .balanced(survivors, groupCol, cfg.perGroupN, textCol, idCol)
      .select(col(idCol))
    survivors.join(picks, Seq(idCol), "left_semi")
  }

  /** The HYGIENE-composed pipeline — [[selectCorpus]]'s chain extended
    * with the round-5 corpus-hygiene stages, in the order a production
    * corpus build runs them:
    *
    *   scrub → structural Gopher gate → quality gate → repetition filter
    *         → benchmark decontamination → exact dedup → near dedup
    *         (best-quality rep) → temperature mixture
    *
    * and [[hygienicTrainingData]] packs the result. Every stage is
    * individually gated (q22/q88/q67/q66/q20/q42/q78); this gates their
    * COMPOSITION — the id-handoff contracts and checkpoint scopes across
    * EIGHT stages, more than twice the q65 chain. The structural gate
    * runs before model scoring (the MassiveText order: r07). Replaces q65's fixed
    * balanced-sample stage with the corpus-derived temperature mix, so
    * the final mixing pressure adapts as upstream filters reshape the
    * group balance — which is exactly the interaction a per-stage gate
    * cannot see.
    *
    * Scale shape matches [[selectCorpus]]: one scan-shaped gate pass
    * (checkpointed, see [[hygienicStages]]), one min_by hash-aggregate,
    * the banded-LSH near-dedup, two localCheckpoints at the cluster
    * boundaries, and the broadcast
    * temperature rate table. The benchmark side is scrubbed with the
    * same chain before indexing (scrub-before-hash discipline — a
    * benchmark item differing from a corpus page only in an email must
    * still decontaminate it).
    */
  def selectHygienic(
      docs: DataFrame,
      benchmark: DataFrame,
      cfg: Config = Config(),
      maxDupFrac: Double = 0.3,
      maxTopFrac: Double = 0.2,
      decontamK: Int = 4,
      temperature: Int = 2,
      textCol: String = "text",
      idCol: String = "doc_id",
      groupCol: String = "lang"
  ): DataFrame =
    hygienicStages(
      docs,
      benchmark,
      cfg,
      maxDupFrac,
      maxTopFrac,
      decontamK,
      temperature,
      textCol,
      idCol,
      groupCol
    )._2.last

  /** The hygienic chain in ONE shape, shared by [[selectHygienic]] and
    * the audit ([[rejectReasons]]/[[attrition]]) so the stage order, the
    * scrub-before-hash discipline and the checkpoint scopes cannot drift
    * between the pipeline and its own audit. Returns `(gated, later)`:
    *
    *  - `gated`: every scrubbed document plus [[RejectCol]], the first
    *    failing row-local gate in the MassiveText order (1 = structural
    *    Gopher, 2 = quality score, 3 = repetition, 0 = passed all; a NULL
    *    predicate fails, as `filter` drops it). One kernel pass, and the
    *    CASE short-circuits, so each kernel runs only on the rows the
    *    earlier gates admitted.
    *  - `later`: the survivors of decontamination, exact dedup, near dedup
    *    and mix, in order — the last four [[RejectStageNames]].
    *
    * `gated` is localCheckpointed once because it is read more than once:
    * [[Decontaminate.clean]]'s id-keyed anti join scans its corpus on both
    * sides, and the audit reads it again for the reject depths.
    * Unmaterialized, every text kernel would run once per read. The
    * benchmark side is scrubbed with the same chain before indexing
    * (scrub-before-hash).
    */
  private def hygienicStages(
      docs: DataFrame,
      benchmark: DataFrame,
      cfg: Config,
      maxDupFrac: Double,
      maxTopFrac: Double,
      decontamK: Int,
      temperature: Int,
      textCol: String,
      idCol: String,
      groupCol: String
  ): (DataFrame, Seq[DataFrame]) = {
    val text = col(textCol)
    def fails(p: Column): Column = !coalesce(p, lit(false))
    val reject =
      when(fails(Heuristics.gopherKeepExpr(text)), 1)
        .when(fails(TextFunctions.qualityScoreFused(text) >= cfg.minQuality), 2)
        .when(fails(GraftExpressions.gram_rep_ok(text, 2, maxDupFrac, maxTopFrac)), 3)
        .otherwise(0)
    val gated = scrubDocs(docs, textCol, idCol, groupCol)
      .withColumn(RejectCol, reject)
      .localCheckpoint(true)
    val benchScrubbed = benchmark.select(TextFunctions.scrub(text).as(textCol))
    val decontaminated = Decontaminate.clean(
      gated.filter(col(RejectCol) === 0).drop(RejectCol),
      benchScrubbed,
      decontamK,
      textCol,
      idCol
    )
    val (exactKept, nearKept) =
      dedupStages(decontaminated, cfg.nearDupThreshold, textCol, idCol, Seq(groupCol))
    val mixed = Sampling.temperatureFlatten(nearKept, groupCol, textCol, temperature)
    (gated, Seq(decontaminated, exactKept, nearKept, mixed))
  }

  /** [[hygienicStages]]' per-document first failing row-local gate. */
  private val RejectCol = "__graft_reject"

  /** The hygienic chain's DROPPING stages in order — one source of truth
    * for [[rejectReasons]]'s attribution values and [[attrition]]'s fixed
    * 7-row funnel shape. The first three are [[hygienicStages]]' reject
    * codes 1-3, the last four its later frames.
    */
  private val RejectStageNames = Seq(
    "gopher", "quality", "repetition", "decontamination",
    "exact_dedup", "near_dedup", "mix"
  )

  /** ATTRITION FUNNEL over [[selectHygienic]]'s chain — the
    * explainability report every production corpus build publishes
    * (RefinedWeb/Dolma report exactly this table): one row per stage,
    * `(stage_idx, stage, n_in, n_dropped, n_out)`, where `n_in` is the
    * documents entering the stage and `n_dropped` what it removed. The
    * row set and order are FIXED (seven stages, idx 1..7) regardless of
    * which stages happen to drop nothing, so the report schema is stable
    * across corpora.
    *
    * Cost shape (VERDICT r13 №3): ONE action. The funnel is derived from
    * [[rejectReasons]] — each document's first-dropping stage — via a
    * single `groupBy(reason)` over at most 8 reason values; the funnel
    * arithmetic (`n_in(i+1) = n_in(i) − dropped(i)`) runs on the
    * collected ≤8-row map. The previous shape issued one `.count()` per
    * stage boundary — 8 sequential jobs, each re-running the scan-shaped
    * stage prefix below the dedup checkpoints (the board's most
    * expensive query at 11.5 s dev). Equivalence is exact because each
    * stage frame is a subset of its predecessor and ids are unique, so
    * `|frame_k| = total − Σ_{i≤k} dropped(i)` — and the spec pins
    * reason counts == funnel drops directly.
    */
  def attrition(
      docs: DataFrame,
      benchmark: DataFrame,
      cfg: Config = Config(),
      maxDupFrac: Double = 0.3,
      maxTopFrac: Double = 0.2,
      decontamK: Int = 4,
      temperature: Int = 2,
      textCol: String = "text",
      idCol: String = "doc_id",
      groupCol: String = "lang"
  ): DataFrame = {
    val byReason = rejectReasons(
      docs,
      benchmark,
      cfg,
      maxDupFrac,
      maxTopFrac,
      decontamK,
      temperature,
      textCol,
      idCol,
      groupCol
    )
      .groupBy(col("reason"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    val spark = docs.sparkSession
    import spark.implicits._
    var nIn = byReason.values.sum
    RejectStageNames.zipWithIndex
      .map { case (stage, i) =>
        val dropped = byReason.getOrElse(stage, 0L)
        val row = ((i + 1).toLong, stage, nIn, dropped, nIn - dropped)
        nIn -= dropped
        row
      }
      .toDF("stage_idx", "stage", "n_in", "n_dropped", "n_out")
  }

  /** Per-document REJECT REASON — the row-level companion of
    * [[attrition]]: `(idCol, reason)` for EVERY input document, `reason`
    * the first stage that dropped it (the funnel's attribution), or
    * `kept` if it reached the mix.
    *
    * Shape: every document's depth (the number of stages it survived) is
    * 0-3 from [[hygienicStages]]' reject column, and the four later stage
    * frames tag their ids with depths 4-7; the tags are UNIONED and ONE
    * `groupBy(id).max(depth)` finds how far every document got — the
    * first-dropping stage is `depth + 1` because the stage frames are
    * nested subsets. One id-key shuffle with map-side combine, and a
    * duplicated id counts as far as its furthest row, so an id the
    * decontamination anti join removes leaves with all its rows.
    */
  def rejectReasons(
      docs: DataFrame,
      benchmark: DataFrame,
      cfg: Config = Config(),
      maxDupFrac: Double = 0.3,
      maxTopFrac: Double = 0.2,
      decontamK: Int = 4,
      temperature: Int = 2,
      textCol: String = "text",
      idCol: String = "doc_id",
      groupCol: String = "lang"
  ): DataFrame = {
    val (gated, later) = hygienicStages(
      docs,
      benchmark,
      cfg,
      maxDupFrac,
      maxTopFrac,
      decontamK,
      temperature,
      textCol,
      idCol,
      groupCol
    )
    val rowLocalDepth = when(col(RejectCol) === 0, 3).otherwise(col(RejectCol) - 1)
    val tagged = later.zipWithIndex
      .map { case (frame, k) => frame.select(col(idCol), lit(k + 4).as("__graft_depth")) }
      .foldLeft(gated.select(col(idCol), rowLocalDepth.as("__graft_depth")))(_ unionByName _)
    val reason = RejectStageNames.zipWithIndex
      .foldRight(lit("kept")) { case ((name, k), rest) =>
        when(col("__graft_reached") === k, lit(name)).otherwise(rest)
      }
    tagged
      .groupBy(col(idCol))
      .agg(max(col("__graft_depth")).as("__graft_reached"))
      .select(col(idCol), reason.as("reason"))
  }

  /** [[selectHygienic]] packed into training sequences — the q82 gate. */
  def hygienicTrainingData(
      docs: DataFrame,
      benchmark: DataFrame,
      cfg: Config = Config(),
      textCol: String = "text",
      idCol: String = "doc_id",
      groupCol: String = "lang"
  ): DataFrame =
    packSelection(
      selectHygienic(docs, benchmark, cfg, textCol = textCol, idCol = idCol, groupCol = groupCol),
      cfg,
      textCol,
      idCol,
      groupCol
    )

  /** The MIXING-composed pipeline — the Dolma/Pile-shaped tail that turns
    * a cleaned corpus into a training-ready mixture:
    *
    *   scrub → structural Gopher gate → quality gate → exact dedup
    *         → near dedup (best-quality rep) → DSIR importance filter
    *         → temperature mix (by `langCol`) → per-source token budget
    *         → deterministic shard plan
    *
    * Every stage is individually gated (q22/q88/q20/q42/q92/q78/q93/q89);
    * this gates their COMPOSITION — in particular the two-group column
    * contract (the mix flattens `langCol` while the budget caps
    * `sourceCol`, so BOTH must survive the dedup keeper struct and the
    * importance semi-join) and the handoff from admission (`cum_tok`)
    * into the shard plan, which is the surface a per-stage gate cannot
    * see (the q82 lesson).
    *
    * The DSIR threshold is RELATIVE: keep documents whose mean bucket
    * weight reaches `importancePermille`/1000 of the survivor-corpus
    * MEAN importance. [[Importance.train]]'s integer ratio carries a
    * corpus-level constant (`(|raw|+B)/(|target|+B)`) that any fixed
    * cutoff would have to track by hand as the corpus drifts; comparing
    * against the in-corpus mean cancels it, and the comparison stays
    * all-BIGINT (mean = `sum div count`), so no float boundary can flip
    * a document across engines. The mean is one scalar off the
    * checkpointed survivor frame (same lifecycle as the codebook
    * trainers); the weight table is checkpointed too — 4096 rows, two
    * uses (threshold pass + filter pass), one materialization.
    *
    * Scale shape: scan-shaped gates, the one min_by hash-aggregate, the
    * banded-LSH near-dedup (internally checkpointed), two bounded
    * broadcast models (DSIR weights, temperature rate table), the
    * two-phase bucketed budget prefix sum, and the shard plan's single
    * hash-partitioned exchange — no stage shuffles the corpus on
    * anything but its own keys, and every model frame is bounded by
    * construction.
    *
    * Returns one row per admitted document:
    * `(idCol, langCol, sourceCol, n_tok, cum_tok, shard, position)`.
    */
  def mixCorpus(
      docs: DataFrame,
      target: DataFrame,
      budgetTokens: Long,
      nShards: Int,
      cfg: Config = Config(),
      importancePermille: Long = 1000L,
      temperature: Int = 2,
      seed: Long = 0L,
      textCol: String = "text",
      idCol: String = "doc_id",
      langCol: String = "lang",
      sourceCol: String = "source"
  ): DataFrame = {
    require(importancePermille >= 0, s"need importancePermille >= 0, got $importancePermille")
    val carry = Seq(langCol, sourceCol)
    // stages 1-3: scrub, structural gate, quality gate (MassiveText order)
    val scrubbed = docs.select(
      col(idCol) +: carry.map(col) :+ TextFunctions.scrub(col(textCol)).as(textCol): _*
    )
    val structural = Heuristics.filterGopher(scrubbed, textCol = textCol)
    val qualified =
      structural.filter(TextFunctions.qualityScoreFused(col(textCol)) >= cfg.minQuality)
    // stages 4-5: exact + near dedup, both mix keys riding the keeper struct
    val survivors = dedupSurvivors(qualified, cfg.nearDupThreshold, textCol, idCol, carry)
    // stage 6: DSIR importance against the scrubbed target (scrub-before-
    // hash: a target page differing from a corpus page only in an email
    // must still pull it toward the target). Raw side = the survivors
    // being scored, per the DSIR setup.
    val targetScrubbed = target.select(col(idCol), TextFunctions.scrub(col(textCol)).as(textCol))
    val weights = Importance
      .train(targetScrubbed, survivors, textCol = textCol, idCol = idCol)
      .localCheckpoint(true)
    // ONE checkpointed score frame (3 longs per doc) feeds both the mean
    // pass and the filter pass — [[Importance.filterImportant]] would
    // re-score the survivors for the second pass; its score-threshold ==
    // semi-join law is spec-pinned, so the inlined form is the same
    // operator computed once
    val scoredSurv = Importance
      .score(survivors, weights, textCol = textCol, idCol = idCol)
      .localCheckpoint(true)
    // the mean-relative threshold rides IN-PLAN as a broadcast scalar
    // (the q186 guard shape) instead of a driver head() action — one
    // fewer job per evaluation, same exact integers: imp_avg ≥ 0 (DSIR
    // weights are positive count ratios), so SQL's truncating div ==
    // the former Scala long division, and the empty-corpus NULL mean
    // coalesces to the former 0
    val meanFrame = scoredSurv.agg(
      expr(
        "coalesce(cast((sum(cast(imp_avg as decimal(38,0))) div count(1)) as bigint), 0L)" +
          s" * ${importancePermille}L div 1000L"
      ).as("__min_avg")
    )
    val important = survivors.join(
      scoredSurv
        .crossJoin(broadcast(meanFrame))
        .filter(col("imp_avg") >= col("__min_avg"))
        .select(col(idCol)),
      Seq(idCol),
      "left_semi"
    )
    // stage 7: temperature mix over languages (corpus-derived rates)
    val mixed = Sampling.temperatureFlatten(important, langCol, textCol, temperature)
    // stage 8: per-source token budget (two-phase bucketed prefix sum)
    val admitted =
      Sampling.capTokenBudget(mixed, budgetTokens, sourceCol, textCol, idCol)
    // stage 9: deterministic shard plan over the admitted set
    val plan = Sampling.shufflePlan(admitted, nShards, seed, idCol)
    // lang re-attaches from the CHECKPOINTED survivor frame (admitted ⊆
    // mixed ⊆ survivors) — joining `mixed` back would re-run the
    // importance + mix chain a second time
    admitted
      .join(plan, Seq(idCol))
      .join(survivors.select(col(idCol), col(langCol)), Seq(idCol))
      .select(
        col(idCol),
        col(langCol),
        col(sourceCol),
        col("n_tok"),
        col("cum_tok"),
        col("shard"),
        col("position")
      )
  }

  /** Materialize [[mixCorpus]]'s plan as the training artifact it
    * describes: one parquet file per shard, rows in `position` order —
    * the physical layout `shufflePlan`'s scaladoc promises (its single
    * exchange + per-shard sort IS this write). Each admitted document
    * carries the SCRUBBED text (what the pipeline selected on) next to
    * its plan columns.
    *
    * Layout mechanics: `repartition(nShards, shard)` then
    * `sortWithinPartitions(shard, position)` satisfies the writer's
    * required ordering (the partition column), so no second sort is
    * inserted and the within-file row order is exactly `position`;
    * `partitionBy(shard)` gives one directory per shard containing ONE
    * file (every row of a shard lives in one task). Returns the
    * READ-BACK frame — same columns as [[mixCorpus]] plus `textCol`,
    * `shard` cast back to long (partition-column inference reads it as
    * int) — so the caller verifies the artifact, not the intent, the
    * O9–O11 discipline applied to the mixing tail.
    */
  def writeMixed(
      docs: DataFrame,
      target: DataFrame,
      budgetTokens: Long,
      nShards: Int,
      outputDir: String,
      cfg: Config = Config(),
      importancePermille: Long = 1000L,
      temperature: Int = 2,
      seed: Long = 0L,
      textCol: String = "text",
      idCol: String = "doc_id",
      langCol: String = "lang",
      sourceCol: String = "source"
  ): DataFrame = {
    val plan = mixCorpus(
      docs,
      target,
      budgetTokens,
      nShards,
      cfg,
      importancePermille,
      temperature,
      seed,
      textCol,
      idCol,
      langCol,
      sourceCol
    )
    // attach RAW text first, scrub after the join: scrub is row-local
    // and deterministic, so scrubbing only the admitted rows (a tiny
    // broadcast-joined set) instead of the whole corpus is the same
    // frame for one corpus-wide scrub pass less (guide §2.3 project —
    // here compute — after the pruning join)
    plan
      .join(docs.select(col(idCol), col(textCol)), Seq(idCol))
      .withColumn(textCol, TextFunctions.scrub(col(textCol)))
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("position"))
      .write
      .mode("overwrite")
      .partitionBy("shard")
      .parquet(outputDir)
    docs.sparkSession.read
      .parquet(outputDir)
      .select(
        col(idCol),
        col(langCol),
        col(sourceCol),
        col("n_tok"),
        col("cum_tok"),
        col("shard").cast("long").as("shard"),
        col("position"),
        col(textCol)
      )
  }

  /** Build AND persist the training corpus: run the selection, write it
    * through the sharded parquet sink with the reference's layout
    * envelope (524k-row shards, 1 MiB pages — `ShardedParquetSink`), and
    * verify by footer-only read-back, exactly as the dump path does
    * (O9–O11). This is the full circle: the reference's entire program —
    * extract, shard, verify (`dump_table.py:175-248`) — applied to the
    * corpus the training pipeline selected.
    */
  def writeCorpus(
      docs: DataFrame,
      outputDir: String,
      cfg: Config = Config(),
      layout: graft.sources.ParquetLayout = graft.sources.ParquetLayout(),
      textCol: String = "text",
      idCol: String = "doc_id",
      groupCol: String = "lang"
  ): graft.sources.DumpReport = {
    val selected = selectCorpus(docs, cfg, textCol, idCol, groupCol)
    graft.sources.ShardedParquetSink.write(selected, outputDir, layout)
    graft.sources.ShardedParquetSink.readBackReport(docs.sparkSession, outputDir)
  }
}
