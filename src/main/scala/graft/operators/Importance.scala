package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** DSIR-style IMPORTANCE scoring — data selection with importance
  * resampling (Xie et al. 2023, "Data Selection for Language Models via
  * Importance Resampling"): estimate how target-like each raw document
  * is from hashed n-gram features, so a web-scale crawl can be filtered
  * toward a small trusted target domain (the selection step CCNet's
  * perplexity filter approximates with a LM — this is the cheaper
  * bag-of-features form that needs no model training, just two count
  * tables).
  *
  * Features are hashed n-grams (k=1 unigrams by default, k=2 the
  * paper's bigrams): each k-token window's `polyHash` folded into
  * `numBuckets` buckets. The per-bucket weight is the INTEGER-scaled
  * smoothed count ratio
  *
  *   w(b) = ((c_target(b) + 1) * 1e6) div (c_raw(b) + 1)
  *
  * — `Scale * p_target(b) / p_raw(b)` up to the corpus-level constant
  * `(|raw|+B)/(|target|+B)`, which is the SAME for every bucket and so
  * cancels in any rank- or quantile-based selection (use
  * [[NgramLM.rarityBuckets]]-style tercile thresholds, or a fixed
  * cutoff calibrated on a sample). Keeping the ratio un-normalized
  * keeps every intermediate in BIGINT (the [[NgramLM]] overflow
  * discipline: `(c_target+1)·1e6 < 2^63` holds to ~9e12 target tokens);
  * a true log-likelihood-ratio would need floating `log`, whose last
  * ulp differs between libm implementations and would break the
  * bit-exact oracle mirror.
  *
  * A document's score is the MEAN bucket weight of its tokens
  * (`sum div count`, decimal-summed like [[NgramLM.score]]); higher =
  * more target-like. Buckets absent from both corpora score `Scale`
  * (the neutral ratio 1).
  *
  * Scale shape: training is two partial-aggregated hash aggregates over
  * exploded token streams (hot buckets collapse map-side), producing at
  * most `numBuckets` rows — bounded by construction, broadcast always
  * (that is the point of hashing features into a fixed space: the DSIR
  * paper uses 10^4; the model size is independent of corpus size).
  * Scoring is one scan of the raw corpus, a broadcast lookup, and a
  * per-document aggregate keyed on the document id — the corpus never
  * shuffles on a feature key.
  */
object Importance {

  /** Integer ratio scale, shared with [[NgramLM.Scale]]'s convention. */
  val Scale = 1000000L

  /** Default feature-space size (the DSIR paper's order of magnitude). */
  val DefaultBuckets = 4096

  /** One row per n-gram occurrence: `(idCol, b)` — the k-token window's
    * hashed feature bucket (positional shingle hash folded into
    * `numBuckets`). The DSIR paper's selector uses hashed n-grams; k=1
    * is the unigram bag, k=2 the paper's bigram features — same hashing
    * every other text operator uses, so the oracle mirrors it verbatim.
    */
  def featureBuckets(
      docs: DataFrame,
      numBuckets: Int = DefaultBuckets,
      k: Int = 1,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(numBuckets > 0, s"need numBuckets > 0, got $numBuckets")
    require(k > 0, s"need k > 0, got $k")
    docs
      .select(
        col(idCol),
        explode(TextFunctions.positionalShingleHashes(col(textCol), k)).as("__u")
      )
      .select(col(idCol), (col("__u") % numBuckets).as("b"))
  }

  /** Train bucket weights: `(b, w)` for every bucket observed in either
    * corpus, `w = ((c_target+1)·Scale) div (c_raw+1)`. At most
    * `numBuckets` rows — always broadcastable.
    */
  def train(
      target: DataFrame,
      raw: DataFrame,
      numBuckets: Int = DefaultBuckets,
      k: Int = 1,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    val tc = featureBuckets(target, numBuckets, k, textCol, idCol)
      .groupBy(col("b"))
      .agg(count(lit(1)).as("tc"))
    val rc = featureBuckets(raw, numBuckets, k, textCol, idCol)
      .groupBy(col("b"))
      .agg(count(lit(1)).as("rc"))
    tc.join(rc, Seq("b"), "full_outer")
      .select(
        col("b"),
        expr(s"((coalesce(tc, 0L) + 1L) * ${Scale}L) div (coalesce(rc, 0L) + 1L)").as("w")
      )
  }

  /** The STATELESS half of [[score]]: one row per feature occurrence,
    * `(idCol, w)` — the occurrence's bucket weight after the broadcast
    * lookup (unseen buckets score the neutral `Scale`). Split out so a
    * streaming frame can run it as it is, a pure projection: a `groupBy`
    * on a stream would plan a StateStore aggregation, while a document's
    * features arrive WITH the document, so the per-doc aggregate belongs
    * in `foreachBatch` (where [[score]] on the batch frame computes
    * exactly that).
    */
  def scoredFeatures(
      docs: DataFrame,
      weights: DataFrame,
      numBuckets: Int = DefaultBuckets,
      k: Int = 1,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame =
    featureBuckets(docs, numBuckets, k, textCol, idCol)
      .join(broadcast(weights), Seq("b"), "left")
      .select(col(idCol), coalesce(col("w"), lit(Scale)).as("w"))

  /** Score `docs` under `weights`: one row per document,
    * `(idCol, n_toks, imp_avg)` — token count and mean bucket weight
    * (`sum div count`; HIGHER = more target-like). All BIGINT; the sum
    * runs in decimal(38,0) for the same reason [[NgramLM.score]]'s does
    * (a long sum wraps silently at reference scale; DuckDB's promotes).
    */
  def score(
      docs: DataFrame,
      weights: DataFrame,
      numBuckets: Int = DefaultBuckets,
      k: Int = 1,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame =
    scoredFeatures(docs, weights, numBuckets, k, textCol, idCol)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_toks"),
        sum(col("w").cast("decimal(38,0)")).as("__w_sum")
      )
      .select(
        col(idCol),
        col("n_toks"),
        expr("__w_sum div n_toks").as("imp_avg")
      )

  /** The filter form: documents of `docs` whose mean importance reaches
    * `minAvg` — semi-join on the passing ids, composed like
    * [[NgramLM]]'s filter (the document frame keeps all its columns).
    */
  def filterImportant(
      docs: DataFrame,
      weights: DataFrame,
      minAvg: Long,
      numBuckets: Int = DefaultBuckets,
      k: Int = 1,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    val passing = score(docs, weights, numBuckets, k, textCol, idCol)
      .filter(col("imp_avg") >= minAvg)
      .select(col(idCol))
    docs.join(passing, Seq(idCol), "left_semi")
  }

  /** IMPORTANCE RESAMPLING — the paper's selection rule: draw documents
    * with inclusion probability proportional to their importance weight,
    * rather than thresholding (a hard cutoff keeps ONLY the most
    * target-like region; sampling ∝ weight matches the target
    * DISTRIBUTION, which is the point of DSIR). The scheme is SYSTEMATIC
    * resampling (the particle-filter classic): lay the documents on a
    * line in deterministic content-hash order, each occupying an
    * interval of length = its weight `w_i` (= `imp_avg`); place
    * `sampleTarget` equally-spaced boundaries along the total mass `W`;
    * a document is selected iff a boundary lands in its interval —
    * inclusion probability exactly `sampleTarget·w_i/W` (for
    * `w_i ≤ W/sampleTarget`), at most `sampleTarget` selections, and
    * exactly that many when no single weight spans two boundaries.
    *
    * Everything is integer: the boundary test is
    * `(cum·sampleTarget) div W > ((cum−w)·sampleTarget) div W` over
    * decimal(38,0) — a Gumbel-top-k would need libm `log`, whose last
    * ulp is engine-dependent; this is the [[Sampling.weightedBy]]
    * content-hash discipline extended to weighted-without-replacement.
    * The hash order `poly_hash(id ":" seed)` makes the draw reproducible
    * across runs, engines, and partitionings, and `seed` a full redraw.
    *
    * Scale shape: one score pass, a 1-row total broadcast back, and the
    * [[Sampling.bucketedRunningTotal]] two-phase prefix sum — no global
    * sort, no per-group single-task window.
    *
    * Returns the selected documents as
    * `(idCol, n_toks, imp_avg, sel_idx)` — `sel_idx` is the index of the
    * last boundary inside the document's interval (strictly increasing
    * in draw order).
    */
  def resampleImportant(
      docs: DataFrame,
      weights: DataFrame,
      sampleTarget: Int,
      seed: Long = 0L,
      numBuckets: Int = DefaultBuckets,
      k: Int = 1,
      textCol: String = "text",
      idCol: String = "doc_id",
      buckets: Int = 64
  ): DataFrame = {
    require(sampleTarget > 0, s"need sampleTarget > 0, got $sampleTarget")
    // the scored frame feeds BOTH the 1-row total and the cumulative
    // pass; checkpoint it once (3 longs per doc) or each side re-runs
    // the explode + broadcast-lookup + aggregate over the corpus
    val scored = score(docs, weights, numBuckets, k, textCol, idCol).localCheckpoint(true)
    val total = scored.agg(
      sum(col("imp_avg").cast("decimal(38,0)")).as("__w_total")
    )
    // remix32 breaks polyHash's short-string monotonicity and the
    // suffix-seed constant shift — without it the "random" draw order
    // degenerates to id order and the seed never redraws (see
    // [[graft.functions.GraftExpressions.remix32]])
    val base = scored
      .withColumn(
        "__h",
        graft.functions.GraftExpressions.remix32(
          graft.functions.GraftExpressions.poly_hash(concat_ws(":", col(idCol), lit(seed)))
        )
      )
      .withColumn("__w", col("imp_avg").cast("decimal(38,0)"))
    Sampling
      .bucketedRunningTotal(base, "__w", idCol, lit(0), buckets, "__cum", domain = 4294967296L)
      .crossJoin(broadcast(total))
      .filter(
        expr(s"(__cum * $sampleTarget) div __w_total") >
          expr(s"((__cum - __w) * $sampleTarget) div __w_total")
      )
      .select(
        col(idCol),
        col("n_toks"),
        col("imp_avg"),
        expr(s"cast((__cum * $sampleTarget) div __w_total as bigint)").as("sel_idx")
      )
  }
}
