package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** N-gram language-model RARITY scoring — the CCNet-style quality filter
  * (Wenzek et al., LREC 2020: score web text with a LM trained on a
  * trusted corpus; keep the low-perplexity head): train bigram counts on
  * a reference slice, then score every candidate document by how
  * surprising its bigrams are under the model. Documents full of unseen
  * or rare transitions (gibberish, boilerplate markup, wrong-language
  * text) score high and get filtered; fluent text in the reference's
  * distribution scores low.
  *
  * The per-gram statistic is the INTEGER-scaled inverse conditional
  * probability under add-one smoothing:
  *
  *   rarity(w_{i-1} w_i) = ((c(w_{i-1}) + V) * 1e6) div (c(w_{i-1} w_i) + 1)
  *
  * i.e. `1e6 / p_smoothed`, the same quantity perplexity exponentiates,
  * kept in 64-bit integer arithmetic end-to-end (the q34 tf·1e6/df
  * discipline) so the score is a pure deterministic function of the two
  * corpora — reproducible across runs, partitionings, AND engines, which
  * is what lets a DuckDB oracle pin it exactly. A floating `log` would
  * differ in the last ulp between libm implementations; an unordered
  * double sum would differ run to run.
  *
  * Scale shape: training is two partial-aggregated hash aggregates over
  * the exploded gram stream (map-side combine absorbs hot grams — "of
  * the" collapses to one partial per partition before the shuffle).
  * Scoring joins the corpus gram stream to the model on the gram hash;
  * both lookups are broadcast hash joins (a bigram model over a trusted
  * reference is millions of rows, not billions), so the corpus side
  * never shuffles until the per-document aggregate, whose doc-id key is
  * as well-distributed as the corpus itself.
  *
  * Overflow headroom: the PER-GRAM product `(c_prefix + V) * 1e6` must
  * stay under 2^63 — fine to ~9e12 reference tokens (a ~36 TB text
  * reference); past that, drop `Scale` a decade (the constant is a
  * parameter for exactly this reason). The PER-DOCUMENT rarity sum is
  * that bound times the document's gram count, so it is aggregated in
  * decimal(38,0) — matching DuckDB's HUGEINT promotion — before the
  * integral divide brings the mean back into BIGINT range.
  *
  * Gram identity is `poly_hash` (collisions merge two grams at ~2^-30 —
  * negligible for a quality heuristic and mirrored exactly by the
  * oracle). The reference engine has no text analysis (SURVEY.md §2.1);
  * this extends the quality family (q22 length/stopword score, q67
  * repetition) with the distributional signal neither can see.
  */
object NgramLM {

  /** Integer probability scale: rarity = Scale / p_smoothed. */
  val Scale = 1000000L

  /** Trained bigram model: `grams` (g, c) — count per distinct bigram
    * hash; `prefixes` (p, cp) — count per distinct context (unigram)
    * hash; `vocab` — one row (v), the distinct-unigram vocabulary size
    * that add-one smoothing divides by. All three are lazy frames over
    * the reference; persist `grams`/`prefixes` if scoring many corpora
    * against one model.
    */
  final case class Model(grams: DataFrame, prefixes: DataFrame, vocab: DataFrame)

  /** Persist all three model frames (MEMORY_AND_DISK) — for scoring many
    * corpora/batches against one model. The CALLER owns the lifecycle:
    * pair with [[releaseModel]] when done, or the cached tables outlive
    * every scorer that used them.
    */
  def persistModel(m: Model): Model = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    Model(m.grams.persist(lvl), m.prefixes.persist(lvl), m.vocab.persist(lvl))
  }

  /** Drop [[persistModel]]'s cache entries. */
  def releaseModel(m: Model): Unit = {
    m.grams.unpersist()
    m.prefixes.unpersist()
    m.vocab.unpersist()
    ()
  }

  /** One row per bigram OCCURRENCE of `docs`: `(idCol, p, g)` — the
    * context (unigram-at-i) and bigram (window i..i+1) hashes, position
    * order. Pairing is by position: the unigram stream sliced to the
    * bigram stream's length zips index-for-index on both engines
    * (`zip_with` here, aligned `unnest`s in the oracle). A one-token
    * document clamps both windows to the whole text (the
    * `positionalShingles` clamp), pairing the text's hash with itself —
    * the degenerate but consistent base case.
    */
  def gramPairs(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val p1 = TextFunctions.positionalShingleHashes(col(textCol), 1)
    val p2 = TextFunctions.positionalShingleHashes(col(textCol), 2)
    docs
      .select(
        col(idCol),
        explode(
          zip_with(slice(p1, lit(1), size(p2)), p2, (p, g) => struct(p.as("p"), g.as("g")))
        ).as("pg")
      )
      .select(col(idCol), col("pg.p").as("p"), col("pg.g").as("g"))
  }

  /** Train the bigram model on `ref`. */
  def train(ref: DataFrame, textCol: String = "text", idCol: String = "doc_id"): Model = {
    val pairs = gramPairs(ref, textCol, idCol)
    Model(
      grams = pairs.groupBy(col("g")).agg(count(lit(1)).as("c")),
      prefixes = pairs.groupBy(col("p")).agg(count(lit(1)).as("cp")),
      vocab = ref
        .select(explode(TextFunctions.positionalShingleHashes(col(textCol), 1)).as("u"))
        .agg(countDistinct(col("u")).as("v"))
    )
  }

  /** The STATELESS half of scoring: one row per bigram occurrence of
    * `docs`, `(idCol, rarity, unseen)` — the model lookups and the
    * integer rarity arithmetic, no aggregation. This is the frame a
    * STREAMING scorer can build (explode + broadcast joins plan with no
    * streaming state, so it applies to a stream frame as it is); the
    * per-document aggregate then runs in batch land (`foreachBatch`),
    * where it is exact.
    */
  def scoredGrams(
      docs: DataFrame,
      model: Model,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    gramPairs(docs, textCol, idCol)
      .join(broadcast(model.grams), Seq("g"), "left")
      .join(broadcast(model.prefixes), Seq("p"), "left")
      .crossJoin(broadcast(model.vocab))
      .select(
        col(idCol),
        expr(s"((coalesce(cp, 0L) + v) * ${Scale}L) div (coalesce(c, 0L) + 1L)").as("rarity"),
        when(col("c").isNull, 1L).otherwise(0L).as("unseen")
      )
  }

  /** Score `docs` under `model`: one row per document,
    * `(idCol, n_grams, n_unseen, rarity_avg)` — gram count, how many
    * bigrams the model never saw, and the mean integer rarity
    * (`sum div count`; lower = more fluent under the model). All BIGINT.
    */
  def score(
      docs: DataFrame,
      model: Model,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame =
    scoredGrams(docs, model, textCol, idCol)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(col("unseen")).as("n_unseen"),
        // decimal(38,0), not BIGINT: per-gram rarity is bounded by
        // (c_prefix + V)·Scale < 2^63, but the PER-DOCUMENT sum is that
        // times the document's gram count — near the reference-size limit
        // a long sum wraps silently (non-ANSI) exactly where the score
        // matters, while DuckDB's SUM(BIGINT) promotes to HUGEINT. The
        // 38-digit decimal matches the oracle's 128-bit headroom; the
        // integral divide below lands the mean back in BIGINT range
        // (mean rarity ≤ max per-gram rarity < 2^63 by construction).
        sum(col("rarity").cast("decimal(38,0)")).as("rarity_sum")
      )
      .select(
        col(idCol),
        col("n_grams"),
        col("n_unseen"),
        expr("rarity_sum div n_grams").as("rarity_avg")
      )

  /** CCNet-style PERPLEXITY BUCKETS (Wenzek et al. 2020 §4.4: split the
    * corpus into head/middle/tail thirds by LM score; training recipes
    * then mix the buckets at chosen rates instead of hard-filtering):
    * one row per document, `(idCol, rarity_avg, bucket)` with `bucket ∈
    * {head, middle, tail}` — head = most fluent (lowest rarity).
    *
    * Thresholds are the rarity TERCILES of a deterministic 1-in-
    * `sampleMod` content-hash sample of the scored corpus, in the q86
    * lower-quantile convention (smallest value whose cumulative sample
    * count reaches ⌈n/3⌉ / ⌈2n/3⌉ — integer-exact, engine-portable).
    * Deriving thresholds from a SAMPLE is the scale contract: the
    * cumulative window sorts sample-sized data however large the corpus
    * (`sampleMod` is the knob), the two thresholds broadcast back, and
    * bucket assignment is a scan-side CASE. Sampling by the id hash
    * keeps the threshold derivation reproducible across runs, engines,
    * and partitionings. The sample must be non-empty (corpus ≥
    * `sampleMod` docs in practice); ties at a threshold land in the
    * lower bucket on both engines.
    */
  def rarityBuckets(
      docs: DataFrame,
      model: Model,
      sampleMod: Int = 4,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(sampleMod >= 1, s"need sampleMod >= 1, got $sampleMod")
    val scored = score(docs, model, textCol, idCol)
    val sample = scored.filter(
      graft.functions.GraftExpressions.poly_hash(col(idCol).cast("string")) % sampleMod === 0
    )
    val hist = sample.groupBy(col("rarity_avg")).agg(count(lit(1)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("rarity_avg"))
    val cum = hist
      .withColumn("__cum", sum(col("__c")).over(w))
      .withColumn("__n", sum(col("__c")).over())
    val thresholds = cum.agg(
      min(when(col("__cum") * 3 >= col("__n"), col("rarity_avg"))).as("__t1"),
      min(when(col("__cum") * 3 >= col("__n") * 2, col("rarity_avg"))).as("__t2")
    )
    scored
      .crossJoin(broadcast(thresholds))
      .select(
        col(idCol),
        col("rarity_avg"),
        when(col("rarity_avg") <= col("__t1"), lit("head"))
          .when(col("rarity_avg") <= col("__t2"), lit("middle"))
          .otherwise(lit("tail"))
          .as("bucket")
      )
  }

  /** The filter form: documents of `docs` whose mean rarity stays under
    * `maxRarityAvg` — the CCNet "keep the head" admission step, composed
    * like [[Repetition.filterRepetitive]] (semi join on the passing ids).
    */
  def filterFluent(
      docs: DataFrame,
      model: Model,
      maxRarityAvg: Long,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame =
    docs.join(
      score(docs, model, textCol, idCol)
        .filter(col("rarity_avg") <= maxRarityAvg)
        .select(col(idCol)),
      Seq(idCol),
      "left_semi"
    )
}
