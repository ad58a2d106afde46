package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** LANGUAGE IDENTIFICATION — character-n-gram profile scoring against
  * per-language models (the CLD2/fastText langid shape, in this engine's
  * all-integer replay discipline). A real crawl does not arrive with the
  * `lang` column that [[Report.corpusCard]], [[Sampling.temperatureFlatten]]
  * and the mixture tier consume — this operator DERIVES it: train
  * per-language conditional character-trigram counts on a labeled slice,
  * then assign every candidate document the language under which its
  * character transitions are least surprising.
  *
  * Scoring reuses the [[NgramLM]] integer rarity statistic per language —
  * the add-one-smoothed inverse conditional probability of each char
  * trigram given its char-bigram prefix:
  *
  *   rarity_L(c₁c₂c₃) = ((c_L(c₁c₂) + V_L) · 10⁶) div (c_L(c₁c₂c₃) + 1)
  *
  * summed per (document, language) and assigned by ARGMIN mean rarity
  * (ties to the lexically smaller language tag). Character n-grams, not
  * token n-grams, are the standard langid feature (Cavnar–Trenkle 1994;
  * CLD; fastText's langid recipe): they see morphology and script, need
  * no tokenizer, and the model vocabulary is ALPHABET-bounded — a
  * language's distinct char trigrams saturate at (script size)³ however
  * large the training corpus, which is what makes the per-language model
  * a broadcast-safe artifact at any scale.
  *
  * Scale shape: training is two partial-aggregated hash aggregates over
  * the exploded char-gram stream of the LABELED slice (labeled data is
  * small by nature). Scoring explodes each candidate's gram stream once,
  * crosses it with the languages frame (|L| rows — single digits to low
  * tens), and looks both counts up in broadcast joins — the corpus never
  * shuffles until the per-(doc, lang) aggregate, and the final argmin is
  * a `min(struct(...))` aggregate, never a window. Everything is BIGINT
  * (sum in decimal(38,0), the [[NgramLM.score]] overflow note), so a
  * DuckDB oracle pins every prediction exactly.
  *
  * (Reference scope: the reference has no text analysis at all —
  * SURVEY.md §2.1; this is north-star extension surface, the derivation
  * step in front of every lang-consuming operator.)
  */
object LangId {

  /** Integer probability scale (shared convention with [[NgramLM.Scale]]). */
  val Scale = 1000000L

  /** Positional character-n-gram polyHashes of `textCol` as a SQL
    * expression string: windows start at 1..len−n+1 (the
    * `positionalShingles` clamp at char level — a text shorter than `n`
    * yields one whole-text window). `substring` is codepoint-based in
    * both engines, so the hashes replay exactly.
    */
  private[graft] def charGramsExpr(textCol: String, n: Int): String =
    s"transform(sequence(1, greatest(length($textCol) - ${n - 1}, 1))," +
      s" i -> poly_hash(substring($textCol, i, $n)))"

  /** One row per char-trigram OCCURRENCE of `docs`: `(keyCol, p, g)` —
    * the bigram-prefix and trigram hashes at the same start position
    * (the [[NgramLM.gramPairs]] alignment, characters instead of
    * tokens).
    */
  def gramPairs(docs: DataFrame, textCol: String = "text", keyCol: String = "doc_id"): DataFrame =
    docs
      .select(
        col(keyCol),
        explode(graft.functions.GraftExpressions.char_gram_pairs(col(textCol))).as("pg")
      )
      .select(col(keyCol), col("pg.p").as("p"), col("pg.g").as("g"))

  /** Trained per-language profile: `grams` (lang, g, c) — trigram counts;
    * `prefixes` (lang, p, cp) — bigram-context counts; `vocab` (lang, v)
    * — the distinct single-char count add-one smoothing divides by, and
    * the languages frame itself. Every frame is alphabet-bounded per
    * language (broadcast-safe at any corpus size); persist them when
    * scoring many corpora against one profile (the
    * [[NgramLM.persistModel]] contract).
    */
  final case class Model(grams: DataFrame, prefixes: DataFrame, vocab: DataFrame)

  def persistModel(m: Model): Model = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    Model(m.grams.persist(lvl), m.prefixes.persist(lvl), m.vocab.persist(lvl))
  }

  def releaseModel(m: Model): Unit = {
    m.grams.unpersist()
    m.prefixes.unpersist()
    m.vocab.unpersist()
    ()
  }

  /** Train per-language char-trigram profiles on `labeled`
    * (`langCol` must be non-null for every training row).
    */
  def train(labeled: DataFrame, textCol: String = "text", langCol: String = "lang"): Model = {
    val src = labeled.select(col(langCol).as("lang"), col(textCol).as("__t"))
    val pairs = gramPairs(src, "__t", "lang")
    Model(
      grams = pairs.groupBy(col("lang"), col("g")).agg(count(lit(1)).as("c")),
      prefixes = pairs.groupBy(col("lang"), col("p")).agg(count(lit(1)).as("cp")),
      vocab = src
        .select(col("lang"), explode(graft.functions.GraftExpressions.char_gram_hashes(col("__t"), 1)).as("u"))
        .groupBy(col("lang"))
        .agg(countDistinct(col("u")).as("v"))
    )
  }

  /** The STATELESS half of scoring (the [[NgramLM.scoredGrams]] split,
    * for the streaming twin): one row per (char-trigram occurrence,
    * language) — `(idCol, lang, rarity)` after the broadcast model
    * lookups, no aggregation. On a stream this plans as a pure
    * projection (explode + broadcast joins, zero streaming state); the
    * per-(doc, lang) mean and the argmin belong in `foreachBatch`.
    */
  def scoredPairs(
      docs: DataFrame,
      model: Model,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    gramPairs(docs, textCol, idCol)
      .crossJoin(broadcast(model.vocab))
      .join(broadcast(model.grams), Seq("lang", "g"), "left")
      .join(broadcast(model.prefixes), Seq("lang", "p"), "left")
      .select(
        col(idCol),
        col("lang"),
        expr(s"((coalesce(cp, 0L) + v) * ${Scale}L) div (coalesce(c, 0L) + 1L)").as("rarity")
      )
  }

  /** Score every document under EVERY language: one row per
    * (document, language) — `(idCol, lang, n_grams, rarity_avg)`, lower
    * rarity = more plausible under that language's char model. The
    * audit/debug frame behind [[assign]] (margins between the top two
    * languages are the standard langid confidence signal).
    */
  def scoreByLang(
      docs: DataFrame,
      model: Model,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame =
    scoredPairs(docs, model, textCol, idCol)
      .groupBy(col(idCol), col("lang"))
      .agg(
        count(lit(1)).as("n_grams"),
        // decimal(38,0): per-gram rarity < 2^63 but the per-doc sum can
        // wrap a Long near the model-size limit (the NgramLM.score note)
        sum(col("rarity").cast("decimal(38,0)")).as("__rs")
      )
      .select(col(idCol), col("lang"), col("n_grams"), expr("__rs div n_grams").as("rarity_avg"))

  /** Assign each document its predicted language: `(idCol, lang_pred,
    * rarity_avg)` — argmin mean rarity over the trained languages, ties
    * to the smaller language tag (one `min(struct)` aggregate, no
    * window).
    */
  def assign(
      docs: DataFrame,
      model: Model,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame =
    scoreByLang(docs, model, textCol, idCol)
      .groupBy(col(idCol))
      .agg(min(struct(col("rarity_avg"), col("lang"))).as("m"))
      .select(col(idCol), col("m.lang").as("lang_pred"), col("m.rarity_avg").as("rarity_avg"))

  /** [[Report.corpusCard]] over a DERIVED lang column — the composition
    * the card exists for on an unlabeled crawl: predictions from
    * [[assign]] replace (or supply) the lang column, everything else
    * rides unchanged. One extra id-keyed join in front of the card's
    * single scan.
    */
  def corpusCardDerived(
      docs: DataFrame,
      model: Model,
      textCol: String = "text",
      idCol: String = "doc_id",
      sourceCol: String = "source"
  ): DataFrame = {
    val pred = assign(docs, model, textCol, idCol)
      .select(col(idCol), col("lang_pred"))
    Report.corpusCard(
      docs.drop("lang").join(pred, Seq(idCol)).withColumnRenamed("lang_pred", "lang"),
      textCol,
      idCol,
      "lang",
      sourceCol
    )
  }
}
