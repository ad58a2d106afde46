package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** BM25 ranked retrieval (Robertson-Sparck Jones probabilistic weighting,
  * Okapi BM25 form) in the engine's all-integer scoring discipline: no
  * `ln()`, no floating point, so ranking is bit-identical across engines
  * and a DuckDB oracle can replay every score exactly (the q34 salience
  * rule applied to retrieval).
  *
  * Fixed-point definitions (`div` = floored integer division; k1 = 1.2,
  * b = 0.75 in milli-units):
  *
  *   avgdl_m    = (total_tokens * 1000) div n_docs                [milli]
  *   idf_u      = ((n_docs - df) * 1e6) div (df + 1)              [micro]
  *     — the rational (N - df)/(df + 1), the monotone core of the BM25
  *       idf without the log damping; ranking-equivalent per query term
  *       and exactly representable
  *   k_m        = 300 + (900 * dl * 1000) div avgdl_m             [milli]
  *     — k1 * ((1-b) + b * dl/avgdl) in milli-units
  *   term_score = (idf_u * tf * 2200) div (tf * 1000 + k_m)
  *     — idf * tf(k1+1)/(tf + K); summed per document (integer sum,
  *       order-free, so partial aggregation commutes exactly)
  *
  * All intermediates stay far below 2^63 for corpora to ~10^12 documents
  * at tf <= 10^4 (idf_u <= 1e6·N/(df+1); worst term idf_u·tf·2200 ~
  * 2.2e9·N/(df+1)).
  *
  * Scale shape: the ONLY corpus-sized work is one scan — `dl` rides the
  * same projection as the exploded tokens, and the `isin(queryTerms)`
  * filter drops every non-query token BEFORE the tf aggregate, so the
  * exchange carries only query-term occurrences (|Q| keys, partially
  * aggregated). The model (per-term df + global stats) is a <= |Q|-row
  * frame broadcast back; the final top-k is a TakeOrdered of k rows, not
  * a global sort. (Reference scope: no scoring of any kind in
  * `dump_table.py` — SURVEY §2.1 north-star text-analysis surface.)
  */
object Retrieval {

  /** The query-scoped BM25 "index" frame: one row per query term —
    * `(tok, df, n, avgdl_m)` — computable in one corpus pass plus a
    * 1-row stats aggregate. This is the static side the streaming
    * scorer broadcasts.
    */
  def bm25Model(docs: DataFrame, textCol: String, queryTerms: Seq[String]): DataFrame = {
    require(queryTerms.nonEmpty, "empty query")
    val toks = TextFunctions.tokens(col(textCol))
    val stats = docs
      .select(size(toks).cast("long").as("dl"))
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("tot"))
      .select(col("n"), expr("tot * 1000 div n").as("avgdl_m"))
    docs
      .select(explode(array_distinct(toks)).as("tok"))
      .filter(col("tok").isin(queryTerms: _*))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
  }

  /** Per-(doc, term) integer BM25 term scores against a (broadcast)
    * [[bm25Model]] frame — `(doc_id, tok, term_score)`. STATELESS except
    * for the per-doc tf aggregate, which groups only on (doc, query-term)
    * keys that arrive together; a streaming consumer therefore runs
    * [[matchedTerms]] on the stream frame and computes tf per
    * document inside `foreachBatch` (micro-batch-exact, since a doc's
    * tokens arrive with the doc) and shares THIS arithmetic.
    */
  def termScores(docs: DataFrame, model: DataFrame, textCol: String): DataFrame =
    matchedTerms(docs, model, textCol)
      .groupBy(col("doc_id"), col("dl"), col("tok"), col("df"), col("n"), col("avgdl_m"))
      .agg(count(lit(1)).as("tf"))
      .select(
        col("doc_id"),
        col("tok"),
        expr(
          "((n - df) * 1000000 div (df + 1)) * (tf * 2200)" +
            " div (tf * 1000 + (300 + (900 * dl * 1000) div avgdl_m))"
        ).as("term_score")
      )

  /** The STATELESS front half of [[termScores]]: explode tokens, keep
    * query-term hits, attach the broadcast model row — one projection,
    * no aggregate, which is what a streaming plan can run without a
    * StateStore (applied to the stream frame as it is).
    */
  def matchedTerms(docs: DataFrame, model: DataFrame, textCol: String): DataFrame = {
    val toks = TextFunctions.tokens(col(textCol))
    docs
      .select(col("doc_id"), size(toks).cast("long").as("dl"), explode(toks).as("tok"))
      .join(broadcast(model), Seq("tok"))
  }

  /** Score `docs` against a (broadcast) [[bm25Model]] frame: one scan —
    * `(doc_id, score)` for every document containing at least one query
    * term, `score` the exact integer BM25 sum above.
    */
  def bm25ScoreAgainst(docs: DataFrame, model: DataFrame, textCol: String): DataFrame =
    termScores(docs, model, textCol)
      .groupBy(col("doc_id"))
      .agg(sum(col("term_score")).as("score"))

  /** End-to-end ranked retrieval: `(rnk, doc_id, score)` — global top-k
    * by (score desc, doc_id), ranks assigned AFTER the TakeOrdered so no
    * task ever sorts more than k rows.
    */
  def bm25TopK(docs: DataFrame, textCol: String, queryTerms: Seq[String], k: Int): DataFrame =
    rankTop(bm25ScoreAgainst(docs, bm25Model(docs, textCol, queryTerms), textCol), k)

  /** The shared ranked-retrieval tail: global top-k of a `(doc_id,
    * score)` frame by (score desc, doc_id) — a TakeOrdered of k rows,
    * ranks assigned AFTER the limit so no task ever sorts more than k.
    */
  private def rankTop(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    scored
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
      .withColumn(
        "rnk",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long")
      )
      .select(col("rnk"), col("doc_id"), col("score"))
  }

  /** Per-document token counts `(doc_id, dl)` — the NORMS table a BM25
    * deployment persists NEXT TO the inverted index (Lucene's `.nvd`):
    * one projection over the corpus at index-build time, doc-count-sized
    * at rest. [[bm25TopKIndexed]] needs it because document length is
    * the one scoring input the postings don't carry.
    */
  def docLengths(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      size(TextFunctions.tokens(col(textCol))).cast("long").as("dl")
    )

  /** BM25 ranked retrieval SERVED FROM the index artifacts — the
    * operator [[invertedIndex]] + [[docLengths]] exist for: a query's
    * cost is its |Q| posting rows joined against the norms table, the
    * corpus text is never read or re-tokenized (where [[bm25TopK]]
    * scans it twice: model pass + score pass). Same integer fixed-point
    * arithmetic, same `(rnk, doc_id, score)` contract, bit-identical
    * result (spec-pinned law; the gate replays q103's oracle): the
    * index's `df` IS the model's distinct-doc count and the posting
    * `tf` IS the per-(doc, term) aggregate. The global `(n, avgdl_m)`
    * stats reduce the norms table, not the corpus. Serve from an
    * UNCAPPED index: a `maxDf`-capped one silently treats capped terms
    * as absent (retrieval-correct for stopwords, but not bit-equal to
    * the direct path).
    *
    * Scale shape: the posting frame is |Q| rows pre-explosion and
    * posting-bounded after; it BROADCASTS onto the norms join, so the
    * only corpus-sized frame in the plan (the norms) is scanned once
    * with no shuffle, partially aggregated per doc, and top-k'd through
    * the same TakeOrdered tail.
    */
  def bm25TopKIndexed(
      index: DataFrame,
      docLens: DataFrame,
      queryTerms: Seq[String],
      k: Int
  ): DataFrame = {
    val distinctTerms = queryTerms.distinct
    require(distinctTerms.nonEmpty, "empty query")
    val stats = docLens
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("tot"))
      .select(col("n"), expr("tot * 1000 div n").as("avgdl_m"))
    val postings = index
      .filter(col("tok").isin(distinctTerms: _*))
      .select(col("df"), explode(arrays_zip(col("doc_ids"), col("tfs"))).as("h"))
      .select(col("df"), col("h.doc_ids").as("doc_id"), col("h.tfs").as("tf"))
      .crossJoin(broadcast(stats))
    val scored = docLens
      .join(broadcast(postings), Seq("doc_id"))
      .select(
        col("doc_id"),
        expr(
          "((n - df) * 1000000 div (df + 1)) * (tf * 2200)" +
            " div (tf * 1000 + (300 + (900 * dl * 1000) div avgdl_m))"
        ).as("term_score")
      )
      .groupBy(col("doc_id"))
      .agg(sum(col("term_score")).as("score"))
    rankTop(scored, k)
  }

  /** TF-IDF (ltn) ranked retrieval served from the index artifact — the
    * second classic weighting family next to BM25, and the one that
    * needs NOTHING but the index: `score = Σ_t tf·idf_u` with the
    * engine's integer idf core `idf_u = (n − df)·10⁶ div (df + 1)`
    * (ranking-equivalent to the log form per term, exactly
    * representable — the [[bm25Model]] discipline). No document-length
    * normalization, so the norms table contributes only the 1-row
    * document count: where BM25 dampens long documents, ltn TF-IDF is
    * the raw-salience ranking an exploratory query wants. Cost is |Q|
    * posting rows; all intermediates < 2⁶³ for corpora to ~10⁹ docs at
    * tf ≤ 10⁴ (tf·idf_u ≤ 10¹⁰·n/(df+1)).
    */
  def tfidfTopKIndexed(
      index: DataFrame,
      docLens: DataFrame,
      queryTerms: Seq[String],
      k: Int
  ): DataFrame = {
    val distinctTerms = queryTerms.distinct
    require(distinctTerms.nonEmpty, "empty query")
    val n = docLens.agg(count(lit(1)).as("n"))
    val scored = index
      .filter(col("tok").isin(distinctTerms: _*))
      .select(col("df"), explode(arrays_zip(col("doc_ids"), col("tfs"))).as("h"))
      .select(col("df"), col("h.doc_ids").as("doc_id"), col("h.tfs").as("tf"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), expr("tf * ((n - df) * 1000000 div (df + 1))").as("ts"))
      .groupBy(col("doc_id"))
      .agg(sum(col("ts")).as("score"))
    rankTop(scored, k)
  }

  /** BATCH ranked retrieval — the production serving shape: a whole
    * QUERY TABLE `(query_id, terms array<string>)` scored against the
    * index + norms artifacts in ONE pass, `(query_id, rnk, doc_id,
    * score)` per query. The per-query scoring arithmetic is EXACTLY
    * [[bm25TopKIndexed]]'s (spec-pinned equal query by query); what
    * changes is the shape: query terms explode once, the DISTINCT
    * matched tokens' postings explode once (a term shared by many
    * queries is expanded once and joined, not re-expanded per query),
    * candidates group on `(query_id, doc_id)`, and the final top-k is
    * the bounded per-query heap aggregate — never a global sort, never
    * a window over more than one query's candidates. A million-query
    * evaluation batch against a static index is exactly this plan.
    */
  def bm25TopKIndexedBatch(
      index: DataFrame,
      docLens: DataFrame,
      queries: DataFrame,
      k: Int
  ): DataFrame = {
    import graft.functions.GraftExpressions
    val stats = docLens
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("tot"))
      .select(col("n"), expr("tot * 1000 div n").as("avgdl_m"))
    val qterms = queries
      .select(col("query_id"), explode(array_distinct(col("terms"))).as("tok"))
    val postings = index
      .join(qterms.select(col("tok")).distinct(), Seq("tok"), "left_semi")
      .select(col("tok"), col("df"), explode(arrays_zip(col("doc_ids"), col("tfs"))).as("h"))
      .select(col("tok"), col("df"), col("h.doc_ids").as("doc_id"), col("h.tfs").as("tf"))
      .crossJoin(broadcast(stats))
    val scored = docLens
      .join(broadcast(postings), Seq("doc_id"))
      .join(broadcast(qterms), Seq("tok"))
      .select(
        col("query_id"),
        col("doc_id"),
        expr(
          "((n - df) * 1000000 div (df + 1)) * (tf * 2200)" +
            " div (tf * 1000 + (300 + (900 * dl * 1000) div avgdl_m))"
        ).as("term_score")
      )
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("term_score")).as("score"))
    scored
      .groupBy(col("query_id"))
      .agg(
        GraftExpressions
          .top_k_neighbors(col("score").cast("double"), col("doc_id"), k)
          .as("nn")
      )
      .select(col("query_id"), posexplode(col("nn")).as(Seq("pos", "h")))
      .select(
        col("query_id"),
        (col("pos") + 1).cast("long").as("rnk"),
        col("h.neighbor_id").as("doc_id"),
        col("h.cos").cast("long").as("score")
      )
  }

  // ------------------------------------------------------------ inverted index

  /** INVERTED INDEX construction — the materialized retrieval artifact
    * next to [[bm25Model]]'s query-scoped scoring: one row per distinct
    * token, `(tok, df, doc_ids, tfs)`, postings sorted by doc id with
    * `tfs[i]` the term frequency in `doc_ids[i]`. Persist it once (any
    * of the engine's sinks) and every subsequent query reads |Q| rows
    * instead of re-scanning the corpus — the build-once/serve-many
    * lifecycle of the codebook and LM-model operators, applied to text.
    *
    * Scale shape: two hash aggregates — `(tok, doc)` term frequencies
    * (map-side partials collapse each document's repeats before the
    * exchange) then per-token posting assembly. The per-token row is
    * bounded by the term's document frequency, which is exactly the
    * posting-skew of a real index: a stopword's posting row is
    * corpus-sized. `maxDf` caps it (drop terms in more than `maxDf`
    * docs — they carry no retrieval signal and every search would scan
    * them; the [[graft.operators.Dedup.WinnowMaxDf]] discipline), and
    * [[invertedIndexBlocked]] is the structural answer when capped terms
    * must still be served.
    */
  def invertedIndex(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxDf: Long = Long.MaxValue
  ): DataFrame = {
    require(maxDf >= 1, s"need maxDf >= 1, got $maxDf")
    assemblePostings(termFrequencies(docs, textCol, idCol), maxDf)
  }

  /** Per-token posting assembly from a `(tok, doc_id, tf)` frame — the
    * shared back half of [[invertedIndex]] and [[mergeIndexes]].
    */
  private def assemblePostings(tf: DataFrame, maxDf: Long): DataFrame =
    tf.groupBy(col("tok"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("tf")))).as("p"))
      .filter(size(col("p")) <= maxDf)
      .select(
        col("tok"),
        size(col("p")).cast("long").as("df"),
        transform(col("p"), s => s.getField("doc_id")).as("doc_ids"),
        transform(col("p"), s => s.getField("tf")).as("tfs")
      )

  /** INCREMENTAL INDEX MAINTENANCE: merge partial indexes into the
    * index of their union — the daily-crawl operator (index the delta,
    * merge into the base; never re-tokenize the base corpus). Each
    * part's postings explode back to `(tok, doc, tf)` rows — 3 small
    * integers per posting, the text is long gone — re-aggregate per
    * `(tok, doc_id)` (tf rows for the same document SUM, so a document
    * whose text is split across parts merges to its true tf and never
    * inflates df), and re-assemble through the shared aggregation:
    * `merge(index(A), index(B)) == index(A ∪ B)` EXACTLY for disjoint
    * OR text-partitioned parts (spec-pinned). What merge can NOT repair
    * is the same text indexed twice (tf would double) — that dedup is
    * upstream admission, the engine's own [[Dedup.dedupAgainst]] path.
    *
    * `maxDf` re-applies the df cap AFTER merging (default uncapped):
    * merging parts built with a cap widens df — a term under the cap in
    * every part can exceed it in the union — so the cap must be an
    * argument here, never silently inherited from the parts.
    */
  def mergeIndexes(parts: DataFrame*): DataFrame = mergeIndexesCapped(Long.MaxValue, parts: _*)

  /** [[mergeIndexes]] with the df cap re-applied to the merged union. */
  def mergeIndexesCapped(maxDf: Long, parts: DataFrame*): DataFrame = {
    require(parts.nonEmpty, "no index parts to merge")
    require(maxDf >= 1, s"need maxDf >= 1, got $maxDf")
    val occ = parts
      .map(
        _.select(col("tok"), explode(arrays_zip(col("doc_ids"), col("tfs"))).as("h"))
          .select(col("tok"), col("h.doc_ids").as("doc_id"), col("h.tfs").as("tf"))
      )
      .reduce(_.unionByName(_))
      .groupBy(col("tok"), col("doc_id"))
      .agg(sum(col("tf")).as("tf"))
    assemblePostings(occ, maxDf)
  }

  /** [[invertedIndex]] with BLOCKED posting lists — the 100-TB layout:
    * postings for token `tok` split across rows `(tok, block, df,
    * doc_ids, tfs)` with `block = doc_id div blockDocs`, so no single
    * row (and no single aggregation task's collect) exceeds `blockDocs`
    * postings even for a stopword. The block key is a pure function of
    * the doc id — no window ranks anything, the split is one extra
    * grouping column on the same aggregate — and flattening the blocks
    * back in `(tok, block)` order reproduces [[invertedIndex]] exactly
    * (spec-pinned), because doc-id order refines block order.
    */
  def invertedIndexBlocked(
      docs: DataFrame,
      blockDocs: Long,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(blockDocs >= 1, s"need blockDocs >= 1, got $blockDocs")
    termFrequencies(docs, textCol, idCol)
      .withColumn("block", expr(s"doc_id div $blockDocs"))
      .groupBy(col("tok"), col("block"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("tf")))).as("p"))
      .select(
        col("tok"),
        col("block"),
        size(col("p")).cast("long").as("df"),
        transform(col("p"), s => s.getField("doc_id")).as("doc_ids"),
        transform(col("p"), s => s.getField("tf")).as("tfs")
      )
  }

  /** The shared `(tok, doc_id, tf)` frame under both index layouts. */
  private def termFrequencies(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .groupBy(col("tok"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))

  /** POSITIONAL inverted index — `(tok, df, doc_ids, positions)` with
    * `positions[i]` the ascending token positions of `tok` in
    * `doc_ids[i]`: the artifact that serves PHRASE queries without
    * touching corpus text ([[searchPhraseIndexed]]). Same two-aggregate
    * build as [[invertedIndex]] with the position lists riding the
    * grouping; posting size grows by the occurrence count (tf numbers
    * become position arrays) — the standard positional-index cost, paid
    * at build so phrase queries read |phrase| rows.
    */
  def invertedIndexPositional(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxDf: Long = Long.MaxValue
  ): DataFrame = {
    require(maxDf >= 1, s"need maxDf >= 1, got $maxDf")
    docs
      .select(
        col(idCol).as("doc_id"),
        posexplode(TextFunctions.tokens(col(textCol))).as(Seq("pos", "tok"))
      )
      .groupBy(col("tok"), col("doc_id"))
      .agg(array_sort(collect_list(col("pos").cast("long"))).as("ps"))
      .groupBy(col("tok"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("ps")))).as("p"))
      .filter(size(col("p")) <= maxDf)
      .select(
        col("tok"),
        size(col("p")).cast("long").as("df"),
        transform(col("p"), s => s.getField("doc_id")).as("doc_ids"),
        transform(col("p"), s => s.getField("ps")).as("positions")
      )
  }

  /** [[searchPhrase]] served from a POSITIONAL index instead of the
    * corpus: the phrase's |distinct terms| index rows explode back to
    * `(tok, doc, position)` occurrences and the same |phrase|−1
    * `(doc, normalized start)` equi-joins intersect them — identical
    * result (the q116 gate runs against q114's oracle), but the corpus
    * text is never read. This is what the positional artifact is FOR: a
    * phrase query's cost is bounded by its terms' posting sizes, not the
    * corpus.
    */
  def searchPhraseIndexed(index: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val occ = index
      .filter(col("tok").isin(phrase.distinct: _*))
      .select(col("tok"), explode(arrays_zip(col("doc_ids"), col("positions"))).as("h"))
      .select(
        col("tok"),
        col("h.doc_ids").as("doc_id"),
        explode(col("h.positions")).as("pos")
      )
    def leg(term: String, offset: Int): DataFrame =
      occ
        .filter(col("tok") === lit(term))
        .select(col("doc_id"), (col("pos") - lit(offset)).as("start"))
    phrase.zipWithIndex
      .map { case (t, i) => leg(t, i) }
      .reduce(_.join(_, Seq("doc_id", "start")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"))
  }

  /** DISJUNCTIVE (OR) retrieval over an [[invertedIndex]] frame:
    * documents containing AT LEAST ONE query term — `(doc_id, n_hit,
    * tf_sum)` with the matched-term count as the coordination-level
    * ranking signal. Identical plan shape to [[searchAll]] minus the
    * HAVING: |Q| posting rows explode, one hash aggregate.
    */
  def searchAny(index: DataFrame, terms: Seq[String]): DataFrame = {
    val distinctTerms = terms.distinct
    require(distinctTerms.nonEmpty, "empty query")
    index
      .filter(col("tok").isin(distinctTerms: _*))
      .select(explode(arrays_zip(col("doc_ids"), col("tfs"))).as("h"))
      .select(col("h.doc_ids").as("doc_id"), col("h.tfs").as("tf"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit"), sum(col("tf")).as("tf_sum"))
  }

  /** BOOLEAN retrieval: documents containing EVERY `must` term and NONE
    * of the `mustNot` terms — [[searchAll]]'s conjunction with the
    * exclusion as a LEFT ANTI join against the (equally posting-bounded)
    * [[searchAny]] of the negated terms. The NOT side never scans the
    * corpus either: both legs read only their terms' posting rows, so a
    * `must NOT boilerplate-token` filter costs the boilerplate term's
    * posting list, not a corpus pass.
    */
  def searchBoolean(
      index: DataFrame,
      must: Seq[String],
      mustNot: Seq[String] = Seq.empty
  ): DataFrame = {
    val hits = searchAll(index, must)
    if (mustNot.isEmpty) hits
    else
      hits.join(
        searchAny(index, mustNot).select(col("doc_id")),
        Seq("doc_id"),
        "left_anti"
      )
  }

  /** EXACT PHRASE search: documents containing `phrase`'s tokens at
    * CONSECUTIVE positions, `(doc_id, n_matches)` with the occurrence
    * count. Plan shape: one positional explode filtered to the phrase's
    * terms (only THOSE occurrences shuffle — the q103 pre-aggregate
    * filter discipline), then |phrase|−1 equi-joins on `(doc,
    * normalized position)` — occurrence i of term j must sit at start
    * position p, i.e. its own position minus j; the join key carries the
    * doc id, so skew is bounded by a term's per-doc frequency, never by
    * corpus-wide popularity. Repeated phrase terms (`"a a"`) fall out of
    * the same join — each leg filters its own term independently.
    */
  def searchPhrase(
      docs: DataFrame,
      phrase: Seq[String],
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val occ = docs
      .select(
        col(idCol).as("doc_id"),
        posexplode(TextFunctions.tokens(col(textCol))).as(Seq("pos", "tok"))
      )
      .filter(col("tok").isin(phrase.distinct: _*))
    def leg(term: String, offset: Int): DataFrame =
      occ
        .filter(col("tok") === lit(term))
        .select(col("doc_id"), (col("pos") - lit(offset)).as("start"))
    val starts = phrase.zipWithIndex
      .map { case (t, i) => leg(t, i) }
      .reduce(_.join(_, Seq("doc_id", "start")))
    starts
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"))
  }

  /** CONJUNCTIVE (AND) Boolean retrieval over an [[invertedIndex]] frame:
    * documents containing EVERY query term, `(doc_id, tf_sum)` with the
    * summed term frequency as the tie-breakable relevance weight. This is
    * the operator that justifies materializing the index: the plan reads
    * |Q| index rows (the `tok` filter pushes into the index scan) and
    * explodes only THOSE posting lists — corpus text is never touched,
    * where [[bm25ScoreAgainst]] re-tokenizes every document. The
    * intersection is one hash aggregate over the exploded postings
    * (`HAVING count = |Q|`), never a pairwise list walk, so a term's
    * posting skew bounds task size exactly as in the build.
    */
  def searchAll(index: DataFrame, terms: Seq[String]): DataFrame = {
    val distinctTerms = terms.distinct
    require(distinctTerms.nonEmpty, "empty query")
    index
      .filter(col("tok").isin(distinctTerms: _*))
      .select(explode(arrays_zip(col("doc_ids"), col("tfs"))).as("h"))
      .select(col("h.doc_ids").as("doc_id"), col("h.tfs").as("tf"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit"), sum(col("tf")).as("tf_sum"))
      .filter(col("n_hit") === distinctTerms.size.toLong)
      .select(col("doc_id"), col("tf_sum"))
  }

  /** PREFIX (wildcard `pre*`) retrieval over an [[invertedIndex]] frame:
    * documents containing ANY term starting with `prefix` — `(doc_id,
    * n_terms, tf_sum)` with the DISTINCT matched-term count as the
    * coordination signal. The term dictionary is where a wildcard
    * belongs: the predicate is `startsWith`, which Spark pushes into the
    * index's parquet scan as `StringStartsWith` (a min/max-prunable
    * range — served from the artifact, only the prefix's dictionary
    * range is even read), where a corpus-side wildcard would regex-scan
    * every token of every document. Cost after the filter is the
    * matched terms' posting rows, exactly [[searchAny]].
    */
  def searchPrefix(index: DataFrame, prefix: String): DataFrame = {
    require(prefix.nonEmpty, "empty prefix")
    index
      .filter(col("tok").startsWith(prefix))
      .select(col("tok"), explode(arrays_zip(col("doc_ids"), col("tfs"))).as("h"))
      .select(col("tok"), col("h.doc_ids").as("doc_id"), col("h.tfs").as("tf"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("tok")).as("n_terms"), sum(col("tf")).as("tf_sum"))
  }

  // ------------------------------------------------------------ proximity

  /** PROXIMITY (NEAR/slop) search — the operator BETWEEN exact phrase
    * ([[searchPhrase]]) and bag-of-words AND ([[searchAll]]): documents
    * where `a` and `b` occur within `slop` intervening positions of each
    * other, in EITHER order (the unordered-window operator, INQUERY's
    * `#uw`): `(doc_id, min_dist)` with `min_dist` the closest |pos_a −
    * pos_b| over all occurrence pairs, matched iff `min_dist − 1 <=
    * slop`. The two boundary laws are spec-pinned:
    * `slop = 0` ⇔ adjacent ⇔ the doc matches the phrase `a b` or `b a`;
    * `slop = Long.MaxValue` ⇔ both terms present ⇔ [[searchAll]] on
    * {a, b}. (Phrased as `min_dist − 1 <= slop` rather than `min_dist
    * <= slop + 1` so `slop = Long.MaxValue` cannot overflow.)
    *
    * Plan shape: the positional explode filters to the TWO terms before
    * anything shuffles (the q103 discipline), then one equi-join on
    * `doc_id` pairs each doc's a-occurrences with its b-occurrences —
    * per-doc work is `tf_a · tf_b`, bounded by per-document term
    * frequency, never by corpus-wide popularity (a doc that repeats
    * both terms pathologically is what the repetition filters
    * ([[Repetition]]) remove upstream) — and one min aggregate.
    */
  def searchNear(
      docs: DataFrame,
      a: String,
      b: String,
      slop: Long,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(a != b, s"NEAR terms must differ (got '$a' twice — that is searchPhrase)")
    require(slop >= 0, s"need slop >= 0, got $slop")
    val occ = docs
      .select(
        col(idCol).as("doc_id"),
        posexplode(TextFunctions.tokens(col(textCol))).as(Seq("pos", "tok"))
      )
      .filter(col("tok").isin(a, b))
      .select(col("doc_id"), col("tok"), col("pos").cast("long").as("pos"))
    nearFrom(occ, a, b, slop)
  }

  /** [[searchNear]] served from a POSITIONAL index
    * ([[invertedIndexPositional]]): the two terms' index rows explode
    * back to occurrences and the same per-doc pairing runs — corpus
    * text never read, cost bounded by the two posting lists
    * (spec-pinned equal to the direct path).
    */
  def searchNearIndexed(index: DataFrame, a: String, b: String, slop: Long): DataFrame = {
    require(a != b, s"NEAR terms must differ (got '$a' twice — that is searchPhrase)")
    require(slop >= 0, s"need slop >= 0, got $slop")
    val occ = index
      .filter(col("tok").isin(a, b))
      .select(col("tok"), explode(arrays_zip(col("doc_ids"), col("positions"))).as("h"))
      .select(col("tok"), col("h.doc_ids").as("doc_id"), explode(col("h.positions")).as("pos"))
    nearFrom(occ, a, b, slop)
  }

  /** Ranking-quality metrics — the EVALUATION side of every ranked
    * operator in this file and the ANN tier: score a retrieval `run`
    * (`(query_id, neighbor_id, rnk)`, rnk 1-based) against a `truth`
    * relevance set (`(query_id, neighbor_id)`, extra columns ignored,
    * duplicates collapsed) at cutoff `k`. One row per query IN THE RUN:
    *
    *   - `n_ret` / `n_rel` — retrieved (≤ k) and relevant counts
    *   - `hits` — |run@k ∩ truth|
    *   - `prec_milli`  = hits·1000 div min(k, n_ret)
    *   - `rec_milli`   = hits·1000 div n_rel       (recall@k)
    *   - `rr_micro`    = 10^6 div rank-of-first-hit (0 if no hit) — the
    *     reciprocal-rank summand of MRR
    *   - `ap_micro`    = (Σ_{hit at rank r} hits_upto_r·10^6 div r)
    *     div n_rel — average precision, uninterpolated
    *   - `ndcg_micro`  = DCG·10^6 div IDCG with binary gains: DCG =
    *     Σ_{hit at rank r} [[ndcgGainLut]](r), IDCG = the LUT's prefix
    *     sum at min(n_rel, k); 0 when n_rel = 0
    *
    * All metrics are integer fixed-point (the q34 salience rule): no
    * floating division, so a DuckDB oracle pins every value and means
    * across engines agree bit-for-bit. nDCG's log2 discounts are
    * irrational — they join the discipline through a PRECOMPUTED
    * micro-unit literal table (the q118 `hllLut` trick): `round(10⁶ /
    * log2(r+1))` for r = 1..k is computed ONCE here and embedded as the
    * same k literals in both engines, so every division downstream is
    * integer-exact.
    *
    * Scale shape: everything is co-keyed on `query_id` — the semi-join
    * marks hits, one window orders ≤ k rows per query (never more: the
    * run is cut at `k` first), and three query-count-sized aggregates
    * join back. A million-query evaluation batch is three partial-agg
    * shuffles on a uniform key; no operator ever sees more than one
    * query's k rows together.
    */
  def rankMetrics(run: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val gains = ndcgGainLut(k).mkString("array(", "L, ", "L)")
    val idcgs = ndcgIdcgLut(k).mkString("array(", "L, ", "L)")
    val r = run
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk").cast("long").as("rnk"))
    val t = truth.select(col("query_id"), col("neighbor_id")).distinct()
    val hs = r
      .join(t, Seq("query_id", "neighbor_id"), "left_semi")
      .withColumn(
        "hits_upto",
        row_number().over(Window.partitionBy(col("query_id")).orderBy(col("rnk"))).cast("long")
      )
    val per = hs
      .groupBy(col("query_id"))
      .agg(
        count(lit(1)).as("hits"),
        min(col("rnk")).as("first_hit"),
        sum(expr("hits_upto * 1000000 div rnk")).as("ap_num"),
        sum(expr(s"element_at($gains, cast(rnk AS int))")).as("dcg_num")
      )
    val nret = r.groupBy(col("query_id")).agg(count(lit(1)).as("n_ret"))
    val nrel = t.groupBy(col("query_id")).agg(count(lit(1)).as("n_rel"))
    nret
      .join(nrel, Seq("query_id"), "left")
      .join(per, Seq("query_id"), "left")
      .select(
        col("query_id"),
        col("n_ret"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        expr(s"coalesce(hits, 0L) * 1000 div least(${k.toLong}L, n_ret)").as("prec_milli"),
        expr("coalesce(hits, 0L) * 1000 div greatest(coalesce(n_rel, 0L), 1L)").as("rec_milli"),
        expr("CASE WHEN first_hit IS NULL THEN 0L ELSE 1000000 div first_hit END")
          .as("rr_micro"),
        expr("coalesce(ap_num, 0L) div greatest(coalesce(n_rel, 0L), 1L)").as("ap_micro"),
        // IDCG indexes the prefix-sum LUT at min(n_rel, k) — well-defined
        // in the non-zero branch since n_rel ≥ 1 there
        expr(
          s"CASE WHEN coalesce(n_rel, 0L) = 0L OR dcg_num IS NULL THEN 0L" +
            s" ELSE dcg_num * 1000000 div" +
            s" element_at($idcgs, cast(least(n_rel, ${k.toLong}L) AS int)) END"
        ).as("ndcg_micro")
      )
  }

  /** Micro-unit binary-nDCG discount table: `round(10⁶ / log2(r+1))` for
    * ranks r = 1..k — computed once here, embedded as the SAME literals
    * in the Spark plan and the DuckDB oracle (the q118 `hllLut`
    * precomputed-irrational trick), so nDCG replays integer-exactly
    * across engines.
    */
  def ndcgGainLut(k: Int): Seq[Long] =
    (1 to k).map(r => math.round(1000000.0 / (math.log(r + 1.0) / math.log(2.0))))

  /** Prefix sums of [[ndcgGainLut]] — `IDCG·10⁶` for an all-relevant
    * prefix of each length 1..k.
    */
  def ndcgIdcgLut(k: Int): Seq[Long] = ndcgGainLut(k).scanLeft(0L)(_ + _).tail

  /** The shared NEAR tail over a `(doc_id, tok, pos)` occurrence frame. */
  private def nearFrom(occ: DataFrame, a: String, b: String, slop: Long): DataFrame = {
    val pa = occ.filter(col("tok") === lit(a)).select(col("doc_id"), col("pos").as("pa"))
    val pb = occ.filter(col("tok") === lit(b)).select(col("doc_id"), col("pos").as("pb"))
    pa.join(pb, Seq("doc_id"))
      .select(col("doc_id"), abs(col("pa") - col("pb")).as("d"))
      .groupBy(col("doc_id"))
      .agg(min(col("d")).as("min_dist"))
      .filter(col("min_dist") - lit(1L) <= lit(slop))
  }
}
