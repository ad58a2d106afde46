package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Benchmark DECONTAMINATION — remove from a training corpus every
  * document sharing an exact k-token n-gram with an evaluation/benchmark
  * set. This is the standard pre-training hygiene step (exact-substring
  * contamination checks): a model must not train on text that appears in
  * its eval suite, and near-dedup against the corpus itself
  * ([[Dedup.dedupAgainst]]) does not cover it because the benchmark is a
  * DIFFERENT, usually tiny, collection.
  *
  * Scale shape: the benchmark's distinct n-gram hash index is small by
  * nature (eval sets are thousands of documents, not billions), so it
  * broadcasts — the corpus side stays a scan + explode with NO shuffle
  * until the per-document count aggregation, whose key (doc id) is as
  * well-distributed as the corpus itself. The corpus is never self-joined
  * and never shuffled on n-gram (where boilerplate grams would skew).
  *
  * Determinism: n-grams are compared through the engine-wide `poly_hash`
  * (DuckDB-mirrorable; a hash collision could flag a clean document, at
  * ~2^-30 per candidate — acceptable for a removal filter and mirrored
  * exactly by the oracle).
  *
  * The reference has no analog (SURVEY.md §2.1 — no joins at all); this
  * extends the dedup family (`Dedup.scala`) with the corpus-vs-benchmark
  * direction.
  */
object Decontaminate {

  /** Default n-gram width for contamination checks. Public pipelines use
    * 10–13-token windows; the fixture documents are 10–99 tokens, so the
    * gated example passes a smaller k — the parameter is the contract.
    */
  val DefaultK = 13

  /** NULL corpus ids fail fast (r18 review): the removal/cut joins are
    * id-keyed and NULL never equi-matches — a NULL-id contaminated
    * document would survive [[clean]]'s anti join, pass [[redactOverlaps]]
    * uncut, and read 0/0 in [[memorizationProfile]], all silently. A
    * decontamination pass that quietly exempts rows is worse than one
    * that fails loudly.
    */
  private def requireIds(corpus: DataFrame, idCol: String, op: String): DataFrame =
    corpus.filter(
      when(col(idCol).isNotNull, lit(true)).otherwise(
        raise_error(
          lit(s"$op: NULL $idCol — id-keyed contamination accounting needs non-NULL doc ids")
        ).cast("boolean")
      )
    )

  /** One row per DISTINCT k-gram hash in the benchmark — the index the
    * corpus is checked against.
    */
  def benchmarkIndex(benchmark: DataFrame, k: Int = DefaultK, textCol: String = "text"): DataFrame =
    benchmark
      .select(explode(TextFunctions.shingleHashes(col(textCol), k)).as("gh"))
      .distinct()

  /** `(idCol, n_shared)` for every CONTAMINATED corpus document: the count
    * of distinct k-gram hashes it shares with the benchmark (≥ 1 by
    * construction; clean documents are absent). `shingleHashes` is
    * per-document distinct and the index is globally distinct, so the join
    * multiplicity is exactly one per shared gram and a plain `count`
    * equals the distinct shared-gram count — no `countDistinct` pass.
    */
  def overlapReport(
      corpus: DataFrame,
      benchmark: DataFrame,
      k: Int = DefaultK,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    val idx = benchmarkIndex(benchmark, k, textCol)
    corpus
      .select(col(idCol), explode(TextFunctions.shingleHashes(col(textCol), k)).as("gh"))
      .join(broadcast(idx), Seq("gh"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** The corpus with every contaminated document REMOVED — the admission
    * side of [[overlapReport]] (anti join on the contaminated id set).
    *
    * Two regimes for the contaminated-id subtree (the decision is which
    * PLAN computes the identical id set, never what it contains):
    *
    *  - collected index (benchmark gram index within [[DriverRegime]]'s
    *    cap, default 2^20 hashes; eval benchmarks are small by nature, so
    *    this is the production shape): the distinct hash index is
    *    collected and sorted once, and each corpus document answers
    *    "shares any k-gram?" row-locally
    *    ([[graft.functions.Kernels.hasSharedGram]] — binary search with
    *    early exit) — no explode of the corpus into gram rows, no join
    *    probe per occurrence, no per-doc count aggregate. A document is
    *    in [[overlapReport]] iff it has ≥ 1 shared gram iff the kernel is
    *    true (same poly_hash space; NULL text is non-contaminated in both
    *    shapes — the explode dropped it, the NULL predicate drops it from
    *    the filter), so the contaminated id set — and therefore the
    *    id-keyed anti join, duplicate ids included — is identical.
    *  - distributed (index above the cap, or cap 0): the corpus's
    *    `(id, gram)` rows semi-join the index in a SHUFFLED hash join
    *    (`shuffle_hash` on the index side). An index too big to collect
    *    is too big to broadcast too: [[overlapReport]]'s broadcast would
    *    gather it on the driver all the same. Same id set: a document
    *    has a row in the semi join iff it shares ≥ 1 gram.
    *
    * The regime probe runs at compose time.
    */
  def clean(
      corpus0: DataFrame,
      benchmark: DataFrame,
      k: Int = DefaultK,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    val corpus = requireIds(corpus0, idCol, "Decontaminate.clean")
    val collected = DriverRegime.collectIfSmall(benchmarkIndex(benchmark, k, textCol), 1L << 20).map { rows =>
      val grams = rows.map(_.getLong(0))
      java.util.Arrays.sort(grams)
      grams
    }
    val contaminatedIds = collected match {
      case Some(grams) =>
        corpus
          .filter(graft.functions.GraftExpressions.has_shared_gram(col(textCol), k, grams))
          .select(col(idCol))
      case None =>
        corpus
          .select(col(idCol), explode(TextFunctions.shingleHashes(col(textCol), k)).as("gh"))
          .join(benchmarkIndex(benchmark, k, textCol).hint("shuffle_hash"), Seq("gh"), "left_semi")
          .select(col(idCol))
    }
    corpus.join(contaminatedIds, Seq(idCol), "left_anti")
  }

  /** The REVERSE direction — per BENCHMARK item, how exposed it is in
    * the training corpus: `(bench_id, n_corpus_docs, n_shared_grams)`
    * for every benchmark document at least one corpus document shares a
    * k-gram with. [[overlapReport]] answers "which training pages are
    * contaminated"; this answers "which EVAL items are compromised" —
    * the integrity table an evaluation writes down (the
    * train-test-overlap appendix of the GPT-3/PaLM reports), and the
    * input to deciding whether to decontaminate the corpus or drop the
    * eval item.
    *
    * Scale shape: the benchmark side (small by nature) explodes to
    * `(bench_id, gh)` and broadcasts WITH its ids; the corpus stays a
    * scan + explode joined against it, aggregated on `bench_id` — the
    * corpus is never shuffled on a gram key, and the distinct-counts
    * expand at most benchmark-sized groups.
    */
  def benchmarkExposure(
      corpus: DataFrame,
      benchmark: DataFrame,
      k: Int = DefaultK,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    val bench = benchmark.select(
      col(idCol).as("bench_id"),
      explode(TextFunctions.shingleHashes(col(textCol), k)).as("gh")
    )
    corpus
      .select(col(idCol), explode(TextFunctions.shingleHashes(col(textCol), k)).as("gh"))
      .join(broadcast(bench), Seq("gh"))
      .groupBy(col("bench_id"))
      .agg(
        countDistinct(col(idCol)).as("n_corpus_docs"),
        countDistinct(col("gh")).as("n_shared_grams")
      )
  }

  /** SPAN-level decontamination — cut every k-token window a document
    * shares with the benchmark and keep the rest, instead of dropping
    * the whole document ([[clean]]'s rule). This is the Lee et al. 2021
    * exact-substring treatment applied in the corpus-vs-benchmark
    * direction: a long, mostly-original page that quotes one benchmark
    * passage loses the passage, not its training value — at web scale
    * the difference is material, since popular eval sentences are quoted
    * everywhere.
    *
    * Mechanism: the corpus side explodes POSITIONAL k-gram hashes
    * `(i, gh)`; positions whose hash hits the broadcast benchmark index
    * become cut starts covering `[i, i+k)`; the document is rebuilt from
    * the keep-gaps by [[SegmentDedup.rebuildWithoutCuts]] (the shared
    * O(cuts+tokens) interval merge). Documents redacted to nothing are
    * dropped — they were wholly benchmark text.
    *
    * Scale shape matches [[overlapReport]]: broadcast index, scan-side
    * explode, one aggregate keyed on the document id; the rebuild adds
    * no shuffle beyond the cut-list join.
    */
  def redactOverlaps(
      corpus: DataFrame,
      benchmark: DataFrame,
      k: Int = DefaultK,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    val corpusChecked = requireIds(corpus, idCol, "redactOverlaps")
    val idx = benchmarkIndex(benchmark, k, textCol)
    val cutStarts = corpusChecked
      .select(
        col(idCol),
        posexplode(TextFunctions.positionalShingleHashes(col(textCol), k)).as(Seq("i", "gh"))
      )
      .join(broadcast(idx), Seq("gh"))
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(col("i").cast("long"))).as("__cuts"))
    SegmentDedup.rebuildWithoutCuts(
      corpusChecked.select(col(idCol), col(textCol)),
      cutStarts,
      k,
      textCol,
      idCol
    )
  }

  /** MEMORIZATION-LENGTH profile — the audit behind the span cutters
    * (Lee et al. 2021's duplicated-substring analysis; Carlini et al.'s
    * extraction curves are plotted against exactly this number): for
    * every corpus document, how LONG is its longest contiguous token
    * span whose every k-gram appears in the benchmark/reference set?
    * `overlapReport` (q66) counts shared grams — ten scattered 4-grams
    * and one verbatim 13-token quote count the same there, but mean
    * something completely different for memorization risk; this
    * separates them. One row per corpus doc:
    * `(idCol, n_hit_windows, max_span_tokens)` — hit-window count and
    * `longest_run + k − 1` tokens (0/0 for clean docs, every corpus
    * doc present — the semanticOverlap LEFT-join convention).
    *
    * Span semantics match [[redactOverlaps]]'s cut rule: a span counts
    * when all its k-windows are in the benchmark's gram SET (windows
    * may come from different benchmark items — the standard stitched
    * upper bound, documented rather than hidden; exact per-item
    * attribution is [[benchmarkExposure]]'s axis).
    *
    * Scale shape: the broadcast distinct-gram index again (corpus never
    * shuffles on a gram key); runs are found by the gaps-and-islands
    * window `i − row_number()` PARTITIONED BY DOC (work bounded by a
    * document's own hit count, never corpus-wide), then two per-doc
    * aggregates.
    */
  def memorizationProfile(
      corpus: DataFrame,
      benchmark: DataFrame,
      k: Int = DefaultK,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    import org.apache.spark.sql.expressions.Window
    val corpusChecked = requireIds(corpus, idCol, "memorizationProfile")
    val idx = benchmarkIndex(benchmark, k, textCol)
    val hits = corpusChecked
      .select(
        col(idCol),
        posexplode(TextFunctions.positionalShingleHashes(col(textCol), k)).as(Seq("i", "gh"))
      )
      .join(broadcast(idx), Seq("gh"))
    val runs = hits
      .withColumn(
        "__grp",
        col("i") - row_number().over(Window.partitionBy(col(idCol)).orderBy(col("i")))
      )
      .groupBy(col(idCol), col("__grp"))
      .agg(count(lit(1)).as("__run"))
      .groupBy(col(idCol))
      .agg(
        sum(col("__run")).as("n_hit_windows"),
        (max(col("__run")) + lit(k.toLong - 1L)).as("max_span_tokens")
      )
    corpusChecked
      .select(col(idCol))
      .join(runs, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_hit_windows"), lit(0L)).as("n_hit_windows"),
        coalesce(col("max_span_tokens"), lit(0L)).as("max_span_tokens")
      )
  }

  /** SEMANTIC decontamination — the embedding-space complement of the
    * n-gram tiers: an eval item paraphrased, translated, or reformatted
    * shares no 13-gram with its source, but its embedding stays close.
    * Every corpus vector is scored by its MAX cosine against the
    * benchmark's embeddings and flagged at `tauMicro` — `(vec_id,
    * max_cos_micro, flagged)`, the audit frame (drop flagged ids, or
    * route them to the exact n-gram check: the two tiers compose into
    * the standard semantic-recall / lexical-precision cascade).
    *
    * Scale shape mirrors [[benchmarkIndex]]'s argument: benchmarks are
    * SMALL by nature, so the bench embeddings broadcast and the corpus
    * side is one scan (the q30 constant-side BNLJ pattern — |corpus|·|B|
    * cosines, embarrassingly parallel, no shuffle before the per-vector
    * max, whose key is the corpus's own id). Determinism: `max` over
    * doubles is order-free exactly, quantized once AFTER the max.
    */
  def semanticOverlap(
      corpusEmb: DataFrame,
      benchEmb: DataFrame,
      tauMicro: Long
  ): DataFrame = {
    require(tauMicro >= -1000000L && tauMicro <= 1000000L, s"need tauMicro in ±10⁶, got $tauMicro")
    val scored = corpusEmb
      .select(col("vec_id"), col("embedding"))
      .join(
        broadcast(benchEmb.select(col("embedding").as("b_emb"))),
        col("vec_id").isNotNull
      )
      .select(
        col("vec_id"),
        graft.functions.VectorFunctions.cosine(col("embedding"), col("b_emb")).as("cos")
      )
      .groupBy(col("vec_id"))
      .agg(expr("CAST(floor(max(cos) * 1000000 + 0.5) AS BIGINT)").as("max_cos_micro"))
    // LEFT join back onto the corpus ids (ADVICE r10): with a non-empty
    // benchmark every vector scores against every bench row and the join
    // is an identity; with an EMPTY benchmark the inner aggregate is
    // empty and the old plan dropped every corpus vector — contradicting
    // "every corpus vector is scored" and diverging from both
    // [[semanticOverlapLsh]] (candidate-less rows ride with NULL +
    // flagged=false) and the streaming twin. Same convention here.
    corpusEmb
      .select(col("vec_id"))
      .join(scored, Seq("vec_id"), "left")
      .withColumn("flagged", coalesce(col("max_cos_micro") >= tauMicro, lit(false)))
  }

  /** [[semanticOverlap]] for a benchmark that is NOT small — corpus-vs-
    * corpus semantic contamination (held-out split vs training split,
    * yesterday's crawl vs today's), where broadcasting the bench side
    * stops being an option. Candidates come from the
    * [[Similarity.lshIndex]] bucket equi-join (both sides explode to
    * their L bucket rows; a pair is scored iff it shares a (table,
    * bucket) — the q25 banding argument applied to cosine): the join is
    * shuffle-on-bucket with BOTH sides corpus-sized, and no pair of
    * dissimilar vectors is ever scored. Error is ONE-SIDED in the
    * direction banding implies: `flagged ⊆` the exact operator's flags
    * (a missed bucket collision can only MISS contamination, never
    * false-flag — spec-pinned subset law, recall measured on the
    * fixture), the mirror image of the Bloom tier's one-sidedness.
    * Every corpus vector appears in the output; those with no candidate
    * carry a NULL `max_cos_micro` and `flagged = false`.
    */
  def semanticOverlapLsh(
      corpusEmb: DataFrame,
      benchEmb: DataFrame,
      tauMicro: Long
  ): DataFrame = {
    require(tauMicro >= -1000000L && tauMicro <= 1000000L, s"need tauMicro in ±10⁶, got $tauMicro")
    val c = Similarity
      .lshIndex(corpusEmb)
      .select(col("vec_id"), col("embedding"), col("table"), col("bucket"))
    val b = Similarity
      .lshIndex(benchEmb)
      .select(col("embedding").as("b_emb"), col("table"), col("bucket"))
    val scored = c
      .join(b, Seq("table", "bucket"))
      .select(
        col("vec_id"),
        graft.functions.VectorFunctions.cosine(col("embedding"), col("b_emb")).as("cos")
      )
      .groupBy(col("vec_id"))
      .agg(expr("CAST(floor(max(cos) * 1000000 + 0.5) AS BIGINT)").as("max_cos_micro"))
    corpusEmb
      .select(col("vec_id"))
      .join(scored, Seq("vec_id"), "left")
      .withColumn("flagged", coalesce(col("max_cos_micro") >= tauMicro, lit(false)))
  }

  // ------------------------------------------------------ Bloom-filter tier

  /** Bloom-filter form of the benchmark index — the 100-TB shape of
    * decontamination when even the distinct-gram-hash index outgrows a
    * comfortable broadcast (a 10B-gram benchmark suite is ~80 GB of raw
    * hashes but a ~9 GB Bloom at 10 bits/gram): `nHashes` probes per
    * gram — the minhash affine family REMIXED through `remix32` (raw
    * affine probes stay correlated across grams whose `poly_hash`es are
    * arithmetically related, exactly the banding that broke raw-hash
    * KMV, and a Bloom FP needs only one such coincidence per probe; the
    * measured fixture FP mass dropped 21 → 0 when the avalanche went
    * in — every bit still DuckDB-pinnable) OR-ed into a `bits`-bit
    * array stored as
    * `bits/32`-word rows `(word_idx, word)` with 32 set-bits per BIGINT
    * word (shift ≤ 31, so no engine's shift semantics at bit 63 is in
    * play). The frame at rest is `bits/32` rows REGARDLESS of benchmark
    * size — that fixed footprint is the whole point.
    *
    * One-sided error, the direction a removal filter wants: a gram the
    * benchmark contains ALWAYS probes present (no missed contamination —
    * [[bloomReport]]'s `n_maybe ⊇` [[overlapReport]]'s exact counts,
    * spec-pinned); a clean gram false-positives at ~`(1-e^{-hn/bits})^h`.
    * Size `bits ≈ 10·grams` for ~1% FP and re-check flagged documents
    * with the exact [[overlapReport]] if the application can't eat it.
    *
    * Mergeable exactly: [[bloomMerge]] ORs word-wise ==
    * [[bloomIndex]] over the unioned benchmarks (spec-pinned) — so
    * per-benchmark-suite filters build independently and compose.
    */
  def bloomIndex(
      benchmark: DataFrame,
      bits: Long,
      nHashes: Int = 3,
      k: Int = DefaultK,
      textCol: String = "text"
  ): DataFrame = {
    require(bits >= 32 && bits % 32 == 0, s"need bits >= 32 and divisible by 32, got $bits")
    require(nHashes >= 1 && nHashes <= 16, s"need 1 <= nHashes <= 16, got $nHashes")
    val P = graft.functions.Kernels.HashPrime
    benchmarkIndex(benchmark, k, textCol)
      .select(col("gh"), explode(sequence(lit(0), lit(nHashes - 1))).as("i"))
      .select(
        (graft.functions.GraftExpressions
          .remix32(expr(s"(gh * (2*i + 1) + (i*i*31 + 7) % $P) % $P")) % bits).as("pos")
      )
      .groupBy(expr("pos div 32").as("word_idx"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT)))").as("word"))
  }

  /** Word-wise OR of Bloom filters built with the SAME (bits, nHashes,
    * k) — == [[bloomIndex]] over the concatenated benchmarks, exactly.
    */
  def bloomMerge(blooms: DataFrame*): DataFrame = {
    require(blooms.nonEmpty, "need at least one bloom")
    blooms
      .reduce(_.unionByName(_))
      .groupBy(col("word_idx"))
      .agg(expr("bit_or(word)").as("word"))
  }

  /** Per-document contamination report against a (broadcast)
    * [[bloomIndex]]: `(idCol, n_grams, n_maybe)` for every document with
    * at least one k-gram — `n_maybe` the count of distinct gram hashes
    * whose every probe bit is set. The corpus side is the
    * [[overlapReport]] scan shape with the gram join replaced by a
    * `bits/32`-row broadcast lookup: no shuffle before the per-document
    * aggregate, and the broadcast no longer grows with the benchmark.
    */
  def bloomReport(
      corpus: DataFrame,
      bloom: DataFrame,
      bits: Long,
      nHashes: Int = 3,
      k: Int = DefaultK,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(bits >= 32 && bits % 32 == 0, s"need bits >= 32 and divisible by 32, got $bits")
    require(nHashes >= 1 && nHashes <= 16, s"need 1 <= nHashes <= 16, got $nHashes")
    val P = graft.functions.Kernels.HashPrime
    corpus
      .select(col(idCol), explode(TextFunctions.shingleHashes(col(textCol), k)).as("gh"))
      .select(col(idCol), col("gh"), explode(sequence(lit(0), lit(nHashes - 1))).as("i"))
      .withColumn(
        "pos",
        graft.functions.GraftExpressions
          .remix32(expr(s"(gh * (2*i + 1) + (i*i*31 + 7) % $P) % $P")) % bits
      )
      .withColumn("word_idx", expr("pos div 32"))
      .join(broadcast(bloom), Seq("word_idx"), "left")
      .withColumn(
        "hit",
        coalesce(expr("(shiftright(word, CAST(pos % 32 AS INT)) & 1) = 1"), lit(false))
      )
      .groupBy(col(idCol), col("gh"))
      .agg((sum(when(col("hit"), 1L).otherwise(0L)) === nHashes.toLong).as("maybe"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("maybe"), 1L).otherwise(0L)).as("n_maybe")
      )
  }
}
