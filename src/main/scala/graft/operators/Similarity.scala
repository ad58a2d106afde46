package graft.operators

import graft.functions.{GraftExpressions, VectorFunctions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Similarity search over an embedding column (`array<float>`, fixed dim).
  * North-star extension — the reference has no vector operations
  * (SURVEY.md §2.1).
  *
  * Two tiers, same output contract (query_id, rnk, neighbor_id, cosine):
  *  - [[bruteForceTopK]]: exact. The (small) query set is broadcast against
  *    the corpus — a map-side nested loop with the codegen'd cosine kernel —
  *    and the per-query top-k is a bounded-heap AGGREGATE
  *    ([[graft.functions.TopKNeighbors]]): each partition reduces to ≤ k
  *    candidates before the shuffle, so no task ever sorts a full
  *    per-query candidate list (the round-1 Window/row_number plan did —
  *    VERDICT.md "What's wrong" #6).
  *  - [[annLsh]]: the approximate scale path: multi-table random-hyperplane
  *    LSH (L tables × W sign bits, codegen'd [[graft.functions.LshBuckets]])
  *    with multi-probe (all buckets within Hamming distance ≤ 2 of the
  *    query's bucket). Candidates come from an EQUI-join on (table, bucket),
  *    so shuffle volume is bounded by bucket occupancy; only candidates pay
  *    the exact cosine, and the same top-k aggregate finishes. Measured
  *    recall@10 vs [[bruteForceTopK]] ≈ 0.88 on the sf0.1 fixture (gated
  *    ≥ 0.8 in AnnRecallSpec) — this corpus's true neighbors sit at cosine
  *    ~0.3, so tighter tables would collapse recall; L/W/probe radius are
  *    the knobs to retune per corpus.
  *
  * On top of the two tiers: [[annIvf]] (trained-quantizer cell pruning,
  * √n-scaled codebook), [[annIvfSampled]] (same search, codebook fitted on
  * an id sample — the production trainer), [[annQuantized]] /
  * [[annIvfQuantized]] (int8 candidate scoring), and the SemDeDup pair
  * [[semDedup]] / [[semDedupBalanced]] (occupancy-pinned vs
  * √-balanced semantic dedup over the same codebooks). Every trained
  * path also has a `*With` variant taking a first-class [[Codebook]]
  * ([[trainCodebook]] / [[persistCodebook]] / [[releaseCodebook]]) —
  * train once, optionally on a sample, serve many consumers.
  */
object Similarity {

  val LshTables = 12
  val LshPlanesPerTable = 10
  val Dim = 64
  val IvfProbes = 12
  val IvfLloydRounds = 2

  /** SemDeDup target cell occupancy: cells = ⌈n/64⌉ pins the expected
    * cell size at 64 vectors, so the in-cell all-pairs stage does
    * Σ|cell|² ≈ 64·n work — LINEAR in the corpus and invariant to
    * scale-up (the round-5 compile-time `IvfCells = 32` made it n²/32:
    * the one genuine scale-killer the r05 audit found). Derived in-plan
    * from the corpus count, the same way `SequencePack.packAcrossAuto`
    * derives its bucket count.
    */
  val SemDedupCellSize = 64

  /** ANN codebook size as a function of the corpus count, in-plan:
    * C = ⌈√(n/2)⌉. Per query, IVF search pays two terms — scoring the
    * C-row codebook and scanning ~`IvfProbes`·n/C candidates; C ∝ √n
    * keeps BOTH sublinear (√n each) where any fixed C leaves the
    * candidate scan a constant fraction of the corpus. The √(n/2)
    * constant is calibrated so the bench-scale fixture (n = 2000) lands
    * on the same 32-cell codebook the recall gates were measured on;
    * `IvfProbes` stays the recall knob.
    *
    * Deterministic across engines: n/2.0 is exact (power-of-two divisor),
    * IEEE-754 sqrt is correctly rounded in both the JVM and DuckDB, and
    * ceil is exact — so Spark and the oracle derive the identical C.
    */
  def annCells(n: Column): Column =
    ceil(sqrt(n.cast("double") / lit(2.0))).cast("long")

  /** SemDeDup cell count: C = ⌈n/[[SemDedupCellSize]]⌉ (see there). The
    * float path is exact: n+63 ≤ 2^53 and the divisor is a power of two,
    * so Spark and DuckDB's `(n + 63) // 64` agree bit-for-bit.
    */
  def semDedupCells(n: Column): Column =
    floor((n.cast("double") + lit((SemDedupCellSize - 1).toDouble)) / lit(SemDedupCellSize.toDouble))
      .cast("long")

  /** Centroid means are computed over integer-QUANTIZED components
    * (`floor(x·1e6 + 0.5)` summed as longs): integer sums are
    * order-independent, so the resulting centroid doubles are bit-identical
    * between Spark and the DuckDB oracle regardless of aggregation order —
    * a raw double SUM would drift by partition order and flip boundary
    * cell assignments.
    */
  val IvfQuant = 1000000.0

  /** Probe masks: XOR patterns for Hamming distance 0, 1 and 2 over
    * W-bit buckets — 1 + W + W(W−1)/2 probes per (query, table).
    */
  def probeMasks(w: Int): Seq[Long] = {
    val singles = (0 until w).map(j => 1L << j)
    val doubles = for {
      a <- 0 until w
      b <- (a + 1) until w
    } yield (1L << a) | (1L << b)
    0L +: (singles ++ doubles)
  }

  /** Bounded per-query top-k over a scored (query_id, neighbor_id, cos)
    * frame: partial heaps per partition, one merge, posexplode to ranks.
    */
  private def topK(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("query_id"))
      .agg(GraftExpressions.top_k_neighbors(col("cos"), col("neighbor_id"), k).as("nn"))
      .select(col("query_id"), posexplode(col("nn")).as(Seq("pos", "n")))
      .select(
        col("query_id"),
        (col("pos") + lit(1)).cast("long").as("rnk"),
        col("n.neighbor_id").as("neighbor_id"),
        round(col("n.cos"), 6).as("cosine")
      )

  /** Exact top-k neighbors for each query vector (queries = rows whose
    * `vec_id` is in `queryIds`), self-matches excluded, ties broken by
    * neighbor id for full determinism.
    */
  def bruteForceTopK(emb: DataFrame, queryIds: Seq[Long], k: Int): DataFrame =
    topK(bruteScored(emb, queryIds), k)

  /** The exact all-candidates scored frame shared by [[bruteForceTopK]]
    * and [[hardNegatives]]: every (query, candidate) cosine, self-matches
    * excluded.
    */
  private def bruteScored(emb: DataFrame, queryIds: Seq[Long]): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding"))
    val queries = e.filter(col("vec_id").isin(queryIds: _*))
    broadcast(queries.as("q"))
      .join(e.as("c"), col("q.vec_id") =!= col("c.vec_id"))
      .select(
        col("q.vec_id").as("query_id"),
        col("c.vec_id").as("neighbor_id"),
        VectorFunctions.cosine(col("q.embedding"), col("c.embedding")).as("cos")
      )
  }

  /** Hard-negative mining for contrastive training (the retrieval-training
    * data operator: DPR/Contriever-style "similar but NOT a positive"):
    * per query, the top-k candidates by cosine among those BELOW the
    * near-duplicate threshold `maxCos` — the most-confusable negatives,
    * with the near-dups (which would be false negatives, poisoning the
    * contrastive loss) excluded by the same cosine the ranking uses.
    *
    * The exclusion is a scan-side predicate on the scored frame, so it
    * composes with ANY candidate generator; this exact variant scores all
    * candidates, [[hardNegativesIvf]] is the cell-pruned scale path.
    */
  def hardNegatives(emb: DataFrame, queryIds: Seq[Long], k: Int, maxCos: Double): DataFrame =
    topK(bruteScored(emb, queryIds).filter(col("cos") < maxCos), k)

  /** [[hardNegatives]] over the IVF candidate stream: identical filter,
    * cell-pruned candidates — the billion-vector mining shape (candidates
    * per query bounded by probed-cell occupancy, not corpus size).
    */
  def hardNegativesIvf(
      emb: DataFrame,
      queryIds: Seq[Long],
      k: Int,
      maxCos: Double,
      every: Int = 1
  ): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding"))
    ivfSearch(e, trainCodebook(emb, every).centroids, queryIds, k, maxCos = Some(maxCos))
  }

  /** Attach the L-table LSH signature column `buckets` (array<long>). */
  def withBuckets(emb: DataFrame): DataFrame =
    emb.withColumn(
      "buckets",
      GraftExpressions.lsh_buckets(col("embedding"), LshTables, LshPlanesPerTable, Dim)
    )

  /** Score every vector of `e` against every centroid — the shared
    * assignment input for [[annIvf]] and [[semDedup]]. Column names reuse
    * the top-k aggregate's (query_id, neighbor_id, cos) contract.
    */
  private def cellScores(e: DataFrame, cent: DataFrame): DataFrame = e
    .crossJoin(broadcast(cent))
    .select(
      col("vec_id").as("query_id"),
      col("cell").as("neighbor_id"),
      VectorFunctions.cosine(col("embedding"), col("c_emb")).as("cos")
    )

  /** The deterministic k-means codebook over `e` (`vec_id`, `embedding`):
    * seed centroids are every ⌊n/C⌋-th DATA vector, refined by
    * [[IvfLloydRounds]] fixed Lloyd iterations (argmax-cosine assignment,
    * integer-quantized element-wise means — see [[IvfQuant]]). Fully lazy
    * and oracle-reproducible; shared by [[annIvf]] and [[semDedup]].
    *
    * `cellsOf` derives the codebook size C from the corpus count IN-PLAN
    * (the count is a 1-row frame cross-joined into the seed, so no knob
    * is a compile-time constant): [[annCells]] for the ANN paths,
    * [[semDedupCells]] for semantic dedup. The trainer's own cost is
    * n·C cosines per Lloyd round (every vector scores every centroid);
    * at production scale the standard recipe is to TRAIN on a fixed-size
    * sample (the codebook only needs the distribution, not the corpus)
    * and reuse this plan shape for assignment — the stage this module
    * keeps linear-per-vector regardless.
    */
  def trainedCentroids(e: DataFrame, cellsOf: Column => Column): DataFrame = {
    val nRow = e.agg(count(lit(1)).as("__n"))
    val seed = e
      .crossJoin(broadcast(nRow))
      .withColumn("__cells", greatest(lit(1L), cellsOf(col("__n"))))
      .withColumn("__stride", greatest(lit(1L), expr("__n div __cells")))
      .filter(
        col("vec_id") % col("__stride") === 0 &&
          col("vec_id") < col("__stride") * col("__cells")
      )
      .select(expr("vec_id div __stride").as("cell"), col("embedding").as("c_emb"))

    def assign(cent: DataFrame): DataFrame =
      topK(cellScores(e, cent), 1)
        .select(col("query_id").as("vec_id"), col("neighbor_id").as("cell"))

    // one Lloyd round: argmax-cosine assignment, then integer-quantized
    // element-wise mean per (cell, component); empty cells drop out (their
    // seeds attracted nothing — identical behavior in the oracle's GROUP BY)
    def refine(cent: DataFrame): DataFrame =
      e.join(assign(cent), "vec_id")
        .select(col("cell"), posexplode(col("embedding")).as(Seq("j", "x")))
        .groupBy(col("cell"), col("j"))
        .agg(
          sum(floor(col("x").cast("double") * lit(IvfQuant) + lit(0.5)).cast("long")).as("sx"),
          count(lit(1)).as("cnt")
        )
        .groupBy(col("cell"))
        .agg(
          transform(
            array_sort(
              collect_list(
                struct(
                  col("j"),
                  (col("sx").cast("double") / (col("cnt") * lit(IvfQuant))).cast("float").as("v")
                )
              )
            ),
            s => s.getField("v")
          ).as("c_emb")
        )

    (1 to IvfLloydRounds).foldLeft(seed)((c, _) => refine(c))
  }

  /** ANN-sized codebook ([[annCells]]) — the default for search paths. */
  def trainedCentroids(e: DataFrame): DataFrame = trainedCentroids(e, annCells)

  /** A trained codebook as a FIRST-CLASS value — the train-once /
    * serve-many lifecycle of a production vector deployment (the
    * [[NgramLM.Model]] pattern): fit the Lloyd chain once (optionally on
    * a sample), [[persistCodebook]] it, and run any number of
    * [[annIvfWith]] / [[annIvfQuantizedWith]] / [[semDedupWith]] /
    * [[semDedupBalancedWith]] calls against it without ever re-training.
    * The per-call convenience paths ([[annIvf]], [[semDedup]], …) are
    * one-liners over this — same plans, fresh codebook each call.
    */
  final case class Codebook(centroids: DataFrame)

  /** Fit a [[Codebook]] on the deterministic 1-in-`every` id sample of
    * the corpus (`every = 1` → the full trainer). Sampling semantics are
    * exactly [[annIvfSampled]]'s: the sample re-indexes to dense ids so
    * the stride seed sees the id structure it assumes, and the codebook
    * size derives from the SAMPLE count (points-per-centroid preserved —
    * see the recall measurement there). Lazy: composing this triggers no
    * jobs; pair with [[persistCodebook]] when the codebook will serve
    * more than one consumer.
    */
  def trainCodebook(
      emb: DataFrame,
      every: Int = 1,
      cellsOf: Column => Column = annCells
  ): Codebook = {
    require(every >= 1, s"need every >= 1, got $every")
    val e = emb.select(col("vec_id"), col("embedding"))
    val fit =
      if (every == 1) e
      else
        e.filter(col("vec_id") % lit(every.toLong) === 0)
          .select(expr(s"vec_id div $every").as("vec_id"), col("embedding"))
    Codebook(trainedCentroids(fit, cellsOf))
  }

  /** Persist the codebook frame (MEMORY_AND_DISK). The CALLER owns the
    * lifecycle — pair with [[releaseCodebook]], or the cached centroids
    * outlive every consumer (the [[NgramLM.persistModel]] contract).
    */
  def persistCodebook(cb: Codebook): Codebook =
    Codebook(cb.centroids.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Drop [[persistCodebook]]'s cache entry. */
  def releaseCodebook(cb: Codebook): Unit = {
    cb.centroids.unpersist()
    ()
  }

  /** [[annIvf]] against a caller-supplied [[Codebook]] — assignment,
    * probing, and candidate scoring unchanged; no training in-plan.
    */
  def annIvfWith(emb: DataFrame, cb: Codebook, queryIds: Seq[Long], k: Int): DataFrame =
    ivfSearch(emb.select(col("vec_id"), col("embedding")), cb.centroids, queryIds, k)

  /** IVF ANN with a deterministic k-means quantizer: seed centroids are
    * every ⌊n/C⌋-th DATA vector, refined by `IvfLloydRounds` fixed Lloyd
    * iterations (assign to max-cosine cell, recompute each cell's
    * element-wise mean over quantized components — see [[IvfQuant]]).
    * Fixed rounds + integer-exact means keep the whole trainer
    * reproducible in the DuckDB oracle, unlike seeded-random k-means.
    * Corpus vectors are assigned to their max-cosine cell; queries probe
    * their `IvfProbes` nearest cells. Assignment and probing both reuse
    * the bounded top-k aggregate (k=1 / k=nprobe) — no window sorts
    * anywhere. The candidate join is an equi-join on cell id, so shuffle
    * volume is bounded by cell occupancy.
    *
    * FULLY LAZY: the stride is a 1-row count frame cross-joined into the
    * seed plan (mirroring the oracle's scalar subquery), so composing the
    * query triggers zero Spark jobs — round 2's `e.count()` at build time
    * broke that contract. At 100 TB the trainer runs over the same
    * distributed plan (a production deployment trains on a sample,
    * persists codebook + assignments — [[ivfIndex]] — and serves from
    * the artifact: [[annIvfServe]]).
    */
  def annIvf(emb: DataFrame, queryIds: Seq[Long], k: Int): DataFrame =
    annIvfWith(emb, trainCodebook(emb), queryIds, k)

  // ------------------------------------------------- IVF serve artifacts

  /** The persisted IVF ARTIFACT: every corpus vector tagged with its
    * argmax-cosine cell — `(vec_id, cell, embedding)`. Write this (and
    * the codebook's `(cell, c_emb)` frame) to parquet ONCE at ingest and
    * every query batch is served with ZERO training jobs in-plan
    * ([[annIvfServe]]) — the q110 `annPqAdcOnCodes` discipline applied
    * to plain IVF. Cell assignment is the same rank-1 bounded top-k as
    * the in-plan search path, so serving from the artifact is
    * bit-identical to [[annIvfWith]] on the same codebook (spec-pinned).
    * Partition the parquet by `cell` and a probe's candidate read prunes
    * to its cells' files.
    */
  def ivfIndex(emb: DataFrame, cb: Codebook): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding"))
    val assigned = topK(cellScores(e, cb.centroids), 1)
      .select(col("query_id").as("vec_id"), col("neighbor_id").as("cell"))
    e.join(assigned, Seq("vec_id")).select(col("vec_id"), col("cell"), col("embedding"))
  }

  /** The int8 sibling of [[ivfIndex]]: `(vec_id, cell, codes)` — the
    * quantized candidate artifact [[annIvfQuantizedServe]] scans at a
    * quarter of the bytes. (The `scale` column is dropped: ranking reads
    * [[cosineCodes]], which is scale-invariant.)
    */
  def ivfIndexQuantized(emb: DataFrame, cb: Codebook): DataFrame =
    ivfIndex(emb, cb)
      .join(quantizeInt8(emb.select(col("vec_id"), col("embedding"))), Seq("vec_id"))
      .select(col("vec_id"), col("cell"), col("codes"))

  /** The PRODUCTION IVF serve path: rank queries against a pre-built
    * [[ivfIndex]] artifact + its codebook — NO Lloyd chain anywhere in
    * the plan. `queries` carries full-precision `(vec_id, embedding)`
    * rows; each probes its `IvfProbes` max-cosine cells against the
    * (tiny, broadcast) centroid frame, and candidates come from the cell
    * equi-join against the artifact. Result == [[annIvfWith]] on the
    * codebook that built the artifact, EXACTLY (spec-pinned law): probe
    * ranking is per-query-local, so restricting the cell scoring to the
    * query rows changes nothing.
    */
  def annIvfServe(index: DataFrame, centroids: DataFrame, queries: DataFrame, k: Int): DataFrame =
    topK(ivfServeScored(index, centroids, queries), k)

  /** The raw scored candidates of [[annIvfServe]] (cosines unrounded —
    * [[annIvfServeFresh]] must merge them with tail scores BEFORE the
    * top-k rounds for display, or 1e-6 ties could re-order).
    */
  private def ivfServeScored(
      index: DataFrame,
      centroids: DataFrame,
      queries: DataFrame
  ): DataFrame = {
    val q = queries.select(col("vec_id"), col("embedding"))
    val probes = topK(cellScores(q, centroids), IvfProbes)
      .select(col("query_id").as("vec_id"), col("neighbor_id").as("cell"))
    val queryCells = q.join(probes, Seq("vec_id"))
    broadcast(queryCells.as("q"))
      .join(
        index.as("c"),
        col("q.cell") === col("c.cell") && col("q.vec_id") =!= col("c.vec_id")
      )
      .select(
        col("q.vec_id").as("query_id"),
        col("c.vec_id").as("neighbor_id"),
        VectorFunctions.cosine(col("q.embedding"), col("c.embedding")).as("cos")
      )
  }

  /** Serve from an [[ivfIndex]] artifact PLUS a fresh un-indexed TAIL —
    * the live shape of a maintained deployment between codebook refits
    * ([[graft.streaming.StreamingOps.maintainIvf]]): vectors streamed
    * since the last refit aren't in any cell yet, so the artifact's
    * candidates union an EXHAUSTIVE scan of the tail (exact — a query
    * whose true neighbor just arrived finds it at full recall; the tail
    * is refit-interval-bounded, so the scan is |Q|·tail cosines against
    * a broadcast query frame, the q30 constant-side BNLJ shape). With an
    * empty tail this IS [[annIvfServe]]; both candidate sets merge raw
    * and round once in the final top-k.
    */
  def annIvfServeFresh(
      index: DataFrame,
      centroids: DataFrame,
      tail: DataFrame,
      queries: DataFrame,
      k: Int
  ): DataFrame = {
    val q = queries.select(col("vec_id"), col("embedding"))
    val fresh = broadcast(q.as("q"))
      .join(
        tail.select(col("vec_id"), col("embedding")).as("c"),
        col("q.vec_id") =!= col("c.vec_id")
      )
      .select(
        col("q.vec_id").as("query_id"),
        col("c.vec_id").as("neighbor_id"),
        VectorFunctions.cosine(col("q.embedding"), col("c.embedding")).as("cos")
      )
    topK(ivfServeScored(index, centroids, q).unionByName(fresh), k)
  }

  /** [[annIvfServe]] over the [[ivfIndexQuantized]] artifact: queries
    * quantize in-plan (|Q| rows — free), candidates read codes. Result
    * == [[annIvfQuantizedWith]] on the artifact's codebook exactly.
    */
  def annIvfQuantizedServe(
      index: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      k: Int
  ): DataFrame = {
    val q = queries.select(col("vec_id"), col("embedding"))
    val probes = topK(cellScores(q, centroids), IvfProbes)
      .select(col("query_id").as("vec_id"), col("neighbor_id").as("cell"))
    val queryCells = quantizeInt8(q).join(probes, Seq("vec_id"))
    val scored = broadcast(queryCells.as("q"))
      .join(
        index.as("c"),
        col("q.cell") === col("c.cell") && col("q.vec_id") =!= col("c.vec_id")
      )
      .select(
        col("q.vec_id").as("query_id"),
        col("c.vec_id").as("neighbor_id"),
        cosineCodes(col("q.codes"), col("c.codes")).as("cos")
      )
    topK(scored, k)
  }

  /** DIVERSITY-aware top-k — maximal marginal relevance (Carbonell &
    * Goldstein, SIGIR 1998): select `k` results one at a time, each
    * round picking the candidate maximizing
    * `λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)` — relevance traded
    * against redundancy with what's already chosen. THE selection rule
    * for "k nearest but not near-duplicate" uses: few-shot example
    * retrieval that shouldn't return five copies of the same boilerplate,
    * hard-negative pools that should span failure modes, eval-set
    * sampling that shouldn't cluster. Plain top-k is the λ=1 corner.
    *
    * Determinism — the q34 salience rule, learned here the hard way:
    * the first cut combined double cosines as `λ·rel − (1−λ)·pen` and a
    * sub-1e-6 argmax tie flipped a round-3 pick between engines. The
    * scoring is therefore integer micro-units end to end: cosines
    * quantize once via `floor(x·10⁶ + 0.5)` (identical IEEE inputs →
    * identical integers — the IvfQuant discipline) and
    * `mmr_nano = λₘ·rel_u − (1000−λₘ)·pen_u` (milli·micro = nano units,
    * deliberately UNDIVIDED — integral division of a negative score is
    * where engine semantics diverge, and the order is the same) with
    * (score desc, id asc) argmax ties is bit-determined everywhere.
    * Empty-set penalty is 0.
    *
    * Scale shape: the pool is `|Q|·poolK` rows (bounded by construction
    * — the expensive part is the pool retrieval, which is any ANN tier's
    * job; brute here for exactness at gate scale), and the `k` selection
    * rounds are driver-iterated joins over that bounded frame
    * (≤ poolK·k pairwise cosines per query, checkpoint-scoped like every
    * iterative loop in the engine). Selection cost is independent of
    * corpus size.
    */
  def mmrTopK(
      emb: DataFrame,
      queryIds: Seq[Long],
      k: Int,
      poolK: Int = 20,
      lambdaMilli: Int = 700
  ): DataFrame = {
    require(k >= 1 && poolK >= k, s"need 1 <= k <= poolK, got k=$k poolK=$poolK")
    require(lambdaMilli >= 0 && lambdaMilli <= 1000, s"need lambdaMilli in [0,1000], got $lambdaMilli")
    val e = emb.select(col("vec_id"), col("embedding"))
    val pool = bruteForceTopK(e, queryIds, poolK)
      .select(
        col("query_id"),
        col("neighbor_id"),
        expr("CAST(floor(cosine * 1000000 + 0.5) AS BIGINT)").as("rel_u")
      )
      .join(
        e.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb")),
        Seq("neighbor_id")
      )
      .select(col("query_id"), col("neighbor_id"), col("rel_u"), col("c_emb"))
      .localCheckpoint(true)
    var selected = pool
      .filter(lit(false))
      .select(col("query_id"), lit(0L).as("rnk"), col("neighbor_id"), lit(0L).as("mmr_nano"), col("c_emb"))
    for (r <- 1 to k) {
      val cand = pool.join(
        selected.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"),
        "left_anti"
      )
      val pens = cand
        .select(col("query_id"), col("neighbor_id"), col("c_emb"))
        .join(selected.select(col("query_id"), col("c_emb").as("s_emb")), Seq("query_id"))
        .select(
          col("query_id"),
          col("neighbor_id"),
          VectorFunctions.cosine(col("c_emb"), col("s_emb")).as("sim")
        )
        .groupBy(col("query_id"), col("neighbor_id"))
        .agg(max(expr("CAST(floor(sim * 1000000 + 0.5) AS BIGINT)")).as("pen_u"))
      val scored = cand
        .join(pens, Seq("query_id", "neighbor_id"), "left")
        .withColumn(
          "mmr_u",
          expr(s"$lambdaMilli * rel_u - ${1000 - lambdaMilli} * coalesce(pen_u, 0L)")
        )
      val pick = scored
        .groupBy(col("query_id"))
        .agg(
          GraftExpressions
            .top_k_neighbors(col("mmr_u").cast("double"), col("neighbor_id"), 1)
            .as("nn")
        )
        .select(col("query_id"), explode(col("nn")).as("n"))
        .select(
          col("query_id"),
          lit(r.toLong).as("rnk"),
          col("n.neighbor_id").as("neighbor_id"),
          col("n.cos").cast("long").as("mmr_nano")
        )
        .join(pool.select(col("query_id"), col("neighbor_id"), col("c_emb")), Seq("query_id", "neighbor_id"))
        .select(col("query_id"), col("rnk"), col("neighbor_id"), col("mmr_nano"), col("c_emb"))
      selected = selected.unionByName(pick).localCheckpoint(true)
    }
    selected.select(col("query_id"), col("rnk"), col("neighbor_id"), col("mmr_nano"))
  }

  /** [[annIvf]] with the codebook fitted on the deterministic 1-in-`every`
    * id sample of the corpus — the PRODUCTION trainer shape: the Lloyd
    * chain costs (n/every)·C cosines per round instead of n·C, while the
    * stages that must touch every vector (cell assignment, candidate
    * scoring) are unchanged. The sample re-indexes to dense ids
    * (`vec_id div every`) so the stride-seeded trainer sees the same id
    * structure it assumes on a full corpus, and the codebook size is the
    * SAMPLE-derived [[annCells]] — deliberately not compensated back to
    * the full-corpus C: fewer centroids trained on fewer points keeps
    * the points-per-centroid ratio (the codebook-quality driver; ~40+ is
    * the standard k-means floor) at the full-trainer level, at the price
    * of a √every-larger candidate scan per cell. Measured on the bench
    * fixture: compensated cells cost recall (0.76 < the 0.8 gate at
    * every=2), sample-derived cells hold it. At 100 TB the sample rate
    * caps trainer cost at a constant; recall is gated alongside the
    * full-trainer path in AnnRecallSpec.
    */
  def annIvfSampled(emb: DataFrame, queryIds: Seq[Long], k: Int, every: Int = 2): DataFrame =
    annIvfWith(emb, trainCodebook(emb, every), queryIds, k)

  /** The IVF search stage shared by the trainer variants: assign corpus
    * vectors to their argmax cell, probe each query's `IvfProbes` nearest
    * cells, score candidates from the cell equi-join, bounded-heap top-k.
    */
  private def ivfSearch(
      e: DataFrame,
      centroids: DataFrame,
      queryIds: Seq[Long],
      k: Int,
      maxCos: Option[Double] = None
  ): DataFrame = {
    // ONE ranking serves both sides (mirroring the oracle's ranked_cells):
    // corpus assignment is rank 1, query probes are ranks 1..IvfProbes —
    // identical aggregate subtrees, so the exchange under them is computed
    // once and reused instead of re-running the Lloyd chain per consumer
    val rankedCells = topK(cellScores(e, centroids), IvfProbes)
      .select(col("query_id").as("vec_id"), col("rnk"), col("neighbor_id").as("cell"))
    val corpusCells = e.join(rankedCells.filter(col("rnk") === 1).select("vec_id", "cell"), "vec_id")
    val queryCells = e
      .filter(col("vec_id").isin(queryIds: _*))
      .join(rankedCells.select("vec_id", "cell"), "vec_id")
    // no distinct here (unlike LSH): rank-1 assignment puts each corpus
    // vector in exactly ONE cell, so a (query, candidate) pair can match
    // at most one of the query's probe cells — dedup would only add a
    // full exchange of the candidate set before the top-k aggregate
    val scored = broadcast(queryCells.as("q"))
      .join(
        corpusCells.as("c"),
        col("q.cell") === col("c.cell") && col("q.vec_id") =!= col("c.vec_id")
      )
      .select(
        col("q.vec_id").as("query_id"),
        col("c.vec_id").as("neighbor_id"),
        VectorFunctions.cosine(col("q.embedding"), col("c.embedding")).as("cos")
      )
    topK(maxCos.fold(scored)(m => scored.filter(col("cos") < m)), k)
  }

  /** ANN top-k via multi-table multi-probe LSH. The corpus explodes to
    * (table, bucket) rows once; each query probes every bucket within
    * Hamming ≤ 2 per table. Candidates are deduped before ranking so a
    * neighbor found by several tables is scored once.
    */
  def annLsh(emb: DataFrame, queryIds: Seq[Long], k: Int): DataFrame =
    annLshServe(
      lshIndex(emb),
      emb.select(col("vec_id"), col("embedding")).filter(col("vec_id").isin(queryIds: _*)),
      k
    )

  /** EMBEDDING JOIN — for EVERY left vector, its ranked top-k most
    * similar right vectors: the corpus×corpus primitive behind
    * entity/record linkage, cross-corpus near-dup attribution with
    * ranked evidence, and candidate generation for distillation pairs.
    * [[annLsh]]/[[annLshServe]] serve a SMALL query batch (the query
    * side broadcasts and multi-probes); here BOTH sides are
    * corpus-sized, so candidates come from the exact (table, bucket)
    * LSH equi-join — the
    * [[graft.operators.Decontaminate.semanticOverlapLsh]] banding
    * generalized from a max-flag to ranked top-k. No multi-probe: probe
    * expansion multiplies a corpus-sized side ~19×; recall is the
    * banding recall (near-dups collide with high probability — the
    * semdecon smoke measured 100% planted recall at 1M×200k — and
    * L = [[LshTables]] is the knob). Duplicate collisions (a pair
    * sharing several tables) collapse via one distinct on the scored
    * pair before the heap. Left vectors with NO candidate are absent
    * from the output (banding one-sidedness — join, not audit,
    * semantics; [[graft.operators.Decontaminate.semanticOverlapLsh]] is
    * the keep-everything audit form). Joining a corpus to itself
    * returns each vector's self-match at rank 1 — filter `query_id =!=
    * neighbor_id` downstream if unwanted.
    *
    * Output `(query_id, rnk, neighbor_id, cosine)` — the [[annLsh]]
    * contract, per-left top-k via the bounded-heap aggregate (map-side
    * partials, no per-key sort).
    */
  def annJoin(left: DataFrame, right: DataFrame, k: Int): DataFrame =
    annJoinServe(lshIndex(left), lshIndex(right), k)

  /** [[annJoin]] against PRE-BUILT [[lshIndex]] artifacts — the serve
    * form: both sides' bucket rows are final at compute time
    * (data-independent hyperplanes), so a pipeline that maintains its
    * LSH artifacts (ingest-time [[lshIndex]] writes, or streaming
    * [[graft.streaming.StreamingOps.Lsm.lsh]] appends) joins
    * them directly with zero signature computation — the q125/q129
    * artifact discipline applied to the corpus×corpus join. Identical
    * to [[annJoin]] over the source frames (spec-pinned: the in-plan
    * path IS this over freshly-built indexes).
    */
  def annJoinServe(leftIndex: DataFrame, rightIndex: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val l = leftIndex
      .select(
        col("vec_id").as("query_id"),
        col("embedding").as("l_emb"),
        col("table"),
        col("bucket")
      )
    val r = rightIndex
      .select(
        col("vec_id").as("neighbor_id"),
        col("embedding").as("r_emb"),
        col("table"),
        col("bucket")
      )
    val scored = l
      .join(r, Seq("table", "bucket"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        VectorFunctions.cosine(col("l_emb"), col("r_emb")).as("cos")
      )
      .distinct()
    topK(scored, k)
  }

  /** The persisted LSH ARTIFACT: the corpus exploded to one row per
    * (table, bucket) membership — `(vec_id, embedding, table, bucket)`,
    * L rows per vector. Write it to parquet once at ingest (partition
    * by `table`, sort by `bucket`, and a probe's candidate read prunes
    * to its bucket ranges) and every query batch is served by
    * [[annLshServe]] with zero signature computation over the corpus —
    * the [[ivfIndex]] discipline applied to the LSH tier. The bucket
    * bits are data-independent (deterministic hyperplanes), so the
    * artifact never retrains; a growing corpus APPENDS its new rows,
    * which is the maintenance property IVF's trained codebook can't
    * offer (its cells drift with the distribution — re-fit on a sample,
    * re-assign; see [[trainCodebook]]).
    */
  def lshIndex(emb: DataFrame): DataFrame =
    withBuckets(emb.select(col("vec_id"), col("embedding")))
      .select(col("vec_id"), col("embedding"), posexplode(col("buckets")).as(Seq("table", "bucket")))

  /** Multi-probe LSH search against a pre-built [[lshIndex]] artifact:
    * the query rows (full-precision `(vec_id, embedding)`) compute their
    * OWN buckets in-plan (|Q| rows — free), probe every bucket within
    * Hamming ≤ 2 per table, and candidates come from the (table, bucket)
    * equi-join against the artifact. Result == [[annLsh]] EXACTLY
    * (spec-pinned): the signature expression is row-local, so computing
    * it corpus-side at build time or serve time is indistinguishable.
    */
  def annLshServe(index: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val masks = probeMasks(LshPlanesPerTable).toArray
    val q = withBuckets(queries.select(col("vec_id"), col("embedding")))
      .select(col("vec_id"), col("embedding"), posexplode(col("buckets")).as(Seq("table", "bucket")))
      .select(
        col("vec_id"),
        col("embedding"),
        col("table"),
        explode(transform(lit(masks), m => col("bucket").bitwiseXOR(m))).as("probe")
      )
    val scored = broadcast(q.as("q"))
      .join(
        index.as("c"),
        col("q.table") === col("c.table") && col("q.probe") === col("c.bucket") &&
          col("q.vec_id") =!= col("c.vec_id")
      )
      .select(
        col("q.vec_id").as("query_id"),
        col("c.vec_id").as("neighbor_id"),
        VectorFunctions.cosine(col("q.embedding"), col("c.embedding")).as("cos")
      )
      .distinct()
    topK(scored, k)
  }

  /** IVF cell pruning + INT8 candidate scoring — the memory-compressed
    * billion-scale recipe (the integer sibling of FAISS's IVFADC): the
    * trainer, corpus assignment, and query probing run exactly as
    * [[annIvf]] (full-precision centroids — the C-row codebook is tiny,
    * compressing it buys nothing), but the CANDIDATE scan — the stage
    * that touches corpus vectors per query and dominates memory traffic
    * at scale — reads int8 codes via [[cosineCodes]]: a quarter of the
    * bytes through the shuffle and cache, composed from the two gated
    * building blocks (q37's IVF, q77's quantization) with no new
    * machinery. Recall gated ≥ 0.8 in AnnRecallSpec (cell-pruning recall
    * × int8 rounding ≈ the q37 figure: int8 costs almost nothing).
    */
  def annIvfQuantized(emb: DataFrame, queryIds: Seq[Long], k: Int): DataFrame =
    annIvfQuantizedWith(emb, trainCodebook(emb), queryIds, k)

  /** [[annIvfQuantized]] against a caller-supplied [[Codebook]]. */
  def annIvfQuantizedWith(emb: DataFrame, cb: Codebook, queryIds: Seq[Long], k: Int): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding"))
    val rankedCells = topK(cellScores(e, cb.centroids), IvfProbes)
      .select(col("query_id").as("vec_id"), col("rnk"), col("neighbor_id").as("cell"))
    val q8 = quantizeInt8(e)
    val corpusCells = q8.join(rankedCells.filter(col("rnk") === 1).select("vec_id", "cell"), "vec_id")
    val queryCells = q8
      .filter(col("vec_id").isin(queryIds: _*))
      .join(rankedCells.select("vec_id", "cell"), "vec_id")
    val scored = broadcast(queryCells.as("q"))
      .join(
        corpusCells.as("c"),
        col("q.cell") === col("c.cell") && col("q.vec_id") =!= col("c.vec_id")
      )
      .select(
        col("q.vec_id").as("query_id"),
        col("c.vec_id").as("neighbor_id"),
        cosineCodes(col("q.codes"), col("c.codes")).as("cos")
      )
    // rank-1 assignment → one cell per corpus vector → no duplicate
    // candidates (see ivfSearch); distinct would re-exchange for nothing
    topK(scored, k)
  }

  /** SEMANTIC dedup (SemDeDup-style: cluster the embedding space, then
    * prune near-identical vectors WITHIN each cluster — Abbas et al. 2023,
    * arXiv:2303.09540): k-means cells from [[trainedCentroids]], exact
    * pairwise cosine inside each cell, connected components over the
    * ≥-threshold pairs, keep the min-id member per component. Returns one
    * row per vector: `(vec_id, cell, cluster_id, keep)`.
    *
    * This is the scale answer to exact all-pairs ([[Dedup.embeddingPairs]]):
    * the O(n²) comparison collapses to Σ|cell|² — the candidate join is an
    * EQUI-join on cell id, so shuffle volume is bounded by cell occupancy,
    * exactly like [[annIvf]]'s candidate stage. The cell count is derived
    * in-plan as ⌈n/[[SemDedupCellSize]]⌉ ([[semDedupCells]]), pinning
    * expected occupancy — and therefore per-cell pair work — at the
    * target regardless of corpus size: the pair stage is ~64·n
    * comparisons at any scale. Cross-cell near-dups are deliberately
    * missed (the SemDeDup approximation; [[SemDedupCellSize]] trades
    * recall for cost). Components reuse the star-contraction core
    * ([[Dedup.componentsOf]]) — O(log n) rounds, exact convergence.
    *
    * The assignment frame is localCheckpoint-ed before clustering: the
    * component loop runs one action per round, and each would otherwise
    * re-run the whole Lloyd chain; eager materialization here matches the
    * cluster family's contract (q32/q36/q38 compose the same way).
    */
  def semDedup(emb: DataFrame, threshold: Double): DataFrame =
    semDedupWith(emb, trainCodebook(emb, cellsOf = semDedupCells), threshold)

  /** [[semDedup]] with the codebook fitted on the deterministic
    * 1-in-`every` id sample — the production shape of the occupancy-
    * pinned variant, and the plan the q71 gate runs (r07). Sampling
    * divides BOTH quadratic-family terms of the pinned shape by `every`:
    * the Lloyd chain costs (n/every)·C per round and the full-corpus
    * argmax assignment n·C, with C = ⌈(n/every)/64⌉ derived from the
    * SAMPLE count — so cell occupancy lands at ~64·every and the in-cell
    * pair stage stays linear (occupancy-bounded) at every·64·n
    * comparisons. The asymptote is still n²/(64·every) in the assignment
    * term ([[semDedupBalanced]] is the n^1.5 default when that bites);
    * the measured 50k→100k smoke point is in BASELINE.md.
    */
  def semDedupSampled(emb: DataFrame, threshold: Double, every: Int = 2): DataFrame =
    semDedupWith(emb, trainCodebook(emb, every, semDedupCells), threshold)

  /** [[semDedup]] against a caller-supplied [[Codebook]] — the train-once
    * path for re-running dedup at several thresholds, or composing with
    * [[annIvfWith]] over one shared (persisted) codebook. The codebook
    * should be occupancy-sized ([[semDedupCells]]) for this variant's
    * plain in-cell pair join; a √n-sized codebook belongs with
    * [[semDedupBalancedWith]]'s blocked join.
    */
  def semDedupWith(emb: DataFrame, cb: Codebook, threshold: Double): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding"))
    val assigned = assignCellsWith(e, cb.centroids)
    val pairs = assigned
      .as("a")
      .join(
        assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id")
      )
      .select(
        col("a.vec_id").as("vec_a"),
        col("b.vec_id").as("vec_b"),
        VectorFunctions.cosine(col("a.embedding"), col("b.embedding")).as("cos")
      )
      .filter(col("cos") >= threshold)
    semDedupFrom(assigned, pairs)
  }

  /** [[semDedup]] at the OTHER end of the flat-quantizer trade:
    * ⌈√(n/2)⌉ cells ([[annCells]]) instead of occupancy-pinned ⌈n/64⌉.
    * With C ∝ √n, the two unavoidable flat-scheme costs — the n·C
    * argmax assignment and the Σ|cell|² ≈ n·occupancy in-cell pairs —
    * BALANCE at n^1.5 each, instead of the occupancy-pinned shape's
    * linear pairs + n²/64 assignment. The price is √(2n) cell occupancy,
    * whose quadratic pair expansion would land one task per cell on a
    * plain equi-join; the candidate join therefore runs through
    * [[BlockedJoin.trianglePairs]], splitting each cell's pair work
    * across blocks·(blocks+1)/2 bounded tasks (the q28 shape — AQE
    * cannot split a single oversized build side; this never builds one).
    *
    * Which to use: [[semDedup]] minimizes TOTAL pair work and keeps
    * per-task cost O(64²) — right when the corpus is small enough that
    * the n·C assignment is affordable, or the codebook is trained on a
    * sample and assignment hardware is cheap. This variant is the
    * 100 TB default: every stage is n^1.5-bounded and no task sees more
    * than its block share. Blocking does not change the pair SET, so
    * results are identical for a given codebook (gated: blocks=1 ==
    * blocks=8 in CorpusOpsSpec) and the oracle is q71's with the ANN
    * cell derivation.
    */
  def semDedupBalanced(emb: DataFrame, threshold: Double, blocks: Int = 8): DataFrame =
    semDedupBalancedWith(emb, trainCodebook(emb), threshold, blocks)

  /** [[semDedupBalanced]] against a caller-supplied [[Codebook]]. */
  def semDedupBalancedWith(
      emb: DataFrame,
      cb: Codebook,
      threshold: Double,
      blocks: Int = 8
  ): DataFrame = {
    require(blocks >= 1, s"need blocks >= 1, got $blocks")
    val e = emb.select(col("vec_id"), col("embedding"))
    val assigned = assignCellsWith(e, cb.centroids)
    val pairs = BlockedJoin
      .trianglePairs(assigned, Seq("cell"), "vec_id", blocks)
      .select(
        least(col("l.vec_id"), col("r.vec_id")).as("vec_a"),
        greatest(col("l.vec_id"), col("r.vec_id")).as("vec_b"),
        VectorFunctions.cosine(col("l.embedding"), col("r.embedding")).as("cos")
      )
      .filter(col("cos") >= threshold)
    semDedupFrom(assigned, pairs)
  }

  /** Argmax-cell assignment of every vector, eagerly materialized: the
    * component loop downstream runs one action per round, and each would
    * otherwise re-run the whole Lloyd chain (see [[semDedup]] notes).
    */
  private def assignCellsWith(e: DataFrame, centroids: DataFrame): DataFrame =
    e.join(
      topK(cellScores(e, centroids), 1)
        .select(col("query_id").as("vec_id"), col("neighbor_id").as("cell")),
      "vec_id"
    ).localCheckpoint(true)

  /** Shared SemDeDup tail: ≥-threshold pairs → star-contraction
    * components → min-id keeper flags, `(vec_id, cell, cluster_id, keep)`.
    */
  private def semDedupFrom(assigned: DataFrame, pairs: DataFrame): DataFrame = {
    val labels = Dedup.clustersFromPairs(
      assigned.select(col("vec_id").as("doc_id")),
      pairs,
      aCol = "vec_a",
      bCol = "vec_b"
    )
    assigned
      .select(col("vec_id"), col("cell"))
      .join(labels.select(col("doc_id").as("vec_id"), col("cluster_id")), "vec_id")
      .select(
        col("vec_id"),
        col("cell"),
        col("cluster_id"),
        (col("vec_id") === col("cluster_id")).as("keep")
      )
  }

  // ------------------------------------------------------------ quantization

  /** INT8 scalar quantization (`(vec_id, scale, codes)`): each vector is
    * compressed to per-component int8 codes against its own max-abs
    * scale — `code_j = floor(x_j·127/scale + 0.5)`, codes ∈ [−127, 127].
    * This is the memory lever of a billion-vector deployment: a 64-dim
    * float32 embedding (256 B) becomes 64 B of codes + one scale, so 4×
    * more corpus fits in executor memory / shuffle buffers, and candidate
    * scoring touches a quarter of the bytes.
    *
    * Determinism across engines: `floor(x·127/s + 0.5)` is IEEE-exact
    * arithmetic (one multiply, one divide, one add, one floor — no
    * libm), so the codes are bit-reproducible in DuckDB. An all-zero
    * vector (scale 0) quantizes to all-zero codes rather than dividing
    * by zero.
    */
  def quantizeInt8(emb: DataFrame): DataFrame = {
    // materialize the scale as a COLUMN before the code transform: a
    // computed expression inside an HOF lambda body re-evaluates PER
    // ELEMENT (interpreted), so `/ s` with s inlined re-ran the
    // array_max+transform once per dimension — O(d²) per row (the q166
    // mechanism); an attribute reference is a row read
    val withScale = emb.select(
      col("vec_id"),
      col("embedding"),
      array_max(transform(col("embedding"), x => abs(x.cast("double")))).as("scale")
    )
    withScale.select(
      col("vec_id"),
      col("scale"),
      when(col("scale") === 0.0, transform(col("embedding"), _ => lit(0).cast("byte")))
        .otherwise(
          transform(
            col("embedding"),
            x => floor(x.cast("double") * lit(127.0) / col("scale") + lit(0.5)).cast("byte")
          )
        )
        .as("codes")
    )
  }

  /** Cosine between two CODE vectors in pure integer sums — the reason
    * symmetric int8 ANN can be oracle-exact: the per-vector scale factor
    * cancels in cosine, so similarity runs entirely on the integer codes
    * (order-independent 64-bit dot/norm sums; doubles appear only in the
    * final `dot / (√na·√nb)`, which is IEEE-exact given identical integer
    * inputs). Zero-norm codes score 0.
    */
  def cosineCodes(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def fold(arr: org.apache.spark.sql.Column) =
      aggregate(arr, lit(0L), (acc, v) => acc + v)
    val dot = fold(zip_with(a, b, (x, y) => x.cast("long") * y.cast("long")))
    val na = fold(transform(a, x => x.cast("long") * x.cast("long")))
    val nb = fold(transform(b, x => x.cast("long") * x.cast("long")))
    when(na === 0L || nb === 0L, lit(0.0))
      .otherwise(dot.cast("double") / (sqrt(na.cast("double")) * sqrt(nb.cast("double"))))
  }

  /** Project the corpus to `outDim` dims via the deterministic JL matrix
    * ([[VectorFunctions.randomProjection]]) — same `(vec_id, embedding)`
    * contract, so every downstream operator (brute/LSH/IVF/PQ/dedup)
    * composes unchanged at outDim/Dim of the flops and bytes. The
    * distance-preservation price is gated in AnnRecallSpec (projected
    * brute-force recall vs full-dim exact on clustered geometry).
    */
  def randomProject(emb: DataFrame, outDim: Int): DataFrame =
    emb.select(
      col("vec_id"),
      VectorFunctions.randomProjection(col("embedding"), outDim, Dim).as("embedding")
    )

  // ------------------------------------------------- product quantization

  /** PQ subspace count `m`: 64 dims → 4 subvectors of 16. Each vector
    * compresses to m small integer codes — the knob trades reconstruction
    * fidelity (higher m) against code size.
    */
  val PqSubspaces = 4

  /** Per-subspace PQ codebooks as a first-class value (the [[Codebook]]
    * lifecycle): `codebooks` = `(sub, cell, c_emb)` with `c_emb` a
    * `Dim/m`-dim centroid — at most m·C rows, always broadcast-sized.
    */
  final case class PqCodebooks(m: Int, codebooks: DataFrame)

  /** PRODUCT QUANTIZATION training (Jégou et al. 2011, the FAISS `PQ`
    * stage): split every vector into `m` subvectors and fit an
    * independent codebook per subspace with the SAME deterministic Lloyd
    * trainer as [[trainedCentroids]] (stride-seeded, integer-quantized
    * means, fixed rounds — so the whole trainer replays bit-for-bit in
    * the DuckDB oracle, per subspace). Codebook size per subspace is the
    * sample-count-derived [[annCells]]; `every` is the sampled-trainer
    * knob ([[trainCodebook]]'s semantics — trainer cost divides by
    * `every`, the m per-subspace chains totalling the same flops as ONE
    * full-dim chain since each runs at Dim/m components.
    *
    * Where int8 ([[quantizeInt8]]) compresses 4×, PQ at m=4 stores 4
    * byte-range codes per 64-float vector — 64× less candidate memory
    * through storage and shuffle, the compression tier that makes a
    * billion-vector corpus fit a cluster's RAM at all.
    */
  def trainPq(emb: DataFrame, m: Int = PqSubspaces, every: Int = 1): PqCodebooks = {
    require(m >= 1 && Dim % m == 0, s"need m >= 1 dividing $Dim, got $m")
    require(every >= 1, s"need every >= 1, got $every")
    val dsub = Dim / m
    val e0 = emb.select(col("vec_id"), col("embedding"))
    val e =
      if (every == 1) e0
      else
        e0.filter(col("vec_id") % lit(every.toLong) === 0)
          .select(expr(s"vec_id div $every").as("vec_id"), col("embedding"))
    // Two-regime split ([[DriverRegime]], cap in vectors: 2^17 × 256 B ≈
    // 32 MB): the PQ trainer's fit set is the (optionally sampled)
    // embedding table — when it fits the driver, the m Lloyd chains run
    // locally in the IDENTICAL arithmetic (Kernels.cosine's exact fold,
    // the (cos desc, cell asc) argmax, integer-quantized means) and the
    // codebooks land as one m·C-row LocalRelation. The distributed form
    // inlined the whole m-subspace trainer under every codebook
    // reference (~570 plan nodes / ~100 scan subtrees at m = 4 in the
    // q110 plan; the trainer alone measured 4.5 s of the gate's 5.6 s,
    // almost all scheduling + plan machinery over micro-data). Above the
    // cap — or with NULL or negative ids, whose div/mod semantics the
    // driver path does not replicate, or ragged vectors, which the driver
    // subspace copy zero-pads where `slice` truncates — the distributed
    // chains run untouched; production deployments train on a bounded
    // sample anyway (`every`), which is exactly the regime the cap
    // encodes. Spec-pinned equal (AnnRecallSpec regime-equality law).
    def driverSafe(r: org.apache.spark.sql.Row): Boolean =
      !r.isNullAt(0) && r.getLong(0) >= 0L && r.getSeq[Float](1).length == Dim
    DriverRegime.collectIfSmall(e, 1L << 17) match {
      case Some(rows) if rows.forall(driverSafe) =>
        val vecs = rows.map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        PqCodebooks(m, driverPqCodebooks(emb.sparkSession, vecs, m, dsub))
      case _ =>
        val subs = (0 until m).map { s =>
          trainedCentroids(
            e.select(col("vec_id"), slice(col("embedding"), s * dsub + 1, dsub).as("embedding")),
            annCells
          ).select(lit(s.toLong).as("sub"), col("cell"), col("c_emb"))
        }
        PqCodebooks(m, subs.reduce(_.unionByName(_)))
    }
  }

  /** The exact driver replay of [[trainedCentroids]]'s chain per PQ
    * subspace: stride seed over the non-negative id space, then
    * [[IvfLloydRounds]] rounds of (argmax-cosine assignment, integer-
    * quantized means). Cosines run through the same index-ordered double
    * fold as `Kernels.cosine`; the assignment argmax replays the top-k
    * heap's (score desc, id asc) TOTAL order (NaN sorts last, exactly as
    * the heap's `sortBy((-s, id))` under Scala's IEEE-total Double
    * ordering); means replay `floor(x·10⁶ + 0.5)` long sums divided as
    * `sx.toDouble / (cnt.toDouble · 10⁶)` then cast to float. Empty
    * cells drop (no vector chose them), like the distributed GROUP BY.
    */
  private def driverPqCodebooks(
      spark: org.apache.spark.sql.SparkSession,
      rows: Array[(Long, Array[Float])],
      m: Int,
      dsub: Int
  ): DataFrame = {
    import spark.implicits._
    def cosF(a: Array[Float], b: Array[Float]): Double = {
      val n = math.min(a.length, b.length)
      var dot = 0.0
      var na = 0.0
      var nb = 0.0
      var i = 0
      while (i < n) {
        val x = a(i).toDouble
        val y = b(i).toDouble
        dot += x * y
        na += x * x
        nb += y * y
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    // lexicographic (-score, id) minimum under the IEEE TOTAL order —
    // the TopKBuffer trim's comparator (NaN largest, so NaN-scored
    // candidates lose to any real score and tie among themselves to the
    // smaller id)
    def beats(c: Double, cell: Long, bestC: Double, bestCell: Long): Boolean = {
      val cmp = java.lang.Double.compare(-c, -bestC)
      cmp < 0 || (cmp == 0 && cell < bestCell)
    }
    val n = rows.length.toLong
    val out = Seq.newBuilder[(Long, Long, Seq[Float])]
    if (n > 0L) {
      val cells = math.max(1L, math.ceil(math.sqrt(n.toDouble / 2.0)).toLong)
      val stride = math.max(1L, n / cells)
      var s = 0
      while (s < m) {
        val sub = rows.map { case (id, v) => (id, java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub)) }
        var cent: Array[(Long, Array[Float])] =
          sub.collect {
            case (id, v) if id % stride == 0L && id < stride * cells => (id / stride, v)
          }.sortBy(_._1)
        var round = 0
        while (round < IvfLloydRounds && cent.nonEmpty) {
          val acc = new java.util.TreeMap[Long, (Array[Long], Array[Long])]()
          sub.foreach { case (_, v) =>
            var bestCell = -1L
            var bestC = 0.0
            var first = true
            cent.foreach { case (cell, ce) =>
              val c = cosF(v, ce)
              if (first || beats(c, cell, bestC, bestCell)) {
                bestC = c; bestCell = cell; first = false
              }
            }
            val slot = acc.computeIfAbsent(bestCell, _ => (new Array[Long](dsub), new Array[Long](1)))
            var j = 0
            while (j < dsub) {
              slot._1(j) += math.floor(v(j).toDouble * IvfQuant + 0.5).toLong
              j += 1
            }
            slot._2(0) += 1L
          }
          val next = new scala.collection.mutable.ArrayBuffer[(Long, Array[Float])](acc.size)
          val it = acc.entrySet().iterator()
          while (it.hasNext) {
            val entry = it.next()
            val (sx, cntBox) = entry.getValue
            val cnt = cntBox(0)
            next += ((entry.getKey, sx.map(x => (x.toDouble / (cnt.toDouble * IvfQuant)).toFloat)))
          }
          cent = next.toArray
          round += 1
        }
        cent.foreach { case (cell, ce) => out += ((s.toLong, cell, ce.toSeq)) }
        s += 1
      }
    }
    out.result().toDF("sub", "cell", "c_emb")
  }

  /** PQ ENCODING: each vector → `(vec_id, codes)` with `codes[s]` the
    * argmax-cosine cell of subvector s (ties to the smaller cell id —
    * the engine's ranking tie-break). One explode to m subvector rows, a
    * broadcast join against the codebooks, and two aggregates; the codes
    * array is the m-integer object a deployment persists in place of the
    * raw vectors.
    */
  def encodePq(emb: DataFrame, cb: PqCodebooks): DataFrame = {
    val dsub = Dim / cb.m
    emb
      .select(
        col("vec_id"),
        // posexplode of the pre-sliced array MATERIALIZES each subvector
        // into its generated row: the join below projects `sv` as a
        // stored column. (Slicing after the explode left `sv` an
        // expression the codebook join re-evaluated once per matched
        // centroid — C× redundant array copies; the first 200k-vector
        // smoke measured the difference.)
        posexplode(
          transform(
            sequence(lit(0), lit(cb.m - 1)),
            s => slice(col("embedding"), s * lit(dsub) + lit(1), lit(dsub))
          )
        ).as(Seq("sub", "sv"))
      )
      .select(col("vec_id"), col("sub").cast("long").as("sub"), col("sv"))
      .join(broadcast(cb.codebooks), Seq("sub"))
      .select(
        col("vec_id"),
        col("sub"),
        col("cell"),
        VectorFunctions.cosine(col("sv"), col("c_emb")).as("cos")
      )
      .groupBy(col("vec_id"), col("sub"))
      .agg(max_by(col("cell"), struct(col("cos"), -col("cell"))).as("cell"))
      .groupBy(col("vec_id"))
      .agg(
        transform(
          array_sort(collect_list(struct(col("sub"), col("cell")))),
          s => s.getField("cell")
        ).as("codes")
      )
  }

  /** DECODE a codes frame back to its reconstruction `(vec_id, recon)` —
    * the concatenation of each code's centroid in subspace order (one
    * broadcast equi-join + one aggregate; `array<struct<long, array>>`
    * sorts lexicographically, so subspace order is exact).
    */
  def decodePq(codes: DataFrame, cb: PqCodebooks): DataFrame =
    codes
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "cell")))
      .join(broadcast(cb.codebooks), Seq("sub", "cell"))
      .groupBy(col("vec_id"))
      .agg(
        flatten(
          transform(
            array_sort(collect_list(struct(col("sub"), col("c_emb")))),
            s => s.getField("c_emb")
          )
        ).as("recon")
      )

  /** ANN over PQ-compressed candidates — ASYMMETRIC scoring: the query
    * stays full-precision, each candidate is scored as `cosine(q,
    * reconstruction(codes))`. Same output contract as [[bruteForceTopK]];
    * the accuracy loss is pure quantization error, recall-gated in
    * AnnRecallSpec next to the int8 and IVF tiers.
    *
    * What PQ buys HERE is memory and shuffle bytes — the corpus flows as
    * m integers per vector; reconstructions materialize per scan from the
    * broadcast codebooks and never persist. Per-candidate compute stays
    * O(Dim) (the classic per-query m×C lookup-table shortcut needs a
    * float SUM whose order Spark's hash aggregate does not fix, and the
    * engine's determinism discipline — fixed-order folds only — is
    * non-negotiable; reconstruction scoring keeps every float operation
    * in fold order and therefore oracle-exact).
    */
  def annPqAdc(emb: DataFrame, queryIds: Seq[Long], k: Int, m: Int = PqSubspaces): DataFrame =
    annPqAdcWith(emb, trainPq(emb, m), queryIds, k)

  /** [[annPqAdc]] against caller-supplied codebooks (train-once lifecycle). */
  def annPqAdcWith(emb: DataFrame, cb: PqCodebooks, queryIds: Seq[Long], k: Int): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding"))
    annPqAdcOnCodes(encodePq(e, cb), e.filter(col("vec_id").isin(queryIds: _*)), cb, k)
  }

  /** The PRODUCTION serve path: queries against a PRE-ENCODED codes
    * frame (the persisted artifact — encode once at ingest, store m
    * integers per vector, serve every query batch from the codes).
    * `queries` carries full-precision `(vec_id, embedding)` rows;
    * self-matches are excluded by id. [[annPqAdcWith]] is the
    * encode-in-plan sugar over this (spec-pinned equal).
    */
  def annPqAdcOnCodes(
      codes: DataFrame,
      queries: DataFrame,
      cb: PqCodebooks,
      k: Int
  ): DataFrame = {
    val recon = decodePq(codes, cb)
    val scored = broadcast(queries.select(col("vec_id"), col("embedding")).as("q"))
      .join(recon.as("c"), col("q.vec_id") =!= col("c.vec_id"))
      .select(
        col("q.vec_id").as("query_id"),
        col("c.vec_id").as("neighbor_id"),
        VectorFunctions.cosine(col("q.embedding"), col("c.recon")).as("cos")
      )
    topK(scored, k)
  }

  /** IVF + PQ — the composed billion-vector serve stack (FAISS `IVFADC`
    * proper): the full-dim IVF codebook prunes candidates to the probed
    * cells, and the candidate scan reads PQ RECONSTRUCTIONS instead of
    * raw vectors — cell pruning bounds how many candidates a query
    * touches, PQ bounds the bytes each candidate costs, and the two
    * knobs compose because the exclusion/scoring stages are independent
    * (`every` caps BOTH trainers). Optional `rerank`: re-score the PQ
    * top-`rerank` shortlist against exact vectors (the refine stage) —
    * at high cluster density PQ codes tie within a cluster, so member-
    * level ranking NEEDS this (see the 200k smoke).
    */
  def annIvfPq(
      emb: DataFrame,
      queryIds: Seq[Long],
      k: Int,
      m: Int = PqSubspaces,
      every: Int = 1,
      rerank: Int = 0
  ): DataFrame = {
    require(rerank == 0 || rerank >= k, s"need rerank = 0 or >= k, got rerank=$rerank k=$k")
    val e = emb.select(col("vec_id"), col("embedding"))
    val cb = trainCodebook(emb, every)
    val pq = trainPq(emb, m, every)
    val rankedCells = topK(cellScores(e, cb.centroids), IvfProbes)
      .select(col("query_id").as("vec_id"), col("rnk"), col("neighbor_id").as("cell"))
    val recon = decodePq(encodePq(e, pq), pq)
    val corpusCells =
      recon.join(rankedCells.filter(col("rnk") === 1).select("vec_id", "cell"), "vec_id")
    val queryCells = e
      .filter(col("vec_id").isin(queryIds: _*))
      .join(rankedCells.select("vec_id", "cell"), "vec_id")
    val scored = broadcast(queryCells.as("q"))
      .join(
        corpusCells.as("c"),
        col("q.cell") === col("c.cell") && col("q.vec_id") =!= col("c.vec_id")
      )
      .select(
        col("q.vec_id").as("query_id"),
        col("c.vec_id").as("neighbor_id"),
        VectorFunctions.cosine(col("q.embedding"), col("c.recon")).as("cos")
      )
    if (rerank == 0) topK(scored, k)
    else {
      val short = topK(scored, rerank).select(col("query_id"), col("neighbor_id"))
      val queries = e.filter(col("vec_id").isin(queryIds: _*))
      val rescored = short
        .join(
          broadcast(queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))),
          Seq("query_id")
        )
        .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb")), Seq("neighbor_id"))
        .select(
          col("query_id"),
          col("neighbor_id"),
          VectorFunctions.cosine(col("q_emb"), col("c_emb")).as("cos")
        )
      topK(rescored, k)
    }
  }

  /** PQ shortlist + EXACT re-rank (the FAISS refine stage): rank by
    * [[annPqAdc]]'s compressed scores, keep each query's top
    * `shortlist` candidates, then re-score ONLY those against the
    * full-precision vectors. Exact cosines are read for k·shortlist
    * rows per query instead of the corpus — the standard recipe when PQ
    * error alone would cost recall; gated ≥ the IVF tier's recall floor
    * in AnnRecallSpec.
    */
  def annPqRefined(
      emb: DataFrame,
      queryIds: Seq[Long],
      k: Int,
      shortlist: Int,
      m: Int = PqSubspaces
  ): DataFrame = {
    require(shortlist >= k, s"need shortlist >= k, got shortlist=$shortlist k=$k")
    val e = emb.select(col("vec_id"), col("embedding"))
    val cb = trainPq(emb, m)
    val short = annPqAdcOnCodes(
      encodePq(e, cb),
      e.filter(col("vec_id").isin(queryIds: _*)),
      cb,
      shortlist
    ).select(col("query_id"), col("neighbor_id"))
    val queries = e.filter(col("vec_id").isin(queryIds: _*))
    val rescored = short
      .join(broadcast(queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))), Seq("query_id"))
      .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb")), Seq("neighbor_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        VectorFunctions.cosine(col("q_emb"), col("c_emb")).as("cos")
      )
    topK(rescored, k)
  }

  /** Brute-force top-k over int8-QUANTIZED vectors — [[bruteForceTopK]]'s
    * contract (`query_id, rnk, neighbor_id, cosine`) at a quarter of the
    * candidate-scan bytes. Same shape: broadcast quantized queries,
    * map-side scoring over the quantized corpus, bounded-heap top-k (no
    * window sorts). Recall loss vs exact is the int8 rounding only —
    * gated ≥ 0.8 (measured ≈ 1.0 on the fixture) in AnnRecallSpec.
    * Composable with [[annIvf]]/[[annLsh]] candidate pruning: quantize
    * the candidate stage's inputs the same way.
    */
  def annQuantized(emb: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val q8 = quantizeInt8(emb.select(col("vec_id"), col("embedding")))
    val queries = q8.filter(col("vec_id").isin(queryIds: _*))
    val scored = broadcast(queries.as("q"))
      .join(q8.as("c"), col("q.vec_id") =!= col("c.vec_id"))
      .select(
        col("q.vec_id").as("query_id"),
        col("c.vec_id").as("neighbor_id"),
        cosineCodes(col("q.codes"), col("c.codes")).as("cos")
      )
    topK(scored, k)
  }
}
