package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MONDRIAN k-ANONYMIZATION (LeFevre/DeWitt/Ramakrishnan 2006) — the
  * PRODUCING half of the privacy tier: [[Deidentify.suppressSmallGroups]]
  * nulls small cells and [[Deidentify.riskAudit]]/[[Deidentify.tClosenessAudit]]
  * MEASURE risk, but the standard way to *construct* a k-anonymous
  * release is multidimensional recursive partitioning — split the
  * record space on the widest quasi attribute at its median until no
  * partition can be split without dropping below k, then generalize
  * each record to its final partition's bounding box.
  *
  * This implementation is GRID-SNAPPED Mondrian: every quasi attribute
  * is first quantized to integer band indices (`value div width`, the
  * [[Deidentify.generalize]] grid), and cuts happen at band boundaries.
  * That single design choice is what makes the algorithm both
  * SCALE-SAFE and EXACTLY REPLAYABLE:
  *
  *   - the per-partition median comes from a banded HISTOGRAM
  *     (groupBy(pid, band) counts + a cumulative over the band-bounded
  *     frame), never from sorting records — no corpus-sized window
  *     exists in any round, including round 1 where the "partition" is
  *     the whole table;
  *   - all arithmetic is integer (band indices, counts, pid bit paths),
  *     so a SQL oracle replays every cut decision bit-for-bit.
  *
  * Per round (driver-iterated, bounded by `maxRounds` — partition count
  * at most doubles per round, and useful depth is log2(n/k)):
  *   1. per (pid, attr): the banded histogram (|attrs| aggregates, all
  *      partial-combined — the hot whole-table round-1 "cell" is
  *      absorbed map-side);
  *   2. per pid: choose the attr spanning the MOST bands (ties to quasi
  *      column order) — the "widest normalized range" heuristic of the
  *      paper, measured on the grid;
  *   3. per (pid, chosen attr): the median band b = smallest band with
  *      cumulative count ≥ ⌈n/2⌉ (cumulative window runs over the
  *      band-bounded histogram, partitioned by pid);
  *   4. the cut is ALLOWABLE iff both sides keep ≥ k records (strict
  *      Mondrian); allowable → records route to `2·pid+1` / `2·pid+2`
  *      by `band ≤ b`, else the partition RETIRES (pid stays, never
  *      reconsidered — a retired partition is stable under further
  *      rounds because its cut decision is deterministic).
  *
  * The cut table of a round is bounded by the live partition count
  * (≤ n/k), so the route-back join broadcasts. Output is row-level:
  * every input row with its final `pid`, the partition size `cell_n`,
  * per-attr generalized band ranges `<attr>_lo`/`<attr>_hi` (INCLUSIVE
  * band indices — multiply by the width for value ranges), and
  * `ok = cell_n >= k` (with n ≥ k input and enough rounds every
  * partition satisfies k; `ok` makes the guarantee auditable instead of
  * assumed). Rows are NEVER dropped. NULL band values: disallowed
  * (fail-fast) — Mondrian's geometry has no place for a NULL
  * coordinate; route NULLs through [[Deidentify.suppressSmallGroups]]'s
  * convention before calling.
  */
object Mondrian {

  /** @param df        input frame
    * @param bandCols  quasi attributes ALREADY quantized to integer band
    *                  indices (long) — `floor(value/width)` per attr;
    *                  the caller owns the grid
    * @param k         the anonymity parameter (both sides of every cut
    *                  keep ≥ k records)
    * @param maxRounds cut-round bound (driver-iterated); log2(n/k)
    *                  rounds reach the unsplittable floor
    */
  def anonymize(df: DataFrame, bandCols: Seq[String], k: Long, maxRounds: Int): DataFrame = {
    require(bandCols.nonEmpty, "need at least one banded quasi column")
    require(k >= 1, s"need k >= 1, got $k")
    require(maxRounds >= 1 && maxRounds <= 62, s"need 1 <= maxRounds <= 62, got $maxRounds")

    val nullGuard = bandCols.map(c => col(c).isNull).reduce(_ || _)
    // Two-regime split ([[DriverRegime]], cap in histogram cells):
    // grid-snapped Mondrian's every cut decision is a function of the
    // corpus ONLY through the banded JOINT histogram — per-partition
    // marginals, medians, allowability and the final boxes all derive
    // from (band tuple, count) rows, and the tuple space is grid-bounded
    // (≤ Π band-ranges, typically a few hundred cells) where the corpus
    // is not. When the histogram fits the driver, the whole recursion
    // runs locally in the identical integer arithmetic and the corpus is
    // touched exactly twice: one aggregate (with the same scan-side NULL
    // raise) and one broadcast route-back join — versus ~2 jobs per cut
    // round plus a corpus re-checkpoint every chainCap rounds. Above the
    // cap or for non-long band columns, the distributed loop below runs
    // untouched — scale-safe by construction. Regime equality is
    // spec-pinned (MondrianSpec: identical pid/box frames on the fixture).
    val allLong = bandCols.forall(c =>
      df.schema(c).dataType == org.apache.spark.sql.types.LongType
    )
    if (allLong) {
      val guardedHead =
        when(
          nullGuard,
          raise_error(lit("mondrian: NULL band value — handle NULLs before anonymizing"))
            .cast("long")
        ).otherwise(col(bandCols.head))
      val hist = df
        .select(guardedHead.as(bandCols.head) +: bandCols.tail.map(col): _*)
        .groupBy(bandCols.map(col): _*)
        .agg(count(lit(1)).as("__graft_n"))
      DriverRegime.collectIfSmall(hist, 1L << 20) match {
        case Some(rows) =>
          val cells = rows.map { r =>
            (bandCols.indices.map(r.getLong).toArray, r.getLong(bandCols.length))
          }
          return driverAnonymize(df, bandCols, k, maxRounds, cells)
        case None => () // over the cap: one probe aggregate wasted
      }
    }
    // the CORPUS is materialized exactly once; each round's pid
    // assignment is derived by replaying the (tiny, checkpointed) cut
    // tables as a chain of broadcast joins — materializing the row-level
    // state per round instead costs a corpus write+read per round (the
    // first cut of this operator's own 20M-row smoke)
    var base = df
      .withColumn(
        "__graft_pid",
        when(nullGuard, raise_error(lit("mondrian: NULL band value — handle NULLs before anonymizing")))
          .otherwise(lit(0L))
      )
      .localCheckpoint(true)

    // fold the join chain back into a checkpoint every chainCap rounds:
    // round r otherwise replays r broadcast joins per scan (fine) but
    // the growing plan re-analysis costs dominate at small scale
    val chainCap = 4
    var cutTables = Vector.empty[DataFrame]
    def routed: DataFrame = cutTables.foldLeft(base) { (st, cuts) =>
      val bandOfChosen = coalesce(
        bandCols.zipWithIndex.map { case (c, i) => when(col("__graft_attr") === i, col(c)) }: _*
      )
      st.join(broadcast(cuts), Seq("__graft_pid"), "left")
        .withColumn(
          "__graft_pid",
          when(col("__graft_attr").isNull, col("__graft_pid"))
            .otherwise(
              col("__graft_pid") * 2 + when(bandOfChosen <= col("__graft_cut"), lit(1L)).otherwise(lit(2L))
            )
        )
        .drop("__graft_attr", "__graft_cut")
    }

    var round = 0
    var live = true
    while (round < maxRounds && live) {
      if (cutTables.size >= chainCap) {
        base = routed.localCheckpoint(true)
        cutTables = Vector.empty
      }
      val state = routed
      // 1. banded histogram per (pid, attr) — one aggregate per attr
      val hist = bandCols.zipWithIndex
        .map { case (c, i) =>
          state
            .groupBy(col("__graft_pid"), col(c).as("__graft_band"))
            .agg(count(lit(1)).as("__graft_bn"))
            .withColumn("__graft_attr", lit(i))
        }
        .reduce(_ unionByName _)

      // 2. widest attr per pid (band span; ties to column order)
      val spans = hist
        .groupBy(col("__graft_pid"), col("__graft_attr"))
        .agg(
          (max(col("__graft_band")) - min(col("__graft_band"))).as("__graft_span"),
          sum(col("__graft_bn")).as("__graft_n")
        )
      val chosen = spans
        .groupBy(col("__graft_pid"))
        .agg(
          max(struct(col("__graft_span").as("s"), (-col("__graft_attr")).as("na"))).as("__graft_m"),
          // __graft_n is the partition size — identical across attrs
          max(col("__graft_n")).as("__graft_n")
        )
        .select(
          col("__graft_pid"),
          (-col("__graft_m.na")).as("__graft_attr"),
          col("__graft_m.s").as("__graft_span"),
          col("__graft_n")
        )
        .filter(col("__graft_span") > 0 && col("__graft_n") >= 2L * k)

      // 3. median band over the chosen attr's histogram (window over the
      // band-bounded histogram frame, partitioned by pid)
      import org.apache.spark.sql.expressions.Window
      val cumWin = Window
        .partitionBy(col("__graft_pid"))
        .orderBy(col("__graft_band"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cuts = hist
        .join(chosen, Seq("__graft_pid", "__graft_attr"))
        .withColumn("__graft_cum", sum(col("__graft_bn")).over(cumWin))
        .filter(col("__graft_cum") * 2 >= col("__graft_n"))
        .groupBy(col("__graft_pid"), col("__graft_attr"), col("__graft_n"))
        .agg(
          min(col("__graft_band")).as("__graft_cut"),
          min(struct(col("__graft_band"), col("__graft_cum"))).getField("__graft_cum").as("__graft_left_n")
        )
        // 4. strict-Mondrian allowability: both sides keep >= k
        .filter(
          col("__graft_left_n") >= k &&
            (col("__graft_n") - col("__graft_left_n")) >= k &&
            (col("__graft_n") - col("__graft_left_n")) > 0
        )
        .select(col("__graft_pid"), col("__graft_attr"), col("__graft_cut"))
        // the cut table is partition-bounded — materialize it once; the
        // count and the broadcast route-back would otherwise each replay
        // the histogram chain
        .localCheckpoint(true)

      val nCuts = cuts.count()
      if (nCuts == 0) live = false
      else {
        cutTables = cutTables :+ cuts
        round += 1
      }
    }
    val state = routed

    // final generalization: the bounding box of each final partition
    val boxAggs = count(lit(1)).as("cell_n") +:
      bandCols.flatMap(c => Seq(min(col(c)).as(s"${c}_lo"), max(col(c)).as(s"${c}_hi")))
    val boxes = state.groupBy(col("__graft_pid")).agg(boxAggs.head, boxAggs.tail: _*)
    state
      .join(boxes, Seq("__graft_pid"))
      .withColumn("ok", col("cell_n") >= k)
      .withColumnRenamed("__graft_pid", "pid")
  }

  /** The cut recursion on a driver-collected joint histogram —
    * [[anonymize]]'s small regime. Replays the distributed rounds'
    * integer arithmetic exactly: per live partition the widest-band-span
    * attribute (ties to column order), the median band as the smallest
    * band whose cumulative count doubles to ≥ n, strict-Mondrian
    * allowability (both sides ≥ k), simultaneous routing to
    * `2·pid + 1/2`, retirement otherwise, rounds counted only when a cut
    * landed. The route-back attaches `(pid, cell_n, lo/hi, ok)` to every
    * row via one broadcast join on the band tuple (pid is a pure
    * function of the tuple — the spec-pinned law that makes this exact).
    */
  private def driverAnonymize(
      df: DataFrame,
      bandCols: Seq[String],
      k: Long,
      maxRounds: Int,
      cells: Array[(Array[Long], Long)]
  ): DataFrame = {
    val nAttrs = bandCols.length
    val pids = Array.fill(cells.length)(0L)
    var round = 0
    var live = cells.nonEmpty
    while (round < maxRounds && live) {
      val byPid = cells.indices.groupBy(pids(_))
      var cutsFound = 0
      byPid.foreach { case (pid, idxs) =>
        val n = idxs.iterator.map(cells(_)._2).sum
        // widest attr, ties to the lowest column index (max struct(span,
        // -attr) in the distributed form); span 0 never cuts
        var bestAttr = -1
        var bestSpan = 0L
        var a = 0
        while (a < nAttrs) {
          var lo = Long.MaxValue
          var hi = Long.MinValue
          idxs.foreach { i =>
            val b = cells(i)._1(a)
            if (b < lo) lo = b
            if (b > hi) hi = b
          }
          val span = hi - lo
          if (span > bestSpan) { bestSpan = span; bestAttr = a }
          a += 1
        }
        if (bestAttr >= 0 && n >= 2L * k) {
          // median: smallest band with 2·cum ≥ n over the banded histogram
          val hm = scala.collection.mutable.TreeMap.empty[Long, Long]
          idxs.foreach { i =>
            val b = cells(i)._1(bestAttr)
            hm.update(b, hm.getOrElse(b, 0L) + cells(i)._2)
          }
          var cum = 0L
          var cut = 0L
          var leftN = 0L
          var found = false
          val it = hm.iterator
          while (!found && it.hasNext) {
            val (band, c) = it.next()
            cum += c
            if (2L * cum >= n) { cut = band; leftN = cum; found = true }
          }
          if (found && leftN >= k && (n - leftN) >= k && (n - leftN) > 0L) {
            idxs.foreach { i =>
              pids(i) = pid * 2L + (if (cells(i)._1(bestAttr) <= cut) 1L else 2L)
            }
            cutsFound += 1
          }
        }
      }
      if (cutsFound == 0) live = false else round += 1
    }
    // final boxes per pid over the routed cells
    final case class Box(var n: Long, lo: Array[Long], hi: Array[Long])
    val boxes = scala.collection.mutable.LinkedHashMap.empty[Long, Box]
    cells.indices.foreach { i =>
      val (bands, cnt) = cells(i)
      val box = boxes.getOrElseUpdate(
        pids(i),
        Box(0L, Array.fill(nAttrs)(Long.MaxValue), Array.fill(nAttrs)(Long.MinValue))
      )
      box.n += cnt
      var a = 0
      while (a < nAttrs) {
        if (bands(a) < box.lo(a)) box.lo(a) = bands(a)
        if (bands(a) > box.hi(a)) box.hi(a) = bands(a)
        a += 1
      }
    }
    import org.apache.spark.sql.types._
    val mapSchema = StructType(
      bandCols.map(c => StructField(c, LongType)) ++
        Seq(StructField("__graft_pid", LongType), StructField("cell_n", LongType)) ++
        bandCols.flatMap(c =>
          Seq(StructField(s"${c}_lo", LongType), StructField(s"${c}_hi", LongType))
        ) :+ StructField("ok", BooleanType)
    )
    val mapRows = new java.util.ArrayList[org.apache.spark.sql.Row](cells.length)
    cells.indices.foreach { i =>
      val box = boxes(pids(i))
      val vals: Seq[Any] =
        cells(i)._1.toSeq ++ Seq(pids(i), box.n) ++
          (0 until nAttrs).flatMap(a => Seq(box.lo(a), box.hi(a))) :+ (box.n >= k)
      mapRows.add(org.apache.spark.sql.Row(vals: _*))
    }
    val spark = df.sparkSession
    val routeMap = spark.createDataFrame(mapRows, mapSchema)
    df.join(broadcast(routeMap), bandCols)
      .select(
        col("__graft_pid").as("pid") +:
          df.columns.map(col).toSeq ++:
          (col("cell_n") +:
            bandCols.flatMap(c => Seq(col(s"${c}_lo"), col(s"${c}_hi"))).toSeq :+
            col("ok")): _*
      )
  }

  /** Release-utility metrics over an [[anonymize]] output — the numbers
    * the Mondrian paper evaluates a release by, in exact integers:
    *
    *   - `n_partitions`, `min_cell`, `avg_cell_milli` (n·1000 div p) —
    *     equivalence-class sizes (closer to k = finer, more useful);
    *   - `discernibility` — Σ|P|² over partitions (each record is
    *     indistinguishable from |P| others; the paper's C_DM);
    *   - `<attr>_width_milli` — the record-weighted mean generalized
    *     band width Σ|P|·(hi−lo+1)·1000 div n per attribute (1000 =
    *     no generalization; the certainty-penalty axis).
    *
    * One distinct over the partition-bounded frame + one aggregate —
    * the report is p-bounded, never corpus-bounded, and every metric
    * replays in the oracle (`div` mirrored by `//`).
    */
  def utilityReport(anon: DataFrame, bandCols: Seq[String]): DataFrame = {
    require(bandCols.nonEmpty, "need the band columns the release was built on")
    val parts = anon
      .select(col("pid") +: col("cell_n") +: bandCols.flatMap(c => Seq(col(s"${c}_lo"), col(s"${c}_hi"))): _*)
      .distinct()
    val widths = bandCols.map { c =>
      expr(s"CAST(sum(cell_n * (`${c}_hi` - `${c}_lo` + 1)) * 1000L div sum(cell_n) AS BIGINT)")
        .as(s"${c}_width_milli")
    }
    parts.agg(
      sum(col("cell_n")).as("n_rows"),
      count(lit(1)).as("n_partitions") +:
        min(col("cell_n")).as("min_cell") +:
        expr("CAST(sum(cell_n) * 1000L div count(1) AS BIGINT)").as("avg_cell_milli") +:
        sum(col("cell_n") * col("cell_n")).as("discernibility") +:
        widths: _*
    )
  }
}
