package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GraftExpressions

/** Spectral structure of an embedding table — the top PRINCIPAL
  * COMPONENT by power iteration, in the engine's exact-replay integer
  * discipline. The dominant direction of an embedding corpus is the
  * workhorse of embedding hygiene: mean-centering + removing-the-top-PC
  * is the classic post-processing that improves similarity search (the
  * "all-but-the-top" observation — embedding sets share a large common
  * component that drowns cosine contrast), PC1 projections make a
  * drift/diversity axis for corpus reports, and the same machinery is
  * the first step of whitening for SemDeDup-style clustering.
  *
  * Everything is integer (the q34 salience rule, which the MMR operator
  * just re-proved on a 1e-6 argmax tie): embeddings quantize once via
  * `floor(x·10⁶ + 0.5)` (identical IEEE inputs → identical integers),
  * the mean uses the offset trick (`(Σ(x+10⁶)) div n − 10⁶` — the sum
  * is kept non-negative, so floored and truncating division agree
  * across engines; signed integral division is exactly where they
  * part ways), the d×d second-moment matrix accumulates exact
  * `decimal(38,0)` products (DuckDB HUGEINT), and each power-iteration
  * round renormalizes through the same offset trick:
  * `v' = ((w + max|w|)·10⁶) div (2·max|w|) − 5·10⁵` — an affine map of
  * the matvec with deterministic rounding, so the iterate (and its
  * sign) is bit-identical everywhere. No eigensolver library, no
  * floating accumulation, no non-determinism to adjudicate.
  *
  * Scale shape: quantize+center is one scan; the d×d matrix is ONE
  * self-join on `vec_id` exploded to d² products per vector (d² rows
  * per vector — at production dimensions fit it on the engine's
  * standard 1-in-`every` sample like the IVF trainer, the `every`
  * parameter here), partially aggregated to the 4096-cell matrix
  * before any exchange; the `iters` power rounds are driver-iterated
  * joins over d-row frames (micro-work — the matrix broadcast never
  * leaves memory); the projection pass is one scan against the
  * broadcast component.
  */
object Spectral {

  /** Quantization scale (micro-units) — the IvfQuant discipline. */
  val Scale = 1000000L

  /** `(vec_id, j, c)` — per-component CENTERED micro-quantized values.
    * Exposed for [[projectPrincipal]] and the covariance build, one
    * source of truth for the quantize+center arithmetic.
    */
  def centeredMicro(emb: DataFrame): DataFrame = {
    val xu = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("j", "x")))
      .select(
        col("vec_id"),
        col("j").cast("long").as("j"),
        expr(s"CAST(floor(CAST(x AS DOUBLE) * $Scale + 0.5) AS BIGINT)").as("xu")
      )
    val means = xu
      .groupBy(col("j"))
      .agg(expr(s"CAST(sum(xu + $Scale) div count(1) - $Scale AS BIGINT)").as("m"))
    xu
      .join(broadcast(means), Seq("j"))
      .select(col("vec_id"), col("j"), (col("xu") - col("m")).as("c"))
  }

  /** The exact integer second-moment matrix `S[j,k] = Σ_i c_i[j]·c_i[k]`
    * over the (optionally 1-in-`every` sampled) centered corpus —
    * `(j, k, s)` with `s` decimal(38,0). Unnormalized: the eigenvector
    * is scale-free, and dividing by n would reintroduce signed
    * division.
    */
  def secondMoment(emb: DataFrame, every: Int = 1): DataFrame = {
    require(every >= 1, s"need every >= 1, got $every")
    val src =
      if (every == 1) emb else emb.filter(col("vec_id") % lit(every.toLong) === 0)
    secondMomentFromSketch(momentSketch(src))
  }

  /** The MERGEABLE moment sketch — the quantities that compose by plain
    * addition across shards or micro-batches, from which the centered
    * second-moment matrix reconstructs EXACTLY: raw micro sums
    * `Σxu_j`, raw products `Σxu_j·xu_k`, and the count, packed as one
    * `(j, k, v)` frame (`k = -1` rows carry `Σxu_j`; the `(-1, -1)` row
    * carries n; everything decimal(38,0)). Centering does NOT commute
    * with sharding — each shard sees a different mean — which is
    * exactly why the sketch stores the RAW sums and the reader centers
    * once, globally, via the algebraic identity
    * `Σ(x_j−m_j)(x_k−m_k) = Σx_jx_k − m_jΣx_k − m_kΣx_j + n·m_j·m_k`
    * (exact in integers for the floored `m` the reader derives from the
    * merged sums). [[mergeMoments]] + [[secondMomentFromSketch]] ==
    * [[secondMoment]] of the concatenated corpus, bit for bit
    * (spec-pinned); the streaming face is
    * [[graft.streaming.StreamingOps.Lsm.moments]].
    */
  def momentSketch(emb: DataFrame): DataFrame = {
    // the d² products are ROW-LOCAL on the array — no self-join, no
    // shuffle of per-element rows; the only exchange carries the
    // partially-aggregated d² cells. TWO CHAINED posexplodes, not a
    // nested-transform HOF: higher-order lambdas evaluate outside
    // whole-stage codegen and measured 1.5x slower at fixture scale,
    // while Generate + the product projection stay fully generated
    // (the original vec_id self-join read 56 s at the 200k smoke; this
    // shape ~20 s)
    val q = s"CAST(floor(CAST(%s AS DOUBLE) * $Scale + 0.5) AS BIGINT)"
    val sxx = emb
      .select(col("embedding"), posexplode(col("embedding")).as(Seq("j", "xj")))
      .select(
        col("j").cast("long").as("j"),
        expr(q.format("xj")).as("uj"),
        posexplode(col("embedding")).as(Seq("k", "xk"))
      )
      .select(
        col("j"),
        col("k").cast("long").as("k"),
        (col("uj") * expr(q.format("xk"))).as("p")
      )
      .groupBy(col("j"), col("k"))
      .agg(sum(col("p").cast("decimal(38,0)")).as("v"))
    val sx = emb
      .select(posexplode(col("embedding")).as(Seq("j", "x")))
      .groupBy(col("j").cast("long").as("j"))
      .agg(sum(expr(s"CAST(${q.format("x")} AS DECIMAL(38,0))")).as("v"))
      .select(col("j"), lit(-1L).as("k"), col("v"))
    val n = emb
      .agg(count(lit(1)).cast("decimal(38,0)").as("v"))
      .select(lit(-1L).as("j"), lit(-1L).as("k"), col("v"))
    sxx.select(col("j"), col("k"), col("v")).unionByName(sx).unionByName(n)
  }

  /** Cell-wise sum of [[momentSketch]]es over disjoint corpora — == the
    * sketch of the concatenated corpus, exactly.
    */
  def mergeMoments(sketches: DataFrame*): DataFrame = {
    require(sketches.nonEmpty, "need at least one sketch")
    sketches
      .reduce(_.unionByName(_))
      .groupBy(col("j"), col("k"))
      .agg(sum(col("v")).as("v"))
  }

  /** Reconstruct the CENTERED second-moment matrix from a (merged)
    * [[momentSketch]] — `(j, k, s)` bit-identical to [[secondMoment]]
    * over the same rows. Means use the same offset-trick floor as
    * [[centeredMicro]] (`(Σxu + n·10⁶) div n − 10⁶`, numerator
    * non-negative), so the identity holds in exact integers.
    */
  def secondMomentFromSketch(sketch0: DataFrame): DataFrame = {
    // the reconstruction reads the sketch THREE times (n, means, cells)
    // — materialize the ≤ d²+d+1-row frame once, or a sketch built
    // in-plan re-runs its corpus pass per reference (measured 3x at the
    // 200k smoke before this checkpoint)
    val sketch = sketch0.localCheckpoint(true)
    val n = sketch.filter(col("j") === -1L && col("k") === -1L).select(col("v").as("n"))
    val means = sketch
      .filter(col("k") === -1L && col("j") >= 0L)
      .crossJoin(broadcast(n))
      .select(
        col("j"),
        expr(s"CAST((v + n * $Scale) div n - $Scale AS BIGINT)").as("m"),
        col("v").as("sx")
      )
    sketch
      .filter(col("j") >= 0L && col("k") >= 0L)
      .join(broadcast(means.select(col("j"), col("m").as("mj"), col("sx").as("sxj"))), Seq("j"))
      .join(
        broadcast(means.select(col("j").as("k"), col("m").as("mk"), col("sx").as("sxk"))),
        Seq("k")
      )
      .crossJoin(broadcast(n))
      .select(
        col("j"),
        col("k"),
        (col("v") - col("mj") * col("sxk") - col("mk") * col("sxj") +
          col("n") * col("mj") * col("mk")).cast("decimal(38,0)").as("s")
      )
  }

  /** Power iteration over any `(j, k, s)` moment frame — the shared tail
    * of [[principalComponent]] and the sketch-served path.
    */
  def powerIterate(moment: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    val spark = moment.sparkSession
    // The moment frame is ≤ d² + O(d) rows BY CONSTRUCTION (d = embedding
    // dim — 4096 cells at d = 64): broadcast-scale metadata, so the
    // iteration runs where the data already is. Each round was previously
    // 2-3 tiny cluster jobs (matvec join+agg, the |w| max, the checkpoint)
    // of almost pure scheduling overhead — the componentsOf measurement
    // (r18) applied here: ~12 × ~0.3 s of fixed cost for micro-work. The
    // matvec and max are EXACT integer arithmetic (BigInteger replays the
    // decimal(38,0) sums bit-for-bit absent overflow, and |s·v| sums are
    // bounded ≤ ~1e26 by the quantization scales — far under decimal38),
    // while the one step with engine-specific semantics — the offset
    // renormalization's integral `div` — still evaluates through the SAME
    // Catalyst expression, over a d-row LocalRelation, so its rounding
    // replays exactly. Sign and iterate are bit-identical to the
    // distributed form (the q138/q139 oracle gates pin the values
    // tri-scale, and the streamed-moments law rides the same tail).
    val cells = moment.select(col("j"), col("k"), col("s")).collect().map { r =>
      (r.getLong(0), r.getLong(1), BigInt(r.getDecimal(2).toBigInteger))
    }
    import spark.implicits._
    // seed through the same expression as the distributed form
    val js = cells.map(_._1).distinct.sorted.toSeq
    var v: Map[Long, Long] = spark
      .createDataset(js)
      .toDF("j")
      .select(col("j"), (GraftExpressions.remix32(col("j")) % 2001L - 1000L).as("v"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    val wSchema = org.apache.spark.sql.types.StructType(
      Seq(
        org.apache.spark.sql.types.StructField("j", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("w", org.apache.spark.sql.types.DecimalType(38, 0)),
        org.apache.spark.sql.types.StructField("smax", org.apache.spark.sql.types.DecimalType(38, 0))
      )
    )
    for (_ <- 1 to iters) {
      // matvec: only cells whose k carries an iterate contribute (the old
      // inner join on k), grouped by j — exact integer sums
      val w = scala.collection.mutable.LinkedHashMap[Long, BigInt]()
      cells.foreach { case (j, k, s) =>
        v.get(k) match {
          case Some(vk) => w.update(j, w.getOrElse(j, BigInt(0)) + s * vk)
          case None     => ()
        }
      }
      if (w.isEmpty) { v = Map.empty }
      else {
        val smax = w.valuesIterator.map(_.abs).max
        val rows = new java.util.ArrayList[org.apache.spark.sql.Row](w.size)
        w.foreach { case (j, wv) =>
          rows.add(
            org.apache.spark.sql.Row(
              j,
              new java.math.BigDecimal(wv.bigInteger),
              new java.math.BigDecimal(smax.bigInteger)
            )
          )
        }
        v = spark
          .createDataFrame(rows, wSchema)
          .select(
            col("j"),
            expr(s"CAST((w + smax) * $Scale div (2 * greatest(smax, 1)) - ${Scale / 2} AS BIGINT)")
              .as("v")
          )
          .collect()
          .map(r => r.getLong(0) -> r.getLong(1))
          .toMap
      }
    }
    v.toSeq.sortBy(_._1).toDF("j", "v")
  }

  /** The top principal direction as a 64-row integer frame `(j, v)` —
    * `iters` rounds of power iteration over [[secondMoment]], each round
    * one matvec + the offset-normalization above. Deterministic seed
    * `v0[j] = remix32(j) % 2001 − 1000` (avalanche-spread, no axis
    * alignment with structured data). The result is the direction up to
    * the deterministic sign the seed and rounding produce — consumers
    * needing a convention can flip on `sign(v[argmin j where v≠0])`.
    */
  def principalComponent(emb: DataFrame, iters: Int = 12, every: Int = 1): DataFrame =
    powerIterate(secondMoment(emb, every), iters)

  /** Per-vector PC1 projection `(vec_id, proj)` — the integer dot of the
    * centered micro values with the (broadcast) component. One scan;
    * `|proj| ≤ d · 2·10⁶ · 5·10⁵` fits comfortably in BIGINT.
    */
  def projectPrincipal(emb: DataFrame, component: DataFrame): DataFrame =
    centeredMicro(emb)
      .join(broadcast(component), Seq("j"))
      .groupBy(col("vec_id"))
      .agg(sum(col("c") * col("v")).as("proj"))

  /** "All-but-the-top" correction (Mu & Viswanath, ICLR 2018): subtract
    * each vector's component along the (broadcast) top direction —
    * `c' = c − (c·v / v·v) v` — returning `(vec_id, j, resid)` in
    * micro units. The inputs are all EXACT integers (centered values,
    * the projection dot, `v·v`), so the one step that must leave the
    * integers — the division by `v·v` — runs in double with a FIXED
    * operation order (`c − proj·v/vv`, exactly-representable operands,
    * IEEE multiply/divide/subtract) and is bit-identical across
    * engines, the cosine-oracle discipline. Scale shape (guide §6 scan
    * reuse): ONE read of the embeddings — the former shape built the
    * centered frame twice (once inline, once inside the projection) and
    * re-joined the two on `vec_id`; the projection is an aggregate over
    * the SAME centered rows, so one `groupBy(vec_id)` collects each
    * vector's (j, c, v) cells and sums `c·v` in the same pass (integer
    * sums — order-independent, bit-identical), then re-explodes. Two
    * FileScans + two means-subtrees + a co-keyed join exchange collapse
    * to one scan + one exchange; the component and its norm broadcast.
    */
  def removePrincipal(emb: DataFrame, component: DataFrame): DataFrame = {
    val vv = component.agg(sum(col("v") * col("v")).as("vv"))
    centeredMicro(emb)
      .join(broadcast(component), Seq("j"))
      .groupBy(col("vec_id"))
      .agg(
        collect_list(struct(col("j"), col("c"), col("v"))).as("__cells"),
        sum(col("c") * col("v")).as("proj")
      )
      .select(col("vec_id"), col("proj"), explode(col("__cells")).as("__cell"))
      .crossJoin(broadcast(vv))
      .select(
        col("vec_id"),
        col("__cell.j").as("j"),
        round(
          expr(
            "CAST(__cell.c AS DOUBLE) - CAST(proj AS DOUBLE) * CAST(__cell.v AS DOUBLE) / CAST(vv AS DOUBLE)"
          ),
          6
        ).as("resid")
      )
  }
}
