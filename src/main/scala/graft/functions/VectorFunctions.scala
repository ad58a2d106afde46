package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector column library over `array<float>` columns.
  *
  * Two implementations of the same similarity contract:
  *  - [[cosine]] — the custom codegen'd Catalyst expression (hot path:
  *    one pass over the two ArrayData buffers, no intermediate allocation);
  *  - [[cosineHof]] — the pure-built-in composition (`zip_with` +
  *    `aggregate`), kept as the portable/reference form and exercised in
  *    tests to prove both agree bit-for-bit.
  *
  * All accumulation is double, in index order — the exact fold the DuckDB
  * oracle mirrors with `list_reduce`.
  */
object VectorFunctions {

  def cosine(a: Column, b: Column): Column = GraftExpressions.cosine_sim(a, b)

  def dot(a: Column, b: Column): Column = GraftExpressions.dot_product(a, b)

  /** Built-in-only cosine: products via zip_with, sequential double fold via
    * aggregate, norms likewise.
    */
  def cosineHof(a: Column, b: Column): Column = {
    def fold(arr: Column): Column =
      aggregate(arr, lit(0.0), (acc, x) => acc + x)
    val prods = zip_with(a, b, (x, y) => x.cast("double") * y.cast("double"))
    val sqA = transform(a, x => x.cast("double") * x.cast("double"))
    val sqB = transform(b, x => x.cast("double") * x.cast("double"))
    fold(prods) / (sqrt(fold(sqA)) * sqrt(fold(sqB)))
  }

  /** The deterministic hyperplane weight `w(p, j)` shared with the LSH
    * kernel ([[Kernels.planeWeight]] / `OracleFragments.planeWeight`) as
    * pure Column arithmetic: two multiplicative rounds with xor-shift
    * mixing, mapped to `[−0.5, 0.5)`. Same bits, same fold — so any
    * operator built on it replays exactly in the DuckDB oracle.
    */
  def planeWeight(p: Column, j: Column, dim: Int): Column = {
    val idx = p.cast("long") * lit(dim.toLong) + j.cast("long")
    val h1 = (idx * lit(2654435761L)) % lit(2147483648L)
    val h2 = h1.bitwiseXOR(shiftright(h1, 15))
    val h3 = (h2 * lit(48271L)) % lit(2147483648L)
    val h4 = h3.bitwiseXOR(shiftright(h3, 13))
    (h4 % lit(1000003L)).cast("double") / lit(1000003.0) - lit(0.5)
  }

  /** Johnson-Lindenstrauss RANDOM PROJECTION: `dim`-d vector → `outDim`
    * floats, row p of the projection matrix being the [[planeWeight]]
    * hyperplane — the dimensionality-reduction lever in front of the
    * ANN/dedup stack (project once at ingest, run every downstream
    * cosine at outDim/dim of the flops and bytes). Deterministic and
    * data-independent: no fit step, any two engines (and any two
    * corpora) build the identical matrix from the plane index alone.
    * Each output component folds in input order, so the whole transform
    * is oracle-exact.
    */
  def randomProjection(vec: Column, outDim: Int, dim: Int): Column = {
    require(outDim >= 1, s"need outDim >= 1, got $outDim")
    transform(
      sequence(lit(0), lit(outDim - 1)),
      p =>
        aggregate(
          zip_with(
            vec,
            sequence(lit(0), lit(dim - 1)),
            (x, j) => x.cast("double") * planeWeight(p, j, dim)
          ),
          lit(0.0),
          (acc, t) => acc + t
        ).cast("float")
    )
  }

  /** Multi-table random-hyperplane LSH signature (array<long>, one packed
    * bucket per table) — codegen'd expression over the shared deterministic
    * xor-shift plane generator ([[Kernels.planeWeight]]). See
    * [[graft.operators.Similarity]] for the probing scheme.
    */
  def lshBuckets(vec: Column, tables: Int, planesPerTable: Int, dim: Int): Column =
    GraftExpressions.lsh_buckets(vec, tables, planesPerTable, dim)

  /** Built-in-only (interpreted HOF) mirror of [[lshBuckets]], with the
    * plane weights embedded as literals from the same kernel — kept solely
    * so tests can prove the codegen'd expression and the composable form
    * bucket identically.
    */
  def lshBucketsHof(vec: Column, tables: Int, planesPerTable: Int, dim: Int): Column = {
    def planeDot(p: Int): Column = {
      val w = Array.tabulate(dim)(j => Kernels.planeWeight(p, j, dim))
      aggregate(
        zip_with(vec, lit(w), (x, ww) => x.cast("double") * ww),
        lit(0.0),
        (s, x) => s + x
      )
    }
    val buckets = (0 until tables).map { t =>
      (0 until planesPerTable)
        .map(j =>
          when(planeDot(t * planesPerTable + j) >= lit(0.0), lit(1L << j)).otherwise(lit(0L))
        )
        .reduce(_ + _)
    }
    array(buckets: _*)
  }
}
