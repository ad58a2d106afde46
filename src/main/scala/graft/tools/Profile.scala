package graft.tools

import graft._
import graft.functions.GraftExpressions
import graft.sources.Tables
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Dev profiler: times the stages of the heaviest pipelines so regressions
  * are attributable to a stage, not a query. Run with the usual classpath
  * (classes + the spark jars dir): `java -cp ... graft.tools.Profile [sfDir]`.
  */
object Profile {

  /** `Profile pipeline [nDocs]` — per-stage wall times of the COMPOSED
    * pipeline on the ScaleSmoke synthetic corpus, to attribute composed
    * cost to a stage when the end-to-end number moves.
    */
  private def pipelineMain(args: Array[String]): Unit = {
    val n = if (args.length > 1) args(1).toLong else 500000L
    val spark = GraftSession.local("prof-pipeline", 32)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import graft.functions.TextFunctions
    import graft.operators.{Dedup, Pipeline, Sampling, SequencePack}
    def mix(x: Long): Long = {
      var h = (x * 2654435761L) % 2147483648L
      h = h ^ (h >> 15); h = (h * 48271L) % 2147483648L; h ^ (h >> 13)
    }
    def genText(id: Long): String =
      (0 until 50).map(i => s"tok${mix(id * 53L + i) % 5000L}").mkString(" ")
    val docs = spark
      .range(n)
      .map { id =>
        val text =
          if (id % 100 == 1) {
            val toks = genText(id - 1).split(" "); toks(3) = "swapped"; toks.mkString(" ")
          } else genText(id)
        (id, (id % 5).toString, text)
      }
      .toDF("doc_id", "lang", "text")
      .persist()
    println(s"[pprof] corpus ${docs.count()}")
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val r = f
      println(f"[pprof] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$r")
    }
    val cfg = Pipeline.Config(perGroupN = 1000)
    val scrubbed = docs.select(col("doc_id"), col("lang"), TextFunctions.scrub(col("text")).as("text"))
    val qualified = scrubbed.filter(TextFunctions.qualityScoreFused(col("text")) >= cfg.minQuality)
    time("quality gate")(qualified.count())
    var exactKept: org.apache.spark.sql.DataFrame = null
    time("exact dedup + checkpoint") {
      exactKept = qualified
        .groupBy(col("text"))
        .agg(min_by(struct(col("doc_id"), col("lang")), col("doc_id")).as("__keeper"))
        .select(col("__keeper.doc_id"), col("__keeper.lang"), col("text"))
        .localCheckpoint(true)
      exactKept.count()
    }
    var reps: org.apache.spark.sql.DataFrame = null
    time("near-dedup best (cluster+argmax)") {
      reps = Dedup.dedupNearBest(exactKept, cfg.nearDupThreshold).select(col("doc_id"))
      reps.count()
    }
    var survivors: org.apache.spark.sql.DataFrame = null
    time("survivors checkpoint") {
      survivors = exactKept.join(reps, Seq("doc_id"), "left_semi").localCheckpoint(true)
      survivors.count()
    }
    time("balanced sample") {
      Sampling.balanced(survivors, "lang", cfg.perGroupN, "text").count()
    }
    time("chunk+pack of sampled") {
      val picks = Sampling.balanced(survivors, "lang", cfg.perGroupN, "text").select(col("doc_id"))
      val sampled = survivors.join(picks, Seq("doc_id"), "left_semi")
      SequencePack.pack(sampled, cfg.budget, cfg.chunkSize, cfg.overlap, carry = Seq("lang")).count()
    }
    spark.stop()
  }

  /** `Profile micro [nDocs]` — isolates the per-row cost of the quality
    * gate's expression shapes. FilterExec generates its predicate without
    * subexpression elimination, so a predicate containing k `getField`s
    * over one `text_stats(scrub(text))` struct evaluates the kernel (and
    * the scrub regexes inside it) k times per row; ProjectExec CSEs the
    * same shape to one evaluation. These timings pin that asymmetry.
    */
  private def microMain(args: Array[String]): Unit = {
    val n = if (args.length > 1) args(1).toLong else 200000L
    val spark = GraftSession.local("prof-micro", 32)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import graft.functions.TextFunctions
    def mix(x: Long): Long = {
      var h = (x * 2654435761L) % 2147483648L
      h = h ^ (h >> 15); h = (h * 48271L) % 2147483648L; h ^ (h >> 13)
    }
    val docs = spark
      .range(n)
      .map(id => (id, (0 until 50).map(i => s"tok${mix(id * 53L + i) % 5000L}").mkString(" ")))
      .toDF("doc_id", "text")
      .persist()
    println(s"[micro] corpus ${docs.count()}")
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val r = f
      println(f"[micro] $name%-36s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$r")
    }
    time("scan count")(docs.count())
    time("sum(length) scan")(docs.agg(sum(length(col("text")))).count())
    time("scrub-only scan") {
      docs.select(TextFunctions.scrub(col("text")).as("t")).agg(sum(length(col("t")))).count()
    }
    time("quality FILTER (raw text)") {
      docs.filter(TextFunctions.qualityScoreFused(col("text")) >= 0.4275).count()
    }
    time("quality FILTER (scrubbed)") {
      docs
        .select(col("doc_id"), TextFunctions.scrub(col("text")).as("text"))
        .filter(TextFunctions.qualityScoreFused(col("text")) >= 0.4275)
        .count()
    }
    time("quality PROJECT then agg") {
      docs
        .select(TextFunctions.qualityScoreFused(TextFunctions.scrub(col("text"))).as("q"))
        .agg(sum(col("q"))).count()
    }
    spark.stop()
  }

  /** Decompose [[graft.operators.Decontaminate.overlapReport]] at two
    * corpus sizes INSIDE ONE JVM — same host conditions, warm JIT on the
    * second pass — to separate algorithmic scaling from run-to-run host
    * variance (the corpus smoke showed a 16→146 s swing on identical
    * 200k inputs).
    */
  private def deconMain(args: Array[String]): Unit = {
    val spark = GraftSession.local("prof-decon", 32)
    import spark.implicits._
    def mix(x: Long): Long = {
      var h = (x * 2654435761L) % 2147483648L
      h = h ^ (h >> 15); h = (h * 48271L) % 2147483648L; h ^ (h >> 13)
    }
    def genText(id: Long): String =
      (0 until 50).map(i => "tok" + (mix(id * 53L + i) % 5000L)).mkString(" ")
    val banner = "cookie notice accept all terms privacy policy applies here now"
    def corpus(n: Long) = spark
      .range(n)
      .map { id =>
        val b = genText(id); (id, if (id % 5 == 0) s"$b $banner" else b)
      }
      .toDF("doc_id", "text")
      .persist()
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"[decon] $name%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
    }
    Seq(100000L, 200000L).foreach { n =>
      val docs = corpus(n)
      println(s"[decon] ==== n=$n (docs=${docs.count()})")
      val bench = docs.filter(col("doc_id") % 100 === 0).select("doc_id", "text")
      (1 to 2).foreach { pass =>
        time(s"corpus explode only (pass $pass)") {
          docs
            .select(explode(graft.functions.TextFunctions.shingleHashes(col("text"), 5)).as("gh"))
            .count()
        }
        time(s"index build only (pass $pass)") {
          graft.operators.Decontaminate.benchmarkIndex(bench, 5).count()
        }
        time(s"full overlapReport (pass $pass)") {
          graft.operators.Decontaminate.overlapReport(docs, bench, 5).count()
        }
      }
      docs.unpersist()
    }
    spark.stop()
  }

  /** `Profile fileio [sfDir] [reps]` — stage decomposition of the two
    * standing fileio-family flags (VERDICT r17 №2/№3): q105's ORC
    * round-trip split into write / read-back digest / shard listing
    * (plus a parquet write of the SAME frame and a snappy ORC write, to
    * separate "ORC path" from "this disk"), and q53's bucketed join
    * split into the two saveAsTable writes and the join+agg read. Each
    * stage runs `reps` times with min/median printed and the window's
    * iowait share next to it — the flags' rep MINIMA were elevated on
    * the official board, so the question is WHICH stage carries the
    * elevation and whether the disk was loaded while it did.
    */
  private def fileioMain(args: Array[String]): Unit = {
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 5
    val spark = GraftSession.local("prof-fileio", 32)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-fileio-prof").toString
    def time(name: String)(f: => Unit): Unit = {
      val ts = (1 to reps).map { _ =>
        val h0 = Bench.sampleHost()
        val t0 = System.nanoTime()
        f
        val w = (System.nanoTime() - t0) / 1e9
        (w, Bench.iowaitPct(h0, Bench.sampleHost()))
      }
      val sorted = ts.map(_._1).sorted
      println(
        f"[fileio] $name%-34s min=${sorted.head}%6.3f med=${sorted(reps / 2)}%6.3f " +
          f"max=${sorted.last}%6.3f  iowait med=${ts.map(_._2).sorted.apply(reps / 2)}%5.1f%%"
      )
    }
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
      .coalesce(1)
      .persist()
    val nShards = (docs.count() + 99L) / 100L
    println(s"[fileio] docs=${docs.count()} -> $nShards shards of <=100 rows (the q105 shape)")
    time("q105a orc write (zlib, 100/file)") {
      graft.sources.OrcSink.write(docs, s"$tmp/orc", maxRecordsPerFile = 100L)
    }
    time("q105a' orc write (snappy)") {
      graft.sources.OrcSink.write(docs, s"$tmp/orcsnappy", maxRecordsPerFile = 100L, codec = "snappy")
    }
    time("q105a'' parquet write (same frame)") {
      docs.write.mode("overwrite").option("maxRecordsPerFile", 100L).parquet(s"$tmp/parq")
    }
    time("q105b orc read-back digest") {
      graft.sources.OrcSink
        .read(spark, s"$tmp/orc", Some("doc_id BIGINT, lang STRING, text STRING"))
        .select(graft.functions.GraftExpressions.poly_hash(col("text")).as("ph"))
        .agg(org.apache.spark.sql.functions.expr("bit_xor(ph)"))
        .collect()
      ()
    }
    time("q105c shard listing") {
      val n = graft.sources.OrcSink.shardCount(spark, s"$tmp/orc")
      require(n == nShards, s"expected $nShards shards, got $n")
    }
    val orders = Tables.load(spark, dir, "orders")
    val customer = Tables.load(spark, dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
    time("q53a bucketed write orders (150k)") {
      graft.sources.Layouts.writeBucketed(orders, "graft_prof_orders", 8, "o_custkey")
    }
    time("q53b bucketed write customer (15k)") {
      graft.sources.Layouts.writeBucketed(customer, "graft_prof_customer", 8, "o_custkey")
    }
    time("q53c co-bucketed join+agg read") {
      spark.table("graft_prof_orders")
        .join(spark.table("graft_prof_customer"), "o_custkey")
        .groupBy(col("c_mktsegment"))
        .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)))
        .collect()
      ()
    }
    spark.stop()
  }

  /** `Profile pq [sfDir]` — stage attribution of the q110 ADC chain:
    * trainer materialize, encode, decode, scoring+topk, end to end.
    */
  private def pqMain(args: Array[String]): Unit = {
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession.local("prof-pq", 32)
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.Similarity
    val emb = Tables.loadSpread(spark, dir, "embeddings")
    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[pq] $name%-34s ${(System.nanoTime() - t0) / 1e9}%7.3f s"); r
    }
    // warm codegen/broadcast paths once
    Similarity.annPqAdc(emb, Seq(0L), 3).count()
    val cb = time("trainPq materialize (checkpoint)") {
      val c = Similarity.trainPq(emb, Similarity.PqSubspaces)
      Similarity.PqCodebooks(c.m, c.codebooks.localCheckpoint(true))
    }
    val codes = time("encodePq (checkpoint)") {
      Similarity.encodePq(emb.select(col("vec_id"), col("embedding")), cb).localCheckpoint(true)
    }
    time("decodePq (count)") { Similarity.decodePq(codes, cb).count() }
    time("adcOnCodes scoring+topk (count)") {
      Similarity
        .annPqAdcOnCodes(codes, emb.filter(col("vec_id") < 5), cb, 10)
        .count()
    }
    time("annPqAdc end-to-end (noop)") {
      Similarity
        .annPqAdc(emb, Seq(0L, 1L, 2L, 3L, 4L), 10)
        .write.format("noop").mode("overwrite").save()
    }
    time("annPqAdc end-to-end again") {
      Similarity
        .annPqAdc(emb, Seq(0L, 1L, 2L, 3L, 4L), 10)
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("pipeline")) { pipelineMain(args); return }
    if (args.headOption.contains("micro")) { microMain(args); return }
    if (args.headOption.contains("decon")) { deconMain(args); return }
    if (args.headOption.contains("fileio")) { fileioMain(args); return }
    if (args.headOption.contains("pq")) { pqMain(args); return }
    val spark = GraftSession.local("prof", 32)
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val docs = Tables.load(spark, dir, "documents")
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
    }
    time("shingle_minhash kernel") {
      docs.select(GraftExpressions.shingle_minhash(col("text"), Dedup.ShingleK, Dedup.NumHashes).as("sm"))
        .selectExpr("sum(size(sm.sig))").collect()(0).getLong(0)
    }
    val base = Dedup.shingleSignatures(docs, "text", "doc_id")
    time("signatures (persisted)") { base.count() }
    val bands = Dedup.bandsOf(base, Dedup.Bands, Dedup.RowsPerBand)
    time("bands") { bands.count() }
    time("candidates") {
      bands.as("l")
        .join(bands.as("r"), expr("l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id"))
        .distinct().count()
    }
    base.unpersist()
    time("full minhashPairs") { Dedup.minhashPairs(docs, 0.8).count() }
    time("full ngramJaccardPairs") { Dedup.ngramJaccardPairs(docs, 0.5).count() }
    spark.stop()
  }
}
