package graft

import graft.operators.{Dedup, DriverRegime}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.load(spark, Sf0001, "documents")

  test("exact dedup: one representative per distinct text, min id, idempotent") {
    val deduped = Dedup.exact(docs)
    val distinctTexts = docs.select("text").distinct().count()
    assert(deduped.count() == distinctTexts)
    // idempotence: dedup of an already-unique corpus is the identity (by count)
    val uniq = docs
      .join(deduped.withColumnRenamed("canonical_id", "doc_id"), "doc_id")
      .select("doc_id", "text")
    assert(Dedup.exact(uniq).count() == uniq.count())
    // n_copies sums back to the corpus size
    assert(deduped.agg(sum("n_copies")).as[Long].head() == docs.count())
  }

  test("minhashPairs finds a planted near-duplicate and nothing else") {
    val a = "the quick brown fox jumps over the lazy dog again and again every day"
    val aNear = "the quick brown fox jumps over the lazy cat again and again every day"
    val b = "completely different content about spark catalyst optimizer internals"
    val c = "yet another unrelated document mentioning parquet row groups and pages"
    val df = Seq((0L, a), (1L, aNear), (2L, b), (3L, c)).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(df, 0.5).select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.toSet == Set((0L, 1L)))
  }

  test("identical documents reach jaccard 1.0 through the banding path") {
    val t = "spark native engine with oracle verified operators at scale"
    val df = Seq((10L, t), (20L, t)).toDF("doc_id", "text")
    val got = Dedup.minhashPairs(df, 0.99).select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect()
    assert(got.toSeq == Seq((10L, 20L, 1.0)))
  }

  test("ngramJaccardPairs: every returned pair meets the threshold") {
    val pairs = Dedup.ngramJaccardPairs(docs, 0.5)
    assert(pairs.filter(col("jaccard") < 0.5).count() == 0)
  }

  test("block-matrix embedding pairs == naive all-pairs (triangle join is complete)") {
    val emb = Tables.load(spark, Sf0001, "embeddings")
    // naive: unblocked all-pairs cross join (fixture-scale oracle)
    val e = emb.select(col("vec_id"), col("embedding"))
    val naive = e.as("l")
      .join(e.as("r"), col("l.vec_id") < col("r.vec_id"))
      .select(
        col("l.vec_id").as("vec_a"),
        col("r.vec_id").as("vec_b"),
        round(graft.functions.VectorFunctions.cosine(col("l.embedding"), col("r.embedding")), 6)
          .as("cosine")
      )
      .filter(col("cosine") >= 0.3)
    val blocked = Dedup.embeddingPairs(emb, 0.3, blocks = 5)
    val nv = naive.as[(Long, Long, Double)].collect().toSet
    val bl = blocked.as[(Long, Long, Double)].collect().toSet
    assert(bl == nv, s"blocked ${bl.size} vs naive ${nv.size}")
  }

  test("jaccard kernel == HOF form bit-for-bit on fixture shingle sets") {
    val sets = docs.select(
      col("doc_id"),
      array_distinct(
        graft.functions.TextFunctions.shingleHashes(col("text"), Dedup.ShingleK)
      ).as("sh")
    )
    val both = sets.as("l").join(sets.as("r"), col("l.doc_id") < col("r.doc_id")).limit(2000)
      .select(
        Dedup.jaccard(col("l.sh"), col("r.sh")).as("expr"),
        Dedup.jaccardHof(col("l.sh"), col("r.sh")).as("hof")
      )
    assert(both.filter(col("expr") =!= col("hof")).count() == 0)
  }

  test("clusters: transitive near-dups collapse to one min-id cluster; singletons self-label") {
    val base = "the quick brown fox jumps over the lazy dog again and again every single day"
    val va = base
    val vb = base.replace("dog", "cat") // near a
    val vc = base.replace("dog", "cat").replace("quick", "swift") // near b, farther from a
    val other = "completely unrelated text about catalyst optimizer rules and parquet layouts"
    val df = Seq((5L, va), (3L, vb), (9L, vc), (7L, other)).toDF("doc_id", "text")
    val got = Dedup.clusters(df, 0.5).as[(Long, Long)].collect().toMap
    // a~b and b~c but maybe not a~c directly: transitivity must still join all three
    assert(got(5L) == 3L && got(3L) == 3L && got(9L) == 3L, s"chain collapsed to min id: $got")
    assert(got(7L) == 7L, "singleton keeps its own label")
  }

  test("deep chain: one min-id component in both regimes; 1 round fails") {
    // a 150-doc revision chain: doc i = tokens w_i..w_59+i, so docs within
    // 6 positions are near-dups — component diameter ~25 edge hops
    val chain = (0 until 150).map { i =>
      (i.toLong, (i until i + 60).map(j => s"w$j").mkString(" "))
    }.toDF("doc_id", "text")
    val driver = Dedup.clusters(chain, 0.8).as[(Long, Long)].collect().toMap
    assert(driver.size == 150 && driver.values.forall(_ == 0L), "one component, labeled by min id 0")
    withConf(DriverRegime.MaxRowsKey -> "0") {
      val star = Dedup.clusters(chain, 0.8, maxRounds = 15).as[(Long, Long)].collect().toMap
      assert(star == driver, "the star contraction gives the union-find's labels")
      // one round cannot contract a chain this deep: FAIL LOUDLY, never
      // emit a truncated (silently wrong) labelling
      intercept[IllegalArgumentException] {
        Dedup.clusters(chain, 0.8, maxRounds = 1).collect()
      }
    }
    // both regimes agree on the real fixture corpus too
    val a = Dedup.clusters(docs, 0.8).as[(Long, Long)].collect().toSet
    val b = withConf(DriverRegime.MaxRowsKey -> "0")(Dedup.clusters(docs, 0.8).as[(Long, Long)].collect().toSet)
    assert(a == b)
  }

  test("componentsOf regime equality: driver union-find == distributed star contraction") {
    // the r18 two-regime split (small edge frames answer on the driver,
    // large ones run the star loop) must be invisible in the labels:
    // both regimes compute min-member-per-component, a graph invariant.
    // Graph shapes chosen to stress both: a deep chain (diameter ~ n), a
    // clique (diameter 1), disjoint pairs, a hub star, and a seeded
    // random graph; ids deliberately non-contiguous and out of order.
    def labelsOf(edges: Seq[(Long, Long)], driverMax: Long): Map[Long, Long] =
      withConf(DriverRegime.MaxRowsKey -> driverMax.toString) {
        Dedup.componentsOf(edges.toDF("u", "v")).as[(Long, Long)].collect().toMap
      }
    val chain = (0 until 80).map(i => (i * 7L + 3, (i + 1) * 7L + 3))
    val clique = for (a <- 0 until 12; b <- a + 1 until 12) yield (1000L + a, 1000L + b)
    val pairs = (0 until 20).map(i => (2000L + 2 * i, 2001L + 2 * i))
    val hub = (1 to 25).map(i => (3000L + i, 3000L))
    val rnd = new scala.util.Random(42)
    val random = (0 until 300).map(_ => (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
    for (g <- Seq(chain, clique, pairs, hub, random, chain ++ clique ++ pairs ++ hub)) {
      val driver = labelsOf(g, Long.MaxValue)
      val distributed = labelsOf(g, 0L)
      assert(driver == distributed, s"regime labels diverged on ${g.take(3)}...")
      // and the labels really are the min member of each component
      val byCluster = driver.groupBy(_._2).view.mapValues(_.keys.min).toMap
      assert(byCluster.forall { case (label, minMember) => label == minMember })
    }
    // self-loop-only vertices vanish in BOTH regimes (sym filters u == v)
    val selfOnly = labelsOf(Seq((5L, 5L), (7L, 8L)), Long.MaxValue)
    assert(selfOnly == labelsOf(Seq((5L, 5L), (7L, 8L)), 0L))
    assert(selfOnly == Map(7L -> 7L, 8L -> 7L))
  }

  /** A 60-token sliding window: windows 3 apart share 3-shingle Jaccard
    * 0.90, 5 apart 0.84, 10 apart 0.70 — near-dups at 0.8 only up to 5. */
  private def window(prefix: String, from: Int): String =
    (from until from + 60).map(j => s"$prefix$j").mkString(" ")

  /** Crafted clusters for [[Dedup.keepNearBest]], each pinning one rule
    * of the `max(struct(score, -id))` pick, with the score looked up by
    * text (absent = NULL). Survivors: 2, 10, 30, 41, 51, both rows of 60,
    * 70 and 80.
    */
  private lazy val nearBestCase: (DataFrame, Column => Column) = {
    val rows = Seq[(java.lang.Long, String, Option[Double])](
      (1L, window("a", 0), Some(0.5)), // chain 1~2~3 (1 and 3 are not a pair): 2 scores best
      (2L, window("a", 5), Some(0.9)),
      (3L, window("a", 10), Some(0.7)),
      (10L, window("b", 0), Some(0.6)), // equal scores: the min id wins
      (11L, window("b", 3), Some(0.6)),
      (30L, window("c", 0), Some(-0.0)), // -0.0 == 0.0: a tie, the min id wins
      (31L, window("c", 3), Some(0.0)),
      (40L, window("d", 0), Some(5.0)), // NaN is the highest score
      (41L, window("d", 3), Some(Double.NaN)),
      (50L, window("e", 0), None), // NULL is the lowest score
      (51L, window("e", 3), Some(-1.0)),
      (60L, window("f", 0), Some(0.1)), // a duplicated id scores by its best row
      (60L, window("g", 0), Some(0.9)),
      (61L, window("f", 3), Some(0.5)),
      (70L, null, None), // NULL text: in no pair
      (80L, window("h", 0), Some(0.3)), // singleton
      (null, window("i", 0), Some(1.0)) // NULL id: never survives
    )
    val scoreOf = (t: Column) =>
      rows.collect { case (_, text, Some(s)) if text != null => (text, s) }
        .foldLeft(lit(null).cast("double")) { case (rest, (text, s)) =>
          when(t === text, lit(s)).otherwise(rest)
        }
    (rows.map(r => (r._1, r._2)).toDF("doc_id", "text"), scoreOf)
  }

  private def sortedRows(df: DataFrame): Seq[(Option[Long], Option[String])] =
    df.as[(Option[Long], Option[String])].collect().toSeq.sorted

  test("keepNearBest regime equality: collected pick == dedupNearBest semi join, row for row") {
    val (crafted, scoreOf) = nearBestCase
    def keep(df: DataFrame, cap: Long) =
      withConf(DriverRegime.MaxRowsKey -> cap.toString) {
        sortedRows(Dedup.keepNearBest(df, 0.8, scoreOf = scoreOf))
      }
    val collected = keep(crafted, 1L << 19)
    assert(collected == keep(crafted, 0L), "regimes diverged")
    assert(
      collected.map(_._1.get) == Seq(2L, 10L, 30L, 41L, 51L, 60L, 60L, 70L, 80L),
      s"survivors: $collected"
    )
    // the default quality score on the fixture corpus
    def fixture(cap: Long) =
      withConf(DriverRegime.MaxRowsKey -> cap.toString) {
        sortedRows(Dedup.keepNearBest(docs.select("doc_id", "text"), 0.8))
      }
    assert(fixture(1L << 19) == fixture(0L))
    // zero verified pairs: docs back without a scoring action (the one
    // action is the pair collect); the empty frame likewise
    val noPairs = crafted.filter(col("doc_id").isin(1L, 10L, 70L, 80L) || col("doc_id").isNull)
    var kept: DataFrame = null
    assert(actionsIn { kept = Dedup.keepNearBest(noPairs, 0.8, scoreOf = scoreOf) } === 1)
    assert(sortedRows(kept) == keep(noPairs, 0L))
    assert(sortedRows(kept).map(_._1.get) == Seq(1L, 10L, 70L, 80L))
    val empty = crafted.filter(lit(false))
    assert(keep(empty, 1L << 19).isEmpty && keep(empty, 0L).isEmpty)
  }

  test("keepNearBest shape: the collected survivor plan has no aggregate and no shuffle") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val (crafted, scoreOf) = nearBestCase
    def heavyNodes(df: DataFrame): Seq[SparkPlan] = {
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      plan.collect { case n @ (_: BaseAggregateExec | _: ShuffleExchangeExec) => n }
    }
    val pairRows = Dedup.minhashPairs(crafted, 0.8).count()
    var collected: DataFrame = null
    // two actions: the pair collect and the score collect of the clustered ids
    val actions = withConf(DriverRegime.MaxRowsKey -> pairRows.toString) {
      actionsIn { collected = Dedup.keepNearBest(crafted, 0.8, scoreOf = scoreOf) }
    }
    assert(actions === 2)
    assert(heavyNodes(collected).isEmpty, collected.queryExecution.executedPlan.toString)
    // one pair row under the cap: the dedupNearBest path with its aggregate
    val over = withConf(DriverRegime.MaxRowsKey -> (pairRows - 1).toString) {
      Dedup.keepNearBest(crafted, 0.8, scoreOf = scoreOf)
    }
    assert(heavyNodes(over).nonEmpty)
    assert(sortedRows(over) == sortedRows(collected))
  }

  test("dedupNear default survives a chain deeper than propagation's 64-round budget") {
    // 420 sliding windows, near-dup links only within 6 positions
    // ((58-j)/(58+j) >= 0.8 iff j <= 6) — one component of edge-hop
    // diameter ~70 > the propagation default maxRounds=64. The default
    // star-contraction path must dedup it to a single representative.
    val chain = (0 until 420).map { i =>
      (i.toLong, (i until i + 60).map(j => s"w$j").mkString(" "))
    }.toDF("doc_id", "text")
    val got = Dedup.dedupNear(chain, 0.8).as[(Long, Long)].collect().toSeq
    assert(got == Seq((0L, 420L)), s"expected one min-id representative, got $got")
  }

  test("dedupAgainst admits only delta docs with no near-dup in the corpus") {
    val corpusText = "the quick brown fox jumps over the lazy dog again and again every day"
    val nearText = corpusText.replace("dog", "cat") // near-dup of the corpus doc
    val freshText = "completely different content about catalyst optimizer internals and codegen"
    val corpus = Seq((100L, corpusText), (101L, "some other corpus document entirely")).toDF("doc_id", "text")
    val delta = Seq(
      (1L, corpusText), // exact dup of corpus -> dropped
      (2L, nearText), // near-dup of corpus -> dropped
      (3L, freshText) // novel -> admitted
    ).toDF("doc_id", "text")
    val admitted = Dedup.dedupAgainst(delta, corpus, 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(admitted == Set(3L), s"expected only the novel doc, got $admitted")
    // one-sided contract: an empty corpus admits everything
    val emptyCorpus = corpus.filter(col("doc_id") < 0)
    assert(Dedup.dedupAgainst(delta, emptyCorpus, 0.5).count() == 3)
  }

  test("chunks covers every token with the declared overlap and tail semantics") {
    import graft.functions.TextFunctions
    val text = (1 to 10).map(i => s"w$i").mkString(" ") // 10 tokens
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val got = df.select(TextFunctions.chunks(col("text"), 4, 1).as("c"))
      .select(explode(col("c"))).as[String].collect().toSeq
    // step 3: starts 0,3,6,9 -> 4 chunks, last one short
    assert(got == Seq("w1 w2 w3 w4", "w4 w5 w6 w7", "w7 w8 w9 w10", "w10"))
  }

  test("dedupNearBest keeps the argmax-quality member (min-id tiebreak) per cluster") {
    import graft.functions.TextFunctions
    import org.apache.spark.sql.expressions.Window
    val best = Dedup.dedupNearBest(docs, 0.8)
    // independent oracle: clustering + window argmax (score DESC, doc_id ASC)
    val cl = Dedup.clusters(docs, 0.8)
    val scored = docs.select(col("doc_id"), TextFunctions.qualityScoreFused(col("text")).as("score"))
    val w = Window.partitionBy(col("cluster_id")).orderBy(col("score").desc, col("doc_id"))
    val expected = cl
      .join(scored, "doc_id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id"), col("score"))
      .as[(Long, Long, Double)].collect().toSet
    val got = best.select(col("cluster_id"), col("doc_id"), col("score"))
      .as[(Long, Long, Double)].collect().toSet
    assert(got == expected)
    // representatives cover every cluster exactly once
    assert(best.count() == cl.select("cluster_id").distinct().count())
  }

  test("simhashPairs hamming bound holds and pairs are bucket-consistent") {
    val pairs = Dedup.simhashPairs(docs, 4)
    assert(pairs.filter(col("hamming") > 4).count() == 0)
  }

  test("simhash fingerprints carry entropy in ALL 32 bits (remix regression)") {
    // polyHash < 2^30, so voting on raw polyHash bits pins bits 30-31 to
    // zero for EVERY document — which collapsed the top pigeonhole band
    // into one bucket holding the whole corpus (19.4B candidate pairs at
    // 200k docs). The remix32 stage must make every bit vary somewhere.
    val sh = Dedup.simhash(docs).persist()
    try {
      (0 until 32).foreach { b =>
        val set = sh.filter(expr(s"(simhash >> $b) % 2 = 1")).count()
        val n = sh.count()
        assert(set > 0 && set < n, s"bit $b is constant across the corpus ($set/$n set)")
      }
    } finally sh.unpersist()
  }

  test("simhashPairs triangle blocking == naive all-pairs hamming join (skewed corpus)") {
    // near-identical docs pile into the same band buckets — the skew case
    // the triangle join exists for; maxHamming 31 = 32 one-bit bands, the
    // widest explode the banding generator produces
    val t = "alpha beta gamma delta epsilon zeta eta theta"
    val df = (0L until 60L).map(i => (i, if (i % 3 == 0) t else s"$t extra$i")).toDF("doc_id", "text")
    val blocked = Dedup.simhashPairs(df, 31, blocks = 7)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val sh = Dedup.simhash(df)
    val naive = sh.as("l")
      .join(sh.as("r"), expr("l.doc_id < r.doc_id AND bit_count(l.simhash ^ r.simhash) <= 31"))
      .select(col("l.doc_id"), col("r.doc_id")).as[(Long, Long)].collect().toSet
    assert(blocked == naive, s"blocked ${blocked.size} vs naive ${naive.size}")
  }

  test("simhashPairsOf pigeonhole banding is COMPLETE, including low-bit-only diffs") {
    // handcrafted bit patterns: the round-2 single-band generator bucketed
    // on simhash >> 16 and silently missed every pair whose differing bits
    // all fell below bit 16 — exactly what docs 1-2, 1-3, 2-3 plant here
    val x = 0x5AC3A5F1L
    val vals = Seq(
      1L -> x,
      2L -> (x ^ 1L), // hamming 1, lowest bit
      3L -> (x ^ ((1L << 1) | (1L << 14))), // hamming 2, both diffs in low 16 bits
      4L -> (x ^ (1L << 31)), // hamming 1, highest bit
      5L -> (x ^ ((1L << 3) | (1L << 29))), // hamming 2, straddling bands
      6L -> (x ^ 0xFFL) // hamming 8 vs doc 1 — excluded
    )
    val byId = vals.toMap
    val expected = (for {
      (a, va) <- vals
      (b, vb) <- vals
      if a < b
      h = java.lang.Long.bitCount(va ^ vb).toLong
      if h <= 2
    } yield (a, b, h)).toSet
    // regression guard: the fixture MUST exercise a pair whose xor sits
    // entirely below bit 16 (otherwise this test can't catch the r02 bug)
    assert(expected.exists { case (a, b, _) => (byId(a) ^ byId(b)) < (1L << 16) })
    val got = Dedup
      .simhashPairsOf(vals.toDF("doc_id", "simhash"), 2, blocks = 3)
      .as[(Long, Long, Long)]
      .collect()
      .toSet
    assert(got == expected, s"got $got expected $expected")
  }

  test("splitByCluster: no near-dup cluster straddles train and val") {
    val split = Dedup.splitByCluster(docs, 0.5, 80)
    val straddlers = split
      .groupBy("cluster_id")
      .agg(countDistinct(col("split")).as("sides"))
      .filter(col("sides") > 1)
      .count()
    assert(straddlers === 0L, "a cluster assigned to both sides leaks near-dups into val")
    // every document appears exactly once
    assert(split.count() === docs.count())
    assert(split.select("doc_id").distinct().count() === docs.count())
  }

  test("splitByCluster: side == splitAssign of the cluster REPRESENTATIVE's text") {
    import graft.functions.TextFunctions
    val split = Dedup.splitByCluster(docs, 0.5, 80)
    val repSide = docs.select(
      col("doc_id").as("cluster_id"),
      TextFunctions.splitAssign(col("text"), 80).as("rep_side")
    )
    val mismatches = split
      .join(repSide, "cluster_id")
      .filter(col("split") =!= col("rep_side"))
      .count()
    assert(mismatches === 0L)
  }

  test("splitByCluster: co-assigns a crafted near-dup pair the plain hash split separates") {
    // two 40-token docs differing in ONE token are jaccard >= 0.8 near-dups;
    // with distinct texts their per-doc hashes will, for SOME suffix, land
    // on opposite sides of the 80% line — find such a pair deterministically
    import graft.functions.TextFunctions
    val base = (0 until 40).map(i => s"w$i").mkString(" ")
    val candidates = (0 until 50).map { salt =>
      (salt, s"$base end$salt", s"$base changed$salt")
    }
    val cdf = candidates
      .flatMap { case (s, a, b) => Seq((s, 0L, a), (s, 1L, b)) }
      .toDF("salt", "doc_id", "text")
      .select(col("salt"), col("doc_id"), col("text"), TextFunctions.splitAssign(col("text"), 80).as("side"))
    val splitSalt = cdf
      .groupBy("salt")
      .agg(countDistinct(col("side")).as("sides"))
      .filter(col("sides") === 2)
      .select("salt")
      .as[Int]
      .head()
    // this pair: plain hash split separates them...
    val pair = candidates.find(_._1 == splitSalt).get
    val pairDf = Seq((0L, pair._2), (1L, pair._3)).toDF("doc_id", "text")
    // ...but the cluster split keeps them together
    val together = Dedup.splitByCluster(pairDf, 0.8, 80)
    assert(together.select("split").distinct().count() === 1L)
    assert(together.select("cluster_id").distinct().count() === 1L, "sanity: they do cluster")
  }

  test("dedupNearCentral: the hub wins a star cluster even with the LARGEST id; one keep per cluster") {
    // a star over SHINGLE jaccard: each variant edits ONE token at its
    // own interior position — 3 of 48 k=3 shingles change, so
    // hub-variant jaccard = 45/51 ≈ 0.88 ≥ 0.8, while two variants
    // differ in TWO positions (42/54 ≈ 0.78 < 0.8) — the near-dup graph
    // is hub-centered. The hub gets the LARGEST id: the min-id policy
    // (q36) would pick variant 0; the centrality policy must pick the
    // hub — that's the semantics it adds.
    val base = (0 until 50).map(i => s"w$i").toArray
    def variant(i: Int): String = {
      val t = base.clone()
      t(5 + i * 10) = s"v$i"
      t.mkString(" ")
    }
    val crafted = ((0 until 4).map(i => (i.toLong, variant(i))) :+
      (99L, base.mkString(" ")) :+ // the hub, largest id
      (500L, (100 until 150).map(i => s"z$i").mkString(" "))) // singleton
      .toDF("doc_id", "text")
    val out = Dedup.dedupNearCentral(crafted, 0.8).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("cluster_id"), r.getAs[Long]("cent_micro"), r.getAs[Boolean]("keep"))))
      .toMap
    // one star cluster (labelled by its min member 0) + one singleton
    assert(out(99L)._1 === 0L)
    assert(out(99L)._3 === true, "the hub must be the representative")
    (0L until 4L).foreach(i => assert(out(i)._3 === false))
    assert(out(500L)._3 === true, "a singleton keeps itself")
    // hub centrality strictly above every leaf's
    (0L until 4L).foreach(i => assert(out(99L)._2 > out(i)._2))
    // exactly one keep per cluster
    val byCluster = out.values.groupBy(_._1)
    byCluster.foreach { case (c, members) =>
      assert(members.count(_._3) === 1, s"cluster $c keep count")
    }
    // cluster labels agree with the gated clustering path
    val labels = Dedup.clusters(crafted, 0.8)
      .as[(Long, Long)].collect().toMap
    out.foreach { case (id, (c, _, _)) => assert(labels(id) === c) }
  }
}
