package graft

import org.apache.spark.sql.functions._

import graft.functions.{GraftExpressions, TextFunctions}
import graft.operators.{Decontaminate, DriverRegime, Repetition, Sampling, Sketch}

/** Laws of the corpus-hygiene operators added in round 5: benchmark
  * decontamination, within-document repetition metrics, the KMV
  * distinct-count sketch, and weighted mixture sampling.
  */
class CorpusOpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = sources.Tables.load(spark, Sf001, "documents")

  // ----------------------------------------------------------- decontaminate

  private lazy val bucket = GraftExpressions.poly_hash(col("text")) % 10
  private lazy val corpus = docs.filter(bucket < 8)
  private lazy val benchmark = docs.filter(bucket >= 8)

  test("decontaminate: overlapReport == naive string-n-gram intersection") {
    val k = 4
    val naive = corpus
      .select(col("doc_id"), explode(TextFunctions.shingles(col("text"), k)).as("g"))
      .join(
        benchmark
          .select(explode(TextFunctions.shingles(col("text"), k)).as("g"))
          .distinct(),
        Seq("g")
      )
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
    val fast = Decontaminate.overlapReport(corpus, benchmark, k)
    assert(fast.except(naive).count() === 0L && naive.except(fast).count() === 0L)
  }

  test("decontaminate: clean + contaminated partition the corpus") {
    val report = Decontaminate.overlapReport(corpus, benchmark, 4)
    val clean = Decontaminate.clean(corpus, benchmark, 4)
    assert(clean.count() + report.count() === corpus.count())
    // no contaminated doc survives cleaning
    assert(clean.join(report, Seq("doc_id"), "left_semi").count() === 0L)
  }

  test("segment dedup + decontamination: NULL doc ids raise — never a silent keep-race win or exempt row (r18 review)") {
    import graft.operators.SegmentDedup
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    // a NULL-id doc sharing a segment with doc 1: under NULLS-FIRST
    // struct ordering it would WIN the first-occurrence race (cutting
    // the segment from doc 1) while its own copy drops at the
    // null-rejecting keep equality — the text would vanish from both
    val withNull = Seq(
      (Some(1L), "a b c d e f g h"),
      (Option.empty[Long], "a b c d e x y z")
    ).toDF("doc_id", "text")
    for (
      op <- Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
        d => SegmentDedup.segmentOccurrences(d, 4),
        d => SegmentDedup.dedupSegments(d, 4),
        d => SegmentDedup.dropBoilerplateSegments(d, 4, 1L),
        d => SegmentDedup.dedupSubstrings(d, 4),
        d => Decontaminate.clean(d, benchmark, 4),
        d => Decontaminate.redactOverlaps(d, benchmark, 4),
        d => Decontaminate.memorizationProfile(d, benchmark, 4)
      )
    ) {
      val e = intercept[Exception](op(withNull).collect())
      assert(messages(e).exists(_.contains("NULL doc_id")), s"got: ${messages(e)}")
    }
    // clean frames pass the guards untouched
    val cleanDocs = withNull.filter(col("doc_id").isNotNull)
    assert(SegmentDedup.dedupSegments(cleanDocs, 4).count() === 1L)
    assert(Decontaminate.memorizationProfile(cleanDocs, benchmark, 4).count() === 1L)
  }

  test("decontaminate: regime equality — collected-index clean == distributed clean, row for row") {
    // the collected regime answers membership row-locally against the
    // sorted driver copy of the benchmark index; cap 0 runs the former
    // broadcast-join subtree — the kept frames must be identical. The
    // largest cap must collect the whole index, never read a clamped
    // probe as an empty one (which would keep every document)
    def cleanAt(cap: Long) = withConf(DriverRegime.MaxRowsKey -> cap.toString) {
      Decontaminate.clean(corpus, benchmark, 4).collect().toSet
    }
    val viaKernel = Decontaminate.clean(corpus, benchmark, 4).collect().toSet
    assert(viaKernel.size < corpus.count())
    assert(viaKernel === cleanAt(0L))
    assert(viaKernel === cleanAt(Long.MaxValue))
    // and clean + overlapReport still partition the corpus in the kernel regime
    val contaminated = Decontaminate.overlapReport(corpus, benchmark, 4).select("doc_id")
    val kept = Decontaminate.clean(corpus, benchmark, 4).select("doc_id")
    assert(kept.intersect(contaminated).count() === 0L)
    assert(kept.count() + contaminated.count() === corpus.count())
  }

  test("decontaminate: empty benchmark contaminates nothing") {
    val none = Decontaminate.overlapReport(corpus, benchmark.limit(0), 4)
    assert(none.count() === 0L)
    assert(Decontaminate.clean(corpus, benchmark.limit(0), 4).count() === corpus.count())
  }

  test("bpeMerges: reproduces the textbook merge sequence, ties broken lexically") {
    import spark.implicits._
    import graft.operators.Vocabulary
    // the Sennrich toy corpus shape: low:3 lower:1 lowest:1
    val docs = Seq((1L, "low lower lowest low low")).toDF("doc_id", "text")
    val merges = Vocabulary
      .bpeMerges(docs, 5)
      .as[(Long, String, String, Long)]
      .collect()
      .toSeq
    // round 1: (l,o) and (o,w) tie at 5 — lexical tie-break picks (l,o);
    // then (lo,w)=5, (low,e)=2, (lowe,r) vs (lowe,s) tie → r, (lowe,s)
    assert(
      merges === Seq(
        (1L, "l", "o", 5L),
        (2L, "lo", "w", 5L),
        (3L, "low", "e", 2L),
        (4L, "lowe", "r", 1L),
        (5L, "lowe", "s", 1L)
      )
    )
  }

  test("bpeMerges: non-overlapping left-to-right fusion; exhaustion stops early") {
    import spark.implicits._
    import graft.operators.Vocabulary
    // "aaaa" twice: round 1 counts 3 adjacent (a,a) pairs per word but
    // fuses them non-overlapping → [aa, aa]; round 2 fuses (aa, aa);
    // round 3 has no pairs left and must stop instead of looping
    val docs = Seq((1L, "aaaa aaaa")).toDF("doc_id", "text")
    val merges = Vocabulary
      .bpeMerges(docs, 3)
      .as[(Long, String, String, Long)]
      .collect()
      .toSeq
    assert(merges === Seq((1L, "a", "a", 6L), (2L, "aa", "aa", 2L)))
  }

  test("bpeProfile: more merges never grow the encoding; unknown words fall back to chars") {
    import spark.implicits._
    import graft.operators.Vocabulary
    val docs = Seq((1L, "low lower lowest"), (2L, "low low")).toDF("doc_id", "text")
    def subwords(n: Int) = Vocabulary
      .bpeProfile(docs, Vocabulary.bpeSegmentations(docs, n))
      .agg(sum("n_subwords"))
      .as[Long]
      .head()
    val after1 = subwords(1)
    val after5 = subwords(5)
    // chars: low=3, lower=5, lowest=6, low=3, low=3 → 20 before merges;
    // each applied merge can only fuse, never split
    assert(after1 < 20L && after5 < after1)
    // a word the table never saw decomposes to characters
    val seg = Vocabulary.bpeSegmentations(docs, 5)
    val unknown = Vocabulary
      .bpeProfile(Seq((9L, "zebra low")).toDF("doc_id", "text"), seg)
      .as[(Long, Long, Long)]
      .head()
    // zebra → 5 chars; low → its trained decomposition (1 symbol by round 3)
    assert(unknown === ((9L, 2L, 6L)))
  }

  test("collocations: exclusive pairs outrank frequent-but-independent ones; guards hold") {
    import spark.implicits._
    import graft.operators.Vocabulary
    // "new york": 8 occurrences, both words ONLY in the pair -> lift = N/8.
    // "of the": 20 occurrences but of/the appear 60 times each -> lift ~ N*20/3600.
    val text = (Seq.fill(8)("new york") ++ Seq.fill(20)("of the") ++
      Seq.fill(40)("of") ++ Seq.fill(40)("the") ++ Seq.fill(3)("rare gem")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val top = Vocabulary.collocations(docs, k = 10, minCount = 5).collect()
    assert(top.head.getAs[String]("l") === "new")
    assert(top.head.getAs[String]("r") === "york")
    // minCount guard: "rare gem" (3 occurrences) is excluded despite max lift
    assert(!top.exists(r => r.getAs[String]("l") === "rare"))
    top.foreach { r =>
      val (nLr, nL, nR) = (r.getAs[Long]("n_lr"), r.getAs[Long]("n_l"), r.getAs[Long]("n_r"))
      assert(nLr <= math.min(nL, nR), "pair count exceeds a member's count")
      // the integer-rational lift replays by hand
      val nTotal = docs.select(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.split(col("text"), " ")).cast("long")).as[Long].head()
      assert(r.getAs[Long]("lift_micro") === nLr * nTotal * 1000000L / (nL * nR))
    }
  }

  test("subwordVocab + encodeSubwords: dense ids, lossless round-trip, profile law, unk fallback") {
    import spark.implicits._
    import graft.operators.Vocabulary
    val docs = spark.read.parquet(s"$Sf001/documents.parquet").select("doc_id", "text")
    val segs = Vocabulary.bpeSegmentations(docs, 4)
    val vocab = Vocabulary.subwordVocab(segs).collect()
    // ids are DENSE 1..V in (mass desc, sym) order — 0 stays free for <unk>
    val byId = vocab.sortBy(_.getAs[Long]("sym_id"))
    assert(byId.map(_.getAs[Long]("sym_id")).toSeq === (1L to vocab.length.toLong))
    assert(
      byId.map(r => (-r.getAs[Long]("mass"), r.getAs[String]("sym"))).toSeq
        === byId.map(r => (-r.getAs[Long]("mass"), r.getAs[String]("sym"))).toSeq.sorted
    )
    val encoded = Vocabulary.encodeSubwords(docs, segs, Vocabulary.subwordVocab(segs))
    // n_ids == bpeProfile's n_subwords, document for document
    val nIds = encoded.select("doc_id", "n_ids").as[(Long, Long)].collect().toMap
    val nSub = Vocabulary
      .bpeProfile(docs, segs)
      .select("doc_id", "n_subwords").as[(Long, Long)].collect().toMap
    assert(nIds === nSub)
    // LOSSLESS on the training corpus: ids -> symbols concatenated per
    // doc == the doc's words concatenated (reading order preserved)
    val idToSym = vocab.map(r => r.getAs[Long]("sym_id") -> r.getAs[String]("sym")).toMap
    val words = docs
      .select(
        col("doc_id"),
        concat_ws("", org.apache.spark.sql.functions.filter(
          graft.functions.TextFunctions.tokens(col("text")), w => length(w) > 0)).as("joined")
      )
      .as[(Long, String)].collect().toMap
    encoded.select("doc_id", "ids").as[(Long, Seq[Long])].collect().foreach { case (d, ids) =>
      assert(ids.map(idToSym).mkString("") === words(d), s"doc $d")
      assert(!ids.contains(0L), s"doc $d emitted <unk> on its own training corpus")
    }
    // fallback: an unseen word encodes at character level; characters
    // the vocabulary lacks encode as 0 = <unk>
    val strange = Seq((999L, "zq the")).toDF("doc_id", "text")
    val got = Vocabulary
      .encodeSubwords(strange, segs, Vocabulary.subwordVocab(segs))
      .select("ids").as[Seq[Long]].head()
    val zq = Seq("z", "q").map(c => vocab.find(_.getAs[String]("sym") == c)
      .map(_.getAs[Long]("sym_id")).getOrElse(0L))
    assert(got.take(2) === zq) // char decomposition of the unseen word
  }

  test("greedySegmentations: longest-match-first, lossless, fallback, == BERT runtime by hand") {
    import spark.implicits._
    import graft.operators.Vocabulary
    // hand-checked greedy on a crafted inventory: longest match wins at
    // every position, NOT the segmentation a merge replay would give
    val inv = Seq("a", "b", "c", "ab", "abc", "ca").toDF("sym")
    val docs = Seq((1L, "abcab cab abca")).toDF("doc_id", "text")
    val got = Vocabulary
      .greedySegmentations(docs, inv, maxPieceLen = 16)
      .select("w", "syms").as[(String, Seq[String])].collect().toMap
    assert(got("abcab") === Seq("abc", "ab")) // abc beats ab at pos 0
    assert(got("cab") === Seq("ca", "b")) // ca beats c at pos 0
    assert(got("abca") === Seq("abc", "a"))
    // a word with a character outside the inventory falls back WHOLE to
    // its character decomposition (the encode layer's unknown-word law)
    val fb = Vocabulary
      .greedySegmentations(Seq((2L, "abzb")).toDF("doc_id", "text"), inv, 16)
      .select("syms").as[Seq[String]].head()
    assert(fb === Seq("a", "b", "z", "b"))
    // on the real corpus with the real WordPiece inventory: lossless
    // (concatenation == word) and every piece is in the inventory
    val real = spark.read.parquet(s"$Sf001/documents.parquet").select("doc_id", "text")
    val vocab = Vocabulary.subwordVocab(Vocabulary.wordpieceSegmentations(real, 4))
    val greedy = Vocabulary.greedySegmentations(real, vocab, 16).cache()
    try {
      val syms = vocab.select("sym").as[String].collect().toSet
      greedy.select("w", "syms").as[(String, Seq[String])].collect().foreach { case (w, ps) =>
        assert(ps.mkString("") === w, s"lossy on '$w'")
        assert(ps.forall(syms), s"out-of-inventory piece on '$w'")
      }
      // the greedy-longest property itself: no piece can be extended —
      // for every piece at its position, the next-longer substring is
      // NOT in the inventory (unless the piece already ends the word)
      greedy.select("w", "syms").as[(String, Seq[String])].collect().foreach { case (w, ps) =>
        var pos = 0
        ps.foreach { p =>
          val longer = (p.length + 1) to math.min(16, w.length - pos)
          longer.foreach { l =>
            assert(!syms(w.substring(pos, pos + l)), s"'$w' piece '$p' at $pos not longest")
          }
          pos += p.length
        }
      }
      // composition through the shared encode layer conserves counts
      val enc = Vocabulary.encodeSubwords(real, greedy, vocab)
      val nPieces = greedy
        .join(
          real.select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("w")),
          Seq("w")
        )
        .agg(sum(size(col("syms")))).head().getLong(0)
      assert(enc.agg(sum(col("n_ids"))).head().getLong(0) === nPieces)
    } finally greedy.unpersist()
    intercept[IllegalArgumentException](Vocabulary.greedySegmentations(docs, inv, 0))
  }

  test("collocations: liftScale is a knob; an overflowing lift raises instead of mis-ranking") {
    import spark.implicits._
    import graft.operators.Vocabulary
    val text = (Seq.fill(8)("new york") ++ Seq.fill(10)("of the")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    // a coarser scale replays the same rational at div 10^3
    val coarse = Vocabulary.collocations(docs, k = 1, minCount = 5, liftScale = 1000L).head()
    val nTotal = 36L
    assert(coarse.getAs[Long]("lift_micro") === 8L * nTotal * 1000L / (8L * 8L))
    // a scale big enough that ANY real corpus overflows must raise, not wrap:
    // maxTotal = Long.MaxValue div liftScale = 4 < the 36 tokens here
    val boom = intercept[Exception](
      Vocabulary.collocations(docs, k = 1, minCount = 5, liftScale = Long.MaxValue / 4).collect()
    )
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(boom).exists(_.contains("lift overflow")), s"got: ${messages(boom)}")
    intercept[IllegalArgumentException](Vocabulary.collocations(docs, 1, 5, "text", 0L))
    // DENOMINATOR overflow (ADVICE r10): two ~3·10⁹ unigram counts wrap
    // n_l*n_r past Long.MaxValue — the guard must raise on that branch
    // too, not emit negative garbage that still sorts. No fixture can
    // generate such counts by real counting, so drive the guarded
    // expression on a literal frame (the same expression collocations
    // plans).
    val big = 4000000000L // 4e9; big*big = 1.6e19 > Long.MaxValue
    val wide = Seq((10L, big, big, 100L)).toDF("n_lr", "n_l", "n_r", "n_total")
    val boomDen = intercept[Exception](
      wide.select(Vocabulary.liftGuarded(1000000L).as("lift_micro")).collect()
    )
    assert(messages(boomDen).exists(_.contains("lift overflow")), s"got: ${messages(boomDen)}")
    // and a wide-but-safe denominator still computes exactly
    val safe = Seq((10L, 3000000L, 3000000L, 100L)).toDF("n_lr", "n_l", "n_r", "n_total")
    val got = safe.select(Vocabulary.liftGuarded(1000000L).as("lift_micro")).head().getLong(0)
    assert(got === 10L * 100L * 1000000L / (3000000L * 3000000L))
  }

  test("wordpieceMerges: likelihood argmax prefers the exclusive rare pair BPE ignores") {
    import spark.implicits._
    import graft.operators.Vocabulary
    // (a,b) is the most FREQUENT pair (10 occurrences) but a and b also
    // occur alone 30 times each; (x,y) occurs twice and x/y occur ONLY
    // together. BPE must fuse (a,b) first; WordPiece must fuse (x,y)
    // first: 2/(2*2) = 0.5 beats 10/(40*40) ≈ 0.006.
    val text = (Seq.fill(10)("ab") ++ Seq.fill(30)("a") ++ Seq.fill(30)("b") ++
      Seq.fill(2)("xy")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val bpeFirst = Vocabulary.bpeMerges(docs, 1).as[(Long, String, String, Long)].head()
    val wpFirst = Vocabulary.wordpieceMerges(docs, 1).as[(Long, String, String, Long)].head()
    assert(bpeFirst === ((1L, "a", "b", 10L)))
    assert(wpFirst === ((1L, "x", "y", 2L)))
  }

  test("wordpieceMerges: same fold semantics and exhaustion as BPE; serving contract holds") {
    import spark.implicits._
    import graft.operators.Vocabulary
    // single-word corpus: every pair is exclusive, so likelihood order
    // degrades to 1/(lc·rc) — the fold and early-exhaustion machinery is
    // shared with BPE and must behave identically
    val docs = Seq((1L, "aaaa aaaa")).toDF("doc_id", "text")
    val merges = Vocabulary.wordpieceMerges(docs, 3).as[(Long, String, String, Long)].collect().toSeq
    // round 1: only pair (a,a), fused non-overlapping; round 2: (aa,aa);
    // round 3 exhausted
    assert(merges === Seq((1L, "a", "a", 6L), (2L, "aa", "aa", 2L)))
    // serving: wordpiece segmentations drive the same bpeProfile lookup
    val seg = Vocabulary.wordpieceSegmentations(docs, 2)
    val prof = Vocabulary.bpeProfile(docs, seg).as[(Long, Long, Long)].head()
    assert(prof === ((1L, 2L, 2L))) // two words, each one fused symbol
  }

  test("bpe/wordpiece regime equality: driver merge loop == distributed merge rounds, artifact for artifact") {
    import graft.operators.Vocabulary
    // cap 0 runs the per-round distributed loop. The crafted corpus pins
    // the driver argmax's tie-break: its tied pairs pit a supplementary-
    // plane letter (UTF-16 surrogates, below U+FFFD in String order) against
    // U+FFFD (below it in Spark's UTF-8 byte order); plus a NULL text and
    // `aaaa`-style self-pairs for the non-overlapping fold
    val astral = "\uD835\uDD18"
    val fffd = "\uFFFD"
    val crafted = Seq[(Long, String)](
      (1L, s"x$astral x$fffd y$astral$astral y$fffd$fffd aaaa aaaa"),
      (2L, null),
      (3L, s"$astral$fffd $fffd$astral bbbb aaa ab ab")
    ).toDF("doc_id", "text")
    def segs(df: org.apache.spark.sql.DataFrame) =
      df.select("w", "syms", "cnt").as[(String, Seq[String], Long)].collect().toSet
    def artifacts(df: org.apache.spark.sql.DataFrame, n: Int) = (
      Vocabulary.bpeMerges(df, n).as[(Long, String, String, Long)].collect().toSeq,
      segs(Vocabulary.bpeSegmentations(df, n)),
      Vocabulary.wordpieceMerges(df, n).as[(Long, String, String, Long)].collect().toSeq,
      segs(Vocabulary.wordpieceSegmentations(df, n))
    )
    for ((df, n) <- Seq((crafted, 10), (docs.select("doc_id", "text"), 8))) {
      val driver = artifacts(df, n)
      assert(driver._1.nonEmpty && driver._3.nonEmpty)
      assert(driver === withConf(DriverRegime.MaxRowsKey -> "0")(artifacts(df, n)))
    }
  }

  test("benchmarkExposure: the reverse direction agrees with overlapReport's totals") {
    val k = 4
    val exposure = Decontaminate.benchmarkExposure(corpus, benchmark, k)
    // a benchmark item is exposed iff SOME corpus doc is contaminated by
    // it, so the exposed corpus-doc union == overlapReport's doc set
    val exposedCorpusDocs = corpus
      .select(col("doc_id"), explode(TextFunctions.shingleHashes(col("text"), k)).as("gh"))
      .join(
        benchmark.select(explode(TextFunctions.shingleHashes(col("text"), k)).as("gh")).distinct(),
        Seq("gh")
      )
      .select("doc_id")
      .distinct()
    assert(
      Decontaminate.overlapReport(corpus, benchmark, k).count() === exposedCorpusDocs.count()
    )
    // crafted: one bench item quoted by exactly two corpus docs
    import spark.implicits._
    val quote = "alpha beta gamma delta epsilon zeta"
    val c = Seq(
      (1L, s"one two three four five six seven $quote"),
      (2L, s"$quote eight nine ten eleven twelve thirteen"),
      (3L, "clean text with completely different tokens here now")
    ).toDF("doc_id", "text")
    val bm = Seq((900L, quote), (901L, "never quoted anywhere at all ever")).toDF("doc_id", "text")
    val got = Decontaminate
      .benchmarkExposure(c, bm, k)
      .as[(Long, Long, Long)]
      .collect()
      .map(r => r._1 -> (r._2, r._3))
      .toMap
    // item 900: 2 exposing docs, all 3 of its distinct 4-windows shared;
    // item 901: absent (zero exposure rows, not a zero row)
    assert(got === Map(900L -> ((2L, 3L))))
  }

  test("redactOverlaps: cuts exactly the quoted passage, keeps the rest") {
    import spark.implicits._
    val original = (0 until 30).map(i => s"own$i").mkString(" ")
    val quote = "the quick brown fox jumps over lazy dogs"
    val crafted = Seq(
      // quotes the benchmark passage mid-document
      (1L, s"${original.split(" ").take(15).mkString(" ")} $quote ${original.split(" ").drop(15).mkString(" ")}"),
      (2L, original), // clean — must pass through byte-identical
      (3L, quote) // wholly benchmark text — redacted to nothing, dropped
    ).toDF("doc_id", "text")
    val bench = Seq((900L, quote)).toDF("doc_id", "text")
    val out = Decontaminate.redactOverlaps(crafted, bench, k = 4).collect()
    val byId = out.map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 3 gone, doc 2 untouched
    assert(!byId.contains(3L))
    assert(byId(2L) === original)
    // doc 1: every benchmark token is gone, every own token survives —
    // the whole quoted run is covered by its k-gram windows
    val kept1 = byId(1L).split(" ").toSet
    assert(quote.split(" ").forall(t => !kept1.contains(t)), s"benchmark tokens left: ${byId(1L)}")
    assert(original.split(" ").forall(kept1.contains), s"own tokens lost: ${byId(1L)}")
    // contrast with clean(): the document-level rule throws doc 1 away
    val cleanedIds =
      Decontaminate.clean(crafted, bench, 4).select("doc_id").as[Long].collect().toSet
    assert(cleanedIds === Set(2L), "clean() drops the quoting doc; redactOverlaps keeps it")
  }

  test("redactOverlaps: sub-k shared runs survive (windows, not tokens, decide)") {
    import spark.implicits._
    // shares only a 3-token run with the benchmark at k=4: no complete
    // 4-window matches, so nothing may be cut
    val crafted = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val bench = Seq((900L, "beta gamma delta other words here")).toDF("doc_id", "text")
    val out = Decontaminate.redactOverlaps(crafted, bench, k = 4).collect()
    assert(out.length === 1 && out.head.getString(1) === "alpha beta gamma delta epsilon zeta")
  }

  test("decontaminate: benchmark index broadcasts in the physical plan") {
    val p = Decontaminate
      .overlapReport(corpus, benchmark, 4)
      .queryExecution
      .executedPlan
      .toString
    assert(p.contains("BroadcastHashJoin"), s"benchmark index should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle on gram:\n$p")
  }

  // --------------------------------------------------------------- repetition

  test("repetition: hand-checked fractions on crafted documents") {
    val crafted = Seq(
      (1L, "a b a b a b"), // 2-grams: ab ba ab ba ab -> 5 total, 2 distinct
      (2L, "v w x y z"), // 4 grams, all distinct
      (3L, "q") // shorter than n: one clamped window
    ).toDF("doc_id", "text")
    val got = Repetition
      .gramStats(crafted, 2)
      .orderBy("doc_id")
      .select("doc_id", "n_grams", "n_distinct", "dup_frac", "top_frac")
      .as[(Long, Long, Long, Double, Double)]
      .collect()
    assert(got(0) === ((1L, 5L, 2L, 0.6, 0.6)))
    assert(got(1) === ((2L, 4L, 4L, 0.0, 0.25)))
    assert(got(2) === ((3L, 1L, 1L, 0.0, 1.0)))
  }

  test("repetition: filterRepetitive keeps exactly the docs under both thresholds") {
    val stats = Repetition.gramStats(docs, 2)
    val wantIds = stats
      .filter(col("dup_frac") <= 0.05 && col("top_frac") <= 0.1)
      .select("doc_id")
    val got = Repetition.filterRepetitive(docs, 2, 0.05, 0.1)
    assert(got.count() === wantIds.count())
    assert(got.select("doc_id").except(wantIds).count() === 0L)
    // thresholds bite on the fixture (not everything passes, something does)
    assert(got.count() > 0L && got.count() < docs.count())
  }

  test("repetition: no Window and no sort in the physical plan") {
    val p = Repetition.gramStats(docs, 2).queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"repetition must stay an aggregate:\n$p")
    assert(!p.toLowerCase.contains("sortmergejoin"), s"no join at all expected:\n$p")
  }

  test("repetition: the fused kernel == the explode/aggregate shape, bit-exact") {
    // the former shape, verbatim — the kernel must count the identical
    // hash multiset into the identical integers and rounded fractions
    val byAggregate = docs
      .filter(col("text").isNotNull)
      .select(
        col("doc_id"),
        explode(TextFunctions.positionalShingleHashes(col("text"), 2)).as("gh")
      )
      .groupBy(col("doc_id"), col("gh"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_grams"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_count")
      )
      .select(
        col("doc_id"),
        col("n_grams"),
        col("n_distinct"),
        round(
          lit(1.0) - col("n_distinct").cast("double") / col("n_grams").cast("double"),
          6
        ).as("dup_frac"),
        round(col("top_count").cast("double") / col("n_grams").cast("double"), 6)
          .as("top_frac")
      )
    val byKernel = Repetition.gramStats(docs, 2)
    assert(byKernel.except(byAggregate).count() === 0L)
    assert(byAggregate.except(byKernel).count() === 0L)
    // and the filter form keeps exactly the aggregate-judged survivors
    val wantIds = byAggregate
      .filter(col("dup_frac") <= 0.05 && col("top_frac") <= 0.1)
      .select("doc_id")
    val got = Repetition.filterRepetitive(docs, 2, 0.05, 0.1).select("doc_id")
    assert(got.except(wantIds).count() === 0L && wantIds.except(got).count() === 0L)
  }

  test("repetition: row-local — no Exchange and no join in either plan") {
    val ps = Repetition.gramStats(docs, 2).queryExecution.executedPlan.toString
    val pf = Repetition.filterRepetitive(docs, 2).queryExecution.executedPlan.toString
    for (p <- Seq(ps, pf)) {
      assert(!p.contains("Exchange"), s"repetition must not shuffle:\n$p")
      assert(!p.toLowerCase.contains("join"), s"repetition must not join:\n$p")
    }
  }

  // ------------------------------------------------------------------- sketch

  test("kmv: groups under k short-circuit to the exact distinct count") {
    // per (source, lang) groups are small; with k above every group size the
    // estimate must BE the exact count
    val est = Sketch.kmvDistinct(docs, "source", "text", k = 512)
    val exact = docs.groupBy("source").agg(countDistinct(col("text")).as("n_exact"))
    val bad = est
      .join(exact, "source")
      .filter(col("est_distinct") =!= col("n_exact"))
      .count()
    assert(bad === 0L)
  }

  test("kmv: estimate lands within 3 standard errors on a large group") {
    // one group, 10k distinct synthetic values; stderr ~ n/sqrt(k-2)
    val k = 64
    val n = 10000
    val vals = spark.range(n).select(lit("g").as("grp"), concat(lit("value "), col("id")).as("v"))
    val Array(est) = Sketch
      .kmvDistinct(vals, "grp", "v", k)
      .select("est_distinct")
      .as[Long]
      .collect()
    val stderr = n / math.sqrt(k - 2)
    assert(math.abs(est - n) < 3 * stderr, s"est $est too far from $n (stderr $stderr)")
  }

  test("kmv: deterministic under repartitioning") {
    val a = Sketch.kmvDistinct(docs, "lang", "text", 16)
    val b = Sketch.kmvDistinct(docs.repartition(17), "lang", "text", 16)
    assert(a.except(b).count() === 0L && b.except(a).count() === 0L)
  }

  test("kmv: no Window in the physical plan, heap aggregate present") {
    val p = Sketch.kmvDistinct(docs, "source", "text", 8).queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"per-group sort crept into the sketch:\n$p")
    assert(p.contains("ObjectHashAggregate"), "bounded-heap aggregate plans as ObjectHashAggregate")
  }

  test("hll: duplicates free, registers merge by max, estimates within error, LUT branch sane") {
    import spark.implicits._
    // duplicates never change the sketch (max over occurrences)
    val a = spark.range(400).select(lit("g").as("grp"), concat(lit("v"), col("id")).as("v"))
    val dup = a.union(a).union(a)
    val regs = (df: org.apache.spark.sql.DataFrame) =>
      Sketch.hllRegisters(df, "grp", "v").as[(String, Long, Long)].collect().toSet
    assert(regs(dup) === regs(a))
    // mergeability: registers(A ∪ B) == per-register max of the two sides
    val b = spark.range(400, 800).select(lit("g").as("grp"), concat(lit("v"), col("id")).as("v"))
    val merged = Sketch
      .hllRegisters(a, "grp", "v")
      .union(Sketch.hllRegisters(b, "grp", "v"))
      .groupBy(col("grp"), col("reg"))
      .agg(max(col("rho")).as("rho"))
    assert(
      regs(a.union(b)) ===
        merged.as[(String, Long, Long)].collect().toSet
    )
    // and the estimate off the merged registers == the union's estimate
    val estUnion = Sketch.hllDistinct(a.union(b), "grp", "v").collect().toSeq
    val estMerged = Sketch.hllEstimate(merged, "grp").collect().toSeq
    assert(estUnion === estMerged)
    // accuracy: m=16 -> stderr ~26%; assert within 3 sigma on n=800
    val est = estUnion.head.getAs[Long]("est_micro") / 1e6
    assert(est > 800 * 0.22 && est < 800 * 2.2, s"HLL estimate $est too far from 800")
    // small-range LUT branch: a 5-distinct group estimates close to 5
    val tiny = spark.range(5).select(lit("t").as("grp"), concat(lit("x"), col("id")).as("v"))
    val tinyEst = Sketch.hllDistinct(tiny, "grp", "v").head().getAs[Long]("est_micro") / 1e6
    assert(math.abs(tinyEst - 5.0) <= 3.0, s"LUT branch estimate $tinyEst vs 5")
    // deterministic under repartitioning
    val d1 = Sketch.hllDistinct(docs, "lang", "text").collect().toSet
    val d2 = Sketch.hllDistinct(docs.repartition(17), "lang", "text").collect().toSet
    assert(d1 === d2)
  }

  // ------------------------------------------------------------ segment dedup

  test("segment dedup: shared tile removed from the later doc, text reassembled in order") {
    import graft.operators.SegmentDedup
    val banner = "cookie notice applies to this" // exactly one 5-token tile
    val crafted = Seq(
      (1L, s"$banner p q r s t"),
      (2L, s"$banner x y z w v"), // same banner tile at the same position
      (3L, banner) // PURE boilerplate: loses its only segment -> dropped
    ).toDF("doc_id", "text")
    val got = SegmentDedup
      .dedupSegments(crafted, 5)
      .orderBy("doc_id")
      .as[(Long, String)]
      .collect()
    assert(got.toSeq === Seq((1L, s"$banner p q r s t"), (2L, "x y z w v")))
  }

  test("segment dedup: exactly one keeper per segment hash") {
    import graft.operators.SegmentDedup
    val occ = SegmentDedup.segmentOccurrences(docs, 5)
    val bad = occ
      .groupBy(GraftExpressions.poly_hash(col("seg")))
      .agg(sum(col("keep").cast("long")).as("keepers"))
      .filter(col("keepers") =!= 1L)
      .count()
    assert(bad === 0L)
  }

  test("segment dedup: kept token mass equals reassembled token mass") {
    import graft.operators.SegmentDedup
    val keptTokens = SegmentDedup
      .segmentOccurrences(docs, 5)
      .filter(col("keep"))
      .select(size(split(col("seg"), " ")).cast("long").as("n"))
      .agg(sum("n"))
      .as[Long]
      .head()
    val outTokens = SegmentDedup
      .dedupSegments(docs, 5)
      .select(size(split(col("text"), " ")).cast("long").as("n"))
      .agg(sum("n"))
      .as[Long]
      .head()
    assert(keptTokens === outTokens)
  }

  test("segment dedup: no Window in the physical plan") {
    import graft.operators.SegmentDedup
    val p = SegmentDedup.dedupSegments(docs, 5).queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"global first-occurrence must be an aggregate, not a window:\n$p")
  }

  // ------------------------------------------------------------- weighted mix

  private val rates = Map("en" -> 0.5, "de" -> 0.75, "fr" -> 1.0, "es" -> 0.2)

  test("weightedBy: rate 1.0 keeps the whole group, unlisted groups use the default") {
    val kept = Sampling.weightedBy(docs, "lang", rates, "text", defaultRate = 0.0)
    val frCount = docs.filter(col("lang") === "fr").count()
    assert(kept.filter(col("lang") === "fr").count() === frCount)
    // zh is unlisted and defaultRate = 0.0 -> dropped entirely
    assert(kept.filter(col("lang") === "zh").count() === 0L)
  }

  test("weightedBy: lower rate selects a subset of the higher rate's picks") {
    val lo = Sampling.weightedBy(docs, "lang", Map("en" -> 0.2), "text")
    val hi = Sampling.weightedBy(docs, "lang", Map("en" -> 0.6), "text")
    assert(lo.except(hi).count() === 0L, "thresholds are nested, so picks must be")
  }

  test("weightedBy: duplicate texts sample identically (dedup-consistent)") {
    val dup = docs
      .select(col("lang"), col("text"))
      .union(docs.select(col("lang"), col("text")))
    val kept = Sampling.weightedBy(dup, "lang", rates, "text", defaultRate = 0.3)
    // every kept text appears an even number of times: both copies or neither
    val odd = kept.groupBy("lang", "text").count().filter(col("count") % 2 =!= 0).count()
    assert(odd === 0L)
  }

  test("weightedBy: scan-only plan — no shuffle, no join") {
    val p = Sampling
      .weightedBy(docs, "lang", rates, "text", 0.1)
      .queryExecution
      .executedPlan
      .toString
    assert(!p.contains("Exchange"), s"weighted sampling must not shuffle:\n$p")
  }

  // ---------------------------------------------------------------- semdedup

  private lazy val emb = sources.Tables.load(spark, Sf001, "embeddings")
  private lazy val sem = operators.Similarity.semDedup(emb, 0.4).cache()

  test("semDedup: one row per vector; keepers are exactly the cluster labels") {
    assert(sem.count() === emb.count())
    val keepers = sem.filter(col("keep")).select("vec_id")
    val labels = sem.select(col("cluster_id").as("vec_id")).distinct()
    assert(keepers.except(labels).count() === 0L && labels.except(keepers).count() === 0L)
    // the label is the min member id, so every keeper is its cluster's min
    val viol = sem
      .groupBy("cluster_id")
      .agg(min("vec_id").as("mn"))
      .filter(col("mn") =!= col("cluster_id"))
    assert(viol.count() === 0L)
  }

  test("semDedup: same-cell pairs at >= threshold always share a cluster") {
    val a = sem.as("a")
    val b = sem.as("b")
    val sameCell = a
      .join(emb.as("ea"), col("a.vec_id") === col("ea.vec_id"))
      .join(b, col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .join(emb.as("eb"), col("b.vec_id") === col("eb.vec_id"))
      .filter(
        graft.functions.VectorFunctions.cosine(col("ea.embedding"), col("eb.embedding")) >= 0.4
      )
    assert(sameCell.filter(col("a.cluster_id") =!= col("b.cluster_id")).count() === 0L)
  }

  test("semDedup: clusters never span cells (intra-cell pruning by design)") {
    val cellsPerCluster = sem
      .groupBy("cluster_id")
      .agg(countDistinct("cell").as("nc"))
      .filter(col("nc") > 1)
    assert(cellsPerCluster.count() === 0L)
  }

  test("semDedup: impossible threshold makes every vector a singleton keeper") {
    val all = operators.Similarity.semDedup(emb, 1.1)
    assert(all.filter(!col("keep")).count() === 0L)
    assert(all.filter(col("vec_id") =!= col("cluster_id")).count() === 0L)
  }

  test("semDedup: result is invariant under input partitioning") {
    val shuffled = operators.Similarity.semDedup(emb.repartition(13), 0.4)
    assert(sem.except(shuffled).count() === 0L && shuffled.except(sem).count() === 0L)
  }

  test("semDedupBalanced: blocking changes task layout, never the result (blocks=1 == blocks=8)") {
    // the sqrt-celled variant distributes each cell's quadratic pair
    // expansion across block-pair tasks; the pair SET — and so clusters
    // and keepers — must be identical at any block count
    val one = operators.Similarity.semDedupBalanced(emb, 0.4, blocks = 1)
    val eight = operators.Similarity.semDedupBalanced(emb, 0.4, blocks = 8)
    assert(one.except(eight).count() === 0L && eight.except(one).count() === 0L)
  }

  test("semDedupBalanced: keeper laws hold under the sqrt cell derivation") {
    val bal = operators.Similarity.semDedupBalanced(emb, 0.4).cache()
    try {
      assert(bal.count() === emb.count())
      val viol = bal
        .groupBy("cluster_id")
        .agg(min("vec_id").as("mn"))
        .filter(col("mn") =!= col("cluster_id"))
      assert(viol.count() === 0L)
      val cellsPerCluster = bal
        .groupBy("cluster_id")
        .agg(countDistinct("cell").as("nc"))
        .filter(col("nc") > 1)
      assert(cellsPerCluster.count() === 0L)
    } finally { bal.unpersist(); () }
  }

  // ----------------------------------------------------------- corpusOverlap

  test("corpusOverlap: below-k sketches short-circuit to exact values") {
    val a = docs.limit(20).select("text")
    val b = docs.limit(30).select("text") // superset of a: 20 shared texts
    val r = Sketch.corpusOverlap(a, b, "text", k = 64).collect().head
    val exactA = a.distinct().count()
    val exactB = b.distinct().count()
    val exactU = a.union(b).distinct().count()
    val exactI = a.distinct().join(b.distinct(), Seq("text"), "left_semi").count()
    assert(r.getAs[Long]("est_a") === exactA)
    assert(r.getAs[Long]("est_b") === exactB)
    assert(r.getAs[Long]("est_union") === exactU)
    assert(r.getAs[Long]("n_both") === exactI)
    assert(r.getAs[Long]("est_intersect") === exactI)
  }

  test("corpusOverlap: identical corpora estimate jaccard 1.0") {
    val r = Sketch.corpusOverlap(docs, docs, "text", k = 32).collect().head
    assert(r.getAs[Double]("jaccard_est") === 1.0)
    assert(r.getAs[Long]("est_intersect") === r.getAs[Long]("est_union"))
  }

  test("corpusOverlap: disjoint corpora estimate zero intersection") {
    val h = GraftExpressions.poly_hash(col("text")) % 2
    val r = Sketch
      .corpusOverlap(docs.filter(h === 0), docs.filter(h === 1), "text", k = 32)
      .collect()
      .head
    assert(r.getAs[Long]("n_both") === 0L)
    assert(r.getAs[Long]("est_intersect") === 0L)
    assert(r.getAs[Double]("jaccard_est") === 0.0)
  }

  test("corpusOverlap: full-sketch estimates land near the true cardinalities") {
    val bucket = GraftExpressions.poly_hash(col("text")) % 10
    val a = docs.filter(bucket < 6)
    val b = docs.filter(bucket >= 3)
    val r = Sketch.corpusOverlap(a, b, "text", k = 64).collect().head
    val trueU = a.select("text").union(b.select("text")).distinct().count()
    val estU = r.getAs[Long]("est_union")
    // std error ~ 1/sqrt(k-2) = 0.127 at k=64; 3 sigma
    assert(
      math.abs(estU - trueU).toDouble / trueU < 0.4,
      s"union estimate $estU too far from true $trueU"
    )
  }

  // --------------------------------------------------------------- piiReport

  test("piiReport: crafted corpus counts emails and number runs correctly") {
    val crafted = Seq(
      ("en", "contact alice@example.com or 12345678 today"), // 1 email, 1 num
      ("en", "reach 98765432@corp.io now"), // numeric local-part: email only
      ("en", "just words, a short 123 run"), // nothing (123 < 7 digits)
      ("de", "zwei 1234567 und 76543210987 treffer") // 2 nums
    ).toDF("lang", "text")
    val r = operators.QualityChecks
      .piiReport(crafted)
      .orderBy("lang")
      .collect()
    val de = r(0)
    val en = r(1)
    assert(de.getAs[Long]("n_docs") === 1L && de.getAs[Long]("n_nums") === 2L)
    assert(de.getAs[Long]("n_emails") === 0L && de.getAs[Long]("docs_with_num") === 1L)
    assert(en.getAs[Long]("n_docs") === 3L)
    assert(en.getAs[Long]("n_emails") === 2L && en.getAs[Long]("docs_with_email") === 2L)
    // the numeric local-part was consumed by the email pass, not double-counted
    assert(en.getAs[Long]("n_nums") === 1L && en.getAs[Long]("docs_with_num") === 1L)
  }

  test("piiReport: scan-only up to the group aggregate — no joins, no windows") {
    val p = operators.QualityChecks.piiReport(docs).queryExecution.executedPlan.toString
    assert(!p.contains("Join") && !p.contains("Window"), s"expected pure scan+agg:\n$p")
  }

  test("token quantiles: histogram p50 == q35's ranked median per lang; quartiles ordered") {
    // two independent derivations of the same statistic must agree: the
    // scale shape (value-histogram cumulative, q86) and the reference
    // shape (row_number over documents, q35) share the lower-median
    // convention by construction
    val ranked = SparkEntry.queries("q35_token_median")(spark, Sf001).select("lang", "median_tok")
    val hist = SparkEntry.queries("q86_token_quantiles")(spark, Sf001)
    val joined = ranked.join(hist, "lang")
    assert(joined.count() === ranked.count())
    assert(joined.filter(col("median_tok") =!= col("p50_tok")).count() === 0L)
    assert(
      hist.filter(col("p25_tok") > col("p50_tok") || col("p50_tok") > col("p75_tok")).count() === 0L
    )
  }

  // --------------------------------------------------------- substring dedup

  test("substring dedup: a mid-document copied run is cut exactly, unique text intact") {
    import graft.operators.SegmentDedup
    // doc 2 copies tokens c4..c13 of doc 1 at an UNALIGNED position —
    // invisible to fixed tiling, found by the sliding windows
    val run = (4 to 13).map(i => s"c$i").mkString(" ") // 10 tokens
    val doc1 = (0 to 19).map(i => s"c$i").mkString(" ")
    val doc2 = s"u1 u2 u3 $run u4 u5"
    val got = SegmentDedup
      .dedupSubstrings(Seq((1L, doc1), (2L, doc2)).toDF("doc_id", "text"), minTokens = 6)
      .orderBy("doc_id")
      .as[(Long, String)]
      .collect()
    // doc 1 (first occurrence) intact; doc 2 loses exactly the copied run
    assert(got.toSeq === Seq((1L, doc1), (2L, "u1 u2 u3 u4 u5")))
  }

  test("substring dedup: window straddling the copy boundary never cuts unique tokens") {
    import graft.operators.SegmentDedup
    // copied run of EXACTLY minTokens: cut is exactly those tokens
    val run = (0 until 6).map(i => s"r$i").mkString(" ")
    val a = s"$run a1 a2 a3 a4 a5 a6"
    val b = s"b1 b2 b3 b4 b5 b6 $run"
    val got = SegmentDedup
      .dedupSubstrings(Seq((1L, a), (2L, b)).toDF("doc_id", "text"), minTokens = 6)
      .orderBy("doc_id")
      .as[(Long, String)]
      .collect()
    assert(got.toSeq === Seq((1L, a), (2L, "b1 b2 b3 b4 b5 b6")))
  }

  test("substring dedup: whole-document duplicate drops; short docs clamp like exact dedup") {
    import graft.operators.SegmentDedup
    val long = (0 until 12).map(i => s"t$i").mkString(" ")
    val got = SegmentDedup
      .dedupSubstrings(
        Seq((1L, long), (2L, long), (3L, "tiny doc"), (4L, "tiny doc")).toDF("doc_id", "text"),
        minTokens = 6
      )
      .orderBy("doc_id")
      .as[(Long, String)]
      .collect()
    assert(got.toSeq === Seq((1L, long), (3L, "tiny doc")))
  }

  test("empty inputs: hygiene operators return empty frames, never crash") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val emptyL = Seq.empty[(Long, String, String)].toDF("doc_id", "lang", "text")
    assert(Decontaminate.overlapReport(empty, empty, 4).count() === 0L)
    assert(Repetition.gramStats(empty, 2).count() === 0L)
    assert(operators.SegmentDedup.dedupSubstrings(empty, 6).count() === 0L)
    assert(Sampling.temperatureFlatten(emptyL, "lang", "text", 2).count() === 0L)
    assert(operators.Vocabulary.build(empty, 10).count() === 0L)
    // empty reference model: every candidate gram is unseen, V = 0
    val m = operators.NgramLM.train(empty)
    val scored = operators.NgramLM
      .score(Seq((1L, "a b c")).toDF("doc_id", "text"), m)
      .collect()
      .head
    assert(scored.getAs[Long]("n_unseen") === 2L && scored.getAs[Long]("rarity_avg") === 0L)
  }

  test("substring dedup: differential check vs a direct implementation, dense-duplicate corpus") {
    import graft.operators.SegmentDedup
    // tiny alphabet → duplicated runs everywhere: dense, overlapping, and
    // exactly-adjacent cut intervals exercise every branch of the
    // interval-merge rebuild (the O(cuts + tokens) path) against a direct
    // per-position implementation of the Lee et al. cut rule
    val L = 4
    val rnd = new scala.util.Random(42)
    val docs: Seq[(Long, String)] = (0L until 40L).map { id =>
      val n = 1 + rnd.nextInt(30)
      id -> (0 until n).map(_ => s"w${rnd.nextInt(6)}").mkString(" ")
    }
    def windows(ts: Array[String]): Seq[(Int, String)] =
      (0 to math.max(ts.length - L, 0)).map(i => i -> ts.slice(i, math.min(i + L, ts.length)).mkString(" "))
    val allW = docs.flatMap { case (id, t) => windows(t.split(" ", -1)).map { case (i, w) => (id, i, w) } }
    val byW = allW.groupBy(_._3)
    val cutPos: Map[Long, Seq[Int]] = allW
      .filter { case (id, i, w) => byW(w).size > 1 && byW(w).map(o => (o._1, o._2)).min != ((id, i)) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val expected = docs.flatMap { case (id, t) =>
      val ts = t.split(" ", -1)
      val cut = Array.fill(ts.length)(false)
      cutPos.getOrElse(id, Nil).foreach(s => (s until math.min(s + L, ts.length)).foreach(cut(_) = true))
      val kept = ts.indices.filterNot(cut).map(ts)
      if (kept.nonEmpty) Some(id -> kept.mkString(" ")) else None
    }.sortBy(_._1)
    val got = SegmentDedup
      .dedupSubstrings(docs.toDF("doc_id", "text"), minTokens = L)
      .orderBy("doc_id")
      .as[(Long, String)]
      .collect()
      .toSeq
    assert(got === expected)
  }

  test("substring dedup: corpus with no duplicated runs passes through unchanged") {
    import graft.operators.SegmentDedup
    val crafted = Seq(
      (1L, (0 until 10).map(i => s"a$i").mkString(" ")),
      (2L, (0 until 10).map(i => s"b$i").mkString(" "))
    ).toDF("doc_id", "text")
    val got = SegmentDedup.dedupSubstrings(crafted, 6)
    assert(got.orderBy("doc_id").as[(Long, String)].collect().toSeq ===
      crafted.orderBy("doc_id").as[(Long, String)].collect().toSeq)
  }

  // ------------------------------------------------------------- vocabulary

  test("vocabulary: hand-checked top-V with count-then-token tie-break") {
    import graft.operators.Vocabulary
    val crafted = Seq(
      (1L, "b b b a a c"),
      (2L, "a d d")
    ).toDF("doc_id", "text")
    // counts: a=3 b=3 d=2 c=1; top-3 = a(3), b(3), d(2) — tie a<b by token
    val got = Vocabulary.build(crafted, 3).as[(String, Long, Long)].collect().toSeq
    assert(got === Seq(("a", 3L, 1L), ("b", 3L, 2L), ("d", 2L, 3L)))
  }

  test("vocabulary: OOV profile counts exactly the out-of-vocab tokens") {
    import graft.operators.Vocabulary
    val corpus = Seq((1L, "b b b a a c"), (2L, "a d d")).toDF("doc_id", "text")
    val vocab = Vocabulary.build(corpus, 3) // {a, b, d}
    val got = Vocabulary
      .oovProfile(corpus, vocab)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long)]
      .collect()
      .toSeq
    // doc 1: 6 tokens, 1 oov (c) -> 166 permille; doc 2: 3 tokens, 0 oov
    assert(got === Seq((1L, 6L, 1L, 166L), (2L, 3L, 0L, 0L)))
  }

  test("vocabulary: top-V plans as a bounded TakeOrderedAndProject, not a global sort") {
    import graft.operators.Vocabulary
    val p = Vocabulary.build(docs, 100).queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), s"expected bounded top-V:\n$p")
  }

  // -------------------------------------------------------- sourceReputation

  test("sourceReputation: hand-checked profile over crafted sources") {
    // 100 stopword tokens -> lenScore 1.0 alone puts quality at >= 0.5;
    // pure punctuation -> quality ~0.015, far under the 0.4275 gate
    val good = Seq.fill(10)("the and a of to in it is on at").mkString(" ")
    val low = "!!! !!! !!!"
    val crafted = Seq(
      (1L, "A", good),
      (2L, "A", good + " alice@example.com"),
      (3L, "B", low),
      (4L, "B", low),
      (5L, "B", good)
    ).toDF("doc_id", "source", "text")
    val r = operators.QualityChecks
      .sourceReputation(crafted)
      .orderBy("source")
      .collect()
    val a = r(0); val b = r(1)
    assert(a.getAs[Long]("n_docs") === 2L && a.getAs[Long]("low_quality_docs") === 0L)
    assert(a.getAs[Long]("pii_docs") === 1L && a.getAs[Long]("pii_permille") === 500L)
    assert(a.getAs[Long]("total_tokens") === 201L && a.getAs[Long]("mean_tokens") === 100L)
    assert(b.getAs[Long]("n_docs") === 3L && b.getAs[Long]("low_quality_docs") === 2L)
    assert(b.getAs[Long]("low_permille") === 666L && b.getAs[Long]("pii_docs") === 0L)
  }

  test("sourceReputation: admission keeps exactly the passing sources' docs") {
    val good = Seq.fill(10)("the and a of to in it is on at").mkString(" ")
    val low = "!!! !!! !!!"
    val crafted = Seq(
      (1L, "A", good),
      (2L, "A", good),
      (3L, "B", low),
      (4L, "B", low),
      (5L, "B", good)
    ).toDF("doc_id", "source", "text")
    val kept = operators.QualityChecks.filterReputableSources(crafted, maxLowPermille = 500L)
    assert(kept.select("doc_id").as[Long].collect().sorted === Array(1L, 2L))
    val p = kept.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"source admission should broadcast:\n$p")
  }

  test("sourceReputation: one scan — no joins, no windows in the profile") {
    val p = operators.QualityChecks
      .sourceReputation(docs)
      .queryExecution
      .executedPlan
      .toString
    assert(!p.contains("Join") && !p.contains("Window"), s"expected pure scan+agg:\n$p")
  }

  // ------------------------------------------------------------------ ngramLM

  test("ngramLM: hand-checked rarity under a tiny reference model") {
    // ref: bigram "a b" seen twice, "a c" once; prefix a seen 3x; V = {a,b,c}
    val ref = Seq((1L, "a b"), (2L, "a b"), (3L, "a c")).toDF("doc_id", "text")
    val model = operators.NgramLM.train(ref)
    val cand = Seq(
      (10L, "a b"), // c=2 cp=3: (3+3)*1e6 // 3 = 2_000_000, seen
      (11L, "a d"), // c=0 cp=3: (3+3)*1e6 // 1 = 6_000_000, unseen
      (12L, "z z"), // c=0 cp=0: (0+3)*1e6 // 1 = 3_000_000, unseen
      (13L, "q"), // one token: clamped self-pair, c=0 cp=0 -> 3_000_000
      (14L, "a b a") // grams (a b)=2e6 + (b a): cp(b)=0 -> 3e6; avg 2_500_000
    ).toDF("doc_id", "text")
    val got = operators.NgramLM
      .score(cand, model)
      .orderBy("doc_id")
      .select("doc_id", "n_grams", "n_unseen", "rarity_avg")
      .as[(Long, Long, Long, Long)]
      .collect()
    assert(
      got === Array(
        (10L, 1L, 0L, 2000000L),
        (11L, 1L, 1L, 6000000L),
        (12L, 1L, 1L, 3000000L),
        (13L, 1L, 1L, 3000000L),
        (14L, 2L, 1L, 2500000L)
      )
    )
  }

  test("ngramLM: in-distribution text scores more fluent than broken transitions") {
    // a deterministic "language" with real bigram structure: every document
    // walks the cycle t0 t1 ... t9 t0 ... so the only licensed transitions
    // are ti -> t(i+1 mod 10). (The parquet fixture is word salad — its
    // bigrams are near-uniformly unseen either way — so discrimination is
    // asserted on a corpus that HAS transitions to learn.)
    def walk(start: Int, len: Int): String =
      (0 until len).map(i => s"t${(start + i) % 10}").mkString(" ")
    val ref = (0 until 50).map(d => (d.toLong, walk(d % 10, 30))).toDF("doc_id", "text")
    val model = operators.NgramLM.train(ref)
    val inDist = (0 until 10).map(d => (d.toLong, walk(d, 20))).toDF("doc_id", "text")
    // gibberish = the same cycle walked BACKWARD: same unigrams, every
    // transition unlicensed
    val gibberish = (0 until 10)
      .map(d => (d.toLong, (0 until 20).map(i => s"t${((d - i) % 10 + 10) % 10}").mkString(" ")))
      .toDF("doc_id", "text")
    val fluentAvg =
      operators.NgramLM.score(inDist, model).agg(avg("rarity_avg")).as[Double].head()
    val gibAvg =
      operators.NgramLM.score(gibberish, model).agg(avg("rarity_avg")).as[Double].head()
    assert(
      fluentAvg * 10 < gibAvg,
      s"fluent $fluentAvg should beat gibberish $gibAvg by an order of magnitude"
    )
  }

  test("ngramLM: filterFluent keeps exactly the under-threshold documents") {
    val model = operators.NgramLM.train(corpus)
    val scored = operators.NgramLM.score(benchmark, model)
    val thr = 5000000L
    val kept = operators.NgramLM.filterFluent(benchmark, model, thr)
    val expected = scored.filter(col("rarity_avg") <= thr).select("doc_id")
    assert(kept.count() === expected.count())
    assert(kept.select("doc_id").except(expected).count() === 0L)
  }

  test("ngramLM: model broadcasts — the corpus side never shuffles on gram") {
    val model = operators.NgramLM.train(corpus)
    val p = operators.NgramLM
      .score(benchmark, model)
      .queryExecution
      .executedPlan
      .toString
    assert(p.contains("BroadcastHashJoin"), s"model lookups should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle on gram:\n$p")
  }

  // ------------------------------------------------------ Gopher heuristics

  // each crafted doc trips EXACTLY one rule; the first passes all four
  private lazy val gopherCrafted = Seq(
    // 0: plain English prose, 52 words, all alphabetic, several stopwords
    (0L, ("the quick brown fox jumps over a lazy dog and then runs back to " +
      "the barn where it sleeps in warm hay until morning comes and the sun " +
      "rises over quiet fields while birds sing softly of summer days that " +
      "pass slowly by the old red barn doors at dusk each day")),
    // 1: too short (8 words), otherwise fine
    (1L, "the cat sat on a mat in peace"),
    // 2: base64-ish blob padded with stopwords: mean word length explodes
    (2L, ("QWxhZGRpbjpvcGVuc2VzYW1lQWxhZGRpbjpvcGVuc2VzYW1lQWxhZGRpbjpvcGVuc2VzYW1l " * 50) +
      "the a of to and in is it " + ("w " * 48).trim),
    // 3: numeric table: alphabetic fraction near zero (stopwords present;
    //    6-digit values keep the mean word length inside the prose band)
    (3L, "the of " + (1 to 58).map(i => (100000 + i).toString).mkString(" ")),
    // 4: keyword list: 60 alphabetic words, ZERO engine stopwords
    (4L, (1 to 60).map(i => s"keyword$i").mkString(" "))
  ).toDF("doc_id", "text")

  test("gopher: each crafted failure mode trips exactly its rule") {
    val m = operators.Heuristics
      .gopherRules(gopherCrafted)
      .orderBy("doc_id")
      .collect()
    assert(m(0).getAs[Boolean]("keep"), "prose doc must pass all four rules")
    // short doc: word rule only
    assert(m(1).getAs[Long]("n_words") < operators.Heuristics.MinWords)
    assert(!m(1).getAs[Boolean]("keep"))
    // blob: mean length off the chart, everything else in range
    assert(m(2).getAs[Long]("mean_len_milli") > operators.Heuristics.MaxMeanLenMilli)
    assert(m(2).getAs[Long]("n_words") >= operators.Heuristics.MinWords)
    assert(m(2).getAs[Long]("stop_distinct") >= operators.Heuristics.MinStopDistinct)
    assert(!m(2).getAs[Boolean]("keep"))
    // numeric table: alpha fraction fails, words/stopwords fine
    assert(m(3).getAs[Long]("alpha_permille") < operators.Heuristics.MinAlphaPermille)
    assert(m(3).getAs[Long]("n_words") >= operators.Heuristics.MinWords)
    assert(!m(3).getAs[Boolean]("keep"))
    // keyword list: no stop words, everything else fine
    assert(m(4).getAs[Long]("stop_distinct") === 0L)
    assert(m(4).getAs[Long]("alpha_permille") === 1000L)
    assert(!m(4).getAs[Boolean]("keep"))
  }

  test("gopher: stop_distinct counts DISTINCT stopwords — 'the the' is one") {
    val d = Seq((0L, "the the the the"), (1L, "the a the a")).toDF("doc_id", "text")
    val m = operators.Heuristics.gopherRules(d).orderBy("doc_id").collect()
    assert(m(0).getAs[Long]("stop_distinct") === 1L)
    assert(m(1).getAs[Long]("stop_distinct") === 2L)
  }

  test("gopher: kernel metrics == composable Column reimplementation on the fixture") {
    val toks = split(col("text"), " ")
    val nW = size(toks).cast("long")
    val denom = greatest(nW, lit(1L))
    val naive = docs.select(
      col("doc_id"),
      nW.as("n_words"),
      (((length(col("text")).cast("long") - (nW - lit(1L))) * 1000L) / denom)
        .cast("long").as("mean_len_milli"),
      ((size(filter(toks, w => w.rlike("[A-Za-z]"))).cast("long") * 1000L) / denom)
        .cast("long").as("alpha_permille"),
      size(
        filter(
          lit(TextFunctions.StopwordsEn.toArray),
          sw => array_contains(toks, sw)
        )
      ).cast("long").as("stop_distinct")
    )
    val fused = operators.Heuristics
      .gopherRules(docs)
      .drop("keep")
    assert(fused.except(naive).count() === 0L && naive.except(fused).count() === 0L)
  }

  test("gopher: filterGopher == gopherRules keep set, columns untouched") {
    val kept = operators.Heuristics.filterGopher(docs)
    assert(kept.columns.toSeq === docs.columns.toSeq, "no metric columns may leak")
    val flagged = operators.Heuristics
      .gopherRules(docs)
      .filter(col("keep"))
      .select("doc_id")
    assert(kept.select("doc_id").except(flagged).count() === 0L)
    assert(flagged.except(kept.select("doc_id")).count() === 0L)
  }

  test("gopher: filterGopher tolerates pre-existing metric-named columns") {
    // the boolean-kernel filter adds no columns, so a corpus that already
    // has an n_words column must pass through unharmed
    val withClash = docs.withColumn("n_words", lit(-1L))
    val kept = operators.Heuristics.filterGopher(withClash)
    assert(kept.columns.contains("n_words"))
    assert(kept.filter(col("n_words") =!= -1L).count() === 0L)
  }

  test("gopher: admission filter is scan-only — no shuffle, no join") {
    val p = operators.Heuristics.filterGopher(docs).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"row-local rule must not shuffle:\n$p")
    assert(!p.contains("Join"), s"row-local rule must not join:\n$p")
    assert(p.toLowerCase.contains("gopherkeep"), s"fused kernel missing:\n$p")
  }

  // ------------------------------------------------- boilerplate segments

  test("boilerplate: hot segment cut EVERYWHERE, including its first occurrence") {
    import graft.operators.SegmentDedup
    val banner = "subscribe to our newsletter today" // one 5-token tile
    val crafted = Seq(
      (1L, s"$banner p q r s t"),
      (2L, s"$banner x y z w v"),
      (3L, s"$banner m n o u k"),
      (4L, banner) // pure boilerplate: loses its only segment -> dropped
    ).toDF("doc_id", "text")
    val got = SegmentDedup
      .dropBoilerplateSegments(crafted, segTokens = 5, maxDf = 2L)
      .orderBy("doc_id")
      .as[(Long, String)]
      .collect()
    // banner df = 4 > 2: gone from ALL docs (dedupSegments would keep it in doc 1)
    assert(got.toSeq === Seq((1L, "p q r s t"), (2L, "x y z w v"), (3L, "m n o u k")))
  }

  test("boilerplate: a segment in exactly maxDf docs survives in all of them") {
    import graft.operators.SegmentDedup
    val quote = "four score and seven years" // fair reuse: df == maxDf
    val crafted = Seq(
      (1L, s"$quote p q r s t"),
      (2L, s"$quote x y z w v")
    ).toDF("doc_id", "text")
    val got = SegmentDedup
      .dropBoilerplateSegments(crafted, segTokens = 5, maxDf = 2L)
      .orderBy("doc_id")
      .as[(Long, String)]
      .collect()
    assert(got.toSeq === Seq((1L, s"$quote p q r s t"), (2L, s"$quote x y z w v")))
  }

  test("boilerplate: output token mass equals the mass of cool occurrences") {
    import graft.operators.SegmentDedup
    val occ = SegmentDedup
      .segmentOccurrences(docs, 5)
      .withColumn("h", GraftExpressions.poly_hash(col("seg")))
    val df = occ.groupBy(col("h")).agg(countDistinct(col("doc_id")).as("df"))
    val coolTokens = occ
      .join(df.filter(col("df") <= 2L), Seq("h"), "left_semi")
      .select(size(split(col("seg"), " ")).cast("long").as("n"))
      .agg(sum("n"))
      .as[Long]
      .head()
    val outTokens = SegmentDedup
      .dropBoilerplateSegments(docs, 5, maxDf = 2L)
      .select(size(split(col("text"), " ")).cast("long").as("n"))
      .agg(sum("n"))
      .as[Long]
      .head()
    assert(coolTokens === outTokens)
  }

  test("boilerplate: plan has no Window and no cartesian") {
    import graft.operators.SegmentDedup
    val p = SegmentDedup
      .dropBoilerplateSegments(docs, 5, 2L)
      .queryExecution
      .executedPlan
      .toString
    assert(!p.contains("Window"), s"df gate must be an aggregate, not a window:\n$p")
    assert(!p.contains("CartesianProduct"), s"no all-pairs anywhere:\n$p")
  }

  // --------------------------------------------------------- rarity buckets

  test("rarityBuckets: every scored doc lands in exactly one bucket, ranges disjoint") {
    val model = operators.NgramLM.train(corpus)
    val b = operators.NgramLM.rarityBuckets(benchmark, model, sampleMod = 4).cache()
    val scored = operators.NgramLM.score(benchmark, model)
    assert(b.count() === scored.count(), "coverage: one row per scored doc")
    assert(b.select("doc_id").distinct().count() === b.count())
    // ties at a threshold land lower, so bucket VALUE ranges are disjoint
    def range(name: String) =
      b.filter(col("bucket") === name)
        .agg(min("rarity_avg").as("mn"), max("rarity_avg").as("mx"))
        .as[(Option[Long], Option[Long])]
        .head()
    val (_, headMax) = range("head")
    val (midMin, midMax) = range("middle")
    val (tailMin, _) = range("tail")
    for (h <- headMax; m <- midMin) assert(h < m, s"head max $h must precede middle min $m")
    for (m <- midMax; t <- tailMin) assert(m < t, s"middle max $m must precede tail min $t")
    // terciles of a 1-in-4 sample of ~100 docs: all three buckets populated
    assert(b.select("bucket").distinct().count() === 3L)
    b.unpersist()
  }

  test("rarityBuckets: deterministic under repartitioning") {
    val model = operators.NgramLM.train(corpus)
    val a = operators.NgramLM.rarityBuckets(benchmark, model, sampleMod = 4)
    val b = operators.NgramLM.rarityBuckets(benchmark.repartition(17), model, sampleMod = 4)
    assert(a.except(b).count() === 0L && b.except(a).count() === 0L)
  }

  test("rarityBuckets: thresholds broadcast back — corpus side never sorts") {
    val model = operators.NgramLM.train(corpus)
    val plan = operators.NgramLM
      .rarityBuckets(benchmark, model, sampleMod = 4)
      .queryExecution
      .executedPlan
      .toString
    // the only Window runs over the sample histogram; the corpus-side
    // assignment is a broadcast of the 1-row threshold frame
    assert(plan.contains("BroadcastNestedLoopJoin"), s"thresholds must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus must not shuffle for assignment:\n$plan")
  }

  test("memorizationProfile: verbatim quote length exact, scattered grams read k, clean 0/0") {
    import spark.implicits._
    import graft.operators.Decontaminate
    // benchmark item: a 10-token passage
    val bench = Seq((100L, "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10")).toDF("doc_id", "text")
    val corpus = Seq(
      // quotes tokens b3..b9 verbatim: 7 tokens -> 4 windows of k=4, span 7
      (1L, "own opening words b3 b4 b5 b6 b7 b8 b9 and an own tail here"),
      // two SCATTERED shared 4-grams (b1..b4 and b7..b10), separated by
      // own tokens: two runs of 1 window each -> max span = k = 4
      (2L, "b1 b2 b3 b4 gap gap gap gap b7 b8 b9 b10 gap2 gap3 gap4"),
      // clean
      (3L, "nothing shared with the benchmark at all in any window")
    ).toDF("doc_id", "text")
    val got = Decontaminate
      .memorizationProfile(corpus, bench, k = 4)
      .as[(Long, Long, Long)]
      .collect()
      .map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(got(1L) === ((4L, 7L)), s"verbatim quote: got ${got(1L)}")
    assert(got(2L) === ((2L, 4L)), s"scattered grams: got ${got(2L)}")
    assert(got(3L) === ((0L, 0L)), "clean doc must ride at 0/0")
    // stitched-span semantics (documented upper bound): adjacent windows
    // from DIFFERENT benchmark items still stitch into one span
    val bench2 = Seq((100L, "s1 s2 s3 s4 s5"), (101L, "s3 s4 s5 s6 s7")).toDF("doc_id", "text")
    val stitched = Decontaminate
      .memorizationProfile(Seq((9L, "s1 s2 s3 s4 s5 s6 s7")).toDF("doc_id", "text"), bench2, 4)
      .as[(Long, Long, Long)]
      .head()
    assert(stitched === ((9L, 4L, 7L)), s"got $stitched")
    // doc-set contrast law: exactly the overlapReport docs carry hits
    val docs = spark.read.parquet(s"$Sf001/documents.parquet")
    val bucket = graft.functions.GraftExpressions.poly_hash(col("text")) % 10
    val corp = docs.filter(bucket < 8)
    val bm = docs.filter(bucket >= 8)
    val prof = Decontaminate.memorizationProfile(corp, bm, 4)
    val hitDocs = prof.filter(col("n_hit_windows") > 0).select("doc_id").as[Long].collect().toSet
    val reported = Decontaminate.overlapReport(corp, bm, 4).select("doc_id").as[Long].collect().toSet
    assert(hitDocs === reported, "memorization hit set must equal the overlap-report doc set")
    assert(prof.count() === corp.count(), "every corpus doc present")
    // every span is at least k where nonzero, and never exceeds the doc's token count
    val spans = prof
      .join(corp.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("nt")), Seq("doc_id"))
      .as[(Long, Long, Long, Long)]
      .collect()
    spans.foreach { case (id, hits, span, nt) =>
      if (hits > 0L) assert(span >= 4L && span <= nt, s"doc $id span $span out of [4, $nt]")
      else assert(span === 0L)
    }
    // determinism under repartitioning
    val a = Decontaminate.memorizationProfile(corp.repartition(13), bm, 4).collect().toSet
    assert(a === prof.collect().toSet)
    intercept[IllegalArgumentException](Decontaminate.memorizationProfile(corp, bm, 0))
  }

  test("semanticOverlap: planted paraphrase flagged, orthogonal not, inclusive threshold") {
    import spark.implicits._
    val bench = Seq((100L, Seq(1f, 0f, 0f, 0f)), (101L, Seq(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val corp = Seq(
      (1L, Seq(0.95f, 0.3f, 0f, 0f)), // near bench 100 — the "paraphrase"
      (2L, Seq(0f, 0f, 1f, 0f)), // orthogonal to both
      (3L, Seq(0f, 1f, 0f, 0f)) // exact copy of bench 101 -> cos 1.0
    ).toDF("vec_id", "embedding")
    val got = Decontaminate
      .semanticOverlap(corp, bench, 800000L)
      .as[(Long, Long, Boolean)]
      .collect()
      .map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(got(1L)._2 && got(3L)._2 && !got(2L)._2)
    assert(got(3L)._1 === 1000000L)
    assert(got(2L)._1 === 0L)
    // inclusive threshold: tau == the exact max flags it
    val atTau = Decontaminate
      .semanticOverlap(corp, bench, got(1L)._1)
      .as[(Long, Long, Boolean)].collect().find(_._1 == 1L).get
    assert(atTau._3, "threshold must be inclusive")
    // determinism under repartitioning on the fixture split
    val emb = spark.read.parquet(s"$Sf001/embeddings.parquet")
    val c = emb.filter(col("vec_id") % 10 =!= 9)
    val b = emb.filter(col("vec_id") % 10 === 9)
    val x = Decontaminate.semanticOverlap(c, b, 800000L).collect().toSet
    val y = Decontaminate.semanticOverlap(c.repartition(13), b, 800000L).collect().toSet
    assert(x === y)
    intercept[IllegalArgumentException](Decontaminate.semanticOverlap(corp, bench, 2000000L))
    // EMPTY benchmark (ADVICE r10): every corpus vector must still ride
    // the output — candidate-less rows carry NULL max_cos_micro and
    // flagged=false, the semanticOverlapLsh / streaming-twin convention
    // (the old inner-join plan silently dropped all of them)
    val none = Decontaminate
      .semanticOverlap(corp, bench.filter(lit(false)), 800000L)
      .collect()
    assert(none.length === 3, "empty benchmark must keep every corpus vector")
    assert(none.forall(r => r.isNullAt(1) && !r.getBoolean(2)))
  }

  test("semanticOverlapLsh: flags subset of exact, recall measured, all vectors present") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$Sf001/embeddings.parquet").select("vec_id", "embedding")
    val c = emb.filter(col("vec_id") % 10 =!= 9)
    val b = emb.filter(col("vec_id") % 10 === 9)
    val banded = Decontaminate
      .semanticOverlapLsh(c, b, 500000L)
      .as[(Long, Option[Long], Boolean)]
      .collect()
      .map(r => r._1 -> ((r._2, r._3)))
      .toMap
    val exact = Decontaminate
      .semanticOverlap(c, b, 500000L)
      .as[(Long, Long, Boolean)]
      .collect()
      .map(r => r._1 -> ((r._2, r._3)))
      .toMap
    // every corpus vector present; banded max never exceeds the exact max
    assert(banded.keySet === exact.keySet)
    banded.foreach { case (i, (m, f)) =>
      m.foreach(mv => assert(mv <= exact(i)._1, s"vec $i banded max exceeds exact"))
      if (f) assert(exact(i)._2, s"vec $i false-flagged — banding must be one-sided")
    }
    // the one-sidedness has teeth only if the banding finds what it
    // targets — the NEAR-DUPLICATE regime (cos ≥ ~0.95), not the random
    // mid-similarity pairs LSH is designed to skip (the fixture's one
    // exact hit at τ=0.5 sits at cos ≈ 0.5, where an 8-table 10-bit
    // banding collides ~13% of the time BY DESIGN). Plant perturbed
    // copies and require FULL recall on them:
    val src = emb.filter(col("vec_id") < 20L).as[(Long, Seq[Float])].collect()
    val plantedBench = src
      .map { case (i, v) => (900L + i, v.map(x => x * 0.999f + 0.0001f)) }
      .toSeq
      .toDF("vec_id", "embedding")
    val found = Decontaminate
      .semanticOverlapLsh(emb.filter(col("vec_id") < 20L), plantedBench, 950000L)
      .filter(col("flagged"))
      .select("vec_id")
      .as[Long]
      .collect()
      .toSet
    assert(found === (0L until 20L).toSet, s"planted near-dups missed: ${found.size}/20")
  }

  // ------------------------------------------------- Bloom decontamination

  test("bloom decon: one-sided error (n_maybe >= exact), merge law, fixed footprint") {
    val bits = 32768L
    val bloom = Decontaminate.bloomIndex(benchmark, bits, nHashes = 3, k = 4)
    val rep = Decontaminate
      .bloomReport(corpus, bloom, bits, nHashes = 3, k = 4)
      .as[(Long, Long, Long)]
      .collect()
      .map(r => r._1 -> r._3)
      .toMap
    val exact = Decontaminate
      .overlapReport(corpus, benchmark, k = 4)
      .as[(Long, Long)]
      .collect()
      .toMap
    // a gram the benchmark contains ALWAYS probes present — no exact
    // contamination can be missed, per document
    exact.foreach { case (d, nShared) =>
      assert(rep(d) >= nShared, s"doc $d: bloom missed contamination")
    }
    // at a generous width the false-positive MASS is zero (deterministic
    // — pinned so a probe-hashing regression is loud: the pre-remix
    // affine probes left 21 FP grams here, the avalanche leaves none)
    val wide = Decontaminate.bloomIndex(benchmark, 1L << 20, 3, 4)
    val wideRep = Decontaminate
      .bloomReport(corpus, wide, 1L << 20, 3, 4)
      .as[(Long, Long, Long)]
      .collect()
      .map(r => r._1 -> r._3)
      .toMap
    val fpMass = wideRep.map { case (d, m) => m - exact.getOrElse(d, 0L) }.sum
    wideRep.foreach { case (d, m) => assert(m >= exact.getOrElse(d, 0L), s"doc $d missed") }
    assert(fpMass === 0L, s"FP mass at 2^20 moved: $fpMass")
    // merge law: per-suite blooms OR into exactly the union's bloom
    val bucketB = GraftExpressions.poly_hash(col("text")) % 2
    val merged = Decontaminate.bloomMerge(
      Decontaminate.bloomIndex(benchmark.filter(bucketB === 0), bits, 3, 4),
      Decontaminate.bloomIndex(benchmark.filter(bucketB === 1), bits, 3, 4)
    )
    assert(
      merged.except(bloom).count() === 0L && bloom.except(merged).count() === 0L
    )
    // footprint: bits/32 words max, regardless of benchmark size
    assert(bloom.count() <= bits / 32)
    intercept[IllegalArgumentException](Decontaminate.bloomIndex(benchmark, 33L, 3, 4))
    intercept[IllegalArgumentException](Decontaminate.bloomReport(corpus, bloom, bits, 0, 4))
  }

  // ----------------------------------------------------- Count-Min sketch

  private lazy val tokenStream = docs
    .select(explode(split(col("text"), " ")).as("tok"))
    .filter(length(col("tok")) > 0)

  test("cms: estimate >= exact for every key; exact at generous width") {
    val exact = tokenStream
      .groupBy("tok")
      .agg(count(lit(1)).as("cnt"))
      .as[(String, Long)]
      .collect()
      .toMap
    // narrow grid: collisions certain, but the CMS guarantee (est >= true)
    // must hold for EVERY key
    val narrow = Sketch.cmsSketch(tokenStream, "tok", depth = 4, width = 64)
    val keys = tokenStream.select("tok").distinct()
    val estNarrow = Sketch
      .cmsEstimate(narrow, keys, "tok", depth = 4, width = 64)
      .as[(String, Long)]
      .collect()
    estNarrow.foreach { case (t, e) => assert(e >= exact(t), s"under-estimate for '$t'") }
    // generous grid vs the fixture's distinct-token count: depth 4 rows
    // give 4 chances to dodge every collision — expect exact-for-most;
    // assert exact for at least 99% and >= for all
    val wideW = 1 << 16
    val wide = Sketch.cmsSketch(tokenStream, "tok", depth = 4, width = wideW)
    val estWide =
      Sketch.cmsEstimate(wide, keys, "tok", depth = 4, width = wideW).as[(String, Long)].collect()
    estWide.foreach { case (t, e) => assert(e >= exact(t)) }
    val exactHits = estWide.count { case (t, e) => e == exact(t) }
    assert(exactHits.toDouble / estWide.length >= 0.99, s"$exactHits/${estWide.length} exact")
    // unseen keys estimate small (narrow grid absorbs mass) and 0 wide
    val unseen = Seq("zzqx_never_a_token").toDF("tok")
    assert(
      Sketch.cmsEstimate(wide, unseen, "tok", depth = 4, width = wideW).as[(String, Long)].head()._2
        === 0L
    )
  }

  test("cms: shard-built sketches merge into exactly the whole-stream sketch") {
    val shardA = tokenStream.filter(GraftExpressions.poly_hash(col("tok")) % 2 === 0)
    val shardB = tokenStream.filter(GraftExpressions.poly_hash(col("tok")) % 2 === 1)
    val merged = Sketch.cmsMerge(
      Sketch.cmsSketch(shardA, "tok", depth = 3, width = 256),
      Sketch.cmsSketch(shardB, "tok", depth = 3, width = 256)
    )
    val whole = Sketch.cmsSketch(tokenStream, "tok", depth = 3, width = 256)
    assert(merged.except(whole).count() === 0L && whole.except(merged).count() === 0L)
    // determinism under repartitioning (the counter grid is a pure
    // function of the stream's multiset)
    val re = Sketch.cmsSketch(tokenStream.repartition(17), "tok", depth = 3, width = 256)
    assert(re.except(whole).count() === 0L && whole.except(re).count() === 0L)
  }

  test("cms: weighted build == repeated-occurrence build; sketch is grid-bounded") {
    val weighted = tokenStream
      .groupBy("tok")
      .agg(count(lit(1)).as("w"))
    val fromWeights =
      Sketch.cmsSketch(weighted, "tok", depth = 3, width = 128, weightCol = Some("w"))
    val fromStream = Sketch.cmsSketch(tokenStream, "tok", depth = 3, width = 128)
    assert(fromWeights.except(fromStream).count() === 0L)
    assert(fromStream.except(fromWeights).count() === 0L)
    // at-rest bound: depth*width cells max
    assert(fromStream.count() <= 3L * 128L)
    intercept[IllegalArgumentException](Sketch.cmsSketch(tokenStream, "tok", 0, 10))
  }

  // three crafted "languages" with genuinely different character
  // statistics (the fixture's lang labels all share one synthetic
  // vocabulary, so REAL discrimination is proven here): English-like,
  // German-like (umlauts, sch/ch clusters), Spanish-like (accents, ñ)
  private def langTrain = Seq(
    (1L, "en", "the quick brown fox jumps over the lazy dog while the rain falls on the green hills"),
    (2L, "en", "she sells sea shells by the shore and the wind whispers through the old oak trees"),
    (3L, "en", "a journey of a thousand miles begins with a single step along the winding path"),
    (4L, "de", "der schnelle braune fuchs springt über den faulen hund während der regen fällt"),
    (5L, "de", "sie verkauft muscheln am ufer und der wind flüstert durch die alten eichen im schönen wald"),
    (6L, "de", "eine reise von tausend meilen beginnt mit einem einzigen schritt über die brücke"),
    (7L, "es", "el rápido zorro marrón salta sobre el perro perezoso mientras cae la lluvia en las colinas"),
    (8L, "es", "ella vende conchas junto a la orilla y el viento susurra entre los árboles viejos del bosque"),
    (9L, "es", "un viaje de mil millas comienza con un solo paso por el camino que serpentea la montaña")
  ).toDF("doc_id", "lang", "text")

  private def langHeldOut = Seq(
    (101L, "en", "the old dog sleeps by the fire while the children play in the garden behind the house"),
    (102L, "de", "der alte hund schläft am feuer während die kinder im garten hinter dem schönen haus spielen"),
    (103L, "es", "el perro viejo duerme junto al fuego mientras los niños juegan en el jardín de la casa")
  ).toDF("doc_id", "lang", "text")

  test("unigramTrain: hand-checked EM round, pruning, lossless segmentation, composition") {
    import graft.operators.Vocabulary
    // corpus: 'ab' x3, 'c' x1. Seed singles a:3 b:3 c:1 + multi ab:3, N=10.
    // Viterbi 'ab': whole-piece 0.3 beats a*b = 0.09 -> [ab]. M-counts
    // ab:3, c:1; add-one: a:1 b:1 c:2 ab:4.
    val docs = Seq((1L, "ab ab ab c")).toDF("doc_id", "text")
    val (pieces, segs) = Vocabulary.unigramTrain(docs, seedSize = 8, targetSize = 8, maxPieceLen = 2)
    val p = pieces.as[(String, Long)].collect().toMap
    assert(p === Map("a" -> 1L, "b" -> 1L, "c" -> 2L, "ab" -> 4L))
    val s = segs.select("w", "syms").as[(String, Seq[String])].collect().toMap
    assert(s === Map("ab" -> Seq("ab"), "c" -> Seq("c")))
    // pruning: targetSize bounds the MULTI pieces, singles always survive
    val (pruned, prunedSegs) =
      Vocabulary.unigramTrain(docs, seedSize = 8, targetSize = 1, maxPieceLen = 2)
    assert(pruned.filter(length(col("piece")) >= 2).count() <= 1L)
    assert(pruned.filter(length(col("piece")) === 1).count() === 3L)
    assert(prunedSegs.count() === 2L)
    // the real fixture: every word's segmentation is LOSSLESS and every
    // used piece is in the trained table; composition with the shared
    // serving layer (subwordVocab + encodeSubwords) round-trips
    val fixture = sources.Tables.load(spark, Sf001, "documents").limit(120)
    val (fp, fs) = Vocabulary.unigramTrain(fixture, seedSize = 48, targetSize = 24)
    val fsRows = fs.select("w", "syms").as[(String, Seq[String])].collect()
    assert(fsRows.nonEmpty)
    fsRows.foreach { case (w, syms) =>
      assert(syms.mkString === w, s"lossy segmentation of '$w': $syms")
    }
    val tablePieces = fp.select("piece").as[String].collect().toSet
    val used = fsRows.flatMap(_._2).toSet
    assert(used.subsetOf(tablePieces), s"pieces outside the table: ${used -- tablePieces}")
    val vocab = Vocabulary.subwordVocab(fs)
    val enc = Vocabulary.encodeSubwords(fixture, fs, vocab)
    val prof = Vocabulary.bpeProfile(fixture, fs)
    val nIds = enc.select("doc_id", "n_ids").as[(Long, Long)].collect().toMap
    val nSub = prof.select("doc_id", "n_subwords").as[(Long, Long)].collect().toMap
    assert(nIds === nSub, "encode conservation vs the profile")
    // longer pieces carry more mass per token than chars: mean fertility
    // (subwords per word) must sit well under the char ceiling
    val (nw, ns) = prof
      .agg(sum("n_words"), sum("n_subwords"))
      .as[(Long, Long)]
      .head()
    val (nwC, nc) = fixture
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .agg(count(lit(1)), sum(length(col("w"))))
      .as[(Long, Long)]
      .head()
    assert(nw === nwC)
    // the trained pieces must beat the char-by-char ceiling by a clear
    // margin (mean piece length > 4/3 at a 24-multi budget; measured
    // ~1.48 chars/piece on the fixture slice)
    assert(ns * 4 < nc * 3, s"fertility too high: $ns subwords vs $nc chars")
    // fail-fasts
    intercept[IllegalArgumentException](Vocabulary.unigramTrain(docs, 0, 8))
    intercept[IllegalArgumentException](Vocabulary.unigramTrain(docs, 8, 0))
    intercept[IllegalArgumentException](
      Vocabulary.unigramTrain(docs, 8, 8, maxPieceLen = 4, wordLenCap = 3)
    )
    intercept[IllegalArgumentException](
      Vocabulary.unigramTrain(
        Seq((1L, "supercalifragilistic")).toDF("doc_id", "text"),
        8, 8, 4, wordLenCap = 8
      )
    )
  }

  test("segmentationDiff: crafted statuses, prefix-stability law, summary mass accounting") {
    import graft.operators.Vocabulary
    // crafted: a unchanged, b changed, d removed, e added
    val oldSegs = Seq(
      ("a", Seq("a"), 10L), ("b", Seq("b", "c"), 5L), ("d", Seq("d"), 2L)
    ).toDF("w", "syms", "cnt")
    val newSegs = Seq(
      ("a", Seq("a"), 11L), ("b", Seq("bc"), 6L), ("e", Seq("e"), 3L)
    ).toDF("w", "syms", "cnt")
    val got = Vocabulary.segmentationDiff(oldSegs, newSegs)
      .as[(String, String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got("a")._2 === "unchanged" && got("a")._5 === 11L)
    assert(got("b") === (("b", "changed", 2L, 1L, 6L)))
    assert(got("d") === (("d", "removed", 1L, 0L, 2L)))
    assert(got("e") === (("e", "added", 0L, 1L, 3L)))
    val sum = Vocabulary.segmentationDiffSummary(oldSegs, newSegs)
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(sum("changed") === (("changed", 1L, 6L, -6L))) // b: (1-2)*6
    assert(sum("added")._4 === 3L)
    // NULL-syms rows classify by PRESENCE (the r18 snapshotDiff fix's
    // vocab twin): present-with-NULL is not added/removed, syms→NULL is
    // changed, NULL==NULL is unchanged
    val oldNull = Seq(
      ("x", Some(Seq("x")), 1L), ("y", Option.empty[Seq[String]], 1L),
      ("z", Option.empty[Seq[String]], 1L)
    ).toDF("w", "syms", "cnt")
    val newNull = Seq(
      ("x", Option.empty[Seq[String]], 1L), ("y", Option.empty[Seq[String]], 1L),
      ("w2", Some(Seq("w")), 1L)
    ).toDF("w", "syms", "cnt")
    val gotNull = Vocabulary.segmentationDiff(oldNull, newNull)
      .select("w", "status").as[(String, String)].collect().toMap
    assert(gotNull === Map("x" -> "changed", "y" -> "unchanged", "z" -> "removed", "w2" -> "added"))
    // prefix-stability on the real trainer: diff(bpe6, bpe8) over one
    // corpus has NO added/removed (same word table), and the changed
    // words are exactly those containing merges 7-8's pairs
    val docs = sources.Tables.load(spark, Sf001, "documents").limit(150)
    val d68 = Vocabulary.segmentationDiff(
      Vocabulary.bpeSegmentations(docs, 6),
      Vocabulary.bpeSegmentations(docs, 8)
    ).persist()
    try {
      assert(d68.filter(col("status").isin("added", "removed")).count() === 0L)
      val merges = Vocabulary.bpeMerges(docs, 8)
        .filter(col("merge_idx") > 6)
        .select(concat(col("left"), col("right")).as("fused"))
        .as[String].collect().toSet
      val changed = d68.filter(col("status") === "changed")
        .select("w").as[String].collect()
      assert(changed.nonEmpty)
      // every changed word contains a late-merge fusion as a substring
      changed.foreach(w => assert(merges.exists(w.contains), s"'$w' changed without a late merge"))
      // identity: diff(x, x) is all-unchanged with zero subword delta
      val segs = Vocabulary.bpeSegmentations(docs, 6)
      val idSum = Vocabulary.segmentationDiffSummary(segs, segs)
        .as[(String, Long, Long, Long)].collect()
      assert(idSum.map(_._1).toSeq === Seq("unchanged") && idSum.head._4 === 0L)
      // cross-trainer contract: unigram vs BPE diffs compose (same (w,
      // syms, cnt) shape), word sets equal so no added/removed
      val uni = Vocabulary.unigramSegmentations(docs, 32, 16)
      assert(
        Vocabulary.segmentationDiff(segs, uni)
          .filter(col("status").isin("added", "removed")).count() === 0L
      )
    } finally { d68.unpersist(); () }
  }

  test("unigramTrain: determinism under repartitioning; longer-piece tie-break") {
    import graft.operators.Vocabulary
    val fixture = sources.Tables.load(spark, Sf001, "documents").limit(60)
    val a = Vocabulary.unigramSegmentations(fixture, 32, 16)
      .select("w", "syms").as[(String, Seq[String])].collect().toMap
    val b = Vocabulary.unigramSegmentations(fixture.repartition(13), 32, 16)
      .select("w", "syms").as[(String, Seq[String])].collect().toMap
    assert(a === b)
    // tie-break: corpus where 'xy' and the chars x, y have engineered
    // equal-score paths — 'xy' x2 and lone 'x' 'y' x? craft: text 'xy x y'
    // seeds: x:2 y:2 xy:1 ... whole-piece vs char path scores differ here,
    // so instead pin the LAW on the degenerate equal case: a word whose
    // two decompositions multiply identical rationals — 'xx' with x only:
    // path [x,x] is the only one when seedSize excludes 'xx'... the
    // uniqueness argument (one candidate per L, best-per-position unique)
    // makes a true tie impossible to craft without equal products; assert
    // instead that repeated training is bit-stable (same segs twice)
    val c = Vocabulary.unigramSegmentations(fixture, 32, 16)
      .select("w", "syms").as[(String, Seq[String])].collect().toMap
    assert(c === a)
  }

  test("langId gramPairs kernel == the HOF expression it replaced, incl. unicode/short/empty") {
    import graft.operators.LangId
    // the exact pipeline the fused CharGramPairs kernel replaced
    def hofPairs(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val g2 = LangId.charGramsExpr("text", 2)
      val g3 = LangId.charGramsExpr("text", 3)
      df.select(
        col("doc_id"),
        explode(expr(s"zip_with(slice($g2, 1, size($g3)), $g3, (p, g) -> named_struct('p', p, 'g', g))")).as("pg")
      ).select(col("doc_id"), col("pg.p").as("p"), col("pg.g").as("g"))
    }
    val df = Seq(
      (1L, "hello world"),
      (2L, "héllo wörld"), // 2-byte codepoints: positions are codepoints, not bytes
      (3L, "日本語のテキスト"), // 3-byte codepoints
      (4L, "ab"), // shorter than the trigram: one clamped window
      (5L, "a"),
      (6L, "") // empty: one (0, 0) pair
    ).toDF("doc_id", "text")
    val kernel = LangId.gramPairs(df).orderBy("doc_id", "p", "g").collect().toSeq
    val hof = hofPairs(df).orderBy("doc_id", "p", "g").collect().toSeq
    assert(kernel === hof)
    assert(kernel.count(_.getLong(0) == 6L) === 1, "empty text yields exactly one pair")
    // the scalar-array form too (vocab's n=1 and any other n)
    for (n <- Seq(1, 2, 3)) {
      val kh = df
        .select(col("doc_id"), explode(graft.functions.GraftExpressions.char_gram_hashes(col("text"), n)).as("h"))
        .orderBy("doc_id", "h").collect().toSeq
      val eh = df
        .select(col("doc_id"), explode(expr(LangId.charGramsExpr("text", n))).as("h"))
        .orderBy("doc_id", "h").collect().toSeq
      assert(kh === eh, s"char_gram_hashes(n=$n) == charGramsExpr")
    }
  }

  test("langId: held-out documents of crafted languages assign correctly; determinism") {
    import graft.operators.LangId
    val model = LangId.train(langTrain)
    val got = LangId
      .assign(langHeldOut, model)
      .select("doc_id", "lang_pred")
      .as[(Long, String)]
      .collect()
      .toMap
    assert(got === Map(101L -> "en", 102L -> "de", 103L -> "es"))
    // the training slice itself recovers its own labels (in-distribution)
    val self = LangId
      .assign(langTrain.select(col("doc_id"), col("text")), model)
      .select("doc_id", "lang_pred")
      .as[(Long, String)]
      .collect()
      .toMap
    val want = langTrain.select("doc_id", "lang").as[(Long, String)].collect().toMap
    assert(self === want)
    // scoreByLang exposes the full margin frame: every (doc, lang) pair
    val byLang = LangId.scoreByLang(langHeldOut, model)
    assert(byLang.count() === 3L * 3L)
    // determinism under repartitioning
    val a = LangId.assign(langHeldOut, model).collect().toSet
    val b = LangId.assign(langHeldOut.repartition(7), model).collect().toSet
    assert(a === b)
  }

  test("langId: deterministic tie-break, model bounds, derived-card composition, plan gate") {
    import graft.operators.{LangId, Report}
    // a candidate with grams unseen by EVERY language scores each lang at
    // its smoothing floor — the argmin then ties and must break to the
    // lexically smallest lang; craft symmetric two-lang training so both
    // langs have equal v and equal (empty) overlap with the candidate
    val sym = Seq(
      (1L, "bb", "abab"),
      (2L, "aa", "baba")
    ).toDF("doc_id", "lang", "text")
    val symModel = LangId.train(sym)
    val tied = LangId
      .assign(Seq((9L, "zzzz")).toDF("doc_id", "text"), symModel)
      .select("lang_pred")
      .as[String]
      .head()
    assert(tied === "aa", "full tie must break to the lexically smaller lang")
    // model frames are alphabet-bounded: distinct trigram/bigram/char counts
    val model = LangId.train(langTrain)
    val nTri = model.grams.count()
    val nDocsChars = langTrain.agg(sum(length(col("text")))).head().getLong(0)
    assert(nTri <= nDocsChars, "gram model bounded by training char mass (distinct windows)")
    assert(model.vocab.count() === 3L)
    // composition: corpusCardDerived == corpusCard over manually-joined preds
    val docs = langHeldOut.withColumn("source", lit("crafted")).drop("lang")
    val pred = LangId.assign(docs, model).select(col("doc_id"), col("lang_pred").as("lang"))
    val direct = Report.corpusCard(docs.join(pred, Seq("doc_id"))).collect().toSet
    val composed = LangId.corpusCardDerived(docs, model).collect().toSet
    assert(composed === direct)
    // plan gate: the candidate side never sort-merge-joins — model
    // lookups broadcast
    val plan = LangId.assign(langHeldOut, model).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"model lookups must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus must not shuffle for lookups:\n$plan")
  }
}
