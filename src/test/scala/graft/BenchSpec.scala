package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench harness's measurement arithmetic (VERDICT r17 №5 + №4):
  * the adaptive-rep trigger must fire on exactly the two-rep-stall
  * signature (median dragged >2x above an in-band minimum) and on
  * nothing else — a real regression moves every rep together, so it
  * must NEVER trigger extra reps that could average it away. Pure
  * functions, no SparkSession.
  */
class BenchSpec extends AnyFunSuite {

  test("median is the true median for odd, even, and singleton rep counts") {
    assert(Bench.median(Seq(3.0)) === 3.0)
    assert(Bench.median(Seq(1.0, 9.0)) === 5.0)
    assert(Bench.median(Seq(9.0, 1.0, 2.0)) === 2.0)
    assert(Bench.median(Seq(4.0, 1.0, 2.0, 9.0)) === 3.0)
  }

  test("extraRepNeeded fires on the q85-shaped two-rep stall and stops at maxReps") {
    // the official r17 q85 spread: min in-band, two reps in one sticky
    // window — the median itself flags, so more reps are warranted
    val q85 = Seq(6.473, 28.118, 28.895)
    assert(Bench.extraRepNeeded(q85, maxReps = 5))
    // after one extra in-band rep the median is still stalled-dominated
    assert(Bench.extraRepNeeded(q85 :+ 6.6, maxReps = 5))
    // the 5-rep ceiling is hard: never a 6th
    assert(!Bench.extraRepNeeded(q85 ++ Seq(6.6, 6.5), maxReps = 5))
  }

  test("extraRepNeeded never fires on a uniform regression (med ~ min) or a single stalled rep") {
    // a real 2x regression: every rep moved together — med == min, no
    // extra reps, nothing to average the regression away with
    assert(!Bench.extraRepNeeded(Seq(11.2, 11.5, 11.4), maxReps = 5))
    // ONE stalled rep: the median of 3 already absorbs it
    assert(!Bench.extraRepNeeded(Seq(5.0, 5.2, 22.0), maxReps = 5))
    // fewer than two runs: min/median are the same reading
    assert(!Bench.extraRepNeeded(Seq(5.0), maxReps = 5))
    assert(!Bench.extraRepNeeded(Nil, maxReps = 5))
  }

  test("extraRepNeeded boundary: exactly 2x is in-band, just above is not") {
    assert(!Bench.extraRepNeeded(Seq(1.0, 2.0, 2.0), maxReps = 5))
    assert(Bench.extraRepNeeded(Seq(1.0, 2.01, 2.01), maxReps = 5))
  }

  test("iowaitPct is the windowed share and is zero-safe on clock weirdness") {
    val a = Bench.HostStat(1.0, iowaitJiffies = 100L, totalJiffies = 10000L)
    val b = Bench.HostStat(2.0, iowaitJiffies = 300L, totalJiffies = 11000L)
    assert(math.abs(Bench.iowaitPct(a, b) - 20.0) < 1e-9)
    // no elapsed jiffies (or a counter reset going backwards): 0, not NaN
    assert(Bench.iowaitPct(a, a) === 0.0)
    assert(Bench.iowaitPct(b, a) === 0.0)
  }

  test("tail contract: the last 2 KB of the board line is self-sufficient at 300 queries") {
    // the driver keeps only the LAST ~2 KB of the bench line; the r17
    // board was lost because the query dict outgrew the tail before the
    // summary block existed. Pin: with a 300-query dict (well past the
    // current 187), the retained tail still contains a complete,
    // parseable "summary" object with the board totals, and the line
    // ends with it (nothing a future addition appends can push it out
    // without failing here first).
    val queries = (1 to 300).map(i => f"q${i}%03d_synthetic" -> (0.1 + i * 0.01))
    val errors = Seq("q999_broken" -> "boom \"quoted\"\nnewline")
    val line = Bench.benchLine("median_of_3", 3, queries, errors, 0.88, 0.86, "/tmp/sf")
    assert(!line.contains("\n"), "one line — a raw newline would split the artifact")
    val tail = line.takeRight(2048)
    val at = tail.lastIndexOf("\"summary\":{")
    assert(at >= 0, s"summary not in the last 2 KB (line length ${line.length})")
    val obj = tail.substring(at + "\"summary\":".length)
    assert(obj.startsWith("{") && obj.endsWith("}}"), "summary object truncated")
    val total = queries.map(_._2).sum
    assert(obj.contains(f""""total_sec":$total%.3f"""))
    assert(obj.contains(s""""n_queries":${queries.length + errors.length}"""))
    assert(obj.contains(""""n_ok":300""") && obj.contains(""""n_failed":1"""))
    // cheap-first run order is the dict order: the tail retains the END
    // of the dict — the expensive families — not the cheap head
    assert(tail.contains("q300_synthetic") && !tail.contains("\"q001_synthetic\""))
  }

  test("QueryCost.selected: no filter runs every query cheap-first, a filter keeps its matches in that order, an unmatched filter is refused by name") {
    val all = QueryCost.selected(Nil)
    assert(all.size === SparkEntry.queries.size && all.toSet === SparkEntry.queries.keySet)
    // cheap-first: (anchor seconds, name) never decreases along the run order
    val keys = all.map(n => (QueryCost.of(n), n))
    assert(keys === keys.sorted)
    val q02 = QueryCost.selected(Seq("q02_"))
    assert(q02.nonEmpty && q02 === all.filter(_.contains("q02_")))
    val two = QueryCost.selected(Seq("q02_", "q01_"))
    assert(two === all.filter(n => n.contains("q02_") || n.contains("q01_")))
    // a typo must not become an empty run that exits 0
    val refused = intercept[IllegalArgumentException] {
      QueryCost.selected(Seq("q01_", "no_such_query"))
    }
    assert(refused.getMessage.contains("'no_such_query'"), refused.getMessage)
    assert(!refused.getMessage.contains("'q01_'"), "only the unmatched filter is named")
  }

  test("sampleHost reads live /proc on Linux (non-negative, monotone totals) and never throws") {
    val s1 = Bench.sampleHost()
    val s2 = Bench.sampleHost()
    assert(s1.load1 >= 0.0 && s1.iowaitJiffies >= 0L && s1.totalJiffies >= 0L)
    assert(s2.totalJiffies >= s1.totalJiffies)
  }
}
