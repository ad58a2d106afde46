package graft

import graft.operators.DriverRegime

/** Laws of the one collect-if-small probe behind every two-regime
  * operator: the cap boundary hit exactly and by one, the cap-0 and
  * `Long.MaxValue` extremes, the empty frame, session scope, and a
  * malformed value failing fast with the key's name.
  */
class DriverRegimeSpec extends SparkSpec {

  private val key = DriverRegime.MaxRowsKey

  private def probe(n: Long, cap: String): Option[Seq[Long]] =
    withConf(key -> cap) {
      DriverRegime.collectIfSmall(spark.range(n).toDF("id"), 1000L).map(_.map(_.getLong(0)).toSeq.sorted)
    }

  test("cap boundary: exactly n rows are collected, one under gives None") {
    assert(probe(7L, "7") === Some(0L until 7L))
    assert(probe(7L, "6") === None)
    assert(probe(1L, "1") === Some(Seq(0L)))
  }

  test("extremes: cap 0 runs no job, Long.MaxValue collects every row, an empty frame is Some(empty)") {
    var got: Option[Array[org.apache.spark.sql.Row]] = Some(Array.empty)
    val actions = withConf(key -> "0") {
      actionsIn { got = DriverRegime.collectIfSmall(spark.range(5).toDF("id"), 1000L) }
    }
    assert(got === None && actions === 0)
    assert(withConf(key -> "-3")(DriverRegime.collectIfSmall(spark.range(5).toDF("id"), 1000L)) === None)
    assert(probe(50L, Long.MaxValue.toString) === Some(0L until 50L))
    assert(probe(0L, "1") === Some(Seq.empty))
    assert(probe(0L, Long.MaxValue.toString) === Some(Seq.empty))
  }

  test("unset key: the call site's default is the cap") {
    assert(spark.conf.getOption(key).isEmpty)
    val df = spark.range(4).toDF("id")
    assert(DriverRegime.collectIfSmall(df, 4L).map(_.length) === Some(4))
    assert(DriverRegime.collectIfSmall(df, 3L) === None)
    assert(DriverRegime.collectIfSmall(df, 0L) === None)
  }

  test("session scope: a cap set in one session is not seen by a new session") {
    val other = spark.newSession()
    withConf(key -> "0") {
      assert(DriverRegime.collectIfSmall(spark.range(3).toDF("id"), 10L) === None)
      assert(other.conf.getOption(key).isEmpty)
      assert(DriverRegime.collectIfSmall(other.range(3).toDF("id"), 10L).map(_.length) === Some(3))
    }
  }

  test("a malformed cap fails fast, naming the key") {
    for (bad <- Seq("1e6", "x", "", "9223372036854775808")) {
      val e = intercept[IllegalArgumentException] {
        withConf(key -> bad)(DriverRegime.collectIfSmall(spark.range(3).toDF("id"), 10L))
      }
      assert(!e.isInstanceOf[NumberFormatException], e.toString)
      assert(e.getMessage.contains(key) && e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
