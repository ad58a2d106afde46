package graft.operators

import org.apache.spark.sql.{DataFrame, Row}

/** The one "collect to the driver if small" probe behind every two-regime
  * operator ([[Dedup.componentsOf]], [[Dedup.keepNearBest]], the
  * [[Vocabulary]] merge trainers, [[Similarity.trainPq]],
  * [[Mondrian.anonymize]], [[Decontaminate.clean]]).
  *
  * The design is the broadcast-join threshold applied to decisions: each
  * of those operators has a small PROXY of its input (near-dup pairs, a
  * word table, a histogram, a gram index) that, when it fits the driver,
  * is answered exactly by a local algorithm in microseconds, while the
  * distributed form pays rounds of almost pure scheduling overhead at that
  * size. Above the cap the distributed form runs untouched, so every
  * operator stays scale-safe; each site's comment argues why its two
  * regimes give equal results, and a regime-equality law pins each.
  *
  * The cap is ONE session conf key, `spark.graft.driverRegime.maxRows`:
  * the most rows a probe may collect. Unset, each site uses its own
  * default (sized so its rows are tens of MB, the broadcast-relation
  * order). 0 or less turns every driver regime off. It is read from the
  * probing frame's session, so `spark.conf.set`, `--conf` and
  * `-Dspark.graft.driverRegime.maxRows` reach it, and a value set in one
  * session is not seen by another.
  */
object DriverRegime {

  val MaxRowsKey = "spark.graft.driverRegime.maxRows"

  /** All of `df`'s rows when there are at most the cap of them, else
    * None. One `limit(cap + 1).collect()` job (the over-cap case wastes
    * it); a cap of 0 or less returns None without running a job. Caps
    * above `Int.MaxValue - 1` act as that bound, the most a limit can
    * take and still see one row over.
    */
  def collectIfSmall(df: DataFrame, defaultRows: Long): Option[Array[Row]] = {
    val cap = df.sparkSession.conf.getOption(MaxRowsKey).fold(defaultRows) { v =>
      v.toLongOption.getOrElse(
        throw new IllegalArgumentException(s"$MaxRowsKey must be a whole number of rows, got '$v'")
      )
    }
    if (cap <= 0L) None
    else {
      val capInt = math.min(cap, Int.MaxValue - 1L).toInt
      val rows = df.limit(capInt + 1).collect()
      if (rows.length <= capInt) Some(rows) else None
    }
  }
}
