package graft.operators

import org.apache.spark.sql.{DataFrame, Row}

/** The capped driver collect behind every driver-local fast path
  * (union-find, local PageRank/triangle loops) and bounded key sample.
  * Same license class as a broadcast threshold: below the cap,
  * driver-local work beats several Spark rounds of job overhead; above
  * it, only the distributed shape scales — and real 100 TB inputs blow
  * straight past any sane cap, so the distributed path self-selects. */
object DriverGate {

  /** The rows of `df` when it has at most `cap` of them, else None:
    * ONE `limit(cap + 1)` collect that stops scanning past the cap, so
    * the driver never holds more than `cap + 1` rows and no frame is
    * counted and then collected again. Caps above Int.MaxValue clamp:
    * a raw `.toInt` would wrap to a wrong or invalid limit. */
  def collectAtMost(df: DataFrame, cap: Long): Option[Array[Row]] = {
    val c = math.min(math.max(cap, 0L), Int.MaxValue - 1L).toInt
    val rows = df.limit(c + 1).collect()
    Option.when(rows.length <= c)(rows)
  }
}
