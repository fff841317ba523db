package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.GroupTopK
import graft.queries.Num._

/** Event-stream analytics over the `events` table (`event_id, ts,
  * user_id, event_type, value, props`) — batch mirrors of the
  * Structured Streaming pipeline in [[graft.streaming]]: the same
  * tumbling-window and sessionization semantics, verifiable against a
  * SQL oracle (the streaming path reuses these groupings with a
  * watermark on `ts`).
  *
  * Time handling: all emitted times are epoch seconds (long) — the
  * source column is nanosecond-precision parquet, and floor-to-second
  * agrees across engines while raw timestamp precision does not.
  */
object TimeSeries {
  import Tables.t

  type Q = (SparkSession, String) => DataFrame

  val SessionGapSec = 1800L // 30 min inactivity ends a session

  /** `ts` arrives as a nanosecond-epoch long (see [[Tables.t]]);
    * microsecond timestamp for Spark's window(), integer-division
    * seconds elsewhere. */
  private def tsMicros: org.apache.spark.sql.Column =
    timestamp_micros(expr("ts div 1000"))
  private def tsSec: org.apache.spark.sql.Column = expr("ts div 1000000000")

  /** Tumbling 1-hour window aggregation per event type — the
    * windowed-aggregation shape (map-side partial agg, one shuffle on
    * (bucket, type); at scale the window key is derivable from a
    * partition column for pruning). */
  def eventsHourly(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(window(tsMicros, "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), r2(sum(col("value"))).as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("bucket_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  val eventsHourlySql: String =
    s"""SELECT floor(epoch(time_bucket(INTERVAL '1 hour', ts)))::BIGINT AS bucket_start,
       event_type, count(*) AS n_events,
       ${sqlR("sum(value)", 2)} AS sum_value
       FROM events GROUP BY 1, 2"""

  /** Robust anomaly screen over the hourly series (median/MAD — the
    * outlier detector that survives the outliers it hunts, unlike
    * mean/stddev whose estimates the anomaly itself corrupts;
    * Hampel's classic rule at the standard 3·MAD fence): per event
    * type, flag hours whose total value sits more than 3 median
    * absolute deviations from the type's median hour.
    *
    * Scale shape: the only corpus-sized pass is the hourly aggregate
    * (map-side combined, one shuffle on (bucket, type) — shared with
    * [[eventsHourly]]); medians then run as plain rank windows over
    * the GRAIN-BOUNDED series (types × hours — a year of hourly data
    * is 8,760 rows per type at any corpus size), so no percentile
    * machinery is needed. Median = the lower median (value at rank
    * ⌈n/2⌉), an ELEMENT of the series rather than an interpolation —
    * exact, engine-portable, and tie-safe; sums are r2'd before any
    * comparison so the fence predicate sees identical doubles in
    * both engines. */
  def eventsAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val hourly = t(spark, dir, "events")
      .groupBy(window(tsMicros, "1 hour").as("w"), col("event_type"))
      .agg(r2(sum(col("value"))).as("v"))
      .select(unix_timestamp(col("w.start")).as("bucket_start"),
        col("event_type"), col("v"))
    def lowerMedian(df: DataFrame, valueCol: String, out: String) = {
      val wN = Window.partitionBy(col("event_type"))
      val wR = Window.partitionBy(col("event_type"))
        .orderBy(col(valueCol), col("bucket_start"))
      df.withColumn("n", count(lit(1)).over(wN))
        .withColumn("rk", row_number().over(wR))
        .filter(col("rk") === expr("(n + 1) div 2"))
        .select(col("event_type"), col(valueCol).as(out))
    }
    val med = lowerMedian(hourly, "v", "med")
    val dev = hourly.join(broadcast(med), "event_type")
      .withColumn("adev", r2(abs(col("v") - col("med"))))
    val mad = lowerMedian(dev.select(col("event_type"),
      col("bucket_start"), col("adev").as("v")), "v", "mad")
    dev.join(broadcast(mad), "event_type")
      .filter(col("adev") > lit(3.0) * col("mad"))
      .select(col("event_type"), col("bucket_start"), col("v"),
        col("med"), col("mad"))
  }

  val eventsAnomalySql: String =
    s"""WITH h AS (
         SELECT floor(epoch(time_bucket(INTERVAL '1 hour', ts)))::BIGINT
             AS bucket_start,
           event_type, ${sqlR("sum(value)", 2)} AS v
         FROM events GROUP BY 1, 2),
       hr AS (SELECT *, count(*) OVER (PARTITION BY event_type) AS n,
           row_number() OVER (PARTITION BY event_type
             ORDER BY v, bucket_start) AS rk FROM h),
       med AS (SELECT event_type, v AS med FROM hr WHERE rk = (n + 1) // 2),
       d AS (SELECT h.event_type, h.bucket_start, h.v, med.med,
           ${sqlR("abs(h.v - med.med)", 2)} AS adev
         FROM h JOIN med USING (event_type)),
       dr AS (SELECT *, count(*) OVER (PARTITION BY event_type) AS n,
           row_number() OVER (PARTITION BY event_type
             ORDER BY adev, bucket_start) AS rk FROM d),
       mad AS (SELECT event_type, adev AS mad FROM dr WHERE rk = (n + 1) // 2)
       SELECT d.event_type, d.bucket_start, d.v, d.med, mad.mad
       FROM d JOIN mad USING (event_type)
       WHERE d.adev > 3.0 * mad.mad"""

  /** CDC / upsert compaction: per key, keep the LATEST record — the
    * change-capture collapse every mutable-table ingest runs before
    * anything downstream reads it (the "apply changes" step of a
    * medallion pipeline). Key = (user_id, event_type); latest =
    * max (ts, event_id) with the unique event_id as tiebreak.
    *
    * Plan choice — MEASURED, not assumed (NOTES.md, round-4 work
    * log: 100M events / 3.4M keys, checksum-verified equal outputs):
    * the "obvious" shuffle-sparing alternative, keep-latest via an
    * order-independent `max(struct(ts, event_id, value))` aggregate,
    * LOSES to this window in BOTH locality regimes — 51.7s vs 32.5s
    * on randomly-placed versions and 27.7s vs 5.8s when versions
    * co-locate per key — because a struct max buffer is not
    * fixed-width, forcing SortAggregate whose per-row struct
    * handling is pure CPU overhead, while the window's rank is a
    * streaming pass over the sort the shuffle already pays. The
    * aggregate's only remaining regime is a network-bound cluster
    * shuffle of co-located wide rows (its partial step collapses
    * each split to one row per key before the wire). Only the window
    * plan ships; its correctness gate is the DuckDB oracle, and the
    * aggregate's numbers stand as NOTES.md recorded them. */
  def eventsCompact(spark: SparkSession, dir: String): DataFrame = {
    // cross-engine ordering convention (the eventsAsofAttribution
    // rule): Spark's ts is a nano long while DuckDB may coerce
    // TIMESTAMP_NS to µs — order BOTH sides on µs-truncated ts so
    // any sub-µs tie falls to the deterministic event_id tiebreak
    // on both engines
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(expr("ts div 1000").desc, col("event_id").desc)
    val wN = Window.partitionBy(col("user_id"), col("event_type"))
    t(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"), col("value"))
      .withColumn("rk", row_number().over(w))
      .withColumn("n_versions", count(lit(1)).over(wN))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("event_type"),
        col("event_id").as("last_event_id"),
        expr("ts div 1000000000").as("last_sec"),
        r2(col("value")).as("last_value"),
        col("n_versions"))
  }

  val eventsCompactSql: String =
    s"""WITH r AS (SELECT user_id, event_type, event_id, ts, value,
         row_number() OVER (PARTITION BY user_id, event_type
           ORDER BY epoch_us(ts)::BIGINT DESC, event_id DESC) AS rk,
         count(*) OVER (PARTITION BY user_id, event_type) AS n
       FROM events)
       SELECT user_id, event_type, event_id AS last_event_id,
         floor(epoch(ts))::BIGINT AS last_sec,
         ${sqlR("value", 2)} AS last_value,
         n::BIGINT AS n_versions
       FROM r WHERE rk = 1"""

  /** Sessionization: per user, a new session starts after
    * [[SessionGapSec]] of inactivity; emit per-session stats. The
    * lag/cumsum windows shuffle once on user_id; the follow-up
    * session aggregation reuses the same partitioning (no second
    * shuffle of the full data). This is the batch twin of
    * `flatMapGroupsWithState` sessionization in the streaming module. */
  def eventsSessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(spark, dir, "events")
      .withColumn("sec", tsSec)
      .withColumn("prev", lag(col("sec"), 1).over(byUser))
      .withColumn("new_s",
        when(col("prev").isNull || col("sec") - col("prev") > SessionGapSec, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum(col("new_s")).over(cum))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        r2(sum(col("value"))).as("sum_value"),
        min(col("sec")).as("session_start"),
        max(col("sec")).as("session_end"))
  }

  val eventsSessionizeSql: String =
    s"""WITH x AS (SELECT user_id, event_id, ts, value,
         floor(epoch(ts))::BIGINT AS sec,
         lag(floor(epoch(ts))::BIGINT) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS prev
       FROM events),
       s AS (SELECT user_id, value, sec,
         sum(CASE WHEN prev IS NULL OR sec - prev > $SessionGapSec
             THEN 1 ELSE 0 END) OVER
           (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
       FROM x)
       SELECT user_id, session_idx::BIGINT AS session_idx,
         count(*) AS n_events,
         ${sqlR("sum(value)", 2)} AS sum_value,
         min(sec) AS session_start, max(sec) AS session_end
       FROM s GROUP BY user_id, session_idx"""

  /** Sessionization via Spark's NATIVE session_window operator (the
    * exact engine path the streaming module uses) — semantics pinned
    * against a µs-exact oracle: a new session starts when
    * ts_next - ts_prev ≥ gap in MICROSECONDS (session_window merges
    * while next.start < current.end), and window.end is
    * last-event + gap. */
  def eventsSessionWindow(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(session_window(tsMicros, "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), r2(sum(col("value"))).as("sum_value"))
      .select(col("user_id"),
        unix_timestamp(col("w.start")).as("session_start"),
        unix_timestamp(col("w.end")).as("session_end_gap"),
        col("n_events"), col("sum_value"))

  val eventsSessionWindowSql: String =
    s"""WITH x AS (SELECT user_id, event_id, ts, value,
         epoch_us(ts)::BIGINT AS us,
         lag(epoch_us(ts)::BIGINT) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS prev
       FROM events),
       s AS (SELECT user_id, value, us,
         sum(CASE WHEN prev IS NULL OR us - prev >= ${SessionGapSec}000000
             THEN 1 ELSE 0 END) OVER
           (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
       FROM x)
       SELECT user_id,
         min(us) // 1000000 AS session_start,
         (max(us) + ${SessionGapSec}000000) // 1000000 AS session_end_gap,
         count(*) AS n_events, ${sqlR("sum(value)", 2)} AS sum_value
       FROM s GROUP BY user_id, session_idx"""

  /** Pivot: per-user event-type counts as columns (pandas
    * crosstab-style reshaping; explicit value list keeps the plan a
    * single pass with no distinct-values pre-job). */
  val EventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  def eventsPivot(spark: SparkSession, dir: String): DataFrame = {
    val pivoted = t(spark, dir, "events")
      .groupBy(col("user_id"))
      .pivot("event_type", EventTypes)
      .count()
    pivoted.select(col("user_id") +:
      EventTypes.map(e => coalesce(col(e), lit(0L)).as(s"n_$e")): _*)
  }

  val eventsPivotSql: String = {
    val cols = EventTypes.map(e =>
      s"count(*) FILTER (WHERE event_type = '$e') AS n_$e").mkString(", ")
    s"SELECT user_id, $cols FROM events GROUP BY user_id"
  }

  /** Conversion funnel: first signup per user, then purchases within
    * the following 7 days — the sequential-pattern shape (aggregate →
    * broadcast-friendly join back on user → windowed filter →
    * aggregate). All time math in µs integers. */
  def eventsFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
      .withColumn("us", expr("ts div 1000"))
    val signups = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(min(col("us")).as("signup_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .join(signups, Seq("user_id"))
      .filter(col("us") >= col("signup_us") &&
        col("us") < col("signup_us") + lit(7L * 86400L * 1000000L))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"),
        r2(sum(col("value"))).as("purchase_value"))
    signups.join(purchases, Seq("user_id"), "left")
      .select(col("user_id"),
        expr("signup_us div 1000000").as("signup_sec"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
        coalesce(col("purchase_value"), lit(0.0)).as("purchase_value"))
  }

  val eventsFunnelSql: String =
    s"""WITH ev AS (SELECT user_id, event_type, value,
         epoch_us(ts)::BIGINT AS us FROM events),
       s AS (SELECT user_id, min(us) AS signup_us FROM ev
             WHERE event_type = 'signup' GROUP BY user_id),
       p AS (SELECT ev.user_id, count(*) AS n_purchases,
               ${sqlR("sum(ev.value)", 2)} AS purchase_value
             FROM ev JOIN s ON ev.user_id = s.user_id
             WHERE ev.event_type = 'purchase'
               AND ev.us >= s.signup_us
               AND ev.us < s.signup_us + 604800000000::BIGINT
             GROUP BY ev.user_id)
       SELECT s.user_id, s.signup_us // 1000000 AS signup_sec,
         coalesce(p.n_purchases, 0) AS n_purchases,
         coalesce(p.purchase_value, 0.0) AS purchase_value
       FROM s LEFT JOIN p ON s.user_id = p.user_id"""

  /** Quartile assignment per event type by value (exact ntile
    * semantics — the bucketing the reference's describe()-quartiles
    * imply), aggregated so the output stays small.
    *
    * Scale shape: the textbook `ntile(4) OVER (PARTITION BY type)`
    * sorts each event_type partition on ONE reducer (5 types ⇒ 5
    * tasks carry everything; measured 119.9s at 100M rows). But the
    * aggregate per tile — count, min value, max value — depends only
    * on the per-(type, value) HISTOGRAM: tile row-counts are pure
    * rank arithmetic (sizes differ by ≤1, ties broken by event_id
    * never move a VALUE across a tile edge, they only pick which
    * equal-valued rows go where), and each histogram row overlaps a
    * tile iff its cumulative rank interval [cum−cnt+1, cum] meets the
    * tile's [rlo, rhi]. The 2-decimal value domain bounds the
    * histogram at 10⁴ rows per type forever (same quantized-value
    * license as [[graft.operators.Quantiles]]), so the plan is one
    * map-side-combined groupBy that SHRINKS to the histogram, a
    * cumsum window over the bounded histogram, and a 4-way explode —
    * no full-data sort anywhere. The rank arithmetic lives in the
    * reusable [[graft.operators.Quantiles.ntileBuckets]]; the oracle
    * keeps the literal ntile window, so the hash gate proves the
    * arithmetic reproduces ntile exactly. */
  def eventsQuartiles(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Quantiles
      .ntileBuckets(t(spark, dir, "events"), "value", 4, Seq("event_type"))
      .select(col("event_type"), col("tile").as("quartile"),
        col("n_rows").as("n"), r2(col("lo")).as("lo"),
        r2(col("hi")).as("hi"))

  val eventsQuartilesSql: String =
    s"""SELECT event_type, quartile, count(*) AS n,
       ${sqlR("min(value)", 2)} AS lo, ${sqlR("max(value)", 2)} AS hi
       FROM (SELECT event_type, value,
               ntile(4) OVER (PARTITION BY event_type
                 ORDER BY value, event_id) AS quartile
             FROM events)
       GROUP BY event_type, quartile"""

  /** JSON property extraction from the events `props` column
    * (semi-structured payload → typed column → aggregate) — the
    * stringified-JSON pattern the reference stores for OCR boxes
    * (DPF/filters/images/ocr_filter.py:147). */
  def eventsJson(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    t(spark, dir, "events")
      .withColumn("k",
        graft.functions.GraftFunctions.jsonLong(col("props"), "k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        r4(avg(col("k"))).as("avg_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
  }

  val eventsJsonSql: String =
    s"""SELECT event_type, count(*) AS n,
       ${sqlR("avg(json_extract(props, '$.k')::BIGINT)", 4)} AS avg_k,
       min(json_extract(props, '$$.k')::BIGINT) AS min_k,
       max(json_extract(props, '$$.k')::BIGINT) AS max_k
       FROM events GROUP BY event_type"""

  /** Top-5 users by spend per event type: two-level aggregation
    * (groupBy shuffles once on the compound key, the rank window
    * re-shuffles only the small aggregate). Ranking happens on the
    * ROUNDED sum so the order agrees across engines; user_id breaks
    * remaining ties totally. */
  def eventsTopkUsers(spark: SparkSession, dir: String): DataFrame = {
    val perUser = t(spark, dir, "events")
      .groupBy(col("event_type"), col("user_id"))
      .agg(r2(sum(col("value"))).as("user_value"), count(lit(1)).as("n"))
    // the rank runs on GroupTopK's bounded heaps: an event_type's
    // window partition is all-its-users-sized (millions at 100×) and
    // there are only ~5 event types, so the window plan funnels the
    // whole aggregate through 5 reducers; the heap plan exchanges
    // partitions·types·5 rows
    GroupTopK.topK(perUser, Seq("event_type"),
        Seq(("user_value", true), ("user_id", false)), k = 5)
      .select(col("event_type"), col("rk"), col("user_id"),
        col("user_value"), col("n"))
  }

  val eventsTopkUsersSql: String =
    s"""SELECT event_type, rk, user_id, user_value, n FROM (
         SELECT event_type, user_id,
           ${sqlR("sum(value)", 2)} AS user_value, count(*) AS n,
           row_number() OVER (PARTITION BY event_type
             ORDER BY ${sqlR("sum(value)", 2)} DESC, user_id) AS rk
         FROM events GROUP BY event_type, user_id)
       WHERE rk <= 5"""

  /** Latest-k events per user — the last-N-actions extraction every
    * feature/serving pipeline runs (recency features, replay
    * buffers): keep each user's [[LatestK]] most recent events. The
    * per-user rank partition is the user's FULL history —
    * heavy-tailed and unbounded at 100 TB — so the election runs on
    * [[GroupTopK]]'s bounded heaps (≤ k rows per user per task cross
    * the exchange), not a row_number window. Ordering is the
    * [[eventsCompact]] cross-engine convention: µs-truncated ts
    * desc, event_id desc. */
  def eventsLatestK(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
      .select(col("user_id"), expr("ts div 1000").as("us"),
        col("event_id"), col("event_type"), r2(col("value")).as("value"))
    GroupTopK.topK(ev, Seq("user_id"),
        Seq(("us", true), ("event_id", true)), k = LatestK)
      .select(col("user_id"), col("rk"), col("event_id"),
        expr("us div 1000000").as("event_sec"), col("event_type"),
        col("value"))
  }

  val LatestK = 3

  val eventsLatestKSql: String =
    s"""SELECT user_id, rk, event_id,
         (epoch_us(ts)::BIGINT // 1000000) AS event_sec,
         event_type, ${sqlR("value", 2)} AS value
       FROM (SELECT user_id, event_id, ts, event_type, value,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY epoch_us(ts)::BIGINT DESC, event_id DESC) AS rk
             FROM events)
       WHERE rk <= $LatestK"""

  /** As-of (point-in-time) join: each purchase attributed to the same
    * user's most recent STRICTLY PRIOR view. A self-join would shuffle
    * events twice and explode on hot users; the scalable plan is one
    * shuffle on user_id and a running ignore-nulls last() over the
    * ordered partition — O(n) per user, no pair blow-up at 100 TB. */
  def eventsAsofAttribution(spark: SparkSession, dir: String): DataFrame = {
    // order on the µs-TRUNCATED ts, not raw nanos: Spark reads ts as a
    // nano long while the oracle's epoch_us is µs, so two events in the
    // same microsecond must fall to the event_id tie-break on BOTH
    // sides or the attributed prior view can flip between engines
    val prior = Window.partitionBy(col("user_id"))
      .orderBy(expr("ts div 1000"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t(spark, dir, "events")
      .withColumn("us", expr("ts div 1000"))
      .withColumn("view_us",
        last(when(col("event_type") === "view", col("us")),
          ignoreNulls = true).over(prior))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        expr("us div 1000000").as("purchase_sec"),
        expr("view_us div 1000000").as("view_sec"),
        expr("(us - view_us) div 1000000").as("gap_sec"))
  }

  val eventsAsofSql: String =
    """WITH x AS (SELECT event_id, user_id, event_type,
         epoch_us(ts)::BIGINT AS us,
         last_value(CASE WHEN event_type = 'view'
             THEN epoch_us(ts)::BIGINT END IGNORE NULLS)
           OVER (PARTITION BY user_id
                 ORDER BY epoch_us(ts)::BIGINT, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS view_us
       FROM events)
       SELECT event_id, user_id, us // 1000000 AS purchase_sec,
         view_us // 1000000 AS view_sec,
         (us - view_us) // 1000000 AS gap_sec
       FROM x WHERE event_type = 'purchase'"""

  /** The reusable [[graft.operators.AsofJoin]] operator through the
    * oracle gate, checked against DuckDB's NATIVE `ASOF LEFT JOIN` —
    * purchases paired with the latest strictly-prior view, carrying
    * the view's id and time. Views are pre-aggregated to one row per
    * (user, µs) so the as-of winner is unique on every engine (a
    * same-instant tie has no defined winner in either). Both sides
    * pass µs-truncated times explicitly — the operator never sees
    * sub-µs nanos, so the engines order identically. */
  def eventsAsofJoinOp(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events").withColumn("us", expr("ts div 1000"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("us"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("us").as("view_us"), col("event_id"))
      .groupBy(col("user_id"), col("view_us"))
      .agg(max(col("event_id")).as("view_id"))
    graft.operators.AsofJoin
      .asofJoin(purchases, views, Seq("user_id"),
        leftTime = "us", rightTime = "view_us",
        payload = Seq("view_id", "view_us"), strict = true)
      .select(col("event_id"), col("user_id"),
        col("us").as("purchase_us"), col("view_id"), col("view_us"),
        (col("us") - col("view_us")).as("gap_us"))
  }

  val eventsAsofJoinOpSql: String =
    """WITH e AS (SELECT event_id, user_id, event_type,
         epoch_us(ts)::BIGINT AS us FROM events),
       p AS (SELECT event_id, user_id, us FROM e
             WHERE event_type = 'purchase'),
       v AS (SELECT user_id, us AS view_us, max(event_id) AS view_id
             FROM e WHERE event_type = 'view' GROUP BY user_id, us)
       SELECT p.event_id, p.user_id, p.us AS purchase_us,
         v.view_id, v.view_us, p.us - v.view_us AS gap_us
       FROM p ASOF LEFT JOIN v
         ON p.user_id = v.user_id AND v.view_us < p.us"""

  /** The reusable [[graft.operators.Quantiles]] operator through the
    * oracle gate: exact deciles/quartiles/median of the r2-rounded
    * event value — the bounded-histogram plan (the r2 quantization
    * caps the histogram, the cumulative sum is the only serial step)
    * against a DuckDB mirror of the same integer-rank definition. */
  def eventsValueQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val v = t(spark, dir, "events").select(r2(col("value")).as("v"))
    graft.operators.Quantiles.exactQuantiles(v, "v",
      Seq((1, 10), (1, 4), (1, 2), (3, 4), (9, 10)))
  }

  val eventsValueQuantilesSql: String = {
    val per = Seq((1, 10), (1, 4), (1, 2), (3, 4), (9, 10)).map {
      case (n, d) =>
        s"""SELECT $n AS q_num, $d AS q_den, min(v) AS value FROM c
           WHERE cum >= (total * $n + ${d - 1}) // $d"""
    }
    s"""WITH s AS (SELECT ${sqlR("value", 2)} AS v FROM events),
       h AS (SELECT v, count(*) AS n FROM s GROUP BY v),
       c AS (SELECT v, sum(n) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(n) OVER () AS total FROM h)
       ${per.mkString("\n UNION ALL ")}"""
  }

  /** Cohort retention: users grouped by first-seen day, distinct
    * actives per (cohort, day-offset). The cohort table is one row per
    * user (tiny next to the event log) — Catalyst/AQE broadcasts it
    * back onto the fact side, so the only full-data shuffle is the
    * final aggregate. Day index = epoch days (integer division of the
    * ns timestamp; no float time math). */
  def eventsRetention(spark: SparkSession, dir: String): DataFrame = {
    // distinct (user, day) FIRST: retention only consumes user-days,
    // so the raw event mass (events/user/day can be huge) collapses
    // map-side before anything joins — at the 1000× log this cut the
    // join input from 100M events to ~30M user-days AND turns the
    // final distinct-count into a plain count (pairs are unique by
    // construction, so no expand in the last aggregate)
    val ud = t(spark, dir, "events")
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
      .distinct()
      .persist()
    val cohorts = ud.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    ud.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_day"),
        (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** 7-day rolling daily-value stats per user — the RANGE-frame
    * window family (every other window in the catalog is ROWS/
    * cumulative): daily grain first (the usual 1000× row collapse —
    * at 100 TB the window runs over user-days, never raw events),
    * then `RANGE BETWEEN 6 PRECEDING AND CURRENT ROW` over the
    * integer day key, which spans calendar gaps the ROWS frame
    * cannot (a user absent 5 days contributes a 2-day window, not a
    * 7-row one). Sums stay in integer CENTS end to end, so the
    * rolling aggregate is bit-exact on both engines regardless of
    * float summation order.
    *
    * ONE exchange serves both steps — MEASURED (NOTES.md, round-5
    * work log: 100M events, checksum-equal plans): hash(user_id)
    * satisfies the (user_id, day) grouping's clustered-distribution
    * requirement AND the window's partitionBy(user_id), so an
    * explicit repartition on user_id lets the grain aggregate and the
    * window share it — 21.7s vs 50.8s for the naive groupBy-then-window
    * double exchange (the grain barely collapses at ~1 event/user/
    * day, so the second grain-sized shuffle was nearly a full
    * re-shuffle). */
  def eventsRolling(spark: SparkSession, dir: String): DataFrame = {
    val daily = t(spark, dir, "events")
      .repartition(col("user_id"))
      .groupBy(col("user_id"),
        expr("ts div 86400000000000").as("day"))
      .agg(sum(expr("cast(round(value * 100) as long)")).as("day_cents"),
        count(lit(1)).as("n_events"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rangeBetween(-6, 0)
    daily
      .withColumn("roll_cents", sum(col("day_cents")).over(w))
      .withColumn("n_days7", count(lit(1)).over(w))
      .select(col("user_id"), col("day"), col("day_cents"),
        col("n_events"), col("roll_cents"), col("n_days7"))
  }

  val eventsRollingSql: String =
    """WITH daily AS (SELECT user_id,
         epoch_us(ts)::BIGINT // 86400000000 AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS day_cents,
         count(*)::BIGINT AS n_events
       FROM events GROUP BY 1, 2)
       SELECT user_id, day, day_cents, n_events,
         CAST(sum(day_cents) OVER w AS BIGINT) AS roll_cents,
         count(*) OVER w AS n_days7
       FROM daily
       WINDOW w AS (PARTITION BY user_id ORDER BY day
         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)"""

  val eventsRetentionSql: String =
    """WITH ev AS (SELECT user_id,
         epoch_us(ts)::BIGINT // 86400000000 AS day FROM events),
       c AS (SELECT user_id, min(day) AS cohort_day FROM ev
             GROUP BY user_id)
       SELECT c.cohort_day, ev.day - c.cohort_day AS day_offset,
         count(DISTINCT ev.user_id) AS n_users
       FROM ev JOIN c ON ev.user_id = c.user_id
       GROUP BY 1, 2"""

  /** Quartile COUNTS via percentile boundaries — the distributed
    * twin of [[eventsQuartiles]]'s exact ntile: boundaries come from
    * one aggregate (tiny), then bucketing is a broadcast-joined
    * per-row map — no single-reducer per-type sort, so this is the
    * shape that survives when one event_type holds 10¹⁰ rows.
    * Boundaries are epsilon-rounded before comparison so the bucket
    * edges agree across engines. Counts differ from ntile's
    * equal-size quartiles exactly at boundary ties — that is the
    * documented semantic trade of the scalable form. (The boundary
    * aggregate uses EXACT percentile for oracle reproducibility —
    * it buffers per group; at 100 TB swap in approx_percentile,
    * whose KLL sketch merges map-side, and the bucketing map is
    * unchanged.) */
  def eventsValueBuckets(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events").select(col("event_type"), col("value"))
    val bounds = ev.groupBy(col("event_type")).agg(
      r6(expr("percentile(value, 0.25)")).as("p25"),
      r6(expr("percentile(value, 0.5)")).as("p50"),
      r6(expr("percentile(value, 0.75)")).as("p75"))
    ev.join(broadcast(bounds), Seq("event_type"))
      .withColumn("bucket",
        when(col("value") <= col("p25"), 1)
          .when(col("value") <= col("p50"), 2)
          .when(col("value") <= col("p75"), 3)
          .otherwise(4))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"), r2(sum(col("value"))).as("sum_value"))
  }

  val eventsValueBucketsSql: String =
    s"""WITH b AS (SELECT event_type,
         ${sqlR("quantile_cont(value, 0.25)", 6)} AS p25,
         ${sqlR("quantile_cont(value, 0.5)", 6)} AS p50,
         ${sqlR("quantile_cont(value, 0.75)", 6)} AS p75
       FROM events GROUP BY event_type)
       SELECT e.event_type,
         CASE WHEN e.value <= b.p25 THEN 1
              WHEN e.value <= b.p50 THEN 2
              WHEN e.value <= b.p75 THEN 3
              ELSE 4 END AS bucket,
         count(*) AS n, ${sqlR("sum(e.value)", 2)} AS sum_value
       FROM events e JOIN b ON e.event_type = b.event_type
       GROUP BY 1, 2"""

  /** Resample to a regular hourly grid with forward fill: per event
    * type, every hour from that type's first to last event — gaps get
    * `n_events = 0`, a null `sum_value`, and `ffill_value` carrying
    * the last observed hourly sum forward (the standard
    * time-series regularization before sequence models).
    *
    * Scale shape: the raw events collapse to the hourly grain FIRST
    * (one shuffle, map-side partial agg); the per-type span explode
    * and the forward-fill window then run on the RESAMPLED grain —
    * rows per type = span hours (a decade ≈ 88k rows), so the
    * per-type window reducer is bounded no matter how many raw events
    * feed it. For multi-year spans × millions of types, partition the
    * fill by (type, day) and carry the last value across day
    * boundaries with a second tiny window over the per-day tails. */
  def eventsGapFill(spark: SparkSession, dir: String): DataFrame = {
    val hour = expr("((ts div 1000000000) div 3600) * 3600")
    // persisted: the grid-span branch AND the join branch both read
    // the hourly grain — without the persist each one re-scans and
    // re-aggregates the RAW events (different shuffle keys, so AQE
    // stage reuse cannot merge them)
    val hourly = t(spark, dir, "events")
      .groupBy(col("event_type"), hour.as("hour"))
      .agg(count(lit(1)).as("n_events"), r2(sum(col("value"))).as("sum_value"))
      .persist()
    val grid = hourly.groupBy(col("event_type"))
      .agg(min(col("hour")).as("lo"), max(col("hour")).as("hi"))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), lit(3600L))).as("hour"))
    val fill = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("event_type", "hour"), "left")
      .select(col("event_type"), col("hour"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("sum_value"),
        last(col("sum_value"), ignoreNulls = true).over(fill)
          .as("ffill_value"))
  }

  val eventsGapFillSql: String =
    s"""WITH hourly AS (
         SELECT event_type,
           floor(epoch(time_bucket(INTERVAL '1 hour', ts)))::BIGINT AS hour,
           count(*) AS n_events, ${sqlR("sum(value)", 2)} AS sum_value
         FROM events GROUP BY 1, 2),
       grid AS (
         SELECT event_type, unnest(range(lo, hi + 3600, 3600)) AS hour
         FROM (SELECT event_type, min(hour) AS lo, max(hour) AS hi
               FROM hourly GROUP BY 1))
       SELECT g.event_type, g.hour,
         coalesce(h.n_events, 0)::BIGINT AS n_events,
         h.sum_value AS sum_value,
         last_value(h.sum_value IGNORE NULLS) OVER (
           PARTITION BY g.event_type ORDER BY g.hour
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_value
       FROM grid g LEFT JOIN hourly h
         ON g.event_type = h.event_type AND g.hour = h.hour"""

  /** Hourly unique users per event type — the distinct-aggregate
    * shape: Spark rewrites `count(DISTINCT user_id)` into two
    * aggregate levels (partial dedup on (hour, type, user) with
    * map-side combine, then count on (hour, type)), so the distinct
    * set never materializes per-group on one reducer; both shuffles
    * carry pre-combined rows. At corpora where exact uniques stop
    * being affordable, the drop-in relaxation is
    * `approx_count_distinct` (HLL++, mergeable) — not
    * oracle-checkable bit-for-bit, hence the exact form here. */
  def eventsHourlyUsers(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(expr("((ts div 1000000000) div 3600) * 3600").as("hour"),
        col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))

  val eventsHourlyUsersSql: String =
    """SELECT floor(epoch(time_bucket(INTERVAL '1 hour', ts)))::BIGINT
         AS hour, event_type,
         count(DISTINCT user_id) AS n_users, count(*) AS n_events
       FROM events GROUP BY 1, 2"""

  /** Distinct users per event type via the deterministic HLL sketch
    * ([[graft.operators.HllSketch]]) side-by-side with the exact
    * count — the quality dial of the sketch relaxation noted at
    * [[eventsHourlyUsers]]. `z_int` (the exact integer harmonic sum)
    * is in the output on purpose: the hash gate on it pins every one
    * of the 256 registers, not just the rounded estimate.
    *
    * Scale shape: register derivation is a map + one partially
    * aggregated max down to ≤ types·256 cells per task; the exact
    * side is the two-level distinct rewrite. At 100 TB the exact side
    * is the expensive half — the sketch column is what a monitoring
    * pipeline would keep. */
  def eventsHllUsers(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.HllSketch
    val ev = t(spark, dir, "events")
    val est = HllSketch.estimate(
        HllSketch.registers(ev, col("event_type"),
          col("user_id").cast("string")))
      .withColumnRenamed("key", "event_type")
      .withColumnRenamed("est_distinct", "est_users")
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    est.join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_present"), col("z_int"),
        col("est_users"), col("exact_users"))
  }

  val eventsHllUsersSql: String = {
    import graft.operators.HllSketch.{AlphaZ, SmallRangeCeiling}
    s"""WITH h AS (SELECT event_type,
           CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
             AS BIGINT) AS h
         FROM events WHERE user_id IS NOT NULL),
       b AS (SELECT event_type, h >> 52 AS bucket,
               h & 4503599627370495 AS w FROM h),
       r AS (SELECT event_type, bucket,
               CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END AS rho
             FROM b),
       regs AS (SELECT event_type, bucket, max(rho) AS mj
                FROM r GROUP BY 1, 2),
       z AS (SELECT event_type, count(*)::BIGINT AS n_present,
               CAST(sum(1::BIGINT << (53 - mj)) AS BIGINT)
                 + (256 - count(*)) * (1::BIGINT << 53) AS z_int
             FROM regs GROUP BY 1),
       ex AS (SELECT event_type, count(DISTINCT user_id)::BIGINT
                AS exact_users FROM events GROUP BY 1)
       SELECT z.event_type, n_present, z_int,
         ${sqlR(
        s"""CASE WHEN $AlphaZ / z_int <= $SmallRangeCeiling
                  AND n_present < 256
            THEN 256.0 * ln(256.0 / (256 - n_present))
            ELSE $AlphaZ / z_int END""", 6)} AS est_users,
         exact_users
       FROM z JOIN ex ON z.event_type = ex.event_type"""
  }

  val queries: Map[String, Q] = Map(
    "q_events_hll_users" -> (eventsHllUsers _),
    "q_events_hourly_users" -> (eventsHourlyUsers _),
    "q_events_gapfill" -> (eventsGapFill _),
    "q_asof_join" -> (eventsAsofJoinOp _),
    "q_value_quantiles" -> (eventsValueQuantiles _),
    "q_events_value_buckets" -> (eventsValueBuckets _),
    "q_events_topk_users" -> (eventsTopkUsers _),
    "q_events_latest_k" -> (eventsLatestK _),
    "q_events_asof" -> (eventsAsofAttribution _),
    "q_events_retention" -> (eventsRetention _),
    "q_events_rolling" -> (eventsRolling _),
    "q_events_json" -> (eventsJson _),
    "q_events_funnel" -> (eventsFunnel _),
    "q_events_quartiles" -> (eventsQuartiles _),
    "q_events_hourly" -> (eventsHourly _),
    "q_events_anomaly" -> (eventsAnomaly _),
    "q_events_compact" -> (eventsCompact _),
    "q_events_sessionize" -> (eventsSessionize _),
    "q_events_session_window" -> (eventsSessionWindow _),
    "q_events_pivot" -> (eventsPivot _),
  )

  val oracles: Map[String, String] = Map(
    "q_events_hll_users" -> eventsHllUsersSql,
    "q_events_hourly_users" -> eventsHourlyUsersSql,
    "q_events_gapfill" -> eventsGapFillSql,
    "q_asof_join" -> eventsAsofJoinOpSql,
    "q_value_quantiles" -> eventsValueQuantilesSql,
    "q_events_value_buckets" -> eventsValueBucketsSql,
    "q_events_topk_users" -> eventsTopkUsersSql,
    "q_events_latest_k" -> eventsLatestKSql,
    "q_events_asof" -> eventsAsofSql,
    "q_events_retention" -> eventsRetentionSql,
    "q_events_rolling" -> eventsRollingSql,
    "q_events_json" -> eventsJsonSql,
    "q_events_funnel" -> eventsFunnelSql,
    "q_events_quartiles" -> eventsQuartilesSql,
    "q_events_hourly" -> eventsHourlySql,
    "q_events_anomaly" -> eventsAnomalySql,
    "q_events_compact" -> eventsCompactSql,
    "q_events_sessionize" -> eventsSessionizeSql,
    "q_events_session_window" -> eventsSessionWindowSql,
    "q_events_pivot" -> eventsPivotSql,
  )
}
