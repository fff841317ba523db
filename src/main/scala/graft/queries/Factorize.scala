package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Num._

/** Matrix-factorization training step over the user×item interaction
  * matrix (events: user_id × props.k, rating = interaction count) —
  * the ALS shape every embedding/recsys pipeline runs.
  *
  * One ALS half-step at rank 2 with the item side fixed: each user's
  * normal equations `(Σ iᵢiᵢᵀ + λI) u = Σ rᵢiᵢ` are ACCUMULATED BY
  * AGGREGATION (five running sums per user — a11, a12, a22, b1, b2)
  * and solved in closed form by Cramer's rule. This is the real
  * distributed-ALS data flow: the per-user solve state is O(rank²),
  * the corpus contributes through one groupBy, and nothing iterates
  * row-at-a-time on the driver. Rank 2 keeps the solve expressible in
  * the SQL oracle (a 2×2 inverse is four arithmetic expressions);
  * production rank-r swaps Cramer for a per-user Cholesky inside the
  * same aggregation shape.
  *
  * Item factors are a fixed deterministic integer-hash init (exact in
  * both engines), matching the "solve one side against a frozen
  * other side" definition of an ALS half-step.
  *
  * Scale shape: shuffle 1 = groupBy (user, item) count (map-side
  * combined); shuffle 2 = the five-sum groupBy (user) — both keyed,
  * both partial-aggregated; the item factors are inline integer
  * expressions, so no join and nothing broadcast. At 100 TB this is
  * two bounded exchanges over (user, item) grain and user grain.
  */
object Factorize {
  import Tables.t

  type Q = (SparkSession, String) => DataFrame

  val Lambda = 0.1

  /** Deterministic rank-2 item factors from the item id (integer mod,
    * then ONE double division — bit-identical cross-engine). The
    * divisor is spelled CAST(.. AS DOUBLE) because a bare `19.0`
    * parses as DECIMAL(3,1) in Spark SQL (decimal division truncates
    * at a different scale) but as DOUBLE in DuckDB — a 1e-6-level
    * cross-engine divergence that the hash gate caught. */
  private def f1(k: String) =
    s"((($k * 31 + 7) % 19) / CAST(19.0 AS DOUBLE) - 0.5)"
  private def f2(k: String) =
    s"((($k * 17 + 3) % 23) / CAST(23.0 AS DOUBLE) - 0.5)"

  def alsStep(spark: SparkSession, dir: String): DataFrame = {
    // native byte-scan extraction (json_long): at 100M events the
    // JSON parse IS the query's constant — the two exchanges are
    // already map-side combined — and NOTES.md (round-7 work log)
    // records the Jackson paths (get_json_object 6.5 s, from_json
    // 6.9 s at 10M rows) against 1.7 s with the scan (whole pipeline)
    graft.functions.GraftFunctions.register(spark)
    val ratings = t(spark, dir, "events")
      .select(col("user_id"),
        graft.functions.GraftFunctions.jsonLong(col("props"), "k").as("k"))
      .filter(col("k").isNotNull)
      .groupBy(col("user_id"), col("k"))
      .agg(count(lit(1)).as("r"))
    val feats = ratings
      .withColumn("f1", expr(f1("k")))
      .withColumn("f2", expr(f2("k")))
    val eqs = feats.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("f1") * col("f1")).as("a11"),
        sum(col("f1") * col("f2")).as("a12"),
        sum(col("f2") * col("f2")).as("a22"),
        sum(col("r") * col("f1")).as("b1"),
        sum(col("r") * col("f2")).as("b2"))
    val det = (col("a11") + Lambda) * (col("a22") + Lambda) -
      col("a12") * col("a12")
    eqs.select(col("user_id"), col("n_items"),
      r6((col("b1") * (col("a22") + Lambda) - col("b2") * col("a12")) / det)
        .as("u1"),
      r6(((col("a11") + Lambda) * col("b2") - col("a12") * col("b1")) / det)
        .as("u2"))
  }

  val alsStepSql: String =
    s"""WITH r AS (SELECT user_id, json_extract(props, '$$.k')::BIGINT AS k,
             count(*)::BIGINT AS r
           FROM events WHERE json_extract(props, '$$.k') IS NOT NULL
           GROUP BY 1, 2),
       f AS (SELECT user_id, r, ${f1("k")} AS f1, ${f2("k")} AS f2 FROM r),
       a AS (SELECT user_id, count(*)::BIGINT AS n_items,
               sum(f1 * f1) AS a11, sum(f1 * f2) AS a12,
               sum(f2 * f2) AS a22, sum(r * f1) AS b1, sum(r * f2) AS b2
             FROM f GROUP BY 1)
       SELECT user_id, n_items,
         ${sqlR(
      s"(b1 * (a22 + $Lambda) - b2 * a12) / ((a11 + $Lambda) * (a22 + $Lambda) - a12 * a12)",
      6)} AS u1,
         ${sqlR(
      s"((a11 + $Lambda) * b2 - a12 * b1) / ((a11 + $Lambda) * (a22 + $Lambda) - a12 * a12)",
      6)} AS u2
       FROM a"""

  val queries: Map[String, Q] = Map(
    "q_als_step" -> (alsStep _),
  )

  val oracles: Map[String, String] = Map(
    "q_als_step" -> alsStepSql,
  )
}
