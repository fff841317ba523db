package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Exact all-pairs cosine over shingles (Dedup.allpairsCosine): the
  * prefix-filtered plan must be exactly the unpruned truth (the
  * catalog oracle proves this cross-engine; here we pin it in-JVM on
  * a controlled corpus), the integer gate must agree with the float
  * cosine, and the pruning must actually prune. */
class AllPairsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("gram sizing follows the V^K >> N rule at the measured decades") {
    // 31-word vocab: ~18M gram instances at 100x -> K=5 suffices;
    // ~178M at 1000x -> K=6; tiny corpora need tiny K
    assert(Dedup.allPairsGramSizing(18000000L, 31) == 5)
    assert(Dedup.allPairsGramSizing(178000000L, 31) == 6)
    assert(Dedup.allPairsGramSizing(25000L, 31) == 3)
    assert(Dedup.allPairsGramSizing(100L, 31) == 2)
    // Heaps-law vocab (1M words): K=2 covers a billion instances
    assert(Dedup.allPairsGramSizing(1000000000L, 1000000L) == 2)
  }

  test("both candidate doc lists broadcast under the prefix-posting cap") {
    val plan = Dedup.allpairsCosine(spark, sf).queryExecution.optimizedPlan
      .toString
    assert("Join LeftSemi[^\n]*rightHint=\\(strategy=broadcast\\)".r
      .findAllIn(plan).size == 2, plan)
  }

  test("pairs found on testdata satisfy the threshold exactly") {
    val out = Dedup.allpairsCosine(spark, sf).collect()
    out.foreach { r =>
      val dot = r.getAs[Long]("dot")
      val na = r.getAs[Long]("na")
      val nb = r.getAs[Long]("nb")
      assert(25L * dot * dot >= 16L * na * nb,
        s"integer gate violated: $r")
      val cos = r.getAs[Double]("cos")
      assert(cos >= 0.8 - 1e-6 && cos <= 1.0 + 1e-6, s"cos out of band: $r")
      assert(math.abs(cos - dot / math.sqrt(na.toDouble * nb)) < 2e-6)
    }
  }

  test("controlled corpus: near-identical pair found, disjoint pair not") {
    val dir = java.nio.file.Files.createTempDirectory("allpairs").toString
    import spark.implicits._
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    Seq(
      (1L, base),
      (2L, base + " tailword"), // one extra shingle: cos ≈ 0.97
      (3L, (100 to 140).map(i => s"x$i").mkString(" ")), // disjoint
      (4L, (1 to 10).map(i => s"w$i").mkString(" ")) // 25% overlap with 1
    ).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val got = Dedup.allpairsCosine(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)))
  }

  test("prefix pruning is lossless and strictly prunes on testdata") {
    // recompute the truth with a brute-force (unpruned) join and
    // compare pair sets; also check the candidate economy claim by
    // counting docs sharing any shingle vs emitted pairs
    graft.functions.GraftFunctions.register(spark)
    val tf = Tables.t(spark, sf, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(graft.functions.GraftFunctions.wordGramHashes(col("text"),
          Dedup.AllPairsGramK)).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val norms = tf.groupBy("doc_id").agg(sum(col("tf") * col("tf")).as("n2"))
    val brute = tf.as("a")
      .join(tf.as("b"),
        col("a.term") === col("b.term") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(sum(col("a.tf") * col("b.tf")).as("dot"))
      .join(norms.select(col("doc_id").as("doc_a"), col("n2").as("na")), "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("n2").as("nb")), "doc_b")
    val truth = brute
      .filter(lit(25L) * col("dot") * col("dot") >= lit(16L) * col("na") * col("nb"))
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sharing = brute.count()
    val got = Dedup.allpairsCosine(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == truth, "prefix filtering changed the answer")
    assert(truth.size < sharing,
      "fixture too small: every sharing pair is a true pair")
  }
}
