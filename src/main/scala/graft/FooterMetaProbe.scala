package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev probe: driver-side footer metadata reads must stay ~flat as a
  * commit's file count grows 10× (round-8 verdict item 4 — a 100 TB
  * compaction lands thousands of bins; a serial footer loop would
  * serialize thousands of metadata opens). Builds stats-keyed tables
  * whose base lands in N files, then times [[TableLog.footerStats]]
  * over the live set directly — the exact code path `writeData` and
  * `compact` pay per commit.
  *
  * Usage: `graft.queries.FooterMetaProbe [sfDir]`. Lives in the
  * queries package for access to the package-private footer path.
  */
object FooterMetaProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master(
        s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .appName("footer-meta-probe")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def sweep(nFiles: Int): Unit = {
      val out = java.nio.file.Files
        .createTempDirectory(s"graft_footer_$nFiles").toString
      TableLog.writeBase(spark,
        Tables.t(spark, dir, "documents")
          .select(col("doc_id"), col("n_chars"))
          .repartition(nFiles),
        out, statsKey = Some("doc_id"))
      val rels = TableLog.liveFiles(spark, out)
      // warm the page cache identically for both sweep points, then
      // time the metadata pass alone
      TableLog.footerStats(spark, out, rels, "doc_id")
      val reps = 5
      val t0 = System.nanoTime()
      var got = 0
      (0 until reps).foreach { _ =>
        val st = TableLog.footerStats(spark, out, rels, "doc_id")
        require(st.exists(_.forall(_.keyRange.isDefined)),
          "footer fast path refused — probe table should always answer")
        got = st.get.size
      }
      val dt = (System.nanoTime() - t0) / 1e9 / reps
      // serial contrast: the same opens one-by-one (what the pre-
      // parallel code path paid per commit)
      val conf = spark.sparkContext.hadoopConfiguration
      val fs0 = TableLog.fsOf(spark, out)
      val t1 = System.nanoTime()
      rels.foreach { rel =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            fs0.makeQualified(new org.apache.hadoop.fs.Path(
              s"$out/$rel")), conf))
        try r.getFooter.getBlocks.size finally r.close()
      }
      val ds = (System.nanoTime() - t1) / 1e9
      println(f"files=${rels.size}%5d  footerStats=$dt%8.4f s/pass  " +
        f"serial-open=$ds%8.4f s  (entries=$got)")
      val fs = TableLog.fsOf(spark, out)
      fs.delete(new org.apache.hadoop.fs.Path(out), true)
    }
    sweep(40)
    sweep(400)
    spark.stop()
  }
}
