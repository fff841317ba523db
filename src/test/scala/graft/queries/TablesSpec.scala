package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.SparkSpec

class TablesSpec extends SparkSpec {
  import spark.implicits._

  test("a table regenerated at the same file: URI path is read with " +
      "its new schema, not the cached one") {
    val sf = "file:" + Files.createTempDirectory("graft-tables").toString
    Seq((1L, "a")).toDF("doc_id", "text")
      .write.parquet(s"$sf/documents.parquet")
    assert(Tables.t(spark, sf, "documents").columns.toSeq ==
      Seq("doc_id", "text"))

    Seq((1L, "a", 0.5), (2L, "b", 0.25)).toDF("doc_id", "text", "score")
      .write.mode("overwrite").parquet(s"$sf/documents.parquet")
    val again = Tables.t(spark, sf, "documents")
    assert(again.columns.toSeq == Seq("doc_id", "text", "score"))
    assert(again.count() == 2)
  }

  test("regenerating one path replaces its schema-cache entry instead " +
      "of adding a key per generation") {
    val sf = "file:" + Files.createTempDirectory("graft-tables").toString
    val before = Tables.schemaCacheSize
    Seq(Seq("doc_id"), Seq("doc_id", "a"), Seq("doc_id", "a", "b"))
      .foreach { cols =>
        spark.range(1).select(cols.map(col("id").as(_)): _*)
          .write.mode("overwrite").parquet(s"$sf/documents.parquet")
        assert(Tables.t(spark, sf, "documents").columns.toSeq == cols)
      }
    assert(Tables.schemaCacheSize == before + 1)
  }
}
