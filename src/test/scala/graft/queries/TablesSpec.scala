package graft.queries

import java.nio.file.Files

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
}
