package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Parquet table access for the driver's synthetic testdata
  * (TESTDATA.md): one parquet file per table under the sf dir. */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Spread a compute-heavy stage across all cores: small tables
    * arrive as one input split (one small parquet file ⇒ one task),
    * which serializes expensive per-row work like sketching. The
    * narrow round-robin exchange costs ~nothing on metadata-sized
    * rows and unlocks full parallelism; at production scale the scan
    * has many splits and this becomes a no-op knob. */
  def fanOut(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Inferred SCHEMA per source-table path, cached for the JVM's
    * lifetime: parquet schema inference runs a one-task Spark job per
    * `spark.read.parquet` call, and a catalog pass re-infers the same
    * immutable testdata footers hundreds of times (measured ~30-60 ms
    * per read). This caches METADATA only — never rows, never results
    * — the exact class of cache a catalog/metastore provides for real
    * tables and Spark itself provides for file listings. One entry
    * per path, stamped with the (mtime, length) it was inferred at. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      (Long, Long, org.apache.spark.sql.types.StructType)]()

  private[queries] def schemaCacheSize: Int = schemaCache.size

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // events.ts has shipped as TIMESTAMP(NANOS) in some testdata
    // generations (which Spark 4 rejects unless read as a long) and as
    // TIMESTAMP(MICROS) in others. nanosAsLong covers the former;
    // normalizeEventTs below folds every variant to one contract.
    if (!spark.conf.getOption(NanosAsLong).contains("true"))
      spark.conf.set(NanosAsLong, "true")
    val path = s"$sfDir/$name.parquet"
    // A regenerated dataset at the same path (new mtime or length)
    // re-infers and replaces its entry, so the cache never reads with
    // a stale shape and holds one entry per path. One stat on the
    // path's own filesystem per call (so `file:` URIs and remote paths
    // are checked too) — far cheaper than the one-task inference job
    // it avoids.
    val p = new org.apache.hadoop.fs.Path(path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p)
    val (mtime, len) = (st.getModificationTime, st.getLen)
    val (_, _, schema) = schemaCache.compute(path, (_, cur) =>
      if (cur != null && cur._1 == mtime && cur._2 == len) cur
      else (mtime, len, spark.read.parquet(path).schema))
    val df = spark.read.schema(schema).parquet(path)
    if (name == "events") normalizeEventTs(df) else df
  }

  /** Materialize a BOUNDED result (round-trip queries return one-row
    * fingerprints or ≤ probe-limit rows) and delete the temp dir its
    * plan reads from: without this every bench/oracle invocation of a
    * round-trip query leaks a corpus-sized copy on disk. The collect
    * is capped at 10,000 rows: these results are aggregate-scale, and
    * a larger one fails by name before it reaches the driver. */
  def sealTempResult(spark: SparkSession, df: DataFrame,
      tmpDir: String): DataFrame = {
    val rows = graft.operators.DriverGate.collectAtMost(df, 10000)
      .getOrElse(throw new IllegalArgumentException(
        "sealTempResult: unbounded result (over 10000 rows) — " +
          "this helper is for fingerprint/probe-scale outputs only"))
    val schema = df.schema
    val p = new org.apache.hadoop.fs.Path(tmpDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true)
    spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(rows: _*)), schema)
  }

  /** All event-time queries (and their DuckDB oracles, via
    * `epoch_us(ts)`) assume `ts` is a nanosecond-epoch LONG — integer
    * arithmetic only, because ns magnitudes overflow double precision.
    * Testdata generations differ: TIMESTAMP(NANOS) parquet arrives as
    * that long directly (nanosAsLong), TIMESTAMP(MICROS) arrives as
    * TIMESTAMP_NTZ/TIMESTAMP. Fold the timestamp variants to the same
    * ns-epoch long; sessions run with spark.sql.session.timeZone=UTC,
    * so the NTZ wall-clock reinterpretation is the identity and
    * matches DuckDB's naive-as-UTC `epoch_us`. */
  private def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df
      case TimestampNTZType =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case TimestampType =>
        df.withColumn("ts", unix_micros(col("ts")) * 1000L)
      case other =>
        throw new IllegalArgumentException(
          s"events.ts: expected long or timestamp, got $other")
    }
}
