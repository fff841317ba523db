package graft.functions.expressions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Bloom-filter build aggregate: folds a pre-hashed 60-bit key column
  * into a fixed `words × bitsPerWord` bit array by double hashing
  * (`pos_i = (h mod m) + i·(1 + (h div m) mod (m−1)) mod m`,
  * word = pos div bitsPerWord, bit = pos mod bitsPerWord — the exact
  * arithmetic the DuckDB oracle mirrors symbolically).
  *
  * One update = k bit-sets into a long[] buffer; the declarative
  * formulation (one `bit_or` aggregate per word over per-row CASE
  * contributions) pays words·k CASE evaluations per row — measured
  * 3× slower end-to-end at 100M rows (154 s → 49 s). Merge is a
  * word-wise OR, so map-side combine ships words+0 longs per group
  * per partition. Only bits below `bitsPerWord ≤ 62` are ever set:
  * words stay non-negative, avoiding sign-bit divergence between
  * Java and SQL engines.
  *
  * The hash DIE feeding this aggregate is the caller's choice: the
  * catalog uses the md5-based hash60 so the DuckDB oracle can mirror
  * it; NOTES.md (round-6 continuation, third session) records the
  * die as second-order at 100M rows (xxhash64 22.9 s vs md5 23.9 s
  * JIT-warm — the per-group buffer aggregation dominates), so there
  * is no production reason to leave the oracle-friendly die. */
case class BloomOrAgg(
    child: Expression,
    words: Int,
    bitsPerWord: Int,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  require(words > 0 && words <= 1024, s"bloom_or_agg: bad words=$words")
  require(bitsPerWord > 0 && bitsPerWord <= 62,
    s"bloom_or_agg: bitsPerWord must be in [1, 62], got $bitsPerWord")
  require(k > 0 && k <= 16, s"bloom_or_agg: bad k=$k")
  // m = 1 would make the double-hash stride `(h div m) % (m − 1)` a
  // divide-by-zero deep inside update(); reject the degenerate
  // geometry at construction time
  require(words.toLong * bitsPerWord >= 2,
    s"bloom_or_agg: need words*bitsPerWord >= 2, got $words*$bitsPerWord")

  private val m: Long = words.toLong * bitsPerWord

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bloom_or_agg requires a bigint hash column, got ${other.simpleString}")
  }

  override def createAggregationBuffer(): Array[Long] = new Array[Long](words)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      require(h >= 0, s"bloom_or_agg: negative hash $h — feed the 60-bit die")
      val h1 = h % m
      val h2 = 1L + (h / m) % (m - 1L)
      var i = 0
      while (i < k) {
        val pos = (h1 + i * h2) % m
        buf((pos / bitsPerWord).toInt) |= 1L << (pos % bitsPerWord).toInt
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < words) { buf(i) |= other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf.clone())

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(words * 8)
    val out = new DataOutputStream(bos)
    var i = 0
    while (i < words) { out.writeLong(buf(i)); i += 1 }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new Array[Long](words)
    var i = 0
    while (i < words) { buf(i) = in.readLong(); i += 1 }
    buf
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "bloom_or_agg"

  override def withNewMutableAggBufferOffset(off: Int): BloomOrAgg =
    copy(mutableAggBufferOffset = off)
  override def withNewInputAggBufferOffset(off: Int): BloomOrAgg =
    copy(inputAggBufferOffset = off)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BloomOrAgg =
    copy(child = newChildren.head)
}
