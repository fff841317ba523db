package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd extraction of ONE top-level integer field from a
  * JSON object column — the `get_json_object(props, '$.k')
  * .cast("long")` hot path, without a Jackson parse per row.
  *
  * Motivation (NOTES.md, round-7 work log: 10M rows, warm): the
  * full ALS pipeline costs 1.3 s with extraction stubbed out and
  * 6.8 s with get_json_object —
  * the general-purpose JSON parser IS ~80% of q_als_step and the
  * event-graph queries, and `from_json` with a one-field schema is
  * no better (7.7 s). This expression scans the UTF8String bytes
  * directly: skip strings (escape-aware), skip nested values by
  * bracket depth, compare the top-level key bytes, parse the integer
  * in place. No allocation, no char decoding (JSON structure is pure
  * ASCII; multi-byte UTF-8 only occurs inside strings, which are
  * skipped byte-wise).
  *
  * Semantics — documented subset of `get_json_object(j,'$.key')
  * .cast("long")`, identical wherever the field is an integer-valued
  * JSON number (the parity property spec pins this):
  *   - missing key, malformed JSON, non-object root → null
  *   - value is a float, string, bool, null, object, or array → null
  *     (get_json_object + cast would coerce a quoted "123"; a pipeline
  *     wanting that coercion should use the general function)
  *   - integer out of long range → null
  *   - first occurrence wins on duplicate keys (as Jackson streaming)
  *   - keys containing escape sequences are compared RAW (un-unescaped)
  *   - JSON-invalid numbers and structure are rejected like Jackson:
  *     leading zeros ("007"), a second token after the value
  *     ({"k":1 2}), an empty value ({"a":,…}), truncation → null
  */
case class JsonLongField(child: Expression, key: String)
    extends UnaryExpression {

  // absent/ill-typed fields yield null even for a non-null json input
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"json_long requires a string column, got $t")
    }

  override def dataType: DataType = LongType

  override def prettyName: String = "json_long"

  @transient private lazy val keyU: UTF8String = UTF8String.fromString(key)

  override def nullSafeEval(input: Any): Any =
    JsonScan.extract(input.asInstanceOf[UTF8String], keyU)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val keyRef = ctx.addReferenceObj("jsonLongKey", keyU,
      classOf[UTF8String].getName)
    nullSafeCodeGen(ctx, ev, j => {
      val r = ctx.freshName("jl")
      s"""
      java.lang.Long $r =
        graft.functions.expressions.JsonScan.extract($j, $keyRef);
      if ($r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = $r.longValue(); }
      """
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): JsonLongField = copy(child = newChild)
}

/** The byte-level scanner behind [[JsonLongField]]. Kept as a plain
  * object so codegen can call the static forwarder
  * `JsonScan.extract(...)` from generated Java. */
object JsonScan {

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r'

  private def skipWs(j: UTF8String, from: Int, n: Int): Int = {
    var i = from
    while (i < n && isWs(j.getByte(i))) i += 1
    i
  }

  /** `pos` is the opening quote; returns the index AFTER the closing
    * quote, or -1 if unterminated. Backslash escapes are honored;
    * multi-byte UTF-8 continuation bytes are negative as Java bytes
    * and never collide with '"' or '\\'. */
  private def skipString(j: UTF8String, pos: Int, n: Int): Int = {
    var i = pos + 1
    while (i < n) {
      val b = j.getByte(i)
      if (b == '\\') i += 2
      else if (b == '"') return i + 1
      else i += 1
    }
    -1
  }

  /** Skip one JSON value starting at `pos` (first non-ws byte of the
    * value); returns the index just after it, or -1 on malformed. */
  private def skipValue(j: UTF8String, pos: Int, n: Int): Int = {
    val b = j.getByte(pos)
    if (b == '"') skipString(j, pos, n)
    else if (b == '{' || b == '[') {
      var depth = 0
      var i = pos
      while (i < n) {
        val c = j.getByte(i)
        if (c == '"') {
          i = skipString(j, i, n)
          if (i < 0) return -1
        } else {
          if (c == '{' || c == '[') depth += 1
          else if (c == '}' || c == ']') {
            depth -= 1
            if (depth == 0) return i + 1
          }
          i += 1
        }
      }
      -1
    } else {
      // primitive token: number / true / false / null. An EMPTY
      // token ({"a":,…}) is malformed — accepting it would let the
      // scan return a value get_json_object rejects
      var i = pos
      while (i < n) {
        val c = j.getByte(i)
        if (c == ',' || c == '}' || c == ']' || isWs(c))
          return if (i == pos) -1 else i
        i += 1
      }
      if (i == pos) -1 else i
    }
  }

  private def keyMatches(j: UTF8String, ks: Int, ke: Int,
      key: UTF8String): Boolean = {
    val kn = key.numBytes()
    if (ke - ks != kn) return false
    var i = 0
    while (i < kn) {
      if (j.getByte(ks + i) != key.getByte(i)) return false
      i += 1
    }
    true
  }

  /** Parse an integer-valued JSON number at `pos`; the token must end
    * at ws/','/'}'. Accumulates negated (so Long.MinValue parses);
    * returns null on empty, non-integer (., e, E), trailing garbage,
    * or overflow. */
  private def parseLong(j: UTF8String, pos: Int, n: Int): java.lang.Long = {
    var i = pos
    var neg = false
    if (i < n && j.getByte(i) == '-') { neg = true; i += 1 }
    if (i >= n) return null
    var acc = 0L
    var digits = 0
    val firstDigit = i
    var c = j.getByte(i)
    while (i < n && c >= '0' && c <= '9') {
      val d = c - '0'
      if (acc < (Long.MinValue + d) / 10) return null // overflow
      acc = acc * 10 - d
      digits += 1
      i += 1
      if (i < n) c = j.getByte(i)
    }
    if (digits == 0) return null
    // JSON forbids leading zeros ("007"); Jackson rejects them too
    if (digits > 1 && j.getByte(firstDigit) == '0') return null
    // a well-formed object always closes after the value — a number
    // running into end-of-input means truncated JSON, not a value.
    // Skip trailing ws and require the STRUCTURAL terminator, so
    // {"k":1 2} (two tokens) is malformed, not 1
    i = skipWs(j, i, n)
    if (i >= n) return null
    val t = j.getByte(i)
    if (!(t == ',' || t == '}')) return null // float/garbage/2nd token
    if (neg) java.lang.Long.valueOf(acc)
    else if (acc == Long.MinValue) null // +9223372036854775808
    else java.lang.Long.valueOf(-acc)
  }

  /** Null json → handled by the caller's null-safe wrapper; this
    * returns null for "key absent or not an integer number". */
  def extract(json: UTF8String, key: UTF8String): java.lang.Long = {
    val n = json.numBytes()
    var i = skipWs(json, 0, n)
    if (i >= n || json.getByte(i) != '{') return null
    i += 1
    var first = true
    while (i < n) {
      i = skipWs(json, i, n)
      if (i >= n) return null
      if (json.getByte(i) == '}') return null // object end: key absent
      if (!first) {
        if (json.getByte(i) != ',') return null
        i = skipWs(json, i + 1, n)
        if (i >= n) return null
      }
      first = false
      if (json.getByte(i) != '"') return null
      val ks = i + 1
      i = skipString(json, i, n)
      if (i < 0) return null
      val matched = keyMatches(json, ks, i - 1, key)
      i = skipWs(json, i, n)
      if (i >= n || json.getByte(i) != ':') return null
      i = skipWs(json, i + 1, n)
      if (i >= n) return null
      if (matched) return parseLong(json, i, n)
      i = skipValue(json, i, n)
      if (i < 0) return null
    }
    null
  }
}
