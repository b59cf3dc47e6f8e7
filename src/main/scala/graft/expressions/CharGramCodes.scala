package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-row character n-gram counts with the gram PACKED into one BIGINT
  * — the profile-builder sibling of [[CharGramCounts]] for consumers
  * that never surface the gram text (q372's source×trigram affinity:
  * only cross-source products of the counts reach the output).
  *
  * Each gram is n consecutive Unicode code points, packed 21 bits per
  * code point (U+10FFFF < 2²¹), most-significant first — an EXACT
  * bijection onto [0, 2^(21n)), so counts keyed on the code equal
  * counts keyed on the string, while the downstream aggregate hashes
  * 8-byte longs instead of UTF8String slices and the shuffle carries
  * fixed-width rows. n ≤ 3 keeps the pack inside a signed BIGINT.
  *
  * The per-row collapse is sort + run-length over a primitive long
  * buffer (no per-gram boxing, no hash map): output is one
  * `struct<g: bigint, c: bigint>` per DISTINCT gram, ordered by g
  * (deterministic). A string shorter than n yields an empty array.
  *
  * Round-11 A/B vs [[CharGramCounts]] (the round-10 string-keyed form)
  * on the q372 walk is recorded in `OPTIMIZATION_r11.md` (q372 entry;
  * commit c1b9342) — this is the VERDICT r10 #7
  * "codegen A/B" resolution: the hot cost was never the
  * CodegenFallback dispatch (one virtual call per document) but the
  * per-gram UTF8String allocation + map churn, which packing removes.
  */
case class CharGramCodes(child: Expression, n: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  require(n >= 1 && n <= 3, s"gram size must be in [1, 3] for 21-bit packing, got $n")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("g", LongType, nullable = false),
      StructField("c", LongType, nullable = false))),
    containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_char_gram_codes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${dt.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    // code points once (SQL substring semantics: grams are code-point
    // windows, not UTF-16 unit windows)
    val m = s.codePointCount(0, s.length)
    val cnt = m - n + 1
    if (cnt <= 0) return new GenericArrayData(Array.empty[Any])
    val cps = new Array[Int](m)
    var ci = 0
    var off = 0
    while (off < s.length) {
      val cp = s.codePointAt(off)
      cps(ci) = cp; ci += 1
      off += Character.charCount(cp)
    }
    val codes = new Array[Long](cnt)
    val mask = (1L << (21 * n)) - 1
    var acc = 0L
    var i = 0
    while (i < n - 1) { acc = (acc << 21) | cps(i); i += 1 }
    while (i < m) {
      acc = ((acc << 21) | cps(i)) & mask
      codes(i - n + 1) = acc
      i += 1
    }
    java.util.Arrays.sort(codes)
    // run-length over the sorted codes: one pass, no boxing until emit
    var distinct = 0
    i = 0
    while (i < cnt) {
      var j = i + 1
      while (j < cnt && codes(j) == codes(i)) j += 1
      distinct += 1
      i = j
    }
    val out = new Array[Any](distinct)
    var k = 0
    i = 0
    while (i < cnt) {
      var j = i + 1
      while (j < cnt && codes(j) == codes(i)) j += 1
      out(k) = InternalRow(codes(i), (j - i).toLong)
      k += 1
      i = j
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): CharGramCodes =
    copy(child = newChild)
}
