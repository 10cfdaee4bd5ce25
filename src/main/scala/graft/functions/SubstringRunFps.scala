package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native rolling-window substring fingerprints:
  * `substring_run_fps(text, w)` returns the `array<string>` of md5 hex
  * fingerprints of every w-token window of the document (index j in the
  * array = the window starting at token j), in ONE zero-copy pass —
  * dd25's scan stage as a single codegen expression.
  *
  * Semantics are bit-identical to the staged derivation (and its DuckDB
  * oracle): words are `split(text, ' ')` fields, window j is
  * `array_join(slice(ws, j+1, w), ' ')`, fp = `md5(window)`. Because
  * split's separator is the single space that array_join re-inserts,
  * every window IS a contiguous byte slice of the original document
  * (`[start(token j), end(token j+w-1))`), so each md5 runs directly
  * over one span of the row's backing bytes — no window strings are
  * ever materialized. Documents with fewer than w tokens return NULL
  * (the staged pipeline's `size(ws) >= w` filter).
  *
  * Scale shape: the staged form pays an interpreted `transform` lambda
  * plus a ~|window|-byte string allocation per window (O(n·w) copies
  * per document); this expression hashes the same bytes in place and
  * allocates only the 32-char hex outputs, keeping dd25's window
  * generation inside WholeStageCodegen on the scan. The md5-per-window
  * arithmetic itself is inherent to the (engine-portable) fingerprint
  * choice and identical on the oracle side.
  */
case class SubstringRunFps(child: Expression, w: Int, bin: Boolean = false)
    extends UnaryExpression with Serializable {
  require(w >= 1, "substring_run_fps window must be >= 1")

  override def dataType: DataType =
    ArrayType(if (bin) BinaryType else StringType, containsNull = false)
  override def nullable: Boolean = true

  override def prettyName: String =
    if (bin) "substring_run_fps_bin" else "substring_run_fps"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"substring_run_fps expects a string input, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    SubstringRunFps.compute(input.asInstanceOf[UTF8String], w, bin)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = graft.functions.SubstringRunFps$$.MODULE$$.compute($a, $w, $bin);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SubstringRunFps {
  private val localMd: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))
  private val localOut: ThreadLocal[Array[Byte]] =
    ThreadLocal.withInitial(() => new Array[Byte](16))
  private val HEX = "0123456789abcdef".getBytes("US-ASCII")

  /** Hex-output compatibility entry (pre-r16b callers and generated
    * code compiled against the 2-arg shape). */
  def compute(s: UTF8String, w: Int): GenericArrayData = compute(s, w, bin = false)

  /** One pass over the document bytes; null when the document has fewer
    * than w words. `bin = true` emits the raw 16-byte md5 instead of the
    * 32-char hex — a BIJECTION of the hex fp, so any grouping/join/
    * partitioning on it is semantically identical while the exchange
    * cargo and sort comparators are half the size (measured: dd25's fp
    * window 1.64 → 1.19 s at sf10m on cargo alone, r16 variant F).
    * Called from both interpreted eval and generated code. */
  def compute(s: UTF8String, w: Int, bin: Boolean): GenericArrayData = {
    val b = s.getBytes
    val n = b.length
    // token start offsets (split-on-space fields, empties included)
    var nTok = 1
    var i = 0
    while (i < n) { if (b(i) == ' ') nTok += 1; i += 1 }
    if (nTok < w) return null
    val starts = new Array[Int](nTok + 1) // starts(k) = first byte of token k
    starts(0) = 0
    var k = 1
    i = 0
    while (i < n) {
      if (b(i) == ' ') { starts(k) = i + 1; k += 1 }
      i += 1
    }
    starts(nTok) = n + 1 // sentinel: end(token k) = starts(k+1) - 1
    val md = localMd.get()
    val out = localOut.get()
    val fps = new Array[Any](nTok - w + 1)
    var j = 0
    while (j + w <= nTok) {
      val from = starts(j)
      val until = starts(j + w) - 1 // end of token j+w-1 (strip separator)
      md.reset()
      md.update(b, from, until - from)
      md.digest(out, 0, 16)
      if (bin) {
        fps(j) = java.util.Arrays.copyOf(out, 16)
      } else {
        val hex = new Array[Byte](32)
        var t = 0
        while (t < 16) {
          hex(2 * t) = HEX((out(t) >> 4) & 0xF)
          hex(2 * t + 1) = HEX(out(t) & 0xF)
          t += 1
        }
        fps(j) = UTF8String.fromBytes(hex)
      }
      j += 1
    }
    new GenericArrayData(fps)
  }

  /** Column-level entry point: `substring_run_fps($"text", 50)` → md5
    * hex fp per 50-token window (null for shorter documents). */
  def substring_run_fps(c: Column, w: Int): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.columnOf(SubstringRunFps(GraftShims.expressionOf(c), w))
  }

  /** Binary-fp variant: raw 16-byte md5 per window — use when the fps
    * stay engine-internal (grouping/joins/exchanges); bijective with the
    * hex form, half the cargo. */
  def substring_run_fps_bin(c: Column, w: Int): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.columnOf(SubstringRunFps(GraftShims.expressionOf(c), w, bin = true))
  }
}
