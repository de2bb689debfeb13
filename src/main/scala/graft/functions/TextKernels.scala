package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One primitive loop per document for the curation hot path, in the
  * [[SimHash64]] pattern: higher-order functions (`aggregate`,
  * `zip_with`) make an interpreted lambda call per element, and chained
  * `regexp_replace` calls re-scan the text once each.
  * Each expression's interpreted `eval` and its generated code call the
  * same static method below, and each keeps the replaced chain's result
  * type and nullability exactly. */
object TextKernels {
  private val P = 1000000007L // prime; (P-1)·a + b stays far below Long.MaxValue
  private val Space = UTF8String.fromString(" ")
  /** The static forwarders generated code calls. */
  private[functions] val Static = getClass.getName.stripSuffix("$")

  /** k minima of ((s % P)·a_k + b_k) % P over the non-null elements of
    * `h`, a_k = 1000003·k + 12345, b_k = 998244353·k + 7 for k = 1..n.
    * An empty array gives Long.MaxValue per slot; a null array gives n
    * null slots, as an `array` of n `aggregate`s over it does. */
  def minhash(h: ArrayData, n: Int): ArrayData = {
    if (h == null) return new GenericArrayData(new Array[Any](n))
    val m = Array.fill(n)(Long.MaxValue)
    var i = 0
    while (i < h.numElements()) {
      if (!h.isNullAt(i)) {
        val s = h.getLong(i) % P
        var k = 0
        while (k < n) {
          val v = (s * (1000003L * (k + 1) + 12345L) + 998244353L * (k + 1) + 7L) % P
          if (v < m(k)) m(k) = v
          k += 1
        }
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(m)
  }

  /** The len−n+1 space-joined token windows of `toks`, null tokens
    * skipped as `concat_ws` skips them; [] below n tokens. */
  def ngrams(toks: ArrayData, n: Int): ArrayData = {
    val len = toks.numElements()
    val out = new Array[Any](math.max(len - n + 1, 0))
    val w = new Array[UTF8String](n)
    var i = 0
    while (i < out.length) {
      var j = 0
      while (j < n) {
        w(j) = if (toks.isNullAt(i + j)) null else toks.getUTF8String(i + j)
        j += 1
      }
      out(i) = UTF8String.concatWs(Space, w: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The maximal [a-z0-9] byte runs of `s` joined by single spaces.
    * Every byte of a multi-byte UTF-8 character is ≥ 0x80, so a byte
    * scan splits exactly where a per-character scan would. */
  def alnumRuns(s: UTF8String): UTF8String = {
    val b = s.getBytes
    val out = new Array[Byte](b.length)
    var o = 0
    var gap = false
    var i = 0
    while (i < b.length) {
      val c = b(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        if (gap && o > 0) { out(o) = ' '; o += 1 }
        out(o) = c; o += 1; gap = false
      } else gap = true
      i += 1
    }
    UTF8String.fromBytes(out, 0, o)
  }

  def minhashMinima(h: Column, n: Int): Column =
    ColumnBridge.column(MinHashMinima(ColumnBridge.expression(h), n))
  def tokenNGrams(toks: Column, n: Int): Column =
    ColumnBridge.column(TokenNGrams(ColumnBridge.expression(toks), n))
  def normalizeAlnum(text: Column): Column =
    ColumnBridge.column(AlnumRuns(ColumnBridge.expression(text)))
}

/** `array` of k `aggregate(h, MaxValue, least(acc, perm_k(s)))` folds. */
case class MinHashMinima(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any =
    TextKernels.minhash(child.eval(input).asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        ${TextKernels.Static}.minhash(${c.isNull} ? null : ${c.value}, $n);""", isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The `zip_with`/`concat_ws` token n-gram chain. */
case class TokenNGrams(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(input: Any): Any = TextKernels.ngrams(input.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${TextKernels.Static}.ngrams($c, $n)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `trim(regexp_replace(regexp_replace(s, "[^a-z0-9 ]", " "), " +", " "))`. */
case class AlnumRuns(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(input: Any): Any = TextKernels.alnumRuns(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${TextKernels.Static}.alnumRuns($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
