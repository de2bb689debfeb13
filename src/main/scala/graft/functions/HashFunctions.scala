package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}

/* Native Catalyst expressions for document-hash sketches.
  *
  * SimHash was first written as a `aggregate`/`zip_with` higher-order
  * chain with a 64-slot array accumulator; HOFs don't participate in
  * whole-stage codegen, so every token allocated a fresh 64-element
  * array and dispatched 64 interpreted lambda calls (measured: 11.6 s
  * for 5k docs at sf0.1 — the bench's second-worst non-ML query). The
  * codegen expression below is one primitive loop per document with a
  * stack-local vote table; same signature bits, ~100× less work.
  */

/** simhash64(hashes): 64-bit SimHash over an `array<long>` of token
  * hashes. Bit j of the output is set iff the count of tokens with bit
  * j set exceeds the count with bit j clear (ties → clear), i.e. the
  * sign of Σ_tokens (bit_j(h) ? +1 : −1) — the standard SimHash vote
  * (Charikar, STOC 2002). Null elements are skipped. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i)
        var j = 0
        while (j < 64) {
          votes(j) += (if (((h >>> j) & 1L) != 0L) 1 else -1)
          j += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val j = ctx.freshName("j"); val h = ctx.freshName("h")
      val votes = ctx.freshName("votes"); val sig = ctx.freshName("sig")
      s"""
        int $n = $a.numElements();
        int[] $votes = new int[64];
        for (int $i = 0; $i < $n; $i++) {
          if (!$a.isNullAt($i)) {
            long $h = $a.getLong($i);
            for (int $j = 0; $j < 64; $j++) {
              $votes[$j] += ((($h >>> $j) & 1L) != 0L) ? 1 : -1;
            }
          }
        }
        long $sig = 0L;
        for (int $j = 0; $j < 64; $j++) {
          if ($votes[$j] > 0) $sig |= (1L << $j);
        }
        ${ev.value} = $sig;
      """
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-API front door. */
object HashFunctions {
  /** Codegen'd 64-bit SimHash over an array<long> of token hashes. */
  def simhash64(hashes: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(hashes)))

  /** SimHash of a token array: xxhash64 each token, then vote. */
  def simhashTokens(tokens: Column): Column =
    simhash64(transform(tokens, t => xxhash64(t)))
}
