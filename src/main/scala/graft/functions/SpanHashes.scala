package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native all-spans WIDE fingerprint computer for the span-dedup family
  * (q47/q48/q165) — every n-token window's 60-bit fingerprint of a
  * precomputed token-hash array, in one tight generated loop.
  *
  * Arithmetic mirrored EXACTLY from the composed-builtin form
  * (`graft.HofForms.spanHashesWideHof`, the test-scope reference)
  * and the DuckDB oracle: for window start j and multiplier table
  * m[0..2n) (stream A then stream B, each entry < P),
  *
  *   sA = ( SUM_d ths[j+d]·m[d]   mod P ) mod P
  *   sB = ( SUM_d ths[j+d]·m[n+d] mod P ) mod P
  *   out[j] = sA · 2^30 + sB
  *
  * Every product < P² < 2^63; the per-term-reduced sums stay ≤ n·P.
  *
  * Why native: Catalyst higher-order functions (`transform` + lambda)
  * are CodegenFallback — with a 3-length explode over ~10⁶ spans the
  * per-element interpreted dispatch dominated the whole span family's
  * runtime. Same motivation (and structure) as [[CharPolyHash]] /
  * [[FixedDotSum]] / [[SignPackBits]].
  *
  * Null-element contract (DELIBERATELY stricter than the HOF
  * reference): a null token hash nulls the WHOLE result row, where the
  * HOF form yields an array with null entries for the affected spans
  * only. Every in-repo caller feeds `PortableHash.tokenHashes`, which
  * pins empty tokens to 0 — a null reaching here means the coalesce
  * contract was broken upstream, and a loudly-null row beats spans
  * silently vanishing span-by-span. The FunctionsSpec pin asserts this
  * divergence explicitly.
  */
case class SpanHashesWide(left: Expression, right: Expression)
    extends BinaryExpression {

  private val P = 1000000007L

  override def prettyName: String = "span_hashes_wide"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<bigint>, array<bigint>), " +
            s"got ${l.sql} and ${r.sql}")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val ths = l.asInstanceOf[ArrayData]
    val m = r.asInstanceOf[ArrayData]
    val twoN = m.numElements()
    if (twoN == 0 || twoN % 2 != 0) return null
    val n = twoN / 2
    val len = ths.numElements()
    val spans = math.max(0, len - n + 1)
    val out = new Array[Long](spans)
    var j = 0
    while (j < spans) {
      var sA = 0L
      var sB = 0L
      var d = 0
      while (d < n) {
        if (ths.isNullAt(j + d)) return null
        val t = ths.getLong(j + d)
        sA += t * m.getLong(d) % P
        sB += t * m.getLong(n + d) % P
        d += 1
      }
      out(j) = (sA % P) * 1073741824L + (sB % P)
      j += 1
    }
    ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (ths, m) => {
      val twoN = ctx.freshName("twoN")
      val n = ctx.freshName("n")
      val len = ctx.freshName("len")
      val spans = ctx.freshName("spans")
      val out = ctx.freshName("out")
      val j = ctx.freshName("j")
      val d = ctx.freshName("d")
      val sA = ctx.freshName("sA")
      val sB = ctx.freshName("sB")
      val t = ctx.freshName("t")
      val bad = ctx.freshName("bad")
      s"""
         |int $twoN = $m.numElements();
         |boolean $bad = $twoN == 0 || $twoN % 2 != 0;
         |long[] $out = null;
         |if (!$bad) {
         |  int $n = $twoN / 2;
         |  int $len = $ths.numElements();
         |  int $spans = Math.max(0, $len - $n + 1);
         |  $out = new long[$spans];
         |  for (int $j = 0; $j < $spans && !$bad; $j++) {
         |    long $sA = 0L; long $sB = 0L;
         |    for (int $d = 0; $d < $n; $d++) {
         |      if ($ths.isNullAt($j + $d)) { $bad = true; break; }
         |      long $t = $ths.getLong($j + $d);
         |      $sA += $t * $m.getLong($d) % ${P}L;
         |      $sB += $t * $m.getLong($n + $d) % ${P}L;
         |    }
         |    $out[$j] = ($sA % ${P}L) * 1073741824L + ($sB % ${P}L);
         |  }
         |}
         |if ($bad) { ${ev.isNull} = true; }
         |else { ${ev.value} =
         |  org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SpanHashesWide =
    copy(left = newLeft, right = newRight)
}

/** Narrow (single-stream, 30-bit) sibling of [[SpanHashesWide]] — the
  * hashed-FEATURE consumers' span hash (bigram LM q76/q158, distinct-n
  * q160, classifier buckets q168, repetition q58), where the original
  * mod-P value IS the contract (their oracles replay it):
  * out[j] = ( SUM_d ths[j+d]·m[d] mod P ) mod P, n = |m|.
  */
case class SpanHashesMod(left: Expression, right: Expression)
    extends BinaryExpression {

  private val P = 1000000007L

  override def prettyName: String = "span_hashes_mod"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<bigint>, array<bigint>), " +
            s"got ${l.sql} and ${r.sql}")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val ths = l.asInstanceOf[ArrayData]
    val m = r.asInstanceOf[ArrayData]
    val n = m.numElements()
    if (n == 0) return null
    val len = ths.numElements()
    val spans = math.max(0, len - n + 1)
    val out = new Array[Long](spans)
    var j = 0
    while (j < spans) {
      var s = 0L
      var d = 0
      while (d < n) {
        if (ths.isNullAt(j + d)) return null
        s += ths.getLong(j + d) * m.getLong(d) % P
        d += 1
      }
      out(j) = s % P
      j += 1
    }
    ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (ths, m) => {
      val n = ctx.freshName("n")
      val len = ctx.freshName("len")
      val spans = ctx.freshName("spans")
      val out = ctx.freshName("out")
      val j = ctx.freshName("j")
      val d = ctx.freshName("d")
      val s = ctx.freshName("s")
      val bad = ctx.freshName("bad")
      s"""
         |int $n = $m.numElements();
         |boolean $bad = $n == 0;
         |long[] $out = null;
         |if (!$bad) {
         |  int $len = $ths.numElements();
         |  int $spans = Math.max(0, $len - $n + 1);
         |  $out = new long[$spans];
         |  for (int $j = 0; $j < $spans && !$bad; $j++) {
         |    long $s = 0L;
         |    for (int $d = 0; $d < $n; $d++) {
         |      if ($ths.isNullAt($j + $d)) { $bad = true; break; }
         |      $s += $ths.getLong($j + $d) * $m.getLong($d) % ${P}L;
         |    }
         |    $out[$j] = $s % ${P}L;
         |  }
         |}
         |if ($bad) { ${ev.isNull} = true; }
         |else { ${ev.value} =
         |  org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SpanHashesMod =
    copy(left = newLeft, right = newRight)
}

object SpanHashesWide {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  def spanHashesWide(ths: Column, mults: Column): Column =
    ColumnBridge.column(
      SpanHashesWide(ColumnBridge.expression(ths),
        ColumnBridge.expression(mults)))

  def spanHashesMod(ths: Column, mults: Column): Column =
    ColumnBridge.column(
      SpanHashesMod(ColumnBridge.expression(ths),
        ColumnBridge.expression(mults)))
}
