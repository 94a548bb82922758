package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, BinaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the per-row ANN assignment hot loops
  * (optimization r16). Both existed as higher-order-function chains —
  * `transform`/`array_max`/`zip_with`/`aggregate` are CodegenFallback,
  * so every row paid interpreted lambda dispatch and per-element
  * allocation, and BOTH run corpus-sized per invocation on the live
  * search paths (KMeans.assign in q52/q54/q156/q192/q197 and the
  * store builds; PqCodebook.codesOf in q192 and the PQ trainings).
  * The HOF forms are kept as test-scope references in
  * `graft.HofForms` (`bestHof`, `codesOfHof`).
  *
  * Semantics are bit-exact ports — the DuckDB oracles replay every
  * cell assignment and code argmin from the same arithmetic:
  *
  *  - [[BestDotCell]]: cell of the MAX exact fixed-point dot
  *    (SUM_i floor(v_i·1e7)·floor(c_i·1e7), int64), ties → the SMALLER
  *    cell id; centroid components and cell ids ride along as flat
  *    literals in ascending-cell order, so first-strictly-greater-wins
  *    IS the tie rule.
  *  - [[PqEncodeCodes]]: per subspace s, the codeword of the MIN exact
  *    int64 squared-L2 distance SUM_i (fv_i − fc_i)², ties → the
  *    SMALLER codeword id; the m·cb·subDim codebook rides along as one
  *    flat int64 literal in (s, cw, pi) order.
  *
  * NULL vector → NULL; a vector whose length does not match the
  * literal geometry → NULL (degenerate input — the HOF forms produced
  * engine-noise there; the fixtures have none).
  */
case class BestDotCell(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def prettyName: String = "best_dot_cell"
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(v, _), ArrayType(DoubleType, _), ArrayType(LongType, _))
          if v == FloatType || v == DoubleType =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (ARRAY<FLOAT|DOUBLE>, ARRAY<DOUBLE>, " +
            s"ARRAY<BIGINT>), got ${a.sql}, ${b.sql}, ${c.sql}")
    }

  private def elemIsFloat: Boolean = first.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override def nullSafeEval(vec: Any, cents: Any, cells: Any): Any =
    BestDotCell.bestCell(vec.asInstanceOf[ArrayData],
      cents.asInstanceOf[ArrayData], cells.asInstanceOf[ArrayData],
      elemIsFloat)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val f = elemIsFloat
    nullSafeCodeGen(ctx, ev, (v, c, l) => {
      s"""
         |Object r = graft.functions.BestDotCell.bestCell($v, $c, $l, $f);
         |if (r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((Long) r).longValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): BestDotCell =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object BestDotCell {

  /** The argmax core, shared by interpreted eval and generated code
    * (the CharPolyHash static-helper pattern). Returns null (boxed) on
    * degenerate geometry.
    */
  def bestCell(vec: ArrayData, cents: ArrayData, cells: ArrayData,
      elemIsFloat: Boolean): Any = {
    val d = vec.numElements()
    val k = cells.numElements()
    if (d == 0 || k == 0 || cents.numElements() != k * d) return null
    val fv = new Array[Long](d)
    var i = 0
    while (i < d) {
      if (vec.isNullAt(i)) return null
      val x = if (elemIsFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      fv(i) = math.floor(x * 1e7).toLong
      i += 1
    }
    var best = 0L
    var bestDot = 0L
    var found = false
    var j = 0
    while (j < k) {
      var acc = 0L
      var p = 0
      val base = j * d
      while (p < d) {
        acc += fv(p) * math.floor(cents.getDouble(base + p) * 1e7).toLong
        p += 1
      }
      if (!found || acc > bestDot) {
        bestDot = acc
        best = cells.getLong(j)
        found = true
      }
      j += 1
    }
    java.lang.Long.valueOf(best)
  }

  /** Column API: `cents` flat (ascending-cell, row-major) and `cells`
    * ascending — callers build both from the same sorted centroid seq.
    */
  def bestDotCell(vec: Column, cents: Column, cells: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(BestDotCell(ColumnBridge.expression(vec),
      ColumnBridge.expression(cents), ColumnBridge.expression(cells)))
  }
}

/** See the file scaladoc: per-subspace PQ code argmin as one loop. */
case class PqEncodeCodes(left: Expression, right: Expression,
    m: Int, subDim: Int) extends BinaryExpression {

  override def prettyName: String = "pq_encode_codes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(v, _), ArrayType(LongType, _))
          if (v == FloatType || v == DoubleType) && m > 0 && subDim > 0 =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (ARRAY<FLOAT|DOUBLE>, ARRAY<BIGINT>) " +
            s"and positive m/subDim, got ${a.sql}, ${b.sql}, m=$m, " +
            s"subDim=$subDim")
    }

  private def elemIsFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override def nullSafeEval(vec: Any, flat: Any): Any =
    PqEncodeCodes.encode(vec.asInstanceOf[ArrayData],
      flat.asInstanceOf[ArrayData], m, subDim, elemIsFloat)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val f = elemIsFloat
    nullSafeCodeGen(ctx, ev, (v, c) =>
      s"""
         |${ev.value} = graft.functions.PqEncodeCodes.encode($v, $c, $m,
         |  $subDim, $f);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PqEncodeCodes =
    copy(left = newLeft, right = newRight)
}

object PqEncodeCodes {

  /** The per-subspace argmin core (shared eval/codegen). `flat` is the
    * codebook in (s, cw, pi) row-major order; cb is derived from its
    * length. Returns null on degenerate geometry.
    */
  def encode(vec: ArrayData, flat: ArrayData, m: Int, subDim: Int,
      elemIsFloat: Boolean): ArrayData = {
    val d = vec.numElements()
    if (d != m * subDim) return null
    val n = flat.numElements()
    if (n == 0 || n % (m * subDim) != 0) return null
    val cb = n / (m * subDim)
    val fv = new Array[Long](d)
    var i = 0
    while (i < d) {
      if (vec.isNullAt(i)) return null
      val x = if (elemIsFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      fv(i) = math.floor(x * 1e7).toLong
      i += 1
    }
    val out = new Array[Long](m)
    var s = 0
    while (s < m) {
      var bestCw = 0L
      var bestD = Long.MaxValue
      var cw = 0
      while (cw < cb) {
        var acc = 0L
        var p = 0
        val vbase = s * subDim
        val cbase = (s * cb + cw) * subDim
        while (p < subDim) {
          val diff = fv(vbase + p) - flat.getLong(cbase + p)
          acc += diff * diff
          p += 1
        }
        if (acc < bestD) { bestD = acc; bestCw = cw.toLong }
        cw += 1
      }
      out(s) = bestCw
      s += 1
    }
    new GenericArrayData(out)
  }

  /** Column API. */
  def pqEncodeCodes(vec: Column, flat: Column, m: Int,
      subDim: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(PqEncodeCodes(ColumnBridge.expression(vec),
      ColumnBridge.expression(flat), m, subDim))
  }
}
