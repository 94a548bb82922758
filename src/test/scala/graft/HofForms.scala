package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.llmops.{KMeans, PqCodebook}
import graft.llmops.PortableHash.{fixedPoint, spanHash, FixedScale}

/** Composed-builtin (higher-order-function) reference forms of the
  * native codegen expressions. The engine runs only the native forms;
  * FunctionsSpec and PropertySpec pin each native expression to the
  * arithmetic below, which the DuckDB oracles mirror. HOFs are
  * CodegenFallback, which is why none of these runs in main code.
  */
object HofForms {

  /** Reference form of [[graft.llmops.PortableHash.exactDot]]. */
  def exactDotHof(a: Column, b: Column): Column =
    (aggregate(
      zip_with(a, b, (x, y) => fixedPoint(x) * fixedPoint(y)),
      lit(0L), (acc, v) => acc + v)
      .cast(DoubleType) / lit(FixedScale * FixedScale))

  /** Reference form of [[graft.llmops.PortableHash.fastDot]]. */
  def fastDotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)

  /** Reference form of [[graft.llmops.PortableHash.spanHashes]]. The
    * guard matters: Spark's `sequence(1, size-n+1)` DESCENDS through 0
    * when size < n, and element_at(_, 0) throws.
    */
  def spanHashesHof(ths: Column, n: Int): Column =
    when(size(ths) < n, array().cast("array<bigint>"))
      .otherwise(transform(sequence(lit(1), size(ths) - (n - 1)),
        i => spanHash(ths, i, n)))

  /** Reference form of [[graft.llmops.PortableHash.spanHashesWide]]. */
  def spanHashesWideHof(ths: Column, n: Int): Column =
    when(size(ths) < n, array().cast("array<bigint>"))
      .otherwise(transform(sequence(lit(1), size(ths) - (n - 1)),
        i => spanHash(ths, i, n) * lit(1073741824L) +
          spanHash(ths, i, n, off = 32)))

  /** Reference form of [[KMeans.assign]]'s nearest-centroid pick. */
  def bestHof(vec: Column, centroids: Seq[KMeans.Centroid]): Column =
    -KMeans.bestStruct(vec, centroids).getField("neg_cell")

  /** Reference form of [[PqCodebook.codesOf]]. */
  def codesOfHof(vec: Column, cbRows: Seq[PqCodebook.Codeword], m: Int,
      subDim: Int): Column = {
    // bySub(s) = [(cw, [fc by pi])...] sorted by cw
    val bySub: Seq[Seq[(Long, Seq[Long])]] = (0 until m).map { s =>
      cbRows.filter(_.cs == s).groupBy(_.cw).toSeq.sortBy(_._1)
        .map { case (cw, rows) => (cw, rows.sortBy(_.cpi).map(_.fc)) }
    }
    val cbLit = typedLit(bySub)
    transform(sequence(lit(0), lit(m - 1)), s => {
      val fsub = transform(slice(vec, s * lit(subDim) + 1, lit(subDim)),
        v => fixedPoint(v))
      // struct(-d, -cw) max = smallest distance, tie → smallest cw;
      // |d| <= cb·subDim·(2e7)^2 ≈ 2^62/720 — int64-safe to negate
      val best = array_max(transform(element_at(cbLit, s + 1), c =>
        struct(
          (-aggregate(
            zip_with(fsub, c.getField("_2"), (a, b) => (a - b) * (a - b)),
            lit(0L), (acc, x) => acc + x)).as("negd"),
          (-c.getField("_1")).as("negcw"))))
      -best.getField("negcw")
    })
  }
}
