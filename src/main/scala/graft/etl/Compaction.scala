package graft.etl

import org.apache.spark.sql.SparkSession

/** Small-file compaction — the housekeeping operator every long-lived
  * 100 TB table needs: streaming micro-batches and per-partition
  * appends accumulate thousands of KB-sized files, and scan cost
  * becomes file-open-bound instead of byte-bound. Compaction rewrites
  * a directory into ~targetBytes files.
  *
  * The target file count comes from the INPUT's on-disk bytes — a
  * filesystem listing, not a data pass. The rewrite uses
  * `repartition(n)` (round-robin shuffle) rather than `coalesce(n)`:
  * coalesce merges whole input partitions and inherits their skew,
  * while round-robin yields uniformly sized output files — the point
  * of compacting. One shuffle of the data being rewritten is the
  * unavoidable cost either way at even sizing.
  */
object Compaction {

  /** (data files under `inDir`, output file count) for a rewrite into
    * ~targetBytes files: ceil(bytes / targetBytes), capped at the input's
    * data-file count — compaction must never raise the file count. The
    * listing is RECURSIVE, so partitioned layouts (files nested under
    * `key=value/` directories) size correctly, and it skips `_`- and
    * `.`-prefixed names (commit markers, Hadoop `.crc` sidecars), which
    * are not data.
    */
  def targetFiles(spark: SparkSession, inDir: String,
      targetBytes: Long): (Int, Int) = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val files = ParquetDir.dataFiles(spark, inDir)
    val bySize = math.ceil(files.map(_.getLen).sum.toDouble / targetBytes)
    (files.length, math.max(1, math.min(files.length.toDouble, bySize).toInt))
  }

  /** Returns (fileCountBefore, fileCountChosen). The rewrite itself is
    * flat — re-partitioning the output is the caller's layout decision
    * (`df.write.partitionBy`), not compaction's.
    */
  def compact(spark: SparkSession, inDir: String, outDir: String,
      targetBytes: Long): (Int, Int) = {
    val (before, n) = targetFiles(spark, inDir, targetBytes)
    ParquetDir.read(spark, inDir)
      .repartition(n)
      .write.mode("overwrite").parquet(outDir)
    (before, n)
  }
}
