package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.model._

/** ETL pipeline executor (SURVEY.md §7.5): runs an `EtlSpec` —
  * extract (source tables + conditions) → transform (named, composable
  * steps) → load (append/overwrite) — mirroring the reference's pipeline
  * contract (sql_generator.py:40-49: extract{source_tables, conditions} /
  * transform[steps] / load{target_table, write_mode}).
  *
  * Transform steps are `DataFrame => DataFrame`, so Catalyst sees one
  * composed plan (filters merge + push down; nothing materializes between
  * steps). Load is a distributed parquet write — executors write in
  * parallel, the driver only commits.
  */
final class EtlRunner(spark: SparkSession, resolve: String => DataFrame,
    warehouseDir: String) {

  def extract(spec: ExtractSpec): DataFrame = {
    val base = spec.sourceTables.map(resolve).reduce(_ unionByName _)
    spec.conditions.foldLeft(base)((df, c) => df.filter(expr(c)))
  }

  def applyStep(df: DataFrame, step: TransformStep): DataFrame = step match {
    case TransformStep.NullDefault(defaults) =>
      defaults.foldLeft(df) { case (d, (c, v)) =>
        d.withColumn(c, coalesce(col(c), expr(v)))
      }
    case TransformStep.DateStandardize(c, fmt) =>
      df.withColumn(s"${c}_std", date_format(col(c), fmt))
    case TransformStep.TypeValidate(c, to) =>
      // "데이터 타입 검증" (sql_generator.py:305): keep rows whose value
      // survives the cast; invalid rows are filtered, not nulled.
      // try_cast, because ANSI-mode cast throws on malformed input.
      df.filter(col(c).isNull || expr(s"try_cast(`$c` AS $to)").isNotNull)
        .withColumn(c, expr(s"try_cast(`$c` AS $to)"))
    case TransformStep.Derive(alias, e) => df.withColumn(alias, expr(e))
    case TransformStep.FilterRows(p)    => df.filter(expr(p))
  }

  def transform(df: DataFrame, steps: Seq[TransformStep]): DataFrame =
    steps.foldLeft(df)(applyStep)

  /** Load per the spec's write mode (sql_generator.py:46:
    * "append_OR_overwrite") and return the loaded table re-read from
    * storage — proving the sink round-trips.
    *
    * With `partitionBy`, an overwrite is DYNAMIC: only the partitions
    * present in this run's output are replaced (the scale-correct
    * semantics — a daily re-run over a partitioned 100 TB target must
    * not truncate history). The session default partitionOverwriteMode
    * is 'static' (whole-table truncate), so it is forced per-write.
    */
  def load(df: DataFrame, spec: LoadSpec): DataFrame = {
    val mode = spec.writeMode.toLowerCase match {
      case "append"    => SaveMode.Append
      case "overwrite" => SaveMode.Overwrite
      case other => throw new IllegalArgumentException(
        s"unsupported write_mode '$other' (reference allows append|overwrite)")
    }
    val path = s"$warehouseDir/${spec.targetTable}"
    val writer = df.write.mode(mode)
      .option("partitionOverwriteMode", "dynamic")
    (if (spec.partitionBy.nonEmpty) writer.partitionBy(spec.partitionBy: _*)
     else writer).parquet(path)
    ParquetDir.read(spark, path)
  }

  def run(spec: EtlSpec): DataFrame =
    load(transform(extract(spec.extract), spec.transform), spec.load)
}
