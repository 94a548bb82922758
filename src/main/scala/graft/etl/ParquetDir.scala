package graft.etl

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.types.{DataType, StructType}

/** Read a parquet directory the engine itself wrote WITHOUT Spark's
  * schema-inference job. `spark.read.parquet(dir)` always infers the
  * schema by a one-task Spark job (`mergeSchemasInParallel`), even though
  * every Spark-written file carries its row schema in the footer (the
  * costs are measured in SCALING.md, "the manifest discipline's hidden
  * metadata costs"). Stores and ETL targets re-read their own output on
  * every maintenance step, so [[read]] takes the schema from one data
  * file's footer on the driver instead.
  */
object ParquetDir {

  /** `dir` as a frame with the schema `spark.read.parquet(dir)` infers,
    * found without a Spark job. Falls back to the inferring read when no
    * data file carries Spark's row-schema footer key (foreign input, an
    * empty or missing directory — the fallback then raises Spark's own
    * error).
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    footerSchema(spark, dir) match {
      case Some(st) => spark.read.schema(st).parquet(dir)
      case None     => spark.read.parquet(dir)
    }

  /** Every data file under `dir`, recursing into partition directories
    * and skipping `_`- and `.`-prefixed names (commit markers, Hadoop
    * `.crc` sidecars, temps), which are not data.
    */
  def dataFiles(spark: SparkSession, dir: String): Seq[FileStatus] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: Path): Seq[FileStatus] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (name.startsWith("_") || name.startsWith(".")) Nil
        else if (st.isDirectory) walk(st.getPath)
        else Seq(st)
      }
    walk(root)
  }

  /** The Spark row schema recorded in the footer of the first data file
    * under `dir` (by path), or None. Spark's non-merging inference also
    * reads ONE footer, and the relation makes every field nullable either
    * way, so files of one store that differ only in nullability give the
    * same frame schema. Partition columns are not in the files; Spark
    * infers them from the paths in both reads.
    */
  def footerSchema(spark: SparkSession, dir: String): Option[StructType] =
    scala.util.Try {
      dataFiles(spark, dir).map(_.getPath).sortBy(_.toString).headOption
        .flatMap { f =>
          val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f,
            spark.sparkContext.hadoopConfiguration))
          try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
            .get(ParquetReadSupport.SPARK_METADATA_KEY))
          finally reader.close()
        }
        .map(DataType.fromJson).collect { case st: StructType => st }
    }.toOption.flatten
}
