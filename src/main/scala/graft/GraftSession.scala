package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession every main and the test base run on, so
  * master, shuffle partitions, AQE, time zone, UI and log level each
  * have a single value. The two extension siblings
  * (`MandatoryFilterRule.governedSibling`, the governed test session)
  * attach to an existing SparkContext and stay outside it.
  */
object GraftSession {

  /** A local session on `cpus` cores with one shuffle partition per
    * core, AQE on, UTC, no UI, WARN logging.
    */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The core count `SPARK_GRAFT_CPUS` names (default 4). */
  def envCpus: Int = parseCpus(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))

  /** A positive integer, or a failure naming the variable — a typo must
    * not silently pick some other parallelism.
    */
  private[graft] def parseCpus(raw: String): Int =
    raw.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$raw'"))
}
