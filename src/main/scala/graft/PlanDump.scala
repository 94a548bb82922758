package graft

import java.nio.file.{Files, Paths}

/** Dev scratch (optimization rounds): dump `.explain("formatted")` for
  * named registry queries to `<outDir>/<name>_<tag>.txt` — the
  * before/after plan evidence the optimization-round deliverable asks
  * for (`plans/r15/<query>_before.txt` / `_after.txt`).
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> <name...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val names = args.drop(3).toSeq
    val spark = GraftSession.local(GraftSession.envCpus)
    Files.createDirectories(Paths.get(outDir))
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    names.foreach { n =>
      System.err.println(s"[plandump] $n")
      val df = byName(n).run(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(outDir, s"${n}_$tag.txt"),
        plan.getBytes("UTF-8"))
      ops.SessionScratch.evictTransients()
    }
    spark.stop()
  }
}
