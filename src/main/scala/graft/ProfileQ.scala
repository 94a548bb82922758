package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev scratch (optimization rounds): break a registry query's wall time
  * into driver-side planning phases vs cluster execution.
  *
  * Per rep it reports:
  *  - `wall`     — end-to-end seconds for run(...)+count() (the bench's
  *                 timed unit);
  *  - `build`    — seconds spent inside `q.run` BEFORE the final action
  *                 (includes any eager checkpoints / memoized-ingest work
  *                 the query performs while assembling its frame);
  *  - `anal/opt/plan` — QueryPlanningTracker phase durations of the
  *                 QueryExecution that the `count()` ran (driver-side
  *                 Catalyst work for the gate action itself), taken
  *                 from a QueryExecutionListener: `df.queryExecution`
  *                 is a different, never-executed QueryExecution;
  *  - `jobs/jobWall/taskSum` — Spark job count, summed job wall-clock,
  *                 and summed executor task time across ALL jobs the rep
  *                 triggered (including jobs from eager checkpoints);
  *  - `compiles` — Janino compilations of generated code during the rep
  *                 (driver and tasks: one JVM in local mode). A warm rep
  *                 that still compiles is missing Spark's codegen cache
  *                 (see [[GraftSession.CodegenCacheEntries]]).
  *
  * After the last rep it prints the JVM's peak resident set
  * (`peak_rss_mb`, VmHWM).
  *
  * wall − jobWall − (anal+opt+plan) ≈ codegen + scheduling + driver glue,
  * the residual that neither more cores nor less data shrinks.
  *
  * Usage: runMain graft.ProfileQ <sfDir> <name...>   (SPARK_GRAFT_CPUS)
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail.toSeq
    val spark = GraftSession.local(GraftSession.envCpus)
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap

    val jobs = new AtomicInteger(0)
    val jobWall = new AtomicLong(0L)
    val taskSum = new AtomicLong(0L)
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts.put(j.jobId, j.time)
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        jobs.incrementAndGet()
        Option(starts.remove(j.jobId))
          .foreach(t0 => jobWall.addAndGet(j.time - t0))
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        taskSum.addAndGet(s.stageInfo.taskMetrics.executorRunTime)
    })
    // every executed count, in completion order (the bus is async)
    val counts = new LinkedBlockingQueue[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (funcName == "count") counts.put(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    })

    // warm
    spark.range(10000000L).selectExpr("sum(id)").collect()
    names.foreach { n =>
      (1 to 3).foreach { rep =>
        jobs.set(0); jobWall.set(0L); taskSum.set(0L)
        val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime()
        val df = byName(n).run(spark, sfDir)
        val tBuild = System.nanoTime()
        val tBuildMs = System.currentTimeMillis()
        val c = ops.SessionScratch.withEvictionDiagnostics(df.count())
        val wall = (System.nanoTime() - t0) / 1e9
        // the gate's count is the first one analysed after the build;
        // counts the build ran itself were analysed before it
        def isGateCount(qe: QueryExecution): Boolean =
          qe.tracker.phases.get("analysis").exists(_.startTimeMs >= tBuildMs)
        val executed = Iterator.continually(counts.poll(10, TimeUnit.SECONDS))
          .takeWhile(_ != null).find(isGateCount)
        val phases = executed.map(_.tracker.phases).getOrElse(Map.empty)
        def ph(k: String): Double =
          phases.get(k).map(s => (s.endTimeMs - s.startTimeMs) / 1e3)
            .getOrElse(0.0)
        // give the listener bus a beat to drain
        Thread.sleep(150)
        counts.clear()
        println(f"[profq] $n rep$rep wall=$wall%.2f " +
          f"build=${(tBuild - t0) / 1e9}%.2f " +
          f"anal=${ph("analysis")}%.3f opt=${ph("optimization")}%.3f " +
          f"plan=${ph("planning")}%.3f jobs=${jobs.get} " +
          f"jobWall=${jobWall.get / 1e3}%.2f " +
          f"taskSum=${taskSum.get / 1e3}%.2f " +
          s"compiles=${CodegenMetrics.METRIC_COMPILATION_TIME.getCount -
            compiles0} rows=$c")
        ops.SessionScratch.evictTransients()
      }
    }
    // the JVM's peak resident set (VmHWM), e.g. to price a cache size
    val hwm = scala.util.Using(
        scala.io.Source.fromFile("/proc/self/status"))(
        _.getLines().find(_.startsWith("VmHWM:"))).toOption.flatten
    hwm.foreach(l =>
      println(s"[profq] peak_rss_mb=${l.split("\\s+")(1).toLong / 1024}"))
    spark.stop()
  }
}
