package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev scratch (optimization rounds): break a registry query's wall time
  * into driver-side planning phases vs cluster execution.
  *
  * Per rep it reports:
  *  - `wall`     — end-to-end seconds for run(...)+count() (the bench's
  *                 timed unit);
  *  - `build`    — seconds spent inside `q.run` BEFORE the final action
  *                 (includes any eager checkpoints / memoized-ingest work
  *                 the query performs while assembling its frame);
  *  - `anal/opt/plan` — the final DataFrame's QueryPlanningTracker phase
  *                 durations (driver-side Catalyst work for the gate
  *                 action itself);
  *  - `jobs/jobWall/taskSum` — Spark job count, summed job wall-clock,
  *                 and summed executor task time across ALL jobs the rep
  *                 triggered (including jobs from eager checkpoints).
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

    // warm
    spark.range(10000000L).selectExpr("sum(id)").collect()
    names.foreach { n =>
      (1 to 3).foreach { rep =>
        jobs.set(0); jobWall.set(0L); taskSum.set(0L)
        val t0 = System.nanoTime()
        val df = byName(n).run(spark, sfDir)
        val tBuild = System.nanoTime()
        val c = ops.SessionScratch.withEvictionDiagnostics(df.count())
        val wall = (System.nanoTime() - t0) / 1e9
        // phase durations of the LAST execution (the count)
        val phases = df.queryExecution.tracker.phases
        def ph(k: String): Double =
          phases.get(k).map(s => (s.endTimeMs - s.startTimeMs) / 1e3)
            .getOrElse(0.0)
        // give the listener bus a beat to drain
        Thread.sleep(150)
        println(f"[profq] $n rep$rep wall=$wall%.2f " +
          f"build=${(tBuild - t0) / 1e9}%.2f " +
          f"anal=${ph("analysis")}%.2f opt=${ph("optimization")}%.2f " +
          f"plan=${ph("planning")}%.2f jobs=${jobs.get} " +
          f"jobWall=${jobWall.get / 1e3}%.2f " +
          f"taskSum=${taskSum.get / 1e3}%.2f rows=$c")
        ops.SessionScratch.evictTransients()
      }
    }
    spark.stop()
  }
}
