package graft

/** Benchmark main (driver contract): times every registered query at
  * `SPARK_GRAFT_SF_DIR`, prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * A short warmup (session init, codegen, parquet footer cache) runs
  * before timing so the first query measured doesn't absorb one-off JVM
  * costs — mirroring steady-state behavior on a long-lived cluster.
  *
  * Contention-evident measurement (round-5 postmortem): BENCH_r05 was
  * contaminated by co-tenant machine load and consecutive-rep
  * min-of-N could not reject it — all reps of a query shared one
  * contention window, so the min was as polluted as the max. Two
  * changes make a contaminated round detectable from the JSON alone:
  *
  *  1. ROUND-ROBIN reps: the full registry runs as pass 1, then
  *     repeats as pass 2, ... Per-query repeats are now separated by
  *     the whole registry's wall time (~minutes), so a contention
  *     burst poisons one PASS, not every sample of one query — the
  *     min is taken over independent windows.
  *  2. CALIBRATION SENTINELS: two fixed ops are timed before each
  *     pass and after the last. On an idle box their times are flat;
  *     under external load they spread. The JSON carries the per-pass
  *     sentinel times, their max/min spreads, and
  *     `contention_suspect` (either spread > 2.0) — a judge can
  *     reject a round without re-running anything.
  *
  *     a. CPU sentinel: constant hash-sum work across all cores, zero
  *        I/O — moves only under CPU/scheduler competition.
  *     b. IO sentinel (round-14, the BENCH_r13 postmortem): a
  *        fixed-size scratch parquet write + full read-back + an
  *        fsync'd raw slab — moves under DISK and page-cache
  *        competition. BENCH_r13's driver window read the
  *        store-ingest gates at 3-8× their clean values while the
  *        CPU-only sentinel certified the window clean (spread 1.10):
  *        a CPU sentinel is structurally blind to exactly the
  *        contention mode that store builds, transient checkpoints,
  *        and parquet ingest pay. The IO sentinel times the same
  *        write-commit-read path those gates use, so an IO-contended
  *        window now flags itself.
  *
  * The spreads compare only samples taken AFTER at least one full
  * registry pass: running 150+ queries measurably slows the sentinel
  * (~2-2.5× — code-cache/GC state, observed on an idle box), so
  * including the pristine pre-pass-1 sample flags "contention" on
  * every clean run. The pre samples are still reported (first element
  * of `sentinel_sec` / `io_sentinel_sec`) — they carry the
  * warmup-quality signal, just not the contention verdict.
  *
  * IO-sentinel sample geometry (round-15, the BENCH_r14 postmortem):
  * the round-14 verdict rested on 2 post samples, the first taken
  * immediately after pass 1 — the pass that carries the session-store
  * ingests — so the probe could catch the registry's OWN writeback
  * tail and flag a clean window (the driver's r14 window read
  * io_spread 2.88 off [0.92, 4.29, 1.49] at a measured per-query
  * drift of 1.14 with clean store canaries). Three changes:
  *
  *  1. DRAINED samples: every measured IO sample is the SECOND of two
  *     back-to-back probe runs — the first run's fsync forces out
  *     whatever writeback backlog the preceding work left, so the
  *     kept sample times the probe, not the registry's dirty pages.
  *     The drain runs are reported (`io_drain_sec`) for diagnosis.
  *  2. A MID-PASS sample per pass (both resources, recorded between
  *     two queries at the registry midpoint, outside any timed
  *     window): the verdict now rests on three post-pass-1 samples
  *     (pre-pass-2, mid-pass-2, final) instead of two, so a single
  *     transient is visible AS a transient in the artifact.
  *  3. A SEPARATE io threshold (2.5 vs the CPU's 2.0), calibrated
  *     from idle-box drained samples (BASELINE.md round-15
  *     discipline): an fsync'd slab + parquet round-trip has
  *     inherently higher idle variance (writeback timing, page-cache
  *     state) than a fixed CPU op. The JSON carries per-resource
  *     verdicts (`cpu_suspect` / `io_suspect`) so a judge can
  *     discount IO-only suspicion; `contention_suspect` stays their
  *     OR — the conservative direction is still the safe direction.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.envCpus)

    // Fixed calibration op: ~constant CPU work across all cores, no
    // I/O, no shuffle — its wall time moves only when something else
    // is competing for the machine.
    def sentinel(): Double = {
      val t0 = System.nanoTime()
      // hash() keeps per-row work non-trivial while the running sum
      // stays far below int64 range (5e7 * 2^31 ~ 1e17), so the op is
      // ANSI-overflow-safe at any rep count
      spark.range(50000000L)
        .selectExpr("sum(cast(hash(id) as bigint))").collect()
      (System.nanoTime() - t0) / 1e9
    }

    // Fixed IO calibration op: constant-size parquet round-trip under
    // the bench's own session scratch (hash columns defeat column
    // encodings, so the bytes are real) plus one fsync'd raw slab —
    // the force(true) guarantees at least part of each sample touches
    // the DEVICE, so a window where the page cache is under external
    // dirty-page pressure cannot read as memory-speed. This is the
    // write-commit-read path every store-ingest gate pays; its wall
    // time moves when the disk is contended even while the CPU
    // sentinel stays flat (the BENCH_r13 mode).
    val ioDir = ops.SessionScratch.base("bench_io",
      spark.sparkContext.applicationId)
    def ioSentinel(): Double = {
      val t0 = System.nanoTime()
      spark.range(4000000L)
        .selectExpr("hash(id) as a", "hash(id + 1) as b",
          "hash(id + 2) as c", "hash(id + 3) as d")
        .write.mode("overwrite").parquet(s"$ioDir/probe")
      val raw = java.nio.file.Paths.get(ioDir, "probe.raw")
      val ch = java.nio.channels.FileChannel.open(raw,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE,
        java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
      try {
        val slab = new Array[Byte](1 << 20)
        java.util.Arrays.fill(slab, 0x5a.toByte)
        val buf = java.nio.ByteBuffer.wrap(slab)
        var i = 0
        while (i < 64) {
          buf.rewind()
          while (buf.hasRemaining) ch.write(buf)
          i += 1
        }
        ch.force(true)
      } finally ch.close()
      spark.read.parquet(s"$ioDir/probe")
        .selectExpr("sum(cast(a as bigint) + cast(b as bigint))")
        .collect()
      // delete the probe INSIDE the timed window: unlinking discards
      // the parquet write's still-dirty pages, so the sentinel's own
      // writeback can never bleed into the pass it precedes (a bias
      // present in EVERY pass, which min-over-passes cannot remove)
      val probeDir = new java.io.File(ioDir, "probe")
      Option(probeDir.listFiles()).foreach(_.foreach(_.delete()))
      probeDir.delete()
      java.nio.file.Files.deleteIfExists(raw)
      (System.nanoTime() - t0) / 1e9
    }

    // Warmup: exercise scheduler + codegen + parquet reader once.
    // The sentinel itself must be warmed to steady state (JIT +
    // codegen cache) before its first MEASURED sample, or pass-1
    // reads high on every run and the spread flags contention on an
    // idle box: repeat until two consecutive runs agree within 30%
    // (bounded at 6 tries).
    var prev = sentinel()
    var cur = sentinel()
    var tries = 2
    while (tries < 6 && cur < prev * 0.7) { prev = cur; cur = sentinel(); tries += 1 }
    // the IO sentinel needs the same steady-state discipline (first
    // run pays scratch-dir creation + parquet writer codegen)
    var ioPrev = ioSentinel()
    var ioCur = ioSentinel()
    tries = 2
    while (tries < 6 && ioCur < ioPrev * 0.7) {
      ioPrev = ioCur; ioCur = ioSentinel(); tries += 1
    }
    ops.Tables.names.foreach { n =>
      try ops.Tables(spark, sfDir).table(n).limit(1).count()
      catch { case _: Throwable => () }
    }

    // default: full registry (the driver's per-round measurement);
    // headline mode times only the flagged subset for quick iteration
    val timed =
      (if (sys.env.get("SPARK_GRAFT_BENCH_MODE").contains("headline"))
        SparkEntry.benchQueries
      else SparkEntry.registry).sortBy(_.name)
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS").flatMap(_.toIntOption)
      .filter(_ >= 1).getOrElse(2)

    val names = timed.map(_.name)
    // SPARK_GRAFT_BENCH_SINK=noop executes the FULL plan through the
    // noop DSv2 sink instead of count() — count() lets Catalyst prune
    // operators that feed only unused output columns, so
    // projection-shaped queries bench the pruned plan (the BASELINE.md
    // round-10 caveat). Default stays count() for cross-round
    // per-query diffability; the noop mode is the pre-registered
    // switch (expect a one-time uniform upward step in
    // projection-shaped entries when flipping it).
    val noopSink = sys.env.get("SPARK_GRAFT_BENCH_SINK").contains("noop")
    def execute(df: org.apache.spark.sql.DataFrame): Unit =
      if (noopSink) df.write.mode("overwrite").format("noop").save()
      else { df.count(); () }
    val times = Array.fill(timed.size, reps)(Double.NaN)
    val ok = Array.fill(timed.size)(true)
    val sentinels = new Array[Double](reps + 1)
    val ioSentinels = new Array[Double](reps + 1)
    val ioDrains = new Array[Double](reps + 1)
    val sentinelsMid = new Array[Double](reps)
    val ioSentinelsMid = new Array[Double](reps)
    val ioDrainsMid = new Array[Double](reps)
    // drained IO sample: the first run flushes the preceding work's
    // writeback backlog (its fsync blocks behind pending dirty pages),
    // the SECOND run is the measurement — see the scaladoc geometry
    def ioSampleDrained(): (Double, Double) = {
      val drain = ioSentinel()
      (drain, ioSentinel())
    }
    val midAt = timed.size / 2
    for (pass <- 0 until reps) {
      sentinels(pass) = sentinel()
      val (d, m) = ioSampleDrained()
      ioDrains(pass) = d
      ioSentinels(pass) = m
      timed.zipWithIndex.foreach { case (q, i) =>
        if (i == midAt && timed.size > 1) {
          // mid-pass sample point (between queries, outside any timed
          // window): the third leg of the contention verdict
          sentinelsMid(pass) = sentinel()
          val (dm, mm) = ioSampleDrained()
          ioDrainsMid(pass) = dm
          ioSentinelsMid(pass) = mm
        }
        val t0 = System.nanoTime()
        // withEvictionDiagnostics: a query that retains a transient
        // checkpoint across evictions fails here with a descriptive
        // contract-violation error instead of a bare block-not-found
        try ops.SessionScratch.withEvictionDiagnostics(
          execute(q.run(spark, sfDir)))
        catch { case e: Throwable =>
          ok(i) = false
          System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
        }
        times(i)(pass) = (System.nanoTime() - t0) / 1e9
        // outside the timed window: release this query's transient
        // checkpoints so a 169-query marathon doesn't accumulate
        // block-manager pressure that inflates later queries (the r7
        // fixpoint family read 2-3× its steady state from exactly this)
        ops.SessionScratch.evictTransients()
      }
    }
    sentinels(reps) = sentinel()
    val (dFin, mFin) = ioSampleDrained()
    ioDrains(reps) = dFin
    ioSentinels(reps) = mFin

    // failed queries are excluded from the per-query map AND both
    // totals: a fast failure must never improve the headline number or
    // read as a per-query speedup when diffing rounds — the `failed`
    // list is the only place a broken query appears
    val good = names.indices.filter(ok)
    val qs = good.map(i => s""""${names(i)}":${times(i).min}""")
      .mkString("{", ",", "}")
    // per-rep samples (pass order): min-of-N hides one-sided pressure —
    // r7's fixpoint family could only be diagnosed by an out-of-band
    // re-run because BOTH passes ran inside the same marathon. With the
    // raw samples in the artifact, drift vs steady state is readable
    // without re-running anything.
    val samples = good.map(i =>
        s""""${names(i)}":${times(i).mkString("[", ",", "]")}""")
      .mkString("{", ",", "}")
    val total = good.map(i => times(i).min).sum
    val rawTotal = good.map(i => times(i)(0)).sum
    val passTotals = (0 until reps)
      .map(p => good.map(i => times(i)(p)).sum).mkString("[", ",", "]")
    val failed = names.indices.filterNot(ok)
      .map(i => s""""${names(i)}"""").mkString("[", ",", "]")
    val sentinelJson = sentinels.mkString("[", ",", "]")
    val ioSentinelJson = ioSentinels.mkString("[", ",", "]")
    val ioDrainJson = ioDrains.mkString("[", ",", "]")
    val sentinelMidJson = sentinelsMid.mkString("[", ",", "]")
    val ioSentinelMidJson = ioSentinelsMid.mkString("[", ",", "]")
    val ioDrainMidJson = ioDrainsMid.mkString("[", ",", "]")
    // like-for-like JVM states only: the verdict pools the pre-pass
    // samples of pass 2.. and the final sample, PLUS the mid-pass
    // samples of pass 2.. — everything taken after one full registry
    // pass (the pristine pre-pass-1 and mid-pass-1 samples are
    // reported but excluded; see scaladoc). With reps=1 only one post
    // sample exists, so no contention verdict is POSSIBLE — emit null
    // rather than a vacuous 1.0/false that reads as an affirmatively
    // clean round.
    def spreadOf(pre: Array[Double], mid: Array[Double])
        : Option[Double] = {
      val post = pre.drop(1) ++ mid.drop(1).filter(_ > 0.0)
      if (post.length < 2) None
      else Some(post.max / math.max(post.min, 1e-9))
    }
    val cpuSp = spreadOf(sentinels, sentinelsMid)
    val ioSp = spreadOf(ioSentinels, ioSentinelsMid)
    val spread = cpuSp.map(_.toString).getOrElse("null")
    val ioSpread = ioSp.map(_.toString).getOrElse("null")
    // per-resource verdicts at per-resource thresholds (CPU 2.0; IO
    // 2.5 — drained idle-box samples still carry more variance than
    // the fixed CPU op, BASELINE.md round-15 calibration), plus the
    // OR — the BENCH_r13 lesson stands: CPU-clean does not certify
    // IO-clean
    val cpuSuspect = cpuSp.map(v => (v > 2.0).toString).getOrElse("null")
    val ioSuspect = ioSp.map(v => (v > 2.5).toString).getOrElse("null")
    val suspect =
      if (cpuSp.isEmpty && ioSp.isEmpty) "null"
      else (cpuSp.exists(_ > 2.0) || ioSp.exists(_ > 2.5)).toString
    val sinkMode = if (noopSink) "noop" else "count"
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,""" +
        s""""sink":"$sinkMode",""" +
        s""""rep_mode":"round_robin","raw_first_run_total":$rawTotal,""" +
        s""""pass_totals":$passTotals,"sentinel_sec":$sentinelJson,""" +
        s""""sentinel_mid_sec":$sentinelMidJson,""" +
        s""""sentinel_spread":$spread,""" +
        s""""io_sentinel_sec":$ioSentinelJson,""" +
        s""""io_sentinel_mid_sec":$ioSentinelMidJson,""" +
        s""""io_drain_sec":$ioDrainJson,""" +
        s""""io_drain_mid_sec":$ioDrainMidJson,""" +
        s""""io_spread":$ioSpread,""" +
        s""""cpu_suspect":$cpuSuspect,"io_suspect":$ioSuspect,""" +
        s""""contention_suspect":$suspect,""" +
        s""""failed":$failed,"queries":$qs,"samples":$samples,""" +
        s""""sf":"$sfDir"}"""
    println(json)
    // A println is a fragile artifact channel: BENCH_r06.json preserved
    // only the log TAIL, losing every q1xx per-query timing. Persist the
    // same line to a file so the full map survives any log truncation.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try {
      val w = new java.io.PrintWriter(out, "UTF-8")
      try w.println(json) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}")
    }
    // The driver captures only the last ~2000 chars of stdout and the
    // full line above (~16 KB at 190 queries) overflows that window —
    // its HEAD is truncated away and BENCH_r{07..10}.json all recorded
    // parsed:null. Emit a compact summary as the LAST stdout line so a
    // tail-window scan finds one complete parseable JSON object: the
    // headline totals + sentinel verdict inline, the top-cost queries
    // (the ones a per-round grade reads first), and a pointer to the
    // persisted full map.
    val topK = good.sortBy(i => -times(i).min).take(10)
      .map(i => s""""${names(i)}":${math.round(times(i).min * 1000) / 1000.0}""")
      .mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,""" +
        s""""rep_mode":"round_robin","raw_first_run_total":$rawTotal,""" +
        s""""sentinel_spread":$spread,"io_spread":$ioSpread,""" +
        s""""cpu_suspect":$cpuSuspect,"io_suspect":$ioSuspect,""" +
        s""""contention_suspect":$suspect,""" +
        s""""failed":$failed,"n_queries":${good.size},""" +
        s""""queries_truncated":true,"top_queries":$topK,""" +
        s""""queries_file":"$out","sf":"$sfDir"}""")
    spark.stop()
  }
}
