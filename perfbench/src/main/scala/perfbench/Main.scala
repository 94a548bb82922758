package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.MetadataExtractor
import graft.compile.{DemoPlanner, QueryExecutor, ResultSink, SafetyValidator}
import graft.etl.{Compaction, EtlRunner, MergeOps}
import graft.llmops.{IvfIndex, TextIndex}
import graft.model._
import graft.ops.{EngineQuery, SessionScratch, Tables}

/** Benchmark harness: runs one workload's generated operations in a
  * closed loop — one client thread, each request sent only after the
  * previous reply — and writes raw timings, results and (when traced)
  * layer spans and Spark counters to a JSON file. Percentiles, output
  * checks and the printed metrics are computed by run.py.
  *
  * Usage: Main PLAN_JSON OUT_JSON
  */
object Main {

  def main(args: Array[String]): Unit = {
    val plan = Json.read(args(0))
    val out = new Harness(plan).run()
    Files.writeString(Paths.get(args(1)), Json.write(out))
  }
}

/** One timed operation of the stream, as the generator wrote it. */
final case class Op(id: Int, kind: String, name: String,
    spec: Map[String, Any])

final class Harness(plan: Map[String, Any]) {
  private val workload = plan("workload").toString
  private val fixtures = plan("fixtures").toString
  private val work = plan("work").toString
  private val seconds = Json.num(plan("seconds"))
  private val cpus = Json.int(plan("cpus"))
  private val traced = plan("trace") == true
  private val minUnits = plan.get("min_units").map(Json.int).getOrElse(1)

  private val tracer = new Tracer
  private var spark: SparkSession = _
  private var listener: SparkCounters = _

  private def ops(key: String): Seq[Seq[Op]] =
    Json.list(plan(key)).map(unit => Json.list(unit).map { o =>
      val m = Json.obj(o)
      Op(Json.int(m("id")), m("kind").toString, m("name").toString, m)
    })

  def run(): Map[String, Any] = {
    val t0 = System.nanoTime()
    start()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val warm = ops("warmup")
    val setupResults = new Results
    warm.zipWithIndex.foreach { case (unit, i) =>
      unit.foreach(op => runOp(op, setupResults, s"$work/setup-c$i")) }
    val setupS = (System.nanoTime() - t0) / 1e9
    val setupFailed = setupResults.records.filterNot(_("ok") == true)

    val sentinelBefore = sentinel()
    val inputs = if (workload == "etl-store") etlUserBytes() else Map.empty
    val units = ops("units")
    val (untraced, tracedRun) =
      if (!traced) (timedLoop(units, traceOn = false), None)
      else {
        // the traced run also times an untraced window after the traced
        // one, so the tracing overhead is measured on the same process
        // and stream; the later window is the warmer one, so the
        // overhead reads high rather than low
        val withSpans = timedLoop(units, traceOn = true)
        (timedLoop(units, traceOn = false), Some(withSpans))
      }
    val sentinelAfter = sentinel()
    val main = tracedRun.getOrElse(untraced)
    val checks = postChecks(main)
    val rssMb = peakRssMb()
    spark.stop()
    Map(
      "workload" -> workload,
      "setup_s" -> setupS,
      "setup_failed" -> setupFailed,
      "setup_ops" -> setupResults.records.map(r => Seq(r("name"), r("ms"))).toSeq,
      "session_s" -> sessionS,
      "peak_rss_mb" -> rssMb,
      "sentinel_ms" -> Map("before" -> sentinelBefore,
        "after" -> sentinelAfter),
      "timed" -> main.summary,
      "untraced" -> (if (tracedRun.isDefined) untraced.summary else null),
      "checks" -> checks,
      "inputs" -> inputs)
  }

  // ---- session ---------------------------------------------------------

  private def start(): Unit = {
    spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables(spark, fixtures).registerAll()
    listener = new SparkCounters(spark)
  }

  /** Fixed CPU work on every core, no I/O: its time moves only when
    * something else competes for the machine. Median of three runs. */
  private def sentinel(): Double = {
    val ts = (0 until 3).map { _ =>
      val t = System.nanoTime()
      spark.range(0L, 20000000L, 1L, cpus)
        .selectExpr("sum(cast(hash(id) as bigint))").collect()
      (System.nanoTime() - t) / 1e6
    }.sorted
    ts(1)
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(0.0)

  // ---- the closed loop -------------------------------------------------

  private final class Results {
    val records = mutable.ArrayBuffer.empty[Map[String, Any]]
    /** First result of each gate (its rows and schema), for the oracle. */
    val gateRows = mutable.LinkedHashMap.empty[String, (Array[Row], DataFrame)]
    val gateDigest = mutable.Map.empty[String, String]
    val sqlResults = mutable.ArrayBuffer.empty[Map[String, Any]]
    val storeRows = mutable.LinkedHashMap.empty[String, Seq[Row]]
    val compactFiles = mutable.ArrayBuffer.empty[(Int, Int)]
    var bytesWritten = 0L
    var wallS = 0.0
    var spans: Seq[Span] = Nil
    var counters: Map[String, Any] = Map.empty
    /** (unit index, warehouse dir) of every ETL cycle run. */
    val cycles = mutable.ArrayBuffer.empty[(Int, String)]

    def summary: Map[String, Any] = Map(
      "wall_s" -> wallS,
      "ops" -> records.toSeq,
      "bytes_written" -> bytesWritten,
      "compact_files" -> compactFiles.map { case (a, b) => Seq(a, b) }.toSeq,
      "cycles" -> cycles.map { case (u, wh) => Seq(u, wh) }.toSeq,
      "spans" -> spans.map(_.toSeq),
      "counters" -> counters)
  }

  /** Whole units (a gate pass, a SQL block, an ETL cycle) run until
    * `seconds` have elapsed; every unit has the same composition, so
    * where the clock stops does not change the operation mix. */
  private def timedLoop(units: Seq[Seq[Op]], traceOn: Boolean): Results = {
    val res = new Results
    window += 1
    tracer.reset(traceOn)
    if (traceOn) listener.attach()
    val written0 = hadoopBytesWritten()
    val t0 = System.nanoTime()
    var u = 0
    while (u < minUnits || (System.nanoTime() - t0) / 1e9 < seconds) {
      val wh = s"$work/w$window-c$u"
      if (workload == "etl-store") res.cycles += ((u % units.size, wh))
      units(u % units.size).foreach(op =>
        runOp(op.copy(id = op.id + 100000 * (u / units.size)), res, wh))
      u += 1
    }
    res.wallS = (System.nanoTime() - t0) / 1e9
    res.bytesWritten = hadoopBytesWritten() - written0
    if (traceOn) {
      listener.drain()
      res.spans = tracer.spans
      res.counters = listener.snapshot()
      listener.detach()
    }
    tracer.reset(false)
    res
  }

  private var window = 0
  /** Rows delivered by the operation that just ran. */
  private var delivered = 0L

  private def runOp(op: Op, res: Results, wh: String): Unit = {
    spark.sparkContext.setLocalProperty(SparkCounters.OpKey, op.id.toString)
    val startMs = System.currentTimeMillis()
    val t = System.nanoTime()
    var err: String = null
    delivered = 0L
    lastGate = None
    try tracer.span("op", op.id)(execute(op, res, wh))
    catch { case e: Throwable =>
      err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
    }
    val ms = (System.nanoTime() - t) / 1e6
    val endMs = System.currentTimeMillis()
    spark.sparkContext.setLocalProperty(SparkCounters.OpKey, null)
    if (err == null)
      try recordGate(op.name, res)
      catch { case e: Throwable => err = e.getMessage }
    res.records += Map("id" -> op.id, "kind" -> op.kind, "name" -> op.name,
      "module" -> moduleOf.getOrElse(op.name, op.kind), "ms" -> ms,
      "start_ms" -> startMs, "end_ms" -> endMs,
      "rows" -> delivered, "ok" -> (err == null), "error" -> err)
  }

  private def execute(op: Op, res: Results, wh: String): Unit =
    op.kind match {
      case "gate" => runGate(op, res)
      case "sql"  => runSql(op, res)
      case _      => runCycleStep(op, res, wh)
    }

  // ---- gates -----------------------------------------------------------

  private def runGate(op: Op, res: Results): Unit = {
    val q = gates(op.name)
    val df = tracer.span("ops.build") {
      listener.phase("build")
      q.run(spark, fixtures)
    }
    val rows = tracer.span("ops.action") {
      listener.phase("action")
      SessionScratch.withEvictionDiagnostics(df.collect())
    }
    listener.phase(null)
    tracer.span("ops.evict")(SessionScratch.evictTransients())
    delivered = rows.length
    lastGate = Some((rows, df))
  }

  /** The rows of the gate that just ran, checked after its timing: a
    * repeat of a gate within one run must deliver its first result. */
  private var lastGate: Option[(Array[Row], DataFrame)] = None

  private def recordGate(name: String, res: Results): Unit =
    lastGate.foreach { case (rows, df) =>
      lastGate = None
      val digest = Digest.rows(rows)
      res.gateDigest.get(name) match {
        case None =>
          res.gateDigest(name) = digest
          res.gateRows(name) = (rows, df)
        case Some(d) if d != digest =>
          throw new IllegalStateException(
            s"$name: result differs from its first run in this process")
        case _ => ()
      }
    }

  /** The gates a workload may run, with the registry module of each. */
  private val (gates, moduleOf) = {
    import graft.ops._
    val modules = Seq("Relational" -> Relational.all, "WindowOps" -> WindowOps.all,
      "Scalar" -> Scalar.all, "TpchSuite" -> TpchSuite.all,
      "TpchSuite2" -> TpchSuite2.all, "TpchSuite3" -> TpchSuite3.all,
      "EventOps" -> EventOps.all, "PipelineQueries" -> PipelineQueries.all)
    (modules.flatMap(_._2).map(q => q.name -> q).toMap,
      modules.flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap)
  }

  // ---- requests through the planner and the guarded execute path ------

  private lazy val executor = new QueryExecutor(spark)

  /** The catalog the demo planner plans against: the engine's own
    * introspection of the fixture tables the plan names. */
  private lazy val demoCatalog = MetadataExtractor.fromParquetDir(spark,
    fixtures, Json.list(plan("demo_tables")).map(_.toString))

  /** A natural-language request is planned into SQL by DemoPlanner; an
    * op that carries SQL text sends it as is. Either goes through
    * QueryExecutor, which must refuse exactly the unsafe ones. */
  private def runSql(op: Op, res: Results): Unit = {
    val (sql, tablesUsed) = op.spec.get("request") match {
      case Some(request) =>
        val g = DemoPlanner.plan(request.toString, demoCatalog)
        if (g.isBlocked)
          throw new IllegalStateException("planner blocked a safe request")
        (g.sql, g.tablesUsed)
      case None => (op.spec("sql").toString, Nil)
    }
    val refused = try {
      val rs =
        if (!tracer.on) executor.executeToResultSet(sql)
        else {
          // QueryExecutor exposes no hook inside execute, so validate is
          // timed on a copy of its gate; its verdict is discarded and the
          // program's own execute below refuses or runs the SQL
          tracer.span("compile.validate") {
            val cleaned = sql.trim.stripSuffix(";")
            SafetyValidator.validateSql(cleaned).flatMap(_ =>
              SafetyValidator.validatePlan(
                spark.sessionState.sqlParser.parsePlan(cleaned)))
          }
          val df = tracer.span("compile.execute")(executor.execute(sql))
          tracer.span("compile.result")(ResultSink.toResultSet(df))
        }
      delivered = rs.rowCount
      res.sqlResults += Map("id" -> op.id, "sql" -> sql,
        "tables_used" -> tablesUsed, "columns" -> rs.columns,
        "rows" -> rs.data.map(r => rs.columns.map(r(_))))
      false
    } catch {
      case e: IllegalArgumentException
          if String.valueOf(e.getMessage).startsWith("blocked:") => true
    }
    if (refused) res.sqlResults += Map("id" -> op.id, "refused" -> true)
    if (refused != (op.spec("unsafe") == true))
      throw new IllegalStateException(
        if (refused) "safe SQL was refused" else "unsafe SQL was executed")
  }

  // ---- ETL and maintained stores ---------------------------------------

  private def tables = Tables(spark, fixtures)

  private def resolve(name: String): DataFrame =
    if (name == "events") tables.events else tables.table(name)

  private def etlSpec(m: Map[String, Any]): EtlSpec = {
    val steps = Json.list(m("transform")).map { s =>
      val st = Json.obj(s)
      st("step").toString match {
        case "null_default" => TransformStep.NullDefault(
          Json.obj(st("defaults")).map { case (k, v) => k -> v.toString })
        case "date_standardize" => TransformStep.DateStandardize(
          st("column").toString, st("format").toString)
        case "type_validate" => TransformStep.TypeValidate(
          st("column").toString, st("to").toString)
        case "derive" => TransformStep.Derive(
          st("alias").toString, st("expr").toString)
        case "filter" => TransformStep.FilterRows(st("predicate").toString)
      }
    }
    EtlSpec(
      ExtractSpec(Json.list(m("sources")).map(_.toString),
        Json.list(m("conditions")).map(_.toString)),
      steps,
      LoadSpec(m("target").toString, m("mode").toString,
        Json.list(m("partition_by")).map(_.toString)))
  }

  private def idFrame(ids: Seq[Long], name: String): DataFrame = {
    val s = spark
    import s.implicits._
    ids.toDF(name)
  }

  private def idsOf(m: Map[String, Any], key: String): Seq[Long] =
    Json.list(m(key)).map(v => Json.num(v).toLong)

  private def docsIn(m: Map[String, Any], key: String): DataFrame =
    tables.documents.join(idFrame(idsOf(m, key), "doc_id"), "doc_id")

  private def vecsIn(m: Map[String, Any], key: String): DataFrame =
    tables.embeddings.join(idFrame(idsOf(m, key), "vec_id"), "vec_id")

  private def runCycleStep(op: Op, res: Results, wh: String): Unit = {
    val m = op.spec
    val runner = new EtlRunner(spark, resolve, wh)
    op.name match {
      case "etl_append" | "etl_overwrite" =>
        val spec = etlSpec(Json.obj(m("etl")))
        if (!tracer.on) runner.run(spec)
        else {
          val ex = tracer.span("etl.extract")(runner.extract(spec.extract))
          val tr = tracer.span("etl.transform")(
            runner.transform(ex, spec.transform))
          tracer.span("etl.load")(runner.load(tr, spec.load))
        }
      case "etl_merge" =>
        val mm = Json.obj(m("merge"))
        tracer.span("etl.merge") {
          val c = tables.customer
          val snap = c.filter(col("c_custkey").between(
              Json.num(mm("lo")).toLong, Json.num(mm("hi")).toLong))
            .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
          val upd = snap.filter(col("c_custkey") % 10 === Json.int(mm("upd")))
            .select(col("c_custkey"), col("c_name"),
              (col("c_acctbal") + 100.0).as("c_acctbal"),
              lit("UPDATED").as("c_mktsegment"), lit("U").as("op"))
          val del = snap.filter(col("c_custkey") % 17 === Json.int(mm("del")))
            .filter(col("c_custkey") % 10 =!= Json.int(mm("upd")))
            .withColumn("op", lit("D"))
          val ins = snap.filter(col("c_custkey") % 25 === Json.int(mm("ins")))
            .select((col("c_custkey") + 1000000L).as("c_custkey"),
              concat(lit("New"), col("c_name")).as("c_name"),
              lit(0.0).as("c_acctbal"), lit("NEW").as("c_mktsegment"),
              lit("I").as("op"))
          MergeOps.merge(snap, upd.unionByName(del).unionByName(ins),
              "c_custkey", "op")
            .write.mode("overwrite").parquet(s"$wh/customer_merged")
        }
      case "etl_compact" =>
        val in = s"$wh/${m("table")}"
        val out = s"$in-compacted"
        tracer.span("etl.compact")(Compaction.compact(spark, in, out,
          Json.num(m("target_bytes")).toLong))
        res.compactFiles += ((dataFiles(in), dataFiles(out)))
      case name =>
        val st = Json.obj(m("store"))
        val kind = st("kind").toString
        val path = s"$wh/$kind-store"
        val step = name.stripPrefix(s"${kind}_")
        tracer.span(s"store.$step")(storeStep(kind, step, st, path, res,
          s"$wh/$name"))
    }
  }

  private def storeStep(kind: String, step: String, st: Map[String, Any],
      path: String, res: Results, key: String): Unit = (kind, step) match {
    case ("text", "build")  => TextIndex.build(docsIn(st, "base"), path)
    case ("text", "append") => TextIndex.append(docsIn(st, "append"), path)
    case ("text", "delete") =>
      TextIndex.delete(idFrame(idsOf(st, "delete"), "doc_id"), path)
    case ("text", "search") =>
      res.storeRows(key) = TextIndex.search(spark, path,
        Json.list(st("terms")).map(_.toString)).collect().toSeq
      delivered = res.storeRows(key).size
    case ("text", "compact") => TextIndex.compact(spark, path); ()
    case ("text", "vacuum")  => TextIndex.vacuum(spark, path); ()
    case ("text", "fsck")    => requireHealthy(TextIndex.fsck(spark, path))
    case ("ivf", "build")  => IvfIndex.build(vecsIn(st, "base"), path)
    case ("ivf", "append") => IvfIndex.append(vecsIn(st, "append"), path)
    case ("ivf", "delete") =>
      IvfIndex.delete(idFrame(idsOf(st, "delete"), "vec_id"), path)
    case ("ivf", "search") =>
      val q = vecsIn(st, "queries")
        .select(col("vec_id").as("qid"), col("embedding").as("eq"))
      res.storeRows(key) = IvfIndex.search(q, path).collect().toSeq
      delivered = res.storeRows(key).size
    case ("ivf", "compact") => IvfIndex.compact(spark, path); ()
    case ("ivf", "vacuum")  => IvfIndex.vacuum(spark, path); ()
    case ("ivf", "fsck")    => requireHealthy(IvfIndex.fsck(spark, path))
  }

  private def requireHealthy(r: graft.llmops.IndexMaintenance.FsckReport)
      : Unit =
    if (!r.healthy) throw new IllegalStateException(s"fsck not healthy: $r")

  /** Data files under `dir`: no `.crc` sidecars, no `_` or `.` names —
    * the benchmark's own count, independent of the engine's listing. */
  private def dataFiles(dir: String): Int = {
    def walk(f: File): Int =
      Option(f.listFiles()).map(_.toSeq).getOrElse(Nil).map { c =>
        val n = c.getName
        if (c.isDirectory) walk(c)
        else if (n.startsWith("_") || n.startsWith(".") || n.endsWith(".crc")) 0
        else 1
      }.sum
    walk(new File(dir))
  }

  private def hadoopBytesWritten(): Long =
    FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  /** Bytes of the user rows each ETL cycle loads or appends, as the JSON
    * text of the rows: exact and independent of the storage format. */
  private def etlUserBytes(): Map[String, Any] = {
    def jsonBytes(df: DataFrame): Long = {
      val r = df.select(sum(octet_length(to_json(struct(df.columns.map(col)
        .toIndexedSeq: _*))))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    val runner = new EtlRunner(spark, resolve, s"$work/unused")
    ops("units").zipWithIndex.map { case (unit, u) =>
      val bytes = unit.map { op =>
        val m = op.spec
        op.name match {
          case "etl_append" | "etl_overwrite" =>
            val spec = etlSpec(Json.obj(m("etl")))
            jsonBytes(runner.transform(runner.extract(spec.extract),
              spec.transform))
          case "text_build"  => jsonBytes(docsIn(Json.obj(m("store")), "base"))
          case "text_append" => jsonBytes(docsIn(Json.obj(m("store")), "append"))
          case "ivf_build"   => jsonBytes(vecsIn(Json.obj(m("store")), "base"))
          case "ivf_append"  => jsonBytes(vecsIn(Json.obj(m("store")), "append"))
          case _ => 0L
        }
      }.sum
      u.toString -> bytes
    }.toMap
  }

  // ---- after the timed window: results for run.py's checks ------------

  private def postChecks(r: Results): Map[String, Any] = {
    val dumps = s"$work/gate-results"
    val gateOut = r.gateRows.map { case (name, (rows, df)) =>
      spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dumps/$name")
      name
    }.toSeq
    val etl = if (workload != "etl-store") Map.empty[String, Any] else {
      r.cycles.map { case (_, wh) =>
        def tableDigest(dir: String): String =
          Digest.frame(spark.read.parquet(dir))
        val storeDigests = r.storeRows.collect {
          case (k, rows) if k.startsWith(s"$wh/") =>
            k.stripPrefix(s"$wh/") -> Digest.rows(rows.toArray)
        }
        val text = TextIndex.fsck(spark, s"$wh/text-store")
        val ivf = IvfIndex.fsck(spark, s"$wh/ivf-store")
        val textLive = TextIndex.stats(spark, s"$wh/text-store")._1
        val ivfLive = IvfIndex.members(spark, s"$wh/ivf-store").count()
        wh -> (Map(
          "etl_table" -> tableDigest(s"$wh/lineitem_monthly"),
          "etl_table_compacted" -> tableDigest(s"$wh/lineitem_monthly-compacted"),
          "customer_merged" -> tableDigest(s"$wh/customer_merged"),
          "text_live_docs" -> textLive.toString,
          "ivf_live_members" -> ivfLive.toString) ++ storeDigests ++ Map(
          "store_bytes" -> (text.committedBytes + ivf.committedBytes),
          "store_live_rows" -> (textLive + ivfLive)))
      }.toMap
    }
    Map("gate_dumps" -> dumps, "gates" -> gateOut,
      "oracle" -> gateOut.flatMap(g => gates(g).oracle.map(g -> _)).toMap,
      "sql" -> r.sqlResults.toSeq, "etl" -> etl)
  }
}
