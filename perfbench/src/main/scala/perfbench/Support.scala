package perfbench

import java.util.Properties
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval of one layer call; `parent` indexes the enclosing
  * span (-1 for an operation's root), `op` is the operation id. */
final class Span(val name: String, val start: Long, var end: Long,
    val parent: Int, val op: Int) {
  def toSeq: Seq[Any] = Seq(name, start, end, parent, op)
}

/** In-memory span recorder for the single client thread. When off, a
  * span is a plain call. */
final class Tracer {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var currentOp = -1
  var on = false

  def reset(enabled: Boolean): Unit = {
    buf.clear(); stack = Nil; currentOp = -1; on = enabled
  }

  def spans: Seq[Span] = buf.toSeq

  def span[T](name: String, op: Int = -1)(body: => T): T =
    if (!on) body
    else {
      if (op >= 0) currentOp = op
      val s = new Span(name, System.nanoTime(), 0L,
        stack.headOption.getOrElse(-1), currentOp)
      stack = buf.size :: stack
      buf += s
      try body
      finally { s.end = System.nanoTime(); stack = stack.tail }
    }
}

/** Per-operation Spark counters from the public listener surfaces:
  * jobs, stages and task metrics from a `SparkListener` (attributed by
  * the local property the client sets around each operation), and
  * Catalyst phase times and written-file counts from a
  * `QueryExecutionListener` (attributed later by time). */
final class SparkCounters(spark: SparkSession) extends SparkListener {
  import SparkCounters._

  private val perOp = new ConcurrentHashMap[String, mutable.Map[String, Double]]()
  private val jobs = new ConcurrentHashMap[Int, (String, Long)]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val queries = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Any]]()
  @volatile private var attached = false
  @volatile private var markerJobDone = false
  @volatile private var markerQueryDone = false

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      if (qe.analyzed.output.exists(_.name == MarkerColumn)) {
        markerQueryDone = true
        return
      }
      val ph = qe.tracker.phases
      def ms(p: String): Double = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
      // write commands carry numOutputBytes; scans also have numFiles
      val files = nodes(qe.executedPlan)
        .filter(_.metrics.contains("numOutputBytes"))
        .flatMap(_.metrics.get("numFiles")).map(_.value).sum
      queries.add(Seq(start, ms("analysis"), ms("optimization"),
        ms("planning"), files))
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case other                    => other.children
    }
    p +: inner.flatMap(nodes)
  }

  def attach(): Unit = {
    perOp.clear(); jobs.clear(); stageOp.clear(); queries.clear()
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  def detach(): Unit = {
    attached = false
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(qeListener)
    phase(null)
  }

  /** Marks the jobs that follow as fired while building the operation's
    * plan ("build") or by its final action ("action"). */
  def phase(p: String): Unit =
    if (attached) spark.sparkContext.setLocalProperty(PhaseKey, p)

  /** Blocks until every event posted before this call was delivered: the
    * listener bus is ordered, so a marker job and query seen by the
    * listeners means the earlier ones were seen too. */
  def drain(): Unit = {
    markerJobDone = false; markerQueryDone = false
    spark.sparkContext.setLocalProperty(OpKey, MarkerOp)
    spark.range(1).selectExpr(s"id as $MarkerColumn").collect()
    spark.sparkContext.setLocalProperty(OpKey, null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!(markerJobDone && markerQueryDone) && System.nanoTime() < deadline)
      Thread.sleep(5)
  }

  private def add(op: String, key: String, v: Double): Unit =
    if (op != null && op != MarkerOp) {
      val m = perOp.computeIfAbsent(op, _ => mutable.Map.empty[String, Double])
      m.synchronized { m(key) = m.getOrElse(key, 0.0) + v }
    }

  private def prop(p: Properties, k: String): String =
    if (p == null) null else p.getProperty(k)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = prop(e.properties, OpKey)
    if (op == MarkerOp) { jobs.put(e.jobId, (op, e.time)); return }
    if (op == null) return
    jobs.put(e.jobId, (op, e.time))
    e.stageIds.foreach(s => stageOp.put(s, op))
    add(op, "jobs", 1)
    if (prop(e.properties, PhaseKey) == "build") add(op, "build_jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { case (op, t0) =>
      if (op == MarkerOp) markerJobDone = true
      else add(op, "job_wall_ms", (e.time - t0).toDouble)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add(stageOp.get(e.stageInfo.stageId), "stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = stageOp.get(e.stageId)
    val m = e.taskMetrics
    if (op == null || m == null) return
    add(op, "tasks", 1)
    add(op, "task_ms", m.executorRunTime.toDouble)
    add(op, "cpu_ms", m.executorCpuTime / 1e6)
    add(op, "gc_ms", m.jvmGCTime.toDouble)
    add(op, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
    add(op, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
    add(op, "fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
    add(op, "spill_bytes", m.diskBytesSpilled.toDouble)
    add(op, "scan_rows", m.inputMetrics.recordsRead.toDouble)
    add(op, "scan_bytes", m.inputMetrics.bytesRead.toDouble)
  }

  def snapshot(): Map[String, Any] = Map(
    "per_op" -> perOp.asScala.map { case (k, v) => k -> v.toMap }.toMap,
    "queries" -> queries.asScala.toSeq)
}

object SparkCounters {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
  private val MarkerOp = "marker"
  private val MarkerColumn = "perfbench_drain_marker"
}

/** Result digests for the output checks. */
object Digest {
  private def sha(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).take(16).map(b => f"$b%02x").mkString

  /** Order-sensitive digest of delivered rows. */
  def rows(rs: Array[Row]): String = sha(rs.map(_.toString).mkString("\n"))

  /** Order-independent digest of a stored table: row count and the sum
    * of a 64-bit hash of every row. */
  def frame(df: DataFrame): String = {
    val r = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString}"
  }
}

/** Minimal JSON mapping between Jackson trees and Scala values. */
object Json {
  private val mapper = new ObjectMapper()

  def read(path: String): Map[String, Any] =
    obj(toScala(mapper.readValue(new java.io.File(path), classOf[Object])))

  private def toScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, x) => k.toString -> toScala(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(toScala).toSeq
    case other => other
  }

  def obj(v: Any): Map[String, Any] = v.asInstanceOf[Map[String, Any]]
  def list(v: Any): Seq[Any] = v.asInstanceOf[Seq[Any]]
  def num(v: Any): Double = v.asInstanceOf[Number].doubleValue
  def int(v: Any): Int = v.asInstanceOf[Number].intValue

  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"'  => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case '\n' => sb ++= "\\n"
        case '\r' => sb ++= "\\r"
        case '\t' => sb ++= "\\t"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    }
    def go(x: Any): Unit = x match {
      case null | None => sb ++= "null"
      case Some(y) => go(y)
      case s: String => str(s)
      case b: Boolean => sb ++= b.toString
      case d: Double =>
        sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
      case f: Float => go(f.toDouble)
      case n: Number => sb ++= n.toString
      case m: scala.collection.Map[_, _] =>
        sb += '{'
        m.iterator.zipWithIndex.foreach { case ((k, y), i) =>
          if (i > 0) sb += ','
          str(k.toString); sb += ':'; go(y)
        }
        sb += '}'
      case a: Array[_] => go(a.toSeq)
      case l: Iterable[_] =>
        sb += '['
        l.iterator.zipWithIndex.foreach { case (y, i) =>
          if (i > 0) sb += ','
          go(y)
        }
        sb += ']'
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}
