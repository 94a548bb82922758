package graft.llmops

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CollectMetricsExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkTestBase

/** One Spark query per store commit: the numbers a commit records (BM25
  * corpus stats, append and delete counts) are observed in the result
  * stage of the query that writes or pins the rows, never taken by a
  * second pass — and they equal what a second pass would have counted.
  */
class StoreCommitSpec extends SparkTestBase {

  private def freshDir(tag: String): String = {
    val d = java.nio.file.Files
      .createTempDirectory(s"graft_commit_${tag}_").toString
    new java.io.File(d).deleteOnExit()
    d
  }

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private def embs = spark.read.parquet(s"$sfDir/embeddings.parquet")

  /** The queries `body` executed, in completion order. A marker query
    * run after `body` drains the listener bus (it delivers in order).
    */
  private def queriesOf(body: => Unit): Seq[QueryExecution] = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]
    val marker = s"marker_${java.util.UUID.randomUUID().toString.take(8)}"
    val drained = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.output.exists(_.name == marker)) drained.countDown()
        else seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF(marker).collect()
      assert(drained.await(60, TimeUnit.SECONDS),
        "the marker query's event never arrived")
      seen.toArray(Array.empty[QueryExecution]).toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  /** Physical children, looking through adaptive execution's wrappers. */
  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case other => other.children
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] =
    p +: kids(p).flatMap(nodes)

  /** Every path from `p` down to a node matching `hit`. */
  private def pathsTo(p: SparkPlan)(
      hit: SparkPlan => Boolean): Seq[Seq[SparkPlan]] =
    if (hit(p)) Seq(Seq(p))
    else kids(p).flatMap(pathsTo(_)(hit)).map(p +: _)

  /** The executed plan of each parquet write `body` ran into `dir`. */
  private def writesInto(dir: String)(body: => Unit): Seq[SparkPlan] =
    queriesOf(body).map(_.executedPlan).flatMap(nodes).collect {
      case w: DataWritingCommandExec
          if w.cmd.toString.contains(new java.io.File(dir).getName) => w
    }

  /** `write` observes its metrics in its result stage: a
    * CollectMetricsExec with no Exchange between it and the write.
    */
  private def observedInResultStage(clue: String, write: SparkPlan): Unit = {
    val paths = pathsTo(write)(_.isInstanceOf[CollectMetricsExec])
    assert(paths.nonEmpty, s"$clue: no CollectMetricsExec:\n$write")
    paths.foreach(path => assert(!path.exists(_.isInstanceOf[Exchange]),
      s"$clue: an Exchange separates the metrics from the write:\n$write"))
  }

  private def exchanges(p: SparkPlan): Int =
    nodes(p).count(_.isInstanceOf[Exchange])

  // ---- (a) the commit's numbers are observed in the write's result stage

  test("TextIndex build and append: the postings write observes the " +
    "corpus stats in its result stage and shuffles exactly once") {
    val p = freshDir("text_plan")
    val build = writesInto(p) {
      TextIndex.build(docs.filter(col("doc_id") % 2 === 0), p)
    }
    val append = writesInto(p) {
      TextIndex.append(docs.filter(col("doc_id") % 2 === 1), p)
    }
    Seq("build" -> build, "append" -> append).foreach { case (op, ws) =>
      assert(ws.size == 1, s"$op: one postings write expected, got $ws")
      observedInResultStage(s"text $op", ws.head)
      assert(exchanges(ws.head) == 1,
        s"text $op: the postings write must shuffle once:\n${ws.head}")
    }
  }

  test("IvfIndex and IvfPqIndex append: the delta write observes its own " +
    "count in its result stage") {
    Seq[(String, (DataFrame, String) => Unit, (DataFrame, String) => Unit)](
      ("ivf", IvfIndex.build(_, _, k = 4), IvfIndex.append),
      ("ivfpq", IvfPqIndex.build(_, _, k = 4), IvfPqIndex.append)
    ).foreach { case (kind, build, append) =>
      val p = freshDir(s"${kind}_plan")
      build(embs.filter(col("vec_id") % 2 === 0), p)
      val ws = writesInto(p)(append(embs.filter(col("vec_id") % 2 === 1), p))
      assert(ws.size == 1, s"$kind: one delta write expected, got $ws")
      observedInResultStage(s"$kind append", ws.head)
    }
  }

  // ---- (b) the observed stats equal a plain aggregate

  test("TextIndex stats: build and append record exactly a plain " +
    "(count, sum(nWords)) over the documents, blank and space-run " +
    "documents included") {
    import spark.implicits._
    val edges = Seq("", "   ", "  lead", "trail  ", "a  b", " x  y   z ")
      .zipWithIndex.map { case (t, i) => (1000000L + i, t) }
      .toDF("doc_id", "text")
    val base = docs.select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 3 =!= 0).unionByName(edges)
    val wave = docs.select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 3 === 0)
    // the test-side reference: a second pass over the same documents
    def plain(d: DataFrame): (Long, Long) = {
      val r = d.agg(count(lit(1)),
        sum(TextStats.nWords(col("text")).cast("long"))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val p = freshDir("text_stats")
    TextIndex.build(base, p)
    assert(TextIndex.stats(spark, p) == plain(base))
    TextIndex.append(wave, p)
    assert(TextIndex.stats(spark, p) == plain(base.unionByName(wave)))
  }

  // ---- (c) empty commits finish, record 0 and stay healthy

  test("an empty append batch and an empty TextIndex.delete finish, " +
    "record 0 and leave fsck healthy") {
    import spark.implicits._
    // a scan that returns no rows, and a frame the optimizer can prove
    // empty (its observed metrics may be pruned with it)
    val emptyDocs = Seq(docs.filter(col("doc_id") < 0), docs.limit(0))
    val emptyVecs = Seq(embs.filter(col("vec_id") < 0), embs.limit(0))
    val t = freshDir("text_empty")
    TextIndex.build(docs, t)
    val before = TextIndex.stats(spark, t)
    emptyDocs.foreach { d =>
      TextIndex.append(d, t)
      TextIndex.delete(d.select(col("doc_id")), t)
    }
    TextIndex.delete(Seq.empty[Long].toDF("doc_id"), t)
    assert(TextIndex.stats(spark, t) == before)
    assert(!new java.io.File(t, "_text_index_manifest_tombs").exists(),
      "an empty delete commits no tombstone")
    assert(TextIndex.fsck(spark, t).healthy)
    Seq[(MaintainedStore, (DataFrame, String) => Unit,
        (DataFrame, String) => Unit)](
      (IvfIndex, IvfIndex.build(_, _, k = 4), IvfIndex.append),
      (IvfPqIndex, IvfPqIndex.build(_, _, k = 4), IvfPqIndex.append),
      (GraphIndex, GraphIndex.build(_, _, k = 4), GraphIndex.append)
    ).foreach { case (st, build, append) =>
      val p = freshDir(s"${st.kind}_empty")
      build(embs, p)
      emptyVecs.foreach(append(_, p))
      assert(IndexMaintenance.readTrainStats(spark, p).get.nAppended == 0,
        st.kind)
      assert(st.fsck(spark, p).healthy, st.kind)
    }
  }

  test("a non-empty append records the batch's size in the provenance") {
    val wave = embs.filter(col("vec_id") % 8 === 1)
    val n = wave.count()
    Seq[(String, (DataFrame, String) => Unit, (DataFrame, String) => Unit)](
      ("ivf", IvfIndex.build(_, _, k = 4), IvfIndex.append),
      ("ivfpq", IvfPqIndex.build(_, _, k = 4), IvfPqIndex.append),
      ("graph", GraphIndex.build(_, _, k = 4), GraphIndex.append)
    ).foreach { case (kind, build, append) =>
      val p = freshDir(s"${kind}_bump")
      build(embs.filter(col("vec_id") % 8 =!= 1), p)
      append(wave, p)
      assert(IndexMaintenance.readTrainStats(spark, p).get.nAppended == n,
        kind)
    }
  }

  // ---- (d) the text delete commits what the generic path commits

  test("TextIndex.delete leaves the tombstone set and stats the generic " +
    "addTombstones path leaves") {
    import spark.implicits._
    val direct = freshDir("text_del_direct")
    val generic = freshDir("text_del_generic")
    Seq(direct, generic).foreach(TextIndex.build(docs, _))
    /** The generic path: the effective ids through addTombstones, the
      * stats adjusted by a plain aggregate over the same rows.
      */
    def genericDelete(ids: DataFrame): Unit = {
      val eff = TextIndex.postings(spark, generic)
        .join(ids.toDF("id"), col("doc_id") === col("id"), "left_semi")
        .groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
      val r = eff.agg(count(lit(1)), sum(col("dl"))).head()
      val (n0, dl0) = TextIndex.stats(spark, generic)
      IndexMaintenance.addTombstones(spark, generic, TextIndex.manifestName,
        TextIndex.what, eff.select(col("doc_id")))
      if (r.getLong(0) > 0) {
        val stamp = IndexMaintenance.tombFingerprint(spark, generic,
          TextIndex.manifestName).get
        IndexMaintenance.writeSidecar(spark, generic, "_text_index_stats",
          s"n_docs=${n0 - r.getLong(0)};sum_dl=${dl0 - r.getLong(1)};" +
            s"tombs=$stamp")
      }
    }
    def tombs(p: String): Seq[Long] = IndexMaintenance
      .tombstones(spark, p, TextIndex.manifestName, TextIndex.what).get
      .collect().map(_.getLong(0)).sorted.toSeq
    // the second wave repeats ids, re-deletes some and names absent ones
    val waves = Seq(
      docs.filter(col("doc_id") % 5 === 0).select(col("doc_id")),
      docs.filter(col("doc_id") % 5 === 0 || col("doc_id") % 7 === 0)
        .select(col("doc_id"))
        .union(Seq(-1L, 99999999L, 7L, 7L).toDF("doc_id")))
    waves.foreach { ids =>
      TextIndex.delete(ids, direct)
      genericDelete(ids)
      assert(tombs(direct) == tombs(generic))
      assert(TextIndex.stats(spark, direct) == TextIndex.stats(spark, generic))
      assert(TextIndex.fsck(spark, direct).healthy)
    }
    assert(tombs(direct).nonEmpty)
  }
}
