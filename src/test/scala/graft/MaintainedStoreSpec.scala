package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.llmops._

/** One small instance of each registered store kind over the sf0.001
  * fixtures: how to build it, read it (the rendered answer), and run each
  * maintenance step it offers. Keyed by kind, so a spec iterating
  * [[MaintainedStore.all]] fails when a kind has no fixture.
  */
final case class StoreCase(
    build: String => Unit,
    read: String => Seq[String],
    append: Option[String => Unit],
    delete: Option[String => Unit],
    republish: Option[String => Unit],
    provenanceBump: Option[String => Unit])

object StoreCase {

  def all(spark: SparkSession, sfDir: String): Map[String, StoreCase] = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val even = docs.filter(col("doc_id") % 2 === 0)
    val wave = docs.filter(col("doc_id") % 8 === 1)
    val probed = docs.filter(col("doc_id") % 8 === 3)
    val docTakedown = docs.filter(col("doc_id") % 4 === 0)
    val vecs = embs.filter(col("vec_id") % 2 === 0)
    val vecWave = embs.filter(col("vec_id") % 8 === 1)
    val vecTakedown =
      embs.filter(col("vec_id") % 4 === 0).select(col("vec_id"))
    val q = embs.filter(col("vec_id") < 6)
      .select(col("vec_id").as("qid"), col("embedding").as("eq"))
    lazy val bpe = Bpe.trainOn(Bpe.wordFreqOf(even.select(col("text"))),
      Bpe.Rounds)
    lazy val clf = Curation.trainClassifierOn(spark,
      even.select(col("doc_id"), col("text"))).w
    def rendered(rows: Array[org.apache.spark.sql.Row]): Seq[String] =
      rows.map(_.toString).sorted.toSeq
    Map(
      "dedup" -> StoreCase(
        DedupIndex.build(even, _),
        p => rendered(DedupIndex.probe(probed, p).select("doc_id")
          .collect()),
        Some(p => DedupIndex.append(wave, p)),
        Some(DedupIndex.delete(docTakedown.select(col("doc_id")), _)),
        None, None),
      "bm25" -> StoreCase(
        TextIndex.build(even, _),
        p => rendered(TextIndex.search(spark, p,
          Seq("spark", "join", "window")).collect()),
        Some(TextIndex.append(wave, _)),
        Some(TextIndex.delete(docTakedown.select(col("doc_id")), _)),
        None, None),
      "ngram" -> StoreCase(
        NgramIndex.build(even, _),
        p => rendered(NgramIndex.lm(spark, p).collect()),
        Some(NgramIndex.append(wave, _)),
        Some(NgramIndex.delete(docTakedown, _)),
        None, None),
      "bpe" -> StoreCase(
        BpeModel.save(spark, bpe, _, nTrain = 250),
        p => BpeModel.load(spark, p).map(_.toString),
        None, None,
        Some(BpeModel.republish(spark, bpe, _, nTrain = 250)),
        Some(BpeModel.noteApplied(spark, _, 10L))),
      "clf" -> StoreCase(
        ClfModel.save(spark, clf, _, nTrain = 250),
        p => rendered(ClfModel.load(spark, p).collect()),
        None, None,
        Some(ClfModel.republish(spark, clf, _, nTrain = 250)),
        Some(ClfModel.noteApplied(spark, _, 10L))),
      "ivf" -> StoreCase(
        IvfIndex.build(vecs, _, k = 4),
        p => rendered(IvfIndex.search(q, p).collect()),
        Some(IvfIndex.append(vecWave, _)),
        Some(IvfIndex.delete(vecTakedown, _)),
        Some(IvfIndex.republish(vecs, _, k = 4)), None),
      "ivfpq" -> StoreCase(
        IvfPqIndex.build(vecs, _, k = 4),
        p => rendered(IvfPqIndex.search(q, p).collect()),
        Some(IvfPqIndex.append(vecWave, _)),
        Some(IvfPqIndex.delete(vecTakedown, _)),
        Some(IvfPqIndex.republish(vecs, _, k = 4)), None),
      "graph" -> StoreCase(
        GraphIndex.build(vecs, _, k = 4),
        p => rendered(GraphIndex.search(q, p).collect()),
        Some(GraphIndex.append(vecWave, _)),
        Some(GraphIndex.delete(vecTakedown, _)),
        Some(GraphIndex.republish(vecs, _, k = 4)), None))
  }
}

/** The crash-injection matrix: every registered store × every commit
  * step of the shared protocol. Each cell leaves exactly the on-disk
  * state a crash at that step leaves, then checks that reads refuse
  * descriptively (or keep serving the committed generation, where the
  * step's commit is an atomic swap), that fsck reports the state, that
  * vacuum restores health (or, where only a rebuild can, refuses or
  * leaves the store reported unhealthy), and that retrying the
  * interrupted step succeeds. Every rebuild, at any live generation,
  * leaves the store healthy with no superseded generation to sweep.
  *
  * Columns (the crash point):
  *  - data write: payload files landed, manifest not republished;
  *  - manifest publish: a build committed its manifest, but its later
  *    sidecars (provenance, then the config marker) never landed;
  *  - stats write: the build's stats sidecar landed, later steps did not
  *    (stores with a stats sidecar: `_train_stats`, BM25's corpus stats);
  *  - mid-compaction: generation N+1 written, manifest not swapped;
  *  - mid-republish: the trained ANN stores' config retracted and the
  *    rebuild torn; the frozen models' generation N+1 written, manifest
  *    not swapped.
  */
class MaintainedStoreSpec extends SparkTestBase {

  private lazy val cases = StoreCase.all(spark, sfDir)

  private def freshDir(tag: String): String = {
    val d = java.nio.file.Files
      .createTempDirectory(s"graft_ms_${tag}_").toString
    new java.io.File(d).deleteOnExit()
    d
  }

  private def refuses(clue: String, fragments: String*)(
      body: => Any): Unit = {
    val e = intercept[IllegalStateException](body)
    assert(fragments.forall(e.getMessage.contains), s"$clue: ${e.getMessage}")
  }

  /** Write the live generation's rows into generation N+1 without
    * swapping the manifest — a compaction or frozen-model republish that
    * crashed before its publish.
    */
  private def unpublishedGeneration(st: MaintainedStore,
      path: String): Unit = {
    val live = st.dataDir(spark, path)
    val gen = "-g(\\d+)$".r.findFirstMatchIn(live).get.group(1).toInt
    graft.etl.Compaction.compact(spark, live,
      live.replaceAll("-g\\d+$", s"-g${gen + 1}"), 64L * 1024 * 1024)
  }

  test("registry: 8 distinct kinds, manifest names and config names, " +
    "each with a matrix fixture") {
    val all = MaintainedStore.all
    assert(all.size == 8)
    assert(all.map(_.kind).distinct.size == 8)
    assert(all.map(_.manifestName).distinct.size == 8)
    assert(all.map(_.configName).distinct.size == 8)
    assert(cases.keySet == all.map(_.kind).toSet)
  }

  MaintainedStore.all.foreach { st =>
    test(s"crash matrix: ${st.kind} — data write, manifest publish, " +
      "stats write, mid-compaction, mid-republish") {
      val c = cases(st.kind)
      val p = freshDir(st.kind)
      c.build(p)
      var base = c.read(p)
      assert(base.nonEmpty, s"${st.kind}: the fixture must answer rows")
      def healthy(cell: String): Unit = {
        val f = st.fsck(spark, p)
        assert(f.healthy, s"${st.kind} $cell: $f")
      }
      val retry = c.append.orElse(c.republish).get
      // a build over an existing store commits generation 0 and deletes
      // the generation it superseded: healthy with nothing to sweep
      def rebuild(cell: String): Unit = {
        c.build(p)
        val f = st.fsck(spark, p)
        assert(f.healthy && f.staleGenerations == 0 && f.generation == 0,
          s"${st.kind} $cell: $f")
      }
      val missingConfig = s"no ${st.configName} sidecar"

      // 1. after the data write
      IndexMaintenance.injectTornAppend(spark, st.dataDir(spark, p))
      refuses(s"${st.kind} data write", "not committed")(c.read(p))
      val torn = st.fsck(spark, p)
      assert(torn.uncommittedFiles == 1 && torn.vacuumRepairs, torn)
      assert(st.vacuum(spark, p).uncommittedRemoved == 1)
      healthy("data write")
      assert(c.read(p) == base)
      retry(p)
      healthy("data write retry")
      base = c.read(p)

      // 2. after the manifest publish (provenance and config not written)
      IndexMaintenance.retractSidecar(spark, p, st.configName)
      if (st.trained)
        IndexMaintenance.retractSidecar(spark, p, "_train_stats")
      refuses(s"${st.kind} manifest publish", missingConfig,
          "did not complete")(c.read(p))
      val noConfig = st.fsck(spark, p)
      assert(!noConfig.configPresent && noConfig.manifestPresent &&
        noConfig.trainStats.isEmpty && !noConfig.vacuumRepairs, noConfig)
      assert(st.vacuum(spark, p) ==
        IndexMaintenance.VacuumReport(0, 0, 0))
      assert(!st.fsck(spark, p).healthy,
        "a missing recipe is rebuild territory, not garbage")
      rebuild("manifest publish retry")
      base = c.read(p)

      // 3. after the stats sidecar write
      val afterStats =
        if (st.trained) Seq(st.configName)
        else if (st == TextIndex) Seq(st.manifestName, st.configName)
        else Nil
      if (afterStats.nonEmpty) {
        afterStats.foreach(IndexMaintenance.retractSidecar(spark, p, _))
        refuses(s"${st.kind} stats write", missingConfig,
          "did not complete")(c.read(p))
        val f = st.fsck(spark, p)
        assert(!f.configPresent && !f.vacuumRepairs &&
          f.manifestPresent == (st != TextIndex), f)
        if (st.trained) assert(f.trainStats.isDefined, f)
        if (f.manifestPresent) st.vacuum(spark, p)
        else refuses(s"${st.kind} stats write vacuum",
          "nothing defines the committed file set")(st.vacuum(spark, p))
        assert(!st.fsck(spark, p).healthy)
        rebuild("stats write retry")
        assert(c.read(p) == base)
      }

      // 4. mid-compaction: the old generation keeps serving
      val gen0 = st.fsck(spark, p).generation
      unpublishedGeneration(st, p)
      assert(c.read(p) == base)
      val stale = st.fsck(spark, p)
      assert(stale.staleGenerations == 1 && stale.vacuumRepairs &&
        stale.generation == gen0, stale)
      assert(st.vacuum(spark, p).staleGenerationsRemoved == 1)
      healthy("mid-compaction vacuum")
      // a retried compaction overwrites the leftover and swaps
      unpublishedGeneration(st, p)
      st.compact(spark, p)
      healthy("mid-compaction retry")
      assert(st.fsck(spark, p).generation == gen0 + 1)
      assert(c.read(p) == base)

      // 5. mid-republish
      st match {
        case _: AnnStore =>
          IndexMaintenance.retractSidecar(spark, p, st.configName)
          IndexMaintenance.injectTornAppend(spark, st.dataDir(spark, p))
          refuses(s"${st.kind} mid-republish", missingConfig,
          "did not complete")(c.read(p))
          val f = st.fsck(spark, p)
          assert(!f.configPresent && f.uncommittedFiles == 1 &&
            !f.vacuumRepairs, f)
          assert(st.vacuum(spark, p).uncommittedRemoved == 1)
          assert(!st.fsck(spark, p).healthy)
          rebuild("mid-republish rebuild")
          c.republish.get(p)
          healthy("mid-republish retry")
          assert(st.fsck(spark, p).generation == 0)
          assert(c.read(p) == base)
        case _: FrozenModel[_] =>
          val g = st.fsck(spark, p).generation
          unpublishedGeneration(st, p)
          assert(c.read(p) == base)
          assert(st.fsck(spark, p).staleGenerations == 1)
          c.republish.get(p)
          healthy("mid-republish retry")
          assert(st.fsck(spark, p).generation == g + 1)
          assert(c.read(p) == base)
        case _ =>
          assert(c.republish.isEmpty, s"${st.kind} has no republish")
      }

      // 6. a rebuild over the later generation steps 4-5 left (save ->
      // republish -> save for the frozen models); the ANN stores' step-5
      // rebuild already ran over one
      if (!st.isInstanceOf[AnnStore]) {
        assert(st.fsck(spark, p).generation > 0)
        rebuild("rebuild over a later generation")
        assert(c.read(p) == base)
      }
      ops.SessionScratch.evictTransients()
    }
  }
}
