package graft.llmops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.ParquetDir
import graft.ops.SessionScratch
import IndexMaintenance.{FsckReport, TrainStats, VacuumReport}

/** One persisted, incrementally-maintained store — the crash-atomic
  * protocol the eight store families share, owned ONCE. The stores cite
  * the FAISS `Index` interface as their contract (train / add /
  * remove_ids / search, https://github.com/facebookresearch/faiss/wiki):
  * one interface, many encodings. Each family `extends` this class and
  * supplies only its payload — the rows it writes, its tombstone id
  * column (none for the n-gram anti-record store), its recorded-shape
  * parse, and its remediation arm.
  *
  * Layout at `path`, every name derived from the family's `stem`:
  *  - `<data>-g<N>/` — the live generation, named by the
  *    `_<stem>_manifest` sidecar (the exact committed file set);
  *  - `_<stem>_config` — the recipe, written LAST at build (the
  *    ingest-complete marker) and verified by [[requireLive]] before any
  *    read or maintenance step;
  *  - `tombs-g<N>/` + `_<stem>_manifest_tombs` — tombstoned deletes.
  *
  * Commit steps, each a single atomic sidecar publish:
  *  - build ([[buildCommit]]) and append ([[appendCommit]]): refuse a
  *    `_shared_readonly` store BEFORE any payload byte is written,
  *    write into the live generation, publish the manifest (the
  *    commit);
  *  - delete ([[tombstoneDelete]]): one manifested tombstone append;
  *  - compaction ([[compact]]) and the frozen-model republish
  *    ([[FrozenModel]]): write generation N+1, swap the manifest
  *    ([[swapGeneration]]);
  *  - trained-ANN republish ([[AnnStore]]): retract the config, clear
  *    the tombstones, rebuild at `-g0` ([[retractAndRebuild]]).
  * The two republish disciplines stay distinct on purpose: the
  * frozen models' generation counter is observable state (the warehouse
  * sweeps report it).
  */
abstract class MaintainedStore(val kind: String, stem: String,
    protected val dataBase: String, val what: String) {

  private[graft] val manifestName = s"_${stem}_manifest"
  private[graft] val configName = s"_${stem}_config"

  /** The config sidecar this code writes for a store whose sidecar
    * records `recorded`: the fixed recipe, or — for the parametric
    * families — the recipe re-derived from the recorded shape, so drift
    * in any other recipe field still mismatches.
    */
  protected def expectedConfig(recorded: String): String

  /** The id column tombstones mask reads on; None for stores with no
    * tombstones (the n-gram anti-record store, the frozen models).
    */
  protected def tombIdCol: Option[String] = None

  /** The id column compaction physically drops tombstoned rows on —
    * after which their count folds into the trained base and the
    * tombstone store clears. Defaults to [[tombIdCol]].
    */
  protected def compactDropCol: Option[String] = tombIdCol

  /** Whether current builds record `_train_stats` provenance — so a
    * missing sidecar means staleness is UNDECIDABLE, not absent.
    */
  def trained: Boolean = false

  /** Whether the warehouse sweep can act on a FLAGGED store here itself,
    * or must queue it for manual action.
    */
  private[llmops] def canAutoAct(s: SparkSession, path: String): Boolean =
    false

  /** Republish one FLAGGED store at its recorded shape policy — the
    * registry's remediation arm. Untrained kinds have none.
    */
  private[llmops] def remediate(s: SparkSession, label: String,
      path: String, before: TrainStats): Unit =
    throw new IllegalStateException(
      s"store $label at $path is a $what — an untrained store has no " +
        "republish arm.")

  /** The manifest-verified current data directory. */
  private[graft] def dataDir(s: SparkSession, path: String): String =
    IndexMaintenance.verifiedDir(s, path, manifestName, what)

  /** Verify the recorded config matches what this build of the code
    * would produce; descriptive failure naming the store and the
    * remediation.
    */
  private[llmops] def requireLive(s: SparkSession, path: String): Unit =
    IndexMaintenance.readSidecar(s, path, configName).map(_.trim) match {
      case None =>
        throw new IllegalStateException(
          s"$what at $path has no $configName sidecar — the index was " +
            "not created by build() or its initial ingest did not " +
            "complete. Maintenance cannot proceed (rows produced under " +
            "an unknown configuration are incomparable); rebuild the " +
            "index from scratch.")
      case Some(found) if found != expectedConfig(found) =>
        throw new IllegalStateException(
          s"$what at $path was built under config [$found] but this " +
            s"code produces [${expectedConfig(found)}]. Appending would " +
            "mix incomparable rows in one index; rebuild the index under " +
            "the current config.")
      case _ => ()
    }

  /** The live rows minus tombstoned ids — THE read-path mask. */
  protected def masked(s: SparkSession, path: String,
      rows: DataFrame): DataFrame =
    tombIdCol.fold(rows)(c => IndexMaintenance.minusTombstones(
      s, path, manifestName, what, rows, c))

  /** Crash recovery: remove provably-uncommitted garbage (torn-append
    * leftovers, superseded generations, orphaned sidecar temps) in the
    * data store and its tombstone store, so the committed store
    * verifies and reads again — see [[IndexMaintenance.vacuumStore]].
    */
  def vacuum(s: SparkSession, path: String): VacuumReport =
    IndexMaintenance.vacuumWithTombstones(s, path, manifestName, what)

  /** Non-throwing health report — the OBSERVATION third of the
    * crash-safety triad: [[dataDir]] refuses a damaged store at read
    * time, [[vacuum]] repairs it, and fsck only reports, so an operator
    * can audit a whole catalog (including stores every read path would
    * throw on) in one sweep. A manifest that exists but does not PARSE
    * is reported as absent: the store needs a rebuild either way, and
    * one corrupted store must never abort a sweep.
    */
  def fsck(s: SparkSession, path: String): FsckReport = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = IndexMaintenance.fsOf(s, path)
    val config = IndexMaintenance.readSidecar(s, path, configName)
      .map(_.trim)
    val matches = config.map(c => c == expectedConfig(c))
    val entries =
      if (fs.exists(root)) fs.listStatus(root).toSeq else Seq.empty
    val temps = IndexMaintenance.orphanedTemps(entries).size
    val trainStats = IndexMaintenance.readTrainStats(s, path)
    scala.util.Try(IndexMaintenance.readManifest(s, path, manifestName))
      .toOption.flatten match {
      case None =>
        FsckReport(what, path, config.isDefined, matches,
          manifestPresent = false, generation = -1, 0, 0L, 0, 0, 0, temps,
          trainStats)
      case Some(m) =>
        val actual = IndexMaintenance.listDataFiles(s, s"$path/${m.subdir}")
        FsckReport(what, path, config.isDefined, matches,
          manifestPresent = true, IndexMaintenance.generationOf(m.subdir),
          m.files.size, m.files.toSeq.map(_._2).sum,
          (actual -- m.files).size, (m.files -- actual).size,
          IndexMaintenance.staleGenerations(entries, m.subdir).size, temps,
          trainStats)
    }
  }

  /** THE build commit: refuse a read-only store BEFORE the build
    * overwrites anything, `write` the store's rows into generation 0
    * (returning what the caller records next), then publish the manifest
    * committing them and delete the generation it superseded (a rebuild
    * after a compaction or a frozen-model republish), as
    * [[swapGeneration]] does. The caller writes its config sidecar LAST —
    * the ingest-complete marker — so a crash anywhere mid-build reads as
    * missing-config, never as a silently short store.
    */
  protected def buildCommit[T](s: SparkSession, path: String)(
      write: String => T): T = {
    IndexMaintenance.requireMutable(s, path, "build")
    val sub = s"$dataBase-g0"
    // only a sibling generation: a damaged manifest naming anything else
    // (or nothing, i.e. the store root) is never deleted
    val prior = scala.util.Try(
      IndexMaintenance.readManifest(s, path, manifestName)).toOption.flatten
      .map(_.subdir)
      .filter(d => d != sub &&
        d == s"$dataBase-g${IndexMaintenance.generationOf(d)}")
    val out = write(s"$path/$sub")
    IndexMaintenance.publishManifest(s, path, manifestName, sub)
    prior.foreach(d => IndexMaintenance.deleteDir(s, s"$path/$d"))
    out
  }

  /** THE append commit: verify the store is live, refuse a read-only
    * store BEFORE any payload byte is written, run `write` against the
    * live generation directory, then publish the widened manifest — the
    * COMMIT. A crash between the write and the publish leaves
    * uncommitted files that every read refuses descriptively and
    * [[vacuum]] sweeps.
    */
  protected def appendCommit[T](s: SparkSession, path: String, op: String)(
      write: String => T): T = {
    requireLive(s, path)
    IndexMaintenance.requireMutable(s, path, op)
    val cur = dataDir(s, path)
    val out = write(cur)
    IndexMaintenance.publishManifest(s, path, manifestName,
      cur.substring(path.length + 1))
    out
  }

  /** DELETE ids (a one-column frame): record them as tombstones — every
    * read masks them from this point, and the next [[compact]] drops
    * their rows physically. One manifested append, no data file touched.
    */
  protected def tombstoneDelete(ids: DataFrame, path: String): Unit = {
    val s = ids.sparkSession
    requireLive(s, path)
    IndexMaintenance.addTombstones(s, path, manifestName, what, ids)
  }

  /** The generation swap a compaction and a frozen-model republish
    * share: refuse a read-only store, `write(liveDir, nextDir)` the next
    * generation beside the live one, publish the manifest naming it (the
    * atomic swap: a reader sees the complete old or the complete new
    * generation, and a crash before the publish leaves the old one live),
    * then delete the superseded generation best-effort — a crash before
    * that delete leaves only a stale generation [[vacuum]] sweeps.
    * Returns (filesBefore, filesAfter).
    */
  protected def swapGeneration(s: SparkSession, path: String, op: String)(
      write: (String, String) => Unit): (Int, Int) = {
    IndexMaintenance.requireMutable(s, path, op)
    val cur = dataDir(s, path)
    val nextSub = s"$dataBase-g${IndexMaintenance.generationOf(cur) + 1}"
    val before = IndexMaintenance.listDataFiles(s, cur).size
    write(cur, s"$path/$nextSub")
    IndexMaintenance.publishManifest(s, path, manifestName, nextSub)
    IndexMaintenance.deleteDir(s, cur)
    (before, IndexMaintenance.listDataFiles(s, s"$path/$nextSub").size)
  }

  /** The row rewrite compaction applies: the tombstone drop on
    * [[compactDropCol]] when deletes pend, else None (the plain
    * row-preserving rewrite). The log-structured store overrides it with
    * its merge.
    */
  protected def compactRewrite(s: SparkSession,
      path: String): Option[DataFrame => DataFrame] =
    compactDropCol.flatMap(c =>
      IndexMaintenance.tombstoneDropper(s, path, manifestName, what, c))

  /** Compact the accumulated append files under the RECORDED config
    * (daily appends otherwise grow the file count forever): rewrite the
    * live generation into ~targetBytes files in generation N+1 and swap
    * atomically ([[swapGeneration]]). Row-preserving stores delegate the
    * rewrite to [[graft.etl.Compaction]]; a [[compactRewrite]] (tombstone
    * drop, LSM merge) is sized by the same function. When tombstoned rows
    * were dropped, their count folds into the trained base and the
    * tombstones clear — reads answer identically before and after
    * (masked == dropped). Returns (filesBefore, filesAfter).
    */
  def compact(s: SparkSession, path: String,
      targetBytes: Long = 64L * 1024 * 1024): (Int, Int) = {
    requireLive(s, path)
    val rewrite = compactRewrite(s, path)
    val r = swapGeneration(s, path, "compaction") { (cur, next) =>
      rewrite match {
        case None => graft.etl.Compaction.compact(s, cur, next, targetBytes)
        case Some(m) =>
          val n = graft.etl.Compaction.targetFiles(s, cur, targetBytes)._2
          m(ParquetDir.read(s, cur)).repartition(n)
            .write.mode("overwrite").parquet(next)
      }
    }
    if (compactDropCol.isDefined) {
      IndexMaintenance.foldDeletesIntoTrain(s, path)
      IndexMaintenance.clearTombstones(s, path, manifestName)
    }
    r
  }

  /** The retract-then-rebuild republish (the trained ANN stores'):
    * rebuilding a LIVE store by calling build() directly is silently
    * dangerous — the old config stays valid throughout, so a mid-rebuild
    * crash can pair NEW trained artifacts with OLD rows and reads return
    * wrong answers with no signal. This RETRACTS the config first (every
    * read path then fails with the descriptive rebuild error), clears
    * the tombstones (a rebuild indexes exactly the corpus it is handed),
    * then runs `rebuild(recordedConfig)`, whose final config publish puts
    * the store back online at `-g0` ([[buildCommit]] deletes a
    * post-compaction generation it supersedes). Refuses on a read-only
    * store, or one whose live generation does not verify, BEFORE the
    * retraction, which would take it offline.
    */
  protected def retractAndRebuild(s: SparkSession, path: String)(
      rebuild: String => Unit): Unit = {
    requireLive(s, path)
    IndexMaintenance.requireMutable(s, path, "republish")
    val recorded = IndexMaintenance.readSidecar(s, path, configName).get.trim
    dataDir(s, path)
    IndexMaintenance.retractSidecar(s, path, configName)
    IndexMaintenance.clearTombstones(s, path, manifestName)
    rebuild(recorded)
  }
}

object MaintainedStore {

  /** THE store registry — every persisted kind, typed. [[StoreAudit]],
    * [[StoreRemediator]] and [[WarehouseMaintenance]] all iterate it;
    * a ninth store kind lands here and nowhere else.
    */
  val all: Seq[MaintainedStore] = Seq(DedupIndex, TextIndex, NgramIndex,
    BpeModel, ClfModel, IvfIndex, IvfPqIndex, GraphIndex)

  /** Resolve every kind in `kinds` among `accepted`; an unknown kind
    * fails fast naming the accepted ones (`lead` says what they are) —
    * a sweep that silently skipped a store would read as "all healthy".
    */
  private[llmops] def resolve(kinds: Seq[String],
      accepted: Seq[MaintainedStore], lead: String)
      : Map[String, MaintainedStore] = {
    val byKind = accepted.map(st => st.kind -> st).toMap
    val bad = kinds.filterNot(byKind.contains).distinct
    require(bad.isEmpty,
      s"unknown store kind(s) ${bad.mkString(", ")} — $lead " +
        byKind.keys.toSeq.sorted.mkString(", "))
    byKind
  }
}

/** The three trained ANN stores (IVF, IVF-PQ, graph): trained centroids
  * under `centroids/` routing every append (FAISS `add` after `train` —
  * appends never retrain), the recorded cell count k in the config,
  * `_train_stats` provenance, tombstoned deletes (FAISS `remove_ids`),
  * and drift remediation by [[retractAndRebuild]].
  */
trait AnnStore extends MaintainedStore {

  override def trained: Boolean = true

  /** A self-contained store always acts; the codes-only IVF-PQ store
    * claims actable even without its raw locator so the remediation's
    * refusal SURFACES (the raw pair is its deployment contract).
    */
  private[llmops] override def canAutoAct(s: SparkSession,
      path: String): Boolean = true

  protected def centDir(path: String): String = s"$path/centroids"

  /** The recorded cell count (0 when the config is absent or records
    * none).
    */
  private[llmops] def recordedK(s: SparkSession, path: String): Int =
    IndexMaintenance.readSidecar(s, path, configName)
      .flatMap(IndexMaintenance.intField(_, "k")).getOrElse(0)

  /** Train on `embeddings` and publish the store at `-g0` under
    * (k, kPolicy); `recorded` is the config the store held before a
    * republish retracted it (the graph keeps its recorded degree).
    */
  protected def rebuild(embeddings: DataFrame, path: String, k: Int,
      kPolicy: String, recorded: String): Unit

  /** The (vec_id, embedding) corpus a remediation retrains over. */
  protected def remediationCorpus(s: SparkSession, label: String,
      path: String): DataFrame

  /** Refuse a remediation corpus of `n` rows the store's provenance
    * rules out (the codes-only store's raw-pair cross-check).
    */
  protected def checkCorpus(label: String, path: String,
      before: TrainStats, n: Long): Unit = ()

  /** The recorded centroids (k-bounded collect). Config-verified FIRST,
    * so a missing or half-written store fails with the descriptive
    * rebuild error, not a raw path error — and k comes from the RECORD,
    * which the stored table must then match (a truncated centroid table
    * must not self-certify).
    */
  def centroids(s: SparkSession, path: String): Seq[KMeans.Centroid] = {
    import s.implicits._
    requireLive(s, path)
    val k = recordedK(s, path)
    val cents = ParquetDir.read(s, centDir(path))
      .select(col("cell"), col("centroid"))
      .as[(Long, Seq[Double])]
      .collect()
      .map { case (cell, v) => KMeans.Centroid(cell, v.toArray) }
      .toSeq
    if (cents.size != k)
      throw new IllegalStateException(
        s"$what at $path records k=$k in its sidecar but stores " +
          s"${cents.size} centroids — the centroid table is truncated " +
          "or foreign; rebuild the index.")
    cents.sortBy(_.cell)
  }

  /** DELETE vectors (the FAISS remove_ids contract, tombstone form):
    * reads mask them immediately; the trained artifacts are untouched —
    * deletes never retrain (drift remediation is [[republish]]).
    */
  def delete(vecIds: DataFrame, path: String): Unit =
    tombstoneDelete(vecIds, path)

  /** Refuse a caller-driven republish that would change the recorded
    * k — a caller-driven republish keeps the store's shape.
    */
  protected def requirePinnedK(s: SparkSession, path: String,
      k: Int): Unit = {
    val rec = recordedK(s, path)
    if (rec != 0 && k != rec)
      throw new IllegalStateException(
        s"republish at k=$k does not match the recorded k=$rec at " +
          s"$path — a caller-driven republish keeps the store's shape " +
          "(rebuild at a new path, or use the remediator's occupancy " +
          "policy, for a shape change).")
  }

  /** MAINTENANCE — drift remediation (the q171-monitor → rebuild arm)
    * in place and crash-detectably ([[retractAndRebuild]]), at the
    * store's RECORDED k.
    */
  def republish(embeddings: DataFrame, path: String, k: Int): Unit = {
    requirePinnedK(embeddings.sparkSession, path, k)
    republishAs(embeddings, path, k, "explicit")
  }

  /** Policy-aware drift remediation: liveness verified against the
    * store's OWN recorded config, rebuilt at the caller's (k, kPolicy) —
    * an occupancy-policy store re-sizes k to the corpus it now holds and
    * keeps its policy instead of silently becoming 'explicit'.
    */
  private[llmops] def republishAs(embeddings: DataFrame, path: String,
      k: Int, kPolicy: String): Unit =
    retractAndRebuild(embeddings.sparkSession, path)(
      rebuild(embeddings, path, k, kPolicy, _))

  /** Republish at [[StoreRemediator.remediationShape]] over the
    * remediation corpus. The corpus is released before the next store —
    * a multi-store sweep otherwise accumulates every corpus in the block
    * manager (measured: 8 acts in one sweep cost 1.6× per store vs one
    * act per sweep — SCALING.md, "Measured, round 15: multi-store
    * remediation fan-out").
    */
  private[llmops] override def remediate(s: SparkSession, label: String,
      path: String, before: TrainStats): Unit = {
    val corpus = SessionScratch.transientCheckpoint(
      remediationCorpus(s, label, path))
    try {
      val n = corpus.count()
      checkCorpus(label, path, before, n)
      val (k, pol) =
        StoreRemediator.remediationShape(before, recordedK(s, path), n)
      republishAs(corpus, path, k, pol)
    } finally SessionScratch.releaseCheckpoint(corpus)
  }
}

/** The two frozen-TRANSFORM stores (BPE tokenizer, quality classifier):
  * trained artifacts applied, fixed, to every later batch — retraining
  * per batch would silently shift every downstream token id or keep/drop
  * boundary — so the artifact is IMMUTABLE: no append or delete path by
  * design, and maintenance is retrain + [[republish]] (a new generation,
  * swapped atomically). `M` is the trained model handed to [[save]].
  */
trait FrozenModel[M] extends MaintainedStore {

  /** The training recipe, recorded at save and verified at every load. */
  def Config: String

  protected def expectedConfig(recorded: String): String = Config

  /** The model's stored table. */
  protected def table(s: SparkSession, model: M): DataFrame

  /** Retrain under the recorded recipe over the located training rows. */
  protected def retrain(s: SparkSession, train: DataFrame): M

  /** Release what a retrain pinned, once the model is republished. */
  protected def release(model: M): Unit

  override def trained: Boolean = true

  /** Acts only with a recorded training-corpus locator: pre-locator
    * models are the installed base, so their flagged rows ARE the
    * manual-action queue, never an abort.
    */
  private[llmops] override def canAutoAct(s: SparkSession,
      path: String): Boolean = trainSourceOf(s, path).isDefined

  private def write(s: SparkSession, model: M, dir: String): Unit =
    table(s, model).coalesce(1).write.mode("overwrite").parquet(dir)

  /** Persist a trained model: table, manifest, `_train_stats`, config
    * last as the publish-complete marker (a crash mid-save reads as
    * missing-config, never as a silently short table).
    *
    * `nTrain` is the training-corpus DOC count, recorded as provenance:
    * the frozen transforms drift too, and without it the q230 staleness
    * sweep could never flag them. A transform has no trained cell count,
    * so k=0 and the 39·k floor is vacuous.
    */
  def save(s: SparkSession, model: M, path: String, nTrain: Long): Unit = {
    buildCommit(s, path)(write(s, model, _))
    IndexMaintenance.writeTrainStats(s, path, nTrain, k = 0, kPolicy = "n/a")
    IndexMaintenance.writeSidecar(s, path, configName, Config)
  }

  /** The day-2 APPLICATION record — the frozen transform's append
    * analog: applying it leaves the artifact byte-identical while the
    * world it was trained on grows. Call once per applied batch with the
    * batch's doc count ([[IndexMaintenance.bumpAppended]]'s contracts).
    */
  def noteApplied(s: SparkSession, path: String, nDocs: Long): Unit =
    IndexMaintenance.bumpAppended(s, path, nDocs)

  /** Record where this model's training corpus lives (parquet path + the
    * train-split predicate day-0 training applied), enabling
    * [[remediate]] — see [[IndexMaintenance.recordTrainSource]].
    */
  def recordTrainSource(s: SparkSession, path: String,
      corpusPath: String, where: String): Unit =
    IndexMaintenance.recordTrainSource(s, path, corpusPath, where)

  /** The recorded (corpusPath, wherePredicate) locator, if any. */
  private[llmops] def trainSourceOf(s: SparkSession,
      path: String): Option[(String, String)] =
    IndexMaintenance.trainSourceOf(s, path)

  /** MAINTENANCE — retrain + republish under the SAME recipe (a recipe
    * change is a different model and belongs at a different path): the
    * retrained table is written as generation N+1 and the manifest
    * swapped ([[swapGeneration]]); provenance is fresh — a retrain
    * consumes all prior applications by definition.
    */
  def republish(s: SparkSession, model: M, path: String,
      nTrain: Long): Unit = {
    requireLive(s, path)
    swapGeneration(s, path, "model republish")((_, next) =>
      write(s, model, next))
    IndexMaintenance.writeTrainStats(s, path, nTrain, k = 0, kPolicy = "n/a")
  }

  /** Retrain over the recorded training corpus and republish. Refuses
    * descriptively without a locator; the warehouse sweep never routes
    * a locator-less model here (it queues — see [[canAutoAct]]).
    */
  private[llmops] override def remediate(s: SparkSession, label: String,
      path: String, before: TrainStats): Unit = {
    val (src, where) = trainSourceOf(s, path).getOrElse(
      throw new IllegalStateException(
        s"store $label at $path is flagged for republish but records " +
          s"no _train_source_locator — a frozen $what cannot be " +
          "retrained from its own table; record the training corpus " +
          "(recordTrainSource) or republish it caller-driven with the " +
          "training rows."))
    val train = ParquetDir.read(s, src).where(expr(where))
    val model = retrain(s, train)
    republish(s, model, path, nTrain = train.count())
    release(model)
  }
}
