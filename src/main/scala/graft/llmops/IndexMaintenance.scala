package graft.llmops

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.ParquetDir
import graft.ops.SessionScratch

/** PERSISTED, INCREMENTALLY-MAINTAINED index artifacts for the two
  * continuously-running curation operators (SURVEY.md §2.4 [ext];
  * north star BASELINE.json) — the operational story behind q46
  * (incremental dedup) and q54 (IVF ANN) at 100 TB:
  *
  * a daily crawl lands next to an existing corpus, and the per-run cost
  * must scale with the DELTA, not the corpus. That requires the
  * existing side's derived state — MinHash band signatures for dedup,
  * trained centroids + cell assignments for ANN — to be a MAINTAINED
  * on-disk artifact, not a session memo: build once at initial ingest,
  * then each append processes only the new arrivals under the
  * RECORDED configuration and appends their rows to the index.
  *
  * This is the `zorderMaintain` pattern (ops/Layout.scala) applied to
  * the llmops indexes, with the same two invariants carried by
  * mechanism rather than comment:
  *
  *  - a `_*_config` sidecar records the parameters the index was built
  *    under (hash family / band layout for dedup; k, iters, fixed-point
  *    scale for IVF). Maintenance VERIFIES the sidecar before touching
  *    the index — appending signatures hashed under a different config
  *    (or vectors assigned under re-trained centroids) would silently
  *    produce an index whose rows are incomparable across files, the
  *    exact failure `zorderMaintain` prevents by reusing recorded
  *    bounds. Sidecar writes are atomic (temp + rename).
  *  - append NEVER rewrites base files: new rows land as appended
  *    parquet files, so the base index is untouched and concurrent
  *    readers keep a consistent view (IndexMaintenanceSpec asserts the
  *    base file set is byte-identical after maintenance).
  *
  * The per-store lifecycle (build / append / delete / compact / vacuum /
  * fsck / republish) is [[MaintainedStore]]'s; this object holds the
  * sidecar, manifest, tombstone and provenance primitives it composes.
  */
object IndexMaintenance {

  /** Atomic sidecar publish: write-to-temp + rename (the
    * Layout.zorderWrite discipline) — the sidecar either exists
    * complete or not at all, and RE-publishing over an existing sidecar
    * is one atomic replace too (a delete-then-rename would open a crash
    * window where the index has valid data but no sidecar, forcing a
    * spurious full rebuild). The temp is `.<name>.tmp.<uuid>`, the name
    * [[orphanedTemps]] sweeps after a crash.
    *
    * On the local filesystem the publish is a `java.nio` write and one
    * `rename(2)` over the destination: without the native Hadoop library,
    * Hadoop's create and FileContext rename fork `chmod` and `readlink`
    * processes, 10 per publish (SCALING.md, "the manifest discipline's
    * hidden metadata costs"). A stale `.<name>.crc` sibling from an
    * earlier Hadoop write is deleted BEFORE the rename: the checksummed
    * open would verify the new body against it, while a sidecar with no
    * checksum file reads unverified. Other schemes keep the
    * overwrite-capable FileContext rename ([[publishViaFileContext]]).
    */
  private[graft] def writeSidecar(s: SparkSession, dir: String,
      name: String, content: String): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dir, name)
    val fs = p.getFileSystem(conf)
    val tmpName = s".$name.tmp.${java.util.UUID.randomUUID()}"
    val bytes = content.getBytes("UTF-8")
    if (fs.getUri.getScheme == "file") {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val dest = Paths.get(fs.makeQualified(p).toUri)
      val parent = Files.createDirectories(dest.getParent)
      val tmp = Files.write(parent.resolve(tmpName), bytes)
      Files.deleteIfExists(parent.resolve(s".$name.crc"))
      Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } else publishViaFileContext(fs, new org.apache.hadoop.fs.Path(dir,
      tmpName), p, bytes)
  }

  /** [[writeSidecar]]'s publish for filesystems other than the local
    * one: Hadoop create of the temp, then an OVERWRITE FileContext
    * rename onto `p`.
    */
  private[graft] def publishViaFileContext(
      fs: org.apache.hadoop.fs.FileSystem, tmp: org.apache.hadoop.fs.Path,
      p: org.apache.hadoop.fs.Path, bytes: Array[Byte]): Unit = {
    val out = fs.create(tmp, true)
    try out.write(bytes)
    finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, fs.getConf)
      .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Delete a sidecar — the RETRACTION half of the publish protocol:
    * removing the config marker takes the store detectably offline
    * (every read path fails with the descriptive rebuild error) until
    * a subsequent build re-publishes it.
    */
  private[graft] def retractSidecar(s: SparkSession, dir: String,
      name: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, name)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    // the retraction must be VERIFIED: if the delete silently fails and
    // the old config stays live, a subsequent rebuild recreates exactly
    // the undetected torn-rebuild window (new data readable under the
    // old config) that retract-then-rebuild exists to close
    val deleted = fs.delete(p, false)
    require(deleted || !fs.exists(p),
      s"could not retract sidecar $p: delete failed and the file " +
        "still exists — aborting before the rebuild can pair new data " +
        "with the stale config")
  }

  private[graft] def readSidecar(s: SparkSession, dir: String,
      name: String): Option[String] = {
    val conf = s.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dir, name)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
  }

  // ---- numbers a commit records, taken inside its own query --------------
  //
  // A commit's derived numbers (BM25 corpus stats, append and delete
  // counts) are observed ([[org.apache.spark.sql.Dataset.observe]]) in
  // the RESULT stage of the one query that writes or pins the rows, never
  // by a second pass over them. Result stage only: Spark applies a result
  // task's accumulator update once per partition, but a shuffle-map
  // task's again whenever its stage re-runs (speculation, fetch-failure
  // retry), so a metric below an exchange can over-count.

  /** The listener that completes an [[Observation]] runs on Spark's
    * asynchronous bus; a query that never carried the observation would
    * otherwise wait forever.
    */
  private val ObservedWait = scala.concurrent.duration.Duration(5, "min")

  /** Run `body` — the one query `obs` is attached to — and return its
    * result with the Long metrics `names` (aggregates that are never
    * NULL). A metric the optimizer removed along with a provably empty
    * subtree reads as 0.
    */
  private[llmops] def observed[T](obs: Observation, names: String*)(
      body: => T): (T, Seq[Long]) = {
    val out = body
    val row = scala.concurrent.Await.result(obs.future, ObservedWait)
    (out, names.map(n =>
      if (row.length == 0) 0L else row.getAs[Long](n)))
  }

  /** Write `rows` into `dir` under `mode` and return how many rows were
    * written, counted in the write's own result stage.
    */
  private[llmops] def writeCounted(rows: DataFrame, mode: String,
      dir: String): Long = {
    val obs = Observation()
    observed(obs, "n")(rows.observe(obs, count(lit(1)).as("n"))
      .write.mode(mode).parquet(dir))._2.head
  }


  // ---- shared read-only stores (_shared_readonly marker) ------------------
  //
  // Session stores built by the shared existing*Index/Model builders
  // are pinned by MANY gates' oracles at their exact ingest recipe; a
  // gate-specific append/delete/bump on one breaks hashes far from the
  // mutation site (the round-13 q233 postmortem class). The builders
  // therefore stamp a `_shared_readonly` marker naming the owning
  // gates, and every mutation chokepoint (manifest publish, tombstone
  // add, provenance bump) refuses on it AT THE MUTATION SITE with the
  // clone guidance — turning a far-from-cause hash mismatch into an
  // immediate descriptive failure. Reads, fsck, and vacuum (repair of
  // provably-uncommitted garbage — it cannot change committed state)
  // stay allowed.

  private[llmops] val SharedReadonlyName = "_shared_readonly"

  /** Stamp a store read-only, recording the gates whose oracles pin it
    * (called by the shared builders as the LAST step of their one-time
    * ingest, after every legitimate build/append/bump of their own).
    */
  private[graft] def markSharedReadonly(s: SparkSession, path: String,
      owners: String): Unit =
    writeSidecar(s, path, SharedReadonlyName, s"owners=$owners;v=1")

  /** Refuse `op` on a store stamped [[markSharedReadonly]]. */
  private[llmops] def requireMutable(s: SparkSession, path: String,
      op: String): Unit =
    readSidecar(s, path, SharedReadonlyName).foreach { body =>
      val owners = "(^|;)owners=([^;]*)".r.findFirstMatchIn(body.trim)
        .map(_.group(2)).getOrElse("unrecorded")
      throw new IllegalStateException(
        s"store at $path is a SHARED session store marked read-only " +
          s"(owning gates: $owners) — a $op would silently shift " +
          "those gates' pinned oracles far from the mutation site. " +
          "Clone the store into a dedicated path first (the q210 " +
          "pattern) and mutate the clone.")
    }

  // ---- manifested data-file store ----------------------------------------
  //
  // `write.mode("append").parquet(dir)` has no commit marker: a crash
  // mid-append leaves partial part-files that a later directory read
  // silently absorbs — for the dedup index that means over-dropping
  // every future doc that collides with a torn signature row. The fix
  // is the zorder-sidecar discipline applied to the FILE SET: a
  // manifest sidecar atomically records the exact (name, length) set
  // that constitutes the store (plus which generation directory holds
  // it), appends publish the manifest only AFTER their parquet write,
  // and every read first verifies listing == manifest — so a torn
  // append (or a torn compaction) is DETECTED and reported as
  // rebuild-required, never silently read.
  //
  // The generation token exists for compaction: rewriting many small
  // appended files into few cannot be atomic inside one directory, so
  // compaction writes generation N+1 as a fresh directory and the
  // manifest publish IS the atomic swap; the superseded generation is
  // deleted best-effort afterwards (a crash between the two leaves
  // only unreferenced garbage, never a half-swapped store).

  private[llmops] def fsOf(s: SparkSession,
      path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Best-effort recursive delete (a superseded generation). */
  private[llmops] def deleteDir(s: SparkSession, dir: String): Unit =
    fsOf(s, dir).delete(new org.apache.hadoop.fs.Path(dir), true)

  /** Delete `p`, VERIFIED: a silently-failed delete must not pass. */
  private def requireDeleted(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, recursive: Boolean, what: String): Unit =
    require(fs.delete(p, recursive) || !fs.exists(p), s"$what $p")

  /** (name, length) of every data file directly under `dir`. */
  private[llmops] def listDataFiles(s: SparkSession, dir: String)
      : Set[(String, Long)] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = fsOf(s, dir)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(st => st.getPath.getName -> st.getLen).toSet
  }

  private val GenSuffix = "-g(\\d+)$".r

  /** The generation number of a `<base>-g<N>` directory (0 if none). */
  private[llmops] def generationOf(dir: String): Int =
    GenSuffix.findFirstMatchIn(dir).map(_.group(1).toInt).getOrElse(0)

  /** Superseded generations among a store root's `entries`: siblings
    * named `<base>-g<N>` for the live subdir's base, other than it.
    */
  private[llmops] def staleGenerations(
      entries: Seq[org.apache.hadoop.fs.FileStatus],
      live: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val base = java.util.regex.Pattern.quote(GenSuffix.replaceAllIn(live, ""))
    entries.filter { st =>
      st.isDirectory && st.getPath.getName != live &&
        st.getPath.getName.matches(s"$base-g\\d+")
    }
  }

  /** Orphaned [[writeSidecar]] temps among a store root's `entries`. */
  private[llmops] def orphanedTemps(
      entries: Seq[org.apache.hadoop.fs.FileStatus])
      : Seq[org.apache.hadoop.fs.FileStatus] =
    entries.filter { st =>
      st.isFile && st.getPath.getName.startsWith(".") &&
        st.getPath.getName.contains(".tmp.")
    }

  /** The integer field `name=<n>` of a `;`-separated sidecar body. */
  private[llmops] def intField(body: String, name: String): Option[Int] =
    s"(^|;)$name=(\\d+)(;|$$)".r.findFirstMatchIn(body.trim)
      .map(_.group(2).toInt)

  /** Record `subdir`'s CURRENT data-file set as the store's contents —
    * the atomic commit point of an append or a compaction swap.
    */
  private[llmops] def publishManifest(s: SparkSession, path: String,
      name: String, subdir: String): Unit = {
    // every mutation that COMMITS (append, compaction swap, republish)
    // flows through this publish — the one chokepoint that makes the
    // read-only stamp mechanical rather than documentation
    requireMutable(s, path, s"manifest publish ($name)")
    val files = listDataFiles(s, s"$path/$subdir")
    val body = (s"dir=$subdir" +:
      files.toSeq.sorted.map { case (n, l) => s"$n:$l" }).mkString("\n")
    writeSidecar(s, path, name, body)
  }

  /** A parsed manifest: the live generation's subdirectory and the
    * committed (name, length) file set.
    */
  private[llmops] final case class Manifest(subdir: String,
      files: Set[(String, Long)])

  /** THE manifest parser (read verification, vacuum and fsck share it):
    * None when the manifest is absent; throws when it does not parse.
    */
  private[llmops] def readManifest(s: SparkSession, path: String,
      name: String): Option[Manifest] =
    readSidecar(s, path, name).map { m =>
      val lines = m.trim.split("\n").toSeq
      require(lines.head.startsWith("dir="), "missing dir= header")
      Manifest(lines.head.stripPrefix("dir="),
        lines.tail.filter(_.nonEmpty).map { ln =>
          val i = ln.lastIndexOf(':')
          require(i > 0, s"malformed manifest line: $ln")
          (ln.substring(0, i), ln.substring(i + 1).toLong)
        }.toSet)
    }

  /** Verify listing == manifest and return the absolute data directory
    * of the current generation. Descriptive failures for a missing
    * manifest, a torn append (unlisted files present), and lost files.
    */
  private[llmops] def verifiedDir(s: SparkSession, path: String,
      name: String, what: String): String = {
    val m = readManifest(s, path, name).getOrElse(
      throw new IllegalStateException(
        s"$what at $path has no $name manifest — the store was not " +
          "created by build() or its initial ingest did not complete; " +
          "rebuild the index."))
    val actual = listDataFiles(s, s"$path/${m.subdir}")
    if (actual != m.files) {
      val extra = (actual -- m.files).map(_._1).toSeq.sorted
      val missing = (m.files -- actual).map(_._1).toSeq.sorted
      throw new IllegalStateException(
        s"$what at $path fails manifest verification: " +
          (if (extra.nonEmpty)
            s"${extra.size} file(s) present but not committed " +
              s"(torn append? e.g. ${extra.take(3).mkString(", ")}) "
          else "") +
          (if (missing.nonEmpty)
            s"${missing.size} committed file(s) missing or resized " +
              s"(e.g. ${missing.take(3).mkString(", ")}) "
          else "") +
          "— reading would return wrong rows; rebuild the index.")
    }
    s"$path/${m.subdir}"
  }

  // ---- tombstoned deletes (lazy delete; compaction drops) -----------------
  //
  // Production corpora DELETE as well as append (takedowns, opt-outs,
  // licence expiry). Rewriting a 100 TB index per takedown is not an
  // option, so deletes are TOMBSTONES: a second manifested store under
  // the same root records the deleted ids, every read path masks them
  // (one anti-join against a deletes-sized table), and the next
  // compaction physically drops the masked rows and clears the
  // tombstones — the standard LSM / FAISS remove_ids / DiskANN
  // lazy-delete discipline. The tombstone store inherits the full
  // manifest crash contract: a torn delete-append is detected at read,
  // vacuumable, and never silently absorbed.

  private[llmops] def tombManifest(manifestName: String): String =
    manifestName + "_tombs"

  /** Stable fingerprint of the current tombstone manifest (None when
    * no deletes were ever recorded) — consumers whose DERIVED sidecar
    * state must stay in lockstep with the tombstone set (TextIndex's
    * BM25 stats) record this and verify it at read, so a crash between
    * the tombstone publish and the derived-state write is DETECTED.
    */
  private[llmops] def tombFingerprint(s: SparkSession, path: String,
      manifestName: String): Option[String] =
    readSidecar(s, path, tombManifest(manifestName)).map { m =>
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(m.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }

  /** Record `ids` (a one-column frame of int64 ids) as DELETED.
    * Appends to the manifested `tombs-g<N>` store (created on first
    * delete) and publishes its manifest — the same commit discipline
    * as a data append. Ids already tombstoned are dropped before the
    * write (re-deleting is a no-op, and the NEW-id count is what
    * [[bumpDeleted]] folds into the provenance; an id that never was
    * a member still counts — the safe early-republish direction, see
    * [[TrainStats]]).
    */
  private[llmops] def addTombstones(s: SparkSession, path: String,
      manifestName: String, what: String, ids: DataFrame): Unit = {
    val (cur, committed) = openTombstones(s, path, manifestName, what)
    val distinctIds = ids.toDF("id").select(col("id").cast("long"))
      .distinct()
    val newIds =
      if (committed) {
        val existing = ParquetDir.read(s, cur).select(col("id").as("__tomb_id"))
        distinctIds.join(existing,
          distinctIds("id") === existing("__tomb_id"), "left_anti")
      } else distinctIds
    // localCheckpoint: the count below and the write must see ONE
    // snapshot (the anti-join reads the store being appended to)
    val pinned = newIds.localCheckpoint()
    commitTombstones(s, path, manifestName, cur, pinned, pinned.count())
    SessionScratch.releaseCheckpoint(pinned)
  }

  /** Open the tombstone store for a delete: refuse a read-only store,
    * then return the directory the delete appends to and whether a
    * delete was ever committed (only then can ids already be
    * tombstoned).
    */
  private[llmops] def openTombstones(s: SparkSession, path: String,
      manifestName: String, what: String): (String, Boolean) = {
    requireMutable(s, path, "delete")
    val tn = tombManifest(manifestName)
    readSidecar(s, path, tn) match {
      case Some(_) => (verifiedDir(s, path, tn, s"$what tombstones"), true)
      case None =>
        // no tombstone manifest = no delete ever COMMITTED. Any
        // existing tombs-g* directory is provably-uncommitted garbage
        // (a first delete that crashed before its manifest publish, or
        // a clearTombstones that crashed after its retraction) —
        // adopting its files would silently commit a delete that never
        // happened (and, for TextIndex, one whose stats adjustment
        // never ran, with a fingerprint stamp that would then
        // VALIDATE the mismatch). Sweep it before starting fresh.
        dropTombDirs(s, path, "could not sweep orphaned tombstone dir")
        (s"$path/tombs-g0", false)
    }
  }

  /** THE tombstone commit: append `newIds` — one int64 `id` column,
    * distinct, none already tombstoned, `nNew` rows, pinned so the count
    * and the write see one snapshot — into `cur` (from
    * [[openTombstones]]) and publish the tombstone manifest.
    */
  private[llmops] def commitTombstones(s: SparkSession, path: String,
      manifestName: String, cur: String, newIds: DataFrame,
      nNew: Long): Unit =
    if (nNew > 0) {
      // bump BEFORE the tombstone publish (the bumpAppended crash
      // direction: a crash between the two over-counts, erring early)
      bumpDeleted(s, path, nNew)
      newIds.write.mode("append").parquet(cur)
      publishManifest(s, path, tombManifest(manifestName),
        cur.substring(path.length + 1))
    }
    // nNew == 0 (every id already tombstoned, or an empty delete) is a
    // SEMANTIC no-op — committing it anyway would cost a sidecar RMW,
    // an empty part file in tombs-gN, and a manifest republish per
    // repeated takedown replay, all for state the store already holds

  /** The committed tombstone set as a one-column frame (`id`), or
    * None when no delete was ever recorded (the common case — reads
    * then skip the anti-join entirely).
    */
  private[llmops] def tombstones(s: SparkSession, path: String,
      manifestName: String, what: String): Option[DataFrame] = {
    val tn = tombManifest(manifestName)
    readSidecar(s, path, tn).map { _ =>
      ParquetDir.read(s, verifiedDir(s, path, tn, s"$what tombstones"))
        .select(col("id"))
    }
  }

  /** `rows` minus tombstoned ids on `idCol` — the read-path mask. A
    * NULL `idCol` row always survives (left-anti keeps unmatched
    * rows), which is exactly right for mixed-shape stores where some
    * row kinds carry no member id.
    */
  private[llmops] def minusTombstones(s: SparkSession, path: String,
      manifestName: String, what: String, rows: DataFrame,
      idCol: String): DataFrame =
    tombstones(s, path, manifestName, what) match {
      case None => rows
      case Some(t) =>
        val tt = t.select(col("id").as("__tomb_id"))
        rows.join(tt, rows(idCol) === tt("__tomb_id"), "left_anti")
    }

  /** The physical-drop closure for [[MaintainedStore.compact]]'s rewrite:
    * rows minus tombstoned ids on `idCol`, or None when no deletes
    * pend (compaction then stays the plain file rewrite). One
    * definition so the mask semantics cannot drift between stores.
    */
  private[llmops] def tombstoneDropper(s: SparkSession, path: String,
      manifestName: String, what: String, idCol: String)
      : Option[DataFrame => DataFrame] =
    tombstones(s, path, manifestName, what).map { t =>
      val tt = t.select(col("id").as("__tomb_id"))
      (df: DataFrame) =>
        df.join(tt, df(idCol) === tt("__tomb_id"), "left_anti")
    }

  /** Vacuum BOTH stores under one root: the data store and, when one
    * exists, its tombstone store — a torn delete-append leaves
    * uncommitted files under `tombs-g<N>` that the data-store vacuum's
    * generation regex deliberately does not touch. Counts are summed.
    */
  private[llmops] def vacuumWithTombstones(s: SparkSession, path: String,
      manifestName: String, what: String): VacuumReport = {
    val main = vacuumStore(s, path, manifestName, what)
    val tn = tombManifest(manifestName)
    if (readSidecar(s, path, tn).isEmpty) main
    else {
      val t = vacuumStore(s, path, tn, s"$what tombstones")
      VacuumReport(
        main.uncommittedRemoved + t.uncommittedRemoved,
        main.staleGenerationsRemoved + t.staleGenerationsRemoved,
        main.tempsRemoved + t.tempsRemoved)
    }
  }

  /** Clear the tombstone store after its rows were PHYSICALLY dropped
    * (a compaction swap or a republish). Order matters for the crash
    * window: the manifest is retracted FIRST, so a crash mid-clear
    * leaves an unreferenced tombs directory (garbage a tombstone-store
    * vacuum can sweep), never a manifest pointing at deleted files.
    * Re-applying a tombstone whose rows are already gone is a no-op,
    * so clearing strictly after the data swap is idempotent-safe.
    */
  private[llmops] def clearTombstones(s: SparkSession, path: String,
      manifestName: String): Unit = {
    val tn = tombManifest(manifestName)
    if (readSidecar(s, path, tn).isDefined) {
      retractSidecar(s, path, tn)
      dropTombDirs(s, path, "could not clear tombstone dir")
    }
  }

  /** Delete every `tombs-g<N>` directory under the store root, each
    * delete verified like [[retractSidecar]]: a silently-failed delete
    * would leave files a future first delete must then sweep.
    */
  private def dropTombDirs(s: SparkSession, path: String,
      failure: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(s, path)
    if (fs.exists(root))
      fs.listStatus(root).toSeq
        .filter(st => st.isDirectory &&
          st.getPath.getName.matches("tombs-g\\d+"))
        .foreach(st => requireDeleted(fs, st.getPath, recursive = true,
          failure))
  }

  /** What [[vacuumStore]] removed: uncommitted data files inside the
    * live generation (a torn append's leftovers), superseded generation
    * directories (a compaction/republish whose best-effort delete was
    * lost to a crash), and orphaned sidecar temp files (a
    * [[writeSidecar]] killed between create and rename).
    */
  final case class VacuumReport(uncommittedRemoved: Int,
      staleGenerationsRemoved: Int, tempsRemoved: Int)

  /** Crash-RECOVERY for a manifested store — the remediation half of
    * [[verifiedDir]]'s detection: the manifest defines exactly which
    * files ARE the store, so everything else under `path` is provably
    * garbage and removing it restores the committed state without a
    * rebuild. Turns "torn append detected → rebuild required" into
    * "torn append detected → vacuum → retry the append".
    *
    * Refuses (descriptively) when committed files are MISSING or
    * resized — that is data loss, not garbage, and only a rebuild can
    * recover it. Single-writer discipline assumed (as everywhere in
    * this family): vacuuming while an append/compaction is in flight
    * would delete its in-progress files.
    */
  private[llmops] def vacuumStore(s: SparkSession, path: String,
      name: String, what: String): VacuumReport = {
    val m = readManifest(s, path, name).getOrElse(
      throw new IllegalStateException(
        s"$what at $path has no $name manifest — nothing defines the " +
          "committed file set, so vacuum cannot distinguish data from " +
          "garbage; rebuild the index."))
    val live = new org.apache.hadoop.fs.Path(s"$path/${m.subdir}")
    val fs = fsOf(s, path)
    val actual = listDataFiles(s, s"$path/${m.subdir}")
    val missing = (m.files -- actual).map(_._1).toSeq.sorted
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"$what at $path cannot be vacuumed: ${missing.size} committed " +
          s"file(s) missing or resized (e.g. ${missing.take(3).mkString(", ")})" +
          " — that is data loss, not leftover garbage; rebuild the index.")
    // 1. uncommitted data files inside the live generation
    val extras = (actual -- m.files).map(_._1).toSeq.sorted
    extras.foreach(n => requireDeleted(fs, new org.apache.hadoop.fs.Path(
      live, n), recursive = false, "vacuum could not remove uncommitted file"))
    // 2. superseded generation directories, 3. orphaned sidecar temps
    //    directly under the store root
    val entries = fs.listStatus(new org.apache.hadoop.fs.Path(path)).toSeq
    val stale = staleGenerations(entries, m.subdir)
    stale.foreach(st => requireDeleted(fs, st.getPath, recursive = true,
      "vacuum could not remove stale generation"))
    val temps = orphanedTemps(entries)
    temps.foreach(st => requireDeleted(fs, st.getPath, recursive = false,
      "vacuum could not remove orphaned temp"))
    VacuumReport(extras.size, stale.size, temps.size)
  }

  /** Non-throwing health report for one manifested store — the
    * OBSERVATION third of the crash-safety triad: [[verifiedDir]]
    * refuses a damaged store at read time, [[vacuumStore]] repairs it,
    * and fsck only reports, so an operator can audit a whole catalog of
    * stores (including ones every read path would throw on) in one
    * sweep and pick the remediation per store. The three garbage
    * categories are exactly vacuum's; `missingFiles` is the data-loss
    * case vacuum refuses on; `configMatches` is
    * [[MaintainedStore.requireLive]]'s drift check, reported instead of
    * thrown (None when the store has no config sidecar).
    */
  final case class FsckReport(
      what: String, path: String,
      configPresent: Boolean, configMatches: Option[Boolean],
      manifestPresent: Boolean, generation: Int,
      committedFiles: Int, committedBytes: Long,
      uncommittedFiles: Int, missingFiles: Int,
      staleGenerations: Int, orphanedTemps: Int,
      trainStats: Option[TrainStats] = None) {
    /** Every read path would succeed and nothing needs sweeping. */
    def healthy: Boolean = configPresent && configMatches.forall(identity) &&
      manifestPresent && uncommittedFiles == 0 && missingFiles == 0 &&
      staleGenerations == 0 && orphanedTemps == 0
    /** [[vacuumStore]] would restore `healthy` (garbage present, no
      * data loss, no config drift — those need a rebuild instead). */
    def vacuumRepairs: Boolean = configPresent &&
      configMatches.forall(identity) && manifestPresent &&
      missingFiles == 0 && (uncommittedFiles > 0 ||
        staleGenerations > 0 || orphanedTemps > 0)
  }

  // ---- training provenance (_train_stats sidecar) --------------------------
  //
  // The trained stores (IVF / IVF-PQ / graph) record WHERE their trained
  // artifacts came from: the training-sample size (n_train, measured for
  // free inside KMeans.fitStats / PqCodebook.fitStats), the FAISS 39·k
  // undertraining verdict at build time, the k-selection policy, and a
  // running count of rows appended SINCE training (n_appended, bumped
  // atomically by every append). Together they make the two operational
  // decisions pure METADATA reads: "is this store undertrained?"
  // (fsck/StoreAudit) and "has it grown enough since training to need a
  // republish?" (the q230 drift→decision sweep) — neither touches data.

  /** Parsed `_train_stats` sidecar. `drift` is the appended share of the
    * current membership — the staleness metric the republish decision
    * thresholds on (FAISS/DiskANN "rebuild when inserts exceed X% of
    * build size").
    *
    * DELETE-AWARE (round 15, closing the round-14 documented bias):
    * `nDeleted` counts members tombstoned since training — bumped by
    * [[bumpDeleted]] on every delete, folded into the base by
    * [[foldDeletesIntoTrain]] when a compaction physically drops the
    * tombstoned rows, reset (with everything else) by a republish.
    * Without it, takedown-heavy stores republish LATE: the
    * n_train + n_appended denominator overstates a membership most of
    * which is gone, so appends that dominate the LIVE store read as a
    * small share of a phantom large one. The decision rule
    * ([[StoreRemediator.needsRepublish]]) therefore thresholds
    * appended rows against the live trained base (n_train − n_deleted),
    * not the historical build size.
    *
    * APPROXIMATION (deliberate, safe direction): the counter does not
    * know WHICH rows a delete hit, so the compact fold attributes all
    * drops to the trained base. When deletes actually removed appended
    * rows, the post-fold base reads LOW and drift reads HIGH — an
    * EARLY republish, which resets the ledger. Same direction for ids
    * deleted twice across a compact boundary or ids that never were
    * members: [[addTombstones]] bumps only ids not already tombstoned,
    * but a foreign id still counts — again early, never late. Keeping
    * the exact per-row provenance would make the sidecar a second
    * membership ledger every delete path must keep transactionally
    * consistent; the decision rule does not need that precision.
    *
    * `k` is the store's TRUE trained cell count; `floorK` is the
    * (possibly larger) shape the 39·x undertraining floor gates on —
    * they differ only for stores with a second trained half whose
    * sample requirement dominates (IVF-PQ: floorK = max(k, cb), the
    * codebook's 39·cb floor vs the usually-smaller cell count). Kept
    * separate so a consumer sizing a rebuild reads `k` and can never
    * republish at the floor by mistake.
    */
  final case class TrainStats(nTrain: Long, k: Int, undertrained: Boolean,
      nAppended: Long, kPolicy: String, floorK: Option[Int] = None,
      nDeleted: Long = 0L) {
    def drift: Double =
      if (nTrain + nAppended == 0) 0.0
      else nAppended.toDouble / (nTrain + nAppended).toDouble
    /** The shape the undertraining floor is computed from. */
    def floorShape: Int = floorK.getOrElse(k)
    /** The live trained base the republish rule thresholds against —
      * training rows minus tombstoned members (clamped: the fold/bump
      * approximation can overshoot on foreign-id deletes).
      */
    def liveTrainBase: Long = math.max(0L, nTrain - nDeleted)
  }

  private[llmops] val TrainStatsName = "_train_stats"

  /** THE sidecar serialization — one renderer for build-time writes
    * AND append-time bumps, so the two writers can never drift format
    * (a drifted bump would parse as None and silently stop counting).
    */
  private def renderTrainStats(ts: TrainStats): String =
    s"n_train=${ts.nTrain};k=${ts.k};" +
      s"floor_k=${ts.floorShape};" +
      s"floor=${KMeans.minTrainPoints(ts.floorShape)};" +
      s"undertrained=${ts.undertrained};" +
      s"n_appended=${ts.nAppended};n_deleted=${ts.nDeleted};" +
      s"k_policy=${ts.kPolicy};v=3"

  /** Record training provenance at build time (n_appended resets to 0 —
    * a rebuild consumes all prior appends by definition). `floorK`
    * overrides the shape the 39·x undertraining floor gates on when a
    * second trained half's requirement dominates (see [[TrainStats]]);
    * `k` itself stays the store's true cell count.
    */
  private[llmops] def writeTrainStats(s: SparkSession, path: String,
      nTrain: Long, k: Int, kPolicy: String,
      floorK: Option[Int] = None): Unit =
    writeSidecar(s, path, TrainStatsName,
      renderTrainStats(TrainStats(nTrain, k,
        KMeans.undertrained(nTrain, floorK.getOrElse(k)),
        nAppended = 0L, kPolicy, floorK)))

  /** The recorded training provenance; None when the store predates the
    * sidecar or was never built by a trained-store builder.
    */
  private[llmops] def readTrainStats(s: SparkSession, path: String)
      : Option[TrainStats] =
    readSidecar(s, path, TrainStatsName).flatMap { body =>
      def field(name: String): Option[String] =
        s"(^|;)$name=([^;]*)".r.findFirstMatchIn(body.trim)
          .map(_.group(2))
      scala.util.Try(TrainStats(
        field("n_train").get.toLong,
        field("k").get.toInt,
        field("undertrained").get.toBoolean,
        field("n_appended").get.toLong,
        field("k_policy").get,
        // v1 sidecars predate floor_k (floor was derived from k);
        // absent → the floor shape IS k, which v1 guaranteed
        field("floor_k").map(_.toInt),
        // v1/v2 sidecars predate n_deleted; absent → no delete was
        // ever counted, which those versions guaranteed
        field("n_deleted").map(_.toLong).getOrElse(0L))).toOption
    }

  /** Add `delta` appended rows to the recorded provenance (atomic
    * sidecar replace). No-op for stores without the sidecar — appends
    * must keep working on stores built before it existed.
    *
    * SINGLE WRITER ASSUMED (the store family's standing discipline —
    * [[vacuumStore]] states the same): the bump is a read-modify-write
    * of the sidecar, so two OVERLAPPING appends to one store could
    * interleave read/write and silently lose a count, permanently
    * understating drift. Appends to one store must be serialized by
    * the caller (concurrent appends already race the data manifest
    * itself, so this adds no new requirement — it documents why the
    * RMW needs no lock of its own).
    *
    * CRASH DIRECTION: callers bump BEFORE publishing the data
    * manifest, so a crash between the two leaves n_appended
    * OVER-counted against a store whose extra files are uncommitted
    * garbage (vacuumed at recovery) — the staleness metric then errs
    * toward an EARLY republish, which resets it. Bumping after the
    * publish would instead under-count on a crash: a permanently
    * stale-looking-fresh store that the decision loop never flags.
    */
  private[llmops] def bumpAppended(s: SparkSession, path: String,
      delta: Long): Unit = {
    requireMutable(s, path, "provenance append bump")
    readTrainStats(s, path).foreach { ts =>
      writeSidecar(s, path, TrainStatsName,
        renderTrainStats(ts.copy(nAppended = ts.nAppended + delta)))
    }
  }

  /** Add `delta` tombstoned members to the recorded provenance — the
    * delete-side twin of [[bumpAppended]] (same single-writer RMW
    * contract, same no-op on sidecar-less stores). Callers bump BEFORE
    * publishing the tombstone manifest, so a crash between the two
    * OVER-counts deletes against a store whose tombstones never
    * committed — drift then errs toward an EARLY republish, which
    * resets the ledger (the [[bumpAppended]] crash direction).
    */
  private[llmops] def bumpDeleted(s: SparkSession, path: String,
      delta: Long): Unit = {
    requireMutable(s, path, "provenance delete bump")
    readTrainStats(s, path).foreach { ts =>
      writeSidecar(s, path, TrainStatsName,
        renderTrainStats(ts.copy(nDeleted = ts.nDeleted + delta)))
    }
  }

  /** Fold counted deletes into the trained base after a compaction
    * PHYSICALLY dropped the tombstoned rows: n_train −= n_deleted
    * (clamped), n_deleted = 0. The republish rule is invariant under
    * the fold (it thresholds on n_train − n_deleted either way), so
    * compacting never changes a store's staleness verdict — it only
    * keeps the sidecar aligned with the store that now exists on disk.
    * No-op for sidecar-less stores and for kinds whose compaction
    * preserves tombstoned rows (the graph keeps them routing until
    * republish — its delete counter keeps accruing until then).
    */
  private[llmops] def foldDeletesIntoTrain(s: SparkSession,
      path: String): Unit =
    readTrainStats(s, path).filter(_.nDeleted > 0).foreach { ts =>
      writeSidecar(s, path, TrainStatsName,
        renderTrainStats(ts.copy(nTrain = ts.liveTrainBase,
          nDeleted = 0L)))
    }

  // ---- training-corpus locator (_train_source_locator) ---------------------
  //
  // The frozen transforms (BPE tokenizer, classifier model) are
  // trained artifacts whose training corpus the artifact itself does
  // not carry — without a recorded locator, a staleness-flagged model
  // can only be QUEUED for manual retraining (q236's acted=0 row).
  // The locator is the ivfpq raw-pair pattern applied to transforms:
  // it names WHERE the training corpus lives (a parquet path) plus the
  // reproducible selection rule (a SQL predicate — the split rule the
  // day-0 training applied, e.g. the q190 train-split derivation), so
  // [[FrozenModel]]'s remediation can replay "read corpus, filter, retrain,
  // republish" end-to-end.
  //
  // LIVE-CORPUS SEMANTICS: the locator names a corpus LOCATION, not a
  // snapshot — at remediation time the retrain reads what is there
  // NOW, which is exactly the point (the model drifted because that
  // corpus grew). Pointing it at a foreign path retrains over that
  // path's rows; the predicate must not contain ';' (the sidecar field
  // separator — enforced at record time, not discovered at parse).

  private[llmops] val TrainSourceName = "_train_source_locator"

  /** Record the training-corpus locator: `corpusPath` (parquet) +
    * `where` (SQL predicate selecting the training rows; "true" for
    * the whole corpus).
    */
  private[llmops] def recordTrainSource(s: SparkSession, path: String,
      corpusPath: String, where: String): Unit = {
    require(!where.contains(";"),
      s"train-source predicate must not contain ';' (the sidecar " +
        s"field separator): [$where]")
    writeSidecar(s, path, TrainSourceName,
      s"v=1;kind=parquet;where=$where;path=$corpusPath")
  }

  /** The recorded (corpusPath, where) locator, if any. `path=` is the
    * LAST field and parsed to end-of-line, so corpus paths containing
    * ';' cannot corrupt the parse.
    */
  private[llmops] def trainSourceOf(s: SparkSession,
      path: String): Option[(String, String)] =
    readSidecar(s, path, TrainSourceName).flatMap { b =>
      val body = b.trim
      for {
        w <- "(^|;)where=([^;]*)".r.findFirstMatchIn(body).map(_.group(2))
        p <- "(^|;)path=(.*)$".r.findFirstMatchIn(body).map(_.group(2))
        if p.nonEmpty
      } yield (p, w)
    }

  // ---- occupancy-constant default k ----------------------------------------

  /** Default per-cell occupancy target for [[kFor]] — the value the
    * occupancy-constant protocol measured as keeping the cell-blocked
    * pair space linear in n (SCALING.md, "Measured, round 12: the
    * occupancy-constant protocol (k ∝ n)": at fixed k an 8× corpus grows
    * occupancy 8× and the occupancy-bounded costs quadratically; k∝n
    * restores the pair_space/n invariant).
    */
  val OccTarget = 256L

  /** Occupancy-constant cell count: k = max(4, ⌈n / occTarget⌉) — the
    * default-k path for the trained-store builders, so a 100 TB
    * operator gets the measured protocol without knowing it. Floor 4
    * keeps tiny corpora at the gate-pinned minimum cell count; the
    * Int.MaxValue clamp keeps the Long→Int cast from silently wrapping
    * at astronomically large n (at which point the caller should be
    * raising occTarget, not cell count).
    */
  def kFor(n: Long, occTarget: Long = OccTarget): Int =
    math.min(Int.MaxValue.toLong,
      math.max(4L, (n + occTarget - 1) / occTarget)).toInt

  /** The recorded k-selection policy's occupancy target, when it IS an
    * occupancy policy ("occ<target>" — what the auto-k builders
    * record); None for "explicit" and any other policy string.
    */
  private[llmops] def occTargetOf(kPolicy: String): Option[Long] =
    "^occ(\\d+)$".r.findFirstMatchIn(kPolicy)
      .flatMap(m => scala.util.Try(m.group(1).toLong).toOption)
      .filter(_ > 0)

  /** CRASH-STATE fixture (specs / gates / scale harnesses): simulate a
    * torn append by dropping one uncommitted file into the live
    * generation — exactly what a crash between the data write and the
    * manifest publish leaves behind. ONE definition so every consumer
    * injects the identical state the listing rules ([[listDataFiles]] /
    * [[verifiedDir]] / [[vacuumStore]]) detect: a plain data-looking
    * file (no `_`/`.` prefix), deterministic bytes, named to sort
    * last.
    */
  private[graft] def injectTornAppend(s: SparkSession,
      dataDir: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dataDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(dataDir,
      "zzzz-torn-append.parquet"), true)
    out.write("torn-append".getBytes("UTF-8"))
    out.close()
  }
}

/** The persisted MinHash-LSH signature index behind incremental dedup
  * (q46's operational form). Layout at `path`:
  * `signatures-g<N>/` (doc_id, band, sig) parquet (current generation
  * named by `_dedup_index_manifest`) + `_dedup_index_config`.
  */
object DedupIndex extends MaintainedStore("dedup", "dedup_index",
    "signatures", "Dedup signature index") {

  /** The signature recipe this build produces — recorded at build,
    * verified at every append/probe. Any change to the MinHash
    * pipeline (permutation count, band layout, token hash) must bump
    * this string, which turns silent index corruption into a
    * descriptive rebuild-required error.
    */
  val Config: String =
    "minhash=16;bands=8;rows_per_band=2;tokhash=charpoly-1000000007;" +
      "match_bands>=4;v=1"

  /** Band-match floor for "duplicate" — the q41/q45/q46 threshold. */
  val MatchBands = 4

  protected def expectedConfig(recorded: String): String = Config
  override protected def tombIdCol: Option[String] = Some("doc_id")

  /** Initial build: signatures of the accepted corpus, then the
    * manifest (committing the file set), then the config sidecar (the
    * "ingest complete" marker) — a crash anywhere mid-build reads as
    * missing-sidecar, never as a silently short index.
    */
  def build(docs: DataFrame, path: String): Unit = {
    val s = docs.sparkSession
    buildCommit(s, path)(
      Dedup.bandSignaturesOf(docs).write.mode("overwrite").parquet(_))
    IndexMaintenance.writeSidecar(s, path, configName, Config)
  }

  /** The stored signature table (config- AND manifest-verified: a torn
    * append fails descriptively here instead of being read), with
    * tombstoned docs MASKED — a deleted doc stops suppressing future
    * near-duplicates immediately, before any physical rewrite.
    */
  def signatures(s: SparkSession, path: String): DataFrame = {
    requireLive(s, path)
    masked(s, path, ParquetDir.read(s, dataDir(s, path)))
  }

  /** DELETE docs from the index (takedowns, opt-outs): tombstones — every
    * probe from this point treats the docs as absent ([[signatures]]
    * masks them) — and the next [[compact]] drops their signature rows
    * physically and clears the tombstones.
    */
  def delete(docIds: DataFrame, path: String): Unit =
    tombstoneDelete(docIds, path)

  /** READ-ONLY probe: the rows of `newDocs` that survive dedup against
    * the index — a new doc is dropped when it shares >= [[MatchBands]]
    * of 8 band signatures with ANY indexed doc. Cost shape: hash ONLY
    * `newDocs` (delta-sized explode + hash-agg), one bucket-bounded
    * (band, sig) equi-join against the index parquet, one anti-join.
    * Existing×existing pairs never materialize; the corpus is never
    * re-hashed.
    */
  def probe(newDocs: DataFrame, path: String): DataFrame =
    probeWithSigs(newDocs, Dedup.bandSignaturesOf(newDocs), path)

  private[llmops] def probeWithSigs(newDocs: DataFrame, newSigs: DataFrame,
      path: String): DataFrame = {
    val s = newDocs.sparkSession
    val idx = signatures(s, path)
      .select(col("doc_id").as("doc_e"), col("band"), col("sig"))
    // count DISTINCT bands, not join rows: a healthy index has one row
    // per (doc, band), but a replayed append could leave duplicate
    // signature rows, and a plain count would then inflate a 2-band
    // overlap past the >=MatchBands threshold (false drop)
    val dropped = newSigs.join(idx, Seq("band", "sig"))
      .groupBy(col("doc_id"), col("doc_e"))
      .agg(count_distinct(col("band")).as("n_bands"))
      .filter(col("n_bands") >= MatchBands)
      .select(col("doc_id"))
      .distinct()
    newDocs.join(dropped, Seq("doc_id"), "left_anti")
  }

  /** MAINTENANCE: probe `newDocs` against the index, append the
    * SURVIVORS' signatures (accepted docs only — dropped docs never
    * enter the corpus, so their signatures must not enter the index),
    * and return the surviving rows. The new docs are hashed exactly
    * once: the signature frame is checkpointed and feeds both the
    * probe join and the appended subset. Base index files are never
    * rewritten.
    */
  def append(newDocs: DataFrame, path: String): DataFrame = {
    val s = newDocs.sparkSession
    appendCommit(s, path, "signature append") { cur =>
      val newSigs = SessionScratch.transientCheckpoint(
        Dedup.bandSignaturesOf(newDocs))
      val survivors = SessionScratch.transientCheckpoint(
        probeWithSigs(newDocs, newSigs, path))
      newSigs.join(survivors.select(col("doc_id")), Seq("doc_id"),
          "left_semi")
        .write.mode("append").parquet(cur)
      survivors
    }
  }
}

/** The persisted FULL-TEXT (BM25) index — the retrieval family's
  * maintained artifact (q74's operational form, the same daily-crawl
  * story as [[DedupIndex]]): a 100 TB corpus cannot re-tokenize itself
  * per search, so the postings live on disk and arrivals append only
  * their own postings. Layout at `path`:
  * `postings-g<N>/` (doc_id, w, tf, dl) parquet (current generation
  * named by `_text_index_manifest`) + `_text_index_stats` (exact
  * integer corpus stats: n_docs, sum_dl — avgdl is DERIVED at query
  * time so one atomic sidecar publish keeps it consistent) +
  * `_text_index_config`.
  *
  * df is NOT materialized: it is an aggregate over the postings of the
  * QUERY terms only (the term filter pushes to the parquet scan), so
  * appends can never leave a stale document-frequency table — the
  * search recomputes df from the one source of truth at posting-list
  * cost, not corpus cost.
  *
  * Crash safety is the [[DedupIndex]] discipline with one more moving
  * part: append publishes postings files → stats sidecar → manifest,
  * in that order; a crash between ANY two steps leaves uncommitted
  * part-files that the manifest check rejects descriptively.
  */
object TextIndex extends MaintainedStore("bm25", "text_index", "postings",
    "Full-text BM25 index") {

  /** Tokenizer + scoring recipe (the q74 contract): whitespace tokens
    * of trimmed text, rational BM25 idf (no log — see TextAnalysis),
    * k1=2.2 (as k1+1=2.2 numerator form), b=0.75.
    */
  val Config: String =
    "tok=whitespace-trim-split;score=bm25-rational;k1tf=2.2;b=0.75;v=1"

  protected def expectedConfig(recorded: String): String = Config
  override protected def tombIdCol: Option[String] = Some("doc_id")

  private val StatsName = "_text_index_stats"

  /** Postings of a documents frame: one row per (doc, term) with the
    * term frequency and the doc length — the single tokenize pass a
    * doc pays on ingest. Documents are hash-partitioned by `doc_id`
    * BEFORE tokenizing, so the one exchange carries each document once
    * and the (doc_id, dl, w) aggregate needs no second one. `docStats`
    * observes the corpus stats `n_docs` and `sum_dl` on the
    * per-document projection, which sits after that exchange: in the
    * result stage of the query that runs the postings.
    */
  private[graft] def postingsOf(docs: DataFrame,
      docStats: Observation): DataFrame =
    docs.select(col("doc_id"), col("text"))
      .repartition(col("doc_id"))
      // dl before the explode: beside it, Spark re-evaluates it per token
      .select(col("doc_id"), col("text"),
        TextStats.nWords(col("text")).cast("long").as("dl"))
      .observe(docStats, corpusStats.head, corpusStats.tail: _*)
      .select(col("doc_id"), col("dl"),
        explode(PortableHash.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("doc_id"), col("dl"), col("w"))
      .agg(count(lit(1)).as("tf"))
      .select(col("doc_id"), col("w"), col("tf"), col("dl"))

  /** (n_docs, sum_dl) over per-document rows with a `dl` column — exact
    * integers, never NULL.
    */
  private val corpusStats: Seq[org.apache.spark.sql.Column] = Seq(
    count(lit(1)).as("n_docs"),
    coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))

  /** Write the postings of `docs` into `dir` under `mode` — one query —
    * and return the docs' (n_docs, sum_dl).
    */
  private def writePostings(docs: DataFrame, dir: String,
      mode: String): (Long, Long) = {
    val docStats = Observation()
    val Seq(n, dl) = IndexMaintenance.observed(docStats, "n_docs", "sum_dl")(
      postingsOf(docs, docStats).write.mode(mode).parquet(dir))._2
    (n, dl)
  }

  private def writeStats(s: SparkSession, path: String,
      nDocs: Long, sumDl: Long, tombs: Option[String] = None): Unit =
    IndexMaintenance.writeSidecar(s, path, StatsName,
      s"n_docs=$nDocs;sum_dl=$sumDl" +
        tombs.map(t => s";tombs=$t").getOrElse(""))

  /** The recorded corpus stats (n_docs, sum_dl), VERIFIED against the
    * tombstone set: [[delete]] adjusts these stats in lockstep with
    * its tombstone publish and stamps the tombstone fingerprint into
    * the sidecar — a crash between the two writes leaves a live
    * tombstone manifest the stats never saw, which this read reports
    * descriptively (remediation: [[repairStats]]) instead of silently
    * scoring BM25 with a wrong N/avgdl. A fingerprint WITHOUT a
    * tombstone manifest is the benign post-compact crash window
    * (rows already dropped, stats already correct) and is accepted.
    */
  def stats(s: SparkSession, path: String): (Long, Long) = {
    val raw = IndexMaintenance.readSidecar(s, path, StatsName)
      .getOrElse(throw new IllegalStateException(
        s"$what at $path has no $StatsName sidecar — initial ingest " +
          "did not complete; rebuild the index."))
    val m = raw.trim.split(";").map { kv =>
      val Array(k, v) = kv.split("=", 2); k -> v
    }.toMap
    val current = IndexMaintenance.tombFingerprint(s, path, manifestName)
    if (current.isDefined && !m.get("tombs").contains(current.get))
      throw new IllegalStateException(
        s"$what at $path has tombstones its stats sidecar never saw " +
          "(a delete crashed between the tombstone publish and the " +
          "stats adjustment) — BM25 would score with a wrong N/avgdl; " +
          "run TextIndex.repairStats to recompute them from the " +
          "masked postings.")
    (m("n_docs").toLong, m("sum_dl").toLong)
  }

  /** Crash remediation for a torn [[delete]]: recompute (n_docs,
    * sum_dl) from the MASKED postings and re-stamp the current
    * tombstone fingerprint. Caveat (documented, not silent): postings
    * carry only docs with >= 1 token, so empty-text docs drop out of
    * the recomputed n_docs — they can never match a term, but idf's N
    * shifts by the empty-doc count relative to a build-time stats
    * write.
    */
  def repairStats(s: SparkSession, path: String): (Long, Long) = {
    val perDoc = postings(s, path)
      .groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
    val r = perDoc.agg(count(lit(1)), sum(col("dl"))).head()
    val (n, dl) = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    writeStats(s, path, n, dl,
      IndexMaintenance.tombFingerprint(s, path, manifestName))
    (n, dl)
  }

  /** DELETE docs from the index (takedown/opt-out): tombstones mask
    * the postings immediately ([[postings]] anti-joins them, so df and
    * tf never count deleted docs), the BM25 corpus stats are adjusted
    * in the same operation (stamped with the tombstone fingerprint —
    * see [[stats]] for the crash contract), and the next [[compact]]
    * drops the posting rows physically. Ids not present in the index
    * (or already deleted) are ignored — stats are adjusted only by
    * what actually left the corpus.
    */
  def delete(docIds: DataFrame, path: String): Unit = {
    val s = docIds.sparkSession
    val ids = docIds.toDF("id").select(col("id").cast("long"))
    // effective set: present in the (already-masked, config-verified)
    // postings, one row per doc — CHECKPOINTED so the tombstone write
    // reuses its postings scan, and its (count, sum(dl)) observed by
    // the checkpoint's own query. Masked and distinct, it is exactly
    // the NEW tombstone set, committed as is. Caveat shared with
    // [[repairStats]]: a doc whose text trims to ZERO tokens has no
    // posting rows, so it can neither be tombstoned nor decrement
    // n_docs here — it also can never match a term, but idf's N keeps
    // counting it until a rebuild; takedown feeds for such docs are a
    // corpus-side concern.
    val gone = Observation()
    val (eff, Seq(nDel, dlDel)) =
      IndexMaintenance.observed(gone, "n_docs", "sum_dl")(
        SessionScratch.transientCheckpoint(
          postings(s, path)
            .join(ids, col("doc_id") === col("id"), "left_semi")
            .groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
            .observe(gone, corpusStats.head, corpusStats.tail: _*)))
    if (nDel > 0) {
      val (n0, dl0) = stats(s, path)
      val (cur, _) =
        IndexMaintenance.openTombstones(s, path, manifestName, what)
      IndexMaintenance.commitTombstones(s, path, manifestName, cur,
        eff.select(col("doc_id").cast("long").as("id")), nDel)
      writeStats(s, path, n0 - nDel, dl0 - dlDel,
        IndexMaintenance.tombFingerprint(s, path, manifestName))
    }
  }

  /** Initial build: postings, stats, manifest, config — config last as
    * the ingest-complete marker.
    */
  def build(docs: DataFrame, path: String): Unit = {
    val s = docs.sparkSession
    buildCommit(s, path) { dir =>
      val (n, dl) = writePostings(docs, dir, "overwrite")
      writeStats(s, path, n, dl)
    }
    IndexMaintenance.writeSidecar(s, path, configName, Config)
  }

  /** The stored postings (config- and manifest-verified), with
    * tombstoned docs MASKED — so search's tf rows AND its df aggregate
    * never count a deleted doc.
    */
  def postings(s: SparkSession, path: String): DataFrame = {
    requireLive(s, path)
    masked(s, path, ParquetDir.read(s, dataDir(s, path)))
  }

  /** MAINTENANCE: tokenize ONLY the new docs, append their postings,
    * fold their counts into the stats, publish the manifest (the
    * commit). Cost shape: one delta scan + delta-sized hash-agg +
    * append; the corpus postings are never read or rewritten.
    */
  def append(newDocs: DataFrame, path: String): Unit = {
    val s = newDocs.sparkSession
    appendCommit(s, path, "postings append") { cur =>
      val (n0, dl0) = stats(s, path)
      val (n1, dl1) = writePostings(newDocs, cur, "append")
      writeStats(s, path, n0 + n1, dl0 + dl1)
    }
  }

  /** BM25 search off the MAINTAINED index — q74's exact scoring
    * (rational idf, fixed-order per-term sum) with tf/dl read from the
    * postings (term filter PUSHED to the parquet scan), df aggregated
    * from those same posting lists, and n_docs/avgdl from the recorded
    * stats. Returns the top-`topk` (doc_id, score).
    */
  def search(s: SparkSession, path: String, terms: Seq[String],
      topk: Int = 15): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val (nDocs, sumDl) = stats(s, path)
    val avgdl = sumDl.toDouble / nDocs
    val p = postings(s, path).filter(col("w").isin(terms: _*))
    val df = p.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val scored = p
      .join(broadcast(df), Seq("w"))
      .withColumn("idf",
        ((lit(nDocs) - col("df")).cast(DoubleType) + lit(0.5)) /
          (col("df").cast(DoubleType) + lit(0.5)))
      .withColumn("tfn",
        (col("tf").cast(DoubleType) * lit(2.2)) /
          (col("tf").cast(DoubleType) + lit(1.2) *
            (lit(0.25) + lit(0.75) *
              (col("dl").cast(DoubleType) / lit(avgdl)))))
      .withColumn("c", col("idf") * col("tfn"))
    val termAggs = terms.map(tm =>
      max(when(col("w") === tm, col("c"))).as(s"c_$tm"))
    scored.groupBy(col("doc_id"))
      .agg(termAggs.head, termAggs.tail: _*)
      .select(col("doc_id") +: terms.map(tm =>
        coalesce(col(s"c_$tm"), lit(0.0)).as(s"s_$tm")): _*)
      .withColumn("score",
        terms.map(tm => col(s"s_$tm")).reduceLeft(_ + _))
      .select(col("doc_id"), col("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topk)
  }

  /** [[MaintainedStore.compact]] plus the stats step: the stats NUMBERS
    * are already correct (adjusted at delete time) and are verified
    * against the tombstone set BEFORE the rewrite; after it only the
    * fingerprint stamp is stripped.
    */
  override def compact(s: SparkSession, path: String,
      targetBytes: Long): (Int, Int) = {
    val (n0, dl0) = stats(s, path)
    val r = super.compact(s, path, targetBytes)
    writeStats(s, path, n0, dl0)
    r
  }
}

/** The persisted bigram language model behind q76's quality scoring —
  * the LOG-STRUCTURED member of the maintained-store family. Its state
  * is ADDITIVE (bigram counts), so maintenance uses the LSM pattern
  * the other stores don't need: appends land the DELTA's partial
  * counts as new rows (the same int64 gh may appear in many files),
  * every read MERGES partials with one hash-agg on the 8-byte key, and
  * compaction is the LSM merge step — it aggregates the partials down
  * to one row per gh while swapping generations atomically. Layout at
  * `path`: `counts-g<N>/` (gh, freq) partial rows + manifest + config.
  *
  * The read-side merge is why correctness survives any append
  * interleaving: addition is associative/commutative, so partials in
  * any file arrangement aggregate to the same model — and the q186
  * gate requires the maintained model to reproduce q76's from-scratch
  * computation bit-exactly.
  */
object NgramIndex extends MaintainedStore("ngram", "ngram_index", "counts",
    "Bigram LM index") {

  /** The counting recipe (q76's): whitespace tokens of trimmed text,
    * per-token charpoly hash, positional 2-gram span hash.
    */
  val Config: String =
    "tok=whitespace-trim-split;tokhash=charpoly-1000000007;" +
      "span=positional-2gram;v=1"

  protected def expectedConfig(recorded: String): String = Config

  /** The LSM merge: partials aggregated to one (gh, freq) per gh, keys
    * whose partials annihilate to zero dropped — exactly as a rebuild
    * without the deleted docs would never produce them (a zero-count
    * row left in would still match the score join and skew n_bigrams).
    */
  private def merged(partials: DataFrame): DataFrame =
    partials.groupBy(col("gh")).agg(sum(col("freq")).as("freq"))
      .filter(col("freq") > 0)

  /** Compaction is the LSM merge step: reads answer identically before
    * and after because they always merge; what changes is the stored
    * row count (and with it every future read's merge cost).
    */
  override protected def compactRewrite(s: SparkSession,
      path: String): Option[DataFrame => DataFrame] = Some(merged)

  /** (gh, freq) partial counts of a documents frame — q76's bigram
    * pipeline ending at the count aggregation.
    */
  private def bigramCounts(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), PortableHash.tokens(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(PortableHash.spanHashes(
        PortableHash.tokenHashes(col("ws")), 2)).as("gh"))
      .groupBy(col("gh")).agg(count(lit(1)).as("freq"))

  def build(docs: DataFrame, path: String): Unit = {
    val s = docs.sparkSession
    buildCommit(s, path)(
      bigramCounts(docs).write.mode("overwrite").parquet(_))
    IndexMaintenance.writeSidecar(s, path, configName, Config)
  }

  /** MAINTENANCE: count ONLY the new docs' bigrams and append the
    * partial rows — delta-sized, commutative, never reads the corpus
    * counts.
    */
  def append(newDocs: DataFrame, path: String): Unit =
    appendCommit(newDocs.sparkSession, path, "bigram append")(
      bigramCounts(newDocs).write.mode("append").parquet(_))

  /** The MERGED model: partials aggregated to one (gh, freq) per gh —
    * the read-side LSM merge (config- and manifest-verified).
    */
  def lm(s: SparkSession, path: String): DataFrame = {
    requireLive(s, path)
    merged(ParquetDir.read(s, dataDir(s, path)))
  }

  /** DELETE docs from the model — the LSM ANTI-RECORD: the additive
    * store needs no tombstones, a delete is the NEGATED partial counts
    * of the deleted docs appended like any other delta. Reads merge
    * them away immediately; compaction annihilates them physically.
    * Contract: `docs` must be rows that were indexed (build/append)
    * exactly once — negating never-indexed text corrupts the counts
    * (the additive store has no membership to check against; the
    * takedown feed carries the stored rows by construction).
    */
  def delete(docs: DataFrame, path: String): Unit =
    appendCommit(docs.sparkSession, path, "bigram delete")(
      bigramCounts(docs).select(col("gh"), (-col("freq")).as("freq"))
        .write.mode("append").parquet(_))

  /** q76's per-document quality scores computed against the MAINTAINED
    * model: the scored docs' bigrams re-derive at query time (a pure
    * map stage), the model side comes off the counts store.
    */
  def score(docs: DataFrame, path: String): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val s = docs.sparkSession
    val bigrams = docs
      .select(col("doc_id"), PortableHash.tokens(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(PortableHash.spanHashes(
        PortableHash.tokenHashes(col("ws")), 2)).as("gh"))
    bigrams.join(lm(s, path), Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("freq")).as("sum_freq"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_freq"),
        (col("sum_freq").cast(DoubleType) /
          col("n_bigrams").cast(DoubleType)).as("avg_freq"))
      .orderBy(col("doc_id"))
  }
}

/** The persisted BPE tokenizer MODEL — the trained-artifact member of
  * the maintained family (the indexes hold derived DATA; this holds a
  * trained TRANSFORM, see [[FrozenModel]]). Layout at `path`:
  * `merges-g<N>/` (merge_rank, lhs, rhs, cnt) parquet + manifest +
  * `_bpe_model_config` recording the training recipe; a load under a
  * drifted recipe (different round count, segmentation, or tie-break)
  * fails descriptively instead of producing a tokenizer that encodes
  * differently than the recorded training did.
  */
object BpeModel extends MaintainedStore("bpe", "bpe_model", "merges",
    "BPE tokenizer model") with FrozenModel[Bpe.Trained] {

  /** The training recipe (Bpe.trainOn's contract): Sennrich-style
    * greedy merges, [[Bpe.Rounds]] rounds, non-letter word split,
    * count-desc/lhs/rhs tie-break.
    */
  val Config: String =
    s"algo=bpe-greedy-merge;rounds=${Bpe.Rounds};wordsplit=nonletter;" +
      "tiebreak=cnt-desc-lhs-rhs;sep=u001f;eow=underscore;v=1"

  protected def table(s: SparkSession, model: Bpe.Trained): DataFrame = {
    import s.implicits._
    model.merges.toDF()
  }

  protected def retrain(s: SparkSession, train: DataFrame): Bpe.Trained =
    Bpe.trainOn(Bpe.wordFreqOf(train.select(col("text"))), Bpe.Rounds)

  // the trained vocab frame stays localCheckpoint-pinned after trainOn —
  // dead once the merge table is republished
  protected def release(model: Bpe.Trained): Unit =
    SessionScratch.releaseCheckpoint(model.vocab)

  /** Load the merge table (config- and manifest-verified, then
    * structurally verified: exactly [[Bpe.Rounds]] merges with ranks
    * 1..Rounds — a truncated or doubled table fails descriptively).
    * Rounds-bounded collect; the result feeds [[Bpe.encodeWord]]'s
    * chained-replace projection, so applying a persisted model is
    * still zero joins and zero shuffles.
    */
  def load(s: SparkSession, path: String): Seq[Bpe.Merge] = {
    requireLive(s, path)
    import s.implicits._
    val ms = ParquetDir.read(s, dataDir(s, path)).as[Bpe.Merge].collect()
      .sortBy(_.merge_rank).toSeq
    if (ms.map(_.merge_rank) != (1L to Bpe.Rounds.toLong))
      throw new IllegalStateException(
        s"$what at $path stores merge ranks " +
          s"[${ms.map(_.merge_rank).mkString(",")}] but the recorded " +
          s"config requires exactly 1..${Bpe.Rounds} — the merge table " +
          "is truncated or doubled; republish the model.")
    ms
  }
}

/** The persisted quality-classifier MODEL — the second frozen
  * TRANSFORM (with [[BpeModel]]): q176's distilled student is a
  * ≤(buckets+1)-row integer weight table, and production scores every
  * later batch with a FROZEN snapshot of it. Layout at `path`:
  * `weights-g<N>/` (b, w) parquet + manifest + `_clf_model_config`
  * recording the training recipe.
  */
object ClfModel extends MaintainedStore("clf", "clf_model", "weights",
    "classifier model") with FrozenModel[DataFrame] {

  /** The training recipe ([[Curation.trainClassifierOn]]'s contract):
    * teacher-labeled batch perceptron, integer power-of-two step decay,
    * hashed unigram+bigram+bias features.
    */
  val Config: String =
    s"algo=batch-perceptron;rounds=${Curation.ClfRounds};" +
      s"step=pow2-decay;teacher=hash-linear;margin=${Curation.MarginMin};" +
      s"buckets=${Curation.ClfBuckets};features=uni+bi+bias;v=1"

  protected def table(s: SparkSession, model: DataFrame): DataFrame =
    model.select(col("b"), col("w"))

  protected def retrain(s: SparkSession, train: DataFrame): DataFrame =
    Curation.trainClassifierOn(s, train.select(col("doc_id"), col("text"))).w

  protected def release(model: DataFrame): Unit =
    SessionScratch.releaseCheckpoint(model)

  /** Load the weight table (config- and manifest-verified, then
    * structurally verified: every bucket id within [0, buckets] — the
    * bias bucket is `buckets` itself — and no duplicate rows per
    * bucket; a foreign or doubled table fails descriptively). The
    * result is the ≤(buckets+1)-row broadcast side of inference — a
    * bounded read, exactly like the IVF centroid pull.
    */
  def load(s: SparkSession, path: String): DataFrame = {
    requireLive(s, path)
    val w = ParquetDir.read(s, dataDir(s, path)).select(col("b"), col("w"))
    val bad = w.filter(col("b") < 0 ||
      col("b") > Curation.ClfBuckets).count()
    val dup = w.groupBy(col("b")).count().filter(col("count") > 1).count()
    if (bad > 0 || dup > 0)
      throw new IllegalStateException(
        s"$what at $path fails the structural check: $bad weight row(s) " +
          s"outside bucket range [0, ${Curation.ClfBuckets}], $dup " +
          "duplicated bucket(s) — the weight table is foreign or " +
          "doubled; republish the model.")
    w
  }
}

/** The persisted IVF ANN index behind q54's operational form. Layout at
  * `path`: `centroids/` (cell, centroid) + `assignments-g<N>/`
  * (member_id, cell, em) parquet (current generation named by
  * `_ivf_index_manifest`) + `_ivf_index_config`.
  *
  * IvfIndex deliberately does NOT retrain on append: new vectors are
  * assigned under the RECORDED centroids (the production IVF contract —
  * FAISS's `add` after `train`). Cell balance degrades as the
  * distribution drifts; the monitoring operator for that is q171
  * (embedding drift), and the remediation is [[republish]].
  */
object IvfIndex extends MaintainedStore("ivf", "ivf_index", "assignments",
    "IVF index") with AnnStore {

  /** Lloyd iterations at initial training (the q52/q54 recipe). */
  val Iters = 2

  private def config(k: Int): String =
    s"kind=ivf-spherical-kmeans;k=$k;iters=$Iters;fixed_point=1e7;" +
      "seed=first-k-by-id;v=1"

  protected def expectedConfig(recorded: String): String =
    config(IndexMaintenance.intField(recorded, "k").getOrElse(0))
  override protected def tombIdCol: Option[String] = Some("member_id")

  /** The indexed member rows (member_id, cell, em) with tombstoned
    * members MASKED — THE read surface for every consumer (search,
    * semantic probe, cross-store refine, label propagation): a deleted
    * member neither appears in results nor suppresses new arrivals,
    * before any physical rewrite. Reading `dataDir` parquet directly
    * bypasses deletes and is reserved for specs/harnesses.
    */
  def members(s: SparkSession, path: String): DataFrame =
    masked(s, path, ParquetDir.read(s, dataDir(s, path)))

  protected def remediationCorpus(s: SparkSession, label: String,
      path: String): DataFrame =
    members(s, path).select(col("member_id").as("vec_id"),
      col("em").as("embedding"))

  /** Initial build: train k centroids on the corpus (the expensive,
    * corpus-sized step), persist centroids AND the corpus assignment
    * table (manifested, so torn appends are detectable), record the
    * config last — the "ingest complete" marker. After this, appends
    * never retrain.
    */
  def build(embeddings: DataFrame, path: String, k: Int): Unit =
    buildImpl(embeddings, path, k, "explicit")

  /** Auto-k build: k = [[IndexMaintenance.kFor]](n) — the measured
    * occupancy-constant protocol as the default, so the caller never
    * has to know it (the one extra cost is the count that sizes k,
    * paid once per build). The chosen policy lands in `_train_stats`.
    */
  def build(embeddings: DataFrame, path: String): Unit =
    buildImpl(embeddings, path,
      IndexMaintenance.kFor(embeddings.count()),
      s"occ${IndexMaintenance.OccTarget}")

  protected def rebuild(embeddings: DataFrame, path: String, k: Int,
      kPolicy: String, recorded: String): Unit =
    buildImpl(embeddings, path, k, kPolicy)

  private def buildImpl(embeddings: DataFrame, path: String, k: Int,
      kPolicy: String): Unit = {
    val s = embeddings.sparkSession
    import s.implicits._
    val nTrain = buildCommit(s, path) { dir =>
      val (cents, n) = KMeans.fitStats(s, embeddings, k = k, iters = Iters)
      cents.map(c => (c.cell, c.centroid.toSeq)).toDF("cell", "centroid")
        .coalesce(1)
        .write.mode("overwrite").parquet(centDir(path))
      KMeans.assign(embeddings, cents)
        .select(col("vec_id").as("member_id"), col("cell"),
          col("embedding").as("em"))
        .write.mode("overwrite").parquet(dir)
      n
    }
    IndexMaintenance.writeTrainStats(s, path, nTrain, k, kPolicy)
    IndexMaintenance.writeSidecar(s, path, configName, config(k))
  }

  /** MAINTENANCE: assign ONLY the new vectors under the RECORDED
    * centroids (no retraining — the FAISS train-then-add contract) and
    * append their assignment rows. Cost shape: one delta-sized argmax
    * projection + one delta-sized append; the corpus assignment table
    * is never read or rewritten.
    */
  def append(newVecs: DataFrame, path: String): Unit = {
    val s = newVecs.sparkSession
    appendCommit(s, path, "vector append") { cur =>
      // the provenance count is taken by the write itself
      val nDelta = IndexMaintenance.writeCounted(
        KMeans.assign(newVecs, centroids(s, path))
          .select(col("vec_id").as("member_id"), col("cell"),
            col("embedding").as("em")), "append", cur)
      // provenance BEFORE the manifest publish — see [[IndexMaintenance
      // .bumpAppended]]'s crash-direction contract
      IndexMaintenance.bumpAppended(s, path, nDelta)
    }
  }

  /** Search the MAINTAINED index: the q54 probe shape (top-
    * [[Similarity.Nprobe]] cells by exact fixed-point centroid dot,
    * per-query top-`topk` by exact cosine) with the assignment table
    * read off parquet. The candidate set per query is |cell|·Nprobe,
    * never |corpus|.
    */
  def search(queries: DataFrame, path: String,
      topk: Int = 8): DataFrame = {
    val s = queries.sparkSession
    import s.implicits._
    val centDf = centroids(s, path)
      .map(c => (c.cell, c.centroid.toSeq)).toDF("ccell", "ec")
    Similarity.ivfSearchOver(queries, members(s, path),
      centDf, topk)
  }

  /** SEMANTIC dedup probe against the maintained index — SemDeDup
    * (Abbas et al. 2023, the q156 semantics) at INGEST time: a new
    * vector is dropped when some INDEXED vector inside its top-
    * [[Similarity.Nprobe]] probed cells sits at exact fixed-point
    * cosine >= `tau`. Returns the surviving rows as (vec_id, cell,
    * n_cand): `cell` is the top-probed (argmax) cell — where
    * [[dedupIngest]] would file the vector — and `n_cand` is the
    * number of index members the probe compared against, so the
    * output hash covers the CANDIDATE SET, not just the drop
    * decisions (an index that leaked a rejected
    * vector shifts a survivor's n_cand even when it flips no drop).
    *
    * Cost shape mirrors [[DedupIndex.probe]]: only the delta is scored
    * against the centroids (|delta|·k broadcast dots), the index is
    * touched by ONE cell equi-join bounded by cell occupancy — never
    * corpus × corpus — and in-batch pairs are structurally excluded
    * (new×new never meets the join). Scoring runs the q156 two-phase
    * discipline: a double-dot prefilter at a dims-scaled margin, the
    * exact int64 dot only on survivors of it.
    */
  def semanticProbe(newVecs: DataFrame, path: String,
      tau: Double = 0.35): DataFrame =
    probeJoined(newVecs, path, tau)
      .groupBy(col("vec_id"))
      .agg(count(col("member_id")).as("n_cand"),
        max(col("hit")).as("dup"),
        min(when(col("crn") === 1, col("cell"))).as("cell"))
      .filter(col("dup") === 0)
      .select(col("vec_id"), col("cell"), col("n_cand"))

  /** One row per (new vector, probed cell, index member) with the
    * near-dup verdict computed; members NULL when a probed cell is
    * empty (LEFT join keeps the vector observable with n_cand = 0).
    */
  private def probeJoined(newVecs: DataFrame, path: String,
      tau: Double): DataFrame = {
    val s = newVecs.sparkSession
    import s.implicits._
    val centDf = centroids(s, path)
      .map(c => (c.cell, c.centroid.toSeq)).toDF("ccell", "ec")
    val probes = Similarity.probeCells(
      newVecs.select(col("vec_id"), col("embedding")), centDf,
      idCol = "vec_id", vecCol = "embedding", keepRank = true)
    val idx = members(s, path)
      .select(col("cell"), col("member_id"), col("em"))
    probes.join(idx, Seq("cell"), "left")
      .select(col("vec_id"), col("cell"), col("crn"), col("member_id"),
        when(col("member_id").isNotNull &&
            PortableHash.fastDot(col("embedding"), col("em")) >=
              lit(tau) - PortableHash.dotEps(col("embedding")) &&
            PortableHash.exactDot(col("embedding"), col("em")) >= tau,
          1).otherwise(0).as("hit"))
  }

  /** MAINTENANCE: semantic-probe `newVecs` and APPEND the survivors
    * under the recorded centroids ([[DedupIndex.append]]'s contract,
    * semantic flavor) — dropped vectors never enter the corpus, so
    * their assignment rows must never enter the index. Returns the
    * surviving (vec_id, cell, n_cand) rows. The survivor set is
    * checkpointed BEFORE the append: a lazily re-evaluated probe would
    * otherwise re-run against the GROWN index and self-match every
    * survivor (dot(v, v) = 1 >= tau).
    */
  def dedupIngest(newVecs: DataFrame, path: String,
      tau: Double = 0.35): DataFrame = {
    val survivors = SessionScratch.transientCheckpoint(
      semanticProbe(newVecs, path, tau))
    append(newVecs.join(survivors.select(col("vec_id")),
      Seq("vec_id"), "left_semi"), path)
    survivors
  }
}

/** The persisted k-NN GRAPH index — q198's graph ANN as a MAINTAINED
  * on-disk artifact (the HNSW / DiskANN-Vamana production shape: build
  * the graph once over the corpus, search forever, INSERT new vectors
  * with forward + reverse edges instead of rebuilding).
  *
  * Layout at `path`: `centroids/` (cell, centroid — routes appends) +
  * `entries/` (the per-cell medoid entry points, recorded at build) +
  * `graph-g<N>/` ONE manifested row store holding BOTH member rows
  * (kind='m': member_id, cell, em) and edge rows (kind='e': src, dst).
  * A single manifest means a single atomic commit point per append —
  * members and edges can never be committed separately, so the
  * members-without-edges torn state (appended vectors silently
  * unreachable forever) is structurally impossible: a crash between
  * the parquet writes and the publish leaves uncommitted extras that
  * every read REFUSES descriptively and vacuum sweeps. Member and edge
  * rows land in separate FILES (two writes), so the kind filter prunes
  * at file granularity via parquet min/max.
  *
  * Maintenance contract: centroids + entry points are trained/recorded
  * at build and byte-untouched thereafter. [[append]] assigns the
  * delta under the recorded centroids, computes each new vector's
  * `Degree` nearest same-cell neighbors over (existing members ∪ the
  * batch), and appends those FORWARD edges plus their REVERSES (the
  * HNSW bidirectional-insert rule — without reverse edges an appended
  * vector is unreachable from the entry points and can never be a
  * search result). The maintained graph is NOT identical to a full
  * rebuild's (old members' own top-4 lists are never rewritten — the
  * standard insert-only graph contract); the spec floor-asserts
  * maintained recall against the rebuild and [[republish]] is the
  * drift-remediation rebuild arm.
  */
object GraphIndex extends MaintainedStore("graph", "graph_index", "graph",
    "kNN-graph index") with AnnStore {

  /** Lloyd iterations / default out-degree (q198's recipe). The
    * out-degree is the DiskANN/Vamana R parameter — the graph's
    * CONNECTIVITY budget, recorded in the config at build because it
    * is the knob that actually moves the recall ceiling (beam and rounds
    * both saturate at fixed degree — SCALING.md, "Measured, round 12:
    * the graph-ANN recall ceiling is CONNECTIVITY").
    */
  val Iters = 2
  val Degree = 4

  private def config(k: Int, degree: Int): String =
    s"kind=knn-graph;k=$k;iters=$Iters;degree=$degree;" +
      "fixed_point=1e7;seed=first-k-by-id;entries=cell-medoid;v=1"

  /** The out-degree a config records — appends and republishes extend
    * the graph at the recorded R, not the compile-time default.
    */
  private def degreeOf(recorded: String): Int =
    IndexMaintenance.intField(recorded, "degree").getOrElse(Degree)

  protected def expectedConfig(recorded: String): String =
    config(IndexMaintenance.intField(recorded, "k").getOrElse(0),
      degreeOf(recorded))
  override protected def tombIdCol: Option[String] = Some("member_id")

  /** [[delete]] is the DiskANN LAZY-delete contract, deliberately
    * weaker than [[IvfIndex.delete]]'s: a tombstoned member never
    * occupies a RESULT rank, but it keeps ROUTING (its edges are still
    * walked, it can hold beam slots) because dropping a waypoint without
    * re-wiring its neighborhood would disconnect the graph and silently
    * sink recall. Physical removal therefore requires the re-wiring
    * rebuild — [[republish]] (DiskANN's consolidate_deletes) — and
    * compaction keeps every row and every tombstone.
    */
  override protected def compactDropCol: Option[String] = None

  private def entDir(path: String) = s"$path/entries"

  /** The graph's member rows (member_id, cell, em) with tombstoned
    * members MASKED — [[IvfIndex.members]]'s read surface for the graph
    * store. This is the RESULT-side mask only: the walk still routes
    * through tombstoned members ([[delete]]'s lazy contract); use it to
    * enumerate the surviving corpus (the [[republish]] consolidation
    * input), not to reconstruct reachability.
    */
  def members(s: SparkSession, path: String): DataFrame =
    masked(s, path,
      ParquetDir.read(s, dataDir(s, path)).filter(col("kind") === "m")
        .select(col("member_id"), col("cell"), col("em")))

  protected def remediationCorpus(s: SparkSession, label: String,
      path: String): DataFrame =
    members(s, path).select(col("member_id").as("vec_id"),
      col("em").as("embedding"))

  private def memberShape(rows: DataFrame): DataFrame =
    rows.select(col("member_id"), col("cell"), col("em"),
      lit(null).cast("long").as("src"), lit(null).cast("long").as("dst"),
      lit("m").as("kind"))

  private def edgeShape(rows: DataFrame): DataFrame =
    rows.select(lit(null).cast("long").as("member_id"),
      lit(null).cast("long").as("cell"),
      lit(null).cast("array<float>").as("em"),
      col("src"), col("dst"), lit("e").as("kind"))

  /** Initial build: train centroids, record per-cell medoid entry
    * points, write member + edge rows into one manifested store,
    * publish the config LAST (the ingest-complete marker).
    */
  def build(embeddings: DataFrame, path: String, k: Int,
      degree: Int = Degree): Unit =
    buildImpl(embeddings, path, k, degree, "explicit")

  /** Auto-k build — [[IvfIndex.build]]'s occupancy-constant default
    * applied to the routing cells (k = [[IndexMaintenance.kFor]](n));
    * the out-degree stays the explicit connectivity budget.
    */
  def build(embeddings: DataFrame, path: String): Unit =
    buildImpl(embeddings, path,
      IndexMaintenance.kFor(embeddings.count()), Degree,
      s"occ${IndexMaintenance.OccTarget}")

  /** A remediation keeps the RECORDED out-degree — it must not silently
    * halve connectivity (R is the recall knob, SCALING.md r12).
    */
  protected def rebuild(embeddings: DataFrame, path: String, k: Int,
      kPolicy: String, recorded: String): Unit =
    buildImpl(embeddings, path, k, degreeOf(recorded), kPolicy)

  private def buildImpl(embeddings: DataFrame, path: String, k: Int,
      degree: Int, kPolicy: String): Unit = {
    val s = embeddings.sparkSession
    import s.implicits._
    val nTrain = buildCommit(s, path) { dir =>
      val (cents, n) = KMeans.fitStats(s, embeddings, k = k, iters = Iters)
      cents.map(c => (c.cell, c.centroid.toSeq)).toDF("cell", "centroid")
        .coalesce(1)
        .write.mode("overwrite").parquet(centDir(path))
      Similarity.entryPointsOf(embeddings, cents)
        .coalesce(1)
        .write.mode("overwrite").parquet(entDir(path))
      memberShape(KMeans.assign(embeddings, cents)
          .select(col("vec_id").as("member_id"), col("cell"),
            col("embedding").as("em")))
        .write.mode("overwrite").parquet(dir)
      edgeShape(Similarity.knnGraphOf(embeddings, cents, degree = degree))
        .write.mode("append").parquet(dir)
      n
    }
    IndexMaintenance.writeTrainStats(s, path, nTrain, k, kPolicy)
    IndexMaintenance.writeSidecar(s, path, configName, config(k, degree))
  }

  /** MAINTENANCE — the HNSW insert rule, batched: assign the delta
    * under the RECORDED centroids, give each new vector its `Degree`
    * nearest same-cell neighbors over (existing members ∪ the batch),
    * and append member rows + forward edges + REVERSE edges in ONE
    * manifested commit. Cost shape: the delta is scored against cell
    * occupancy (delta × cell members), never corpus × corpus; existing
    * member/edge files are never read-modified or rewritten.
    *
    * Reachability guarantee: a new vector whose assigned cell has no
    * other member (the cell was empty at build — possible under skew —
    * so it has no entry point either) would get ZERO same-cell edges
    * and be silently unsearchable forever. Such strays instead edge to
    * the recorded ENTRY POINTS (+ reverses) — the HNSW
    * connect-to-entry fallback — so every appended member is reachable
    * by construction.
    */
  def append(newVecs: DataFrame, path: String): Unit = {
    val s = newVecs.sparkSession
    appendCommit(s, path, "vector append") { cur =>
      val cents = centroids(s, path)
      val degree = degreeOf(
        IndexMaintenance.readSidecar(s, path, configName).get)
      // the batch is assigned once; the edge set is checkpointed BEFORE
      // any write so its lineage can never observe the half-appended dir
      val newM = SessionScratch.transientCheckpoint(
        KMeans.assign(newVecs, cents)
          .select(col("vec_id").as("member_id"), col("cell"),
            col("embedding").as("em")))
      val members = ParquetDir.read(s, cur).filter(col("kind") === "m")
        .select(col("member_id"), col("cell"), col("em"))
      // per-src top-Degree via the exact-int64 TopK aggregator — the
      // knnGraphOf shuffle-reduction (map-side prune to Degree rows per
      // src instead of shuffling the delta × occupancy pair space)
      val fwd = newM
        .select(col("cell"), col("member_id").as("ia"), col("em").as("ea"))
        .join(members.union(newM)
          .select(col("cell"), col("member_id").as("ib"),
            col("em").as("eb")), Seq("cell"))
        .filter(col("ia") =!= col("ib"))
        .select(col("ia"), col("ib"),
          graft.functions.VectorDot.fixedDotSum(
            col("ea").cast("array<double>"),
            col("eb").cast("array<double>")).as("fdot"))
        .groupBy(col("ia"))
        .agg(graft.functions.TopK.topKLong(degree)(
          col("fdot"), col("ib")).as("top"))
        .select(col("ia").as("src"), explode(col("top.id")).as("dst"))
      // strays: EVERY batch vector whose cell has no PRE-EXISTING member
      // additionally edges to the entry points. Membership of the CELL
      // is the right test — "produced no forward edge" would miss groups
      // (two strays in the same empty cell edge to each other and form
      // an island unreachable from the entries), and deriving it from
      // the cheap distinct-cells anti-join keeps the expensive scored
      // pair join out of the stray lineage entirely.
      val entries = ParquetDir.read(s, entDir(path))
      val strayCells = newM.select(col("cell")).distinct()
        .join(members.select(col("cell")).distinct(), Seq("cell"),
          "left_anti")
      val stray = newM.join(broadcast(strayCells), Seq("cell"), "left_semi")
        .select(col("member_id").as("ia"))
        .crossJoin(broadcast(entries))
        .filter(col("ia") =!= col("cid"))
        .select(col("ia").as("src"), col("cid").as("dst"))
      val allFwd = fwd.union(stray)
      val edges = SessionScratch.transientCheckpoint(
        allFwd.union(allFwd
            .select(col("dst").as("src"), col("src").as("dst")))
          .distinct())
      val nDelta =
        IndexMaintenance.writeCounted(memberShape(newM), "append", cur)
      edgeShape(edges).write.mode("append").parquet(cur)
      IndexMaintenance.bumpAppended(s, path, nDelta)
    }
  }

  /** Search the MAINTAINED graph: q198's unrolled beam walk with
    * members, edges, and entry points read off the verified store.
    */
  def search(queries: DataFrame, path: String,
      topk: Int = 8): DataFrame = {
    val s = queries.sparkSession
    requireLive(s, path)
    val data = ParquetDir.read(s, dataDir(s, path))
    Similarity.beamSearch(queries,
      data.filter(col("kind") === "m")
        .select(col("member_id").as("vec_id"), col("em").as("embedding")),
      data.filter(col("kind") === "e").select(col("src"), col("dst")),
      ParquetDir.read(s, entDir(path)),
      topk,
      excludeFromResults =
        IndexMaintenance.tombstones(s, path, manifestName, what))
  }

  /** Drift remediation at the recorded k with the out-degree `degree`
    * (default: the RECORDED one) — [[AnnStore.republish]] plus the
    * graph's connectivity budget.
    */
  def republish(embeddings: DataFrame, path: String, k: Int,
      degree: Option[Int]): Unit = {
    val s = embeddings.sparkSession
    requirePinnedK(s, path, k)
    retractAndRebuild(s, path)(rec =>
      buildImpl(embeddings, path, k, degree.getOrElse(degreeOf(rec)),
        "explicit"))
  }
}

/** The persisted IVF-PQ index — q192's composed ANN as a MAINTAINED
  * on-disk artifact, and the point where the index family's storage
  * claim becomes literal: [[IvfIndex]] persists raw vectors in its
  * assignment rows (search refines against them), while this store
  * persists only CELL + CODES per vector (m one-byte codewords — the
  * 64× compression), so search never touches a raw corpus vector at
  * all. That is the production FAISS IndexIVFPQ contract: queries
  * carry their own vector, build an ADC table against the recorded
  * codebook, and candidates in the probed cells are ranked by code
  * lookups alone.
  *
  * Layout at `path`: `centroids/` (cell, centroid — the IVF half) +
  * `codebook/` (cw, s, pi, fc — the PQ half, fixed-point int64
  * components) + `codes-g<N>/` (vec_id, cell, s, cw) manifested rows +
  * `_ivfpq_index_config` (written LAST — the ingest-complete marker) +
  * `_ivfpq_index_manifest`.
  *
  * Maintenance contract (the FAISS train-then-add discipline, both
  * halves): centroids AND codebook are trained/seeded at build and
  * byte-untouched thereafter; append assigns + encodes ONLY the delta
  * under the recorded artifacts; drift remediation is [[republish]].
  * Determinism: cell probes, encode argmins, and ADC sums are all
  * exact int64, so the gate oracle replays training, encoding, and the
  * search bit-exactly.
  */
object IvfPqIndex extends MaintainedStore("ivfpq", "ivfpq_index", "codes",
    "IVF-PQ index") with AnnStore {

  /** IVF cells / Lloyd iterations (the q52/q54 recipe). */
  val Iters = 2

  /** PQ shape (the q192 recipe): m subspaces of subDim dims, cb
    * codewords per subspace, codebooks TRAINED per subspace
    * ([[PqCodebook.fit]], Lloyd iterations seeded from the build
    * corpus's cb smallest vec_ids).
    */
  val M = 4
  val Cb = 16
  val SubDim = 16

  private def config(k: Int): String =
    s"kind=ivfpq;k=$k;iters=$Iters;m=$M;cb=$Cb;sub=$SubDim;" +
      "fixed_point=1e7;seed-cells=first-k-by-id;" +
      s"codebook=kmeans-${Iters}iter-seed-first-cb-by-id;v=2"

  protected def expectedConfig(recorded: String): String =
    config(IndexMaintenance.intField(recorded, "k").getOrElse(0))
  override protected def tombIdCol: Option[String] = Some("vec_id")

  private def cbDir(path: String) = s"$path/codebook"

  /** (vec_id, s, pi, fv) — fixed-point subspace decomposition. */
  private def subOf(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("pos0", "v")))
      .select(col("vec_id"),
        (col("pos0") / SubDim).cast("int").as("s"),
        (col("pos0") % SubDim).as("pi"),
        PortableHash.fixedPoint(col("v")).as("fv"))

  /** Encode under RECORDED artifacts: cell via centroid argmax, codes
    * via per-subspace squared-L2 argmin against the codebook literal —
    * all exact int64, deterministic ties, and a PURE PROJECTION (no
    * join, no window: the former join+window encode sorted n·m·cb rows
    * per pass; [[PqCodebook.codesOf]] computes the same argmin per
    * row). Returns (vec_id, cell, s, cw).
    */
  private def encodeUnder(vecs: DataFrame, cents: Seq[KMeans.Centroid],
      cbRows: Seq[PqCodebook.Codeword]): DataFrame =
    KMeans.assign(vecs, cents)
      .select(col("vec_id"), col("cell"),
        posexplode(PqCodebook.codesOf(
          col("embedding").cast("array<double>"), cbRows, M, SubDim))
          .as(Seq("s", "cw")))
      .select(col("vec_id"), col("cell"), col("s"), col("cw"))

  /** The recorded codebook (cw, cs, cpi, fc) — m·cb·subDim rows,
    * broadcast-tier by construction.
    */
  private def codebook(s: SparkSession, path: String): DataFrame =
    ParquetDir.read(s, cbDir(path))
      .select(col("cw"), col("cs"), col("cpi"), col("fc"))

  /** The recorded codebook as driver rows (m·cb·subDim — bounded by
    * the config shape, never by the corpus) for the projection encode.
    */
  private def codebookRows(s: SparkSession,
      path: String): Seq[PqCodebook.Codeword] = {
    import s.implicits._
    codebook(s, path).as[PqCodebook.Codeword].collect().toSeq
  }

  /** Initial build: train IVF centroids AND the per-subspace PQ
    * codebooks on the corpus ([[PqCodebook.fit]] — the FAISS
    * train-then-add contract covers both halves), encode every vector,
    * and publish — config LAST as the ingest-complete marker.
    */
  def build(embeddings: DataFrame, path: String, k: Int): Unit =
    buildImpl(embeddings, path, k, "explicit")

  /** Auto-k build — [[IvfIndex.build]]'s occupancy-constant default
    * (k = [[IndexMaintenance.kFor]](n)); the PQ shape (m/cb/subDim) is
    * the recorded recipe either way.
    */
  def build(embeddings: DataFrame, path: String): Unit =
    buildImpl(embeddings, path,
      IndexMaintenance.kFor(embeddings.count()),
      s"occ${IndexMaintenance.OccTarget}")

  /** A republish retrains BOTH halves (IVF centroids and the
    * per-subspace PQ codebooks) on the corpus handed in.
    */
  protected def rebuild(embeddings: DataFrame, path: String, k: Int,
      kPolicy: String, recorded: String): Unit =
    buildImpl(embeddings, path, k, kPolicy)

  private def buildImpl(embeddings: DataFrame, path: String, k: Int,
      kPolicy: String): Unit = {
    val s = embeddings.sparkSession
    import s.implicits._
    val nTrain = buildCommit(s, path) { dir =>
      val (cents, n) = KMeans.fitStats(s, embeddings, k = k, iters = Iters)
      cents.map(c => (c.cell, c.centroid.toSeq)).toDF("cell", "centroid")
        .coalesce(1)
        .write.mode("overwrite").parquet(centDir(path))
      val cbRows = PqCodebook.fit(s, embeddings,
        m = M, cb = Cb, subDim = SubDim, iters = Iters)
      PqCodebook.toDf(s, cbRows)
        .coalesce(1).write.mode("overwrite").parquet(cbDir(path))
      encodeUnder(embeddings, cents, cbRows)
        .write.mode("overwrite").parquet(dir)
      n
    }
    // n_train covers BOTH trained halves (one corpus, two fits). k is
    // the TRUE cell count; the undertraining floor gates on the larger
    // trained half (cb=16 > k=4 here) via floorK — recording
    // max(k, cb) AS k would hand any consumer sizing a rebuild the
    // wrong cell count
    IndexMaintenance.writeTrainStats(s, path, nTrain, k, kPolicy,
      floorK = Some(math.max(k, Cb)))
    IndexMaintenance.writeSidecar(s, path, configName, config(k))
  }

  private val RawLocatorName = "_ivfpq_raw_locator"

  /** Record WHERE this codes-only store's raw vectors live: the paired
    * [[IvfIndex]] store whose member rows carry the same corpus — the
    * production FAISS pairing (IndexRefineFlat keeps a raw store
    * alongside the codes; q202 composes exactly this pair). With a
    * locator recorded, [[StoreRemediator]] can republish BOTH trained
    * halves of a drift-flagged IVF-PQ store off the raw pair instead
    * of refusing.
    *
    * LOCKSTEP ASSUMED: the caller maintains the pair together (every
    * append/delete lands on both stores — q202's contract), so at
    * remediation time the raw store's membership IS the codes store's
    * corpus. The locator names a store, not a snapshot; pointing it at
    * a foreign or diverged store rebuilds over that store's membership.
    */
  def recordRawSource(s: SparkSession, path: String,
      rawIvfPath: String): Unit =
    IndexMaintenance.writeSidecar(s, path, RawLocatorName,
      s"kind=ivf;path=$rawIvfPath;v=1")

  /** The recorded raw-vector locator, if any. */
  private[llmops] def rawSourceOf(s: SparkSession,
      path: String): Option[String] =
    IndexMaintenance.readSidecar(s, path, RawLocatorName)
      .flatMap(b => "(^|;)path=([^;]*)".r.findFirstMatchIn(b.trim)
        .map(_.group(2)))
      .filter(_.nonEmpty)

  /** Codes-only: the raw vectors live in the PAIRED store the locator
    * names; refuse descriptively without one — silently skipping a
    * FLAGGED store would read as "remediated".
    */
  protected def remediationCorpus(s: SparkSession, label: String,
      path: String): DataFrame = {
    val raw = rawSourceOf(s, path).getOrElse(
      throw new IllegalStateException(
        s"store $label at $path is flagged for republish but is " +
          "codes-only with no _ivfpq_raw_locator recorded — " +
          "remediation cannot reconstruct the corpus from codes; " +
          "record the paired raw store " +
          "(IvfPqIndex.recordRawSource) or republish it " +
          "caller-driven with the source corpus."))
    IvfIndex.members(s, raw).select(col("member_id").as("vec_id"),
      col("em").as("embedding"))
  }

  /** LOCKSTEP cross-check: the locator names a store, not a snapshot —
    * if the pair missed an append/delete or points at a foreign store,
    * retraining would silently rebuild over the wrong corpus AND reset
    * provenance to look fresh. The codes store's sidecar bounds its live
    * membership: n_train + n_appended is the exact insert total under
    * the lockstep contract, and n_deleted may OVER-count but never under
    * (foreign-id deletes, re-deletes across a compact boundary — the
    * [[IndexMaintenance.TrainStats]] approximation's blessed inputs), so
    * the true live count sits in
    * [n_train + n_appended − n_deleted, n_train + n_appended]. Refusing
    * inside that interval would turn documented-harmless deletes into a
    * sweep-wide abort; refuse only OUTSIDE it.
    */
  override protected def checkCorpus(label: String, path: String,
      before: IndexMaintenance.TrainStats, nRaw: Long): Unit = {
    val nUpper = before.nTrain + before.nAppended
    val nLower = math.max(0L, nUpper - before.nDeleted)
    if (nRaw < nLower || nRaw > nUpper)
      throw new IllegalStateException(
        s"store $label at $path records a raw pair, but the " +
          s"pair holds $nRaw member(s) while the codes store's " +
          s"provenance bounds its live membership to " +
          s"[$nLower, $nUpper] " +
          s"(n_train=${before.nTrain} + " +
          s"n_appended=${before.nAppended}, " +
          s"n_deleted=${before.nDeleted} counted " +
          "early-never-late) — the pair has diverged " +
          "(a missed append/delete, or the locator points at a " +
          "foreign store). Remediating would silently retrain " +
          "over the wrong corpus; repair the pairing first " +
          "(re-point the locator or replay the missed " +
          "maintenance), then re-run the sweep.")
  }

  /** MAINTENANCE: assign + encode ONLY the delta under the recorded
    * centroids and codebook (neither is retrained — a delta-sized
    * argmax + argmin projection and a delta-sized append).
    */
  def append(newVecs: DataFrame, path: String): Unit = {
    val s = newVecs.sparkSession
    appendCommit(s, path, "vector append") { cur =>
      // one encoded row per (vector, subspace): members = rows / m,
      // counted by the write itself
      val nDelta = IndexMaintenance.writeCounted(
        encodeUnder(newVecs, centroids(s, path), codebookRows(s, path)),
        "append", cur) / M
      IndexMaintenance.bumpAppended(s, path, nDelta)
    }
  }

  /** Search the MAINTAINED index by codes alone: top-
    * [[Similarity.Nprobe]] cells per query (exact centroid dots
    * against the k-bounded recorded centroids), candidates = the
    * probed cells' rows in the CODES store, ranked by the exact int64
    * ADC sum (m broadcast table lookups per candidate). No raw corpus
    * vector is read anywhere — the query's own vector builds the ADC
    * table. Returns (qid, cid, f, rn).
    */
  def search(queries: DataFrame, path: String,
      topk: Int = 8): DataFrame = {
    val s = queries.sparkSession
    import s.implicits._
    val centDf = centroids(s, path)
      .map(c => (c.cell, c.centroid.toSeq)).toDF("ccell", "ec")
    val probes = Similarity.probeCells(queries, centDf)
      .select(col("qid"), col("cell"))
    val qd = subOf(queries.select(col("qid").as("vec_id"),
        col("eq").as("embedding")))
      .join(broadcast(codebook(s, path)),
        col("s") === col("cs") && col("pi") === col("cpi"))
      .groupBy(col("vec_id").as("aqid"), col("s").as("qs"),
        col("cw").as("qcw"))
      .agg(sum(col("fv") * col("fc")).as("qdot"))
    val codes = masked(s, path, ParquetDir.read(s, dataDir(s, path)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("f").desc, col("cid"))
    probes.join(codes, Seq("cell"))
      .filter(col("qid") =!= col("vec_id"))
      .join(broadcast(qd),
        col("qid") === col("aqid") && col("s") === col("qs") &&
          col("cw") === col("qcw"))
      .groupBy(col("qid"), col("vec_id").as("cid"))
      .agg(sum(col("qdot")).as("f"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topk)
      .select(col("qid"), col("cid"), col("f"), col("rn"))
      .orderBy(col("qid"), col("rn"))
  }
}

/** One-sweep catalog audit over every persisted artifact store — the
  * operational `fsck` rolled up as a DataFrame (one row per store), so
  * an operator can health-check a whole warehouse of index/model
  * artifacts in one query instead of touching eight read paths that
  * would THROW on the first damaged store. Built on the non-throwing
  * per-store [[MaintainedStore.fsck]]; the audit costs one bounded
  * sidecar/listing pass per store (catalog metadata, not data).
  */
object StoreAudit {

  /** Audit `(kind, path)` entries over the [[MaintainedStore.all]]
    * registry; unknown kinds fail fast (an audit that silently skipped
    * a store would read as "all healthy").
    */
  def audit(s: SparkSession,
      stores: Seq[(String, String)]): DataFrame = {
    import s.implicits._
    val byKind = MaintainedStore.resolve(stores.map(_._1),
      MaintainedStore.all, "expected one of")
    stores.map { case (kind, path) =>
      val r = byKind(kind).fsck(s, path)
      (kind, r.what, r.path, r.healthy, r.vacuumRepairs,
        r.configPresent, r.configMatches, r.manifestPresent,
        r.generation, r.committedFiles, r.committedBytes,
        r.uncommittedFiles, r.missingFiles, r.staleGenerations,
        r.orphanedTemps,
        // training provenance (trained stores only — the `_train_stats`
        // sidecar): sample size, grown-since-training mass, the FAISS
        // 39·k undertraining verdict, and the staleness fraction the
        // republish decision thresholds on
        r.trainStats.map(_.nTrain), r.trainStats.map(_.nAppended),
        r.trainStats.map(_.undertrained), r.trainStats.map(_.drift))
    }.toDF("kind", "store", "path", "healthy", "vacuum_repairs",
      "config_present", "config_matches", "manifest_present",
      "generation", "committed_files", "committed_bytes",
      "uncommitted_files", "missing_files", "stale_generations",
      "orphaned_temps", "n_train", "n_appended", "undertrained",
      "drift")
  }
}

/** AUTO-REMEDIATION: the q230 decision rule consumed BY CODE — sweep a
  * catalog of trained stores, republish exactly the ones the staleness
  * rule flags, and leave the rest byte-untouched. This is the complete
  * monitor → decide → act loop a production warehouse runs on a
  * schedule: q171-class metrics observe, `_train_stats` records growth,
  * [[needsRepublish]] decides, and each store's registry remediation
  * arm ([[MaintainedStore.remediate]]) acts:
  *  - `ivf` and `graph` stores are self-contained — their member rows
  *    carry the raw vectors, so the store IS the corpus record;
  *  - the IVF-PQ store is codes-only BY DESIGN (64× compression): a
  *    flagged one remediates through its recorded raw-vector locator
  *    ([[IvfPqIndex.recordRawSource]] — the FAISS IndexRefineFlat
  *    pairing), and with none it REFUSES descriptively;
  *  - the frozen transforms (`bpe`, `clf`) retrain through their
  *    recorded training-corpus locator, and refuse without one.
  *
  * 100 TB shape: the sweep reads sidecars; only FLAGGED stores pay the
  * corpus-sized rebuild — which is the point of thresholding: republish
  * cost is incurred exactly when the staleness metric says the trained
  * artifacts no longer represent the membership.
  */
object StoreRemediator {

  /** The q230 decision rule: republish when rows appended since
    * training exceed 25% of the LIVE trained base —
    * 3·n_appended > n_train − n_deleted, exact integers (the
    * FAISS/DiskANN "rebuild when inserts exceed X% of the trained
    * base" practice, delete-aware: after heavy takedowns the historical
    * n_train overstates what remains, and a store whose appends
    * dominate its LIVE membership must flag even though they are small
    * against the phantom build size).
    */
  def needsRepublish(ts: IndexMaintenance.TrainStats): Boolean =
    3L * ts.nAppended > ts.liveTrainBase

  /** The rebuild shape for a flagged store: an occupancy-policy store
    * ("occ<target>" — what the auto-k builders record) recomputes
    * k = [[IndexMaintenance.kFor]](current membership) at its RECORDED
    * occupancy target and keeps the policy string — pinning the stale
    * recorded k would recreate the quadratic fixed-k regime the
    * occupancy protocol exists to prevent, and rewriting the policy to
    * 'explicit' would misstate provenance AND freeze every later
    * remediation at this k. An 'explicit' store keeps its recorded k
    * (a remediation must not silently change a shape the operator
    * chose).
    */
  def remediationShape(ts: IndexMaintenance.TrainStats, recordedK: Int,
      corpusN: Long): (Int, String) =
    IndexMaintenance.occTargetOf(ts.kPolicy) match {
      case Some(target) =>
        (IndexMaintenance.kFor(corpusN, target), ts.kPolicy)
      // non-occupancy policies keep the recorded k AND their recorded
      // policy string — rewriting an unrecognized policy to 'explicit'
      // would be exactly the provenance misstatement this function
      // exists to prevent (for 'explicit' stores the preserved string
      // IS "explicit", so the known case is unchanged)
      case None => (recordedK, ts.kPolicy)
    }

  /** Sweep `(label, kind, path)` stores of the trained kinds; republish
    * the flagged ones at their recorded SHAPE POLICY
    * ([[remediationShape]]); return one readout row per store with the
    * before/after provenance and what was done. Unknown kinds fail fast
    * (the [[StoreAudit.audit]] rule: a silently-skipped store would
    * read as "remediated").
    */
  def sweepAndRemediate(s: SparkSession,
      stores: Seq[(String, String, String)]): DataFrame = {
    import s.implicits._
    val byKind = MaintainedStore.resolve(stores.map(_._2),
      MaintainedStore.all.filter(_.trained),
      "remediation covers the trained kinds")
    stores.map { case (label, kind, path) =>
      val before = IndexMaintenance.readTrainStats(s, path).getOrElse(
        throw new IllegalStateException(
          s"store $label at $path records no _train_stats sidecar — " +
            "staleness is undecidable; rebuild it with a current " +
            "builder."))
      val acted = needsRepublish(before)
      if (acted) byKind(kind).remediate(s, label, path, before)
      val after =
        if (acted) IndexMaintenance.readTrainStats(s, path).get
        else before
      (label, before.nTrain, before.nAppended,
        if (acted) "republish" else "ok",
        if (acted) 1L else 0L,
        after.nTrain, after.nAppended)
    }.toDF("store", "n_train_before", "n_appended_before", "verdict",
      "acted", "n_train_after", "n_appended_after")
  }
}

/** The nightly warehouse-maintenance job COMPOSED: fsck every store
  * (observe), vacuum exactly the ones fsck says vacuum repairs
  * (recover), then run the staleness decide-and-act on the stores that
  * record training provenance (remediate) — the three proven arms
  * (q233 observes, the per-store vacuums are spec-proven, q234 acts) as
  * ONE sweep over the [[MaintainedStore.all]] registry whose readout
  * hashes the whole episode.
  *
  * Damage tolerance: a crash-damaged store must never abort the sweep
  * — fsck is non-throwing by construction, vacuum runs only where the
  * report says it restores health (garbage present, no data loss, no
  * config drift), and remediation sees the POST-repair state, so a
  * torn append is repaired and the store still gets its staleness
  * verdict in the same pass. Damage beyond vacuum (data LOSS, config
  * drift) reads out as verdict `damaged` with healthy_after=0 — a
  * rebuild is the only remediation, and acting on such a store would
  * just hit its read paths' refusal — never a silent skip. A FLAGGED
  * frozen transform with no training-corpus locator does NOT abort:
  * pre-locator models are the installed base, so their rows queue as
  * `republish`/acted=0 ([[MaintainedStore.canAutoAct]]).
  *
  * 100 TB shape: per store, fsck is a bounded sidecar/listing read and
  * vacuum touches only garbage files; the only corpus-sized work is
  * the republish of stores BOTH healthy and flagged — the q234
  * thresholding economics, now downstream of repair.
  */
object WarehouseMaintenance {

  /** Run fsck → vacuum-if-repairable → decide(-and-act where the store
    * allows) over `(label, kind, path)` stores; one readout row per
    * store. Unknown kinds fail fast (the [[StoreAudit.audit]] rule).
    *
    * The verdict taxonomy distinguishes every state an operator
    * triages differently:
    *  - `damaged`   — unhealthy beyond vacuum for ANY kind (data loss,
    *    config drift): rebuild territory; acting would just hit the
    *    read paths' refusal, so the sweep reports and moves on.
    *  - `republish` — provenance flags staleness. acted=1 when the
    *    store can be auto-acted ([[MaintainedStore.canAutoAct]]: a
    *    self-contained ivf/graph, an ivfpq with its raw pair, a
    *    bpe/clf transform with a recorded training-corpus locator —
    *    the rebuild/retrain ran HERE); acted=0 for a
    *    decidable-but-not-auto-actable store (a frozen transform with
    *    no locator: retraining needs the training corpus, which the
    *    artifact does not carry and no sidecar names — the row IS the
    *    manual-action queue).
    *  - `blocked`   — the act itself REFUSED (an ivfpq without its raw
    *    pair, or one whose pair diverged from the codes store's recorded
    *    membership, or a locator whose store is unreadable): the
    *    staleness stands, the auto-path is unsafe, and a human must
    *    repair the pairing — but one store's broken pairing must not
    *    leave the REST of the warehouse unswept, so the refusal files as
    *    this store's row. Only the refusal type
    *    ([[IllegalStateException]], the descriptive contract-refusal
    *    every store's read/act path uses) is caught; a true operator
    *    error still aborts.
    *  - `ok`        — provenance present, under the threshold.
    *  - `no-provenance` — a TRAINED kind ([[MaintainedStore.trained]])
    *    with no `_train_stats` (predates the sidecar): staleness is
    *    UNDECIDABLE, which must not read as "nothing to do". Gated on
    *    "records provenance when healthy", NOT on actability: a
    *    pre-provenance BpeModel is exactly as undecidable as a
    *    pre-provenance IVF store.
    *  - `n/a`       — untrained kinds (dedup/bm25/ngram): no trained
    *    artifact, so no staleness exists; their maintenance is the
    *    append/compact family.
    */
  def sweep(s: SparkSession,
      stores: Seq[(String, String, String)]): DataFrame = {
    import s.implicits._
    val byKind = MaintainedStore.resolve(stores.map(_._2),
      MaintainedStore.all, "expected one of")
    stores.map { case (label, kind, path) =>
      val store = byKind(kind)
      val before = store.fsck(s, path)
      val repaired =
        if (before.vacuumRepairs) Some(store.vacuum(s, path)) else None
      val post = if (repaired.isDefined) store.fsck(s, path) else before
      val (verdict, acted) =
        if (!post.healthy) ("damaged", 0L)
        else post.trainStats match {
          case Some(ts) if StoreRemediator.needsRepublish(ts) =>
            if (store.canAutoAct(s, path))
              try {
                store.remediate(s, label, path, ts)
                ("republish", 1L)
              } catch { case e: IllegalStateException =>
                // the act's own refusal (diverged raw pair, unreadable
                // locator target) — report it and keep sweeping
                System.err.println(
                  s"[warehouse] $label blocked: ${e.getMessage}")
                ("blocked", 0L)
              }
            else ("republish", 0L)
          case Some(_) => ("ok", 0L)
          case None if store.trained => ("no-provenance", 0L)
          case None => ("n/a", 0L)
        }
      // re-fsck only when something changed on disk — the all-healthy
      // warehouse path must cost ONE metadata pass per store, not two
      val after =
        if (repaired.isEmpty && acted == 0L) post
        else store.fsck(s, path)
      (label, kind,
        if (before.healthy) 1 else 0,
        repaired.map(_.uncommittedRemoved).getOrElse(0),
        repaired.map(_.staleGenerationsRemoved).getOrElse(0),
        verdict, acted,
        after.trainStats.map(_.nTrain),
        after.trainStats.map(_.nAppended),
        if (after.healthy) 1 else 0,
        after.generation)
    }.toDF("store", "kind", "healthy_before", "uncommitted_removed",
      "stale_generations_removed", "verdict", "acted", "n_train_after",
      "n_appended_after", "healthy_after", "generation_after")
  }
}
