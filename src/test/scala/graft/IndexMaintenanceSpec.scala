package graft

import org.apache.spark.sql.functions._

import graft.llmops.{Bpe, BpeModel, Dedup, DedupIndex, IndexMaintenance,
  IvfIndex, KMeans, StoreAudit}

/** Proofs for the persisted incremental index artifacts
  * (llmops/IndexMaintenance.scala) — the BucketingSpec discipline
  * applied to the dedup signature index and the IVF index:
  * build + append + maintain must answer the probe identically to a
  * full rebuild, touching only the delta, with base files untouched.
  */
class IndexMaintenanceSpec extends SparkTestBase {

  private def freshDir(tag: String): String = {
    val d = java.nio.file.Files
      .createTempDirectory(s"graft_idx_${tag}_").toString
    new java.io.File(d).deleteOnExit()
    d
  }

  /** (name, length) of every data file under a directory — mtime is
    * not compared (filesystems vary); identity of name+length across
    * an append is the "base files untouched" witness.
    */
  private def dataFiles(dir: String): Set[(String, Long)] = {
    val fs = new java.io.File(dir).listFiles()
    if (fs == null) Set.empty
    else fs.filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")).map(f => f.getName -> f.length()).toSet
  }

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private def embs = spark.read.parquet(s"$sfDir/embeddings.parquet")

  // ---- dedup signature index -------------------------------------------

  test("DedupIndex: build+probe answers q46's incremental dedup exactly") {
    val path = freshDir("dedup")
    DedupIndex.build(docs.filter(col("doc_id") % 2 === 0), path)
    val got = DedupIndex.probe(docs.filter(col("doc_id") % 2 === 1), path)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted
    // independent recompute of the same semantics without the index:
    // full self-join signatures, new×existing band matches >= 4
    val bands = Dedup.bandSignaturesOf(docs)
    val existing = bands.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("doc_e"), col("band"), col("sig"))
    val dropped = bands.filter(col("doc_id") % 2 === 1)
      .join(existing, Seq("band", "sig"))
      .groupBy(col("doc_id"), col("doc_e"))
      .agg(count(lit(1)).as("n_bands"))
      .filter(col("n_bands") >= 4)
      .select(col("doc_id")).distinct()
    val want = docs.filter(col("doc_id") % 2 === 1)
      .join(dropped, Seq("doc_id"), "left_anti")
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted
    assert(got.sameElements(want))
    assert(got.length < 250, "fixture should drop at least one dup")
  }

  test("DedupIndex: append == full rebuild over the accepted corpus, " +
    "base files untouched, only survivors' signatures added") {
    val maintained = freshDir("dedup_m")
    val even = docs.filter(col("doc_id") % 2 === 0)
    val odd = docs.filter(col("doc_id") % 2 === 1)
    DedupIndex.build(even, maintained)
    val baseFiles = dataFiles(DedupIndex.dataDir(spark, maintained))

    val survivors = DedupIndex.append(odd, maintained)
    val survivorIds = survivors.select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet

    // base parquet files byte-identical (same name+length), new files
    // appended — maintenance never rewrites the base index
    val afterFiles = dataFiles(DedupIndex.dataDir(spark, maintained))
    assert(baseFiles.subsetOf(afterFiles),
      "append must not rewrite or remove base index files")
    assert(afterFiles.size > baseFiles.size,
      "append must add new signature files")

    // maintained index == index REBUILT from scratch over the accepted
    // corpus (even ∪ odd-survivors): identical (doc_id, band, sig) sets
    val rebuilt = freshDir("dedup_r")
    DedupIndex.build(
      even.unionByName(odd.join(
        survivors.select(col("doc_id")), Seq("doc_id"), "left_semi")),
      rebuilt)
    val a = DedupIndex.signatures(spark, maintained)
    val b = DedupIndex.signatures(spark, rebuilt)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "maintained index must equal a full rebuild row-for-row")

    // and only SURVIVOR signatures were appended (dropped docs never
    // enter the index)
    val indexedIds = a.select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    val evenIds = even.select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet
    // docs with < 3 tokens produce no signatures; compare against the
    // signature-producing subset
    assert(indexedIds.subsetOf(evenIds ++ survivorIds))
    assert(indexedIds.intersect(survivorIds).nonEmpty)
    graft.ops.SessionScratch.evictTransients()
  }

  test("DedupIndex: a second wave probes identically on maintained vs " +
    "rebuilt index") {
    val maintained = freshDir("dedup_w2m")
    val rebuilt = freshDir("dedup_w2r")
    // wave structure by doc_id % 3: base=0, wave1=1, wave2=2
    DedupIndex.build(docs.filter(col("doc_id") % 3 === 0), maintained)
    val s1 = DedupIndex.append(docs.filter(col("doc_id") % 3 === 1),
      maintained)
    DedupIndex.build(
      docs.filter(col("doc_id") % 3 === 0).unionByName(
        docs.filter(col("doc_id") % 3 === 1).join(
          s1.select(col("doc_id")), Seq("doc_id"), "left_semi")),
      rebuilt)
    val wave2 = docs.filter(col("doc_id") % 3 === 2)
    val pm = DedupIndex.probe(wave2, maintained).select(col("doc_id"))
      .collect().map(_.getLong(0)).sorted
    val pr = DedupIndex.probe(wave2, rebuilt).select(col("doc_id"))
      .collect().map(_.getLong(0)).sorted
    assert(pm.sameElements(pr))
    graft.ops.SessionScratch.evictTransients()
  }

  test("DedupIndex: probe hashes ONLY the new docs — the plan's single " +
    "parquet scan is the stored index") {
    val path = freshDir("dedup_plan")
    DedupIndex.build(docs.filter(col("doc_id") % 2 === 0), path)
    // new docs arrive as an in-memory frame, so any parquet scan in the
    // probe plan can only be the index: exactly one, and it is the
    // signatures table — the existing corpus is never re-shingled
    val newDocs = spark.createDataFrame(Seq(
      (100001L, "completely novel text never seen before in the corpus"),
      (100002L, "another brand new arrival with its own words")
    )).toDF("doc_id", "text")
    val plan = DedupIndex.probe(newDocs, path)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(plan).size == 1,
      s"probe must scan only the index parquet:\n$plan")
    assert(plan.contains("signatures"))
  }

  test("DedupIndex: config sidecar guards against mixed-recipe appends") {
    val path = freshDir("dedup_cfg")
    DedupIndex.build(docs.filter(col("doc_id") % 2 === 0), path)
    // tamper: a foreign config must fail descriptively
    graft.llmops.IndexMaintenance.writeSidecar(spark, path,
      "_dedup_index_config", "minhash=32;bands=16;v=99")
    val e = intercept[IllegalStateException] {
      DedupIndex.probe(docs.limit(1), path).collect()
    }
    assert(e.getMessage.contains("rebuild"))
    // missing sidecar (crashed initial ingest) fails descriptively too
    val bare = freshDir("dedup_bare")
    spark.range(1).toDF("x").write.parquet(s"$bare/signatures")
    val e2 = intercept[IllegalStateException] {
      DedupIndex.signatures(spark, bare)
    }
    assert(e2.getMessage.contains("sidecar"))
  }

  // ---- text (BM25) index -------------------------------------------------

  test("TextIndex: build+append == full rebuild (postings row-identical, " +
    "stats equal), base files untouched") {
    import graft.llmops.TextIndex
    val maintained = freshDir("text_m")
    val rebuilt = freshDir("text_r")
    val even = docs.filter(col("doc_id") % 2 === 0)
    val odd = docs.filter(col("doc_id") % 2 === 1)
    TextIndex.build(even, maintained)
    val baseFiles = dataFiles(TextIndex.dataDir(spark, maintained))
    TextIndex.append(odd, maintained)
    assert(baseFiles.subsetOf(dataFiles(TextIndex.dataDir(spark, maintained))))
    TextIndex.build(docs, rebuilt)
    val a = TextIndex.postings(spark, maintained)
    val b = TextIndex.postings(spark, rebuilt)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "maintained postings must equal a full rebuild row-for-row")
    assert(TextIndex.stats(spark, maintained) ==
      TextIndex.stats(spark, rebuilt))
  }

  test("TextIndex: search off the maintained index == the q74 scoring " +
    "over the full corpus; torn append refuses; compaction preserves " +
    "answers and stats") {
    import graft.llmops.TextIndex
    val path = freshDir("text_cpt")
    TextIndex.build(docs.filter(col("doc_id") % 3 === 0), path)
    TextIndex.append(docs.filter(col("doc_id") % 3 === 1), path)
    TextIndex.append(docs.filter(col("doc_id") % 3 === 2), path)
    val terms = Seq("spark", "join", "window")
    val viaIndex = TextIndex.search(spark, path, terms, topk = 15)
      .collect().map(_.toString).toSeq
    val fromScratch = graft.llmops.TextAnalysis.q74.run(spark, sfDir)
      .collect().map(_.toString).toSeq
    assert(viaIndex == fromScratch,
      "maintained-index search must reproduce the from-scratch BM25")
    // torn append: an uncommitted posting file must refuse the search
    val dir = TextIndex.dataDir(spark, path)
    val part = new java.io.File(dir).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val torn = java.nio.file.Paths.get(s"$dir/part-torn-${part.getName}")
    java.nio.file.Files.copy(part.toPath, torn)
    val e = intercept[IllegalStateException] {
      TextIndex.search(spark, path, terms).collect()
    }
    assert(e.getMessage.contains("not committed"), e.getMessage)
    java.nio.file.Files.delete(torn)
    // compaction: fewer files, search row-identical, stats preserved
    val statsBefore = TextIndex.stats(spark, path)
    val (before, after) = TextIndex.compact(spark, path)
    assert(after < before)
    assert(TextIndex.dataDir(spark, path).contains("-g1"))
    val post = TextIndex.search(spark, path, terms, topk = 15)
      .collect().map(_.toString).toSeq
    assert(post == viaIndex)
    assert(TextIndex.stats(spark, path) == statsBefore)
  }

  test("TextIndex: the search plan's only parquet scan is the postings " +
    "store with the query-term filter PUSHED to it") {
    import graft.llmops.TextIndex
    val path = freshDir("text_plan")
    TextIndex.build(docs.filter(col("doc_id") % 2 === 0), path)
    val plan = TextIndex.search(spark, path, Seq("spark", "join"))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(plan).size <= 2,
      s"search must scan only the postings (tf side + df agg side — " +
        s"AQE may reuse the exchange at runtime):\n$plan")
    assert(plan.contains("postings"))
    assert(plan.contains("In(w, ["), s"term filter must push:\n$plan")
  }

  /** Exact top-k neighbor ids per query by fixed-point cosine — the
    * ground truth for recall.
    */
  private def exactTopK(queries: Seq[Long], k: Int): Map[Long, Set[Long]] = {
    val q = embs.filter(col("vec_id").isin(queries: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("eq"))
    val c = embs.select(col("vec_id").as("cid"), col("embedding").as("ec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("cid"))
    broadcast(q).join(c, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        graft.llmops.PortableHash.exactDot(col("eq"), col("ec"))
          .as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (qid, rows) => qid -> rows.map(_.getLong(1)).toSet }
  }

  private def recallOf(path: String, queries: Seq[Long],
      truth: Map[Long, Set[Long]]): Double = {
    val q = embs.filter(col("vec_id").isin(queries: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("eq"))
    val got = IvfIndex.search(q, path).select(col("qid"), col("cid"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (qid, rows) => qid -> rows.map(_.getLong(1)).toSet }
    val hits = truth.map { case (qid, t) =>
      got.getOrElse(qid, Set.empty).intersect(t).size }.sum
    hits.toDouble / truth.map(_._2.size).sum
  }

  test("IvfIndex: maintained (build even + append odd) matches the " +
    "rebuilt index's recall within the floor; no retrain on append") {
    val maintained = freshDir("ivf_m")
    val rebuilt = freshDir("ivf_r")
    IvfIndex.build(embs.filter(col("vec_id") % 2 === 0), maintained, k = 4)
    val centBefore = dataFiles(s"$maintained/centroids")
    val asgBefore = dataFiles(IvfIndex.dataDir(spark, maintained))
    IvfIndex.append(embs.filter(col("vec_id") % 2 === 1), maintained)
    // append must not retrain (centroid files untouched) and must not
    // rewrite base assignment files
    assert(dataFiles(s"$maintained/centroids") == centBefore,
      "append must never retrain or rewrite centroids")
    assert(asgBefore.subsetOf(dataFiles(IvfIndex.dataDir(spark, maintained))))

    IvfIndex.build(embs, rebuilt, k = 4)
    // every vector present exactly once in both assignment tables
    val n = embs.count()
    assert(spark.read.parquet(IvfIndex.dataDir(spark, maintained))
      .select(col("member_id")).distinct().count() == n)
    assert(spark.read.parquet(IvfIndex.dataDir(spark, rebuilt))
      .select(col("member_id")).distinct().count() == n)

    val queries = (10L until 20L).toSeq
    val truth = exactTopK(queries, 8)
    val rm = recallOf(maintained, queries, truth)
    val rr = recallOf(rebuilt, queries, truth)
    info(f"recall@8 maintained=$rm%.3f rebuilt=$rr%.3f")
    assert(rm >= 0.5, s"maintained-index recall floor: $rm")
    assert(rm >= rr - 0.15,
      s"maintained recall ($rm) must track the rebuilt index ($rr)")
  }

  test("IvfIndex: republish rebuilds in place crash-detectably — the " +
    "torn window reads as rebuild-required, the completed rebuild " +
    "answers like a fresh build, stale generations are swept") {
    val live = freshDir("ivf_repub")
    val fresh = freshDir("ivf_fresh")
    // day 0 + day 1: build on evens, append odds, compact (so the live
    // store sits on a post-g0 generation — the realistic shape)
    IvfIndex.build(embs.filter(col("vec_id") % 2 === 0), live, k = 4)
    IvfIndex.append(embs.filter(col("vec_id") % 2 === 1), live)
    IvfIndex.compact(spark, live)
    val staleGen = IvfIndex.dataDir(spark, live)
    assert(!staleGen.endsWith("/assignments-g0"))
    // drift declared: retrain on the FULL corpus. The torn window is
    // the state between config retraction and re-publish — replay it
    // and prove every read path refuses descriptively
    val recorded = graft.llmops.IndexMaintenance.readSidecar(spark, live,
      "_ivf_index_config").get
    graft.llmops.IndexMaintenance.retractSidecar(spark, live,
      "_ivf_index_config")
    val e = intercept[IllegalStateException](
      IvfIndex.centroids(spark, live))
    assert(e.getMessage.contains("rebuild"),
      s"torn-rebuild reads must name the remediation: ${e.getMessage}")
    // put the recorded config back (completing the replay), then run
    // the real thing
    graft.llmops.IndexMaintenance.writeSidecar(spark, live,
      "_ivf_index_config", recorded)
    IvfIndex.republish(embs, live, k = 4)
    IvfIndex.build(embs, fresh, k = 4)
    // identical recorded centroids and assignment SETS as a fresh build
    // (same deterministic recipe over the same corpus)
    assert(IvfIndex.centroids(spark, live)
        .map(c => (c.cell, c.centroid.toSeq)) ==
      IvfIndex.centroids(spark, fresh)
        .map(c => (c.cell, c.centroid.toSeq)))
    val a = spark.read.parquet(IvfIndex.dataDir(spark, live))
      .select(col("member_id"), col("cell"))
    val b = spark.read.parquet(IvfIndex.dataDir(spark, fresh))
      .select(col("member_id"), col("cell"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "republished assignments must equal a fresh build's")
    // the pre-rebuild generation is unreferenced garbage — swept
    assert(!new java.io.File(staleGen).exists(),
      s"stale generation must be deleted: $staleGen")
  }

  test("IvfIndex: config sidecar guards k / recipe changes") {
    val path = freshDir("ivf_cfg")
    IvfIndex.build(embs.filter(col("vec_id") < 100), path, k = 4)
    graft.llmops.IndexMaintenance.writeSidecar(spark, path,
      "_ivf_index_config", "kind=ivf-spherical-kmeans;k=16;v=0")
    val e = intercept[IllegalStateException] {
      IvfIndex.append(embs.filter(col("vec_id") >= 100), path)
    }
    assert(e.getMessage.contains("rebuild"))
  }

  test("IvfIndex: a missing index fails with the descriptive rebuild " +
    "error BEFORE any parquet read; a truncated centroid table is " +
    "caught against the recorded k") {
    // missing index: sidecar check fires first, so the error names the
    // contract (no raw path/analysis error from the centroids read)
    val missing = freshDir("ivf_missing")
    val e = intercept[IllegalStateException] {
      IvfIndex.centroids(spark, missing)
    }
    assert(e.getMessage.contains("sidecar"))
    // truncated centroids: sidecar records k=4 but the stored table has
    // fewer rows — must fail descriptively, not self-certify
    val trunc = freshDir("ivf_trunc")
    IvfIndex.build(embs.filter(col("vec_id") < 100), trunc, k = 4)
    spark.read.parquet(s"$trunc/centroids").limit(2)
      .write.mode("overwrite").parquet(s"$trunc/centroids_cut")
    // swap in the truncated table
    val dir = new java.io.File(s"$trunc/centroids")
    dir.listFiles().foreach(_.delete())
    new java.io.File(s"$trunc/centroids_cut").listFiles()
      .foreach(f => java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(s"$trunc/centroids/${f.getName}")))
    val e2 = intercept[IllegalStateException] {
      IvfIndex.centroids(spark, trunc)
    }
    assert(e2.getMessage.contains("rebuild") &&
      e2.getMessage.contains("k=4"))
  }

  // ---- n-gram LM index (log-structured additive counts) -----------------

  test("NgramIndex: appended partials merge to the full-rebuild model; " +
    "the LSM compaction collapses partials to one row per gh with " +
    "scores unchanged; the cycle continues after compaction") {
    import graft.llmops.NgramIndex
    val maintained = freshDir("ngram_m")
    val rebuilt = freshDir("ngram_r")
    NgramIndex.build(docs.filter(col("doc_id") % 3 === 0), maintained)
    NgramIndex.append(docs.filter(col("doc_id") % 3 === 1), maintained)
    NgramIndex.build(docs.filter(col("doc_id") % 3 =!= 2), rebuilt)
    val a = NgramIndex.lm(spark, maintained)
    val b = NgramIndex.lm(spark, rebuilt)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "merged partials must equal the from-scratch model")
    // the store REALLY is log-structured: more stored rows than
    // distinct gh (the two ingests share bigrams)
    val stored = spark.read
      .parquet(NgramIndex.dataDir(spark, maintained)).count()
    val distinctGh = a.count()
    assert(stored > distinctGh,
      s"expected overlapping partials: stored=$stored distinct=$distinctGh")
    val scorePre = NgramIndex.score(docs, maintained)
      .collect().map(_.toString).toSeq
    // LSM merge compaction: one row per gh afterwards, scores unchanged
    val (before, after) = NgramIndex.compact(spark, maintained)
    assert(after <= before)
    assert(spark.read.parquet(NgramIndex.dataDir(spark, maintained))
      .count() == distinctGh,
      "compaction must collapse partials to one row per gh")
    val scorePost = NgramIndex.score(docs, maintained)
      .collect().map(_.toString).toSeq
    assert(scorePost == scorePre)
    // append after compaction: partials again, still == full rebuild
    NgramIndex.append(docs.filter(col("doc_id") % 3 === 2), maintained)
    val full = freshDir("ngram_f")
    NgramIndex.build(docs, full)
    val c = NgramIndex.lm(spark, maintained)
    val d = NgramIndex.lm(spark, full)
    assert(c.exceptAll(d).isEmpty && d.exceptAll(c).isEmpty,
      "append after compaction must still merge to the full model")
    // torn append refused (the shared manifest discipline)
    val dir = NgramIndex.dataDir(spark, maintained)
    val part = new java.io.File(dir).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val torn = java.nio.file.Paths.get(s"$dir/part-torn-${part.getName}")
    java.nio.file.Files.copy(part.toPath, torn)
    val e = intercept[IllegalStateException] {
      NgramIndex.lm(spark, maintained).collect()
    }
    assert(e.getMessage.contains("not committed"), e.getMessage)
    java.nio.file.Files.delete(torn)
  }

  // ---- crash-atomic append (manifest) + compaction -----------------------

  test("DedupIndex: a torn append (parquet files written, manifest not " +
    "published) fails the next probe descriptively instead of " +
    "returning wrong rows") {
    val path = freshDir("dedup_torn")
    DedupIndex.build(docs.filter(col("doc_id") % 2 === 0), path)
    val dir = DedupIndex.dataDir(spark, path)
    // simulate a crash mid-append: a data file lands in the store
    // without its manifest commit (copy an existing part under a new
    // uncommitted name — exactly what a killed write.mode("append")
    // leaves behind)
    val part = new java.io.File(dir).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$dir/part-torn-${part.getName}"))
    val e = intercept[IllegalStateException] {
      DedupIndex.probe(docs.limit(5), path).collect()
    }
    assert(e.getMessage.contains("not committed") &&
      e.getMessage.contains("rebuild"), e.getMessage)
    // a LOST committed file is detected too
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$dir/part-torn-${part.getName}"))
    java.nio.file.Files.delete(part.toPath)
    val e2 = intercept[IllegalStateException] {
      DedupIndex.probe(docs.limit(5), path).collect()
    }
    assert(e2.getMessage.contains("missing"), e2.getMessage)
  }

  test("DedupIndex: compaction under the recorded config — fewer files, " +
    "probe row-identical, append→compact→append == full rebuild") {
    val path = freshDir("dedup_cpt")
    // base + two append waves accumulate small files
    DedupIndex.build(docs.filter(col("doc_id") % 4 === 0), path)
    val s1 = DedupIndex.append(docs.filter(col("doc_id") % 4 === 1), path)
    val s1Ids = s1.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    graft.ops.SessionScratch.evictTransients()
    val s2 = DedupIndex.append(docs.filter(col("doc_id") % 4 === 2), path)
    val s2Ids = s2.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    graft.ops.SessionScratch.evictTransients()
    val wave3 = docs.filter(col("doc_id") % 4 === 3)
    val preSigs = DedupIndex.signatures(spark, path)
      .collect().map(_.toString).sorted
    val preProbe = DedupIndex.probe(wave3, path)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val dirBefore = DedupIndex.dataDir(spark, path)

    val (before, after) = DedupIndex.compact(spark, path,
      targetBytes = 64L * 1024 * 1024)
    assert(after < before, s"compaction must reduce files: $before -> $after")
    // atomic swap: new generation directory, old one gone
    val dirAfter = DedupIndex.dataDir(spark, path)
    assert(dirAfter != dirBefore && !new java.io.File(dirBefore).exists())
    // probe answers identically off the compacted store
    val postSigs = DedupIndex.signatures(spark, path)
      .collect().map(_.toString).sorted
    val postProbe = DedupIndex.probe(wave3, path)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted
    assert(postSigs.sameElements(preSigs))
    assert(postProbe.sameElements(preProbe))

    // the cycle continues: an append AFTER compaction still equals the
    // index rebuilt from scratch over the whole accepted corpus
    val s3 = DedupIndex.append(wave3, path)
    val s3Ids = s3.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val accepted = docs.filter(col("doc_id") % 4 === 0).unionByName(
      docs.filter(col("doc_id").isin((s1Ids ++ s2Ids ++ s3Ids).toSeq: _*)))
    val rebuilt = freshDir("dedup_cpt_r")
    DedupIndex.build(accepted, rebuilt)
    val a = DedupIndex.signatures(spark, path)
    val b = DedupIndex.signatures(spark, rebuilt)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "append after compaction must still equal a full rebuild")
    graft.ops.SessionScratch.evictTransients()
  }

  test("IvfIndex: torn assignment append is detected; compaction keeps " +
    "search row-identical with centroids and config untouched") {
    val path = freshDir("ivf_cpt")
    IvfIndex.build(embs.filter(col("vec_id") % 3 === 0), path, k = 4)
    IvfIndex.append(embs.filter(col("vec_id") % 3 === 1), path)
    IvfIndex.append(embs.filter(col("vec_id") % 3 === 2), path)
    import spark.implicits._
    val q = embs.filter(col("vec_id") < 6)
      .select(col("vec_id").as("qid"), col("embedding").as("eq"))
    val pre = IvfIndex.search(q, path).collect().map(_.toString).sorted
    val centBefore = dataFiles(s"$path/centroids")

    // torn append first: uncommitted file → search must refuse
    val dir = IvfIndex.dataDir(spark, path)
    val part = new java.io.File(dir).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val torn = java.nio.file.Paths.get(s"$dir/part-torn-${part.getName}")
    java.nio.file.Files.copy(part.toPath, torn)
    val e = intercept[IllegalStateException] {
      IvfIndex.search(q, path).collect()
    }
    assert(e.getMessage.contains("not committed"), e.getMessage)
    java.nio.file.Files.delete(torn)

    val (before, after) = IvfIndex.compact(spark, path)
    assert(after < before)
    val post = IvfIndex.search(q, path).collect().map(_.toString).sorted
    assert(post.sameElements(pre),
      "search must answer identically off the compacted store")
    assert(dataFiles(s"$path/centroids") == centBefore,
      "compaction must never touch centroids")
    // append still works after compaction and lands in the new generation
    IvfIndex.append(embs.filter(col("vec_id") === 999999L), path) // empty delta
    assert(IvfIndex.dataDir(spark, path).contains("-g1"))
  }

  test("IvfIndex: search plans its candidates off the index parquet — " +
    "the corpus embeddings are never re-assigned at query time") {
    val path = freshDir("ivf_plan")
    IvfIndex.build(embs.filter(col("vec_id") % 2 === 0), path, k = 4)
    IvfIndex.append(embs.filter(col("vec_id") % 2 === 1), path)
    // queries arrive as an in-memory frame, so any parquet scan in the
    // search plan can only be index state: exactly one, the assignments
    // table (centroids are a k-bounded driver read, not a plan node)
    import spark.implicits._
    val q = embs.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("eq"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      .toSeq.toDF("qid", "eq")
    val plan = IvfIndex.search(q, path)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(plan).size == 1,
      s"search must scan only the index parquet:\n$plan")
    assert(plan.contains("assignments"))
  }

  // ---- persisted BPE tokenizer model -----------------------------------

  test("BpeModel: save+load roundtrip returns the trained merges and " +
    "encodes held-out words identically to the in-session model") {
    val path = freshDir("bpe_model")
    val train = docs.filter(col("doc_id") % 2 === 0).select(col("text"))
    val trained = Bpe.trainOn(Bpe.wordFreqOf(train), Bpe.Rounds)
    BpeModel.save(spark, trained, path, nTrain = 250)
    val loaded = BpeModel.load(spark, path)
    assert(loaded == trained.merges,
      "loaded merge table must equal the trained one, in rank order")
    // held-out application: the persisted model must tokenize the OTHER
    // half of the corpus exactly as the in-session model does
    val heldOut = docs.filter(col("doc_id") % 2 === 1)
      .select(explode(split(lower(col("text")), Bpe.WordSplitRe))
        .as("word"))
      .filter(col("word") =!= "").distinct()
    val diff = heldOut
      .withColumn("a", Bpe.encodeWord(col("word"), trained.merges))
      .withColumn("b", Bpe.encodeWord(col("word"), loaded))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0, "persisted model must encode identically")
  }

  test("BpeModel: a drifted training recipe fails descriptively") {
    val path = freshDir("bpe_model_cfg")
    val train = docs.filter(col("doc_id") % 2 === 0).select(col("text"))
    BpeModel.save(spark, Bpe.trainOn(Bpe.wordFreqOf(train), Bpe.Rounds),
      path, nTrain = 250)
    graft.llmops.IndexMaintenance.writeSidecar(spark, path,
      "_bpe_model_config", BpeModel.Config.replace(
        s"rounds=${Bpe.Rounds}", s"rounds=${Bpe.Rounds + 4}"))
    val e = intercept[IllegalStateException](BpeModel.load(spark, path))
    assert(e.getMessage.contains("rebuild"),
      s"drift error must name the remediation: ${e.getMessage}")
  }

  test("BpeModel: a short merge table fails the structural check") {
    val path = freshDir("bpe_model_short")
    val train = docs.filter(col("doc_id") % 2 === 0).select(col("text"))
    // a model trained for fewer rounds than the recorded recipe: save
    // publishes the full-recipe config, so load's rank check must fire
    BpeModel.save(spark,
      Bpe.trainOn(Bpe.wordFreqOf(train), Bpe.Rounds - 4), path,
      nTrain = 250)
    val e = intercept[IllegalStateException](BpeModel.load(spark, path))
    assert(e.getMessage.contains("truncated or doubled"),
      s"short-table error must be structural: ${e.getMessage}")
  }

  test("BpeModel: republish swaps generations atomically — a retrained " +
    "model replaces the live one, a torn republish leaves it live") {
    val path = freshDir("bpe_model_repub")
    val trainA = docs.filter(col("doc_id") % 2 === 0).select(col("text"))
    val trainB = docs.filter(col("doc_id") % 2 === 1).select(col("text"))
    val modelA = Bpe.trainOn(Bpe.wordFreqOf(trainA), Bpe.Rounds)
    val modelB = Bpe.trainOn(Bpe.wordFreqOf(trainB), Bpe.Rounds)
    assert(modelA.merges != modelB.merges,
      "fixture halves must train distinct models for this test to bind")
    BpeModel.save(spark, modelA, path, nTrain = 250)
    // a torn republish: a stray next-generation directory exists but
    // the manifest was never swapped — the OLD model must stay live
    import spark.implicits._
    modelB.merges.toDF().coalesce(1)
      .write.mode("overwrite").parquet(s"$path/merges-g1")
    assert(BpeModel.load(spark, path) == modelA.merges,
      "an unpublished generation must be invisible to load")
    // the real republish: manifest swap, old generation deleted
    BpeModel.republish(spark, modelB, path, nTrain = 250)
    assert(BpeModel.load(spark, path) == modelB.merges,
      "load must return the republished model")
    assert(!new java.io.File(path, "merges-g0").exists(),
      "the old generation is deleted after the swap")
    // a second republish keeps incrementing generations
    BpeModel.republish(spark, modelA, path, nTrain = 250)
    assert(BpeModel.load(spark, path) == modelA.merges)
    assert(new java.io.File(path, "merges-g2").exists())
  }

  // ---- persisted classifier model ---------------------------------------

  test("ClfModel: save+load roundtrip, recipe drift refused, foreign " +
    "weight table refused, torn save detected, republish atomic") {
    import graft.llmops.{ClfModel, Curation}
    val path = freshDir("clf_model")
    val trainA = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("text"))
    val wA = Curation.trainClassifierOn(spark, trainA).w
    ClfModel.save(spark, wA, path, nTrain = 250)
    // roundtrip: the loaded table equals the trained one row-for-row
    val loaded = ClfModel.load(spark, path)
    assert(loaded.exceptAll(wA).isEmpty && wA.exceptAll(loaded).isEmpty,
      "loaded weights must equal the trained table")
    // recipe drift refused
    graft.llmops.IndexMaintenance.writeSidecar(spark, path,
      "_clf_model_config", ClfModel.Config.replace("pow2", "const"))
    val e1 = intercept[IllegalStateException](ClfModel.load(spark, path))
    assert(e1.getMessage.contains("rebuild"), e1.getMessage)
    graft.llmops.IndexMaintenance.writeSidecar(spark, path,
      "_clf_model_config", ClfModel.Config)
    // a foreign weight table (bucket outside the recorded range) is
    // structurally refused even though config and manifest verify
    val bad = freshDir("clf_model_bad")
    import spark.implicits._
    ClfModel.save(spark,
      Seq((Curation.ClfBuckets + 7, 5L)).toDF("b", "w"), bad,
      nTrain = 1)
    val e2 = intercept[IllegalStateException](ClfModel.load(spark, bad))
    assert(e2.getMessage.contains("structural check"), e2.getMessage)
    // torn save: config never published -> rebuild-required
    val torn = freshDir("clf_model_torn")
    ClfModel.save(spark, wA, torn, nTrain = 250)
    assert(new java.io.File(torn, "_clf_model_config").delete())
    val e3 = intercept[IllegalStateException](ClfModel.load(spark, torn))
    assert(e3.getMessage.contains("did not complete"), e3.getMessage)
    // republish: generation swap, old generation swept, new table live
    val trainB = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text"))
    val wB = Curation.trainClassifierOn(spark, trainB).w
    ClfModel.republish(spark, wB, path, nTrain = 250)
    val reloaded = ClfModel.load(spark, path)
    assert(reloaded.exceptAll(wB).isEmpty && wB.exceptAll(reloaded).isEmpty)
    assert(!new java.io.File(path, "weights-g0").exists(),
      "old generation must be deleted after the swap")
    assert(new java.io.File(path, "weights-g1").exists())
  }

  // ---- IVF-PQ: the codes-only persisted index ---------------------------

  test("IvfPqIndex: append encodes ONLY the delta under the recorded " +
    "artifacts — centroids AND codebook byte-untouched, every vector " +
    "coded exactly once, search identical to a one-pass encode") {
    import graft.llmops.IvfPqIndex
    val path = freshDir("ivfpq")
    val even = embs.filter(col("vec_id") % 2 === 0)
    val odd = embs.filter(col("vec_id") % 2 === 1)
    IvfPqIndex.build(even, path, k = 4)
    val centBefore = dataFiles(s"$path/centroids")
    val cbBefore = dataFiles(s"$path/codebook")
    val baseFiles = dataFiles(IvfPqIndex.dataDir(spark, path))
    IvfPqIndex.append(odd, path)
    assert(dataFiles(s"$path/centroids") == centBefore,
      "append must never touch centroids")
    assert(dataFiles(s"$path/codebook") == cbBefore,
      "append must never touch the codebook")
    assert(baseFiles.subsetOf(dataFiles(IvfPqIndex.dataDir(spark, path))),
      "append must never rewrite base code files")
    // every vector coded exactly once, m rows each
    val codes = spark.read.parquet(IvfPqIndex.dataDir(spark, path))
    val n = embs.count()
    assert(codes.count() == n * IvfPqIndex.M)
    assert(codes.select(col("vec_id")).distinct().count() == n)
    // search returns a full top-k per query off codes alone
    val q = embs.filter(col("vec_id") < 6)
      .select(col("vec_id").as("qid"), col("embedding").as("eq"))
    val rows = IvfPqIndex.search(q, path).collect()
    assert(rows.length == 6 * 8)
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).distinct.length ==
      rows.length)
    // compaction: fewer files, search row-identical, both trained
    // artifacts untouched
    val pre = rows.map(_.toString).sorted
    val (before, after) = IvfPqIndex.compact(spark, path)
    assert(after < before)
    val post = IvfPqIndex.search(q, path).collect().map(_.toString).sorted
    assert(post.sameElements(pre))
    assert(dataFiles(s"$path/centroids") == centBefore &&
      dataFiles(s"$path/codebook") == cbBefore)
  }

  test("IvfPqIndex: codes-only ADC search recall vs the exact top-k") {
    import graft.llmops.IvfPqIndex
    val path = freshDir("ivfpq_rec")
    IvfPqIndex.build(embs, path, k = 4)
    val exact = graft.llmops.Similarity.q50.run(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
    val q = embs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("eq"))
    val got = IvfPqIndex.search(q, path).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (k2, ps) => k2 -> ps.map(_._2).toSet }
    val recalls = exact.map { case (k2, ex) =>
      (got.getOrElse(k2, Set.empty[Long]) & ex).size.toDouble / ex.size }
    val mean = recalls.sum / recalls.size
    info(f"persisted IVFPQ (ADC-only) mean recall@8 = $mean%.3f")
    // no refine stage by design (raw vectors are not in the store) —
    // the floor sits below q192's refined reading; random unit vectors
    // are the worst case for any quantized index, and this fixture is
    // additionally UNDERTRAINED for the k-means codebooks (~3 vectors
    // per codeword vs FAISS's ≥39·k guidance): measured 0.238 trained
    // here vs 0.30 seeded, while at sf0.01 (enough training data) the
    // trained quantizer wins 0.1875 vs 0.1625 on the isolated ADC
    // ranking (SCALING.md "Trained PQ codebooks"). Floor at 0.15.
    assert(mean >= 0.15, f"ADC-only recall degraded: $mean%.3f")
  }

  // ---- vacuum: crash RECOVERY (the remediation half of detection) -------

  test("vacuum: a torn append's uncommitted files are swept, the probe " +
    "answers the committed state again, and the RETRIED append equals " +
    "a full rebuild") {
    val path = freshDir("dedup_vac")
    DedupIndex.build(docs.filter(col("doc_id") % 2 === 0), path)
    val wave = docs.filter(col("doc_id") % 2 === 1)
    val pre = DedupIndex.probe(wave, path)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted
    graft.ops.SessionScratch.evictTransients()
    // a killed append: data files present that the manifest never
    // committed
    val dir = DedupIndex.dataDir(spark, path)
    val part = new java.io.File(dir).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$dir/part-torn-${part.getName}"))
    intercept[IllegalStateException] {
      DedupIndex.probe(wave, path).collect()
    }
    // vacuum removes exactly the garbage; the committed store reads again
    val rep = DedupIndex.vacuum(spark, path)
    assert(rep.uncommittedRemoved == 1 && rep.staleGenerationsRemoved == 0,
      rep.toString)
    val post = DedupIndex.probe(wave, path)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted
    assert(post.sameElements(pre),
      "after vacuum the probe must answer the committed state")
    graft.ops.SessionScratch.evictTransients()
    // the recovery story completes: retry the append that was torn, and
    // the maintained index equals a from-scratch rebuild
    val s1 = DedupIndex.append(wave, path)
    val ids = s1.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val rebuilt = freshDir("dedup_vac_r")
    DedupIndex.build(docs.filter(col("doc_id") % 2 === 0).unionByName(
      wave.filter(col("doc_id").isin(ids.toSeq: _*))), rebuilt)
    val a = DedupIndex.signatures(spark, path)
    val b = DedupIndex.signatures(spark, rebuilt)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "vacuum + retried append must equal a full rebuild")
    graft.ops.SessionScratch.evictTransients()
  }

  test("vacuum: stale generation dirs and orphaned sidecar temps are " +
    "swept; the live generation and its probe are untouched") {
    val path = freshDir("dedup_vac2")
    DedupIndex.build(docs.filter(col("doc_id") % 2 === 0), path)
    val wave = docs.filter(col("doc_id") % 2 === 1)
    val pre = DedupIndex.probe(wave, path)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted
    graft.ops.SessionScratch.evictTransients()
    // a compaction that published its swap but crashed before deleting
    // the superseded generation — plus a writeSidecar temp orphaned by
    // a kill between create and rename
    val stale = new java.io.File(path, "signatures-g9")
    assert(stale.mkdir())
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$path/signatures-g9/part-junk.parquet"),
      "junk")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        s"$path/._dedup_index_manifest.tmp.deadbeef"), "junk")
    val rep = DedupIndex.vacuum(spark, path)
    assert(rep.staleGenerationsRemoved == 1 && rep.tempsRemoved == 1 &&
      rep.uncommittedRemoved == 0, rep.toString)
    assert(!stale.exists(), "stale generation must be gone")
    val post = DedupIndex.probe(wave, path)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted
    assert(post.sameElements(pre))
    graft.ops.SessionScratch.evictTransients()
  }

  test("vacuum: refuses descriptively when committed files are LOST — " +
    "data loss is not garbage") {
    val path = freshDir("dedup_vac3")
    DedupIndex.build(docs.filter(col("doc_id") % 2 === 0), path)
    val dir = DedupIndex.dataDir(spark, path)
    val part = new java.io.File(dir).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.delete(part.toPath)
    val e = intercept[IllegalStateException] {
      DedupIndex.vacuum(spark, path)
    }
    assert(e.getMessage.contains("data loss") &&
      e.getMessage.contains("rebuild"), e.getMessage)
  }

  test("vacuum on IvfIndex: assignment-store garbage swept, centroids " +
    "and search untouched") {
    val path = freshDir("ivf_vac")
    IvfIndex.build(embs.filter(col("vec_id") % 2 === 0), path, k = 4)
    IvfIndex.append(embs.filter(col("vec_id") % 2 === 1), path)
    val q = embs.filter(col("vec_id") < 6)
      .select(col("vec_id").as("qid"), col("embedding").as("eq"))
    val pre = IvfIndex.search(q, path).collect().map(_.toString).sorted
    val centBefore = dataFiles(s"$path/centroids")
    val dir = IvfIndex.dataDir(spark, path)
    val part = new java.io.File(dir).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$dir/part-torn-${part.getName}"))
    val stale = new java.io.File(path, "assignments-g9")
    assert(stale.mkdir())
    val rep = IvfIndex.vacuum(spark, path)
    assert(rep.uncommittedRemoved == 1 && rep.staleGenerationsRemoved == 1,
      rep.toString)
    assert(dataFiles(s"$path/centroids") == centBefore,
      "vacuum must never touch centroids")
    val post = IvfIndex.search(q, path).collect().map(_.toString).sorted
    assert(post.sameElements(pre))
  }

  // ---- semantic dedup over the IVF index ---------------------------------

  test("IvfIndex.semanticProbe: matches a brute-force recompute of the " +
    "SemDeDup-at-ingest semantics (top-2 recorded cells, exact dot >= tau)") {
    import graft.llmops.PortableHash
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val path = freshDir("sem_probe")
    val day0 = embs.filter(col("vec_id") % 3 === 0)
    val wave = embs.filter(col("vec_id") % 3 === 1)
    IvfIndex.build(day0, path, k = 4)
    val got = IvfIndex.semanticProbe(wave, path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted

    // independent recompute, structurally different dataflow: retrain
    // the centroids from scratch, then BRUTE-FORCE every wave x day0
    // pair (no cell equi-join, no LEFT-join single-pass agg) and apply
    // the membership rule afterwards
    val cents = KMeans.fit(spark, day0, k = 4, iters = 2)
    val centDf = cents.map(c => (c.cell, c.centroid.toSeq))
      .toDF("ccell", "ec")
    val wp = Window.partitionBy(col("vec_id"))
      .orderBy(col("cdot").desc, col("ccell"))
    val probes = wave.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(centDf))
      .select(col("vec_id"), col("ccell"),
        graft.functions.VectorDot.fixedDotSum(
          col("embedding").cast("array<double>"), col("ec")).as("cdot"))
      .withColumn("crn", row_number().over(wp))
      .filter(col("crn") <= 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    val topCells = probes.groupBy(_._1)
      .map { case (id, rs) => id -> rs.map(_._2).toSet }
    val argmaxCell = probes.filter(_._3 == 1)
      .map(p => p._1 -> p._2).toMap
    val members = KMeans.assign(day0, cents)
      .select(col("vec_id").as("mid"), col("embedding").as("em"),
        col("cell"))
    val pairDots = wave
      .select(col("vec_id").as("nid"), col("embedding").as("en"))
      .crossJoin(members)
      .select(col("nid"), col("mid"), col("cell"),
        PortableHash.exactDot(col("en"), col("em")).as("dot"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val want = wave.select(col("vec_id")).collect().map(_.getLong(0))
      .flatMap { nid =>
        val cells = topCells(nid)
        val cand = pairDots.filter(p => p._1 == nid && cells(p._3))
        if (cand.exists(_._4 >= 0.35)) None
        else Some((nid, argmaxCell(nid), cand.length.toLong))
      }.sorted
    assert(got.nonEmpty, "fixture must admit at least one survivor")
    assert(got.sameElements(want))
    assert(got.length < wave.count(), "fixture must drop at least one")
  }

  test("IvfIndex.dedupIngest: only survivors' rows admitted exactly " +
    "once, rejects never enter, centroids + base files untouched, " +
    "re-probing an ingested survivor self-matches") {
    val path = freshDir("sem_ingest")
    val day0 = embs.filter(col("vec_id") % 3 === 0)
    val w2 = embs.filter(col("vec_id") % 3 === 1)
    IvfIndex.build(day0, path, k = 4)
    val centFiles = dataFiles(s"$path/centroids")
    val baseFiles = dataFiles(IvfIndex.dataDir(spark, path))

    val surv2 = IvfIndex.dedupIngest(w2, path)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val w2Ids = w2.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(surv2.nonEmpty && surv2 != w2Ids,
      "fixture must both admit and reject at least one wave-2 vector")

    // FAISS train-then-add: centroid files byte-untouched; base
    // assignment files never rewritten
    assert(dataFiles(s"$path/centroids") == centFiles)
    assert(baseFiles.subsetOf(dataFiles(IvfIndex.dataDir(spark, path))))

    // the grown index holds exactly day0 ∪ survivors, each once — a
    // leaked reject or a double-admitted survivor fails here
    val byId = spark.read.parquet(IvfIndex.dataDir(spark, path))
      .groupBy(col("member_id")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(byId.forall(_._2 == 1L), "every member indexed exactly once")
    val day0Ids = day0.select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet
    assert(byId.map(_._1).toSet == day0Ids ++ surv2)

    // an ingested survivor re-probed self-matches (dot(v,v)=1 >= tau):
    // the probe sees the GROWN index, so all survivors are now dups
    val again = IvfIndex.semanticProbe(
      w2.filter(col("vec_id").isin(surv2.toSeq: _*)), path)
    assert(again.count() == 0L,
      "re-probing ingested survivors must drop every one")
  }

  // ---- persisted kNN-graph index -----------------------------------------

  test("GraphIndex: append inserts forward + reverse edges under the " +
    "recorded artifacts (centroids, entries, base files untouched); " +
    "appended members are reachable search results; torn append " +
    "refused then vacuumed") {
    import graft.llmops.GraphIndex
    val path = freshDir("graph")
    val even = embs.filter(col("vec_id") % 2 === 0)
    val odd = embs.filter(col("vec_id") % 2 === 1)
    GraphIndex.build(even, path, k = 4)
    val centFiles = dataFiles(s"$path/centroids")
    val entFiles = dataFiles(s"$path/entries")
    val baseFiles = dataFiles(GraphIndex.dataDir(spark, path))

    GraphIndex.append(odd, path)

    // recorded artifacts byte-untouched; base store append-only
    assert(dataFiles(s"$path/centroids") == centFiles)
    assert(dataFiles(s"$path/entries") == entFiles)
    assert(baseFiles.subsetOf(dataFiles(GraphIndex.dataDir(spark, path))))

    val data = spark.read.parquet(GraphIndex.dataDir(spark, path))
    // every vector a member exactly once
    val members = data.filter(col("kind") === "m")
      .groupBy(col("member_id")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(members.forall(_._2 == 1L))
    assert(members.map(_._1).toSet ==
      embs.select(col("vec_id")).collect().map(_.getLong(0)).toSet)
    // every appended member has out-edges, and every forward edge
    // from a new member has its REVERSE (the HNSW insert rule — the
    // reachability guarantee)
    val edges = data.filter(col("kind") === "e")
      .select(col("src"), col("dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val oddIds = odd.select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet
    assert(oddIds.forall(id => edges.exists(_._1 == id)),
      "every appended member must have forward edges")
    val fwdFromNew = edges.filter(e => oddIds(e._1))
    assert(fwdFromNew.forall(e => edges((e._2, e._1))),
      "every forward edge from an appended member needs its reverse")

    // appended members actually surface as results (reachability)
    val hits = GraphIndex.search(
        embs.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("eq")),
        path)
      .select(col("cid")).collect().map(_.getLong(0)).toSet
    assert(hits.exists(oddIds), "no appended member ever surfaced — " +
      "reverse-edge insertion is broken")

    // maintained-graph recall tracks a full rebuild (insert-only
    // degradation is bounded, the republish arm exists for drift)
    val rebuilt = freshDir("graph_rebuild")
    GraphIndex.build(embs, rebuilt, k = 4)
    val q = embs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("eq"))
    def top(p: String) = GraphIndex.search(q, p).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (k2, v) => k2 -> v.map(_._2).toSet }
    // two approximate walks legitimately disagree with EACH OTHER on
    // worst-case random vectors — the invariant is that each tracks
    // the EXACT top-8 at a comparable rate (insert-only degradation
    // bounded; the republish arm exists for real drift)
    val exact = graft.llmops.Similarity.q50.run(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (k2, v) => k2 -> v.map(_._2).toSet }
    def recall(m: Map[Long, Set[Long]]): Double = {
      val rs = exact.map { case (k2, ex) => (m(k2) & ex).size.toDouble / ex.size }
      rs.sum / rs.size
    }
    val mRec = recall(top(path)); val rRec = recall(top(rebuilt))
    info(f"maintained recall@8 = $mRec%.3f vs rebuilt $rRec%.3f")
    assert(mRec >= 0.15, f"maintained graph recall collapsed: $mRec%.3f")
    assert(mRec >= rRec - 0.2,
      f"maintained recall $mRec%.3f trails rebuild $rRec%.3f by > 0.2")

    // torn append: the shared manifest discipline holds for the graph
    // store — uncommitted extras refuse, fsck points at vacuum, vacuum
    // restores, search answers identically
    val before = GraphIndex.search(q, path).collect().map(_.toString)
    val dir = GraphIndex.dataDir(spark, path)
    val part = new java.io.File(dir).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$dir/part-torn-${part.getName}"))
    val e = intercept[IllegalStateException] {
      GraphIndex.search(q, path).collect()
    }
    assert(e.getMessage.contains("torn append") ||
      e.getMessage.toLowerCase.contains("manifest"))
    val report = StoreAudit.audit(spark, Seq("graph" -> path)).collect()
    assert(!report.head.getAs[Boolean]("healthy") &&
      report.head.getAs[Boolean]("vacuum_repairs"))
    GraphIndex.vacuum(spark, path)
    assert(GraphIndex.search(q, path).collect().map(_.toString)
      .sameElements(before))
  }

  test("GraphIndex.compact preserves search answers over the kind-MIXED " +
    "store (member and edge rows share one manifested dir), reduces " +
    "files, leaves centroids/entries/config untouched") {
    import graft.llmops.GraphIndex
    val path = freshDir("graph_compact")
    val even = embs.filter(col("vec_id") % 2 === 0)
    GraphIndex.build(even, path, k = 4)
    // several appends fragment the store (each adds member+edge files)
    Seq(1L, 3L, 5L).foreach { r =>
      GraphIndex.append(embs.filter(col("vec_id") % 6 === r), path)
    }
    val q = embs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("eq"))
    val before = GraphIndex.search(q, path).collect().map(_.toString)
    val centFiles = dataFiles(s"$path/centroids")
    val entFiles = dataFiles(s"$path/entries")
    val rowsBefore = spark.read.parquet(GraphIndex.dataDir(spark, path))
      .count()

    val (nBefore, nAfter) = GraphIndex.compact(spark, path)
    assert(nAfter < nBefore,
      s"compaction must reduce files ($nBefore -> $nAfter)")
    assert(dataFiles(s"$path/centroids") == centFiles)
    assert(dataFiles(s"$path/entries") == entFiles)
    val after = spark.read.parquet(GraphIndex.dataDir(spark, path))
    assert(after.count() == rowsBefore, "compaction must preserve rows")
    assert(GraphIndex.search(q, path).collect().map(_.toString)
      .sameElements(before), "search must answer identically")
    // the compacted store audits healthy (the new generation is the
    // manifest's, the old one was swept by the swap)
    assert(GraphIndex.fsck(spark, path).healthy)
  }

  test("GraphIndex: a stray append (lands in a build-empty cell) is " +
    "edged to the entry points and stays reachable — without the " +
    "fallback it would be silently unsearchable forever") {
    import graft.llmops.GraphIndex
    import spark.implicits._
    // non-unit magnitudes make the small seeds defect to the big ones
    // at every Lloyd iteration, so cells 1 and 3 are EMPTY at build
    // with their stale (small) seed centroids recorded. An appended
    // vector in the negative orthant argmaxes the least-negative dot —
    // the smallest stale centroid (cell 3) — and has no same-cell peer.
    val base = Seq(
      (0L, Array(4f, 0f)), (1L, Array(0.5f, 0f)),
      (2L, Array(0f, 4f)), (3L, Array(0f, 0.5f)))
      .toDF("vec_id", "embedding")
    val path = freshDir("graph_stray")
    GraphIndex.build(base, path, k = 4)
    // precondition: cells 1 and 3 really are empty at build (members
    // only in 0 and 2) — otherwise this test isn't testing the arm
    val builtCells = spark.read.parquet(GraphIndex.dataDir(spark, path))
      .filter(col("kind") === "m")
      .select(col("cell")).collect().map(_.getLong(0)).toSet
    assert(builtCells == Set(0L, 2L),
      s"fixture must leave cells 1/3 empty at build, got $builtCells")

    // TWO strays land in the same empty cell — the island case: they
    // edge to each other as same-cell peers, so stray detection must
    // key on CELL membership, not "produced no forward edge" (that
    // test would see both as non-strays and leave the pair
    // disconnected from every entry point, silently unsearchable)
    GraphIndex.append(
      Seq((10L, Array(-1f, -0.1f)), (11L, Array(-1f, -0.15f)))
        .toDF("vec_id", "embedding"), path)

    val data = spark.read.parquet(GraphIndex.dataDir(spark, path))
    val strayCells = data.filter(col("kind") === "m" &&
        col("member_id") >= 10L)
      .select(col("cell")).collect().map(_.getLong(0)).toSet
    assert(strayCells == Set(3L),
      s"strays expected in empty cell 3, got $strayCells")
    // the fallback edged BOTH to the entry points, with reverses —
    // on top of their same-cell edges to each other
    val edges = data.filter(col("kind") === "e")
      .select(col("src"), col("dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Seq(10L, 11L).foreach { id =>
      assert(edges((id, 0L)) && edges((id, 2L)),
        s"stray $id must edge to the entry points, got $edges")
      assert(edges((0L, id)) && edges((2L, id)),
        s"stray $id's entry edges need reverses")
    }
    assert(edges((10L, 11L)) && edges((11L, 10L)),
      "same-cell strays still edge to each other")
    // and both actually SURFACE from a search near them
    val hits = GraphIndex.search(
        Seq((99L, Array(-1f, -0.2f))).toDF("qid", "eq"), path)
      .select(col("cid")).collect().map(_.getLong(0)).toSet
    assert(hits.contains(10L) && hits.contains(11L),
      s"stray members must be reachable search results, got " +
        hits.mkString(","))
  }

  test("fsck reports a manifest that exists but does not PARSE as " +
    "absent instead of throwing (one corrupted store must not abort " +
    "a catalog sweep)") {
    val path = freshDir("fsck_badmanifest")
    DedupIndex.build(docs.filter(col("doc_id") % 4 === 0), path)
    IndexMaintenance.writeSidecar(spark, path, "_dedup_index_manifest",
      "dir=signatures-g0\nthis line has no colon")
    val r = DedupIndex.fsck(spark, path)
    assert(!r.healthy && !r.manifestPresent && !r.vacuumRepairs &&
      r.generation == -1)
    // the sweep containing it completes and flags only that store
    val good = freshDir("fsck_goodtwin")
    DedupIndex.build(docs.filter(col("doc_id") % 4 === 1), good)
    val frame = StoreAudit.audit(spark,
      Seq("dedup" -> path, "dedup" -> good)).collect()
    assert(frame.length == 2)
    assert(frame.count(_.getAs[Boolean]("healthy")) == 1)
  }

  test("GraphIndex: republish rebuilds in place crash-detectably and " +
    "answers like a fresh build (the insert-only degradation's " +
    "remediation arm)") {
    import graft.llmops.GraphIndex
    val live = freshDir("graph_repub")
    val fresh = freshDir("graph_fresh")
    GraphIndex.build(embs.filter(col("vec_id") % 2 === 0), live, k = 4)
    GraphIndex.append(embs.filter(col("vec_id") % 2 === 1), live)
    GraphIndex.compact(spark, live)
    val staleGen = GraphIndex.dataDir(spark, live)
    assert(!staleGen.endsWith("/graph-g0"))
    // the torn window: config retracted -> every read refuses
    val recorded = graft.llmops.IndexMaintenance.readSidecar(spark, live,
      "_graph_index_config").get
    graft.llmops.IndexMaintenance.retractSidecar(spark, live,
      "_graph_index_config")
    val q = embs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("eq"))
    val e = intercept[IllegalStateException](
      GraphIndex.search(q, live).collect())
    assert(e.getMessage.contains("rebuild"),
      s"torn-rebuild reads must name the remediation: ${e.getMessage}")
    graft.llmops.IndexMaintenance.writeSidecar(spark, live,
      "_graph_index_config", recorded)
    GraphIndex.republish(embs, live, k = 4)
    GraphIndex.build(embs, fresh, k = 4)
    // the rebuilt graph answers exactly like a fresh build (same
    // deterministic recipe over the same corpus)
    assert(GraphIndex.search(q, live).collect().map(_.toString)
      .sameElements(GraphIndex.search(q, fresh).collect()
        .map(_.toString)))
    assert(!new java.io.File(staleGen).exists(),
      s"stale generation must be deleted: $staleGen")
    assert(GraphIndex.fsck(spark, live).healthy)
  }

  // ---- fsck / catalog audit --------------------------------------------

  test("fsck OBSERVES every failure mode the read paths throw on: " +
    "healthy store, torn append (vacuum repairs it), committed-file " +
    "loss, config drift, absent store") {
    val path = freshDir("dedup_fsck")
    DedupIndex.build(docs.filter(col("doc_id") % 2 === 0), path)
    val dir = DedupIndex.dataDir(spark, path)

    val healthy = DedupIndex.fsck(spark, path)
    assert(healthy.healthy && !healthy.vacuumRepairs)
    assert(healthy.configPresent && healthy.configMatches.contains(true))
    assert(healthy.manifestPresent && healthy.generation == 0)
    assert(healthy.committedFiles == dataFiles(dir).size &&
      healthy.committedBytes == dataFiles(dir).map(_._2).sum)

    // torn append: fsck reports what probe() throws on, then points at
    // vacuum as the remediation — and vacuum restores healthy
    val part = new java.io.File(dir).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$dir/part-torn-${part.getName}"))
    val torn = DedupIndex.fsck(spark, path)
    assert(!torn.healthy && torn.uncommittedFiles == 1 &&
      torn.vacuumRepairs)
    DedupIndex.vacuum(spark, path)
    assert(DedupIndex.fsck(spark, path).healthy)

    // committed-file loss: not vacuum-repairable (rebuild territory)
    val stash = java.nio.file.Files.createTempFile("fsck_stash", ".pq")
    java.nio.file.Files.copy(part.toPath, stash,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    java.nio.file.Files.delete(part.toPath)
    val lost = DedupIndex.fsck(spark, path)
    assert(!lost.healthy && lost.missingFiles == 1 && !lost.vacuumRepairs)
    java.nio.file.Files.copy(stash, part.toPath)
    java.nio.file.Files.delete(stash)
    assert(DedupIndex.fsck(spark, path).healthy)

    // config drift: reported (not thrown), and NOT vacuum-repairable
    IndexMaintenance.writeSidecar(spark, path, "_dedup_index_config",
      "minhash=32;bands=16;v=999")
    val drifted = DedupIndex.fsck(spark, path)
    assert(!drifted.healthy && drifted.configMatches.contains(false) &&
      !drifted.vacuumRepairs)
    IndexMaintenance.writeSidecar(spark, path, "_dedup_index_config",
      DedupIndex.Config)
    assert(DedupIndex.fsck(spark, path).healthy)

    // absent store: fsck still answers instead of throwing
    val absent = DedupIndex.fsck(spark, freshDir("dedup_fsck_absent"))
    assert(!absent.healthy && !absent.manifestPresent &&
      !absent.configPresent && absent.generation == -1 &&
      absent.configMatches.isEmpty)
  }

  test("StoreAudit.audit: one catalog sweep over mixed store kinds " +
    "reports damaged stores in the same frame as healthy ones") {
    import graft.llmops.{NgramIndex, TextIndex}
    val dedupPath = freshDir("audit_dedup")
    DedupIndex.build(docs.filter(col("doc_id") % 2 === 0), dedupPath)
    val ivfPath = freshDir("audit_ivf")
    IvfIndex.build(embs.filter(col("vec_id") < 100), ivfPath, k = 4)
    val bm25Path = freshDir("audit_bm25")
    TextIndex.build(docs.filter(col("doc_id") % 4 === 0), bm25Path)
    val lmPath = freshDir("audit_ngram")
    NgramIndex.build(docs.filter(col("doc_id") % 4 === 0), lmPath)
    // damage the BM25 store with a torn append; leave the LM path empty
    val bmDir = TextIndex.dataDir(spark, bm25Path)
    val bmPart = new java.io.File(bmDir).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(bmPart.toPath,
      java.nio.file.Paths.get(s"$bmDir/part-torn-${bmPart.getName}"))
    val emptyPath = freshDir("audit_empty")

    val rows = StoreAudit.audit(spark, Seq(
        "dedup" -> dedupPath, "ivf" -> ivfPath, "bm25" -> bm25Path,
        "ngram" -> lmPath, "ngram" -> emptyPath))
      .orderBy(col("path")).collect()
    assert(rows.length == 5)
    val byPath = rows.map(r => r.getAs[String]("path") ->
      (r.getAs[Boolean]("healthy"), r.getAs[Boolean]("vacuum_repairs"),
        r.getAs[Int]("uncommitted_files"))).toMap
    assert(byPath(dedupPath) == ((true, false, 0)))
    assert(byPath(ivfPath) == ((true, false, 0)))
    assert(byPath(lmPath) == ((true, false, 0)))
    assert(byPath(bm25Path) == ((false, true, 1)))
    assert(byPath(emptyPath) == ((false, false, 0)))
    // the ivf row's config check bound: parametric k was re-derived
    val ivfRow = rows.find(_.getAs[String]("path") == ivfPath).get
    assert(ivfRow.getAs[Boolean]("config_matches"))
    // unknown kinds refuse instead of silently skipping
    val e = intercept[IllegalArgumentException] {
      StoreAudit.audit(spark, Seq("nope" -> dedupPath))
    }
    assert(e.getMessage.contains("unknown store kind"))
    // repair the damaged store and re-audit: the sweep converges
    TextIndex.vacuum(spark, bm25Path)
    val again = StoreAudit.audit(spark,
      Seq("bm25" -> bm25Path)).collect()
    assert(again.head.getAs[Boolean]("healthy"))
  }

  test("GraphIndex: append extends the graph at the RECORDED degree, " +
    "not the compile-time default") {
    import graft.llmops.GraphIndex
    val path = freshDir("graph_deg8")
    GraphIndex.build(embs.filter(col("vec_id") % 2 === 0), path,
      k = 4, degree = 8)
    GraphIndex.append(embs.filter(col("vec_id") % 2 === 1), path)
    val edges = spark.read.parquet(GraphIndex.dataDir(spark, path))
      .filter(col("kind") === "e")
    // forward out-degree of appended (odd) members: exactly the
    // recorded R=8 wherever the cell has >= 8 other members
    val outDeg = edges.filter(col("src") % 2 === 1)
      .groupBy(col("src")).agg(count(lit(1)).as("d"))
      .agg(max(col("d"))).head().getLong(0)
    assert(outDeg >= 8,
      s"append used the default degree, not the recorded 8 (max=$outDeg)")
    // and the config records it, so requireLive round-trips
    val fr = GraphIndex.fsck(spark, path)
    assert(fr.configMatches.contains(true))
  }

  // ---- tombstoned deletes -------------------------------------------------

  test("DedupIndex.delete: masked == dropped == rebuilt-without-deleted") {
    val path = freshDir("dedup_del")
    val even = docs.filter(col("doc_id") % 2 === 0)
    DedupIndex.build(even, path)
    DedupIndex.delete(
      even.filter(col("doc_id") % 10 === 0).select(col("doc_id")), path)
    val probeDocs = docs.filter(col("doc_id") % 2 === 1)
    val masked = DedupIndex.probe(probeDocs, path)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted
    // ground truth: an index that never contained the deleted docs
    val rebuilt = freshDir("dedup_del_rb")
    DedupIndex.build(even.filter(col("doc_id") % 10 =!= 0), rebuilt)
    val want = DedupIndex.probe(probeDocs, rebuilt)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted
    assert(masked.sameElements(want),
      "tombstone-masked probe != rebuild-without-deleted")
    // compact drops the rows physically and clears the tombstones
    val rowsBefore =
      spark.read.parquet(DedupIndex.dataDir(spark, path)).count()
    DedupIndex.compact(spark, path)
    val data = spark.read.parquet(DedupIndex.dataDir(spark, path))
    assert(data.count() < rowsBefore, "compact dropped nothing")
    assert(data.filter(col("doc_id") % 10 === 0).count() == 0,
      "a deleted doc's signature rows survived compaction")
    assert(!new java.io.File(path, "_dedup_index_manifest_tombs").exists(),
      "tombstones not cleared after the physical drop")
    val after = DedupIndex.probe(probeDocs, path)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted
    assert(after.sameElements(want), "probe changed across compaction")
  }

  test("IvfIndex.delete: search/probe == a store that never held the " +
    "deleted members; compact drops + clears") {
    val even = embs.filter(col("vec_id") % 2 === 0)
    val odd = embs.filter(col("vec_id") % 2 === 1)
    // same training corpus (even) on both stores → identical recorded
    // centroids, so delete-masking must equal true row absence
    val deleted = freshDir("ivf_del")
    IvfIndex.build(even, deleted, k = 4)
    IvfIndex.append(odd, deleted)
    IvfIndex.delete(
      odd.filter(col("vec_id") % 5 === 0).select(col("vec_id")), deleted)
    val never = freshDir("ivf_never")
    IvfIndex.build(even, never, k = 4)
    IvfIndex.append(odd.filter(col("vec_id") % 5 =!= 0), never)

    val q = embs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("eq"))
    def rows(p: String) = IvfIndex.search(q, p).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted
    assert(rows(deleted).sameElements(rows(never)),
      "masked search != search over a store without the rows")
    // the semantic probe must also stop suppressing against deleted
    // members: same equivalence over a fresh batch
    val batch = embs.filter(col("vec_id") % 7 === 3)
      .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
    def probeRows(p: String) = IvfIndex.semanticProbe(batch, p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted
    assert(probeRows(deleted).sameElements(probeRows(never)),
      "masked semanticProbe != probe over a store without the rows")
    assert(IvfIndex.members(spark, deleted)
      .filter(col("member_id") % 2 === 1 && col("member_id") % 5 === 0)
      .count() == 0)
    IvfIndex.compact(spark, deleted)
    assert(spark.read.parquet(IvfIndex.dataDir(spark, deleted))
      .filter(col("member_id") % 2 === 1 && col("member_id") % 5 === 0)
      .count() == 0, "deleted assignment rows survived compaction")
    assert(!new java.io.File(deleted, "_ivf_index_manifest_tombs")
      .exists(), "tombstones not cleared after the physical drop")
    assert(rows(deleted).sameElements(rows(never)),
      "search changed across compaction")
  }

  test("IvfPqIndex.delete: masked search == a store that never held " +
    "the deleted codes; compact drops + clears") {
    import graft.llmops.IvfPqIndex
    val even = embs.filter(col("vec_id") % 2 === 0)
    val odd = embs.filter(col("vec_id") % 2 === 1)
    val deleted = freshDir("ivfpq_del")
    IvfPqIndex.build(even, deleted, k = 4)
    IvfPqIndex.append(odd, deleted)
    IvfPqIndex.delete(
      odd.filter(col("vec_id") % 5 === 0).select(col("vec_id")), deleted)
    val never = freshDir("ivfpq_never")
    IvfPqIndex.build(even, never, k = 4)
    IvfPqIndex.append(odd.filter(col("vec_id") % 5 =!= 0), never)
    val q = embs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("eq"))
    def rows(p: String) = IvfPqIndex.search(q, p).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .sorted
    assert(rows(deleted).sameElements(rows(never)),
      "masked ADC search != search over a store without the rows")
    IvfPqIndex.compact(spark, deleted)
    assert(spark.read.parquet(IvfPqIndex.dataDir(spark, deleted))
      .filter(col("vec_id") % 2 === 1 && col("vec_id") % 5 === 0)
      .count() == 0, "deleted code rows survived compaction")
    assert(!new java.io.File(deleted, "_ivfpq_index_manifest_tombs")
      .exists())
    assert(rows(deleted).sameElements(rows(never)),
      "search changed across compaction")
  }

  test("GraphIndex.delete: lazy delete — never a result, still a " +
    "waypoint; compact preserves the mask; republish consumes it") {
    import graft.llmops.GraphIndex
    val path = freshDir("graph_del")
    GraphIndex.build(embs.filter(col("vec_id") % 2 === 0), path, k = 4)
    GraphIndex.append(embs.filter(col("vec_id") % 2 === 1), path)
    GraphIndex.delete(
      embs.filter(col("vec_id") % 10 === 0).select(col("vec_id")), path)
    val q = embs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("eq"))
    val res = GraphIndex.search(q, path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(res.forall(_._2 % 10 != 0),
      "a deleted member occupied a result rank")
    // routing preserved: every query still fills its top-8 (deleted
    // waypoints route, they just never rank)
    assert(res.groupBy(_._1).forall(_._2.length == 8),
      "lazy delete starved a query's top-k")
    // deleted members still ROUTE: their rows/edges remain in the store
    assert(spark.read.parquet(GraphIndex.dataDir(spark, path))
      .filter(col("kind") === "m" && col("member_id") % 10 === 0)
      .count() > 0)
    // compact rewrites files but intentionally keeps the tombstones
    GraphIndex.compact(spark, path)
    val res2 = GraphIndex.search(q, path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(res.sorted.sameElements(res2.sorted),
      "compaction changed the masked search")
    assert(new java.io.File(path, "_graph_index_manifest_tombs").exists(),
      "graph compact must NOT clear tombstones (no re-wiring happened)")
    // republish (the consolidate_deletes arm) rebuilds over survivors
    // and consumes the tombstones
    GraphIndex.republish(
      embs.filter(col("vec_id") % 10 =!= 0), path, k = 4)
    assert(!new java.io.File(path, "_graph_index_manifest_tombs").exists())
    assert(spark.read.parquet(GraphIndex.dataDir(spark, path))
      .filter(col("kind") === "m" && col("member_id") % 10 === 0)
      .count() == 0, "republish kept deleted member rows")
    val res3 = GraphIndex.search(q, path).collect()
    assert(res3.forall(_.getLong(1) % 10 != 0))
  }

  test("TextIndex.delete: masked search == rebuilt-without-deleted " +
    "(stats adjusted in lockstep); torn delete detected + repairable; " +
    "compact drops + clears") {
    import graft.llmops.TextIndex
    val terms = Seq("spark", "data", "join")
    val path = freshDir("text_del")
    TextIndex.build(docs, path)
    TextIndex.delete(
      docs.filter(col("doc_id") % 10 === 0).select(col("doc_id")), path)
    val rebuilt = freshDir("text_del_rb")
    TextIndex.build(docs.filter(col("doc_id") % 10 =!= 0), rebuilt)
    assert(TextIndex.stats(spark, path) == TextIndex.stats(spark, rebuilt),
      "deleted-store stats must equal a rebuild without the docs")
    def rows(p: String) = TextIndex.search(spark, p, terms).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows(path).sameElements(rows(rebuilt)),
      "masked BM25 search != rebuild-without-deleted")
    // torn delete: recreate the stats-never-adjusted state by
    // restoring the pre-delete sidecar content
    val statsFile = new java.io.File(path, "_text_index_stats")
    val live = new String(java.nio.file.Files.readAllBytes(
      statsFile.toPath), "UTF-8")
    val (rn, rd) = TextIndex.stats(spark, rebuilt)
    // direct tamper leaves Hadoop's checksum sibling stale — drop it
    val crc = new java.io.File(path, "._text_index_stats.crc")
    java.nio.file.Files.write(statsFile.toPath,
      s"n_docs=${rn + 50};sum_dl=$rd".getBytes("UTF-8"))
    if (crc.exists()) assert(crc.delete())
    val e = intercept[IllegalStateException] {
      TextIndex.stats(spark, path)
    }
    assert(e.getMessage.contains("repairStats"))
    // remediation recomputes from the masked postings and re-stamps
    TextIndex.repairStats(spark, path)
    assert(rows(path).sameElements(rows(rebuilt)),
      "repaired store must search like the rebuild again")
    java.nio.file.Files.write(statsFile.toPath, live.getBytes("UTF-8"))
    // compact drops the rows physically, stats numbers unchanged
    TextIndex.compact(spark, path)
    assert(spark.read.parquet(TextIndex.dataDir(spark, path))
      .filter(col("doc_id") % 10 === 0).count() == 0)
    assert(!new java.io.File(path, "_text_index_manifest_tombs").exists())
    assert(TextIndex.stats(spark, path) == TextIndex.stats(spark, rebuilt))
    assert(rows(path).sameElements(rows(rebuilt)),
      "search changed across compaction")
  }

  test("NgramIndex.delete: the LSM anti-record — negated partials == " +
    "rebuilt-without-deleted; compaction annihilates them physically") {
    import graft.llmops.NgramIndex
    val path = freshDir("ngram_del")
    NgramIndex.build(docs, path)
    val dead = docs.filter(col("doc_id") % 10 === 0)
    NgramIndex.delete(dead, path)
    val rebuilt = freshDir("ngram_del_rb")
    NgramIndex.build(docs.filter(col("doc_id") % 10 =!= 0), rebuilt)
    val probe = docs.filter(col("doc_id") % 7 === 3)
    def scores(p: String) = NgramIndex.score(probe, p).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(scores(path).sameElements(scores(rebuilt)),
      "anti-record model must score like a rebuild without the docs")
    // the merged model itself is row-identical (annihilated keys gone)
    val a = NgramIndex.lm(spark, path)
    val b = NgramIndex.lm(spark, rebuilt)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // compaction annihilates physically: no non-positive net rows
    // remain stored, and scoring is unchanged
    NgramIndex.compact(spark, path)
    val stored = spark.read.parquet(NgramIndex.dataDir(spark, path))
    assert(stored.filter(col("freq") <= 0).count() == 0,
      "compaction must annihilate anti-records, not store them")
    assert(scores(path).sameElements(scores(rebuilt)))
  }

  test("a torn FIRST delete is never adopted: a later delete sweeps " +
    "the orphaned tombs files instead of committing them") {
    import spark.implicits._
    val path = freshDir("dedup_del_orphan")
    val even = docs.filter(col("doc_id") % 2 === 0)
    DedupIndex.build(even, path)
    // simulate a first delete that crashed BEFORE its manifest publish:
    // real parquet tombstone rows exist, no tombstone manifest does
    val orphanIds = Seq(2L, 4L, 6L).toDF("id")
    orphanIds.write.mode("overwrite").parquet(s"$path/tombs-g0")
    assert(!new java.io.File(path, "_dedup_index_manifest_tombs")
      .exists())
    // the crashed delete never committed — reads stay unmasked
    assert(DedupIndex.signatures(spark, path)
      .filter(col("doc_id").isin(2L, 4L, 6L)).count() > 0)
    // a LATER delete of different ids must not resurrect the orphans
    DedupIndex.delete(even.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id")), path)
    val sigs = DedupIndex.signatures(spark, path)
    assert(sigs.filter(col("doc_id") % 10 === 0).count() == 0,
      "the committed delete must mask")
    assert(sigs.filter(col("doc_id").isin(2L, 4L, 6L) &&
        col("doc_id") % 10 =!= 0).count() > 0,
      "orphaned tombstone rows were adopted — a delete that never " +
        "committed became live")
  }

  test("tombstone store inherits the manifest crash contract: a torn " +
    "delete-append is detected, vacuumable, and never silently read") {
    val path = freshDir("dedup_del_torn")
    val even = docs.filter(col("doc_id") % 2 === 0)
    DedupIndex.build(even, path)
    DedupIndex.delete(
      even.filter(col("doc_id") % 10 === 0).select(col("doc_id")), path)
    // simulate a torn tombstone append: an uncommitted file appears in
    // the tombs generation after the manifest was published
    val tombsDir = new java.io.File(path, "tombs-g0")
    assert(tombsDir.isDirectory)
    val stray = new java.io.File(tombsDir, "part-stray.parquet")
    java.nio.file.Files.write(stray.toPath, Array[Byte](1, 2, 3))
    val e = intercept[IllegalStateException] {
      DedupIndex.probe(docs.filter(col("doc_id") % 2 === 1), path)
        .count()
    }
    assert(e.getMessage.contains("manifest verification"))
    // the index's own vacuum sweeps the tombstone store too
    val rep = DedupIndex.vacuum(spark, path)
    assert(rep.uncommittedRemoved == 1, rep.toString)
    assert(!stray.exists())
    assert(DedupIndex.probe(docs.filter(col("doc_id") % 2 === 1), path)
      .count() > 0)
  }

  // ---- round 13: lifecycle composition, consolidation, provenance ------

  test("IvfIndex: the FULL lifecycle (build -> append -> takedown -> " +
    "compact -> republish-from-store) ends row-identical to a fresh " +
    "build of the surviving corpus") {
    val path = freshDir("ivf_lifecycle")
    IvfIndex.build(embs.filter(col("vec_id") % 2 === 0), path, k = 4)
    IvfIndex.append(embs.filter(col("vec_id") % 2 === 1), path)
    IvfIndex.delete(
      embs.filter(col("vec_id") % 10 === 0).select(col("vec_id")), path)
    IvfIndex.compact(spark, path)
    // compaction consumed the tombstones PHYSICALLY (not just masked)
    assert(spark.read.parquet(IvfIndex.dataDir(spark, path))
      .filter(col("member_id") % 10 === 0).count() == 0,
      "compact left tombstoned rows in the store")
    // the republish corpus comes OFF THE COMPACTED STORE — the
    // composition under test (a compaction bug changes this corpus)
    val survivors = ops.SessionScratch.transientCheckpoint(
      IvfIndex.members(spark, path)
        .select(col("member_id").as("vec_id"), col("em").as("embedding")))
    IvfIndex.republish(survivors, path, k = 4)

    val fresh = freshDir("ivf_lifecycle_fresh")
    IvfIndex.build(embs.filter(col("vec_id") % 10 =!= 0), fresh, k = 4)
    // identical trained centroids
    assert(IvfIndex.centroids(spark, path)
      .map(c => c.cell -> c.centroid.toSeq) ==
      IvfIndex.centroids(spark, fresh)
        .map(c => c.cell -> c.centroid.toSeq),
      "lifecycle centroids must equal a fresh build of the survivors")
    // identical assignment rows
    def rows(p: String) = IvfIndex.members(spark, p)
      .select(col("member_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(path) == rows(fresh),
      "lifecycle assignment rows must equal a fresh build's")
    // identical search answers
    val q = embs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("eq"))
    def search(p: String) = IvfIndex.search(q, p).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(search(path).sameElements(search(fresh)))
    ops.SessionScratch.evictTransients()
  }

  test("GraphIndex: republish-from-store is consolidate_deletes — " +
    "deleted members stop ROUTING (not just ranking) and the end " +
    "state equals a fresh build of the survivors") {
    import graft.llmops.GraphIndex
    val path = freshDir("graph_consolidate")
    GraphIndex.build(embs.filter(col("vec_id") % 2 === 0), path, k = 4)
    GraphIndex.append(embs.filter(col("vec_id") % 2 === 1), path)
    GraphIndex.delete(
      embs.filter(col("vec_id") % 10 === 0).select(col("vec_id")), path)
    val q = embs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("eq"))
    def results(p: String) = GraphIndex.search(q, p).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSeq
    // the LAZY state (q216): deleted members keep routing — their
    // edges are still present in the store
    val lazyEdges = spark.read.parquet(GraphIndex.dataDir(spark, path))
      .filter(col("kind") === "e" &&
        (col("src") % 10 === 0 || col("dst") % 10 === 0)).count()
    assert(lazyEdges > 0, "fixture must route through deleted members")
    val maskedResults = results(path)
    assert(maskedResults.forall(_._2 % 10 != 0),
      "lazy delete must already mask results")

    // consolidation: survivors read OFF THE STORE (mask consumed)
    val survivors = ops.SessionScratch.transientCheckpoint(
      GraphIndex.members(spark, path)
        .select(col("member_id").as("vec_id"), col("em").as("embedding")))
    GraphIndex.republish(survivors, path, k = 4)
    val data = spark.read.parquet(GraphIndex.dataDir(spark, path))
    assert(data.filter(col("kind") === "m" && col("member_id") % 10 === 0)
      .count() == 0, "consolidation kept deleted member rows")
    assert(data.filter(col("kind") === "e" &&
      (col("src") % 10 === 0 || col("dst") % 10 === 0)).count() == 0,
      "consolidation kept edges through deleted members — still routing")
    assert(spark.read.parquet(s"$path/entries")
      .filter(col("cid") % 10 === 0).count() == 0,
      "consolidation kept a deleted entry point")
    // the crafted-difference witness: the post-consolidation walk is a
    // DIFFERENT computation from q216's masked walk (survivor-trained
    // centroids, survivor-only graph) — results must actually move
    val consolidated = results(path)
    assert(consolidated != maskedResults,
      "consolidation must change the walk, not just re-label it")

    // end state == fresh build of the survivors
    val fresh = freshDir("graph_consolidate_fresh")
    GraphIndex.build(embs.filter(col("vec_id") % 10 =!= 0), fresh, k = 4)
    def edgeSet(p: String) =
      spark.read.parquet(GraphIndex.dataDir(spark, p))
        .filter(col("kind") === "e").select(col("src"), col("dst"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edgeSet(path) == edgeSet(fresh),
      "consolidated edge set must equal a fresh build of the survivors")
    assert(consolidated == results(fresh),
      "consolidated search must equal a fresh build's")
    ops.SessionScratch.evictTransients()
  }

  test("trained stores record _train_stats provenance: n_train " +
    "measured at build, appends bump n_appended, republish resets, " +
    "and the FAISS 39k floor flags undertrained builds") {
    // the undertrained regime (SCALING.md round 12): 100 < 39*4 = 156
    val tiny = freshDir("ivf_undertrained")
    IvfIndex.build(embs.filter(col("vec_id") < 100), tiny, k = 4)
    val tinyTs = IvfIndex.fsck(spark, tiny).trainStats.get
    assert(tinyTs.nTrain == 100 && tinyTs.undertrained &&
      tinyTs.nAppended == 0 && tinyTs.kPolicy == "explicit")

    // the healthy regime (the even-half ingest every gate uses):
    // 250 >= 156 — the diagnostic is ABSENT at the gate fixtures
    val path = freshDir("ivf_provenance")
    IvfIndex.build(embs.filter(col("vec_id") % 2 === 0), path, k = 4)
    val t0 = IvfIndex.fsck(spark, path).trainStats.get
    assert(t0.nTrain == 250 && !t0.undertrained && t0.nAppended == 0)
    IvfIndex.append(embs.filter(col("vec_id") % 2 === 1), path)
    val t1 = IvfIndex.fsck(spark, path).trainStats.get
    assert(t1.nTrain == 250 && t1.nAppended == 250 && t1.drift == 0.5)
    IvfIndex.republish(embs, path, k = 4)
    val t2 = IvfIndex.fsck(spark, path).trainStats.get
    assert(t2.nTrain == 500 && t2.nAppended == 0 && t2.drift == 0.0)

    // the fit-level measurement and the floor rule themselves
    assert(KMeans.fitStats(spark, embs, k = 4, iters = 2)._2 == 500)
    assert(KMeans.minTrainPoints(4) == 156)
    assert(KMeans.undertrained(155, 4) && !KMeans.undertrained(156, 4))

    // StoreAudit surfaces the provenance: drift for trained stores,
    // NULL columns for untrained kinds (the dedup signature store)
    val dedupPath = freshDir("audit_drift_dedup")
    DedupIndex.build(docs.filter(col("doc_id") % 2 === 0), dedupPath)
    val audit = StoreAudit.audit(spark,
      Seq("ivf" -> path, "dedup" -> dedupPath)).collect()
    val ivfRow = audit.find(_.getAs[String]("kind") == "ivf").get
    assert(ivfRow.getAs[Long]("n_train") == 500 &&
      ivfRow.getAs[Double]("drift") == 0.0 &&
      !ivfRow.getAs[Boolean]("undertrained"))
    val dedupRow = audit.find(_.getAs[String]("kind") == "dedup").get
    assert(dedupRow.isNullAt(dedupRow.fieldIndex("n_train")) &&
      dedupRow.isNullAt(dedupRow.fieldIndex("drift")))
  }

  test("frozen TRANSFORMS record _train_stats: save records n_train, " +
    "noteApplied (the day-2 application) bumps the staleness metric " +
    "until the rule flips, and republish resets it") {
    import graft.llmops.{ClfModel, Curation, StoreRemediator}
    // --- BPE tokenizer model ---
    val bp = freshDir("bpe_prov")
    val train = docs.filter(col("doc_id") % 2 === 0).select(col("text"))
    BpeModel.save(spark, Bpe.trainOn(Bpe.wordFreqOf(train), Bpe.Rounds),
      bp, nTrain = 250)
    val b0 = BpeModel.fsck(spark, bp).trainStats.get
    assert(b0.nTrain == 250 && b0.nAppended == 0 && b0.k == 0 &&
      !b0.undertrained && b0.kPolicy == "n/a")
    assert(!StoreRemediator.needsRepublish(b0))
    // day-2 applications accumulate; the rule flips strictly past 25%
    // of the current membership: 83 appended on 250 trained is under
    // (3*83=249 <= 250), one more flips it
    BpeModel.noteApplied(spark, bp, 83)
    assert(!StoreRemediator.needsRepublish(
      BpeModel.fsck(spark, bp).trainStats.get))
    BpeModel.noteApplied(spark, bp, 1)
    val b1 = BpeModel.fsck(spark, bp).trainStats.get
    assert(b1.nAppended == 84 && StoreRemediator.needsRepublish(b1))
    // retrain + republish resets the provenance (and the artifact)
    val all = docs.select(col("text"))
    BpeModel.republish(spark,
      Bpe.trainOn(Bpe.wordFreqOf(all), Bpe.Rounds), bp, nTrain = 500)
    val b2 = BpeModel.fsck(spark, bp).trainStats.get
    assert(b2.nTrain == 500 && b2.nAppended == 0 &&
      !StoreRemediator.needsRepublish(b2))
    // --- classifier model (same contract) ---
    val cp = freshDir("clf_prov")
    val ctrain = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("text"))
    ClfModel.save(spark, Curation.trainClassifierOn(spark, ctrain).w,
      cp, nTrain = 250)
    ClfModel.noteApplied(spark, cp, 250)
    val c1 = ClfModel.fsck(spark, cp).trainStats.get
    assert(c1.nTrain == 250 && c1.nAppended == 250 &&
      StoreRemediator.needsRepublish(c1))
    ClfModel.republish(spark,
      Curation.trainClassifierOn(spark,
        docs.select(col("doc_id"), col("text"))).w, cp, nTrain = 500)
    val c2 = ClfModel.fsck(spark, cp).trainStats.get
    assert(c2.nTrain == 500 && c2.nAppended == 0 &&
      !StoreRemediator.needsRepublish(c2))
  }

  test("StoreRemediator: the decision rule acts — flagged stores are " +
    "republished to the fresh-build end state, unflagged stores stay " +
    "byte-untouched, non-self-contained kinds refuse") {
    import graft.llmops.StoreRemediator
    // rule boundary: exactly 25% appended is NOT enough (3a > t strict)
    def ts(t: Long, a: Long) = IndexMaintenance.TrainStats(
      t, 4, undertrained = false, a, "explicit")
    assert(!StoreRemediator.needsRepublish(ts(300, 100)))
    assert(StoreRemediator.needsRepublish(ts(299, 100)))

    val stale = freshDir("rm_stale")
    IvfIndex.build(embs.filter(col("vec_id") % 2 === 0), stale, k = 4)
    IvfIndex.append(embs.filter(col("vec_id") % 2 === 1), stale)
    val freshStore = freshDir("rm_fresh")
    IvfIndex.build(embs, freshStore, k = 4)
    val freshFilesBefore = dataFiles(IvfIndex.dataDir(spark, freshStore))

    val rows = StoreRemediator.sweepAndRemediate(spark, Seq(
        ("fresh", "ivf", freshStore), ("stale", "ivf", stale)))
      .collect()
      .map(r => r.getAs[String]("store") ->
        (r.getAs[String]("verdict"), r.getAs[Long]("acted"),
          r.getAs[Long]("n_train_after"),
          r.getAs[Long]("n_appended_after"))).toMap
    assert(rows("stale") == (("republish", 1L, 500L, 0L)))
    assert(rows("fresh") == (("ok", 0L, 500L, 0L)))
    // unflagged: data files byte-identical (name+length) — no rebuild
    assert(dataFiles(IvfIndex.dataDir(spark, freshStore)) ==
      freshFilesBefore, "remediation touched an unflagged store")
    // flagged: end state == a fresh full-corpus build
    val twin = freshDir("rm_twin")
    IvfIndex.build(embs, twin, k = 4)
    assert(IvfIndex.centroids(spark, stale)
      .map(c => c.cell -> c.centroid.toSeq) ==
      IvfIndex.centroids(spark, twin)
        .map(c => c.cell -> c.centroid.toSeq))
    // kinds outside the remediable set still refuse, don't skip
    val e = intercept[IllegalArgumentException] {
      StoreRemediator.sweepAndRemediate(spark,
        Seq(("txt", "bm25", stale)))
    }
    assert(e.getMessage.contains("unknown store kind"))
    ops.SessionScratch.evictTransients()
  }

  test("StoreRemediator on IVF-PQ: a flagged codes-only store with no " +
    "raw locator refuses descriptively; with the paired raw store " +
    "recorded it republishes BOTH trained halves to the fresh-build " +
    "end state") {
    import graft.llmops.{IvfPqIndex, StoreRemediator}
    // a flagged store (even build + odd append = 50% drift), no locator
    val pq = freshDir("rm_pq")
    IvfPqIndex.build(embs.filter(col("vec_id") % 2 === 0), pq, k = 4)
    IvfPqIndex.append(embs.filter(col("vec_id") % 2 === 1), pq)
    // the append's bump re-renders the v2 sidecar from the parsed
    // struct: the true cell count AND the separate floor shape must
    // round-trip (a drifted re-render would silently reset the floor)
    val bumped = IvfPqIndex.fsck(spark, pq).trainStats.get
    assert(bumped.k == 4 && bumped.floorShape == 16 &&
      bumped.nTrain == 250 && bumped.nAppended == 250)
    val e = intercept[IllegalStateException] {
      StoreRemediator.sweepAndRemediate(spark, Seq(("pq", "ivfpq", pq)))
    }
    assert(e.getMessage.contains("_ivfpq_raw_locator") &&
      e.getMessage.contains("codes-only"), e.getMessage)
    // record the raw pair (full membership) and sweep again: both
    // trained halves republish over the pair's member rows
    val raw = freshDir("rm_pq_raw")
    IvfIndex.build(embs, raw, k = 4)
    IvfPqIndex.recordRawSource(spark, pq, raw)
    val row = StoreRemediator.sweepAndRemediate(spark,
      Seq(("pq", "ivfpq", pq))).collect().head
    assert(row.getAs[String]("verdict") == "republish" &&
      row.getAs[Long]("acted") == 1L &&
      row.getAs[Long]("n_train_after") == 500 &&
      row.getAs[Long]("n_appended_after") == 0L)
    // end state == a caller-driven full-corpus republish twin: same
    // centroids AND same search answers (covers the codebook half)
    val twin = freshDir("rm_pq_twin")
    IvfPqIndex.build(embs, twin, k = 4)
    assert(IvfPqIndex.centroids(spark, pq)
      .map(c => c.cell -> c.centroid.toSeq) ==
      IvfPqIndex.centroids(spark, twin)
        .map(c => c.cell -> c.centroid.toSeq))
    val q = embs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("eq"))
    val got = IvfPqIndex.search(q, pq).collect().map(_.toSeq).toSeq
    val want = IvfPqIndex.search(q, twin).collect().map(_.toSeq).toSeq
    assert(got == want,
      "remediated IVF-PQ search must equal the fresh-build twin's")
    // an unflagged store never consults the locator (fresh pair store)
    val fresh = freshDir("rm_pq_fresh")
    IvfPqIndex.build(embs, fresh, k = 4)
    val row2 = StoreRemediator.sweepAndRemediate(spark,
      Seq(("fr", "ivfpq", fresh))).collect().head
    assert(row2.getAs[String]("verdict") == "ok" &&
      row2.getAs[Long]("acted") == 0L)
    ops.SessionScratch.evictTransients()
  }

  private def injectTorn(dataDir: String): Unit =
    IndexMaintenance.injectTornAppend(spark, dataDir)

  test("WarehouseMaintenance: a crash-damaged store aborts nothing — " +
    "vacuum-only repair is search-identical, and a torn+stale store " +
    "is repaired THEN remediated to the fresh-build end state") {
    import graft.llmops.{GraphIndex, WarehouseMaintenance}
    val q = embs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("eq"))
    // 1. a FRESH store takes damage: the sweep repairs it, does NOT
    //    republish (provenance reads (n, 0) -> ok), and post-repair
    //    search answers are byte-identical to pre-damage
    val freshStore = freshDir("wh_fresh")
    IvfIndex.build(embs, freshStore, k = 4)
    val res0 = IvfIndex.search(q, freshStore).collect().map(_.toSeq).toSeq
    injectTorn(IvfIndex.dataDir(spark, freshStore))
    assert(!IvfIndex.fsck(spark, freshStore).healthy)
    // every read path refuses the damaged store until repair
    val eTorn = intercept[IllegalStateException](
      IvfIndex.search(q, freshStore).count())
    assert(eTorn.getMessage.contains("torn append"), eTorn.getMessage)
    val g = freshDir("wh_g")
    GraphIndex.build(embs, g, k = 4)
    val rows = WarehouseMaintenance.sweep(spark, Seq(
        ("a_fresh_torn", "ivf", freshStore), ("b_graph", "graph", g)))
      .collect()
      .map(r => r.getAs[String]("store") ->
        (r.getAs[Int]("healthy_before"),
          r.getAs[Int]("uncommitted_removed"),
          r.getAs[String]("verdict"), r.getAs[Long]("acted"),
          r.getAs[Int]("healthy_after"))).toMap
    assert(rows("a_fresh_torn") == ((0, 1, "ok", 0L, 1)),
      s"damaged-but-fresh store must repair without a rebuild: $rows")
    assert(rows("b_graph") == ((1, 0, "ok", 0L, 1)))
    assert(IvfIndex.search(q, freshStore).collect().map(_.toSeq).toSeq
      == res0, "vacuum-only repair must be search-identical")
    // 2. a store BOTH torn and stale: one sweep repairs the damage and
    //    then acts on the staleness it can now decide — the end state
    //    equals a fresh build of the membership
    val st = freshDir("wh_stale")
    IvfIndex.build(embs.filter(col("vec_id") % 2 === 0), st, k = 4)
    IvfIndex.append(embs.filter(col("vec_id") % 2 === 1), st)
    injectTorn(IvfIndex.dataDir(spark, st))
    val row2 = WarehouseMaintenance.sweep(spark,
      Seq(("c_torn_stale", "ivf", st))).collect().head
    assert(row2.getAs[Int]("healthy_before") == 0 &&
      row2.getAs[Int]("uncommitted_removed") == 1 &&
      row2.getAs[String]("verdict") == "republish" &&
      row2.getAs[Long]("acted") == 1L &&
      row2.getAs[Long]("n_train_after") == 500L &&
      row2.getAs[Int]("healthy_after") == 1)
    val twin = freshDir("wh_twin")
    IvfIndex.build(embs, twin, k = 4)
    assert(IvfIndex.centroids(spark, st)
      .map(c => c.cell -> c.centroid.toSeq) ==
      IvfIndex.centroids(spark, twin)
        .map(c => c.cell -> c.centroid.toSeq))
    assert(IvfIndex.search(q, st).collect().map(_.toSeq).toSeq ==
      IvfIndex.search(q, twin).collect().map(_.toSeq).toSeq,
      "repaired+remediated store must answer like a fresh build")
    // 3. data LOSS is reported, never silently absorbed: the sweep
    //    completes with healthy_after=0 and no vacuum/republish
    val lost = freshDir("wh_lost")
    IvfIndex.build(embs, lost, k = 4)
    val dd = IvfIndex.dataDir(spark, lost)
    val victim = new java.io.File(dd).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")).head
    assert(victim.delete())
    val row3 = WarehouseMaintenance.sweep(spark,
      Seq(("d_lost", "ivf", lost))).collect().head
    assert(row3.getAs[Int]("healthy_before") == 0 &&
      row3.getAs[Int]("uncommitted_removed") == 0 &&
      row3.getAs[String]("verdict") == "damaged" &&
      row3.getAs[Long]("acted") == 0L &&
      row3.getAs[Int]("healthy_after") == 0,
      s"data loss must surface as verdict=damaged, healthy_after=0: " +
        s"$row3")
    // 4. an Actable kind with NO _train_stats (predates the sidecar):
    //    undecidable must not read as "nothing to do" (where the pure
    //    remediator throws, the composed sweep surfaces it per-row)
    val noProv = freshDir("wh_noprov")
    IvfIndex.build(embs, noProv, k = 4)
    assert(new java.io.File(noProv, "_train_stats").delete())
    val row4 = WarehouseMaintenance.sweep(spark,
      Seq(("e_noprov", "ivf", noProv))).collect().head
    assert(row4.getAs[String]("verdict") == "no-provenance" &&
      row4.getAs[Long]("acted") == 0L &&
      row4.getAs[Int]("healthy_after") == 1, s"$row4")
    // 5. a flagged frozen TRANSFORM is decidable but not auto-actable:
    //    decide-only republish verdict, artifact byte-untouched
    val bp = freshDir("wh_bpe")
    val train = docs.filter(col("doc_id") % 2 === 0).select(col("text"))
    BpeModel.save(spark, Bpe.trainOn(Bpe.wordFreqOf(train), Bpe.Rounds),
      bp, nTrain = 250)
    BpeModel.noteApplied(spark, bp, 250)
    val bpFiles = dataFiles(s"$bp/merges-g0")
    val row5 = WarehouseMaintenance.sweep(spark,
      Seq(("f_bpe", "bpe", bp))).collect().head
    assert(row5.getAs[String]("verdict") == "republish" &&
      row5.getAs[Long]("acted") == 0L &&
      row5.getAs[Long]("n_train_after") == 250L &&
      row5.getAs[Long]("n_appended_after") == 250L, s"$row5")
    assert(dataFiles(s"$bp/merges-g0") == bpFiles,
      "a decide-only verdict must leave the transform byte-untouched")
    ops.SessionScratch.evictTransients()
  }

  test("auto-k builds apply the occupancy-constant default " +
    "(k = kFor(n), policy recorded) without the caller choosing k") {
    import graft.llmops.{GraphIndex, IvfPqIndex}
    // the protocol: k = max(4, ceil(n / 256)) — k grows with n so cell
    // occupancy (and every occupancy-bounded cost) stays constant
    assert(IndexMaintenance.kFor(500) == 4)
    assert(IndexMaintenance.kFor(2048) == 8)
    assert(IndexMaintenance.kFor(256 * 16) == 16)
    assert(IndexMaintenance.kFor(8 * 256 * 16) == 128)
    val path = freshDir("ivf_auto_k")
    IvfIndex.build(embs, path) // n=500 -> k=4
    assert(IvfIndex.centroids(spark, path).size == 4)
    assert(IvfIndex.fsck(spark, path).trainStats.get.kPolicy == "occ256")
    // the graph and IVF-PQ builders share the default-k path
    val g = freshDir("graph_auto_k")
    GraphIndex.build(embs, g)
    assert(GraphIndex.fsck(spark, g).trainStats.get.kPolicy == "occ256")
    val pq = freshDir("ivfpq_auto_k")
    IvfPqIndex.build(embs, pq)
    val pqTs = IvfPqIndex.fsck(spark, pq).trainStats.get
    assert(pqTs.kPolicy == "occ256")
    // the sidecar's k is the TRUE cell count; the 39·x undertraining
    // floor gates on the LARGER trained half (the cb=16 codebook)
    // through floorK — recording max(k, cb) as k would hand a
    // consumer sizing a rebuild the wrong cell count
    assert(pqTs.k == 4 && pqTs.floorShape == 16)
    assert(pqTs.undertrained == (pqTs.nTrain < 39L * 16))
  }

  test("StoreRemediator preserves the k policy: a flagged auto-k " +
    "store republishes at k = kFor(membership) with its occupancy " +
    "policy intact; explicit stores keep the recorded k") {
    import graft.llmops.StoreRemediator
    // the pure shape rule
    val occ = IndexMaintenance.TrainStats(200, 4,
      undertrained = false, 1200, "occ256")
    assert(StoreRemediator.remediationShape(occ, 4, 1400L) ==
      ((6, "occ256")))
    assert(StoreRemediator.remediationShape(
      occ.copy(kPolicy = "explicit"), 4, 1400L) == ((4, "explicit")))

    // end-to-end: the 500-vector fixture cannot push kFor past the
    // floor of 4 (needs >1024 members), so the grown membership is
    // synthesized by replicating the fixture under distinct ids —
    // build auto-k on 200 (kFor=4), append 1300 more, membership 1500
    // -> kFor(1500) = 6
    val path = freshDir("rm_occ")
    IvfIndex.build(embs.filter(col("vec_id") < 200), path)
    def shifted(off: Long, pred: org.apache.spark.sql.Column) =
      embs.filter(pred).select((col("vec_id") + lit(off)).as("vec_id"),
        col("embedding"))
    IvfIndex.append(
      shifted(1000L, lit(true))
        .union(shifted(2000L, lit(true)))
        .union(shifted(3000L, col("vec_id") >= 200)), path)
    val row = StoreRemediator.sweepAndRemediate(spark,
      Seq(("occ", "ivf", path))).collect().head
    assert(row.getAs[String]("verdict") == "republish" &&
      row.getAs[Long]("n_train_after") == 1500)
    // the remediation re-sized k to the membership AND kept the policy
    // (centroids() verifies the stored table against the recorded
    // config k, so size==6 proves sidecar and store agree)
    assert(IvfIndex.centroids(spark, path).size == 6)
    val ts = IvfIndex.fsck(spark, path).trainStats.get
    assert(ts.kPolicy == "occ256" && ts.k == 6 &&
      ts.nTrain == 1500 && ts.nAppended == 0)
    ops.SessionScratch.evictTransients()
  }

  // ---- round 15: delete-aware provenance --------------------------------

  test("delete-aware provenance: deletes bump n_deleted exactly once " +
    "per live id, the rule thresholds on the live trained base, and " +
    "the compact fold is verdict-invariant") {
    import graft.llmops.StoreRemediator
    import IndexMaintenance.TrainStats
    // the rule's boundary, exact integers: 3a > t − d. At t=100, d=0
    // the flip is a=33→34 (the round-13 boundary, unchanged) ...
    assert(!StoreRemediator.needsRepublish(
      TrainStats(100, 4, false, 33, "explicit")))
    assert(StoreRemediator.needsRepublish(
      TrainStats(100, 4, false, 34, "explicit")))
    // ... and ONE delete moves it: the same 33 appends flag once the
    // live base drops to 99 (3·33 > 99 is false; d=2 → 98 flips)
    assert(!StoreRemediator.needsRepublish(
      TrainStats(100, 4, false, 33, "explicit", None, 1)))
    assert(StoreRemediator.needsRepublish(
      TrainStats(100, 4, false, 33, "explicit", None, 2)))
    // a fully-deleted base with no appends does not flag (nothing to
    // retrain toward — the clamp keeps the rule total)
    assert(!StoreRemediator.needsRepublish(
      TrainStats(100, 4, false, 0, "explicit", None, 200)))

    // a real store (the q230 ivf_takedown recipe): even build (250),
    // a small append wave (% 8 == 1 → 63), then half the training
    // rows deleted (% 4 == 0 → 125, all live members of the build)
    val path = freshDir("takedown")
    IvfIndex.build(embs.filter(col("vec_id") % 2 === 0), path, k = 4)
    IvfIndex.append(embs.filter(col("vec_id") % 8 === 1), path)
    val pre = IvfIndex.fsck(spark, path).trainStats.get
    assert(pre.nTrain == 250 && pre.nAppended == 63 && pre.nDeleted == 0)
    assert(!StoreRemediator.needsRepublish(pre),
      "fresh against the historical base (189 ≤ 250)")
    IvfIndex.delete(
      embs.filter(col("vec_id") % 4 === 0).select(col("vec_id")), path)
    val post = IvfIndex.fsck(spark, path).trainStats.get
    assert(post.nTrain == 250 && post.nAppended == 63 &&
      post.nDeleted == 125)
    assert(StoreRemediator.needsRepublish(post),
      "stale against the live base (189 > 125)")
    // re-deleting the same ids must NOT double-count (the anti-join
    // against the committed tombstones)
    IvfIndex.delete(
      embs.filter(col("vec_id") % 4 === 0).select(col("vec_id")), path)
    assert(IvfIndex.fsck(spark, path).trainStats.get.nDeleted == 125)
    // compaction physically drops the tombstoned rows and FOLDS the
    // count into the base: same live base, same verdict, zero pending
    IvfIndex.compact(spark, path)
    val folded = IvfIndex.fsck(spark, path).trainStats.get
    assert(folded.nTrain == 125 && folded.nDeleted == 0 &&
      folded.nAppended == 63)
    assert(StoreRemediator.needsRepublish(folded) ==
      StoreRemediator.needsRepublish(post),
      "the fold must never change the staleness verdict")
    // the remediation the flag demands consumes the whole ledger:
    // republish trains over the LIVE membership (250+63−125 = 188)
    val row = StoreRemediator.sweepAndRemediate(spark,
      Seq(("tk", "ivf", path))).collect().head
    assert(row.getAs[String]("verdict") == "republish" &&
      row.getAs[Long]("n_train_after") == 188 &&
      row.getAs[Long]("n_appended_after") == 0L)
    assert(IvfIndex.fsck(spark, path).trainStats.get.nDeleted == 0L)
    ops.SessionScratch.evictTransients()
  }

  // ---- round 15: frozen-transform remediation (train-source locator) ----

  test("transform remediation: a locator-less flagged BPE model " +
    "refuses in the pure remediator, QUEUES in the warehouse sweep, " +
    "and with a recorded train source retrains to the from-scratch " +
    "twin and re-reads ok") {
    import graft.llmops.{StoreRemediator, WarehouseMaintenance}
    val even = docs.filter(col("doc_id") % 2 === 0)
    val nEven = even.count()
    val nOdd = docs.filter(col("doc_id") % 2 === 1).count()
    val trained = Bpe.trainOn(Bpe.wordFreqOf(even.select(col("text"))),
      Bpe.Rounds)
    val path = freshDir("bpe_rem")
    BpeModel.save(spark, trained, path, nTrain = nEven)
    BpeModel.noteApplied(spark, path, nOdd)
    // pure remediator: the no-locator refusal mirrors ivfpq's
    val e = intercept[IllegalStateException] {
      StoreRemediator.sweepAndRemediate(spark, Seq(("b", "bpe", path)))
    }
    assert(e.getMessage.contains("_train_source_locator") &&
      e.getMessage.contains("recordTrainSource"), e.getMessage)
    // warehouse sweep: the same store QUEUES (republish/acted=0) with
    // its artifact and provenance byte-untouched — never an abort
    val q = WarehouseMaintenance.sweep(spark,
      Seq(("b", "bpe", path))).collect().head
    assert(q.getAs[String]("verdict") == "republish" &&
      q.getAs[Long]("acted") == 0L &&
      q.getAs[Long]("n_train_after") == nEven &&
      q.getAs[Int]("generation_after") == 0)
    assert(BpeModel.load(spark, path) == trained.merges,
      "queueing must leave the installed model untouched")
    // record the corpus locator → the sweep's bpe arm ACTS: retrain
    // over the located rows, atomic generation swap, fresh provenance
    BpeModel.recordTrainSource(spark, path,
      s"$sfDir/documents.parquet", "true")
    val a = WarehouseMaintenance.sweep(spark,
      Seq(("b", "bpe", path))).collect().head
    assert(a.getAs[String]("verdict") == "republish" &&
      a.getAs[Long]("acted") == 1L &&
      a.getAs[Long]("n_train_after") == nEven + nOdd &&
      a.getAs[Long]("n_appended_after") == 0L &&
      a.getAs[Int]("generation_after") == 1)
    // what it trained == a from-scratch full-corpus training
    val want = Bpe.trainOn(Bpe.wordFreqOf(docs.select(col("text"))),
      Bpe.Rounds).merges
    assert(BpeModel.load(spark, path) == want)
    // one-shot: the remediated store re-reads ok
    val after = WarehouseMaintenance.sweep(spark,
      Seq(("b", "bpe", path))).collect().head
    assert(after.getAs[String]("verdict") == "ok" &&
      after.getAs[Long]("acted") == 0L)
    // the locator predicate is a sidecar field — ';' must refuse at
    // record time, not corrupt the parse at act time
    val bad = intercept[IllegalArgumentException] {
      BpeModel.recordTrainSource(spark, path, "/x", "a = 1; drop x")
    }
    assert(bad.getMessage.contains("';'"))
    ops.SessionScratch.evictTransients()
  }

  test("transform remediation: the clf arm retrains a flagged " +
    "classifier over the located corpus to the from-scratch weight " +
    "table") {
    import graft.llmops.{ClfModel, Curation, StoreRemediator}
    val even = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("text"))
    val path = freshDir("clf_rem")
    ClfModel.save(spark, Curation.trainClassifierOn(spark, even).w,
      path, nTrain = even.count())
    ClfModel.noteApplied(spark, path,
      docs.filter(col("doc_id") % 2 === 1).count())
    ClfModel.recordTrainSource(spark, path,
      s"$sfDir/documents.parquet", "true")
    val row = StoreRemediator.sweepAndRemediate(spark,
      Seq(("c", "clf", path))).collect().head
    assert(row.getAs[String]("verdict") == "republish" &&
      row.getAs[Long]("acted") == 1L &&
      row.getAs[Long]("n_train_after") == 500 &&
      row.getAs[Long]("n_appended_after") == 0L)
    val got = ClfModel.load(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val want = Curation.trainClassifierOn(spark,
        docs.select(col("doc_id"), col("text"))).w.collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == want,
      "remediated weights must equal the from-scratch training")
    ops.SessionScratch.evictTransients()
  }

  test("warehouse sweep verdict: a sidecar-less TRAINED store reads " +
    "no-provenance (undecidable), never n/a — for transforms too") {
    import graft.llmops.{TextIndex, WarehouseMaintenance}
    val p = freshDir("noprov_bpe")
    BpeModel.save(spark,
      Bpe.trainOn(Bpe.wordFreqOf(docs.select(col("text"))), Bpe.Rounds),
      p, nTrain = 500)
    // strip the provenance sidecar — a model saved by pre-r14 code
    IndexMaintenance.retractSidecar(spark, p, "_train_stats")
    val bm = freshDir("noprov_bm")
    TextIndex.build(docs, bm)
    val rows = WarehouseMaintenance.sweep(spark, Seq(
        ("a_bpe", "bpe", p), ("b_bm25", "bm25", bm)))
      .collect()
      .map(r => r.getAs[String]("store") ->
        (r.getAs[String]("verdict"), r.getAs[Int]("healthy_after")))
      .toMap
    assert(rows("a_bpe") == ("no-provenance", 1),
      "undecidable staleness must never read as nothing-to-do")
    assert(rows("b_bm25") == ("n/a", 1),
      "untrained kinds keep n/a — no trained artifact, no staleness")
    ops.SessionScratch.evictTransients()
  }

  // ---- round 15: shared read-only marker + ivfpq pair cross-check -------

  test("_shared_readonly: every mutation path refuses AT the mutation " +
    "site naming the owners, before any byte changes; reads, fsck and " +
    "vacuum stay allowed") {
    val cases = StoreCase.all(spark, sfDir)
    graft.llmops.MaintainedStore.all.foreach { st =>
      val c = cases(st.kind)
      val path = freshDir(s"ro_${st.kind}")
      c.build(path)
      IndexMaintenance.markSharedReadonly(spark, path, "q180,q233")
      val before = dataFiles(st.dataDir(spark, path))
      val res = c.read(path)
      assert(res.nonEmpty, s"${st.kind}: reads must keep working on a " +
        "marked store")
      val mutations = Seq("build" -> c.build,
          "compact" -> ((p: String) => { st.compact(spark, p); () })) ++
        c.append.map("append" -> _) ++ c.delete.map("delete" -> _) ++
        c.republish.map("republish" -> _) ++
        c.provenanceBump.map("provenance bump" -> _)
      mutations.foreach { case (op, m) =>
        val e = intercept[IllegalStateException](m(path))
        assert(e.getMessage.contains("read-only") &&
          e.getMessage.contains("q180") &&
          e.getMessage.toLowerCase.contains("clone"),
          s"${st.kind} $op: ${e.getMessage}")
      }
      // the refusals were EARLY: no garbage entered the store, the
      // config is still live, and the answers are unchanged
      val fsck = st.fsck(spark, path)
      assert(fsck.healthy && fsck.uncommittedFiles == 0 &&
        fsck.staleGenerations == 0, s"${st.kind}: $fsck")
      assert(dataFiles(st.dataDir(spark, path)) == before, st.kind)
      assert(c.read(path) == res, st.kind)
      assert(st.vacuum(spark, path).uncommittedRemoved == 0,
        s"${st.kind}: vacuum (repair) stays allowed on a read-only store")
      ops.SessionScratch.evictTransients()
    }
  }

  test("ivfpq auto-remediation cross-checks the raw pair: a diverged " +
    "or foreign raw store refuses descriptively instead of silently " +
    "retraining over the wrong corpus") {
    import graft.llmops.{IvfPqIndex, StoreRemediator}
    val pq = freshDir("pair_pq")
    IvfPqIndex.build(embs.filter(col("vec_id") % 2 === 0), pq, k = 4)
    IvfPqIndex.append(embs.filter(col("vec_id") % 2 === 1), pq)
    // the pair DIVERGED: the raw store missed the odd append (holds
    // 250 members; the codes store's provenance says 500 live)
    val rawDiverged = freshDir("pair_raw_half")
    IvfIndex.build(embs.filter(col("vec_id") % 2 === 0), rawDiverged,
      k = 4)
    IvfPqIndex.recordRawSource(spark, pq, rawDiverged)
    val e = intercept[IllegalStateException] {
      StoreRemediator.sweepAndRemediate(spark, Seq(("pq", "ivfpq", pq)))
    }
    assert(e.getMessage.contains("diverged") &&
      e.getMessage.contains("250") && e.getMessage.contains("500"),
      e.getMessage)
    // the refusal left the codes store untouched and still flagged
    val ts = IvfPqIndex.fsck(spark, pq).trainStats.get
    assert(ts.nTrain == 250 && ts.nAppended == 250)
    // re-point at the true pair → the act proceeds to the fresh state
    val rawFull = freshDir("pair_raw_full")
    IvfIndex.build(embs, rawFull, k = 4)
    IvfPqIndex.recordRawSource(spark, pq, rawFull)
    val row = StoreRemediator.sweepAndRemediate(spark,
      Seq(("pq", "ivfpq", pq))).collect().head
    assert(row.getAs[Long]("acted") == 1L &&
      row.getAs[Long]("n_train_after") == 500)
    ops.SessionScratch.evictTransients()
  }

  test("ivfpq lockstep cross-check tolerates the provenance ledger's " +
    "blessed over-count: a foreign-id delete (n_deleted bumps, " +
    "membership unchanged) must not abort the act") {
    import graft.llmops.{IvfPqIndex, StoreRemediator}
    val pq = freshDir("pair_pq_tol")
    IvfPqIndex.build(embs.filter(col("vec_id") % 2 === 0), pq, k = 4)
    IvfPqIndex.append(embs.filter(col("vec_id") % 2 === 1), pq)
    val raw = freshDir("pair_raw_tol")
    IvfIndex.build(embs, raw, k = 4)
    IvfPqIndex.recordRawSource(spark, pq, raw)
    // TrainStats' documented approximation: deleting an id that never
    // was a member bumps n_deleted ("again early, never late") while
    // the live membership — and the lockstep raw pair — are unchanged.
    // The cross-check must read this as inside the tolerated interval
    // [n_train + n_appended − n_deleted, n_train + n_appended], not as
    // divergence (an exact-equality check here aborts the whole
    // warehouse sweep on an input the provenance design blesses).
    import spark.implicits._
    IvfPqIndex.delete(Seq(999999L).toDF("vec_id"), pq)
    val ts0 = IvfPqIndex.fsck(spark, pq).trainStats.get
    assert(ts0.nDeleted == 1 && ts0.nAppended == 250)
    val row = StoreRemediator.sweepAndRemediate(spark,
      Seq(("pq", "ivfpq", pq))).collect().head
    assert(row.getAs[Long]("acted") == 1L &&
      row.getAs[Long]("n_train_after") == 500,
      s"tolerated over-count must still act: $row")
    // the republish consumed the ledger: appends and deletes reset
    val ts = IvfPqIndex.fsck(spark, pq).trainStats.get
    assert(ts.nTrain == 500 && ts.nAppended == 0 && ts.nDeleted == 0)
    ops.SessionScratch.evictTransients()
  }

  test("warehouse sweep files an act-refusal as verdict=blocked and " +
    "keeps sweeping: one diverged pairing must not leave the rest of " +
    "the warehouse unswept") {
    import graft.llmops.{IvfPqIndex, StoreRemediator, WarehouseMaintenance}
    // flagged ivfpq whose recorded raw pair DIVERGED (missed the odd
    // append): canAutoAct passes (a locator exists), the act refuses
    val pq = freshDir("blk_pq")
    IvfPqIndex.build(embs.filter(col("vec_id") % 2 === 0), pq, k = 4)
    IvfPqIndex.append(embs.filter(col("vec_id") % 2 === 1), pq)
    val rawHalf = freshDir("blk_raw_half")
    IvfIndex.build(embs.filter(col("vec_id") % 2 === 0), rawHalf, k = 4)
    IvfPqIndex.recordRawSource(spark, pq, rawHalf)
    // a flagged, self-contained ivf store LISTED AFTER the broken one
    val ivf = freshDir("blk_ivf")
    IvfIndex.build(embs.filter(col("vec_id") % 2 === 0), ivf, k = 4)
    IvfIndex.append(embs.filter(col("vec_id") % 2 === 1), ivf)
    val rows = WarehouseMaintenance.sweep(spark, Seq(
        ("a_pq", "ivfpq", pq), ("b_ivf", "ivf", ivf)))
      .collect()
      .map(r => r.getAs[String]("store") ->
        (r.getAs[String]("verdict"), r.getAs[Long]("acted"),
          r.getAs[Long]("n_train_after")))
      .toMap
    assert(rows("a_pq") == (("blocked", 0L, 250L)),
      s"the refusal files as the store's row: ${rows("a_pq")}")
    assert(rows("b_ivf") == (("republish", 1L, 500L)),
      s"the sweep must continue past the blocked store: ${rows("b_ivf")}")
    // the blocked store is untouched and still flagged — the row is a
    // repair queue entry, not an absolution
    val ts = IvfPqIndex.fsck(spark, pq).trainStats.get
    assert(ts.nTrain == 250 && ts.nAppended == 250)
    assert(StoreRemediator.needsRepublish(ts))
    ops.SessionScratch.evictTransients()
  }
}
