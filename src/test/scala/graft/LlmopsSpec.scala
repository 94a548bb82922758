package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.llmops._
import graft.ops.Tables

class LlmopsSpec extends SparkTestBase {

  test("PortableHash.charHash matches its SQL formula (reference value)") {
    import spark.implicits._
    // independently computed: g("ab") with m(i)=(i*i*2654435761+i*97)%P
    val p = 1000000007L
    def m(i: Long) = (i * i * 2654435761L + i * 97L) % p
    val expected = (97L * m(1) + 98L * m(2)) % p
    val got = Seq("ab").toDF("s")
      .select(PortableHash.charHash(col("s")).as("h")).head().getLong(0)
    assert(got == expected)
  }

  test("PortableHash.charHash is deterministic and spreads values") {
    import spark.implicits._
    val words = Seq("spark", "spark", "sparl", "kraps", "", "a")
    val hs = words.toDF("s").select(PortableHash.charHash(col("s"))).collect()
      .map(r => if (r.isNullAt(0)) -1L else r.getLong(0))
    assert(hs(0) == hs(1))          // deterministic
    assert(hs(0) != hs(2))          // single-char change moves the hash
    assert(hs(0) != hs(3))          // positional: anagram differs
  }

  test("exactDot equals an independently computed decimal dot product") {
    import spark.implicits._
    val a = Array(0.5f, -0.25f, 0.125f)
    val b = Array(1.0f, 2.0f, 4.0f)
    val got = Seq((a, b)).toDF("a", "b")
      .select(PortableHash.exactDot(col("a"), col("b")).as("d"))
      .head().getDouble(0)
    assert(got == 0.5 - 0.5 + 0.5)
  }

  test("exact dedup output is a subset with distinct keys (property)") {
    val t = Tables(spark, sfDir)
    val out = Dedup.q40.run(spark, sfDir).collect()
    val inputIds = t.documents.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out.map(_.getLong(0)).forall(inputIds.contains)) // keep_id ⊆ input
    assert(out.map(_.getString(2)).distinct.length == out.length) // distinct md5
  }

  test("minhash LSH finds the planted near-duplicate pairs") {
    val pairs = Dedup.q41.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // full-signature matches (8/8 bands) must be true near-dups; at least
    // one planted pair exists in the fixture
    val strong = pairs.filter(_._3 >= 7)
    assert(strong.nonEmpty)
    val t = Tables(spark, sfDir)
    val texts = t.documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    strong.foreach { case (a, b, _) =>
      val ta = texts(a).split(" ").toSet
      val tb = texts(b).split(" ").toSet
      val j = ta.intersect(tb).size.toDouble / ta.union(tb).size
      assert(j > 0.5, s"pair ($a,$b) bands>=7 but token jaccard $j")
    }
  }

  test("filter partition property: filter(p) + filter(!p) = all (scalacheck)") {
    val t = Tables(spark, sfDir)
    val total = t.orders.count()
    val prop = Prop.forAll(Gen.choose(0.0, 500000.0)) { threshold =>
      val p = col("o_totalprice") > threshold
      t.orders.filter(p).count() + t.orders.filter(!p).count() == total
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(result.passed, result.status.toString)
  }

  test("Curation gate drops junk docs and dedup collapses clones") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "a perfectly reasonable document with many words inside"),
      (2L, "en", "a perfectly reasonable document with many words inside"),
      (3L, "en", "short doc"),                       // < 5 words -> gated
      (4L, "en", "!!!! ???? ,,,, .... yes no ok !!"), // punct-heavy -> gated
      (5L, "en", "another fine document that easily passes the filters"))
      .toDF("doc_id", "lang", "text")
    val out = Curation.curate(docs).collect()
    val byId = out.map(r => r.getLong(0) -> r.getLong(5)).toMap
    assert(byId.keySet == Set(1L, 5L))  // 2 deduped into 1; 3,4 gated out
    assert(byId(1L) == 2)               // n_copies records the clone
    assert(byId(5L) == 1)
  }

  test("KMeans: Lloyd iterations reduce cost, deterministic, full coverage") {
    import graft.llmops.KMeans
    val emb = graft.ops.Tables(spark, sfDir).embeddings
    val k = 8
    val c0 = KMeans.fit(spark, emb, k, iters = 0)   // seed only
    val c2 = KMeans.fit(spark, emb, k, iters = 2)
    // Lloyd never increases the within-cluster cost
    val cost0 = KMeans.cost(emb, c0)
    val cost2 = KMeans.cost(emb, c2)
    assert(cost2 <= cost0 + 1e-9, s"cost $cost0 -> $cost2")
    // every vector lands in exactly one valid cell
    val assigned = KMeans.assign(emb, c2)
    assert(assigned.count() == emb.count())
    val cells = assigned.select("cell").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(cells.subsetOf((0L until k.toLong).toSet))
    // same inputs -> identical centroids (partitioning-independent)
    val c2b = KMeans.fit(spark, emb.repartition(7), k, iters = 2)
    c2.zip(c2b).foreach { case (a, b) =>
      assert(a.cell == b.cell)
      assert(a.centroid.sameElements(b.centroid))
    }
    // seeds of differing length fail the fit, naming their lengths
    import spark.implicits._
    val ragged = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](
      KMeans.fit(spark, ragged, k = 2, iters = 1))
    assert(e.getMessage.contains("lengths 2, 3"), e.getMessage)
  }

  test("connected components: transitive chains collapse, singletons stay") {
    import spark.implicits._
    // chain 1-2-3 (edge 1-3 never emitted), pair 10-11, singleton 99
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 99L).toDF("id")
    val edges = Seq((2L, 1L), (2L, 3L), (11L, 10L)).toDF("u", "v")
    val out = graft.llmops.Components.connectedComponents(nodes, edges)
      .orderBy(col("id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(out.toSeq == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 99L -> 99L))
  }

  test("int8-quantized ANN recall vs the exact top-k") {
    val exact = graft.llmops.Similarity.q50.run(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
    val quant = graft.llmops.Similarity.q55.run(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
    assert(quant.keySet == exact.keySet)
    val recalls = exact.map { case (q, ex) =>
      (quant(q) & ex).size.toDouble / ex.size }
    val mean = recalls.sum / recalls.size
    info(f"mean recall@8 = $mean%.3f")
    // The fixture vectors are RANDOM unit vectors — all pairwise dots
    // cluster near 0, so exact top-8 ranks are decided by gaps
    // comparable to the int8 quantization step (worst case for any
    // quantized index; measured 0.725 here). Real embedding corpora
    // have clustered structure and far larger top-k gaps. Assert the
    // measured floor holds; the determinism claim is the q55 oracle.
    assert(mean >= 0.6, f"int8 recall degraded: $mean%.3f")
  }

  test("graph-ANN (kNN graph + 2-round beam) recall vs the exact top-k; " +
    "every result is a graph-reachable visited candidate") {
    val exact = graft.llmops.Similarity.q50.run(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
    val beam = graft.llmops.Similarity.q198.run(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
    assert(beam.keySet == exact.keySet)
    beam.values.foreach(s => assert(s.size == 8))
    val recalls = exact.map { case (q, ex) =>
      (beam(q) & ex).size.toDouble / ex.size }
    val mean = recalls.sum / recalls.size
    info(f"graph-ANN mean recall@8 = $mean%.3f")
    // Two fixed expansion rounds from 4 entry points visit <= ~40 of
    // 500 candidates (~8% of the corpus) — and random unit vectors
    // are the worst case for any graph walk (neighbor-of-neighbor
    // carries almost no signal when all dots cluster near 0). The
    // floor asserts the walk is informative vs the ~0.08 random-subset
    // baseline; the determinism claim is the q198 oracle.
    assert(mean >= 0.2, f"graph-ANN recall degraded: $mean%.3f")
  }

  test("filtered ANN (q201): every result satisfies the predicate, and " +
    "pre-filtering beats post-filtering a fixed top-k") {
    val labels = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("label"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = graft.llmops.Similarity.q201.run(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty)
    // the predicate holds on every emitted row
    assert(rows.forall { case (q, c) => labels(q) == labels(c) })
    // pre-filter recall: post-filtering the UNFILTERED top-8 (q180 on
    // the same store) keeps only its same-label rows — strictly less
    // useful than ranking among filtered candidates
    val post = graft.llmops.Similarity.q180.run(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (q, c) => labels(q) == labels(c) }
    val preCount = rows.groupBy(_._1).view.mapValues(_.size).toMap
    val postCount = post.groupBy(_._1).view.mapValues(_.size).toMap
      .withDefaultValue(0)
    assert(preCount.forall { case (q, n) => n >= postCount(q) },
      "pre-filtered search returned fewer predicate rows than " +
        "post-filtering the unfiltered top-8")
    assert(preCount.values.sum > postCount.values.sum,
      "pre-filtering showed no advantage on the fixture")
  }

  test("cross-store refine (q202) lifts recall over ADC-only (q194)") {
    val exact = graft.llmops.Similarity.q50.run(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
    def recallOf(q: graft.ops.EngineQuery): Double = {
      val m = q.run(spark, sfDir)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._1).map { case (k, ps) => k -> ps.map(_._2).toSet }
      val rs = exact.map { case (k, ex) => (m(k) & ex).size.toDouble / ex.size }
      rs.sum / rs.size
    }
    val adc = recallOf(graft.llmops.Similarity.q194)
    val refined = recallOf(graft.llmops.Similarity.q202)
    info(f"ADC-only recall@8 = $adc%.3f, refined = $refined%.3f")
    // the refine rescores a 32-deep shortlist with exact dots — it can
    // only reorder candidates the ADC stage surfaced, so the lift is
    // bounded by shortlist quality; assert it never hurts and clears
    // the measured floor
    assert(refined >= adc, f"refine reduced recall: $refined%.3f < $adc%.3f")
    assert(refined >= 0.4, f"refined recall below floor: $refined%.3f")
  }

  test("Multimodal decode plumbing: partition-local batch produces typed features") {
    def shape(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => (f.name, f.dataType)).toSeq
    val assets = Multimodal.assets(spark, sfDir)
    assert(shape(assets.schema) == shape(Multimodal.assetSchema))
    val feats = Multimodal.decodeFeatures(assets)
    assert(shape(feats.schema) == shape(Multimodal.featureSchema))
    val rows = feats.orderBy(col("asset_id")).limit(5).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getInt(1) >= 16 && r.getInt(1) < 80)   // width in stub range
      assert(r.getSeq[Float](4).length == 4)          // fixed feature shape
    }
    // deterministic stub: same payload -> same features
    val again = Multimodal.decodeFeatures(assets)
      .orderBy(col("asset_id")).limit(5).collect()
    assert(rows.map(_.toString) sameElements again.map(_.toString))
  }

  test("Multimodal decode seam: REAL pixel decoder (P6 PPM) end-to-end") {
    // Build genuine P6 PPM images (text header + raw RGB raster — the
    // one real image format that needs no codec library), push them
    // through the SAME decodeFeatures mapPartitions path the stub
    // uses, and check header-true dimensions + analytically-known
    // channel means. This proves the production swap-point executes
    // real pixel data, not just that the plumbing type-checks.
    def ppm(w: Int, h: Int, maxval: Int,
        px: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
      val header =
        s"P6\n# generated in-test\n$w $h\n$maxval\n".getBytes("US-ASCII")
      val raster = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w) {
        val (r, g, b) = px(x, y)
        val i = (y * w + x) * 3
        raster(i) = r.toByte; raster(i + 1) = g.toByte
        raster(i + 2) = b.toByte
      }
      header ++ raster
    }
    val images = Seq(
      // constant color: means are exact by construction
      (1L, 8, 5, 255, (_: Int, _: Int) => (255, 0, 128)),
      // gradient + non-trivial dims; maxval < 255 exercises scaling
      (2L, 17, 3, 200, (x: Int, y: Int) => ((x * 7 + y) % 201, (x + 3 * y) % 201, 199 - x % 200)),
      (3L, 1, 1, 255, (_: Int, _: Int) => (10, 20, 30)))
    val rows = images.map { case (id, w, h, mx, px) =>
      val bytes = ppm(w, h, mx, px)
      org.apache.spark.sql.Row(id, "image/x-portable-pixmap",
        bytes, bytes.length.toLong, "n/a")
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), Multimodal.assetSchema)
    val out = Multimodal.decodeFeatures(df, Multimodal.PpmDecoder)
      .orderBy(col("asset_id")).collect()
    assert(out.length == 3)
    images.zip(out).foreach { case ((id, w, h, mx, px), r) =>
      assert(r.getLong(0) == id)
      assert(r.getInt(1) == w, s"width of image $id")
      assert(r.getInt(2) == h, s"height of image $id")
      assert(r.getInt(3) == 1)
      val feat = r.getSeq[Float](4)
      assert(feat.length == 4)
      // expected channel means from the same pixel function
      val pix = for (y <- 0 until h; x <- 0 until w) yield px(x, y)
      def mean(c: ((Int, Int, Int)) => Int): Double =
        pix.map(c).sum.toDouble / (w.toDouble * h * mx)
      val (er, eg, eb) = (mean(_._1), mean(_._2), mean(_._3))
      assert(math.abs(feat(0) - er) < 1e-6, s"mean R of image $id")
      assert(math.abs(feat(1) - eg) < 1e-6, s"mean G of image $id")
      assert(math.abs(feat(2) - eb) < 1e-6, s"mean B of image $id")
      val luma = 0.299 * er + 0.587 * eg + 0.114 * eb
      assert(math.abs(feat(3) - luma) < 1e-6, s"luma of image $id")
    }
    // malformed payloads fail loudly, not silently
    intercept[Exception] {
      Multimodal.PpmDecoder.decode("P5\n2 2\n255\n".getBytes ++
        Array.fill[Byte](12)(0))
    }
    intercept[Exception] { // truncated raster
      Multimodal.PpmDecoder.decode("P6\n4 4\n255\n".getBytes ++
        Array.fill[Byte](10)(0))
    }
  }

  test("Multimodal decode seam: multi-frame PV container decoder " +
    "end-to-end") {
    // build genuine PV containers (frame directory + concatenated P6
    // PPMs) and drive them through the SAME decodeFeatures seam with
    // PpmFramesDecoder: n_frames must come from the DIRECTORY parse,
    // geometry from the per-frame headers, features from exact
    // cross-frame channel sums
    def ppm(w: Int, h: Int,
        px: (Int, Int, Int) => (Int, Int, Int), f: Int): Array[Byte] = {
      val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
      val raster = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w) {
        val (r, g, b) = px(x, y, f)
        val i = (y * w + x) * 3
        raster(i) = r.toByte; raster(i + 1) = g.toByte
        raster(i + 2) = b.toByte
      }
      header ++ raster
    }
    def container(w: Int, h: Int, nf: Int,
        px: (Int, Int, Int) => (Int, Int, Int)): Array[Byte] = {
      val frames = (0 until nf).map(f => ppm(w, h, px, f))
      val dir = (s"PV\n$nf\n" + frames.map(_.length).mkString(" ") + "\n")
        .getBytes("US-ASCII")
      dir ++ frames.reduce(_ ++ _)
    }
    val px = (x: Int, y: Int, f: Int) =>
      ((x * 11 + f) % 256, (y * 13 + 2 * f) % 256, (x + y + 3 * f) % 256)
    val clips = Seq((1L, 4, 3, 1), (2L, 5, 2, 3), (3L, 2, 2, 2))
    val rows = clips.map { case (id, w, h, nf) =>
      val bytes = container(w, h, nf, px)
      org.apache.spark.sql.Row(id, "video/x-pv", bytes,
        bytes.length.toLong, "n/a")
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), Multimodal.assetSchema)
    val out = Multimodal.decodeFeatures(df, Multimodal.PpmFramesDecoder)
      .orderBy(col("asset_id")).collect()
    assert(out.length == 3)
    clips.zip(out).foreach { case ((id, w, h, nf), r) =>
      assert(r.getLong(0) == id && r.getInt(1) == w && r.getInt(2) == h)
      assert(r.getInt(3) == nf, s"n_frames of clip $id")
      val feat = r.getSeq[Float](4)
      val pix = for (f <- 0 until nf; y <- 0 until h; x <- 0 until w)
        yield px(x, y, f)
      def mean(c: ((Int, Int, Int)) => Int): Double =
        pix.map(c).sum.toDouble / (w.toDouble * h * nf * 255)
      assert(math.abs(feat(0) - mean(_._1)) < 1e-6, s"mean R of clip $id")
      assert(math.abs(feat(1) - mean(_._2)) < 1e-6, s"mean G of clip $id")
      assert(math.abs(feat(2) - mean(_._3)) < 1e-6, s"mean B of clip $id")
    }
    // a lying directory (frame length short by one) must fail loudly
    intercept[Exception] {
      val frames = (0 until 2).map(f => ppm(3, 2, px, f))
      val dir = (s"PV\n2\n${frames.head.length - 1} " +
        s"${frames(1).length}\n").getBytes("US-ASCII")
      Multimodal.PpmFramesDecoder.decode(dir ++ frames.reduce(_ ++ _))
    }
    // frames disagreeing on geometry must fail loudly
    intercept[Exception] {
      val f1 = ppm(3, 2, px, 0); val f2 = ppm(2, 2, px, 1)
      val dir = (s"PV\n2\n${f1.length} ${f2.length}\n")
        .getBytes("US-ASCII")
      Multimodal.PpmFramesDecoder.decode(dir ++ f1 ++ f2)
    }
  }

  test("Multimodal transform seam: REAL 2x box downscale re-emits a " +
    "decodable PPM with block floor-averages") {
    def ppm(w: Int, h: Int, px: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
      val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
      val raster = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w) {
        val (r, g, b) = px(x, y)
        val i = (y * w + x) * 3
        raster(i) = r.toByte; raster(i + 1) = g.toByte
        raster(i + 2) = b.toByte
      }
      header ++ raster
    }
    // known-answer check: a 4x2 image whose 2x2 blocks have hand-
    // computable floor-averages
    val src = ppm(4, 2, (x, y) => (x * 10 + y, 100 + x, 200 + y))
    val out = Multimodal.PpmBoxHalver.transform(src)
    val (w, h, nf, feat) = Multimodal.PpmDecoder.decode(out)
    assert(w == 2 && h == 1 && nf == 1)
    // block(0): R pixels {0,10,1,11} -> floor(22/4)=5; block(1):
    // {20,30,21,31} -> 25. G = 100+x: {100,101}x2 -> 100 | {102,103}x2
    // -> floor(410/4)=102
    val raster = out.drop(out.length - 2 * 1 * 3)
    assert((raster(0) & 0xff) == 5 && (raster(3) & 0xff) == 25)
    assert((raster(1) & 0xff) == 100 && (raster(4) & 0xff) == 102)
    assert(math.abs(feat(0) - (5 + 25) / (2.0 * 255)) < 1e-6)
    // odd dimensions refuse loudly (no silent crop)
    intercept[Exception] {
      Multimodal.PpmBoxHalver.transform(ppm(3, 2, (_, _) => (0, 0, 0)))
    }
    // the seam composes: transform -> decode over a DataFrame
    val rows = Seq(org.apache.spark.sql.Row(7L, "image/x-portable-pixmap",
      src, src.length.toLong, "n/a"))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), Multimodal.assetSchema)
    val got = Multimodal.decodeFeatures(
      Multimodal.transformPayloads(df, Multimodal.PpmBoxHalver),
      Multimodal.PpmDecoder).collect()
    assert(got.length == 1 && got(0).getInt(1) == 2 && got(0).getInt(2) == 1)
  }

  test("Multimodal decode seam: RIFF/WAV PCM decoder — generic chunk " +
    "walk, header cross-checks, signed sample scan") {
    import java.io.ByteArrayOutputStream
    def le16(o: ByteArrayOutputStream, v: Int): Unit = {
      o.write(v & 0xff); o.write((v >> 8) & 0xff) }
    def le32(o: ByteArrayOutputStream, v: Int): Unit = {
      o.write(v & 0xff); o.write((v >> 8) & 0xff)
      o.write((v >> 16) & 0xff); o.write((v >> 24) & 0xff) }
    def chunk(o: ByteArrayOutputStream, id: String,
        body: Array[Byte]): Unit = {
      o.write(id.getBytes("US-ASCII")); le32(o, body.length)
      o.write(body)
      if (body.length % 2 == 1) o.write(0) // RIFF word alignment
    }
    /** Assemble a PCM s16le WAV; junk chunks around `data` prove the
      * walk is generic, and an ODD-length junk chunk proves padding. */
    def wav(nch: Int, sr: Int, samples: Array[Int],
        riffSizeDelta: Int = 0, fmtCode: Int = 1,
        byteRateDelta: Int = 0, dataLenDelta: Int = 0): Array[Byte] = {
      val fmt = new ByteArrayOutputStream()
      le16(fmt, fmtCode); le16(fmt, nch); le32(fmt, sr)
      le32(fmt, sr * nch * 2 + byteRateDelta); le16(fmt, nch * 2)
      le16(fmt, 16)
      val data = new ByteArrayOutputStream()
      samples.foreach(le16(data, _))
      val body = new ByteArrayOutputStream()
      body.write("WAVE".getBytes("US-ASCII"))
      chunk(body, "LIST", Array.fill[Byte](7)(42)) // odd-length junk
      chunk(body, "fmt ", fmt.toByteArray)
      chunk(body, "fact", Array.fill[Byte](4)(0)) // junk after fmt too
      val d = data.toByteArray
      body.write("data".getBytes("US-ASCII"))
      le32(body, d.length + dataLenDelta); body.write(d)
      val out = new ByteArrayOutputStream()
      out.write("RIFF".getBytes("US-ASCII"))
      le32(out, body.size() + riffSizeDelta); out.write(body.toByteArray)
      out.toByteArray
    }
    // stereo with negative samples: sign extension + channel striding
    val samples = Array(1000, -1000, 32767, -32768, 0, 500) // 3 frames
    val (nch, sr, ns, feat) =
      Multimodal.WavDecoder.decode(wav(2, 16000, samples))
    assert(nch == 2 && sr == 16000 && ns == 3)
    val ch0 = Seq(1000, 32767, 0); val ch1 = Seq(-1000, -32768, 500)
    assert(math.abs(feat(0) - ch0.sum / (3.0 * 32768)) < 1e-6, "ch0 mean")
    assert(math.abs(feat(1) - ch1.sum / (3.0 * 32768)) < 1e-6, "chN mean")
    assert(math.abs(feat(2) - samples.sum / (6.0 * 32768)) < 1e-6)
    assert(math.abs(feat(3) -
      samples.map(math.abs).sum / (6.0 * 32768)) < 1e-6, "abs amplitude")
    // mono: first and last channel are the SAME channel
    val m = Multimodal.WavDecoder.decode(wav(1, 8000, Array(100, -100)))
    assert(m._1 == 1 && m._3 == 2 && m._4(0) == m._4(1))
    // malformed payloads refuse loudly with the specific cross-check
    def refuses(b: Array[Byte], why: String): Unit = {
      val e = intercept[IllegalArgumentException](
        Multimodal.WavDecoder.decode(b))
      assert(e.getMessage.toLowerCase.contains(why),
        s"expected '$why' in: ${e.getMessage}")
    }
    refuses(wav(2, 16000, samples, riffSizeDelta = 4), "riff size")
    refuses(wav(2, 16000, samples, fmtCode = 3), "only pcm")
    refuses(wav(2, 16000, samples, byteRateDelta = 2), "byte_rate")
    refuses(wav(2, 16000, samples, dataLenDelta = 2), "overruns")
    refuses(wav(2, 16000, samples.take(5)), "not a multiple")
    // the seam composes: WAV bytes through decodeFeatures
    val bytes = wav(2, 16000, samples)
    val rows = Seq(org.apache.spark.sql.Row(9L, "audio/wav",
      bytes, bytes.length.toLong, "n/a"))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), Multimodal.assetSchema)
    val got = Multimodal.decodeFeatures(df, Multimodal.WavDecoder)
      .collect()
    assert(got.length == 1 && got(0).getInt(1) == 2 &&
      got(0).getInt(2) == 16000 && got(0).getInt(3) == 3)
  }

  test("Multimodal transform seam: WAV 2x resampler — floor-averaged " +
    "frame pairs, halved re-emitted header, decodable output") {
    import java.io.ByteArrayOutputStream
    def le16(o: ByteArrayOutputStream, v: Int): Unit = {
      o.write(v & 0xff); o.write((v >> 8) & 0xff) }
    def le32(o: ByteArrayOutputStream, v: Int): Unit = {
      le16(o, v & 0xffff); le16(o, (v >> 16) & 0xffff) }
    /** Canonical PCM s16le WAV (the generic chunk walk is proven by the
      * decoder test; the halver shares the same parser). */
    def wav(nch: Int, sr: Int, samples: Array[Int]): Array[Byte] = {
      val o = new ByteArrayOutputStream()
      o.write("RIFF".getBytes("US-ASCII"))
      le32(o, 36 + samples.length * 2)
      o.write("WAVEfmt ".getBytes("US-ASCII")); le32(o, 16)
      le16(o, 1); le16(o, nch); le32(o, sr); le32(o, sr * nch * 2)
      le16(o, nch * 2); le16(o, 16)
      o.write("data".getBytes("US-ASCII")); le32(o, samples.length * 2)
      samples.foreach(le16(o, _))
      o.toByteArray
    }
    // stereo, 4 frames: ch0 pairs (-3,-4) and (7,8) prove FLOOR
    // averaging (truncation would give -3, floor gives -4); ch1 pairs
    // prove channel striding
    val in = Array(-3, 100, -4, 200, 7, -101, 8, -100) // f0..f3, (ch0,ch1)
    val halved = Multimodal.WavHalver.transform(wav(2, 16000, in))
    val (nch, sr, ns, feat) = Multimodal.WavDecoder.decode(halved)
    assert(nch == 2 && sr == 8000 && ns == 2,
      "re-emitted header must carry halved rate and frame count")
    // expected output frames: ch0 = [floor(-7/2), floor(15/2)] = [-4, 7]
    //                         ch1 = [150, floor(-201/2)] = [150, -101]
    assert(math.abs(feat(0) - (-4 + 7) / (2.0 * 32768)) < 1e-7, "ch0")
    assert(math.abs(feat(1) - (150 - 101) / (2.0 * 32768)) < 1e-7, "ch1")
    assert(math.abs(feat(3) -
      (4 + 7 + 150 + 101) / (4.0 * 32768)) < 1e-7, "abs amplitude")
    // refusals: geometry the halver cannot halve
    val e1 = intercept[IllegalArgumentException](
      Multimodal.WavHalver.transform(wav(1, 8000, Array(1, 2, 3))))
    assert(e1.getMessage.contains("even sample count"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      Multimodal.WavHalver.transform(wav(1, 8001, Array(1, 2))))
    assert(e2.getMessage.contains("even sample rate"), e2.getMessage)
    // the seam composes: transformPayloads → decodeFeatures
    val bytes = wav(2, 16000, in)
    val rows = Seq(org.apache.spark.sql.Row(11L, "audio/wav",
      bytes, bytes.length.toLong, "n/a"))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), Multimodal.assetSchema)
    val got = Multimodal.decodeFeatures(
      Multimodal.transformPayloads(df, Multimodal.WavHalver),
      Multimodal.WavDecoder).collect()
    assert(got.length == 1 && got(0).getInt(1) == 2 &&
      got(0).getInt(2) == 8000 && got(0).getInt(3) == 2)
  }

  test("codec roundtrip property (scalacheck): assemble -> halve -> " +
    "decode agrees with a direct reference on random WAV geometry") {
    import java.io.ByteArrayOutputStream
    def le16(o: ByteArrayOutputStream, v: Int): Unit = {
      o.write(v & 0xff); o.write((v >> 8) & 0xff) }
    def le32(o: ByteArrayOutputStream, v: Int): Unit = {
      le16(o, v & 0xffff); le16(o, (v >> 16) & 0xffff) }
    def wav(nch: Int, sr: Int, samples: Array[Int]): Array[Byte] = {
      val o = new ByteArrayOutputStream()
      o.write("RIFF".getBytes("US-ASCII")); le32(o, 36 + samples.length * 2)
      o.write("WAVEfmt ".getBytes("US-ASCII")); le32(o, 16)
      le16(o, 1); le16(o, nch); le32(o, sr); le32(o, sr * nch * 2)
      le16(o, nch * 2); le16(o, 16)
      o.write("data".getBytes("US-ASCII")); le32(o, samples.length * 2)
      samples.foreach(le16(o, _))
      o.toByteArray
    }
    val gen = for {
      nch <- Gen.choose(1, 4)
      ns2 <- Gen.choose(1, 32) // frames AFTER halving; input has 2x
      sr <- Gen.choose(4000, 24000).map(_ * 2)
      samples <- Gen.listOfN(2 * ns2 * nch, Gen.choose(-32768, 32767))
    } yield (nch, sr, ns2, samples.toArray)
    val prop = Prop.forAll(gen) { case (nch, sr, ns2, samples) =>
      // reference: halved frame (t, c) = floor-average of input frames
      // 2t and 2t+1 on channel c
      val halved = Array.tabulate(ns2, nch) { (t, c) =>
        Math.floorDiv(samples((2 * t) * nch + c) +
          samples((2 * t + 1) * nch + c), 2)
      }.flatten
      val (n, s, f, feat) =
        Multimodal.WavDecoder.decode(
          Multimodal.WavHalver.transform(wav(nch, sr, samples)))
      val ch0 = halved.zipWithIndex.collect {
        case (v, i) if i % nch == 0 => v.toLong }.sum
      val chN = halved.zipWithIndex.collect {
        case (v, i) if i % nch == nch - 1 => v.toLong }.sum
      val all = halved.map(_.toLong).sum
      val ab = halved.map(v => math.abs(v.toLong)).sum
      val perCh = ns2 * 32768.0
      val na = ns2.toDouble * nch * 32768.0
      n == nch && s == sr / 2 && f == ns2 &&
        feat(0) == (ch0 / perCh).toFloat &&
        feat(1) == (chN / perCh).toFloat &&
        feat(2) == (all / na).toFloat &&
        feat(3) == (ab / na).toFloat
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(100), prop)
    assert(result.passed, result.status.toString)
  }

  test("codec roundtrip property (scalacheck): PPM box halver agrees " +
    "with per-block floor-average reference on random geometry") {
    def ppm(w: Int, h: Int, raster: Array[Int]): Array[Byte] = {
      val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
      header ++ raster.map(_.toByte)
    }
    val gen = for {
      w2 <- Gen.choose(1, 8)
      h2 <- Gen.choose(1, 8)
      raster <- Gen.listOfN(4 * w2 * h2 * 3, Gen.choose(0, 255))
    } yield (2 * w2, 2 * h2, raster.toArray)
    val prop = Prop.forAll(gen) { case (w, h, raster) =>
      val (gw, gh, gf, feat) = Multimodal.PpmDecoder.decode(
        Multimodal.PpmBoxHalver.transform(ppm(w, h, raster)))
      val w2 = w / 2; val h2 = h / 2
      var r = 0L; var g = 0L; var b = 0L
      for (by <- 0 until h2; bx <- 0 until w2; c <- 0 until 3) {
        val v = (raster(((2 * by) * w + 2 * bx) * 3 + c) +
          raster(((2 * by) * w + 2 * bx + 1) * 3 + c) +
          raster(((2 * by + 1) * w + 2 * bx) * 3 + c) +
          raster(((2 * by + 1) * w + 2 * bx + 1) * 3 + c)) / 4
        if (c == 0) r += v else if (c == 1) g += v else b += v
      }
      val n = (w2.toDouble * h2) * 255
      gw == w2 && gh == h2 && gf == 1 &&
        feat(0) == (r / n).toFloat &&
        feat(1) == (g / n).toFloat &&
        feat(2) == (b / n).toFloat &&
        feat(3) == (0.299 * r / n + 0.587 * g / n + 0.114 * b / n).toFloat
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(100), prop)
    assert(result.passed, result.status.toString)
  }

  test("q59 percentile prune: per-source thresholds bind independently") {
    val out = graft.llmops.Curation.q59.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getDouble(3)))
    assert(out.nonEmpty)
    // every kept doc beats ITS OWN source's threshold
    out.foreach { case (id, _, n, th) =>
      assert(n >= th, s"doc $id kept below threshold") }
    // each source keeps ~70% (>= because ties at the threshold stay)
    val t = graft.ops.Tables(spark, sfDir)
    val total = t.documents.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = out.groupBy(_._2).view.mapValues(_.length).toMap
    kept.foreach { case (src, k) =>
      val frac = k.toDouble / total(src)
      assert(frac >= 0.65 && frac < 1.0,
        s"source $src kept ${k}/${total(src)} — prune must bind but keep most")
    }
    // thresholds actually DIFFER across sources (the point of relative
    // pruning — a global threshold would collapse them to one value)
    assert(out.map(_._4).distinct.length > 1, "per-source thresholds vary")
  }

  test("Multimodal resize/frame-sample plumbing: byte-exact reassembly") {
    val assets = Multimodal.assets(spark, sfDir).limit(20)
    val originals = assets.orderBy(col("asset_id")).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload")).toMap
    // resize stride 4 = every 4th byte of the original, in order
    Multimodal.resizePayloads(assets, stride = 4).collect().foreach { r =>
      val want = originals(r.getLong(0)).grouped(4).map(_.head).toArray
      assert(java.util.Arrays.equals(r.getAs[Array[Byte]]("resized"), want))
    }
    // frames of 32 bytes, every 3rd: concatenating the sampled frames
    // equals slicing the original directly; indices are 0,3,6,...
    val frames = Multimodal.sampleFrames(assets, frameBytes = 32, every = 3)
      .collect().groupBy(_.getLong(0))
    originals.foreach { case (id, p) =>
      val fs = frames.getOrElse(id, Array.empty).sortBy(_.getInt(1))
      val nFrames = (p.length + 31) / 32
      assert(fs.map(_.getInt(1)).toSeq == (0 until nFrames by 3).toSeq)
      fs.foreach { f =>
        val i = f.getInt(1)
        val want = p.slice(i * 32, math.min(p.length, (i + 1) * 32))
        assert(java.util.Arrays.equals(f.getAs[Array[Byte]]("frame"), want))
      }
    }
  }

  test("PQ (ADC+refine) ANN recall vs the exact top-k") {
    val exact = graft.llmops.Similarity.q50.run(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
    val pq = graft.llmops.Similarity.q56.run(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
    assert(pq.keySet == exact.keySet)
    val recalls = exact.map { case (q, ex) =>
      (pq(q) & ex).size.toDouble / ex.size }
    val mean = recalls.sum / recalls.size
    info(f"PQ mean recall@8 = $mean%.3f")
    // 64x-compressed codes + exact refine of a 32-candidate shortlist;
    // random unit vectors are the worst case for any quantized index
    // (see the q55 note) — measured 0.59 here, floor at 0.45
    assert(mean >= 0.45, f"PQ recall degraded: $mean%.3f")
  }

  test("IVFPQ (cells + codes + refine) ANN recall vs the exact top-k") {
    val exact = graft.llmops.Similarity.q50.run(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
    val ivfpq = graft.llmops.Similarity.q192.run(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
    assert(ivfpq.keySet == exact.keySet,
      "every query must return a non-empty top-k")
    val recalls = exact.map { case (q, ex) =>
      (ivfpq(q) & ex).size.toDouble / ex.size }
    val mean = recalls.sum / recalls.size
    info(f"IVFPQ mean recall@8 = $mean%.3f")
    // cell pruning (reads ~2/4 of the corpus) composes with 64x code
    // compression; random unit vectors remain the worst case for any
    // quantized index — measured 0.525 with TRAINED codebooks
    // (PqCodebook.fit) vs 0.50 with the seeded stand-in, floor at 0.4
    assert(mean >= 0.4, f"IVFPQ recall degraded: $mean%.3f")
  }

  test("semdedup: no surviving same-cell pair within threshold; deterministic") {
    import graft.llmops.PortableHash.exactDot
    val surv = graft.llmops.Similarity.q156.run(spark, sfDir)
    val rows = surv.collect()
    val corpus = Tables(spark, sfDir).embeddings
    assert(rows.nonEmpty && rows.length < corpus.count(),
      s"expected a non-trivial prune, got ${rows.length} survivors")
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    // core SemDeDup invariant: if two same-cell members were within the
    // threshold, the closer-to-centroid one must have been dropped — so
    // the surviving corpus contains NO same-cell pair at dot >= 0.2
    val withVec = surv.join(corpus, "vec_id")
      .select(col("vec_id"), col("cell"), col("embedding"))
    val a = withVec.select(col("cell"), col("vec_id").as("ia"),
      col("embedding").as("ea"))
    val b = withVec.select(col("cell"), col("vec_id").as("ib"),
      col("embedding").as("eb"))
    val residual = a.join(b, Seq("cell"))
      .filter(col("ia") < col("ib"))
      .filter(exactDot(col("ea"), col("eb")) >= 0.2)
      .count()
    assert(residual == 0, s"$residual surviving near-dup pairs remain")
    // same inputs -> identical surviving set (partition-independent)
    val again = graft.llmops.Similarity.q156.run(spark, sfDir).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("span dup detection: exact copies are fully duplicated, counts bounded") {
    val t = Tables(spark, sfDir)
    val out = Dedup.q47.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    out.foreach { case (id, nSpans, nDup, frac) =>
      assert(nSpans > 0 && nDup >= 0 && nDup <= nSpans, s"doc $id counts")
      assert(math.abs(frac - nDup.toDouble / nSpans) < 1e-12)
    }
    // planted corpus: two identical 10-token docs + one disjoint doc —
    // the copies must be 100% duplicated spans, the unique doc 0%
    import spark.implicits._
    val dup = "a b c d e f g h i j"
    val uniq = "k l m n o p q r s t"
    val dir = java.nio.file.Files
      .createTempDirectory("graft-q47").toString
    Seq((0L, dup, "en", "s0", 19L), (1L, dup, "en", "s0", 19L),
      (2L, uniq, "en", "s1", 19L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val planted = Dedup.q47.run(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(planted == Map(0L -> 1.0, 1L -> 1.0, 2L -> 0.0))
  }

  test("cross-split leakage: planted train->test span overlap is reported") {
    import spark.implicits._
    // bucket rule: doc 0/1/2 -> train (<800), doc 4/8 -> test (>=900)
    val shared = "the quick brown fox jumps over the lazy dog"  // 9 tokens
    val dir = java.nio.file.Files
      .createTempDirectory("graft-q48").toString
    Seq(
      (0L, s"prefix words $shared suffix words", "en", "s0", 1L), // train
      (1L, "completely different training text with enough tokens here",
        "en", "s0", 1L),                                          // train
      (4L, s"$shared and an original tail of text", "en", "s1", 1L), // test: leaks
      (8L, "a test document sharing nothing with any train doc at all",
        "en", "s1", 1L))                                          // test: clean
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.q48.run(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.keySet == Set(4L, 8L), "only test-split docs audited")
    assert(out(4L)._2 >= 1, "shared span must be flagged as leaked")
    assert(out(8L)._2 == 0, "clean doc must report zero leakage")
    // fixture invariants: leaked counts bounded, fraction consistent
    val fix = Dedup.q48.run(spark, sfDir).collect()
    assert(fix.nonEmpty)
    fix.foreach { r =>
      val (n, l, f) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(l >= 0 && l <= n)
      assert(math.abs(f - l.toDouble / n) < 1e-12)
    }
  }

  test("bigram LM quality: scores >= 1, identical docs score identically") {
    val t = Tables(spark, sfDir)
    val out = TextAnalysis.q76.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // every bigram occurs at least once (itself), so avg corpus freq >= 1
    out.foreach { case (id, n, s, avg) =>
      assert(n > 0 && s >= n, s"doc $id: sum_freq $s < n_bigrams $n")
      assert(avg >= 1.0, s"doc $id avg_freq $avg")
    }
    val texts = t.documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val byText = out.groupBy(r => texts(r._1))
    byText.values.filter(_.length >= 2).foreach { grp =>
      assert(grp.map(_._4).distinct.length == 1,
        "identical texts diverged in avg_freq")
    }
  }

  test("repetition signals: a planted looping doc scores worst") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-q58").toString
    Seq(
      (0L, "spam spam spam spam spam spam spam spam", "en", "s0", 1L),
      (1L, "a perfectly ordinary sentence with distinct words", "en",
        "s0", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.q58.run(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    val (spamRep, spamTok, spamBg) = out(0L)
    val (okRep, okTok, okBg) = out(1L)
    assert(spamRep == 1.0 - 1.0 / 8 && spamTok == 1.0 && spamBg == 1.0)
    assert(okRep == 0.0 && okTok < 0.2 && okBg < 0.2)
    // fixture invariants: all ratios in range
    TextAnalysis.q58.run(spark, sfDir).collect().foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) < 1.0)
      assert(r.getDouble(4) > 0.0 && r.getDouble(4) <= 1.0)
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0)
    }
  }

  test("temperature mixing flattens the dominant language (alpha=0.5)") {
    val t = Tables(spark, sfDir)
    val out = Sampling.q49.run(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    val totDocs = out.map(_._2).sum.toDouble
    val totKept = out.map(_._4).sum.toDouble
    out.foreach { case (lang, nDocs, target, nKept) =>
      assert(nKept == math.min(target, nDocs), s"$lang kept")
      val natural = nDocs / totDocs
      val mixed = nKept / totKept
      // sqrt-weighting: above-average languages shrink, below-average grow
      if (natural > 1.2 / out.length)
        assert(mixed < natural + 1e-9, s"$lang should flatten")
    }
    assert(totKept <= 100 && totKept > 50, "budget roughly consumed")
  }

  test("per-source cap: caps bind, totals preserved") {
    val t = Tables(spark, sfDir)
    val out = Sampling.q77.run(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val perSource = t.documents.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.map(_._1).toSet == perSource.keySet)
    out.foreach { case (src, nDocs, nKept, keptChars) =>
      assert(nDocs == perSource(src))
      assert(nKept == math.min(10L, nDocs), s"$src kept $nKept of $nDocs")
      assert(keptChars > 0)
    }
  }

  test("train/val/test split partitions the corpus deterministically") {
    val t = Tables(spark, sfDir)
    val out = Sampling.q78.run(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.keySet.subsetOf(Set("train", "val", "test")))
    assert(out.values.sum == t.documents.count())
    // 80/10/10 by construction of the hash buckets — loose bounds at
    // this tiny sf, but train must dominate
    assert(out("train") > out.getOrElse("val", 0L))
    assert(out("train") > out.getOrElse("test", 0L))
    val again = Sampling.q78.run(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == out)
  }

  test("hybrid search: candidates come from BM25, order is by cosine") {
    val hybrid = TextAnalysis.q79.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(hybrid.nonEmpty && hybrid.length <= 10)
    // every hybrid hit is within the BM25 top-20 candidate pool
    val bm25Top20 = TextAnalysis.q74.run(spark, sfDir).collect()
      .map(_.getLong(0)).toSet // q74 returns top-15 of the same scorer
    // at least the head of the candidate pool overlaps
    assert(hybrid.map(_._1).count(bm25Top20.contains) >= hybrid.length - 5)
    // descending cosine with doc_id tiebreak
    val cosOrder = hybrid.map(h => (-h._3, h._1)).toSeq
    assert(cosOrder == cosOrder.sorted, "not ordered by (cos desc, doc_id)")
    hybrid.foreach { case (_, _, cos) =>
      assert(cos >= -1.01 && cos <= 1.01, s"cosine out of range: $cos")
    }
  }

  test("DSIR importance resampling selects toward the target slice") {
    val sel = Curation.q157.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(5)))
    assert(sel.length == math.min(100,
      Tables(spark, sfDir).documents.count()).toInt)
    // deterministic order: (avg_w desc, doc_id)
    val order = sel.map { case (id, _, w) => (-w, id) }.toSeq
    assert(order == order.sorted)
    // selection is biased toward the target distribution: the en share
    // among selected docs is at least the corpus-wide en share
    val corpus = Tables(spark, sfDir).documents
      .groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val corpusEnShare = corpus("en").toDouble / corpus.values.sum
    val selEnShare = sel.count(_._2 == "en").toDouble / sel.length
    assert(selEnShare >= corpusEnShare,
      s"selected en share $selEnShare < corpus $corpusEnShare")
    // rerun is bit-identical (pure integer LM + one boundary division)
    val again = Curation.q157.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(5)))
    assert(again.toSeq == sel.toSeq)
  }

  test("DSIR/CCNet edge shapes: empty target slice; single-doc language") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-q157-edge").toString
    // no 'en' docs at all: the target LM is empty, every bucket weight
    // degrades to the add-1-smoothed inverse frequency — the query must
    // still run deterministically (rarity-based selection), not crash
    // or return nothing. And 'ko' has a single doc: its CCNet tertile
    // histogram is one bucket, which must land in 'head'.
    Seq(
      (0L, "common words repeated here common words again", "fr", "s0", 1L),
      (1L, "entirely different vocabulary in this one", "de", "s0", 1L),
      (2L, "thirdly unrelated tokens appear now", "fr", "s1", 1L),
      (3L, "단일 한국어 문서 하나 그리고 조금 더", "ko", "s1", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val sel = Curation.q157.run(spark, dir).collect()
    assert(sel.length == 4)
    assert(sel.map(_.getLong(4)).forall(_ > 0L)) // sum_w positive
    val buckets = Curation.q158.run(spark, dir).collect()
      .map(r => (r.getString(1), r.getString(4)))
    assert(buckets.count(_._1 == "ko") == 1)
    assert(buckets.find(_._1 == "ko").get._2 == "head",
      "a single-doc language's only doc must be its head tertile")
  }

  test("CCNet buckets: per-lang head/middle/tail cover thirds-or-more") {
    val rows = Curation.q158.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getString(4)))
    assert(rows.nonEmpty)
    assert(rows.map(_._4).toSet.subsetOf(Set("head", "middle", "tail")))
    rows.groupBy(_._2).foreach { case (lang, docs) =>
      val n = docs.length
      val head = docs.count(_._4 == "head")
      val headMid = docs.count(d => d._4 == "head" || d._4 == "middle")
      // boundary-bucket docs all land in the higher band, so the bands
      // are at-least-thirds by construction
      assert(3 * head >= n, s"$lang: head $head of $n")
      assert(3 * headMid >= 2 * n, s"$lang: head+middle $headMid of $n")
      // band order follows the score order: every head doc scores >=
      // every tail doc within the language
      val minHead = docs.filter(_._4 == "head").map(_._3).min
      val tails = docs.filter(_._4 == "tail").map(_._3)
      if (tails.nonEmpty)
        assert(minHead >= tails.max, s"$lang: band inversion")
    }
  }

  test("source n-gram diversity: a template source collapses the ratio") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-q160").toString
    // template source: every doc is the same boilerplate (each doc is
    // individually fine — q58 sees nothing); diverse source: unique text
    Seq(
      (0L, "thank you for visiting our store page today", "en", "tpl", 1L),
      (1L, "thank you for visiting our store page today", "en", "tpl", 1L),
      (2L, "thank you for visiting our store page today", "en", "tpl", 1L),
      (3L, "quarterly revenue grew across all reporting segments", "en",
        "div", 1L),
      (4L, "the committee deferred its vote until next session", "en",
        "div", 1L),
      (5L, "rainfall totals broke the previous seasonal record", "en",
        "div", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.q160.run(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    val (tplN, tplT, tplDiv) = out("tpl")
    val (divN, divT, divDiv) = out("div")
    assert(tplN == 18 && tplT == 6 && tplDiv == 6.0 / 18) // 3 copies
    assert(divN == divT && divDiv == 1.0) // all-unique trigrams
    // fixture invariants: ratio in (0, 1], every source present
    val fix = TextAnalysis.q160.run(spark, sfDir).collect()
    assert(fix.length == 20)
    fix.foreach { r =>
      assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getLong(2) <= r.getLong(1))
    }
  }

  test("PageRank semantics: regular graphs rank uniformly, hubs dominate") {
    import graft.ops.GraphRank
    import spark.implicits._
    // 10-cycle (2-regular): symmetry forces identical ranks everywhere
    val n = 10L
    val cyc = (0L until n).flatMap(i =>
      Seq((i, (i + 1) % n), ((i + 1) % n, i))).toDF("src", "dst")
    val cycRanks = GraphRank.pagerank(cyc).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(cycRanks.size == n)
    assert(cycRanks.values.toSet.size == 1,
      s"cycle ranks not uniform: $cycRanks")
    // uniform rank stays at the initial S/n (stationary by symmetry,
    // modulo the documented floor loss per round)
    val uni = cycRanks.values.head
    assert(uni <= GraphRank.S / n && uni > GraphRank.S / n * 95 / 100)

    // star: the hub out-ranks every leaf
    val leaves = 1L to 8L
    val star = leaves.flatMap(l => Seq((0L, l), (l, 0L))).toDF("src", "dst")
    val starRanks = GraphRank.pagerank(star).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val hub = starRanks(0L)
    leaves.foreach(l => assert(hub > starRanks(l) * 3,
      s"hub $hub does not dominate leaf ${starRanks(l)}"))
  }

  test("weighted PageRank: heavy edges pull rank, weight-1 == classic") {
    import graft.ops.GraphRank
    import spark.implicits._
    // star with one heavy spoke: leaf 1 carries 10x the weight of the
    // others, so it receives 10/17 of the hub's mass each round
    val leaves = 1L to 8L
    val wEdges = leaves.flatMap { l =>
      val w = if (l == 1L) 10L else 1L
      Seq((0L, l, w), (l, 0L, w))
    }.toDF("src", "dst", "w")
    val ranks = GraphRank.pagerank(wEdges).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val others = leaves.drop(1).map(ranks)
    assert(others.toSet.size == 1, "equal-weight leaves must tie")
    assert(ranks(1L) > others.head * 5,
      s"heavy leaf ${ranks(1L)} vs ${others.head}")
    assert(ranks(0L) > ranks(1L), "hub still dominates")
    // explicit weight-1 edges reproduce the classic form bit-exactly
    val star1 = leaves.flatMap(l => Seq((0L, l, 1L), (l, 0L, 1L)))
      .toDF("src", "dst", "w")
    val star = leaves.flatMap(l => Seq((0L, l), (l, 0L))).toDF("src", "dst")
    val a = GraphRank.pagerank(star1).collect()
      .map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1).toSeq
    val b = GraphRank.pagerank(star).collect()
      .map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1).toSeq
    assert(a == b)
  }

  test("multi-length span dedup merges a planted passage into one region") {
    import spark.implicits._
    import graft.llmops.Dedup
    // 50 shared tokens embedded in otherwise-distinct text: q47-style
    // single-length reporting would fragment this into ~43 overlapping
    // 8-gram hits; spanRegions must emit ONE merged region of exactly
    // the passage extent, witnessed by a 32-gram (strong)
    val passage = (1 to 50).map(i => s"p$i").mkString(" ")
    val short = (1 to 10).map(i => s"q$i").mkString(" ")   // 8 ≤ 10 < 16
    val tiny = (1 to 7).map(i => s"z$i").mkString(" ")     // < 8: invisible
    def doc(pre: String, n: Int, mid: String, post: String, m: Int) =
      ((1 to n).map(i => s"$pre$i") ++ Seq(mid) ++
        (1 to m).map(i => s"$post$i")).mkString(" ")
    val docs = Seq(
      (1L, doc("a", 30, passage, "aa", 20)),
      (2L, doc("b", 25, passage, "bb", 12)),
      (3L, doc("c", 20, short + " " + tiny, "cc", 15)),
      (4L, doc("d", 22, short + " x0 " + tiny, "dd", 18)),
      (5L, doc("e", 40, "nothing shared here at all really", "ee", 10)))
      .toDF("doc_id", "text")
    val out = Dedup.spanRegions(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // docs 1/2: one strong merged region of exactly 50 tokens
    Seq(1L, 2L).foreach { id =>
      assert(out(id) == ((1L, 50L, 50L, 1L)),
        s"doc $id expected one merged 50-token strong region, got ${out(id)}")
    }
    // docs 3/4: the 10-token shared run is one WEAK region (8-gram
    // witnessed only — too short for a 16-gram); the 7-token shared
    // run is invisible at every length
    Seq(3L, 4L).foreach { id =>
      assert(out(id) == ((1L, 10L, 10L, 0L)),
        s"doc $id expected one weak 10-token region, got ${out(id)}")
    }
    // doc 5 shares nothing >= 8 tokens: absent from the report
    assert(!out.contains(5L))
  }

  test("pagerank broadcast and bucketed regimes are bit-equal") {
    // r6 verdict #2: the broadcast-vs-bucketed switch is data-driven
    // (node count vs threshold). Force each regime on the SAME graph
    // and require row-identical ranks — the DeterminismSpec pattern.
    import graft.ops.GraphRank
    import org.apache.spark.sql.functions.col
    val t = graft.ops.Tables(spark, sfDir)
    val eo = t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .selectExpr("o_custkey*2 AS src", "l_suppkey*2+1 AS dst").distinct()
    val edges = eo.unionAll(eo.selectExpr("dst AS src", "src AS dst"))
    def run(maxNodes: Long): Seq[String] =
      GraphRank.pagerank(edges, broadcastMaxNodes = maxNodes)
        .orderBy(col("node")).collect().map(_.toString).toSeq
    val bcast = run(Long.MaxValue)
    val bucketed = run(0L)
    assert(bcast.nonEmpty && bucketed == bcast,
      "bucketed regime differs from broadcast regime")
  }

  test("q172 group split: sources atomic, corpus partitioned, doc-split straddles") {
    import org.apache.spark.sql.functions.{countDistinct => cd}
    val docs = Tables(spark, sfDir).documents
    def splitOf(bucket: org.apache.spark.sql.Column) =
      when(bucket < 800, "train").when(bucket < 900, "val")
        .otherwise("test")
    // group rule: every source maps to exactly ONE split
    val gBucket = PortableHash.splitDraw(coalesce(
      graft.functions.CharPolyHash.charPolyHash(col("source")), lit(0L)))
    val perSource = docs.select(col("source"), splitOf(gBucket).as("sp"))
      .groupBy(col("source")).agg(cd(col("sp")).as("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(perSource.nonEmpty && perSource.forall(_._2 == 1L))
    // the gate rollup partitions the corpus
    val out = Sampling.q172.run(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._3).sum == docs.count())
    assert(out.map(_._2).sum == perSource.length)
    // and the hazard q172 exists to remove: q78's per-DOC rule splits
    // at least one source across splits (same-host near-dups would
    // straddle the train/test boundary)
    val dBucket = PortableHash.splitDraw(col("doc_id"))
    val straddled = docs.select(col("source"), splitOf(dBucket).as("sp"))
      .groupBy(col("source")).agg(cd(col("sp")).as("k"))
      .filter(col("k") > 1).count()
    assert(straddled > 0, "doc-level split unexpectedly group-clean")
  }

  test("q168 classifier: feature count identity, integer sign rule") {
    val out = Curation.q168.run(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
      .toMap
    assert(out.nonEmpty)
    // unigrams + bigrams of an n-token doc = 2n - 1 features
    val nTokens = Tables(spark, sfDir).documents
      .select(col("doc_id"),
        size(PortableHash.tokens(col("text"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach { case (id, (nf, ws, score, keep)) =>
      assert(nf == 2L * nTokens(id) - 1,
        s"doc $id: n_feats $nf != 2*${nTokens(id)}-1")
      assert(keep == (ws >= 0))
      assert(math.abs(score - ws.toDouble / nf) < 1e-12)
    }
    // docs under 2 tokens are excluded by contract
    assert(out.keySet == nTokens.filter(_._2 >= 2).keySet)
    // weight table is a fixed function of the bucket id: rerun identical
    val again = Curation.q168.run(spark, sfDir).collect()
      .map(r => r.toString).toSeq
    assert(again == Curation.q168.run(spark, sfDir).collect()
      .map(r => r.toString).toSeq)
  }

  test("q176 classifier training: epoch-1 identity, convergence, determinism") {
    val out = Curation.q176.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._1).toSeq == (1L to Curation.ClfRounds).toSeq)
    val nTrain = Tables(spark, sfDir).documents
      .filter(graft.llmops.Sampling.groupSplit(col("source")) === "train")
      .count()
    // round 1 scores under w=0 are all zero and y·0 <= 0 — the whole
    // CONFIDENT-labeled set (a subset of the train split, by the
    // MarginMin teacher filter) is misclassified by definition, so
    // round 1 is the labeled-set size and the curve's maximum
    assert(out.head._2 == out.map(_._2).max)
    assert(out.head._2 <= nTrain && out.head._2 > 0)
    out.foreach { case (_, nm, l1) =>
      assert(nm <= out.head._2 && l1 >= 0) }
    // the geometric step schedule must CONVERGE, not oscillate: the
    // final epoch's misses are a small fraction of the labeled set
    assert(out.last._2 * 4 < out.head._2,
      s"no convergence: ${out.map(_._2).mkString(",")}")
    assert(out.head._3 > 0, "round-1 update left all weights zero")
    // fixed data + fixed rounds => bit-identical rerun. Through the
    // UNmemoized loop — a rerun through the gate query just returns
    // the memo's cached curve, which can never disagree with itself
    val again = Curation.trainClassifierOn(spark,
      Tables(spark, sfDir).documents
        .withColumn("split",
          graft.llmops.Sampling.groupSplit(col("source")))
        .filter(col("split") === "train")).curve
    assert(again == out.toSeq)
  }

  test("q177 distillation fidelity: confusion identity, generalization") {
    val out = Curation.q177.run(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(out.map(_._1).toSeq == Seq("test", "val"))
    out.foreach { case (_, n, tp, fp, tn, fn, acc) =>
      assert(tp + fp + tn + fn == n)
      assert(math.abs(acc - (tp + tn).toDouble / n) < 1e-12)
      // the student must actually generalize the teacher's confident
      // decisions to sources it never saw — far above coin-flip
      assert(acc >= 0.7, s"fidelity $acc")
    }
  }

  test("q170 drift: TV bounds, partition of the corpus, planted shift ranks first") {
    val out = Curation.q170.run(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.nonEmpty)
    // TV distance is a metric on distributions: every value in [0, 1]
    out.foreach { case (src, n, tv) =>
      assert(n > 0 && tv >= 0.0 && tv <= 1.0, s"$src: tv=$tv n=$n") }
    // sources partition the corpus
    val total = Tables(spark, sfDir).documents.count()
    assert(out.map(_._2).sum == total)
    // output is ranked by drift, ties by source
    val tvs = out.map(_._3).toSeq
    assert(tvs == tvs.sorted.reverse)
    // a planted length-profile shift must outrank every natural source:
    // clone the corpus but give one synthetic source only the longest
    // decile — its histogram mass sits in bins the reference barely
    // occupies, so its TV must rank first
    import org.apache.spark.sql.functions.{lit => flit}
    val docs = Tables(spark, sfDir).documents
    val cut = docs.selectExpr("percentile_cont(0.9) WITHIN GROUP (ORDER BY n_chars) AS c")
      .head().getDouble(0)
    val planted = docs.select(col("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))
      .unionByName(docs.filter(col("n_chars") >= cut)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
          col("lang"), flit("___drifted").as("source"), col("n_chars")))
    val dir2 = java.nio.file.Files.createTempDirectory("drift_fixture")
    planted.write.mode("overwrite")
      .parquet(dir2.resolve("documents.parquet").toString)
    val shifted = Curation.q170.run(spark, dir2.toString).collect()
      .map(r => (r.getString(0), r.getDouble(2)))
    assert(shifted.head._1 == "___drifted",
      s"planted drift not ranked first: ${shifted.take(3).mkString(", ")}")
  }

  test("q171 embedding drift: non-negative, corpus partition, planted shift ranks first") {
    val out = Curation.q171.run(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(out.nonEmpty)
    out.foreach { case (_, n, d2) => assert(n > 0 && d2 >= 0.0) }
    assert(out.map(_._2).sum == Tables(spark, sfDir).embeddings.count())
    val d2s = out.map(_._3).toSeq
    assert(d2s == d2s.sorted.reverse)
    // planted representation shift: clone the corpus, add a label-999
    // group whose vectors are translated by +0.5 in every dimension —
    // its centroid moves ~0.5·√dims away while natural labels are
    // random draws from one distribution; it must rank first
    val emb = Tables(spark, sfDir).embeddings
    val planted = emb.unionByName(emb.limit(50)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), v => v + lit(0.5f)).as("embedding"),
        lit(999).as("label")))
    val dir2 = java.nio.file.Files.createTempDirectory("emb_drift")
    planted.write.mode("overwrite")
      .parquet(dir2.resolve("embeddings.parquet").toString)
    val shifted = Curation.q171.run(spark, dir2.toString).collect()
      .map(r => (r.getInt(0), r.getDouble(2)))
    assert(shifted.head._1 == 999,
      s"planted shift not ranked first: ${shifted.take(3).mkString(", ")}")
  }

  test("binary Hamming ANN recall vs the exact top-k") {
    val exact = graft.llmops.Similarity.q50.run(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
    val ham = graft.llmops.Similarity.q169.run(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
    assert(ham.keySet == exact.keySet)
    ham.values.foreach(s => assert(s.size == 8))
    val recalls = exact.map { case (q, ex) =>
      (ham(q) & ex).size.toDouble / ex.size }
    val mean = recalls.sum / recalls.size
    info(f"Hamming mean recall@8 = $mean%.3f")
    // Random unit vectors are the worst case for sign-hash codes (all
    // angles near 90° — one-bit resolution exactly where every
    // candidate sits); measured 0.7 at 128 bits/shortlist 128. The
    // floor asserts the code is informative, the determinism claim is
    // the q169 oracle.
    assert(mean >= 0.5, f"Hamming recall degraded: $mean%.3f")
  }

  test("PageRank: mass conserved within floor loss, suppliers dominate") {
    import graft.ops.GraphRank
    val top = GraphRank.q159.run(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(top.length == 20)
    // descending by fixed-point rank
    val ranks = top.map(_._3).toSeq
    assert(ranks == ranks.sorted.reverse)
    // the 100 suppliers share half the mass that 1000+ customers split,
    // so the top of the ranking must be supplier-heavy
    assert(top.take(5).count(_._1 == "supplier") >= 4,
      s"top-5 not supplier-heavy: ${top.take(5).mkString(", ")}")
    // every rank positive and below total mass
    top.foreach { case (_, _, r) =>
      assert(r > 0 && r < GraphRank.S)
    }
  }
}
