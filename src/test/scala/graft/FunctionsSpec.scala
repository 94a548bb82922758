package graft

import org.apache.spark.sql.functions._

import graft.compile.JoinGraph
import graft.functions.TimeOfDay
import graft.ops.Tables

class FunctionsSpec extends SparkTestBase {

  test("JoinGraph finds the shortest FK path and rejects unreachable pairs") {
    val cat = graft.catalog.MetadataExtractor.fromParquetDir(spark, sfDir)
    val g = new JoinGraph(cat)
    // lineitem -> region: via supplier -> nation (3 hops), not via
    // orders -> customer -> nation (4 hops)
    val p = g.path("lineitem", "region").get
    assert(p.map(_.render) == Seq(
      "lineitem.l_suppkey -> supplier.s_suppkey",
      "supplier.s_nationkey -> nation.n_nationkey",
      "nation.n_regionkey -> region.r_regionkey"))
    assert(g.path("region", "region").contains(Nil))
    assert(g.path("documents", "region").isEmpty)
    intercept[IllegalArgumentException] {
      g.join(n => Tables(spark, sfDir).table(n), "documents", "region")
    }
  }

  test("JoinGraph join walks the path in either edge direction") {
    val cat = graft.catalog.MetadataExtractor.fromParquetDir(spark, sfDir)
    val g = new JoinGraph(cat)
    // region -> lineitem traverses FK edges backwards
    val n = g.join(nm => Tables(spark, sfDir).table(nm), "region", "lineitem")
      .count()
    assert(n == Tables(spark, sfDir).lineitem.count())
  }

  test("TimeOfDay round-trips, validates, and handles midnight wrap") {
    import spark.implicits._
    val df = Seq("09:30:00", "23:59:59", "7:05", "bad", "25:00:00")
      .toDF("t")
      .select(col("t"), TimeOfDay.toSeconds(col("t")).as("s"))
    val rows = df.collect().map(r =>
      (r.getString(0), if (r.isNullAt(1)) -1 else r.getInt(1))).toMap
    assert(rows("09:30:00") == 9 * 3600 + 30 * 60)
    assert(rows("23:59:59") == 86399)
    assert(rows("7:05") == 7 * 3600 + 5 * 60)
    assert(rows("bad") == -1)       // malformed -> null
    assert(rows("25:00:00") == -1)  // out of range -> null
    // malformed or out-of-range SECONDS must also be null, not 0
    val badSecs = Seq("09:30:oops", "10:00:99", "10:00:-5", "1:2:3:4")
      .toDF("t").select(TimeOfDay.toSeconds(col("t"))).collect()
    assert(badSecs.forall(_.isNullAt(0)))
    val back = Seq(34200).toDF("s")
      .select(TimeOfDay.fromSeconds(col("s"))).head().getString(0)
    assert(back == "09:30:00")
    // overnight shift: 22:00 -> 06:00 = 8h
    val diff = Seq(("22:00:00", "06:00:00")).toDF("a", "b")
      .select(TimeOfDay.diffSeconds(col("a"), col("b"))).head().getInt(0)
    assert(diff == 8 * 3600)
  }

  test("native CharPolyHash == HOF charHash == reference impl") {
    import spark.implicits._
    import graft.functions.CharPolyHash
    val t = Tables(spark, sfDir)
    val both = t.documents
      .select(
        CharPolyHash.charPolyHash(col("text")).as("native"),
        graft.llmops.PortableHash.charHash(col("text")).as("hof"),
        col("text"))
      .collect()
    both.foreach { r =>
      assert(r.getLong(0) == r.getLong(1))
      assert(r.getLong(0) == CharPolyHash.hash(r.getString(2)))
    }
    // empty string -> NULL on both paths
    val e = Seq("").toDF("s")
      .select(CharPolyHash.charPolyHash(col("s")),
        graft.llmops.PortableHash.charHash(col("s"))).head()
    assert(e.isNullAt(0) && e.isNullAt(1))
    // supplementary (non-BMP) characters count as ONE position, so the
    // native loop must match the code-point reference impl
    val astral = "😀a" // emoji + 'a'
    val na = Seq(astral).toDF("s")
      .select(CharPolyHash.charPolyHash(col("s"))).head().getLong(0)
    assert(na == CharPolyHash.hash(astral))
    // 'a' sits at code-point position 2: hash must equal a hand-built sum
    val p = 1000000007L
    def mlt(i: Long) = (i * i * 2654435761L + i * 97L) % p
    assert(CharPolyHash.hash(astral) ==
      (0x1F600L * mlt(1) + 'a'.toLong * mlt(2)) % p)
  }

  test("native FixedDotSum/DoubleDot == HOF exactDot/fastDot") {
    import spark.implicits._
    import graft.llmops.PortableHash
    val t = Tables(spark, sfDir)
    val a = t.embeddings.select(col("vec_id").as("ia"),
      col("embedding").as("ea"))
    val b = t.embeddings.select(col("vec_id").as("ib"),
      col("embedding").as("eb"))
    val both = a.crossJoin(b).filter(col("ia") < col("ib")).limit(500)
      .select(
        PortableHash.exactDot(col("ea"), col("eb")).as("exact_native"),
        HofForms.exactDotHof(col("ea"), col("eb")).as("exact_hof"),
        PortableHash.fastDot(col("ea"), col("eb")).as("fast_native"),
        HofForms.fastDotHof(col("ea"), col("eb")).as("fast_hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      // exact fixed-point path must be BIT-identical (oracle-checked)
      assert(r.getDouble(0) == r.getDouble(1))
      // double fold order matches the sequential HOF aggregate
      assert(r.getDouble(2) == r.getDouble(3))
    }
    // null / length-mismatch poisoning mirrors zip_with semantics
    val edge = Seq(
      (Seq(1f, 2f), Some(Seq(1f, 2f, 3f))),   // length mismatch -> null
      (Seq(1f, 2f), None))                     // null input -> null
      .toDF("x", "y")
      .select(PortableHash.exactDot(col("x"), col("y")).as("d"),
        PortableHash.fastDot(col("x"), col("y")).as("f"))
      .collect()
    edge.foreach(r => assert(r.isNullAt(0) && r.isNullAt(1)))
  }

  test("native SignPackBits == per-plane FixedDotSum signs, both eval paths") {
    import spark.implicits._
    import graft.functions.VectorDot
    val dim = 64
    // q169's actual plane parities: the packer must agree with 128
    // independent FixedDotSum signs against the same ±1 patterns
    def parityEven(p: Int, i: Int): Boolean = {
      val n = p.toLong * 4096L + i
      ((n * n % 1000000007L) * 2654435761L + 97L * n) % 1000000007L % 2 == 0
    }
    val signs = typedLit((0 until 128).flatMap(p =>
      (1 to dim).map(i => if (parityEven(p, i)) 1.0f else -1.0f)))
    def pat(p: Int) = typedLit((1 to dim).map(i =>
      if (parityEven(p, i)) 1.0f else -1.0f))
    def refWord(lo: Int) = (lo until lo + 32).map { p =>
      when(VectorDot.fixedDotSum(col("embedding"), pat(p)) >= 0,
        lit(1L << (p - lo))).otherwise(lit(0L))
    }.reduce(_ + _)
    for (codegenOn <- Seq("true", "false")) {
      // interpreted mode exercises nullSafeEval — the path a
      // codegen-splitting fallback would silently take
      spark.conf.set("spark.sql.codegen.wholeStage", codegenOn)
      try {
        val rows = Tables(spark, sfDir).embeddings.limit(64)
          .select(VectorDot.signPackBits(col("embedding"), signs).as("w"),
            refWord(0).as("r0"), refWord(32).as("r1"),
            refWord(64).as("r2"), refWord(96).as("r3"))
          .collect()
        assert(rows.length == 64)
        rows.foreach { r =>
          val w = r.getSeq[Long](0)
          assert(w == Seq(r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4)), s"codegen=$codegenOn: $w")
        }
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
    // degenerate inputs null out (empty vector, non-multiple signs,
    // plane count not a multiple of 32 — would index past the words
    // array otherwise)
    val edge = Seq((Seq.empty[Float], Seq(1.0f)),
        (Seq(1.0f, 2.0f), Seq(1.0f, 1.0f, 1.0f)),
        (Seq(1.0f, 2.0f), Seq.fill(66)(1.0f)))
      .toDF("x", "y")
      .select(VectorDot.signPackBits(col("x"), col("y")).as("w"))
      .collect()
    edge.foreach(r => assert(r.isNullAt(0)))
  }

  test("native ViterbiPieces: packed-argmin DP + backtrack, both eval paths") {
    import spark.implicits._
    import graft.functions.ViterbiPieces
    // the UnigramLmSpec tie-break fixture: every substring of 'abcde'
    // at count 1 — all four 2-piece segmentations tie on (pieces,
    // count sum), and the packed candidate encoding (score·32 + i,
    // minimized) must pick the EARLIEST split at the final cell:
    // ['bcde', 'a'] back-to-front (the unrolled-plan semantics the
    // expression ports bit-exactly; the q174/q175 oracles replay the
    // same cells in SQL).
    val allSubs = (for {
      i <- 0 until 5; l <- 1 to 4; if i + l <= 5
    } yield "abcde".substring(i, i + l)).distinct
    val tieMap = typedLit(allSubs.map(_ -> 1L).toMap)
    val edgeMap = typedLit(
      Map("a" -> 1L, "b" -> 1L, "c" -> 1L, "d" -> 1L, "abcd" -> 9L))
    for (codegenOn <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", codegenOn)
      try {
        val got = Seq("abcde").toDF("word")
          .select(ViterbiPieces.viterbiPieces(col("word"), tieMap).as("p"))
          .collect().head.getSeq[String](0)
        assert(got == Seq("bcde", "a"), s"codegen=$codegenOn: $got")
        val edge = Seq("axz", "abcd").toDF("word")
          .select(col("word"),
            ViterbiPieces.viterbiPieces(col("word"), edgeMap).as("p"))
          .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
        // unreachable word (no cell covers position 2) → empty
        // segmentation — q175's <unk> accounting depends on this
        assert(edge("axz").isEmpty, s"codegen=$codegenOn")
        // fewest-pieces dominates: the whole-word piece beats the
        // 4-single-char chain despite smaller counts
        assert(edge("abcd") == Seq("abcd"), s"codegen=$codegenOn")
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }

  test("native SpanHashesWide == composed-builtin reference, both eval paths") {
    import spark.implicits._
    import graft.llmops.PortableHash
    val ths = Tables(spark, sfDir).documents.limit(200)
      .select(PortableHash.tokenHashes(
        PortableHash.tokens(col("text"))).as("ths"))
    for (codegenOn <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", codegenOn)
      try {
        Seq(8, 16, 32).foreach { n =>
          val rows = ths.select(
              PortableHash.spanHashesWide(col("ths"), n).as("nat"),
              HofForms.spanHashesWideHof(col("ths"), n).as("ref"))
            .collect()
          assert(rows.length == 200)
          rows.foreach { r =>
            assert(r.getSeq[Long](0) == r.getSeq[Long](1),
              s"codegen=$codegenOn n=$n")
          }
        }
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
    // the narrow native must equal ITS composed reference too (the
    // mod-P value is the bigram-LM/distinct-n/classifier contract)
    for (codegenOn <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", codegenOn)
      try {
        Seq(2, 3).foreach { n =>
          val rows = ths.select(
              PortableHash.spanHashes(col("ths"), n).as("nat"),
              HofForms.spanHashesHof(col("ths"), n).as("ref"))
            .collect()
          rows.foreach { r =>
            assert(r.getSeq[Long](0) == r.getSeq[Long](1),
              s"narrow codegen=$codegenOn n=$n")
          }
        }
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
    // shorter-than-span arrays yield EMPTY (not null) on all forms
    val short = Seq(Seq(1L, 2L, 3L)).toDF("ths")
      .select(PortableHash.spanHashesWide(col("ths"), 8).as("nat"),
        HofForms.spanHashesWideHof(col("ths"), 8).as("ref"),
        PortableHash.spanHashes(col("ths"), 8).as("nar"))
      .head()
    assert(short.getSeq[Long](0).isEmpty && short.getSeq[Long](1).isEmpty &&
      short.getSeq[Long](2).isEmpty)
    // null-element contract DIVERGES by design: the native nulls the
    // whole row (a null token hash means tokenHashes' 0-pinning was
    // bypassed upstream), the HOF yields per-span null entries — pin
    // the divergence so it stays a documented decision, not drift
    val nullElem = spark
      .sql("SELECT array(1L, cast(null AS bigint), 3L, 4L) AS ths")
      .select(PortableHash.spanHashesWide(col("ths"), 2).as("nat"),
        HofForms.spanHashesWideHof(col("ths"), 2).as("ref"))
      .head()
    assert(nullElem.isNullAt(0), "native should null the whole row")
    assert(nullElem.getSeq[Any](1).take(2).forall(_ == null) &&
      nullElem.getSeq[Any](1)(2) != null,
      "HOF reference should null affected spans only")
  }

  test("GraftFunctions registers charpolyhash for the SQL surface") {
    import graft.functions.{CharPolyHash, GraftFunctions}
    GraftFunctions.register(spark)
    Tables(spark, sfDir).registerAll()
    val rows = spark.sql(
      "SELECT doc_id, charpolyhash(text) AS h FROM documents ORDER BY doc_id LIMIT 3")
      .collect()
    val texts = Tables(spark, sfDir).documents
      .orderBy(col("doc_id")).limit(3).collect().map(_.getString(1))
    rows.zip(texts).foreach { case (r, t) =>
      assert(r.getLong(1) == CharPolyHash.hash(t))
    }
    // the vector expressions are SQL-visible too
    val dot = spark.sql(
      """SELECT fixed_dot_sum(array(0.5D, -0.25D), array(1.0D, 2.0D)) f,
           double_dot(array(0.5D, -0.25D), array(1.0D, 2.0D)) d""").head()
    assert(dot.getLong(0) ==
      (5000000L * 10000000L + -2500000L * 20000000L))
    assert(math.abs(dot.getDouble(1) - 0.0) < 1e-15)
    // wrong arity fails with a clean message, not an index error
    val ex = intercept[Exception] {
      spark.sql("SELECT fixed_dot_sum(array(1.0D))").collect()
    }
    assert(ex.getMessage.contains("expects 2 argument"))
  }

  test("csv and json sources round-trip the orders table") {
    val t = Tables(spark, sfDir)
    val src = t.orders.withColumn("o_orderdate",
      date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"))
    val dir = java.nio.file.Files.createTempDirectory("fmt").toString
    src.write.option("header", "true").csv(s"$dir/csv")
    src.write.json(s"$dir/json")
    val csv = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(s"$dir/csv")
    val json = spark.read.json(s"$dir/json")
    assert(csv.count() == src.count())
    assert(json.count() == src.count())
    assert(csv.columns.sorted.toSeq == src.columns.sorted.toSeq)
  }

  test("approximate twins stay within error bounds of their exact queries") {
    // q08b (HLL, rsd=0.01) and q39b (approx_percentile, accuracy=10000)
    // are rows-only at the gate because sketch serializations are
    // engine-specific — but their ACCURACY is checkable against the
    // exact twins, which are themselves oracle-proven. This turns
    // "rows-only by design" into "approximation verified".
    val exact = graft.ops.Relational.q08.run(spark, sfDir)
      .select("l_returnflag", "n_orders")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = graft.ops.Relational.q08b.run(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (flag, ex) =>
      val ap = approx(flag)
      assert(math.abs(ap - ex).toDouble / ex < 0.05,
        s"q08b group $flag: approx $ap vs exact $ex drifts >= 5%")
    }

    // each approximate percentile must land between the exact
    // percentiles at +-0.1% rank (10x the sketch's nominal 1/accuracy
    // rank-error bound — tight enough to catch a broken sketch, loose
    // enough to never flake)
    val bounds = Tables(spark, sfDir).lineitem
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, " +
        "array(0.499, 0.501, 0.899, 0.901, 0.989, 0.991))").as("b"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    graft.ops.Advanced.q39b.run(spark, sfDir).collect().foreach { r =>
      val flag = r.getString(0)
      val vals = r.getString(1).split(",").map(_.toDouble)
      val b = bounds(flag)
      Seq(0, 1, 2).foreach { i =>
        assert(vals(i) >= b(2 * i) && vals(i) <= b(2 * i + 1),
          s"q39b group $flag pct #$i: ${vals(i)} outside " +
            s"[${b(2 * i)}, ${b(2 * i + 1)}]")
      }
    }
  }

  test("histogram quantiles land within one bin width of the exact rank") {
    val got = graft.ops.Advanced.q163.run(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    // the error contract is RANK containment, not proximity to the
    // interpolated percentile (which averages two order statistics and
    // can land between sparse bins): the target rank's order statistic
    // must fall inside [est, est + bin_width]
    val rows = Tables(spark, sfDir).orders
      .select(col("o_orderpriority"), col("o_totalprice")).collect()
      .map(r => r.getString(0) -> r.getDouble(1))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }
    assert(got.keySet == rows.keySet)
    got.foreach { case (pri, (n, p50, p95, bw)) =>
      val xs = rows(pri)
      assert(n == xs.length)
      assert(bw > 0.0)
      def rankStat(num: Long, den: Long): Double =
        xs(((n * num + den - 1) / den - 1).toInt) // ceil(q·n)-th smallest
      val m = rankStat(1, 2)
      val t = rankStat(19, 20)
      assert(p50 <= m + 1e-9 && m <= p50 + bw + 1e-9,
        s"$pri p50 est $p50 (+$bw) misses rank stat $m")
      assert(p95 <= t + 1e-9 && t <= p95 + bw + 1e-9,
        s"$pri p95 est $p95 (+$bw) misses rank stat $t")
    }
  }

  test("single-pass fixed-domain histogram quantiles match the two-pass run") {
    import graft.ops.Advanced
    val t = Tables(spark, sfDir)
    val r = t.orders
      .agg(min(col("o_totalprice")), max(col("o_totalprice"))).head()
    val (mn, mx) = (r.getDouble(0), r.getDouble(1))
    // fixed domain == true bounds: the single-pass form must reproduce
    // q163's two-pass output cell-for-cell (same IEEE op sequence)
    val twoPass = Advanced.q163.run(spark, sfDir).collect().map(_.toString)
    val onePass = Advanced.histogramQuantiles(t.orders, "o_orderpriority",
      "o_totalprice", mn, mx).collect().map(_.toString)
    assert(onePass.toSeq == twoPass.toSeq)
    // a WIDER a-priori domain (the price of skipping the pre-pass) still
    // honors the rank-containment bound, at its proportionally wider bin
    val wide = Advanced.histogramQuantiles(t.orders, "o_orderpriority",
      "o_totalprice", 0.0, mx * 2).collect()
      .map(r2 => r2.getString(0) ->
        (r2.getLong(1), r2.getDouble(2), r2.getDouble(3), r2.getDouble(4)))
      .toMap
    val rows = t.orders
      .select(col("o_orderpriority"), col("o_totalprice")).collect()
      .map(r2 => r2.getString(0) -> r2.getDouble(1))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }
    wide.foreach { case (pri, (n, p50, p95, bw)) =>
      val xs = rows(pri)
      assert(n == xs.length && bw > 0.0)
      def rankStat(num: Long, den: Long): Double =
        xs(((n * num + den - 1) / den - 1).toInt)
      val m = rankStat(1, 2)
      val tt = rankStat(19, 20)
      assert(p50 <= m + 1e-9 && m <= p50 + bw + 1e-9)
      assert(p95 <= tt + 1e-9 && tt <= p95 + bw + 1e-9)
    }
  }

  test("CMS estimates bound exact counts; Bloom filter has no false negatives") {
    val t = Tables(spark, sfDir)
    // Count-Min guarantee: exact <= estimate <= exact + eps * N
    val exact = t.lineitem.groupBy(col("l_suppkey")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val total = exact.values.sum
    val est = graft.ops.Advanced.q104.run(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, ex) =>
      val e = est(k)
      assert(e >= ex, s"CMS underestimated supplier $k: $e < $ex")
      assert(e <= ex + (0.001 * total).toLong + 1,
        s"CMS overestimated supplier $k beyond eps*N: $e vs $ex")
    }
    // Bloom guarantee: zero false negatives; fpp near the configured one
    val keys = t.orders.select(col("o_orderkey"))
    val bloom = keys.stat.bloomFilter(col("o_orderkey"), 20000L, 0.03)
    val present = keys.collect().map(_.getLong(0))
    assert(present.forall(bloom.mightContain), "Bloom false negative")
    val absent = (1000000L until 1010000L)
    val fp = absent.count(bloom.mightContain)
    assert(fp.toDouble / absent.size < 0.06,
      s"Bloom false-positive rate ${fp.toDouble / absent.size} >> 0.03")
  }

  test("DML sink passthrough: INSERT INTO a catalog table via SQL") {
    val wh = java.nio.file.Files.createTempDirectory("dml").toString
    spark.sql("DROP TABLE IF EXISTS dml_target")
    spark.sql(
      s"CREATE TABLE dml_target (id BIGINT, name STRING) USING parquet " +
        s"LOCATION '$wh/dml_target'")
    spark.sql("INSERT INTO dml_target VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO dml_target SELECT c_custkey, c_name FROM " +
      "parquet.`" + sfDir + "/customer.parquet` WHERE c_custkey < 3")
    assert(spark.table("dml_target").count() == 5)
    spark.sql("DROP TABLE dml_target")
  }

  test("TopK aggregators rank correctly at the int64/double boundary " +
    "values (no negation overflow, total order, id tie-breaks)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    // Long boundary: Long.MinValue negates to itself — a sortBy(-score)
    // implementation ranks it FIRST; the explicit comparator must rank
    // it last. Ties break to the smaller id.
    val longRows = Seq(
      (1L, Long.MinValue, 10L), (1L, Long.MaxValue, 11L),
      (1L, 0L, 12L), (1L, Long.MaxValue, 9L), (1L, -1L, 13L))
      .toDF("g", "score", "id")
    val got = longRows.groupBy(col("g"))
      .agg(graft.functions.TopK.topKLong(3)(col("score"), col("id"))
        .as("top"))
      .select(col("top")).head().getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got == Seq((Long.MaxValue, 9L), (Long.MaxValue, 11L),
      (0L, 12L)), s"boundary ranking wrong: $got")
    // Double: -0.0/0.0 and infinities rank by Double.compare's total
    // order (0.0 above -0.0, +Inf above everything finite)
    val dblRows = Seq(
      (1L, Double.NegativeInfinity, 1L), (1L, -0.0, 2L), (1L, 0.0, 3L),
      (1L, Double.PositiveInfinity, 4L), (1L, Double.MinValue, 5L))
      .toDF("g", "score", "id")
    val gotD = dblRows.groupBy(col("g"))
      .agg(graft.functions.TopK.topK(4)(col("score"), col("id"))
        .as("top"))
      .select(col("top")).head().getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getDouble(0), r.getLong(1)))
    assert(gotD.map(_._2) == Seq(4L, 3L, 2L, 5L),
      s"double total-order ranking wrong: $gotD")
  }

  test("native QuantizeInt8 == array_max/transform HOF reference, " +
      "both eval paths") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the exact HOF chain QuantizeInt8 replaced in q55 (optimization
    // r16) — kept here as the semantic reference
    def hofQuant(e: org.apache.spark.sql.Column) = {
      val d = e.cast("array<double>")
      val mx = array_max(transform(d, v => abs(v)))
      transform(d, v =>
        when(mx > 0, floor(v * (lit(127.0) / mx))).otherwise(lit(0.0)))
    }
    val emb = Tables(spark, sfDir).embeddings.select(col("embedding"))
    for (codegenOn <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", codegenOn)
      try {
        val rows = emb.select(
            graft.functions.VectorDot.quantizeInt8(col("embedding"))
              .as("nat"),
            hofQuant(col("embedding")).as("ref"))
          .collect()
        assert(rows.nonEmpty)
        rows.foreach { r =>
          assert(r.getSeq[Double](0) == r.getSeq[Double](1),
            s"codegen=$codegenOn")
        }
        // degenerate shapes: all-zero vector → all 0.0 (the otherwise
        // branch), empty vector → empty
        val edge = Seq(Seq(0.0f, 0.0f, -0.0f), Seq.empty[Float])
          .toDF("x")
          .select(graft.functions.VectorDot.quantizeInt8(col("x"))
            .as("nat"), hofQuant(col("x")).as("ref"))
          .collect()
        edge.foreach { r =>
          assert(r.getSeq[Double](0) == r.getSeq[Double](1),
            s"edge codegen=$codegenOn")
        }
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }

  test("native BestDotCell (KMeans.assign) == HOF argmax reference, " +
      "both eval paths") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.llmops.KMeans
    val emb = Tables(spark, sfDir).embeddings
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    // trained-shape centroids + a deliberate TIE pair: cells 2 and 3
    // share one centroid vector, so every row whose argmax lands there
    // must pick cell 2 (the smaller id)
    val base = (0 until dim).map(i => 1.0 / (i + 2))
    val cents = Seq(
      KMeans.Centroid(0L, (0 until dim).map(i => 0.9 / (i + 1)).toArray),
      KMeans.Centroid(1L, (0 until dim).map(i => -0.4 / (i + 3)).toArray),
      KMeans.Centroid(2L, base.toArray),
      KMeans.Centroid(3L, base.toArray))
    for (codegenOn <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", codegenOn)
      try {
        val rows = KMeans.assign(emb, cents)
          .select(col("cell"),
            HofForms.bestHof(col("embedding").cast("array<double>"), cents)
              .cast("long").as("ref"))
          .collect()
        assert(rows.nonEmpty)
        rows.foreach(r => assert(r.getLong(0) == r.getLong(1),
          s"codegen=$codegenOn"))
        // the tie pair must never resolve to cell 3
        assert(rows.forall(_.getLong(0) != 3L))
        assert(rows.exists(_.getLong(0) == 2L))
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }

  test("native PqEncodeCodes (codesOf) == HOF reference, both eval paths") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.llmops.PqCodebook
    val emb = Tables(spark, sfDir).embeddings
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val (m, cb) = (4, 4)
    val subDim = dim / m
    // deterministic codebook off the fixture corpus (the fit seed), with
    // a deliberate TIE: codewords 2 and 3 are identical in subspace 0,
    // so any row whose subspace-0 argmin lands there must pick cw 2
    val seed = emb.orderBy(col("vec_id")).limit(cb)
      .select(col("embedding").cast("array<double>"))
      .as[Array[Double]].collect()
    val rows0 = seed.zipWithIndex.flatMap { case (v, cw) =>
      v.zipWithIndex.map { case (x, p) =>
        PqCodebook.Codeword(cw.toLong, p / subDim, p % subDim,
          math.floor(x * 1e7).toLong)
      }
    }.toSeq
    val rowsTied = rows0.map(c =>
      if (c.cs == 0 && c.cw == 3L)
        c.copy(fc = rows0.find(o => o.cs == 0 && o.cw == 2L &&
          o.cpi == c.cpi).get.fc)
      else c)
    for (codegenOn <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", codegenOn)
      try {
        val got = emb.select(
            PqCodebook.codesOf(col("embedding").cast("array<double>"),
              rowsTied, m, subDim).as("nat"),
            HofForms.codesOfHof(col("embedding").cast("array<double>"),
              rowsTied, m, subDim).as("ref"))
          .collect()
        assert(got.nonEmpty)
        got.foreach { r =>
          assert(r.getSeq[Long](0) == r.getSeq[Long](1),
            s"codegen=$codegenOn")
          // the subspace-0 tie pair must never resolve to cw 3
          assert(r.getSeq[Long](0).head != 3L)
        }
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }

  test("native MmrPicks == unrolled greedy reference, both eval paths") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.MmrPicks
    // Reference: the exact per-round rule the expression ports (and
    // the q219 oracle unrolls in SQL) — round 1 score = RelW·fq, later
    // rounds RelW·fq − PenW·max_{s∈S} fab(c,s), argmax with ties to
    // the smaller cid, fab = the FixedDotSum fixed-point dot.
    def fx(v: Seq[Float]): Seq[Long] =
      v.map(x => math.floor(x.toDouble * 1e7).toLong)
    def fab(a: Seq[Float], b: Seq[Float]): Long =
      fx(a).zip(fx(b)).map { case (x, y) => x * y }.sum
    def reference(cands: Seq[(Long, Long, Seq[Float])])
        : Seq[(Long, Int, Long)] = {
      var sel = Vector.empty[(Long, Int, Long)]
      var rem = cands
      for (round <- 1 to MmrPicks.Rounds if rem.nonEmpty) {
        val scored = rem.map { case (cid, fq, ec) =>
          val pen =
            if (round == 1) 0L
            else sel.map(s => fab(ec,
              cands.find(_._1 == s._1).get._3)).max
          val sc = if (round == 1) MmrPicks.RelW * fq
                   else MmrPicks.RelW * fq - MmrPicks.PenW * pen
          (cid, sc)
        }
        val (bc, bs) = scored.minBy { case (cid, sc) => (-sc, cid) }
        sel :+= ((bc, round, bs))
        rem = rem.filterNot(_._1 == bc)
      }
      sel
    }
    // fixture with deliberate score ties (identical vectors → equal fq
    // and pairwise penalties: the cid tie-break decides), plus a
    // short-candidate query (fewer candidates than rounds → fewer
    // picks) and an empty-vector query
    val g1 = Seq( // qid 1: 7 candidates, two identical (3, 4)
      (1L, Seq(1.0f, 0.5f)), (2L, Seq(0.9f, 0.7f)),
      (3L, Seq(0.8f, 0.8f)), (4L, Seq(0.8f, 0.8f)),
      (5L, Seq(-0.2f, 0.9f)), (6L, Seq(0.1f, -0.4f)),
      (7L, Seq(0.55f, 0.55f)))
    val g2 = Seq((11L, Seq(0.3f, 0.3f)), (12L, Seq(0.31f, 0.29f))) // 2 < 5
    val qv = Seq(0.6f, 0.4f)
    def mk(g: Seq[(Long, Seq[Float])]) =
      g.map { case (cid, ec) => (cid, fab(qv, ec), ec) }
    val data = mk(g1).map { case (c, f, e) => (1L, c, f, e) } ++
      mk(g2).map { case (c, f, e) => (2L, c, f, e) }
    for (codegenOn <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", codegenOn)
      try {
        val got = data.toDF("qid", "cid", "fq", "ec")
          .groupBy(col("qid"))
          .agg(collect_list(struct(col("cid"), col("fq"), col("ec")))
            .as("cs"))
          .select(col("qid"), explode(MmrPicks.mmrPicks(col("cs")))
            .as("p"))
          .select(col("qid"), col("p.cid"), col("p.pick"), col("p.score"))
          .collect()
          .map(r => (r.getLong(0), (r.getLong(1), r.getInt(2),
            r.getLong(3))))
          .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._2).toSeq)
          .toMap
        assert(got(1L) == reference(mk(g1)), s"codegen=$codegenOn g1")
        assert(got(2L) == reference(mk(g2)), s"codegen=$codegenOn g2")
        assert(got(2L).size == 2, "short group must stop at 2 picks")
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }
}
