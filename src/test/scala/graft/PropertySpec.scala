package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.functions.{CharPolyHash, TimeOfDay, VectorDot}
import graft.llmops.PortableHash

/** Randomized equivalence properties for the custom expression surface.
  *
  * The native codegen expressions (CharPolyHash, FixedDotSum, DoubleDot)
  * carry a contract: SAME semantics as their composed-builtin HOF
  * formulations (which the DuckDB oracles mirror). The fixture-based
  * specs pin a handful of values; these properties pin the equivalence
  * over hundreds of randomized inputs per run — including the edge
  * shapes that broke things before (empty strings with Spark's
  * descending `sequence(1,0)`, mismatched array lengths, null
  * elements). Batched into one DataFrame per property so the suite
  * stays fast.
  */
class PropertySpec extends SparkTestBase {

  private val rnd = new scala.util.Random(20260812L)

  test("FixedDotSum/DoubleDot == HOF formulations; NULL semantics match") {
    import spark.implicits._
    val rows = (1 to 300).map { i =>
      val dims = 1 + rnd.nextInt(128)
      val a = Array.fill(dims)(rnd.nextDouble() * 2 - 1)
      // every ~6th pair gets a length mismatch -> both forms must NULL
      val bDims = if (i % 6 == 0) dims + 1 else dims
      val b = Array.fill(bDims)(rnd.nextDouble() * 2 - 1)
      (i.toLong, a.toSeq, b.toSeq)
    }
    val df = rows.toDF("id", "a", "b").select(
      col("id"),
      VectorDot.fixedDotSum(col("a"), col("b")).as("native_fixed"),
      aggregate(
        zip_with(col("a"), col("b"),
          (x, y) => PortableHash.fixedPoint(x) * PortableHash.fixedPoint(y)),
        lit(0L), (acc, v) => acc + v).as("hof_fixed"),
      VectorDot.doubleDot(col("a"), col("b")).as("native_dbl"),
      HofForms.fastDotHof(col("a"), col("b")).as("hof_dbl"))
    df.collect().foreach { r =>
      val id = r.getLong(0)
      assert(r.isNullAt(1) == r.isNullAt(2), s"row $id fixed null drift")
      if (!r.isNullAt(1))
        assert(r.getLong(1) == r.getLong(2), s"row $id fixed value drift")
      assert(r.isNullAt(3) == r.isNullAt(4), s"row $id dbl null drift")
      if (!r.isNullAt(3))
        assert(r.getDouble(3) == r.getDouble(4), s"row $id dbl value drift")
    }
  }

  test("fastDot prefilter error is within the dims-scaled dotEps margin") {
    import spark.implicits._
    // contract domain: embedding components in [-1, 1] (unit-norm
    // vectors) — dotEps(dims) must dominate |fastDot - exactDot|
    val rows = (1 to 300).map { i =>
      val dims = 1 + rnd.nextInt(512)
      def unit(): Seq[Double] = {
        val v = Array.fill(dims)(rnd.nextDouble() * 2 - 1)
        val n = math.sqrt(v.map(x => x * x).sum)
        (if (n > 0) v.map(_ / n) else v).toSeq
      }
      (i.toLong, unit(), unit())
    }
    val bad = rows.toDF("id", "a", "b").select(
      col("id"),
      abs(PortableHash.fastDot(col("a"), col("b")) -
        PortableHash.exactDot(col("a"), col("b"))).as("err"),
      PortableHash.dotEps(col("a")).as("eps"))
      .filter(col("err") > col("eps"))
    assert(bad.count() == 0,
      bad.collect().take(3).mkString("dotEps violated: ", "; ", ""))
  }

  test("CharPolyHash native == HOF == driver-side reference hash") {
    import spark.implicits._
    val printable = (' ' to '~').toArray
    val rows = (1 to 300).map { i =>
      val len = if (i <= 5) 0 else rnd.nextInt(300) // empty strings too
      (i.toLong, String.valueOf(Array.fill(len)(
        printable(rnd.nextInt(printable.length)))))
    }
    val got = rows.toDF("id", "s").select(
      col("id"), col("s"),
      CharPolyHash.charPolyHash(col("s")).as("native"),
      PortableHash.charHash(col("s")).as("hof"))
      .collect()
    val expect = rows.toMap
    got.foreach { r =>
      val s = expect(r.getLong(0))
      if (s.isEmpty) {
        // empty string -> NULL by contract in BOTH forms (mirrors the
        // oracle's list_sum([]) % P = NULL)
        assert(r.isNullAt(2) && r.isNullAt(3), s"row ${r.getLong(0)} empty")
      } else {
        val ref = CharPolyHash.hash(s)
        assert(r.getLong(2) == ref, s"row ${r.getLong(0)} native != reference")
        assert(r.getLong(3) == ref, s"row ${r.getLong(0)} hof != reference")
      }
    }
  }

  test("TimeOfDay: roundtrip and wrap-aware difference properties") {
    import spark.implicits._
    val rows = (1 to 400).map { i =>
      (i.toLong, rnd.nextInt(86400), rnd.nextInt(86400))
    }
    def fmt(s: Int) = f"${s / 3600}%02d:${s % 3600 / 60}%02d:${s % 60}%02d"
    val df = rows.map { case (id, s1, s2) => (id, fmt(s1), fmt(s2)) }
      .toDF("id", "t1", "t2").select(
        col("id"),
        TimeOfDay.toSeconds(col("t1")).as("secs"),
        TimeOfDay.fromSeconds(TimeOfDay.toSeconds(col("t1"))).as("back"),
        TimeOfDay.diffSeconds(col("t1"), col("t2")).as("diff"))
      .collect()
    val byId = rows.map(r => r._1 -> r).toMap
    df.foreach { r =>
      val (id, s1, s2) = byId(r.getLong(0))
      assert(r.getInt(1) == s1, s"row $id toSeconds")
      assert(r.getString(2) == fmt(s1), s"row $id roundtrip")
      assert(r.getInt(3) == ((s2 - s1 + 86400) % 86400), s"row $id diff")
    }
  }

  test("connectedComponents == union-find on random graphs") {
    import spark.implicits._
    (1 to 5).foreach { trial =>
      val n = 20 + rnd.nextInt(60)
      val ids = (0 until n).map(_.toLong)
      val edges = (0 until n).flatMap { _ =>
        if (rnd.nextBoolean())
          Some((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        else None
      }
      // reference: classic union-find, min-id canonical labels
      val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = ids.map(i => i -> find(i)).toMap
      // both implementations behind the API: star contraction (the
      // default) and min-label propagation must agree with the model
      val got = graft.llmops.Components.connectedComponents(
        ids.toDF("id"), edges.toDF("u", "v"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trial $trial, n=$n, edges=$edges")
      val gotMl = graft.llmops.Components.minLabelComponents(
        ids.toDF("id"), edges.toDF("u", "v"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotMl == want, s"min-label trial $trial, n=$n, edges=$edges")
    }
  }

  test("star contraction: deep path graph converges in O(log n) rounds") {
    import spark.implicits._
    // a 1000-node path is the adversarial case for one-hop label
    // propagation (rounds = diameter = 999); star contraction must
    // close it in logarithmic rounds with the min as every label
    val n = 1000
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong))
      .toDF("u", "v")
    val (labels, rounds) =
      graft.llmops.Components.starContract(edges)
    assert(rounds <= 20, s"rounds=$rounds not O(log n) for n=$n")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == n)
    assert(got.forall(_._2 == 1L), "every node must label to the min id")
  }

  test("shardPositions == naive per-shard row_number on random keys") {
    import spark.implicits._
    (1 to 3).foreach { trial =>
      val n = 200 + rnd.nextInt(800)
      // sparse non-contiguous keys, like real doc ids after dedup
      val keys = scala.collection.mutable.LinkedHashSet[Long]()
      while (keys.size < n) keys += math.abs(rnd.nextLong()) % 100000000L
      val df = keys.toSeq.toDF("doc_id")
      val got = graft.llmops.Sampling.shardPositions(df, "doc_id", 8)
        .select("doc_id", "shard", "pos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
      val h = ((col("doc_id") % 1000000007L) * lit(2654435761L)
        + lit(12345L)) % 1000000007L
      val naive = df.select(col("doc_id"), h.as("h"), (h % 8L).as("shard"))
        .withColumn("pos", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))))
        .select("doc_id", "shard", "pos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
      assert(got.toSeq == naive.toSeq, s"trial $trial")
    }
  }

  test("q118 diff statuses partition both snapshots' keyspaces") {
    val out = graft.etl.Reconcile.q118.run(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val t = graft.ops.Tables(spark, sfDir)
    val nOld = t.orders.filter(col("o_orderkey") % 11 =!= 0).count()
    val nNew = t.orders.filter(col("o_orderkey") % 13 =!= 0).count()
    def g(k: String) = out.getOrElse(k, 0L)
    assert(g("added") + g("changed") + g("unchanged") == nNew,
      s"new-side partition broken: $out vs $nNew")
    assert(g("removed") + g("changed") + g("unchanged") == nOld,
      s"old-side partition broken: $out vs $nOld")
    assert(g("changed") > 0 && g("added") > 0 && g("removed") > 0,
      s"fixture must exercise every status: $out")
  }

  test("MergeOps.merge == reference map-merge on random changesets") {
    import spark.implicits._
    (1 to 5).foreach { trial =>
      val keys = (0 until 30).map(_.toLong)
      val snap = keys.filter(_ => rnd.nextBoolean())
        .map(k => (k, s"v$k", rnd.nextInt(100).toDouble))
      val snapKeys = snap.map(_._1).toSet
      val chg = keys.filter(_ => rnd.nextDouble() < 0.4).map { k =>
        val op = Seq("I", "U", "D")(rnd.nextInt(3))
        (k, s"c$k", rnd.nextInt(100).toDouble, op)
      }
      // reference semantics: matched U replaces, matched D deletes,
      // unmatched I inserts, everything else passes/ignores
      val ref = scala.collection.mutable.Map(
        snap.map(r => r._1 -> (r._2, r._3, "kept")): _*)
      chg.foreach { case (k, nm, bal, op) =>
        (snapKeys.contains(k), op) match {
          case (true, "U")  => ref(k) = (nm, bal, "updated")
          case (true, "D")  => ref.remove(k); ()
          case (false, "I") => ref(k) = (nm, bal, "inserted")
          case _            => ()
        }
      }
      val got = graft.etl.MergeOps.merge(
        snap.toDF("k", "name", "bal"),
        chg.toDF("k", "name", "bal", "op"), "k", "op")
        .collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2),
          r.getString(3))).toMap
      assert(got == ref.toMap, s"trial $trial")
    }
  }

  test("Z-order prune never loses rows on randomized 2D bands") {
    // the invariant that matters at 100 TB: for ANY rectangle of
    // predicate bounds, manifest pruning + re-applied filter equals the
    // full-scan filter exactly — skipping is an optimization, never a
    // semantics change
    val full = graft.ops.Tables(spark, sfDir).orders
      .select(col("o_custkey"), col("o_orderkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val (_, total, (cMin, cMax, kMin, kMax)) =
      graft.ops.Layout.zorderPrune(spark, sfDir, None, None)
    var skippedAtLeastOnce = false
    (1 to 12).foreach { _ =>
      def band(lo: Long, hi: Long): (Long, Long) = {
        val a = lo + math.abs(rnd.nextLong()) % (hi - lo + 1)
        val b = lo + math.abs(rnd.nextLong()) % (hi - lo + 1)
        (math.min(a, b), math.max(a, b))
      }
      val cb = band(cMin, cMax)
      val kb = band(kMin, kMax)
      val (files, t, _) =
        graft.ops.Layout.zorderPrune(spark, sfDir, Some(cb), Some(kb))
      assert(t == total)
      if (files.size < total) skippedAtLeastOnce = true
      val want = full.count { case (c, k) =>
        c >= cb._1 && c <= cb._2 && k >= kb._1 && k <= kb._2 }
      val got =
        if (files.isEmpty) 0L
        else spark.read.parquet(files: _*)
          .filter(col("o_custkey").between(cb._1, cb._2) &&
            col("o_orderkey").between(kb._1, kb._2)).count()
      assert(got == want, s"band $cb x $kb: pruned read $got != $want")
    }
    assert(skippedAtLeastOnce, "no random band ever skipped a file")
  }

  test("spanHashes: count, shift-sensitivity, and driver-side reference") {
    import spark.implicits._
    val p = 1000000007L
    def refTok(s: String): Long =
      if (s.isEmpty) 0L else CharPolyHash.hash(s)
    def refSpan(ths: Seq[Long], i: Int, n: Int): Long =
      (0 until n).map { d =>
        val m = ((d + 1).toLong * (d + 1) * 2654435761L + (d + 1) * 97L) % p
        ths(i + d) * m % p
      }.sum % p
    (1 to 20).foreach { trial =>
      val n = 2 + rnd.nextInt(3) // span lengths 2..4
      val words = Array.fill(3 + rnd.nextInt(30))(
        String.valueOf(Array.fill(1 + rnd.nextInt(8))(
          ('a' + rnd.nextInt(26)).toChar)))
      val got = Seq(words.mkString(" ")).toDF("text")
        .select(PortableHash.spanHashes(
          PortableHash.tokenHashes(PortableHash.tokens(col("text"))), n))
        .head().getSeq[Long](0)
      val ths = words.toSeq.map(refTok)
      val want = (0 to words.length - n).map(i => refSpan(ths, i, n))
      assert(got == want, s"trial $trial (n=$n)")
      assert(got.length == math.max(0, words.length - n + 1))
    }
    // shifting a window by one token must change the hash (positional)
    val ths = Seq("aa", "bb", "cc", "dd").map(refTok)
    assert(refSpan(ths, 0, 3) != refSpan(ths, 1, 3))
  }

  test("SchemaEvolution: ingest preserves rows; alignTo is idempotent") {
    import spark.implicits._
    import graft.etl.SchemaEvolution
    (1 to 10).foreach { trial =>
      val a = (1 to 1 + rnd.nextInt(20))
        .map(i => (i, s"n$i", rnd.nextInt(100)))
        .toDF("id", "name", "x")
      val dropName = rnd.nextBoolean()
      val b0 = (1 to 1 + rnd.nextInt(20))
        .map(i => (i.toLong, s"m$i", rnd.nextDouble()))
        .toDF("id", "name", "y") // id widened, y added
      val b = if (dropName) b0.drop("name") else b0
      val out = SchemaEvolution.ingest(a, b)
      assert(out.count() == a.count() + b.count(), s"trial $trial rows")
      // evolved schema is a fixpoint: aligning the result again is a no-op
      val again = SchemaEvolution.alignTo(out.schema, out)
      assert(again.schema == out.schema)
      assert(again.count() == out.count())
      // every original (id, x) survives
      val xs = out.select(col("id"), col("x")).na.drop()
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      val want = a.collect().map(r => (r.getInt(0).toLong, r.getInt(2))).toSet
      assert(xs == want, s"trial $trial x-survival")
    }
  }
}
