package graft.llmops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** TRAINED product-quantization codebooks — per-subspace Lloyd k-means
  * (the real FAISS `ProductQuantizer::train` contract: an independent
  * k-means in each of the m subspaces), replacing the seeded
  * first-cb-vectors codebook that q56 documents as the cheap
  * random-sample stand-in. Training runs plain (non-spherical) L2
  * k-means: subvectors are not unit-norm, so the spherical
  * renormalization of [[KMeans]] does not apply — the centroid update
  * is the plain fixed-point mean.
  *
  * Scale shape per iteration (mirrors [[KMeans.fit]]):
  *  - assignment is a PURE PROJECTION: the m·cb·subDim codebook rides
  *    along as a literal and each row computes its per-subspace argmin
  *    over cb exact int64 squared-L2 distances — NO join, NO window,
  *    NO shuffle over the corpus (q56's join+window encode is the
  *    gate-replayable form; this is the train-loop form);
  *  - update: one hash aggregation keyed by (s, cw, pi) — map-side
  *    partial sums mean the exchange carries m·cb·subDim running sums
  *    per partition, not rows.
  * The driver holds only the m·cb·subDim codebook between iterations.
  *
  * Determinism (the oracle-replay contract): components quantize with
  * [[PortableHash.fixedPoint]] (floor(v·1e7), exact); distances are
  * exact int64 sums of squared component deltas; argmin ties break
  * toward the smaller codeword id; the update mean is
  * floor(double(Σfv)/n) — one int64 sum, one IEEE divide, one floor —
  * and empty codewords keep their previous components. Same inputs →
  * bit-identical codebooks on any engine (proven by the q192/q194
  * DuckDB oracles, which replay the full training in unrolled SQL).
  */
object PqCodebook {

  /** One codeword component: subspace `cs`, codeword `cw`, component
    * index `cpi`, fixed-point value `fc`.
    */
  final case class Codeword(cw: Long, cs: Int, cpi: Int, fc: Long)

  /** Per-row PQ code assignment as a projection column: an
    * array<long> of length m where element s (0-based) is the argmin
    * codeword id for subspace s — exact int64 squared-L2, ties to the
    * smaller cw. `vec` must be an array<double> column.
    */
  def codesOf(vec: Column, cbRows: Seq[Codeword], m: Int,
      subDim: Int): Column = {
    // native codegen argmin (optimization r16) — the previous
    // transform/zip_with/aggregate chain was CodegenFallback and ran
    // corpus-sized per invocation on q192's live path; codeword ids
    // are dense 0..cb-1 by the fit/seed contracts, letting the
    // codebook ride along as ONE flat int64 literal in (s, cw, pi)
    // order. Identical exact int64 squared-L2 + smaller-cw tie rule
    // (graft.HofForms.codesOfHof is the pinned test reference).
    val cws = cbRows.map(_.cw).distinct.sorted
    val cb = cws.size
    require(cws == (0L until cb.toLong),
      s"codesOf requires dense codeword ids 0..${cb - 1}, got $cws")
    val byKey = cbRows.map(c => (c.cs, c.cw, c.cpi) -> c.fc).toMap
    val flat = for {
      s <- 0 until m; cw <- 0 until cb; pi <- 0 until subDim
    } yield byKey.getOrElse((s, cw.toLong, pi),
      throw new IllegalArgumentException(
        s"codesOf: codebook missing component (s=$s, cw=$cw, pi=$pi)"))
    graft.functions.PqEncodeCodes.pqEncodeCodes(vec, typedLit(flat),
      m, subDim)
  }

  /** Train m per-subspace codebooks of cb codewords with `iters` Lloyd
    * iterations. Seed = the subvectors of the cb smallest-id vectors
    * (cw = rank by id), the deterministic analogue of FAISS's sampled
    * init.
    */
  def fit(spark: SparkSession, vecs: DataFrame, m: Int, cb: Int,
      subDim: Int, iters: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): Seq[Codeword] =
    fitStats(spark, vecs, m, cb, subDim, iters, idCol, vecCol)._1

  /** [[fit]] plus the training-sample size, measured for free off the
    * first iteration's update aggregate ([[KMeans.fitStats]]'s
    * discipline — every training vector lands in exactly one
    * (s=0, cw, pi=0) count). Emits the FAISS 39·cb undertraining
    * diagnostic; builders persist n_train in `_train_stats`.
    */
  def fitStats(spark: SparkSession, vecs: DataFrame, m: Int, cb: Int,
      subDim: Int, iters: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): (Seq[Codeword], Long) = {
    import spark.implicits._

    var nTrain = -1L
    val seedVecs = vecs.orderBy(col(idCol)).limit(cb)
      .select(col(idCol), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .collect()
    // fail FAST on n < cb — the KMeans.fit seed-count discipline
    require(seedVecs.length == cb,
      s"PqCodebook.fit(cb=$cb) found only ${seedVecs.length} training " +
        "vectors — the corpus has fewer rows than cb; grow the corpus.")
    var cbRows: Seq[Codeword] = seedVecs.sortBy(_._1).zipWithIndex
      .flatMap { case ((_, v), rank) =>
        v.zipWithIndex.map { case (x, p) =>
          Codeword(rank.toLong, p / subDim, p % subDim,
            math.floor(x * PortableHash.FixedScale).toLong)
        }
      }
      .toSeq

    for (_ <- 0 until iters) {
      // one corpus pass: per-row projection assignment, then a
      // combiner-reduced hash-agg keyed by (s, cw, pi); the update
      // mean floor(double(Σfv)/n) replays as
      // FLOOR(CAST(SUM(fv) AS DOUBLE)/COUNT(*)) in SQL
      val rows = vecs
        .select(col(vecCol).cast("array<double>").as("v"))
        .withColumn("codes", codesOf(col("v"), cbRows, m, subDim))
        .select(posexplode(col("v")).as(Seq("pos0", "x")), col("codes"))
        .select((col("pos0") / subDim).cast("int").as("s"),
          (col("pos0") % subDim).cast("int").as("pi"),
          PortableHash.fixedPoint(col("x")).as("fv"),
          element_at(col("codes"),
            (col("pos0") / subDim).cast("int") + 1).as("cw"))
        .groupBy(col("s"), col("cw"), col("pi"))
        .agg(sum(col("fv")).as("fsum"), count(lit(1)).as("n"))
        .select(col("s"), col("cw"), col("pi"),
          floor(col("fsum").cast(DoubleType) / col("n"))
            .cast(LongType).as("fc"), col("n"))
        .as[(Int, Long, Int, Long, Long)]
        .collect()
      if (nTrain < 0)
        nTrain = rows.filter(r => r._1 == 0 && r._3 == 0).map(_._5).sum
      val next = rows
        .map { case (s, cw, pi, fc, _) => (s, cw, pi) -> fc }
        .toMap
      // empty codewords keep their previous components
      cbRows = cbRows.map(c =>
        next.get((c.cs, c.cw, c.cpi)).map(fc => c.copy(fc = fc))
          .getOrElse(c))
    }
    if (nTrain < 0) nTrain = vecs.count()
    KMeans.warnIfUndertrained(s"PqCodebook.fit(cb=$cb)", nTrain, cb)
    (cbRows, nTrain)
  }

  /** The trained codebook as a broadcast-tier DataFrame
    * (cw, cs, cpi, fc) — the join-shaped form the ADC/encode paths
    * consume.
    */
  def toDf(spark: SparkSession, cbRows: Seq[Codeword]): DataFrame = {
    import spark.implicits._
    cbRows.toDF("cw", "cs", "cpi", "fc")
  }
}
