package graft.llmops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Distributed SPHERICAL k-means (Lloyd iterations with unit-norm
  * centroids) over an embedding column — the trained-centroid path for
  * the IVF index (Similarity.q52 uses a deterministic seed set as its
  * oracle-replicable stand-in; THIS is what production runs at ingest
  * to build the cell layout). Spherical because assignment maximizes
  * the dot product (= cosine for unit vectors): renormalizing the mean
  * keeps the update step the argmax of the same objective, which makes
  * the within-cluster cost monotone non-increasing.
  *
  * Scale shape per iteration (the only data-sized costs):
  *  - assignment: centroids ride along as a k × dim literal (tiny), and
  *    the per-row argmax over k native-codegen dot products is a pure
  *    projection — NO shuffle, NO join, NO window over the corpus;
  *  - update: one hash aggregation keyed by (cell, dimension) — map-side
  *    partial sums mean the exchange carries k × dim running sums per
  *    partition, not rows.
  * The driver holds only the k centroids between iterations (a collect
  * of k × dim mean rows — bounded by k, never by corpus size).
  *
  * Determinism: init = first k vectors by id; distances compared on the
  * exact fixed-point dot (unit-norm vectors: argmax dot = argmin L2),
  * ties broken toward the smaller cell id; means come from exact int64
  * fixed-point sums, and the renormalization norm from an exact int64
  * sum of squared fixed-point means (order-free — no float-accumulation
  * order dependence anywhere). Same inputs → identical centroids on any
  * cluster layout or partitioning, and on any engine that follows the
  * same formula (proven by the q53/q54 DuckDB oracles, which replay the
  * full training loop in SQL and hash-match cell assignments).
  */
object KMeans {

  /** One row per centroid: (cell id, centroid vector). */
  final case class Centroid(cell: Long, centroid: Array[Double])

  /** The FAISS training-set guidance floor: ~39 points per centroid
    * (faiss/Clustering min_points_per_centroid — below it the trainer
    * warns of undertraining). SCALING.md round 12 measured the regime
    * this guards: at ~3 points/codeword the trained quantizer LOSES to
    * the seeded one (q194 spec-fixture recall 0.238 vs 0.300) while at
    * ≥39·k it wins — so the floor is a measured line, not folklore.
    */
  def minTrainPoints(k: Int): Long = 39L * k

  /** True when a training sample of `nTrain` rows is below the FAISS
    * guidance floor for `k` centroids/codewords.
    */
  def undertrained(nTrain: Long, k: Int): Boolean =
    nTrain < minTrainPoints(k)

  private[llmops] def warnIfUndertrained(what: String, nTrain: Long,
      k: Int): Unit =
    if (undertrained(nTrain, k))
      // stderr, not log4j: the dev tools run at log level ERROR and a
      // silently-swallowed diagnostic guards nothing
      System.err.println(
        s"WARN $what: training sample n_train=$nTrain is below the " +
          s"FAISS guidance floor ${minTrainPoints(k)} (39*k for k=$k) " +
          "— the trained artifact is likely undertrained (SCALING.md " +
          "round-12 measurement); train on a larger sample or lower k.")

  /** Per-row argmax over the k centroids: struct(fdot, neg_cell)
    * compares field-by-field, so array_max = highest dot, ties →
    * smallest cell. The comparison runs on the EXACT int64 fixed-point
    * dot — a double-converted dot would collapse distinct fdots above
    * 2^53 (dims ≳ 91) and could rank differently from the oracle's
    * BIGINT ORDER BY. The transform runs over k elements (small); each
    * dot is the native codegen'd FixedDotSum. [[cost]] reads its fdot,
    * and the test-scope graft.HofForms.bestHof pins [[assign]]'s native
    * expression to it (optimization r16: `transform`/`array_max` are
    * CodegenFallback, and the assignment runs corpus-sized per
    * invocation on the live IVF search paths).
    */
  private[graft] def bestStruct(vec: Column,
      centroids: Seq[Centroid]): Column = {
    val cents = typedLit(centroids.map(c => (c.cell, c.centroid.toSeq)))
    array_max(transform(cents, c =>
      struct(
        graft.functions.VectorDot.fixedDotSum(vec, c.getField("_2"))
          .as("fdot"),
        (-c.getField("_1")).as("neg_cell"))))
  }

  /** Assign every vector to its nearest centroid — a pure projection
    * (one native codegen'd argmax per row; identical exact fixed-point
    * dot + smaller-cell tie rule as [[bestStruct]], FunctionsSpec-pinned).
    */
  def assign(embeddings: DataFrame, centroids: Seq[Centroid],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val sorted = centroids.sortBy(_.cell)
    val cents = typedLit(sorted.flatMap(_.centroid.toSeq))
    val cells = typedLit(sorted.map(_.cell))
    embeddings
      .select(col(idCol), col(vecCol),
        graft.functions.BestDotCell.bestDotCell(
          col(vecCol).cast("array<double>"), cents, cells)
          .cast(LongType).as("cell"))
  }

  /** Train k centroids with `iters` Lloyd iterations. */
  def fit(spark: SparkSession, embeddings: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): Seq[Centroid] =
    fitStats(spark, embeddings, k, iters, idCol, vecCol)._1

  /** [[fit]] plus the TRAINING-SAMPLE SIZE, measured for free off the
    * first iteration's update aggregate (every training row lands in
    * exactly one (cell, pos=0) count — no extra corpus pass). Emits the
    * [[warnIfUndertrained]] diagnostic; store builders persist the
    * returned n_train in their `_train_stats` sidecar so fsck /
    * StoreAudit can surface undertrained stores.
    */
  def fitStats(spark: SparkSession, embeddings: DataFrame, k: Int,
      iters: Int, idCol: String = "vec_id", vecCol: String = "embedding")
      : (Seq[Centroid], Long) = {
    import spark.implicits._

    var nTrain = -1L

    // deterministic seed: the first k vectors by id (kmeans|| would
    // sample at scale — seeded runs must be reproducible here)
    var centroids: Seq[Centroid] = embeddings
      .orderBy(col(idCol)).limit(k)
      .select(col(idCol), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .collect()
      .zipWithIndex
      .map { case ((_, v), i) => Centroid(i.toLong, v) }
      .toSeq
    // fail FAST on n < k: letting the build succeed with fewer seed
    // centroids than the config records would make every later read
    // throw the misleading "centroid table is truncated" error
    require(centroids.size == k,
      s"KMeans.fit(k=$k) found only ${centroids.size} training " +
        "vectors — the corpus has fewer rows than k; lower k (or use " +
        "the auto-k builders, which floor at 4) or grow the corpus.")
    // the dimension comes from the seeds just collected (no separate
    // action); a ragged corpus fails here, not at an arbitrary row's size
    val lens = centroids.map(c => Option(c.centroid).fold(-1)(_.length))
    val dims = lens.headOption.getOrElse(0)
    require(dims >= 0 && lens.forall(_ == dims),
      s"KMeans.fit(k=$k): the seed vectors have lengths " +
        s"${lens.distinct.mkString(", ")} (-1 = NULL) — every embedding " +
        "must be a non-NULL vector of one length.")

    for (_ <- 0 until iters) {
      // update step: exact fixed-point sums per (cell, dimension) in one
      // combiner-reduced hash-agg; k × dim result rows to the driver
      val rows = assign(embeddings, centroids, idCol, vecCol)
        .select(col("cell"), posexplode(col(vecCol)).as(Seq("pos", "v")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(floor(col("v").cast(DoubleType) * lit(1e7)).cast(LongType))
          .as("fsum"), count(lit(1)).as("n"))
        .select(col("cell"), col("pos"),
          (col("fsum").cast(DoubleType) / lit(1e7) / col("n")).as("m"),
          col("n"))
        .as[(Long, Int, Double, Long)]
        .collect()
      if (nTrain < 0) nTrain = rows.filter(_._2 == 0).map(_._4).sum
      val next = rows
        .groupBy(_._1)
        .map { case (cell, rs) =>
          val vec = new Array[Double](dims)
          rs.foreach { case (_, pos, m, _) => vec(pos) = m }
          // spherical update: renormalize the mean so the next argmax-dot
          // assignment minimizes the same cosine objective. The norm is
          // computed from the FIXED-POINT mean (exact int64 sum of
          // floor(m*1e7)^2) so it is order-free: a plain double sum-of-
          // squares depends on accumulation order, which a SQL oracle
          // (unordered SUM) cannot replicate bit-for-bit.
          val fl = vec.map(m => math.floor(m * 1e7).toLong)
          val norm = math.sqrt(fl.map(f => f * f).sum.toDouble) / 1e7
          Centroid(cell, if (norm > 0) vec.map(_ / norm) else vec)
        }
        .toSeq
      // empty cells keep their previous centroid
      val byCell = next.map(c => c.cell -> c).toMap
      centroids = centroids.map(c => byCell.getOrElse(c.cell, c))
    }
    // iters=0 never observes the update agg — pay one count for the
    // diagnostic (no production caller trains with zero iterations)
    if (nTrain < 0) nTrain = embeddings.count()
    warnIfUndertrained(s"KMeans.fit(k=$k)", nTrain, k)
    (centroids, nTrain)
  }

  /** Within-cluster cost: SUM(1 - dot(v, nearest centroid)) — for unit
    * vectors, half the squared L2 distance; non-increasing across Lloyd
    * iterations. One aggregation, no join.
    */
  def cost(embeddings: DataFrame, centroids: Seq[Centroid],
      vecCol: String = "embedding"): Double =
    embeddings
      .select((lit(1.0) -
        bestStruct(col(vecCol).cast("array<double>"), centroids)
          .getField("fdot")
          .cast(DoubleType) / lit(1e14))
        .as("d"))
      .agg(sum(col("d"))).head().getDouble(0)
}
