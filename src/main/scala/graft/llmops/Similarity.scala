package graft.llmops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ops.{EngineQuery, Tables}
import PortableHash._

/** Approximate-nearest-neighbor search over the embedding column
  * (SURVEY.md §2.4 [ext]). Vectors are unit-norm, so cosine = dot.
  *
  * Scale story: q50 is the exact baseline (bounded query set × all
  * candidates — fine when queries are few or the candidate side is
  * broadcastable); q51 is the scale path — sign-random-projection LSH
  * buckets co-partition candidates so the pair space is per-bucket, and
  * the bucket id is computed per-row with no shuffle at all.
  */
object Similarity {

  /** Brute-force exact top-k: fixed query set (vec_id < 10) against all
    * candidates; per-query top-8 by (dot DESC, vec_id). At scale the
    * query side is broadcast and the candidate scan streams.
    */
  val q50 = EngineQuery(
    "q50_knn_brute",
    (s, dir) => {
      val t = Tables(s, dir)
      val q = t.embeddings.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("eq"))
      val c = t.embeddings
        .select(col("vec_id").as("cid"), col("embedding").as("ec"))
      // two-phase: double-dot prefilter per query, exact fixed-point
      // dots only on survivors. The cutoff is the 8th-largest approx
      // score minus a dims-scaled EPS (PortableHash.dotEps — the
      // quantization gap grows with vector width), so the exact top-8
      // is guaranteed contained at any embedding width — a fixed
      // candidate count could drop a winner when scores cluster at the
      // boundary.
      val wPre = Window.partitionBy(col("qid"))
        .orderBy(col("approx").desc, col("cid"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col("cid"))
      broadcast(q).join(c, col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"), col("eq"), col("ec"),
          fastDot(col("eq"), col("ec")).as("approx"))
        .withColumn("kth_approx", nth_value(col("approx"), 8).over(wPre))
        .filter(col("kth_approx").isNull ||
          col("approx") >= col("kth_approx") - dotEps(col("eq")))
        .select(col("qid"), col("cid"), exactDot(col("eq"), col("ec")).as("sim"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 8)
        .select(col("qid"), col("cid"), col("sim"), col("rn"))
        .orderBy(col("qid"), col("rn"))
    },
    Some("""WITH ex AS (
              SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) v,
                generate_subscripts(embedding, 1) pos
              FROM embeddings
            ), q AS (SELECT * FROM ex WHERE vec_id < 10),
            dots AS (
              SELECT q.vec_id qid, c.vec_id cid,
                CAST(SUM(CAST(FLOOR(q.v*10000000.0) AS BIGINT)
                       * CAST(FLOOR(c.v*10000000.0) AS BIGINT)) AS DOUBLE)
                  / 100000000000000.0 AS sim
              FROM q JOIN ex c ON q.pos = c.pos AND q.vec_id != c.vec_id
              GROUP BY 1, 2
            ), rk AS (
              SELECT *, row_number() OVER (
                PARTITION BY qid ORDER BY sim DESC, cid) rn
              FROM dots
            )
            SELECT qid, cid, sim, rn FROM rk WHERE rn <= 8
            ORDER BY qid, rn"""),
    bench = true)

  /** Sign-random-projection bucket per vector — 8 deterministic
    * pseudo-random hyperplanes (component signs from the portable hash
    * formula), bucket = 8 sign bits. Returns (vec_id, bucket); the id is
    * computed per-row with no shuffle beyond one vec_id hash-agg. Shared
    * by q51 (LSH candidate pairs) and q44 (embedding near-dup blocking).
    *
    * sign(p, c) = +1 if ((p*31+c)*2654435761 mod P) is even else -1.
    * One posexplode + 8 codegen'd signed fixed-point SUM aggregates:
    * exact int64 sums (bit-identical to the oracle), no interpreted
    * HOF lambdas, map-side partial aggregation before the exchange.
    */
  private[llmops] def srpBuckets(emb: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val ex = emb.select(col("vec_id"),
      posexplode(col("embedding")).as(Seq("pos0", "v")))
    val terms = ex.select(col("vec_id") +: (0 until 8).map { p =>
      val h = ((lit(p.toLong * 31L) + (col("pos0") + 1).cast("long"))
        * lit(2654435761L)) % lit(P)
      when(h % 2 === 0, fixedPoint(col("v")))
        .otherwise(-fixedPoint(col("v"))).as(s"t$p")
    }: _*)
    val sums = terms.groupBy(col("vec_id"))
      .agg(sum(col("t0")).as("s0"),
        (1 until 8).map(p => sum(col(s"t$p")).as(s"s$p")): _*)
    sums.select(col("vec_id"),
      (0 until 8).map(p =>
        when(col(s"s$p") >= 0, lit(1L << p)).otherwise(0L))
        .reduce(_ + _).as("bucket"))
  }

  /** Oracle CTE fragment computing the same buckets — ends with a
    * `buckets(vec_id, bucket)` CTE; prepend inside a WITH list.
    */
  private[llmops] val srpBucketsCtes: String =
    """sgn AS (
              SELECT vec_id, p.p,
                CASE WHEN (SELECT SUM(CASE
                    WHEN ((p.p*31 + u.pos) * 2654435761) % 1000000007 % 2 = 0
                    THEN CAST(FLOOR(CAST(u.v AS DOUBLE)*10000000.0) AS BIGINT)
                    ELSE -CAST(FLOOR(CAST(u.v AS DOUBLE)*10000000.0) AS BIGINT)
                    END)
                  FROM (SELECT UNNEST(embedding) v,
                          generate_subscripts(embedding, 1) pos) u) >= 0
                THEN (1 << p.p) ELSE 0 END AS bit
              FROM embeddings, (SELECT UNNEST(range(0,8)) p) p
            ), buckets AS (
              SELECT vec_id, CAST(SUM(bit) AS BIGINT) AS bucket
              FROM sgn GROUP BY vec_id
            )"""

  /** Sign-random-projection LSH: bucket from [[srpBuckets]]; near-dup
    * candidates only within a bucket.
    */
  val q51 = EngineQuery(
    "q51_knn_lsh_buckets",
    (s, dir) => {
      val t = Tables(s, dir)
      val buckets = srpBuckets(t.embeddings)
      // plain equi-join (no broadcast hint): buckets has one row per
      // embedding, so a forced broadcast would be unbounded at corpus
      // scale — Catalyst/AQE picks broadcast locally where it fits
      val withBucket = t.embeddings.join(buckets, "vec_id")
        .select(col("vec_id"), col("embedding"), col("bucket"))
      val a = withBucket.select(col("vec_id").as("ia"),
        col("embedding").as("ea"), col("bucket"))
      val b = withBucket.select(col("vec_id").as("ib"),
        col("embedding").as("eb"), col("bucket"))
      a.join(b, Seq("bucket"))
        .filter(col("ia") < col("ib"))
        // prefilter with the cheap double dot at a dims-scaled safety
        // margin below the exact threshold, then exact-filter survivors
        .filter(fastDot(col("ea"), col("eb")) > lit(0.2) - dotEps(col("ea")))
        .select(col("bucket"), col("ia"), col("ib"),
          exactDot(col("ea"), col("eb")).as("sim"))
        .filter(col("sim") > 0.2)
        .orderBy(col("ia"), col("ib"))
    },
    Some("WITH " + srpBucketsCtes + """, ex AS (
              SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) v,
                generate_subscripts(embedding, 1) pos
              FROM embeddings
            ), pairs AS (
              SELECT a.vec_id ia, b.vec_id ib, a.bucket
              FROM buckets a JOIN buckets b
                ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            ), dots AS (
              SELECT p.bucket, p.ia, p.ib,
                CAST(SUM(CAST(FLOOR(xa.v*10000000.0) AS BIGINT)
                       * CAST(FLOOR(xb.v*10000000.0) AS BIGINT)) AS DOUBLE)
                  / 100000000000000.0 AS sim
              FROM pairs p
              JOIN ex xa ON xa.vec_id = p.ia
              JOIN ex xb ON xb.vec_id = p.ib AND xa.pos = xb.pos
              GROUP BY 1, 2, 3
            )
            SELECT bucket, ia, ib, sim FROM dots WHERE sim > 0.2
            ORDER BY ia, ib"""))

  /** Shared IVF search over KMEANS-TRAINED centroids: fit k cells
    * (2 Lloyd iterations), assign the corpus, probe the top-2 cells per
    * query, return each query's top-8 neighbors by exact fixed-point
    * cosine. Used by q52 (k=16, the production-shaped cell count) and
    * q54 (k=4, matching q53's verified training replay). The 100 TB
    * shape: centroids broadcast (k-bounded by design), assignment is a
    * per-row argmax projection, search shuffles on cell id — candidates
    * per query are |cell|·nprobe, never |corpus|.
    */
  /** Full-corpus spherical-k-means centroids, memoized once per
    * (session, dir, k) — the q192 training-memo precedent (round-12
    * verdict #3) applied to every in-query consumer of the SAME
    * deterministic training (q52 k=16, q54 k=4, q156 k=4): the fit is
    * a pure function of the fixture corpus, so re-running its Lloyd
    * iterations per invocation bought nothing but latency. q53 — whose
    * GATE is the verified training loop itself — deliberately keeps
    * its own live `KMeans.fit` call.
    */
  private[llmops] def memoCents(s: org.apache.spark.sql.SparkSession,
      dir: String, k: Int): Seq[KMeans.Centroid] =
    graft.ops.SessionScratch.memo(s"ivf_cents_$k",
      s.sparkContext.applicationId, dir)(
      KMeans.fit(s, Tables(s, dir).embeddings, k = k, iters = 2))

  private def ivfTrained(s: org.apache.spark.sql.SparkSession,
      dir: String, k: Int): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val t = Tables(s, dir)
    val cents = memoCents(s, dir, k)
    val assigned = KMeans.assign(t.embeddings, cents)
      .select(col("vec_id").as("member_id"), col("cell"),
        col("embedding").as("em"))
    val centDf = cents.map(c => (c.cell, c.centroid.toSeq))
      .toDF("ccell", "ec")
    ivfSearchOver(
      t.embeddings.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("eq")),
      assigned, centDf)
  }

  /** The IVF probe+search tail over an arbitrary (qid, eq) query set,
    * a (member_id, cell, em) assignment table, and a (ccell, ec)
    * centroid table — shared by the in-session trained form above and
    * the PERSISTED index ([[IvfIndex]]), whose assignment table comes
    * off parquet instead of a fresh training run.
    */
  /** The IVF probe width: every IVF-routed read path inspects the top
    * 2 cells per query, the operating point the gates' oracle SQL pins.
    */
  private[llmops] val Nprobe = 2

  /** Top-[[Nprobe]] cells per query by exact int64 centroid dot (ranking
    * on the fixed-point fdot like the oracle's BIGINT ORDER BY — the
    * double form collapses distinct dots at dims ≳ 91; ties → smaller
    * cell). THE probe stage shared by every IVF-routed read path
    * (plain/filtered/PQ search, semantic probe, label propagation), so
    * a ranking change lands everywhere at once. `queries` must carry
    * `idCol` + `vecCol`; every other column passes through; the output
    * adds `cell` (and the probe rank `crn` when `keepRank`). `centDf`
    * is the (ccell, ec) centroid table.
    */
  private[graft] def probeCells(queries: org.apache.spark.sql.DataFrame,
      centDf: org.apache.spark.sql.DataFrame,
      idCol: String = "qid", vecCol: String = "eq",
      keepRank: Boolean = false): org.apache.spark.sql.DataFrame = {
    val wp = Window.partitionBy(col(idCol))
      .orderBy(col("__cdot").desc, col("ccell"))
    val ranked = queries
      .crossJoin(broadcast(centDf))
      .withColumn("__cdot", graft.functions.VectorDot.fixedDotSum(
        col(vecCol).cast("array<double>"), col("ec")))
      .withColumn("crn", row_number().over(wp))
      .filter(col("crn") <= Nprobe)
      .withColumnRenamed("ccell", "cell")
      .drop("ec", "__cdot")
    if (keepRank) ranked else ranked.drop("crn")
  }

  private[llmops] def ivfSearchOver(queries: org.apache.spark.sql.DataFrame,
      assigned: org.apache.spark.sql.DataFrame,
      centDf: org.apache.spark.sql.DataFrame,
      topk: Int = 8): org.apache.spark.sql.DataFrame = {
    val probes = probeCells(queries, centDf)
      .select(col("qid"), col("eq"), col("cell"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("member_id"))
    probes.join(assigned, Seq("cell"))
      .filter(col("qid") =!= col("member_id"))
      .select(col("qid"), col("member_id"),
        exactDot(col("eq"), col("em")).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topk)
      .select(col("qid"), col("member_id").as("cid"), col("sim"),
        col("rn"))
      .orderBy(col("qid"), col("rn"))
  }

  /** Oracle tail shared by q52/q54/q180/q208: probe + search over the
    * trained cells (d3/a3 from [[kmeansTrainCtes]]). `candPred`
    * restricts the CANDIDATE members (q208's deleted-members mask).
    */
  private def ivfProbeTail(candPred: String = "TRUE"): String =
    s""", probes AS (
         SELECT qid, cell FROM (
           SELECT vec_id AS qid, cell, row_number() OVER (
             PARTITION BY vec_id ORDER BY fdot DESC, cell) crn
           FROM d3 WHERE vec_id < 10) x
         WHERE crn <= 2
       ), cand AS (
         SELECT p.qid, a.vec_id AS member_id FROM probes p
         JOIN a3 a ON a.cell = p.cell AND a.vec_id != p.qid
         WHERE $candPred
       ), dots AS (
         SELECT c.qid, c.member_id,
           CAST(SUM(CAST(FLOOR(q.v*10000000.0) AS BIGINT)
                  * CAST(FLOOR(m.v*10000000.0) AS BIGINT)) AS DOUBLE)
             / 100000000000000.0 AS sim
         FROM cand c
         JOIN ex q ON q.vec_id = c.qid
         JOIN ex m ON m.vec_id = c.member_id AND m.pos = q.pos
         GROUP BY 1, 2
       )
       SELECT qid, member_id AS cid, sim, rn FROM (
         SELECT *, row_number() OVER (PARTITION BY qid
           ORDER BY sim DESC, member_id) rn FROM dots) x
       WHERE rn <= 8 ORDER BY qid, rn"""

  /** IVF ANN, TRAINED end-to-end at the production-shaped cell count:
    * k=16 spherical k-means cells, top-2 probes, top-8 by exact cosine
    * — the oracle replays the full k=16 training and the probe path.
    * (Round 2 shipped a first-16-vectors seed stand-in here; no
    * stand-ins remain.)
    */
  val q52 = EngineQuery(
    "q52_knn_ivf",
    (s, dir) => ivfTrained(s, dir, k = 16),
    Some(kmeansTrainCtes(16) + ivfProbeTail()))

  /** Shared oracle prefix for q52/q53/q54/q180: replays KMeans.fit(k,
    * iters=2) in unrolled SQL — seed = first k vectors; per iteration:
    * exact int64 fixed-point dot argmax (tie → smaller cell),
    * fixed-point means, fixed-point renormalization; empty cells keep
    * the previous centroid (the LEFT JOIN + COALESCE). Every step is
    * exact integer arithmetic or a bit-specified IEEE double op, so the
    * trained centroids — and everything derived from them — are
    * bit-identical across engines (KMeans.scala determinism contract).
    *
    * `trainPred` restricts TRAINING (seed selection + the per-iteration
    * assignments feeding the means) to a vec_id subset; the FINAL
    * assignment (d3/a3) always covers every vector — that is q180's
    * persisted-index shape, where the index is built on the existing
    * corpus and later arrivals are assigned under the recorded
    * centroids without retraining.
    */
  private[llmops] def kmeansTrainCtes(k: Int, trainPred: String = "TRUE"): String =
    s"""WITH ex AS (
         SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) v,
           generate_subscripts(embedding, 1) pos
         FROM embeddings
       ), seed AS (
         SELECT vec_id,
           CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell
         FROM (SELECT vec_id FROM embeddings WHERE $trainPred
               ORDER BY vec_id LIMIT $k)
       ), c0 AS (
         SELECT s.cell, e.pos, e.v AS c
         FROM seed s JOIN ex e ON e.vec_id = s.vec_id
       ), d1 AS (
         SELECT e.vec_id, c.cell,
           SUM(CAST(FLOOR(e.v*10000000.0) AS BIGINT)
             * CAST(FLOOR(c.c*10000000.0) AS BIGINT)) AS fdot
         FROM ex e JOIN c0 c ON e.pos = c.pos
         WHERE $trainPred
         GROUP BY 1, 2
       ), a1 AS (
         SELECT vec_id, cell FROM (
           SELECT vec_id, cell, row_number() OVER (
             PARTITION BY vec_id ORDER BY fdot DESC, cell) rn FROM d1) x
         WHERE rn = 1
       ), m1 AS (
         SELECT a.cell, e.pos,
           CAST(SUM(CAST(FLOOR(e.v*10000000.0) AS BIGINT)) AS DOUBLE)
             / 10000000.0 / COUNT(*) AS m
         FROM a1 a JOIN ex e ON e.vec_id = a.vec_id
         GROUP BY 1, 2
       ), n1 AS (
         SELECT cell, SQRT(CAST(SUM(
             CAST(FLOOR(m*10000000.0) AS BIGINT)
           * CAST(FLOOR(m*10000000.0) AS BIGINT)) AS DOUBLE))
           / 10000000.0 AS nrm
         FROM m1 GROUP BY cell
       ), c1 AS (
         SELECT c0.cell, c0.pos,
           COALESCE(CASE WHEN n1.nrm > 0 THEN m1.m / n1.nrm
                         ELSE m1.m END, c0.c) AS c
         FROM c0
         LEFT JOIN m1 ON m1.cell = c0.cell AND m1.pos = c0.pos
         LEFT JOIN n1 ON n1.cell = c0.cell
       ), d2 AS (
         SELECT e.vec_id, c.cell,
           SUM(CAST(FLOOR(e.v*10000000.0) AS BIGINT)
             * CAST(FLOOR(c.c*10000000.0) AS BIGINT)) AS fdot
         FROM ex e JOIN c1 c ON e.pos = c.pos
         WHERE $trainPred
         GROUP BY 1, 2
       ), a2 AS (
         SELECT vec_id, cell FROM (
           SELECT vec_id, cell, row_number() OVER (
             PARTITION BY vec_id ORDER BY fdot DESC, cell) rn FROM d2) x
         WHERE rn = 1
       ), m2 AS (
         SELECT a.cell, e.pos,
           CAST(SUM(CAST(FLOOR(e.v*10000000.0) AS BIGINT)) AS DOUBLE)
             / 10000000.0 / COUNT(*) AS m
         FROM a2 a JOIN ex e ON e.vec_id = a.vec_id
         GROUP BY 1, 2
       ), n2 AS (
         SELECT cell, SQRT(CAST(SUM(
             CAST(FLOOR(m*10000000.0) AS BIGINT)
           * CAST(FLOOR(m*10000000.0) AS BIGINT)) AS DOUBLE))
           / 10000000.0 AS nrm
         FROM m2 GROUP BY cell
       ), c2 AS (
         SELECT c1.cell, c1.pos,
           COALESCE(CASE WHEN n2.nrm > 0 THEN m2.m / n2.nrm
                         ELSE m2.m END, c1.c) AS c
         FROM c1
         LEFT JOIN m2 ON m2.cell = c1.cell AND m2.pos = c1.pos
         LEFT JOIN n2 ON n2.cell = c1.cell
       ), d3 AS (
         SELECT e.vec_id, c.cell,
           SUM(CAST(FLOOR(e.v*10000000.0) AS BIGINT)
             * CAST(FLOOR(c.c*10000000.0) AS BIGINT)) AS fdot
         FROM ex e JOIN c2 c ON e.pos = c.pos
         GROUP BY 1, 2
       ), a3 AS (
         SELECT vec_id, cell FROM (
           SELECT vec_id, cell, row_number() OVER (
             PARTITION BY vec_id ORDER BY fdot DESC, cell) rn FROM d3) x
         WHERE rn = 1
       )"""

  /** Oracle replay of [[PqCodebook.fit]] (cb=16 codewords, m=4
    * subspaces of 16 dims, 2 Lloyd iterations) in unrolled SQL —
    * assumes a `sub(vec_id, s, pi, fv)` CTE exists; produces the final
    * trained codebook as `cbq(cw, s, pi, fc)` (the name every
    * downstream ADC/encode CTE already consumes). Per iteration:
    * exact int64 squared-L2 argmin (tie → smaller cw), update mean
    * floor(double(Σfv)/n), empty codewords keep their components.
    * `trainPred` restricts TRAINING to a vec_id subset (the persisted
    * q194/q202 even-half build); encode CTEs downstream always cover
    * every vector.
    */
  private def pqTrainCtes(trainPred: String = "TRUE"): String =
    s""", tseed AS (
           SELECT vec_id,
             CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) cw
           FROM (SELECT vec_id FROM embeddings WHERE $trainPred
                 ORDER BY vec_id LIMIT 16)
         ), tcb0 AS (
           SELECT t.cw, b.s, b.pi, b.fv AS fc
           FROM tseed t JOIN sub b ON b.vec_id = t.vec_id
         ), td1 AS (
           SELECT v.vec_id, v.s, c.cw,
             SUM((v.fv - c.fc)*(v.fv - c.fc)) AS d
           FROM sub v JOIN tcb0 c ON v.s = c.s AND v.pi = c.pi
           WHERE $trainPred
           GROUP BY 1, 2, 3
         ), ta1 AS (
           SELECT vec_id, s, cw FROM (
             SELECT *, row_number() OVER (
               PARTITION BY vec_id, s ORDER BY d, cw) rn FROM td1) x
           WHERE rn = 1
         ), tm1 AS (
           SELECT a.s, a.cw, v.pi,
             CAST(FLOOR(CAST(SUM(v.fv) AS DOUBLE)/COUNT(*)) AS BIGINT)
               AS fc
           FROM ta1 a JOIN sub v ON v.vec_id = a.vec_id AND v.s = a.s
           GROUP BY 1, 2, 3
         ), tcb1 AS (
           SELECT c0.cw, c0.s, c0.pi, COALESCE(m.fc, c0.fc) AS fc
           FROM tcb0 c0 LEFT JOIN tm1 m
             ON m.s = c0.s AND m.cw = c0.cw AND m.pi = c0.pi
         ), td2 AS (
           SELECT v.vec_id, v.s, c.cw,
             SUM((v.fv - c.fc)*(v.fv - c.fc)) AS d
           FROM sub v JOIN tcb1 c ON v.s = c.s AND v.pi = c.pi
           WHERE $trainPred
           GROUP BY 1, 2, 3
         ), ta2 AS (
           SELECT vec_id, s, cw FROM (
             SELECT *, row_number() OVER (
               PARTITION BY vec_id, s ORDER BY d, cw) rn FROM td2) x
           WHERE rn = 1
         ), tm2 AS (
           SELECT a.s, a.cw, v.pi,
             CAST(FLOOR(CAST(SUM(v.fv) AS DOUBLE)/COUNT(*)) AS BIGINT)
               AS fc
           FROM ta2 a JOIN sub v ON v.vec_id = a.vec_id AND v.s = a.s
           GROUP BY 1, 2, 3
         ), cbq AS (
           SELECT c1.cw, c1.s, c1.pi, COALESCE(m.fc, c1.fc) AS fc
           FROM tcb1 c1 LEFT JOIN tm2 m
             ON m.s = c1.s AND m.cw = c1.cw AND m.pi = c1.pi
         )"""

  /** KMeans-trained cell assignment under the oracle (the gate row the
    * round-2 verdict asked for): fit spherical k-means (k=4, 2 Lloyd
    * iterations) on the corpus, assign every vector to its trained
    * cell. The oracle replays the ENTIRE training loop in SQL — this is
    * the bit-determinism claim of KMeans.scala, proven end-to-end.
    */
  val q53 = EngineQuery(
    "q53_kmeans_assign",
    (s, dir) => {
      val t = Tables(s, dir)
      val cents = KMeans.fit(s, t.embeddings, k = 4, iters = 2)
      KMeans.assign(t.embeddings, cents)
        .select(col("vec_id"), col("cell"))
        .orderBy(col("vec_id"))
    },
    Some(kmeansTrainCtes(4) +
      """
       SELECT vec_id, cell FROM a3 ORDER BY vec_id"""))

  /** IVF trained + probed at k=4 — the SAME cell count as q53's
    * verified training replay, so the training and the search face the
    * oracle together at one more operating point than q52's k=16.
    */
  val q54 = EngineQuery(
    "q54_knn_ivf_trained",
    (s, dir) => ivfTrained(s, dir, k = 4),
    Some(kmeansTrainCtes(4) + ivfProbeTail()))

  /** The PERSISTED index built+maintained once per (session, dir) —
    * q180's ingest half, the `existingDedupIndex` pattern
    * (Dedup.scala): train on the even-id half (the "existing corpus"),
    * then APPEND the odd-id half as the arriving delta — assigned under
    * the RECORDED centroids, no retrain. The gate query then exercises
    * [[IvfIndex.search]], the maintained-index read path.
    *
    * READ-ONLY after this builder returns: the store is SHARED by every
    * gate that reads it (q180/q201/q202/q204/q217/q222/q228/q230/q233),
    * and q233's audit oracle states its exact end state — generation 0,
    * healthy, n_appended = the odd-half count. A gate that compacts,
    * deletes from, appends to, or remediates this store breaks those
    * gates far from the cause; mutation experiments CLONE instead
    * (the existingDeleted/Republished/Lifecycle builders below).
    */
  private[llmops] def existingIvfIndex(
      s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val app = s.sparkContext.applicationId
    val tag = graft.ops.SessionScratch.dirTag(dir)
    val path =
      s"${graft.ops.SessionScratch.base("ivf_index", app)}/ivf_$tag"
    graft.ops.SessionScratch.once("ivf_index", app, dir) {
      val em = Tables(s, dir).embeddings
      IvfIndex.build(em.filter(col("vec_id") % 2 === 0), path, k = 4)
      IvfIndex.append(em.filter(col("vec_id") % 2 === 1), path)
      // the documented contract above, made MECHANICAL (round-14
      // verdict #5): any later append/delete/compact/republish fails
      // AT the mutation site naming the owners, instead of shifting
      // the owners' hashes far from the cause
      IndexMaintenance.markSharedReadonly(s, path,
        "q180,q201,q202,q204,q217,q222,q228,q230,q233")
    }
    path
  }

  /** IVF ANN over the PERSISTED, MAINTAINED index (q54's operational
    * form; round-9 verdict #1): centroids trained on the even half
    * only, odd half appended under the recorded centroids (the FAISS
    * train-then-add contract), and the SEARCH reads the assignment
    * table off the index parquet — the corpus embeddings are never
    * re-assigned at query time. The oracle replays training restricted
    * to the even half (`trainPred`), assigns EVERY vector under the
    * final centroids (build-assign ∪ append-assign ≡ one assignment
    * pass, because append uses the recorded centroids), and probes
    * identically to q54 — so a drifted append (retrained centroids,
    * missed vectors, double-assigned vectors) hash-mismatches.
    */
  val q180 = EngineQuery(
    "q180_knn_ivf_persisted",
    (s, dir) => {
      val t = Tables(s, dir)
      val path = existingIvfIndex(s, dir)
      IvfIndex.search(
        t.embeddings.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("eq")),
        path)
    },
    Some(kmeansTrainCtes(4, "vec_id % 2 = 0") + ivfProbeTail()))

  /** A store that has been through the full DRIFT-REMEDIATION loop:
    * built on the even half, the odd half appended under the stale
    * even-trained centroids (the drift regime q171 monitors), then
    * REPUBLISHED over the full corpus — retrain + reassign in place,
    * crash-detectably ([[IvfIndex.republish]]).
    */
  private[llmops] def existingRepublishedIvfIndex(
      s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val app = s.sparkContext.applicationId
    val tag = graft.ops.SessionScratch.dirTag(dir)
    val path =
      s"${graft.ops.SessionScratch.base("ivf_rep_index", app)}/ivfr_$tag"
    graft.ops.SessionScratch.once("ivf_rep_index", app, dir) {
      val em = Tables(s, dir).embeddings
      IvfIndex.build(em.filter(col("vec_id") % 2 === 0), path, k = 4)
      IvfIndex.append(em.filter(col("vec_id") % 2 === 1), path)
      IvfIndex.republish(em, path, k = 4)
      IndexMaintenance.markSharedReadonly(s, path, "q212,q230")
    }
    path
  }

  /** IVF search after DRIFT REMEDIATION — the q171-monitor →
    * republish arm gate-checked end-to-end (republish was spec-only
    * before round 12): the store is built on half the corpus, grown
    * under the stale centroids, then republished over everything. The
    * oracle is the FULL-CORPUS training replay (q54's exact CTEs) —
    * so a republish that kept the stale centroids, dropped members,
    * paired new centroids with old assignments, or double-indexed the
    * append wave hash-mismatches. Together with q180 (the stale-train
    * form over the same ingest) the pair pins BOTH ends of the drift
    * lifecycle to their oracles.
    */
  val q212 = EngineQuery(
    "q212_knn_ivf_republished",
    (s, dir) => {
      val t = Tables(s, dir)
      val path = existingRepublishedIvfIndex(s, dir)
      IvfIndex.search(
        t.embeddings.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("eq")),
        path)
    },
    Some(kmeansTrainCtes(4) + ivfProbeTail()))

  /** The IVF-PQ flavor of the remediation loop: built + appended like
    * [[existingIvfPqIndex]], then REPUBLISHED over the full corpus —
    * BOTH trained halves (centroids and per-subspace codebooks)
    * retrained in place, crash-detectably.
    */
  private[llmops] def existingRepublishedIvfPqIndex(
      s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val app = s.sparkContext.applicationId
    val tag = graft.ops.SessionScratch.dirTag(dir)
    val path =
      s"${graft.ops.SessionScratch.base("ivfpq_rep_index", app)}/pqr_$tag"
    graft.ops.SessionScratch.once("ivfpq_rep_index", app, dir) {
      val em = Tables(s, dir).embeddings
      IvfPqIndex.build(em.filter(col("vec_id") % 2 === 0), path, k = 4)
      IvfPqIndex.append(em.filter(col("vec_id") % 2 === 1), path)
      IvfPqIndex.republish(em, path, k = 4)
    }
    path
  }

  /** IVF-PQ ADC search after a full-corpus republish — q212's
    * remediation gate for the store with TWO trained artifacts: a
    * correct republish must retrain the centroids AND the per-subspace
    * codebooks and re-encode every vector under both. The oracle
    * replays full-corpus kmeans + full-corpus codebook training + the
    * encode + the ADC probe, so a republish that kept either stale
    * artifact (or mixed re-trained centroids with stale codes — the
    * torn state config retraction exists to detect) hash-mismatches.
    */
  val q214 = EngineQuery(
    "q214_knn_ivfpq_republished",
    (s, dir) => {
      val t = Tables(s, dir)
      val path = existingRepublishedIvfPqIndex(s, dir)
      IvfPqIndex.search(
        t.embeddings.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("eq")),
        path)
    },
    Some(kmeansTrainCtes(4) + ivfPqAdcCtes("TRUE") +
      """
         SELECT qid, cid, f, rn FROM (
           SELECT qid, cid, f, row_number() OVER (
             PARTITION BY qid ORDER BY f DESC, cid) rn FROM adc) x
         WHERE rn <= 8 ORDER BY qid, rn"""))

  /** A SEPARATE persisted IVF store for the delete gate (deleting from
    * [[existingIvfIndex]] would corrupt q180/q201/q202/q204's shared
    * view): same even-build + odd-append ingest, then every vec_id
    * divisible by 10 is DELETED ([[IvfIndex.delete]] — tombstoned, not
    * rewritten).
    */
  private[llmops] def existingDeletedIvfIndex(
      s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val app = s.sparkContext.applicationId
    val tag = graft.ops.SessionScratch.dirTag(dir)
    val path =
      s"${graft.ops.SessionScratch.base("ivf_del_index", app)}/ivfd_$tag"
    graft.ops.SessionScratch.once("ivf_del_index", app, dir) {
      val em = Tables(s, dir).embeddings
      IvfIndex.build(em.filter(col("vec_id") % 2 === 0), path, k = 4)
      IvfIndex.append(em.filter(col("vec_id") % 2 === 1), path)
      IvfIndex.delete(
        em.filter(col("vec_id") % 10 === 0).select(col("vec_id")), path)
    }
    path
  }

  /** IVF ANN after DELETES — the takedown/opt-out operational gate:
    * 10% of the indexed members (vec_id % 10 == 0) are tombstoned
    * ([[IvfIndex.delete]], the FAISS remove_ids contract in its
    * lazy-delete form) and the search result must be exactly the q180
    * ranking computed WITHOUT those members: never a deleted id in any
    * rank, and the ranks RE-CLOSE over the survivors (a post-filtered
    * top-8 would leave holes — the mask applies before ranking). The
    * oracle replays training + assignment and excludes the deleted ids
    * from the candidate set only — a mask that leaked into training or
    * into the probe-cell ranking would hash-mismatch. Deleted vectors
    * still act as QUERIES (a removed doc's owner can still search):
    * only their index rows are gone.
    *
    * 100 TB shape: the delete is one manifested tombstone append
    * (deletes-sized); the search pays one extra anti-join against the
    * deletes-sized tombstone table; the next compact drops the rows
    * physically and clears the mask (IndexMaintenanceSpec proves
    * masked == dropped == rebuilt-without-deleted row-for-row).
    */
  val q208 = EngineQuery(
    "q208_knn_ivf_deleted",
    (s, dir) => {
      val t = Tables(s, dir)
      val path = existingDeletedIvfIndex(s, dir)
      IvfIndex.search(
        t.embeddings.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("eq")),
        path)
    },
    Some(kmeansTrainCtes(4, "vec_id % 2 = 0") +
      ivfProbeTail("a.vec_id % 10 <> 0")))

  /** Int8-quantized ANN — the memory-side scale lever: symmetric
    * per-vector quantization (scale = 127/max|v|, code = floor(v·scale))
    * shrinks the candidate store 4× and turns the scoring inner loop
    * into small-integer arithmetic. Every quantized code is an
    * integer-valued double ≤ 127, so the dot product (≤ dims·127² ≪
    * 2⁵³) is EXACT in either engine regardless of summation order — no
    * fixed-point machinery needed, the quantization itself is the
    * determinism. floor is tie-free; the scale is computed and applied
    * with the same IEEE ops on both sides. Recall vs the exact q50
    * top-k is asserted in LlmopsSpec.
    */
  val q55 = EngineQuery(
    "q55_knn_int8",
    (s, dir) => {
      val t = Tables(s, dir)
      // native codegen quantize (optimization r16): identical
      // arithmetic to the previous array_max/transform HOF chain —
      // see graft.functions.QuantizeInt8 — without its per-element
      // interpreted-lambda dispatch (CodegenFallback)
      def quant(e: org.apache.spark.sql.Column) =
        graft.functions.VectorDot.quantizeInt8(e)
      val q = t.embeddings.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), quant(col("embedding")).as("eq"))
      val c = t.embeddings
        .select(col("vec_id").as("cid"), quant(col("embedding")).as("ec"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("score").desc, col("cid"))
      broadcast(q).join(c, col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"),
          graft.functions.VectorDot.doubleDot(col("eq"), col("ec"))
            .cast("long").as("score"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 8)
        .select(col("qid"), col("cid"), col("score"), col("rn"))
        .orderBy(col("qid"), col("rn"))
    },
    Some("""WITH exd AS (
              SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) v,
                generate_subscripts(embedding, 1) pos
              FROM embeddings
            ), mx AS (
              SELECT vec_id, MAX(ABS(v)) m FROM exd GROUP BY vec_id
            ), qv AS (
              SELECT e.vec_id, e.pos,
                CASE WHEN m.m > 0 THEN FLOOR(e.v * (127.0 / m.m))
                     ELSE 0.0 END AS q
              FROM exd e JOIN mx m ON e.vec_id = m.vec_id
            ), dots AS (
              SELECT a.vec_id qid, b.vec_id cid,
                CAST(SUM(a.q * b.q) AS BIGINT) AS score
              FROM qv a JOIN qv b ON a.pos = b.pos AND a.vec_id != b.vec_id
              WHERE a.vec_id < 10
              GROUP BY 1, 2
            ), rk AS (
              SELECT *, row_number() OVER (
                PARTITION BY qid ORDER BY score DESC, cid) rn
              FROM dots
            )
            SELECT qid, cid, score, rn FROM rk WHERE rn <= 8
            ORDER BY qid, rn"""))

  /** Product-quantization ANN with ADC (asymmetric distance) scoring —
    * the memory-bounded third scale path next to IVF (q52/q54, prunes
    * WHICH vectors to score) and int8 (q55, shrinks each score):
    * PQ shrinks the candidate STORE. Each 64-dim vector becomes m=4
    * one-byte codes (one codeword id per 16-dim subspace) — a 64×
    * compression — and queries never touch raw corpus vectors: each
    * query precomputes a (m × k) dot-product table against the codebook
    * and every candidate scores as 4 table lookups + 3 adds.
    *
    * Codebooks here are SEEDED (subvectors of the first k=16 vectors) —
    * the standard cheap random-sample PQ variant, kept as this gate's
    * contract; the TRAINED form (per-subspace Lloyd k-means,
    * [[PqCodebook.fit]] — the FAISS ProductQuantizer::train contract)
    * is gated by q192/q194. All distances/scores are exact fixed-point
    * int64, so encoding and ADC ranking replay cell-exactly in SQL.
    *
    * Scale shape: the codebook is m·k·(dim/m) floats — broadcast
    * everywhere; encoding is one pass over the corpus (per-row argmin
    * over k codewords per subspace, map-side after the broadcast);
    * the ADC probe joins the m·k query table against the CODES table
    * (m bytes/vector), never the embeddings. The refine stage (ADC+R,
    * the standard PQ pipeline) rescores only the |queries|·32-row
    * shortlist against raw vectors — measured mean recall@8 0.59 vs
    * 0.33 for raw ADC on the (worst-case) random fixture vectors.
    */
  val q56 = EngineQuery(
    "q56_knn_pq",
    (s, dir) => {
      import s.implicits._
      val t = Tables(s, dir)
      val (m, k, subDim) = (4, 16, 16)
      val ex = t.embeddings.select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("pos0", "v")))
        .select(col("vec_id"),
          ((col("pos0")) / subDim).cast("int").as("s"),
          (col("pos0") % subDim).as("pi"),
          fixedPoint(col("v")).as("fv"))
      // the SEEDED codebook (subvectors of the first k vectors — this
      // gate's documented contract) as a bounded k·dim driver read:
      // the q169-dim / memoCents discipline. cw = vec_id, dense 0..k-1
      // on the fixture corpus.
      val cbRows = graft.ops.SessionScratch.memo(
        "pq_q56_seed_cb", s.sparkContext.applicationId, dir) {
        t.embeddings.filter(col("vec_id") < k)
          .select(col("vec_id"), col("embedding").cast("array<double>"))
          .as[(Long, Array[Double])]
          .collect().sortBy(_._1)
          .flatMap { case (cw, v) =>
            v.zipWithIndex.map { case (x, p) =>
              PqCodebook.Codeword(cw, p / subDim, p % subDim,
                math.floor(x * PortableHash.FixedScale).toLong)
            }
          }.toSeq
      }
      val cb = PqCodebook.toDf(s, cbRows)
      // encode: exact squared-L2 argmin (distance, then codeword id)
      // as ONE native codegen'd projection per row
      // (PqCodebook.codesOf / PqEncodeCodes — optimization r16): the
      // previous join+group formulation exploded the corpus to
      // |vectors|·dim rows, broadcast-joined the codebook into
      // |vectors|·dim·cb intermediate rows, and paid two aggregation
      // exchanges to reduce them back — identical argmin arithmetic,
      // zero shuffles (the oracle replays the join-shaped form
      // cell-exactly either way).
      val codes = t.embeddings
        .select(col("vec_id"), posexplode(PqCodebook.codesOf(
            col("embedding").cast("array<double>"), cbRows, m,
            subDim)).as(Seq("s", "cw")))
      // per-query ADC table: dot(query subvector, codeword) — m·k rows
      // per query, broadcast into the codes probe
      val qd = ex.filter(col("vec_id") < 10)
        .join(broadcast(cb), col("s") === col("cs") && col("pi") === col("cpi"))
        .groupBy(col("vec_id").as("qid"), col("s").as("qs"),
          col("cw").as("qcw"))
        .agg(sum(col("fv") * col("fc")).as("qdot"))
      val wAdc = Window.partitionBy(col("qid"))
        .orderBy(col("f").desc, col("cid"))
      val shortlist = codes.join(broadcast(qd),
          col("s") === col("qs") && col("cw") === col("qcw") &&
            col("vec_id") =!= col("qid"))
        .groupBy(col("qid"), col("vec_id").as("cid"))
        .agg(sum(col("qdot")).as("f"))
        .withColumn("rn", row_number().over(wAdc))
        .filter(col("rn") <= 32)
        .select(col("qid"), col("cid"))
      // refine (ADC+R): exact fixed-point rescore of the bounded
      // shortlist only — raw vectors are touched for 32 rows per query
      val qe = t.embeddings
        .select(col("vec_id").as("qid"), col("embedding").as("eq"))
      val ce = t.embeddings
        .select(col("vec_id").as("cid"), col("embedding").as("ec"))
      val wFine = Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col("cid"))
      broadcast(shortlist)
        .join(qe, Seq("qid")).join(ce, Seq("cid"))
        .select(col("qid"), col("cid"),
          exactDot(col("eq"), col("ec")).as("sim"))
        .withColumn("rn", row_number().over(wFine))
        .filter(col("rn") <= 8)
        .select(col("qid"), col("cid"), col("sim"), col("rn"))
        .orderBy(col("qid"), col("rn"))
    },
    Some("""WITH ex AS (
              SELECT vec_id,
                CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE)*10000000.0)
                  AS BIGINT) fv,
                generate_subscripts(embedding, 1) pos
              FROM embeddings
            ), sub AS (
              SELECT vec_id, (pos-1)//16 AS s, (pos-1)%16 AS pi, fv FROM ex
            ), cb AS (
              SELECT vec_id AS cw, s, pi, fv AS fc FROM sub WHERE vec_id < 16
            ), dist AS (
              SELECT v.vec_id, v.s, c.cw,
                SUM((v.fv - c.fc)*(v.fv - c.fc)) AS d
              FROM sub v JOIN cb c ON v.s = c.s AND v.pi = c.pi
              GROUP BY 1, 2, 3
            ), codes AS (
              SELECT vec_id, s, cw FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY vec_id, s ORDER BY d, cw) rn
                FROM dist) x
              WHERE rn = 1
            ), qd AS (
              SELECT q.vec_id AS qid, c.s, c.cw, SUM(q.fv*c.fc) AS qdot
              FROM sub q JOIN cb c ON q.s = c.s AND q.pi = c.pi
              WHERE q.vec_id < 10
              GROUP BY 1, 2, 3
            ), adc AS (
              SELECT qd.qid, codes.vec_id AS cid, SUM(qd.qdot) AS f
              FROM codes JOIN qd ON codes.s = qd.s AND codes.cw = qd.cw
              WHERE codes.vec_id != qd.qid
              GROUP BY 1, 2
            ), short AS (
              SELECT qid, cid FROM (
                SELECT qid, cid, row_number() OVER (
                  PARTITION BY qid ORDER BY f DESC, cid) rn
                FROM adc) x
              WHERE rn <= 32
            ), fine AS (
              SELECT s.qid, s.cid,
                CAST(SUM(a.fv*b.fv) AS DOUBLE)/100000000000000.0 AS sim
              FROM short s
              JOIN ex a ON a.vec_id = s.qid
              JOIN ex b ON b.vec_id = s.cid AND b.pos = a.pos
              GROUP BY 1, 2
            ), rk AS (
              SELECT qid, cid, sim,
                row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) rn
              FROM fine
            )
            SELECT qid, cid, sim, rn FROM rk WHERE rn <= 8
            ORDER BY qid, rn"""),
    bench = true)

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): SEMANTIC dedup by
    * k-means-clustering the embeddings, then pruning near-duplicate
    * pairs WITHIN each cluster — a member is dropped when some
    * same-cell member sits within the cosine threshold AND is farther
    * from the shared centroid (the paper's keep-rule: retain the
    * member farthest from the centroid, the most "informative"
    * representative of the near-dup set; ties broken toward keeping
    * the smaller vec_id). Complements q44: q44 FINDS the global
    * top near-dup pairs, this APPLIES a semantic prune to the corpus.
    *
    * Output: the surviving corpus (vec_id, cell, cdot) where cdot is
    * the exact fixed-point cosine to the trained centroid.
    *
    * 100 TB shape: training is q53's verified loop (driver state k×dim
    * only); assignment is a zero-shuffle projection; the pair space is
    * blocked per cell — in production k scales with the corpus (the
    * paper runs 11k clusters on LAION) so cell occupancy, not corpus
    * size, bounds the quadratic term, exactly like q44's buckets. The
    * drop set comes from ONE equi-join on cell; survivors are ONE
    * anti-join (unbounded at scale, so no broadcast hint — AQE decides).
    * Determinism: every ranking quantity (pair dot, centroid dot) is
    * the exact int64 fixed-point dot, so the drop set is bit-identical
    * on any engine — the DuckDB oracle replays training + prune.
    */
  val q156 = EngineQuery(
    "q156_semdedup",
    (s, dir) => {
      import s.implicits._
      val t = Tables(s, dir)
      // memoized training (the q192 precedent — see memoCents): the
      // prune/search below stays live per invocation
      val cents = memoCents(s, dir, k = 4)
      val centDf = cents.map(c => (c.cell, c.centroid.toSeq))
        .toDF("cell", "cvec")
      val assigned = KMeans.assign(t.embeddings, cents)
        .join(broadcast(centDf), "cell")
        .select(col("vec_id"), col("cell"), col("embedding"),
          exactDot(col("embedding").cast("array<double>"), col("cvec"))
            .as("cdot"))
      val a = assigned.select(col("cell"), col("vec_id").as("ia"),
        col("embedding").as("ea"), col("cdot").as("cda"))
      val b = assigned.select(col("cell"), col("vec_id").as("ib"),
        col("embedding").as("eb"), col("cdot").as("cdb"))
      val dropped = a.join(b, Seq("cell"))
        .filter(col("ia") =!= col("ib"))
        // cheap prefilter at a dims-scaled margin, exact dot decides
        .filter(fastDot(col("ea"), col("eb")) >=
          lit(0.2) - dotEps(col("ea")))
        .filter(exactDot(col("ea"), col("eb")) >= 0.2)
        // ia is dropped: ib is a witness at >= tau that is FARTHER
        // from the centroid (or equally far with a smaller id)
        .filter(col("cda") > col("cdb") ||
          (col("cda") === col("cdb") && col("ia") > col("ib")))
        .select(col("ia").as("vec_id"))
        .distinct()
      assigned.select(col("vec_id"), col("cell"), col("cdot"))
        .join(dropped, Seq("vec_id"), "left_anti")
        .orderBy(col("vec_id"))
    },
    Some(kmeansTrainCtes(4) +
      """, cd AS (
           SELECT a.vec_id, a.cell,
             CAST(d.fdot AS DOUBLE) / 100000000000000.0 AS cdot
           FROM a3 a JOIN d3 d
             ON d.vec_id = a.vec_id AND d.cell = a.cell
         ), pd AS (
           SELECT ea.vec_id ia, eb.vec_id ib,
             CAST(SUM(CAST(FLOOR(ea.v*10000000.0) AS BIGINT)
                    * CAST(FLOOR(eb.v*10000000.0) AS BIGINT)) AS DOUBLE)
               / 100000000000000.0 AS dot
           FROM ex ea
           JOIN a3 sa ON sa.vec_id = ea.vec_id
           JOIN a3 sb ON sb.cell = sa.cell AND sb.vec_id <> sa.vec_id
           JOIN ex eb ON eb.vec_id = sb.vec_id AND eb.pos = ea.pos
           GROUP BY 1, 2
         ), dropped AS (
           SELECT DISTINCT p.ia AS vec_id
           FROM pd p
           JOIN cd v ON v.vec_id = p.ia
           JOIN cd u ON u.vec_id = p.ib
           WHERE p.dot >= 0.2
             AND (v.cdot > u.cdot OR (v.cdot = u.cdot AND p.ia > p.ib))
         )
         SELECT c.vec_id, c.cell, c.cdot FROM cd c
         WHERE NOT EXISTS (
           SELECT 1 FROM dropped dr WHERE dr.vec_id = c.vec_id)
         ORDER BY c.vec_id"""))

  /** 128-bit sign-projection binary codes, four 32-bit words per
    * vector: bit p = sign of the vector's fixed-point dot with
    * pseudo-random ±1 hyperplane p. The per-(plane, position) sign
    * parity is the quadratic charHash multiplier over n = p·4096+pos —
    * NOT srpBuckets' linear (p·31+pos)·K form, whose n-segments for
    * adjacent planes overlap, making the planes shifted copies of one
    * sequence (measured: near-random recall). Quadratic scrambling
    * over disjoint n-ranges decorrelates the planes (adjacent-plane
    * agreement 0.499 vs 0.288 linear).
    *
    * Computed per-row with ZERO shuffle: each plane is one native
    * codegen'd [[graft.functions.VectorDot.fixedDotSum]] against a ±1f
    * literal pattern — the float ±1 quantizes to exactly ±1e7, so the
    * sign equals the sign of the ±fixedPoint component sum and the
    * oracle replays it bit-for-bit.
    */
  private[llmops] def hammingCodes(emb: org.apache.spark.sql.DataFrame,
      dim: Int): org.apache.spark.sql.DataFrame = {
    def parityEven(p: Int, i: Int): Boolean = {
      val n = p.toLong * 4096L + i
      ((n * n % P) * 2654435761L + 97L * n) % P % 2 == 0
    }
    // ALL 128 planes in one flattened ±1 literal consumed by ONE
    // codegen'd SignPackBits — a per-plane FixedDotSum formulation is
    // arithmetically identical but hands janino 128 expressions to
    // compile (~18 s/pass of pure compilation at bench time)
    val signs = typedLit((0 until 128).flatMap(p =>
      (1 to dim).map(i => if (parityEven(p, i)) 1.0f else -1.0f)))
    emb.select(col("vec_id"),
        graft.functions.VectorDot.signPackBits(col("embedding"), signs)
          .as("w"))
      .select(col("vec_id"),
        element_at(col("w"), 1).as("c0"), element_at(col("w"), 2).as("c1"),
        element_at(col("w"), 3).as("c2"), element_at(col("w"), 4).as("c3"))
  }

  /** Binary-code ANN: Hamming shortlist over 128-bit sign-hash codes +
    * exact rerank (the binary-quantization retrieval recipe — Charikar
    * 2002 sign-random-projection sketches; shortlist-then-rerank as in
    * PQ/ADC systems, q56's discipline at 16× smaller codes).
    *
    * Scale story (100 TB): the candidate store the probe scans is 16
    * BYTES per vector (four int32 words in int64s) instead of 4·dims —
    * the 64-dim float fixture compresses 16×; distance is XOR+POPCNT,
    * pure codegen'd integer ops, no floats until the refine stage
    * touches exactly |queries|·128 raw vectors. Code construction is
    * shuffle-free (one scan projection); the probe set broadcasts; the
    * only corpus-sized exchange is the per-query shortlist window on
    * qid. Recall vs exact q50 is asserted in LlmopsSpec (same contract
    * as q55/q56). Random unit fixture vectors are the worst case for
    * sign codes (every candidate near 90°) — measured recall@8 ≈ 0.7
    * at shortlist 128; clustered real corpora do far better.
    */
  val q169 = EngineQuery(
    "q169_knn_hamming",
    (s, dir) => {
      val t = Tables(s, dir)
      // dims is a model hyperparameter (64 in the fixture) — one
      // schema-level head() at plan time, the q56 codebook discipline
      val dim = t.embeddings
        .select(size(col("embedding")).as("d")).head().getInt(0)
      val codes = hammingCodes(t.embeddings, dim)
      val probes = codes.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("c0").as("q0"),
          col("c1").as("q1"), col("c2").as("q2"), col("c3").as("q3"))
      val ham = broadcast(probes)
        .join(codes, col("qid") =!= col("vec_id"))
        .select(col("qid"), col("vec_id").as("cid"),
          (0 to 3).map(w =>
            bit_count(col(s"q$w").bitwiseXOR(col(s"c$w"))))
            .reduce(_ + _)
            .cast(org.apache.spark.sql.types.LongType).as("ham"))
      val wH = Window.partitionBy(col("qid")).orderBy(col("ham"), col("cid"))
      val short = ham
        .withColumn("hrn", row_number().over(wH))
        .filter(col("hrn") <= 128)
        .select(col("qid"), col("cid"), col("ham"))
      val eq = t.embeddings
        .select(col("vec_id").as("qid"), col("embedding").as("eq"))
      val ec = t.embeddings
        .select(col("vec_id").as("cid"), col("embedding").as("ec"))
      val wS = Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col("cid"))
      broadcast(short).join(eq, Seq("qid")).join(ec, Seq("cid"))
        .select(col("qid"), col("cid"), col("ham"),
          exactDot(col("eq"), col("ec")).as("sim"))
        .withColumn("rn", row_number().over(wS))
        .filter(col("rn") <= 8)
        .select(col("qid"), col("cid"), col("ham"), col("sim"), col("rn"))
        .orderBy(col("qid"), col("rn"))
    },
    Some("""WITH ex AS (
              SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) v,
                generate_subscripts(embedding, 1) pos
              FROM embeddings
            ), sgn AS (
              SELECT e.vec_id, p.p,
                CASE WHEN (SELECT SUM(CASE
                    WHEN (((p.p*4096 + u.pos)*(p.p*4096 + u.pos) % 1000000007)
                          * 2654435761 + 97*(p.p*4096 + u.pos))
                         % 1000000007 % 2 = 0
                    THEN CAST(FLOOR(CAST(u.v AS DOUBLE)*10000000.0) AS BIGINT)
                    ELSE -CAST(FLOOR(CAST(u.v AS DOUBLE)*10000000.0) AS BIGINT)
                    END)
                  FROM (SELECT UNNEST(embedding) v,
                          generate_subscripts(embedding, 1) pos) u) >= 0
                THEN 1 ELSE 0 END AS bit
              FROM embeddings e, (SELECT UNNEST(range(0, 128)) p) p
            ), codes AS (
              SELECT vec_id,
                CAST(SUM(CASE WHEN p < 32
                  THEN CAST(bit AS BIGINT) << p ELSE 0 END) AS BIGINT) AS c0,
                CAST(SUM(CASE WHEN p >= 32 AND p < 64
                  THEN CAST(bit AS BIGINT) << (p-32) ELSE 0 END) AS BIGINT) AS c1,
                CAST(SUM(CASE WHEN p >= 64 AND p < 96
                  THEN CAST(bit AS BIGINT) << (p-64) ELSE 0 END) AS BIGINT) AS c2,
                CAST(SUM(CASE WHEN p >= 96
                  THEN CAST(bit AS BIGINT) << (p-96) ELSE 0 END) AS BIGINT) AS c3
              FROM sgn GROUP BY vec_id
            ), probes AS (
              SELECT vec_id AS qid, c0 AS q0, c1 AS q1, c2 AS q2, c3 AS q3
              FROM codes WHERE vec_id < 10
            ), ham AS (
              SELECT p.qid, c.vec_id AS cid,
                CAST(bit_count(xor(p.q0, c.c0))
                   + bit_count(xor(p.q1, c.c1))
                   + bit_count(xor(p.q2, c.c2))
                   + bit_count(xor(p.q3, c.c3)) AS BIGINT) AS ham
              FROM probes p JOIN codes c ON c.vec_id != p.qid
            ), short AS (
              SELECT qid, cid, ham FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY qid ORDER BY ham, cid) hrn
                FROM ham) WHERE hrn <= 128
            ), ref AS (
              SELECT s.qid, s.cid, s.ham,
                CAST(SUM(CAST(FLOOR(a.v*10000000.0) AS BIGINT)
                       * CAST(FLOOR(b.v*10000000.0) AS BIGINT)) AS DOUBLE)
                  / 100000000000000.0 AS sim
              FROM short s
              JOIN ex a ON a.vec_id = s.qid
              JOIN ex b ON b.vec_id = s.cid AND b.pos = a.pos
              GROUP BY 1, 2, 3
            )
            SELECT qid, cid, ham, sim, rn FROM (
              SELECT *, row_number() OVER (
                PARTITION BY qid ORDER BY sim DESC, cid) rn
              FROM ref) WHERE rn <= 8
            ORDER BY qid, rn"""))

  /** IVF-PQ composed ANN — the production FAISS index shape (IndexIVFPQ,
    * Jégou et al. 2011): the two scale levers already proven separately
    * composed into one search path. IVF cells (q53's verified k-means
    * training) prune WHICH vectors are scored — only the top-[[Nprobe]]
    * cells per query are touched; PQ codes (m=4 one-byte codes, 64×
    * compression, codebooks TRAINED per subspace by [[PqCodebook.fit]]
    * — the ProductQuantizer::train half of the FAISS contract, not
    * q56's random-sample seed) shrink WHAT is read to score them — the
    * ADC stage reads candidate CODES, never raw vectors; the refine
    * stage rescores only the 32-row shortlist with exact fixed-point
    * dots.
    *
    * 100 TB shape: centroids and the per-query (m·k)-row ADC tables are
    * broadcast; encoding is a zero-shuffle projection
    * ([[PqCodebook.codesOf]]); the candidate join shuffles on cell id,
    * so per-query work is |cell|·nprobe code lookups, and raw
    * embeddings are touched for 32 rows per query regardless of corpus
    * size. Every ranking quantity — the cell-probe dot, the codebook
    * train/encode argmin, the ADC sum, the refine dot — is exact int64
    * fixed-point, so the oracle replays BOTH trainings, encoding, and
    * both search stages bit-exactly. Recall vs the exact q50 top-k is
    * asserted in LlmopsSpec.
    */
  val q192 = EngineQuery(
    "q192_knn_ivfpq",
    (s, dir) => {
      import s.implicits._
      val t = Tables(s, dir)
      // Both trained artifacts are memoized once per (session, dir) —
      // the `existingIvfIndex` discipline applied to the in-query form
      // (round-12 verdict #3): the fits are deterministic functions of
      // the corpus, so re-running them per invocation bought nothing
      // but two iterative trainings' latency. The oracle is unchanged
      // (it replays the same training from the fixture either way).
      val (cents, cbRows) = graft.ops.SessionScratch.memo(
        "ivfpq_q192_trained", s.sparkContext.applicationId, dir) {
        (KMeans.fit(s, t.embeddings, k = 4, iters = 2),
          PqCodebook.fit(s, t.embeddings,
            m = 4, cb = 16, subDim = 16, iters = 2))
      }
      // IVF half: trained cells + full-corpus assignment (q54's shape)
      val assigned = KMeans.assign(t.embeddings, cents)
        .select(col("vec_id").as("member_id"), col("cell"))
      val centDf = cents.map(c => (c.cell, c.centroid.toSeq))
        .toDF("ccell", "ec")
      // PQ half: TRAINED codebook (per-subspace Lloyd k-means, the
      // FAISS ProductQuantizer::train contract) + per-subspace codes
      // assigned as a zero-shuffle projection
      val ex = t.embeddings.select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("pos0", "v")))
        .select(col("vec_id"),
          (col("pos0") / 16).cast("int").as("s"),
          (col("pos0") % 16).as("pi"),
          fixedPoint(col("v")).as("fv"))
      val cb = PqCodebook.toDf(s, cbRows)
      val codes = t.embeddings
        .select(col("vec_id"), posexplode(PqCodebook.codesOf(
            col("embedding").cast("array<double>"), cbRows, m = 4,
            subDim = 16)).as(Seq("s", "cw")))
      // probe: top-2 cells per query by exact int64 query·centroid dot
      val queries = t.embeddings.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("eq"))
      val wp = Window.partitionBy(col("qid"))
        .orderBy(col("cdot").desc, col("ccell"))
      val probes = queries.crossJoin(broadcast(centDf))
        .select(col("qid"), col("ccell"),
          graft.functions.VectorDot.fixedDotSum(
            col("eq").cast("array<double>"), col("ec")).as("cdot"))
        .withColumn("crn", row_number().over(wp))
        .filter(col("crn") <= 2)
        .select(col("qid"), col("ccell").as("cell"))
      // per-query ADC table: dot(query subvector, codeword) — m·k rows
      // per query, broadcast into the candidate-code probe
      val qd = ex.filter(col("vec_id") < 10)
        .join(broadcast(cb),
          col("s") === col("cs") && col("pi") === col("cpi"))
        .groupBy(col("vec_id").as("aqid"), col("s").as("qs"),
          col("cw").as("qcw"))
        .agg(sum(col("fv") * col("fc")).as("qdot"))
      // candidates = members of the probed cells, ADC-scored off codes
      val cand = probes.join(assigned, Seq("cell"))
        .filter(col("qid") =!= col("member_id"))
        .select(col("qid"), col("member_id").as("cid"))
      val wAdc = Window.partitionBy(col("qid"))
        .orderBy(col("f").desc, col("cid"))
      val shortlist = cand
        .join(codes, col("cid") === codes("vec_id"))
        .join(broadcast(qd),
          col("qid") === col("aqid") && col("s") === col("qs") &&
            col("cw") === col("qcw"))
        .groupBy(col("qid"), col("cid"))
        .agg(sum(col("qdot")).as("f"))
        .withColumn("rn", row_number().over(wAdc))
        .filter(col("rn") <= 32)
        .select(col("qid"), col("cid"))
      // refine: exact fixed-point rescore of the bounded shortlist only
      val qe = t.embeddings
        .select(col("vec_id").as("qid"), col("embedding").as("eq"))
      val ce = t.embeddings
        .select(col("vec_id").as("cid"), col("embedding").as("ec"))
      val wFine = Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col("cid"))
      broadcast(shortlist)
        .join(qe, Seq("qid")).join(ce, Seq("cid"))
        .select(col("qid"), col("cid"),
          exactDot(col("eq"), col("ec")).as("sim"))
        .withColumn("rn", row_number().over(wFine))
        .filter(col("rn") <= 8)
        .select(col("qid"), col("cid"), col("sim"), col("rn"))
        .orderBy(col("qid"), col("rn"))
    },
    Some(kmeansTrainCtes(4) +
      """, sub AS (
           SELECT vec_id, CAST((pos-1)//16 AS INT) s, (pos-1)%16 pi,
             CAST(FLOOR(v*10000000.0) AS BIGINT) fv
           FROM ex
         )""" + pqTrainCtes() +
      """, pqd AS (
           SELECT v.vec_id, v.s, c.cw,
             SUM((v.fv - c.fc)*(v.fv - c.fc)) AS d
           FROM sub v JOIN cbq c ON v.s = c.s AND v.pi = c.pi
           GROUP BY 1, 2, 3
         ), pcodes AS (
           SELECT vec_id, s, cw FROM (
             SELECT *, row_number() OVER (
               PARTITION BY vec_id, s ORDER BY d, cw) rn
             FROM pqd) x
           WHERE rn = 1
         ), qdt AS (
           SELECT q.vec_id AS qid, c.s, c.cw, SUM(q.fv*c.fc) AS qdot
           FROM sub q JOIN cbq c ON q.s = c.s AND q.pi = c.pi
           WHERE q.vec_id < 10
           GROUP BY 1, 2, 3
         ), probes AS (
           SELECT qid, cell FROM (
             SELECT vec_id AS qid, cell, row_number() OVER (
               PARTITION BY vec_id ORDER BY fdot DESC, cell) crn
             FROM d3 WHERE vec_id < 10) x
           WHERE crn <= 2
         ), cand AS (
           SELECT p.qid, a.vec_id AS cid FROM probes p
           JOIN a3 a ON a.cell = p.cell AND a.vec_id != p.qid
         ), adc AS (
           SELECT c.qid, c.cid, SUM(q.qdot) AS f
           FROM cand c
           JOIN pcodes k ON k.vec_id = c.cid
           JOIN qdt q ON q.qid = c.qid AND q.s = k.s AND q.cw = k.cw
           GROUP BY 1, 2
         ), short AS (
           SELECT qid, cid FROM (
             SELECT qid, cid, row_number() OVER (
               PARTITION BY qid ORDER BY f DESC, cid) rn FROM adc) x
           WHERE rn <= 32
         ), fine AS (
           SELECT s.qid, s.cid,
             CAST(SUM(CAST(FLOOR(a.v*10000000.0) AS BIGINT)
                    * CAST(FLOOR(b.v*10000000.0) AS BIGINT)) AS DOUBLE)
               / 100000000000000.0 AS sim
           FROM short s
           JOIN ex a ON a.vec_id = s.qid
           JOIN ex b ON b.vec_id = s.cid AND b.pos = a.pos
           GROUP BY 1, 2
         )
         SELECT qid, cid, sim, rn FROM (
           SELECT qid, cid, sim, row_number() OVER (
             PARTITION BY qid ORDER BY sim DESC, cid) rn FROM fine) x
         WHERE rn <= 8 ORDER BY qid, rn"""))

  /** The PERSISTED IVF-PQ index built+maintained once per (session,
    * dir) — q192's ingest half under the `existingIvfIndex` pattern:
    * centroids AND per-subspace PQ codebooks trained on the even-id
    * half (the "existing corpus"), the odd-id half appended as the
    * arriving delta (assigned + encoded under the RECORDED artifacts,
    * no retrain).
    */
  private[llmops] def existingIvfPqIndex(
      s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val app = s.sparkContext.applicationId
    val tag = graft.ops.SessionScratch.dirTag(dir)
    val path =
      s"${graft.ops.SessionScratch.base("ivfpq_index", app)}/ivfpq_$tag"
    graft.ops.SessionScratch.once("ivfpq_index", app, dir) {
      val em = Tables(s, dir).embeddings
      IvfPqIndex.build(em.filter(col("vec_id") % 2 === 0), path, k = 4)
      IvfPqIndex.append(em.filter(col("vec_id") % 2 === 1), path)
      IndexMaintenance.markSharedReadonly(s, path, "q194,q202,q230")
    }
    path
  }

  /** IVF-PQ ANN over the PERSISTED, MAINTAINED index — the codes-only
    * search contract made literal: where q180's [[IvfIndex]] store
    * keeps raw vectors in its assignment rows (and refines against
    * them), this store keeps CELL + m one-byte CODES per vector (64×
    * smaller) and the search ranks candidates by the exact int64 ADC
    * sum alone — no raw corpus vector is read at query time, the
    * production FAISS IndexIVFPQ read path. Centroids AND per-subspace
    * PQ codebooks ([[PqCodebook.fit]]) trained on the even half only;
    * odd half appended under the recorded artifacts. The oracle
    * replays BOTH trainings restricted to the even half (kmeans cells
    * + unrolled per-subspace Lloyd codebooks), encodes EVERY vector
    * under those artifacts (build-encode ∪ append-encode ≡ one encode
    * pass, because append retrains nothing), and probes with the q192
    * ADC arithmetic — a drifted append (retrained centroids, retrained
    * codebook, missed or double-coded vectors) hash-mismatches.
    */
  val q194 = EngineQuery(
    "q194_knn_ivfpq_persisted",
    (s, dir) => {
      val t = Tables(s, dir)
      val path = existingIvfPqIndex(s, dir)
      IvfPqIndex.search(
        t.embeddings.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("eq")),
        path)
    },
    Some(kmeansTrainCtes(4, "vec_id % 2 = 0") + ivfPqAdcCtes() +
      """
         SELECT qid, cid, f, rn FROM (
           SELECT qid, cid, f, row_number() OVER (
             PARTITION BY qid ORDER BY f DESC, cid) rn FROM adc) x
         WHERE rn <= 8 ORDER BY qid, rn"""))

  /** Oracle CTEs shared by q194/q202: even-half codebook TRAINING, PQ
    * encode of every vector, the probe set, and the ADC candidate
    * scores — ends with `adc(qid, cid, f)`.
    */
  private def ivfPqAdcCtes(trainPred: String = "vec_id % 2 = 0")
      : String =
    """, sub AS (
           SELECT vec_id, CAST((pos-1)//16 AS INT) s, (pos-1)%16 pi,
             CAST(FLOOR(v*10000000.0) AS BIGINT) fv
           FROM ex
         )""" + pqTrainCtes(trainPred) +
    """, pqd AS (
           SELECT v.vec_id, v.s, c.cw,
             SUM((v.fv - c.fc)*(v.fv - c.fc)) AS d
           FROM sub v JOIN cbq c ON v.s = c.s AND v.pi = c.pi
           GROUP BY 1, 2, 3
         ), pcodes AS (
           SELECT vec_id, s, cw FROM (
             SELECT *, row_number() OVER (
               PARTITION BY vec_id, s ORDER BY d, cw) rn
             FROM pqd) x
           WHERE rn = 1
         ), qdt AS (
           SELECT q.vec_id AS qid, c.s, c.cw, SUM(q.fv*c.fc) AS qdot
           FROM sub q JOIN cbq c ON q.s = c.s AND q.pi = c.pi
           WHERE q.vec_id < 10
           GROUP BY 1, 2, 3
         ), probes AS (
           SELECT qid, cell FROM (
             SELECT vec_id AS qid, cell, row_number() OVER (
               PARTITION BY vec_id ORDER BY fdot DESC, cell) crn
             FROM d3 WHERE vec_id < 10) x
           WHERE crn <= 2
         ), cand AS (
           SELECT p.qid, a.vec_id AS cid FROM probes p
           JOIN a3 a ON a.cell = p.cell AND a.vec_id != p.qid
         ), adc AS (
           SELECT c.qid, c.cid, CAST(SUM(q.qdot) AS BIGINT) AS f
           FROM cand c
           JOIN pcodes k ON k.vec_id = c.cid
           JOIN qdt q ON q.qid = c.qid AND q.s = k.s AND q.cw = k.cw
           GROUP BY 1, 2
         )"""

  /** The MULTI-DAY semantic-dedup index ([[existingDay3Index]]'s shape,
    * embedding flavor): IVF trained on day-0's vectors (vec_id % 3 ==
    * 0), day-2's batch (% 3 == 1) INGESTED — semantic-probed against
    * the index and only the survivors' assignment rows admitted
    * ([[IvfIndex.dedupIngest]]). Built once per (session, dir); q197
    * then probes day-3's batch against the GROWN index.
    */
  private[llmops] def existingSemdedupIndex(
      s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val app = s.sparkContext.applicationId
    val tag = graft.ops.SessionScratch.dirTag(dir)
    val path =
      s"${graft.ops.SessionScratch.base("semdedup_index", app)}/sd_$tag"
    graft.ops.SessionScratch.once("semdedup_index", app, dir) {
      val em = Tables(s, dir).embeddings
      IvfIndex.build(em.filter(col("vec_id") % 3 === 0), path, k = 4)
      IvfIndex.dedupIngest(em.filter(col("vec_id") % 3 === 1), path)
        .count()
      graft.ops.SessionScratch.evictTransients()
    }
    path
  }

  /** INCREMENTAL SemDeDup over the persisted IVF index — q156's
    * semantic prune turned into q196's multi-day operational loop:
    * instead of re-clustering the whole corpus per batch (q156's
    * shape), arriving vectors are probed against the MAINTAINED index
    * (top-2 cells under the RECORDED day-0 centroids, exact fixed-point
    * dot >= 0.35 against indexed members only) and survivors' assignment
    * rows are appended ([[IvfIndex.dedupIngest]]). Day-3's probe must
    * therefore drop a vector that collides with EITHER the day-0 corpus
    * OR a day-2 survivor — and must NOT drop one colliding only with a
    * day-2 REJECT. The output carries `n_cand` (index members compared),
    * so the gate hashes the CANDIDATE SET, not just drop decisions: an
    * ingest that admitted a reject's rows inflates a day-3 survivor's
    * n_cand and hash-mismatches even when it flips no drop. In-batch
    * pairs are structurally excluded (probe joins only the index).
    *
    * 100 TB shape: per batch, centroid scoring is |delta|·k broadcast
    * dots; the index is touched by ONE cell equi-join bounded by cell
    * occupancy (k scales with the corpus in production — SemDeDup runs
    * 11k clusters on LAION); the corpus is never re-read or re-assigned.
    * Determinism: probes rank the exact int64 centroid dot, pair drops
    * compare the exact fixed-point cosine — the oracle replays day-0
    * training, both waves of admission, and the candidate counts.
    */
  /** Oracle CTEs shared by q197/q211: the two-wave semantic-dedup
    * admission replay over the day-0-trained cells — probes for every
    * non-day-0 vector (`pr`/`probes`), day-2 admission (`surv2`), and
    * day-3 drop verdicts (`pd3` — survivors are the ids NOT in it at
    * dot >= 0.35). Assumes kmeansTrainCtes(4, "vec_id %% 3 = 0") ran.
    */
  private def semdedupDay3Ctes: String =
    """
         , pr AS (
             SELECT vec_id, cell, row_number() OVER (
               PARTITION BY vec_id ORDER BY fdot DESC, cell) crn
             FROM d3 WHERE vec_id % 3 <> 0
           ), probes AS (
             SELECT vec_id, cell FROM pr WHERE crn <= 2
           ), cand2 AS (
             SELECT p.vec_id nid, a.vec_id mid
             FROM probes p JOIN a3 a ON a.cell = p.cell
             WHERE p.vec_id % 3 = 1 AND a.vec_id % 3 = 0
           ), pd2 AS (
             SELECT c.nid,
               CAST(SUM(CAST(FLOOR(ea.v*10000000.0) AS BIGINT)
                      * CAST(FLOOR(eb.v*10000000.0) AS BIGINT)) AS DOUBLE)
                 / 100000000000000.0 AS dot
             FROM cand2 c
             JOIN ex ea ON ea.vec_id = c.nid
             JOIN ex eb ON eb.vec_id = c.mid AND eb.pos = ea.pos
             GROUP BY c.nid, c.mid
           ), surv2 AS (
             SELECT vec_id FROM embeddings
             WHERE vec_id % 3 = 1 AND vec_id NOT IN (
               SELECT nid FROM pd2 WHERE dot >= 0.35)
           ), cand3 AS (
             SELECT p.vec_id nid, a.vec_id mid
             FROM probes p JOIN a3 a ON a.cell = p.cell
             WHERE p.vec_id % 3 = 2 AND (a.vec_id % 3 = 0 OR
               a.vec_id IN (SELECT vec_id FROM surv2))
           ), pd3 AS (
             SELECT c.nid,
               CAST(SUM(CAST(FLOOR(ea.v*10000000.0) AS BIGINT)
                      * CAST(FLOOR(eb.v*10000000.0) AS BIGINT)) AS DOUBLE)
                 / 100000000000000.0 AS dot
             FROM cand3 c
             JOIN ex ea ON ea.vec_id = c.nid
             JOIN ex eb ON eb.vec_id = c.mid AND eb.pos = ea.pos
             GROUP BY c.nid, c.mid
           )"""

  val q197 = EngineQuery(
    "q197_semdedup_day3_increment",
    (s, dir) => {
      val t = Tables(s, dir)
      val path = existingSemdedupIndex(s, dir)
      IvfIndex.semanticProbe(
          t.embeddings.filter(col("vec_id") % 3 === 2), path)
        .orderBy(col("vec_id"))
    },
    Some(kmeansTrainCtes(4, "vec_id % 3 = 0") + semdedupDay3Ctes +
      """
         , nc AS (
             SELECT e.vec_id, COALESCE(cnt.n, 0) AS n_cand
             FROM embeddings e LEFT JOIN (
               SELECT nid, COUNT(*) n FROM cand3 GROUP BY nid) cnt
               ON cnt.nid = e.vec_id
             WHERE e.vec_id % 3 = 2
           )
           SELECT e.vec_id, p.cell, nc.n_cand
           FROM embeddings e
           JOIN pr p ON p.vec_id = e.vec_id AND p.crn = 1
           JOIN nc ON nc.vec_id = e.vec_id
           WHERE e.vec_id % 3 = 2 AND e.vec_id NOT IN (
             SELECT nid FROM pd3 WHERE dot >= 0.35)
           ORDER BY e.vec_id"""))

  /** Graph-based ANN — the fourth index family next to IVF (q52/q54),
    * PQ (q56/q192), and binary codes (q169): a k-NN GRAPH (each vector
    * keeps directed edges to its 4 nearest same-cell neighbors) walked
    * by an unrolled best-first beam search (the HNSW / DiskANN-Vamana
    * search recipe, fixed to 2 expansion rounds so every step is
    * oracle-replayable). Entry points are the per-cell medoids (the
    * member with the highest exact dot to its trained centroid).
    *
    * Search: round 0 scores the k entry points; round 1 expands their
    * graph neighbors and keeps a beam of 4; round 2 expands the beam's
    * neighbors; the final top-8 ranks EVERY visited candidate. All
    * ranking quantities are exact int64 fixed-point dots (ties → smaller
    * id), so graph construction, beam selection, and the final ranking
    * replay bit-exactly in SQL.
    *
    * 100 TB shape: the one corpus-sized stage is the graph build — a
    * cell-blocked pair space (the q44/q156 bound: cell occupancy, not
    * corpus size, bounds the quadratic term; in production k scales
    * with the corpus). The graph itself is |corpus|·4 int64 edge rows
    * (GraphIndex persists it — built once, searched forever). Search
    * touches |queries|·(entries + beam·degree) rows per round through
    * equi-joins on the edge key — never |corpus| — and the beam state
    * per query is a handful of rows, exactly the property that makes
    * graph ANN the low-latency production choice.
    */
  val q198 = EngineQuery(
    "q198_knn_graph_beam",
    (s, dir) => {
      import s.implicits._
      val t = Tables(s, dir)
      // The corpus-sized stages — training, the cell-blocked pair-join
      // graph build, and the medoid entry points — are deterministic
      // functions of the corpus, memoized once per (session, dir) with
      // the edges persisted to session scratch (round-13 verdict #2;
      // the q192 training-memo precedent): re-deriving the pair space
      // per invocation made this the registry's heaviest steady-state
      // gate AND its variance carrier under IO contention. The
      // per-invocation WALK stays live, reading the |corpus|·degree
      // edge rows off parquet — exactly GraphIndex's build-once
      // production shape, here in the in-query form. The oracle is
      // unchanged (it replays the same build from the fixture).
      val app = s.sparkContext.applicationId
      val (graphDir, entryIds) = graft.ops.SessionScratch.memo(
        "graph_q198_built", app, dir) {
        val cents = KMeans.fit(s, t.embeddings, k = 4, iters = 2)
        val gdir =
          s"${graft.ops.SessionScratch.base("graph_q198", app)}" +
            s"/g_${graft.ops.SessionScratch.dirTag(dir)}"
        knnGraphOf(t.embeddings, cents, degree = 4)
          .write.mode("overwrite").parquet(gdir)
        val ids = entryPointsOf(t.embeddings, cents)
          .collect().map(_.getLong(0)).toSeq
        (gdir, ids)
      }
      val graph = graft.etl.ParquetDir.read(s, graphDir)
      val entries = entryIds.toDF("cid")
      beamSearch(
        t.embeddings.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("eq")),
        t.embeddings, graph, entries, topk = 8)
    },
    Some(kmeansTrainCtes(4) + knnGraphCtes() + beamTailSql))

  /** Oracle tail shared by q198/q199: the unrolled 2-round beam walk
    * over `graph(src, dst)` + `entries(vec_id)` CTEs (however they
    * were built), scored against `ex`.
    */
  private def beamTailSql: String = beamTail()

  /** The beam-walk oracle tail with a RESULT predicate — q216's
    * lazy-delete replay: masked ids still route (v1/b1/v2 include
    * them), the predicate applies only where the implementation's
    * excludeFromResults does — before the FINAL ranking, so ranks
    * close over the survivors.
    */
  private def beamTail(resultPred: String = "TRUE"): String =
    beamWalkCtes() + s"""
           SELECT qid, cid, sim, rn FROM (
             SELECT qid, cid, sim, row_number() OVER (
               PARTITION BY qid ORDER BY sim DESC, cid) rn FROM s2
             WHERE $resultPred) x
           WHERE rn <= 8
           ORDER BY qid, rn"""

  /** The 2-round beam walk through `s2(qid, cid, sim)` — split from
    * [[beamTail]] so q226's eval oracle can rank it into a `sys` CTE
    * instead of the final select, and parameterized by the query-set
    * predicate so q232's single-query fusion arm can reuse it.
    */
  private[llmops] def beamWalkCtes(
      queryPred: String = "vec_id < 10"): String =
    s"""
         , q AS (
             SELECT vec_id AS qid FROM embeddings WHERE $queryPred
           ), v1 AS (
             SELECT DISTINCT qid, cid FROM (
               SELECT q.qid, e.vec_id AS cid FROM q CROSS JOIN entries e
               UNION ALL
               SELECT q.qid, g.dst AS cid
               FROM q CROSS JOIN entries e JOIN graph g ON g.src = e.vec_id
             ) WHERE qid <> cid
           ), s1 AS (
             SELECT v.qid, v.cid,
               CAST(SUM(CAST(FLOOR(ea.v*10000000.0) AS BIGINT)
                      * CAST(FLOOR(eb.v*10000000.0) AS BIGINT)) AS DOUBLE)
                 / 100000000000000.0 AS sim
             FROM v1 v
             JOIN ex ea ON ea.vec_id = v.qid
             JOIN ex eb ON eb.vec_id = v.cid AND eb.pos = ea.pos
             GROUP BY v.qid, v.cid
           ), b1 AS (
             SELECT qid, cid FROM (
               SELECT qid, cid, row_number() OVER (
                 PARTITION BY qid ORDER BY sim DESC, cid) rn FROM s1) x
             WHERE rn <= 4
           ), v2 AS (
             SELECT DISTINCT qid, cid FROM (
               SELECT qid, cid FROM v1
               UNION ALL
               SELECT b.qid, g.dst AS cid
               FROM b1 b JOIN graph g ON g.src = b.cid
             ) WHERE qid <> cid
           ), s2 AS (
             SELECT v.qid, v.cid,
               CAST(SUM(CAST(FLOOR(ea.v*10000000.0) AS BIGINT)
                      * CAST(FLOOR(eb.v*10000000.0) AS BIGINT)) AS DOUBLE)
                 / 100000000000000.0 AS sim
             FROM v2 v
             JOIN ex ea ON ea.vec_id = v.qid
             JOIN ex eb ON eb.vec_id = v.cid AND eb.pos = ea.pos
             GROUP BY v.qid, v.cid
           )"""

  /** Plan-audit probe (ExplainAudit): the UN-checkpointed graph-build
    * frame — the gate checkpoints it, so the cell-blocked pair join
    * that carries q198's scale claim is invisible in the gate plan.
    */
  def graphBuildPlanProbe(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val t = Tables(s, dir)
    val cents = KMeans.fit(s, t.embeddings, k = 4, iters = 2)
    knnGraphOf(t.embeddings, cents, degree = 4)
  }

  /** Directed k-NN graph: each vector's `degree` nearest SAME-CELL
    * neighbors by exact fixed-point dot (ties → smaller id). Cell
    * blocking bounds the pair space by cell occupancy (the q44/q156
    * discipline); returns (src, dst) edge rows.
    */
  private[llmops] def knnGraphOf(emb: org.apache.spark.sql.DataFrame,
      cents: Seq[KMeans.Centroid], degree: Int)
      : org.apache.spark.sql.DataFrame = {
    val assigned = KMeans.assign(emb, cents)
    val a = assigned.select(col("cell"), col("vec_id").as("ia"),
      col("embedding").as("ea"))
    val b = assigned.select(col("cell"), col("vec_id").as("ib"),
      col("embedding").as("eb"))
    // per-src top-`degree` via the bounded-state TopK aggregator (the
    // q87 UDAF, exact-int64 variant): map-side partials prune the
    // occupancy-sized pair space to `degree` rows per src BEFORE the
    // exchange — a row_number window would shuffle and sort EVERY pair
    // row (|corpus|·occupancy, the stage that dominated q198's bench
    // time); ranking is bit-identical (score DESC, id ASC on the exact
    // fdot)
    a.join(b, Seq("cell")).filter(col("ia") =!= col("ib"))
      .select(col("ia"), col("ib"),
        graft.functions.VectorDot.fixedDotSum(
          col("ea").cast("array<double>"),
          col("eb").cast("array<double>")).as("fdot"))
      .groupBy(col("ia"))
      .agg(graft.functions.TopK.topKLong(degree)(
        col("fdot"), col("ib")).as("top"))
      .select(col("ia").as("src"),
        explode(col("top.id")).as("dst"))
  }

  /** Per-cell medoid entry points: the member with the highest exact
    * fixed-point dot to its trained centroid (ties → smaller id).
    * Returns k rows of (cid).
    */
  private[llmops] def entryPointsOf(emb: org.apache.spark.sql.DataFrame,
      cents: Seq[KMeans.Centroid]): org.apache.spark.sql.DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val centDf = cents.map(c => (c.cell, c.centroid.toSeq))
      .toDF("cell", "cvec")
    val wE = Window.partitionBy(col("cell"))
      .orderBy(col("cdot").desc, col("vec_id"))
    KMeans.assign(emb, cents)
      .join(broadcast(centDf), "cell")
      .select(col("cell"), col("vec_id"),
        graft.functions.VectorDot.fixedDotSum(
          col("embedding").cast("array<double>"), col("cvec")).as("cdot"))
      .withColumn("rn", row_number().over(wE))
      .filter(col("rn") === 1)
      .select(col("vec_id").as("cid"))
  }

  /** The graph walk's beam width: round 2 of [[beamSearch]] expands
    * the best 4 visited candidates per query, the operating point the
    * gates' oracle SQL pins.
    */
  private[llmops] val Beam = 4

  /** Unrolled best-first beam search over a (src, dst) k-NN graph
    * from fixed entry points: round 1 expands the entry points, round 2
    * the best [[Beam]] visited candidates; every visited candidate
    * competes in the final top-k. The candidate sets are bounded by
    * |queries|·(entries + degree·(entries + Beam)) — the graph is
    * touched only through equi-joins on src.
    */
  private[llmops] def beamSearch(queries: org.apache.spark.sql.DataFrame,
      emb: org.apache.spark.sql.DataFrame,
      graph: org.apache.spark.sql.DataFrame,
      entries: org.apache.spark.sql.DataFrame,
      topk: Int,
      excludeFromResults: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    val cand = emb.select(col("vec_id").as("cid"),
      col("embedding").as("ec"))
    def score(v: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame =
      v.join(cand, Seq("cid"))
        .select(col("qid"), col("eq"), col("cid"),
          exactDot(col("eq"), col("ec")).as("sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("cid"))
    val c0 = queries.crossJoin(broadcast(entries))
    val n1 = c0.join(graph, col("cid") === col("src"))
      .select(col("qid"), col("eq"), col("dst").as("cid"))
    // round 1's visited set is checkpointed: round 2 reads it twice
    // (beam selection and the union) and would otherwise re-derive it
    // and the graph from scratch — the frame is
    // |queries|·(entries + entries·degree) rows, driver-bounded, and
    // consumed within this query.
    val v1 = graft.ops.SessionScratch.transientCheckpoint(
      c0.select(col("qid"), col("eq"), col("cid")).union(n1)
        .filter(col("qid") =!= col("cid")).distinct())
    val b = score(v1).withColumn("rn", row_number().over(w))
      .filter(col("rn") <= Beam)
    val n2 = b.join(graph, col("cid") === col("src"))
      .select(col("qid"), col("eq"), col("dst").as("cid"))
    val v2 = v1.union(n2)
      .filter(col("qid") =!= col("cid")).distinct()
    // lazy-delete masking (DiskANN semantics): excluded ids still ROUTE
    // — they enter the visited set, can occupy beam slots, and their
    // edges are expanded — but never occupy a RESULT rank
    val scored = excludeFromResults match {
      case None => score(v2)
      case Some(x) =>
        val xx = x.select(col("id").as("__tomb_id"))
        score(v2).join(xx, col("cid") === col("__tomb_id"), "left_anti")
    }
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topk)
      .select(col("qid"), col("cid"), col("sim"), col("rn"))
      .orderBy(col("qid"), col("rn"))
  }

  /** Oracle CTE fragment building the same graph + entries over the
    * trained cells (d3/a3 from [[kmeansTrainCtes]]) — ends with
    * `graph(src, dst)` and `entries(vec_id)` CTEs. `memberPred`
    * restricts the graph's MEMBER population (q231's post-consolidation
    * replay: deleted members are gone from edges AND entry points, not
    * just masked at ranking) — the default TRUE is the full corpus.
    */
  private def knnGraphCtes(degree: Int = 4,
      memberPred: String = "TRUE"): String =
    s"""
       , mg AS (
           SELECT vec_id, cell FROM a3 WHERE $memberPred
         ), pairg AS (
           SELECT ea.vec_id ia, eb.vec_id ib,
             SUM(CAST(FLOOR(ea.v*10000000.0) AS BIGINT)
               * CAST(FLOOR(eb.v*10000000.0) AS BIGINT)) AS fdot
           FROM ex ea
           JOIN mg sa ON sa.vec_id = ea.vec_id
           JOIN mg sb ON sb.cell = sa.cell AND sb.vec_id <> sa.vec_id
           JOIN ex eb ON eb.vec_id = sb.vec_id AND eb.pos = ea.pos
           GROUP BY 1, 2
         ), graph AS (
           SELECT ia AS src, ib AS dst FROM (
             SELECT ia, ib, row_number() OVER (
               PARTITION BY ia ORDER BY fdot DESC, ib) rn FROM pairg) x
           WHERE rn <= $degree
         ), entries AS (
           SELECT vec_id FROM (
             SELECT a.vec_id, a.cell, row_number() OVER (
               PARTITION BY a.cell ORDER BY d.fdot DESC, a.vec_id) rn
             FROM mg a JOIN d3 d
               ON d.vec_id = a.vec_id AND d.cell = a.cell) x
           WHERE rn = 1
         )"""

  /** The PERSISTED graph index built+maintained once per (session,
    * dir) — q180's ingest shape for the graph family: build on the
    * even-id half, append the odd half as the arriving delta (forward
    * + reverse edges under the recorded centroids, no retrain).
    *
    * READ-ONLY after this builder returns (the [[existingIvfIndex]]
    * contract): shared by q199/q226/q230/q232/q233, and q233's audit
    * oracle states its exact end state. Mutation experiments clone —
    * the deleted/republished/consolidated graph builders each ingest
    * their own store.
    */
  private[llmops] def existingGraphIndex(
      s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val app = s.sparkContext.applicationId
    val tag = graft.ops.SessionScratch.dirTag(dir)
    val path =
      s"${graft.ops.SessionScratch.base("graph_index", app)}/gr_$tag"
    graft.ops.SessionScratch.once("graph_index", app, dir) {
      val em = Tables(s, dir).embeddings
      GraphIndex.build(em.filter(col("vec_id") % 2 === 0), path, k = 4)
      GraphIndex.append(em.filter(col("vec_id") % 2 === 1), path)
      IndexMaintenance.markSharedReadonly(s, path,
        "q199,q226,q230,q232,q233")
      graft.ops.SessionScratch.evictTransients()
    }
    path
  }

  /** The MULTI-DAY graph index ([[existingSemdedupIndex]]'s cadence,
    * graph flavor): day-0 build (vec_id % 3 == 0), then TWO append
    * waves — day-2 (% 3 == 1) and day-3 (% 3 == 2). Each wave's edge
    * candidates are exactly the members that EXISTED at its append
    * time plus its own batch (wave order is observable in the edges:
    * a day-2 vector can never edge to a day-3 vector, while day-3
    * vectors rank over everything) — the q209 oracle replays both
    * waves with that restriction, so a replayed/out-of-order append
    * hash-mismatches.
    */
  private[llmops] def existingDay3GraphIndex(
      s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val app = s.sparkContext.applicationId
    val tag = graft.ops.SessionScratch.dirTag(dir)
    val path =
      s"${graft.ops.SessionScratch.base("graph3_index", app)}/gr3_$tag"
    graft.ops.SessionScratch.once("graph3_index", app, dir) {
      val em = Tables(s, dir).embeddings
      GraphIndex.build(em.filter(col("vec_id") % 3 === 0), path, k = 4)
      GraphIndex.append(em.filter(col("vec_id") % 3 === 1), path)
      GraphIndex.append(em.filter(col("vec_id") % 3 === 2), path)
      graft.ops.SessionScratch.evictTransients()
    }
    path
  }

  /** Graph ANN over the PERSISTED, MAINTAINED index — q198's walk with
    * every artifact read off the store, and the INSERT-ONLY graph
    * maintenance contract hash-checked end-to-end: centroids + entry
    * points recorded on the even half and byte-untouched; the odd half
    * appended with its Degree nearest same-cell neighbors over
    * (existing ∪ batch) as FORWARD edges plus their REVERSES (the HNSW
    * bidirectional-insert rule — without reverses, appended vectors
    * are unreachable and can never be search results). The oracle
    * replays training restricted to the even half, build edges
    * (even→even), append edges (odd→all ∪ reverses), the even-half
    * medoid entries, and the full 2-round walk — so a drifted append
    * (retrained centroids, shifted entries, missing reverse edges,
    * edges ranked on anything but the exact int64 dot) hash-mismatches.
    */
  val q199 = EngineQuery(
    "q199_knn_graph_persisted",
    (s, dir) => {
      val t = Tables(s, dir)
      val path = existingGraphIndex(s, dir)
      GraphIndex.search(
        t.embeddings.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("eq")),
        path)
    },
    Some(kmeansTrainCtes(4, "vec_id % 2 = 0") + evenOddGraphCtes +
      beamTailSql))

  /** Oracle CTEs shared by q199/q216: the even-build + odd-append
    * insert-only graph (build edges, append forward+reverse edges,
    * day-0 entries, the stray/entry-fallback arm) — ends with
    * `graph(src, dst)` and `entries(vec_id)`.
    */
  private[llmops] def evenOddGraphCtes: String =
    """
         , pairg AS (
             SELECT ea.vec_id ia, eb.vec_id ib,
               SUM(CAST(FLOOR(ea.v*10000000.0) AS BIGINT)
                 * CAST(FLOOR(eb.v*10000000.0) AS BIGINT)) AS fdot
             FROM ex ea
             JOIN a3 sa ON sa.vec_id = ea.vec_id
             JOIN a3 sb ON sb.cell = sa.cell AND sb.vec_id <> sa.vec_id
             JOIN ex eb ON eb.vec_id = sb.vec_id AND eb.pos = ea.pos
             GROUP BY 1, 2
           ), bedges AS (
             SELECT ia AS src, ib AS dst FROM (
               SELECT ia, ib, row_number() OVER (
                 PARTITION BY ia ORDER BY fdot DESC, ib) rn
               FROM pairg WHERE ia % 2 = 0 AND ib % 2 = 0) x
             WHERE rn <= 4
           ), fedges AS (
             SELECT ia AS src, ib AS dst FROM (
               SELECT ia, ib, row_number() OVER (
                 PARTITION BY ia ORDER BY fdot DESC, ib) rn
               FROM pairg WHERE ia % 2 = 1) x
             WHERE rn <= 4
           ), entries AS (
             SELECT vec_id FROM (
               SELECT a.vec_id, a.cell, row_number() OVER (
                 PARTITION BY a.cell ORDER BY d.fdot DESC, a.vec_id) rn
               FROM a3 a JOIN d3 d
                 ON d.vec_id = a.vec_id AND d.cell = a.cell
               WHERE a.vec_id % 2 = 0) x
             WHERE rn = 1
           ), sedges AS (
             -- GraphIndex.append's stray arm: an appended vector whose
             -- cell has NO build-side member edges to the entry points
             -- (same-cell fedges alone would leave a build-empty cell's
             -- group as an unreachable island)
             SELECT a.vec_id AS src, e.vec_id AS dst
             FROM a3 a CROSS JOIN entries e
             WHERE a.vec_id % 2 = 1 AND a.vec_id <> e.vec_id
               AND a.cell NOT IN (
                 SELECT cell FROM a3 WHERE vec_id % 2 = 0)
           ), graph AS (
             SELECT DISTINCT src, dst FROM (
               SELECT src, dst FROM bedges
               UNION ALL SELECT src, dst FROM fedges
               UNION ALL SELECT dst AS src, src AS dst FROM fedges
               UNION ALL SELECT src, dst FROM sedges
               UNION ALL SELECT dst AS src, src AS dst FROM sedges)
           )"""

  /** The fully-INGESTED multi-day semantic-dedup index for q211
    * ([[existingSemdedupIndex]] stops before day-3 so q197 can gate
    * the probe; this store ADMITS day-3 too — the pipeline's end
    * state).
    */
  private[llmops] def existingIngestedDay3Index(
      s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val app = s.sparkContext.applicationId
    val tag = graft.ops.SessionScratch.dirTag(dir)
    val path =
      s"${graft.ops.SessionScratch.base("semdedup3_index", app)}/s3_$tag"
    graft.ops.SessionScratch.once("semdedup3_index", app, dir) {
      val em = Tables(s, dir).embeddings
      IvfIndex.build(em.filter(col("vec_id") % 3 === 0), path, k = 4)
      IvfIndex.dedupIngest(em.filter(col("vec_id") % 3 === 1), path)
        .count()
      IvfIndex.dedupIngest(em.filter(col("vec_id") % 3 === 2), path)
        .count()
      graft.ops.SessionScratch.evictTransients()
    }
    path
  }

  /** The COMPOSED day-3 embedding pipeline — admission then
    * auto-labeling as ONE operational flow over the maintained store
    * (the embedding-side q178: operators composing without re-scans):
    * day-3 arrivals are semantically dedup-INGESTED ([[IvfIndex
    * .dedupIngest]] — only survivors' rows enter the index), and the
    * gate then kNN-labels exactly the ADMITTED batch, read back OFF
    * THE INDEX, by majority vote of its 8 nearest LABELED members
    * (day-0 ∪ day-2 survivors — the q204 pre-filter discipline; a
    * day-3 row voting for a day-3 row would be self-labeling). The
    * oracle replays training, BOTH admission waves, the day-3
    * admission, and the vote — so an ingest that admitted a reject,
    * dropped a survivor, or let the new batch vote on itself
    * hash-mismatches.
    *
    * 100 TB shape: per day, admission is q197's delta×occupancy probe
    * + a delta-sized append; labeling reuses the SAME probes shape
    * over the same store — nothing corpus-sized runs twice, the corpus
    * is never re-read.
    */
  val q211 = EngineQuery(
    "q211_ingest_label_pipeline",
    (s, dir) => {
      import s.implicits._
      val t = Tables(s, dir)
      val path = existingIngestedDay3Index(s, dir)
      val m = IvfIndex.members(s, path)
      val day3 = m.filter(col("member_id") % 3 === 2)
        .select(col("member_id").as("qid"), col("em").as("eq"))
      val centDf = IvfIndex.centroids(s, path)
        .map(c => (c.cell, c.centroid.toSeq)).toDF("ccell", "ec")
      val probes = probeCells(day3, centDf)
      val labeled = m.filter(col("member_id") % 3 =!= 2)
      val labels = t.embeddings
        .select(col("vec_id").as("member_id"), col("label").as("mlabel"))
      val wRank = Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col("member_id"))
      val nn = probes.join(labeled, Seq("cell"))
        .select(col("qid"), col("member_id"),
          exactDot(col("eq"), col("em")).as("sim"))
        .withColumn("rn", row_number().over(wRank))
        .filter(col("rn") <= 8)
        .join(labels, Seq("member_id"))
      val wVote = Window.partitionBy(col("qid"))
        .orderBy(col("n_votes").desc, col("mlabel"))
      nn.groupBy(col("qid"), col("mlabel"))
        .agg(count(lit(1)).as("n_votes"))
        .withColumn("vr", row_number().over(wVote))
        .filter(col("vr") === 1)
        .select(col("qid").as("vec_id"), col("mlabel").as("pred_label"),
          col("n_votes"))
        .orderBy(col("vec_id"))
    },
    Some(kmeansTrainCtes(4, "vec_id % 3 = 0") + semdedupDay3Ctes +
      """
         , surv3 AS (
             SELECT vec_id FROM embeddings
             WHERE vec_id % 3 = 2 AND vec_id NOT IN (
               SELECT nid FROM pd3 WHERE dot >= 0.35)
           ), lcand AS (
             SELECT p.vec_id AS qid, a.vec_id AS member_id
             FROM probes p JOIN a3 a ON a.cell = p.cell
             WHERE p.vec_id IN (SELECT vec_id FROM surv3)
               AND (a.vec_id % 3 = 0 OR
                 a.vec_id IN (SELECT vec_id FROM surv2))
           ), ldots AS (
             SELECT c.qid, c.member_id,
               CAST(SUM(CAST(FLOOR(q.v*10000000.0) AS BIGINT)
                      * CAST(FLOOR(m.v*10000000.0) AS BIGINT)) AS DOUBLE)
                 / 100000000000000.0 AS sim
             FROM lcand c
             JOIN ex q ON q.vec_id = c.qid
             JOIN ex m ON m.vec_id = c.member_id AND m.pos = q.pos
             GROUP BY 1, 2
           ), lnn AS (
             SELECT qid, member_id FROM (
               SELECT *, row_number() OVER (PARTITION BY qid
                 ORDER BY sim DESC, member_id) rn FROM ldots) x
             WHERE rn <= 8
           ), votes AS (
             SELECT lnn.qid, e.label AS mlabel, COUNT(*) AS n_votes
             FROM lnn JOIN embeddings e ON e.vec_id = lnn.member_id
             GROUP BY 1, 2
           )
           SELECT qid AS vec_id, mlabel AS pred_label, n_votes FROM (
             SELECT *, row_number() OVER (PARTITION BY qid
               ORDER BY n_votes DESC, mlabel) vr FROM votes) x
           WHERE vr = 1 ORDER BY vec_id"""))

  /** The even/odd graph store with takedowns applied (q216's state):
    * build(even) + append(odd), then every vec_id divisible by 10
    * LAZY-deleted ([[GraphIndex.delete]] — masked from results, still
    * routing).
    */
  private[llmops] def existingDeletedGraphIndex(
      s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val app = s.sparkContext.applicationId
    val tag = graft.ops.SessionScratch.dirTag(dir)
    val path =
      s"${graft.ops.SessionScratch.base("graph_del_index", app)}/grd_$tag"
    graft.ops.SessionScratch.once("graph_del_index", app, dir) {
      val em = Tables(s, dir).embeddings
      GraphIndex.build(em.filter(col("vec_id") % 2 === 0), path, k = 4)
      GraphIndex.append(em.filter(col("vec_id") % 2 === 1), path)
      GraphIndex.delete(
        em.filter(col("vec_id") % 10 === 0).select(col("vec_id")), path)
      graft.ops.SessionScratch.evictTransients()
    }
    path
  }

  /** Graph ANN after LAZY deletes — the q208 takedown gate, graph
    * flavor, hashing the DiskANN lazy-delete semantics exactly: a
    * tombstoned member never occupies a result rank (ranks close over
    * survivors) but keeps ROUTING — it can hold beam slots and its
    * edges are still walked, so the reachable set is UNCHANGED. The
    * oracle replays the full insert-only graph and the walk with the
    * mask applied only at the final ranking — a mask that leaked into
    * the beam selection (changing what routes) or a physical row drop
    * (changing reachability) hash-mismatches just as surely as a
    * deleted id in the results.
    */
  val q216 = EngineQuery(
    "q216_knn_graph_deleted",
    (s, dir) => {
      val t = Tables(s, dir)
      val path = existingDeletedGraphIndex(s, dir)
      GraphIndex.search(
        t.embeddings.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("eq")),
        path)
    },
    Some(kmeansTrainCtes(4, "vec_id % 2 = 0") + evenOddGraphCtes +
      beamTail("cid % 10 <> 0")))

  /** A graph store through the R-UPGRADE loop: built insert-only at
    * the default R=4, then [[GraphIndex.republish]]ed over the full
    * corpus at R=8 — the remediation an operator runs when the measured
    * curve shows connectivity (not beam/rounds) binding recall
    * (SCALING.md, "Measured, round 12: the graph-ANN recall ceiling is
    * CONNECTIVITY").
    */
  private[llmops] def existingRepublishedGraphIndex(
      s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val app = s.sparkContext.applicationId
    val tag = graft.ops.SessionScratch.dirTag(dir)
    val path =
      s"${graft.ops.SessionScratch.base("graph_rep_index", app)}/grr_$tag"
    graft.ops.SessionScratch.once("graph_rep_index", app, dir) {
      val em = Tables(s, dir).embeddings
      GraphIndex.build(em.filter(col("vec_id") % 2 === 0), path, k = 4)
      GraphIndex.append(em.filter(col("vec_id") % 2 === 1), path)
      GraphIndex.republish(em, path, k = 4, degree = Some(8))
      graft.ops.SessionScratch.evictTransients()
    }
    path
  }

  /** Graph ANN after an R-UPGRADE republish — q212's drift-arm gate,
    * graph flavor, ALSO oracle-pinning the out-degree knob itself
    * (round 12 measured R as the recall lever; this hashes a non-
    * default R end-to-end): the store is built insert-only at R=4,
    * then republished over the full corpus at R=8. The oracle replays
    * full-corpus training + the degree-8 forward-only build graph +
    * the walk — a republish that kept the old R (or the old
    * insert-only edge set, or stale centroids/entries) hash-mismatches.
    */
  val q213 = EngineQuery(
    "q213_knn_graph_republished_r8",
    (s, dir) => {
      val t = Tables(s, dir)
      val path = existingRepublishedGraphIndex(s, dir)
      GraphIndex.search(
        t.embeddings.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("eq")),
        path)
    },
    Some(kmeansTrainCtes(4) + knnGraphCtes(degree = 8) + beamTailSql))

  /** Graph ANN after TWO append waves — the q196/q197 multi-day
    * admission cadence applied to the graph family: day-0 build, day-2
    * and day-3 appends, then the walk over the twice-grown store. The
    * oracle replays EACH wave's edge rule against exactly the members
    * that existed at its append time (day-2 edges can never point to
    * day-3 — `ib % 3 <> 2` — while day-3 ranks over everything, both
    * waves with their own stray/entry-fallback arm against the day-0
    * stray baseline), so a replayed, merged, or out-of-order append
    * hash-mismatches even when the final member set is right. Day-2
    * and day-3 members must surface as RESULTS through edges alone —
    * entry points stay day-0 by the train-then-add contract.
    *
    * 100 TB shape: identical to q199 per wave — each append's pair
    * space is delta × cell occupancy, never corpus × corpus; the
    * store grows by exactly the batch's member+edge rows per day.
    */
  val q209 = EngineQuery(
    "q209_knn_graph_day3",
    (s, dir) => {
      val t = Tables(s, dir)
      val path = existingDay3GraphIndex(s, dir)
      GraphIndex.search(
        t.embeddings.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("eq")),
        path)
    },
    Some(kmeansTrainCtes(4, "vec_id % 3 = 0") +
      """
         , pairg AS (
             SELECT ea.vec_id ia, eb.vec_id ib,
               SUM(CAST(FLOOR(ea.v*10000000.0) AS BIGINT)
                 * CAST(FLOOR(eb.v*10000000.0) AS BIGINT)) AS fdot
             FROM ex ea
             JOIN a3 sa ON sa.vec_id = ea.vec_id
             JOIN a3 sb ON sb.cell = sa.cell AND sb.vec_id <> sa.vec_id
             JOIN ex eb ON eb.vec_id = sb.vec_id AND eb.pos = ea.pos
             GROUP BY 1, 2
           ), bedges AS (
             SELECT ia AS src, ib AS dst FROM (
               SELECT ia, ib, row_number() OVER (
                 PARTITION BY ia ORDER BY fdot DESC, ib) rn
               FROM pairg WHERE ia % 3 = 0 AND ib % 3 = 0) x
             WHERE rn <= 4
           ), fedges2 AS (
             -- day-2 wave: candidates are day-0 ∪ the day-2 batch ONLY
             SELECT ia AS src, ib AS dst FROM (
               SELECT ia, ib, row_number() OVER (
                 PARTITION BY ia ORDER BY fdot DESC, ib) rn
               FROM pairg WHERE ia % 3 = 1 AND ib % 3 <> 2) x
             WHERE rn <= 4
           ), fedges3 AS (
             -- day-3 wave: candidates are everything existing ∪ batch
             SELECT ia AS src, ib AS dst FROM (
               SELECT ia, ib, row_number() OVER (
                 PARTITION BY ia ORDER BY fdot DESC, ib) rn
               FROM pairg WHERE ia % 3 = 2) x
             WHERE rn <= 4
           ), entries AS (
             SELECT vec_id FROM (
               SELECT a.vec_id, a.cell, row_number() OVER (
                 PARTITION BY a.cell ORDER BY d.fdot DESC, a.vec_id) rn
               FROM a3 a JOIN d3 d
                 ON d.vec_id = a.vec_id AND d.cell = a.cell
               WHERE a.vec_id % 3 = 0) x
             WHERE rn = 1
           ), sedges2 AS (
             SELECT a.vec_id AS src, e.vec_id AS dst
             FROM a3 a CROSS JOIN entries e
             WHERE a.vec_id % 3 = 1 AND a.vec_id <> e.vec_id
               AND a.cell NOT IN (
                 SELECT cell FROM a3 WHERE vec_id % 3 = 0)
           ), sedges3 AS (
             SELECT a.vec_id AS src, e.vec_id AS dst
             FROM a3 a CROSS JOIN entries e
             WHERE a.vec_id % 3 = 2 AND a.vec_id <> e.vec_id
               AND a.cell NOT IN (
                 SELECT cell FROM a3 WHERE vec_id % 3 <> 2)
           ), graph AS (
             SELECT DISTINCT src, dst FROM (
               SELECT src, dst FROM bedges
               UNION ALL SELECT src, dst FROM fedges2
               UNION ALL SELECT dst AS src, src AS dst FROM fedges2
               UNION ALL SELECT src, dst FROM sedges2
               UNION ALL SELECT dst AS src, src AS dst FROM sedges2
               UNION ALL SELECT src, dst FROM fedges3
               UNION ALL SELECT dst AS src, src AS dst FROM fedges3
               UNION ALL SELECT src, dst FROM sedges3
               UNION ALL SELECT dst AS src, src AS dst FROM sedges3)
           )""" + beamTailSql))

  /** FILTERED ANN over the persisted IVF index — the production
    * predicate+vector search (FAISS IDSelector / filtered retrieval):
    * each query's top-8 is taken among candidates sharing the QUERY'S
    * label, with the predicate applied BEFORE ranking (post-filtering
    * a fixed top-k is the classic recall bug — a k-deep unfiltered
    * list can contain fewer than k same-label rows while the probed
    * cells hold plenty). Reads the SAME session-once store as q180:
    * the index stays generic (member_id, cell, em); metadata joins in
    * at query time on member_id, the catalog-join shape — a new
    * predicate never requires a re-index.
    *
    * 100 TB shape: the candidate set is |queries|·occupancy·nprobe
    * BEFORE the metadata join, so the join input is probe-bounded,
    * never |corpus|; the label table prunes to (vec_id, label) at the
    * scan. Determinism: the predicate is an equality on stored values;
    * ranking stays on the exact fixed-point dot.
    */
  val q201 = EngineQuery(
    "q201_knn_ivf_filtered",
    (s, dir) => {
      import s.implicits._
      val t = Tables(s, dir)
      val path = existingIvfIndex(s, dir)
      val centDf = IvfIndex.centroids(s, path)
        .map(c => (c.cell, c.centroid.toSeq)).toDF("ccell", "ec")
      val probes = probeCells(
        t.embeddings.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("eq"),
            col("label").as("qlabel")),
        centDf)
      val assigned = IvfIndex.members(s, path)
      val labels = t.embeddings
        .select(col("vec_id").as("member_id"), col("label").as("mlabel"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col("member_id"))
      probes.join(assigned, Seq("cell"))
        .filter(col("qid") =!= col("member_id"))
        .join(labels, Seq("member_id"))
        .filter(col("mlabel") === col("qlabel"))
        .select(col("qid"), col("member_id"),
          exactDot(col("eq"), col("em")).as("sim"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 8)
        .select(col("qid"), col("member_id").as("cid"), col("sim"),
          col("rn"))
        .orderBy(col("qid"), col("rn"))
    },
    Some(kmeansTrainCtes(4, "vec_id % 2 = 0") +
      """, probes AS (
           SELECT qid, cell FROM (
             SELECT vec_id AS qid, cell, row_number() OVER (
               PARTITION BY vec_id ORDER BY fdot DESC, cell) crn
             FROM d3 WHERE vec_id < 10) x
           WHERE crn <= 2
         ), cand AS (
           SELECT p.qid, a.vec_id AS member_id FROM probes p
           JOIN a3 a ON a.cell = p.cell AND a.vec_id != p.qid
         ), fcand AS (
           SELECT c.qid, c.member_id FROM cand c
           JOIN embeddings qm ON qm.vec_id = c.qid
           JOIN embeddings mm ON mm.vec_id = c.member_id
           WHERE mm.label = qm.label
         ), dots AS (
           SELECT c.qid, c.member_id,
             CAST(SUM(CAST(FLOOR(q.v*10000000.0) AS BIGINT)
                    * CAST(FLOOR(m.v*10000000.0) AS BIGINT)) AS DOUBLE)
               / 100000000000000.0 AS sim
           FROM fcand c
           JOIN ex q ON q.vec_id = c.qid
           JOIN ex m ON m.vec_id = c.member_id AND m.pos = q.pos
           GROUP BY 1, 2
         )
         SELECT qid, member_id AS cid, sim, rn FROM (
           SELECT *, row_number() OVER (PARTITION BY qid
             ORDER BY sim DESC, member_id) rn FROM dots) x
         WHERE rn <= 8 ORDER BY qid, rn"""))

  /** CROSS-STORE REFINE (ADC+R over persisted artifacts) — the DiskANN
    * / FAISS IndexRefineFlat memory-hierarchy split composed from two
    * MAINTAINED stores: the IVF-PQ codes store (16 bytes/vector — the
    * "in-memory" tier) produces a 32-deep ADC shortlist, and only
    * those |queries|·32 rows touch raw vectors, read from the IVF
    * store's assignment rows (the "on-disk" tier). q194 is ADC-only by
    * design (raw vectors are not in the codes store); this is the
    * production answer to its recall ceiling — LlmopsSpec measures the
    * refine lift. Both stores are the session-once even-build/odd-append
    * artifacts (q180/q194), so the refine also cross-checks that two
    * independently maintained indexes agree on the corpus.
    *
    * 100 TB shape: the ADC stage never reads a raw vector; the refine
    * fetch is a |queries|·32-row equi-join against the assignment
    * store — shortlist-bounded IO, never corpus-sized.
    */
  val q202 = EngineQuery(
    "q202_knn_ivfpq_refined",
    (s, dir) => {
      val t = Tables(s, dir)
      val pqPath = existingIvfPqIndex(s, dir)
      val rawPath = existingIvfIndex(s, dir)
      val queries = t.embeddings.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("eq"))
      val shortlist = IvfPqIndex.search(queries, pqPath, topk = 32)
        .select(col("qid"), col("cid"))
      val raw = IvfIndex.members(s, rawPath)
        .select(col("member_id").as("cid"), col("em"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col("cid"))
      shortlist.join(raw, Seq("cid"))
        .join(queries, Seq("qid"))
        .select(col("qid"), col("cid"),
          exactDot(col("eq"), col("em")).as("sim"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 8)
        .select(col("qid"), col("cid"), col("sim"), col("rn"))
        .orderBy(col("qid"), col("rn"))
    },
    Some(kmeansTrainCtes(4, "vec_id % 2 = 0") + ivfPqAdcCtes() +
      """
         , short AS (
             SELECT qid, cid FROM (
               SELECT qid, cid, row_number() OVER (
                 PARTITION BY qid ORDER BY f DESC, cid) rn FROM adc) x
             WHERE rn <= 32
           ), fine AS (
             SELECT sl.qid, sl.cid,
               CAST(SUM(CAST(FLOOR(q.v*10000000.0) AS BIGINT)
                      * CAST(FLOOR(m.v*10000000.0) AS BIGINT)) AS DOUBLE)
                 / 100000000000000.0 AS sim
             FROM short sl
             JOIN ex q ON q.vec_id = sl.qid
             JOIN ex m ON m.vec_id = sl.cid AND m.pos = q.pos
             GROUP BY 1, 2
           )
           SELECT qid, cid, sim, rn FROM (
             SELECT qid, cid, sim, row_number() OVER (
               PARTITION BY qid ORDER BY sim DESC, cid) rn FROM fine) x
           WHERE rn <= 8 ORDER BY qid, rn"""))

  /** kNN LABEL PROPAGATION over the persisted IVF index —
    * classification-by-retrieval (the auto-labeling / weak-supervision
    * workhorse): every UNLABELED vector (odd ids) takes the majority
    * label of its 8 nearest LABELED neighbors (even ids — the side the
    * index was trained on), searched through the maintained store with
    * the labeled-side restriction applied BEFORE ranking (q201's
    * pre-filter discipline — a top-8 over both sides post-filtered to
    * the labeled half is the recall bug again). Ties break to the
    * smaller label; the vote count rides along so the gate hashes the
    * full vote, not just the argmax.
    *
    * 100 TB shape: identical to q201 — |queries|·occupancy·nprobe
    * candidates before the label join, exact-dot ranking, then a
    * |queries|·8-row vote agg. The whole unlabeled side is the query
    * set (not a 10-row probe), so this is also the family's bulk-read
    * stress gate.
    */
  val q204 = EngineQuery(
    "q204_knn_label_propagation",
    (s, dir) => {
      import s.implicits._
      val t = Tables(s, dir)
      val path = existingIvfIndex(s, dir)
      val centDf = IvfIndex.centroids(s, path)
        .map(c => (c.cell, c.centroid.toSeq)).toDF("ccell", "ec")
      val probes = probeCells(
        t.embeddings.filter(col("vec_id") % 2 === 1)
          .select(col("vec_id").as("qid"), col("embedding").as("eq")),
        centDf)
      val assigned = IvfIndex.members(s, path)
        .filter(col("member_id") % 2 === 0)
      val labels = t.embeddings.filter(col("vec_id") % 2 === 0)
        .select(col("vec_id").as("member_id"), col("label").as("mlabel"))
      val wRank = Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col("member_id"))
      val nn = probes.join(assigned, Seq("cell"))
        .select(col("qid"), col("member_id"),
          exactDot(col("eq"), col("em")).as("sim"))
        .withColumn("rn", row_number().over(wRank))
        .filter(col("rn") <= 8)
        .join(labels, Seq("member_id"))
      val wVote = Window.partitionBy(col("qid"))
        .orderBy(col("n_votes").desc, col("mlabel"))
      nn.groupBy(col("qid"), col("mlabel"))
        .agg(count(lit(1)).as("n_votes"))
        .withColumn("vr", row_number().over(wVote))
        .filter(col("vr") === 1)
        .select(col("qid").as("vec_id"), col("mlabel").as("pred_label"),
          col("n_votes"))
        .orderBy(col("vec_id"))
    },
    Some(kmeansTrainCtes(4, "vec_id % 2 = 0") +
      """, probes AS (
           SELECT qid, cell FROM (
             SELECT vec_id AS qid, cell, row_number() OVER (
               PARTITION BY vec_id ORDER BY fdot DESC, cell) crn
             FROM d3 WHERE vec_id % 2 = 1) x
           WHERE crn <= 2
         ), cand AS (
           SELECT p.qid, a.vec_id AS member_id FROM probes p
           JOIN a3 a ON a.cell = p.cell
           WHERE a.vec_id % 2 = 0
         ), dots AS (
           SELECT c.qid, c.member_id,
             CAST(SUM(CAST(FLOOR(q.v*10000000.0) AS BIGINT)
                    * CAST(FLOOR(m.v*10000000.0) AS BIGINT)) AS DOUBLE)
               / 100000000000000.0 AS sim
           FROM cand c
           JOIN ex q ON q.vec_id = c.qid
           JOIN ex m ON m.vec_id = c.member_id AND m.pos = q.pos
           GROUP BY 1, 2
         ), nn AS (
           SELECT qid, member_id FROM (
             SELECT *, row_number() OVER (PARTITION BY qid
               ORDER BY sim DESC, member_id) rn FROM dots) x
           WHERE rn <= 8
         ), votes AS (
           SELECT n.qid, e.label AS mlabel, COUNT(*) AS n_votes
           FROM nn n JOIN embeddings e ON e.vec_id = n.member_id
           GROUP BY 1, 2
         )
         SELECT qid AS vec_id, mlabel AS pred_label, n_votes FROM (
           SELECT *, row_number() OVER (PARTITION BY qid
             ORDER BY n_votes DESC, mlabel) vr FROM votes) x
         WHERE vr = 1 ORDER BY vec_id"""))

  /** Index-quality EVALUATION harness over the persisted IVF store —
    * the nightly job a production retrieval team runs: per query,
    * recall@8 and reciprocal rank of the MAINTAINED index
    * ([[existingIvfIndex]] — the same session-once store q180/q201/
    * q202/q204 read) against the exact brute-force ground truth
    * (q50's two-phase exact top-8). The metrics themselves are the
    * gate: n_hit (|index top-8 ∩ exact top-8|), the index rank of the
    * first true neighbor, and its reciprocal rank in exact fixed
    * point (1e12 div rank) — all integers, so the whole eval sheet
    * hash-gates.
    *
    * Scale shape: ground truth rides q50's broadcast two-phase scan
    * (the one corpus-sized stage — at 100 TB the truth set is a
    * sampled query panel, |panel|·corpus bounded exactly like q50);
    * the system side is the probe-bounded index read; the metric join
    * touches |queries|·8 rows. A drifted index (missed append,
    * re-trained centroids, wrong probe order) moves a rank and
    * hash-mismatches — this is q180's contract read through the lens
    * a retrieval team actually monitors.
    */
  /** The q217/q226 metric join: per-query recall@k + reciprocal rank
    * of `sys(qid, cid, rn)` against `truth(qid, cid)` — all exact
    * integers, |queries|·k rows.
    */
  private def evalMetrics(truth: org.apache.spark.sql.DataFrame,
      sys: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val nrel = truth.groupBy(col("qid")).agg(count(lit(1)).as("n_rel"))
    val hits = sys
      .join(truth.withColumn("rel", lit(1)), Seq("qid", "cid"), "left")
      .groupBy(col("qid"))
      .agg(sum(coalesce(col("rel"), lit(0))).as("n_hit"),
        min(when(col("rel") === 1, col("rn"))).as("fr"))
    nrel.join(hits, Seq("qid"), "left")
      .select(col("qid"), col("n_rel"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(col("fr"), lit(0)).cast("long").as("first_rank"),
        coalesce(expr("1000000000000 div fr"), lit(0L)).as("rr_e12"))
      .orderBy(col("qid"))
  }

  /** Oracle metric tail shared by q217/q226 — assumes `sys(qid, cid,
    * rn)` and `truth(qid, cid)` CTEs exist.
    */
  private def evalMetricsSql: String =
    """, nrel AS (
           SELECT qid, COUNT(*) AS n_rel FROM truth GROUP BY qid
         ), hits AS (
           SELECT s.qid,
             CAST(SUM(CASE WHEN t.cid IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_hit,
             MIN(CASE WHEN t.cid IS NOT NULL THEN s.rn END) AS fr
           FROM sys s LEFT JOIN truth t
             ON t.qid = s.qid AND t.cid = s.cid
           GROUP BY s.qid
         )
         SELECT n.qid, n.n_rel, COALESCE(h.n_hit, 0) AS n_hit,
           CAST(COALESCE(h.fr, 0) AS BIGINT) AS first_rank,
           CAST(COALESCE(1000000000000 // h.fr, 0) AS BIGINT) AS rr_e12
         FROM nrel n LEFT JOIN hits h ON h.qid = n.qid
         ORDER BY n.qid"""

  /** Exact-truth oracle CTE: brute top-8 per query over all
    * candidates (q50's replay) as `truth(qid, cid)` — shared by
    * q217/q226.
    */
  private def exactTruthCtes: String =
    """, tdots AS (
           SELECT q.vec_id AS qid, c.vec_id AS cid,
             CAST(SUM(CAST(FLOOR(q.v*10000000.0) AS BIGINT)
                    * CAST(FLOOR(c.v*10000000.0) AS BIGINT)) AS DOUBLE)
               / 100000000000000.0 AS sim
           FROM ex q JOIN ex c ON q.pos = c.pos AND q.vec_id != c.vec_id
           WHERE q.vec_id < 10
           GROUP BY 1, 2
         ), truth AS (
           SELECT qid, cid FROM (
             SELECT qid, cid, row_number() OVER (PARTITION BY qid
               ORDER BY sim DESC, cid) rn FROM tdots) x
           WHERE rn <= 8
         )"""

  val q217 = EngineQuery(
    "q217_ann_eval_recall",
    (s, dir) => {
      val t = Tables(s, dir)
      val path = existingIvfIndex(s, dir)
      val truth = q50.run(s, dir).select(col("qid"), col("cid"))
      val sys = IvfIndex.search(
        t.embeddings.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("eq")),
        path)
        .select(col("qid"), col("cid"), col("rn"))
      evalMetrics(truth, sys)
    },
    Some(kmeansTrainCtes(4, "vec_id % 2 = 0") +
      """, probes AS (
           SELECT qid, cell FROM (
             SELECT vec_id AS qid, cell, row_number() OVER (
               PARTITION BY vec_id ORDER BY fdot DESC, cell) crn
             FROM d3 WHERE vec_id < 10) x
           WHERE crn <= 2
         ), cand AS (
           SELECT p.qid, a.vec_id AS member_id FROM probes p
           JOIN a3 a ON a.cell = p.cell AND a.vec_id != p.qid
         ), sdots AS (
           SELECT c.qid, c.member_id,
             CAST(SUM(CAST(FLOOR(q.v*10000000.0) AS BIGINT)
                    * CAST(FLOOR(m.v*10000000.0) AS BIGINT)) AS DOUBLE)
               / 100000000000000.0 AS sim
           FROM cand c
           JOIN ex q ON q.vec_id = c.qid
           JOIN ex m ON m.vec_id = c.member_id AND m.pos = q.pos
           GROUP BY 1, 2
         ), sys AS (
           SELECT qid, member_id AS cid, rn FROM (
             SELECT *, row_number() OVER (PARTITION BY qid
               ORDER BY sim DESC, member_id) rn FROM sdots) x
           WHERE rn <= 8
         )""" + exactTruthCtes + evalMetricsSql))

  /** Fixed-point DCG discount: floor(1e9 / log2(rank+1)) for ranks
    * 1..8, as literals so both engines use the identical integer table
    * (log2 is not bit-specified across engines; a literal table is).
    */
  private val NdcgDisc: Seq[(Int, Long)] = Seq(
    1 -> 1000000000L, 2 -> 630929753L, 3 -> 500000000L,
    4 -> 430676558L, 5 -> 386852807L, 6 -> 356207187L,
    7 -> 333333333L, 8 -> 315464876L)

  private def discOf(rank: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    NdcgDisc.foldLeft(lit(0L)) { case (acc, (r, d)) =>
      when(rank === r, lit(d)).otherwise(acc)
    }

  private val discSqlCase: String =
    "CASE %s " + NdcgDisc.map { case (r, d) => s"WHEN $r THEN $d" }
      .mkString(" ") + " ELSE 0 END"

  /** nDCG@8 of the persisted IVF store — q217's eval harness extended
    * to the GRADED ranking metric a search team actually reports:
    * gains derive from the exact ground-truth ranks (gain = 9 − true
    * rank, so the true top-1 is worth 8), discounts are the literal
    * fixed-point table [[NdcgDisc]] (floor(1e9/log2(r+1)) — log2 is
    * not bit-specified across engines, a shared integer table is),
    * DCG sums gain·disc over the index's hits at their INDEX ranks,
    * IDCG places the gains at their ideal ranks (= the exact ranking
    * itself, since gains are rank-derived), and ndcg_e6 = DCG·1e6 div
    * IDCG — every quantity exact int64, so the metric sheet
    * hash-gates.
    *
    * Scale shape: identical to q217 (truth = q50's broadcast
    * two-phase scan, system = the probe-bounded index read, metric
    * join over |queries|·8 rows).
    */
  val q222 = EngineQuery(
    "q222_ann_eval_ndcg",
    (s, dir) => {
      val t = Tables(s, dir)
      val path = existingIvfIndex(s, dir)
      val truth = q50.run(s, dir)
        .select(col("qid"), col("cid"),
          (lit(9) - col("rn")).cast("long").as("gain"),
          discOf(col("rn")).as("tdisc"))
      val sys = IvfIndex.search(
        t.embeddings.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("eq")),
        path)
        .select(col("qid"), col("cid"), discOf(col("rn")).as("sdisc"))
      val idcg = truth.groupBy(col("qid"))
        .agg(sum(col("gain") * col("tdisc")).as("idcg_e9"))
      val dcg = sys
        .join(truth.select(col("qid"), col("cid"), col("gain")),
          Seq("qid", "cid"))
        .groupBy(col("qid"))
        .agg(sum(col("gain") * col("sdisc")).as("dcg0"))
      idcg.join(dcg, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("dcg0"), lit(0L)).as("dcg_e9"),
          col("idcg_e9"),
          expr("coalesce(dcg0, 0L) * 1000000 div idcg_e9").as("ndcg_e6"))
        .orderBy(col("qid"))
    },
    Some(kmeansTrainCtes(4, "vec_id % 2 = 0") +
      s""", probes AS (
           SELECT qid, cell FROM (
             SELECT vec_id AS qid, cell, row_number() OVER (
               PARTITION BY vec_id ORDER BY fdot DESC, cell) crn
             FROM d3 WHERE vec_id < 10) x
           WHERE crn <= 2
         ), cand AS (
           SELECT p.qid, a.vec_id AS member_id FROM probes p
           JOIN a3 a ON a.cell = p.cell AND a.vec_id != p.qid
         ), sdots AS (
           SELECT c.qid, c.member_id,
             CAST(SUM(CAST(FLOOR(q.v*10000000.0) AS BIGINT)
                    * CAST(FLOOR(m.v*10000000.0) AS BIGINT)) AS DOUBLE)
               / 100000000000000.0 AS sim
           FROM cand c
           JOIN ex q ON q.vec_id = c.qid
           JOIN ex m ON m.vec_id = c.member_id AND m.pos = q.pos
           GROUP BY 1, 2
         ), sys AS (
           SELECT qid, member_id AS cid,
             ${discSqlCase.format("rn")} AS sdisc
           FROM (
             SELECT *, row_number() OVER (PARTITION BY qid
               ORDER BY sim DESC, member_id) rn FROM sdots) x
           WHERE rn <= 8
         ), tdots AS (
           SELECT q.vec_id AS qid, c.vec_id AS cid,
             CAST(SUM(CAST(FLOOR(q.v*10000000.0) AS BIGINT)
                    * CAST(FLOOR(c.v*10000000.0) AS BIGINT)) AS DOUBLE)
               / 100000000000000.0 AS sim
           FROM ex q JOIN ex c ON q.pos = c.pos AND q.vec_id != c.vec_id
           WHERE q.vec_id < 10
           GROUP BY 1, 2
         ), truth AS (
           SELECT qid, cid, 9 - rn AS gain,
             ${discSqlCase.format("rn")} AS tdisc
           FROM (
             SELECT qid, cid, row_number() OVER (PARTITION BY qid
               ORDER BY sim DESC, cid) rn FROM tdots) x
           WHERE rn <= 8
         ), idcg AS (
           SELECT qid, CAST(SUM(gain * tdisc) AS BIGINT) AS idcg_e9
           FROM truth GROUP BY qid
         ), dcg AS (
           SELECT s.qid, CAST(SUM(t.gain * s.sdisc) AS BIGINT) AS dcg0
           FROM sys s JOIN truth t ON t.qid = s.qid AND t.cid = s.cid
           GROUP BY s.qid
         )
         SELECT i.qid, COALESCE(d.dcg0, 0) AS dcg_e9, i.idcg_e9,
           CAST(COALESCE(d.dcg0, 0) * 1000000 // i.idcg_e9 AS BIGINT)
             AS ndcg_e6
         FROM idcg i LEFT JOIN dcg d ON d.qid = i.qid
         ORDER BY i.qid"""))

  /** The eval harness over the GRAPH index family — q217's discipline
    * on the SECOND maintained ANN read path: recall@8 + reciprocal
    * rank of the persisted insert-only kNN graph's beam search
    * ([[GraphIndex.search]] over q199's even-build + odd-append store)
    * against the exact brute-force truth. With q217 the two production
    * read paths (cell probe, graph walk) are monitored by the same
    * hash-gated metric sheet — the apples-to-apples comparison an
    * index owner uses to pick a family.
    *
    * Scale shape: q217's (truth = the one corpus-sized scan; the walk
    * side is |queries|·(entries + beam·degree) — never corpus; the
    * metric join |queries|·8).
    */
  val q226 = EngineQuery(
    "q226_graph_eval_recall",
    (s, dir) => {
      val t = Tables(s, dir)
      val path = existingGraphIndex(s, dir)
      val truth = q50.run(s, dir).select(col("qid"), col("cid"))
      val sys = GraphIndex.search(
        t.embeddings.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("eq")),
        path)
        .select(col("qid"), col("cid"), col("rn"))
      evalMetrics(truth, sys)
    },
    Some(kmeansTrainCtes(4, "vec_id % 2 = 0") + evenOddGraphCtes +
      beamWalkCtes() +
      """, sys AS (
           SELECT qid, cid, rn FROM (
             SELECT qid, cid, row_number() OVER (
               PARTITION BY qid ORDER BY sim DESC, cid) rn FROM s2) x
           WHERE rn <= 8
         )""" + exactTruthCtes + evalMetricsSql))

  /** Oracle rounds 2..`rounds` of the q219 MMR loop — assumes CTEs
    * `cand16(qid, cid, fq)`, `cpairs(qid, ca, cb, fab)`, `sel1`, and
    * `selu1` exist; emits penN/scN/selN/seluN per round. Every score
    * is exact int64 (7·fq − 3·max-pairwise), ties → smaller cid, so
    * the greedy selection replays bit-exactly.
    */
  private def mmrRoundCtes(rounds: Int): String =
    (2 to rounds).map { t =>
      // MATERIALIZED (the WordPiece-oracle discipline): each round
      // references the previous selection twice and the shared
      // candidate CTEs once more — inlined, DuckDB would replay the
      // whole training+probe chain ~3^rounds times
      s""", pen$t AS MATERIALIZED (
           SELECT p.qid, p.ca AS cid, MAX(p.fab) AS pen
           FROM cpairs p JOIN selu${t - 1} s
             ON s.qid = p.qid AND s.cid = p.cb
           GROUP BY 1, 2
         ), sc$t AS MATERIALIZED (
           SELECT c.qid, c.cid,
             ${graft.functions.MmrPicks.RelW}*c.fq
               - ${graft.functions.MmrPicks.PenW}*p.pen AS score
           FROM cand16 c
           JOIN pen$t p ON p.qid = c.qid AND p.cid = c.cid
           LEFT JOIN selu${t - 1} sl
             ON sl.qid = c.qid AND sl.cid = c.cid
           WHERE sl.cid IS NULL
         ), sel$t AS MATERIALIZED (
           SELECT qid, cid, $t AS pick, CAST(score AS BIGINT) AS score
           FROM (
             SELECT *, row_number() OVER (PARTITION BY qid
               ORDER BY score DESC, cid) rn FROM sc$t) x
           WHERE rn = 1
         ), selu$t AS MATERIALIZED (
           SELECT qid, cid FROM selu${t - 1}
           UNION ALL SELECT qid, cid FROM sel$t
         )"""
    }.mkString

  /** MMR diversified rerank over the persisted IVF store (Carbonell &
    * Goldstein 1998) — the production answer to redundant top-k: from
    * the index's top-16 candidates, greedily select 5 maximizing
    * λ·sim(q,c) − (1−λ)·max_{s∈S} sim(c,s) with λ=0.7, all in exact
    * int64 fixed-point (score = 7·fdot_q − 3·max-pairwise-fdot, the
    * ×10 common scale dropped), ties → smaller cid. Round 1 falls out
    * of the same rule (empty S ⇒ penalty 0).
    *
    * Scale shape: candidates come off the MAINTAINED index
    * (probe-bounded — never |corpus|); the greedy selection is
    * per-query LOCAL work over that bounded frame (≤16 candidates +
    * their 16² pairwise dots), so it runs as ONE native codegen'd
    * expression per qid over `collect_list` ([[graft.functions.MmrPicks]]
    * — optimization r16; the previous 5-round driver loop of
    * penalty-agg + pick-window + checkpoint stages spent ~1.2 s/gate in
    * per-job scheduling glue across 56 jobs). The oracle replays
    * training, probe, candidate ranking, and all 5 greedy rounds
    * unrolled ([[mmrRoundCtes]], generated from the SAME
    * rounds/weights constants as the expression).
    */
  val q219 = EngineQuery(
    "q219_mmr_rerank",
    (s, dir) => {
      val t = Tables(s, dir)
      val path = existingIvfIndex(s, dir)
      val qs = t.embeddings.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("eq"))
      val sys = IvfIndex.search(qs, path, topk = 16)
        .select(col("qid"), col("cid"))
      val emb = t.embeddings
        .select(col("vec_id").as("cid"), col("embedding").as("ec"))
      val cand = sys.join(emb, Seq("cid"))
        .join(broadcast(qs), Seq("qid"))
        .select(col("qid"), col("cid"), col("ec"),
          graft.functions.VectorDot.fixedDotSum(
            col("eq"), col("ec")).as("fq"))
      cand.groupBy(col("qid"))
        .agg(collect_list(struct(col("cid"), col("fq"), col("ec")))
          .as("cs"))
        .select(col("qid"),
          explode(graft.functions.MmrPicks.mmrPicks(col("cs"))).as("p"))
        .select(col("qid"), col("p.cid").as("cid"),
          col("p.pick").as("pick"), col("p.score").as("score"))
        .orderBy(col("qid"), col("pick"))
    },
    Some(kmeansTrainCtes(4, "vec_id % 2 = 0") +
      """, probes AS (
           SELECT qid, cell FROM (
             SELECT vec_id AS qid, cell, row_number() OVER (
               PARTITION BY vec_id ORDER BY fdot DESC, cell) crn
             FROM d3 WHERE vec_id < 10) x
           WHERE crn <= 2
         ), cand AS (
           SELECT p.qid, a.vec_id AS member_id FROM probes p
           JOIN a3 a ON a.cell = p.cell AND a.vec_id != p.qid
         ), cdots AS (
           SELECT c.qid, c.member_id,
             SUM(CAST(FLOOR(q.v*10000000.0) AS BIGINT)
               * CAST(FLOOR(m.v*10000000.0) AS BIGINT)) AS fq,
             CAST(SUM(CAST(FLOOR(q.v*10000000.0) AS BIGINT)
                    * CAST(FLOOR(m.v*10000000.0) AS BIGINT)) AS DOUBLE)
               / 100000000000000.0 AS sim
           FROM cand c
           JOIN ex q ON q.vec_id = c.qid
           JOIN ex m ON m.vec_id = c.member_id AND m.pos = q.pos
           GROUP BY 1, 2
         ), cand16 AS MATERIALIZED (
           SELECT qid, member_id AS cid, CAST(fq AS BIGINT) AS fq FROM (
             SELECT *, row_number() OVER (PARTITION BY qid
               ORDER BY sim DESC, member_id) rn FROM cdots) x
           WHERE rn <= 16
         ), cpairs AS MATERIALIZED (
           SELECT a.qid, a.cid AS ca, b.cid AS cb,
             CAST(SUM(CAST(FLOOR(x.v*10000000.0) AS BIGINT)
                    * CAST(FLOOR(y.v*10000000.0) AS BIGINT)) AS BIGINT)
               AS fab
           FROM cand16 a
           JOIN cand16 b ON a.qid = b.qid AND a.cid != b.cid
           JOIN ex x ON x.vec_id = a.cid
           JOIN ex y ON y.vec_id = b.cid AND y.pos = x.pos
           GROUP BY 1, 2, 3
         ), sel1 AS MATERIALIZED (
           SELECT qid, cid, 1 AS pick,
             CAST(${RelW}*fq AS BIGINT) AS score
           FROM (
             SELECT *, row_number() OVER (PARTITION BY qid
               ORDER BY fq DESC, cid) rn FROM cand16) x
           WHERE rn = 1
         ), selu1 AS MATERIALIZED (SELECT qid, cid FROM sel1)"""
        .replace("${RelW}", graft.functions.MmrPicks.RelW.toString) +
      mmrRoundCtes(graft.functions.MmrPicks.Rounds) +
      """
         SELECT qid, pick, cid, score FROM (
           SELECT * FROM sel1
           UNION ALL SELECT * FROM sel2
           UNION ALL SELECT * FROM sel3
           UNION ALL SELECT * FROM sel4
           UNION ALL SELECT * FROM sel5) u
         ORDER BY qid, pick"""))

  /** An IVF store through the FULL operational lifecycle — the
    * quarter-long runbook every arm-gate covers separately, composed:
    * build on the day-0 corpus (even ids) → an append wave (odd ids,
    * assigned under the recorded centroids) → a takedown (vec_id % 10,
    * tombstoned) → COMPACT (the physical drop: masked rows rewritten
    * away, tombstones cleared, atomic generation swap) → a
    * drift-remediation REPUBLISH whose corpus is read OFF THE
    * COMPACTED STORE ([[IvfIndex.members]]) → search. Feeding the
    * republish from the store (not the source table) is what makes the
    * whole history gate-observable: a compaction that dropped the
    * wrong rows, resurrected a tombstone, or lost an append wave
    * changes the republish's training corpus and the final hash.
    */
  private[llmops] def existingLifecycleIvfIndex(
      s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val app = s.sparkContext.applicationId
    val tag = graft.ops.SessionScratch.dirTag(dir)
    val path =
      s"${graft.ops.SessionScratch.base("ivf_lc_index", app)}/lc_$tag"
    graft.ops.SessionScratch.once("ivf_lc_index", app, dir) {
      val em = Tables(s, dir).embeddings
      IvfIndex.build(em.filter(col("vec_id") % 2 === 0), path, k = 4)
      IvfIndex.append(em.filter(col("vec_id") % 2 === 1), path)
      IvfIndex.delete(
        em.filter(col("vec_id") % 10 === 0).select(col("vec_id")), path)
      IvfIndex.compact(s, path)
      // checkpointed BEFORE republish retracts the config: the lazy
      // lineage would otherwise re-read a store that is mid-rebuild
      val survivors = graft.ops.SessionScratch.transientCheckpoint(
        IvfIndex.members(s, path)
          .select(col("member_id").as("vec_id"),
            col("em").as("embedding")))
      IvfIndex.republish(survivors, path, k = 4)
      graft.ops.SessionScratch.evictTransients()
    }
    path
  }

  /** IVF ANN after the FULL lifecycle (build → append → takedown →
    * compact → republish-from-store) — round-12 verdict #1: every arm
    * gates separately (q180/q208/q212 and the compact specs) but the
    * COMPOSITION is where arm-interaction bugs live (compaction
    * meeting tombstones meeting a later republish). The oracle replays
    * the net history: training on exactly the surviving corpus
    * (vec_id % 10 <> 0 — the takedown survivors that build ∪ append
    * produced and compact physically kept) and a candidate set without
    * the deleted ids; IndexMaintenanceSpec separately proves the end
    * state row-identical to a fresh build of the survivors. Deleted
    * vectors still act as queries (q208's contract).
    */
  val q229 = EngineQuery(
    "q229_knn_ivf_lifecycle",
    (s, dir) => {
      val t = Tables(s, dir)
      val path = existingLifecycleIvfIndex(s, dir)
      IvfIndex.search(
        t.embeddings.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("eq")),
        path)
    },
    Some(kmeansTrainCtes(4, "vec_id % 10 <> 0") +
      ivfProbeTail("a.vec_id % 10 <> 0")))

  /** The monitor → DECISION readout closing the drift-remediation loop
    * (round-12 verdict #2): q171 measures drift, q212–q214 remediate,
    * and THIS is the threshold rule connecting them — which stores a
    * monitoring sweep flags for republish. The staleness metric is the
    * `_train_stats` provenance every trained build records and every
    * append bumps: n_train (the training-sample size, measured inside
    * KMeans.fitStats) and n_appended (rows added since training). The
    * decision is the FAISS/DiskANN production rule "rebuild when
    * inserts exceed X% of the trained base", thresholded at 25% of the
    * current membership as the EXACT integer test
    * 3·n_appended > n_train; the sweep also surfaces the 39·k
    * undertraining verdict, so one readout reports both training-side
    * health and growth-side staleness — and the IVF-PQ row makes the
    * undertrained column LIVE at small corpora (floor 39·cb = 624 vs
    * the 250-vector even-half build). The oracle replays the metric
    * and the rule from the ingest predicates (even-half build + odd
    * append → 50% appended → republish; full-corpus republish → 0% →
    * ok), so a builder that miscounted its training set, an append
    * that failed to bump, or a republish that kept stale provenance
    * all hash-mismatch. q234 consumes this rule IN CODE
    * ([[StoreRemediator]]): flagged stores republish, unflagged stay
    * byte-untouched.
    *
    * Round 14 extends the sweep to the frozen TRANSFORMS (the
    * [[existingBpeProvenanceModel]]/[[existingClfProvenanceModel]]
    * stores): trained on the even docs, applied to the odd docs with
    * noteApplied as the bump — the same integer rule flags a stale
    * tokenizer/scorer whose artifact bytes never change.
    *
    * Round 15 makes the rule DELETE-AWARE and adds the takedown-heavy
    * row ([[existingTakedownIvfIndex]]): the readout now carries
    * n_deleted, and the verdict thresholds appended rows against the
    * LIVE trained base (n_train − n_deleted) — the takedown store's
    * small append wave reads `ok` against its historical build size
    * and `republish` against what actually remains, so a rule that
    * ignores deletes shifts exactly that row.
    *
    * 100 TB shape: the sweep reads SIDECARS only — no data file is
    * touched, so auditing a warehouse of stores costs one bounded
    * metadata read per store.
    */
  /** The day-2 TRANSFORM-provenance stores for q230 (round-13 verdict
    * #3): the staleness loop covered stores whose trained artifact
    * serves READS (ivf/graph/ivfpq), but the two FROZEN transforms —
    * the persisted BPE tokenizer and classifier model, whose drift
    * silently shifts every downstream token id / keep decision
    * (q187/q190/q191's whole premise) — recorded no provenance and
    * could never be flagged. Each store here is trained on the
    * even-doc half (day 0) and then APPLIED to the odd-doc half with
    * the application recorded via noteApplied (the frozen transform's
    * append analog — the q187 day-2 cadence; the artifact stays
    * byte-identical, only the provenance moves). DEDICATED stores, not
    * the shared day2Model/day2Student artifacts: the existing* builder
    * read-only contract forbids gate-specific provenance bumps on a
    * store other gates' oracles pin.
    */
  private[llmops] def existingBpeProvenanceModel(
      s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val app = s.sparkContext.applicationId
    val tag = graft.ops.SessionScratch.dirTag(dir)
    val path =
      s"${graft.ops.SessionScratch.base("bpe_prov_model", app)}/bp_$tag"
    graft.ops.SessionScratch.once("bpe_prov_model", app, dir) {
      val d = Tables(s, dir).documents
      val train = d.filter(col("doc_id") % 2 === 0).select(col("text"))
      BpeModel.save(s, Bpe.trainOn(Bpe.wordFreqOf(train), Bpe.Rounds),
        path, nTrain = train.count())
      BpeModel.noteApplied(s, path,
        d.filter(col("doc_id") % 2 === 1).count())
      // NO train-source locator on purpose: this store is the
      // decide-only fixture (q230's sweep row; q236's manual-action
      // queue row) — and read-only besides
      IndexMaintenance.markSharedReadonly(s, path, "q230,q236")
    }
    path
  }

  /** The classifier-model twin of [[existingBpeProvenanceModel]]. */
  private[llmops] def existingClfProvenanceModel(
      s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val app = s.sparkContext.applicationId
    val tag = graft.ops.SessionScratch.dirTag(dir)
    val path =
      s"${graft.ops.SessionScratch.base("clf_prov_model", app)}/cp_$tag"
    graft.ops.SessionScratch.once("clf_prov_model", app, dir) {
      val d = Tables(s, dir).documents
      val train = d.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"))
      ClfModel.save(s, Curation.trainClassifierOn(s, train).w,
        path, nTrain = train.count())
      ClfModel.noteApplied(s, path,
        d.filter(col("doc_id") % 2 === 1).count())
      IndexMaintenance.markSharedReadonly(s, path, "q230")
    }
    path
  }

  /** The TAKEDOWN-HEAVY store for q230's delete-aware row (round-14
    * verdict #4): built on the even half, a SMALL append wave
    * (vec_id % 8 == 1 — odd ids, disjoint from the build), then HALF
    * the training rows deleted (vec_id % 4 == 0 — all inside the even
    * build half, all live). Under the historical-base rule the store
    * reads fresh (3·⅛n ≤ ½n); against the LIVE trained base it is
    * stale (3·⅛n > ½n − ¼n) — the append wave is over 25% of what
    * actually remains. Exactly the late-republish bias the round-14
    * provenance approximation documented, now measured and flagged.
    */
  private[llmops] def existingTakedownIvfIndex(
      s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val app = s.sparkContext.applicationId
    val tag = graft.ops.SessionScratch.dirTag(dir)
    val path =
      s"${graft.ops.SessionScratch.base("ivf_take_index", app)}/tk_$tag"
    graft.ops.SessionScratch.once("ivf_take_index", app, dir) {
      val em = Tables(s, dir).embeddings
      IvfIndex.build(em.filter(col("vec_id") % 2 === 0), path, k = 4)
      IvfIndex.append(em.filter(col("vec_id") % 8 === 1), path)
      IvfIndex.delete(
        em.filter(col("vec_id") % 4 === 0).select(col("vec_id")), path)
      // the 250/63/125 ledger is what q230's oracle pins — mutations
      // by other gates must refuse at the site, not shift q230's hash
      IndexMaintenance.markSharedReadonly(s, path, "q230")
    }
    path
  }

  val q230 = EngineQuery(
    "q230_republish_decision",
    (s, dir) => {
      import s.implicits._
      val stores = Seq(
        // the two frozen TRANSFORMS (round-14): trained day-0 on the
        // even docs, applied day-2 to the odd docs — noteApplied is
        // the bump, so the same 3a > t rule flags a stale tokenizer/
        // scorer from sidecar reads alone. No trained cell count →
        // the undertrained floor is vacuous (k = 0)
        ("bpe_stale", existingBpeProvenanceModel(s, dir),
          BpeModel),
        ("clf_stale", existingClfProvenanceModel(s, dir),
          ClfModel),
        ("graph_stale", existingGraphIndex(s, dir),
          GraphIndex),
        ("ivf_republished", existingRepublishedIvfIndex(s, dir),
          IvfIndex),
        ("ivf_stale", existingIvfIndex(s, dir),
          IvfIndex),
        // the takedown-heavy store (round-14 verdict #4): a small
        // append wave that is FRESH against the historical build size
        // but STALE against what survives the deletes — only the
        // delete-aware rule flags it
        ("ivf_takedown", existingTakedownIvfIndex(s, dir),
          IvfIndex),
        // the IVF-PQ store carries the sweep's LIVE undertrained
        // signal at small corpora: its recorded floor is 39·cb = 624
        // (the codebook is the larger trained half), so a 250-vector
        // even-half build flags undertrained — the sweep reports a
        // training-side deficiency the growth rule alone cannot see
        ("ivfpq_stale", existingIvfPqIndex(s, dir),
          IvfPqIndex))
      stores.map { case (label, path, store) =>
        val ts = store.fsck(s, path).trainStats.getOrElse(
          throw new IllegalStateException(
            s"store $label at $path records no _train_stats sidecar — " +
              "it was not built by a trained-store builder; rebuild it."))
        (label, ts.nTrain, ts.nAppended, ts.nDeleted,
          if (ts.undertrained) 1L else 0L,
          // THE rule — shared with the actor, so decide and act can
          // never diverge if the threshold is ever tuned
          if (StoreRemediator.needsRepublish(ts)) "republish" else "ok")
      }.toDF("store", "n_train", "n_appended", "n_deleted",
          "undertrained", "verdict")
        .orderBy(col("store"))
    },
    Some("""WITH c AS (
              SELECT COUNT(*) AS n,
                CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS ne,
                CAST(SUM(CASE WHEN vec_id % 8 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS na8,
                CAST(SUM(CASE WHEN vec_id % 4 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS nd4
              FROM embeddings
            ), d AS (
              SELECT COUNT(*) AS nd,
                CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS nde
              FROM documents
            ), sweep AS (
              -- floor = 39 * (the larger trained half): 156 at k=4 for
              -- IVF/graph, 624 at cb=16 for IVF-PQ; the transforms
              -- have no trained cell count (floor vacuous at 0)
              SELECT 'bpe_stale' AS store, nde AS n_train,
                nd - nde AS n_appended, CAST(0 AS BIGINT) AS n_deleted,
                0 AS floor_n FROM d
              UNION ALL
              SELECT 'clf_stale', nde, nd - nde, 0, 0 FROM d
              UNION ALL
              SELECT 'graph_stale', ne, n - ne, 0, 156 FROM c
              UNION ALL
              SELECT 'ivf_republished', n, 0, 0, 156 FROM c
              UNION ALL
              SELECT 'ivf_stale', ne, n - ne, 0, 156 FROM c
              UNION ALL
              -- takedown-heavy: even build, a % 8 = 1 append wave,
              -- half the build half deleted (% 4 = 0 of the even ids)
              SELECT 'ivf_takedown', ne, na8, nd4, 156 FROM c
              UNION ALL
              SELECT 'ivfpq_stale', ne, n - ne, 0, 624 FROM c
            )
            SELECT store, CAST(n_train AS BIGINT) AS n_train,
              CAST(n_appended AS BIGINT) AS n_appended,
              CAST(n_deleted AS BIGINT) AS n_deleted,
              CAST(CASE WHEN n_train < floor_n THEN 1 ELSE 0 END
                AS BIGINT) AS undertrained,
              -- the delete-aware rule: appended vs the LIVE trained
              -- base (n_deleted = 0 keeps every pre-existing row's
              -- verdict bit-identical to the round-14 rule)
              CASE WHEN 3 * n_appended >
                     GREATEST(n_train - n_deleted, 0)
                THEN 'republish' ELSE 'ok' END AS verdict
            FROM sweep ORDER BY store"""))

  /** The even/odd graph store taken through DiskANN's
    * consolidate_deletes: build(even) + append(odd), vec_id % 10
    * LAZY-deleted (q216's state — masked from results, still routing),
    * then [[GraphIndex.republish]]ed over the SURVIVORS READ OFF THE
    * STORE ([[GraphIndex.members]] — the tombstone mask is consumed by
    * the rebuild, not re-derived from the source table).
    */
  private[llmops] def existingConsolidatedGraphIndex(
      s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val app = s.sparkContext.applicationId
    val tag = graft.ops.SessionScratch.dirTag(dir)
    val path =
      s"${graft.ops.SessionScratch.base("graph_cons_index", app)}/gc_$tag"
    graft.ops.SessionScratch.once("graph_cons_index", app, dir) {
      val em = Tables(s, dir).embeddings
      GraphIndex.build(em.filter(col("vec_id") % 2 === 0), path, k = 4)
      GraphIndex.append(em.filter(col("vec_id") % 2 === 1), path)
      GraphIndex.delete(
        em.filter(col("vec_id") % 10 === 0).select(col("vec_id")), path)
      val survivors = graft.ops.SessionScratch.transientCheckpoint(
        GraphIndex.members(s, path)
          .select(col("member_id").as("vec_id"),
            col("em").as("embedding")))
      GraphIndex.republish(survivors, path, k = 4)
      graft.ops.SessionScratch.evictTransients()
    }
    path
  }

  /** Graph ANN after CONSOLIDATION — the read path q216 deliberately
    * does not pin: q216 hashes the LAZY state (deleted members gone
    * from result ranks but still ROUTING), this gate hashes the
    * post-consolidate_deletes state where routing through deleted
    * members is gone too — the oracle's graph and entry points are
    * built over survivors only (training replay restricted to
    * vec_id % 10 <> 0, the full-rebuild contract), so a republish that
    * kept a deleted member's rows, its edges, or a deleted entry point
    * hash-mismatches. IndexMaintenanceSpec proves the two states
    * actually differ on a crafted case (a deleted hub that q216 still
    * routes through) and that the end state equals a fresh build of
    * the survivors.
    */
  val q231 = EngineQuery(
    "q231_knn_graph_consolidated",
    (s, dir) => {
      val t = Tables(s, dir)
      val path = existingConsolidatedGraphIndex(s, dir)
      GraphIndex.search(
        t.embeddings.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("eq")),
        path)
    },
    Some(kmeansTrainCtes(4, "vec_id % 10 <> 0") +
      knnGraphCtes(4, "vec_id % 10 <> 0") + beamTailSql))

  /** The catalog HEALTH SWEEP as a gate (round-12 verdict #8): one
    * [[StoreAudit]] readout over three maintained stores — the graph
    * (q199), IVF (q180), and BM25 text (q184) session stores — with
    * the host-dependent columns (paths, byte sizes, file counts)
    * projected out, so the remaining sheet is a pure function of the
    * ingest recipes: crash-triad health booleans, the generation
    * counter, and the `_train_stats` provenance (n_train / n_appended
    * / undertrained / the drift fraction the q230 decision thresholds
    * on; NULL for the untrained text store). The oracle states the
    * expected catalog outright — counts from the ingest predicates,
    * health flags from the publish protocol — so a store left
    * unhealthy by any earlier gate in the session, a wrong generation,
    * or drifted provenance fails the sweep.
    */
  val q233 = EngineQuery(
    "q233_store_audit",
    (s, dir) => {
      val frame = StoreAudit.audit(s, Seq(
        "graph" -> existingGraphIndex(s, dir),
        "ivf" -> existingIvfIndex(s, dir),
        "bm25" -> TextAnalysis.existingTextIndex(s, dir)))
      frame.select(col("kind"),
          col("healthy").cast("int").as("healthy"),
          col("vacuum_repairs").cast("int").as("vacuum_repairs"),
          col("config_present").cast("int").as("config_present"),
          col("config_matches").cast("int").as("config_matches"),
          col("manifest_present").cast("int").as("manifest_present"),
          col("generation"),
          col("uncommitted_files"), col("missing_files"),
          col("stale_generations"), col("orphaned_temps"),
          col("n_train"), col("n_appended"),
          col("undertrained").cast("int").as("undertrained"),
          col("drift"))
        .orderBy(col("kind"))
    },
    Some("""WITH c AS (
              SELECT COUNT(*) AS n,
                CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS ne
              FROM embeddings
            )
            SELECT kind,
              1 AS healthy, 0 AS vacuum_repairs, 1 AS config_present,
              1 AS config_matches, 1 AS manifest_present,
              0 AS generation, 0 AS uncommitted_files,
              0 AS missing_files, 0 AS stale_generations,
              0 AS orphaned_temps,
              n_train, n_appended, undertrained,
              CAST(n_appended AS DOUBLE) / (n_train + n_appended)
                AS drift
            FROM (
              SELECT 'graph' AS kind, ne AS n_train, n - ne AS n_appended,
                CAST(CASE WHEN ne < 156 THEN 1 ELSE 0 END AS INT)
                  AS undertrained
              FROM c
              UNION ALL
              SELECT 'ivf', ne, n - ne,
                CAST(CASE WHEN ne < 156 THEN 1 ELSE 0 END AS INT)
              FROM c
              UNION ALL
              SELECT 'bm25', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                CAST(NULL AS INT)
              FROM c
            ) ORDER BY kind"""))

  /** The auto-remediation sweep's readout, computed ONCE per (session,
    * dir): four fresh stores (a stale IVF — even build + odd append, a
    * stale graph — same ingest, a stale codes-only IVF-PQ with its
    * recorded raw pair, and a fresh full-corpus IVF), then
    * [[StoreRemediator.sweepAndRemediate]] republishes exactly the
    * flagged three and leaves the fresh store byte-untouched. The rows
    * are memoized because the act is one-shot: re-running the sweep on
    * the now-remediated stores would (correctly) report nothing to do,
    * and a gate must re-emit the SAME readout on every invocation.
    */
  /** ONE definition of the remediation-fixture store paths, read by
    * the builder ([[remediationSweepRows]]) AND the artifact gate
    * (q235) — hoisted so a renamed purpose/prefix breaks at the
    * single definition, not at q235's runtime (round-14 ADVICE).
    */
  private def remediationPath(s: org.apache.spark.sql.SparkSession,
      dir: String, sub: String): String =
    s"${graft.ops.SessionScratch.base("remediation",
      s.sparkContext.applicationId)}/${sub}_${
        graft.ops.SessionScratch.dirTag(dir)}"

  private[llmops] def remediationSweepRows(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : Seq[(String, Long, Long, String, Long, Long, Long)] = {
    val app = s.sparkContext.applicationId
    graft.ops.SessionScratch.memo("remediation_sweep", app, dir) {
      val em = Tables(s, dir).embeddings
      val ivfStale = remediationPath(s, dir, "rmi")
      IvfIndex.build(em.filter(col("vec_id") % 2 === 0), ivfStale, k = 4)
      IvfIndex.append(em.filter(col("vec_id") % 2 === 1), ivfStale)
      val graphStale = remediationPath(s, dir, "rmg")
      GraphIndex.build(em.filter(col("vec_id") % 2 === 0), graphStale,
        k = 4)
      GraphIndex.append(em.filter(col("vec_id") % 2 === 1), graphStale)
      val ivfFresh = remediationPath(s, dir, "rmf")
      IvfIndex.build(em, ivfFresh, k = 4)
      // the codes-only store + its raw pair (round-13 verdict #4 —
      // the FAISS IndexRefineFlat pairing): same stale ingest, with
      // the locator pointing at a full-corpus raw IVF store, so the
      // flagged IVF-PQ store republishes BOTH trained halves off the
      // pair instead of refusing. The raw store is maintained in
      // lockstep (it holds the same membership the codes store
      // reached after its append — build ∪ append = the full corpus).
      val ivfpqRaw = remediationPath(s, dir, "rmr")
      IvfIndex.build(em, ivfpqRaw, k = 4)
      val ivfpqStale = remediationPath(s, dir, "rmq")
      IvfPqIndex.build(em.filter(col("vec_id") % 2 === 0), ivfpqStale,
        k = 4)
      IvfPqIndex.append(em.filter(col("vec_id") % 2 === 1), ivfpqStale)
      IvfPqIndex.recordRawSource(s, ivfpqStale, ivfpqRaw)
      val rows = StoreRemediator.sweepAndRemediate(s, Seq(
          ("rm_graph_stale", "graph", graphStale),
          ("rm_ivf_fresh", "ivf", ivfFresh),
          ("rm_ivf_stale", "ivf", ivfStale),
          ("rm_ivfpq_stale", "ivfpq", ivfpqStale)))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getString(3), r.getLong(4), r.getLong(5), r.getLong(6)))
        .toSeq
      graft.ops.SessionScratch.evictTransients()
      rows
    }
  }

  /** The COMPLETE monitor → decide → ACT loop as a gate (q230 decides,
    * this one also acts): [[StoreRemediator.sweepAndRemediate]] over a
    * stale IVF store, a stale graph store, and a fresh IVF store —
    * the flagged two republish over corpora read OFF THEIR OWN member
    * rows, the fresh one is untouched, and the readout hashes the
    * whole episode (before-provenance, verdict, whether the rebuild
    * ran, after-provenance). The oracle states the episode from the
    * ingest predicates: stale stores report (n/2, n/2) → republish →
    * (n, 0); the fresh store reports (n, 0) → ok → (n, 0) — so a rule
    * regression (acting on the fresh store, skipping a stale one) or
    * a republish that mis-re-trained (wrong n_train_after) shifts a
    * row and hash-mismatches. IndexMaintenanceSpec proves the
    * side-effect half: the unflagged store's data files are
    * byte-identical across the sweep, the flagged store's end state
    * equals a fresh full-corpus build.
    */
  val q234 = EngineQuery(
    "q234_remediation_loop",
    (s, dir) => {
      import s.implicits._
      remediationSweepRows(s, dir)
        .toDF("store", "n_train_before", "n_appended_before", "verdict",
          "acted", "n_train_after", "n_appended_after")
        .orderBy(col("store"))
    },
    Some("""WITH c AS (
              SELECT COUNT(*) AS n,
                CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS ne
              FROM embeddings
            )
            SELECT store, CAST(n_train_before AS BIGINT) AS n_train_before,
              CAST(n_appended_before AS BIGINT) AS n_appended_before,
              verdict, CAST(acted AS BIGINT) AS acted,
              CAST(n_train_after AS BIGINT) AS n_train_after,
              CAST(n_appended_after AS BIGINT) AS n_appended_after
            FROM (
              SELECT 'rm_graph_stale' AS store, ne AS n_train_before,
                n - ne AS n_appended_before, 'republish' AS verdict,
                1 AS acted, n AS n_train_after, 0 AS n_appended_after
              FROM c
              UNION ALL
              SELECT 'rm_ivf_fresh', n, 0, 'ok', 0, n, 0 FROM c
              UNION ALL
              SELECT 'rm_ivf_stale', ne, n - ne, 'republish', 1, n, 0
              FROM c
              UNION ALL
              -- the codes-only store remediated through its raw pair:
              -- trained on the even half, flagged at 50% drift, both
              -- halves retrained over the pair's full membership
              SELECT 'rm_ivfpq_stale', ne, n - ne, 'republish', 1, n, 0
              FROM c
            ) ORDER BY store"""))

  /** ADC search over the AUTO-remediated IVF-PQ store — the artifact
    * half of q234's ivfpq row: the readout hashes the episode's
    * COUNTS, this gate hashes what the remediation actually TRAINED.
    * The store was flagged at 50% drift and republished by
    * [[StoreRemediator]] off its raw pair's member rows, so its end
    * state must equal a caller-driven full-corpus republish — the
    * oracle is exactly q214's: full-corpus kmeans + full-corpus
    * per-subspace codebook training + encode + ADC probe. A remediator
    * that retrained only one half, rebuilt over the wrong corpus
    * (e.g. the codes store's even half instead of the pair's full
    * membership), or re-sized k despite the explicit policy
    * hash-mismatches here even where the counts agree.
    */
  val q235 = EngineQuery(
    "q235_knn_ivfpq_autoremediated",
    (s, dir) => {
      val t = Tables(s, dir)
      // ensure the one-shot sweep has acted (memoized per session/dir)
      remediationSweepRows(s, dir)
      val path = remediationPath(s, dir, "rmq")
      IvfPqIndex.search(
        t.embeddings.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("eq")),
        path)
    },
    Some(kmeansTrainCtes(4) + ivfPqAdcCtes("TRUE") +
      """
         SELECT qid, cid, f, rn FROM (
           SELECT qid, cid, f, row_number() OVER (
             PARTITION BY qid ORDER BY f DESC, cid) rn FROM adc) x
         WHERE rn <= 8 ORDER BY qid, rn"""))

  /** The composed warehouse-maintenance episode, run ONCE per (session,
    * dir) over three fresh stores: an IVF store that is both
    * crash-DAMAGED (an uncommitted file injected into its live
    * generation — the torn-append state every read path refuses) and
    * STALE (even build + odd append, 50% drift), a fresh full-corpus
    * graph store, and an untrained BM25 text store. The sweep must
    * repair the damage (vacuum removes exactly the one uncommitted
    * file), then act on the staleness it can now decide (republish off
    * the repaired store's own member rows), touch neither healthy
    * store, and report the whole episode — memoized because the act is
    * one-shot (the q234 rule).
    */
  private[llmops] def warehouseSweepRows(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : Seq[(String, String, Int, Int, Int, String, Long,
        Option[Long], Option[Long], Int, Int)] = {
    val app = s.sparkContext.applicationId
    val tag = graft.ops.SessionScratch.dirTag(dir)
    val base = graft.ops.SessionScratch.base("warehouse", app)
    graft.ops.SessionScratch.memo("warehouse_sweep", app, dir) {
      val t = Tables(s, dir)
      val em = t.embeddings
      val torn = s"$base/whi_$tag"
      IvfIndex.build(em.filter(col("vec_id") % 2 === 0), torn, k = 4)
      IvfIndex.append(em.filter(col("vec_id") % 2 === 1), torn)
      // inject the torn-append state: an uncommitted file inside the
      // live generation (what a crash mid-append leaves behind) —
      // verifiedDir refuses the store until vacuum removes it
      IndexMaintenance.injectTornAppend(s, IvfIndex.dataDir(s, torn))
      val gFresh = s"$base/whg_$tag"
      GraphIndex.build(em, gFresh, k = 4)
      val bm = s"$base/wht_$tag"
      TextIndex.build(t.documents, bm)
      val rows = WarehouseMaintenance.sweep(s, Seq(
          ("wh_bm25", "bm25", bm),
          // the stale frozen TRANSFORM (q230's provenance store —
          // shared READ-ONLY: the sweep only fscks it; bpe is not an
          // Actable kind, so the verdict is decide-only and the
          // artifact stays byte-untouched): flagged 'republish' with
          // acted=0 — the manual-action queue row
          ("wh_bpe_stale", "bpe", existingBpeProvenanceModel(s, dir)),
          ("wh_graph_fresh", "graph", gFresh),
          ("wh_ivf_torn", "ivf", torn)))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2),
          r.getInt(3), r.getInt(4), r.getString(5), r.getLong(6),
          if (r.isNullAt(7)) None else Some(r.getLong(7)),
          if (r.isNullAt(8)) None else Some(r.getLong(8)),
          r.getInt(9), r.getInt(10)))
        .toSeq
      graft.ops.SessionScratch.evictTransients()
      rows
    }
  }

  /** The crash triad COMPOSED into one gate (round-13 verdict #6):
    * fsck observes → vacuum repairs → remediation acts — the nightly
    * job a store warehouse actually runs, where the three arms were
    * previously only proven separately (q233 observes, vacuum is
    * spec-proven per store, q234 acts). The oracle states the episode
    * outright from the ingest predicates and the publish protocol: the
    * torn+stale IVF store reports unhealthy → exactly one uncommitted
    * file removed → republish over the repaired membership → healthy
    * with fresh provenance; the fresh graph store reads ok and
    * byte-untouched; the untrained BM25 store reads n/a (no staleness
    * to decide); and the stale frozen TRANSFORM (q230's bpe store,
    * read-only here — bpe is decidable but not auto-actable) reads
    * `republish` with acted=0, the manual-action-queue row.
    * A sweep that aborted on the damaged store, vacuumed a
    * healthy one, skipped the post-repair remediation, or left the
    * repaired store unhealthy shifts a row and hash-mismatches;
    * IndexMaintenanceSpec proves the side-effect half (damage aborts
    * nothing; an act-REFUSAL files as `blocked` and the sweep keeps
    * going; vacuum-only repair is search-identical; the remediated
    * end state equals a fresh build).
    */
  val q236 = EngineQuery(
    "q236_warehouse_maintenance",
    (s, dir) => {
      import s.implicits._
      warehouseSweepRows(s, dir)
        .toDF("store", "kind", "healthy_before", "uncommitted_removed",
          "stale_generations_removed", "verdict", "acted",
          "n_train_after", "n_appended_after", "healthy_after",
          "generation_after")
        .orderBy(col("store"))
    },
    Some("""WITH c AS (SELECT COUNT(*) AS n FROM embeddings),
            d AS (
              SELECT COUNT(*) AS nd,
                CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS nde
              FROM documents
            )
            SELECT store, kind,
              CAST(healthy_before AS INT) AS healthy_before,
              CAST(uncommitted_removed AS INT) AS uncommitted_removed,
              CAST(stale_generations_removed AS INT)
                AS stale_generations_removed,
              verdict, CAST(acted AS BIGINT) AS acted,
              CAST(n_train_after AS BIGINT) AS n_train_after,
              CAST(n_appended_after AS BIGINT) AS n_appended_after,
              CAST(healthy_after AS INT) AS healthy_after,
              CAST(generation_after AS INT) AS generation_after
            FROM (
              SELECT 'wh_bm25' AS store, 'bm25' AS kind,
                1 AS healthy_before, 0 AS uncommitted_removed,
                0 AS stale_generations_removed, 'n/a' AS verdict,
                0 AS acted, CAST(NULL AS BIGINT) AS n_train_after,
                CAST(NULL AS BIGINT) AS n_appended_after,
                1 AS healthy_after, 0 AS generation_after
              FROM c
              UNION ALL
              -- the frozen transform: healthy, flagged at 50% applied
              -- share, NOT auto-actable (bpe retraining needs the
              -- training corpus) -> decide-only row, artifact and
              -- provenance byte-untouched
              SELECT 'wh_bpe_stale', 'bpe', 1, 0, 0, 'republish', 0,
                nde, nd - nde, 1, 0
              FROM d
              UNION ALL
              SELECT 'wh_graph_fresh', 'graph', 1, 0, 0, 'ok', 0,
                n, 0, 1, 0
              FROM c
              UNION ALL
              -- torn (unhealthy) -> 1 uncommitted file vacuumed ->
              -- flagged at 50% drift -> republished over the repaired
              -- membership -> healthy, fresh provenance, generation 0
              SELECT 'wh_ivf_torn', 'ivf', 0, 1, 0, 'republish', 1,
                n, 0, 1, 0
              FROM c
            ) ORDER BY store"""))

  /** ONE definition of the transform-remediation fixture paths (the
    * [[remediationPath]] discipline) — read by the builder and by the
    * q238/q239 artifact gates.
    */
  private def transformRemPath(s: org.apache.spark.sql.SparkSession,
      dir: String, sub: String): String =
    s"${graft.ops.SessionScratch.base("transform_rem",
      s.sparkContext.applicationId)}/${sub}_${
        graft.ops.SessionScratch.dirTag(dir)}"

  /** The frozen-transform remediation episode, run ONCE per (session,
    * dir) — the round-14 verdict #1 fixture. Three dedicated stores:
    *
    *  - `tb_` BPE model: trained day-0 on the even docs, applied day-2
    *    to the odd docs (noteApplied), WITH a recorded training-corpus
    *    locator (`documents.parquet`, predicate `true` — the live
    *    corpus). Flagged at 50% applied share → the sweep's bpe arm
    *    RETRAINS over the located corpus and republishes: acted=1,
    *    fresh provenance, generation 1.
    *  - `tc_` classifier model: same lifecycle, clf arm — acted=1.
    *  - `tn_` BPE model: the SAME day-0 artifact saved WITHOUT a
    *    locator (the pre-locator installed base). Flagged, cannot
    *    auto-act → `republish`/acted=0, the manual-action queue row —
    *    and the proof the locator-less path queues rather than aborts.
    *
    * Memoized because the act is one-shot (the q234 rule): re-running
    * the sweep on the now-remediated stores would correctly report
    * nothing to do, and a gate must re-emit the same readout on every
    * invocation.
    */
  private[llmops] def transformRemediationRows(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : Seq[(String, String, Int, Int, Int, String, Long,
        Option[Long], Option[Long], Int, Int)] = {
    val app = s.sparkContext.applicationId
    graft.ops.SessionScratch.memo("transform_rem_sweep", app, dir) {
      val d = Tables(s, dir).documents
      val corpus = s"$dir/documents.parquet"
      val even = d.filter(col("doc_id") % 2 === 0)
      val nEven = even.count()
      val nOdd = d.filter(col("doc_id") % 2 === 1).count()
      // day-0: one training each, the bpe artifact saved into BOTH
      // bpe stores (identical installed models; only the locator
      // differs — exactly the upgrade-path contrast the gate states)
      val trainedBpe =
        Bpe.trainOn(Bpe.wordFreqOf(even.select(col("text"))), Bpe.Rounds)
      val bpeActed = transformRemPath(s, dir, "tb")
      BpeModel.save(s, trainedBpe, bpeActed, nTrain = nEven)
      BpeModel.noteApplied(s, bpeActed, nOdd)
      BpeModel.recordTrainSource(s, bpeActed, corpus, "true")
      val bpeQueued = transformRemPath(s, dir, "tn")
      BpeModel.save(s, trainedBpe, bpeQueued, nTrain = nEven)
      BpeModel.noteApplied(s, bpeQueued, nOdd)
      val clfActed = transformRemPath(s, dir, "tc")
      ClfModel.save(s,
        Curation.trainClassifierOn(s,
          even.select(col("doc_id"), col("text"))).w,
        clfActed, nTrain = nEven)
      ClfModel.noteApplied(s, clfActed, nOdd)
      ClfModel.recordTrainSource(s, clfActed, corpus, "true")
      val rows = WarehouseMaintenance.sweep(s, Seq(
          ("tr_bpe_acted", "bpe", bpeActed),
          ("tr_bpe_nolocator", "bpe", bpeQueued),
          ("tr_clf_acted", "clf", clfActed)))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2),
          r.getInt(3), r.getInt(4), r.getString(5), r.getLong(6),
          if (r.isNullAt(7)) None else Some(r.getLong(7)),
          if (r.isNullAt(8)) None else Some(r.getLong(8)),
          r.getInt(9), r.getInt(10)))
        .toSeq
      graft.ops.SessionScratch.evictTransients()
      rows
    }
  }

  /** Frozen-transform remediation CLOSED (round-14 verdict #1): q236's
    * bpe row was `republish`/acted=0 — a manual-action queue — because
    * the artifacts didn't record where their training corpus lives.
    * With the [[BpeModel.recordTrainSource]] locator (the q234
    * raw-pair pattern applied to transforms), the warehouse sweep's
    * bpe/clf arms now RETRAIN a flagged model over the located corpus
    * under the recorded recipe and republish it — acted=1, fresh
    * provenance, generation bumped — while a locator-less model (the
    * pre-locator installed base) still queues rather than aborts. The
    * oracle states the whole episode from the ingest predicates: both
    * located stores retrain to the full doc count with the counter
    * reset; the locator-less twin keeps its day-0 provenance
    * untouched. A sweep that aborted on the queue row, acted on it,
    * skipped a locator, or retrained over the wrong corpus (wrong
    * n_train_after) shifts a row and hash-mismatches; q238/q239 hash
    * what the retrains actually TRAINED.
    */
  val q237 = EngineQuery(
    "q237_transform_remediation",
    (s, dir) => {
      import s.implicits._
      transformRemediationRows(s, dir)
        .toDF("store", "kind", "healthy_before", "uncommitted_removed",
          "stale_generations_removed", "verdict", "acted",
          "n_train_after", "n_appended_after", "healthy_after",
          "generation_after")
        .orderBy(col("store"))
    },
    Some("""WITH d AS (
              SELECT COUNT(*) AS nd,
                CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS nde
              FROM documents
            )
            SELECT store, kind,
              CAST(healthy_before AS INT) AS healthy_before,
              CAST(uncommitted_removed AS INT) AS uncommitted_removed,
              CAST(stale_generations_removed AS INT)
                AS stale_generations_removed,
              verdict, CAST(acted AS BIGINT) AS acted,
              CAST(n_train_after AS BIGINT) AS n_train_after,
              CAST(n_appended_after AS BIGINT) AS n_appended_after,
              CAST(healthy_after AS INT) AS healthy_after,
              CAST(generation_after AS INT) AS generation_after
            FROM (
              -- located + flagged -> retrained over the live corpus
              -- (all docs), provenance reset, generation swapped to 1
              SELECT 'tr_bpe_acted' AS store, 'bpe' AS kind,
                1 AS healthy_before, 0 AS uncommitted_removed,
                0 AS stale_generations_removed,
                'republish' AS verdict, 1 AS acted,
                nd AS n_train_after, 0 AS n_appended_after,
                1 AS healthy_after, 1 AS generation_after
              FROM d
              UNION ALL
              -- the pre-locator installed base: decidable, flagged,
              -- NOT auto-actable -> queued with day-0 provenance
              -- byte-untouched (never an abort)
              SELECT 'tr_bpe_nolocator', 'bpe', 1, 0, 0,
                'republish', 0, nde, nd - nde, 1, 0
              FROM d
              UNION ALL
              SELECT 'tr_clf_acted', 'clf', 1, 0, 0,
                'republish', 1, nd, 0, 1, 1
              FROM d
            ) ORDER BY store"""))

  /** The artifact half of q237's bpe row (the q235 pattern): the
    * readout hashes the episode's COUNTS, this gate hashes what the
    * remediation actually TRAINED — the auto-retrained model's merge
    * table, loaded off the republished generation. The recorded
    * locator selects the whole live corpus, so the retrain must equal
    * a from-scratch full-corpus training bit-exactly: the oracle is
    * q166's 12-round replay verbatim. A remediator that retrained
    * over the wrong rows (e.g. the day-0 even half), under a drifted
    * recipe, or left a mixed-generation table hash-mismatches here
    * even where q237's counts agree.
    */
  val q238 = EngineQuery(
    "q238_bpe_autoremediated",
    (s, dir) => {
      // ensure the one-shot sweep has acted (memoized per session/dir)
      transformRemediationRows(s, dir)
      val merges = BpeModel.load(s, transformRemPath(s, dir, "tb"))
      s.createDataFrame(merges)
        .select(col("merge_rank"), col("lhs"), col("rhs"), col("cnt"))
        .orderBy(col("merge_rank"))
    },
    Bpe.q166.oracle)

  /** The artifact half of q237's clf row: day-2 scoring (q190's exact
    * read shape — one batch scan, broadcast weight join, per-source
    * rollup) with the AUTO-retrained classifier. The remediated model
    * trained over the located corpus (every doc, predicate `true`),
    * so the oracle replays all 12 unrolled perceptron epochs with the
    * train split widened to the whole corpus (trainPred=TRUE) and
    * scores the odd batch — weights must match the from-scratch
    * training bit-exactly for the per-source sums to hash.
    */
  val q239 = EngineQuery(
    "q239_clf_autoremediated",
    (s, dir) => {
      import graft.llmops.PortableHash.{tokens, tokenHashes}
      transformRemediationRows(s, dir)
      val w = ClfModel.load(s, transformRemPath(s, dir, "tc"))
      val batch = Tables(s, dir).documents
        .filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("source"), col("text"))
      val hb = graft.ops.SessionScratch.transientCheckpoint(
        batch.select(col("source"), col("doc_id"),
          tokenHashes(tokens(col("text"))).as("ths")))
      val fx = Curation.bucketsFromTh(hb.select(col("doc_id"), col("ths")))
        .unionByName(hb.select(col("doc_id"),
          lit(Curation.ClfBuckets).as("b")))
        .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      val sc = fx.join(broadcast(w), Seq("b"), "left")
        .groupBy(col("doc_id"))
        .agg(sum(col("c") * coalesce(col("w"), lit(0L))).as("score"))
      hb.select(col("source"), col("doc_id"))
        .join(sc, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(coalesce(col("score"), lit(0L)) > 0, 1L)
            .otherwise(0L)).as("n_keep"),
          sum(coalesce(col("score"), lit(0L))).as("score_sum"))
        .orderBy(col("source"))
    },
    Some {
      val R = Curation.ClfRounds
      Curation.clfOracleCtesOver("", trainPred = "TRUE") +
        s""", batch AS MATERIALIZED (
            SELECT doc_id, source, text FROM documents
            WHERE doc_id % 2 = 1
          )""" + Curation.clfFeatCtes("b", "batch") + s""", bsc AS (
            SELECT f.doc_id,
              CAST(COALESCE(SUM(f.c * w.w), 0) AS BIGINT) AS score
            FROM fxb f LEFT JOIN w$R w ON w.b = f.b
            GROUP BY f.doc_id
          )
          SELECT b.source, COUNT(*) AS n_docs,
            CAST(SUM(CASE WHEN COALESCE(s.score, 0) > 0 THEN 1
                     ELSE 0 END) AS BIGINT) AS n_keep,
            CAST(SUM(COALESCE(s.score, 0)) AS BIGINT) AS score_sum
          FROM batch b LEFT JOIN bsc s ON s.doc_id = b.doc_id
          GROUP BY b.source ORDER BY b.source"""
    })

  val all: Seq[EngineQuery] =
    Seq(q50, q51, q52, q53, q54, q55, q56, q156, q169, q180, q192, q194,
      q197, q198, q199, q201, q202, q204, q208, q209, q211, q212,
      q213, q214, q216, q217, q219, q222, q226, q229, q230, q231, q233,
      q234, q235, q236, q237, q238, q239)
}
