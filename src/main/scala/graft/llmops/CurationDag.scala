package graft.llmops

import org.apache.spark.sql.functions._

import graft.ops.{EngineQuery, SessionScratch, Tables}

/** The COMPOSED curation pipeline (SURVEY.md §2.4 [ext]; north star
  * BASELINE.json): the stages the registry proves individually —
  * near-dup dedup (q41/q45), group-holdout splitting (q172), and
  * quality-classifier scoring (q168) — chained as ONE DAG, the way a
  * production corpus-curation run executes them. The gate exists to
  * prove the operators COMPOSE without re-scans: each stage boundary
  * is one materialized checkpoint, and every downstream stage reads
  * the boundary, never the raw corpus again.
  *
  * Scale shape (100 TB): the documents table is read exactly twice in
  * total, both inside stage 1 (the signature pipeline's shingle scan +
  * the survivor fetch — the same two reads q45 itself performs); the
  * survivor set is checkpointed ONCE and feeds BOTH stage-2 split
  * assignment and stage-3 feature explode, so the executed gate plan
  * contains zero parquet scans (PLANS.md asserts it). Scoring keeps
  * q168's shape: 4096-row weight broadcast, one feature explode,
  * map-side-combined per-doc rollup.
  */
object CurationDag {

  val q178 = EngineQuery(
    "q178_curation_pipeline",
    (s, dir) => {
      val t = Tables(s, dir)
      // STAGE 1 — dedup (q45's greedy resolution: for every strong
      // candidate pair the higher doc_id drops). The surviving corpus
      // is the stage boundary: materialized once, never recomputed.
      val losers = Dedup.minhashLosers(s, dir)
      val survivors = SessionScratch.transientCheckpoint(
        t.documents.join(losers, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("source"), col("text")))
      // STAGE 2 — split assignment: a pure projection over the
      // boundary (the q172 source-hash rule; no shuffle of its own)
      val split = survivors.select(col("doc_id"),
        Sampling.groupSplit(col("source")).as("split"))
      // STAGE 3 — quality scoring (q168's exact inference) over the
      // SAME boundary checkpoint: the corpus is not re-read
      val scored = Curation.classifierScores(survivors)
      // rollup: per split, corpus size, teacher-keep count, and the
      // exact integer score mass. Docs too short to featurize (<2
      // tokens) have no score row — LEFT join keeps them in n_docs
      // and counts them as not-kept (CASE over a NULL w_sum).
      split.join(scored, Seq("doc_id"), "left")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
          sum(coalesce(col("w_sum"), lit(0L))).as("w_sum_total"))
        .orderBy(col("split"))
    },
    Some {
      val B = Curation.ClfBuckets
      val bucket = PortableHash.splitDrawSql(
        PortableHash.charHashSql("source"))
      Dedup.minhashPairsCtes + s"""
         , losers AS (
             SELECT DISTINCT doc_b AS doc_id FROM pairs WHERE n_bands >= 4
           ), surv AS MATERIALIZED (
             SELECT d.doc_id, d.source, d.text
             FROM documents d ANTI JOIN losers l ON d.doc_id = l.doc_id
           ), spl AS (
             SELECT doc_id,
               CASE WHEN bkt < 800 THEN 'train'
                    WHEN bkt < 900 THEN 'val'
                    ELSE 'test' END AS split
             FROM (SELECT doc_id, $bucket AS bkt FROM surv)
           ), w AS (
             SELECT p AS b,
               ((p+1)*2654435761 % 1000000007) % 2001 - 1000 AS wt
             FROM (SELECT UNNEST(range(0, $B)) p)
           ), stoks AS (
             SELECT doc_id, string_split(trim(text), ' ') ws FROM surv
           ), sth AS (
             SELECT doc_id,
               [coalesce(list_sum([(ascii(w[i])
                   * (((i*i % 1000000007)*2654435761 + i*97) % 1000000007))
                   % 1000000007
                   for i in range(1, length(w)+1)]) % 1000000007, 0)
                for w in ws] AS ths
             FROM stoks WHERE len(ws) >= 2
           ), sfeats AS (
             SELECT doc_id, UNNEST(list_concat(
               [t % $B for t in ths],
               [(${PortableHash.spanHashSql("ths", 2)}) % $B
                for i in range(1, len(ths))])) AS b
             FROM sth
           ), sscored AS (
             SELECT f.doc_id, CAST(SUM(w.wt) AS BIGINT) AS w_sum
             FROM sfeats f JOIN w ON f.b = w.b
             GROUP BY f.doc_id
           )
           SELECT s.split, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN sc.w_sum >= 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_keep,
             CAST(SUM(COALESCE(sc.w_sum, 0)) AS BIGINT) AS w_sum_total
           FROM spl s LEFT JOIN sscored sc ON s.doc_id = sc.doc_id
           GROUP BY s.split ORDER BY s.split"""
    })

  /** BPE merges trained on the DAG's survivor TRAIN split — stage 4's
    * ingest half, memoized per (app, dir) like [[Bpe.heldoutTrain]].
    * The memo recomputes the survivor set itself (dedup resolution is
    * deterministic, so it equals the gate's transient boundary
    * checkpoint row-for-row) — the gate query never re-trains.
    */
  private def dagTrain(s: org.apache.spark.sql.SparkSession,
      dir: String): Bpe.Trained =
    SessionScratch.memo("bpe_train_dag", s.sparkContext.applicationId,
      dir) {
      val losers = Dedup.minhashLosers(s, dir)
      val trainDocs = Tables(s, dir).documents
        .join(losers, Seq("doc_id"), "left_anti")
        .filter(Sampling.groupSplit(col("source")) === "train")
        .select(col("text"))
      Bpe.trainOn(Bpe.wordFreqOf(trainDocs), Bpe.Rounds)
    }

  /** The DAG extended through the TOKENIZER stage (round-9 verdict #5):
    * dedup → split → score → BPE-encode, the full curate-then-tokenize
    * chain a training-data pipeline executes before packing. Stage 4
    * applies the merge table TRAINED ON THE SURVIVOR TRAIN SPLIT
    * (memoized ingest, like q173's held-out training) to the train-split
    * survivors via [[Bpe.encodeWord]] — a chained-replace projection
    * over the SAME survivor checkpoint the split and scoring stages
    * read, so the executed gate plan still scans ZERO parquet (PLANS.md
    * asserts it). Output: one row per train source with corpus size,
    * teacher-keep count, and the tokenizer fertility readout.
    *
    * The oracle replays all four stages over shared CTEs: the q41 pair
    * space, q45's greedy resolution, q172's split rule, q168's exact
    * integer scoring, and the full 12-round BPE training + encode on
    * the survivor train split (training corpus == encoded corpus, so
    * the w12 vocab join is exact — the same-corpus construction q167's
    * oracle uses).
    */
  val q181 = EngineQuery(
    "q181_curation_pipeline_tokenized",
    (s, dir) => {
      val t = Tables(s, dir)
      val merges = dagTrain(s, dir).merges
      // STAGE 1 — dedup survivors, the single materialized boundary
      val losers = Dedup.minhashLosers(s, dir)
      val survivors = SessionScratch.transientCheckpoint(
        t.documents.join(losers, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("source"), col("text")))
      // STAGE 2 — split assignment (pure projection over the boundary)
      val train = survivors
        .withColumn("split", Sampling.groupSplit(col("source")))
        .filter(col("split") === "train")
      // STAGE 3 — quality scoring over the SAME boundary
      val scored = Curation.classifierScores(survivors)
      val perSource = train.select(col("doc_id"), col("source"))
        .join(scored, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
      // STAGE 4 — tokenizer application: encode the train-split corpus
      // with the survivor-trained merges (chained-replace projection,
      // zero joins in the encode) and roll up fertility per source
      val words = train
        .select(col("source"),
          explode(split(lower(col("text")), Bpe.WordSplitRe)).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("source"), col("word"))
        .agg(count(lit(1)).as("n"))
      val fert = words
        .withColumn("es", Bpe.encodeWord(col("word"), merges))
        .withColumn("n_toks", expr(
          "(length(es) - length(replace(es, concat(char(31), char(31)), " +
            "''))) div 2 + 1"))
        .groupBy(col("source"))
        .agg(sum(col("n")).as("n_words"),
          sum(col("n") * col("n_toks")).as("n_tokens"))
      perSource.join(fert, Seq("source"))
        .select(col("source"), col("n_docs"), col("n_keep"),
          col("n_words"), col("n_tokens"),
          (col("n_tokens").cast("double") /
            col("n_words").cast("double")).as("tokens_per_word"))
        .orderBy(col("source"))
    },
    Some {
      val B = Curation.ClfBuckets
      val bucket = PortableHash.splitDrawSql(
        PortableHash.charHashSql("source"))
      Dedup.minhashPairsCtes + s"""
         , losers AS (
             SELECT DISTINCT doc_b AS doc_id FROM pairs WHERE n_bands >= 4
           ), surv AS MATERIALIZED (
             SELECT d.doc_id, d.source, d.text
             FROM documents d ANTI JOIN losers l ON d.doc_id = l.doc_id
           ), spl AS (
             SELECT doc_id, source,
               CASE WHEN bkt < 800 THEN 'train'
                    WHEN bkt < 900 THEN 'val'
                    ELSE 'test' END AS split
             FROM (SELECT doc_id, source, $bucket AS bkt FROM surv)
           ), tdocs AS MATERIALIZED (
             SELECT s.doc_id, s.source, s.text
             FROM surv s JOIN spl p ON s.doc_id = p.doc_id
             WHERE p.split = 'train'
           ), cw AS (
             SELECT p AS b,
               ((p+1)*2654435761 % 1000000007) % 2001 - 1000 AS wt
             FROM (SELECT UNNEST(range(0, $B)) p)
           ), stoks AS (
             SELECT doc_id, string_split(trim(text), ' ') ws FROM surv
           ), sth AS (
             SELECT doc_id,
               [coalesce(list_sum([(ascii(w[i])
                   * (((i*i % 1000000007)*2654435761 + i*97) % 1000000007))
                   % 1000000007
                   for i in range(1, length(w)+1)]) % 1000000007, 0)
                for w in ws] AS ths
             FROM stoks WHERE len(ws) >= 2
           ), sfeats AS (
             SELECT doc_id, UNNEST(list_concat(
               [t % $B for t in ths],
               [(${PortableHash.spanHashSql("ths", 2)}) % $B
                for i in range(1, len(ths))])) AS b
             FROM sth
           ), sscored AS (
             SELECT f.doc_id, CAST(SUM(cw.wt) AS BIGINT) AS w_sum
             FROM sfeats f JOIN cw ON f.b = cw.b
             GROUP BY f.doc_id
           ), psrc AS (
             SELECT t.source, COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN sc.w_sum >= 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_keep
             FROM tdocs t LEFT JOIN sscored sc ON t.doc_id = sc.doc_id
             GROUP BY t.source
           ), ${Bpe.oracleChainBody("tdocs")}, enc AS MATERIALIZED (
             SELECT word,
               (length(s) - length(replace(s, chr(31) || chr(31), ''))) // 2
                 + 1 AS n_toks
             FROM w${Bpe.Rounds}
           ), dw AS (
             SELECT source, word, COUNT(*) AS n FROM (
               SELECT source,
                 unnest(regexp_split_to_array(lower(text), '[^\\p{L}]+'))
                   AS word
               FROM tdocs
             ) WHERE word <> '' GROUP BY 1, 2
           ), fert AS (
             SELECT d.source,
               CAST(SUM(d.n) AS BIGINT) AS n_words,
               CAST(SUM(d.n * e.n_toks) AS BIGINT) AS n_tokens
             FROM dw d JOIN enc e ON d.word = e.word
             GROUP BY d.source
           )
           SELECT p.source, p.n_docs, p.n_keep, f.n_words, f.n_tokens,
             CAST(f.n_tokens AS DOUBLE) / CAST(f.n_words AS DOUBLE)
               AS tokens_per_word
           FROM psrc p JOIN fert f ON p.source = f.source
           ORDER BY p.source"""
    })

  /** The COMPLETE pre-training pipeline (q181 + the final stage):
    * dedup → split → score-FILTER → tokenize → PACK. Scoring is now
    * load-bearing in the chain, not a side readout — only teacher-KEPT
    * train-split survivors are tokenized and packed into 2048-token
    * context bins per source (q69's per-stratum running-sum rule), so
    * the output is literally the batch plan a training run consumes:
    * per (source, bin) document counts and token mass. Docs the
    * classifier cannot featurize (<2 tokens — no score row) are not
    * kept, and kept docs that segment to zero words carry no packable
    * tokens; both exclusions are replayed by the oracle. The tokenizer
    * stays trained on the FULL survivor train split (the q181 memo) —
    * training the tokenizer before quality filtering and applying it
    * after is the standard pipeline ordering.
    *
    * Scale shape: everything q181 claims, plus one per-source window
    * over the doc-level token counts (strata parallelize; the window
    * input is |kept docs| rows, never tokens).
    */
  /** Shared stage chain for q185/q200: dedup → split → score-FILTER →
    * tokenize → per-doc token counts with the per-source running sum
    * and 2048-token bin id. Returns (doc_id, source, n_tok, cum, bin).
    */
  private def packedBinned(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val t = Tables(s, dir)
    val merges = dagTrain(s, dir).merges
    val losers = Dedup.minhashLosers(s, dir)
    val survivors = SessionScratch.transientCheckpoint(
      t.documents.join(losers, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"), col("text")))
    val train = survivors
      .withColumn("split", Sampling.groupSplit(col("source")))
      .filter(col("split") === "train")
    val kept = train.join(
      Curation.classifierScores(survivors).filter(col("keep")),
      Seq("doc_id"), "left_semi")
    packTail(kept, merges)
  }

  /** The tokenize → pack tail shared by q185/q200 and the
    * decontaminated variant (q227): per-doc token mass under the given
    * merge table, then the per-source 2048-token running-sum binning.
    */
  private def packTail(kept: org.apache.spark.sql.DataFrame,
      merges: Seq[Bpe.Merge]): org.apache.spark.sql.DataFrame = {
    val words = kept
      .select(col("doc_id"), col("source"),
        explode(split(lower(col("text")), Bpe.WordSplitRe)).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("doc_id"), col("source"), col("word"))
      .agg(count(lit(1)).as("n"))
    val perDoc = words
      .withColumn("es", Bpe.encodeWord(col("word"), merges))
      .withColumn("n_toks", expr(
        "(length(es) - length(replace(es, concat(char(31), char(31)), " +
          "''))) div 2 + 1"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("n") * col("n_toks")).as("n_tok"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    perDoc
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("bin",
        floor((col("cum") - col("n_tok")) / lit(2048.0)))
  }

  val q185 = EngineQuery(
    "q185_curation_pipeline_packed",
    (s, dir) =>
      packedBinned(s, dir)
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tok"))
        .orderBy(col("source"), col("bin")),
    Some(packedOracleCtes +
      """
           SELECT source, bin, COUNT(*) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS sum_tok
           FROM binned GROUP BY 1, 2
           ORDER BY source, bin"""))

  /** Oracle CTEs shared by q185/q200 — the full dedup → split →
    * score-filter → tokenize → pack replay, ending with
    * `binned(source, doc_id, n_tok, cum, bin)`.
    */
  private def packedOracleCtes: String = packedOracleCtesImpl(false)

  /** q227's replay: the same chain with the DECONTAMINATION stage
    * between split and scoring — train docs sharing an 8-token span
    * with any TEST-split doc are dropped, and the tokenizer trains on
    * the decontaminated train split (the production ordering).
    */
  private def deconOracleCtes: String = packedOracleCtesImpl(true)

  private def packedOracleCtesImpl(decon: Boolean): String = {
      val trainCte = if (decon) "tdocs2" else "tdocs"
      // q227 runs the DOC-LEVEL split (q78's rule): the group split
      // moves whole sources, so the fixture has no cross-split span
      // sharing and a decon stage under it would never fire — the
      // doc-level split is exactly the regime where decontamination
      // is load-bearing
      val docDraw =
        "(doc_id % 1000000007) * 2654435761 % 1000000007 % 1000"
      val deconBlock = if (!decon) "" else s"""
         , tstg AS MATERIALIZED (
             SELECT DISTINCT gh FROM (
               SELECT UNNEST([(${PortableHash.spanHashWideSql("ths", 8)})
                       for i in range(1, len(ths)-6)]) AS gh
               FROM sth h JOIN spl p ON h.doc_id = p.doc_id
               WHERE p.split = 'test')
           ), trg AS (
             SELECT h.doc_id,
               UNNEST([(${PortableHash.spanHashWideSql("ths", 8)})
                       for i in range(1, len(ths)-6)]) AS gh
             FROM sth h JOIN spl p ON h.doc_id = p.doc_id
             WHERE p.split = 'train'
           ), decdrop AS (
             SELECT DISTINCT t.doc_id
             FROM trg t SEMI JOIN tstg x ON t.gh = x.gh
           ), tdocs2 AS MATERIALIZED (
             SELECT t.doc_id, t.source, t.text
             FROM tdocs t ANTI JOIN decdrop d ON t.doc_id = d.doc_id
           )"""
      val B = Curation.ClfBuckets
      val bucket =
        if (decon) docDraw
        else PortableHash.splitDrawSql(PortableHash.charHashSql("source"))
      Dedup.minhashPairsCtes + s"""
         , losers AS (
             SELECT DISTINCT doc_b AS doc_id FROM pairs WHERE n_bands >= 4
           ), surv AS MATERIALIZED (
             SELECT d.doc_id, d.source, d.text
             FROM documents d ANTI JOIN losers l ON d.doc_id = l.doc_id
           ), spl AS (
             SELECT doc_id, source,
               CASE WHEN bkt < 800 THEN 'train'
                    WHEN bkt < 900 THEN 'val'
                    ELSE 'test' END AS split
             FROM (SELECT doc_id, source, $bucket AS bkt FROM surv)
           ), tdocs AS MATERIALIZED (
             SELECT s.doc_id, s.source, s.text
             FROM surv s JOIN spl p ON s.doc_id = p.doc_id
             WHERE p.split = 'train'
           ), cw AS (
             SELECT p AS b,
               ((p+1)*2654435761 % 1000000007) % 2001 - 1000 AS wt
             FROM (SELECT UNNEST(range(0, $B)) p)
           ), stoks AS (
             SELECT doc_id, string_split(trim(text), ' ') ws FROM surv
           ), sth AS (
             SELECT doc_id,
               [coalesce(list_sum([(ascii(w[i])
                   * (((i*i % 1000000007)*2654435761 + i*97) % 1000000007))
                   % 1000000007
                   for i in range(1, length(w)+1)]) % 1000000007, 0)
                for w in ws] AS ths
             FROM stoks WHERE len(ws) >= 2
           ), sfeats AS (
             SELECT doc_id, UNNEST(list_concat(
               [t % $B for t in ths],
               [(${PortableHash.spanHashSql("ths", 2)}) % $B
                for i in range(1, len(ths))])) AS b
             FROM sth
           ), sscored AS (
             SELECT f.doc_id, CAST(SUM(cw.wt) AS BIGINT) AS w_sum
             FROM sfeats f JOIN cw ON f.b = cw.b
             GROUP BY f.doc_id
           )$deconBlock, kept AS MATERIALIZED (
             SELECT t.doc_id, t.source, t.text
             FROM $trainCte t JOIN sscored sc ON t.doc_id = sc.doc_id
             WHERE sc.w_sum >= 0
           ), ${Bpe.oracleChainBody(trainCte)}, enc AS MATERIALIZED (
             SELECT word,
               (length(s) - length(replace(s, chr(31) || chr(31), ''))) // 2
                 + 1 AS n_toks
             FROM w${Bpe.Rounds}
           ), dwd AS (
             SELECT doc_id, source, word, COUNT(*) AS n FROM (
               SELECT doc_id, source,
                 unnest(regexp_split_to_array(lower(text), '[^\\p{L}]+'))
                   AS word
               FROM kept
             ) WHERE word <> '' GROUP BY 1, 2, 3
           ), dtok AS (
             SELECT d.doc_id, d.source,
               CAST(SUM(d.n * e.n_toks) AS BIGINT) AS n_tok
             FROM dwd d JOIN enc e ON d.word = e.word
             GROUP BY 1, 2
           ), binned AS (
             SELECT source, doc_id, n_tok, cum,
               CAST(FLOOR((cum - n_tok) / 2048.0) AS BIGINT) AS bin
             FROM (
               SELECT source, doc_id, n_tok,
                 CAST(SUM(n_tok) OVER (PARTITION BY source
                   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
                   CURRENT ROW) AS BIGINT) AS cum
               FROM dtok)
           )"""
  }

  /** Training-sequence PROVENANCE manifest — the governance readout of
    * the packed pipeline: for every 2048-token context bin q185 plans,
    * the ordered list of contributing documents with their token
    * offsets inside the sequence (seq_pos, off_start, n_tok). This is
    * the attribution record a compliance audit needs ("which documents
    * are in training sequence X, at which offsets") and it falls out
    * of the SAME per-source running sum that assigns bins — no extra
    * corpus pass, one more window over |kept docs| rows. The gate hash
    * covers the exact document ORDER and OFFSETS of every sequence, so
    * any drift anywhere in the chain (dedup admission, split draw,
    * filter decision, tokenizer fertility, pack arithmetic) moves an
    * offset and mismatches.
    */
  val q200 = EngineQuery(
    "q200_curation_provenance",
    (s, dir) => {
      val wSeq = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"), col("bin")).orderBy(col("doc_id"))
      packedBinned(s, dir)
        .withColumn("seq_pos", row_number().over(wSeq))
        .select(col("source"), col("bin"), col("seq_pos"), col("doc_id"),
          (col("cum") - col("n_tok") - col("bin") * 2048).as("off_start"),
          col("n_tok"))
        .orderBy(col("source"), col("bin"), col("seq_pos"))
    },
    Some(packedOracleCtes +
      """
           SELECT source, bin,
             row_number() OVER (PARTITION BY source, bin
               ORDER BY doc_id) AS seq_pos,
             doc_id,
             cum - n_tok - bin * 2048 AS off_start,
             n_tok
           FROM binned
           ORDER BY source, bin, seq_pos"""))

  /** The persisted DAY-2 tokenizer: trained ONCE on the EXISTING
    * corpus's train split (even doc_ids — the q46 existing/incoming
    * convention) and published as a [[BpeModel]] artifact; every later
    * call LOADS the model from disk (config- and manifest-verified).
    * This is the production contract q187 exists to prove: the
    * tokenizer applied to an arriving batch is a FIXED on-disk
    * artifact, not something retrained per run.
    */
  private def day2Model(s: org.apache.spark.sql.SparkSession,
      dir: String): Seq[Bpe.Merge] = {
    val app = s.sparkContext.applicationId
    val tag = SessionScratch.dirTag(dir)
    val path = s"${SessionScratch.base("bpe_model", app)}/bm_$tag"
    SessionScratch.once("bpe_model", app, dir) {
      val existingTrain = Tables(s, dir).documents
        .filter(col("doc_id") % 2 === 0)
        .filter(Sampling.groupSplit(col("source")) === "train")
        .select(col("text"))
      BpeModel.save(s, Bpe.trainOn(Bpe.wordFreqOf(existingTrain),
        Bpe.Rounds), path, nTrain = existingTrain.count())
    }
    // the loaded merge list is memoized too (optimization r15): this
    // store is READ-ONLY once the builder returns (the existing*
    // shared-store contract), so the three day-2 gates re-reading the
    // Rounds-row parquet per invocation bought nothing. Remediation
    // gates load their own cloned stores directly via BpeModel.load —
    // staleness there is never masked by this memo.
    SessionScratch.memo("bpe_model_loaded", app, dir)(
      BpeModel.load(s, path))
  }

  /** The DAY-2 INCREMENT — the pipeline run a daily crawl actually
    * triggers, composed entirely from PERSISTED artifacts (the
    * round-10 closure of the maintained-index story): an incoming
    * batch (odd doc_ids) is deduped against the EXISTING corpus via
    * the on-disk [[DedupIndex]] (read-only probe; the batch is hashed
    * ONCE, feeding both the cross-corpus probe join and the in-batch
    * self-join — q45's greedy higher-id-drops rule among arrivals),
    * survivors get split + quality-scored (q172/q168 over the batch
    * only), and the train-split survivors are tokenized by the
    * PERSISTED [[BpeModel]] trained on the existing corpus — truly
    * held-out application of a fixed tokenizer, the day-0/day-N
    * boundary q181's same-corpus training cannot express.
    *
    * Scale shape: per-run cost scales with the BATCH, not the corpus —
    * the existing side is touched only through the signature index
    * parquet (bucket-bounded (band,sig) equi-join) and a 12-row model
    * read; zero re-hash, zero re-train, zero corpus scans. The gate
    * query is read-only (probe, not append) so reps are idempotent;
    * the append/commit half of the cycle is proven by
    * IndexMaintenanceSpec and its streaming twin.
    *
    * The oracle replays all four stages: the q41 pair space restricted
    * to cross (odd drops) and in-batch (higher odd drops) pairs, the
    * split rule, exact-integer scoring over the surviving batch, and
    * BPE training on the even-corpus train split + merge application
    * to the batch's train words.
    */
  /** The day-2 increment pipeline body of the q187 gate: an incoming
    * batch deduped
    * against a PERSISTED signature index at `idxPath` (cross-corpus
    * probe + in-batch self-resolution over signatures hashed ONCE),
    * survivors split and quality-scored, train-split survivors encoded
    * by the PERSISTED tokenizer `merges`. The existing corpus is
    * touched ONLY through the index parquet and the Rounds-row model —
    * per-run cost scales with `batch`, never the corpus behind the
    * index (measured in SCALING.md, "Day-2 increment DAG, round 10").
    */
  /** Stage 1 of the day-2 runs (q187/q191): the arriving batch deduped
    * against the persisted signature index — hashed ONCE (the
    * checkpoint feeds both the cross-corpus probe and the in-batch
    * self-join, q45's greedy higher-id-drops rule among arrivals).
    * Returns the CHECKPOINTED batch-survivor boundary every downstream
    * stage reads.
    */
  def day2Survivors(batch: org.apache.spark.sql.DataFrame,
      idxPath: String): org.apache.spark.sql.DataFrame = {
    val sigs = SessionScratch.transientCheckpoint(
      Dedup.bandSignaturesOf(batch))
    val afterCross = DedupIndex.probeWithSigs(batch, sigs, idxPath)
    val batchLosers = sigs
      .select(col("doc_id").as("doc_a"), col("band"), col("sig"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("band"),
        col("sig")), Seq("band", "sig"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_bands"))
      .filter(col("n_bands") >= DedupIndex.MatchBands)
      .select(col("doc_b").as("doc_id")).distinct()
    SessionScratch.transientCheckpoint(
      afterCross.join(batchLosers, Seq("doc_id"), "left_anti"))
  }

  def day2Increment(batch: org.apache.spark.sql.DataFrame,
      idxPath: String, merges: Seq[Bpe.Merge])
      : org.apache.spark.sql.DataFrame = {
    // STAGE 1 — dedup against the persisted index (see day2Survivors)
    val survivors = day2Survivors(batch, idxPath)
    // STAGE 2 — split (pure projection over the boundary)
    val train = survivors
      .withColumn("split", Sampling.groupSplit(col("source")))
      .filter(col("split") === "train")
    // STAGE 3 — quality scoring over the surviving batch
    val scored = Curation.classifierScores(survivors)
    val perSource = train.select(col("doc_id"), col("source"))
      .join(scored, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
    // STAGE 4 — tokenize with the PERSISTED model (chained-replace
    // projection; the merges came off the verified parquet artifact)
    val words = train
      .select(col("source"),
        explode(split(lower(col("text")), Bpe.WordSplitRe)).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("n"))
    val fert = words
      .withColumn("es", Bpe.encodeWord(col("word"), merges))
      .withColumn("n_toks", expr(
        "(length(es) - length(replace(es, concat(char(31), char(31)), " +
          "''))) div 2 + 1"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * col("n_toks")).as("n_tokens"))
    perSource.join(fert, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_keep"),
        col("n_words"), col("n_tokens"),
        (col("n_tokens").cast("double") /
          col("n_words").cast("double")).as("tokens_per_word"))
      .orderBy(col("source"))
  }

  val q187 = EngineQuery(
    "q187_curation_day2_increment",
    (s, dir) => {
      val t = Tables(s, dir)
      val incoming = t.documents.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("source"), col("text"))
      day2Increment(incoming, Dedup.existingDedupIndex(s, dir),
        day2Model(s, dir))
    },
    Some {
      val B = Curation.ClfBuckets
      val bucket = PortableHash.splitDrawSql(
        PortableHash.charHashSql("source"))
      val encChain = (1 to Bpe.Rounds).map { i =>
        s""", e$i AS MATERIALIZED (
            SELECT source, word, n,
              replace(s,
                chr(31) || b.l || chr(31) || chr(31) || b.r || chr(31),
                chr(31) || b.l || b.r || chr(31)) AS s
            FROM e${i - 1} CROSS JOIN b$i b
          )"""
      }.mkString
      Dedup.minhashPairsCtes + s"""
         , cross_dupes AS (
             SELECT DISTINCT CASE WHEN doc_a % 2 = 1 THEN doc_a
                                  ELSE doc_b END AS doc_id
             FROM pairs
             WHERE n_bands >= 4 AND (doc_a % 2) != (doc_b % 2)
           ), batch_dupes AS (
             SELECT DISTINCT doc_b AS doc_id FROM pairs
             WHERE n_bands >= 4 AND doc_a % 2 = 1 AND doc_b % 2 = 1
           ), surv AS MATERIALIZED (
             SELECT d.doc_id, d.source, d.text
             FROM documents d
             ANTI JOIN cross_dupes x ON d.doc_id = x.doc_id
             ANTI JOIN batch_dupes y ON d.doc_id = y.doc_id
             WHERE d.doc_id % 2 = 1
           ), spl AS (
             SELECT doc_id, source,
               CASE WHEN bkt < 800 THEN 'train'
                    WHEN bkt < 900 THEN 'val'
                    ELSE 'test' END AS split
             FROM (SELECT doc_id, source, $bucket AS bkt FROM surv)
           ), tdocs AS MATERIALIZED (
             SELECT s.doc_id, s.source, s.text
             FROM surv s JOIN spl p ON s.doc_id = p.doc_id
             WHERE p.split = 'train'
           ), cw AS (
             SELECT p AS b,
               ((p+1)*2654435761 % 1000000007) % 2001 - 1000 AS wt
             FROM (SELECT UNNEST(range(0, $B)) p)
           ), stoks AS (
             SELECT doc_id, string_split(trim(text), ' ') ws FROM surv
           ), sth AS (
             SELECT doc_id,
               [coalesce(list_sum([(ascii(w[i])
                   * (((i*i % 1000000007)*2654435761 + i*97) % 1000000007))
                   % 1000000007
                   for i in range(1, length(w)+1)]) % 1000000007, 0)
                for w in ws] AS ths
             FROM stoks WHERE len(ws) >= 2
           ), sfeats AS (
             SELECT doc_id, UNNEST(list_concat(
               [t % $B for t in ths],
               [(${PortableHash.spanHashSql("ths", 2)}) % $B
                for i in range(1, len(ths))])) AS b
             FROM sth
           ), sscored AS (
             SELECT f.doc_id, CAST(SUM(cw.wt) AS BIGINT) AS w_sum
             FROM sfeats f JOIN cw ON f.b = cw.b
             GROUP BY f.doc_id
           ), psrc AS (
             SELECT t.source, COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN sc.w_sum >= 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_keep
             FROM tdocs t LEFT JOIN sscored sc ON t.doc_id = sc.doc_id
             GROUP BY t.source
           ), edocs AS MATERIALIZED (
             SELECT source, text FROM (
               SELECT source, text, $bucket AS bkt FROM documents
               WHERE doc_id % 2 = 0
             ) WHERE bkt < 800
           ), ${Bpe.oracleChainBody("edocs")}, dw AS (
             SELECT source, word, COUNT(*) AS n FROM (
               SELECT source,
                 unnest(regexp_split_to_array(lower(text), '[^\\p{L}]+'))
                   AS word
               FROM tdocs
             ) WHERE word <> '' GROUP BY 1, 2
           ), e0 AS (
             SELECT source, word, n,
               chr(31) ||
                 regexp_replace(word, '(.)', '\\1' || chr(31) || chr(31), 'g')
                 || '_' || chr(31) AS s
             FROM dw
           )$encChain, enc AS (
             SELECT source, word, n,
               (length(s) - length(replace(s, chr(31) || chr(31), ''))) // 2
                 + 1 AS n_toks
             FROM e${Bpe.Rounds}
           ), fert AS (
             SELECT source,
               CAST(SUM(n) AS BIGINT) AS n_words,
               CAST(SUM(n * n_toks) AS BIGINT) AS n_tokens
             FROM enc GROUP BY source
           )
           SELECT p.source, p.n_docs, p.n_keep, f.n_words, f.n_tokens,
             CAST(f.n_tokens AS DOUBLE) / CAST(f.n_words AS DOUBLE)
               AS tokens_per_word
           FROM psrc p JOIN fert f ON p.source = f.source
           ORDER BY p.source"""
    })

  /** The persisted DAY-2 quality classifier: q176's batch-perceptron
    * student trained ONCE on the EXISTING corpus's train split (even
    * doc_ids — the q187 convention) and published as a [[ClfModel]]
    * artifact; every later call LOADS the frozen weight table from disk
    * (config-, manifest-, and structurally verified).
    */
  private def day2Student(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val app = s.sparkContext.applicationId
    val tag = SessionScratch.dirTag(dir)
    val path = s"${SessionScratch.base("clf_model", app)}/cm_$tag"
    SessionScratch.once("clf_model", app, dir) {
      val existingTrain = Tables(s, dir).documents
        .filter(col("doc_id") % 2 === 0)
        .withColumn("split", Sampling.groupSplit(col("source")))
        .filter(col("split") === "train")
        .select(col("doc_id"), col("text"))
      ClfModel.save(s, Curation.trainClassifierOn(s, existingTrain).w,
        path, nTrain = existingTrain.count())
    }
    // memoized + checkpointed load (optimization r15, the day2Model
    // rationale): the shared store is read-only, the weight table is
    // ≤(buckets+1) rows, and three gates broadcast it per invocation —
    // one materialization serves the session.
    SessionScratch.memo("clf_model_loaded", app, dir)(
      ClfModel.load(s, path).localCheckpoint())
  }

  /** Day-2 scoring with the PERSISTED classifier model — the inference
    * half of the trained-artifact family's second member (the BPE model
    * proves frozen TOKENIZATION; this proves frozen SCORING): the
    * arriving batch (odd doc_ids) is featurized once (q168's hashed
    * unigram+bigram+bias buckets) and scored by the on-disk weight
    * table trained on the EXISTING corpus — truly held-out application
    * of a fixed model, where q168/q176 score the same corpus the
    * weights came from. A re-trained-per-run scorer would shift the
    * keep/drop boundary silently under the pipeline; the gate's oracle
    * retrains from scratch (all unrolled epochs over the even train
    * split) and scores the odd batch, so the persisted table must equal
    * the from-scratch training bit-exactly to hash-match.
    *
    * Scale shape: the existing corpus is touched only through the
    * ≤(buckets+1)-row weight read (broadcast side of the score join);
    * everything else — one featurize scan, one map-side-combined
    * per-doc rollup, one per-source agg — sees the BATCH.
    */
  val q190 = EngineQuery(
    "q190_classifier_persisted_model",
    (s, dir) => {
      import graft.llmops.PortableHash.{tokens, tokenHashes}
      val w = day2Student(s, dir)
      val batch = Tables(s, dir).documents
        .filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("source"), col("text"))
      // ONE batch scan: token hashes checkpointed, features + bias
      // derived from the checkpoint (the q177 discipline)
      val hb = SessionScratch.transientCheckpoint(
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
      Curation.clfOracleCtesOver(" AND doc_id % 2 = 0") +
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

  /** The COMPLETE day-2 run, ending in the packed training-batch plan —
    * every stage driven by a PERSISTED artifact: the arriving batch is
    * deduped against the on-disk signature index ([[day2Survivors]]),
    * split, kept-or-dropped by the FROZEN on-disk student classifier
    * (q190's [[ClfModel]]), tokenized by the FROZEN on-disk
    * [[BpeModel]], and packed into 2048-token context bins per source
    * (q185's per-stratum running-sum rule). q185 proves the chain
    * composes same-corpus; q187 proves the persisted dedup+tokenizer
    * half; this gate proves the WHOLE production day-2 — a daily crawl
    * to a training batch plan with zero corpus-sized recomputation.
    *
    * Scale shape: the existing corpus enters only through the index
    * parquet probe, a Rounds-row merge read, and a ≤4097-row weight
    * broadcast; the pack window's input is |kept batch docs| rows.
    *
    * The oracle replays all five stages from scratch: the pair-space
    * dedup resolution, the split rule, EVERY unrolled perceptron epoch
    * of the student over the even train split (the persisted weights
    * must equal from-scratch training bit-exactly), the 12-round BPE
    * train over the even train split + chained-replace encode of the
    * batch's kept words per doc, and the pack window.
    */
  /** The complete day-2 pipeline body of the q191 gate: stages 1-2 via
    * [[day2Survivors]], then frozen-student keep/drop, frozen-tokenizer
    * per-doc encode, and the q185 pack window — all over the batch, with
    * the corpus entering only through `idxPath`, `merges`, and the
    * weight table `w` (measured in SCALING.md, "Day-2 increment DAG,
    * round 10").
    */
  /** The shared day-2 stage chain over PERSISTED artifacts (q191/q207):
    * probe-index dedup → split → FROZEN-student keep/drop →
    * FROZEN-tokenizer per-doc token counts. Returns (survivors, train,
    * kept, perDoc) so the pack rollup (q191) and the batch datasheet
    * (q207) read the same lineage.
    */
  private def day2Stages(batch: org.apache.spark.sql.DataFrame,
      idxPath: String, merges: Seq[Bpe.Merge],
      w: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import graft.llmops.PortableHash.{tokens, tokenHashes}
    // STAGE 1 — dedup against the persisted index; STAGE 2 — split
    val survivors = day2Survivors(batch, idxPath)
    val train = survivors
      .withColumn("split", Sampling.groupSplit(col("source")))
      .filter(col("split") === "train")
    // STAGE 3 — keep/drop by the FROZEN student (q190 featurization:
    // one token-hash checkpoint feeds features, bias, and the kept
    // fetch)
    val hb = SessionScratch.transientCheckpoint(
      train.select(col("source"), col("doc_id"), col("text"),
        tokenHashes(tokens(col("text"))).as("ths")))
    val fx = Curation.bucketsFromTh(hb.select(col("doc_id"), col("ths")))
      .unionByName(hb.select(col("doc_id"),
        lit(Curation.ClfBuckets).as("b")))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
    val keptIds = fx.join(broadcast(w), Seq("b"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("c") * coalesce(col("w"), lit(0L))).as("score"))
      .filter(col("score") > 0)
      .select(col("doc_id"))
    val kept = hb.select(col("doc_id"), col("source"), col("text"))
      .join(keptIds, Seq("doc_id"), "left_semi")
    // STAGE 4 — tokenize with the FROZEN persisted merges, per doc
    val words = kept
      .select(col("doc_id"), col("source"),
        explode(split(lower(col("text")), Bpe.WordSplitRe)).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("doc_id"), col("source"), col("word"))
      .agg(count(lit(1)).as("n"))
    val perDoc = words
      .withColumn("es", Bpe.encodeWord(col("word"), merges))
      .withColumn("n_toks", expr(
        "(length(es) - length(replace(es, concat(char(31), char(31)), " +
          "''))) div 2 + 1"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("n") * col("n_toks")).as("n_tok"))
    (survivors, hb.select(col("doc_id"), col("source")), kept, perDoc)
  }

  def day2Packed(batch: org.apache.spark.sql.DataFrame, idxPath: String,
      merges: Seq[Bpe.Merge], w: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val (_, _, _, perDoc) = day2Stages(batch, idxPath, merges, w)
    // STAGE 5 — pack into 2048-token bins per source (q185's rule)
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    perDoc
      .withColumn("bin",
        floor((sum(col("n_tok")).over(win) - col("n_tok")) / lit(2048.0)))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tok"))
      .orderBy(col("source"), col("bin"))
  }

  /** The day-2 BATCH DATASHEET (q206's report card for an ARRIVING
    * batch, computed against yesterday's persisted artifacts): per
    * source, batch volume, docs dropped by probe-index + in-batch
    * dedup, train-split survivors, frozen-student keeps, and the
    * frozen-tokenizer token mass of the kept docs.
    */
  def day2Datasheet(batch: org.apache.spark.sql.DataFrame,
      idxPath: String, merges: Seq[Bpe.Merge],
      w: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val (survivors, train, kept, perDoc) =
      day2Stages(batch, idxPath, merges, w)
    batch.select(col("doc_id"), col("source"))
      .join(survivors.select(col("doc_id"))
        .withColumn("sv", lit(1L)), Seq("doc_id"), "left")
      .join(train.select(col("doc_id"))
        .withColumn("tr", lit(1L)), Seq("doc_id"), "left")
      .join(kept.select(col("doc_id"))
        .withColumn("kp", lit(1L)), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("sv").isNull, 1L).otherwise(0L)).as("n_dups"),
        sum(coalesce(col("tr"), lit(0L))).as("n_train"),
        sum(coalesce(col("kp"), lit(0L))).as("n_keep"))
      .join(perDoc.groupBy(col("source"))
        .agg(sum(col("n_tok")).as("sum_tokens")), Seq("source"), "left")
      .na.fill(0L, Seq("sum_tokens"))
      .orderBy(col("source"))
  }

  val q191 = EngineQuery(
    "q191_curation_day2_packed",
    (s, dir) => {
      val incoming = Tables(s, dir).documents
        .filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("source"), col("text"))
      day2Packed(incoming, Dedup.existingDedupIndex(s, dir),
        day2Model(s, dir), day2Student(s, dir))
    },
    Some(day2OracleCtes + """
         , binned AS (
             SELECT source, doc_id, n_tok,
               CAST(FLOOR((SUM(n_tok) OVER (PARTITION BY source
                 ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
                 CURRENT ROW) - n_tok) / 2048.0) AS BIGINT) AS bin
             FROM dtok
           )
           SELECT source, bin, COUNT(*) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS sum_tok
           FROM binned GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Oracle CTEs shared by q191/q207 — the full from-scratch replay of
    * the day-2 chain (cross/in-batch pair resolution, split, every
    * unrolled perceptron epoch, 12-round BPE train on the even train
    * split, per-doc chained-replace encode), ending with `surv`,
    * `tdocs`, `kept`, and `dtok(doc_id, source, n_tok)`.
    */
  private def day2OracleCtes: String = {
      val R = Curation.ClfRounds
      val bucket = PortableHash.splitDrawSql(
        PortableHash.charHashSql("source"))
      val encChain = (1 to Bpe.Rounds).map { i =>
        s""", e$i AS MATERIALIZED (
            SELECT doc_id, source, word, n,
              replace(s,
                chr(31) || b.l || chr(31) || chr(31) || b.r || chr(31),
                chr(31) || b.l || b.r || chr(31)) AS s
            FROM e${i - 1} CROSS JOIN bt$i b
          )"""
      }.mkString
      Dedup.minhashPairsCtes + s"""
         , cross_dupes AS (
             SELECT DISTINCT CASE WHEN doc_a % 2 = 1 THEN doc_a
                                  ELSE doc_b END AS doc_id
             FROM pairs
             WHERE n_bands >= 4 AND (doc_a % 2) != (doc_b % 2)
           ), batch_dupes AS (
             SELECT DISTINCT doc_b AS doc_id FROM pairs
             WHERE n_bands >= 4 AND doc_a % 2 = 1 AND doc_b % 2 = 1
           ), surv AS MATERIALIZED (
             SELECT d.doc_id, d.source, d.text
             FROM documents d
             ANTI JOIN cross_dupes x ON d.doc_id = x.doc_id
             ANTI JOIN batch_dupes y ON d.doc_id = y.doc_id
             WHERE d.doc_id % 2 = 1
           ), spl AS (
             SELECT doc_id, source,
               CASE WHEN bkt < 800 THEN 'train'
                    WHEN bkt < 900 THEN 'val'
                    ELSE 'test' END AS split
             FROM (SELECT doc_id, source, $bucket AS bkt FROM surv)
           ), tdocs AS MATERIALIZED (
             SELECT s.doc_id, s.source, s.text
             FROM surv s JOIN spl p ON s.doc_id = p.doc_id
             WHERE p.split = 'train'
           )""" +
        Curation.clfOracleCtesOver(" AND doc_id % 2 = 0", ", ", "c") +
        Curation.clfFeatCtes("k", "tdocs") + s""", ksc AS (
             SELECT f.doc_id,
               CAST(COALESCE(SUM(f.c * w.w), 0) AS BIGINT) AS score
             FROM fxk f LEFT JOIN w$R w ON w.b = f.b
             GROUP BY f.doc_id
           ), kept AS MATERIALIZED (
             SELECT t.doc_id, t.source, t.text
             FROM tdocs t JOIN ksc s ON s.doc_id = t.doc_id
             WHERE s.score > 0
           ), edocs AS MATERIALIZED (
             SELECT source, text FROM (
               SELECT source, text, $bucket AS bkt FROM documents
               WHERE doc_id % 2 = 0
             ) WHERE bkt < 800
           ), ${Bpe.oracleChainBody("edocs", "t")}, dwd AS (
             SELECT doc_id, source, word, COUNT(*) AS n FROM (
               SELECT doc_id, source,
                 unnest(regexp_split_to_array(lower(text), '[^\\p{L}]+'))
                   AS word
               FROM kept
             ) WHERE word <> '' GROUP BY 1, 2, 3
           ), e0 AS (
             SELECT doc_id, source, word, n,
               chr(31) ||
                 regexp_replace(word, '(.)', '\\1' || chr(31) || chr(31), 'g')
                 || '_' || chr(31) AS s
             FROM dwd
           )$encChain, enc AS (
             SELECT doc_id, source, n,
               (length(s) - length(replace(s, chr(31) || chr(31), ''))) // 2
                 + 1 AS n_toks
             FROM e${Bpe.Rounds}
           ), dtok AS (
             SELECT doc_id, source,
               CAST(SUM(n * n_toks) AS BIGINT) AS n_tok
             FROM enc GROUP BY 1, 2
           )"""
  }

  /** The day-2 BATCH DATASHEET over persisted artifacts (gate) —
    * q206's per-source report card for an ARRIVING batch, the
    * operational form: duplication counted against the ON-DISK
    * signature index (plus in-batch pairs), keeps decided by the
    * FROZEN student, token mass by the FROZEN tokenizer — so the
    * daily report a corpus owner actually reads costs one batch-sized
    * pass, never a corpus re-scan. The oracle replays the whole chain
    * from scratch (pair resolution, split, every perceptron epoch,
    * BPE train + encode), so a persisted artifact diverging from
    * from-scratch computation shifts a count and hash-mismatches.
    */
  val q207 = EngineQuery(
    "q207_curation_day2_datasheet",
    (s, dir) => {
      val incoming = Tables(s, dir).documents
        .filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("source"), col("text"))
      day2Datasheet(incoming, Dedup.existingDedupIndex(s, dir),
        day2Model(s, dir), day2Student(s, dir))
    },
    Some(day2OracleCtes + """
         , batch AS (
             SELECT doc_id, source FROM documents WHERE doc_id % 2 = 1
           ), tksrc AS (
             SELECT source, CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
             FROM dtok GROUP BY source
           )
           SELECT b.source, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN s.doc_id IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_dups,
             CAST(SUM(CASE WHEN t.doc_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_train,
             CAST(SUM(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_keep,
             COALESCE(MAX(tk.sum_tokens), 0) AS sum_tokens
           FROM batch b
           LEFT JOIN surv s ON s.doc_id = b.doc_id
           LEFT JOIN tdocs t ON t.doc_id = b.doc_id
           LEFT JOIN kept k ON k.doc_id = b.doc_id
           LEFT JOIN tksrc tk ON tk.source = b.source
           GROUP BY b.source ORDER BY b.source"""))

  /** q78's DOC-LEVEL split rule — q227 deliberately runs this instead
    * of the group split: group splits move whole sources, so the
    * fixture (like any corpus with source-atomic provenance) has no
    * cross-split span sharing under them and a decon stage would never
    * fire; the doc-level split is exactly the regime where
    * decontamination is load-bearing.
    */
  private def docSplit: org.apache.spark.sql.Column = {
    val bk = PortableHash.splitDraw(col("doc_id"))
    when(bk < 800, "train").when(bk < 900, "val").otherwise("test")
  }

  /** The decontaminated train split's BPE model — trained AFTER the
    * span drop (the production ordering: a tokenizer trained on
    * contaminated text bakes eval n-grams into its vocabulary).
    * Memoized separately from [[dagTrain]]: it is a DIFFERENT model.
    */
  private def deconTrain(s: org.apache.spark.sql.SparkSession,
      dir: String): Bpe.Trained =
    SessionScratch.memo("bpe_train_dag_decon",
      s.sparkContext.applicationId, dir) {
      val losers = Dedup.minhashLosers(s, dir)
      val base = Tables(s, dir).documents
        .join(losers, Seq("doc_id"), "left_anti")
        .withColumn("split", docSplit)
      val testIdx = Dedup.spanIndex(base.filter(col("split") === "test"))
      val trainDocs = Dedup.decontaminateSurvivors(
        base.filter(col("split") === "train")
          .select(col("doc_id"), col("text")),
        testIdx)
      Bpe.trainOn(Bpe.wordFreqOf(trainDocs.select(col("text"))),
        Bpe.Rounds)
    }

  /** The COMPLETE pipeline with the DECONTAMINATION stage (q224's
    * operator composed into the q185 chain at its production slot):
    * dedup → DOC-LEVEL split ([[docSplit]] — the regime where
    * decontamination is load-bearing; under q185's group split the
    * fixture has no cross-split span sharing and the stage would
    * never fire) → DECONTAMINATE the train split against the test
    * split's 8-token span index → score-filter → tokenize (the BPE
    * model trains on the DECONTAMINATED train split — a tokenizer
    * trained before the drop would bake eval n-grams into its
    * vocabulary) → pack into 2048-token bins. The gate hashes the
    * same per-(source, bin) readout as q185, so a decontamination
    * stage that dropped the wrong docs — or a tokenizer that saw the
    * contaminated text — shifts a token mass and mismatches.
    *
    * MEASURED composition fact (EvalOpsSpec pins it): stage-1 near-dup
    * dedup SUBSUMES the fixture's planted cross-split contamination —
    * post-dedup survivor drops are 0 at sf0.001/sf0.01 and exactly 1
    * at sf0.1 (the shares-a-span-but-not-near-dup tail, precisely the
    * case decontamination exists for; q224 on the RAW corpus drops 41
    * at sf0.1). The spec proves the fire case on a crafted corpus
    * through the same composed helpers and that the gate population
    * equals the scored decon survivors.
    *
    * Scale shape: q185's plus q224's one span-hash shuffle +
    * semi-join — the decon stage reads the SAME survivor checkpoint
    * as split/scoring (no extra corpus scan; the gate plan stays
    * parquet-free, PLANS.md asserts it).
    */
  val q227 = EngineQuery(
    "q227_decon_packed_pipeline",
    (s, dir) => {
      val t = Tables(s, dir)
      val merges = deconTrain(s, dir).merges
      val losers = Dedup.minhashLosers(s, dir)
      val survivors = SessionScratch.transientCheckpoint(
        t.documents.join(losers, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("source"), col("text")))
      val withSplit = survivors.withColumn("split", docSplit)
      val testIdx = Dedup.spanIndex(
        withSplit.filter(col("split") === "test"))
      val train = Dedup.decontaminateSurvivors(
        withSplit.filter(col("split") === "train")
          .select(col("doc_id"), col("source"), col("text")),
        testIdx)
      val kept = train.join(
        Curation.classifierScores(survivors).filter(col("keep")),
        Seq("doc_id"), "left_semi")
      packTail(kept, merges)
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tok"))
        .orderBy(col("source"), col("bin"))
    },
    Some(deconOracleCtes +
      """
           SELECT source, bin, COUNT(*) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS sum_tok
           FROM binned GROUP BY 1, 2
           ORDER BY source, bin"""))

  val all: Seq[EngineQuery] =
    Seq(q178, q181, q185, q187, q190, q191, q200, q207, q227)
}
