package graft

import org.apache.spark.sql.functions._

import graft.etl.EtlRunner
import graft.model._
import graft.ops.Tables

class EtlRunnerSpec extends SparkTestBase {

  private def runner(warehouse: String) =
    new EtlRunner(spark, name => Tables(spark, sfDir).table(name), warehouse)

  test("transform steps compose: null-default, date-standardize, derive, filter") {
    val r = runner(java.nio.file.Files.createTempDirectory("etl1").toString)
    val out = r.transform(r.extract(ExtractSpec(Seq("orders"))), Seq(
      TransformStep.NullDefault(Map("o_orderpriority" -> "'UNKNOWN'")),
      TransformStep.DateStandardize("o_orderdate"),
      TransformStep.Derive("big", "o_totalprice > 300000"),
      TransformStep.FilterRows("big")))
    assert(out.columns.contains("o_orderdate_std"))
    assert(out.filter(col("o_totalprice") <= 300000).count() == 0)
    val std = out.select("o_orderdate_std").head().getString(0)
    assert(std.matches("\\d{4}-\\d{2}-\\d{2}"))
  }

  test("TypeValidate drops rows that fail the cast") {
    import spark.implicits._
    val df = Seq("1", "2", "oops", "4").toDF("v")
    val r = runner(java.nio.file.Files.createTempDirectory("etl2").toString)
    val out = r.applyStep(df, TransformStep.TypeValidate("v", "int"))
    assert(out.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 4))
  }

  test("load round-trips with overwrite and append write modes") {
    val wh = java.nio.file.Files.createTempDirectory("etl3").toString
    val r = runner(wh)
    val src = Tables(spark, sfDir).orders.limit(100)
    val first = r.load(src, LoadSpec("t_out", "overwrite"))
    assert(first.count() == 100)
    val second = r.load(src, LoadSpec("t_out", "append"))
    assert(second.count() == 200)
    val third = r.load(src, LoadSpec("t_out", "overwrite"))
    assert(third.count() == 100)
    // reference contract allows only append|overwrite (sql_generator.py:46)
    intercept[IllegalArgumentException] {
      r.load(src, LoadSpec("t_out", "merge"))
    }
  }

  test("partitioned load: layout dirs + dynamic overwrite replaces " +
      "only the partitions present in the run") {
    val wh = java.nio.file.Files.createTempDirectory("etl5").toString
    val r = runner(wh)
    val src = Tables(spark, sfDir).orders
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    val spec = LoadSpec("p_out", "overwrite", partitionBy = Seq("o_orderstatus"))
    val first = r.load(src, spec)
    val total = src.count()
    assert(first.count() == total)
    // physical layout: one directory per partition value
    val dirs = new java.io.File(s"$wh/p_out").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.exists(_.startsWith("o_orderstatus=")))
    // dynamic overwrite: a run producing ONLY status 'O' rows must
    // leave every other partition intact (static mode would truncate)
    val onlyO = src.filter(col("o_orderstatus") === "O")
      .withColumn("o_totalprice", lit(0.0))
    val after = r.load(onlyO, spec)
    assert(after.count() == total)
    assert(after.filter(col("o_orderstatus") === "O")
      .agg(sum(col("o_totalprice"))).head().getDouble(0) == 0.0)
    assert(after.filter(col("o_orderstatus") =!= "O")
      .agg(sum(col("o_totalprice"))).head().getDouble(0) > 0.0)
  }

  test("MergeOps: U/D/I semantics, unmatched U/D are no-ops") {
    import spark.implicits._
    val snap = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "bal")
    val chg = Seq(
      (2L, "b2", 25.0, "U"),   // matched update
      (3L, "c", 30.0, "D"),    // matched delete
      (4L, "d", 40.0, "I"),    // unmatched insert
      (5L, "x", 0.0, "U"),     // unmatched update -> no-op
      (6L, "y", 0.0, "D"))     // unmatched delete -> no-op
      .toDF("k", "name", "bal", "op")
    val out = graft.etl.MergeOps.merge(snap, chg, "k", "op")
      .orderBy(col("k"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, "a", 10.0, "kept"),
      (2L, "b2", 25.0, "updated"),
      (4L, "d", 40.0, "inserted")))
  }

  test("MergeOps: NULL-key snapshot rows are never-matched targets, kept") {
    import spark.implicits._
    // a NULL merge key never equi-matches, so the row is an unmatched
    // TARGET row — standard MERGE leaves it untouched; key-nullness
    // filters would three-value it away on every load
    val snap = Seq((Option(1L), "a", 10.0), (None, "orphan", 99.0))
      .toDF("k", "name", "bal")
    val chg = Seq((Option(1L), "a2", 11.0, "U"))
      .toDF("k", "name", "bal", "op")
    val out = graft.etl.MergeOps.merge(snap, chg, "k", "op")
      .orderBy(col("k").asc_nulls_first)
      .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        r.getString(1), r.getDouble(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (None, "orphan", 99.0, "kept"),
      (Some(1L), "a2", 11.0, "updated")))
  }

  test("SCD2: closes only open versions, deep history untouched, new keys insert") {
    import spark.implicits._
    def ts(d: String) = java.time.LocalDateTime.parse(d + "T00:00")
    val hist = Seq(
      (1L, "old", ts("1999-01-01"), Option(ts("2000-01-01"))), // closed
      (1L, "cur", ts("2000-01-01"), None),                     // open, changed
      (2L, "sta", ts("2000-01-01"), None))                     // open, untouched
      .toDF("k", "seg", "valid_from", "valid_to")
    val chg = Seq((1L, "new", ts("2001-06-01")), (9L, "ins", ts("2001-06-01")))
      .toDF("k", "seg", "eff")
    val out = graft.etl.MergeOps.scd2(hist, chg, "k", "eff")
      .orderBy(col("k"), col("valid_from"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getAs[java.time.LocalDateTime](2).toLocalDate.toString,
        Option(r.getAs[java.time.LocalDateTime](3)).map(_.toLocalDate.toString)))
    assert(out.toSeq == Seq(
      (1L, "old", "1999-01-01", Some("2000-01-01")),
      (1L, "cur", "2000-01-01", Some("2001-06-01")),
      (1L, "new", "2001-06-01", None),
      (2L, "sta", "2000-01-01", None),
      (9L, "ins", "2001-06-01", None)))
  }

  test("Compaction: many small files rewrite into ~targetBytes files") {
    val base = java.nio.file.Files.createTempDirectory("compact").toString
    val t = graft.ops.Tables(spark, sfDir)
    t.orders.repartition(32).write.parquet(s"$base/small")
    def parquetFiles(dir: String) = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    val smallFiles = parquetFiles(s"$base/small")
    assert(smallFiles.length == 32)
    val total = smallFiles.map(_.length).sum
    val (before, chosen) = graft.etl.Compaction.compact(
      spark, s"$base/small", s"$base/big", targetBytes = total / 4 + 1)
    assert(before == 32 && chosen <= 4)
    assert(parquetFiles(s"$base/big").length == chosen)
    assert(spark.read.parquet(s"$base/big").count() == t.orders.count())
  }

  test("Compaction sizes nested partitioned layouts from a recursive listing") {
    val base = java.nio.file.Files.createTempDirectory("compactp").toString
    val t = graft.ops.Tables(spark, sfDir)
    t.orders.repartition(4).write.partitionBy("o_orderstatus")
      .parquet(s"$base/part")
    // files live under o_orderstatus=X/ subdirs — a top-level listing
    // would see 0 bytes and collapse everything into 1 file
    val all = t.orders.count()
    def dataFiles(f: java.io.File): Seq[java.io.File] =
      f.listFiles().toSeq.flatMap { c =>
        if (c.isDirectory) dataFiles(c)
        else if (c.getName.endsWith(".parquet")) Seq(c)
        else Nil
      }
    val inputs = dataFiles(new java.io.File(s"$base/part")).size
    // targetBytes = 1 asks for one file per input byte: the chosen count
    // must stop at the input's data files (hidden .crc sidecars are not
    // data), since compaction must never raise the file count
    val (before, chosen) = graft.etl.Compaction.compact(
      spark, s"$base/part", s"$base/out", targetBytes = 1L)
    info(s"listed $before files ($inputs data files), chose $chosen")
    assert(before == inputs, s"listing counted $before of $inputs data files")
    assert(before >= 3, s"recursive listing found only $before files")
    assert(chosen > 1, "byte-derived target must exceed one file")
    assert(chosen <= inputs, s"chose $chosen files for $inputs inputs")
    assert(spark.read.parquet(s"$base/out").count() == all)
  }

  test("committed read: EtlRunner.load re-reads appended and dynamically " +
      "overwritten partitioned targets with the inferred schema and adds " +
      "no Spark job to the write") {
    val wh = java.nio.file.Files.createTempDirectory("etl_read").toString
    val r = runner(wh)
    val src = Tables(spark, sfDir).orders
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    val part = Seq("o_orderstatus")
    for ((mode, i) <- Seq("overwrite", "append", "overwrite").zipWithIndex) {
      val spec = LoadSpec("p_read", mode, partitionBy = part)
      // the same write alone, into a sibling target
      val (_, writeJobs) = jobsStartedBy(
        src.write.mode(mode).option("partitionOverwriteMode", "dynamic")
          .partitionBy(part: _*).parquet(s"$wh/p_write_$i"))
      val (loaded, loadJobs) = jobsStartedBy(r.load(src, spec))
      assert(loadJobs == writeJobs,
        s"$mode: load started $loadJobs jobs, its write alone $writeJobs")
      val target = s"$wh/p_read"
      val inferred = spark.read.parquet(target).schema
      assert(loaded.schema == inferred, mode)
      assert(inferred.last.name == "o_orderstatus", inferred.toString)
      val (df, jobs) = jobsStartedBy(graft.etl.ParquetDir.read(spark, target))
      assert(df.schema == inferred && jobs == 0, s"$mode: $jobs job(s)")
    }
    assert(r.load(src, LoadSpec("p_read", "append", partitionBy = part))
      .count() == 2 * src.count())
  }

  test("committed read: Compaction.compact reads a partitioned input with " +
      "the inferred schema and adds no Spark job to the rewrite") {
    val base = java.nio.file.Files.createTempDirectory("compact_read").toString
    val t = graft.ops.Tables(spark, sfDir)
    t.orders.repartition(3).write.partitionBy("o_orderstatus")
      .parquet(s"$base/in")
    val inferred = spark.read.parquet(s"$base/in").schema
    val (df, jobs) = jobsStartedBy(
      graft.etl.ParquetDir.read(spark, s"$base/in"))
    assert(df.schema == inferred && jobs == 0, s"$jobs job(s)")
    val n = graft.etl.Compaction.targetFiles(spark, s"$base/in", 1L)._2
    val (_, rewriteJobs) = jobsStartedBy(
      spark.read.schema(inferred).parquet(s"$base/in").repartition(n)
        .write.mode("overwrite").parquet(s"$base/alone"))
    val (_, compactJobs) = jobsStartedBy(graft.etl.Compaction.compact(
      spark, s"$base/in", s"$base/out", targetBytes = 1L))
    assert(compactJobs == rewriteJobs,
      s"compact started $compactJobs jobs, its rewrite alone $rewriteJobs")
    assert(spark.read.parquet(s"$base/out").schema == inferred)
    assert(spark.read.parquet(s"$base/out").count() == t.orders.count())
  }

  test("committed read: foreign parquet (no Spark schema in the footer) " +
      "and a missing directory fall back to Spark's inferring read") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = java.nio.file.Files.createTempDirectory("foreign").toString
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional binary name (UTF8); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/part-0.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration)
      .build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("id", 7L).append("name", "x"))
    finally w.close()
    assert(graft.etl.ParquetDir.footerSchema(spark, dir).isEmpty)
    val df = graft.etl.ParquetDir.read(spark, dir)
    assert(df.schema == spark.read.parquet(dir).schema)
    assert(df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((7L, "x")))
    val missing = s"$dir/absent"
    val e = intercept[org.apache.spark.sql.AnalysisException](
      graft.etl.ParquetDir.read(spark, missing))
    assert(e.getMessage.contains("absent"), e.getMessage)
  }

  test("DataQuality: empty input passes every rule with zero (not NULL) violations") {
    val t = graft.ops.Tables(spark, sfDir)
    val out = graft.etl.DataQuality.evaluate(
      t.orders.filter(lit(false)),
      Seq(graft.etl.DataQuality.Rule("pos", col("o_totalprice") > 0)))
      .collect()
    assert(out.length == 1)
    assert(out.head.getLong(1) == 0L && out.head.getBoolean(2))
    // non-identifier rule names fail fast instead of breaking the plan
    intercept[IllegalArgumentException] {
      graft.etl.DataQuality.evaluate(t.orders,
        Seq(graft.etl.DataQuality.Rule("bad name", lit(true))))
    }
  }

  test("SCD2 with DATE validity columns unions cleanly") {
    import spark.implicits._
    def d(s: String) = java.sql.Date.valueOf(s)
    val hist = Seq((1L, "cur", d("2000-01-01"), None: Option[java.sql.Date]))
      .toDF("k", "seg", "valid_from", "valid_to")
    val chg = Seq((1L, "new", d("2001-06-01"))).toDF("k", "seg", "eff")
    val out = graft.etl.MergeOps.scd2(hist, chg, "k", "eff")
      .orderBy(col("valid_from")).collect()
    assert(out.length == 2)
    assert(out(0).getDate(3) == d("2001-06-01") && out(1).isNullAt(3))
  }

  test("schema evolution: mergeSchema unifies appended columns with nulls") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("evolve").toString
    Seq((1L, "a")).toDF("id", "name").write.parquet(s"$dir/d1")
    Seq((2L, "b", 9.5)).toDF("id", "name", "score").write.parquet(s"$dir/d2")
    val df = spark.read.option("mergeSchema", "true")
      .parquet(s"$dir/d1", s"$dir/d2").orderBy(col("id"))
    assert(df.columns.toSet == Set("id", "name", "score"))
    val rows = df.collect()
    assert(rows(0).isNullAt(2) && rows(1).getDouble(2) == 9.5)
  }

  test("full spec run: extract -> transform -> load") {
    val wh = java.nio.file.Files.createTempDirectory("etl4").toString
    val out = runner(wh).run(EtlSpec(
      extract = ExtractSpec(Seq("orders"), Seq("o_orderstatus = 'F'")),
      transform = Seq(TransformStep.Derive("y", "year(o_orderdate)")),
      load = LoadSpec("processed_orders", "overwrite")))
    assert(out.filter(col("o_orderstatus") =!= "F").count() == 0)
    assert(out.columns.contains("y"))
    assert(new java.io.File(s"$wh/processed_orders").exists())
  }

  test("schema drift: added/removed/widened classified; ingest unions cleanly") {
    import spark.implicits._
    import graft.etl.SchemaEvolution
    import graft.etl.SchemaEvolution._
    import org.apache.spark.sql.types._
    val existing = Seq((1, "a", 1.5f), (2, "b", 2.5f))
      .toDF("id", "name", "score")
    val incoming = Seq((3L, 9.5, "fresh"), (4L, 8.0, "fresh2"))
      .toDF("id", "score", "note")           // name removed, note added,
                                             // id int->long, score f->d
    val drifts = SchemaEvolution
      .driftReport(existing.schema, incoming.schema)
    assert(drifts.contains(Added("note", StringType)))
    assert(drifts.contains(Removed("name", StringType)))
    assert(drifts.contains(Widened("id", IntegerType, LongType)))
    assert(drifts.contains(Widened("score", FloatType, DoubleType)))

    val out = SchemaEvolution.ingest(existing, incoming)
      .orderBy(col("id"))
    assert(out.schema("id").dataType == LongType)
    assert(out.schema("score").dataType == DoubleType)
    assert(out.columns.toSeq == Seq("id", "name", "score", "note"))
    val rows = out.collect()
    assert(rows.length == 4)
    assert(rows(0).getString(1) == "a" && rows(0).isNullAt(3))
    assert(rows(2).isNullAt(1) && rows(2).getString(3) == "fresh")
    assert(rows(3).getDouble(2) == 8.0)
  }

  test("schema drift: decimal widening keeps integer digits AND scale") {
    import graft.etl.SchemaEvolution
    import graft.etl.SchemaEvolution.Widened
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    // DECIMAL(10,2) vs DECIMAL(8,6): max(p),max(s) would give (10,6)
    // with only 4 integer digits — 12345678.99 would null out on cast
    val drifts = SchemaEvolution.driftReport(
      StructType(Seq(StructField("v", DecimalType(10, 2)))),
      StructType(Seq(StructField("v", DecimalType(8, 6)))))
    assert(drifts == Seq(Widened("v", DecimalType(10, 2),
      DecimalType(14, 6))))
    val existing = spark.createDataFrame(
      java.util.List.of(Row(new java.math.BigDecimal("12345678.99"))),
      StructType(Seq(StructField("v", DecimalType(10, 2)))))
    val incoming = spark.createDataFrame(
      java.util.List.of(Row(new java.math.BigDecimal("1.234567"))),
      StructType(Seq(StructField("v", DecimalType(8, 6)))))
    val out = SchemaEvolution.ingest(existing, incoming)
      .orderBy(org.apache.spark.sql.functions.col("v"))
    assert(out.schema("v").dataType == DecimalType(14, 6))
    val vals = out.collect().map(_.getDecimal(0).toPlainString)
    assert(vals.toSeq == Seq("1.234567", "12345678.990000"),
      "no value may be nulled or truncated by the widened cast")
    // byte <-> short is a widening, not breaking
    assert(SchemaEvolution.driftReport(
      StructType(Seq(StructField("b", ByteType))),
      StructType(Seq(StructField("b", ShortType)))) ==
      Seq(Widened("b", ByteType, ShortType)))
  }

  test("schema drift: decimal widening past 38 digits is Breaking") {
    import graft.etl.SchemaEvolution
    import graft.etl.SchemaEvolution.Breaking
    import org.apache.spark.sql.types._
    // DECIMAL(38,0) vs DECIMAL(8,6) needs 38 integer digits + 6 scale
    // = 44 > 38: no lossless widened type exists. Capping precision
    // would null large existing values; reducing scale would truncate
    // incoming fractions — both silent corruption, so refuse.
    val drifts = SchemaEvolution.driftReport(
      StructType(Seq(StructField("v", DecimalType(38, 0)))),
      StructType(Seq(StructField("v", DecimalType(8, 6)))))
    assert(drifts == Seq(Breaking("v", DecimalType(38, 0),
      DecimalType(8, 6))))
    // and the boundary itself still widens: 32 int digits + 6 = 38
    assert(SchemaEvolution.driftReport(
      StructType(Seq(StructField("v", DecimalType(32, 0)))),
      StructType(Seq(StructField("v", DecimalType(8, 6))))) ==
      Seq(SchemaEvolution.Widened("v", DecimalType(32, 0),
        DecimalType(38, 6))))
  }

  test("schema drift: breaking type change refuses the ingest") {
    import spark.implicits._
    import graft.etl.SchemaEvolution
    val existing = Seq((1, "a")).toDF("id", "v")
    val incoming = Seq((2, 7L)).toDF("id", "v")  // string -> long: breaking
    val drifts = SchemaEvolution
      .driftReport(existing.schema, incoming.schema)
    assert(drifts.exists(_.isInstanceOf[SchemaEvolution.Breaking]))
    val e = intercept[IllegalArgumentException] {
      SchemaEvolution.ingest(existing, incoming).collect()
    }
    assert(e.getMessage.contains("breaking schema drift refused"))
  }
}
