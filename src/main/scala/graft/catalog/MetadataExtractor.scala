package graft.catalog

import org.apache.spark.sql.SparkSession

import graft.model._

/** Catalog introspection (SURVEY.md §2.1, §3.3): produces the reference's
  * metadata JSON shape (db_connector.py:155-167 — tables, columns with
  * type/nullable, PK/FK, relationship edges, constraints) from a Spark
  * source. O(tables), never O(rows) — at 100 TB this reads footers and
  * catalogs only.
  */
object MetadataExtractor {

  /** FK graph of the fixture layout (FIXTURES.md §B) — the parquet-dir
    * analog of SQLAlchemy FK introspection (db_connector.py:115-126).
    */
  val fixtureRelationships: Seq[Relationship] = Seq(
    Relationship("lineitem", "l_orderkey", "orders", "o_orderkey"),
    Relationship("lineitem", "l_partkey", "part", "p_partkey"),
    Relationship("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    Relationship("orders", "o_custkey", "customer", "c_custkey"),
    Relationship("customer", "c_nationkey", "nation", "n_nationkey"),
    Relationship("nation", "n_regionkey", "region", "r_regionkey"),
    Relationship("supplier", "s_nationkey", "nation", "n_nationkey"),
    Relationship("events", "user_id", "customer", "c_custkey"))

  private val fixturePks: Map[String, String] = Map(
    "region" -> "r_regionkey", "nation" -> "n_nationkey",
    "customer" -> "c_custkey", "supplier" -> "s_suppkey",
    "part" -> "p_partkey", "orders" -> "o_orderkey",
    "events" -> "event_id", "documents" -> "doc_id",
    "embeddings" -> "vec_id")

  /** Memoized per (application, dir, tables): catalog extraction is a
    * deploy-time step, not a per-query one — repeated gate/bench runs
    * (q85, q86, FunctionsSpec) should not re-read 10 parquet footers
    * each time. Keyed on appId so a fresh JVM re-extracts.
    */
  private val cache = scala.collection.concurrent.TrieMap
    .empty[(String, String, Seq[String]), CatalogModel]

  /** Extract a CatalogModel from a directory of parquet tables (schema
    * from footers; FK/PK from the fixture graph).
    */
  def fromParquetDir(spark: SparkSession, dir: String,
      tables: Seq[String] = graft.ops.Tables.names): CatalogModel =
    cache.getOrElseUpdate(
      (spark.sparkContext.applicationId, dir, tables),
      extract(spark, dir, tables))

  /** LIVE catalog walk over a JDBC connection — the engine-side
    * equivalent of the reference's SQLAlchemy inspector loop
    * (db_connector.py:90-176: table list, columns with type/nullable/
    * comment, PK constraint set, FK map, and "a.col → b.col"
    * relationship edges). Uses java.sql.DatabaseMetaData, so it works
    * against any JDBC database; integration-tested against embedded
    * Derby's system catalog (JdbcSpec). O(tables) catalog queries,
    * never O(rows).
    *
    * Identifiers are normalized to lower case (Derby/Oracle-style
    * catalogs report upper-cased unquoted identifiers; the reference's
    * PostgreSQL inspector reports lower).
    */
  def fromJdbc(conn: java.sql.Connection,
      schema: String = null): CatalogModel = {
    val md = conn.getMetaData
    def drain[A](rs: java.sql.ResultSet)(f: java.sql.ResultSet => A): Seq[A] =
      try {
        val b = Seq.newBuilder[A]
        while (rs.next()) b += f(rs)
        b.result()
      } finally rs.close()
    val tables = drain(md.getTables(null, schema, "%", Array("TABLE")))(
      _.getString("TABLE_NAME"))
    val rels = Seq.newBuilder[Relationship]
    val tableModels = tables.map { t =>
      val pks = drain(md.getPrimaryKeys(null, schema, t))(
        _.getString("COLUMN_NAME").toLowerCase).toSet
      val fks = drain(md.getImportedKeys(null, schema, t)) { r =>
        (r.getString("FKCOLUMN_NAME").toLowerCase,
          r.getString("PKTABLE_NAME").toLowerCase,
          r.getString("PKCOLUMN_NAME").toLowerCase)
      }
      fks.foreach { case (fc, pt, pc) =>
        rels += Relationship(t.toLowerCase, fc, pt, pc)
      }
      // the reference shape has ONE foreign_key slot per column
      // (db_connector.py:139); a column in several FK constraints keeps
      // the first edge in deterministic order here — the relationships
      // list above carries every edge
      val fkMap = fks.sorted.groupBy(_._1).map { case (fc, edges) =>
        fc -> { val (_, pt, pc) = edges.head; s"$pt.$pc" }
      }
      val cols = drain(md.getColumns(null, schema, t, "%")) { r =>
        val name = r.getString("COLUMN_NAME").toLowerCase
        ColumnModel(
          name = name,
          dataType = r.getString("TYPE_NAME"),
          nullable =
            r.getInt("NULLABLE") != java.sql.DatabaseMetaData.columnNoNulls,
          description = Option(r.getString("REMARKS")).getOrElse(""),
          primaryKey = pks.contains(name),
          foreignKey = fkMap.get(name))
      }
      TableModel(t.toLowerCase, s"jdbc table ${t.toLowerCase}", cols)
    }
    CatalogModel(
      dbType = md.getDatabaseProductName.toLowerCase,
      dbVersion = md.getDatabaseProductVersion,
      tables = tableModels,
      relationships = rels.result())
  }

  private def extract(spark: SparkSession, dir: String,
      tables: Seq[String]): CatalogModel = {
    val fkByTable = fixtureRelationships
      .groupBy(_.fromTable)
      .map { case (t, rs) =>
        t -> rs.map(r => r.fromColumn -> s"${r.toTable}.${r.toColumn}").toMap
      }
    val present = tables.filter { n =>
      new java.io.File(s"$dir/$n.parquet").exists()
    }
    // the session's memoized relations: no schema-inference job per table
    val rels = graft.ops.Tables(spark, dir)
    val tableModels = present.map { name =>
      val schema =
        if (name == "events") rels.events.schema
        else rels.table(name).schema
      TableModel(name, s"fixture table $name", schema.fields.toSeq.map { f =>
        ColumnModel(
          name = f.name,
          dataType = f.dataType.sql,
          nullable = f.nullable,
          primaryKey = fixturePks.get(name).contains(f.name),
          foreignKey = fkByTable.getOrElse(name, Map.empty).get(f.name))
      })
    }
    CatalogModel(
      dbType = "parquet",
      dbVersion = spark.version,
      tables = tableModels,
      relationships = fixtureRelationships.filter(r =>
        present.contains(r.fromTable) && present.contains(r.toTable)))
  }
}
