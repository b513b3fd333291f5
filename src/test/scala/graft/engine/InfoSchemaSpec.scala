package graft.engine

import graft.SparkSpec

/** WP3 — information_schema + catalog-qualified SHOW: the introspection
  * statements the trino SQLAlchemy dialect behind the reference's
  * Superset issues on dataset refresh (init_db.py:28-40) must answer
  * correctly-typed rows from the LIVE catalog. */
class InfoSchemaSpec extends SparkSpec {
  import spark.implicits._

  private def freshName(p: String) =
    p + java.util.UUID.randomUUID().toString.replace("-", "").take(8)

  test("the dialect's verbatim get_columns select answers typed rows from the live catalog") {
    val db = freshName("infodb_")
    spark.sql(s"CREATE DATABASE $db")
    spark.sql(s"CREATE TABLE $db.ev (id BIGINT, name STRING, " +
      "amount DOUBLE, ts TIMESTAMP) USING parquet")
    // the trino dialect's get_columns query, verbatim shape (quoted
    // identifiers arrive via TrinoSql requoting on the wire; here the
    // Spark-dialect spelling exercises the shim directly)
    val rows = Lakehouse.sql(spark,
      s"""SELECT column_name, data_type, column_default,
         |       UPPER(is_nullable) AS is_nullable
         |FROM information_schema.columns
         |WHERE table_schema = '$db' AND table_name = 'ev'
         |ORDER BY ordinal_position ASC""".stripMargin)
      .as[(String, String, String, String)].collect().toSeq
    // is_nullable reports the CATALOG's nullability (Spark's v1 parquet
    // catalog reads every column back nullable — a NOT NULL there would
    // be the shim inventing a constraint the engine does not enforce)
    assert(rows === Seq(
      ("id", "bigint", null, "YES"),
      ("name", "varchar", null, "YES"),
      ("amount", "double", null, "YES"),
      ("ts", "timestamp(3)", null, "YES")))
    // liveness: a column added AFTER the first introspection appears
    spark.sql(s"ALTER TABLE $db.ev ADD COLUMNS (extra INT)")
    val again = Lakehouse.sql(spark,
      "SELECT column_name FROM information_schema.columns " +
        s"WHERE table_schema = '$db' AND table_name = 'ev' " +
        "ORDER BY ordinal_position").as[String].collect().toSeq
    assert(again === Seq("id", "name", "amount", "ts", "extra"))
    spark.sql(s"DROP DATABASE $db CASCADE")
  }

  test("schemata and tables serve get_schema_names/get_table_names; views split by table_type") {
    val db = freshName("infodb_")
    spark.sql(s"CREATE DATABASE $db")
    spark.sql(s"CREATE TABLE $db.t1 (x INT) USING parquet")
    spark.sql(s"CREATE VIEW $db.v1 AS SELECT x FROM $db.t1")
    val schemas = Lakehouse.sql(spark,
      "SELECT schema_name FROM information_schema.schemata")
      .as[String].collect().toSeq
    assert(schemas.contains(db) && schemas.contains("default"))
    val tables = Lakehouse.sql(spark,
      "SELECT table_name FROM information_schema.tables " +
        s"WHERE table_schema = '$db' AND table_type = 'BASE TABLE'")
      .as[String].collect().toSeq
    assert(tables === Seq("t1"))
    val views = Lakehouse.sql(spark,
      "SELECT table_name FROM information_schema.tables " +
        s"WHERE table_schema = '$db' AND table_type = 'VIEW'")
      .as[String].collect().toSeq
    assert(views === Seq("v1"))
    // temp views are NOT catalog objects (Trino's contract) — the shim's
    // own registrations must never list themselves
    val all = Lakehouse.sql(spark,
      "SELECT table_name FROM information_schema.tables")
      .as[String].collect().toSeq
    assert(!all.exists(_.startsWith("__info_schema")))
    spark.sql(s"DROP DATABASE $db CASCADE")
  }

  test("SHOW SCHEMAS/TABLES/COLUMNS FROM catalog lower through TrinoSql with Trino's column names") {
    val db = freshName("infodb_")
    spark.sql(s"CREATE DATABASE $db")
    spark.sql(s"CREATE TABLE $db.orders (o_id BIGINT, o_total DOUBLE) USING parquet")
    val schemasDf = Lakehouse.sql(spark, TrinoSql.toSpark("SHOW SCHEMAS FROM iceberg"))
    assert(schemasDf.columns.toSeq === Seq("Schema"))
    assert(schemasDf.as[String].collect().contains(db))
    val tablesDf = Lakehouse.sql(spark,
      TrinoSql.toSpark(s"SHOW TABLES FROM iceberg.$db"))
    assert(tablesDf.columns.toSeq === Seq("Table"))
    assert(tablesDf.as[String].collect().toSeq === Seq("orders"))
    val colsDf = Lakehouse.sql(spark,
      TrinoSql.toSpark(s"SHOW COLUMNS FROM iceberg.$db.orders"))
    assert(colsDf.columns.toSeq === Seq("Column", "Type", "Extra", "Comment"))
    assert(colsDf.collect().map(r => (r.getString(0), r.getString(1))).toSeq
      === Seq(("o_id", "bigint"), ("o_total", "double")))
    // DESCRIBE / DESC are Trino's SHOW COLUMNS aliases
    val desc = Lakehouse.sql(spark, TrinoSql.toSpark(s"DESCRIBE $db.orders"))
    assert(desc.columns.toSeq === Seq("Column", "Type", "Extra", "Comment"))
    assert(desc.count() === 2L)
    // LIKE filters; unknown catalog refuses like Trino's NOT_FOUND
    val liked = Lakehouse.sql(spark,
      TrinoSql.toSpark(s"SHOW TABLES FROM $db LIKE 'ord%'"))
      .as[String].collect().toSeq
    assert(liked === Seq("orders"))
    val e = intercept[IllegalArgumentException] {
      TrinoSql.toSpark("SHOW SCHEMAS FROM nope")
    }
    assert(e.getMessage.contains("catalog not found"))
    spark.sql(s"DROP DATABASE $db CASCADE")
  }

  test("the dialect's get_columns shape scopes the refresh to ONE table; anything ambiguous walks fully") {
    val db = freshName("infodb_")
    spark.sql(s"CREATE DATABASE $db")
    spark.sql(s"CREATE TABLE $db.one (a INT) USING parquet")
    spark.sql(s"CREATE TABLE $db.two (b INT) USING parquet")
    // the dialect's exact shape: conjunction of both equality literals
    // → the refresh resolves exactly ONE table's schema, not the whole
    // catalog (the walk that would hurt at 10⁴ tables)
    val got = Lakehouse.sql(spark,
      s"""SELECT column_name FROM information_schema.columns
         |WHERE table_schema = '$db' AND table_name = 'one'""".stripMargin)
      .as[String].collect().toSeq
    assert(got === Seq("a"))
    assert(InfoSchema.lastColumnsWalk === 1,
      s"dialect shape must scope to one table, walked ${InfoSchema.lastColumnsWalk}")
    // an OR makes equality literals non-conjunctive → FULL walk, and
    // the result still carries rows outside any single scope
    val both = Lakehouse.sql(spark,
      s"""SELECT column_name FROM information_schema.columns
         |WHERE table_schema = '$db' AND
         |      (table_name = 'one' OR table_name = 'two')
         |ORDER BY column_name""".stripMargin).as[String].collect().toSeq
    assert(both === Seq("a", "b"))
    assert(InfoSchema.lastColumnsWalk > 1, "OR must disable scoping")
    // a QUALIFIED column could name another join relation → no scope
    spark.sql(s"CREATE TABLE $db.x (n STRING, table_name STRING) USING parquet")
    spark.sql(s"INSERT INTO $db.x VALUES ('one', 'o')")
    val joined = Lakehouse.sql(spark,
      s"""SELECT c.column_name FROM information_schema.columns c
         |JOIN $db.x x ON c.table_name = x.n
         |WHERE x.table_name = 'o' AND c.table_schema = '$db'""".stripMargin)
      .as[String].collect().toSeq
    assert(joined === Seq("a"))
    assert(InfoSchema.lastColumnsWalk > 1,
      "a join-side qualified column must not scope the walk")
    // a longer identifier is not the scoping column
    val longer = Lakehouse.sql(spark,
      s"""SELECT column_name FROM (SELECT *, table_name AS my_table_name
         |  FROM information_schema.columns)
         |WHERE my_table_name = 'one' AND table_schema = '$db'""".stripMargin)
      .as[String].collect().toSeq
    assert(longer === Seq("a"))
    assert(InfoSchema.lastColumnsWalk > 1,
      "my_table_name must not scope the walk")
    spark.sql(s"DROP DATABASE $db CASCADE")
  }

  test("a UNION ALL branch over another information_schema relation " +
      "disables scoping — the columns branch keeps ALL its rows") {
    val db = freshName("infodb_")
    spark.sql(s"CREATE DATABASE $db")
    spark.sql(s"CREATE TABLE $db.one (a INT) USING parquet")
    spark.sql(s"CREATE TABLE $db.two (b INT) USING parquet")
    // the round-17 advisor's trap: the tables-branch predicate
    // (table_name = 'one') must NOT scope the columns branch — under
    // the old anywhere-in-statement extraction the columns side would
    // silently list only table `one`'s columns
    val got = Lakehouse.sql(spark,
      s"""SELECT table_name AS n FROM information_schema.tables
         |WHERE table_schema = '$db' AND table_name = 'one'
         |UNION ALL
         |SELECT column_name AS n FROM information_schema.columns
         |WHERE table_schema = '$db'
         |ORDER BY n""".stripMargin).as[String].collect().toSeq
    assert(got === Seq("a", "b", "one"),
      "both tables' columns survive the foreign branch's predicate")
    assert(InfoSchema.lastColumnsWalk > 1,
      "a multi-reference statement must walk fully, never scope")
    spark.sql(s"DROP DATABASE $db CASCADE")
  }

  test("catalog-qualified information_schema serves for iceberg/" +
      "spark_catalog and refuses other qualifiers with the catalog message") {
    val db = freshName("infodb_")
    spark.sql(s"CREATE DATABASE $db")
    spark.sql(s"CREATE TABLE $db.ev (id BIGINT) USING parquet")
    // both served catalog aliases strip (round-17 verdict #1: this
    // spelling used to die in Spark resolution as an unknown table)
    Seq("iceberg", "spark_catalog").foreach { c =>
      val got = Lakehouse.sql(spark,
        s"""SELECT column_name FROM $c.information_schema.columns
           |WHERE table_schema = '$db' AND table_name = 'ev'""".stripMargin)
        .as[String].collect().toSeq
      assert(got === Seq("id"), s"catalog leg $c must serve")
    }
    val e = intercept[IllegalArgumentException] {
      Lakehouse.sql(spark,
        "SELECT * FROM wrongcat.information_schema.columns")
    }
    assert(e.getMessage.contains("catalog not found: wrongcat"))
    spark.sql(s"DROP DATABASE $db CASCADE")
  }

  test("views expose their stored SQL body as view_definition " +
      "(the dialect's get_view_definition)") {
    val db = freshName("infodb_")
    spark.sql(s"CREATE DATABASE $db")
    spark.sql(s"CREATE TABLE $db.base (id BIGINT, v STRING) USING parquet")
    Lakehouse.createView(spark, s"$db.big_ids",
      s"SELECT id FROM $db.base WHERE id > 100")
    val defn = Lakehouse.sql(spark,
      s"""SELECT view_definition FROM information_schema.views
         |WHERE table_schema = '$db' AND table_name = 'big_ids'""".stripMargin)
      .as[String].collect().toSeq
    assert(defn.size === 1)
    assert(defn.head != null && defn.head.contains("id > 100"),
      s"view_definition must carry the stored body, got: ${defn.head}")
    // base tables keep listing without view rows interfering
    val tbls = Lakehouse.sql(spark,
      s"""SELECT table_name, table_type FROM information_schema.tables
         |WHERE table_schema = '$db' ORDER BY table_name""".stripMargin)
      .as[(String, String)].collect().toSeq
    assert(tbls === Seq(("base", "BASE TABLE"), ("big_ids", "VIEW")))
    spark.sql(s"DROP DATABASE $db CASCADE")
  }

  test("unserved relations refuse loudly; references inside literals are data") {
    val e = intercept[IllegalArgumentException] {
      Lakehouse.sql(spark, "SELECT * FROM information_schema.parameters")
    }
    assert(e.getMessage.contains("not served"))
    val lit = "SELECT 'see information_schema.columns' AS s"
    assert(Lakehouse.sql(spark, lit).collect().head.getString(0) ===
      "see information_schema.columns")
    // a longer identifier containing the name is NOT a reference: it
    // reaches Spark's own resolution as the unknown table it is
    val other = intercept[org.apache.spark.sql.AnalysisException] {
      Lakehouse.sql(spark, "SELECT * FROM my_information_schema.columns")
    }
    assert(other.getMessage.contains("my_information_schema"))
  }
}
