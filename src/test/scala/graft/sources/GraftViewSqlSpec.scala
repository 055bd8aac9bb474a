package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** SQL view DDL + reads routed to the v2 [[graft.sources.dsv2.GraftCatalog]]
  * (vanilla Spark 4.1 throws MISSING_CATALOG_ABILITY for all of it):
  * the parse-time rewrite ([[graft.sql.GraftViewSqlParser]]) plus the
  * read-side substitution rule ([[graft.sql.GraftViewSubstitution]]). */
class GraftViewSqlSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.vw", "graft.sources.dsv2.GraftCatalog")
    s.conf.set("spark.sql.catalog.vw.root",
      graft.core.Fixtures.tempDir("graft-viewsql").toString)
    s.sql("CREATE NAMESPACE IF NOT EXISTS vw.ns")
    s.sql("CREATE TABLE vw.ns.t (k BIGINT, v BIGINT)")
    s.sql("INSERT INTO vw.ns.t VALUES (1, 10), (2, 20), (3, 30)")
    s
  }

  private def sql(q: String) = spark.sql(q)

  test("CREATE VIEW / SELECT / DROP lifecycle") {
    sql("CREATE VIEW vw.ns.doubled AS SELECT k, v * 2 AS v2 FROM vw.ns.t")
    assert(sql("SELECT k, v2 FROM vw.ns.doubled ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 20L), (2L, 40L), (3L, 60L)))
    // the view file persists; a fresh catalog instance still serves it
    spark.catalog.clearCache()
    assert(sql("SELECT count(*) FROM vw.ns.doubled").head.getLong(0) == 3L)
    // duplicate create refused; IF NOT EXISTS tolerated; REPLACE replaces
    intercept[Exception] {
      sql("CREATE VIEW vw.ns.doubled AS SELECT 1 AS one") }
    sql("CREATE VIEW IF NOT EXISTS vw.ns.doubled AS SELECT 1 AS one")
    assert(sql("SELECT count(*) FROM vw.ns.doubled").head.getLong(0) == 3L)
    sql("""CREATE OR REPLACE VIEW vw.ns.doubled AS
          |SELECT k, v * 3 AS v2 FROM vw.ns.t WHERE k <= 2""".stripMargin)
    assert(sql("SELECT sum(v2) FROM vw.ns.doubled").head.getLong(0) == 90L)
    sql("DROP VIEW vw.ns.doubled")
    intercept[Exception] { sql("SELECT * FROM vw.ns.doubled") }
    sql("DROP VIEW IF EXISTS vw.ns.doubled") // no-op, no throw
    intercept[Exception] { sql("DROP VIEW vw.ns.doubled") }
  }

  test("column aliases and comments via the view column list") {
    sql("""CREATE VIEW vw.ns.named (key COMMENT 'pk', double_v) AS
          |SELECT k, v * 2 FROM vw.ns.t""".stripMargin)
    val df = sql("SELECT key, double_v FROM vw.ns.named ORDER BY key")
    assert(df.columns.toSeq == Seq("key", "double_v"))
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 20L), (2L, 40L), (3L, 60L)))
    sql("DROP VIEW vw.ns.named")
  }

  test("nested views expand across iterations; self-reference is refused") {
    sql("CREATE VIEW vw.ns.base AS SELECT k, v FROM vw.ns.t WHERE k >= 2")
    sql("CREATE VIEW vw.ns.outer AS SELECT sum(v) AS s FROM vw.ns.base")
    assert(sql("SELECT s FROM vw.ns.outer").head.getLong(0) == 50L)
    // REPLACE base with a body referencing itself: creation analyzes
    // against the OLD definition (fine), the read then hits the cycle
    sql("CREATE OR REPLACE VIEW vw.ns.base AS SELECT k, v FROM vw.ns.base")
    val e = intercept[Exception] { sql("SELECT * FROM vw.ns.base").collect() }
    assert(e.getMessage.contains("RECURSIVE_VIEW") ||
      e.getMessage.toLowerCase.contains("recursive"), e.getMessage)
    sql("DROP VIEW vw.ns.outer"); sql("DROP VIEW vw.ns.base")
  }

  test("ALTER VIEW AS rewrites an existing view, refuses a missing one") {
    sql("CREATE VIEW vw.ns.av AS SELECT k FROM vw.ns.t")
    sql("ALTER VIEW vw.ns.av AS SELECT k, v FROM vw.ns.t WHERE k = 1")
    val rows = sql("SELECT k, v FROM vw.ns.av").collect()
    assert(rows.length == 1 && rows.head.getLong(1) == 10L)
    intercept[Exception] {
      sql("ALTER VIEW vw.ns.nope AS SELECT 1 AS one") }
    sql("DROP VIEW vw.ns.av")
  }

  test("ALTER VIEW AS preserves properties and comment (replaces only the query)") {
    sql("""CREATE VIEW vw.ns.props
          |COMMENT 'kept across alter'
          |TBLPROPERTIES ('owner'='etl', 'tier'='gold')
          |AS SELECT k FROM vw.ns.t""".stripMargin)
    sql("ALTER VIEW vw.ns.props AS SELECT k, v FROM vw.ns.t WHERE k <= 2")
    // query replaced…
    assert(sql("SELECT count(*) FROM vw.ns.props").head.getLong(0) == 2L)
    // …but properties and comment carried forward (Spark's ALTER VIEW AS
    // semantics), and the replace is one atomic publish, not drop+create
    import org.apache.spark.sql.connector.catalog.{Identifier, ViewCatalog}
    val cat = spark.sessionState.catalogManager.catalog("vw")
      .asInstanceOf[ViewCatalog]
    val view = cat.loadView(Identifier.of(Array("ns"), "props"))
    assert(view.properties.get("owner") == "etl", view.properties.toString)
    assert(view.properties.get("tier") == "gold")
    assert(view.properties.get(ViewCatalog.PROP_COMMENT) == "kept across alter")
    sql("DROP VIEW vw.ns.props")
  }

  test("explicitly-qualified other-catalog view DDL is not hijacked under USE") {
    // while the CURRENT catalog is the graft one, a statement fully
    // qualified with another registered catalog must reach that catalog
    // — not be swallowed as namespace ['spark_catalog','default'] here
    val prev = spark.catalog.currentCatalog()
    try {
      sql("USE vw")
      sql("CREATE OR REPLACE VIEW spark_catalog.default.hj AS SELECT 7 AS x")
      assert(sql("SELECT x FROM spark_catalog.default.hj").head.getInt(0) == 7)
      // nothing leaked into the graft catalog's file tree
      val root = spark.conf.get("spark.sql.catalog.vw.root")
      def walk(d: java.io.File): Seq[java.io.File] =
        Option(d.listFiles()).toSeq.flatten.flatMap(f =>
          if (f.isDirectory) walk(f) else Seq(f))
      assert(!walk(new java.io.File(root))
        .exists(_.getName.contains("hj")), "view file hijacked into graft root")
      sql("DROP VIEW spark_catalog.default.hj")
    } finally sql(s"USE $prev")
  }

  test("SHOW VIEWS lists the namespace's persisted views") {
    sql("CREATE VIEW vw.ns.sv1 AS SELECT 1 AS one")
    sql("CREATE VIEW vw.ns.sv2 AS SELECT 2 AS two")
    val names = sql("SHOW VIEWS IN vw.ns").collect().map(_.getString(1)).toSeq
    assert(names.contains("sv1") && names.contains("sv2"), names)
    val filtered = sql("SHOW VIEWS IN vw.ns LIKE 'sv1'").collect()
      .map(_.getString(1)).toSeq
    assert(filtered == Seq("sv1"))
    sql("DROP VIEW vw.ns.sv1"); sql("DROP VIEW vw.ns.sv2")
  }

  test("creation-time context: bare table names re-qualify on read") {
    // view created while the CURRENT catalog is the graft catalog, with
    // a bare 2-part body reference — reading it later from a different
    // current catalog must still hit the same table
    val prev = spark.catalog.currentCatalog()
    try {
      sql("USE vw")
      sql("CREATE VIEW ns.ctx AS SELECT sum(v) AS s FROM ns.t")
      assert(sql("SELECT s FROM ns.ctx").head.getLong(0) == 60L)
    } finally sql(s"USE $prev")
    assert(spark.catalog.currentCatalog() == prev)
    assert(sql("SELECT s FROM vw.ns.ctx").head.getLong(0) == 60L)
    sql("DROP VIEW vw.ns.ctx")
  }

  test("temp views and session-catalog views are untouched") {
    spark.range(4).createOrReplaceTempView("plain_temp")
    assert(sql("SELECT count(*) FROM plain_temp").head.getLong(0) == 4L)
    sql("CREATE OR REPLACE TEMP VIEW t_over AS SELECT 42 AS x")
    assert(sql("SELECT x FROM t_over").head.getInt(0) == 42)
    sql("DROP VIEW t_over")
  }
}
