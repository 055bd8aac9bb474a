package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The named-table face of the connector: a DSv2 TableCatalog over a
  * directory tree, driving the FULL SQL surface — DDL, partitioned
  * INSERT (clustered+sorted v2 write), SELECT with pruning, metadata
  * DELETE, rename/drop. */
class GraftCatalogSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.wh", "graft.sources.dsv2.GraftCatalog")
    s.conf.set("spark.sql.catalog.wh.root",
      graft.core.Fixtures.tempDir("graft-catalog").toString)
    s
  }

  private def sql(q: String) = spark.sql(q)

  test("CREATE / INSERT / SELECT round-trip on a partitioned table") {
    sql("CREATE NAMESPACE IF NOT EXISTS wh.corpus")
    sql("""CREATE TABLE wh.corpus.docs
          |  (doc_id BIGINT, lang STRING, n_chars BIGINT)
          |  PARTITIONED BY (lang)""".stripMargin)
    sql("""INSERT INTO wh.corpus.docs VALUES
          |  (1, 'en', 10), (2, 'en', 20), (3, 'de', 5),
          |  (4, 'fr', 7), (5, NULL, 9)""".stripMargin)
    assert(sql("SELECT COUNT(*) FROM wh.corpus.docs").head.getLong(0) == 5L)
    // hive layout on disk: one dir per lang, partition col not in JSON
    val root = spark.conf.get("spark.sql.catalog.wh.root")
    val dirs = new java.io.File(s"$root/corpus/docs").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq ==
      Seq("lang=__HIVE_DEFAULT_PARTITION__", "lang=de", "lang=en", "lang=fr"))
    // values injected back from dirs (incl. the null partition)
    val back = sql(
      "SELECT doc_id, lang FROM wh.corpus.docs ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
    assert(back.toSeq == Seq((1L, "en"), (2L, "en"), (3L, "de"),
      (4L, "fr"), (5L, null)))
    // partition pruning reaches the scan
    val plan = sql("SELECT n_chars FROM wh.corpus.docs WHERE lang = 'en'")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"))
  }

  test("INSERT appends; INSERT OVERWRITE replaces touched partitions only") {
    sql("CREATE NAMESPACE IF NOT EXISTS wh.tmp")
    sql("CREATE TABLE wh.tmp.t (k BIGINT, v STRING) PARTITIONED BY (v)")
    sql("INSERT INTO wh.tmp.t VALUES (1, 'a')")
    sql("INSERT INTO wh.tmp.t VALUES (2, 'a'), (3, 'b')")
    assert(sql("SELECT COUNT(*) FROM wh.tmp.t").head.getLong(0) == 3L)
    // session partitionOverwriteMode=dynamic: only partition 'a' is
    // replaced, 'b' stays byte-identical — the S8 partition-swap sink
    // through pure SQL
    sql("INSERT OVERWRITE wh.tmp.t VALUES (9, 'a')")
    assert(sql("SELECT k, v FROM wh.tmp.t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((3L, "b"), (9L, "a")))
    sql("DROP TABLE wh.tmp.t")
  }

  test("static INSERT OVERWRITE PARTITION replaces the named partition") {
    sql("CREATE NAMESPACE IF NOT EXISTS wh.tmp")
    sql("CREATE TABLE wh.tmp.st (k BIGINT, v STRING) PARTITIONED BY (v)")
    sql("INSERT INTO wh.tmp.st VALUES (1, 'a'), (2, 'b')")
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try sql("INSERT OVERWRITE wh.tmp.st PARTITION (v = 'a') VALUES (7)")
    finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    assert(sql("SELECT k, v FROM wh.tmp.st ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((2L, "b"), (7L, "a")))
    sql("DROP TABLE wh.tmp.st")
  }

  test("unpartitioned INSERT OVERWRITE truncates") {
    sql("CREATE NAMESPACE IF NOT EXISTS wh.tmp")
    sql("CREATE TABLE wh.tmp.flat (k BIGINT)")
    sql("INSERT INTO wh.tmp.flat VALUES (1), (2)")
    sql("INSERT OVERWRITE wh.tmp.flat VALUES (7)")
    assert(sql("SELECT k FROM wh.tmp.flat").collect()
      .map(_.getLong(0)).toSeq == Seq(7L))
    sql("DROP TABLE wh.tmp.flat")
  }

  test("DELETE on a partition predicate drops directories; finer predicates rewrite") {
    sql("CREATE NAMESPACE IF NOT EXISTS wh.del")
    sql("CREATE TABLE wh.del.t (k BIGINT, lang STRING) PARTITIONED BY (lang)")
    sql("INSERT INTO wh.del.t VALUES (1,'en'), (2,'en'), (3,'de'), (4,'fr')")
    sql("DELETE FROM wh.del.t WHERE lang = 'en'")
    assert(sql("SELECT lang FROM wh.del.t ORDER BY lang").collect()
      .map(_.getString(0)).toSeq == Seq("de", "fr"))
    // the partition value vanished from the layout entirely
    val root = spark.conf.get("spark.sql.catalog.wh.root")
    assert(!new java.io.File(s"$root/del/t/lang=en").exists())
    // a row-level predicate takes the copy-on-write rewrite (round 8:
    // SupportsRowLevelOperations) — previously refused
    sql("DELETE FROM wh.del.t WHERE k = 3")
    assert(sql("SELECT k FROM wh.del.t ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(4L))
    // IN predicates are decidable per-dir
    sql("DELETE FROM wh.del.t WHERE lang IN ('de', 'fr')")
    assert(sql("SELECT COUNT(*) FROM wh.del.t").head.getLong(0) == 0L)
    sql("DROP TABLE wh.del.t")
  }

  test("unconditional DELETE FROM empties the table but keeps it usable") {
    sql("CREATE NAMESPACE IF NOT EXISTS wh.del")
    sql("CREATE TABLE wh.del.all (k BIGINT, lang STRING) PARTITIONED BY (lang)")
    sql("INSERT INTO wh.del.all VALUES (1,'en'), (2,'de'), (3,'fr')")
    // no WHERE → AlwaysTrue → metadata-only full drop, NOT an
    // unsupported-delete error
    sql("DELETE FROM wh.del.all")
    assert(sql("SELECT COUNT(*) FROM wh.del.all").head.getLong(0) == 0L)
    // table metadata survived; inserts still land
    sql("INSERT INTO wh.del.all VALUES (9,'en')")
    assert(sql("SELECT k FROM wh.del.all").collect().map(_.getLong(0)).toSeq
      == Seq(9L))
    sql("DROP TABLE wh.del.all")
  }

  test("static OVERWRITE PARTITION refuses when a shard doesn't pin the column") {
    sql("CREATE NAMESPACE IF NOT EXISTS wh.tmp")
    sql("CREATE TABLE wh.tmp.mx (k BIGINT, v STRING) PARTITIONED BY (v)")
    sql("INSERT INTO wh.tmp.mx VALUES (1, 'a'), (2, 'b')")
    // an externally-landed root shard carries its v values only in the
    // JSON lines — the directory-level overwrite cannot see them
    val root = spark.conf.get("spark.sql.catalog.wh.root")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/tmp/mx/extra.jsonl"),
      "{\"k\":5,\"v\":\"a\"}\n".getBytes("UTF-8"))
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    val e = try intercept[Exception](
      sql("INSERT OVERWRITE wh.tmp.mx PARTITION (v = 'a') VALUES (7)"))
    finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("outside the partition layout")))
    // nothing was half-deleted: both original rows AND the root shard
    // row still read back
    assert(sql("SELECT COUNT(*) FROM wh.tmp.mx").head.getLong(0) == 3L)
    sql("DROP TABLE wh.tmp.mx")
  }

  test("CALL system.compact bounds shard counts without phantom namespaces") {
    sql("CREATE NAMESPACE IF NOT EXISTS wh.cpt")
    sql("CREATE TABLE wh.cpt.t (k BIGINT, lang STRING) PARTITIONED BY (lang)")
    (1 to 6).foreach(i => sql(s"INSERT INTO wh.cpt.t VALUES ($i, 'en')"))
    val root = spark.conf.get("spark.sql.catalog.wh.root")
    val dir = new java.io.File(s"$root/cpt/t/lang=en")
    assert(dir.listFiles().count(_.getName.endsWith(".jsonl.gz")) == 6)
    val out = sql("CALL wh.system.compact('cpt.t', max_shards => 2)").collect()
    assert(out.nonEmpty)
    assert(dir.listFiles().count(_.getName.endsWith(".jsonl.gz")) == 1)
    assert(sql("SELECT sum(k) FROM wh.cpt.t").head.getLong(0) == 21L)
    // staging/trash never surface as namespaces (they live INSIDE the
    // table dir now) — and none are left behind after a clean run
    val nss = sql("SHOW NAMESPACES IN wh.cpt").collect().map(_.getString(0))
    assert(nss.isEmpty)
    assert(!new java.io.File(s"$root/cpt/t/_compact_staging").exists())
    assert(!new java.io.File(s"$root/cpt/t/_compact_trash").exists())
    // a crashed run's leftovers still refuse the next compaction, and
    // STILL don't pollute the namespace listing
    new java.io.File(s"$root/cpt/t/_compact_trash/lang=en").mkdirs()
    val e = intercept[Exception](sql("CALL wh.system.compact('cpt.t')"))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("crashed")))
    assert(sql("SHOW NAMESPACES IN wh.cpt").collect().isEmpty)
    sql("DROP TABLE wh.cpt.t")
  }

  test("ALTER TABLE ADD COLUMN: old shards read null, new writes carry it") {
    sql("CREATE NAMESPACE IF NOT EXISTS wh.evo")
    sql("CREATE TABLE wh.evo.t (k BIGINT, lang STRING) PARTITIONED BY (lang)")
    sql("INSERT INTO wh.evo.t VALUES (1, 'en'), (2, 'de')")
    sql("ALTER TABLE wh.evo.t ADD COLUMN score DOUBLE COMMENT 'quality'")
    // generation-1 shards surface null for the new column
    val gen1 = sql("SELECT k, score FROM wh.evo.t ORDER BY k").collect()
    assert(gen1.map(r => (r.getLong(0), r.isNullAt(1))).toSeq ==
      Seq((1L, true), (2L, true)))
    sql("INSERT INTO wh.evo.t VALUES (3, 'fr', 0.5)")
    val both = sql(
      "SELECT k, score FROM wh.evo.t ORDER BY k").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1.0 else r.getDouble(1)))
    assert(both.toSeq == Seq((1L, -1.0), (2L, -1.0), (3L, 0.5)))
    // metadata durability: a fresh loadTable sees the evolved schema
    assert(sql("DESCRIBE wh.evo.t").collect()
      .exists(r => r.getString(0) == "score" && r.getString(1) == "double"))
    // comment + relax-nullability are metadata-only and accepted
    sql("ALTER TABLE wh.evo.t ALTER COLUMN score COMMENT 'updated'")
    // refused surface: non-widening type changes and NOT NULL tightening
    val e1 = intercept[Exception](
      sql("ALTER TABLE wh.evo.t ALTER COLUMN score TYPE STRING"))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e1).exists(m => m.contains("WIDENING") ||
      m.contains("NOT_SUPPORTED_CHANGE_COLUMN")))
    // Spark's analyzer refuses the tightening before it reaches the
    // catalog (the catalog-side guard stays as defense-in-depth)
    val e2 = intercept[Exception](
      sql("ALTER TABLE wh.evo.t ALTER COLUMN score SET NOT NULL"))
    assert(msgs(e2).exists(_.contains("non-nullable")))
    sql("DROP TABLE wh.evo.t")
  }

  test("ALTER TABLE RENAME COLUMN: metadata-only, old shards answer under the new name") {
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    sql("CREATE NAMESPACE IF NOT EXISTS wh.rn")
    sql("""CREATE TABLE wh.rn.t (k BIGINT, score DOUBLE, lang STRING)
          |PARTITIONED BY (lang)
          |TBLPROPERTIES ('graft.skip.columns'='score')""".stripMargin)
    sql("INSERT INTO wh.rn.t VALUES (1, 0.5, 'en'), (2, 0.9, 'en')")
    val root = spark.conf.get("spark.sql.catalog.wh.root")
    val gen1Bytes = {
      val d = new java.io.File(s"$root/rn/t/lang=en")
      d.listFiles().filter(_.getName.endsWith(".jsonl.gz")).map(_.length).sum
    }
    sql("ALTER TABLE wh.rn.t RENAME COLUMN score TO quality")
    // zero data rewrite: the generation-1 shards are byte-identical
    val gen1After = {
      val d = new java.io.File(s"$root/rn/t/lang=en")
      d.listFiles().filter(_.getName.endsWith(".jsonl.gz")).map(_.length).sum
    }
    assert(gen1After == gen1Bytes, "rename must not rewrite data")
    // old shards (old JSON key) answer under the NEW name — select,
    // filter, aggregate
    assert(sql("SELECT k, quality FROM wh.rn.t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 0.5), (2L, 0.9)))
    assert(sql("SELECT k FROM wh.rn.t WHERE quality > 0.7").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
    // generation-2 shards write the new key; both generations answer
    sql("INSERT INTO wh.rn.t VALUES (3, 0.1, 'en')")
    assert(sql("SELECT SUM(CAST(quality * 10 AS BIGINT)) FROM wh.rn.t")
      .head.getLong(0) == 15L)
    // chained rename: both former keys alias
    sql("ALTER TABLE wh.rn.t RENAME COLUMN quality TO q2")
    assert(sql("SELECT k FROM wh.rn.t WHERE q2 <= 0.5 ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 3L))
    // durability: a fresh session sees the rename map (schema json)
    assert(sql("DESCRIBE wh.rn.t").collect()
      .exists(r => r.getString(0) == "q2"))
    // a MOR/COW rewrite converges old shards to the new key
    sql("DELETE FROM wh.rn.t WHERE k = 2")
    assert(sql("SELECT k FROM wh.rn.t WHERE q2 IS NOT NULL ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    // partition columns rename metadata-only too (round 14): old
    // `lang=` dirs answer under the new name — full lifecycle in the
    // dedicated partition-rename tests below
    sql("ALTER TABLE wh.rn.t RENAME COLUMN lang TO language")
    assert(sql("SELECT k FROM wh.rn.t WHERE language = 'en' ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    // DROP COLUMN of the twice-renamed field tombstones its key AND
    // both aliases (see the DROP COLUMN lifecycle test)
    sql("ALTER TABLE wh.rn.t DROP COLUMN q2")
    assert(!sql("SELECT * FROM wh.rn.t").columns.contains("q2"))
    sql("DROP TABLE wh.rn.t")
  }

  test("SHOW PARTITIONS / ADD PARTITION / DROP PARTITION are directory ops") {
    sql("CREATE NAMESPACE IF NOT EXISTS wh.pm")
    sql("CREATE TABLE wh.pm.t (k BIGINT, lang STRING) PARTITIONED BY (lang)")
    sql("INSERT INTO wh.pm.t VALUES (1, 'en'), (2, 'de')")
    def parts() = sql("SHOW PARTITIONS wh.pm.t").collect()
      .map(_.getString(0)).sorted.toSeq
    assert(parts() == Seq("lang=de", "lang=en"))
    // ADD PARTITION: an empty dir, visible to SHOW, readable as 0 rows
    sql("ALTER TABLE wh.pm.t ADD PARTITION (lang = 'fr')")
    assert(parts() == Seq("lang=de", "lang=en", "lang=fr"))
    assert(sql("SELECT COUNT(*) FROM wh.pm.t WHERE lang='fr'")
      .head.getLong(0) == 0L)
    val root = spark.conf.get("spark.sql.catalog.wh.root")
    assert(new java.io.File(s"$root/pm/t/lang=fr").isDirectory)
    // idempotence surface: IF NOT EXISTS passes, a bare re-ADD refuses
    sql("ALTER TABLE wh.pm.t ADD IF NOT EXISTS PARTITION (lang = 'fr')")
    intercept[Exception](sql("ALTER TABLE wh.pm.t ADD PARTITION (lang = 'fr')"))
    // DROP PARTITION removes the dir AND its rows
    sql("ALTER TABLE wh.pm.t DROP PARTITION (lang = 'de')")
    assert(parts() == Seq("lang=en", "lang=fr"))
    assert(sql("SELECT COUNT(*) FROM wh.pm.t").head.getLong(0) == 1L)
    assert(!new java.io.File(s"$root/pm/t/lang=de").exists())
    sql("DROP TABLE wh.pm.t")
  }

  test("a metadata DELETE or a row-level rewrite prunes only the dirs it emptied") {
    sql("CREATE NAMESPACE IF NOT EXISTS wh.pk")
    def parts(t: String) = sql(s"SHOW PARTITIONS wh.pk.$t").collect()
      .map(_.getString(0)).sorted.toSeq
    for (t <- Seq("d", "u")) {
      sql(s"CREATE TABLE wh.pk.$t (k BIGINT, p STRING) PARTITIONED BY (p)")
      sql(s"INSERT INTO wh.pk.$t VALUES (1, 'a'), (2, 'b')")
      sql(s"ALTER TABLE wh.pk.$t ADD PARTITION (p = 'z')")
      assert(parts(t) == Seq("p=a", "p=b", "p=z"))
    }
    // metadata DELETE: p=a's dir goes with its shards, the empty p=z stays
    sql("DELETE FROM wh.pk.d WHERE p = 'a'")
    assert(parts("d") == Seq("p=b", "p=z"))
    // copy-on-write UPDATE: p=a is rewritten in place, p=z stays
    sql("UPDATE wh.pk.u SET k = 10 WHERE k = 1")
    assert(parts("u") == Seq("p=a", "p=b", "p=z"))
    // copy-on-write DELETE that empties p=b prunes p=b alone
    sql("DELETE FROM wh.pk.u WHERE k = 2")
    assert(parts("u") == Seq("p=a", "p=z"))
    assert(sql("SELECT k, p FROM wh.pk.u").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((10L, "a")))
    sql("DROP TABLE wh.pk.d")
    sql("DROP TABLE wh.pk.u")
  }

  test("SQL MERGE INTO: matched update, matched delete, not-matched insert") {
    sql("CREATE NAMESPACE IF NOT EXISTS wh.rlo")
    sql("CREATE TABLE wh.rlo.dim (k BIGINT, v STRING, amt BIGINT) PARTITIONED BY (v)")
    sql("INSERT INTO wh.rlo.dim VALUES (1, 'a', 10), (2, 'a', 20), (3, 'b', 30)")
    sql("CREATE TABLE wh.rlo.upd (k BIGINT, v STRING, amt BIGINT)")
    sql("INSERT INTO wh.rlo.upd VALUES (1, 'a', 11), (3, 'b', -1), (4, 'c', 40)")
    sql("""MERGE INTO wh.rlo.dim t USING wh.rlo.upd s ON t.k = s.k
          |WHEN MATCHED AND s.amt < 0 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET t.amt = s.amt
          |WHEN NOT MATCHED THEN INSERT (k, v, amt) VALUES (s.k, s.v, s.amt)
          |""".stripMargin)
    val got = sql("SELECT k, v, amt FROM wh.rlo.dim ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, "a", 11L), (2L, "a", 20L), (4L, "c", 40L)))
    // the rewrite preserved the hive layout (partition dirs, not flat)
    val root = spark.conf.get("spark.sql.catalog.wh.root")
    assert(new java.io.File(s"$root/rlo/dim/v=c").isDirectory)
    assert(!new java.io.File(s"$root/rlo/dim/v=b").exists()
      || new java.io.File(s"$root/rlo/dim/v=b").listFiles().isEmpty)
    sql("DROP TABLE wh.rlo.upd")
  }

  test("SQL UPDATE and row-level DELETE rewrite; partition DELETE stays metadata-only") {
    sql("CREATE NAMESPACE IF NOT EXISTS wh.rlo")
    sql("CREATE TABLE wh.rlo.u (k BIGINT, v STRING, amt BIGINT) PARTITIONED BY (v)")
    sql("INSERT INTO wh.rlo.u VALUES (1, 'a', 10), (2, 'a', 20), (3, 'b', 30)")
    sql("UPDATE wh.rlo.u SET amt = amt + 100 WHERE k >= 2")
    assert(sql("SELECT sum(amt) FROM wh.rlo.u").head.getLong(0) == 260L)
    // row-level DELETE now rewrites instead of refusing
    sql("DELETE FROM wh.rlo.u WHERE k = 2")
    assert(sql("SELECT k FROM wh.rlo.u ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 3L))
    // but a partition-only predicate still takes the metadata path:
    // the v=b DIRECTORY disappears (a rewrite would leave an empty dir
    // or rewritten shards behind)
    sql("DELETE FROM wh.rlo.u WHERE v = 'b'")
    val root = spark.conf.get("spark.sql.catalog.wh.root")
    assert(!new java.io.File(s"$root/rlo/u/v=b").exists())
    assert(sql("SELECT k FROM wh.rlo.u").collect().map(_.getLong(0)).toSeq
      == Seq(1L))
    sql("DROP TABLE wh.rlo.u")
  }

  test("the COW rewrite scan pushes no row filters and group-prunes at runtime") {
    sql("CREATE NAMESPACE IF NOT EXISTS wh.rlo")
    sql("CREATE TABLE wh.rlo.ps (k BIGINT, v STRING, amt BIGINT) PARTITIONED BY (v)")
    sql("INSERT INTO wh.rlo.ps VALUES (1, 'a', 10), (2, 'a', 20), (3, 'b', 30)")
    val df = sql("UPDATE wh.rlo.ps SET amt = amt + 100 WHERE k >= 2")
    val plan = df.queryExecution.executedPlan.toString
    // a COW scan that row-filters loses carry-over rows — the guard
    // that caught the r8 bug: the rewrite scan must push NOTHING and
    // rely on the runtime group filter for partition narrowing
    assert(plan.contains("PushedFilters: []"),
      s"rewrite scan pushed row filters:\n${plan.take(2000)}")
    assert(plan.contains("dynamicpruningexpression"),
      s"rewrite scan lost runtime group filtering:\n${plan.take(2000)}")
    assert(sql("SELECT sum(amt) FROM wh.rlo.ps").head.getLong(0) == 260L)
    sql("DROP TABLE wh.rlo.ps")
  }

  test("ViewCatalog: create / load / list / alter / rename / drop, durable") {
    // vanilla Spark 4.1 defines the ViewCatalog API but does not route
    // SQL view statements to v2 catalogs (ResolveSessionCatalog throws
    // MISSING_CATALOG_ABILITY for any non-session catalog — wiring the
    // SQL path needs an Iceberg-style extensions package), so this
    // exercises the API surface the engine CAN own: persisted view
    // definitions with the stored resolution context.
    import org.apache.spark.sql.connector.catalog.{Identifier, ViewCatalog, ViewInfo}
    sql("CREATE NAMESPACE IF NOT EXISTS wh.vw")
    sql("CREATE TABLE wh.vw.base (k BIGINT, lang STRING) PARTITIONED BY (lang)")
    sql("INSERT INTO wh.vw.base VALUES (1,'en'), (2,'en'), (3,'de')")
    val cat = spark.sessionState.catalogManager.catalog("wh")
      .asInstanceOf[ViewCatalog]
    val ident = Identifier.of(Array("vw"), "en_only")
    val viewSql = "SELECT k, lang FROM wh.vw.base WHERE lang = 'en'"
    val schema = spark.sql(viewSql).schema
    cat.createView(new ViewInfo(ident, viewSql, "wh", Array("vw"), schema,
      schema.fieldNames, Array.empty, Array.empty,
      java.util.Collections.emptyMap()))
    // the stored SQL resolves against current data
    val v = cat.loadView(ident)
    assert(v.query() == viewSql && v.currentCatalog() == "wh")
    assert(spark.sql(v.query()).count() == 2L)
    sql("INSERT INTO wh.vw.base VALUES (4, 'en')")
    assert(spark.sql(cat.loadView(ident).query()).count() == 3L)
    // listed; invisible to table listings and namespace listings
    assert(cat.listViews("vw").map(_.name).toSeq == Seq("en_only"))
    assert(!sql("SHOW TABLES IN wh.vw").collect().map(_.getString(1))
      .contains("en_only"))
    // property changes + rename persist
    import org.apache.spark.sql.connector.catalog.ViewChange
    cat.alterView(ident, ViewChange.setProperty("note", "x"))
    assert(cat.loadView(ident).properties().get("note") == "x")
    val ident2 = Identifier.of(Array("vw"), "en2")
    cat.renameView(ident, ident2)
    assert(cat.viewExists(ident2) && !cat.viewExists(ident))
    intercept[Exception](cat.loadView(ident))
    intercept[Exception](cat.createView(new ViewInfo(ident2, viewSql, "wh",
      Array("vw"), schema, schema.fieldNames, Array.empty, Array.empty,
      java.util.Collections.emptyMap())))
    assert(cat.dropView(ident2))
    assert(cat.listViews("vw").isEmpty)
    sql("DROP TABLE wh.vw.base")
  }

  test("catalog functions: wh.system.* resolve, codegen, and match the expressions") {
    // the v2 function path IS wired in vanilla Spark (unlike views):
    // resolution, binding, and the magic-method Invoke all engage
    val j = sql("SELECT wh.system.py_to_json(\"{'a': 1, 'b': None}\") AS js")
      .head.getString(0)
    assert(j == """{"a":1,"b":null}""")
    assert(sql("SELECT wh.system.coerce_numeric('[3.5, 7]') AS v")
      .head.getDouble(0) == 3.5)
    assert(sql("SELECT wh.system.word_ngrams('a b c d', 3) AS g")
      .head.getSeq[String](0) == Seq("a b c", "b c d"))
    // identical to the session-extension expression path by construction
    val viaExpr = sql("SELECT simhash_fingerprint('the quick brown fox', 48) AS h")
      .head.getString(0)
    val viaCat = sql("SELECT wh.system.simhash_fingerprint('the quick brown fox', 48) AS h")
      .head.getString(0)
    assert(viaCat == viaExpr)
    // nulls propagate, listing works
    assert(sql("SELECT wh.system.py_to_json(CAST(NULL AS STRING))").head.isNullAt(0))
    assert(sql("SHOW FUNCTIONS IN wh.system").collect().map(_.getString(0))
      .exists(_.endsWith("py_to_json")))
  }

  test("catalog AGGREGATE functions: kmv_sketch / hdr_histogram parity") {
    // the FunctionCatalog's AggregateFunction face: Spark plans the
    // bound function as a V2Aggregator (map-side partials + merge),
    // and the result must match the session-registered
    // TypedImperativeAggregate expressions bit for bit
    spark.range(0, 1000).selectExpr("id % 7 AS g",
      "CAST(conv(substring(md5(CAST(id AS STRING)), 1, 12), 16, 10) AS BIGINT) AS h",
      "id * id AS v")
      .createOrReplaceTempView("aggfn_in")
    val viaCat = sql("""SELECT g, wh.system.kmv_sketch(h, 16) AS s
                       |FROM aggfn_in GROUP BY g ORDER BY g""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    val viaExpr = sql("""SELECT g, kmv_sketch(h, 16) AS s
                        |FROM aggfn_in GROUP BY g ORDER BY g""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    assert(viaCat.toSeq == viaExpr.toSeq)
    assert(viaCat.forall(_._2.length == 16))
    val hCat = sql("""SELECT g, wh.system.hdr_histogram(v) AS hh
                     |FROM aggfn_in GROUP BY g ORDER BY g""".stripMargin)
      .collect().map(r => (r.getLong(0),
        r.getSeq[org.apache.spark.sql.Row](1).map(x =>
          (x.getLong(0), x.getLong(1), x.getLong(2)))))
    val hExpr = sql("""SELECT g, hdr_histogram(v) AS hh
                      |FROM aggfn_in GROUP BY g ORDER BY g""".stripMargin)
      .collect().map(r => (r.getLong(0),
        r.getSeq[org.apache.spark.sql.Row](1).map(x =>
          (x.getLong(0), x.getLong(1), x.getLong(2)))))
    assert(hCat.toSeq == hExpr.toSeq)
    // counts conserve: every row lands in exactly one bucket
    assert(hCat.map(_._2.map(_._3).sum).sum == 1000L)
  }

  test("TRUNCATE TABLE drops data, keeps the table and its stream log") {
    sql("CREATE NAMESPACE IF NOT EXISTS wh.tr")
    sql("CREATE TABLE wh.tr.t (k BIGINT, lang STRING) PARTITIONED BY (lang)")
    sql("INSERT INTO wh.tr.t VALUES (1,'en'), (2,'de')")
    sql("TRUNCATE TABLE wh.tr.t")
    assert(sql("SELECT COUNT(*) FROM wh.tr.t").head.getLong(0) == 0L)
    sql("INSERT INTO wh.tr.t VALUES (9,'fr')")
    assert(sql("SELECT k FROM wh.tr.t").collect().map(_.getLong(0)).toSeq
      == Seq(9L))
    sql("DROP TABLE wh.tr.t")
  }

  test("unpartitioned MERGE is shard-scoped COW: untouched shards keep identity") {
    sql("CREATE NAMESPACE IF NOT EXISTS wh.rlo")
    sql("CREATE TABLE wh.rlo.flat (k BIGINT, amt BIGINT)")
    // three separate single-row INSERTs -> three shards
    sql("INSERT INTO wh.rlo.flat VALUES (1, 10)")
    sql("INSERT INTO wh.rlo.flat VALUES (3, 30)")
    sql("INSERT INTO wh.rlo.flat VALUES (5, 50)")
    val root = spark.conf.get("spark.sql.catalog.wh.root")
    val dir = new java.io.File(s"$root/rlo/flat")
    def shards() = dir.listFiles().filter(_.getName.endsWith(".jsonl.gz"))
      .map(_.getName).toSet
    val before = shards()
    assert(before.size == 3)
    sql("CREATE TABLE wh.rlo.fsrc (k BIGINT, amt BIGINT)")
    sql("INSERT INTO wh.rlo.fsrc VALUES (3, 333)")
    // only the shard holding k=3 participates: the runtime _shard
    // group filter prunes the rewrite, so the other two files are
    // never read back or rewritten — byte-identical names survive
    sql("""MERGE INTO wh.rlo.flat t USING wh.rlo.fsrc s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET t.amt = s.amt""".stripMargin)
    val after = shards()
    assert((before & after).size == 2, s"before=$before after=$after")
    assert((before -- after).size == 1 && (after -- before).size == 1)
    val got = sql("SELECT k, amt FROM wh.rlo.flat ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 10L), (3L, 333L), (5L, 50L)))
    sql("DROP TABLE wh.rlo.flat"); sql("DROP TABLE wh.rlo.fsrc")
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE: group-rewrite accounting") {
    // BY-SOURCE branches act on target rows with NO source match — the
    // rewrite must therefore scan (and so replace) every shard holding
    // live rows, not just the matched ones, and apply the UPDATE/DELETE
    // to the unmatched side
    sql("CREATE NAMESPACE IF NOT EXISTS wh.bys")
    sql("CREATE TABLE wh.bys.t (k BIGINT, amt BIGINT)")
    sql("INSERT INTO wh.bys.t SELECT /*+ REPARTITION(1) */ * FROM VALUES " +
      "(1L, 10L), (2L, 20L), (3L, 30L), (7L, 70L) AS v(k, amt)")
    sql("CREATE TABLE wh.bys.s (k BIGINT, amt BIGINT)")
    sql("INSERT INTO wh.bys.s VALUES (2, 222), (9, 900)")
    val root = spark.conf.get("spark.sql.catalog.wh.root")
    val dir = new java.io.File(s"$root/bys/t")
    def shards() = dir.listFiles().filter(_.getName.endsWith(".jsonl.gz"))
      .map(_.getName).toSet
    val before = shards()
    sql("""MERGE INTO wh.bys.t t USING wh.bys.s s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET t.amt = s.amt
          |WHEN NOT MATCHED THEN INSERT (k, amt) VALUES (s.k, s.amt)
          |WHEN NOT MATCHED BY SOURCE AND t.k = 7 THEN DELETE
          |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET t.amt = t.amt + 1
          |""".stripMargin)
    val after = shards()
    assert((before & after).isEmpty,
      s"BY-SOURCE merge must rewrite every live shard: before=$before after=$after")
    val got = sql("SELECT k, amt FROM wh.bys.t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 11L), (2L, 222L), (3L, 31L), (9L, 900L)), got)
    sql("DROP TABLE wh.bys.t"); sql("DROP TABLE wh.bys.s")
  }

  test("CALL system.expire_staging sweeps stale staging AND stream-log droppings") {
    sql("CREATE NAMESPACE IF NOT EXISTS wh.exp")
    sql("CREATE TABLE wh.exp.t (k BIGINT)")
    val root = spark.conf.get("spark.sql.catalog.wh.root")
    val tdir = new java.io.File(s"$root/exp/t")
    // a crashed write attempt + a crashed streaming commit's markers
    val stale = Seq(
      new java.io.File(tdir, "_staging/dead-attempt/x.jsonl.gz"),
      new java.io.File(tdir, "_graft_stream_log/q-dead/.7.inprogress"),
      new java.io.File(tdir, "_graft_stream_log/q-dead/.8.tmp"))
    stale.foreach { f => f.getParentFile.mkdirs(); f.createNewFile() }
    // a DURABLE epoch record must survive (not a dot-file)
    val epochLog = new java.io.File(tdir, "_graft_stream_log/q-dead/7")
    epochLog.createNewFile()
    val old = System.currentTimeMillis() - 3600L * 1000
    (stale :+ epochLog).foreach(f => f.setLastModified(old))
    new java.io.File(tdir, "_staging/dead-attempt").setLastModified(old)
    val removed = sql("CALL wh.system.expire_staging('exp.t', age_minutes => 30)")
      .head.getInt(0)
    assert(removed == 3, s"removed=$removed")
    assert(!stale.head.getParentFile.exists())
    stale.tail.foreach(f => assert(!f.exists(), f.toString))
    assert(epochLog.exists())
    sql("DROP TABLE wh.exp.t")
  }

  test("expire_staging completes the cleanup a stale .inprogress guards") {
    // The `.N.inprogress` marker is what makes a restarted stream's
    // replay of epoch N sweep the prior attempt's partially-published
    // shards. Expiring the marker must therefore also sweep those
    // shards — otherwise a crash → expire → restart sequence silently
    // re-opens the duplicate-rows window the marker exists to close.
    sql("CREATE NAMESPACE IF NOT EXISTS wh.exp2")
    sql("CREATE TABLE wh.exp2.t (k BIGINT)")
    sql("INSERT INTO wh.exp2.t VALUES (1)")
    val root = spark.conf.get("spark.sql.catalog.wh.root")
    val tdir = new java.io.File(s"$root/exp2/t")
    // a crashed epoch 9 of query `qq`: its marker plus one shard it
    // managed to publish before the driver died
    val partial = new java.io.File(tdir, "part-00001-7-qq-e9.jsonl.gz")
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(partial))
    gz.write("{\"k\":99}\n".getBytes("UTF-8")); gz.close()
    val marker = new java.io.File(tdir, "_graft_stream_log/qq/.9.inprogress")
    marker.getParentFile.mkdirs(); marker.createNewFile()
    val old = System.currentTimeMillis() - 3600L * 1000
    marker.setLastModified(old)
    assert(sql("SELECT count(*) FROM wh.exp2.t").head.getLong(0) == 2)
    sql("CALL wh.system.expire_staging('exp2.t', age_minutes => 30)")
    assert(!marker.exists())
    assert(!partial.exists(), "orphan epoch shard must be swept with its marker")
    assert(sql("SELECT k FROM wh.exp2.t").collect().map(_.getLong(0)).toSeq
      == Seq(1L), "committed rows untouched")
    sql("DROP TABLE wh.exp2.t")
  }

  test("expire_staging never sweeps a COMMITTED epoch's shards") {
    // Crash window: the streaming commit renamed the durable epoch log
    // into place but died before deleting its `.N.inprogress` marker.
    // marker + committed-log is then persistent (a never-restarted
    // query retires nothing), and a naive expire that treats every
    // stale marker as an orphan would delete COMMITTED data that the
    // replay short-circuit guarantees is never republished. The expire
    // must delete only the marker and leave the epoch's shards alone.
    sql("CREATE NAMESPACE IF NOT EXISTS wh.exp3")
    sql("CREATE TABLE wh.exp3.t (k BIGINT)")
    val root = spark.conf.get("spark.sql.catalog.wh.root")
    val tdir = new java.io.File(s"$root/exp3/t")
    val committed = new java.io.File(tdir, "part-00000-3-qc-e4.jsonl.gz")
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(committed))
    gz.write("{\"k\":7}\n".getBytes("UTF-8")); gz.close()
    val logDir = new java.io.File(tdir, "_graft_stream_log/qc")
    logDir.mkdirs()
    new java.io.File(logDir, "4").createNewFile() // durable epoch record
    val marker = new java.io.File(logDir, ".4.inprogress")
    marker.createNewFile()
    val old = System.currentTimeMillis() - 3600L * 1000
    marker.setLastModified(old)
    sql("CALL wh.system.expire_staging('exp3.t', age_minutes => 30)")
    assert(!marker.exists(), "leftover marker of a committed epoch retired")
    assert(committed.exists(), "committed epoch's shard must survive expire")
    assert(sql("SELECT k FROM wh.exp3.t").collect().map(_.getLong(0)).toSeq
      == Seq(7L))
    sql("DROP TABLE wh.exp3.t")
  }

  test("row-level COW refuses when a prior crash left _cow_trash") {
    sql("CREATE NAMESPACE IF NOT EXISTS wh.trash")
    sql("CREATE TABLE wh.trash.t (k BIGINT, v BIGINT)")
    sql("INSERT INTO wh.trash.t VALUES (1, 10), (2, 20)")
    val root = spark.conf.get("spark.sql.catalog.wh.root")
    val trashDir = new java.io.File(s"$root/trash/t/_cow_trash")
    trashDir.mkdirs()
    val e = intercept[Exception] {
      sql("DELETE FROM wh.trash.t WHERE k = 1")
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("_cow_trash")), e.toString)
    // trash is invisible to readers and the refusal left data intact
    assert(sql("SELECT count(*) FROM wh.trash.t").head.getLong(0) == 2)
    trashDir.delete()
    sql("DELETE FROM wh.trash.t WHERE k = 1")
    assert(sql("SELECT k FROM wh.trash.t").collect().map(_.getLong(0)).toSeq
      == Seq(2L))
    assert(!trashDir.exists(), "successful commit clears the trash")
    sql("DROP TABLE wh.trash.t")
  }

  test("SHOW TABLES / rename / drop / metadata durability") {
    sql("CREATE NAMESPACE IF NOT EXISTS wh.meta")
    sql("CREATE TABLE wh.meta.a (x BIGINT)")
    sql("CREATE TABLE wh.meta.b (y STRING)")
    val tables = sql("SHOW TABLES IN wh.meta").collect()
      .map(_.getString(1)).sorted
    assert(tables.toSeq == Seq("a", "b"))
    sql("ALTER TABLE wh.meta.a RENAME TO meta.c")
    assert(sql("SHOW TABLES IN wh.meta").collect()
      .map(_.getString(1)).sorted.toSeq == Seq("b", "c"))
    // schema survives a fresh catalog instance (metadata is on disk)
    spark.catalog.clearCache()
    assert(sql("SELECT * FROM wh.meta.c").schema.fieldNames.toSeq == Seq("x"))
    sql("DROP TABLE wh.meta.b")
    sql("DROP TABLE wh.meta.c")
    assert(sql("SHOW TABLES IN wh.meta").isEmpty)
  }

  test("CTAS materializes a query into a partitioned catalog table") {
    sql("CREATE NAMESPACE IF NOT EXISTS wh.ctas")
    sql("""CREATE TABLE wh.ctas.by_lang PARTITIONED BY (lang) AS
          |  SELECT * FROM VALUES (1, 'en'), (2, 'de') AS t(id, lang)""".stripMargin)
    assert(sql("SELECT id, lang FROM wh.ctas.by_lang ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "en"), (2, "de")))
    sql("DROP TABLE wh.ctas.by_lang")
  }

  test("DROP COLUMN tombstones the key: a re-ADDed name reads null for old shards") {
    sql("CREATE NAMESPACE IF NOT EXISTS wh.dc")
    sql("CREATE TABLE wh.dc.t (k BIGINT, score BIGINT)")
    sql("INSERT INTO wh.dc.t VALUES (1, 100), (2, 200)") // gen-1: key 'score'
    sql("ALTER TABLE wh.dc.t DROP COLUMN score")
    assert(sql("SELECT * FROM wh.dc.t").columns.toSeq == Seq("k"),
      "dropped column leaves the schema")
    sql("INSERT INTO wh.dc.t VALUES (3)") // gen-2: no score at all
    // re-ADD under the SAME name: binds to a fresh physical key —
    // gen-1 shards still hold JSON key 'score' but must read as null
    sql("ALTER TABLE wh.dc.t ADD COLUMN score BIGINT")
    sql("INSERT INTO wh.dc.t VALUES (4, 900)") // gen-3: fresh key
    val got = sql("SELECT k, score FROM wh.dc.t ORDER BY k").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq
    assert(got == Seq((1L, -1L), (2L, -1L), (3L, -1L), (4L, 900L)),
      s"old 'score' values must NOT resurrect under the re-added column: $got")
    // filters agree with materialization (pushed IS NULL / comparisons)
    assert(sql("SELECT k FROM wh.dc.t WHERE score IS NULL ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(sql("SELECT k FROM wh.dc.t WHERE score = 900").collect()
      .map(_.getLong(0)).toSeq == Seq(4L))
    // drop the RE-ADDED column too: its fresh key tombstones as well,
    // and a third ADD binds yet another key
    sql("ALTER TABLE wh.dc.t DROP COLUMN score")
    sql("ALTER TABLE wh.dc.t ADD COLUMN score BIGINT")
    sql("INSERT INTO wh.dc.t VALUES (5, 55)")
    val got3 = sql("SELECT k, score FROM wh.dc.t ORDER BY k").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq
    assert(got3 == Seq((1L, -1L), (2L, -1L), (3L, -1L), (4L, -1L), (5L, 55L)),
      s"second-generation drop must tombstone the fresh key too: $got3")
    // rename of a physical-keyed column is pure metadata (key pinned)
    sql("ALTER TABLE wh.dc.t RENAME COLUMN score TO points")
    assert(sql("SELECT k FROM wh.dc.t WHERE points = 55").collect()
      .map(_.getLong(0)).toSeq == Seq(5L))
    // dropping a RENAMED column tombstones its aliases too: re-adding
    // the OLD name must not resurrect pre-rename shards' values
    sql("CREATE TABLE wh.dc.r (k BIGINT, v BIGINT)")
    sql("INSERT INTO wh.dc.r VALUES (1, 11)") // key 'v'
    sql("ALTER TABLE wh.dc.r RENAME COLUMN v TO w") // alias remembers 'v'
    sql("ALTER TABLE wh.dc.r DROP COLUMN w") // tombstones 'w' AND 'v'
    sql("ALTER TABLE wh.dc.r ADD COLUMN v BIGINT")
    val gotR = sql("SELECT k, v FROM wh.dc.r").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq
    assert(gotR == Seq((1L, -1L)),
      s"re-added 'v' must not read the pre-rename shard's 'v' key: $gotR")
    // refusals: partition columns and the last column stay undroppable
    sql("CREATE TABLE wh.dc.p (k BIGINT, p STRING) PARTITIONED BY (p)")
    val e1 = intercept[Exception] { sql("ALTER TABLE wh.dc.p DROP COLUMN p") }
    assert(e1.getMessage.contains("partition column"), e1.getMessage)
    sql("ALTER TABLE wh.dc.p DROP COLUMN k")
    val e2 = intercept[Exception] { sql("ALTER TABLE wh.dc.p DROP COLUMN p") }
    assert(e2.getMessage != null, e2.toString)
  }

  test("ALTER COLUMN TYPE widening: old shards reparse; narrowing refused; blooms dropped") {
    sql("CREATE NAMESPACE IF NOT EXISTS wh.wd")
    sql("""CREATE TABLE wh.wd.t (k INT, v FLOAT, d DECIMAL(5,2))
          |TBLPROPERTIES ('graft.skip.columns'='k')""".stripMargin)
    sql("INSERT INTO wh.wd.t VALUES (1, CAST(1.5 AS FLOAT), 123.45)")
    sql("ALTER TABLE wh.wd.t ALTER COLUMN k TYPE BIGINT")
    sql("ALTER TABLE wh.wd.t ALTER COLUMN v TYPE DOUBLE")
    sql("ALTER TABLE wh.wd.t ALTER COLUMN d TYPE DECIMAL(10,2)")
    // a value only the widened types can hold
    sql("INSERT INTO wh.wd.t VALUES (2147483648, 2.5, 12345678.90)")
    val df = sql("SELECT k, v, d FROM wh.wd.t ORDER BY k")
    assert(df.schema.map(_.dataType.simpleString) ==
      Seq("bigint", "double", "decimal(10,2)"))
    val got = df.collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getDecimal(2).toPlainString)).toSeq
    assert(got == Seq((1L, 1.5, "123.45"),
      (2147483648L, 2.5, "12345678.90")),
      s"old INT/FLOAT/DECIMAL(5,2) shards must reparse exactly: $got")
    // skip stats written in the INT era still prune through BIGINT
    assert(sql("SELECT k FROM wh.wd.t WHERE k = 1").rdd.getNumPartitions == 1,
      "write-time INT-era stats must keep pruning through the widened type")
    // refusals: narrowing, cross-family, scale change
    for (bad <- Seq("ALTER TABLE wh.wd.t ALTER COLUMN k TYPE INT",
                    "ALTER TABLE wh.wd.t ALTER COLUMN v TYPE STRING",
                    "ALTER TABLE wh.wd.t ALTER COLUMN d TYPE DECIMAL(10,4)")) {
      val e = intercept[Exception] { sql(bad) }
      // Spark's analyzer refuses obvious narrowing itself
      // (NOT_SUPPORTED_CHANGE_COLUMN); anything it lets through must
      // hit the catalog's widening gate
      assert(e.getMessage.contains("WIDENING") ||
        e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"),
        s"$bad: ${e.getMessage}")
    }
    // bloom sketches hash by type — widening must DROP them, or the
    // scattered-key probe would wrongly prune shards that hold the key
    sql("CREATE TABLE wh.wd.b (k INT, v INT)")
    for (base <- Seq(0, 1000))
      sql(s"""INSERT INTO wh.wd.b SELECT /*+ REPARTITION(1) */
             |  CAST(id * 7 + $base AS INT) AS k, CAST(id AS INT) AS v
             |FROM range(0, 100)""".stripMargin)
    sql("""CALL wh.system.build_skip_index('wd.b', columns => 'k',
          |  bloom_columns => 'k')""".stripMargin)
    sql("ALTER TABLE wh.wd.b ALTER COLUMN k TYPE BIGINT")
    assert(sql("SELECT v FROM wh.wd.b WHERE k = 1007").collect()
      .map(_.getInt(0)).toSeq == Seq(1),
      "an INT-era bloom probed through BIGINT must not hide the row")
  }

  test("evolve_partitioning: two-layout lifecycle — read, prune, refuse, unify") {
    sql("CREATE NAMESPACE IF NOT EXISTS wh.pe")
    sql("""CREATE TABLE wh.pe.t (k BIGINT, lang STRING, dt STRING)
          |PARTITIONED BY (lang)""".stripMargin)
    sql("""INSERT INTO wh.pe.t SELECT /*+ REPARTITION(1) */ * FROM VALUES
          |  (1L, 'en', 'd1'), (2L, 'de', 'd1') AS v(k, lang, dt)""".stripMargin)
    val r = sql("CALL wh.system.evolve_partitioning('pe.t', " +
      "columns => 'lang,dt')").head
    assert(r.getString(0) == "lang,dt" && r.getString(1) == "lang",
      s"old spec recorded as legacy: $r")
    sql("""INSERT INTO wh.pe.t SELECT /*+ REPARTITION(1) */ * FROM VALUES
          |  (3L, 'en', 'd2'), (4L, 'fr', 'd2') AS v(k, lang, dt)""".stripMargin)
    // mixed generations answer: gen-1 resolves dt from the JSON body,
    // gen-2 from the path; lang from the path in both
    val got = sql("SELECT k, lang, dt FROM wh.pe.t ORDER BY k").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getString(2))).toSeq
    assert(got == Seq((1L, "en", "d1"), (2L, "de", "d1"),
      (3L, "en", "d2"), (4L, "fr", "d2")), got.toString)
    // partition pruning per shard: lang prunes BOTH generations;
    // dt prunes gen-2 dirs and conservatively keeps gen-1 shards
    def planned(q: String): Int = sql(q).rdd.getNumPartitions
    assert(planned("SELECT k FROM wh.pe.t WHERE lang = 'fr'") == 1)
    assert(planned("SELECT k FROM wh.pe.t WHERE lang = 'de'") == 1)
    assert(planned("SELECT k FROM wh.pe.t WHERE dt = 'd1'") == 2,
      "gen-1 shards (no dt= segment) stay; gen-2 d2 dirs prune")
    // dynamic partition overwrite refuses on a multi-generation layout
    val prevMode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val e = intercept[Exception] {
        sql("INSERT OVERWRITE TABLE wh.pe.t VALUES (9L, 'en', 'd9')") }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("multi-generation")), msgs(e).toString)
    } finally
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
    // STATIC mode for the rest: the partition overwrite and the
    // unifying whole-table rewrite must not plan as dynamic
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try {
    // static overwrite of one lang partition replaces BOTH generations
    sql("INSERT OVERWRITE TABLE wh.pe.t PARTITION (lang = 'en') " +
      "SELECT 10L AS k, 'd3' AS dt")
    val en = sql("SELECT k FROM wh.pe.t WHERE lang = 'en'").collect()
      .map(_.getLong(0)).toSeq
    assert(en == Seq(10L), s"old-generation en rows must be replaced: $en")
    // unify: full rewrite lands everything under the current spec;
    // re-CALL derives an EMPTY legacy set and restores keyed behaviors
    sql("CREATE TABLE wh.pe.stage AS SELECT k, lang, dt FROM wh.pe.t")
    sql("INSERT OVERWRITE TABLE wh.pe.t SELECT k, lang, dt FROM wh.pe.stage")
    } finally
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
    val r2 = sql("CALL wh.system.evolve_partitioning('pe.t', " +
      "columns => 'lang,dt')").head
    assert(r2.getString(1) == "", s"post-rewrite legacy must be empty: $r2")
    val props = sql("SHOW TBLPROPERTIES wh.pe.t").collect()
      .map(_.getString(0)).toSet
    assert(!props.contains("graft.partition.legacy.specs"))
    assert(sql("SELECT k FROM wh.pe.t").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(2L, 4L, 10L),
      "rows preserved across the unifying rewrite (en was overwritten)")
    sql("DROP TABLE wh.pe.stage")
  }

  test("ADD/RENAME onto an occupied PHYSICAL key binds a fresh key, never aliases") {
    sql("CREATE NAMESPACE IF NOT EXISTS wh.pk")
    // drop-and-re-add binds column `a` to physical key a__2
    sql("CREATE TABLE wh.pk.t (k BIGINT, a BIGINT)")
    sql("INSERT INTO wh.pk.t VALUES (1, 10)")
    sql("ALTER TABLE wh.pk.t DROP COLUMN a")
    sql("ALTER TABLE wh.pk.t ADD COLUMN a BIGINT")
    // ADD COLUMN whose DISPLAY name equals that physical key: the new
    // column must get its OWN storage key — without the guard both
    // columns write/read JSON key a__2 and values collide
    sql("ALTER TABLE wh.pk.t ADD COLUMN a__2 BIGINT")
    sql("INSERT INTO wh.pk.t VALUES (2, 20, 200)")
    val got = sql("SELECT k, a, a__2 FROM wh.pk.t WHERE k = 2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((2L, 20L, 200L)),
      s"columns a and a__2 must hold independent values: $got")
    // same discipline for RENAME: an unkeyed column renamed ONTO an
    // occupied physical key binds a fresh key instead of stealing it
    sql("CREATE TABLE wh.pk.r (k BIGINT, a BIGINT, c BIGINT)")
    sql("INSERT INTO wh.pk.r VALUES (1, 10, 30)")
    sql("ALTER TABLE wh.pk.r DROP COLUMN a")
    sql("ALTER TABLE wh.pk.r ADD COLUMN a BIGINT") // a -> physical a__2
    sql("ALTER TABLE wh.pk.r RENAME COLUMN c TO a__2")
    sql("INSERT INTO wh.pk.r VALUES (2, 40, 50)") // (k, c-as-a__2, a)
    val gotR = sql("SELECT k, a, a__2 FROM wh.pk.r ORDER BY k").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(gotR == Seq((1L, -1L, 30L), (2L, 50L, 40L)),
      s"renamed column must keep its own storage, not column a's: $gotR")
    // ADD onto another field's rename ALIAS: must not read its history
    sql("CREATE TABLE wh.pk.al (k BIGINT, v BIGINT)")
    sql("INSERT INTO wh.pk.al VALUES (1, 11)") // old shards carry key 'v'
    sql("ALTER TABLE wh.pk.al RENAME COLUMN v TO w") // w reads through alias v
    sql("ALTER TABLE wh.pk.al ADD COLUMN v BIGINT") // fresh key, NOT 'v'
    val gotA = sql("SELECT k, w, v FROM wh.pk.al").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(gotA == Seq((1L, 11L, -1L)),
      s"new column v must not read w's pre-rename values: $gotA")
  }

  test("RENAME COLUMN on a partition column: metadata-only, old dirs " +
      "read, prune, overwrite, and unify") {
    sql("CREATE NAMESPACE IF NOT EXISTS wh.pr")
    sql("""CREATE TABLE wh.pr.t (k BIGINT, lang STRING)
          |PARTITIONED BY (lang)""".stripMargin)
    sql("""INSERT INTO wh.pr.t SELECT /*+ REPARTITION(1) */ * FROM VALUES
          |  (1L, 'en'), (2L, 'de'), (3L, 'fr') AS v(k, lang)""".stripMargin)
    sql("ALTER TABLE wh.pr.t RENAME COLUMN lang TO language")
    // old lang= dirs answer under the new name, values from the path
    val got = sql("SELECT k, language FROM wh.pr.t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "en"), (2L, "de"), (3L, "fr")), got.toString)
    // pruning on the NEW name reaches pre-rename dirs
    def planned(q: String): Int = sql(q).rdd.getNumPartitions
    assert(planned("SELECT k FROM wh.pr.t WHERE language = 'de'") == 1,
      "a filter on the renamed column must prune old-named dirs")
    // new writes land under the new segment name; mixed layout reads
    sql("INSERT INTO wh.pr.t SELECT /*+ REPARTITION(1) */ * FROM VALUES " +
      "(4L, 'en') AS v(k, language)")
    val root = spark.conf.get("spark.sql.catalog.wh.root")
    val dirs = new java.io.File(s"$root/pr/t").listFiles()
      .filter(_.isDirectory).map(_.getName).filterNot(_.startsWith("_"))
      .sorted.toSeq
    assert(dirs == Seq("lang=de", "lang=en", "lang=fr", "language=en"),
      dirs.toString)
    assert(sql("SELECT k FROM wh.pr.t WHERE language = 'en'").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 4L))
    // SHOW PARTITIONS: one logical row per value, both generations
    val parts = sql("SHOW PARTITIONS wh.pr.t").collect()
      .map(_.getString(0)).sorted.toSeq
    assert(parts == Seq("language=de", "language=en", "language=fr"),
      parts.toString)
    // dynamic overwrite sweeps the alias-variant dir too — no stale
    // pre-rename copy may survive beside the replacement
    val prevMode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try sql("INSERT OVERWRITE TABLE wh.pr.t VALUES (10L, 'en')")
    finally
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
    assert(sql("SELECT k FROM wh.pr.t WHERE language = 'en'").collect()
      .map(_.getLong(0)).toSeq == Seq(10L),
      "both en dirs must be replaced by the dynamic overwrite")
    // partition-predicate DELETE drops the OLD-named dir as a dir op
    sql("DELETE FROM wh.pr.t WHERE language = 'de'")
    assert(sql("SELECT COUNT(*) FROM wh.pr.t WHERE language = 'de'")
      .head.getLong(0) == 0L)
    // the former name is reserved while its dirs may persist
    val eAdd = intercept[Exception] {
      sql("ALTER TABLE wh.pr.t ADD COLUMN lang STRING") }
    assert(eAdd.getMessage.contains("former name"), eAdd.getMessage)
    sql("ALTER TABLE wh.pr.t ADD COLUMN extra STRING")
    val eRen = intercept[Exception] {
      sql("ALTER TABLE wh.pr.t RENAME COLUMN extra TO lang") }
    assert(eRen.getMessage.contains("former name"), eRen.getMessage)
    // ALTER TABLE DROP PARTITION sweeps the pre-rename dir
    sql("ALTER TABLE wh.pr.t DROP IF EXISTS PARTITION (language = 'fr')")
    assert(sql("SELECT COUNT(*) FROM wh.pr.t WHERE language = 'fr'")
      .head.getLong(0) == 0L)
    // unify: full rewrite + re-CALL evolve_partitioning prunes the
    // alias; the old display name is then free again
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try {
      sql("CREATE TABLE wh.pr.stage AS SELECT k, language FROM wh.pr.t")
      sql("INSERT OVERWRITE TABLE wh.pr.t SELECT k, language, " +
        "CAST(NULL AS STRING) AS extra FROM wh.pr.stage")
    } finally
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
    sql("CALL wh.system.evolve_partitioning('pr.t', columns => 'language')")
    sql("ALTER TABLE wh.pr.t ADD COLUMN lang STRING") // no longer reserved
    assert(sql("SELECT k FROM wh.pr.t").collect().map(_.getLong(0))
      .toSeq == Seq(10L))
    sql("DROP TABLE wh.pr.stage")
  }

  test("partition rename composes with snapshots: pre-rename pins " +
      "answer under the pin-time schema") {
    sql("CREATE NAMESPACE IF NOT EXISTS wh.prs")
    sql("""CREATE TABLE wh.prs.t (k BIGINT, lang STRING)
          |PARTITIONED BY (lang)""".stripMargin)
    sql("INSERT INTO wh.prs.t SELECT /*+ REPARTITION(1) */ * FROM VALUES " +
      "(1L, 'en'), (2L, 'de') AS v(k, lang)")
    sql("CALL wh.system.snapshot('prs.t')")
    sql("ALTER TABLE wh.prs.t RENAME COLUMN lang TO language")
    sql("INSERT INTO wh.prs.t SELECT /*+ REPARTITION(1) */ * FROM VALUES " +
      "(3L, 'en') AS v(k, language)")
    // live reads: both generations under the new name
    assert(sql("SELECT k FROM wh.prs.t WHERE language = 'en'").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    // the pre-rename pin serves the pin-time schema AND values
    val v1 = sql("SELECT k, lang FROM wh.prs.t VERSION AS OF 1 ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(v1 == Seq((1L, "en"), (2L, "de")), v1.toString)
    // a post-rename pin answers under the new name across generations
    sql("CALL wh.system.snapshot('prs.t')")
    val v2 = sql(
      "SELECT k, language FROM wh.prs.t VERSION AS OF 2 ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(v2 == Seq((1L, "en"), (2L, "de"), (3L, "en")), v2.toString)
    // the change feed across the rename window resolves partition
    // values of BOTH generations' rel paths under the post-rename
    // schema (the v2 manifest's) — the inserted row arrives with its
    // language value from its dir segment
    val root = spark.conf.get("spark.sql.catalog.wh.root")
    val changes = spark.read.format("graft-jsonl-changes")
      .option("fromVersion", 1).option("toVersion", 2).load(s"$root/prs/t")
      .collect().map(r => (r.getAs[Long]("k"),
        r.getAs[String]("language"), r.getAs[String]("_change"))).toSeq
    assert(changes == Seq((3L, "en", "insert")), changes.toString)
  }

  test("evolve keeps a partition alias alive while a snapshot can " +
      "still restore old-named dirs") {
    sql("CREATE NAMESPACE IF NOT EXISTS wh.pra")
    sql("""CREATE TABLE wh.pra.t (k BIGINT, lang STRING)
          |PARTITIONED BY (lang)""".stripMargin)
    sql("INSERT INTO wh.pra.t SELECT /*+ REPARTITION(1) */ * FROM VALUES " +
      "(1L, 'en'), (2L, 'de') AS v(k, lang)")
    sql("CALL wh.system.snapshot('pra.t')") // v1 pins lang= rels
    sql("ALTER TABLE wh.pra.t RENAME COLUMN lang TO language")
    // unify the LIVE layout: every live dir now uses the new name
    val prevMode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try {
      sql("CREATE TABLE wh.pra.stage AS SELECT k, language FROM wh.pra.t")
      sql("INSERT OVERWRITE TABLE wh.pra.t SELECT k, language FROM wh.pra.stage")
    } finally
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
    // the re-CALL must NOT prune the alias: manifest v1 still
    // references lang= dirs a rollback can restore
    sql("CALL wh.system.evolve_partitioning('pra.t', columns => 'language')")
    val eAdd = intercept[Exception] {
      sql("ALTER TABLE wh.pra.t ADD COLUMN lang STRING") }
    assert(eAdd.getMessage.contains("former name"),
      s"alias must survive while v1 references lang= dirs: ${eAdd.getMessage}")
    // maintenance_stats names the PINNING snapshot: the operator's
    // answer to "what do I expire to release the name" — no live dir
    // uses the alias (the rewrite unified them), only v1 pins it
    val ms = sql("CALL wh.system.maintenance_stats('pra.t')").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val aliasRow = ms.find(_._1 == "part_alias:lang->language")
    assert(aliasRow.exists(r => r._2 == 1L && r._3.contains("v1") &&
      !r._3.contains("live dirs")),
      s"alias row must name the pinning snapshot: ${aliasRow.toString}")
    assert(ms.exists(r => r._1 == "recommend" &&
      r._3.contains("release partition alias 'lang'") && r._3.contains("v1")),
      s"expire recommendation must name the alias + snapshot: ${
        ms.filter(_._1 == "recommend").mkString("; ")}")
    // rollback restores the old-named dirs — values resolve through
    // the kept alias
    sql("CALL wh.system.rollback_to_snapshot('pra.t', '1')")
    val got = sql("SELECT k, language FROM wh.pra.t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "en"), (2L, "de")), got.toString)
    assert(sql("SELECT k FROM wh.pra.t WHERE language = 'de'").collect()
      .map(_.getLong(0)).toSeq == Seq(2L),
      "pruning on the renamed column must reach the restored dirs")
    sql("DROP TABLE wh.pra.stage")
  }
}
