package graft.sources

import java.io.File
import java.net.URI
import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.Fixtures

/** Local disk with a one-shot hook on the first rename INTO a trash dir
  * whose name starts with the armed prefix: the moment a maintenance
  * swap has begun taking shards out of the live layout. */
class SwapHookFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "swaphook"
  override def getUri: URI = URI.create("swaphook:///")

  override def rename(src: Path, dst: Path): Boolean = {
    val hook = SwapHookFileSystem.armed.get
    if (hook == null || !dst.toString.contains("/" + hook.trash) ||
        !SwapHookFileSystem.armed.compareAndSet(hook, null))
      super.rename(src, dst)
    else if (hook.after) {
      val moved = super.rename(src, dst)
      hook.action()
      moved
    } else {
      hook.action()
      super.rename(src, dst)
    }
  }
}

object SwapHookFileSystem {
  final case class Hook(trash: String, after: Boolean, action: () => Unit)
  private[sources] val armed = new AtomicReference[Hook]()

  /** Run `action` once, before (or `after`) the first rename into a
    * dir named `trash*`. */
  def arm(trash: String, after: Boolean)(action: => Unit): Unit =
    armed.set(Hook(trash, after, () => action))
  def fired: Boolean = armed.get == null
}

/** The one shard swap ([[graft.sources.dsv2.JsonlShards.swap]]) behind
  * `CALL compact` (table-wide and partition-scoped) and partitioned
  * `CALL cluster_table`: a plain append landing in a partition while
  * the swap rewrites it stays live, and a swap that dies mid-way leaves
  * a trash whose move-back restores the table. */
class ShardSwapSpec extends AnyFunSuite {
  import ShardSwapSpec.Case

  private lazy val spark = {
    val s = TestSpark.spark
    s.sparkContext.hadoopConfiguration.set("fs.swaphook.impl",
      classOf[SwapHookFileSystem].getName)
    s.conf.set("spark.sql.catalog.sw", "graft.sources.dsv2.GraftCatalog")
    s.conf.set("spark.sql.catalog.sw.root", "swaphook://" + root)
    s
  }
  private lazy val root = Fixtures.tempDir("graft-swap").toString
  private def sql(q: String) = spark.sql(q)
  private def fs = FileSystem.get(URI.create("swaphook:///"),
    spark.sparkContext.hadoopConfiguration)

  private val cases = Seq(
    Case("compact", "_compact_trash",
      t => s"CALL sw.system.compact('$t', max_shards => 1)"),
    Case("compact partition => 'p=a'", "_compact_trash",
      t => s"CALL sw.system.compact('$t', max_shards => 1, partition => 'p=a')"),
    Case("partitioned cluster_table", "_cluster_trash",
      t => s"CALL sw.system.cluster_table('$t', columns => 'k', target_shards => 2)"))

  /** A table whose `p=a` holds three shards and `p=b` one. */
  private def table(name: String): String = {
    sql("CREATE NAMESPACE IF NOT EXISTS sw.ns")
    sql(s"CREATE TABLE sw.ns.$name (k BIGINT, v BIGINT, p STRING) PARTITIONED BY (p)")
    for (k <- 1 to 3) sql(s"INSERT INTO sw.ns.$name VALUES ($k, ${k * 10}, 'a')")
    sql(s"INSERT INTO sw.ns.$name VALUES (4, 40, 'b')")
    s"ns.$name"
  }

  private def rows(t: String): Seq[(Long, Long, String)] =
    sql(s"SELECT k, v, p FROM sw.$t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq

  private def msgs(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)

  test("a shard appended into the partition being rewritten stays live") {
    for ((c, i) <- cases.zipWithIndex) {
      val t = table(s"app$i")
      val before = rows(t)
      // a plain append's commit: one rename of a finished shard into
      // the partition dir, with no lock
      val prepared = new Path(s"swaphook://$root/prep$i/part-00000-appended.jsonl.gz")
      val out = new java.util.zip.GZIPOutputStream(fs.create(prepared))
      out.write("{\"k\": 100, \"v\": 7}\n".getBytes("UTF-8"))
      out.close()
      SwapHookFileSystem.arm(c.trash, after = false) {
        assert(fs.rename(prepared,
          new Path(s"swaphook://$root/ns/app$i/p=a/part-00000-appended.jsonl.gz")))
      }
      sql(c.call(t)).collect()
      assert(SwapHookFileSystem.fired, c.name)
      assert(rows(t) == (before :+ ((100L, 7L, "a"))).sortBy(_._1), c.name)
    }
  }

  test("a swap that dies after its first trash move refuses the next " +
      "rewrite and restores by moving the trash back") {
    for ((c, i) <- cases.zipWithIndex) {
      val t = table(s"crash$i")
      val before = rows(t)
      SwapHookFileSystem.arm(c.trash, after = true) {
        throw new java.io.IOException("swap died")
      }
      assert(msgs(intercept[Exception](sql(c.call(t)).collect()))
        .exists(_.contains("swap died")), c.name)
      assert(SwapHookFileSystem.fired, c.name)
      for (next <- cases.map(_.call(t)) :+
          s"""MERGE INTO sw.$t d USING (SELECT 1L AS k, 11L AS v) s
             |ON d.k = s.k WHEN MATCHED THEN UPDATE SET d.v = s.v""".stripMargin) {
        val e = intercept[Exception](sql(next).collect())
        assert(msgs(e).exists(_.contains(c.trash)), s"${c.name} then $next: $e")
      }
      // recovery: every trashed file back to its table-relative path,
      // then the swap's dirs go
      val tableDir = new File(s"$root/ns/crash$i")
      val swapDirs = tableDir.listFiles().filter(d =>
        d.getName.startsWith("_compact_") || d.getName.startsWith("_cluster_"))
      val trash = swapDirs.filter(_.getName.startsWith(c.trash))
      assert(trash.length == 1, c.name)
      def moveBack(f: File, rel: String): Unit =
        if (f.isDirectory) f.listFiles().foreach(g => moveBack(g, s"$rel/${g.getName}"))
        else {
          val to = new File(tableDir, rel)
          to.getParentFile.mkdirs()
          assert(f.renameTo(to), s"${c.name}: move back $rel")
        }
      trash.head.listFiles().foreach(f => moveBack(f, f.getName))
      swapDirs.foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(d))
      assert(rows(t) == before, c.name)
      sql(c.call(t)).collect()
      assert(rows(t) == before, s"${c.name} after recovery")
    }
  }
}

object ShardSwapSpec {
  final case class Case(name: String, trash: String, call: String => String)
}
