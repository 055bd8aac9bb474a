package graft.core

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ShutdownDirs

/** Per-JVM fixtures: the lakes, layouts, catalogs and child sessions a
  * query builds once per (fixture name, data dir) and reuses on every
  * later call, and the temp dirs they live in.
  *
  * Each key has its own slot, and a build runs under that slot's lock,
  * not inside the shared map: a fixture may build another fixture, and
  * a multi-second Spark build blocks only the callers of its own key. A
  * build that throws leaves its slot empty, so the next call builds
  * again. Every temp dir made here is deleted at JVM exit, after the
  * SparkContext stops.
  */
object Fixtures {

  private final class Slot {
    @volatile var value: Option[Any] = None
  }

  private val slots = new ConcurrentHashMap[(String, String), Slot]()

  /** Fixture `name` for data dir `dir`: the result of `build`, run on
    * the first call for the pair in this JVM. */
  def apply[A](name: String, dir: String)(build: => A): A = {
    val slot = slots.computeIfAbsent((name, dir), _ => new Slot)
    val built = slot.value.getOrElse {
      slot.synchronized {
        slot.value.getOrElse {
          val v = build
          slot.value = Some(v)
          v
        }
      }
    }
    built.asInstanceOf[A]
  }

  /** A fresh dir under `java.io.tmpdir`, deleted at JVM exit. */
  def tempDir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    ShutdownDirs.register(p.toFile)
    p
  }

  /** Fixture `name` as a child session of `s` holding a
    * [[graft.sources.dsv2.GraftCatalog]] named `catalog`, rooted in a
    * fresh temp dir prefixed `name`; `setup` fills the catalog. */
  def catalogSession(s: SparkSession, dir: String, name: String,
      catalog: String)(setup: SparkSession => Unit): SparkSession =
    apply(name, dir) {
      val c = s.newSession()
      c.conf.set(s"spark.sql.catalog.$catalog", "graft.sources.dsv2.GraftCatalog")
      c.conf.set(s"spark.sql.catalog.$catalog.root", tempDir(name).toString)
      setup(c)
      c
    }
}
