package graft.core

import java.io.File
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.graftbridge.ShutdownDirs
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** [[Fixtures]]: one build per (name, dir) per JVM under concurrent
  * callers, a retry after a failed build, nested builds, and shutdown
  * deletion of every temp dir it makes. Each test uses its own fixture
  * names, since the registry lives for the whole test JVM. */
class FixturesSpec extends AnyFunSuite {

  test("8 threads asking for one (name, dir) run its build once") {
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 8).map { _ =>
        pool.submit(new Callable[AnyRef] {
          def call(): AnyRef = {
            start.await()
            Fixtures("spec-once", "/data/a") {
              builds.incrementAndGet()
              Thread.sleep(200)
              new Object
            }
          }
        })
      }
      start.countDown()
      val got = results.map(_.get(30, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(got.distinct.size == 1)
    } finally pool.shutdownNow()
  }

  test("two data dirs build twice") {
    val builds = new AtomicInteger
    def at(dir: String): String =
      Fixtures("spec-per-dir", dir) { s"$dir#${builds.incrementAndGet()}" }
    assert(at("/data/a") == "/data/a#1")
    assert(at("/data/b") == "/data/b#2")
    assert(at("/data/a") == "/data/a#1")
    assert(builds.get == 2)
  }

  test("a throwing build stays unmemoized and is retried on the next call") {
    val builds = new AtomicInteger
    def get(): Int = Fixtures("spec-retry", "/data/a") {
      if (builds.incrementAndGet() == 1) throw new IllegalStateException("boom")
      42
    }
    assert(intercept[IllegalStateException](get()).getMessage == "boom")
    assert(get() == 42)
    assert(get() == 42)
    assert(builds.get == 2)
  }

  test("a fixture whose build asks for other fixtures returns") {
    // 64 nested builds also grow the registry mid-build, which a build
    // run inside one shared map's computeIfAbsent fails with "Recursive
    // update"
    def inner(i: Int): Int = Fixtures("spec-inner", s"/data/$i")(i)
    val outer = Fixtures("spec-outer", "/data/a")((0 until 64).map(inner).sum)
    assert(outer == (0 until 64).sum)
    assert(Fixtures("spec-outer", "/data/a")(-1) == outer)
  }

  test("every dir the helper makes is registered for shutdown deletion") {
    val plain = Fixtures.tempDir("spec-tmp").toFile
    assert(plain.isDirectory)
    assert(plain.getParentFile.getCanonicalPath ==
      new File(System.getProperty("java.io.tmpdir")).getCanonicalPath)
    assert(ShutdownDirs.isRegistered(plain))
    val child = Fixtures.catalogSession(TestSpark.spark, "/data/a",
      "spec-cat", "whspec") { _ => () }
    val root = new File(child.conf.get("spark.sql.catalog.whspec.root"))
    assert(root.getName.startsWith("spec-cat"))
    assert(root.isDirectory)
    assert(ShutdownDirs.isRegistered(root))
    assert(child.conf.get("spark.sql.catalog.whspec") ==
      "graft.sources.dsv2.GraftCatalog")
  }
}
