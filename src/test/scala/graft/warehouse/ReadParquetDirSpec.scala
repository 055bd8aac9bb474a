package graft.warehouse

import java.io.File
import java.util.concurrent.atomic.AtomicInteger
import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.core.{Fixtures, Tables}

/** `Tables.readParquetDir`, the lake read of the medallion pipeline:
  * over every table of the golden two-day run (GoldenPipelineSpec's
  * fixtures) it reads what `spark.read.parquet` reads, schema and
  * rows, without a Spark job; and it falls back to the plain read
  * where a footer cannot stand in for inference.
  */
class ReadParquetDirSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val fixtures = new File("fixtures").getAbsolutePath
  private lazy val lake = {
    val dir = Fixtures.tempDir("graft-read-dir-lake").toString
    val pipe = new Pipeline(spark, fixtures, dir)
    pipe.run("2024-06-01")
    pipe.run("2024-06-02")
    dir
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq // by value, not by identity
      case v => v
    }.toString).sorted.toSeq

  private def assertSameRead(dir: String): Unit = {
    val (got, want) = (Tables.readParquetDir(spark, dir), spark.read.parquet(dir))
    assert(got.schema === want.schema, dir)
    assert(rows(got) === rows(want), dir)
  }

  /** Spark jobs started while `body` runs. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(counter)
    try body
    finally {
      org.apache.spark.ListenerDrain(sc)
      sc.removeSparkListener(counter)
    }
    n.get()
  }

  test("every lake table reads as spark.read.parquet reads it, with no Spark job") {
    val tables = for {
      layer <- new File(lake).listFiles().filter(_.isDirectory).toSeq
      table <- layer.listFiles().filter(_.isDirectory).toSeq
    } yield table.getPath
    // bronze 5, silver 5 (two dims, three facts), gold 1
    assert(tables.size === 11, tables)
    tables.foreach { dir =>
      assertSameRead(dir)
      assert(jobsOf(Tables.readParquetDir(spark, dir)) === 0, dir)
    }
    // the plain read runs its inference job, the one this read removes
    assert(jobsOf(spark.read.parquet(tables.head)) > 0)
  }

  test("hidden and metadata entries are never taken for the footer") {
    val dir = Fixtures.tempDir("graft-read-dir-hidden").toFile
    try {
      val table = new File(dir, "t")
      FileUtils.copyDirectory(new File(s"$lake/silver/dim_vendor"), table)
      // names that sort before every data file and are no parquet file
      for (part <- table.listFiles().filter(_.isDirectory))
        FileUtils.writeStringToFile(new File(part, ".0.swp"), "editor swap", "UTF-8")
      FileUtils.writeStringToFile(new File(table, ".0.swp"), "editor swap", "UTF-8")
      FileUtils.writeStringToFile(new File(table, "_0"), "marker", "UTF-8")
      assertSameRead(table.getPath)
      // a dir of nothing but hidden and metadata files falls back, and
      // fails as the plain read fails
      val husk = new File(dir, "husk")
      FileUtils.writeStringToFile(new File(husk, ".0.swp"), "editor swap", "UTF-8")
      FileUtils.writeStringToFile(new File(husk, "_SUCCESS"), "", "UTF-8")
      val want = intercept[AnalysisException](spark.read.parquet(husk.getPath))
      val got = intercept[AnalysisException](Tables.readParquetDir(spark, husk.getPath))
      assert(got.getCondition === want.getCondition)
    } finally FileUtils.deleteDirectory(dir)
  }

  test("a file without Spark row metadata falls back to the plain read") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Fixtures.tempDir("graft-read-dir-mr").toFile
    try {
      // written by parquet-mr alone: an unannotated binary column reads
      // as binary or string depending on the reader's options, so only
      // inference may decide it
      val schema = MessageTypeParser.parseMessageType(
        "message m { required int64 k; optional binary v; }")
      val file = new Path(s"$dir/t/p=1/part-0.parquet")
      val conf = spark.sparkContext.hadoopConfiguration
      val w = ExampleParquetWriter.builder(
          org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(file, conf))
        .withType(schema).withConf(conf).build()
      try {
        val g = new SimpleGroupFactory(schema)
        w.write(g.newGroup().append("k", 1L).append("v", "x"))
        w.write(g.newGroup().append("k", 2L).append("v", "y"))
      } finally w.close()
      val st = file.getFileSystem(conf).getFileStatus(file)
      assert(org.apache.spark.sql.graftbridge.ParquetShardIO
        .sparkSchema(st, conf, spark).isEmpty)
      assertSameRead(s"$dir/t")
    } finally FileUtils.deleteDirectory(dir)
  }

  test("a missing table dir fails as the plain read fails") {
    val missing = s"$lake/silver/no_such_table"
    val want = intercept[AnalysisException](spark.read.parquet(missing))
    val got = intercept[AnalysisException](Tables.readParquetDir(spark, missing))
    assert(got.getCondition === want.getCondition)
  }
}
