package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.TestSpark

/** The materialized-aggregate serving rule: fires exactly on
  * registered shapes (scan/keys/measures all match), never on
  * anything else, and served results equal the fact-scan results
  * bit-for-bit. Conf-gated via `spark.graft.mv.specs`.
  */
class MvRewriteRuleSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base = graft.core.Fixtures
    .tempDir("graft_mv_spec").toString
  private val factPath = s"$base/fact.parquet"
  private val mvPath = s"$base/mv.parquet"

  private lazy val ready: Unit = {
    val fact = (0L until 1000L).map { i =>
      (i, s"k${i % 3}", s"g${i % 4}", (i % 97).toDouble, s"s${i % 11}")
    }.toDF("id", "ka", "kb", "qty", "tag")
    fact.write.mode("overwrite").parquet(factPath)
    graft.operators.IncrementalAgg.aggregate(
      spark.read.parquet(factPath).select(col("ka"), col("kb"),
        lit(1L).as("n_rows"),
        col("qty").cast(DecimalType(12, 2)).as("sum_qty"),
        col("tag").as("max_tag")),
      keys = Seq("ka", "kb"),
      measures = Map("n_rows" -> "sum", "sum_qty" -> "sum", "max_tag" -> "max"))
      .write.mode("overwrite").parquet(mvPath)
  }

  private val spec =
    s"$mvPath|$factPath|ka,kb|sum:qty@12.2=sum_qty,count:*=n_rows,max:tag=max_tag"

  private def withSpecs[T](body: org.apache.spark.sql.SparkSession => T): T = {
    ready
    val child = spark.newSession()
    child.conf.set("spark.graft.mv.specs", spec)
    body(child)
  }

  private def scans(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(p => MvRewriteRule.normalize(p.toString))
          case _ => Nil
        }
    }.flatten

  private def servedFromMv(df: DataFrame): Boolean =
    scans(df).contains(MvRewriteRule.normalize(mvPath)) &&
      !scans(df).contains(MvRewriteRule.normalize(factPath))

  private def rollup(s: org.apache.spark.sql.SparkSession): DataFrame =
    s.read.parquet(factPath)
      .groupBy(col("ka"))
      .agg(count(lit(1)).as("n"),
        sum(col("qty").cast(DecimalType(12, 2))).as("sq"),
        max(col("tag")).as("mt"))

  test("serves a key-subset rollup from the MV, values identical to the fact scan") {
    withSpecs { s =>
      val df = rollup(s).orderBy("ka")
      assert(servedFromMv(df), s"rewrite did not fire: ${scans(df)}")
      val truth = rollup(spark).orderBy("ka") // no specs: fact scan
      assert(!servedFromMv(truth))
      assert(df.collect().toSeq === truth.collect().toSeq)
      assert(df.schema === truth.schema)
    }
  }

  test("key-only filters re-apply on the MV; post-agg arithmetic survives") {
    withSpecs { s =>
      def q(sess: org.apache.spark.sql.SparkSession) =
        sess.read.parquet(factPath)
          .filter(col("kb") =!= "g2")
          .groupBy(col("ka"), col("kb"))
          .agg((sum(col("qty").cast(DecimalType(12, 2))).cast("double") /
            count(lit(1))).as("avg_qty"))
          .orderBy("ka", "kb")
      val df = q(s)
      assert(servedFromMv(df))
      assert(df.collect().toSeq === q(spark).collect().toSeq)
    }
  }

  test("global aggregate (no grouping) is served too") {
    withSpecs { s =>
      val df = s.read.parquet(factPath)
        .agg(count(lit(1)).as("n"), max(col("tag")).as("mt"))
      assert(servedFromMv(df))
      assert(df.head() === spark.read.parquet(factPath)
        .agg(count(lit(1)).as("n"), max(col("tag")).as("mt")).head())
    }
  }

  test("never fires on unanswerable queries") {
    withSpecs { s =>
      val fact = s.read.parquet(factPath)
      // a different cast than registered
      val wrongCast = fact.groupBy(col("ka"))
        .agg(sum(col("qty").cast(DecimalType(18, 4))).as("sq"))
      // raw double sum (not registered at all)
      val rawSum = fact.groupBy(col("ka")).agg(sum(col("qty")).as("sq"))
      // non-key filter
      val nonKeyFilter = fact.filter(col("qty") > 50)
        .groupBy(col("ka")).agg(count(lit(1)).as("n"))
      // non-key grouping
      val nonKeyGroup = fact.groupBy(col("tag")).agg(count(lit(1)).as("n"))
      // distinct aggregate has no partials
      val distinctAgg = fact.groupBy(col("ka"))
        .agg(countDistinct(col("tag")).as("nd"))
      // min was not registered (only max)
      val unregMin = fact.groupBy(col("ka")).agg(min(col("tag")).as("mn"))
      for (df <- Seq(wrongCast, rawSum, nonKeyFilter, nonKeyGroup,
          distinctAgg, unregMin)) {
        assert(!servedFromMv(df), df.queryExecution.optimizedPlan.toString)
        assert(scans(df).contains(MvRewriteRule.normalize(factPath)))
      }
      // and the non-rewritten queries still run correctly
      assert(nonKeyGroup.count() === 11)
    }
  }

  test("spec parsing rejects malformed entries; bad MV column fails loudly") {
    assertThrows[IllegalArgumentException](
      MvRewriteRule.parseSpecs("only|three|fields"))
    assertThrows[IllegalArgumentException](
      MvRewriteRule.parseSpecs("a|b|k|notameasure"))
    assert(MvRewriteRule.parseSpecs("").isEmpty)
    ready
    val child = spark.newSession()
    child.conf.set("spark.graft.mv.specs",
      s"$mvPath|$factPath|ka,kb|sum:qty@12.2=missing_col")
    val ex = intercept[Exception](
      child.read.parquet(factPath).groupBy(col("ka"))
        .agg(sum(col("qty").cast(DecimalType(12, 2))).as("sq")).collect())
    assert(ex.getMessage.contains("missing_col"))
  }
}
