package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Fixtures, Tables}
import graft.functions.Exact._

/** Materialized-view serving queries — the
  * [[graft.plans.MvRewriteRule]] under the oracle gate.
  */
object MvQueries {

  /** The registered lineitem rollup: (returnflag, linestatus) grain
    * with decomposable partials. Keys/measures here and in [[mvSpec]]
    * must stay in lockstep — the spec declares what the rule may
    * serve, this builds what the table actually holds. */
  private def buildMv(s: SparkSession, dir: String, mvPath: String): Unit =
    graft.operators.IncrementalAgg.aggregate(
      Tables.load(s, dir, "lineitem").select(
        col("l_returnflag"), col("l_linestatus"),
        lit(1L).as("n_rows"),
        dec(col("l_quantity"), 12, 2).as("sum_qty"),
        col("l_shipdate").as("max_ship")),
      keys = Seq("l_returnflag", "l_linestatus"),
      measures = Map("n_rows" -> "sum", "sum_qty" -> "sum", "max_ship" -> "max"))
      .write.mode("overwrite").parquet(mvPath)

  private def mvPath(dir: String): String =
    Fixtures("graft_mv_lineitem", dir)(
      Fixtures.tempDir("graft_mv_lineitem").toString)

  private def mvSpec(dir: String): String =
    s"${mvPath(dir)}|$dir/lineitem.parquet|l_returnflag,l_linestatus|" +
      "sum:l_quantity@12.2=sum_qty,count:*=n_rows,max:l_shipdate=max_ship"

  // ---------------------------------------------------------------- q178
  /** A rollup query written naively against the FACT table — grouped
    * on a strict SUBSET of the MV keys, with a key filter — served
    * transparently from the materialized aggregate by
    * [[graft.plans.MvRewriteRule]] in a child session. The function
    * REQUIRES the rewrite fired (optimized plan must scan the MV and
    * must not scan lineitem) before returning, so the green oracle row
    * certifies both halves: the rule rewrote, and the partials
    * re-aggregated to exactly the full-scan answer (the DuckDB oracle
    * computes straight from lineitem). At 100 TB the served plan reads
    * |returnflag × linestatus| rows instead of the fact table. */
  def mvServedRollup(s: SparkSession, dir: String): DataFrame = {
    val path = mvPath(dir)
    buildMv(s, dir, path)
    val child = s.newSession()
    child.conf.set("spark.graft.mv.specs", mvSpec(dir))
    val df = child.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_linestatus") =!= "X") // key-only filter: MV-answerable
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum(dec(col("l_quantity"), 12, 2)).as("sum_qty"),
        max(col("l_shipdate")).as("last_ship"))
      .select(col("l_returnflag"), col("n_items"),
        col("sum_qty").cast("double").as("sum_qty"), col("last_ship"))
      .orderBy("l_returnflag")
    val scanned = df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(p =>
              graft.plans.MvRewriteRule.normalize(p.toString))
          case _ => Nil
        }
    }.flatten
    require(scanned.contains(graft.plans.MvRewriteRule.normalize(path)),
      s"MV rewrite did not fire: scans $scanned")
    require(!scanned.exists(_.endsWith("lineitem.parquet")),
      s"MV rewrite left a fact scan in place: $scanned")
    df
  }

  /** Full recompute from the fact table — proves the served partials
    * re-aggregate to the truth. */
  val mvServedRollupSql: String =
    """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  MAX(l_shipdate) AS last_ship
      |FROM lineitem WHERE l_linestatus <> 'X'
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q178_mv_served_rollup" -> (mvServedRollup _),
  )

  val oracles: Map[String, String] = Map(
    "q178_mv_served_rollup" -> mvServedRollupSql,
  )
}
