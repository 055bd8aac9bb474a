package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[EagerAggregation]] — the stats-proven partial push-down of
  * aggregates through joins: fires only on ANALYZE-verified-unique,
  * fingerprint-fresh dim keys; results must be EXACTLY the un-rewritten
  * plan's, and every unproven/unsupported shape stands down. */
class EagerAggregationSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.ea", "graft.sources.dsv2.GraftCatalog")
    s.conf.set("spark.sql.catalog.ea.root",
      graft.core.Fixtures.tempDir("graft-ea").toString)
    s.sql("CREATE NAMESPACE IF NOT EXISTS ea.ns")
    // fact: duplicate fks, null fks, two group dims, values with nulls
    s.sql("""CREATE TABLE ea.ns.fact (fk BIGINT, seg STRING, qty BIGINT,
            |  price DOUBLE)""".stripMargin)
    s.sql("""INSERT INTO ea.ns.fact SELECT
            |  CASE WHEN id % 11 = 3 THEN NULL ELSE id % 500 END,
            |  CASE WHEN id % 3 = 0 THEN 'a' WHEN id % 3 = 1 THEN 'b'
            |       ELSE 'c' END,
            |  CASE WHEN id % 7 = 2 THEN NULL ELSE id % 97 END,
            |  id * 0.25
            |FROM range(0, 8000)""".stripMargin)
    // dim: unique pk 0..699 (some fact fks dangle: inner join drops)
    s.sql("CREATE TABLE ea.ns.dim (pk BIGINT, grp STRING, w BIGINT)")
    s.sql("""INSERT INTO ea.ns.dim SELECT id,
            |  concat('g', CAST(id % 5 AS STRING)), id * 10
            |FROM range(0, 700) WHERE id % 13 != 6""".stripMargin)
    s.sql("CALL ea.system.analyze_table('ns.dim', unique_candidates => 'pk')")
    s
  }

  private val q =
    """SELECT grp, seg,
      |  SUM(qty) AS sq,
      |  SUM(CAST(price AS DECIMAL(14,4))) AS sp,
      |  MIN(qty) AS mn, MAX(price) AS mx,
      |  COUNT(*) AS n, COUNT(qty) AS nq
      |FROM ea.ns.fact JOIN ea.ns.dim ON fk = pk
      |GROUP BY grp, seg ORDER BY grp, seg""".stripMargin

  private def withRule[T](on: Boolean)(body: => T): T = {
    spark.conf.set("spark.graft.eagerAgg.enabled", on.toString)
    // the cost guard stands down when the dim would BROADCAST (the
    // pre-agg only pays on shuffle joins) — these tests assert the
    // rewrite itself, so pin the shuffle-join world
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally {
      spark.conf.unset("spark.graft.eagerAgg.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  private def aggsBelowJoin(df: org.apache.spark.sql.DataFrame): Boolean = {
    val plan = df.queryExecution.optimizedPlan
    plan.collect { case j: Join =>
      j.children.exists(c => c.collectFirst { case a: Aggregate => a }
        .isDefined)
    }.exists(identity)
  }

  test("the rewrite fires on a proven-unique dim key and results are " +
      "EXACTLY the un-rewritten plan's (all four agg kinds + counts)") {
    val off = withRule(on = false)(spark.sql(q).collect().toSeq)
    withRule(on = true) {
      val df = spark.sql(q)
      assert(aggsBelowJoin(df),
        s"partial aggregate not pushed below the join:\n" +
          df.queryExecution.optimizedPlan)
      assert(df.collect().toSeq == off,
        "eager aggregation changed results")
    }
    assert(off.nonEmpty)
  }

  test("global aggregate (no GROUP BY) and fact-side-only grouping both " +
      "rewrite exactly") {
    val g1 = "SELECT SUM(qty) AS s, COUNT(*) AS n " +
      "FROM ea.ns.fact JOIN ea.ns.dim ON fk = pk"
    val g2 = "SELECT seg, SUM(qty) AS s FROM ea.ns.fact " +
      "JOIN ea.ns.dim ON fk = pk GROUP BY seg ORDER BY seg"
    for (sql <- Seq(g1, g2)) {
      val off = withRule(on = false)(spark.sql(sql).collect().toSeq)
      withRule(on = true) {
        val df = spark.sql(sql)
        assert(aggsBelowJoin(df), s"no push for: $sql")
        assert(df.collect().toSeq == off, s"results moved for: $sql")
      }
    }
  }

  test("stand-downs: unverified key, unsupported agg, " +
      "dim-side sum input, conf off") {
    withRule(on = true) {
      // join on the dim's UNVERIFIED column (w): no premise, no push
      val unverified = spark.sql("SELECT grp, SUM(qty) AS s FROM ea.ns.fact " +
        "JOIN ea.ns.dim ON fk = w GROUP BY grp")
      assert(!aggsBelowJoin(unverified), "pushed without a uniqueness proof")
      // TRY-mode SUM stands down: a partial group's overflow-NULL
      // would be silently skipped by the outer SUM where single-level
      // try_sum NULLs the whole group
      val trySum = spark.sql("SELECT grp, TRY_SUM(qty) AS t " +
        "FROM ea.ns.fact JOIN ea.ns.dim ON fk = pk GROUP BY grp")
      assert(!aggsBelowJoin(trySum), "pushed a try_sum aggregate")
      // DECIMAL averages stand down: precision/scale derivation
      // through a two-level fold is not value-identical
      val avgDec = spark.sql("SELECT grp, AVG(CAST(price AS DECIMAL(14,4)))" +
        " AS a FROM ea.ns.fact JOIN ea.ns.dim ON fk = pk GROUP BY grp")
      assert(!aggsBelowJoin(avgDec), "pushed a decimal average")
      // non-distinct SUM over a DIM column is NOT duplicate-
      // insensitive and cannot be partialized fact-side: stand down
      val dimAgg = spark.sql("SELECT seg, SUM(w) AS sw FROM ea.ns.fact " +
        "JOIN ea.ns.dim ON fk = pk GROUP BY seg")
      assert(!aggsBelowJoin(dimAgg), "pushed a dim-side sum")
      // a distinct agg over a fact-side EXPRESSION has no attribute to
      // carry through the pre-group key: stand down
      val distinctExpr = spark.sql("SELECT grp, COUNT(DISTINCT qty + 1) " +
        "AS d FROM ea.ns.fact JOIN ea.ns.dim ON fk = pk GROUP BY grp")
      assert(!aggsBelowJoin(distinctExpr), "pushed a distinct expression")
    }
    withRule(on = false) {
      assert(!aggsBelowJoin(spark.sql(q)), "rule ran while disabled")
    }
  }

  test("cost guard: a broadcast-able dim stands down (the pre-agg " +
      "would add a shuffle the broadcast join never needed)") {
    spark.conf.set("spark.graft.eagerAgg.enabled", "true")
    try {
      // default broadcast threshold: the ~650-row dim will broadcast
      val df = spark.sql(q)
      assert(!aggsBelowJoin(df),
        "rewrote a broadcast-class join:\n" + df.queryExecution.optimizedPlan)
    } finally spark.conf.unset("spark.graft.eagerAgg.enabled")
  }

  test("stale-stats conservatism: a dim append withdraws the premise; " +
      "re-ANALYZE restores it") {
    // a fresh dim table so staleness here can't affect other tests
    spark.sql("CREATE TABLE ea.ns.dim2 (pk BIGINT, grp STRING)")
    spark.sql(
      "INSERT INTO ea.ns.dim2 SELECT id, concat('g', CAST(id % 3 AS STRING)) " +
        "FROM range(0, 500)")
    spark.sql("CALL ea.system.analyze_table('ns.dim2', " +
      "unique_candidates => 'pk')")
    val sql2 = "SELECT grp, SUM(qty) AS s FROM ea.ns.fact " +
      "JOIN ea.ns.dim2 ON fk = pk GROUP BY grp ORDER BY grp"
    withRule(on = true) {
      assert(aggsBelowJoin(spark.sql(sql2)), "fresh proof must push")
      // the append makes the fingerprint stale — AND introduces a
      // duplicate pk, exactly the hazard the conservatism exists for
      spark.sql("INSERT INTO ea.ns.dim2 VALUES (7, 'dup')")
      val df = spark.sql(sql2)
      assert(!aggsBelowJoin(df), "stale uniqueness premise still pushed")
      val off = withRule(on = false)(spark.sql(sql2).collect().toSeq)
      assert(df.collect().toSeq == off)
      // re-ANALYZE now FAILS the uniqueness probe (pk 7 is duplicated):
      // the column must not come back verified
      spark.sql("CALL ea.system.analyze_table('ns.dim2', " +
        "unique_candidates => 'pk')")
      assert(!aggsBelowJoin(spark.sql(sql2)),
        "a duplicated key must not re-verify")
    }
  }

  test("property: seeded random fact/dim populations — rewritten " +
      "results identical to the un-rewritten plan across shapes") {
    val rnd = new scala.util.Random(20260816L)
    for (round <- 0 until 3) {
      val nFact = 1200 + rnd.nextInt(1500)
      val nDim = 50 + rnd.nextInt(250)
      val nullPct = rnd.nextInt(30)
      spark.sql(s"DROP TABLE IF EXISTS ea.ns.pf$round")
      spark.sql(s"DROP TABLE IF EXISTS ea.ns.pd$round")
      spark.sql(s"CREATE TABLE ea.ns.pf$round (fk BIGINT, g STRING, v BIGINT)")
      spark.sql(
        s"""INSERT INTO ea.ns.pf$round SELECT
           |  CASE WHEN id % 100 < $nullPct THEN NULL
           |       ELSE CAST(hash(id) % ${nDim * 2} AS BIGINT) END,
           |  concat('s', CAST(id % 4 AS STRING)),
           |  CASE WHEN id % 9 = 5 THEN NULL ELSE id % 1000 END
           |FROM range(0, $nFact)""".stripMargin)
      spark.sql(s"CREATE TABLE ea.ns.pd$round (pk BIGINT, dg STRING)")
      spark.sql(
        s"""INSERT INTO ea.ns.pd$round SELECT id - $nDim,
           |  concat('d', CAST(id % 3 AS STRING))
           |FROM range(0, ${2 * nDim}) WHERE id % 7 != 2""".stripMargin)
      spark.sql(s"CALL ea.system.analyze_table('ns.pd$round', " +
        "unique_candidates => 'pk')")
      val shapes = Seq(
        s"SELECT dg, SUM(v) AS s, COUNT(*) AS n FROM ea.ns.pf$round " +
          s"JOIN ea.ns.pd$round ON fk = pk GROUP BY dg ORDER BY dg",
        s"SELECT g, dg, MIN(v) AS mn, MAX(v) AS mx, COUNT(v) AS nv " +
          s"FROM ea.ns.pf$round JOIN ea.ns.pd$round ON fk = pk " +
          "GROUP BY g, dg ORDER BY g, dg",
        s"SELECT SUM(v * 2 + 1) AS sx FROM ea.ns.pf$round " +
          s"JOIN ea.ns.pd$round ON fk = pk")
      for (qq <- shapes) {
        val off = withRule(on = false)(spark.sql(qq).collect().toSeq)
        withRule(on = true) {
          val df = spark.sql(qq)
          assert(aggsBelowJoin(df), s"round $round no push: $qq")
          assert(df.collect().toSeq == off, s"round $round diverged: $qq")
        }
      }
    }
  }

  test("verified-unique dim behind Filter and pass-through Project " +
      "still proves; an aliased/computed key does not") {
    withRule(on = true) {
      val filtered = spark.sql(
        """SELECT grp, SUM(qty) AS s FROM ea.ns.fact
          |JOIN (SELECT pk, grp FROM ea.ns.dim WHERE w >= 0) d ON fk = d.pk
          |GROUP BY grp""".stripMargin)
      assert(aggsBelowJoin(filtered),
        "filter/projection over the dim must preserve the proof")
      // NB: `pk + 0` would constant-fold back to the attribute before
      // the rule runs (legitimately provable) — use a non-injective
      // expression, which must never inherit the proof
      val computed = spark.sql(
        """SELECT grp, SUM(qty) AS s FROM ea.ns.fact
          |JOIN (SELECT pk % 100 AS pk2, grp FROM ea.ns.dim) d ON fk = d.pk2
          |GROUP BY grp""".stripMargin)
      assert(!aggsBelowJoin(computed),
        "a computed key column must not inherit the proof")
    }
  }

  test("AVG decomposes as partial sum+count below the join, one " +
      "division above — exact for long and double inputs (all-null " +
      "groups included)") {
    val shapes = Seq(
      "SELECT grp, AVG(qty) AS aq, COUNT(*) AS n FROM ea.ns.fact " +
        "JOIN ea.ns.dim ON fk = pk GROUP BY grp ORDER BY grp",
      "SELECT seg, AVG(price) AS ap, SUM(qty) AS s FROM ea.ns.fact " +
        "JOIN ea.ns.dim ON fk = pk GROUP BY seg ORDER BY seg",
      // LEFT OUTER + AVG over the enrichment shape
      "SELECT grp, AVG(qty) AS aq FROM ea.ns.fact LEFT JOIN ea.ns.dim " +
        "ON fk = pk GROUP BY grp ORDER BY grp")
    for (qq <- shapes) {
      val off = withRule(on = false)(spark.sql(qq).collect().toSeq)
      withRule(on = true) {
        val df = spark.sql(qq)
        assert(aggsBelowJoin(df), s"AVG shape did not push: $qq\n" +
          df.queryExecution.optimizedPlan)
        assert(df.collect().toSeq == off, s"AVG diverged: $qq")
      }
    }
  }

  test("DISTINCT aggregates push: fact-side inputs join the pre-group " +
      "key, dim-side inputs ride the fk functional dependence — exact") {
    val shapes = Seq(
      // fact-side distinct attr + plain sum + count(*)
      "SELECT grp, COUNT(DISTINCT qty) AS dq, SUM(qty) AS s, COUNT(*) AS n " +
        "FROM ea.ns.fact JOIN ea.ns.dim ON fk = pk GROUP BY grp ORDER BY grp",
      // distinct over the join key itself and over a DIM column
      "SELECT seg, COUNT(DISTINCT fk) AS dk, COUNT(DISTINCT grp) AS dg, " +
        "SUM(DISTINCT qty) AS sdq " +
        "FROM ea.ns.fact JOIN ea.ns.dim ON fk = pk GROUP BY seg ORDER BY seg",
      // multi-arg distinct mixing fact and dim sides
      "SELECT COUNT(DISTINCT seg, grp) AS dsg, MAX(qty) AS mx " +
        "FROM ea.ns.fact JOIN ea.ns.dim ON fk = pk")
    for (qq <- shapes) {
      val off = withRule(on = false)(spark.sql(qq).collect().toSeq)
      withRule(on = true) {
        val df = spark.sql(qq)
        assert(aggsBelowJoin(df),
          s"distinct shape did not push: $qq\n" +
            df.queryExecution.optimizedPlan)
        assert(df.collect().toSeq == off, s"distinct shape diverged: $qq")
      }
    }
  }

  test("dim-side MIN/MAX ride free (duplicate-insensitive over " +
      "fk-determined values); the push still happens for the rest") {
    val qq = "SELECT seg, SUM(qty) AS s, MIN(w) AS mnw, MAX(grp) AS mxg " +
      "FROM ea.ns.fact JOIN ea.ns.dim ON fk = pk GROUP BY seg ORDER BY seg"
    val off = withRule(on = false)(spark.sql(qq).collect().toSeq)
    withRule(on = true) {
      val df = spark.sql(qq)
      assert(aggsBelowJoin(df), "dim-side min/max blocked the push")
      assert(df.collect().toSeq == off, "dim-side min/max diverged")
    }
  }

  test("n>=2 distinct groups BYPASS the broadcast cost guard (the " +
      "Expand fan-out dominates either join strategy); n=1 does not") {
    // default broadcast threshold — the ~650-row dim would broadcast
    spark.conf.set("spark.graft.eagerAgg.enabled", "true")
    try {
      val two = spark.sql("SELECT grp, COUNT(DISTINCT qty) AS a, " +
        "COUNT(DISTINCT seg) AS b, SUM(price) AS s " +
        "FROM ea.ns.fact JOIN ea.ns.dim ON fk = pk GROUP BY grp")
      assert(aggsBelowJoin(two),
        "two distinct groups must pre-shrink even under broadcast:\n" +
          two.queryExecution.optimizedPlan)
      val one = spark.sql("SELECT grp, COUNT(DISTINCT qty) AS a " +
        "FROM ea.ns.fact JOIN ea.ns.dim ON fk = pk GROUP BY grp")
      assert(!aggsBelowJoin(one),
        "a single distinct group has no Expand — broadcast guard holds")
      // exactness of the bypassed shape
      val on = two.collect().toSeq
      val off = withRule(on = false)(spark.sql(
        "SELECT grp, COUNT(DISTINCT qty) AS a, COUNT(DISTINCT seg) AS b, " +
          "SUM(price) AS s FROM ea.ns.fact JOIN ea.ns.dim ON fk = pk " +
          "GROUP BY grp").collect().toSeq)
      assert(on.toSet == off.toSet, "bypassed shape diverged")
    } finally spark.conf.unset("spark.graft.eagerAgg.enabled")
  }

  test("DistinctCollapse: a distinct over the pre-shrunk join key " +
      "collapses to a plain count (no Expand); an unproven column " +
      "keeps its distinct — both exact") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    def distincts(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case a: Aggregate => a.aggregateExpressions.flatMap(_.collect {
          case ae: AggregateExpression if ae.isDistinct => ae })
      }.flatten
    // the pre-shrink groups the fact by fk alone -> fk output-unique
    // after the N:1 join -> COUNT(DISTINCT fk) is a plain count
    val provable = "SELECT grp, COUNT(DISTINCT fk) AS dk, SUM(qty) AS s " +
      "FROM ea.ns.fact JOIN ea.ns.dim ON fk = pk GROUP BY grp ORDER BY grp"
    // qty joins the pre-group key, so fk is NOT unique there and qty
    // itself never was: the distinct must survive
    val unprovable = "SELECT grp, COUNT(DISTINCT qty) AS dq, SUM(price) " +
      "AS s FROM ea.ns.fact JOIN ea.ns.dim ON fk = pk GROUP BY grp " +
      "ORDER BY grp"
    for ((qq, expect) <- Seq(provable -> 0, unprovable -> 1)) {
      val off = withRule(on = false)(spark.sql(qq).collect().toSeq)
      withRule(on = true) {
        val df = spark.sql(qq)
        assert(aggsBelowJoin(df), s"no push for: $qq")
        assert(distincts(df).size == expect,
          s"wrong surviving distincts for: $qq\n" +
            df.queryExecution.optimizedPlan)
        assert(df.collect().toSeq == off, s"diverged: $qq")
      }
    }
  }

  test("LEFT OUTER eager aggregation: the fact-preserving enrichment " +
      "join pre-shrinks exactly (null fks and dangling fks included); " +
      "wrong orientation and FULL OUTER stand down") {
    val shapes = Seq(
      // plain sum/count over the enrichment join — null-fk fact rows
      // survive null-extended, dangling fks survive unmatched
      "SELECT grp, SUM(qty) AS s, COUNT(*) AS n FROM ea.ns.fact " +
        "LEFT JOIN ea.ns.dim ON fk = pk GROUP BY grp ORDER BY grp",
      // distinct aggs ride the same fold under LEFT OUTER
      "SELECT seg, COUNT(DISTINCT fk) AS dk, COUNT(DISTINCT grp) AS dg " +
        "FROM ea.ns.fact LEFT JOIN ea.ns.dim ON fk = pk GROUP BY seg " +
        "ORDER BY seg",
      // RIGHT OUTER with the dim on the left mirrors
      "SELECT grp, SUM(qty) AS s FROM ea.ns.dim RIGHT JOIN ea.ns.fact " +
        "ON fk = pk GROUP BY grp ORDER BY grp")
    for (qq <- shapes) {
      val off = withRule(on = false)(spark.sql(qq).collect().toSeq)
      withRule(on = true) {
        val df = spark.sql(qq)
        assert(aggsBelowJoin(df), s"no push for: $qq\n" +
          df.queryExecution.optimizedPlan)
        assert(df.collect().toSeq == off, s"diverged: $qq")
      }
    }
    withRule(on = true) {
      // LEFT OUTER with the fact on the NULL-EXTENDING side: the
      // pre-agg would collapse dim rows the join must surface — no
      val wrongSide = spark.sql("SELECT grp, MAX(qty) AS m " +
        "FROM ea.ns.dim LEFT JOIN ea.ns.fact ON fk = pk GROUP BY grp")
      assert(!aggsBelowJoin(wrongSide), "pushed into a null-extending side")
      // FULL OUTER: a purely-unmatched dim group's COUNT(*) would
      // fold to 0 — never rewrite
      val full = spark.sql("SELECT grp, COUNT(*) AS n FROM ea.ns.fact " +
        "FULL JOIN ea.ns.dim ON fk = pk GROUP BY grp")
      assert(!aggsBelowJoin(full), "pushed through a full outer join")
    }
  }

  test("external parquet uniqueness: CatalogStats.verifyUnique proves a " +
      "temp-view dim key; rewriting the files withdraws the premise") {
    import graft.operators.CatalogStats
    val dir = graft.core.Fixtures.tempDir("graft-ea-ext").toString
    val dimPath = s"$dir/xdim.parquet"
    spark.sql("SELECT id AS pk, concat('g', CAST(id % 5 AS STRING)) AS grp " +
      "FROM range(0, 600)").write.parquet(dimPath)
    spark.sql("SELECT CAST(id % 400 AS BIGINT) AS fk, id % 50 AS v " +
      "FROM range(0, 8000)").write.parquet(s"$dir/xfact.parquet")
    assert(CatalogStats.verifyUnique(spark, dimPath, Seq("pk")) == Set("pk"))
    def q = {
      spark.read.parquet(s"$dir/xfact.parquet").createOrReplaceTempView("xf")
      spark.read.parquet(dimPath).createOrReplaceTempView("xd")
      spark.sql("SELECT grp, SUM(v) AS s FROM xf JOIN xd ON fk = pk " +
        "GROUP BY grp ORDER BY grp")
    }
    val off = withRule(on = false)(q.collect().toSeq)
    withRule(on = true) {
      assert(aggsBelowJoin(q), "verified external dim must push:\n" +
        q.queryExecution.optimizedPlan)
      assert(q.collect().toSeq == off)
      // rewrite the dim files — the fingerprint moves, AND pk 0 is now
      // duplicated: exactly the hazard the withdrawal protects against
      spark.sql("SELECT CAST(id - id % 2 AS BIGINT) AS pk, 'gX' AS grp " +
        "FROM range(0, 10)").write.mode("overwrite").parquet(dimPath)
      assert(!aggsBelowJoin(q),
        "stale external uniqueness premise still pushed")
      // re-verification against the duplicated key must refuse
      assert(CatalogStats.verifyUnique(spark, dimPath, Seq("pk")).isEmpty,
        "a duplicated key re-verified")
    }
  }
}
