package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import graft.TestSpark
import graft.functions.LarkFunctions.surrogateKey

/** SCD2 invariants + the fold-vs-window equivalence:
  * applying [[Scd2.delta]] batch-by-batch must produce exactly what
  * [[Scd2.fromHistory]] computes in one pass (SURVEY.md §2.8 quirks
  * included). */
class Scd2Spec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // Version history: (key, ts-seconds-offset, attribute)
  private val history = Seq(
    ("E1", 100, "a"), ("E1", 200, "b"), ("E1", 300, "c"),
    ("E2", 150, "x"),
    ("E3", 100, "p"), ("E3", 400, "q"))

  private def versionsDf = history
    .toDF("user_id", "off", "attr")
    .withColumn("datetime_updated", timestamp_seconds(lit(1700000000) + col("off")))
    .drop("off")
    .select("user_id", "datetime_updated", "attr")

  private def batchAt(off: Int) = versionsDf
    .filter(unix_timestamp(col("datetime_updated")) === 1700000000L + off)
    .withColumn("user_sur_id", surrogateKey(col("user_id"), col("datetime_updated")))
    .select("user_sur_id", "user_id", "datetime_updated", "attr")

  private lazy val folded = {
    val empty = batchAt(-1).withColumn("valid_from", col("datetime_updated"))
      .withColumn("valid_to", col("datetime_updated"))
      .withColumn("is_current", lit(true))
    Seq(100, 150, 200, 300, 400).foldLeft(empty) { (dim, off) =>
      Scd2.applyBatch(dim, batchAt(off), "user_id", "datetime_updated", "user_sur_id")
        .localCheckpoint()
    }
  }

  private lazy val oneShot = Scd2
    .fromHistory(versionsDf, "user_id", "datetime_updated", "user_sur_id")
    .select("user_sur_id", "user_id", "datetime_updated", "attr",
            "valid_from", "valid_to", "is_current")

  test("fold over batches == one-pass window rebuild") {
    val a = folded.select("user_sur_id", "user_id", "datetime_updated", "attr",
                          "valid_from", "valid_to", "is_current")
    assert(a.exceptAll(oneShot).isEmpty && oneShot.exceptAll(a).isEmpty)
  }

  test("exactly one current row per natural key") {
    val counts = folded.filter(col("is_current"))
      .groupBy("user_id").count().collect()
    assert(counts.length === 3 && counts.forall(_.getLong(1) == 1))
  }

  test("version count = distinct change timestamps per key") {
    val got = folded.groupBy("user_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("E1" -> 3, "E2" -> 1, "E3" -> 2))
  }

  test("replaying the same batch is a no-op (idempotence)") {
    val once = folded
    val twice = Scd2.applyBatch(once, batchAt(400), "user_id",
                                "datetime_updated", "user_sur_id")
    assert(twice.exceptAll(once).isEmpty && once.exceptAll(twice).isEmpty)
  }

  test("expired rows carry next version's ts but their own valid_from (branch-3 quirk)") {
    val e1 = oneShot.filter(col("user_id") === "E1" && !col("is_current"))
      .orderBy("valid_from")
      .select(unix_timestamp(col("valid_from")), unix_timestamp(col("datetime_updated")),
              unix_timestamp(col("valid_to")))
      .collect().map(r => (r.getLong(0) - 1700000000, r.getLong(1) - 1700000000,
                           r.getLong(2) - 1700000000))
    assert(e1.toSeq === Seq((100L, 200L, 200L), (200L, 300L, 300L)))
  }

  test("a batch with two versions of one key opens ONE current row (the latest)") {
    // both E1 versions arrive in a single micro-batch against a dim
    // holding E1@100 — without latest-per-key collapse the delta would
    // open both as current and expire the old row twice
    val dim = Scd2.fromHistory(
      versionsDf.filter(col("attr") === "a"),
      "user_id", "datetime_updated", "user_sur_id")
      .select("user_sur_id", "user_id", "datetime_updated", "attr",
        "valid_from", "valid_to", "is_current")
    val batch = versionsDf.filter(col("attr").isin("b", "c")) // E1@200, E1@300
      .withColumn("user_sur_id", surrogateKey(col("user_id"), col("datetime_updated")))
      .select("user_sur_id", "user_id", "datetime_updated", "attr")
    val after = Scd2.applyBatch(dim, batch, "user_id", "datetime_updated", "user_sur_id")
    assert(after.filter(col("is_current")).count() == 1)
    assert(after.filter(col("is_current")).select("attr").head().getString(0) == "c")
    // no duplicate surrogate keys
    assert(after.count() == after.select("user_sur_id").distinct().count())
  }

  test("identical-ts intra-batch versions pick a deterministic winner") {
    // two E9 versions share one change ts; the kept attributes must be
    // the same on every run/engine (ordering ties break on attr values:
    // "z2" > "z1" lexicographically)
    val batch = Seq(("E9", "z1"), ("E9", "z2")).toDF("user_id", "attr")
      .withColumn("datetime_updated", timestamp_seconds(lit(1700000500L)))
      .withColumn("user_sur_id", surrogateKey(col("user_id"), col("datetime_updated")))
      .select("user_sur_id", "user_id", "datetime_updated", "attr")
    val empty = batch.limit(0)
      .withColumn("valid_from", col("datetime_updated"))
      .withColumn("valid_to", col("datetime_updated"))
      .withColumn("is_current", lit(true))
    (1 to 3).foreach { _ =>
      val dim = Scd2.applyBatch(empty, batch.repartition(8),
        "user_id", "datetime_updated", "user_sur_id")
      assert(dim.count() == 1)
      assert(dim.select("attr").head().getString(0) == "z2")
    }
  }

  test("map-typed attrs still get a deterministic identical-ts winner (via JSON)") {
    val batch = Seq(("E9", Map("k" -> "v1")), ("E9", Map("k" -> "v2")))
      .toDF("user_id", "attrs")
      .withColumn("datetime_updated", timestamp_seconds(lit(1700000500L)))
      .withColumn("user_sur_id", surrogateKey(col("user_id"), col("datetime_updated")))
      .select("user_sur_id", "user_id", "datetime_updated", "attrs")
    val empty = batch.limit(0)
      .withColumn("valid_from", col("datetime_updated"))
      .withColumn("valid_to", col("datetime_updated"))
      .withColumn("is_current", lit(true))
    (1 to 3).foreach { _ =>
      val dim = Scd2.applyBatch(empty, batch.repartition(8),
        "user_id", "datetime_updated", "user_sur_id")
      assert(dim.count() == 1)
      // JSON tie-break: {"k":"v2"} > {"k":"v1"} lexicographically
      assert(dim.select(col("attrs")("k")).head().getString(0) == "v2")
    }
  }

  test("current rows keep sentinel valid_to") {
    val cur = oneShot.filter(col("is_current"))
    assert(cur.filter(col("valid_to") =!= to_timestamp(lit(Scd2.Sentinel))).isEmpty)
  }

  // ------------------------------------------ one-join vs three-branch

  /** Reference model: the three-branch form [[Scd2.delta]] had before
    * it became one join. It collapses the batch to its latest row per
    * key, then runs the reference's merge-compare-split as three joins
    * against the current dim rows (etl.py:310-340): an anti join for
    * net-new keys, an inner join for changed keys and an expire join.
    * [[Scd2.delta]] must emit exactly these rows, duplicates included. */
  private def threeBranchDelta(batch: DataFrame, dimCurrent: DataFrame,
                               naturalKey: String, tsCol: String): DataFrame = {
    val attrCols = batch.columns.toSeq
    val meta = Seq("valid_from", "valid_to", "is_current")
    val batchLatest = batch
      .groupBy(col(naturalKey))
      .agg(max_by(struct(attrCols.map(col): _*),
                  struct((col(tsCol) +: attrCols.map(col)): _*)).as("__r"))
      .select(attrCols.map(c => col(s"__r.$c").as(c)): _*)
    val latest = dimCurrent.select(col(naturalKey), col(tsCol).as(s"${tsCol}_latest"))
    val netNew = batchLatest.join(latest, Seq(naturalKey), "left_anti")
    val changed = batchLatest.join(latest, Seq(naturalKey))
      .filter(col(s"${tsCol}_latest") < col(tsCol))
      .select(attrCols.map(col): _*)
    val opened = netNew.unionByName(changed)
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", to_timestamp(lit(Scd2.Sentinel)))
      .withColumn("is_current", lit(true))
    val newTs = batchLatest.select(col(naturalKey), col(tsCol).as(s"${tsCol}_new"))
    val expired = dimCurrent.join(newTs, Seq(naturalKey))
      .filter(col(tsCol) < col(s"${tsCol}_new"))
      .withColumn(tsCol, col(s"${tsCol}_new"))
      .withColumn("valid_to", col(s"${tsCol}_new"))
      .withColumn("is_current", lit(false))
      .select((attrCols ++ meta).map(col): _*)
    opened.select((attrCols ++ meta).map(col): _*).unionByName(expired)
  }

  /** (key, change ts offset, attr); None models a null. */
  private type Version = (Option[String], Option[Int], String)

  private val genVersion: Gen[Version] = for {
    k <- Gen.frequency(12 -> Gen.oneOf("K0", "K1", "K2", "K3").map(Some(_)),
                       1 -> Gen.const(None))
    ts <- Gen.frequency(6 -> Gen.choose(0, 3).map(Some(_)), 1 -> Gen.const(None))
    a <- Gen.oneOf("a", "b")
  } yield (k, ts, a)

  private val genCase: Gen[(List[Version], List[(Version, Int)])] = for {
    batch <- Gen.choose(0, 7).flatMap(Gen.listOfN(_, genVersion))
    dim <- Gen.choose(0, 6).flatMap(Gen.listOfN(_,
      Gen.zip(genVersion, Gen.choose(-2, 0))))
  } yield (batch, dim)

  private def batchFrame(vs: Seq[Version]): DataFrame = vs
    .toDF("user_id", "off", "attr")
    .withColumn("datetime_updated", timestamp_seconds(lit(1700000000) + col("off")))
    .withColumn("user_sur_id", concat_ws("@", col("user_id"), col("off").cast("string"), col("attr")))
    .select("user_sur_id", "user_id", "datetime_updated", "attr")

  /** Current dim rows: valid_from is `vfOff` before the row's change ts. */
  private def dimFrame(vs: Seq[(Version, Int)]): DataFrame = vs
    .map { case ((k, ts, a), vf) => (k, ts, a, vf) }
    .toDF("user_id", "off", "attr", "vf")
    .withColumn("datetime_updated", timestamp_seconds(lit(1700000000) + col("off")))
    .withColumn("user_sur_id", concat_ws("@", lit("dim"), col("user_id"), col("off").cast("string")))
    .withColumn("valid_from", timestamp_seconds(lit(1700000000) + col("off") + col("vf")))
    .withColumn("valid_to", to_timestamp(lit(Scd2.Sentinel)))
    .withColumn("is_current", lit(true))
    .select("user_sur_id", "user_id", "datetime_updated", "attr",
      "valid_from", "valid_to", "is_current")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map((r: Row) => r.toSeq.mkString("|")).sorted

  test("property: one-join delta == three-branch reference, quirks and duplicates included") {
    val seen = scala.collection.mutable.Set.empty[String]
    val prop = Prop.forAll(genCase) { case (bv, dv) =>
      val batch = batchFrame(bv)
      val dim = dimFrame(dv)
      val got = Scd2.delta(batch, dim, "user_id", "datetime_updated", "user_sur_id")
      val want = threeBranchDelta(batch, dim, "user_id", "datetime_updated")
      val dimKeys = dv.flatMap(_._1._1)
      val batchKeys = bv.flatMap(_._1)
      if (batchKeys.exists(k => !dimKeys.contains(k))) seen += "net-new key"
      if (batchKeys.groupBy(identity).exists(_._2.size > 1)) seen += "versions of one key"
      if (bv.groupBy(v => (v._1, v._2)).exists(g => g._1._1.nonEmpty && g._2.size > 1))
        seen += "equal timestamps"
      if (bv.exists(_._2.isEmpty) || dv.exists(_._1._2.isEmpty)) seen += "null change ts"
      if (dimKeys.groupBy(identity).exists { case (k, g) => g.size > 1 && batchKeys.contains(k) })
        seen += "two current rows"
      rows(got) == rows(want)
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(40)
      .withInitialSeed(20240601L), prop)
    assert(res.passed, res.status.toString)
    assert(seen === Set("net-new key", "versions of one key", "equal timestamps",
      "null change ts", "two current rows"))
  }
}
