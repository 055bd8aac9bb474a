package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.LarkFunctions.surrogateKey

/** SCD Type-2 dimension maintenance (SURVEY.md §2.8).
  *
  * Semantics reproduce the reference's three-branch merge-compare-split
  * (reference: dags/utils/etl.py:274-354, 356-422), including its
  * quirks:
  *   - branch 3 (expire) overwrites the expired row's change timestamp
  *     with the new version's (etl.py:337) while keeping the OLD
  *     surrogate key, so the upsert updates the old version in place;
  *   - branch 3 never resets valid_from — it keeps whatever the expired
  *     row carried.
  *
  * Two implementations:
  *   - [[delta]]: incremental — one batch vs. the current dim slice.
  *     This is the reference's operational shape (5-minute micro-batch).
  *     One left join feeds all three branches and one explode emits
  *     their rows.
  *   - [[fromHistory]]: full rebuild from an ordered change history in
  *     ONE window pass — the 100 TB shape for backfills: a single
  *     shuffle on the natural key instead of N sequential joins, no
  *     lineage growth, no driver-side loop.
  */
object Scd2 {

  val Sentinel = "2099-01-01 12:00:00"

  /** Columns the builder manages. */
  private val meta = Seq("valid_from", "valid_to", "is_current")

  /** Incremental SCD2 delta: rows to upsert (keyed on `surKey`) given
    * today's batch and the current (`is_current = true`) dim rows.
    *
    * `batch` must carry the natural key, the change timestamp `tsCol`,
    * a `surKey` column (surrogate), and the attribute columns;
    * `dimCurrent` carries the same plus valid_from/valid_to/is_current.
    *
    * Evaluate-once contract: the plan reads `batch` and `dimCurrent`
    * once each — one aggregate collapses the batch to its latest row per
    * key, one left join meets the current dim rows, one explode emits
    * the versions. Nothing is shared between branches by re-planning a
    * subtree, so the caller's frames are scanned once per action.
    */
  def delta(batch: DataFrame, dimCurrent: DataFrame, naturalKey: String,
            tsCol: String, surKey: String): DataFrame = {
    val sentinelTs = to_timestamp(lit(Sentinel))
    val attrCols = batch.columns.toSeq

    // a batch may carry several versions of one key (two edits inside
    // one micro-batch); keep the LATEST per key — without this, every
    // intra-batch version opens as current and the dim ends with
    // duplicate surrogate keys and two is_current rows (the batch is a
    // snapshot delta, not an ordered history; replay history through
    // fromHistory or per-version applyBatch folds instead)
    // ordering = (ts, attrs...) so two versions with IDENTICAL ts pick
    // a deterministic winner (lexicographic on attribute values) — with
    // ts alone the kept row would vary run-to-run and engine-to-engine.
    // Non-orderable attr types (maps) would fail analysis inside
    // max_by's ordering struct, so they join the tie-break through
    // their JSON text instead — every column still participates and the
    // winner stays deterministic for ANY schema.
    val tieBreak = batch.schema.fields.toSeq.map { f =>
      if (org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(f.dataType)) col(f.name)
      else to_json(struct(col(f.name)))
    }
    val batchLatest = batch
      .groupBy(col(naturalKey))
      .agg(max_by(struct(attrCols.map(col): _*),
                  struct((col(tsCol) +: tieBreak): _*)).as("__r"))
      .select(attrCols.map(c => col(s"__r.$c").as(c)): _*)

    // One left join of the latest batch rows against the current dim
    // rows feeds all three branches, and one explode emits each opened
    // and/or expired version — the dim side is scanned and joined once.
    // A batch row without a dim match (`__m` null) is net-new (branch
    // 1, etl.py:310-317). A matched row whose dim version is older opens
    // the new version (branch 2, etl.py:320-329) AND expires the old one
    // (branch 3, etl.py:332-340): the old row's attributes survive, its
    // change ts is OVERWRITTEN to the new version's ts, valid_from is
    // untouched and the old surrogate key is carried. A key with two
    // current dim rows joins twice and emits both branches twice, as the
    // three-join form did. Null timestamps compare as null: neither
    // branch 2 nor 3 fires.
    def d(c: String) = s"__d_$c"
    val dim = dimCurrent.select(
      ((attrCols ++ meta).map(c => col(c).as(d(c))) :+ lit(true).as("__m")): _*)
    val joined = batchLatest.join(dim, col(naturalKey) === col(d(naturalKey)), "left")
    val newer = col(d(tsCol)) < col(tsCol)
    val opened = struct((attrCols.map(col) ++ Seq(
      col(tsCol).as("valid_from"), sentinelTs.as("valid_to"),
      lit(true).as("is_current"))): _*)
    val expired = struct((attrCols.map(c =>
      (if (c == tsCol) col(tsCol) else col(d(c))).as(c)) ++ Seq(
      col(d("valid_from")).as("valid_from"), col(tsCol).as("valid_to"),
      lit(false).as("is_current"))): _*)
    joined
      .select(explode(array(
        when(col("__m").isNull || newer, opened),
        when(newer, expired))).as("__v"))
      .filter(col("__v").isNotNull)
      .select((attrCols ++ meta).map(c => col(s"__v.$c").as(c)): _*)
  }

  /** Apply a batch to a full dim snapshot: delta + keyed upsert. */
  def applyBatch(dim: DataFrame, batch: DataFrame, naturalKey: String,
                 tsCol: String, surKey: String): DataFrame = {
    val d = delta(batch, dim.filter(col("is_current")), naturalKey, tsCol, surKey)
    MergeUpsert(dim, d, Seq(surKey))
  }

  /** Full SCD2 rebuild from an ordered version history in one window
    * pass. `versions` has one row per (naturalKey, change ts) with the
    * attribute columns; output matches what folding [[delta]] over the
    * versions in ts order produces — the equivalence is property-tested.
    */
  def fromHistory(versions: DataFrame, naturalKey: String, tsCol: String,
                  surKey: String): DataFrame = {
    val w = Window.partitionBy(col(naturalKey)).orderBy(col(tsCol))
    val nextTs = lead(col(tsCol), 1).over(w)
    versions
      .withColumn(surKey, surrogateKey(col(naturalKey), col(tsCol)))
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", coalesce(nextTs, to_timestamp(lit(Sentinel))))
      .withColumn("is_current", nextTs.isNull)
      // branch-3 quirk: expired rows carry the NEXT version's change ts
      .withColumn(tsCol, coalesce(nextTs, col(tsCol)))
  }
}
