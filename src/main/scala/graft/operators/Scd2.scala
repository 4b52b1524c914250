package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.functions.Keys

/** SCD Type-2 snapshot, dbt `timestamp` strategy (ref:
  * snapshots/customer_email_scd.sql:5-12 — strategy='timestamp',
  * unique_key = user|email|time_stamp composite, updated_at = event_ts).
  *
  * Implemented without Delta as pure DataFrame algebra; the caller persists
  * the returned snapshot and feeds it back as `current` on the next run
  * (SURVEY §7.4 risk 5: snapshot state is a persisted input, not a pure
  * node). All joins key on the dbt-style scd_id so the merge is a plain
  * shuffle-hash join at scale.
  */
object Scd2 {

  val metaCols: Seq[String] = Seq("dbt_scd_id", "dbt_updated_at", "dbt_valid_from", "dbt_valid_to")

  /** dbt's scd_id = hash of the unique key. The reference's unique_key
    * already embeds its event timestamp ('user|email|time_stamp',
    * customer_email_scd.sql:7), so callers fold any update-time into
    * `uniqueKey` — as an epoch integer, not a formatted timestamp, to keep
    * the hash portable across engines' timestamp-to-string formats.
    */
  private def scdId(uniqueKey: Seq[String]): Column =
    Keys.md5Key64(Keys.preimage(uniqueKey.map(col)))

  /** First-run semantics: every incoming row opens a version. */
  def firstRun(incoming: DataFrame, uniqueKey: Seq[String], updatedAt: String): DataFrame =
    incoming
      .withColumn("dbt_scd_id", scdId(uniqueKey))
      .withColumn("dbt_updated_at", col(updatedAt))
      .withColumn("dbt_valid_from", col(updatedAt))
      .withColumn("dbt_valid_to", lit(null).cast(TimestampType))

  /** Subsequent run: dbt timestamp-strategy merge.
    *   - new keys            → insert, open version
    *   - key exists, newer `updatedAt` → close current version at the new
    *     row's `updatedAt`, insert the new open version
    *   - key exists, same/older       → no-op
    */
  def snapshot(current: DataFrame, incoming: DataFrame,
               uniqueKey: Seq[String], updatedAt: String): DataFrame = {
    val keyCol = Keys.preimage(uniqueKey.map(col)).as("_key")
    val cur = current.withColumn("_key", keyCol)
    val inc = incoming.withColumn("_key", keyCol)

    // Latest open version per key in the current snapshot.
    val openCur = cur.filter(col("dbt_valid_to").isNull)
    val curState = openCur.select(col("_key"), col("dbt_updated_at").as("_cur_ts"))

    // One new version per key per run: dbt requires the snapshot query to be
    // unique on unique_key; if a batch carries several newer rows for one
    // key, keep only the latest (otherwise the merge would open multiple
    // simultaneous versions). Tie-break on updatedAt is deterministic
    // because a later duplicate at the same instant is a no-op row.
    val latestW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_key")).orderBy(col(updatedAt).desc)
    val incNew = inc.join(curState, Seq("_key"), "left")
      .filter(col("_cur_ts").isNull || col(updatedAt) > col("_cur_ts"))
      .drop("_cur_ts")
      .withColumn("_rn", org.apache.spark.sql.functions.row_number().over(latestW))
      .filter(col("_rn") === 1)
      .drop("_rn")
    val changes = incNew
      .withColumn("dbt_scd_id", scdId(uniqueKey))
      .withColumn("dbt_updated_at", col(updatedAt))
      .withColumn("dbt_valid_from", col(updatedAt))
      .withColumn("dbt_valid_to", lit(null).cast(TimestampType))

    // Close superseded open versions at the newest incoming updatedAt per
    // key, read off the change rows in one window over cur ∪ changes, so
    // incNew (its join, broadcast and row_number) is planned once. The
    // `_rn = 1` filter left at most one change row per key, so its
    // dbt_updated_at is the per-key max; `_key` is never null (a concat_ws
    // of coalesced parts), so the partition matches a join on it. A change
    // row's own close time equals its dbt_updated_at and leaves it open.
    val keyW = Window.partitionBy(col("_key"))
    cur.withColumn("_chg", lit(false))
      .unionByName(changes.select(cur.columns.map(col): _*).withColumn("_chg", lit(true)))
      .withColumn("_close_ts",
        max(when(col("_chg"), col("dbt_updated_at"))).over(keyW))
      .withColumn("dbt_valid_to",
        when(col("dbt_valid_to").isNull && col("_close_ts").isNotNull
          && col("_close_ts") > col("dbt_updated_at"), col("_close_ts"))
          .otherwise(col("dbt_valid_to")))
      .drop("_close_ts", "_chg", "_key")
  }

  /** Entity-state history via LEAD — each key's consecutive states get
    * [valid_from, valid_to) ranges; open version has NULL valid_to.
    */
  def entityHistory(df: DataFrame, key: Seq[String], stateCol: String,
                    ts: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(key.map(col): _*)
      .orderBy(col("valid_from").asc, col(tieBreak).asc)
    df.select((key.map(col) :+ col(stateCol) :+ col(ts).as("valid_from") :+ col(tieBreak)): _*)
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }
}
