package graft.operators

import java.time.LocalDate
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Snapshot-shaping operators: strike band, expiry membership, keep-last
  * dedup, canonical sort (SURVEY.md §2.2-2.3).
  */
object Snapshot {

  /** Inclusive strike band around spot:
    * `spot*(1-p/100) <= strike <= spot*(1+p/100)`
    * (reference filter_strikes_by_percentage, main.py:83-87; ±7% hourly
    * main.py:120-121, ±25% weekly deltaweekly.py:152-153).
    * Expressed as a plain BETWEEN so it pushes down to the scan.
    */
  def strikeBand(strike: Column, spot: Column, pct: Double): Column = {
    val lo = spot * lit(1.0 - pct / 100.0)
    val hi = spot * lit(1.0 + pct / 100.0)
    strike.between(lo, hi)
  }

  /** Expiry-membership filter (reference main.py:193). The target set is
    * 2-3 dates, so a local `isin` — Catalyst turns it into an In predicate
    * that can prune parquet row groups; no join needed.
    */
  def expiryIn(expiry: Column, targets: Seq[LocalDate]): Column =
    expiry.isin(targets.map(java.sql.Date.valueOf): _*)

  /** Keep-LAST-by-key dedup (reference drop_duplicates(keep='last'),
    * main.py:233). pandas' keep-last depends on input order; Spark makes it
    * deterministic with an explicit arrival-order column (SURVEY.md §7.4):
    * row_number over (key, order desc) == 1. NOT bare dropDuplicates —
    * that keeps an arbitrary row.
    *
    * Scale: one hash-partitioned shuffle on the key; within-partition sort
    * only. Skewed keys are handled by AQE.
    */
  def keepLast(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame =
    keepLastBy(df, keys, Seq(col(orderCol)))

  /** Keep-last with a composite arrival order (e.g. (ts, event_id)). */
  def keepLastBy(df: DataFrame, keys: Seq[String], orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** Canonical 3-key sink ordering (reference main.py:236-239,319-322). */
  val canonicalOrder: Seq[Column] = Seq(col("Expiry_Date").asc, col("Time").asc, col("SYMBOL").asc)

  /** [[canonicalOrder]] as a global sort (one range-partitioned exchange). */
  def canonicalSort(df: DataFrame): DataFrame = df.orderBy(canonicalOrder: _*)

  /** NaN/±Inf → NULL cleanup before the sink (reference
    * clean_dataframe_for_json, main.py:33-41, applied main.py:338).
    */
  def cleanNumeric(c: Column): Column =
    when(isnan(c) || c === Double.PositiveInfinity || c === Double.NegativeInfinity, lit(null))
      .otherwise(c)
}
