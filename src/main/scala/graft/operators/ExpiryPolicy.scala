package graft.operators

import java.time.LocalDate
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Expiry-selection policies (SURVEY.md §2.3).
  *
  * Input: a DataFrame with a single `expiry: date` column (any multiplicity —
  * we distinct it here). Output: the ≤3 (hourly) or ≤2 (weekly) target dates.
  *
  * Scale note: distinct option expiries are bounded by the listing calendar
  * (dozens), not by data volume, so the final `.collect()` of ≤3 rows is
  * safe at any scale; all heavy lifting (distinct over billions of rows)
  * stays distributed.
  */
object ExpiryPolicy {

  /** Distinct expiries collected to the driver — bounded by the listing
    * calendar, so this is a tiny set at any data scale.
    */
  private def collectDistinct(expiries: DataFrame): Seq[LocalDate] =
    expiries
      .select(col("expiry"))
      .where(col("expiry").isNotNull)
      .distinct()
      .collect()
      .map(_.getDate(0).toLocalDate)
      .toSeq

  /** E0/E1/E2: first 3 distinct future expiries ascending; if none is ≥
    * today, fall back to the single latest past expiry
    * (reference get_current_and_next_expiry, main.py:43-80, fallback 64-65).
    */
  def nearestExpiries(expiries: DataFrame, today: LocalDate, n: Int = 3): Seq[LocalDate] =
    nearestFromDates(collectDistinct(expiries), today, n)

  /** Pure-Scala core of the E0/E1/E2 policy over an already-distinct,
    * bounded expiry set (also used by OptionsPipeline, which gathers the
    * set in its dedup pass).
    */
  def nearestFromDates(dates: Seq[LocalDate], today: LocalDate, n: Int = 3): Seq[LocalDate] = {
    val distinct = dates.distinct.sorted
    val active = distinct.filter(!_.isBefore(today))
    if (active.nonEmpty) active.take(n)
    else distinct.lastOption.toSeq
  }

  /** W1/W2 Friday policy (reference get_current_and_next_friday_expiry,
    * deltaweekly.py:43-111):
    *   - active = distinct expiries ≥ today, ascending;
    *   - W1 = first Friday with ≥2 active expiries strictly before it
    *     (dw:70-81); fallback = first Friday at all (dw:84-86);
    *   - W2 = first Friday strictly after W1 (dw:89-94), may be absent.
    */
  def fridayExpiries(expiries: DataFrame, today: LocalDate): Seq[LocalDate] =
    fridayFromDates(collectDistinct(expiries), today)

  /** Pure-Scala core of the Friday W1/W2 policy ("count strictly before"
    * over the ascending distinct actives, SURVEY.md §2.3).
    */
  def fridayFromDates(dates: Seq[LocalDate], today: LocalDate): Seq[LocalDate] = {
    val active = dates.distinct.sorted.filter(!_.isBefore(today))
    val fridays = active.zipWithIndex.collect {
      case (d, nBefore) if d.getDayOfWeek == java.time.DayOfWeek.FRIDAY => (d, nBefore)
    }
    if (fridays.isEmpty) return Seq.empty
    val w1 = fridays.find(_._2 >= 2).map(_._1).getOrElse(fridays.head._1)
    val w2 = fridays.map(_._1).find(_.isAfter(w1))
    Seq(w1) ++ w2
  }
}
