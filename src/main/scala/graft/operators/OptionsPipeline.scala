package graft.operators

import java.time.{LocalDate, LocalTime}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Schemas

/** End-to-end batch of the options pipeline: the Spark-native re-expression
  * of reference `fetch_eth_options_data` + `calculate_open_and_oi_change`
  * (main.py:91-330; weekly variant deltaweekly.py): parse → band filter →
  * keep-last dedup → expiry filter → broadcast delta join → canonical sort.
  *
  * The batch timestamp is injected (run-constant, SURVEY.md §7.4) rather
  * than taken from the clock: the reference stamps one wall-clock value per
  * run (main.py:126), and injection keeps tests/oracles deterministic.
  */
object OptionsPipeline {

  sealed trait Policy
  /** Hourly: E0/E1/E2 nearest expiries, ±7% band (main.py). */
  case object Hourly extends Policy
  /** Weekly: W1/W2 Friday expiries, ±25% band (deltaweekly.py). */
  case object Weekly extends Policy

  /** Parse the raw ticker snapshot into the typed pre-join shape
    * (SURVEY.md §2.2): mandatory-field drop, strict numeric parsing
    * (reference `float()`/`int()` throw → row dropped, main.py:168-169,
    * 197-198,220-223 — absent mark/oi default to 0), per-row spot, symbol →
    * expiry, option-type CASE. Filter order differs from the reference's
    * sequential `continue`s but all predicates are conjunctive, so the
    * surviving set is identical.
    */
  def parseSnapshot(raw: DataFrame): DataFrame = dropUnparseable(parseColumns(raw))

  /** The parse as a pure PROJECTION — every string→typed conversion, no row
    * drops (those are [[dropUnparseable]]). Rows that fail
    * [[Parse.mandatoryPresent]] are kept here (flag column `mandatory_ok`)
    * because the reference's pass-1 expiry scan sees them too
    * (main.py:128-141).
    */
  def parseColumns(raw: DataFrame): DataFrame =
    raw.select(
      col("symbol").as("SYMBOL"),
      Parse.expiryFromSymbol(col("symbol")).as("expiry"),
      Parse.tryDouble(col("strike_price")).as("Strike"),
      Parse.tryDouble(col("spot_price")).as("spot"),
      Parse.optionType(col("contract_type")).as("Option_Type"),
      Parse.markPriceOrDrop(col("mark_price")).as("Close"),
      Parse.oiContractsOrDrop(col("oi_contracts")).as("OI"),
      col("src_seq"),
      Parse.mandatoryPresent(raw).as("mandatory_ok")
    )

  /** Row-drop semantics of the reference parse loop (main.py:164-223):
    * mandatory fields present + every numeric/date conversion succeeded.
    */
  def dropUnparseable(typed: DataFrame): DataFrame =
    typed
      .where(
        col("mandatory_ok") &&
          col("Strike").isNotNull && col("spot").isNotNull &&
          col("expiry").isNotNull && col("Close").isNotNull && col("OI").isNotNull
      )
      .drop("mandatory_ok")

  /** One scheduled run (reference main(), main.py:353-396), in canonical
    * sink order.
    *
    * @param rawTickers raw snapshot (Schemas.ticker shape, with src_seq)
    * @param state      previous sink rows (tail-N read-back; may be empty)
    * @param today      "today" for expiry policy (reference uses IST now)
    * @param batchDate  run-constant Date stamp (yyyy-MM-dd)
    * @param batchTime  run-constant Time stamp (HH:mm:ss)
    */
  def runBatch(
      rawTickers: DataFrame,
      state: DataFrame,
      policy: Policy,
      today: LocalDate,
      batchDate: LocalDate,
      batchTime: LocalTime
  ): DataFrame =
    Snapshot.canonicalSort(batchRows(rawTickers, state, policy, today, batchDate, batchTime))

  /** [[runBatch]]'s rows in no particular order — what
    * [[graft.sinks.ParquetSink.append]] sorts and numbers in one pass.
    *
    * One job pass (plus its shuffle stage) parses, drops unparseable rows,
    * bands and keep-last dedups the snapshot, and materializes that small
    * frame. The same pass observes the distinct parsed expiry set BEFORE the
    * mandatory drop, as the reference's pass 1 does (main.py:128-141); the
    * policy picks its targets from that set on the driver. The expiry filter
    * then runs after keep-last, which is exact because `expiry` is a
    * function of SYMBOL alone: it removes whole keep-last groups.
    */
  def batchRows(
      rawTickers: DataFrame,
      state: DataFrame,
      policy: Policy,
      today: LocalDate,
      batchDate: LocalDate,
      batchTime: LocalTime
  ): DataFrame = {
    val bandPct = policy match {
      case Hourly => 7.0
      case Weekly => 25.0
    }
    // Per-row spot (reference main.py:168-172,204): each ticker is banded
    // against ITS OWN spot_price and emits that value as Future_Price.
    val typed = parseColumns(rawTickers).observe(ExpirySet, collect_set(col("expiry")).as("expiries"))
    val dedupedPlan = Snapshot.keepLast(
      dropUnparseable(typed).where(Snapshot.strikeBand(col("Strike"), col("spot"), bandPct)),
      Seq("SYMBOL"), "src_seq")
    val deduped = dedupedPlan.localCheckpoint(eager = true)
    val expiries = dedupedPlan.queryExecution.observedMetrics.get(ExpirySet) match {
      case Some(row) => row.getSeq[java.sql.Date](0).map(_.toLocalDate)
      // adaptive execution prunes a stage that produced no rows from the
      // final plan, and its observed metric with it; no row survives then
      case None if deduped.isEmpty => Seq.empty
      case None =>
        throw new IllegalStateException(s"the dedup pass reported no '$ExpirySet' metric")
    }
    val targets = policy match {
      case Hourly => ExpiryPolicy.nearestFromDates(expiries, today)
      case Weekly => ExpiryPolicy.fridayFromDates(expiries, today)
    }

    val stamped = deduped
      .where(Snapshot.expiryIn(col("expiry"), targets))
      .withColumn("Date", date_format(lit(java.sql.Date.valueOf(batchDate)), "yyyy-MM-dd"))
      .withColumn(
        "Time",
        lit(batchTime.format(java.time.format.DateTimeFormatter.ofPattern("HH:mm:ss")))
      )
      .withColumn("Future_Price", col("spot"))
      .withColumn("Expiry_Date", date_format(col("expiry"), "yyyy-MM-dd"))

    val withDelta = Delta.applyDelta(stamped, Delta.prepareState(state, "state_seq"))

    Seq("Future_Price", "Strike", "Close", "Open")
      .foldLeft(withDelta)((df, c) => df.withColumn(c, Snapshot.cleanNumeric(col(c))))
      .select(Schemas.sinkColumns.map(col): _*)
  }

  /** Name of the observed distinct-expiry metric of [[batchRows]]' pass. */
  private val ExpirySet = "graft_expiry_set"
}
