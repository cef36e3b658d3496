package perfbench

import java.time.{DayOfWeek, LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter
import java.time.temporal.TemporalAdjusters
import java.util.SplittableRandom

/** One raw ticker in the wire shape of `graft.Schemas.ticker`: every numeric
  * is a string (or absent = null), `srcSeq` is the arrival stamp.
  */
final case class Ticker(
    symbol: String,
    contractType: String,
    strike: String,
    spot: String,
    mark: String,
    oi: String,
    srcSeq: Long
) {
  /** JSON-lines form; null fields are omitted like an absent key. */
  def json: String = {
    val sb = new StringBuilder("{")
    def field(k: String, v: String): Unit = if (v != null) {
      if (sb.length > 1) sb.append(',')
      sb.append('"').append(k).append("\":\"").append(v).append('"')
    }
    field("symbol", symbol)
    field("contract_type", contractType)
    field("strike_price", strike)
    field("spot_price", spot)
    field("mark_price", mark)
    field("oi_contracts", oi)
    sb.append(",\"src_seq\":").append(srcSeq).append('}').toString
  }
}

/** Seeded ETH option chain that evolves tick by tick.
  *
  * The listing has 12 expiries (dailies, Friday weeklies, last-Friday
  * monthlies) with strike grids around a random-walking spot, about 2000
  * contracts whatever the seed, so per-tick work does not vary with it. Each [[next]] call is one exchange snapshot: spot,
  * mark and OI random-walk, arrival order is reshuffled, and about 1% of
  * tickers are duplicated (a later copy with other values) or malformed
  * (bad symbol, calendar-invalid expiry, non-numeric strike, missing
  * mandatory field, fractional OI, unparseable mark). All draws come from
  * one `SplittableRandom(seed)`, so a seed fixes every byte.
  */
final class Chain(seed: Long) {
  private val rng = new SplittableRandom(seed)
  private val ddMMyy = DateTimeFormatter.ofPattern("ddMMyy")

  /** Clock of tick 0; tick i is `start + i hours`. */
  val start: LocalDateTime =
    LocalDateTime.of(2026, 1 + rng.nextInt(10), 1 + rng.nextInt(27), rng.nextInt(24), 0)
  private val today0 = start.toLocalDate

  private var spot: Double = 2400.0 + rng.nextDouble() * 1200.0

  /** Dailies, four Friday weeklies and last-Friday monthlies: 12 expiries. */
  val expiries: Vector[LocalDate] = {
    val firstFri = today0.`with`(TemporalAdjusters.nextOrSame(DayOfWeek.FRIDAY))
    val listed = (0 until 4).map(i => today0.plusDays(i.toLong)) ++
      (0 until 4).map(i => firstFri.plusWeeks(i.toLong)) ++
      (1 to 6).map(i => today0.plusMonths(i.toLong).`with`(TemporalAdjusters.lastInMonth(DayOfWeek.FRIDAY)))
    listed.distinct.sorted.take(12).toVector
  }

  private final class Contract(val symbol: String, val call: Boolean, val strike: Int, var mark: Double, var oi: Long)

  /** About 2000 contracts for every seed: each expiry lists the same number
    * of strikes, centred on spot, on a grid that widens with tenor.
    */
  private val contracts: Vector[Contract] = {
    val perExpiry = Chain.Contracts / (2 * expiries.size)
    expiries.flatMap { e =>
      val days = java.time.temporal.ChronoUnit.DAYS.between(today0, e)
      val step = if (days <= 31) 25 else 50
      val centre = math.round(spot / step).toInt
      val strikes = (0 until perExpiry).map(j => (centre - perExpiry / 2 + j) * step)
      strikes.flatMap(k =>
        Seq(true, false).map { call =>
          val intrinsic = math.max(0.0, if (call) spot - k else k - spot)
          val timeValue = spot * 0.01 * math.sqrt(days + 1.0) * math.exp(-5.0 * math.abs(math.log(k / spot)))
          new Contract(
            s"${if (call) "C" else "P"}-ETH-$k-${e.format(ddMMyy)}",
            call, k, intrinsic + timeValue + 0.1, 50L + rng.nextInt(5000))
        })
    }
  }

  def symbols: Vector[String] = contracts.map(_.symbol)

  private var tick = 0

  private def fmt2(d: Double): String = Chain.fixed(d, 2)
  private def fmt1(d: Double): String = Chain.fixed(d, 1)

  /** The next snapshot and its clock. */
  def next(): (LocalDateTime, Vector[Ticker]) = {
    val at = start.plusHours(tick.toLong)
    val base = tick.toLong * 10000000L
    tick += 1
    spot *= math.exp(0.004 * rng.nextGaussian())
    contracts.foreach { c =>
      c.mark = math.max(0.1, c.mark * math.exp(0.03 * rng.nextGaussian()))
      c.oi = math.max(0L, c.oi + math.round(rng.nextGaussian() * 25.0))
    }
    val order = contracts.toArray
    var i = order.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
      i -= 1
    }
    val out = Vector.newBuilder[Ticker]
    val dups = Vector.newBuilder[Contract]
    var seq = base
    def emit(mark: String, oi: String, symbol: String, strike: String,
             ctype: String, spotStr: String): Unit = {
      seq += 1
      out += Ticker(symbol, ctype, strike, spotStr, mark, oi, seq)
    }
    order.foreach { c =>
      val spotStr = fmt2(spot + (rng.nextInt(5) - 2) * 0.01)
      val ctype = if (c.call) "call_options" else "put_options"
      val mark = fmt1(c.mark)
      val oi = c.oi.toString
      val k = c.strike.toString
      if (rng.nextInt(100) != 0) emit(mark, oi, c.symbol, k, ctype, spotStr)
      else rng.nextInt(10) match {
        case 0 => // duplicate: a stale copy now, the live values at the end
          emit(fmt1(c.mark * 0.9), (c.oi + 7).toString, c.symbol, k, ctype, spotStr)
          dups += c
        case 1 => emit(mark, oi, c.symbol + "7", k, ctype, spotStr) // 7-char token
        case 2 => emit(mark, oi, c.symbol.substring(0, c.symbol.lastIndexOf('-')), k, ctype, spotStr)
        case 3 => emit(mark, oi, c.symbol.substring(0, c.symbol.lastIndexOf('-') + 1) + "310299", k, ctype, spotStr)
        case 4 => emit(mark, oi, c.symbol, "n/a", ctype, spotStr)
        case 5 => emit(mark, oi, c.symbol, null, ctype, spotStr)
        case 6 => emit(mark, oi + ".5", c.symbol, k, ctype, spotStr)
        case 7 => emit("--", oi, c.symbol, k, ctype, spotStr)
        case 8 => emit(null, null, c.symbol, k, ctype, spotStr) // absent mark/OI: kept as 0
        case _ => emit(mark, oi, c.symbol, k, "", spotStr) // missing contract_type
      }
    }
    dups.result().foreach { c =>
      emit(fmt1(c.mark), c.oi.toString, c.symbol, c.strike.toString,
        if (c.call) "call_options" else "put_options", fmt2(spot))
    }
    (at, out.result())
  }
}

object Chain {
  val Contracts = 2000

  def fixed(d: Double, decimals: Int): String =
    java.math.BigDecimal.valueOf(d).setScale(decimals, java.math.RoundingMode.HALF_UP).toPlainString
}
