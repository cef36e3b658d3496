package perfbench

import java.time.{DayOfWeek, LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

/** Plain-Scala model of the reference batch semantics, written from the
  * reference behaviour (FIXTURES.md) without calling any graft code, so the
  * benchmark can check the program's output independently:
  *
  *  - parse: mandatory symbol/strike/contract_type/spot (non-empty), strike
  *    and spot parse as doubles, absent mark/OI default to 0, a present but
  *    unparseable mark or a non-integer OI drops the row;
  *  - expiry: last `-` token of a symbol with at least 4 parts, exactly six
  *    digits DDMMYY, year 2000+YY, calendar-valid;
  *  - policy (over the expiries of every row, dropped ones included):
  *    hourly = the first 3 expiries >= today, else the latest past one;
  *    weekly = W1 (first Friday with >= 2 active expiries before it, else
  *    the first Friday) and W2 (the next Friday after W1);
  *  - inclusive band spot*(1-p) <= strike <= spot*(1+p), p = 7% / 25%;
  *  - keep-last by `src_seq` per symbol among the surviving rows;
  *  - state: keep-last by sequence per symbol over the tail, Close/OI coerced
  *    to a number or 0; Open = previous Close, OI_Change = OI - previous OI
  *    on a hit, both 0 on a miss;
  *  - NaN/Inf become null; rows ordered by (Expiry_Date, Time, SYMBOL).
  */
object RefModel {

  sealed abstract class Policy(val bandPct: Double)
  case object Hourly extends Policy(7.0)
  case object Weekly extends Policy(25.0)

  /** One sink row; the doubles are boxed because cleaning can null them. */
  final case class Row(
      symbol: String,
      date: String,
      time: String,
      future: java.lang.Double,
      expiry: String,
      strike: java.lang.Double,
      optionType: String,
      close: java.lang.Double,
      oi: Long,
      open: java.lang.Double,
      oiChange: Long
  ) {
    def canonical: String =
      Seq(symbol, date, time, num(future), expiry, num(strike), optionType, num(close),
        oi.toString, num(open), oiChange.toString).mkString("|")
  }

  /** A state row in its read-back text form. */
  final case class StateRow(symbol: String, close: String, oi: String, seq: Long)

  def num(d: java.lang.Double): String = if (d == null) "null" else java.lang.Double.toString(d)

  /** Row count plus an order-insensitive 64-bit hash of canonical rows. */
  final case class Digest(rows: Long, hash: Long) {
    def +(canonical: String): Digest = Digest(
      rows + 1,
      hash + ((MurmurHash3.stringHash(canonical, 0x5eed).toLong << 32) ^
        (MurmurHash3.stringHash(canonical, 0x0dd).toLong & 0xffffffffL)))
  }
  object Digest {
    val empty: Digest = Digest(0L, 0L)
    def of(canonicals: Iterable[String]): Digest = canonicals.foldLeft(empty)(_ + _)
  }

  def toDouble(s: String): Option[Double] =
    if (s == null) None
    else
      try Some(java.lang.Double.parseDouble(s))
      catch { case _: NumberFormatException => None }

  /** Python `int()` on a string: an optional sign and digits only. */
  def toLongStrict(s: String): Option[Long] = {
    if (s == null) return None
    val t = s.trim
    val digits = if (t.startsWith("+") || t.startsWith("-")) t.substring(1) else t
    if (digits.isEmpty || !digits.forall(c => c >= '0' && c <= '9')) None
    else t.toLongOption
  }

  def expiryOf(symbol: String): Option[LocalDate] = {
    if (symbol == null || symbol.count(_ == '-') < 3) return None
    val tok = symbol.substring(symbol.lastIndexOf('-') + 1)
    if (tok.length != 6 || !tok.forall(c => c >= '0' && c <= '9')) return None
    val (dd, mm, yy) = (tok.substring(0, 2).toInt, tok.substring(2, 4).toInt, tok.substring(4, 6).toInt)
    try Some(LocalDate.of(2000 + yy, mm, dd))
    catch { case _: java.time.DateTimeException => None }
  }

  def nearest(dates: Iterable[LocalDate], today: LocalDate, n: Int = 3): Seq[LocalDate] = {
    val sorted = dates.toSeq.distinct.sorted
    val active = sorted.filterNot(_.isBefore(today))
    if (active.nonEmpty) active.take(n) else sorted.lastOption.toSeq
  }

  def fridays(dates: Iterable[LocalDate], today: LocalDate): Seq[LocalDate] = {
    val active = dates.toSeq.distinct.sorted.filterNot(_.isBefore(today))
    val fri = active.indices.filter(i => active(i).getDayOfWeek == DayOfWeek.FRIDAY)
    if (fri.isEmpty) Seq.empty
    else {
      val w1 = active(fri.find(_ >= 2).getOrElse(fri.head))
      Seq(w1) ++ fri.map(active).find(_.isAfter(w1))
    }
  }

  private val ymd = DateTimeFormatter.ofPattern("yyyy-MM-dd")
  private val hms = DateTimeFormatter.ofPattern("HH:mm:ss")

  private def clean(d: Double): java.lang.Double =
    if (d.isNaN || d.isInfinite) null else Double.box(d)

  private final case class Kept(t: Ticker, expiry: LocalDate, strike: Double, spot: Double,
                                close: Double, oi: Long)

  /** One batch, fed row by row so a multi-million-row replay needs only
    * per-symbol memory (a symbol fixes its expiry, so keeping the latest
    * in-band row per symbol before the expiry filter is equivalent).
    */
  final class Batch(policy: Policy) {
    private val expiries = mutable.HashSet.empty[LocalDate]
    private val latest = mutable.HashMap.empty[String, Kept]
    var rowsIn = 0L

    def add(t: Ticker): Unit = {
      rowsIn += 1
      val exp = expiryOf(t.symbol)
      exp.foreach(expiries += _)
      def present(s: String) = s != null && s.nonEmpty
      if (!(present(t.symbol) && present(t.strike) && present(t.contractType) && present(t.spot))) return
      val close = if (t.mark == null) Some(0.0) else toDouble(t.mark)
      val oi = if (t.oi == null) Some(0L) else toLongStrict(t.oi)
      (exp, toDouble(t.strike), toDouble(t.spot), close, oi) match {
        case (Some(e), Some(k), Some(s), Some(c), Some(o)) =>
          val pct = policy.bandPct
          if (k >= s * (1.0 - pct / 100.0) && k <= s * (1.0 + pct / 100.0)) {
            val prev = latest.get(t.symbol)
            if (prev.forall(_.t.srcSeq < t.srcSeq)) latest(t.symbol) = Kept(t, e, k, s, c, o)
          }
        case _ =>
      }
    }

    def result(state: Seq[StateRow], today: LocalDate, at: LocalDateTime): Vector[Row] = {
      val targets = (policy match {
        case Hourly => nearest(expiries, today)
        case Weekly => fridays(expiries, today)
      }).toSet
      val prev = state.groupBy(_.symbol).map { case (sym, rs) =>
        val r = rs.maxBy(_.seq)
        val close = toDouble(r.close).getOrElse(0.0)
        val oi = toDouble(r.oi)
          .filter(d => !d.isNaN && !d.isInfinite && d < 9.223372036854775807e18 && d >= -9.223372036854775808e18)
          .map(_.toLong).getOrElse(0L)
        sym -> (close, oi)
      }
      val date = at.toLocalDate.format(ymd)
      val time = at.toLocalTime.format(hms)
      latest.values.filter(k => targets(k.expiry)).map { k =>
        val hit = prev.get(k.t.symbol)
        Row(k.t.symbol, date, time, clean(k.spot), k.expiry.format(ymd), clean(k.strike),
          if (k.t.contractType == "call_options") "Call" else "Put", clean(k.close), k.oi,
          clean(hit.fold(0.0)(_._1)), hit.fold(0L)(h => k.oi - h._2))
      }.toVector.sortBy(r => (r.expiry, r.time, r.symbol))
    }
  }

  def runBatch(raw: Iterable[Ticker], state: Seq[StateRow], policy: Policy,
               today: LocalDate, at: LocalDateTime): Vector[Row] = {
    val b = new Batch(policy)
    raw.foreach(b.add)
    b.result(state, today, at)
  }

  /** The sink's last `n` rows as state, in the sink's stored text form. */
  def tail(sink: Seq[(Row, Long)], n: Int = 300): Seq[StateRow] =
    sink.takeRight(n).map { case (r, seq) =>
      StateRow(r.symbol, if (r.close == null) null else java.lang.Double.toString(r.close), r.oi.toString, seq)
    }
}
