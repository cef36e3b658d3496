package perfbench

import java.io.File
import java.time.{LocalDate, LocalDateTime}

import RefModel._

/** Checks of the benchmark's own parts, run before every workload:
  * the generator is byte-deterministic per seed, and the reference model
  * reproduces the FIXTURES.md golden cases. Each returns failure messages.
  */
object SelfCheck {

  def determinism(seed: Long, scratch: File): Seq[String] = {
    def bytes(c: Chain) = (0 until 3).map(_ => c.next()._2.map(_.json).mkString("\n")).mkString("\n\n")
    val (a, b) = (bytes(new Chain(seed)), bytes(new Chain(seed)))
    val json = if (a == b) Nil else Seq(s"generator output differs between two Chain($seed)")
    val other = if (bytes(new Chain(seed + 1)) != a) Nil else Seq(s"seeds $seed and ${seed + 1} give identical output")
    scratch.mkdirs()
    val files = Seq("a", "b").map { n =>
      val f = new File(scratch, s"determinism-$n.parquet")
      Files.writeSnapshot(f, new Chain(seed).next()._2)
      java.nio.file.Files.readAllBytes(f.toPath).toSeq
    }
    json ++ other ++ (if (files(0) == files(1)) Nil else Seq("snapshot parquet bytes differ for one seed"))
  }

  private val at = LocalDateTime.of(2026, 3, 2, 10, 0) // a Monday
  private def d(s: String) = LocalDate.parse(s)
  private def call(sym: String, strike: String, seq: Long, spot: String = "1000", mark: String = "1.5", oi: String = "7") =
    Ticker(sym, "call_options", strike, spot, mark, oi, seq)

  /** (case name, actual, expected) — outputs as canonical rows in sink order. */
  private def cases: Seq[(String, Seq[String], Seq[String])] = Seq(
    ("band boundary is inclusive at +-7%",
      runBatch(Seq(
        call("C-ETH-930-020326", "930", 1), call("C-ETH-1070-020326", "1070", 2),
        call("C-ETH-929-020326", "929.99", 3), call("C-ETH-1071-020326", "1070.01", 4)),
        Nil, Hourly, at.toLocalDate, at).map(_.canonical),
      Seq("C-ETH-1070-020326|2026-03-02|10:00:00|1000.0|2026-03-02|1070.0|Call|1.5|7|0.0|0",
        "C-ETH-930-020326|2026-03-02|10:00:00|1000.0|2026-03-02|930.0|Call|1.5|7|0.0|0")),
    ("all expiries past: the latest past one is kept",
      runBatch(Seq(call("C-ETH-1000-010326", "1000", 1), call("C-ETH-1000-050326", "1000", 2),
        Ticker("C-ETH-1000-270226", "", "1000", "1000", "1", "1", 3)),
        Nil, Hourly, d("2026-03-10"), at).map(_.canonical),
      Seq("C-ETH-1000-050326|2026-03-02|10:00:00|1000.0|2026-03-05|1000.0|Call|1.5|7|0.0|0")),
    ("no Friday among active expiries: weekly keeps nothing",
      fridays(Seq(d("2026-03-02"), d("2026-03-03"), d("2026-02-27")), d("2026-03-01")).map(_.toString),
      Nil),
    ("W1 needs two earlier actives, W2 is the next Friday",
      fridays(Seq(d("2026-03-06"), d("2026-03-09"), d("2026-03-13"), d("2026-03-20")), d("2026-03-02")).map(_.toString),
      Seq("2026-03-13", "2026-03-20")),
    ("no Friday with two earlier actives: first Friday, then the next",
      fridays(Seq(d("2026-03-06"), d("2026-03-13")), d("2026-03-02")).map(_.toString),
      Seq("2026-03-06", "2026-03-13")),
    ("garbage state coerces to 0; a miss gives zeros",
      runBatch(Seq(call("C-ETH-1000-020326", "1000", 1, mark = "12.5", oi = "40"),
        call("C-ETH-1010-020326", "1010", 2, mark = "3.0", oi = "40"),
        call("C-ETH-1020-020326", "1020", 3, mark = "4.0", oi = "40")),
        Seq(StateRow("C-ETH-1000-020326", "abc", "xyz", 1), StateRow("C-ETH-1010-020326", "11.0", "30", 2)),
        Hourly, at.toLocalDate, at).map(_.canonical),
      Seq("C-ETH-1000-020326|2026-03-02|10:00:00|1000.0|2026-03-02|1000.0|Call|12.5|40|0.0|40",
        "C-ETH-1010-020326|2026-03-02|10:00:00|1000.0|2026-03-02|1010.0|Call|3.0|40|11.0|10",
        "C-ETH-1020-020326|2026-03-02|10:00:00|1000.0|2026-03-02|1020.0|Call|4.0|40|0.0|0")),
    ("duplicate symbol: keep-last in the batch and in the state tail",
      runBatch(Seq(call("P-ETH-1000-030326", "1000", 2, mark = "2.0", oi = "20"),
        call("P-ETH-1000-030326", "1000", 1, mark = "1.0", oi = "10"),
        call("P-ETH-1000-030326", "1000", 3, mark = "9.0", oi = "12.5")),
        Seq(StateRow("P-ETH-1000-030326", "6.0", "60", 2), StateRow("P-ETH-1000-030326", "5.0", "50", 1)),
        Hourly, at.toLocalDate, at).map(_.canonical),
      Seq("P-ETH-1000-030326|2026-03-02|10:00:00|1000.0|2026-03-03|1000.0|Call|2.0|20|6.0|-40"))
  )

  def golden(): Seq[String] = cases.collect {
    case (name, actual, expected) if actual != expected =>
      s"golden case '$name': model gave ${actual.mkString("; ")} expected ${expected.mkString("; ")}"
  }
}
