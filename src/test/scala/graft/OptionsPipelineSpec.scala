package graft

import java.time.{LocalDate, LocalTime}
import org.apache.spark.sql.functions._

import graft.operators.OptionsPipeline
import graft.sinks.ParquetSink
import graft.sources.TickerSource

/** Two-batch end-to-end test of the full pipeline (FIXTURES.md §3):
  * batch 1 against empty state (all-zero derived columns), append to a
  * parquet sink, batch 2 against the sink tail — Open/OI_Change must come
  * from batch 1's values. Also pins dedup keep-last, band inclusivity and
  * the canonical sort.
  */
class OptionsPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val today = LocalDate.of(2025, 10, 15)
  private val d16 = "161025" // Thu Oct 16
  private val d17 = "171025" // Fri Oct 17
  private val d18 = "181025"
  private val d19 = "191025"
  private val d25 = "251025"

  // spot 100.0; ±7% band = [93, 107]
  private def batch(markA: String, oiA: String): Seq[(String, String, String, String, String, String, Long)] =
    Seq(
      // (symbol, contract_type, strike, spot, mark, oi, src_seq)
      (s"C-ETH-100-$d17", "call_options", "100", "100.0", markA, oiA, 1L),
      (s"C-ETH-100-$d17", "call_options", "100", "100.0", "9.99", "999", 0L), // dup, earlier → dropped
      (s"P-ETH-93-$d17", "put_options", "93", "100.0", "2.0", "20", 2L), // band lower edge inclusive
      (s"P-ETH-107-$d18", "put_options", "107", "100.0", "3.0", "30", 3L), // band upper edge inclusive
      (s"C-ETH-92-$d17", "call_options", "92", "100.0", "4.0", "40", 4L), // below band → dropped
      (s"C-ETH-108-$d17", "call_options", "108", "100.0", "5.0", "50", 5L), // above band → dropped
      (s"C-ETH-100-$d25", "call_options", "100", "100.0", "6.0", "60", 6L), // 4th expiry → dropped (E0-E2 only)
      (s"C-ETH-100-$d19", "call_options", "100", "100.0", "7.0", "70", 7L),
      ("BAD-SYM", "call_options", "100", "100.0", "1.0", "1", 8L), // malformed → dropped
      (s"C-ETH--$d17", "call_options", "", "100.0", "1.0", "1", 9L) // missing strike → dropped
    )

  private def toDf(rows: Seq[(String, String, String, String, String, String, Long)]) =
    rows.toDF("symbol", "contract_type", "strike_price", "spot_price", "mark_price", "oi_contracts", "src_seq")

  test("two-batch e2e: empty state zeros, then delta from batch 1") {
    val sink = java.nio.file.Files.createTempDirectory("graft_sink").toString + "/data"

    val out1 = OptionsPipeline.runBatch(
      toDf(batch("8.5", "80")),
      ParquetSink.emptyState(spark),
      OptionsPipeline.Hourly,
      today,
      LocalDate.of(2025, 10, 15),
      LocalTime.of(10, 0, 0)
    )
    val rows1 = out1.collect()
    // survivors: C-100-17 (keep-last), P-93-17, P-107-18, C-100-19
    assert(rows1.length === 4)
    assert(rows1.forall(r => r.getDouble(r.fieldIndex("Open")) === 0.0))
    assert(rows1.forall(r => r.getLong(r.fieldIndex("OI_Change")) === 0L))
    // keep-last: mark 8.5 not 9.99
    val a1 = rows1.find(_.getString(0) == s"C-ETH-100-$d17").get
    assert(a1.getDouble(a1.fieldIndex("Close")) === 8.5)
    assert(a1.getLong(a1.fieldIndex("OI")) === 80L)
    // canonical sort: Expiry asc then SYMBOL asc
    val syms = rows1.map(_.getString(0)).toSeq
    assert(syms === Seq(s"C-ETH-100-$d17", s"P-ETH-93-$d17", s"P-ETH-107-$d18", s"C-ETH-100-$d19"))

    ParquetSink.append(out1, sink, batchId = 1L)

    val out2 = OptionsPipeline.runBatch(
      toDf(batch("9.0", "85")),
      ParquetSink.readStateTail(spark, sink),
      OptionsPipeline.Hourly,
      today,
      LocalDate.of(2025, 10, 15),
      LocalTime.of(11, 0, 0)
    )
    val a2rows = out2.collect()
    val a2 = a2rows.find(_.getString(0) == s"C-ETH-100-$d17").get
    assert(a2.getDouble(a2.fieldIndex("Open")) === 8.5) // prev Close
    assert(a2.getLong(a2.fieldIndex("OI_Change")) === 5L) // 85 - 80
    val p93 = a2rows.find(_.getString(0) == s"P-ETH-93-$d17").get
    assert(p93.getDouble(p93.fieldIndex("Open")) === 2.0)
    assert(p93.getLong(p93.fieldIndex("OI_Change")) === 0L) // 20 - 20
  }

  test("weekly policy: +-25% band, W1/W2 Fridays only (deltaweekly.py variant)") {
    // today Wed Oct 15 2025; actives: Thu 16, Fri 17, Sat 18, Sun 19, Sat 25
    // fridays: 17th with n_before=1 -> fallback W1=17th; no later Friday -> no W2
    val rows = Seq(
      (s"C-ETH-100-$d17", "call_options", "100", "100.0", "1.0", "10", 1L),
      (s"C-ETH-75-$d17", "call_options", "75", "100.0", "1.0", "10", 2L), // band edge -25%
      (s"C-ETH-125-$d17", "call_options", "125", "100.0", "1.0", "10", 3L), // band edge +25%
      (s"C-ETH-74-$d17", "call_options", "74", "100.0", "1.0", "10", 4L), // below band
      (s"C-ETH-100-$d16", "call_options", "100", "100.0", "1.0", "10", 5L), // Thu -> dropped
      (s"C-ETH-100-$d18", "call_options", "100", "100.0", "1.0", "10", 6L), // Sat -> dropped
      (s"C-ETH-100-$d19", "call_options", "100", "100.0", "1.0", "10", 7L), // Sun -> dropped
      (s"C-ETH-100-$d25", "call_options", "100", "100.0", "1.0", "10", 8L) // Sat -> dropped
    )
    val out = OptionsPipeline.runBatch(
      toDf(rows),
      ParquetSink.emptyState(spark),
      OptionsPipeline.Weekly,
      today,
      LocalDate.of(2025, 10, 15),
      LocalTime.of(9, 30, 0)
    )
    val syms = out.collect().map(_.getString(0)).toSeq
    assert(syms === Seq(s"C-ETH-100-$d17", s"C-ETH-125-$d17", s"C-ETH-75-$d17"))
  }

  test("per-row spot: band and Future_Price use each ticker's OWN spot_price (main.py:168-172,204)") {
    // Heterogeneous spots in one snapshot. Under the (wrong) batch-global
    // first-arrival spot (100), B would survive and C would be dropped;
    // the reference bands each row against its own spot.
    val rows = Seq(
      (s"C-ETH-100-$d17", "call_options", "100", "100.0", "1.0", "10", 1L), // in [93,107] of own spot 100
      (s"P-ETH-100-$d17", "put_options", "100", "200.0", "2.0", "20", 2L), // 100 ∉ [186,214] of own spot 200 → drop
      (s"C-ETH-190-$d17", "call_options", "190", "200.0", "3.0", "30", 3L) // 190 ∈ [186,214] of own spot 200
    )
    val out = OptionsPipeline.runBatch(
      toDf(rows),
      ParquetSink.emptyState(spark),
      OptionsPipeline.Hourly,
      today,
      LocalDate.of(2025, 10, 15),
      LocalTime.of(10, 0, 0)
    ).collect()
    val bySym = out.map(r => r.getString(0) -> r.getDouble(r.fieldIndex("Future_Price"))).toMap
    assert(bySym === Map(s"C-ETH-100-$d17" -> 100.0, s"C-ETH-190-$d17" -> 200.0))
  }

  test("strict snapshot coercion: garbage mark/oi drops the row, absent defaults to 0 (main.py:197-198,220-223)") {
    val rows = Seq(
      (s"C-ETH-100-$d17", "call_options", "100", "100.0", "bad", "10", 1L), // mark unparseable → drop
      (s"P-ETH-100-$d17", "put_options", "100", "100.0", "1.0", "12.5", 2L), // int('12.5') throws → drop
      (s"C-ETH-101-$d17", "call_options", "101", "100.0", null, null, 3L) // absent → Close 0, OI 0
    )
    val out = OptionsPipeline.runBatch(
      toDf(rows),
      ParquetSink.emptyState(spark),
      OptionsPipeline.Hourly,
      today,
      LocalDate.of(2025, 10, 15),
      LocalTime.of(10, 0, 0)
    ).collect()
    assert(out.map(_.getString(0)).toSeq === Seq(s"C-ETH-101-$d17"))
    assert(out.head.getDouble(out.head.fieldIndex("Close")) === 0.0)
    assert(out.head.getLong(out.head.fieldIndex("OI")) === 0L)
  }

  test("sink tail is partition-pruned: newest batches only, no global window") {
    val sink = java.nio.file.Files.createTempDirectory("graft_sink_prune").toString + "/data"
    // three appended batches, 4 rows each (the e2e pipeline output shape)
    val out = OptionsPipeline.runBatch(
      toDf(batch("8.5", "80")),
      ParquetSink.emptyState(spark),
      OptionsPipeline.Hourly,
      today,
      LocalDate.of(2025, 10, 15),
      LocalTime.of(10, 0, 0))
    (1L to 3L).foreach(b => ParquetSink.append(out, sink, batchId = b))

    // n = 6 needs batches 3 and 2 (4 rows each) — batch 1 must NOT be read
    val tail = ParquetSink.readStateTail(spark, sink, n = 6)
    val seqs = tail.select("state_seq").collect().map(_.getLong(0)).sorted.toSeq
    val base2 = 2L * (1L << 32); val base3 = 3L * (1L << 32)
    assert(seqs === Seq(base2 + 3L, base2 + 4L, base3 + 1L, base3 + 2L, base3 + 3L, base3 + 4L),
      "tail must be the newest 6 rows across the batch boundary")

    // pruning evidence: the scan's input files live only under batches 3 and 2
    val files = tail.inputFiles
    assert(files.nonEmpty && files.forall(f => f.contains("batch_id=3") || f.contains("batch_id=2")),
      s"batch 1 leaked into the pruned tail scan: ${files.mkString(", ")}")

    // plan shape: TakeOrderedAndProject (bounded top-N), zero window execs
    val plan = tail.queryExecution.executedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
      case g: org.apache.spark.sql.execution.window.WindowGroupLimitExec => g
    }
    assert(windows.isEmpty, s"tail read must not plan a window over history:\n$plan")
    assert(plan.toString.contains("TakeOrderedAndProject"),
      s"expected a top-N plan for the tail read:\n$plan")

    // legacy fallback: an unpartitioned pre-partitioning sink still reads
    val legacy = java.nio.file.Files.createTempDirectory("graft_sink_legacy").toString + "/data"
    out.withColumn("sink_seq", (lit(1L) * (1L << 32)) + col("OI"))
      .write.mode("append").parquet(legacy)
    val lt = ParquetSink.readStateTail(spark, legacy, n = 2)
    assert(lt.count() === 2L)
  }

  test("expiry targets come from every parsed row, before the mandatory, band and dedup drops (pass 1)") {
    // in-band survivors only carry expiries 17 and 19, but the pass-1 set
    // also holds 16 (out of band) and 18 (missing strike): E0-E2 = 16,17,18
    val rows = Seq(
      (s"C-ETH-100-$d17", "call_options", "100", "100.0", "1.0", "10", 1L),
      (s"C-ETH-200-$d16", "call_options", "200", "100.0", "1.0", "10", 2L), // out of band
      (s"C-ETH--$d18", "call_options", "", "100.0", "1.0", "10", 3L), // missing strike
      (s"C-ETH-100-$d19", "call_options", "100", "100.0", "1.0", "10", 4L) // 4th expiry → dropped
    )
    val out = OptionsPipeline.runBatch(
      toDf(rows), ParquetSink.emptyState(spark), OptionsPipeline.Hourly,
      today, LocalDate.of(2025, 10, 15), LocalTime.of(10, 0, 0))
    assert(out.collect().map(_.getString(0)).toSeq === Seq(s"C-ETH-100-$d17"))
  }

  test("a failing dedup pass raises instead of waiting for its expiry set") {
    val raw = toDf(batch("8.5", "80")).withColumn("strike_price", raise_error(lit("boom")))
    val e = intercept[Exception] {
      OptionsPipeline.runBatch(raw, ParquetSink.emptyState(spark), OptionsPipeline.Hourly,
        today, LocalDate.of(2025, 10, 15), LocalTime.of(10, 0, 0))
    }
    assert(e.toString.contains("boom") || Option(e.getCause).exists(_.toString.contains("boom")), e.toString)
  }

  test("flagship entry returns rows on sf0.001") {
    val raw = TickerSource.syntheticFromLineitem(spark, "/root/testdata/sf0.001")
    val out = OptionsPipeline.runBatch(
      raw,
      ParquetSink.emptyState(spark),
      OptionsPipeline.Hourly,
      LocalDate.of(2000, 1, 1),
      LocalDate.of(2000, 1, 1),
      LocalTime.of(12, 0, 0)
    )
    assert(out.count() > 0)
  }
}
