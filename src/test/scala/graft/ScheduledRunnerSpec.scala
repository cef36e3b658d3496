package graft

import java.time.{LocalDate, LocalTime}

import org.apache.spark.sql.streaming.Trigger

import graft.operators.OptionsPipeline

/** The cron-cadence deployment shape: each ScheduledRunner.runTick with
  * Trigger.AvailableNow must behave exactly like one reference cron run —
  * process ONLY the snapshot files that arrived since the previous tick
  * (file-source offsets in the checkpoint), chain Open/OI_Change through
  * the sink tail across ticks, and be a no-op when nothing new arrived
  * (a crash-rerun of the same tick must not double-append).
  */
class ScheduledRunnerSpec extends SparkSpec {
  import spark.implicits._
  import ScheduledRunnerSpec.RawTick

  private val today = LocalDate.of(2025, 10, 15)
  private val d17 = "171025"

  private def snapshot(mark: String, oi: String, seqBase: Long) = Seq(
    RawTick(s"C-ETH-100-$d17", "call_options", "100", "100.0", mark, oi, seqBase),
    RawTick(s"P-ETH-95-$d17", "put_options", "95", "100.0", "2.0", "20", seqBase + 1)
  )

  test("two cron ticks: incremental file pickup, sink-chained deltas, idle tick is a no-op") {
    val root = java.nio.file.Files.createTempDirectory("graft_sched").toString
    val snapDir = s"$root/snapshots"
    val sink = s"$root/sink/data"
    val ckpt = s"$root/ckpt"
    def tick(time: LocalTime): Unit =
      ScheduledRunner.runTick(
        spark, OptionsPipeline.Hourly, snapDir, sink, ckpt,
        Trigger.AvailableNow(), () => (today, today, time))

    // tick 1: first snapshot file — appends against the absent sink
    snapshot("8.5", "80", 0L).toDF().write.mode("append").parquet(snapDir)
    tick(LocalTime.of(10, 0, 0))
    val b1 = spark.read.parquet(sink).collect()
    assert(b1.length === 2)
    assert(b1.forall(_.getDouble(b1.head.fieldIndex("Open")) === 0.0))
    assert(b1.forall(_.getLong(b1.head.fieldIndex("OI_Change")) === 0L))

    // tick 2: one NEW file — only it is processed, and its rows read the
    // tick-1 sink rows back as state (the sheet-as-state chain)
    snapshot("9.0", "85", 10L).toDF().write.mode("append").parquet(snapDir)
    tick(LocalTime.of(11, 0, 0))
    val all = spark.read.parquet(sink).collect()
    assert(all.length === 4)
    val t11 = all.filter(_.getString(all.head.fieldIndex("Time")) == "11:00:00")
    assert(t11.length === 2)
    val call = t11.find(_.getString(t11.head.fieldIndex("Option_Type")) == "Call").get
    assert(call.getDouble(call.fieldIndex("Open")) === 8.5)  // tick-1 close
    assert(call.getLong(call.fieldIndex("OI_Change")) === 5L) // 85 − 80

    // tick 3: nothing new landed — the cron rerun appends NOTHING
    tick(LocalTime.of(12, 0, 0))
    assert(spark.read.parquet(sink).count() === 4)
  }

  // a chain over four expiries with a duplicated symbol, an out-of-band
  // strike and a malformed symbol, its marks moving from tick to tick
  private def chain(k: Int): Seq[RawTick] = {
    val seq = 100L * k
    Seq("161025", "171025", "181025", "241025").zipWithIndex.flatMap { case (d, i) =>
      Seq(
        RawTick(s"C-ETH-100-$d", "call_options", "100", "100.0", s"${5 + k}.5", s"${40 + k}", seq + 10 * i),
        RawTick(s"P-ETH-96-$d", "put_options", "96", "100.0", s"${2 + k}.0", s"${20 + i}", seq + 10 * i + 1),
        RawTick(s"C-ETH-100-$d", "call_options", "100", "100.0", "0.1", "1", seq + 10 * i - 1), // older dup
        RawTick(s"C-ETH-120-$d", "call_options", "120", "100.0", "1.0", "1", seq + 10 * i + 2) // out of band
      )
    } :+ RawTick("BAD-SYM", "call_options", "100", "100.0", "1.0", "1", seq + 99)
  }

  test("a warm tick runs at most 6 Spark jobs and leaves nothing cached") {
    val root = java.nio.file.Files.createTempDirectory("graft_sched_jobs").toString
    val snapDir = s"$root/snapshots"
    val sink = s"$root/sink/data"
    val ckpt = s"$root/ckpt"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.catalog.clearCache()
    spark.sparkContext.addSparkListener(listener)
    val perTick = try (1 to 5).map { k =>
      chain(k).toDF().write.mode("append").parquet(snapDir)
      org.apache.spark.GraftTestBridge.drainListenerBus(spark.sparkContext)
      jobs.set(0)
      ScheduledRunner.runTick(
        spark, OptionsPipeline.Hourly, snapDir, sink, ckpt,
        Trigger.AvailableNow(), () => (today, today, LocalTime.of(9 + k, 0, 0)))
      org.apache.spark.GraftTestBridge.drainListenerBus(spark.sparkContext)
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(listener)

    // every tick appended its batch: 3 nearest expiries x 2 in-band contracts
    val all = spark.read.parquet(sink)
    assert(all.count() === 5 * 6)
    // and chained through the sink tail: tick 5 against tick 4's close/OI
    val last = all.where(s"Time = '14:00:00' AND SYMBOL = 'C-ETH-100-171025'").collect()
    assert(last.map(r => (r.getAs[Double]("Open"), r.getAs[Long]("OI_Change"))).toSeq === Seq((9.5, 1L)))
    assert(perTick.drop(2).forall(_ <= 6), s"jobs per tick: ${perTick.mkString(", ")}")
    assert(spark.sharedState.cacheManager.isEmpty, "a tick left a cached plan behind")
  }
}

object ScheduledRunnerSpec {
  // top-level so Spark can derive the encoder without an outer scope
  case class RawTick(
      symbol: String,
      contract_type: String,
      strike_price: String,
      spot_price: String,
      mark_price: String,
      oi_contracts: String,
      src_seq: Long
  )
}
