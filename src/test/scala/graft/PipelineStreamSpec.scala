package graft

import java.time.{LocalDate, LocalTime}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.OptionsPipeline
import graft.streaming.PipelineStream

/** The scheduler-as-stream adapter: two micro-batches through
  * `foreachBatch` must reproduce the reference's two-cron-run chaining —
  * batch 1 appends zeros against the absent sink, batch 2 reads the sink
  * tail back as state and derives Open/OI_Change from batch 1's values
  * (exactly OptionsPipelineSpec's e2e, but driven by the streaming query).
  */
class PipelineStreamSpec extends SparkSpec {
  import spark.implicits._

  case class RawTick(
      symbol: String,
      contract_type: String,
      strike_price: String,
      spot_price: String,
      mark_price: String,
      oi_contracts: String,
      src_seq: Long
  )

  private val today = LocalDate.of(2025, 10, 15)
  private val d17 = "171025"

  private def batch(mark: String, oi: String, seqBase: Long) = Seq(
    RawTick(s"C-ETH-100-$d17", "call_options", "100", "100.0", mark, oi, seqBase),
    RawTick(s"P-ETH-95-$d17", "put_options", "95", "100.0", "2.0", "20", seqBase + 1)
  )

  test("two micro-batches chain Open/OI_Change through the sink") {
    val sink = java.nio.file.Files.createTempDirectory("graft_stream_sink").toString + "/data"
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RawTick]
    val times = Iterator(LocalTime.of(10, 0, 0), LocalTime.of(11, 0, 0))
    val query = PipelineStream.start(
      input.toDF(),
      sink,
      OptionsPipeline.Hourly,
      clock = () => (today, today, times.next()),
      // AvailableNow would stop after draining batch 1; keep the query live
      // so the second addData becomes a second micro-batch
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)
    )
    try {
      input.addData(batch("8.5", "80", 0L): _*)
      query.processAllAvailable()
      val b1 = spark.read.parquet(sink).collect()
      assert(b1.length === 2)
      assert(b1.forall(_.getDouble(b1.head.fieldIndex("Open")) === 0.0))
      assert(b1.forall(_.getLong(b1.head.fieldIndex("OI_Change")) === 0L))

      input.addData(batch("9.0", "85", 10L): _*)
      query.processAllAvailable()
      val all = spark.read.parquet(sink).collect()
      assert(all.length === 4)
      val a2 = all
        .filter(r => r.getString(r.fieldIndex("SYMBOL")) == s"C-ETH-100-$d17")
        .maxBy(r => r.getLong(r.fieldIndex("sink_seq")))
      assert(a2.getDouble(a2.fieldIndex("Open")) === 8.5)
      assert(a2.getLong(a2.fieldIndex("OI_Change")) === 5L)
      assert(a2.getString(a2.fieldIndex("Time")) === "11:00:00")
    } finally query.stop()
  }

  test("checkpoint restart: a new query resumes from committed batch ids, no replay into the sink") {
    val dropDir = java.nio.file.Files.createTempDirectory("graft_ckpt_drop")
    val sink = java.nio.file.Files.createTempDirectory("graft_ckpt_sink").toString + "/data"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    def capture(name: String, mark: String, oi: String, seqBase: Long): Unit = {
      val lines = batch(mark, oi, seqBase).map { t =>
        s"""{"symbol":"${t.symbol}","contract_type":"${t.contract_type}","strike_price":"${t.strike_price}","spot_price":"${t.spot_price}","mark_price":"${t.mark_price}","oi_contracts":"${t.oi_contracts}","src_seq":${t.src_seq}}"""
      }
      java.nio.file.Files.write(dropDir.resolve(name), lines.mkString("\n").getBytes("UTF-8"))
    }
    def startQuery(time: LocalTime) = PipelineStream.start(
      graft.sources.TickerSource.streamFromJsonDir(spark, dropDir.toString),
      sink,
      OptionsPipeline.Hourly,
      clock = () => (today, today, time),
      checkpoint = Some(ckpt),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)
    )

    capture("t1.json", "8.5", "80", 0L)
    val q1 = startQuery(LocalTime.of(10, 0, 0))
    try { q1.processAllAvailable() } finally q1.stop()
    assert(spark.read.parquet(sink).count() === 2)

    // crash/redeploy: a NEW query on the SAME checkpoint sees t1 committed
    // and processes only the new capture — the sink must not get t1 twice
    capture("t2.json", "9.0", "85", 10L)
    val q2 = startQuery(LocalTime.of(11, 0, 0))
    try { q2.processAllAvailable() } finally q2.stop()
    val all = spark.read.parquet(sink).collect()
    assert(all.length === 4, s"expected 4 rows after restart, got ${all.length} (replay?)")
    val a2 = all
      .filter(r => r.getString(r.fieldIndex("SYMBOL")) == s"C-ETH-100-$d17")
      .maxBy(r => r.getLong(r.fieldIndex("sink_seq")))
    assert(a2.getDouble(a2.fieldIndex("Open")) === 8.5)
    assert(a2.getLong(a2.fieldIndex("OI_Change")) === 5L)
    assert(a2.getString(a2.fieldIndex("Time")) === "11:00:00")
  }

  test("file-drop source: one capture file per micro-batch chains through the sink") {
    val dropDir = java.nio.file.Files.createTempDirectory("graft_drop")
    val sink = java.nio.file.Files.createTempDirectory("graft_drop_sink").toString + "/data"
    def capture(name: String, mark: String, oi: String, seqBase: Long): Unit = {
      val lines = batch(mark, oi, seqBase).map { t =>
        s"""{"symbol":"${t.symbol}","contract_type":"${t.contract_type}","strike_price":"${t.strike_price}","spot_price":"${t.spot_price}","mark_price":"${t.mark_price}","oi_contracts":"${t.oi_contracts}","src_seq":${t.src_seq}}"""
      }
      java.nio.file.Files.write(dropDir.resolve(name), lines.mkString("\n").getBytes("UTF-8"))
    }
    val times = Iterator(LocalTime.of(10, 0, 0), LocalTime.of(11, 0, 0))
    capture("t1.json", "8.5", "80", 0L)
    val query = PipelineStream.start(
      graft.sources.TickerSource.streamFromJsonDir(spark, dropDir.toString),
      sink,
      OptionsPipeline.Hourly,
      clock = () => (today, today, times.next()),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)
    )
    try {
      query.processAllAvailable()
      capture("t2.json", "9.0", "85", 10L)
      query.processAllAvailable()
      val all = spark.read.parquet(sink).collect()
      assert(all.length === 4)
      val a2 = all
        .filter(r => r.getString(r.fieldIndex("SYMBOL")) == s"C-ETH-100-$d17")
        .maxBy(r => r.getLong(r.fieldIndex("sink_seq")))
      assert(a2.getDouble(a2.fieldIndex("Open")) === 8.5)
      assert(a2.getLong(a2.fieldIndex("OI_Change")) === 5L)
    } finally query.stop()
  }

  test("runOne: canonical order and exact sink_seq, empty batch appends nothing, nothing left cached") {
    val sink = java.nio.file.Files.createTempDirectory("graft_runone_sink").toString + "/data"
    def frame(rows: Seq[RawTick]) =
      rows.map(t => (t.symbol, t.contract_type, t.strike_price, t.spot_price, t.mark_price, t.oi_contracts, t.src_seq))
        .toDF("symbol", "contract_type", "strike_price", "spot_price", "mark_price", "oi_contracts", "src_seq")
    def run(rows: Seq[RawTick], batchId: Long): Unit =
      PipelineStream.runOne(frame(rows), sink, OptionsPipeline.Hourly,
        () => (today, today, LocalTime.of(10, 0, 0)), 300, batchId)

    spark.catalog.clearCache()
    run(batch("8.5", "80", 0L), 1L)
    run(batch("9.0", "85", 10L), 2L)
    run(Seq.empty, 3L)
    assert(spark.sharedState.cacheManager.isEmpty, "runOne left a cached plan behind")

    val rows = spark.read.parquet(sink).collect()
      .map(r => (r.getAs[Long]("sink_seq"), r.getAs[String]("SYMBOL"), r.getAs[Double]("Open")))
      .sortBy(_._1).toSeq
    val b1 = 1L << 32; val b2 = 2L << 32
    assert(rows === Seq(
      (b1 + 1, s"C-ETH-100-$d17", 0.0), (b1 + 2, s"P-ETH-95-$d17", 0.0),
      (b2 + 1, s"C-ETH-100-$d17", 8.5), (b2 + 2, s"P-ETH-95-$d17", 2.0)))
  }
}
