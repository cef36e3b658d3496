package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.lang.management.ManagementFactory
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.ScheduledRunner
import graft.operators.OptionsPipeline
import graft.sources.TickerSource
import graft.streaming.PipelineStream

/** State of one benchmark run: operation accounting and failure counts. */
final class Ctx(val spark: SparkSession, val work: File, val seed: Long, val seconds: Double, val trace: Trace) {
  var attempted = 0
  var failed = 0
  val measuredRows = ArrayBuffer.empty[Long]
  var measuredCpuS = 0.0
  /** CPU time the hypervisor took from this machine during measured operations. */
  var measuredStealS = 0.0
  /** Largest live heap (used after a full collection) after a measured operation. */
  var measuredHeapMb = 0.0
  val extra = scala.collection.mutable.Map.empty[String, Double]

  private val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def check(ok: Boolean, msg: => String): Unit = if (!ok) {
    failed += 1
    System.err.println(s"[perfbench] FAIL $msg")
  }

  /** One operation: timed, and its process CPU counted when measured. A
    * full collection after each operation (untimed) gives the live heap and
    * starts every operation from the same collector state.
    */
  def timed[T](i: Int, measured: Boolean)(f: => T): T = {
    val c0 = os.getProcessCpuTime
    val steal0 = Ctx.stealS()
    val (out, secs) = trace.op(i, measured)(f)
    if (measured) {
      measuredCpuS += (os.getProcessCpuTime - c0) / 1e9
      measuredStealS += Ctx.stealS() - steal0
    }
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    if (measured) measuredHeapMb = math.max(measuredHeapMb, heap)
    System.err.println(f"[perfbench] op $i ${if (measured) "measured" else "warm-up"} $secs%.3f s live heap $heap%.0f MB")
    out
  }

  /** Runs `step(i, measured)` as the cold operation, `warmups` more, then
    * measured operations until `seconds` have passed (at least `minOps`).
    * `step` times its operation with [[timed]] and returns its raw input
    * row count; an exception counts as a failed operation.
    */
  def drive(warmups: Int, minOps: Int)(step: (Int, Boolean) => Long): Unit = {
    def attempt(i: Int, measured: Boolean): Unit = {
      attempted += 1
      try {
        val rows = step(i, measured)
        if (measured) measuredRows += rows
      } catch {
        case e: Exception =>
          check(false, s"operation $i threw ${e.toString.take(500)}")
          if (measured) measuredRows += 0L
      }
    }
    (0 to warmups).foreach(attempt(_, false))
    val t0 = System.nanoTime()
    var i = warmups + 1
    while (i - warmups - 1 < minOps || (System.nanoTime() - t0) / 1e9 < seconds) {
      attempt(i, true)
      i += 1
    }
  }
}

object Ctx {
  /** Steal time of all CPUs so far (`/proc/stat`, in 1/100 s ticks), 0 where unavailable. */
  def stealS(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+").lift(8).fold(0.0)(_.toDouble / 100)
      finally src.close()
    } catch { case _: java.io.IOException => 0.0 }
}

/** `options_ticks`: the hourly cron replay. Each operation writes one chain
  * snapshot into the snapshot directory (untimed) and times one
  * `ScheduledRunner.runTick(Hourly, AvailableNow)`; the appended batch is
  * checked against the reference model chained through its own tail-300.
  * A final idle tick must append nothing.
  */
object OptionsTicks {
  def run(ctx: Ctx): Unit = {
    val base = new File(ctx.work, "ticks")
    val snaps = new File(base, "snapshots")
    val sink = new File(base, "sink")
    val ckpt = new File(base, "checkpoint")
    snaps.mkdirs()
    val chain = new Chain(ctx.seed)
    var tail = Vector.empty[(RefModel.Row, Long)]
    var batch = 0L
    def tick(at: java.time.LocalDateTime): Unit =
      ctx.trace.span("ScheduledRunner.runTick", "streaming") {
        ScheduledRunner.runTick(ctx.spark, OptionsPipeline.Hourly, snaps.getPath, sink.getPath, ckpt.getPath,
          Trigger.AvailableNow(), () => (at.toLocalDate, at.toLocalDate, at.toLocalTime))
      }
    ctx.drive(warmups = 5, minOps = 4) { (i, measured) =>
      val (at, rows) = chain.next()
      Files.writeSnapshot(new File(snaps, f"snap-$i%05d.parquet"), rows)
      val expected = RefModel.runBatch(rows, RefModel.tail(tail), RefModel.Hourly, at.toLocalDate, at)
      tail = (tail ++ expected.zipWithIndex.map { case (r, k) => (r, (batch << 32) + k + 1) }).takeRight(300)
      val thisBatch = batch
      batch += 1
      ctx.timed(i, measured)(tick(at))
      val actual = Files.sinkDigest(ctx.spark, new File(sink, s"batch_id=$thisBatch"))
      val want = RefModel.Digest.of(expected.map(_.canonical))
      ctx.check(actual == want, s"tick $i appended $actual, model expects $want")
      rows.size.toLong
    }
    ctx.attempted += 1
    val before = Option(sink.list()).fold(Set.empty[String])(_.toSet)
    val idle = try { tick(chain.start.plusHours(10000)); true } catch {
      case e: Exception => ctx.check(false, s"idle tick threw $e"); false
    }
    if (idle) ctx.check(Option(sink.list()).fold(Set.empty[String])(_.toSet) == before, "idle tick appended a batch")
    ctx.extra("streaming.state_bytes") = Files.treeBytes(ckpt).toDouble
  }
}

/** `options_backfill`: one large replayed weekly batch. Overlapping
  * captures of one chain are written as JSON lines (setup); each operation
  * times `TickerSource.fromJson` plus `PipelineStream.runOne(Weekly)`
  * against a fresh copy of a 300-row text-typed state sink and an empty
  * Spark cache, and the appended batch is checked against the reference
  * model.
  */
object OptionsBackfill {
  val RawRows = 300000L

  def run(ctx: Ctx): Unit = {
    val base = new File(ctx.work, "backfill")
    val input = new File(base, "input")
    val stateSink = new File(base, "state")
    input.mkdirs()
    val chain = new Chain(ctx.seed * 7919L + 17L)
    val model = new RefModel.Batch(RefModel.Weekly)
    val writers = (0 until 8).map(k =>
      new BufferedWriter(new FileWriter(new File(input, f"capture-$k%02d.json")), 1 << 16))
    var captures = 0
    try while (model.rowsIn < RawRows) {
      val w = writers(captures % writers.size)
      chain.next()._2.foreach { t =>
        w.write(t.json)
        w.write('\n')
        model.add(t)
      }
      captures += 1
    } finally writers.foreach(_.close())

    val rng = new SplittableRandom(ctx.seed ^ 0x5747eL)
    val symbols = chain.symbols
    val state = (1 to 300).map { k =>
      val close = rng.nextInt(20) match {
        case 0 => "abc"
        case 1 => ""
        case 2 => null
        case _ => Chain.fixed(rng.nextDouble() * 200, 1)
      }
      val oi = rng.nextInt(20) match {
        case 0 => "n/a"
        case 1 => "12.7"
        case _ => rng.nextInt(5000).toString
      }
      RefModel.StateRow(symbols(rng.nextInt(symbols.size)), close, oi, k.toLong)
    }
    new File(stateSink, "batch_id=0").mkdirs()
    Files.writeState(new File(stateSink, "batch_id=0/part-00000.parquet"), state)
    val at = chain.start
    val expectedRows = model.result(state, at.toLocalDate, at)
    val expected = RefModel.Digest.of(expectedRows.map(_.canonical))
    System.err.println(s"[perfbench] backfill: $captures captures, ${model.rowsIn} raw rows, ${expectedRows.size} rows out")

    ctx.drive(warmups = 1, minOps = 3) { (i, measured) =>
      val sink = new File(base, s"sink-$i")
      Files.copyTree(stateSink, sink)
      // every batch reads the same files, and the pipeline caches its parsed
      // input without releasing it: without this the next batch would reuse
      // that cache instead of scanning and parsing, as a fresh backfill does
      ctx.spark.catalog.clearCache()
      try {
        ctx.timed(i, measured) {
          val raw = ctx.trace.span("TickerSource.fromJson", "sources")(TickerSource.fromJson(ctx.spark, input.getPath))
          ctx.trace.span("PipelineStream.runOne", "streaming") {
            PipelineStream.runOne(raw, sink.getPath, OptionsPipeline.Weekly,
              () => (at.toLocalDate, at.toLocalDate, at.toLocalTime), 300, 1L)
          }
        }
        val actual = Files.sinkDigest(ctx.spark, new File(sink, "batch_id=1"))
        ctx.check(actual == expected, s"backfill $i appended $actual, model expects $expected")
      } finally Files.deleteTree(sink)
      model.rowsIn
    }
  }
}
