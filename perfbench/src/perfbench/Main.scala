package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import graft.GraftSession

/** Benchmark program: runs one workload on one `GraftSession.local(nproc)`
  * session and prints one JSON result line.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out DIR
  *
  * `--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer
  * ones and writes the spans file to `--out`. The process start time comes
  * from `-Dperfbench.spawnMs` (epoch ms) when the launcher sets it.
  */
object Main {

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cold_op_s" -> "s", "op_p50_s" -> "s",
    "rows_per_s" -> "1/s", "cpu_s" -> "s", "peak_heap_mb" -> "MB")

  /** Per-layer metrics, zero where a workload does not exercise the layer. */
  val perLayer: Seq[(String, String)] = Seq(
    "streaming.offset_s" -> "s", "streaming.commit_s" -> "s", "streaming.trigger_overhead_s" -> "s",
    "streaming.op_growth" -> "ratio", "streaming.add_batch_s" -> "s", "streaming.state_bytes" -> "bytes",
    "streaming.self_s" -> "s",
    "sources.read_s" -> "s", "sources.rows_in" -> "count", "sources.self_s" -> "s",
    "operators.cpu_s" -> "s", "operators.shuffle_bytes" -> "bytes", "operators.spill_bytes" -> "bytes",
    "operators.keep_frac" -> "ratio", "operators.self_s" -> "s",
    "sinks.read_state_s" -> "s", "sinks.append_s" -> "s", "sinks.bytes_per_row" -> "bytes", "sinks.self_s" -> "s",
    "engine.jobs" -> "count", "engine.stages" -> "count", "engine.tasks" -> "count",
    "engine.executor_cpu_s" -> "s", "engine.driver_gap_s" -> "s",
    "engine.self_s" -> "s", "bench.self_s" -> "s",
    "jvm.gc_s" -> "s", "jvm.jit_s" -> "s", "host.steal_s" -> "s", "trace.overhead_s" -> "s")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val run: Ctx => Unit = workload match {
      case "options_ticks" => OptionsTicks.run
      case "options_backfill" => OptionsBackfill.run
      case other => sys.error(s"unknown workload '$other'")
    }
    val seed = need("seed").toLong
    val traced = need("trace") == "1"
    val work = new File(need("work"))
    val out = new File(need("out"))
    val spawnMs = sys.props.get("perfbench.spawnMs").map(_.toDouble)
      .getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime.toDouble)

    work.mkdirs()
    val selfFailures = SelfCheck.golden() ++ SelfCheck.determinism(seed, new File(work, "selfcheck"))
    selfFailures.foreach(f => System.err.println(s"[perfbench] FAIL self-check: $f"))

    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors)
    val trace = new Trace(spark, traced)
    val ctx = new Ctx(spark, work, seed, need("seconds").toDouble, trace)
    try run(ctx)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        spark.stop()
        sys.exit(1)
    }
    val layer = if (traced) {
      out.mkdirs()
      trace.finish(new File(out, s"spans-$workload-$seed.jsonl"), ctx.extra.toMap)
    } else Map.empty[String, Double]
    spark.stop()

    val ops = trace.ops
    val measured = ops.filter(_.measured).map(_.seconds)
    val q = measured.size / 4
    val growth =
      if (q == 0) 1.0 else Stats.median(measured.takeRight(q)) / Stats.median(measured.take(q))
    val gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
    val jitS = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
    val e2e = Map(
      "setup_s" -> (ops.head.start - spawnMs) / 1e3,
      "cold_op_s" -> ops.head.seconds,
      "op_p50_s" -> Stats.median(measured),
      "rows_per_s" -> ctx.measuredRows.sum / measured.sum,
      "cpu_s" -> ctx.measuredCpuS / measured.size,
      "peak_heap_mb" -> ctx.measuredHeapMb)
    val values = if (traced) layer ++ Map("streaming.op_growth" -> growth, "jvm.gc_s" -> gcS, "jvm.jit_s" -> jitS,
        "host.steal_s" -> ctx.measuredStealS / measured.size)
      else e2e
    val metrics = (if (traced) perLayer else endToEnd).map { case (name, unit) =>
      val v = values.getOrElse(name, 0.0)
      s"${Trace.jstr(name)}: {\"value\": ${if (v.isNaN || v.isInfinite) 0.0 else v}, \"unit\": ${Trace.jstr(unit)}}"
    }
    // the self-checks count as one more operation
    val failed = ctx.failed + (if (selfFailures.nonEmpty) 1 else 0)
    val attempted = ctx.attempted + 1
    System.err.println(f"[perfbench] $workload seed=$seed ops=${ops.size} measured=${measured.size} " +
      measured.map(s => f"$s%.3f").mkString("[", ",", "]"))
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {${metrics.mkString(", ")}}}""")
    sys.exit(0)
  }
}
