package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Operation timing plus the traced run's per-layer record.
  *
  * Every operation is timed. With tracing on, the benchmark also keeps
  * spans around its own calls into each layer, and a `SparkListener` and a
  * `StreamingQueryListener` record jobs, stages and micro-batch progress.
  * Each job is attributed to the module of the graft code that issued it:
  * a sampler reads the stacks of the driver threads every 2 ms and takes
  * the deepest graft frame of a thread that is inside a library call; a job
  * gets the most frequent frame sampled while it ran (stream-thread samples
  * first, since a streaming query pins every job's call site to its
  * `start()`), else the first graft frame of its call site. A stage
  * inherits its job's module, except that a stage scanning files (outside a
  * sink call) belongs to `sources` and the shuffle-writing stages of a sink
  * append, which execute the lazily built operator plan, belong to
  * `operators`. Measured operations alternate between recorded (listeners
  * attached) and unrecorded (detached), so the difference of their medians
  * is the tracing overhead. Spans stay in memory and are written when the
  * run ends.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  private val spans = ArrayBuffer.empty[Span]
  private val opsDone = ArrayBuffer.empty[Op]
  private val stack = ArrayBuffer.empty[Int]
  private var nextId = 0
  private var current: Option[(Int, Boolean)] = None // (op index, recorded)

  private val samples = new ConcurrentLinkedQueue[Sample]
  @volatile private var sampling = false
  private val sampler = new Thread("perfbench-sampler") {
    override def run(): Unit = {
      var threads = Seq.empty[Thread]
      var k = 0
      while (true) {
        if (sampling) {
          if (k % 50 == 0) threads = Thread.getAllStackTraces.keySet.asScala.toSeq
            .filter(t => t.getName == "main" || t.getName.startsWith("stream execution thread"))
          k += 1
          val now = System.currentTimeMillis()
          threads.foreach { th =>
            val st = th.getStackTrace
            if (st.nonEmpty && !Trace.isUser(st(0))) st.find(Trace.isUser).foreach { f =>
              samples.add(Sample(now, s"${f.getClassName}.${f.getMethodName}(${f.getFileName}:${f.getLineNumber})",
                th.getName != "main"))
            }
          }
        }
        Thread.sleep(2)
      }
    }
  }
  sampler.setDaemon(true)
  if (enabled) sampler.start()

  private val jobs = new ConcurrentHashMap[Int, JobRec]
  private val stageToJob = new ConcurrentHashMap[Int, Int]
  private val stages = new ConcurrentLinkedQueue[StageRec]
  private val progress = new ConcurrentLinkedQueue[Progress]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val last = e.stageInfos.maxBy(_.stageId)
      jobs.put(e.jobId, new JobRec(e.jobId, e.time, Trace.userFrame(last.details)))
      e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (m != null && si.submissionTime.isDefined && si.completionTime.isDefined) stages.add(StageRec(
        si.stageId, stageToJob.getOrDefault(si.stageId, -1), si.submissionTime.get, si.completionTime.get,
        si.numTasks, m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead,
        m.outputMetrics.recordsWritten, m.outputMetrics.bytesWritten,
        si.rddInfos.exists(_.name == "FileScanRDD"), si.name))
    }
  }

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      if (d.contains("addBatch"))
        progress.add(Progress(java.time.Instant.parse(p.timestamp).toEpochMilli, d))
    }
  }

  private var attached = false
  private def attach(on: Boolean): Unit = if (on != attached) {
    PerfbenchBus.drain(spark.sparkContext)
    if (on) {
      spark.sparkContext.addSparkListener(listener)
      spark.streams.addListener(queryListener)
    } else {
      spark.sparkContext.removeSparkListener(listener)
      spark.streams.removeListener(queryListener)
    }
    attached = on
    sampling = on
  }

  /** Time one operation (seconds). Warm-up and cold operations are always
    * recorded in a traced run; measured ones alternate.
    */
  def op[T](index: Int, measured: Boolean)(f: => T): (T, Double) = {
    val recorded = enabled && (!measured || opsDone.count(_.measured) % 2 == 0)
    attach(recorded)
    current = Some((index, recorded))
    val s = nowMs
    val t0 = System.nanoTime()
    var secs = 0.0
    val out =
      try span(s"op $index", "bench")(f)
      finally {
        current = None
        secs = (System.nanoTime() - t0) / 1e9
        opsDone += Op(index, s, nowMs, secs, measured, recorded)
      }
    (out, secs)
  }

  /** A span around one of the benchmark's calls into a layer. */
  def span[T](name: String, layer: String)(f: => T): T =
    if (!enabled || current.exists(!_._2)) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.lastOption.getOrElse(-1)
      stack += id
      val s = nowMs
      try f
      finally {
        stack.remove(stack.length - 1)
        spans += Span(id, name, layer, s, nowMs, parent, current.fold(-1)(_._1))
      }
    }

  def ops: Seq[Op] = opsDone.toSeq

  /** Per-layer metrics over the recorded measured operations, plus the
    * spans file. `extra` carries figures the workload measures itself.
    */
  def finish(spansFile: java.io.File, extra: Map[String, Double]): Map[String, Double] = {
    attach(false)
    val rec = opsDone.filter(o => o.measured && o.traced).toSeq
    val unrec = opsDone.filter(o => o.measured && !o.traced).toSeq
    val n = math.max(1, rec.size).toDouble
    def opOf(t: Double): Option[Op] = rec.find(o => t >= o.start - 1 && t <= o.end + 1)

    val sampled = samples.asScala.toSeq.sortBy(_.t)
    def frameOf(j: JobRec): String = {
      val during = sampled.filter(x => x.t >= j.start && x.t <= j.end)
      val pick = if (during.exists(_.stream)) during.filter(_.stream) else during
      if (pick.isEmpty) j.frame else pick.groupBy(_.frame).maxBy(_._2.size)._1
    }
    val jobList = jobs.values.asScala.toSeq.filter(j => j.end >= 0 && opOf(j.start.toDouble).isDefined)
      .map(j => { val r = new JobRec(j.id, j.start, frameOf(j)); r.end = j.end; r })
    val jobById = jobList.map(j => j.id -> j).toMap
    val stageList = stages.asScala.toSeq.filter(s => jobById.contains(s.job))
    def layerOfStage(s: StageRec): String = {
      val j = jobById(s.job)
      val l = Trace.layerOf(j.frame)
      if (s.scan && l != "sinks" && l != "bench") "sources"
      else if (l == "sinks" && j.frame.contains(".append(") && s.shuffleWrite > 0) "operators"
      else l
    }
    val prog = progress.asScala.toSeq.filter(p => opOf(p.startMs.toDouble).isDefined)
    def dur(p: Progress, keys: String*): Double = keys.map(p.durations.getOrElse(_, 0L)).sum / 1e3

    val byLayer = stageList.groupBy(layerOfStage)
    def stageSum(layer: String)(f: StageRec => Double): Double =
      byLayer.getOrElse(layer, Nil).map(f).sum / n
    def secs(s: StageRec): Double = (s.end - s.start) / 1e3

    // spans: bench spans, then one span per job and per stage under it
    val benchSpans = spans.filter(s => rec.exists(_.index == s.op)).toSeq
    var id = nextId
    def parentFor(op: Int, t: Double): Int =
      benchSpans.filter(s => s.op == op && s.start <= t && s.end >= t)
        .sortBy(-_.start).headOption.fold(-1)(_.id)
    val jobSpans = jobList.map { j =>
      id += 1
      val op = opOf(j.start.toDouble).get.index
      j.id -> Span(id, s"job ${j.id} ${Trace.shortFrame(j.frame)}", Trace.layerOf(j.frame),
        j.start.toDouble, j.end.toDouble, parentFor(op, j.start.toDouble), op)
    }.toMap
    val stageSpans = stageList.map { s =>
      id += 1
      val js = jobSpans(s.job)
      Span(id, s"stage ${s.id} ${s.name}", layerOfStage(s), s.start.toDouble, s.end.toDouble, js.id, js.op)
    }
    val all = benchSpans ++ jobSpans.values ++ stageSpans
    val children = all.groupBy(_.parent)
    def selfMs(s: Span): Double = {
      val iv = children.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      (s.end - s.start) - Trace.covered(iv)
    }
    val selfByLayer = all.groupBy(_.layer).map { case (l, ss) => l -> ss.map(selfMs).sum / 1e3 / n }

    // driver gap: op wall minus the union of its stages' running intervals
    val gap = rec.map { o =>
      val iv = stageList.filter(s => opOf(s.start.toDouble).contains(o)).map(s => (s.start.toDouble, s.end.toDouble))
      o.seconds - Trace.covered(iv) / 1e3
    }.sum / n

    val cpuTotal = stageList.map(_.cpuNs).sum.toDouble
    val topSites = stageList.groupBy(s => s"${layerOfStage(s)} ${Trace.shortFrame(jobById(s.job).frame)}")
      .map { case (k, ss) => k -> ss.map(_.cpuNs).sum.toDouble }
      .toSeq.sortBy(-_._2).take(3)
    val progByOp = rec.map(o => o -> prog.filter(p => opOf(p.startMs.toDouble).contains(o)))
    def perOp(f: Progress => Double): Double = progByOp.map(_._2.map(f).sum).sum / n
    val withBatches = progByOp.filter(_._2.nonEmpty)
    val foldS = perOp(p => dur(p, "addBatch"))

    val sinkStages = byLayer.getOrElse("sinks", Nil)
    val rowsOut = sinkStages.map(_.outRecords).sum
    val rowsIn = byLayer.getOrElse("sources", Nil).map(_.inRecords).sum
    val metrics = Map[String, Double](
      "engine.jobs" -> jobList.size / n,
      "engine.stages" -> stageList.size / n,
      "engine.tasks" -> stageList.map(_.tasks).sum / n,
      "engine.executor_cpu_s" -> cpuTotal / 1e9 / n,
      "engine.driver_gap_s" -> gap,
      "sources.read_s" -> (stageSum("sources")(secs) + benchSpans.filter(_.layer == "sources").map(s => s.end - s.start).sum / 1e3 / n),
      "sources.rows_in" -> stageSum("sources")(_.inRecords.toDouble),
      "operators.cpu_s" -> stageSum("operators")(_.cpuNs / 1e9),
      "operators.shuffle_bytes" -> stageSum("operators")(_.shuffleWrite.toDouble),
      "operators.spill_bytes" -> stageList.map(_.spill).sum / n,
      "sinks.read_state_s" -> jobList.filter(_.frame.contains("readStateTail")).map(j => (j.end - j.start) / 1e3).sum / n,
      "sinks.append_s" -> stageList.filter(s => layerOfStage(s) == "sinks" && jobById(s.job).frame.contains(".append(")).map(secs).sum / n,
      "sinks.bytes_per_row" -> (if (rowsOut > 0) sinkStages.map(_.outBytes).sum.toDouble / rowsOut else 0.0),
      "operators.keep_frac" -> (if (rowsIn > 0) rowsOut.toDouble / rowsIn else 0.0),
      "streaming.offset_s" -> perOp(p => dur(p, "latestOffset", "getBatch")),
      "streaming.commit_s" -> perOp(p => dur(p, "walCommit", "commitOffsets")),
      "streaming.trigger_overhead_s" -> (if (withBatches.isEmpty) 0.0
        else withBatches.map { case (o, ps) => o.seconds - ps.map(dur(_, "addBatch")).sum }.sum / withBatches.size),
      "streaming.add_batch_s" -> foldS,
      "trace.overhead_s" -> (if (rec.isEmpty || unrec.isEmpty) 0.0
        else Stats.median(rec.map(_.seconds)) - Stats.median(unrec.map(_.seconds)))
    ) ++ Seq("bench", "sources", "operators", "streaming", "sinks", "engine").map(l =>
      s"$l.self_s" -> selfByLayer.getOrElse(l, 0.0)) ++ extra

    val w = new java.io.PrintWriter(spansFile, "UTF-8")
    try {
      all.sortBy(_.start).foreach { s =>
        w.println(f"""{"id":${s.id},"name":${Trace.jstr(s.name)},"layer":"${s.layer}","start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f,"parent":${s.parent},"op":${s.op},"self_ms":${selfMs(s)}%.3f}""")
      }
      topSites.foreach { case (site, cpu) =>
        w.println(f"""{"top_stage_cpu_s":${cpu / 1e9}%.4f,"call_site":${Trace.jstr(site)}}""")
      }
    } finally w.close()
    topSites.foreach { case (site, cpu) =>
      System.err.println(f"[perfbench] top stage by CPU: ${cpu / 1e9}%.3f s  $site")
    }
    metrics
  }
}

object Trace {
  final case class Span(id: Int, name: String, layer: String, start: Double, end: Double, parent: Int, op: Int)
  final case class Op(index: Int, start: Double, end: Double, seconds: Double, measured: Boolean, traced: Boolean)
  private final class JobRec(val id: Int, val start: Long, val frame: String) {
    @volatile var end: Long = -1L
  }
  private final case class StageRec(
      id: Int, job: Int, start: Long, end: Long, tasks: Int, cpuNs: Long,
      shuffleWrite: Long, spill: Long, inRecords: Long, outRecords: Long, outBytes: Long,
      scan: Boolean, name: String)
  private final case class Progress(startMs: Long, durations: Map[String, Long])
  private final case class Sample(t: Long, frame: String, stream: Boolean)

  /** Length of the union of intervals. */
  def covered(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var (cs, ce) = (0.0, Double.NegativeInfinity)
    intervals.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > ce) { total += math.max(0.0, ce - cs); cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    total + math.max(0.0, ce - cs)
  }

  def isUser(f: StackTraceElement): Boolean =
    f.getClassName.startsWith("graft.") || f.getClassName.startsWith("perfbench.")

  /** First benchmark or graft frame of a long call site, or null. */
  def userFrame(details: String): String =
    if (details == null) null
    else details.split('\n').map(_.trim)
      .find(l => l.startsWith("graft.") || l.startsWith("perfbench.")).orNull

  def shortFrame(frame: String): String =
    if (frame == null) "spark" else frame.replaceAll("\\(.*", "").split('.').takeRight(2).mkString(".")

  /** Module of a frame: the repo's package layout names the layers. */
  def layerOf(frame: String): String =
    if (frame == null) "engine"
    else if (frame.startsWith("perfbench.")) "bench"
    else if (frame.startsWith("graft.sinks.")) "sinks"
    else if (frame.startsWith("graft.sources.")) "sources"
    else if (frame.startsWith("graft.operators.") || frame.startsWith("graft.functions.")) "operators"
    else if (frame.startsWith("graft.streaming.") || frame.startsWith("graft.ScheduledRunner")) "streaming"
    else if (frame.matches("graft\\.[A-Za-z]*Registry.*") || frame.startsWith("graft.SparkEntry")) "registry"
    else "engine"

  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
