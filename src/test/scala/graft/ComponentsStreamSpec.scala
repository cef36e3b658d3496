package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.Cluster
import graft.streaming.ComponentsStream
import graft.streaming.ComponentsStream.Edge

/** The incremental maintainer must reproduce batch connected components
  * over every edge PREFIX — the twin program's prefix-equality contract
  * on its first graph member. The star invariant under test:
  * CC(star(labels) ∪ delta) ≡ CC(full history), labels included (min-id
  * roots), across merges that span micro-batches.
  */
class ComponentsStreamSpec extends SparkSpec {
  import spark.implicits._

  private def batchLabels(edges: Seq[Edge]): Set[(Long, Long)] =
    Cluster
      .connectedComponents(edges.toDF("a_id", "b_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet

  private def currentLabels(m: ComponentsStream.Maintainer): Set[(Long, Long)] =
    m.current.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("labels ≡ batch CC after every micro-batch, incl. a cross-batch component merge") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Edge]
    val m = new ComponentsStream.Maintainer(spark)
    val query = ComponentsStream.start(input.toDS(), m)
    try {
      // batch 1: two separate chains {1,2,3} and {10,11}
      val b1 = Seq(Edge(1, 2), Edge(2, 3), Edge(10, 11))
      input.addData(b1: _*)
      query.processAllAvailable()
      assert(currentLabels(m) === batchLabels(b1))

      // batch 2: the bridge 3-10 merges the two components; 20-21 is new
      val b2 = Seq(Edge(3, 10), Edge(20, 21))
      input.addData(b2: _*)
      query.processAllAvailable()
      assert(currentLabels(m) === batchLabels(b1 ++ b2))
      // the merged component took the GLOBAL min (1), not a per-batch min
      assert(currentLabels(m).contains((11L, 1L)))

      // batch 3: an edge between two already-merged members is a no-op;
      // a lower-id node (0) re-roots its component
      val b3 = Seq(Edge(2, 11), Edge(0, 21))
      input.addData(b3: _*)
      query.processAllAvailable()
      assert(currentLabels(m) === batchLabels(b1 ++ b2 ++ b3))
      assert(currentLabels(m).contains((20L, 0L)))
    } finally query.stop()
  }

  test("singleton components (self-loop nodes) survive idle batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Edge]
    val m = new ComponentsStream.Maintainer(spark)
    val query = ComponentsStream.start(input.toDS(), m)
    try {
      val b1 = Seq(Edge(5, 5), Edge(1, 2))
      input.addData(b1: _*)
      query.processAllAvailable()
      assert(currentLabels(m) === batchLabels(b1))
      assert(currentLabels(m).contains((5L, 5L)))

      // a batch that never touches 5: the carried singleton must persist
      val b2 = Seq(Edge(3, 1))
      input.addData(b2: _*)
      query.processAllAvailable()
      assert(currentLabels(m) === batchLabels(b1 ++ b2))
      assert(currentLabels(m).contains((5L, 5L)))

      // and a later edge can still merge the former singleton
      val b3 = Seq(Edge(5, 1))
      input.addData(b3: _*)
      query.processAllAvailable()
      assert(currentLabels(m) === batchLabels(b1 ++ b2 ++ b3))
      assert(currentLabels(m).contains((5L, 1L)))
    } finally query.stop()
  }

  test("restart: a fresh Maintainer with the same stateDir resumes losslessly") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("ccstream").toString
    val ckpt = s"$tmp/ckpt"
    val state = s"$tmp/state"
    val input = MemoryStream[Edge]
    val m1 = new ComponentsStream.Maintainer(spark, Some(state))
    val q1 = ComponentsStream.start(input.toDS(), m1, Some(ckpt))
    val b1 = Seq(Edge(1, 2), Edge(2, 3), Edge(10, 11))
    val b2 = Seq(Edge(20, 21))
    try {
      input.addData(b1: _*); q1.processAllAvailable()
      input.addData(b2: _*); q1.processAllAvailable()
      assert(currentLabels(m1) === batchLabels(b1 ++ b2))
    } finally q1.stop()

    // restart: a FRESH maintainer (driver memory gone) + the same
    // stateDir reloads the persisted labels — the committed batches are
    // NOT replayed by Spark, so these labels are the only copy
    val m2 = new ComponentsStream.Maintainer(spark, Some(state))
    assert(m2.resumed)
    assert(currentLabels(m2) === batchLabels(b1 ++ b2))
    val q2 = ComponentsStream.start(input.toDS(), m2, Some(ckpt))
    try {
      // the bridge merges components folded BEFORE the restart
      val b3 = Seq(Edge(3, 10), Edge(0, 20))
      input.addData(b3: _*); q2.processAllAvailable()
      assert(currentLabels(m2) === batchLabels(b1 ++ b2 ++ b3))
      assert(currentLabels(m2).contains((11L, 1L)))
      assert(currentLabels(m2).contains((21L, 0L)))
      // epoch GC bounds the state dir: at most the latest two epochs
      // (EpochStore layout: <stateDir>/labels/epoch=<id>; listFiles is
      // null when the dir is missing, so guard before the diagnostic)
      val epochs = Option(new java.io.File(state, "labels").listFiles())
        .getOrElse(Array.empty[java.io.File])
        .toSeq.map(_.getName).filter(_.startsWith("epoch="))
      assert(epochs.nonEmpty, "no persisted epochs found — wrong layout?")
      assert(epochs.size <= 2, s"stale epochs not GC'd: $epochs")
    } finally q2.stop()
  }

  test("checkpoint without a stateDir is refused unless explicitly allowed") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("ccstream-vol").toString
    val input = MemoryStream[Edge]
    val m = new ComponentsStream.Maintainer(spark)
    assertThrows[IllegalArgumentException] {
      ComponentsStream.start(input.toDS(), m, Some(s"$tmp/ckpt"))
    }
    val q = ComponentsStream.start(
      input.toDS(), m, Some(s"$tmp/ckpt"), allowVolatileState = true)
    try {
      input.addData(Edge(1, 2)); q.processAllAvailable()
      assert(currentLabels(m) === batchLabels(Seq(Edge(1, 2))))
    } finally q.stop()
  }

  test("random graph, random batch cuts: prefix equality at every cut") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(60)(Edge(rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
    val cuts = Seq(13, 29, 44, 60)
    val input = MemoryStream[Edge]
    val m = new ComponentsStream.Maintainer(spark)
    val query = ComponentsStream.start(input.toDS(), m)
    try {
      var prev = 0
      cuts.foreach { c =>
        input.addData(edges.slice(prev, c): _*)
        query.processAllAvailable()
        assert(currentLabels(m) === batchLabels(edges.take(c)), s"prefix $c diverged")
        prev = c
      }
    } finally query.stop()
  }

  test("carried labels keep a flat size estimate: ten persisted epochs fold without a planning stall") {
    implicit val sqlCtx = spark.sqlContext
    val state = java.nio.file.Files.createTempDirectory("ccstream-stats").toString
    val input = MemoryStream[Edge]
    val m = new ComponentsStream.Maintainer(spark, Some(state))
    val query = ComponentsStream.start(input.toDS(), m)
    val all = scala.collection.mutable.ArrayBuffer.empty[Edge]
    try {
      var prevSize = Option.empty[BigInt]
      (1 to 10).foreach { e =>
        // a growing chain plus one fresh pair per epoch
        val b = Seq(Edge(e.toLong, e + 1L), Edge(100L + 2 * e, 101L + 2 * e))
        all ++= b
        input.addData(b: _*)
        query.processAllAvailable()
        // checked every epoch, so a compounding estimate fails here instead
        // of stalling the later epochs' planning
        val size = m.current.queryExecution.optimizedPlan.stats.sizeInBytes
        prevSize.foreach(p => assert(size <= p, s"labels' size estimate grew at epoch $e: $p -> $size"))
        prevSize = Some(size)
      }
      assert(currentLabels(m) === batchLabels(all.toSeq))
    } finally query.stop()
  }
}
