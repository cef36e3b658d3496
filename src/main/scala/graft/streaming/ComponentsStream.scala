package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.Cluster

/** Incremental connected components over an unbounded EDGE stream — the
  * graph member of the batch/stream twin program (the tenth twin, and the
  * first whose state is a whole graph summary rather than per-key
  * scalars): near-dup pair miners (x06/x07/x11) run continuously at
  * ingest, and the component labels that drive dedup keep/drop decisions
  * (x14/x71/x81) must stay current without re-clustering the full
  * history.
  *
  * Per-key `flatMapGroupsWithState` cannot express this — connectivity is
  * GLOBAL (one new edge can merge components whose members share no key)
  * — so the twin is a checkpointed `foreachBatch` maintainer, the
  * [[PipelineStream]] shape: each micro-batch folds its new edges into a
  * maintained (id, comp) labels table.
  *
  * THE STAR INVARIANT (why incremental ≡ batch, exactly): a maintained
  * labels table is re-entered as its STAR GRAPH — one edge (id → comp)
  * per non-root member. Star edges preserve the connectivity partition of
  * everything folded so far, and the node set of the star graph is the
  * node set of the history (every root appears as some member's comp, or
  * is carried explicitly if its component is a singleton), so
  *
  *   CC(star(labels_{i−1}) ∪ edges_i) = CC(edges_1 ∪ … ∪ edges_i)
  *
  * as a partition — and since component labels are MINIMUM NODE IDS and
  * star edges introduce no new nodes, the labels agree too. That identity
  * IS the prefix-equality contract the other nine twins carry, and
  * ComponentsStreamSpec pins it after every micro-batch.
  *
  * RESTART SAFETY (why checkpoint + stateDir survive a crash together):
  * Spark commits a micro-batch's offsets only AFTER `foreachBatch`
  * returns, and the maintainer persists the folded labels INSIDE
  * `foreachBatch` (epoch-versioned parquet + an append-only commit
  * marker, never an in-place overwrite of live state). So on restart:
  *   - label write landed, offset commit didn't → Spark replays the
  *     batch; folding the SAME edge set into labels that already include
  *     it is IDEMPOTENT (the star invariant again: re-adding present
  *     edges cannot change the connectivity partition), so the replay is
  *     harmless;
  *   - crash mid-label-write → the commit marker was never created, the
  *     loader falls back to the previous epoch, and Spark replays the
  *     uncommitted batch on top of it — exactly the fold that was lost.
  * A Maintainer constructed WITHOUT a stateDir against an existing
  * checkpoint would silently lose all previously-folded components
  * (committed batches are never replayed while labels restart empty) —
  * so `start` refuses that combination unless the caller passes
  * `allowVolatileState = true` (right only for tests and for checkpoints
  * known to be fresh).
  *
  * State size: |nodes| rows — the same frame batch CC materializes, never
  * the edge history. Per batch the work is one batch-CC run over
  * (star edges + the DELTA's edges): O(current nodes + new edges) per
  * round, with round count bounded by the MERGED graph's diameter — which
  * collapses toward 2 as the maintained side is always star-shaped (the
  * re-cluster-from-scratch alternative pays the full history's edge count
  * every batch AND its original diameter). Labels are localCheckpoint'd
  * (truncated lineage, the §8.9 rule) so batch i's plan does not re-plan
  * batches 1..i−1, and carry no size estimate from earlier batches.
  */
object ComponentsStream {

  final case class Edge(a_id: Long, b_id: Long)

  private val labelSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("comp", LongType, nullable = false)))

  /** The maintained labels table + the fold. Thread-safe for the one
    * writer (the streaming engine's foreachBatch) + many readers.
    *
    * `stateDir`: when set, every fold is persisted as an [[EpochStore]]
    * epoch (data first, append-only commit marker second), and a fresh
    * Maintainer reloads the highest committed epoch — making a restart
    * against an existing streaming checkpoint lossless (see the object
    * scaladoc's crash matrix). Only the latest two epochs are retained
    * (the previous one backs the mid-write crash case). When None,
    * labels live only in driver memory and do NOT survive a restart.
    */
  final class Maintainer(spark: SparkSession, val stateDir: Option[String] = None) {

    private val store: Option[EpochStore] =
      stateDir.map(new EpochStore(spark, _, Seq("labels" -> labelSchema)))

    @volatile private var labels: DataFrame = store
      .flatMap(_.load())
      .getOrElse(EpochStore.emptyFrames(spark, Seq("labels" -> labelSchema)))
      .apply("labels")

    /** True iff construction reloaded a persisted epoch (restart path). */
    def resumed: Boolean = store.exists(_.latestCommitted >= 0)

    /** Current (id, comp) snapshot — after batch i, ≡ batch CC over every
      * edge of batches 1..i (plus self-loop singletons).
      */
    def current: DataFrame = labels

    /** Fold one micro-batch of edges into the labels, then (if stateDir is
      * set) persist epoch `epochId`: data dir first, commit marker second,
      * GC of epochs < previous-committed last — the write order the crash
      * matrix in the object scaladoc relies on.
      */
    private[streaming] def update(newEdges: DataFrame, epochId: Long): Unit = {
      val star = labels
        .where(col("id") =!= col("comp"))
        .select(col("id").as("a_id"), col("comp").as("b_id"))
      val all = star.unionByName(
        newEdges.select(col("a_id").cast(LongType), col("b_id").cast(LongType)))
      val comps = Cluster.connectedComponents(all)
      // a SINGLETON component (a self-loop-only node) has no star edge —
      // carry its root row forward explicitly unless the new edges
      // re-touched it
      val carried = labels
        .where(col("id") === col("comp"))
        .join(comps.select(col("id")), Seq("id"), "left_anti")
        .select(col("id"), col("id").as("comp"))
      // a checkpoint keeps its source plan's size estimate, and Catalyst
      // multiplies estimates through joins: carried from epoch to epoch the
      // estimate compounds until planning stalls in BigInt products.
      // Re-wrapping the checkpointed rows starts each epoch from a flat one.
      val folded = comps.unionByName(carried).localCheckpoint(true)
      labels = spark.createDataFrame(folded.rdd, labelSchema)
      store.foreach(_.save(epochId, Map("labels" -> labels)))
    }
  }

  /** Start the maintainer over a streaming Dataset[Edge]. The returned
    * query drives `maintainer.update` once per micro-batch; read
    * `maintainer.current` between batches for the live labels.
    *
    * Reusing a checkpoint with a memory-only Maintainer silently loses
    * every previously-folded component (Spark skips committed batches;
    * the labels restart empty) — so that combination throws unless
    * `allowVolatileState = true`.
    */
  def start(
      edges: Dataset[Edge],
      maintainer: Maintainer,
      checkpoint: Option[String] = None,
      // a LONG-RUNNING maintainer by default (AvailableNow would fold
      // what exists at start and terminate — right for backfill, wrong
      // for the live-labels contract)
      trigger: Trigger = Trigger.ProcessingTime(0L),
      allowVolatileState: Boolean = false
  ): StreamingQuery = {
    require(
      checkpoint.isEmpty || maintainer.stateDir.nonEmpty || allowVolatileState,
      "checkpointLocation set but the Maintainer has no stateDir: a restart " +
        "would skip committed batches against empty labels and silently lose " +
        "components. Pass a stateDir (persisted labels) or " +
        "allowVolatileState = true if the checkpoint is known fresh.")
    val writer = edges.toDF.writeStream
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], epochId: Long) =>
        maintainer.update(batch.toDF(), epochId)
      }
    checkpoint.fold(writer)(c => writer.option("checkpointLocation", c)).start()
  }
}
